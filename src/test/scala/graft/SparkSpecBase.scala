package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"

  /** True when the physical plan of `df` contains no shuffle exchange. */
  def shuffleFree(df: org.apache.spark.sql.DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    // Per-run warehouse: a managed table never lands in the working
    // directory or trips over locations a previous JVM's run left on disk.
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toUri.toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
