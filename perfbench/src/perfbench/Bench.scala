package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.mapping.{CompiledMapping, MappingConf}
import graft.streaming.DiffPipeline

/** Benchmark entry point. One JVM runs one workload:
  *
  * {{{
  * perfbench.Bench --workload import|minutely --seed N --seconds S
  *                 --trace 0|1 --work DIR --mapping FILE
  * perfbench.Bench --selftest
  * }}}
  *
  * The last line on stdout is the result object. Everything else goes to
  * stderr.
  */
object Bench {

  /** End-to-end metrics (untraced runs), reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "elems_per_s" -> "1/s", "seq_p50_s" -> "s",
    "read_p50_s" -> "s", "store_bytes" -> "bytes", "store_files" -> "count",
    "peak_rss_gb" -> "GB")

  /** Per-layer metrics (traced runs). Both workloads run every layer;
    * README.md maps each metric to the end-to-end metric it moves. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.pbf_parse_s" -> "s", "sources.pbf_blobs" -> "count",
    "sources.elems" -> "count", "sources.osc_parse_s" -> "s",
    "mapping.match_s" -> "s", "mapping.matched_frac" -> "ratio",
    "assembly.j1_s" -> "s", "assembly.j1_shuffle_write_bytes" -> "bytes",
    "assembly.refs_resolved_frac" -> "ratio", "assembly.multipolygon_s" -> "s",
    "assembly.multipolygon_built_frac" -> "ratio",
    "geometry.build_s" -> "s", "geometry.valid_frac" -> "ratio",
    "pipeline.stages_s" -> "s", "pipeline.cached_bytes" -> "bytes",
    "generalize.s" -> "s", "generalize.rows" -> "count",
    "store.element_write_s" -> "s", "store.table_write_s" -> "s",
    "store.read_s" -> "s", "store.segments_max" -> "count", "store.versions" -> "count",
    "store.vacuum_s" -> "s",
    "diff.apply_s" -> "s", "diff.jobs_per_seq" -> "count", "diff.tasks_per_seq" -> "count",
    "replication.fetch_s" -> "s", "expire.tiles_per_seq" -> "count",
    "sinks.export_s" -> "s", "sinks.export_bytes" -> "bytes",
    "cli.traced_s" -> "s", "cli.residual_s" -> "s", "trace.overhead_s" -> "s",
    "trace.spans" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s", "host.io_wait_s" -> "s", "host.foreign_cpu_s" -> "s",
    "host.contended" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, mapping: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, need("mapping"))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    // the same settings graft.Main's session builder applies, so the CLI
    // calls below reuse this session unchanged
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) {
      SelfTest.run(); return
    }
    val a = parse(argv)
    Files.createDirectories(a.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, a.work)
    val ctx = new Ctx(spark, a, cpus)
    try {
      a.workload match {
        case "import" => ImportWorkload.run(ctx)
        case "minutely" => MinutelyWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finish()
      println(ctx.resultJson)
    } finally spark.stop()
  }
}

/** Shared state of one run: the session, the mapping, the trace and the
  * meters, and the metrics and check counts the workload records. */
final class Ctx(val spark: SparkSession, val args: Bench.Args, val cpus: Int) {
  val trace = new Trace(args.trace, s"${args.workload}-${args.seed}")
  val mapping = new CompiledMapping(MappingConf.fromFile(args.mapping))
  val work: Path = args.work
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  private val started = System.nanoTime()
  private val host0 = HostMeter.read()
  val engine: Option[EngineMeter] =
    if (args.trace) Some(new EngineMeter(spark.sparkContext)) else None
  private val engine0 = engine.map(_.snapshot())

  def deadlineReached(since: Long): Boolean =
    (System.nanoTime() - since) / 1e9 >= args.seconds

  /** Run `body` as one attempted operation; an exception counts it failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Record one correctness check. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  /** One `graft.Main` command, in this JVM and session. */
  def cli(args: String*): Unit = {
    val t = System.nanoTime()
    graft.Main.run(args.toArray)
    log(f"${args.head} took ${(System.nanoTime() - t) / 1e9}%.1f s")
  }

  def finish(): Unit = {
    metrics("peak_rss_gb") = HostMeter.peakRssGb()
    val (io, foreign, contended) = HostMeter.between(host0, HostMeter.read(), cpus)
    // untraced runs flag a noisy host on stderr; traced runs also report it
    log(f"host io_wait ${io}%.1f s, foreign cpu ${foreign}%.1f s" +
      (if (contended) ", contended" else ""))
    if (args.trace) {
      metrics("host.io_wait_s") = io
      metrics("host.foreign_cpu_s") = foreign
      metrics("host.contended") = if (contended) 1 else 0
      for (e <- engine; e0 <- engine0) {
        val d = e.snapshot() - e0
        metrics("spark.jobs") = d.jobs.toDouble
        metrics("spark.tasks") = d.tasks.toDouble
        metrics("spark.task_cpu_s") = d.cpuS
        metrics("spark.shuffle_write_bytes") = d.shuffleWrite.toDouble
        metrics("spark.spill_bytes") = d.spill.toDouble
        metrics("spark.gc_s") = d.gcS
        e.detach()
      }
      metrics("trace.spans") = trace.spans.size.toDouble
      // tracing cost on the main thread: span bookkeeping and
      // waits for the listener bus to drain before meter readings
      metrics("trace.overhead_s") = trace.bookkeepingS + engine.map(_.drainS).getOrElse(0.0)
      trace.write(work.resolve("trace.jsonl"))
      val self = trace.selfTimes
      System.err.println("[perfbench] span self times (s):")
      self.toSeq.sortBy(-_._2).foreach { case (n, s) =>
        System.err.println(f"[perfbench]   $n%-28s $s%9.3f")
      }
    }
    System.err.println(f"[perfbench] run took ${(System.nanoTime() - started) / 1e9}%.1f s")
  }

  def resultJson: String = {
    val names = if (args.trace) Bench.PerLayer else Bench.EndToEnd
    val body = names.map { case (n, unit) =>
      val v = metrics.getOrElse(n, 0.0)
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}"""
  }

  // ---- shared helpers --------------------------------------------------------

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def writeFile(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** (bytes, files) of every regular file under `dirs`. */
  def census(dirs: Path*): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    dirs.filter(Files.exists(_)).foreach { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        bytes += Files.size(f); files += 1
      } finally s.close()
    }
    (bytes, files)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** The committed rows of every output table in the store, keyed like
    * [[Truth.Rows]]; `keep` filters rows (e.g. by expired tile) first. */
  def readRows(store: String, keep: Option[DataFrame => DataFrame] = None): Truth.Rows =
    DiffPipeline.readTables(spark, mapping, store).map { case (name, df) =>
      name -> collectRows(keep.map(_(df)).getOrElse(df))
    }

  def collectRows(df: DataFrame): Map[Long, Vector[String]] = {
    val members = df.columns.contains("member")
    val cols = Seq("osm_id", "name", "type") ++
      (if (members) Seq("member", "role", "kind", "idx") else Nil)
    df.select(cols.map(col): _*).collect().toSeq.groupBy(_.getLong(0)).map {
      case (id, rows) => id -> rows.map { r =>
        val base = s"${Option(r.getString(1)).getOrElse("")}\t${r.getString(2)}"
        if (members) base + s"\t${r.getLong(3)}\t${r.getString(4)}\t${r.getByte(5)}\t${r.getInt(6)}"
        else base
      }.toVector.sorted
    }
  }

  /** Compare actual rows with expected ones, restricted to `ids` when given;
    * logs the first differences. */
  def sameRows(table: String, expected: Map[Long, Vector[String]],
      actual: Map[Long, Vector[String]], ids: Option[Set[Long]] = None): Boolean = {
    val keys = ids.getOrElse(expected.keySet ++ actual.keySet)
    val bad = keys.iterator.filter(k =>
      expected.getOrElse(k, Vector.empty).sorted != actual.getOrElse(k, Vector.empty).sorted)
      .take(3).toSeq
    bad.foreach(k => System.err.println(s"[perfbench] $table osm_id $k: expected " +
      s"${expected.getOrElse(k, Vector.empty)} got ${actual.getOrElse(k, Vector.empty)}"))
    bad.isEmpty
  }

  /** Check every table of `actual` against the full expected rows. */
  def checkAll(what: String, expected: Truth.Rows, actual: Truth.Rows): Unit =
    (expected.keySet ++ actual.keySet).toSeq.sorted.foreach { t =>
      check(s"$what $t", sameRows(t, expected.getOrElse(t, Map.empty),
        actual.getOrElse(t, Map.empty)))
    }
}
