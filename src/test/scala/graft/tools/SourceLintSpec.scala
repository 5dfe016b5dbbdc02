package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Source lints for bug patterns that review keeps finding — encoded as a
  * test so a regression fails the suite instead of waiting for the next
  * review pass. Each rule had a real instance: locale-dependent number
  * formatting flipped the bench JSON's decimal separator risk
  * (Bench Locale.ROOT fix), and per-invocation temp directories leaked a
  * build per gate/probe run until FixtureArtifacts centralized them.
  */
class SourceLintSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File(root))
  }

  private def linesOf(f: java.io.File): Seq[(Int, String)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList.zipWithIndex.map { case (l, i) => (i + 1, l) }
    finally src.close()
  }

  test("String.format in src/main always pins Locale.ROOT") {
    // the default-locale overloads format floats with a comma decimal
    // separator under e.g. tr_TR/de_DE — in a machine-parsed JSON line
    // that is silent corruption
    val offenders = for {
      f <- scalaFiles("src/main/scala")
      (n, l) <- linesOf(f)
      if l.contains("String.format(") && !l.contains("Locale.ROOT")
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("gate queries build fixture artifacts through FixtureArtifacts") {
    // a bare createTempDirectory in a registered query leaks one build per
    // invocation (the gate runs some queries twice; probes multiply it)
    val offenders = for {
      f <- scalaFiles("src/main/scala/graft/queries")
      if f.getName != "FixtureArtifacts.scala"
      (n, l) <- linesOf(f)
      if l.contains("createTempDirectory")
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SQL DROP statements never backtick-quote a whole interpolated name") {
    // `\"DROP TABLE IF EXISTS `$tbl`\"` treats db.tbl as ONE identifier and
    // silently misses the real table — quote the parsed PARTS instead:
    //   val ident = spark.sessionState.sqlParser.parseTableIdentifier(tbl)
    //   val quoted = ident.database.map(d => s"`$d`.").getOrElse("") +
    //     s"`${ident.table}`"
    //   spark.sql(s"DROP TABLE IF EXISTS $quoted")
    val offenders = for {
      f <- scalaFiles("src/main/scala")
      (n, l) <- linesOf(f)
      if l.contains("DROP TABLE") && l.contains("`$")
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main reads only the pinned SPARK_GRAFT_* env knobs") {
    // a ratchet: a new knob fails here until this list is edited in the
    // same change, so every added env switch is a visible review decision
    val pinned = Set(
      "BENCH_DIFF", "BENCH_DIFF_XL", "BENCH_OSM", "BENCH_OSM_SCALE",
      "BENCH_OSM_XL", "BENCH_OSM_XXL", "BENCH_QUERIES", "BENCH_REPS",
      "BENCH_SOAK", "BENCH_WORKDIR", "BROADCAST", "CPUS", "DIFF_BUCKETS",
      "DIFF_BUCKETS_XL", "DIFF_COPIES", "DIFF_COPIES_XL",
      "DIFF_INIT_XL_REPS", "DIFF_PBF_DIR", "DIFF_TIMING", "DIFF_XL_REPS",
      "FOREIGN_CPU_MAX", "GEN_STORAGE", "INITIAL_PARTITIONS", "IO_CODEC",
      "LOAD_GATE_WAIT", "MASTER", "ONLY", "PBF_COPIES", "PBF_COPIES_XL",
      "PBF_COPIES_XXL", "PBF_DIR", "PBF_DIR_XL", "QUERY_REPS",
      "RDD_COMPRESS", "SF_DIR", "SHUFFLE", "SINK_PAR", "SOAK_BATCHES",
      "SOAK_COPIES", "STAGE_STORAGE", "XL_REPS", "XXL_MIN_FREE_GB",
    ).map("SPARK_GRAFT_" + _)
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val unpinned = (for {
      f <- scalaFiles("src/main/scala")
      (n, l) <- linesOf(f)
      k <- knob.findAllIn(l)
      if !pinned(k)
    } yield s"${f.getPath}:$n: $k").distinct
    assert(unpinned.isEmpty,
      "env knobs missing from the pinned list:\n" + unpinned.mkString("\n"))
  }
}
