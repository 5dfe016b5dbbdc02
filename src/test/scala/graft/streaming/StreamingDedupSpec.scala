package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Ingest-time near-dup detection across micro-batches: in-batch pairs,
  * cross-batch pairs against accepted state, survivor-only state growth,
  * agreement with the batch MinHash operator's verdicts, and transactional
  * replay — a crash anywhere between the per-batch state writes and the
  * commit must not duplicate decisions or corrupt the index.
  */
class StreamingDedupSpec extends SparkSpecBase {

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "patient cat watches from the tall garden fence near the old stone wall " +
    "as evening settles quietly over the sleepy little village"

  private def doc(id: Long, text: String) = (id, text)

  private def writeBatch(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
  }

  private def decisionPairs(state: String): Set[(Long, Long)] =
    StreamingDedup.decisions(spark, state)
      .select("doc_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def acceptedIds(state: String): Set[Long] =
    StreamingDedup.acceptedShingles(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("near-dups are flagged in-batch, cross-batch, and not for uniques") {
    val root = Files.createTempDirectory("stream-dedup").toString
    val (in, state, ckpt) = (s"$root/in", s"$root/state", s"$root/ckpt")

    // batch 1: 10 is unique, 11 ~ 10 (one word changed), 12 unrelated
    writeBatch(in, Seq(
      doc(10, base),
      doc(11, base.replace("sleepy", "noisy")),
      doc(12, "completely different text about spark catalyst optimizer " +
        "rules and whole stage code generation for columnar execution " +
        "plans that pipeline operators into single compiled functions")))
    StreamingDedup.run(spark, in, state, ckpt)

    assert(decisionPairs(state) == Set((11L, 10L)))
    // survivors only: the accepted index holds 10 and 12, not 11
    assert(acceptedIds(state) == Set(10L, 12L))

    // batch 2: 20 ~ 10 from batch 1 (cross-batch), 21 unique
    writeBatch(in, Seq(
      doc(20, base.replace("quietly", "gently")),
      doc(21, "yet another unrelated document describing minutely osm " +
        "replication diffs applied transactionally with expire tile " +
        "outputs and generalized table refreshes after each change file")))
    StreamingDedup.run(spark, in, state, ckpt)

    assert(decisionPairs(state) == Set((11L, 10L), (20L, 10L)))
    assert(acceptedIds(state) == Set(10L, 12L, 21L))

    // checkpointed: a third run with no new files must not re-emit
    StreamingDedup.run(spark, in, state, ckpt)
    assert(StreamingDedup.decisions(spark, state).count() == 2)
  }

  test("candidate generation never shuffles the committed band state") {
    import spark.implicits._
    // state: bucketed-by-doc_id layout, joined on (band_idx, band_hash) —
    // must plan as a broadcast hash join of the batch's bands with the
    // state side scanned in place (no Exchange hashpartitioning anywhere:
    // a per-batch reshuffle of the full accepted-corpus index is the term
    // that grows without bound on a long stream)
    val st = Seq((1L, 0, "h1"), (2L, 1, "h2"), (3L, 2, "h3"))
      .toDF("doc_id", "band_idx", "band_hash")
    val nb = Seq((0, "h1", 10L), (3, "h9", 11L))
      .toDF("band_idx", "band_hash", "new_id")
    val cand = StreamingDedup.stateCandidates(st, nb)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"not a broadcast join:\n$plan")
    assert(shuffleFree(cand),
      s"state side shuffles:\n$plan")
    assert(cand.select("old_id", "new_id").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
  }

  test("batch band hashes prune the state scan at the parquet level") {
    val root = Files.createTempDirectory("stream-dedup-prune").toString
    val state = s"$root/state"
    import spark.implicits._
    // seed committed state with two accepted docs
    StreamingDedup.applyBatch(
      Seq(doc(1, base),
        doc(2, "some thoroughly unrelated second document about parquet " +
          "row group statistics pruning selective scans at corpus scale " +
          "with sorted band hashes inside each bucket file")).toDF("doc_id", "text"),
      state, batchId = 0)
    val store = new StateStore(spark, state)
    val stBands = store.read("bands", store.currentSeq)
    assert(stBands.count() > 0)
    val nb = Seq((0, "nosuchhash", 99L)).toDF("band_idx", "band_hash", "new_id")
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "8192")
    try {
      val cand = StreamingDedup.stateCandidates(stBands, nb,
        batchHashes = Array("nosuchhash", "alsonothere", "northis"))
      val scan = cand.queryExecution.executedPlan.toString
      // the IN predicate must reach the parquet scan's pushed filters —
      // with band_hash-sorted files that is what turns O(|state|) reads
      // into O(matching row groups)
      assert(scan.contains("PushedFilters") &&
        scan.contains("In(band_hash"), s"filter not pushed:\n$scan")
      assert(cand.count() == 0)
    } finally spark.conf.unset("spark.sql.parquet.pushdown.inFilterThreshold")
  }

  test("a crash between state writes and the commit replays cleanly") {
    import spark.implicits._
    val root = Files.createTempDirectory("stream-dedup-crash").toString
    val state = s"$root/state"

    // batch 0 commits normally: 1 accepted, 2 is its dup
    StreamingDedup.applyBatch(
      Seq(doc(1, base), doc(2, base.replace("village", "hamlet")))
        .toDF("doc_id", "text"),
      state, batchId = 0)
    assert(decisionPairs(state) == Set((2L, 1L)))

    // crash simulation for batch 1: the decisions version dir was written
    // but bands/shingles/commit never happened — the store pointer still
    // says 0, so the torn v1 must be invisible to readers
    val store = new StateStore(spark, state)
    store.write("decisions", 1,
      Seq((99L, 98L, 0.9, 1L)).toDF("doc_id", "dup_of", "jaccard", "batch_id"))
    assert(store.currentSeq == 0)
    assert(decisionPairs(state) == Set((2L, 1L)), "torn write must be invisible")

    // foreachBatch re-delivers the SAME batch under the SAME batchId; the
    // replay overwrites the torn dirs and commits — no ghost rows, no dupes
    val batch1 = Seq(
      doc(30, base.replace("evening", "morning")), // dup of accepted 1
      doc(31, "fresh unrelated content about bucketed parquet state with " +
        "versioned manifests and atomic pointer commits for replay safety"))
      .toDF("doc_id", "text")
    StreamingDedup.applyBatch(batch1, state, batchId = 1)
    assert(decisionPairs(state) == Set((2L, 1L), (30L, 1L)),
      "replay must replace the torn version, not merge with it")
    assert(acceptedIds(state) == Set(1L, 31L))

    // crash-after-commit: re-delivery of a committed batch is a no-op,
    // even with different content
    StreamingDedup.applyBatch(
      Seq(doc(40, base)).toDF("doc_id", "text"), state, batchId = 1)
    assert(decisionPairs(state) == Set((2L, 1L), (30L, 1L)))
    assert(acceptedIds(state) == Set(1L, 31L))
  }

  test("wide-multiplier minhash family catches the correlated-minima case") {
    import spark.implicits._
    // regression: with the old a_i = 2i+3 multipliers, "harbor"'s trigram
    // hashed low enough to own the minimum of ALL 12 functions, so this
    // one-word edit flipped every band and the pair was silently missed
    val root = Files.createTempDirectory("stream-dedup-family").toString
    val state = s"$root/state"
    StreamingDedup.applyBatch(Seq(doc(1, base)).toDF("doc_id", "text"), state, 0)
    StreamingDedup.applyBatch(
      Seq(doc(2, base.replace("village", "harbor"))).toDF("doc_id", "text"),
      state, 1)
    assert(decisionPairs(state) == Set((2L, 1L)))
  }

  test("state stays bounded: manifest reads, bucket carry-forward, vacuum") {
    import spark.implicits._
    val root = Files.createTempDirectory("stream-dedup-bounded").toString
    val state = s"$root/state"
    // batch 0 lands in id-bucket 0; batch 1 in bucket 1 (id >> 22); batch 2
    // back in bucket 0 — so v2's manifest must reference v1's untouched
    // bucket-1 dir while rewriting bucket 0
    StreamingDedup.applyBatch(Seq(doc(1, base)).toDF("doc_id", "text"), state, 0)
    StreamingDedup.applyBatch(
      Seq(doc(5000000L, base.replace("village", "hamlet"))).toDF("doc_id", "text"),
      state, 1)
    StreamingDedup.applyBatch(
      Seq(doc(2, base.replace("evening", "morning"))).toDF("doc_id", "text"),
      state, 2)

    val store = new StateStore(spark, state)
    assert(store.currentSeq == 2)
    val expectDecisions = Set((5000000L, 1L), (2L, 1L))
    assert(decisionPairs(state) == expectDecisions)
    assert(acceptedIds(state) == Set(1L))

    // vacuum must keep version dirs the committed manifest still points at
    // (v1's bucket-1 decisions) and reclaim the rest; reads stay intact
    store.vacuum(Seq("decisions", "shingles", "bands", "batchmark"), keep = 0)
    assert(decisionPairs(state) == expectDecisions)
    assert(acceptedIds(state) == Set(1L))
  }

  test("compact folds scattered per-batch dirs into one version; stream continues") {
    import spark.implicits._
    val root = Files.createTempDirectory("stream-dedup-compact").toString
    val state = s"$root/state"
    // three batches across two id buckets → the committed manifests point
    // into several version dirs that plain vacuum must keep
    StreamingDedup.applyBatch(Seq(doc(1, base)).toDF("doc_id", "text"), state, 0)
    StreamingDedup.applyBatch(
      Seq(doc(5000000L, base.replace("village", "hamlet"))).toDF("doc_id", "text"),
      state, 1)
    StreamingDedup.applyBatch(
      Seq(doc(2, base.replace("evening", "morning"))).toDF("doc_id", "text"),
      state, 2)
    val store = new StateStore(spark, state)
    store.vacuum(Seq("decisions", "shingles", "bands", "batchmark"), keep = 0)
    def versionDirs(name: String): Set[String] = {
      val d = new java.io.File(s"$state/$name")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("v")).toSet
    }
    // the referenced-by-manifest dirs survive plain vacuum
    assert(versionDirs("decisions").size > 1, versionDirs("decisions"))

    val before = decisionPairs(state)
    StreamingDedup.compact(spark, state)
    // one version dir per table now; content identical
    Seq("decisions", "shingles", "bands", "batchmark").foreach { n =>
      assert(versionDirs(n) == Set("v3"), s"$n: ${versionDirs(n)}")
    }
    assert(decisionPairs(state) == before)
    assert(acceptedIds(state) == Set(1L))

    // the stream continues on top of the compacted state: the watermark
    // survived, so batch 2 replays as a no-op and batch 3 applies
    StreamingDedup.applyBatch(
      Seq(doc(2, base.replace("evening", "morning"))).toDF("doc_id", "text"),
      state, 2)
    assert(decisionPairs(state) == before)
    StreamingDedup.applyBatch(
      Seq(doc(9, base.replace("fence", "hedge"))).toDF("doc_id", "text"),
      state, 3)
    assert(decisionPairs(state) == before + ((9L, 1L)))
  }

  test("stream verdicts agree with the batch minhash operator") {
    import spark.implicits._
    val root = Files.createTempDirectory("stream-dedup-agree").toString
    val docs = Seq(
      doc(1, base), doc(2, base.replace("evening", "morning")),
      doc(3, "short unrelated text with just enough words to form a few " +
        "proper trigram shingles for the hashing stage"))
    writeBatch(s"$root/in", docs)
    StreamingDedup.run(spark, s"$root/in", s"$root/state", s"$root/ckpt")
    val streamPairs = StreamingDedup.decisions(spark, s"$root/state")
      .select(col("dup_of"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch operator on the same corpus (persisted docs table not needed:
    // reuse the internals the stream shares)
    val prep = graft.queries.TextOps.minhashPrep(docs.toDF("doc_id", "text"))
    val bands = graft.queries.TextOps.minhashBandsOf(prep)
    val cand = bands.as("a").join(bands.as("b"),
        Seq("band_idx", "band_hash"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id")).distinct()
    val sets = prep.select(col("doc_id"), col("ss"))
    val batchPairs = cand
      .join(sets.select(col("doc_id").as("a_id"), col("ss").as("a_ss")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("ss").as("b_ss")), Seq("b_id"))
      .withColumn("j",
        size(array_intersect(col("a_ss"), col("b_ss"))).cast("double") /
          (size(col("a_ss")) + size(col("b_ss")) -
            size(array_intersect(col("a_ss"), col("b_ss")))).cast("double"))
      .filter(col("j") >= 0.7)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    prep.unpersist()
    assert(streamPairs == batchPairs,
      s"stream=$streamPairs batch=$batchPairs")
  }
}
