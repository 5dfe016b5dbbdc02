package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Oracle-backed surface of the multimodal plumbing (operators/Multimodal).
  *
  * The stub decoder is pure byte arithmetic and the fabricated payloads are
  * ASCII, so DuckDB can mirror it with ascii()/substr() — giving the
  * mapPartitions path a full value-level correctness gate, not just a
  * rows-only check.
  */
object MediaOps {

  // r12 optimization: the gate corpus is one parquet row group = a 1-task
  // scan, and every media query below rides a CPU-heavy byte-grid
  // expression (ascii()/aggregate() kernels) directly on it — the whole
  // query serialized on one of 32 cores. Spread the slim raw rows first
  // (guide §2.5 input skew); the exchange moves <1 MB at gate scale.
  // recordAssembly keeps the bare scan: it is a slim projection join with
  // no per-row kernel, where the extra exchange buys nothing.
  private def mdocs(s: SparkSession, dir: String): DataFrame =
    graft.queries.t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)

  private def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, dir))
      .toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("channels"), col("n_frames"), col("n_bytes"), col("brightness"))
      .orderBy("doc_id")

  private def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.mediaFromDocuments(s, dir))
      .toDF()
      .orderBy("doc_id", "frame_idx")

  // STFT-shaped windowing over the "audio" payloads (doc_id % 3 = 1):
  // overlapping 256-byte windows at 128-byte hop, each with its content
  // hash and mean level — the frame/hop batch shape a real audio
  // featurizer consumes, minus the (stubbed) codec. Zero shuffles: one
  // posexplode per document, the window math rides the scan.
  private val AudioWin = 256
  private val AudioHop = 128

  private def audioWindows(s: SparkSession, dir: String): DataFrame =
    mdocs(s, dir)
      .filter(expr("doc_id % 3 = 1"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest((length(text) - $AudioWin) DIV $AudioHop, 0)), " +
          s"w -> substring(text, w * $AudioHop + 1, $AudioWin))"))
        .as(Seq("win_idx", "win")))
      .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
        length(col("win")).cast("long").as("n_bytes"),
        md5(col("win")).as("win_md5"),
        (expr("aggregate(sequence(1, length(win)), 0L, " +
          "(a, i) -> a + ascii(substring(win, i, 1)))").cast("double") /
          length(col("win")).cast("double")).as("mean_level"))
      .orderBy("doc_id", "win_idx")

  // Shot-boundary (scene-cut) detection over the "video" payloads
  // (doc_id % 3 = 2): the keyframe-extraction step a video training
  // pipeline runs before sampling frames. Frames are fixed 64-byte windows
  // (finer than Multimodal.FrameStride so short payloads still carry a
  // sequence); a frame is a cut when its mean level jumps ≥ ShotCut from
  // its predecessor (the classic intensity-delta detector, minus the
  // stubbed codec), and frame 0 always starts a shot. Per-doc LAG is a
  // high-cardinality partitioned window — scale-safe; the frame math
  // rides the scan.
  private val ShotFrame = 64
  private val ShotCut = 2.0

  /** Frames with mean level, inter-frame delta and the cut flag — shared
    * by shot-boundary detection and keyframe selection (one spelling, so
    * the two views of "shot" cannot drift).
    */
  private def shotFrames(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = mdocs(s, dir)
      .filter(expr("doc_id % 3 = 2"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, length(text) DIV $ShotFrame), " +
          s"f -> substring(text, f * $ShotFrame + 1, $ShotFrame))"))
        .as(Seq("frame_idx", "fr")))
      .filter(length(col("fr")) > 0)
      .withColumn("mean_level",
        expr("aggregate(sequence(1, length(fr)), 0L, " +
          "(a, i) -> a + ascii(substring(fr, i, 1)))").cast("double") /
          length(col("fr")).cast("double"))
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("delta", col("mean_level") - lag(col("mean_level"), 1).over(w))
      .withColumn("is_cut", col("delta").isNull || abs(col("delta")) >= ShotCut)
      .withColumn("frame_idx", col("frame_idx").cast("long"))
  }

  private def shotBoundaries(s: SparkSession, dir: String): DataFrame =
    shotFrames(s, dir)
      .select(col("doc_id"), col("frame_idx"),
        col("mean_level"), col("delta"), col("is_cut"))
      .orderBy("doc_id", "frame_idx")

  // Keyframe selection: the representative frame per shot (the thumbnail /
  // the frame a vision encoder embeds once per shot instead of per frame).
  // Shots come from the cut flags via a running count (gaps-and-islands);
  // the keyframe is the shot's brightest frame (max mean level, ties to
  // the earliest) picked by ONE max(struct) aggregate per shot — no
  // per-shot sort. Per-clip partitioned windows + one groupBy: scale-safe.
  private def videoKeyframes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shotFrames(s, dir)
      .withColumn("shot_id",
        sum(col("is_cut").cast("long")).over(w) - 1)
      .groupBy("doc_id", "shot_id")
      .agg(min(col("frame_idx")).as("start_idx"),
        max(col("frame_idx")).as("end_idx"),
        count(lit(1)).as("n_frames"),
        max(struct(col("mean_level"), (-col("frame_idx")).as("nfi"),
          col("fr"))).as("best"))
      .select(col("doc_id"), col("shot_id"), col("start_idx"),
        col("end_idx"), col("n_frames"),
        (-col("best.nfi")).as("key_idx"),
        round(col("best.mean_level"), 6).as("key_level_r"),
        md5(col("best.fr")).as("key_md5"))
      .orderBy("doc_id", "shot_id")
  }

  // Energy-based segmentation (VAD-shaped) over the "audio" payloads: the
  // speech/music-detection step that decides which clip regions are worth
  // transcribing. Windows reuse the STFT framing above; a window is
  // "active" when its energy (Σ byte², exact BIGINT) is strictly above the
  // clip mean — the comparison stays integer (energy · n_windows >
  // total_energy), no float threshold to disagree on — and consecutive
  // active windows merge into maximal segments via gaps-and-islands
  // (win_idx − row_number). All windows are per-clip: high-cardinality
  // partitioned windows + one groupBy, scale-safe.
  private def audioSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = mdocs(s, dir)
      .filter(expr("doc_id % 3 = 1"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest((length(text) - $AudioWin) DIV $AudioHop, 0)), " +
          s"w -> substring(text, w * $AudioHop + 1, $AudioWin))"))
        .as(Seq("win_idx", "win")))
      .withColumn("energy", expr(
        "aggregate(sequence(1, length(win)), 0L, (a, i) -> " +
          "a + cast(ascii(substring(win, i, 1)) * ascii(substring(win, i, 1)) as bigint))"))
      .drop("win")
    val clip = Window.partitionBy("doc_id")
    val active = wins
      .withColumn("tot_e", sum(col("energy")).over(clip))
      .withColumn("n_w", count(lit(1)).over(clip))
      .filter(col("energy") * col("n_w") > col("tot_e"))
      .withColumn("grp", col("win_idx") -
        row_number().over(Window.partitionBy("doc_id").orderBy("win_idx")))
    active.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("win_idx")).cast("long").as("start_win"),
        max(col("win_idx")).cast("long").as("end_win"),
        count(lit(1)).as("n_wins"), sum(col("energy")).as("energy"))
      .withColumn("seg_idx", row_number()
        .over(Window.partitionBy("doc_id").orderBy("start_win")).cast("long"))
      .select(col("doc_id"), col("seg_idx"), col("start_win"), col("end_win"),
        col("n_wins"), col("energy"))
      .orderBy("doc_id", "seg_idx")
  }

  // ViT-style patch extraction over the "image" payloads (doc_id % 3 = 0):
  // the byte stream is a row-major grid 64 bytes wide; each patch gathers
  // a 16×4 tile — four NON-contiguous row segments concatenated, which is
  // the actual data movement of image patching (a patch is never a
  // contiguous slice). Emits (row, col) grid coordinates + content hash +
  // mean level per patch; partial tiles at the bottom edge are dropped
  // (floor division), matching a stride-equals-size patcher.
  private val GridW = 64
  private val PatchW = 16
  private val PatchH = 4

  private def imagePatches(s: SparkSession, dir: String): DataFrame =
    mdocs(s, dir)
      .filter(expr("doc_id % 3 = 0"))
      .withColumn("pr", expr(s"length(text) DIV $GridW DIV $PatchH"))
      .filter(col("pr") > 0)
      .select(col("doc_id"), col("pr"),
        explode(expr(s"""transform(
          flatten(transform(sequence(0, cast(pr as int) - 1),
            r -> transform(sequence(0, ${GridW / PatchW - 1}), c -> struct(r, c)))),
          rc -> struct(rc.r AS r, rc.c AS c,
            concat_ws('', transform(sequence(0, ${PatchH - 1}),
              k -> substring(text, (rc.r * $PatchH + k) * $GridW + rc.c * $PatchW + 1, $PatchW))) AS patch))"""))
          .as("p"))
      .select(col("doc_id"), col("p.r").cast("long").as("patch_row"),
        col("p.c").cast("long").as("patch_col"),
        md5(col("p.patch")).as("patch_md5"),
        (expr("aggregate(sequence(1, length(p.patch)), 0L, " +
          "(a, i) -> a + ascii(substring(p.patch, i, 1)))").cast("double") /
          length(col("p.patch")).cast("double")).as("mean_level"))
      .orderBy("doc_id", "patch_row", "patch_col")

  // Cross-video frame-level exact dedup: the multimodal analog of exact
  // text dedup — hash every (full) 64-byte frame, shuffle on the content
  // hash, keep frames that appear in ≥ 2 DISTINCT videos. This is how a
  // video corpus finds shared intros/outros/stock footage before
  // training. One hash aggregation on a high-cardinality key: the same
  // plan shape as d_dedup_exact, payloads never leave the executors
  // (only 16-byte hashes shuffle at fleet scale).
  private def frameDedup(s: SparkSession, dir: String): DataFrame =
    mdocs(s, dir)
      .filter(expr("doc_id % 3 = 2"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, length(text) DIV $ShotFrame), " +
          s"f -> substring(text, f * $ShotFrame + 1, $ShotFrame))")).as("fr"))
      .filter(length(col("fr")) === ShotFrame)
      .select(md5(col("fr")).as("frame_md5"), col("doc_id"))
      .groupBy("frame_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("frame_md5")

  // 2× box-filter downsample of the "image" payloads — the resize step of
  // a vision preprocessing pipeline, on the same stubbed byte-grid as the
  // patcher: each output pixel is the integer mean of its 2×2 source
  // block ((a+b+c+d) DIV 4 — exact integer math, so the resized bytes and
  // their md5 are bit-identical cross-engine). Zero shuffles: the whole
  // kernel is one nested transform() riding the scan; at fleet scale this
  // is the shape of any per-record media transform — narrow, codegen'd,
  // no data movement until the (much smaller) output is written.
  private def resizeImages(s: SparkSession, dir: String): DataFrame = {
    val px = (dr: Int, dc: Int) =>
      s"ascii(substring(text, (rr * 2 + $dr) * $GridW + cc * 2 + ${dc + 1}, 1))"
    mdocs(s, dir)
      .filter(expr("doc_id % 3 = 0"))
      .withColumn("rows_in", expr(s"length(text) DIV $GridW"))
      .filter(col("rows_in") >= 2)
      .withColumn("out_h", expr("rows_in DIV 2").cast("long"))
      .withColumn("resized", expr(
        s"""concat_ws('', transform(sequence(0, cast(out_h as int) - 1),
           |  rr -> concat_ws('', transform(sequence(0, ${GridW / 2 - 1}),
           |    cc -> char((${px(0, 0)} + ${px(0, 1)} +
           |                ${px(1, 0)} + ${px(1, 1)}) DIV 4)))))""".stripMargin))
      .select(col("doc_id"), lit(GridW / 2).cast("long").as("out_w"),
        col("out_h"), md5(col("resized")).as("resized_md5"))
      .orderBy("doc_id")
  }

  // -- perceptual-hash (aHash) image near-dedup ---------------------------------
  // Frame-exact dedup (m_frame_dedup) misses re-encoded/brightness-shifted
  // copies; a perceptual average hash catches them: downsample the grid to
  // 8×8 integer block means, threshold each cell against the image's own
  // global mean (brightness-invariant by construction), and band the
  // 64-bit signature for LSH-style candidate blocking — the same
  // band-join machinery as SimHash text dedup, so candidate generation
  // shuffles on band values, never the pair space. The corpus is salted
  // with deterministic variants (doc_id+100000: first 4 grid rows
  // overwritten — a logo/watermark edit) whose signatures stay within a
  // small Hamming distance of the originals, so the gate has real
  // near-dup structure to find. Signatures are 64-char '0'/'1' strings:
  // engine-portable (no 64-bit sign-bit hazards) and directly bandable
  // by substring. Verification is an exact Hamming count per candidate
  // pair, threshold 16.
  private val AhCells = 64 // 8×8
  private val AhBands = 4 // 16-bit bands
  private val AhMaxHamming = 16
  private val AhGridW = 16 // narrow grid: the documents payloads are ≤544B

  /** 64-char aHash bitstring of the byte-grid in `text` (≥ 8 full rows of
    * $AhGridW). `bh` = block height = rows_in DIV 8 must be bound as a
    * column named bh; cells/global mean are exact integer math. */
  private val ahBitsExpr: String = {
    // pixel t of cell ci (block = bh rows × 2 cols):
    // row = (ci div 8)*bh + t div 2, col = (ci%8)*2 + t%2
    val cellSum = s"aggregate(sequence(0, cast(bh as int) * 2 - 1), 0L, " +
      s"(a, t) -> a + ascii(substring(text, " +
      s"cast(((ci div 8) * bh + t div 2) * $AhGridW + (ci % 8) * 2 + t % 2 + 1 as int), 1)))"
    val cells = s"transform(sequence(0, ${AhCells - 1}), " +
      s"ci -> $cellSum div (bh * 2))"
    // bind the cells array once (the 1-element-transform lambda trick —
    // an outer withColumn would be re-inlined per element)
    s"element_at(transform(array($cells), cells -> " +
      s"concat_ws('', transform(cells, c -> " +
      s"if(c > aggregate(cells, 0L, (a, x) -> a + x) div $AhCells, '1', '0')))), 1)"
  }

  private def phashDedup(s: SparkSession, dir: String): DataFrame = {
    val base = mdocs(s, dir)
      .filter(expr(s"doc_id % 3 = 0 AND length(text) >= ${16 * AhGridW}"))
      .select(col("doc_id"), col("text"))
    val variants = base.select((col("doc_id") + 100000L).as("doc_id"),
      expr(s"concat(repeat('z', ${4 * AhGridW}), substring(text, ${4 * AhGridW + 1}))")
        .as("text"))
    // r12 optimization: the gate parquet is a single row group, so the
    // scan is ONE task and the ~8k-ascii()-per-doc aHash expression ran
    // single-threaded; repartition the slim (doc_id, text) rows first
    // (guide §2.5 input skew — trivially cheap vs the expression). The
    // signatures are then localCheckpoint'd: both band-join sides and the
    // verify read them, and without the cut the plan inlined the whole
    // signature computation per reference (the broadcast build re-ran it
    // from parquet). Measured 6.6 s → ~1 s; output identical.
    val sigs = base.union(variants)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("bh", expr(s"octet_length(text) div $AhGridW div 8"))
      .select(col("doc_id"), expr(ahBitsExpr).as("bits"))
      .localCheckpoint()
    val bands = sigs.select(col("doc_id"), col("bits"),
      explode(expr((0 until AhBands)
        .map(i => s"struct($i AS bi, substring(bits, ${i * 16 + 1}, 16) AS bv)")
        .mkString("array(", ", ", ")"))).as("bd"))
      .select(col("doc_id"), col("bits"), col("bd.bi"), col("bd.bv"))
    val a = bands.select(col("bi"), col("bv"), col("doc_id").as("a_id"),
      col("bits").as("a_bits"))
    val b = bands.select(col("bi"), col("bv"), col("doc_id").as("b_id"),
      col("bits").as("b_bits"))
    a.join(b, Seq("bi", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_bits", "b_bits").distinct()
      // Hamming via per-band XOR popcount (4 ops, not 64 char compares —
      // the verify constant dominates on clone-heavy corpora where every
      // candidate pair is a true near-dup); value-identical to the
      // bit-by-bit count the oracle runs
      .withColumn("hamming", expr("cast(" + (0 until AhBands).map(i =>
        s"bit_count(cast(conv(substring(a_bits, ${i * 16 + 1}, 16), 2, 10) as bigint) ^ " +
          s"cast(conv(substring(b_bits, ${i * 16 + 1}, 16), 2, 10) as bigint))")
        .mkString(" + ") + " as bigint)"))
      .filter(col("hamming") <= AhMaxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  // Multimodal record assembly: the join that builds a training record
  // from two modality tables sharing an id — text metadata from
  // `documents`, vector stats from `embeddings`. One hash join on the id;
  // at fleet scale both modality tables are bucketed by that id
  // (DataFrameWriter.bucketBy) and the assembly plans with zero exchanges. The
  // vector side carries size + rounded L2 norm through the codegen'd
  // VecNorm expression, so the gate also value-checks the native
  // expression on the full embeddings table.
  private def recordAssembly(s: SparkSession, dir: String): DataFrame = {
    val d = graft.queries.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val e = graft.queries.t(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        round(graft.functions.VectorFunctions.vecNorm(col("embedding")), 6)
          .as("nrm_r"))
    d.join(e, Seq("doc_id")).orderBy("doc_id")
  }

  // -- CLIP-score-style caption–image alignment filtering ---------------------
  // The LAION construction step: every (image, caption) pair gets an
  // alignment score and pairs below threshold are flagged for drop. The
  // two encoders are deterministic stubs (per-segment integer byte sums
  // over the grid; hashed-token-bucket counts over the caption — the
  // caption is the adjacent doc_id+1 payload), but the Spark shape is the
  // real thing: per-dim rows ride the scan, ONE (doc, dim) left join
  // pairs the modalities, ONE aggregation folds the cosine, and the score
  // is a single IEEE tree over exact integer sums so both engines agree
  // bit-for-bit. Nothing wider than (doc_id, dim) shuffles — payloads
  // stay in the scan stage, the LAION property that matters at 100 TB.
  private val ClipDims = 8
  private val ClipTau = 0.88

  private def clipFilter(s: SparkSession, dir: String): DataFrame = {
    val d = mdocs(s, dir)
    val img = d.filter(expr("doc_id % 3 = 0"))
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") >= ClipDims)
    val cap = d.filter(expr("doc_id % 3 = 1"))
      .select((col("doc_id") - 1).as("doc_id"), col("text").as("caption"))
    val pair = img.join(cap, Seq("doc_id"))
    val iv = pair.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${ClipDims - 1}), s -> " +
          s"aggregate(sequence(s * (n div $ClipDims) + 1, (s + 1) * (n div $ClipDims)), " +
          "0L, (a, i) -> a + ascii(substring(text, i, 1))))"))
        .as(Seq("dim", "ie")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"), col("ie"))
    val tb = pair.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(caption), '[a-z0-9]+', 0)")).as("tok"))
      .select(col("doc_id"),
        (graft.functions.Md5BitsFunctions.md5Bits(col("tok"), 1, 8) % ClipDims).as("dim"))
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("te"))
    iv.join(tb, Seq("doc_id", "dim"), "left")
      .na.fill(0L, Seq("te"))
      .groupBy("doc_id")
      .agg(sum(col("ie") * col("te")).as("dot"),
        sum(col("ie") * col("ie")).as("ni"),
        sum(col("te") * col("te")).as("nt"))
      .select(col("doc_id"), col("dot"),
        round(col("dot").cast("double") /
          (sqrt(col("ni").cast("double")) * sqrt(col("nt").cast("double"))), 6)
          .as("clip_r"))
      .withColumn("kept", when(col("clip_r") >= ClipTau, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  // -- per-video motion profile -------------------------------------------------
  // The clip-selection signal a video pipeline computes before sampling:
  // total/mean inter-frame motion and the cut count per clip. Reuses the
  // ONE shotFrames spelling (so "motion" and "shot" cannot drift); the
  // motion sum folds the per-doc delta list in frame order — deltas that
  // involve the partial tail frame are non-dyadic doubles, so a plain
  // SUM() would be partial-agg-order-dependent and hash-flaky.
  private def motionProfile(s: SparkSession, dir: String): DataFrame =
    shotFrames(s, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("is_cut").cast("long")).as("n_cuts"),
        expr("aggregate(array_sort(collect_list(struct(frame_idx, delta))), " +
          "cast(0.0 as double), (a, x) -> a + " +
          "if(x.delta is null, cast(0.0 as double), abs(x.delta)))")
          .as("motion_sum"))
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        round(col("motion_sum"), 6).as("motion_sum_r"),
        round(col("motion_sum") / (col("n_frames") - 1).cast("double"), 6)
          .as("mean_motion_r"))
      .filter(col("n_frames") > 1)
      .orderBy("doc_id")

  // -- loudness normalization (integer gain) -----------------------------------
  // The audio-preprocessing gain stage: every clip is scaled so its mean
  // level hits the target (80), spelled entirely in integer arithmetic —
  // b' = clamp(1, 127, b·T·len DIV Σb) — so the normalized bytes and their
  // md5 are bit-identical cross-engine (the m_resize determinism pattern).
  // Zero shuffles: the whole kernel rides the scan; at fleet scale this is
  // the shape of any per-record media transform.
  private val GainTarget = 80L

  private def audioGain(s: SparkSession, dir: String): DataFrame =
    mdocs(s, dir)
      .filter(expr("doc_id % 3 = 1"))
      .withColumn("n", length(col("text")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("tot", expr(
        "aggregate(sequence(1, length(text)), 0L, " +
          "(a, i) -> a + ascii(substring(text, i, 1)))"))
      .withColumn("normalized", expr(
        s"""concat_ws('', transform(sequence(1, cast(n as int)), i ->
           |  char(greatest(1L, least(127L,
           |    ascii(substring(text, i, 1)) * $GainTarget * n div tot)))))"""
          .stripMargin))
      .select(col("doc_id"), col("n").as("n_bytes"),
        round(col("tot").cast("double") / col("n").cast("double"), 6)
          .as("mean_r"),
        md5(col("normalized")).as("normalized_md5"))
      .orderBy("doc_id")

  // -- byte-histogram entropy filter ------------------------------------------
  // The low-information screen a vision pipeline runs before the expensive
  // encoder: blank frames, solid fills and repeated tiles have low byte
  // entropy and get dropped. Exact per-(doc, value) counts are the only
  // shuffle (≤256 rows per doc regardless of image size — the histogram IS
  // the mergeable state); the Shannon sum folds that histogram in value
  // order (the repo's sequential-fold determinism pattern, d_dsir_weight
  // style) and bits-per-byte is one shared IEEE tree, round(…, 6).
  private val EntropyTau = 4.05

  private def imageEntropy(s: SparkSession, dir: String): DataFrame =
    mdocs(s, dir)
      // the empty guard matters: Spark's sequence(1, 0) is the DESCENDING
      // [1, 0], which would fabricate a 2-row histogram for a 0-byte
      // payload where the oracle's generate_series(1, 0) emits nothing
      .filter(expr("doc_id % 3 = 0 AND length(text) > 0"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))")).as("v"))
      .groupBy("doc_id", "v").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        expr("aggregate(array_sort(collect_list(struct(v, c))), cast(0.0 as double), " +
          "(a, x) -> a + cast(x.c as double) * ln(cast(x.c as double)))").as("sclc"))
      .select(col("doc_id"), col("n").cast("long").as("n_bytes"),
        col("n_distinct"),
        round((expr("ln(cast(n as double))") - col("sclc") / col("n").cast("double")) /
          expr("ln(cast(2.0 as double))"), 6).as("entropy_r"))
      .withColumn("low_info", when(col("entropy_r") < EntropyTau, 1L).otherwise(0L))
      .orderBy("doc_id")

  val queries: Map[String, QueryFn] = Map(
    "m_media_features" -> (mediaFeatures _),
    "m_frame_sample"   -> (frameSample _),
    "m_audio_windows"  -> (audioWindows _),
    "m_image_patches"  -> (imagePatches _),
    "m_record_assembly" -> (recordAssembly _),
    "m_resize"         -> (resizeImages _),
    "m_shot_boundaries" -> (shotBoundaries _),
    "m_audio_segments" -> (audioSegments _),
    "m_frame_dedup"    -> (frameDedup _),
    "m_phash_dedup"    -> (phashDedup _),
    "m_keyframes"      -> (videoKeyframes _),
    "m_clip_filter"    -> (clipFilter _),
    "m_image_entropy"  -> (imageEntropy _),
    "m_audio_gain"     -> (audioGain _),
    "m_motion_profile" -> (motionProfile _)
  )

  val oracles: Map[String, String] = Map(
    "m_audio_gain" ->
      s"""WITH a AS (SELECT doc_id, text, len(text)::BIGINT AS n FROM documents
         |  WHERE doc_id % 3 = 1 AND len(text) > 0),
         |t AS (SELECT doc_id, n, text,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(generate_series(1, n), i ->
         |        ascii(text[i::INT])::BIGINT)), (x, y) -> x + y) AS tot
         |  FROM a)
         |SELECT doc_id, n AS n_bytes,
         |  round(tot::DOUBLE / n::DOUBLE, 6) AS mean_r,
         |  md5(array_to_string(list_transform(generate_series(1, n), i ->
         |    chr(greatest(1, least(127,
         |      ascii(text[i::INT])::BIGINT * $GainTarget * n // tot))::INT)), ''))
         |    AS normalized_md5
         |FROM t ORDER BY doc_id""".stripMargin,
    "m_clip_filter" ->
      s"""WITH img AS (SELECT doc_id, text, length(text) AS n FROM documents
         |  WHERE doc_id % 3 = 0 AND length(text) >= $ClipDims),
         |cap AS (SELECT doc_id - 1 AS doc_id, text AS caption FROM documents
         |  WHERE doc_id % 3 = 1),
         |pair AS (SELECT img.doc_id, img.text, img.n, cap.caption
         |  FROM img JOIN cap USING (doc_id)),
         |iv AS (SELECT doc_id, s AS dim,
         |    list_reduce(list_prepend(0::BIGINT, list_transform(
         |      generate_series(s * (n // $ClipDims) + 1, (s + 1) * (n // $ClipDims)),
         |      i -> ascii(substr(text, i::INT, 1))::BIGINT)), (a, x) -> a + x) AS ie
         |  FROM pair, unnest(generate_series(0, ${ClipDims - 1})) AS t(s)),
         |ct AS (SELECT doc_id,
         |    unnest(regexp_extract_all(lower(caption), '[a-z0-9]+')) AS tok FROM pair),
         |tb AS (SELECT doc_id,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % $ClipDims AS dim,
         |    count(*)::BIGINT AS te
         |  FROM ct GROUP BY 1, 2),
         |j AS (SELECT iv.doc_id, iv.ie, COALESCE(tb.te, 0) AS te
         |  FROM iv LEFT JOIN tb ON iv.doc_id = tb.doc_id AND iv.dim = tb.dim),
         |sc AS (SELECT doc_id, SUM(ie * te)::BIGINT AS dot,
         |    SUM(ie * ie) AS ni, SUM(te * te) AS nt FROM j GROUP BY 1)
         |SELECT doc_id, dot,
         |  round(dot::DOUBLE / (sqrt(ni::DOUBLE) * sqrt(nt::DOUBLE)), 6) AS clip_r,
         |  (CASE WHEN round(dot::DOUBLE / (sqrt(ni::DOUBLE) * sqrt(nt::DOUBLE)), 6)
         |     >= $ClipTau THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM sc ORDER BY doc_id""".stripMargin,
    "m_image_entropy" ->
      s"""WITH v AS (SELECT doc_id, ascii(text[i::INT]) AS v
         |  FROM documents, unnest(generate_series(1, len(text))) AS t(i)
         |  WHERE doc_id % 3 = 0),
         |h AS (SELECT doc_id, v, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
         |e AS (SELECT doc_id, SUM(c)::BIGINT AS n, COUNT(*)::BIGINT AS n_distinct,
         |  list_reduce(list_prepend(0.0, list(c::DOUBLE * ln(c::DOUBLE) ORDER BY v)),
         |    (a, b) -> a + b) AS sclc FROM h GROUP BY 1)
         |SELECT doc_id, n AS n_bytes, n_distinct,
         |  round((ln(n::DOUBLE) - sclc / n::DOUBLE) / ln(2.0), 6) AS entropy_r,
         |  (CASE WHEN round((ln(n::DOUBLE) - sclc / n::DOUBLE) / ln(2.0), 6)
         |     < $EntropyTau THEN 1 ELSE 0 END)::BIGINT AS low_info
         |FROM e ORDER BY doc_id""".stripMargin,
    "m_phash_dedup" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 3 = 0 AND length(text) >= ${16 * AhGridW}),
         |allimg AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 100000, repeat('z', ${4 * AhGridW}) || substr(text, ${4 * AhGridW + 1})
         |  FROM base),
         |sig0 AS (SELECT doc_id, text, length(text) // ${AhGridW * 8} AS bh FROM allimg),
         |cellsq AS MATERIALIZED (SELECT doc_id,
         |    list_transform(generate_series(0, ${AhCells - 1}), ci ->
         |      list_sum(list_transform(generate_series(0, bh * 2 - 1), t ->
         |        ascii(text[(((ci // 8) * bh + t // 2) * $AhGridW + (ci % 8) * 2 + t % 2 + 1)::INT])))
         |      // (bh * 2)) AS cells
         |  FROM sig0),
         |bitsq AS MATERIALIZED (SELECT doc_id,
         |    array_to_string(list_transform(cells, c ->
         |      CASE WHEN c > list_sum(cells) // $AhCells THEN '1' ELSE '0' END), '') AS bits
         |  FROM cellsq),
         |bands AS (SELECT doc_id, bits, bi, substr(bits, bi * 16 + 1, 16) AS bv
         |  FROM bitsq, unnest(generate_series(0, ${AhBands - 1})) AS t(bi)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    a.bits AS a_bits, b.bits AS b_bits
         |  FROM bands a JOIN bands b
         |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |h AS (SELECT a_id, b_id,
         |    list_sum(list_transform(generate_series(1, $AhCells), i ->
         |      CASE WHEN a_bits[i] = b_bits[i] THEN 0 ELSE 1 END))::BIGINT AS hamming
         |  FROM cand)
         |SELECT a_id, b_id, hamming FROM h WHERE hamming <= $AhMaxHamming
         |ORDER BY a_id, b_id""".stripMargin,
    "m_frame_dedup" ->
      s"""WITH f AS (SELECT doc_id, substr(text, (fi * $ShotFrame + 1)::INT, $ShotFrame) AS fr
         |  FROM documents,
         |   unnest(generate_series(0, len(text) // $ShotFrame)) AS t(fi)
         |  WHERE doc_id % 3 = 2)
         |SELECT md5(fr) AS frame_md5,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(*) AS n_occurrences,
         |  MIN(doc_id) AS first_doc
         |FROM f WHERE len(fr) = $ShotFrame
         |GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY frame_md5""".stripMargin,
    "m_audio_segments" ->
      s"""WITH w AS (SELECT doc_id, wi,
         |   substr(text, (wi * $AudioHop + 1)::INT, $AudioWin) AS win
         |  FROM documents,
         |   unnest(generate_series(0, greatest((len(text) - $AudioWin) // $AudioHop, 0))) AS t(wi)
         |  WHERE doc_id % 3 = 1),
         |e AS (SELECT doc_id, wi,
         |   CAST(list_sum(list_transform(generate_series(1, len(win)),
         |     i -> ascii(substr(win, i::INT, 1)) * ascii(substr(win, i::INT, 1)))) AS BIGINT) AS energy
         |  FROM w),
         |act AS (SELECT doc_id, wi, energy,
         |   wi - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi) AS grp
         |  FROM (SELECT doc_id, wi, energy,
         |     SUM(energy) OVER (PARTITION BY doc_id) AS tot_e,
         |     COUNT(*) OVER (PARTITION BY doc_id) AS n_w FROM e)
         |  WHERE energy * n_w > tot_e),
         |seg AS (SELECT doc_id, MIN(wi) AS start_win, MAX(wi) AS end_win,
         |   COUNT(*) AS n_wins, CAST(SUM(energy) AS BIGINT) AS energy
         |  FROM act GROUP BY doc_id, grp)
         |SELECT doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_win) AS seg_idx,
         |  start_win, end_win, n_wins, energy
         |FROM seg ORDER BY doc_id, seg_idx""".stripMargin,
    "m_resize" ->
      s"""WITH g AS (SELECT doc_id, text, len(text) // $GridW AS rows_in
         |  FROM documents WHERE doc_id % 3 = 0),
         |r AS (SELECT doc_id, (rows_in // 2)::BIGINT AS out_h,
         |   array_to_string(list_transform(generate_series(0, rows_in // 2 - 1), rr ->
         |     array_to_string(list_transform(generate_series(0, ${GridW / 2 - 1}), cc ->
         |       chr((ascii(substr(text, ((rr * 2) * $GridW + cc * 2 + 1)::INT, 1))
         |          + ascii(substr(text, ((rr * 2) * $GridW + cc * 2 + 2)::INT, 1))
         |          + ascii(substr(text, ((rr * 2 + 1) * $GridW + cc * 2 + 1)::INT, 1))
         |          + ascii(substr(text, ((rr * 2 + 1) * $GridW + cc * 2 + 2)::INT, 1))) // 4)), '')), '')
         |     AS resized
         | FROM g WHERE rows_in >= 2)
         |SELECT doc_id, ${GridW / 2}::BIGINT AS out_w, out_h,
         | md5(resized) AS resized_md5
         |FROM r ORDER BY doc_id""".stripMargin,
    "m_record_assembly" ->
      """SELECT doc_id, lang, n_chars,
        | len(embedding)::BIGINT AS n_dims,
        | round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
        |   AS nrm_r
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "m_image_patches" ->
      s"""WITH g AS (SELECT doc_id, text, len(text) // $GridW // $PatchH AS pr
         |  FROM documents WHERE doc_id % 3 = 0),
         |p AS (SELECT doc_id, r, c,
         |   array_to_string(list_transform(generate_series(0, ${PatchH - 1}),
         |     k -> substr(text, ((r * $PatchH + k) * $GridW + c * $PatchW + 1)::INT, $PatchW)), '') AS patch
         | FROM g,
         |  unnest(generate_series(0, pr - 1)) AS tr(r),
         |  unnest(generate_series(0, ${GridW / PatchW - 1})) AS tc(c)
         | WHERE pr > 0)
         |SELECT doc_id, r::BIGINT AS patch_row, c::BIGINT AS patch_col,
         | md5(patch) AS patch_md5,
         | list_sum(list_transform(generate_series(1, len(patch)),
         |   i -> ascii(substr(patch, i::INT, 1))))::DOUBLE / len(patch)::DOUBLE AS mean_level
         |FROM p ORDER BY doc_id, patch_row, patch_col""".stripMargin,
    "m_motion_profile" ->
      s"""WITH f AS (SELECT doc_id, fi, substr(text, (fi * $ShotFrame + 1)::INT, $ShotFrame) AS fr
         |  FROM documents,
         |   unnest(generate_series(0, len(text) // $ShotFrame)) AS t(fi)
         |  WHERE doc_id % 3 = 2),
         |lv AS (SELECT doc_id, fi::BIGINT AS frame_idx,
         |   list_sum(list_transform(generate_series(1, len(fr)),
         |     i -> ascii(substr(fr, i::INT, 1))))::DOUBLE / len(fr)::DOUBLE AS mean_level
         |  FROM f WHERE len(fr) > 0),
         |d AS (SELECT doc_id, frame_idx, mean_level,
         |   mean_level - lag(mean_level) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS delta
         |  FROM lv),
         |a AS (SELECT doc_id, COUNT(*)::BIGINT AS n_frames,
         |   SUM(CASE WHEN delta IS NULL OR abs(delta) >= $ShotCut
         |     THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
         |   list_reduce(list_prepend(0.0, list(
         |     CASE WHEN delta IS NULL THEN 0.0 ELSE abs(delta) END
         |     ORDER BY frame_idx)), (x, y) -> x + y) AS motion_sum
         |  FROM d GROUP BY 1)
         |SELECT doc_id, n_frames, n_cuts,
         |  round(motion_sum, 6) AS motion_sum_r,
         |  round(motion_sum / (n_frames - 1)::DOUBLE, 6) AS mean_motion_r
         |FROM a WHERE n_frames > 1 ORDER BY doc_id""".stripMargin,
    "m_shot_boundaries" ->
      s"""WITH f AS (SELECT doc_id, fi, substr(text, (fi * $ShotFrame + 1)::INT, $ShotFrame) AS fr
         |  FROM documents,
         |   unnest(generate_series(0, len(text) // $ShotFrame)) AS t(fi)
         |  WHERE doc_id % 3 = 2),
         |lv AS (SELECT doc_id, fi::BIGINT AS frame_idx,
         |   list_sum(list_transform(generate_series(1, len(fr)),
         |     i -> ascii(substr(fr, i::INT, 1))))::DOUBLE / len(fr)::DOUBLE AS mean_level
         |  FROM f WHERE len(fr) > 0),
         |d AS (SELECT doc_id, frame_idx, mean_level,
         |   mean_level - lag(mean_level) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS delta
         |  FROM lv)
         |SELECT doc_id, frame_idx, mean_level, delta,
         |  (delta IS NULL OR abs(delta) >= $ShotCut) AS is_cut
         |FROM d ORDER BY doc_id, frame_idx""".stripMargin,
    "m_keyframes" ->
      s"""WITH f AS (SELECT doc_id, fi, substr(text, (fi * $ShotFrame + 1)::INT, $ShotFrame) AS fr
         |  FROM documents,
         |   unnest(generate_series(0, len(text) // $ShotFrame)) AS t(fi)
         |  WHERE doc_id % 3 = 2),
         |lv AS (SELECT doc_id, fi::BIGINT AS frame_idx, fr,
         |   list_sum(list_transform(generate_series(1, len(fr)),
         |     i -> ascii(substr(fr, i::INT, 1))))::DOUBLE / len(fr)::DOUBLE AS mean_level
         |  FROM f WHERE len(fr) > 0),
         |d AS (SELECT doc_id, frame_idx, fr, mean_level,
         |   mean_level - lag(mean_level) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS delta
         |  FROM lv),
         |sh AS (SELECT doc_id, frame_idx, fr, mean_level,
         |   (SUM(CASE WHEN delta IS NULL OR abs(delta) >= $ShotCut THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY frame_idx
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS shot_id
         |  FROM d),
         |g AS (SELECT doc_id, shot_id, MIN(frame_idx) AS start_idx,
         |   MAX(frame_idx) AS end_idx, COUNT(*)::BIGINT AS n_frames
         |  FROM sh GROUP BY 1, 2),
         |r AS (SELECT doc_id, shot_id, frame_idx, mean_level, fr,
         |   ROW_NUMBER() OVER (PARTITION BY doc_id, shot_id
         |     ORDER BY mean_level DESC, frame_idx) AS kr
         |  FROM sh)
         |SELECT g.doc_id, g.shot_id, g.start_idx, g.end_idx, g.n_frames,
         |  r.frame_idx AS key_idx, round(r.mean_level, 6) AS key_level_r,
         |  md5(r.fr) AS key_md5
         |FROM g JOIN r ON g.doc_id = r.doc_id AND g.shot_id = r.shot_id AND r.kr = 1
         |ORDER BY g.doc_id, g.shot_id""".stripMargin,
    "m_audio_windows" ->
      s"""SELECT doc_id, w::BIGINT AS win_idx, len(win)::BIGINT AS n_bytes,
         | md5(win) AS win_md5,
         | list_sum(list_transform(generate_series(1, len(win)),
         |   i -> ascii(substr(win, i::INT, 1))))::DOUBLE / len(win)::DOUBLE AS mean_level
         |FROM (SELECT doc_id, w, substr(text, (w * $AudioHop + 1)::INT, $AudioWin) AS win
         |  FROM documents,
         |   unnest(generate_series(0, greatest((len(text) - $AudioWin) // $AudioHop, 0))) AS t(w)
         |  WHERE doc_id % 3 = 1)
         |ORDER BY doc_id, win_idx""".stripMargin,
    "m_media_features" ->
      s"""SELECT doc_id,
         | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         | (16 + ascii(substr(text, 1, 1)) % 64)::BIGINT AS width,
         | (16 + ascii(substr(text, 2, 1)) % 64)::BIGINT AS height,
         | (CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END)::BIGINT AS channels,
         | (CASE WHEN doc_id % 3 = 2 THEN len(text) // ${Multimodal.FrameStride} + 1 ELSE 1 END)::BIGINT AS n_frames,
         | len(text)::BIGINT AS n_bytes,
         | list_sum(list_transform(generate_series(1, len(text)),
         |   i -> ascii(substr(text, i::INT, 1))))::DOUBLE / len(text)::DOUBLE AS brightness
         |FROM documents ORDER BY doc_id""".stripMargin,
    "m_frame_sample" ->
      s"""SELECT doc_id, f::BIGINT AS frame_idx,
         | md5(substr(text, (f * ${Multimodal.FrameStride} + 1)::INT, ${Multimodal.FrameStride})) AS frame_md5
         |FROM documents, unnest(generate_series(0, len(text) // ${Multimodal.FrameStride})) AS t(f)
         |WHERE doc_id % 3 = 2
         |ORDER BY doc_id, frame_idx""".stripMargin
  )
}
