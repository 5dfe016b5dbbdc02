package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ImportPipeline
import graft.mapping.{CompiledMapping, TableConf, TableType}
import graft.model.{Ids, Kind, Op}
import graft.operators.Generalize
import graft.sources.OsmXml
import graft.sources.OsmXml.Bundle

/** Incremental maintenance of the import output (SURVEY.md §2 ST1-ST6,
  * §3.2; reference update/process.go).
  *
  * State is *relational* — the four element frames plus every output and
  * generalized table, versioned in a [[StateStore]] — so a diff batch is a
  * plain dataflow, not per-key streaming state:
  *
  *  1. element tables: delete-then-insert by (kind, id) — always delete,
  *     even for Create (the reference's idempotency trick, ST2);
  *  2. dependency closure (J4): changed node → ways whose refs contain it,
  *     changed node/way → relations whose members reference them — the
  *     reverse indexes of the reference's DiffCache are expressed as
  *     explode+semi-join against the maintained ways/relations tables;
  *  3. rebuild: the same ImportPipeline runs over the closure subset
  *     (plus member ways needed for relation assembly) — batch and diff
  *     share one code path, like the reference shares its writer package;
  *  4. output tables: delete closure ids (mangled per table type), append
  *     the rebuilt delta; generalized tables refresh the same way from the
  *     delta (ST6);
  *  5. commit the new version (ST4) — crash-before-commit replays onto the
  *     previous committed version, which delete-then-insert makes safe.
  *
  * At 100 TB the closure semi-joins shuffle only the changed-id sets
  * (minutely diffs are ~10⁴ elements against ~10¹⁰) and the anti-joins
  * broadcast them; the full-table rewrite per version becomes a
  * Delta/Iceberg MERGE on real deployments — the dataflow is identical.
  */
object DiffPipeline {

  private val ElementTables = Seq("coords", "nodes", "ways", "relations")
  private def tbl(name: String): String = s"tbl_$name"

  /** Run independent store writes concurrently. A diff batch touches every
    * output table, and each bucketed-delta write is a small Spark job —
    * run sequentially, a minutely batch pays ~30 job latencies end to end
    * (measured 82 s for a ~900-node batch against a 2M-element store;
    * fixed scheduling overhead, not data). The writes land in disjoint
    * `<table>/v<seq>` dirs, so they compose like any multi-sink drain; the
    * shared rebuild caches are forced once before draining. */
  private def drainConcurrently(tasks: Seq[() => Unit], par: Int = 8): Unit = {
    if (tasks.isEmpty) return
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(par, math.max(1, tasks.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Initial import: write element state + all output tables as v0, all
    * hash-bucketed by id so later diffs rewrite only touched buckets.
    * `nBuckets` is fixed for the store's life; size it so a bucket is
    * file-sized (a diff rewrites touched buckets WHOLE, so per-batch write
    * amplification is touched-buckets × bucket-size — at planet scale
    * ~64k buckets keeps that ∝ the change count, not the store size). */
  def init(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      bundle: Bundle, srid: Int = 3857, nBuckets: Int = 1024,
      limit: Option[graft.operators.Limitto] = None,
      startSeq: Long = 0): Map[String, DataFrame] = {
    val store = new StateStore(spark, stateDir)
    store.setHashBuckets(nBuckets)
    val timing = sys.env.get("SPARK_GRAFT_DIFF_TIMING").contains("1")
    var tPrev = System.nanoTime()
    def mark(phase: String): Unit = if (timing) {
      val now = System.nanoTime()
      System.err.println(f"[init] $phase ${(now - tPrev) / 1e9}%.1fs")
      tPrev = now
    }
    // startSeq > 0 re-inits on top of an existing store (`-appendcache`):
    // writing a NEW version while the merged bundle lazily reads the old
    // one keeps the read and write paths disjoint.
    // All four element writes read the one cached raw-element frame, so
    // they drain concurrently without duplicating the parse
    drainConcurrently(Seq(
      () => store.writeBucketed("coords", startSeq, bundle.coords, "id"),
      () => store.writeBucketed("nodes", startSeq, bundle.nodes, "id"),
      () => store.writeBucketed("ways", startSeq, bundle.ways, "id"),
      () => store.writeBucketed("relations", startSeq, bundle.relations, "id"),
      // reverse-reference indexes (the reference's DiffCache,
      // cache/diff.go): BUCKETED BY THE REFERENCED ID, so the dependency
      // closure of a diff reads only the changed ids' buckets instead of
      // scanning every way/relation per batch — the lookups become
      // O(changed), like the reference's LevelDB reverse entries
      () => store.writeBucketed("wayrefs", startSeq,
        bundle.ways.select(col("id").as("way_id"),
          explode(col("refs")).as("id")), "id"),
      () => store.writeBucketed("relrefs", startSeq,
        bundle.relations
          .select(col("id").as("rel_id"), explode(col("members")).as("m"))
          .select(col("m.id").as("id"), col("m.type").as("ref_type"),
            col("rel_id")), "id")))
    mark("element-writes")
    val stored = storedBundle(store, startSeq)
    val pipeline = new ImportPipeline(spark, mapping, srid, limit)
    val tables = pipeline.run(stored)
    val gens = Generalize(spark, mapping, tables)
    // force the shared stage caches once, then drain the ~30 output-table
    // writes concurrently (same reasoning as applyDiff's drain: each write
    // is a small job and sequential writes pay one job latency per table)
    pipeline.materializeStages()
    mark("stages")
    drainConcurrently((tables ++ gens).toSeq.map { case (n, df) =>
      () => store.writeBucketed(tbl(n), startSeq, df, idColFor(mapping, n))
    })
    mark("table-writes")
    pipeline.unpersistAll()
    store.commit(startSeq)
    readTables(spark, mapping, stateDir)
  }

  /** Current committed output tables (base + generalized). */
  def readTables(spark: SparkSession, mapping: CompiledMapping,
      stateDir: String): Map[String, DataFrame] = {
    val store = new StateStore(spark, stateDir)
    viewsOf(store, mapping, store.currentSeq)
  }

  /** Build the ~33 per-table merged views CONCURRENTLY: view construction
    * is driver/file-system bound (manifest read + eager file-index listing
    * over every bucket dir), and doing it serially cost ~7 s of every
    * apply — a third of the batch wall — after the actual work was done. */
  private def viewsOf(store: StateStore, mapping: CompiledMapping,
      seq: Long): Map[String, DataFrame] = {
    val names = allTableNames(mapping)
    val out = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    drainConcurrently(names.map(n =>
      () => { out.put(n, store.read(tbl(n), seq)); () }))
    names.map(n => n -> out.get(n)).toMap
  }

  private def allTableNames(mapping: CompiledMapping): Seq[String] =
    mapping.conf.tables.keys.toSeq ++ mapping.conf.generalizedTables.keys.toSeq

  /** The element tables of a committed state version — the `-appendcache`
    * read side (import_/import.go:84-101 appends onto the open cache). */
  def storedBundleAt(spark: SparkSession, stateDir: String, seq: Long): Bundle =
    storedBundle(new StateStore(spark, stateDir), seq)

  private def storedBundle(store: StateStore, seq: Long): Bundle =
    Bundle(
      coords = store.read("coords", seq),
      nodes = store.read("nodes", seq),
      ways = store.read("ways", seq),
      relations = store.read("relations", seq))

  /** Apply one change file (one transaction, ST1). `diff` carries
    * RawElement rows with `op`; the last op per element wins is assumed
    * upstream (minutely OSC files are deduplicated by osmosis).
    *
    * `from` applies on top of a specific (possibly uncommitted) state
    * version instead of the committed pointer; paired with
    * `commit = false` it gives the reference's `-commit-latest` batch
    * mode (update/cmd.go:96-134): apply N diffs version-by-version, then
    * advance the pointer once at the end — a crash mid-batch replays the
    * whole batch because the pointer never moved.
    */
  def applyDiff(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      diff: DataFrame, srid: Int = 3857,
      expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom,
      from: Option[Long] = None,
      commit: Boolean = true,
      // buildViews = false skips constructing the ~30 result-table views
      // (manifest read + eager file-index + Catalyst analysis each,
      // measured 1–2 s/batch) for callers that discard the return — the
      // streaming loop applies thousands of batches and reads tables via
      // readTables when it actually needs them (r13, §1.2 don't compute
      // what you throw away)
      buildViews: Boolean = true): Map[String, DataFrame] = {
    val store = new StateStore(spark, stateDir)
    val seq = from.getOrElse(store.currentSeq)
    require(seq >= 0, s"no committed state in $stateDir — run init first")
    val next = seq + 1
    // per-phase wall-clock on stderr when SPARK_GRAFT_DIFF_TIMING=1 — the
    // apply is a fixed pipeline of small jobs, and which phase dominates is
    // invisible from outside (the bench only sees the total)
    val timing = sys.env.get("SPARK_GRAFT_DIFF_TIMING").contains("1")
    var tPrev = System.nanoTime()
    def mark(phase: String): Unit = if (timing) {
      val now = System.nanoTime()
      System.err.println(f"[diff] $phase ${(now - tPrev) / 1e9}%.1fs")
      tPrev = now
    }

    val d = diff.cache()
    // the changed-id sets are localCheckpoint'd, not cached: every store
    // write below embeds them (broadcast anti-joins), and a checkpointed
    // leaf keeps those 30+ per-write plans shallow — with .cache() each
    // write re-pays Catalyst analysis of the id sets' full lineage
    val chN = d.filter(col("kind") === Kind.Node).select("id").distinct()
      .localCheckpoint()
    val chW = d.filter(col("kind") === Kind.Way).select("id").distinct()
      .localCheckpoint()
    val chR = d.filter(col("kind") === Kind.Relation).select("id").distinct()
      .localCheckpoint()
    // per-kind change counts (near-free: the sets are checkpointed): a
    // kind with ZERO changes steps its element/reverse-index tables with
    // writeUnchanged — no empty segments, no write jobs, no fold growth,
    // no compaction drag for tables a batch never touched (r13, §2.4; a
    // node-move-only minutely batch previously appended empty segments to
    // ways/relations/wayrefs/relrefs EVERY batch)
    val nN = chN.count(); val nW = chW.count(); val nR = chR.count()

    // -- 1. element tables: delete-then-insert as a merge-on-read SEGMENT ----
    // write ONLY the batch's insert rows + delete-id tombstones (always
    // delete, even for Create — the reference's idempotency trick, ST2);
    // the store folds segments newest-wins at read time, so the version
    // step's write volume is the batch itself, never a bucket rewrite
    val insN = d.filter(col("kind") === Kind.Node && col("op") =!= Op.Delete)
    def timed(label: String)(task: => Unit): () => Unit = () => {
      val tw = System.nanoTime()
      task
      if (timing) System.err.println(
        f"[diff]   write $label ${(System.nanoTime() - tw) / 1e9}%.1fs")
    }
    def stepOrWrite(changed: Long, name: String)(write: => Unit): Unit =
      if (changed == 0) store.writeUnchanged(name, next, seq) else write
    drainConcurrently(Seq(
      timed("coords")(stepOrWrite(nN, "coords")(store.writeDelta("coords",
        next, seq, insN.select("id", "lon", "lat"), chN, "id"))),
      timed("nodes")(stepOrWrite(nN, "nodes")(store.writeDelta("nodes",
        next, seq,
        insN.filter(size(col("tags")) > 0).select("id", "lon", "lat", "tags"),
        chN, "id"))),
      timed("ways")(stepOrWrite(nW, "ways")(store.writeDelta("ways", next, seq,
        d.filter(col("kind") === Kind.Way && col("op") =!= Op.Delete)
          .select("id", "refs", "tags"),
        chW, "id"))),
      timed("relations")(stepOrWrite(nR, "relations")(store.writeDelta(
        "relations", next, seq,
        d.filter(col("kind") === Kind.Relation && col("op") =!= Op.Delete)
          .select(col("id"),
            expr("transform(members, m -> struct(m.id as id, m.mtype as type, m.role as role))")
              .as("members"),
            col("tags")),
        chR, "id"))),
      // reverse indexes (DiffCache): bucketed by the REFERENCED id,
      // tombstoned by the REFERRER — a changed way's old entries must
      // vanish whichever nodes they pointed at
      timed("wayrefs")(stepOrWrite(nW, "wayrefs")(store.writeDelta("wayrefs",
        next, seq,
        d.filter(col("kind") === Kind.Way && col("op") =!= Op.Delete)
          .select(col("id").as("way_id"), explode(col("refs")).as("id")),
        chW.withColumnRenamed("id", "way_id"), "id",
        tombstoneCol = Some("way_id")))),
      timed("relrefs")(stepOrWrite(nR, "relrefs")(store.writeDelta("relrefs",
        next, seq,
        d.filter(col("kind") === Kind.Relation && col("op") =!= Op.Delete)
          .select(col("id").as("rel_id"), explode(col("members")).as("m"))
          .select(col("m.id").as("id"), col("m.mtype").as("ref_type"),
            col("rel_id")),
        chR.withColumnRenamed("id", "rel_id"), "id",
        tombstoneCol = Some("rel_id"))))))
    mark("element-writes")

    // -- 2. dependency closure (J4) via the reverse indexes --------------------
    // changed node → ways whose refs contain it, changed node/way →
    // relations whose members reference them. The lookups read ONLY the
    // changed ids' buckets of the maintained reverse indexes — O(changed)
    // per batch, the reference's LevelDB reverse entries (cache/diff.go);
    // before r9 this scanned every way and relation per minutely batch.
    val bChN = store.bucketsOf(chN, "id")
    val depW = store.readBuckets("wayrefs", next, bChN)
      .join(broadcast(chN), Seq("id"), "left_semi")
      .select(col("way_id").as("id"))
      .union(chW).distinct().localCheckpoint()
    val relsViaNodes = store.readBuckets("relrefs", next, bChN)
      .filter(col("ref_type") === 0)
      .join(broadcast(chN), Seq("id"), "left_semi")
    val relsViaWays = store.readBuckets("relrefs", next,
        store.bucketsOf(depW, "id"))
      .filter(col("ref_type") === 1)
      .join(broadcast(depW), Seq("id"), "left_semi")
    val depR = relsViaNodes.select(col("rel_id").as("id"))
      .union(relsViaWays.select(col("rel_id").as("id")))
      .union(chR).distinct().localCheckpoint()

    // -- 3. rebuild the closure through the shared import pipeline ------------
    // element rows fetched by id through the bucketed store (random-read
    // analog of cache/delta.go) — never a full element-table scan
    val driverRels = store.readBuckets("relations", next,
        store.bucketsOf(depR, "id"))
      .join(broadcast(depR), Seq("id"), "left_semi")
    val memberWayIds = driverRels
      .select(explode(col("members")).as("m"))
      .filter(col("m.type") === 1)
      .select(col("m.id").as("id")).distinct()
    val rebuildW = depW.union(memberWayIds).distinct().localCheckpoint()
    val waysR = store.readBuckets("ways", next,
        store.bucketsOf(rebuildW, "id"))
      .join(broadcast(rebuildW), Seq("id"), "left_semi")
    // bucket-pruned coord resolution (the store-side J1, reference analog:
    // random reads against the ID-sorted LevelDB coords cache,
    // cache/delta.go:162-198): the rebuild closure needs only (a) the refs
    // of its ways and (b) the node members of its driver relations — read
    // ONLY those ids' buckets of the coords state instead of scanning all
    // of it. At planet scale a minutely batch touches ~10² of ~3k buckets,
    // so this is the difference between a full multi-billion-row coords
    // scan per diff and an O(changed) one; the pruned read also keeps the
    // assembly join's probe side small enough that AQE broadcasts the
    // exploded refs.
    val neededCoordIds = waysR.select(explode(col("refs")).as("id"))
      .union(driverRels.select(explode(col("members")).as("m"))
        .filter(col("m.type") === 0).select(col("m.id").as("id")))
    val bCoord = store.bucketsOf(neededCoordIds, "id")
    mark("closure")
    // coords touched by THIS batch resolve at full precision (reference
    // LRU-bunch artifact — see ImportPipeline.projectXY)
    val freshCoords = store.readBuckets("coords", next, bCoord).join(
      broadcast(chN.withColumn("fresh", lit(true))), Seq("id"), "left")
      .withColumn("fresh", coalesce(col("fresh"), lit(false)))
    val bundleR = Bundle(
      coords = freshCoords,
      nodes = store.readBuckets("nodes", next, bChN)
        .join(broadcast(chN), Seq("id"), "left_semi"),
      ways = waysR,
      relations = driverRels)
    // member-tag / sub-relation resolution sees the FULL maintained state
    // (reference writer/relations.go:216-251 resolves from the whole
    // cache). The node side joins against the already-pruned coords, so
    // its read is pruned to the same buckets; relations (the smallest
    // element table) stay a full read — sub-relation members can point
    // anywhere.
    val resolveBundle = Bundle(
      coords = freshCoords,
      nodes = store.readBuckets("nodes", next, bCoord),
      ways = waysR,
      relations = store.read("relations", next))
    val pipeline = new ImportPipeline(spark, mapping, srid,
      truncateLineage = true)
    val delta = pipeline.run(bundleR, resolve = Some(resolveBundle))
    val genDelta = Generalize(spark, mapping, delta)

    // -- 4. output tables: delete mangled closure ids, append delta -----------
    val single = mapping.conf.singleIdSpace
    val wDel = rebuildW.select(
      (if (single) -col("id") else col("id")).cast("long").as("osm_id"))
    val rDel = depR.select(
      (if (single) lit(Ids.RelIDOffset) - col("id") else -col("id"))
        .cast("long").as("osm_id"))
    val nDel = chN.select(col("id").cast("long").as("osm_id"))
    // closure sizes (checkpointed, near-free): an output table whose whole
    // delete set is empty can have no delta rows either (rebuilt rows are
    // driven by the closure), so it steps with writeUnchanged like the
    // element tables above
    val nWDel = rebuildW.count()
    val nRDel = depR.count()
    def changedFor(tableType: String): Long = tableType match {
      case TableType.Point => nN
      case TableType.LineString | TableType.Polygon => nWDel + nRDel
      case TableType.Geometry => nN + nWDel + nRDel
      case TableType.Relation | TableType.RelationMember => nRDel
      case other => throw new IllegalArgumentException(other)
    }
    def deleteIdsFor(tableType: String): DataFrame = tableType match {
      case TableType.Point => nDel
      case TableType.LineString => wDel.union(rDel)
      case TableType.Polygon => wDel.union(rDel)
      case TableType.Geometry => nDel.union(wDel).union(rDel)
      case TableType.Relation | TableType.RelationMember => rDel
      case other => throw new IllegalArgumentException(other)
    }
    // each output-table version is likewise a SEGMENT: tombstones = the
    // mangled closure ids, inserts = the rebuilt delta (a subset of the
    // tombstoned ids by construction — rows are driven by the closure)
    // delete-id buckets, needed only for the ST5 old-geometry read below
    lazy val bNDel = store.bucketsOf(nDel, "osm_id")
    lazy val bWDel = store.bucketsOf(wDel, "osm_id")
    lazy val bRDel = store.bucketsOf(rDel, "osm_id")
    def bucketsFor(tableType: String): Set[Long] = tableType match {
      case TableType.Point => bNDel
      case TableType.LineString | TableType.Polygon => bWDel ++ bRDel
      case TableType.Geometry => bNDel ++ bWDel ++ bRDel
      case TableType.Relation | TableType.RelationMember => bRDel
      case other => throw new IllegalArgumentException(other)
    }
    val expireGeoms = Seq.newBuilder[DataFrame]
    val outWrites = Seq.newBuilder[() => Unit]
    for ((name, t) <- mapping.conf.tables) {
      val idc = idColName(t)
      val del = deleteIdsFor(t.tableType).withColumnRenamed("osm_id", idc)
      outWrites += (() => {
        val tw = System.nanoTime()
        if (changedFor(t.tableType) == 0) store.writeUnchanged(tbl(name), next, seq)
        else store.writeDelta(tbl(name), next, seq, delta(name), del, idc)
        if (timing) System.err.println(
          f"[diff]   write $name ${(System.nanoTime() - tw) / 1e9}%.1fs")
      })
      // ST5 inputs: OLD geometries of replaced/deleted rows (the reference
      // expires via its deleter, update/deleter.go) plus the rebuilt ones
      if (expireDir.nonEmpty && t.tableType != TableType.Relation &&
        t.tableType != TableType.RelationMember) {
        geomColName(t).foreach { gc =>
          expireGeoms += store.readBuckets(tbl(name), seq, bucketsFor(t.tableType))
            .join(broadcast(del), Seq(idc), "left_semi")
            .select(col(gc).as("geometry"))
          expireGeoms += delta(name).select(col(gc).as("geometry"))
        }
      }
    }
    // generalized tables: keyed refresh from the delta (ST6); columns are
    // inherited from the root source table's conf
    for ((name, g) <- mapping.conf.generalizedTables) {
      val rc = rootConf(mapping, g.source)
      val idc = idColName(rc)
      val del = deleteIdsFor(rc.tableType).withColumnRenamed("osm_id", idc)
      outWrites += (() => {
        val tw = System.nanoTime()
        if (changedFor(rc.tableType) == 0) store.writeUnchanged(tbl(name), next, seq)
        else store.writeDelta(tbl(name), next, seq, genDelta(name), del, idc)
        if (timing) System.err.println(
          f"[diff]   write gen:$name ${(System.nanoTime() - tw) / 1e9}%.1fs")
      })
    }
    // force the shared rebuild caches ONCE, then drain every output-table
    // write concurrently: the writes only consume the cached stages, so
    // concurrency can't duplicate the closure computation, and the batch
    // stops paying one job latency per output table
    pipeline.materializeStages()
    mark("rebuild-stages")
    drainConcurrently(outWrites.result())
    mark("output-writes")

    // ST5: expire-tiles side output — every geometry touched by this batch
    expireDir.foreach { dir =>
      val geoms = expireGeoms.result()
      if (geoms.nonEmpty) {
        val tiles = graft.operators.ExpireTiles.expire(
          geoms.reduce(_ unionByName _).filter(col("geometry").isNotNull),
          maxZoom = expireZoom)
        graft.operators.ExpireTiles.writeTiles(tiles, s"$dir/$next")
      }
    }

    pipeline.unpersistAll()
    if (commit) store.commit(next)
    Seq(d, chN, chW, chR, depW, depR, rebuildW).foreach(_.unpersist())
    if (!buildViews) return Map.empty
    val views = viewsOf(store, mapping, next)
    mark("result-views")
    views
  }

  // id/geometry columns are whatever the mapping names them (colType is
  // the authority, not the default "osm_id"/"geometry" spellings)
  private def idColName(t: TableConf): String =
    t.columns.find(_.colType == "id").map(_.name).getOrElse("osm_id")

  private def geomColName(t: TableConf): Option[String] =
    t.columns.find(c =>
      c.colType == "geometry" || c.colType == "validated_geometry").map(_.name)

  /** The id column of a base or generalized table (generalized tables
    * inherit the root source table's columns). */
  private def idColFor(mapping: CompiledMapping, name: String): String =
    idColName(mapping.conf.tables.getOrElse(name, rootConf(mapping, name)))

  private def rootConf(mapping: CompiledMapping, source: String): TableConf = {
    var src = source
    while (mapping.conf.generalizedTables.contains(src))
      src = mapping.conf.generalizedTables(src).source
    mapping.conf.tables(src)
  }

  /** Continuous mode (§3.2 `imposm run`): every .osc(.gz) landing in
    * `replicationDir` is applied as its own transaction, in path order —
    * replication sequence numbers sort lexicographically within a cycle
    * dir. Structured Streaming's file source + checkpoint provides
    * exactly-once discovery; StateStore commit provides idempotent apply.
    */
  def runStream(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      replicationDir: String, checkpointDir: String,
      srid: Int = 3857, expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // maxFilesPerTrigger caps each micro-batch (AvailableNow honors it):
    // a backlog replay then runs retention every N files — the live
    // minutely cadence — instead of once at the end of one giant batch.
    // ORDERING: within a micro-batch files apply in sequence order (parsed
    // from the filename), but ACROSS micro-batches Spark's file source
    // orders by modification time. Live replication satisfies that (files
    // land one per minute); a backlog whose mtimes don't follow sequence
    // order either runs uncapped (one sequence-sorted batch) or FAILS
    // LOUDLY — applyBatchFiles tracks the last applied sequence in the
    // store and aborts on regression (the reference's last.state.txt gate,
    // update/cmd.go:231-257) instead of silently corrupting state.
    val src = spark.readStream
      .format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"))
      .option("pathGlobFilter", "*.osc*")
    maxFilesPerTrigger.foreach(n => src.option("maxFilesPerTrigger", n))
    src.load(replicationDir)
      .select("path")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no pre-sort: applyBatchFiles orders by parsed sequence itself
        val files = batch.select("path").collect().map(_.getString(0)).toSeq
        applyBatchFiles(spark, mapping, stateDir, files, srid,
          expireDir, expireZoom, batchId = Some(batchId))
      }
      .start()
  }

  /** Replication sequence parsed from a change-file path: the basename
    * (minus `.osc`/`.osc.gz`) must be ALL digits — the convention every
    * replication layout here uses (Replication.download writes
    * `%09d.osc.gz`). None otherwise. Deliberately strict: a trailing-digit
    * parse would read `hotfix-v2.osc` as sequence 2 and wedge a live
    * stream at sequence 50000 in a crash-restart loop; a manually named
    * file must hit the documented exemption instead. */
  private[streaming] def fileSeq(path: String): Option[Long] = {
    val base = new org.apache.hadoop.fs.Path(path).getName
      .stripSuffix(".gz").stripSuffix(".osc")
    if (base.nonEmpty && base.forall(_.isDigit)) base.toLongOption else None
  }

  /** The body of one [[runStream]] micro-batch: apply each change file as
    * its own committed transaction (sequence order), then run retention.
    * Split out so the long-stream soak (Bench / RunStreamSpec) can drive
    * the exact production maintenance path — apply + compaction + vacuum —
    * without a streaming source in the loop.
    *
    * Sequence-order gate (r10 verdict #3): with `maxFilesPerTrigger` set,
    * cross-batch delivery order is file MTIME — replaying a backlog with
    * non-monotonic mtimes would silently apply diffs out of order. The
    * store tracks the last applied sequence (parsed from the filename);
    * a file whose sequence regresses below it ABORTS the batch with a
    * clear error — the reference's last.state.txt gate
    * (update/cmd.go:231-257). Skipping instead would LOSE the diff: the
    * stream checkpoint never re-delivers a file, so a regressed sequence
    * here is a never-applied straggler, not a duplicate. The one sanctioned
    * re-delivery — the same micro-batch replayed after a crash (same
    * `batchId` AND same first file: a rebuilt checkpoint restarts
    * batchIds at 0, so replay identity needs the batch's composition
    * too) — rolls the baseline back to the pre-batch sequence and
    * re-applies idempotently (ST2). Files with no parseable sequence are
    * exempt (manually named change files).
    */
  def applyBatchFiles(spark: SparkSession, mapping: CompiledMapping,
      stateDir: String, files: Seq[String], srid: Int = 3857,
      expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom,
      batchId: Option[Long] = None): Unit = {
    val store = new StateStore(spark, stateDir)
    // sequence order within the batch; path order breaks ties and orders
    // sequence-less names (zero-padded names make the two identical)
    val ordered = files.sortBy(p => (fileSeq(p).getOrElse(Long.MaxValue), p))
    val firstName = ordered.headOption
      .map(new org.apache.hadoop.fs.Path(_).getName).getOrElse("-")
    val prev = store.readReplSeq
    val seqBefore = prev match {
      case Some((_, bid, before, first))
        if batchId.contains(bid) && first == firstName => before // replay
      case Some((last, _, _, _)) => last
      case None => Long.MinValue
    }
    var baseline = seqBefore
    var last = math.max(prev.map(_._1).getOrElse(Long.MinValue), seqBefore)
    ordered.foreach { p =>
      val s = fileSeq(p)
      s.foreach { sq =>
        if (sq <= baseline) throw new IllegalStateException(
          s"out-of-order replication file $p: sequence $sq <= last applied " +
            s"$baseline. With maxFilesPerTrigger set, micro-batches are " +
            "delivered in file-mtime order; replay backlogs whose mtimes " +
            "don't follow sequence order uncapped (one sequence-sorted " +
            "batch), or delete replseq.txt in the state dir to force.")
      }
      applyDiff(spark, mapping, stateDir, OsmXml.readDiff(spark, p).toDF(), srid,
        expireDir = expireDir, expireZoom = expireZoom, buildViews = false)
      s.foreach { sq =>
        baseline = sq
        last = math.max(last, sq)
        store.writeReplSeq(last, batchId.getOrElse(-1L), seqBefore, firstName)
      }
    }
    // retention: drop version dirs no longer referenced by the
    // committed manifests (segments fold into a fresh base every
    // maxSegments-th write, so old segment dirs become unreferenced
    // in bounded time — without this a long stream accumulates one
    // ins/del dir pair per table per batch forever)
    if (files.nonEmpty) maintain(spark, mapping, stateDir)
  }

  /** Retention pass over every store table (elements, reverse-ref indexes,
    * output tables): drop version dirs nothing committed references. This
    * is exactly what [[runStream]] runs after each micro-batch. */
  def maintain(spark: SparkSession, mapping: CompiledMapping,
      stateDir: String, keep: Int = 2): Unit = {
    val store = new StateStore(spark, stateDir)
    store.vacuum(ElementTables ++ Seq("wayrefs", "relrefs") ++
      allTableNames(mapping).map(tbl), keep = keep)
  }
}
