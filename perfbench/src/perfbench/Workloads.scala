package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{OsmPbf, OsmXml}
import graft.streaming.{DiffPipeline, Replication, StateStore}

/** Input sizes, chosen so one run of either workload ends in about a
  * minute on 4 cores: the program's fixed costs (thousands of bucket files
  * per import, tens of small jobs per diff batch) dominate at this scale. */
object Sizes {
  /** Tiles of each workload's extract; a tile holds about 580 elements. */
  val ImportTiles = 3
  val MinutelyTiles = 4
  val SeqElements = 60
  /** Sequences a minutely run applies at least, whatever `--seconds` says. */
  val MinSequences = 2
  /** Bucket count of the store the CLI import creates (DiffPipeline.init). */
  val CliBuckets = 1024
  /** Bucket count of the minutely workload's store, sized to the extract. */
  val StoreBuckets = 64
  /** Expire-tile zoom: tiles a few hundred metres wide. */
  val ExpireZoom = 16
}

/** Steps both workloads share. */
object Steps {

  /** Generate the extract and write it as one `.pbf`. */
  def extract(c: Ctx, tiles: Int): (World, Path) = {
    val w = World.generate(c.args.seed, tiles, c.cpus)
    val pbf = c.work.resolve("input.pbf")
    c.writeFile(pbf, Formats.toBytes(Formats.writePbf(w, _)))
    (w, pbf)
  }

  def importCli(c: Ctx, pbf: Path, cache: Path, export: Path): Unit =
    c.cli("import", "-mapping", c.args.mapping, "-read", pbf.toString, "-write",
      "-cachedir", cache.toString, "-connection", export.toString, "-quiet")

  /** Expired z/x/y tiles an apply wrote under `dir`. */
  def expiredTiles(dir: Path): Set[(Long, Long)] =
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .map(_.split("/")).collect { case Array(_, x, y) => (x.toLong, y.toLong) }.toSet

  /** Row filter: geometry touches one of `tiles`. */
  def inTiles(tiles: Set[(Long, Long)]): DataFrame => DataFrame = {
    val zoom = Sizes.ExpireZoom
    val hit = udf((wkb: Array[Byte]) => wkb != null &&
      graft.operators.ExpireTiles.tilesForWkb(wkb, zoom).exists(t => tiles.contains((t.x, t.y))))
    df => df.filter(hit(col("geometry")))
  }

  /** Largest segment count over the tables' manifests at version `seq`,
    * and the number of version directories in the store. */
  def storeShape(store: Path, seq: Long): (Double, Double) = {
    val tables = Files.list(store).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    val segs = tables.map(_.resolve(s"v$seq").resolve("_manifest")).filter(Files.exists(_))
      .map(m => Files.readAllLines(m).asScala.count(_.startsWith("SEG")))
    val versions = tables.map(t => Files.list(t).iterator().asScala
      .count(_.getFileName.toString.matches("v\\d+")))
    (if (segs.isEmpty) 0.0 else segs.max.toDouble, versions.sum.toDouble)
  }
}

/** Change files published one sequence at a time to a `file://`
  * replication endpoint, with the checks that follow each commit. */
final class Feed(c: Ctx, world: World, val store: Path) {
  val endpoint: Path = c.work.resolve("endpoint")
  val expire: Path = c.work.resolve("expire")
  private var seq = 0L

  /** The next change set: (sequence, changes, expected rows afterwards). */
  def next(): (Long, Vector[Change], Truth.Rows) = {
    seq += 1
    val ch = Changes.minutely(world, c.args.seed, seq, Sizes.SeqElements)
    (seq, ch, Truth.rows(world))
  }

  private def stamp(s: Long) = Instant.ofEpochSecond(1700000000L + 60 * s)

  def publish(s: Long, ch: Vector[Change]): Unit = {
    val base = endpoint.resolve(Replication.sequencePath(s))
    c.writeFile(base.resolveSibling(base.getFileName + ".osc.gz"),
      Formats.toBytes(Formats.writeOsc(ch, _)))
    c.writeFile(base.resolveSibling(base.getFileName + ".state.txt"),
      Formats.toBytes(Replication.writeState(Replication.State(s, stamp(s)), _)))
  }

  /** publish → `run -once` → committed; returns the seconds it took. */
  def viaCli(s: Long, ch: Vector[Change]): Double = c.timed(c.trace("cli.run") {
    publish(s, ch)
    c.cli("run", "-mapping", c.args.mapping, "-cachedir", store.toString,
      "-replication-url", endpoint.toUri.toString, "-from", "1",
      "-expiretiles-dir", expire.toString, "-expiretiles-zoom", Sizes.ExpireZoom.toString,
      "-once", "-quiet")
  })._2

  /** The same sequence through the layers `run -once` drives, one span
    * each; returns the summed seconds of fetch, parse, apply and vacuum. */
  def viaLayers(s: Long, ch: Vector[Change]): Double = {
    val t = c.trace
    val e = c.engine.get
    t("publish")(publish(s, ch))
    val downloads = c.work.resolve("layer-downloads")
    val (_, fetch) = c.timed(t("replication.fetch")(Replication.fetchAvailable(
      endpoint.toUri.toString, s, downloads.toString, Replication.hadoopFetch(c.spark))))
    val (diff, parse) = c.timed(t("sources.osc_parse") {
      val d = OsmXml.readDiff(c.spark, downloads.resolve(f"$s%09d.osc.gz").toString).toDF()
        .cache()
      d.count()
      d
    })
    val e0 = e.snapshot()
    val (_, apply) = c.timed(t("diff.apply")(DiffPipeline.applyDiff(c.spark, c.mapping,
      store.toString, diff, expireDir = Some(expire.toString),
      expireZoom = Sizes.ExpireZoom, buildViews = false)))
    val d = e.snapshot() - e0
    diff.unpersist()
    val (_, vacuum) = c.timed(t("store.vacuum")(
      DiffPipeline.maintain(c.spark, c.mapping, store.toString)))
    Replication.writeLocalState(c.spark, store.toString, Replication.State(s, stamp(s)))
    val version = new StateStore(c.spark, store.toString).currentSeq
    c.metrics("replication.fetch_s") = fetch
    c.metrics("sources.osc_parse_s") = parse
    c.metrics("diff.apply_s") = apply
    c.metrics("diff.jobs_per_seq") = d.jobs.toDouble
    c.metrics("diff.tasks_per_seq") = d.tasks.toDouble
    c.metrics("store.vacuum_s") = vacuum
    c.metrics("expire.tiles_per_seq") = expiredTiles(version).size.toDouble
    val (segments, versions) = Steps.storeShape(store, version)
    c.metrics("store.segments_max") = segments
    c.metrics("store.versions") = versions
    fetch + parse + apply + vacuum
  }

  private def expiredTiles(version: Long) = Steps.expiredTiles(expire.resolve(version.toString))

  /** Re-read the committed rows in the sequence's expired tiles and check
    * them; returns the seconds the re-read took.
    *
    * Checked: the replication pointer; for every table with expiring
    * geometry, the rows of the changed elements, of ways through changed
    * nodes and of relations over any of them (new values present, deleted
    * rows absent); the relation-member table, which expires no tiles, in
    * full. */
  def reread(s: Long, ch: Vector[Change], truth: Truth.Rows): Double = {
    c.check(s"replication pointer at $s",
      Replication.readLocalState(c.spark, store.toString).exists(_.sequence == s))
    val filter = Steps.inTiles(expiredTiles(new StateStore(c.spark, store.toString).currentSeq))
    // two re-reads, the median reported: one read is a second or two
    val reads = (1 to 2).map(_ => c.timed(c.trace("store.read")(c.readRows(store.toString,
      Some(df => if (df.columns.contains("member")) df else filter(df))))))
    val rows = reads.last._1
    val read = c.median(reads.map(_._2))
    val nodes = ch.filter(_.kind == 0).map(_.id).toSet
    val ways = ch.filter(_.kind == 1).map(_.id).toSet ++
      world.ways.valuesIterator.filter(_.refs.exists(nodes)).map(_.id)
    val rels = ch.filter(_.kind == 2).map(_.id).toSet ++
      world.relations.valuesIterator.filter(_.members.exists(m =>
        (m.kind == 0 && nodes(m.id)) || (m.kind == 1 && ways(m.id)))).map(_.id)
    rows.keys.toSeq.sorted.foreach { t =>
      val ids = if (t == "route_members") None else Some(Truth.osmIds(t, nodes, ways, rels))
      c.check(s"sequence $s $t",
        c.sameRows(t, truth.getOrElse(t, Map.empty), rows(t), ids))
    }
    c.metrics("store.read_s") = read
    read
  }
}

/** `import`: the CLI imports one generated `.pbf` into a fresh store and
  * exports every table as Parquet (`-connection`). */
object ImportWorkload {

  def run(c: Ctx): Unit = {
    // setup is cheap here, so it runs three times and reports the median
    val setups = (1 to 3).map(_ => c.timed {
      val (w, p) = Steps.extract(c, Sizes.ImportTiles)
      (w, p, Truth.rows(w))
    })
    val (world, pbf, truth) = setups.last._1
    val setup = c.median(setups.map(_._2))
    c.metrics("setup_s") = setup
    val elems = world.elementCount.toDouble
    val walls = Vector.newBuilder[Double]
    val reads = Vector.newBuilder[Double]

    /** One CLI import into a fresh store, then the checks; `after` runs on
      * the store before it is deleted. */
    def rep(i: Int)(after: (Path, Double) => Unit): Unit = {
      val dir = c.work.resolve(s"rep$i")
      val cache = dir.resolve("cache")
      val out = dir.resolve("export")
      c.attempt("import")(c.timed(c.trace("cli.import")(Steps.importCli(c, pbf, cache, out)))._2)
        .foreach { wall =>
          walls += wall
          val (rows, read) = c.timed(c.readRows(cache.toString))
          reads += read
          c.checkAll("import store", truth, rows)
          truth.foreach { case (table, rs) =>
            val n = c.spark.read.parquet(out.resolve("import").resolve(table).toString).count()
            c.check(s"import export $table rows", n == rs.values.map(_.size).sum)
          }
          val (bytes, files) = c.census(cache, out)
          c.metrics("store_bytes") = bytes.toDouble
          c.metrics("store_files") = files.toDouble
          after(cache, wall)
        }
      c.deleteTree(dir)
    }

    if (!c.args.trace) {
      val start = System.nanoTime()
      var i = 0
      do { rep(i)((_, _) => ()); i += 1 } while (!c.deadlineReached(start))
      val w = walls.result()
      c.metrics("wall_s") = c.median(w)
      c.metrics("seq_p50_s") = c.median(w)
      c.metrics("elems_per_s") = elems / c.median(w)
      c.metrics("read_p50_s") = c.median(reads.result())
    } else rep(0) { (cache, wall) =>
      c.metrics("cli.traced_s") = wall
      c.metrics("cli.residual_s") = wall - Layers.importLayers(c, pbf, Sizes.CliBuckets)
      // one minutely sequence through the diff layers, on the imported store
      val feed = new Feed(c, world, cache)
      val (s, ch, after) = feed.next()
      c.attempt(s"sequence $s") {
        feed.viaLayers(s, ch)
        feed.reread(s, ch, after)
      }
    }
  }
}

/** `minutely`: small change files published to a `file://` replication
  * endpoint one sequence at a time, each applied with `run -once`, then the
  * committed rows in the sequence's expired tiles re-read and checked. */
object MinutelyWorkload {

  def run(c: Ctx): Unit = {
    val store = c.work.resolve("store")
    val ((feed, pbf), setup) = c.timed {
      val (w, p) = Steps.extract(c, Sizes.MinutelyTiles)
      // the CLI import's own store initialization, at a bucket count sized
      // to the extract
      DiffPipeline.init(c.spark, c.mapping, store.toString, OsmPbf.read(c.spark, p.toString),
        nBuckets = Sizes.StoreBuckets)
      (new Feed(c, w, store), p)
    }
    c.metrics("setup_s") = setup

    /** (publish → committed s, re-read s, changed elements) */
    def cliSequence(): Option[(Double, Double, Int)] = {
      val (s, ch, truth) = feed.next()
      c.attempt(s"sequence $s") {
        val commit = feed.viaCli(s, ch)
        (commit, feed.reread(s, ch, truth), ch.size)
      }
    }

    val start = System.nanoTime()
    val seqs = Vector.newBuilder[(Double, Double, Int)]
    var n = 0
    do { cliSequence().foreach(seqs += _); n += 1 }
    while (n < Sizes.MinSequences || (!c.args.trace && !c.deadlineReached(start)))
    val done = seqs.result()
    if (!c.args.trace) {
      c.metrics("wall_s") = c.median(done.map(x => x._1 + x._2))
      c.metrics("seq_p50_s") = c.median(done.map(_._1))
      c.metrics("read_p50_s") = c.median(done.map(_._2))
      c.metrics("elems_per_s") = done.map(_._3).sum / done.map(x => x._1 + x._2).sum
      val (bytes, files) = c.census(store)
      c.metrics("store_bytes") = bytes.toDouble
      c.metrics("store_files") = files.toDouble
    } else {
      // the same sequences as an untraced run, then one through the layers
      val cli = c.median(done.map(_._1))
      c.metrics("cli.traced_s") = cli
      val (s, ch, truth) = feed.next()
      c.attempt(s"sequence $s") {
        c.metrics("cli.residual_s") = cli - feed.viaLayers(s, ch)
        feed.reread(s, ch, truth)
      }
      Layers.importLayers(c, pbf, Sizes.StoreBuckets)
    }
  }
}

/** Generator self-test: the same seed gives byte-identical files, another
  * seed gives different ones. Prints one JSON line; exits 1 on failure. */
object SelfTest {
  private def files(seed: Long): (World, Array[Byte], Array[Byte]) = {
    val w = World.generate(seed, Sizes.MinutelyTiles, Runtime.getRuntime.availableProcessors())
    val pbf = Formats.toBytes(Formats.writePbf(w, _))
    val osc = Formats.toBytes(Formats.writeOsc(Changes.minutely(w, seed, 1, 200), _))
    (w, pbf, osc)
  }

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def run(): Unit = {
    val (w, p1, o1) = files(42)
    val (_, p2, o2) = files(42)
    val (_, p3, o3) = files(43)
    val same = java.util.Arrays.equals(p1, p2) && java.util.Arrays.equals(o1, o2)
    val differ = !java.util.Arrays.equals(p1, p3) && !java.util.Arrays.equals(o1, o3)
    val n = w.elementCount.toDouble
    val untagged = w.nodes.valuesIterator.count(_.tags.isEmpty) / w.nodes.size.toDouble
    println(f"""{"same_seed_identical": $same, "other_seed_differs": $differ, """ +
      f""""elements": ${n.toLong}, "untagged_node_share": $untagged%.3f, """ +
      f""""way_share": ${w.ways.size / n}%.3f, "relation_share": ${w.relations.size / n}%.4f, """ +
      s""""pbf_sha256": "${sha(p1)}", "osc_sha256": "${sha(o1)}"}""")
    if (!(same && differ)) sys.exit(1)
  }
}
