package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ImportPipeline
import graft.functions.GeomFunctions
import graft.operators.{Generalize, RelationAssembly, WayAssembly}
import graft.sinks.ParquetSink
import graft.sources.{OsmPbf, TagFilters}
import graft.streaming.StateStore

/** Import layers called one at a time from the benchmark, each forced by
  * an action so its span holds its own work. Returns the summed span time. */
object Layers {

  def importLayers(c: Ctx, pbf: Path, buckets: Int): Double = {
    val spark = c.spark
    val m = c.mapping
    val t = c.trace
    def shuffleBytes[T](body: => T): (T, Double) = {
      val e0 = c.engine.get.snapshot()
      val r = body
      (r, (c.engine.get.snapshot() - e0).shuffleWrite.toDouble)
    }
    val spans0 = t.spans.size

    val bundle = t("sources.pbf_parse") {
      val b = OsmPbf.read(spark, pbf.toString, Some(TagFilters(m)))
      val n = b.coords.count() + b.ways.count() + b.relations.count()
      c.metrics("sources.elems") = n.toDouble
      b
    }
    c.metrics("sources.pbf_parse_s") = t.times("sources.pbf_parse").sum
    c.metrics("sources.pbf_blobs") = OsmPbf.blobIndex(spark, pbf.toString).size.toDouble

    // the matchers see every tag here, so tags no table maps count as misses
    val raw = OsmPbf.read(spark, pbf.toString)
    raw.ways.count()
    t("mapping.match") {
      val (ntf, wtf, rtf) = (m.nodeTagFilter, m.wayTagFilter, m.relationTagFilter)
      val (pm, lm, gm) = (m.pointMatcher, m.lineStringMatcher, m.polygonMatcher)
      val (rm, mm) = (m.relationMatcher, m.relationMemberMatcher)
      val nodeHit = udf((tg: Map[String, String]) => pm.matchNode(ntf.filter(tg)).nonEmpty)
      val wayHit = udf { (tg: Map[String, String], closed: Boolean) =>
        val f = wtf.filter(tg)
        lm.matchWay(f, closed).nonEmpty || gm.matchWay(f, closed).nonEmpty
      }
      val relHit = udf { (tg: Map[String, String]) =>
        val f = rtf.filter(tg)
        gm.matchRelation(f).nonEmpty || rm.matchRelation(f).nonEmpty ||
          mm.matchRelation(f).nonEmpty
      }
      def tally(df: DataFrame, hit: org.apache.spark.sql.Column): (Long, Long) = {
        val r = df.filter(size(col("tags")) > 0)
          .agg(count(lit(1)), sum(when(hit, 1).otherwise(0))).head()
        (r.getLong(0), Option(r.get(1)).map(_.toString.toLong).getOrElse(0L))
      }
      val closed = size(col("refs")) >= 4 && col("refs").getItem(0) === element_at(col("refs"), -1)
      val parts = Seq(tally(raw.nodes, nodeHit(col("tags"))),
        tally(raw.ways, wayHit(col("tags"), closed)),
        tally(raw.relations, relHit(col("tags"))))
      c.metrics("mapping.matched_frac") = parts.map(_._2).sum.toDouble / parts.map(_._1).sum
    }
    c.metrics("mapping.match_s") = t.times("mapping.match").sum

    val coords = bundle.coords.select(col("id"), GeomFunctions.mercX(col("lon")).as("x"),
      GeomFunctions.mercY(col("lat")).as("y"))
    val (assembled, j1Bytes) = shuffleBytes(t("assembly.j1") {
      val a = WayAssembly.resolve(bundle.ways, coords).persist()
      a.write.format("noop").mode("overwrite").save()
      a
    })
    val nAssembled = assembled.count()
    c.metrics("assembly.j1_s") = t.times("assembly.j1").sum
    c.metrics("assembly.j1_shuffle_write_bytes") = j1Bytes
    c.metrics("assembly.refs_resolved_frac") = nAssembled.toDouble / bundle.ways.count()

    val mpRels = bundle.relations.filter(col("tags").getItem("type") === "multipolygon")
    t("assembly.multipolygon") {
      val members = mpRels.select(col("id").as("rel_id"), explode(col("members")).as("m"))
        .filter(col("m.type") === 1).select(col("rel_id"), col("m.id").as("m_id"))
      val built = RelationAssembly.multiPolygons(spark, members,
        assembled.select("id", "refs", "xs", "ys"), 3857).count()
      c.metrics("assembly.multipolygon_built_frac") = built.toDouble / mpRels.count()
    }
    c.metrics("assembly.multipolygon_s") = t.times("assembly.multipolygon").sum

    t("geometry.build") {
      val ring = size(col("refs")) >= 4 && col("refs").getItem(0) === element_at(col("refs"), -1)
      val g = assembled.select(
        GeomFunctions.lineWkb(3857)(col("xs"), col("ys")).as("l"),
        when(ring, GeomFunctions.polygonValidWkb(3857)(col("xs"), col("ys"))).as("p"),
        ring.as("ring"))
        .agg(count(col("l")), count(col("p")), count(lit(1)), sum(when(col("ring"), 1).otherwise(0)))
        .head()
      val points = bundle.nodes.select(GeomFunctions.pointWkb(3857)(
        GeomFunctions.mercX(col("lon")), GeomFunctions.mercY(col("lat"))).as("g"))
        .agg(count(col("g")), count(lit(1))).head()
      val valid = g.getLong(0) + g.getLong(1) + points.getLong(0)
      val total = g.getLong(2) + g.getLong(3) + points.getLong(1)
      c.metrics("geometry.valid_frac") = valid.toDouble / total
    }
    c.metrics("geometry.build_s") = t.times("geometry.build").sum
    assembled.unpersist()

    val pipeline = new ImportPipeline(spark, m)
    val tables = t("pipeline.stages") {
      val tb = pipeline.run(bundle)
      pipeline.materializeStages()
      tb
    }
    c.metrics("pipeline.stages_s") = t.times("pipeline.stages").sum
    c.metrics("pipeline.cached_bytes") =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

    val gens = t("generalize") {
      val g = Generalize(spark, m, tables)
      c.metrics("generalize.rows") = g.values.map(_.count()).sum.toDouble
      g
    }
    c.metrics("generalize.s") = t.times("generalize").sum

    val out = c.work.resolve("layer-export")
    t("sinks.export") {
      val sink = new ParquetSink(out.toString)
      (tables ++ gens).foreach { case (n, df) => sink.write(n, df) }
    }
    c.metrics("sinks.export_s") = t.times("sinks.export").sum
    c.metrics("sinks.export_bytes") = c.census(out)._1.toDouble

    val store = new StateStore(spark, c.work.resolve("layer-store").toString)
    store.setHashBuckets(buckets)
    t("store.element_write") {
      store.writeBucketed("coords", 0, bundle.coords, "id")
      store.writeBucketed("nodes", 0, bundle.nodes, "id")
      store.writeBucketed("ways", 0, bundle.ways, "id")
      store.writeBucketed("relations", 0, bundle.relations, "id")
    }
    c.metrics("store.element_write_s") = t.times("store.element_write").sum
    t("store.table_write") {
      (tables ++ gens).foreach { case (n, df) => store.writeBucketed(s"tbl_$n", 0, df, "osm_id") }
    }
    c.metrics("store.table_write_s") = t.times("store.table_write").sum
    pipeline.unpersistAll()
    c.deleteTree(out)
    c.deleteTree(c.work.resolve("layer-store"))
    t.spans.drop(spans0).filter(_.parent == -1).map(_.seconds).sum
  }
}

