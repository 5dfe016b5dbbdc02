package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** OSM elements as the generator holds them. Coordinates are rounded to
  * the PBF grid (1e-7 degrees) so the `.pbf` and the `.osc` files carry
  * identical values. */
final case class Node(id: Long, lon: Double, lat: Double, tags: Map[String, String])
final case class Way(id: Long, refs: Vector[Long], tags: Map[String, String])
/** `kind`: 0 node, 1 way, 2 relation (the PBF member-type codes). */
final case class Member(id: Long, kind: Int, role: String)
final case class Relation(id: Long, members: Vector[Member], tags: Map[String, String])

/** A seeded synthetic OSM extract; [[Changes]] edits it in place.
  *
  * The extract is a grid of tiles. Every tile is drawn from its own random
  * stream (seed, tile index), so tiles generate independently and in
  * parallel, and no tile is a copy of another. A tile is a small town:
  *
  *  - a street grid whose crossings are shared junction nodes; streets are
  *    cut into ways of heavy-tailed length (Pareto in segments) with
  *    heavy-tailed runs of untagged shape nodes between junctions;
  *  - buildings (closed 4- or 8-node ways) in the blocks, large and small landuse
  *    areas, POI nodes, and tagged nodes and ways that match no table;
  *  - a multipolygon whose outer ring is several untagged ways, sometimes
  *    with an inner ring;
  *  - bus and bicycle routes over street ways with stop nodes, and a
  *    route_master over the bus routes (a nested sub-relation).
  *
  * Most nodes are untagged, about 11 % of elements are ways and well under
  * 1 % relations, like real extracts.
  */
final class World(
    val nodes: mutable.LongMap[Node],
    val ways: mutable.LongMap[Way],
    val relations: mutable.LongMap[Relation]) {

  def elementCount: Long = nodes.size.toLong + ways.size + relations.size

  private var nextNode = 900000000000L
  private var nextWay = 900000000000L
  def newNodeId(): Long = { nextNode += 1; nextNode }
  def newWayId(): Long = { nextWay += 1; nextWay }
}

object World {

  /** Tile size in degrees; tiles sit on a 40-column grid. */
  val TileLon = 0.012
  val TileLat = 0.009
  private val Cols = 40

  private def q(d: Double): Double = math.rint(d * 1e7) / 1e7

  /** Deterministic 64-bit mix of the run seed and a stream index. */
  def streamSeed(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Integer with a Pareto tail: `min` or more, mean well above it. */
  def pareto(r: SplittableRandom, min: Int, alpha: Double, cap: Int): Int =
    math.min(cap, (min / math.pow(1.0 - r.nextDouble(), 1.0 / alpha)).toInt)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  val Amenities = Vector("cafe", "restaurant", "bank", "pharmacy", "school")
  val Highways = Vector("primary", "secondary", "residential", "residential", "service")
  val Buildings = Vector("yes", "house", "commercial", "apartments")

  private final class TileOut {
    val nodes = Vector.newBuilder[Node]
    val ways = Vector.newBuilder[Way]
    val relations = Vector.newBuilder[Relation]
  }

  /** One tile; ids are tile-scoped so tiles never collide. */
  private def tile(seed: Long, t: Int): TileOut = {
    val r = new SplittableRandom(streamSeed(seed, t))
    val out = new TileOut
    val lon0 = 8.0 + (t % Cols) * TileLon
    val lat0 = 46.0 + (t / Cols) * TileLat
    var nNode = t * 100000L
    var nWay = t * 10000L
    var nRel = t * 1000L
    def node(lon: Double, lat: Double, tags: Map[String, String] = Map.empty): Long = {
      nNode += 1
      out.nodes += Node(nNode, q(lon), q(lat), tags)
      nNode
    }
    def way(refs: Vector[Long], tags: Map[String, String]): Long = {
      nWay += 1
      out.ways += Way(nWay, refs, tags)
      nWay
    }
    def rel(members: Vector[Member], tags: Map[String, String]): Long = {
      nRel += 1
      out.relations += Relation(nRel, members, tags)
      nRel
    }
    // closed rectangle; `mids` adds a node halfway along every side
    def rect(lon: Double, lat: Double, w: Double, h: Double,
        mids: Boolean = false): Vector[Long] = {
      val corners = Vector((lon, lat), (lon + w, lat), (lon + w, lat + h), (lon, lat + h))
      val pts = if (!mids) corners else corners.indices.flatMap { i =>
        val (x1, y1) = corners(i)
        val (x2, y2) = corners((i + 1) % 4)
        Seq((x1, y1), ((x1 + x2) / 2, (y1 + y2) / 2))
      }.toVector
      val ids = pts.map { case (x, y) => node(x, y) }
      ids :+ ids.head
    }

    // -- street grid: g x g junctions ------------------------------------------
    val g = 6
    val dx = TileLon * 0.8 / g
    val dy = TileLat * 0.8 / g
    val jx = Array.tabulate(g)(i => lon0 + TileLon * 0.1 + (i + 0.5) * dx)
    val jy = Array.tabulate(g)(j => lat0 + TileLat * 0.1 + (j + 0.5) * dy)
    val jlon = Array.tabulate(g, g)((i, _) => jx(i) + (r.nextDouble() - 0.5) * dx * 0.1)
    val jlat = Array.tabulate(g, g)((_, j) => jy(j) + (r.nextDouble() - 0.5) * dy * 0.1)
    val junction = Array.tabulate(g, g)((i, j) => node(jlon(i)(j), jlat(i)(j)))
    val shapeNodes = Vector.newBuilder[Long]
    val streetWays = Vector.newBuilder[Vector[Long]]
    // one street through the junctions `path` (grid positions)
    def street(s: Int, path: IndexedSeq[(Int, Int)]): Unit = {
      // heavy-tailed runs of shape nodes between consecutive junctions
      val segs = path.sliding(2).map { case Seq((ai, aj), (bi, bj)) =>
        val (ax, ay, bx, by) = (jlon(ai)(aj), jlat(ai)(aj), jlon(bi)(bj), jlat(bi)(bj))
        val k = pareto(r, 2, 1.5, 20) - 1 + r.nextInt(3)
        val mids = (1 to k).map { i =>
          val f = i.toDouble / (k + 1)
          val id = node(ax + (bx - ax) * f + (r.nextDouble() - 0.5) * dx * 0.05,
            ay + (by - ay) * f + (r.nextDouble() - 0.5) * dy * 0.05)
          shapeNodes += id
          id
        }
        junction(ai)(aj) +: mids.toVector
      }.toVector
      val hw = if (s == 0) "primary" else if (s == g) "secondary" else pick(r, Highways)
      val name = s"Street $t-$s"
      val ids = Vector.newBuilder[Long]
      var i = 0
      while (i < segs.length) {
        // way length in segments: Pareto, so a few ways span most of a street
        val len = pareto(r, 1, 1.3, segs.length - i)
        val (ei, ej) = path(i + len)
        val refs = segs.slice(i, i + len).flatten :+ junction(ei)(ej)
        val tags =
          if (r.nextDouble() < 0.08) Map("railway" -> "abandoned") // matches no table
          else {
            val base = Map("highway" -> hw, "name" -> name)
            if (r.nextDouble() < 0.3) base + ("ref" -> s"R${t % 97}") else base
          }
        ids += way(refs, tags)
        i += len
      }
      streetWays += ids.result()
    }
    for (j <- 0 until g) street(j, (0 until g).map(i => (i, j)))
    for (i <- 0 until g) street(g + i, (0 until g).map(j => (i, j)))

    // -- blocks: buildings ------------------------------------------------------
    for (i <- 0 until g - 1; j <- 0 until g - 1) {
      val nb = r.nextInt(3)
      for (b <- 0 until nb) {
        val bx = jx(i) + dx * (0.15 + 0.25 * b)
        val by = jy(j) + dy * (0.2 + r.nextDouble() * 0.4)
        val refs = rect(bx, by, dx * 0.12, dy * 0.15, mids = r.nextBoolean())
        val roll = r.nextDouble()
        val tags =
          if (roll < 0.1) Map("man_made" -> "shed") // matches no table
          else {
            val base = Map("building" -> pick(r, Buildings))
            if (roll < 0.4) base + ("name" -> s"House $t-$i-$j-$b")
            else if (roll < 0.6) base + ("addr:housenumber" -> s"${1 + r.nextInt(200)}")
            else base
          }
        way(refs, tags)
      }
    }

    // -- landuse: large areas pass the generalized filter, small ones fail ----
    val nLarge = 1 + r.nextInt(2)
    for (k <- 0 until nLarge) {
      val refs = rect(lon0 + TileLon * (0.05 + 0.45 * k), lat0 + TileLat * 0.55,
        0.003 + r.nextDouble() * 0.001, 0.002 + r.nextDouble() * 0.001)
      way(refs, Map("landuse" -> (if (r.nextBoolean()) "residential" else "park"),
        "name" -> s"Area $t-$k"))
    }
    for (k <- 0 until r.nextInt(3)) {
      val refs = rect(lon0 + TileLon * (0.1 + 0.25 * k), lat0 + TileLat * 0.05,
        0.0003, 0.0002)
      way(refs, Map("landuse" -> "meadow"))
    }

    // -- POIs and unmatched tagged nodes --------------------------------------
    val nPoi = g * g / 2 + r.nextInt(g)
    for (k <- 0 until nPoi) {
      val lon = lon0 + r.nextDouble() * TileLon
      val lat = lat0 + r.nextDouble() * TileLat
      val roll = r.nextDouble()
      val tags =
        if (roll < 0.7) Map("amenity" -> pick(r, Amenities), "name" -> s"Poi $t-$k")
        else if (roll < 0.85) Map("amenity" -> "parking") // value not mapped
        else Map("natural" -> "tree")                     // key not mapped
      node(lon, lat, tags)
    }

    // -- multipolygon: outer ring of several ways, optional inner ring --------
    if (r.nextDouble() < 0.8) {
      val cx = lon0 + TileLon * 0.5
      val cy = lat0 + TileLat * 0.3
      val n = 8 + r.nextInt(7)
      val ring = (0 until n).map { k =>
        val a = 2 * math.Pi * k / n
        val f = 0.85 + 0.15 * r.nextDouble()
        node(cx + math.cos(a) * 0.0015 * f, cy + math.sin(a) * 0.001 * f)
      }
      val parts = 2 + r.nextInt(3)
      val cuts = (0 to parts).map(p => p * n / parts)
      val outer = cuts.sliding(2).map { case Seq(a, b) =>
        val refs = (a to b).map(k => ring(k % n)).toVector
        val tags = if (r.nextBoolean()) Map.empty[String, String] else Map("barrier" -> "fence")
        Member(way(refs, tags), 1, "outer")
      }.toVector
      val inner =
        if (r.nextBoolean()) Vector(Member(way(rect(cx - 0.0003, cy - 0.0002, 0.0006, 0.0004),
          Map.empty), 1, "inner"))
        else Vector.empty
      rel(outer ++ inner, Map("type" -> "multipolygon",
        "landuse" -> (if (r.nextBoolean()) "forest" else "park"), "name" -> s"Wood $t"))
    }

    // -- routes over street ways + a route_master (nested relation) -----------
    val streets = streetWays.result()
    val shapes = shapeNodes.result()
    val busRoutes = Vector.newBuilder[Long]
    for (k <- 0 until 1 + r.nextInt(2)) {
      val a = streets(r.nextInt(g))
      val b = streets(g + r.nextInt(g))
      val stops = (0 until 1 + r.nextInt(3)).map(_ => Member(pick(r, shapes), 0, "stop"))
      val mode = if (k == 0 || r.nextBoolean()) "bus" else "bicycle"
      val id = rel(stops.toVector ++ (a ++ b).map(Member(_, 1, "")),
        Map("type" -> "route", "route" -> mode, "name" -> s"Line $t-$k"))
      if (mode == "bus") busRoutes += id
    }
    val bus = busRoutes.result()
    if (bus.nonEmpty)
      rel(bus.map(Member(_, 2, "")), Map("type" -> "route_master",
        "route_master" -> "bus", "name" -> s"Network $t"))
    out
  }

  /** Generate `tiles` tiles with at most `threads` threads; the result
    * depends only on (seed, tiles). */
  def generate(seed: Long, tiles: Int, threads: Int): World = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = (0 until tiles).map(t => pool.submit(() => tile(seed, t)))
      val w = new World(mutable.LongMap.empty, mutable.LongMap.empty, mutable.LongMap.empty)
      futures.foreach { f =>
        val o = f.get()
        o.nodes.result().foreach(n => w.nodes(n.id) = n)
        o.ways.result().foreach(x => w.ways(x.id) = x)
        o.relations.result().foreach(x => w.relations(x.id) = x)
      }
      w
    } finally pool.shutdown()
  }
}
