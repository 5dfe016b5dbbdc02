package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One element of a change file with its final operation. */
sealed trait Change { def kind: Int; def id: Long }
final case class Upsert(elem: AnyRef, created: Boolean) extends Change {
  def kind: Int = elem match { case _: Node => 0; case _: Way => 1; case _: Relation => 2 }
  def id: Long = elem match {
    case n: Node => n.id; case w: Way => w.id; case r: Relation => r.id
  }
}
final case class Delete(kind: Int, id: Long, last: AnyRef) extends Change

/** Seeded change sets over a [[World]]. Each generator mutates the world in
  * place (so the world stays the ground truth after the change) and returns
  * the change set, one entry per touched element with its final state — a
  * change file never names an element twice.
  */
object Changes {

  private final class Recorder(w: World) {
    private val before = mutable.Map.empty[(Int, Long), Option[AnyRef]]
    private def note(kind: Int, id: Long): Unit =
      if (!before.contains(kind -> id)) before(kind -> id) = kind match {
        case 0 => w.nodes.get(id); case 1 => w.ways.get(id); case _ => w.relations.get(id)
      }
    def touched(kind: Int, id: Long): Boolean = before.contains(kind -> id)
    def put(n: Node): Unit = { note(0, n.id); w.nodes(n.id) = n }
    def put(x: Way): Unit = { note(1, x.id); w.ways(x.id) = x }
    def put(x: Relation): Unit = { note(2, x.id); w.relations(x.id) = x }
    def delNode(id: Long): Unit = { note(0, id); w.nodes.remove(id) }
    def delWay(id: Long): Unit = { note(1, id); w.ways.remove(id) }
    def result(): Vector[Change] = before.toVector.sortBy(_._1).flatMap {
      case ((kind, id), old) =>
        val now: Option[AnyRef] = kind match {
          case 0 => w.nodes.get(id); case 1 => w.ways.get(id); case _ => w.relations.get(id)
        }
        (old, now) match {
          case (_, Some(e)) => Some(Upsert(e, created = old.isEmpty))
          case (Some(o), None) => Some(Delete(kind, id, o))
          case (None, None) => None
        }
    }
  }

  /** Candidate pools, read off the current world. */
  private final class Pools(w: World) {
    private def sorted(ids: Iterable[Long]): Array[Long] = ids.toArray.sorted
    val pois: Array[Long] = sorted(w.nodes.valuesIterator
      .filter(n => n.tags.get("amenity").exists(World.Amenities.contains)).map(_.id).toSeq)
    private val referenced = mutable.LongMap.empty[Int]
    private val roadSet = mutable.LongMap.empty[Boolean]
    w.ways.valuesIterator.foreach { x =>
      if (x.tags.contains("highway")) roadSet(x.id) = true
      x.refs.foreach(r => referenced(r) = referenced.getOrElse(r, 0) + 1)
    }
    val roads: Array[Long] = sorted(roadSet.keys)
    // shape nodes: untagged, inside exactly one road way (not a junction)
    val shapes: Array[Long] = {
      val inRoad = mutable.LongMap.empty[Boolean]
      roads.foreach(id => w.ways(id).refs.foreach(r => inRoad(r) = true))
      sorted(w.nodes.valuesIterator.filter(n => n.tags.isEmpty &&
        inRoad.contains(n.id) && referenced.getOrElse(n.id, 0) == 1).map(_.id).toSeq)
    }
    val buildings: Array[Long] = sorted(w.ways.valuesIterator
      .filter(_.tags.contains("building")).map(_.id).toSeq)
    val multipolygons: Array[Long] = sorted(w.relations.valuesIterator
      .filter(_.tags.get("type").contains("multipolygon")).map(_.id).toSeq)
    val routes: Array[Long] = sorted(w.relations.valuesIterator
      .filter(_.tags.get("type").contains("route")).map(_.id).toSeq)
    val mpOuterWays: Array[Long] = multipolygons.flatMap(id =>
      w.relations(id).members.filter(m => m.kind == 1 && m.role == "outer").map(_.id))
  }

  private def pick(r: SplittableRandom, xs: Array[Long]): Option[Long] =
    if (xs.isEmpty) None else Some(xs(r.nextInt(xs.length)))

  private def jitter(r: SplittableRandom, d: Double): Double =
    math.rint((d + (r.nextDouble() - 0.5) * 2e-4) * 1e7) / 1e7

  /** A weighted menu of edits; each returns the number of elements it
    * touched (0 when its candidate was already touched). */
  private type Edit = () => Int

  private def run(r: SplittableRandom, target: Int, menu: Seq[(Double, Edit)]): Unit = {
    val total = menu.map(_._1).sum
    var done = 0
    var tries = 0
    while (done < target && tries < target * 20) {
      var x = r.nextDouble() * total
      val edit = menu.find { case (wt, _) => x -= wt; x < 0 }.getOrElse(menu.last)._2
      done += edit()
      tries += 1
    }
  }

  /** One replication sequence's change: about `target` elements of mixed
    * kinds and operations — mostly POI edits, node moves, renames and
    * deletes, plus retags that move rows between tables, way splits with
    * route member edits, member drops, and deletes of nodes, ways and
    * multipolygon rings that other elements still reference. */
  def minutely(w: World, seed: Long, seq: Long, target: Int): Vector[Change] = {
    val r = new SplittableRandom(World.streamSeed(seed, 1000000L + seq))
    val rec = new Recorder(w)
    val p = new Pools(w)
    var serial = 0
    def label(s: String): String = { serial += 1; s"$s s$seq-$serial" }

    def onNode(ids: Array[Long])(f: Node => Int): Edit = () =>
      pick(r, ids).filter(id => !rec.touched(0, id) && w.nodes.contains(id))
        .map(id => f(w.nodes(id))).getOrElse(0)
    def onWay(ids: Array[Long])(f: Way => Int): Edit = () =>
      pick(r, ids).filter(id => !rec.touched(1, id) && w.ways.contains(id))
        .map(id => f(w.ways(id))).getOrElse(0)
    def onRel(ids: Array[Long])(f: Relation => Int): Edit = () =>
      pick(r, ids).filter(id => !rec.touched(2, id) && w.relations.contains(id))
        .map(id => f(w.relations(id))).getOrElse(0)

    val poiModify = onNode(p.pois) { n =>
      rec.put(n.copy(lon = jitter(r, n.lon), lat = jitter(r, n.lat),
        tags = n.tags + ("name" -> label("Poi")))); 1
    }
    // a new POI next to an existing one
    val poiCreate: Edit = () => pick(r, p.pois).flatMap(w.nodes.get).map { base =>
      rec.put(Node(w.newNodeId(), jitter(r, base.lon), jitter(r, base.lat),
        Map("amenity" -> World.Amenities(r.nextInt(World.Amenities.length)),
          "name" -> label("New"))))
      1
    }.getOrElse(0)
    val poiDelete = onNode(p.pois) { n => rec.delNode(n.id); 1 }
    val shapeMove = onNode(p.shapes) { n =>
      rec.put(n.copy(lon = jitter(r, n.lon), lat = jitter(r, n.lat))); 1
    }
    val roadRename = onWay(p.roads) { x =>
      rec.put(x.copy(tags = x.tags + ("name" -> label("Road")))); 1
    }
    val buildingRename = onWay(p.buildings) { x =>
      rec.put(x.copy(tags = x.tags + ("name" -> label("House")) +
        ("building" -> World.Buildings(r.nextInt(World.Buildings.length))))); 1
    }
    val buildingDelete = onWay(p.buildings) { x => rec.delWay(x.id); 1 }
    val areaRename = onRel(p.multipolygons) { x =>
      rec.put(x.copy(tags = x.tags + ("name" -> label("Wood")))); 1
    }
    val poiUnmatch = onNode(p.pois) { n =>
      rec.put(n.copy(tags = n.tags + ("amenity" -> "parking"))); 1
    }
    val buildingToLanduse = onWay(p.buildings) { x =>
      rec.put(x.copy(tags = Map("landuse" -> "residential", "name" -> label("Lot")))); 1
    }
    // split a road way in two; routes that use it list both halves
    val waySplit = onWay(p.roads) { x =>
      if (x.refs.length < 3) 0
      else {
        val m = 1 + r.nextInt(x.refs.length - 2)
        val tail = Way(w.newWayId(), x.refs.drop(m), x.tags)
        rec.put(x.copy(refs = x.refs.take(m + 1)))
        rec.put(tail)
        var n = 2
        p.routes.foreach { rid =>
          val rel = w.relations(rid)
          val at = rel.members.indexWhere(mm => mm.kind == 1 && mm.id == x.id)
          if (at >= 0) {
            val (a, b) = rel.members.splitAt(at + 1)
            rec.put(rel.copy(members = a ++ (Member(tail.id, 1, "") +: b)))
            n += 1
          }
        }
        n
      }
    }
    val memberDrop = onRel(p.routes) { x =>
      val stops = x.members.indices.filter(i => x.members(i).kind == 0)
      if (stops.size < 2) 0
      else {
        val i = stops(r.nextInt(stops.size))
        rec.put(x.copy(members = x.members.patch(i, Nil, 1))); 1
      }
    }
    val routeRename = onRel(p.routes) { x =>
      rec.put(x.copy(tags = x.tags + ("name" -> label("Line")))); 1
    }
    // deletes of elements other elements still reference: the referring
    // way or relation no longer builds and leaves its tables
    val shapeDelete = onNode(p.shapes) { n => rec.delNode(n.id); 1 }
    val roadDelete = onWay(p.roads) { x => rec.delWay(x.id); 1 }
    val ringDelete = onWay(p.mpOuterWays) { x => rec.delWay(x.id); 1 }
    val menu = Seq(
      30.0 -> shapeMove, 20.0 -> poiModify, 8.0 -> poiCreate, 4.0 -> poiDelete,
      10.0 -> roadRename, 10.0 -> buildingRename, 4.0 -> buildingDelete,
      3.0 -> areaRename, 2.0 -> poiUnmatch, 2.0 -> buildingToLanduse, 2.0 -> waySplit,
      1.0 -> memberDrop, 1.0 -> routeRename, 1.0 -> shapeDelete, 1.0 -> roadDelete,
      0.5 -> ringDelete)
    run(r, target, menu)
    rec.result()
  }
}
