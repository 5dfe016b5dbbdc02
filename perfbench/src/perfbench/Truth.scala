package perfbench

import scala.collection.mutable

/** The rows `mapping.yml` must produce from a [[World]], derived from the
  * generator's own model rather than from the program:
  *
  *  - `pois`: nodes with a mapped amenity;
  *  - `roads`: ways with a mapped highway whose nodes all exist;
  *  - `buildings`: closed ways with a building tag whose nodes all exist;
  *  - `landuse`: closed landuse ways, and multipolygons (id negated) whose
  *    member ways all exist with all their nodes;
  *  - `route_members`: one row per member of routes and route masters whose
  *    members all resolve (relation members only need to exist);
  *  - `roads_gen` = `roads`; `landuse_gen` = `landuse` rows whose web
  *    mercator area exceeds [[GenMinArea]] (generated areas sit far from it).
  *
  * A row is `osm_id -> "name\ttype[\tmember\trole\tkind\tindex]"`.
  */
object Truth {

  type Rows = Map[String, Map[Long, Vector[String]]]

  val GenMinArea = 20000.0
  private val Landuses = Set("forest", "residential", "park", "meadow")
  private val Highways = Set("primary", "secondary", "residential", "service")
  private val Pole = 20037508.342789244

  private def mercX(lon: Double): Double = lon * Pole / 180.0
  private def mercY(lat: Double): Double =
    math.log(math.tan((90.0 + lat) * math.Pi / 360.0)) * Pole / math.Pi

  private def row(name: Option[String], tpe: String): String =
    s"${name.getOrElse("")}\t$tpe"

  /** Absolute shoelace area of a closed ring in web mercator units. */
  private def ringArea(w: World, refs: Seq[Long]): Double = {
    val pts = refs.map(w.nodes).map(n => (mercX(n.lon), mercY(n.lat)))
    math.abs(pts.sliding(2).collect { case Seq((x1, y1), (x2, y2)) =>
      x1 * y2 - x2 * y1 }.sum / 2)
  }

  def rows(w: World): Rows = {
    val out = mutable.Map.empty[String, mutable.Map[Long, Vector[String]]]
    def add(table: String, id: Long, r: String): Unit = {
      val t = out.getOrElseUpdate(table, mutable.Map.empty)
      t(id) = t.getOrElse(id, Vector.empty) :+ r
    }
    def built(x: Way): Boolean = x.refs.forall(w.nodes.contains)

    w.nodes.valuesIterator.foreach { n =>
      n.tags.get("amenity").filter(World.Amenities.contains)
        .foreach(a => add("pois", n.id, row(n.tags.get("name"), a)))
    }
    w.ways.valuesIterator.filter(built).foreach { x =>
      val closed = x.refs.size >= 4 && x.refs.head == x.refs.last
      x.tags.get("highway").filter(Highways).foreach { h =>
        add("roads", x.id, row(x.tags.get("name"), h))
        add("roads_gen", x.id, row(x.tags.get("name"), h))
      }
      if (closed) {
        x.tags.get("building").foreach(b => add("buildings", x.id, row(x.tags.get("name"), b)))
        x.tags.get("landuse").filter(Landuses).foreach { l =>
          add("landuse", x.id, row(x.tags.get("name"), l))
          if (ringArea(w, x.refs) > GenMinArea)
            add("landuse_gen", x.id, row(x.tags.get("name"), l))
        }
      }
    }
    def resolves(m: Member): Boolean = m.kind match {
      case 0 => w.nodes.contains(m.id)
      case 1 => w.ways.get(m.id).exists(built)
      case _ => w.relations.contains(m.id)
    }
    w.relations.valuesIterator.foreach { x =>
      val tpe = x.tags.getOrElse("type", "")
      if (tpe == "multipolygon" && x.members.forall(resolves))
        x.tags.get("landuse").filter(Landuses).foreach { l =>
          add("landuse", -x.id, row(x.tags.get("name"), l))
          val area = x.members.map { m =>
            val a = ringArea(w, w.ways(m.id).refs)
            if (m.role == "inner") -a else a
          }.sum
          if (area > GenMinArea) add("landuse_gen", -x.id, row(x.tags.get("name"), l))
        }
      val matched = tpe match {
        case "route" => x.tags.get("route").filter(Set("bus", "bicycle"))
        case "route_master" => x.tags.get("route_master").filter(_ == "bus")
        case _ => None
      }
      matched.filter(_ => x.members.forall(resolves)).foreach { v =>
        x.members.zipWithIndex.foreach { case (m, i) =>
          add("route_members", -x.id, row(x.tags.get("name"), v) +
            s"\t${m.id}\t${m.role}\t${m.kind}\t$i")
        }
      }
    }
    out.view.mapValues(_.toMap).toMap
  }

  /** Ids a table's rows can carry for the given elements (nodes, ways and
    * negated relations, by table kind). */
  def osmIds(table: String, nodes: Set[Long], ways: Set[Long], rels: Set[Long]): Set[Long] =
    table match {
      case "pois" => nodes
      case "roads" | "roads_gen" | "buildings" => ways
      case "landuse" | "landuse_gen" => ways ++ rels.map(-_)
      case _ => rels.map(-_)
    }
}
