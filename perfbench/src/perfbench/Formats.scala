package perfbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.collection.mutable

/** Writers for the generator's two file formats: an OSM PBF extract and a
  * gzipped OsmChange (`.osc.gz`) file. Both are byte-deterministic for a
  * given input. */
object Formats {

  // ---- protobuf wire primitives ---------------------------------------------

  private final class Buf extends ByteArrayOutputStream(1 << 12) {
    def varint(v0: Long): Buf = {
      var v = v0
      while ((v & ~0x7fL) != 0) { write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      write(v.toInt); this
    }
    def zigzag(v: Long): Buf = varint((v << 1) ^ (v >> 63))
    def key(field: Int, wire: Int): Buf = varint((field.toLong << 3) | wire)
    def uint(field: Int, v: Long): Buf = key(field, 0).varint(v)
    def bytes(field: Int, b: Array[Byte]): Buf = {
      key(field, 2).varint(b.length.toLong); write(b, 0, b.length); this
    }
    def msg(field: Int, m: Buf): Buf = bytes(field, m.toByteArray)
    def packed(field: Int, vs: Iterable[Long])(enc: (Buf, Long) => Unit): Buf = {
      val b = new Buf; vs.foreach(enc(b, _)); msg(field, b)
    }
  }

  private def deltas(vs: Seq[Long]): Seq[Long] =
    vs.indices.map(i => if (i == 0) vs(0) else vs(i) - vs(i - 1))

  /** Block string table; entry 0 is the empty string by the format. */
  private final class Strings {
    private val index = mutable.LinkedHashMap("" -> 0)
    def apply(s: String): Long = index.getOrElseUpdate(s, index.size).toLong
    def encode: Buf = {
      val b = new Buf
      index.keysIterator.foreach(s => b.bytes(1, s.getBytes("UTF-8")))
      b
    }
  }

  private def sortedTags(t: Map[String, String]): Seq[(String, String)] = t.toSeq.sorted

  private def frame(out: OutputStream, kind: String, payload: Array[Byte]): Unit = {
    val d = new Deflater(6)
    d.setInput(payload); d.finish()
    val z = new ByteArrayOutputStream()
    val chunk = new Array[Byte](1 << 16)
    while (!d.finished()) z.write(chunk, 0, d.deflate(chunk))
    d.end()
    val blob = new Buf().uint(2, payload.length.toLong).bytes(3, z.toByteArray).toByteArray
    val header = new Buf().bytes(1, kind.getBytes("UTF-8")).uint(3, blob.length.toLong)
      .toByteArray
    val len = header.length
    out.write(Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
    out.write(header)
    out.write(blob)
  }

  private val BlockSize = 8000

  /** The extract as one `.pbf`: header, then dense-node, way and relation
    * blocks of up to 8000 elements each, every kind in id order. Returns
    * the number of data blobs written. */
  def writePbf(w: World, out: OutputStream): Int = {
    val lons = w.nodes.valuesIterator.map(_.lon).toSeq
    val lats = w.nodes.valuesIterator.map(_.lat).toSeq
    def nano(d: Double): Long = math.round(d * 1e9)
    val bbox = new Buf().key(1, 0).zigzag(nano(lons.min)).key(2, 0).zigzag(nano(lons.max))
      .key(3, 0).zigzag(nano(lats.max)).key(4, 0).zigzag(nano(lats.min))
    frame(out, "OSMHeader", new Buf().msg(1, bbox)
      .bytes(4, "OsmSchema-V0.6".getBytes("UTF-8"))
      .bytes(4, "DenseNodes".getBytes("UTF-8")).toByteArray)
    var blobs = 0
    def block(group: Strings => Buf): Unit = {
      val st = new Strings
      val g = group(st)
      frame(out, "OSMData", new Buf().msg(1, st.encode).msg(2, g).toByteArray)
      blobs += 1
    }
    w.nodes.keys.toArray.sorted.grouped(BlockSize).foreach { ids =>
      block { st =>
        val ns = ids.toSeq.map(w.nodes)
        val kv = ns.flatMap(n => sortedTags(n.tags).flatMap { case (k, v) =>
          Seq(st(k), st(v)) } :+ 0L)
        val dense = new Buf()
          .packed(1, deltas(ns.map(_.id)))(_ zigzag _)
          .packed(8, deltas(ns.map(n => math.round(n.lat * 1e7))))(_ zigzag _)
          .packed(9, deltas(ns.map(n => math.round(n.lon * 1e7))))(_ zigzag _)
          .packed(10, kv)(_ varint _)
        new Buf().msg(2, dense)
      }
    }
    w.ways.keys.toArray.sorted.grouped(BlockSize).foreach { ids =>
      block { st =>
        val g = new Buf
        ids.foreach { id =>
          val x = w.ways(id)
          val tags = sortedTags(x.tags)
          g.msg(3, new Buf().uint(1, id)
            .packed(2, tags.map(t => st(t._1)))(_ varint _)
            .packed(3, tags.map(t => st(t._2)))(_ varint _)
            .packed(8, deltas(x.refs))(_ zigzag _))
        }
        g
      }
    }
    w.relations.keys.toArray.sorted.grouped(BlockSize).foreach { ids =>
      block { st =>
        val g = new Buf
        ids.foreach { id =>
          val x = w.relations(id)
          val tags = sortedTags(x.tags)
          g.msg(4, new Buf().uint(1, id)
            .packed(2, tags.map(t => st(t._1)))(_ varint _)
            .packed(3, tags.map(t => st(t._2)))(_ varint _)
            .packed(8, x.members.map(m => st(m.role)))(_ varint _)
            .packed(9, deltas(x.members.map(_.id)))(_ zigzag _)
            .packed(10, x.members.map(_.kind.toLong))(_ varint _))
        }
        g
      }
    }
    blobs
  }

  // ---- OsmChange ------------------------------------------------------------

  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
    case '"' => "&quot;"; case '\'' => "&apos;"; case c => c.toString
  }

  private def coord(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  private def element(sb: StringBuilder, e: AnyRef): Unit = {
    def tags(t: Map[String, String]): Unit = sortedTags(t).foreach { case (k, v) =>
      sb ++= s"""   <tag k="${esc(k)}" v="${esc(v)}"/>\n""" }
    e match {
      case n: Node =>
        sb ++= s"""  <node id="${n.id}" version="2" lat="${coord(n.lat)}" lon="${coord(n.lon)}">\n"""
        tags(n.tags); sb ++= "  </node>\n"
      case x: Way =>
        sb ++= s"""  <way id="${x.id}" version="2">\n"""
        x.refs.foreach(r => sb ++= s"""   <nd ref="$r"/>\n""")
        tags(x.tags); sb ++= "  </way>\n"
      case x: Relation =>
        sb ++= s"""  <relation id="${x.id}" version="2">\n"""
        x.members.foreach { m =>
          val t = m.kind match { case 0 => "node"; case 1 => "way"; case _ => "relation" }
          sb ++= s"""   <member type="$t" ref="${m.id}" role="${esc(m.role)}"/>\n"""
        }
        tags(x.tags); sb ++= "  </relation>\n"
    }
  }

  /** The change set as gzipped OsmChange XML: creates, then modifies, then
    * deletes, each in (kind, id) order. */
  def writeOsc(changes: Seq[Change], out: OutputStream): Unit = {
    val sb = new StringBuilder
    sb ++= "<?xml version='1.0' encoding='UTF-8'?>\n<osmChange version=\"0.6\" generator=\"perfbench\">\n"
    def section(name: String, es: Seq[AnyRef]): Unit = if (es.nonEmpty) {
      sb ++= s" <$name>\n"; es.foreach(element(sb, _)); sb ++= s" </$name>\n"
    }
    section("create", changes.collect { case Upsert(e, true) => e })
    section("modify", changes.collect { case Upsert(e, false) => e })
    section("delete", changes.collect { case Delete(_, _, last) => last })
    sb ++= "</osmChange>\n"
    // the JDK writes a zero gzip mtime, so the bytes depend on content only
    val gz = new GZIPOutputStream(out)
    gz.write(sb.toString.getBytes("UTF-8"))
    gz.finish()
  }

  def toBytes(f: OutputStream => Unit): Array[Byte] = {
    val b = new ByteArrayOutputStream(); f(b); b.toByteArray
  }
}
