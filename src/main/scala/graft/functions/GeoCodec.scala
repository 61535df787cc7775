package graft.functions

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{ByteOrderValues, WKBReader, WKBWriter, WKTReader, WKTWriter}

/** Geometry byte codecs for the four encodings the reference supports
  * (`api/src/main/java/org/apache/iceberg/types/havasu/GeometryEncoding.java:26-32`
  * in /root/reference): ewkb, wkb (physical BINARY) and wkt, geojson
  * (physical STRING). The engine's in-flight representation is WKB bytes in
  * a BinaryType column; JTS does the geometry math.
  *
  * JTS reader/writer instances are not thread-safe → thread-locals
  * (executors run many tasks per JVM in local mode and on real clusters).
  */
object GeoCodec {
  val Srid = 4326
  private val factory = new GeometryFactory(new PrecisionModel(), Srid)

  private def tl[T <: AnyRef](mk: => T): ThreadLocal[T] = new ThreadLocal[T] {
    override def initialValue(): T = mk
  }
  private val wkbR = tl(new WKBReader(factory))
  private val wkbW = tl(new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN, false))
  private val ewkbW = tl(new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN, true))
  private val wktR = tl(new WKTReader(factory))
  private val wktW = tl(new WKTWriter(2))

  def readWkb(b: Array[Byte]): Geometry = wkbR.get.read(b) // handles WKB and EWKB
  def writeWkb(g: Geometry): Array[Byte] = wkbW.get.write(g)
  def writeEwkb(g: Geometry): Array[Byte] = ewkbW.get.write(g)
  def readWkt(s: String): Geometry = wktR.get.read(s)
  def writeWkt(g: Geometry): String = wktW.get.write(g)

  def point(x: Double, y: Double): Geometry =
    factory.createPoint(new Coordinate(x, y))

  def envelope(minX: Double, minY: Double, maxX: Double, maxY: Double): Geometry =
    factory.toGeometry(new Envelope(minX, maxX, minY, maxY))

  // --- envelopes read straight from WKB bytes, without a JTS decode

  /** The JTS `Envelope` of a nonempty 2D POINT or POLYGON, plus JTS's own
    * `Polygon.isRectangle` verdict on it; its `intersects`/`covers` are
    * JTS's envelope tests, so a decision made on it is the one JTS makes on
    * the decoded geometries.
    */
  final class WkbBox(minX: Double, minY: Double, maxX: Double, maxY: Double,
      val isRectangle: Boolean) extends Envelope(minX, maxX, minY, maxY)

  /** The [[WkbBox]] of a WKB or EWKB value, read from the bytes: either
    * byte order, an EWKB SRID skipped. Only what [[readWkb]] decodes to the
    * same nonempty POINT or POLYGON gets one: a polygon's envelope is its
    * shell's, so the shell is read and every ring's count, closure and
    * length is checked. Z/M, multi-geometries and collections, empties,
    * NaN coordinates, rings JTS would reject or repair, and truncated input
    * are unknown: `null`, and the caller decodes.
    */
  def wkbBox(b: Array[Byte]): WkbBox = {
    if (b.length < 5 || (b(0) != 0 && b(0) != 1)) return null
    val little = b(0) == 1
    def int(i: Int): Int = {
      val v = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      if (little) Integer.reverseBytes(v) else v
    }
    def dbl(i: Int): Double = {
      val hi = int(i).toLong & 0xffffffffL
      val lo = int(i + 4).toLong & 0xffffffffL
      java.lang.Double.longBitsToDouble(if (little) (lo << 32) | hi else (hi << 32) | lo)
    }
    // a ring of n points at `at` ends where it starts (JTS `isClosed`)
    def closed(at: Int, n: Int): Boolean =
      dbl(at) == dbl(at + 16 * (n - 1)) && dbl(at + 8) == dbl(at + 16 * (n - 1) + 8)
    // `Polygon.isRectangle` on a 5-point shell: every vertex on the
    // envelope, and each step moves along exactly one axis
    def isRectangle(at: Int, minX: Double, minY: Double, maxX: Double, maxY: Double): Boolean = {
      var i = 0
      var ok = true
      while (ok && i < 5) {
        val x = dbl(at + 16 * i)
        val y = dbl(at + 16 * i + 8)
        ok = (x == minX || x == maxX) && (y == minY || y == maxY) &&
          (i == 0 || (x != dbl(at + 16 * (i - 1))) != (y != dbl(at + 16 * (i - 1) + 8)))
        i += 1
      }
      ok
    }
    val ewkbSrid = 0x20000000
    val t = int(1)
    var off = if ((t & ewkbSrid) != 0) 9 else 5
    def fits(n: Long): Boolean = off + n <= b.length
    (t & ~ewkbSrid) match {
      case 1 =>
        if (!fits(16)) return null
        val x = dbl(off)
        val y = dbl(off + 8)
        if (x.isNaN || y.isNaN) null else new WkbBox(x, y, x, y, false)
      case 3 =>
        if (!fits(4)) return null
        val rings = int(off)
        off += 4
        if (rings < 1 || !fits(4)) return null
        val n = int(off)
        off += 4
        if (n < 4 || !fits(16L * n)) return null
        var minX, minY = Double.PositiveInfinity
        var maxX, maxY = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          val x = dbl(off + 16 * i)
          val y = dbl(off + 16 * i + 8)
          if (x.isNaN || y.isNaN) return null
          if (x < minX) minX = x
          if (x > maxX) maxX = x
          if (y < minY) minY = y
          if (y > maxY) maxY = y
          i += 1
        }
        if (!closed(off, n)) return null
        val rect = rings == 1 && n == 5 && isRectangle(off, minX, minY, maxX, maxY)
        off += 16 * n
        var r = 1
        while (r < rings) { // holes: only their framing, the shell bounds them
          if (!fits(4)) return null
          val h = int(off)
          off += 4
          if (h < 0 || (h > 0 && h < 4) || !fits(16L * h) || (h > 0 && !closed(off, h))) return null
          off += 16 * h
          r += 1
        }
        new WkbBox(minX, minY, maxX, maxY, rect)
      case _ => null
    }
  }

  // --- minimal GeoJSON codec (jts-core has no GeoJSON IO; format per RFC 7946)

  def writeGeoJson(g: Geometry): String = {
    def coord(c: Coordinate) = s"[${c.x},${c.y}]"
    def coords(cs: Array[Coordinate]) = cs.map(coord).mkString("[", ",", "]")
    def poly(p: Polygon): String = {
      val rings = (Seq(p.getExteriorRing) ++
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
      rings.map(r => coords(r.getCoordinates)).mkString("[", ",", "]")
    }
    g match {
      // empty point: GeoJSON's standard empty-coordinates form, not an NPE
      case p: Point if p.isEmpty => """{"type":"Point","coordinates":[]}"""
      case p: Point => s"""{"type":"Point","coordinates":${coord(p.getCoordinate)}}"""
      case l: LineString => s"""{"type":"LineString","coordinates":${coords(l.getCoordinates)}}"""
      case p: Polygon => s"""{"type":"Polygon","coordinates":${poly(p)}}"""
      case m: MultiPoint =>
        val cs = (0 until m.getNumGeometries).map(i => coord(m.getGeometryN(i).asInstanceOf[Point].getCoordinate))
        s"""{"type":"MultiPoint","coordinates":${cs.mkString("[", ",", "]")}}"""
      case m: MultiLineString =>
        val cs = (0 until m.getNumGeometries).map(i => coords(m.getGeometryN(i).getCoordinates))
        s"""{"type":"MultiLineString","coordinates":${cs.mkString("[", ",", "]")}}"""
      case m: MultiPolygon =>
        val cs = (0 until m.getNumGeometries).map(i => poly(m.getGeometryN(i).asInstanceOf[Polygon]))
        s"""{"type":"MultiPolygon","coordinates":${cs.mkString("[", ",", "]")}}"""
      case gc: GeometryCollection =>
        val gs = (0 until gc.getNumGeometries).map(i => writeGeoJson(gc.getGeometryN(i)))
        s"""{"type":"GeometryCollection","geometries":${gs.mkString("[", ",", "]")}}"""
      case other => throw new IllegalArgumentException(s"unsupported geometry: ${other.getGeometryType}")
    }
  }

  def readGeoJson(s: String): Geometry = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def d(v: JValue): Double = v match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JDecimal(x) => x.toDouble
      case JLong(x) => x.toDouble
      case other => throw new IllegalArgumentException(s"bad coordinate: $other")
    }
    def c(v: JValue): Coordinate = v match {
      case JArray(x :: y :: _) => new Coordinate(d(x), d(y))
      case other => throw new IllegalArgumentException(s"bad coordinate: $other")
    }
    def cs(v: JValue): Array[Coordinate] = v match {
      case JArray(items) => items.map(c).toArray
      case other => throw new IllegalArgumentException(s"bad coordinates: $other")
    }
    def ring(v: JValue) = factory.createLinearRing(cs(v))
    def poly(v: JValue): Polygon = v match {
      // RFC 7946 represents empty geometries as empty coordinate arrays —
      // the writer emits exactly that for POLYGON EMPTY, so the reader
      // must round-trip it (LineString/Multi* already do through cs())
      case JArray(Nil) => factory.createPolygon()
      case JArray(shell :: holes) =>
        factory.createPolygon(ring(shell), holes.map(ring).toArray)
      case other => throw new IllegalArgumentException(s"bad polygon: $other")
    }
    def build(j: JValue): Geometry = {
      val JString(typ) = j \ "type"
      val coords = j \ "coordinates"
      typ match {
        case "Point" => coords match {
          case JArray(Nil) => factory.createPoint(null: Coordinate) // POINT EMPTY
          case _ => factory.createPoint(c(coords))
        }
        case "LineString" => factory.createLineString(cs(coords))
        case "Polygon" => poly(coords)
        case "MultiPoint" => factory.createMultiPoint(cs(coords).map(factory.createPoint))
        case "MultiLineString" =>
          val JArray(ls) = coords
          factory.createMultiLineString(ls.map(l => factory.createLineString(cs(l))).toArray)
        case "MultiPolygon" =>
          val JArray(ps) = coords
          factory.createMultiPolygon(ps.map(poly).toArray)
        case "GeometryCollection" =>
          val JArray(gs) = j \ "geometries"
          factory.createGeometryCollection(gs.map(build).toArray)
        case other => throw new IllegalArgumentException(s"unsupported GeoJSON type: $other")
      }
    }
    build(JsonMethods.parse(s))
  }
}
