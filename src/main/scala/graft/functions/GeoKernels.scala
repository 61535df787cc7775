package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Geometry, Point}

import graft.spatial.HilbertCurve2D

/** Row kernels behind every ST_ expression, as STATIC methods so generated
  * whole-stage code can call them directly (`GeoKernels.intersects(a, b)`).
  * One implementation serves both paths: interpreted eval
  * ([[GeoExpression.notNull]]) and `doGenCode` — they cannot drift.
  *
  * Signatures use exact codegen JVM types (byte[] WKB, double, UTF8String)
  * and return BOXED results; `null` means SQL NULL (e.g. `ST_X` of a
  * non-point), which the shared codegen template maps to the null flag.
  * JTS reader/writer thread-safety is handled inside [[GeoCodec]].
  *
  * `intersects`/`covers` — the exact refine of every spatial read — decide
  * from envelopes read off the WKB bytes before decoding, taking exactly
  * JTS's own short-circuits (see the predicates section), so most rows of
  * a window query never reach `WKBReader`.
  */
object GeoKernels {

  private def g(b: Array[Byte]): Geometry = GeoCodec.readWkb(b)

  // ---- constructors / converters ----------------------------------------

  def geomFromText(s: UTF8String): Array[Byte] =
    GeoCodec.writeWkb(GeoCodec.readWkt(s.toString))

  def geomFromWkb(b: Array[Byte]): Array[Byte] =
    GeoCodec.writeWkb(g(b)) // validates + normalizes (EWKB accepted)

  def geomFromGeoJson(s: UTF8String): Array[Byte] =
    GeoCodec.writeWkb(GeoCodec.readGeoJson(s.toString))

  def asText(b: Array[Byte]): UTF8String =
    UTF8String.fromString(GeoCodec.writeWkt(g(b)))

  def asGeoJson(b: Array[Byte]): UTF8String =
    UTF8String.fromString(GeoCodec.writeGeoJson(g(b)))

  def asEwkb(b: Array[Byte]): Array[Byte] = {
    val geo = g(b); geo.setSRID(GeoCodec.Srid); GeoCodec.writeEwkb(geo)
  }

  def point(x: Double, y: Double): Array[Byte] =
    GeoCodec.writeWkb(GeoCodec.point(x, y))

  def makeEnvelope(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Byte] =
    GeoCodec.writeWkb(GeoCodec.envelope(minX, minY, maxX, maxY))

  // ---- predicates --------------------------------------------------------

  /* ST_Intersects and ST_Covers decide from the envelopes first
   * (`GeoCodec.wkbBox`, read from the bytes) and decode only when the
   * envelopes cannot decide. The rules are the short-circuits JTS 1.20's
   * `Geometry.intersects` and `GeometryRelate.covers` take themselves,
   * in the same order, so the answer is JTS's answer:
   *  - intersects: disjoint envelopes are false; if `a` is a rectangle
   *    (`Polygon.isRectangle`), JTS runs `RectangleIntersects(a, b)`,
   *    whose first test is true when a's envelope contains b's (b is one
   *    connected element); otherwise, the same for `b` as the rectangle;
   *  - covers: false unless a's envelope covers b's; then true when `a`
   *    is a rectangle (JTS's dimension tests cannot fail for a polygon
   *    `a`, and its envelope test is this one).
   * Whatever the envelopes leave open — and every value `wkbBox` does not
   * know — goes to the decoded JTS call.
   */
  def intersects(a: Array[Byte], b: Array[Byte]): java.lang.Boolean = {
    val ea = GeoCodec.wkbBox(a)
    val eb = if (ea == null) null else GeoCodec.wkbBox(b)
    if (eb != null) {
      if (!ea.intersects(eb)) return false
      if (ea.isRectangle) { if (ea.covers(eb)) return true }
      else if (eb.isRectangle && eb.covers(ea)) return true
    }
    g(a).intersects(g(b))
  }
  def covers(a: Array[Byte], b: Array[Byte]): java.lang.Boolean = {
    val ea = GeoCodec.wkbBox(a)
    val eb = if (ea == null) null else GeoCodec.wkbBox(b)
    if (eb != null) {
      if (!ea.covers(eb)) return false
      if (ea.isRectangle) return true
    }
    g(a).covers(g(b))
  }
  def contains(a: Array[Byte], b: Array[Byte]): java.lang.Boolean = g(a).contains(g(b))
  def within(a: Array[Byte], b: Array[Byte]): java.lang.Boolean = g(a).within(g(b))

  def distance(a: Array[Byte], b: Array[Byte]): java.lang.Double = g(a).distance(g(b))

  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): java.lang.Boolean =
    g(a).isWithinDistance(g(b), d)

  // ---- unary accessors / transforms --------------------------------------

  def envelope(b: Array[Byte]): Array[Byte] = GeoCodec.writeWkb(g(b).getEnvelope)
  def centroid(b: Array[Byte]): Array[Byte] = GeoCodec.writeWkb(g(b).getCentroid)
  def buffer(b: Array[Byte], d: Double): Array[Byte] = GeoCodec.writeWkb(g(b).buffer(d))
  def convexHull(b: Array[Byte]): Array[Byte] = GeoCodec.writeWkb(g(b).convexHull())

  // POINT EMPTY has no coordinate: SQL NULL, never a JTS IllegalState
  def x(b: Array[Byte]): java.lang.Double = g(b) match {
    case p: Point if !p.isEmpty => p.getX
    case _ => null
  }
  def y(b: Array[Byte]): java.lang.Double = g(b) match {
    case p: Point if !p.isEmpty => p.getY
    case _ => null
  }

  def xMin(b: Array[Byte]): java.lang.Double = envSide(b, e => e.getMinX)
  def xMax(b: Array[Byte]): java.lang.Double = envSide(b, e => e.getMaxX)
  def yMin(b: Array[Byte]): java.lang.Double = envSide(b, e => e.getMinY)
  def yMax(b: Array[Byte]): java.lang.Double = envSide(b, e => e.getMaxY)

  private def envSide(b: Array[Byte],
      pick: org.locationtech.jts.geom.Envelope => Double): java.lang.Double = {
    val geo = g(b)
    if (geo.isEmpty) null else pick(geo.getEnvelopeInternal)
  }

  def area(b: Array[Byte]): java.lang.Double = g(b).getArea
  def length(b: Array[Byte]): java.lang.Double = g(b).getLength
  def isEmpty(b: Array[Byte]): java.lang.Boolean = g(b).isEmpty
  def isValid(b: Array[Byte]): java.lang.Boolean = g(b).isValid
  def geometryType(b: Array[Byte]): UTF8String = UTF8String.fromString(g(b).getGeometryType)
  def numGeometries(b: Array[Byte]): java.lang.Integer = g(b).getNumGeometries
  def numPoints(b: Array[Byte]): java.lang.Integer = g(b).getNumPoints

  def bboxStruct(b: Array[Byte]): InternalRow = {
    val geo = g(b)
    if (geo.isEmpty) null
    else {
      val e = geo.getEnvelopeInternal
      new GenericInternalRow(Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    }
  }

  // ---- set-theoretic / constructive ops ----------------------------------

  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeoCodec.writeWkb(g(a).union(g(b)))
  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeoCodec.writeWkb(g(a).intersection(g(b)))
  def difference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeoCodec.writeWkb(g(a).difference(g(b)))
  def simplify(b: Array[Byte], tol: Double): Array[Byte] =
    GeoCodec.writeWkb(
      org.locationtech.jts.simplify.DouglasPeuckerSimplifier.simplify(g(b), tol))

  // ---- st_transform -------------------------------------------------------

  /** WGS 84 semi-major axis — the sphere radius of the web-Mercator
    * EPSG:3857 definition (spherical, not ellipsoidal: 3857 is DEFINED on
    * the sphere of radius a, which is why the closed forms below are the
    * exact published projection, not an approximation).
    */
  private val WebMercatorR = 6378137.0

  /** CRS reprojection between the supported pair EPSG:4326 (lon/lat
    * degrees) and EPSG:3857 (web-Mercator meters) — closed-form spherical
    * Mercator, applied to every coordinate of the geometry. Any other
    * pair refuses naming the EPSG codes (the pitch-stamp posture:
    * silently passing coordinates through would misplace every geometry).
    * Same-code pairs are the identity.
    */
  def transformSrid(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    if (from == to) return geomFromWkb(b)
    val f: org.locationtech.jts.geom.Coordinate => Unit = (from, to) match {
      case (4326, 3857) => c => {
        c.x = WebMercatorR * math.toRadians(c.x)
        c.y = WebMercatorR * math.log(math.tan(math.Pi / 4 + math.toRadians(c.y) / 2))
      }
      case (3857, 4326) => c => {
        c.x = math.toDegrees(c.x / WebMercatorR)
        c.y = math.toDegrees(2 * math.atan(math.exp(c.y / WebMercatorR)) - math.Pi / 2)
      }
      case _ => throw new IllegalArgumentException(
        s"st_transform: unsupported CRS pair EPSG:$from -> EPSG:$to " +
          "(supported: EPSG:4326 <-> EPSG:3857)")
    }
    val geo = g(b)
    geo.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = f(c)
    })
    geo.geometryChanged()
    GeoCodec.writeWkb(geo)
  }

  // ---- hilbert ------------------------------------------------------------

  /** Hilbert index of the envelope center; null for empty / out-of-bounds
    * geometries (matching the reference's transform null semantics).
    */
  def hilbert(b: Array[Byte], res: Int, minX: Double, minY: Double,
      maxX: Double, maxY: Double): java.lang.Long = {
    val geo = g(b)
    if (geo.isEmpty) null
    else {
      val c = geo.getEnvelopeInternal.centre()
      HilbertCurve2D.index(res, minX, minY, maxX, maxY)(c.x, c.y)
        .map(java.lang.Long.valueOf).orNull
    }
  }
}
