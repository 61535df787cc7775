package graft

import scala.util.Try

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeoCodec, GeoKernels}

/** `GeoKernels.intersects`/`covers` decide from envelopes read off the WKB
  * bytes before decoding; the answer must be the decoded JTS answer on
  * every input — points on edges, degenerate and backtracking "rectangles",
  * holes, multi-geometries, empties, NaN, both byte orders and EWKB. No
  * SparkSession: pure kernel properties.
  */
class GeoKernelPropertySpec extends AnyFunSuite {
  private val f = new GeometryFactory(new PrecisionModel(), GeoCodec.Srid)
  private def c(x: Double, y: Double) = new Coordinate(x, y)
  private def ring(cs: Seq[Coordinate]) = f.createLinearRing(cs.toArray)
  private def poly(shell: Seq[Coordinate], holes: Seq[Seq[Coordinate]] = Nil) =
    f.createPolygon(ring(shell), holes.map(ring).toArray)

  // a coarse half-unit grid most of the time, so points land on edges and
  // corners and envelopes touch; arbitrary doubles the rest
  private val coord: Gen[Double] =
    Gen.frequency(8 -> Gen.choose(0, 8).map(_ / 2.0), 2 -> Gen.choose(-1.0, 5.0))
  private val size: Gen[Double] =
    Gen.frequency(1 -> Gen.const(0.0), 6 -> Gen.choose(1, 6).map(_ / 2.0), 2 -> Gen.choose(0.0, 3.0))

  private val point: Gen[Geometry] = for (x <- coord; y <- coord) yield f.createPoint(c(x, y))

  /** Axis-aligned 5-point rings from any corner, either direction; a zero
    * width or height gives the zero-area (repeated-vertex) shapes. */
  private val rect: Gen[Geometry] = for {
    x <- coord; y <- coord; w <- size; h <- size
    start <- Gen.choose(0, 3); ccw <- Gen.oneOf(true, false)
  } yield {
    val cs = Seq(c(x, y), c(x + w, y), c(x + w, y + h), c(x, y + h))
    val turned = cs.drop(start) ++ cs.take(start)
    val ordered = if (ccw) turned else turned.head +: turned.tail.reverse
    poly(ordered :+ ordered.head)
  }

  /** 5-point rings that pass JTS's rectangle test without enclosing area. */
  private val backtrack: Gen[Geometry] = for {
    x <- coord; y <- coord; w <- size; h <- size; flat <- Gen.oneOf(true, false)
  } yield
    if (flat) poly(Seq(c(x, y), c(x, y + h), c(x, y), c(x, y + h), c(x, y)))
    else poly(Seq(c(x, y), c(x + w, y), c(x, y), c(x, y + h), c(x, y)))

  private val irregular: Gen[Geometry] = for {
    n <- Gen.choose(3, 6); cs <- Gen.listOfN(n, for (x <- coord; y <- coord) yield c(x, y))
  } yield poly(cs :+ cs.head)

  private val holed: Gen[Geometry] = for {
    x <- coord; y <- coord; w <- Gen.choose(2, 6).map(_ / 2.0); h <- Gen.choose(2, 6).map(_ / 2.0)
  } yield {
    val (hx, hy, hw, hh) = (x + w / 4, y + h / 4, w / 2, h / 2)
    poly(Seq(c(x, y), c(x + w, y), c(x + w, y + h), c(x, y + h), c(x, y)),
      Seq(Seq(c(hx, hy), c(hx, hy + hh), c(hx + hw, hy + hh), c(hx + hw, hy), c(hx, hy))))
  }

  private val multi: Gen[Geometry] = Gen.oneOf(
    Gen.listOfN(2, point).map(ps => f.createMultiPoint(ps.map(_.asInstanceOf[Point]).toArray)),
    Gen.listOfN(2, rect).map(ps => f.createMultiPolygon(ps.map(_.asInstanceOf[Polygon]).toArray)),
    for (p <- point; r <- rect) yield f.createGeometryCollection(Array(p, r)),
    rect.map(r => f.createMultiPolygon(Array(r.asInstanceOf[Polygon]))))

  private val empty: Gen[Geometry] = Gen.oneOf(f.createPoint(), f.createPolygon())

  private val nan: Gen[Geometry] = for (x <- coord; y <- coord; k <- Gen.choose(0, 2)) yield k match {
    case 0 => f.createPoint(c(Double.NaN, y))
    case 1 => f.createPoint(c(x, Double.NaN))
    case _ => poly(Seq(c(x, y), c(Double.NaN, y + 1), c(x + 1, y + 1), c(x + 1, y), c(x, y)))
  }

  private val geometry: Gen[Geometry] = Gen.frequency(
    5 -> point, 6 -> rect, 2 -> backtrack, 3 -> irregular, 2 -> holed, 2 -> multi,
    1 -> empty, 1 -> nan)

  /** Little- or big-endian, plain WKB or EWKB carrying the SRID. */
  private val encoded: Gen[Array[Byte]] = for {
    g <- geometry; big <- Gen.oneOf(true, false); srid <- Gen.oneOf(true, false)
  } yield new WKBWriter(2,
    if (big) ByteOrderValues.BIG_ENDIAN else ByteOrderValues.LITTLE_ENDIAN, srid).write(g)

  private def same(kernel: => java.lang.Boolean, jts: => Boolean): Boolean =
    (Try(kernel.booleanValue), Try(jts)) match {
      case (scala.util.Success(a), scala.util.Success(b)) => a == b
      case (k, j) => k.isFailure && j.isFailure
    }

  private def check(name: String, prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10000).withInitialSeed(14L), prop)
    assert(res.passed, s"$name: ${Pretty.pretty(res)}")
    assert(res.succeeded >= 10000)
  }

  private def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString

  test("ST_Intersects and ST_Covers kernels equal the decoded JTS predicates") {
    check("intersects", Prop.forAll(encoded, encoded) { (a, b) =>
      Prop(same(GeoKernels.intersects(a, b),
        GeoCodec.readWkb(a).intersects(GeoCodec.readWkb(b)))) :| s"${hex(a)} ${hex(b)}"
    })
    check("covers", Prop.forAll(encoded, encoded) { (a, b) =>
      Prop(same(GeoKernels.covers(a, b),
        GeoCodec.readWkb(a).covers(GeoCodec.readWkb(b)))) :| s"${hex(a)} ${hex(b)}"
    })
  }

  test("an envelope read from the bytes is the decoded geometry's, and points and " +
      "polygons get one") {
    var known = 0
    check("wkbBox", Prop.forAll(encoded) { w =>
      val box = GeoCodec.wkbBox(w)
      val g = GeoCodec.readWkb(w)
      if (box != null) known += 1
      Prop(box == null || {
        val e = g.getEnvelopeInternal
        !g.isEmpty && (g.isInstanceOf[Point] || g.isInstanceOf[Polygon]) &&
          e.equals(box) && g.isRectangle == box.isRectangle
      }) :| hex(w)
    })
    // most generated values are plain points and polygons: the envelope
    // path must actually decide them, not fall back every time
    assert(known > 5000, s"only $known values had an envelope")
    val big = new WKBWriter(2, ByteOrderValues.BIG_ENDIAN, true)
    assert(GeoCodec.wkbBox(big.write(GeoCodec.envelope(0, 0, 2, 1))).isRectangle)
    assert(GeoCodec.wkbBox(GeoCodec.writeWkb(f.createPoint())) == null)
    assert(GeoCodec.wkbBox(GeoCodec.writeWkb(f.createPolygon())) == null)
    val truncated = GeoCodec.writeWkb(GeoCodec.envelope(0, 0, 2, 1)).dropRight(1)
    assert(GeoCodec.wkbBox(truncated) == null)
  }
}
