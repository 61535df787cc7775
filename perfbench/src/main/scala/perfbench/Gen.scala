package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every generated value is a pure function of
  * (seed, stream, index), so Spark tasks and the driver-side oracles build
  * identical rows without shipping data between them. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(stream * 0x632BE59BD9B4E019L) ^ i))

  /** Cumulative Zipf(s) weights over n ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val c = w.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }

  def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

/** One generated row: a point when (x0, y0) == (x1, y1), else an
  * axis-aligned box. */
final case class GeoRow(id: Long, category: String, x0: Double, y0: Double, x1: Double, y1: Double)

/** Spatial data model: a Zipf-weighted set of Gaussian hotspots over a
  * uniform background, 15% boxes, a Zipf `category`. Latitudes above
  * [[GeoModel.DataMaxY]] stay empty, so windows placed there touch no row. */
final class GeoModel(val seed: Long) extends Serializable {
  import GeoModel._

  /** (centre x, centre y, sigma) per hotspot. */
  val hotspots: Array[(Double, Double, Double)] = {
    val r = Gen.rng(seed, 1, 0)
    Array.fill(NumHotspots)((r.nextDouble() * 320 - 160, r.nextDouble() * 90 - 50,
      0.3 + r.nextDouble() * 3.5))
  }
  private val hotCdf = Gen.zipfCdf(NumHotspots, 0.8)
  private val catCdf = Gen.zipfCdf(NumCategories, 1.1)

  def category(r: SplittableRandom): String = f"c${Gen.pick(catCdf, r.nextDouble())}%02d"

  /** A location: a hotspot draw with probability `hot`, else background.
    * `favour` (hotspot indexes) narrows the hotspot draw when non-empty. */
  def location(r: SplittableRandom, hot: Double, favour: Seq[Int] = Nil): (Double, Double) = {
    def background = (MinX + r.nextDouble() * (MaxX - MinX), MinY + r.nextDouble() * (DataMaxY - MinY))
    if (r.nextDouble() >= hot) background
    else {
      val h = hotspots(if (favour.isEmpty) Gen.pick(hotCdf, r.nextDouble())
        else favour(r.nextInt(favour.size)))
      val x = h._1 + Gen.gaussian(r) * h._3
      val y = h._2 + Gen.gaussian(r) * h._3
      if (x < MinX || x > MaxX || y < MinY || y > DataMaxY) background else (x, y)
    }
  }

  def row(stream: Long, id: Long, favour: Seq[Int] = Nil): GeoRow = {
    val r = Gen.rng(seed, stream, id)
    val (x, y) = location(r, 0.7, favour)
    val box = r.nextDouble() < 0.15
    val w = if (box) 0.001 + r.nextDouble() * 0.05 else 0.0
    val h = if (box) 0.001 + r.nextDouble() * 0.05 else 0.0
    GeoRow(id, category(r), x, y, x + w, y + h)
  }
}

object GeoModel {
  val NumHotspots = 24
  val NumCategories = 40
  val MinX = -179.0
  val MaxX = 179.0
  val MinY = -60.0
  val DataMaxY = 55.0
  /** Windows centred in [EmptyMinY, EmptyMaxY] are on empty space. */
  val EmptyMinY = 62.0
  val EmptyMaxY = 85.0
}

/** A query window; `covers` selects ST_Covers(window, geom) instead of
  * ST_Intersects(geom, window). */
final case class Window(x0: Double, y0: Double, x1: Double, y1: Double) {
  def env: String = s"ST_MakeEnvelope(${x0}D, ${y0}D, ${x1}D, ${y1}D)"
  def intersects(r: GeoRow): Boolean = r.x0 <= x1 && r.x1 >= x0 && r.y0 <= y1 && r.y1 >= y0
  def covers(r: GeoRow): Boolean = x0 <= r.x0 && r.x1 <= x1 && y0 <= r.y0 && r.y1 <= y1
}

/** Driver-side copy of generated rows with a 1-degree grid over their low
  * corners: the coordinate oracle every spatial result is checked against.
  * Points and axis-aligned boxes make ST_Intersects/ST_Covers exact bbox
  * tests, so the oracle needs no geometry library. */
final class Oracle(rows: Array[GeoRow]) {
  private val MaxExtent = 0.06 // larger than any generated box side
  private def cell(x: Double, y: Double): Int =
    (math.floor(y + 90).toInt.max(0).min(179)) * 360 + math.floor(x + 180).toInt.max(0).min(359)
  private val (starts, order) = {
    val counts = new Array[Int](360 * 180 + 1)
    rows.foreach(r => counts(cell(r.x0, r.y0) + 1) += 1)
    for (i <- 1 until counts.length) counts(i) += counts(i - 1)
    val fill = counts.clone()
    val ord = new Array[Int](rows.length)
    rows.indices.foreach { i => val c = cell(rows(i).x0, rows(i).y0); ord(fill(c)) = i; fill(c) += 1 }
    (counts, ord)
  }

  /** Rows whose geometry satisfies the predicate against `w`. */
  def select(w: Window, covers: Boolean): Iterator[GeoRow] = {
    val cx0 = math.floor(w.x0 - MaxExtent + 180).toInt.max(0)
    val cx1 = math.floor(w.x1 + 180).toInt.min(359)
    val cy0 = math.floor(w.y0 - MaxExtent + 90).toInt.max(0)
    val cy1 = math.floor(w.y1 + 90).toInt.min(179)
    for {
      cy <- Iterator.range(cy0, cy1 + 1)
      cx <- Iterator.range(cx0, cx1 + 1)
      c = cy * 360 + cx
      i <- Iterator.range(starts(c), starts(c + 1))
      r = rows(order(i))
      if (if (covers) w.covers(r) else w.intersects(r))
    } yield r
  }
}
