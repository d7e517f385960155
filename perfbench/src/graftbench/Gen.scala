package graftbench

import java.util.SplittableRandom

import graft.geom._

/**
 * Seeded input generators. Every row is a pure function of (seed, row id),
 * so inputs are identical however Spark partitions the generation.
 */
object Gen {
  def rng(seed: Long, id: Long, stream: Long): SplittableRandom =
    new SplittableRandom((seed * 0x9E3779B97F4A7C15L) ^ (id * 0xBF58476D1CE4E5B9L) ^ (stream << 56))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; one value per call keeps each draw a pure function of r
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Skewed vertex count: log-normal body with a long tail, capped. */
  private def vertices(r: SplittableRandom, min: Int, cap: Int): Int =
    math.min(cap, min + math.floor(2.0 * math.exp(1.1 * gauss(r))).toInt)

  /** Closed star-shaped ring around (cx, cy): always simple. */
  def ring(r: SplittableRandom, cx: Double, cy: Double, radius: Double, n: Int): Array[Double] = {
    val angles = Array.fill(n)(r.nextDouble() * 2 * math.Pi).sorted
    val cs = new Array[Double](2 * n + 2)
    var i = 0
    while (i < n) {
      val rr = radius * (0.5 + 0.5 * r.nextDouble())
      cs(2 * i) = cx + rr * math.cos(angles(i))
      cs(2 * i + 1) = cy + rr * math.sin(angles(i))
      i += 1
    }
    cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
    cs
  }

  private def lonLat(r: SplittableRandom): (Double, Double) =
    (-170 + 340 * r.nextDouble(), -70 + 140 * r.nextDouble())

  // ------------------------------------------------- kernel probe fixtures

  /** One row of the mixed geometry table: (WKB or null, part count st_dump
    * must produce). Mix: 30% points, 25% polygons, 15% multipolygons, 15%
    * linestrings, 5% two-point multipoints, 5% empty, 5% NULL. */
  def mixedGeometry(seed: Long, id: Long): (Array[Byte], Int) = {
    val r = rng(seed, id, 1)
    val u = r.nextDouble()
    val (cx, cy) = lonLat(r)
    val size = 0.01 * math.exp(1.5 * gauss(r))
    def poly(x: Double, y: Double): Polygon = Polygon(Array(ring(r, x, y, size, vertices(r, 4, 2000))))
    val g: Geometry =
      if (u < 0.05) null
      else if (u < 0.075) LineString(Array.emptyDoubleArray)
      else if (u < 0.10) MultiPolygon(Array.empty)
      else if (u < 0.40) Point(cx, cy)
      else if (u < 0.65) poly(cx, cy)
      else if (u < 0.80)
        MultiPolygon(Array.tabulate(2 + r.nextInt(4))(k => poly(cx + 3 * size * k, cy)))
      else if (u < 0.95) {
        val n = vertices(r, 2, 2000)
        val cs = new Array[Double](2 * n)
        var x = cx; var y = cy; var i = 0
        while (i < n) { cs(2 * i) = x; cs(2 * i + 1) = y; x += size * gauss(r); y += size * gauss(r); i += 1 }
        LineString(cs)
      } else MultiPoint(Array(Point(cx, cy), Point(cx + size, cy - size)))
    if (g == null) (null, 0) else (WKB.write(g), Geometry.parts(g).length)
  }

  /** FIXTURES.md §4: the reference explode harness's 45,000 two-point
    * MultiPoints, every coordinate (0, 0). */
  val explodeFixture: Array[Array[Byte]] =
    Array.fill(45000)(WKB.write(MultiPoint(Array(Point(0, 0), Point(0, 0)))))

  /** A 202-point city-like set, the size of the reference affine harness's
    * `cities.arrow`. */
  def citiesFixture(seed: Long): Array[Array[Byte]] =
    Array.tabulate(202) { i => val (x, y) = lonLat(rng(seed, i, 2)); WKB.write(Point(x, y)) }

  // ---------------------------------------------------------- spatial_join

  /** Zipf-weighted hotspots: (cx, cy, spread) and the cumulative weights.
    * Only the positions depend on the seed; weights and spreads are fixed
    * by rank, so every seed has the same amount of skew. */
  final class Hotspots(seed: Long, n: Int = 64, s: Double = 1.1) extends Serializable {
    val centers: Array[(Double, Double, Double)] = {
      val r = rng(seed, 0, 3)
      Array.tabulate(n) { k => val (x, y) = lonLat(r); (x, y, 0.15 + 0.3 * k / n) }
    }
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def pick(u: Double): (Double, Double, Double) = {
      val k = java.util.Arrays.binarySearch(cdf, u)
      centers(math.min(n - 1, if (k >= 0) k else -k - 1))
    }
  }

  /** Clustered point: 90% around a Zipf-chosen hotspot, 10% uniform. */
  def point(seed: Long, hs: Hotspots, id: Long): (Double, Double) = {
    val r = rng(seed, id, 4)
    if (r.nextDouble() < 0.1) lonLat(r)
    else {
      val (x, y, spread) = hs.pick(r.nextDouble())
      (x + spread * gauss(r), y + spread * gauss(r))
    }
  }

  /** Polygon of mixed size: 70% placed on hotspots, 30% uniform; radius
    * log-normal around 0.05 degrees. `stream` separates independent sets. */
  def polygon(seed: Long, hs: Hotspots, id: Long, stream: Long): Polygon = {
    val r = rng(seed, id, stream)
    val (cx, cy) =
      if (r.nextDouble() < 0.3) lonLat(r)
      else { val (x, y, spread) = hs.pick(r.nextDouble()); (x + 2 * spread * gauss(r), y + 2 * spread * gauss(r)) }
    val radius = math.min(1.0, 0.05 * math.exp(0.7 * gauss(r)))
    Polygon(Array(ring(r, cx, cy, radius, 6 + r.nextInt(35))))
  }
}
