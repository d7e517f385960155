package graft.geom

import scala.collection.mutable.ArrayBuffer

/**
 * Pure-Scala geometry algorithms — the compute kernels behind every st_*
 * expression. Semantics pinned to the reference's documented behavior:
 *  - area: unsigned, CRS units (reference geoseries.rs:14-16)
 *  - length: cartesian; polygon => exterior ring only (geoseries.rs:35-41)
 *  - centroid: may fall outside the geometry (geoseries.rs:18-21)
 *  - convex hull: degrades to LineString/Point below 3 distinct points
 *    (python docstring georust/geoseries.py:76-90)
 *  - is_ring: closed == first coord equals last (geoseries.rs:78-83)
 *  - simplify: Douglas-Peucker, endpoints preserved (geoseries.rs:109-116)
 */
object Algos {

  // ------------------------------------------------------------------ area

  /** Signed shoelace area of one packed ring (positive = CCW). */
  def signedRingArea(r: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = r.length
    while (i + 3 < n) {
      s += r(i) * r(i + 3) - r(i + 2) * r(i + 1)
      i += 2
    }
    s / 2.0
  }

  /** Unsigned area. Points/lines => 0. Holes subtracted. */
  def area(g: Geometry): Double = g match {
    case p: Polygon =>
      if (p.isEmpty) 0.0
      else {
        var a = math.abs(signedRingArea(p.rings(0)))
        var i = 1
        while (i < p.rings.length) { a -= math.abs(signedRingArea(p.rings(i))); i += 1 }
        a
      }
    case m: MultiPolygon => m.geoms.foldLeft(0.0)(_ + area(_))
    case c: GeometryCollection => c.geoms.foldLeft(0.0)(_ + area(_))
    case _ => 0.0
  }

  /**
   * A point guaranteed on/in the geometry (geopandas
   * representative_point, commented in the reference docs): points ->
   * themselves; lines -> a vertex; polygons -> the centroid when it is
   * inside (always, for convex shapes), otherwise the midpoint of the
   * widest interior run of the horizontal scanline through the bbox
   * middle — deterministic, no iteration.
   */
  def representativePoint(g: Geometry): Point = g match {
    case p: Point if !p.isEmpty => p
    case mp: MultiPoint if mp.geoms.nonEmpty => mp.geoms.head
    case l: LineString if !l.isEmpty =>
      val cs = l.coords; Point(cs(cs.length / 4 * 2), cs(cs.length / 4 * 2 + 1))
    case ml: MultiLineString if ml.geoms.nonEmpty => representativePoint(ml.geoms.head)
    case poly: Polygon if !poly.isEmpty =>
      val c = centroid(poly)
      if (contains(poly, c)) c else scanlinePoint(poly)
    case mp: MultiPolygon if mp.geoms.nonEmpty =>
      // largest part anchors the representative point
      representativePoint(mp.geoms.maxBy(area))
    case gc: GeometryCollection if gc.geoms.nonEmpty =>
      representativePoint(gc.geoms.head)
    case _ => null
  }

  private def scanlinePoint(poly: Polygon): Point = {
    val env = poly.envelope
    val y = (env.minY + env.maxY) / 2
    // crossing xs of every ring edge with the scanline
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    poly.rings.foreach { r =>
      var i = 0
      while (i + 3 < r.length) {
        val (x1, y1, x2, y2) = (r(i), r(i + 1), r(i + 2), r(i + 3))
        if ((y1 <= y && y2 > y) || (y2 <= y && y1 > y))
          xs += x1 + (y - y1) / (y2 - y1) * (x2 - x1)
        i += 2
      }
    }
    val sorted = xs.sorted
    // interior runs are between even-odd crossing pairs; take the widest
    var best = 0.0; var bx = env.minX
    var i = 0
    while (i + 1 < sorted.length) {
      val w = sorted(i + 1) - sorted(i)
      if (w > best) { best = w; bx = (sorted(i) + sorted(i + 1)) / 2 }
      i += 2
    }
    Point(bx, y)
  }

  /**
   * OGC validity for the polygon slice (the reference comments is_valid
   * out): rings must be closed with >= 4 stored points, finite coords,
   * non-zero area, no self-intersection within a ring, holes inside the
   * outer ring. Points/lines are valid when non-empty with finite
   * coords. Conservative O(n^2)-per-ring segment test — validation is a
   * data-quality scan, not a hot path.
   */
  def isValid(g: Geometry): Boolean = g match {
    case p: Point => !p.isEmpty && finite(Array(p.x, p.y))
    case mp: MultiPoint => mp.geoms.nonEmpty && mp.geoms.forall(isValid)
    case l: LineString => l.coords.length >= 4 && finite(l.coords)
    case ml: MultiLineString => ml.geoms.nonEmpty && ml.geoms.forall(isValid)
    case poly: Polygon => poly.rings.nonEmpty && poly.rings.forall(validRing) &&
      poly.rings.drop(1).forall(h => pointInRing(h(0), h(1), poly.rings(0)) != 0)
    case mp: MultiPolygon => mp.geoms.nonEmpty && mp.geoms.forall(isValid)
    case gc: GeometryCollection => gc.geoms.nonEmpty && gc.geoms.forall(isValid)
    case _ => false
  }

  private def finite(cs: Array[Double]): Boolean = {
    var i = 0
    while (i < cs.length) {
      if (cs(i).isNaN || cs(i).isInfinite) return false
      i += 1
    }
    true
  }

  private def validRing(r: Array[Double]): Boolean = {
    if (r.length < 8 || !finite(r)) return false // 4 points = 8 doubles
    if (r(0) != r(r.length - 2) || r(1) != r(r.length - 1)) return false
    if (signedRingArea(r) == 0.0) return false
    // proper self-intersection between non-adjacent edges
    val m = r.length / 2 - 1 // edge count
    var i = 0
    while (i < m) {
      var j = i + 2
      while (j < m) {
        val adjacent = j == i + 1 || (i == 0 && j == m - 1)
        if (!adjacent && segmentsCross(
            r(2 * i), r(2 * i + 1), r(2 * i + 2), r(2 * i + 3),
            r(2 * j), r(2 * j + 1), r(2 * j + 2), r(2 * j + 3))) return false
        j += 1
      }
      i += 1
    }
    true
  }

  private def segmentsCross(
      ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    o1 * o2 < 0 && o3 * o4 < 0 // proper crossing only
  }

  /**
   * Topological boundary (OGC/GEOS semantics for the 2D slice):
   * polygon -> its rings as closed LineStrings, open line -> the
   * endpoints occurring an odd number of times (mod-2 rule), closed
   * line / points -> empty => null (SQL NULL; the reference declares
   * boundary commented-out only, geoseries.rst).
   */
  def boundary(g: Geometry): Geometry = g match {
    case p: Polygon if !p.isEmpty =>
      if (p.rings.length == 1) LineString(p.rings(0))
      else MultiLineString(p.rings.map(LineString(_)))
    case mp: MultiPolygon if mp.geoms.nonEmpty =>
      val rings = mp.geoms.flatMap(_.rings).map(LineString(_))
      if (rings.length == 1) rings.head else MultiLineString(rings)
    case l: LineString if !l.isEmpty => lineEndpoints(Seq(l))
    case ml: MultiLineString if ml.geoms.nonEmpty => lineEndpoints(ml.geoms.toSeq)
    case _ => null
  }

  private def lineEndpoints(lines: Seq[LineString]): Geometry = {
    val counts = scala.collection.mutable.LinkedHashMap.empty[(Double, Double), Int]
    lines.foreach { l =>
      val cs = l.coords
      if (cs.length >= 4) {
        val a = (cs(0), cs(1))
        val b = (cs(cs.length - 2), cs(cs.length - 1))
        if (a == b) () // closed component contributes no boundary
        else Seq(a, b).foreach(p => counts(p) = counts.getOrElse(p, 0) + 1)
      }
    }
    val odd = counts.collect { case ((x, y), c) if c % 2 == 1 => Point(x, y) }.toArray
    if (odd.isEmpty) null
    else if (odd.length == 1) odd.head
    else MultiPoint(odd)
  }

  /**
   * Buffer via Minkowski-sum pieces dissolved by the planar-overlay union:
   * points get the regular 4*quadSegs-gon inscribed in the radius-r circle
   * (PostGIS quad_segs convention); lines get per-segment rectangles plus a
   * vertex n-gon at every vertex (round caps and joins); polygons get the
   * area itself plus its ring buffers. The reference declares buffer only
   * as a future op (geoseries.rst, commented). r <= 0 => null.
   */
  /**
   * Geodesic buffer in METERS via spherical azimuthal equidistant
   * projection about the geometry's envelope center (PostGIS
   * ST_Buffer(geography) strategy): project, planar [[buffer]], inverse.
   * EXACT radius for points (AEQD preserves distance from its center);
   * for extended geometries the radius distorts by O((extent/R)^2) away
   * from the center — meter-level for city-scale inputs. Poles and the
   * antimeridian are handled by the projection itself (no lon/lat math
   * on the ring).
   */
  def geodesicBuffer(g: Geometry, rMeters: Double, quadSegs: Int = 8): Geometry = {
    if (g == null || g.isEmpty || rMeters <= 0 || quadSegs < 1) return null
    val e = g.envelope
    // antimeridian-crossing geometries have a lon/lat envelope spanning
    // nearly the whole globe with a center ~180 deg from the geometry;
    // recompute the center on shifted longitudes (negative +360) so the
    // projection is centered ON the geometry. AEQD's forward is periodic
    // in the lon difference, so only the center choice matters.
    val lon0 = if (e.maxX - e.minX > 180) {
      val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
      g.foreachCoord((x, _) => xs += (if (x < 0) x + 360 else x))
      val c = (xs.min + xs.max) / 2
      if (c > 180) c - 360 else c
    } else (e.minX + e.maxX) / 2
    val proj = CRS.AzimuthalEquidistant(
      Geodesy.MeanEarthRadius, lon0, (e.minY + e.maxY) / 2)
    val planar = g.mapCoords((x, y) => proj.forward(x, y))
    buffer(planar, rMeters, quadSegs) match {
      case null => null
      case b    => b.mapCoords((x, y) => proj.inverse(x, y))
    }
  }

  def buffer(g: Geometry, r: Double, quadSegs: Int = 8): Geometry = {
    if (r <= 0 || quadSegs < 1) return null
    val n = 4 * quadSegs
    def ngon(cx: Double, cy: Double): Polygon = {
      val ring = new Array[Double]((n + 1) * 2)
      var k = 0
      while (k < n) {
        val t = 2.0 * math.Pi * k / n
        ring(2 * k) = cx + r * math.cos(t)
        ring(2 * k + 1) = cy + r * math.sin(t)
        k += 1
      }
      ring(2 * n) = ring(0); ring(2 * n + 1) = ring(1)
      Polygon(Array(ring))
    }
    def segRect(x1: Double, y1: Double, x2: Double, y2: Double): Polygon = {
      val len = math.hypot(x2 - x1, y2 - y1)
      val nx = -(y2 - y1) / len * r; val ny = (x2 - x1) / len * r
      Polygon(Array(Array(
        x1 + nx, y1 + ny, x2 + nx, y2 + ny,
        x2 - nx, y2 - ny, x1 - nx, y1 - ny, x1 + nx, y1 + ny)))
    }
    def coordPieces(cs: Array[Double]): Seq[Polygon] = {
      val out = ArrayBuffer.empty[Polygon]
      var i = 0
      while (i + 1 < cs.length) {
        out += ngon(cs(i), cs(i + 1))
        if (i + 3 < cs.length && (cs(i) != cs(i + 2) || cs(i + 1) != cs(i + 3)))
          out += segRect(cs(i), cs(i + 1), cs(i + 2), cs(i + 3))
        i += 2
      }
      out.toSeq
    }
    g match {
      case p: Point if !p.isEmpty => ngon(p.x, p.y)
      case mp: MultiPoint if mp.geoms.nonEmpty =>
        Union.union(mp.geoms.map(p => ngon(p.x, p.y)).toSeq)
      case l: LineString if !l.isEmpty =>
        Union.union(coordPieces(l.coords))
      case ml: MultiLineString if ml.geoms.nonEmpty =>
        Union.union(ml.geoms.toSeq.flatMap(l => coordPieces(l.coords)))
      case p: Polygon if !p.isEmpty =>
        Union.union(p +: p.rings.toSeq.flatMap(coordPieces))
      case mp: MultiPolygon if mp.geoms.nonEmpty =>
        Union.union(mp.geoms.toSeq.flatMap(p => p +: p.rings.toSeq.flatMap(coordPieces)))
      case _ => null
    }
  }

  // ---------------------------------------------------------------- length

  private def coordsLength(cs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i + 3 < cs.length) {
      val dx = cs(i + 2) - cs(i); val dy = cs(i + 3) - cs(i + 1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 2
    }
    s
  }

  /** Cartesian length; polygon => exterior ring length; points => 0. */
  def length(g: Geometry): Double = g match {
    case l: LineString => coordsLength(l.coords)
    case p: Polygon    => if (p.isEmpty) 0.0 else coordsLength(p.rings(0))
    case m: MultiLineString => m.geoms.foldLeft(0.0)(_ + length(_))
    case m: MultiPolygon    => m.geoms.foldLeft(0.0)(_ + length(_))
    case c: GeometryCollection => c.geoms.foldLeft(0.0)(_ + length(_))
    case _ => 0.0
  }

  /** Full-boundary perimeter (all rings) — used by quality checks, not the st_length surface. */
  def perimeter(p: Polygon): Double = p.rings.foldLeft(0.0)((s, r) => s + coordsLength(r))

  // -------------------------------------------------------------- centroid

  /** (weightedX, weightedY, weight, dimension) */
  private def centroidAcc(g: Geometry): (Double, Double, Double, Int) = g match {
    case p: Point if !p.isEmpty => (p.x, p.y, 1.0, 0)
    case l: LineString if !l.isEmpty =>
      val cs = l.coords
      if (cs.length == 2) (cs(0), cs(1), 1.0, 0)
      else {
        var sx = 0.0; var sy = 0.0; var w = 0.0
        var i = 0
        while (i + 3 < cs.length) {
          val dx = cs(i + 2) - cs(i); val dy = cs(i + 3) - cs(i + 1)
          val seg = math.sqrt(dx * dx + dy * dy)
          sx += (cs(i) + cs(i + 2)) / 2 * seg
          sy += (cs(i + 1) + cs(i + 3)) / 2 * seg
          w += seg
          i += 2
        }
        if (w == 0) (cs(0), cs(1), 1.0, 0) else (sx, sy, w, 1)
      }
    case p: Polygon if !p.isEmpty =>
      var sx = 0.0; var sy = 0.0; var w = 0.0
      var j = 0
      while (j < p.rings.length) {
        val r = p.rings(j)
        val sign = if (j == 0) 1.0 else -1.0
        var a = 0.0; var cx = 0.0; var cy = 0.0
        var i = 0
        while (i + 3 < r.length) {
          val cross = r(i) * r(i + 3) - r(i + 2) * r(i + 1)
          a += cross
          cx += (r(i) + r(i + 2)) * cross
          cy += (r(i + 1) + r(i + 3)) * cross
          i += 2
        }
        // ring centroid weight = |ring area|; orientation-independent
        val ringArea = a / 2.0
        if (ringArea != 0) {
          val f = sign * math.abs(ringArea)
          sx += cx / (6.0 * ringArea) * f
          sy += cy / (6.0 * ringArea) * f
          w += f
        }
        j += 1
      }
      if (w == 0) { // degenerate polygon: fall back to boundary length centroid
        centroidAcc(LineString(p.rings(0)))
      } else (sx, sy, w, 2)
    case m: GeometryCollectionLike =>
      val accs = m.geoms.map(centroidAcc).filter(_._3 > 0)
      if (accs.isEmpty) (0, 0, 0, -1)
      else {
        val maxDim = accs.map(_._4).max
        val keep = accs.filter(_._4 == maxDim)
        (keep.map(_._1).sum, keep.map(_._2).sum, keep.map(_._3).sum, maxDim)
      }
    case _ => (0, 0, 0, -1)
  }

  /** Centroid; empty geometry => empty Point. Mixed collections use the
    * highest-dimension components (georust Centroid behavior). */
  def centroid(g: Geometry): Point = {
    val (sx, sy, w, _) = centroidAcc(g)
    if (w == 0) Point.empty else Point(sx / w, sy / w)
  }

  // -------------------------------------------------------------- envelope

  /** Envelope as a geometry: Polygon box; degenerate => Point / 2-point LineString. */
  def envelopeGeom(g: Geometry): Geometry = {
    val e = g.envelope
    if (e.isEmpty) Polygon(Array.empty)
    else if (e.minX == e.maxX && e.minY == e.maxY) Point(e.minX, e.minY)
    else if (e.minX == e.maxX || e.minY == e.maxY)
      LineString(Array(e.minX, e.minY, e.maxX, e.maxY))
    else
      Polygon(Array(Array(e.minX, e.minY, e.maxX, e.minY, e.maxX, e.maxY, e.minX, e.maxY, e.minX, e.minY)))
  }

  // ----------------------------------------------------------- convex hull

  /** Andrew's monotone chain. Output CCW Polygon; degrades to LineString (2
    * distinct pts) or Point (1). */
  def convexHull(g: Geometry): Geometry = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    g.foreachCoord((x, y) => buf += ((x, y)))
    val pts = buf.distinct.sorted.toArray
    if (pts.length == 0) return Polygon(Array.empty)
    if (pts.length == 1) return Point(pts(0)._1, pts(0)._2)
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val hull = new Array[(Double, Double)](2 * pts.length)
    var k = 0
    var i = 0
    while (i < pts.length) { // lower hull
      while (k >= 2 && cross(hull(k - 2), hull(k - 1), pts(i)) <= 0) k -= 1
      hull(k) = pts(i); k += 1; i += 1
    }
    val lower = k + 1
    i = pts.length - 2
    while (i >= 0) { // upper hull
      while (k >= lower && cross(hull(k - 2), hull(k - 1), pts(i)) <= 0) k -= 1
      hull(k) = pts(i); k += 1; i -= 1
    }
    val ring = hull.take(k - 1) // last point == first
    if (ring.length == 2)
      LineString(Array(ring(0)._1, ring(0)._2, ring(1)._1, ring(1)._2))
    else {
      val packed = new Array[Double]((ring.length + 1) * 2)
      var j = 0
      while (j < ring.length) { packed(2 * j) = ring(j)._1; packed(2 * j + 1) = ring(j)._2; j += 1 }
      packed(2 * ring.length) = ring(0)._1; packed(2 * ring.length + 1) = ring(0)._2
      Polygon(Array(packed))
    }
  }

  // ---------------------------------------------------------------- rings

  /** Exterior ring of a Polygon as a closed LineString; null otherwise
    * (reference geoseries.rs:43-47: None for non-polygons). */
  def exteriorRing(g: Geometry): Geometry = g match {
    case p: Polygon if !p.isEmpty => LineString(p.rings(0))
    case _ => null
  }

  def isRing(g: Geometry): Boolean = g match {
    case l: LineString => l.isClosed
    case _: Polygon    => true
    case _             => false
  }

  // ------------------------------------------------------------- simplify

  /** Douglas-Peucker on one packed line; keeps endpoints. */
  def simplifyCoords(cs: Array[Double], tol: Double): Array[Double] = {
    val n = cs.length / 2
    if (n <= 2) return cs
    val keep = new Array[Boolean](n)
    keep(0) = true; keep(n - 1) = true
    // iterative stack to avoid deep recursion on long lines
    val stack = scala.collection.mutable.Stack[(Int, Int)]((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.pop()
      if (hi - lo >= 2) {
        val x1 = cs(2 * lo); val y1 = cs(2 * lo + 1)
        val x2 = cs(2 * hi); val y2 = cs(2 * hi + 1)
        val dx = x2 - x1; val dy = y2 - y1
        val segLen = math.sqrt(dx * dx + dy * dy)
        var maxD = -1.0; var maxI = -1
        var i = lo + 1
        while (i < hi) {
          val px = cs(2 * i); val py = cs(2 * i + 1)
          val d =
            if (segLen == 0) math.sqrt((px - x1) * (px - x1) + (py - y1) * (py - y1))
            else math.abs(dy * px - dx * py + x2 * y1 - y2 * x1) / segLen
          if (d > maxD) { maxD = d; maxI = i }
          i += 1
        }
        if (maxD > tol) {
          keep(maxI) = true
          stack.push((lo, maxI)); stack.push((maxI, hi))
        }
      }
    }
    val kept = (0 until n).count(keep)
    val out = new Array[Double](kept * 2)
    var j = 0; var i = 0
    while (i < n) {
      if (keep(i)) { out(2 * j) = cs(2 * i); out(2 * j + 1) = cs(2 * i + 1); j += 1 }
      i += 1
    }
    out
  }

  def simplify(g: Geometry, tol: Double): Geometry = g match {
    case l: LineString => LineString(simplifyCoords(l.coords, tol))
    case p: Polygon =>
      Polygon(p.rings.map { r =>
        val s = simplifyCoords(r, tol)
        if (s.length >= 8) s else r // keep ring valid (>=4 coords incl. closure)
      })
    case m: MultiLineString => MultiLineString(m.geoms.map(simplify(_, tol).asInstanceOf[LineString]))
    case m: MultiPolygon    => MultiPolygon(m.geoms.map(simplify(_, tol).asInstanceOf[Polygon]))
    case c: GeometryCollection => GeometryCollection(c.geoms.map(simplify(_, tol)))
    case other => other
  }

  // ------------------------------------------------------------- distance

  /** Exact point-on-segment test (cross product == 0 + bbox), no projection
    * rounding — a point with coordinates equal to an axis-parallel edge's must
    * register as boundary (ptSegDistSq can return ~1e-29 there). */
  @inline private[geom] def onSegment(px: Double, py: Double,
                                      x1: Double, y1: Double, x2: Double, y2: Double): Boolean = {
    val cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    cross == 0.0 &&
      px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
      py >= math.min(y1, y2) && py <= math.max(y1, y2)
  }

  private def ptSegDistSq(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val lenSq = dx * dx + dy * dy
    val t = if (lenSq == 0) 0.0 else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / lenSq))
    val cx = x1 + t * dx; val cy = y1 + t * dy
    (px - cx) * (px - cx) + (py - cy) * (py - cy)
  }

  private def segsIntersect(ax1: Double, ay1: Double, ax2: Double, ay2: Double,
                            bx1: Double, by1: Double, bx2: Double, by2: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Double =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    val d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    val d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    val d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) && ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) true
    else {
      def onSeg(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Boolean =
        math.min(ox, px) <= qx && qx <= math.max(ox, px) && math.min(oy, py) <= qy && qy <= math.max(oy, py)
      (d1 == 0 && onSeg(bx1, by1, bx2, by2, ax1, ay1)) ||
      (d2 == 0 && onSeg(bx1, by1, bx2, by2, ax2, ay2)) ||
      (d3 == 0 && onSeg(ax1, ay1, ax2, ay2, bx1, by1)) ||
      (d4 == 0 && onSeg(ax1, ay1, ax2, ay2, bx2, by2))
    }
  }

  /** Decompose into segment list (packed x1,y1,x2,y2 per segment) + isolated points.
    * The first walk sizes the two primitive arrays, the second fills them. */
  private def segments(g: Geometry): (Array[Double], Array[Double]) = {
    var segs: Array[Double] = null; var pts: Array[Double] = null
    var ns = 0; var np = 0
    def addPoint(x: Double, y: Double): Unit = {
      if (pts != null) { pts(np) = x; pts(np + 1) = y }
      np += 2
    }
    def addLine(cs: Array[Double]): Unit =
      if (cs.length == 2) addPoint(cs(0), cs(1))
      else if (cs.length >= 4) {
        // segment k starts at cs(2k) and lands at segs(ns + 4k)
        if (segs != null) {
          var i = 0
          while (i + 3 < cs.length) { System.arraycopy(cs, i, segs, ns + 2 * i, 4); i += 2 }
        }
        ns += 2 * cs.length - 4
      }
    def go(g: Geometry): Unit = g match {
      case p: Point if !p.isEmpty => addPoint(p.x, p.y)
      case l: LineString => addLine(l.coords)
      case p: Polygon    => p.rings.foreach(addLine)
      case m: GeometryCollectionLike => m.geoms.foreach(go)
      case _ =>
    }
    go(g)
    segs = new Array[Double](ns); pts = new Array[Double](np)
    ns = 0; np = 0
    go(g)
    (segs, pts)
  }

  /** 0 = outside, 1 = on boundary, 2 = strictly inside — ray casting w/ boundary test. */
  def pointInRing(px: Double, py: Double, r: Array[Double]): Int = {
    var inside = false
    var i = 0
    while (i + 3 < r.length) {
      val x1 = r(i); val y1 = r(i + 1); val x2 = r(i + 2); val y2 = r(i + 3)
      // boundary?
      if (onSegment(px, py, x1, y1, x2, y2)) return 1
      if ((y1 > py) != (y2 > py)) {
        val xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        if (px < xint) inside = !inside
      }
      i += 2
    }
    if (inside) 2 else 0
  }

  /** 0/1/2 point-vs-polygon (holes respected). */
  def pointInPolygon(px: Double, py: Double, p: Polygon): Int = {
    if (p.isEmpty || !p.envelope.contains(px, py)) return 0
    val ext = pointInRing(px, py, p.rings(0))
    if (ext == 0) return 0
    if (ext == 1) return 1
    var i = 1
    while (i < p.rings.length) {
      val h = pointInRing(px, py, p.rings(i))
      if (h == 2) return 0
      if (h == 1) return 1
      i += 1
    }
    2
  }

  /** Location of a point in a geometry: 0 outside, 1 boundary, 2 interior. */
  private def locate(px: Double, py: Double, g: Geometry): Int = g match {
    case p: Polygon => pointInPolygon(px, py, p)
    case m: MultiPolygon =>
      var best = 0
      for (p <- m.geoms) { val l = pointInPolygon(px, py, p); if (l > best) best = l }
      best
    case l: LineString =>
      val cs = l.coords
      var i = 0
      while (i + 3 < cs.length) {
        if (onSegment(px, py, cs(i), cs(i + 1), cs(i + 2), cs(i + 3))) return 1
        i += 2
      }
      0
    case m: MultiLineString =>
      if (m.geoms.exists(locate(px, py, _) > 0)) 1 else 0
    case p: Point => if (!p.isEmpty && p.x == px && p.y == py) 2 else 0
    case m: MultiPoint => if (m.geoms.exists(q => !q.isEmpty && q.x == px && q.y == py)) 2 else 0
    case c: GeometryCollection =>
      var best = 0
      for (g2 <- c.geoms) { val l = locate(px, py, g2); if (l > best) best = l }
      best
    case _ => 0
  }

  /** Exact `intersects` — boundary contact counts (DE-9IM "not disjoint"). */
  def intersects(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    if (!a.envelope.intersects(b.envelope)) return false
    val (sa, pa) = segments(a)
    val (sb, pb) = segments(b)
    // any segment-segment intersection
    var i = 0
    while (i < sa.length) {
      var j = 0
      while (j < sb.length) {
        if (segsIntersect(sa(i), sa(i + 1), sa(i + 2), sa(i + 3), sb(j), sb(j + 1), sb(j + 2), sb(j + 3)))
          return true
        j += 4
      }
      i += 4
    }
    // point containment either way (covers polygon-contains-polygon, point-on-line, etc.)
    i = 0
    while (i < pa.length) { if (locate(pa(i), pa(i + 1), b) > 0) return true; i += 2 }
    i = 0
    while (i < pb.length) { if (locate(pb(i), pb(i + 1), a) > 0) return true; i += 2 }
    // a fully inside b or b fully inside a (no boundary contact): test one vertex
    var ax = Double.NaN; var ay = Double.NaN
    a.foreachCoord((x, y) => if (ax.isNaN) { ax = x; ay = y })
    if (!ax.isNaN && locate(ax, ay, b) > 0) return true
    var bx = Double.NaN; var by = Double.NaN
    b.foreachCoord((x, y) => if (bx.isNaN) { bx = x; by = y })
    if (!bx.isNaN && locate(bx, by, a) > 0) return true
    false
  }

  /**
   * `contains(a, b)`: b lies in a's closure with at least one interior point
   * (GEOS/georust semantics: a point on the boundary only is NOT contained).
   * Supported pair matrix mirrors the reference spatial join refinement
   * (spatial_index.rs:89-137); general cases handled conservatively.
   */
  def contains(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    (a, b) match {
      // the point-in-polygon refine of every join and window: one locate
      // answers it (interior only), with no segment arrays to build
      case (_: Polygon | _: MultiPolygon, p: Point) => return locate(p.x, p.y, a) == 2
      case _ =>
    }
    if (!a.envelope.contains(b.envelope)) return false
    a match {
      case _: Polygon | _: MultiPolygon =>
        // all of b's vertices must be inside-or-boundary, at least one strictly inside,
        // and no segment of b may properly cross a's boundary.
        var anyInterior = false
        var allIn = true
        b.foreachCoord { (x, y) =>
          val l = locate(x, y, a)
          if (l == 0) allIn = false
          if (l == 2) anyInterior = true
        }
        if (!allIn) return false
        val (sa, _) = segments(a)
        val (sb, _) = segments(b)
        var i = 0
        while (i < sb.length) {
          // midpoint test catches chords that exit and re-enter through vertices
          val mx = (sb(i) + sb(i + 2)) / 2; val my = (sb(i + 1) + sb(i + 3)) / 2
          val lm = locate(mx, my, a)
          if (lm == 0) return false
          if (lm == 2) anyInterior = true
          var j = 0
          while (j < sa.length) {
            if (properCross(sb(i), sb(i + 1), sb(i + 2), sb(i + 3), sa(j), sa(j + 1), sa(j + 2), sa(j + 3)))
              return false
            j += 4
          }
          i += 4
        }
        anyInterior
      case line: LineString =>
        b match {
          case p: Point => !p.isEmpty && {
            // on the line but not an endpoint-only touch
            val cs = line.coords
            if (locate(p.x, p.y, line) == 0) false
            else if (line.isClosed) true
            else !((p.x == cs(0) && p.y == cs(1)) ||
                   (p.x == cs(cs.length - 2) && p.y == cs(cs.length - 1)))
          }
          case _ => false // line-contains-line not in the reference matrix
        }
      case p: Point =>
        b match { case q: Point => p.x == q.x && p.y == q.y; case _ => false }
      case m: MultiPoint =>
        b match {
          case q: Point => m.geoms.exists(p => p.x == q.x && p.y == q.y)
          case _ => false
        }
      case m: MultiLineString => m.geoms.exists(contains(_, b))
      case c: GeometryCollection => c.geoms.exists(contains(_, b))
      case _ => false
    }
  }

  private def properCross(ax1: Double, ay1: Double, ax2: Double, ay2: Double,
                          bx1: Double, by1: Double, bx2: Double, by2: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Double =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    val d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    val d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    val d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) && ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  /** Min cartesian distance between two geometries (0 when intersecting). */
  def distance(a: Geometry, b: Geometry): Double = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return Double.NaN
    if (intersects(a, b)) return 0.0
    val (sa, pa) = segments(a)
    val (sb, pb) = segments(b)
    var best = Double.PositiveInfinity
    def segSegDistSq(i: Int, j: Int): Double = {
      // neither segment intersects (checked above) -> min of endpoint-to-segment distances
      math.min(
        math.min(ptSegDistSq(sa(i), sa(i + 1), sb(j), sb(j + 1), sb(j + 2), sb(j + 3)),
                 ptSegDistSq(sa(i + 2), sa(i + 3), sb(j), sb(j + 1), sb(j + 2), sb(j + 3))),
        math.min(ptSegDistSq(sb(j), sb(j + 1), sa(i), sa(i + 1), sa(i + 2), sa(i + 3)),
                 ptSegDistSq(sb(j + 2), sb(j + 3), sa(i), sa(i + 1), sa(i + 2), sa(i + 3))))
    }
    var i = 0
    while (i < sa.length) {
      var j = 0
      while (j < sb.length) { val d = segSegDistSq(i, j); if (d < best) best = d; j += 4 }
      j = 0
      while (j < pb.length) {
        val d = ptSegDistSq(pb(j), pb(j + 1), sa(i), sa(i + 1), sa(i + 2), sa(i + 3))
        if (d < best) best = d
        j += 2
      }
      i += 4
    }
    i = 0
    while (i < pa.length) {
      var j = 0
      while (j < sb.length) {
        val d = ptSegDistSq(pa(i), pa(i + 1), sb(j), sb(j + 1), sb(j + 2), sb(j + 3))
        if (d < best) best = d
        j += 4
      }
      j = 0
      while (j < pb.length) {
        val dx = pa(i) - pb(j); val dy = pa(i + 1) - pb(j + 1)
        val d = dx * dx + dy * dy
        if (d < best) best = d
        j += 2
      }
      i += 2
    }
    math.sqrt(best)
  }

  // ------------------------------------------------------------- proximity

  /** Nearest point on segment (x1,y1)-(x2,y2) to (px,py): clamp-projection. */
  @inline private def ptSegClosest(px: Double, py: Double,
                                   x1: Double, y1: Double, x2: Double, y2: Double): (Double, Double) = {
    val dx = x2 - x1; val dy = y2 - y1
    val lenSq = dx * dx + dy * dy
    val t = if (lenSq == 0) 0.0 else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / lenSq))
    (x1 + t * dx, y1 + t * dy)
  }

  /**
   * Closest-point pair `[ax, ay, bx, by]`: the point ON `a` nearest to `b`
   * and the matching point on `b` (PostGIS ST_ClosestPoint / ST_ShortestLine
   * semantics; the reference exposes only the scalar distance,
   * geoseries.rs:141-146 — this is its argmin witness). Intersecting inputs
   * return a shared point twice; empty input => null.
   */
  def closestPoints(a: Geometry, b: Geometry): Array[Double] = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return null
    if (intersects(a, b)) {
      val w = intersectionWitness(a, b)
      return Array(w._1, w._2, w._1, w._2)
    }
    val (sa, pa) = segments(a)
    val (sb, pb) = segments(b)
    var best = Double.PositiveInfinity
    var bax = 0.0; var bay = 0.0; var bbx = 0.0; var bby = 0.0
    @inline def consider(ax: Double, ay: Double, bx: Double, by: Double): Unit = {
      val dx = ax - bx; val dy = ay - by
      val d = dx * dx + dy * dy
      if (d < best) { best = d; bax = ax; bay = ay; bbx = bx; bby = by }
    }
    var i = 0
    while (i < sa.length) {
      var j = 0
      while (j < sb.length) {
        // disjoint segments: the min is endpoint-to-segment in one direction
        val c1 = ptSegClosest(sa(i), sa(i + 1), sb(j), sb(j + 1), sb(j + 2), sb(j + 3))
        consider(sa(i), sa(i + 1), c1._1, c1._2)
        val c2 = ptSegClosest(sa(i + 2), sa(i + 3), sb(j), sb(j + 1), sb(j + 2), sb(j + 3))
        consider(sa(i + 2), sa(i + 3), c2._1, c2._2)
        val c3 = ptSegClosest(sb(j), sb(j + 1), sa(i), sa(i + 1), sa(i + 2), sa(i + 3))
        consider(c3._1, c3._2, sb(j), sb(j + 1))
        val c4 = ptSegClosest(sb(j + 2), sb(j + 3), sa(i), sa(i + 1), sa(i + 2), sa(i + 3))
        consider(c4._1, c4._2, sb(j + 2), sb(j + 3))
        j += 4
      }
      j = 0
      while (j < pb.length) {
        val c = ptSegClosest(pb(j), pb(j + 1), sa(i), sa(i + 1), sa(i + 2), sa(i + 3))
        consider(c._1, c._2, pb(j), pb(j + 1))
        j += 2
      }
      i += 4
    }
    i = 0
    while (i < pa.length) {
      var j = 0
      while (j < sb.length) {
        val c = ptSegClosest(pa(i), pa(i + 1), sb(j), sb(j + 1), sb(j + 2), sb(j + 3))
        consider(pa(i), pa(i + 1), c._1, c._2)
        j += 4
      }
      j = 0
      while (j < pb.length) { consider(pa(i), pa(i + 1), pb(j), pb(j + 1)); j += 2 }
      i += 2
    }
    if (best.isInfinite) null else Array(bax, bay, bbx, bby)
  }

  /** A point shared by two intersecting geometries: a vertex of one lying on
    * the other, else a proper segment-crossing point. */
  private def intersectionWitness(a: Geometry, b: Geometry): (Double, Double) = {
    var res: (Double, Double) = null
    b.foreachCoord { (x, y) => if (res == null && locate(x, y, a) != 0) res = (x, y) }
    if (res != null) return res
    a.foreachCoord { (x, y) => if (res == null && locate(x, y, b) != 0) res = (x, y) }
    if (res != null) return res
    val (sa, _) = segments(a)
    val (sb, _) = segments(b)
    var i = 0
    while (i < sa.length) {
      var j = 0
      while (j < sb.length) {
        if (segsIntersect(sa(i), sa(i + 1), sa(i + 2), sa(i + 3), sb(j), sb(j + 1), sb(j + 2), sb(j + 3))) {
          // proper crossing (no endpoint on the other segment): line-line solve
          val d = (sa(i + 2) - sa(i)) * (sb(j + 3) - sb(j + 1)) - (sa(i + 3) - sa(i + 1)) * (sb(j + 2) - sb(j))
          if (d != 0) {
            val t = ((sb(j) - sa(i)) * (sb(j + 3) - sb(j + 1)) - (sb(j + 1) - sa(i + 1)) * (sb(j + 2) - sb(j))) / d
            return (sa(i) + t * (sa(i + 2) - sa(i)), sa(i + 1) + t * (sa(i + 3) - sa(i + 1)))
          }
        }
        j += 4
      }
      i += 4
    }
    // intersects() true but no witness found (collinear overlap with no shared
    // vertex on the other's closure can't occur: overlap implies containment
    // of an endpoint) — fall back to a's first vertex
    var fx = Double.NaN; var fy = Double.NaN
    a.foreachCoord((x, y) => if (fx.isNaN) { fx = x; fy = y })
    (fx, fy)
  }

  /**
   * Discrete Hausdorff distance (PostGIS ST_HausdorffDistance convention):
   * max over the vertices of each geometry of the exact distance to the
   * OTHER geometry (full segments, not just vertices), symmetrized. Exact
   * for point sets; for lines/polygons it is the standard vertex-discrete
   * approximation (densify with [[segmentize]] first to tighten). NaN for
   * empty input (kernel maps to null).
   */
  def hausdorff(a: Geometry, b: Geometry): Double = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return Double.NaN
    def oneWay(x: Geometry, y: Geometry): Double = {
      var mx = 0.0
      x.foreachCoord { (px, py) =>
        val d = distance(Point(px, py), y)
        if (d > mx) mx = d
      }
      mx
    }
    math.max(oneWay(a, b), oneWay(b, a))
  }

  /**
   * `covers(a, b)`: every point of b lies in the CLOSURE of a — boundary
   * contact is enough, unlike [[contains]] which demands an interior point
   * (the PostGIS ST_Covers / ST_Contains distinction). Same supported pair
   * matrix as contains.
   */
  def covers(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    if (!a.envelope.contains(b.envelope)) return false
    a match {
      case _: Polygon | _: MultiPolygon =>
        var allIn = true
        b.foreachCoord { (x, y) => if (locate(x, y, a) == 0) allIn = false }
        if (!allIn) return false
        val (sa, _) = segments(a)
        val (sb, _) = segments(b)
        var i = 0
        while (i < sb.length) {
          // midpoint catches chords that exit and re-enter through vertices
          val mx = (sb(i) + sb(i + 2)) / 2; val my = (sb(i + 1) + sb(i + 3)) / 2
          if (locate(mx, my, a) == 0) return false
          var j = 0
          while (j < sa.length) {
            if (properCross(sb(i), sb(i + 1), sb(i + 2), sb(i + 3),
                sa(j), sa(j + 1), sa(j + 2), sa(j + 3))) return false
            j += 4
          }
          i += 4
        }
        // areal b: b's interior must not poke into a's exterior through a
        // hole whose ring b's boundary never crosses (e.g. b exactly fills
        // a hole of a) — sample each part's interior point, and reject any
        // hole-ring vertex of a strictly inside b
        if (geomDim(b) == 2) {
          def parts(g: Geometry): Seq[Polygon] = g match {
            case p: Polygon            => Seq(p)
            case m: MultiPolygon       => m.geoms.toSeq
            case c: GeometryCollection => c.geoms.toSeq.flatMap(parts)
            case _                     => Seq.empty
          }
          for (p <- parts(b)) {
            val c = representativePoint(p)
            if (c != null && locate(c.x, c.y, a) == 0) return false
          }
          def holeVertexInside(g: Geometry): Boolean = g match {
            case p: Polygon =>
              var hi = 1; var hit = false
              while (hi < p.rings.length && !hit) {
                val r = p.rings(hi); var k = 0
                while (k + 1 < r.length && !hit) {
                  if (locate(r(k), r(k + 1), b) == 2) hit = true
                  k += 2
                }
                hi += 1
              }
              hit
            case m: MultiPolygon => m.geoms.exists(holeVertexInside)
            case _               => false
          }
          if (holeVertexInside(a)) return false
        }
        true
      case line: LineString =>
        b match {
          case p: Point => !p.isEmpty && locate(p.x, p.y, line) > 0
          case _ => false
        }
      case p: Point =>
        b match { case q: Point => p.x == q.x && p.y == q.y; case _ => false }
      case m: MultiPoint =>
        b match {
          case q: Point => m.geoms.exists(p => !p.isEmpty && p.x == q.x && p.y == q.y)
          case mq: MultiPoint =>
            mq.geoms.forall(q => m.geoms.exists(p => !p.isEmpty && p.x == q.x && p.y == q.y))
          case _ => false
        }
      case m: MultiLineString => m.geoms.exists(covers(_, b))
      case c: GeometryCollection => c.geoms.exists(covers(_, b))
      case _ => false
    }
  }

  /** North-based clockwise azimuth (radians, [0, 2π)) from point a to point b
    * (PostGIS ST_Azimuth). NaN for identical points (kernel maps to null). */
  def azimuth(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    if (ax == bx && ay == by) return Double.NaN
    val az = math.atan2(bx - ax, by - ay)
    if (az < 0) az + 2 * math.Pi else az
  }

  // -------------------------------------------------------- line accessors

  /** First vertex of a LineString as a Point; null for other types (PostGIS
    * ST_StartPoint). */
  def startPoint(g: Geometry): Geometry = g match {
    case l: LineString if !l.isEmpty => Point(l.coords(0), l.coords(1))
    case _ => null
  }

  /** Last vertex of a LineString as a Point; null for other types. */
  def endPoint(g: Geometry): Geometry = g match {
    case l: LineString if !l.isEmpty =>
      Point(l.coords(l.coords.length - 2), l.coords(l.coords.length - 1))
    case _ => null
  }

  /** N-th vertex of a LineString, 1-based; negative counts from the end
    * (PostGIS ST_PointN). Out of range or non-line => null. */
  def pointN(g: Geometry, n: Int): Geometry = g match {
    case l: LineString if !l.isEmpty =>
      val count = l.numPoints
      val idx = if (n > 0) n - 1 else count + n
      if (idx < 0 || idx >= count) null
      else Point(l.coords(2 * idx), l.coords(2 * idx + 1))
    case _ => null
  }

  /** Reverse vertex order per part; part order is preserved (PostGIS ST_Reverse). */
  def reverse(g: Geometry): Geometry = {
    def rev(cs: Array[Double]): Array[Double] = {
      val n = cs.length / 2
      val out = new Array[Double](cs.length)
      var i = 0
      while (i < n) { out(2 * i) = cs(2 * (n - 1 - i)); out(2 * i + 1) = cs(2 * (n - 1 - i) + 1); i += 1 }
      out
    }
    g match {
      case l: LineString => LineString(rev(l.coords))
      case p: Polygon    => Polygon(p.rings.map(rev))
      case m: MultiLineString => MultiLineString(m.geoms.map(l => LineString(rev(l.coords))))
      case m: MultiPolygon    => MultiPolygon(m.geoms.map(p => Polygon(p.rings.map(rev))))
      case c: GeometryCollection => GeometryCollection(c.geoms.map(reverse))
      case other => other
    }
  }

  /** Snap every coordinate to a grid of the given cell size, rounding half
    * up: floor(v/size + 0.5) * size (PostGIS ST_SnapToGrid). size <= 0 => the
    * input unchanged. Degenerate collapsed parts are kept as-is (byte-level
    * dedup is the caller's concern, matching WKB set-op semantics §2.6). */
  def snapToGrid(g: Geometry, size: Double): Geometry =
    if (size <= 0) g
    else g.mapCoords((x, y) => (math.floor(x / size + 0.5) * size, math.floor(y / size + 0.5) * size))

  /** Swap x and y of every coordinate (PostGIS ST_FlipCoordinates). */
  def flipCoordinates(g: Geometry): Geometry = g.mapCoords((x, y) => (y, x))

  /** Total boundary length of areal geometries — all rings, holes included
    * (PostGIS ST_Perimeter). 0 for points/lines. */
  def perimeter(g: Geometry): Double = g match {
    case p: Polygon =>
      var s = 0.0
      p.rings.foreach(r => s += ringLength(r))
      s
    case m: MultiPolygon => m.geoms.map(perimeter).sum
    case c: GeometryCollection => c.geoms.map(perimeter).sum
    case _ => 0.0
  }

  private def ringLength(cs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i + 3 < cs.length) {
      val dx = cs(i + 2) - cs(i); val dy = cs(i + 3) - cs(i + 1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 2
    }
    s
  }

  // ------------------------------------------------------ linear referencing

  /** Point at fraction `f` (clamped to [0,1]) of a LineString's length,
    * measured along the line (PostGIS ST_LineInterpolatePoint). Zero-length
    * lines return their start vertex. Null for non-lines. */
  def lineInterpolatePoint(g: Geometry, f: Double): Geometry = g match {
    case l: LineString if !l.isEmpty =>
      val cs = l.coords
      if (cs.length == 2) return Point(cs(0), cs(1))
      val frac = math.max(0.0, math.min(1.0, f))
      val total = ringLength(cs)
      if (total == 0) return Point(cs(0), cs(1))
      val target = frac * total
      var cum = 0.0
      var i = 0
      while (i + 3 < cs.length) {
        val dx = cs(i + 2) - cs(i); val dy = cs(i + 3) - cs(i + 1)
        val len = math.sqrt(dx * dx + dy * dy)
        if (cum + len >= target && len > 0) {
          val t = (target - cum) / len
          return Point(cs(i) + t * dx, cs(i + 1) + t * dy)
        }
        cum += len
        i += 2
      }
      Point(cs(cs.length - 2), cs(cs.length - 1))
    case _ => null
  }

  /** Fraction of a LineString's length at the point on it closest to `p`
    * (PostGIS ST_LineLocatePoint). NaN for non-lines/empty (kernel => null). */
  def lineLocatePoint(g: Geometry, px: Double, py: Double): Double = g match {
    case l: LineString if !l.isEmpty =>
      val cs = l.coords
      val total = ringLength(cs)
      if (total == 0) return 0.0
      var bestD = Double.PositiveInfinity
      var bestLen = 0.0
      var cum = 0.0
      var i = 0
      while (i + 3 < cs.length) {
        val x1 = cs(i); val y1 = cs(i + 1); val x2 = cs(i + 2); val y2 = cs(i + 3)
        val dx = x2 - x1; val dy = y2 - y1
        val lenSq = dx * dx + dy * dy
        val len = math.sqrt(lenSq)
        val t = if (lenSq == 0) 0.0
                else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / lenSq))
        val cx = x1 + t * dx; val cy = y1 + t * dy
        val d = (px - cx) * (px - cx) + (py - cy) * (py - cy)
        if (d < bestD) { bestD = d; bestLen = cum + t * len }
        cum += len
        i += 2
      }
      bestLen / total
    case _ => Double.NaN
  }

  /** Sub-line between fractions f1 < f2 of a LineString's length (PostGIS
    * ST_LineSubstring). Fractions clamp to [0,1]; f1 >= f2 or non-line => null. */
  def lineSubstring(g: Geometry, f1: Double, f2: Double): Geometry = g match {
    case l: LineString if !l.isEmpty =>
      val lo = math.max(0.0, math.min(1.0, f1))
      val hi = math.max(0.0, math.min(1.0, f2))
      if (lo >= hi) return null
      val cs = l.coords
      val total = ringLength(cs)
      if (total == 0) return null
      val start = lineInterpolatePoint(l, lo).asInstanceOf[Point]
      val end = lineInterpolatePoint(l, hi).asInstanceOf[Point]
      val buf = scala.collection.mutable.ArrayBuffer[Double](start.x, start.y)
      // interior vertices whose cumulative length falls strictly inside (lo, hi)
      var cum = 0.0
      var i = 0
      while (i + 3 < cs.length) {
        val dx = cs(i + 2) - cs(i); val dy = cs(i + 3) - cs(i + 1)
        cum += math.sqrt(dx * dx + dy * dy)
        val frac = cum / total
        if (frac > lo && frac < hi) { buf += cs(i + 2); buf += cs(i + 3) }
        i += 2
      }
      buf += end.x; buf += end.y
      LineString(buf.toArray)
    case _ => null
  }

  /** Destination point from (x, y) at `dist` along north-based clockwise
    * `azimuth` radians (planar PostGIS ST_Project). */
  def project(x: Double, y: Double, dist: Double, azimuth: Double): Point =
    Point(x + dist * math.sin(azimuth), y + dist * math.cos(azimuth))

  /**
   * Farthest-point pair `[ax, ay, bx, by]` between two geometries (PostGIS
   * ST_MaxDistance / ST_LongestLine). Every point of a geometry is a convex
   * combination of its vertices and distance-to-a-fixed-point is convex, so
   * the maximum is attained at a vertex-vertex pair — an exact O(|Va|·|Vb|)
   * scan, no approximation. Ties keep the first pair in traversal order
   * (deterministic). Null for empty input.
   */
  def farthestPoints(a: Geometry, b: Geometry): Array[Double] = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return null
    var best = -1.0
    var bax = 0.0; var bay = 0.0; var bbx = 0.0; var bby = 0.0
    a.foreachCoord { (ax, ay) =>
      b.foreachCoord { (bx, by) =>
        val dx = ax - bx; val dy = ay - by
        val d = dx * dx + dy * dy
        if (d > best) { best = d; bax = ax; bay = ay; bbx = bx; bby = by }
      }
    }
    if (best < 0) null else Array(bax, bay, bbx, bby)
  }

  /** Clockwise angle at p2 from ray p2->p1 to ray p2->p3, in [0, 2π):
    * (azimuth(p2,p3) - azimuth(p2,p1)) mod 2π (the 3-point PostGIS ST_Angle
    * under our north-based-clockwise azimuth). NaN when either ray is
    * degenerate (kernel maps to null). */
  def angle(x1: Double, y1: Double, x2: Double, y2: Double, x3: Double, y3: Double): Double = {
    val az1 = azimuth(x2, y2, x1, y1)
    val az3 = azimuth(x2, y2, x3, y3)
    if (az1.isNaN || az3.isNaN) return Double.NaN
    val a = az3 - az1
    if (a < 0) a + 2 * math.Pi else a
  }

  /** Insert vertices so no segment exceeds `maxLen`: each segment splits
    * into ceil(len/maxLen) equal parts (PostGIS ST_Segmentize). maxLen <= 0
    * returns the input unchanged. */
  def segmentize(g: Geometry, maxLen: Double): Geometry = {
    if (maxLen <= 0) return g
    def seg(cs: Array[Double]): Array[Double] = {
      if (cs.length < 4) return cs
      val buf = scala.collection.mutable.ArrayBuffer[Double](cs(0), cs(1))
      var i = 0
      while (i + 3 < cs.length) {
        val x1 = cs(i); val y1 = cs(i + 1); val x2 = cs(i + 2); val y2 = cs(i + 3)
        val len = math.hypot(x2 - x1, y2 - y1)
        val n = math.max(1, math.ceil(len / maxLen).toInt)
        var k = 1
        while (k < n) {
          val t = k.toDouble / n
          buf += x1 + t * (x2 - x1); buf += y1 + t * (y2 - y1)
          k += 1
        }
        buf += x2; buf += y2
        i += 2
      }
      buf.toArray
    }
    g match {
      case l: LineString => LineString(seg(l.coords))
      case p: Polygon    => Polygon(p.rings.map(seg))
      case m: MultiLineString => MultiLineString(m.geoms.map(l => LineString(seg(l.coords))))
      case m: MultiPolygon    => MultiPolygon(m.geoms.map(p => Polygon(p.rings.map(seg))))
      case c: GeometryCollection => GeometryCollection(c.geoms.map(segmentize(_, maxLen)))
      case other => other
    }
  }

  /**
   * Geodesic densify over lon/lat input (PostGIS ST_Segmentize(geography)):
   * insert vertices ALONG THE GREAT CIRCLE (unit-sphere slerp, uniform
   * angular spacing) until no segment exceeds `maxMeters` of spherical
   * distance (haversine on [[Geodesy.MeanEarthRadius]], the radius every
   * other geography function here uses). The planar [[segmentize]] is wrong
   * for long geographic segments — a rhumb-like straight lon/lat chord can
   * sit hundreds of km off the geodesic; this is the correct-path variant.
   * Antimeridian/pole-safe: interpolation happens in 3-space, never on the
   * lon/lat plane. maxMeters <= 0 returns the input unchanged.
   */
  def geodesicSegmentize(g: Geometry, maxMeters: Double): Geometry = {
    if (g == null || maxMeters <= 0) return g
    def seg(cs: Array[Double]): Array[Double] = {
      if (cs.length < 4) return cs
      val buf = scala.collection.mutable.ArrayBuffer[Double](cs(0), cs(1))
      var i = 0
      while (i + 3 < cs.length) {
        val lo1 = cs(i); val la1 = cs(i + 1); val lo2 = cs(i + 2); val la2 = cs(i + 3)
        val d = Geodesy.haversine(lo1, la1, lo2, la2)
        val n = math.max(1, math.ceil(d / maxMeters).toInt)
        if (n > 1) {
          // unit-sphere endpoints; slerp at k/n keeps spacing exactly uniform
          val f1 = math.toRadians(la1); val l1 = math.toRadians(lo1)
          val f2 = math.toRadians(la2); val l2 = math.toRadians(lo2)
          val ax = math.cos(f1) * math.cos(l1); val ay = math.cos(f1) * math.sin(l1); val az = math.sin(f1)
          val bx = math.cos(f2) * math.cos(l2); val by = math.cos(f2) * math.sin(l2); val bz = math.sin(f2)
          val dot = math.max(-1.0, math.min(1.0, ax * bx + ay * by + az * bz))
          val ang = math.acos(dot)
          val s = math.sin(ang)
          // exactly antipodal endpoints have no unique great circle and the
          // slerp blend collapses to the zero vector — keep the raw segment
          // rather than emit NaN vertices
          val degenerate = s < 1e-12 && dot < 0
          var k = if (degenerate) n else 1
          while (k < n) {
            val t = k.toDouble / n
            val (wa, wb) =
              if (s < 1e-12) (1.0 - t, t) // near-coincident: linear blend
              else (math.sin((1.0 - t) * ang) / s, math.sin(t * ang) / s)
            val px = wa * ax + wb * bx; val py = wa * ay + wb * by; val pz = wa * az + wb * bz
            val nrm = math.sqrt(px * px + py * py + pz * pz)
            buf += math.toDegrees(math.atan2(py, px))
            buf += math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, pz / nrm))))
            k += 1
          }
        }
        buf += lo2; buf += la2
        i += 2
      }
      buf.toArray
    }
    g match {
      case l: LineString => LineString(seg(l.coords))
      case p: Polygon    => Polygon(p.rings.map(seg))
      case m: MultiLineString => MultiLineString(m.geoms.map(l => LineString(seg(l.coords))))
      case m: MultiPolygon    => MultiPolygon(m.geoms.map(p => Polygon(p.rings.map(seg))))
      case c: GeometryCollection => GeometryCollection(c.geoms.map(geodesicSegmentize(_, maxMeters)))
      case other => other
    }
  }

  // ---------------------------------------------------------- ring accessors

  /** Number of interior rings (holes) of a Polygon; -1 sentinel for
    * non-polygons (kernel maps to null). */
  def numInteriorRings(g: Geometry): Int = g match {
    case p: Polygon if !p.isEmpty => p.rings.length - 1
    case _ => -1
  }

  /** N-th interior ring of a Polygon as a closed LineString, 1-based
    * (PostGIS ST_InteriorRingN). Out of range / non-polygon => null. */
  def interiorRingN(g: Geometry, n: Int): Geometry = g match {
    case p: Polygon if n >= 1 && n < p.rings.length => LineString(p.rings(n))
    case _ => null
  }

  // ------------------------------------------------------------ constructors

  /** Concatenate two point/line inputs into a LineString (PostGIS
    * ST_MakeLine binary form). Unsupported operand types => null. */
  def makeLine(a: Geometry, b: Geometry): Geometry = {
    def coordsOf(g: Geometry): Array[Double] = g match {
      case p: Point if !p.isEmpty => Array(p.x, p.y)
      case l: LineString          => l.coords
      case _                      => null
    }
    val ca = coordsOf(a); val cb = coordsOf(b)
    if (ca == null || cb == null) null else LineString(ca ++ cb)
  }

  /** Closed LineString => Polygon with that shell and no holes (PostGIS
    * ST_MakePolygon). Open or too-short lines => null. */
  def makePolygon(g: Geometry): Geometry = g match {
    case l: LineString if l.isClosed && l.numPoints >= 4 => Polygon(Array(l.coords))
    case _ => null
  }

  // ------------------------------------------------ DE-9IM predicate family
  // touches / crosses / overlaps / equals derived from one interior-contact
  // detector plus the covers closure test — completing the OGC simple-feature
  // predicate set the reference's spatial join refines with
  // (geopolars/src/spatial_index.rs:81-137 stops at intersects/contains).

  /** Topological dimension: 0 points, 1 lines, 2 polygons; collections take
    * the max over parts (GEOS convention); -1 for empty. */
  def geomDim(g: Geometry): Int = g match {
    case null                  => -1
    case p: Point              => if (p.isEmpty) -1 else 0
    case m: MultiPoint         => if (m.geoms.isEmpty) -1 else 0
    case l: LineString         => if (l.isEmpty) -1 else 1
    case m: MultiLineString    => if (m.geoms.isEmpty) -1 else 1
    case p: Polygon            => if (p.isEmpty) -1 else 2
    case m: MultiPolygon       => if (m.geoms.isEmpty) -1 else 2
    case c: GeometryCollection => if (c.geoms.isEmpty) -1 else c.geoms.map(geomDim).max
  }

  /** Mod-2 boundary test for 1-dim geometries: (x,y) is a boundary point iff
    * it matches an odd number of non-closed component endpoints. */
  private def isLineBoundaryPoint(g: Geometry, x: Double, y: Double): Boolean = {
    var cnt = 0
    def comp(l: LineString): Unit = {
      val cs = l.coords
      if (cs.length >= 4 && !l.isClosed) {
        if (cs(0) == x && cs(1) == y) cnt += 1
        if (cs(cs.length - 2) == x && cs(cs.length - 1) == y) cnt += 1
      }
    }
    g match {
      case l: LineString      => comp(l)
      case m: MultiLineString => m.geoms.foreach(comp)
      case _                  =>
    }
    cnt % 2 == 1
  }

  /** Is (x,y) in the topological INTERIOR of g (not boundary, not exterior)?
    * Points are their own interior; a line's interior excludes its mod-2
    * boundary endpoints; polygon interior excludes the rings. */
  def pointInInterior(x: Double, y: Double, g: Geometry): Boolean = g match {
    case _: Polygon | _: MultiPolygon | _: Point | _: MultiPoint => locate(x, y, g) == 2
    case _: LineString | _: MultiLineString =>
      locate(x, y, g) == 1 && !isLineBoundaryPoint(g, x, y)
    case c: GeometryCollection => c.geoms.exists(pointInInterior(x, y, _))
    case _                     => false
  }

  /** Ascending split parameters (incl. 0 and 1, deduped) of segment
    * (x1,y1)-(x2,y2) at every point where it meets a segment of `sb`
    * (packed x1,y1,x2,y2 per entry). Collinear overlaps contribute the
    * projected overlap endpoints, so consecutive-parameter midpoints are
    * strictly inside or strictly outside any region bounded by `sb`. */
  private def splitParams(x1: Double, y1: Double, x2: Double, y2: Double,
                          sb: Array[Double]): Array[Double] = {
    val dx = x2 - x1; val dy = y2 - y1
    val lenSq = dx * dx + dy * dy
    if (lenSq == 0) return Array(0.0, 1.0)
    val ts = scala.collection.mutable.ArrayBuffer(0.0, 1.0)
    @inline def addOnSeg(px: Double, py: Double): Unit =
      if (onSegment(px, py, x1, y1, x2, y2))
        ts += ((px - x1) * dx + (py - y1) * dy) / lenSq
    var j = 0
    while (j < sb.length) {
      val bx1 = sb(j); val by1 = sb(j + 1); val bx2 = sb(j + 2); val by2 = sb(j + 3)
      val d = dx * (by2 - by1) - dy * (bx2 - bx1)
      if (d != 0) {
        val t = ((bx1 - x1) * (by2 - by1) - (by1 - y1) * (bx2 - bx1)) / d
        val u = ((bx1 - x1) * dy - (by1 - y1) * dx) / d
        if (t >= 0 && t <= 1 && u >= 0 && u <= 1) ts += t
      } else {
        // parallel: onSegment (cross-product zero) only admits collinear points
        addOnSeg(bx1, by1); addOnSeg(bx2, by2)
      }
      j += 4
    }
    ts.distinct.sorted.toArray
  }

  /**
   * Interior∩interior contact: (pointContact, higherContact) — whether the
   * shared interior contains an isolated point (dim 0) / a 1-dim-or-2-dim
   * piece. Drives touches (neither), line-line crosses (point only),
   * overlaps (dimension of the geometries themselves).
   */
  private def interiorContacts(a: Geometry, b: Geometry): (Boolean, Boolean) = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return (false, false)
    if (!a.envelope.intersects(b.envelope)) return (false, false)
    val da = geomDim(a); val db = geomDim(b)

    // a 0-dim side: every shared point is an interior-interior contact iff
    // it is interior to the other operand
    if (da == 0 || db == 0) {
      val (pts, other) = if (da == 0) (a, b) else (b, a)
      var pt = false
      pts.foreachCoord { (x, y) => if (!pt && pointInInterior(x, y, other)) pt = true }
      return (pt, false)
    }

    val (sa, _) = segments(a)
    val (sb, _) = segments(b)

    if (da == 1 && db == 1) {
      var pt = false; var hi = false
      var i = 0
      while (i < sa.length && !hi) {
        val x1 = sa(i); val y1 = sa(i + 1); val x2 = sa(i + 2); val y2 = sa(i + 3)
        val dxA = x2 - x1; val dyA = y2 - y1
        val lenSq = dxA * dxA + dyA * dyA
        var j = 0
        while (j < sb.length && !hi) {
          val bx1 = sb(j); val by1 = sb(j + 1); val bx2 = sb(j + 2); val by2 = sb(j + 3)
          val d = dxA * (by2 - by1) - dyA * (bx2 - bx1)
          if (d != 0) {
            val t = ((bx1 - x1) * (by2 - by1) - (by1 - y1) * (bx2 - bx1)) / d
            val u = ((bx1 - x1) * dyA - (by1 - y1) * dxA) / d
            if (t >= 0 && t <= 1 && u >= 0 && u <= 1 && !pt) {
              val px = x1 + t * dxA; val py = y1 + t * dyA
              if (pointInInterior(px, py, a) && pointInInterior(px, py, b)) pt = true
            }
          } else if (lenSq > 0 &&
                     (onSegment(bx1, by1, x1, y1, x2, y2) || onSegment(bx2, by2, x1, y1, x2, y2) ||
                      onSegment(x1, y1, bx1, by1, bx2, by2))) {
            // collinear: positive-length shared interval => 1-dim contact
            val t1 = ((bx1 - x1) * dxA + (by1 - y1) * dyA) / lenSq
            val t2 = ((bx2 - x1) * dxA + (by2 - y1) * dyA) / lenSq
            val lo = math.max(0.0, math.min(t1, t2)); val hi2 = math.min(1.0, math.max(t1, t2))
            if (hi2 > lo) {
              val tm = (lo + hi2) / 2
              val mx = x1 + tm * dxA; val my = y1 + tm * dyA
              if (pointInInterior(mx, my, a) && pointInInterior(mx, my, b)) hi = true
            }
          }
          j += 4
        }
        i += 4
      }
      return (pt, hi)
    }

    // probe sub-segment midpoints of `src` (split at every meeting with
    // `cut`) for strict interior of `other`; interiorOfSelf additionally
    // requires the midpoint be interior to selfG (needed for the line side)
    def probe(src: Array[Double], cut: Array[Double], other: Geometry,
              selfG: Geometry, checkSelf: Boolean): Boolean = {
      var hit = false
      var i = 0
      while (i < src.length && !hit) {
        val ts = splitParams(src(i), src(i + 1), src(i + 2), src(i + 3), cut)
        var k = 0
        while (k + 1 < ts.length && !hit) {
          val tm = (ts(k) + ts(k + 1)) / 2
          val mx = src(i) + tm * (src(i + 2) - src(i))
          val my = src(i + 1) + tm * (src(i + 3) - src(i + 1))
          if (locate(mx, my, other) == 2 &&
              (!checkSelf || pointInInterior(mx, my, selfG))) hit = true
          k += 1
        }
        i += 4
      }
      hit
    }

    if (da == 2 && db == 2) {
      // identical/contained areas may share no ring crossings at all
      if (covers(a, b) || covers(b, a)) return (false, true)
      val hit = probe(sa, sb, b, a, checkSelf = false) ||
                probe(sb, sa, a, b, checkSelf = false)
      (false, hit)
    } else {
      // line vs polygon: a 1-dim piece of the line strictly inside the area
      val (lineG, polyG, sl, sp) = if (da == 1) (a, b, sa, sb) else (b, a, sb, sa)
      (false, probe(sl, sp, polyG, lineG, checkSelf = true))
    }
  }

  /** covers for a 1-dim `a` over a 0/1-dim `b`: every point of b lies on a.
    * Works across components (unlike per-part recursion) by splitting b's
    * segments at every meeting with a's and midpoint-testing each piece. */
  private def coversLine(a: Geometry, b: Geometry): Boolean = {
    var ok = true
    b.foreachCoord { (x, y) => if (ok && locate(x, y, a) == 0) ok = false }
    if (!ok) return false
    if (geomDim(b) == 0) return true
    val (sa, _) = segments(a)
    val (sb, _) = segments(b)
    var i = 0
    while (i < sb.length && ok) {
      val ts = splitParams(sb(i), sb(i + 1), sb(i + 2), sb(i + 3), sa)
      var k = 0
      while (k + 1 < ts.length && ok) {
        val tm = (ts(k) + ts(k + 1)) / 2
        val mx = sb(i) + tm * (sb(i + 2) - sb(i))
        val my = sb(i + 1) + tm * (sb(i + 3) - sb(i + 1))
        if (locate(mx, my, a) == 0) ok = false
        k += 1
      }
      i += 4
    }
    ok
  }

  /** Generalized [[covers]]: adds the 1-dim-covers-0/1-dim and pure
    * point-set cases (incl. coverage spanning multiple MultiLineString
    * components and Point-vs-MultiPoint in either direction). */
  def coversX(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    if (!a.envelope.contains(b.envelope)) return false
    (geomDim(a), geomDim(b)) match {
      case (1, 1) | (1, 0) => coversLine(a, b)
      case (0, 0) =>
        // every point of b is a point of a (duplicates irrelevant)
        var ok = true
        b.foreachCoord { (x, y) => if (ok && locate(x, y, a) == 0) ok = false }
        ok
      case _ => covers(a, b)
    }
  }

  /** OGC `touches`: the geometries intersect but their interiors do not. */
  def touches(a: Geometry, b: Geometry): Boolean = {
    if (!intersects(a, b)) return false
    val (pt, hi) = interiorContacts(a, b)
    !pt && !hi
  }

  /** OGC `crosses`: interiors intersect in a lower dimension than the
    * operands' max — line/line meeting at points, or a lower-dim geometry
    * passing through a higher-dim one without being covered by it. */
  def crosses(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    val da = geomDim(a); val db = geomDim(b)
    if (da == db && da != 1) return false
    val (pt, hi) = interiorContacts(a, b)
    if (da == 1 && db == 1) pt && !hi
    else (pt || hi) && !coversX(a, b) && !coversX(b, a)
  }

  /** OGC `overlaps`: same dimension, interiors share a piece of that
    * dimension, and neither covers the other. */
  def overlapsPred(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    val da = geomDim(a); val db = geomDim(b)
    if (da != db) return false
    val (pt, hi) = interiorContacts(a, b)
    val dimMatch = if (da == 1) hi else pt || hi
    dimMatch && !coversX(a, b) && !coversX(b, a)
  }

  /** OGC topological equality: same point set (orientation / start point /
    * vertex redundancy insensitive) = mutual coverage at equal dimension.
    * Empty operands => false (consistent with the other predicates here). */
  def equalsTop(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    geomDim(a) == geomDim(b) && coversX(a, b) && coversX(b, a)
  }

  // ------------------------------------------------------------- is_simple

  /** Packed segments of a coordinate array, zero-length segments dropped
    * (consecutive duplicate vertices don't make a line non-simple). */
  private def packedSegments(cs: Array[Double]): Array[Double] = {
    val out = ArrayBuffer.empty[Double]
    var i = 0
    while (i + 3 < cs.length) {
      if (cs(i) != cs(i + 2) || cs(i + 1) != cs(i + 3)) {
        out += cs(i); out += cs(i + 1); out += cs(i + 2); out += cs(i + 3)
      }
      i += 2
    }
    out.toArray
  }

  /**
   * Segment-pair contact classification shared by the is_simple checks:
   * returns null when the pair properly crosses or meets at >= 2 points
   * (collinear overlap — two contact points on straight segments imply a
   * shared collinear piece), Some(point) for exactly one touch point,
   * None for no contact. Segments are (packed) quadruples at offsets a, b.
   */
  private def segContact(s: Array[Double], a: Int, t: Array[Double], b: Int):
      Option[Option[(Double, Double)]] = {
    val ax1 = s(a); val ay1 = s(a + 1); val ax2 = s(a + 2); val ay2 = s(a + 3)
    val bx1 = t(b); val by1 = t(b + 1); val bx2 = t(b + 2); val by2 = t(b + 3)
    if (segmentsCross(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)) return null
    val pts = ArrayBuffer.empty[(Double, Double)]
    def add(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Unit =
      if (onSegment(px, py, x1, y1, x2, y2) && !pts.contains((px, py))) pts += ((px, py))
    add(bx1, by1, ax1, ay1, ax2, ay2); add(bx2, by2, ax1, ay1, ax2, ay2)
    add(ax1, ay1, bx1, by1, bx2, by2); add(ax2, ay2, bx1, by1, bx2, by2)
    if (pts.length >= 2) null
    else Some(pts.headOption)
  }

  /** Is the single closed/open coordinate chain simple — no self-contact
    * except consecutive-segment shared vertices and (for closed chains) the
    * closure vertex? O(n^2) segment sweep (isValid precedent: a data-quality
    * scan, not a hot path). */
  private def chainIsSimple(csRaw: Array[Double], closed: Boolean): Boolean = {
    val s = packedSegments(csRaw)
    val m = s.length / 4
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        segContact(s, 4 * i, s, 4 * j) match {
          case null => return false
          case Some(Some((px, py))) =>
            val consec = j == i + 1 &&
              px == s(4 * i + 2) && py == s(4 * i + 3) &&
              px == s(4 * j) && py == s(4 * j + 1)
            val closure = closed && i == 0 && j == m - 1 &&
              px == s(0) && py == s(1) &&
              px == s(4 * j + 2) && py == s(4 * j + 3)
            if (!consec && !closure) return false
          case _ =>
        }
        j += 1
      }
      i += 1
    }
    true
  }

  /** The whole-geometry boundary endpoints of an OPEN line (for the
    * MultiLineString element-contact rule); closed lines have an empty
    * boundary so they may touch nothing. */
  private def openEndpoints(l: LineString): Set[(Double, Double)] =
    if (l.isEmpty || l.isClosed) Set.empty
    else Set((l.coords(0), l.coords(1)),
      (l.coords(l.coords.length - 2), l.coords(l.coords.length - 1)))

  /**
   * OGC/GEOS `is_simple`: no anomalous self-intersection. Points are always
   * simple; a MultiPoint is simple iff no coordinate repeats; a line is
   * simple iff it passes through no point twice except a shared start/end
   * closure; MultiLineString elements may additionally meet only at points
   * on BOTH elements' boundaries (open-line endpoints); areal geometry is
   * simple iff every ring is a simple closed chain (the JTS convention — the
   * ring-nesting questions belong to isValid); a collection is simple iff
   * every element is. Empty geometry is simple.
   * Reference: the reserved predicate block of
   * py-geopolars/docs/source/reference/geoseries.rst:33-52 (is_simple),
   * behavior pinned to GEOS.
   */
  def isSimple(g: Geometry): Boolean = g match {
    case null => true
    case _: Point => true
    case mp: MultiPoint =>
      val seen = scala.collection.mutable.HashSet.empty[(Double, Double)]
      mp.geoms.forall(p => p.isEmpty || seen.add((p.x, p.y)))
    case l: LineString => l.isEmpty || chainIsSimple(l.coords, l.isClosed)
    case ml: MultiLineString =>
      val ls = ml.geoms.filterNot(_.isEmpty)
      ls.forall(l => chainIsSimple(l.coords, l.isClosed)) && {
        var i = 0
        var ok = true
        while (ok && i < ls.length) {
          val bi = openEndpoints(ls(i))
          val si = packedSegments(ls(i).coords)
          var j = i + 1
          while (ok && j < ls.length) {
            val allowed = bi intersect openEndpoints(ls(j))
            val sj = packedSegments(ls(j).coords)
            var u = 0
            while (ok && u < si.length) {
              var v = 0
              while (ok && v < sj.length) {
                segContact(si, u, sj, v) match {
                  case null => ok = false
                  case Some(Some(p)) => if (!allowed.contains(p)) ok = false
                  case _ =>
                }
                v += 4
              }
              u += 4
            }
            j += 1
          }
          i += 1
        }
        ok
      }
    case p: Polygon => p.isEmpty || p.rings.forall(r => chainIsSimple(r, closed = true))
    case mp: MultiPolygon => mp.geoms.forall(isSimple)
    case gc: GeometryCollection => gc.geoms.forall(isSimple)
  }

  /**
   * Structural equality within a per-ordinate tolerance (JTS
   * Geometry.equalsExact(other, tolerance): same type, same component and
   * vertex ordering, |dx| <= tol AND |dy| <= tol per vertex — NOT
   * topological equality; use equalsTop for that). Both-empty operands of
   * the same type compare true.
   * Reference: the reserved predicate block of
   * py-geopolars/docs/source/reference/geoseries.rst:33-52
   * (geom_equals_exact / geom_almost_equals).
   */
  def equalsExact(a: Geometry, b: Geometry, tol: Double): Boolean = {
    def eq(x: Double, y: Double): Boolean = math.abs(x - y) <= tol
    def eqc(ca: Array[Double], cb: Array[Double]): Boolean =
      ca.length == cb.length && ca.indices.forall(i => eq(ca(i), cb(i)))
    (a, b) match {
      case (p: Point, q: Point) =>
        (p.isEmpty && q.isEmpty) ||
          (!p.isEmpty && !q.isEmpty && eq(p.x, q.x) && eq(p.y, q.y))
      case (p: LineString, q: LineString) => eqc(p.coords, q.coords)
      case (p: Polygon, q: Polygon) =>
        p.rings.length == q.rings.length &&
          p.rings.indices.forall(i => eqc(p.rings(i), q.rings(i)))
      case (p: MultiPoint, q: MultiPoint) =>
        p.geoms.length == q.geoms.length &&
          p.geoms.indices.forall(i => equalsExact(p.geoms(i), q.geoms(i), tol))
      case (p: MultiLineString, q: MultiLineString) =>
        p.geoms.length == q.geoms.length &&
          p.geoms.indices.forall(i => equalsExact(p.geoms(i), q.geoms(i), tol))
      case (p: MultiPolygon, q: MultiPolygon) =>
        p.geoms.length == q.geoms.length &&
          p.geoms.indices.forall(i => equalsExact(p.geoms(i), q.geoms(i), tol))
      case (p: GeometryCollection, q: GeometryCollection) =>
        p.geoms.length == q.geoms.length &&
          p.geoms.indices.forall(i => equalsExact(p.geoms(i), q.geoms(i), tol))
      case _ => false
    }
  }

  // -------------------------------------------------------- geometry hygiene

  /** Collapse consecutive vertices within `tol` (Euclidean, 0 = exact
    * duplicates only) — PostGIS ST_RemoveRepeatedPoints. Lines keep their
    * endpoints; a ring that collapses below a triangle is dropped (the
    * polygon empties when that was the shell). */
  def removeRepeatedPoints(g: Geometry, tol: Double): Geometry = {
    def filt(cs: Array[Double], closed: Boolean): Array[Double] = {
      if (cs.length <= 2) return cs
      val out = ArrayBuffer(cs(0), cs(1))
      var i = 2
      while (i + 1 < cs.length) {
        val lx = out(out.length - 2); val ly = out(out.length - 1)
        if (math.hypot(cs(i) - lx, cs(i + 1) - ly) > tol ||
            (!closed && i == cs.length - 2 && (cs(i) != lx || cs(i + 1) != ly))) {
          out += cs(i); out += cs(i + 1)
        }
        i += 2
      }
      if (closed) {
        // re-close after filtering
        if (out.length >= 2 && (out(0) != out(out.length - 2) || out(1) != out(out.length - 1))) {
          out += out(0); out += out(1)
        }
      }
      out.toArray
    }
    g match {
      case null => null
      case p: Point => p
      case mp: MultiPoint =>
        val kept = ArrayBuffer.empty[Point]
        mp.geoms.foreach { p =>
          if (kept.isEmpty || math.hypot(p.x - kept.last.x, p.y - kept.last.y) > tol) kept += p
        }
        MultiPoint(kept.toArray)
      case l: LineString =>
        val f = filt(l.coords, closed = l.isClosed)
        LineString(if (f.length >= 4) f else l.coords.take(2) ++ l.coords.takeRight(2))
      case ml: MultiLineString =>
        MultiLineString(ml.geoms.map(g2 => removeRepeatedPoints(g2, tol).asInstanceOf[LineString]))
      case p: Polygon =>
        if (p.rings.isEmpty) p
        else {
          val shell = filt(p.rings(0), closed = true)
          if (shell.length < 8) Polygon(Array.empty)
          else Polygon(Array(shell) ++
            p.rings.drop(1).map(r => filt(r, closed = true)).filter(_.length >= 8))
        }
      case mp: MultiPolygon =>
        MultiPolygon(mp.geoms.map(g2 => removeRepeatedPoints(g2, tol).asInstanceOf[Polygon])
          .filter(!_.isEmpty))
      case gc: GeometryCollection =>
        GeometryCollection(gc.geoms.map(removeRepeatedPoints(_, tol)))
      case other => other
    }
  }

  /**
   * Merge connected line segments through unambiguous (degree-2) junctions —
   * PostGIS ST_LineMerge. Chains are emitted canonically (open chains
   * oriented from the lexicographically smaller endpoint; closed chains
   * rotated to start at their smallest vertex, oriented toward the smaller
   * neighbor), so the output is deterministic regardless of input order or
   * segment direction. Non-line input => null.
   */
  def lineMerge(g: Geometry): Geometry = {
    val lines = ArrayBuffer.empty[Array[Double]]
    def collect(x: Geometry): Boolean = x match {
      case l: LineString if !l.isEmpty => lines += l.coords; true
      case ml: MultiLineString         => ml.geoms.forall(collect)
      case gc: GeometryCollection      => gc.geoms.forall(collect)
      case _                           => false
    }
    if (g == null || !collect(g)) return null
    if (lines.isEmpty) return null

    type Node = (Double, Double)
    def startOf(cs: Array[Double]): Node = (cs(0), cs(1))
    def endOf(cs: Array[Double]): Node = (cs(cs.length - 2), cs(cs.length - 1))
    // endpoint -> list of (lineIdx, isStart)
    val adj = scala.collection.mutable.LinkedHashMap.empty[Node, ArrayBuffer[(Int, Boolean)]]
    lines.indices.foreach { i =>
      adj.getOrElseUpdate(startOf(lines(i)), ArrayBuffer.empty) += ((i, true))
      adj.getOrElseUpdate(endOf(lines(i)), ArrayBuffer.empty) += ((i, false))
    }
    val used = new Array[Boolean](lines.length)
    val merged = ArrayBuffer.empty[Array[Double]]

    def degree(n: Node): Int = adj(n).length

    // walk a chain from line i leaving via `node` while junctions are degree 2
    def extend(coords: ArrayBuffer[Double], from: Node): Unit = {
      var node = from
      var continue = true
      while (continue && degree(node) == 2) {
        val next = adj(node).find { case (li, _) => !used(li) }
        next match {
          case Some((li, isStart)) =>
            used(li) = true
            val cs = if (isStart) lines(li) else reversedCoords(lines(li))
            // skip duplicated junction vertex
            var k = 2
            while (k + 1 < cs.length) { coords += cs(k); coords += cs(k + 1); k += 2 }
            node = (coords(coords.length - 2), coords(coords.length - 1))
          case None => continue = false
        }
      }
    }

    lines.indices.foreach { i =>
      if (!used(i)) {
        used(i) = true
        val coords = ArrayBuffer(lines(i): _*)
        // extend forward from the end, then backward from the start
        extend(coords, (coords(coords.length - 2), coords(coords.length - 1)))
        val back = ArrayBuffer(reversedCoords(coords.toArray): _*)
        extend(back, (back(back.length - 2), back(back.length - 1)))
        merged += reversedCoords(back.toArray)
      }
    }

    // canonical orientation / rotation
    val canon = merged.map { cs =>
      val closed = cs.length >= 4 && cs(0) == cs(cs.length - 2) && cs(1) == cs(cs.length - 1)
      if (!closed) {
        val s = (cs(0), cs(1)); val e = (cs(cs.length - 2), cs(cs.length - 1))
        if (Ordering[Node].lteq(s, e)) cs else reversedCoords(cs)
      } else {
        val m = cs.length / 2 - 1 // distinct vertices
        var best = 0
        var bi = 1
        while (bi < m) {
          if (Ordering[Node].lt((cs(2 * bi), cs(2 * bi + 1)), (cs(2 * best), cs(2 * best + 1)))) best = bi
          bi += 1
        }
        val rot = new Array[Double]((m + 1) * 2)
        var k = 0
        while (k <= m) {
          val src = (best + k) % m
          rot(2 * k) = cs(2 * src); rot(2 * k + 1) = cs(2 * src + 1)
          k += 1
        }
        // orient toward the smaller neighbor of the start vertex
        val fwd = (rot(2), rot(3))
        val bwd = (rot(rot.length - 4), rot(rot.length - 3))
        if (Ordering[Node].lteq(fwd, bwd)) rot else reversedCoords(rot)
      }
    }
    val sortedChains = canon.sortBy(cs => (cs(0), cs(1), cs.length))
    if (sortedChains.length == 1) LineString(sortedChains.head)
    else MultiLineString(sortedChains.map(LineString(_)).toArray)
  }

  /**
   * Node a line arrangement (PostGIS ST_Node): split every segment at each
   * intersection with any other segment, emit the resulting minimal edges
   * as a canonically ordered MultiLineString (each edge smaller-endpoint
   * first; exact duplicate edges from collinear overlaps deduplicated).
   * Non-line input => null.
   */
  def nodeLines(g: Geometry): Geometry = {
    val lines = ArrayBuffer.empty[Array[Double]]
    def collect(x: Geometry): Boolean = x match {
      case l: LineString if !l.isEmpty => lines += l.coords; true
      case ml: MultiLineString         => ml.geoms.forall(collect)
      case gc: GeometryCollection      => gc.geoms.forall(collect)
      case _                           => false
    }
    if (g == null || !collect(g) || lines.isEmpty) return null
    val segs = ArrayBuffer.empty[Double]
    lines.foreach { cs =>
      var i = 0
      while (i + 3 < cs.length) {
        if (cs(i) != cs(i + 2) || cs(i + 1) != cs(i + 3)) {
          segs += cs(i); segs += cs(i + 1); segs += cs(i + 2); segs += cs(i + 3)
        }
        i += 2
      }
    }
    val all = segs.toArray
    val pieces = ArrayBuffer.empty[(Double, Double, Double, Double)]
    var i = 0
    while (i < all.length) {
      val x1 = all(i); val y1 = all(i + 1); val x2 = all(i + 2); val y2 = all(i + 3)
      // split against every OTHER segment
      val others = new Array[Double](all.length - 4)
      System.arraycopy(all, 0, others, 0, i)
      System.arraycopy(all, i + 4, others, i, all.length - i - 4)
      val ts = splitParams(x1, y1, x2, y2, others)
      var k = 0
      while (k + 1 < ts.length) {
        val ax = x1 + ts(k) * (x2 - x1); val ay = y1 + ts(k) * (y2 - y1)
        val bx = x1 + ts(k + 1) * (x2 - x1); val by = y1 + ts(k + 1) * (y2 - y1)
        if (ax != bx || ay != by) {
          // canonical: smaller endpoint first
          if (ax < bx || (ax == bx && ay <= by)) pieces += ((ax, ay, bx, by))
          else pieces += ((bx, by, ax, ay))
        }
        k += 1
      }
      i += 4
    }
    val ded = pieces.distinct.sorted.toArray
    if (ded.isEmpty) null
    else MultiLineString(ded.map { case (a, b, c, dd) => LineString(Array(a, b, c, dd)) })
  }

  /**
   * Polygonize a line arrangement (PostGIS ST_Polygonize): node the input,
   * then trace minimal faces of the planar graph via half-edge walking
   * (at each node take the clockwise neighbor of the arrival edge's
   * reverse). Bounded faces (positive signed area) become polygons,
   * canonically ordered; the unbounded face is dropped. Null when no
   * bounded face exists or input is not lines.
   */
  def polygonize(g: Geometry): Geometry = {
    val noded = nodeLines(g) match {
      case m: MultiLineString => m
      case _                  => return null
    }
    type Node = (Double, Double)
    val edges = noded.geoms.map { l =>
      val cs = l.coords
      ((cs(0), cs(1)), (cs(2), cs(3)))
    }
    // adjacency: node -> outgoing neighbor nodes sorted by angle
    val adj = scala.collection.mutable.LinkedHashMap.empty[Node, ArrayBuffer[Node]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, ArrayBuffer.empty) += v
      adj.getOrElseUpdate(v, ArrayBuffer.empty) += u
    }
    val sortedAdj = adj.map { case (u, nbrs) =>
      u -> nbrs.distinct.sortBy(n => math.atan2(n._2 - u._2, n._1 - u._1)).toArray
    }
    val visited = scala.collection.mutable.HashSet.empty[(Node, Node)]
    val faces = ArrayBuffer.empty[Array[Double]]
    for ((u0, v0) <- edges.flatMap(e => Seq((e._1, e._2), (e._2, e._1)))) {
      if (!visited((u0, v0))) {
        // trace a face
        val ring = ArrayBuffer.empty[Double]
        var u = u0; var v = v0
        var ok = true
        var steps = 0
        while (ok && (ring.length < 4 || (u, v) != (u0, v0)) && steps < 100000) {
          if (visited((u, v))) { ok = false }
          else {
            visited += ((u, v))
            ring += u._1; ring += u._2
            // at v, find reverse edge (v->u) among sorted neighbors; next
            // neighbor clockwise from it (previous index) continues the face
            val nbrs = sortedAdj(v)
            val idx = nbrs.indexOf(u)
            if (idx < 0) ok = false
            else {
              val next = nbrs((idx - 1 + nbrs.length) % nbrs.length)
              u = v; v = next
            }
          }
          steps += 1
        }
        if (ok && (u, v) == (u0, v0) && ring.length >= 6) {
          ring += ring(0); ring += ring(1)
          // signed area: keep CCW (bounded) faces only
          var s = 0.0
          var i = 0
          while (i + 3 < ring.length) {
            s += ring(i) * ring(i + 3) - ring(i + 2) * ring(i + 1)
            i += 2
          }
          if (s > 1e-12) faces += ring.toArray
        }
      }
    }
    if (faces.isEmpty) return null
    // canonical: rotate each ring to its lex-smallest vertex, sort faces
    val canon = faces.map { r =>
      val m = r.length / 2 - 1
      var best = 0
      var i = 1
      while (i < m) {
        if (r(2 * i) < r(2 * best) ||
            (r(2 * i) == r(2 * best) && r(2 * i + 1) < r(2 * best + 1))) best = i
        i += 1
      }
      val out = new Array[Double]((m + 1) * 2)
      var k = 0
      while (k <= m) {
        val src = (best + k) % m
        out(2 * k) = r(2 * src); out(2 * k + 1) = r(2 * src + 1)
        k += 1
      }
      out
    }.sortBy(r => (r(0), r(1), r(2), r(3)))
    if (canon.length == 1) Polygon(Array(canon.head))
    else MultiPolygon(canon.map(r => Polygon(Array(r))).toArray)
  }

  /**
   * Split a line by a blade geometry (PostGIS ST_Split, line slice): each
   * input segment is cut at every crossing with the blade's segments (or
   * at blade points lying on it); pieces keep their original direction and
   * order, consecutive pieces between cuts stay merged. Returns a
   * MultiLineString of the ordered pieces; non-line input => null.
   */
  def splitLine(line: Geometry, blade: Geometry): Geometry = {
    val comps = ArrayBuffer.empty[Array[Double]]
    def collect(x: Geometry): Boolean = x match {
      case l: LineString if !l.isEmpty => comps += l.coords; true
      case ml: MultiLineString         => ml.geoms.forall(collect)
      case _                           => false
    }
    if (line == null || blade == null || !collect(line)) return null
    val (bs, bp) = segments(blade)
    val pieces = ArrayBuffer.empty[Array[Double]]
    comps.foreach { cs =>
      var cur = ArrayBuffer.empty[Double]
      var i = 0
      while (i + 3 < cs.length) {
        val x1 = cs(i); val y1 = cs(i + 1); val x2 = cs(i + 2); val y2 = cs(i + 3)
        if (cur.isEmpty) { cur += x1; cur += y1 }
        // cut parameters: blade segments plus isolated blade points on us
        val ts0 = splitParams(x1, y1, x2, y2, bs)
        val extra = ArrayBuffer.empty[Double]
        var k = 0
        while (k + 1 < bp.length) {
          if (onSegment(bp(k), bp(k + 1), x1, y1, x2, y2)) {
            val dx = x2 - x1; val dy = y2 - y1
            val l2 = dx * dx + dy * dy
            if (l2 > 0) extra += ((bp(k) - x1) * dx + (bp(k + 1) - y1) * dy) / l2
          }
          k += 2
        }
        val ts = (ts0 ++ extra).distinct.sorted
        var kk = 0
        while (kk < ts.length) {
          val t = ts(kk)
          if (t > 0 && t < 1) {
            val mx = x1 + t * (x2 - x1); val my = y1 + t * (y2 - y1)
            if (mx != cur(cur.length - 2) || my != cur(cur.length - 1)) {
              cur += mx; cur += my
              pieces += cur.toArray
              cur = ArrayBuffer(mx, my)
            }
          }
          kk += 1
        }
        if (x2 != cur(cur.length - 2) || y2 != cur(cur.length - 1)) { cur += x2; cur += y2 }
        // interior vertex that lies exactly on the blade also cuts
        val last = i + 3 == cs.length - 1
        val vertexCut = !last && locate(x2, y2, blade) > 0
        if (vertexCut && cur.length >= 4) {
          pieces += cur.toArray
          cur = ArrayBuffer(x2, y2)
        }
        i += 2
      }
      if (cur.length >= 4) pieces += cur.toArray
    }
    if (pieces.isEmpty) null
    else MultiLineString(pieces.map(LineString(_)).toArray)
  }

  /**
   * Repair an invalid polygonal geometry (PostGIS ST_MakeValid, polygon
   * slice): already-valid input passes through; otherwise the boundary
   * rings are noded and the bounded faces of the resulting arrangement are
   * re-assembled (bowtie -> two triangles, etc.). Non-polygonal input
   * passes through unchanged.
   */
  def makeValid(g: Geometry): Geometry = g match {
    case null => null
    case p: Polygon if !isValid(p) && p.rings.nonEmpty =>
      polygonize(MultiLineString(p.rings.map(LineString(_)))) match {
        case null  => p
        case fixed => fixed
      }
    case mp: MultiPolygon if !isValid(mp) && mp.geoms.nonEmpty =>
      val fixed = mp.geoms.map(p => makeValid(p) match {
        case q: Polygon       => Array(q)
        case m: MultiPolygon  => m.geoms
        case _                => Array(p)
      })
      MultiPolygon(fixed.flatten)
    case other => other
  }

  // ----------------------------------------- bounding constructions

  /** Minimum enclosing circle of g's vertices: (cx, cy, r); null for
    * null/empty. Incremental Welzl-style algorithm over lexicographically
    * sorted distinct points (deterministic; O(n^3) worst case is fine at
    * per-row vertex counts). */
  def minBoundingCircle(g: Geometry): Array[Double] = {
    if (g == null || g.isEmpty) return null
    val buf = ArrayBuffer.empty[(Double, Double)]
    g.foreachCoord((x, y) => buf += ((x, y)))
    val pts = buf.distinct.sorted.toArray
    if (pts.isEmpty) return null
    if (pts.length == 1) return Array(pts(0)._1, pts(0)._2, 0.0)

    def inside(cx: Double, cy: Double, r: Double, p: (Double, Double)): Boolean =
      math.hypot(p._1 - cx, p._2 - cy) <= r * (1 + 1e-12) + 1e-30
    def circ2(a: (Double, Double), b: (Double, Double)) =
      Array((a._1 + b._1) / 2, (a._2 + b._2) / 2, math.hypot(a._1 - b._1, a._2 - b._2) / 2)
    def circ3(a: (Double, Double), b: (Double, Double), c: (Double, Double)): Array[Double] = {
      val d = 2 * (a._1 * (b._2 - c._2) + b._1 * (c._2 - a._2) + c._1 * (a._2 - b._2))
      if (d == 0) return null // collinear
      val a2 = a._1 * a._1 + a._2 * a._2
      val b2 = b._1 * b._1 + b._2 * b._2
      val c2 = c._1 * c._1 + c._2 * c._2
      val ux = (a2 * (b._2 - c._2) + b2 * (c._2 - a._2) + c2 * (a._2 - b._2)) / d
      val uy = (a2 * (c._1 - b._1) + b2 * (a._1 - c._1) + c2 * (b._1 - a._1)) / d
      Array(ux, uy, math.hypot(a._1 - ux, a._2 - uy))
    }

    var c = circ2(pts(0), pts(1))
    var i = 2
    while (i < pts.length) {
      if (!inside(c(0), c(1), c(2), pts(i))) {
        // recompute with pts(i) on the boundary
        c = circ2(pts(0), pts(i))
        var j = 1
        while (j < i) {
          if (!inside(c(0), c(1), c(2), pts(j))) {
            c = circ2(pts(j), pts(i))
            var k = 0
            while (k < j) {
              if (!inside(c(0), c(1), c(2), pts(k))) {
                val c3 = circ3(pts(k), pts(j), pts(i))
                if (c3 != null) c = c3
              }
              k += 1
            }
          }
          j += 1
        }
      }
      i += 1
    }
    c
  }

  /** Minimum-area oriented rectangle of g's convex hull (rotating
    * calipers; PostGIS ST_OrientedEnvelope). Degenerate hulls (point/
    * line) are returned as-is. Canonical ring: starts at the lex-smallest
    * corner, counter-clockwise. */
  def orientedEnvelope(g: Geometry): Geometry = {
    if (g == null || g.isEmpty) return null
    convexHull(g) match {
      case hull: Polygon if !hull.isEmpty =>
        val ring = hull.rings(0)
        val m = ring.length / 2 - 1 // distinct hull vertices
        if (m < 3) return hull
        var best: Array[Double] = null
        var bestArea = Double.MaxValue
        var e = 0
        while (e < m) {
          val x1 = ring(2 * e); val y1 = ring(2 * e + 1)
          val x2 = ring(2 * (e + 1)); val y2 = ring(2 * (e + 1) + 1)
          val len = math.hypot(x2 - x1, y2 - y1)
          if (len > 0) {
            val ux = (x2 - x1) / len; val uy = (y2 - y1) / len // edge dir
            val vx = -uy; val vy = ux                          // normal
            var loU = Double.MaxValue; var hiU = Double.MinValue
            var loV = Double.MaxValue; var hiV = Double.MinValue
            var k = 0
            while (k < m) {
              val pu = ring(2 * k) * ux + ring(2 * k + 1) * uy
              val pv = ring(2 * k) * vx + ring(2 * k + 1) * vy
              if (pu < loU) loU = pu; if (pu > hiU) hiU = pu
              if (pv < loV) loV = pv; if (pv > hiV) hiV = pv
              k += 1
            }
            val area = (hiU - loU) * (hiV - loV)
            if (area < bestArea) {
              bestArea = area
              best = Array(
                loU * ux + loV * vx, loU * uy + loV * vy,
                hiU * ux + loV * vx, hiU * uy + loV * vy,
                hiU * ux + hiV * vx, hiU * uy + hiV * vy,
                loU * ux + hiV * vx, loU * uy + hiV * vy)
            }
          }
          e += 1
        }
        if (best == null) return hull
        // canonical: rotate to lex-smallest corner (ring is CCW since the
        // hull ring is CCW and the rect basis preserves orientation)
        var s = 0
        var k = 1
        while (k < 4) {
          if (best(2 * k) < best(2 * s) ||
              (best(2 * k) == best(2 * s) && best(2 * k + 1) < best(2 * s + 1))) s = k
          k += 1
        }
        val out = new Array[Double](10)
        k = 0
        while (k < 4) {
          val src = (s + k) % 4
          out(2 * k) = best(2 * src); out(2 * k + 1) = best(2 * src + 1)
          k += 1
        }
        out(8) = out(0); out(9) = out(1)
        Polygon(Array(out))
      case other => other
    }
  }

  private def reversedCoords(cs: Array[Double]): Array[Double] = {
    val out = new Array[Double](cs.length)
    val m = cs.length / 2
    var i = 0
    while (i < m) {
      out(2 * i) = cs(2 * (m - 1 - i)); out(2 * i + 1) = cs(2 * (m - 1 - i) + 1)
      i += 1
    }
    out
  }
}
