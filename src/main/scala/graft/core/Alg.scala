package graft.core

/** Robust geometric kernels.
  *
  * Orientation uses a fast float filter with a double-double exact
  * fallback, the same structure the reference relies on
  * (reference: internal/jtsport/jts/algorithm_cgalgorithms_dd.go:20-44,
  * jts/math_dd.go:13-28). The double-double arithmetic here is the
  * standard error-free-transform construction (Dekker/Knuth TwoSum,
  * FMA-based TwoProd) — original code.
  */
object Alg {

  /** Counterclockwise > 0, clockwise < 0, collinear == 0. */
  final val CCW = 1
  final val CW = -1
  final val COLLINEAR = 0

  private final val DpSafeEpsilon = 1e-15

  /** Robust orientation of C relative to segment A->B.
    * Returns 1 (left/ccw), -1 (right/cw), 0 (collinear).
    */
  def orient(ax: Double, ay: Double, bx: Double, by: Double,
             cx: Double, cy: Double): Int = {
    // fast filter (structure follows jts/algorithm_cgalgorithms_dd.go:33)
    val detLeft = (ax - cx) * (by - cy)
    val detRight = (ay - cy) * (bx - cx)
    val det = detLeft - detRight
    var detSum = 0.0
    if (detLeft > 0.0) {
      if (detRight <= 0.0) return sig(det)
      detSum = detLeft + detRight
    } else if (detLeft < 0.0) {
      if (detRight >= 0.0) return sig(det)
      detSum = -detLeft - detRight
    } else {
      return sig(det)
    }
    val errBound = DpSafeEpsilon * detSum
    if (det >= errBound || -det >= errBound) sig(det)
    else orientDD(ax, ay, bx, by, cx, cy)
  }

  private def sig(d: Double): Int = if (d > 0) 1 else if (d < 0) -1 else 0

  // --- double-double exact path --------------------------------------

  // Exact sum of two doubles: (hi, lo) with hi+lo == a+b exactly.
  @inline private def twoSumHi(a: Double, b: Double): Double = a + b
  @inline private def twoSumLo(a: Double, b: Double, s: Double): Double = {
    val bb = s - a
    (a - (s - bb)) + (b - bb)
  }
  // Exact product via FMA.
  @inline private def twoProdLo(a: Double, b: Double, p: Double): Double =
    Math.fma(a, b, -p)

  /** dd = a - b exactly (both doubles). Result in out(0)=hi, out(1)=lo. */
  private def ddDiff(a: Double, b: Double, out: Array[Double]): Unit = {
    val s = a - b
    val bb = s - a
    val err = (a - (s - bb)) - (b + bb)
    out(0) = s; out(1) = err
  }

  /** dd multiply: (ahi,alo) * (bhi,blo). */
  private def ddMul(ahi: Double, alo: Double, bhi: Double, blo: Double,
                    out: Array[Double]): Unit = {
    val p = ahi * bhi
    var e = twoProdLo(ahi, bhi, p)
    e += ahi * blo + alo * bhi
    val s = twoSumHi(p, e)
    out(0) = s; out(1) = twoSumLo(p, e, s)
  }

  /** dd subtract: (ahi,alo) - (bhi,blo). */
  private def ddSub(ahi: Double, alo: Double, bhi: Double, blo: Double,
                    out: Array[Double]): Unit = {
    // (a) + (-b) with two-level renormalization
    var s = twoSumHi(ahi, -bhi)
    var e = twoSumLo(ahi, -bhi, s)
    e += alo - blo
    val hi = twoSumHi(s, e)
    out(0) = hi; out(1) = twoSumLo(s, e, hi)
  }

  private def orientDD(ax: Double, ay: Double, bx: Double, by: Double,
                       cx: Double, cy: Double): Int = {
    val dx1 = new Array[Double](2); val dy2 = new Array[Double](2)
    val dy1 = new Array[Double](2); val dx2 = new Array[Double](2)
    ddDiff(ax, cx, dx1); ddDiff(by, cy, dy2)
    ddDiff(ay, cy, dy1); ddDiff(bx, cx, dx2)
    val m1 = new Array[Double](2); val m2 = new Array[Double](2)
    ddMul(dx1(0), dx1(1), dy2(0), dy2(1), m1)
    ddMul(dy1(0), dy1(1), dx2(0), dx2(1), m2)
    val d = new Array[Double](2)
    ddSub(m1(0), m1(1), m2(0), m2(1), d)
    if (d(0) > 0) 1 else if (d(0) < 0) -1
    else if (d(1) > 0) 1 else if (d(1) < 0) -1 else 0
  }

  // --- segment predicates ---------------------------------------------

  /** Is point (px,py) on the closed segment (ax,ay)-(bx,by)? The box
    * test comes first: it rejects most segments of a ray cast without
    * an orientation.
    */
  def onSegment(ax: Double, ay: Double, bx: Double, by: Double,
                px: Double, py: Double): Boolean =
    px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by) &&
      orient(ax, ay, bx, by, px, py) == 0

  /** Do closed segments AB and CD share at least one point?
    * (reference semantics: geom/line.go:95-148).
    */
  def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                        cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) return true
    if (o1 == 0 && onSegment(ax, ay, bx, by, cx, cy)) return true
    if (o2 == 0 && onSegment(ax, ay, bx, by, dx, dy)) return true
    if (o3 == 0 && onSegment(cx, cy, dx, dy, ax, ay)) return true
    if (o4 == 0 && onSegment(cx, cy, dx, dy, bx, by)) return true
    false
  }

  /** Proper crossing: segments cross at a single point interior to both. */
  def segmentsCross(ax: Double, ay: Double, bx: Double, by: Double,
                    cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    o1 * o2 < 0 && o3 * o4 < 0
  }

  /** Intersection point of two properly crossing segments. */
  def crossingPoint(ax: Double, ay: Double, bx: Double, by: Double,
                    cx: Double, cy: Double, dx: Double, dy: Double): (Double, Double) = {
    val rx = bx - ax; val ry = by - ay
    val sx = dx - cx; val sy = dy - cy
    val denom = rx * sy - ry * sx
    val t = ((cx - ax) * sy - (cy - ay) * sx) / denom
    (ax + t * rx, ay + t * ry)
  }

  /** Crossing point of segments AB and CD computed in double-double
    * arithmetic, each ordinate rounded once to the nearest double: the
    * same point whichever segment comes first, and one point for every
    * segment of one line that CD or AB crosses there.
    */
  def crossingPointExact(ax: Double, ay: Double, bx: Double, by: Double,
                         cx: Double, cy: Double, dx: Double, dy: Double): (Double, Double) = {
    val rx = new Array[Double](2); val ry = new Array[Double](2)
    val sx = new Array[Double](2); val sy = new Array[Double](2)
    val qx = new Array[Double](2); val qy = new Array[Double](2)
    ddDiff(bx, ax, rx); ddDiff(by, ay, ry)
    ddDiff(dx, cx, sx); ddDiff(dy, cy, sy)
    ddDiff(cx, ax, qx); ddDiff(cy, ay, qy)
    val num = cross(qx, qy, sx, sy)
    val den = cross(rx, ry, sx, sy)
    // t = num / den: a quotient, then a correction from its remainder
    val q1 = num(0) / den(0)
    val p = new Array[Double](2); val rem = new Array[Double](2)
    ddMul(q1, 0.0, den(0), den(1), p)
    ddSub(num(0), num(1), p(0), p(1), rem)
    val q2 = rem(0) / den(0)
    val t0 = twoSumHi(q1, q2); val t1 = twoSumLo(q1, q2, t0)
    def along(a: Double, r: Array[Double]): Double = {
      ddMul(t0, t1, r(0), r(1), p)
      val s = twoSumHi(a, p(0))
      s + (twoSumLo(a, p(0), s) + p(1))
    }
    (along(ax, rx), along(ay, ry))
  }

  /** dd cross product (ux, uy) x (vx, vy). */
  private def cross(ux: Array[Double], uy: Array[Double],
                    vx: Array[Double], vy: Array[Double]): Array[Double] = {
    val m1 = new Array[Double](2); val m2 = new Array[Double](2)
    ddMul(ux(0), ux(1), vy(0), vy(1), m1)
    ddMul(uy(0), uy(1), vx(0), vx(1), m2)
    val out = new Array[Double](2)
    ddSub(m1(0), m1(1), m2(0), m2(1), out)
    out
  }

  // --- point in ring / polygon ----------------------------------------

  /** Locate point vs a closed ring: 1 interior, 0 boundary, -1 exterior.
    * Ray-casting crossing count with half-open Y rule and explicit
    * boundary detection (reference: geom/alg_point_in_ring.go:19-53).
    */
  def pointInRing(ring: Seqn, px: Double, py: Double): Int = {
    var inside = false
    val n = ring.n
    var i = 0
    while (i < n - 1) {
      val x1 = ring.x(i); val y1 = ring.y(i)
      val x2 = ring.x(i + 1); val y2 = ring.y(i + 1)
      if (onSegment(x1, y1, x2, y2, px, py)) return 0
      // half-open rule: count edge iff exactly one endpoint is strictly above
      if ((y1 > py) != (y2 > py)) {
        val o = orient(x1, y1, x2, y2, px, py)
        if (y2 > y1) { if (o == CCW) inside = !inside }
        else { if (o == CW) inside = !inside }
      }
      i += 1
    }
    if (inside) 1 else -1
  }

  /** Locate point vs polygon (shell + holes): 1 interior, 0 boundary,
    * -1 exterior.
    */
  def pointInPolygon(poly: GPoly, px: Double, py: Double): Int = {
    if (poly.isEmpty) return -1
    if (!poly.envelope.containsPt(px, py)) return -1
    val shellLoc = pointInRing(poly.rings(0), px, py)
    if (shellLoc <= 0) return shellLoc
    var i = 1
    while (i < poly.rings.length) {
      val loc = pointInRing(poly.rings(i), px, py)
      if (loc == 0) return 0
      if (loc == 1) return -1 // inside a hole => exterior
      i += 1
    }
    1
  }

  /** Locate a point vs any areal geometry (Polygon / MultiPolygon). */
  def pointInAreal(g: Geom, px: Double, py: Double): Int = g match {
    case p: GPoly => pointInPolygon(p, px, py)
    case GMPoly(ps, ct) =>
      var best = -1
      var i = 0
      while (i < ps.length) {
        if (ps(i).nonEmpty) {
          val loc = pointInPolygon(GPoly(ps(i), ct), px, py)
          if (loc == 1) return 1
          if (loc == 0) best = 0
        }
        i += 1
      }
      best
    case GColl(gs, _) =>
      var best = -1
      var i = 0
      while (i < gs.length) {
        val loc = pointInAreal(gs(i), px, py)
        if (loc == 1) return 1
        if (loc == 0) best = 0
        i += 1
      }
      best
    case _ => -1
  }

  // --- distance kernels -------------------------------------------------

  def distPointPoint(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = ax - bx; val dy = ay - by
    math.sqrt(dx * dx + dy * dy)
  }

  /** Distance from point P to closed segment AB. */
  def distPointSeg(px: Double, py: Double, ax: Double, ay: Double,
                   bx: Double, by: Double): Double = {
    val abx = bx - ax; val aby = by - ay
    val apx = px - ax; val apy = py - ay
    val len2 = abx * abx + aby * aby
    if (len2 == 0) return distPointPoint(px, py, ax, ay)
    var t = (apx * abx + apy * aby) / len2
    if (t < 0) t = 0 else if (t > 1) t = 1
    val cx = ax + t * abx; val cy = ay + t * aby
    distPointPoint(px, py, cx, cy)
  }

  /** Closest point on closed segment AB to point P, as (cx, cy). */
  def closestOnSeg(px: Double, py: Double, ax: Double, ay: Double,
                   bx: Double, by: Double): Array[Double] = {
    val abx = bx - ax; val aby = by - ay
    val len2 = abx * abx + aby * aby
    if (len2 == 0) return Array(ax, ay)
    var t = ((px - ax) * abx + (py - ay) * aby) / len2
    if (t < 0) t = 0 else if (t > 1) t = 1
    Array(ax + t * abx, ay + t * aby)
  }

  /** Closest pair (p on AB, q on CD) for NON-intersecting segments, as
    * (px, py, qx, qy): for disjoint segments the minimum is always
    * realized at an endpoint of one segment against the other.
    */
  def closestSegSeg(ax: Double, ay: Double, bx: Double, by: Double,
                    cx: Double, cy: Double, dx: Double, dy: Double): Array[Double] = {
    var best = Double.PositiveInfinity
    var out: Array[Double] = null
    def cand(ex: Double, ey: Double, sx1: Double, sy1: Double,
             sx2: Double, sy2: Double, endpointOnAB: Boolean): Unit = {
      val c = closestOnSeg(ex, ey, sx1, sy1, sx2, sy2)
      val d = distPointPoint(ex, ey, c(0), c(1))
      if (d < best) {
        best = d
        out = if (endpointOnAB) Array(ex, ey, c(0), c(1)) else Array(c(0), c(1), ex, ey)
      }
    }
    cand(ax, ay, cx, cy, dx, dy, endpointOnAB = true)
    cand(bx, by, cx, cy, dx, dy, endpointOnAB = true)
    cand(cx, cy, ax, ay, bx, by, endpointOnAB = false)
    cand(dx, dy, ax, ay, bx, by, endpointOnAB = false)
    out
  }

  /** Distance between closed segments AB and CD (0 if intersecting). */
  def distSegSeg(ax: Double, ay: Double, bx: Double, by: Double,
                 cx: Double, cy: Double, dx: Double, dy: Double): Double = {
    if (segmentsIntersect(ax, ay, bx, by, cx, cy, dx, dy)) return 0.0
    math.min(
      math.min(distPointSeg(ax, ay, cx, cy, dx, dy), distPointSeg(bx, by, cx, cy, dx, dy)),
      math.min(distPointSeg(cx, cy, ax, ay, bx, by), distPointSeg(dx, dy, ax, ay, bx, by)))
  }

  /** Robust ring orientation: CCW iff the turn at the lexicographically
    * smallest vertex is a left turn (robust orient, immune to the
    * near-zero shoelace cancellation that flips sliver rings).
    */
  def ringIsCCW(r: Seqn): Boolean = {
    val n0 = r.n
    if (n0 < 4) return signedRingArea(r) > 0
    val n = n0 - 1 // ignore duplicated closing vertex
    var m = 0
    var i = 1
    while (i < n) {
      if (r.y(i) < r.y(m) || (r.y(i) == r.y(m) && r.x(i) < r.x(m))) m = i
      i += 1
    }
    // previous distinct vertex
    var pi = (m + n - 1) % n
    var guard = 0
    while ((r.x(pi) == r.x(m) && r.y(pi) == r.y(m)) && guard < n) {
      pi = (pi + n - 1) % n; guard += 1
    }
    var ni = (m + 1) % n
    guard = 0
    while ((r.x(ni) == r.x(m) && r.y(ni) == r.y(m)) && guard < n) {
      ni = (ni + 1) % n; guard += 1
    }
    val o = orient(r.x(pi), r.y(pi), r.x(m), r.y(m), r.x(ni), r.y(ni))
    if (o != 0) o > 0
    else signedRingArea(r) > 0 // fully collinear fallback
  }

  /** Signed area of a ring (shoelace/2); CCW positive
    * (reference: geom/type_polygon.go:416 signedAreaOfLinearRing).
    */
  def signedRingArea(ring: Seqn): Double = {
    val n = ring.n
    if (n < 3) return 0.0
    var sum = 0.0
    var i = 0
    while (i < n - 1) {
      sum += ring.x(i) * ring.y(i + 1) - ring.x(i + 1) * ring.y(i)
      i += 1
    }
    sum / 2.0
  }
}
