package graft.core

import scala.collection.mutable.ArrayBuffer

/** Analysis and transformation algorithms: convex hull (Andrew's
  * monotone chain, reference: geom/alg_convex_hull.go:8-172), simplify
  * (Ramer–Douglas–Peucker, reference: geom/alg_simplify.go:3-36),
  * densify (geom/alg_densify.go:8-39), Sutherland–Hodgman axis-box clip
  * (the reference clips rings against the overlay envelope:
  * internal/jtsport/jts/operation_overlayng_ring_clipper.go), and
  * linear interpolation (geom/alg_linear_interpolation.go:14-87).
  */
object Algos {

  // ------------------------------------------------------------- hull

  /** Convex hull with the reference's degenerate outputs: empty input →
    * empty GC for GC input / typed empty otherwise; single point →
    * Point; collinear points → LineString; else CCW Polygon.
    */
  def convexHull(g: Geom): Geom = {
    val pts = collectXYs(g)
    if (pts.isEmpty) {
      return g match {
        case _: GColl => Geom.emptyGC
        case _        => GPoly(Array.empty, CT.XY)
      }
    }
    val hull = hullOf(pts)
    if (hull.length == 1) GPoint.xy(hull(0)._1, hull(0)._2)
    else if (hull.length == 2)
      GLine(Seqn.of(hull(0)._1, hull(0)._2, hull(1)._1, hull(1)._2))
    else {
      val ring = new Array[Double]((hull.length + 1) * 2)
      var i = 0
      while (i < hull.length) { ring(2 * i) = hull(i)._1; ring(2 * i + 1) = hull(i)._2; i += 1 }
      ring(2 * hull.length) = hull(0)._1; ring(2 * hull.length + 1) = hull(0)._2
      GPoly(Array(Seqn.xy(ring)), CT.XY)
    }
  }

  /** Dedup + sort, then Andrew's monotone chain. Returns hull vertices
    * in CCW order; 1 point if all equal; 2 endpoints if all collinear.
    */
  def hullOf(ptsIn: Seq[(Double, Double)]): Array[(Double, Double)] = {
    val pts = ptsIn.distinct.sorted.toArray
    if (pts.length <= 2) return pts
    val lower = ArrayBuffer.empty[(Double, Double)]
    for (p <- pts) {
      while (lower.length >= 2 &&
        Alg.orient(lower(lower.length - 2)._1, lower(lower.length - 2)._2,
          lower.last._1, lower.last._2, p._1, p._2) <= 0) lower.remove(lower.length - 1)
      lower += p
    }
    val upper = ArrayBuffer.empty[(Double, Double)]
    for (p <- pts.reverseIterator) {
      while (upper.length >= 2 &&
        Alg.orient(upper(upper.length - 2)._1, upper(upper.length - 2)._2,
          upper.last._1, upper.last._2, p._1, p._2) <= 0) upper.remove(upper.length - 1)
      upper += p
    }
    val hull = (lower.dropRight(1) ++ upper.dropRight(1)).toArray
    if (hull.length < 3) Array(pts.head, pts.last) // all collinear: extremes
    else hull
  }

  def collectXYs(g: Geom): Vector[(Double, Double)] = {
    val buf = Vector.newBuilder[(Double, Double)]
    Geom.transformSeq(g, s => {
      var i = 0
      while (i < s.n) { buf += ((s.x(i), s.y(i))); i += 1 }
      s
    })
    buf.result()
  }

  // --------------------------------------------------------- simplify

  /** Ramer–Douglas–Peucker on every sequence
    * (reference: geom/alg_simplify.go — iterative stack form there,
    * recursive here; identical output). Polygon rings that collapse
    * below 4 points drop the whole polygon like the reference does.
    */
  def simplify(g: Geom, tol: Double): Geom = g match {
    case GLine(s) =>
      val r = rdp(s, tol)
      if (r.n < 2) GLine(new Seqn(Array.emptyDoubleArray, s.ct)) else GLine(r)
    case GPoly(rings, ct) =>
      val out = ArrayBuffer.empty[Seqn]
      var dropped = false
      for (r <- rings) {
        val sr = rdp(r, tol)
        if (sr.n < 4) { if (out.isEmpty) dropped = true }
        else if (!dropped) out += sr
      }
      if (dropped || out.isEmpty) GPoly(Array.empty, ct) else GPoly(out.toArray, ct)
    case GMLine(ls, ct) =>
      GMLine(ls.map(rdp(_, tol)).filter(_.n >= 2), ct)
    case GMPoly(ps, ct) =>
      val out = ps.flatMap { rings =>
        simplify(GPoly(rings, ct), tol) match {
          case GPoly(rs, _) if rs.nonEmpty => Some(rs)
          case _ => None
        }
      }
      GMPoly(out, ct)
    case GColl(gs, ct) => GColl(gs.map(simplify(_, tol)), ct)
    case other => other
  }

  /** TopologyPreserveSimplify (GEOS wrapper analogue — reference
    * geos/entrypoints.go:239-245): Douglas–Peucker under topological
    * guards — no ring or element collapses, and the output must be as
    * valid as the input. Implemented as guarded DP: simplify at the
    * requested tolerance, verify structure (ring counts per part
    * unchanged) and validity, and on violation halve the tolerance
    * and retry (7 attempts, then the input is returned unchanged).
    * Coarser-grained than GEOS's per-vertex reinstatement, but the
    * contract — "an attempt is made to preserve topological
    * invariants", valid in → valid out, nothing vanishes — holds.
    * Invalid inputs fall back to plain [[simplify]] (the reference
    * does not define TPS behaviour on invalid input).
    */
  def topologyPreserveSimplify(g: Geom, tol: Double): Geom = {
    if (tol <= 0 || g.isEmpty) return g
    if (!Validate.isValid(g)) return simplify(g, tol)
    var t = tol
    var i = 0
    while (i < 7) {
      val r = simplify(g, t)
      if (ringStructure(r) == ringStructure(g) && Validate.isValid(r)) return r
      t /= 2
      i += 1
    }
    g
  }

  /** rings per polygonal part / lines per multiline — the shape that
    * TPS must preserve
    */
  private def ringStructure(g: Geom): Seq[Int] = g match {
    case GPoly(rs, _) => Seq(rs.length)
    case GMPoly(ps, _) => ps.toSeq.map(_.length)
    case GMLine(ls, _) => Seq(ls.length)
    case GColl(cs, _) => cs.toSeq.flatMap(ringStructure)
    case _ => Seq(1)
  }

  def rdp(s: Seqn, tol: Double): Seqn = {
    val n = s.n
    if (n <= 2) return s
    val keep = new Array[Boolean](n)
    keep(0) = true; keep(n - 1) = true
    val stack = scala.collection.mutable.Stack[(Int, Int)]((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.pop()
      if (hi - lo >= 2) {
        var maxD = -1.0; var maxI = -1
        var i = lo + 1
        while (i < hi) {
          val d = Alg.distPointSeg(s.x(i), s.y(i), s.x(lo), s.y(lo), s.x(hi), s.y(hi))
          if (d > maxD) { maxD = d; maxI = i }
          i += 1
        }
        if (maxD > tol) {
          keep(maxI) = true
          stack.push((lo, maxI)); stack.push((maxI, hi))
        }
      }
    }
    val cnt = keep.count(identity)
    val out = new Array[Double](cnt * s.stride)
    var i = 0; var o = 0
    while (i < n) {
      if (keep(i)) {
        var j = 0
        while (j < s.stride) { out(o * s.stride + j) = s.ord(i, j); j += 1 }
        o += 1
      }
      i += 1
    }
    new Seqn(out, s.ct)
  }

  // ---------------------------------------------------------- densify

  /** Insert collinear points so that no segment exceeds maxDist
    * (reference: geom/alg_densify.go:8-39).
    */
  def densify(g: Geom, maxDist: Double): Geom = {
    require(maxDist > 0, "densify distance must be positive")
    Geom.transformSeq(g, s => {
      if (s.n < 2) s
      else {
        val buf = new scala.collection.mutable.ArrayBuilder.ofDouble
        var i = 0
        while (i < s.n - 1) {
          val parts = math.max(1,
            math.ceil(Alg.distPointPoint(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1)) / maxDist).toInt)
          var k = 0
          while (k < parts) {
            val t = k.toDouble / parts
            var j = 0
            while (j < s.stride) {
              buf += s.ord(i, j) + t * (s.ord(i + 1, j) - s.ord(i, j))
              j += 1
            }
            k += 1
          }
          i += 1
        }
        var j = 0
        while (j < s.stride) { buf += s.ord(s.n - 1, j); j += 1 }
        new Seqn(buf.result(), s.ct)
      }
    })
  }

  // ------------------------------------------------- Sutherland–Hodgman

  /** Clip a polygon's rings against an axis-aligned box via
    * Sutherland–Hodgman. Valid convex-window clipping: output ring may
    * be empty. The tile-assignment kernel of the north rule.
    */
  def clipRingToBox(ring: Seqn, box: Env): Array[Double] = {
    // open ring input (drop duplicate closing point), closed output
    var xs = new ArrayBuffer[Double](ring.n * 2)
    val n0 = if (ring.n > 1 && ring.x(0) == ring.x(ring.n - 1) && ring.y(0) == ring.y(ring.n - 1)) ring.n - 1 else ring.n
    var i = 0
    while (i < n0) { xs += ring.x(i); xs += ring.y(i); i += 1 }

    // clip against each of the 4 half-planes
    def clipHalf(inside: (Double, Double) => Boolean,
                 intersect: (Double, Double, Double, Double) => (Double, Double)): Unit = {
      val out = new ArrayBuffer[Double](xs.length + 8)
      val m = xs.length / 2
      var i = 0
      while (i < m) {
        val cx = xs(2 * i); val cy = xs(2 * i + 1)
        val px = xs(2 * ((i + m - 1) % m)); val py = xs(2 * ((i + m - 1) % m) + 1)
        val cIn = inside(cx, cy); val pIn = inside(px, py)
        if (cIn) {
          if (!pIn) { val (ix, iy) = intersect(px, py, cx, cy); out += ix += iy }
          out += cx += cy
        } else if (pIn) {
          val (ix, iy) = intersect(px, py, cx, cy); out += ix += iy
        }
        i += 1
      }
      xs = out
    }

    clipHalf((x, _) => x >= box.xmin, (px, py, cx, cy) => {
      val t = (box.xmin - px) / (cx - px); (box.xmin, py + t * (cy - py))
    })
    clipHalf((x, _) => x <= box.xmax, (px, py, cx, cy) => {
      val t = (box.xmax - px) / (cx - px); (box.xmax, py + t * (cy - py))
    })
    clipHalf((_, y) => y >= box.ymin, (px, py, cx, cy) => {
      val t = (box.ymin - py) / (cy - py); (px + t * (cx - px), box.ymin)
    })
    clipHalf((_, y) => y <= box.ymax, (px, py, cx, cy) => {
      val t = (box.ymax - py) / (cy - py); (px + t * (cx - px), box.ymax)
    })

    if (xs.length < 6) return Array.emptyDoubleArray
    // close the ring
    xs += xs(0); xs += xs(1)
    xs.toArray
  }

  /** PostGIS-style ST_Subdivide: recursively halve the envelope along
    * its longer axis (Sutherland-Hodgman clip per half) until every
    * piece carries at most maxVerts vertices. The standard preparation
    * step for web-scale spatial joins: per-row kernel cost on
    * oversized web-extracted polygons becomes bounded, and cell-join
    * cover keys get tighter (no reference analogue; semantics follow
    * PostGIS ST_Subdivide, which also emits clipped pieces).
    */
  def subdivide(g: Geom, maxVerts: Int): Seq[Geom] = {
    require(maxVerts >= 8, "st_subdivide requires maxVerts >= 8")
    val out = scala.collection.mutable.ArrayBuffer.empty[Geom]
    def go(x: Geom, depth: Int): Unit = {
      if (x.isEmpty) return
      // depth cap bounds pathological fractal-ish inputs; 48 halvings
      // shrink any envelope below double ulp scale
      if (x.numPoints <= maxVerts || depth >= 48) { out += x; return }
      val e = x.envelope
      if (e.xmax - e.xmin >= e.ymax - e.ymin) {
        val mx = (e.xmin + e.xmax) / 2
        go(clipToBox(x, Env(e.xmin, e.ymin, mx, e.ymax)), depth + 1)
        go(clipToBox(x, Env(mx, e.ymin, e.xmax, e.ymax)), depth + 1)
      } else {
        val my = (e.ymin + e.ymax) / 2
        go(clipToBox(x, Env(e.xmin, e.ymin, e.xmax, my)), depth + 1)
        go(clipToBox(x, Env(e.xmin, my, e.xmax, e.ymax)), depth + 1)
      }
    }
    go(g, 0)
    out.toSeq
  }

  /** Clip any geometry to a box: polygons via Sutherland–Hodgman, lines
    * via per-segment Liang–Barsky, points by containment test. Fast, but
    * like PostGIS ST_ClipByBox2D it may return invalid polygons: a
    * concave or holed input can come back with zero-width bridges along
    * the box edge or a hole touching its shell. `st_intersection`
    * ([[Overlay.intersection]]) never does.
    */
  def clipToBox(g: Geom, box: Env): Geom = g match {
    case p @ GPoint(c, ct) =>
      if (!p.isEmpty && box.containsPt(c(0), c(1))) p else GPoint(Array.emptyDoubleArray, ct)
    case GMPoint(pts, ct) =>
      GMPoint(pts.filter(p => !p.isEmpty && box.containsPt(p.x, p.y)), ct)
    case GLine(s) =>
      val segs = clipLineToBox(s, box)
      if (segs.isEmpty) GLine(new Seqn(Array.emptyDoubleArray, CT.XY))
      else if (segs.length == 1) GLine(Seqn.xy(segs(0)))
      else GMLine(segs.map(Seqn.xy), CT.XY)
    case GMLine(ls, ct) =>
      GMLine(ls.flatMap(clipLineToBox(_, box)).map(Seqn.xy), CT.XY)
    case GPoly(rings, ct) =>
      val out = rings.map(r => clipRingToBox(r, box)).filter(_.nonEmpty)
      if (out.isEmpty || clipRingToBox(rings(0), box).isEmpty) GPoly(Array.empty, CT.XY)
      else GPoly(out.map(Seqn.xy), CT.XY)
    case GMPoly(ps, ct) =>
      val out = ps.flatMap { rings =>
        clipToBox(GPoly(rings, ct), box) match {
          case GPoly(rs, _) if rs.nonEmpty => Some(rs)
          case _ => None
        }
      }
      GMPoly(out, CT.XY)
    case GColl(gs, ct) => GColl(gs.map(clipToBox(_, box)), CT.XY)
  }

  /** Liang–Barsky polyline clip: returns maximal runs inside the box. */
  def clipLineToBox(s: Seqn, box: Env): Array[Array[Double]] = {
    val out = ArrayBuffer.empty[Array[Double]]
    var cur = new ArrayBuffer[Double]()
    def flush(): Unit = {
      if (cur.length >= 4) out += cur.toArray
      cur = new ArrayBuffer[Double]()
    }
    var i = 0
    while (i < s.n - 1) {
      val clipped = clipSegment(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1), box)
      clipped match {
        case Some((x1, y1, x2, y2)) =>
          if (cur.isEmpty) { cur += x1 += y1 }
          else if (cur(cur.length - 2) != x1 || cur(cur.length - 1) != y1) {
            flush(); cur += x1 += y1
          }
          cur += x2 += y2
        case None => flush()
      }
      i += 1
    }
    flush()
    out.toArray
  }

  /** Liang–Barsky single-segment clip. */
  def clipSegment(x1: Double, y1: Double, x2: Double, y2: Double,
                  box: Env): Option[(Double, Double, Double, Double)] = {
    var t0 = 0.0; var t1 = 1.0
    val dx = x2 - x1; val dy = y2 - y1
    def clip(p: Double, q: Double): Boolean = {
      if (p == 0) q >= 0
      else {
        val r = q / p
        if (p < 0) { if (r > t1) false else { if (r > t0) t0 = r; true } }
        else { if (r < t0) false else { if (r < t1) t1 = r; true } }
      }
    }
    if (clip(-dx, x1 - box.xmin) && clip(dx, box.xmax - x1) &&
        clip(-dy, y1 - box.ymin) && clip(dy, box.ymax - y1)) {
      Some((x1 + t0 * dx, y1 + t0 * dy, x1 + t1 * dx, y1 + t1 * dy))
    } else None
  }

  // --------------------------------------------------- linear reference

  /** n evenly spaced points along a LineString as a MultiPoint:
    * n <= 0 -> empty, n == 1 -> midpoint, n >= 2 -> start, n-2 evenly
    * spaced intermediates, end
    * (reference: geom/type_line_string.go InterpolateEvenlySpacedPoints).
    */
  def interpolateEvenly(s: Seqn, n: Int): Geom = {
    if (n <= 0 || s.n == 0) return GMPoint(Array.empty, CT.XY)
    val fracs =
      if (n == 1) Seq(0.5)
      else (0 until n).map(i => i.toDouble / (n - 1))
    val pts = fracs.flatMap(interpolatePoint(s, _))
      .map { case (x, y) => GPoint.xy(x, y) }.toArray
    GMPoint(pts, CT.XY)
  }

  /** Point at fraction f (clamped to [0,1]) along a LineString
    * (reference: geom/alg_linear_interpolation.go:14-45).
    */
  def interpolatePoint(s: Seqn, frac: Double): Option[(Double, Double)] = {
    if (s.n == 0) return None
    if (s.n == 1) return Some((s.x(0), s.y(0)))
    val f = math.max(0.0, math.min(1.0, frac))
    val total = Measure.seqLength(s)
    if (total == 0) return Some((s.x(0), s.y(0)))
    val target = f * total
    var acc = 0.0
    var i = 0
    while (i < s.n - 1) {
      val d = Alg.distPointPoint(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1))
      if (acc + d >= target && d > 0) {
        val t = (target - acc) / d
        return Some((s.x(i) + t * (s.x(i + 1) - s.x(i)), s.y(i) + t * (s.y(i + 1) - s.y(i))))
      }
      acc += d
      i += 1
    }
    Some((s.x(s.n - 1), s.y(s.n - 1)))
  }

  /** Ring orientation helpers (reference: geom/type_geometry.go:682-743). */
  def isRingCCW(r: Seqn): Boolean = Alg.ringIsCCW(r)

  /** Force shell CW/CCW with holes opposite
    * (reference ForceCW/ForceCCW semantics).
    */
  def forceOrientation(g: Geom, shellCW: Boolean): Geom = g match {
    case GPoly(rings, ct) =>
      GPoly(rings.zipWithIndex.map { case (r, i) =>
        val ccw = isRingCCW(r)
        val wantCCW = if (i == 0) !shellCW else shellCW
        if (ccw == wantCCW) r else r.reversed
      }, ct)
    case GMPoly(ps, ct) =>
      GMPoly(ps.map(rings => forceOrientation(GPoly(rings, ct), shellCW)
        .asInstanceOf[GPoly].rings), ct)
    case GColl(gs, ct) => GColl(gs.map(forceOrientation(_, shellCW)), ct)
    case other => other
  }
}

/** IsSimple per type (reference: geom/type_line_string.go:112-200,
  * type_multi_line_string.go:106-198, type_multi_point.go:91-103,
  * type_polygon.go IsSimple == true, GC undefined ->
  * type_geometry.go:578-597). Returns None for GeometryCollection
  * (undefined).
  */
object Simplicity {
  def isSimple(g: Geom): Option[Boolean] = g match {
    case _: GPoint => Some(true)
    case GMPoint(pts, _) =>
      val full = pts.filter(!_.isEmpty).map(p => (p.x, p.y))
      Some(full.distinct.length == full.length)
    case GLine(s) => Some(lineIsSimple(s))
    case GMLine(ls, _) => Some(mlsIsSimple(ls.filter(!_.isEmpty)))
    // polygonal: simple iff every ring is simple as a closed curve
    // (JTS IsSimpleOp semantics; invalid bowties/degenerate rings are
    // not simple even though valid polygons always are)
    case GPoly(rs, _) => Some(rs.forall(lineIsSimple))
    case GMPoly(ps, _) => Some(ps.forall(_.forall(lineIsSimple)))
    // GC: simple iff every element is simple (JTS IsSimpleOp applies
    // element-wise; inter-element interactions are not considered)
    case GColl(gs, _) =>
      val subs = gs.map(isSimple)
      if (subs.contains(None)) None else Some(subs.forall(_.contains(true)))
  }

  /** Collapse consecutive duplicate points — repeated points don't
    * affect simplicity (JTS ignores them).
    */
  private def dedupConsecutive(s: Seqn): Seqn = {
    val out = new scala.collection.mutable.ArrayBuffer[Double](2 * s.n)
    var i = 0
    while (i < s.n) {
      if (i == 0 || s.x(i) != s.x(i - 1) || s.y(i) != s.y(i - 1)) {
        out += s.x(i); out += s.y(i)
      }
      i += 1
    }
    Seqn.xy(out.toArray)
  }

  /** A LineString is simple iff no self intersections besides adjacent
    * segment endpoints, allowing the closing point of a closed line.
    * Consecutive repeated points are collapsed first.
    */
  def lineIsSimple(s0: Seqn): Boolean = {
    val s = dedupConsecutive(s0)
    val n = s.n - 1 // segments
    if (n <= 0) return true
    val closed = s.x(0) == s.x(s.n - 1) && s.y(0) == s.y(s.n - 1)
    def checkPair(i: Int, j: Int): Boolean = {
      if (Alg.segmentsIntersect(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1),
        s.x(j), s.y(j), s.x(j + 1), s.y(j + 1))) {
        val adjacent = j == i + 1
        val closing = closed && i == 0 && j == n - 1
        if (!adjacent && !closing) return false
        // adjacent/closing segments must share exactly the one endpoint
        if (Alg.segmentsCross(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1),
          s.x(j), s.y(j), s.x(j + 1), s.y(j + 1))) return false
        // collinear fold-back check
        val col =
          Alg.orient(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1), s.x(j), s.y(j)) == 0 &&
            Alg.orient(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1), s.x(j + 1), s.y(j + 1)) == 0
        if (col) {
          val backJ =
            if (adjacent) Alg.onSegment(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1), s.x(j + 1), s.y(j + 1)) &&
              (s.x(j + 1) != s.x(i + 1) || s.y(j + 1) != s.y(i + 1))
            else Alg.onSegment(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1), s.x(j), s.y(j)) &&
              (s.x(j) != s.x(i) || s.y(j) != s.y(i))
          if (backJ) return false
        }
      }
      true
    }
    if (n < 32) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          if (!checkPair(i, j)) return false
          j += 1
        }
        i += 1
      }
      true
    } else {
      // R-tree candidate sweep over segment envelopes (all-pairs loop
      // was O(n^2) per line)
      val envs = new Array[Env](n)
      var i = 0
      while (i < n) {
        envs(i) = Env(math.min(s.x(i), s.x(i + 1)), math.min(s.y(i), s.y(i + 1)),
          math.max(s.x(i), s.x(i + 1)), math.max(s.y(i), s.y(i + 1)))
        i += 1
      }
      RTree.bulkLoad(envs).selfJoin(checkPair)
    }
  }

  /** MultiLineString: all members simple, and member pairs may only
    * intersect at their boundary (endpoint) points.
    */
  def mlsIsSimple(ls: Array[Seqn]): Boolean = {
    if (!ls.forall(lineIsSimple)) return false
    var a = 0
    while (a < ls.length) {
      var b = a + 1
      while (b < ls.length) {
        val sa = ls(a); val sb = ls(b)
        var i = 0
        while (i < sa.n - 1) {
          var j = 0
          while (j < sb.n - 1) {
            if (Alg.segmentsIntersect(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1),
              sb.x(j), sb.y(j), sb.x(j + 1), sb.y(j + 1))) {
              if (Alg.segmentsCross(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1),
                sb.x(j), sb.y(j), sb.x(j + 1), sb.y(j + 1))) return false
              // collinear overlap in more than a point -> non-simple
              val colinear =
                Alg.orient(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1), sb.x(j), sb.y(j)) == 0 &&
                Alg.orient(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1), sb.x(j + 1), sb.y(j + 1)) == 0
              if (colinear) {
                var inside = 0
                for ((px, py) <- Seq((sb.x(j), sb.y(j)), (sb.x(j + 1), sb.y(j + 1)),
                  (sa.x(i), sa.y(i)), (sa.x(i + 1), sa.y(i + 1))))
                  if (Alg.onSegment(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1), px, py) &&
                      Alg.onSegment(sb.x(j), sb.y(j), sb.x(j + 1), sb.y(j + 1), px, py))
                    inside += 1
                // two shared endpoints of the overlap region that are
                // distinct points = a positive-length shared piece
                val shared = Seq((sb.x(j), sb.y(j)), (sb.x(j + 1), sb.y(j + 1)),
                  (sa.x(i), sa.y(i)), (sa.x(i + 1), sa.y(i + 1))).distinct.filter {
                  case (px, py) =>
                    Alg.onSegment(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1), px, py) &&
                      Alg.onSegment(sb.x(j), sb.y(j), sb.x(j + 1), sb.y(j + 1), px, py)
                }
                if (shared.length >= 2) return false
              }
              // any touch point must be a boundary endpoint of BOTH
              // lines; a CLOSED line has no boundary at all (mod-2),
              // so any touch with it is non-simple
              val aClosed = sa.x(0) == sa.x(sa.n - 1) && sa.y(0) == sa.y(sa.n - 1)
              val bClosed = sb.x(0) == sb.x(sb.n - 1) && sb.y(0) == sb.y(sb.n - 1)
              val ends = if (aClosed) Seq.empty
                else Seq((sa.x(0), sa.y(0)), (sa.x(sa.n - 1), sa.y(sa.n - 1)))
              val endsB = if (bClosed) Seq.empty
                else Seq((sb.x(0), sb.y(0)), (sb.x(sb.n - 1), sb.y(sb.n - 1)))
              val touches = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
              for ((px, py) <- Seq((sb.x(j), sb.y(j)), (sb.x(j + 1), sb.y(j + 1))))
                if (Alg.onSegment(sa.x(i), sa.y(i), sa.x(i + 1), sa.y(i + 1), px, py))
                  touches += ((px, py))
              for ((px, py) <- Seq((sa.x(i), sa.y(i)), (sa.x(i + 1), sa.y(i + 1))))
                if (Alg.onSegment(sb.x(j), sb.y(j), sb.x(j + 1), sb.y(j + 1), px, py))
                  touches += ((px, py))
              for (t <- touches.distinct)
                if (!ends.contains(t) || !endsB.contains(t)) return false
            }
            j += 1
          }
          i += 1
        }
        b += 1
      }
      a += 1
    }
    true
  }
}

/** Rotating calipers over the convex hull
  * (reference: geom/alg_rotating_calipers.go:13-133).
  */
object Calipers {

  /** Minimum-area oriented bounding rectangle; degenerate inputs return
    * the hull itself (point/line).
    */
  def minAreaRect(g: Geom): Geom = bestRect(g, byWidth = false)

  /** Rectangle oriented along the minimum-width direction. */
  def minWidthRect(g: Geom): Geom = bestRect(g, byWidth = true)

  private def bestRect(g: Geom, byWidth: Boolean): Geom = {
    val hull = Algos.convexHull(g)
    hull match {
      case GPoly(rings, _) if rings.nonEmpty =>
        val r = rings(0)
        val n = r.n - 1
        var best: Array[Double] = null
        var bestScore = Double.PositiveInfinity
        var e = 0
        while (e < n) {
          val ex = r.x(e + 1) - r.x(e); val ey = r.y(e + 1) - r.y(e)
          val len = math.sqrt(ex * ex + ey * ey)
          if (len > 0) {
            val ux = ex / len; val uy = ey / len // edge direction
            var minU = Double.MaxValue; var maxU = -Double.MaxValue
            var minV = Double.MaxValue; var maxV = -Double.MaxValue
            var i = 0
            while (i < n) {
              val u = r.x(i) * ux + r.y(i) * uy
              val v = -r.x(i) * uy + r.y(i) * ux
              if (u < minU) minU = u; if (u > maxU) maxU = u
              if (v < minV) minV = v; if (v > maxV) maxV = v
              i += 1
            }
            val w = maxU - minU; val h = maxV - minV
            val score = if (byWidth) math.min(w, h) else w * h
            if (score < bestScore) {
              bestScore = score
              def pt(u: Double, v: Double): (Double, Double) =
                (u * ux - v * uy, u * uy + v * ux)
              val c = Array(pt(minU, minV), pt(maxU, minV), pt(maxU, maxV), pt(minU, maxV))
              best = Array(c(0)._1, c(0)._2, c(1)._1, c(1)._2, c(2)._1, c(2)._2,
                c(3)._1, c(3)._2, c(0)._1, c(0)._2)
            }
          }
          e += 1
        }
        if (best == null) hull else GPoly(Array(Seqn.xy(best)), CT.XY)
      case other => other // point or line hull: degenerate result
    }
  }
}
