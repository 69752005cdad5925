package graft.core

/** Prepared point-in-areal locator (the PreparedGeometry pattern,
  * reference: geom/alg_prepared.go:12-27): every ring edge of an areal
  * geometry is bucketed by its y-span over a uniform grid, so locating
  * one point scans only the edges whose y-span can cross the query
  * point's horizontal ray line, instead of O(all edges). (Bucketing
  * must be by Y: the ray-cast parity counts crossings of the full
  * horizontal line through the query point at ANY x.) Crossing semantics are identical to
  * [[Alg.pointInRing]]/[[Alg.pointInPolygon]]: half-open Y rule with
  * orientation test, explicit boundary detection, holes folded in via
  * per-polygon even-odd parity (equivalent to shell-minus-holes for
  * valid shell/hole nesting).
  *
  * Used by relate, to locate edge midpoints in large polygon sets, and
  * by buffer's round walk, to classify arrangement faces against the
  * input, where an O(faces x edges) plain ray cast is quadratic in
  * vertex count (the piece walk labels its faces from the edges
  * crossed instead).
  */
final class ArealLocator private (
    env: Env,
    ex1: Array[Double], ey1: Array[Double],
    ex2: Array[Double], ey2: Array[Double],
    negMaxX: Array[Double], epoly: Array[Int], npolys: Int,
    y0: Double, invW: Double, nb: Int,
    bucketStart: Array[Int], bucketEdges: Array[Int]) {

  /** 1 interior, 0 boundary, -1 exterior. */
  def locate(px: Double, py: Double): Int = {
    if (!env.containsPt(px, py)) return -1
    var b = ((py - y0) * invW).toInt
    if (b < 0) b = 0
    if (b >= nb) b = nb - 1
    // even-odd parity per polygon id; bitmask fast path for <= 64 parts
    var mask = 0L
    val par: Array[Boolean] = if (npolys > 64) new Array[Boolean](npolys) else null
    var k = bucketStart(b)
    val end = bucketStart(b + 1)
    while (k < end && -negMaxX(bucketEdges(k)) >= px) {
      val e = bucketEdges(k)
      val x1 = ex1(e); val y1 = ey1(e); val x2 = ex2(e); val y2 = ey2(e)
      if (Alg.onSegment(x1, y1, x2, y2, px, py)) return 0
      if ((y1 > py) != (y2 > py)) {
        val o = Alg.orient(x1, y1, x2, y2, px, py)
        val toggle =
          if (y2 > y1) o == Alg.CCW
          else o == Alg.CW
        if (toggle) {
          if (par == null) mask ^= 1L << epoly(e)
          else par(epoly(e)) = !par(epoly(e))
        }
      }
      k += 1
    }
    if (par == null) {
      if (mask != 0L) 1 else -1
    } else {
      var i = 0
      while (i < npolys) {
        if (par(i)) return 1
        i += 1
      }
      -1
    }
  }
}

object ArealLocator {

  /** Total ring-edge count of an areal geometry (cheap size probe for
    * choosing between a prepared locator and a plain ray cast).
    */
  def edgeCount(g: Geom): Int = g match {
    case GPoly(rs, _) => rs.iterator.map(r => math.max(0, r.n - 1)).sum
    case GMPoly(ps, _) =>
      ps.iterator.map(_.iterator.map(r => math.max(0, r.n - 1)).sum).sum
    case GColl(cs, _) => cs.iterator.map(edgeCount).sum
    case _ => 0
  }

  def build(g: Geom): ArealLocator = {
    val m = edgeCount(g)
    val ex1 = new Array[Double](m); val ey1 = new Array[Double](m)
    val ex2 = new Array[Double](m); val ey2 = new Array[Double](m)
    val epoly = new Array[Int](m)
    var w = 0
    var poly = 0
    def addPoly(rings: Array[Seqn]): Unit = {
      var ri = 0
      while (ri < rings.length) {
        val r = rings(ri)
        var i = 0
        while (i < r.n - 1) {
          ex1(w) = r.x(i); ey1(w) = r.y(i)
          ex2(w) = r.x(i + 1); ey2(w) = r.y(i + 1)
          epoly(w) = poly
          w += 1
          i += 1
        }
        ri += 1
      }
      poly += 1
    }
    def walk(x: Geom): Unit = x match {
      case GPoly(rs, _) if rs.nonEmpty => addPoly(rs)
      case GMPoly(ps, _) => ps.foreach(rs => if (rs.nonEmpty) addPoly(rs))
      case GColl(cs, _) => cs.foreach(walk)
      case _ => ()
    }
    walk(g)
    val env = g.envelope
    val y0 = env.ymin
    val width = math.max(env.ymax - env.ymin, java.lang.Double.MIN_NORMAL)
    // Bound total CSR entries to ~4x the edge count: an edge whose
    // y-span is s lands in ~ s*nb/width + 1 buckets, so total entries
    // ≈ nb*sumSpan/width + m; solving for <= 4m gives
    // nb <= 3m*width/sumSpan. Comb/zigzag shapes (every edge spanning
    // most of the height) then get few, fat buckets — degrading to the
    // plain O(m) ray-cast scan instead of the former
    // O(m * min(m, 65536)) time/memory blowup (up to billions of
    // entries for a 65k-edge full-height comb).
    var sumSpan = 0.0
    var se = 0
    while (se < w) { sumSpan += math.abs(ey2(se) - ey1(se)); se += 1 }
    val nbFit =
      if (sumSpan <= 0) m.toDouble else math.min(m.toDouble, 3.0 * m * width / sumSpan)
    val nb = math.max(1, math.min(65536, nbFit.toInt))
    val invW = nb / width
    // CSR bucket layout: count, prefix-sum, fill
    val counts = new Array[Int](nb + 1)
    def bucketOf(y: Double): Int = {
      var b = ((y - y0) * invW).toInt
      if (b < 0) b = 0
      if (b >= nb) b = nb - 1
      b
    }
    var e = 0
    while (e < w) {
      val b1 = bucketOf(math.min(ey1(e), ey2(e)))
      val b2 = bucketOf(math.max(ey1(e), ey2(e)))
      var b = b1
      while (b <= b2) { counts(b + 1) += 1; b += 1 }
      e += 1
    }
    var b = 0
    while (b < nb) { counts(b + 1) += counts(b); b += 1 }
    val bucketStart = counts.clone()
    val fill = counts.clone()
    val bucketEdges = new Array[Int](counts(nb))
    e = 0
    while (e < w) {
      val b1 = bucketOf(math.min(ey1(e), ey2(e)))
      val b2 = bucketOf(math.max(ey1(e), ey2(e)))
      var bb = b1
      while (bb <= b2) { bucketEdges(fill(bb)) = e; fill(bb) += 1; bb += 1 }
      e += 1
    }
    // each bucket by decreasing max x: locate stops at the first edge
    // that lies left of the point, which can neither hold it nor cross
    // its rightward ray
    val negMaxX = new Array[Double](w)
    e = 0
    while (e < w) { negMaxX(e) = -math.max(ex1(e), ex2(e)); e += 1 }
    val tmp = new Array[Int](bucketEdges.length)
    b = 0
    while (b < nb) { RTree.sortIdsByKey(bucketEdges, bucketStart(b), bucketStart(b + 1), negMaxX, tmp); b += 1 }
    new ArealLocator(env, ex1, ey1, ex2, ey2, negMaxX, epoly, poly,
      y0, invW, nb, bucketStart, bucketEdges)
  }
}
