package graft.core

import scala.collection.mutable

/** Validation rules (reference: geom/type_line_string.go:31-57,
  * geom/type_polygon.go:42-166, geom/type_multi_polygon.go:49-176,
  * geom/errors.go:84-94, geom/graph.go:29-60). Returns None when valid,
  * otherwise a reason string in the spirit of the reference's violation
  * constants.
  */
object Validate {

  def reason(g: Geom): Option[String] = {
    val bad = checkFinite(g)
    if (bad.isDefined) return bad
    g match {
      case _: GPoint => None
      case GLine(s) => lineReason(s)
      case GPoly(rs, ct) => if (rs.isEmpty) None else polyReason(rs)
      case GMPoint(_, _) => None
      case GMLine(ls, _) => ls.flatMap(s => lineReason(s)).headOption
      case GMPoly(ps, ct) => multiPolyReason(ps, ct)
      case GColl(gs, _) => gs.flatMap(reason).headOption
    }
  }

  def isValid(g: Geom): Boolean = reason(g).isEmpty

  private def checkFinite(g: Geom): Option[String] = {
    var bad = false
    Geom.transformSeq(g, s => {
      var i = 0
      while (i < s.floats.length && !bad) {
        val v = s.floats(i)
        if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) bad = true
        i += 1
      }
      s
    })
    if (bad) Some("coordinates must not contain NaN or Inf") else None
  }

  /** LineString must have at least 2 distinct points
    * (reference: geom/type_line_string.go:31-57).
    */
  private def lineReason(s: Seqn): Option[String] = {
    if (s.isEmpty) return None
    var distinct = false
    var i = 1
    while (i < s.n && !distinct) {
      if (s.x(i) != s.x(0) || s.y(i) != s.y(0)) distinct = true
      i += 1
    }
    if (!distinct) Some("non-empty LineString must contain at least 2 distinct points")
    else None
  }

  /** Drop consecutive duplicate vertices (repeated points are valid in
    * rings per OGC/JTS; they must not trip the simplicity scan).
    */
  private[core] def dedupRing(r: Seqn): Seqn = {
    if (r.n == 0) return r
    val buf = new mutable.ArrayBuilder.ofDouble
    var lastX = Double.NaN; var lastY = Double.NaN
    var i = 0
    while (i < r.n) {
      val x = r.x(i); val y = r.y(i)
      if (i == 0 || x != lastX || y != lastY) { buf += x; buf += y }
      lastX = x; lastY = y
      i += 1
    }
    new Seqn(buf.result(), CT.XY)
  }

  private def ringReason(r0: Seqn): Option[String] = {
    lineReason(r0).foreach(rr => return Some(rr))
    if (r0.x(0) != r0.x(r0.n - 1) || r0.y(0) != r0.y(r0.n - 1))
      return Some("ring must be closed")
    val r = dedupRing(r0)
    if (r.n < 4) return Some("ring must have at least 4 points")
    if (!ringIsSimple(r)) return Some("ring must not self-intersect")
    None
  }

  /** Ring simplicity: only adjacent segments may touch, and only at the
    * shared endpoint; first/last segments close the ring
    * (reference: geom/type_polygon.go:152-166 validateRing).
    */
  private def ringIsSimple(r: Seqn): Boolean = {
    val n = r.n - 1 // number of segments
    def checkPair(i: Int, j: Int): Boolean = {
      val adjacent = j == i + 1 || (i == 0 && j == n - 1)
      val hit = Alg.segmentsIntersect(
        r.x(i), r.y(i), r.x(i + 1), r.y(i + 1),
        r.x(j), r.y(j), r.x(j + 1), r.y(j + 1))
      if (hit) {
        if (!adjacent) return false
        // adjacent: a shared point is fine; any overlap (collinear
        // spike) is not
        val collinear =
          Alg.orient(r.x(i), r.y(i), r.x(i + 1), r.y(i + 1), r.x(j), r.y(j)) == 0 &&
            Alg.orient(r.x(i), r.y(i), r.x(i + 1), r.y(i + 1), r.x(j + 1), r.y(j + 1)) == 0
        if (collinear) {
          // spikes fold back: the non-shared endpoint of one segment
          // must not lie on the other segment
          val backJ = Alg.onSegment(r.x(i), r.y(i), r.x(i + 1), r.y(i + 1),
            r.x(if (j == i + 1) j + 1 else j), r.y(if (j == i + 1) j + 1 else j))
          val backI = Alg.onSegment(r.x(j), r.y(j), r.x(j + 1), r.y(j + 1),
            r.x(if (j == i + 1) i else i + 1), r.y(if (j == i + 1) i else i + 1))
          if (backJ || backI) return false
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
      // R-tree candidate sweep: only envelope-overlapping pairs can
      // intersect (the all-pairs loop was O(n^2) per ring)
      val envs = new Array[Env](n)
      var i = 0
      while (i < n) {
        envs(i) = Env(math.min(r.x(i), r.x(i + 1)), math.min(r.y(i), r.y(i + 1)),
          math.max(r.x(i), r.x(i + 1)), math.max(r.y(i), r.y(i + 1)))
        i += 1
      }
      RTree.bulkLoad(envs).selfJoin(checkPair)
    }
  }

  /** Polygon rules (reference: geom/type_polygon.go:42-150): rings
    * valid/closed/simple; ring pairs intersect in at most one point;
    * holes inside shell; interior connected (ring-touch graph acyclic,
    * geom/graph.go:29-60).
    */
  private def polyReason(rings: Array[Seqn]): Option[String] = {
    for (r <- rings) ringReason(r).foreach(x => return Some(x))
    val deduped = rings.map(dedupRing)
    val shell = deduped(0)
    val shellPoly = GPoly(Array(shell), CT.XY)
    // ring-pair constraints + bipartite touch graph: nodes are rings AND
    // touch points; a cycle disconnects the interior
    // (reference: geom/type_polygon.go:102-148 + graph.go)
    val touchPoints = mutable.LinkedHashMap.empty[(Double, Double), Int]
    val touchEdges = mutable.LinkedHashSet.empty[(Int, Int)] // (ringId, pointNodeId)
    // only envelope-overlapping ring pairs can touch — an R-tree over
    // ring envelopes replaces the all-pairs loop (quadratic for
    // many-hole polygons, e.g. admin boundaries with thousands of
    // enclave holes)
    val ringEnvs = deduped.map(_.envelope)
    val ringTree = RTree.bulkLoad(ringEnvs)
    val crossErr = !ringTree.selfJoin { (i, j) =>
      ringPairTouch(deduped(i), deduped(j)) match {
        case RingPair.Crosses => false
        case RingPair.TouchAt(pt) =>
          val pid = touchPoints.getOrElseUpdate(pt, deduped.length + touchPoints.size)
          touchEdges += ((i, pid))
          touchEdges += ((j, pid))
          true
        case RingPair.NoTouch => true
      }
    }
    if (crossErr) return Some("polygon rings must not intersect at more than one point")
    // holes inside shell
    var i = 1
    while (i < deduped.length) {
      val h = deduped(i)
      var inside = false
      var k = 0
      while (k < h.n - 1 && !inside) {
        val loc = Alg.pointInPolygon(shellPoly, h.x(k), h.y(k))
        if (loc == 1) inside = true
        else if (loc == -1) return Some("polygon interior ring must be inside exterior ring")
        k += 1
      }
      // all points on shell boundary would also be a multi-touch, caught above
      i += 1
    }
    // holes must not nest inside each other (reference:
    // type_polygon.go:88-98 violateRingNested, extended to scan past
    // shared boundary points). Candidate containers of a hole are the
    // rings whose envelope covers the hole's envelope, so only
    // envelope-overlapping hole pairs are tested, both ways.
    def nestedIn(h: Int, r: Int): Boolean = ringEnvs(r).contains(ringEnvs(h)) && {
      val hr = deduped(h)
      var k = 0
      var loc = 0
      while (k < hr.n - 1 && loc == 0) {
        loc = Alg.pointInRing(deduped(r), hr.x(k), hr.y(k)) // 0: on boundary, try next vertex
        k += 1
      }
      loc == 1
    }
    val nestedErr = !ringTree.selfJoin((i, j) => i == 0 || !(nestedIn(i, j) || nestedIn(j, i)))
    if (nestedErr) return Some("polygon interior rings must not be nested")
    // connectivity: bipartite (ring, touch point) graph must be acyclic
    if (hasCycle(deduped.length + touchPoints.size, touchEdges.toSeq))
      Some("polygon interior must be connected")
    else None
  }

  private object RingPair extends Enumeration {
    sealed trait Result
    case object NoTouch extends Result
    case object Crosses extends Result
    final case class TouchAt(pt: (Double, Double)) extends Result
  }

  /** Classify the intersection of two rings: no contact, a single touch
    * point, or anything larger (crossing / multi-touch / overlap).
    */
  private def ringPairTouch(a: Seqn, b: Seqn): RingPair.Result = {
    if (!a.envelope.intersects(b.envelope)) return RingPair.NoTouch
    var touch: Option[(Double, Double)] = None
    var i = 0
    while (i < a.n - 1) {
      var j = 0
      while (j < b.n - 1) {
        if (Alg.segmentsIntersect(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1),
          b.x(j), b.y(j), b.x(j + 1), b.y(j + 1))) {
          if (Alg.segmentsCross(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1),
            b.x(j), b.y(j), b.x(j + 1), b.y(j + 1))) return RingPair.Crosses
          // collinear overlap of positive length?
          val col =
            Alg.orient(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1), b.x(j), b.y(j)) == 0 &&
              Alg.orient(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1), b.x(j + 1), b.y(j + 1)) == 0
          if (col) {
            // overlap length > 0 iff the segment intervals overlap in more
            // than a point
            val pts = mutable.ArrayBuffer.empty[(Double, Double)]
            if (Alg.onSegment(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1), b.x(j), b.y(j)))
              pts += ((b.x(j), b.y(j)))
            if (Alg.onSegment(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1), b.x(j + 1), b.y(j + 1)))
              pts += ((b.x(j + 1), b.y(j + 1)))
            if (Alg.onSegment(b.x(j), b.y(j), b.x(j + 1), b.y(j + 1), a.x(i), a.y(i)))
              pts += ((a.x(i), a.y(i)))
            if (Alg.onSegment(b.x(j), b.y(j), b.x(j + 1), b.y(j + 1), a.x(i + 1), a.y(i + 1)))
              pts += ((a.x(i + 1), a.y(i + 1)))
            if (pts.distinct.length > 1) return RingPair.Crosses
            pts.headOption.foreach { p =>
              touch match {
                case Some(t) if t != p => return RingPair.Crosses
                case _ => touch = Some(p)
              }
            }
          } else {
            // endpoint touch: find the touch point
            val cand = mutable.ArrayBuffer.empty[(Double, Double)]
            if (Alg.onSegment(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1), b.x(j), b.y(j)))
              cand += ((b.x(j), b.y(j)))
            if (Alg.onSegment(a.x(i), a.y(i), a.x(i + 1), a.y(i + 1), b.x(j + 1), b.y(j + 1)))
              cand += ((b.x(j + 1), b.y(j + 1)))
            if (Alg.onSegment(b.x(j), b.y(j), b.x(j + 1), b.y(j + 1), a.x(i), a.y(i)))
              cand += ((a.x(i), a.y(i)))
            if (Alg.onSegment(b.x(j), b.y(j), b.x(j + 1), b.y(j + 1), a.x(i + 1), a.y(i + 1)))
              cand += ((a.x(i + 1), a.y(i + 1)))
            for (p <- cand.distinct) {
              touch match {
                case Some(t) if t != p => return RingPair.Crosses
                case _ => touch = Some(p)
              }
            }
          }
        }
        j += 1
      }
      i += 1
    }
    touch match {
      case Some(p) => RingPair.TouchAt(p)
      case None => RingPair.NoTouch
    }
  }

  private def hasCycle(n: Int, edges: Seq[(Int, Int)]): Boolean = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((a, b) <- edges) {
      val ra = find(a); val rb = find(b)
      if (ra == rb) return true
      parent(ra) = rb
    }
    false
  }

  /** MultiPolygon: children valid; child interiors disjoint; boundaries
    * may only touch at points (reference: geom/type_multi_polygon.go:49-176).
    */
  private def multiPolyReason(ps: Array[Array[Seqn]], ct: Int): Option[String] = {
    for (rs <- ps if rs.nonEmpty) polyReason(rs).foreach(r => return Some(r))
    val polys = ps.filter(_.nonEmpty).map(rs => GPoly(rs, ct))
    // R-tree over child envelopes: only overlapping pairs can violate
    // the disjoint-interiors constraint (all-pairs is quadratic for
    // many-part multipolygons, e.g. archipelago coverages)
    val envs = polys.map(_.envelope)
    var err: Option[String] = None
    RTree.bulkLoad(envs).selfJoin { (i, j) =>
      val m = try Relate.relate(polys(i), polys(j)) catch { case _: Throwable => null }
      if (m != null) {
        // interiors must be disjoint and boundaries must not share 1-D parts
        if (m.charAt(Relate.II) != 'F')
          err = Some("multipolygon child interiors must not intersect")
        else if (m.charAt(Relate.BB) == '1')
          err = Some("multipolygon children must not share boundary segments")
      }
      err.isEmpty
    }
    err
  }
}
