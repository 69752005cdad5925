package graft.core

import scala.collection.mutable

/** Polygonal-coverage operations (GEOS wrapper analogues — reference
  * geos/entrypoints.go:281-317). A polygonal COVERAGE is a set of
  * polygons whose interiors are disjoint and whose shared boundaries
  * carry the SAME vertex chains on both sides (exactly noded). This
  * is the natural storage model for tiled planet-scale data, and it
  * is what makes [[union]] scale: shared edges cancel EXACTLY, so the
  * union is one linear pass over the edges — no overlay arrangement,
  * no snap ladder, no O(n log n) noding. At 10^12 rows this is the
  * difference between a metadata-speed merge of a tile pyramid and a
  * full geometric union.
  */
object Coverage {

  /** Union of a valid polygonal coverage (reference
    * geos/entrypoints.go:281-288). Each interior (shared) boundary
    * edge appears twice in opposite directions once every polygon is
    * normalized to shells-CCW / holes-CW; those cancel, and the
    * surviving edges are walked back into rings. Collinear vertices
    * from former T-joins are kept, like GEOS. Throws
    * IllegalArgumentException when the input is detectably NOT a
    * valid coverage (a directed edge seen twice = overlapping
    * neighbors); other invalidities (mismatched noding) follow the
    * reference's "validity of the input is not checked" contract.
    */
  def union(gc: Geom): Geom = {
    val polys = polygonalElements(gc)
    if (polys.isEmpty) return GPoly(Array.empty[Seqn], CT.XY)
    val remaining = mutable.HashMap.empty[(Double, Double, Double, Double), Int]
    for (p <- polys) {
      val norm = Algos.forceOrientation(p, shellCW = false)
      for (r <- ringsOf(norm)) {
        var i = 0
        while (i < r.n - 1) {
          val key = (r.x(i), r.y(i), r.x(i + 1), r.y(i + 1))
          val rev = (key._3, key._4, key._1, key._2)
          val rc = remaining.getOrElse(rev, 0)
          if (rc > 0) {
            if (rc == 1) remaining.remove(rev) else remaining(rev) = rc - 1
          } else {
            val c = remaining.getOrElse(key, 0)
            if (c > 0)
              throw new IllegalArgumentException(
                s"not a valid coverage: duplicated directed edge $key (overlapping elements)")
            remaining(key) = c + 1
          }
          i += 1
        }
      }
    }
    if (remaining.isEmpty) return GPoly(Array.empty[Seqn], CT.XY)
    // walk surviving directed edges into closed rings (a corner vertex
    // shared by 4 tiles has out-degree 2 — multimap walk + pinch split)
    val outgoing = mutable.HashMap.empty[(Double, Double), mutable.ArrayBuffer[(Double, Double)]]
    var nEdges = 0
    for (((x1, y1, x2, y2), c) <- remaining; _ <- 0 until c) {
      outgoing.getOrElseUpdate((x1, y1), mutable.ArrayBuffer.empty) += ((x2, y2))
      nEdges += 1
    }
    val walks = mutable.ArrayBuffer.empty[Seqn]
    for (start <- outgoing.keys.toSeq) {
      while (outgoing(start).nonEmpty) {
        val pts = mutable.ArrayBuffer.empty[(Double, Double)]
        var v = start
        var guard = 0
        do {
          pts += v
          val outs = outgoing(v)
          if (outs == null || outs.isEmpty)
            throw new IllegalArgumentException(
              "not a valid coverage: boundary walk dead-ends (mismatched noding)")
          v = outs.remove(outs.length - 1)
          guard += 1
        } while (v != start && guard <= nEdges)
        pts += start
        if (pts.length >= 4) walks += seqnOfPts(pts.toSeq)
      }
    }
    SetOps.assembleRings(walks.toSeq.flatMap(SetOps.splitSimpleRings))
  }

  /** Coverage validity (reference geos/entrypoints.go:294-317, three
    * properties: polygonal elements, disjoint interiors, vertex-exact
    * shared boundaries). Returns (isValid, invalidEdges): invalid
    * edges are returned as a MultiLineString of (a) boundary pieces
    * of pairwise interior overlaps and (b) surviving boundary edges
    * that collinearly overlap another surviving edge (mismatched
    * noding — the same physical boundary split differently by its two
    * sides). gapWidth must be 0 (gap detection, a GEOS extension over
    * the three properties, is not implemented).
    */
  def isValid(gc: Geom, gapWidth: Double = 0.0): (Boolean, Geom) = {
    require(gapWidth == 0.0, "gapWidth > 0 (narrow-gap detection) is not supported")
    val bad = mutable.ArrayBuffer.empty[Seqn]
    val polys =
      try polygonalElements(gc)
      catch { case _: IllegalArgumentException => return (false, GMLine(Array.empty, CT.XY)) }
    if (polys.length <= 1 && polys.forall(p => ringsOf(p).isEmpty))
      return (true, GMLine(Array.empty, CT.XY))

    // (2) pairwise interior intersection via envelope candidates
    val envs = polys.map(_.envelope).toArray
    RTree.bulkLoad(envs).selfJoin { (i, j) =>
      val m = Relate.relate(polys(i), polys(j))
      if (m.charAt(0) != 'F') {
        // interiors overlap: surface the overlap's boundary
        val ov = SetOps.intersection(polys(i), polys(j))
        bad ++= ringsOf(ov)
        ov match {
          case GLine(s) => bad += s
          case GMLine(ls, _) => bad ++= ls
          case _ => ()
        }
      }
      true
    }

    // (3) surviving-edge collinear-overlap check (mismatched noding).
    // Overlapping elements also leave same-direction duplicates here,
    // caught as exact-duplicate keys.
    val survivors = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    val counts = mutable.HashMap.empty[(Double, Double, Double, Double), Int]
    var overlapDup = false
    for (p <- polys; r <- ringsOf(Algos.forceOrientation(p, shellCW = false))) {
      var i = 0
      while (i < r.n - 1) {
        val key = (r.x(i), r.y(i), r.x(i + 1), r.y(i + 1))
        val rev = (key._3, key._4, key._1, key._2)
        val rc = counts.getOrElse(rev, 0)
        if (rc > 0) { if (rc == 1) counts.remove(rev) else counts(rev) = rc - 1 }
        else {
          if (counts.getOrElse(key, 0) > 0) overlapDup = true
          counts(key) = counts.getOrElse(key, 0) + 1
        }
        i += 1
      }
    }
    for ((k, c) <- counts; _ <- 0 until c) survivors += k
    val segEnvs = survivors.map { case (x1, y1, x2, y2) =>
      Env(math.min(x1, x2), math.min(y1, y2), math.max(x1, x2), math.max(y1, y2))
    }.toArray
    val flagged = new Array[Boolean](survivors.length)
    RTree.bulkLoad(segEnvs).selfJoin { (i, j) =>
      if (!(flagged(i) && flagged(j)) && collinearOverlap(survivors(i), survivors(j))) {
        flagged(i) = true; flagged(j) = true
      }
      true
    }
    for (i <- survivors.indices; if flagged(i)) {
      val (x1, y1, x2, y2) = survivors(i)
      bad += seqnOfPts(Seq((x1, y1), (x2, y2)))
    }
    val ok = bad.isEmpty && !overlapDup
    (ok, if (bad.isEmpty) GMLine(Array.empty, CT.XY) else GMLine(bad.toArray, CT.XY))
  }

  /** Do two segments overlap collinearly over a positive length? */
  private def collinearOverlap(a: (Double, Double, Double, Double),
                               b: (Double, Double, Double, Double)): Boolean = {
    val (ax1, ay1, ax2, ay2) = a; val (bx1, by1, bx2, by2) = b
    if (Alg.orient(ax1, ay1, ax2, ay2, bx1, by1) != 0) return false
    if (Alg.orient(ax1, ay1, ax2, ay2, bx2, by2) != 0) return false
    // collinear: check 1D interval overlap (positive length) on the
    // dominant axis
    val horiz = math.abs(ax2 - ax1) >= math.abs(ay2 - ay1)
    val (a1, a2, b1, b2) =
      if (horiz) (math.min(ax1, ax2), math.max(ax1, ax2), math.min(bx1, bx2), math.max(bx1, bx2))
      else (math.min(ay1, ay2), math.max(ay1, ay2), math.min(by1, by2), math.max(by1, by2))
    math.min(a2, b2) - math.max(a1, b1) > 0
  }

  // ------------------------------------------------- simplifyVW

  private type Pt = (Double, Double)

  /** Coverage-aware simplification (reference
    * geos/entrypoints.go:294-298): Visvalingam–Whyatt applied to the
    * coverage's EDGE GRAPH rather than to each polygon alone. The
    * boundaries are decomposed into chains between nodes (vertices of
    * degree != 2 or where shared and outer boundary meet); each chain
    * is simplified ONCE and the result substituted into every element
    * that uses it — so adjacent elements keep vertex-exact shared
    * boundaries and the output is again a valid coverage. VW removes
    * interior vertices while their effective triangle area is below
    * tolerance^2 (the JTS distance-tolerance convention); chain
    * endpoints are pinned, and a closed isolated ring keeps at least
    * 3 distinct vertices. With preserveBoundary the OUTER boundary
    * (multiplicity-1 chains) is left untouched and only shared
    * boundaries simplify.
    *
    * Topology guard: simplification can in rare configurations sweep
    * a chain across another component (no segment crossing needed —
    * e.g. a hole ring simplified over an island element). Instead of
    * per-removal incremental checks, the RESULT is verified — every
    * element polygon-valid and the coverage valid — and on violation
    * the tolerance is halved and the pass re-run (up to 7 times,
    * then the input is returned unchanged). Valid in, valid out.
    */
  def simplifyVW(gc: Geom, tolerance: Double,
                 preserveBoundary: Boolean = false): Geom = {
    require(tolerance >= 0, "tolerance must be >= 0")
    if (tolerance == 0) return gc
    var tol = tolerance
    var attempts = 0
    while (attempts < 7) {
      val r = simplifyOnce(gc, tol, preserveBoundary)
      if (resultValid(r)) return r
      tol /= 2
      attempts += 1
    }
    gc
  }

  private def resultValid(gc: Geom): Boolean = {
    val els =
      try polygonalElements(gc)
      catch { case _: IllegalArgumentException => return false }
    els.forall(Validate.isValid) && isValid(gc)._1
  }

  private def simplifyOnce(gc: Geom, tol: Double,
                           preserveBoundary: Boolean): Geom = {
    // ---- segment registry over every ring of every element
    val segMult = mutable.HashMap.empty[(Pt, Pt), Int]
    val adj = mutable.HashMap.empty[Pt, mutable.LinkedHashSet[Pt]]
    def canon(a: Pt, b: Pt): (Pt, Pt) =
      if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) (a, b) else (b, a)
    def eachRing(f: Seqn => Unit): Unit = {
      def walk(x: Geom): Unit = x match {
        case GPoly(rs, _) => rs.foreach(f)
        case GMPoly(ps, _) => ps.foreach(_.foreach(f))
        case GColl(cs, _) => cs.foreach(walk)
        case _ => ()
      }
      walk(gc)
    }
    eachRing { r =>
      var i = 0
      while (i < r.n - 1) {
        val a = (r.x(i), r.y(i)); val b = (r.x(i + 1), r.y(i + 1))
        val key = canon(a, b)
        val m = segMult.getOrElse(key, 0) + 1
        if (m > 2) throw new IllegalArgumentException(
          s"not a valid coverage: segment $key used $m times")
        segMult(key) = m
        adj.getOrElseUpdate(a, mutable.LinkedHashSet.empty) += b
        adj.getOrElseUpdate(b, mutable.LinkedHashSet.empty) += a
        i += 1
      }
    }
    def isNode(v: Pt): Boolean = {
      val ns = adj(v)
      if (ns.size != 2) true
      else {
        val it = ns.iterator
        segMult(canon(v, it.next())) != segMult(canon(v, it.next()))
      }
    }

    // ---- decompose each ring into chain occurrences, dedup chains
    val chains = mutable.LinkedHashMap.empty[Vector[Pt], Int] // canon pts -> mult
    def canonChain(pts: Vector[Pt]): (Vector[Pt], Boolean) = {
      // closed chains (first == last) anchor at a canonical rotation?
      // They appear identically in the single ring that owns them, so
      // identity is fine; open chains canonicalize by direction.
      if (pts.head == pts.last) (pts, true)
      else {
        val rev = pts.reverse
        if (implicitly[Ordering[Pt]].compare(pts.head, pts.last) <= 0) (pts, true)
        else (rev, false)
      }
    }
    /** ring -> list of (canonical chain pts, forward?) */
    def decompose(r: Seqn): Vector[(Vector[Pt], Boolean)] = {
      val verts = Vector.tabulate(r.n - 1)(i => (r.x(i), r.y(i)))
      val nodeIdx = verts.indices.filter(i => isNode(verts(i)))
      if (nodeIdx.isEmpty) {
        val ring = verts :+ verts.head
        val (c, fwd) = canonChain(ring)
        chains.getOrElseUpdate(c, segMult(canon(ring(0), ring(1))))
        return Vector((c, fwd))
      }
      // rotate so the ring starts at a node, then split at nodes
      val s = nodeIdx.head
      val rot = (verts.drop(s) ++ verts.take(s)) :+ verts(s)
      val out = mutable.ArrayBuffer.empty[(Vector[Pt], Boolean)]
      var start = 0
      var i = 1
      while (i < rot.length) {
        if (i == rot.length - 1 || isNode(rot(i))) {
          val piece = rot.slice(start, i + 1).toVector
          val (c, fwd) = canonChain(piece)
          chains.getOrElseUpdate(c, segMult(canon(piece(0), piece(1))))
          out += ((c, fwd))
          start = i
        }
        i += 1
      }
      out.toVector
    }

    // ---- populate the chain registry, then simplify each chain once
    eachRing { r => decompose(r); () }
    val areaTol = tol * tol
    val simplified = chains.map { case (pts, mult) =>
      val keep = preserveBoundary && mult == 1
      pts -> (if (keep) pts else vwChain(pts, areaTol))
    }

    // ---- rebuild elements with simplified chains substituted
    def rebuildRing(r: Seqn): Seqn = {
      val occ = decompose(r)
      val out = mutable.ArrayBuffer.empty[Pt]
      for ((c, fwd) <- occ) {
        val sp0 = simplified(c)
        val sp = if (fwd) sp0 else sp0.reverse
        val from = if (out.isEmpty) 0 else 1 // junction point already emitted
        out ++= sp.drop(from)
      }
      val arr = new Array[Double](out.length * 2)
      var i = 0
      for ((x, y) <- out) { arr(2 * i) = x; arr(2 * i + 1) = y; i += 1 }
      new Seqn(arr, CT.XY)
    }
    def rebuild(x: Geom): Geom = x match {
      case GPoly(rs, ct) => GPoly(rs.map(rebuildRing), ct)
      case GMPoly(ps, ct) => GMPoly(ps.map(_.map(rebuildRing)), ct)
      case GColl(cs, ct) => GColl(cs.map(rebuild), ct)
      case other => other
    }
    rebuild(gc)
  }

  /** Visvalingam–Whyatt on one chain: remove the interior vertex with
    * the smallest effective triangle area while it is below areaTol.
    * Endpoints are pinned; a closed chain (first == last) keeps at
    * least 3 distinct vertices.
    */
  private def vwChain(pts: Vector[Pt], areaTol: Double): Vector[Pt] = {
    val n = pts.length
    val closed = pts.head == pts.last
    val minInterior = if (closed) 2 else 0 // closed: anchor + 2 = 3 distinct
    if (n - 2 <= minInterior) return pts
    val prev = Array.tabulate(n)(_ - 1)
    val next = Array.tabulate(n)(_ + 1)
    val alive = Array.fill(n)(true)
    var interior = n - 2
    @inline def area(i: Int): Double = {
      val (ax, ay) = pts(prev(i)); val (bx, by) = pts(i); val (cx, cy) = pts(next(i))
      math.abs((bx - ax) * (cy - ay) - (by - ay) * (cx - ax)) / 2.0
    }
    val stamp = new Array[Int](n)
    val pq = mutable.PriorityQueue.empty[(Double, Int, Int)](
      Ordering.by[(Double, Int, Int), Double](_._1).reverse)
    for (i <- 1 until n - 1) pq.enqueue((area(i), i, 0))
    while (pq.nonEmpty && interior > minInterior) {
      val (a, i, st) = pq.dequeue()
      if (alive(i) && st == stamp(i)) {
        if (a >= areaTol) return collect(pts, alive)
        alive(i) = false
        interior -= 1
        val p = prev(i); val nx = next(i)
        next(p) = nx; prev(nx) = p
        if (p > 0 && p < n - 1) { stamp(p) += 1; pq.enqueue((area(p), p, stamp(p))) }
        if (nx > 0 && nx < n - 1) { stamp(nx) += 1; pq.enqueue((area(nx), nx, stamp(nx))) }
      }
    }
    collect(pts, alive)
  }

  private def collect(pts: Vector[Pt], alive: Array[Boolean]): Vector[Pt] =
    pts.indices.collect { case i if alive(i) => pts(i) }.toVector

  /** flatten a GC / multipolygon into polygon elements; reject
    * non-polygonal non-empty elements (reference property 1)
    */
  private def polygonalElements(g: Geom): IndexedSeq[Geom] = {
    val out = mutable.ArrayBuffer.empty[Geom]
    def walk(x: Geom): Unit = x match {
      case p: GPoly => if (!p.isEmpty) out += p
      case GMPoly(ps, ct) => ps.foreach(rs => if (rs.nonEmpty) out += GPoly(rs, ct))
      case GColl(cs, _) => cs.foreach(walk)
      case e if e.isEmpty => ()
      case other =>
        throw new IllegalArgumentException(
          s"coverage elements must be polygonal, got ${other.typeName}")
    }
    walk(g)
    out.toIndexedSeq
  }

  private def ringsOf(g: Geom): Seq[Seqn] = g match {
    case GPoly(rs, _) => rs.toSeq
    case GMPoly(ps, _) => ps.toSeq.flatten
    case _ => Seq.empty
  }

  private def seqnOfPts(pts: Seq[(Double, Double)]): Seqn = {
    val arr = new Array[Double](pts.length * 2)
    var i = 0
    for ((x, y) <- pts) { arr(2 * i) = x; arr(2 * i + 1) = y; i += 1 }
    new Seqn(arr, CT.XY)
  }
}
