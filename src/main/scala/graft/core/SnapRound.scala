package graft.core

import scala.collection.mutable

/** Fixed-precision (snap-rounded) overlay.
  *
  * Semantics follow JTS/OverlayNG's fixed `PrecisionModel` overlays as
  * exercised by the reference's xmltest corpus (`Test*Prec.xml`,
  * `TestNGOverlay*Prec.xml`; reference engine:
  * internal/jtsport/jts/operation_overlayng_overlay_ng.go): all input
  * and output coordinates lie on the `10^-dp` grid, input parts that
  * collapse to zero area under rounding participate as *lines* in the
  * result according to per-op rules, and output rings that round to
  * self-touching or zero-area shapes are re-normalised into valid
  * polygons (or demoted to lines for intersection).
  *
  * Implementation is NOT a port of OverlayNG's labelled-edge graph.
  * Instead it composes this engine's existing full-precision
  * arrangement overlay ([[SetOps]]) with an explicit
  * collapse-extraction step:
  *
  *  1. snap both inputs to the grid;
  *  2. CLEAN each snapped areal input: self-node every ring (rounded
  *     hot-pixel nodes), decompose the closed walk at repeated
  *     vertices into simple loops, keep the even-odd XOR of the
  *     positive-area loops as the valid areal part, and collect the
  *     zero-area loops' edges as "collapsed" line segments;
  *  3. run the ordinary valid-input overlay on the cleaned areals and
  *     snap its result, re-cleaning it the same way (rounding an exact
  *     result can itself produce self-touching or zero-area rings);
  *  4. add collapsed-edge line output per op:
  *     - intersection: collapsed edges of one input covered by the
  *       other input's areal part or collapsed edges, plus zero-area
  *       result loops, minus anything covered by the areal result;
  *     - union: collapsed edges of either input (and zero-area result
  *       loops) not covered by the areal result;
  *     - difference: A's collapsed edges outside closure(B) (both B's
  *       areal part and B's collapsed edges), minus the areal result;
  *     - symmetric difference: each side's difference-rule lines (an
  *       edge collapsed in BOTH inputs cancels).
  *
  * This path is used by fixed-precision entry points only; the
  * full-precision hot path never pays for it. Cost is dominated by the
  * O(ring²) self-noding, acceptable because fixed-precision overlay is
  * a per-geometry scalar operation, not a join kernel.
  */
object SnapRound {

  final val OpInt = 0; final val OpUnion = 1; final val OpDiff = 2; final val OpSym = 3

  def intersection(a: Geom, b: Geom, dp: Int): Geom = overlay(a, b, OpInt, dp)
  def union(a: Geom, b: Geom, dp: Int): Geom = overlay(a, b, OpUnion, dp)
  def difference(a: Geom, b: Geom, dp: Int): Geom = overlay(a, b, OpDiff, dp)
  def symDifference(a: Geom, b: Geom, dp: Int): Geom = overlay(a, b, OpSym, dp)

  private type Pt = (Double, Double)

  def overlay(a0: Geom, b0: Geom, op: Int, dp: Int): Geom = {
    val da = a0.dimension; val db = b0.dimension
    // puntal vs higher-dim: JTS rounds only the points, testing them
    // against the UNROUNDED other geometry (the corpus' "line is not
    // rounded" cases); result coordinates are rounded
    if (da == 0 && db > 0)
      return finish(doOp(op, Geom.snapToGrid(a0, dp), b0), op, dp)
    if (db == 0 && da > 0)
      return finish(doOp(op, a0, Geom.snapToGrid(b0, dp)), op, dp)
    if (da == 1 && db == 1)
      return lineLineSR(a0, b0, op, dp)
    if ((da == 1 && db == 2) || (da == 2 && db == 1))
      return lineArealSR(a0, b0, op, dp)

    // areal/areal: SR-round both ring sets JOINTLY (hot pixels from
    // both inputs' vertices and their precise pairwise crossings), so
    // a sliver of one input crossing the other is noded at the rounded
    // crossing before it collapses
    val scAA = math.pow(10, dp)
    val hotAA = hotPixels(ringWalks(a0) ++ ringWalks(b0), scAA)
    val a1 = Geom.snapToGrid(srRoundGeom(a0, hotAA, scAA), dp)
    val b1 = Geom.snapToGrid(srRoundGeom(b0, hotAA, scAA), dp)
    if (a1.dimension != 2 || b1.dimension != 2)
      return Geom.snapToGrid(doOp(op, a1, b1), dp)

    val (ac, acoll) = cleanAreal(a1, dp)
    val (bc, bcoll) = cleanAreal(b1, dp)

    val rawR =
      if (ac.isEmpty || bc.isEmpty) op match {
        case OpInt => Geom.emptyGC
        case OpUnion | OpSym => if (ac.isEmpty) bc else ac
        case OpDiff => if (ac.isEmpty) Geom.emptyGC else ac
      }
      else doOp(op, ac, bc)
    val rSnap = Geom.snapToGrid(rawR, dp)
    val (rArealRaw, rLines1raw, rPts1raw) = partitionByDim(rSnap)
    val (rLines1, rPtsC) = normLines(rLines1raw, keepPts = op == OpInt)
    val rPts1 = rPts1raw ++ rPtsC
    val (rAreal, rcoll) = cleanAreal(rArealRaw, dp)

    val aL = segsGeom(acoll)
    val bL = segsGeom(bcoll)
    val rL = segsGeom(rcoll)

    var lines: Geom = Geom.emptyGC
    // collapsed-INPUT lines the areal result's coverage may NOT absorb:
    // a collapsed gap between two faces of the other input is output as
    // a line even when the rounded areal result covers it (JTS keeps
    // the collapse artifact; the corpus' "shells close together" case)
    var linesKeep: Geom = Geom.emptyGC
    var points: Geom = segsPointless(rPts1)
    op match {
      case OpInt =>
        val keep = mutable.ArrayBuffer.empty[Geom]
        if (!aL.isEmpty && !bc.isEmpty) keep += SetOps.intersection(aL, bc)
        if (!bL.isEmpty && !ac.isEmpty) keep += SetOps.intersection(bL, ac)
        if (!aL.isEmpty && !bL.isEmpty) keep += SetOps.intersection(aL, bL)
        linesKeep = foldLineUnion(keep.toSeq)
        lines = foldLineUnion(Seq(rL) ++ rLines1)
      case OpUnion =>
        lines = foldLineUnion(Seq(aL, bL, rL))
      case OpDiff =>
        var l: Geom = aL
        if (!l.isEmpty && !bc.isEmpty) l = SetOps.difference(l, bc)
        if (!l.isEmpty && !bL.isEmpty) l = SetOps.difference(l, bL)
        lines = l
      case OpSym =>
        // symmetric difference inherits each side's difference rule: a
        // collapsed edge survives only outside the OTHER input's
        // closure (so an edge collapsed in both inputs cancels)
        var la: Geom = aL
        if (!la.isEmpty && !bc.isEmpty) la = SetOps.difference(la, bc)
        if (!la.isEmpty && !bL.isEmpty) la = SetOps.difference(la, bL)
        var lb: Geom = bL
        if (!lb.isEmpty && !ac.isEmpty) lb = SetOps.difference(lb, ac)
        if (!lb.isEmpty && !aL.isEmpty) lb = SetOps.difference(lb, aL)
        lines = foldLineUnion(Seq(la, lb))
    }
    // result-degenerate lower-dim output never duplicates the areal
    // result's coverage (collapsed-input lines in linesKeep may)
    if (!lines.isEmpty && !rAreal.isEmpty)
      lines = SetOps.difference(lines, rAreal)
    if (!linesKeep.isEmpty) {
      // a collapsed chord survives inside the rounded result area only
      // when it spans boundary-to-boundary (a collapsed gap between two
      // distinct result faces); a dead-end spike into the interior, or
      // a chord absorbed into the boundary itself, is dropped
      val kept =
        if (rAreal.isEmpty) linesKeep
        else {
          val bnd = Geom.boundary(rAreal)
          val ringLines: Seq[GLine] = {
            val rs = mutable.ArrayBuffer.empty[GLine]
            def walk(x: Geom): Unit = x match {
              case GPoly(rr, _) => rr.foreach(r => rs += GLine(r))
              case GMPoly(ps, _) => ps.foreach(_.foreach(r => rs += GLine(r)))
              case GColl(cs, _) => cs.foreach(walk)
              case _ => ()
            }
            walk(rAreal)
            rs.toSeq
          }
          // both endpoints must land on the SAME result ring: the chord
          // is then a collapsed gap between two faces that merged into
          // one ring; a chord between different rings (shell to hole)
          // or dead-ending in the interior is dropped, as is one
          // absorbed into the boundary itself
          def sameRing(x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
            ringLines.exists { rl =>
              !SetOps.intersection(GPoint(Array(x1, y1), CT.XY), rl).isEmpty &&
                !SetOps.intersection(GPoint(Array(x2, y2), CT.XY), rl).isEmpty
            }
          val (lk, _) = normLines(partitionByDim(linesKeep)._2, keepPts = false)
          val survivors = lk.filter {
            case GLine(s) =>
              val n = s.n
              SetOps.intersection(GLine(s), rAreal).isEmpty ||
                (sameRing(s.x(0), s.y(0), s.x(n - 1), s.y(n - 1)) &&
                  !SetOps.difference(GLine(s), bnd).isEmpty)
            case _ => false
          }
          foldLineUnion(survivors)
        }
      if (!kept.isEmpty)
        lines = if (lines.isEmpty) kept else SetOps.union(lines, kept)
    }
    val (_, lParts0, lPts) = partitionByDim(lines)
    // rounding can shrink a line piece to zero length: for
    // intersection it demotes to a point (dimensional collapse, e.g.
    // two slivers crossing in a sub-pixel segment); otherwise drop it
    val (lParts, collPts) = normLines(lParts0, keepPts = op == OpInt)
    lines = foldLineUnion(lParts)
    points = mergePoints(points, segsPointless(lPts ++ collPts))
    if (!points.isEmpty && !lines.isEmpty) points = SetOps.difference(points, lines)
    if (!points.isEmpty && !rAreal.isEmpty) points = SetOps.difference(points, rAreal)

    assemble(rAreal, lines, points, op)
  }

  // ------------------------------------------------ line-line SR path

  /** Fixed-precision line overlay via hot-pixel snap-rounding: every
    * rounded vertex and rounded crossing is a "hot pixel" (unit grid
    * square); any segment whose precise run passes through a hot pixel
    * is snapped through that pixel's centre, in order along the
    * segment. This is what makes two near-collinear precise lines
    * coincide after rounding (JTS `SnapRoundingNoder` behavior; the
    * corpus' "partial overlap" LL cases are unreachable by rounding
    * each input independently).
    */
  private def lineLineSR(a0: Geom, b0: Geom, op: Int, dp: Int): Geom = {
    val sc = math.pow(10, dp)
    val aw = lineWalks(a0)
    val bw = lineWalks(b0)
    // hot pixels: rounded vertices of both inputs + rounded pairwise
    // segment crossings
    val hot = mutable.LinkedHashSet.empty[Pt]
    (aw ++ bw).foreach(_.foreach(p =>
      hot += ((Geom.gridRound(p._1, sc), Geom.gridRound(p._2, sc)))))
    val segs = (aw ++ bw).flatMap(w => w.iterator.sliding(2).withPartial(false)
      .map(s => (s.head, s.last)).toSeq).toIndexedSeq
    forEachCrossing(segs) { q =>
      hot += ((Geom.gridRound(q._1, sc), Geom.gridRound(q._2, sc)))
    }
    val hotIdx = new HotIndex(hot.toArray, sc)
    val aR = aw.map(w => srRoundWalk(w, hotIdx, sc)).filter(_.length >= 2)
    val bR = bw.map(w => srRoundWalk(w, hotIdx, sc)).filter(_.length >= 2)
    if (aR.isEmpty || bR.isEmpty) {
      val ga = walksGeom(aR); val gb = walksGeom(bR)
      return op match {
        case OpInt => Geom.emptyGC
        case OpUnion | OpSym => if (aR.isEmpty) gb else if (bR.isEmpty) ga else ga
        case OpDiff => ga
      }
    }
    val r = doOp(op, walksGeom(aR), walksGeom(bR))
    val rSnap = Geom.snapToGrid(r, dp)
    val (_, lParts0, pParts) = partitionByDim(rSnap)
    val (lParts, collPts) = normLines(lParts0, keepPts = op == OpInt)
    val lines = foldLineUnion(lParts)
    var points = segsPointless(pParts ++ collPts)
    if (!points.isEmpty && !lines.isEmpty) points = SetOps.difference(points, lines)
    assemble(GPoly(Array.empty, CT.XY), lines, points, op)
  }

  /** Fixed-precision line/areal overlay: SR-round the line and the
    * areal rings JOINTLY (hot pixels from every vertex and every
    * precise crossing of the combined linework — a node of line-on-
    * boundary must detour the rounded ring through the rounded node,
    * which independent rounding cannot produce), clean the rounded
    * areal into its valid part plus collapsed edges, and run the
    * ordinary mixed-dimension overlay with the collapsed edges
    * participating as lines of the areal input (GC semantics).
    */
  private def lineArealSR(a0: Geom, b0: Geom, op: Int, dp: Int): Geom = {
    val sc = math.pow(10, dp)
    val lineIsA = a0.dimension == 1
    val lineG0 = if (lineIsA) a0 else b0
    val areal0 = if (lineIsA) b0 else a0

    val walks = lineWalks(lineG0) ++ ringWalks(areal0)
    val hotArr = hotPixels(walks, sc)

    val lineR = {
      val (lp, _) = normLines(partitionByDim(srRoundGeom(lineG0, hotArr, sc))._2,
        keepPts = false)
      foldLineUnion(lp)
    }
    val (ac, acoll) = cleanAreal(srRoundGeom(areal0, hotArr, sc), dp)
    val aColl = segsGeom(acoll)
    val arealInput: Geom =
      if (aColl.isEmpty) ac
      else if (ac.isEmpty) aColl
      else GColl(Array(ac, aColl), CT.XY)

    val lhs = if (lineIsA) lineR else arealInput
    val rhs = if (lineIsA) arealInput else lineR
    finish(doOp(op, lhs, rhs), op, dp)
  }

  /** Shared result pipeline: snap, re-clean the areal part, demote or
    * drop degenerate line pieces, de-duplicate coverage, assemble.
    */
  private def finish(raw: Geom, op: Int, dp: Int): Geom = {
    val rSnap = Geom.snapToGrid(raw, dp)
    val (rArealRaw, lRaw, pRaw) = partitionByDim(rSnap)
    val (rAreal, rcoll) = cleanAreal(rArealRaw, dp)
    val lSrc = if (op == OpInt || op == OpUnion) lRaw :+ segsGeom(rcoll) else lRaw
    val (lp, cp) = normLines(lSrc, keepPts = op == OpInt)
    var lines = foldLineUnion(lp)
    if (!lines.isEmpty && !rAreal.isEmpty) lines = SetOps.difference(lines, rAreal)
    var points = segsPointless(pRaw ++ cp)
    if (!points.isEmpty && !lines.isEmpty) points = SetOps.difference(points, lines)
    if (!points.isEmpty && !rAreal.isEmpty) points = SetOps.difference(points, rAreal)
    assemble(rAreal, lines, points, op)
  }

  /** Hot pixel set: rounded vertices plus rounded pairwise crossings of
    * the combined precise linework. Crossings come from an R-tree
    * candidate sweep, not all pairs, so cost is O(S log S + k).
    */
  private def hotPixels(walks: Seq[IndexedSeq[Pt]], sc: Double): Array[Pt] = {
    val hot = mutable.LinkedHashSet.empty[Pt]
    walks.foreach(_.foreach(p =>
      hot += ((Geom.gridRound(p._1, sc), Geom.gridRound(p._2, sc)))))
    val segs = walks.flatMap(w => w.iterator.sliding(2).withPartial(false)
      .map(s => (s.head, s.last)).toSeq).toIndexedSeq
    forEachCrossing(segs) { q =>
      hot += ((Geom.gridRound(q._1, sc), Geom.gridRound(q._2, sc)))
    }
    hot.toArray
  }

  /** Visit the proper/touching crossing point of every intersecting
    * segment pair, using an R-tree over segment envelopes to prune.
    */
  private def forEachCrossing(segs: IndexedSeq[(Pt, Pt)])(f: Pt => Unit): Unit = {
    val n = segs.length
    if (n < 2) return
    val envs = new Array[Env](n)
    var i = 0
    while (i < n) {
      val (p, q) = segs(i)
      envs(i) = Env(math.min(p._1, q._1), math.min(p._2, q._2),
        math.max(p._1, q._1), math.max(p._2, q._2))
      i += 1
    }
    RTree.bulkLoad(envs).selfJoin { (i, j) =>
      crossingPt(segs(i)._1, segs(i)._2, segs(j)._1, segs(j)._2).foreach(f)
      true
    }
  }

  /** SR-round every coordinate sequence of g through the hot pixels,
    * preserving structure (rings stay closed because their closing
    * point rounds identically).
    */
  private def srRoundGeom(g: Geom, hot: Array[Pt], sc: Double): Geom = {
    val hotIdx = new HotIndex(hot, sc)
    Geom.transformSeq(g, s => {
      val w = mutable.ArrayBuffer.empty[Pt]
      var i = 0
      while (i < s.n) {
        val p = (s.x(i), s.y(i))
        if (w.isEmpty || w.last != p) w += p
        i += 1
      }
      if (w.length < 2) {
        val arr = new Array[Double](w.length * 2)
        if (w.nonEmpty) { arr(0) = Geom.gridRound(w(0)._1, sc); arr(1) = Geom.gridRound(w(0)._2, sc) }
        new Seqn(arr, CT.XY)
      } else {
        val r = srRoundWalk(w.toIndexedSeq, hotIdx, sc)
        val arr = new Array[Double](r.length * 2)
        var k = 0
        while (k < r.length) { arr(2 * k) = r(k)._1; arr(2 * k + 1) = r(k)._2; k += 1 }
        new Seqn(arr, CT.XY)
      }
    })
  }

  private def ringWalks(g: Geom): Seq[IndexedSeq[Pt]] = {
    val out = mutable.ArrayBuffer.empty[IndexedSeq[Pt]]
    def one(s: Seqn): Unit = {
      val pts = mutable.ArrayBuffer.empty[Pt]
      var i = 0
      while (i < s.n) {
        val p = (s.x(i), s.y(i))
        if (pts.isEmpty || pts.last != p) pts += p
        i += 1
      }
      if (pts.length >= 2) {
        if (pts.head != pts.last) pts += pts.head
        out += pts.toIndexedSeq
      }
    }
    def walk(x: Geom): Unit = x match {
      case GPoly(rs, _) => rs.foreach(one)
      case GMPoly(ps, _) => ps.foreach(_.foreach(one))
      case GColl(cs, _) => cs.foreach(walk)
      case _ => ()
    }
    walk(g)
    out.toSeq
  }

  /** Proper/touching crossing point of two precise segments (None for
    * collinear overlap — overlap endpoints are already vertices and
    * therefore hot).
    */
  private def crossingPt(p1: Pt, p2: Pt, p3: Pt, p4: Pt): Option[Pt] = {
    def cross(o: Pt, a: Pt, b: Pt): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val d1 = cross(p3, p4, p1); val d2 = cross(p3, p4, p2)
    val d3 = cross(p1, p2, p3); val d4 = cross(p1, p2, p4)
    if (d1 == 0 && d2 == 0) None
    else if (((d1 > 0) != (d2 > 0) || d1 == 0 || d2 == 0) &&
             ((d3 > 0) != (d4 > 0) || d3 == 0 || d4 == 0)) {
      if (d1 == 0) Some(p1) else if (d2 == 0) Some(p2)
      else if (d3 == 0) Some(p3) else if (d4 == 0) Some(p4)
      else {
        val t = d1 / (d1 - d2)
        Some((p1._1 + t * (p2._1 - p1._1), p1._2 + t * (p2._2 - p1._2)))
      }
    } else None
  }

  /** Round a precise polyline through the hot pixels its segments
    * cross, in order along each segment.
    */
  /** R-tree over hot-pixel squares so each segment only tests the
    * pixels its envelope can reach (was a full scan per segment).
    */
  private final class HotIndex(val pts: Array[Pt], sc: Double) {
    val half: Double = 0.5 / sc
    private val tree: RTree =
      if (pts.length == 0) null
      else RTree.bulkLoad(pts.map(h =>
        Env(h._1 - half, h._2 - half, h._1 + half, h._2 + half)))
    def candidates(e: Env)(f: Int => Unit): Unit =
      if (tree != null) tree.rangeSearch(e) { i => f(i); true }
  }

  private def srRoundWalk(w: IndexedSeq[Pt], hot: HotIndex, sc: Double): IndexedSeq[Pt] = {
    val half = hot.half
    val out = mutable.ArrayBuffer.empty[Pt]
    def add(p: Pt): Unit = if (out.isEmpty || out.last != p) out += p
    var i = 0
    while (i < w.length - 1) {
      val p = w(i); val q = w(i + 1)
      add((Geom.gridRound(p._1, sc), Geom.gridRound(p._2, sc)))
      val hits = mutable.ArrayBuffer.empty[(Double, Pt)]
      val segEnv = Env(math.min(p._1, q._1), math.min(p._2, q._2),
        math.max(p._1, q._1), math.max(p._2, q._2))
      hot.candidates(segEnv) { hi =>
        val h = hot.pts(hi)
        boxClipT(p, q, h._1 - half, h._2 - half, h._1 + half, h._2 + half)
          .foreach(t => hits += ((t, h)))
      }
      hits.sortBy(_._1).foreach { case (_, h) => add(h) }
      i += 1
    }
    val last = w.last
    add((Geom.gridRound(last._1, sc), Geom.gridRound(last._2, sc)))
    out.toIndexedSeq
  }

  /** Liang–Barsky segment/box clip; returns the midpoint parameter of
    * the clipped run when the segment passes through the box.
    */
  private def boxClipT(p: Pt, q: Pt, x0: Double, y0: Double,
                       x1: Double, y1: Double): Option[Double] = {
    val dx = q._1 - p._1; val dy = q._2 - p._2
    var t0 = 0.0; var t1 = 1.0
    def clip(d: Double, w: Double): Boolean = {
      if (d == 0) w >= 0
      else {
        val t = w / d
        if (d < 0) { if (t > t1) return false; if (t > t0) t0 = t }
        else { if (t < t0) return false; if (t < t1) t1 = t }
        true
      }
    }
    if (clip(-dx, p._1 - x0) && clip(dx, x1 - p._1) &&
        clip(-dy, p._2 - y0) && clip(dy, y1 - p._2) && t0 <= t1) {
      val tm = (t0 + t1) / 2
      // half-open square (closed bottom/left, open top/right — the JTS
      // HotPixel convention): a graze along the top or right edge
      // belongs to the neighbouring pixel, else a 45° segment through
      // a corner detours through both pixels
      val mx = p._1 + tm * dx; val my = p._2 + tm * dy
      if (mx < x1 && my < y1) Some(tm) else None
    } else None
  }

  private def lineWalks(g: Geom): Seq[IndexedSeq[Pt]] = {
    val out = mutable.ArrayBuffer.empty[IndexedSeq[Pt]]
    def one(s: Seqn): Unit = {
      val pts = mutable.ArrayBuffer.empty[Pt]
      var i = 0
      while (i < s.n) {
        val p = (s.x(i), s.y(i))
        if (pts.isEmpty || pts.last != p) pts += p
        i += 1
      }
      if (pts.length >= 2) out += pts.toIndexedSeq
    }
    def walk(x: Geom): Unit = x match {
      case GLine(s) => one(s)
      case GMLine(ls, _) => ls.foreach(one)
      case GColl(cs, _) => cs.foreach(walk)
      case _ => ()
    }
    walk(g)
    out.toSeq
  }

  private def walksGeom(ws: Seq[IndexedSeq[Pt]]): Geom =
    if (ws.isEmpty) GMLine(Array.empty, CT.XY)
    else GMLine(ws.map { w =>
      val arr = new Array[Double](w.length * 2)
      var k = 0
      while (k < w.length) { arr(2 * k) = w(k)._1; arr(2 * k + 1) = w(k)._2; k += 1 }
      new Seqn(arr, CT.XY)
    }.toArray, CT.XY)

  private def doOp(op: Int, a: Geom, b: Geom): Geom = op match {
    case OpInt => SetOps.intersection(a, b)
    case OpUnion => SetOps.union(a, b)
    case OpDiff => SetOps.difference(a, b)
    case OpSym => SetOps.symDifference(a, b)
  }

  // ---------------------------------------------------------- cleaning

  /** Clean a snapped areal geometry: valid even-odd areal part plus the
    * collapsed (zero-area) edges.
    */
  private[core] def cleanAreal(g: Geom, dp: Int): (Geom, Seq[(Pt, Pt)]) = {
    val rings = mutable.ArrayBuffer.empty[IndexedSeq[Pt]]
    val collapsed = mutable.LinkedHashSet.empty[(Pt, Pt)]

    def addRing(s: Seqn): Unit = {
      val walk = walkOf(s)
      if (walk.length < 3) { segsOf(walk, collapsed); return }
      val noded = selfNode(walk, dp)
      splitLoops(noded).foreach { loop =>
        if (loop.length < 3 || shoelace(loop) == 0.0) segsOf(loop :+ loop.head, collapsed)
        else rings += loop
      }
    }
    def walkGeom(x: Geom): Unit = x match {
      case GPoly(rs, _) => rs.foreach(addRing)
      case GMPoly(ps, _) => ps.foreach(_.foreach(addRing))
      case GColl(cs, _) => cs.foreach(walkGeom)
      case _ => ()
    }
    walkGeom(g)

    // boundary segments SHARED between two kept loops (e.g. a hole
    // snapped flush onto its shell) dissolve inside the XOR fold below
    // with no trace — record them as collapsed first, since JTS keeps
    // them as collapsed linework
    var ri = 0
    while (ri < rings.length) {
      var rj = ri + 1
      while (rj < rings.length) {
        val li = GLine(ringSeqn(rings(ri))); val lj = GLine(ringSeqn(rings(rj)))
        if (li.envelope.intersects(lj.envelope)) {
          val shared = SetOps.intersection(li, lj)
          partitionByDim(shared)._2.foreach {
            case GLine(s) => segsOfSeqn(s, collapsed)
            case GMLine(ss, _) => ss.foreach(segsOfSeqn(_, collapsed))
            case _ => ()
          }
        }
        rj += 1
      }
      ri += 1
    }

    var areal: Geom = Geom.emptyGC
    rings.foreach { r =>
      val p = GPoly(Array(ringSeqn(r)), CT.XY)
      areal = if (areal.isEmpty) p else SetOps.symDifference(areal, p)
    }
    // the XOR fold can itself leave grid-off or degenerate pieces on
    // pathological inputs; one snap keeps the invariant without
    // recursing (the fold's operands are already valid simple rings)
    areal = Geom.snapToGrid(areal, dp)
    (areal, collapsed.toSeq)
  }

  /** Closed-ring point walk: consecutive duplicates removed, closing
    * duplicate dropped.
    */
  private def walkOf(s: Seqn): IndexedSeq[Pt] = {
    val out = mutable.ArrayBuffer.empty[Pt]
    var i = 0
    while (i < s.n) {
      val p = (s.x(i), s.y(i))
      if (out.isEmpty || out.last != p) out += p
      i += 1
    }
    if (out.length > 1 && out.head == out.last) out.remove(out.length - 1)
    out.toIndexedSeq
  }

  private def segsOf(walk: Seq[Pt], into: mutable.LinkedHashSet[(Pt, Pt)]): Unit =
    walk.iterator.sliding(2).withPartial(false).foreach { w =>
      val (p, q) = (w.head, w.last)
      if (p != q) into += (if (lt(p, q)) (p, q) else (q, p))
    }

  private def lt(p: Pt, q: Pt): Boolean = p._1 < q._1 || (p._1 == q._1 && p._2 < q._2)

  private def segsOfSeqn(s: Seqn, into: mutable.LinkedHashSet[(Pt, Pt)]): Unit = {
    var i = 0
    while (i < s.n - 1) {
      val p = (s.x(i), s.y(i)); val q = (s.x(i + 1), s.y(i + 1))
      if (p != q) into += (if (lt(p, q)) (p, q) else (q, p))
      i += 1
    }
  }

  /** Insert every self-intersection of the closed walk as a vertex
    * (rounded to the grid), so loop decomposition only has to look for
    * repeated vertices.
    */
  private def selfNode(walk: IndexedSeq[Pt], dp: Int): IndexedSeq[Pt] = {
    val sc = math.pow(10, dp)
    def rnd(v: Double): Double = Geom.gridRound(v, sc)
    val n = walk.length
    val splits = Array.fill(n)(mutable.ArrayBuffer.empty[(Double, Pt)])
    def seg(i: Int): (Pt, Pt) = (walk(i), walk((i + 1) % n))
    def cross(ox: Double, oy: Double, ax: Double, ay: Double, bx: Double, by: Double): Double =
      (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)
    def paramOn(p1: Pt, p2: Pt, q: Pt): Double = {
      val dx = p2._1 - p1._1; val dy = p2._2 - p1._2
      if (math.abs(dx) >= math.abs(dy)) (q._1 - p1._1) / dx else (q._2 - p1._2) / dy
    }
    def addSplit(i: Int, q: Pt): Unit = {
      val (p1, p2) = seg(i)
      if (q != p1 && q != p2) {
        val t = paramOn(p1, p2, q)
        if (t > 0 && t < 1) splits(i) += ((t, q))
      }
    }
    var i = 0
    while (i < n) {
      val (p1, p2) = seg(i)
      var j = i + 1
      while (j < n) {
        val (p3, p4) = seg(j)
        val d1 = cross(p3._1, p3._2, p4._1, p4._2, p1._1, p1._2)
        val d2 = cross(p3._1, p3._2, p4._1, p4._2, p2._1, p2._2)
        val d3 = cross(p1._1, p1._2, p2._1, p2._2, p3._1, p3._2)
        val d4 = cross(p1._1, p1._2, p2._1, p2._2, p4._1, p4._2)
        if (d1 == 0 && d2 == 0) {
          // collinear: insert each other's interior endpoints
          addSplit(i, p3); addSplit(i, p4); addSplit(j, p1); addSplit(j, p2)
        } else if (((d1 > 0) != (d2 > 0) || d1 == 0 || d2 == 0) &&
                   ((d3 > 0) != (d4 > 0) || d3 == 0 || d4 == 0)) {
          val q: Pt =
            if (d1 == 0) p1 else if (d2 == 0) p2
            else if (d3 == 0) p3 else if (d4 == 0) p4
            else {
              // d1/d2 are p1/p2's orientations about line (p3,p4), so
              // d1/(d1-d2) parameterises the crossing along (p1,p2)
              val t = d1 / (d1 - d2)
              (rnd(p1._1 + t * (p2._1 - p1._1)), rnd(p1._2 + t * (p2._2 - p1._2)))
            }
          addSplit(i, q); addSplit(j, q)
        }
        j += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[Pt]
    i = 0
    while (i < n) {
      val p = walk(i)
      if (out.isEmpty || out.last != p) out += p
      splits(i).sortBy(_._1).foreach { case (_, q) =>
        if (out.last != q) out += q
      }
      i += 1
    }
    if (out.length > 1 && out.head == out.last) out.remove(out.length - 1)
    out.toIndexedSeq
  }

  /** Decompose a self-noded closed walk into simple loops by popping a
    * loop whenever a vertex repeats.
    */
  private def splitLoops(walk: IndexedSeq[Pt]): Seq[IndexedSeq[Pt]] = {
    val out = mutable.ArrayBuffer.empty[IndexedSeq[Pt]]
    val stack = mutable.ArrayBuffer.empty[Pt]
    val at = mutable.HashMap.empty[Pt, Int]
    walk.foreach { p =>
      at.get(p) match {
        case Some(i0) =>
          val loop = stack.slice(i0, stack.length).toIndexedSeq
          var k = stack.length - 1
          while (k > i0) { at.remove(stack(k)); stack.remove(k); k -= 1 }
          if (loop.length >= 1) out += loop
        case None =>
          at(p) = stack.length
          stack += p
      }
    }
    if (stack.length >= 1) out += stack.toIndexedSeq
    out.toSeq.filter(_.length >= 2)
  }

  private def shoelace(loop: IndexedSeq[Pt]): Double = {
    var s = 0.0
    var i = 0
    val n = loop.length
    while (i < n) {
      val p = loop(i); val q = loop((i + 1) % n)
      s += p._1 * q._2 - q._1 * p._2
      i += 1
    }
    s / 2
  }

  // ---------------------------------------------------------- assembly

  private def ringSeqn(pts: IndexedSeq[Pt]): Seqn = {
    val arr = new Array[Double]((pts.length + 1) * 2)
    var i = 0
    while (i < pts.length) { arr(2 * i) = pts(i)._1; arr(2 * i + 1) = pts(i)._2; i += 1 }
    arr(2 * pts.length) = pts(0)._1; arr(2 * pts.length + 1) = pts(0)._2
    new Seqn(arr, CT.XY)
  }

  private def segsGeom(segs: Seq[(Pt, Pt)]): Geom =
    if (segs.isEmpty) GMLine(Array.empty, CT.XY)
    else GMLine(segs.map { case (p, q) =>
      new Seqn(Array(p._1, p._2, q._1, q._2), CT.XY)
    }.toArray, CT.XY)

  private def foldLineUnion(parts: Seq[Geom]): Geom = {
    val nz = parts.filter(p => p != null && !p.isEmpty)
    if (nz.isEmpty) GMLine(Array.empty, CT.XY)
    else nz.reduce(SetOps.union)
  }

  /** Drop consecutive-duplicate vertices from line parts; pieces that
    * collapse to a single point are returned separately when
    * `keepPts` (intersection's dimensional collapse), else dropped.
    */
  private def normLines(parts: Seq[Geom], keepPts: Boolean): (Seq[Geom], Seq[Geom]) = {
    val ls = mutable.ArrayBuffer.empty[Geom]
    val ps = mutable.ArrayBuffer.empty[Geom]
    def one(s: Seqn): Unit = {
      val pts = mutable.ArrayBuffer.empty[Pt]
      var i = 0
      while (i < s.n) {
        val p = (s.x(i), s.y(i))
        if (pts.isEmpty || pts.last != p) pts += p
        i += 1
      }
      if (pts.length >= 2) {
        val arr = new Array[Double](pts.length * 2)
        var k = 0
        while (k < pts.length) { arr(2 * k) = pts(k)._1; arr(2 * k + 1) = pts(k)._2; k += 1 }
        ls += GLine(new Seqn(arr, CT.XY))
      } else if (keepPts && pts.length == 1)
        ps += GPoint(Array(pts(0)._1, pts(0)._2), CT.XY)
    }
    parts.foreach {
      case GLine(s) => one(s)
      case GMLine(as, _) => as.foreach(one)
      case _ => ()
    }
    (ls.toSeq, ps.toSeq)
  }

  private def mergePoints(a: Geom, b: Geom): Geom =
    if (a.isEmpty) b else if (b.isEmpty) a else SetOps.union(a, b)

  private def segsPointless(pts: Seq[Geom]): Geom = {
    val nz = pts.filter(!_.isEmpty)
    if (nz.isEmpty) GMPoint(Array.empty, CT.XY)
    else nz.reduce(SetOps.union)
  }

  /** Split a geometry into (areal part, line parts, point parts). */
  private def partitionByDim(g: Geom): (Geom, Seq[Geom], Seq[Geom]) = {
    val areal = mutable.ArrayBuffer.empty[Geom]
    val lin = mutable.ArrayBuffer.empty[Geom]
    val pts = mutable.ArrayBuffer.empty[Geom]
    def walk(x: Geom): Unit = x match {
      case GColl(cs, _) => cs.foreach(walk)
      case p: GPoly if !p.isEmpty => areal += p
      case m: GMPoly if !m.isEmpty => areal += m
      case l: GLine if !l.isEmpty => lin += l
      case m: GMLine if !m.isEmpty => lin += m
      case p: GPoint if !p.isEmpty => pts += p
      case m: GMPoint if !m.isEmpty => pts += m
      case _ => ()
    }
    walk(g)
    val a: Geom =
      if (areal.isEmpty) GPoly(Array.empty, CT.XY)
      else if (areal.length == 1) areal.head
      else areal.reduce(SetOps.union)
    (a, lin.toSeq, pts.toSeq)
  }

  private def assemble(areal: Geom, lines: Geom, points: Geom, op: Int): Geom = {
    val parts = mutable.ArrayBuffer.empty[Geom]
    def flat(x: Geom): Unit = x match {
      case GColl(cs, _) => cs.foreach(flat)
      case g if !g.isEmpty => parts += g
      case _ => ()
    }
    flat(areal); flat(lines); flat(points)
    if (parts.isEmpty) {
      // dim-typed empty consistent with SetOps' empty semantics
      if (op == OpInt) Geom.emptyGC else GPoly(Array.empty, CT.XY)
    } else if (parts.length == 1) parts.head
    else if (parts.forall(_.dimension == 2)) areal
    else if (parts.forall(_.dimension == 1)) lines
    else if (parts.forall(_.dimension == 0)) points
    else GColl(parts.toArray, CT.XY)
  }
}
