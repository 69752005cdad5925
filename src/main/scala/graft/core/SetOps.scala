package graft.core

import scala.collection.mutable

/** General geometric set operations (union / intersection / difference /
  * symmetric difference / unary union) over arbitrary geometry pairs.
  *
  * Reference semantics: geom/alg_overlay.go (empty-result typing at
  * lines 29-44, GC-aware pairwise plans at 84-220) with the overlay
  * engine itself re-derived Spark-side as an arrangement overlay
  * instead of a port of OverlayNG's noding ladder
  * (jts/operation_overlayng_*):
  *
  *  1. NODE: all input segments are split at mutual intersections
  *     (R-tree candidate pairs, DD-robust orientation tests, one
  *     crossing point computed per pair so both segments split at the
  *     identical coordinate).
  *  2. ARRANGE: the noded edges form a planar subdivision; faces are
  *     extracted by left-face half-edge traversal with hole-contour
  *     nesting.
  *  3. LABEL: faces take (inA, inB) from the input edges crossed on a
  *     walk from the unbounded face (Arrangement.labelFaces): even-odd
  *     within each polygon, union across polygons; no point is located.
  *  4. KEEP + DISSOLVE: faces are kept per the boolean op; edges
  *     between a kept and an unkept face are walked into shells and
  *     holes (the union of kept faces).
  *
  * Lower-dimensional intersection output (collinear boundary pieces,
  * isolated touch points) is collected from the same noded graph.
  */
object SetOps {

  private[core] final val OpInt = 0
  private[core] final val OpUnion = 1
  private[core] final val OpDiff = 2
  private[core] final val OpSym = 3

  // ------------------------------------------------------------ public

  def union(a: Geom, b: Geom): Geom = {
    if (a.isEmpty && b.isEmpty)
      return Overlay.emptyOfDim(math.max(a.dimension, b.dimension))
    if (isGC(a) || isGC(b)) return unionMany(Seq(a, b))
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    overlay(a, b, OpUnion)
  }

  def intersection(a: Geom, b: Geom): Geom = {
    val outDim = math.min(a.dimension, b.dimension)
    if (a.isEmpty || b.isEmpty || !a.envelope.intersects(b.envelope))
      return Overlay.emptyOfDim(outDim)
    if (isGC(a) || isGC(b)) return gcIntersection(a, b)
    overlay(a, b, OpInt)
  }

  def difference(a: Geom, b: Geom): Geom = {
    if (a.isEmpty) return Overlay.emptyOfDim(a.dimension)
    if (b.isEmpty) return a
    if (isGC(a) || isGC(b)) return gcDifference(a, b)
    if (!a.envelope.intersects(b.envelope)) return a
    overlay(a, b, OpDiff)
  }

  def symDifference(a: Geom, b: Geom): Geom = {
    if (a.isEmpty && b.isEmpty)
      return Overlay.emptyOfDim(math.max(a.dimension, b.dimension))
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    if (isGC(a) || isGC(b)) return union(difference(a, b), difference(b, a))
    overlay(a, b, OpSym)
  }

  /** Union of all components of g (reference: alg_overlay.go:274-286). */
  def unaryUnion(g: Geom): Geom = {
    if (g.isEmpty) return Overlay.emptyOfDim(g.dimension)
    unionMany(Seq(g))
  }

  def unionMany(gs: Seq[Geom]): Geom = {
    val parts = gs.flatMap(atomicParts)
    if (parts.isEmpty) Geom.emptyGC else nAryUnion(parts)
  }

  /** Repair an invalid geometry (GEOS wrapper analogue — reference
    * geos/entrypoints.go:259-267; the bowtie case is pinned by the
    * reference's own test, geos/entrypoints_test.go:843-857).
    *
    * Areal inputs use the EVEN-ODD (alternate) fill rule over the
    * noded ring linework — the classic linework / buffer(0) repair:
    * all ring segments are noded into a planar arrangement and a face
    * is kept iff its interior is covered by an ODD number of input
    * rings. Consequences: a self-crossing bowtie keeps both lobes, a
    * hole inside a shell stays a hole, a duplicated ring cancels to
    * empty, and the part of a "hole" extending outside its shell
    * becomes area (it is covered by exactly one ring). This is the
    * even-odd linework semantic, not GEOS's newer "structure" method
    * (which unions shells and subtracts hole unions; the two differ
    * when holes overlap each other).
    *
    * Valid inputs are detected first and returned UNCHANGED
    * (idempotent; never perturbs already-valid data — the dominant
    * case when used as a cleaning pass over web-extracted geometry).
    * Degenerate lines (fewer than 2 distinct points) collapse to
    * POINT, matching GEOS. Empties pass through. Repaired areal
    * output is 2D (the repair plane drops Z/M, like overlay).
    */
  def makeValid(g: Geom): Geom = g match {
    case _ if g.isEmpty => g
    case _: GPoint | _: GMPoint => g
    case l: GLine =>
      if (hasTwoDistinctPoints(l.seq)) l
      else GPoint(Array(l.seq.x(0), l.seq.y(0)), CT.XY)
    case ml: GMLine =>
      if (ml.lines.forall(s => s.isEmpty || hasTwoDistinctPoints(s))) ml
      else {
        val fixed = ml.lines.filter(!_.isEmpty).map(s => makeValid(GLine(s)))
        val (lines, pts) = fixed.partition(_.isInstanceOf[GLine])
        if (lines.isEmpty) GMPoint(pts.map(_.asInstanceOf[GPoint]), CT.XY)
        else if (pts.isEmpty) GMLine(lines.map(_.asInstanceOf[GLine].seq), ml.ct)
        else GColl(lines ++ pts, CT.XY)
      }
    case _: GPoly | _: GMPoly =>
      if (Validate.isValid(g)) g else arealMakeValidRobust(g)
    case GColl(cs, ct) => GColl(cs.map(makeValid), ct)
  }

  private def hasTwoDistinctPoints(s: Seqn): Boolean = {
    val n = s.n
    var i = 1
    while (i < n) {
      if (s.x(i) != s.x(0) || s.y(i) != s.y(0)) return true
      i += 1
    }
    false
  }

  /** Even-odd over all rings: they form one parity group. */
  private def arealMakeValid(g: Geom, epsFactor: Double): Geom = {
    val noder = new Noder(epsFactor)
    addRingsOf(noder, g, srcA = true)
    val ends = Array(noder.segmentCount)
    noder.node()
    if (noder.edges.isEmpty) return GPoly(Array.empty[Seqn], CT.XY)
    val arr = new Arrangement(noder.edges)
    arr.build()
    normalizePinches(arr.dissolve(arr.labelFaces(noder, ends, 1, new Array[Double](1)).map(_ != 0)))
  }

  /** Dissolve can emit a pinched kept-region (two lobes sharing one
    * vertex) as a single self-touching ring — invalid as a polygon
    * ring. Normalize: split every ring at repeated vertices into
    * simple rings, then reassemble shells/holes by even-odd
    * containment nesting. Arrangement output rings are edge-disjoint
    * and never cross (they can only share vertices), so the nesting
    * is well-defined. No-op (input returned as-is) when no ring has a
    * repeated vertex — the overwhelmingly common case.
    */
  private def normalizePinches(g: Geom): Geom = {
    def ringsOf(x: Geom): IndexedSeq[Seqn] = x match {
      case GPoly(rs, _) => rs.toIndexedSeq
      case GMPoly(ps, _) => ps.toIndexedSeq.flatten
      case _ => IndexedSeq.empty
    }
    val rings = ringsOf(g)
    if (rings.isEmpty || !rings.exists(hasRepeatedVertex)) return g
    assembleRings(rings.flatMap(splitSimpleRings))
  }

  private def hasRepeatedVertex(r: Seqn): Boolean = {
    val seen = mutable.HashSet.empty[(Double, Double)]
    var i = 0
    while (i < r.n - 1) { // skip the closing duplicate of vertex 0
      if (!seen.add((r.x(i), r.y(i)))) return true
      i += 1
    }
    false
  }

  /** Split a closed ring at repeated vertices until every piece is a
    * simple closed ring; zero-area pieces are dropped.
    */
  private[core] def splitSimpleRings(r0: Seqn): Seq[Seqn] = {
    val out = mutable.ArrayBuffer.empty[Seqn]
    val stack = mutable.ArrayBuffer(r0)
    while (stack.nonEmpty) {
      val s = stack.remove(stack.length - 1)
      val n = s.n
      var dupA = -1; var dupB = -1
      val seen = mutable.HashMap.empty[(Double, Double), Int]
      var i = 0
      while (dupA < 0 && i < n - 1) {
        seen.get((s.x(i), s.y(i))) match {
          case Some(j) => dupA = j; dupB = i
          case None => seen((s.x(i), s.y(i))) = i
        }
        i += 1
      }
      if (dupA < 0) {
        if (n >= 4 && Alg.signedRingArea(s) != 0.0) out += s
      } else {
        // piece 1: vertices dupA..dupB (s(dupB) == s(dupA) closes it);
        // piece 2: the remainder with the loop excised
        stack += seqnOf((dupA to dupB).map(k => (s.x(k), s.y(k))))
        stack += seqnOf(((0 to dupA) ++ (dupB + 1 until n)).map(k => (s.x(k), s.y(k))))
      }
    }
    out.toSeq
  }

  /** Does ring S properly contain ring R's CURVE? Valid only for
    * edge-disjoint, non-crossing rings (arrangement / triangulation
    * boundaries): the first R vertex strictly inside or outside S
    * decides; if every vertex lies ON S (shared nodes), an R edge
    * midpoint decides (distinct edges cannot overlap collinearly in
    * an arrangement, so the midpoint is never on S).
    */
  private def ringContainsRing(s: Seqn, r: Seqn): Boolean = {
    var i = 0
    while (i < r.n - 1) {
      val loc = Alg.pointInRing(s, r.x(i), r.y(i))
      if (loc > 0) return true
      if (loc < 0) return false
      i += 1
    }
    Alg.pointInRing(s, (r.x(0) + r.x(1)) / 2, (r.y(0) + r.y(1)) / 2) > 0
  }

  /** Reassemble simple, non-crossing, edge-disjoint rings into
    * polygons: a ring properly contained in an EVEN number of others
    * is a shell, odd is a hole of its smallest containing shell.
    * Shells come out CCW, holes CW. (Containment is tested on the
    * ring CURVE, not on a disk-interior probe — a probe can land
    * inside a sibling hole and misclassify, e.g. an annulus.)
    */
  private[core] def assembleRings(ringsIn: Seq[Seqn]): Geom = {
    val rings = ringsIn.toIndexedSeq
    if (rings.isEmpty) return GPoly(Array.empty[Seqn], CT.XY)
    val absArea = rings.map(r => math.abs(Alg.signedRingArea(r)))
    val n = rings.length
    val contains = Array.ofDim[Boolean](n, n)
    for (j <- 0 until n; i <- 0 until n; if j != i)
      contains(j)(i) = ringContainsRing(rings(j), rings(i))
    val depth = Array.tabulate(n)(i => (0 until n).count(j => j != i && contains(j)(i)))
    def oriented(r: Seqn, ccw: Boolean): Seqn =
      if ((Alg.signedRingArea(r) > 0) == ccw) r else r.reversed
    val shellIdx = (0 until n).filter(depth(_) % 2 == 0)
    val holeIdx = (0 until n).filter(depth(_) % 2 == 1)
    val polyRings = shellIdx.map(si => mutable.ArrayBuffer(oriented(rings(si), ccw = true)))
    for (hi <- holeIdx) {
      var best = -1; var bestArea = Double.MaxValue
      var k = 0
      while (k < shellIdx.length) {
        val si = shellIdx(k)
        if (absArea(si) < bestArea && contains(si)(hi)) {
          best = k; bestArea = absArea(si)
        }
        k += 1
      }
      if (best >= 0) polyRings(best) += oriented(rings(hi), ccw = false)
    }
    if (polyRings.length == 1) GPoly(polyRings.head.toArray, CT.XY)
    else GMPoly(polyRings.map(_.toArray).toArray, CT.XY)
  }

  /** makeValid on the snap ladder; the acceptance test IS validity —
    * that is the operator's postcondition.
    */
  private def arealMakeValidRobust(g: Geom): Geom = {
    def valid(r: Geom): Boolean = r.isEmpty || Validate.isValid(r)
    snapLadder("makeValid")(f => arealMakeValid(g, f))((r, _, _) => valid(r)) {
      val r = arealMakeValid(gridSnapped(g)._1.head, Noder.BaseEpsFactor)
      if (valid(r)) r else null
    }
  }

  // --------------------------------------------------- GC-aware plans

  private def isGC(g: Geom): Boolean = g.isInstanceOf[GColl]

  private def atomicParts(g: Geom): Seq[Geom] = {
    val out = mutable.ArrayBuffer.empty[Geom]
    def walk(x: Geom): Unit = x match {
      case GColl(cs, _) => cs.foreach(walk)
      case GMPoint(ps, _) => ps.filter(!_.isEmpty).foreach(out += _)
      case GMLine(ls, _) => ls.filter(!_.isEmpty).foreach(s => out += GLine(s))
      case GMPoly(ps, ct) => ps.filter(_.nonEmpty).foreach(p => out += GPoly(p, ct))
      case x if !x.isEmpty => out += x
      case _ => ()
    }
    walk(x = g)
    out.toSeq
  }

  /** Pairwise intersections across parts, unioned
    * (reference: alg_overlay.go:84-120 incl. the R-tree over parts).
    */
  private def gcIntersection(a: Geom, b: Geom): Geom = {
    val pa = atomicParts(if (isGC(a)) unaryUnion(a) else a)
    val pb = atomicParts(if (isGC(b)) unaryUnion(b) else b)
    if (pa.isEmpty || pb.isEmpty)
      return Overlay.emptyOfDim(math.min(a.dimension, b.dimension))
    val tree = RTree.bulkLoad(pb.map(_.envelope).toArray)
    val results = mutable.ArrayBuffer.empty[Geom]
    for (x <- pa; e = x.envelope; if !e.isEmpty) {
      tree.rangeSearch(e) { i =>
        val r = intersection(x, pb(i))
        if (!r.isEmpty) results += r
        true
      }
    }
    if (results.isEmpty) Overlay.emptyOfDim(math.min(a.dimension, b.dimension))
    else unionMany(results.toSeq)
  }

  /** Sequential subtraction per part (reference: alg_overlay.go:158-220). */
  private def gcDifference(a: Geom, b: Geom): Geom = {
    val pa = atomicParts(if (isGC(a)) unaryUnion(a) else a)
    val pb = atomicParts(if (isGC(b)) unaryUnion(b) else b)
    if (pb.isEmpty) return unionMany(pa)
    val tree = RTree.bulkLoad(pb.map(_.envelope).toArray)
    val results = mutable.ArrayBuffer.empty[Geom]
    for (x <- pa) {
      var cur = x
      tree.rangeSearch(x.envelope) { i =>
        if (!cur.isEmpty && cur.envelope.intersects(pb(i).envelope))
          cur = difference(cur, pb(i))
        !cur.isEmpty
      }
      if (!cur.isEmpty) results += cur
    }
    if (results.isEmpty) Overlay.emptyOfDim(a.dimension)
    else unionMany(results.toSeq)
  }

  /** n-ary union of atomic parts, by dimension: areal parts go through
    * ONE shared arrangement (kept face = inside any part); line parts
    * are noded and deduped, dropping pieces covered by the areal
    * result; points are deduped and dropped if covered.
    */
  private def nAryUnion(parts: Seq[Geom]): Geom = {
    val polys = parts.filter(_.dimension == 2)
    val lines = parts.collect { case l: GLine => l }
    val points = parts.collect { case p: GPoint if !p.isEmpty => p }

    val arealResult: Geom =
      if (polys.isEmpty) GPoly(Array.empty, CT.XY)
      else if (polys.size == 1) polys.head
      else nAryArealUnionRobust(polys.toIndexedSeq)

    val lineResult: Geom =
      if (lines.isEmpty) GLine(Seqn.empty2D)
      else {
        // dedupe/merge the lines among themselves, then subtract the
        // areal closure via the line-areal overlay (which nodes line
        // segments at areal boundary crossings — a piece-midpoint test
        // without that noding misses partially-covered segments)
        val noder = new Noder
        lines.foreach(l => noder.addLine(l.seq, srcA = true))
        noder.node()
        val merged = linesFromEdges(noder.edges)
        if (arealResult.isEmpty || merged.isEmpty) merged
        else lineArealOverlay(merged, arealResult, OpDiff, lineIsA = true)
      }

    val pointResult: Geom = {
      val kept = points.filter { p =>
        (arealResult.isEmpty || Alg.pointInAreal(arealResult, p.x, p.y) < 0) &&
          (lineResult.isEmpty || !Intersects.intersects(p, lineResult))
      }
      dedupPoints(kept.map(p => (p.x, p.y)))
    }

    assembleMixed(arealResult, lineResult, pointResult)
  }

  /** Single-pass n-ary areal union: the areal overlay rung with every
    * input polygon in A (each its own parity group) and no B, so ALL
    * input boundaries are noded in one arrangement and the faces inside
    * at least one input are kept. Each input vertex participates in ONE
    * noding pass instead of the O(log n) cascaded pairwise overlays —
    * this is what makes large st_union_agg groups near-linear. It runs
    * on the binary overlay's ladder and acceptance test, and falls back
    * to the cascaded pairwise union (whose per-pair ladders localize
    * hard cases) if every rung fails.
    *
    * The single-arrangement pass wins when inputs are mostly disjoint
    * (each vertex noded once instead of O(log n) times) but loses
    * badly when inputs overlap densely — the shared arrangement then
    * carries every pairwise crossing at once (O(n * overlap) edges)
    * where cascaded union dissolves interior detail early. Choose by
    * envelope-overlap ratio: sum of input envelope areas over the
    * union envelope's area approximates the mean overlap multiplicity.
    */
  private def nAryArealUnionRobust(polys: IndexedSeq[Geom]): Geom = {
    val envs = polys.map(_.envelope).filterNot(_.isEmpty)
    val sumEnvA = envs.iterator.map(_.area).sum
    val unionEnvA = if (envs.isEmpty) 0.0 else envs.reduce(_ merge _).area
    if (unionEnvA > 0 && sumEnvA > 4.0 * unionEnvA)
      return cascadedArealUnion(polys)
    val all = GColl(polys.toArray, CT.XY)
    snapLadder("n-ary union")(f => arealOverlay(all, GPoly(Array.empty, CT.XY), OpUnion, f))(
        accepted(new Groups(all), OpUnion)) {
      new Overlaid(cascadedArealUnion(polys), 0.0, 0.0, null)
    }.geom
  }

  /** Cascaded (balanced-tree) pairwise union in envelope-sorted order —
    * the reference's cascaded-union shape (OverlayNGRobust_Union);
    * fallback when the single-pass n-ary rung fails sanity.
    */
  private def cascadedArealUnion(polys: IndexedSeq[Geom]): Geom = {
    var level = polys.sortBy { p =>
      val e = p.envelope; (e.xmin, e.ymin)
    }.toIndexedSeq
    while (level.size > 1) {
      level = level.grouped(2).map {
        case Seq(x, y) =>
          if (!x.envelope.intersects(y.envelope)) mergeDisjointAreal(x, y)
          else overlay(x, y, OpUnion)
        case Seq(x) => x
      }.toIndexedSeq
    }
    level.head
  }

  /** Concatenate two areal geoms with disjoint envelopes into one
    * MultiPolygon — no overlay needed.
    */
  private def mergeDisjointAreal(a: Geom, b: Geom): Geom = {
    val parts = mutable.ArrayBuffer.empty[Array[Seqn]]
    def add(g: Geom): Unit = g match {
      case GPoly(rs, _) if rs.nonEmpty => parts += rs
      case GMPoly(ps, _) => ps.filter(_.nonEmpty).foreach(parts += _)
      case _ => ()
    }
    add(a); add(b)
    if (parts.isEmpty) GPoly(Array.empty, CT.XY)
    else if (parts.length == 1) GPoly(parts.head, CT.XY)
    else GMPoly(parts.toArray, CT.XY)
  }

  // ------------------------------------------------ binary dispatcher

  private def overlay(a: Geom, b: Geom, op: Int): Geom = {
    val da = a.dimension; val db = b.dimension
    (da, db) match {
      case (2, 2) => arealOverlayRobust(a, b, op)
      case (0, _) | (_, 0) => pointOverlay(a, b, op)
      case (1, 1) => lineLineOverlay(a, b, op)
      case (1, 2) => lineArealOverlay(a, b, op, lineIsA = true)
      case (2, 1) => lineArealOverlay(b, a, op, lineIsA = false)
      case _ => throw new UnsupportedOperationException(
        s"overlay for dims ($da,$db) not supported")
    }
  }

  // ------------------------------------- robustness escalation ladder

  /** Snap-tolerance ladder, as a multiple of the base eps factor
    * (reference: operation_overlayng_overlay_ng_robust.go:5-34 — float
    * noder, then snapping at escalating tolerance, then snap-rounding).
    * Our base attempt already IS an eps-snapping noder, so the ladder
    * is: base eps -> x5 -> x25 -> x125 -> x625 -> the caller's last
    * resort.
    */
  private val SnapLadder = Seq(1.0, 5.0, 25.0, 125.0, 625.0)

  /** The one snap ladder of every areal operation. `rung(f)` runs the
    * operation with the noder's eps factor f; `accept(r, f, escalated)`
    * is its acceptance test (`escalated` past the base rung, the hot
    * path, where a validity check is worth its cost). A rung that
    * throws or is not accepted hands on to the next. After the last,
    * `lastResort` answers; when it gives null or throws, the latest
    * exception is rethrown, or else a failure naming `what`.
    */
  private[core] def snapLadder[R <: AnyRef](what: String)(rung: Double => R)(
      accept: (R, Double, Boolean) => Boolean)(lastResort: => R): R = {
    var lastEx: Throwable = null
    var i = 0
    while (i < SnapLadder.length) {
      val f = Noder.BaseEpsFactor * SnapLadder(i)
      try {
        val r = rung(f)
        if (accept(r, f, i > 0)) return r
      } catch { case e: Exception => lastEx = e }
      i += 1
    }
    val r = try lastResort catch { case e: Exception => lastEx = e; null.asInstanceOf[R] }
    if (r != null) r
    else if (lastEx != null) throw lastEx
    else throw new IllegalStateException(s"$what failed at every snap-ladder rung")
  }

  /** The usual last resort: the inputs snap-rounded to a shared grid
    * of ~9 significant figures at their coordinate scale, so every
    * coordinate is exactly representable, and the eps factor the grid
    * pitch amounts to (the points moved by up to that much).
    */
  private def gridSnapped(gs: Geom*): (Seq[Geom], Double) = {
    val scale = math.max(gs.map(scaleOf).max, 1e-30)
    val decimals = math.max(0, math.min(12, 9 - math.ceil(math.log10(scale)).toInt))
    (gs.map(Geom.snapToGrid(_, decimals)), math.pow(10.0, -decimals) / scale)
  }

  private def scaleOf(g: Geom): Double = {
    val e = g.envelope
    if (e.isEmpty) 0.0
    else math.max(math.max(math.abs(e.xmin), math.abs(e.xmax)),
      math.max(math.abs(e.ymin), math.abs(e.ymax)))
  }

  /** The polygons of an areal rung's inputs, in parity-group order,
    * with what its area check judges the labels against: each polygon's
    * own area (shell less holes) and perimeter, and — asked only where
    * a labelled area disagrees with that area — their validity.
    */
  private[core] final class Groups(gs: Geom*) {
    val polys: IndexedSeq[GPoly] = gs.flatMap(polygonsOf).toIndexedSeq
    val area: Array[Double] = polys.map(Measure.area).toArray
    val perim: Array[Double] = polys.map(_.rings.iterator.map(Measure.seqLength).sum).toArray
    val scale: Double = gs.map(scaleOf).max
    lazy val valid: IndexedSeq[Boolean] = polys.map(Validate.isValid)
  }

  /** Cheap result invariants that a broken arrangement violates, up to
    * the snapping budget. Legitimate snapping at tolerance eps moves
    * each boundary point by <= ~eps, so an area can shift by at most
    * ~eps x boundary length — that, not a fixed relative factor, is the
    * honest tolerance: extreme slivers (perimeter >> sqrt(area))
    * legitimately lose a larger area fraction to snapping.
    *
    * First, each parity group's labelled area must be its polygon's
    * own area, which does not come from the labels: a missed crossing
    * or a component nested in the wrong face moves area between the
    * labels. Where the two disagree the polygon is validated; an
    * invalid polygon's shell-less-holes sum is no area at all when its
    * rings overlap or cross, so its labelled (even-odd) area stands,
    * judged by the bounds below only. Second, the result's area must
    * lie within the op's bounds on the inputs' labelled areas.
    */
  private[core] def arealSane(gr: Groups, op: Int, r: Overlaid, epsFactor: Double): Boolean = {
    val eps = epsFactor * gr.scale
    var g = 0
    while (g < gr.polys.length) {
      val tol = 4 * eps * gr.perim(g) + 1e-9 * math.abs(gr.area(g)) + java.lang.Double.MIN_NORMAL
      if (math.abs(r.groupArea(g) - gr.area(g)) > tol && gr.valid(g)) return false
      g += 1
    }
    val aA = r.areaA; val aB = r.areaB
    val rA = Measure.area(r.geom)
    val tol = 4 * eps * gr.perim.sum + 1e-9 * math.max(aA, aB) + java.lang.Double.MIN_NORMAL
    op match {
      case OpInt => rA <= math.min(aA, aB) + tol
      case OpUnion => rA >= math.max(aA, aB) - tol && rA <= aA + aB + tol
      case OpDiff => rA <= aA + tol && rA >= aA - aB - tol
      case OpSym => rA <= aA + aB + tol && rA >= math.abs(aA - aB) - tol
    }
  }

  /** The ladder's acceptance test of an areal overlay rung: the area
    * check, and past the base rung (the hot path, where an O(n) area
    * check is all it pays) validity too.
    */
  private def accepted(gr: Groups, op: Int)(r: Overlaid, f: Double, escalated: Boolean): Boolean =
    arealSane(gr, op, r, f) && (!escalated || r.geom.dimension < 2 || Validate.isValid(r.geom))

  /** Test hook: an escalated union rung — lets specs exhibit inputs
    * where the base rung fails and the escalation recovers.
    */
  private[core] def unionSingleRung(a: Geom, b: Geom, epsFactor: Double): Option[Geom] =
    try Some(arealOverlay(a, b, OpUnion, epsFactor))
      .filter(accepted(new Groups(a, b), OpUnion)(_, epsFactor, escalated = true)).map(_.geom)
    catch { case _: Exception => None }

  /** Areal overlay on the snap ladder: at base tolerance, then at
    * widening snap tolerance with validated results; the last resort
    * overlays the grid snap-rounded inputs and judges the result at
    * the grid's eps factor.
    */
  private def arealOverlayRobust(a: Geom, b: Geom, op: Int): Geom =
    snapLadder(s"overlay (op=$op)")(f => arealOverlay(a, b, op, f))(accepted(new Groups(a, b), op)) {
      val (Seq(ga, gb), gridEps) = gridSnapped(a, b)
      val r = arealOverlay(ga, gb, op, Noder.BaseEpsFactor)
      if (arealSane(new Groups(ga, gb), op, r, math.max(gridEps, Noder.BaseEpsFactor))) r else null
    }.geom

  // --------------------------------------------------- point overlays

  private def pointsOf(g: Geom): Seq[(Double, Double)] =
    Geom.dump(g).collect { case p: GPoint if !p.isEmpty => (p.x, p.y) }.toSeq

  private def dedupPoints(pts: Seq[(Double, Double)]): Geom = {
    val seen = mutable.LinkedHashSet.empty[(Double, Double)]
    pts.foreach(p => seen += ((p._1 + 0.0, p._2 + 0.0)))
    if (seen.isEmpty) GPoint.empty
    else if (seen.size == 1) GPoint.xy(seen.head._1, seen.head._2)
    else GMPoint(seen.toArray.map(p => GPoint.xy(p._1, p._2)), CT.XY)
  }

  private def pointOverlay(a: Geom, b: Geom, op: Int): Geom = {
    def locIn(g: Geom, x: Double, y: Double): Boolean =
      Intersects.intersects(GPoint.xy(x, y), g)
    op match {
      case OpInt =>
        val pts = if (a.dimension == 0) pointsOf(a).filter(p => locIn(b, p._1, p._2))
                  else pointsOf(b).filter(p => locIn(a, p._1, p._2))
        dedupPoints(pts)
      case OpDiff =>
        if (a.dimension == 0) dedupPoints(pointsOf(a).filterNot(p => locIn(b, p._1, p._2)))
        else {
          // areal/line minus points = unchanged (points are measure zero)
          a
        }
      case OpUnion | OpSym =>
        if (a.dimension == 0 && b.dimension == 0) {
          if (op == OpUnion) dedupPoints(pointsOf(a) ++ pointsOf(b))
          else {
            val pa = pointsOf(a).map(p => (p._1 + 0.0, p._2 + 0.0)).toSet
            val pb = pointsOf(b).map(p => (p._1 + 0.0, p._2 + 0.0)).toSet
            dedupPoints(((pa diff pb) ++ (pb diff pa)).toSeq)
          }
        } else {
          val (pts, other) = if (a.dimension == 0) (a, b) else (b, a)
          val leftover = pointsOf(pts).filterNot(p => locIn(other, p._1, p._2))
          if (leftover.isEmpty) other
          else GColl(Array(other, dedupPoints(leftover)), CT.XY)
        }
    }
  }

  // ------------------------------------------------------ line x line

  private def addLinesOf(noder: Noder, g: Geom, srcA: Boolean): Unit = g match {
    case GLine(s) => noder.addLine(s, srcA)
    case GMLine(ls, _) => ls.foreach(s => noder.addLine(s, srcA))
    case _ => ()
  }

  private def lineLineOverlay(a: Geom, b: Geom, op: Int): Geom = {
    val noder = new Noder
    addLinesOf(noder, a, srcA = true)
    addLinesOf(noder, b, srcA = false)
    noder.node()
    val edges = noder.edges
    op match {
      case OpInt =>
        val shared = edges.filter(e => e.aSrc && e.bSrc)
        val lineG = linesFromEdges(shared)
        // isolated crossing points between A and B not covered by a
        // shared edge
        val endpoints = mutable.HashSet.empty[(Double, Double)]
        shared.foreach { e =>
          endpoints += ((e.x1, e.y1)); endpoints += ((e.x2, e.y2)) }
        val touchPts = abPoints(noder)
          .filterNot(p => endpoints.contains(p))
          .filterNot(p => shared.exists(e => Alg.onSegment(e.x1, e.y1, e.x2, e.y2, p._1, p._2)))
        assembleMixed(GPoly(Array.empty, CT.XY), lineG, dedupPoints(touchPts), emptyDim = 1)
      case OpUnion => linesFromEdges(edges)
      case OpDiff => linesFromEdges(edges.filter(e => e.aSrc && !e.bSrc))
      case OpSym => linesFromEdges(edges.filter(e => e.aSrc ^ e.bSrc))
    }
  }

  // ----------------------------------------------------- line x areal

  /** line op areal. For (2,1) inputs the caller passes the line first;
    * `lineIsA` tells us whether the original left operand was the line
    * (matters for difference only).
    */
  private def lineArealOverlay(line: Geom, areal: Geom, op: Int,
                               lineIsA: Boolean): Geom = {
    val noder = new Noder
    addLinesOf(noder, line, srcA = true)
    addRingsOf(noder, areal, srcA = false)
    noder.node()
    // classify only the pieces that came from the line
    val pieces = noder.edges.filter(_.aSrc)
    def loc(e: NodedEdge): Int =
      if (e.bSrc) 0 // collinear with the areal boundary
      else Alg.pointInAreal(areal, (e.x1 + e.x2) / 2, (e.y1 + e.y2) / 2)
    op match {
      case OpInt =>
        val kept = pieces.filter(e => loc(e) >= 0)
        val lineG = linesFromEdges(kept)
        val endpoints = mutable.HashSet.empty[(Double, Double)]
        kept.foreach { e => endpoints += ((e.x1, e.y1)); endpoints += ((e.x2, e.y2)) }
        val touchPts = abPoints(noder)
          .filterNot(p => endpoints.contains(p))
          .filterNot(p => kept.exists(e => Alg.onSegment(e.x1, e.y1, e.x2, e.y2, p._1, p._2)))
          .filter(p => Alg.pointInAreal(areal, p._1, p._2) >= 0)
        assembleMixed(GPoly(Array.empty, CT.XY), lineG, dedupPoints(touchPts), emptyDim = 1)
      case OpDiff =>
        if (lineIsA) linesFromEdges(pieces.filter(e => loc(e) < 0))
        else areal // areal minus line: lines are measure zero
      case OpUnion | OpSym =>
        val outside = linesFromEdges(pieces.filter(e => loc(e) < 0))
        if (outside.isEmpty) areal
        else GColl(Array(areal, outside), CT.XY)
    }
  }

  // ---------------------------------------------------- areal x areal

  /** g's polygons, in the order they become parity groups. */
  private def polygonsOf(g: Geom): IndexedSeq[GPoly] = g match {
    case p: GPoly => IndexedSeq(p)
    case GMPoly(ps, ct) => ps.toIndexedSeq.map(GPoly(_, ct))
    case GColl(cs, _) => cs.toIndexedSeq.flatMap(polygonsOf)
    case _ => IndexedSeq.empty
  }

  /** Adds g's rings to the noder, each closed (the parser keeps a ring
    * as given), and after each polygon appends the noder's segment
    * count to `ends`: the end of that polygon's parity group.
    */
  private[core] def addRingsOf(noder: Noder, g: Geom, srcA: Boolean,
                               ends: mutable.ArrayBuffer[Int] = null): Unit =
    polygonsOf(g).foreach { p =>
      p.rings.foreach { r =>
        noder.addLine(r, srcA)
        if (r.n >= 2 && (r.x(0) != r.x(r.n - 1) || r.y(0) != r.y(r.n - 1)))
          noder.addLine(Seqn.of(r.x(r.n - 1), r.y(r.n - 1), r.x(0), r.y(0)), srcA)
      }
      if (ends != null) ends += noder.segmentCount
    }

  private def keep(op: Int, inA: Boolean, inB: Boolean): Boolean = op match {
    case OpInt => inA && inB
    case OpUnion => inA || inB
    case OpDiff => inA && !inB
    case OpSym => inA ^ inB
  }

  /** An overlay rung's result and, per input and per parity group, the
    * area of the faces labelled inside (what its area check judges).
    */
  private[core] final class Overlaid(val geom: Geom, val areaA: Double, val areaB: Double,
                                     val groupArea: Array[Double])

  /** Each input polygon is its own parity group. */
  private[core] def arealOverlay(a: Geom, b: Geom, op: Int, epsFactor: Double): Overlaid = {
    val noder = new Noder(epsFactor)
    val ends = mutable.ArrayBuffer.empty[Int]
    addRingsOf(noder, a, srcA = true, ends)
    val groupsA = ends.length
    addRingsOf(noder, b, srcA = false, ends)
    noder.node()
    val arr = new Arrangement(noder.edges)
    arr.build()
    val groupArea = new Array[Double](ends.length)
    val label = arr.labelFaces(noder, ends.toArray, groupsA, groupArea)
    val keptFace = new Array[Boolean](arr.nFaces)
    var areaA = 0.0; var areaB = 0.0
    var f = 1 // face 0, the unbounded face, is in neither input
    while (f < arr.nFaces) {
      val inA = (label(f) & 1) != 0; val inB = (label(f) & 2) != 0
      keptFace(f) = keep(op, inA, inB)
      if (inA) areaA += arr.faceArea(f)
      if (inB) areaB += arr.faceArea(f)
      f += 1
    }
    val arealResult = normalizePinches(arr.dissolve(keptFace))
    val geom = if (op == OpInt) withLowerDims(noder, arr, keptFace, arealResult) else arealResult
    new Overlaid(geom, areaA, areaB, groupArea)
  }

  /** The intersection's lower-dimensional output besides its areal
    * part: collinear boundary pieces between A and B not adjacent to a
    * kept face, then isolated touch points not covered by anything
    * kept. Typical clean polygon intersections have neither — skip the
    * hash-set bookkeeping.
    */
  private def withLowerDims(noder: Noder, arr: Arrangement, keptFace: Array[Boolean],
                            arealResult: Geom): Geom = {
    if (noder.abNodeCount == 0 && !arr.edges.exists(e => e.aSrc && e.bSrc)) return arealResult
    val lineG = linesFromEdges(arr.edges.indices.collect {
      case ei if arr.edges(ei).aSrc && arr.edges(ei).bSrc &&
        !keptFace(arr.leftFace(ei)) && !keptFace(arr.rightFace(ei)) => arr.edges(ei)
    })

    val touchPts =
      if (noder.abNodeCount == 0) Seq.empty[(Double, Double)]
      else {
        // the A-B nodes are few (one per A-B contact); look edge
        // endpoints up among them instead of building a covered-point
        // set over every edge endpoint
        val covered = new Array[Boolean](noder.abNodeCount)
        var nCovered = 0
        def cover(k: Int): Unit = if (k >= 0 && !covered(k)) { covered(k) = true; nCovered += 1 }
        var ei = 0
        while (ei < arr.edges.length && nCovered < covered.length) {
          val e = arr.edges(ei)
          val keptAdj = keptFace(arr.leftFace(ei)) || keptFace(arr.rightFace(ei)) ||
            (e.aSrc && e.bSrc)
          if (keptAdj) {
            cover(noder.abNodeIndex(e.x1, e.y1))
            cover(noder.abNodeIndex(e.x2, e.y2))
          }
          ei += 1
        }
        val pts = abPoints(noder)
        pts.indices.filterNot(covered).map(pts)
      }
    assembleMixed(arealResult, lineG, dedupPoints(touchPts))
  }

  // ------------------------------------------------------- assembly

  /** The noder's A-B nodes (candidate touch points), in first-seen
    * order.
    */
  private def abPoints(noder: Noder): IndexedSeq[(Double, Double)] =
    IndexedSeq.tabulate(noder.abNodeCount)(k => (noder.abNodeX(k), noder.abNodeY(k)))

  /** Merge noded 2-point edges into maximal linestrings through
    * degree-2 nodes.
    */
  private def linesFromEdges(edges: Seq[NodedEdge]): Geom = {
    if (edges.isEmpty) return GLine(Seqn.empty2D)
    type Pt = (Double, Double)
    val adj = mutable.HashMap.empty[Pt, mutable.ArrayBuffer[Int]]
    edges.zipWithIndex.foreach { case (e, i) =>
      adj.getOrElseUpdate((e.x1, e.y1), mutable.ArrayBuffer.empty) += i
      adj.getOrElseUpdate((e.x2, e.y2), mutable.ArrayBuffer.empty) += i
    }
    val used = new Array[Boolean](edges.length)
    val out = mutable.ArrayBuffer.empty[Seqn]

    def walk(start: Int, fromPt: Pt): mutable.ArrayBuffer[Pt] = {
      val pts = mutable.ArrayBuffer[Pt](fromPt)
      var cur = start
      var at = fromPt
      var continue = true
      while (continue) {
        used(cur) = true
        val e = edges(cur)
        val next: Pt = if ((e.x1, e.y1) == at) (e.x2, e.y2) else (e.x1, e.y1)
        pts += next
        at = next
        val cands = adj(at).filterNot(used(_))
        if (cands.length == 1 && adj(at).length == 2) cur = cands.head
        else continue = false
      }
      pts
    }

    // start walks at nodes that are not degree-2 (chain endpoints)
    for ((pt, ids) <- adj if ids.length != 2; i <- ids if !used(i))
      out += seqnOf(walk(i, pt).toSeq)
    // leftover pure cycles
    edges.indices.foreach { i =>
      if (!used(i)) {
        val e = edges(i)
        out += seqnOf(walk(i, (e.x1, e.y1)).toSeq)
      }
    }
    if (out.isEmpty) GLine(Seqn.empty2D)
    else if (out.length == 1) GLine(out.head)
    else GMLine(out.toArray, CT.XY)
  }

  private def seqnOf(pts: Seq[(Double, Double)]): Seqn = {
    val arr = new Array[Double](pts.length * 2)
    var i = 0
    pts.foreach { p => arr(i) = p._1; arr(i + 1) = p._2; i += 2 }
    Seqn.xy(arr)
  }

  /** Combine areal + line + point results into the leanest type;
    * all-empty yields the dim-typed empty (reference:
    * alg_overlay.go:29-44 createEmptyResult).
    */
  private def assembleMixed(areal: Geom, line: Geom, point: Geom,
                            emptyDim: Int = 2): Geom = {
    val parts = mutable.ArrayBuffer.empty[Geom]
    if (!areal.isEmpty) parts += areal
    if (!line.isEmpty) parts += line
    if (!point.isEmpty) parts += point
    parts.length match {
      case 0 => Overlay.emptyOfDim(emptyDim)
      case 1 => parts.head
      case _ => GColl(parts.toArray, CT.XY)
    }
  }
}

object Noder {
  /** Default snap tolerance as a fraction of the coordinate scale. */
  final val BaseEpsFactor = 1e-12
  /** Source-tag bits of the two operands. A segment's tag holds exactly
    * one of them; callers may set further bits of their own.
    */
  final val SrcA = 1
  final val SrcB = 2

  /** Mixed hash of a point's coordinate bits (-0.0 and 0.0 alike). */
  @inline def pointKey(x: Double, y: Double): Long = {
    var h = java.lang.Double.doubleToLongBits(x + 0.0) * 0x9E3779B97F4A7C15L
    h ^= java.lang.Long.rotateLeft(java.lang.Double.doubleToLongBits(y + 0.0) * 0xC2B2AE3D27D4EB4FL, 31)
    h
  }
}

/** One noded, deduplicated, undirected edge of the overlay graph. */
final case class NodedEdge(x1: Double, y1: Double, x2: Double, y2: Double,
                           var aSrc: Boolean, var bSrc: Boolean)

/** Open-addressing hash table from a long key to the ids filed under
  * it. Ids are handed out densely (0, 1, 2, ...) by `add`, and each
  * key's ids are chained in insertion order; callers keep the payload
  * in their own arrays indexed by id. The noder's keys are mixed
  * coordinate hashes, so two distinct points may share a key: callers
  * walk the chain and compare the payload exactly. Most lookups miss
  * (the snap registry probes nine cells per point), so the table keeps
  * at most a quarter of its slots in use.
  */
private[core] final class IdChains(expectedIds: Int) {
  private var mask = Integer.highestOneBit(math.max(8, 4 * expectedIds) - 1) * 2 - 1
  private var keys = new Array[Long](mask + 1)
  private var heads = freeSlots(mask + 1) // first id of the slot's chain; -1 = free
  private var tails = new Array[Int](mask + 1)
  private var nexts = new Array[Int](math.max(4, expectedIds))
  private var ids = 0
  private var keyCount = 0

  /** Number of ids handed out. */
  def size: Int = ids

  @inline private def home(key: Long): Int = {
    val h = (key ^ (key >>> 29)) * 0xBF58476D1CE4E5B9L
    (h ^ (h >>> 32)).toInt & mask
  }

  private def slotOf(key: Long): Int = {
    var s = home(key)
    while (heads(s) >= 0 && keys(s) != key) s = (s + 1) & mask
    s
  }

  /** First id filed under `key`, or -1. */
  def first(key: Long): Int = heads(slotOf(key))

  /** Id after `id` in its key's chain, or -1. */
  def next(id: Int): Int = nexts(id)

  /** Files a new id under `key`, after the ids already there. */
  def add(key: Long): Int = {
    val id = ids
    if (id == nexts.length) nexts = java.util.Arrays.copyOf(nexts, id * 2)
    nexts(id) = -1
    ids += 1
    val s = slotOf(key)
    if (heads(s) >= 0) { nexts(tails(s)) = id; tails(s) = id }
    else {
      keys(s) = key; heads(s) = id; tails(s) = id
      keyCount += 1
      if (keyCount * 4 > mask) grow()
    }
    id
  }

  private def grow(): Unit = {
    val (ok, oh, ot) = (keys, heads, tails)
    mask = mask * 2 + 1
    keys = new Array[Long](mask + 1)
    heads = freeSlots(mask + 1)
    tails = new Array[Int](mask + 1)
    var s = 0
    while (s < ok.length) {
      if (oh(s) >= 0) {
        val t = slotOf(ok(s))
        keys(t) = ok(s); heads(t) = oh(s); tails(t) = ot(s)
      }
      s += 1
    }
  }

  private def freeSlots(n: Int): Array[Int] = {
    val a = new Array[Int](n)
    java.util.Arrays.fill(a, -1)
    a
  }
}

/** Segment noder: collects tagged segments, splits them at mutual
  * intersections (computed once per crossing pair so the split point is
  * bit-identical on both), dedupes sub-segments, and records the nodes
  * where an A-segment meets a B-segment (candidate touch points).
  * Each noded edge keeps the OR of the tags of the segments running
  * along it in its stored direction (`fwdTags`) and against it
  * (`revTags`), and the ids of those segments (`firstSource`). With
  * `epsFactor = 0` nothing is snapped and a vertex nodes a segment only
  * when it lies exactly on it.
  */
final class Noder(epsFactor: Double = Noder.BaseEpsFactor) {
  // segments: x1,y1,x2,y2 at 4*i
  private var segXY = new Array[Double](64)
  private var segTag = new Array[Int](16)
  private var nSeg = 0

  // split points: per-segment chains in insertion order
  private var splitHead: Array[Int] = _
  private var splitTail: Array[Int] = _
  private var splitXY = new Array[Double](32)
  private var splitNext = new Array[Int](16)
  private var nSplit = 0

  // nodes where an A-source segment meets a B-source segment, distinct,
  // in first-seen order
  private val abIds = new IdChains(4)
  private var abXY = new Array[Double](8)
  private var nAb = 0

  var edges: IndexedSeq[NodedEdge] = IndexedSeq.empty
  var fwdTags: Array[Int] = Array.emptyIntArray
  var revTags: Array[Int] = Array.emptyIntArray
  // the segments each edge came from: a chain per edge through srcNext,
  // holding segment ids (the order of addLine's non-degenerate segments)
  private var srcHead: Array[Int] = Array.emptyIntArray
  private var srcSeg: Array[Int] = Array.emptyIntArray
  private var srcNext: Array[Int] = Array.emptyIntArray

  /** Number of non-degenerate segments added so far. */
  def segmentCount: Int = nSeg
  /** First link of edge e's source chain, or -1. */
  def firstSource(e: Int): Int = srcHead(e)
  def sourceSegment(link: Int): Int = srcSeg(link)
  def nextSource(link: Int): Int = srcNext(link)

  // ---- eps-snapping node registry (the snapping-noder idea from the
  // reference's fallback ladder, jts OverlayNGRobust): vertices and
  // intersection points within eps = 1e-12 * coordinate scale collapse
  // to one node, closing the floating-point micro-cracks that
  // independently-computed coordinates (e.g. r*cos(pi/2) = 9e-17 vs an
  // exact 0) would otherwise open in the arrangement.
  private var eps = 0.0
  // registered points filed by a MIXED hash of their eps-grid cell
  // (ix, iy); a lookup scans the 3x3 neighbouring cells' chains in
  // registration order. Hash collisions between distinct cells are
  // harmless: candidates are accepted only by the exact
  // |dx|,|dy| <= eps comparison.
  private var snapIds: IdChains = _
  private var snapXY: Array[Double] = _
  // snap's result (fields, not a tuple: snap runs once per vertex and
  // per crossing)
  private var sx = 0.0
  private var sy = 0.0

  @inline private def cellKey(ix: Long, iy: Long): Long =
    ix * 0x9E3779B97F4A7C15L ^ java.lang.Long.rotateLeft(iy * 0xC2B2AE3D27D4EB4FL, 31)

  /** Snaps (x0, y0) to the first registered point within eps, or
    * registers it; the result lands in (sx, sy).
    */
  private def snap(x0: Double, y0: Double): Unit = {
    val x = x0 + 0.0; val y = y0 + 0.0 // normalize -0.0
    sx = x; sy = y
    if (eps <= 0) return
    val ix = math.floor(x / eps).toLong; val iy = math.floor(y / eps).toLong
    var dx = -1
    while (dx <= 1) {
      var dy = -1
      while (dy <= 1) {
        var id = snapIds.first(cellKey(ix + dx, iy + dy))
        while (id >= 0) {
          val px = snapXY(2 * id); val py = snapXY(2 * id + 1)
          if (math.abs(px - x) <= eps && math.abs(py - y) <= eps) {
            sx = px; sy = py
            return
          }
          id = snapIds.next(id)
        }
        dy += 1
      }
      dx += 1
    }
    val id = snapIds.add(cellKey(ix, iy))
    if (2 * id + 2 > snapXY.length) snapXY = java.util.Arrays.copyOf(snapXY, snapXY.length * 2)
    snapXY(2 * id) = x; snapXY(2 * id + 1) = y
  }

  def addLine(s: Seqn, srcA: Boolean): Unit = addLine(s, if (srcA) Noder.SrcA else Noder.SrcB)

  def addLine(s: Seqn, tag: Int): Unit = {
    var i = 0
    while (i < s.n - 1) {
      val x1 = s.x(i); val y1 = s.y(i); val x2 = s.x(i + 1); val y2 = s.y(i + 1)
      if (x1 != x2 || y1 != y2) {
        if (4 * nSeg + 4 > segXY.length) segXY = java.util.Arrays.copyOf(segXY, segXY.length * 2)
        if (nSeg == segTag.length) segTag = java.util.Arrays.copyOf(segTag, nSeg * 2)
        val b = 4 * nSeg
        segXY(b) = x1 + 0.0; segXY(b + 1) = y1 + 0.0
        segXY(b + 2) = x2 + 0.0; segXY(b + 3) = y2 + 0.0
        segTag(nSeg) = tag
        nSeg += 1
      }
      i += 1
    }
  }

  private def addSplit(i: Int, x: Double, y: Double): Unit = {
    val b = 4 * i
    if ((x != segXY(b) || y != segXY(b + 1)) && (x != segXY(b + 2) || y != segXY(b + 3))) {
      if (nSplit == splitNext.length) {
        splitNext = java.util.Arrays.copyOf(splitNext, nSplit * 2)
        splitXY = java.util.Arrays.copyOf(splitXY, nSplit * 4)
      }
      splitXY(2 * nSplit) = x; splitXY(2 * nSplit + 1) = y
      splitNext(nSplit) = -1
      if (splitHead(i) < 0) splitHead(i) = nSplit else splitNext(splitTail(i)) = nSplit
      splitTail(i) = nSplit
      nSplit += 1
    }
  }

  /** Index of (x, y) among the A-B nodes, or -1. */
  def abNodeIndex(x: Double, y: Double): Int = {
    var id = abIds.first(Noder.pointKey(x, y))
    while (id >= 0 && !(abXY(2 * id) == x && abXY(2 * id + 1) == y)) id = abIds.next(id)
    id
  }

  private def addAb(x: Double, y: Double): Unit =
    if (abNodeIndex(x, y) < 0) {
      val id = abIds.add(Noder.pointKey(x, y))
      if (2 * id + 2 > abXY.length) abXY = java.util.Arrays.copyOf(abXY, abXY.length * 2)
      abXY(2 * id) = x; abXY(2 * id + 1) = y
      nAb += 1
    }

  /** Number of distinct nodes where an A-source segment meets a
    * B-source segment.
    */
  def abNodeCount: Int = nAb
  def abNodeX(k: Int): Double = abXY(2 * k)
  def abNodeY(k: Int): Double = abXY(2 * k + 1)

  def node(): Unit = {
    // eps from coordinate scale, then canonicalize every input vertex
    // through the snap registry (input vertices register first, so
    // derived intersection points snap TO them, not the reverse)
    var maxAbs = 0.0
    var k = 0
    while (k < 4 * nSeg) { val v = math.abs(segXY(k)); if (v > maxAbs) maxAbs = v; k += 1 }
    eps = maxAbs * epsFactor
    // input vertices plus a margin for crossings
    if (eps > 0) {
      snapIds = new IdChains(nSeg + nSeg / 4 + 4)
      snapXY = new Array[Double](2 * (nSeg + nSeg / 4 + 4))
    }
    val segId = new Array[Int](nSeg)
    var w = 0
    var r = 0
    while (r < nSeg) {
      val b = 4 * r
      snap(segXY(b), segXY(b + 1)); val x1 = sx; val y1 = sy
      snap(segXY(b + 2), segXY(b + 3)); val x2 = sx; val y2 = sy
      if (x1 != x2 || y1 != y2) {
        segXY(4 * w) = x1; segXY(4 * w + 1) = y1; segXY(4 * w + 2) = x2; segXY(4 * w + 3) = y2
        segTag(w) = segTag(r)
        segId(w) = r
        w += 1
      }
      r += 1
    }
    nSeg = w

    val n = nSeg
    splitHead = new Array[Int](n)
    java.util.Arrays.fill(splitHead, -1)
    splitTail = new Array[Int](n)
    val envs = new Array[Env](n)
    var i = 0
    while (i < n) {
      val b = 4 * i
      envs(i) = Env(math.min(segXY(b), segXY(b + 2)) - eps, math.min(segXY(b + 1), segXY(b + 3)) - eps,
        math.max(segXY(b), segXY(b + 2)) + eps, math.max(segXY(b + 1), segXY(b + 3)) + eps)
      i += 1
    }
    RTree.bulkLoad(envs).selfJoin { (i, j) => intersectPair(i, j); true }

    // split + dedupe: edges are numbered in first-seen order (the
    // arrangement's half-edge ids, contour order, and ultimately ring
    // start points depend on it) and filed by a mixed hash of their
    // coordinate bits; hash collisions are resolved by exact
    // coordinate comparison
    // (a segment with k distinct split points yields k + 1 pieces, so
    // n + nSplit bounds the edge count)
    val edgeCap = n + nSplit
    val edgeIds = new IdChains(edgeCap)
    val eXY = new Array[Double](4 * edgeCap)
    val eFwd = new Array[Int](edgeCap)
    val eRev = new Array[Int](edgeCap)
    srcHead = new Array[Int](edgeCap)
    srcSeg = new Array[Int](edgeCap)
    srcNext = new Array[Int](edgeCap)
    var nSrc = 0
    def edgeKey(ax: Double, ay: Double, bx: Double, by: Double): Long = {
      var h = java.lang.Double.doubleToLongBits(ax) * 0x9E3779B97F4A7C15L
      h ^= java.lang.Long.rotateLeft(java.lang.Double.doubleToLongBits(ay) * 0xC2B2AE3D27D4EB4FL, 17)
      h ^= java.lang.Long.rotateLeft(java.lang.Double.doubleToLongBits(bx) * 0x165667B19E3779F9L, 31)
      h ^= java.lang.Long.rotateLeft(java.lang.Double.doubleToLongBits(by) * 0x27D4EB2F165667C5L, 47)
      h
    }
    def emit(ax0: Double, ay0: Double, bx0: Double, by0: Double, seg: Int): Unit =
      if (ax0 != bx0 || ay0 != by0) {
        val flip = !(ax0 < bx0 || (ax0 == bx0 && ay0 <= by0))
        val ax = if (flip) bx0 else ax0; val ay = if (flip) by0 else ay0
        val bx = if (flip) ax0 else bx0; val by = if (flip) ay0 else by0
        val key = edgeKey(ax, ay, bx, by)
        var e = edgeIds.first(key)
        while (e >= 0 && !(eXY(4 * e) == ax && eXY(4 * e + 1) == ay &&
                           eXY(4 * e + 2) == bx && eXY(4 * e + 3) == by)) e = edgeIds.next(e)
        if (e < 0) {
          e = edgeIds.add(key)
          eXY(4 * e) = ax; eXY(4 * e + 1) = ay; eXY(4 * e + 2) = bx; eXY(4 * e + 3) = by
          srcHead(e) = -1
        }
        if (flip) eRev(e) |= segTag(seg) else eFwd(e) |= segTag(seg)
        srcSeg(nSrc) = segId(seg); srcNext(nSrc) = srcHead(e); srcHead(e) = nSrc
        nSrc += 1
      }
    // one segment's split points: coordinates, parameter t along the
    // segment, and their order
    var px = new Array[Double](8); var py = new Array[Double](8)
    var pt = new Array[Double](8)
    var ord = new Array[Int](8); var tmp = new Array[Int](8)
    i = 0
    while (i < n) {
      val b = 4 * i
      val x1 = segXY(b); val y1 = segXY(b + 1); val x2 = segXY(b + 2); val y2 = segXY(b + 3)
      val dx = x2 - x1; val dy = y2 - y1
      val horiz = math.abs(dx) >= math.abs(dy)
      var m = 0
      var c = splitHead(i)
      while (c >= 0) {
        if (m == px.length) {
          px = java.util.Arrays.copyOf(px, m * 2); py = java.util.Arrays.copyOf(py, m * 2)
          pt = java.util.Arrays.copyOf(pt, m * 2)
          ord = new Array[Int](m * 2); tmp = new Array[Int](m * 2)
        }
        val x = splitXY(2 * c); val y = splitXY(2 * c + 1)
        px(m) = x; py(m) = y
        pt(m) = if (horiz) (x - x1) / dx else (y - y1) / dy
        m += 1
        c = splitNext(c)
      }
      k = 0
      while (k < m) { ord(k) = k; k += 1 }
      // stable sort by t; equal points have bit-equal t, so a repeat of
      // a point lands in the run of equal t after its first occurrence
      // and is dropped there (= distinct, then a stable sort by t)
      RTree.sortIdsByKey(ord, 0, m, pt, tmp)
      var ax = x1; var ay = y1
      var runStart = 0
      k = 0
      while (k < m) {
        val p = ord(k)
        if (k > 0 && java.lang.Double.compare(pt(ord(k - 1)), pt(p)) != 0) runStart = k
        var dup = false
        var q = runStart
        while (!dup && q < k) {
          dup = px(ord(q)) == px(p) && py(ord(q)) == py(p)
          q += 1
        }
        if (!dup) {
          emit(ax, ay, px(p), py(p), i)
          ax = px(p); ay = py(p)
        }
        k += 1
      }
      emit(ax, ay, x2, y2, i)
      i += 1
    }
    // array-backed: Arrangement/overlay index edges(i) in tight loops,
    // so positional apply must be O(1), not List's O(i)
    val out = new Array[NodedEdge](edgeIds.size)
    i = 0
    while (i < out.length) {
      val t = eFwd(i) | eRev(i)
      out(i) = NodedEdge(eXY(4 * i), eXY(4 * i + 1), eXY(4 * i + 2), eXY(4 * i + 3),
        (t & Noder.SrcA) != 0, (t & Noder.SrcB) != 0)
      i += 1
    }
    edges = scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    fwdTags = eFwd
    revTags = eRev
  }

  private def intersectPair(i: Int, j: Int): Unit = {
    val a = 4 * i; val b = 4 * j
    val ax1 = segXY(a); val ay1 = segXY(a + 1); val ax2 = segXY(a + 2); val ay2 = segXY(a + 3)
    val bx1 = segXY(b); val by1 = segXY(b + 1); val bx2 = segXY(b + 2); val by2 = segXY(b + 3)
    val o1 = Alg.orient(ax1, ay1, ax2, ay2, bx1, by1)
    val o2 = Alg.orient(ax1, ay1, ax2, ay2, bx2, by2)
    val o3 = Alg.orient(bx1, by1, bx2, by2, ax1, ay1)
    val o4 = Alg.orient(bx1, by1, bx2, by2, ax2, ay2)
    val crossSrc = ((segTag(i) ^ segTag(j)) & Noder.SrcA) != 0

    if (o1 * o2 < 0 && o3 * o4 < 0) {
      // proper crossing: one shared point, computed once, snapped to
      // any pre-existing node within eps. Without snapping nothing would
      // merge two roundings of one crossing, so there it is rounded once
      // from the exact point.
      val (cx, cy) =
        if (eps > 0) Alg.crossingPoint(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
        else Alg.crossingPointExact(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
      snap(cx, cy)
      val px = sx; val py = sy
      addSplit(i, px, py); addSplit(j, px, py)
      if (crossSrc) addAb(px, py)
      return
    }
    if (o1 == 0 && o2 == 0 && o3 == 0 && o4 == 0) {
      // collinear: project endpoints onto the other segment
      splitIfOn(i, bx1, by1, crossSrc); splitIfOn(i, bx2, by2, crossSrc)
      splitIfOn(j, ax1, ay1, crossSrc); splitIfOn(j, ax2, ay2, crossSrc)
      return
    }
    // endpoint touching / T-junctions: eps-tolerant — a vertex within
    // eps of the other segment nodes it (snapping-noder behavior); with
    // eps = 0, only a vertex exactly on it, so only one whose
    // orientation to the segment is 0
    if (eps > 0 || o1 == 0) splitIfNear(i, bx1, by1, crossSrc)
    if (eps > 0 || o2 == 0) splitIfNear(i, bx2, by2, crossSrc)
    if (eps > 0 || o3 == 0) splitIfNear(j, ax1, ay1, crossSrc)
    if (eps > 0 || o4 == 0) splitIfNear(j, ax2, ay2, crossSrc)
  }

  private def splitIfOn(si: Int, px: Double, py: Double, crossSrc: Boolean): Unit = {
    val b = 4 * si
    if (Alg.onSegment(segXY(b), segXY(b + 1), segXY(b + 2), segXY(b + 3), px, py)) {
      addSplit(si, px, py)
      if (crossSrc) addAb(px, py)
    }
  }

  private def splitIfNear(si: Int, px: Double, py: Double, crossSrc: Boolean): Unit = {
    val b = 4 * si
    // a same-source point equal to one of the segment's own endpoints
    // (consecutive ring segments share one) is a no-op: addSplit drops
    // it and there is no A-B node to record
    if (!crossSrc && ((px == segXY(b) && py == segXY(b + 1)) || (px == segXY(b + 2) && py == segXY(b + 3))))
      return
    val near =
      if (eps > 0) Alg.distPointSeg(px, py, segXY(b), segXY(b + 1), segXY(b + 2), segXY(b + 3)) <= eps
      else Alg.onSegment(segXY(b), segXY(b + 1), segXY(b + 2), segXY(b + 3), px, py)
    if (near) {
      addSplit(si, px, py)
      if (crossSrc) addAb(px, py)
    }
  }
}

/** Planar arrangement over noded edges: half-edge structure, left-face
  * traversal, hole-contour nesting, face labels from the edges crossed,
  * face interior points, and dissolve of kept faces into shells + holes.
  */
final class Arrangement(val edges: IndexedSeq[NodedEdge]) {
  // node registry: primitive coordinate columns, node ids filed by a
  // mixed hash of the coordinate bits (collisions resolved exactly);
  // nid() runs once per half-edge
  private val nodeIds = new IdChains(math.max(16, edges.length))
  private var nodeXs = new Array[Double](math.max(16, edges.length))
  private var nodeYs = new Array[Double](math.max(16, edges.length))
  @inline private def nodeX(i: Int): Double = nodeXs(i)
  @inline private def nodeY(i: Int): Double = nodeYs(i)
  @inline private def nodeHash(x: Double, y: Double): Long = {
    var h = java.lang.Double.doubleToLongBits(x) * 0x9E3779B97F4A7C15L
    h ^= java.lang.Long.rotateLeft(java.lang.Double.doubleToLongBits(y) * 0xC2B2AE3D27D4EB4FL, 31)
    h
  }
  private def nid(x: Double, y: Double): Int = {
    val key = nodeHash(x, y)
    var id = nodeIds.first(key)
    while (id >= 0) {
      if (nodeXs(id) == x && nodeYs(id) == y) return id
      id = nodeIds.next(id)
    }
    id = nodeIds.add(key)
    if (id == nodeXs.length) {
      nodeXs = java.util.Arrays.copyOf(nodeXs, id * 2)
      nodeYs = java.util.Arrays.copyOf(nodeYs, id * 2)
    }
    nodeXs(id) = x; nodeYs(id) = y
    id
  }

  // half-edges: 2*i = edge i directed (p1->p2), 2*i+1 = (p2->p1)
  private var heFrom: Array[Int] = _
  private var heTo: Array[Int] = _
  private var heNext: Array[Int] = _ // next half-edge in left-face walk
  private var heFace: Array[Int] = _
  private var contourOf: Array[Int] = _ // half-edge -> contour id
  // contours, compressed: contour c walks contourHe(contourStart(c) until contourStart(c + 1))
  private var contourStart: Array[Int] = _
  private var contourHe: Array[Int] = _
  private var contourArea: Array[Double] = _
  private var nContours = 0
  private var contourFace: Array[Int] = _
  var nFaces: Int = 0
  // face f's contours: faceContour(faceStart(f) until faceStart(f + 1)),
  // a bounded face's outer (CCW) contour first
  private var faceStart: Array[Int] = _
  private var faceContour: Array[Int] = _

  @inline private def twin(h: Int): Int = h ^ 1

  def build(): Unit = {
    val m = edges.length
    heFrom = new Array[Int](2 * m); heTo = new Array[Int](2 * m)
    var i = 0
    while (i < m) {
      val e = edges(i)
      val u = nid(e.x1, e.y1); val v = nid(e.x2, e.y2)
      heFrom(2 * i) = u; heTo(2 * i) = v
      heFrom(2 * i + 1) = v; heTo(2 * i + 1) = u
      i += 1
    }
    // outgoing half-edges per node (compressed rows, ascending half-edge
    // id within a node), then each node's row stably sorted by angle
    // (CCW order)
    val nNodes = nodeIds.size
    val outStart = new Array[Int](nNodes + 1)
    i = 0
    while (i < 2 * m) { outStart(heFrom(i) + 1) += 1; i += 1 }
    i = 0
    while (i < nNodes) { outStart(i + 1) += outStart(i); i += 1 }
    val out = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(outStart, nNodes)
    i = 0
    while (i < 2 * m) { out(fill(heFrom(i))) = i; fill(heFrom(i)) += 1; i += 1 }
    val angle = new Array[Double](2 * m)
    i = 0
    while (i < 2 * m) {
      val fx = nodeX(heFrom(i)); val fy = nodeY(heFrom(i))
      val tx = nodeX(heTo(i)); val ty = nodeY(heTo(i))
      angle(i) = math.atan2(ty - fy, tx - fx)
      i += 1
    }
    val rankAt = new Array[Int](2 * m) // position of h in its node's CCW row
    val tmp = new Array[Int](2 * m)
    var v = 0
    while (v < nNodes) {
      RTree.sortIdsByKey(out, outStart(v), outStart(v + 1), angle, tmp)
      var k = outStart(v)
      while (k < outStart(v + 1)) { rankAt(out(k)) = k - outStart(v); k += 1 }
      v += 1
    }
    // next(h): at node v = to(h), take twin(h) (outgoing at v) and step
    // to the next outgoing half-edge in CLOCKWISE order (previous in the
    // CCW-sorted row) — the standard left-face traversal rule
    heNext = new Array[Int](2 * m)
    i = 0
    while (i < 2 * m) {
      val t = twin(i)
      val s = outStart(heFrom(t))
      val d = outStart(heFrom(t) + 1) - s
      heNext(i) = out(s + (rankAt(t) - 1 + d) % d)
      i += 1
    }
    // contours
    contourOf = new Array[Int](2 * m)
    java.util.Arrays.fill(contourOf, -1)
    contourHe = new Array[Int](2 * m)
    var starts = new Array[Int](16)
    var areas = new Array[Double](16)
    var nc = 0
    var filled = 0
    i = 0
    while (i < 2 * m) {
      if (contourOf(i) == -1) {
        if (nc + 1 == starts.length) {
          starts = java.util.Arrays.copyOf(starts, starts.length * 2)
          areas = java.util.Arrays.copyOf(areas, areas.length * 2)
        }
        starts(nc) = filled
        var h = i
        while (contourOf(h) == -1) {
          contourOf(h) = nc
          contourHe(filled) = h; filled += 1
          h = heNext(h)
        }
        nc += 1
      }
      i += 1
    }
    starts(nc) = filled
    // signed areas: shoelace about each contour's first node (about the
    // origin, the products' rounding at geographic coordinates exceeds
    // the area of a face 1e-7 across and can flip its sign), skipping
    // edges the contour walks both ways: their terms cancel exactly, so
    // a walk round linework that encloses nothing has area exactly 0
    var c = 0
    while (c < nc) {
      val o = heFrom(contourHe(starts(c)))
      var s = 0.0
      var k = starts(c)
      while (k < starts(c + 1)) {
        val h = contourHe(k); k += 1
        if (contourOf(h ^ 1) != c)
          s += (nodeX(heFrom(h)) - nodeX(o)) * (nodeY(heTo(h)) - nodeY(o)) -
            (nodeX(heTo(h)) - nodeX(o)) * (nodeY(heFrom(h)) - nodeY(o))
      }
      areas(c) = s / 2; c += 1
    }
    contourStart = starts
    contourArea = areas
    nContours = nc
    groupContoursIntoFaces()
    heFace = new Array[Int](2 * m)
    i = 0
    while (i < 2 * m) { heFace(i) = contourFace(contourOf(i)); i += 1 }
  }

  /** Faces: each CCW contour (area > 0) starts a face; each CW contour
    * is either the unbounded face's outer boundary or an inner contour
    * (hole boundary) of the face whose CCW contour most tightly
    * contains it. The unbounded face is face 0.
    */
  private def groupContoursIntoFaces(): Unit = {
    val nc = nContours
    contourFace = new Array[Int](nc)
    // face 0 = unbounded; CCW contours open faces 1, 2, ... in order
    var nCcw = 0
    var c = 0
    while (c < nc) { if (contourArea(c) > 0) nCcw += 1; c += 1 }
    nFaces = 1 + nCcw
    val ccwArr = new Array[Int](nCcw)
    var k = 0
    c = 0
    while (c < nc) {
      if (contourArea(c) > 0) { ccwArr(k) = c; contourFace(c) = k + 1; k += 1 }
      c += 1
    }
    // nest CW contours: smallest |area| CCW contour whose ring strictly
    // contains a probe point (the midpoint of the first half-edge) of
    // the CW contour.
    // R-tree over the CCW contours' envelopes: a CW contour can only
    // nest into a CCW contour whose envelope contains its probe point.
    // (A linear scan of all larger CCW contours with an O(ring)
    // containment test each made n-ary union of scattered polygons —
    // st_union_agg's shape — quadratic in part count.)
    val ccwEnvs = new Array[Env](nCcw)
    k = 0
    while (k < nCcw) {
      val cc = ccwArr(k)
      var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
      var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
      var hi = contourStart(cc)
      while (hi < contourStart(cc + 1)) {
        val x = nodeX(heFrom(contourHe(hi))); val y = nodeY(heFrom(contourHe(hi)))
        if (x < xmin) xmin = x; if (x > xmax) xmax = x
        if (y < ymin) ymin = y; if (y > ymax) ymax = y
        hi += 1
      }
      ccwEnvs(k) = Env(xmin, ymin, xmax, ymax)
      k += 1
    }
    val ccwTree = RTree.bulkLoad(ccwEnvs)
    val ringCache = new Array[Seqn](nCcw)
    val twinMark = new Array[Int](nc) // == c + 1: contour reachable from c through a twin
    c = 0
    while (c < nc) {
      if (contourArea(c) <= 0) {
        val h0 = contourHe(contourStart(c))
        val px = (nodeX(heFrom(h0)) + nodeX(heTo(h0))) / 2
        val py = (nodeY(heFrom(h0)) + nodeY(heTo(h0))) / 2
        // contours reachable from c through a twin half-edge: c walks the
        // OTHER side of (part of) their boundary. c can never be a hole
        // of such a contour — a hole lies strictly inside its container,
        // not along its edges. The probe-point test alone is fragile
        // here: the probe is an edge midpoint whose rounded coordinates
        // may fall a hair inside the twin ring, which would nest a closed
        // curve's outside walk as a hole of its own inside face and
        // collapse the face to an empty annulus.
        var hi = contourStart(c)
        while (hi < contourStart(c + 1)) { twinMark(contourOf(twin(contourHe(hi)))) = c + 1; hi += 1 }
        val cAbs = math.abs(contourArea(c))
        // tightest strictly-containing CCW contour (smallest containing
        // area wins)
        var bestCc = -1
        var bestArea = Double.PositiveInfinity
        ccwTree.pointSearch(px, py) { k =>
          val cc = ccwArr(k)
          val a = contourArea(cc)
          if (a > cAbs - 1e-300 && a < bestArea && twinMark(cc) != c + 1) {
            if (ringCache(k) == null) ringCache(k) = contourRing(cc)
            // strict containment of the probe midpoint; a midpoint can't
            // lie on the containing contour (edges are noded & deduped)
            if (Alg.pointInRing(ringCache(k), px, py) > 0) {
              bestCc = cc; bestArea = a
            }
          }
          true
        }
        contourFace(c) = if (bestCc >= 0) contourFace(bestCc) else 0
      }
      c += 1
    }
    // face rows: the CCW contour, then the CW contours in contour order
    faceStart = new Array[Int](nFaces + 1)
    c = 0
    while (c < nc) { faceStart(contourFace(c) + 1) += 1; c += 1 }
    var f = 0
    while (f < nFaces) { faceStart(f + 1) += faceStart(f); f += 1 }
    faceContour = new Array[Int](nc)
    val fill = java.util.Arrays.copyOf(faceStart, nFaces)
    k = 0
    while (k < nCcw) { faceContour(fill(k + 1)) = ccwArr(k); fill(k + 1) += 1; k += 1 }
    c = 0
    while (c < nc) {
      if (contourArea(c) <= 0) { faceContour(fill(contourFace(c))) = c; fill(contourFace(c)) += 1 }
      c += 1
    }
  }

  /** Closed ring through contour c's half-edge start nodes. */
  private def contourRing(c: Int): Seqn = {
    val from = contourStart(c); val len = contourStart(c + 1) - from
    val arr = new Array[Double]((len + 1) * 2)
    var i = 0
    while (i < len) {
      val n = heFrom(contourHe(from + i))
      arr(2 * i) = nodeX(n); arr(2 * i + 1) = nodeY(n)
      i += 1
    }
    arr(2 * len) = arr(0); arr(2 * len + 1) = arr(1)
    Seqn.xy(arr)
  }

  def faceUnbounded(f: Int): Boolean = f == 0
  def leftFace(edgeIdx: Int): Int = heFace(2 * edgeIdx)
  def rightFace(edgeIdx: Int): Int = heFace(2 * edgeIdx + 1)

  /** Signed area of bounded face f: its outer contour less its holes. */
  def faceArea(f: Int): Double = {
    var s = 0.0
    var k = faceStart(f)
    while (k < faceStart(f + 1)) { s += contourArea(faceContour(k)); k += 1 }
    s
  }

  /** Inside/outside of every face, from the input edges crossed (the
    * reference's OverlayNG labels faces this way, JTS OverlayLabeller;
    * no point is located). Areal overlay, n-ary union and makeValid
    * label their rings' faces here, and the buffer's piece walk its
    * piece outlines' and input rings' faces ([[BufferOp]]).
    * `noder` is the one these edges came from.
    * Each of its source segments belongs to one parity group: group g
    * holds the segment ids `groupEnd(g - 1)` (0 for g = 0) until
    * `groupEnd(g)`, and groups below `groupsA` belong to input A, the
    * rest to B. An edge toggles each group that has an odd number of
    * source segments on it, so a face lies inside group g iff a path to
    * it from the unbounded face crosses g's edges an odd number of
    * times, and inside an input iff some group of that input is odd
    * there: even-odd within a group, union across groups.
    *
    * The walk is depth-first from face 0 across edges, with one parity
    * array toggled on entering a face and untoggled on leaving it; a
    * nested component is reached through its outer contour, which
    * belongs to the enclosing face. Each face keeps a 64-bit XOR of the
    * keys of its odd groups, and every edge must separate two faces
    * whose hashes differ by exactly the edge's own groups. A face that
    * no walk reaches, or an edge that breaks this, means the noding
    * broke the topology: that throws, and the snap ladder escalates.
    *
    * Returns per face bit 1 (inside A) and bit 2 (inside B), and adds
    * each face's area to `groupArea(g)` of every group g odd there.
    */
  def labelFaces(noder: Noder, groupEnd: Array[Int], groupsA: Int,
                 groupArea: Array[Double]): Array[Int] = {
    val nGroups = groupEnd.length
    val segGroup = new Array[Int](if (nGroups == 0) 0 else groupEnd(nGroups - 1))
    val key = new Array[Long](nGroups)
    val keys = new java.util.SplittableRandom(1L)
    var g = 0
    while (g < nGroups) {
      java.util.Arrays.fill(segGroup, if (g == 0) 0 else groupEnd(g - 1), groupEnd(g), g)
      key(g) = keys.nextLong()
      g += 1
    }
    def edgeHash(e: Int): Long = {
      var h = 0L
      var l = noder.firstSource(e)
      while (l >= 0) { h ^= key(segGroup(noder.sourceSegment(l))); l = noder.nextSource(l) }
      h
    }
    // each face's half-edges, over all its contours
    val m = edges.length
    val rowStart = new Array[Int](nFaces + 1)
    var h = 0
    while (h < 2 * m) { rowStart(heFace(h) + 1) += 1; h += 1 }
    var f = 0
    while (f < nFaces) { rowStart(f + 1) += rowStart(f); f += 1 }
    val row = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(rowStart, nFaces)
    h = 0
    while (h < 2 * m) { row(fill(heFace(h))) = h; fill(heFace(h)) += 1; h += 1 }

    // the odd groups: oddList(0 until nOdd), oddPos(g) g's place there or -1
    val oddList = new Array[Int](nGroups)
    val oddPos = Array.fill(nGroups)(-1)
    var nOdd = 0; var oddA = 0; var oddB = 0; var hash = 0L
    def cross(e: Int): Unit = {
      var l = noder.firstSource(e)
      while (l >= 0) {
        val g = segGroup(noder.sourceSegment(l))
        val p = oddPos(g)
        if (p < 0) { oddPos(g) = nOdd; oddList(nOdd) = g; nOdd += 1 }
        else { nOdd -= 1; oddList(p) = oddList(nOdd); oddPos(oddList(p)) = p; oddPos(g) = -1 }
        val d = if (p < 0) 1 else -1
        if (g < groupsA) oddA += d else oddB += d
        hash ^= key(g)
        l = noder.nextSource(l)
      }
    }
    val label = new Array[Int](nFaces)
    val faceHash = new Array[Long](nFaces)
    val seen = new Array[Boolean](nFaces)
    // the walk's stack: a face, the next of its half-edges to cross,
    // and the edge it was entered by
    val stFace = new Array[Int](nFaces)
    val stNext = new Array[Int](nFaces)
    val stEdge = new Array[Int](nFaces)
    seen(0) = true
    stNext(0) = rowStart(0); stEdge(0) = -1
    var sp = 1
    while (sp > 0) {
      val f = stFace(sp - 1)
      val k = stNext(sp - 1)
      if (k == rowStart(f + 1)) {
        sp -= 1
        if (stEdge(sp) >= 0) cross(stEdge(sp))
      } else {
        stNext(sp - 1) = k + 1
        val e = row(k) >> 1
        val to = heFace(row(k) ^ 1)
        if (!seen(to)) {
          seen(to) = true
          cross(e)
          label(to) = (if (oddA > 0) 1 else 0) | (if (oddB > 0) 2 else 0)
          faceHash(to) = hash
          val a = faceArea(to); var i = 0
          while (i < nOdd) { groupArea(oddList(i)) += a; i += 1 }
          stFace(sp) = to; stNext(sp) = rowStart(to); stEdge(sp) = e
          sp += 1
        }
      }
    }
    if (seen.contains(false)) throw new IllegalStateException("a face is not reached from the unbounded face")
    var e = 0
    while (e < m) {
      if ((faceHash(heFace(2 * e)) ^ faceHash(heFace(2 * e + 1))) != edgeHash(e))
        throw new IllegalStateException(s"the face labels disagree across edge $e")
      e += 1
    }
    label
  }

  /** A point strictly interior to bounded face f: point-on-surface of
    * the face polygon (outer CCW contour + its hole contours).
    */
  def faceInteriorPoint(f: Int): (Double, Double) = {
    val from = faceStart(f); val to = faceStart(f + 1)
    var o = from
    while (contourArea(faceContour(o)) <= 0) o += 1
    val outer = faceContour(o)
    val rings = new Array[Seqn](to - from)
    rings(0) = contourRing(outer)
    var r = 1
    var k = from
    while (k < to) {
      if (faceContour(k) != outer) { rings(r) = contourRing(faceContour(k)); r += 1 }
      k += 1
    }
    val poly = GPoly(rings, CT.XY)
    PointOnSurface.compute(poly) match {
      case p: GPoint if !p.isEmpty && Alg.pointInPolygon(poly, p.x, p.y) > 0 =>
        (p.x, p.y)
      case _ =>
        // fallback: centroid of first edge triangle fan — robust enough
        // for degenerate slivers
        val h = contourHe(contourStart(outer))
        val x1 = nodeX(heFrom(h)); val y1 = nodeY(heFrom(h))
        val x2 = nodeX(heTo(h)); val y2 = nodeY(heTo(h))
        ((x1 + x2) / 2, (y1 + y2) / 2)
    }
  }

  /** Union of kept faces as a Polygon / MultiPolygon: boundary edges
    * (kept on exactly one side) walked with the kept face on the left,
    * then CCW cycles become shells and CW cycles holes, nested by
    * containment.
    */
  def dissolve(keptFace: Array[Boolean]): Geom = {
    val m = edges.length
    val chosen = new Array[Boolean](2 * m)
    var i = 0
    while (i < m) {
      val lf = heFace(2 * i); val rf = heFace(2 * i + 1)
      if (keptFace(lf) != keptFace(rf)) {
        chosen(if (keptFace(lf)) 2 * i else 2 * i + 1) = true
      }
      i += 1
    }
    // walk chosen half-edges with next restricted to chosen: rotate
    // clockwise from twin until a chosen half-edge appears
    val visited = new Array[Boolean](2 * m)
    val shells = mutable.ArrayBuffer.empty[Seqn]
    val shellAreas = mutable.ArrayBuffer.empty[Double]
    val holes = mutable.ArrayBuffer.empty[Seqn]

    // rebuild rotational structures (outgoing lists) lazily via heNext:
    // nextChosen(h) = first chosen in the CW rotation at to(h) starting
    // from the standard next
    def nextChosen(h: Int): Int = {
      var cand = heNext(h)
      var guard = 0
      while (!chosen(cand) && guard < 4 * m) {
        // rotate to the next candidate around the same node: next of
        // twin(cand) continues the clockwise sweep at to(h)
        cand = heNext(twin(cand))
        guard += 1
      }
      cand
    }

    var pts = new Array[Double](32) // interleaved ring vertices
    i = 0
    while (i < 2 * m) {
      if (chosen(i) && !visited(i)) {
        var np = 0
        var h = i
        var area2 = 0.0
        var ok = true
        while (ok && !visited(h)) {
          visited(h) = true
          val x1 = nodeX(heFrom(h)); val y1 = nodeY(heFrom(h))
          val x2 = nodeX(heTo(h)); val y2 = nodeY(heTo(h))
          if (2 * np + 4 > pts.length) pts = java.util.Arrays.copyOf(pts, pts.length * 2)
          pts(2 * np) = x1; pts(2 * np + 1) = y1; np += 1
          area2 += x1 * y2 - x2 * y1
          h = nextChosen(h)
          if (!chosen(h)) ok = false
        }
        if (ok && np >= 3) {
          val arr = java.util.Arrays.copyOf(pts, (np + 1) * 2)
          arr(2 * np) = pts(0); arr(2 * np + 1) = pts(1)
          val area = area2 / 2
          if (area > 0) { shells += Seqn.xy(arr); shellAreas += area }
          else if (area <= 0) holes += Seqn.xy(arr)
        }
      }
      i += 1
    }
    if (shells.isEmpty) return GPoly(Array.empty, CT.XY)

    // assign each hole to the smallest shell containing it (ties: the
    // lowest shell index); only shells whose envelope holds the probe
    // point are tested
    val shellTree = RTree.bulkLoad(shells.iterator.map(_.envelope).toArray)
    val holeAssign = new Array[Int](holes.length)
    var hi = 0
    while (hi < holes.length) {
      val hr = holes(hi)
      // probe: midpoint of first hole edge
      val px = (hr.x(0) + hr.x(1)) / 2; val py = (hr.y(0) + hr.y(1)) / 2
      var best = -1; var bestArea = Double.MaxValue
      shellTree.pointSearch(px, py) { si =>
        val a = shellAreas(si)
        if ((a < bestArea || (a == bestArea && si < best)) &&
            Alg.pointInRing(shells(si), px, py) > 0) {
          best = si; bestArea = a
        }
        true
      }
      holeAssign(hi) = best
      hi += 1
    }
    val polys = Array.tabulate(shells.length)(si => mutable.ArrayBuffer(shells(si)))
    hi = 0
    while (hi < holes.length) {
      if (holeAssign(hi) >= 0) polys(holeAssign(hi)) += holes(hi)
      hi += 1
    }
    if (polys.length == 1) GPoly(polys(0).toArray, CT.XY)
    else GMPoly(polys.map(_.toArray), CT.XY)
  }
}
