package graft.core

import scala.collection.mutable

/** DE-9IM relate engine.
  *
  * Semantics follow the reference (geom/alg_relate.go:25-232,
  * geom/de9im.go:18-121): a 3×3 matrix of dimensions of intersections
  * between Interior/Boundary/Exterior of two geometries, serialized
  * row-major as 9 chars over {F,0,1,2}, and named predicates defined as
  * pattern matches over that matrix.
  *
  * One computation serves every pair of inputs, after the reference's
  * port of JTS RelateNG
  * (internal/jtsport/jts/operation_relateng_relate_ng.go): each input is
  * split into its points, lines and polygons, and the line and ring
  * segments of both are noded together once by the shared [[Noder]],
  * exactly (no snapping, so no metric tolerance enters a matrix). Each
  * noded edge is labelled Interior, Boundary or Exterior in each input,
  * and so is the face on each side of it and each node; an input point
  * that is no node is located directly. Entry (a, b) is the largest
  * dimension among the nodes (0), edges (1) and edge sides (2) labelled
  * (a, b). Every bounded face has an edge, so no faces are built.
  *
  * A collection has union semantics with interior dominance: a point
  * in the interior of any of its lines or polygons is Interior, so an
  * edge shared by two rings with opposite interior sides, or lying
  * inside another of its polygons, is Interior; line ends follow the
  * mod-2 rule (reference: geom/type_multi_line_string.go:221-258); a
  * point on a line or polygon of its own collection adds nothing.
  */
object Relate {

  // ------------------------------------------------------------ matrix

  /** matrix char positions: II IB IE BI BB BE EI EB EE */
  final val II = 0; final val IB = 1; final val IE = 2
  final val BI = 3; final val BB = 4; final val BE = 5
  final val EI = 6; final val EB = 7; final val EE = 8

  def transpose(m: String): String = {
    val c = m.toCharArray
    new String(Array(c(II), c(BI), c(EI), c(IB), c(BB), c(EB), c(IE), c(BE), c(EE)))
  }

  /** DE-9IM pattern match with T, F, star, 0, 1, 2 wildcards
    * (reference: geom/de9im.go:83-121).
    */
  def matches(matrix: String, pattern: String): Boolean = {
    require(matrix.length == 9 && pattern.length == 9, "de9im strings must be 9 chars")
    var i = 0
    while (i < 9) {
      val m = matrix.charAt(i)
      pattern.charAt(i) match {
        case '*' =>
        case 'T' => if (m == 'F') return false
        case 'F' => if (m != 'F') return false
        case d   => if (m != d) return false
      }
      i += 1
    }
    true
  }

  // ---------------------------------------------------------- decompose

  /** Ring edges from which a polygon set is located through an
    * [[ArealLocator]] rather than a plain ray cast.
    */
  private final val IndexCutoff = 64

  /** One input split into its points, lines and polygons. `side` is 0
    * for the first input and 1 for the second; it picks the noder tag
    * bits of the input's segments.
    */
  private final class Parts(val pts: Array[Double], // xy pairs of non-empty points
                            val lines: Array[Seqn],  // non-empty linestrings
                            val polys: Array[GPoly], // non-empty polygons
                            side: Int) {
    /** -1 empty, else the largest element dimension. */
    val dim: Int = if (polys.nonEmpty) 2 else if (lines.nonEmpty) 1 else if (pts.nonEmpty) 0 else -1
    def isEmpty: Boolean = dim == -1
    def mixed: Boolean =
      (if (pts.nonEmpty) 1 else 0) + (if (lines.nonEmpty) 1 else 0) + (if (polys.nonEmpty) 1 else 0) > 1

    val src: Int = if (side == 0) Noder.SrcA else Noder.SrcB
    val lineBit: Int = 4 << (3 * side)
    /** A ring segment with its polygon's interior on its left / right. */
    val leftBit: Int = 8 << (3 * side)
    val rightBit: Int = 16 << (3 * side)

    // ArealLocator from IndexCutoff ring edges up (one location per
    // edge midpoint would make relate O(edges x ring edges)), a plain
    // ray cast below it
    private lazy val index: ArealLocator =
      if (polys.iterator.map(p => ArealLocator.edgeCount(p)).sum >= IndexCutoff)
        ArealLocator.build(GColl(polys.toArray[Geom], CT.XY))
      else null

    /** Location in the union of the polygons: 1 interior, 0 boundary,
      * -1 exterior.
      */
    def locateAreal(x: Double, y: Double): Int = {
      if (index != null) return index.locate(x, y)
      var best = -1
      var i = 0
      while (i < polys.length && best != 1) {
        val l = Alg.pointInPolygon(polys(i), x, y)
        if (l > best) best = l
        i += 1
      }
      best
    }

    // noder segment ids of the polygons' rings: polygon k's are
    // polySegEnd(k - 1) (polyStart for k = 0) until polySegEnd(k)
    var polyStart = 0
    val polySegEnd = new Array[Int](polys.length)
    private lazy val polyIndex: Array[ArealLocator] = polys.map(p =>
      if (ArealLocator.edgeCount(p) >= IndexCutoff) ArealLocator.build(p) else null)

    private def locatePoly(k: Int, x: Double, y: Double): Int =
      if (polyIndex(k) == null) Alg.pointInPolygon(polys(k), x, y) else polyIndex(k).locate(x, y)

    /** Whether (x, y), the midpoint of noded edge e of one of these
      * rings, lies inside a polygon that e does not bound. Those it
      * bounds are skipped, not located: a rounded crossing point can
      * put the midpoint a hair inside them.
      */
    def insideOther(noder: Noder, e: Int, x: Double, y: Double): Boolean = {
      var k = 0
      while (k < polys.length) {
        if (polys(k).envelope.containsPt(x, y) && !bounds(noder, e, k) && locatePoly(k, x, y) == 1)
          return true
        k += 1
      }
      false
    }

    private def bounds(noder: Noder, e: Int, k: Int): Boolean = {
      val lo = if (k == 0) polyStart else polySegEnd(k - 1)
      var l = noder.firstSource(e)
      while (l >= 0) {
        val seg = noder.sourceSegment(l)
        if (seg >= lo && seg < polySegEnd(k)) return true
        l = noder.nextSource(l)
      }
      false
    }

    /** Location of a point that is no node: it lies on no line end and
      * no vertex, so a line through it holds it in its interior.
      */
    def locatePoint(x: Double, y: Double, isPoint: Boolean): Int = {
      val a = if (polys.isEmpty) -1 else locateAreal(x, y)
      if (a == 1 || onLine(x, y)) LocI
      else if (a == 0) LocB
      else if (isPoint) LocI
      else LocE
    }

    private def onLine(x: Double, y: Double): Boolean = {
      for (s <- lines) {
        var i = 0
        while (i < s.n - 1) {
          if (Alg.onSegment(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1), x, y)) return true
          i += 1
        }
      }
      false
    }
  }

  /** A non-empty line every vertex of which is the same point: its
    * point set is that single point — JTS/RelateNG treat it as
    * point-like (interior = the point, boundary = empty), e.g.
    * relate(POINT(p), LINESTRING(p, p)) = 0FFFFFFF2.
    */
  private def pointLikeLine(s: Seqn): Boolean = {
    if (s.isEmpty) return false
    var i = 1
    while (i < s.n) {
      if (s.x(i) != s.x(0) || s.y(i) != s.y(0)) return false
      i += 1
    }
    true
  }

  private def decompose(g: Geom, side: Int): Parts = {
    val pts = new mutable.ArrayBuilder.ofDouble
    val lines = mutable.ArrayBuffer.empty[Seqn]
    val polys = mutable.ArrayBuffer.empty[GPoly]
    def walk(g: Geom): Unit = g match {
      case p: GPoint => if (!p.isEmpty) { pts += p.x; pts += p.y }
      case GLine(s) if pointLikeLine(s) => { pts += s.x(0); pts += s.y(0) }
      case GLine(s) => if (!s.isEmpty) lines += s
      case GPoly(rs, ct) => if (rs.nonEmpty) polys += GPoly(rs, ct)
      case GMPoint(ps, _) => ps.foreach(walk)
      case GMLine(ls, ct) => ls.foreach(s => walk(GLine(s)))
      case GMPoly(ps, ct) => ps.foreach(rs => walk(GPoly(rs, ct)))
      case GColl(gs, _) => gs.foreach(walk)
    }
    walk(g)
    new Parts(pts.result(), lines.toArray, polys.toArray, side)
  }

  /** Odd-degree endpoints of the lineal component (mod-2 rule). */
  private def lineBoundary(lines: Array[Seqn]): mutable.HashSet[(Double, Double)] = {
    val counts = mutable.HashMap.empty[(Double, Double), Int]
    for (s <- lines if s.n >= 2) {
      val a = (s.x(0), s.y(0))
      val b = (s.x(s.n - 1), s.y(s.n - 1))
      if (a != b) { // closed lines have empty boundary
        counts(a) = counts.getOrElse(a, 0) + 1
        counts(b) = counts.getOrElse(b, 0) + 1
      }
    }
    val out = mutable.HashSet.empty[(Double, Double)]
    for ((k, v) <- counts if v % 2 == 1) out += k
    out
  }

  // --------------------------------------------------------- relate API

  def relate(a: Geom, b: Geom): String = {
    val pa = decompose(a, 0)
    val pb = decompose(b, 1)
    if ((pa.isEmpty || pb.isEmpty) && !pa.mixed && !pb.mixed) relateEmpty(pa, pb)
    else relateNoded(pa, pb)
  }

  /** Empty-input fast path (reference: geom/alg_relate.go:33-63). */
  private def relateEmpty(pa: Parts, pb: Parts): String = {
    val m = Array.fill(9)('F')
    m(EE) = '2'
    if (!pa.isEmpty) {
      m(IE) = interiorDimChar(pa)
      m(BE) = boundaryDimChar(pa)
    }
    if (!pb.isEmpty) {
      m(EI) = interiorDimChar(pb)
      m(EB) = boundaryDimChar(pb)
    }
    new String(m)
  }

  private def interiorDimChar(p: Parts): Char = p.dim match {
    case 0 => '0'; case 1 => '1'; case 2 => '2'; case _ => 'F'
  }

  private def boundaryDimChar(p: Parts): Char = p.dim match {
    case 1 => if (lineBoundary(p.lines).nonEmpty) '0' else 'F'
    case 2 => '1'
    case _ => 'F'
  }

  // ------------------------------------------------------ labelled noding

  // locations: the row (first input) or column (second input) of the
  // matrix; Unknown for the sides of an edge whose midpoint fell on a
  // ring it was not noded against (a rounded crossing point)
  private final val LocI = 0; private final val LocB = 1; private final val LocE = 2
  private final val Unknown = 3

  // what one input tells a node, from its incident edges, its line ends
  // and its points (the second input's bits sit NodeShift higher)
  private final val ArealB = 1  // an incident edge is on a polygon boundary
  private final val ArealI = 2  // a face at an incident edge is polygon interior
  private final val OnLine = 4  // an incident edge is on a line
  private final val OddEnd = 8  // an odd number of line ends meet here
  private final val Point = 16  // an input point is here
  private final val NodeShift = 8
  private final val EdgeNode = 1 << 16 // an end of some noded edge

  /** One input's label of the edge with these tags and midpoint,
    * packed: the edge's location in bits 0-1, the location of the face
    * left of it in bits 2-3 and right of it in bits 4-5, and the node
    * bits it gives its ends from bit 6 up.
    */
  private def edgeLabel(p: Parts, noder: Noder, e: Int, mx: Double, my: Double): Int = {
    val fwd = noder.fwdTags(e); val rev = noder.revTags(e)
    val left = (fwd & p.leftBit) != 0 || (rev & p.rightBit) != 0
    val right = (fwd & p.rightBit) != 0 || (rev & p.leftBit) != 0
    var loc = LocE; var sl = LocE; var sr = LocE
    if (left && right) { loc = LocI; sl = LocI; sr = LocI } // between two rings
    else if (left || right) {
      if (p.polys.length > 1 && p.insideOther(noder, e, mx, my)) { loc = LocI; sl = LocI; sr = LocI }
      else { loc = LocB; sl = if (left) LocI else LocE; sr = if (right) LocI else LocE }
    } else if (p.polys.nonEmpty) p.locateAreal(mx, my) match {
      case 1 => loc = LocI; sl = LocI; sr = LocI
      case 0 => loc = LocB; sl = Unknown; sr = Unknown
      case _ =>
    }
    var node = if (sl == LocI || sr == LocI) ArealI else 0
    if (loc == LocB) node |= ArealB
    if (((fwd | rev) & p.lineBit) != 0) { loc = LocI; node |= OnLine }
    loc | sl << 2 | sr << 4 | node << 6
  }

  /** Location of a node in one input from its node bits: interior of a
    * polygon or a line dominates, then the boundary of either, then a
    * lone point.
    */
  private def nodeLoc(f: Int): Int =
    if ((f & (ArealI | ArealB)) == ArealI || (f & (OnLine | OddEnd)) == OnLine) LocI
    else if ((f & (ArealB | OddEnd)) != 0) LocB
    else if ((f & Point) != 0) LocI
    else LocE

  private def addSegments(noder: Noder, p: Parts): Unit = {
    p.lines.foreach(l => noder.addLine(l, p.src | p.lineBit))
    p.polyStart = noder.segmentCount
    for ((poly, i) <- p.polys.zipWithIndex) {
      for (k <- poly.rings.indices) {
        val r = poly.rings(k)
        val interiorLeft = (k == 0) == Alg.ringIsCCW(r)
        noder.addLine(r, p.src | (if (interiorLeft) p.leftBit else p.rightBit))
      }
      p.polySegEnd(i) = noder.segmentCount
    }
  }

  private def relateNoded(pa: Parts, pb: Parts): String = {
    val noder = new Noder(0.0)
    addSegments(noder, pa)
    addSegments(noder, pb)
    noder.node()
    val edges = noder.edges
    val dims = Array.fill(9)(-1)
    dims(EE) = 2

    // The nodes whose label can add an entry: where the inputs meet, line
    // ends and input points. Any other node lies on one input's linework
    // only, away from the other's, so an incident edge carries its label.
    val maxNodes = noder.abNodeCount + (pa.pts.length + pb.pts.length) / 2 +
      2 * (pa.lines.length + pb.lines.length)
    val ids = new IdChains(maxNodes)
    val nodeXY = new Array[Double](2 * maxNodes)
    val flags = new Array[Int](maxNodes)
    def nodeIndex(x: Double, y: Double): Int = {
      var id = ids.first(Noder.pointKey(x, y))
      while (id >= 0 && !(nodeXY(2 * id) == x && nodeXY(2 * id + 1) == y)) id = ids.next(id)
      id
    }
    def nodeAt(x: Double, y: Double): Int = {
      var id = nodeIndex(x, y)
      if (id < 0) {
        id = ids.add(Noder.pointKey(x, y))
        nodeXY(2 * id) = x + 0.0; nodeXY(2 * id + 1) = y + 0.0
      }
      id
    }
    var ab = 0
    while (ab < noder.abNodeCount) { nodeAt(noder.abNodeX(ab), noder.abNodeY(ab)); ab += 1 }
    for ((p, shift) <- Seq((pa, 0), (pb, NodeShift))) {
      for (s <- p.lines if s.x(0) != s.x(s.n - 1) || s.y(0) != s.y(s.n - 1)) {
        flags(nodeAt(s.x(0), s.y(0))) ^= OddEnd << shift
        flags(nodeAt(s.x(s.n - 1), s.y(s.n - 1))) ^= OddEnd << shift
      }
      var i = 0
      while (i < p.pts.length) {
        flags(nodeAt(p.pts(i), p.pts(i + 1))) |= Point << shift
        i += 2
      }
    }

    var e = 0
    while (e < edges.length) {
      val ed = edges(e)
      val mx = (ed.x1 + ed.x2) / 2; val my = (ed.y1 + ed.y2) / 2
      val la = edgeLabel(pa, noder, e, mx, my)
      val lb = edgeLabel(pb, noder, e, mx, my)
      val k = (la & 3) * 3 + (lb & 3)
      if (dims(k) < 1) dims(k) = 1
      var s = 2
      while (s <= 4) {
        val sa = (la >> s) & 3; val sb = (lb >> s) & 3
        if (sa != Unknown && sb != Unknown) dims(sa * 3 + sb) = 2
        s += 2
      }
      if (ids.size > 0) {
        val f = EdgeNode | (la >> 6) | (lb >> 6) << NodeShift
        val n1 = nodeIndex(ed.x1, ed.y1); if (n1 >= 0) flags(n1) |= f
        val n2 = nodeIndex(ed.x2, ed.y2); if (n2 >= 0) flags(n2) |= f
      }
      e += 1
    }
    var n = 0
    while (n < ids.size) {
      val f = flags(n)
      val k =
        if ((f & EdgeNode) != 0) nodeLoc(f) * 3 + nodeLoc(f >> NodeShift)
        else {
          val x = nodeXY(2 * n); val y = nodeXY(2 * n + 1)
          pa.locatePoint(x, y, (f & Point) != 0) * 3 + pb.locatePoint(x, y, (f >> NodeShift & Point) != 0)
        }
      if (dims(k) < 0) dims(k) = 0
      n += 1
    }
    new String(dims.map(d => if (d < 0) 'F' else ('0' + d).toChar))
  }

  // ------------------------------------------------- named predicates

  /** Fast paths for the overwhelmingly common join shapes: a single
    * point probed against an areal build side (the reference's own
    * fast path layering: geom/alg_intersects.go full type dispatch
    * before falling back to RelateNG). Returns -2 when no fast path
    * applies; otherwise the point location (-1/0/1) vs the areal.
    */
  @inline private def pointVsAreal(pt: Geom, other: Geom): Int = pt match {
    case p: GPoint if !p.isEmpty => other match {
      case _: GPoly | _: GMPoly => Alg.pointInAreal(other, p.x, p.y)
      case _ => -2
    }
    case _ => -2
  }

  /** (reference: geom/alg_relate.go:102-232). Like JTS
    * IntersectionMatrix.isEquals, the STATIC dimensions must agree: a
    * POINT never topo-equals a zero-length LINESTRING even though
    * their point sets coincide (matrix 0FFFFFFF2 matches the pattern).
    */
  def equalsTopo(a: Geom, b: Geom): Boolean = {
    if (a.isEmpty && b.isEmpty) return true
    if (a.isEmpty != b.isEmpty) return false
    if (a.dimension != b.dimension) return false
    matches(relate(a, b), "T*F**FFF*")
  }
  def disjoint(a: Geom, b: Geom): Boolean = matches(relate(a, b), "FF*FF****")
  def intersects(a: Geom, b: Geom): Boolean = Intersects.intersects(a, b)
  def touches(a: Geom, b: Geom): Boolean = {
    val m = relate(a, b)
    matches(m, "FT*******") || matches(m, "F**T*****") || matches(m, "F***T****")
  }
  def contains(a: Geom, b: Geom): Boolean = {
    val loc = pointVsAreal(b, a)
    if (loc != -2) return loc == 1 // point interior to areal; boundary/exterior fail T*****FF*
    matches(relate(a, b), "T*****FF*")
  }
  /** Prepared-filter predicate (reference geom/alg_prepared.go:57-61,
    * JTS PreparedPolygon.containsProperly): a properly contains b iff
    * b intersects a's interior and touches neither a's boundary nor
    * exterior — DE-9IM `T**FF*FF*`. For a point probe the areal fast
    * path coincides with contains (interior location only).
    */
  def containsProperly(a: Geom, b: Geom): Boolean = {
    val loc = pointVsAreal(b, a)
    if (loc != -2) return loc == 1
    matches(relate(a, b), "T**FF*FF*")
  }
  def within(a: Geom, b: Geom): Boolean = {
    val loc = pointVsAreal(a, b)
    if (loc != -2) return loc == 1
    matches(relate(a, b), "T*F**F***")
  }
  def covers(a: Geom, b: Geom): Boolean = {
    val loc = pointVsAreal(b, a)
    if (loc != -2) return loc >= 0 // interior or boundary
    val m = relate(a, b)
    matches(m, "T*****FF*") || matches(m, "*T****FF*") ||
      matches(m, "***T**FF*") || matches(m, "****T*FF*")
  }
  def coveredBy(a: Geom, b: Geom): Boolean = {
    val loc = pointVsAreal(a, b)
    if (loc != -2) return loc >= 0
    val m = relate(a, b)
    matches(m, "T*F**F***") || matches(m, "*TF**F***") ||
      matches(m, "**FT*F***") || matches(m, "**F*TF***")
  }
  def crosses(a: Geom, b: Geom): Boolean = {
    val da = a.dimension; val db = b.dimension
    val m = relate(a, b)
    if (da < db) matches(m, "T*T******")
    else if (da > db) matches(m, "T*****T**")
    else if (da == 1 && db == 1) matches(m, "0********")
    else false
  }
  def overlaps(a: Geom, b: Geom): Boolean = {
    val da = a.dimension; val db = b.dimension
    val m = relate(a, b)
    if (da == 0 && db == 0) matches(m, "T*T***T**")
    else if (da == 2 && db == 2) matches(m, "T*T***T**")
    else if (da == 1 && db == 1) matches(m, "1*T***T**")
    else false
  }
}
