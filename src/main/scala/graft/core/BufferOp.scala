package graft.core

import scala.collection.mutable

/** Buffer: the region within distance d of a geometry, shaped by the
  * cap and join style.
  *
  * Every style runs on one path, [[arrangementBuffer]]: emit the raw
  * offset linework of the style, node it once on the shared [[Noder]],
  * build the face arrangement, and keep the faces in the buffer
  * region. The region is the union of g itself (even-odd within a
  * polygon) with one piece per segment and per vertex: the segment's
  * rectangle of half-width d, the join piece on the convex (gap) side
  * of each turn, and the cap piece at each open end. Round caps with
  * round joins make that union {p : dist(p, g) <= d}, up to the
  * polygonised arcs; they first try the least linework (the round
  * walk) and retry with every piece outlined (the piece walk, which
  * all other styles take) when that leaks or fails a sanity test, see
  * [[offsetBuffer]]. The piece walk labels the faces from the piece
  * outlines and rings crossed, as overlay does
  * ([[Arrangement.labelFaces]]); the round walk, whose one-sided
  * linework bounds no piece, still locates a point per face. When
  * growing, the round walk drops before noding every offset segment
  * that lies a margin deep inside one segment's capsule (most of a
  * large buffer's arcs): it can only split faces that are kept anyway.
  *
  * Style surface mirrors the reference's option set
  * (geom/alg_buffer.go:24-124): quadrant segments, end caps
  * round/flat/square, joins round/mitre(limit)/bevel, single-sided.
  * Negative distance erodes areal geometries (g minus the pieces of
  * its rings) and empties lower-dimensional ones; single-sided picks
  * the side from the distance sign (positive = left) and forces flat
  * caps, as the reference documents. A single-sided buffer offsets
  * lines on one side only; areal parts take the two-sided buffer and
  * points have no side.
  *
  * Join pieces only fill the convex side of each turn: on the concave
  * side the two segment rectangles overlap and their union boundary
  * is already the exact offset intersection (which is also why
  * erosion corners stay sharp regardless of join style).
  */
object BufferOp {

  final val CapRound = 0
  final val CapFlat = 1
  final val CapSquare = 2
  final val JoinRound = 0
  final val JoinMitre = 1
  final val JoinBevel = 2

  /** JTS-compatible defaults: quadSegs 8, round caps/joins, mitre
    * limit 5.
    */
  final case class Style(quadSegs: Int = 8, cap: Int = CapRound,
                         join: Int = JoinRound, mitreLimit: Double = 5.0,
                         singleSided: Boolean = false)

  /** Parse a PostGIS-style parameter string, e.g.
    * "quad_segs=8 endcap=flat join=mitre mitre_limit=2 side=left".
    * side=left/right/both; left/right imply single-sided.
    */
  def parseStyle(params: String): (Style, Int) = {
    var st = Style()
    var side = 0 // 0 = both, +1 = left, -1 = right
    for (kv <- params.trim.split("\\s+") if kv.nonEmpty) {
      val i = kv.indexOf('=')
      if (i <= 0) throw new IllegalArgumentException(s"bad buffer parameter '$kv'")
      val (k, v) = (kv.substring(0, i).toLowerCase, kv.substring(i + 1).toLowerCase)
      k match {
        case "quad_segs" | "quadsegs" => st = st.copy(quadSegs = v.toInt)
        case "endcap" => st = st.copy(cap = v match {
          case "round" => CapRound; case "flat" | "butt" => CapFlat
          case "square" => CapSquare
          case _ => throw new IllegalArgumentException(s"bad endcap '$v'")
        })
        case "join" => st = st.copy(join = v match {
          case "round" => JoinRound; case "mitre" | "miter" => JoinMitre
          case "bevel" => JoinBevel
          case _ => throw new IllegalArgumentException(s"bad join '$v'")
        })
        case "mitre_limit" | "miter_limit" => st = st.copy(mitreLimit = v.toDouble)
        case "side" => v match {
          case "both" => side = 0
          case "left" => side = 1; st = st.copy(singleSided = true)
          case "right" => side = -1; st = st.copy(singleSided = true)
          case _ => throw new IllegalArgumentException(s"bad side '$v'")
        }
        case _ => throw new IllegalArgumentException(s"unknown buffer parameter '$k'")
      }
    }
    (st, side)
  }


  def buffer(g: Geom, dist: Double, quadSegs: Int = 8): Geom =
    buffer(g, dist, Style(quadSegs = quadSegs))

  def buffer(g: Geom, dist: Double, st: Style): Geom = {
    if (g.isEmpty) return GPoly(Array.empty, CT.XY)
    if (st.singleSided) {
      if (dist == 0) return GPoly(Array.empty, CT.XY)
      return offsetBuffer(g, math.abs(dist), st, grow = true, side = if (dist > 0) 1 else -1)
    }
    if (dist == 0) {
      // buffer(0) = cleaned areal result; zero-area (flat/degenerate)
      // rings vanish, as in JTS (TestBuffer.xml degenerate cases)
      if (g.dimension < 2) return GPoly(Array.empty, CT.XY)
      val u = try SetOps.unaryUnion(g) catch { case _: Exception => Geom.emptyGC }
      return if (u.dimension == 2 && Measure.area(u) > 0) u else GPoly(Array.empty, CT.XY)
    }
    if (dist > 0) return offsetBuffer(g, dist, st, grow = true, side = 0)
    if (g.dimension < 2) return GPoly(Array.empty, CT.XY)
    val r = offsetBuffer(g, -dist, st, grow = false, side = 0)
    if (r.dimension == 2) r else GPoly(Array.empty, CT.XY)
  }

  // ------------------------------------------- arrangement buffer core

  /** Round caps with round joins first take the round walk (see
    * [[arrangementBuffer]]). It offsets each ring on one side only, the
    * side away from the region when growing and into it when eroding,
    * and it relies on arcs and parallels of different vertices to
    * cross where the exact offset curves do. An invalid ring (a
    * bowtie, a self-crossing star) has no orientation to pick the side
    * from, and a coarse arc can pass a parallel's end without crossing
    * it. So a round-walk result that leaks (null), throws, or fails a
    * cheap sanity test (growing must cover g's area, eroding must not
    * exceed it, and the envelope must stay within d of g's) is
    * recomputed on the piece walk. Other styles, and single-sided
    * buffers of inputs with a lineal part, take the piece walk at once.
    * A growing round walk drops its covered linework
    * (see [[arrangementBuffer]]). On rings that cross themselves or
    * each other, whose one-sided offsets do not bound the region, that
    * can lose area while passing both tests; so the walk also returns
    * null when a dropped segment is not inside its result. The piece
    * walk runs on the overlay's snap ladder: where pieces thinner than
    * the snapping tolerance leave labels that disagree across an edge,
    * a wider tolerance merges them.
    */
  private def offsetBuffer(g: Geom, d: Double, st: Style, grow: Boolean,
                           side: Int): Geom = {
    if (st.cap == CapRound && st.join == JoinRound) {
      val r =
        try arrangementBuffer(g, d, st, grow, side, pieceWalk = false)
        catch { case _: Exception => null }
      if (r != null && sane(g, r, d, grow)) return r
    }
    SetOps.snapLadder("buffer")(f => arrangementBuffer(g, d, st, grow, side, pieceWalk = true, f))(
      (_, _, _) => true)(null)
  }

  private def sane(g: Geom, r: Geom, d: Double, grow: Boolean): Boolean = {
    val gA = Measure.area(g)
    val rA = Measure.area(r)
    val e = g.envelope
    val tol = 1e-9 * math.max(gA, d * d) + java.lang.Double.MIN_NORMAL
    val envOk = {
      val re = r.envelope
      re.isEmpty || (re.xmin >= e.xmin - d - tol && re.ymin >= e.ymin - d - tol &&
        re.xmax <= e.xmax + d + tol && re.ymax <= e.ymax + d + tol)
    }
    val areaOk =
      if (grow) rA >= gA - tol && !r.isEmpty
      else rA <= gA + tol
    envOk && areaOk
  }

  /** Buffer through ONE planar arrangement of the raw offset linework,
    * instead of a union of per-segment/per-vertex pieces (whose
    * pairwise overlaps make a piece union O(n * d/segLen)).
    *
    * The boundary of the buffer region (g plus the style's pieces; see
    * the object doc) lies on the linework emitted here:
    *  - the parallels of each segment at distance d;
    *  - at the convex (gap) side of each turn, the round arc, bevel
    *    chord, or mitre / limited-mitre chain;
    *  - the round, flat or square cap chain at each open end;
    *  - on the piece walk, the end edges v ± d·n of every segment;
    *  - for single-sided buffers, the line itself.
    * So: node it, build the face arrangement, and keep the faces inside
    * the region. Faces cannot straddle the region's boundary because
    * the boundary is covered by the linework. Same idea as JTS's
    * raw-offset-curve + labeling buffer, re-derived on this engine's
    * arrangement.
    *
    * Two walks emit the linework. The piece walk emits the closed
    * outline of every piece: a segment's rectangle (parallels and end
    * edges; on one side, the line itself and half the end edges), a
    * join's arc, chord or mitre chain closed by the radials v -> p1
    * and p2 -> v, a square cap's chain closed by the end edge, a disc's
    * circle. Each outline is its own parity group, and so is each of
    * g's polygons, added after them; [[Arrangement.labelFaces]] labels
    * every face from the outlines crossed, no point located. Growing
    * keeps the faces inside g (even-odd within a polygon, union across
    * polygons) or inside some piece; eroding keeps those inside g and
    * inside no piece. Round pieces are their polygonised outlines.
    *
    * The round walk, for round caps and joins only, emits the least
    * linework: rings on one side, no end edges. Its faces are still
    * point-tested: a face is kept iff its interior point lies inside g
    * ([[ArealLocator]], even-odd) or within d of an input segment found
    * through an R-tree of the segments' boxes. It returns null when its
    * leak test (at the end) finds faces on both sides of the buffer's
    * boundary merged through an open linework end (see
    * [[offsetBuffer]]).
    *
    * Covered linework: when growing, the round walk drops each emitted
    * segment whose two endpoints both lie within d - mc of one input
    * segment, mc = 4 d (1 - cos(pi / (4 qs))), four sagittas of the
    * coarsest arc step. Such a segment lies at least mc inside that
    * segment's capsule, and the emitted arcs lie at most one sagitta
    * inside the true circles, so every face beside it is kept. The
    * candidate segments come from the R-tree; a join arc is tested only
    * when a segment that does not end at its vertex passes within 2d of
    * it. The guard: the midpoint of every dropped segment must be
    * interior to the result, else the walk returns null.
    * `side` is 0 for two-sided buffers, +1 / -1 for single-sided
    * left / right. A single-sided buffer of an input with a lineal part
    * always takes the piece walk: the line itself bounds it there.
    */
  private[core] def arrangementBuffer(g: Geom, d: Double, st: Style, grow: Boolean,
                                      side: Int, pieceWalk: Boolean,
                                      epsFactor: Double = Noder.BaseEpsFactor): Geom = {
    val qs = st.quadSegs
    // a single-sided line's own piece outlines bound its buffer
    val outlined = pieceWalk || side != 0 && Geom.dump(g).exists(_.isInstanceOf[GLine])
    val noder = new Noder(epsFactor)

    // ---- round walk: the input segments, each with its box
    var pv = new Array[Double](4 * 16) // a, b: within d of segment a-b (a == b: a disc)
    val penvs = mutable.ArrayBuffer.empty[Env]
    def distPiece(ax: Double, ay: Double, bx: Double, by: Double): Unit = {
      val b = 4 * penvs.length
      if (b == pv.length) pv = java.util.Arrays.copyOf(pv, 2 * b)
      pv(b) = ax; pv(b + 1) = ay; pv(b + 2) = bx; pv(b + 3) = by
      penvs += Env(math.min(ax, bx) - d, math.min(ay, by) - d, math.max(ax, bx) + d, math.max(ay, by) + d)
    }
    def distPieces(s: Seqn): Unit = {
      var i = 0
      while (i < s.n - 1) {
        distPiece(s.x(i), s.y(i), s.x(i + 1), s.y(i + 1))
        i += 1
      }
      if (s.n == 1) distPiece(s.x(0), s.y(0), s.x(0), s.y(0))
    }
    /** p is within r of input segment i. */
    def inPiece(i: Int, px: Double, py: Double, r: Double): Boolean = {
      val b = 4 * i
      Alg.distPointSeg(px, py, pv(b), pv(b + 1), pv(b + 2), pv(b + 3)) <= r
    }

    // ---- offset linework: the piece walk nodes it as emitted and ends
    // a parity group after each piece; the round walk nodes it after
    // the walk (see the covered step)
    val groupEnd = mutable.ArrayBuffer.empty[Int]
    def endPiece(): Unit = if (outlined) groupEnd += noder.segmentCount
    val lines = mutable.ArrayBuffer.empty[Array[Double]]
    var turns = new Array[Double](32) // per line: the vertex a join arc turns at, else NaN
    def emitLine(pts: Array[Double], vx: Double = Double.NaN, vy: Double = Double.NaN): Unit =
      if (pts.length < 4) ()
      else if (outlined) noder.addLine(Seqn.xy(pts), srcA = true)
      else {
        val i = lines.length
        if (2 * i + 2 > turns.length) turns = java.util.Arrays.copyOf(turns, 2 * turns.length)
        turns(2 * i) = vx; turns(2 * i + 1) = vy
        lines += pts
      }
    def emitArc(cx: Double, cy: Double, a1: Double, sweep: Double,
                turn: Boolean = false): Unit = {
      val steps = math.max(2, math.ceil(math.abs(sweep) / (math.Pi / 2) * qs).toInt)
      val arr = new Array[Double]((steps + 1) * 2)
      var i = 0
      while (i <= steps) {
        val a = a1 + sweep * i / steps
        arr(2 * i) = cx + d * math.cos(a)
        arr(2 * i + 1) = cy + d * math.sin(a)
        i += 1
      }
      if (turn) emitLine(arr, cx, cy) else emitLine(arr)
    }
    /** Full circle polygonized starting at a0. The start angle MUST be
      * the normal angle of any attaching parallel: parallel endpoints
      * lie on the TRUE circle, so they only coincide with circle
      * vertices (and thus node into the arrangement) when the
      * polygonization starts there — otherwise the sagitta gap
      * (r(1-cos(pi/steps))) disconnects the band from its cap.
      * An even step count makes the antipodal normal a vertex too.
      */
    def emitCircle(cx: Double, cy: Double, a0: Double): Unit =
      emitArc(cx, cy, a0, 2 * math.Pi)
    /** Disc of radius d around c, outlined from angle a0. */
    def discPiece(cx: Double, cy: Double, a0: Double): Unit = {
      if (!outlined) distPiece(cx, cy, cx, cy)
      emitCircle(cx, cy, a0)
      endPiece()
    }

    /** Round walk of one vertex sequence. closed: ring (first==last).
      * side: +1 left of travel, -1 right, 0 both (open lines). For
      * rings the caller picks the single offset side.
      */
    def roundOffsets(s: Seqn, closed: Boolean, side: Int): Unit = {
      val n = s.n
      if (n < 2) { if (n == 1) emitCircle(s.x(0), s.y(0), 0.0); return }
      val sides = if (side == 0) Seq(1.0, -1.0) else Seq(side.toDouble)
      var headUx = Double.NaN; var headUy = Double.NaN
      var tailUx = Double.NaN; var tailUy = Double.NaN
      for (sg <- sides) {
        var prevUx = Double.NaN; var prevUy = Double.NaN
        var firstUx = Double.NaN; var firstUy = Double.NaN
        var i = 0
        while (i < n - 1) {
          val x1 = s.x(i); val y1 = s.y(i); val x2 = s.x(i + 1); val y2 = s.y(i + 1)
          val dx = x2 - x1; val dy = y2 - y1
          val len = math.hypot(dx, dy)
          if (len > 0) {
            val ux = dx / len; val uy = dy / len
            val nx = -uy * sg * d; val ny = ux * sg * d
            emitLine(Array(x1 + nx, y1 + ny, x2 + nx, y2 + ny))
            if (firstUx.isNaN) { firstUx = ux; firstUy = uy }
            if (!prevUx.isNaN) arcAtVertex(x1, y1, prevUx, prevUy, ux, uy, sg)
            prevUx = ux; prevUy = uy
          }
          i += 1
        }
        if (closed && !prevUx.isNaN && !firstUx.isNaN)
          arcAtVertex(s.x(0), s.y(0), prevUx, prevUy, firstUx, firstUy, sg)
        headUx = firstUx; headUy = firstUy
        tailUx = prevUx; tailUy = prevUy
      }
      if (!closed) {
        // round caps: full endpoint circles, polygonized starting at
        // the attaching parallel's normal angle (see emitCircle); the
        // extra half lies inside the buffer and only adds kept faces
        if (!headUx.isNaN)
          emitCircle(s.x(0), s.y(0), math.atan2(headUx, -headUy))
        if (!tailUx.isNaN)
          emitCircle(s.x(n - 1), s.y(n - 1), math.atan2(tailUx, -tailUy))
      }
      // all segments degenerate: the walk is a single repeated point
      if (headUx.isNaN) emitCircle(s.x(0), s.y(0), 0.0)
    }

    /** Arc around vertex (vx,vy) between incoming direction u1 and
      * outgoing u2 when the corner opens on offset side sg.
      */
    def arcAtVertex(vx: Double, vy: Double,
                    u1x: Double, u1y: Double, u2x: Double, u2y: Double,
                    sg: Double): Unit = {
      val cross = u1x * u2y - u1y * u2x
      val dot = u1x * u2x + u1y * u2y
      if (math.abs(cross) < 1e-12) {
        // spike / fold-back: full circle, anchored at u1's normal so
        // all four attaching parallel endpoints are circle vertices
        if (dot < 0) emitCircle(vx, vy, math.atan2(u1x, -u1y))
        return
      }
      if (sg * cross < 0) {
        // corner opens on the offset side: arc from n1 to n2 (short way)
        val n1a = math.atan2(u1x * sg, -u1y * sg)
        val n2a = math.atan2(u2x * sg, -u2y * sg)
        var sweep = n2a - n1a
        while (sweep <= -math.Pi) sweep += 2 * math.Pi
        while (sweep > math.Pi) sweep -= 2 * math.Pi
        emitArc(vx, vy, n1a, sweep, turn = true)
      }
    }

    /** Join piece at vertex v between incoming unit direction u1 and
      * outgoing u2, on the gap side of the turn; with a single side sd,
      * only when the gap opens on that side. Its outline is the arc,
      * chord or mitre chain from p1 to p2, closed through v.
      */
    def join(vx: Double, vy: Double, u1x: Double, u1y: Double, u2x: Double, u2y: Double,
             sd: Int): Unit = {
      val cross = u1x * u2y - u1y * u2x
      if (math.abs(cross) < 1e-12) {
        // straight on needs nothing; a two-sided u-turn folds the line
        // back on itself: round fills the disc, mitre/bevel leave the
        // flat fold that the end edges bound (JTS's limited mitre
        // degenerates the same way for antiparallel edges)
        if (sd == 0 && st.join == JoinRound && u1x * u2x + u1y * u2y < 0)
          discPiece(vx, vy, math.atan2(u1x, -u1y))
        return
      }
      val sg = if (cross < 0) 1.0 else -1.0 // gap on the left of a right turn
      if (sd != 0 && sd != sg) return
      val p1x = vx - u1y * sg * d; val p1y = vy + u1x * sg * d
      val p2x = vx - u2y * sg * d; val p2y = vy + u2x * sg * d
      def mitre(): Array[Double] = {
        // mitre tip: intersection of the two offset-edge lines
        // p1 + t*u1 = p2 + s2*u2  =>  t = cross(p2-p1, u2) / cross(u1, u2)
        val t = ((p2x - p1x) * u2y - (p2y - p1y) * u2x) / cross
        val mx = p1x + t * u1x; val my = p1y + t * u1y
        val lim = st.mitreLimit * d
        if (math.hypot(mx - vx, my - vy) <= lim) return Array(p1x, p1y, mx, my, p2x, p2y)
        // limited mitre: clip the spike with the line perpendicular
        // to the gap bisector at distance limit*d from v; a clip
        // line short of the bevel chord leaves the bevel
        val bevel = Array(p1x, p1y, p2x, p2y)
        val gx = p1x - vx + p2x - vx; val gy = p1y - vy + p2y - vy
        val bl = math.hypot(gx, gy)
        if (bl < 1e-12 * d) return bevel
        val bx = gx / bl; val by = gy / bl
        val den1 = u1x * bx + u1y * by
        val den2 = u2x * bx + u2y * by
        val chord = (p1x - vx) * bx + (p1y - vy) * by
        if (math.abs(den1) < 1e-12 || math.abs(den2) < 1e-12 || lim < chord) return bevel
        val t1 = (lim - chord) / den1
        val t2 = (lim - ((p2x - vx) * bx + (p2y - vy) * by)) / den2
        Array(p1x, p1y, p1x + t1 * u1x, p1y + t1 * u1y, p2x + t2 * u2x, p2y + t2 * u2y, p2x, p2y)
      }
      st.join match {
        case JoinRound => arcAtVertex(vx, vy, u1x, u1y, u2x, u2y, sg)
        case JoinBevel => emitLine(Array(p1x, p1y, p2x, p2y))
        case _ => emitLine(mitre())
      }
      emitLine(Array(p2x, p2y, vx, vy, p1x, p1y)) // on the two segments' end edges
      endPiece()
    }

    /** Cap piece and its outline at open end v with outward unit
      * direction u (pointing away from the line).
      */
    def cap(vx: Double, vy: Double, ux: Double, uy: Double): Unit = st.cap match {
      case CapRound => discPiece(vx, vy, math.atan2(-ux, uy))
      case CapSquare =>
        // the half-square's chain, closed by the segment's end edge
        val nx = -uy * d; val ny = ux * d
        emitLine(Array(vx + nx, vy + ny, vx + nx + ux * d, vy + ny + uy * d,
          vx - nx + ux * d, vy - ny + uy * d, vx - nx, vy - ny, vx + nx, vy + ny))
        endPiece()
      case _ => ()
    }

    /** Piece walk of one vertex sequence: every piece with its whole
      * outline. sd = 0 both sides, +1 / -1 the left / right side only.
      * Repeated vertices are dropped; a ring walks its closing vertex
      * too.
      */
    def pieceOutlines(s: Seqn, closed: Boolean, sd: Int): Unit = {
      val xy = new Array[Double](2 * s.n + 2)
      var k = 0
      var i = 0
      while (i < s.n) {
        if (k == 0 || s.x(i) != xy(2 * k - 2) || s.y(i) != xy(2 * k - 1)) {
          xy(2 * k) = s.x(i); xy(2 * k + 1) = s.y(i); k += 1
        }
        i += 1
      }
      if (k == 0) return
      if (closed && k > 1 && (xy(0) != xy(2 * k - 2) || xy(1) != xy(2 * k - 1))) {
        xy(2 * k) = xy(0); xy(2 * k + 1) = xy(1); k += 1
      }
      if (k == 1) {
        if (sd == 0 && st.cap == CapRound) discPiece(xy(0), xy(1), 0.0)
        return
      }
      val lo = if (sd > 0) 0.0 else -1.0
      val hi = if (sd < 0) 0.0 else 1.0
      val u = new Array[Double](2 * (k - 1))
      i = 0
      while (i < k - 1) {
        val x1 = xy(2 * i); val y1 = xy(2 * i + 1); val x2 = xy(2 * i + 2); val y2 = xy(2 * i + 3)
        val len = math.hypot(x2 - x1, y2 - y1)
        val ux = (x2 - x1) / len; val uy = (y2 - y1) / len
        u(2 * i) = ux; u(2 * i + 1) = uy
        // offsets of the left side; the right side is their negation
        val nx = -uy * d; val ny = ux * d
        if (hi > 0) emitLine(Array(x1 + nx, y1 + ny, x2 + nx, y2 + ny))
        if (lo < 0) emitLine(Array(x1 - nx, y1 - ny, x2 - nx, y2 - ny))
        if (sd != 0) emitLine(Array(x1, y1, x2, y2))
        emitLine(Array(x1 + lo * nx, y1 + lo * ny, x1 + hi * nx, y1 + hi * ny))
        emitLine(Array(x2 + lo * nx, y2 + lo * ny, x2 + hi * nx, y2 + hi * ny))
        endPiece()
        i += 1
      }
      i = if (closed) 0 else 1
      while (i < k - 1) {
        val p = if (i == 0) k - 2 else i - 1
        join(xy(2 * i), xy(2 * i + 1), u(2 * p), u(2 * p + 1), u(2 * i), u(2 * i + 1), sd)
        i += 1
      }
      if (!closed && sd == 0) {
        cap(xy(0), xy(1), -u(0), -u(1))
        cap(xy(2 * k - 2), xy(2 * k - 1), u(2 * k - 4), u(2 * k - 3))
      }
    }

    def line(s: Seqn): Unit =
      if (outlined) pieceOutlines(s, closed = false, side)
      else { distPieces(s); roundOffsets(s, closed = false, side = 0) }
    def offsetRings(rs: Array[Seqn]): Unit = {
      if (outlined) { rs.foreach(pieceOutlines(_, closed = true, 0)); return }
      rs.foreach(distPieces)
      var ri = 0
      while (ri < rs.length) {
        val r = rs(ri)
        if (r.n >= 2) {
          val ccw = Alg.signedRingArea(r) > 0
          val isHole = ri > 0
          // grow: offset toward the polygon EXTERIOR (shell: away from
          // its region; hole: into its region). erode: flipped.
          val intoRegion = if (grow) isHole else !isHole
          // region lies LEFT of travel iff ring is CCW
          val regionSide = if (ccw) 1 else -1
          val side = if (intoRegion) regionSide else -regionSide
          roundOffsets(r, closed = true, side = side)
        } else if (r.n == 1) emitCircle(r.x(0), r.y(0), 0.0)
        ri += 1
      }
    }
    def walk(x: Geom): Unit = x match {
      case p: GPoint if !p.isEmpty => if (side == 0) discPiece(p.x, p.y, 0.0)
      case GMPoint(ps, _) => ps.foreach(walk)
      case GLine(s) => line(s)
      case GMLine(ls, _) => ls.foreach(line)
      case GPoly(rs, _) => offsetRings(rs)
      case GMPoly(ps, _) => ps.foreach(offsetRings)
      case GColl(cs, _) => cs.foreach(walk)
      case _ => ()
    }
    walk(g)
    if (outlined) {
      if (groupEnd.isEmpty) return GPoly(Array.empty, CT.XY)
      val pieces = groupEnd.length
      SetOps.addRingsOf(noder, g, srcA = true, groupEnd)
      noder.node()
      val arr = new Arrangement(noder.edges)
      arr.build()
      // bit 1: inside some piece; bit 2: inside g
      val label = arr.labelFaces(noder, groupEnd.toArray, pieces, new Array[Double](groupEnd.length))
      return arr.dissolve(label.map(l => if (grow) l != 0 else l == 2))
    }
    if (penvs.isEmpty) return GPoly(Array.empty, CT.XY)

    val ptree = RTree.bulkLoad(penvs.toArray)
    def inPieces(px: Double, py: Double): Boolean =
      !ptree.pointSearch(px, py)(i => !inPiece(i, px, py, d))
    val loc =
      if (g.dimension == 2 && ArealLocator.edgeCount(g) > 0) ArealLocator.build(g)
      else null
    def insideG(px: Double, py: Double): Boolean =
      loc != null && loc.locate(px, py) > 0

    /* Covered linework (see the scaladoc). Distance to a segment is
     * convex along a segment, so a segment whose two endpoints lie within
     * reach of one input segment lies wholly within reach of it. The
     * margin of four sagittas also leaves room for the leak test's
     * two-sagitta probes. */
    val sag = d * (1 - math.cos(math.Pi / (4 * math.max(1, qs))))
    val reach = d - 4 * sag
    val dropping = grow && reach > 0
    var dropped = new Array[Double](16) // midpoints of dropped segments
    var nDropped = 0
    var hint = -1 // the piece that covered the last dropped segment
    def coveredBy(i: Int, x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
      inPiece(i, x1, y1, reach) && inPiece(i, x2, y2, reach)
    def covered(x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
      (hint >= 0 && coveredBy(hint, x1, y1, x2, y2)) ||
        !ptree.pointSearch(x1, y1) { i =>
          if (coveredBy(i, x1, y1, x2, y2)) { hint = i; false } else true
        }
    /* A join arc around v (|sweep| < pi) lies d from v and, on the gap
     * side, d from both segments that end at v; so only a segment that
     * does not end at v and passes within d + reach < 2d of v can cover
     * part of it. */
    def lonelyTurn(vx: Double, vy: Double): Boolean =
      ptree.rangeSearch(Env(vx - d, vy - d, vx + d, vy + d)) { i =>
        val b = 4 * i
        (pv(b) == vx && pv(b + 1) == vy) || (pv(b + 2) == vx && pv(b + 3) == vy) ||
          !inPiece(i, vx, vy, 2 * d)
      }
    def nodeUncovered(li: Int): Unit = {
      val pts = lines(li)
      val nv = pts.length / 2
      def node(from: Int, until: Int): Unit = // vertices from .. until - 1
        if (until - from >= 2)
          noder.addLine(Seqn.xy(if (until - from == nv) pts
            else java.util.Arrays.copyOfRange(pts, 2 * from, 2 * until)), srcA = true)
      val vx = turns(2 * li); val vy = turns(2 * li + 1)
      val test = dropping && (vx.isNaN || !lonelyTurn(vx, vy))
      var run = 0 // first vertex of the current run of kept segments
      var j = 0
      while (test && j < nv - 1) {
        val x1 = pts(2 * j); val y1 = pts(2 * j + 1); val x2 = pts(2 * j + 2); val y2 = pts(2 * j + 3)
        if (covered(x1, y1, x2, y2)) {
          node(run, j + 1)
          if (2 * nDropped + 2 > dropped.length)
            dropped = java.util.Arrays.copyOf(dropped, 2 * dropped.length)
          dropped(2 * nDropped) = (x1 + x2) / 2; dropped(2 * nDropped + 1) = (y1 + y2) / 2
          nDropped += 1
          run = j + 1
        }
        j += 1
      }
      node(run, nv)
    }
    var li = 0
    while (li < lines.length) { nodeUncovered(li); li += 1 }

    noder.node()
    val arr = new Arrangement(noder.edges)
    arr.build()
    val kept = new Array[Boolean](arr.nFaces)
    var f = 0
    while (f < arr.nFaces) {
      if (!arr.faceUnbounded(f)) {
        val (px, py) = arr.faceInteriorPoint(f)
        kept(f) =
          if (grow) insideG(px, py) || inPieces(px, py)
          else insideG(px, py) && !inPieces(px, py)
      }
      f += 1
    }
    val r = arr.dissolve(kept)

    /* Round walk leak test. An open linework end lets faces on both
     * sides of the buffer boundary merge into one face. The walk around
     * a linework curve with a gap has no area; rounding can still make
     * it a bounded face, which then borders no other face. Otherwise
     * the merged face carries linework that ends inside it, as do
     * sound faces: a parallel running on past the crossing at a
     * concave corner, or a flap left outside where two coarse arcs
     * cross short of the true circles. The points beside such an edge
     * lie on the face's side of the boundary, except in a merged face.
     * So on every edge with one face on both sides, step two sagittas
     * off each side: a point there that is in (out of) the buffer by
     * that margin while the face is not kept (kept), and that the
     * result has on the wrong side too, is a leak. */
    val separated = new Array[Boolean](arr.nFaces)
    var e = 0
    while (e < arr.edges.length) {
      val lf = arr.leftFace(e); val rf = arr.rightFace(e)
      if (lf != rf) { separated(lf) = true; separated(rf) = true }
      e += 1
    }
    f = 0
    while (f < arr.nFaces) {
      if (!separated(f) && !arr.faceUnbounded(f)) return null
      f += 1
    }
    val m = math.min(d / 2, 2 * sag)
    def within(px: Double, py: Double, reach: Double): Boolean =
      !ptree.rangeSearch(Env(px - m, py - m, px + m, py + m))(i => !inPiece(i, px, py, reach))
    def surely(in: Boolean, px: Double, py: Double): Boolean =
      if (grow) {
        if (in) insideG(px, py) || within(px, py, d - m)
        else !insideG(px, py) && !within(px, py, d + m)
      } else {
        if (in) insideG(px, py) && !within(px, py, d + m)
        else !insideG(px, py) || within(px, py, d - m)
      }
    lazy val rLoc = if (ArealLocator.edgeCount(r) > 0) ArealLocator.build(r) else null
    def inResult(px: Double, py: Double): Boolean = rLoc != null && rLoc.locate(px, py) >= 0
    def wrong(k: Boolean, px: Double, py: Double): Boolean =
      surely(!k, px, py) && inResult(px, py) == k
    e = 0
    while (e < arr.edges.length) {
      val lf = arr.leftFace(e)
      if (lf == arr.rightFace(e)) {
        val ed = arr.edges(e)
        val len = math.hypot(ed.x2 - ed.x1, ed.y2 - ed.y1)
        val mx = (ed.x1 + ed.x2) / 2; val my = (ed.y1 + ed.y2) / 2
        val nx = -(ed.y2 - ed.y1) / len * m; val ny = (ed.x2 - ed.x1) / len * m
        if (wrong(kept(lf), mx + nx, my + ny) || wrong(kept(lf), mx - nx, my - ny)) return null
      }
      e += 1
    }
    // covered-linework guard: every dropped segment lies inside the result
    var k = 0
    while (k < nDropped) {
      if (rLoc == null || rLoc.locate(dropped(2 * k), dropped(2 * k + 1)) <= 0)
        return null
      k += 1
    }
    r
  }
}
