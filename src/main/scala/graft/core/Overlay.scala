package graft.core

/** Geometric intersection, the kernel behind `st_intersection`.
  *
  * Intersection has one implementation: the arrangement overlay in
  * [[SetOps.intersection]], as the reference runs OverlayNG for every
  * pair (geom/alg_overlay.go:74-120). Empty and envelope-disjoint inputs
  * return dim-typed empties like the reference (alg_overlay.go:29-44:
  * dim 0 = POINT EMPTY, 1 = LINESTRING EMPTY, 2 = POLYGON EMPTY;
  * intersection dim = min(dimA, dimB)); valid inputs give a valid
  * result. The fast box clip, which may return invalid polygons, is
  * [[Algos.clipToBox]], behind `st_clipByBox` and `st_subdivide` only.
  */
object Overlay {

  def emptyOfDim(dim: Int): Geom = dim match {
    case 0 => GPoint.empty
    case 1 => GLine(Seqn.empty2D)
    case 2 => GPoly(Array.empty, CT.XY)
    case _ => Geom.emptyGC
  }

  def intersection(a: Geom, b: Geom): Geom = SetOps.intersection(a, b)
}

/** Structural equality with per-ordinate tolerance and the reference's
  * IgnoreOrder option (reference: geom/alg_exact_equals.go:72-96 —
  * ignores line direction, ring start-point rotation, interior-ring
  * order, and collection element order; alg_exact_equals.go:278-306
  * validPermutation for the element matching).
  */
object ExactEquals {
  def equalsWithTolerance(a: Geom, b: Geom, tol: Double,
                          ignoreOrder: Boolean = false): Boolean = {
    if (a.typeCode != b.typeCode || a.ct != b.ct) return false
    def eq(x: Double, y: Double): Boolean =
      x == y || math.abs(x - y) <= tol || (x.isNaN && y.isNaN)
    // XY tolerance is EUCLIDEAN (reference ToleranceXY: lengthSq of the
    // XY delta vs tol^2 — alg_exact_equals.go:54-60); Z/M per-ordinate
    def xyEq(x1: Double, y1: Double, x2: Double, y2: Double): Boolean = {
      if (x1 == x2 && y1 == y2) return true
      val dx = x1 - x2; val dy = y1 - y2
      dx * dx + dy * dy <= tol * tol
    }

    /** Curve comparison under the optional index mappings the
      * reference uses: identity, reversal, and (for rings) rotation —
      * alg_exact_equals.go:127-178.
      */
    def seqEq(s1: Seqn, s2: Seqn, allowRotation: Boolean): Boolean = {
      if (s1.n != s2.n || s1.ct != s2.ct) return false
      val n = s1.n
      val stride = CT.stride(s1.ct)
      def ptEq(i: Int, j: Int): Boolean = {
        if (!xyEq(s1.floats(i * stride), s1.floats(i * stride + 1),
          s2.floats(j * stride), s2.floats(j * stride + 1))) return false
        var k = 2
        while (k < stride) {
          if (!eq(s1.floats(i * stride + k), s2.floats(j * stride + k))) return false
          k += 1
        }
        true
      }
      def sameCurve(m1: Int => Int, m2: Int => Int): Boolean = {
        var i = 0
        while (i < n) { if (!ptEq(m1(i), m2(i))) return false; i += 1 }
        true
      }
      val ident = (i: Int) => i
      if (sameCurve(ident, ident)) return true
      if (!ignoreOrder || n == 0) return false
      val rev = (i: Int) => n - i - 1
      val closed = n >= 2 &&
        s1.x(0) == s1.x(n - 1) && s1.y(0) == s1.y(n - 1) &&
        s2.x(0) == s2.x(n - 1) && s2.y(0) == s2.y(n - 1)
      if (sameCurve(ident, rev)) return true
      if (!(allowRotation && closed) || n < 2) return false
      // ring rotation: the duplicated closing point folds into index 0
      var o = 1
      while (o < n) {
        val off = (i: Int) => (i + o) % (n - 1)
        if (sameCurve(ident, off) || sameCurve(rev, off)) return true
        o += 1
      }
      false
    }

    /** Permutation matching for collection elements
      * (alg_exact_equals.go:278-306): identity order unless
      * ignoreOrder, then backtracking over valid assignments.
      */
    def structureEq(n: Int, elemEq: (Int, Int) => Boolean): Boolean = {
      if (!ignoreOrder) return (0 until n).forall(i => elemEq(i, i))
      val choices = scala.collection.mutable.ArrayBuffer.range(0, n)
      def recurse(level: Int): Boolean = {
        if (choices.isEmpty) return true
        var i = 0
        while (i < choices.length) {
          val c = choices(i)
          if (elemEq(level, c)) {
            val lastIdx = choices.length - 1
            choices(i) = choices(lastIdx); choices(lastIdx) = c
            choices.remove(lastIdx)
            if (recurse(level + 1)) return true
            choices += c
            val tmp = choices(i); choices(i) = choices(choices.length - 1)
            choices(choices.length - 1) = tmp
          }
          i += 1
        }
        false
      }
      recurse(0)
    }

    def polyEq(r1: Array[Seqn], r2: Array[Seqn]): Boolean =
      r1.length == r2.length && (r1.isEmpty ||
        (seqEq(r1(0), r2(0), allowRotation = true) &&
          structureEq(r1.length - 1, (i, j) =>
            seqEq(r1(i + 1), r2(j + 1), allowRotation = true))))

    (a, b) match {
      case (p1: GPoint, p2: GPoint) =>
        p1.isEmpty == p2.isEmpty &&
          (p1.isEmpty ||
            (xyEq(p1.coords(0), p1.coords(1), p2.coords(0), p2.coords(1)) &&
              (2 until p1.coords.length).forall(i => eq(p1.coords(i), p2.coords(i)))))
      case (GLine(s1), GLine(s2)) => seqEq(s1, s2, allowRotation = false)
      case (GPoly(r1, _), GPoly(r2, _)) => polyEq(r1, r2)
      case (GMPoint(p1, _), GMPoint(p2, _)) =>
        p1.length == p2.length && structureEq(p1.length, (i, j) =>
          equalsWithTolerance(p1(i), p2(j), tol, ignoreOrder))
      case (GMLine(l1, _), GMLine(l2, _)) =>
        l1.length == l2.length && structureEq(l1.length, (i, j) =>
          seqEq(l1(i), l2(j), allowRotation = false))
      case (GMPoly(p1, _), GMPoly(p2, _)) =>
        p1.length == p2.length && structureEq(p1.length, (i, j) => polyEq(p1(i), p2(j)))
      case (GColl(g1, _), GColl(g2, _)) =>
        g1.length == g2.length && structureEq(g1.length, (i, j) =>
          equalsWithTolerance(g1(i), g2(j), tol, ignoreOrder))
      case _ => false
    }
  }
}

/** PointOnSurface (reference: geom/alg_point_on_surface.go): areal
  * geometries use the adjusted-Y horizontal bisector and return the
  * midpoint of the widest interior run; linear/puntal pick the
  * vertex nearest the centroid.
  */
object PointOnSurface {
  def compute(g: Geom): Geom = {
    if (g.isEmpty) return GPoint.empty
    if (g.dimension == 2) {
      arealPOS(g) match {
        case Some((x, y)) => return GPoint.xy(x, y)
        case None => () // zero-area areal (degenerate/empty polygons):
                        // fall through to the vertex-based lower-dim path
      }
    }
    // lineal/puntal (and degenerate-areal fallback): vertex nearest the
    // centroid; the reference uses a nearest-to-centroid accumulator
    // over vertices (alg_point_on_surface.go:8-37)
    val candidates = Algos.collectXYs(g)
    if (candidates.isEmpty) return GPoint.empty
    val c = Measure.centroid(g)
      .filter(p => !p._1.isNaN && !p._2.isNaN)
      .getOrElse(candidates.head)
    var best: (Double, Double) = null
    var bestD = Double.PositiveInfinity
    for ((x, y) <- candidates) {
      val d = Alg.distPointPoint(x, y, c._1, c._2)
      if (d < bestD) { bestD = d; best = (x, y) }
    }
    GPoint.xy(best._1, best._2)
  }

  private def arealPOS(g: Geom): Option[(Double, Double)] = {
    val env = g.envelope
    if (env.isEmpty) return None
    // adjusted bisector Y: nudge off vertex rows to avoid degeneracy —
    // when a vertex lies on y, move y halfway down to the highest vertex
    // row below it (env.ymin if none); rows compared by
    // java.lang.Double.compare
    var y = (env.ymin + env.ymax) / 2
    var onRow = false
    var hasLower = false
    var lower = env.ymin
    def row(v: Double): Unit = {
      val c = java.lang.Double.compare(v, y)
      if (c == 0) onRow = true
      else if (c < 0 && (!hasLower || java.lang.Double.compare(v, lower) > 0)) {
        lower = v; hasLower = true
      }
    }
    def seqRows(s: Seqn): Unit = {
      var i = 0
      while (i < s.n) { row(s.y(i)); i += 1 }
    }
    // every vertex of every part, read in place
    def rows(g: Geom): Unit = g match {
      case p: GPoint => if (!p.isEmpty) row(p.y)
      case GLine(s) => seqRows(s)
      case GPoly(rs, _) => rs.foreach(seqRows)
      case GMPoint(ps, _) => ps.foreach(rows)
      case GMLine(ls, _) => ls.foreach(seqRows)
      case GMPoly(ps, _) => ps.foreach(_.foreach(seqRows))
      case GColl(gs, _) => gs.foreach(rows)
    }
    rows(g)
    if (onRow) {
      val cand = (lower + y) / 2
      if (cand != y) y = cand
    }
    // intersect horizontal line with all areal rings; collect xs
    var xs = new Array[Double](16)
    var nx = 0
    def ringXs(r: Seqn): Unit = {
      var i = 0
      while (i < r.n - 1) {
        val y1 = r.y(i); val y2 = r.y(i + 1)
        if ((y1 > y) != (y2 > y)) {
          val t = (y - y1) / (y2 - y1)
          if (nx == xs.length) xs = java.util.Arrays.copyOf(xs, nx * 2)
          xs(nx) = r.x(i) + t * (r.x(i + 1) - r.x(i))
          nx += 1
        }
        i += 1
      }
    }
    def walk(g: Geom): Unit = g match {
      case GPoly(rs, _) => rs.foreach(ringXs)
      case GMPoly(ps, _) => ps.foreach(_.foreach(ringXs))
      case GColl(gs, _) => gs.foreach(walk)
      case _ =>
    }
    walk(g)
    val sorted = java.util.Arrays.copyOf(xs, nx)
    java.util.Arrays.sort(sorted) // java.lang.Double.compare order
    var best: Option[(Double, Double)] = None
    var bestW = -1.0
    var i = 0
    while (i + 1 < sorted.length) {
      val w = sorted(i + 1) - sorted(i)
      val mx = (sorted(i) + sorted(i + 1)) / 2
      if (w > bestW && Alg.pointInAreal(g, mx, y) == 1) {
        bestW = w; best = Some((mx, y))
      }
      i += 2
    }
    best
  }
}

/** Cartographic projections as pure XY->XY maps
  * (reference: carto/proj_web_mercator.go:30-57,
  * carto/proj_sinusoidal.go:37-63,
  * carto/proj_lambert_cylindrical_equal_area.go:37-63,
  * carto/proj_equirectangular.go:46-74). Spec strings:
  * "webmercator" (zoom 0), "webmercator:z", "sinusoidal",
  * "lambertcyl", "equirect". Suffix ":inv" applies the reverse map.
  */
object Projections {
  /** WGS84 ellipsoid mean radius, matching the reference's carto
    * constant (reference: carto/radius.go WGS84EllipsoidMeanRadiusM).
    */
  private final val R = (2 * 6378137.0 + 6356752.314245) / 3

  def forward(g: Geom, spec0: String): Geom = {
    val inv = spec0.endsWith(":inv")
    val spec = if (inv) spec0.dropRight(4) else spec0
    val fn: (Double, Double) => (Double, Double) = spec match {
      case s if s.startsWith("webmercator") =>
        val zoom = s.split(':') match {
          case Array(_, z) => z.toInt
          case _ => 0
        }
        val p = (1L << zoom).toDouble
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat)
          ((lon + 180) / 360 * p,
            (math.Pi - math.log(math.tan(math.Pi / 4 + phi / 2))) * p / (2 * math.Pi))
        } else (x, y) => {
          (x / p * 360 - 180,
            math.toDegrees(2 * (math.atan(math.exp(math.Pi - 2 * math.Pi * y / p)) - math.Pi / 4)))
        }
      case "sinusoidal" =>
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat)
          (R * math.toRadians(lon) * math.cos(phi), R * phi)
        } else (x, y) => {
          val phi = y / R
          (math.toDegrees(x / (R * math.cos(phi))), math.toDegrees(phi))
        }
      case "lambertcyl" =>
        if (!inv) (lon, lat) =>
          (R * math.toRadians(lon), R * math.sin(math.toRadians(lat)))
        else (x, y) =>
          (math.toDegrees(x / R), math.toDegrees(math.asin(y / R)))
      case "equirect" =>
        if (!inv) (lon, lat) => (R * math.toRadians(lon), R * math.toRadians(lat))
        else (x, y) => (math.toDegrees(x / R), math.toDegrees(y / R))

      // conic / azimuthal projections, spherical Snyder forms
      // (reference: carto/proj_lambert_conformal_conic.go:45-92,
      //  proj_albers_equal_area_conic.go:43-102,
      //  proj_equidistant_conic.go:48-113, proj_orthographic.go:46-78,
      //  proj_azimuthal_equidistant.go:39-76 — all "Map Projections: A
      //  Working Manual", Snyder, USGS PP 1395)
      case s if s.startsWith("lcc") =>
        val Array(_, a1, a2, a3, a4) = padSpec(s, 5)
        val phi1 = math.toRadians(a1.toDouble); val phi2 = math.toRadians(a2.toDouble)
        val lam0 = math.toRadians(a3.toDouble); val phi0 = math.toRadians(a4.toDouble)
        val n =
          if (phi1 == phi2) math.sin(phi1)
          else math.log(math.cos(phi1) / math.cos(phi2)) /
            math.log(math.tan(math.Pi / 4 + phi2 / 2) / math.tan(math.Pi / 4 + phi1 / 2))
        val F = math.cos(phi1) * math.pow(math.tan(math.Pi / 4 + phi1 / 2), n) / n
        val rho0 = R * F / math.pow(math.tan(math.Pi / 4 + phi0 / 2), n)
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat); val lam = math.toRadians(lon)
          val rho = R * F / math.pow(math.tan(math.Pi / 4 + phi / 2), n)
          (rho * math.sin(n * (lam - lam0)), rho0 - rho * math.cos(n * (lam - lam0)))
        } else (x, y) => {
          val rho = math.signum(n) * math.sqrt(x * x + (rho0 - y) * (rho0 - y))
          val theta = math.atan2(x, rho0 - y)
          val phi = 2 * math.atan(math.pow(R * F / rho, 1 / n)) - math.Pi / 2
          (math.toDegrees(lam0 + theta / n), math.toDegrees(phi))
        }
      case s if s.startsWith("albers") =>
        val Array(_, a1, a2, a3, a4) = padSpec(s, 5)
        val phi1 = math.toRadians(a1.toDouble); val phi2 = math.toRadians(a2.toDouble)
        val lam0 = math.toRadians(a3.toDouble); val phi0 = math.toRadians(a4.toDouble)
        val n = (math.sin(phi1) + math.sin(phi2)) / 2
        val c = math.cos(phi1) * math.cos(phi1) + 2 * n * math.sin(phi1)
        val rho0 = R * math.sqrt(c - 2 * n * math.sin(phi0)) / n
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat); val lam = math.toRadians(lon)
          val rho = R * math.sqrt(c - 2 * n * math.sin(phi)) / n
          val theta = n * (lam - lam0)
          (rho * math.sin(theta), rho0 - rho * math.cos(theta))
        } else (x, y) => {
          val rho = math.sqrt(x * x + (rho0 - y) * (rho0 - y))
          val theta = math.atan2(x, rho0 - y)
          val phi = math.asin((c - (rho * n / R) * (rho * n / R)) / (2 * n))
          (math.toDegrees(lam0 + theta / n), math.toDegrees(phi))
        }
      case s if s.startsWith("eqdc") =>
        val Array(_, a1, a2, a3, a4) = padSpec(s, 5)
        val phi1 = math.toRadians(a1.toDouble); val phi2 = math.toRadians(a2.toDouble)
        val lam0 = math.toRadians(a3.toDouble); val phi0 = math.toRadians(a4.toDouble)
        val n =
          if (phi1 == phi2) math.sin(phi1)
          else (math.cos(phi1) - math.cos(phi2)) / (phi2 - phi1)
        val gg = math.cos(phi1) / n + phi1
        val rho0 = R * (gg - phi0)
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat); val lam = math.toRadians(lon)
          val rho = R * (gg - phi)
          val theta = n * (lam - lam0)
          (rho * math.sin(theta), rho0 - rho * math.cos(theta))
        } else (x, y) => {
          val rho = math.signum(n) * math.sqrt(x * x + (rho0 - y) * (rho0 - y))
          val theta = math.atan2(x, rho0 - y)
          (math.toDegrees(lam0 + theta / n), math.toDegrees(gg - rho / R))
        }
      case s if s.startsWith("ortho") =>
        val Array(_, a1, a2) = padSpec(s, 3)
        val lam0 = math.toRadians(a1.toDouble); val phi0 = math.toRadians(a2.toDouble)
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat); val lam = math.toRadians(lon)
          (R * math.cos(phi) * math.sin(lam - lam0),
            R * (math.cos(phi0) * math.sin(phi) -
              math.sin(phi0) * math.cos(phi) * math.cos(lam - lam0)))
        } else (x, y) => {
          val rho = math.sqrt(x * x + y * y)
          if (rho == 0) (math.toDegrees(lam0), math.toDegrees(phi0))
          else {
            val cc = math.asin(math.min(1.0, rho / R))
            val phi = math.asin(math.cos(cc) * math.sin(phi0) +
              y * math.sin(cc) * math.cos(phi0) / rho)
            val lam = lam0 + math.atan2(x * math.sin(cc),
              rho * math.cos(cc) * math.cos(phi0) - y * math.sin(cc) * math.sin(phi0))
            (math.toDegrees(lam), math.toDegrees(phi))
          }
        }
      case s if s.startsWith("aeqd") =>
        val Array(_, a1, a2) = padSpec(s, 3)
        val lam0 = math.toRadians(a1.toDouble); val phi0 = math.toRadians(a2.toDouble)
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat); val lam = math.toRadians(lon)
          val cosc = math.sin(phi0) * math.sin(phi) +
            math.cos(phi0) * math.cos(phi) * math.cos(lam - lam0)
          val cc = math.acos(math.max(-1.0, math.min(1.0, cosc)))
          val kp = if (cc == 0) 1.0 else cc / math.sin(cc)
          (R * kp * math.cos(phi) * math.sin(lam - lam0),
            R * kp * (math.cos(phi0) * math.sin(phi) -
              math.sin(phi0) * math.cos(phi) * math.cos(lam - lam0)))
        } else (x, y) => {
          val rho = math.sqrt(x * x + y * y)
          if (rho == 0) (math.toDegrees(lam0), math.toDegrees(phi0))
          else {
            val cc = rho / R
            val phi = math.asin(math.cos(cc) * math.sin(phi0) +
              y * math.sin(cc) * math.cos(phi0) / rho)
            val lam = lam0 + math.atan2(x * math.sin(cc),
              rho * math.cos(cc) * math.cos(phi0) - y * math.sin(cc) * math.sin(phi0))
            (math.toDegrees(lam), math.toDegrees(phi))
          }
        }
      case s if s.startsWith("utm") =>
        // Snyder ellipsoidal transverse Mercator, WGS84 constants
        // (reference: carto/proj_utm.go:133-230)
        val code = s.split(':')(1)
        require(code.length == 3, s"bad UTM code '$code' (e.g. 56S)")
        val zone = code.take(2).toInt
        require(zone >= 1 && zone <= 60, s"UTM zone $zone out of range")
        val north = code(2) == 'N' || code(2) == 'n'
        val lam0 = math.toRadians((zone - 1) * 6 - 180 + 3.0)
        val n0 = if (north) 0.0 else 10e6
        val aa = 6378137.0; val k0 = 0.9996; val e2 = 0.00669438; val e0 = 500e3
        val ep2 = e2 / (1 - e2)
        val e4 = e2 * e2; val e6 = e4 * e2
        if (!inv) (lon, lat) => {
          val phi = math.toRadians(lat); val lam = math.toRadians(lon)
          val nN = aa / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
          val t = math.tan(phi) * math.tan(phi)
          val c = ep2 * math.cos(phi) * math.cos(phi)
          val a1 = (lam - lam0) * math.cos(phi)
          val m = aa * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi -
            (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi) +
            (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi) -
            (35 * e6 / 3072) * math.sin(6 * phi))
          val a2 = a1 * a1; val a3 = a2 * a1; val a4 = a3 * a1
          val a5 = a4 * a1; val a6 = a5 * a1
          val x = e0 + k0 * nN * (a1 + (1 - t + c) * a3 / 6 +
            (5 - 18 * t + t * t + 72 * c - 58 * ep2) * a5 / 120)
          val y = n0 + k0 * (m + nN * math.tan(phi) * (a2 / 2 +
            (5 - t + 9 * c + 4 * c * c) * a4 / 24 +
            (61 - 58 * t + t * t + 600 * c - 330 * ep2) * a6 / 720))
          (x, y)
        } else (x0, y0) => {
          val x = x0 - e0; val y = y0 - n0
          val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
          val m = y / k0
          val mu = m / (aa * (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256))
          val e12 = e1 * e1; val e13 = e12 * e1; val e14 = e13 * e1
          val phi1 = mu + (3 * e1 / 2 - 27 * e13 / 32) * math.sin(2 * mu) +
            (21 * e12 / 16 - 55 * e14 / 32) * math.sin(4 * mu) +
            (151 * e13 / 96) * math.sin(6 * mu) +
            (1097 * e14 / 512) * math.sin(8 * mu)
          val c1 = ep2 * math.cos(phi1) * math.cos(phi1)
          val t1 = math.tan(phi1) * math.tan(phi1)
          val n1 = aa / math.sqrt(1 - e2 * math.sin(phi1) * math.sin(phi1))
          val r1 = aa * (1 - e2) / math.pow(1 - e2 * math.sin(phi1) * math.sin(phi1), 1.5)
          val d = x / (n1 * k0)
          val d2 = d * d; val d3 = d2 * d; val d4 = d3 * d; val d5 = d4 * d; val d6 = d5 * d
          val phi = phi1 - (n1 * math.tan(phi1) / r1) * (d2 / 2 -
            (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * d4 / 24 +
            (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ep2 - 3 * c1 * c1) * d6 / 720)
          val lam = lam0 + (d - (1 + 2 * t1 + c1) * d3 / 6 +
            (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ep2 + 24 * t1 * t1) * d5 / 120) /
            math.cos(phi1)
          (math.toDegrees(lam), math.toDegrees(phi))
        }
      case other => throw new IllegalArgumentException(s"unknown projection '$other'")
    }
    Geom.transformXY(g, fn)
  }

  /** Split a spec like "lcc:33:45:-96:23" into exactly n fields,
    * padding missing numeric parameters with "0".
    */
  private def padSpec(s: String, n: Int): Array[String] = {
    val parts = s.split(':')
    (parts ++ Array.fill(math.max(0, n - parts.length))("0")).take(n)
  }
}
