package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests over the geometry kernels — the
  * randomized stand-in for the reference's GEOS-diff fuzzing
  * (cmprefimpl): codec round-trips, predicate symmetry/transposition,
  * envelope consistency, and overlay area conservation, over
  * generator-built valid geometries. Seeded, so runs are
  * deterministic.
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, prop: Prop, n: Int = 300): Unit = {
    // GRAFT_PROP_N overrides the per-property case count for one-off
    // deep fuzz runs (e.g. GRAFT_PROP_N=10000 sbt "testOnly *PropertySpec")
    val nEff = sys.env.get("GRAFT_PROP_N").map(_.toInt).getOrElse(n)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(nEff)
      .withInitialSeed(Seed(42L))
      .withWorkers(1)
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // exact quarter-fraction ordinates: no parse/format rounding anywhere
  private val ord: Gen[Double] = Gen.choose(-160, 160).map(_ / 4.0)
  private val posOrd: Gen[Double] = Gen.choose(2, 60).map(_ / 4.0)

  private val genPoint: Gen[Geom] =
    for (x <- ord; y <- ord) yield Wkt.parse(s"POINT($x $y)")

  private val genBoxPoly: Gen[Geom] =
    for (x <- ord; y <- ord; w <- posOrd; h <- posOrd)
      yield Wkt.parse(s"POLYGON((" +
        s"$x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))")

  private val genHolePoly: Gen[Geom] =
    for (x <- ord; y <- ord; w <- posOrd.map(_ + 4); h <- posOrd.map(_ + 4))
      yield Wkt.parse(s"POLYGON((" +
        s"$x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y)," +
        s"(${x + 1} ${y + 1}, ${x + 1} ${y + 2}, ${x + 2} ${y + 2}," +
        s" ${x + 2} ${y + 1}, ${x + 1} ${y + 1}))")

  private val genLine: Gen[Geom] =
    for {
      n <- Gen.choose(2, 6)
      xs <- Gen.listOfN(n, ord)
      ys <- Gen.listOfN(n, ord)
      if xs.zip(ys).distinct.size >= 2
    } yield Wkt.parse("LINESTRING(" +
      xs.zip(ys).distinct.map { case (x, y) => s"$x $y" }.mkString(", ") + ")")

  private val genMulti: Gen[Geom] = for {
    k <- Gen.choose(1, 3)
    pts <- Gen.listOfN(k, Gen.zip(ord, ord))
  } yield Wkt.parse("MULTIPOINT(" + pts.map { case (x, y) => s"($x $y)" }.mkString(", ") + ")")

  private val genAny: Gen[Geom] =
    Gen.oneOf(genPoint, genBoxPoly, genHolePoly, genLine, genMulti)

  private val genAreal: Gen[Geom] = Gen.oneOf(genBoxPoly, genHolePoly)

  // ---- hostile relate inputs on a small quarter grid, so parts meet:
  // mixed collections, polygons sharing an edge or a vertex, a line
  // along a ring, repeated vertices (zero-length segments)
  private val hq: Gen[Double] = Gen.choose(-24, 24).map(_ / 4.0)
  private val hlen: Gen[Double] = Gen.choose(1, 16).map(_ / 4.0)

  private def boxRing(x: Double, y: Double, w: Double, h: Double): Seqn =
    Seqn.of(x, y, x + w, y, x + w, y + h, x, y + h, x, y)

  /** s, half the time with one vertex repeated. */
  private def withRepeat(s: Seqn): Gen[Seqn] = for {
    rep <- Gen.oneOf(true, false); k <- Gen.choose(0, s.n - 1)
  } yield if (!rep) s else Seqn.xy((0 until s.n).flatMap { i =>
    Seq.fill(if (i == k) 2 else 1)(Seq(s.x(i), s.y(i))).flatten
  }.toArray)

  private val genHBox: Gen[GPoly] = for {
    x <- hq; y <- hq; w <- hlen; h <- hlen; r <- withRepeat(boxRing(x, y, w, h))
  } yield GPoly(Array(r), CT.XY)

  /** Two boxes sharing an edge, or only a corner. */
  private val genHAdjacent: Gen[Geom] = for {
    x <- hq; y <- hq; w <- hlen; h <- hlen; w2 <- hlen; h2 <- hlen
    corner <- Gen.oneOf(true, false)
  } yield GMPoly(Array(Array(boxRing(x, y, w, h)),
    Array(boxRing(x + w, if (corner) y + h else y, w2, h2))), CT.XY)

  private val genHLine: Gen[Geom] = for {
    n <- Gen.choose(2, 5); xs <- Gen.listOfN(n, hq); ys <- Gen.listOfN(n, hq)
    if xs.zip(ys).distinct.size >= 2
    s <- withRepeat(Seqn.xy(xs.zip(ys).flatMap { case (x, y) => Seq(x, y) }.toArray))
  } yield GLine(s)

  /** A line along the first edge of p's shell and on past its end. */
  private def lineAlong(p: GPoly): Gen[Geom] = hlen.map { d =>
    val r = p.rings(0)
    GLine(Seqn.of(r.x(0), r.y(0), r.x(2), r.y(2), r.x(2) + d, r.y(2)))
  }

  private val genHPoint: Gen[Geom] = for (x <- hq; y <- hq) yield GPoint.xy(x, y)

  private val genHCollection: Gen[Geom] = for {
    p <- genHBox; l <- Gen.oneOf(lineAlong(p), genHLine); pt <- genHPoint
    extra <- Gen.oneOf(genHAdjacent, genHBox, genHLine, genHPoint)
  } yield GColl(Array(p, l, pt, extra), CT.XY)

  private val genHostile: Gen[Geom] =
    Gen.oneOf(genHCollection, genHAdjacent, genHBox, genHLine, genHPoint)

  private val genRelate: Gen[Geom] = Gen.oneOf(genAny, genHostile, genHostile)

  test("WKT and WKB round-trip bit-identically") {
    check("roundtrip", Prop.forAll(genAny) { g =>
      val viaWkt = Wkt.parse(Wkt.write(g))
      val viaWkb = Wkb.read(Wkb.write(g))
      java.util.Arrays.equals(Wkb.write(viaWkt), Wkb.write(g)) &&
        java.util.Arrays.equals(Wkb.write(viaWkb), Wkb.write(g))
    })
  }

  test("intersects is symmetric; disjoint is its negation") {
    check("symmetry", Prop.forAll(genAny, genAny) { (a, b) =>
      val i = Intersects.intersects(a, b)
      i == Intersects.intersects(b, a) && Relate.disjoint(a, b) == !i
    })
  }

  test("contains(a,b) iff within(b,a); relate transposes") {
    check("transpose", Prop.forAll(genRelate, genRelate) { (a, b) =>
      val m = Relate.relate(a, b)
      val mt = Relate.relate(b, a)
      def t(s: String) = "" + s(0) + s(3) + s(6) + s(1) + s(4) + s(7) + s(2) + s(5) + s(8)
      m == t(mt) &&
        Relate.contains(a, b) == Relate.within(b, a) &&
        Relate.covers(a, b) == Relate.coveredBy(b, a)
    })
  }

  test("relate(A, A) matches T*F**FFF*") {
    check("self", Prop.forAll(genRelate) { a =>
      val m = Relate.relate(a, a)
      Relate.matches(m, "T*F**FFF*") :| s"${Wkt.write(a)}: $m"
    })
  }

  test("each named predicate is its pattern over relate") {
    check("predicates", Prop.forAll(genRelate, genRelate) { (a, b) =>
      val m = Relate.relate(a, b)
      def p(patterns: String*): Boolean = patterns.exists(Relate.matches(m, _))
      val da = a.dimension; val db = b.dimension
      val wrong = Seq(
        "intersects" -> (Intersects.intersects(a, b) == !p("FF*FF****")),
        "disjoint" -> (Relate.disjoint(a, b) == p("FF*FF****")),
        "touches" -> (Relate.touches(a, b) == p("FT*******", "F**T*****", "F***T****")),
        "contains" -> (Relate.contains(a, b) == p("T*****FF*")),
        "containsProperly" -> (Relate.containsProperly(a, b) == p("T**FF*FF*")),
        "within" -> (Relate.within(a, b) == p("T*F**F***")),
        "covers" -> (Relate.covers(a, b) == p("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*")),
        "coveredBy" -> (Relate.coveredBy(a, b) == p("T*F**F***", "*TF**F***", "**FT*F***", "**F*TF***")),
        "crosses" -> (Relate.crosses(a, b) ==
          (if (da < db) p("T*T******") else if (da > db) p("T*****T**")
           else da == 1 && p("0********"))),
        "overlaps" -> (Relate.overlaps(a, b) ==
          (if (da == db && da != 1) p("T*T***T**") else da == 1 && db == 1 && p("1*T***T**"))),
        "equalsTopo" -> (Relate.equalsTopo(a, b) == (da == db && p("T*F**FFF*")))
      ).collect { case (name, false) => name }
      wrong.isEmpty :| s"${Wkt.write(a)} / ${Wkt.write(b)}: $m, ${wrong.mkString(", ")}"
    })
  }

  test("relate of valid areal pairs: II, IE and EI are 2 iff the overlay has area") {
    val gen = Gen.oneOf(genBoxPoly, genHolePoly, genHBox, genHAdjacent)
    check("areal", Prop.forAll(gen, gen) { (a, b) =>
      !(Validate.isValid(a) && Validate.isValid(b)) || {
        val m = Relate.relate(a, b)
        def dim(g: Geom): Char = if (Measure.area(g) > 0) '2' else 'F'
        val want = "" + dim(SetOps.intersection(a, b)) + dim(SetOps.difference(a, b)) +
          dim(SetOps.difference(b, a))
        (want == "" + m(Relate.II) + m(Relate.IE) + m(Relate.EI)) :|
          s"${Wkt.write(a)} / ${Wkt.write(b)}: $m, overlay $want"
      }
    })
  }

  test("intersecting geometries have intersecting envelopes") {
    check("envelope", Prop.forAll(genAny, genAny) { (a, b) =>
      !Intersects.intersects(a, b) || a.envelope.intersects(b.envelope)
    })
  }

  test("overlay conserves area: A = (A∩B) + (A\\B); union bounded") {
    check("area", Prop.forAll(genAreal, genAreal) { (a, b) =>
      val aA = Measure.area(a); val aB = Measure.area(b)
      val inter = Measure.area(SetOps.intersection(a, b))
      val diff = Measure.area(SetOps.difference(a, b))
      val uni = Measure.area(SetOps.union(a, b))
      val eps = 1e-9 * math.max(1.0, aA + aB)
      math.abs(inter + diff - aA) <= eps &&
        uni >= math.max(aA, aB) - eps &&
        uni <= aA + aB + eps &&
        math.abs(uni - (aA + aB - inter)) <= eps
    }, n = 200)
  }

  // concave: a box with a notch cut down from its top edge (a U)
  private val genNotchPoly: Gen[Geom] =
    for (x <- ord; y <- ord; w <- posOrd.map(_ + 6); h <- posOrd.map(_ + 4);
         a <- Gen.choose(1, 6).map(_ / 4.0); b <- Gen.choose(1, 6).map(_ / 4.0))
      yield Wkt.parse(s"POLYGON((" +
        s"$x $y, ${x + w} $y, ${x + w} ${y + h}, ${x + w - 1 - a} ${y + h}," +
        s" ${x + w - 1 - a} ${y + b}, ${x + 1 + a} ${y + b}, ${x + 1 + a} ${y + h}," +
        s" $x ${y + h}, $x $y))")

  // convex: an axis box with its corners cut off (an octagon)
  private val genOctagon: Gen[Geom] =
    for (x <- ord; y <- ord; w <- posOrd.map(_ + 2); h <- posOrd.map(_ + 2);
         c <- Gen.choose(1, 4).map(_ / 4.0))
      yield Wkt.parse(s"POLYGON((" +
        s"${x + c} $y, ${x + w - c} $y, ${x + w} ${y + c}, ${x + w} ${y + h - c}," +
        s" ${x + w - c} ${y + h}, ${x + c} ${y + h}, $x ${y + h - c}, $x ${y + c}," +
        s" ${x + c} $y))")

  test("st_intersection of concave or holed polygons with boxes and convex polygons is valid") {
    check("intersection", Prop.forAll(Gen.oneOf(genNotchPoly, genHolePoly),
      Gen.oneOf(genBoxPoly, genOctagon)) { (a, b) =>
      val ab = Overlay.intersection(a, b)
      val ba = Overlay.intersection(b, a)
      val area = Measure.area(ab)
      val eps = 1e-9 * math.max(1.0, Measure.area(a) + Measure.area(b))
      (Validate.isValid(ab) && Validate.isValid(ba) &&
        math.abs(area - Measure.area(ba)) <= eps &&
        area <= math.min(Measure.area(a), Measure.area(b)) + eps) :|
        s"${Wkt.write(a)} ∩ ${Wkt.write(b)} = ${Wkt.write(ab)}"
    }, n = 200)
  }

  for ((name, op) <- Seq[(String, (Geom, Geom) => Geom)](
         "st_union" -> SetOps.union, "st_difference" -> SetOps.difference,
         "st_symdifference" -> SetOps.symDifference)) {
    test(s"$name of the same pairs is valid, either way round") {
      check(name, Prop.forAll(Gen.oneOf(genNotchPoly, genHolePoly),
        Gen.oneOf(genBoxPoly, genOctagon)) { (a, b) =>
        val ab = op(a, b)
        val ba = op(b, a)
        (Validate.isValid(ab) && Validate.isValid(ba)) :|
          s"${Wkt.write(a)}, ${Wkt.write(b)}: ${Wkt.write(ab)}; ${Wkt.write(ba)}"
      }, n = 200)
    }
  }

  test("distance zero iff intersects") {
    check("distance", Prop.forAll(genAny, genAny) { (a, b) =>
      Intersects.distance(a, b) match {
        case Some(d) => (d == 0.0) == Intersects.intersects(a, b)
        case None => a.isEmpty || b.isEmpty
      }
    })
  }

  // ---- buffer: seeded stars, holed stars, lines, points, touching
  // multipolygons and bowties, under every cap/join/side style
  private val genXY: Gen[(Double, Double)] =
    Gen.zip(Gen.choose(-50.0, 50.0), Gen.choose(-50.0, 50.0))

  /** Star ring around (cx, cy): sorted random angles, radii in
    * [rIn, rOut], half the time snapped to a 1/64 grid (which can make
    * the ring touch or cross itself).
    */
  private def starRing(cx: Double, cy: Double, rIn: Double, rOut: Double,
                       ccw: Boolean): Gen[Seqn] = for {
    n <- Gen.choose(3, 48)
    angles <- Gen.listOfN(n, Gen.choose(0.0, 2 * math.Pi))
    radii <- Gen.listOfN(n, Gen.choose(rIn, rOut))
    grid <- Gen.oneOf(true, false)
  } yield {
    def snap(v: Double) = if (grid) math.rint(v * 64) / 64 else v
    val pts = angles.sorted.zip(radii).map { case (a, r) =>
      (snap(cx + r * math.cos(a)), snap(cy + r * math.sin(a))) }
    val ring = if (ccw) pts :+ pts.head else (pts :+ pts.head).reverse
    Seqn.xy(ring.flatMap { case (x, y) => Seq(x, y) }.toArray)
  }

  private val genStar: Gen[Geom] = for {
    (cx, cy) <- genXY; r <- Gen.choose(2.0, 20.0)
    shell <- starRing(cx, cy, 0.3 * r, r, ccw = true)
  } yield GPoly(Array(shell), CT.XY)

  private val genHoledStar: Gen[Geom] = for {
    (cx, cy) <- genXY; r <- Gen.choose(4.0, 20.0)
    shell <- starRing(cx, cy, 0.6 * r, r, ccw = true)
    hole <- starRing(cx, cy, 0.1 * r, 0.45 * r, ccw = false)
  } yield GPoly(Array(shell, hole), CT.XY)

  private val genWalk: Gen[Geom] = for {
    (x, y) <- genXY
    steps <- Gen.listOf(Gen.zip(Gen.choose(-6.0, 6.0), Gen.choose(-6.0, 6.0)))
      .map(_.take(24)).suchThat(_.nonEmpty)
  } yield {
    val pts = steps.scanLeft((x, y)) { case ((px, py), (dx, dy)) => (px + dx, py + dy) }
    GLine(Seqn.xy(pts.flatMap { case (a, b) => Seq(a, b) }.toArray))
  }

  /** Two squares meeting at one corner plus a detached star. */
  private val genTouching: Gen[Geom] = for {
    (x, y) <- genXY; s <- Gen.choose(1.0, 10.0)
    far <- starRing(x - 3 * s, y - 3 * s, 0.3 * s, s, ccw = true)
  } yield {
    def sq(x0: Double, y0: Double): Array[Seqn] =
      Array(Seqn.of(x0, y0, x0 + s, y0, x0 + s, y0 + s, x0, y0 + s, x0, y0))
    GMPoly(Array(sq(x, y), sq(x + s, y + s), Array(far)), CT.XY)
  }

  /** Self-crossing quadrilateral, optionally with extra wiggle. */
  private val genBowtie: Gen[Geom] = for {
    (x, y) <- genXY; w <- Gen.choose(1.0, 20.0); h <- Gen.choose(1.0, 20.0)
    wiggle <- Gen.oneOf(true, false)
  } yield {
    val mid = if (wiggle) Seq(x + w / 2, y + h * 1.5) else Seq.empty
    GPoly(Array(Seqn.of(Seq(x, y, x + w, y + h) ++ mid ++ Seq(x + w, y, x, y + h, x, y): _*)), CT.XY)
  }

  private val genBufferInput: Gen[Geom] = Gen.oneOf(genStar, genHoledStar, genWalk,
    genXY.map { case (x, y) => GPoint.xy(x, y) }, genTouching, genBowtie)

  private def bufferRadius(g: Geom): Double = {
    val e = g.envelope
    math.max(e.width, e.height) * 0.08 + 0.05
  }

  private val bufferStyles = Seq("", "endcap=flat join=mitre", "endcap=square join=mitre",
    "join=bevel", "mitre_limit=1", "quad_segs=2", "side=left", "side=right")

  test("buffer: every style gives a valid result that covers, or erodes within, a valid areal input") {
    check("buffer", Prop.forAll(genBufferInput) { g =>
      val r = bufferRadius(g)
      val arealValid = g.dimension == 2 && Validate.isValid(g)
      val bad = for {
        params <- bufferStyles
        st = BufferOp.parseStyle(params)._1
        d <- Seq(r, -r / 2)
        b = BufferOp.buffer(g, d, st)
        // single-sided buffers of areal inputs are their two-sided buffer
        grows = d > 0 || st.singleSided
        if !Validate.isValid(b) || (arealValid &&
          !(if (grows) Relate.covers(b, g) else b.isEmpty || Relate.coveredBy(b, g)))
      } yield s"'$params' d=$d: ${Wkt.write(b)}"
      bad.isEmpty :| s"${Wkt.write(g)}: ${bad.mkString("; ")}"
    }, n = 120)
  }

  test("buffer: side=left of an areal input is its two-sided buffer, byte for byte") {
    check("side", Prop.forAll(Gen.oneOf(genStar, genHoledStar, genTouching, genBowtie)) { g =>
      val r = bufferRadius(g)
      Seq("", "endcap=flat join=mitre", "join=bevel").forall { params =>
        val two = BufferOp.buffer(g, r, BufferOp.parseStyle(params)._1)
        val left = BufferOp.buffer(g, r, BufferOp.parseStyle(params + " side=left")._1)
        java.util.Arrays.equals(Wkb.write(left), Wkb.write(two))
      } :| Wkt.write(g)
    }, n = 100)
  }

  /** Dense star of 64-256 vertices alternating between an outer radius
    * in [0.8, 1] r and an inner one in [0.35, 0.6] r, with angular
    * jitter under a quarter step and, half the time, a small hole,
    * buffered by d = 0.1 r: its tips lie closer than 2d, so most of the
    * round walk's arcs fall deep inside the buffer (the engine
    * benchmark's large polygons, and KernelScale's star from n = 128).
    */
  private val genDenseStar: Gen[(Geom, Double)] = for {
    (cx, cy) <- genXY; r <- Gen.choose(0.01, 20.0); n <- Gen.choose(64, 256)
    phase <- Gen.choose(0.0, 1.0); holed <- Gen.oneOf(true, false)
    jitter <- Gen.listOfN(n, Gen.choose(-0.25, 0.25))
    radii <- Gen.listOfN(n, Gen.choose(0.0, 1.0))
  } yield {
    val step = 2 * math.Pi / n
    def ring(pts: Seq[(Double, Double)]): Seqn =
      Seqn.xy((pts :+ pts.head).flatMap { case (x, y) => Seq(x, y) }.toArray)
    val shell = (0 until n).map { i =>
      val a = (phase + i + jitter(i)) * step
      val rr = r * (if (i % 2 == 0) 0.8 + 0.2 * radii(i) else 0.35 + 0.25 * radii(i))
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    val hole = (0 until 6).reverse.map { i =>
      val a = i * math.Pi / 3
      (cx + 0.1 * r * math.cos(a), cy + 0.1 * r * math.sin(a))
    }
    (GPoly(if (holed) Array(ring(shell), ring(hole)) else Array(ring(shell)), CT.XY), 0.1 * r)
  }

  test("buffer: the default buffer is the piece walk's region") {
    val gen = Gen.oneOf(
      Gen.oneOf(genBoxPoly, genHolePoly, genLine, genStar, genHoledStar, genWalk)
        .map(g => (g, bufferRadius(g))),
      genDenseStar)
    check("region", Prop.forAll(gen) { case (g, d) =>
      Validate.isValid(g) ==> {
        val b = BufferOp.buffer(g, d)
        val p = BufferOp.arrangementBuffer(g, d, BufferOp.Style(), grow = true, side = 0,
          pieceWalk = true)
        val sd = Measure.area(SetOps.symDifference(b, p))
        (Validate.isValid(b) && sd <= 1e-9 * Measure.area(p)) :|
          s"${Wkt.write(g)} d=$d: symmetric difference $sd"
      }
    }, n = 150)
  }
}
