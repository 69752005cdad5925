package graft.core

import org.scalatest.funsuite.AnyFunSuite

class BufferSpec extends AnyFunSuite {

  private def g(wkt: String): Geom = Wkt.parse(wkt)

  // inscribed regular n-gon area: (1/2) n r^2 sin(2*pi/n)
  private def discArea(r: Double, n: Int): Double =
    0.5 * n * r * r * math.sin(2 * math.Pi / n)

  test("point buffer: n-gon disc, exact inscribed area, covers point") {
    val b = BufferOp.buffer(g("POINT(3 4)"), 2.0)
    assert(b.dimension == 2)
    assert(math.abs(Measure.area(b) - discArea(2.0, 32)) < 1e-9)
    assert(Relate.covers(b, g("POINT(3 4)")))
    assert(Validate.isValid(b))
  }

  test("line buffer: area ~ 2dL + pi d^2, covers line") {
    val l = g("LINESTRING(0 0,10 0)")
    val b = BufferOp.buffer(l, 1.0)
    val expect = 2 * 1.0 * 10 + math.Pi // caps sum to one disc
    assert(math.abs(Measure.area(b) - expect) / expect < 0.01,
      s"area=${Measure.area(b)} expect~$expect")
    assert(Relate.covers(b, l))
    assert(Validate.isValid(b))
  }

  test("bent line buffer stays valid and covers") {
    val l = g("LINESTRING(0 0,10 0,10 10,0 10)")
    val b = BufferOp.buffer(l, 1.5)
    assert(Relate.covers(b, l))
    assert(Validate.isValid(b))
    // 30 length * 3 width + pi*r^2 caps - 2 corner overcounts (already
    // merged by union); just sanity-bound it
    val a = Measure.area(b)
    assert(a > 80 && a < 100, s"area=$a")
  }

  test("polygon positive buffer grows, covers original; negative shrinks") {
    val p = g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    val grow = BufferOp.buffer(p, 1.0)
    assert(Relate.covers(grow, p))
    val ga = Measure.area(grow)
    // 100 + perimeter*1 + pi (rounded corners) ~ 143.1
    assert(math.abs(ga - (100 + 40 + math.Pi)) / ga < 0.01, s"area=$ga")

    val shrink = BufferOp.buffer(p, -2.0)
    assert(Relate.within(shrink, p))
    assert(math.abs(Measure.area(shrink) - 36.0) < 0.4, s"area=${Measure.area(shrink)}")

    // erode to nothing
    assert(BufferOp.buffer(p, -6.0).isEmpty)
  }

  test("polygon with hole: negative buffer grows the hole") {
    val p = g("POLYGON((0 0,20 0,20 20,0 20,0 0),(8 8,12 8,12 12,8 12,8 8))")
    val shrunk = BufferOp.buffer(p, -1.0)
    assert(Relate.within(shrunk, p))
    // outer shrinks to 18x18, hole grows to ~6x6 with rounded corners
    val a = Measure.area(shrunk)
    assert(a > 285 && a < 289, s"area=$a")
  }

  test("buffer(0) and empties") {
    val p = g("POLYGON((0 0,4 0,4 4,0 4,0 0))")
    assert(Measure.area(BufferOp.buffer(p, 0.0)) == 16.0)
    assert(BufferOp.buffer(g("LINESTRING(0 0,1 1)"), 0.0).isEmpty)
    assert(BufferOp.buffer(g("POINT(1 1)"), -1.0).isEmpty)
    assert(BufferOp.buffer(g("POLYGON EMPTY"), 1.0).isEmpty)
  }

  test("multi-geometry buffers dissolve overlaps") {
    val mp = g("MULTIPOINT(0 0,1 0)")
    val b = BufferOp.buffer(mp, 1.0)
    assert(b.isInstanceOf[GPoly], s"expected dissolved single polygon, got ${b.typeName}")
    assert(Validate.isValid(b))
  }
}

/** Cap/join style matrix (reference: geom/alg_buffer.go:24-124). */
class BufferStyleSpec extends AnyFunSuite {
  import BufferOp._

  private def g(wkt: String): Geom = Wkt.parse(wkt)
  private def area(x: Geom): Double = Measure.area(x)

  test("flat cap: straight line buffer is the exact rectangle") {
    val l = g("LINESTRING(0 0,10 0)")
    val b = BufferOp.buffer(l, 2.0, Style(cap = CapFlat))
    assert(math.abs(area(b) - 40.0) < 1e-9, s"area=${area(b)}")
    assert(Relate.covers(b, l))
    // endpoint-beyond region excluded
    assert(!Relate.intersects(b, g("POINT(-1 0)")))
  }

  test("square cap: rectangle plus two half-square extensions") {
    val l = g("LINESTRING(0 0,10 0)")
    val b = BufferOp.buffer(l, 2.0, Style(cap = CapSquare))
    // 2dL + two caps of 2d^2 each = 40 + 16
    assert(math.abs(area(b) - 56.0) < 1e-9, s"area=${area(b)}")
    assert(Relate.covers(b, g("POINT(-2 2)")) && Relate.covers(b, g("POINT(12 -2)")))
  }

  test("cap area ordering: flat < round < square") {
    val l = g("LINESTRING(0 0,7 0)")
    val f = area(BufferOp.buffer(l, 1.5, Style(cap = CapFlat)))
    val r = area(BufferOp.buffer(l, 1.5, Style(cap = CapRound)))
    val s = area(BufferOp.buffer(l, 1.5, Style(cap = CapSquare)))
    assert(f < r && r < s, s"f=$f r=$r s=$s")
  }

  test("mitre join: right-angle bend gives the exact sharp corner") {
    val l = g("LINESTRING(0 0,10 0,10 10)")
    val b = BufferOp.buffer(l, 2.0, Style(cap = CapFlat, join = JoinMitre))
    // two 10x4 rectangles overlap in a 4x4 square at the corner, plus
    // the mitre fills the outer 2x2... exact union area of the mitred
    // L-band: inner boundary turns at (8,2), outer sharp corner at
    // (12,-2): area = 2*(10*4) - 4*4 + 2*2 + 2*2 + ... compute via
    // polygon: outer path (0,-2)->(12,-2)->(12,10) inner (8,2)->(0,2)
    // region = big square minus inner: integrate: x in [0,8]: y in
    // [-2,2] height 4 => 32; x in [8,12]: y in [-2,10] height 12 => 48
    // total 80; minus nothing. = 80
    assert(math.abs(area(b) - 80.0) < 1e-9, s"area=${area(b)}")
    assert(Relate.covers(b, g("POINT(11.9 -1.9)"))) // sharp outer corner present
  }

  test("bevel join: right-angle bend cuts the outer corner") {
    val l = g("LINESTRING(0 0,10 0,10 10)")
    val b = BufferOp.buffer(l, 2.0, Style(cap = CapFlat, join = JoinBevel))
    // mitred area 80 minus the cut corner triangle: corner triangle
    // between (12,0),(12,-2)... bevel connects (10,-2) to (12,0):
    // removes right triangle with legs 2,2 => area 2
    assert(math.abs(area(b) - 78.0) < 1e-9, s"area=${area(b)}")
    assert(!Relate.covers(b, g("POINT(11.9 -1.9)"))) // sharp corner cut
  }

  test("join area ordering: bevel < round < mitre") {
    val l = g("LINESTRING(0 0,10 0,17 7)") // 135-degree bend
    val bv = area(BufferOp.buffer(l, 2.0, Style(cap = CapFlat, join = JoinBevel)))
    val rd = area(BufferOp.buffer(l, 2.0, Style(cap = CapFlat, join = JoinRound)))
    val mt = area(BufferOp.buffer(l, 2.0, Style(cap = CapFlat, join = JoinMitre)))
    assert(bv < rd && rd < mt, s"bevel=$bv round=$rd mitre=$mt")
  }

  test("mitre limit clips spikes at sharp angles") {
    val l = g("LINESTRING(0 0,10 0,0 1)") // ~5.7-degree hairpin
    val unlimited = area(BufferOp.buffer(l, 1.0, Style(cap = CapFlat,
      join = JoinMitre, mitreLimit = 1000)))
    val limited = area(BufferOp.buffer(l, 1.0, Style(cap = CapFlat,
      join = JoinMitre, mitreLimit = 2)))
    assert(limited < unlimited, s"limited=$limited unlimited=$unlimited")
    // ratio for the hairpin: 1/sin(theta/2) is huge; limit caps it
    assert(unlimited - limited > 1.0)
  }

  test("single-sided: straight line, left vs right") {
    val l = g("LINESTRING(0 0,10 0)")
    val left = BufferOp.buffer(l, 2.0, Style(singleSided = true))
    val right = BufferOp.buffer(l, -2.0, Style(singleSided = true))
    assert(math.abs(area(left) - 20.0) < 1e-9)
    assert(math.abs(area(right) - 20.0) < 1e-9)
    assert(Relate.covers(left, g("POINT(5 1)")) && !Relate.intersects(left, g("POINT(5 -1)")))
    assert(Relate.covers(right, g("POINT(5 -1)")) && !Relate.intersects(right, g("POINT(5 1)")))
    assert(Relate.covers(left, l)) // input line is on the boundary
  }

  test("single-sided: bend with gap-side join fill stays valid and hugs one side") {
    val l = g("LINESTRING(0 0,10 0,10 10)")
    val left = BufferOp.buffer(l, 1.5, Style(singleSided = true))
    assert(Validate.isValid(left))
    assert(Relate.covers(left, g("POINT(5 0.5)")))
    assert(Relate.covers(left, g("POINT(9 5)")))
    assert(!Relate.intersects(left, g("POINT(5 -0.5)")))
    assert(!Relate.intersects(left, g("POINT(10.5 5)")))
    // right turn at the corner: gap filled on the left
    val right = BufferOp.buffer(l, -1.5, Style(singleSided = true))
    assert(Validate.isValid(right))
    assert(Relate.covers(right, g("POINT(5 -0.5)")))
    assert(Relate.covers(right, g("POINT(11 5)")))
    assert(Relate.covers(right, g("POINT(11.0 -0.9)"))) // round join fills outer corner (dist ~1.35 < 1.5)
  }

  test("single-sided: short segments keep their linework on the first walk") {
    // segments shorter than d lie inside their neighbours' reach; the
    // first (round-style) walk must still emit the line itself, which
    // bounds a single-sided buffer, and give the piece walk's result
    for (wkt <- Seq("LINESTRING(0 0,1 0,2 0,3 0)", "LINESTRING(0 0,0.5 0.2,1 0,1.5 0.3,2 0)",
                    "LINESTRING(0 0,1 0,1 1,0 1,0 0)");
         d <- Seq(2.0, -2.0)) {
      val l = g(wkt)
      val side = if (d > 0) 1 else -1
      val st = Style(singleSided = true)
      val first = BufferOp.arrangementBuffer(l, 2.0, st, grow = true, side, pieceWalk = false)
      val piece = BufferOp.arrangementBuffer(l, 2.0, st, grow = true, side, pieceWalk = true)
      assert(first != null && Wkt.write(first) == Wkt.write(piece), s"$wkt d=$d")
      assert(Wkt.write(BufferOp.buffer(l, d, st)) == Wkt.write(piece), s"$wkt d=$d")
    }
  }

  test("styled buffer on polygon rings: mitred erosion keeps corners sharp") {
    val sq = g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    val er = BufferOp.buffer(sq, -2.0, Style(join = JoinMitre))
    assert(math.abs(area(er) - 36.0) < 1e-6, s"area=${area(er)}")
    val grown = BufferOp.buffer(sq, 2.0, Style(join = JoinMitre))
    assert(math.abs(area(grown) - 196.0) < 1e-9, s"area=${area(grown)}")
  }

  test("parseStyle round-trips the PostGIS-shaped parameter string") {
    val (st, side) = BufferOp.parseStyle(
      "quad_segs=6 endcap=square join=mitre mitre_limit=2.5 side=right")
    assert(st.quadSegs == 6 && st.cap == CapSquare && st.join == JoinMitre)
    assert(st.mitreLimit == 2.5 && st.singleSided && side == -1)
    intercept[IllegalArgumentException](BufferOp.parseStyle("endcap=zigzag"))
  }
}
