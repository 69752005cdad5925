package graft.core

import org.scalatest.funsuite.AnyFunSuite

class BufferSpec extends AnyFunSuite {

  private def g(wkt: String): Geom = Wkt.parse(wkt)
  private def hex(h: String): Geom = Wkb.read(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

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

  test("quad_segs=16: a 129-vertex web-shaped star buffers to a valid polygon") {
    // the one 129-vertex polygon that the engine benchmark's
    // geom_kernels row generator gives at seed 1 with the clip-box
    // draws left out, at its row's d = 0.1 r: the shape on which a
    // self-intersecting quad_segs=16 ring was once reported
    val star = hex(
      "01030000000100000082000000865ed349dba7f33f6755d752c89444401164a987a297f33f8cdf8c2fcc94444026da56" +
      "5f03a9f33f212047e3e09444405eea8246e394f33f570a3b2bd594444006d80a7281a5f33f9b42a0c6f79444401eb60f" +
      "ea3a9af33fa7932386e9944440e4e91a34dda6f33f3ec18bc015954440daa65487ef93f33f5c2e7e66e694444065b6ca" +
      "30dba6f33f2f5f8c6a33954440172482947e98f33fabe414f3059544405b22096ce9a2f33f46a2f91340954440fd9351" +
      "dba693f33f68f9db8afe9444401098d496cca4f33f6b6fdc7a67954440a40d769fb297f33f5570543f22954440442f7d" +
      "217f9ef33f8cc9ba875a95444034e13ac50397f33f07bfc7d335954440f4951981b09ef33fecd44ef08195444008ac78" +
      "3b5d95f33fef80f77940954440e4bb2bc6509cf33f8378cd81959544401647948c6d90f33f13edfb92219544405819ca" +
      "78fb97f33fc5eabbaf86954440f2bc8e4a9e91f33f866e2bb44a954440491249255d95f33f3b9657689a95444057eef8" +
      "ff688ff33fd5677f354a954440a4291aae6e93f33f5b124386aa954440a81cc84fa08cf33fa30682162f95444057e828" +
      "21da90f33f18842d57c8954440d42d2567848cf33fc107e0865d95444084d64183cc8df33f01fa7428d1954440b41b3c" +
      "d75f8af33f84501223629544407c1bec358e8af33f6ee4221ebd95444021ffb6478b88f33fbe68353c7095444073b369" +
      "3b7087f33f1bbc3fe1bf954440548e6145f786f33f9e1d7db12a9544401bfa54d82e84f33f9e364887b49544403b4266" +
      "959685f33f25917a722a954440f0ebdd6f9580f33f10a475e9cc9544409951bc28ff82f33f100118fa579544406c33a4" +
      "7b1a7df33f674b71add8954440f726f496c481f33fe9080a8840954440813f082a1c7af33fefc6ba40c0954440ccc5b5" +
      "8cbc81f33fd8a0c41a27954440ddae828c3277f33f940e0897b0954440d809dcaa857ff33f1da9e64b31954440f48b97" +
      "b87d75f33f6a0c7ba6949544407d51dc383c7ff33f49d74ce81b954440622c3d922a72f33fc4a47e2293954440d69838" +
      "d8a37ef33f312efea012954440dc30905f4470f33ff997838077954440706a42c9e67af33f286034171f9544403095a8" +
      "2cae6ff33ff8c87d995c95444032c98a86eb7cf33ffcae2817039544407d0a0def316bf33fd36634495b954440f7d103" +
      "041578f33fa130e7aa0b95444063efba16d06cf33fc2b54915359544403c5c7a66597bf33f9e312b0df1944440828577" +
      "863f6cf33f8b2bd4031d95444099d8cf95367af33f60359ca4e8944440102a560f5669f33f71116a6c0c954440506b72" +
      "195f77f33fbb07b4bde2944440b1962fea4565f33fc85f81b4f994444069bac11c4477f33fb6a9ce13d594444020b373" +
      "797d65f33f1cb38507db944440388b72590a74f33f313aeecdca944440615385ba786af33f5a6fba62be944440dabe63" +
      "6aba73f33f29457fcfb79444402e715a7e7164f33fdafa2970a1944440da598c1b1177f33f7f650adbac944440b1e1d6" +
      "25bb65f33fe2e75d78899444401487ac67a574f33f5da5e9579a9444409457a4e1a86af33fea272d747a944440b440a9" +
      "60bb74f33f2a39198f8a9444402346c389b96cf33f8a6c68f4649444402c81a01bd574f33f7ed8a7597a944440db74c1" +
      "03ef6df33fbed6266d5394444046837b98e078f33f38c9694179944440b16fa031416df33f9b95c2d2349444406940d5" +
      "ceff76f33f09ac3a385c9444404e3f5f60726ff33fea854e0b25944440203cdf5b5c79f33faddba4cd579444401598f6" +
      "ba776ef33fa2ac4105f4934440a21cc232687df33ff3a0f92e65944440c31f3b698b73f33fe617afd8f89344401dff26" +
      "e0527cf33f341b5e9048944440475ec9e3c573f33f8992c30ed1934440a4cc08974a7ef33f8479e2e244944440fd90df" +
      "d9a977f33f8d13b49ed19344408da3e07aab7ff33fd10f89d53a944440e5f34c05587bf33f3d021b87d7934440bbf62a" +
      "a1d580f33f6cba997321944440df87ea58467df33f5e618c74b09344407d7265b5cd82f33f01cc47d421944440df54b3" +
      "d99e81f33f3592f2c7d3934440c18b20c9cf84f33f73080642169444401e9c2e8bda83f33f545adc589f9344401c82e7" +
      "3fa086f33fbe7db1411e944440841850c49487f33ff4b608d6b69344404d6d52f5a688f33fb5cc58693a944440d2847d" +
      "d2c08af33f5a4c06a1b59344405c829105cf89f33fbd2734815394444062c65d3f778ef33f1fcec7bca593444080cb24" +
      "032c8bf33f5bf5674b509444408e37de2d4f91f33f67028875bf934440d3e40604f78ef33f51cdb97d2194444002f54e" +
      "13d395f33f95d1b240b5934440eaf4dd8fe790f33fe8b00558299444401736f870db98f33f7bf133c0c2934440031121" +
      "f5db90f33f2dbfa4394a944440f51173ef8498f33f2c842c18f89344403922c8d78993f33fcacf7afa3f944440aec56e" +
      "f4a79df33f9b09b98be4934440b69cd0523d94f33f05c9e29b529444409092217d949df33f9b9ae1d811944440e0a06d" +
      "52f995f33f283cf1315b94444012fca8bef6a1f33ff07c246d0f94444016f97058b397f33fca39fa9d629444406ee862" +
      "7dc2a2f33fba2fd1992b944440bc7198f86099f33f4809465c6d944440427d204ca9a3f33f79de3c0444944440c4ab9c" +
      "710798f33f1d0107fd82944440e57883827ca3f33ffbd2b2016294444051e7dc6f7798f33f8eb1e9a18e9444404cb840" +
      "a2b0a9f33f577954286c944440d1e1c0673198f33f5416afbc9e944440ef18c31c40a6f33fa7e37c558f944440092646" +
      "d2b89af33f4ed0aaa9a89444405eebc0d108a6f33f215fe786a39444409b1d37409e97f33f355bea4ab89444402b7d1d" +
      "3adaa8f33f2d2e8b37ba944440865ed349dba7f33f6755d752c8944440")
    val b = BufferOp.buffer(star, 8.965736823859185E-4, BufferOp.Style(quadSegs = 16))
    assert(Validate.isValid(b), Validate.reason(b))
    assert(Relate.covers(b, star))
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

  test("bevel join: inside the input is even-odd within a polygon, union across polygons") {
    // the piece walk takes "inside g" from g's rings, one parity group
    // per polygon: the island in a hole's hole is inside, and so is the
    // overlap of two polygons of one multipolygon
    val nested = g("POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,2 8,8 8,8 2,2 2),(4 4,4 6,6 6,6 4,4 4))")
    val overlapping = g("MULTIPOLYGON(((0 0,6 0,6 6,0 6,0 0)),((3 3,9 3,9 9,3 9,3 3)))")
    val st = Style(join = JoinBevel)
    for ((x, (ix, iy), (ox, oy)) <- Seq((nested, (5.0, 5.0), (3.0, 3.0)),
                                        (overlapping, (4.5, 4.5), (7.5, 1.5)));
         d <- Seq(0.5, -0.5)) {
      val b = BufferOp.buffer(x, d, st)
      assert(Validate.isValid(b), s"${Wkt.write(x)} d=$d")
      assert(Alg.pointInAreal(b, ix, iy) == 1, s"${Wkt.write(x)} d=$d: ($ix $iy) is inside")
      assert(Alg.pointInAreal(b, ox, oy) == -1, s"${Wkt.write(x)} d=$d: ($ox $oy) is outside")
    }
  }

  test("parseStyle round-trips the PostGIS-shaped parameter string") {
    val (st, side) = BufferOp.parseStyle(
      "quad_segs=6 endcap=square join=mitre mitre_limit=2.5 side=right")
    assert(st.quadSegs == 6 && st.cap == CapSquare && st.join == JoinMitre)
    assert(st.mitreLimit == 2.5 && st.singleSided && side == -1)
    intercept[IllegalArgumentException](BufferOp.parseStyle("endcap=zigzag"))
  }
}
