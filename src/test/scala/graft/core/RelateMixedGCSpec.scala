package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Union-semantics relate over mixed-dimension GeometryCollections,
  * mirroring the reference RelateNG's point-locator expectations
  * (internal/jtsport/jts/operation_relateng_relate_point_locator_test.go)
  * through `relate(gc, POINT)` probes, plus hand-derived full matrices.
  */
class RelateMixedGCSpec extends AnyFunSuite {

  private def im(a: String, b: String): String =
    Relate.relate(Wkt.parse(a), Wkt.parse(b))

  // reference fixture gcPLA (relate_point_locator_test.go:9)
  private val gcPLA =
    "GEOMETRYCOLLECTION (POINT (1 1), POINT (2 1), LINESTRING (3 1, 3 9), " +
      "LINESTRING (4 1, 5 4, 7 1, 4 1), LINESTRING (12 12, 14 14), " +
      "POLYGON ((6 5, 6 9, 9 9, 9 5, 6 5)), POLYGON ((10 10, 10 16, 16 16, 16 10, 10 10)), " +
      "POLYGON ((11 11, 11 17, 17 17, 17 11, 11 11)), POLYGON ((12 12, 12 16, 16 16, 16 12, 12 12)))"

  private def probe(x: Double, y: Double): (Char, Char) = {
    val m = im(gcPLA, s"POINT($x $y)")
    (m(0), m(3)) // (Int(gc) ∩ Int(pt), Bnd(gc) ∩ Int(pt))
  }

  test("point locator semantics across the mixed GC (interior dominance)") {
    assert(probe(1, 1) == ('0', 'F'))   // GC point -> interior
    assert(probe(0, 1) == ('F', 'F'))   // exterior
    assert(probe(3, 8) == ('0', 'F'))   // line interior
    assert(probe(3, 3) == ('0', 'F'))   // line interior
    assert(probe(3, 1) == ('F', '0'))   // line endpoint -> boundary
    assert(probe(8, 8) == ('0', 'F'))   // area interior
    assert(probe(9, 9) == ('F', '0'))   // area boundary
    assert(probe(11, 11) == ('0', 'F')) // overlapping polys: union interior
    assert(probe(10, 10) == ('F', '0')) // union boundary corner
    assert(probe(12, 12) == ('0', 'F')) // nested poly corner inside union
    assert(probe(16, 16) == ('0', 'F')) // corner of two polys inside a third
    assert(probe(14, 14) == ('0', 'F')) // line absorbed into areal interior
  }

  test("line ends against own-collection areal (relate_point_locator_test.go:50-56)") {
    val gc = "GEOMETRYCOLLECTION (POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)), " +
      "LINESTRING (12 2, 0 2, 0 5, 5 5), LINESTRING (12 10, 12 2))"
    def p(x: Double, y: Double): (Char, Char) = {
      val m = im(gc, s"POINT($x $y)")
      (m(0), m(3))
    }
    assert(p(5, 5) == ('0', 'F'))  // line end inside areal -> area interior
    assert(p(12, 2) == ('0', 'F')) // two line ends meet -> even degree -> interior
    assert(p(12, 10) == ('F', '0')) // free line end -> boundary
  }

  test("interior dominance: tangent line-touch on own areal boundary is Interior") {
    // the line's MIDDLE vertex (10 5) touches the polygon's boundary
    // tangentially (the line stays outside); RelateNG interior
    // dominance classifies that node as Interior of the collection, so
    // no dim-0 Boundary intersection may surface there
    // (reference: internal/jtsport/jts/operation_relateng_relate_ng.go:16-20)
    val gc = "GEOMETRYCOLLECTION (POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)), " +
      "LINESTRING (12 2, 10 5, 12 8))"
    assert(im(gc, "POINT(10 5)") == "0F2FF1FF2") // II, not BI
    assert(im(gc, "POINT(10 6)") == "FF20F1FF2") // plain areal boundary point
    assert(im(gc, "POINT(12 2)") == "FF20F1FF2") // line free end: boundary
  }

  test("full matrix: disjoint mixed GC vs polygon") {
    val a = "GEOMETRYCOLLECTION (POLYGON((0 0,10 0,10 10,0 10,0 0)), LINESTRING(10 5,15 5))"
    assert(im(a, "POLYGON((20 0,25 0,25 5,20 5,20 0))") == "FF2FF1212")
  }

  test("full matrix: line of the mixed GC crosses the other polygon") {
    val a = "GEOMETRYCOLLECTION (POLYGON((0 0,10 0,10 10,0 10,0 0)), LINESTRING(10 5,15 5))"
    assert(im(a, "POLYGON((12 3,14 3,14 7,12 7,12 3))") == "102FF1212")
  }

  test("mixed GC vs mixed GC and predicate plumbing") {
    val a = "GEOMETRYCOLLECTION (POLYGON((0 0,4 0,4 4,0 4,0 0)), POINT(6 6))"
    val b = "GEOMETRYCOLLECTION (POLYGON((0 0,4 0,4 4,0 4,0 0)), POINT(6 6))"
    assert(Relate.equalsTopo(Wkt.parse(a), Wkt.parse(b)))
    assert(Relate.contains(Wkt.parse(a), Wkt.parse("POINT(2 2)")))
    assert(Relate.covers(Wkt.parse(a), Wkt.parse("POINT(6 6)")))
    assert(Relate.contains(Wkt.parse(a), Wkt.parse("POINT(6 6)"))) // isolated point is interior
    assert(!Relate.contains(Wkt.parse(a), Wkt.parse("POINT(4 4)"))) // ring point: boundary
    assert(Relate.disjoint(Wkt.parse(a), Wkt.parse("POINT(9 9)")))
  }

  test("full matrices: boxes against the engine benchmark's constant relate argument") {
    // a polygon notched down to (1.25 41.2) from its top edge, a line
    // through the notch and across the polygon, and a point in the notch
    val lit = "GEOMETRYCOLLECTION(POLYGON((1.1 41.1,1.4 41.1,1.4 41.3,1.25 41.2,1.1 41.3,1.1 41.1))," +
      "LINESTRING(0.9 41.4,1.6 41.05),POINT(1.25 41.25))"
    def box(x0: Double, y0: Double, x1: Double, y1: Double): String =
      s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))"
    // inside the notch, crossed by the line (in at its left side, out at
    // its bottom): the line's interior meets the box in 1D and its
    // boundary in two points
    assert(im(box(1.17, 41.26, 1.22, 41.29), lit) == "1F20F1212")
    // inside the notch, holding the point, clear of the line
    assert(im(box(1.24, 41.24, 1.26, 41.26), lit) == "0F2FF1212")
    // under the polygon, sharing part of its bottom edge
    assert(im(box(1.15, 41.0, 1.35, 41.1), lit) == "FF2F11212")
    assert(im(box(2, 42, 3, 43), lit) == "FF2FF1212")
  }

  test("mixed GC with empty other side keeps the empty-relate shape") {
    val a = "GEOMETRYCOLLECTION (POLYGON((0 0,4 0,4 4,0 4,0 0)), LINESTRING(5 5,7 7))"
    assert(im(a, "POLYGON EMPTY") == "FF2FF1FF2")
  }
}
