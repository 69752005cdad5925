package graft.core

import org.scalatest.funsuite.AnyFunSuite

class SetOpsSpec extends AnyFunSuite {

  private def g(wkt: String): Geom = Wkt.parse(wkt)
  private def topoEq(a: Geom, b: Geom): Boolean =
    (a.isEmpty && b.isEmpty && a.dimension == b.dimension) || Relate.equalsTopo(a, b)

  test("AA overlapping squares: all four ops") {
    val a = g("POLYGON((10 10,100 10,100 100,10 100,10 10))")
    val b = g("POLYGON((50 50,200 50,200 200,50 200,50 50))")
    assert(topoEq(SetOps.intersection(a, b),
      g("POLYGON((50 50,50 100,100 100,100 50,50 50))")))
    assert(topoEq(SetOps.union(a, b),
      g("POLYGON((10 10,10 100,50 100,50 200,200 200,200 50,100 50,100 10,10 10))")))
    assert(topoEq(SetOps.difference(a, b),
      g("POLYGON((10 10,10 100,50 100,50 50,100 50,100 10,10 10))")))
    assert(topoEq(SetOps.symDifference(a, b),
      g("MULTIPOLYGON(((10 10,10 100,50 100,50 50,100 50,100 10,10 10))," +
        "((50 100,50 200,200 200,200 50,100 50,100 100,50 100)))")))
  }

  test("AA hole case") {
    val a = g("POLYGON((20 20,20 160,160 160,160 20,20 20),(140 140,40 140,40 40,140 40,140 140))")
    val b = g("POLYGON((80 100,220 100,220 240,80 240,80 100))")
    assert(topoEq(SetOps.intersection(a, b),
      g("POLYGON((80 140,80 160,160 160,160 100,140 100,140 140,80 140))")))
    assert(topoEq(SetOps.union(a, b),
      g("POLYGON((20 20,20 160,80 160,80 240,220 240,220 100,160 100,160 20,20 20)," +
        "(80 100,80 140,40 140,40 40,140 40,140 100,80 100))")))
  }

  test("AA disjoint and touching") {
    val a = g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    val far = g("POLYGON((100 100,110 100,110 110,100 110,100 100))")
    assert(topoEq(SetOps.intersection(a, far), g("POLYGON EMPTY")))
    val u = SetOps.union(a, far)
    assert(u.isInstanceOf[GMPoly] && Measure.area(u) == 200.0)
    // edge-touching squares: intersection = shared edge line
    val adj = g("POLYGON((10 0,20 0,20 10,10 10,10 0))")
    val itx = SetOps.intersection(a, adj)
    assert(itx.dimension == 1, s"expected line, got $itx")
    assert(topoEq(itx, g("LINESTRING(10 0,10 10)")))
    // corner-touching squares: intersection = point
    val corner = g("POLYGON((10 10,20 10,20 20,10 20,10 10))")
    assert(topoEq(SetOps.intersection(a, corner), g("POINT(10 10)")))
    // union of corner-touching squares stays valid multipolygon or polygon
    val cu = SetOps.union(a, corner)
    assert(Measure.area(cu) == 200.0)
  }

  test("LL ops") {
    val a = g("LINESTRING(0 0,10 10)")
    val b = g("LINESTRING(0 10,10 0)")
    assert(topoEq(SetOps.intersection(a, b), g("POINT(5 5)")))
    val ab = g("LINESTRING(0 0,10 0)")
    val bb = g("LINESTRING(5 0,15 0)")
    assert(topoEq(SetOps.intersection(ab, bb), g("LINESTRING(5 0,10 0)")))
    assert(topoEq(SetOps.difference(ab, bb), g("LINESTRING(0 0,5 0)")))
    assert(topoEq(SetOps.union(ab, bb), g("LINESTRING(0 0,15 0)")))
    assert(topoEq(SetOps.symDifference(ab, bb),
      g("MULTILINESTRING((0 0,5 0),(10 0,15 0))")))
  }

  test("LA ops") {
    val l = g("LINESTRING(-5 5,15 5)")
    val p = g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    assert(topoEq(SetOps.intersection(l, p), g("LINESTRING(0 5,10 5)")))
    assert(topoEq(SetOps.difference(l, p),
      g("MULTILINESTRING((-5 5,0 5),(10 5,15 5))")))
    assert(topoEq(SetOps.difference(p, l), p))
    val u = SetOps.union(l, p)
    assert(u.isInstanceOf[GColl])
  }

  test("point ops") {
    val pts = g("MULTIPOINT(1 1,5 5,20 20)")
    val p = g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    assert(topoEq(SetOps.intersection(pts, p), g("MULTIPOINT(1 1,5 5)")))
    assert(topoEq(SetOps.difference(pts, p), g("POINT(20 20)")))
    val u = SetOps.union(pts, p)
    assert(u.isInstanceOf[GColl])
  }

  test("unary union dissolves overlaps") {
    val gc = g("GEOMETRYCOLLECTION(POLYGON((0 0,10 0,10 10,0 10,0 0))," +
      "POLYGON((5 5,15 5,15 15,5 15,5 5)))")
    val u = SetOps.unaryUnion(gc)
    assert(u.isInstanceOf[GPoly])
    assert(Measure.area(u) == 175.0)
  }

  // Overlay.intersection is the st_intersection kernel: concave and
  // holed inputs cut by a box must come back as valid geometries, and
  // repeated input points as one point
  test("Overlay.intersection: concave and holed polygons cut by a box stay valid") {
    def valid(r: Geom): Unit = assert(Validate.isValid(r), s"${Validate.reason(r)}: ${Wkt.write(r)}")
    val uShape = g("POLYGON((0 0,10 0,10 10,7 10,7 3,3 3,3 10,0 10,0 0))")
    val top = g("POLYGON((-1 5,11 5,11 12,-1 12,-1 5))")
    val u = Overlay.intersection(uShape, top)
    valid(u)
    assert(u.isInstanceOf[GMPoly] && Geom.dump(u).size == 2, Wkt.write(u))
    assert(topoEq(u, g("MULTIPOLYGON(((0 5,3 5,3 10,0 10,0 5)),((7 5,10 5,10 10,7 10,7 5)))")))

    val comb = g("POLYGON((0 0,13 0,13 10,12 10,12 2,9 2,9 10,8 10,8 2,5 2,5 10,4 10,4 2," +
      "1 2,1 10,0 10,0 0))")
    val c = Overlay.intersection(comb, g("POLYGON((-1 5,14 5,14 12,-1 12,-1 5))"))
    valid(c)
    assert(c.isInstanceOf[GMPoly] && Geom.dump(c).size == 4, Wkt.write(c))
    assert(Measure.area(c) == 20.0)

    val holed = g("POLYGON((0 0,10 0,10 10,0 10,0 0),(3 3,7 3,7 7,3 7,3 3))")
    val h = Overlay.intersection(holed, top)
    valid(h)
    assert(h.isInstanceOf[GPoly], Wkt.write(h))
    assert(topoEq(h, g("POLYGON((0 5,3 5,3 7,7 7,7 5,10 5,10 10,0 10,0 5))")))

    val inHole = Overlay.intersection(holed, g("POLYGON((4 4,6 4,6 6,4 6,4 4))"))
    assert(inHole.isEmpty && inHole.isInstanceOf[GPoly], Wkt.write(inHole))
  }

  test("Overlay.intersection: repeated points intersect to one point") {
    val r = Overlay.intersection(g("MULTIPOINT((1 1),(1 1))"), g("POLYGON((0 0,2 0,2 2,0 2,0 0))"))
    assert(Wkt.write(r) == "POINT(1 1)")
  }

  test("empty handling matches reference typing") {
    val p = g("POLYGON((0 0,1 0,1 1,0 1,0 0))")
    val e = g("POLYGON EMPTY")
    assert(SetOps.union(p, e) eq p)
    assert(SetOps.intersection(p, e).isEmpty)
    assert(SetOps.intersection(p, e).dimension == 2)
    assert(SetOps.difference(e, p).isEmpty)
    assert(SetOps.symDifference(e, p) eq p)
  }
}
