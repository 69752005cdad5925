package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Overlay faces take inside/outside from the input edges crossed, so
  * the answer on an input whose rings overlap is the engine's one rule
  * (even-odd within each polygon, union across polygons) at every input
  * size, and the overlay's area check judges against that same area.
  */
class OverlayLabelSpec extends AnyFunSuite {

  private def g(wkt: String): Geom = Wkt.parse(wkt)

  /** The square 0..10 with a hole 2..8 and a hole-in-hole 4..6; the
    * shell has `perSide` vertices on each side (collinear ones beyond
    * the corners).
    */
  private def nestedHoles(perSide: Int): Geom = {
    val side = (0 until perSide).map(i => 10.0 * i / perSide)
    val shell = side.map(x => (x, 0.0)) ++ side.map(y => (10.0, y)) ++
      side.map(x => (10.0 - x, 10.0)) ++ side.map(y => (0.0, 10.0 - y)) :+ ((0.0, 0.0))
    g("POLYGON((" + shell.map { case (x, y) => s"$x $y" }.mkString(",") + ")," +
      "(2 2,2 8,8 8,8 2,2 2),(4 4,4 6,6 6,6 4,4 4))")
  }

  private val square = g("POLYGON((4.5 4.5,5.5 4.5,5.5 5.5,4.5 5.5,4.5 4.5))")

  test("nested holes: the answer is even-odd whatever the shell's vertex count") {
    for (perSide <- Seq(1, 10)) {
      val a = nestedHoles(perSide)
      assert(ArealLocator.edgeCount(a) == 4 * perSide + 8)
      assert(Measure.area(SetOps.makeValid(a)) == 68.0)
      assert(Measure.area(SetOps.intersection(a, square)) == 1.0, s"$perSide per side")
      assert(Measure.area(SetOps.intersection(square, a)) == 1.0, s"$perSide per side")
      assert(SetOps.difference(square, a).isEmpty, s"$perSide per side")
    }
  }

  test("symDifference with nested holes judges against the even-odd area") {
    for (perSide <- Seq(1, 10)) {
      val r = SetOps.symDifference(nestedHoles(perSide), square)
      assert(Measure.area(r) == 67.0, s"$perSide per side")
      assert(Validate.isValid(r))
    }
  }

  test("union with a hole that crosses its shell judges against the even-odd area") {
    val a = g("POLYGON((0 0,10 0,10 10,0 10,0 0),(8 2,8 6,12 6,12 2,8 2))")
    for (box <- Seq("POLYGON((20 20,21 20,21 21,20 21,20 20))",
                    "POLYGON((-1 -1,1 -1,1 1,-1 1,-1 -1))")) {
      val r = SetOps.union(a, g(box))
      assert(Validate.isValid(r), box)
      val want = 100.0 + Measure.area(SetOps.difference(g(box), a))
      assert(Measure.area(r) == want, box)
    }
  }

  test("a collection's polygons each take even-odd, and union across them") {
    // the second polygon covers the first's hole-in-hole region's
    // complement inside the hole: everywhere inside 0..10 but 2..4 x 2..8
    val a = g("MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),(2 2,2 8,8 8,8 2,2 2))," +
      "((4 2,8 2,8 8,4 8,4 2)))")
    assert(Measure.area(SetOps.intersection(a, square)) == 1.0)
    assert(Measure.area(SetOps.unaryUnion(a)) == 88.0)
  }

  test("the area check judges each valid polygon's labels against its own area") {
    val f = Noder.BaseEpsFactor
    val a = g("POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,2 8,8 8,8 2,2 2))")
    val gr = new SetOps.Groups(a, square)
    val u = SetOps.union(a, square)
    assert(Measure.area(u) == 65.0)
    assert(SetOps.arealSane(gr, SetOps.OpUnion, new SetOps.Overlaid(u, 64, 1, Array(64.0, 1.0)), f))
    // labels that put the hole inside a (as a hole contour nested in the
    // wrong face would) agree with their own areas and the op's bounds,
    // but not with a's area
    val filled = g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
    assert(!SetOps.arealSane(gr, SetOps.OpUnion, new SetOps.Overlaid(filled, 100, 1, Array(100.0, 1.0)), f))
    // an invalid polygon's shell-less-holes sum (60 here) is no area:
    // its labelled even-odd area stands
    val n = nestedHoles(1)
    val s = SetOps.symDifference(n, square)
    assert(SetOps.arealSane(new SetOps.Groups(n, square), SetOps.OpSym,
      new SetOps.Overlaid(s, 68, 1, Array(68.0, 1.0)), f))
  }

  test("the base rung, judged as the ladder judges it, keeps only area-sane unions") {
    // pinwheels of thin wedges whose edges all pass within ~1e-13
    // relative of one point at a large coordinate scale
    val rnd = new java.util.Random(7)
    def pinwheel(cx: Double, cy: Double, r: Double, phase: Double, jit: Double): Geom = {
      def j() = (rnd.nextDouble() - 0.5) * 2 * jit
      GMPoly((0 until 12).map { i =>
        val t = phase + 2 * math.Pi * i / 12
        val (ax, ay) = (cx + j(), cy + j())
        Array(Seqn.of(ax, ay, cx + r * math.cos(t - 1e-4) + j(), cy + r * math.sin(t - 1e-4) + j(),
          cx + r * math.cos(t + 1e-4) + j(), cy + r * math.sin(t + 1e-4) + j(), ax, ay))
      }.toArray, CT.XY)
    }
    val f = Noder.BaseEpsFactor
    var threw = 0; var rejected = 0; var invalid = 0
    for (_ <- 0 until 60) {
      val scale = 1e7
      val (cx, cy) = (scale * (0.5 + rnd.nextDouble()), scale * (0.5 + rnd.nextDouble()))
      val jit = scale * 1e-13 * (1 + 9 * rnd.nextDouble())
      val a = pinwheel(cx, cy, scale / 100, 0.0, jit)
      val b = pinwheel(cx, cy, scale / 100, 1e-5 + 0.26 * rnd.nextDouble(), jit)
      try {
        val r = SetOps.arealOverlay(a, b, SetOps.OpUnion, f)
        if (!SetOps.arealSane(new SetOps.Groups(a, b), SetOps.OpUnion, r, f)) rejected += 1
        else {
          val (aA, aB, rA) = (Measure.area(a), Measure.area(b), Measure.area(r.geom))
          val tol = 1e-6 * math.max(aA, aB)
          assert(rA >= math.max(aA, aB) - tol && rA <= aA + aB + tol, s"area $rA of $aA + $aB")
          if (!Validate.isValid(r.geom)) invalid += 1
        }
      } catch { case _: IllegalStateException => threw += 1 }
    }
    info(s"base rung: $threw/60 threw, $rejected/60 failed the area check, $invalid/60 kept invalid")
    assert(threw + rejected > 0, "the generator no longer breaks the base rung")
  }

  test("a face 1e-7 across at geographic coordinates keeps its orientation") {
    // a spike tip 3e-7 above the clip box's top edge leaves a triangle
    // of area ~1e-14 outside the box: its signed area, summed about the
    // origin, is lost in the products' rounding, and the triangle
    // merged into the unbounded face made the labels disagree at every
    // rung
    val a = g(
      "POLYGON((" +
      "3.9941199724510663 40.19895181831944,3.9905327264876966 40.199024567071454," +
      "3.994139274738709 40.20045210789598,3.9916449672911423 40.20003487453456," +
      "3.993478729381932 40.20186610032545,3.9907944280551932 40.200653654311175," +
      "3.9926745475821006 40.203282978716764,3.990561362898229 40.20165812905942," +
      "3.991424333011809 40.20395749663267,3.989363929645879 40.20154592332777," +
      "3.990118893374993 40.20513213254612,3.988564703405881 40.20127781051437," +
      "3.988497320026167 40.20466826772936,3.9877680925641177 40.20185033463079," +
      "3.98707733036852 40.205036410993024,3.987197924711901 40.20117023058833," +
      "3.985496553512891 40.2046114041767,3.9862253070793963 40.20145901525206," +
      "3.983977506105303 40.203945731706284,3.985795890694656 40.200680435362635," +
      "3.9834741318880473 40.20246156428489,3.9845027714749026 40.200752634034004," +
      "3.9825433570970024 40.20112977798937,3.984283941981007 40.19981259390259," +
      "3.981817255847471 40.20005596353937,3.983823104503921 40.19894120863879," +
      "3.9820940943185086 40.198443180915326,3.9840052193717694 40.19798854610872," +
      "3.9815355275075093 40.19696739883309,3.983835148430017 40.197020737230545," +
      "3.9822664937631203 40.195662914259664,3.98543079154834 40.19699212081912," +
      "3.9829061992144426 40.19438631912891,3.985401683371672 40.19581469398804," +
      "3.98360935031206 40.1930433132178,3.986484981585044 40.19603040979892," +
      "3.985352432687351 40.193010175542966,3.9866811550726227 40.19497162551168," +
      "3.98666838964126 40.19172309824805,3.9875954718616793 40.195518434032536," +
      "3.9880869760388213 40.19238476704261,3.988272453007524 40.19515003993308," +
      "3.989343999382311 40.192606847202676,3.989323790725405 40.194995133559715," +
      "3.9908083736496605 40.193067808135346,3.990097990825554 40.1953596207064," +
      "3.992496796351691 40.193193998823354,3.9911093343836765 40.19552125356874," +
      "3.992704290994119 40.19511335844642,3.9907452703835515 40.19687412748921," +
      "3.994027397024963 40.196012391154554,3.991695001031505 40.19744607278398," +
      "3.994109720945386 40.19754787311136,3.9904464741756325 40.198327352370875," +
      "3.9941199724510663 40.19895181831944))")
    val box = g(
      "POLYGON((3.981667362035528 40.194504954862865,3.991773513062441 40.194504954862865," +
      "3.991773513062441 40.20461110588978,3.981667362035528 40.20461110588978," +
      "3.981667362035528 40.194504954862865))")
    val r = SetOps.intersection(a, box)
    assert(Validate.isValid(r))
    val rest = Measure.area(SetOps.difference(a, box))
    // Measure.area itself sums about the origin: ~1e-13 of rounding here
    assert(math.abs(Measure.area(r) + rest - Measure.area(a)) <= 1e-6 * Measure.area(a))
  }
}
