package graft
import graft.core._
/** Per-geometry kernel scaling sweep: times the scalar kernels on
  * regular polygons / zigzag lines at n = 2^10..2^14 vertices to catch
  * superlinear growth (this harness exposed the O(n^2) arrangement
  * indexing, the snap-round hot-pixel scans, and the piece-union
  * buffer blowup), after a small-n rung at web-geometry sizes: buffer,
  * relate, isValid and intersection of concave star polygons at
  * n = 2^2..2^8, in microseconds per call; buffer also with
  * "endcap=flat join=mitre" and "join=bevel", and relate also against
  * [[relateGC]]; then the unary union of 16 overlapping 64-vertex stars
  * on a 4 x 4 grid (the single-arrangement n-ary path) and makeValid of
  * [[selfCrossingStar]] at n = 128.
  * Usage: runMain graft.KernelScale [small]  ("small": the rung only)
  */
object KernelScale {
  def poly(cx: Double, n: Int): Geom = {
    val coords = new Array[Double](2 * (n + 1))
    var i = 0
    while (i < n) {
      val a = math.Pi / 2 + i.toDouble / n * 2 * math.Pi
      coords(2 * i) = cx + math.cos(a); coords(2 * i + 1) = math.sin(a)
      i += 1
    }
    coords(2 * n) = coords(0); coords(2 * n + 1) = coords(1)
    GPoly(Array(new Seqn(coords, CT.XY)), CT.XY)
  }
  /** Star polygon around (cx, cy): n vertices alternating between
    * radius 1 and 0.6 (concave from n = 6 on).
    */
  def star(cx: Double, n: Int, cy: Double = 0.0): Geom = {
    val coords = new Array[Double](2 * (n + 1))
    var i = 0
    while (i < n) {
      val a = math.Pi / 2 + i.toDouble / n * 2 * math.Pi
      val r = if (i % 2 == 0) 1.0 else 0.6
      coords(2 * i) = cx + r * math.cos(a); coords(2 * i + 1) = cy + r * math.sin(a)
      i += 1
    }
    coords(2 * n) = coords(0); coords(2 * n + 1) = coords(1)
    GPoly(Array(new Seqn(coords, CT.XY)), CT.XY)
  }
  /** The star polygon {n/3} on the unit circle: its ring winds three
    * times round the centre and crosses itself 2n times.
    */
  def selfCrossingStar(n: Int): Geom = {
    val coords = new Array[Double](2 * (n + 1))
    var i = 0
    while (i <= n) {
      val a = 3.0 * (i % n) / n * 2 * math.Pi
      coords(2 * i) = math.cos(a); coords(2 * i + 1) = math.sin(a)
      i += 1
    }
    GPoly(Array(new Seqn(coords, CT.XY)), CT.XY)
  }
  /** A notched polygon, a line across it and a point in the notch, which
    * sits at the star's centre: the shape of the engine benchmark's
    * constant relate argument, scaled to the star.
    */
  val relateGC: Geom = Wkt.parse("GEOMETRYCOLLECTION(" +
    "POLYGON((-0.75 -0.5,0.75 -0.5,0.75 0.5,0 0,-0.75 0.5,-0.75 -0.5))," +
    "LINESTRING(-1.75 1,1.75 -0.75),POINT(0 0.25))")
  // zigzag line with n vertices
  def zig(n: Int): Geom = {
    val c = new Array[Double](2 * n)
    var i = 0
    while (i < n) { c(2*i) = i * 0.01; c(2*i+1) = if (i % 2 == 0) 0.0 else 1.0; i += 1 }
    GLine(Seqn.xy(c))
  }
  def time(label: String, reps: Int)(f: => Any): Double = {
    var k = 0; while (k < 2) { f; k += 1 } // warm
    val t0 = System.nanoTime()
    k = 0; while (k < reps) { f; k += 1 }
    val s = (System.nanoTime() - t0) / 1e9 / reps
    println(f"$label%-28s $s%.5f s/op")
    s
  }
  /** Microseconds per call, over as many calls as fit in ~0.25 s. */
  def timeUs(label: String, print: Boolean)(f: => Any): Double = {
    var k = 0; while (k < 20) { f; k += 1 } // warm
    var reps = 0
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < 250000000L) { f; reps += 1; t = System.nanoTime() }
    val us = (t - t0) / 1e3 / reps
    if (print) println(f"$label%-28s $us%10.1f us/op")
    us
  }
  /** Two passes over the sizes; only the second is printed, so the
    * JIT's recompiles on moving between sizes fall in the first.
    */
  def smallRung(): Unit = {
    val flatMitre = BufferOp.parseStyle("endcap=flat join=mitre")._1
    val bevel = BufferOp.parseStyle("join=bevel")._1
    for (pass <- 1 to 2; pow <- 2 to 8) {
      val n = 1 << pow
      val p = star(0, n); val p2 = star(0.5, n)
      val out = pass == 2
      if (out) println(s"--- small n=2^$pow (star)")
      timeUs(s"buffer n=$n", out)(BufferOp.buffer(p, 0.1))
      timeUs(s"buffer flat-mitre n=$n", out)(BufferOp.buffer(p, 0.1, flatMitre))
      timeUs(s"buffer bevel n=$n", out)(BufferOp.buffer(p, 0.1, bevel))
      timeUs(s"relate n=$n", out)(Relate.relate(p, p2))
      timeUs(s"relate vs GC n=$n", out)(Relate.relate(p, relateGC))
      timeUs(s"isValid n=$n", out)(Validate.isValid(p))
      timeUs(s"intersection n=$n", out)(Overlay.intersection(p, p2))
    }
    val stars = GColl(Array.tabulate(16)(k => star(k % 4 * 1.5, 64, k / 4 * 1.5)), CT.XY)
    val crossing = selfCrossingStar(128)
    for (pass <- 1 to 2) {
      val out = pass == 2
      if (out) println("--- n-ary union and makeValid")
      timeUs("unaryUnion 16 stars n=64", out)(SetOps.unaryUnion(stars))
      timeUs("makeValid crossing n=128", out)(SetOps.makeValid(crossing))
    }
  }
  def main(args: Array[String]): Unit = {
    // global JIT warm-up at a small size so the first timed op of the
    // sweep doesn't carry interpreter/C1 cost for the whole stack
    for (_ <- 0 until 20) {
      val wp = poly(0, 256); val wl = zig(256)
      BufferOp.buffer(wp, 0.1); BufferOp.buffer(wl, 0.05)
      Relate.relate(wp, poly(0.5, 256)); Validate.isValid(wp)
      Simplicity.isSimple(wl); Intersects.distance(wp, poly(3.0, 256))
      Overlay.intersection(star(0, 256), star(0.5, 256))
    }
    smallRung()
    if (args.headOption.contains("small")) return
    for (pow <- Seq(10, 12, 14)) {
      val n = 1 << pow
      val p = poly(0, n); val p2 = poly(0.5, n); val l = zig(n)
      val wkt = Wkt.write(p); val wkb = Wkb.write(p)
      val reps = if (pow >= 14) 3 else 5
      println(s"--- n=2^$pow")
      time(s"buffer poly", reps)(BufferOp.buffer(p, 0.1))
      time(s"buffer line", reps)(BufferOp.buffer(l, 0.05))
      time(s"relate", reps)(Relate.relate(p, p2))
      time(s"isValid", reps)(Validate.isValid(p))
      time(s"isSimple line", reps)(Simplicity.isSimple(l))
      time(s"distance", reps)(Intersects.distance(p, poly(3.0, n)))
      time(s"convexHull", reps)(Algos.convexHull(p))
      time(s"simplify", reps)(Algos.simplify(p, 0.001))
      time(s"wkt parse", reps)(Wkt.parse(wkt))
      time(s"wkt write", reps)(Wkt.write(p))
      time(s"wkb parse", reps)(Wkb.read(wkb))
      time(s"centroid", reps)(Measure.centroid(p))
      time(s"pointInAreal", reps)(Alg.pointInAreal(p, 0.1, 0.1))
      time(s"intersects", reps)(Intersects.intersects(p, p2))
    }
  }
}
