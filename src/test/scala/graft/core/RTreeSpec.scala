package graft.core

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** RTree.selfJoin against brute force and against the per-record
  * rangeSearch loop it replaces, and bulkLoad's STR leaf order against
  * a boxed-comparator reference sort.
  */
class RTreeSpec extends AnyFunSuite {

  /** Random boxes on a coarse grid (so exact ties in coordinates and
    * centers are common), with a share of zero-area boxes (points and
    * axis-parallel segments) and of repeated boxes.
    */
  private def boxes(n: Int, seed: Long): Array[Env] = {
    val rnd = new java.util.Random(seed)
    val out = new Array[Env](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i > 0 && rnd.nextInt(6) == 0) out(rnd.nextInt(i))
        else {
          val x = rnd.nextInt(60) / 2.0; val y = rnd.nextInt(60) / 2.0
          rnd.nextInt(4) match {
            case 0 => Env(x, y, x, y)
            case 1 => Env(x, y, x + rnd.nextInt(8) / 2.0, y)
            case _ => Env(x, y, x + rnd.nextInt(8) / 2.0, y + rnd.nextInt(8) / 2.0)
          }
        }
      i += 1
    }
    out
  }

  private def overlaps(a: Env, b: Env): Boolean =
    !a.isEmpty && !b.isEmpty &&
      a.xmin <= b.xmax && b.xmin <= a.xmax && a.ymin <= b.ymax && b.ymin <= a.ymax

  private def selfJoinPairs(t: RTree): Vector[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    assert(t.selfJoin { (i, j) => out += ((i, j)); true })
    out.result()
  }

  /** The loop selfJoin replaces. */
  private def rangeLoopPairs(envs: Array[Env], t: RTree): Vector[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    for (i <- envs.indices) t.rangeSearch(envs(i)) { j => if (j > i) out += ((i, j)); true }
    out.result()
  }

  private val cases: Seq[(String, Array[Env])] =
    Seq(0, 1, 8, 9, 1000).map(n => s"n=$n" -> boxes(n, 7L + n)) ++ Seq(
      "9 identical boxes" -> Array.fill(9)(Env(1, 1, 2, 2)),
      "9 identical points" -> Array.fill(9)(Env(3, 3, 3, 3)),
      "empty boxes mixed in" -> (boxes(40, 3L) ++ Array.fill(3)(Env.empty) ++ boxes(40, 4L)))

  for ((name, envs) <- cases) {
    test(s"selfJoin = brute force, each pair once, in rangeSearch-loop order: $name") {
      val t = RTree.bulkLoad(envs)
      val got = selfJoinPairs(t)
      val brute = (for (i <- envs.indices; j <- i + 1 until envs.length
                        if overlaps(envs(i), envs(j))) yield (i, j)).toSet
      assert(got.forall { case (i, j) => i < j })
      assert(got.distinct.length == got.length)
      assert(got.toSet == brute)
      assert(got == rangeLoopPairs(envs, t))
    }
  }

  test("selfJoin stops at the first false and reports that it stopped") {
    val envs = boxes(1000, 11L)
    val t = RTree.bulkLoad(envs)
    val all = selfJoinPairs(t)
    assert(all.length > 100)
    for (stopAt <- Seq(1, 2, 57, all.length)) {
      val seen = mutable.ArrayBuffer.empty[(Int, Int)]
      val finished = t.selfJoin { (i, j) => seen += ((i, j)); seen.length < stopAt }
      assert(!finished)
      assert(seen == all.take(stopAt))
    }
    assert(RTree.empty.selfJoin((_, _) => false))
  }

  /** STR leaf order as bulkLoad computed it with boxed TimSort
    * comparators: all ids by center x, then each slice by center y.
    */
  private def boxedStrOrder(envs: Array[Env]): Seq[Int] = {
    val n = envs.length
    val ids: Array[Integer] = Array.tabulate(n)(i => Integer.valueOf(i))
    java.util.Arrays.sort(ids, (a: Integer, b: Integer) =>
      java.lang.Double.compare(envs(a).centerX, envs(b).centerX))
    val leafCount = (n + 7) / 8
    val slices = math.max(1, math.ceil(math.sqrt(leafCount.toDouble)).toInt)
    val perSlice = (n + slices - 1) / slices
    for (s <- 0 until slices) {
      val from = s * perSlice
      val to = math.min(n, from + perSlice)
      if (from < to)
        java.util.Arrays.sort(ids, from, to, (a: Integer, b: Integer) =>
          java.lang.Double.compare(envs(a).centerY, envs(b).centerY))
    }
    ids.toSeq.map(_.intValue)
  }

  test("bulkLoad leaf order equals the boxed-comparator STR sort") {
    val signedZeros = Array(Env(-0.0, 0.0, -0.0, 0.0), Env(0.0, -0.0, 0.0, -0.0),
      Env(-1, -1, 1, 1), Env(0.0, 0.0, 0.0, 0.0))
    for (envs <- cases.map(_._2) :+ signedZeros :+ boxes(5000, 5L)) {
      val t = RTree.bulkLoad(envs)
      // a full-extent query visits every leaf record in storage order
      val leafOrder = mutable.ArrayBuffer.empty[Int]
      t.rangeSearch(Env(-1e300, -1e300, 1e300, 1e300)) { i => leafOrder += i; true }
      val nonEmpty = boxedStrOrder(envs).filter(i => !envs(i).isEmpty)
      assert(leafOrder == nonEmpty)
    }
  }

  test("sortIdsByKey is a stable sort under java.lang.Double.compare") {
    val rnd = new java.util.Random(3)
    val pool = Array(-0.0, 0.0, 1.0, -1.0, Double.NaN, Double.PositiveInfinity, 2.5)
    for (n <- Seq(0, 1, 2, 12, 13, 100, 1000)) {
      val key = Array.fill(n)(pool(rnd.nextInt(pool.length)))
      val ids = Array.range(0, n)
      RTree.sortIdsByKey(ids, 0, n, key, new Array[Int](n))
      val expected = Array.tabulate(n)(i => Integer.valueOf(i))
      java.util.Arrays.sort(expected, (a: Integer, b: Integer) => java.lang.Double.compare(key(a), key(b)))
      assert(ids.toSeq == expected.toSeq.map(_.intValue), s"n=$n")
    }
  }
}
