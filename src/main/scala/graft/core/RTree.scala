package graft.core

/** In-memory bulk-loaded R-tree over (Env, recordID) pairs — records
  * live outside the tree, same design as the reference
  * (reference: rtree/rtree.go:29-36, rtree/bulk.go:12). This is an STR
  * (sort-tile-recursive) bulk load rather than the reference's
  * quickselect 2-way split; same asymptotics, simpler code, and it
  * builds once per partition / broadcast so build cost is amortized.
  */
final class RTree private (
    private val boxes: Array[Double], // minX,minY,maxX,maxY per node
    private val firstChild: Array[Int], // index of first child, or -(recordStart+1) for leaves
    private val childCount: Array[Int],
    private val recIds: Array[Int],
    private val leafBoxes: Array[Double], // per-record boxes, parallel to recIds
    val root: Int,
    val count: Int) {

  def isEmpty: Boolean = count == 0

  def extent: Env =
    if (isEmpty) Env.empty
    else Env(boxes(root * 4), boxes(root * 4 + 1), boxes(root * 4 + 2), boxes(root * 4 + 3))

  @inline private def nodeIntersects(n: Int, e: Env): Boolean =
    boxes(n * 4) <= e.xmax && e.xmin <= boxes(n * 4 + 2) &&
      boxes(n * 4 + 1) <= e.ymax && e.ymin <= boxes(n * 4 + 3)

  /** DFS range query; callback returns false to stop early
    * (reference: rtree/rtree.go:48-74 RangeSearch with Stop sentinel).
    */
  def rangeSearch(e: Env)(cb: Int => Boolean): Boolean = {
    if (isEmpty || e.isEmpty) return true
    search(root, e, cb)
  }

  private def search(n: Int, e: Env, cb: Int => Boolean): Boolean = {
    if (!nodeIntersects(n, e)) return true
    val fc = firstChild(n)
    if (fc < 0) {
      val start = -fc - 1
      var i = 0
      while (i < childCount(n)) {
        val rid = recIds(start + i)
        val b = (start + i) * 4
        if (leafBoxes(b) <= e.xmax && e.xmin <= leafBoxes(b + 2) &&
            leafBoxes(b + 1) <= e.ymax && e.ymin <= leafBoxes(b + 3)) {
          if (!cb(rid)) return false
        }
        i += 1
      }
      true
    } else {
      var i = 0
      while (i < childCount(n)) {
        if (!search(fc + i, e, cb)) return false
        i += 1
      }
      true
    }
  }

  /** Point query without the Env wrapper — the per-row hot path of the
    * fused PIP-count aggregate calls this 10^12 times at scale, so it
    * must not allocate.
    */
  def pointSearch(x: Double, y: Double)(cb: Int => Boolean): Boolean = {
    if (isEmpty) return true
    searchPt(root, x, y, cb)
  }

  private def searchPt(n: Int, x: Double, y: Double, cb: Int => Boolean): Boolean = {
    if (!(boxes(n * 4) <= x && x <= boxes(n * 4 + 2) &&
          boxes(n * 4 + 1) <= y && y <= boxes(n * 4 + 3))) return true
    val fc = firstChild(n)
    if (fc < 0) {
      val start = -fc - 1
      var i = 0
      while (i < childCount(n)) {
        val rid = recIds(start + i)
        val b = (start + i) * 4
        if (leafBoxes(b) <= x && x <= leafBoxes(b + 2) &&
            leafBoxes(b + 1) <= y && y <= leafBoxes(b + 3)) {
          if (!cb(rid)) return false
        }
        i += 1
      }
      true
    } else {
      var i = 0
      while (i < childCount(n)) {
        if (!searchPt(fc + i, x, y, cb)) return false
        i += 1
      }
      true
    }
  }

  /** Every pair of records i < j whose boxes overlap, each pair once,
    * in the order of
    * `for (i <- 0 until count) rangeSearch(box(i)) { j => if (j > i) cb(i, j) }`:
    * ascending i, then tree order of j. The DFS skips subtrees holding
    * no record id above i, so a pair is not visited again from its
    * larger id. Callback returns false to stop; returns false iff it
    * stopped.
    */
  def selfJoin(cb: (Int, Int) => Boolean): Boolean = {
    if (isEmpty) return true
    val nodes = childCount.length
    // maxId(node): largest record id below it (children precede their
    // parent in the node arrays: levels are built bottom-up)
    val maxId = new Array[Int](nodes)
    val pos = new Array[Int](count) // record id -> leaf slot
    var nd = 0
    while (nd < nodes) {
      val fc = firstChild(nd)
      var m = -1
      var c = 0
      while (c < childCount(nd)) {
        val id = if (fc < 0) { val slot = -fc - 1 + c; pos(recIds(slot)) = slot; recIds(slot) } else maxId(fc + c)
        if (id > m) m = id
        c += 1
      }
      maxId(nd) = m
      nd += 1
    }
    var i = 0
    while (i < count) {
      val b = pos(i) * 4
      val xmin = leafBoxes(b); val ymin = leafBoxes(b + 1)
      val xmax = leafBoxes(b + 2); val ymax = leafBoxes(b + 3)
      if (!(xmin > xmax || ymin > ymax) &&
          !joinFrom(root, i, xmin, ymin, xmax, ymax, maxId, cb)) return false
      i += 1
    }
    true
  }

  private def joinFrom(n: Int, i: Int, xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                       maxId: Array[Int], cb: (Int, Int) => Boolean): Boolean = {
    if (maxId(n) <= i || !(boxes(n * 4) <= xmax && xmin <= boxes(n * 4 + 2) &&
        boxes(n * 4 + 1) <= ymax && ymin <= boxes(n * 4 + 3))) return true
    val fc = firstChild(n)
    if (fc < 0) {
      val start = -fc - 1
      var k = 0
      while (k < childCount(n)) {
        val rid = recIds(start + k)
        val b = (start + k) * 4
        if (rid > i && leafBoxes(b) <= xmax && xmin <= leafBoxes(b + 2) &&
            leafBoxes(b + 1) <= ymax && ymin <= leafBoxes(b + 3)) {
          if (!cb(i, rid)) return false
        }
        k += 1
      }
      true
    } else {
      var k = 0
      while (k < childCount(n)) {
        if (!joinFrom(fc + k, i, xmin, ymin, xmax, ymax, maxId, cb)) return false
        k += 1
      }
      true
    }
  }

  private def boxBoxDist(b: Int, e: Env, arr: Array[Double]): Double = {
    val dx = math.max(0.0, math.max(arr(b) - e.xmax, e.xmin - arr(b + 2)))
    val dy = math.max(0.0, math.max(arr(b + 1) - e.ymax, e.ymin - arr(b + 3)))
    dx * dx + dy * dy
  }

  /** Best-first traversal ordered by squared box distance to `e`; the
    * callback receives (recordId, squaredBoxDistance) and returns false
    * to stop (reference: rtree/nearest.go:28-55 PrioritySearch).
    */
  def prioritySearch(e: Env)(cb: (Int, Double) => Boolean): Unit = {
    if (isEmpty) return
    // primitive min-heap: dists + packed ids (leaf records encoded as
    // ~idx). A boxed PriorityQueue[Entry] here allocated per enqueue
    // and dominated wall time when callers probe once per row/segment.
    var cap = 64
    var hd = new Array[Double](cap)
    var hi = new Array[Int](cap)
    var hn = 0
    def push(d: Double, id: Int): Unit = {
      if (hn == cap) {
        cap *= 2
        hd = java.util.Arrays.copyOf(hd, cap)
        hi = java.util.Arrays.copyOf(hi, cap)
      }
      var c = hn; hn += 1
      hd(c) = d; hi(c) = id
      while (c > 0) {
        val p = (c - 1) >> 1
        if (hd(p) <= hd(c)) return
        val td = hd(p); hd(p) = hd(c); hd(c) = td
        val ti = hi(p); hi(p) = hi(c); hi(c) = ti
        c = p
      }
    }
    def pop(): Unit = {
      hn -= 1
      hd(0) = hd(hn); hi(0) = hi(hn)
      var c = 0
      while (true) {
        val l = 2 * c + 1; val r = l + 1
        var m = c
        if (l < hn && hd(l) < hd(m)) m = l
        if (r < hn && hd(r) < hd(m)) m = r
        if (m == c) return
        val td = hd(m); hd(m) = hd(c); hd(c) = td
        val ti = hi(m); hi(m) = hi(c); hi(c) = ti
        c = m
      }
    }
    push(boxBoxDist(root * 4, e, boxes), root)
    while (hn > 0) {
      val dist = hd(0); val id = hi(0)
      pop()
      if (id < 0) {
        if (!cb(recIds(~id), dist)) return
      } else {
        val fc = firstChild(id)
        if (fc < 0) {
          val start = -fc - 1
          var i = 0
          while (i < childCount(id)) {
            push(boxBoxDist((start + i) * 4, e, leafBoxes), ~(start + i))
            i += 1
          }
        } else {
          var i = 0
          while (i < childCount(id)) {
            push(boxBoxDist((fc + i) * 4, e, boxes), fc + i)
            i += 1
          }
        }
      }
    }
  }
  /** Dual-tree best-first nearest-pair traversal: visits record pairs
    * (thisRec, otherRec) in nondecreasing order of squared box-to-box
    * distance. Callback returns false to stop. O(log) node-pair
    * expansions to reach the closest pair — the per-probe loop this
    * replaces in distance() was O(n log m).
    */
  def nearestPairSearch(other: RTree)(cb: (Int, Int, Double) => Boolean): Unit = {
    if (isEmpty || other.isEmpty) return
    def box(t: RTree, id: Int): (Array[Double], Int) =
      if (id < 0) (t.leafBoxes, (~id) * 4) else (t.boxes, id * 4)
    def dist2(idA: Int, idB: Int): Double = {
      val (aArr, a) = box(this, idA)
      val (bArr, b) = box(other, idB)
      val dx = math.max(0.0, math.max(aArr(a) - bArr(b + 2), bArr(b) - aArr(a + 2)))
      val dy = math.max(0.0, math.max(aArr(a + 1) - bArr(b + 3), bArr(b + 1) - aArr(a + 3)))
      dx * dx + dy * dy
    }
    var cap = 64
    var hd = new Array[Double](cap)
    var ha = new Array[Int](cap)
    var hb = new Array[Int](cap)
    var hn = 0
    def push(d: Double, ia: Int, ib: Int): Unit = {
      if (hn == cap) {
        cap *= 2
        hd = java.util.Arrays.copyOf(hd, cap)
        ha = java.util.Arrays.copyOf(ha, cap)
        hb = java.util.Arrays.copyOf(hb, cap)
      }
      var c = hn; hn += 1
      hd(c) = d; ha(c) = ia; hb(c) = ib
      while (c > 0) {
        val p = (c - 1) >> 1
        if (hd(p) <= hd(c)) return
        val td = hd(p); hd(p) = hd(c); hd(c) = td
        var t = ha(p); ha(p) = ha(c); ha(c) = t
        t = hb(p); hb(p) = hb(c); hb(c) = t
        c = p
      }
    }
    def pop(): Unit = {
      hn -= 1
      hd(0) = hd(hn); ha(0) = ha(hn); hb(0) = hb(hn)
      var c = 0
      while (true) {
        val l = 2 * c + 1; val r = l + 1
        var m = c
        if (l < hn && hd(l) < hd(m)) m = l
        if (r < hn && hd(r) < hd(m)) m = r
        if (m == c) return
        val td = hd(m); hd(m) = hd(c); hd(c) = td
        var t = ha(m); ha(m) = ha(c); ha(c) = t
        t = hb(m); hb(m) = hb(c); hb(c) = t
        c = m
      }
    }
    def children(t: RTree, id: Int)(f: Int => Unit): Unit = {
      val fc = t.firstChild(id)
      if (fc < 0) {
        val start = -fc - 1
        var i = 0
        while (i < t.childCount(id)) { f(~(start + i)); i += 1 }
      } else {
        var i = 0
        while (i < t.childCount(id)) { f(fc + i); i += 1 }
      }
    }
    def area(t: RTree, id: Int): Double = {
      val (arr, b) = box(t, id)
      (arr(b + 2) - arr(b)) * (arr(b + 3) - arr(b + 1))
    }
    push(dist2(root, other.root), root, other.root)
    while (hn > 0) {
      val d = hd(0); val ia = ha(0); val ib = hb(0)
      pop()
      if (ia < 0 && ib < 0) {
        if (!cb(recIds(~ia), other.recIds(~ib), d)) return
      } else {
        // expand the non-leaf side with the larger box
        val expandA =
          if (ib < 0) true
          else if (ia < 0) false
          else area(this, ia) >= area(other, ib)
        if (expandA) children(this, ia)(c => push(dist2(c, ib), c, ib))
        else children(other, ib)(c => push(dist2(ia, c), ia, c))
      }
    }
  }
}

object RTree {
  private final val Fanout = 8

  val empty: RTree =
    new RTree(Array.empty, Array.empty, Array.empty, Array.empty, Array.empty, 0, 0)

  /** Bulk load from record envelopes; recordId = index into `envs`. */
  def bulkLoad(envs: Array[Env]): RTree = {
    val n = envs.length
    if (n == 0) return empty
    // sort record ids by STR tiles: primary X-center slabs, secondary Y-center
    // (stable sorts, so records with equal centers keep id order)
    val order = Array.range(0, n)
    val cx = new Array[Double](n); val cy = new Array[Double](n)
    var i = 0
    while (i < n) { cx(i) = envs(i).centerX; cy(i) = envs(i).centerY; i += 1 }
    val tmp = new Array[Int](n)
    sortIdsByKey(order, 0, n, cx, tmp)
    val leafCount = (n + Fanout - 1) / Fanout
    val slices = math.max(1, math.ceil(math.sqrt(leafCount.toDouble)).toInt)
    val perSlice = (n + slices - 1) / slices
    var s = 0
    while (s < slices) {
      val from = s * perSlice
      val to = math.min(n, from + perSlice)
      if (from < to) sortIdsByKey(order, from, to, cy, tmp)
      s += 1
    }

    // leaf record arrays in STR order
    val leafBoxesArr = new Array[Double](n * 4)
    val recIds = new Array[Int](n)
    i = 0
    while (i < n) {
      val e = envs(order(i))
      leafBoxesArr(i * 4) = e.xmin; leafBoxesArr(i * 4 + 1) = e.ymin
      leafBoxesArr(i * 4 + 2) = e.xmax; leafBoxesArr(i * 4 + 3) = e.ymax
      recIds(i) = order(i)
      i += 1
    }

    // build levels bottom-up, starting with the leaves
    val leaves = (n + Fanout - 1) / Fanout
    var bArr = new Array[Double](leaves * 4)
    var fArr = new Array[Int](leaves)
    var cArr = new Array[Int](leaves)
    var nodeCount = 0
    var levelStart = 0
    var levelSize = leaves
    i = 0
    while (i < n) {
      val cnt = math.min(Fanout, n - i)
      var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
      var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
      var j = 0
      while (j < cnt) {
        val b = (i + j) * 4
        if (leafBoxesArr(b) < xmin) xmin = leafBoxesArr(b)
        if (leafBoxesArr(b + 1) < ymin) ymin = leafBoxesArr(b + 1)
        if (leafBoxesArr(b + 2) > xmax) xmax = leafBoxesArr(b + 2)
        if (leafBoxesArr(b + 3) > ymax) ymax = leafBoxesArr(b + 3)
        j += 1
      }
      bArr(nodeCount * 4) = xmin; bArr(nodeCount * 4 + 1) = ymin
      bArr(nodeCount * 4 + 2) = xmax; bArr(nodeCount * 4 + 3) = ymax
      fArr(nodeCount) = -(i + 1)
      cArr(nodeCount) = cnt
      nodeCount += 1
      i += cnt
    }

    while (levelSize > 1) {
      val nextStart = nodeCount
      val parents = (levelSize + Fanout - 1) / Fanout
      val nb = new Array[Double]((nodeCount + parents) * 4)
      System.arraycopy(bArr, 0, nb, 0, bArr.length)
      val nf = java.util.Arrays.copyOf(fArr, nodeCount + parents)
      val nc = java.util.Arrays.copyOf(cArr, nodeCount + parents)
      var p = 0
      var child = levelStart
      while (p < parents) {
        val cnt = math.min(Fanout, levelStart + levelSize - child)
        var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
        var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
        var j = 0
        while (j < cnt) {
          val b = (child + j) * 4
          if (nb(b) < xmin) xmin = nb(b)
          if (nb(b + 1) < ymin) ymin = nb(b + 1)
          if (nb(b + 2) > xmax) xmax = nb(b + 2)
          if (nb(b + 3) > ymax) ymax = nb(b + 3)
          j += 1
        }
        val ni = nodeCount + p
        nb(ni * 4) = xmin; nb(ni * 4 + 1) = ymin; nb(ni * 4 + 2) = xmax; nb(ni * 4 + 3) = ymax
        nf(ni) = child
        nc(ni) = cnt
        child += cnt
        p += 1
      }
      bArr = nb; fArr = nf; cArr = nc
      levelStart = nextStart
      levelSize = parents
      nodeCount += parents
    }

    new RTree(bArr, fArr, cArr, recIds, leafBoxesArr, nodeCount - 1, n)
  }

  /** Stable sort of `ids(from until to)` by `key(id)` under
    * `java.lang.Double.compare` (-0.0 before 0.0, NaN last): insertion
    * sort for short ranges, merge sort through `tmp` (at least `to`
    * long) above, so long ranges stay O(k log k).
    */
  private[core] def sortIdsByKey(ids: Array[Int], from: Int, to: Int,
                                 key: Array[Double], tmp: Array[Int]): Unit = {
    if (to - from <= 12) {
      var i = from + 1
      while (i < to) {
        val id = ids(i); val k = key(id)
        var j = i - 1
        while (j >= from && java.lang.Double.compare(key(ids(j)), k) > 0) {
          ids(j + 1) = ids(j); j -= 1
        }
        ids(j + 1) = id
        i += 1
      }
    } else {
      val mid = (from + to) >>> 1
      sortIdsByKey(ids, from, mid, key, tmp)
      sortIdsByKey(ids, mid, to, key, tmp)
      if (java.lang.Double.compare(key(ids(mid - 1)), key(ids(mid))) > 0) {
        System.arraycopy(ids, from, tmp, from, to - from)
        var a = from; var b = mid; var o = from
        while (a < mid && b < to) {
          if (java.lang.Double.compare(key(tmp(a)), key(tmp(b))) <= 0) { ids(o) = tmp(a); a += 1 }
          else { ids(o) = tmp(b); b += 1 }
          o += 1
        }
        while (a < mid) { ids(o) = tmp(a); a += 1; o += 1 }
        while (b < to) { ids(o) = tmp(b); b += 1; o += 1 }
      }
    }
  }
}
