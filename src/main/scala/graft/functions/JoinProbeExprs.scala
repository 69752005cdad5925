package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core._

/** Native probe expressions for the broadcast spatial joins — the
  * 10^12-row probe side must NOT go through a ScalaUDF: a udf closure
  * forces an InternalRow -> Row -> boxed-args conversion per row and
  * inserts a non-codegen barrier right after the scan. These evaluate
  * on InternalRow directly and participate in whole-stage codegen via
  * RowKernelCodegen (a CodegenFallback expression would kick the whole
  * scan->project/generate stage out of WholeStageCodegen — Spark's
  * CollapseCodegenStages rejects operators containing fallback
  * expressions); the kernel itself is one virtual eval per row, same
  * shape as StPipCountAgg's update().
  *
  * Every probe, and StPipCountAgg, resolves its executor-local prepared
  * side (decode + R-tree build once per JVM per broadcast) through one
  * bounded LRU cache class below.
  */
object JoinProbeExprs {
  /** Executor-local bounded cache, keyed by broadcast id. Access-order
    * LRU so long-running executors don't pin every broadcast's decoded
    * geometry forever (reference pattern: geom/alg_prepared.go:12-27).
    */
  private final class Lru[V](maxEntries: Int) {
    private val m = new java.util.LinkedHashMap[Long, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, V]): Boolean =
        size() > maxEntries
    }
    def getOrElseUpdate(k: Long, v: => V): V = m.synchronized {
      val cur = m.get(k)
      if (cur != null) cur else { val nv = v; m.put(k, nv); nv }
    }
  }

  /** The geometry side every areal probe shares: (keys, WKBs) decoded
    * to (keys, geometries, R-tree over their envelopes).
    */
  private val keyCache = new Lru[(Array[Long], Array[Geom], RTree)](16)
  def preparedKeyed(
      bc: Broadcast[(Array[Long], Array[Array[Byte]])]): (Array[Long], Array[Geom], RTree) =
    keyCache.getOrElseUpdate(bc.id, {
      val (keys, wkbs) = bc.value
      val geoms = wkbs.map(b => if (b.isEmpty) Geom.emptyGC else Wkb.read(b))
      (keys, geoms, RTree.bulkLoad(geoms.map(_.envelope)))
    })

  private val ptCache = new Lru[(Array[Long], Array[Double], Array[Double], RTree)](16)
  def preparedPts(
      bc: Broadcast[(Array[Long], Array[Double], Array[Double])]): (Array[Long], Array[Double], Array[Double], RTree) =
    ptCache.getOrElseUpdate(bc.id, {
      val (keys, xs, ys) = bc.value
      val envs = Array.tabulate(keys.length)(i => Env(xs(i), ys(i), xs(i), ys(i)))
      (keys, xs, ys, RTree.bulkLoad(envs))
    })

  private[functions] def evalPred(pred: String, poly: Geom, probe: Geom): Boolean =
    pred match {
      case "contains"   => Relate.contains(poly, probe)
      case "containsproperly" => Relate.containsProperly(poly, probe)
      case "covers"     => Relate.covers(poly, probe)
      case "intersects" => Intersects.intersects(poly, probe)
      case "within"     => Relate.within(poly, probe)
      case "touches"    => Relate.touches(poly, probe)
      case other => throw new IllegalArgumentException(s"unsupported join predicate '$other'")
    }
}

/** probe WKB -> array of broadcast-side keys whose geometry
  * satisfies pred(smallGeom, probe); broadcastSpatialJoin keys its
  * side by row index. The only per-row allocations are the decoded
  * probe and the (usually tiny) match array.
  */
case class StBroadcastMatchIdxs(
    child: Expression,
    bc: Broadcast[(Array[Long], Array[Array[Byte]])],
    pred: String)
    extends UnaryExpression with RowKernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "st_broadcast_match_idxs"

  @transient private lazy val preparedSide = JoinProbeExprs.preparedKeyed(bc)
  @transient private lazy val out = scala.collection.mutable.ArrayBuffer.empty[Long]

  override def genEval(vs: Array[Any]): Any = {
    val v = vs(0)
    if (v == null) return new GenericArrayData(Array.emptyLongArray)
    val probe = Wkb.read(v.asInstanceOf[Array[Byte]])
    val (keys, geoms, tree) = preparedSide
    val e = probe.envelope
    out.clear()
    if (!e.isEmpty) tree.rangeSearch(e) { i =>
      if (!geoms(i).isEmpty && JoinProbeExprs.evalPred(pred, geoms(i), probe))
        out += keys(i)
      true
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): StBroadcastMatchIdxs =
    copy(child = c)
}

/** (lon, lat) -> array of broadcast-side KEYS whose areal geometry
  * matches under point-in-areal location; the 100-TB hot path: no WKB
  * on the probe side at all.
  */
case class StPointKeyMatches(
    left: Expression,
    right: Expression,
    bc: Broadcast[(Array[Long], Array[Array[Byte]])],
    interiorOnly: Boolean)
    extends BinaryExpression with RowKernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "st_point_key_matches"
  override def genEval(vs: Array[Any]): Any =
    if (vs(0) == null || vs(1) == null) new GenericArrayData(Array.emptyLongArray)
    else nullSafeEval(vs(0), vs(1))

  @transient private lazy val preparedSide = JoinProbeExprs.preparedKeyed(bc)

  private final class V extends (Int => Boolean) {
    var keys: Array[Long] = _
    var geoms: Array[Geom] = _
    var lon: Double = _
    var lat: Double = _
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    override def apply(i: Int): Boolean = {
      val loc = Alg.pointInAreal(geoms(i), lon, lat)
      if (if (interiorOnly) loc == 1 else loc >= 0) buf += keys(i)
      true
    }
  }
  @transient private lazy val visitor = new V

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lon = a.asInstanceOf[Double]
    val lat = b.asInstanceOf[Double]
    val (keys, geoms, tree) = preparedSide
    val v = visitor
    v.keys = keys; v.geoms = geoms; v.lon = lon; v.lat = lat
    v.buf.clear()
    tree.pointSearch(lon, lat)(v)
    new GenericArrayData(v.buf.toArray)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StPointKeyMatches =
    copy(left = l, right = r)
}

/** (lon, lat) -> keys of broadcast points within euclidean distance
  * `radius` (inclusive): an R-tree rangeSearch over the padded probe
  * envelope, refined with the exact squared distance — the
  * within-distance join's probe (reference: rtree/rtree.go RangeSearch
  * with early stop).
  */
case class StDWithinMatches(
    left: Expression,
    right: Expression,
    bc: Broadcast[(Array[Long], Array[Double], Array[Double])],
    radius: Double)
    extends BinaryExpression with RowKernelCodegen {
  require(radius >= 0, "radius must be >= 0")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "st_dwithin_matches"
  override def genEval(vs: Array[Any]): Any =
    if (vs(0) == null || vs(1) == null) new GenericArrayData(Array.emptyLongArray)
    else nullSafeEval(vs(0), vs(1))

  @transient private lazy val preparedSide = JoinProbeExprs.preparedPts(bc)

  private final class V extends (Int => Boolean) {
    var keys: Array[Long] = _
    var xs: Array[Double] = _
    var ys: Array[Double] = _
    var lon: Double = _
    var lat: Double = _
    var r2: Double = _
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    override def apply(i: Int): Boolean = {
      val dx = xs(i) - lon; val dy = ys(i) - lat
      if (dx * dx + dy * dy <= r2) buf += keys(i)
      true
    }
  }
  @transient private lazy val visitor = new V

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lon = a.asInstanceOf[Double]
    val lat = b.asInstanceOf[Double]
    val (keys, xs, ys, tree) = preparedSide
    val v = visitor
    v.keys = keys; v.xs = xs; v.ys = ys; v.lon = lon; v.lat = lat
    v.r2 = radius * radius
    v.buf.clear()
    tree.rangeSearch(Env(lon - radius, lat - radius, lon + radius, lat + radius))(v)
    new GenericArrayData(v.buf.toArray)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDWithinMatches =
    copy(left = l, right = r)
}
