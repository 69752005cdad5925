package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core._

object StPipCountAgg {
  /** Reusable R-tree visitor: avoids allocating a capturing lambda per
    * input row in the aggregate's update() hot path.
    */
  private[functions] final class PipVisitor extends (Int => Boolean) {
    var geoms: Array[Geom] = _
    var buffer: Array[Long] = _
    var lon: Double = _
    var lat: Double = _
    var interiorOnly: Boolean = _
    override def apply(i: Int): Boolean = {
      val loc = Alg.pointInAreal(geoms(i), lon, lat)
      if (if (interiorOnly) loc == 1 else loc >= 0) buffer(i) += 1
      true
    }
  }
}

/** Fused broadcast point-in-polygon JOIN + per-polygon COUNT as a
  * single imperative aggregate: the per-partition buffer is one
  * Long per broadcast polygon, update() probes the executor-local
  * R-tree with raw (lon, lat) doubles and bumps matched slots, merge()
  * sums the arrays. Per input row this allocates NOTHING (no WKB, no
  * match array, no exploded join rows, no shuffle of data rows) — the
  * map-side-combine form a 10^12-row per-region count needs.
  *
  * Semantics match broadcastSpatialJoin + groupBy(key).count() for
  * point probes: contains/within ⇔ interior; covers/intersects ⇔
  * interior or boundary (reference: geom/alg_point_in_ring.go
  * ray-casting locate + alg_prepared.go prepared pattern).
  */
case class StPipCountAgg(
    lonExpr: Expression,
    latExpr: Expression,
    bc: Broadcast[(Array[Long], Array[Array[Byte]])],
    nSlots: Int,
    interiorOnly: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(lonExpr, latExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "st_pip_count_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nSlots)

  @transient private lazy val visitor = new StPipCountAgg.PipVisitor

  // Resolve the executor-local prepared side ONCE per task (lazy val),
  // not via a cache lookup on every input row in update().
  @transient private lazy val preparedSide = JoinProbeExprs.preparedKeyed(bc)

  // Primitive fast path when inputs are direct column reads (the common
  // plan shape): skips Expression.eval's boxed Double per row.
  @transient private lazy val lonOrd =
    lonExpr match { case b: BoundReference if b.dataType == DoubleType && !b.nullable => b.ordinal; case _ => -1 }
  @transient private lazy val latOrd =
    latExpr match { case b: BoundReference if b.dataType == DoubleType && !b.nullable => b.ordinal; case _ => -1 }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    var lon = 0.0; var lat = 0.0
    if (lonOrd >= 0 && latOrd >= 0) {
      lon = input.getDouble(lonOrd); lat = input.getDouble(latOrd)
    } else {
      val l = lonExpr.eval(input); if (l == null) return buffer
      val t = latExpr.eval(input); if (t == null) return buffer
      lon = l.asInstanceOf[Double]; lat = t.asInstanceOf[Double]
    }
    val (_, geoms, tree) = preparedSide
    val v = visitor
    v.geoms = geoms; v.buffer = buffer; v.lon = lon; v.lat = lat
    v.interiorOnly = interiorOnly
    tree.pointSearch(lon, lat)(v)
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): StPipCountAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StPipCountAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(lonExpr = cs(0), latExpr = cs(1))
}
