package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.functions.ST._
import graft.operators.SpatialJoins
import graft.tiling.Cell

/** `polygon_join`: big-vs-big intersects join of two seeded polygon
  * tables through the partitioned cell join, unsalted, AQE on. Most of
  * the left side sits in a few hot cells, so one task per stage carries
  * the load.
  */
final class PolygonJoin(seed: Long, dir: Path) extends Workload {
  val name = "polygon_join"
  val why = "cell cover, shuffle, skew and straggler layers do the work; the kernel only " +
    "evaluates predicates, and the hot-cell task sets each stage's time"

  private val Level = 10
  private val LeftN = 5000
  private val RightN = 5000
  val inputRows: Long = (LeftN + RightN).toLong
  private val lPath = dir.resolve("left.parquet").toString
  private val rPath = dir.resolve("right.parquet").toString

  /** Four hot cells at the join level; share of each side inside them. */
  private val hotCells: Seq[Long] = Seq((2.1, 2.1), (-3.3, 5.2), (7.7, -4.4), (-6.6, -7.1))
    .map { case (x, y) => Cell.cellOf(x, y, Level) }
  private val LeftHot = 0.6
  private val RightHot = 0.1

  /** Row i is hot when i % 10 falls under the hot share and takes vertex
    * count 3 + (i / 10) % 62, so hot shares and the vertex mix are exact and
    * the seed moves only coordinates and sizes.
    */
  private def side(rnd: SplittableRandom, n: Int, hotShare: Double): IndexedSeq[(String, Int, Boolean)] =
    (0 until n).map { i =>
      val r = 0.004 + 0.02 * rnd.nextDouble()
      val hot = i % 10 < math.round(hotShare * 10)
      val (cx, cy) =
        if (hot) {
          val b = Cell.bounds(hotCells(i % hotCells.size))
          (b.xmin + (b.xmax - b.xmin) * rnd.nextDouble(), b.ymin + (b.ymax - b.ymin) * rnd.nextDouble())
        } else (-20.0 + 40.0 * rnd.nextDouble(), -20.0 + 40.0 * rnd.nextDouble())
      val v = 3 + (i / 10) % 62
      (Gen.polygon(rnd, cx, cy, r, v, holed = false), v, hot)
    }

  private lazy val (left, right) = generate()

  private def generate(): (IndexedSeq[(String, Int, Boolean)], IndexedSeq[(String, Int, Boolean)]) = {
    val rnd = new SplittableRandom(seed)
    (side(rnd, LeftN, LeftHot), side(rnd, RightN, RightHot))
  }

  def prepare(spark: SparkSession): Unit = {
    val (l, r) = generate()
    def write(rows: IndexedSeq[(String, Int, Boolean)], key: String, geom: String, path: String): Unit = {
      val schema = StructType(Seq(StructField(key, LongType, false), StructField("wkt", StringType, false)))
      spark.createDataFrame(spark.sparkContext.parallelize(
          rows.zipWithIndex.map { case (p, i) => Row(i.toLong, p._1) }, 4), schema)
        .select(col(key), st_geomFromWKT(col("wkt")).as(geom))
        .write.mode("overwrite").parquet(path)
    }
    write(l, "lid", "lgeom", lPath)
    write(r, "rid", "rgeom", rPath)
  }

  // ----------------------------------------------------------------- checks

  private var expDigest = 0L
  private var expPairs = 0L
  private var lastPairs = 0L
  private lazy val lGeoms = left.map(p => Wkt.parse(p._1)).toArray
  private lazy val rGeoms = right.map(p => Wkt.parse(p._1)).toArray

  /** Exact pairs from an R-tree over the right envelopes plus the exact
    * predicate; pairs reduced to the same order-independent digest.
    */
  def expect(spark: SparkSession): Unit = {
    val pairs = envelopePairs().filter { case (i, j) => Intersects.intersects(lGeoms(i), rGeoms(j)) }
    val schema = StructType(Seq(StructField("lid", LongType, false), StructField("rid", LongType, false)))
    val row = spark.createDataFrame(pairs.map(p => Row(p._1.toLong, p._2.toLong)).asJava, schema)
      .agg(sum(shiftright(xxhash64(col("lid"), col("rid")), 20)), sum(lit(1L))).collect()(0)
    expDigest = row.getLong(0); expPairs = row.getLong(1)
  }

  private def envelopePairs(): IndexedSeq[(Int, Int)] = {
    val tree = RTree.bulkLoad(rGeoms.map(_.envelope))
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    lGeoms.indices.foreach { i => tree.rangeSearch(lGeoms(i).envelope) { j => out += ((i, j)); true } }
    out.toIndexedSeq
  }

  def rep(spark: SparkSession): Seq[String] = {
    val l = spark.read.parquet(lPath)
    val r = spark.read.parquet(rPath)
    val row = SpatialJoins.cellJoin(l, "lgeom", r, "rgeom", "intersects", Level, Seq("lid"), Seq("rid"))
      .agg(sum(shiftright(xxhash64(col("lid"), col("rid")), 20)), sum(lit(1L))).collect()(0)
    val digest = if (row.isNullAt(0)) 0L else row.getLong(0)
    lastPairs = if (row.isNullAt(1)) 0L else row.getLong(1)
    Seq(
      if (lastPairs != expPairs) Some(s"join returned $lastPairs pairs, expected $expPairs") else None,
      if (digest != expDigest) Some("pair digest differs from the R-tree nested join") else None
    ).flatten
  }

  def observed: Map[String, Double] = Map.empty

  private lazy val covers: (Array[Array[Long]], Array[Array[Long]]) =
    (lGeoms.map(Cell.coverGeom(_, Level)), rGeoms.map(Cell.coverGeom(_, Level)))

  def properties: Map[String, Any] = {
    val (lc, rc) = covers
    val perCell = (lc ++ rc).flatten.groupBy(identity).map(_._2.length)
    val all = left ++ right
    Map(
      "rows" -> inputRows,
      "left_rows" -> LeftN, "right_rows" -> RightN,
      "vertex_bucket_shares" -> Gen.Buckets.map(b => b -> all.count(p => Gen.bucketOf(p._2) == b) / all.size.toDouble).toMap,
      "hotspot_share" -> all.count(_._3) / all.size.toDouble,
      "left_hotspot_share" -> left.count(_._3) / LeftN.toDouble,
      "hostile_share" -> 0.0,
      "join_level" -> Level,
      "distinct_tile_keys" -> perCell.size,
      "max_rows_per_cell" -> perCell.maxOption.getOrElse(0),
      "expected_pairs" -> expPairs)
  }

  /** Replays the join's kernel calls: WKB decode of both sides, the cell
    * cover of each geometry and the exact predicate on every envelope
    * candidate pair, bucketed by the left polygon's vertex count.
    */
  def replay(spark: SparkSession, timer: KernelTimer): Seq[String] = {
    val lw = lGeoms.map(Wkb.write); val rw = rGeoms.map(Wkb.write)
    val all = (lw.zip(left.map(_._2)) ++ rw.zip(right.map(_._2))).groupBy(p => Gen.bucketOf(p._2))
    Gen.Buckets.foreach { b =>
      val ws = all.getOrElse(b, Array.empty[(Array[Byte], Int)]).map(_._1)
      timer.time("wkb_read", b, ws.length)(ws.map(Wkb.read))
    }
    val geoms = lGeoms ++ rGeoms
    val cells = timer.time("cover_geom", "", geoms.length)(geoms.map(Cell.coverGeom(_, Level)))
    timer.counts("cells_per_geom") = cells.map(_.length).sum / geoms.length.toDouble
    val pairs = envelopePairs().groupBy { case (i, _) => Gen.bucketOf(left(i)._2) }
    var hits = 0L
    Gen.Buckets.foreach { b =>
      val ps = pairs.getOrElse(b, IndexedSeq.empty)
      timer.time("intersects", b, ps.size) {
        ps.foreach { case (i, j) => if (Intersects.intersects(lGeoms(i), rGeoms(j))) hits += 1 }
      }
    }
    timer.counts("rows") = inputRows.toDouble
    if (hits != expPairs) Seq(s"replay found $hits pairs, expected $expPairs") else Nil
  }

  /** Candidates are the pairs sharing a cover cell, the rows the join's
    * condition is evaluated on; results are the pairs it returns.
    */
  def operatorMetrics(plan: Map[String, Double], firstJobDelayS: Double): Map[String, Double] = {
    val (lc, rc) = covers
    val rPerCell = rc.flatten.groupBy(identity).map { case (c, v) => c -> v.length.toLong }
    val candidates = lc.flatten.map(c => rPerCell.getOrElse(c, 0L)).sum
    val coverRows = plan.getOrElse("plan.generate_rows", 0.0)
    Map(
      "operators.join_candidates" -> candidates.toDouble,
      "operators.join_results" -> lastPairs.toDouble,
      "operators.refine_ratio" -> (if (candidates == 0L) 0.0 else lastPairs.toDouble / candidates),
      "operators.cover_rows_per_input" -> coverRows / inputRows)
  }
}
