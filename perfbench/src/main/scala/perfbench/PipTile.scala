package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.ST._
import graft.operators.{Pages, SpatialJoins}
import graft.tiling.Cell

/** `pip_tile`: the flagship job at 4-core scale. Broadcast point-in-polygon
  * counts per region plus level-12 tile counts over a pages table written
  * to parquet once per set-up.
  */
final class PipTile(seed: Long, dir: Path) extends Workload {
  val name = "pip_tile"
  val why = "scan, hash aggregation over millions of tile keys and the job layer do the work; " +
    "point-in-polygon is ~0.1 us per call, so kernel changes should leave it flat"

  val inputRows: Long = 800000L
  private val TileLevel = 12
  private val path = dir.resolve("pages.parquet").toString

  /** Pages in random order: about half jittered within half a degree of
    * a city hotspot, the rest uniform over the map. `rand` is seeded per
    * partition, so a fixed partition count makes the table a function of
    * the seed.
    */
  private def generated(spark: SparkSession): DataFrame = {
    val cityLon = array(Pages.cities.map(c => lit(c._1)): _*)
    val cityLat = array(Pages.cities.map(c => lit(c._2)): _*)
    spark.range(0, inputRows, 1, 8).select(
      col("id").as("page_id"),
      (rand(seed) < 0.5).as("hot"),
      (floor(rand(seed + 1) * Pages.cities.size).cast("int") + 1).as("city"),
      rand(seed + 2).as("u"), rand(seed + 3).as("v"))
      .select(col("page_id"), col("hot"),
        when(col("hot"), element_at(cityLon, col("city")) + (col("u") - 0.5))
          .otherwise(col("u") * 360.0 - 180.0).as("lon"),
        when(col("hot"), element_at(cityLat, col("city")) + (col("v") - 0.5))
          .otherwise(col("v") * 170.0 - 85.0).as("lat"))
  }

  def prepare(spark: SparkSession): Unit =
    generated(spark).select("page_id", "lon", "lat").write.mode("overwrite").parquet(path)

  private def regions(spark: SparkSession): DataFrame =
    Pages.regions(spark).withColumn("geom", st_geomFromWKT(col("wkt")))

  // ----------------------------------------------------------------- checks

  private var expCounts = Map.empty[Long, Long]
  private var hotShare = 0.0
  private var tileKeys = 0L
  private var maxPerTile = 0L

  /** The regions are axis-aligned boxes, so "contains" is a strict
    * comparison against the box bounds, read straight from the WKT. One
    * pass of plain arithmetic over the pages counts every region, and the
    * pages within half a degree of a city hotspot.
    */
  def expect(spark: SparkSession): Unit = {
    import spark.implicits._
    val boxes = Pages.regions(spark).select("region_id", "wkt").collect().map { r =>
      val nums = "-?[0-9.]+(?:E-?[0-9]+)?".r.findAllIn(r.getString(1)).map(_.toDouble).toArray
      val xs = nums.indices.filter(_ % 2 == 0).map(nums(_)); val ys = nums.indices.filter(_ % 2 == 1).map(nums(_))
      (r.getLong(0), Array(xs.min, ys.min, xs.max, ys.max))
    }
    val bounds = boxes.map(_._2)
    val cities = Pages.cities.toArray
    val counts = spark.read.parquet(path).select("lon", "lat").as[(Double, Double)].mapPartitions { it =>
      val c = new Array[Long](bounds.length + 1)
      it.foreach { case (x, y) =>
        var i = 0
        while (i < bounds.length) {
          val b = bounds(i)
          if (x > b(0) && y > b(1) && x < b(2) && y < b(3)) c(i) += 1
          i += 1
        }
        if (cities.exists { case (cx, cy) => math.abs(x - cx) <= 0.5 && math.abs(y - cy) <= 0.5 }) c(i) += 1
      }
      Iterator(c)
    }.collect().reduce((a, b) => a.zip(b).map { case (u, v) => u + v })
    expCounts = boxes.indices.map(i => boxes(i)._1 -> counts(i)).filter(_._2 > 0L).toMap
    hotShare = counts(bounds.length).toDouble / inputRows
  }

  def rep(spark: SparkSession): Seq[String] = {
    val pages = spark.read.parquet(path)
    val counts = SpatialJoins.broadcastPipCounts(pages, col("lon"), col("lat"),
      regions(spark), "geom", "region_id", pred = "contains").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tiles = pages.groupBy(st_cellOf(col("lon"), col("lat"), lit(TileLevel)).as("cell"))
      .agg(sum(lit(1L)).as("n"))
      .agg(sum(col("n")), sum(lit(1L)), max(col("n"))).collect()(0)
    tileKeys = tiles.getLong(1)
    maxPerTile = tiles.getLong(2)
    Seq(
      if (counts != expCounts) {
        val bad = (counts.keySet ++ expCounts.keySet).count(k => counts.get(k) != expCounts.get(k))
        Some(s"per-region counts differ from the box arithmetic in $bad regions")
      } else None,
      if (tiles.getLong(0) != inputRows) Some(s"tile counts sum to ${tiles.getLong(0)}, not $inputRows") else None
    ).flatten
  }

  def observed: Map[String, Double] = Map.empty

  def properties: Map[String, Any] = Map(
    "rows" -> inputRows,
    "vertex_bucket_shares" -> Map("s" -> 1.0, "m" -> 0.0, "l" -> 0.0),
    "hotspot_share" -> hotShare,
    "hostile_share" -> 0.0,
    "regions" -> expCounts.size,
    "distinct_tile_keys_level12" -> tileKeys,
    "max_rows_per_cell_level12" -> maxPerTile)

  /** Replays a sample of the pages through the R-tree search, the
    * point-in-areal test and the cell function, as the PIP aggregate and
    * st_cellOf call them.
    */
  def replay(spark: SparkSession, timer: KernelTimer): Seq[String] = {
    val sample = spark.read.parquet(path).select("lon", "lat").limit(200000).collect()
    val xs = sample.map(_.getDouble(0)); val ys = sample.map(_.getDouble(1))
    val n = xs.length
    val geoms = Pages.regions(spark).select("wkt").collect()
      .map(r => Wkb.read(Wkb.write(Wkt.parse(r.getString(0)))))
    val tree = RTree.bulkLoad(geoms.map(_.envelope))
    // calls this short are timed on a second pass, once the JIT has
    // compiled the loops
    var inside = 0L
    var acc = 0L
    for (pass <- 0 until 2) {
      def timed(fn: String, calls: Int)(body: => Unit): Unit =
        if (pass == 0) body else timer.time(fn, "", calls)(body)
      val hits = new PipTile.Hits
      timed("rtree_point_search", n) {
        var i = 0
        while (i < n) { hits.point = i; tree.pointSearch(xs(i), ys(i))(hits); i += 1 }
      }
      inside = 0L
      acc = 0L
      timed("point_in_areal", hits.n) {
        var k = 0
        while (k < hits.n) {
          if (Alg.pointInAreal(geoms(hits.geom(k)), xs(hits.pt(k)), ys(hits.pt(k))) == 1) inside += 1
          k += 1
        }
      }
      timed("cell_of", n) {
        var i = 0
        while (i < n) { acc ^= Cell.cellOf(xs(i), ys(i), TileLevel); i += 1 }
      }
    }
    timer.counts("rows") = n.toDouble
    if (inside == 0L || acc == 0L) Seq("replay found no point inside any region") else Nil
  }

  /** The repetition starts with broadcastPipCounts, so the wait until its
    * first job starts is the time spent collecting, decoding and
    * broadcasting the region side.
    */
  def operatorMetrics(plan: Map[String, Double], firstJobDelayS: Double): Map[String, Double] =
    Map("operators.broadcast_build_s" -> firstJobDelayS)
}

object PipTile {
  /** Reusable R-tree visitor recording (point, region) candidates in
    * primitive arrays, so the search is timed without boxing.
    */
  final class Hits extends (Int => Boolean) {
    var point = 0
    var n = 0
    var pt = new Array[Int](1 << 16)
    var geom = new Array[Int](1 << 16)
    override def apply(g: Int): Boolean = {
      if (n == pt.length) {
        pt = java.util.Arrays.copyOf(pt, n * 2); geom = java.util.Arrays.copyOf(geom, n * 2)
      }
      pt(n) = point; geom(n) = g; n += 1
      true
    }
  }
}
