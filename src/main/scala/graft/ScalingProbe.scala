package graft

import org.apache.spark.sql.functions._

import graft.functions.ST._
import graft.operators.{Pages, SpatialJoins}

/** Ad-hoc scaling probe: times the flagship job's components at a
  * given core count / page count so the serial fraction is visible.
  * The flagship input is a pre-written parquet table (written once,
  * reused across probes) — scan + join + agg, like the Iceberg story.
  * Usage: runMain graft.ScalingProbe <cores> <pages> [clustered|random]
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val nPages = args(1).toLong
    val layout = if (args.length > 2) args(2) else "clustered"
    val clustered = layout == "clustered"
    val spark = Bench.session(cores)

    val path = Pages.ensureBenchParquet(spark, nPages,
      s"/tmp/graft_bench/pages_${layout}_$nPages", clustered)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe-$cores] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    def scanOnly(): Long =
      spark.read.parquet(path).select(sum(col("lon") + col("lat"))).count()
    def scan3(): Long =
      spark.read.parquet(path)
        .select(sum(col("lon") + col("lat") + col("page_id"))).count()
    def joinJob(): Long = {
      val pages = spark.read.parquet(path).select(col("page_id"), col("lon"), col("lat"))
      val regions = Pages.regions(spark).withColumn("geom", st_geomFromWKT(col("wkt")))
      SpatialJoins.broadcastPipCounts(pages, col("lon"), col("lat"),
        regions, "geom", "region_id", pred = "contains").count()
    }
    def tileJob(): Long =
      spark.read.parquet(path)
        .withColumn("cell", st_cellOf(col("lon"), col("lat"), lit(12)))
        .groupBy(col("cell")).agg(count(lit(1)).as("n")).count()

    // warm-up
    time("warmup-join")(joinJob()); time("warmup-tile")(tileJob())
    for (i <- 1 to 3) {
      time(s"scan-$i")(scanOnly())
      time(s"scan3-$i")(scan3())
      time(s"join-$i")(joinJob())
      time(s"tile-$i")(tileJob())
    }
    spark.stop()
  }
}
