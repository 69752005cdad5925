package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.functions.ST._

/** `geom_kernels`: one map-only projection over seeded web-shaped WKT,
  * written to a noop sink. Parse, validate, buffer, clip to a per-row box
  * and relate against a constant GEOMETRYCOLLECTION, then area and WKB of
  * the results.
  */
final class GeomKernels(seed: Long, dir: Path) extends Workload {
  import GeomKernels._

  val name = "geom_kernels"
  val why = "the kernel and expression layers do nearly all the work and there is no exchange: " +
    "it builds new geometry (buffer, intersection), at three vertex-count buckets, with hostile rows"

  /** Row mix per block of 100 rows; the order within the table is shuffled. */
  private val mix: Seq[(String, Int)] = Seq(
    "point" -> 20, "line" -> 15,
    "poly.s" -> 20, "holed.s" -> 8, "poly.m" -> 9, "holed.m" -> 8,
    "poly.l" -> 3, "holed.l" -> 3, "hostile" -> 14)
  private val blocks = 16
  val inputRows: Long = mix.map(_._2).sum.toLong * blocks

  private val path = dir.resolve("geom_kernels.parquet").toString
  private lazy val rows: IndexedSeq[In] = generate()

  private def generate(): IndexedSeq[In] = {
    val rnd = new SplittableRandom(seed)
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(mix.flatMap { case (k, n) => Seq.fill(n * blocks)(k) })
    val perKind = mix.toMap
    val seen = mutable.HashMap.empty[String, Int]
    kinds.zipWithIndex.map { case (kind, i) =>
      // the j-th row of a kind takes the j-th evenly spaced vertex count of
      // the kind's range, and every other one sits in the hot area, so the
      // seed moves coordinates and order but not the cost mix
      val j = seen.getOrElse(kind, 0)
      seen(kind) = j + 1
      val of = perKind(kind) * blocks
      // half the rows sit in a 0.5-degree "city" that the relate literal covers
      val hot = j % 2 == 0
      val cx = if (hot) 1.0 + 0.5 * rnd.nextDouble() else 4.0 * rnd.nextDouble()
      val cy = if (hot) 41.0 + 0.5 * rnd.nextDouble() else 40.0 + 4.0 * rnd.nextDouble()
      val r = 0.002 + 0.008 * rnd.nextDouble()
      val (wkt, vertices) = kind match {
        case "point" => (Gen.point(cx, cy), 1)
        case "line" => val n = 2 + j * 3 / of; (Gen.line(rnd, cx, cy, r, n), n)
        case "hostile" =>
          val k = Gen.HostileKinds(j % Gen.HostileKinds.size)
          (Gen.hostile(rnd, k, cx, cy, r), 0)
        case k =>
          val holed = k.startsWith("holed")
          val (lo, hi) = k.last match {
            case 's' => (if (holed) 14 else 3, 16)
            case 'm' => (17, 64)
            case _ => (65, 256)
          }
          val n = lo + j * (hi - lo + 1) / of
          (Gen.polygon(rnd, cx, cy, r, n, holed), n)
      }
      // the clip box cuts through the geometry, so concave and holed
      // polygons split into several parts
      val hw = r * (0.3 + 0.6 * rnd.nextDouble())
      val ox = cx + r * (rnd.nextDouble() - 0.5)
      val oy = cy + r * (rnd.nextDouble() - 0.5)
      In(i.toLong, wkt, kind == "hostile", hot, vertices, 0.1 * r, ox - hw, oy - hw, ox + hw, oy + hw)
    }.toIndexedSeq
  }

  def prepare(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType, false), StructField("wkt", StringType, false),
      StructField("d", DoubleType, false),
      StructField("bx0", DoubleType, false), StructField("by0", DoubleType, false),
      StructField("bx1", DoubleType, false), StructField("by1", DoubleType, false)))
    val data = generate().map(r => Row(r.id, r.wkt, r.d, r.bx0, r.by0, r.bx1, r.by1))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 16), schema)
      .write.mode("overwrite").parquet(path)
  }

  // ---------------------------------------------------------------- program

  private def output(spark: SparkSession): DataFrame = {
    val g = st_tryGeomFromWKT(col("wkt"))
    val valid = st_isValid(g)
    // web ingestion shape: rows that fail to parse or validate are dropped
    // to null before any geometry is built from them
    val clean = when(valid && !st_isEmpty(g), g)
    val box = st_makeEnvelope(col("bx0"), col("by0"), col("bx1"), col("by1"))
    val buf = st_buffer(clean, col("d"))
    val inter = st_intersection(clean, box)
    spark.read.parquet(path).select(
      col("id"), valid.as("valid"),
      st_asBinary(buf).as("buf_wkb"), st_area(buf).as("buf_area"),
      st_asBinary(inter).as("inter_wkb"), st_area(inter).as("inter_area"),
      st_relate(clean, st_geomFromWKT(lit(RelateLiteral))).as("rel"))
  }

  private val outCols: Seq[String] = Seq("id", "valid", "buf_wkb", "buf_area", "inter_wkb", "inter_area", "rel")
  private val digest: Column = sum(shiftright(xxhash64(outCols.map(col): _*), 20))

  // ----------------------------------------------------------------- checks

  private var expDigest = 0L
  private var expNullIds = 0L
  private var expNullRows = 0L
  private var last = Map.empty[String, Double]
  private var replayed: IndexedSeq[Out] = IndexedSeq.empty

  def expect(spark: SparkSession): Unit = {
    replayed = KernelReplay.parallel(rows)
    val schema = StructType(Seq(
      StructField("id", LongType, false), StructField("valid", BooleanType, true),
      StructField("buf_wkb", BinaryType, true), StructField("buf_area", DoubleType, true),
      StructField("inter_wkb", BinaryType, true), StructField("inter_area", DoubleType, true),
      StructField("rel", StringType, true)))
    val data = replayed.map(o => Row(o.id, o.valid.map(Boolean.box).orNull, o.bufWkb,
      o.bufArea.map(Double.box).orNull, o.interWkb, o.interArea.map(Double.box).orNull, o.rel))
    val df = spark.createDataFrame(data.asJava, schema)
    expDigest = df.agg(digest).collect()(0).getLong(0)
    // the rows whose outputs must be null are the generated hostile rows
    val hostile = rows.filter(_.hostile).map(r => Row(r.id))
    val h = spark.createDataFrame(hostile.asJava, StructType(Seq(StructField("id", LongType, false))))
      .agg(sum(shiftright(xxhash64(col("id")), 20))).collect()(0)
    expNullIds = if (h.isNullAt(0)) 0L else h.getLong(0)
    expNullRows = hostile.size.toLong
  }

  def rep(spark: SparkSession): Seq[String] = {
    val obs = Observation("geom_kernels")
    val out = output(spark)
    val allNull = col("buf_wkb").isNull && col("inter_wkb").isNull && col("rel").isNull
    val anyNull = col("buf_wkb").isNull || col("inter_wkb").isNull || col("rel").isNull ||
      col("buf_area").isNull || col("inter_area").isNull
    out.observe(obs,
      digest.as("digest"),
      sum(lit(1L)).as("rows"),
      sum(when(allNull, shiftright(xxhash64(col("id")), 20)).otherwise(0L)).as("null_ids"),
      sum(when(allNull, 1L).otherwise(0L)).as("null_rows"),
      sum(when(anyNull && !allNull, 1L).otherwise(0L)).as("partial_rows"),
      sum(when(col("valid").isNull, 1L).otherwise(0L)).as("parse_null"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    def l(k: String): Long = m.get(k).map(_.asInstanceOf[Long]).getOrElse(-1L)
    last = Map("functions.parse_null_rows" -> l("parse_null").toDouble,
      "functions.hostile_rows" -> expNullRows.toDouble)
    Seq(
      if (l("rows") != inputRows) Some(s"rows ${l("rows")} != $inputRows") else None,
      if (l("digest") != expDigest) Some("per-row output digest differs from the kernel replay") else None,
      if (l("null_rows") != expNullRows || l("null_ids") != expNullIds)
        Some(s"null-output rows (${l("null_rows")}) are not exactly the $expNullRows hostile rows") else None,
      if (l("partial_rows") != 0L) Some(s"${l("partial_rows")} rows have some outputs null") else None
    ).flatten
  }

  def observed: Map[String, Double] = last

  def properties: Map[String, Any] = {
    val n = rows.size.toDouble
    val wellFormed = rows.filter(r => !r.hostile)
    val cells = wellFormed.groupBy(r => graft.tiling.Cell.cellOf(
      (r.bx0 + r.bx1) / 2, (r.by0 + r.by1) / 2, 12)).map(_._2.size)
    Map(
      "rows" -> rows.size,
      "kind_shares" -> mix.map { case (k, c) => k -> c * blocks / n }.toMap,
      "vertex_bucket_shares" -> Gen.Buckets.map(b => b -> wellFormed.count(r => Gen.bucketOf(r.vertices) == b) / n).toMap,
      "hotspot_share" -> rows.count(_.hot) / n,
      "hostile_share" -> rows.count(_.hostile) / n,
      "hostile_kinds" -> Gen.HostileKinds,
      "distinct_tile_keys_level12" -> cells.size,
      "max_rows_per_cell_level12" -> cells.maxOption.getOrElse(0))
  }

  def replay(spark: SparkSession, timer: KernelTimer): Seq[String] = {
    val outs = KernelReplay.single(rows, timer)
    timer.counts("rows") = rows.size.toDouble
    // the single-thread replay must agree with the one the checks used
    if (outs.map(_.key) != replayed.map(_.key)) Seq("single-thread replay differs from the parallel replay")
    else Nil
  }

  def operatorMetrics(plan: Map[String, Double], firstJobDelayS: Double): Map[String, Double] = Map.empty
}

object GeomKernels {
  /** The constant relate argument: a polygon over part of the hot area,
    * a line across it and a point.
    */
  val RelateLiteral: String =
    "GEOMETRYCOLLECTION(POLYGON((1.1 41.1,1.4 41.1,1.4 41.3,1.25 41.2,1.1 41.3,1.1 41.1))," +
      "LINESTRING(0.9 41.4,1.6 41.05),POINT(1.25 41.25))"

  final case class In(id: Long, wkt: String, hostile: Boolean, hot: Boolean, vertices: Int,
                      d: Double, bx0: Double, by0: Double, bx1: Double, by1: Double)

  final case class Out(id: Long, valid: Option[Boolean], bufWkb: Array[Byte], bufArea: Option[Double],
                       interWkb: Array[Byte], interArea: Option[Double], rel: String) {
    def key: (Long, Option[Boolean], Seq[Byte], Option[Double], Seq[Byte], Option[Double], String) =
      (id, valid, Option(bufWkb).map(_.toSeq).orNull, bufArea,
        Option(interWkb).map(_.toSeq).orNull, interArea, rel)
  }
}

/** The geom_kernels pipeline replayed in the benchmark's JVM through the kernel's
  * public functions, in the order and with the WKB round trips the
  * Catalyst expressions use, so its outputs are bit-identical.
  */
object KernelReplay {
  import GeomKernels._

  /** Expected outputs computed on 4 threads (no timing). */
  def parallel(rows: IndexedSeq[In]): IndexedSeq[Out] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val chunks = rows.grouped(math.max(1, (rows.size + 15) / 16)).toSeq
      val fs = chunks.map(c => pool.submit(new java.util.concurrent.Callable[IndexedSeq[Out]] {
        def call(): IndexedSeq[Out] = run(c, None)
      }))
      fs.flatMap(_.get())
    } finally pool.shutdown()
  }.toIndexedSeq

  def single(rows: IndexedSeq[In], timer: KernelTimer): IndexedSeq[Out] = run(rows, Some(timer))

  private def run(rows: IndexedSeq[In], timer: Option[KernelTimer]): IndexedSeq[Out] = {
    val gc = Wkb.read(Wkb.write(Wkt.parse(RelateLiteral)))
    val byBucket = rows.zipWithIndex.groupBy { case (r, _) => Gen.bucketOf(math.max(r.vertices, 1)) }
    val outs = new Array[Out](rows.size)
    var invalid = 0
    Gen.Buckets.foreach { b =>
      val rs = byBucket.getOrElse(b, IndexedSeq.empty)
      val n = rs.size
      def timed[T](fn: String, calls: Int)(body: => T): T =
        timer match { case Some(t) => t.time(fn, b, calls)(body); case None => body }
      val parsed: Array[Geom] = timed("wkt_parse", n)(rs.map { case (r, _) =>
        try Wkt.parse(r.wkt) catch { case _: Wkt.ParseException => null }
      }.toArray)
      val wkbs = parsed.map(g => if (g == null) null else Wkb.write(g))
      val live = wkbs.indices.filter(wkbs(_) != null)
      val g = new Array[Geom](n)
      timed("wkb_read", live.size)(live.foreach(i => g(i) = Wkb.read(wkbs(i))))
      val valid = new Array[Boolean](n)
      timed("is_valid", live.size)(live.foreach(i => valid(i) = Validate.isValid(g(i))))
      val clean = live.filter(i => valid(i) && !g(i).isEmpty)
      val buf = new Array[Geom](n)
      timed("buffer", clean.size)(clean.foreach(i => buf(i) = BufferOp.buffer(g(i), rs(i)._1.d)))
      val boxes = rs.map { case (r, _) => Wkb.read(Wkb.write(Env(r.bx0, r.by0, r.bx1, r.by1).toGeom)) }
      val inter = new Array[Geom](n)
      timed("intersection", clean.size)(clean.foreach(i => inter(i) = Overlay.intersection(g(i), boxes(i))))
      val rel = new Array[String](n)
      timed("relate", clean.size)(clean.foreach(i => rel(i) = Relate.relate(g(i), gc)))
      val isClean = new Array[Boolean](n)
      clean.foreach(i => isClean(i) = true)
      var i = 0
      while (i < n) {
        val (r, at) = rs(i)
        outs(at) =
          if (!isClean(i)) Out(r.id, if (g(i) == null) None else Some(valid(i)), null, None, null, None, null)
          else {
            val bw = Wkb.write(buf(i)); val iw = Wkb.write(inter(i))
            val bg = Wkb.read(bw); val ig = Wkb.read(iw)
            if (timer.isDefined) {
              if (!Validate.isValid(bg)) invalid += 1
              if (!Validate.isValid(ig)) invalid += 1
            }
            Out(r.id, Some(true), bw, Some(Measure.area(bg)), iw, Some(Measure.area(ig)), rel(i))
          }
        i += 1
      }
    }
    timer.foreach(_.counts("invalid_outputs") = invalid.toDouble)
    outs.toIndexedSeq
  }
}
