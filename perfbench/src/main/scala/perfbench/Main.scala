package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.functions.ST

/** Benchmark main: one workload, one seed, one JVM on local[3].
  *
  * Untraced (`--trace 0`): set up three times (session, inputs, one
  * warm-up repetition), warm up, repeat the workload for `--seconds`, and
  * report end-to-end metrics with the median set-up time.
  *
  * Traced (`--trace 1`): set up once, alternate untraced and traced
  * repetitions for `--seconds`, replay the workload's rows through the
  * kernel on one thread, and report per-layer metrics.
  *
  * The last line of standard output is the JSON result.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path, work: Path)

  /** Task slots: one fewer than the 4 vCPUs the benchmark was tuned on,
    * so the JIT compiler, the collector and the driver do not take cores
    * from running tasks.
    */
  val Slots = 3
  val SetupRounds = 3
  val WarmupSeconds = 2.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = run(a)
    println(Json(result))
    System.out.flush()
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("out")), Paths.get(need("work")))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      // at least 16 input splits, over five per slot, so one slow split does
      // not leave the other slots idle
      .config("spark.sql.files.minPartitionNum", "16")
      // the join inputs stand for tables too big to broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE's partition-size thresholds scaled to the benchmark's data
      // (megabytes, not the gigabytes the defaults assume), so skew
      // splitting and coalescing act as they would at full scale
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
      // execution-memory pages of 4 MB, not 32 MB: at megabytes of data a
      // page is mostly empty, and the heap in use would count pages held at
      // the moment of a GC rather than the data in them
      .config("spark.buffer.pageSize", "4m")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    ST.registerAll(s)
    s
  }

  // ------------------------------------------------------------ process meters

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime

  /** Highest heap in use after a collection while `active` is set. */
  object Heap extends NotificationListener {
    @volatile var active = false
    @volatile var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    // Pauses of a concurrent cycle report the heap as they found it,
    // garbage included, so they do not count; nor do forced collections.
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (!info.getGcName.contains("Concurrent") && info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
      }
  }

  final case class Sample(wallS: Double, cpuS: Double, heapMb: Double, problems: Seq[String])

  /** One timed repetition, then a full GC outside the timing. Every
    * repetition thus starts from the same compacted heap that holds only
    * what the session keeps, so the old generation carries no garbage of
    * earlier repetitions. The heap reading is the highest heap in use
    * after a GC during the repetition, or after the closing full GC when
    * the repetition triggered none. The caller runs one full GC before
    * the first repetition.
    */
  private def measured(w: Workload, spark: SparkSession): Sample = {
    Heap.peak = 0L
    Heap.active = true
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val problems = attempt(w, spark)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9
    Heap.active = false
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Sample(wall, cpu, math.max(Heap.peak, live) / 1048576.0, problems)
  }

  private def attempt(w: Workload, spark: SparkSession): Seq[String] =
    try w.rep(spark) catch {
      case t: Throwable => Seq(s"threw ${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
    }

  /** Repeats while time is left, at least `min` times. */
  private def repeat(seconds: Double, min: Int)(one: Int => Sample): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < seconds) out += one(out.size)
    out.toList
  }

  // ---------------------------------------------------------------------- run

  def run(a: Args): Map[String, Any] = {
    val w = Workload(a.workload, a.seed, a.work.resolve(a.workload))
    Heap.active = false
    var spark: SparkSession = null
    val setups = mutable.ArrayBuffer.empty[Double]
    val warmProblems = mutable.ArrayBuffer.empty[String]
    val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
    // One set-up: session, inputs and a warm-up repetition; the first also
    // computes the expected answers, outside the set-up time.
    def setUp(): Unit = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.work)
      val t1 = System.nanoTime()
      w.prepare(spark)
      val t2 = System.nanoTime()
      if (setups.isEmpty) w.expect(spark)
      val t3 = System.nanoTime()
      warmProblems ++= attempt(w, spark)
      val t4 = System.nanoTime()
      setups += ((t2 - t0) + (t4 - t3)) / 1e9
      phases += Map("session_s" -> (t1 - t0) / 1e9, "prepare_s" -> (t2 - t1) / 1e9,
        "expect_s" -> (t3 - t2) / 1e9, "warmup_s" -> (t4 - t3) / 1e9)
    }
    for (_ <- 0 until (if (a.trace) 1 else SetupRounds)) setUp()
    // One full GC drops what the set-ups left in the old generation (the
    // stopped sessions). Warm-up repetitions are run like timed ones, each
    // closed by a full GC, while the JIT and the collector's sizing settle.
    System.gc()
    val warm0 = System.nanoTime()
    val warmups = mutable.ArrayBuffer.empty[Double]
    while ((System.nanoTime() - warm0) / 1e9 < WarmupSeconds) {
      val s = measured(w, spark)
      warmProblems ++= s.problems
      warmups += s.wallS
    }

    val failedReps = mutable.ArrayBuffer.empty[Seq[String]]
    val (metrics, extra, attempted) =
      if (!a.trace) {
        val untraced = repeat(a.seconds.toDouble, 3)(_ => measured(w, spark))
        failedReps ++= untraced.map(_.problems).filter(_.nonEmpty)
        val ok = untraced.filter(_.problems.isEmpty)
        val m = Map(
          "rows_per_s" -> (rowsPerS(w, ok), "rows/s"),
          "cpu_s_per_mrow" -> (Stats.median(ok.map(_.cpuS * 1e6 / w.inputRows)), "s/Mrow"),
          "peak_heap_mb" -> (Stats.median(ok.map(_.heapMb)), "MB"),
          "setup_s" -> (Stats.median(setups.toList), "s"),
          "ok_frac" -> (1.0 - failedReps.size.toDouble / untraced.size, "frac"))
        (m, Map[String, Any]("samples" -> samplesJson(untraced)), untraced.size)
      } else {
        val (m, untraced, traced, extra) = traceRun(a, w, spark)
        failedReps ++= (untraced ++ traced).map(_.problems).filter(_.nonEmpty)
        (m, extra ++ Map("untraced_samples" -> samplesJson(untraced), "traced_samples" -> samplesJson(traced)),
          untraced.size + traced.size)
      }
    val props = w.properties
    spark.stop()
    val base = Map[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "why" -> w.why, "seconds" -> a.seconds,
      "trace" -> a.trace, "slots" -> Slots,
      "setup_s_samples" -> setups.toList,
      "setup_phases" -> phases.toList,
      "warmup_s_samples" -> warmups.toList,
      "warmup_problems" -> warmProblems.toList)

    val replayProblems = extra.get("replay_problems").map(_.asInstanceOf[Seq[String]]).getOrElse(Nil)
    val correct = failedReps.isEmpty && warmProblems.isEmpty && replayProblems.isEmpty
    val file = base ++ extra ++ Map(
      "input_properties" -> props,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedReps.size,
      "failures" -> failedReps.toList,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Json.writeFile(a.out.resolve(s"result_${w.name}_trace${if (a.trace) 1 else 0}.json"), file)

    println(s"perfbench ${w.name} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"reps=$attempted failed=${failedReps.size} correct=$correct")
    (warmProblems ++ failedReps.flatten ++ replayProblems).distinct.foreach(i => println(s"  check failed: $i"))
    metrics.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"  $k%-44s $v%16.6f $u") }
    Map("correct" -> correct, "attempted" -> attempted, "failed" -> failedReps.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
  }

  private def rowsPerS(w: Workload, ok: Seq[Sample]): Double =
    if (ok.isEmpty) 0.0 else w.inputRows / Stats.median(ok.map(_.wallS))

  private def samplesJson(ss: Seq[Sample]): Seq[Map[String, Any]] =
    ss.map(s => Map("wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "heap_mb" -> s.heapMb, "problems" -> s.problems))

  // -------------------------------------------------------------------- trace

  /** Units of the per-layer metrics; every traced run reports all of them. */
  val LayerUnits: Seq[(String, String)] = {
    val perBucket = Seq("wkt_parse", "wkb_read", "is_valid", "buffer", "intersection", "relate", "intersects")
      .flatMap(f => Gen.Buckets.map(b => s"core.$f.us_per_call.$b" -> "us"))
    perBucket ++ Seq(
      "core.point_in_areal.ns_per_call" -> "ns",
      "core.rtree_point_search.ns_per_call" -> "ns",
      "core.kernel_us_per_row" -> "us",
      "core.invalid_outputs" -> "count",
      "tiling.cell_of.ns_per_call" -> "ns",
      "tiling.cover_geom.us_per_call" -> "us",
      "tiling.cells_per_geom" -> "count",
      "functions.overhead_us_per_row" -> "us",
      "functions.codegen_stages" -> "count",
      "functions.kernel_exprs_in_codegen_frac" -> "frac",
      "functions.parse_null_rows" -> "count",
      "functions.hostile_rows" -> "count",
      "operators.join_candidates" -> "count",
      "operators.join_results" -> "count",
      "operators.refine_ratio" -> "frac",
      "operators.cover_rows_per_input" -> "count",
      "operators.broadcast_build_s" -> "s",
      "plan.exchanges" -> "count",
      "plan.shuffle_write_mb" -> "MB",
      "plan.shuffle_read_mb" -> "MB",
      "plan.aqe_skew_splits" -> "count",
      "plan.aqe_coalesced_partitions" -> "count",
      "plan.broadcast_mb" -> "MB",
      "plan.spill_mb" -> "MB",
      "job.jobs" -> "count",
      "job.stages" -> "count",
      "job.tasks" -> "count",
      "job.executor_cpu_s" -> "s",
      "job.gc_s" -> "s",
      "job.driver_s" -> "s",
      "job.slot_idle_frac" -> "frac",
      "job.task_s_p50" -> "s",
      "job.task_s_p99" -> "s",
      "job.straggler_ratio" -> "ratio",
      "scan.read_mb" -> "MB",
      "scan.records" -> "count",
      "trace.overhead_frac" -> "frac")
  }

  /** Alternates untraced and traced repetitions, so drift (JIT, heap,
    * host) reaches both alike, then replays the kernel calls.
    */
  private def traceRun(a: Args, w: Workload, spark: SparkSession)
      : (Map[String, (Double, String)], Seq[Sample], Seq[Sample], Map[String, Any]) = {
    val tr = new Tracing(spark)
    val sc = spark.sparkContext
    val perRep = mutable.ArrayBuffer.empty[Map[String, Double]]
    val profiles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val untraced = mutable.ArrayBuffer.empty[Sample]
    val traced = repeat(a.seconds.toDouble, 2) { i =>
      untraced += measured(w, spark)
      tr.attach()
      val id = tr.tracer.newId()
      sc.setLocalProperty(JobTrace.RepKey, i.toString)
      val start = Clock.nowMs
      val s = measured(w, spark)
      // the span ends where the timing did, before measured's closing GC
      val end = start + s.wallS * 1e3
      sc.setLocalProperty(JobTrace.RepKey, null)
      tr.tracer.add(Span(id, "rep", 0, i, start, end))
      tr.barrier()
      tr.detach()
      val (jobM, jobP) = tr.jobs.repMetrics(i, start, end, Slots)
      val (planM, planP) = PlanStats.of(tr.plans.drain())
      tr.jobs.spans(tr.tracer, i, id)
      val firstJob = tr.jobs.jobs.filter(_.rep == i).map(_.start).minOption.getOrElse(end)
      perRep += jobM ++ planM ++ w.operatorMetrics(planM, (firstJob - start) / 1e3) ++ w.observed
      profiles += Map("rep" -> i, "wall_s" -> s.wallS, "job" -> jobP,
        "plan" -> (if (i == 0) planP else planP - "plans"))
      s
    }

    val replayId = tr.tracer.newId()
    val replayStart = Clock.nowMs
    val timer = new KernelTimer(tr.tracer, replayId)
    val replayProblems = w.replay(spark, timer)
    tr.tracer.add(Span(replayId, "replay", 0, -1, replayStart, Clock.nowMs))

    val untracedRowsPerS = rowsPerS(w, untraced.filter(_.problems.isEmpty).toList)
    val tracedRowsPerS = rowsPerS(w, traced.filter(_.problems.isEmpty))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    perRep.flatMap(_.keys).distinct.foreach(k => layer(k) = Stats.median(perRep.flatMap(_.get(k)).toList))
    Seq("wkt_parse", "wkb_read", "is_valid", "buffer", "intersection", "relate", "intersects").foreach { f =>
      Gen.Buckets.foreach(b => layer(s"core.$f.us_per_call.$b") = timer.perCall(s"$f.$b", 1e3))
    }
    layer("core.point_in_areal.ns_per_call") = timer.perCall("point_in_areal", 1.0)
    layer("core.rtree_point_search.ns_per_call") = timer.perCall("rtree_point_search", 1.0)
    layer("tiling.cell_of.ns_per_call") = timer.perCall("cell_of", 1.0)
    layer("tiling.cover_geom.us_per_call") = timer.perCall("cover_geom", 1e3)
    val replayRows = timer.counts.getOrElse("rows", 1.0)
    val kernelNs = timer.totalNs - timer.totalOf("cell_of") - timer.totalOf("cover_geom")
    layer("core.kernel_us_per_row") = kernelNs / 1e3 / replayRows
    layer("core.invalid_outputs") = timer.counts.getOrElse("invalid_outputs", 0.0)
    layer("tiling.cells_per_geom") = timer.counts.getOrElse("cells_per_geom", 0.0)
    layer("functions.overhead_us_per_row") =
      layer.getOrElse("kernel_stage.cpu_s", 0.0) * 1e6 / w.inputRows - layer("core.kernel_us_per_row")
    layer("trace.overhead_frac") =
      if (untracedRowsPerS == 0.0) 0.0 else 1.0 - tracedRowsPerS / untracedRowsPerS
    val metrics = LayerUnits.map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }.toMap

    val spans = tr.tracer.all
    Json.writeFile(a.out.resolve(s"spans_${w.name}.json"), Map(
      "workload" -> w.name, "seed" -> a.seed,
      "self_time_ms" -> tr.tracer.selfTimeMs,
      "spans" -> spans.map(_.toMap)))
    Json.writeFile(a.out.resolve(s"profile_${w.name}.json"), Map(
      "workload" -> w.name, "seed" -> a.seed, "repetitions" -> profiles.toList,
      "layer_metrics" -> layer))
    (metrics, untraced.toList, traced, Map("replay_problems" -> replayProblems,
      "untraced_rows_per_s" -> untracedRowsPerS, "traced_rows_per_s" -> tracedRowsPerS))
  }
}
