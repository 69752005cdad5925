package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `rep` is the
  * repetition the span belongs to (-1 for the kernel replay).
  */
final case class Span(id: Int, name: String, parent: Int, rep: Int, start: Double, end: Double) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "name" -> name, "parent" -> parent, "rep" -> rep, "start_ms" -> start, "end_ms" -> end)
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * time base as Spark's listener events.
    */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 1

  def newId(): Int = synchronized { val id = next; next += 1; id }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: each span's duration minus the part of
    * its interval that its children cover, summed by name.
    */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Union.length(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start) - covered
      }.sum
    }
  }
}

object Union {
  /** Length of the union of intervals. */
  def length(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Scheduler-layer recorder: jobs, stages and tasks from a SparkListener.
  * Jobs are tied to a repetition through the local property
  * [[JobTrace.RepKey]], set on the thread that runs each repetition.
  */
final class JobTrace extends SparkListener {
  import JobTrace._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val barrierJobs = mutable.HashMap.empty[Int, String]
  private val barriersSeen = mutable.HashSet.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val rep = Option(e.properties).flatMap(p => Option(p.getProperty(RepKey))).getOrElse("")
    if (rep.startsWith("barrier")) { barrierJobs(e.jobId) = rep; return }
    val r = if (rep.isEmpty) -1 else rep.toInt
    jobs += JobRec(e.jobId, r, e.time.toDouble)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    barrierJobs.get(e.jobId).foreach(barriersSeen += _)
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = StageRec(i.stageId, i.attemptNumber(),
      stageJob.getOrElse(i.stageId, -1), i.name,
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      i.numTasks, i.failureReason.isDefined)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m == null) tasks += TaskRec(e.stageId, ti.launchTime.toDouble, ti.finishTime.toDouble,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, failed = true)
    else tasks += TaskRec(e.stageId, ti.launchTime.toDouble, ti.finishTime.toDouble,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, failed = !ti.successful)
  }

  def sawBarrier(name: String): Boolean = synchronized(barriersSeen.contains(name))

  /** Scheduler and plan-independent metrics of one repetition. */
  def repMetrics(rep: Int, start: Double, end: Double, slots: Int): (Map[String, Double], Map[String, Any]) =
    synchronized {
      val js = jobs.filter(_.rep == rep).toList
      val jobIds = js.map(_.id).toSet
      val ss = stages.values.filter(s => jobIds.contains(s.job)).toList
      val stageIds = ss.map(_.id).toSet
      val ts = tasks.filter(t => stageIds.contains(t.stage)).toList
      val wall = end - start
      val durs = ts.map(t => (t.finish - t.launch) / 1e3)
      val longest = if (ss.isEmpty) None else Some(ss.maxBy(s => s.completed - s.submitted))
      val straggler = longest.map { s =>
        val d = ts.filter(_.stage == s.id).map(t => t.finish - t.launch)
        if (d.isEmpty) 1.0 else d.max / math.max(1.0, Stats.median(d))
      }.getOrElse(1.0)
      val covered = Union.length(ss.map(s => (math.max(s.submitted, start), math.min(s.completed, end))))
      val byCpu = ts.groupBy(_.stage).map { case (s, t) => s -> t.map(_.cpuNs).sum }
      val kernelStage = if (byCpu.isEmpty) -1 else byCpu.maxBy(_._2)._1
      val metrics = Map(
        "job.jobs" -> js.size.toDouble,
        "job.stages" -> ss.size.toDouble,
        "job.tasks" -> ts.size.toDouble,
        "job.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "job.gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "job.driver_s" -> math.max(0.0, wall - covered) / 1e3,
        "job.slot_idle_frac" -> (1.0 - ts.map(t => t.finish - t.launch).sum / (slots * math.max(wall, 1e-9))),
        "job.task_s_p50" -> Stats.median(durs),
        "job.task_s_p99" -> Stats.quantile(durs, 0.99),
        "job.straggler_ratio" -> straggler,
        "plan.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
        "plan.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0,
        "plan.spill_mb" -> ts.map(_.spillDisk).sum / 1048576.0,
        "scan.records" -> ts.map(_.inRecords).sum.toDouble,
        "kernel_stage.cpu_s" -> byCpu.getOrElse(kernelStage, 0L) / 1e9)
      val profile = Map(
        "jobs" -> js.map(j => Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end)),
        "stages" -> ss.map { s =>
          val t = ts.filter(_.stage == s.id)
          Map("id" -> s.id, "attempt" -> s.attempt, "job" -> s.job, "name" -> s.name,
            "submitted_ms" -> s.submitted, "completed_ms" -> s.completed, "tasks" -> s.numTasks,
            "failed" -> s.failed,
            "task_s" -> Map("min" -> t.map(x => (x.finish - x.launch) / 1e3).minOption.getOrElse(0.0),
              "p50" -> Stats.median(t.map(x => (x.finish - x.launch) / 1e3)),
              "max" -> t.map(x => (x.finish - x.launch) / 1e3).maxOption.getOrElse(0.0)),
            "executor_cpu_s" -> t.map(_.cpuNs).sum / 1e9,
            "shuffle_write_bytes" -> t.map(_.shuffleWrite).sum,
            "shuffle_read_bytes" -> t.map(_.shuffleRead).sum,
            "disk_spill_bytes" -> t.map(_.spillDisk).sum,
            "input_bytes" -> t.map(_.inBytes).sum,
            "input_records" -> t.map(_.inRecords).sum)
        },
        "failed_tasks" -> ts.count(_.failed))
      (metrics, profile)
    }

  /** Job, stage and task spans of one repetition, under `parent`. */
  def spans(tracer: Tracer, rep: Int, parent: Int): Unit = synchronized {
    jobs.filter(_.rep == rep).foreach { j =>
      val jid = tracer.newId()
      tracer.add(Span(jid, "job", parent, rep, j.start, j.end))
      stages.values.filter(_.job == j.id).foreach { s =>
        val sid = tracer.newId()
        tracer.add(Span(sid, "stage", jid, rep, s.submitted, s.completed))
        tasks.filter(_.stage == s.id).foreach { t =>
          tracer.add(Span(tracer.newId(), "task", sid, rep, t.launch, t.finish))
        }
      }
    }
  }
}

object JobTrace {
  val RepKey = "perfbench.rep"
  final case class JobRec(id: Int, rep: Int, start: Double) { var end: Double = start }
  final case class StageRec(id: Int, attempt: Int, job: Int, name: String,
                            submitted: Double, completed: Double, numTasks: Int, failed: Boolean)
  final case class TaskRec(stage: Int, launch: Double, finish: Double, cpuNs: Long, gcMs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spillDisk: Long,
                           inBytes: Long, inRecords: Long, failed: Boolean)
}

/** Receives every finished query execution, so the final adaptive plan
  * and its SQL metrics can be read after a repetition.
  */
final class PlanTrace extends QueryExecutionListener {
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): List[QueryExecution] = synchronized { val r = qes.toList; qes.clear(); r }
}

/** Reads the executed (final adaptive) physical plans of a repetition. */
object PlanStats {

  private def isGraft(e: AnyRef): Boolean = e.getClass.getName.startsWith("graft.")

  /** Visits every operator of the executed plan with whether it sits
    * inside a whole-stage-codegen subtree. Reused exchanges are not
    * visited twice.
    */
  def walk(p: SparkPlan, inCodegen: Boolean)(f: (SparkPlan, Boolean) => Unit): Unit = {
    f(p, inCodegen)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)(f)
      case q: QueryStageExec => walk(q.plan, false)(f)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => walk(w.child, true)(f)
      case i: InputAdapter => walk(i.child, false)(f)
      case _ => p.children.foreach(walk(_, inCodegen)(f))
    }
    p.subqueries.foreach(walk(_, false)(f))
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Plan-layer metrics and the profile of all query executions of one repetition. */
  def of(qes: Seq[QueryExecution]): (Map[String, Double], Map[String, Any]) = {
    var exchanges = 0; var skewSplits = 0L; var coalesced = 0L; var broadcastBytes = 0L
    var scanBytes = 0L
    val codegenIds = mutable.HashSet.empty[Int]
    val exprs = mutable.LinkedHashMap.empty[String, Array[Int]] // name -> (in codegen, outside)
    val nodeRows = mutable.LinkedHashMap.empty[String, Long]
    qes.foreach { qe =>
      walk(qe.executedPlan, false) { (p, inCg) =>
        p match {
          case _: ShuffleExchangeExec => exchanges += 1
          case b: BroadcastExchangeExec => exchanges += 1; broadcastBytes += metric(b, "dataSize")
          case w: WholeStageCodegenExec => codegenIds += w.codegenStageId
          case _ =>
        }
        scanBytes += metric(p, "filesSize")
        if (p.nodeName == "AQEShuffleRead") {
          skewSplits += metric(p, "numSkewedSplits")
          coalesced += metric(p, "numCoalescedPartitions")
        }
        if (p.metrics.contains("numOutputRows"))
          nodeRows(p.nodeName) = nodeRows.getOrElse(p.nodeName, 0L) + metric(p, "numOutputRows")
        p.expressions.foreach(_.foreach { e =>
          if (isGraft(e)) {
            val c = exprs.getOrElseUpdate(e.prettyName, Array(0, 0))
            c(if (inCg) 0 else 1) += 1
          }
        })
      }
    }
    val inCg = exprs.values.map(_(0)).sum
    val total = exprs.values.map(_.sum).sum
    val metrics = Map(
      "plan.exchanges" -> exchanges.toDouble,
      "plan.aqe_skew_splits" -> skewSplits.toDouble,
      "plan.aqe_coalesced_partitions" -> coalesced.toDouble,
      "plan.broadcast_mb" -> broadcastBytes / 1048576.0,
      "functions.codegen_stages" -> codegenIds.size.toDouble,
      "functions.kernel_exprs_in_codegen_frac" -> (if (total == 0) 0.0 else inCg.toDouble / total),
      "plan.generate_rows" -> nodeRows.getOrElse("Generate", 0L).toDouble,
      "scan.read_mb" -> scanBytes / 1048576.0)
    val profile = Map(
      "executions" -> qes.size,
      "exchanges" -> exchanges,
      "aqe_skew_splits" -> skewSplits,
      "aqe_coalesced_partitions" -> coalesced,
      "broadcast_bytes" -> broadcastBytes,
      "scan_file_bytes" -> scanBytes,
      "codegen_stages" -> codegenIds.size,
      "graft_exprs" -> exprs.map { case (k, v) => k -> Map("in_codegen" -> v(0), "outside_codegen" -> v(1)) },
      "output_rows_by_operator" -> nodeRows,
      "plans" -> qes.map(_.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
        case p => p.treeString
      }))
    (metrics, profile)
  }
}

/** Attaches the listeners around each traced repetition and provides the
  * barrier that makes every event of a finished repetition visible.
  */
final class Tracing(spark: SparkSession) {
  val tracer = new Tracer
  val jobs = new JobTrace
  val plans = new PlanTrace
  private var barrierN = 0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Runs a one-task job and waits until the listener has seen its end.
    * Listener events of one queue arrive in order, so every job and query
    * execution event posted before it has been delivered by then.
    */
  def barrier(): Unit = {
    val sc = spark.sparkContext
    barrierN += 1
    val name = s"barrier$barrierN"
    sc.setLocalProperty(JobTrace.RepKey, name)
    sc.parallelize(Seq(1), 1).collect()
    sc.setLocalProperty(JobTrace.RepKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!jobs.sawBarrier(name) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }
}
