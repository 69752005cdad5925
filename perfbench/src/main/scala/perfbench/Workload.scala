package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. Inputs come from the seed alone; the program
  * sees only the generated rows, read back from the files `prepare`
  * writes.
  */
trait Workload {
  def name: String
  /** Why the workload is in the benchmark: the layers it loads. */
  def why: String
  /** Input rows of one repetition, the base of rows_per_s. */
  def inputRows: Long

  /** Generates the seeded inputs and writes them. Part of set-up. */
  def prepare(spark: SparkSession): Unit

  /** Computes the expected answers without the measured code path. Runs
    * once per run, after the first `prepare`, outside the set-up time.
    */
  def expect(spark: SparkSession): Unit

  /** Runs one repetition; returns the failed output checks (none when
    * the outputs are correct).
    */
  def rep(spark: SparkSession): Seq[String]

  /** Measured properties of the generated input. */
  def properties: Map[String, Any]

  /** Single-thread replay of the workload's own rows through the kernel's
    * public functions, timed per call; returns core and tiling metrics and
    * any disagreement between the replay and the expected answers.
    */
  def replay(spark: SparkSession, timer: KernelTimer): Seq[String]

  /** Operator-layer metrics of a traced repetition, given its plan
    * metrics and the seconds from its start to its first Spark job.
    */
  def operatorMetrics(plan: Map[String, Double], firstJobDelayS: Double): Map[String, Double]

  /** Layer metrics observed by the workload's own output check in the
    * most recent repetition (e.g. rows parsed to null).
    */
  def observed: Map[String, Double]
}

object Workload {
  def apply(name: String, seed: Long, dir: Path): Workload = name match {
    case "pip_tile" => new PipTile(seed, dir)
    case "geom_kernels" => new GeomKernels(seed, dir)
    case "polygon_join" => new PolygonJoin(seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Times batches of kernel calls, one span per (function, bucket) batch.
  * Batches keep the clock read out of the per-call cost, which matters for
  * calls of ~0.1 µs.
  */
final class KernelTimer(tracer: Tracer, parent: Int) {
  private val ns = mutable.LinkedHashMap.empty[String, Long]
  private val calls = mutable.LinkedHashMap.empty[String, Long]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def time[T](fn: String, bucket: String, n: Int)(body: => T): T = {
    val key = if (bucket.isEmpty) fn else s"$fn.$bucket"
    val s = Clock.nowMs
    val t0 = System.nanoTime()
    val r = body
    val dt = System.nanoTime() - t0
    tracer.add(Span(tracer.newId(), s"replay.$key", parent, -1, s, Clock.nowMs))
    ns(key) = ns.getOrElse(key, 0L) + dt
    calls(key) = calls.getOrElse(key, 0L) + n
    r
  }

  def totalNs: Long = ns.values.sum

  def totalOf(key: String): Long = ns.getOrElse(key, 0L)

  /** Mean time per call of `key` in the given unit (1e3 for µs, 1 for ns). */
  def perCall(key: String, unitNs: Double): Double =
    if (calls.getOrElse(key, 0L) == 0L) 0.0 else ns(key) / unitNs / calls(key)
}
