package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.{GeomBinaryOp, StCellCoverEnv}

/** The one cell-partitioned spatial join plan. [[CellJoinRule]],
  * `SpatialJoins.cellJoin` and `SpatialJoins.cellDWithinJoin` all build
  * it here:
  *
  *   st_cellcover(cover, level) and the envelope of `cover` once per
  *     input row on each side, from one decode (the full cover array
  *     and the envelope ride along as `__cover_l/r` and `__env_l/r`),
  *     exploded to one row per cell,
  *   equi-join on the cell id (hash-partitioned shuffle),
  *   drop the pair unless the two envelopes overlap (closed: touching
  *     boxes overlap); every refine the plan serves implies this —
  *     intersects, contains and within imply intersecting envelopes,
  *     and the dwithin join's left cover is its radius-padded
  *     envelope,
  *   keep each pair only in its MIN SHARED COVER CELL (the least
  *     cell of both cover arrays) — duplicate elimination without a
  *     Distinct, so multiset semantics are exact; the min shared cover
  *     cell is by construction a cell both covers contain, so
  *     concave/lineal inputs cannot lose pairs,
  *   refine with the exact predicate (once per pair, in that cell).
  *
  * A pair must share a cover cell to be found: the refine may only
  * hold for pairs whose covers intersect (the dwithin join pads its
  * left cover by the radius for this).
  *
  * Hot-cell skew: with `saltBuckets` = s > 1 the left side's shuffle
  * key gains pmod(xxhash64(left row), s) and the right side is
  * replicated s ways, so a dense cell spreads over s partitions. A pair
  * meets in exactly one bucket (its left row's) and the dedup is
  * salt-independent, so the rows are identical to the unsalted plan.
  * AQE skew join still applies on top for residual imbalance.
  */
object CellJoinPlan {
  def apply(left: LogicalPlan, right: LogicalPlan,
            leftCover: Expression, rightCover: Expression, refine: Expression,
            level: Int, saltBuckets: Int, hint: JoinHint = JoinHint.NONE): LogicalPlan = {
    def explode(arr: Expression, out: Attribute, child: LogicalPlan): LogicalPlan =
      Generate(Explode(arr), unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(out), child = child)
    // each cover and envelope is computed ONCE per input row, below the
    // Generate, so the prefilter and the dedup read them without
    // decoding or re-covering per pair. The Generate explodes a field
    // of the (never null) struct rather than an attribute, so the
    // optimizer infers no filter that would re-evaluate the struct
    // below its Project; the fields are named above the Generate.
    def side(child: LogicalPlan, cover: Expression, salt: Seq[NamedExpression], tag: String) = {
      val ce = Alias(StCellCoverEnv(cover, Literal(level)), s"__cellenv_$tag")()
      val cell = AttributeReference(s"__cell_$tag", LongType, nullable = false)()
      val gen = explode(GetStructField(ce.toAttribute, 0), cell, Project(child.output ++ (ce +: salt), child))
      val cov = Alias(GetStructField(ce.toAttribute, 0), s"__cover_$tag")()
      val env = Alias(GetStructField(ce.toAttribute, 1), s"__env_$tag")()
      (Project(child.output ++ salt.map(_.toAttribute) ++ Seq(cov, env, cell), gen),
        cov.toAttribute, env.toAttribute, cell)
    }
    val saltL =
      if (saltBuckets <= 1) None
      else Some(Alias(Pmod(new XxHash64(left.output), Literal(saltBuckets.toLong)), "__graft_salt_l")())
    val (joinL, covL, envL, cellL) = side(left, leftCover, saltL.toSeq, "l")
    val (genR, covR, envR, cellR) = side(right, rightCover, Nil, "r")
    val (joinR, keys) = saltL match {
      case None => (genR, EqualTo(cellL, cellR))
      case Some(sl) =>
        val saltR = AttributeReference("__graft_salt_r", LongType, nullable = false)()
        val buckets = Literal.create((0L until saltBuckets.toLong).toArray,
          ArrayType(LongType, containsNull = false))
        (explode(buckets, saltR, genR), And(EqualTo(cellL, cellR), EqualTo(sl.toAttribute, saltR)))
    }
    // envelope overlap, then dedup, then the refine: the cheap box test
    // drops most same-cell pairs before the dedup builds a hash set for
    // them, and the exact geometry test runs once per pair, not once per
    // shared cell
    val boxes = Seq((0, 2), (1, 3)).map { case (lo, hi) => // (xmin, xmax), (ymin, ymax)
      And(LessThanOrEqual(GetStructField(envL, lo), GetStructField(envR, hi)),
        LessThanOrEqual(GetStructField(envR, lo), GetStructField(envL, hi)))
    }.reduce(And)
    val dedup = EqualTo(cellL, ArrayMin(ArrayIntersect(covL, covR)))
    val cond = And(And(And(keys, boxes), dedup), refine)
    Project(left.output ++ right.output, Join(joinL, joinR, Inner, Some(cond), hint))
  }
}

/** Logical rewrite: an inner join whose condition is a bare
  * `st_intersects(a.geom, b.geom)` / `st_contains` / `st_within` has
  * no equi-key, so Spark plans a BroadcastNestedLoopJoin / cartesian
  * product — quadratic at scale. This rule replaces it with
  * [[CellJoinPlan]], covering each side's geometry and refining with
  * the original expression, so the directional predicates keep their
  * orientation (the covers do not depend on which side contains which).
  *
  * `spark.graft.celljoin.level` selects the cell level:
  *   - an integer (e.g. 8): always rewrite at that level;
  *   - "auto" (the default): pick level = clamp(log4(est rows of the
  *     bigger side), 6, 12) — cells ~ rows, so expected occupancy per
  *     cell is O(1) at any scale — and skip the rewrite when the
  *     bigger side is estimated under `spark.graft.celljoin.minRows`
  *     (default 10000; a nested-loop join over a dimension-sized pair
  *     of inputs is cheaper than two explode-shuffles);
  *   - "-1"/"off": disable.
  * Cell covers at the chosen level must stay under the cover cap for
  * the data's geometry sizes — the same contract st_cellcover itself
  * enforces (it throws rather than silently coarsening).
  *
  * `spark.graft.celljoin.saltBuckets` (default 1 = off) is the plan's
  * hot-cell salt bucket count.
  */
class CellJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {
  private val PREDS = Set("st_intersects", "st_contains", "st_within")

  private def estRows(p: LogicalPlan): Long = {
    val s = p.stats
    s.rowCount.map(_.toLong)
      .getOrElse((s.sizeInBytes / 64).min(BigInt(Long.MaxValue)).toLong)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val confV = spark.conf.get("spark.graft.celljoin.level", "auto")
    val auto = confV == "auto"
    val explicitLevel =
      if (auto) -1
      else try confV.toInt catch { case _: NumberFormatException => -1 }
    if (!auto && explicitLevel < 0) return plan
    val minRows =
      try spark.conf.get("spark.graft.celljoin.minRows", "10000").toLong
      catch { case _: NumberFormatException => 10000L }
    val saltBuckets =
      try math.max(1, spark.conf.get("spark.graft.celljoin.saltBuckets", "1").toInt)
      catch { case _: NumberFormatException => 1 }

    def levelFor(left: LogicalPlan, right: LogicalPlan): Int =
      if (!auto) explicitLevel
      else {
        val rows = math.max(estRows(left), estRows(right))
        val lvl = math.ceil(math.log(math.max(rows, 1L).toDouble) / math.log(4.0)).toInt
        math.min(12, math.max(6, lvl))
      }
    def bigEnough(left: LogicalPlan, right: LogicalPlan): Boolean =
      !auto || math.max(estRows(left), estRows(right)) >= minRows

    plan.transformUp {
      case Join(left, right, Inner,
          Some(cond @ GeomBinaryOp(op, lg, rg)), hint)
          if PREDS(op) && bigEnough(left, right) &&
            lg.references.subsetOf(left.outputSet) &&
            rg.references.subsetOf(right.outputSet) &&
            lg.references.nonEmpty && rg.references.nonEmpty =>
        CellJoinPlan(left, right, lg, rg, cond, levelFor(left, right), saltBuckets, hint)
      case Join(left, right, Inner,
          Some(cond @ GeomBinaryOp(op, lg, rg)), hint)
          if PREDS(op) && bigEnough(left, right) &&
            lg.references.subsetOf(right.outputSet) &&
            rg.references.subsetOf(left.outputSet) &&
            lg.references.nonEmpty && rg.references.nonEmpty =>
        CellJoinPlan(left, right, rg, lg, cond, levelFor(left, right), saltBuckets, hint)
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftSparkExtensions` installs
  * the rewrite into a session at build time; tests can instead add
  * the rule to `spark.experimental.extraOptimizations`.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(s => new CellJoinRule(s))
}
