package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, ArrayIntersect, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Env, Wkt}
import graft.functions.{GeomBinaryOp, SparkTestSession, StCellCoverEnv}
import graft.functions.ST._
import graft.operators.SpatialJoins

/** Seeded property over integer-coordinate polygons and lines: every
  * path into the one cell-join plan — `cellJoin(intersects)`, the
  * CellJoinRule rewrite of a bare st_intersects join and
  * `cellDWithinJoin(radius = 0)` — returns the nested-loop join's pair
  * multiset, unsalted and salted, and shuffles each side exactly once
  * on its cell (and salt). A grid fixture of touching boxes, points,
  * axis-parallel lines and empties checks the envelope prefilter on
  * every path and predicate, and where the executed join condition
  * evaluates it.
  */
class CellJoinPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Level = 6

  /** Rectangles, triangles, concave L-shapes and 2-3 vertex lines with
    * integer vertices, so boundaries touch exactly and often.
    */
  private def shapes(seed: Long, n: Int, name: String): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def pt(x0: Int, y0: Int, span: Int) = (x0 + rnd.nextInt(span + 1), y0 + rnd.nextInt(span + 1))
    def ring(ps: Seq[(Int, Int)]) = (ps :+ ps.head).map { case (x, y) => s"$x $y" }.mkString("((", ",", "))")
    val rows = (0 until n).map { i =>
      val x = rnd.nextInt(48) - 24
      val y = rnd.nextInt(40) - 20
      val w = 1 + rnd.nextInt(6)
      val h = 1 + rnd.nextInt(6)
      val wkt = i % 4 match {
        case 0 => "POLYGON" + ring(Seq((x, y), (x + w, y), (x + w, y + h), (x, y + h)))
        case 1 =>
          val (a, b, c) = (pt(x, y, 6), pt(x, y, 6), pt(x, y, 6))
          if ((b._1 - a._1) * (c._2 - a._2) == (c._1 - a._1) * (b._2 - a._2))
            "POLYGON" + ring(Seq((x, y), (x + w, y), (x, y + h)))
          else "POLYGON" + ring(Seq(a, b, c))
        case 2 =>
          val (u, v) = (w + 2, h + 2)
          "POLYGON" + ring(Seq((x, y), (x + u, y), (x + u, y + 1), (x + 1, y + 1), (x + 1, y + v), (x, y + v)))
        case _ =>
          val ps = Seq.fill(2 + rnd.nextInt(2))(pt(x, y, 8)).distinct
          val line = if (ps.size < 2) Seq((x, y), (x + w, y + h)) else ps
          line.map { case (px, py) => s"$px $py" }.mkString("LINESTRING(", ",", ")")
      }
      (i.toLong, wkt)
    }
    val base = rows.toDF(s"${name}_id", "wkt")
      .select(col(s"${name}_id"), st_geomFromWKT(col("wkt")).as(s"${name}_g"))
    // duplicated input rows: the answer is a multiset, not a set
    base.unionAll(base.filter(col(s"${name}_id") % 5 === 0))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("a_id", "b_id").as[(Long, Long)].collect().toSeq.sorted

  /** The hash keys of every shuffle in the executed plan, by name. */
  private def shuffleKeys(df: DataFrame): Seq[Seq[String]] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeLike => s.outputPartitioning }
      .map {
        case h: HashPartitioning => h.expressions.map { case a: Attribute => a.name; case e => e.sql }
        case p => Seq(p.toString)
      }.sortBy(_.mkString(","))

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Boxes, triangles, points and horizontal / vertical lines on a
    * small integer grid, so envelopes often touch at an edge or a corner
    * only and zero-width boxes lie on other boxes' edges; every sixth
    * row is an empty geometry.
    */
  private def gridShapes(seed: Long, n: Int, name: String): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val empties = Seq("POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY", "GEOMETRYCOLLECTION EMPTY")
    val rows = (0 until n).map { i =>
      val x = rnd.nextInt(12) - 6
      val y = rnd.nextInt(12) - 6
      val w = 1 + rnd.nextInt(2)
      val h = 1 + rnd.nextInt(2)
      val wkt = i % 6 match {
        case 0 => s"POLYGON(($x $y,${x + w} $y,${x + w} ${y + h},$x ${y + h},$x $y))"
        // its box corner (x + w, y + h) lies outside the shape
        case 1 => s"POLYGON(($x $y,${x + w} $y,$x ${y + h},$x $y))"
        case 2 => s"POINT($x $y)"
        case 3 => s"LINESTRING($x $y,${x + w} $y)"
        case 4 => s"LINESTRING($x $y,$x ${y + h})"
        case _ => empties(i / 6 % empties.size)
      }
      (i.toLong, wkt)
    }
    val base = rows.toDF(s"${name}_id", s"${name}_wkt")
      .select(col(s"${name}_id"), col(s"${name}_wkt"), st_geomFromWKT(col(s"${name}_wkt")).as(s"${name}_g"))
    // checkpointed: over a local relation the optimizer would fold the
    // per-row cover and envelope into the scan, hiding them from the plan
    base.unionAll(base.filter(col(s"${name}_id") % 5 === 0)).localCheckpoint()
  }

  /** The executed join condition, split into its conjuncts in
    * evaluation order.
    */
  private def joinConjuncts(df: DataFrame): Seq[Expression] = {
    val conds = collect(df.queryExecution.executedPlan) { case j: BaseJoinExec => j.condition }.flatten
    assert(conds.size == 1, s"expected one join condition, got $conds")
    def split(e: Expression): Seq[Expression] = e match {
      case And(a, b) => split(a) ++ split(b)
      case other     => Seq(other)
    }
    split(conds.head)
  }

  /** The envelope test reads `__env_l` and `__env_r` and runs before
    * the dedup's array_intersect, which runs before the exact st_*
    * refine; each side's cover and envelope come from one expression.
    */
  private def assertPrefilterFirst(df: DataFrame, what: String): Unit = {
    val cs = joinConjuncts(df)
    def refs(e: Expression) = e.references.map(_.name).toSet
    val env = cs.indices.filter(i => refs(cs(i)).exists(_.startsWith("__env_")))
    val dedup = cs.indexWhere(_.exists(_.isInstanceOf[ArrayIntersect]))
    val refine = cs.indexWhere(_.exists(_.isInstanceOf[GeomBinaryOp]))
    val shown = cs.map(_.sql).mkString("\n  ")
    assert(env.nonEmpty && env.flatMap(i => refs(cs(i))).toSet == Set("__env_l", "__env_r"),
      s"$what: the join condition does not compare __env_l with __env_r:\n  $shown")
    assert(dedup >= 0 && refine >= 0, s"$what: no dedup or refine in the join condition:\n  $shown")
    assert(env.max < dedup && dedup < refine,
      s"$what: expected envelope test < array_intersect < refine:\n  $shown")
    val decodes = collect(df.queryExecution.executedPlan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case c: StCellCoverEnv => c })
    assert(decodes.size == 2,
      s"$what: expected one cover+envelope per side, got ${decodes.size}:\n${df.queryExecution.executedPlan}")
  }

  /** Runs `body` with the CellJoinRule on at `Level` and `salt` buckets. */
  private def withRule[T](salt: Int)(body: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ new CellJoinRule(spark)
    try withConf(
        "spark.graft.celljoin.level" -> Level.toString,
        "spark.graft.celljoin.saltBuckets" -> salt.toString)(body)
    finally spark.experimental.extraOptimizations = before
  }

  test("envelope prefilter: touching boxes, zero-width boxes and empties equal the nested-loop join") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = gridShapes(7L, 90, "a")
      val b = gridShapes(8L, 90, "b")
      val preds: Seq[(String, (Column, Column) => Column)] =
        Seq("intersects" -> st_intersects, "contains" -> st_contains, "within" -> st_within)
      val radii = Seq(0.0, 1.0)
      val expected = (preds.map { case (p, f) => p -> pairs(a.join(b, f(col("a_g"), col("b_g")))) } ++
        radii.map(r => s"dwithin $r" -> pairs(a.join(b, st_distance(col("a_g"), col("b_g")) <= r)))).toMap

      // the fixture reaches the cases the prefilter must keep
      val env = (a.select("a_id", "a_wkt").as[(Long, String)].collect() ++
        b.select("b_id", "b_wkt").as[(Long, String)].collect().map { case (i, w) => (i + 1000000L, w) })
        .map { case (i, w) => i -> Wkt.parse(w).envelope }.toMap
      def touching(l: Env, r: Env) = (l.xmax == r.xmin || r.xmax == l.xmin, l.ymax == r.ymin || r.ymax == l.ymin)
      val hits = expected("intersects").map { case (i, j) => (env(i), env(j + 1000000L)) }
      assert(hits.exists { case (l, r) => touching(l, r) == (true, false) }, "no edge-touching pair")
      assert(hits.exists { case (l, r) => touching(l, r) == (true, true) }, "no corner-touching pair")
      assert(hits.exists { case (l, r) => l.width == 0 && r.height == 0 }, "no pair of zero-width boxes")
      assert(expected("within").nonEmpty && expected("contains").nonEmpty)
      assert(expected("dwithin 1.0").size > expected("intersects").size)
      assert(env.values.exists(_.isEmpty), "no empty geometry")

      for (salt <- Seq(1, 4)) {
        val paths: Seq[(String, String, () => DataFrame)] =
          preds.flatMap { case (p, f) => Seq(
            (s"cellJoin($p)", p, () => SpatialJoins.cellJoin(a, "a_g", b, "b_g", p,
              Level, Seq("a_id"), Seq("b_id"), saltBuckets = salt)),
            (s"CellJoinRule($p)", p, () => a.join(b, f(col("a_g"), col("b_g"))))) } ++
          radii.map(r => (s"cellDWithinJoin($r)", s"dwithin $r", () => SpatialJoins.cellDWithinJoin(
            a, "a_g", b, "b_g", radius = r, level = Level, saltBuckets = salt)))
        for ((what, key, df) <- paths) {
          def check(): Unit = {
            val d = df()
            val got = pairs(d)
            assert(got == expected(key),
              s"salt $salt: $what returned ${got.size} pairs, nested loop ${expected(key).size}")
            assertPrefilterFirst(d, s"salt $salt: $what")
          }
          if (what.startsWith("CellJoinRule")) withRule(salt)(check()) else check()
        }
      }
    }
  }

  test("cellJoin, the rule rewrite and cellDWithinJoin(0) equal the nested-loop join") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (seed <- Seq(1L, 2L, 3L)) {
        val a = shapes(seed, 60, "a")
        val b = shapes(seed + 100, 60, "b")
        def bare = a.join(b, st_intersects(col("a_g"), col("b_g")))
        val expected = pairs(bare)
        assert(expected.size > 20, s"seed $seed: the fixture must be join-dense")
        assert(expected.distinct.size < expected.size, s"seed $seed: the fixture must repeat pairs")

        for (salt <- Seq(1, 4)) {
          val viaCellJoin = SpatialJoins.cellJoin(a, "a_g", b, "b_g", "intersects",
            Level, Seq("a_id"), Seq("b_id"), saltBuckets = salt)
          val viaDWithin = SpatialJoins.cellDWithinJoin(a, "a_g", b, "b_g",
            radius = 0.0, level = Level, saltBuckets = salt)
          val viaRule = withRule(salt) {
            val df = bare
            (pairs(df), shuffleKeys(df))
          }

          val keys =
            if (salt == 1) Seq(Seq("__cell_l"), Seq("__cell_r"))
            else Seq(Seq("__cell_l", "__graft_salt_l"), Seq("__cell_r", "__graft_salt_r"))
          for ((what, got, shuffles) <- Seq(
              ("cellJoin", pairs(viaCellJoin), shuffleKeys(viaCellJoin)),
              ("cellDWithinJoin(0)", pairs(viaDWithin), shuffleKeys(viaDWithin)),
              ("CellJoinRule", viaRule._1, viaRule._2))) {
            assert(got == expected,
              s"seed $seed salt $salt: $what returned ${got.size} pairs, nested loop ${expected.size}")
            assert(shuffles == keys, s"seed $seed salt $salt: $what shuffles on $shuffles")
          }
        }
      }
    }
  }
}
