package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.functions.ST._

/** The Join(st_intersects) -> cell equi-join logical rewrite must be
  * result-identical to the nested-loop plan (including multiset
  * semantics — no Distinct involved) while eliminating the
  * BroadcastNestedLoopJoin.
  */
class CellJoinRuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def polys(seed: Int, n: Int, name: String) = {
    val rows = (0 until n).map { i =>
      val x = ((i * 37 + seed * 11) % 60).toDouble - 30
      val y = ((i * 53 + seed * 7) % 40).toDouble - 20
      val w = (i % 9 + 2).toDouble
      (i.toLong + seed * 1000, s"POLYGON(($x $y,${x + w} $y,${x + w} ${y + w},$x ${y + w},$x $y))")
    }
    rows.toDF(s"${name}_id", s"${name}_wkt")
      .withColumn(s"${name}_g", st_geomFromWKT(col(s"${name}_wkt")))
      .select(s"${name}_id", s"${name}_g")
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("rewrite is result-identical to the nested-loop join and removes BNLJ") {
    val a = polys(1, 60, "a")
    val b = polys(2, 60, "b")
    def joined = a.join(b, st_intersects(col("a_g"), col("b_g")))

    // baseline: rule off
    spark.conf.unset("spark.graft.celljoin.level")
    val expected = pairsOf(joined).sorted
    assert(expected.nonEmpty, "test data must produce matches")
    val baselinePlan = joined.queryExecution.executedPlan.toString()
    assert(baselinePlan.contains("BroadcastNestedLoopJoin") ||
      baselinePlan.contains("CartesianProduct"))

    // rule on
    val rule = new CellJoinRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      spark.conf.set("spark.graft.celljoin.level", "6")
      val got = pairsOf(joined)
      assert(got.sorted == expected, s"pair mismatch: got ${got.size} vs ${expected.size}")
      assert(got.distinct.size == got.size, "reference-point dedup must leave no duplicates")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rewrite did not remove the nested loop:\n$plan")
      assert(plan.contains("st_cellcover"), s"expected cell cover in plan:\n$plan")

      // multiset semantics: duplicate input rows stay duplicated
      val a2 = a.unionAll(a.limit(5))
      val gotDup = a2.join(b, st_intersects(col("a_g"), col("b_g"))).count()
      spark.conf.unset("spark.graft.celljoin.level")
      val expDup = a2.join(b, st_intersects(col("a_g"), col("b_g"))).count()
      assert(gotDup == expDup, s"multiset mismatch: $gotDup vs $expDup")
    } finally {
      spark.experimental.extraOptimizations = before
      spark.conf.unset("spark.graft.celljoin.level")
    }
  }

  test("contains/within joins rewrite with identical results and orientation") {
    val a = polys(1, 60, "a")
    val b = polys(3, 60, "b")
    def cJoin = a.join(b, st_contains(col("a_g"), col("b_g")))
    def wJoin = a.join(b, st_within(col("a_g"), col("b_g")))

    spark.conf.unset("spark.graft.celljoin.level")
    val expC = pairsOf(cJoin).sorted
    val expW = pairsOf(wJoin).sorted

    val rule = new CellJoinRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      spark.conf.set("spark.graft.celljoin.level", "6")
      assert(pairsOf(cJoin).sorted == expC, "st_contains rewrite changed results")
      assert(pairsOf(wJoin).sorted == expW, "st_within rewrite changed results")
      val plan = cJoin.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"contains join not rewritten:\n$plan")
    } finally {
      spark.experimental.extraOptimizations = before
      spark.conf.unset("spark.graft.celljoin.level")
    }
  }

  test("rewrite is result-identical for crossing lineal geometries (r4 dedup fix)") {
    // crossing diagonals: the intersection point is far from the min
    // corner of the envelope intersection, so the round-3 reference-
    // point dedup dropped these pairs (that corner's cell is in neither
    // geometry-refined cover). Min-shared-cover-cell dedup keeps them.
    val a = (0 until 50).map { i =>
      val x = (i * 13 % 50).toDouble - 25.0
      val y = (i * 7 % 40).toDouble - 20.0
      (i.toLong, s"LINESTRING($x ${y + 10},${x + 10} $y)")
    }.toDF("a_id", "a_wkt").withColumn("a_g", st_geomFromWKT($"a_wkt")).select("a_id", "a_g")
    val b = (0 until 50).map { j =>
      val x = (j * 17 % 50).toDouble - 25.0
      val y = (j * 11 % 40).toDouble - 20.0
      (j.toLong, s"LINESTRING($x $y,${x + 10} ${y + 10})")
    }.toDF("b_id", "b_wkt").withColumn("b_g", st_geomFromWKT($"b_wkt")).select("b_id", "b_g")
    def joined = a.join(b, st_intersects(col("a_g"), col("b_g")))

    spark.conf.unset("spark.graft.celljoin.level")
    val expected = pairsOf(joined).sorted
    assert(expected.nonEmpty, "test data must produce crossings")

    val rule = new CellJoinRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      for (level <- Seq("5", "7")) {
        spark.conf.set("spark.graft.celljoin.level", level)
        val got = pairsOf(joined)
        assert(got.distinct.size == got.size, s"duplicates at level $level")
        assert(got.sorted == expected,
          s"level $level: got ${got.size} pairs vs ${expected.size}")
      }
    } finally {
      spark.experimental.extraOptimizations = before
      spark.conf.unset("spark.graft.celljoin.level")
    }
  }

  test("auto level: big joins rewrite with a log4-derived level, small ones stay BNLJ") {
    val a = polys(1, 60, "a")
    val b = polys(2, 60, "b")
    def joined = a.join(b, st_intersects(col("a_g"), col("b_g")))
    spark.conf.unset("spark.graft.celljoin.level")
    val expected = pairsOf(joined).sorted

    val rule = new CellJoinRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      // default ("auto") + default minRows: these tiny local relations
      // stay on the nested-loop plan
      assert(joined.queryExecution.executedPlan.toString()
        .contains("BroadcastNestedLoopJoin"))
      // lower the threshold: auto now rewrites at a clamped level
      spark.conf.set("spark.graft.celljoin.minRows", "1")
      val got = pairsOf(joined).sorted
      assert(got == expected, "auto-level rewrite changed results")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("st_cellcover"),
        s"auto level did not rewrite:\n$plan")
    } finally {
      spark.experimental.extraOptimizations = before
      spark.conf.unset("spark.graft.celljoin.minRows")
    }
  }

  test("hot-cell salting: identical rows, hot cell spread over buckets") {
    // hot-cell corpus: every left geometry inside [0,6]x[0,6] — ONE
    // level-6 cell (5.6-degree tiles), the dense-urban-tile shape that
    // straggles an unsalted shuffle partition at scale
    val a = (0 until 120).map { i =>
      val x = (i % 11).toDouble * 0.5
      val y = (i / 11 % 11).toDouble * 0.5
      (i.toLong, s"POLYGON(($x $y,${x + 0.6} $y,${x + 0.6} ${y + 0.6},$x ${y + 0.6},$x $y))")
    }.toDF("a_id", "a_wkt").withColumn("a_g", st_geomFromWKT($"a_wkt")).select("a_id", "a_g")
    val b = (0 until 40).map { j =>
      val x = (j % 7).toDouble * 0.8
      val y = (j / 7).toDouble * 0.8
      (j.toLong, s"POLYGON(($x $y,${x + 1.0} $y,${x + 1.0} ${y + 1.0},$x ${y + 1.0},$x $y))")
    }.toDF("b_id", "b_wkt").withColumn("b_g", st_geomFromWKT($"b_wkt")).select("b_id", "b_g")
    def joined = a.join(b, st_intersects(col("a_g"), col("b_g")))

    spark.conf.unset("spark.graft.celljoin.level")
    val expected = pairsOf(joined).sorted
    assert(expected.size > 200, "hot-cell corpus must be join-dense")

    val rule = new CellJoinRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      spark.conf.set("spark.graft.celljoin.level", "6")
      spark.conf.set("spark.graft.celljoin.saltBuckets", "8")
      val got = pairsOf(joined)
      assert(got.distinct.size == got.size, "salting must not duplicate pairs")
      assert(got.sorted == expected,
        s"salted rewrite changed results: ${got.size} vs ${expected.size}")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"salted rewrite did not remove the nested loop:\n$plan")
      assert(plan.contains("__graft_salt"), s"expected salt key in plan:\n$plan")

      // the hot cell's left rows must spread across salt buckets: replay
      // the rule's salt expression over the left relation and count
      // distinct buckets hit
      val buckets = a.select(pmod(xxhash64(col("a_id"), col("a_g")), lit(8L)).as("s"))
        .distinct().count()
      assert(buckets >= 4, s"salt spread too narrow: $buckets of 8 buckets")

      // multiset semantics survive salting
      val a2 = a.unionAll(a.limit(7))
      val gotDup = a2.join(b, st_intersects(col("a_g"), col("b_g"))).count()
      spark.conf.unset("spark.graft.celljoin.level")
      spark.conf.unset("spark.graft.celljoin.saltBuckets")
      val expDup = a2.join(b, st_intersects(col("a_g"), col("b_g"))).count()
      assert(gotDup == expDup, s"salted multiset mismatch: $gotDup vs $expDup")
    } finally {
      spark.experimental.extraOptimizations = before
      spark.conf.unset("spark.graft.celljoin.level")
      spark.conf.unset("spark.graft.celljoin.saltBuckets")
    }
  }

  test("q63 and q75 rewrite in their own session, leaving the caller's unchanged") {
    // the two tables these queries read, keys only
    val dir = java.nio.file.Files.createTempDirectory("celljoin-q63").toString
    spark.range(25).select(col("id").as("n_nationkey")).write.parquet(s"$dir/nation.parquet")
    spark.range(1, 101).select(col("id").as("s_suppkey")).write.parquet(s"$dir/supplier.parquet")
    val rulesBefore = spark.experimental.extraOptimizations
    val levelBefore = spark.conf.getOption("spark.graft.celljoin.level")
    for (q <- Seq("q63_rule_cell_join", "q75_rule_contains_join")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      assert(df.collect().nonEmpty, s"$q returned no rows")
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("st_cellcover") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q was not rewritten to the cell join:\n$plan")
      assert(spark.experimental.extraOptimizations == rulesBefore, s"$q changed extraOptimizations")
      assert(spark.conf.getOption("spark.graft.celljoin.level") == levelBefore,
        s"$q changed spark.graft.celljoin.level")
    }
  }

  test("rule leaves non-spatial and non-inner joins untouched") {
    val rule = new CellJoinRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      spark.conf.set("spark.graft.celljoin.level", "6")
      val a = polys(1, 10, "a")
      val b = polys(2, 10, "b")
      // equi-join: unchanged
      val eq = a.join(b, col("a_id") === col("b_id") - 1000)
      assert(eq.count() == 10)
      // left outer with spatial condition: not rewritten (Inner only)
      val lo = a.join(b, st_intersects(col("a_g"), col("b_g")), "left_outer")
      assert(lo.queryExecution.executedPlan.toString().contains("BroadcastNestedLoopJoin"))
    } finally {
      spark.experimental.extraOptimizations = before
      spark.conf.unset("spark.graft.celljoin.level")
    }
  }
}
