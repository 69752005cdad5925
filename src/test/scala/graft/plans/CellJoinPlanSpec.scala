package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SparkTestSession
import graft.functions.ST._
import graft.operators.SpatialJoins

/** Seeded property over integer-coordinate polygons and lines: every
  * path into the one cell-join plan — `cellJoin(intersects)`, the
  * CellJoinRule rewrite of a bare st_intersects join and
  * `cellDWithinJoin(radius = 0)` — returns the nested-loop join's pair
  * multiset, unsalted and salted, and shuffles each side exactly once
  * on its cell (and salt).
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
          val before = spark.experimental.extraOptimizations
          spark.experimental.extraOptimizations = before :+ new CellJoinRule(spark)
          val viaRule = try withConf(
              "spark.graft.celljoin.level" -> Level.toString,
              "spark.graft.celljoin.saltBuckets" -> salt.toString) {
              val df = bare
              (pairs(df), shuffleKeys(df))
            } finally spark.experimental.extraOptimizations = before

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
