package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SparkTestSession
import graft.functions.ST._

/** The partitioned big-big dwithin join must produce the exact
  * multiset of pairs of a brute-force distance cross join — including
  * pairs at exactly the radius, pairs spanning many cells, and under
  * salting — with no duplicates from multi-cell covers.
  */
class CellDWithinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def left = (1 to 300).map { i =>
    (i.toLong, (i * 13 % 71).toDouble - 35.0, (i * 7 % 51).toDouble - 25.0)
  }.toDF("lid", "lx", "ly").withColumn("lpt", st_point($"lx", $"ly"))

  private def right = (1 to 200).map { j =>
    (j.toLong, (j * 17 % 71).toDouble - 35.0, (j * 11 % 51).toDouble - 25.0)
  }.toDF("rid", "rx", "ry").withColumn("rpt", st_point($"rx", $"ry"))

  private def bruteParis(radius: Double): Set[(Long, Long)] =
    left.crossJoin(right)
      .filter(($"lx" - $"rx") * ($"lx" - $"rx") + ($"ly" - $"ry") * ($"ly" - $"ry")
        <= radius * radius)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet

  test("cellDWithinJoin matches brute force, exact multiset, several levels") {
    val expected = bruteParis(3.0)
    assert(expected.nonEmpty)
    for (level <- Seq(4, 6, 8)) {
      val got = SpatialJoins.cellDWithinJoin(left, "lpt", right, "rpt",
        radius = 3.0, level = level)
        .select($"lid", $"rid").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"duplicates at level $level")
      assert(got.toSet === expected, s"wrong pairs at level $level")
    }
  }

  test("pairs at exactly the radius are included") {
    val l = Seq((1L, 0.0, 0.0)).toDF("lid", "lx", "ly")
      .withColumn("lpt", st_point($"lx", $"ly"))
    val r = Seq((10L, 2.0, 0.0), (11L, 2.000001, 0.0)).toDF("rid", "rx", "ry")
      .withColumn("rpt", st_point($"rx", $"ry"))
    val got = SpatialJoins.cellDWithinJoin(l, "lpt", r, "rpt", radius = 2.0, level = 6)
      .select($"rid").as[Long].collect().toSet
    assert(got === Set(10L))
  }

  test("lineal right geometry is never dropped by the dedup (r4 advisor case)") {
    // right = diagonal line x+y=10; left point (1,1) at distance 8/sqrt(2)
    // ~= 5.66 <= 6. The round-3 reference-point rule picked the cell of
    // the min corner of paddedEnv(left) ∩ env(right) = (0,0), which does
    // NOT intersect the line at fine levels — the pair was dropped from
    // every shared cell. The min-shared-cover-cell rule cannot drop it.
    val l = Seq((1L, 1.0, 1.0)).toDF("lid", "lx", "ly")
      .withColumn("lpt", st_point($"lx", $"ly"))
    val r = Seq((10L, "LINESTRING(0 10,10 0)")).toDF("rid", "wkt")
      .withColumn("rgeom", st_geomFromWKT($"wkt"))
    for (level <- Seq(5, 7, 9)) {
      val got = SpatialJoins.cellDWithinJoin(l, "lpt", r, "rgeom",
        radius = 6.0, level = level)
        .select($"rid").as[Long].collect()
      assert(got.toSeq === Seq(10L), s"pair dropped at level $level")
    }
  }

  test("mixed lineal/concave right geometries match brute force") {
    // lines and concave L-shaped polygons on the right, points left
    val shapes = (1 to 60).map { j =>
      val x = (j * 17 % 61).toDouble - 30.0
      val y = (j * 11 % 41).toDouble - 20.0
      val wkt =
        if (j % 2 == 0) s"LINESTRING($x $y,${x + 8} ${y + 8})" // diagonal
        else // concave L: env is 6x6 but the NE quadrant is empty
          s"POLYGON(($x $y,${x + 6} $y,${x + 6} ${y + 2},${x + 2} ${y + 2},${x + 2} ${y + 6},$x ${y + 6},$x $y))"
      (j.toLong, wkt)
    }.toDF("rid", "wkt").withColumn("rgeom", st_geomFromWKT($"wkt"))
    val expected = left.crossJoin(shapes)
      .filter(st_distance($"lpt", $"rgeom") <= 2.5)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    for (level <- Seq(5, 7)) {
      val got = SpatialJoins.cellDWithinJoin(left, "lpt", shapes, "rgeom",
        radius = 2.5, level = level)
        .select($"lid", $"rid").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"duplicates at level $level")
      assert(got.toSet === expected, s"wrong pairs at level $level")
    }
  }

  test("salting preserves the exact result") {
    val expected = bruteParis(3.0)
    val got = SpatialJoins.cellDWithinJoin(left, "lpt", right, "rpt",
      radius = 3.0, level = 6, saltBuckets = 4)
      .select($"lid", $"rid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size)
    assert(got.toSet === expected)
  }
}
