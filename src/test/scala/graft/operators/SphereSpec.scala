package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SparkTestSession

/** Spherical measures (q173-q174): haversine against known distances
  * and a local recompute; the cover-join against brute force.
  */
class SphereSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def localHav(lon1: Double, lat1: Double,
                       lon2: Double, lat2: Double): Double = {
    val d = 0.017453292519943295
    val p1 = lat1 * d; val p2 = lat2 * d
    val sd = math.sin((p2 - p1) * 0.5)
    val sl = math.sin(((lon2 - lon1) * d) * 0.5)
    val a = sd * sd + ((math.cos(p1) * math.cos(p2)) * sl) * sl
    2.0 * Sphere.EarthRadiusM * math.asin(math.sqrt(a))
  }

  test("haversine matches known city distances and the scalar recompute") {
    // Paris (2.3522, 48.8566) <-> London (-0.1276, 51.5072): ~343.5 km
    val cases = Seq(
      (2.3522, 48.8566, -0.1276, 51.5072, 343.5e3, 2e3),
      (0.0, 0.0, 1.0, 0.0, 111.195e3, 0.2e3),  // 1 deg lon at equator
      (10.0, 89.0, -170.0, 89.0, 222.39e3, 0.5e3), // over the pole
      (5.0, 5.0, 5.0, 5.0, 0.0, 1e-9))
    val df = cases.map(c => (c._1, c._2, c._3, c._4)).toDF("a", "b", "c", "d")
      .withColumn("dist", Sphere.haversineM(col("a"), col("b"), col("c"), col("d")))
    df.collect().zip(cases).foreach { case (r, (lo1, la1, lo2, la2, want, tol)) =>
      val got = r.getDouble(4)
      assert(math.abs(got - want) <= tol, s"$got vs $want")
      assert(got === localHav(lo1, la1, lo2, la2)) // bit-exact vs scalar
    }
  }

  test("dwithinSphereJoin equals the brute-force haversine join") {
    val pts = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumn("cx", (col("c_custkey") * 7919L % 23040L).cast("double") / 64.0 - 180.0)
      .withColumn("cy", (col("c_custkey") * 104729L % 10880L).cast("double") / 64.0 - 85.0)
      .select(col("c_custkey"), col("cx"), col("cy"))
    val sites = Seq((1L, 2.3125, 48.86), (2L, -170.0, 68.0), (3L, 100.5, -67.9))
      .toDF("site", "slon", "slat")
    val r = 750000.0
    val got = Sphere.dwithinSphereJoin(sites, "slon", "slat",
      pts, "cx", "cy", radiusM = r, precision = 2)
      .select(col("site"), col("c_custkey"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = sites.crossJoin(pts)
      .withColumn("d", Sphere.haversineM(col("slon"), col("slat"), col("cx"), col("cy")))
      .where(col("d") <= r)
      .select(col("site"), col("c_custkey"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === want && want.nonEmpty)
  }

  /** Join pairs against the brute-force haversine pairs, on synthetic
    * sites and a lon/lat grid of points.
    */
  private def assertJoinIsBruteForce(sites: Seq[(Long, Double, Double)],
                                     points: Seq[(Long, Double, Double)],
                                     radiusM: Double, precision: Int): Unit = {
    val s = sites.toDF("site", "slon", "slat")
    val p = points.toDF("pid", "px", "py")
    val got = Sphere.dwithinSphereJoin(s, "slon", "slat", p, "px", "py", radiusM, precision)
      .select(col("site"), col("pid")).as[(Long, Long)].collect()
    val want = (for ((site, slon, slat) <- sites; (pid, px, py) <- points
                     if localHav(slon, slat, px, py) <= radiusM) yield (site, pid)).toSet
    assert(want.nonEmpty, "the fixture must have true pairs")
    assert(got.length === got.toSet.size, "duplicate pairs")
    val missing = want -- got.toSet
    if (missing.nonEmpty)
      fail(s"${missing.size} of ${want.size} true pairs dropped, e.g. ${missing.take(3)}")
    assert(got.toSet === want)
  }

  test("dwithinSphereJoin keeps pairs across the pole") {
    // sites near 85N; true neighbours sit on the far side of the pole
    // (longitude 180 degrees away) and, for the 84N site, up to ~49
    // degrees of longitude away at 86.5N
    val sites = Seq((1L, 10.0, 85.0), (2L, -60.0, 84.0))
    val points = for (i <- 0 until 72; j <- 0 until 12)
      yield ((i * 100 + j).toLong, -180.0 + 5.0 * i + 2.5, 78.0 + j)
    assertJoinIsBruteForce(sites, points, radiusM = 1000000.0, precision = 2)
    assertJoinIsBruteForce(sites, points, radiusM = 500000.0, precision = 3)
  }

  test("dwithinSphereJoin keeps pairs across the antimeridian") {
    // site at lon 179.5, points at lon -179.5 (about 110 km away) and
    // around it; plus the mirror case west of the antimeridian
    val sites = Seq((1L, 179.5, 10.0), (2L, -179.8, -20.0))
    val points = for (i <- 0 until 40; j <- 0 until 9)
      yield ((i * 100 + j).toLong,
        if (i < 20) 178.0 + 0.1 * i else -180.0 + 0.1 * (i - 20),
        if (j < 5) 9.0 + 0.5 * j else -21.0 + 0.5 * (j - 5))
    assertJoinIsBruteForce(sites, points, radiusM = 300000.0, precision = 3)
  }
}
