package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spherical (geography) measures over lon/lat columns — the
  * meter-denominated companion to the planar degree kernel: crawl-geo
  * questions are "pages within 500 km", not "within 4.5 degrees".
  *
  * The haversine is written as ONE FIXED expression tree — explicit
  * double constants (π/180 as its nearest double), `* 0.5` instead of
  * `/ 2`, explicit `sin·sin` instead of pow — and the DuckDB oracle
  * replays the identical tree node for node, so both engines execute
  * the same IEEE operation sequence (the q73 projection-oracle
  * discipline). Radius: IUGG mean Earth radius.
  */
object Sphere {

  val EarthRadiusM = 6371008.8
  private val DegToRad = 0.017453292519943295 // nearest double to pi/180

  /** Great-circle distance in meters between (lon1,lat1), (lon2,lat2)
    * in degrees.
    */
  def haversineM(lon1: Column, lat1: Column,
                 lon2: Column, lat2: Column): Column = {
    val p1 = lat1 * lit(DegToRad)
    val p2 = lat2 * lit(DegToRad)
    val sd = sin((p2 - p1) * lit(0.5))
    val sl = sin(((lon2 - lon1) * lit(DegToRad)) * lit(0.5))
    val a = sd * sd + ((cos(p1) * cos(p2)) * sl) * sl
    lit(2.0 * EarthRadiusM) * asin(sqrt(a))
  }

  /** The identical tree as a DuckDB SQL scalar over lon/lat SQL
    * fragments.
    */
  def haversineOracleExpr(lon1: String, lat1: String,
                          lon2: String, lat2: String): String = {
    val p1 = s"(($lat1) * $DegToRad)"
    val p2 = s"(($lat2) * $DegToRad)"
    val sd = s"sin((($p2) - ($p1)) * 0.5)"
    val sl = s"sin(((($lon2) - ($lon1)) * $DegToRad) * 0.5)"
    val a = s"(($sd) * ($sd) + (((cos($p1) * cos($p2)) * ($sl)) * ($sl)))"
    s"(${2.0 * EarthRadiusM} * asin(sqrt($a)))"
  }

  /** Within-`radiusM`-meters join of a small site table against a big
    * point table: the site side polyfills a CONSERVATIVE padded
    * lon/lat box to geohash cells (explode of the SMALL side), the
    * point side computes one cell expression, equi-join on the cell,
    * exact haversine refine. The refine is exact, so the prefilter
    * only needs to be a superset — which the brute-force oracle (q174)
    * proves end to end: a dropped pair would be a missing row.
    *
    * The box: latPad = r/100 000 ≥ the true r/111 195 degrees of arc;
    * lonPad = asin(sin latPad / cos lat), the widest longitude reach of
    * a spherical cap of that radius. A cap that reaches a pole spans
    * every longitude, and a box that crosses the antimeridian is split
    * into its two sides.
    */
  def dwithinSphereJoin(sites: DataFrame, sLon: String, sLat: String,
                        points: DataFrame, pLon: String, pLat: String,
                        radiusM: Double, precision: Int): DataFrame = {
    val latPad = radiusM / 100000.0
    val lat = col(sLat)
    val reachesPole = abs(lat) + latPad >= 90.0
    val lonPad = degrees(asin(least(lit(1.0),
      lit(math.sin(latPad * DegToRad)) / cos(lat * lit(DegToRad)))))
    val x0 = col(sLon) - lonPad
    val x1 = col(sLon) + lonPad
    def box(from: Column, to: Column): Column = SpaceCurve.geohashCoverBox(
      from, lat - lit(latPad), to, lat + lit(latPad), precision)
    val cover = when(reachesPole, box(lit(-180.0), lit(180.0)))
      .when(x0 < -180.0, array_distinct(concat(box(x0 + 360.0, lit(180.0)), box(lit(-180.0), x1))))
      .when(x1 > 180.0, array_distinct(concat(box(x0, lit(180.0)), box(lit(-180.0), x1 - 360.0))))
      .otherwise(box(x0, x1))
    val covered = sites.select(sites.columns.map(col) :+ explode(cover).as("__gh"): _*)
    val keyed = points.withColumn("__gh",
      SpaceCurve.geohash(col(pLon), col(pLat), precision))
    keyed.join(broadcast(covered), "__gh")
      .withColumn("dist_m",
        haversineM(col(sLon), col(sLat), col(pLon), col(pLat)))
      .where(col("dist_m") <= radiusM)
      .drop("__gh")
  }
}
