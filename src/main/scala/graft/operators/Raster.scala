package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ST._

/** Raster↔vector conversion over the dyadic equirectangular grid, plus
  * hexagonal binning — the grid half of the tiling surface.
  *
  * The equirect grid at level L splits [-180,180]×[-85,85] into 2^L ×
  * 2^L cells whose edges are exact doubles (360/2^L and 170/2^L are
  * dyadic), so every clipped-part area, coverage fraction and
  * dissolved boundary length below is an exact closed-form double —
  * which is what makes these operators oracle-checkable end to end.
  *
  * Scale shape: rasterize is embarrassingly parallel (explode + clip
  * per input row, no shuffle); vectorize is ONE hash aggregation whose
  * partials merge exactly (coverage union is shared-edge cancellation,
  * associative on disjoint tile sets — see core/Coverage.union); hex
  * binning is pure codegen'd column arithmetic (no UDF, no shuffle).
  */
/** The ONE definition of the dyadic equirect grid shared by every
  * producer/consumer (tileAssignEquirect, rasterize, vectorize): cell
  * (ix, iy) at level L spans x ∈ [X0 + ix·cw, X0 + (ix+1)·cw],
  * y ∈ [Y1 − (iy+1)·ch, Y1 − iy·ch] — iy counts DOWN from the top
  * edge. Changing the extent or orientation here changes all of them
  * together; hand-synced copies are how raster→vector round-trips
  * silently shift.
  */
object EquirectGrid {
  final val X0 = -180.0
  final val Y1 = 85.0
  final val XSpan = 360.0
  final val YSpan = 170.0
  def cw(level: Int): Double = XSpan / (1 << level)
  def ch(level: Int): Double = YSpan / (1 << level)
  def cellArea(level: Int): Double = cw(level) * ch(level)
}

object Raster {

  private def requireFresh(df: DataFrame, op: String, cols: String*): Unit = {
    val clash = cols.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op appends column(s) ${cols.mkString(", ")}; input already has ${clash.mkString(", ")} — rename them first (withColumn would silently overwrite)")
  }

  /** Vector → raster: per-cell coverage fraction (the `ST_AsRaster`
    * analogue for AREAL input; reference carto/ projections give the
    * grid, the clip kernel is Sutherland–Hodgman, core/Algos
    * clipToBox).
    *
    * Output: input columns + (ix, iy, coverage) with 0 < coverage ≤ 1,
    * where coverage = area(geom ∩ cell) / area(cell). Fully covered
    * interior cells report exactly 1.0 (dyadic edges ⇒ exact doubles).
    *
    * Polygonal geometries only: coverage is an AREA fraction, so
    * points and linestrings (zero area in every cell) produce no rows
    * — burn-touched-cells semantics for lower dimensions is
    * `tileAssignEquirect` + `st_isempty(tile_part)` filtering, not
    * this operator.
    */
  def rasterizeEquirect(df: DataFrame, geomCol: String, level: Int): DataFrame = {
    requireFresh(df, "rasterizeEquirect", "ix", "iy", "coverage", "tile_part")
    SpatialJoins.tileAssignEquirect(df, geomCol, level)
      .withColumn("coverage",
        st_area(col("tile_part")) / lit(EquirectGrid.cellArea(level)))
      .filter(col("coverage") > 0)
      .drop("tile_part")
  }

  /** Raster → vector: dissolve each key's set of grid cells into
    * polygons by EXACT shared-edge cancellation (core/Coverage.union —
    * no overlay arrangement, no snap ladder). Interior cell-cell edges
    * cancel; surviving edges walk into shells and holes.
    *
    * Input rows must be distinct on (keyCols, ixCol, iyCol): a
    * duplicated cell is a duplicated directed edge, which the coverage
    * union rejects as an invalid coverage (by design — a raster table
    * is keyed by cell, and silently deduping would hide an upstream
    * bug behind a shuffle).
    *
    * One hash aggregation; partials merge exactly under any
    * partitioning because cancellation is associative and partial
    * results keep surviving vertex chains bit-exact.
    */
  def vectorizeEquirect(df: DataFrame, ixCol: String, iyCol: String,
                        level: Int, keyCols: Seq[String]): DataFrame = {
    requireFresh(df, "vectorizeEquirect", "__cell_poly", "geom")
    val cw = EquirectGrid.cw(level)
    val ch = EquirectGrid.ch(level)
    val x0 = lit(EquirectGrid.X0) + col(ixCol) * cw
    val y1 = lit(EquirectGrid.Y1) - col(iyCol) * ch
    df.withColumn("__cell_poly", st_makeEnvelope(x0, y1 - ch, x0 + cw, y1))
      .groupBy(keyCols.map(col): _*)
      .agg(expr("st_coverageunion_agg(__cell_poly)").as("geom"))
  }

  /** One pyramid level up: re-key each cell to its parent
    * (ix >> 1, iy >> 1) and aggregate — the canonical tile-pyramid
    * rollup, ONE narrow hash aggregation per level (partials combine
    * map-side, no wide shuffle of unaggregated cells). Aggregating
    * clipped AREAS is bit-exact in any order/partitioning (dyadic grid
    * ⇒ exact doubles); coverage FRACTIONS are ratios and carry one
    * rounding, so roll areas up and divide at the end.
    */
  def pyramidUp(df: DataFrame, ixCol: String, iyCol: String,
                keyCols: Seq[String], aggs: Column*): DataFrame = {
    require(aggs.nonEmpty, "pyramidUp needs at least one aggregate")
    df.groupBy((keyCols.map(col) :+
        shiftright(col(ixCol), 1).as(ixCol) :+
        shiftright(col(iyCol), 1).as(iyCol)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Hexagonal binning (pointy-top axial coordinates with cube
    * rounding — the standard public H3-style construction). Returns
    * the (q, r) axial indices of the hexagon of circumradius `size`
    * containing each point.
    *
    * Pure column arithmetic (floor/abs/conditionals only) — fully
    * whole-stage-codegen'd, and replayable verbatim in any IEEE-754
    * SQL engine, which is how the oracle checks it.
    */
  def hexBin(x: Column, y: Column, size: Double): (Column, Column) = {
    val qf = (lit(Sqrt3Third) * x - lit(1.0 / 3.0) * y) / size
    val rf = (lit(2.0 / 3.0) * y) / size
    // cube round: xf+yf+zf == 0 must survive rounding
    val xf = qf
    val zf = rf
    val yf = -xf - zf
    val rx = floor(xf + 0.5)
    val ry = floor(yf + 0.5)
    val rz = floor(zf + 0.5)
    val dx = abs(rx - xf)
    val dy = abs(ry - yf)
    val dz = abs(rz - zf)
    val q = when(dx > dy && dx > dz, -ry - rz).otherwise(rx)
    val r = when(!(dx > dy && dx > dz) && !(dy > dz), -rx - ry).otherwise(rz)
    (q.cast("long"), r.cast("long"))
  }

  /** Center of an axial hex bin (inverse of hexBin's lattice map). */
  def hexCenter(q: Column, r: Column, size: Double): (Column, Column) = {
    val x = lit(size) * (lit(Sqrt3) * q + lit(Sqrt3Half) * r)
    val y = lit(size) * (lit(1.5) * r)
    (x, y)
  }

  /** The hexagon polygon of an axial bin (pointy-top, circumradius
    * `size`) as column arithmetic feeding st_makePolygon. This IS the
    * Voronoi cell of hexBin's lattice, so bin and polygon agree up to
    * boundaries.
    */
  def hexPolygon(q: Column, r: Column, size: Double): Column = {
    val (cx, cy) = hexCenter(q, r, size)
    val hw = lit(size * Sqrt3Half) // half-width
    val hs = lit(size / 2)
    def pt(x: Column, y: Column) = array(x, y)
    st_makePolygon(array(array(
      pt(cx, cy + size), pt(cx + hw, cy + hs), pt(cx + hw, cy - hs),
      pt(cx, cy - size), pt(cx - hw, cy - hs), pt(cx - hw, cy + hs),
      pt(cx, cy + size))))
  }

  /** Hexes intersecting each geometry — the H3 `polygonToCells`
    * (polyfill) analogue. Candidate window: axial ranges from the
    * envelope expanded by the circumradius (centers of intersecting
    * hexes cannot lie further out); exact `st_intersects` refine
    * against the hex polygon. Because hexBin is the nearest-center
    * (Voronoi) assignment and intersects includes boundaries, the
    * cover is a SUPERSET of the bins of every point of the geometry —
    * the completeness invariant hexJoin relies on.
    *
    * Output: input columns + (hq, hr). Shuffle-free (explode + refine
    * per input row); candidates per row are O(area / hex area).
    */
  def hexCover(df: DataFrame, geomCol: String, size: Double): DataFrame = {
    requireFresh(df, "hexCover", "hq", "hr", "__henv")
    val ex0 = element_at(col("__henv"), 1); val ey0 = element_at(col("__henv"), 2)
    val ex1 = element_at(col("__henv"), 3); val ey1 = element_at(col("__henv"), 4)
    // center y = 1.5*size*r; center x = size*sqrt3*(q + r/2)
    val rlo = ceil((ey0 - size) / (1.5 * size)).cast("long")
    val rhi = floor((ey1 + size) / (1.5 * size)).cast("long")
    val qlo = ceil((ex0 - size) / (size * Sqrt3) - col("hr").cast("double") / 2).cast("long")
    val qhi = floor((ex1 + size) / (size * Sqrt3) - col("hr").cast("double") / 2).cast("long")
    df.withColumn("__henv", expr(s"st_envbounds($geomCol)"))
      .withColumn("hr", explode(sequence(rlo, greatest(rlo, rhi))))
      .withColumn("hq", explode(sequence(qlo, greatest(qlo, qhi))))
      .filter(st_intersects(col(geomCol), hexPolygon(col("hq"), col("hr"), size)))
      .drop("__henv")
  }

  /** Hex-indexed spatial join: polygon side hex-covers, point side
    * hex-bins, equi-join on the hex key, exact refine. Both sides
    * shuffle by (hq, hr) ONLY — the hexagonal analogue of the Z-order
    * cell join, with one structural advantage: a point has exactly ONE
    * bin, so a qualifying (polygon, point) pair surfaces through
    * exactly one hex and the join needs NO dedup pass.
    */
  def hexJoin(polys: DataFrame, polyGeomCol: String,
              pts: DataFrame, xCol: String, yCol: String,
              size: Double): DataFrame = {
    val cov = hexCover(polys, polyGeomCol, size)
    val (hq, hr) = hexBin(col(xCol), col(yCol), size)
    val binned = pts.withColumn("hq", hq).withColumn("hr", hr)
    cov.join(binned, Seq("hq", "hr"))
      .filter(st_contains(col(polyGeomCol),
        graft.functions.ST.st_point(col(xCol), col(yCol))))
      .drop("hq", "hr")
  }

  // written as computed vals so the Spark plan and the generated
  // oracle SQL interpolate the SAME double constants
  final val Sqrt3: Double = math.sqrt(3.0)
  final val Sqrt3Half: Double = math.sqrt(3.0) / 2.0
  final val Sqrt3Third: Double = math.sqrt(3.0) / 3.0
}
