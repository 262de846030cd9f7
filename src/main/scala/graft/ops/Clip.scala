package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.functions._
import graft.geo.Polygon

/**
 * Clip operators (SURVEY.md S3/S4; geoRpro raster.py:359-422).
 *
 * Both clips are *prefilter + exact refine*, so the exact test runs on
 * few rows:
 *  - the coarse-cover prefilter turns into a set of contiguous
 *    descendant cell-id RANGES, tested with one codegen'd binary search
 *    per row (`cell_in_ranges`). Every caller derives `cell` from
 *    lon/lat, so there is no stored column for parquet min/max stats to
 *    prune on; range pushdown on a STORED cell column is
 *    TileStore.scanCover's job (the load_window pushdown analog,
 *    raster.py:388-392);
 *  - the exact residual predicate (box bounds / ray-casting PIP) runs
 *    codegen'd on the surviving rows only.
 */
object Clip {

  /** Cover prefilter predicate for a set of coarse cover cells: one
    * binary-search probe over the merged descendant ranges
    * (`cell_in_ranges`), whatever the number of ranges. */
  def coverRangePredicate(cellCol: Column, cover: Array[Long], res: Int): Column =
    cell_in_ranges(cellCol, CellIndex.coverRanges(cover, res))

  /** S3 `load_window`: rectangular clip. `res` = resolution of the
    * `cell` column; coverRes = coarse prefilter resolution. */
  def window(df: DataFrame, res: Int,
             lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
             coverRes: Int = 6): DataFrame = {
    val cover = CellIndex.coverRect(lonMin, latMin, lonMax, latMax, coverRes)
    df.filter(coverRangePredicate(col("cell"), cover, res))
      .filter(col("lon") >= lonMin && col("lon") <= lonMax &&
        col("lat") >= latMin && col("lat") <= latMax)
  }

  /** S4 `load_raster_from_poly`: polygon clip = cover prefilter + exact
    * ray-casting PIP expression. The reference raises on no overlap
    * (raster.py:417-419); in a lazy plan that check is the caller's
    * (empty result), kept as `requireNonEmpty` for parity call sites. */
  def byPolygon(df: DataFrame, poly: Polygon, res: Int,
                coverRes: Int = 6): DataFrame = {
    val cover = poly.coverCells(coverRes)
    df.filter(coverRangePredicate(col("cell"), cover, res))
      .filter(point_in_poly(col("lon"), col("lat"), poly))
  }

  /** ValueError-on-no-overlap parity (raster.py:417-419). Eager. */
  def requireNonEmpty(df: DataFrame): DataFrame = {
    if (df.isEmpty)
      throw new IllegalArgumentException(
        "Input shapes do not overlap raster.")
    df
  }
}
