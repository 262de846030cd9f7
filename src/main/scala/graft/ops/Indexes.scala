package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.norm_diff

/**
 * Spectral-index family (SURVEY.md F1-F5; geoRpro raster.py:494-596).
 *
 * Exact numpy parity, pinned by golden tests:
 *  - math in float32 (norm_diff is a FloatType Catalyst expression);
 *  - 0/0 -> NaN -> 0.0f (raster.py:552-553 `np.nan_to_num` semantics);
 *  - scale_factor != 1 -> multiply then `astype(int)` truncation toward
 *    zero (raster.py:537-541) = Spark double->long cast;
 *  - scale_factor == 1 -> stay float32 (raster.py:530).
 */
object Indexes {

  private def scaled(v: Column, scaleFactor: Int): Column =
    if (scaleFactor == 1) v
    // numpy: float32 * int -> float32 multiply, THEN astype(int)
    // truncation toward zero — keep the product in single precision
    // (a float64 product can truncate differently at int boundaries).
    else (v * lit(scaleFactor.toFloat)).cast("long")

  /** F1 NDVI = (nir - red) / (nir + red). */
  def ndvi(nir: Column, red: Column, scaleFactor: Int = 1000): Column =
    scaled(norm_diff(nir, red), scaleFactor)

  /** F2 NBR = (nir - swir) / (nir + swir). */
  def nbr(nir: Column, swir: Column, scaleFactor: Int = 1000): Column =
    scaled(norm_diff(nir, swir), scaleFactor)

  /** F3 BSI = ((swir+red)-(nir+blue)) / ((swir+red)+(nir+blue)),
    * float32 throughout like the reference (raster.py:571-583). */
  def bsi(swir: Column, red: Column, nir: Column, blue: Column,
          scaleFactor: Int = 1000): Column = {
    val a = (swir.cast("float") + red.cast("float")).cast("float")
    val b = (nir.cast("float") + blue.cast("float")).cast("float")
    scaled(norm_diff(a, b), scaleFactor)
  }

  /** F4 NDWI = (green - nir) / (green + nir). */
  def ndwi(green: Column, nir: Column, scaleFactor: Int = 1000): Column =
    scaled(norm_diff(green, nir), scaleFactor)
}
