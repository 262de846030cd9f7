package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Mosaic (SURVEY.md S8/A11; geoRpro raster.py:211-302).
 *
 * The reference merges rasters into a union-extent grid with a
 * nodata-aware overwrite: blocks are copied source-by-source in list
 * order, and an incoming nodata pixel never overwrites an
 * already-written value (raster.py:292-299). That write-order semantics
 * is source-order-dependent; distributed, it becomes "first non-nodata
 * value in source order" = `min_by(value, src_rank)` over non-null
 * rows — an explicit total order, deterministic at any parallelism
 * (SURVEY.md §7.4), replacing the memmap scatter entirely.
 */
object Mosaic {

  /** Union sources (tagged 0..n-1 in list order), nodata -> null, then
    * first-non-null-by-source-order per (cell [, extra keys]). */
  def mosaic(sources: Seq[DataFrame], valueCol: String,
             nodata: Option[Any] = None,
             extraKeys: Seq[String] = Nil): DataFrame = {
    val tagged = sources.zipWithIndex.map { case (df, i) =>
      df.withColumn("src_rank", lit(i))
    }.reduce(_ unionByName _)
    val denulled = nodata match {
      case Some(nd) => tagged.withColumn(valueCol,
        when(col(valueCol) === lit(nd), lit(null)).otherwise(col(valueCol)))
      case None => tagged
    }
    denulled
      .filter(col(valueCol).isNotNull)
      .groupBy(("cell" +: extraKeys).map(col): _*)
      .agg(min_by(col(valueCol), col("src_rank")).as(valueCol),
        min(col("src_rank")).as("src_rank"))
  }
}
