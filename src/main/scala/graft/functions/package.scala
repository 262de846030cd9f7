package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.functions.lit

import graft.geo.Polygon

/**
 * Public Column API over the native expressions (the `functions._` of
 * this engine). Every function returns a codegen'd Column — no UDFs.
 */
package object functions {

  /** Deterministic URL -> longitude (SURVEY.md F16). */
  def geotag_lon(url: Column): Column = Kernel.geotagLon(url)

  /** Deterministic URL -> latitude. */
  def geotag_lat(url: Column): Column = Kernel.geotagLat(url)

  /** Fused url -> cell (one md5/row; the hot tiling path). */
  def geotag_cell(url: Column, res: Int): Column = Kernel.geotagCell(url, lit(res))

  /** Packed-long cell of (lon, lat) at resolution res (SURVEY.md F15). */
  def cell_of(lon: Column, lat: Column, res: Int): Column = Kernel.cellOf(lon, lat, lit(res))

  def cell_parent(cell: Column, steps: Int = 1): Column = Kernel.cellParent(cell, lit(steps))

  def cell_children(cell: Column): Column = Kernel.cellChildren(cell)

  def cell_disk(cell: Column, k: Int): Column = cell_disk(cell, lit(k))

  /** Disk with a per-row radius (an int column). */
  def cell_disk(cell: Column, k: Column): Column = Kernel.cellDisk(cell, k)

  def cell_ring(cell: Column, k: Int): Column = Kernel.cellRing(cell, lit(k))

  def cell_center_lon(cell: Column): Column = Kernel.cellCenterLon(cell)
  def cell_center_lat(cell: Column): Column = Kernel.cellCenterLat(cell)
  def cell_x(cell: Column): Column = Kernel.cellX(cell)
  def cell_y(cell: Column): Column = Kernel.cellY(cell)

  /** Cell-id membership in flattened merged morton ranges (one binary
    * search per row; the compact cover prefilter). */
  def cell_in_ranges(cell: Column, flat: Array[Long]): Column =
    toCol(CellInRanges(toExpr(cell), flat))

  /** Exact point-in-polygon (ray casting, strip-indexed). */
  def point_in_poly(lon: Column, lat: Column, poly: Polygon): Column =
    toCol(PointInPoly(toExpr(lon), toExpr(lat), poly))

  /** 60-bit SimHash signature of a text column (one kernel call/row). */
  def simhash60(text: Column): Column = Kernel.simhash60(text)

  /** Word-k-gram shingles (one kernel call/row). */
  def shingles_k(text: Column, k: Int): Column = Kernel.shinglesK(text, lit(k))

  /** The 4 unsigned 32-bit md5 words (one digest, 4 hashes). */
  def md5_words(s: Column): Column = Kernel.md5Words(s)

  /** Full per-document MinHash signature (one kernel pass; empty array
    * when the text has fewer than k tokens). */
  def minhash_sigs(text: Column, k: Int, numHashes: Int): Column = {
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4")
    Kernel.minhashSigs(text, lit(k), lit(numHashes))
  }

  /** Exact integer dot product of two long-array columns (codegen'd). */
  def dot_q(a: Column, b: Column): Column = Kernel.dotQ(a, b)

  /** Position-weighted rolling document fingerprint. */
  def doc_fingerprint(text: Column): Column = Kernel.docFingerprint(text)

  /** Per-language marker-vote counts (TextOps.langMarkers order). */
  def lang_scores(text: Column): Column = Kernel.langScores(text)

  /** Quantize a float-array column to long (trunc(x * 10000)). */
  def quantize_q(v: Column): Column = Kernel.quantizeQ(v)

  /** Nearest + second-nearest IVF centroid over a centroid matrix,
    * packed (cid1 << 8) | cid2 (one kernel loop; see IvfCellsOf). */
  def ivf_cells_of(v: Column, codebook: Seq[Seq[Long]]): Column =
    toCol(IvfCellsOf(toExpr(v), codebook))

  /** Fused float32 normalized difference (numpy parity, raster.py:544+). */
  def norm_diff(a: Column, b: Column): Column =
    Kernel.normDiff(a.cast("float"), b.cast("float"))

  /** Per-group bounded top-k aggregate (two-phase: partition-local k,
    * then final k over the <= parts*k survivors). best = lowest score
    * when ascending, else highest; ties -> smaller id. */
  def topk_by(score: Column, id: Column, k: Int, ascending: Boolean): Column =
    toCol(TopKByScore(toExpr(score), toExpr(id), k, ascending)
      .toAggregateExpression())

  /** The SQL-visible function surface: name -> expression builder,
    * one per SQL kernel declaration plus `ivf_cells`. Single source of
    * truth for session-time registration (registerAll) and build-time
    * injection (GraftExtensions). */
  private val builders: Seq[(String, Seq[Expression] => Expression)] =
    Kernel.sql.map(d => d.name -> d.expr _) :+
      // dim must be a foldable literal (it sizes the centroid table)
      ("ivf_cells" -> ((e: Seq[Expression]) => IvfCellsOf(e(0),
        graft.vector.Ann.lcgCodebook(e(1).eval().asInstanceOf[Number].intValue))))

  /** Register the scalar functions on an existing session. */
  def registerAll(spark: SparkSession): Unit = {
    import org.apache.spark.sql.graft.Bridge.register
    builders.foreach { case (name, b) => register(spark, name, b) }
  }

  /** Inject the same surface at session BUILD time
    * (spark.sql.extensions=graft.GraftExtensions). */
  def injectAll(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft", name),
        b))
    }
}
