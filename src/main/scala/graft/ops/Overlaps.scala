package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Extent-overlap joins (SURVEY.md J2/J3; geoRpro routines.py:140-237).
 *
 * The reference loops shapely `intersects` over upper-triangle pairs
 * (gen_current_front_pairs, utils.py:91-104). Here:
 *  - J2 all-pairs overlap = self-join of per-source extents with
 *    `a.id < b.id` + bbox-intersect predicate. Extents are one row per
 *    source (tiny) so Spark broadcasts; at huge source counts the same
 *    API scales by joining on exploded cover cells first.
 *  - J3 1xN overlap = broadcast of ONE reference extent against all
 *    others (the find_tile_overlap shape, routines.py:182-237).
 */
object Overlaps {

  /** Per-source bbox extents from a georeferenced page/cell table. */
  def extents(geo: DataFrame, srcCol: String): DataFrame =
    geo.groupBy(col(srcCol).as("src"))
      .agg(min("lon").as("lon_min"), min("lat").as("lat_min"),
        max("lon").as("lon_max"), max("lat").as("lat_max"))

  private def bboxIntersects(a: String, b: String) =
    (col(s"$a.lon_min") <= col(s"$b.lon_max")) &&
      (col(s"$b.lon_min") <= col(s"$a.lon_max")) &&
      (col(s"$a.lat_min") <= col(s"$b.lat_max")) &&
      (col(s"$b.lat_min") <= col(s"$a.lat_max"))

  /** (src_a, src_b) and the intersection box of an `a` × `b` extent
    * pair. */
  private val intersectionBox = Seq(
    col("a.src").as("src_a"), col("b.src").as("src_b"),
    greatest(col("a.lon_min"), col("b.lon_min")).as("ilon_min"),
    greatest(col("a.lat_min"), col("b.lat_min")).as("ilat_min"),
    least(col("a.lon_max"), col("b.lon_max")).as("ilon_max"),
    least(col("a.lat_max"), col("b.lat_max")).as("ilat_max"))

  /** J2: all-pairs overlapping extents, upper triangle, with the
    * intersection box (the poly_ref.intersection analog). */
  def allPairs(ext: DataFrame): DataFrame = {
    val a = ext.alias("a"); val b = ext.alias("b")
    a.join(b, col("a.src") < col("b.src") && bboxIntersects("a", "b"))
      .select(intersectionBox: _*)
  }

  /** Fail-fast bound on covering cells PER EXTENT ROW (VERDICT r4 weak
    * #2): a world-spanning bbox at res 12 would silently explode ~16.7M
    * rows from ONE input row — the cover-cell fallbacks are built for
    * extents spanning a handful of cells, and a degenerate input should
    * fail with the fix (lower res) in the message, not OOM an executor.
    * 65536 = a full world bbox at res 8 — far above any sane workload
    * (the gates run res 6: worst case 4096), far below the blowup. */
  val MaxCellsPerExtent = 65536L

  /** Cover cells of a bbox relation at `res`: one row per (bbox row,
    * covering cell), cell ids from the SAME lon/lat -> index mapping as
    * graft.functions.cell_of — a point inside the bbox always lands
    * (via cell_of) in one of these cells, which is what makes the
    * cell-join fallbacks exact. Shared by allPairsByCells and
    * overlapsAnyPointByCells. Rows covering more than `maxCells` cells
    * raise (see MaxCellsPerExtent). */
  private def coverCells(ext: DataFrame, res: Int,
                         maxCells: Long = MaxCellsPerExtent): DataFrame = {
    import graft.functions.cell_of
    val n = (1L << res).toDouble
    val hi = lit((1L << res) - 1L)
    def xi(c: org.apache.spark.sql.Column) =
      greatest(lit(0L), least(hi, floor((c + 180.0) / 360.0 * n).cast("long")))
    def yi(c: org.apache.spark.sql.Column) =
      greatest(lit(0L), least(hi, floor((c + 90.0) / 180.0 * n).cast("long")))
    val xlo = xi(col("lon_min")); val xhi = xi(col("lon_max"))
    val ylo = yi(col("lat_min")); val yhi = yi(col("lat_max"))
    val nCells = (xhi - xlo + lit(1L)) * (yhi - ylo + lit(1L))
    // the guard rides the CONSUMED sequence start (adding 0 when ok) so
    // column pruning can't optimize the check away
    val guard = when(nCells > maxCells, raise_error(concat(
        lit("coverCells: one extent covers "), nCells.cast("string"),
        lit(s" cells at res=$res > cap=$maxCells — lower res (or raise" +
          " the maxCells bound) so extents span a handful of cells")))
        .cast("long"))
      .otherwise(lit(0L))
    ext
      .withColumn("xi", explode(sequence(xlo + guard, xhi)))
      .withColumn("yi", explode(sequence(ylo, yhi)))
      .withColumn("cell", cell_of(
        (col("xi").cast("double") + 0.5) / n * 360.0 - 180.0,
        (col("yi").cast("double") + 0.5) / n * 180.0 - 90.0, res))
      .drop("xi", "yi")
  }

  /** J2 at huge source counts (SURVEY §2.3 fallback): when the extent
    * table itself is too big to broadcast, candidates come from a cell
    * equi-join — each bbox explodes into its covering cells at `res`,
    * same-cell pairs are verified by the exact bbox predicate. Result
    * is IDENTICAL to allPairs: two intersecting boxes always share the
    * cell containing any point of their intersection, so no pair is
    * missed; distinct collapses multi-cell duplicates. Pick `res` so a
    * typical extent covers a handful of cells. */
  def allPairsByCells(ext: DataFrame, res: Int,
                      maxCells: Long = MaxCellsPerExtent): DataFrame = {
    val cells = coverCells(ext, res, maxCells)
    val a = cells.alias("a"); val b = cells.alias("b")
    a.join(b, col("a.cell") === col("b.cell") &&
        col("a.src") < col("b.src") && bboxIntersects("a", "b"))
      .select(intersectionBox: _*)
      .distinct()
  }

  /** U4 intersect-dedup (routines.py:151-153: `if inter not in
    * overlaps` — identical intersection boxes arising from DIFFERENT
    * pairs collapse to one row). Keeper = lexicographically-first
    * (src_a, src_b) pair: a groupBy + min(struct) (deterministic at any
    * parallelism and scale-right — one hash aggregate), NOT a
    * dropDuplicates, whose surviving row is whichever arrives first. */
  def distinctBoxes(pairs: DataFrame): DataFrame =
    pairs.groupBy("ilon_min", "ilat_min", "ilon_max", "ilat_max")
      .agg(min(struct(col("src_a"), col("src_b"))).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
        col("ilon_min"), col("ilat_min"), col("ilon_max"), col("ilat_max"))

  /** J3: one reference source vs all others (broadcast side = 1 row). */
  def oneVsAll(ext: DataFrame, refSrc: String): DataFrame = {
    val ref = ext.filter(col("src") === refSrc).alias("a")
    val rest = ext.filter(col("src") =!= refSrc).alias("b")
    rest.join(broadcast(ref), bboxIntersects("a", "b"))
      .select(intersectionBox: _*)
  }

  /** J5 raster-overlaps-any-point semi-join (filter_imgs.py:111-127):
    * keep sources whose extent contains >= 1 point — LEFT SEMI, the
    * planner's early-out replaces the reference's `break`. Theta range
    * join (BroadcastNestedLoop) — right while one side is small (the
    * reference's extents are per-file, tiny); the huge-cardinality
    * scale path is [[overlapsAnyPointByCells]]. */
  def overlapsAnyPoint(ext: DataFrame, points: DataFrame): DataFrame =
    ext.join(points,
      col("lon") >= col("lon_min") && col("lon") <= col("lon_max") &&
        col("lat") >= col("lat_min") && col("lat") <= col("lat_max"),
      "left_semi")

  /** J5 at huge cardinality (VERDICT r3 missing #1 — the million-extent
    * x million-point workload the theta join can't touch): extents
    * explode to cover cells at `res`, points key by cell_of, candidates
    * come from the cell EQUI-join, the exact containment predicate
    * verifies, and a final left-semi on all extent columns restores the
    * one-row-per-extent contract (a candidate side with multi-cell
    * duplicates is fine on the right of a semi-join). Result-identical
    * to overlapsAnyPoint: a contained point's cell_of cell is always
    * among its extent's cover cells (same index mapping, clamped the
    * same way). `points` must carry (lon, lat) only — project first. */
  def overlapsAnyPointByCells(ext: DataFrame, points: DataFrame,
                              res: Int,
                              maxCells: Long = MaxCellsPerExtent): DataFrame = {
    import graft.functions.cell_of
    // cached: the extent relation feeds both the cover-cell explode and
    // the final semi-join left side — without it the upstream
    // scan+aggregate runs twice on exactly the huge path this method
    // targets. Cache lifetime is the CALLER's session (the minhashLsh
    // convention; Verify/Bench clearCache between queries).
    //
    // Join key = the four bbox bounds, nothing else. "Contains >= 1
    // point" is purely a function of the bbox, so a semi-join on the
    // bounds is result-identical to the theta path for every row —
    // including duplicate-bbox rows (all kept or all dropped together)
    // and null-bound rows (equality never matches, exactly as the theta
    // predicate evaluates to null). Payload columns never enter the
    // join (ADVICE r4 #5: MapType payloads failed the old all-columns
    // <=> join), and unlike a generated row id the key is DETERMINISTIC
    // under partition recomputation — an executor loss can't make the
    // two branches disagree about which row is which. distinct() before
    // the explode also collapses duplicate bboxes to one cover-cell
    // expansion each.
    val e = ext.cache()
    val bounds = Seq("lon_min", "lat_min", "lon_max", "lat_max")
    val pts = points.select(col("lon").as("p_lon"), col("lat").as("p_lat"))
      .withColumn("cell", cell_of(col("p_lon"), col("p_lat"), res))
    val hit = coverCells(e.select(bounds.map(col): _*).distinct(), res, maxCells)
      .join(pts, Seq("cell"))
      .filter(col("p_lon") >= col("lon_min") && col("p_lon") <= col("lon_max") &&
        col("p_lat") >= col("lat_min") && col("p_lat") <= col("lat_max"))
      .select(bounds.map(col): _*)
    e.join(hit, bounds, "left_semi")
  }
}
