package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GatePlans

import graft.functions._

/**
 * Exact kNN join by a per-query page-count radius (SURVEY.md §2.3
 * mandate; no reference counterpart — north_star requirement). This is
 * the per-cell kNN-radius bound of *Distributed Stream KNN Join*
 * (SIGMOD 2021, PAPERS.md), as one lazy plan with no driver loop:
 *
 *  1. page counts per cell: at most one row per non-empty cell;
 *  2. each query explodes to `disk(qcell, maxRadius)`, joins the counts
 *     and sums them per planar Chebyshev ring
 *     `greatest(|cell_x - qcell_x|, |cell_y - qcell_y|)`. The disk wraps
 *     in longitude but distance does not, so cells whose planar ring
 *     exceeds `maxRadius` are dropped;
 *  3. a running sum per query gives ρ, the smallest ring within which
 *     at least k pages lie;
 *  4. the probe radius R is the smallest integer with R² ≥ 5·(ρ+1)²;
 *  5. pages join `disk(qcell, R)` on the cell (through the broadcast
 *     gate), then the two-phase top-k (graft.ops.TopK);
 *  6. queries with no ρ (fewer than k pages within disk(maxRadius))
 *     are the residue: a brute-force pass over all pages.
 *
 * Why it is exact. A cell is 360/2^res wide and h = 180/2^res tall
 * (CellIndex.lonToX/latToY), so it is 2h wide. A page in disk(ρ) is
 * less than 2(ρ+1)h away in longitude and (ρ+1)h in latitude, so at
 * most √5·(ρ+1)·h away; disk(ρ) holds at least k pages, so the k-th
 * nearest distance is at most that. A page outside disk(R) has an index
 * gap ≥ R+1 on some axis, so it is more than R·h ≥ √5·(ρ+1)·h away:
 * strictly farther than the k-th, so neither it nor the (dist2, id)
 * tiebreak can change the top k.
 *
 * Distance = squared planar degrees, tiebreak = (dist2, id): a total
 * order, so results are identical at any parallelism.
 *
 * Scale shape: pages are read by the per-cell count, the cell
 * equi-join of the probe and (only when a residue exists) the
 * brute-force pass. The count step explodes every query to
 * (2·maxRadius+1)² cells (1,089 at 16), but joins them against the
 * per-cell counts, never against pages; only disk(R) reaches pages.
 * The residue's cross join goes through the broadcast gate, which
 * always broadcasts it, in as many chunks as the residue's bytes need;
 * nothing runs before the action.
 */
object Knn {

  /** points: (qid, qlon, qlat); pages: (cell, id, lon, lat) with `cell`
    * at resolution `res`. Returns (qid, rank, id, dist2) with rank 1..k. */
  def knnJoin(points: DataFrame, pages: DataFrame, res: Int, k: Int,
              maxRadius: Int = 16): DataFrame = {
    val queries = points.select(col("qid"), col("qlon"), col("qlat"),
      cell_of(col("qlon"), col("qlat"), res).as("qcell"))
    val ring = greatest(abs(cell_x(col("cell")) - cell_x(col("qcell"))),
      abs(cell_y(col("cell")) - cell_y(col("qcell"))))
    val rho = queries
      .select(col("qid"), col("qcell"), explode(cell_disk(col("qcell"), maxRadius)).as("cell"))
      .withColumn("ring", ring)
      .filter(col("ring") <= maxRadius)
      .join(pages.groupBy("cell").count(), "cell")
      .groupBy("qid", "ring").agg(sum("count").as("n"))
      .withColumn("within", sum("n").over(Window.partitionBy("qid").orderBy("ring")))
      .filter(col("within") >= k)
      .groupBy("qid").agg(min("ring").as("rho"))
    // R by ρ, in integers: the smallest R with R² >= 5·(ρ+1)². The
    // lookup is try_element_at: ANSI element_at claims a non-null
    // result, and R is null exactly for the residue
    val radiusOf = (0 to maxRadius).map { p =>
      Iterator.from(1).find(r => r.toLong * r >= 5L * (p + 1) * (p + 1)).get
    }
    // cached: the probe, the residue and its measurement all read it
    val radius = queries.join(rho, Seq("qid"), "left")
      .withColumn("R", try_element_at(typedLit(radiusOf), (col("rho") + 1).cast("int")))
      .cache()

    val dist2 = (col("lon") - col("qlon")) * (col("lon") - col("qlon")) +
      (col("lat") - col("qlat")) * (col("lat") - col("qlat"))
    def topkOf(cands: DataFrame): DataFrame =
      TopK.perGroup(cands.withColumn("dist2", dist2),
        Seq("qid"), "dist2", "id", k, ascending = true)

    val probe = radius.filter(col("R").isNotNull).select(col("qid"), col("qlon"),
      col("qlat"), explode(cell_disk(col("qcell"), col("R"))).as("cell"))
    val residue = radius.filter(col("R").isNull).select("qid", "qlon", "qlat")
    topkOf(pages.join(GatePlans.gate(probe), Seq("cell")))
      .unionByName(topkOf(pages.crossJoin(GatePlans.gate(residue))))
  }
}
