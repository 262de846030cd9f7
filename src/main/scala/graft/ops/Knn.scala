package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._

/**
 * Cell-ring-expansion kNN join (SURVEY.md §2.3 mandate; no reference
 * counterpart — north_star requirement).
 *
 * For each query point: probe pages whose cell lies in the Chebyshev
 * disk of radius r around the query cell; a candidate set is EXACT once
 * kth-distance² <= (r·cellHeight)² — any point outside disk(r) is at
 * least r·cellHeight degrees away (grid geometry; lon cells are wider
 * than lat cells, so cellHeight is the conservative bound). Unfinished
 * queries double r; past `maxRadius` the (tiny) residue falls back to a
 * brute-force pass — still exact, still deterministic.
 *
 * Distance = squared planar degrees, tiebreak = (dist2, id): a total
 * order, so results are identical at any parallelism.
 *
 * Scale shape: the pages side is only ever probed via the cell
 * equi-join — no shuffle of the big side beyond the join itself, and
 * each round's join touches only unfinished queries. Top-k is the
 * two-phase bounded-heap aggregate (graft.ops.TopK) — partition-local k
 * before any shuffle, never a global per-query sort. Round bookkeeping
 * (which queries are done) has two formulations chosen by query count:
 * driver-side collect + IN-list below `maxDriverQids` (one Spark job
 * per round), pure-relational semi/anti joins above it (an IN-list of
 * 10^5 qids blows plan size and analysis time; the join formulation is
 * O(1) in plan size at any query count).
 */
object Knn {

  /** Above this many query points, loop bookkeeping switches from
    * driver-collected IN-lists to semi/anti joins. */
  val MaxDriverQids = 10000

  /** Probe-amplification cap (VERDICT r3 minor #3): a round explodes
    * |pending| x (2r+1)^2 probe rows — at maxRadius 16 that is 1,089
    * cells per unfinished query, overkill once only a small residue is
    * pending. When the pending set is SMALL (<= maxDriverQids) and the
    * next round's probe volume would exceed this cap, the loop stops
    * early and the residue goes straight to the exact brute-force
    * pass. The default is sized to actually engage inside the
    * small-pending tier (10k pending at r=16 is ~10.9M probe rows —
    * above this cap, below the old 64M default that could never fire
    * with maxDriverQids 10k): the trade is one full pages pass against
    * up to 1,089 exploded cells per straggler per remaining round.
    * When the pages side is so large that ring expansion beats even
    * one brute pass, raise maxProbeRows to keep expanding. A LARGE
    * pending set never triggers the early fallback: ring expansion via
    * the cell equi-join is the cheaper plan there, however many probe
    * rows it takes. */
  val MaxProbeRows = 4_000_000L

  /** points: (qid, qlon, qlat); pages: (cell, id, lon, lat).
    * Returns (qid, rank, id, dist2) with rank 1..k. */
  /** `probeRows`: opt-in instrumentation — accumulates the EXACT
    * number of exploded (query, cell) probe rows across rounds (one
    * count job per round when set; never in production runs). Exists
    * so the probe-amplification cap's benefit is measurable, not
    * asserted (DedupAnnSpec). */
  def knnJoin(points: DataFrame, pages: DataFrame, res: Int, k: Int,
              initRadius: Int = 4, maxRadius: Int = 16,
              maxDriverQids: Int = MaxDriverQids,
              maxProbeRows: Long = MaxProbeRows,
              probeRows: Option[org.apache.spark.util.LongAccumulator] = None)
             : DataFrame = {
    val cellH = 180.0 / (1L << res).toDouble
    val dist2 = (col("lon") - col("qlon")) * (col("lon") - col("qlon")) +
      (col("lat") - col("qlat")) * (col("lat") - col("qlat"))

    def topkOf(cands: DataFrame): DataFrame =
      TopK.perGroup(cands.withColumn("dist2", dist2),
        Seq("qid"), "dist2", "id", k, ascending = true)

    var pending = points
      .withColumn("qcell", cell_of(col("qlon"), col("qlat"), res))
      .cache()
    var nPending = pending.count()
    val relational = nPending > maxDriverQids
    var results: DataFrame = null
    var r = initRadius
    def probeTooWide: Boolean = nPending <= maxDriverQids &&
      nPending * (2L * r + 1) * (2L * r + 1) > maxProbeRows
    while (r <= maxRadius && nPending > 0 && !probeTooWide) {
      val probe = pending
        .withColumn("cell", explode(cell_disk(col("qcell"), r)))
      probeRows.foreach(_.add(probe.count()))
      // small query sets broadcast into the probe; at large counts let
      // the planner (AQE) pick the join strategy for the cell equi-join
      val cands =
        if (relational) pages.join(probe, Seq("cell"))
        else pages.join(broadcast(probe), Seq("cell"))
      val topk = topkOf(cands).cache() // <= |pending| * k rows
      // exact iff k found AND kth distance STRICTLY within the disk
      // guarantee (any point outside disk(r) is >= r*cellH away; strict
      // < also rules out an equal-distance outside point winning the
      // (dist2, id) tiebreak with a smaller id)
      val doneQ = topk.groupBy("qid")
        .agg(count(lit(1)).as("cnt"), max("dist2").as("kth"))
        .filter(col("cnt") === k && col("kth") < lit((r * cellH) * (r * cellH)))
        .select("qid")
      if (relational) {
        val finished = topk.join(doneQ, Seq("qid"), "left_semi")
        results = if (results == null) finished else results.unionByName(finished)
        val next = pending.join(doneQ, Seq("qid"), "left_anti").cache()
        nPending = next.count()
        // the superseded pending is dead once its successor materialized
        // (round top-k's are separately cached) — release it, or every
        // round leaks a cached relation in a long-lived session
        pending.unpersist()
        pending = next
      } else {
        val doneIds = doneQ.collect().map(_.get(0)).toSeq // keep qid's own type
        if (doneIds.nonEmpty) {
          val finished = topk.filter(col("qid").isInCollection(doneIds))
          results = if (results == null) finished else results.unionByName(finished)
          pending = pending.filter(!col("qid").isInCollection(doneIds))
          nPending -= doneIds.length
        }
      }
      r *= 2
    }
    if (nPending > 0) {
      // residual brute force: pending queries x full pages (queries in
      // regions emptier than disk(maxRadius) — still exact, and the
      // two-phase top-k keeps the reduction partition-local even here).
      // The query side ALWAYS broadcasts — an unhinted crossJoin plans
      // as CartesianProduct, replicating the big pages side — in as many
      // chunks as its measured bytes need (the Ann.cosineTopK loop).
      val brute = org.apache.spark.sql.graft.GatePlans.broadcastChunks(
        pending.drop("qcell").cache(), "qid")(qs => topkOf(pages.crossJoin(qs)))
      results = if (results == null) brute else results.unionByName(brute)
    }
    // an empty points input never assigns results (no rounds, no
    // residue): return an EMPTY frame of the output schema, not null.
    // pages.limit(0) keeps the plan schema-identical with ZERO IO
    // (ADVICE r5 #3: the unlimited form planned a
    // BroadcastNestedLoopJoin that streamed the full pages relation
    // just to produce no rows).
    if (results == null)
      topkOf(pages.limit(0).crossJoin(broadcast(pending.drop("qcell"))))
    else results
  }
}
