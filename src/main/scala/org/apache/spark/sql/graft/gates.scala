package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{
  BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project, UnaryNode, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.DataFrame

/**
 * The engine's one broadcast gate. A join side the engine would like to
 * broadcast (candidate ids, shingle sets, hot shingles, query vectors)
 * is wrapped in a [[BroadcastGate]] marker by [[GatePlans.gate]]. At
 * ACTION time [[ResolveBroadcastGate]] — an optimizer rule, so building
 * a plan launches no job — measures the side in bytes and sets the
 * join's BROADCAST hint only when it fits the session's
 * `spark.sql.autoBroadcastJoinThreshold`, Spark's own broadcast budget.
 * Over budget the marker is just removed and the join plans without a
 * hint.
 *
 * A cross join must broadcast its gated side whatever it measures, so
 * there the gate splits the side into budget-sized broadcast chunks.
 *
 * The measurement ([[GatePlans.sizeInBytes]]): when the side reads a
 * cached relation that is not yet loaded, one count materializes it;
 * then the side's `stats.sizeInBytes` is read, which is exact for a
 * loaded `InMemoryRelation`. A side that computes more than a scan
 * from cached relations is cached by the gate first
 * ([[GatePlans.cachedSide]]), so the count loads what the join reads.
 * A side with no cached leaf is measured by the optimizer's estimate,
 * the same test Spark's planner applies.
 *
 * 100-TB note: this is why the gate exists at all — an unhinted join
 * under AQE still shuffle-WRITES the big side before the runtime size
 * of the small side is known, while a logical BROADCAST hint skips that
 * shuffle entirely. The gate gets the hint in only when the measured
 * bytes fit the budget (bounded driver memory).
 */
case class BroadcastGate(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): BroadcastGate =
    copy(child = newChild)
}

/** Resolves every [[BroadcastGate]] under a [[Join]]: measures the gated
  * side and rewrites the join with a BROADCAST [[JoinHint]] when it
  * fits, else just removes the marker; a keyless inner join is chunked
  * instead ([[chunked]]). Markers are consumed, so the fixed-point batch
  * converges after one pass. Gates below Project/Filter wrappers
  * Catalyst may interpose are handled; a gate anywhere else is stripped
  * without a hint. */
case class ResolveBroadcastGate(session: classic.SparkSession)
    extends Rule[LogicalPlan] {

  private val Broadcast = Some(HintInfo(Some(BROADCAST)))

  /** The side with its marker removed, if it carries one; the gated
    * plan under any wrappers is read as [[GatePlans.cachedSide]]. */
  private def strip(side: LogicalPlan): Option[LogicalPlan] = side match {
    case BroadcastGate(c) => Some(GatePlans.cachedSide(session, c))
    case p: Project => strip(p.child).map(s => p.copy(child = s))
    case f: Filter => strip(f.child).map(s => f.copy(child = s))
    case _ => None
  }

  /** A keyless inner join must broadcast its gated side: unhinted it
    * plans as a CartesianProduct that replicates the other side. So `j`
    * takes the side in n = ⌈measured bytes / budget⌉ chunks
    * `pmod(xxhash64(<side output>), n) = i`, one hinted copy of the join
    * per chunk, unioned (n = 1 is the plain hinted join). Every row lands
    * in exactly one chunk, so for an inner join the union is the join. A
    * non-positive threshold cannot disable this broadcast: chunks are
    * then sized by Spark's default budget. */
  private def chunked(j: Join, side: LogicalPlan, gatedLeft: Boolean): LogicalPlan = {
    val t = session.sessionState.conf.autoBroadcastJoinThreshold
    val budget = if (t > 0) t else SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.defaultValue.get
    val n = ((GatePlans.sizeInBytes(session, side) + budget - 1) / budget)
      .max(1).min(Int.MaxValue).toInt
    def joinWith(s: LogicalPlan): Join =
      if (gatedLeft) j.copy(left = s, hint = j.hint.copy(leftHint = Broadcast))
      else j.copy(right = s, hint = j.hint.copy(rightHint = Broadcast))
    if (n == 1) joinWith(side)
    else Union((0 until n).map { i =>
      joinWith(Filter(EqualTo(Pmod(new XxHash64(side.output), Literal(n.toLong)),
        Literal(i.toLong)), side))
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j @ Join(l, r, t, cond, hint) =>
      val ls = strip(l); val rs = strip(r)
      if (ls.isEmpty && rs.isEmpty) j
      else if (t.isInstanceOf[InnerLike] && ExtractEquiJoinKeys.unapply(j).isEmpty)
        chunked(j, rs.getOrElse(ls.get), gatedLeft = rs.isEmpty)
      else {
        def side(stripped: Option[LogicalPlan], orig: LogicalPlan,
                 h: Option[HintInfo]): (LogicalPlan, Option[HintInfo]) =
          stripped.map { s =>
            (s, if (GatePlans.fits(session, s)) Broadcast else h)
          }.getOrElse((orig, h))
        val (nl, lh) = side(ls, l, hint.leftHint)
        val (nr, rh) = side(rs, r, hint.rightHint)
        Join(nl, nr, t, cond, JoinHint(lh, rh))
      }
    // a gate that never met a join (caller used the relation elsewhere):
    // pass through — the marker must never change results
    case BroadcastGate(c) => c
  }
}

/** Public surface for the gate (graft code calls through here; the
  * package placement is only for `classic.Dataset.ofRows` access). */
object GatePlans {

  /** Wrap a join side in a deferred broadcast gate, installing
    * [[ResolveBroadcastGate]] on the side's session (idempotent; the
    * `experimental.extraOptimizations` hook attaches to a built
    * session). A side that is not a cheap scan reads cached data: a
    * cached relation, or a plan over one, which the gate caches when it
    * resolves ([[cachedSide]]). */
  def gate(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    install(s)
    classic.Dataset.ofRows(s, BroadcastGate(df.queryExecution.analyzed))
  }

  private def install(s: classic.SparkSession): Unit = synchronized {
    if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[ResolveBroadcastGate]))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ ResolveBroadcastGate(s)
  }

  /** Exact in-memory bytes of a cached relation, or the optimizer's
    * estimate of an uncached one: one count first loads any cached
    * leaf that is not yet materialized. */
  def sizeInBytes(df: DataFrame): BigInt = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    sizeInBytes(s, optimized(s, df))
  }

  /** A fresh optimization: `df`'s own plan may predate its `.cache()`. */
  private def optimized(s: classic.SparkSession, df: DataFrame): LogicalPlan =
    classic.Dataset.ofRows(s, df.queryExecution.analyzed).queryExecution.optimizedPlan

  private def unloaded(plan: LogicalPlan): Boolean = plan.exists {
    case m: InMemoryRelation => !m.cacheBuilder.isCachedColumnBuffersLoaded
    case _ => false
  }

  /** Projections, filters and unions of cached relations: reading the
    * side again is a scan of the cache. */
  private def scansCache(plan: LogicalPlan): Boolean = plan match {
    case _: InMemoryRelation => true
    case _: Project | _: Filter | _: Union => plan.children.forall(scansCache)
    case _ => false
  }

  /** The gated side as the join reads it. A side that computes more
    * than a scan from cached relations is itself cached here, at action
    * time: the measuring count then loads the side the join reads, and
    * the bytes measured are the side's own. An operator therefore hands
    * the gate an uncached side whose plan holds gates of its own: a
    * `.cache()` at build time would optimize that plan, and so run its
    * measuring count, while the plan is built. Lifetime is the
    * caller's, like any cache. */
  private[graft] def cachedSide(s: classic.SparkSession, plan: LogicalPlan): LogicalPlan = {
    val cm = s.sharedState.cacheManager
    val side = cm.useCachedData(plan)
    if (scansCache(side) || !side.exists(_.isInstanceOf[InMemoryRelation])) side
    else {
      cm.cacheQuery(classic.Dataset.ofRows(s, plan))
      cm.useCachedData(plan)
    }
  }

  private[graft] def sizeInBytes(s: classic.SparkSession, plan: LogicalPlan): BigInt = {
    // a row count of the side's RDD with every column pruned: one job,
    // no aggregate stage, no column decoded (the cache still loads whole)
    if (unloaded(plan)) classic.Dataset.ofRows(s, Project(Nil, plan)).queryExecution.toRdd.count()
    // stats are memoized per node: a pre-load read would be the
    // estimate of the plan that was cached, not the loaded bytes
    plan.invalidateStatsCache()
    plan.stats.sizeInBytes
  }

  /** Spark's broadcast test (`JoinSelectionHelper.canBroadcastBySize`)
    * on measured bytes: a non-positive threshold admits nothing larger
    * than zero bytes, -1 admits nothing. */
  private[graft] def fits(s: classic.SparkSession, plan: LogicalPlan): Boolean = {
    val size = sizeInBytes(s, plan)
    size >= 0 && size <= s.sessionState.conf.autoBroadcastJoinThreshold
  }

  /** The gate decided now, for a loop that picks its join strategy once
    * for every round (connected components). */
  def fits(df: DataFrame): Boolean = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    fits(s, optimized(s, df))
  }

  /** Deep-nullable view of a schema (`StructType.asNullable` is
    * `private[spark]`): file-source inference reports every column
    * nullable, so the driver-side footer schema must match it exactly
    * or plans would differ from the inference path. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
