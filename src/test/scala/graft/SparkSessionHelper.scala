package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, Union}

/** One shared local session for all Spark-backed suites. */
object SparkSessionHelper {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold` = `bytes`
    * (the broadcast gate's budget), restoring the previous value. The
    * gate decides when a plan is optimized, so `body` must build AND
    * optimize or execute what it checks. */
  def withBroadcastThreshold[T](bytes: BigInt)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Join nodes of `df`'s optimized plan that carry a BROADCAST hint —
    * the gate's decision (at small sizes the executed plan cannot tell
    * a hint from the planner's own size-based broadcast). */
  def broadcastHints(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join => Seq(j.hint.leftHint, j.hint.rightHint)
        .count(_.exists(_.strategy.contains(BROADCAST)))
    }.sum

  /** Chunk count of each gated cross join in `df`'s optimized plan. A
    * chunk is a BROADCAST-hinted join with no condition; the chunks of
    * one join are the children of one Union. */
  def crossJoinChunks(df: DataFrame): Seq[Int] = {
    def chunk(p: LogicalPlan) = p match {
      case j: Join => j.condition.isEmpty &&
        Seq(j.hint.leftHint, j.hint.rightHint).exists(_.exists(_.strategy.contains(BROADCAST)))
      case _ => false
    }
    val plan = df.queryExecution.optimizedPlan
    val unions = plan.collect { case u: Union if u.children.forall(chunk) => u.children.size }
    unions ++ Seq.fill(plan.collect { case j if chunk(j) => j }.size - unions.sum)(1)
  }
}
