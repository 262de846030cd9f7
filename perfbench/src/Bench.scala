package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Settings of one benchmark process. */
final case class Config(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, tiny: Boolean, work: String, expected: String,
    spans: Option[String])

/** One timed operation of a workload. `kind` selects which latency
  * sample it belongs to (query, pass, commit, scan, ...). */
final case class Sample(kind: String, name: String, sec: Double, ok: Boolean)

/** Order-insensitive digest of a result: wrapping sum of a 64-bit hash
  * of every row (each column rendered as a string, so the digest is a
  * function of the values) plus the row count and, optionally, the sum
  * of one long column. Consuming the rows through a typed map keeps
  * every operator of the plan, the final sort included. */
object Digest {
  final case class D(hash: Long, rows: Long, sum: Long) {
    def key: String = f"$hash%016x:$rows"
  }

  def of(df: DataFrame, sumCol: Option[String] = None): D = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(c => col(c).cast("string")): _*)
    val s = sumCol.map(c => col(s"c${df.columns.indexOf(c)}").cast("long"))
      .getOrElse(lit(0L))
    val parts = named.select(h, s)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .mapPartitions { it =>
        var hs = 0L; var n = 0L; var ss = 0L
        it.foreach { case (a, b) => hs += a; n += 1; ss += b }
        Iterator((hs, n, ss))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    D(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }
}

/** Heap the JVM still holds after a full collection: the state a run
  * leaves behind (caches, plans, driver-side structures). Spark's
  * context cleaner drops the blocks of unreachable broadcasts only
  * after a collection has found them, so collect, give the cleaner a
  * moment, and collect again. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The harness every workload runs in: one Spark session at a time,
  * one caller, every operation timed and checked, failures counted. */
final class Bench(val cfg: Config) {
  val tracer: Option[Tracer] = if (cfg.trace) Some(new Tracer) else None
  val samples = mutable.ArrayBuffer.empty[Sample]
  val roundSecs = mutable.ArrayBuffer.empty[Double]
  var spark: SparkSession = _
  var attempted = 0
  var failed = 0
  /** Cached bytes each group's operations left behind, summed. */
  val cachedLeft = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  /** Persisted RDDs each group's operations left after clearCache. */
  val rddsLeft = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)

  def startSession(cores: Int): SparkSession = {
    if (spark != null) spark.stop()
    spark = graft.Sessions.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.sparkContext.defaultParallelism == cores,
      s"session runs ${spark.sparkContext.defaultParallelism} threads, not $cores")
    tracer.foreach(_.attach(spark.sparkContext))
    spark
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Time one operation. `body` returns whether its output checked out;
    * a throw is a failure too. Either way the time is kept. */
  def op(kind: String, group: String, name: String,
         after: () => Boolean = () => true)(body: => Boolean): Sample = {
    attempted += 1
    val t0 = System.nanoTime()
    val checked = try span(s"$group/$name")(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val isolated = after()
    val ok = isolated && checked
    val s = Sample(kind, name, sec, ok)
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $name failed: " +
        (if (checked) "state left behind" else "wrong or missing output"))
    }
    samples += s
    s
  }

  /** Latencies (seconds) of every sample of one kind, failed included. */
  def latencies(kind: String): Seq[Double] =
    samples.toSeq.filter(_.kind == kind).map(_.sec)

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** A phase of an operation; traced runs attribute its Spark jobs. */
  def phase[T](group: String, name: String, phase: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(phase)(t.scoped(group, name, phase)(body))
      case None => body
    }

  /** Between operations: record what the last one left cached, drop
    * every cache, then count and release the persisted RDDs that
    * clearCache does not reach, such as local checkpoints. More than
    * `allowed` of them fails the operation that left them. */
  def isolate(group: String, allowed: Int): Boolean = {
    val sc = spark.sparkContext
    cachedLeft(group) += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    spark.catalog.clearCache()
    val left = sc.getPersistentRDDs.values.toSeq
    rddsLeft(group) += left.size
    left.foreach(_.unpersist(blocking = true))
    left.size <= allowed
  }

  /** Run rounds until `seconds` have passed (at least one). */
  def rounds(seconds: Double)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = System.nanoTime()
      round(i)
      roundSecs += (System.nanoTime() - r0) / 1e9
      i += 1
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** The highest percentile (in whole percent) that leaves at least
    * ten samples above it among `n`, and never below the median. */
  def tailQuantile(n: Int): Double =
    math.max(0.5, math.floor(100.0 * (n - 10) / n) / 100.0)
}
