package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: one JSON line on stdout.
  *
  * - `queries`: per-query wall seconds at local[SPARK_GRAFT_CPUS], each
  *   fully evaluated via a `noop` write (a bare .count() would let
  *   Catalyst prune every projected column and skip the very
  *   expressions under test).
  * - Headline (BASELINE.json `metric`): the flagship spatial-join +
  *   tiling pipeline (scan -> geotag -> cell encode -> tile rollup),
  *   reported as pages/sec and tiles/sec.
  * - Scaling evidence (north_rule, sandbox proxy per BASELINE.md): the
  *   same headline job at local[8] and local[32] on the same input;
  *   efficiency = (throughput@32 / throughput@8) / 4.
  */
object Bench {

  private def session(cpus: Int): SparkSession = Sessions.local(cpus)

  /** Execute the full plan (all columns) and return wall seconds.
    * By-name parameter: queries that run driver-side actions while
    * BUILDING the plan (minhashLsh's candidate count, the filename
    * pairing's partition offsets, cluster propagation rounds) must have
    * that work inside the timer — a by-value argument would evaluate it
    * before t0 and under-report those queries. */
  private def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The SPARK_GRAFT_BENCH_ONLY list: comma-separated query names. A
    * name that is not a `SparkEntry.queries` key fails the run before
    * any session starts (a typo must not silently time nothing). */
  private[graft] def onlyQueries(list: String): Set[String] = {
    val names = list.split(",").map(_.trim).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, "SPARK_GRAFT_BENCH_ONLY names unknown " +
      s"queries: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  def main(args: Array[String]): Unit = {
    val startedAt = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // iteration aid (mirrors Verify's SPARK_GRAFT_ONLY): restrict the
    // sweep to named queries — A/B timing of a suspect query without
    // paying the full sweep + headline
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(onlyQueries)

    // ---- per-query sweep at local[cpus] ------------------------------
    var spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/documents.parquet").count() // JIT/IO warmup
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
      val dt = try time(fn(spark, sfDir)) catch { case _: Throwable => -1.0 }
      spark.catalog.clearCache() // release per-query pipeline caches
      name -> dt
    }

    // A/B mode stops here: the headline tile job + scaling rounds cost
    // minutes and say nothing about the named queries under test.
    if (only.isDefined) {
      val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      spark.stop()
      println(
        f"""{"metric":"query sweep (filtered)","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
      return
    }

    // ---- headline: spatial-join + tiling throughput + scaling -------
    // The driver tables are too small (5k docs) to exercise parallelism,
    // so the scaling probe runs the same tiling pipeline (url -> fused
    // geotag+cell encode -> tile rollup) over a deterministic synthetic
    // page table (no external data; seeded by row id).
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "384000000").toLong
    def tileJob(s: SparkSession, parts: Int): DataFrame =
      Scaling.tileJob(s, nPages, parts)
    val nTiles = tileJob(spark, cpus).count()
    // Interleave the two parallelism legs (8,32,8,32) and take per-leg
    // minima: the shared box's load varies on the minutes scale, and a
    // sequential t8-then-t32 measurement folds that drift straight into
    // the efficiency ratio.
    // (wall, cpuSec) per leg — process CPU time is the load-insensitive
    // scaling evidence: equal CPU-seconds at both parallelism levels
    // means the engine added no parallelization work; wall divergence
    // is then box tenancy + per-core clocks, not shuffle/serialization.
    val osb = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Single-thread probe (ADVICE r1): one daemon thread runs a fixed
    // integer-work loop WHILE the leg executes; its rate measures what
    // one thread achieves under that leg's load — per-core clock
    // (turbo) plus timesharing. probe8/probe32 therefore bounds the
    // clock effect FROM ABOVE, and the clock-adjusted efficiency it
    // yields is reported as an upper bound, not a point estimate.
    final class Probe extends Thread {
      @volatile private var running = true
      @volatile var chunks = 0L
      @volatile var sink = 0L // defeat dead-code elimination
      setDaemon(true)
      override def run(): Unit = {
        var x = 12345L; var n = 0L
        while (running) {
          var i = 0
          while (i < 100000) {
            x = x * 6364136223846793005L + 1442695040888963407L; i += 1
          }
          n += 1
        }
        chunks = n; sink = x
      }
      /** CPU-seconds this probe thread has burned (to subtract from the
        * process CPU delta — otherwise the probe itself inflates the
        * cpu8/cpu32 parity it exists to explain). */
      def cpuSec: Double = {
        val tmx = java.lang.management.ManagementFactory.getThreadMXBean
        math.max(0L, tmx.getThreadCpuTime(getId)) / 1e9
      }
      def stopAndRate(wallSec: Double): Double = {
        running = false; join(1000)
        chunks * 100000.0 / wallSec / 1e6 // M ops/sec
      }
    }
    def leg(p: Int, warm: Boolean): (Double, Double, Double) = {
      spark.stop()
      spark = session(p)
      spark.sparkContext.setLogLevel("WARN")
      // 4 task waves per leg: seconds-long tasks overlap transient
      // box-load stragglers (single-wave legs fold any blip straight
      // into the ratio); same practice as 3-4x tasks/core on a cluster.
      if (warm) time(tileJob(spark, p * 4)) // JIT warm, first leg only
      val probe = new Probe
      val c0 = osb.getProcessCpuTime
      probe.start()
      val wall = time(tileJob(spark, p * 4))
      val probeCpu = probe.cpuSec // read BEFORE stop (thread id stays valid)
      val cpu = (osb.getProcessCpuTime - c0) / 1e9 - probeCpu
      (wall, cpu, probe.stopAndRate(wall))
    }
    // interleaved rounds (8,32)x3, min per leg: the shared box
    // sporadically halves CPU throughput for stretches (measured via
    // process-CPU-time probes in graft.Scaling) — per-leg minima over
    // interleaved rounds approximate the unloaded machine for BOTH
    // legs. Soft deadline keeps the whole run inside the driver's
    // timeout when the box is badly loaded (>= 1 round always runs).
    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE", "360").toInt
    // 4 rounds when the deadline allows: per-leg minima converge on the
    // unloaded machine as rounds accumulate (shared-box load varies on
    // the minutes scale), and the soft deadline still caps wall time
    val rounds = (0 until 4).flatMap { i =>
      if (i > 0 && (System.nanoTime() - startedAt) / 1e9 > deadlineSec) None
      else Some((leg(8, warm = i == 0), leg(32, warm = i == 0)))
    }
    val (t8, cpu8, probe8) = rounds.map(_._1).minBy(_._1)
    val (t32, cpu32, probe32) = rounds.map(_._2).minBy(_._1)
    val eff = (t8 / t32) / 4.0
    // cpu8/cpu32 on identical deterministic work folds per-core
    // cycle-rate effects (turbo: 8 busy cores clock higher than 32)
    // together with per-cycle contention (GC, memory bandwidth, spin);
    // dividing it out of the wall ratio therefore yields an UPPER BOUND
    // on the engine-attributable efficiency — contention would persist
    // on same-shape cluster nodes. The probe ratio (single-thread rate
    // during each leg) is the direct clock+timesharing measurement
    // reported alongside so the decomposition is inspectable.
    val effCpu = cpu8 / cpu32
    val effEngine = eff / effCpu
    val probeRatio = if (probe32 > 0) probe8 / probe32 else Double.NaN
    spark.stop()

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      s"""{"metric":"spatial-join + tiling throughput","value":${(nPages / t32).round},"unit":"pages/sec",""" +
      s""""tiles_per_sec":${(nTiles / t32).round},"pages":$nPages,"tiles":$nTiles,""" +
      f""""tile_job_sec_local8":$t8%.3f,"tile_job_sec_local32":$t32%.3f,"scaling_efficiency_8_to_32":$eff%.3f,""" +
      f""""cpu_sec_local8":$cpu8%.1f,"cpu_sec_local32":$cpu32%.1f,"cpu_work_parity_8_to_32":$effCpu%.3f,""" +
      f""""probe_mops_local8":$probe8%.1f,"probe_mops_local32":$probe32%.1f,"probe_clock_ratio":$probeRatio%.3f,""" +
      f""""scaling_efficiency_clock_adjusted_upper_bound":$effEngine%.3f,""" +
      f""""queries_total_sec":$total%.3f,"queries":$qs,"sf":"$sfDir"}""")
  }
}
