package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** Entry point of one benchmark run (see perfbench/README.md).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores C --work DIR --expected FILE [--scale tiny]
  *          [--spans FILE]
  *
  * Prints one line per figure, then, as its last line, the JSON result:
  * the end-to-end metrics with --trace 0, the per-layer ones with 1. */
object Main {

  /** Layer groups of the per-layer metrics. */
  val Groups = Seq("tileJob", "TileStore.commit", "TileStore.scanCoverAt", "ops", "text", "vector")
  /** Queries whose own wall time and job counts are reported. */
  val NamedQueries = Seq("ops.q_knn", "ops.q_clip_poly", "ops.q_semi_points",
    "ops.q_overlaps_cells", "ops.q_pyramid", "ops.q_calibrate_e2e",
    "text.q_ngram_capped", "text.q_clean_corpus", "text.q_dedup_clusters",
    "text.q_minhash_lsh", "text.q_minhash_capped", "vector.q_ann_ivf")

  def parse(args: Array[String]): Config = {
    require(args.length % 2 == 0, s"expected --key value pairs, got: ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k"); k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "cores", "work",
      "expected", "scale", "spans")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, not $trace")
    val scale = kv.getOrElse("scale", "full")
    require(scale == "full" || scale == "tiny", s"--scale must be full or tiny, not $scale")
    val cfg = Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      trace == "1", need("cores").toInt, scale == "tiny", need("work"), need("expected"),
      kv.get("spans"))
    require(Workloads.Names.contains(cfg.workload),
      s"unknown workload '${cfg.workload}' (one of ${Workloads.Names.mkString(", ")})")
    require(cfg.seconds >= 1 && cfg.cores >= 1, "--seconds and --cores must be positive")
    cfg
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    // exit explicitly: a thread Spark leaves behind must not keep a
    // finished (or failed) run alive
    val code = try { run(args, jvmStartS); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String], jvmStartS: Double): Unit = {
    val cfg = parse(args)
    Workloads.checkRegistry(SparkEntry.queries.keySet)
    val expected = Json.readStringMap(
      new String(Files.readAllBytes(Paths.get(cfg.expected)), "UTF-8"))
    val w = Workloads(cfg.workload, cfg.tiny)
    val b = new Bench(cfg)
    try {
      // set up three times; the median is the figure (the first one
      // also pays class loading, which the JVM start-up term already
      // stands for)
      val setups = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        b.startSession(cfg.cores)
        w.setUp(b, expected)
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = jvmStartS + Stats.median(setups)
      val w0 = System.nanoTime()
      w.warmUp(b)
      val warmS = (System.nanoTime() - w0) / 1e9
      b.tracer.foreach(_.reset())
      b.span(s"measure/${w.name}")(w.measure(b))
      val heapMb = Heap.liveMb()

      val lat = b.latencies(w.latencyKind)
      val tailQ = w.tailQuantile
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("round_s", Stats.median(b.roundSecs.toSeq), "s"),
        ("op_p50_ms", Stats.median(lat) * 1000, "ms"),
        ("op_tail_ms", Stats.percentile(lat, tailQ) * 1000, "ms"),
        ("heap_live_mb", heapMb, "MB"))
      val failedRatio = b.failed.toDouble / b.attempted
      val lines = e2e ++ w.figures(b) :+ ("failed_ratio", failedRatio, "ratio")
      lines.foreach { case (k, v, u) => println(f"${w.name} $k%-28s $v%.6g $u") }
      println(f"${w.name} samples: ${lat.size} ${w.latencyKind} ops, " +
        f"${b.roundSecs.size} rounds, tail = p${tailQ * 100}%.0f; " +
        f"${b.attempted} operations, ${b.failed} failed; JVM start ${jvmStartS}%.2f s, " +
        s"set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " + f"warm-up $warmS%.2f s")

      val metrics = b.tracer match {
        case None => e2e.map { case (k, v, u) => k -> metric(v, u) }
        case Some(t) =>
          val layers = perLayer(b, t, w) ++ Kernels.measure(b, cfg.tiny)
          cfg.spans.foreach(p => Files.write(Paths.get(p), t.spansJson.asJava))
          layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"layer $k%-58s $v%.6g") }
          LayerNames.map(k => k -> metric(layers.getOrElse(k, 0.0), unitOf(k)))
      }
      println(Json.obj(Seq(
        "correct" -> (b.failed == 0).toString,
        "attempted" -> b.attempted.toString,
        "failed" -> b.failed.toString,
        "metrics" -> Json.obj(metrics))))
    } finally b.stop()
  }

  private def metric(v: Double, unit: String): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  private val GroupMetrics = Seq("jobs", "stages", "plan_jobs", "plan_s", "idle_core_s",
    "tasks", "task_s", "exec_s", "shuffle_write_bytes", "spill_bytes", "gc_s",
    "cached_bytes_left", "persisted_rdds_left")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val LayerNames: Seq[String] =
    Seq("geotag_cell", "cell_parent").map(k => s"functions.$k.ns_per_row") ++
      Seq("sources.Pages.synthetic.ns_per_row") ++
      Seq("cell_of", "point_in_poly", "topk_by", "minhash_sigs", "simhash60", "shingles_k")
        .map(k => s"functions.$k.ns_per_row") ++
      Groups.flatMap(g => GroupMetrics.map(m => s"$g.$m")) ++
      Seq("tileJob.scaling_eff_1_to_4") ++
      Seq("sources.TileStore.bytes_written", "sources.TileStore.files_written",
        "sources.TileStore.scanCoverAt.rows_read_per_row_returned",
        "lineage.Lineage.pending_s") ++
      NamedQueries.flatMap(q => Seq("wall_s", "jobs", "plan_jobs").map(m => s"$q.$m"))

  def unitOf(k: String): String = k.split('.').last match {
    case "ns_per_row" => "ns/row"
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("bytes") || s == "cached_bytes_left" || s == "bytes_written" => "B"
    case "rows_read_per_row_returned" | "scaling_eff_1_to_4" => "ratio"
    case _ => "count"
  }

  /** Spark counters per layer group and named query, per measured
    * round (per run for the single commit round), plus what the
    * workload measures itself. */
  private def perLayer(b: Bench, t: Tracer, w: Workload): Map[String, Double] = {
    t.drain()
    val rounds = math.max(1, b.roundSecs.size).toDouble
    val spans = t.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def groupOf(s: Span) = s.name.takeWhile(_ != '/')
    val opSpans = spans.filter(s => s.name.contains('/') && !s.name.startsWith("measure/"))
    val groups = Groups.flatMap { g =>
      val c = t.group(g)
      val wallS = opSpans.filter(groupOf(_) == g).map(_.dur).sum / 1e9
      val planS = spans.filter(s => s.name == "plan" &&
        byId.get(s.parent).exists(groupOf(_) == g)).map(_.dur).sum / 1e9
      Seq("jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
        "plan_jobs" -> c.planJobs.toDouble, "plan_s" -> planS,
        "idle_core_s" -> (b.cfg.cores * wallS - c.taskNs / 1e9),
        "tasks" -> c.tasks.toDouble, "task_s" -> c.taskNs / 1e9, "exec_s" -> c.execNs / 1e9,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        "spill_bytes" -> c.spillBytes.toDouble, "gc_s" -> c.gcNs / 1e9,
        "cached_bytes_left" -> b.cachedLeft(g).toDouble,
        "persisted_rdds_left" -> b.rddsLeft(g).toDouble)
        .map { case (m, v) => s"$g.$m" -> v / (if (g.startsWith("TileStore")) 1.0 else rounds) }
    }
    val queries = NamedQueries.flatMap { gq =>
      val q = gq.dropWhile(_ != '.').drop(1)
      val runs = b.samples.filter(s => s.name == q && s.kind == w.latencyKind)
      if (runs.isEmpty) Nil
      else {
        val c = t.op(q)
        Seq(s"$gq.wall_s" -> Stats.median(runs.map(_.sec).toSeq),
          s"$gq.jobs" -> c.jobs.toDouble / runs.size,
          s"$gq.plan_jobs" -> c.planJobs.toDouble / runs.size)
      }
    }
    val scan = t.group("TileStore.scanCoverAt")
    val scanRows = w match {
      case tr: TileRollup => tr.commit.rowsReturned
      case _ => 0L
    }
    val readRatio =
      if (scanRows > 0) Seq("sources.TileStore.scanCoverAt.rows_read_per_row_returned" ->
        scan.recordsRead.toDouble / scanRows) else Nil
    (groups ++ queries ++ readRatio).toMap ++ w.layers(b)
  }
}
