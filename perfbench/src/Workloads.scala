package perfbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scaling, SparkEntry}
import graft.cell.CellIndex
import graft.functions.{cell_parent, geotag_cell}
import graft.lineage.Lineage
import graft.sources.{Pages, TileStore}

/** One workload: what it sets up, how it warms, what a measured round
  * does, and which samples feed the shared end-to-end metrics. */
trait Workload {
  def name: String
  /** Samples whose latencies make op_p50_ms / op_tail_ms. */
  def latencyKind: String
  /** Percentile of op_tail_ms: the highest that leaves at least ten
    * samples beyond it in the smallest sample a run takes (the median
    * when a run takes fewer than twenty). Fixed per workload, so a run
    * that fits more rounds reports the same percentile. */
  def tailQuantile: Double
  /** Inputs and expected outputs; runs once per set-up. */
  def setUp(b: Bench, expected: Map[String, String]): Unit
  def warmUp(b: Bench): Unit
  def measure(b: Bench): Unit
  /** This workload's own end-to-end figures: (name, value, unit). */
  def figures(b: Bench): Seq[(String, Double, String)]
  /** Per-layer values this workload measures beyond the Spark counters. */
  def layers(b: Bench): Map[String, Double] = Map.empty
}

object Workloads {

  /** Geo, raster and relational queries: many short multi-job plans
    * (layer group `ops`). */
  val GeoOps: Seq[String] = Seq(
    "q_tpch_agg", "q_tpch_join", "q_events_hourly", "q_sessions", "q_geotag",
    "q_tile_density", "q_mask_fill", "q_histogram", "q_low_cc", "q_clip_window",
    "q_clip_poly", "q_extent", "q_overlaps", "q_overlaps_cells", "q_overlap_boxes",
    "q_asset_udm2", "q_catalog", "q_overlap_pairing", "q_one_vs_all",
    "q_semi_points", "q_semi_points_cells", "q_resample", "q_upsample",
    "q_pyramid", "q_vectorize", "q_stack_indexes", "q_mosaic", "q_calibrate",
    "q_calibrate_e2e", "q_minmax_norm", "q_mean_abs_diff", "q_class_edit",
    "q_correction", "q_extract", "q_salted_extract", "q_extract_masked",
    "q_confusion", "q_class_metrics", "q_knn", "q_lineage_resume")

  /** Vector-family queries of the dedup_text workload. */
  val Vector: Set[String] = Set("q_embed_knn", "q_dedup_embed",
    "q_dedup_embed_banded", "q_ann_lsh", "q_ann_lsh_mp", "q_ann_ivf")

  /** Text, dedup, vector and media queries: iterative pipelines
    * (layer groups `text` and `vector`). */
  val DedupText: Seq[String] = Seq(
    "q_extract_text", "q_dedup_exact", "q_minhash_lsh", "q_simhash",
    "q_simhash_capped", "q_simhash_salvaged", "q_dedup_clusters", "q_dedup_e2e",
    "q_clean_corpus", "q_ngram_jaccard", "q_ngram_capped", "q_minhash_capped",
    "q_minhash_salvaged", "q_minhash_wide", "q_lang_id", "q_quality",
    "q_token_count", "q_fingerprint", "q_multimodal") ++ Vector.toSeq.sorted

  /** Locally checkpointed RDDs a query leaves persisted after
    * `clearCache`: the checkpoints in `Dedup.clusters` and, twice, in
    * `sources.Assets`. An engine leak, counted and released between
    * queries; any other persisted RDD fails the query that left it. */
  val LocalCheckpoints: Map[String, Int] = Map("q_dedup_clusters" -> 1,
    "q_dedup_e2e" -> 1, "q_clean_corpus" -> 1, "q_overlap_pairing" -> 2)

  /** Layer group of a registered query. */
  def groupOf(q: String): String =
    if (GeoOps.contains(q)) "ops" else if (Vector(q)) "vector" else "text"

  /** Refuse to run unless every listed name is registered and every
    * registered query sits in exactly one list. */
  def checkRegistry(registry: Set[String]): Unit = {
    val listed = GeoOps ++ DedupText
    val unknown = listed.filterNot(registry).sorted
    val twice = listed.diff(listed.distinct).sorted
    val unlisted = (registry -- listed).toSeq.sorted
    require(unknown.isEmpty, s"listed but not registered: ${unknown.mkString(", ")}")
    require(twice.isEmpty, s"listed more than once: ${twice.mkString(", ")}")
    require(unlisted.isEmpty, s"registered but in no workload: ${unlisted.mkString(", ")}")
  }

  val Names: Seq[String] = Seq("tile_rollup", "queries")

  def apply(name: String, tiny: Boolean): Workload = name match {
    case "tile_rollup" => new TileRollup(if (tiny) 200000L else 1000000L, 5,
      new TileCommit(if (tiny) 20000L else 200000L, if (tiny) 5 else 30))
    case "queries" => new Queries("queries", GeoOps ++ DedupText,
      if (tiny) 0.002 else 0.02, Inputs.sizes(0).keys.toSeq.sorted)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  private[perfbench] def expect(expected: Map[String, String], key: String): String =
    expected.getOrElse(key, throw new IllegalStateException(s"no expected digest for $key"))
}

/** `SparkEntry.queries` entries over generated tables, each checked
  * against its expected digest; query order is shuffled per round. */
final class Queries(val name: String, list: Seq[String], sf: Double, tables: Seq[String])
    extends Workload {
  val latencyKind = "query"
  val tailQuantile: Double = Stats.tailQuantile(list.size)
  private var dir: String = _
  private var want: Map[String, String] = Map.empty

  def setUp(b: Bench, expected: Map[String, String]): Unit = {
    dir = s"${b.cfg.work}/data"
    Inputs.write(b.spark, sf, dir, tables)
    want = list.map(q => q -> Workloads.expect(expected, s"$sf/$q")).toMap
  }

  private def run(b: Bench, kind: String, q: String): Sample = {
    val g = Workloads.groupOf(q)
    b.op(kind, g, q, () => b.isolate(g, Workloads.LocalCheckpoints.getOrElse(q, 0))) {
      val df = b.phase(g, q, "plan")(SparkEntry.queries(q)(b.spark, dir))
      b.phase(g, q, "run")(Digest.of(df)).key == want(q)
    }
  }

  def warmUp(b: Bench): Unit = ()

  def measure(b: Bench): Unit = b.rounds(b.cfg.seconds) { r =>
    new Random(b.cfg.seed * 7919 + r).shuffle(list).foreach(q => run(b, latencyKind, q))
  }

  def figures(b: Bench): Seq[(String, Double, String)] = {
    val lat = b.latencies(latencyKind)
    Seq(("round_s", Stats.median(b.roundSecs.toSeq), "s"),
      ("query_p50_s", Stats.median(lat), "s"),
      ("query_tail_s", Stats.percentile(lat, tailQuantile), "s"))
  }
}

/** The headline rollup: `Scaling.tileJob` over `Pages.synthetic`,
  * at local[cores] and, in a traced run, at local[1] for scaling. A
  * round is `perRound` passes, so a round and a pass are separate
  * figures. The end-to-end metrics come from the rollup passes alone;
  * one `commit` round then runs the write path, checked and reported
  * per layer. */
final class TileRollup(pages: Long, perRound: Int, val commit: TileCommit) extends Workload {
  val name = "tile_rollup"
  val latencyKind = "pass"
  /** A ten-second run measures 30 or more passes on 4 cores (about
    * three a second), so p66 leaves ten samples beyond it. */
  val tailQuantile: Double = Stats.tailQuantile(30)
  private var want: String = _

  def setUp(b: Bench, expected: Map[String, String]): Unit =
    want = Workloads.expect(expected, s"tile_rollup/$pages")

  /** One checked pass; `group` keeps the local[1] leg out of `tileJob`. */
  private def pass(b: Bench, kind: String, group: String = "tileJob"): Sample =
    b.op(kind, group, "tileJob") {
      val df = b.phase(group, "tileJob", "plan")(
        Scaling.tileJob(b.spark, pages, b.spark.sparkContext.defaultParallelism * 4))
      val d = b.phase(group, "tileJob", "run")(Digest.of(df, Some("n_pages")))
      d.sum == pages && d.key == want
    }

  def warmUp(b: Bench): Unit = { pass(b, "warm"); commit.warmUp(b) }

  /** Passes at local[cores], one commit round; a traced run then adds
    * the local[1] leg of the scaling figure in a fresh session (warmed
    * by one pass). */
  def measure(b: Bench): Unit = {
    b.rounds(b.cfg.seconds)(_ => (0 until perRound).foreach(_ => pass(b, latencyKind)))
    commit.measure(b)
    if (b.cfg.trace) {
      b.startSession(1)
      pass(b, "warm", "tileJob.local1")
      pass(b, "pass1", "tileJob.local1")
      b.startSession(b.cfg.cores)
    }
  }

  def figures(b: Bench): Seq[(String, Double, String)] = {
    Seq(("pages_per_s", pages / Stats.median(b.latencies(latencyKind)), "pages/s")) ++
      commit.figures(b)
  }

  /** (pages/s at local[cores] / at local[1]) / cores, traced runs only. */
  override def layers(b: Bench): Map[String, Double] = commit.layers(b) ++
    Map("tileJob.scaling_eff_1_to_4" -> Stats.median(b.latencies("pass1")) /
      Stats.median(b.latencies(latencyKind)) / b.cfg.cores)
}

/** Writes beside reads: generated geo pages committed through
  * `TileStore.commit`, read back, scanned in seeded windows with
  * `TileStore.scanCoverAt`, then resumed with `Lineage.pending`. */
final class TileCommit(rows: Long, scans: Int) {
  private val tailQuantile: Double = Stats.tailQuantile(scans)
  /** Coarser than TileStore's default (14): at this row count the
    * default writes about one file per 50 rows, and per-file listing
    * and open costs would hide the range shuffle, sort and write this
    * workload is for. 20 keeps 16 prefixes of about 12,000 rows each,
    * closer to the file sizes the default gives at production scale. */
  private val PrefixShift = 20
  private val CoverRes = SparkEntry.TileRes
  private val Steps = SparkEntry.Res - CoverRes
  private var bytesPerRow = Seq.empty[Double]
  private var files = Seq.empty[Double]
  /** Rows the measured window scans returned, summed. */
  var rowsReturned = 0L

  /** The first `rows` of `Pages.synthetic`, geotagged. */
  private def pages(b: Bench, rows: Long): DataFrame =
    Pages.synthetic(b.spark, rows, b.cfg.cores * 2).select("doc_id", "url", "lang")
      .withColumn("cell", geotag_cell(col("url"), SparkEntry.Res))

  /** Row hash exactly as Digest.of computes it for these columns. */
  private def rowHash(df: DataFrame) =
    xxhash64(df.columns.map(c => col(c).cast("string")): _*)

  private def round(b: Bench, kind: String, r: Int, rows: Long, scans: Int): Unit = {
    val spark = b.spark
    val store = s"${b.cfg.work}/store/r$r"
    val df = pages(b, rows)
    var snap: String = null
    b.op(if (kind == "warm") kind else "commit", "TileStore.commit", "commit") {
      snap = b.phase("TileStore.commit", "commit", "run")(
        TileStore.commit(df, store, "perfbench", input = Some(df), prefixShift = PrefixShift))
      snap != null
    }
    if (snap == null) return
    // expected (rows, hash) per cover cell: the full snapshot, filtered
    // to each window below by summing the cells the window covers
    var perCell = Map.empty[Long, (Long, Long)]
    b.op(if (kind == "warm") kind else "check", "check", "readback") {
      val full = TileStore.readAt(spark, store, snap)
      val h = rowHash(full)
      perCell = full.groupBy(cell_parent(col("cell"), Steps).as("c"))
        .agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)), sum(shiftright(h, 32)))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2) + (r.getLong(3) << 32))).toMap
      val lin = TileStore.lineage(spark, store)
        .agg(sum("rows_in"), sum("rows_out")).head()
      perCell.values.map(_._1).sum == rows &&
        lin.getLong(0) == rows && lin.getLong(1) == rows
    }
    val occupied = perCell.keys.toArray.sorted
    val rnd = new Random(b.cfg.seed * 104729 + r)
    // a failed read-back already counted; without cells there is nothing to scan
    if (occupied.nonEmpty) (0 until scans).foreach { _ =>
      val cover = CellIndex.disk(occupied(rnd.nextInt(occupied.length)), rnd.nextInt(3))
      b.op(if (kind == "warm") kind else "scan", "TileStore.scanCoverAt", "scan") {
        val d = b.phase("TileStore.scanCoverAt", "scan", "run")(
          Digest.of(TileStore.scanCoverAt(spark, store, snap, cover, SparkEntry.Res, PrefixShift)))
        val want = cover.toSeq.flatMap(perCell.get)
        if (kind != "warm") rowsReturned += d.rows
        d.rows == want.map(_._1).sum && d.hash == want.map(_._2).sum
      }
    }
    b.op(if (kind == "warm") kind else "pending", "lineage", "Lineage.pending") {
      val planned = df.select(cell_parent(col("cell"), Steps).as("cell")).distinct()
      b.phase("lineage", "Lineage.pending", "run")(
        Lineage.pending(planned, TileStore.lineage(spark, store), "perfbench", snap)
          .count()) == 0
    }
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDir = new Path(TileStore.dataDir(store, snap))
    val usage = fs.getContentSummary(snapDir)
    if (kind != "warm") {
      bytesPerRow :+= usage.getLength.toDouble / rows
      files :+= fs.listFiles(snapDir, true).asScala
        .count(_.getPath.getName.endsWith(".parquet")).toDouble
    }
    fs.delete(new Path(store), true)
  }

  private implicit class RemoteIter[T](it: org.apache.hadoop.fs.RemoteIterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** A tenth of a round: enough to compile every code path. */
  def warmUp(b: Bench): Unit = round(b, "warm", 1000, rows / 10, 3)

  def measure(b: Bench): Unit = round(b, "round", 0, rows, scans)

  def figures(b: Bench): Seq[(String, Double, String)] = {
    val scan = b.latencies("scan")
    Seq(("commit_rows_per_s", rows / Stats.median(b.latencies("commit")), "rows/s"),
      ("scan_p50_ms", Stats.median(scan) * 1000, "ms"),
      ("scan_tail_ms", Stats.percentile(scan, tailQuantile) * 1000, "ms"),
      ("stored_bytes_per_row", Stats.median(bytesPerRow), "B/row"))
  }

  def layers(b: Bench): Map[String, Double] = Map(
    "sources.TileStore.bytes_written" -> Stats.median(bytesPerRow) * rows,
    "sources.TileStore.files_written" -> Stats.median(files),
    "lineage.Lineage.pending_s" -> Stats.median(b.latencies("pending")))
}
