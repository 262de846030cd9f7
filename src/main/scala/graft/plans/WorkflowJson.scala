package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.functions._
import graft.geo.Polygon
import graft.ops.{Clip, Mask, Resample, Tiles}
import graft.sources.Pages

/**
 * Declarative JSON workflow loader — the functional version of the
 * reference's vestigial `WorkFlowParser`/`GeoRWf` (geoRpro
 * tasks.py:47-119: a whitelist validator over `{task: {inp, out,
 * operations: {op: params}}}` whose runner class never existed).
 *
 * Here a task compiles to ONE lazy DataFrame plan — each operation is a
 * `DataFrame => DataFrame` transformer folded in JSON order, so Catalyst
 * sees the whole chain (the reference materialized after every step,
 * SURVEY.md §3.1). Unknown tasks/attributes/operations fail fast with
 * the op name (the reference raised a bare ValueError on the first
 * entry, tasks.py:59-66).
 *
 * Compile/run split: [[compileTask]] NEVER launches a Spark job — every
 * operation (including ann_topk with a trained codebook, loaded from a
 * JSON sidecar by plain file IO) assembles plan only. Actions live in
 * [[run]]: the `out` parquet write and the `train_codebook` k-means +
 * sidecar persist, executed in JSON task order.
 */
object WorkflowJson {

  val Attrs = Set("inp", "out", "operations", "train_codebook")

  /** Required-attribute access: a missing attribute names itself (and,
    * via the compileTask wrap, its operation) instead of a contextless
    * NullPointerException — the documented fail-fast contract. */
  private def req(p: JsonNode, name: String): JsonNode = {
    val n = p.get(name)
    require(n != null, s"missing required attribute '$name'")
    n
  }

  /** op name -> (params, df) => df. The whitelist (TASKS analog). */
  val Ops: Map[String, (JsonNode, DataFrame) => DataFrame] = Map(
    // F16/F15: geotag + cell encode at params.res (lon/lat kept so
    // downstream clips can refine exactly, Pages.geoPages parity)
    "geotag" -> ((p, df) => df
      .withColumn("lon", geotag_lon(col("url")))
      .withColumn("lat", geotag_lat(col("url")))
      .withColumn("cell", cell_of(col("lon"), col("lat"), req(p, "res").asInt))),
    // P1/P3 mask_raster analog: mask col where value in values, fill
    "mask_vals" -> { (p, df) =>
      val c = req(p, "col").asText
      val vals = req(p, "values").elements.asScala.map(_.asText).toSeq
      val fill = req(p, "fill").asLong
      df.withColumn(c + "_masked",
        Mask.applyMask(Mask.maskCond(col(c), col(req(p, "on").asText).isin(vals: _*)), fill))
    },
    // S3 windowed clip
    "clip_window" -> ((p, df) => Clip.window(df, req(p, "res").asInt,
      req(p, "lonMin").asDouble, req(p, "latMin").asDouble,
      req(p, "lonMax").asDouble, req(p, "latMax").asDouble)),
    // S4 polygon clip by registry name
    "clip_poly" -> ((p, df) => Clip.byPolygon(df,
      Polygon.registry(req(p, "name").asText), req(p, "res").asInt)),
    // A12/R3 rasterize to tiles
    "tile_density" -> ((p, df) => Tiles.rasterize(df,
      req(p, "res").asInt, req(p, "tileRes").asInt)),
    // R1 downsample of a (cell, v) relation
    "resample" -> ((p, df) => Resample.downsample(df,
      req(p, "col").asText, req(p, "steps").asInt, req(p, "agg").asText)),
    // generic projection/filter escape hatches (SQL fragments)
    "select" -> ((p, df) =>
      df.selectExpr(p.elements.asScala.map(_.asText).toSeq: _*)),
    "filter" -> ((p, df) => df.filter(p.asText)),
    // ---- training-data pipeline steps (SURVEY §2.12) ----------------
    // exact dedup: keep the min-id doc per identical text
    "dedup_exact" -> { (p, df) =>
      val id = req(p, "id").asText; val text = req(p, "text").asText
      df.join(graft.text.Dedup.exact(df, id, text)
        .select(col("keeper").as(id)), Seq(id), "left_semi")
    },
    // near-dup removal: simhash pairs -> connected components -> keep
    // one doc per cluster (params: id, text, maxHamming). The band
    // count derives from maxHamming (Dedup.simhashNumBands), so the
    // pigeonhole recall guarantee holds for every accepted value and
    // an unsupported one fails fast at compile time (ADVICE r3 #1 —
    // a fixed 4-band blocking silently under-deleted at maxHamming>=4)
    // optional scale knobs: maxBucket (band-bucket cap) and
    // salvageFactor (sub-bucket salvage tier; requires maxBucket —
    // Dedup.applyBucketPolicy raises it while the task compiles)
    "dedup_near" -> { (p, df) =>
      val id = req(p, "id").asText; val text = req(p, "text").asText
      val mh = if (p.has("maxHamming")) req(p, "maxHamming").asInt else 3
      val mb = if (p.has("maxBucket")) Some(req(p, "maxBucket").asInt) else None
      val sf = if (p.has("salvageFactor")) Some(req(p, "salvageFactor").asInt)
               else None
      graft.text.Dedup.keepClusterKeepers(df, id,
        graft.text.Dedup.simhashPairs(df, id, text, mh, mb, sf))
    },
    // the composed C4-style cleaning flagship as ONE declarative step
    // (params: id, text; optional minTokens, maxMeanTokLen) — the same
    // oracle-gated Clean.cleanCorpus the q_clean_corpus gate runs
    "clean_corpus" -> { (p, df) =>
      val minTok = if (p.has("minTokens")) req(p, "minTokens").asLong else 15L
      val maxMtl =
        if (p.has("maxMeanTokLen")) req(p, "maxMeanTokLen").asDouble else 4.9
      graft.text.Clean.cleanCorpus(df, req(p, "id").asText,
        req(p, "text").asText, minTok, maxMtl)
    },
    // ---- vector/embedding pipeline steps (VERDICT r3 missing #3) ----
    // embedding near-dup removal: quantize -> banded r-of-b hyperplane
    // blocking -> exact-cosine verify -> connected components -> keep
    // one row per cluster (params: id, vec, dim, threshold; optional
    // numPlanes, rowsPerBand, maxBucket, salvageFactor — the same
    // three-tier bucket policy knobs as dedup_near)
    "embed_neardup" -> { (p, df) =>
      val id = req(p, "id").asText; val vec = req(p, "vec").asText
      val planes = if (p.has("numPlanes")) req(p, "numPlanes").asInt else 16
      val rows = if (p.has("rowsPerBand")) req(p, "rowsPerBand").asInt else 8
      val maxBucket =
        if (p.has("maxBucket")) Some(req(p, "maxBucket").asInt) else None
      val salvage =
        if (p.has("salvageFactor")) Some(req(p, "salvageFactor").asInt)
        else None
      val corpus = df.select(col(id).as("id"),
        graft.vector.Ann.quantize(col(vec)).as("v"))
      val pairs = graft.vector.Ann.cosineNearDupBanded(corpus,
        req(p, "dim").asInt, req(p, "threshold").asDouble, planes, rows,
        maxBucket, salvage)
      graft.text.Dedup.keepClusterKeepers(df, id, pairs)
    },
    // ANN top-k over an embedding column (params: id, vec, dim, k,
    // method brute|lsh|ivf; optional queryMod — queries are the rows
    // with id % queryMod == 0; optional codebookPath — a trained IVF
    // codebook sidecar written by a `train_codebook` task, loaded here
    // by plain driver file IO). Emits (qid, rank, id, cos).
    // Compiling an ann_topk task launches ZERO Spark jobs — training
    // is a separate `train_codebook` workflow ACTION (the round-4
    // verdict's weak #1: trainIters ran Lloyd passes at plan-BUILD),
    // and the broadcast gate measures the query side at action time
    // (GatePlans.gate).
    "ann_topk" -> { (p, df) =>
      val id = req(p, "id").asText; val vec = req(p, "vec").asText
      val dim = req(p, "dim").asInt; val k = req(p, "k").asInt
      val qmod = if (p.has("queryMod")) req(p, "queryMod").asLong else 50L
      // id % 0 is NULL in non-ANSI Spark -> silently zero queries
      require(qmod > 0, s"ann_topk queryMod must be positive, got $qmod")
      require(!p.has("trainIters"),
        "ann_topk trainIters was removed (it ran k-means jobs at plan-" +
        "build): train with a 'train_codebook' task, then pass its " +
        "sidecar as codebookPath — task compilation stays job-free")
      require(!p.has("codebookPath") || req(p, "method").asText == "ivf",
        "ann_topk codebookPath only applies to method 'ivf'")
      val corpus = df.select(col(id).as("id"),
        graft.vector.Ann.quantize(col(vec)).as("v"))
      val queries = corpus.filter(col("id") % qmod === 0)
        .select(col("id").as("qid"), col("v").as("qv"))
      req(p, "method").asText match {
        case "brute" => graft.vector.Ann.cosineTopK(queries, corpus, k)
        case "lsh" => graft.vector.Ann.lshTopK(queries, corpus, dim, k)
        case "ivf" =>
          val book = if (p.has("codebookPath"))
            Some(graft.vector.Ann.loadCodebook(
              req(p, "codebookPath").asText, expectDim = Some(dim)))
          else None
          graft.vector.Ann.ivfTopK(queries, corpus, dim, k, book)
        case m => throw new IllegalArgumentException(
          s"unknown ann_topk method '$m' (allowed: brute, lsh, ivf)")
      }
    },
    // text-quality feature columns (params: text)
    "quality" -> { (p, df) =>
      val t = col(req(p, "text").asText)
      df.withColumn("n_char", length(t).cast("long"))
        .withColumn("n_tok", graft.text.TextOps.nTokens(t))
        .withColumn("mean_tok_len", graft.text.TextOps.meanTokenLen(t))
    },
    // language id (params: text)
    "lang_id" -> ((p, df) =>
      df.withColumn("pred_lang",
        graft.text.TextOps.langId(col(req(p, "text").asText))))
  )

  def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  /** Compile one task node to a lazy plan over sfDir tables. */
  def compileTask(spark: SparkSession, sfDir: String, task: JsonNode): DataFrame = {
    task.fieldNames.asScala.foreach { a =>
      require(Attrs.contains(a), s"unknown task attribute '$a' (allowed: $Attrs)")
    }
    val inp = req(task, "inp").asText
    val base = inp match {
      case "pages" => Pages.fromDocuments(spark, sfDir)
      case t => Pages.table(spark, sfDir, t)
    }
    // `operations` is optional: an action-only task (train_codebook /
    // out over a bare table) compiles to the input relation itself
    val ops = task.get("operations")
    if (ops == null) base
    else ops.fieldNames.asScala.foldLeft(base) { (df, op) =>
      val f = Ops.getOrElse(op,
        throw new IllegalArgumentException(
          s"unknown operation '$op' (allowed: ${Ops.keys.toSeq.sorted})"))
      try f(ops.get(op), df)
      catch { // name the failing operation in param errors
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"operation '$op': ${e.getMessage}", e)
      }
    }
  }

  /** Run one task's `train_codebook` ACTION: distributed Lloyd k-means
    * over the task's compiled relation (so `operations` can filter /
    * sample the training corpus first), persisted as a JSON sidecar.
    * Params: vec, dim, path; optional numCentroids, iters. This is the
    * ONLY place in the declarative surface that launches Spark jobs
    * besides `out` writes — search tasks consume the sidecar by
    * codebookPath with job-free compilation. */
  def trainCodebook(df: DataFrame, params: JsonNode): Unit = {
    val vec = req(params, "vec").asText
    val dim = req(params, "dim").asInt
    val nc = if (params.has("numCentroids")) req(params, "numCentroids").asInt
             else graft.vector.Ann.NumCentroids
    val iters = if (params.has("iters")) req(params, "iters").asInt else 5
    require(iters > 0, s"train_codebook iters must be positive, got $iters")
    val corpus = df.select(graft.vector.Ann.quantize(col(vec)).as("v"))
    val book = graft.vector.Ann.trainCodebook(corpus, dim, nc, iters)
    graft.vector.Ann.saveCodebook(req(params, "path").asText, book)
  }

  /** Compile every task; RUN the action-bearing attributes in JSON
    * order — `train_codebook` (k-means + sidecar write) and `out`
    * (parquet write). Tasks execute sequentially, so a search task
    * listed after its training task sees the fresh sidecar. */
  def run(spark: SparkSession, sfDir: String, json: String): Map[String, DataFrame] = {
    val root = parse(json)
    root.fieldNames.asScala.map { name =>
      val task = root.get(name)
      val df = compileTask(spark, sfDir, task)
      if (task.has("train_codebook"))
        trainCodebook(df, task.get("train_codebook"))
      if (task.has("out"))
        df.write.mode("overwrite").parquet(task.get("out").asText)
      name -> df
    }.toMap
  }
}
