package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/**
 * The engine's input relation: an Iceberg-style table of Common-Crawl-ish
 * web pages `(url, warc_ts, html, text, lang)` (BASELINE.json
 * `input_hint`), derived *deterministically* from the driver's
 * `documents.parquet` so the DuckDB oracle can rebuild the exact same
 * rows in SQL (no data is synthesized outside the shared derivation).
 *
 * Derivation (pure in doc_id/text/lang):
 *  - tld: weighted CASE ladder on doc_id % 100 — skewed toward .de/.ru/
 *    .jp/... to manufacture pathological hot cells (SURVEY.md §4.3:
 *    every *.de page lands within +-2 deg of one centroid).
 *  - url  = 'https://h{doc_id}.example.{tld}/p'
 *  - warc_ts = epoch 2024-01-01T00:00:00Z + (doc_id % 86400)*37 sec
 *  - html = '<html><head><title>d{doc_id}</title></head><body><p>' ||
 *           text || '</p></body></html>' as UTF-8 binary — `text` is
 *    recoverable byte-identically (the extraction invariant).
 *
 * This object is the catalog layer (the `Sentinel2` analog, geoRpro
 * sent2.py:5-75): it resolves named tables under a scale-factor dir.
 */
object Pages {

  /** (upper-exclusive bound on doc_id%100) -> tld, ascending. Mirrors
    * Oracle.tldCaseSql — keep the two in sync. */
  val tldLadder: Seq[(Int, String)] = Seq(
    20 -> "de", 35 -> "ru", 45 -> "jp", 53 -> "uk", 60 -> "fr",
    66 -> "br", 72 -> "in", 77 -> "cn", 81 -> "it", 85 -> "nl",
    88 -> "pl", 91 -> "es", 94 -> "au", 97 -> "us", 100 -> "io")

  val Epoch: Long = 1704067200L // 2024-01-01T00:00:00Z

  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** path -> (mtime:length stamp, schema), session-independent. The
    * stamp is the staleness guard: a table REWRITTEN at the same path
    * in one long-lived JVM (a workflow whose `out` a later run reads
    * back via `inp`) gets a fresh footer read instead of the old
    * schema; immutable inputs still hit the memo on every call after
    * the first. Keyed by PATH with the stamp in the VALUE (ADVICE r5
    * #2: stamp-in-key accumulated one dead entry per rewrite forever,
    * and the getFileStatus-failure fallback silently reintroduced the
    * stale path-only key) — a replaced stamp evicts its predecessor,
    * so the memo is bounded by the number of distinct paths. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** Schema of a parquet input table WITHOUT a Spark job: a schema-less
    * `spark.read.parquet` runs footer-based inference as a distributed
    * job, which would break the declarative surface's "task compilation
    * launches zero Spark jobs" contract (WorkflowJson) — the one
    * compile-time job the deferred broadcast gate couldn't remove. Here
    * the driver reads ONE footer directly (file, or first data file of
    * a directory-style table) and prefers the Spark schema JSON the
    * writer stored in footer metadata — exactly what Spark's own
    * single-file inference returns — falling back to the parquet->Spark
    * type converter, then to a real inference job if footer reading
    * fails for any reason. `asNullable` matches file-source inference.
    * Driver footer IO is how Spark itself bounds metadata cost; one
    * footer per distinct path per JVM, memoized. */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    // a failed getFileStatus (e.g. some object stores) degrades to a
    // fixed stamp: the schema still memoizes per path (bounded), at the
    // documented cost that rewrites behind such a store are not
    // detected within one JVM
    val stamp = try {
      val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val root = new org.apache.hadoop.fs.Path(path)
      val st = root.getFileSystem(cs.sessionState.newHadoopConf()).getFileStatus(root)
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case scala.util.control.NonFatal(_) => "unstamped" }
    schemaMemo.compute(path, { (_, prev) =>
      if (prev != null && prev._1 == stamp) prev
      else (stamp,
        try driverFooterSchema(spark, path)
        catch { case scala.util.control.NonFatal(_) =>
          spark.read.parquet(path).schema })
    })._2
  }

  private def driverFooterSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = cs.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val file =
      if (!st.isDirectory) root
      else fs.listStatus(root).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .minBy(_.getPath.getName).getPath
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val meta = footer.getFileMetaData
    val stored = Option(
      meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    org.apache.spark.sql.graft.Bridge.asNullable(
      stored.map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse {
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(cs.sessionState.conf)
            .convert(meta.getSchema)
        })
  }

  /** Weighted tld pick from a mod-100 column (mirror Oracle.tldCaseOn). */
  def tldLadderCol(t: Column): Column =
    tldLadder.init.foldRight(lit(tldLadder.last._2)) {
      case ((bound, tld), elseCol) => when(t < bound, tld).otherwise(elseCol)
    }

  private def tldCol(docId: Column): Column = tldLadderCol(docId % 100)

  /** The page table (keeps doc_id/source/n_chars as lineage columns). */
  def fromDocuments(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    d.select(
        col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), tldCol(col("doc_id")).as("tld"))
      .withColumn("url",
        concat(lit("https://h"), col("doc_id"), lit(".example."),
          col("tld"), lit("/p")))
      .withColumn("host",
        concat(lit("h"), col("doc_id"), lit(".example."), col("tld")))
      .withColumn("ts_epoch", lit(Epoch) + (col("doc_id") % 86400) * 37)
      .withColumn("warc_ts", timestamp_seconds(col("ts_epoch")))
      .withColumn("html",
        concat(lit("<html><head><title>d"), col("doc_id"),
          lit("</title></head><body><p>"), col("text"),
          lit("</p></body></html>")).cast("binary"))
  }

  /** Pages + geotag + cell at the given resolution — the standard
    * "georeferenced scan" every spatial operator starts from. */
  def geoPages(spark: SparkSession, dir: String, res: Int): DataFrame = {
    import graft.functions._
    fromDocuments(spark, dir)
      .withColumn("lon", geotag_lon(col("url")))
      .withColumn("lat", geotag_lat(col("url")))
      .withColumn("cell", cell_of(col("lon"), col("lat"), res))
  }

  /** Deterministic synthetic page table of arbitrary size (url/warc_ts/
    * lang shape per input_hint) — seeded by row id only, no external
    * data. Used by the bench's scaling probe where the driver tables
    * are too small to exercise parallelism. */
  def synthetic(spark: SparkSession, nRows: Long, parts: Int): DataFrame =
    spark.range(0L, nRows, 1L, parts).select(
      col("id").as("doc_id"),
      concat(lit("https://h"), col("id"), lit(".example."),
        tldLadderCol(col("id") % 100), lit("/p")).as("url"),
      timestamp_seconds(lit(Epoch) + (col("id") % 86400) * 37).as("warc_ts"),
      tldLadderCol((col("id") * 13) % 100).as("lang"))

  /** Pages + cell only (fused geotag_cell, one md5/row) — for operators
    * that never touch lon/lat (tile rollups, lineage planning). */
  def geoCells(spark: SparkSession, dir: String, res: Int): DataFrame = {
    import graft.functions._
    fromDocuments(spark, dir)
      .withColumn("cell", geotag_cell(col("url"), res))
  }
}
