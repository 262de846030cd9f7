package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions._
import graft.geo.Polygon
import graft.sources.Pages

/** Fixed-input cost of each codegen kernel (traced runs only): task
  * time of a pass that evaluates the kernel minus task time of the
  * same pass without it, per input row. Inputs are cached first so the
  * difference is the kernel alone. */
object Kernels {

  /** Metric name -> (input, its rows, baseline projection, kernel projection). */
  private def cases(b: Bench, geoRows: Long, textRows: Long)
      : Seq[(String, DataFrame, Long, Seq[Column], Seq[Column])] = {
    val spark = b.spark
    val parts = b.cfg.cores * 2
    val geo = Pages.synthetic(spark, geoRows, parts).select(col("doc_id").as("id"), col("url"))
      .withColumn("lon", geotag_lon(col("url")))
      .withColumn("lat", geotag_lat(col("url")))
      .withColumn("cell", cell_of(col("lon"), col("lat"), SparkEntry.Res))
      .withColumn("score", (pmod(xxhash64(col("id")), lit(1000000L)) / 1e6))
      .withColumn("gid", col("id") % 1000)
      .cache()
    val text = Inputs.tables(spark, textRows / 50000.0)("documents")
      .select("text").repartition(parts).cache()
    val poly = Polygon.registry("asia_l")
    Seq(
      ("functions.geotag_cell.ns_per_row", geo, geoRows, Seq(col("url")),
        Seq(geotag_cell(col("url"), SparkEntry.Res))),
      ("functions.cell_parent.ns_per_row", geo, geoRows, Seq(col("cell")),
        Seq(cell_parent(col("cell"), SparkEntry.Res - SparkEntry.TileRes))),
      ("functions.cell_of.ns_per_row", geo, geoRows, Seq(col("lon"), col("lat")),
        Seq(cell_of(col("lon"), col("lat"), SparkEntry.Res))),
      ("functions.point_in_poly.ns_per_row", geo, geoRows, Seq(col("lon"), col("lat")),
        Seq(point_in_poly(col("lon"), col("lat"), poly))),
      ("functions.minhash_sigs.ns_per_row", text, textRows, Seq(col("text")),
        Seq(minhash_sigs(col("text"), 3, 8))),
      ("functions.simhash60.ns_per_row", text, textRows, Seq(col("text")),
        Seq(simhash60(col("text")))),
      ("functions.shingles_k.ns_per_row", text, textRows, Seq(col("text")),
        Seq(shingles_k(col("text"), 3))))
  }

  /** Median over `reps` of (kernel - baseline) task ns per row. */
  def measure(b: Bench, tiny: Boolean): Map[String, Double] = {
    val t = b.tracer.get
    val (geoRows, textRows, reps) =
      if (tiny) (20000L, 2000L, 1) else (2000000L, 20000L, 3)
    val cs = cases(b, geoRows, textRows)
    val inputs = cs.map(_._2).distinct
    inputs.foreach(_.write.format("noop").mode("overwrite").save())

    def taskNs(name: String, df: => DataFrame): Long = {
      t.drain()
      val before = t.op(name).execNs
      t.scoped("kernels", name, "run")(df.write.format("noop").mode("overwrite").save())
      t.drain()
      t.op(name).execNs - before
    }
    def perRow(name: String, rows: Long)(base: => DataFrame, kern: => DataFrame) =
      Stats.median((0 until reps).map { _ =>
        (taskNs(s"$name.kernel", kern) - taskNs(s"$name.base", base)).toDouble / rows
      })

    val projected = cs.map { case (name, in, rows, base, kern) =>
      name -> perRow(name, rows)(in.select(base: _*), in.select(kern: _*))
    }
    val geo = cs.head._2
    val topk = "functions.topk_by.ns_per_row" -> perRow("topk_by", geoRows)(
      geo.groupBy("gid").agg(count(lit(1))),
      geo.groupBy("gid").agg(topk_by(col("score"), col("id"), 5, ascending = true)))
    val synthetic = "sources.Pages.synthetic.ns_per_row" -> perRow("synthetic", geoRows)(
      b.spark.range(0L, geoRows, 1L, b.cfg.cores * 2).toDF(),
      Pages.synthetic(b.spark, geoRows, b.cfg.cores * 2))
    inputs.foreach(_.unpersist(blocking = true))
    (projected :+ topk :+ synthetic).toMap
  }
}
