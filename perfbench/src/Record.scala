package perfbench

import java.nio.file.{Files, Paths}

import graft.{Scaling, SparkEntry}

/** Records the expected digests the workloads check against: writes
  * the generated query tables of one scale factor to DATA_DIR, runs
  * every registered query and one tile pass once, and merges the
  * digests into the expected file. Refuses a query that returns no
  * rows. Record only from an engine commit that passes the DuckDB
  * oracle on DATA_DIR (see README.md).
  *
  * Usage: perfbench.Record SF PAGES DATA_DIR EXPECTED_FILE */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(sfArg, pagesArg, dir, out) = args
    val sf = sfArg.toDouble
    val pages = pagesArg.toLong
    Workloads.checkRegistry(SparkEntry.queries.keySet)
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    Inputs.write(spark, sf, dir, Inputs.sizes(sf).keys.toSeq.sorted)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
      val d = Digest.of(fn(spark, dir))
      require(d.rows > 0, s"$q returns no rows at sf $sf, so its output check would compare nothing")
      spark.catalog.clearCache()
      s"$sf/$q" -> d.key
    }
    val tiles = Digest.of(Scaling.tileJob(spark, pages, 16), Some("n_pages"))
    require(tiles.sum == pages, s"tile counts sum to ${tiles.sum}, not $pages")
    spark.stop()
    val path = Paths.get(out)
    val old = if (Files.exists(path)) Json.readStringMap(Files.readString(path)) else Map.empty[String, String]
    val all = old ++ queries ++ Seq(s"tile_rollup/$pages" -> tiles.key)
    Files.writeString(path, all.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))
    sys.exit(0)
  }
}
