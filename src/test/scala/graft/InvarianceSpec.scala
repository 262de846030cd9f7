package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Result invariance: every `SparkEntry.queries` entry returns the same
 * rows whatever the session's broadcast budget, shuffle partition count
 * or adaptive execution. One threshold drives every broadcast gate, so
 * the two non-default configs put every gate on each of its sides:
 *  - broadcasts disabled (-1), one shuffle partition, AQE off: every
 *    gated equi-join runs shuffled, through a single reducer;
 *  - a 1 KiB budget with 13 shuffle partitions: gated equi-joins over
 *    it run shuffled, and a gated cross join side over it is split into
 *    several broadcast chunks (q_embed_knn's query side; q_knn's
 *    brute-force residue is under 1 KiB at this scale, and DedupAnnSpec
 *    splits it under a smaller budget).
 * A per-query digest that ignores row order is compared against the
 * default config's.
 */
class InvarianceSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  val sfDir = "/root/testdata/sf0.001"

  private val configs: Seq[(String, Map[String, String])] = Seq(
    "threshold -1, 1 partition, AQE off" -> Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false"),
    "threshold 1 KiB, 13 partitions" -> Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "1024",
      "spark.sql.shuffle.partitions" -> "13"))

  /** Row count and the wrapping sum of a 64-bit hash of every row, each
    * column rendered as a string. */
  private def digest(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hs = named.select(xxhash64(named.columns.map(c => col(c).cast("string")): _*))
      .collect().map(_.getLong(0))
    (hs.length.toLong, hs.sum)
  }

  private def digests(): Map[String, (Long, Long)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try name -> digest(fn(spark, sfDir))
      finally spark.catalog.clearCache()
    }.toMap

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every SparkEntry query returns the same rows under every broadcast budget, " +
       "partition count and AQE setting") {
    val base = digests()
    assert(base.size == SparkEntry.queries.size)
    val mismatches = configs.flatMap { case (label, conf) =>
      val got = withConf(conf)(digests())
      base.keys.toSeq.sorted.filter(q => got(q) != base(q)).map { q =>
        s"$q under [$label]: (rows, hash) ${got(q)} != default ${base(q)}"
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n", "\n", ""))
    // the 1 KiB budget does split a gated cross join into chunks
    withConf(configs(1)._2) {
      val chunks = SparkSessionHelper.crossJoinChunks(
        SparkEntry.queries("q_embed_knn")(spark, sfDir))
      spark.catalog.clearCache()
      assert(chunks.size == 1 && chunks.head > 1, s"q_embed_knn chunks $chunks")
    }
  }
}
