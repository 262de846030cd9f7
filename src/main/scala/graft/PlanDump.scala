package graft

import java.nio.file.{Files, Paths}

/** Write `.explain("formatted")` of named queries to files (round-6
  * optimization evidence: plans/r06/<query>_<tag>.txt). Uses the SAME
  * session construction as Bench (Sessions.local), so the dumped plan
  * is the one the bench runs.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [q_a,q_b,...]
  * (no query list = all of SparkEntry.queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only = if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // queryExecution.explainString is what explain("formatted") prints
          val s = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), s)
          println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    spark.stop()
  }
}
