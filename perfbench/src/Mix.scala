package perfbench

import graft.SparkEntry

/** The work mix of the registered queries over one table directory:
  * per query its result rows, warm wall time and Spark jobs, then each
  * layer group's share of the summed wall time. Compares the generated
  * tables with another set of tables of the same schema (README.md).
  *
  * Usage: perfbench.Mix DATA_DIR WORK_DIR [SF]
  * With SF, first writes the generated tables at that scale to DATA_DIR.
  * Each query runs twice, cold then warm; the warm run is reported. */
object Mix {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cores = Runtime.getRuntime.availableProcessors
    val b = new Bench(Config("queries", 0L, 1, trace = true, cores, tiny = false,
      args(1), "", None))
    val spark = b.startSession(cores)
    args.lift(2).foreach(sf => Inputs.write(spark, sf.toDouble, dir, Inputs.sizes(0).keys.toSeq))
    val t = b.tracer.get
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val g = Workloads.groupOf(q)
      def once(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = t.scoped(g, q, "run")(Digest.of(SparkEntry.queries(q)(spark, dir)).rows)
        val sec = (System.nanoTime() - t0) / 1e9
        b.isolate(g, Int.MaxValue)
        (n, sec)
      }
      once()
      t.drain()
      val jobs0 = t.op(q).jobs
      val (n, sec) = once()
      t.drain()
      val jobs = t.op(q).jobs - jobs0
      println(f"mix $g%-6s $q%-22s rows $n%8d warm_s $sec%8.3f jobs $jobs%4d")
      (g, sec)
    }
    val total = rows.map(_._2).sum
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (g, xs) =>
      println(f"mix share $g%-6s ${xs.map(_._2).sum / total * 100}%5.1f %% of $total%.1f s")
    }
    b.stop()
    sys.exit(0)
  }
}
