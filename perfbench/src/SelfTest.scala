package perfbench

/** Checks of the benchmark's own machinery: span self time on a
  * synthetic span tree, the tail percentile rule, and the isolation
  * check on a one-thread session. Exits 0 when every check holds. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    // root [0,100]; children A [10,40] and B [30,60] overlap, C [90,120]
    // runs past the root; G [15,20] is A's child, not the root's
    val spans = Seq(Span(0, -1, "root", 0, 100), Span(1, 0, "A", 10, 40),
      Span(2, 0, "B", 30, 60), Span(3, 0, "C", 90, 120), Span(4, 1, "G", 15, 20))
    val self = Span.selfTimes(spans)
    val checks = Seq(
      "root self = 100 - |[10,60] + [90,100]|" -> (self(0) == 40L),
      "A self = 30 - 5" -> (self(1) == 25L),
      "leaf self = duration" -> (self(2) == 30L && self(3) == 30L && self(4) == 5L),
      "p75 of 40 samples leaves 10 beyond" -> (Stats.tailQuantile(40) == 0.75 &&
        Stats.percentile((1 to 40).map(_.toDouble), 0.75) == 30.0),
      "fewer than 20 samples: the median" -> (Stats.tailQuantile(12) == 0.5)) ++
      isolation()
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    sys.exit(if (checks.forall(_._2)) 0 else 1)
  }

  /** A persisted RDD left behind fails the operation unless allowed,
    * and is released either way. */
  private def isolation(): Seq[(String, Boolean)] = {
    val b = new Bench(Config("queries", 0L, 1, trace = false, 1, tiny = true, "", "", None))
    val sc = b.startSession(1).sparkContext
    def leave() = sc.parallelize(1 to 10).persist().count()
    leave()
    val leaked = b.isolate("ops", 0)
    val clean = b.isolate("ops", 0)
    leave()
    val allowed = b.isolate("text", 1)
    b.stop()
    Seq("a persisted RDD left behind fails" -> !leaked,
      "and is released" -> clean,
      "an allowed one passes and is counted" -> (allowed && b.rddsLeft("text") == 1))
  }
}
