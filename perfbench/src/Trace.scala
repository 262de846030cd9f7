package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: the benchmark's own call into a layer. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {

  /** Self time of each span: its duration minus the part of its
    * interval that its direct children cover (overlapping children
    * count once, child time outside the parent is ignored). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Spark work attributed to one layer group (or one query). */
final class Counts {
  var jobs = 0L; var planJobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var execNs = 0L; var gcNs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var recordsRead = 0L
}

/** Spans kept in memory plus a Spark listener that attributes jobs,
  * stages and task metrics to the group, operation and phase set as
  * local properties on the calling thread (Spark copies them onto every
  * job that thread submits, including AQE stage and broadcast jobs).
  * Only a traced run creates one. */
final class Tracer {
  private val GroupKey = "perfbench.group"
  private val OpKey = "perfbench.op"
  private val PhaseKey = "perfbench.phase"

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _

  val groups = mutable.LinkedHashMap.empty[String, Counts]
  val ops = mutable.LinkedHashMap.empty[String, Counts]
  private val stageOwner = mutable.HashMap.empty[Int, (String, String)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val g = p.map(_.getProperty(GroupKey)).orNull
      if (g != null) {
        val op = p.map(_.getProperty(OpKey)).getOrElse("")
        val plan = p.exists(_.getProperty(PhaseKey) == "plan")
        for (c <- Seq(group(g), Tracer.this.op(op))) {
          c.jobs += 1
          if (plan) c.planJobs += 1
        }
        e.stageIds.foreach(id => stageOwner(id) = (g, op))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOwner.get(e.stageInfo.stageId).foreach { case (g, op) =>
          group(g).stages += 1; Tracer.this.op(op).stages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOwner.get(e.stageId).foreach { case (g, op) =>
        val m = e.taskMetrics
        for (c <- Seq(group(g), Tracer.this.op(op))) {
          c.tasks += 1
          c.taskNs += e.taskInfo.duration * 1000000L
          if (m != null) {
            c.execNs += m.executorRunTime * 1000000L
            c.gcNs += m.jvmGCTime * 1000000L
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
    }
  }

  /** Forget counts and spans so far (what set-up and warm-up did). */
  def reset(): Unit = synchronized {
    drain(); groups.clear(); ops.clear(); spans.clear(); stageOwner.clear()
  }

  /** Follow a (new) session's context. */
  def attach(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(listener)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, name, System.nanoTime(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  /** Run `body` with its Spark jobs attributed to (group, op, phase). */
  def scoped[T](group: String, op: String, phase: String)(body: => T): T = {
    sc.setLocalProperty(GroupKey, group)
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    try body
    finally Seq(GroupKey, OpKey, PhaseKey).foreach(sc.setLocalProperty(_, null))
  }

  def group(g: String): Counts = synchronized(groups.getOrElseUpdate(g, new Counts))
  def op(name: String): Counts = synchronized(ops.getOrElseUpdate(name, new Counts))

  /** Spans as JSON lines, with each span's self time. */
  def spansJson: Seq[String] = {
    val self = Span.selfTimes(spans.toSeq)
    spans.toSeq.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"dur_ns":${s.dur},"self_ns":${self(s.id)}}"""
    }
  }
}
