package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters summed over the jobs of one span and its children. */
final case class SparkCounts(
    wallS: Double, jobs: Long, stages: Long, tasks: Long, driverGapS: Double,
    taskRunS: Double, taskCpuS: Double, gcS: Double, shuffleWriteBytes: Long,
    spillBytes: Long, inputBytes: Long, cores: Int) {
  /** Share of the span's core-seconds that tasks were running. */
  def coreBusy: Double = if (wallS <= 0) 0.0 else taskRunS / (wallS * cores)
}

/** Spans recorded from the benchmark's own calls into the program, with
  * Spark listener counts attributed to the innermost open span.
  *
  * A span sets a job-group-like local property on the driver thread;
  * every job submitted under it carries the span id, and its stages and
  * tasks are billed to that span. A span's counts include its children.
  * Spans are kept in memory and read when the run ends. When `enabled`
  * is false, `span` only runs its body: no listener, no bookkeeping.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int,
                   val startMs: Long, val startNs: Long) {
    var endMs: Long = 0L
    var endNs: Long = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }
  private final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleW, spill, input = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var enabled = false
  // listener-thread state
  private val accs = mutable.HashMap.empty[Int, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  def on(): Unit = if (!enabled) { sc.addSparkListener(this); enabled = true }
  def off(): Unit = if (enabled) {
    PerfbenchBus.drain(sc); sc.removeSparkListener(this); enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size + 1, name, open.headOption.fold(0)(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.fold(null: String)(_.id.toString))
      }
    }

  /** Spans with this name, oldest first. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counts of a finished span, children included. */
  def counts(s: Span): SparkCounts = {
    PerfbenchBus.drain(sc)
    val ids = subtree(s.id)
    val parts = accs.synchronized(ids.flatMap(accs.get).toSeq)
    val sum = (f: Acc => Long) => parts.map(f).sum
    val busyMs = union(parts.flatMap(_.intervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a })
    SparkCounts(s.wallS, sum(_.jobs), sum(_.stages), sum(_.tasks),
      math.max(0.0, s.wallS - busyMs / 1e3), sum(_.runMs) / 1e3,
      sum(_.cpuNs) / 1e9, sum(_.gcMs) / 1e3, sum(_.shuffleW), sum(_.spill),
      sum(_.input), cores)
  }

  private def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ subtree(k))
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curA, curB = 0L
    var started = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!started) { curA = a; curB = b; started = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (started) total += curB - curA
    total
  }

  private def acc(span: Int): Acc = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = accs.synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .fold(0)(_.toInt)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, span))
    acc(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = accs.synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      acc(span).intervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    accs.synchronized {
      acc(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = accs.synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, 0))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }
}
