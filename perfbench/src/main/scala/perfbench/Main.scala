package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric value with its unit; `None` when no valid sample exists. */
final case class Metric(value: Option[Double], unit: String)

/** Wall and process CPU time of one unit. CPU time is steadier on a host
  * whose cores are shared, since time stolen by other guests is not in it.
  */
final case class Timing(wallS: Double, cpuS: Double)

object Timing {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  final class Start {
    private val wall = System.nanoTime()
    private val cpu = os.getProcessCpuTime
    def stop(): Timing =
      Timing((System.nanoTime() - wall) / 1e9, (os.getProcessCpuTime - cpu) / 1e9)
  }
  def start(): Start = new Start
}

/** Shared state of one benchmark run: the session, the tracer, and the
  * unit timings and failures the workload's loop records.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: Path, val cores: Int) {
  val tracer = new Tracer(spark, cores)
  var attempted = 0
  var failed = 0
  var first: Option[Timing] = None
  /** Successful steady units: untraced, and (in a traced run) traced. */
  val steady = mutable.ArrayBuffer.empty[Timing]
  val steadyTraced = mutable.ArrayBuffer.empty[Timing]
  /** Per-layer samples of a traced run, by metric name. */
  val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def rec(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  /** Bytes of Spark storage (cached and checkpointed blocks) now held. */
  def storageBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs one unit: counts it as attempted and returns its timing, or None
    * after logging the cause when it throws or its check fails. A failed
    * unit is never timed.
    */
  def attempt(label: String)(body: => Timing): Option[Timing] = {
    attempted += 1
    try {
      val t = body
      log(f"$label ok ${t.wallS}%.3f s wall, ${t.cpuS}%.3f s cpu")
      Some(t)
    } catch {
      case e: Throwable =>
        failed += 1
        log(s"$label FAILED: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  /** Runs the first unit, then steady units until `seconds` of steady
    * time has been spent and at least `minSteady` ran. In a traced run the
    * even units are traced and the odd ones not (the listener is attached
    * only around traced units), so traced and untraced steady units
    * interleave.
    */
  def loop(minSteady: Int)(unit: (Int, Boolean) => Option[Timing]): Unit = {
    var spent = 0.0
    var i = 0
    while (i == 0 || spent < seconds || i <= minSteady) {
      val tracedUnit = traced && i % 2 == 0
      if (tracedUnit) tracer.on() else tracer.off()
      val t0 = System.nanoTime()
      val t = unit(i, tracedUnit)
      if (i == 0) first = t
      else {
        spent += (System.nanoTime() - t0) / 1e9
        t.foreach(if (tracedUnit) steadyTraced += _ else steady += _)
      }
      i += 1
    }
    tracer.off()
  }

  /** Mean traced minus mean untraced steady wall time. */
  def traceOverhead: Option[Double] =
    for (a <- Stats.mean(steadyTraced.map(_.wallS).toSeq);
         b <- Stats.mean(steady.map(_.wallS).toSeq)) yield a - b
}

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)
}

object Main {
  /** Each workload runs its units through `Run.loop` and returns the
    * per-layer metrics of a traced run (empty when untraced).
    */
  val Workloads: Map[String, Run => Map[String, Metric]] = Map(
    SyncWorkload.Name -> SyncWorkload.run,
    "curation_chain" -> CurationWorkload.run)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    if (i < 0 || i + 1 >= args.length)
      throw new IllegalArgumentException(s"missing --$name")
    args(i + 1)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  /** Peak resident set of this process in MiB (Linux `VmHWM`). */
  def peakRssMb(): Option[Double] =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status")
        .getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0)
    } catch { case _: java.io.IOException => None }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    // set-up: JVM start to a session that has run its first job
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3

    val r = new Run(spark, seed, seconds, traced, work, cores)
    r.log(f"$workload seed=$seed cores=$cores setup=$setup%.3f s")
    val layers = run(r)
    spark.stop()

    val metrics: Seq[(String, Metric)] =
      if (!traced) Seq(
        "setup_s" -> Metric(Some(setup), "s"),
        "first_op_s" -> Metric(r.first.map(_.wallS), "s"),
        "op_p50_s" -> Metric(Stats.median(r.steady.map(_.wallS).toSeq), "s"),
        "op_cpu_s" -> Metric(Stats.median(r.steady.map(_.cpuS).toSeq), "s"))
      else (layers ++ Map(
        "mem.peak_rss_mb" -> Metric(peakRssMb(), "MiB"),
        "trace.overhead_s" -> Metric(r.traceOverhead, "s"),
        "fail_ratio" -> Metric(Some(r.failed.toDouble / math.max(1, r.attempted)),
          "ratio"))).toSeq.sortBy(_._1)
    r.log(s"$workload: ${r.steady.size} untraced steady units timed")
    metrics.foreach { case (k, m) =>
      r.log(s"  $k = ${m.value.fold("n/a")(_.toString)} ${m.unit}")
    }
    val correct = r.failed == 0 && metrics.forall(_._2.value.isDefined)
    println(Json.result(correct, r.attempted, r.failed, metrics))
  }
}

object Json {
  def num(v: Option[Double]): String = v match {
    case Some(d) if !d.isNaN && !d.isInfinite => d.toString
    case _ => "null"
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Metric)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      "\"metrics\": {" + metrics.map { case (k, m) =>
        s"""${str(k)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}"""
      }.mkString(", ") + "}}"
}
