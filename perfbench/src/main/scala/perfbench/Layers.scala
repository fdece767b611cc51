package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run: name -> unit. Every traced run
  * prints all of them; a layer the workload never calls reads 0.
  */
object Layers {
  val spark: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.core_busy" -> "ratio")

  val sync: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "scan.tree_bytes" -> "bytes",
    "scan.input_bytes" -> "bytes", "scan.read_amplification" -> "ratio",
    "dws.filesystem_s" -> "s", "dws.filesystem_jobs" -> "count",
    "dws.categories_s" -> "s", "dws.categories_jobs" -> "count",
    "dws.retained_cache_bytes" -> "bytes",
    "lists.s" -> "s", "lists.rows" -> "count",
    "sink.s" -> "s", "sink.rows" -> "count", "sink.bytes" -> "bytes",
    "sink.cycle_s" -> "s", "sync.s" -> "s",
    "incr.snapshot_s" -> "s", "incr.snapshot_jobs" -> "count",
    "incr.diff_s" -> "s", "incr.diff_jobs" -> "count",
    "incr.diff_rows" -> "count",
    "incr.ledger_s" -> "s", "incr.ledger_jobs" -> "count",
    "incr.ledger_rows" -> "count")

  val curation: Seq[(String, String)] = Seq(
    "dedup.exact_s" -> "s", "dedup.clusters_s" -> "s",
    "dedup.clusters_jobs" -> "count", "dedup.cluster_docs" -> "count",
    "dedup.pair_yield" -> "ratio", "textstats.filter_s" -> "s",
    "textstats.land_s" -> "s", "textstats.pack_s" -> "s",
    "memo.cached_bytes" -> "bytes", "memo.cleared_bytes" -> "bytes")

  /** The entry list run once per traced `curation_chain` run. */
  val mix: Seq[(String, String)] =
    (("mix.s" -> "s") +: EntryMix.Entries.map(e => s"mix.${e}_s" -> "s")) ++
      Seq("stream.s", "graph.s", "embed.s", "relational.s").map(_ -> "s")

  val common: Seq[(String, String)] = Seq(
    "trace.overhead_s" -> "s",
    "mem.peak_rss_mb" -> "MiB", "fail_ratio" -> "ratio")

  val all: Seq[(String, String)] = spark ++ sync ++ curation ++ mix ++ common

  val syncNames: Set[String] = sync.map(_._1).toSet
  val curationNames: Set[String] = (curation ++ mix).map(_._1).toSet

  def recordSpark(c: SparkCounts, rec: (String, Double) => Unit): Unit = {
    rec("spark.jobs", c.jobs.toDouble)
    rec("spark.stages", c.stages.toDouble)
    rec("spark.tasks", c.tasks.toDouble)
    rec("spark.driver_gap_s", c.driverGapS)
    rec("spark.task_run_s", c.taskRunS)
    rec("spark.task_cpu_s", c.taskCpuS)
    rec("spark.gc_s", c.gcS)
    rec("spark.shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
    rec("spark.spill_bytes", c.spillBytes.toDouble)
    rec("spark.core_busy", c.coreBusy)
  }

  /** Medians of the recorded samples for every layer metric; `own` names
    * the layers this workload calls, the others read 0; `fixed` gives
    * values that are not medians of samples.
    */
  def report(samples: collection.Map[String, collection.Seq[Double]],
             own: Set[String], fixed: Map[String, Option[Double]] = Map.empty)
      : Map[String, Metric] = {
    val units = all.toMap
    (spark ++ sync ++ curation ++ mix).map { case (k, unit) =>
      k -> Metric(
        if (spark.exists(_._1 == k) || own(k))
          Stats.median(samples.getOrElse(k, Nil).toSeq)
        else Some(0.0), unit)
    }.toMap ++ fixed.map { case (k, v) => k -> Metric(v, units(k)) }
  }
}

/** Small filesystem helpers for the generators and checks. */
object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Regular, non-hidden files directly in `dir`, name-sorted. */
  def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Non-empty lines of a file, or of every part file in a directory. */
  def lines(p: Path): Seq[String] =
    (if (Files.isDirectory(p)) files(p) else Seq(p)).flatMap { f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.filter(_.trim.nonEmpty)
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
}
