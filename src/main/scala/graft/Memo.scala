package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session's one registry of shared relations: a relation that many
  * entries read (the dedup shingle sets, the co-order edge list, the sync
  * match passes, ...) is built once per corpus snapshot and every later
  * consumer plans against the stored copy.
  *
  *  - Key: (application, `dir`, `name`). `name` carries the family prefix
  *    and any build parameter (`dedup.jaccard_pairs_0.6`).
  *  - Value: the relation built by [[Checkpoints.cut]] (rows stored and
  *    measured in one job, lineage cut, the leaf carrying the row count
  *    and cache size a persisted copy would report) plus a fingerprint of
  *    `dir`, its recursive listing of (path, length, modification
  *    time). Each lookup lists `dir` once; a changed listing releases
  *    the stored copy and rebuilds, so a rewritten corpus never serves
  *    the old rows.
  *  - Builds: each key builds at most once, even when threads race for it
  *    (the key's slot is locked for the build; keys nest freely because
  *    memo dependencies form a DAG). A build that throws leaves nothing
  *    stored.
  *  - Records per name: builds, build seconds excluding the memo builds
  *    nested inside, and hits ([[stats]]); storage bytes only on request
  *    ([[bytes]]).
  *  - Sessions: every session of the application shares the memos
  *    (a [[GraftSession.scoped]] clone included), and a lookup returns
  *    the relation bound to the asking session, so a memo first built
  *    inside a scope never carries the scope's conf to later consumers.
  *  - [[clear]] releases everything one application holds;
  *    [[Checkpoints.release]] is the only release path.
  */
object Memo {

  /** What one memo name has cost this application so far. */
  final case class Stats(builds: Int, buildS: Double, hits: Long)

  private type Key = (String, String, String)
  private type Fingerprint = Vector[(String, Long, Long)]

  private final class Slot {
    @volatile var value: DataFrame = _
    var fingerprint: Fingerprint = _
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()
  private val records = new ConcurrentHashMap[(String, String), Stats]()
  // seconds of memo builds finished inside the current thread's open build
  private val nestedS = ThreadLocal.withInitial[Double](() => 0.0)

  def apply(spark: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame = {
    val app = spark.sparkContext.applicationId
    val key = (app, dir, name)
    val fp = fingerprint(spark, dir)
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    val served = slot.synchronized {
      if (slots.get(key) ne slot) None // cleared or failed meanwhile: retry
      else if (slot.value != null && slot.fingerprint == fp) {
        record(app, name)(s => s.copy(hits = s.hits + 1))
        Some(slot.value)
      } else {
        if (slot.value != null) {
          Checkpoints.release(slot.value)
          slot.value = null
        }
        try slot.value = timed(app, name)(Checkpoints.cut(build))
        catch { case e: Throwable => slots.remove(key, slot); throw e }
        slot.fingerprint = fp
        Some(slot.value)
      }
    }
    served.map(GraftSession.bind(spark, _))
      .getOrElse(apply(spark, dir, name)(build))
  }

  /** Release every memo this application holds. A build in flight
    * finishes first, then is released.
    */
  def clear(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    slots.keySet.asScala.filter(_._1 == app).foreach { key =>
      Option(slots.remove(key)).foreach { slot =>
        slot.synchronized {
          if (slot.value != null) Checkpoints.release(slot.value)
          slot.value = null
        }
      }
    }
  }

  /** Build and hit records of this application, by memo name. */
  def stats(spark: SparkSession): Map[String, Stats] = {
    val app = spark.sparkContext.applicationId
    records.asScala.collect { case ((a, name), s) if a == app => name -> s }.toMap
  }

  /** Seconds this application has spent in memo builds. */
  def buildSeconds(spark: SparkSession): Double =
    stats(spark).valuesIterator.map(_.buildS).sum

  /** Storage bytes (memory + disk) of this application's live memos, by
    * name, read from the block manager's storage status.
    */
  def bytes(spark: SparkSession): Map[String, Long] = {
    val app = spark.sparkContext.applicationId
    val byRdd = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    slots.asScala.toSeq.collect {
      case ((a, _, name), slot) if a == app && slot.value != null =>
        name -> slot.value.queryExecution.analyzed.collectLeaves().collect {
          case lr: LogicalRDD => byRdd.getOrElse(lr.rdd.id, 0L)
        }.sum
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def timed(app: String, name: String)(f: => DataFrame): DataFrame = {
    val outer = nestedS.get
    nestedS.set(0.0)
    val t0 = System.nanoTime()
    try {
      val out = f
      val self = (System.nanoTime() - t0) / 1e9 - nestedS.get
      record(app, name)(s => s.copy(builds = s.builds + 1, buildS = s.buildS + self))
      out
    } finally nestedS.set(outer + (System.nanoTime() - t0) / 1e9)
  }

  private def record(app: String, name: String)(f: Stats => Stats): Unit =
    records.compute((app, name),
      (_, s) => f(Option(s).getOrElse(Stats(0, 0.0, 0L))))

  // listStatus, not listFiles: listFiles' LocatedFileStatus copies each
  // file's permissions, which the local file system reads by forking a
  // shell per file (measured ~60 ms per lookup on a 10-file directory,
  // against under 1 ms for listStatus)
  private def fingerprint(spark: SparkSession, dir: String): Fingerprint = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Iterator[FileStatus] =
      fs.listStatus(p).iterator.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Iterator(s))
    try walk(path).map(s => (s.getPath.toString, s.getLen,
      s.getModificationTime)).toVector.sorted
    catch { case _: java.io.FileNotFoundException => Vector.empty }
  }
}
