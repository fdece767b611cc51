package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** ST1/ST2 + the X6 streaming surface — Structured Streaming over the
  * `events` table (SURVEY.md §2.9).
  *
  * The reference's only streaming behavior is a continuous watch with a
  * 1-second quiescence barrier before snapshotting (`_checkIdle`,
  * DW.js:639-659). `Trigger.AvailableNow` is the faithful equivalent:
  * process everything that exists, then stop — used here so the streaming
  * queries terminate and their results are comparable to the batch oracle.
  * The same plans run unmodified with a continuous trigger in production.
  */
object EventStream {

  private val sinkId = new AtomicInteger(0)

  /** Parquet physical schema with ns-timestamps read as longs — the
    * shape of OUR sentinel files (written below as ns longs regardless
    * of the fixture generation).
    */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The events stream: file source over the fixture parquet with the
    * fixture's actual `ts` physical type (ns-long or TIMESTAMP_NTZ µs —
    * a file stream needs an explicit schema, so probe it from the batch
    * footer once), normalized to a microsecond event-time column.
    */
  /** Directory probe through the Hadoop FileSystem API — `java.io.File`
    * only answers for the LOCAL filesystem, so on an HDFS/S3 URI a
    * directory-shaped fixture would silently fall through to the
    * leaf-glob branch and the stream would read zero files. Resolving
    * the path against its own FileSystem makes the shape probe correct
    * on every supported scheme (missing path = not a directory; the
    * glob branch then reads whatever leaf files match).
    */
  private def isFsDirectory(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    graft.tables.Tables.readNanosAsLong(spark)
    val fixtureSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file stream source takes a directory; the driver fixture ships
    // events.parquet as a single FILE inside the sf dir (selected by
    // glob), while generated corpora (the scale rehearsal's sf1) write
    // it as a parquet DIRECTORY — read whichever shape is present. No
    // maxFilesPerTrigger: AvailableNow takes every matching file in one
    // micro-batch, so the update-mode entries stay single-batch-correct
    // even with a many-file fixture.
    val raw =
      if (isFsDirectory(spark, s"$dir/events.parquet"))
        spark.readStream.schema(fixtureSchema).parquet(s"$dir/events.parquet")
      else
        spark.readStream.schema(fixtureSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.tables.Tables.normalizeTs(raw)
  }

  /** Driver-side diagnostics from the most recent harness run (scale
    * rehearsal + harness-share accounting): input rows, final state
    * rows/bytes, and processing vs wall time.
    */
  final case class RunStats(inputRows: Long, stateRows: Long,
                            stateBytes: Long, procMs: Long, nBatches: Int)
  @volatile private var lastStats: Option[RunStats] = None
  def lastRunStats: Option[RunStats] = lastStats

  /** Input-derived state-partition count for a corpus snapshot (r14,
    * guide §2: scale-adaptive, never a constant): the two streamable
    * relations' on-disk bytes at ~64 MB per state partition, clamped to
    * [4, session parallelism]. At bench SF this stops every stateful
    * entry from opening/committing one state store per session core per
    * micro-batch for a few MB of input (the per-partition per-batch
    * overhead [[runToMemoryPartitions]] documents); at 100 TB the same
    * formula yields thousands of right-sized partitions. Memoized per
    * (app, dir) — one filesystem stat, no data read.
    */
  private val srcBytes =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  private[graft] def derivedStatePartitions(spark: SparkSession,
                                            dir: String): Int = {
    val bytes = srcBytes.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir), {
        val conf = spark.sparkContext.hadoopConfiguration
        val streamable = Seq("events.parquet", "documents.parquet").map { f =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/$f")
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
        }.sum
        if (streamable > 0L) streamable
        else { // a direct source path (e.g. the pre-signed band file)
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
        }
      })
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(4L, math.min(session.toLong, bytes / (64L << 20) + 1L)).toInt
  }

  /** Run a finite streaming query (AvailableNow) into a memory sink and
    * return the sink contents, with the state-partition count derived
    * from the corpus snapshot's streamable bytes (see
    * [[derivedStatePartitions]]).
    */
  private def runToMemory(result: DataFrame, mode: String,
                          dir: String): DataFrame = {
    runToMemoryPartitions(result, mode,
      Some(derivedStatePartitions(result.sparkSession, dir)))
  }

  /** [[runToMemory]] with an explicit state-partition count for the run.
    *
    * A streaming query's shuffle-partition count is frozen into its
    * state-store layout, and stateful operators pay per-partition
    * per-micro-batch overhead (store open/commit/snapshot) regardless of
    * data volume. Two-sided joins hold four stores per partition, so
    * right-sizing partitions to the stream's actual volume — instead of
    * inheriting the batch session's CPU count — is the production lever
    * for state-heavy, modest-volume streams. The query starts from a
    * scoped session holding that count (it only needs to hold at query
    * start, when the layout is frozen) and, when the plan has a
    * `transformWithState` node, the RocksDB state-store provider that
    * operator requires. The caller's session conf is never touched.
    * Runs with the same confs share one such session ([[streamSession]]).
    */
  private def runToMemoryPartitions(result: DataFrame, mode: String,
                                    statePartitions: Option[Int]): DataFrame = {
    val spark = result.sparkSession
    val tws = result.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])
    val confs = statePartitions.map("spark.sql.shuffle.partitions" -> _.toString) ++
      Option.when(tws)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val run = streamSession(spark, confs.toSeq)
    GraftSession.bind(spark,
      runToMemoryInner(GraftSession.bind(run, result), mode))
  }

  // Streaming sessions by caller session and full conf. The first
  // stream a session starts registers that session's
  // StreamingQueryListenerBus on the SparkContext for the context's
  // life (Spark offers no way to remove it), so a fresh clone per run
  // would add one listener per run; one clone per (caller, conf) adds
  // one per distinct conf. The caller's whole conf is in the key, so a
  // caller whose conf changed gets a clone of its current conf. Entries
  // live as long as the application, like the listeners they stand for.
  private val streamSessions = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Map[String, String]), SparkSession]

  /** A clone of `spark` holding `confs`, shared by every stream run
    * that asks for the same caller and conf. The runs' query names are
    * unique, so concurrent runs on one clone do not collide.
    */
  private def streamSession(spark: SparkSession,
                            confs: Seq[(String, String)]): SparkSession =
    streamSessions.getOrElseUpdate((spark, spark.conf.getAll ++ confs),
      GraftSession.scoped(spark, confs: _*)(identity))

  private def runToMemoryInner(result: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    val q = result.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    // bounded wait: a wedged stream must not stall the whole harness run —
    // and a timeout must surface as a loud failure, never as silently
    // truncated sink contents masquerading as a result
    if (!q.awaitTermination(600000L)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query $name did not finish within 600s; aborting " +
          "instead of returning a partial memory sink")
    }
    // record run diagnostics (cheap: recentProgress is already buffered)
    locally {
      val ps = q.recentProgress
      val lastState = ps.reverseIterator
        .find(_.stateOperators.nonEmpty).map(_.stateOperators)
      lastStats = Some(RunStats(
        inputRows = ps.map(_.numInputRows).sum,
        stateRows = lastState.map(_.map(_.numRowsTotal).sum).getOrElse(0L),
        stateBytes = lastState.map(_.map(_.memoryUsedBytes).sum).getOrElse(0L),
        procMs = ps.map(p => Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)).sum,
        nBatches = ps.length))
    }
    // detach the result from the catalog so repeated harness runs don't
    // pin every sink's contents for the session lifetime (the memory
    // sink is driver-resident by construction, so this copy adds nothing)
    val spark = result.sparkSession
    val t = spark.table(name)
    val out = spark.createDataFrame(t.collectAsList(), t.schema)
    spark.catalog.dropTempView(name)
    out
  }

  /** The tumbling 1-hour aggregation plan — ONE construction for both
    * output modes so the complete/append twins can never silently
    * diverge on the watermark, decimal-sum or projection details.
    */
  private def tumblingPlan(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming tumbling 1-hour aggregation with a watermark — same result
    * as the batch [[graft.ext.Events.tumblingHourly]] because AvailableNow
    * replays a finite input (complete mode: no windows withheld).
    */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame =
    // complete mode is HARNESS-ONLY: the memory sink holds the full
    // window state on the driver, which is fine for a finite oracled
    // replay but unbounded on a real stream — the production form is
    // [[tumblingHourlyAppend]] (append mode, closed windows only,
    // evictable state).
    runToMemory(tumblingPlan(spark, dir), "complete", dir)
      .orderBy("hour_start", "event_type")

  /** The production form of [[tumblingHourly]]: append output mode, so
    * only windows the watermark has closed (window.end <= max event time
    * - 1h, watermark at millisecond precision) are emitted and their
    * state evicted — bounded state on an unbounded stream. AvailableNow
    * still flushes closed windows on a finite input via the trailing
    * no-data micro-batch; the oracle applies the same closed-window
    * predicate to the batch aggregate.
    */
  def tumblingHourlyAppend(spark: SparkSession, dir: String): DataFrame =
    runToMemory(tumblingPlan(spark, dir), "append", dir)
      .orderBy("hour_start", "event_type")

  /** The 30-minute-gap sessionization plan — one construction for both
    * output modes (see [[tumblingPlan]]).
    */
  private def sessionPlan(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** Streaming sessionization via the native `session_window` operator
    * (30-minute gap). Emits one row per closed session: session end =
    * last event + gap (exclusive).
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    // complete mode is HARNESS-ONLY (full session state in the driver
    // memory sink — see tumblingHourly); the production posture is append
    // mode, where a session emits once the watermark passes its end+gap
    // and its state evicts.
    runToMemory(sessionPlan(spark, dir), "complete", dir)
      .orderBy("user_id", "start_us")

  /** Custom keyed state via `flatMapGroupsWithState` — the arbitrary-state
    * API (SURVEY.md §2.9 extension surface): a per-user running event
    * counter. With AvailableNow over the finite fixture (one batch), the
    * emitted totals equal the batch `GROUP BY count` — the oracle-
    * comparable form; the same operator runs unchanged on an unbounded
    * stream, where state persists across micro-batches.
    */
  def statefulUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val counts = readEvents(spark, dir)
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Long], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((uid, n))
        })
      .toDF("user_id", "n_events")
    runToMemory(counts, "update", dir).orderBy("user_id")
  }

  /** Per-user running counter as a `transformWithState` StatefulProcessor —
    * the modern arbitrary-state API (successor to flatMapGroupsWithState):
    * explicit named state variables with optional TTL, timers, and a
    * RocksDB-backed store (the API requires the RocksDB provider). With
    * AvailableNow over the finite fixture the emitted totals equal the
    * batch GROUP BY counts — the oracle-comparable form; on an unbounded
    * stream the same processor accumulates across micro-batches with
    * evictable (TTL-able) per-key state.
    */
  private class UserCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Long, (Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Long],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator((key, n))
    }
  }

  def transformStateUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val counts = readEvents(spark, dir)
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .transformWithState(new UserCountProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events")
    runToMemory(counts, "update", dir).orderBy("user_id")
  }

  /** X111: streaming keep-first dedup as a `transformWithState`
    * StatefulProcessor — the second entry on the modern state API (the
    * first, [[UserCountProcessor]], is an updating counter; this one is
    * the GATE shape: per-key state decides once and suppresses forever,
    * the streaming half of X1's batch exact dedup). State is a single
    * boolean per live (user, type) key; rows inside a micro-batch are
    * sorted by (µs, event_id) before the gate so shuffle order never
    * picks the survivor, and across batches the flag carries — exactly
    * the dropDuplicates contract, but with state the operator owns (a
    * TTL on the handle turns it into bounded-state approximate dedup,
    * which built-in dropDuplicates cannot express).
    */
  private class KeepFirstProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), (Long, String, Long, Long), (Long, Long, String, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    override def handleInputRows(key: (Long, String),
                                 rows: Iterator[(Long, String, Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, String, Long)] = {
      if (seen.exists()) Iterator.empty
      else {
        // (us, event_id) min = the deterministic survivor within the batch
        val first = rows.minBy(r => (r._3, r._4))
        seen.update(true)
        Iterator((first._4, first._1, first._2, first._3))
      }
    }
  }

  def streamDedupState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val firsts = readEvents(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new KeepFirstProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("event_id", "user_id", "event_type", "us")
    runToMemory(firsts, "append", dir).orderBy("event_id")
  }

  /** X120: streaming HLL registers as a `transformWithState`
    * StatefulProcessor — the third state shape on the modern API beside
    * the counter ([[UserCountProcessor]]) and the gate
    * ([[KeepFirstProcessor]]): a MERGEABLE SKETCH. Per event_type the
    * state is the 256-byte register vector (one byte per bucket —
    * exactly the serialized form a sketch tier ships between
    * executors); each micro-batch folds its rows in by max-per-bucket
    * and emits the updated estimate, so downstream sees a continuously
    * refining distinct-count that never re-reads history — the
    * streaming twin of the batch [[graft.ext.Sketches.hllDistinct]]
    * (X105), with byte-identical registers by construction (same md5
    * bucket/rank split, and max-folding is order-free, so batch
    * boundaries cannot change the result — the agreement the spec
    * pins).
    *
    * Scale shape: state is 256 bytes per key regardless of stream
    * volume — the whole point of sketch state; a billion-user stream
    * holds the same bytes per key as the fixture. One shuffle on the
    * key, RocksDB-backed.
    */
  private class HllRegisterProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var regs: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]]("regs",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long)],
                                 timers: TimerValues): Iterator[(String, Double)] = {
      val r = if (regs.exists()) regs.get() else new Array[Byte](256)
      rows.foreach { case (_, userId) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(userId.toString.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex, 16)
        val b = (h % 256).toInt
        val w = h / 256
        val rho =
          if (w == 0) 25
          else 25 - java.lang.Long.toBinaryString(w).length
        if (rho > r(b)) r(b) = rho.toByte
      }
      regs.update(r)
      // the X105 estimator over the current registers (m = 256)
      val s = r.map(v => math.pow(2.0, -v.toInt)).sum
      val v0 = r.count(_ == 0)
      val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
      val e = alpha * 256.0 * 256.0 / s
      val est = if (e <= 2.5 * 256 && v0 > 0) 256.0 * math.log(256.0 / v0)
                else e
      Iterator((key,
        BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
    }
  }

  def streamHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ests = readEvents(spark, dir)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new HllRegisterProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("event_type", "hll_est")
    // update mode re-emits per micro-batch; the LAST update per key is
    // the converged sketch (AvailableNow replay ends at one batch, but
    // the max-fold makes this correct at any batch split)
    runToMemory(ests, "update", dir)
      .groupBy("event_type").agg(max("hll_est").as("hll_est"))
      .orderBy("event_type")
  }

  /** X152: streaming CDC snapshot maintenance — the keyed-state form of
    * the batch changelog compaction (X32 `cdc_apply`): per key a
    * ValueState holds the highest-seq op seen so far plus the op count,
    * and each micro-batch folds its rows in by max-seq — UPDATE-IF-NEWER,
    * which makes the operator robust to out-of-order arrival across
    * batches (the batch form needs the whole log to rank; this one
    * converges to the same snapshot from any interleaving, which is
    * exactly what a CDC tailer needs). Tombstones ('D' winners) are
    * suppressed at the read, state still counts their ops. On the
    * finite replay the emitted snapshot equals the batch compaction —
    * the oracle shares `cdc_apply`'s SQL verbatim.
    */
  private class CdcSnapshotProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, Long, String),
        (Long, Long, String, Long, String, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, String, Long, String, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, String, Long, String, Long)]("snap",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, String, Long, String)],
                                 timers: TimerValues): Iterator[(Long, Long, String, Long, String, Long)] = {
      val batch = rows.toSeq
      val prev = if (st.exists()) Some(st.get()) else None
      val batchBest = batch.maxBy(_._2)
      val best = prev match {
        case Some(p) if p._1 >= batchBest._2 => p
        case _ => (batchBest._2, batchBest._3, batchBest._4, batchBest._5, 0L)
      }
      val nOps = prev.map(_._5).getOrElse(0L) + batch.size
      val updated = (best._1, best._2, best._3, best._4, nOps)
      st.update(updated)
      Iterator((key, updated._1, updated._2, updated._3, updated._4, nOps))
    }
  }

  def streamCdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // the same deterministic changelog derivation as Warehouse.docChangelog
    val log = readDocuments(spark, dir)
      .select((col("doc_id") % 97).as("key"), col("doc_id").as("seq"),
        when(col("doc_id") % 11 === 7, "D")
          .when(col("doc_id") % 3 === 0, "I").otherwise("U").as("op"),
        col("n_chars").as("val"), col("lang"))
      .as[(Long, Long, String, Long, String)]
    val snap = log.groupByKey(_._1)
      .transformWithState(new CdcSnapshotProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("key", "seq", "op", "val", "lang", "n_ops")
    // final emission per key = the max-seq one (update mode re-emits
    // as batches land; seq and n_ops only grow)
    runToMemory(snap, "update", dir)
      .groupBy("key")
      .agg(max(struct(col("n_ops"), col("seq"), col("op"), col("val"),
        col("lang"))).as("w"))
      .filter(col("w.op") =!= "D")
      .select(col("key"), col("w.val").as("val"), col("w.lang").as("lang"),
        col("w.op").as("last_op"), col("w.n_ops").as("n_ops"))
      .orderBy("key")
  }

  /** The documents stream, dual-path like the events reader: the driver
    * fixture is a single documents.parquet FILE (glob-filtered from the
    * dir), the scale rehearsal writes a documents.parquet DIRECTORY of
    * part files — read whichever shape is present (via the Hadoop-FS
    * probe, so the shape test works on any filesystem scheme).
    */
  private def readDocuments(spark: SparkSession, dir: String,
                            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val docSchema = spark.read.parquet(s"$dir/documents.parquet").schema
    val base = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(docSchema)) { (r, n) =>
      // forces a MULTI-micro-batch replay under AvailableNow (one batch
      // per n files) — the adversarial shape the order-insensitive gate
      // variant exists for; the default (allAvailable) replays a
      // directory as ONE batch, which is the documented safe shape for
      // the order-sensitive X217 gate
      r.option("maxFilesPerTrigger", n.toString)
    }
    if (isFsDirectory(spark, s"$dir/documents.parquet"))
      base.parquet(s"$dir/documents.parquet")
    else
      base.option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** X217: streaming near-duplicate admission gate — the crawl-tailer
    * operator the batch dedup tier could not cover: per incoming
    * document, compute the X2 MinHash band hashes (the DEPLOYED 4×2
    * banding, shared VERBATIM via
    * [[graft.ext.TextDedup.bandHashesOf]]), and admit the document iff
    * none of its bands is already owned by an earlier document. State
    * is one ValueState[Long] per touched band key — the first-toucher
    * (min doc_id) owner — so a near-duplicate of anything already seen
    * collides on ≥ 1 band and is rejected at ingest, BEFORE it costs
    * downstream processing; the keyed-state shape is X111's keep-first
    * gate lifted from exact keys to LSH band keys (a TTL on the handle
    * bounds state for an unbounded crawl, the X111 approximate
    * variant).
    *
    * Batch-replay oracle: with arrival order = doc_id order, a doc is
    * blocked on a band iff a smaller doc_id shares that band hash —
    * i.e. admitted(d) ⇔ d is never the LATER member of an X2 banded
    * candidate pair (the relation `dedup_minhash_pairs` deploys);
    * Round9OpsSpec pins exactly that set identity, and the DuckDB twin
    * states it as a min-owner window over the banded relation.
    *
    * Scale shape: the band computation is NARROW per-row expression
    * work (no pre-shuffle); the only exchange keys on (b, band_hash) —
    * the same well-distributed key the batch bucket join shuffles on —
    * and state is O(distinct band keys touched by the FULL doc stream)
    * (~4 rows per distinct document text, admitted or not: a blocked
    * doc still owns the bands it touched first, which is what makes
    * transitive near-dup chains block — the min-owner oracle requires
    * it), independent of stream VOLUME (replays/exact dups add no
    * rows). The per-doc admit fold is a driver-free second aggregate
    * keyed on doc_id.
    *
    * Arrival-order precondition (ENFORCED): the append-mode gate
    * cannot retract an admission, so its output equals the min-owner
    * batch oracle only when arrival order follows doc_id order across
    * micro-batches (within a batch the processor sorts). If a doc_id
    * SMALLER than a band's persisted owner arrives in a later
    * micro-batch — the one shape where an already-emitted admission
    * would be wrong under the oracle — the processor fails loudly
    * rather than silently diverging; production first-toucher
    * semantics that tolerate arbitrary arrival order would drop the
    * check and keep the fold as-is.
    */
  private class BandOwnerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, String), (Int, String, Long), (Long, Int, Boolean)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var owner: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: (Int, String),
                                 rows: Iterator[(Int, String, Long)],
                                 timers: TimerValues): Iterator[(Long, Int, Boolean)] = {
      val persisted = owner.exists()
      var own = if (persisted) owner.get() else Long.MaxValue
      val sorted = rows.toArray.sortBy(_._3)
      if (persisted && sorted.nonEmpty && sorted.head._3 < own)
        throw new IllegalStateException(
          s"stream_neardup_gate: doc ${sorted.head._3} arrived after band " +
            s"owner $own was persisted in an earlier micro-batch; the " +
            "append-mode gate cannot retract that admission, so the " +
            "min-owner oracle no longer holds — feed the gate in doc_id " +
            "order (or run the replay as one micro-batch)")
      val out = sorted.map { r =>
        val blocked = own < r._3
        if (r._3 < own) own = r._3
        (r._3, r._1, blocked)
      }
      owner.update(own)
      out.iterator
    }
  }

  /** X266: ORDER-INSENSITIVE streaming near-duplicate gate — the
    * retraction variant that closes X217's arrival-order precondition
    * (the r9/r10 advice residue). The key observation that makes
    * retraction CHEAP: under the min-owner law, the set of
    * currently-admitted docs per band key is always the SINGLETON
    * current minimum (any doc larger than the owner was blocked at
    * arrival and `blocked` is monotone — owners only decrease, so a
    * blocked doc can never become admitted). Hence when a doc_id
    * SMALLER than the persisted owner arrives in a later micro-batch —
    * exactly the shape where X217 throws — this processor emits ONE
    * correction row ((old_owner, band, blocked=true)) and carries on;
    * no per-band list state, still 8 bytes of state per band key. The
    * downstream fold takes the monotone-OR of emissions per (doc,
    * band), so the final statuses equal the batch min-owner oracle
    * under ANY arrival order, any file split, any micro-batch
    * boundary placement.
    *
    * Append-mode caveat (stated): a consumer of the RAW emission
    * stream sees an admission followed by a correction — this is the
    * standard changelog contract (emissions are upserts keyed on
    * (doc, band), `blocked` monotone false→true), not exactly-once
    * admission decisions; a consumer that needs irreversible
    * decisions at emission time runs X217 under its documented
    * ordered-replay shape instead.
    *
    * Scale shape: identical to X217 (narrow band expressions, one
    * exchange on (b, band_hash), O(distinct band keys) state); the
    * correction stream adds at most one row per (band, micro-batch)
    * ownership displacement — bounded by the emission volume it
    * corrects, and zero on an ordered replay.
    */
  private class BandOwnerRetractProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, String), (Int, String, Long), (Long, Int, Boolean)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var owner: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: (Int, String),
                                 rows: Iterator[(Int, String, Long)],
                                 timers: TimerValues): Iterator[(Long, Int, Boolean)] = {
      val persisted = owner.exists()
      var own = if (persisted) owner.get() else Long.MaxValue
      val sorted = rows.toArray.sortBy(_._3)
      // the single possible retraction: the persisted owner (admitted on
      // this band in an earlier batch) is displaced by a smaller arrival
      val retract: Iterator[(Long, Int, Boolean)] =
        if (persisted && sorted.nonEmpty && sorted.head._3 < own)
          Iterator((own, key._1, true))
        else Iterator.empty
      val out = sorted.map { r =>
        val blocked = own < r._3
        if (r._3 < own) own = r._3
        (r._3, r._1, blocked)
      }
      owner.update(own)
      retract ++ out.iterator
    }
  }

  /** See [[BandOwnerRetractProcessor]]. `maxFilesPerTrigger` is the
    * spec/rehearsal hook that forces an adversarial multi-batch replay;
    * entries run with the default (one AvailableNow batch per available
    * set, retractions only if the source genuinely interleaves).
    */
  def streamNearDupGateAnyOrder(spark: SparkSession, dir: String,
                                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val bands = graft.ext.TextDedup.bandHashesOf(
        readDocuments(spark, dir, maxFilesPerTrigger))
      .select(col("b").cast("int").as("bb"), col("band_hash"),
        col("doc_id"))
      .as[(Int, String, Long)]
    val gated = bands.groupByKey(r => (r._1, r._2))
      .transformWithState(new BandOwnerRetractProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "bb", "blocked")
    // changelog fold: per (doc, band) the status is the monotone OR of
    // its emissions (an upsert keyed on (doc, band)); then the same
    // per-doc admit fold as X217
    runToMemory(gated, "append", dir)
      .groupBy("doc_id", "bb")
      .agg(max(when(col("blocked"), 1L).otherwise(0L)).as("blk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"),
        sum(col("blk")).as("n_blocked_bands"))
      .withColumn("admitted", col("n_blocked_bands") === 0)
      .orderBy("doc_id")
  }

  def streamNearDupGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val bands = graft.ext.TextDedup.bandHashesOf(readDocuments(spark, dir))
      .select(col("b").cast("int").as("bb"), col("band_hash"),
        col("doc_id"))
      .as[(Int, String, Long)]
    val gated = bands.groupByKey(r => (r._1, r._2))
      .transformWithState(new BandOwnerProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "bb", "blocked")
    runToMemory(gated, "append", dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked_bands"))
      .withColumn("admitted", col("n_blocked_bands") === 0)
      .orderBy("doc_id")
  }

  /** X252: streaming Lindley queue monitor — the eleventh keyed state
    * shape: a SEQUENTIAL-RECURRENCE FOLD. The per-type ValueState
    * carries exactly the recurrence's closure — (current wait, last
    * arrival, last service) — and every micro-batch advances
    * Wₙ₊₁ = max(0, Wₙ + sₙ − gapₙ₊₁) over its arrivals in (ts,
    * event_id) order. This is the shape none of the window/sketch
    * states cover: state that is a FOLD over an ordered stream, where
    * batch boundaries are transparent because the closure is complete
    * (the X249 batch twin solves the same recurrence with a
    * running-min window; on the finite ordered replay the two are
    * equal row-for-row, which is the oracle). The same arrival-order
    * guard as the band gate applies: an arrival older than the
    * persisted clock cannot be folded retroactively, so it fails
    * loudly instead of silently corrupting the wait.
    *
    * Scale shape: one exchange on event_type, 24 bytes of state per
    * key forever, per-batch work linear in the batch.
    */
  private class LindleyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), (String, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("lindley",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long, Long)],
                                 timers: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      var has = st.exists()
      var (w, pT, pS) = if (has) st.get() else (0L, 0L, 0L)
      if (has && sorted.nonEmpty && sorted.head._3 < pT)
        throw new IllegalStateException(
          s"stream_queue_wait: arrival at ${sorted.head._3} precedes the " +
            s"persisted clock $pT for type $key; the recurrence fold " +
            "cannot rewind — feed the stream in event-time order")
      val out = sorted.map { case (t, id, ms) =>
        val svc = 400000L + java.lang.Math.floorMod(id, 1000000L)
        if (has) w = math.max(0L, w + pS - (ms - pT))
        has = true; pT = ms; pS = svc
        (t, ms, svc, w)
      }
      st.update((w, pT, pS))
      out.iterator
    }
  }

  def streamQueueWait(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val arrivals = readEvents(spark, dir)
      .selectExpr("event_type", "event_id", "unix_micros(ts) div 1000 as ms")
      .as[(String, Long, Long)]
    val folded = arrivals.groupByKey(_._1)
      .transformWithState(new LindleyProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("event_type", "ms", "svc_ms", "wait_ms")
    // the same audit aggregate as the batch twin — row-identical on
    // the ordered finite replay (the oracle shares X249's SQL)
    runToMemory(folded, "append", dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when(col("wait_ms") > 0, 1L).otherwise(0L)).as("n_queued"),
        max("wait_ms").as("max_wait_ms"),
        sum("wait_ms").as("tot_wait_ms"),
        sum("svc_ms").as("busy_ms"),
        (max("ms") - min("ms")).as("span_ms"))
      .select(col("event_type"), col("n_arrivals"), col("n_queued"),
        col("max_wait_ms"),
        round(col("tot_wait_ms").cast("double") / col("n_arrivals"), 6)
          .as("avg_wait_ms"),
        round(col("n_queued").cast("double") / col("n_arrivals"), 6)
          .as("queued_share"),
        round(col("busy_ms").cast("double") / (col("span_ms") + 1), 6)
          .as("utilization"))
      .orderBy("event_type")
  }

  /** X265: streaming interval-union accumulator — the twelfth keyed
    * state shape: a MONOTONE HORIZON. Per day-key the ValueState holds
    * (furthest covered outage end, last arrival) and each error event
    * contributes exactly the NEW milliseconds it covers
    * (max(0, min(ms+hold, dayEnd) − max(ms, horizon))) — the streaming
    * form of the SLA interval-union (X251): overlap is never double
    * counted because the horizon only moves forward. On the ordered
    * finite replay the per-day totals equal the batch lead()-identity
    * row-for-row (the shared oracle — for sorted fixed-length windows
    * both telescope to |∪ intervals|). Same arrival-order guard as the
    * other fold shapes.
    *
    * Scale shape: one exchange on the bounded day key, 16 bytes of
    * state per day forever, per-batch work linear.
    */
  private class HorizonProcessor(holdMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long, Long), (String, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("horizon",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long, Long, Long)],
                                 timers: TimerValues): Iterator[(String, Long)] = {
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      val has = st.exists()
      var (horizon, lastMs) = if (has) st.get() else (Long.MinValue, Long.MinValue)
      if (has && sorted.nonEmpty && sorted.head._3 < lastMs)
        throw new IllegalStateException(
          s"stream_interval_union: arrival at ${sorted.head._3} precedes " +
            s"the persisted clock $lastMs for day $key — the horizon fold " +
            "cannot rewind; feed the stream in event-time order")
      val out = sorted.map { case (day, _, ms, dayEnd) =>
        val end = math.min(ms + holdMs, dayEnd)
        val inc = math.max(0L, end - math.max(ms, horizon))
        if (end > horizon) horizon = end
        lastMs = ms
        (day, inc)
      }
      st.update((horizon, lastMs))
      out.iterator
    }
  }

  def streamIntervalUnion(spark: SparkSession, dir: String,
                          holdMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val errs = readEvents(spark, dir)
      .filter(col("event_type") === "error")
      .selectExpr("cast(cast(ts as date) as string) as day", "event_id",
        "unix_micros(ts) div 1000 as ms",
        "unix_micros(cast(cast(ts as date) as timestamp)) div 1000 " +
          "+ 86400000 as day_end")
      .as[(String, Long, Long, Long)]
    val folded = errs.groupByKey(_._1)
      .transformWithState(new HorizonProcessor(holdMs),
        TimeMode.None(), OutputMode.Append())
      .toDF("day", "inc")
    runToMemory(folded, "append", dir)
      .groupBy(col("day").cast("date").as("day"))
      .agg(count(lit(1)).as("n_errors"), sum("inc").as("outage_ms"))
      .select(col("day"), col("n_errors"), col("outage_ms"),
        round(lit(1.0) - col("outage_ms").cast("double") / 86400000d, 6)
          .as("availability"))
      .orderBy("day")
  }

  /** X275: streaming max-gap monitor — the thirteenth keyed state
    * shape: a PAIRWISE-ADJACENT fold. Per user the ValueState is just
    * the last arrival clock; each arrival (in (us, event_id) order)
    * emits the gap to its predecessor — the primitive behind
    * heartbeat/liveness monitors and the inter-arrival histograms a
    * bot-detector reads. The FIRST arrival of a user emits nothing
    * (there is no gap yet), so single-event users are absent from the
    * output and the batch twin states the same `lag()`-not-null
    * filter; on the ordered finite replay the emitted gap rows equal
    * the batch window row-for-row. Same arrival-order guard as the
    * other fold shapes: a rewound clock throws rather than folding a
    * negative gap.
    *
    * Scale shape: one exchange on user_id, 8 bytes of state per user
    * forever, per-batch work linear in the batch; the audit aggregate
    * is user-keyed.
    */
  private class MaxGapProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("last_us",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      var has = st.exists()
      var last = if (has) st.get() else 0L
      if (has && sorted.nonEmpty && sorted.head._3 < last)
        throw new IllegalStateException(
          s"stream_max_gap_state: arrival at ${sorted.head._3} precedes " +
            s"the persisted clock $last for user $key — the gap fold " +
            "cannot rewind; feed the stream in event-time order")
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      sorted.foreach { case (u, _, us) =>
        if (has) out += ((u, us, last, us - last))
        has = true; last = us
      }
      st.update(last)
      out.iterator
    }
  }

  def streamMaxGap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val arrivals = readEvents(spark, dir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) as us")
      .as[(Long, Long, Long)]
    val gaps = arrivals.groupByKey(_._1)
      .transformWithState(new MaxGapProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "us", "prev_us", "gap_us")
    // burstiness = max gap / mean gap; mean gap = span / n_gaps, so
    // the ratio is exact-integer-derived and 6dp-rendered once
    runToMemory(gaps, "append", dir)
      .groupBy("user_id")
      .agg((count(lit(1)) + 1).as("n_events"),
        max("gap_us").as("max_gap_us"),
        (max("us") - min("prev_us")).as("span_us"))
      .select(col("user_id"), col("n_events"), col("max_gap_us"),
        col("span_us"),
        when(col("span_us") > 0,
          round(col("max_gap_us").cast("double") * (col("n_events") - 1) /
            col("span_us"), 6)).as("burstiness"))
      .orderBy("user_id")
  }

  /** The PRE-SIGNED leg of [[streamNearDupGate]] (r9 self-assessment
    * #2): a production crawl tailer computes MinHash signatures ONCE
    * upstream (at fetch/parse time) and ships (doc_id, band, hash)
    * rows — the gate itself is then pure keyed-state work. This pair
    * of methods lets the scale rehearsal bill the two stages
    * separately: [[writeBands]] materializes the X2 band relation
    * (the upstream signature stage, batch), ORDERED by doc_id into a
    * single file so the AvailableNow replay honours the gate's
    * arrival-order precondition; [[streamNearDupGatePreSigned]] runs
    * ONLY the admission fold over it. Same processor, same output
    * shape, same oracle semantics as the from-text gate.
    */
  def writeBands(spark: SparkSession, dir: String, out: String): Unit =
    graft.ext.TextDedup.bandHashesOf(
        graft.tables.Tables.documents(spark, dir))
      .select(col("b").cast("int").as("bb"), col("band_hash"), col("doc_id"))
      .orderBy("doc_id", "bb")
      .coalesce(1)
      .write.mode("overwrite").parquet(out)

  def streamNearDupGatePreSigned(spark: SparkSession,
                                 bandsPath: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val schema = spark.read.parquet(bandsPath).schema
    val bands = spark.readStream.schema(schema).parquet(bandsPath)
      .select(col("bb"), col("band_hash"), col("doc_id"))
      .as[(Int, String, Long)]
    val gated = bands.groupByKey(r => (r._1, r._2))
      .transformWithState(new BandOwnerProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "bb", "blocked")
    runToMemory(gated, "append", bandsPath)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked_bands"))
      .withColumn("admitted", col("n_blocked_bands") === 0)
      .orderBy("doc_id")
  }

  /** X247: streaming Bloom-filter admission gate — the BOUNDED-state
    * exact-dup suppressor: where X111 keeps one ValueState per distinct
    * key (state grows with the key domain forever), the Bloom gate's
    * state is capped at `m` bit keys no matter how many documents the
    * crawl tailer ever sees — the classic space/precision trade, and
    * the filter is BIT-SHARDED across the cluster (each bit position is
    * a transformWithState key owning one first-toucher ValueState), the
    * way a filter too big for one node's memory actually deploys. A doc
    * is admitted iff ≥ 1 of its k=3 md5-derived bits was previously
    * untouched (definitely-new); a false positive — all bits touched by
    * OTHER docs — drops a genuinely new doc, the documented Bloom
    * failure mode, deterministic here because the bit functions are
    * md5 arithmetic (no RNG).
    *
    * Semantics note vs X217: the band gate blocks on ANY owned band
    * (near-dup OR); the Bloom gate blocks only when ALL bits are owned
    * (membership AND) — same processor, same min-owner state, opposite
    * quantifier in the per-doc fold. The same arrival-order guard
    * applies (the processor throws on a cross-batch doc_id inversion),
    * and the batch-replay oracle is the same min-owner window with the
    * quantifier flipped.
    *
    * Scale shape: narrow per-row bit arithmetic, one exchange on the
    * bit key (uniform by md5), state ≤ m rows × 16 bytes — fixed-size
    * regardless of volume (the sketch-state point, like X239).
    */
  def streamBloomGate(spark: SparkSession, dir: String,
                      m: Int = 1024, k: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val bitCols = (0 until k).map(i =>
      pmod(conv(substring(md5(concat(col("text"), lit(s"|bloom$i"))), 1, 4),
        16, 10).cast("long"), lit(m.toLong)))
    val bits = readDocuments(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(array(bitCols: _*))).as("bit"))
      .select(lit(0).as("bb"), col("bit").cast("string").as("bit_key"),
        col("doc_id"))
      .as[(Int, String, Long)]
    val gated = bits.groupByKey(r => (r._1, r._2))
      .transformWithState(new BandOwnerProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "bb", "set_before")
    runToMemory(gated, "append", dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bits"),
        sum(when(col("set_before"), 1L).otherwise(0L)).as("n_set_bits"))
      .withColumn("admitted", col("n_set_bits") < col("n_bits"))
      .orderBy("doc_id")
  }

  /** X239: streaming log₂-bucket quantile sketch — the ninth keyed
    * state shape: a MERGEABLE HISTOGRAM (the [[HllRegisterProcessor]]
    * pattern with counters instead of max-registers). Per event type
    * the state is 64 int64 bucket counters over `value` cents
    * (bucket = bit length, the X130 batch sketch exactly); every
    * micro-batch folds its rows in by ADDITION — order-free, so batch
    * boundaries cannot change the converged state — and emits the
    * current p50/p90/p99 bucket picks (target rank ⌈q·n/100⌉, the
    * batch rule verbatim). On the finite replay the last emission per
    * key equals the batch sketch — the oracle states the relational
    * form.
    *
    * Scale shape: 512 bytes of state per key regardless of volume
    * (the sketch-state point); one shuffle on the key, RocksDB-backed.
    */
  private class QuantileSketchProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Int), (String, Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var regs: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]]("buckets",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Int)],
                                 timers: TimerValues): Iterator[(String, Long, Long, Long, Long)] = {
      val bytes = if (regs.exists()) regs.get() else new Array[Byte](512)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val counts = new Array[Long](64)
      var i = 0
      while (i < 64) { counts(i) = bb.getLong(i * 8); i += 1 }
      rows.foreach { case (_, b) =>
        if (b >= 1 && b <= 64) counts(b - 1) += 1
      }
      i = 0
      while (i < 64) { bb.putLong(i * 8, counts(i)); i += 1 }
      regs.update(bytes)
      val n = counts.sum
      def pick(q: Int): Long = {
        val target = (q * n + 99) / 100
        var cum = 0L
        var b = 0
        while (b < 64) {
          cum += counts(b)
          if (cum >= target) return (b + 1).toLong
          b += 1
        }
        64L
      }
      Iterator((key, n, pick(50), pick(90), pick(99)))
    }
  }

  def streamQuantileState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val rows = readEvents(spark, dir)
      .select(col("event_type"),
        length(bin((col("value").cast("decimal(18,2)") * 100)
          .cast("long"))).cast("int").as("bucket"))
      .as[(String, Int)]
    val out = rows.groupByKey(_._1)
      .transformWithState(new QuantileSketchProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("event_type", "n", "b50", "b90", "b99")
    // update mode re-emits per batch; n only grows, so the max-n row
    // per key is the converged sketch
    runToMemory(out, "update", dir)
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("b50"), col("b90"), col("b99")))
        .as("w"))
      .select(col("event_type"), col("w.n").as("n"),
        col("w.b50").as("b50"), col("w.b90").as("b90"),
        col("w.b99").as("b99"))
      .orderBy("event_type")
  }

  /** X144: per-user activity profile as a `transformWithState` MapState
    * — the sixth state shape: a keyed SUB-MAP. Per user the state maps
    * event_type → running count; each micro-batch folds its rows in and
    * emits the touched sub-keys' new totals. This is the state layout
    * for "wide" per-key profiles whose sub-key set is dynamic: a
    * ValueState of the whole profile would rewrite the full map per
    * update, while MapState reads/writes only the touched sub-keys —
    * RocksDB prefix-scans the (key, sub-key) space, the same layout a
    * feature store's online counters use. Counts only grow, so the
    * convergence read (max per pair) equals the final state; on the
    * finite replay that is the batch GROUP BY — the oracle form.
    */
  private class TypeProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var profile: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      profile = getHandle.getMapState[String, Long]("profile",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, String)],
                                 timers: TimerValues): Iterator[(Long, String, Long)] = {
      val batch = rows.foldLeft(Map.empty[String, Long]) { (m, r) =>
        m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
      }
      batch.toSeq.sortBy(_._1).iterator.map { case (t, n) =>
        val total = (if (profile.containsKey(t)) profile.getValue(t) else 0L) + n
        profile.updateValue(t, total)
        (key, t, total)
      }
    }
  }

  def streamMapState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val profile = readEvents(spark, dir)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeProfileProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "event_type", "n_events")
    // counts only grow: max per (user, type) = the final state
    runToMemory(profile, "update", dir)
      .groupBy("user_id", "event_type")
      .agg(max("n_events").as("n_events"))
      .orderBy("user_id", "event_type")
  }

  /** X143: streaming top-k as a `transformWithState` ListState — the
    * fifth state shape beside the counter, gate, sketch and clock: a
    * BOUNDED LIST. Per event_type the state is the current top-3
    * (value, event_id) leaders; each micro-batch merges its rows in and
    * truncates back to k, so state is O(k) per key forever — the
    * leaderboard an unbounded stream keeps without ever buffering
    * history. Ties break on event_id, so shuffle order cannot pick the
    * leader; on the finite AvailableNow replay the emitted leaders
    * equal the batch rank window — the oracle-comparable form.
    */
  private class TopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double, Long), (String, Int, Double, Long)] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var top: ListState[(Double, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[(Double, Long)]("top",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Double, Long)],
                                 timers: TimerValues): Iterator[(String, Int, Double, Long)] = {
      val prev = if (top.exists()) top.get().toSeq else Seq.empty
      val merged = (prev ++ rows.map(r => (r._2, r._3)))
        .sortBy { case (v, id) => (-v, id) }.take(k)
      top.put(merged.toArray)
      merged.iterator.zipWithIndex.map { case ((v, id), i) =>
        (key, i + 1, v, id)
      }
    }
  }

  def streamTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val leaders = readEvents(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .transformWithState(new TopKProcessor(k),
        TimeMode.None(), OutputMode.Update())
      .toDF("event_type", "rank", "value", "event_id")
    // update mode re-emits the refined leaderboard per micro-batch;
    // per (type, rank) the final emission is the (max value, min id)
    // one: values at a rank only improve as batches merge in, and on
    // an equal-value tie the asc-id rule means the smaller id is the
    // one that STAYS — the X120 convergence-read idiom, tie-exact
    runToMemory(leaders, "update", dir)
      .groupBy("event_type", "rank")
      .agg(min(struct((-col("value")).as("nv"), col("event_id"))).as("w"))
      .select(col("event_type"), col("rank"),
        (-col("w.nv")).as("value"), col("w.event_id").as("event_id"))
      .orderBy("event_type", "rank")
  }

  /** X132: TIMER-driven sessionization as a `transformWithState`
    * StatefulProcessor — the fourth state shape on the modern API
    * beside the counter, the gate and the sketch: state with a CLOCK.
    * Per user the state is the one open session (start, last, n); a
    * later event either extends it or — if the 30-min gap passed —
    * closes it inline (emitted IMMEDIATELY: per-key ordering proves a
    * gap-split session can never grow again, so keyed state beats the
    * built-in `session_window`, which must hold every session until the
    * GLOBAL watermark passes — the latency win this entry exists to
    * demonstrate). The final open session per key is closed by an
    * EVENT-TIME TIMER registered at (last + gap): each extension
    * deletes the old timer and registers the new one, and
    * `handleExpiredTimer` emits the session and clears the state once
    * the watermark (1 h delay, ms precision) passes — the state-eviction
    * contract an unbounded stream needs. The oracle states exactly this
    * union: every gap-split session, plus final sessions whose
    * (last + gap) the final watermark passed.
    *
    * Scale shape: one shuffle on user_id; state is O(live keys) triples
    * plus one timer each, RocksDB-backed; nothing buffers raw events.
    */
  private class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    private def expiryMs(lastUs: Long): Long = (lastUs + gapUs) / 1000L
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      // shuffle order is arbitrary; the µs/event_id sort restores the
      // per-key timeline inside the batch
      val evs = rows.toSeq.sortBy(r => (r._2, r._3)).map(_._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var (start, last, n) =
        if (sess.exists()) sess.get() else (-1L, -1L, 0L)
      if (start >= 0) getHandle.deleteTimer(expiryMs(last))
      for (us <- evs) {
        if (start < 0) { start = us; last = us; n = 1L }
        else if (us - last > gapUs) {
          out += ((key, start, last + gapUs, n))
          start = us; last = us; n = 1L
        } else { last = us; n += 1L }
      }
      sess.update((start, last, n))
      getHandle.registerTimer(expiryMs(last))
      out.iterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val (start, last, n) = sess.get()
      sess.clear()
      Iterator((key, start, last + gapUs, n))
    }
  }

  def sessionState(spark: SparkSession, dir: String,
                   gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val sessions = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "start_us", "end_us", "n_events")
    runToMemory(sessions, "append", dir).orderBy("user_id", "start_us")
  }

  /** X95: the strict sequential rate limiter — the operator the batch
    * debounce (X71, `Events.throttleDedup`) explicitly declares
    * streaming-stateful and does NOT implement: admit an event iff at
    * least `minGapUs` has passed since the last ADMITTED event of the
    * same (user, type) — a recurrence on the admitted sequence, not a
    * window over the raw one (a burst of 3 events 40 min apart admits
    * #1 and #3 here; the batch lag-window form admits only #1).
    *
    * Keyed `flatMapGroupsWithState`: state is one long (last admitted
    * µs) per live (user, type) key — O(keys) state, no buffering of the
    * stream itself. Rows inside a micro-batch are sorted per key before
    * the walk (the shuffle does not preserve event-time order); across
    * micro-batches the state value carries the recurrence forward, so
    * the same operator runs unchanged on an unbounded stream. The
    * oracle states the recurrence as a per-key recursive CTE.
    */
  def throttleGreedy(spark: SparkSession, dir: String,
                     minGapUs: Long = 3600000000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val admitted = readEvents(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Long, String), rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = Vector.newBuilder[(Long, Long, String, Long)]
          rows.toVector.sortBy(r => (r._3, r._4)).foreach { r =>
            if (last == Long.MinValue || r._3 - last >= minGapUs) {
              out += ((r._4, r._1, r._2, r._3))
              last = r._3
            }
          }
          state.update(last)
          out.result().iterator
        })
      .toDF("event_id", "user_id", "event_type", "us")
    runToMemory(admitted, "append", dir).orderBy("event_id")
  }

  /** X99: streaming last-touch attribution — the stream twin of the
    * batch as-of attribution (X89, `Events.attribution`): per-user
    * keyed state carries (last touch type, its µs) across micro-
    * batches; every purchase emits its attribution row the moment it's
    * processed. Emitting per-purchase rows (not the channel aggregate)
    * keeps the operator append-mode-clean — Spark forbids another
    * aggregate downstream of arbitrary state in append mode, and the
    * per-row form is what a production pipeline sinks anyway (the
    * channel roll-up is a batch query over the sink). The oracle is
    * the batch LAST_VALUE window — stream/batch agreement proved per
    * purchase, not just in aggregate.
    */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val rows = readEvents(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        col("value").cast("decimal(18,2)").cast("double").as("v"))
      .as[(Long, String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, String, Long, Long, Double)],
         state: GroupState[(String, Long)]) => {
          var touch = state.getOption.getOrElse(("none", Long.MinValue))
          val out = Vector.newBuilder[(Long, String, Double)]
          // within-batch sort restores event-time order; the (kind,
          // event_id) tie keys match the batch window's ordering
          it.toVector.sortBy(r => (r._3, r._2 == "purchase", r._4))
            .foreach { r =>
              if (r._2 == "purchase") out += ((r._4, touch._1, r._5))
              else touch = (r._2, r._3)
            }
          state.update(touch)
          out.result().iterator
        })
      .toDF("purchase_id", "channel", "value")
    runToMemory(rows, "append", dir).orderBy("purchase_id")
  }

  /** Stream-stream interval join — the two-sided stateful join class:
    * signups and purchases arrive as two watermarked streams, joined on
    * user plus a one-hour event-time range. The time-bound condition plus
    * the two watermarks let Spark evict both sides' join state once the
    * watermark passes the match window — bounded state on unbounded
    * streams, where an unconstrained stream-stream join would buffer
    * forever. Inner-join matches emit as they occur (watermarks only
    * bound state, they don't withhold inner results), so the finite
    * AvailableNow replay equals the batch interval join the oracle runs.
    */
  def streamStreamRangeJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemoryPartitions(
      signupPurchaseJoin(readEvents(spark, dir), "inner"), "append",
      Some(derivedStatePartitions(spark, dir)))
      .orderBy("signup_id", "purchase_id")

  /** The signup⋈purchase interval-join plan — one construction for the
    * inner and left-outer variants (see [[tumblingPlan]]): both sides
    * watermarked, joined on user plus the one-hour event-time range.
    */
  private def signupPurchaseJoin(ev: DataFrame, joinType: String): DataFrame = {
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    s.join(p,
      col("p_user") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("signup_id"), col("purchase_id"),
        col("s_user").as("user_id"), col("value"))
  }

  /** One far-future sentinel event per side, landed as a parquet file
    * and streamed alongside the fixture: it advances both sides'
    * watermarks a day past the data, so every real row's no-match proof
    * is decidable before the stream ends. This is the standard
    * close-the-stream flush — the engine's internal outer-emission bound
    * (watermark delay + condition window + cleanup-batch granularity) is
    * NOT a stable oracle quantity, but "sentinel far beyond every bound"
    * is. Sentinels carry user_id -1 and are filtered out after the
    * watermark operator has seen them.
    */
  private val sentinelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def sentinelDir(spark: SparkSession, dir: String): String =
    sentinelCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import spark.implicits._
      val maxNs = graft.tables.Tables.events(spark, dir)
        .agg(max(unix_micros(col("ts")))).head().getLong(0) * 1000L
      val flushNs = maxNs + 86400L * 1000000000L // one day beyond the data
      // scratch placement + cleanup + local-mode assumption: Scratch
      val out = graft.tables.Scratch.dir(spark, "graft-stream-sentinel").toString
      Seq((-1L, flushNs, -1L, "signup", 0.0, "{}"),
        (-2L, flushNs, -1L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(out)
      out
    })

  /** The fixture events stream plus the flush sentinels. */
  private def readEventsFlushed(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir).unionByName(
      spark.readStream.schema(eventsSchema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(sentinelDir(spark, dir))
        .withColumn("ts", graft.tables.Tables.nsTsToMicros))

  /** Left-outer stream-stream join: like [[streamStreamRangeJoin]] but a
    * signup with no purchase in its hour emits a null-extended row once
    * the watermark proves no match can still arrive — the semantics that
    * make stream-stream outer joins need both the watermark and the
    * time-bound condition. The flush sentinels make every real signup
    * decidable on the finite replay, so the result equals the batch
    * left join exactly.
    */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame =
    // NOTE: sentinels flow through the whole streaming plan on purpose.
    // A pre-join `user_id >= 0` filter would be pushed below the
    // EventTimeWatermark operator by Catalyst (it's deterministic and
    // doesn't reference the event-time column), silently dropping the
    // sentinels before they advance the watermark. The two sentinels
    // only ever match each other (user -1), and that one pair is
    // excluded from the *sink* table, batch-side.
    runToMemoryPartitions(
      signupPurchaseJoin(readEventsFlushed(spark, dir), "left_outer"),
      "append", Some(derivedStatePartitions(spark, dir)))
      .filter(col("user_id") >= 0)
      .orderBy("signup_id", "purchase_id")

  /** Append-mode sessionization: only sessions the watermark has closed
    * (last event + 30min gap behind the watermark) are emitted and their
    * state evicted — [[sessionWindows]]' production posture, same
    * closed-session predicate on the oracle's batch sessionization.
    */
  def sessionWindowsAppend(spark: SparkSession, dir: String): DataFrame =
    runToMemory(sessionPlan(spark, dir), "append", dir)
      .orderBy("user_id", "start_us")

  /** The streaming delivery boundary end-to-end: the append-mode tumbling
    * aggregate `writeStream`s into the gather DSv2 sink
    * ([[graft.sources.v2.GatherWriteBuilder]], STREAMING_WRITE — the
    * continuous form of the reference's per-cycle deliveries,
    * DW.js:297,357,381), landing epoch-named JSON-lines part files, which
    * the same source's V2 *scan* then reads back. The returned relation
    * therefore proves the whole loop — stream → streaming sink → scan —
    * and the oracle compares it against the batch closed-window SQL (the
    * stream_tumbling_append twin): the sink/scan round-trip must be
    * value-lossless or the hash gate trips.
    */
  def tumblingSinkV2(spark: SparkSession, dir: String): DataFrame =
    tumblingSinkV2To(spark, dir,
      graft.tables.Scratch.dir(spark, "graft-stream-sink-v2").toString,
      graft.tables.Scratch.dir(spark, "graft-stream-sink-ckpt").toString)

  private[graft] def tumblingSinkV2To(spark: SparkSession, dir: String,
                                      land: String, ckpt: String): DataFrame = {
    val q = tumblingPlan(spark, dir).writeStream
      .format(graft.sources.v2.GatherSource.Format)
      .option("url", land)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(180000L)) {
      q.stop()
      throw new IllegalStateException(
        "V2-sink streaming query did not finish within 180s")
    }
    spark.read.format(graft.sources.v2.GatherSource.Format)
      .schema(StructType(Seq(
        StructField("hour_start", StringType), StructField("event_type", StringType),
        StructField("n", LongType), StructField("sum_value", DoubleType))))
      .option("url", land)
      .load()
      .orderBy("hour_start", "event_type")
  }

  /** The continuous remote re-list as a bounded streaming read: the gather
    * V2 source's MICRO_BATCH_READ surface
    * ([[graft.sources.v2.GatherPollStream]] — each trigger is one of the
    * reference daemon's per-cycle list polls, DW.js:67-74) driven with
    * `Trigger.AvailableNow`, which admits exactly one snapshot poll and
    * stops. The projection is the same pushdown shape as the batch
    * `scan_remote_v2` entry, and the oracle compares against the same
    * twin — poll-stream and batch scan must see the identical list.
    */
  def pollProjectsSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val snap = spark.readStream
      .format(graft.sources.v2.GatherSource.Format)
      .schema(graft.sources.v2.GatherSource.ProjectsSchema)
      .option("url", graft.sync.SyncInputs.projectsWireUrl(spark, dir))
      .option("parts", "4")
      .load()
      .filter(col("iam") === "gatherbot" && col("is_dataset"))
      .select("id", "p_file", "title")
    runToMemory(snap, "append", dir).orderBy("id")
  }

  /** Stateful streaming dedup — X1's streaming form; count of distinct
    * keys is the comparable output.
    *
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes the key's event time + delay, so state is evictable
    * on an unbounded stream (plain `dropDuplicates` grows without bound —
    * the SURVEY §2.9 watermarked-dedup extension point). The fixture
    * replays as a single AvailableNow micro-batch (one file matches the
    * glob), within which dedup is complete, so the emitted count equals
    * the batch-distinct count the oracle computes; eviction semantics are
    * proven separately in WatermarkSpec.
    */
  def dedupDistinctPairs(spark: SparkSession, dir: String): DataFrame = {
    val distinctRows = readEvents(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    runToMemory(distinctRows, "append", dir)
      .agg(count(lit(1)).as("n_distinct_pairs"))
  }

  /** Stream-static enrichment join: each streamed event joins a static
    * per-user profile snapshot (total event count from the batch table)
    * and aggregates per (event_type, heavy-user flag). Stream-static
    * joins re-execute the static subplan every micro-batch, so the
    * production posture is an explicitly `broadcast()` dim — the stream
    * side never shuffles for the join, and the profile build is one
    * aggregate per batch (a real deployment would read a pre-materialized
    * profile table; the mechanism is identical). The heavy threshold
    * (>= 70 lifetime events) is a fixed operator parameter, not derived
    * from the data, so the twin states the same literal.
    */
  def streamStaticProfileJoin(spark: SparkSession, dir: String): DataFrame = {
    val profile = graft.tables.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_total"))
    val enriched = readEvents(spark, dir)
      .join(broadcast(profile), Seq("user_id"))
      // complete mode is HARNESS-ONLY (finite oracled replay); the
      // production form windows + watermarks this aggregate like
      // [[tumblingHourlyAppend]] — the join itself is stateless either way
      .groupBy(col("event_type"), (col("user_total") >= 70).as("heavy_user"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    runToMemory(enriched, "complete", dir).orderBy("event_type", "heavy_user")
  }

  /** Checkpoint-restart exactly-once resume — the recovery half of the
    * streaming contract, which no single-run entry can witness.
    *
    * The fixture is landed into a watched directory in two TIME halves.
    * Run 1 streams half 1 through the append-mode tumbling aggregate into
    * a parquet sink with a checkpoint, then STOPS — offsets, watermark
    * and the open windows' aggregation state all persist in the
    * checkpoint. Half 2 lands, and the SAME query restarts from the same
    * checkpoint: it must admit only the new files (no re-emission of run
    * 1's windows), restore the watermark, and complete the boundary
    * window whose rows straddle the restart — so the sink's union equals
    * the batch closed-window aggregate over ALL events (the
    * stream_tumbling_append twin). Any reprocessing duplicates rows and
    * trips the hash gate; any state loss undercounts the straddling
    * window. [[restartResumeRun1Rows]] additionally proves run 1 emitted
    * a strict, non-empty subset (the restart really was incremental).
    */
  private case class ResumeResult(sinkDir: String, run1Rows: Long)
  private val resumeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), ResumeResult]

  private def restartResumeRun(spark: SparkSession, dir: String): ResumeResult =
    resumeCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val src = graft.tables.Scratch.dir(spark, "graft-resume-src-").toString
      val sink = graft.tables.Scratch.dir(spark, "graft-resume-sink-").toString
      val ckpt = graft.tables.Scratch.dir(spark, "graft-resume-ckpt-").toString
      val ev = graft.tables.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      // time split: each half owns a contiguous ts range, so run 1's
      // emitted (closed) windows never see half-2 rows as late data
      val b = ev.agg(unix_micros(min("ts")), unix_micros(max("ts"))).head()
      val midUs = (b.getLong(0) + b.getLong(1)) / 2
      val mid = timestamp_micros(lit(midUs))
      def land(half: DataFrame): Unit =
        half.coalesce(1).write.mode("append").parquet(src)
      def run(): Unit = {
        val q = spark.readStream.schema(ev.schema).parquet(src)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            col("event_type"), col("n"), col("sum_value"))
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        if (!q.awaitTermination(180000L)) {
          q.stop()
          throw new IllegalStateException(
            "restart-resume streaming query did not finish within 180s")
        }
      }
      land(ev.filter(col("ts") < mid))
      run()
      val run1Rows = spark.read.parquet(sink).count()
      land(ev.filter(col("ts") >= mid))
      run()
      ResumeResult(sink, run1Rows)
    })

  def restartResume(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(restartResumeRun(spark, dir).sinkDir)
      .orderBy("hour_start", "event_type")

  private[graft] def restartResumeRun1Rows(spark: SparkSession, dir: String): Long =
    restartResumeRun(spark, dir).run1Rows
}
