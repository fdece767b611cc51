package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, SessionBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat

/** How graft makes sessions, and the one way an operator runs under
  * confs of its own.
  *
  * An operator that needs a conf (loop-local shuffle width, AQE off, a
  * streaming state-partition count, a state-store provider) never writes
  * it into the caller's session: [[scoped]] runs the operator on a clone
  * of the session holding those confs. The clone shares the
  * SparkContext, the cache manager and, because [[Memo]] keys on the
  * application id, every memo. Other threads planning against the
  * caller's session never see the operator's confs, and the caller's
  * conf is the same after the call as before.
  *
  * Two scopes size themselves: [[loop]] gives an iterative operator a
  * shuffle width for the relation it iterates over, and [[interpreted]]
  * runs a small call without generated code.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, or `default`. */
  def envCpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** Spark's own builder with the settings every graft main shares:
    * `local[cpus]`, one shuffle partition per core, UTC and no UI.
    * Callers add their own `.config` and call `getOrCreate()`.
    */
  def builder(cpus: Int = envCpus()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Run `f` on a clone of `spark` with `confs` set. Scopes nest: a
    * scope opened on a scoped session starts from that session's confs.
    *
    * A DataFrame that `f` builds belongs to the clone; one that outlives
    * the call goes back through [[bind]]`(spark, _)`, so its lazy tail
    * plans under the caller's conf.
    */
  def scoped[T](spark: SparkSession, confs: (String, String)*)
               (f: SparkSession => T): T = {
    val clone = SessionBridge.cloneSession(spark)
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    f(clone)
  }

  /** Run an iterative operator's loop on a scope sized to the relation it
    * iterates over, `rows` rows as measured by a cut
    * ([[Checkpoints.rows]]): max(4, min(session width, rows / 2M + 1))
    * shuffle partitions, about 2M rows (50–100 MB) per reduce task, so a
    * small graph schedules no empty reducers and a 100 TB one gets
    * hundreds of right-sized ones. AQE is off in the scope: per-exchange
    * re-planning is pure latency on a chain of bounded shuffles whose
    * sizes were just measured.
    */
  def loop[T](spark: SparkSession, rows: Long)(f: SparkSession => T): T = {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toLong
    scoped(spark,
      "spark.sql.shuffle.partitions" ->
        math.max(4L, math.min(width, rows / 2000000L + 1L)).toString,
      "spark.sql.adaptive.enabled" -> "false")(f)
  }

  /** Rows below which [[interpreted]] runs a call on Spark's interpreted
    * path. Generated code pays a fixed cost per class (Janino compile plus
    * JIT warm-up of the new class) and then saves a cost per row, and a
    * steady sync cycle pays the fixed cost every time: its ~130 distinct
    * classes (~220 under AQE's per-stage names) overflow Spark's static
    * 100-entry codegen cache, so each cycle recompiles them all.
    *
    * The bound sits just below the lowest crossover measured for the
    * calls that use the scope. `InterpretedCrossover` (test sources)
    * times each over n files in both modes, the codegen cache emptied
    * before each run as a steady cycle finds it, median of 3, on a 4-core
    * host at local[4]. Codegen vs interpreted seconds, by the known rows
    * the call is sized by:
    *  - `DataWarehouseSync.syncFilesystem`, a tree of n files with an
    *    in-sync remote, sized by the tree and the remote's lists (~2n):
    *    20k 2.70 vs 2.34, 201k 11.69 vs 10.92, 603k 32.83 vs 29.89, 1.01M
    *    42.20 vs 41.69, 1.41M 60.74 vs 63.61.
    *  - `syncCategories`, sized alike: 20k 1.21 vs 0.98, 201k 6.18 vs
    *    5.64, 603k 15.25 vs 15.07, 1.01M 13.37 vs 13.44, 1.41M 18.02 vs
    *    18.99.
    *  - `Incremental.diffActions` plus `updateLedger`, sized by both
    *    snapshots: 16k 1.97 vs 1.78, 486k 4.83 vs 4.26, 890k 5.81 vs
    *    4.86, 1.13M 6.67 vs 6.20, 1.30M 9.89 vs 12.11, 3.24M 14.61 vs
    *    24.52.
    * The sync calls tie at 1.01M and lose at 1.41M; the diff wins to
    * 1.13M and loses from 1.30M on. A daemon's cycle therefore changes
    * mode as a whole near a tree of 500k files.
    */
  val InterpretedRows: Long = 1000000L

  /** What is known without a job of the rows `dfs` read, summed over
    * the leaves of their optimized plans (saturating at `Long.MaxValue`):
    * one row per file for a `binaryFile` listing (the count its file
    * index already holds), else the leaf's row count statistic (a cut's
    * measured count, [[Checkpoints.rows]]) or its size estimate over its
    * row-width estimate. A leaf of unknown size reads as Spark's
    * `defaultSizeInBytes`, which is as good as unbounded.
    */
  def knownRows(dfs: DataFrame*): Long =
    dfs.iterator.flatMap(_.queryExecution.optimizedPlan.collectLeaves()).map {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if h.fileFormat.isInstanceOf[BinaryFileFormat] => BigInt(files(h))
      case leaf => leaf.stats.rowCount.getOrElse(
        leaf.stats.sizeInBytes / EstimationUtils.getSizePerRow(leaf.output))
    }.sum.min(BigInt(Long.MaxValue)).toLong

  /** Files in a file relation's index: listed already, so no job. */
  private[graft] def files(h: HadoopFsRelation): Long = h.location match {
    case index: PartitioningAwareFileIndex => index.allFiles().size.toLong
    case index => index.inputFiles.length.toLong
  }

  /** Run `f` without generated code when it reads fewer than
    * [[InterpretedRows]] rows (`rows`, as [[knownRows]] counts them): on a
    * clone of `spark` with whole-stage codegen off and expressions on
    * Spark's interpreted path (`spark.sql.codegen.factoryMode=NO_CODEGEN`).
    * Otherwise `f` runs on `spark` unchanged. A session whose factory mode
    * is set already (an interpreted scope, or a caller that chose a mode)
    * is used as it is.
    *
    * Each caller session has one interpreted clone, made again when the
    * caller's conf changes or once nothing built on the clone is left
    * (the caller does not keep it alive). A few operators generate code
    * on the interpreted path too (a hash join's key projection, an
    * aggregation's row joiner), and Spark caches a generated class per
    * session (per executor class loader), so a fresh clone per call would
    * compile those classes on every call.
    *
    * What `f` returns stays bound to the clone, the one exception to
    * [[bind]]'s rule: the clone differs from `spark` only in execution
    * mode, and a small call's result is consumed by small plans (a write,
    * a diff, a delivery) that would otherwise compile classes of their
    * own.
    */
  def interpreted[T](spark: SparkSession, rows: Long)(f: SparkSession => T): T = {
    val conf = spark.conf.getAll
    if (rows >= InterpretedRows || conf.contains(FactoryMode)) f(spark)
    else f(interpretedClones.synchronized {
      Option(interpretedClones.get(spark)).filter(_._1 == conf)
        .flatMap(held => Option(held._2.get)).getOrElse {
          val clone = scoped(spark, "spark.sql.codegen.wholeStage" -> "false",
            FactoryMode -> "NO_CODEGEN")(identity)
          interpretedClones.put(spark, conf -> new WeakReference(clone))
          clone
        }
    })
  }

  private val FactoryMode = "spark.sql.codegen.factoryMode"

  // caller session -> (its conf when cloned, its interpreted clone). The
  // clone is held weakly: its session state is built from the caller's
  // and refers back to it, so a strong value would keep every caller that
  // ever made a small call alive. A clone lives while anything built on
  // it does (a DataWarehouseSync's held run), and is made again after.
  private val interpretedClones =
    new java.util.WeakHashMap[SparkSession, (Map[String, String], WeakReference[SparkSession])]()

  /** `df` re-rooted in `session`: the same analyzed plan, optimized,
    * planned and executed under `session`'s conf. Cached relations carry
    * over, since sessions of one application share the cache manager.
    */
  def bind(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df else SessionBridge.ofRows(session, df)
}
