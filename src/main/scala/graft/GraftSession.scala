package graft

import org.apache.spark.sql.{DataFrame, SessionBridge, SparkSession}

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

  /** `df` re-rooted in `session`: the same analyzed plan, optimized,
    * planned and executed under `session`'s conf. Cached relations carry
    * over, since sessions of one application share the cache manager.
    */
  def bind(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df else SessionBridge.ofRows(session, df)
}
