package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Relational HyperLogLog (Flajolet et al., AofA'07) — the
  * register-exact, cross-engine-reproducible distinct sketch that
  * complements the KMV family ([[graft.functions.KmvMinK]]): KMV keeps
  * the k smallest hashes (state O(k) VALUES), HLL keeps one max-rank
  * byte per bucket (state O(m) BITS — the sketch you ship to a
  * dashboard or gossip between 1000 executors).
  *
  * Everything before the final estimate is INTEGER-exact, so the sketch
  * hash-compares across engines:
  *  - hash  = first 32 bits of md5(value), via hex — engine-portable;
  *  - bucket = hash mod 256 (p=8), w = hash div 256 (24 bits);
  *  - rho   = leading-zero count of w within 24 bits, plus 1 —
  *            computed as `25 - length(bin(w))` (bin() prints the
  *            minimal binary string in both Spark and DuckDB; its
  *            LENGTH is the MSB position, an integer-exact way to take
  *            floor(log2) that never touches IEEE);
  *  - register M_b = max rho per bucket (0 for empty buckets).
  * The harmonic sum S = Σ 2^-M_b is ALSO exact: 256 terms, each an
  * exact power of two in [2^-25, 1], spans 33 mantissa bits < 53 — the
  * double sum is the true rational regardless of add order. IEEE enters
  * only in the last division (and ln() on the linear-counting branch),
  * both computed with textually identical expressions on both engines.
  *
  * Scale shape: the raw stream collapses to (scope, bucket, max-rho) by
  * a map-side-combinable aggregate — 256 rows per scope out of any
  * event volume; the grid join, harmonic sum and estimate all run over
  * that sketch-sized relation. Merging scopes is a max per bucket
  * (associative, idempotent) — the rollup entry proves merged == direct
  * in the output itself.
  */
object Sketches {

  private val m = 256 // buckets (p = 8); std err 1.04/sqrt(m) = 6.5%

  /** (bucket, rho) per raw event row — the hash/bucket/rank pipeline
    * shared by the grouped and the direct register builds.
    */
  private def rhoCells(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      // h/m is double division, but m is a power of two, so the quotient
      // is exact (exponent shift) and the long cast IS integer div —
      // matching the oracle's `h // 256`
      .select(col("event_type"), pmod(col("h"), lit(m)).as("b"),
        (col("h") / lit(m)).cast("long").as("w"))
      .select(col("event_type"), col("b"),
        when(col("w") === 0, lit(25))
          .otherwise(lit(25) - length(bin(col("w")))).as("rho"))

  /** Per-(event_type, bucket) registers — the only full pass over the
    * raw table that X105 and X106's merged leg share (memoized).
    */
  private def cells(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, dir, "sketch.hll_cells")(rhoCells(spark, dir)
      .groupBy("event_type", "b").agg(max("rho").as("rho")))

  /** The full 0..m-1 register vector for each scope in `regs`
    * (scope, b, rho over PRESENT buckets): empty buckets must
    * contribute 2^0 to the harmonic sum and count toward V.
    */
  private def estimate(regs: DataFrame, scopes: DataFrame): DataFrame = {
    val grid = scopes.select(col("scope"),
      explode(sequence(lit(0), lit(m - 1))).as("b"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    grid.join(regs, Seq("scope", "b"), "left")
      .select(col("scope"), coalesce(col("rho"), lit(0)).as("rho"))
      .groupBy("scope")
      .agg(sum(pow(lit(2.0), -col("rho"))).as("s"),
        sum(when(col("rho") === 0, 1).otherwise(0)).as("v"))
      .select(col("scope"),
        round(
          when((alpha * lit(m.toDouble * m) / col("s")) <= lit(2.5 * m) &&
               col("v") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
            .otherwise(alpha * lit(m.toDouble * m) / col("s")), 6)
          .as("hll_est"))
  }

  /** X105: per-event-type distinct users, estimated by the relational
    * HLL beside the exact count — the output carries its own error
    * audit (|est/exact - 1|, HLL's 6.5% std-err band at m=256).
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val regs = cells(spark, dir).withColumnRenamed("event_type", "scope")
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type").as("scope"))
      .agg(countDistinct("user_id").as("exact_users"))
    estimate(regs, exact.select("scope"))
      .join(exact, Seq("scope"))
      .select(col("scope").as("event_type"), col("exact_users"),
        col("hll_est"),
        round(abs(col("hll_est") / col("exact_users") - lit(1.0)) * 100, 4)
          .as("err_pct"))
      .orderBy("event_type")
  }

  /** X106: the mergeability law, stated in the output — the global
    * sketch computed two ways: `all_direct` (registers over the
    * ungrouped stream) and `all_merged` (per-type registers merged by
    * max-per-bucket). They are equal by max-associativity; a reader —
    * and the oracle hash — sees identical estimates, which is exactly
    * the property that lets 1000 executors sketch independently and a
    * coordinator fold the 256-byte states.
    */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val perType = cells(spark, dir).withColumnRenamed("event_type", "scope")
    // genuinely different dataflows: `direct` registers the ungrouped
    // stream; `merged` folds the per-type sketches by max-per-bucket
    val direct = rhoCells(spark, dir).groupBy("b").agg(max("rho").as("rho"))
      .select(lit("all_direct").as("scope"), col("b"), col("rho"))
    val merged = perType.groupBy("b").agg(max("rho").as("rho"))
      .select(lit("all_merged").as("scope"), col("b"), col("rho"))
    val regs = perType.unionByName(direct).unionByName(merged)
    estimate(regs, regs.select("scope").distinct())
      .orderBy("scope")
  }

  /** X119: trailing-7-day distinct users per day, by HLL register merge
    * — the sketch-tier answer to [[graft.ext.Events.rollingDistinctUsers]]
    * (X29), which re-counts each window exactly. Here the raw stream is
    * hashed ONCE into per-day registers (one corpus pass, keyed on
    * (day, bucket)), and every trailing window [e−6, e] is the
    * max-per-bucket FOLD of its member days' 256-byte sketches — the
    * X106 mergeability law doing production work: at 100 TB a day's
    * sketch is built incrementally as events land, and a window query
    * touches 7 × 256 register rows, never the raw events again. The
    * day→window expansion is a 7-way explode of the per-day register
    * relation (bounded by days × 256, not by events); windows are
    * reported for days that exist in the data.
    *
    * The estimate column is register-exact and engine-portable (the
    * X105 argument: bucket/rank are INTEGER, the harmonic sum is ≤256
    * single-bit powers of two spanning < 53 bits — exact in any
    * order), so the whole output hash-oracles. X105 carries the
    * est-vs-exact error audit for this register family.
    */
  def hllSlidingDays(spark: SparkSession, dir: String,
                     windowDays: Int = 7): DataFrame = {
    val dayCells = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day_num"),
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .select(col("day_num"), pmod(col("h"), lit(m)).as("b"),
        (col("h") / lit(m)).cast("long").as("w"))
      .select(col("day_num"), col("b"),
        when(col("w") === 0, lit(25))
          .otherwise(lit(25) - length(bin(col("w")))).as("rho"))
      .groupBy("day_num", "b").agg(max("rho").as("rho"))
    val presentDays = dayCells.select(col("day_num").as("scope")).distinct()
    val windowRegs = dayCells
      .select(col("b"), col("rho"),
        explode(sequence(col("day_num"),
          col("day_num") + (windowDays - 1))).as("scope"))
      .join(presentDays, Seq("scope"), "left_semi")
      .groupBy("scope", "b").agg(max("rho").as("rho"))
    estimate(windowRegs, presentDays)
      .select(col("scope").as("window_end_day"), col("hll_est"))
      .orderBy("window_end_day")
  }

  /** X128: mergeable log₂-bucket quantile sketch — the quantile sibling
    * of the HLL distinct sketch, with the SAME portability discipline:
    * state is a tiny (bucket → count) histogram where bucket is the
    * binary MSB position of the value in cents (`length(bin(cents))` —
    * the engine-portable integer floor(log₂) the HLL rank already
    * uses), so quantile queries never sort the data and the whole
    * output is INTEGER-exact (no IEEE anywhere — the reported estimate
    * is the bucket's lower bound 2^(b−1), a guaranteed ≤2× bracket of
    * the true quantile, the DDSketch/HdrHistogram trade stated
    * honestly). The mergeability law rides in the output like X106:
    * `all_direct` buckets the ungrouped stream, `all_merged` sums the
    * per-priority sketches — equal by sum-associativity, the property
    * that lets 1000 executors histogram independently and a
    * coordinator fold ~64-counter states.
    *
    * Scale shape: one map-side-combinable (scope, bucket) count over
    * the fact table; everything downstream (cumulative ranks, quantile
    * row lookup) runs on the sketch-sized relation (≤64 buckets ×
    * scopes). Target ranks are exact integer ceil arithmetic
    * (`(q·n + 99) div 100`), never a float threshold.
    */
  def log2Quantiles(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("scope"),
        length(bin((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long"))).as("bucket"))
    val perScope = rows.groupBy("scope", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val direct = rows.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .select(lit("all_direct").as("scope"), col("bucket"), col("cnt"))
    val merged = perScope.groupBy("bucket").agg(sum("cnt").as("cnt"))
      .select(lit("all_merged").as("scope"), col("bucket"), col("cnt"))
    val sketch = perScope.unionByName(direct).unionByName(merged)
    val cum = sketch.withColumn("cum",
      sum("cnt").over(org.apache.spark.sql.expressions.Window
        .partitionBy("scope").orderBy("bucket")))
    val qs = sketch.groupBy("scope").agg(sum("cnt").as("n"))
      .select(col("scope"), col("n"),
        explode(array(lit(50), lit(90), lit(99))).as("qpct"))
      .withColumn("target", expr("(qpct * n + 99) div 100"))
    qs.join(cum.select("scope", "bucket", "cum"), Seq("scope"))
      .filter(col("cum") >= col("target"))
      .groupBy("scope", "qpct", "n", "target")
      .agg(min("bucket").as("bucket"))
      .select(col("scope"), col("qpct"), col("n"), col("target"),
        col("bucket"),
        expr("shiftleft(cast(1 as bigint), bucket - 1)").as("lo_bound"))
      .orderBy("scope", "qpct")
  }

  /** X254: HLL register-count sweep — the sketch-sizing table: the SAME
    * distinct-user question answered at m ∈ {16, 64, 256} registers
    * beside the exact count, with per-m relative error. This is the
    * planning number behind "how many bytes per key does the 100 TB
    * rollup actually need" (theory says 1.04/√m; the sweep shows what
    * THIS key distribution pays). Register-exact like the X105 family:
    * each m's (bucket, ρ) convention is the X105 rule at that width
    * (b = h mod m, ρ = (33 − log₂m) − bit_length(h div m)), estimates
    * use the paper's α constants (0.673 / 0.709 / 0.7213-corrected)
    * with the same linear-counting branch — every cell hash-oracles.
    *
    * Scale shape: one raw pass per m over the hashed stream (three
    * map-combinable max-aggregates that could share one scan at 100 TB
    * via a single explode — stated; at any m the state is m rows/key).
    */
  def hllMSweep(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.events(spark, dir)
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
    def estAt(mm: Int, alpha: Double, out: String): DataFrame = {
      val rhoMax = 33 - (math.log(mm.toDouble) / math.log(2.0)).round.toInt
      val regs = hashed
        .select(col("event_type"), pmod(col("h"), lit(mm)).as("b"),
          (col("h") / lit(mm)).cast("long").as("w"))
        .select(col("event_type"), col("b"),
          when(col("w") === 0, lit(rhoMax))
            .otherwise(lit(rhoMax) - length(bin(col("w")))).as("rho"))
        .groupBy("event_type", "b").agg(max("rho").as("rho"))
      regs.groupBy("event_type")
        .agg(sum(pow(lit(2.0), -col("rho"))).as("sp"),
          count(lit(1)).as("np"),
          sum(when(col("rho") === 0, 1).otherwise(0)).as("vp"))
        .select(col("event_type"),
          (col("sp") + (lit(mm) - col("np"))).as("s"),
          (col("vp") + (lit(mm) - col("np"))).as("v"))
        .select(col("event_type"),
          round(
            when((lit(alpha) * lit(mm.toDouble * mm) / col("s")) <=
                 lit(2.5 * mm) && col("v") > 0,
              lit(mm.toDouble) * log(lit(mm.toDouble) / col("v")))
              .otherwise(lit(alpha) * lit(mm.toDouble * mm) / col("s")), 6)
            .as(out))
    }
    val exact = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    def err(est: org.apache.spark.sql.Column) =
      round(abs(est / col("exact_users") - lit(1.0)) * 100, 4)
    exact
      .join(estAt(16, 0.673, "est_m16"), Seq("event_type"))
      .join(estAt(64, 0.709, "est_m64"), Seq("event_type"))
      .join(estAt(256, 0.7213 / (1.0 + 1.079 / 256.0), "est_m256"),
        Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        col("est_m16"), err(col("est_m16")).as("err16_pct"),
        col("est_m64"), err(col("est_m64")).as("err64_pct"),
        col("est_m256"), err(col("est_m256")).as("err256_pct"))
      .orderBy("event_type")
  }
}
