package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.tables.Tables

/** X6 — windowed / sessionized event analytics plus JSON extraction over
  * the `events` stream table (SURVEY.md §2.9-§2.10). Batch forms here;
  * the Structured Streaming variants (watermark + `session_window`) live
  * in [[graft.streaming]].
  *
  * Scale notes: everything partitions by `user_id` or by time bucket —
  * both high-cardinality, shuffle-friendly keys. Sessionization is the
  * classic gaps-and-islands rewrite (lag + running sum), one shuffle on
  * user_id; no driver-side state.
  */
object Events {

  private val D2 = DecimalType(18, 2)

  /** Tumbling 1-hour windows via the native `window()` operator. The
    * window struct is surfaced as a formatted string for cross-engine
    * comparison (DuckDB: `date_trunc('hour', ts)`).
    */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  /** Sliding (hopping) windows: 1-hour duration, 15-minute slide — every
    * event contributes to duration/slide = 4 overlapping windows. The
    * native `window(ts, dur, slide)` generator expands each row into its
    * windows BEFORE the hash aggregate, so the shuffle carries
    * (window × type) partials, not raw events — the ×4 blow-up happens
    * map-side and combines immediately. Window starts surface as epoch
    * micros (the windows are epoch-aligned: start = floor₁₅ₘ(ts) − k·15m).
    */
  def slidingQuarterHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start_us", "event_type")

  /** Sessionization with a 30-minute inactivity gap (gaps-and-islands):
    * a session starts where the gap to the previous event exceeds the
    * threshold; session id = running count of session starts per user.
    */
  def sessionize(spark: SparkSession, dir: String,
                 gapMicros: Long = 30L * 60 * 1000000): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** X85: sessionization with a hard duration cap — inactivity sessions
    * ([[sessionize]]'s 30-minute gap rule) additionally split at fixed
    * `capMicros` boundaries from each session's start (the bounded-
    * session policy analytics stores enforce so one always-on device
    * can't produce an unbounded session row). The cap is the
    * deterministic fixed-boundary form — sub-session = ⌊(t −
    * session_start)/cap⌋ — not the sequential "restart the clock at the
    * first event past the cap" greedy, which is an inherently ordered
    * scan (declared streaming-stateful, like X71's strict rate
    * limiter). Three windows + one aggregate, all keyed on user_id —
    * the same single shuffle as every per-user analytic here.
    */
  def sessionizeCapped(spark: SparkSession, dir: String,
                       gapMicros: Long = 30L * 60 * 1000000,
                       capMicros: Long = 10L * 60 * 1000000): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val ws = Window.partitionBy("user_id", "session_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .withColumn("s_start", min("us").over(ws))
      .withColumn("sub_id", expr(s"(us - s_start) div $capMicros"))
      .groupBy("user_id", "session_id", "sub_id")
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .orderBy("user_id", "session_id", "sub_id")
  }

  /** JSON property extraction (`get_json_object`, codegen'd — no UDF)
    * aggregated per event type. `$.k` is projected ONCE before the
    * aggregate: binding the extraction inside each of sum/min/max would
    * re-parse the JSON blob three times per row — noise at sf0.1, real
    * money over 100 TB of props.
    */
  def jsonExtractStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Per-user lag/lead/rank analytics (X6 window family). */
  def lagLeadRank(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byValue = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byTime))
          .as("gap_us"),
        lead("event_id", 1).over(byTime).as("next_event_id"),
        rank().over(byValue).cast("long").as("value_rank"))
      .orderBy("user_id", "event_id")
  }

  /** The fixture's event-type domain — single source for the pivot value
    * list and the unpivot column list, so the round-trip law the oracle
    * asserts can't drift when a type is added or renamed.
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-day event counts widened into one column per type
    * (explicit value list — required for a deterministic schema, and at
    * scale it avoids the extra distinct-values job).
    */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .count()
      .na.fill(0L)
      .orderBy("day")

  /** CUBE over (day, event_type) — all four grouping sets; completes the
    * grouping-sets family next to [[rollupDaily]].
    */
  def cubeDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))
      .cube("day", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .select(coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("sum_value"))
      .orderBy("day", "event_type")

  /** As-of join (events -> most recent prior signup of the same user),
    * expressed as a windowed last-non-null — the shuffle-once, sort-within-
    * partition form that scales (no range cross-join, no custom operator
    * needed: Spark's window frame + `last(ignoreNulls)` composes it).
    * Semantics: strictly-earlier rows (ROWS ... 1 PRECEDING), ties broken
    * by event_id.
    */
  def asofSignup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_signup_us",
        last(when(col("event_type") === "signup", col("us")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"),
        col("prev_signup_us"),
        (col("us") - col("prev_signup_us")).as("since_signup_us"))
      .orderBy("event_id")
  }

  /** Cross-USER temporal proximity — clicks within ±30 min of each error
    * event, no equi key anywhere: the query a user writes naively as
    * `JOIN ON abs(e.us - c.us) <= w`, which Spark alone can only plan as
    * an O(n·m) nested loop. [[graft.plans.BandJoinRewrite]] (registered
    * on the live session here; injected via GraftExtensions in
    * session-built deployments) rewrites it to a banded equi-join — the
    * DataFrame stays the naive declarative form, the OPTIMIZER supplies
    * the scale. BandJoinRewriteSpec pins both plan shapes and value
    * equality against the un-rewritten nested loop.
    */
  def bandJoinNearClicks(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.BandJoinRewrite.ensureRegistered(spark)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("us").as("e_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("us").as("c_us"))
    errors.join(clicks, abs(col("e_us") - col("c_us")) <= lit(1800000000L))
      .groupBy("event_id").agg(count(lit(1)).as("n_near"))
      .orderBy("event_id")
  }

  /** The DIRECTIONAL band join — clicks in the 30 minutes strictly AFTER
    * each error (any user): the asymmetric `0 <= c - e <= w` conjunct
    * pair, which [[graft.plans.BandJoinRewrite]] normalizes into the
    * symmetric band form in doubled coordinates. Same naive declarative
    * DataFrame, same optimizer-supplied scale.
    */
  def bandJoinClicksAfter(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.BandJoinRewrite.ensureRegistered(spark)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("us").as("e_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("us").as("c_us"))
    errors.join(clicks,
        col("c_us") - col("e_us") <= lit(1800000000L) &&
          col("e_us") - col("c_us") <= lit(0L))
      .groupBy("event_id").agg(count(lit(1)).as("n_after"))
      .orderBy("event_id")
  }

  /** Interval/range join: purchases landing inside the hour after each
    * signup of the same user. The range predicate rides the user_id
    * equi-key, so this plans as a hash/sort-merge join on user with the
    * interval condition evaluated in the join — per-user fan-out is
    * bounded by that user's activity, never corpus². (A keyless range
    * join would bucket time and join on the bucket — same code shape,
    * different key.)
    */
  def rangeJoinSignupWindow(spark: SparkSession, dir: String,
                            windowUs: Long = 3600000000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("us").as("s_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("us").as("p_us"), col("value"))
    s.join(p,
        col("p_user") === col("user_id") &&
          col("p_us") >= col("s_us") && col("p_us") < col("s_us") + windowUs,
        "left")
      .groupBy("signup_id", "user_id", "s_us")
      .agg(count(col("p_us")).as("n_purchases"),
        coalesce(sum(col("value").cast(D2)).cast("double"), lit(0.0))
          .as("purchase_value"))
      .orderBy("signup_id")
  }

  /** Ordered conversion funnel view -> click -> purchase: a user counts
    * for step N only with an event of that type STRICTLY AFTER their
    * step-N-1 time (first-touch attribution; ties lose). Each stage is a
    * conditional min over the previous stage's user set; every join and
    * group-by keys on user_id, so each stage shuffles only ITS OWN
    * event-type slice once, and the stage-state relations (user-
    * cardinality) ride along co-partitioned — at fixture scale Catalyst
    * broadcasts them instead, as the plan shows. Spark does not reuse
    * common subtrees, so the count branches re-derive s1/s2 from the
    * (pushdown-filtered) scan; a 100 TB deployment persists each stage
    * output — the [[graft.ext.TextDedup.cachedDocSets]] memoization
    * pattern — making the cascade incremental per step. Output: one row
    * per step with the surviving-user count and conversion ratios.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"))
    val counts = s1.agg(count(lit(1)).as("n")).select(lit("1_view").as("step"), col("n"))
      .unionByName(s2.agg(count(lit(1)).as("n")).select(lit("2_click").as("step"), col("n")))
      .unionByName(s3.agg(count(lit(1)).as("n")).select(lit("3_purchase").as("step"), col("n")))
    val entered = s1.agg(count(lit(1)).as("n_entered"))
    val wPrev = Window.orderBy("step")   // 3 rows — single-partition window is fine
    counts.crossJoin(broadcast(entered))
      .withColumn("prev_n", lag("n", 1).over(wPrev))
      .select(col("step"), col("n").as("n_users"),
        round(col("n").cast("double") / col("n_entered"), 6).as("conv_from_first"),
        round(col("n").cast("double") / coalesce(col("prev_n"), col("n")), 6)
          .as("conv_from_prev"))
      .orderBy("step")
  }

  /** Per-user 7-day rolling activity (time-series window family): one
    * row per (user, active day) with the trailing-week event count and
    * value sum. Two-level shape: the per-(user, day) pre-aggregate
    * shrinks the window input to at most one row per user-day BEFORE the
    * RANGE frame runs, so the rolling state per user is bounded by 7
    * pre-aggregated rows regardless of per-day event volume — the only
    * shuffle keys on user_id and the frame is evaluated sort-merged
    * within partitions. Sums stay in DECIMAL through both levels (the
    * frame is a partial-sum path like any other merge).
    */
  def rolling7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_num"),
        col("value").cast(D2).as("dval"))
      .groupBy("user_id", "day_num")
      .agg(count(lit(1)).as("n_day"), sum("dval").as("sum_day"))
    val w7 = Window.partitionBy("user_id").orderBy("day_num")
      .rangeBetween(-6, 0)
    daily
      .withColumn("n_7d", sum("n_day").over(w7))
      .withColumn("sum_7d", sum("sum_day").over(w7).cast("double"))
      .select(col("user_id"), col("day_num"), col("n_day"),
        col("sum_day").cast("double").as("sum_day"), col("n_7d"), col("sum_7d"))
      .orderBy("user_id", "day_num")
  }

  /** Trailing-7-day DISTINCT users per day — the classic non-mergeable
    * windowed aggregate: COUNT(DISTINCT) partials don't compose across a
    * sliding frame, so instead of a window function the (day, user)
    * DISTINCT relation joins to the bounded day span (d-6..d) and
    * re-aggregates — the standard rewrite that stays exact and
    * partition-parallel (each day's recount touches ≤ 7 day-slices of a
    * key-sized relation; an approximate path would merge HLL sketches
    * per day instead).
    */
  def rollingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day_num"),
        col("user_id"))
      .distinct()
    val days = du.select(col("day_num").as("d")).distinct()
    days.join(du,
        col("day_num") >= col("d") - 6 && col("day_num") <= col("d"))
      .groupBy("d")
      .agg(countDistinct("user_id").as("users_7d"))
      .select(col("d").as("day_num"), col("users_7d"))
      .orderBy("day_num")
  }

  /** Weekly cohort retention matrix: users cohort by the epoch-week of
    * their first event; each (cohort_week, week_offset) cell counts the
    * cohort's users still active that week, with retention relative to
    * the cohort size (offset 0 is the cohort size by construction —
    * every user is active in their own first week). Shuffles key on
    * user_id (first-week aggregate + activity distinct), then on the
    * tiny (cohort, offset) pair — cohort cells are weeks², never
    * user-cardinality.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val cohorts = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    val cells = weeks.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_active"))
    val sizes = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    cells.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Daily rollup with grand total (nulls coalesced to 'ALL' for
    * cross-engine ordering parity).
    */
  def rollupDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))
      .rollup("day", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .select(coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("sum_value"))
      .orderBy("day", "event_type")

  /** UNPIVOT (melt): the wide day×type count matrix back to long form via
    * the native `Dataset.unpivot` operator — the lossless inverse of
    * [[pivotDaily]] once empty cells are dropped, which is exactly what
    * the oracle states (`unpivot(pivot(x)) == groupBy(x)`). Narrow,
    * shuffle-free on top of the pivot it consumes.
    */
  def unpivotDaily(spark: SparkSession, dir: String): DataFrame =
    pivotDaily(spark, dir)
      .unpivot(
        Array(col("day")),
        EventTypes.map(col).toArray,
        "event_type", "n")
      .filter(col("n") > 0)
      .orderBy("day", "event_type")

  /** Explicit GROUPING SETS — the two marginal distributions ((day),
    * (event_type)) in ONE pass over events, a set neither rollup nor cube
    * expresses alone. `grouping_id` disambiguates which set a row belongs
    * to (Postgres bit convention: leftmost column = most significant bit,
    * shared by Spark and DuckDB). At scale this replaces two separate
    * scans+aggregates of a 100 TB fact with one expand+aggregate.
    */
  def groupingSetsDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))
      .groupingSets(Seq(Seq(col("day")), Seq(col("event_type"))),
        col("day"), col("event_type"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("value").cast(D2)).cast("double").as("sum_value"))
      .select(coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("gid"), col("n"), col("sum_value"))
      .orderBy("day", "event_type")

  /** Time-series gap filling: densify each user's activity to a complete
    * daily calendar over their own [first, last] span, then forward-fill
    * the last seen daily value across the gaps (`last(_, ignoreNulls)`
    * over a running frame — the carry composes per partition in one
    * pass). The calendar explode is bounded by span-days per user, never
    * by |events|; everything keys on user_id, so the whole densify+fill
    * is one shuffle. Day 1 of every span is an activity day by
    * construction, so the carry is never null.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(D2)).as("dv"))
    val span = act.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span.join(act, Seq("user_id", "day"), "left")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("dv"), ignoreNulls = true).over(w)
          .cast("double").as("carried_value"))
      .orderBy("user_id", "day")
  }

  /** The date/time scalar-function family over `ts` (the temporal
    * counterpart of the string family in `scalar_functions`): truncation
    * to week/month, calendar field extraction, Monday-based day-of-week,
    * exact microsecond epoch, day arithmetic against a fixed origin,
    * interval addition, and month-end — all engine-portable (UTC session,
    * no DST, integral µs).
    */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week_start"),
      date_format(date_trunc("month", col("ts")), "yyyy-MM-dd").as("month_start"),
      year(col("ts")).cast("long").as("yy"),
      quarter(col("ts")).cast("long").as("qq"),
      month(col("ts")).cast("long").as("mm"),
      dayofmonth(col("ts")).cast("long").as("dd"),
      hour(col("ts")).cast("long").as("hh"),
      // Monday=1..Sunday=7 on both engines (Spark weekday is Monday=0)
      (weekday(col("ts")) + 1).cast("long").as("isodow"),
      unix_micros(col("ts")).as("epoch_us"),
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long").as("days_since"),
      date_format(col("ts") + expr("INTERVAL 90 DAY"), "yyyy-MM-dd").as("plus_90d"),
      date_format(last_day(col("ts")), "yyyy-MM-dd").as("month_end"))
      .orderBy("event_id")

  /** X58: AS-OF join — for every purchase, the most recent click by the
    * same user at or before the purchase timestamp (ties on `ts` broken
    * toward the larger `event_id`, and an equal-timestamp click counts
    * as "before").
    *
    * Spark-first shape: NOT a join at all. Both sides union into one
    * relation tagged by kind (clicks sort before purchases at equal ts),
    * and a single running `last(_, ignoreNulls)` window per user carries
    * the latest click forward; purchases then just read the carried
    * value. One shuffle on `user_id`, state bounded by one row per
    * partition position — the classic scalable as-of form. The oracle
    * states the naive O(n·m) spelling (left join on `user_id` with
    * `c.ts <= p.ts`, then rank-1), which explodes quadratically per hot
    * user at scale; the union-window form replaces that blow-up with a
    * sort we were already paying for in the shuffle.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"))
    // At equal (user, ts): kind orders clicks first (visible to the
    // purchase), then event_id makes the winning click the max-id one.
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"),
        coalesce(col("click_id"), col("purchase_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("asof_click_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("purchase_id"), col("user_id"),
        col("asof_click_id").as("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_click_ts")))
          .as("gap_us"))
      .orderBy("purchase_id")
  }

  /** X212: FORWARD as-of join — the other direction of X58 (pandas
    * merge_asof `direction='forward'`): each purchase attaches the
    * FIRST click STRICTLY AFTER it — the "next action after
    * conversion" relation (re-engagement latency, post-purchase
    * journeys) that the backward form cannot express. Same
    * union + one-window shape as X58 with the frame mirrored
    * (currentRow→unboundedFollowing, `first` ignoreNulls): because
    * clicks sort BEFORE purchases at an equal (user, ts) — the same
    * kind ordering X58 uses to make equal-ts clicks visible backward —
    * a same-timestamp click lands OUTSIDE the following frame, giving
    * the strictly-after semantics for free from the shared sort key.
    *
    * Scale shape: identical to X58 — one user-keyed shuffle, one
    * window pass, no join fan-out; the events interleave in a single
    * sorted stream.
    */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"),
        coalesce(col("click_id"), col("purchase_id")))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("next_click_id",
        first(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("next_click_ts",
        first(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("purchase_id"), col("user_id"),
        col("next_click_id").as("click_id"),
        (unix_micros(col("next_click_ts")) - unix_micros(col("ts")))
          .as("gap_us"))
      .orderBy("purchase_id")
  }

  /** X71: debounce-leading dedup — keep an event iff it starts a burst:
    * no same-(user, type) event in the preceding hour. The relational
    * throttle (a session-START detector at 1h gap granularity; the
    * strict one-per-hour rate limiter is inherently sequential and
    * lives in the streaming layer as stateful processing —
    * implemented there as
    * [[graft.streaming.EventStream.throttleGreedy]]). One lag
    * window on the (user, type) key — the same single shuffle as every
    * per-user analytic; survivors carry their lead-in gap.
    */
  def throttleDedup(spark: SparkSession, dir: String,
                    minGapUs: Long = 3600000000L): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
      .filter(col("prev_us").isNull || col("gap_us") >= lit(minGapUs))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("gap_us"))
      .orderBy("event_id")
  }

  /** X72: interval-overlap join — user activity sessions × promotional
    * windows. Both sides are intervals, so neither a plain equi-join nor
    * the point-band rewrite (X55) applies; the scalable form replicates
    * each interval onto the fixed 6-hour grid cells it spans (bounded by
    * interval length / cell width), equi-joins on the cell, applies the
    * exact overlap residual, and dedups — the interval twin of the
    * spatial grid join (X37). Sessions come from the standard
    * gaps-and-islands pass (30-min gap); promos are a deterministic
    * 6h-every-36h lattice derived from the corpus time bounds (one
    * broadcast row, no driver scalar). The oracle states the naive
    * all-pairs overlap join.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val GapUs = 1800000000L       // 30 min session gap
    val PromoEveryUs = 129600000000L // 36 h
    val PromoLenUs = 21600000000L    // 6 h
    val CellUs = 21600000000L        // 6 h grid
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val byUser = Window.partitionBy("user_id").orderBy("us")
    val sess = ev
      .withColumn("brk", when(lag(col("us"), 1).over(byUser).isNull ||
        col("us") - lag(col("us"), 1).over(byUser) > GapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val promos = bounds
      .select(explode(expr(s"sequence(0, CAST((mx - mn) div $PromoEveryUs AS INT))"))
        .as("pid"), col("mn"))
      .select(col("pid").cast("long").as("pid"),
        (col("mn") + col("pid").cast("long") * lit(PromoEveryUs)).as("ps"),
        (col("mn") + col("pid").cast("long") * lit(PromoEveryUs) +
          lit(PromoLenUs)).as("pe"))
    val sessCells = sess.select(col("user_id"), col("sid"), col("s_us"),
      col("e_us"), explode(expr(s"sequence(s_us div $CellUs, e_us div $CellUs)"))
        .as("cell"))
    val promoCells = promos.select(col("pid"), col("ps"), col("pe"),
      explode(expr(s"sequence(ps div $CellUs, pe div $CellUs)")).as("cell"))
    sessCells.join(promoCells, Seq("cell"))
      .filter(col("s_us") <= col("pe") && col("ps") <= col("e_us"))
      .select(col("user_id"), col("sid"), col("s_us"), col("pid"),
        (least(col("e_us"), col("pe")) - greatest(col("s_us"), col("ps")))
          .as("overlap_us"))
      .distinct()
      .orderBy("user_id", "sid", "pid")
  }

  /** X77: time-weighted average (TWAP) — per user, the mean of `value`
    * weighted by how long each reading was in force (the price/telemetry
    * aggregation where plain AVG over-weights bursty samples). Each
    * event's value holds until the next event; weights are exact µs
    * longs and the weighted sum runs in DECIMAL (value D2 × Δµs —
    * exact, partition-order-independent), so only the final
    * ratio-of-exact-sums is a double. One lead window + one aggregate,
    * both on user_id.
    */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast(D2).as("v"), unix_micros(col("ts")).as("us"))
      .withColumn("next_us", lead(col("us"), 1).over(byTime))
      .filter(col("next_us").isNotNull) // the last reading has no span
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("next_us") - col("us")).as("span_us"),
        sum(col("v") * (col("next_us") - col("us"))).as("wsum"))
      .select(col("user_id"), col("n_spans"), col("span_us"),
        round(col("wsum").cast("double") / col("span_us").cast("double"), 6)
          .as("twap"))
      .orderBy("user_id")
  }

  /** X78: run-length encoding of event-type sequences — per user,
    * consecutive same-type events collapse to (type, run length, span):
    * the sequence-compression pass behind behavioral pattern mining and
    * the columnar RLE idea applied to event streams. Gaps-and-islands
    * again (type-change flag → running island id), one window + one
    * aggregate on the same user key.
    */
  def eventRle(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val run = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("chg", when(lag(col("event_type"), 1).over(byTime).isNull ||
        lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1L)
        .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(run))
      .groupBy("user_id", "run_id")
      .agg(first(col("event_type")).as("event_type"),
        count(lit(1)).as("run_len"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .orderBy("user_id", "run_id")
  }

  /** X67: event-type transition matrix — the first-order Markov view of
    * per-user event sequences. One `lead` window per user (same shuffle
    * key as every other per-user analytic here), then a count per
    * (from, to) cell; probabilities are exact IEEE divisions of two
    * exactly-representable integers, so they hash-compare cross-engine.
    * Sequence order is (ts, event_id) — the same total order the lag/gap
    * entry pins down.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byTime))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = Window.partitionBy("from_type")
    steps
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(fromTotals).cast("double"))
      .orderBy("from_type", "to_type")
  }

  /** X93: frequent session paths — the top session-opening event-type
    * sequences (first 3 events per inactivity session, joined as
    * "a>b>c"): the behavioral-pattern query behind onboarding and
    * funnel design. Sessions are X6's 30-min gap islands; the path is
    * canonical because the collect is sorted on the (us, event_id)
    * total order before joining (collect_list alone is
    * partition-order-dependent — the array_sort is what makes this
    * hash-comparable).
    *
    * Scale shape: one user-keyed window chain (shared with every
    * session analytic), a per-session 3-row cap BEFORE the collect (so
    * state per session is O(3)), a path-keyed count, and a
    * TakeOrderedAndProject top-k — no global sort.
    */
  def topPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val inSess = Window.partitionBy("user_id", "session_id")
      .orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .withColumn("rn", row_number().over(inSess))
      .filter(col("rn") <= 3)
      .groupBy("user_id", "session_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(us, event_id, event_type))), " +
          "x -> x.event_type)"), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
  }

  /** X104: lag autocorrelation over the hourly volume series — the
    * seasonality detector (is traffic daily-periodic? lag-24 r ≫ lag-1
    * r says yes) behind forecasting and anomaly baselines. The hourly
    * series is densified onto the full hour grid (gap hours count 0 —
    * autocorrelation over a sparse series silently skips the quiet
    * hours that ARE the seasonality), then each lag is one self-join
    * of the tiny series relation and a Pearson r whose moment sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) are all exact BIGINTs — IEEE enters
    * only in the final ratio, so the statistic hash-compares
    * cross-engine.
    *
    * Scale shape: the corpus collapses to per-hour counts first (one
    * aggregate); the grid, joins, and moments all run over the
    * hours-sized relation (720 rows per month regardless of event
    * volume).
    */
  def autocorr(spark: SparkSession, dir: String,
               lags: Seq[Int] = Seq(1, 24)): DataFrame = {
    // the densified hourly-volume series, memoized: every lag's join
    // reads it twice, and a per-call persist parked one unreleasable
    // copy per invocation
    val series = graft.Memo(spark, dir, "events.hourly_series") {
      val counts = Tables.events(spark, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
      val grid = counts.agg(min("h").as("h0"), max("h").as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      grid.join(counts, Seq("h"), "left")
        .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
    }
    lags.map { lag =>
      val a = series.select(col("h"), col("c").as("x"))
      val sh = series.select((col("h") + lag).as("h"), col("c").as("y"))
      a.join(sh, Seq("h"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(lit(lag.toLong).as("lag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
            .as("pearson_r"))
    }.reduce(_.unionByName(_)).orderBy("lag")
  }

  /** X148: CUSUM changepoint detection on daily volumes — "when did
    * this stream's level shift" (deploy regressions, data-source
    * breakage, campaign starts). Per event type, S_i = Σ_{j≤i}
    * (x_j·N − T) — the cumulative deviation-from-mean with the division
    * CROSS-MULTIPLIED away (x·N − T instead of x − T/N), so every
    * partial sum is an exact BIGINT and the argmax day is
    * integer-deterministic; the classic max|S| statistic marks the most
    * likely change day. The one IEEE op is the reported relative
    * magnitude |S|/(N·T).
    *
    * Scale shape: the stream collapses to the (type, day) histogram
    * first; the running sum windows per type over calendar-bounded
    * rows; the argmax is a map-combinable struct-min.
    */
  def changepointCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_num"))
      .groupBy("event_type", "day_num").agg(count(lit(1)).as("x"))
    val perType = Window.partitionBy("event_type")
    val ordered = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withS = daily
      .withColumn("n_days", count(lit(1)).over(perType))
      .withColumn("total", sum("x").over(perType))
      .withColumn("s", sum("x").over(ordered) * col("n_days") -
        row_number().over(Window.partitionBy("event_type").orderBy("day_num"))
          .cast("long") * col("total"))
    withS.groupBy("event_type")
      .agg(max("n_days").as("n_days"), max("total").as("total"),
        min(struct((-abs(col("s"))).as("na"), col("day_num").as("d"),
          col("s").as("sv"))).as("w"))
      .select(col("event_type"), col("n_days"), col("total"),
        col("w.d").as("cp_day"), col("w.sv").as("s_at_cp"),
        round(abs(col("w.sv")).cast("double") /
          (col("n_days") * col("total")), 6).as("rel_dev"))
      .orderBy("event_type")
  }

  /** X149: power-user curve — the engagement distribution (how many
    * users were active on exactly d distinct days, with the cumulative
    * share): the standard "smile graph" read on user stickiness. All
    * integers; the running share windows over the ≤31-row active-days
    * histogram (value histogram, allowlisted).
    */
  def powerCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val activeDays = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_num"))
      .distinct()
      .groupBy("user_id").agg(count(lit(1)).as("active_days"))
    val hist = activeDays.groupBy("active_days")
      .agg(count(lit(1)).as("n_users"))
    val total = hist.agg(sum("n_users").as("n_total"))
    hist.crossJoin(broadcast(total))
      .withColumn("cum_users",
        sum("n_users").over(Window.orderBy("active_days")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("active_days"), col("n_users"), col("cum_users"),
        round(col("cum_users").cast("double") / col("n_total"), 6)
          .as("cum_share"))
      .orderBy("active_days")
  }

  /** X141: bot-regularity screen — the abuse-detection primitive: human
    * traffic has bursty inter-arrival times, schedulers and scripts tick
    * regularly, so the per-user coefficient of variation of event gaps
    * separates them. Everything before the final sqrt is EXACT: gaps
    * are integer µs (one lag window per user), and the population
    * variance comes from (n·Σg² − (Σg)²) accumulated in DECIMAL(38,0) —
    * order-free, never a float running mean (g² reaches 7e24, far past
    * both long and double integer range). cv = √(n·Σg²−(Σg)²)/Σg with
    * the decimal→double conversion and one sqrt/division as the only
    * IEEE steps, stated identically in the oracle.
    *
    * Scale shape: one user_id shuffle for the lag window, one
    * map-side-combinable moment aggregate; output is user-sized.
    */
  def botRegularity(spark: SparkSession, dir: String,
                    cvThreshold: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("g", col("us") - lag("us", 1).over(w))
      .filter(col("g").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum("g").as("sg"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("sg2"))
      .select(col("user_id"), col("n_gaps"),
        expr("sg div n_gaps").as("mean_gap_us"), // integer div: exact floor
        round(
          sqrt((col("n_gaps").cast("decimal(38,0)") * col("sg2") -
            col("sg").cast("decimal(38,0)") * col("sg")).cast("double")) /
            col("sg").cast("double"), 6).as("cv"))
      .withColumn("bot_like", col("cv") < cvThreshold)
      .orderBy("user_id")
  }

  /** X89: last-touch revenue attribution — every purchase credits its
    * value to the most recent PRECEDING non-purchase event of the same
    * user (the classic marketing-attribution query; "none" when the
    * purchase is the user's first activity). The as-of machinery is
    * X58's union+running-window: one shuffle on user_id, no pair space,
    * purchases and touches interleaved on (us, kind, event_id) with
    * touches ordered before a same-instant purchase. Credited revenue
    * sums in DECIMAL (exact, order-free); only the final per-channel
    * double leaves decimal land.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("kind",
        when(col("event_type") === "purchase", 1).otherwise(0))
      .withColumn("touch",
        when(col("kind") === 0, col("event_type")))
      .withColumn("last_touch",
        last(col("touch"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .groupBy(coalesce(col("last_touch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(D2)).cast("double").as("attributed_value"))
      .orderBy("channel")
  }

  /** X110: complex-event pattern detection with a NEGATIVE condition —
    * MATCH_RECOGNIZE's `A B* C` with an exclusion, stated relationally:
    * emit every `view` that is followed by a `purchase` of the same
    * user within one hour with NO `error` event strictly between them.
    * The funnel (X15) counts ordered stage reachability; this is the
    * per-instance matcher with an absence constraint — the alerting /
    * session-repair primitive ("clean conversion") that CEP engines
    * sell, as two FOLLOWING-frame window minima instead of per-row
    * subqueries: for each view, the next purchase µs and next error µs
    * in the user's timeline decide the match in one pass.
    *
    * Scale shape: one shuffle on user_id (the window partition), frames
    * scan forward once per row (Spark's running-min over the reversed
    * order is linear); the purchase-id resolution join keys on the
    * matched (user, µs) pair — purchase-sized, not event-sized. No
    * self-join over the raw stream, no pair space.
    */
  def cepCleanConversion(spark: SparkSession, dir: String,
                         windowUs: Long = 3600000000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    val views = ev
      .withColumn("p_us",
        min(when(col("event_type") === "purchase", col("us"))).over(w))
      .withColumn("e_us",
        min(when(col("event_type") === "error", col("us"))).over(w))
      .filter(col("event_type") === "view")
      .filter(col("p_us").isNotNull &&
        col("p_us") - col("us") <= windowUs &&
        (col("e_us").isNull || col("e_us") >= col("p_us")))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("us").as("view_us"), col("p_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("us").as("p_us"))
      .agg(min("event_id").as("purchase_id"))
    views.join(purchases, Seq("user_id", "p_us"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (col("p_us") - col("view_us")).as("gap_us"))
      .orderBy("view_id")
  }

  /** X114: exponentially time-decayed activity scores with a per-type
    * user leaderboard — the "trending now" shape (recent events count
    * fully, each day of age halves the weight at `halfLifeDays`=1;
    * fractional half-lives generalize by scaling the exponent).
    *
    * The decay arithmetic is EXACT INTEGER, not floating pow(): an
    * event aged `d` whole days weighs 2^(cap−d) in BIGINT (shiftleft —
    * events older than `cap` days contribute 0, the production
    * truncation any decayed counter needs anyway or state never
    * expires). Scaled weights SUM exactly in any partition order; one
    * final division by 2^cap produces the reported double. pow(0.5, x)
    * on two engines can differ in the last ulp — a BIGINT shift
    * cannot, which is what makes the leaderboard hash-oracled.
    *
    * Scale shape: the reference day rides a broadcast 1-row aggregate;
    * scoring is one map-side-combinable SUM shuffled on (event_type,
    * user_id); the top-k per type is a window over the per-user
    * AGGREGATE (cardinality = active users, not events). At 100 TB the
    * integer-weight trick also makes the score INCREMENTALLY
    * maintainable: yesterday's scaled sum times 2 plus today's batch,
    * all in exact integers (until cap, where it clamps).
    */
  def decayedTopK(spark: SparkSession, dir: String, k: Int = 5,
                  cap: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_num"))
    val refDay = days.agg(max("day_num").as("ref_day"))
    val scored = days.crossJoin(broadcast(refDay))
      .withColumn("age", (col("ref_day") - col("day_num")).cast("int"))
      .filter(col("age") <= cap)
      .withColumn("w", expr(s"shiftleft(1L, $cap - age)"))
      .groupBy("event_type", "user_id")
      .agg(sum("w").as("scaled"))
    val ranked = scored.withColumn("rank",
      row_number().over(Window.partitionBy("event_type")
        .orderBy(col("scaled").desc, col("user_id"))))
      .filter(col("rank") <= k)
    ranked.select(col("event_type"), col("rank"), col("user_id"),
        round(col("scaled").cast("double") / lit(math.pow(2.0, cap)), 6)
          .as("decayed_score"))
      .orderBy("event_type", "rank")
  }

  /** X124: cohort LTV curves — cumulative purchase revenue per signup
    * cohort as a function of account age, the lifetime-value triangle
    * every subscription/commerce warehouse maintains. Cohort = the
    * epoch-week of a user's FIRST event of any kind (the "acquisition"
    * proxy the fixture supports); each purchase lands at its week
    * offset from that cohort; the curve is the per-cohort running sum.
    * Rows exist only for (cohort, offset) cells with purchase activity
    * — the cumulative column carries the curve across gaps.
    *
    * Money is exact: values go through DECIMAL(18,2) BEFORE any sum
    * (the repo-wide money rule), the running total is a DECIMAL window
    * sum partitioned by cohort (never partitionless — cohorts are the
    * partition key), and IEEE appears only in the final per-user
    * division. Scale shape: first-event extraction is one min-aggregate
    * keyed on user; the cell aggregate keys on (cohort, offset); the
    * window sorts offsets WITHIN each cohort partition (bounded by the
    * observation span in weeks, not by users or events).
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000 div 7").as("wk"),
        col("value"))
    val cohorts = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
    val cohortSize = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    val cells = ev.filter(col("event_type") === "purchase")
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("active_users"),
        sum(col("value").cast(D2)).as("revenue"))
    cells.join(cohortSize, Seq("cohort_week"))
      .withColumn("cum_revenue",
        sum(col("revenue")).over(Window.partitionBy("cohort_week")
          .orderBy("week_offset")))
      .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
        col("active_users"),
        col("revenue").cast("double").as("revenue"),
        col("cum_revenue").cast("double").as("cum_revenue"),
        round(col("cum_revenue").cast("double") / col("cohort_size"), 6)
          .as("ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  /** X166: DAU/WAU/MAU stickiness — the product-engagement headline
    * triple (and DAU/MAU, the classic "how often do actives return"
    * ratio) per calendar day. COUNT(DISTINCT) does not compose across
    * sliding frames, so all three horizons ride ONE day-range join of
    * the (day, user) distinct relation to the day spine (the X22/X29
    * rewrite) with conditional distinct counts — one pass, not three
    * joins. Early days carry truncated windows by construction (stated,
    * same on both engines).
    *
    * Scale shape: the corpus collapses to the (day, user) distinct
    * relation first; the range join fans each row into ≤ 30 day-slices
    * of a keyed-set-sized relation — bounded by the horizon, never
    * corpus²; at 100 TB the X119 HLL-sliding entry is the sketch
    * alternative when exactness can be traded.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day_num"),
        col("user_id"))
      .distinct()
    val days = du.select(col("day_num").as("d")).distinct()
    days.join(du,
        col("day_num") >= col("d") - 29 && col("day_num") <= col("d"))
      .groupBy("d")
      .agg(
        countDistinct(when(col("day_num") === col("d"), col("user_id")))
          .as("dau"),
        countDistinct(when(col("day_num") >= col("d") - 6, col("user_id")))
          .as("wau"),
        countDistinct(col("user_id")).as("mau"))
      .select(col("d").as("day_num"), col("dau"), col("wau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
      .orderBy("day_num")
  }

  /** X161: hour-of-week seasonality profile — the 7×24 activity matrix
    * every capacity planner and anomaly detector baselines against
    * (X28's volume z-score flags a bad DAY; this is the grid that says
    * which HOURS are normally hot): per (ISO weekday, hour) event
    * counts, each hour's share of its weekday, and the per-weekday peak
    * hour flagged with a deterministic (count DESC, hour) tie-break.
    *
    * Scale shape: the corpus collapses to ≤168 cells in one map-side-
    * combinable aggregate; both windows PARTITION by weekday (7 groups
    * of 24 rows — never a global window); integer counts, one IEEE
    * division.
    */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(spark, dir)
      .select(expr("CAST(weekday(ts) + 1 AS BIGINT)").as("dow"),
        expr("CAST(hour(ts) AS BIGINT)").as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n_events"))
    cells
      .withColumn("dow_total", sum("n_events").over(Window.partitionBy("dow")))
      .withColumn("dow_share",
        round(col("n_events").cast("double") / col("dow_total"), 6))
      .withColumn("is_dow_peak", row_number().over(
        Window.partitionBy("dow").orderBy(col("n_events").desc, col("hr"))) === 1)
      .select("dow", "hr", "n_events", "dow_share", "is_dow_peak")
      .orderBy("dow", "hr")
  }

  /** X167: exponentially-weighted moving average of daily event volume
    * per type — the smoothed baseline alerting compares raw counts
    * against (X28 flags deviations from a LEVEL; EWMA is the level that
    * adapts). The half-life is ONE DAY (α = 1/2), which makes every
    * weight an exact power of two: over the 20-day lookback the
    * numerator is Σ count_j · 2^(19−(d−j)) and the denominator
    * Σ 2^(19−(d−j)) — both BIGINT-exact (counts ≤ 2^40, weights ≤ 2^19),
    * so the only IEEE step is the final division, 6dp-rounded. The
    * recursive EWMA definition is truncated at 20 lags by construction
    * (a 2^-20 tail is below the 6dp output resolution anyway); absent
    * days simply contribute no term, identically in both engines.
    *
    * Scale shape: the corpus collapses to the (type, day) count relation
    * first (map-side combinable); the lookback is a type-keyed band
    * self-join fanning each day into ≤ 20 slices of a calendar-sized
    * relation — bounded by the horizon, never by row volume; one
    * type+day-keyed aggregate after.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_num"))
      .groupBy("event_type", "day_num").agg(count(lit(1)).as("n_events"))
    val spine = daily.select(col("event_type"), col("day_num").as("d"),
      col("n_events").as("n_today"))
    spine.join(daily.select(col("event_type"), col("day_num").as("j"),
        col("n_events").as("nj")), Seq("event_type"))
      .filter(col("j") >= col("d") - 19 && col("j") <= col("d"))
      .groupBy("event_type", "d", "n_today")
      .agg(
        // the SQL-function form: the Scala shiftleft() binding takes a
        // literal Int shift, and the shift here is per-row
        sum(col("nj") * expr("shiftleft(1L, cast(19 - (d - j) as int))"))
          .as("num"),
        sum(expr("shiftleft(1L, cast(19 - (d - j) as int))")).as("den"))
      .select(col("event_type"), col("d").as("day_num"), col("n_today"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma"))
      .orderBy("event_type", "day_num")
  }

  /** X168: Markov steady-state of the event-type chain — the long-run
    * occupancy distribution that X67's one-step transition matrix only
    * implies: π_{r+1}(j) = Σ_i π_r(i)·P(i,j), iterated from the uniform
    * start, the classic power iteration toward the stationary
    * distribution (the behavioral "where do users spend their time"
    * number). Every probability is DECIMAL(18,6): P's entries are the
    * 6dp-rounded transition shares (one IEEE division each, rounded
    * identically in both engines), and each round's mix is an EXACT
    * decimal sum-of-products rounded back to 6dp — so the whole
    * trajectory is bit-stable regardless of partitioning, and the
    * oracle unrolls the same four rounds referencing each previous
    * round exactly once.
    *
    * Scale shape: the corpus collapses to the K×K transition-count
    * matrix (K = distinct event types, 5 here — state-machine-sized,
    * not data-sized) via one user-keyed lead window shared with X67;
    * every iteration is a K-row broadcast join. The trajectory is
    * emitted long-form so convergence is visible in the output.
    */
  def markovSteady(spark: SparkSession, dir: String,
                   rounds: Int = 4): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byTime))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val p = steps
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .cast("decimal(18,6)").as("p"))
    val types = p.select(col("from_type")).distinct()
      .select(col("from_type").as("event_type"))
    // the uniform start is DERIVED from the type relation (1/K, 6dp) —
    // a pinned literal would silently stop being a distribution if the
    // fixture ever carried a different number of event types
    val nTypes = types.agg(count(lit(1)).as("k"))
    var pi = types.crossJoin(broadcast(nTypes))
      .select(col("event_type"),
        round(lit(1.0) / col("k"), 6).cast("decimal(18,6)").as("prob"))
    var out = pi.select(lit(0L).as("round_idx"), col("event_type"), col("prob"))
    for (r <- 1 to rounds) {
      pi = pi.join(p, pi("event_type") === p("from_type"))
        .groupBy(col("to_type").as("event_type"))
        .agg(round(sum(col("prob") * col("p")), 6)
          .cast("decimal(18,6)").as("prob"))
      out = out.unionByName(
        pi.select(lit(r.toLong).as("round_idx"), col("event_type"),
          col("prob")))
    }
    out.select(col("round_idx"), col("event_type"),
        col("prob").cast("double").as("prob"))
      .orderBy("round_idx", "event_type")
  }

  /** X174: growth accounting — the per-period new / retained /
    * resurrected / churned user decomposition every growth report leads
    * with (active-user composition by prior state; the canonical
    * "growth accounting" framing). Period is the DAY (the fixture's
    * events span ~1 month of ~50%-density user-days, so daily is the
    * granularity where all four classes carry signal; at production
    * scale the same query runs at any granularity). The corpus
    * collapses to the distinct (user, day) relation; ONE user-keyed
    * lag/lead window classifies every active day (first ever → new;
    * previous day active → retained; gap behind → resurrected) and
    * emits a churn event at day d+1 whenever the next active day is
    * not d+1 (including after the final active day — the trailing day
    * therefore carries churn-only counts, stated identically in both
    * engines). Net growth = new + resurrected − churned, the identity
    * the law spec asserts against the day-over-day active delta.
    *
    * Scale shape: distinct collapse (map-combinable), one user-keyed
    * window over period-count-bounded per-user rows, one day-keyed
    * pivot aggregate — no global window, no self-join.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val um = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("mi"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("mi")
    val tagged = um
      .withColumn("prev_mi", lag("mi", 1).over(w))
      .withColumn("next_mi", lead("mi", 1).over(w))
    val active = tagged.select(col("mi"),
      when(col("prev_mi").isNull, "new")
        .when(col("prev_mi") === col("mi") - 1, "retained")
        .otherwise("resurrected").as("cls"))
    val churn = tagged
      .filter(col("next_mi").isNull || col("next_mi") > col("mi") + 1)
      .select((col("mi") + 1).as("mi"), lit("churned").as("cls"))
    active.unionByName(churn)
      .groupBy(col("mi").as("day_idx"))
      .agg(
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("cls") === "churned", 1L).otherwise(0L)).as("n_churned"))
      .withColumn("net_growth",
        col("n_new") + col("n_resurrected") - col("n_churned"))
      .orderBy("day_idx")
  }

  /** X183: seasonal-naive forecast backtest — the baseline every real
    * forecaster must beat (and the cheapest drift alarm that respects
    * weekly shape, unlike X167's level-only EWMA): predict each day's
    * per-type volume as the SAME WEEKDAY last week's count, then score
    * the prediction over every day that has a lag-7 observation. Counts
    * are exact integers, so total/mean absolute error and bias are
    * exact sums with one final division each; RMSE is one fixed
    * sqrt-of-integer-sums expression (the X164 rule — never a float
    * accumulation).
    *
    * Scale shape: the corpus collapses to the (type, day) count
    * relation; the forecast is a calendar-sized equi self-join on
    * (type, day−7); one per-type aggregate after.
    */
  def forecastBaseline(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_num"))
      .groupBy("event_type", "day_num").agg(count(lit(1)).as("c"))
    val fc = daily.select(col("event_type"),
      (col("day_num") + 7).as("day_num"), col("c").as("f"))
    daily.join(fc, Seq("event_type", "day_num"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("c") - col("f"))).as("total_abs_err"),
        sum(col("c") - col("f")).as("bias"),
        sum((col("c") - col("f")) * (col("c") - col("f"))).as("sq"))
      .select(col("event_type"), col("n_days"), col("total_abs_err"),
        round(col("total_abs_err").cast("double") / col("n_days"), 6)
          .as("mae"),
        col("bias"),
        round(sqrt(col("sq").cast("double") / col("n_days")), 6).as("rmse"))
      .orderBy("event_type")
  }

  /** X188: funnel step-transition timing — the latency companion to
    * X15's conversion counts: for each funnel transition (first view →
    * first qualifying click, first qualifying click → first qualifying
    * purchase, same strictly-after first-touch semantics as
    * [[funnel]]), the distribution of the per-user lag as exact
    * discrete percentiles. "How MANY convert" (X15) and "how LONG they
    * take" (this) are the two numbers every funnel dashboard pairs.
    *
    * Exactness: lags are integer microseconds end to end; p50/p90 are
    * PERCENTILE_DISC selections (the X46 conditional-max-at-rank
    * pattern — an actual observed value, no interpolation, no float
    * until the final mean division, which rounds at 6dp).
    *
    * Scale shape: the stage cascade is X15's user-keyed shape
    * unchanged; the lag relation is USER-cardinality (converted users
    * only — far below event volume), and the rank window partitions by
    * transition over that reduced relation, exactly the X46 precedent
    * (per-key percentile state is sort-within-partition). At 100 TB
    * the stated refinement is the X70 equi-depth two-phase rank if
    * per-transition cardinality itself outgrows a partition.
    */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"))
    val lags = s2.join(s1, "user_id")
      .select(lit("1_view_to_click").as("transition"),
        col("user_id"), (col("t2") - col("t1")).as("lag_us"))
      .unionByName(s3.join(s2, "user_id")
        .select(lit("2_click_to_purchase").as("transition"),
          col("user_id"), (col("t3") - col("t2")).as("lag_us")))
    val w = Window.partitionBy("transition").orderBy("lag_us", "user_id")
    val wn = Window.partitionBy("transition")
    def at(p: Double) = max(when(
      col("rn") === expr(s"CAST(ceil($p * n) AS BIGINT)"), col("lag_us")))
    lags
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy("transition")
      .agg(max("n").as("n_users"),
        min("lag_us").as("min_us"),
        at(0.5).as("p50_us"), at(0.9).as("p90_us"),
        max("lag_us").as("max_us"),
        round(sum("lag_us").cast("double") / count(lit(1)), 6)
          .as("mean_us"))
      .orderBy("transition")
  }

  /** X209: SLO error-budget burn — the SRE table beside X28's volume
    * monitor: per day, the error rate (type = 'error' over all events),
    * the trailing-7-observed-day rate, and burn-rate multipliers
    * against a 5% error-rate objective, with the standard fast-burn
    * (daily > 14.4× budget) and slow-burn (weekly > 6× budget) alert
    * verdicts (Google SRE workbook multi-window policy). Every
    * decision is an integer cross-product (`errors · 1000 > 72 ·
    * total` for 14.4 × 5%, `errors7 · 100 > 30 · total7`) — no float
    * reaches an alert; the displayed rates are final 6dp divisions.
    *
    * Scale shape: the corpus collapses to the per-day (errors, total)
    * relation in one map-combinable pass; the trailing window is a
    * bounded 7-row ROWS frame over observed days — calendar-bounded
    * state, one shuffle.
    */
  def sloBurn(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day_num"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("day_num")
      .agg(sum("err").as("errors"), count(lit(1)).as("total"))
    val w7 = Window.orderBy("day_num").rowsBetween(-6, 0)
    daily
      .withColumn("errors7", sum("errors").over(w7))
      .withColumn("total7", sum("total").over(w7))
      .select(col("day_num"), col("errors"), col("total"),
        round(col("errors").cast("double") / col("total"), 6)
          .as("error_rate"),
        round(col("errors7").cast("double") / col("total7"), 6)
          .as("error_rate_7d"),
        // 14.4x of the 5% budget = 72% daily error share
        (col("errors") * 1000 > col("total") * 720).as("fast_burn"),
        // 6x of the 5% budget = 30% weekly error share
        (col("errors7") * 100 > col("total7") * 30).as("slow_burn"))
      .orderBy("day_num")
  }

  /** X192: local-peak detection over the per-type daily series — the
    * alerting primitive between X28's global volume monitor and X148's
    * CUSUM level shifts: a day is a PEAK when its count strictly
    * exceeds every count in the ±3-observed-day neighbourhood AND sits
    * strictly above the type's mean daily volume (stated as the
    * integer cross-product `c · n_days > total` — the X172 no-division
    * idiom, so no float ever reaches the decision). Neighbourhoods are
    * over OBSERVED days (the series the monitor actually has), via two
    * bounded ROWS frames; missing neighbours default to 0 so a series
    * edge can still peak.
    *
    * Scale shape: the corpus collapses to the (type, day) count
    * relation in one map-combinable aggregate; both frames and the
    * type totals ride ONE type-keyed shuffle, with per-partition
    * window state bounded by the 7-row frame. Calendar-bounded
    * everywhere — nothing scales with row volume after the first
    * aggregate.
    */
  /** X203: Markov removal-effect attribution — the data-driven
    * multi-touch model (Anderl et al. 2014) that replaced heuristic
    * last-touch rules: user journeys become a first-order chain over
    * event types with absorbing `conv` (first purchase) and `null`
    * (journey end) states; a channel's credit is its REMOVAL EFFECT —
    * how much the chain's conversion probability drops when every path
    * through that channel is cut — normalized across channels. Where
    * X89's position rules ASSERT importance, this measures it.
    *
    * Exactness: transition probabilities are 6dp-DECIMAL (X168's
    * matrix rule); absorption runs `rounds` truncated value-iteration
    * steps in which each product is 6dp-rounded BEFORE the sum (the
    * X185 lesson — Spark's decimal-precision cap keeps scale 11 where
    * DuckDB keeps 12, so raw product sums can land on rounding
    * boundaries), making every p-vector bit-identical across engines
    * with NO trailing float round; the only IEEE op is the final
    * attribution share division. All five chains (base + 4 removals)
    * advance in ONE relation keyed (removed, state).
    *
    * Scale shape: journeys collapse to the K² transition matrix in one
    * user-keyed window pass; everything after is state-machine-sized
    * (≤ 5 states × 5 chains) broadcast work, corpus-independent —
    * X168's scale story with an absorption semantics on top.
    */
  def markovAttribution(spark: SparkSession, dir: String,
                        rounds: Int = 4): DataFrame = {
    val D6 = DecimalType(18, 6)
    val d6zero = lit(0).cast(D6)
    val ev = Tables.events(spark, dir).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    val wSeq = Window.partitionBy("user_id").orderBy("us", "event_id")
    val seq0 = ev.withColumn("rn", row_number().over(wSeq))
    val firstP = seq0.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("prn"))
    val kept = seq0.join(firstP, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state", when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")))
    val wRn = Window.partitionBy("user_id").orderBy("rn")
    val tr = kept
      .withColumn("src", coalesce(lag("state", 1).over(wRn), lit("start")))
      .select(col("src"), col("state").as("dst"))
      .unionByName(kept
        .withColumn("nxt", lead("state", 1).over(wRn))
        .filter(col("nxt").isNull && col("state") =!= "conv")
        .select(col("state").as("src"), lit("null").as("dst")))
    val tc = tr.groupBy("src", "dst").agg(count(lit(1)).as("c"))
    val tt = tc.groupBy("src").agg(sum("c").as("n"))
    val tm = graft.Checkpoints.cut(tc.join(tt, Seq("src"))
      .select(col("src"), col("dst"),
        round(col("c").cast("double") / col("n"), 6).cast(D6).as("p")))
    // r14 (guide §1.2/§5): past the one corpus pass that builds the
    // transition matrix, EVERYTHING is states²-bounded (≤ ~8 event
    // states × 5 removal chains) — the former relational spelling of
    // the 4-round × 5-chain absorption ran ~250 exchanges of ≤35-row
    // relations. The matrix is collected (bounded by the event-type
    // vocabulary, never by data volume) and the absorption rounds run
    // on the driver with the SAME op sequence: per-term
    // round(p·pconv, 6) (decimal multiply then setScale HALF_UP),
    // exact scale-6 sums, removed-state zeroing — bit-identical.
    import java.math.{BigDecimal => JBD}
    import java.math.RoundingMode.HALF_UP
    val zero6 = JBD.ZERO.setScale(6)
    val tmRows = tm.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDecimal(2).setScale(6)))
    val states = tmRows.map(_._1).distinct.sorted
    val chains = Seq("none", "click", "error", "signup", "view")
    val directC = tmRows.filter(_._2 == "conv").map(t => t._1 -> t._3).toMap
    val directN = tmRows.filter(_._2 == "null").map(t => t._1 -> t._3).toMap
    // tm rows whose dst is itself a source state (the inner transitions)
    val inner = tmRows.filter(t => states.contains(t._2))
    var pv: Map[(String, String), (JBD, JBD)] =
      (for (c <- chains; s <- states) yield (c, s) -> (zero6, zero6)).toMap
    for (_ <- 1 to rounds) {
      // BOTH absorption vectors advance in the same pass so the
      // truncation residual 1 − p_conv − p_null is reportable
      pv = (for (c <- chains; s <- states) yield {
        var sumc = zero6
        var sumn = zero6
        inner.filter(_._1 == s).foreach { case (_, dst, p) =>
          val (pc, pn) = pv((c, dst))
          sumc = sumc.add(p.multiply(pc).setScale(6, HALF_UP))
          sumn = sumn.add(p.multiply(pn).setScale(6, HALF_UP))
        }
        val pc2 =
          if (s == c) zero6
          else directC.getOrElse(s, zero6).add(sumc).setScale(6)
        val pn2 =
          if (s == c) zero6
          else directN.getOrElse(s, zero6).add(sumn).setScale(6)
        (c, s) -> (pc2, pn2)
      }).toMap
    }
    val (pBase, pnBase) = pv(("none", "start"))
    val eff = chains.filter(_ != "none").map { c =>
      val (pRem, pnRem) = pv((c, "start"))
      (c, pRem, pnRem, pBase.subtract(pRem).setScale(6))
    }
    val totEff = eff.map(_._4).foldLeft(JBD.ZERO)(_.add(_))
    val totEffD = totEff.doubleValue
    val one6 = JBD.ONE.setScale(6)
    def roundDiv(x: JBD): Double = {
      val d = x.doubleValue / totEffD
      if (d.isNaN || d.isInfinite) d
      else JBD.valueOf(d).setScale(6, HALF_UP).doubleValue
    }
    import spark.implicits._
    eff.map { case (channel, pRem, pnRem, re) =>
      (channel, pBase.doubleValue, pRem.doubleValue, re.doubleValue,
        roundDiv(re),
        // how much probability mass the 4-round truncation leaves
        // unabsorbed — the visible form of the truncation error
        one6.subtract(pBase).subtract(pnBase).doubleValue,
        one6.subtract(pRem).subtract(pnRem).doubleValue)
    }.toDF("channel", "p_base", "p_removed", "removal_effect",
      "attribution", "unresolved_base", "unresolved_removed")
      .orderBy("channel")
  }

  def peakDetection(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_num"))
      .groupBy("event_type", "day_num").agg(count(lit(1)).as("c"))
    val wDay = Window.partitionBy("event_type").orderBy("day_num")
    val wAll = Window.partitionBy("event_type")
    daily
      .withColumn("prev3_max",
        coalesce(max("c").over(wDay.rowsBetween(-3, -1)), lit(0L)))
      .withColumn("next3_max",
        coalesce(max("c").over(wDay.rowsBetween(1, 3)), lit(0L)))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum("c").over(wAll))
      .filter(col("c") > col("prev3_max") && col("c") > col("next3_max") &&
        col("c") * col("n_days") > col("total"))
      .select(col("event_type"), col("day_num"), col("c").as("n_events"),
        col("prev3_max"), col("next3_max"))
      .orderBy("event_type", "day_num")
  }

  /** X230: event-type lift matrix — market-basket association over
    * behavioral "baskets" (the distinct event types a user emits within
    * one day): support, pair count and lift = P(ab)/(P(a)·P(b)) per
    * unordered type pair, the cross-feature signal a personalization /
    * anomaly model starts from (X74 does this for co-ordered parts;
    * the basket here is the user-day, so the numbers read as "do these
    * behaviors co-occur in a session-scale window").
    *
    * Scale shape: the corpus collapses to distinct (user, day, type)
    * first (map-combinable); the pair join is keyed on (user, day) and
    * bounded by the TYPE DOMAIN squared per basket (≤ K² = 25 rows),
    * never by event volume; singles/totals broadcast. Exact integers
    * until the two final divisions.
    */
  def typeLift(spark: SparkSession, dir: String,
               minSupport: Int = 20): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("mi"), col("event_type"))
      .distinct()
    val n = ud.select("user_id", "mi").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val single = ud.groupBy("event_type").agg(count(lit(1)).as("c"))
    val a = ud.select(col("user_id"), col("mi"), col("event_type").as("ta"))
    val b = ud.select(col("user_id"), col("mi"), col("event_type").as("tb"))
    a.join(b, Seq("user_id", "mi"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
      .join(broadcast(single.select(col("event_type").as("ta"),
        col("c").as("c_a"))), Seq("ta"))
      .join(broadcast(single.select(col("event_type").as("tb"),
        col("c").as("c_b"))), Seq("tb"))
      .crossJoin(broadcast(n))
      .select(col("ta"), col("tb"), col("c_ab"), col("c_a"), col("c_b"),
        round(col("c_ab").cast("double") / col("n_baskets"), 6)
          .as("support"),
        round(col("c_ab").cast("double") * col("n_baskets") /
          (col("c_a") * col("c_b")), 6).as("lift"))
      .orderBy("ta", "tb")
  }

  /** X249: single-server FIFO queue simulation per event type — the
    * Lindley (1952) waiting-time recurrence W₁ = 0,
    * Wₙ₊₁ = max(0, Wₙ + sₙ − gapₙ₊₁), solved RELATIONALLY via its
    * prefix closed form: with Bₖ = Σᵢ<ₖ sᵢ − tₖ (arrival-ordered),
    * Wₙ = Bₙ − min(B₁..Bₙ) — the running-min rewrite that turns a
    * sequential recurrence into one ordered window pass (the same
    * gaps-and-islands trick sessionization uses for its running sum).
    * Service time is the stated deterministic
    * 400000 + (event_id mod 1000000) ms — mean ≈ 0.9e6 ms ≈ 0.7× the
    * fixture's per-type inter-arrival gap, so the queue genuinely
    * oscillates between idle and backlog (utilization ≈ 0.7) instead
    * of degenerating to all-zero waits; the whole computation is
    * EXACT BIGINT milliseconds and the
    * output is the per-type audit row (how backed up does a consumer
    * with that service rate get on this arrival process): max/mean
    * wait, share of arrivals that queued, and utilization busy-time/
    * span.
    *
    * Scale shape: one shuffle on event_type, two ordered windows
    * (running sum + running min) inside that partition — the
    * per-key-ordered class every engine's streaming backfill runs; the
    * final aggregate is map-combinable. No float until the three
    * rounded divisions in the audit row.
    */
  def queueWait(spark: SparkSession, dir: String): DataFrame = {
    val byArrival = Window.partitionBy("event_type")
      .orderBy("ms", "event_id")
    val run = Window.partitionBy("event_type")
      .orderBy("ms", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts) div 1000").as("ms"),
        (lit(400000L) + pmod(col("event_id"), lit(1000000L))).as("svc_ms"))
    val w = ev
      // B_k = (service accumulated BEFORE this arrival) - t_k
      .withColumn("b", sum("svc_ms").over(run) - col("svc_ms") - col("ms"))
      .withColumn("wait_ms", col("b") - min("b").over(run))
    w.groupBy("event_type")
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

  /** X264: sample-ratio-mismatch (SRM) check — the first gate every
    * A/B readout runs BEFORE looking at lift (X35): per experiment
    * (event type), split the distinct USER set into two arms by md5
    * parity and test the arm counts against the designed 50/50 with
    * the 1-df chi-square (nA−nB)²/(nA+nB); flag > 3.841459 (p < .05).
    * A flagged SRM means the assignment/logging pipeline dropped one
    * arm's traffic and the experiment is unreadable — the audit is
    * deliberately separate from the lift query so a broken split can't
    * hide inside a significant-looking effect. Counts exact; the
    * statistic is one fixed expression.
    *
    * Scale shape: one distinct (type, user) pass, md5 arithmetic
    * per row, a map-combinable conditional count. Nothing else.
    */
  def srmCheck(spark: SparkSession, dir: String,
               salt: String = "srm_v1"): DataFrame = {
    val arm = pmod(conv(substring(md5(concat(col("user_id").cast("string"),
      lit("|"), lit(salt))), 1, 4), 16, 10).cast("long"), lit(2L))
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("arm", arm)
      .groupBy("event_type")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")) / (col("n_a") + col("n_b")), 6)
          .as("chi2"),
        ((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")) / (col("n_a") + col("n_b")) >
          lit(3.841459)).as("srm_flag"))
      .orderBy("event_type")
  }

  /** X251: interval-union availability — error events open fixed
    * `holdMs` (1-hour) outage windows; overlapping windows must be UNIONED, not
    * summed (double-counting overlap is the classic SLA-report bug).
    * Per UTC day: the exact union length via the ordered-merge
    * identity covered = Σ min(holdMs, next_start − start) (+ holdMs
    * for each day's last interval), all BIGINT ms, and the derived
    * availability share. Windows that would cross midnight are clipped
    * to their day so days partition exactly (stated convention —
    * deterministic, and it keeps the window partitioned by day rather
    * than global).
    *
    * Scale shape: errors filter at the scan (pushed predicate), one
    * shuffle on the day key, one lead() inside the day partition, one
    * map-combinable aggregate. The day key is bounded and dense — no
    * skew risk beyond what AQE already handles.
    */
  def intervalUnion(spark: SparkSession, dir: String,
                    holdMs: Long = 3600000L): DataFrame = {
    val byDay = Window.partitionBy("day").orderBy("ms", "event_id")
    val errs = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(to_date(col("ts")).as("day"), col("event_id"),
        expr("unix_micros(ts) div 1000").as("ms"))
    val dayEndMs = expr("unix_micros(CAST(day AS TIMESTAMP)) div 1000") +
      lit(86400000L)
    errs
      .withColumn("next_ms", lead("ms", 1).over(byDay))
      .withColumn("covered_ms",
        least(lit(holdMs),
          coalesce(col("next_ms"), lit(Long.MaxValue)) - col("ms"),
          dayEndMs - col("ms")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_errors"),
        sum("covered_ms").as("outage_ms"))
      .select(col("day"), col("n_errors"), col("outage_ms"),
        round(lit(1.0) - col("outage_ms").cast("double") / 86400000d, 6)
          .as("availability"))
      .orderBy("day")
  }
}
