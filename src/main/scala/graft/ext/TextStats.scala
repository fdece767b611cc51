package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** X4 — text analysis for training-data curation over `documents`:
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting. All narrow per-row transforms (+ one aggregate per
  * query) — embarrassingly parallel, no shuffle except final group-bys.
  */
object TextStats {

  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Release every memoized relation of this application — see
    * [[TextDedup.clearCaches]].
    */
  def clearCaches(spark: SparkSession): Unit = graft.Memo.clear(spark)

  /** Memoized per-(application, dir) distinct char-bigram ARRAYS
    * (doc_id, lang, bgs) — one compact row per doc; the profile build and
    * the scoring pass both consume it (same decision as
    * [[TextDedup.cachedDocSets]]).
    */
  private def cachedDocBigrams(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, dir, "text.doc_bigrams")(
      Tables.documents(spark, dir)
        // length guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0]
        // (bogus 1-char "bigrams") where DuckDB's generate_series(1, 0) is
        // empty — a sub-2-char doc gets an empty bigram set here, scoring
        // overlap 0 → 'unknown', identical to the oracle's empty series.
        .select(col("doc_id"), col("lang"), sort_array(array_distinct(
          expr("case when length(text) >= 2 then " +
            "transform(sequence(1, length(text) - 1), i -> substr(text, i, 2)) " +
            "else cast(array() as array<string>) end"))).as("bgs")))

  /** Language-ID heuristic: stopword-hit ratio over whitespace tokens.
    * (A real n-gram profile model slots into the same shape — per-token
    * scoring + groupBy doc.)
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val stopList = StopWords.map("'" + _ + "'").mkString(",")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("declared_lang"),
        size(words).cast("long").as("n_words"),
        size(expr(s"filter(split(text, ' '), w -> w IN ($stopList))"))
          .cast("long").as("n_stopwords"))
      .withColumn("stop_ratio",
        round(col("n_stopwords").cast("double") / col("n_words"), 6))
      .withColumn("predicted_lang",
        when(col("stop_ratio") > 0.05, "en").otherwise("unknown"))
      .select("doc_id", "declared_lang", "n_words", "n_stopwords",
        "stop_ratio", "predicted_lang")
      .orderBy("doc_id")
  }

  /** Language-ID via character-bigram profiles — the real n-gram model
    * shape (Cavnar-Trenkle style): per-language top-`topK` bigram
    * profiles, each doc scored by distinct-bigram overlap with every
    * profile, argmax wins (ties to the lexicographically first language).
    *
    * Scale shape: profile build is one (lang, bigram) shuffle; profiles
    * are small by construction (languages × topK) and broadcast; scoring
    * is a broadcast join + per-(doc, lang) aggregate + per-doc top-1
    * window. Nothing scales with corpus² anywhere.
    */
  def langIdNgram(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = cachedDocBigrams(spark, dir)
    // profile = top-K bigrams by document frequency per language,
    // collected to one sorted array per language (langs × topK — small by
    // construction, broadcastable at any corpus size)
    val prof = docs.select(col("lang"), explode(col("bgs")).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("bg"))))
      .filter(col("rk") <= topK)
      .groupBy(col("lang").as("cand_lang"))
      .agg(sort_array(collect_list("bg")).as("pbgs"))
    // score every doc against every language profile with the fused
    // sorted-merge kernel (both arrays are sorted distinct) — docs × nLangs
    // rows, no per-bigram scoring join, no per-pair hash set
    graft.functions.SortedIntersectSize.register(spark)
    val scored = docs.crossJoin(broadcast(prof))
      .select(col("doc_id"), col("lang").as("declared_lang"), col("cand_lang"),
        graft.functions.SortedIntersectSize.intersectSize(
          col("bgs"), col("pbgs")).as("overlap"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("overlap").desc, col("cand_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("declared_lang"),
        when(col("overlap") === 0, "unknown").otherwise(col("cand_lang"))
          .as("predicted_lang"),
        col("overlap"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/uniqueness/word-shape signals, the usual
    * pre-training filters (C4-style heuristics).
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"))
      .withColumn("avg_word_len",
        round(col("n_letters").cast("double") / col("n_words"), 6))
      .withColumn("uniq_ratio",
        round(col("n_distinct_words").cast("double") / col("n_words"), 6))
      .withColumn("quality_score",
        round(least(col("n_words").cast("double") / 100, lit(1.0)) *
          (col("n_distinct_words").cast("double") / col("n_words")), 6))
      .select("doc_id", "n_chars", "n_words", "n_distinct_words",
        "n_letters", "avg_word_len", "uniq_ratio", "quality_score")
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter-runs / digit-runs), aggregated per language.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("long").as("re_tokens"),
        col("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("total_ws_tokens"),
        sum("re_tokens").as("total_re_tokens"),
        round(sum("ws_tokens").cast("double") / count(lit(1)), 6)
          .as("avg_ws_tokens"),
        round(sum("n_chars").cast("double") / sum("ws_tokens"), 6)
          .as("chars_per_token"))
      .orderBy("lang")

  /** Vocabulary heavy hitters — the frequent-items sketch family for
    * corpus curation (which tokens dominate the training mix): exact
    * heavy hitters (> 0.5% of all tokens) beside a membership check
    * against Spark's approximate `freqItems` (a count-based sketch whose
    * contract guarantees a superset at the given support). Gated like
    * the other sketches: the oracle computes the exact rows and asserts
    * `in_approx` literally TRUE, so a sketch missing a true heavy hitter
    * fails the hash gate. The sketch result is one small array row,
    * broadcast back — no driver-side collect in the query path.
    */
  def heavyHitters(spark: SparkSession, dir: String,
                   support: Double = 0.005): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val approx = toks.stat.freqItems(Seq("tok"), support)
    toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") > col("n_total") * support)
      .crossJoin(broadcast(approx))
      .select(col("tok"), col("cnt"),
        array_contains(col("tok_freqItems"), col("tok")).as("in_approx"))
      .orderBy("tok")
  }

  /** X101: weighted sampling without replacement (A-Res, Efraimidis &
    * Spirakis 2006) — the quality-weighted subset selection every
    * curation pipeline runs ("sample 50 docs, long documents
    * proportionally more often"), made deterministic and
    * engine-portable: u_i = (bucket16(md5(id|salt)) + 1)/65536 is an
    * exact rational in (0,1], and the A-Res priority u^(1/w) is ranked
    * through its monotone transform ln(u)/w — one ln + one exact
    * integer division instead of pow, the numerically calmer spelling —
    * 6dp-rounded with a doc_id tie-break so the cut is total.
    *
    * Scale shape: the key is a pure per-row expression (no shuffle to
    * assign), and the top-k is TakeOrderedAndProject — per-partition
    * heaps + driver merge of k rows, never a global sort.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 50,
                     salt: String = "wsample_v1"): DataFrame = {
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("|"), lit(salt))), 1, 4), 16, 10).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("u", (bucket + 1).cast("double") / 65536d)
      .withColumn("prio", round(log(col("u")) / col("n_chars"), 6))
      .orderBy(col("prio").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("prio").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"),
        col("prio"))
      .orderBy("rk")
  }

  /** X102: cross-group quantile normalization — map every document's
    * quality score onto the GLOBAL score distribution at its
    * within-language percentile (the batch-effect correction that makes
    * quality thresholds comparable across languages whose raw score
    * distributions differ). Exact integer-rank form: a doc at in-group
    * rank r of n_g takes the global value at rank ⌈r·N/n_g⌉ — computed
    * as `(r·N + n_g − 1) div n_g`, no float quantile anywhere.
    *
    * Scale shape: the global rank is the X83 two-phase prefix
    * (range-partition on the (score, doc_id) sort key, per-partition
    * row_number + broadcast offsets) — never a single global window at
    * scale; the within-group rank windows on the lang key; the value
    * lookup is an equi-join on the computed global rank.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_d"))
      .withColumn("score",
        round(least(col("n_words").cast("double") / 100, lit(1.0)) *
          (col("n_d").cast("double") / col("n_words")), 6))
      .select("doc_id", "lang", "score")
    // global rank via the two-phase range-partitioned prefix count
    val ranged = scored.repartitionByRange(32, col("score"), col("doc_id"))
      .withColumn("p", spark_partition_id().cast("long"))
    val offs = ranged.groupBy("p").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(Window.orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("p", "off")
    val ranked = ranged.join(broadcast(offs), Seq("p"))
      .withColumn("grank", col("off") +
        row_number().over(Window.partitionBy("p")
          .orderBy(col("score"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lang"), col("score"), col("grank"))
    val n = ranked.agg(count(lit(1)).as("n"))
    val inGroup = Window.partitionBy("lang").orderBy(col("score"), col("doc_id"))
    val gTot = Window.partitionBy("lang")
    ranked
      .withColumn("r", row_number().over(inGroup).cast("long"))
      .withColumn("n_g", count(lit(1)).over(gTot))
      .crossJoin(broadcast(n))
      .withColumn("t", expr("(r * n + n_g - 1) div n_g"))
      .join(ranked.select(col("grank").as("t"), col("score").as("norm_score")),
        Seq("t"))
      .select(col("doc_id"), col("lang"), col("score"), col("r"),
        col("n_g"), col("norm_score"))
      .orderBy("doc_id")
  }

  /** X100: Count-Min-Sketch heavy-hitter estimation — the bounded-memory
    * frequency sketch (Cormode & Muthukrishnan 2005) built relationally:
    * d=4 hash rows × w=256 counters is ONE (row, bucket) aggregate
    * (d·w = 1024 cells regardless of corpus size — the whole point),
    * and each exact heavy hitter's estimate is the min over its d
    * counters. The md5-derived bucket hash is the engine-portable
    * spelling every sketch entry here uses, so estimate, exact count,
    * overcount, and the one-sided guarantee est ≥ true (CMS never
    * undercounts — deterministic, unlike the probabilistic upper bound)
    * are all value-identical cross-engine and hash-comparable.
    *
    * Scale shape: the token stream collapses to exact (tok, count)
    * FIRST (one map-combinable aggregate — the md5 bucket hash then
    * runs over distinct token TYPES × d, a vocabulary-sized stream,
    * not the corpus-sized occurrence stream it used to double-hash),
    * and that hashed `cells` relation is SHARED between the counter
    * build (sum of type counts per cell == occurrence count per cell)
    * and the heavy-hitter probe — the md5 work runs exactly once. The
    * counter build is a map-side-combinable aggregate to 1024 cells;
    * the probe side is the (tiny) heavy-hitter set with its d lookups
    * as a broadcast join against the cell relation.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String,
                      depth: Int = 4, width: Int = 256,
                      support: Double = 0.005): DataFrame = {
    val tokCounts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
    // hashed ONCE per (token type, row j) — both the counter build and
    // the heavy probe ride this relation
    val cells = tokCounts.select(col("tok"), col("true_cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("b", conv(substring(md5(concat(col("j").cast("string"),
        lit("|"), col("tok"))), 1, 4), 16, 10).cast("long") % width)
    val counters = cells.groupBy("j", "b").agg(sum("true_cnt").as("c"))
    val total = tokCounts.agg(sum("true_cnt").as("n_total"))
    val heavy = tokCounts
      .crossJoin(broadcast(total))
      .filter(col("true_cnt") > col("n_total") * support)
      .select("tok")
    cells.join(broadcast(heavy), Seq("tok"), "left_semi")
      .join(broadcast(counters), Seq("j", "b"))
      .groupBy("tok", "true_cnt")
      .agg(min(col("c")).as("est_cnt"))
      .select(col("tok"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"),
        (col("est_cnt") >= col("true_cnt")).as("never_undercounts"))
      .orderBy("tok")
  }

  /** Deterministic train/validation/test split — the assignment a
    * training-data pipeline must be able to reproduce forever: bucket by
    * the first 4 hex chars of md5(doc_id || salt) (content-independent,
    * engine-portable, stable under re-partitioning and re-runs — unlike
    * `randomSplit`, which is seed- and partitioning-dependent), 80/10/10
    * by bucket range. Emitted as per-(lang, split) counts plus the exact
    * per-split ratio so drift in either the hash or the ranges is
    * oracle-visible.
    */
  def trainTestSplit(spark: SparkSession, dir: String,
                     salt: String = "graft_v1"): DataFrame = {
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("|"), lit(salt))), 1, 4), 16, 10).cast("long") // 0..65535
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < 52429L, "train")        // 0.8 * 65536
          .when(bucket < 58982L, "validation") // 0.9 * 65536
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "split")
  }

  /** Document fingerprinting: min-hash fingerprint over the shingle set +
    * a winnowing-style selected-shingle count (md5 prefix '0' ≈ keep-1/16
    * sampling of the shingle space — content-defined, shift-invariant).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    // narrow array expressions over the shared per-doc shingle-set table —
    // no aggregate shuffle at all (values identical to the long-form
    // min/count aggregate the oracle runs)
    TextDedup.cachedDocSets(spark, dir)
      .select(col("doc_id"),
        array_min(transform(col("shs"), md5(_))).as("fingerprint"),
        size(filter(transform(col("shs"), md5(_)), _.startsWith("0")))
          .cast("long").as("n_selected"),
        col("n").as("n_shingles"))
      .orderBy("doc_id")

  /** Within-document repetition signals (the Gopher / Rae et al. 2021
    * "repetition" quality filters): the fraction of a doc's word 2-gram
    * and 3-gram occurrences that are repeats of an earlier occurrence in
    * the SAME doc — degenerate or templated text scores high. Entirely
    * narrow per-row array expressions (gram lists, distinct, sizes):
    * zero shuffles before the final sort, embarrassingly parallel at any
    * scale. Thresholds (0.20 / 0.18) follow the Gopher paper's order of
    * magnitude; they are operator parameters, not data-derived.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documents(spark, dir))

  def repetitionOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      // length guards (the cachedDocBigrams pattern): Spark's
      // sequence(1, 0) is a DESCENDING [1, 0] and element_at(ws, 0)
      // throws — a sub-2/3-word doc must yield an EMPTY gram set (its
      // rep ratio is then null: undefined, not zero), never a crash
      .withColumn("g2", expr(
        "case when size(ws) >= 2 then transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) " +
          "else cast(array() as array<string>) end"))
      .withColumn("g3", expr(
        "case when size(ws) >= 3 then transform(sequence(1, size(ws) - 2), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1), ' ', element_at(ws, i + 2))) " +
          "else cast(array() as array<string>) end"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        // empty gram set -> NULL ratio (undefined, not zero) — and never
        // an ANSI divide-by-zero error on a degenerate doc
        round(when(size(col("g2")) > 0,
          (size(col("g2")) - size(array_distinct(col("g2"))))
            .cast("double") / size(col("g2"))), 6).as("rep2"),
        round(when(size(col("g3")) > 0,
          (size(col("g3")) - size(array_distinct(col("g3"))))
            .cast("double") / size(col("g3"))), 6).as("rep3"))
      // three-valued on purpose: an undefined ratio leaves flagged NULL
      .withColumn("flagged", col("rep2") > 0.20 || col("rep3") > 0.18)
      .orderBy("doc_id")

  /** Deterministic stratified sampling: per language, the first
    * `perClass` docs in md5-key order — a content-derived "random" draw
    * both engines reproduce bit-for-bit (no RNG). The row_number filter
    * plans as WindowGroupLimit, Spark's per-group top-k pushdown: each
    * group keeps a bounded heap instead of fully sorting its partition,
    * which is what makes per-class sampling viable when one class holds
    * billions of rows.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
                       perClass: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("skey", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("skey"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= perClass)
      .select("doc_id", "lang", "sample_rank")
      .orderBy("lang", "sample_rank")
  }

  /** PII scrubbing pass: count and redact email / IPv4 / phone patterns.
    * The fixture corpus carries no PII, so deterministic synthetic tokens
    * are appended first (doc_id-derived, identical in the oracle) to make
    * every branch observable. Regexes stay in the RE2 ∩ java.util.regex
    * common subset AND avoid backslash classes entirely (`[0-9]`/`[.]`,
    * never `\d`/`\.`) — Spark SQL string literals eat backslashes while
    * DuckDB's don't, so a backslash-free pattern is the only spelling
    * that survives the three-way replay verbatim. Purely narrow per-row
    * string work: zero shuffles, codegen'd regexp engine, linear scan at
    * any scale. Redaction order (email → ip → phone) is part of the
    * operator contract.
    */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
  val Ipv4Re  = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  val PhoneRe = "555-[0-9]{4}"

  /** (doc_id, aug, redacted): the augmented input and its fully-redacted
    * form — [[piiRedact]]'s intermediate, exposed for the residual-PII
    * spec assertion.
    */
  def piiRedactAugmented(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com"))).otherwise(""),
      when(col("doc_id") % 4 === 0, concat(lit(" from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"))).otherwise(""),
      when(col("doc_id") % 5 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
    Tables.documents(spark, dir)
      .withColumn("aug", aug)
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("aug"),
          EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]"))
      .select("doc_id", "aug", "redacted")
  }

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val (email, ip, phone) = (EmailRe, Ipv4Re, PhoneRe)
    piiRedactAugmented(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(email), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(ip), lit(0)))
          .cast("long").as("n_ips"),
        size(regexp_extract_all(col("aug"), lit(phone), lit(0)))
          .cast("long").as("n_phones"),
        length(col("redacted")).cast("long").as("redacted_len"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Quantile normalization of the quality score: per-language
    * percent_rank and decile — the form quality thresholds take in a
    * curation pipeline ("keep the top 30% per language" is
    * distribution-relative, not absolute). One shuffle on lang; the
    * (quality_score, doc_id) order is total, so ranks and NTILE cell
    * boundaries are deterministic in both engines.
    */
  def qualityRanked(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("quality_score", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("n_distinct_words"))
      .withColumn("quality_score",
        round(least(col("n_words").cast("double") / 100, lit(1.0)) *
          (col("n_distinct_words").cast("double") / col("n_words")), 6))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .select("doc_id", "lang", "quality_score", "pr", "decile")
      .orderBy("doc_id")
  }

  /** Token-budget shard packing: docs in doc_id order accumulate into
    * shards of ~`budget` tokens (shard = the budget window the doc
    * STARTS in — the document-granularity sequence packing a training
    * run does before tokenization).
    *
    * The prefix sum is two-phase, never a single global window: bucket
    * subtotals (one wide aggregate), an ordered cumsum over the tiny
    * bucket relation, then per-bucket windows with the broadcast prefix
    * added back. A naive `SUM OVER (ORDER BY doc_id)` funnels the whole
    * corpus through one reducer; this shape keeps every stage
    * partition-parallel at 100 TB. The oracle states the naive global
    * form — semantics are identical by associativity.
    */
  def shardPack(spark: SparkSession, dir: String,
                budget: Int = 2000, bucket: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("b", expr(s"doc_id div $bucket"))
    val prefix = docs.groupBy("b").agg(sum("n_tokens").as("bt"))
      .withColumn("prev_total", coalesce(
        sum("bt").over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "prev_total")
    docs.join(broadcast(prefix), Seq("b"))
      .withColumn("cum_tokens", col("prev_total") +
        sum("n_tokens").over(Window.partitionBy("b").orderBy("doc_id")))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div $budget").as("shard_id"))
      .orderBy("doc_id")
  }

  /** X207: sequence-packing efficiency audit — the padding-waste /
    * split-document table a pretraining pipeline watches over its
    * packed shards: rides the X12 packing relation SHARED VERBATIM
    * (audit and packer cannot drift) and reports, per shard, the doc
    * count, token fill, utilization vs the budget, overflow carried by
    * boundary-spanning docs, and how many docs CROSS a shard boundary
    * (the docs a strict trainer would split or drop). All counts are
    * exact integers off the shared cumulative sums; utilization is the
    * one final 6dp division.
    *
    * Scale shape: one shard-keyed aggregate over the X12 output — the
    * packing relation's own two-phase prefix discipline already did
    * the global work; nothing here re-sorts.
    */
  def packEfficiency(spark: SparkSession, dir: String,
                     budget: Int = 2000): DataFrame =
    shardPack(spark, dir, budget)
      .withColumn("crosses", expr(
        s"(cum_tokens - 1) div $budget != (cum_tokens - n_tokens) div $budget"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        sum(when(col("crosses"), 1L).otherwise(0L)).as("boundary_docs"))
      .select(col("shard_id"), col("n_docs"), col("tokens"),
        col("boundary_docs"),
        round(col("tokens").cast("double") / budget, 6).as("utilization"),
        greatest(col("tokens") - budget, lit(0L)).as("overflow_tokens"))
      .orderBy("shard_id")

  /** X83: Pareto token-coverage — "which documents carry 80% of the
    * corpus tokens": every doc's cumulative token count and share in
    * (n_tokens DESC, doc_id) order, flagged while it STARTS before the
    * 80% point (the long-tail audit behind dedup-priority and storage-
    * tiering decisions).
    *
    * Scale shape: the prefix sum never runs as one global window — the
    * corpus is range-partitioned on the SORT key (so partition p's rows
    * all precede partition p+1's in the total order; unlike X12's
    * doc_id buckets, the bucket here must follow the n_tokens ordering),
    * per-partition subtotals make a tiny prefix relation, and each
    * partition adds its broadcast offset to a local window. Because
    * (n_tokens, doc_id) is a total order, every row's cum is
    * independent of where the range boundaries land — sampling
    * nondeterminism in the range partitioner cannot reach the values.
    * The 80% test is exact integer arithmetic (`(cum−n)·5 < total·4`) —
    * no float threshold at the boundary.
    */
  def paretoCoverage(spark: SparkSession, dir: String,
                     num: Int = 4, den: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val total = docs.agg(sum("n_tokens").as("total"))
    val ranged = docs
      .repartitionByRange(32, col("n_tokens").desc, col("doc_id"))
      .withColumn("p", spark_partition_id().cast("long"))
    val prefix = ranged.groupBy("p").agg(sum("n_tokens").as("bt"))
      .withColumn("prev_total", coalesce(
        sum("bt").over(Window.orderBy("p")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("p", "prev_total")
    ranged.join(broadcast(prefix), Seq("p"))
      .withColumn("cum_tokens", col("prev_total") +
        sum("n_tokens").over(Window.partitionBy("p")
          .orderBy(col("n_tokens").desc, col("doc_id"))))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        round(col("cum_tokens").cast("double") / col("total"), 6)
          .as("cum_share"),
        ((col("cum_tokens") - col("n_tokens")) * den < col("total") * num)
          .as("in_pareto80"))
      .orderBy("cum_tokens", "doc_id")
  }

  /** X158: syllable-level lexical complexity — the readability-family
    * signal that survives a corpus with no sentence punctuation (the
    * fixture has none, and plenty of scraped text doesn't either):
    * per-doc syllable counts via the classic vowel-group proxy (each
    * maximal [aeiou]+ run ≈ one syllable), average syllables per word,
    * and the polysyllabic share (words with ≥ 3 vowel groups — the
    * "complex word" count Gunning fog uses). All counts are integers
    * from one regexp pass; the two ratios are the only IEEE ops.
    *
    * Scale shape: a narrow per-row map over the scan — no shuffle at
    * all except the output sort; the cheapest possible curation signal.
    */
  def lexicalComplexity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        // vowel runs never span a word separator, so the whole-text
        // count equals the per-word sum without a nested fold
        size(expr("regexp_extract_all(array_join(ws, ' '), '[aeiou]+', 0)"))
          .cast("long").as("n_syllables"),
        size(expr("filter(ws, w -> size(regexp_extract_all(w, '[aeiou]+', 0)) >= 3)"))
          .cast("long").as("n_polysyllabic"))
      .filter(col("n_words") > 0)
      .withColumn("syllables_per_word",
        round(col("n_syllables").cast("double") / col("n_words"), 6))
      .withColumn("poly_ratio",
        round(col("n_polysyllabic").cast("double") / col("n_words"), 6))
      .orderBy("doc_id")

  /** X91: vocabulary coverage — the share of each document's tokens
    * that fall inside the corpus top-`topK` vocabulary (the cheap
    * gibberish/OOV filter a pipeline runs before any tokenizer exists;
    * low coverage ⇒ the doc is mostly words the tokenizer will shred).
    * The vocabulary cut is deterministic: (count DESC, token) total
    * order, so the boundary tie at rank `topK` resolves identically on
    * both engines.
    *
    * Scale shape: one token-keyed count (AQE-skew-handled stopword
    * heavy hitters), a topK TakeOrdered over the vocabulary-sized
    * relation, broadcast back over a narrow left join — docs are
    * touched twice but only through the same exploded token stream,
    * and the per-doc aggregate is map-side combinable.
    */
  def vocabCoverage(spark: SparkSession, dir: String,
                    topK: Int = 1000): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')"))
          .as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(topK)
      .select(col("tok"), lit(1L).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_v"), lit(0L))).as("n_in_vocab"))
      .withColumn("coverage",
        round(col("n_in_vocab").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** X160: train/test split leakage audit — the contamination number a
    * split actually has to certify: after assigning every document to a
    * deterministic fold (md5(doc_id) mod `k` — the X53 sampler's salt
    * discipline, reproducible run-to-run), count the NEAR-DUPLICATE
    * pairs (the X2 verified Jaccard ≥ 0.6 relation — the fixture has
    * near-dups but no byte-identical ones) that straddle fold
    * boundaries. A random split of a corpus with duplicates leaks test
    * content into train no matter how the fold ratios look; this is the
    * per-fold-pair evidence table.
    *
    * Scale shape: rides the ALREADY-MATERIALIZED dedup pair relation
    * (the X142 threshold-sweep rule: at 100 TB you audit the pair
    * TABLE, never re-run the similarity join); fold assignment is pure
    * per-row arithmetic on the pair's ids (no doc join at all), and the
    * rollup keys on k² ≤ 9 fold pairs.
    */
  def splitLeakage(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    def fold(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % k
    graft.ext.TextDedup.jaccardPairs(spark, dir)
      .select(least(fold(col("doc_a")), fold(col("doc_b"))).as("fold_lo"),
        greatest(fold(col("doc_a")), fold(col("doc_b"))).as("fold_hi"))
      .groupBy("fold_lo", "fold_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("fold_lo") =!= col("fold_hi"))
      .orderBy("fold_lo", "fold_hi")
  }

  /** X52: data-mixture rebalancing — downsample over-represented
    * language groups to a uniform target mixture (the data-mixing step
    * every multilingual training pipeline runs; DoReMi/ROOTS-style but
    * with the classic deterministic-hash sampler). Downsample-only: the
    * target per-group count is the smallest group's `n_min`, so
    * keep-probability is `n_min/n_g` and no group is ever upsampled.
    *
    * The admission decision is a pure per-row predicate (md5 bucket of
    * doc_id vs an INTEGER threshold `65536*n_min/n_g` — exact integer
    * math, no float boundary): at 100 TB the group stats are one tiny
    * aggregate broadcast back, and the sample itself never shuffles — a
    * narrow filter over the scan, reproducible run-to-run by salt.
    * Output is the per-group audit row: planned probability vs realized
    * kept count.
    */
  def mixRebalance(spark: SparkSession, dir: String,
                   salt: String = "mix_v1"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val nMin = byLang.agg(min("n_docs").as("n_min"), sum("n_docs").as("n_total"))
    val stats = byLang.crossJoin(broadcast(nMin))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("share"),
        // exact integer threshold over the 16-bit md5 bucket space —
        // `div`, never `/`+cast: float division would round-vs-truncate
        // differently across engines right at the cast boundary
        expr("(65536 * n_min) div n_docs").as("threshold"))
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("|"), lit(salt))), 1, 4), 16, 10).cast("long") // 0..65535
    val kept = docs.select(col("doc_id"), col("lang"))
      .withColumn("bucket", bucket)
      .join(broadcast(stats.select("lang", "threshold")), Seq("lang"))
      .filter(col("bucket") < col("threshold"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    stats.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("share"),
        round(col("threshold").cast("double") / 65536d, 6).as("keep_prob"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  /** X52b: the UPSAMPLING twin of [[mixRebalance]] — reach the uniform
    * target by repeating under-represented groups instead of dropping
    * over-represented ones (the "epochs per data source" practice when
    * no source can be discarded). Per group: `epochs = n_max div n_g`
    * whole passes for every doc, plus one extra pass for the
    * deterministic md5-bucket fraction that makes the expected total
    * n_max. All thresholds are exact integer math; the audit row
    * reports epochs, fractional admits and the emitted total
    * (epochs·n_g + n_extra — exactly reproducible).
    *
    * Scale: identical shape to [[mixRebalance]] — one tiny broadcast
    * stats row, a narrow per-row predicate; the row-level emission is
    * `explode(sequence(1, repeat))`, map-side only, no shuffle.
    */
  def mixUpsample(spark: SparkSession, dir: String,
                  salt: String = "mix_v1"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val nMax = byLang.agg(max("n_docs").as("n_max"))
    val stats = byLang.crossJoin(broadcast(nMax))
      .select(col("lang"), col("n_docs"),
        expr("n_max div n_docs").as("epochs"),
        expr("(65536 * (n_max % n_docs)) div n_docs").as("threshold"))
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("|"), lit(salt))), 1, 4), 16, 10).cast("long") // 0..65535
    docs.select(col("doc_id"), col("lang"))
      .withColumn("bucket", bucket)
      .join(broadcast(stats), Seq("lang"))
      .groupBy("lang")
      .agg(first("n_docs").as("n_docs"),
        first("epochs").as("epochs"),
        sum(when(col("bucket") < col("threshold"), 1L).otherwise(0L))
          .as("n_extra"))
      .select(col("lang"), col("n_docs"), col("epochs"), col("n_extra"),
        (col("epochs") * col("n_docs") + col("n_extra")).as("n_emitted"))
      .orderBy("lang")
  }

  /** The higher-order array-function surface (transform / filter /
    * aggregate / array_sort / slice) over per-doc token lists — all
    * codegen'd lambda expressions evaluated inline per row, zero shuffle,
    * which is why this family is THE way to do per-document math at
    * 100 TB (the alternative, explode + groupBy(doc_id), shuffles the
    * whole token stream to compute what a narrow expression already had).
    */
  def arrayHofFamily(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .select(
        col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        size(expr("filter(tokens, t -> length(t) > 4)")).cast("long")
          .as("n_long"),
        expr("aggregate(tokens, 0L, (acc, t) -> acc + length(t))")
          .as("total_len"),
        expr("array_max(transform(tokens, t -> length(t)))").cast("long")
          .as("max_len"),
        concat_ws(" ", slice(array_sort(col("tokens")), 1, 3))
          .as("sorted_head3"))
      .orderBy("doc_id")

  /** Deterministic Bernoulli sampling by content hash: keep a doc iff the
    * first two hex chars of md5(text) fall under the threshold — an exact
    * 16/256 rate, reproducible on any engine and any partitioning (the
    * `TABLESAMPLE`/`rand()` forms are neither). Content-keyed so the
    * sample is stable under re-ingestion/reordering; key on doc_id
    * instead when duplicate texts must sample independently.
    */
  def bernoulliSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        substring(md5(col("text")), 1, 2).as("bucket"))
      .filter(col("bucket") < "10")
      .orderBy("doc_id")

  /** Generator (table-function) surface: posexplode flattens each
    * sampled doc's token array with its 0-based position — one row per
    * token, order preserved by the emitted `pos` (never by row order,
    * which a shuffle would scramble). Bounded to every-50th doc so the
    * expansion stays row-budgeted at any SF.
    */
  def generatorTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("doc_id", "pos")

  /** X178: length-filter sweep — for each candidate minimum-length
    * cutoff, the docs and tokens a `n_words ≥ T` filter would keep:
    * the yield-vs-threshold curve a curation pipeline consults BEFORE
    * committing to a cutoff (X142's threshold-sweep discipline applied
    * to the length filter, the first gate in every published pipeline).
    * The corpus collapses to the per-length histogram first, so the
    * sweep joins thresholds against length-count rows, never documents.
    *
    * Scale shape: one map-combinable histogram aggregate (distinct
    * word-counts ≪ corpus), a ≤|T|-row broadcast band join over it
    * (declared nested loop, bound pinned), integer sums, two final
    * divisions.
    */
  def lengthSweep(spark: SparkSession, dir: String,
                  cuts: Seq[Int] = Seq(0, 10, 25, 40, 55, 70)): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_words"))
      .groupBy("n_words").agg(count(lit(1)).as("n_docs"))
      .withColumn("n_tokens", col("n_words") * col("n_docs"))
    val totals = hist.agg(sum("n_docs").as("tot_docs"),
      sum("n_tokens").as("tot_tokens"))
    val th = spark.createDataFrame(
      spark.sparkContext.parallelize(cuts.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("min_words",
          org.apache.spark.sql.types.IntegerType))))
      .select(col("min_words").cast("long").as("min_words"))
    broadcast(th).join(hist, col("n_words") >= col("min_words"), "left")
      .groupBy("min_words")
      .agg(coalesce(sum("n_docs"), lit(0L)).as("docs_kept"),
        coalesce(sum("n_tokens"), lit(0L)).as("tokens_kept"))
      .crossJoin(broadcast(totals))
      .select(col("min_words"), col("docs_kept"), col("tokens_kept"),
        round(col("docs_kept").cast("double") / col("tot_docs"), 6)
          .as("doc_share"),
        round(col("tokens_kept").cast("double") / col("tot_tokens"), 6)
          .as("token_share"))
      .orderBy("min_words")
  }

  /** X179: language-ID confusion matrix — declared × predicted counts
    * with per-declared-language recall, the audit that says whether the
    * X4 n-gram classifier can be trusted per language before its labels
    * drive a mixture rebalance (a per-doc prediction list is unreadable
    * at corpus scale; the K×K matrix is the actionable artifact).
    * Rides [[langIdNgram]] unchanged, so classifier and audit can never
    * drift apart.
    *
    * Scale shape: adds one (declared, predicted)-keyed aggregate and a
    * declared-partitioned share window (K rows per partition) on top of
    * the X4 plan — matrix-sized output.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langIdNgram(spark, dir)
      .groupBy("declared_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("declared_total",
        sum("n_docs").over(Window.partitionBy("declared_lang")))
      .select(col("declared_lang"), col("predicted_lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("declared_total"), 6)
          .as("declared_share"),
        (col("declared_lang") === col("predicted_lang")).as("is_correct"))
      .orderBy("declared_lang", "predicted_lang")
  }

  /** X196: source language-mix divergence — Jensen-Shannon divergence
    * of each source's language distribution from the corpus mix, the
    * "which feed drifted" number a multi-source ingest monitors (JSD
    * over KL because it is symmetric, bounded by ln 2, and defined
    * when a source is missing a language entirely — exactly the drift
    * case). Zero-count cells are materialized via the source×language
    * grid so the q-side mass of an ABSENT language still contributes
    * (p=0 ⇒ m=q/2 ⇒ the q·ln 2 term — dropping it understates drift).
    *
    * Float discipline: p, q, m are fixed IEEE expressions over exact
    * integer counts; each of the ≤|langs| KL terms is 6dp-rounded into
    * DECIMAL so the per-source sums are exact and order-free (X163
    * rule); ln parity is platform-proven. Verdict by plain comparison
    * on the rounded total.
    *
    * Scale shape: the corpus collapses to (source, lang) counts in one
    * map-combinable pass; the grid is sources × languages (catalog
    * scale), built against the broadcast language margin; everything
    * after is constant-sized.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
    val srcTot = cells.groupBy("source").agg(sum("cnt").as("src_n"))
    val langTot = cells.groupBy("lang").agg(sum("cnt").as("lang_n"))
    val corpus = cells.agg(sum("cnt").as("corpus_n"))
    val grid = srcTot.crossJoin(broadcast(langTot))
      .join(cells, Seq("source", "lang"), "left")
      .crossJoin(broadcast(corpus))
      .withColumn("p", coalesce(col("cnt"), lit(0L)).cast("double") /
        col("src_n"))
      .withColumn("q", col("lang_n").cast("double") / col("corpus_n"))
      .withColumn("m", (col("p") + col("q")) / 2)
      // the 0.5 JSD factor is folded INTO each 6dp term: halving a
      // double is exact, so the rounded terms stay cross-engine
      // identical, and the divergence is then a pure decimal SUM — a
      // trailing /2 once landed the total exactly on a .0000005
      // boundary where the engines' double rounding disagrees
      // (observed at sf0.01)
      .withColumn("t1", when(col("p") > 0,
        round(lit(0.5) * (col("p") * log(col("p") / col("m"))), 6).cast(D6))
        .otherwise(lit(0).cast(D6)))
      .withColumn("t2",
        round(lit(0.5) * (col("q") * log(col("q") / col("m"))), 6).cast(D6))
    grid.groupBy("source")
      .agg(max("src_n").as("n_docs"),
        sum(col("t1") + col("t2")).as("kl_sum"))
      .select(col("source"), col("n_docs"),
        col("kl_sum").cast("double").as("jsd_nats"),
        (col("kl_sum").cast("double") > 0.05).as("drifted"))
      .orderBy("source")
  }

  /** X199: composite curation gate — the single keep/drop score a
    * pipeline actually ships after computing its individual signals:
    * a fixed-weight blend of the X4 quality score (length × lexical
    * diversity), the X14 bigram-repetition complement, and the X158
    * polysyllabic share (capped — a proxy for "real prose"), each
    * relation SHARED VERBATIM with its standalone entry (the
    * X179/X182 rule: the gate and its diagnostics cannot drift), plus
    * the X14 flag as a hard veto. Weights are fixed literals; the
    * three weighted terms are 6dp-rounded into DECIMAL so the blend
    * is an exact 3-term sum (X163), and the verdict compares the
    * rounded composite.
    *
    * Scale shape: three doc-keyed narrow relations, joined on doc_id
    * (one shuffle each at most — at 100 TB all three derive from the
    * same scan and co-partition on doc_id); no new corpus pass.
    */
  def compositeGate(spark: SparkSession, dir: String): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val q = quality(spark, dir).select("doc_id", "quality_score")
    val r = repetition(spark, dir).select(col("doc_id"), col("rep2"),
      col("flagged"))
    val l = lexicalComplexity(spark, dir).select("doc_id", "poly_ratio")
    q.join(r, Seq("doc_id"), "left")
      .join(l, Seq("doc_id"), "left")
      .withColumn("q_term", round(lit(0.5) * col("quality_score"), 6).cast(D6))
      .withColumn("r_term", round(lit(0.3) *
        (lit(1.0) - coalesce(col("rep2"), lit(0.0))), 6).cast(D6))
      .withColumn("l_term", round(lit(0.2) *
        least(coalesce(col("poly_ratio"), lit(0.0)) * 5.0, lit(1.0)), 6)
        .cast(D6))
      .withColumn("composite",
        (col("q_term") + col("r_term") + col("l_term")).cast("double"))
      .withColumn("keep",
        col("composite") >= 0.5 && !coalesce(col("flagged"), lit(false)))
      .select("doc_id", "quality_score", "rep2", "poly_ratio",
        "composite", "keep")
      .orderBy("doc_id")
  }

  /** X218: FORCAST readability grade — the readability formula built
    * for NON-PROSE text (Caylor & Sticht 1973: technical forms and
    * manuals), which is exactly what sentence-free corpus fragments
    * are: grade = 20 − (monosyllabic words per 150 words)/10, no
    * sentence count required (Flesch-family formulas divide by
    * sentences, which a crawl fragment may not have). Syllables are
    * the standard vowel-group proxy: a word is monosyllabic iff it
    * contains exactly ONE maximal [aeiou]+ run (split on the run
    * yields exactly 2 fields, incl. boundary empties — stated
    * identically in both engines).
    *
    * Scale shape: pure narrow per-row array expressions off one scan —
    * no shuffle at all; the grade lands beside the X4 quality signals
    * in a curation gate.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"),
        size(col("ws")).cast("long").as("n_words"),
        expr("size(filter(ws, w -> size(split(w, '[aeiou]+')) = 2))")
          .cast("long").as("n_mono"))
      .withColumn("forcast_grade",
        round(lit(20.0) - (col("n_mono").cast("double") * 150.0 /
          col("n_words")) / 10.0, 6))
      .orderBy("doc_id")

  /** X221: temperature-scaled language mixture — the multilingual
    * sampling weights every LLM data recipe publishes (p_i^α
    * re-normalized, α = 0.7 the mT5/XLM-R convention): raises
    * low-resource language shares, damps the head. w_raw = exp(α·ln p)
    * (the established ln/exp parity surface — `pow` is not cross-engine
    * ulp-stable); the normalizer is an ORDERED running sum over the
    * lang-keyed rows (the TWAP/entropy float rule — never an unordered
    * float aggregate), read back via max_by. Effective epochs per
    * language = w_i · T / tokens_i — the number that says how many
    * times a low-resource corpus repeats under the temperature mix.
    *
    * Scale shape: the corpus collapses to one per-lang token count
    * (map-combinable); everything after is catalog-sized (5 rows) —
    * the 1-row total broadcast and the 5-row ordered window are both
    * declared in the plan-hygiene allowlists.
    */
  def temperatureMix(spark: SparkSession, dir: String,
                     alpha: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as("tokens"), count(lit(1)).as("n_docs"))
    val total = perLang.agg(sum("tokens").as("total_tokens"))
    val ordered = Window.orderBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perLang.crossJoin(broadcast(total))
      .withColumn("p", col("tokens").cast("double") / col("total_tokens"))
      .withColumn("w_raw", exp(lit(alpha) * log(col("p"))))
      .withColumn("cum_w", sum("w_raw").over(ordered))
    // the normalizer = the FINAL ordered cumulative (max-lang row) —
    // an order-free max_by aggregate, never an unordered float sum
    val norm = cum.agg(max_by(col("cum_w"), col("lang")).as("norm"))
    cum.crossJoin(broadcast(norm))
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("p"), 6).as("p_raw"),
        round(col("w_raw") / col("norm"), 6).as("p_temp"),
        round((col("w_raw") / col("norm")) * col("total_tokens") /
          col("tokens"), 6).as("effective_epochs"))
      .orderBy("lang")
  }

  /** X242: k-fold assignment balance audit — the eval-infrastructure
    * twin of X160's leakage audit: folds come from the SAME md5 bucket
    * rule (so the two audits describe one split), and this one checks
    * what leakage can't see — whether each fold is a faithful
    * miniature of the corpus. Per fold: doc/char counts, the expected
    * 1/k shares, and the fold's max absolute source-share deviation
    * from the corpus source mix (the stratification-failure number: a
    * fold whose source mix drifts makes per-fold eval scores
    * incomparable). Deviations are per-(fold, source) single divisions
    * 6dp-rounded into DECIMAL, so the per-fold max is exact and
    * order-free.
    *
    * Scale shape: fold assignment is pure per-row md5 arithmetic (no
    * join, no shuffle before the aggregate); everything after the one
    * (fold, source) count pass is k·|sources|-sized. The corpus mix is
    * a broadcast |sources|-row relation.
    */
  def kfoldBalance(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % k).as("fold"))
    val cell = docs.groupBy("fold", "source")
      .agg(count(lit(1)).as("n_fs"), sum("n_chars").as("chars_fs"))
    val perFold = cell.groupBy("fold")
      .agg(sum("n_fs").as("n_docs"), sum("chars_fs").as("n_chars"))
    val perSource = cell.groupBy("source").agg(sum("n_fs").as("n_s"))
    val tot = perFold.agg(sum("n_docs").as("n"))
    val dev = cell
      .join(perFold.select(col("fold"), col("n_docs")), Seq("fold"))
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("fold"),
        abs(round(col("n_fs").cast("double") / col("n_docs"), 6).cast(D6) -
          round(col("n_s").cast("double") / col("n"), 6).cast(D6))
          .as("adev"))
      .groupBy("fold").agg(max("adev").as("max_source_dev"))
    perFold.join(dev, Seq("fold"))
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("n_chars"),
        round(col("n_docs").cast("double") / col("n"), 6).as("doc_share"),
        col("max_source_dev").cast("double").as("max_source_dev"))
      .orderBy("fold")
  }

  /** X260: UniMax budget allocation (Chung et al. 2023) — the published
    * language-sampling allocator that replaces temperature heuristics:
    * spread the training-token budget AS UNIFORMLY AS POSSIBLE across
    * sources subject to a per-source epoch cap (capacity = `epochCap` ×
    * available tokens), i.e. waterfilling: quota_s = min(capacity_s, L)
    * with the level L solving Σ quota = B. The fill level comes from
    * the sorted-capacity prefix identity (k = #capped sources,
    * L = (B − Σ_{i≤k} cap_i)/(n−k), valid where cap_k ≤ L < cap_{k+1})
    * — closed-form, no iteration. All arithmetic INTEGER: L floors, and
    * the ≤(n−k−1)-token remainder goes to the lexicographically first
    * uncapped sources one token each, so Σ quota = B EXACTLY whenever
    * B < Σ capacity, and the whole plan is reproducible. When the
    * budget meets or exceeds total capacity the closed form SATURATES:
    * every source caps (k = n, level = rem = 0) and Σ quota =
    * Σ capacity < B — i.e. the allocator returns min(B, Σ capacity)
    * total tokens, the only sound answer when the ask exceeds what the
    * epoch cap permits. Budget B = `budgetNum/budgetDen` × the corpus
    * total (stated; the default 1.5× sits well under the 4× cap).
    *
    * Scale shape: one per-source token count (map-combinable);
    * everything after is |sources|-sized (ordered prefix window over
    * the ≤catalog-row capacity table — allowlisted; 1-row broadcasts).
    */
  def unimaxAlloc(spark: SparkSession, dir: String, epochCap: Int = 4,
                  budgetNum: Int = 3, budgetDen: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("available"))
      .withColumn("capacity", col("available") * epochCap)
    val tot = perSource.agg(sum("available").as("tot"),
        count(lit(1)).as("n"))
      .select(expr(s"(tot * $budgetNum) div $budgetDen").as("budget"),
        col("n"))
    val byCap = Window.orderBy("capacity", "source")
    val cum = byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perSource.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(byCap).cast("long"))
      .withColumn("cum_cap", sum("capacity").over(cum))
    // the level bracket: after capping the rk smallest capacities, the
    // floor level for the rest; valid iff this row is the LAST capped
    // one (its own capacity fits under the level computed without it)
    val k = ranked
      .filter(col("capacity") * (col("n") - col("rk") + 1) +
        (col("cum_cap") - col("capacity")) <= col("budget"))
      .agg(coalesce(max("rk"), lit(0L)).as("k"),
        coalesce(max(col("cum_cap")), lit(0L)).as("capped_sum"))
    val level = k.crossJoin(broadcast(tot))
      .select(col("k"), col("capped_sum"),
        when(col("n") > col("k"),
          expr("(budget - capped_sum) div (n - k)")).otherwise(lit(0L))
          .as("level"),
        when(col("n") > col("k"),
          expr("(budget - capped_sum) % (n - k)")).otherwise(lit(0L))
          .as("rem"))
    ranked.crossJoin(broadcast(level))
      .withColumn("capped", col("rk") <= col("k"))
      .withColumn("urk",
        row_number().over(Window.partitionBy("capped").orderBy("source"))
          .cast("long"))
      .select(col("source"), col("available"), col("capacity"),
        (when(col("capped"), col("capacity")).otherwise(col("level")) +
          when(!col("capped") && col("urk") <= col("rem"), 1L)
            .otherwise(0L)).as("quota"),
        col("capped"))
      .withColumn("epochs",
        round(col("quota").cast("double") / col("available"), 6))
      .orderBy("source")
  }

  /** X243: reliability diagram + expected calibration error of the
    * cheap quality heuristic against the LM signal — does X4's
    * closed-form `quality_score` actually predict what the expensive
    * X153 perplexity model measures? Docs are binned by score decile;
    * each bin reports its mean score ("confidence") and the share of
    * docs whose trigram bits/token is at or below the corpus median
    * ("goodness" under the LM lens); ECE = Σ (n_b/N)·|gap| is the
    * single scalar a filtering pipeline tracks before trusting the
    * cheap score as a proxy. Docs with < 3 alphabetic tokens carry no
    * perplexity and are excluded by the inner join (stated).
    *
    * Exactness: scores and per-bin gaps are 6dp DECIMAL (exact sums);
    * the median is the X130-style VALUE-HISTOGRAM discrete median
    * (smallest bits value whose cumulative count reaches ⌈n/2⌉ —
    * never a row-level global sort), so every cell is deterministic.
    *
    * Scale shape: two corpus passes that already exist elsewhere
    * (quality = narrow per-row, perplexity = the X153 join tree), one
    * doc-keyed equi-join, a 10-row bin aggregate, and 1-row
    * broadcasts; the median window iterates distinct 6dp bits VALUES
    * (domain-bounded), not rows.
    */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val score = quality(spark, dir).select(col("doc_id"), col("quality_score"))
    val bpt = LangModel.perplexity3(spark, dir)
      .select(col("doc_id"), col("bits_per_token"))
    val vc = bpt.groupBy("bits_per_token").agg(count(lit(1)).as("cnt"))
    val cum = Window.orderBy("bits_per_token")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = vc
      .withColumn("cum", sum("cnt").over(cum))
      .crossJoin(broadcast(bpt.agg(count(lit(1)).as("n"))))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min("bits_per_token").as("med_bpt"))
    val joined = score.join(bpt, Seq("doc_id"))
      .crossJoin(broadcast(med))
      .select(
        least(floor(col("quality_score") * 10), lit(9L)).as("bin"),
        col("quality_score").cast(D6).as("conf"),
        when(col("bits_per_token") <= col("med_bpt"), 1L).otherwise(0L)
          .as("good"))
    val bins = joined.groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("conf").as("conf_sum"),
        sum("good").as("n_good"))
      .select(col("bin"), col("n_docs"),
        round(col("conf_sum").cast("double") / col("n_docs"), 6)
          .as("avg_score"),
        round(col("n_good").cast("double") / col("n_docs"), 6)
          .as("good_rate"))
      .withColumn("gap",
        abs(col("avg_score").cast(D6) - col("good_rate").cast(D6)))
    val ece = bins
      .select((col("gap") * col("n_docs")).as("w"), col("n_docs"))
      .agg(sum("w").as("wsum"), sum("n_docs").as("n"))
      .select(round(col("wsum").cast("double") / col("n"), 6).as("ece"))
    bins.crossJoin(broadcast(ece))
      .select(col("bin"), col("n_docs"), col("avg_score"), col("good_rate"),
        col("gap").cast("double").as("gap"), col("ece"))
      .orderBy("bin")
  }

  /** X269: RAG chunking — fixed token-budget sliding chunks with
    * overlap, the segmentation pass every retrieval corpus build runs
    * before embedding. Whitespace tokens (position = raw split index —
    * chunking must preserve the document's surface form, so no
    * lowercasing/alpha-filter here); chunk k covers token positions
    * [k·stride, min(k·stride + size, n)) and the chunk count is the
    * closed form 1 + ⌈max(n − size, 0) / stride⌉ — the LAST chunk is
    * the first one whose window reaches the end of the document, so no
    * emitted chunk is a strict subset of its predecessor and every
    * token is covered (both laws are spec-pinned).
    *
    * Scale shape: one narrow pass — per-doc integer arithmetic, a
    * bounded `sequence` explode (≤ n/stride chunks per doc), two
    * `element_at` probes for the boundary tokens, no shuffle at all
    * until the final order. At 100 TB this is the map stage in front
    * of the embedding UDF; nothing here is corpus-sized.
    */
  def chunkOverlap(spark: SparkSession, dir: String,
                   chunkSize: Int = 24, stride: Int = 16): DataFrame = {
    require(stride > 0 && chunkSize > stride, "size must exceed stride")
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L),
          expr(s"(greatest(n - $chunkSize, 0L) + ${stride - 1}) div $stride"))))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_pos"),
        least(col("chunk_id") * stride + chunkSize, col("n")).as("end_pos"),
        col("ws"), col("n"))
      .select(col("doc_id"), col("chunk_id"), col("start_pos"),
        col("end_pos"), (col("end_pos") - col("start_pos") + 1).as("n_toks"),
        element_at(col("ws"), col("start_pos").cast("int")).as("first_tok"),
        element_at(col("ws"), col("end_pos").cast("int")).as("last_tok"))
      .orderBy("doc_id", "chunk_id")
  }

  /** X283: gate ablation — the filter-attribution table every curation
    * pipeline publishes beside its composite gate (X98): for each named
    * criterion, how many docs fail it, how many fail it UNIQUELY
    * (pass all other criteria — the docs that filter alone removes),
    * and the unique share of its failures; plus the ANY row (the gate's
    * total removal, with `n_unique_fail` = docs failing exactly one
    * criterion). Unique-fail is the number that tells a pipeline owner
    * which filter to tune: a criterion with many failures but zero
    * unique failures is redundant.
    *
    * Criteria (thresholds sit inside the fixture's signal ranges so the
    * table is non-degenerate): quality `score < 0.2`, repetition
    * `flagged`, lexical `poly_ratio < 0.02` (absent → 0 — stated), and
    * length `n_chars < 150`.
    *
    * Scale shape: the three signal passes already exist (narrow / one
    * aggregate each); two doc-keyed joins; per-doc booleans explode to
    * a fixed 5-row-per-doc attribution stream; one 5-row aggregate.
    */
  def gateAblation(spark: SparkSession, dir: String): DataFrame = {
    val q = quality(spark, dir).select(col("doc_id"),
      col("quality_score"), col("n_chars"))
    val r = repetition(spark, dir).select(col("doc_id"), col("flagged"))
    val l = lexicalComplexity(spark, dir)
      .select(col("doc_id"), col("poly_ratio"))
    val flags = q.join(r, Seq("doc_id"), "left")
      .join(l, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("quality_score") < 0.2).as("f_q"),
        coalesce(col("flagged"), lit(false)).as("f_rep"),
        (coalesce(col("poly_ratio"), lit(0.0)) < 0.02).as("f_lex"),
        (col("n_chars") < 150).as("f_len"))
      .withColumn("n_fails",
        col("f_q").cast("long") + col("f_rep").cast("long") +
          col("f_lex").cast("long") + col("f_len").cast("long"))
    val rows = flags.select(col("n_fails"), explode(array(
      struct(lit("1_quality").as("criterion"), col("f_q").as("fail"),
        (col("f_q") && col("n_fails") === 1).as("uniq")),
      struct(lit("2_repetition").as("criterion"), col("f_rep").as("fail"),
        (col("f_rep") && col("n_fails") === 1).as("uniq")),
      struct(lit("3_lexical").as("criterion"), col("f_lex").as("fail"),
        (col("f_lex") && col("n_fails") === 1).as("uniq")),
      struct(lit("4_length").as("criterion"), col("f_len").as("fail"),
        (col("f_len") && col("n_fails") === 1).as("uniq")),
      struct(lit("5_any").as("criterion"), (col("n_fails") > 0).as("fail"),
        (col("n_fails") === 1).as("uniq")))).as("a"))
    rows.groupBy(col("a.criterion").as("criterion"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("a.fail").cast("long")).as("n_fail"),
        sum(col("a.uniq").cast("long")).as("n_unique_fail"))
      .select(col("criterion"), col("n_docs"), col("n_fail"),
        col("n_unique_fail"),
        when(col("n_fail") > 0,
          round(col("n_unique_fail").cast("double") / col("n_fail"), 6))
          .as("unique_share"))
      .orderBy("criterion")
  }

  /** X276: MATTR — moving-average type-token ratio (Covington &
    * McFall 2010), the windowed lexical-diversity measure that, unlike
    * plain TTR (X241's `ttr`), does not shrink with document length.
    * Naively this is a distinct-count per sliding window (O(n·W) state
    * per doc); here it is the exact closed form off the PREVIOUS-
    * OCCURRENCE index: token occurrence p (1-based, alphabetic tokens
    * renumbered contiguously) with previous same-token position prev_p
    * is distinct in window [s, s+W) iff prev_p < s ≤ p, so
    * Σ_windows distinct(window) = Σ_p |[max(p−W+1, prev_p+1, 1),
    * min(p, n−W+1)]| — one lag window per (doc, token), one integer
    * expression per occurrence, one per-doc sum. MATTR = that sum /
    * (W · #windows); docs shorter than W carry no window and are
    * excluded (stated).
    *
    * Scale shape: tokenize (narrow), one (doc_id, tok)-keyed lag
    * window, one doc-keyed aggregate — two shuffles on high-cardinality
    * keys, no per-window state, no quadratic blow-up. The spec pins the
    * closed form against brute-force per-window distinct counts.
    */
  def mattr(spark: SparkSession, dir: String, w: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val renum = Window.partitionBy("doc_id").orderBy("rp")
    val prevW = Window.partitionBy("doc_id", "tok").orderBy("p")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")))
      .withColumnRenamed("col", "tok").withColumnRenamed("pos", "rp")
      .filter(col("tok") =!= "")
      .withColumn("p", row_number().over(renum).cast("long"))
    val contrib = toks
      .withColumn("prev", coalesce(lag("p", 1).over(prevW), lit(0L)))
      .withColumn("n", max("p").over(Window.partitionBy("doc_id")))
      .filter(col("n") >= w)
      .select(col("doc_id"), col("n"),
        greatest(least(col("p"), col("n") - (w - 1)) -
          greatest(col("p") - (w - 1), col("prev") + 1, lit(1L)) + 1,
          lit(0L)).as("c"))
    contrib.groupBy("doc_id")
      .agg(max("n").as("n_toks"), sum("c").as("sum_distinct"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - (w - 1)).as("n_windows"), col("sum_distinct"),
        round(col("sum_distinct").cast("double") /
          (lit(w) * (col("n_toks") - (w - 1))), 6).as("mattr"))
      .orderBy("doc_id")
  }
}
