package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftSession, Memo}
import graft.tables.Tables

/** X1/X2 — document deduplication for large-scale training-data pipelines:
  * exact (content hash), MinHash+LSH banding, SimHash, and n-gram Jaccard
  * verification.
  *
  * All operators follow the scalable shape: shingle/token explosion ->
  * hash -> band/bucket -> *bucket-local* pair join. Nothing ever forms the
  * full O(n²) pair space; candidate pairs only materialize inside a band
  * bucket (MinHash), a bit-prefix bucket (SimHash) or a prefix-filtered
  * shared-shingle posting (Jaccard). That is exactly the structure that
  * survives 100 TB: every stage is a hash shuffle on a well-distributed
  * key, and AQE splits any hot shingle/bucket.
  *
  * Hashes are md5-derived (deterministic, engine-portable) rather than
  * Murmur3 `hash()` so the DuckDB oracle can reproduce them bit-for-bit.
  */
object TextDedup {

  // ------------------------------------------------------ shared relations

  // The shared relations below are [[graft.Memo]]s: in one harness run
  // the per-doc shingle-set table feeds MinHash banding, Jaccard
  // verification, the ml LSH twin, fingerprinting and the curation
  // pipeline, and recomputing the explode+aggregate DAG per consumer
  // would multiply its shuffle by the consumer count. At production
  // scale it is the same call a curation run makes when it materializes
  // the shingle table once per corpus snapshot.

  /** Run independent tasks on a small thread pool and wait; the first
    * failure propagates. Spark schedules concurrent jobs FIFO, so later
    * tasks back-fill executor slots freed by earlier tasks' straggler
    * tails (guide §2.6) — 2–4 in flight is enough.
    */
  private[graft] def runPooled(tasks: Seq[() => Unit], threads: Int = 4): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      })).foreach(_.get())
    } finally pool.shutdown()
  }

  /** The default Jaccard threshold of [[jaccardPairs]]. */
  val DefaultJaccardThreshold = 0.6

  /** Release every memoized relation of this application — a long-lived
    * service reusing this module calls it between corpus snapshots.
    */
  def clearCaches(spark: SparkSession): Unit = Memo.clear(spark)

  /** THE shared dedup materialization: one row per document with its
    * sorted distinct shingle-set array (doc_id, shs, n).
    *
    * Everything downstream — MinHash signatures, LSH bands, document
    * fingerprints, Jaccard verification — is a *narrow* array expression
    * over this table (zero additional shuffles), so the whole dedup family
    * costs one explode+aggregate shuffle per corpus snapshot. At 100 TB
    * this is the bucketed-by-doc_id parquet table a curation run writes
    * once; per-row arrays stay bounded by document length, never by corpus
    * size.
    */
  /** The per-doc set table from an arbitrary documents relation: a doc's
    * shingle set is a pure function of its own text, so this is a narrow
    * per-row map — no explode/groupBy shuffle at all (the size>=3 filter
    * keeps row presence identical to the long form: docs with no shingle
    * emit no row).
    */
  def docSetsOf(docs: DataFrame): DataFrame =
    // r15 (guide §4 per-task work): the tokenization is HOISTED into its
    // own projection — Catalyst does not hoist loop-invariant
    // subexpressions out of higher-order-function lambdas, so the former
    // spelling re-ran split(text) for EVERY shingle slice (O(words²)
    // per doc; the set build measured 1.5 → 0.45 s at sf0.1, and this
    // relation feeds the entire dedup family plus the streaming gates).
    // Same shingles, same rows — a pure evaluation-order change.
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), sort_array(array_distinct(expr(
        "transform(sequence(1, size(w) - 2), " +
          "i -> concat_ws(' ', slice(w, i, 3)))"))).as("shs"))
      .select(col("doc_id"), col("shs"),
        size(col("shs")).cast("long").as("n"))

  def cachedDocSets(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.doc_sets")(
      docSetsOf(Tables.documents(spark, dir)))

  /** Long-form distinct (doc_id, sh) view — a narrow explode off the
    * cached set table (already distinct; no shuffle).
    */
  def cachedShingles(spark: SparkSession, dir: String): DataFrame =
    cachedDocSets(spark, dir)
      .select(col("doc_id"), explode(col("shs")).as("sh"))

  /** (doc_id, s0..s{numPerms-1}) from a (doc_id, shs) set relation:
    * sig_j = min over shingles of md5("j|" || shingle), all slots from
    * one narrow [[graft.functions.MinHashSigs]] pass per row — no
    * shuffle.
    */
  private[graft] def sigWide(sets: DataFrame, numPerms: Int): DataFrame = {
    graft.functions.MinHashSigs.register(sets.sparkSession)
    sets.select(col("doc_id"),
        graft.functions.MinHashSigs.sigs(col("shs"), numPerms).as("sig"))
      .select(col("doc_id") +:
        (0 until numPerms).map(j => col("sig").getItem(j).as(s"s$j")): _*)
  }

  /** Wide MinHash signature table (doc_id, s0..s7), derived narrowly from
    * [[cachedDocSets]].
    */
  def cachedSigWide(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.sig_wide")(sigWide(cachedDocSets(spark, dir), 8))

  /** The X2 banding as a standalone per-row relation: (doc_id, b,
    * band_hash) for the deployed 4-band × 2-row layout over the 8-hash
    * signature — every transform is a NARROW expression (shingle set,
    * signature mins, band md5s, stack), so the same column graph runs
    * unchanged over a STREAMING documents relation; the streaming
    * near-dup gate ([[graft.streaming.EventStream.streamNearDupGate]])
    * consumes it verbatim, which is what pins its batch-replay oracle
    * to the X2 candidate relation.
    */
  def bandHashesOf(docs: DataFrame): DataFrame = {
    val wide = sigWide(docSetsOf(docs), 8)
    val bandCols = (0 until 4).map(b =>
      md5(concat(col(s"s${2 * b}"), lit("|"), col(s"s${2 * b + 1}")))
        .as(s"bh$b"))
    val stackArgs = (0 until 4).map(b => s"$b, bh$b").mkString(", ")
    wide.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        expr(s"stack(4, $stackArgs) AS (b, band_hash)"))
  }

  /** Shared banded-LSH candidate pairs with their signature-agreement
    * estimate (doc_a, doc_b, est_sim) — unordered; consumers sort.
    *
    * Bands are md5(s_{2b} || '|' || s_{2b+1}) computed row-wise from the
    * wide signature table; the bucket join on (b, band_hash) and the
    * candidate distinct are the only shuffles. Signature agreement is an
    * 8-way column comparison after joining the wide table back on each
    * side — no per-permutation row explosion anywhere.
    */
  def cachedMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.minhash_pairs")(
      minhashPairsOf(cachedSigWide(spark, dir)))

  /** The build of [[cachedMinhashPairs]] over a wide signature table. */
  private[graft] def minhashPairsOf(wide: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      md5(concat(col(s"s${2 * b}"), lit("|"), col(s"s${2 * b + 1}")))
        .as(s"bh$b"))
    val stackArgs = (0 until 4).map(b => s"$b, bh$b").mkString(", ")
    val bands = wide.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        expr(s"stack(4, $stackArgs) AS (b, band_hash)"))
    val a = bands.select(col("doc_id").as("doc_a"), col("b"), col("band_hash"))
    val b = bands.select(col("doc_id").as("doc_b"), col("b"), col("band_hash"))
    val cand = a.join(b, Seq("b", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val wa = wide.select(
      col("doc_id").as("doc_a") +: (0 until 8).map(j => col(s"s$j").as(s"a$j")): _*)
    val wb = wide.select(
      col("doc_id").as("doc_b") +: (0 until 8).map(j => col(s"s$j").as(s"b$j")): _*)
    val agree = (0 until 8)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(wa, Seq("doc_a")).join(wb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / 8).as("est_sim"))
  }

  // ------------------------------------------------------------- operators

  /** Distinct word n-gram shingles per document. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(w, i, $n)))")).as("sh"))
      .distinct()

  /** X1 — exact dedup by content hash; deterministic survivor = min doc_id
    * (DW.js:312-348's "first wins" restated set-wise).
    */
  def exactOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOf(Tables.documents(spark, dir))

  /** MinHash signatures in long form (doc_id, j, sig), j = 0..numPerms-1:
    * sig_j = min over shingles of md5(j || shingle). A lexicographic min
    * over an md5 image is a valid min-wise permutation approximation and
    * is reproducible in any engine. Generic entry point over an arbitrary
    * document relation; the harness path uses the cached array-typed
    * tables above.
    */
  def minhashSignatures(docs: DataFrame, numPerms: Int = 8): DataFrame = {
    val stackArgs = (0 until numPerms).map(j => s"$j, s$j").mkString(", ")
    sigWide(docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        array_distinct(expr("transform(sequence(1, size(w) - 2), " +
          "i -> concat_ws(' ', slice(w, i, 3)))")).as("shs")), numPerms)
      .select(col("doc_id"),
        expr(s"stack($numPerms, $stackArgs) AS (j, sig)"))
  }

  /** X2 — MinHash LSH near-dup candidate pairs scored by signature
    * agreement (see [[cachedMinhashPairs]] for the plan shape).
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    cachedMinhashPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** SimHash: 32-bit signature from token md5s — bit i is the sign of the
    * token-vote sum where a token votes +1 if hex digit i of its md5 has
    * its high bit set. Surfaced as a '0'/'1' string for portability.
    */
  def simhash(docs: DataFrame): DataFrame = {
    // md5 computed once per token; the 32 bit-votes are 32 aggregate
    // expressions over it (single shuffle on doc_id, partial-agg friendly —
    // not a ×32 row explosion). A hex digit's high bit is set iff the
    // char is >= '8' in ASCII ('8','9' < 'a'..'f'), so each vote is one
    // string comparison, not an 8-way IN.
    val voteCols = (1 to 32).map(i =>
      when(sum(when(substring(col("h"), i, 1) >= "8", 1)
        .otherwise(-1)) >= 0, "1").otherwise("0").as(s"b$i"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        concat((1 to 32).map(i => col(s"b$i")): _*).as("simhash"))
  }

  /** Memoized (doc_id, simhash bitstring, sim int64) — shared by the
    * signature query and the banded pair join.
    */
  def cachedSimhash(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.simhash")(
      simhash(Tables.documents(spark, dir))
        .select(col("doc_id"), col("simhash"),
          conv(col("simhash"), 2, 10).cast("long").as("sim")))

  def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    cachedSimhash(spark, dir).select("doc_id", "simhash").orderBy("doc_id")

  /** SimHash near-dup pairs: band the 32-bit signature into 2×16-bit
    * bucket keys (any pair within Hamming distance 1 differs in at most
    * one band, so it *must* collide on the other — banding is lossless
    * for `maxHamming` < number of bands), then verify candidates with
    * `bit_count(xor)` — integer built-ins, codegen'd in Spark and
    * reproducible in the oracle. Wide 16-bit bands keep buckets selective
    * even on a shared-vocabulary corpus where narrow bands go hot; at a
    * larger corpus the signature widens (64/128-bit) before the bands do.
    */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 1): DataFrame =
    simhashPairsOf(cachedSimhash(spark, dir).select("doc_id", "sim"),
      maxHamming)

  /** The banded pair join over an arbitrary (doc_id, sim) relation
    * (exposed for the band-losslessness property test).
    */
  def simhashPairsOf(ints: DataFrame, maxHamming: Int = 1): DataFrame = {
    val bands = ints.select(col("doc_id"), col("sim"),
      explode(array(
        struct(lit(0).as("j"),
          col("sim").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(1).as("j"),
          shiftright(col("sim"), 16).bitwiseAND(lit(65535L)).as("bv"))))
        .as("band"))
      .select(col("doc_id"), col("sim"),
        col("band.j").as("j"), col("band.bv").as("bv"))
    val a = bands.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"),
      col("j"), col("bv"))
    val b = bands.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"),
      col("j"), col("bv"))
    a.join(b, Seq("j", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      // verify BEFORE the pair-distinct: hamming is a pure function of
      // the pair and the bit_count is codegen'd row-local work, so
      // filtering first shrinks the distinct's shuffle from every
      // band collision down to the actual near-dup pairs
      .withColumn("hamming",
        expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash — the wider signature for corpora where 32 bits
    * saturate (near-identical docs collapse to hamming 0/1 everywhere):
    * 4 bits from each of the first 16 hex chars of every token md5, one
    * vote per bit. Surfaced as the 64-char bitstring plus hi/lo 32-bit
    * halves — two longs instead of one int64 so neither engine ever
    * builds a sign-overflowing 64-bit value (the oracle reproduces hi/lo
    * with shifted sums).
    */
  def simhash64(docs: DataFrame): DataFrame = {
    // hex-char values v1..v16 computed once per token; the 64 bit-votes
    // are then pure bit-ops over them (same narrow-aggregate shape as the
    // 32-bit form: one shuffle on doc_id, no ×64 row explosion)
    val hexVals = (1 to 16).map(c =>
      conv(substring(col("h"), c, 1), 16, 10).cast("int").as(s"v$c"))
    val voteCols = (1 to 64).map { i =>
      val c = (i - 1) / 4 + 1
      val s = 3 - (i - 1) % 4
      when(sum(when(shiftright(col(s"v$c"), s).bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)) >= 0, "1").otherwise("0").as(s"b$i")
    }
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id") +: hexVals: _*)
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        concat((1 to 64).map(i => col(s"b$i")): _*).as("simhash64"))
  }

  /** Memoized (doc_id, simhash64, hi, lo) — bitstring plus the two
    * 32-bit halves as longs.
    */
  def cachedSimhash64(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.simhash64")(
      simhash64(Tables.documents(spark, dir))
        .select(col("doc_id"), col("simhash64"),
          conv(substring(col("simhash64"), 1, 32), 2, 10).cast("long").as("hi"),
          conv(substring(col("simhash64"), 33, 32), 2, 10).cast("long").as("lo")))

  def simhash64Query(spark: SparkSession, dir: String): DataFrame =
    cachedSimhash64(spark, dir).select("doc_id", "simhash64").orderBy("doc_id")

  /** 64-bit SimHash near-dup pairs: 4×16-bit bands (lossless for Hamming
    * ≤ 3 by pigeonhole — a pair differing in ≤3 bits touches ≤3 bands, so
    * at least one band is identical), verified with
    * `bit_count(xor)` over each half.
    */
  def simhash64Pairs(spark: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame =
    simhash64PairsOf(
      cachedSimhash64(spark, dir).select("doc_id", "hi", "lo"), maxHamming)

  /** The banded pair join over an arbitrary (doc_id, hi, lo) relation
    * (exposed for the band-losslessness property test).
    */
  def simhash64PairsOf(ints: DataFrame, maxHamming: Int = 3): DataFrame = {
    val m16 = lit(65535L)
    val bands = ints.select(col("doc_id"), col("hi"), col("lo"),
      explode(array(
        struct(lit(0).as("j"), col("lo").bitwiseAND(m16).as("bv")),
        struct(lit(1).as("j"),
          shiftright(col("lo"), 16).bitwiseAND(m16).as("bv")),
        struct(lit(2).as("j"), col("hi").bitwiseAND(m16).as("bv")),
        struct(lit(3).as("j"),
          shiftright(col("hi"), 16).bitwiseAND(m16).as("bv")))).as("band"))
      .select(col("doc_id"), col("hi"), col("lo"),
        col("band.j").as("j"), col("band.bv").as("bv"))
    val a = bands.select(col("doc_id").as("doc_a"), col("hi").as("hi_a"),
      col("lo").as("lo_a"), col("j"), col("bv"))
    val b = bands.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"),
      col("lo").as("lo_b"), col("j"), col("bv"))
    a.join(b, Seq("j", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      // verify before the pair-distinct (see simhashPairsOf): the
      // distinct then shuffles only true near-dup pairs, not every
      // band collision
      .withColumn("hamming",
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark-contamination scan — the eval-leakage check every
    * training-data pipeline runs before a model sees the corpus: which
    * training documents share word-3-grams with a held-out benchmark set
    * (here the doc_id % 97 == 0 docs stand in for the benchmark). Scale
    * shape: the benchmark's distinct shingle set is small by construction
    * and broadcasts; the scan is then one broadcast semi-join over the
    * shared shingle relation plus a per-doc aggregate — nothing pairs
    * documents, nothing scales with corpus². Flagged = more than 10% of
    * a doc's shingles appear in the benchmark.
    */
  def contamination(spark: SparkSession, dir: String,
                    flagRatio: Double = 0.10): DataFrame = {
    val sh = cachedShingles(spark, dir)
    val benchSh = sh.filter(col("doc_id") % 97 === 0)
      .select(col("sh").as("bsh")).distinct()
    val hits = sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchSh), col("sh") === col("bsh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    cachedDocSets(spark, dir)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("n").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contam_ratio",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .withColumn("flagged", col("contam_ratio") > flagRatio)
      .orderBy("doc_id")
  }

  /** End-to-end curation: the composed training-data pipeline — quality
    * gate (X4) -> near-dup removal via MinHash candidates (X2, drop the
    * higher doc_id of every confident pair) -> per-language corpus stats.
    * One query a data-curation user actually runs; every stage is the
    * operator implemented above, consumed from the shared persisted
    * relations (no recompute of the shingle/signature DAG). The quality
    * signals are row-local, so they are computed inline rather than
    * re-joined — the only shuffles left are the anti-join and the final
    * per-language aggregate.
    */
  def curationPipeline(spark: SparkSession, dir: String,
                       simThreshold: Double = 0.75): DataFrame = {
    val words = split(col("text"), " ")
    val dropDups = cachedMinhashPairs(spark, dir)
      .filter(col("est_sim") >= simThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct_words"))
      .withColumn("quality_score",
        round(least(col("n_words").cast("double") / 100, lit(1.0)) *
          (col("n_distinct_words").cast("double") / col("n_words")), 6))
      .filter(col("quality_score") >= 0.2 && col("n_words") >= 20)
      .join(dropDups, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("total_words"),
        // scores are exact 6-decimal doubles (post-round): the decimal cast
        // is lossless and makes the sum order-independent
        round(sum(col("quality_score")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 6).as("avg_quality"))
      .orderBy("lang")
  }

  /** X2 via spark.ml — the MinHashLSH estimator pipeline (shingles ->
    * HashingTF sparse vectors -> MinHashLSH -> approxSimilarityJoin).
    * Hash family is Spark-internal (seeded, deterministic) so this entry
    * is rows-only checked rather than DuckDB-oracled; [[minhashPairs]] is
    * the engine-portable twin. This is the path that scales candidate
    * generation with `approxSimilarityJoin`'s internal banding.
    *
    * 2^16 binary features and 4 hash tables: per-table candidate volume
    * halves vs 8 tables while recall for the near-dup band (jaccard>=0.5)
    * stays high — at corpus scale you tune tables against the candidate
    * budget exactly like this.
    */
  def mlMinhashPairs(spark: SparkSession, dir: String,
                     maxDistance: Double = 0.5): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val sh = cachedDocSets(spark, dir).select(col("doc_id"), col("shs"))
    val tf = new HashingTF().setInputCol("shs").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    val feats = tf.transform(sh)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(feats)
    model.approxSimilarityJoin(feats, feats, maxDistance, "dist")
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(lit(1.0) - col("dist"), 6).as("est_jaccard"))
      .filter(col("doc_a") < col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** X1 under skew — the salted two-phase form of [[exact]]: partial
    * aggregation on (md5, salt) spreads a pathological hot hash over
    * `salts` reducers before the final per-md5 combine. Identical output;
    * at 100 TB this (or AQE skew splitting) is what keeps one viral
    * document from stalling a straggler reducer.
    */
  def exactSaltedOf(docs: DataFrame, salts: Int = 8): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"),
        pmod(col("doc_id"), lit(salts)).as("salt"))
      .agg(min("doc_id").as("partial_keep"), count(lit(1)).as("partial_n"))
      .groupBy("content_md5")
      .agg(min("partial_keep").as("keep_doc_id"),
        sum("partial_n").as("n_copies"))
      .orderBy("keep_doc_id")

  def exactSalted(spark: SparkSession, dir: String, salts: Int = 8): DataFrame =
    exactSaltedOf(Tables.documents(spark, dir), salts)

  /** X49: incremental corpus dedup — the recurring-ingest form of exact
    * dedup. A NEW batch (doc_id % 10 == 0, the deterministic fixture
    * split) must be deduplicated against the already-curated corpus
    * (everything else) without reprocessing the corpus: per batch doc,
    * was its content already in the corpus (`dup_in_corpus`), is it a
    * repeat within its own batch (`dup_in_batch`, keep-first), and the
    * resulting admission verdict (`keep`). Content key = the sync
    * fixture's md5 derivation (DataWarehouse.js:97-99's quirk-preserving
    * dup injection), so every branch is populated at every SF.
    *
    * Scale shape — the point of the operator: the corpus side is never
    * re-shuffled per ingest. Its key set is summarized ONCE into a Bloom
    * filter (distributed `stat.bloomFilter` build; the driver holds only
    * the fixed-size bitmap, ~9.6 bits/key at 1% fpp) applied as a
    * codegen'd predicate ([[graft.functions.BloomPrefilter]]) on the
    * batch BEFORE any join: only the fpp-bounded survivor set pays the
    * exact confirm semi-join (no false negatives ⟹ bit-identical to the
    * plain join). Within-batch keep-first is one window over the batch
    * alone. At 100 TB the bloom is built once per cycle and reused for
    * every arriving batch; the confirm join's corpus side is a
    * key-distinct projection that prunes to one column at the scan.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir).select(
      col("doc_id"),
      when(col("doc_id") % 17 === 5,
        md5(concat(lit("dup_"), (col("doc_id") % 4).cast("string"))))
        .otherwise(md5(col("text"))).as("h"))
    val corpusKeys = keyed.filter(col("doc_id") % 10 =!= 0)
      .select("h").distinct()
    val batch = keyed.filter(col("doc_id") % 10 === 0)
    val mightBeDup = graft.functions.BloomPrefilter.prefilter(
      corpusKeys.select(xxhash64(col("h")).as("hk")), "hk",
      expectedKeys = 1L << 16)(xxhash64(col("h")))
    val flagged = batch.withColumn("maybe", mightBeDup)
    // exact confirm ONLY for bloom survivors; pruned rows rejoin with a
    // definitive false (bloom has no false negatives)
    val confirmed = flagged.filter(col("maybe"))
      .join(corpusKeys.withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .withColumn("in_corpus", coalesce(col("in_corpus"), lit(false)))
    val pruned = flagged.filter(!col("maybe"))
      .withColumn("in_corpus", lit(false))
    val w = Window.partitionBy("h")
    confirmed.unionByName(pruned)
      .withColumn("first_id", min("doc_id").over(w))
      .select(col("doc_id"),
        col("in_corpus").as("dup_in_corpus"),
        (col("doc_id") =!= col("first_id")).as("dup_in_batch"),
        (!col("in_corpus") && col("doc_id") === col("first_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** X2 verification — exact n-gram Jaccard via a *prefix-filtered*
    * set-similarity self-join (PPJoin-style).
    *
    * Candidate generation only indexes each document's
    * `n - ceil(t*n) + 1` globally-rarest shingles (ascending document
    * frequency, ties by shingle text): a pair with jaccard >= t shares at
    * least `ceil(t*n)` shingles with each member, so it *must* collide
    * inside both prefixes — the filter is lossless for the threshold.
    * Surviving candidates (plus a `t*na <= nb <= na/t` length filter) are
    * then verified *set-wise* against [[cachedDocSets]]: exact
    * intersection via `array_intersect`, a per-pair O(na+nb) merge with
    * no row re-explosion.
    *
    * This is what bounds the pair space at scale: a stop-word shingle
    * shared by m documents has maximal df, sorts *last* in every document,
    * never enters a prefix, and generates zero candidates — the O(m²)
    * hot-shingle blowup of a naive inverted-index join cannot occur. Work
    * is Σ_sh prefix_postings(sh)², and prefix postings are exactly the
    * rare end of the df distribution.
    */
  /** The df-ranked prefix index for [[jaccardPairs]] — memoized/persisted
    * so the candidate self-join scans it once instead of computing the
    * df-join + window subtree per side.
    */
  private def prefixOf(sets: DataFrame, threshold: Double): DataFrame = {
    // long form with per-doc cardinality carried along (no join needed)
    val sh = sets.select(col("doc_id"), col("n"), explode(col("shs")).as("sh"))
    val sdf = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(sdf, Seq("sh"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))).cast("long"))
      .filter(col("rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("doc_id", "sh", "n")
  }

  private def cachedJaccardPrefix(spark: SparkSession, dir: String,
                                  threshold: Double): DataFrame =
    Memo(spark, dir, s"dedup.jaccard_prefix_$threshold")(
      prefixOf(cachedDocSets(spark, dir), threshold))

  /** The full prefix-filter + set-verify pipeline over an arbitrary doc
    * set relation (exposed for the losslessness property test).
    */
  def jaccardPairsOf(sets: DataFrame, threshold: Double,
                     prefixRel: Option[DataFrame] = None): DataFrame = {
    graft.functions.SortedIntersectSize.register(sets.sparkSession)
    val prefix = prefixRel.getOrElse(prefixOf(sets, threshold))
    // r14 (guide §2.3): the candidate equi-join keys on xxhash64 of the
    // shingle — an 8-byte shuffle/sort key instead of the ~5-word text.
    // Lossless: equal text ⇒ equal hash, so every true candidate still
    // collides; a collision can only ADD candidates and the exact
    // set-verify below rejects them. The hash never reaches the output.
    val a = prefix.select(col("doc_id").as("doc_a"),
      xxhash64(col("sh")).as("hsh"), col("n").as("na"))
    val b = prefix.select(col("doc_id").as("doc_b"),
      xxhash64(col("sh")).as("hsh"), col("n").as("nb"))
    val cand = a.join(b, Seq("hsh"))
      .filter(col("doc_a") < col("doc_b") &&
        col("nb") >= lit(threshold) * col("na") &&
        col("na") >= lit(threshold) * col("nb"))
      .select("doc_a", "doc_b").distinct()
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("shs").as("shs_a"), col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"),
        col("shs").as("shs_b"), col("n").as("nb")), Seq("doc_b"))
      // fused codegen merge over the pre-sorted set arrays — same count
      // as size(array_intersect(...)) without per-pair hashing/allocation
      .withColumn("both",
        graft.functions.SortedIntersectSize.intersectSize(
          col("shs_a"), col("shs_b")))
    val jac = col("both").cast("double") /
      (col("na") + col("nb") - col("both"))
    verified
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def jaccardPairs(spark: SparkSession, dir: String,
                   threshold: Double = DefaultJaccardThreshold): DataFrame =
    // The VERIFIED pair table is memoized, not just its prefix index
    // (r14, guide §2.4): seven consumers (the pair entry itself, the
    // LSH P/R matrix + minhash P/R audit, the cluster-quality audit,
    // the method report, split-leakage and the blocking-quality audit)
    // each re-ran the candidate self-join + set-verify per call —
    // the most expensive dedup stage, multiplied by the consumer
    // count. One build per corpus snapshot is also exactly what the
    // X142 rule states ("at 100 TB you audit the pair TABLE, never
    // re-run the similarity join").
    Memo(spark, dir, s"dedup.jaccard_pairs_$threshold")(
      jaccardPairsOf(cachedDocSets(spark, dir), threshold,
        Some(cachedJaccardPrefix(spark, dir, threshold))))

  /** X123: set-CONTAINMENT similarity join — C(A→B) = |A∩B| / |A| ≥ τ,
    * the ASYMMETRIC near-dup relation Jaccard cannot see: a short
    * document quoted wholesale inside a long one scores J ≈ |A|/|B|
    * (arbitrarily low) but C(A→B) ≈ 1. This is the quote/boilerplate-
    * subsumption detector a curation pipeline runs beside symmetric
    * dedup (drop A when it is τ-contained in a longer B). Output is
    * directional — (a⊂b) and (b⊂a) are separate rows.
    *
    * Prefix filtering survives asymmetry: C ≥ τ needs common ≥
    * ⌈τ·n_a⌉, so if NONE of A's first n_a−⌈τ·n_a⌉+1 df-ranked shingles
    * hit B, the remaining ⌈τ·n_a⌉−1 cannot reach the bound — the SAME
    * prefix relation the Jaccard join memoizes ([[prefixOf]]), probed
    * against the FULL posting list on the B side (B cannot be
    * prefix-pruned: containment puts no upper bound on n_b, only
    * n_b ≥ τ·n_a, which the candidate filter applies). Losslessness is
    * property-tested against the quadratic brute force.
    *
    * Scale shape: candidates = Σ_sh prefix_postings(sh) ×
    * full_postings(sh) — A-side hot shingles never enter a prefix
    * (df-ranked), so the hot-shingle side of every candidate product
    * is the RARE end of the df distribution; verification is the same
    * memoized sorted-array intersect kernel as Jaccard, keyed on the
    * pair.
    */
  def containmentPairsOf(sets: DataFrame, threshold: Double,
                         prefixRel: Option[DataFrame] = None): DataFrame = {
    graft.functions.SortedIntersectSize.register(sets.sparkSession)
    val prefix = prefixRel.getOrElse(prefixOf(sets, threshold))
    // r14: same 8-byte candidate join key as jaccardPairsOf — the
    // B side here is the FULL posting explode (corpus-sized), so the
    // narrower key shrinks the entry's biggest shuffle; the exact
    // containment verify keeps collision-added candidates out.
    val a = prefix.select(col("doc_id").as("doc_a"),
      xxhash64(col("sh")).as("hsh"), col("n").as("na"))
    val b = sets.select(col("doc_id").as("doc_b"),
      explode(col("shs")).as("sh"), col("n").as("nb"))
      .select(col("doc_b"), xxhash64(col("sh")).as("hsh"), col("nb"))
    // r15 (§2.3): the candidate distinct — the entry's widest shuffle
    // after the hash-keyed join — dedups ONE packed long (doc ids are
    // 32-bit-positive in every fixture and the pack is bijective)
    // instead of the (doc_a, doc_b) pair; unpacked right after.
    val cand = a.join(b, Seq("hsh"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("nb") >= lit(threshold) * col("na"))
      .select(shiftleft(col("doc_a"), 32).bitwiseOR(col("doc_b")).as("ab"))
      .distinct()
      .select(shiftright(col("ab"), 32).as("doc_a"),
        col("ab").bitwiseAND(lit(0xffffffffL)).as("doc_b"))
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("shs").as("shs_a"), col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"),
        col("shs").as("shs_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("both",
        graft.functions.SortedIntersectSize.intersectSize(
          col("shs_a"), col("shs_b")))
    val cont = col("both").cast("double") / col("na")
    verified
      .filter(cont >= threshold)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        round(cont, 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame =
    containmentPairsOf(cachedDocSets(spark, dir), threshold,
      Some(cachedJaccardPrefix(spark, dir, threshold)))

  /** The curation decision table: every near-dup method side by side —
    * pairs found and docs that would be dropped (higher doc id of each
    * pair; exact dedup drops non-survivors). Composes the five operators
    * above off their shared cached relations, so the whole report costs
    * five small aggregates. This is the query a curation owner runs before
    * picking thresholds.
    */
  def methodComparison(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.DataFrame
    def stat(method: String, pairs: DataFrame): DataFrame =
      pairs.agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
        .select(lit(method).as("method"), col("n_pairs"), col("n_docs_dropped"))
    val exactPairs = exact(spark, dir).filter(col("n_copies") > 1)
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_copies") - 1).as("n_dropped"))
      .select(lit("exact").as("method"),
        col("n_groups").as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_docs_dropped"))
    exactPairs
      .unionByName(stat("minhash",
        cachedMinhashPairs(spark, dir).filter(col("est_sim") >= 0.75)))
      .unionByName(stat("simhash", simhashPairs(spark, dir)))
      .unionByName(stat("jaccard", jaccardPairs(spark, dir)))
      .unionByName(stat("embed",
        graft.ext.Similarity.embedCosinePairs(spark, dir)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
      .orderBy("method")
  }

  /** Near-dup *clustering* — the step after pair generation in a dedup
    * pipeline: connected components over the thresholded MinHash pair
    * graph, cluster id = min doc_id of the component, the id-holder is
    * the canonical survivor and everything else in the cluster drops.
    *
    * Components come from [[Components.starComponents]]: a pair graph
    * that fits the session's broadcast budget (every fixture scale and
    * the curation chain's) is labeled by an in-memory union-find over
    * one bounded collect; a larger one runs the large-star/small-star loop,
    * O(log n) rounds of node-keyed shuffles even on adversarial
    * long-chain graphs, bounded by `maxRounds`.
    *
    * Memoized: the `dedup_clusters` and `dedup_clusters_star` entries,
    * the X202 soft-dedup weights and the curation reports all read one
    * labeling per corpus snapshot.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
                      minSim: Double = 0.5, maxRounds: Int = 48): DataFrame =
    Memo(spark, dir, s"dedup.clusters:$minSim:$maxRounds")(
      clustersOf(spark, dir, minSim, maxRounds)
    ).orderBy("doc_id") // stored unsorted: joins and counts drop the sort

  /** The build of [[nearDupClusters]]. */
  private[graft] def clustersOf(spark: SparkSession, dir: String,
                                minSim: Double, maxRounds: Int): DataFrame = {
    // looked up in the caller's session, so the pair memo is built the
    // same way whichever consumer asks first (see LoopConfs)
    val pairs = cachedMinhashPairs(spark, dir)
      .filter(col("est_sim") >= minSim).select("doc_a", "doc_b")
    GraftSession.scoped(spark, LoopConfs: _*) { loop =>
      GraftSession.bind(spark, Components.starComponents(
        GraftSession.bind(loop, pairs), maxRounds).labels)
    }.select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        (col("id") === col("comp")).as("is_canonical"))
  }

  /** Confs of the cluster loops, held by their scoped session (confs
    * bind at plan time):
    *  - shuffle partitions sized to the PAIR GRAPH (survivors of banding
    *    + the similarity threshold), orders of magnitude smaller than
    *    the corpus — the same right-sizing lever EventStream applies to
    *    stream-state partitions; at 100 TB the caller sizes it to the
    *    measured pair volume;
    *  - AQE OFF: AQE materializes every exchange as its own job to
    *    re-plan, which on an iterative chain of small bounded shuffles is
    *    pure per-stage scheduling latency. The loop's relations are
    *    pre-partitioned and bounded, so the things AQE buys (coalescing,
    *    skew splits) don't apply inside it.
    * Only the component computation runs here. The shared pair memo is
    * looked up in the caller's session and bound in: built under these
    * confs, its stored leaf would carry this scope's hash partitioning,
    * and the AQE-on plans of its other consumers would stop matching
    * their cached relations against it.
    */
  private val LoopConfs = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "false")

  /** The `dedup_clusters_star` entry: [[nearDupClusters]] under its
    * second name (the two shared one oracle when the first ran min-label
    * propagation); both read the same memo.
    */
  def nearDupClustersStar(spark: SparkSession, dir: String,
                          minSim: Double = 0.5): DataFrame =
    nearDupClusters(spark, dir, minSim)

  /** X129: INCREMENTAL cluster maintenance — yesterday's corpus is
    * already clustered; today's batch must merge in without re-running
    * connected components over the whole pair graph. The classic
    * union-find contraction, relationally: (1) cluster the base pairs
    * (both endpoints below the split id) with star CC; (2) CONTRACT
    * every delta edge through the base labels (an endpoint already
    * labeled is replaced by its cluster id — `coalesce(label, id)`);
    * (3) run star CC on the contracted graph only — its node set is
    * {touched cluster ids} ∪ {new doc ids}, orders of magnitude smaller
    * than the corpus; (4) compose: a base doc's final label is its base
    * cluster's new label (or its old one when the delta never touched
    * that cluster). Min-id labels make the composition exact: min over
    * a merged component of {base-cluster minima ∪ new ids} IS the
    * component's global min, so the output is row-identical to
    * re-clustering from scratch — which is exactly what the oracle
    * states (it shares `dedup_clusters`' full-corpus SQL verbatim).
    *
    * Scale shape: the base pass touches base pairs once (and at 100 TB
    * you don't even run it — yesterday's labels are a table you read);
    * everything per-batch is sized by the DELTA: the contraction is two
    * hash joins of delta edges against the label table (co-partitioned
    * on doc id), and the merge CC iterates over the contracted edge
    * set only. Rounds stay O(log n) via the star machinery with
    * per-round lineage cuts.
    */
  def incrementalClusterMerge(spark: SparkSession, dir: String,
                              minSim: Double = 0.5): DataFrame = {
    val allPairs = cachedMinhashPairs(spark, dir)
      .filter(col("est_sim") >= minSim).select("doc_a", "doc_b")
    GraftSession.scoped(spark, LoopConfs: _*) { loop =>
      val pairs = GraftSession.bind(loop, allPairs)
      // deterministic, data-derived split: docs in the top quarter of
      // the id range are "today's batch" (plan-side broadcast scalar)
      val t = graft.tables.Tables.documents(loop, dir)
        .agg(expr("max(doc_id) * 3 div 4").as("t"))
      val pt = pairs.crossJoin(broadcast(t))
      val basePairs = pt
        .filter(col("doc_a") < col("t") && col("doc_b") < col("t"))
        .select("doc_a", "doc_b")
      val deltaPairs = pt
        .filter(col("doc_a") >= col("t") || col("doc_b") >= col("t"))
        .select("doc_a", "doc_b")
      val base = Components.starComponents(basePairs).labels
      val contracted = deltaPairs
        .join(base.select(col("id").as("doc_a"), col("comp").as("ca")),
          Seq("doc_a"), "left")
        .join(base.select(col("id").as("doc_b"), col("comp").as("cb")),
          Seq("doc_b"), "left")
        .select(coalesce(col("ca"), col("doc_a")).as("u"),
          coalesce(col("cb"), col("doc_b")).as("v"))
      val merged = Components.starComponents(contracted).labels
      val baseFinal = base
        .join(merged.select(col("id").as("comp"), col("comp").as("mcomp")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("mcomp"), col("comp")).as("cluster_id"))
      val deltaNew = merged
        .join(base.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("comp").as("cluster_id"))
      GraftSession.bind(spark, baseFinal.unionByName(deltaNew))
    }.select(col("id").as("doc_id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ duplication coverage / boilerplate

  /** Overlapping 5-word shingle OCCURRENCES per doc in long form
    * (doc_id, pos-ordered sh) — a narrow per-row transform + explode, no
    * aggregation. Distinct from [[cachedShingles]] (3-gram, distinct):
    * coverage counts every occurrence, so repeats within a doc count.
    */
  private def occ5(docs: DataFrame): DataFrame =
    // split hoisted out of the lambda (r15, the docSetsOf fix): Catalyst
    // re-evaluates lambda-embedded subexpressions per element
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 4), " +
          "i -> concat_ws(' ', slice(w, i, 5)))")).as("sh"))

  /** Per-document duplication coverage (the per-doc diagnostic behind
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): the fraction of a doc's overlapping 5-word shingle
    * occurrences whose text recurs in at least one OTHER document.
    * Exact and near duplicates surface with coverage near 1; organic
    * docs sit near 0 — the ranking a curation run uses to pick removal
    * thresholds before committing to a dedup pass.
    *
    * Scale shape: the cross-doc shared-shingle relation (df >= 2) is the
    * small side — duplication is the exception, not the rule — so it
    * broadcasts back onto the occurrence stream as a semi-join (same
    * posture as [[contamination]]); the only wide shuffle is the
    * doc-frequency aggregate itself. At 100 TB both that aggregate and
    * the join key are the shingle text — bucketing the materialized
    * shingle table by `sh` makes the whole family co-located.
    */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    // memoized occurrence relation: the explode feeds both the
    // doc-frequency aggregate and the semi-join probe side — unpersisted
    // the whole shingle expansion would compute twice
    dupCoverageFrom(Tables.documents(spark, dir),
      Memo(spark, dir, "dedup.occ5")(occ5(Tables.documents(spark, dir))))

  def dupCoverageOf(docs: DataFrame): DataFrame =
    dupCoverageFrom(docs, occ5(docs))

  private def dupCoverageFrom(docs: DataFrame, occ: DataFrame): DataFrame = {
    val shared = occ.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("docs"))
      .filter(col("docs") >= 2).select("sh")
    val perDoc = occ.join(broadcast(shared), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 4, lit(0))
          .cast("long").as("n_shingles"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_ratio", when(col("n_shingles") > 0,
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
        .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate removal (the paragraph-dedup stage of
    * CCNet / RefinedWeb, at fixed 5-word-chunk granularity since the
    * fixture corpus has no paragraph marks): a chunk whose exact text
    * appears in >= 2 distinct documents is boilerplate; each doc is
    * rebuilt from its surviving chunks in original order. Exact-dup docs
    * lose every chunk (cleaned_text = ''), which is precisely the
    * removal exact dedup would make — the operators agree by
    * construction.
    *
    * Scale shape: chunking is a narrow per-row transform; the chunk
    * doc-frequency aggregate is the one wide shuffle; the boilerplate
    * set (df >= 2) broadcasts back as an anti-join; reassembly groups by
    * doc_id — at scale that group-by rides the corpus' doc_id bucketing,
    * and per-row state is bounded by document length throughout.
    */
  def stripBoilerplate(spark: SparkSession, dir: String): DataFrame =
    // memoized for the same double-consumer reason as [[dupCoverage]]
    // (df aggregate + anti-join probe + the n_chunks projection)
    stripBoilerplateFrom(
      Memo(spark, dir, "dedup.chunks5")(chunksOf(Tables.documents(spark, dir))))

  def stripBoilerplateOf(docs: DataFrame): DataFrame =
    stripBoilerplateFrom(chunksOf(docs))

  private def chunksOf(docs: DataFrame): DataFrame =
    // split hoisted out of the lambda (r15, the docSetsOf fix)
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), expr(
        "transform(sequence(0, (size(w) + 4) div 5 - 1), " +
          "i -> struct(i AS cidx, concat_ws(' ', slice(w, i * 5 + 1, 5)) AS chunk))")
        .as("cs"))

  private def stripBoilerplateFrom(chunked: DataFrame): DataFrame = {
    val occ = chunked.select(col("doc_id"), explode(col("cs")).as("c"))
      .select(col("doc_id"), col("c.cidx").as("cidx"), col("c.chunk").as("chunk"))
    val boiler = occ.select("doc_id", "chunk").distinct()
      .groupBy("chunk").agg(count(lit(1)).as("docs"))
      .filter(col("docs") >= 2).select("chunk")
    val rebuilt = occ.join(broadcast(boiler), Seq("chunk"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        // array_sort on (cidx, chunk) structs restores chunk order; the
        // collect_list itself is unordered, the sort makes it canonical
        array_join(expr("transform(array_sort(collect_list(struct(cidx, chunk))), x -> x.chunk)"),
          " ").as("cleaned_text"))
    chunked.select(col("doc_id"), size(col("cs")).cast("long").as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** X75: canonical-representative selection (priority keep) — when a
    * blocking key groups candidate duplicates, keep the copy from the
    * most-trusted source (curated wiki beats common crawl in every
    * published curation stack), tie-broken by id. The blocking key here
    * is (lang, 100-char length band); priority is the source's numeric
    * rank. One `row_number <= 1` per block — plans as WindowGroupLimit,
    * the bounded per-group-heap shape that never materializes a
    * full per-block sort; group size rides the same window pass.
    */
  def priorityKeep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 100").as("len_band"),
        expr("CAST(substring(source, 4) AS INT)").as("prio"))
    val blk = Window.partitionBy("lang", "len_band")
    val w = blk.orderBy(col("prio"), col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .withColumn("group_n", count(lit(1)).over(blk))
      .filter(col("rn") === 1)
      .select(col("lang"), col("len_band"), col("doc_id").as("kept_doc_id"),
        col("source").as("kept_source"), col("group_n"))
      .orderBy("lang", "len_band")
  }

  /** X86: n-gram novelty scoring — what fraction of a document's
    * 3-gram shingles FIRST appear in it (first occurrence = minimum
    * doc_id over the corpus)? The incremental-crawl admission signal:
    * a low-novelty document adds almost nothing the corpus doesn't
    * already contain, even when no single earlier document is a
    * near-duplicate of it (X2 can't see diffuse copying; this can).
    *
    * Scale shape: one MIN aggregate on the shingle key + one join back
    * on the same key — the shingle shuffle happens once and is shared
    * through [[cachedShingles]] with the whole dedup family.
    * Boilerplate shingles are the classic heavy hitters on that key;
    * AQE skew-split handles them, and the aggregate itself is
    * map-side-combinable. Docs with fewer than 3 words have no
    * shingles and no row (inner-join semantics, mirrored in the
    * oracle).
    */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val occ = cachedShingles(spark, dir)
    val fo = occ.groupBy("sh").agg(min("doc_id").as("first_doc"))
    occ.join(fo, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** X87: cross-source overlap matrix — for every pair of ingestion
    * sources, how many distinct 3-gram shingles they share, and the
    * overlap coefficient |A∩B| / min(|A|,|B|) (the "should these two
    * feeds be deduplicated against each other first" planning signal
    * every multi-source curation run wants before it burns the big
    * MinHash pass).
    *
    * Scale shape: the corpus collapses to distinct (source, shingle)
    * first; the pair join is keyed on the shingle and fans out at most
    * C(|sources|, 2) per shingle — bounded by the (tiny) source count,
    * never by corpus size. Totals are |sources| rows, broadcast back.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ss = cachedShingles(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        Seq("doc_id"))
      .select("source", "sh").distinct()
    val tot = ss.groupBy("source").agg(count(lit(1)).as("n_sh"))
    ss.as("a").join(ss.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(tot.select(col("source").as("src_a"), col("n_sh").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"), col("n_sh").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("overlap_coef"))
      .orderBy("src_a", "src_b")
  }

  /** X107: span-level decontamination — the REMEDIATION half of the
    * benchmark-leakage pipeline whose detection half is
    * [[contamination]]: instead of flagging a training document that
    * shares a long n-gram (8 words; GPT-3 appendix C / PaLM §6 use
    * 8–13) with the held-out eval slice (`doc_id % 7 = 0` — a wider
    * slice than [[contamination]]'s %97 so the fixture actually
    * exercises span removal at every SF; 8-gram sharing is much rarer
    * than 3-gram sharing), cut the
    * overlapping WINDOWS out and keep the rest of the document — the
    * span-masking posture the decontamination literature recommends
    * over whole-doc dropping (dropping loses the clean 99% of a long
    * doc that quotes one benchmark sentence). A contaminated 8-gram at
    * word position i covers positions i..i+7; overlapping covers merge
    * by construction (position-set union), and the cleaned text is the
    * surviving words rejoined in order. Emits only the docs that
    * actually lost words — including full benchmark copies, which
    * survive as empty strings (0 kept) rather than vanishing.
    *
    * Scale shape: eval benchmarks are MBs against a 100 TB corpus, so
    * the distinct eval-gram set BROADCASTS and contaminated positions
    * come from a map-side semi-join — the train side's positioned gram
    * stream never shuffles; the wide ops are the per-(doc, position)
    * distinct and the per-doc rebuild aggregate, both keyed on doc_id
    * and bounded by document length, not corpus size. The rebuild's
    * sort lives INSIDE each row (array_sort over the collected
    * position structs), not in a global or windowed sort.
    */
  def decontaminateSpans(spark: SparkSession, dir: String,
                         n: Int = 8, evalMod: Int = 7): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = words.filter(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(1, size(w) - ${n - 1})")).as("i"))
      .select(col("doc_id"), col("i"),
        expr(s"concat_ws(' ', slice(w, i, $n))").as("sh"))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select("sh").distinct()
    // positions covered by any contaminated window, merged by union
    val covered = grams.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(evalGrams), Seq("sh"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(i, i + ${n - 1})")).as("pos"))
      .distinct()
    val positions = words.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("word"))
    val contaminatedDocs = covered.groupBy("doc_id")
      .agg(count(lit(1)).as("n_removed"))
    val keptAgg = positions
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .join(contaminatedDocs.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"))
          .as("cleaned_text"))
    contaminatedDocs.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** X116: cross-document exact-substring dedup at span granularity —
    * the ExactSubstr posture (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): a long n-gram (8 words here;
    * the paper uses 50 tokens) that occurs in more than one document is
    * kept ONLY in its canonical occurrence (the smallest doc_id) and
    * cut everywhere else, so boilerplate shared across thousands of
    * pages disappears from all but one copy while each page's unique
    * remainder survives. Differs from [[decontaminateSpans]] (X107) in
    * the authority relation: there the cut set comes from an external
    * eval corpus that broadcasts; here it is the corpus against ITSELF
    * — per-gram canonical owner = min(doc_id) over the corpus, so the
    * gram→owner relation is corpus-sized and the probe is a SHUFFLE
    * join on the gram key, never a broadcast. Repeats within a single
    * document are untouched (that is [[gopherRepetition]]'s signal,
    * X14): a doc is cut at a position only when a STRICTLY smaller
    * doc_id also contains the gram.
    *
    * Scale shape: gram extraction is a narrow explode; the min-owner
    * aggregate and the probe join both key on the gram hash — bounded
    * by distinct-gram cardinality, map-side combinable, and the
    * natural bucketing key for the posting relation at 100 TB. The
    * position-union distinct and the rebuild aggregate key on doc_id,
    * bounded by document length. Rebuild sort lives inside each row.
    */
  def crossDocSpans(spark: SparkSession, dir: String,
                    n: Int = 8): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = words.filter(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(1, size(w) - ${n - 1})")).as("i"))
      .select(col("doc_id"), col("i"),
        expr(s"concat_ws(' ', slice(w, i, $n))").as("sh"))
    val owner = grams.groupBy("sh").agg(min("doc_id").as("first_doc"))
    val covered = grams.join(owner, Seq("sh"))
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"),
        explode(expr(s"sequence(i, i + ${n - 1})")).as("pos"))
      .distinct()
    val positions = words
      .select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("word"))
    val cutDocs = covered.groupBy("doc_id")
      .agg(count(lit(1)).as("n_removed"))
    val keptAgg = positions
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .join(cutDocs.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"))
          .as("cleaned_text"))
    cutDocs.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** X193: LSH banding calibration — the (bands, rows) tuning table a
    * MinHash deployment computes BEFORE fixing its signature layout:
    * for each 64-hash split (b, r) with b·r = 64, the S-curve candidate
    * probability P(s) = 1 − (1 − sʳ)ᵇ is evaluated against the
    * OBSERVED verified-Jaccard similarity histogram (the X2 relation
    * at a low 0.2 floor, so the sub-threshold mass that drives false
    * candidates is actually present), yielding the expected true
    * candidates (s ≥ 0.6) and expected false-candidate load (s < 0.6)
    * per configuration — the recall-vs-cost trade the banding choice
    * IS.
    *
    * Calibration is a MEASUREMENT, not a production join — so the
    * histogram is estimated from a deterministic md5-bucket DOCUMENT
    * sample (keep doc_id iff its salted md5 bucket ≡ 0 mod
    * `sampleMod`; a pair survives iff both ends do, rate 1/mod², so
    * each observed count scales by the EXACT integer mod² — the X101
    * deterministic-sampling idiom, reproducible forever and in any
    * engine). At τ = 0.2 the prefix-filter bound is weak and the full
    * verify volume approaches the dense near-dup pair space; the
    * sample bounds BOTH the candidate join and the verify to 1/mod²
    * of that. `sampleMod = 1` is the exact full-histogram form — the
    * fixture-scale twin the sample-vs-full agreement law in
    * Round9OpsSpec is pinned against.
    *
    * Float discipline: sʳ and (1−sʳ)ᵇ are spelled as FIXED
    * repeated-squaring chains (r, b are powers of two; `pow` is not
    * cross-engine ulp-stable — the X164 rule), and each histogram
    * term n(s)·P(s) is 6dp-rounded into DECIMAL before the sum (the
    * X163 exact-sum rule), so no unordered float sum exists.
    *
    * Scale shape: the pair relation is the prefix-filtered bucketed
    * join X2 already bounds (Σ bucket², never n²) over the 1/mod
    * document sample; it collapses to a ≤101-row similarity histogram
    * before the 4-row config grid crosses it — everything after the
    * histogram is constant-sized. At 100 TB `sampleMod` rises with the
    * corpus (the estimator's variance is governed by sampled-pair
    * count, not corpus share).
    */
  /** The calibration sample's memoized relations (doc-set sample +
    * its 0.2-threshold prefix index).
    */
  private def calSampleSets(spark: SparkSession, dir: String,
                            sampleMod: Int): DataFrame =
    if (sampleMod <= 1) cachedDocSets(spark, dir)
    else Memo(spark, dir, s"dedup.doc_sets_cal_$sampleMod")(
      cachedDocSets(spark, dir).filter(
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit("|lshcal"))), 1, 8), 16, 10).cast("long")
          % sampleMod === 0))

  private def calSamplePrefix(spark: SparkSession, dir: String,
                              sampleMod: Int): DataFrame =
    Memo(spark, dir, s"dedup.jaccard_prefix_cal_0.2_$sampleMod")(
      prefixOf(calSampleSets(spark, dir, sampleMod), 0.2))

  def lshCalibration(spark: SparkSession, dir: String,
                     sampleMod: Int = 2): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val sets = calSampleSets(spark, dir, sampleMod)
    val prefix = calSamplePrefix(spark, dir, sampleMod)
    val scale = sampleMod.toLong * sampleMod.toLong
    val hist = jaccardPairsOf(sets, 0.2, Some(prefix))
      .select(round(col("jaccard"), 2).as("s"))
      .groupBy("s").agg((count(lit(1)) * scale).as("n"))
    val cfg = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((4L, 16L), (8L, 8L), (16L, 4L),
        (32L, 2L)).map { case (b, r) => org.apache.spark.sql.Row(b, r) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.LongType))))
    hist.crossJoin(broadcast(cfg))
      .withColumn("s2", col("s") * col("s"))
      .withColumn("s4", col("s2") * col("s2"))
      .withColumn("s8", col("s4") * col("s4"))
      .withColumn("s16", col("s8") * col("s8"))
      .withColumn("u", when(col("r") === 2, col("s2"))
        .when(col("r") === 4, col("s4"))
        .when(col("r") === 8, col("s8")).otherwise(col("s16")))
      .withColumn("v", lit(1.0) - col("u"))
      .withColumn("v2", col("v") * col("v"))
      .withColumn("v4", col("v2") * col("v2"))
      .withColumn("v8", col("v4") * col("v4"))
      .withColumn("v16", col("v8") * col("v8"))
      .withColumn("v32", col("v16") * col("v16"))
      .withColumn("pc", lit(1.0) - (when(col("b") === 4, col("v4"))
        .when(col("b") === 8, col("v8"))
        .when(col("b") === 16, col("v16")).otherwise(col("v32"))))
      .withColumn("term", round(col("n") * col("pc"), 6).cast(D6))
      .withColumn("high", col("s") >= 0.6)
      .groupBy("b", "r")
      .agg(sum(when(col("high"), col("n")).otherwise(0L)).as("n_high"),
        sum(when(!col("high"), col("n")).otherwise(0L)).as("n_low"),
        sum(when(col("high"), col("term")).otherwise(lit(0).cast(D6)))
          .as("exp_high_d"),
        sum(when(!col("high"), col("term")).otherwise(lit(0).cast(D6)))
          .as("exp_low_d"))
      .select(col("b"), col("r"), col("n_high"), col("n_low"),
        col("exp_high_d").cast("double").as("exp_true_candidates"),
        col("exp_low_d").cast("double").as("exp_false_candidates"),
        round(col("exp_high_d").cast("double") / col("n_high"), 6)
          .as("recall_proxy"))
      .orderBy("b")
  }

  /** X214: MinHash candidate precision/recall audit — the MEASURED
    * companion to X193's model-based S-curve: where the calibration
    * table predicts expected candidate mass per (b, r) config, this
    * audits the config actually deployed (4 bands × 2 rows over the
    * 8-sig signature) against exact ground truth — the verified
    * Jaccard ≥ 0.6 relation (X2, SHARED VERBATIM on both sides: the
    * banded candidate set and the truth set are the very relations the
    * production pipeline runs, so the audit cannot drift from it).
    * Precision says how much verification work banding wastes; recall
    * says what the dedup pass silently MISSES — the number that
    * decides a re-band. F1 is derived as 2·tp/(c+t), one exact
    * integer division — never composed from the two rounded ratios.
    *
    * Scale shape: both inputs are the memoized bucketed relations
    * (Σ bucket², never n²); the intersection is a pair-keyed semi-join
    * and the output is ONE row of counters.
    */
  def minhashPrAudit(spark: SparkSession, dir: String): DataFrame = {
    val cand = cachedMinhashPairs(spark, dir).select("doc_a", "doc_b")
    val truth = jaccardPairs(spark, dir).select("doc_a", "doc_b")
    val tp = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("true_positives"))))
      .select(col("n_candidates"), col("n_truth"), col("true_positives"),
        round(col("true_positives").cast("double") / col("n_candidates"), 6)
          .as("cand_precision"),
        round(col("true_positives").cast("double") / col("n_truth"), 6)
          .as("cand_recall"),
        round((col("true_positives") * 2).cast("double") /
          (col("n_candidates") + col("n_truth")), 6).as("f1"))
  }

  /** X215: LSH layout P/R matrix — the MEASURED form of the X193
    * prediction for every way the deployed 8-hash signature can be
    * banded (8×1, 4×2, 2×4, 1×8): per layout, the actual candidate
    * volume, true positives against the verified-Jaccard truth (X2,
    * shared verbatim), and the resulting precision/recall — the table
    * that closes the predicted-vs-measured loop X193+X214 opened and
    * the one a re-banding decision actually reads (more bands ⇒ recall
    * up, precision down; the matrix shows where the knee is on THIS
    * corpus).
    *
    * Scale shape: each layout is one stack of row-wise band hashes
    * over the memoized wide-signature relation + a bucket self-join
    * (Σ bucket², never n²) + two 1-row counters; four layouts run as
    * independent branches unioned at 4 rows.
    */
  def lshPrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val wide = cachedSigWide(spark, dir)
    val truth = jaccardPairs(spark, dir).select("doc_a", "doc_b")
    val perConfig = Seq((8, 1), (4, 2), (2, 4), (1, 8)).map { case (b, r) =>
      val bandCols = (0 until b).map { i =>
        md5(concat_ws("|", (0 until r).map(j => col(s"s${i * r + j}")): _*))
          .as(s"bh$i")
      }
      val stackArgs = (0 until b).map(i => s"$i, bh$i").mkString(", ")
      val bands = wide.select(col("doc_id") +: bandCols: _*)
        .select(col("doc_id"),
          expr(s"stack($b, $stackArgs) AS (bb, band_hash)"))
      val aa = bands.select(col("doc_id").as("doc_a"), col("bb"),
        col("band_hash"))
      val bb2 = bands.select(col("doc_id").as("doc_b"), col("bb"),
        col("band_hash"))
      val cand = aa.join(bb2, Seq("bb", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val tp = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(tp.agg(count(lit(1)).as("true_positives"))))
        .select(lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("true_positives"))
    }.reduce(_.unionByName(_))
    perConfig
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_truth"), col("true_positives"),
        round(col("true_positives").cast("double") / col("n_candidates"), 6)
          .as("cand_precision"),
        round(col("true_positives").cast("double") / col("n_truth"), 6)
          .as("cand_recall"))
      .orderBy("bands")
  }

  /** X195: contamination report — the per-source rollup of the X107
    * span-decontamination relation (SHARED VERBATIM — report and
    * remediation cannot drift) that a training run's data card
    * actually publishes: per source, how many candidate documents are
    * benchmark-contaminated, the doc-level rate, and the token mass
    * the span cut removes relative to the source's full token budget.
    * A source with high token-loss share gets dropped wholesale; a low
    * one just ships its cleaned docs — this table is that decision.
    *
    * All counts are exact integers off the shared relation; the two
    * rates are final 6dp divisions. Scale shape: one narrow per-doc
    * token count (no new corpus pass beyond X107's own), one
    * source-keyed rollup — catalog-sized output.
    */
  /** X202: soft-dedup training weights — the down-weighting alternative
    * to dropping near-duplicates (each cluster contributes ONE
    * document's worth of gradient mass spread over its members:
    * w = 1/|cluster|), the form used when duplicates carry distinct
    * metadata worth keeping. Rides the X2 cluster relation SHARED
    * VERBATIM (weights and clustering cannot drift); singleton docs
    * fold in as their own cluster with weight 1, so Σw = the dedup'd
    * corpus size — the effective-epoch arithmetic a trainer does.
    *
    * Scale shape: the cluster relation is the already-bounded X50
    * output; one left join on doc_id + one cluster-keyed size count.
    */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = nearDupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val all = Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = all.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
      .orderBy("doc_id")
  }

  /** X229: near-dup cluster quality audit — per X50 cluster, how much
    * of it the VERIFIED similarity relation actually supports: size,
    * the number of verified Jaccard ≥ 0.6 pairs inside the cluster,
    * their exact mean Jaccard, and completeness = verified pairs /
    * (size choose 2). A cluster with low completeness was glued by LSH
    * estimate chains (transitive closure over est_sim edges) rather
    * than pairwise-verified similarity — the over-merge diagnostic a
    * dedup owner reads before trusting cluster-level dropping. Both
    * inputs are the production relations SHARED VERBATIM (the memoized
    * cluster labels and the X2 verified pair table), so the audit
    * cannot drift from the pipeline it audits.
    *
    * Float discipline: per-pair jaccard is already 6dp — cast to
    * DECIMAL and summed exactly; the mean and completeness are final
    * IEEE divisions.
    *
    * Scale shape: two doc-keyed joins label the verified pair
    * endpoints, one cluster-keyed reduce — all bounded by the pair
    * relation the pipeline already computes.
    */
  def clusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val labels = nearDupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val truth = jaccardPairs(spark, dir)
    val intra = truth
      .join(labels.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("ca")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"),
        col("cluster_id").as("cb")), Seq("doc_b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cluster_id"))
      .agg(count(lit(1)).as("n_verified_pairs"),
        sum(col("jaccard").cast(D6)).as("sj"))
    labels.groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .join(intra, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("size"),
        coalesce(col("n_verified_pairs"), lit(0L)).as("n_verified_pairs"),
        when(col("n_verified_pairs") > 0,
          round(col("sj").cast("double") / col("n_verified_pairs"), 6))
          .as("mean_jaccard"),
        when(col("size") > 1,
          round(coalesce(col("n_verified_pairs"), lit(0L)).cast("double") *
            2.0 / (col("size") * (col("size") - 1)), 6))
          .as("completeness"))
      .orderBy("cluster_id")
  }

  /** X234: dedup rate by source — the data-card table a corpus release
    * publishes: per source, how many documents are exact-duplicate
    * members (md5 group size > 1) and how many sit in a near-dup
    * cluster (the memoized X50 labels, shared verbatim), with the two
    * rates. A source with a high dup share is a mirror/scrape and gets
    * down-weighted or dropped wholesale — this table is that decision,
    * sliced the way the decision is actually made (by source).
    *
    * Scale shape: one md5-keyed count for exact groups, one doc-keyed
    * semi-join against the cluster labels, one source-keyed rollup —
    * all map-combinable; no new corpus pass beyond the md5 the exact
    * tier already computes.
    */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val grp = h.groupBy("h").agg(count(lit(1)).as("nc"))
    val nearMembers = nearDupClusters(spark, dir)
      .select(col("doc_id"), lit(true).as("is_near"))
    h.join(grp, Seq("h"))
      .join(nearMembers, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nc") > 1, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(coalesce(col("is_near"), lit(false)), 1L).otherwise(0L))
          .as("n_near_dup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"),
        round(col("n_exact_dup").cast("double") / col("n_docs"), 6)
          .as("exact_rate"),
        round(col("n_near_dup").cast("double") / col("n_docs"), 6)
          .as("near_rate"))
      .orderBy("source")
  }

  def contaminationReport(spark: SparkSession, dir: String,
                          evalMod: Int = 7): DataFrame = {
    val spans = decontaminateSpans(spark, dir)
      .select(col("doc_id"), col("n_removed"))
    val candidates = Tables.documents(spark, dir)
      .filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    candidates.join(spans, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_removed")).as("n_contaminated"),
        sum(coalesce(col("n_removed"), lit(0L))).as("tokens_removed"),
        sum("n_tokens").as("tokens_total"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        col("tokens_removed"), col("tokens_total"),
        round(col("n_contaminated").cast("double") / col("n_docs"), 6)
          .as("doc_rate"),
        round(col("tokens_removed").cast("double") / col("tokens_total"), 6)
          .as("token_loss_share"))
      .orderBy("source")
  }
}
