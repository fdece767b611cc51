package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Corpus-statistics language modeling for data curation — the two
  * classic tokenizer/quality primitives a training-data pipeline runs
  * over raw text before anything model-based exists:
  *
  *  - [[lmCrossEntropy]]: per-document cross-entropy under a corpus-
  *    trained add-one-smoothed unigram model (the CCNet-style "does this
  *    look like the corpus" quality signal — reference has no text ops;
  *    mandated by the X-surface, cf. `DataWarehouse.js:324` for the
  *    closest content-hash analogue);
  *  - [[bpeMerges]]: highest-frequency adjacent symbol pairs over the
  *    corpus vocabulary — the selection step of byte-pair-encoding
  *    tokenizer training (Sennrich et al. 2016), computed the way real
  *    BPE trainers do: over word TYPES weighted by their counts, never
  *    over raw occurrences.
  */
object LangModel {

  /** Lowercased alphabetic word stream — one row per token occurrence.
    * The `[^a-z]+` split matches the oracle's `string_split_regex`
    * tokenization exactly (both emit boundary empties, both drop them).
    */
  private def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")

  /** X51: per-doc cross-entropy (bits/token) under the corpus unigram
    * model, add-one smoothed: p(w) = (c(w)+1)/(N+V).
    *
    * Scale shape: occurrences collapse to (doc, type, cnt) BEFORE the
    * model join — the scoring join's left side is per-doc vocabulary,
    * not the raw token stream, and the per-doc sum rides the same
    * aggregate. The model itself is vocabulary-sized (heavy-hitter
    * skewed on stopwords — exactly what AQE skew-split handles on the
    * `tok` shuffle; at 100 TB the vocabulary also comfortably broadcasts
    * after a count-min cut). Rounded to 6dp so occurrence-order float
    * association never reaches the comparison.
    */
  def lmCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(spark, dir)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        ((col("c") + lit(1)).cast("double") / (col("n") + col("v"))).as("p"))
    val docTypes = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
    docTypes.join(model, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        round(-sum(col("cnt") * log2(col("p"))) / sum("cnt"), 6)
          .as("bits_per_token"))
      .orderBy("doc_id")
  }

  /** X52: top-`topK` adjacent character pairs by corpus frequency — the
    * pair-selection step of BPE training. Ties break lexicographically
    * so the cut is deterministic on both engines.
    *
    * Scale shape: the corpus collapses to its VOCABULARY (word type +
    * count) before any pair expansion — pair rows are then bounded by
    * Σ|type| over distinct words, not corpus length, and the final
    * aggregate's key space is ≤ alphabet². The top-k is a single-stage
    * TakeOrdered over ≤676 rows; nothing here rescans text twice.
    */
  def bpeMerges(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val wc = tokens(spark, dir)
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok").as("w"))
      .agg(count(lit(1)).as("wc"))
    wc.select(col("wc"), explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wc").as("freq"))
      .orderBy(desc("freq"), asc("pair"))
      .limit(topK)
  }

  /** X81: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — public
    * NeurIPS paper): score every raw document by how target-like its
    * hashed n-gram profile is. The target model is trained on the
    * curated slice (`source = 'src0'` stands in for the high-quality
    * corpus), the raw model on everything else; both are bag-of-hashed-
    * features multinomials over `buckets` buckets with add-one
    * smoothing, and a document's log importance weight is
    * Σ_feat [ln p_target(b(feat)) − ln p_raw(b(feat))].
    *
    * Scale shape: the two models are BUCKET-sized (≤ `buckets` rows),
    * built by one feature-hash aggregate over the corpus and broadcast
    * back; scoring is a narrow join of per-doc bucket counts against
    * that broadcast — no shuffle keyed on anything bigger than
    * (doc_id, bucket), and the bucket key is uniform by construction
    * (md5), so there is no skew to salt. Per-bucket log-ratios are
    * 6dp-rounded DECIMALs so the per-doc sum is exact and
    * partition-order-independent; only the final per-doc average
    * returns to IEEE.
    *
    * Features are word unigrams + adjacent bigrams over the same
    * `[^a-z]+` tokenization as [[lmCrossEntropy]]; the hash is the
    * 16-bit md5 prefix (engine-portable, mirrors the X53 sampler) mod
    * `buckets`.
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  buckets: Int = 1024): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')").as("ws"))
    // the size guard matters: Spark's sequence(0, -1) DESCENDS (unlike
    // DuckDB's generate_series, which is empty), so a 1-word doc would
    // otherwise fabricate a null bigram
    val feats = docs.select(col("doc_id"), col("source"),
        explode(concat(col("ws"), expr(
          "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
            "i -> concat(ws[i], '_', ws[i + 1])) ELSE array() END")))
          .as("feat"))
      .withColumn("b",
        conv(substring(md5(col("feat")), 1, 4), 16, 10).cast("long") % buckets)
    // collapse the (corpus-length) feature stream to per-(doc, bucket)
    // counts FIRST and memoize that: both the model aggregate and the
    // scoring join consume it, and repeated calls reuse ONE copy instead
    // of each re-running the full explode+md5 pass (measured 5.3 s →
    // ~2 s at sf0.1). ≤ |docs|·buckets rows — at 100 TB these are
    // exactly the partial-aggregate rows a two-level hash aggregate
    // produces anyway.
    val perDoc = graft.Memo(spark, dir, s"lm.dsir_per_doc_$buckets")(feats
      .groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("cnt")))
    // bucket-count the two slices in ONE pass (conditional aggregates),
    // then close over the tiny totals row to form smoothed log-ratios
    val tgt = col("source") === "src0"
    val counts = perDoc.groupBy("b").agg(
      sum(when(tgt, col("cnt")).otherwise(0L)).as("ct"),
      sum(when(tgt, lit(0L)).otherwise(col("cnt"))).as("cr"))
    val totals = counts.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("b"), round(
        log((col("ct") + 1).cast("double") / (col("nt") + buckets)) -
          log((col("cr") + 1).cast("double") / (col("nr") + buckets)), 6)
        .cast(D6).as("logratio"))
    perDoc.filter(!tgt)
      .join(broadcast(weights), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_feats"),
        sum(col("logratio") * col("cnt")).as("logw_dec"))
      .select(col("doc_id"), col("n_feats"),
        col("logw_dec").cast("double").as("logw_sum"),
        round(col("logw_dec").cast("double") / col("n_feats"), 6)
          .as("logw_avg"))
      .orderBy("doc_id")
  }

  /** X153: order-3 interpolated n-gram perplexity — the CCNet-class
    * curation signal the unigram X51 score approximates: per-document
    * bits/token and perplexity under a Jelinek-Mercer-interpolated
    * trigram model trained on the corpus itself (held-in scoring, the
    * standard "does this look like the corpus" form), with FIXED λ
    * literals (0.5 trigram, 0.3 bigram, 0.2 unigram — no tuning loop,
    * so the whole model is three count tables):
    *
    *   p(w | u,v) = 0.5·c₃(u,v,w)/c₃(u,v,·) + 0.3·c₂(v,w)/c₂(v,·)
    *              + 0.2·(c₁(w)+1)/(N+V)
    *
    * The trigram/bigram components are maximum-likelihood (non-zero for
    * every scored position because scoring is held-in); the add-one
    * unigram floor keeps p > 0 under any split. Exactness discipline
    * (the X81/X145 rule): every count is an exact integer; p is ONE
    * fixed IEEE expression (identical literal order in both engines);
    * the per-trigram log₂ p is 6dp-rounded into DECIMAL(18,6) so the
    * per-doc sum is exact and partition-order-free; the two final
    * IEEE ops are the per-doc division and the exp(b·ln 2) that turns
    * bits back into perplexity (ln/exp parity is platform-proven).
    *
    * Scale shape: the three model relations are VOCABULARY-sized
    * (distinct n-gram types, not corpus positions) — at 100 TB they
    * are the familiar KB–GB-scale LM tables that either broadcast
    * after a frequency cut or hash-join on the n-gram key; the scoring
    * side collapses to per-doc trigram TYPES before any model join, so
    * no join input is ever the raw position stream. Stopword-headed
    * contexts are the skew — uniform md5 salting is unnecessary
    * because AQE's skew split owns the (u,v) hot keys.
    */
  /** r14 (guide §2.4): the interpolated-trigram scoring — a trigram
    * explode plus five count joins — is the most expensive LM relation
    * and has three consumers (its own entry, the perplexity sweep and
    * the quality-calibration audit), each of which re-ran the whole
    * pipeline per call. Memoized per (app, dir) like the dedup pair
    * table.
    */
  def perplexity3(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, dir, "lm.perplexity3")(perplexity3Uncached(spark, dir))

  private def perplexity3Uncached(spark: SparkSession,
                                  dir: String): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')").as("ws"))
    // the size guards matter: Spark's sequence(0, -1) DESCENDS (the X81
    // lesson), so short docs must produce empty arrays, not fabricated
    // null grams
    val tris = docs.select(col("doc_id"), explode(expr(
        "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3), " +
          "i -> struct(ws[i] AS u, ws[i + 1] AS v, ws[i + 2] AS w)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<u: STRING, v: STRING, w: STRING>>) END"))
        .as("t"))
      .select(col("doc_id"), col("t.u").as("u"), col("t.v").as("v"),
        col("t.w").as("w"))
    val bis = docs.select(explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS a, ws[i + 1] AS b)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"))
        .as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"))
    val c3 = tris.groupBy("u", "v", "w").agg(count(lit(1)).as("c3"))
    val c2ctx = c3.groupBy("u", "v").agg(sum("c3").as("n3ctx"))
    val cb = bis.groupBy("a", "b").agg(count(lit(1)).as("cb"))
    val c1ctx = cb.groupBy("a").agg(sum("cb").as("n2ctx"))
    val c1 = tokens(spark, dir).groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum("c1").as("n"), count(lit(1)).as("v_sz"))
    val docTri = tris.groupBy("doc_id", "u", "v", "w")
      .agg(count(lit(1)).as("cnt"))
    val scored = docTri
      .join(c3, Seq("u", "v", "w"))
      .join(c2ctx, Seq("u", "v"))
      .join(cb.select(col("a").as("v"), col("b").as("w"), col("cb")),
        Seq("v", "w"))
      .join(c1ctx.select(col("a").as("v"), col("n2ctx")), Seq("v"))
      .join(c1.select(col("tok").as("w"), col("c1")), Seq("w"))
      .crossJoin(broadcast(tot))
      .withColumn("p",
        lit(0.5) * (col("c3").cast("double") / col("n3ctx")) +
          lit(0.3) * (col("cb").cast("double") / col("n2ctx")) +
          lit(0.2) * ((col("c1") + 1).cast("double") / (col("n") + col("v_sz"))))
      .withColumn("bits", round(log(col("p")) / log(lit(2.0)), 6).cast(D6))
    scored.groupBy("doc_id")
      .agg(sum("cnt").as("n_trigrams"),
        round((sum(col("cnt") * col("bits")) * -1).cast("double") /
          sum("cnt"), 6).as("bits_per_token"))
      .withColumn("perplexity",
        round(exp(col("bits_per_token") * log(lit(2.0))), 4))
      .select("doc_id", "n_trigrams", "bits_per_token", "perplexity")
      .orderBy("doc_id")
  }

  /** X165: Zipf fit — the "does this corpus look like natural language"
    * distributional check (natural text fits ln(freq) ≈ α + s·ln(rank)
    * with slope s ≈ −1; machine-generated or boilerplate-heavy corpora
    * bend away from it): least-squares slope/intercept/R² over the
    * top-`topK` vocabulary in log-log space.
    *
    * Exactness: the vocabulary cut and ranks are deterministic
    * ((count DESC, token) total order, the X91 rule); ln(rank)/ln(count)
    * are 6dp-rounded into DECIMAL(18,6) per term so all five regression
    * sums are EXACT decimal arithmetic over the bounded k-row relation
    * (the X68 regression discipline moved to log space); the closed-form
    * slope/intercept/R² are the only IEEE ops, in one fixed expression.
    *
    * Scale shape: one token count (AQE-skew-safe), a TakeOrdered top-k,
    * then everything runs on k ≤ 1000 rows; the rank window is bounded
    * by k, not vocabulary.
    */
  def zipfFit(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val top = tokens(spark, dir).groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(topK)
    val xy = top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("tok"))))
      .select(
        round(log(col("rk").cast("double")), 6).cast(D6).as("x"),
        round(log(col("c").cast("double")), 6).cast(D6).as("y"))
    xy.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_terms"),
        round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"),
        round((col("sy").cast("double") -
          ((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"))) *
            col("sx").cast("double")) / col("n").cast("double"), 6)
          .as("intercept"),
        round(
          ((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) *
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double"))) /
            ((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("r2"))
  }

  /** X121: BPE tokenization APPLY — the encode half whose merge-table
    * half is [[bpeMerges]] (X52): the corpus's top-`nMerges` character
    * pairs are applied to every document in rank order, yielding the
    * real post-BPE token count (the number every "tokens per doc"
    * pipeline stat actually wants; X4's whitespace count is the
    * pre-tokenizer proxy).
    *
    * The encoding is plain string algebra, exact in any engine: a word
    * encodes as each character wrapped `<c>`, and applying merge (a,b)
    * is the literal replace `<a><b>` → `<ab>`. The wrapping is what
    * makes literal replace CORRECT BPE: token boundaries are explicit,
    * so `<l>` never matches the tail of a merged `<al>`, and
    * non-overlapping left-to-right replacement is exactly BPE's
    * leftmost-first greedy application (`<l><l><l>` → `<ll><l>`).
    * Tokens are a-z only (the [[tokens]] tokenization), so the wrap
    * characters cannot collide. Merges are the 2-char pairs X52 mines
    * — all first-round merges over the base alphabet, so rank order
    * only matters where pairs share a character, which the fixed
    * r1..r5 application order resolves deterministically.
    *
    * Scale shape: the merge table is a broadcast 1-row pivot (the
    * whole tokenizer state — like production BPE, KBs of merges
    * against TBs of text); encoding is one narrow map pass, and the
    * per-doc reassembly aggregate keys on doc_id with the in-row sort
    * ([[graft.ext.TextDedup.decontaminateSpans]]'s rebuild shape).
    */
  /** The per-word BPE-encoded relation (doc_id, pos, w, n_tok, enc) —
    * the shared stage under X121's per-doc reassembly and X140's
    * per-language fertility audit.
    */
  private def encodedWords(spark: SparkSession, dir: String,
                           nMerges: Int): DataFrame = {
    val merges = bpeMerges(spark, dir, nMerges)
      .select(col("pair"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("freq"), asc("pair"))).as("rk"))
    // 1-row pivot: s_i / r_i = search/replace literals for merge rank i
    val aggs = (1 to nMerges).flatMap { i =>
      Seq(max(when(col("rk") === i, concat(lit("<"),
            expr("substring(pair, 1, 1)"), lit("><"),
            expr("substring(pair, 2, 1)"), lit(">"))))
          .as(s"s$i"),
        max(when(col("rk") === i,
            concat(lit("<"), col("pair"), lit(">")))).as(s"r$i"))
    }
    val mergeRow = merges.groupBy().agg(aggs.head, aggs.tail: _*)
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(
        expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val wrapped = words.crossJoin(broadcast(mergeRow))
      .withColumn("enc", regexp_replace(col("w"), "(.)", "<$1>"))
    (1 to nMerges)
      .foldLeft(wrapped) { (df, i) =>
        df.withColumn("enc", expr(s"replace(enc, s$i, r$i)"))
      }
      .select(col("doc_id"), col("pos"), col("w"),
        (length(col("enc")) -
          length(regexp_replace(col("enc"), "<", ""))).as("n_tok"),
        col("enc"))
  }

  def bpeEncode(spark: SparkSession, dir: String,
                nMerges: Int = 5): DataFrame = {
    val encoded = encodedWords(spark, dir, nMerges)
    encoded.groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_base_tokens"),
        sum(col("n_tok").cast("long")).as("n_bpe_tokens"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, enc))), x -> x.enc)"))
          .as("encoded"))
      .select(col("doc_id"), col("n_words"), col("n_base_tokens"),
        col("n_bpe_tokens"),
        (col("n_base_tokens") - col("n_bpe_tokens")).as("n_merged"),
        col("encoded"))
      .orderBy("doc_id")
  }

  /** X140: tokenizer FERTILITY audit — tokens-per-word and compression
    * per language under the X121 BPE encoder: the go/no-go number a
    * multilingual tokenizer ships with (fertility ≫ 1 for a language
    * means its corpus pays that multiple in sequence length — the
    * under-served-language signal). Counts are the X121 integer
    * machinery aggregated by `lang` instead of doc; the two ratios are
    * the only IEEE ops. At scale this audit rides the SAME encoded
    * relation the production encode pass already materializes —
    * [[encodedWords]] is the shared stage, nothing is re-tokenized.
    */
  def bpeFertility(spark: SparkSession, dir: String,
                   nMerges: Int = 5): DataFrame = {
    val perWord = encodedWords(spark, dir, nMerges)
    val langs = Tables.documents(spark, dir).select("doc_id", "lang")
    perWord.join(langs, Seq("doc_id"))
      .groupBy("lang")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_base_tokens"),
        sum(col("n_tok").cast("long")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_bpe_tokens").cast("double") / col("n_base_tokens"), 6)
          .as("compression"))
      .orderBy("lang")
  }

  /** X182: perplexity-filter sweep — the yield-vs-cutoff curve for the
    * CCNet-style perplexity gate: for each candidate max-perplexity
    * threshold, the docs and trigram-tokens a `ppl ≤ T` filter keeps.
    * Rides [[perplexity3]]'s relation UNCHANGED (filter and scorer
    * cannot drift — the X179 sharing rule), with X178's
    * histogram-free variant: the per-doc relation is already
    * corpus-collapsed (one row per doc), so thresholds band-join it
    * directly. Thresholds bracket the fixture's observed 10–26 range
    * so the curve carries signal at every cut.
    *
    * Scale shape: the X153 scoring plan plus one ≤|T|-row broadcast
    * band join and a threshold-keyed aggregate; shares are two final
    * divisions against the 1-row totals broadcast.
    */
  def perplexitySweep(spark: SparkSession, dir: String,
                      cuts: Seq[Double] =
                        Seq(16.0, 18.0, 20.0, 22.0, 25.0, 30.0)): DataFrame = {
    val ppl = perplexity3(spark, dir)
      .select(col("doc_id"), col("n_trigrams"), col("perplexity"))
    val totals = ppl.agg(count(lit(1)).as("tot_docs"),
      sum("n_trigrams").as("tot_tris"))
    val th = spark.createDataFrame(
      spark.sparkContext.parallelize(
        cuts.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("max_ppl",
          org.apache.spark.sql.types.DoubleType))))
    broadcast(th).join(ppl, col("perplexity") <= col("max_ppl"), "left")
      .groupBy("max_ppl")
      .agg(count(col("doc_id")).as("docs_kept"),
        coalesce(sum("n_trigrams"), lit(0L)).as("tris_kept"))
      .crossJoin(broadcast(totals))
      .select(col("max_ppl"), col("docs_kept"), col("tris_kept"),
        round(col("docs_kept").cast("double") / col("tot_docs"), 6)
          .as("doc_share"),
        round(col("tris_kept").cast("double") / col("tot_tris"), 6)
          .as("tri_share"))
      .orderBy("max_ppl")
  }

  /** X187: interpolated Kneser-Ney bigram perplexity — the smoothing
    * family that actually ships in n-gram curation scorers (KenLM/CCNet
    * are modified-KN): unlike X153's Jelinek-Mercer mixture, KN
    * discounts each SEEN bigram by a fixed D and backs off to the
    * CONTINUATION unigram — "how many distinct contexts does w
    * complete" — rather than raw frequency, which is what stops
    * high-count-but-single-context tokens (boilerplate markers) from
    * looking probable:
    *
    *   p(w | v) = (c(v,w) − D)/c(v·) + D·N1+(v·)/c(v·) · N1+(·w)/B
    *
    * with D = 0.75 (the literature's standard single-discount literal),
    * c(v·) the bigram-based context total, N1+(v·)/N1+(·w) the
    * follower/preceder type counts, and B the number of distinct
    * bigram types. Held-in scoring means c(v,w) ≥ 1 at every scored
    * position, so the discounted term is positive and no max() guard
    * is needed.
    *
    * Exactness (the X153 discipline verbatim): every model quantity is
    * an exact integer count; p is ONE fixed IEEE expression with
    * identical literal order in both engines; per-bigram log₂ p is
    * 6dp-rounded into DECIMAL so the per-doc sum is exact and
    * partition-order-free; the final division and exp(b·ln 2) are the
    * only trailing IEEE ops.
    *
    * Scale shape: four model relations, all VOCABULARY-sized (bigram
    * types, context types, continuation types, one totals row) — the
    * broadcastable-LM-state story of X153; the scoring side collapses
    * to per-doc bigram TYPES before any model join, so no join input
    * is the raw position stream; stopword-headed contexts are AQE
    * skew-split territory, same as X153.
    */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')").as("ws"))
    val bis = docs.select(col("doc_id"), explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS a, ws[i + 1] AS b)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"))
        .as("t"))
      .select(col("doc_id"), col("t.a").as("a"), col("t.b").as("b"))
    val cb = bis.groupBy("a", "b").agg(count(lit(1)).as("cb"))
    // context totals + follower-type counts in one pass over the
    // bigram-type relation; continuation (preceder-type) counts from
    // the same relation keyed on the second token
    val ctx = cb.groupBy("a").agg(sum("cb").as("cctx"),
      count(lit(1)).as("n1fwd"))
    val cont = cb.groupBy("b").agg(count(lit(1)).as("n1prec"))
    val btypes = cb.agg(count(lit(1)).as("btypes"))
    val docBi = bis.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("cnt"))
    val scored = docBi
      .join(cb, Seq("a", "b"))
      .join(ctx, Seq("a"))
      .join(cont, Seq("b"))
      .crossJoin(broadcast(btypes))
      .withColumn("p",
        (col("cb").cast("double") - lit(0.75)) / col("cctx") +
          lit(0.75) * col("n1fwd").cast("double") / col("cctx") *
            (col("n1prec").cast("double") / col("btypes")))
      .withColumn("bits", round(log(col("p")) / log(lit(2.0)), 6).cast(D6))
    scored.groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        round((sum(col("cnt") * col("bits")) * -1).cast("double") /
          sum("cnt"), 6).as("bits_per_token"))
      .withColumn("perplexity",
        round(exp(col("bits_per_token") * log(lit(2.0))), 4))
      .select("doc_id", "n_bigrams", "bits_per_token", "perplexity")
      .orderBy("doc_id")
  }

  /** X219: Heaps'-law vocabulary-growth fit — the companion to X165's
    * Zipf fit: V(n) ≈ K·n^β over cumulative corpus prefixes, the curve
    * that predicts how a tokenizer's vocabulary (and every
    * dedup/sketch structure keyed on types) grows when the corpus
    * scales 100× — the planning number behind "how big does the
    * vocab/DF table get at 100 TB". Prefixes are `cuts` value-based
    * doc_id slices (decile d = doc_id·cuts div (max+1) — deterministic
    * and order-free, no global row_number over the corpus); a term's
    * first occurrence is min(d) over its postings, so cumulative
    * vocabulary is one ordered prefix sum over the ≤`cuts`-row
    * first-occurrence histogram. The ln-ln least squares reuses X165's
    * exact idiom: x/y quantized to 6dp DECIMAL so every regression
    * moment is an exact decimal sum, IEEE only in the final
    * slope/intercept/r² expressions.
    *
    * Scale shape: one token pass for per-decile counts, one (term-
    * keyed) min aggregate for first occurrences; everything after is
    * ≤`cuts` rows — the ordered prefix window and the 1-row fit
    * broadcast are both declared in the plan-hygiene allowlists.
    */
  def heapsFit(spark: SparkSession, dir: String, cuts: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val toks = tokens(spark, dir)
    val maxDoc = Tables.documents(spark, dir).agg(max("doc_id").as("mx"))
    val dOf = toks.crossJoin(broadcast(maxDoc))
      .withColumn("d", expr(s"(doc_id * $cuts) div (mx + 1)"))
    val tokPerD = dOf.groupBy("d").agg(count(lit(1)).as("nt"))
    val vocPerD = dOf.groupBy("tok").agg(min("d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("nv"))
    val ordered = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val points = tokPerD.join(vocPerD, Seq("d"), "left")
      .withColumn("cum_tokens", sum("nt").over(ordered))
      .withColumn("cum_vocab", sum(coalesce(col("nv"), lit(0L))).over(ordered))
      .select(col("d").as("decile"), col("cum_tokens"), col("cum_vocab"),
        round(log(col("cum_tokens").cast("double")), 6).cast(D6).as("x"),
        round(log(col("cum_vocab").cast("double")), 6).cast(D6).as("y"))
    val beta = (col("np").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      (col("np").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"))
    val fit = points.agg(count(lit(1)).as("np"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(round(beta, 6).as("heaps_beta"),
        round((col("sy").cast("double") - beta *
          col("sx").cast("double")) / col("np").cast("double"), 6)
          .as("ln_k"))
    points.crossJoin(broadcast(fit))
      .select(col("decile"), col("cum_tokens"), col("cum_vocab"),
        col("heaps_beta"), col("ln_k"))
      .orderBy("decile")
  }

  /** X231: HELD-OUT stupid-backoff trigram scoring (Brants et al. 2007,
    * the web-scale LM that skips normalization for a fixed backoff
    * penalty) — the deliberate complement to X153/X187's held-IN
    * scorers: the model trains on the md5-bucket TRAIN split (the X92
    * 80/10/10 assignment shared verbatim) and scores the TEST split, so
    * unseen trigrams genuinely occur and every backoff tier fires
    * (held-in, c₃ > 0 always and "backoff" would be dead code):
    *
    *   S(w|u,v) = c₃(uvw)/c₂(uv)                if c₃ > 0
    *            = α · c₂(vw)/c₁(v)              elif c₂(vw) > 0
    *            = α² · (c₁(w)+1)/(N+V)          otherwise (add-one floor)
    *
    * with α = 0.4, the paper's constant. Per-position ln S is
    * 6dp-rounded into DECIMAL (exact per-doc sums, the X153 rule); the
    * per-tier hit counts ship in the output so the backoff mix itself
    * is oracled, not just the score.
    *
    * Scale shape: the model relations are train-vocabulary-sized
    * n-gram tables (hash-joined on the n-gram key, AQE owns hot
    * contexts); scoring collapses the test split to per-doc trigram
    * TYPES before any model join — the X153 shape with left joins for
    * the backoff tiers.
    */
  /** X235: n-gram coverage curve — what share of all trigram POSITIONS
    * the top-k trigram TYPES cover, at k ∈ {10, 100, 1000}: the
    * cache-planning / boilerplate-density number (a corpus where 1000
    * types cover half the positions is template-heavy; an LM serving
    * cache sized to the top-k types serves exactly this share of
    * lookups). Deterministic (count DESC, trigram) total order — the
    * X91 rule; counts stay integral so the cumulative is exact, one
    * rounded division per output row. A budget larger than the trigram
    * TYPE count (template-heavy tiny corpus) is NOT silently dropped
    * (the r9 advice): every requested budget emits a row at the last
    * available rank (`eff_k`, coverage = 1.0 there) with
    * `truncated = true` flagging the cut — so the curve always has
    * |ks| rows and a budget-sweep consumer can't misread a missing
    * row as "coverage unknown".
    *
    * Scale shape: one trigram-type count (map-combinable), a
    * TakeOrdered top-max(ks) cut (the cut is sized to the LARGEST
    * requested budget, so the truncation contract above holds for any
    * ks — a budget within the type count always sees its own full
    * prefix), then rank/cumsum windows bounded by that cut (the zipf
    * allowlist class); budget assignment is a narrow explode over the
    * ≤max(ks)-row cut (no inequality join), and the 1-row total
    * broadcast crosses the |ks|-row result.
    */
  def ngramCoverage(spark: SparkSession, dir: String,
                    ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')")
        .as("ws"))
    val tris = docs.select(explode(expr(
        "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("g"))
    val c3 = tris.groupBy("g").agg(count(lit(1)).as("c"))
    val tot = c3.agg(sum("c").as("t"))
    val top = c3.orderBy(col("c").desc, col("g")).limit(ks.max)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("g"))).cast("long"))
      .withColumn("covered", sum("c").over(Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // each rank row fans out to every budget it can serve; max(rk) per
    // budget is then the last AVAILABLE rank (= the budget itself
    // unless the type count falls short)
    val budgetArr = ks.sorted.map(k => s"${k}L").mkString("array(", ", ", ")")
    top.withColumn("top_k", explode(expr(s"filter($budgetArr, b -> b >= rk)")))
      .groupBy("top_k")
      .agg(max("rk").as("eff_k"), max("covered").as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("top_k"), col("eff_k"), col("covered"),
        col("t").as("total_positions"),
        round(col("covered").cast("double") / col("t"), 6).as("coverage"),
        (col("eff_k") < col("top_k")).as("truncated"))
      .orderBy("top_k")
  }

  def stupidBackoff(spark: SparkSession, dir: String, alpha: Double = 0.4,
                    salt: String = "graft_v1"): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("|"), lit(salt))), 1, 4), 16, 10).cast("long")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')").as("ws"),
        bucket.as("bk"))
    val train = docs.filter(col("bk") < 52429L)
    val test = docs.filter(col("bk") >= 58982L)
    def trisOf(d: DataFrame) = d.select(col("doc_id"), explode(expr(
        "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3), " +
          "i -> struct(ws[i] AS u, ws[i + 1] AS v, ws[i + 2] AS w)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<u: STRING, v: STRING, w: STRING>>) END"))
        .as("t"))
      .select(col("doc_id"), col("t.u").as("u"), col("t.v").as("v"),
        col("t.w").as("w"))
    val c3 = trisOf(train).groupBy("u", "v", "w").agg(count(lit(1)).as("c3"))
    val c2 = train.select(explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS a, ws[i + 1] AS b)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"))
        .as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c2"))
    val c1 = train.select(explode(col("ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum("c1").as("n"), count(lit(1)).as("v_sz"))
    val docTri = trisOf(test).groupBy("doc_id", "u", "v", "w")
      .agg(count(lit(1)).as("cnt"))
    val scored = docTri
      .join(c3, Seq("u", "v", "w"), "left")
      .join(c2.select(col("a").as("u"), col("b").as("v"),
        col("c2").as("c2uv")), Seq("u", "v"), "left")
      .join(c2.select(col("a").as("v"), col("b").as("w"),
        col("c2").as("c2vw")), Seq("v", "w"), "left")
      .join(c1.select(col("tok").as("v"), col("c1").as("c1v")),
        Seq("v"), "left")
      .join(c1.select(col("tok").as("w"), col("c1").as("c1w")),
        Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("tier",
        when(col("c3").isNotNull, lit("tri"))
          .when(col("c2vw").isNotNull, lit("bi"))
          .otherwise(lit("uni")))
      .withColumn("s",
        when(col("tier") === "tri",
          col("c3").cast("double") / col("c2uv"))
          .when(col("tier") === "bi",
            lit(alpha) * col("c2vw").cast("double") / col("c1v"))
          .otherwise(lit(alpha) * lit(alpha) *
            (coalesce(col("c1w"), lit(0L)) + 1).cast("double") /
            (col("n") + col("v_sz"))))
      .withColumn("lns", round(log(col("s")), 6).cast(D6))
    scored.groupBy("doc_id")
      .agg(sum("cnt").as("n_positions"),
        sum(when(col("tier") === "tri", col("cnt")).otherwise(0L)).as("n_tri"),
        sum(when(col("tier") === "bi", col("cnt")).otherwise(0L)).as("n_bi"),
        sum(when(col("tier") === "uni", col("cnt")).otherwise(0L)).as("n_uni"),
        sum(col("lns") * col("cnt")).as("ln_dec"))
      .select(col("doc_id"), col("n_positions"), col("n_tri"), col("n_bi"),
        col("n_uni"),
        round(col("ln_dec").cast("double") / col("n_positions"), 6)
          .as("avg_logscore"))
      .orderBy("doc_id")
  }

  /** X240: Good–Turing frequency smoothing (Good 1953) over TRIGRAM
    * types — the frequency-of-frequency table N_r and the smoothed
    * count r* = (r+1)·N_{r+1}/N_r every held-out LM estimate starts
    * from, plus the r = 0 row carrying the UNSEEN probability mass
    * N_1/N (what share of the next shard's trigram positions will be
    * novel — the OOV-planning figure for an LM cache or DF table at
    * 100 TB). Trigrams, not unigrams, deliberately: GT lives on the
    * LOW-count classes, and the fixture's (and any template-heavy
    * corpus's) unigram vocabulary has no tail — the trigram stream is
    * where singletons/doubletons actually exist. One row per raw
    * count r ∈ 0..`maxR`: N_r, N_{r+1}, the smoothed r*, the raw mass
    * r·N_r/N, and the GT-reassigned mass (r+1)·N_{r+1}/N (whose r = 0
    * cell IS the unseen mass).
    *
    * Scale shape: one trigram-type count (map-combinable,
    * AQE-skew-safe on the template head), then a ≤type-count-sized
    * second count — the freq-of-freq relation is a few hundred rows
    * at any corpus size (N_r is ~Zipf-thin in r); the r-grid fan-out
    * and the 1-row total broadcast are catalog-sized. Everything is
    * exact integer until the two rounded divisions per output row.
    */
  def goodTuring(spark: SparkSession, dir: String, maxR: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')")
        .as("ws"))
    val tris = docs.select(explode(expr(
        "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("g"))
    val counts = tris.groupBy("g").agg(count(lit(1)).as("c"))
    val ff = counts.groupBy(col("c").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val tot = counts.agg(sum("c").as("n_tokens"))
    val grid = spark.range(0, maxR + 1).select(col("id").as("r"))
    grid
      .join(ff, Seq("r"), "left")
      .join(ff.select((col("r") - 1).as("r"), col("n_r").as("n_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        col("n_tokens"))
      .select(col("r"), col("n_r"), col("n_next"),
        when(col("n_r") > 0,
          round((col("r") + 1).cast("double") * col("n_next") /
            col("n_r"), 6)).as("gt_count"),
        round(col("r").cast("double") * col("n_r") / col("n_tokens"), 6)
          .as("raw_mass"),
        round((col("r") + 1).cast("double") * col("n_next") /
          col("n_tokens"), 6).as("gt_mass"))
      .orderBy("r")
  }

  /** X241: vocabulary-richness estimators — the capture–recapture view
    * of a corpus: per source AND for the whole corpus, the observed
    * type count V, the singleton/doubleton counts f₁/f₂, bias-corrected
    * Chao1 richness V + f₁(f₁−1)/(2(f₂+1)) (Chao 1984 — how many types
    * a 100× crawl of the same source would surface), Good's sample
    * coverage 1 − f₁/N (what share of the next token stream is already
    * in vocabulary), type–token ratio, and the exact Simpson diversity
    * 1 − Σc(c−1)/(N(N−1)) (repeat-heaviness of the token distribution).
    * Every numerator is exact integer arithmetic; each output cell is
    * one rounded division — no float aggregates anywhere.
    *
    * Scale shape: two map-combinable count passes ((source, tok) then
    * (tok)); the f₁/f₂/Σc(c−1) reductions ride the same aggregates.
    * The ALL row genuinely regroups globally (types merge ACROSS
    * sources — a rollup over per-source counts would double-count
    * types, so the union of two branches is the correct plan, not a
    * missed GROUPING SETS).
    */
  def vocabRichness(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
    def stats(counts: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      counts.groupBy(key.as("source"))
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"),
          sum(col("c") * (col("c") - 1)).as("rep2"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("f1"),
          col("f2"),
          round(col("n_types") + col("f1").cast("double") * (col("f1") - 1) /
            (lit(2.0) * (col("f2") + 1)), 6).as("chao1"),
          round(lit(1.0) - col("f1").cast("double") / col("n_tokens"), 6)
            .as("goods_coverage"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          // guard the N(N−1) denominator: a source whose documents
          // yield ONE alphabetic token would divide by zero (NaN —
          // which also renders differently across engines); emit NULL
          // for the degenerate source instead
          when(col("n_tokens") > 1,
            round(lit(1.0) - col("rep2").cast("double") /
              (col("n_tokens").cast("double") * (col("n_tokens") - 1)), 6))
            .as("simpson_diversity"))
    val perSource = stats(
      toks.groupBy("source", "tok").agg(count(lit(1)).as("c")), col("source"))
    val overall = stats(
      toks.groupBy("tok").agg(count(lit(1)).as("c")), lit("ALL"))
    perSource.unionByName(overall).orderBy("source")
  }
}
