package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X1-X4 extension operators on small inline data. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  /** A deterministic overlapping corpus: even docs are 12-word sliding
    * windows over a 30-word vocab; odd docs are their near-dup (one extra
    * word). Neighbouring windows overlap too, so the >=0.6 pair set is
    * rich, not just the planted twins.
    */
  private def overlappingCorpus: Seq[(Long, String)] =
    (0 until 40).map { i =>
      val ws = (0 until 12).map(k => s"w${(i / 2 + k) % 30}")
      val extra = if (i % 2 == 1) Seq(s"x$i") else Seq.empty
      (i.toLong, (ws ++ extra).mkString(" "))
    }

  private def shingleSet(text: String): Set[String] = {
    val w = text.split(" ")
    (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  test("minhash banding: identical docs always become a candidate pair at est_sim 1") {
    // exact duplicates agree on every signature, hence on every band —
    // candidacy is guaranteed, not probabilistic
    val corpus = overlappingCorpus ++ Seq(
      (1000L, overlappingCorpus.head._2), (1001L, overlappingCorpus.head._2))
    val sigs = TextDedup.minhashSignatures(corpus.toDF("doc_id", "text"))
    val agree = sigs.groupBy("j").count().count()
    assert(agree == 8) // 8 permutations present
    val s0 = sigs.filter($"doc_id" === 0L).select("j", "sig").collect().toSet
    val s1000 = sigs.filter($"doc_id" === 1000L).select("j", "sig").collect().toSet
    val s1001 = sigs.filter($"doc_id" === 1001L).select("j", "sig").collect().toSet
    assert(s1000 == s1001 && s0 == s1000) // doc 0 shares the text too
  }

  test("jaccard prefix filter is lossless vs brute-force all-pairs") {
    val corpus = overlappingCorpus
    // brute force on the driver, straight from the definition
    val sets = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
    val expected = (for {
      a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
      inter = (sets(a) & sets(b)).size
      jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if jac >= 0.6
    } yield (a, b) -> jac).toMap
    assert(expected.nonEmpty, "corpus must produce qualifying pairs")

    val got = TextDedup
      .jaccardPairsOf(TextDedup.docSetsOf(corpus.toDF("doc_id", "text")), 0.6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-6, s"$k") }
  }

  test("simhash 16-bit banding is lossless for hamming <= 1 vs brute force") {
    val corpus = overlappingCorpus
    val ints = TextDedup.simhash(corpus.toDF("doc_id", "text"))
      .select($"doc_id", conv($"simhash", 2, 10).cast("long").as("sim"))
    val byId = ints.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sim")).toMap
    val expected = (for {
      a <- byId.keys; b <- byId.keys if a < b
      if java.lang.Long.bitCount(byId(a) ^ byId(b)) <= 1
    } yield (a, b)).toSet
    val got = TextDedup.simhashPairsOf(ints).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "corpus should produce at least one hd<=1 pair")
  }

  test("simhash64 4x16-bit banding is lossless for hamming <= 3 vs brute force") {
    // synthetic hi/lo halves with planted neighbors at hamming 1..4: the
    // banded join must reproduce the brute-force hd<=3 pair set exactly
    // (hd=4 pairs may or may not collide — they're filtered either way)
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, rnd.nextInt() & 0xffffffffL, rnd.nextInt() & 0xffffffffL))
    val planted = (0 until 12).map { i =>
      val (_, hi, lo) = base(i)
      val flips = i % 4 + 1 // hamming 1..4 neighbors
      val (h2, l2) = (0 until flips).foldLeft((hi, lo)) {
        case ((h, l), k) =>
          val bit = rnd.nextInt(64)
          if (bit < 32) (h ^ (1L << bit), l) else (h, l ^ (1L << (bit - 32)))
      }
      (1000L + i, h2, l2)
    }
    val ints = (base ++ planted).toDF("doc_id", "hi", "lo")
    val byId = (base ++ planted).map(t => t._1 -> (t._2, t._3)).toMap
    val expected = (for {
      a <- byId.keys; b <- byId.keys if a < b
      ha = java.lang.Long.bitCount(byId(a)._1 ^ byId(b)._1) +
        java.lang.Long.bitCount(byId(a)._2 ^ byId(b)._2)
      if ha <= 3
    } yield (a, b)).toSet
    val got = TextDedup.simhash64PairsOf(ints).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "planted neighbors must produce hd<=3 pairs")
  }

  test("simhash64 of identical docs is identical; bitstring is 64 chars of 0/1") {
    val docs = Seq(
      (1L, "spark query engine test"), (2L, "spark query engine test"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val h = TextDedup.simhash64(docs).orderBy("doc_id")
      .select("simhash64").as[String].collect()
    assert(h(0) == h(1))
    assert(h.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
  }

  test("train/test split: deterministic, complete, and near 80/10/10") {
    val dir = "/root/testdata/sf0.01" // 500 docs: ratios are meaningful
    val a = TextStats.trainTestSplit(spark, dir).collect()
    val b = TextStats.trainTestSplit(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "split must be identical across runs")
    val bySplit = a.groupBy(_.getString(1))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    val total = bySplit.values.sum.toDouble
    assert(bySplit.keySet == Set("train", "validation", "test"))
    assert(math.abs(bySplit("train") / total - 0.8) < 0.06,
      s"train share off: $bySplit")
    assert(math.abs(bySplit("validation") / total - 0.1) < 0.05)
    assert(math.abs(bySplit("test") / total - 0.1) < 0.05)
  }

  test("contamination: benchmark held out, ratios well-formed, flag matches") {
    val rows = TextDedup.contamination(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 97 != 0, s"benchmark doc $id leaked into the scan output")
      val (n, c) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated"))
      val ratio = r.getAs[Double]("contam_ratio")
      assert(c >= 0 && c <= n)
      assert(math.abs(ratio - math.rint(c.toDouble / n * 1e6) / 1e6) < 1e-9)
      assert(r.getAs[Boolean]("flagged") == (ratio > 0.10))
    }
  }

  test("cosine: identical vectors similarity 1, orthogonal 0") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")).as("qv"))
    val sims = df.filter($"vec_id" =!= 0).crossJoin(q)
      .select($"vec_id",
        (Similarity.dot(transform($"embedding", _.cast("double")), $"qv") /
          (sqrt(Similarity.dot(transform($"embedding", _.cast("double")),
            transform($"embedding", _.cast("double")))) *
            sqrt(Similarity.dot($"qv", $"qv")))).as("cos"))
      .orderBy("vec_id").collect()
    assert(math.abs(sims(0).getAs[Double]("cos") - 1.0) < 1e-12)
    assert(math.abs(sims(1).getAs[Double]("cos")) < 1e-12)
  }

  test("minhash: identical docs agree on all signatures, disjoint docs on none") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(docs)
    val s1 = sigs.filter($"doc_id" === 1).orderBy("j").select("sig").as[String].collect()
    val s2 = sigs.filter($"doc_id" === 2).orderBy("j").select("sig").as[String].collect()
    val s3 = sigs.filter($"doc_id" === 3).orderBy("j").select("sig").as[String].collect()
    assert(s1.toSeq == s2.toSeq)
    assert(s1.toSeq.zip(s3.toSeq).forall { case (a, b) => a != b })
  }

  test("simhash of identical docs is identical; bitstring is 32 chars of 0/1") {
    val docs = Seq(
      (1L, "spark query engine test"), (2L, "spark query engine test"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val h = TextDedup.simhash(docs).orderBy("doc_id")
      .select("simhash").as[String].collect()
    assert(h(0) == h(1))
    assert(h.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
  }

  test("jaccard: near-identical pair found, disjoint pair absent") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val sh = TextDedup.shingles(docs)
    val card = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // doc1/doc2 share shingles; doc3 shares none
    val shared = sh.as("a").join(sh.as("b"),
      col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id")).count().collect()
    assert(shared.length == 1)
    assert(shared.head.getLong(0) == 1L && shared.head.getLong(1) == 2L)
  }

  test("IVF ANN: results come only from probed cells; self excluded; bounded k") {
    val r = Similarity.ivfTopK(spark, sf001, queryId = 0L, k = 10, nProbe = 2)
      .collect()
    assert(r.length <= 10 && r.nonEmpty)
    assert(r.map(_.getAs[Long]("vec_id")).forall(_ != 0L))
    assert(r.map(_.getAs[Long]("cell")).distinct.length <= 2) // ≤ nProbe cells
    // sims sorted descending
    val sims = r.map(_.getAs[Double]("cos_sim")).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("langid/quality agree with a scala recomputation on a fixture doc") {
    val doc0 = graft.tables.Tables.documents(spark, sf001)
      .filter($"doc_id" === 0).select("text").as[String].collect().head
    val words = doc0.split(" ")
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "on")
    val expectedStops = words.count(stop)
    val li = TextStats.langId(spark, sf001).filter($"doc_id" === 0).collect().head
    assert(li.getAs[Long]("n_words") == words.length.toLong)
    assert(li.getAs[Long]("n_stopwords") == expectedStops.toLong)
    val q = TextStats.quality(spark, sf001).filter($"doc_id" === 0).collect().head
    assert(q.getAs[Long]("n_distinct_words") == words.distinct.length.toLong)
    assert(q.getAs[Long]("n_letters") == words.map(_.length).sum.toLong)
  }

  test("near-dup clusters: a valid components assignment over the pair graph") {
    val clusters = TextDedup.nearDupClusters(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = TextDedup.cachedMinhashPairs(spark, sf001)
      .filter($"est_sim" >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && clusters.nonEmpty)
    // every pair endpoint is assigned, and both ends share a cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id = the minimum member (so the canonical flag is sound)
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid id is not its min member")
    }
    // clusters are maximal: no label is another cluster's member (a
    // non-converged propagation would leave chained labels behind)
    assert(clusters.values.toSet.subsetOf(clusters.keySet))
    clusters.values.foreach(cid => assert(clusters(cid) == cid))
  }

  test("dup coverage: exact dup pair at ratio 1, unique doc at 0, repeats count") {
    // doc 0 == doc 1 (exact dup); doc 2 shares nothing; doc 3 repeats its
    // own shingle twice but shares nothing cross-doc -> ratio 0
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"),
      (3L, "m n o k l m n o k l")).toDF("doc_id", "text")
    val rows = TextDedup.dupCoverageOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[Double]("dup_ratio") == 1.0)
    assert(rows(1L).getAs[Double]("dup_ratio") == 1.0)
    assert(rows(2L).getAs[Double]("dup_ratio") == 0.0)
    assert(rows(3L).getAs[Double]("dup_ratio") == 0.0)
    assert(rows(0L).getAs[Long]("n_shingles") == 4L) // 8 words -> 4 shingles
    assert(rows(3L).getAs[Long]("n_shingles") == 6L)
  }

  test("strip boilerplate: shared chunks removed in order, exact dups emptied") {
    // chunk granularity is 5 words; docs 0/1 share their first chunk
    // (boilerplate) but differ in the second; doc 2 is untouched
    val docs = Seq(
      (0L, "the same legal header here unique tail zero one two"),
      (1L, "the same legal header here different tail three four five"),
      (2L, "entirely fresh content with no repeats at all here now")).toDF("doc_id", "text")
    val rows = TextDedup.stripBoilerplateOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[Long]("n_chunks") == 2L)
    assert(rows(0L).getAs[Long]("n_removed") == 1L)
    assert(rows(0L).getAs[String]("cleaned_text") == "unique tail zero one two")
    assert(rows(1L).getAs[String]("cleaned_text") == "different tail three four five")
    assert(rows(2L).getAs[Long]("n_removed") == 0L)
    assert(rows(2L).getAs[String]("cleaned_text") ==
      "entirely fresh content with no repeats at all here now")

    // exact dups lose every chunk
    val dup = Seq((0L, "x y z w v u t s q r"), (1L, "x y z w v u t s q r"))
      .toDF("doc_id", "text")
    val cleaned = TextDedup.stripBoilerplateOf(dup).collect()
    assert(cleaned.forall(_.getAs[String]("cleaned_text") == ""))
    assert(cleaned.forall(_.getAs[Long]("n_removed") == 2L))
  }

  test("stratified sample: exactly min(20, class size) per lang, group-limited plan") {
    val s = TextStats.stratifiedSample(spark, sf001)
    val perLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = graft.tables.Tables.documents(spark, sf001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (lang, n) =>
      assert(perLang(lang) == math.min(20L, n), s"$lang: ${perLang.get(lang)}")
    }
    // the row_number <= k filter must plan as a per-group limit, not a
    // full per-partition sort-everything window
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    // deterministic: a second run draws the identical sample
    assert(s.collect().toSeq == TextStats.stratifiedSample(spark, sf001).collect().toSeq)
  }

  test("shard pack: two-phase prefix sum == naive global window; shards bounded") {
    import org.apache.spark.sql.expressions.Window
    val packed = TextStats.shardPack(spark, sf001)
    val naive = graft.tables.Tables.documents(spark, sf001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(Window.orderBy("doc_id")))
      .withColumn("shard_id", expr("(cum_tokens - n_tokens) div 2000"))
      .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
      .orderBy("doc_id")
    assert(packed.collect().toSeq == naive.collect().toSeq)
    // every shard's span is ~budget: consecutive shard ids, first doc of
    // each shard starts inside its budget window
    val shards = packed.groupBy("shard_id")
      .agg(min($"cum_tokens" - $"n_tokens").as("first_start"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    shards.foreach { case (sid, start) =>
      assert(start / 2000 == sid)
    }
    val ids = shards.keys.toSeq.sorted
    assert(ids == (ids.min to ids.max))
  }

  test("repetition: degenerate text flags high, varied text low, bounds hold") {
    val rows = TextStats.repetition(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (r2, r3) = (r.getAs[Double]("rep2"), r.getAs[Double]("rep3"))
      assert(r2 >= 0.0 && r2 <= 1.0 && r3 >= 0.0 && r3 <= 1.0)
      assert(r2 >= r3 - 1e-9 || r3 <= r2 + 0.5) // 3-grams repeat no more easily
    }
    // hand-computed: "x y x y x y" -> g2 = [x y, y x, x y, y x, x y]
    // (5 grams, 2 distinct) -> rep2 = 0.6 and flagged; a varied doc -> 0
    val planted = TextStats.repetitionOf(Seq(
      (0L, "x y x y x y"),
      (1L, "one two three four five six")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(planted(0L).getAs[Double]("rep2") == 0.6)
    assert(planted(0L).getAs[Boolean]("flagged"))
    assert(planted(1L).getAs[Double]("rep2") == 0.0)
    assert(!planted(1L).getAs[Boolean]("flagged"))
    // degenerate sub-2/3-word docs must yield null ratios (undefined),
    // never crash on Spark's descending sequence(1, 0)
    val short = TextStats.repetitionOf(Seq(
      (2L, "solo"), (3L, "two words")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(short(2L).isNullAt(short(2L).fieldIndex("rep2")))
    assert(short(3L).getAs[Double]("rep2") == 0.0) // one bigram, distinct
    assert(short(3L).isNullAt(short(3L).fieldIndex("rep3")))
  }

  test("funnel: step counts monotone, ratios consistent, steps named") {
    val rows = Events.funnel(spark, sf001).collect()
    assert(rows.map(_.getAs[String]("step")).toSeq ==
      Seq("1_view", "2_click", "3_purchase"))
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2),
      s"funnel must be non-increasing: ${ns.toSeq}")
    assert(ns(0) > 0, "fixture has viewers")
    // conv_from_prev(step1) = 1 by the COALESCE(prev, n) convention
    assert(rows(0).getAs[Double]("conv_from_prev") == 1.0)
    rows.foreach { r =>
      val (cf, cp) = (r.getAs[Double]("conv_from_first"),
        r.getAs[Double]("conv_from_prev"))
      assert(cf >= 0 && cf <= 1 && cp >= 0 && cp <= 1)
    }
    // strict-ordering semantics: step-2 users are a subset of step-1 users
    // recomputed independently (first view time, then a later click)
    val ev = graft.tables.Tables.events(spark, sf001)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val t1 = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._3).min }
    val expectedS2 = ev.filter(_._2 == "click")
      .filter(e => t1.get(e._1).exists(e._3 > _)).map(_._1).distinct.size
    assert(ns(1) == expectedS2)
  }

  test("pii redact: counts match the planted pattern; redaction is total") {
    val rows = TextStats.piiRedact(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_emails") == (if (id % 3 == 0) 1L else 0L),
        s"doc $id email count")
      assert(r.getAs[Long]("n_ips") == (if (id % 4 == 0) 1L else 0L),
        s"doc $id ip count")
      assert(r.getAs[Long]("n_phones") == (if (id % 5 == 0) 1L else 0L),
        s"doc $id phone count")
    }
    // no pattern survives its own redaction pass (counts on redacted = 0)
    val email = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
    val survivors = TextStats.piiRedactAugmented(spark, sf001)
      .select(size(regexp_extract_all($"redacted", lit(email), lit(0))).as("e"),
        size(regexp_extract_all($"redacted",
          lit("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"), lit(0))).as("i"),
        size(regexp_extract_all($"redacted", lit("555-[0-9]{4}"), lit(0))).as("p"))
      .agg(sum($"e" + $"i" + $"p")).head().getLong(0)
    assert(survivors == 0L, "redacted text must contain no residual PII")
  }

  test("bm25: scores agree with a scala recomputation; ordering sane") {
    val docs = graft.tables.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val terms = Seq("spark", "join", "window")
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.length.toDouble).sum / n
    val dfs = terms.map(t => t -> docs.values.count(_.contains(t)).toDouble).toMap
    def score(ws: Array[String]): Double = {
      val dl = ws.length.toDouble
      terms.map { t =>
        val tf = ws.count(_ == t).toDouble
        val idf = math.log(1 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
        idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
      }.sum
    }
    val got = Search.bm25TopK(spark, sf001).collect()
    assert(got.length == 10)
    got.foreach { r =>
      assert(r.getAs[Long]("n_matched") >= 1)
      val expected = BigDecimal(score(docs(r.getAs[Long]("doc_id"))))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      assert(math.abs(r.getAs[Double]("score") - expected) <= 1e-6,
        s"doc ${r.getAs[Long]("doc_id")}: ${r.getAs[Double]("score")} vs $expected")
    }
    // the returned set is the true top-10 of the full recomputation
    val allScores = docs.toSeq.map { case (id, ws) => (score(ws), id) }
      .filter(_._1 > 0).sortBy { case (s, id) => (-s, id) }.take(10).map(_._2).toSet
    assert(got.map(_.getAs[Long]("doc_id")).toSet == allScores)
  }

  test("incremental merge equals full recompute; cutoff splits the input") {
    val merged = Materialize.incrAggMerge(spark, sf001).collect()
    val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val full = graft.tables.Tables.events(spark, sf001)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(d2)).cast("double").as("sum_value"),
        min(unix_micros($"ts")).as("first_us"),
        max(unix_micros($"ts")).as("last_us"))
      .withColumn("avg_value", round($"sum_value" / $"n_events", 6))
      .orderBy("user_id", "event_type").collect()
    assert(merged.toSeq == full.toSeq)
    // the cutoff actually splits: both sides non-empty at this fixture
    val cut = lit("2024-01-20 00:00:00").cast("timestamp")
    val ev = graft.tables.Tables.events(spark, sf001)
    assert(ev.filter($"ts" < cut).count() > 0)
    assert(ev.filter($"ts" >= cut).count() > 0)
  }

  test("bloom predicate: interpreted and codegen paths agree") {
    val o = graft.tables.Tables.orders(spark, sf001)
      .filter($"o_orderpriority" === "1-URGENT")
    def kept(wholeStage: Boolean): Long =
      graft.GraftSession.scoped(spark,
        "spark.sql.codegen.wholeStage" -> wholeStage.toString) { s =>
        graft.tables.Tables.lineitem(s, sf001)
          .filter(graft.functions.BloomPrefilter
            .prefilter(graft.GraftSession.bind(s, o), "o_orderkey", 100000)($"l_orderkey"))
          .count()
      }
    assert(kept(true) == kept(false))
  }

  test("two bloom predicates built before analysis bind to their own filters") {
    // regression: a fixed registration name bound every outstanding
    // call_function to the LAST-built bloom — two predicates constructed
    // before the consuming plan is analyzed must stay independent
    val keysA = Seq(1L, 2L, 3L).toDF("k")
    val keysB = Seq(100L, 200L).toDF("k")
    val pA = graft.functions.BloomPrefilter.prefilter(keysA, "k", 100)($"x")
    val pB = graft.functions.BloomPrefilter.prefilter(keysB, "k", 100)($"y")
    val probe = Seq((1L, 100L), (1L, 999L), (50L, 100L), (2L, 200L))
      .toDF("x", "y")
    val both = probe.filter(pA && pB).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bloom has no false negatives: exactly the pairs in A×B survive
    assert(both == Set((1L, 100L), (2L, 200L)),
      s"predicates cross-bound to the wrong bloom: $both")
  }

  test("bloom prefilter: equals plain join; predicate below the shuffle") {
    val q = Analytics.bloomPrefilterJoin(spark, sf001)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"),
      s"custom bloom predicate must appear in the physical plan:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"SHUFFLE_MERGE hint must pin the shuffle join (the scale scenario):\n$plan")
    // the membership test must sit scan-side, before the exchange
    val scanSide = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(scanSide.contains("graft_bloom_might_contain"),
      "prefilter must be under the join (probe side), not above it")
    val plain = graft.tables.Tables.lineitem(spark, sf001)
      .join(graft.tables.Tables.orders(spark, sf001)
          .filter($"o_orderpriority" === "1-URGENT"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          (lit(1) - $"l_discount".cast(org.apache.spark.sql.types.DecimalType(18, 2))))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority").collect()
    assert(q.collect().toSeq == plain.toSeq)
    // selectivity: the bloom pass drops most non-urgent lineitems
    val o = graft.tables.Tables.orders(spark, sf001)
      .filter($"o_orderpriority" === "1-URGENT")
    val li = graft.tables.Tables.lineitem(spark, sf001)
    val kept = li.filter(graft.functions.BloomPrefilter
      .prefilter(o, "o_orderkey", 100000)($"l_orderkey")).count()
    val total = li.count()
    assert(kept < total * 6 / 10,
      s"bloom should reject most rows: kept $kept of $total")
  }

  test("salted skew join equals the plain join; build replicated S ways") {
    val salted = Analytics.saltedSkewJoin(spark, sf001).collect()
    val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val plain = graft.tables.Tables.lineitem(spark, sf001)
      .join(graft.tables.Tables.orders(spark, sf001),
        $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast(d2) * (lit(1) - $"l_discount".cast(d2)))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority").collect()
    assert(salted.toSeq == plain.toSeq)
    // the salt genuinely spreads the key: all S salt values occur
    val saltCard = graft.tables.Tables.lineitem(spark, sf001)
      .select(pmod($"l_linenumber", lit(4)).as("salt"))
      .distinct().count()
    assert(saltCard == 4)
  }

  test("rolling 7d window agrees with a scala recomputation for one user") {
    val rows = Events.rolling7d(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_7d") >= r.getAs[Long]("n_day"))
      assert(r.getAs[Double]("sum_7d") >= r.getAs[Double]("sum_day") - 1e-9 ||
        r.getAs[Double]("sum_day") <= 0)
    }
    val u = rows.head.getAs[Long]("user_id")
    val mine = rows.filter(_.getAs[Long]("user_id") == u)
      .map(r => r.getAs[Long]("day_num") ->
        (r.getAs[Long]("n_day"), r.getAs[Long]("n_7d"))).toMap
    mine.foreach { case (day, (_, n7)) =>
      val expect = mine.filter { case (d, _) => d >= day - 6 && d <= day }
        .values.map(_._1).sum
      assert(n7 == expect, s"user $u day $day: $n7 vs $expect")
    }
  }

  test("multimodal decode: payloads are real PNGs; imageio round trip exact") {
    val payloads = Multimodal.pngPayloads(spark, sf001).collect()
    assert(payloads.nonEmpty)
    // genuine PNG container: 8-byte magic on every payload
    val magic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    payloads.foreach(p => assert(p.content.take(8).sameElements(magic),
      s"doc ${p.doc_id}: not a PNG header"))
    // decoded dims + checksum match the stated pixel function exactly
    val decoded = Multimodal.decodePng(spark, sf001).collect()
      .map(d => d.doc_id -> d).toMap
    val dims = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decoded.size == dims.size)
    decoded.values.foreach { d =>
      val w = 8 + (d.doc_id % 9)
      val h = 8 + (dims(d.doc_id) % 9)
      assert(d.width == w && d.height == h,
        s"doc ${d.doc_id}: ${d.width}x${d.height} vs ${w}x$h")
      val expect = (for {
        y <- 0L until h; x <- 0L until w
      } yield java.lang.Math.floorMod(d.doc_id * 31 + x * 7 + y * 13, 256)).sum
      assert(d.px_checksum == expect,
        s"doc ${d.doc_id}: checksum ${d.px_checksum} vs $expect")
    }
  }

  test("multimodal embed: vectors recompute from md5 nibbles; top-k sane") {
    val rows = Multimodal.embedTopK(spark, sf001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(r.getAs[Long]("doc_id") != 0L)
    }
    // recompute the top doc's cosine against the query doc in scala
    def emb(text: String): Array[Double] = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until 8).map(j =>
        java.lang.Long.parseLong(h.substring(j * 4, j * 4 + 4), 16)
          .toDouble / 32768.0 - 1.0).toArray
    }
    val texts = graft.tables.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = emb(texts(0L))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top = rows.head
    val expect = BigDecimal(cos(emb(texts(top.getAs[Long]("doc_id"))), q))
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(math.abs(top.getAs[Double]("cos_sim") - expect) <= 1e-6)
  }

  test("rolling distinct users: agrees with a scala recount per day") {
    val rows = Events.rollingDistinctUsers(spark, sf001).collect()
    assert(rows.nonEmpty)
    val du = graft.tables.Tables.events(spark, sf001)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), $"user_id")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { r =>
      val d = r.getAs[Long]("day_num")
      val expect = du.filter { case (dd, _) => dd >= d - 6 && dd <= d }
        .map(_._2).distinct.size
      assert(r.getAs[Long]("users_7d") == expect, s"day $d")
    }
  }

  test("retention cohorts: offset-0 cells are full, later cells shrink") {
    val rows = Events.retentionCohorts(spark, sf001).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_week"))
    byCohort.foreach { case (_, cells) =>
      val zero = cells.find(_.getAs[Long]("week_offset") == 0L).get
      assert(zero.getAs[Double]("retention") == 1.0)
      cells.foreach { c =>
        assert(c.getAs[Long]("n_active") <= zero.getAs[Long]("n_active"))
        val r = c.getAs[Double]("retention")
        assert(r > 0 && r <= 1.0)
      }
    }
    // cohorts partition the user base: sizes sum to the distinct users
    val users = graft.tables.Tables.events(spark, sf001)
      .select("user_id").distinct().count()
    val sumSizes = byCohort.values
      .map(_.find(_.getAs[Long]("week_offset") == 0L).get.getAs[Long]("n_active"))
      .sum
    assert(sumSizes == users)
  }

  test("semantic keep: kept == vectors never dominated by a lower id") {
    val out = Similarity.semanticKeep(spark, sf001).collect()
    val keptIds = out.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSet
    val all = out.map(_.getAs[Long]("vec_id")).toSet
    // by definition: dropped == appears as the HIGHER id of a pair in the
    // (independently oracled) bucketed cosine pair relation
    val dominated = Similarity.embedCosinePairs(spark, sf001)
      .select("vec_b").collect().map(_.getLong(0)).toSet
    assert(keptIds == all -- dominated)
    assert(all.size == graft.tables.Tables.embeddings(spark, sf001).count())
    // every vector appears exactly once
    assert(out.length == all.size)
  }

  test("collocations: counts match a scala recomputation of the top pair") {
    val rows = Search.collocations(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val docs = graft.tables.Tables.documents(spark, sf001)
      .select("text").collect().map(_.getString(0).split(" ").toSet)
    val top = rows.head
    val (w1, w2) = (top.getAs[String]("w1"), top.getAs[String]("w2"))
    val expectDfp = docs.count(s => s.contains(w1) && s.contains(w2))
    assert(top.getAs[Long]("dfp") == expectDfp)
    assert(top.getAs[Long]("dfw1") == docs.count(_.contains(w1)))
    assert(top.getAs[Long]("dfw2") == docs.count(_.contains(w2)))
    // dfp is the max over the returned page and every pair is ordered
    rows.foreach { r =>
      assert(r.getAs[String]("w1") < r.getAs[String]("w2"))
      assert(r.getAs[Long]("dfp") <= top.getAs[Long]("dfp"))
      assert(r.getAs[Long]("dfp") <=
        math.min(r.getAs[Long]("dfw1"), r.getAs[Long]("dfw2")))
    }
  }

  test("volume anomaly: z-scores recompute; flags match the 2-sigma rule") {
    val rows = DataQuality.volumeAnomalies(spark, sf001).collect()
    assert(rows.nonEmpty)
    val ns = rows.map(_.getAs[Long]("n").toDouble)
    val mean = ns.sum / ns.length
    val std = math.sqrt(ns.map(x => x * x).sum / ns.length - mean * mean)
    rows.foreach { r =>
      val z = (r.getAs[Long]("n") - mean) / std
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-5)
      assert(r.getAs[Boolean]("is_anomaly") ==
        (math.abs(r.getAs[Long]("n") - mean) > 2.0 * std))
    }
  }

  test("quality ranking: pr/decile well-formed and order-consistent") {
    val rows = TextStats.qualityRanked(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pr, dec) = (r.getAs[Double]("pr"), r.getAs[Long]("decile"))
      assert(pr >= 0.0 && pr <= 1.0)
      assert(dec >= 1L && dec <= 10L)
    }
    // within one language, pr and decile are monotone in
    // (quality_score, doc_id) order, and deciles are near-equal cells
    val lang = rows.head.getAs[String]("lang")
    val mine = rows.filter(_.getAs[String]("lang") == lang)
      .sortBy(r => (r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id")))
    assert(mine.map(_.getAs[Double]("pr")).toSeq ==
      mine.map(_.getAs[Double]("pr")).sortBy(identity).toSeq)
    assert(mine.map(_.getAs[Long]("decile")).toSeq ==
      mine.map(_.getAs[Long]("decile")).sortBy(identity).toSeq)
    val cells = mine.groupBy(_.getAs[Long]("decile")).values.map(_.length)
    assert(cells.max - cells.min <= 1, s"NTILE cells must differ by <=1: $cells")
  }

  test("KMV sketch: partitioning-invariant, small-group null, sane estimate") {
    val rows = Analytics.kmvDistinct(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact) = (r.getAs[Double]("kmv_est"),
        r.getAs[Long]("exact_distinct"))
      // k=16 KMV: rse ~ 1/sqrt(k-2) ~ 27%; 2x that as the sanity band
      assert(math.abs(est - exact) / exact <= 0.55, s"KMV off: $est vs $exact")
      assert(r.getAs[String]("kth_min").length == 32)
    }

    // the merge path must be order/partitioning-invariant: 1 partition
    // and 13 partitions produce the identical k-th minimum
    val kmv = udaf(new graft.functions.KmvMinK(4))
    def kth(parts: Int): Seq[org.apache.spark.sql.Row] = {
      val df = (0 until 100).map(i => (i % 3, s"v$i")).toDF("g", "s")
        .repartition(parts)
      df.groupBy("g").agg(kmv(md5($"s")).as("k4")).orderBy("g").collect().toSeq
    }
    assert(kth(1) == kth(13))

    // fewer than k distinct values -> null (caller falls back to exact)
    val tiny = Seq((0, "a"), (0, "b"), (0, "a")).toDF("g", "s")
    val t = tiny.groupBy("g").agg(kmv(md5($"s")).as("k4")).collect().head
    assert(t.isNullAt(1))
  }
}
