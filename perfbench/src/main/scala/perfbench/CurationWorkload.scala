package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{TextDedup, TextStats}
import graft.tables.Tables

/** A training-data curation chain over a seeded corpus: exact dedup ->
  * `nearDupClusters` -> quality and PII filters -> kept docs landed ->
  * `shardPack` written as parquet. Each unit runs the chain over a fresh
  * copy of the corpus in a new directory, and the memos are cleared
  * between units: the memo key is (application, directory) with no
  * content fingerprint, so a reused directory would time cache hits.
  */
object CurationWorkload {
  /** The largest corpus whose runs fit the benchmark's run budget (sizing
    * runs in perfbench/README.md).
    */
  val Docs = 10000
  val Vocab = 50000
  val ExactShare = 0.03
  val NearShare = 0.05
  /** Share of docs that keep a leading 30-60% of an original's words and
    * draw the rest afresh: LSH candidates that mostly fall below the
    * near-duplicate threshold, so `dedup.pair_yield` measures precision.
    */
  val PartialShare = 0.05
  /** Share of planted near-duplicate pairs the clusters must join. */
  val MinRecall = 0.9

  final case class Corpus(rows: Seq[Row], exactCopies: Set[Long],
                          nearPairs: Seq[(Long, Long)])

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Seeded, single-threaded corpus: Zipf(1.0) words over `Vocab` tokens,
    * 30-150 words a doc, with planted exact copies, near copies (one word
    * in 40 replaced, at least one) and partial copies of earlier originals.
    */
  def generate(seed: Long, n: Int = Docs): Corpus = {
    val rnd = new SplittableRandom(seed)
    val cdf = {
      val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _ / total).tail
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      "w" + Integer.toString(if (i >= 0) i else math.min(-i - 1, Vocab - 1), 36)
    }
    val langs = Vector("en", "de", "fr", "es", "zh")
    val originals = mutable.ArrayBuffer.empty[Int]
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val seen = mutable.HashSet.empty[String]
    val exact = mutable.Set.empty[Long]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val rows = (0 until n).map { id =>
      val u = rnd.nextDouble()
      val words =
        if (originals.size >= 50 && u < ExactShare) {
          val o = originals(rnd.nextInt(originals.size))
          exact += id.toLong
          texts(o)
        } else if (originals.size >= 50 && u < ExactShare + NearShare) {
          val o = originals(rnd.nextInt(originals.size))
          val w = texts(o).clone()
          (0 until math.max(1, w.length / 40)).foreach { _ =>
            val k = rnd.nextInt(w.length)
            var x = word()
            while (x == w(k)) x = word()
            w(k) = x
          }
          near += ((o.toLong, id.toLong))
          w
        } else if (originals.size >= 50 && u < ExactShare + NearShare + PartialShare) {
          val o = texts(originals(rnd.nextInt(originals.size)))
          val keep = (o.length * (0.3 + 0.3 * rnd.nextDouble())).toInt
          var w = o.take(keep) ++ Array.fill(o.length - keep)(word())
          while (seen(w.mkString(" "))) w = o.take(keep) ++ Array.fill(o.length - keep)(word())
          w
        } else {
          var w = Array.fill(30 + rnd.nextInt(121))(word())
          while (seen(w.mkString(" "))) w = Array.fill(30 + rnd.nextInt(121))(word())
          originals += id
          w
        }
      texts += words
      val text = words.mkString(" ")
      seen += text
      Row(id.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(5)}",
        text.length.toLong)
    }
    Corpus(rows, exact.toSet, near.toSeq)
  }

  def run(r: Run): Map[String, Metric] = {
    val spark = r.spark
    val t = r.tracer
    val g0 = System.nanoTime()
    val corpus = generate(r.seed)
    val src = r.work.resolve("corpus")
    spark.createDataFrame(spark.sparkContext.parallelize(corpus.rows, r.cores), DocSchema)
      .write.parquet(src.resolve("documents.parquet").toString)
    r.log(f"curation_chain: generated ${corpus.rows.size} docs " +
      f"(${corpus.exactCopies.size} exact copies, ${corpus.nearPairs.size} near copies) " +
      f"in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val allIds = corpus.rows.map(_.getLong(0)).toSet


    r.loop(minSteady = if (r.traced) 3 else 2) { (i, tracedUnit) =>
      val dir = r.work.resolve(s"corpus_$i")
      val keptDir = r.work.resolve(s"kept_$i")
      val shards = r.work.resolve(s"shards_$i")
      Fs.copyTree(src, dir)
      val before = r.storageBytes
      val res = r.attempt(s"curation_chain chain $i") {
        val d = dir.toString
        val c0 = Timing.start()
        t.span("chain") {
          val clusters = t.span("dedup.clusters")(TextDedup.nearDupClusters(spark, d))
          val exactKeep = TextDedup.exact(spark, d).select(col("keep_doc_id").as("doc_id"))
          val quality = TextStats.quality(spark, d)
            .filter(col("quality_score") >= 0.2 && col("n_words") >= 20)
            .select("doc_id")
          val pii = TextStats.piiRedactAugmented(spark, d).select("doc_id", "redacted")
          t.span("textstats.land") {
            Tables.documents(spark, d).select("doc_id", "lang", "source")
              .join(exactKeep, "doc_id")
              .join(clusters.filter(!col("is_canonical")).select("doc_id"),
                Seq("doc_id"), "left_anti")
              .join(quality, "doc_id")
              .join(pii, "doc_id")
              .select(col("doc_id"), col("redacted").as("text"), col("lang"),
                col("source"), length(col("redacted")).cast("long").as("n_chars"))
              .write.parquet(keptDir.resolve("documents.parquet").toString)
          }
          t.span("textstats.pack") {
            TextStats.shardPack(spark, keptDir.toString).write.parquet(shards.toString)
          }
        }
        val chain = c0.stop()
        check(spark, d, keptDir, shards, corpus, allIds)
        if (tracedUnit && i > 0) tracedLayers(r, d)
        chain
      }
      if (r.traced) r.rec("memo.cached_bytes", (r.storageBytes - before).toDouble)
      TextDedup.clearCaches(spark)
      TextStats.clearCaches(spark)
      if (r.traced) r.rec("memo.cleared_bytes", (r.storageBytes - before).toDouble)
      Seq(dir, keptDir, shards).foreach(Fs.deleteTree)
      res
    }
    if (!r.traced) Map.empty
    else {
      EntryMix.run(r)
      Layers.report(r.samples, Layers.curationNames)
    }
  }

  /** Outputs against the generator's plan, outside the timed section. */
  private def check(spark: SparkSession, d: String, keptDir: Path, shards: Path,
                    corpus: Corpus, allIds: Set[Long]): Unit = {
    val kept = TextDedup.exact(spark, d).select("keep_doc_id").collect()
      .map(_.getLong(0)).toSet
    val dropped = allIds -- kept
    if (dropped != corpus.exactCopies)
      throw new IllegalStateException(
        s"exact dedup dropped ${(dropped -- corpus.exactCopies).size} docs that " +
          s"are not planted copies and kept ${(corpus.exactCopies -- dropped).size} " +
          s"of ${corpus.exactCopies.size} planted copies")
    val label = TextDedup.nearDupClusters(spark, d).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val joined = corpus.nearPairs.count { case (a, b) =>
      label.get(a).exists(l => label.get(b).contains(l))
    }
    val recall = joined.toDouble / math.max(1, corpus.nearPairs.size)
    if (recall < MinRecall)
      throw new IllegalStateException(f"near-dup recall $recall%.3f < $MinRecall")
    val docs = spark.read.parquet(keptDir.resolve("documents.parquet").toString)
      .select("doc_id", "text").collect()
    if (docs.exists(x => corpus.exactCopies(x.getLong(0))))
      throw new IllegalStateException("a planted exact copy was kept")
    val tokens = docs.map(_.getString(1).split(" ", -1).length.toLong).sum
    val packed = spark.read.parquet(shards.toString)
      .agg(count(lit(1)), sum("n_tokens")).head()
    if (packed.getLong(0) != docs.length || packed.getLong(1) != tokens)
      throw new IllegalStateException(
        s"shards hold ${packed.getLong(0)} docs / ${packed.getLong(1)} tokens, " +
          s"kept ${docs.length} docs / $tokens tokens")
  }

  /** Span readings of the traced chain plus the standalone dedup and
    * filter probes.
    */
  private def tracedLayers(r: Run, d: String): Unit = {
    val spark = r.spark
    val t = r.tracer
    val rec = r.rec _
    def last(name: String) = t.named(name).lastOption.map(t.counts)
    last("chain").foreach(Layers.recordSpark(_, rec))
    last("dedup.clusters").foreach { c =>
      rec("dedup.clusters_s", c.wallS); rec("dedup.clusters_jobs", c.jobs.toDouble)
    }
    last("textstats.land").foreach(c => rec("textstats.land_s", c.wallS))
    last("textstats.pack").foreach(c => rec("textstats.pack_s", c.wallS))
    rec("dedup.cluster_docs", TextDedup.nearDupClusters(spark, d).count().toDouble)
    val pairs = TextDedup.minhashPairs(spark, d)
    rec("dedup.pair_yield",
      pairs.filter(col("est_sim") >= 0.5).count().toDouble / math.max(1L, pairs.count()))
    t.span("dedup.exact") {
      TextDedup.exact(spark, d).write.format("noop").mode("overwrite").save()
    }
    last("dedup.exact").foreach(c => rec("dedup.exact_s", c.wallS))
    t.span("textstats.filter") {
      TextStats.quality(spark, d)
        .filter(col("quality_score") >= 0.2 && col("n_words") >= 20)
        .join(TextStats.piiRedactAugmented(spark, d), "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    last("textstats.filter").foreach(c => rec("textstats.filter_s", c.wallS))
  }
}
