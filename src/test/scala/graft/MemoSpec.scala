package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.ext.TextDedup
import graft.sync.{Dedup, SyncInputs}
import graft.tables.{Scratch, Tables}

/** The memo registry's contract: rows follow their inputs, a failed build
  * leaves nothing behind, one key builds once, a build is one job whose
  * leaf reports what a persisted copy would, and `Memo.clear` frees
  * everything it stored.
  */
class MemoSpec extends SparkSpec {

  private def copyOf(src: String): String = {
    val from = Paths.get(src)
    val to = Scratch.dir(spark, "memo-spec")
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    to.toString
  }

  private def storedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def rdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leafOf(df: DataFrame): LogicalRDD = {
    val leaves = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr
    }
    assert(leaves.size == 1)
    leaves.head
  }

  test("a memo rebuilds when its directory is rewritten") {
    val dir = copyOf(sf001)
    val before = TextDedup.minhashPairs(spark, dir).collect().toSet
    // every tenth doc takes the longest text: a clique of new pairs
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val hot = docs.orderBy(length(col("text")).desc, col("doc_id"))
      .head().getAs[String]("text")
    docs.withColumn("text",
        when(col("doc_id") % 10 === 3, lit(hot)).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val served = TextDedup.minhashPairs(spark, dir).collect().toSet
    TextDedup.clearCaches(spark)
    val rebuilt = TextDedup.minhashPairs(spark, dir).collect().toSet
    assert(rebuilt != before, "the rewrite must change the pairs")
    assert(served == rebuilt)
  }

  test("a build that throws leaves no cache entry and the next lookup rebuilds") {
    val bad = spark.range(10).toDF().filter(expr("assert_true(id < 0) IS NULL"))
    val rdds0 = rdds
    intercept[Exception](Checkpoints.cut(bad))
    assert(bad.storageLevel == StorageLevel.NONE)
    assert(rdds == rdds0, "a failed cut keeps no blocks")

    val calls = new AtomicInteger(0)
    def build: DataFrame =
      if (calls.incrementAndGet() == 1) bad else spark.range(5).toDF("id")
    intercept[Exception](Memo(spark, sf001, "test.fails_once")(build))
    assert(bad.storageLevel == StorageLevel.NONE)
    assert(rdds == rdds0, "a failed build keeps no blocks")
    assert(!Memo.stats(spark).contains("test.fails_once"))
    assert(Memo(spark, sf001, "test.fails_once")(build).count() == 5)
    assert(calls.get == 2)
    assert(Memo.stats(spark)("test.fails_once").builds == 1)
  }

  test("two threads asking for one key build it once") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builds = new AtomicInteger(0)
    def build: DataFrame = {
      builds.incrementAndGet()
      started.countDown()
      release.await()
      spark.range(100).toDF("id")
    }
    val rdds0 = rdds
    val out = new Array[DataFrame](2)
    def asker(i: Int) = new Thread(() => out(i) = Memo(spark, sf001, "test.race")(build))
    val a = asker(0)
    a.start()
    started.await()
    val b = asker(1)
    b.start()
    // b is parked on the key (or, were the build not exclusive, in its own)
    eventually(timeout(Span(30, Seconds))) {
      assert(Set(Thread.State.BLOCKED, Thread.State.WAITING)(b.getState))
    }
    release.countDown()
    a.join()
    b.join()
    assert(builds.get == 1)
    assert(out(0) eq out(1))
    assert((rdds -- rdds0).size == 1, "one materialized copy, nothing else kept")
    Memo.clear(spark)
    assert(rdds.subsetOf(rdds0))
  }

  test("Memo.clear frees every memo's blocks, checkpoint blocks included") {
    Memo.clear(spark)
    val rdds0 = rdds
    val bytes0 = storedBytes
    val dir = copyOf(sf001)
    val pairs = TextDedup.minhashPairs(spark, dir)
    graft.sync.Pipeline.syncFixture(spark, dir)
    val checkpoints = pairs.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet
    assert(checkpoints.nonEmpty && checkpoints.subsetOf(rdds))
    assert(Set("dedup.doc_sets", "dedup.minhash_pairs", "sync.pass2")
      .subsetOf(Memo.bytes(spark).keySet))
    assert(storedBytes > bytes0)
    Memo.clear(spark)
    assert(Memo.bytes(spark).isEmpty)
    assert(rdds.subsetOf(rdds0) && (checkpoints & rdds).isEmpty)
    assert(storedBytes == bytes0)
  }

  test("the pair memo is stored alike whichever entry builds it first") {
    def pairLeaf() = TextDedup.cachedMinhashPairs(spark, sf001)
      .queryExecution.analyzed.collectLeaves().collect {
        case lr: LogicalRDD => lr.outputPartitioning
      }
    def builtBy(entry: String) = {
      Memo.clear(spark)
      SparkEntry.queries(entry)(spark, sf001).collect()
      pairLeaf()
    }
    val viaClusters = builtBy("dedup_clusters")
    val viaPairs = builtBy("dedup_minhash_pairs")
    assert(viaClusters.size == 1)
    assert(viaClusters == viaPairs)
  }

  test("a memo over a shuffle-free plan builds in one job") {
    val sc = spark.sparkContext
    val docSets = TextDedup.docSetsOf(Tables.documents(spark, sf01))
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      Memo(spark, sf01, "test.doc_sets")(docSets)
      ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1)
    Memo.clear(spark)
  }

  test("a memo's leaf reports the rows and size a persisted copy measures") {
    // each memo beside a fresh copy of its build over the same inputs
    val files = SyncInputs.files(spark, sf01)
    val memos: Seq[(String, DataFrame, () => DataFrame)] = Seq(
      ("dedup.doc_sets", TextDedup.cachedDocSets(spark, sf01),
        () => TextDedup.docSetsOf(Tables.documents(spark, sf01))),
      ("dedup.sig_wide", TextDedup.cachedSigWide(spark, sf01),
        () => TextDedup.sigWide(TextDedup.cachedDocSets(spark, sf01), 8)),
      ("dedup.minhash_pairs", TextDedup.cachedMinhashPairs(spark, sf01),
        () => TextDedup.minhashPairsOf(TextDedup.cachedSigWide(spark, sf01))),
      ("dedup.clusters:0.5:48", TextDedup.nearDupClusters(spark, sf01),
        () => TextDedup.clustersOf(spark, sf01, 0.5, 48)),
      ("sync.marked", Memo(spark, sf01, "sync.marked")(Dedup.markDuplicates(files)),
        () => Dedup.markDuplicates(files)))
    memos.foreach { case (name, memo, build) =>
      val leaf = leafOf(memo).stats
      val persisted = build().persist()
      try {
        persisted.count()
        val cached = persisted.queryExecution.optimizedPlan.stats
        assert(cached.rowCount.exists(_ > 0), name)
        assert(leaf.rowCount == cached.rowCount, name)
        assert(leaf.sizeInBytes == cached.sizeInBytes, name)
      } finally persisted.unpersist(blocking = true)
    }
  }

  test("with graft.checkpoint.dir set, a memo's rows are the same and its files land there") {
    val ckpt = Scratch.dir(spark, "memo-spec-ckpt")
    val local = TextDedup.cachedMinhashPairs(spark, sf01).collect().toSet
    val durable = GraftSession.scoped(spark, Checkpoints.ConfKey -> ckpt.toString) { s =>
      Memo(s, sf01, "test.durable_pairs")(
        TextDedup.minhashPairsOf(TextDedup.cachedSigWide(s, sf01))).collect().toSet
    }
    assert(durable == local)
    val written = Files.walk(ckpt).filter(p => Files.isRegularFile(p)).count()
    assert(written > 0, s"no checkpoint files under $ckpt")
    Memo.clear(spark)
  }
}
