package graft.ext

import graft.{Checkpoints, GraftSession, SparkSpec}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{CacheManagerProbe, SparkSession}
import org.apache.spark.sql.functions.col

/** Large-star/small-star connected components: the O(log n) round bound
  * on the adversarial graph shape (a long path — exactly where min-label
  * propagation degrades to diameter rounds), correctness on disconnected
  * multi-component graphs, and agreement of the broadcast-sized fast path with
  * the loop on the real near-dup pair graph.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  // autoBroadcastJoinThreshold=-1 disables the broadcast-sized driver
  // fast path, so these tests exercise the DISTRIBUTED loop (the round
  // bound and checkpoint laws are loop properties).
  // `extra` confs are set after these and override them.
  private def withLoopConfs[T](extra: (String, String)*)
                              (body: SparkSession => T): T =
    GraftSession.scoped(spark, Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") ++ extra: _*)(body)

  test("10k-node path graph converges in O(log n) rounds, one component") {
    withLoopConfs() { s =>
      import s.implicits._
      val n = 10000
      val path = (0L until (n - 1).toLong).map(i => (i, i + 1))
        .toDF("a", "b")
      val r = Components.starComponents(path)
      // diameter is n-1: propagation would need ~n rounds; star rewiring
      // must stay logarithmic. ceil(log2 10000) = 14; small constant slack.
      val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 4
      assert(r.rounds <= bound,
        s"took ${r.rounds} rounds on a $n-node path, bound $bound")
      val labs = r.labels.collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(labs.length == n)
      assert(labs.forall(_._2 == 0L), "every node joins the min-id root")
      Checkpoints.release(r.labels)
    }
  }

  test("multi-component graph with self-loops, duplicate and reversed edges") {
    withLoopConfs() { s =>
      import s.implicits._
      val edges = Seq(
        (1L, 2L), (2L, 1L), (2L, 3L),   // comp {1,2,3} with a reversed dup
        (10L, 11L),                     // comp {10,11}
        (20L, 20L),                     // self-loop only: singleton {20}
        (30L, 31L), (31L, 32L), (30L, 32L)) // triangle {30,31,32}
        .toDF("x", "y")
      val r = Components.starComponents(edges)
      val got = r.labels.collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got == Set(
        (1L, 1L), (2L, 1L), (3L, 1L),
        (10L, 10L), (11L, 10L),
        (20L, 20L),
        (30L, 30L), (31L, 30L), (32L, 30L)))
      Checkpoints.release(r.labels)
    }
  }

  test("durable checkpoint flag: star-CC green with reliable checkpoints on disk") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    withLoopConfs(graft.Checkpoints.ConfKey -> dir) { s =>
      import s.implicits._
      try {
        val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("x", "y")
        val r = Components.starComponents(edges)
        val got = r.labels.collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
        Checkpoints.release(r.labels)
        // reliable checkpoints actually landed under the configured dir
        def rddFiles(f: java.io.File): Seq[java.io.File] =
          Option(f.listFiles()).toSeq.flatten
            .flatMap(c => if (c.isDirectory) rddFiles(c) else Seq(c))
        assert(rddFiles(new java.io.File(dir)).nonEmpty,
          s"no checkpoint files written under $dir")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("broadcast-sized fast path: rounds=0, labels equal the loop's") {
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L),
      (10L, 11L),
      (20L, 20L),
      (30L, 31L), (31L, 32L), (30L, 32L)).toDF("x", "y")
    // default session threshold (10 MB) ≫ 8 edges: fast path fires
    val fast = Components.starComponents(edges)
    assert(fast.rounds == 0, "tiny graph must take the driver fast path")
    val gotFast = fast.labels.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val loop = withLoopConfs()(s =>
      Components.starComponents(GraftSession.bind(s, edges)))
    assert(loop.rounds > 0, "threshold -1 must force the loop")
    val gotLoop = loop.labels.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(gotFast == gotLoop)
    assert(gotFast == Set(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L),
      (30L, 30L), (31L, 30L), (32L, 30L)))
    Checkpoints.release(fast.labels); Checkpoints.release(loop.labels)
  }

  test("no block of a cut outlives the call, fast path or loop") {
    def stored(): Set[Int] = {
      ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("x", "y")
    val before = stored()
    val fast = Components.starComponents(edges)
    assert(fast.rounds == 0)
    assert((stored() -- before).isEmpty, "the fast path keeps no blocks")
    val loop = withLoopConfs()(s =>
      Components.starComponents(GraftSession.bind(s, edges)))
    assert(loop.rounds > 0)
    assert((stored() -- before).nonEmpty, "the loop's labels are stored")
    Checkpoints.release(loop.labels)
    assert((stored() -- before).isEmpty, "the loop keeps no blocks but its labels")
  }

  test("the loop's labels are a cut: released, the call leaves nothing stored") {
    def stored(): Set[Int] = {
      ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("x", "y")
    val (before, cached) = (stored(), CacheManagerProbe.entries(spark))
    val r = withLoopConfs()(s =>
      Components.starComponents(GraftSession.bind(s, edges)))
    assert(r.rounds > 0, "threshold -1 must force the loop")
    assert(r.labels.count() == 6L)
    Checkpoints.release(r.labels)
    assert(CacheManagerProbe.entries(spark) == cached,
      "the call left an entry in the cache manager")
    assert((stored() -- before).isEmpty, "a stored RDD outlived the release")
  }

  test("fast path agrees with the loop on a random 200-node multigraph") {
    val rnd = new scala.util.Random(1234)
    val edges = (1 to 300).map { _ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)
    }.toDF("a", "b")
    val fast = Components.starComponents(edges)
    assert(fast.rounds == 0)
    val gotFast = fast.labels.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val loop = withLoopConfs()(s =>
      Components.starComponents(GraftSession.bind(s, edges)))
    val gotLoop = loop.labels.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(gotFast == gotLoop)
    Checkpoints.release(fast.labels); Checkpoints.release(loop.labels)
  }

  test("loop with node-sized min broadcast agrees with the plain loop") {
    // budget 10 KB: too small for the 5000-edge fast-path collect
    // (5000·32 B > 10 KB) but big enough for the 100-node min tables
    // (100·32 B) — exercises the broadcast branch INSIDE the loop.
    val rnd = new scala.util.Random(77)
    val edges = (1 to 5000).map { _ =>
      (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)
    }.toDF("a", "b")
    val bcast = withLoopConfs("spark.sql.autoBroadcastJoinThreshold" -> "10240")(s =>
      Components.starComponents(GraftSession.bind(s, edges)))
    assert(bcast.rounds > 0, "10 KB budget must force the loop")
    val gotB = bcast.labels.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val plain = withLoopConfs()(s =>
      Components.starComponents(GraftSession.bind(s, edges)))
    val gotP = plain.labels.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(gotB == gotP)
    Checkpoints.release(bcast.labels); Checkpoints.release(plain.labels)
  }

  test("fast path and loop label the sf0.01 near-dup pair graph alike") {
    def rowsOf(r: Components.StarResult): Set[(Long, Long)] =
      r.labels.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val pairs = TextDedup.cachedMinhashPairs(spark, sf01)
      .filter(col("est_sim") >= 0.5).select("doc_a", "doc_b")
    val fast = Components.starComponents(pairs)
    assert(fast.rounds == 0, "the pair graph fits the default broadcast budget")
    val loop = withLoopConfs()(s =>
      Components.starComponents(GraftSession.bind(s, pairs)))
    assert(loop.rounds > 0, "threshold -1 must force the loop")
    val got = rowsOf(fast)
    assert(got.nonEmpty)
    assert(got == rowsOf(loop))
    // the memoized clustering reads the same labels
    val clusters = TextDedup.nearDupClusters(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(clusters == got.map { case (id, comp) => (id, comp, id == comp) })
    Checkpoints.release(fast.labels); Checkpoints.release(loop.labels)
  }
}
