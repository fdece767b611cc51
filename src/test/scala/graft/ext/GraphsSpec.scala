package graft.ext

import graft.{Memo, SparkSpec}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** X56 PageRank and X57 inverted index — both re-derived driver-side
  * from first principles on the sf0.001 fixture.
  */
class GraphsSpec extends SparkSpec {

  test("pagerank matches a from-scratch power iteration; mass conserved") {
    val li = graft.tables.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1) + 10000000L))
    val ord = graft.tables.Tables.orders(spark, sf001)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cs = li.map { case (ok, sk) => (ord(ok), sk) }.distinct
    val edges = cs ++ cs.map(_.swap)
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.length.toDouble
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / outdeg(src) }.sum
      }
      pr = nodes.map(id => id -> (0.15 / n + 0.85 * contrib.getOrElse(id, 0.0))).toMap
    }
    val got = Graphs.pagerank(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == nodes.length)
    got.foreach { case (id, norm) =>
      assert(math.abs(norm - pr(id) * n) < 1e-5, s"node $id: $norm vs ${pr(id) * n}")
    }
    // probability mass is conserved (no dangling nodes after symmetrization)
    assert(math.abs(got.map(_._2).sum / n - 1.0) < 1e-6)
    // suppliers are high-degree hubs in the bipartite trade graph: the
    // top-ranked node must be a supplier
    assert(got.maxBy(_._2)._1 >= 10000000L)
  }

  test("inverted index: df and sorted postings match a manual build") {
    val docs = graft.tables.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val postings = docs
      .flatMap { case (id, t) =>
        t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).distinct.map(_ -> id)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      .filter(_._2.length >= 2)
    val got = Search.invertedIndex(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.length == postings.size)
    got.foreach { case (term, df, csv) =>
      val exp = postings(term)
      assert(df == exp.length, s"$term df")
      assert(csv == exp.mkString(","), s"$term postings")
    }
    // output is term-ordered (the artifact contract)
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
  }

  test("kcore, sssp and ktruss keep only the cuts their results read") {
    def stored(): Set[Int] = {
      ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    val loops = Seq[(String, () => DataFrame)](
      "graph_kcore" -> (() => Graphs.kcore(spark, sf01)),
      "graph_sssp" -> (() => Graphs.sssp(spark, sf01)),
      "graph_ktruss" -> (() => Graphs.ktruss(spark, sf01)))
    for ((name, run) <- loops) {
      val before = stored()
      val out = run()
      assert(out.collect().nonEmpty, name)
      val reads = out.queryExecution.analyzed.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      // what is stored beyond the memos is only what the result reads
      Memo.clear(spark)
      val kept = stored() -- before
      assert(kept.nonEmpty && kept.subsetOf(reads),
        s"$name keeps ${kept -- reads} beyond the ${kept & reads} it reads")
    }
  }
}
