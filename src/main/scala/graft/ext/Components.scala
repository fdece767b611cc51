package graft.ext

import graft.{Checkpoints, GraftSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star edge rewiring (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014 — the public O(log n)-round
  * algorithm), the one connected-components operator of the near-dup,
  * semantic, spatial and graph families ([[TextDedup.nearDupClusters]]
  * among them). Min-label propagation needs component-diameter rounds;
  * star rewiring halves chain lengths every iteration, so a
  * pathological long-chain pair graph — e.g. boilerplate that
  * daisy-chains otherwise-unrelated docs — still converges in
  * logarithmic rounds. A graph that fits the session's broadcast budget
  * skips the loop: one bounded collect and an in-memory union-find give the
  * same min-id labels.
  *
  * Representation: directed edges (u, v) with u > v ("big points at
  * small"), deduplicated. Each round is two map-reduce shaped passes:
  *
  *  - large-star: every node u connects its LARGER neighbours to
  *    m(u) = min(Γ(u) ∪ u) — one symmetrize + groupBy(min) + join;
  *  - small-star: every node u connects its smaller neighbours (and
  *    itself) to their minimum — one groupBy(min) + join.
  *
  * Both passes shuffle on the node id only; no stage ever materializes a
  * neighborhood in memory (the min is an aggregate, neighbour fan-out
  * stays relational), so a 100 TB edge set runs with plain hash
  * partitioning + AQE skew splits. At the fixpoint every component is a
  * star rooted at its minimum id; labels read off the edges directly.
  * Rounds are driver-coordinated Spark jobs; only one-row convergence
  * probes ever reach the driver.
  */
object Components {

  /** Component assignment and the round count it took (the spec asserts
    * the O(log n) bound on an adversarial path graph). `labels` is a
    * local relation on the fast path and a [[Checkpoints.cut]] after the
    * loop, which the caller owns: [[Checkpoints.release]] frees it, and a
    * caller that returns a plan over it leaves it to the context cleaner.
    * Every other cut the call made is released before it returns.
    */
  final case class StarResult(labels: DataFrame, rounds: Int)

  /** `pairs`: two id columns, one row per (possibly repeated, either
    * orientation) edge. Returns one (id, comp) row per node that appears
    * in `pairs`, comp = min id of the node's component.
    */
  def starComponents(pairs: DataFrame, maxRounds: Int = 48): StarResult = {
    val spark = pairs.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // canonical direction (big, small) + dedup; self-edges contribute
    // nothing to connectivity. Partitioned once on the round's join key.
    // LINEAGE IS CUT EVERY ROUND (eager Checkpoints.cut): each pass
    // references its input several times (symmetrize + min-join), so a
    // merely-persisted chain would grow the ANALYZED plan ~6× per round —
    // exponential in rounds, an analyzer OOM long before any data
    // pressure. Checkpointing makes every round's plan O(1); a cluster
    // run sets `graft.checkpoint.dir` to durable storage and the cuts
    // become reliable `checkpoint()`s for executor-loss resilience. Each
    // cut is one job that also counts its rows, so sizing the loop and
    // gating the fast path below read counts without a job of their own.
    val cols = pairs.columns
    val init = Checkpoints.cut(pairs
      .select(col(cols(0)).as("a"), col(cols(1)).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()
      .repartition(sessionParts, col("u")))
    // The loop's shuffles are sized to this measured canonical edge count
    // (GraftSession.loop), read from the init cut without a job.
    val nEdges = Checkpoints.rows(init)
    // nodes whose only edges were self-loops still deserve a label
    val allNodes = Checkpoints.cut(pairs
      .select(explode(array(col(cols(0)), col(cols(1)))).as("id"))
      .distinct())
    val nNodes = Checkpoints.rows(allNodes)

    // Broadcast-sized fast path (r15, guide §3.1/§5 posture): when the
    // canonical edge set AND node set together fit the session's own
    // broadcast budget (`autoBroadcastJoinThreshold`, the exact gate a
    // broadcast join uses; -1 disables, restoring the loop — the
    // ComponentsSpec law tests use that switch), the whole component
    // structure is computable on the driver from ONE bounded collect —
    // no more bytes than Spark itself would pull to build a broadcast
    // hash relation — and the fixpoint's per-round job floor (a
    // checkpoint + probe + 4 bounded shuffles PER ROUND, ~log n
    // rounds) collapses to a union-find over in-memory longs. Labels
    // come back as the broadcast-sized local relation they already are,
    // with no job of their own, so downstream joins hash against it
    // exactly like any other dimension attach. A
    // 100 TB edge set fails the gate and runs the loop unchanged; the
    // conservative 32/16 bytes-per-row estimates keep the gate honest
    // against row overheads.
    val bcastBudget = spark.sessionState.conf.autoBroadcastJoinThreshold
    val longIds = init.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (bcastBudget > 0 && longIds &&
        nEdges * 32L + nNodes * 16L <= bcastBudget) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      // smaller root wins every union, so each final root IS the
      // component minimum — the loop path's label contract verbatim
      init.collect().foreach { row =>
        val ru = find(row.getLong(0)); val rv = find(row.getLong(1))
        if (ru != rv) {
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val rows = allNodes.collect().map { row =>
        val id = row.getLong(0); (id, find(id))
      }.toSeq
      Checkpoints.release(init)
      Checkpoints.release(allNodes)
      import spark.implicits._
      return StarResult(rows.toDF("id", "comp"), 0)
    }

    GraftSession.loop(spark, nEdges) { loop =>
      val loopParts = loop.conf.get("spark.sql.shuffle.partitions").toInt
      // Node-sized min tables vs the |E|-row neighbour stream: when the
      // MEASURED node count fits the session's broadcast budget (the same
      // conf-gate as the fast path above), the per-star join broadcasts
      // `mins` and the edge stream is never shuffled+sorted for the join —
      // its only per-star exchange is the node-sized min aggregate (guide
      // §3.1). Oversized graphs keep the shuffled join unchanged.
      val minsBcast = bcastBudget > 0 && nNodes * 32L <= bcastBudget
      def maybeB(mins: DataFrame): DataFrame =
        if (minsBcast) broadcast(mins) else mins

      // large-star over the symmetrized neighborhood: (x, m(u)) for every
      // neighbour x > u. Result is (big, small)-directed again since
      // m(u) ≤ u < x.
      def largeStar(e: DataFrame): DataFrame = {
        val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        nbrs.filter(col("v") > col("u"))
          .join(maybeB(mins), Seq("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
      }

      // small-star on (big, small) edges: all of u's smaller neighbours
      // (exactly its v's) plus u itself re-point at their minimum.
      def smallStar(e: DataFrame): DataFrame = {
        val mins = e.groupBy("u").agg(min("v").as("m"))
        e.join(maybeB(mins), Seq("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .unionByName(mins.select(col("u"), col("m").as("v")))
          .distinct()
      }

      // Fixpoint ⟺ the edge set stops changing. Both sides are distinct
      // sets, so equality = empty symmetric difference, computed in ONE
      // hash-aggregate job (±1 tags, non-zero group survives) instead of
      // the former two exceptAll anti-join jobs per round (r14, guide
      // §2.4: two probe shuffles → one) — still sound, no checksums. The
      // probe only runs at all when the row-count gate (the count the
      // round's cut measured, the kcore pattern) says the cardinality
      // held: a round that changed the edge count cannot be the
      // fixpoint, so early rounds run no diff job.
      def same(a: DataFrame, b: DataFrame): Boolean =
        a.select(col("u"), col("v"), lit(1L).as("s"))
          .unionByName(b.select(col("u"), col("v"), lit(-1L).as("s")))
          .groupBy("u", "v").agg(sum("s").as("s"))
          .filter(col("s") =!= 0)
          .isEmpty

      var edges = GraftSession.bind(loop, init)
      var prevCount = nEdges
      var rounds = 0
      var converged = nEdges == 0 // a loop-free pair set is already done
      while (!converged && rounds < maxRounds) {
        // eager: materialized before the probes, plan truncated to a scan
        val next = Checkpoints.cut(
          smallStar(largeStar(edges)).repartition(loopParts, col("u")))
        val nextCount = Checkpoints.rows(next)
        converged = nextCount == prevCount && same(next, edges)
        prevCount = nextCount
        Checkpoints.release(edges)
        edges = next
        rounds += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"star components did not converge in $maxRounds rounds")

      // stars: every child row is (child, root); roots only appear on the
      // small side. Nodes with no surviving edge are their own component.
      val labels = Checkpoints.cut(
        edges.select(col("u").as("id"), col("v").as("comp"))
          .unionByName(GraftSession.bind(loop, allNodes).join(
            edges.select(col("u").as("id")), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("comp"))))
      Checkpoints.release(edges)
      Checkpoints.release(allNodes)
      StarResult(GraftSession.bind(spark, labels), rounds)
    }
  }
}
