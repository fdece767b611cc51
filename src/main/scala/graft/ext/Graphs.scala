package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Memo}
import graft.tables.Tables

/** Iterative graph analytics over relationship graphs derived from the
  * warehouse tables — the second join-loop algorithm family beside
  * [[Components]] (which converges to a fixpoint; PageRank runs a FIXED
  * number of power-iteration rounds, so the oracle can state it exactly
  * by unrolling).
  */
object Graphs {

  /** X56: PageRank (damping 0.85, `iters` power iterations) over the
    * symmetric customer↔supplier trade graph: an edge per distinct
    * (customer, supplier) pair that shares a lineitem, supplier ids
    * offset by 1e7 into a disjoint node-id space. Symmetrization means
    * every node has out-degree ≥ 1, so no dangling-mass redistribution
    * term is needed and the unrolled oracle stays a plain join chain.
    *
    * Scale shape: one shuffle per round on the edge source key (join
    * pr⋈edges) and one on the destination (the contribution aggregate);
    * edges/out-degrees/nodes are computed once and persisted, the rank
    * vector is the only thing that iterates. The node count rides a
    * broadcast 1-row aggregate — no driver-side scalar. Ranks are
    * reported ×N (mean 1.0) so the 6dp round is meaningful at any graph
    * size.
    */
  /** The symmetrized customer↔supplier trade edge list — shared by
    * global pagerank (X56) and the personalized variant (X223).
    */
  private def prEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
    val cs = li.join(ord, Seq("ok"))
      .select(col("ck").as("cust"), (col("sk") + lit(10000000L)).as("supp"))
      .distinct()
    cs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionByName(cs.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** The rank loop's fact relation: the trade edge list with its
    * out-degree attached, partitioned and sorted ONCE on the per-round
    * join key (src) and memoized (r15, guide §2.4). Both rank loops
    * (X56 global, X223 personalized) join this relation every round;
    * unmaterialized, every round re-shuffled AND re-sorted the |E|-row
    * edge list twice (edges ⋈ outdeg, then ⋈ rank vector — the r14
    * plan's 18 SortMergeJoins). Now each round shuffles only the
    * node-sized rank vector to the cached layout; the only |E|-row
    * exchange left per round is the dst-keyed contribution aggregate.
    */
  private def prEdgesDeg(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.pr_edges_deg") {
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val edges = Memo(spark, dir, "graph.pr_edges")(prEdges(spark, dir))
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      edges.join(outdeg, Seq("src"))
        .repartition(parts, col("src"))
        .sortWithinPartitions("src")
    }

  def pagerank(spark: SparkSession, dir: String,
               iters: Int = 3, d: Double = 0.85): DataFrame = {
    // memoized (not per-call persisted) so repeated calls share one copy
    // — same discipline as the co-order edge family below
    val edges = Memo(spark, dir, "graph.pr_edges")(prEdges(spark, dir))
    val edgesDeg = prEdgesDeg(spark, dir)
    val nodes = Memo(spark, dir, "graph.pr_nodes")(
      edges.select(col("src").as("id")).distinct())
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n"))
    // rank vector carries n so every round's teleport term is plan-side
    var pr = nodes.crossJoin(broadcast(nRow))
      .select(col("id"), col("n"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(pr.select(col("id").as("src"), col("pr")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("deg")).as("c"))
      pr = nodes.crossJoin(broadcast(nRow))
        .join(contribs, Seq("id"), "left")
        .select(col("id"), col("n"),
          (lit(1.0 - d) / col("n") + lit(d) * coalesce(col("c"), lit(0.0)))
            .as("pr"))
    }
    val out = pr.select(col("id"), round(col("pr") * col("n"), 6).as("pr_norm"))
      .orderBy("id")
    out
  }

  /** The min-support-2 co-order edge relation: a pair of parts is an
    * edge only when AT LEAST TWO distinct orders contain both — the
    * market-basket support cut that removes single-co-occurrence noise
    * edges. Same pair-join shape as [[coOrderEdges]] with a count
    * aggregate instead of a distinct; memoized for the same reason.
    */
  private def minSupportEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.edges_w2") {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") &&
          col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("a", "b")
    }

  /** The distinct co-order part graph: an undirected edge per pair of
    * parts appearing in the same order. The per-order self-join is
    * bounded by order size (≤7 lines in the fixture, small everywhere in
    * practice), so the pair space is Σ|order|² — never corpus².
    *
    * MEMOIZED once per (session, corpus) like the dedup family's shingle
    * relations: five graph entries (triangles, clustering coefficient,
    * BFS, label propagation, degree distribution) consume the same edge
    * set, and unmemoized each paid the full pair-join + distinct build
    * (~4 s of every graph entry at sf0.1 was this). At 100 TB this
    * relation is what you'd bucket to parquet by node id.
    */
  private def coOrderEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.edges") {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") &&
          col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
    }

  /** The symmetrized (both directions) co-order edge list, cached
    * PRE-PARTITIONED on the neighbour column `v`: label propagation's
    * per-round join keys on v, and caching the partitioning means each
    * round reuses it instead of re-shuffling the 2.4 M-row edge list.
    * BFS reads the same relation (renamed src/dst) — its small frontier
    * broadcasts, so the v-partitioning is simply irrelevant there, and
    * sharing saves BFS the private symmetrize+persist it used to do.
    */
  private def symEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.sym") {
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val und = coOrderEdges(spark, dir)
      und.select(col("a").as("u"), col("b").as("v"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v")))
        .repartition(parts, col("v"))
    }

  /** X59: triangle counting on the co-order part graph via the
    * degree-oriented node-iterator (the MapReduce-classic of Suri &
    * Vassilvitskii, WWW'11). Every undirected edge is oriented from its
    * lower-(degree, id) endpoint to the higher one, so each triangle is
    * enumerated exactly once and — the scale property — per-node fan-out
    * is bounded by ORIENTED out-degree, O(√m) regardless of how skewed
    * the raw degree distribution is. A celebrity node with 10⁶ neighbors
    * produces no 10¹² wedge blow-up: its edges all point INTO it.
    *
    * Execution is the EDGE-iterator refinement: out-adjacency lists are
    * collected once per node (sorted arrays, ≤ O(√m) entries), each
    * oriented edge (u,v) picks up both endpoints' lists via two hash
    * joins, and its triangles are the sorted-merge intersection of the
    * two lists — evaluated in-memory per row by the codegen
    * `graft_sorted_intersect_longs` kernel (two-pointer merge over
    * primitive longs; `array_intersect`'s per-row boxed hash set was
    * the profile's hot spot). Versus materializing the wedge relation
    * through a shuffle-and-sort (the first cut here: 41 s at sf0.1),
    * the intersection form moves the same Σ outdeg² volume as per-edge
    * arrays with no row-explosion shuffle and map-side-combinable
    * corner counts — 4× faster (10.6 s for 1.88 M triangles over 1.2 M
    * edges; the DuckDB oracle needs ~60 s for the count alone),
    * identical output. The oracle states the naive 3-way self-join.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(spark, dir).orderBy("part_id")

  /** X76: local clustering coefficient — cc(v) = 2·tri(v) / (deg(v)·
    * (deg(v)−1)), the fraction of a node's neighbor pairs that are
    * themselves connected (the small-world diagnostic). Composes the
    * triangle relation with the full undirected degree in one join; the
    * ratio divides exactly-represented BIGINTs as IEEE doubles. Nodes
    * with deg < 2 have no neighbor pairs and are excluded (cc
    * undefined), matching the oracle's HAVING.
    *
    * The ONE persisted edge relation feeds both the degree aggregate
    * and the triangle kernel — a first cut that called the triangle
    * path and the degree path through separate coOrderEdges scans
    * recomputed the whole per-order pair join twice (16 s → ~8 s at
    * sf0.1; the edge derivation dominates both consumers).
    */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val und = coOrderEdges(spark, dir)
    val deg = und.select(col("a").as("part_id"))
      .unionByName(und.select(col("b").as("part_id")))
      .groupBy("part_id").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triangleCounts(spark, dir), Seq("part_id"), "left")
      .select(col("part_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round((lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double")) /
          (col("deg") * (col("deg") - 1)).cast("double"), 6).as("cc"))
      .orderBy("part_id")
  }

  /** Per-node triangle counts over the memoized undirected (a < b,
    * distinct) edge relation. MEMOIZED end to end: `graph_triangles` and
    * `graph_clustering_coeff` both consume the whole kernel, so the
    * second caller reuses one persisted node-sized count relation
    * instead of re-running orientation + adjacency + intersection
    * (~7 s at sf0.1). The intermediate oriented edge list is memoized
    * too (rather than persisted per call) so `Memo.clear` releases it —
    * a per-call persist parked an unreleasable copy per invocation.
    */
  /** Sorted out-adjacency arrays over the oriented edges — memoized:
    * the triangle kernel and the edge-Jaccard kernel share it.
    */
  private def outAdjacency(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.adj") {
      orientedEdges(spark, dir).groupBy("src")
        .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
    }

  /** The LISTED triangle relation — one row (u, v, w) per triangle,
    * where (u,v) is the closing degree-oriented edge and w a common
    * out-neighbor. Memoized: [[triangleCounts]], [[edgeJaccard]] and
    * [[adamicAdar]] all consume exactly this listing, so the Σ outdeg²
    * intersection join (the family's dominant cost) runs ONCE per
    * (app, dir) instead of once per consumer — the same shared-kernel
    * rule that fixed label-prop/modularity. The persisted relation is
    * O(#triangles) rows of three BIGINTs (spillable MEMORY_AND_DISK,
    * released by `Memo.clear` with the rest of the family), versus
    * re-running the intersection join whose input is the same size.
    *
    * Triangles closed at edge (u,v) are the common out-neighbors of u
    * and v — `graft_sorted_intersect_longs` (codegen two-pointer merge
    * over primitive longs) instead of `array_intersect`, whose per-row
    * boxed hash set dominated the profile over Σ outdeg² cells.
    */
  private def triangleList(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.tri_list") {
      val oriented = orientedEdges(spark, dir)
      val adj = outAdjacency(spark, dir)
      graft.functions.SortedIntersectLongs.register(spark)
      oriented
        .select(col("src").as("u"), col("dst").as("v"))
        .join(adj.select(col("src").as("u"), col("nbrs").as("nu")), Seq("u"))
        .join(adj.select(col("src").as("v"), col("nbrs").as("nv")), Seq("v"),
          "left")
        .select(col("u"), col("v"),
          explode(graft.functions.SortedIntersectLongs.intersect(col("nu"),
            coalesce(col("nv"), array().cast("array<bigint>")))).as("w"))
    }

  private def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.tri_counts") {
      // per-corner attribution: each listed triangle counts once at each
      // of its three corners
      triangleList(spark, dir)
        .select(explode(array(col("u"), col("v"), col("w"))).as("part_id"))
        .groupBy("part_id").agg(count(lit(1)).as("n_tri"))
    }

  /** Degree-oriented edges: each undirected edge pointed from its
    * lower-(deg, id) endpoint. Memoized (not per-call persisted) so
    * `Memo.clear` releases it.
    */
  private def orientedEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.oriented") {
      val und = coOrderEdges(spark, dir)
      val deg = und.select(col("a").as("id"))
        .unionByName(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      // orient by (deg, id): src = smaller endpoint in that total order
      val withDeg = und
        .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      withDeg.select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }

  /** X60: k-hop BFS from a seed set — frontier expansion as an iterative
    * hash join, the relational form of parallel BFS (and the shape of a
    * lineage / reachability query at warehouse scale). Seeds are the 10
    * smallest part ids; each round joins the CURRENT frontier (only —
    * not the visited set) against the symmetrized edge list, anti-joins
    * out already-visited nodes, and tags newcomers with the round
    * number. Per-round cost is |frontier ⋈ edges|, the textbook
    * data-parallel BFS bound; `visited` stays partitioned on id so the
    * anti-join co-locates. The oracle unrolls the same 3 rounds
    * explicitly (NOT EXISTS against every earlier level — the
    * graph_pagerank unrolling style, portable to both engines).
    *
    * The result is the union of every round's cut, so no round can be
    * freed before the result is: they stay until the context cleaner
    * sees the result dropped.
    */
  def bfsHops(spark: SparkSession, dir: String, hops: Int = 3,
              nSeeds: Int = 10): DataFrame = {
    // the shared memoized symmetric relation — BFS used to build and
    // persist its own copy of the same 2.4 M rows
    val sym = symEdges(spark, dir)
    val edges = sym.select(col("u").as("src"), col("v").as("dst"))
    // seeds and every frontier are eager lineage cuts (Checkpoints.cut:
    // local blocks, or durable under graft.checkpoint.dir), so `visited`
    // is always a union of already-materialized node-sized blocks — no
    // per-round persist needed (the old per-round persists parked
    // hops+1 never-released copies per call)
    val seeds = graft.Checkpoints.cut(
      edges.select(col("src").as("id")).distinct()
        .orderBy("id").limit(nSeeds)
        .select(col("id"), lit(0L).as("hop")))
    // frontier/visited are node-sized, the per-round distinct is the
    // only wide shuffle: the loop is sized to the memo's measured count
    GraftSession.loop(spark, graft.Checkpoints.rows(sym)) { loop =>
      val loopEdges = GraftSession.bind(loop, edges)
      var visited = GraftSession.bind(loop, seeds)
      var frontier = visited
      for (h <- 1 to hops) {
        val next = graft.Checkpoints.cut( // cut the per-round lineage
          frontier.select(col("id").as("fid"))
            .join(loopEdges, col("fid") === col("src"))
            .select(col("dst").as("id")).distinct()
            .join(visited, Seq("id"), "left_anti")
            .select(col("id"), lit(h.toLong).as("hop")))
        visited = visited.unionByName(next)
        frontier = next
      }
      GraftSession.bind(spark, visited)
    }.orderBy("id")
  }

  /** X88: community detection via synchronous label propagation
    * (Raghavan et al. 2007), the deterministic fixed-round variant:
    * every node starts labeled with its own id and each round
    * simultaneously adopts the most frequent label among its neighbours,
    * ties broken by the smaller label — the tie rule (and the fixed
    * `rounds` count) is what makes the classic randomized algorithm
    * oracle-stateable; the oracle unrolls the identical three rounds.
    *
    * Scale shape: each round is one hash join (labels onto the symmetric
    * edge list, keyed on the neighbour) + one (node, label) vote count +
    * one per-node argmax. The argmax is a `min(struct(−count, label))`
    * AGGREGATE, not a rank window: a window form sorts the full vote
    * relation every round (measured 14.3 s at sf0.1 on the 2.4 M-row
    * symmetric edge set); the struct-min is map-side combinable and
    * shuffles only aggregate partials, with identical (count DESC,
    * label ASC) tie semantics. All shuffles key on node id; rounds are
    * few and fixed, so plain lineage growth stays linear.
    */
  def labelProp(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    // v-partitioned memoized relation (see symEdges): every round joins
    // labels (which leave their argmax aggregate hash-partitioned on
    // id = the same key) against sym.v, so the per-round join reuses
    // both sides' partitioning instead of re-shuffling the edge list
    val labels = labelPropLabels(spark, dir, rounds)
    val sizes = labels.groupBy("lab").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lab"))
      .select(col("id").as("part_id"), col("lab").as("community"),
        col("community_size"))
      .orderBy("part_id")
  }

  /** The raw (id, lab) assignment under X88's fixed-round propagation —
    * shared by the community listing and the X146 modularity audit.
    * MEMOIZED (once per session/corpus/round-count, released by
    * [[graft.Memo.clear]]) like the edge relations: label prop and
    * modularity each consume it, and unmemoized BOTH paid the full
    * `rounds`-pass join-aggregate iteration (21 s of the r7 bench was
    * exactly this duplication; modularity additionally checkpointed its
    * own private copy).
    */
  private def labelPropLabels(spark: SparkSession, dir: String,
                              rounds: Int): DataFrame =
    Memo(spark, dir, s"graph.lplabels:$rounds") {
      val sym = symEdges(spark, dir)
      val nodes = Memo(spark, dir, "graph.nodes")(
        sym.select(col("u").as("id")).distinct())
      var labels = nodes.select(col("id"), col("id").as("lab"))
      for (_ <- 1 to rounds) {
        labels = sym
          .join(labels.select(col("id").as("v"), col("lab")), Seq("v"))
          .groupBy(col("u").as("id"), col("lab"))
          .agg(count(lit(1)).as("c"))
          .groupBy("id")
          .agg(min(struct((col("c") * -1).as("nc"), col("lab"))).as("m"))
          .select(col("id"), col("m.lab").as("lab"))
      }
      labels
    }

  /** X146: community-quality audit — Newman modularity terms for the
    * X88 label-prop partition: per community c, Q_c = L_c/m −
    * (D_c/2m)², where L_c counts intra-community edges and D_c sums
    * member degrees. Everything before the two divisions is INTEGER
    * (edge counts, endpoint counts); the global Q ships as `q_global`
    * (same value on every row): the 6dp-ROUNDED per-community terms are
    * cast to exact DECIMAL(18,6) first, so their sum is associative and
    * partition-order-independent — the float-sum-over-unordered-relation
    * trap (the PSI rule) never applies to decimals, and no global window
    * is needed. This is the "was the clustering any good" number a
    * community detector ships with: Q near 0 says the partition is no
    * better than random wiring — which is exactly the expected verdict
    * on the fixture's single dense co-order component, and the audit
    * exists to SAY so rather than let a plausible-looking partition
    * pass unexamined.
    *
    * Scale shape: two label joins on the memoized undirected edges
    * (co-partitioned on node id), two map-combinable aggregates on the
    * community key, one broadcast 1-row edge total.
    */
  def modularity(spark: SparkSession, dir: String,
                 rounds: Int = 3): DataFrame = {
    // the memoized propagation serves all three
    // consumers below AND graph_label_prop — no private checkpoint copy
    val labels = labelPropLabels(spark, dir, rounds)
    val und = coOrderEdges(spark, dir)
    val m = und.agg(count(lit(1)).as("m"))
    val lab2 = graft.Checkpoints.cut(und
      .join(labels.select(col("id").as("a"), col("lab").as("la")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("lab").as("lb")), Seq("b")))
    val intra = lab2.filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("intra_edges"))
    val degSum = lab2.select(col("la").as("community"))
      .unionByName(lab2.select(col("lb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("degree_sum"))
    val nNodes = labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val terms = nNodes.join(degSum, Seq("community"), "left")
      .join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        round(coalesce(col("intra_edges"), lit(0L)).cast("double") / col("m") -
          power(coalesce(col("degree_sum"), lit(0L)).cast("double") /
            (lit(2) * col("m")), lit(2)), 6).as("q_term"))
    // global Q: exact-decimal sum of the rounded terms (order-free),
    // broadcast back as a 1-row relation — the headline number on every
    // row, no partitionless window, no unordered float sum
    val qg = terms.agg(
      sum(col("q_term").cast("decimal(18,6)")).as("q_global_d"))
    terms.crossJoin(broadcast(qg))
      .withColumn("q_global", col("q_global_d").cast("double"))
      .drop("q_global_d")
      .orderBy("community")
  }

  /** X222: community conductance — φ(C) = boundary(C) / min(vol(C),
    * 2m − vol(C)), the cut-quality score that complements X146's
    * modularity: modularity rewards dense insides, conductance
    * punishes leaky boundaries (a community can score well on one and
    * badly on the other — reading both is how a partition audit
    * actually decides). Computed for the SAME memoized label-prop
    * partition modularity reads (shared verbatim — the two audits
    * cannot drift apart), over the same co-order edge relation.
    *
    * Scale shape: one edge pass labels both endpoints (two node-keyed
    * joins against the memoized label relation), boundary and volume
    * are edge-keyed aggregates, output is community-sized; the 1-row
    * |E| broadcast is the declared nested loop.
    */
  def conductance(spark: SparkSession, dir: String,
                  rounds: Int = 3): DataFrame = {
    val labels = labelPropLabels(spark, dir, rounds)
    val und = coOrderEdges(spark, dir)
    val m = und.agg(count(lit(1)).as("m"))
    val lab2 = graft.Checkpoints.cut(und
      .join(labels.select(col("id").as("a"), col("lab").as("la")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("lab").as("lb")), Seq("b")))
    // a cut edge contributes one boundary count to EACH endpoint's
    // community; volume counts every endpoint incidence
    val bound = lab2.filter(col("la") =!= col("lb"))
      .select(explode(array(col("la"), col("lb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("boundary_edges"))
    val vol = lab2.select(col("la").as("community"))
      .unionByName(lab2.select(col("lb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("volume"))
    val nNodes = labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    nNodes.join(vol, Seq("community"), "left")
      .join(bound, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("volume"), lit(0L)).as("volume"),
        coalesce(col("boundary_edges"), lit(0L)).as("boundary_edges"),
        when(least(coalesce(col("volume"), lit(0L)),
          lit(2) * col("m") - coalesce(col("volume"), lit(0L))) > 0,
          round(coalesce(col("boundary_edges"), lit(0L)).cast("double") /
            least(coalesce(col("volume"), lit(0L)),
              lit(2) * col("m") - coalesce(col("volume"), lit(0L)))
              .cast("double"), 6)).as("conductance"))
      .orderBy("community")
  }

  /** X223: personalized PageRank — random walk with restart INTO a
    * seed set (the 5 smallest customer nodes of the trade graph): the
    * "related to THESE" ranking behind recommendation candidates,
    * fraud neighborhoods and seed-expansion labeling, where global
    * PageRank (X56) answers only "globally central". Same memoized
    * bipartite edge/outdeg/node relations as X56; teleport mass goes
    * to the seed distribution instead of 1/n. `restart` and `damping`
    * are independent literals (they must sum to 1) so both engines
    * parse the identical double constants.
    *
    * Scale shape: per round one edge-keyed contribution join + a
    * dst-keyed sum; the seed table is a bounded broadcast (TakeOrdered
    * pick, never a window); nodes never reached in `iters` hops carry
    * exactly 0 mass and are filtered from the output.
    */
  def personalizedPagerank(spark: SparkSession, dir: String,
                           iters: Int = 3, damping: Double = 0.85,
                           restart: Double = 0.15,
                           nSeeds: Int = 5,
                           seedIds: Option[Seq[Long]] = None): DataFrame = {
    val edges = Memo(spark, dir, "graph.pr_edges")(prEdges(spark, dir))
    val edgesDeg = prEdgesDeg(spark, dir)
    val nodes = Memo(spark, dir, "graph.pr_nodes")(
      edges.select(col("src").as("id")).distinct())
    // seed set as a LIBRARY parameter (r9 self-assessment #3): callers
    // personalize on any node set; the oracle-pinned entry keeps the
    // deterministic min-id default so the fixture twin stays stateable.
    // Seeds are intersected with the node set so mass is only assigned
    // to nodes that exist (restart weight splits over the GIVEN set —
    // stated: absent seeds waste their share rather than silently
    // renormalizing, so two runs with the same seed list are comparable
    // even across graphs that drop a seed).
    val seeds = seedIds match {
      case Some(ids) =>
        nodes.filter(col("id").isin(ids: _*))
          .select(col("id"), lit(1.0 / ids.length).as("s"))
      case None =>
        nodes.filter(col("id") < 10000000L)
          .orderBy("id").limit(nSeeds)
          .select(col("id"), lit(1.0 / nSeeds).as("s"))
    }
    var pr = nodes.join(broadcast(seeds), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0.0)).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(pr.select(col("id").as("src"), col("pr")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("deg")).as("c"))
      pr = nodes.join(broadcast(seeds), Seq("id"), "left")
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(restart) * coalesce(col("s"), lit(0.0)) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("pr"))
    }
    pr.select(col("id"), round(col("pr"), 6).as("ppr"))
      .filter(col("ppr") > 0)
      .orderBy("id")
  }

  /** X150: degree assortativity — the Pearson correlation of endpoint
    * degrees over the edge list (Newman 2002): positive = hubs link to
    * hubs (social-graph shape), negative = hub-and-spoke
    * (infrastructure shape). The number that decides whether the X59
    * degree-orientation and X21 salting machinery will actually be
    * needed at scale. Moments accumulate in DECIMAL(38,0) over the
    * SYMMETRIZED edge list (each undirected edge contributes both
    * orientations, the standard convention) — order-free and exact; the
    * single sqrt/division at the end is the only IEEE.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = coOrderEdges(spark, dir)
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // deg is NODE-sized (the part dimension against the |E|-row edge
    // stream) — broadcast both attaches exactly like adamicAdar's
    // z-attach (r14): the edge list is then never shuffled at all and
    // the entry is one scan + one moment aggregate.
    val pairs = und
      .join(broadcast(deg.select(col("id").as("a"), col("d").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("d").as("db"))),
        Seq("b"))
      .select(col("da").as("x"), col("db").as("y"))
    val sym = pairs.unionByName(pairs.select(col("y").as("x"), col("x").as("y")))
    val dec = "decimal(38,0)"
    sym.agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"))
      .select(expr("n div 2").as("n_edges"),
        round((col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (sqrt((col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n").cast(dec) * col("syy") - col("sy") * col("sy"))
            .cast("double"))), 6).as("assortativity"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_deg"))
  }

  /** X94: degree distribution with cumulative share — the first graph
    * profile anyone computes (is this co-occurrence graph heavy-tailed
    * enough to need the X59 orientation / X21 salting machinery?).
    * Nodes collapse to per-degree counts first, so the running total
    * windows over the DISTINCT-DEGREE relation — thousands of rows at
    * any corpus size, never node count; the same value-histogram trick
    * as the X66 median.
    */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = coOrderEdges(spark, dir)
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    val total = hist.agg(sum("n_nodes").as("n_total"))
    hist.crossJoin(broadcast(total))
      .withColumn("cum_nodes",
        sum("n_nodes").over(Window.orderBy("deg")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("deg"), col("n_nodes"), col("cum_nodes"),
        round(col("cum_nodes").cast("double") / col("n_total"), 6)
          .as("cum_share"))
      .orderBy("deg")
  }

  /** X109: HITS hubs & authorities (Kleinberg, JACM'99) on the bipartite
    * customer→part purchase graph: a part's authority is the summed hub
    * weight of the customers who buy it; a customer's hub weight is the
    * summed authority of the parts they buy. Two full mutual-
    * reinforcement rounds from h₀ = 1, UNNORMALIZED — on a bipartite
    * graph the iterates then stay exact integers (a₁ = part degree,
    * h₁ = Σ a₁, …), summed in DECIMAL(38,0) so partition order can
    * never perturb them; IEEE appears only in the final max-
    * normalization, making the whole iteration hash-stable and the
    * oracle a plain unrolled join chain. (Classic HITS L2-normalizes
    * every round; normalization only rescales — the RANKING, and the
    * score/max ratio after equally many rounds, are identical.)
    *
    * Scale shape: the edge list is the one big relation; each half-
    * round is edges ⋈ current-scores (key: the scoring side) feeding a
    * map-side-combinable sum keyed on the other side — two shuffles per
    * round, vectors only ever node-sized. Top-k is TakeOrdered, no
    * global sort. The edge relation is memoized with the rest of the
    * graph family. DECIMAL(38,0) holds Σdeg-weighted growth for ~12
    * rounds on a 10¹²-edge graph before overflow would force the
    * normalized-double variant.
    */
  /** The bipartite customer→part purchase edge list HITS iterates on —
    * memoized because the plan references it four times (one join per
    * half-round).
    */
  private def hitsEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.hits_edges") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust")),
          Seq("ok"))
        .select("cust", "part").distinct()
    }

  def hits(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // r15 (guide §2.4): each half-round joins the edge list on one side
    // (part or cust) and aggregates on the other — two memoized copies,
    // each partitioned+sorted on ITS join key, mean no half-round ever
    // re-shuffles or re-sorts the |E|-row relation for a join; only the
    // node-sized score vectors move, plus the inherent opposite-keyed
    // aggregate exchange. Sums stay DECIMAL(38,0): order-free, exact.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val byPart = Memo(spark, dir, "graph.hits_edges_bypart")(
      hitsEdges(spark, dir).repartition(parts, col("part"))
        .sortWithinPartitions("part"))
    val byCust = Memo(spark, dir, "graph.hits_edges_bycust")(
      hitsEdges(spark, dir).repartition(parts, col("cust"))
        .sortWithinPartitions("cust"))
    val dec = "decimal(38,0)"
    // round 1: a1(part) = Σ_cust 1 ; h1(cust) = Σ_part a1
    val a1 = byPart.groupBy("part")
      .agg(count(lit(1)).cast(dec).as("a"))
    val h1 = byPart.join(a1, Seq("part"))
      .groupBy("cust").agg(sum("a").as("h"))
    // round 2: a2(part) = Σ_cust h1 ; h2(cust) = Σ_part a2
    val a2 = byCust.join(h1, Seq("cust"))
      .groupBy("part").agg(sum("h").as("a"))
    val h2 = byPart.join(a2, Seq("part"))
      .groupBy("cust").agg(sum("a").as("h"))
    val topAuth = a2
      .crossJoin(broadcast(a2.agg(max("a").as("mx"))))
      .select(lit("authority").as("role"), col("part").as("node_id"),
        col("a").cast("long").as("score"),
        round(col("a").cast("double") / col("mx").cast("double"), 6)
          .as("score_norm"))
      .orderBy(col("score").desc, col("node_id")).limit(k)
    val topHub = h2
      .crossJoin(broadcast(h2.agg(max("h").as("mx"))))
      .select(lit("hub").as("role"), col("cust").as("node_id"),
        col("h").cast("long").as("score"),
        round(col("h").cast("double") / col("mx").cast("double"), 6)
          .as("score_norm"))
      .orderBy(col("score").desc, col("node_id")).limit(k)
    topAuth.unionByName(topHub)
      .orderBy(col("role"), col("score").desc, col("node_id"))
  }

  /** X122: per-edge Jaccard neighbor similarity — the classical
    * link-prediction / edge-strength score: for each co-order edge
    * (a,b), J = |N(a)∩N(b)| / |N(a)∪N(b)| over the full undirected
    * neighborhoods (Liben-Nowell & Kleinberg 2003). The common-neighbor
    * count is NOT a fresh wedge enumeration: every triangle {u,v,w} the
    * oriented edge-iterator kernel finds (the X59 machinery, adjacency
    * memoized and shared) is attributed to its THREE undirected edges,
    * so common(a,b) = per-edge triangle count and the whole score rides
    * the same Σ outdeg² intersection work triangles already bounded —
    * no deg(a)·deg(b) pair space anywhere. Union size comes from the
    * degree aggregate: |N(a)∪N(b)| = deg(a)+deg(b)−common−(a,b are
    * neighbors by construction: −2 for the edge endpoints themselves,
    * which are in each other's neighborhood but never common).
    *
    * Scale shape: one explode of the per-edge intersection arrays
    * (3 rows per triangle), one groupBy on the undirected edge key, a
    * broadcast-free join against the memoized edge/degree relations,
    * TakeOrdered top-k. Exact BIGINT counts; IEEE only in the final
    * ratio.
    */
  def edgeJaccard(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val common = triangleList(spark, dir)
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    val und = coOrderEdges(spark, dir)
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // deg is node-sized (dimension vs the edge fact stream): broadcast
    // both attaches so the only exchange is the edge-keyed common-count
    // join (the adamicAdar lesson — see ROUND9_NOTES)
    und.join(common, Seq("a", "b"), "left")
      .join(broadcast(deg.select(col("id").as("a"), col("deg").as("deg_a"))),
        Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("deg").as("deg_b"))),
        Seq("b"))
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"),
        coalesce(col("common"), lit(0L)).as("common"))
      // endpoint-excluded union; guard the degenerate isolated-edge
      // denominator (never hit on the fixture, cheap to state)
      .filter(col("deg_a") + col("deg_b") - col("common") - 2 > 0)
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("deg_a") + col("deg_b") - col("common") - 2).cast("double"), 6))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  /** X163: Adamic-Adar tie strength per edge — the classic link-
    * prediction/link-weight score AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)
    * (Adamic & Adar 2003): common neighbors weighted by how selective
    * they are (a shared hub says little, a shared rare neighbor says a
    * lot) — the weighted refinement of X122's per-edge Jaccard. Scored
    * for EXISTING edges, so the enumeration is exactly triangle listing:
    * every triangle {u,v,w} from the X59 degree-oriented kernel
    * (memoized adjacency, Σ outdeg² bounded — never a raw wedge
    * blow-up) contributes its third vertex to each of its three edges.
    *
    * Exactness: a common neighbor is adjacent to both endpoints, so
    * deg(z) ≥ 2 and ln never sees 1; each 1/ln(deg z) term is
    * 6dp-rounded into DECIMAL(18,6) (the X81 rule) so the per-edge sum
    * is exact and partition-order-free; ln parity is platform-proven.
    */
  def adamicAdar(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val tris = triangleList(spark, dir)
    // triangle {u,v,w} → (edge, third vertex) for all three edges
    val contrib = tris.select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"), col("w").as("z")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b"), col("v").as("z")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b"), col("u").as("z")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.z").as("z"))
    val und = coOrderEdges(spark, dir)
    val deg = und.select(col("a").as("z"))
      .unionByName(und.select(col("b").as("z")))
      .groupBy("z").agg(count(lit(1)).as("deg_z"))
    // deg is NODE-sized (a dimension against the 3·|triangles| fact
    // stream): broadcasting it turns the z-attach into a map-side hash
    // join, so the only exchange left is the edge-keyed aggregate with
    // its map-side combine (measured 10.8 s → see ROUND9_NOTES; the
    // z-shuffle of the contribution stream was the entry's real cost,
    // not the memoized listing build).
    // r15 (guide §1.2 per-task work): the 6dp-rounded 1/ln(deg z) term
    // is a pure function of deg_z — computed HERE, once per node inside
    // the broadcast build, instead of once per contribution row (log +
    // round + decimal cast × 3·|triangles| ≈ 5.6 M evals at sf0.1).
    // Identical expression on identical inputs ⇒ identical values.
    val term = deg.select(col("z"),
      round(lit(1.0) / log(col("deg_z").cast("double")), 6)
        .cast("decimal(18,6)").as("term"))
    // …and the aggregate keys on ONE packed long instead of the (a, b)
    // pair — the r14 8-byte-shuffle-key move (§2.3): part keys are
    // 32-bit-positive, a < b, so a·2³² | b is bijective and unpacks
    // exactly after the aggregate; the hash aggregate gets the
    // single-long fast path and the exchange row narrows.
    contrib.join(broadcast(term), Seq("z"))
      .select((shiftleft(col("a"), 32).bitwiseOR(col("b"))).as("ab"),
        col("term"))
      .groupBy("ab")
      .agg(count(lit(1)).as("n_common"), sum("term").as("aa_dec"))
      .select(shiftright(col("ab"), 32).as("a"),
        col("ab").bitwiseAND(lit(0xffffffffL)).as("b"),
        col("n_common"),
        col("aa_dec").cast("double").as("aa_score"))
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(k)
  }

  /** X169: weakly-connected components of the co-order graph via the
    * O(log n)-round star-contraction kernel ([[Components]]) — the same
    * machinery that clusters near-duplicate documents, applied to the
    * general graph surface (the "is this one market or many" question,
    * and the precondition check for any per-component analytic). Label =
    * min node id of the component, component sizes joined on.
    *
    * Scale shape: [[Components.starComponents]]'s contract — every round
    * shuffles on node id only, lineage cut per round, convergence in
    * O(log n) rounds even on adversarial-diameter chains (where the
    * min-label propagation the ORACLE states would need diameter
    * rounds; the two agree at the common fixpoint, which the oracle
    * reaches on this graph within its 24 unrolled rounds — the law spec
    * asserts agreement with an in-JVM union-find, diameter-free).
    *
    * The graph is the MIN-SUPPORT-2 co-order graph (edges backed by at
    * least two distinct shared orders): the plain co-order graph is one
    * giant ball at every SF (components trivially uniform), while the
    * support threshold — the standard market-basket noise cut — leaves
    * the real multi-component structure this operator exists to find.
    */
  /** X175: two-hop neighborhood size — |{u ≠ v reachable from v in ≤ 2
    * hops}| per node, the local-influence / friend-of-friend reach
    * number (and the audience estimate push notifications and
    * propagation models start from). Enumeration is the wedge join
    * sym ⋈ sym on the shared middle vertex, unioned with the direct
    * edges, distinct-counted per source.
    *
    * Scale shape: the wedge volume is Σ deg² — which is why this runs
    * on the min-support-2 graph (shared, memoized with X169), whose
    * support cut bounds hub degrees; on the unthresholded 100 TB graph
    * the stated path is the X105 register-exact HLL over the same wedge
    * stream (two-hop DISTINCT cardinality is the textbook sketch use
    * case), traded in when exactness isn't required. The distinct and
    * the count are both node-keyed shuffles; no global structure.
    */
  def twoHop(spark: SparkSession, dir: String): DataFrame = {
    val e = minSupportEdges(spark, dir)
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val wedge = sym.as("x")
      .join(sym.as("y"), col("x.v") === col("y.u"))
      .select(col("x.u").as("u"), col("y.v").as("w"))
    wedge.unionByName(sym.select(col("u"), col("v").as("w")))
      .filter(col("u") =!= col("w"))
      .distinct()
      .groupBy(col("u").as("part_id"))
      .agg(count(lit(1)).as("n_two_hop"))
      .orderBy("part_id")
  }

  def components(spark: SparkSession, dir: String): DataFrame = {
    val und = minSupportEdges(spark, dir)
    val labels = Components.starComponents(und).labels
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("comp"))
      .select(col("id").as("part_id"), col("comp").as("component"),
        col("component_size"))
      .orderBy("part_id")
  }

  /** X115: weighted single-source shortest paths, `rounds` Bellman-Ford
    * rounds over the symmetric customer↔supplier trade graph. Edge
    * weight is an integer trade-distance `8 − least(shared_lineitems,
    * 7)` (heavier trade ⇒ closer, w ∈ [1,7]) so every distance is exact
    * BIGINT arithmetic — no float path sums to drift between engines.
    * The source is the smallest node id; with a fixed round count the
    * result is "min-cost path using ≤ `rounds` edges", which an oracle
    * can state as a plain unrolled relax chain (a recursive
    * path-enumeration CTE would be exponential on a dense bipartite
    * graph; the unrolled relation per round is linear in nodes).
    *
    * The implementation relaxes FRONTIER-ONLY (classic delta
    * Bellman-Ford): round r relaxes edges out of nodes improved in
    * round r−1. This computes exactly the naive all-node relaxation's
    * dist_r — a node not improved at r−1 contributed the same
    * relaxations at r−1 already — so the oracle can stay naive while
    * the engine does the sparse work. Scale shape: the per-round join
    * shuffles only frontier×out-edges (AQE broadcasts the early tiny
    * frontiers); dist is lineage-cut every round ([[Checkpoints.cut]]),
    * so the plan stays O(1) per round; the weighted edge relation is
    * memoized/persisted once and keyed on `src` — the natural
    * bucketing key for a 100 TB edge list.
    */
  def sssp(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
    val edges = Memo(spark, dir, "graph.sssp_edges") {
      val trade = li.join(ord, Seq("ok"))
        .groupBy(col("ck").as("cust"), (col("sk") + lit(10000000L)).as("supp"))
        .agg(count(lit(1)).as("n"))
        .select(col("cust"), col("supp"),
          (lit(8L) - least(col("n"), lit(7L))).as("w"))
      trade.select(col("cust").as("src"), col("supp").as("dst"), col("w"))
        .unionByName(
          trade.select(col("supp").as("src"), col("cust").as("dst"), col("w")))
    }
    val src0 = graft.Checkpoints.cut(edges.agg(min("src").as("node"))
      .select(col("node"), lit(0L).as("dist")))
    // the relax chain's per-round relations are node-sized: the loop is
    // sized to the memo's measured edge count
    GraftSession.loop(spark, graft.Checkpoints.rows(edges)) { loop =>
      val loopEdges = GraftSession.bind(loop, edges)
      var dist = GraftSession.bind(loop, src0)
      var frontier = dist
      for (_ <- 1 to rounds) {
        val cand = frontier.select(col("node").as("src"), col("dist").as("fd"))
          .join(loopEdges, Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(min(col("fd") + col("w")).as("cand"))
        val next = graft.Checkpoints.cut(
          dist.withColumnRenamed("dist", "old")
            .join(cand, Seq("node"), "full_outer")
            .select(col("node"),
              least(coalesce(col("old"), col("cand")),
                coalesce(col("cand"), col("old"))).as("dist"),
              (col("old").isNull ||
                (col("cand").isNotNull && col("cand") < col("old")))
                .as("improved")))
        // src0 or the round before: `next` holds all the result needs
        graft.Checkpoints.release(dist)
        dist = next.select("node", "dist")
        frontier = next.filter(col("improved")).select("node", "dist")
      }
      GraftSession.bind(spark, dist)
    }.orderBy("node")
  }

  /** X125: k-core decomposition (the `k`-core of the co-order part
    * graph) via iterative peeling (Matula–Beck 1983 in its
    * data-parallel form): repeatedly delete every node whose degree
    * among SURVIVORS is below `k` until nothing changes, then report
    * each surviving node with its in-core degree. The k-core is the
    * standard "dense backbone" extraction — spam/anomaly mining and
    * graph-sampling pipelines run it before anything expensive.
    *
    * Scale shape: each round is two semi-joins of the memoized
    * symmetric edge list against the alive-node set (co-partitioned on
    * node id) plus one map-side-combinable degree count — never an
    * adjacency materialization. The alive set only shrinks, and every
    * round is an eager lineage cut ([[graft.Checkpoints.cut]]), so a
    * 100 TB edge set pays |E ⋈ alive| per round with plain hash
    * partitioning. Convergence compares the row counts the cuts
    * measured, with no job of its own.
    * Peeling rounds are small in practice (each round removes a whole
    * "shell layer"); the oracle unrolls [[kcoreOracleRounds]] rounds and
    * [[kcoreRounds]] lets the spec assert the fixture converges within
    * that bound — the same loud-not-silent contract as the cluster
    * propagation oracles.
    */
  def kcore(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val sym = symEdges(spark, dir) // (u, v), both directions
    // node-sized membership vs the |E|-row edge stream: broadcast the
    // alive set when its MEASURED count fits the session's broadcast
    // budget (the hyperball conf-gate, guide §3.1) — the edge relation
    // is then never re-shuffled per peel round; a graph whose alive set
    // exceeds the budget falls back to the shuffled semi-joins.
    val bcastBudget = spark.sessionState.conf.autoBroadcastJoinThreshold
    // per-round shuffles sized to the measured symmetric edge count
    GraftSession.loop(spark, graft.Checkpoints.rows(sym)) { loop =>
      val loopSym = GraftSession.bind(loop, sym)
      def degrees(alive: DataFrame, nAlive: Long): DataFrame = {
        val a = if (bcastBudget > 0 && nAlive * 16L <= bcastBudget)
          broadcast(alive) else alive
        loopSym.join(a.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(a.select(col("id").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      }
      var alive = GraftSession.bind(loop, graft.Checkpoints.cut(
        sym.select(col("u").as("id")).distinct()))
      var n = graft.Checkpoints.rows(alive)
      var rounds = 0
      var changed = true
      while (changed) {
        val next = graft.Checkpoints.cut(
          degrees(alive, n).filter(col("deg") >= k).select("id"))
        val m = graft.Checkpoints.rows(next)
        changed = m < n
        // only the accepted alive set stays: the result reads it
        if (changed) {
          graft.Checkpoints.release(alive)
          alive = next; n = m; rounds += 1
        } else graft.Checkpoints.release(next)
      }
      lastKcoreRounds.put((spark.sparkContext.applicationId, dir), rounds)
      GraftSession.bind(spark, degrees(alive, n))
    }.select(col("id").as("part_id"), col("deg").as("core_deg"))
      .orderBy("part_id")
  }

  /** Unroll depth of the `graph_kcore` DuckDB oracle; [[kcoreRounds]]
    * must stay ≤ this on the gate fixture (spec-asserted at sf0.01).
    */
  val kcoreOracleRounds: Int = 12

  private val lastKcoreRounds =
    scala.collection.concurrent.TrieMap.empty[(String, String), Int]

  /** Peel rounds the last [[kcore]] call on (app, dir) needed. */
  def kcoreRounds(spark: SparkSession, dir: String): Option[Int] =
    lastKcoreRounds.get((spark.sparkContext.applicationId, dir))

  /** X186: deterministic random-walk corpus — the node2vec/DeepWalk
    * input relation (one fixed-length walk per start node) that graph
    * embedding trainers consume, generated hash-deterministically so
    * the whole corpus is exactly oracle-able: at step t the walk at
    * node u moves to the neighbour whose per-node rank equals
    * `md5(start ∥ t ∥ u) mod deg(u)` — a uniform choice under the hash,
    * reproducible on replay and across engines (the X160 md5-fold
    * idiom). Walks run on the min-support-2 graph (shared, memoized
    * with X169/X175) where every node has deg ≥ 1 by construction, so
    * no walk ever strands.
    *
    * Scale shape: the ranked adjacency (rank + degree in one
    * node-partitioned window pass over the memoized edge relation) is
    * computed once; each step is ONE equi-join of the walk frontier
    * (|nodes| rows, constant across steps) against adjacency on
    * (node, rank) — never a candidate fan-out, because the rank
    * equality pins exactly one edge row per walker. Frontier lineage is
    * cut per step ([[graft.Checkpoints.cut]], the bfsHops pattern), so
    * the plan stays O(1) per step at any walk length; all shuffles key
    * on node id. At 100 TB: walks-per-node and length multiply the
    * frontier linearly — the join stays (node, rank)-keyed and
    * bucketing on node id co-locates every step.
    *
    * The corpus is the union of every step's cut, so no step can be
    * freed before the memo has stored it; the context cleaner frees them
    * once the build's plan is dropped.
    */
  /** X208: rich-club coefficient curve — "do the hubs wire to each
    * other": for each degree threshold k in a fixed panel, φ(k) =
    * 2·E_k / (N_k·(N_k−1)) over the subgraph induced by nodes of
    * degree > k (Colizza et al. 2006). Read beside X150's global
    * assortativity, the CURVE localizes where hub-hub wiring starts —
    * the congestion/skew early-warning for a co-occurrence graph (a
    * rising tail says the heaviest keys concentrate on each other, the
    * exact shape that motivates X21's salting). The X142 sweep
    * discipline applied to graph structure: thresholds band-join the
    * degree-annotated EDGE relation, never re-derive the graph.
    *
    * Exactness: N_k and E_k are exact integers from one degree
    * relation + one edge semi-annotation; φ is the single final 6dp
    * division per panel row.
    *
    * Scale shape: degrees are one node-keyed count over the memoized
    * min-support edge relation; the panel (≤8 rows) broadcasts against
    * edges once (conditional sums per threshold — one pass, no
    * per-threshold subgraphs); nothing quadratic anywhere.
    */
  def richClub(spark: SparkSession, dir: String,
               panel: Seq[Int] = Seq(1, 2, 3, 4, 6, 8)): DataFrame = {
    val e = minSupportEdges(spark, dir)
    val deg = e.select(col("a").as("id")).unionByName(
        e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val ks = spark.createDataFrame(
      spark.sparkContext.parallelize(
        panel.map(k => org.apache.spark.sql.Row(k.toLong)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    val nk = deg.crossJoin(broadcast(ks))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = ed.crossJoin(broadcast(ks))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    broadcast(ks).join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(coalesce(col("n_nodes"), lit(0L)) >= 2,
          round(lit(2.0) * coalesce(col("n_edges"), lit(0L)) /
            (col("n_nodes") * (col("n_nodes") - 1)), 6)).as("phi"))
      .orderBy("k")
  }

  /** X206: skip-gram co-occurrence over the walk corpus — the actual
    * node2vec/DeepWalk TRAINING INPUT one step downstream of X186's
    * walks (shared verbatim — corpus and co-occurrence cannot drift):
    * two nodes co-occur when they appear within ±`window` steps on the
    * same walk, canonicalized (small, large) and counted — the
    * (center, context, weight) table a skip-gram trainer consumes,
    * AFTER a min-support cut (`minSupport`, default 2): pairs seen
    * once are dropped, the standard min-count vocabulary/pair floor a
    * word2vec-family trainer applies before building its tables. Pass
    * `minSupport = 1` for the uncut pair stream.
    *
    * Scale shape: one self-join of the walk relation keyed on the walk
    * id with a bounded step-band predicate (≤ 2·window rows pair per
    * position), then a pair-keyed count — walk length and window are
    * constants, so the pair stream is a constant factor of the walk
    * corpus, never quadratic in anything.
    */
  def walkCooccurrence(spark: SparkSession, dir: String,
                       window: Int = 2, minSupport: Int = 2): DataFrame = {
    val w = randomWalks(spark, dir)
    val a = w.select(col("start_id"), col("step").as("sa"),
      col("node").as("na"))
    val b = w.select(col("start_id"), col("step").as("sb"),
      col("node").as("nb"))
    a.join(b, Seq("start_id"))
      .filter(col("sb") > col("sa") && col("sb") - col("sa") <= window &&
        col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= minSupport)
      .orderBy("a", "b")
  }

  /** X200: k-truss decomposition (fixed k = 3, two peel rounds) — the
    * cohesion kernel between triangle counting and clique mining: a
    * 3-truss keeps only edges supported by ≥ 1 triangle among
    * SURVIVING edges, so peeling removes bridge/appendage edges that
    * degree-based k-core cannot see (an edge between two hubs with no
    * common neighbour has high endpoint degrees but zero support);
    * k = 3 because the sf0.01 support-cut graph tops out at support 2
    * (a 4-truss is empty there — measured), while 3-truss peeling is
    * non-degenerate at every fixture SF.
    * Each round lists triangles on the current edge set (the a<b<c
    * join, Σ deg² bounded by the min-support-2 cut) and keeps edges
    * with support ≥ k−2 = 1 (the k-truss rule; edges in NO surviving
    * triangle never appear in the grouped support relation, so they
    * drop out of the peel implicitly — the explicit filter spells the
    * k−2 bound for the parameterized form); fixed rounds keep the
    * oracle stateable (the X125 k-core posture — the fixture converges
    * within two peels, which the spec pins).
    *
    * Scale shape: per round ONE triangle enumeration (two self-joins
    * of the edge relation, each keyed on an endpoint — the same plan
    * family as the memoized X59 kernel) + an edge-keyed count +
    * semi-join; lineage cut per round. At 100 TB the edge relation
    * buckets on `a` and the enumeration reuses that partitioning in
    * both joins.
    */
  def ktruss(spark: SparkSession, dir: String, rounds: Int = 2,
             k: Int = 3): DataFrame = {
    require(rounds >= 1, "k-truss needs at least one peel round")
    require(k >= 3, "a k-truss is defined for k >= 3")
    var edges = graft.Checkpoints.cut(
      minSupportEdges(spark, dir).select(col("a"), col("b")))
    var support: DataFrame = null
    for (_ <- 1 to rounds) {
      val tri = edges.as("x")
        .join(edges.as("y"), col("y.a") === col("x.a") &&
          col("y.b") > col("x.b"))
        .join(edges.as("z"), col("z.a") === col("x.b") &&
          col("z.b") === col("y.b"))
        .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
      val sup = tri.select(explode(array(
          struct(col("ta").as("a"), col("tb").as("b")),
          struct(col("ta").as("a"), col("tc").as("b")),
          struct(col("tb").as("a"), col("tc").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      support = graft.Checkpoints.cut(sup.filter(col("support") >= k - 2))
      // the first edge cut or the support before: the result reads only
      // the last support
      graft.Checkpoints.release(edges)
      edges = support.select("a", "b")
    }
    support.orderBy("a", "b")
  }

  def randomWalks(spark: SparkSession, dir: String, steps: Int = 3): DataFrame =
    // memoized: the walk ENTRY and the X206 co-occurrence table both
    // consume this corpus (the nearDupClusters lesson — unmemoized the
    // second consumer re-ran every frontier join)
    Memo(spark, dir, s"graph.walks:$steps") {
      randomWalksUncached(spark, dir, steps)
    }

  /** The multi-walk generalization of [[randomWalks]] — `nWalks`
    * hash-independent walks per start node, distinguished by a `walk`
    * replica id that feeds the step hash (so replicas diverge
    * immediately) — the production node2vec corpus shape where walk
    * count is a coverage parameter. Walk replica 0 hashes with the
    * bare node id and therefore reproduces the X186 corpus EXACTLY
    * (spec-pinned), which is what makes the generalization parameter
    * growth rather than a new operator: the entry stays the nWalks=1
    * projection. Frontier size scales ×nWalks linearly; everything
    * else is the X186 plan unchanged. As there, the result is the union
    * of every step's cut, so the steps stay live as long as the result.
    */
  def randomWalksMulti(spark: SparkSession, dir: String, steps: Int = 3,
                       nWalks: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = minSupportEdges(spark, dir)
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val wU = Window.partitionBy("u").orderBy("v")
    val adj = sym
      .withColumn("rk", row_number().over(wU) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("u")))
    val reps = spark.range(nWalks).select(col("id").as("walk"))
    val starts = graft.Checkpoints.cut(
      sym.select(col("u").as("start_id")).distinct()
        .crossJoin(broadcast(reps))
        .select(col("start_id"), col("walk"), lit(0L).as("step"),
          col("start_id").as("node")))
    var frontier = starts
    var walks = starts
    for (t <- 1 to steps) {
      // replica 0 hashes with the bare start id (== the X186 corpus);
      // replicas r > 0 salt the hash with "~r"
      val hashKey = concat(col("start_id").cast("string"),
        when(col("walk") === 0, lit("")).otherwise(
          concat(lit("~"), col("walk").cast("string"))),
        lit("_"), lit(t.toString), lit("_"), col("node").cast("string"))
      val pick = conv(substring(md5(hashKey), 1, 8), 16, 10)
        .cast("long") % col("deg")
      val next = graft.Checkpoints.cut(
        frontier.join(adj, frontier("node") === adj("u"))
          .filter(col("rk") === pick)
          .select(col("start_id"), col("walk"), lit(t.toLong).as("step"),
            col("v").as("node")))
      walks = walks.unionByName(next)
      frontier = next
    }
    walks.orderBy("start_id", "walk", "step")
  }

  private def randomWalksUncached(spark: SparkSession, dir: String,
                                  steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = minSupportEdges(spark, dir)
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val wU = Window.partitionBy("u").orderBy("v")
    val adj = sym
      .withColumn("rk", row_number().over(wU) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("u")))
    val starts = graft.Checkpoints.cut(
      sym.select(col("u").as("start_id")).distinct()
        .select(col("start_id"), lit(0L).as("step"),
          col("start_id").as("node")))
    var frontier = starts
    var walks = starts
    for (t <- 1 to steps) {
      val pick = conv(substring(md5(concat(
        col("start_id").cast("string"), lit("_"), lit(t.toString),
        lit("_"), col("node").cast("string"))), 1, 8), 16, 10)
        .cast("long") % col("deg")
      val next = graft.Checkpoints.cut(
        frontier.join(adj, frontier("node") === adj("u"))
          .filter(col("rk") === pick)
          .select(col("start_id"), lit(t.toLong).as("step"),
            col("v").as("node")))
      walks = walks.unionByName(next)
      frontier = next
    }
    walks.orderBy("start_id", "step")
  }

  /** X246: HyperBall (Boldi & Vigna 2013) — the neighbourhood function
    * and harmonic-centrality ESTIMATE for EVERY node at once, the
    * algorithm that made billion-node centrality feasible: node v's
    * state is a 256-register HLL of its t-ball; each round the sketch
    * absorbs the neighbours' sketches by register MAX (union of the
    * underlying sets), so |B_t(v)| − |B_{t−1}(v)| estimates the count
    * of nodes at distance exactly t and
    * harmonic(v) ≈ Σ_t (1/t)·Δ_t. An exact all-pairs BFS is n·|E| —
    * dead at scale; HyperBall is rounds × one edge-keyed max-aggregate
    * over (node, register) rows, the map-combinable shape that runs
    * anywhere.
    *
    * Register-exact determinism: registers use the X105 convention
    * verbatim (h = first 8 md5 hex chars, 256 buckets, ρ = 25 −
    * bit_length(w)) and the max-merge is integer — so the sketches,
    * the estimates (the X105 linear-counting branch included; the
    * harmonic sum Σ2^−ρ is EXACT in ieee754 — ≤256 binary fractions
    * ≥ 2^−25 need 33 bits) and the output hash are bit-stable in any
    * engine and partition order. The oracle unrolls the same `hops`
    * max-union rounds, one previous-round reference each (self-loops
    * make the union part of the join — the propagation idiom).
    *
    * Scale shape: state is nodes × ≤256 rows (vs nodes × nodes for
    * exact); each round shuffles on the node key only; per-round
    * lineage cuts keep Catalyst from re-optimizing the growing
    * iterate. Δ estimates can dip below 0 only by sketch noise — kept
    * as-is (stated; clamping would hide the estimator's own error).
    */
  /** X258: weighted bipartite projection — the customer–supplier
    * bipartite graph projected onto suppliers: two suppliers connect
    * with weight = cosine(common customers / √(deg₁·deg₂)), the
    * "suppliers bought together" co-engagement graph (the same
    * construction gives item-item graphs from user-item data — the
    * classic collaborative-filtering neighbourhood). The projection's
    * scale hazard is the hub customer (one customer touching k
    * suppliers emits k²/2 pairs), so each customer's supplier list is
    * CAPPED at `cap` by smallest md5(cust|supp) — the deterministic
    * frequency-cap every production co-occurrence projection applies
    * (and the stated semantics: degrees and weights are of the CAPPED
    * graph, reproducible by salt). Min-support 2 cuts singleton noise.
    *
    * Scale shape: one distinct pass, a per-customer WindowGroupLimit
    * (partitioned rank ≤ cap, never a global sort), a capped self-join
    * keyed on the customer (Σ min(deg, cap)² bounded), one count
    * aggregate + two broadcast-joined degree lookups.
    */
  def bipartiteProject(spark: SparkSession, dir: String,
                       cap: Int = 32, minSupport: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15 (guide §2.4): ONE ck-keyed exchange feeds both the distinct
    // and the window — HashPartitioning(ck) satisfies the (ck, sk)
    // distinct's clustering AND the window's partitioning, so the
    // former distinct-exchange + window-exchange pair collapses to one.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck")),
        Seq("ok"))
      .select(col("ck"), col("sk"))
      .repartition(parts, col("ck"))
      .distinct()
    // r14 (guide §2.4): the capped relation feeds FOUR plan references
    // (both self-join sides + both degree lookups) and Spark does not
    // dedupe the subtrees — the committed before-plan computed the
    // lineitem⋈orders distinct + md5 window four times. One eager cut
    // materializes it once; the window's hashpartitioning(ck) and
    // (ck, …) sort order survive the checkpoint, so the ck-keyed
    // self-join needs no new exchange or sort.
    val capped = graft.Checkpoints.cut(cs
      .withColumn("rn", row_number().over(Window.partitionBy("ck")
        .orderBy(md5(concat_ws("|", col("ck"), col("sk"))), col("sk"))))
      .filter(col("rn") <= cap)
      .select(col("ck"), col("sk")))
    // per-supplier degree of the capped graph: supplier-dimension-sized
    // at ANY corpus scale — broadcast both lookups (guide §3.1)
    val deg = capped.groupBy(col("sk")).agg(count(lit(1)).as("deg"))
    // (r14 note: an in-array pair expansion — the fuzzyNameJoin kernel —
    // was measured SLOWER here than the ck-keyed self-join: per-row
    // struct/array generators beat codegen'd join output at this fanout.
    // The self-join stays; both sides now read the one checkpointed
    // capped relation instead of recomputing the window subtree.)
    // r15 (§2.3): the pair aggregate keys on ONE packed long (suppkeys
    // are 32-bit-positive and s1 < s2, so s1·2³² | s2 is bijective and
    // unpacks exactly after the aggregate) — single-long hash-agg fast
    // path and a narrower pair exchange for the Σ min(deg,cap)² stream.
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.ck") === col("b.ck") &&
        col("a.sk") < col("b.sk"))
      .select(shiftleft(col("a.sk"), 32).bitwiseOR(col("b.sk")).as("s12"))
      .groupBy("s12")
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minSupport)
      .select(shiftright(col("s12"), 32).as("s1"),
        col("s12").bitwiseAND(lit(0xffffffffL)).as("s2"), col("common"))
    pairs
      .join(broadcast(deg.select(col("sk").as("s1"), col("deg").as("deg1"))),
        Seq("s1"))
      .join(broadcast(deg.select(col("sk").as("s2"), col("deg").as("deg2"))),
        Seq("s2"))
      .select(col("s1"), col("s2"), col("common"), col("deg1"), col("deg2"),
        round(col("common").cast("double") /
          sqrt(col("deg1").cast("double") * col("deg2")), 6).as("weight"))
      .orderBy("s1", "s2")
  }

  /** One node's 256-register sketch — the byte array IS the HyperBall
    * state (256 B/node, the paper's point: the whole frontier state of
    * a billion-node graph fits a few hundred GB across the fleet).
    */
  final case class BallRegs(id: Long, regs: Array[Byte])

  /** HyperBall's self-loop edge stream, partitioned ONCE by the
    * aggregate key (src) and memoized with the graph family (r15, guide
    * §2.4): each round's partial max-merge then collapses every
    * partition to its distinct nodes before the exchange, so the
    * per-round sketch shuffle moves ≤ |V| rows (~|V|·264 B) instead of
    * partitions × |V| partials. One 16 B/row edge shuffle, paid once,
    * buys that for every round of every call.
    */
  private def hyperEloop(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.hyper_eloop") {
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val edges = symEdges(spark, dir)
        .select(col("u").as("src"), col("v").as("dst"))
      val nodes = edges.select(col("src").as("id")).distinct()
      edges.unionByName(
          nodes.select(col("id").as("src"), col("id").as("dst")))
        .repartition(parts, col("src"))
    }

  def hyperBall(spark: SparkSession, dir: String, hops: Int = 2): DataFrame = {
    import spark.implicits._
    val edges = symEdges(spark, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    val nodes = edges.select(col("src").as("id")).distinct()
    val h = conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    // one (b, ρ) cell per node → its singleton 256-byte sketch. The
    // register convention is X105's verbatim (b = h mod 256,
    // ρ = 25 − bit_length(h div 256), 25 at zero).
    val r0: org.apache.spark.sql.Dataset[BallRegs] = nodes
      .withColumn("h", h)
      .select(col("id"), pmod(col("h"), lit(256)).cast("int").as("b"),
        (col("h") / lit(256)).cast("long").as("w"))
      .select(col("id"), col("b"),
        when(col("w") === 0, lit(25))
          .otherwise(lit(25) - length(bin(col("w")))).cast("int").as("rho"))
      .as[(Long, Int, Int)]
      .map { case (id, b, rho) =>
        val a = new Array[Byte](256); a(b) = rho.toByte; BallRegs(id, a)
      }
    // self-loops fold the node's own sketch into the same join the
    // neighbours ride — ONE previous-round reference per round. The
    // merge is a typed reduceGroups (map-side partial combine): rows
    // through the shuffle stay |E|, each 256 B — NOT |E|×registers,
    // which is what the naive (id, b, ρ) relational spelling costs.
    // r15: the edge stream is partitioned ONCE by the aggregate key
    // (src) and persisted for the `hops` rounds — the per-round partial
    // combine then collapses each partition to exactly its distinct
    // nodes, so the aggregate exchange moves ≤ |V| sketch rows
    // (~|V|·264 B) per round instead of partitions × |V| partials
    // (measured ~170 MB → ~5 MB at sf0.1). One 16 B/row edge shuffle
    // buys `hops` rounds of sketch-shuffle avoidance at any scale.
    val eLoop = hyperEloop(spark, dir)
    // in-place max-merge: `a` is the aggregation buffer (a fresh
    // deserialized object, never shared), so mutating it avoids one
    // 256 B allocation per merged row
    def unionMax(a: BallRegs, b: BallRegs): BallRegs = {
      val ar = a.regs; val br = b.regs
      var i = 0
      while (i < 256) {
        if (br(i) > ar(i)) ar(i) = br(i)
        i += 1
      }
      a
    }
    // r15 (guide §3.1): the per-round join attaches the PREVIOUS round's
    // sketch table — exactly nodes × ~264 B — to the |E|-row edge
    // stream. Checkpointed iterates carry no statistics, so the planner
    // sort-merge-joined it: BOTH sides shuffled+sorted every round, the
    // |E|-row side twice per round (join + aggregate). The sketch side's
    // size is KNOWN (one node count against a fixed 264 B/row), so
    // broadcast it explicitly whenever it fits the session's own
    // broadcast budget (autoBroadcastJoinThreshold — conf-driven, so a
    // billion-node run falls back to the shuffle join by itself): the
    // edge stream then never shuffles for the join, and the only
    // per-round exchange left is the map-side-combined aggregate.
    val nNodes = nodes.count()
    val bcastBudget = spark.sessionState.conf.autoBroadcastJoinThreshold
    val sketchBytes = nNodes * 264L
    var rounds = List((0, r0))
    for (t <- 1 to hops) {
      val prev = rounds.head._2
      val prevDf =
        if (bcastBudget > 0 && sketchBytes <= bcastBudget) broadcast(prev.toDF())
        else prev.toDF()
      val next = graft.Checkpoints.cut(
        eLoop.join(prevDf, col("dst") === col("id"))
          .select(col("src").as("id"), col("regs"))
          .as[BallRegs]
          .groupByKey(_.id)
          .reduceGroups(unionMax _)
          .map(_._2).toDF()).as[BallRegs]
      rounds = (t, next) :: rounds
    }
    // estimate from the full register vector (ρ = 0 ⇔ empty bucket):
    // the X105 formula verbatim, linear-counting branch included; the
    // harmonic sum Σ2^−ρ is ≤256 binary fractions ≥ 2^−25 — exact.
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val tagged = rounds.map { case (t, r) =>
      r.map { br =>
        // Σ2^−ρ: ≤256 binary fractions ≥ 2^−25 — exact in ieee754 in
        // any order, so the fixed 0..255 fold is bit-stable
        var s = 0.0
        var v = 0L
        var i = 0
        while (i < 256) {
          s += java.lang.Math.pow(2.0, -br.regs(i).toDouble)
          if (br.regs(i) == 0) v += 1
          i += 1
        }
        (t, br.id, s, v)
      }.toDF("t", "id", "s", "v")
    }.reduce(_.unionByName(_))
    val est = tagged
      .select(col("t"), col("id"),
        round(
          when((alpha * lit(65536.0) / col("s")) <= lit(640.0) &&
               col("v") > 0,
            lit(256.0) * log(lit(256.0) / col("v")))
            .otherwise(alpha * lit(65536.0) / col("s")), 6).as("est"))
    def cell(t: Int) = max(when(col("t") === t, col("est"))) // 1 non-null
    val cells = (0 to hops).map(t => cell(t).as(s"est$t"))
    // harmonic in EXACT integer micro-units of the already-6dp-rounded
    // estimates (re-rounding a float sum of rounded values sits on 6dp
    // ties — the observed 1-ulp cross-engine hazard), scaled by
    // L = lcm-ish ∏t so every 1/t term is integral; ONE final division
    val scaleL = (1 to hops).product
    def e6(t: Int) = round(col(s"est$t") * 1e6).cast("long")
    val harmonicScaled = (1 to hops).map(t =>
      (e6(t) - e6(t - 1)) * lit((scaleL / t).toLong)).reduce(_ + _)
    est.groupBy("id")
      .agg(cells.head, cells.tail: _*)
      .select(col("id").as("part_id") +:
        (0 to hops).map(t => col(s"est$t")) :+
        (harmonicScaled.cast("double") / lit(scaleL * 1e6))
          .as("harmonic_est"): _*)
      .orderBy("part_id")
  }
}
