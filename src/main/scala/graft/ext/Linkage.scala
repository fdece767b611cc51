package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo
import graft.tables.Tables

/** Record-linkage / co-occurrence operators: edit-distance similarity
  * join via deletion neighborhoods and market-basket association rules.
  * Both replace a naive O(n²) pair space with a bounded blocking key —
  * the pattern that makes entity resolution feasible at corpus scale.
  */
object Linkage {

  /** X61: edit-distance-≤1 similarity join over customer names, WITHOUT
    * a cross join. Blocking key = the deletion neighborhood (the string
    * itself plus every single-character deletion, |s|+1 keys per name —
    * the FastSS scheme): two strings within Levenshtein distance 1
    * always share a key (equality → the string itself; insert/delete →
    * the shorter string is a deletion of the longer; substitution at i →
    * both delete position i to the same variant). Grouping by key
    * yields a small candidate superset (shared variants can also arise
    * from transpositions, which are distance 2), so an exact
    * thresholded-levenshtein verify filters candidates — never the n²
    * name space. At 100 TB the grouping is an ordinary hash shuffle on
    * short strings; candidates per name are bounded by alphabet ×
    * length, not corpus size. The oracle states the naive quadratic
    * spelling (self cross join + levenshtein), proving the neighborhood
    * blocking is lossless.
    */
  def fuzzyNameJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.customer(spark, dir)
      .select(col("c_name").as("name")).distinct()
    // array_distinct matters: deleting any char of a same-char run (the
    // zero-runs in fixture names) yields the SAME variant, and duplicate
    // (name, key) rows would square through the candidate stage
    val keyed = names.select(col("name"), explode(array_distinct(concat(
        array(col("name")),
        expr("transform(sequence(1, length(name)), " +
          "i -> concat(substring(name, 1, i-1), substring(name, i+1)))"))))
      .as("k"))
    // candidates per key from ONE grouped pass (sorted set -> in-array
    // pair expansion) rather than a key self-join: the self-join form
    // recomputed the whole explode pipeline for both sides and shuffled
    // it twice — 10.5 s -> 3.9 s at sf0.1 for identical output. The
    // thresholded levenshtein (early-exit at distance 2, Spark 4's
    // 3-arg form) is the verify: a<b makes the pair distinct so the
    // distance is exactly 1 iff within the bound.
    //
    // r14 (guide §2.3): the grouping key is xxhash64 of the variant —
    // an 8-byte shuffle key instead of a ~name-length string. Lossless
    // for the OUTPUT: any true lev-1 pair shares a real deletion
    // variant (substitution → delete the differing char from both;
    // indel → the deleted-char variant equals the shorter name, which
    // sits in its own variant array), so every true pair still
    // collides; a hash collision can only ADD candidates, and the
    // levenshtein verify — now BEFORE the pair distinct, so the
    // distinct shuffles survivors instead of the full candidate
    // stream (§2.3 "aggregate before you shuffle") — rejects them.
    val grouped = keyed.groupBy(xxhash64(col("k")).as("hk"))
      .agg(sort_array(collect_set(col("name"))).as("ns"))
      .filter(size(col("ns")) >= 2)
    // r15: the verify was `levenshtein(name_a, name_b, 1) = 1` — the
    // banded DP still allocates its rows per call over ~1M candidate
    // pairs. Exact one-edit distance needs only the prefix/suffix-trim
    // scan (LevWithinOne, codegen, allocation-free); same boolean for
    // every input, kernel-only change (LevWithinOneSpec pins equivalence).
    graft.functions.LevWithinOne.register(spark)
    grouped.select(explode(expr(
        "flatten(transform(ns, (a, i) -> transform(slice(ns, i + 2, size(ns)), " +
          "b -> struct(a AS name_a, b AS name_b))))")).as("p"))
      .select(col("p.name_a").as("name_a"), col("p.name_b").as("name_b"))
      .filter(graft.functions.LevWithinOne.isOne(col("name_a"), col("name_b")))
      .distinct()
      .orderBy("name_a", "name_b")
  }

  /** X62: market-basket association rules over co-ordered parts —
    * support / confidence / lift for the top pairs. The pair space is
    * per-order (Σ|order|², bounded by basket size), aggregated once on
    * the (a, b) pair key; item counts and the basket total are separate
    * cheap aggregates, the total riding a broadcast 1-row join. All
    * three ratios divide exactly-representable BIGINTs as IEEE doubles,
    * so they hash-compare cross-engine. Top-k is fully tie-broken
    * (pair_cnt desc, part_a, part_b) → TakeOrderedAndProject, no global
    * sort materialization.
    */
  def marketBasket(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    // read by the basket count, the item counts and both pair sides
    val li = Memo(spark, dir, "analytics.basket_items")(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct())
    val nOrders = li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val itemCnt = li.groupBy("pk").agg(count(lit(1)).as("cnt"))
    val pairs = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("part_a"), col("y.pk").as("part_b"))
      .agg(count(lit(1)).as("pair_cnt"))
    val out = pairs
      .join(itemCnt.select(col("pk").as("part_a"), col("cnt").as("cnt_a")), Seq("part_a"))
      .join(itemCnt.select(col("pk").as("part_b"), col("cnt").as("cnt_b")), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"),
        (col("pair_cnt").cast("double") / col("n_orders").cast("double"))
          .as("support"),
        (col("pair_cnt").cast("double") / col("cnt_a").cast("double"))
          .as("confidence"),
        ((col("pair_cnt") * col("n_orders")).cast("double") /
          (col("cnt_a") * col("cnt_b")).cast("double")).as("lift"))
      .orderBy(col("pair_cnt").desc, col("part_a"), col("part_b"))
      .limit(topK)
    out
  }
}
