package graft.oracle

import graft.{GraftSession, SparkEntry, SparkSpec}
import graft.tables.Tables
import org.apache.spark.sql.SparkSession

/** Three-way check (DF vs SQL vs DuckDB): the DuckDB oracle twins are
  * written in portable-leaning ANSI SQL; every twin that Spark SQL can
  * also execute is run through `spark.sql(...)` over the fixture views
  * and value-compared against the DataFrame result — any drift between
  * the DataFrame plan and the SQL text (the thing the external DuckDB
  * gate can't see: it only compares DuckDB vs DF) fails here.
  *
  * The twins are dialect-translated token-wise before `spark.sql` — only
  * renames of the *same* function (strftime→date_format with the format
  * string mapped, quantile_cont→percentile, epoch_us→unix_micros,
  * VARCHAR→STRING, DuckDB's in-argument `ORDER BY` aggregate syntax →
  * `WITHIN GROUP`), never a semantic rewrite. Twins using genuinely
  * DuckDB-only surface (list slicing/comprehensions, unnest, …) can't
  * execute on Spark and are skipped; the compatible count is pinned so
  * the portable subset can only shrink deliberately.
  */
class ThreeWaySqlSpec extends SparkSpec {

  /** DuckDB spelling -> Spark spelling of the identical function. */
  private def dialect(sql: String): String = {
    val inner = raw"(?:[^()]|\([^()]*\))+?"
    val fmtMap = Seq("%Y" -> "yyyy", "%m" -> "MM", "%d" -> "dd",
      "%H" -> "HH", "%M" -> "mm", "%S" -> "ss")
    val arg = raw"(?:[^(),']|'[^']*'|\((?:[^()']|'[^']*'|\([^()]*\))*\))+?"
    val strftime = raw"strftime\(($arg),\s*'([^']*)'\)".r
    var s = strftime.replaceAllIn(sql, m => {
      val fmt = fmtMap.foldLeft(m.group(2)) { case (acc, (d, sp)) =>
        acc.replace(d, sp) }
      java.util.regex.Matcher.quoteReplacement(
        s"date_format(${m.group(1)}, '$fmt')")
    })
    s = s.replace("quantile_cont(", "percentile(")
    s = s.replace("epoch_us(", "unix_micros(")
    s = s.replace("AS VARCHAR)", "AS STRING)")
    s = s.replace("string_split_regex(", "split(") // both regex-split
    s = s.replace("string_split(", "split(")
    s = s.replace("array_to_string(", "array_join(")
    s = s.replace("unnest(", "explode(")
    s = s.replace("UNNEST(", "explode(")
    s = s.replace("generate_series(", "sequence(")
    s = s.replace("len(", "size(")
    s = s.replace("list_filter(", "filter(")
    s = s.replace("list_distinct(", "array_distinct(")
    s = s.replace("list_sort(", "sort_array(")
    s = s.replace("list_transform(", "transform(")
    s = s.replace("list_intersect(", "array_intersect(")
    s = s.replace("list_contains(", "array_contains(")
    s = s.replace("list_max(", "array_max(")
    // DuckDB CTE materialization hint; Spark has no spelling for it and
    // reuses multi-referenced CTEs on its own
    s = s.replace(" AS MATERIALIZED (", " AS (")
    // regex replacement backreference: RE2 spells it \1, Java $1
    s = s.replace("""'<\1>'""", "'<$1>'")
    // DuckDB hex parse ('0x' || h)::BIGINT == Spark conv(h, 16, 10):
    // the same base-16 string-to-integer read, spelled per engine
    s = raw"\('0x'\s*\|\|\s*(.+?)\)::BIGINT".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"CAST(conv(${m.group(1)}, 16, 10) AS BIGINT)"))
    // DuckDB list comprehension [f(i) FOR i IN g] == transform(g, i -> f(i))
    s = raw"(?s)\[(.+?)\s+FOR\s+(\w+)\s+IN\s+(.+?)\]".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"transform(${m.group(3)}, ${m.group(2)} -> ${m.group(1)})"))
    // DuckDB's list() aggregate == collect_list (used only where the
    // result is consumed order-insensitively: len(list_intersect(...)))
    s = raw"(?<![\w_])list\(".r.replaceAllIn(s, "collect_list(")
    // x::DOUBLE[] == CAST(x AS ARRAY<DOUBLE>)
    s = raw"(\w+(?:\.\w+)?)::DOUBLE\[\]".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"CAST(${m.group(1)} AS ARRAY<DOUBLE>)"))
    // list_dot_product == the same sequential left-fold dot product
    // (bit-identical across engines per the established parity rules)
    s = raw"list_dot_product\(($arg),\s*($arg)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"aggregate(zip_with(${m.group(1)}, ${m.group(2)}, (zx, zy) -> zx * zy), " +
          "CAST(0 AS DOUBLE), (acc, zv) -> acc + zv)"))
    s = s.replace("//", " div ")  // DuckDB integer division
    s = s.replace("json_extract_string(", "get_json_object(")
    // DuckDB regexp_replace needs the 'g' flag for replace-all; Spark's
    // regexp_replace is replace-all by default and takes no flag arg. The
    // token sequence ", 'g')" appears only as that flag in the twins.
    s = s.replace(", 'g')", ")")
    s = s.replace("strpos(", "instr(")
    s = s.replace("arg_max(", "max_by(")
    s = s.replace("list_value(", "array(")
    // DuckDB xor(a, b) == Spark's ^ operator
    s = raw"xor\(($arg),\s*($arg)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"(${m.group(1)} ^ ${m.group(2)})"))
    // DuckDB's single-arg encode == Spark's encode(x, 'UTF-8')
    s = raw"encode\(($arg)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"encode(${m.group(1)}, 'UTF-8')"))
    // DuckDB 2-arg regexp_extract_all returns whole matches; Spark's
    // 2-arg form defaults to group 1 — make group 0 explicit
    s = raw"regexp_extract_all\(($arg),\s*('[^']*')\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"regexp_extract_all(${m.group(1)}, ${m.group(2)}, 0)"))
    // DuckDB puts IGNORE NULLS inside the argument list; Spark after it
    s = s.replace(" END IGNORE NULLS)", " END) IGNORE NULLS")
    s = raw"(lag|lead|first_value|last_value)\(($inner)\s+IGNORE NULLS\)".r
      .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)}(${m.group(2)}) IGNORE NULLS"))
    // string_agg(DISTINCT x, ',' ORDER BY x): Spark's WITHIN GROUP +
    // DISTINCT combination miscompiles (AttributeReference cast error in
    // 4.1), so map the distinct-ordered form to its set spelling —
    // identical semantics when the ORDER BY key IS the aggregated value
    val aggD = raw"string_agg\(DISTINCT\s+($inner),\s*('[^']*')\s+ORDER BY\s+($inner)\)".r
    s = aggD.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      s"concat_ws(${m.group(2)}, sort_array(collect_set(${m.group(1)})))"))
    // string_agg(x, ',' ORDER BY k) -> string_agg(x, ',') WITHIN GROUP (ORDER BY k)
    val agg = raw"string_agg\(($inner),\s*('[^']*')\s+ORDER BY\s+($inner)\)".r
    s = agg.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      s"string_agg(${m.group(1)}, ${m.group(2)}) WITHIN GROUP (ORDER BY ${m.group(3)})"))
    // multi-column GROUPING(a, b) == Spark's grouping_id(a, b) (same
    // Postgres bit convention; Spark's grouping() is single-column)
    s = raw"GROUPING\(($inner),\s*($inner)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"grouping_id(${m.group(1)}, ${m.group(2)})"))
    // DuckDB 3-arg date_diff('day', start, end) == datediff(end, start)
    s = raw"date_diff\('day',\s*($arg),\s*($arg)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"datediff(${m.group(2)}, ${m.group(1)})"))
    // isodow (Monday=1..7) == weekday (Monday=0..6) + 1
    s = raw"isodow\(($arg)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"(weekday(${m.group(1)}) + 1)"))
    // list_sum over BIGINT elements == the additive left fold
    s = raw"list_sum\(($arg)\)".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"aggregate(${m.group(1)}, CAST(0 AS BIGINT), (lsa, lsv) -> lsa + lsv)"))
    // DuckDB list_slice(x, a, b) (end-inclusive) == slice(x, a, b-a+1)
    s = raw"list_slice\(($arg),\s*($arg),\s*($arg)\)".r.replaceAllIn(s, m => {
      val (a, b) = (m.group(2), m.group(3))
      val len = if (a == "1") b else s"($b) - ($a) + 1"
      java.util.regex.Matcher.quoteReplacement(
        s"slice(${m.group(1)}, $a, $len)")
    })
    // DuckDB's infix shift-left on the BIGINT one == Spark shiftleft
    s = raw"CAST\(1 AS BIGINT\) << (CAST\((?:[^()]|\([^()]*\))* AS INT\))".r
      .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        s"shiftleft(CAST(1 AS BIGINT), ${m.group(1)})"))
    // DuckDB 1-based end-inclusive list slicing x[a:b] == Spark
    // slice(x, a, b - a + 1); bare x[i] / f(..)[i] == element_at
    s = raw"(\w+)\[(\w+):($inner)\]".r.replaceAllIn(s, m => {
      val (a, b) = (m.group(2), m.group(3))
      val len = if (a == "1") b else s"($b) - ($a) + 1"
      java.util.regex.Matcher.quoteReplacement(
        s"slice(${m.group(1)}, $a, $len)")
    })
    s = raw"(\w+\((?:[^()]|\([^()]*\))*\)|\w+)\[(-?\w+)\]".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        s"element_at(${m.group(1)}, ${m.group(2)})"))
    s
  }

  /** Canonical multiset of row values: columns sorted by name (the
    * driver's own convention), numbers normalized through BigDecimal so
    * `1.50` and `1.5` agree, nulls marked.
    */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    val idx = cols.map(df.columns.indexOf(_))
    df.collect().map { r =>
      idx.map { i =>
        r.get(i) match {
          case null => "␀"
          case d: java.math.BigDecimal =>
            d.stripTrailingZeros.toPlainString
          case d: Double =>
            new java.math.BigDecimal(d.toString).stripTrailingZeros.toPlainString
          case f: Float =>
            new java.math.BigDecimal(f.toString).stripTrailingZeros.toPlainString
          case x => x.toString
        }
        // the \u0001 delimiter keeps adjacent-column boundary shifts
        // ("ab","c" vs "a","bc") from canonicalizing identically
      }.mkString("\u0001")
    }.sorted.toIndexedSeq
  }

  test("every Spark-executable oracle twin matches its DataFrame plan") {
    GraftSession.scoped(spark,
      // `"size"`-style quoted identifiers in the twins need ANSI
      // double-quoted-identifier parsing (DuckDB's default)
      "spark.sql.ansi.doubleQuotedIdentifiers" -> "true",
      // AQE off for the replay: its per-stage
      // replaceWithQueryStagesInLogicalPlan re-walks the ENTIRE logical
      // tree (with a System.getenv per node) every time a stage
      // finishes — on the deep unrolled twins (embed_pca_top2's deflation
      // inlines to thousands of nodes across hundreds of stages) that
      // driver-side loop alone ran >25 MINUTES at sf0.001, jstack-pinned
      // in TreeNode traversal, while the actual execution is seconds.
      // AQE changes plans, never values, so the three-way comparison is
      // unaffected; the production entries keep AQE everywhere else.
      "spark.sql.adaptive.enabled" -> "false",
      // Constraint propagation off for the replay: the rule is quadratic-
      // to-exponential in plan depth × column count, and the deep unrolled
      // twins hit it hard — embed_pca_top2's SQL leg alone spent 218 s
      // (of the r15-measured 717 s replay total) inside the optimizer
      // with it on, 4 s with it off. It only adds inferred filters
      // (plan-shape, never values), so the three-way value comparison is
      // unaffected; production entries keep the default everywhere else.
      "spark.sql.constraintPropagation.enabled" -> "false"
      // (tried and REVERTED: spark.sql.exchange.reuse=false /
      // spark.sql.execution.reuseSubquery=false — the deep-equality dedup
      // those passes pay for is what keeps the unrolled twins' thousands
      // of repeated scalar subqueries from each re-executing; without it
      // the embed_pca_top2 replay ran >9 minutes instead of 2.)
    ) { replay =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        Tables.table(replay, sf001, t).createOrReplaceTempView(t)
      }
      Tables.events(replay, sf001).createOrReplaceTempView("events")
      runAll(replay)
    }
  }

  private def runAll(replay: SparkSession): Unit = {
    // dev bisection hook (mirrors Verify's): SPARK_GRAFT_ONLY=a,b runs
    // just those twins. The totality assertions below stay meaningful
    // only on unfiltered runs, so they are skipped under a filter.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def runOne(name: String, sql: String): (String, String, String) = {
        // Pin the thread-local call site: every RDD instantiation
        // otherwise captures a full java stack trace (Utils.getCallSite)
        // purely for UI labels — and the deep unrolled twins instantiate
        // THOUSANDS of OneRowRelationExec RDDs per replay
        // (jstack-pinned: 2 of 3 samples of embed_pca_top2's 167 s SQL
        // leg sat in StackTraceElement.of under getCallSite). The UI is
        // disabled in the test session; the label is never read.
        // (setCallSite(String) sets only the SHORT form and getCallSite
        // still stack-walks for the long one — set both properties.)
        replay.sparkContext.setLocalProperty("callSite.short", s"3way:$name")
        replay.sparkContext.setLocalProperty("callSite.long", s"3way:$name")
        // live progress marker (ScalaTest's info() buffers to the end,
        // useless for locating a hang in a 370-entry sweep); per-leg
        // millis let a budget overrun be attributed to specific twins
        val t0 = System.nanoTime()
        val sqlRows =
          try Right(canon(replay.sql(dialect(sql))))
          catch { case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
              .replaceAll("\\s+", " ").take(110)) }
        val tSql = (System.nanoTime() - t0) / 1000000
        val out = sqlRows match {
          case Left(err) => (name, "incompatible", err)
          case Right(rows) =>
            val dfRows = canon(SparkEntry.queries(name)(replay, sf001))
            if (rows == dfRows) (name, "match", "")
            else (name, "MISMATCH",
              s"sql=${rows.size} rows df=${dfRows.size} rows; " +
                s"first diff: ${rows.diff(dfRows).headOption.orElse(dfRows.diff(rows).headOption).getOrElse("")}")
        }
        val tAll = (System.nanoTime() - t0) / 1000000
        Console.err.println(s"[3way] $name sql=${tSql}ms df=${tAll - tSql}ms")
        out
    }
    val all = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Longest twins first so the pool's tail isn't one straggler: the
    // -oD timed run shows embed_pca_top2's SQL leg alone is ~2–3 min
    // (physical planning of the unrolled deflation); started last it
    // ADDS that to the wall, started first it overlaps everything.
    val heavyFirst = Seq("embed_pca_top2", "sync_match_pass2_greedy",
      "dedup_cluster_quality", "curation_soft_dedup_weights",
      "curation_dup_rate_by_source", "events_markov_attribution",
      "embed_ann_hnsw", "graph_conductance", "embed_knn_descent",
      "dedup_lsh_pr_matrix")
    val rank = heavyFirst.zipWithIndex.toMap
    val pooled = all.sortBy { case (n, _) =>
      (rank.getOrElse(n, Int.MaxValue), n) }
    // Every twin replays on a small fixed pool — each task is an
    // independent (spark.sql + entry) pair against one shared session,
    // and Spark's scheduler interleaves the sub-second sf0.001 jobs
    // (guide §2.6). No entry writes the session's conf (operators that
    // need confs run on GraftSession.scoped clones), so no pool thread
    // plans under another entry's confs. The pool mainly overlaps
    // DRIVER-side planning (single-threaded per query, the dominant leg
    // at this SF). Shared-relation memos build once per key even when
    // pooled twins race for them (graft.Memo). Pool size 6: enough to
    // hide planning latency, small enough that the 4-slot executor isn't
    // thrashed.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val results = try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = pooled.map { case (n, s) => Future(runOne(n, s)) }
      fs.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()

    val mismatches = results.filter(_._2 == "MISMATCH")
    val matched = results.count(_._2 == "match")
    val skipped = results.filter(_._2 == "incompatible")
    info(s"three-way: $matched matched, ${skipped.size} DuckDB-only")
    skipped.foreach { case (n, _, why) => info(s"  skip $n: $why") }
    assert(mismatches.isEmpty,
      mismatches.map(m => s"${m._1}: ${m._3}").mkString("\n"))
    // the check is TOTAL: every oracle twin replays on Spark through the
    // dialect map above, so each oracled query is verified three ways
    // (DataFrame == Spark SQL == DuckDB). A new twin that can't execute
    // fails here — extend the dialect map (renames only) or make the
    // twin portable rather than letting coverage silently shrink.
    assert(skipped.isEmpty,
      s"twins no longer Spark-executable: ${skipped.map(_._1).mkString(", ")}")
  }
}
