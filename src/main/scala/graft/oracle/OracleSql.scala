package graft.oracle

/** DuckDB oracle SQL for every entry in `SparkEntry.queries`.
  *
  * The driver executes these against the same parquet fixture tables
  * (registered under their bare names) and hash-compares with the Spark
  * results, so every query here must be *value-identical* to its Spark
  * twin: same column names, same types (BIGINT counters, exact-decimal
  * money math surfaced as DOUBLE), same deterministic ORDER BY.
  *
  * `SYNC_CTES` mirrors [[graft.sync.SyncInputs]] + the [[graft.sync]] core
  * operators 1:1 — keep them in lockstep (prototyped/tested via
  * `tools/oracle_proto.py`).
  */
object OracleSql {

  val SYNC_CTES: String = """
files AS (
  SELECT doc_id AS ord, doc_id AS ino, n_chars AS "size",
         source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.shp' AS file,
         CASE WHEN doc_id % 17 = 5 THEN md5('dup_' || CAST(doc_id % 4 AS VARCHAR))
              ELSE md5(text) END AS md5
  FROM documents
),
projects AS (
  SELECT 1000000 + doc_id AS id, 'gatherbot' AS iam,
         CASE WHEN doc_id % 12 = 8 THEN 'old/' || source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.shp'
              WHEN doc_id % 12 = 11 THEN 'missing/doc_' || CAST(doc_id AS VARCHAR) || '.shp'
              ELSE source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.shp' END AS p_file,
         CASE WHEN doc_id % 17 = 5 THEN md5('dup_' || CAST(doc_id % 4 AS VARCHAR))
              WHEN doc_id % 12 = 9 THEN md5('old_' || text)
              WHEN doc_id % 12 = 11 THEN md5('gone_' || CAST(doc_id AS VARCHAR))
              ELSE md5(text) END AS p_md5,
         'Doc ' || CAST(doc_id AS VARCHAR) AS title,
         doc_id % 2 = 0 AS is_dataset
  FROM documents WHERE doc_id % 12 NOT IN (7, 10)
),
dedup AS (
  SELECT f.*, ROW_NUMBER() OVER (PARTITION BY md5 ORDER BY ord) AS rn,
         COUNT(*) OVER (PARTITION BY md5) AS grp_n,
         FIRST_VALUE(ino) OVER (PARTITION BY md5 ORDER BY ord) AS canonical_ino
  FROM files f
),
dupagg AS (
  SELECT md5, string_agg(CAST(ino AS VARCHAR), ',' ORDER BY ino) AS csv
  FROM dedup WHERE rn > 1 GROUP BY md5
),
marked AS (
  SELECT d.ord, d.ino, d."size", d.file, d.md5,
         CASE WHEN d.rn > 1 THEN d.canonical_ino END AS "alias",
         CASE WHEN d.rn = 1 AND d.grp_n > 1 THEN d.grp_n - 1 ELSE 0 END AS n_duplicates,
         CASE WHEN d.rn = 1 AND d.grp_n > 1 THEN a.csv END AS duplicates_csv
  FROM dedup d LEFT JOIN dupagg a ON d.md5 = a.md5
),
pbypath AS (
  SELECT * FROM (SELECT p.*, ROW_NUMBER() OVER (PARTITION BY p_file ORDER BY id) AS prn
                 FROM projects p) t WHERE prn = 1
),
pbymd5 AS (
  SELECT * FROM (SELECT p.*, ROW_NUMBER() OVER (PARTITION BY p_md5 ORDER BY id) AS prn
                 FROM projects p) t WHERE prn = 1
),
pass1 AS (
  SELECT m.ord, m.ino, m."size", m.file, m.md5, m.n_duplicates, m.duplicates_csv,
         COALESCE(pe.id, pm.id) AS project,
         CASE WHEN pe.id IS NOT NULL THEN 'exactMatch'
              WHEN pm.id IS NOT NULL THEN 'md5Match' END AS "match",
         CASE WHEN pe.id IS NOT NULL THEN pe.p_file ELSE pm.p_file END AS proj_file,
         CASE WHEN pe.id IS NOT NULL THEN pe.p_md5 ELSE pm.p_md5 END AS proj_md5
  FROM marked m
  LEFT JOIN pbypath pe ON m.file = pe.p_file
  LEFT JOIN pbymd5 pm ON m.md5 = pm.p_md5
  WHERE m."alias" IS NULL
),
processed AS (SELECT DISTINCT project AS id FROM pass1 WHERE project IS NOT NULL),
avail AS (
  SELECT m.* FROM marked m
  WHERE m.ino NOT IN (SELECT ino FROM pass1 WHERE project IS NOT NULL)
),
pass2 AS (
  SELECT id, p_file, p_md5, ino, file, is_alias, "match" FROM (
    SELECT u.id, u.p_file, u.p_md5, a.ino, a.file,
           (a."alias" IS NOT NULL) AS is_alias,
           CASE WHEN COUNT(*) OVER (PARTITION BY u.id) > 1
                 AND MAX(CASE WHEN a.file = u.p_file THEN 1 ELSE 0 END)
                     OVER (PARTITION BY u.id) = 1
                THEN 'alias exactMatch' ELSE 'unmatched md5 match' END AS "match",
           ROW_NUMBER() OVER (PARTITION BY u.id ORDER BY
             CASE WHEN a.file = u.p_file THEN 0 ELSE 1 END,
             CASE WHEN a.n_duplicates > 0 THEN 0 ELSE 1 END, a.ord) AS rn
    FROM (SELECT p.* FROM projects p WHERE p.id NOT IN (SELECT id FROM processed)) u
    JOIN avail a ON a.md5 = u.p_md5
  ) t WHERE rn = 1
),
updates AS (
  SELECT project AS id, file AS new_file, proj_md5 AS md5, 'pass1' AS src
  FROM pass1 WHERE project IS NOT NULL AND file <> proj_file
  UNION ALL
  SELECT id, file AS new_file, p_md5 AS md5, 'pass2' AS src
  FROM pass2 WHERE is_alias AND file <> p_file
),
content_changed AS (
  SELECT project AS id, file, md5 AS file_md5, proj_md5 AS project_md5, 'pass1' AS src
  FROM pass1 WHERE project IS NOT NULL AND md5 <> proj_md5
  UNION ALL
  SELECT id, file, p_md5 AS file_md5, p_md5 AS project_md5, 'pass2' AS src
  FROM pass2 WHERE is_alias AND p_md5 <> p_md5
),
archives AS (
  SELECT p.id, p.p_file, p.p_md5 FROM projects p
  WHERE p.id NOT IN (SELECT id FROM processed)
    AND p.id NOT IN (SELECT id FROM pass2)
),
creates AS (
  SELECT ord, ino, "size", file, md5 FROM pass1 WHERE project IS NULL
  UNION ALL
  SELECT m.ord, m.ino, m."size", m.file, m.md5 FROM marked m
  WHERE m."alias" IS NOT NULL AND m.ino NOT IN (SELECT ino FROM pass2)
),
creates_payload AS (
  SELECT ord, ino, "size", file, md5,
         CASE WHEN string_split(file, '/')[-1] LIKE '%.%'
              THEN regexp_replace(string_split(file, '/')[-1], '\.[^.]*$', '')
              ELSE '' END AS title,
         TRUE AS is_dataset
  FROM creates
),
fdirs AS (
  SELECT parts[1:len(parts)-1] AS dirs
  FROM (SELECT string_split(file, '/') AS parts FROM files) t
  WHERE len(parts) > 1
),
fc AS (
  SELECT DISTINCT
    CASE WHEN i = 1 THEN 'files'
         ELSE lower('files/' || array_to_string(dirs[1:i-1], '/')) END AS type,
    'files/' || array_to_string(dirs[1:i], '/') AS name,
    dirs[i] AS short_name,
    CASE WHEN i = 1 THEN 'files/'
         ELSE 'files/' || array_to_string(dirs[1:i-1], '/') || '/' END AS path
  FROM (SELECT dirs, unnest(generate_series(1, len(dirs))) AS i FROM fdirs) g
),
server_cats AS (
  SELECT ROW_NUMBER() OVER (ORDER BY name) + 5000 AS id,
         category, name, short_name, path, iam FROM (
    SELECT type AS category, name, short_name, path, 'gatherbot' AS iam
    FROM fc WHERE short_name <> 'es'
    UNION ALL SELECT 'files', 'files/legacy_dir', 'legacy_dir', 'files/', 'gatherbot'
    UNION ALL SELECT 'files', 'files/old_archive', 'old_archive', 'files/', 'gatherbot'
    UNION ALL SELECT 'files', 'files/human_made', 'human_made', 'files/', 'admin'
  ) t
),
bot_cats AS (SELECT * FROM server_cats WHERE iam = 'gatherbot'),
cat_matched AS (
  SELECT s.id, f.type, f.name FROM fc f
  JOIN bot_cats s ON f.type = s.category AND f.name = s.name
),
cat_create AS (
  SELECT f.name, f.type AS category, '' AS description, f.short_name, f.path
  FROM fc f
  WHERE NOT EXISTS (SELECT 1 FROM bot_cats s
                    WHERE f.type = s.category AND f.name = s.name)
),
cat_remove AS (
  SELECT s.id, s.category, s.name FROM bot_cats s
  WHERE s.id NOT IN (SELECT id FROM cat_matched)
)"""

  private def sync(body: String): String = s"WITH ${SYNC_CTES.trim}\n$body"

  val sync_queries: Map[String, String] = Map(
    "sync_dedup_mark" -> sync(
      """SELECT ord, ino, "size", file, md5, "alias", n_duplicates, duplicates_csv FROM marked ORDER BY ord"""),
    "sync_dup_report" -> sync(
      """SELECT md5, ino, string_split(file, '/')[-1] AS basename, file, ("alias" IS NOT NULL) AS is_alias FROM marked WHERE "alias" IS NOT NULL OR n_duplicates > 0 ORDER BY md5, is_alias ASC, ino"""),
    "sync_match_pass1" -> sync(
      """SELECT ord, file, md5, project, "match" FROM pass1 ORDER BY ord"""),
    "sync_match_pass2" -> sync(
      """SELECT id, p_file, ino, file, is_alias, "match" FROM pass2 ORDER BY id"""),
    // Faithful-greedy pass 2 (Matching.pass2Greedy, DW.js:465-536): the
    // sequential claim loop decomposes into independent per-md5 greedy
    // matches, so the recursion is a per-md5 walk over projects in id
    // order (depth = the md5's unprocessed-project count). State carried
    // per step: the remaining candidate positions as a list; a step takes
    // the project's exact-path candidate iff >1 candidates remain AND the
    // exact one is still unclaimed, else the head of the remaining list
    // (report order: dup-group canonicals first, then ord) — the
    // single-candidate 'unmatched md5 match' labeling quirk included.
    "sync_match_pass2_greedy" -> (s"WITH RECURSIVE ${SYNC_CTES.trim},\n" +
      """g_pr AS (
        SELECT p.p_md5 AS md5, p.id, p.p_file,
               CAST(ROW_NUMBER() OVER (PARTITION BY p.p_md5 ORDER BY p.id) AS BIGINT) AS j
        FROM projects p WHERE p.id NOT IN (SELECT id FROM processed)
      ),
      g_cand AS (
        SELECT md5, ino, file, ("alias" IS NOT NULL) AS is_alias,
               CAST(ROW_NUMBER() OVER (PARTITION BY md5 ORDER BY
                 CASE WHEN n_duplicates > 0 THEN 0 ELSE 1 END, ord) AS BIGINT) AS pos
        FROM avail
      ),
      g_arr AS (
        SELECT md5, generate_series(CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT)) AS all_pos
        FROM g_cand GROUP BY md5
      ),
      g_step AS (
        SELECT md5, CAST(0 AS BIGINT) AS j, all_pos AS remaining,
               CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS chosen_pos,
               CAST(NULL AS VARCHAR) AS "match"
        FROM g_arr
        UNION ALL
        SELECT s.md5, s.j + 1,
               list_filter(remaining, x -> x <>
                 CASE WHEN len(remaining) > 1 AND e.pos IS NOT NULL
                           AND list_contains(remaining, e.pos)
                      THEN e.pos ELSE remaining[1] END),
               p.id,
               CASE WHEN len(remaining) > 1 AND e.pos IS NOT NULL
                         AND list_contains(remaining, e.pos)
                    THEN e.pos ELSE remaining[1] END,
               CASE WHEN len(remaining) > 1 AND e.pos IS NOT NULL
                         AND list_contains(remaining, e.pos)
                    THEN 'alias exactMatch' ELSE 'unmatched md5 match' END
        FROM g_step s
        JOIN g_pr p ON p.md5 = s.md5 AND p.j = s.j + 1
        LEFT JOIN g_cand e ON e.md5 = s.md5 AND e.file = p.p_file
        WHERE len(remaining) > 0
      )
      SELECT st.id, pr.p_file, pr.p_md5, c.ino, c.file, c.is_alias, st."match"
      FROM g_step st
      JOIN projects pr ON pr.id = st.id
      JOIN g_cand c ON c.md5 = st.md5 AND c.pos = st.chosen_pos
      WHERE st.j > 0
      ORDER BY st.id"""),
    "sync_updates" -> sync(
      """SELECT id, new_file, md5, src FROM updates ORDER BY id, src"""),
    "sync_content_changed" -> sync(
      """SELECT id, file, file_md5, project_md5, src FROM content_changed ORDER BY id"""),
    "sync_archives" -> sync(
      """SELECT id, p_file, p_md5 FROM archives ORDER BY id"""),
    "sync_creates" -> sync(
      """SELECT ord, ino, "size", file, md5, title, is_dataset FROM creates_payload ORDER BY ord"""),
    "sync_processed_ids" -> sync(
      """SELECT id FROM processed ORDER BY id"""),
    "sync_summary" -> sync(
      """SELECT
        (SELECT COUNT(*) FROM marked) AS n_files,
        (SELECT COUNT(*) FROM marked WHERE "alias" IS NULL) AS n_main,
        (SELECT COUNT(*) FROM marked WHERE "alias" IS NOT NULL) AS n_dup_aliases,
        (SELECT COUNT(*) FROM pass1 WHERE project IS NOT NULL) AS found,
        (SELECT COUNT(*) FROM pass1 WHERE project IS NULL) AS missing,
        (SELECT COUNT(*) FROM updates WHERE src = 'pass1') AS updates,
        (SELECT COUNT(*) FROM archives) AS n_archives,
        (SELECT COUNT(*) FROM creates_payload) AS n_creates"""),
    "cat_folder_tree" -> sync(
      """SELECT type, name, short_name, path FROM fc ORDER BY name"""),
    "cat_create" -> sync(
      """SELECT name, category, description, short_name, path FROM cat_create ORDER BY name"""),
    "cat_matched" -> sync(
      """SELECT id, type, name FROM cat_matched ORDER BY id"""),
    "cat_remove" -> sync(
      """SELECT id, category, name FROM cat_remove ORDER BY id"""),
    "cat_dup_guard" -> sync(
      """SELECT category, name, COUNT(*) AS n FROM bot_cats GROUP BY category, name HAVING COUNT(*) > 1 ORDER BY category, name"""))

  private val D2 = "DECIMAL(18,2)"

  /** Derived partsupp stand-in — mirrors [[graft.ext.Analytics.partsupp]]
    * verbatim: 4 suppliers per part, integer-function keys/values.
    */
  private val PARTSUPP_CTE: String = """partsupp AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey * 7 + i * 13) % s_cnt AS ps_suppkey,
           1 + (p_partkey * 17 + ((p_partkey * 7 + i * 13) % s_cnt) * 29) % 9999 AS ps_availqty,
           (100 + (p_partkey * 31 + ((p_partkey * 7 + i * 13) % s_cnt) * 37) % 99900) / 100.0 AS ps_supplycost
    FROM part
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g
    CROSS JOIN (SELECT COUNT(*) AS s_cnt FROM supplier) sc
  )"""

  val analytics_queries: Map[String, String] = Map(
    "tpch_q1" -> s"""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS $D2)) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS $D2)) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2)) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS $D2))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS $D2)) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_discount AS $D2)) AS DOUBLE) / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "tpch_q3_top10" -> s"""
      SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue,
        strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "tpch_q5_region" -> s"""
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue
      FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "tpch_q10_returns" -> s"""
      SELECT c_custkey, c_name, c_acctbal,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY c_custkey, c_name, c_acctbal
      ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "tpch_q13_custdist" -> """
      SELECT c_count, COUNT(*) AS custdist
      FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) t
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",
    "tpch_q7_volume" -> s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
             (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "tpch_q8_share" -> s"""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        ROUND(CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
                 THEN CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2)) END) AS DOUBLE) /
              CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE),
              6) AS mkt_share
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region ON nc.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1 ORDER BY 1""",
    "tpch_q21_waiting" -> """
      WITH lo AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F')
      SELECT s_name, COUNT(*) AS numwait
      FROM lo l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1' AND l1.late
        AND EXISTS (SELECT 1 FROM lo l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lo l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""",
    "tpch_q4_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "window_topk_orders" -> """
      SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT c_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY c_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM customer JOIN orders ON c_custkey = o_custkey) t
      WHERE rk <= 3 ORDER BY c_custkey, rk""",
    "tpch_q12_conditional" -> """
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "tpch_q14_promo" -> s"""
      SELECT ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2)) END) AS DOUBLE)
                   * 100.0 /
                   CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE),
                   6) AS promo_revenue_pct,
             COUNT(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey""",
    "tpch_q18_large" -> s"""
      SELECT c_custkey, c_name, l_orderkey, o_totalprice, total_qty
      FROM (SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS $D2)) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300) big
      JOIN orders ON big.l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, l_orderkey""",
    "tpch_q19_disjunctive" -> s"""
      SELECT CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
         OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
         OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",
    "tpch_q2_minsupp" -> """
      SELECT p_type, s_suppkey, s_name, s_acctbal FROM (
        SELECT p_type, s_suppkey, s_name, s_acctbal,
               ROW_NUMBER() OVER (PARTITION BY p_type
                                  ORDER BY s_acctbal ASC, s_suppkey ASC) AS rk
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ls
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey) t
      WHERE rk = 1 ORDER BY p_type""",
    "tpch_q22_dormant" -> s"""
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS $D2)) AS DOUBLE) / COUNT(*)
                         FROM customer)
        AND c_custkey NOT IN (SELECT o_custkey FROM orders)
      ORDER BY c_custkey""",
    "agg_stats_family" -> s"""
      SELECT l_returnflag, distinct_parts, distinct_supps, p50_qty, p95_qty, n,
             ROUND(sqrt((ss - s * s / n) / (n - 1)), 6) AS stddev_qty
      FROM (
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS distinct_parts,
               COUNT(DISTINCT l_suppkey) AS distinct_supps,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
               ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS $D2)) AS DOUBLE) AS s,
               CAST(SUM(CAST(l_quantity AS $D2) * CAST(l_quantity AS $D2)) AS DOUBLE) AS ss
        FROM lineitem GROUP BY l_returnflag) t
      ORDER BY l_returnflag""",
    // whole-partition frames need the explicit ROWS UNBOUNDED..UNBOUNDED
    // (the default RANGE..CURRENT frame truncates last/nth)
    // full window specs in each named window (no window inheritance —
    // Spark's WINDOW clause can't reference another named window)
    "window_frame_family" -> s"""
      SELECT o_custkey, o_orderkey,
             first_value(o_orderkey) OVER wall AS first_key,
             last_value(o_orderkey) OVER wall AS last_key,
             nth_value(o_orderkey, 2) OVER wall AS second_key,
             round(cume_dist() OVER wo, 6) AS cume,
             CAST(SUM(CAST(o_totalprice AS $D2)) OVER w3 AS DOUBLE) AS moving_sum3,
             COUNT(*) OVER w3 AS n_in_frame
      FROM orders
      WINDOW
        wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        wall AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""",
    "scalar_functions" -> sync(
      """SELECT ord, file,
           lower(file) AS lowered,
           upper(string_split(file, '/')[-1]) AS base_upper,
           string_split(file, '/')[-1] AS basename,
           regexp_extract(file, '\.([^.]+)$', 1) AS ext,
           regexp_replace(string_split(file, '/')[-1], '\.[^.]*$', '') AS stem,
           lpad(CAST(ord AS VARCHAR), 6, '0') AS ord_padded,
           reverse(md5) AS md5_rev,
           length(file) AS path_len,
           substr(md5, 1, 8) AS md5_prefix
         FROM files ORDER BY ord"""),
    "rollup_lineitem" -> s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS $D2)) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""")

  val events_queries: Map[String, String] = Map(
    "events_tumbling" -> s"""
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // Sliding 1h/15m windows: every event lands in the 4 epoch-aligned
    // windows starting at floor₁₅ₘ(ts) − k·15m, k = 0..3 — the exact
    // start set Spark's window(ts, dur, slide) generator produces.
    "events_sliding" -> s"""
      WITH ev AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        FROM events),
      w AS (
        SELECT (us // 900000000 - k) * 900000000 AS win_start_us,
               event_type, value
        FROM ev, (SELECT unnest(generate_series(0, 3)) AS k) g)
      SELECT win_start_us, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "events_sessions" -> s"""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events
      ), flagged AS (
        SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ), sess AS (
        SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
      )
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MIN(us) AS start_us, MAX(us) AS end_us,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    // X85 capped sessions: the 30-min-gap islands split again at fixed
    // 10-min boundaries from each session's start (sub_id = floor
    // offset / cap — the deterministic fixed-boundary cap, not the
    // sequential greedy restart).
    "events_sessions_capped" -> s"""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events
      ), flagged AS (
        SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ), sess AS (
        SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
      ), capped AS (
        SELECT *, CAST((us - MIN(us) OVER (PARTITION BY user_id, session_id))
                       // 600000000 AS BIGINT) AS sub_id
        FROM sess
      )
      SELECT user_id, session_id, sub_id, COUNT(*) AS n_events,
             MIN(us) AS start_us, MAX(us) AS end_us,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM capped GROUP BY user_id, session_id, sub_id
      ORDER BY user_id, session_id, sub_id""",
    "events_json_extract" -> """
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type""",
    "events_lag_gap" -> """
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) -
               LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                 (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_event_id,
             RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank
      FROM events ORDER BY user_id, event_id""",
    "events_rollup_day" -> s"""
      SELECT COALESCE(day, 'ALL') AS day,
             COALESCE(event_type, 'ALL') AS event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
                   event_type, value FROM events) t
      GROUP BY ROLLUP(day, event_type) ORDER BY 1, 2""",
    "events_cube_day" -> s"""
      SELECT COALESCE(day, 'ALL') AS day,
             COALESCE(event_type, 'ALL') AS event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
                   event_type, value FROM events) t
      GROUP BY CUBE(day, event_type) ORDER BY 1, 2""",
    "events_pivot_day" -> """
      SELECT day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
                   event_type FROM events) t
      GROUP BY day ORDER BY day""",
    "tpch_q6_forecast" -> s"""
      SELECT CAST(SUM(CAST(l_extendedprice AS $D2) * CAST(l_discount AS $D2)) AS DOUBLE) AS revenue,
             COUNT(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""",
    "tpch_q17_smallqty" -> s"""
      SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS $D2)) AS DOUBLE) / 7.0, 6) AS avg_yearly,
             COUNT(*) AS n_lines
      FROM (
        SELECT l_partkey, l_quantity, l_extendedprice,
               COUNT(*) OVER (PARTITION BY l_partkey) AS n_part,
               CAST(SUM(CAST(l_quantity AS $D2)) OVER (PARTITION BY l_partkey) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
        FROM lineitem) t
      WHERE l_quantity < avg_qty * 0.2""",
    "events_histogram" -> """
      SELECT event_type,
             CAST(CAST(floor(value / 20.0) AS BIGINT) * 20 AS BIGINT) AS bucket_lo,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_edit_distance" -> """
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(levenshtein(a.lang, b.lang) AS BIGINT) AS edit_dist
      FROM (SELECT DISTINCT lang FROM documents) a,
           (SELECT DISTINCT lang FROM documents) b
      WHERE a.lang < b.lang ORDER BY lang_a, lang_b""",
    "set_ops_cohorts" -> """
      WITH b97 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                     AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'),
           b98 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                     AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00')
      SELECT o_custkey AS custkey, 'both' AS cohort FROM (SELECT * FROM b97 INTERSECT SELECT * FROM b98) x
      UNION ALL
      SELECT o_custkey AS custkey, 'only_1997' AS cohort FROM (SELECT * FROM b97 EXCEPT SELECT * FROM b98) y
      ORDER BY cohort, custkey""",
    // Ordered funnel view -> click -> purchase, first-touch, strictly
    // increasing times. Each stage = conditional MIN over the previous
    // stage's user set — mirrors Events.funnel stage for stage.
    "events_funnel" -> """
      WITH ev AS (SELECT user_id, event_type,
                         epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY e.user_id),
      counts AS (
        SELECT '1_view' AS step, COUNT(*) AS n FROM s1
        UNION ALL SELECT '2_click' AS step, COUNT(*) AS n FROM s2
        UNION ALL SELECT '3_purchase' AS step, COUNT(*) AS n FROM s3),
      entered AS (SELECT COUNT(*) AS n_entered FROM s1)
      SELECT step, n AS n_users,
             ROUND(CAST(n AS DOUBLE) / n_entered, 6) AS conv_from_first,
             ROUND(CAST(n AS DOUBLE) /
                   COALESCE(LAG(n) OVER (ORDER BY step), n), 6) AS conv_from_prev
      FROM counts CROSS JOIN entered
      ORDER BY step""",
    // X188 funnel step-transition timing: X15's stage cascade, lag
    // distribution as PERCENTILE_DISC rank selections (the X46
    // pattern); integer microseconds until the final 6dp mean.
    "events_funnel_timing" -> """
      WITH ev AS (SELECT user_id, event_type,
                         epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY e.user_id),
      lags AS (
        SELECT '1_view_to_click' AS transition, s2.user_id,
               s2.t2 - s1.t1 AS lag_us
        FROM s2 JOIN s1 ON s1.user_id = s2.user_id
        UNION ALL
        SELECT '2_click_to_purchase' AS transition, s3.user_id,
               s3.t3 - s2.t2 AS lag_us
        FROM s3 JOIN s2 ON s2.user_id = s3.user_id),
      r AS (SELECT transition, lag_us,
              ROW_NUMBER() OVER (PARTITION BY transition
                                 ORDER BY lag_us, user_id) AS rn,
              COUNT(*) OVER (PARTITION BY transition) AS n
            FROM lags)
      SELECT transition, MAX(n) AS n_users,
             CAST(MIN(lag_us) AS BIGINT) AS min_us,
             MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                      THEN lag_us END) AS p50_us,
             MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                      THEN lag_us END) AS p90_us,
             CAST(MAX(lag_us) AS BIGINT) AS max_us,
             ROUND(CAST(SUM(lag_us) AS DOUBLE) / COUNT(*), 6) AS mean_us
      FROM r GROUP BY transition ORDER BY transition""",
    // Incremental aggregate maintenance: the oracle states the FULL
    // recompute; Materialize.incrAggMerge answers from merged
    // state+delta partials — equal because every aggregate is algebraic
    // and the sums run in DECIMAL (exact, partition-order-independent).
    "incr_agg_merge" -> s"""
      SELECT user_id, event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
             ROUND(CAST(SUM(CAST(value AS $D2)) AS DOUBLE) / COUNT(*), 6)
               AS avg_value
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    // Bloom-prefiltered join: the oracle states the plain join — the
    // Bloom pass has no false negatives and its false positives are
    // eliminated by the exact join, so results are identical.
    "join_bloom_prefilter" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Z-order bucket stats: the same magic-number Morton interleave as
    // Layout.zvalue, spelled as a CTE chain of BIGINT &/|/<< steps both
    // engines evaluate identically; bucket = zval >> 10, skipped = the
    // min/max box-pruning decision for the fixed (50-150, 2-60) box.
    "layout_zorder" -> """
      WITH q AS (SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y FROM lineitem),
      s1 AS (SELECT x, y, (x | (x << 8)) & 16711935 AS xa,
                          (y | (y << 8)) & 16711935 AS ya FROM q),
      s2 AS (SELECT x, y, (xa | (xa << 4)) & 252645135 AS xb,
                          (ya | (ya << 4)) & 252645135 AS yb FROM s1),
      s3 AS (SELECT x, y, (xb | (xb << 2)) & 858993459 AS xc,
                          (yb | (yb << 2)) & 858993459 AS yc FROM s2),
      s4 AS (SELECT x, y, (xc | (xc << 1)) & 1431655765 AS sx,
                          (yc | (yc << 1)) & 1431655765 AS sy FROM s3),
      z AS (SELECT x, y, (sx | (sy << 1)) AS zval FROM s4)
      SELECT (zval >> 10) AS bucket, COUNT(*) AS n,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             (MAX(x) < 50 OR MIN(x) > 150 OR
              MAX(y) < 2 OR MIN(y) > 60) AS skipped
      FROM z GROUP BY (zval >> 10) ORDER BY bucket""",
    // Salted skew join: the oracle states the PLAIN join — the salt is a
    // pure partitioning device (each probe row matches exactly one build
    // replica), so results are value-identical.
    "join_salted_skew" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Bucketed co-located join: the oracle states the plain join —
    // bucketing is pure physical layout, values are identical. n_orders
    // differentiates the output from join_salted_skew (and adds a
    // distinct-agg-after-join shape).
    "layout_bucket_join" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n_items,
        COUNT(DISTINCT o_orderkey) AS n_orders,
        CAST(SUM(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Per-user 7-day rolling window over the per-day pre-aggregate; the
    // RANGE frame and the DECIMAL partial sums mirror Events.rolling7d.
    "events_rolling_7d" -> s"""
      WITH daily AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               COUNT(*) AS n_day,
               SUM(CAST(value AS $D2)) AS sum_day
        FROM events GROUP BY 1, 2)
      SELECT user_id, day_num, n_day,
             CAST(sum_day AS DOUBLE) AS sum_day,
             CAST(SUM(n_day) OVER w7 AS BIGINT) AS n_7d,
             CAST(SUM(sum_day) OVER w7 AS DOUBLE) AS sum_7d
      FROM daily
      WINDOW w7 AS (PARTITION BY user_id ORDER BY day_num
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, day_num""",
    // Trailing-7d distinct users: COUNT(DISTINCT) over a sliding frame is
    // non-mergeable, so both engines state the bounded-span join rewrite.
    "events_rolling_users" -> """
      WITH du AS (
        SELECT DISTINCT
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               user_id
        FROM events),
      days AS (SELECT DISTINCT day_num AS d FROM du)
      SELECT d AS day_num, COUNT(DISTINCT user_id) AS users_7d
      FROM days JOIN du ON du.day_num >= d - 6 AND du.day_num <= d
      GROUP BY d ORDER BY day_num""",
    // Weekly cohort retention: cohort = first-event epoch-week; offset-0
    // cells are the cohort sizes by construction.
    "events_retention" -> """
      WITH weeks AS (
        SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
        FROM events),
      cohorts AS (SELECT user_id, MIN(week) AS cohort_week
                  FROM weeks GROUP BY user_id),
      cells AS (
        SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
               COUNT(DISTINCT w.user_id) AS n_active
        FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
        GROUP BY 1, 2),
      sizes AS (SELECT cohort_week, n_active AS cohort_size
                FROM cells WHERE week_offset = 0)
      SELECT cells.cohort_week, week_offset, n_active,
             ROUND(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
      FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week
      ORDER BY cells.cohort_week, week_offset""",
    // UNPIVOT round-trip law: melting the pivot matrix (empty cells
    // dropped) must equal the plain long-form GROUP BY.
    "events_unpivot" -> """
      SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
             event_type, COUNT(*) AS n
      FROM events
      WHERE event_type IN ('click','error','purchase','signup','view')
      GROUP BY 1, 2
      ORDER BY day, event_type""",
    // Postgres GROUPING bit convention on both engines: leftmost grouping
    // column = most significant bit (set (day) -> gid 1, (event_type) -> 2).
    "agg_grouping_sets" -> s"""
      SELECT COALESCE(day, 'ALL') AS day,
             COALESCE(event_type, 'ALL') AS event_type,
             CAST(GROUPING(day, event_type) AS BIGINT) AS gid,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
                   event_type, value FROM events) t
      GROUP BY GROUPING SETS ((day), (event_type))
      ORDER BY day, event_type""",
    // calendar densify + forward fill; the twin's generate_series over
    // the per-user [min, max] day span mirrors the Spark sequence()
    "events_gap_fill" -> s"""
      WITH act AS (
        SELECT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               COUNT(*) AS n, SUM(CAST(value AS $D2)) AS dv
        FROM events GROUP BY 1, 2),
      span AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM act GROUP BY user_id) b),
      filled AS (
        SELECT s.user_id, CAST(s.day AS DATE) AS day,
               COALESCE(a.n, 0) AS n,
               last_value(a.dv IGNORE NULLS) OVER (
                 PARTITION BY s.user_id ORDER BY CAST(s.day AS DATE)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        FROM span s LEFT JOIN act a
          ON s.user_id = a.user_id AND CAST(s.day AS DATE) = a.day)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n,
             CAST(carried AS DOUBLE) AS carried_value
      FROM filled ORDER BY user_id, day""",
    "date_functions" -> """
      SELECT event_id,
             strftime(tsx, '%Y-%m-%d %H:%M:%S') AS ts_s,
             strftime(date_trunc('week', tsx), '%Y-%m-%d') AS week_start,
             strftime(date_trunc('month', tsx), '%Y-%m-%d') AS month_start,
             CAST(year(tsx) AS BIGINT) AS yy,
             CAST(quarter(tsx) AS BIGINT) AS qq,
             CAST(month(tsx) AS BIGINT) AS mm,
             CAST(day(tsx) AS BIGINT) AS dd,
             CAST(hour(tsx) AS BIGINT) AS hh,
             CAST(isodow(tsx) AS BIGINT) AS isodow,
             epoch_us(tsx) AS epoch_us,
             CAST(date_diff('day', DATE '2024-01-01', CAST(tsx AS DATE)) AS BIGINT) AS days_since,
             strftime(tsx + INTERVAL 90 DAY, '%Y-%m-%d') AS plus_90d,
             strftime(last_day(CAST(tsx AS DATE)), '%Y-%m-%d') AS month_end
      FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS tsx FROM events) t
      ORDER BY event_id""")

  /** Shared shingle CTE (word 3-grams, distinct per doc) — mirrors
    * [[graft.ext.TextDedup.shingles]].
    */
  private val SHINGLES = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i FROM words) t
)"""

  /** The verified prefix-filter Jaccard pair machinery (threshold 0.6),
    * shared by the dedup_jaccard_pairs entry and the X160 split-leakage
    * audit that consumes the same pair relation.
    */
  /** The X107 span-decontamination relation — shared verbatim by the
    * entry and the X195 per-source contamination report.
    */
  private val DECON_SPANS = """
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      grams AS (
        SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS sh
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i
              FROM words WHERE len(w) >= 8) t),
      eg AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 7 = 0),
      covered AS (
        SELECT DISTINCT doc_id, pos
        FROM (SELECT g.doc_id, unnest(generate_series(g.i, g.i + 7)) AS pos
              FROM grams g JOIN eg ON g.sh = eg.sh
              WHERE g.doc_id % 7 <> 0) c),
      pos2 AS (
        SELECT doc_id, pos, w[pos] AS word
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
              FROM words WHERE doc_id % 7 <> 0) p),
      cdocs AS (SELECT doc_id, COUNT(*) AS n_removed
                FROM covered GROUP BY doc_id),
      kept AS (
        SELECT p.doc_id, COUNT(*) AS n_kept,
               string_agg(p.word, ' ' ORDER BY p.pos) AS cleaned_text
        FROM pos2 p
        LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.pos
        WHERE c.pos IS NULL AND p.doc_id IN (SELECT doc_id FROM cdocs)
        GROUP BY p.doc_id)
      SELECT d.doc_id, d.n_removed,
             COALESCE(k.n_kept, 0) AS n_kept,
             COALESCE(k.cleaned_text, '') AS cleaned_text
      FROM cdocs d LEFT JOIN kept k ON d.doc_id = k.doc_id
      ORDER BY d.doc_id"""

  /** The X12 token-budget packing relation — shared verbatim by the
    * entry and the X207 efficiency audit.
    */
  // X217 streaming near-dup gate twin (shared verbatim by the X266
  // order-insensitive variant): the X2 banding (8 md5-min sigs, 4 bands
  // of 2) with a min-owner window per (band, hash) — a doc is blocked on
  // a band iff a smaller doc_id shares the band hash. The law is
  // arrival-order-free; X217 meets it on ordered replays (enforced),
  // X266 under any order (retraction fold).
  private lazy val NEARDUP_GATE_SQL = s"""
      WITH ${SHINGLES.trim},
      msig AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j),
      bands AS (
        SELECT doc_id, j // 2 AS bb, md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' || MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM msig GROUP BY doc_id, j // 2),
      own AS (
        SELECT doc_id, bb,
               MIN(doc_id) OVER (PARTITION BY bb, band_hash) AS owner
        FROM bands)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bands,
             CAST(SUM(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked_bands,
             SUM(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) = 0 AS admitted
      FROM own GROUP BY doc_id ORDER BY doc_id"""

  private val SHARD_PACK_SQL = """
      WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens)
                 OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_tokens
        FROM d)
      SELECT doc_id, n_tokens, cum_tokens,
             CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard_id
      FROM c ORDER BY doc_id"""

  /** The X186 deterministic walk corpus — shared verbatim by the entry
    * and the X206 skip-gram co-occurrence table.
    */
  private val WALKS_SQL = """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT a, b FROM (
              SELECT x.pk AS a, y.pk AS b, COUNT(*) AS w
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
              GROUP BY x.pk, y.pk) t
             WHERE w >= 2),
      sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b, a FROM e0),
      adj AS MATERIALIZED (
        SELECT u, v,
               CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1
                 AS BIGINT) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY u) AS BIGINT) AS deg
        FROM sym),
      w0 AS (SELECT u AS start_id, 0 AS step, u AS node
             FROM (SELECT DISTINCT u FROM sym) t),
      w1 AS MATERIALIZED (
        SELECT w.start_id, 1 AS step, a.v AS node
        FROM w0 w JOIN adj a ON a.u = w.node
         AND a.rk = ('0x' || substr(md5(CAST(w.start_id AS VARCHAR) || '_1_' || CAST(w.node AS VARCHAR)), 1, 8))::BIGINT % a.deg
        WHERE w.step = 0),
      w2 AS MATERIALIZED (
        SELECT w.start_id, 2 AS step, a.v AS node
        FROM w1 w JOIN adj a ON a.u = w.node
         AND a.rk = ('0x' || substr(md5(CAST(w.start_id AS VARCHAR) || '_2_' || CAST(w.node AS VARCHAR)), 1, 8))::BIGINT % a.deg
        WHERE w.step = 1),
      w3 AS MATERIALIZED (
        SELECT w.start_id, 3 AS step, a.v AS node
        FROM w2 w JOIN adj a ON a.u = w.node
         AND a.rk = ('0x' || substr(md5(CAST(w.start_id AS VARCHAR) || '_3_' || CAST(w.node AS VARCHAR)), 1, 8))::BIGINT % a.deg
        WHERE w.step = 2),
      allw AS (
        SELECT * FROM w0 UNION ALL SELECT * FROM w1
        UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
      SELECT start_id, CAST(step AS BIGINT) AS step, node
      FROM allw ORDER BY start_id, step"""

  private val JACCARD_CTES = s"""
${SHINGLES.trim},
      sets AS (SELECT doc_id, list(sh) AS shs, COUNT(*) AS n
               FROM shingles GROUP BY doc_id),
      sdf AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh),
      ranked AS (
        SELECT s.doc_id, s.sh, c.n,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rn
        FROM shingles s JOIN sdf d ON d.sh = s.sh JOIN sets c ON c.doc_id = s.doc_id
      ),
      pfx AS (SELECT * FROM ranked WHERE rn <= n - CAST(ceil(0.6 * n) AS BIGINT) + 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pfx a JOIN pfx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        WHERE b.n >= 0.6 * a.n AND a.n >= 0.6 * b.n
      ),
      verified AS (
        SELECT c.doc_a, c.doc_b, sa.n AS na, sb.n AS nb,
               len(list_intersect(sa.shs, sb.shs)) AS n_both
        FROM cand c JOIN sets sa ON sa.doc_id = c.doc_a
                    JOIN sets sb ON sb.doc_id = c.doc_b
      )"""

  /** The X4 n-gram language-ID relation — declared before [[llm_queries]]
    * (object-val init order) because both the classifier entry and the
    * X179 confusion matrix embed it verbatim.
    */
  private val LANGID_NGRAM = """
      WITH db AS (
        SELECT doc_id, lang,
               list_distinct([substr(text, i, 2)
                 FOR i IN generate_series(1, length(text) - 1)]) AS bgs
        FROM documents),
      bi AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM db),
      prof AS (
        SELECT lang AS cand_lang, list(bg) AS pbgs FROM (
          SELECT lang, bg,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY COUNT(*) DESC, bg) AS rk
          FROM bi GROUP BY lang, bg) p
        WHERE rk <= 20 GROUP BY lang),
      scored AS (
        SELECT d.doc_id, d.lang AS declared_lang, p.cand_lang,
               CAST(len(list_intersect(d.bgs, p.pbgs)) AS BIGINT) AS overlap
        FROM db d CROSS JOIN prof p)
      SELECT doc_id, declared_lang,
             CASE WHEN overlap = 0 THEN 'unknown' ELSE cand_lang END
               AS predicted_lang,
             overlap
      FROM (SELECT s.*, ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY overlap DESC, cand_lang) AS rk
            FROM scored s) b
      WHERE rk = 1 ORDER BY doc_id"""

  /** The X153 per-doc trigram-perplexity relation — shared verbatim by
    * the scorer entry and the X182 threshold sweep.
    */
  private val PERPLEXITY3 = """
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws
        FROM documents),
      tri AS (
        -- plain single-identifier indices only: the Spark replay maps
        -- ws[i] to 1-based element_at, but an arithmetic index would
        -- fall through to Spark's 0-based bracket indexing
        SELECT doc_id, ws[i] AS u, ws[i2] AS v, ws[i3] AS w
        FROM (SELECT doc_id, ws, i, i + 1 AS i2, i + 2 AS i3
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM d WHERE len(ws) >= 3) t0) t),
      bi AS (
        SELECT ws[i] AS a, ws[i2] AS b
        FROM (SELECT doc_id, ws, i, i + 1 AS i2
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM d WHERE len(ws) >= 2) t0) t),
      toks AS (SELECT doc_id, unnest(ws) AS tok FROM d),
      c3 AS (SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3
             FROM tri GROUP BY u, v, w),
      c2ctx AS (SELECT u, v, CAST(SUM(c3) AS BIGINT) AS n3ctx
                FROM c3 GROUP BY u, v),
      cb AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cb
             FROM bi GROUP BY a, b),
      c1ctx AS (SELECT a, CAST(SUM(cb) AS BIGINT) AS n2ctx
                FROM cb GROUP BY a),
      c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
             FROM toks GROUP BY tok),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n,
                     CAST(COUNT(*) AS BIGINT) AS v_sz FROM c1),
      dt AS (SELECT doc_id, u, v, w, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM tri GROUP BY doc_id, u, v, w),
      sc AS (
        SELECT dt.doc_id, dt.cnt,
               CAST(ROUND(ln(
                 0.5 * (CAST(c3.c3 AS DOUBLE) / c2ctx.n3ctx) +
                 0.3 * (CAST(cb.cb AS DOUBLE) / c1ctx.n2ctx) +
                 0.2 * (CAST(c1.c1 + 1 AS DOUBLE) / (tot.n + tot.v_sz))
               ) / ln(2.0), 6) AS DECIMAL(18,6)) AS bits
        FROM dt
        JOIN c3 ON c3.u = dt.u AND c3.v = dt.v AND c3.w = dt.w
        JOIN c2ctx ON c2ctx.u = dt.u AND c2ctx.v = dt.v
        JOIN cb ON cb.a = dt.v AND cb.b = dt.w
        JOIN c1ctx ON c1ctx.a = dt.v
        JOIN c1 ON c1.tok = dt.w, tot),
      agg AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
               ROUND(-CAST(SUM(cnt * bits) AS DOUBLE) / SUM(cnt), 6)
                 AS bits_per_token
        FROM sc GROUP BY doc_id)
      SELECT doc_id, n_trigrams, bits_per_token,
             ROUND(exp(bits_per_token * ln(2.0)), 4) AS perplexity
      FROM agg ORDER BY doc_id"""

  /** The X2 near-dup cluster relation — shared verbatim by the entry,
    * its star/incremental aliases, and the X202 soft-dedup weights.
    */
  private val CLUSTERS_SQL = s"""
      WITH ${SHINGLES.trim},
      sigs AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j
      ),
      bands AS (
        SELECT doc_id, j // 2 AS b,
               md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' ||
                   MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM sigs GROUP BY doc_id, j // 2
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.band_hash = b.band_hash
                                 AND a.doc_id < b.doc_id
      ),
      scored AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est_sim
        FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
                    JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
        GROUP BY c.doc_a, c.doc_b
      ),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM scored WHERE est_sim >= 0.5
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM scored WHERE est_sim >= 0.5
      ),
      edges2 AS MATERIALIZED (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT DISTINCT src, src FROM edges
      ),
      l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges2),
""" + (1 to 16).map(k => s"""      l$k AS (
        SELECT e.dst AS id, MIN(l.lab) AS lab
        FROM l${k - 1} l JOIN edges2 e ON e.src = l.id
        GROUP BY e.dst
      )""").mkString(",\n") + """
      SELECT id AS doc_id, lab AS cluster_id, id = lab AS is_canonical
      FROM l16 ORDER BY doc_id"""

  val llm_queries: Map[String, String] = Map(
    "dedup_exact" -> """
      SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_doc_id,
             COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""",
    "dedup_minhash_pairs" -> s"""
      WITH ${SHINGLES.trim},
      sigs AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j
      ),
      bands AS (
        SELECT doc_id, j // 2 AS b,
               md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' ||
                   MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM sigs GROUP BY doc_id, j // 2
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.band_hash = b.band_hash
                                 AND a.doc_id < b.doc_id
      )
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est_sim
      FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
                  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
      GROUP BY c.doc_a, c.doc_b ORDER BY c.doc_a, c.doc_b""",
    // Connected components over the thresholded minhash pair graph
    // (TextDedup.nearDupClusters): min-label propagation unrolled to 16
    // fixed rounds. The Spark side computes the components exactly
    // (Components.starComponents: an in-memory union-find when the graph
    // fits the broadcast budget, star rewiring to a proven fixpoint
    // otherwise), and near-dup components have diameter ≤ 8 on every
    // fixture SF (unrolled to 2× that so a fixture regeneration with a
    // longer chain cannot fail correct Spark output; the extra rounds
    // are no-ops at the fixpoint and cheap on the tiny pair graph). A
    // chain longer than 16 leaves the SQL labels short of the component
    // minimum, so a divergence shows as a mismatch, never a silent match.
    // PLAN SHAPE MATTERS: each round references the previous round
    // exactly ONCE (self-loops on the edge set turn "min of self and
    // neighbours" into one join + MIN group-by) — a two-reference round
    // doubles the inlined plan per level, 2^8 copies of the whole
    // minhash pipeline by l8. The multiply-referenced edge set is
    // MATERIALIZED (DuckDB CTE hint; the Spark SQL replay strips it —
    // Spark reuses multi-referenced CTEs on its own).
    "dedup_clusters" -> CLUSTERS_SQL,
    // X234 dup rate by source: exact md5 group membership + near-dup
    // cluster membership (the cluster relation embedded verbatim),
    // rolled up per source.
    "curation_dup_rate_by_source" -> ("""
      WITH cl AS (""" + CLUSTERS_SQL + """),
      h AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      grp AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS nc FROM h GROUP BY h),
      m AS (SELECT h.doc_id, h.source, grp.nc,
              cl.doc_id IS NOT NULL AS is_near
            FROM h JOIN grp ON grp.h = h.h
                   LEFT JOIN cl ON cl.doc_id = h.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
             CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_dup,
             ROUND(CAST(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
               COUNT(*), 6) AS exact_rate,
             ROUND(CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) AS DOUBLE) /
               COUNT(*), 6) AS near_rate
      FROM m GROUP BY source ORDER BY source"""),
    // X229 cluster quality: the cluster relation and the verified
    // prefix-filter Jaccard machinery embedded verbatim; per cluster,
    // verified intra pairs, exact-decimal mean jaccard, completeness.
    "dedup_cluster_quality" -> ("""
      WITH cl AS (""" + CLUSTERS_SQL + s"""),
      ${JACCARD_CTES.trim},
      truth AS (
        SELECT doc_a, doc_b,
               ROUND(CAST(n_both AS DOUBLE) / (na + nb - n_both), 6) AS jac
        FROM verified
        WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.6),
      intra AS (
        SELECT ca.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_verified_pairs,
               SUM(CAST(jac AS DECIMAL(18,6))) AS sj
        FROM truth t JOIN cl ca ON ca.doc_id = t.doc_a
                     JOIN cl cb ON cb.doc_id = t.doc_b
        WHERE ca.cluster_id = cb.cluster_id
        GROUP BY ca.cluster_id),
      sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
             FROM cl GROUP BY cluster_id)
      SELECT sz.cluster_id, sz.size,
             COALESCE(i.n_verified_pairs, 0) AS n_verified_pairs,
             CASE WHEN i.n_verified_pairs > 0
                  THEN ROUND(CAST(i.sj AS DOUBLE) / i.n_verified_pairs, 6)
             END AS mean_jaccard,
             CASE WHEN sz.size > 1
                  THEN ROUND(CAST(COALESCE(i.n_verified_pairs, 0) AS DOUBLE)
                    * 2.0 / (sz.size * (sz.size - 1)), 6)
             END AS completeness
      FROM sz LEFT JOIN intra i ON i.cluster_id = sz.cluster_id
      ORDER BY sz.cluster_id"""),
    // X202 soft-dedup weights: the cluster relation embedded verbatim,
    // singletons folded in as their own cluster, weight = 1/size.
    "curation_soft_dedup_weights" -> ("""
      WITH cl AS (""" + CLUSTERS_SQL + """),
      alld AS (
        SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
      sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
             FROM alld GROUP BY cluster_id)
      SELECT a.doc_id, a.cluster_id, sz.cluster_size,
             ROUND(CAST(1 AS DOUBLE) / sz.cluster_size, 6) AS weight
      FROM alld a JOIN sz ON sz.cluster_id = a.cluster_id
      ORDER BY a.doc_id"""),
    "text_simhash" -> """
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      toks AS (SELECT doc_id, unnest(w) AS tok FROM words),
      bits AS (
        SELECT doc_id, i,
               CASE WHEN SUM(CASE WHEN substr(md5(tok), i, 1) >= '8'
                      THEN 1 ELSE -1 END) >= 0
                    THEN '1' ELSE '0' END AS bit
        FROM toks, (SELECT unnest(generate_series(1, 32)) AS i) g
        GROUP BY doc_id, i
      )
      SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash
      FROM bits GROUP BY doc_id ORDER BY doc_id""",
    // 64-bit SimHash: bit i (1..64) is bit (3 - (i-1)%4) of hex char
    // (i+3)//4 of the token md5; hex-char value via strpos (Spark twin
    // uses conv — same value).
    // TPC-H q9/q11/q20 over the derived partsupp stand-in — PARTSUPP_CTE
    // mirrors Analytics.partsupp verbatim.
    "tpch_q9_profit" -> s"""
      WITH $PARTSUPP_CTE
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(
               CAST(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2)) AS DECIMAL(18,4)) -
               CAST(CAST(ps_supplycost AS $D2) * CAST(l_quantity AS $D2) AS DECIMAL(18,4))
             ) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name, year(o_orderdate)
      ORDER BY nation, o_year DESC""",
    "tpch_q11_stock" -> s"""
      WITH $PARTSUPP_CTE,
      perpart AS (
        SELECT ps_partkey,
               SUM(CAST(CAST(ps_supplycost AS $D2) * CAST(ps_availqty AS $D2) AS DECIMAL(18,4))) AS value_dec
        FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        WHERE s_nationkey < 5
        GROUP BY ps_partkey),
      thr AS (
        SELECT CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) * 1.5 AS thr
        FROM perpart)
      SELECT ps_partkey,
             CAST(CAST(value_dec AS $D2) AS DOUBLE) AS value
      FROM perpart, thr
      WHERE CAST(value_dec AS DOUBLE) > thr
      ORDER BY value DESC, ps_partkey""",
    // the literal correlated-subquery form (the Spark twin runs the
    // decorrelated join+aggregate — equal semantics incl. NULL exclusion)
    "tpch_q20_promo" -> s"""
      WITH $PARTSUPP_CTE
      SELECT s_name, n_name
      FROM supplier JOIN nation ON n_nationkey = s_nationkey
      WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND CAST(ps_availqty AS DOUBLE) > (
            SELECT CAST(SUM(CAST(l_quantity AS $D2)) AS DOUBLE) * 0.5
            FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      ORDER BY s_name""",
    "tpch_q15_topsupp" -> s"""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2)) AS DECIMAL(18,4))) AS total_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_dec = (SELECT MAX(total_dec) FROM revenue)
      ORDER BY s_suppkey""",
    "tpch_q16_partsupp" -> s"""
      WITH $PARTSUPP_CTE
      SELECT p_brand, p_type, p_size,
             CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
      FROM partsupp JOIN part ON p_partkey = ps_partkey
      WHERE p_brand <> 'Brand#1'
        AND p_type NOT LIKE 'PROMO%'
        AND p_size <= 25
        AND ps_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // Sketch family: the exact columns are engine-portable; the boolean
    // bound columns are literally TRUE here — if Spark's HLL++ /
    // approx_percentile drift past their documented bounds, its booleans
    // flip false and the hash gate fails.
    "agg_sketch_family" -> """
      SELECT l_returnflag, CAST(n AS BIGINT) AS n, exact_parts, exact_p50,
             TRUE AS parts_within_5pct, TRUE AS p50_within_2
      FROM (
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS exact_p50
        FROM lineitem GROUP BY l_returnflag) t
      ORDER BY l_returnflag""",
    // KMV sketch twin — EXACT (not bound-gated): the k-th smallest
    // distinct md5 per group and the (k-1)/U_(k) estimate are pure
    // functions of the distinct hash set. 64424509440 = 15 * 2^32; the
    // nibble ladder reads the first 8 hex digits as a 32-bit value.
    "agg_kmv_distinct" -> """
      WITH h AS (SELECT DISTINCT lang, md5(text) AS h FROM documents),
      r AS (
        SELECT lang, h,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM h),
      kk AS (SELECT lang, h AS kth_min FROM r WHERE rn = 16),
      v AS (
        SELECT lang, kth_min,
               (strpos('0123456789abcdef', substr(kth_min, 1, 1)) - 1) * 268435456.0 +
               (strpos('0123456789abcdef', substr(kth_min, 2, 1)) - 1) * 16777216 +
               (strpos('0123456789abcdef', substr(kth_min, 3, 1)) - 1) * 1048576 +
               (strpos('0123456789abcdef', substr(kth_min, 4, 1)) - 1) * 65536 +
               (strpos('0123456789abcdef', substr(kth_min, 5, 1)) - 1) * 4096 +
               (strpos('0123456789abcdef', substr(kth_min, 6, 1)) - 1) * 256 +
               (strpos('0123456789abcdef', substr(kth_min, 7, 1)) - 1) * 16 +
               (strpos('0123456789abcdef', substr(kth_min, 8, 1)) - 1) AS v32
        FROM kk),
      e AS (
        SELECT lang, COUNT(DISTINCT md5(text)) AS exact_distinct
        FROM documents GROUP BY lang)
      SELECT e.lang, v.kth_min,
             ROUND(64424509440.0 / v.v32, 6) AS kmv_est,
             e.exact_distinct
      FROM e LEFT JOIN v ON e.lang = v.lang
      ORDER BY e.lang""",
    "text_simhash64" -> """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      bits AS (
        SELECT doc_id, i,
               CASE WHEN SUM(CASE WHEN
                      (((strpos('0123456789abcdef',
                          substr(md5(tok), (i + 3) // 4, 1)) - 1)
                        >> (3 - (i - 1) % 4)) & 1) = 1
                      THEN 1 ELSE -1 END) >= 0
                    THEN '1' ELSE '0' END AS bit
        FROM toks, (SELECT unnest(generate_series(1, 64)) AS i) g
        GROUP BY doc_id, i
      )
      SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash64
      FROM bits GROUP BY doc_id ORDER BY doc_id""",
    // 64-bit banded pairs: hi/lo 32-bit halves built from shifted bit
    // sums (shift <= 31, so no signed-64 overflow), 4x16-bit band join,
    // hamming via per-half bit_count(xor).
    "dedup_simhash64_pairs" -> """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      bits AS (
        SELECT doc_id, i,
               CASE WHEN SUM(CASE WHEN
                      (((strpos('0123456789abcdef',
                          substr(md5(tok), (i + 3) // 4, 1)) - 1)
                        >> (3 - (i - 1) % 4)) & 1) = 1
                      THEN 1 ELSE -1 END) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM toks, (SELECT unnest(generate_series(1, 64)) AS i) g
        GROUP BY doc_id, i
      ),
      halves AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i <= 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << (32 - i) ELSE 0 END) AS BIGINT) AS hi,
               CAST(SUM(CASE WHEN i > 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << (64 - i) ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id
      ),
      bands AS (
        SELECT doc_id, hi, lo, j,
               CASE j WHEN 0 THEN lo & 65535
                      WHEN 1 THEN (lo >> 16) & 65535
                      WHEN 2 THEN hi & 65535
                      ELSE (hi >> 16) & 65535 END AS bv
        FROM halves, (SELECT unnest(generate_series(0, 3)) AS j) g
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
        FROM bands a
        JOIN bands b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
      FROM cand
      WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
      ORDER BY doc_a, doc_b""",
    // Mirrors TextDedup.methodComparison: every near-dup method's pair /
    // dropped-doc counts, composed from the same CTE chains the individual
    // oracle queries use.
    "dedup_method_report" -> s"""
      WITH ${SHINGLES.trim},
      sigs AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j),
      mh_bands AS (
        SELECT doc_id, j // 2 AS b,
               md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' ||
                   MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM sigs GROUP BY doc_id, j // 2),
      mh_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mh_bands a JOIN mh_bands b ON a.b = b.b AND a.band_hash = b.band_hash
                                       AND a.doc_id < b.doc_id),
      mh_pairs AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est_sim
        FROM mh_cand c JOIN sigs sa ON sa.doc_id = c.doc_a
                       JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
        GROUP BY c.doc_a, c.doc_b),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      sh_bits AS (
        SELECT doc_id, i,
               CASE WHEN SUM(CASE WHEN substr(md5(tok), i, 1) >= '8'
                      THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit
        FROM toks, (SELECT unnest(generate_series(1, 32)) AS i) g
        GROUP BY doc_id, i),
      sh_ints AS (
        SELECT doc_id, CAST(SUM(bit * power(2, 32 - i)) AS BIGINT) AS sim
        FROM sh_bits GROUP BY doc_id),
      sh_bands AS (
        SELECT doc_id, sim, j, (sim >> (16 * j)) & 65535 AS bv
        FROM sh_ints, (SELECT unnest(generate_series(0, 1)) AS j) g),
      sh_pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh_bands a JOIN sh_bands b ON a.j = b.j AND a.bv = b.bv
                                       AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim, b.sim)) <= 1),
      jc_sets AS (SELECT doc_id, list(sh) AS shs, COUNT(*) AS n
                  FROM shingles GROUP BY doc_id),
      jc_sdf AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh),
      jc_ranked AS (
        SELECT s.doc_id, s.sh, c.n,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rn
        FROM shingles s JOIN jc_sdf d ON d.sh = s.sh JOIN jc_sets c ON c.doc_id = s.doc_id),
      jc_pfx AS (SELECT * FROM jc_ranked WHERE rn <= n - CAST(ceil(0.6 * n) AS BIGINT) + 1),
      jc_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM jc_pfx a JOIN jc_pfx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        WHERE b.n >= 0.6 * a.n AND a.n >= 0.6 * b.n),
      jc_pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM jc_cand c JOIN jc_sets sa ON sa.doc_id = c.doc_a
                       JOIN jc_sets sb ON sb.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
              (sa.n + sb.n - len(list_intersect(sa.shs, sb.shs))) >= 0.6),
      em_b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      em_pairs AS (
        SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
        FROM em_b a JOIN em_b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) *
                 sqrt(list_dot_product(b2.v, b2.v))) >= 0.35),
      ex_groups AS (
        SELECT md5(text) AS h, COUNT(*) AS n FROM documents
        GROUP BY md5(text) HAVING COUNT(*) > 1)
      SELECT * FROM (
        SELECT 'exact' AS method, COUNT(*) AS n_pairs,
               COALESCE(CAST(SUM(n - 1) AS BIGINT), 0) AS n_docs_dropped
        FROM ex_groups
        UNION ALL
        SELECT 'minhash', COUNT(*), COUNT(DISTINCT doc_b)
        FROM mh_pairs WHERE est_sim >= 0.75
        UNION ALL
        SELECT 'simhash', COUNT(*), COUNT(DISTINCT doc_b) FROM sh_pairs
        UNION ALL
        SELECT 'jaccard', COUNT(*), COUNT(DISTINCT doc_b) FROM jc_pairs
        UNION ALL
        SELECT 'embed', COUNT(*), COUNT(DISTINCT doc_b) FROM em_pairs
      ) t ORDER BY method""",
    // Mirrors TextDedup.simhashPairs: integer simhash (MSB-first, exact in
    // doubles below 2^53), 2×16-bit band buckets, bit_count(xor) verify.
    "dedup_simhash_pairs" -> """
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      toks AS (SELECT doc_id, unnest(w) AS tok FROM words),
      bits AS (
        SELECT doc_id, i,
               CASE WHEN SUM(CASE WHEN substr(md5(tok), i, 1) >= '8'
                      THEN 1 ELSE -1 END) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM toks, (SELECT unnest(generate_series(1, 32)) AS i) g
        GROUP BY doc_id, i
      ),
      ints AS (
        SELECT doc_id, CAST(SUM(bit * power(2, 32 - i)) AS BIGINT) AS sim
        FROM bits GROUP BY doc_id
      ),
      bands AS (
        SELECT doc_id, sim, j, (sim >> (16 * j)) & 65535 AS bv
        FROM ints, (SELECT unnest(generate_series(0, 1)) AS j) g
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.sim AS sim_a, b.sim AS sim_b
        FROM bands a JOIN bands b ON a.j = b.j AND a.bv = b.bv
                                 AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
      FROM cand
      WHERE bit_count(xor(sim_a, sim_b)) <= 1
      ORDER BY doc_a, doc_b""",
    // Mirrors TextDedup.jaccardPairs: prefix-filtered candidate generation
    // (index each doc's n - ceil(0.6*n) + 1 rarest shingles by global df,
    // ties by shingle text — lossless for the 0.6 threshold) + length
    // filter, then exact set-wise verification (len(list_intersect) ==
    // Spark size(array_intersect) on distinct shingle sets).
    "dedup_jaccard_pairs" -> s"""
      WITH ${JACCARD_CTES.trim}
      SELECT doc_a, doc_b,
             ROUND(CAST(n_both AS DOUBLE) / (na + nb - n_both), 6) AS jaccard
      FROM verified
      WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.6
      ORDER BY doc_a, doc_b""",
    // X193 LSH banding calibration: brute-force all-pairs verified
    // Jaccard over the SAME deterministic md5-bucket document sample
    // the engine draws (keep iff bucket ≡ 0 mod 2; a pair survives at
    // rate 1/4, so counts scale by the exact integer 4 — the oracle
    // may be quadratic over the sample; the engine is bucketed),
    // 0.01-banded histogram, S-curve P = 1-(1-s^r)^b spelled as fixed
    // repeated-squaring chains (pow is not cross-engine ulp-stable);
    // per-band terms 6dp-DECIMAL so the expectation sums are exact.
    "dedup_lsh_calibration" -> s"""
      WITH ${SHINGLES.trim},
      sets AS (SELECT doc_id, list(sh) AS shs, COUNT(*) AS n
               FROM shingles
               WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|lshcal'), 1, 8))::BIGINT % 2 = 0
               GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
               len(list_intersect(a.shs, b.shs)) AS n_both
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id),
      sims AS (
        SELECT ROUND(ROUND(CAST(n_both AS DOUBLE) / (na + nb - n_both), 6),
                 2) AS s
        FROM pairs
        WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.2),
      hist AS (SELECT s, CAST(COUNT(*) * 4 AS BIGINT) AS n FROM sims GROUP BY s),
      cfg AS (SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r
              FROM (VALUES (4, 16), (8, 8), (16, 4), (32, 2)) AS t(b, r)),
      x1 AS (SELECT h.s, h.n, c.b, c.r, h.s * h.s AS s2
             FROM hist h CROSS JOIN cfg c),
      x2 AS (SELECT *, s2 * s2 AS s4 FROM x1),
      x3 AS (SELECT *, s4 * s4 AS s8 FROM x2),
      x4 AS (SELECT *, s8 * s8 AS s16 FROM x3),
      x5 AS (SELECT *, CASE WHEN r = 2 THEN s2 WHEN r = 4 THEN s4
                            WHEN r = 8 THEN s8 ELSE s16 END AS u FROM x4),
      x6 AS (SELECT *, 1.0 - u AS v FROM x5),
      x7 AS (SELECT *, v * v AS v2 FROM x6),
      x8 AS (SELECT *, v2 * v2 AS v4 FROM x7),
      x9 AS (SELECT *, v4 * v4 AS v8 FROM x8),
      x10 AS (SELECT *, v8 * v8 AS v16 FROM x9),
      x11 AS (SELECT *, v16 * v16 AS v32 FROM x10),
      x12 AS (SELECT *, 1.0 - CASE WHEN b = 4 THEN v4 WHEN b = 8 THEN v8
                WHEN b = 16 THEN v16 ELSE v32 END AS pc FROM x11),
      t AS (SELECT s, n, b, r,
              CAST(ROUND(n * pc, 6) AS DECIMAL(18,6)) AS term,
              s >= 0.6 AS high FROM x12)
      SELECT b, r,
        CAST(SUM(CASE WHEN high THEN n ELSE 0 END) AS BIGINT) AS n_high,
        CAST(SUM(CASE WHEN NOT high THEN n ELSE 0 END) AS BIGINT) AS n_low,
        CAST(SUM(CASE WHEN high THEN term
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
          AS exp_true_candidates,
        CAST(SUM(CASE WHEN NOT high THEN term
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
          AS exp_false_candidates,
        ROUND(CAST(SUM(CASE WHEN high THEN term
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
              SUM(CASE WHEN high THEN n ELSE 0 END), 6) AS recall_proxy
      FROM t GROUP BY b, r ORDER BY b""",
    // X214 MinHash P/R audit: the deployed banding's candidates vs the
    // verified-Jaccard truth relation; F1 = 2tp/(c+t), one division.
    // X215 LSH layout P/R matrix: every banding of the 8-hash
    // signature measured against the same verified-Jaccard truth.
    "dedup_lsh_pr_matrix" -> (s"""
      WITH ${JACCARD_CTES.trim},
      msig AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j),
      truth AS (SELECT doc_a, doc_b FROM verified
                WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.6),
      mb0 AS (
        SELECT doc_id, j // 1 AS bb, md5(MAX(sig)) AS band_hash
        FROM msig GROUP BY doc_id, j // 1),
      mc0 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mb0 a JOIN mb0 b ON a.bb = b.bb
          AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      ct0 AS (SELECT CAST(8 AS BIGINT) AS bands,
                   CAST(1 AS BIGINT) AS rows_per_band,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates FROM mc0),
      tp0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_positives
                  FROM mc0 m JOIN truth t
                    ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
      mb1 AS (
        SELECT doc_id, j // 2 AS bb, md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' || MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM msig GROUP BY doc_id, j // 2),
      mc1 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mb1 a JOIN mb1 b ON a.bb = b.bb
          AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      ct1 AS (SELECT CAST(4 AS BIGINT) AS bands,
                   CAST(2 AS BIGINT) AS rows_per_band,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates FROM mc1),
      tp1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_positives
                  FROM mc1 m JOIN truth t
                    ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
      mb2 AS (
        SELECT doc_id, j // 4 AS bb, md5(MAX(CASE WHEN j % 4 = 0 THEN sig END) || '|' || MAX(CASE WHEN j % 4 = 1 THEN sig END) || '|' || MAX(CASE WHEN j % 4 = 2 THEN sig END) || '|' || MAX(CASE WHEN j % 4 = 3 THEN sig END)) AS band_hash
        FROM msig GROUP BY doc_id, j // 4),
      mc2 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mb2 a JOIN mb2 b ON a.bb = b.bb
          AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      ct2 AS (SELECT CAST(2 AS BIGINT) AS bands,
                   CAST(4 AS BIGINT) AS rows_per_band,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates FROM mc2),
      tp2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_positives
                  FROM mc2 m JOIN truth t
                    ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
      mb3 AS (
        SELECT doc_id, j // 8 AS bb, md5(MAX(CASE WHEN j % 8 = 0 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 1 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 2 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 3 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 4 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 5 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 6 THEN sig END) || '|' || MAX(CASE WHEN j % 8 = 7 THEN sig END)) AS band_hash
        FROM msig GROUP BY doc_id, j // 8),
      mc3 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mb3 a JOIN mb3 b ON a.bb = b.bb
          AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      ct3 AS (SELECT CAST(1 AS BIGINT) AS bands,
                   CAST(8 AS BIGINT) AS rows_per_band,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates FROM mc3),
      tp3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_positives
                  FROM mc3 m JOIN truth t
                    ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
      tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
      u AS (
        SELECT ct0.bands, ct0.rows_per_band, ct0.n_candidates, tp0.true_positives FROM ct0, tp0
        UNION ALL SELECT ct1.bands, ct1.rows_per_band, ct1.n_candidates, tp1.true_positives FROM ct1, tp1
        UNION ALL SELECT ct2.bands, ct2.rows_per_band, ct2.n_candidates, tp2.true_positives FROM ct2, tp2
        UNION ALL SELECT ct3.bands, ct3.rows_per_band, ct3.n_candidates, tp3.true_positives FROM ct3, tp3)
      SELECT u.bands, u.rows_per_band, u.n_candidates, tr.n_truth,
             u.true_positives,
             ROUND(CAST(u.true_positives AS DOUBLE) / u.n_candidates, 6)
               AS cand_precision,
             ROUND(CAST(u.true_positives AS DOUBLE) / tr.n_truth, 6)
               AS cand_recall
      FROM u, tr ORDER BY u.bands"""),
    "dedup_minhash_pr_audit" -> (s"""
      WITH ${JACCARD_CTES.trim},
      msig AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j),
      mband AS (
        SELECT doc_id, j // 2 AS b,
               md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' ||
                   MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM msig GROUP BY doc_id, j // 2),
      mcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mband a JOIN mband b ON a.b = b.b
          AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      truth AS (SELECT doc_a, doc_b FROM verified
                WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.6),
      tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_positives
             FROM mcand m JOIN truth t
               ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM mcand),
      tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
      SELECT c.n_candidates, tr.n_truth, tp.true_positives,
             ROUND(CAST(tp.true_positives AS DOUBLE) / c.n_candidates, 6)
               AS cand_precision,
             ROUND(CAST(tp.true_positives AS DOUBLE) / tr.n_truth, 6)
               AS cand_recall,
             ROUND(CAST(tp.true_positives * 2 AS DOUBLE) /
               (c.n_candidates + tr.n_truth), 6) AS f1
      FROM c, tr, tp"""),
    "embed_cosine_topk" -> """
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      s AS (
        SELECT vec_id,
               list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv, qv))) AS cos
        FROM embeddings, q WHERE vec_id <> 0)
      SELECT vec_id, ROUND(cos, 6) AS cos_sim FROM s
      ORDER BY ROUND(cos, 6) DESC, vec_id LIMIT 20""",
    // Recall bound for the IVF ANN tier (Similarity.annRecallBound): the
    // IVF result itself is not cross-engine derivable (trained KMeans
    // centroids), so — exactly like agg_sketch_family — the twin computes
    // the exact-derivable columns and asserts the bound boolean literally
    // TRUE; an IVF recall regression below 0.6 hash-mismatches the gate.
    "embed_ann_recall" -> """
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      s AS (
        SELECT vec_id,
               list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv, qv))) AS cos
        FROM embeddings, q WHERE vec_id <> 0),
      topk AS (
        SELECT vec_id FROM s ORDER BY ROUND(cos, 6) DESC, vec_id LIMIT 10)
      SELECT 'ivf' AS method, CAST(10 AS BIGINT) AS k,
             (SELECT COUNT(*) FROM topk) AS exact_k,
             TRUE AS recall_ok
      ORDER BY method""",
    // Mirrors Similarity.ivfTopK over the hash-seeded quantizer: seeds =
    // the 8 vectors with smallest md5(vec_id); every vector joins its
    // argmax-cosine seed (ties to the smaller cell = Spark's
    // max(struct(c_sim, -cell))); the probe searches the 2 cells whose
    // centroids are nearest the query. Exact value oracle incl. cells.
    "embed_ann_ivf" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      seeds AS (
        SELECT cell, v AS centroid FROM (
          SELECT v, ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
          FROM e) t
        WHERE cell < 8),
      sim AS (
        SELECT e.vec_id, s.cell,
               list_dot_product(e.v, s.centroid) /
                 (sqrt(list_dot_product(e.v, e.v)) *
                  sqrt(list_dot_product(s.centroid, s.centroid))) AS c_sim
        FROM e, seeds s),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS rn
          FROM sim) t WHERE rn = 1),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      probed AS (
        SELECT cell FROM (
          SELECT s.cell,
                 list_dot_product(s.centroid, q.qv) /
                   (sqrt(list_dot_product(s.centroid, s.centroid)) *
                    sqrt(list_dot_product(q.qv, q.qv))) AS c_sim
          FROM seeds s, q) t
        ORDER BY c_sim DESC, cell LIMIT 2)
      SELECT e.vec_id, a.cell,
             ROUND(list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
      FROM e
      JOIN assigned a ON e.vec_id = a.vec_id
      JOIN probed p ON a.cell = p.cell
      CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // X197 IVF balance: the SAME hash-seeded quantizer assignment as
    // embed_ann_ivf, rolled up per cell with integer cross-product
    // hot/cold verdicts.
    "embed_ivf_balance" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      seeds AS (
        SELECT cell, v AS centroid FROM (
          SELECT v, ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
          FROM e) t
        WHERE cell < 8),
      sim AS (
        SELECT e.vec_id, s.cell,
               list_dot_product(e.v, s.centroid) /
                 (sqrt(list_dot_product(e.v, e.v)) *
                  sqrt(list_dot_product(s.centroid, s.centroid))) AS c_sim
        FROM e, seeds s),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS rn
          FROM sim) t WHERE rn = 1),
      counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
                 FROM assigned GROUP BY cell),
      tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
                     CAST(COUNT(*) AS BIGINT) AS n_cells FROM counts)
      SELECT cell, n_vecs,
             ROUND(CAST(n_vecs AS DOUBLE) / total, 6) AS share,
             n_vecs * n_cells > total * 2 AS is_hot,
             n_vecs * n_cells * 4 < total AS is_cold
      FROM counts, tot ORDER BY cell""",
    "embed_ann_lsh" -> """
      WITH b AS (
        SELECT vec_id, embedding,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      q AS (SELECT embedding::DOUBLE[] AS qv, bucket AS qb FROM b WHERE vec_id = 0)
      SELECT vec_id, bucket,
             ROUND(list_dot_product(embedding::DOUBLE[], qv) /
               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
      FROM b, q WHERE bucket = qb AND vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    // X268 beam-search ANN: replays the deterministic walk move-for-move.
    // Graph (r14) = the UNION of TWO independent sign-hash tables (dims
    // 1..bits and the next block — single-table edges never cross
    // buckets, which capped recall at 3/10), each per-node top-8 by 6dp
    // cosine among occupancy-bounded bucket mates (bits = min(24,
    // max(4, bit-length of ⌈n/256⌉−1)), the integer-exact
    // ⌈log₂⌈n/256⌉⌉), built over ALL vectors incl. the query's node
    // (one index per corpus; the query is excluded from scoring at
    // search time), symmetrized + self-loops; each unrolled width-16
    // beam round references the previous round exactly ONCE (the
    // self-loops fold "beam ∪ neighbors" into one join — the
    // X-iteration rule).
    "embed_ann_beam" -> """
      WITH mrel AS (
        SELECT vec_id, embedding,
          array_to_string([CASE WHEN embedding[i] >= 0 THEN '1'
                           ELSE '0' END
                           FOR i IN generate_series(1, 48)], '') AS b48
        FROM embeddings),
      nb AS (SELECT CASE WHEN mm <= 16 THEN 4
                    ELSE least(24, length(bin(mm - 1))) END AS bits
             FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM mrel) z),
      n AS (SELECT mrel.vec_id, mrel.embedding::DOUBLE[] AS v,
                   substr(mrel.b48, 1, nb.bits) AS bucket,
                   substr(mrel.b48, nb.bits + 1, nb.bits) AS bucket2
            FROM mrel, nb),
      q AS (SELECT v AS qv FROM n WHERE vec_id = 0),
      sc AS (
        SELECT n.vec_id,
               ROUND(list_dot_product(n.v, q.qv) /
                 (sqrt(list_dot_product(n.v, n.v)) *
                  sqrt(list_dot_product(q.qv, q.qv))), 6) AS cs
        FROM n, q WHERE n.vec_id <> 0),
      topm AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM n x JOIN n y ON y.bucket = x.bucket AND y.vec_id <> x.vec_id) tr
        WHERE rn <= 8),
      topm2 AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM n x JOIN n y ON y.bucket2 = x.bucket2
               AND y.vec_id <> x.vec_id) tr2
        WHERE rn <= 8),
      edges AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM topm
          UNION ALL SELECT dst AS src, src AS dst FROM topm
          UNION ALL SELECT src, dst FROM topm2
          UNION ALL SELECT dst AS src, src AS dst FROM topm2
          UNION ALL SELECT vec_id AS src, vec_id AS dst FROM n) ue),
      b0 AS (SELECT MIN(vec_id) AS vec_id FROM sc),
      b1 AS (SELECT vec_id FROM (
        SELECT d1.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s1.cs DESC, d1.dst) AS rn
        FROM (SELECT DISTINCT e1.dst FROM b0 JOIN edges e1
              ON e1.src = b0.vec_id) d1
        JOIN sc s1 ON s1.vec_id = d1.dst) t1 WHERE rn <= 16),
      b2 AS (SELECT vec_id FROM (
        SELECT d2.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s2.cs DESC, d2.dst) AS rn
        FROM (SELECT DISTINCT e2.dst FROM b1 JOIN edges e2
              ON e2.src = b1.vec_id) d2
        JOIN sc s2 ON s2.vec_id = d2.dst) t2 WHERE rn <= 16),
      b3 AS (SELECT vec_id FROM (
        SELECT d3.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s3.cs DESC, d3.dst) AS rn
        FROM (SELECT DISTINCT e3.dst FROM b2 JOIN edges e3
              ON e3.src = b2.vec_id) d3
        JOIN sc s3 ON s3.vec_id = d3.dst) t3 WHERE rn <= 16),
      exactk AS (SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS rn
        FROM sc) te WHERE rn <= 10)
      SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, cs AS cos_sim, in_exact_topk
      FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY s.cs DESC, b3.vec_id) AS rnk,
               b3.vec_id, s.cs,
               b3.vec_id IN (SELECT vec_id FROM exactk) AS in_exact_topk
        FROM b3 JOIN sc s ON s.vec_id = b3.vec_id) f
      ORDER BY rnk""",
    // X287 HNSW multi-layer ANN: replays the whole descent move-for-move.
    // Levels from the first md5 byte of the id (h<16 → layer 2, h<64 →
    // layer 1, all → layer 0 — nested by construction); per layer (r14)
    // the graph UNIONS two independent sign-hash tables (top-8 by 6dp
    // cosine among occupancy-bounded bucket mates, widths computed PER
    // LAYER from that layer's member count via the integer-exact
    // bit-length formula) — layer buckets are nested prefixes of one
    // sign string, so a single-table descent was confined to the entry
    // point's sign region top to bottom; the cross-table edges bridge
    // regions at every layer. Built over ALL vectors incl. the query's
    // node (excluded from scoring at search time); descent = width-8
    // round on e2, width-16 on e1, two width-16 rounds on e0, each
    // unrolled round referencing the previous once.
    "embed_ann_hnsw" -> """
      WITH mrel AS (
        SELECT vec_id, embedding,
          array_to_string([CASE WHEN embedding[i] >= 0 THEN '1'
                           ELSE '0' END
                           FOR i IN generate_series(1, 48)], '') AS b48,
          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2))::BIGINT AS h
        FROM embeddings),
      nall AS (SELECT vec_id, embedding::DOUBLE[] AS v, b48, h FROM mrel),
      nb2 AS (SELECT CASE WHEN mm <= 16 THEN 4
                     ELSE least(24, length(bin(mm - 1))) END AS bits
              FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM nall
                    WHERE h < 16) z2),
      nb1 AS (SELECT CASE WHEN mm <= 16 THEN 4
                     ELSE least(24, length(bin(mm - 1))) END AS bits
              FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM nall
                    WHERE h < 64) z1),
      nb0 AS (SELECT CASE WHEN mm <= 16 THEN 4
                     ELSE least(24, length(bin(mm - 1))) END AS bits
              FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM nall) z0),
      g2 AS (SELECT vec_id, v, substr(b48, 1, nb2.bits) AS bucket,
                    substr(b48, nb2.bits + 1, nb2.bits) AS bucket2
             FROM nall, nb2 WHERE h < 16),
      g1 AS (SELECT vec_id, v, substr(b48, 1, nb1.bits) AS bucket,
                    substr(b48, nb1.bits + 1, nb1.bits) AS bucket2
             FROM nall, nb1 WHERE h < 64),
      g0 AS (SELECT vec_id, v, substr(b48, 1, nb0.bits) AS bucket,
                    substr(b48, nb0.bits + 1, nb0.bits) AS bucket2
             FROM nall, nb0),
      q AS (SELECT v AS qv FROM nall WHERE vec_id = 0),
      sc AS (
        SELECT nall.vec_id,
               ROUND(list_dot_product(nall.v, q.qv) /
                 (sqrt(list_dot_product(nall.v, nall.v)) *
                  sqrt(list_dot_product(q.qv, q.qv))), 6) AS cs
        FROM nall, q WHERE nall.vec_id <> 0),
      tm2 AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM g2 x JOIN g2 y ON y.bucket = x.bucket
               AND y.vec_id <> x.vec_id) t2
        WHERE rn <= 8),
      tm2b AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM g2 x JOIN g2 y ON y.bucket2 = x.bucket2
               AND y.vec_id <> x.vec_id) t2b
        WHERE rn <= 8),
      e2 AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM tm2
          UNION ALL SELECT dst AS src, src AS dst FROM tm2
          UNION ALL SELECT src, dst FROM tm2b
          UNION ALL SELECT dst AS src, src AS dst FROM tm2b
          UNION ALL SELECT vec_id AS src, vec_id AS dst FROM g2) u2),
      tm1 AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM g1 x JOIN g1 y ON y.bucket = x.bucket
               AND y.vec_id <> x.vec_id) t1
        WHERE rn <= 8),
      tm1b AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM g1 x JOIN g1 y ON y.bucket2 = x.bucket2
               AND y.vec_id <> x.vec_id) t1b
        WHERE rn <= 8),
      e1 AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM tm1
          UNION ALL SELECT dst AS src, src AS dst FROM tm1
          UNION ALL SELECT src, dst FROM tm1b
          UNION ALL SELECT dst AS src, src AS dst FROM tm1b
          UNION ALL SELECT vec_id AS src, vec_id AS dst FROM g1) u1),
      tm0 AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM g0 x JOIN g0 y ON y.bucket = x.bucket
               AND y.vec_id <> x.vec_id) t0
        WHERE rn <= 8),
      tm0b AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM g0 x JOIN g0 y ON y.bucket2 = x.bucket2
               AND y.vec_id <> x.vec_id) t0b
        WHERE rn <= 8),
      e0 AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM tm0
          UNION ALL SELECT dst AS src, src AS dst FROM tm0
          UNION ALL SELECT src, dst FROM tm0b
          UNION ALL SELECT dst AS src, src AS dst FROM tm0b
          UNION ALL SELECT vec_id AS src, vec_id AS dst FROM g0) u0),
      hb0 AS (SELECT MIN(vec_id) AS vec_id FROM nall
              WHERE h < 16 AND vec_id <> 0),
      hb1 AS (SELECT vec_id FROM (
        SELECT d1.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s1.cs DESC, d1.dst) AS rn
        FROM (SELECT DISTINCT w1.dst FROM hb0 JOIN e2 w1
              ON w1.src = hb0.vec_id) d1
        JOIN sc s1 ON s1.vec_id = d1.dst) h1 WHERE rn <= 8),
      hb2 AS (SELECT vec_id FROM (
        SELECT d2.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s2.cs DESC, d2.dst) AS rn
        FROM (SELECT DISTINCT w2.dst FROM hb1 JOIN e1 w2
              ON w2.src = hb1.vec_id) d2
        JOIN sc s2 ON s2.vec_id = d2.dst) h2 WHERE rn <= 16),
      hb3 AS (SELECT vec_id FROM (
        SELECT d3.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s3.cs DESC, d3.dst) AS rn
        FROM (SELECT DISTINCT w3.dst FROM hb2 JOIN e0 w3
              ON w3.src = hb2.vec_id) d3
        JOIN sc s3 ON s3.vec_id = d3.dst) h3 WHERE rn <= 16),
      hb4 AS (SELECT vec_id FROM (
        SELECT d4.dst AS vec_id,
               ROW_NUMBER() OVER (ORDER BY s4.cs DESC, d4.dst) AS rn
        FROM (SELECT DISTINCT w4.dst FROM hb3 JOIN e0 w4
              ON w4.src = hb3.vec_id) d4
        JOIN sc s4 ON s4.vec_id = d4.dst) h4 WHERE rn <= 16),
      exactk AS (SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS rn
        FROM sc) he WHERE rn <= 10)
      SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, cs AS cos_sim, in_exact_topk
      FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY s.cs DESC, hb4.vec_id) AS rnk,
               hb4.vec_id, s.cs,
               hb4.vec_id IN (SELECT vec_id FROM exactk) AS in_exact_topk
        FROM hb4 JOIN sc s ON s.vec_id = hb4.vec_id) f
      ORDER BY rnk""",
    // X292 NN-Descent refinement audit over a two-table LSH seed: table
    // A replays the X268 build (sign dims 1..bits), table B the same
    // build on the NEXT block of sign dims (a single-table seed is
    // already bucket-optimal, so descent over it is a no-op); round 0 =
    // per-node top-8 over the unioned 1-hop neighbourhood, round 1 =
    // top-8 over the 2-hop candidate set (m = 8 since r14); per-pair cosines 6dp-rounded
    // and cast DECIMAL(9,6) before the mean's SUM (order-free adds),
    // the mean converts to double once.
    "embed_knn_descent" -> """
      WITH mrel AS (
        SELECT vec_id, embedding,
          array_to_string([CASE WHEN embedding[i] >= 0 THEN '1'
                           ELSE '0' END
                           FOR i IN generate_series(1, 48)], '') AS b48
        FROM embeddings),
      nb AS (SELECT CASE WHEN mm <= 16 THEN 4
                    ELSE least(24, length(bin(mm - 1))) END AS bits
             FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM mrel) z),
      n AS (SELECT mrel.vec_id, mrel.embedding::DOUBLE[] AS v,
                   substr(mrel.b48, 1, nb.bits) AS bucket,
                   substr(mrel.b48, nb.bits + 1, nb.bits) AS bucket2
            FROM mrel, nb),
      topm AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM n x JOIN n y ON y.bucket = x.bucket
               AND y.vec_id <> x.vec_id) tr
        WHERE rn <= 8),
      topm2 AS (
        SELECT src, dst FROM (
          SELECT x.vec_id AS src, y.vec_id AS dst,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                   ROUND(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 6) DESC,
                   y.vec_id) AS rn
          FROM n x JOIN n y ON y.bucket2 = x.bucket2
               AND y.vec_id <> x.vec_id) tr2
        WHERE rn <= 8),
      edges AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM topm
          UNION ALL SELECT dst AS src, src AS dst FROM topm
          UNION ALL SELECT src, dst FROM topm2
          UNION ALL SELECT dst AS src, src AS dst FROM topm2
          UNION ALL SELECT vec_id AS src, vec_id AS dst FROM n) ue),
      nbr AS (SELECT src AS i, dst AS j FROM edges WHERE src <> dst),
      sc0 AS (SELECT nbr.i, nbr.j,
                     ROUND(list_dot_product(a.v, w.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(w.v, w.v))), 6) AS c
              FROM nbr JOIN n a ON a.vec_id = nbr.i
                   JOIN n w ON w.vec_id = nbr.j),
      kb0 AS (SELECT i, j, c FROM (
        SELECT i, j, c, ROW_NUMBER() OVER (PARTITION BY i
          ORDER BY c DESC, j) AS rn FROM sc0) t0 WHERE rn <= 8),
      hop2 AS (SELECT DISTINCT e1.src AS i, e2.dst AS j
               FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
               WHERE e2.dst <> e1.src),
      sc1 AS (SELECT hop2.i, hop2.j,
                     ROUND(list_dot_product(a.v, w.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(w.v, w.v))), 6) AS c
              FROM hop2 JOIN n a ON a.vec_id = hop2.i
                   JOIN n w ON w.vec_id = hop2.j),
      kb1 AS (SELECT i, j, c FROM (
        SELECT i, j, c, ROW_NUMBER() OVER (PARTITION BY i
          ORDER BY c DESC, j) AS rn FROM sc1) t1 WHERE rn <= 8),
      chg AS (SELECT CAST(COUNT(DISTINCT x.i) AS BIGINT) AS n_changed_nodes
              FROM kb1 x LEFT JOIN kb0 y ON y.i = x.i AND y.j = x.j
              WHERE y.i IS NULL),
      r0 AS (SELECT CAST(0 AS BIGINT) AS refine_round,
                    CAST(COUNT(DISTINCT i) AS BIGINT) AS n_nodes,
                    CAST(COUNT(*) AS BIGINT) AS n_edges,
                    CAST(0 AS BIGINT) AS n_changed_nodes,
                    ROUND(CAST(SUM(CAST(c AS DECIMAL(9,6))) AS DOUBLE)
                      / COUNT(*), 6) AS mean_knn_cos
             FROM kb0),
      r1 AS (SELECT CAST(1 AS BIGINT) AS refine_round,
                    CAST(COUNT(DISTINCT i) AS BIGINT) AS n_nodes,
                    CAST(COUNT(*) AS BIGINT) AS n_edges,
                    (SELECT n_changed_nodes FROM chg) AS n_changed_nodes,
                    ROUND(CAST(SUM(CAST(c AS DECIMAL(9,6))) AS DOUBLE)
                      / COUNT(*), 6) AS mean_knn_cos
             FROM kb1)
      SELECT * FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1) u
      ORDER BY refine_round""",
    // X103 multi-probe LSH: the query bucket + its 8 one-flip neighbours
    // as a 9-row probe relation; candidates via the bucket semi-join.
    "embed_ann_multiprobe" -> """
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
      probes AS (
        SELECT qv, qb, qb AS probe FROM q
        UNION ALL
        SELECT qv, qb,
               substr(qb, 1, i - 1) ||
               (CASE WHEN substr(qb, i, 1) = '1' THEN '0' ELSE '1' END) ||
               substr(qb, i + 1, 8 - i) AS probe
        FROM q, (SELECT unnest(generate_series(1, 8)) AS i) g)
      SELECT vec_id, bucket, bucket = qb AS home_bucket,
             ROUND(list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) *
                sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
      FROM b JOIN probes ON b.bucket = probes.probe
      WHERE vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    // X238 probe-budget sweep: per budget, the prefix probe set, the
    // candidate pool, top-10 and its hits against the exact top-10.
    "embed_multiprobe_sweep" -> ("""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
      exact AS (SELECT vec_id FROM (
          SELECT b.vec_id, ROUND(list_dot_product(b.v, q.qv) /
            (sqrt(list_dot_product(b.v, b.v)) *
             sqrt(list_dot_product(q.qv, q.qv))), 6) AS cs
          FROM b, q WHERE b.vec_id <> 0
          ORDER BY cs DESC, b.vec_id LIMIT 10) t),
""" + Seq(1, 5, 9).map { p =>
      val flipPart =
        if (p > 1)
          s"""
        UNION ALL
        SELECT qv, substr(qb, 1, i - 1) ||
          (CASE WHEN substr(qb, i, 1) = '1' THEN '0' ELSE '1' END) ||
          substr(qb, i + 1, 8 - i) AS probe
        FROM q, (SELECT unnest(generate_series(1, ${p - 1})) AS i) g"""
        else ""
      s"""      pr$p AS (
        SELECT qv, qb AS probe FROM q$flipPart),
      cand$p AS (
        SELECT b.vec_id, ROUND(list_dot_product(b.v, pr$p.qv) /
          (sqrt(list_dot_product(b.v, b.v)) *
           sqrt(list_dot_product(pr$p.qv, pr$p.qv))), 6) AS cs
        FROM b JOIN pr$p ON b.bucket = pr$p.probe WHERE b.vec_id <> 0),
      top$p AS (SELECT vec_id FROM cand$p ORDER BY cs DESC, vec_id LIMIT 10),
      row$p AS (SELECT CAST($p AS BIGINT) AS n_probes,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$p) AS n_candidates,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM top$p t
         JOIN exact e ON e.vec_id = t.vec_id) AS hits)"""
    }.mkString(",\n") + """
      SELECT n_probes, n_candidates, hits,
             ROUND(CAST(hits AS DOUBLE) / 10, 6) AS recall_at_k
      FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row5
            UNION ALL SELECT * FROM row9) t
      ORDER BY n_probes"""),
    // Mirrors Similarity.embedCosinePairs: sign-LSH bucket self-join at
    // occupancy-bounded width (bits = max(8, min(24, bit-length of
    // ⌈n/256⌉−1)) — 8 at every fixture scale, growing with log n) +
    // exact left-fold cosine (list_dot_product == the fused Spark kernel,
    // bit-identical) at the fixture-tuned 0.35 threshold.
    "dedup_embed_pairs" -> """
      WITH mrel AS (
        SELECT vec_id, embedding,
          array_to_string([CASE WHEN embedding[i] >= 0 THEN '1'
                           ELSE '0' END
                           FOR i IN generate_series(1, 24)], '') AS b24
        FROM embeddings),
      nb AS (SELECT CASE WHEN mm <= 16 THEN 8
                    ELSE GREATEST(8, LEAST(24, length(bin(mm - 1)))) END
                      AS bits
             FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM mrel) z),
      b AS (SELECT mrel.vec_id, mrel.embedding::DOUBLE[] AS v,
                   substr(mrel.b24, 1, nb.bits) AS bucket
            FROM mrel, nb)
      SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
             ROUND(list_dot_product(a.v, b2.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b2.v, b2.v))), 6) AS cos_sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      WHERE list_dot_product(a.v, b2.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b2.v, b2.v))) >= 0.35
      ORDER BY vec_a, vec_b""",
    // SemDeDup-shape semantic dedup: drop v iff a LOWER-id vector in the
    // same occupancy-bounded sign bucket has cosine >= 0.35
    // (pairwise-greedy min-id representative — mirrors
    // Similarity.semanticKeep exactly, width formula incl.).
    "dedup_semantic_keep" -> """
      WITH mrel AS (
        SELECT vec_id, label, embedding,
          array_to_string([CASE WHEN embedding[i] >= 0 THEN '1'
                           ELSE '0' END
                           FOR i IN generate_series(1, 24)], '') AS b24
        FROM embeddings),
      nb AS (SELECT CASE WHEN mm <= 16 THEN 8
                    ELSE GREATEST(8, LEAST(24, length(bin(mm - 1)))) END
                      AS bits
             FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM mrel) z),
      b AS (SELECT mrel.vec_id, mrel.label, mrel.embedding::DOUBLE[] AS v,
                   substr(mrel.b24, 1, nb.bits) AS bucket
            FROM mrel, nb),
      drops AS (
        SELECT DISTINCT b2.vec_id
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) *
                 sqrt(list_dot_product(b2.v, b2.v))) >= 0.35)
      SELECT b.vec_id, b.label, b.bucket,
             (d.vec_id IS NULL) AS kept
      FROM b LEFT JOIN drops d ON b.vec_id = d.vec_id
      ORDER BY b.vec_id""",
    // X84 semantic clusters: the thresholded cosine pair graph (the
    // dedup_embed_pairs edge set) closed under 16-round min-label
    // propagation (the dedup_clusters unrolling — the Spark side computes
    // exact components with Components.starComponents, union-find or
    // star rewiring to a PROVEN fixpoint, so a divergence can't silently
    // hash-match); vectors with no pair are their own cluster.
    "dedup_semantic_clusters" -> ("""
      WITH mrel AS (
        SELECT vec_id, embedding,
          array_to_string([CASE WHEN embedding[i] >= 0 THEN '1'
                           ELSE '0' END
                           FOR i IN generate_series(1, 24)], '') AS b24
        FROM embeddings),
      nb AS (SELECT CASE WHEN mm <= 16 THEN 8
                    ELSE GREATEST(8, LEAST(24, length(bin(mm - 1)))) END
                      AS bits
             FROM (SELECT (COUNT(*) + 255) // 256 AS mm FROM mrel) z),
      b AS (SELECT mrel.vec_id, mrel.embedding::DOUBLE[] AS v,
                   substr(mrel.b24, 1, nb.bits) AS bucket
            FROM mrel, nb),
      pairs AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) *
                 sqrt(list_dot_product(b2.v, b2.v))) >= 0.35),
      edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs),
      edges2 AS MATERIALIZED (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT DISTINCT src, src FROM edges),
      l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges2),
""" + (1 to 16).map(k => s"""      l$k AS (
        SELECT e.dst AS id, MIN(l.lab) AS lab
        FROM l${k - 1} l JOIN edges2 e ON e.src = l.id
        GROUP BY e.dst
      )""").mkString(",\n") + """,
      labeled AS (
        SELECT e.vec_id, COALESCE(l.lab, e.vec_id) AS cluster_id
        FROM embeddings e LEFT JOIN l16 l ON l.id = e.vec_id),
      sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
                FROM labeled GROUP BY cluster_id)
      SELECT vec_id, cluster_id, cluster_size,
             vec_id = cluster_id AS is_canonical
      FROM labeled JOIN sizes USING (cluster_id) ORDER BY vec_id"""),
    // X82 centroid similarity: per-(label, dim) DECIMAL-exact centroid
    // (6dp-rounded doubles summed as DECIMAL — partition/association
    // order can't reach the value) and the exact-decimal dot/norm pair
    // stage; one IEEE division + two correctly-rounded sqrts at the end.
    // DuckDB's 1-based dim vs Spark's 0-based posexplode is internal —
    // dim never leaves the query.
    // X180 outliers: X82's quantize-to-decimal discipline; the ranking
    // key (exact decimal squared-distance sum) is bit-stable.
    "embed_outliers" -> """
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      q AS (SELECT vec_id, label, dim,
              CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 6)
                AS DECIMAL(18,6)) AS x
            FROM embeddings, dims),
      cent AS (
        SELECT label, dim,
               CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6)
                 AS DECIMAL(18,6)) AS c
        FROM q GROUP BY label, dim),
      d2 AS (
        SELECT q.label, q.vec_id,
               SUM((q.x - cent.c) * (q.x - cent.c)) AS dist2_d
        FROM q JOIN cent ON cent.label = q.label AND cent.dim = q.dim
        GROUP BY q.label, q.vec_id),
      rk AS (SELECT label, vec_id, dist2_d,
               ROW_NUMBER() OVER (PARTITION BY label
                 ORDER BY dist2_d DESC, vec_id) AS rk
             FROM d2)
      SELECT label, CAST(rk AS BIGINT) AS rk, vec_id,
             ROUND(CAST(dist2_d AS DOUBLE), 6) AS dist2
      FROM rk WHERE rk <= 5 ORDER BY label, rk""",
    // X181 PCA power iteration: 6dp-decimal covariance, three unrolled
    // max-normalized rounds (each MATERIALIZED; one prev-round ref).
    "embed_pca_power" -> ("""
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      q AS (SELECT vec_id, dim,
              CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 6)
                AS DECIMAL(18,6)) AS x
            FROM embeddings, dims),
      mean AS (
        SELECT dim, CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6)
          AS DECIMAL(18,6)) AS mu
        FROM q GROUP BY dim),
      centered AS (SELECT q.vec_id, q.dim, q.x - mean.mu AS xc
                   FROM q JOIN mean ON mean.dim = q.dim),
      cov AS MATERIALIZED (
        SELECT a.dim AS i, b.dim AS j,
               CAST(ROUND(SUM(a.xc * b.xc), 6) AS DECIMAL(18,6)) AS cij
        FROM centered a JOIN centered b ON a.vec_id = b.vec_id
        GROUP BY a.dim, b.dim),
      v0 AS (SELECT dim AS j, CAST(1 AS DECIMAL(18,6)) AS vj FROM mean),
""" + (1 to 3).map(k => s"""      w$k AS MATERIALIZED (
        SELECT cov.i AS j, SUM(cov.cij * v${k - 1}.vj) AS wj
        FROM cov JOIN v${k - 1} ON v${k - 1}.j = cov.j GROUP BY cov.i),
      mx$k AS (SELECT MAX(ABS(wj)) AS mx FROM w$k),
      v$k AS MATERIALIZED (
        SELECT j, CAST(ROUND(CAST(wj AS DOUBLE) / CAST(mx AS DOUBLE), 6)
          AS DECIMAL(18,6)) AS vj FROM w$k, mx$k)""").mkString(",\n") + """
      SELECT j AS dim, CAST(vj AS DOUBLE) AS loading
      FROM v3 ORDER BY dim"""),
    // X224 two-component PCA: the X181 cov + rounds, then Rayleigh
    // lambda (6dp-rounded cij*vi products, exact sums, one division),
    // Hotelling deflation C2 = C - lambda*v*vT (outer products
    // 6dp-rounded before the lambda multiply), second power iteration,
    // explained-variance shares off the exact trace.
    "embed_pca_top2" -> ("""
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      q AS (SELECT vec_id, dim,
              CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 6)
                AS DECIMAL(18,6)) AS x
            FROM embeddings, dims),
      mean AS (
        SELECT dim, CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6)
          AS DECIMAL(18,6)) AS mu
        FROM q GROUP BY dim),
      centered AS (SELECT q.vec_id, q.dim, q.x - mean.mu AS xc
                   FROM q JOIN mean ON mean.dim = q.dim),
      cov AS MATERIALIZED (
        SELECT a.dim AS i, b.dim AS j,
               CAST(ROUND(SUM(a.xc * b.xc), 6) AS DECIMAL(18,6)) AS cij
        FROM centered a JOIN centered b ON a.vec_id = b.vec_id
        GROUP BY a.dim, b.dim),
      v0 AS (SELECT dim AS j, CAST(1 AS DECIMAL(18,6)) AS vj FROM mean),
""" + (1 to 3).map(k => s"""      w$k AS MATERIALIZED (
        SELECT cov.i AS j, SUM(cov.cij * v${k - 1}.vj) AS wj
        FROM cov JOIN v${k - 1} ON v${k - 1}.j = cov.j GROUP BY cov.i),
      mx$k AS (SELECT MAX(ABS(wj)) AS mx FROM w$k),
      v$k AS MATERIALIZED (
        SELECT j, CAST(ROUND(CAST(wj AS DOUBLE) / CAST(mx AS DOUBLE), 6)
          AS DECIMAL(18,6)) AS vj FROM w$k, mx$k)""").mkString(",\n") + """,
      lam1 AS (SELECT CAST(ROUND(CAST(num.vcv AS DOUBLE) /
                 CAST(den.vv AS DOUBLE), 6) AS DECIMAL(18,6)) AS lambda
               FROM (SELECT SUM(CAST(ROUND(cov.cij * vi.vj, 6)
                       AS DECIMAL(18,6)) * vj2.vj) AS vcv
                     FROM cov JOIN v3 vi ON vi.j = cov.i
                              JOIN v3 vj2 ON vj2.j = cov.j) num,
                    (SELECT SUM(vj * vj) AS vv FROM v3) den),
      tr AS (SELECT SUM(cij) AS trace_d FROM cov WHERE i = j),
      vv1 AS (SELECT SUM(vj * vj) AS vv FROM v3),
      op AS (SELECT a.j AS i, b.j AS j,
               CAST(ROUND(CAST(a.vj * b.vj AS DOUBLE) / CAST(vv AS DOUBLE),
                 6) AS DECIMAL(18,6)) AS pij
             FROM v3 a CROSS JOIN v3 b, vv1),
      cov2 AS MATERIALIZED (
        SELECT cov.i, cov.j,
               CAST(ROUND(cov.cij - lam1.lambda * op.pij, 6)
                 AS DECIMAL(18,6)) AS cij
        FROM cov JOIN op ON op.i = cov.i AND op.j = cov.j, lam1),
      u0 AS (SELECT dim AS j, CAST(1 AS DECIMAL(18,6)) AS vj FROM mean),
""" + (1 to 3).map(k => s"""      x$k AS MATERIALIZED (
        SELECT cov2.i AS j, SUM(cov2.cij * u${k - 1}.vj) AS wj
        FROM cov2 JOIN u${k - 1} ON u${k - 1}.j = cov2.j GROUP BY cov2.i),
      nx$k AS (SELECT MAX(ABS(wj)) AS mx FROM x$k),
      u$k AS MATERIALIZED (
        SELECT j, CAST(ROUND(CAST(wj AS DOUBLE) / CAST(mx AS DOUBLE), 6)
          AS DECIMAL(18,6)) AS vj FROM x$k, nx$k)""").mkString(",\n") + """,
      lam2 AS (SELECT CAST(ROUND(CAST(num.vcv AS DOUBLE) /
                 CAST(den.vv AS DOUBLE), 6) AS DECIMAL(18,6)) AS lambda
               FROM (SELECT SUM(CAST(ROUND(cov2.cij * vi.vj, 6)
                       AS DECIMAL(18,6)) * vj2.vj) AS vcv
                     FROM cov2 JOIN u3 vi ON vi.j = cov2.i
                              JOIN u3 vj2 ON vj2.j = cov2.j) num,
                    (SELECT SUM(vj * vj) AS vv FROM u3) den),
      d12 AS (SELECT SUM(a.vj * b.vj) AS dot_d
              FROM v3 a JOIN u3 b ON b.j = a.j)
      SELECT CAST(a.j AS BIGINT) AS dim, CAST(a.vj AS DOUBLE) AS loading1,
             CAST(b.vj AS DOUBLE) AS loading2,
             CAST(lam1.lambda AS DOUBLE) AS lambda1,
             CAST(lam2.lambda AS DOUBLE) AS lambda2,
             ROUND(CAST(lam1.lambda AS DOUBLE) / CAST(tr.trace_d AS DOUBLE),
               6) AS explained1,
             ROUND(CAST(lam2.lambda AS DOUBLE) / CAST(tr.trace_d AS DOUBLE),
               6) AS explained2,
             ROUND(CAST(d12.dot_d AS DOUBLE), 6) AS v1_dot_v2
      FROM v3 a JOIN u3 b ON b.j = a.j, lam1, lam2, tr, d12
      ORDER BY dim"""),
    // X225 drift monitor: split-half 6dp centroids, (18,6)-cast delta
    // so the squared products stay exact at scale 12 in BOTH engines.
    "embed_drift" -> """
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      q AS (SELECT vec_id % 2 = 0 AS in_a, dim,
              CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 6)
                AS DECIMAL(18,6)) AS x
            FROM embeddings, dims),
      cent AS (SELECT in_a, dim,
                 CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6)
                   AS DECIMAL(18,6)) AS mu
               FROM q GROUP BY in_a, dim),
      wide AS (SELECT a.dim, a.mu AS mu_a, b.mu AS mu_b,
                 CAST(a.mu - b.mu AS DECIMAL(18,6)) AS delta
               FROM cent a JOIN cent b ON b.dim = a.dim
               WHERE a.in_a AND NOT b.in_a),
      summ AS (SELECT
                 ROUND(sqrt(CAST(SUM(delta * delta) AS DOUBLE)), 6)
                   AS centroid_l2,
                 ROUND(CAST(SUM(mu_a * mu_b) AS DOUBLE) /
                   (sqrt(CAST(SUM(mu_a * mu_a) AS DOUBLE)) *
                    sqrt(CAST(SUM(mu_b * mu_b) AS DOUBLE))), 6)
                   AS centroid_cos
               FROM wide)
      SELECT CAST(dim AS BIGINT) AS dim, CAST(mu_a AS DOUBLE) AS mu_a,
             CAST(mu_b AS DOUBLE) AS mu_b, CAST(delta AS DOUBLE) AS delta,
             centroid_l2, centroid_cos
      FROM wide CROSS JOIN summ ORDER BY dim""",
    // X226 alignment/uniformity: md5-bucketed pair samples, d2 from
    // three list_dot_product folds (the pinned parity surface), per-pair
    // terms 6dp-DECIMAL before the sums.
    "embed_uniformity" -> """
      WITH emb AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS hb
        FROM embeddings),
      up AS (SELECT list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                    - 2.0 * list_dot_product(a.v, b.v) AS d2
             FROM emb a JOIN emb b ON a.hb % 256 = b.hb % 256
                                  AND a.vec_id < b.vec_id),
      unif AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_unif_pairs,
                 SUM(CAST(ROUND(exp(-2.0 * d2), 6) AS DECIMAL(18,6))) AS st
               FROM up),
      ap AS (SELECT list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                    - 2.0 * list_dot_product(a.v, b.v) AS d2
             FROM emb a JOIN emb b ON a.label = b.label
                                  AND a.hb % 16 = b.hb % 16
                                  AND a.vec_id < b.vec_id),
      al AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_align_pairs,
               SUM(CAST(ROUND(d2, 6) AS DECIMAL(18,6))) AS sd
             FROM ap)
      SELECT n_align_pairs,
             ROUND(CAST(sd AS DOUBLE) / n_align_pairs, 6) AS alignment,
             n_unif_pairs,
             ROUND(ln(CAST(st AS DOUBLE) / n_unif_pairs), 6) AS uniformity
      FROM al CROSS JOIN unif""",
    // X227 SQ8 reconstruction error: the X82 affine uint8 codec, squared
    // errors scaled x1e6 and 6dp-rounded to DECIMAL before the sum.
    "embed_quant_error" -> """
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      cells AS (SELECT vec_id, label, dim,
                  CAST(embedding[dim] AS DOUBLE) AS v
                FROM embeddings, dims),
      st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM cells GROUP BY dim),
      enc AS (SELECT label, v, mn, mx,
                CASE WHEN mx > mn
                     THEN LEAST(floor((v - mn) * 255.0 / (mx - mn)), 255.0)
                     ELSE 0.0 END AS code
              FROM cells JOIN st USING (dim)),
      err AS (SELECT label, v - (mn + code * (mx - mn) / 255.0) AS err
              FROM enc)
      SELECT CAST(label AS BIGINT) AS label,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             ROUND(CAST(SUM(CAST(ROUND(err * err * 1000000.0, 6)
               AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mse_e6,
             ROUND(MAX(abs(err)), 6) AS max_abs_err
      FROM err GROUP BY label ORDER BY label""",
    // X185 k-means: md5-seeded Lloyd, exact-decimal dist2 argmin
    // (ORDER BY dist2, cell — the struct-min tie rule), 6dp-pinned
    // centroid updates; three unrolled rounds + a final assignment,
    // each round referencing the previous exactly once, MATERIALIZED.
    "embed_kmeans" -> ("""
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      q AS MATERIALIZED (
        SELECT vec_id, dim,
               CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 6)
                 AS DECIMAL(18,6)) AS x
        FROM embeddings, dims),
      seeds AS (SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cell FROM (
          SELECT vec_id, ROW_NUMBER() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
          FROM embeddings) t WHERE rn <= 4),
      cent0 AS (SELECT s.cell, q.dim, q.x AS c
                FROM q JOIN seeds s ON s.vec_id = q.vec_id),
      d1 AS MATERIALIZED (
        SELECT q.vec_id, c.cell,
               SUM(CAST(ROUND((q.x - c.c) * (q.x - c.c), 6)
                 AS DECIMAL(18,6))) AS dist2
        FROM q JOIN cent0 c ON c.dim = q.dim
        GROUP BY q.vec_id, c.cell),
      a1 AS (SELECT vec_id, cell, dist2 FROM (
          SELECT vec_id, cell, dist2, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist2, cell) AS rn
          FROM d1) t WHERE rn = 1),
      cent1 AS MATERIALIZED (
        SELECT a.cell, q.dim,
               CAST(ROUND(CAST(SUM(q.x) AS DOUBLE) / COUNT(*), 6)
                 AS DECIMAL(18,6)) AS c
        FROM q JOIN a1 a ON a.vec_id = q.vec_id
        GROUP BY a.cell, q.dim),
      d2 AS MATERIALIZED (
        SELECT q.vec_id, c.cell,
               SUM(CAST(ROUND((q.x - c.c) * (q.x - c.c), 6)
                 AS DECIMAL(18,6))) AS dist2
        FROM q JOIN cent1 c ON c.dim = q.dim
        GROUP BY q.vec_id, c.cell),
      a2 AS (SELECT vec_id, cell, dist2 FROM (
          SELECT vec_id, cell, dist2, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist2, cell) AS rn
          FROM d2) t WHERE rn = 1),
      cent2 AS MATERIALIZED (
        SELECT a.cell, q.dim,
               CAST(ROUND(CAST(SUM(q.x) AS DOUBLE) / COUNT(*), 6)
                 AS DECIMAL(18,6)) AS c
        FROM q JOIN a2 a ON a.vec_id = q.vec_id
        GROUP BY a.cell, q.dim),
      d3 AS MATERIALIZED (
        SELECT q.vec_id, c.cell,
               SUM(CAST(ROUND((q.x - c.c) * (q.x - c.c), 6)
                 AS DECIMAL(18,6))) AS dist2
        FROM q JOIN cent2 c ON c.dim = q.dim
        GROUP BY q.vec_id, c.cell),
      a3 AS (SELECT vec_id, cell, dist2 FROM (
          SELECT vec_id, cell, dist2, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist2, cell) AS rn
          FROM d3) t WHERE rn = 1),
      cent3 AS MATERIALIZED (
        SELECT a.cell, q.dim,
               CAST(ROUND(CAST(SUM(q.x) AS DOUBLE) / COUNT(*), 6)
                 AS DECIMAL(18,6)) AS c
        FROM q JOIN a3 a ON a.vec_id = q.vec_id
        GROUP BY a.cell, q.dim),
      d4 AS MATERIALIZED (
        SELECT q.vec_id, c.cell,
               SUM(CAST(ROUND((q.x - c.c) * (q.x - c.c), 6)
                 AS DECIMAL(18,6))) AS dist2
        FROM q JOIN cent3 c ON c.dim = q.dim
        GROUP BY q.vec_id, c.cell),
      a4 AS (SELECT vec_id, cell, dist2 FROM (
          SELECT vec_id, cell, dist2, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist2, cell) AS rn
          FROM d4) t WHERE rn = 1),
      sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
                       ROUND(CAST(SUM(dist2) AS DOUBLE), 6) AS inertia
                FROM a4 GROUP BY cell)
      SELECT c.cell, c.dim, CAST(c.c AS DOUBLE) AS centroid,
             s.n_members, s.inertia
      FROM cent3 c JOIN sizes s ON s.cell = c.cell
      ORDER BY c.cell, c.dim"""),
    "embed_centroid_sim" -> """
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      e AS (SELECT label, dim, CAST(embedding[dim] AS DOUBLE) AS v
            FROM embeddings, dims),
      cent AS (
        SELECT label, dim,
               CAST(ROUND(CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(18,6)))
                               AS DOUBLE) / COUNT(*), 6)
                    AS DECIMAL(18,6)) AS c
        FROM e GROUP BY label, dim),
      p AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(a.c * b.c) AS dot,
               SUM(a.c * a.c) AS na, SUM(b.c * b.c) AS nb
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY a.label, b.label)
      SELECT label_a, label_b,
             ROUND(CAST(dot AS DOUBLE) /
               (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
               AS cos_sim
      FROM p ORDER BY label_a, label_b""",
    "embed_knn_join" -> """
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 20),
      sims AS (
        SELECT q.q_id, e.vec_id,
               list_dot_product(e.embedding::DOUBLE[], q.qv) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(q.qv, q.qv))) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, ROUND(cos, 6) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cos, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk""",
    "text_langid" -> """
      SELECT doc_id, declared_lang, n_words, n_stopwords,
             ROUND(CAST(n_stopwords AS DOUBLE) / n_words, 6) AS stop_ratio,
             CASE WHEN CAST(n_stopwords AS DOUBLE) / n_words > 0.05
                  THEN 'en' ELSE 'unknown' END AS predicted_lang
      FROM (SELECT doc_id, lang AS declared_lang,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_filter(string_split(text, ' '),
                       w -> w IN ('the','a','of','and','to','in','is','on'))) AS n_stopwords
            FROM documents) t
      ORDER BY doc_id""",
    // Mirrors TextStats.langIdNgram: top-20 char-bigram profile per lang
    // by document frequency, distinct-overlap scoring, argmax with
    // lexicographic tie-break. (Shared verbatim by the X179 confusion
    // matrix so classifier and audit can never drift.)
    "text_langid_ngram" -> LANGID_NGRAM,
    // X179 confusion matrix: the X4 prediction relation rolled to
    // declared × predicted counts with per-declared recall shares.
    "text_lang_confusion" -> ("""
      WITH base AS (""" + LANGID_NGRAM + """),
      m AS (SELECT declared_lang, predicted_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM base GROUP BY 1, 2)
      SELECT declared_lang, predicted_lang, n_docs,
             ROUND(CAST(n_docs AS DOUBLE) /
               SUM(n_docs) OVER (PARTITION BY declared_lang), 6)
               AS declared_share,
             declared_lang = predicted_lang AS is_correct
      FROM m ORDER BY declared_lang, predicted_lang"""),
    "text_quality" -> """
      SELECT doc_id, n_chars, n_words, n_distinct_words, n_letters,
             ROUND(CAST(n_letters AS DOUBLE) / n_words, 6) AS avg_word_len,
             ROUND(CAST(n_distinct_words AS DOUBLE) / n_words, 6) AS uniq_ratio,
             ROUND(LEAST(CAST(n_words AS DOUBLE) / 100, 1.0) *
                   (CAST(n_distinct_words AS DOUBLE) / n_words), 6) AS quality_score
      FROM (SELECT doc_id, n_chars,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
                   length(replace(text, ' ', '')) AS n_letters
            FROM documents) t
      ORDER BY doc_id""",
    // X158 lexical complexity: vowel-group syllable proxy; runs never
    // span a separator, so the rejoined-text count equals the per-word
    // sum in both engines.
    "text_lexical_complexity" -> """
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws
        FROM documents),
      x AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(array_to_string(ws, ' '),
                 '[aeiou]+')) AS BIGINT) AS n_syllables,
               CAST(len(list_filter(ws,
                 w -> len(regexp_extract_all(w, '[aeiou]+')) >= 3))
                 AS BIGINT) AS n_polysyllabic
        FROM d)
      SELECT doc_id, n_words, n_syllables, n_polysyllabic,
             ROUND(CAST(n_syllables AS DOUBLE) / n_words, 6)
               AS syllables_per_word,
             ROUND(CAST(n_polysyllabic AS DOUBLE) / n_words, 6) AS poly_ratio
      FROM x WHERE n_words > 0
      ORDER BY doc_id""",
    // X196 source-mix divergence: JSD over the source x language grid
    // (zero cells materialized so absent-language mass counts); KL
    // terms 6dp-DECIMAL, exact per-source sums; ln parity proven.
    "curation_source_divergence" -> """
      WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
                     FROM documents GROUP BY 1, 2),
      st AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS src_n
             FROM cells GROUP BY source),
      lt AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS lang_n
             FROM cells GROUP BY lang),
      co AS (SELECT CAST(SUM(cnt) AS BIGINT) AS corpus_n FROM cells),
      grid AS (
        SELECT st.source, st.src_n, lt.lang, lt.lang_n, co.corpus_n,
               COALESCE(c.cnt, 0) AS cnt
        FROM st CROSS JOIN lt
        LEFT JOIN cells c ON c.source = st.source AND c.lang = lt.lang
        CROSS JOIN co),
      t1 AS (SELECT source, src_n,
               CAST(COALESCE(cnt, 0) AS DOUBLE) / src_n AS p,
               CAST(lang_n AS DOUBLE) / corpus_n AS q
             FROM grid),
      t2 AS (SELECT source, src_n, p, q, (p + q) / 2 AS m FROM t1),
      t3 AS (SELECT source, src_n,
               CASE WHEN p > 0
                 THEN CAST(ROUND(0.5 * (p * ln(p / m)), 6) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END AS tt1,
               CAST(ROUND(0.5 * (q * ln(q / m)), 6) AS DECIMAL(18,6)) AS tt2
             FROM t2)
      SELECT source, MAX(src_n) AS n_docs,
             CAST(SUM(tt1 + tt2) AS DOUBLE) AS jsd_nats,
             CAST(SUM(tt1 + tt2) AS DOUBLE) > 0.05 AS drifted
      FROM t3 GROUP BY source ORDER BY source""",
    // X199 composite gate: the X4/X14/X158 relations re-stated
    // verbatim, blended with fixed weights; the three weighted terms
    // are 6dp-DECIMAL so the blend is an exact 3-term sum.
    "curation_composite_gate" -> """
      WITH q AS (
        SELECT doc_id,
               ROUND(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100,
                 1.0) * (CAST(len(list_distinct(string_split(text, ' ')))
                 AS DOUBLE) / len(string_split(text, ' '))), 6)
                 AS quality_score
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc_id,
              [array_to_string(ws[i:i+1], ' ')
               FOR i IN generate_series(1, len(ws) - 1)] AS g2,
              [array_to_string(ws[i:i+2], ' ')
               FOR i IN generate_series(1, len(ws) - 2)] AS g3
            FROM w),
      r AS (SELECT doc_id,
              CASE WHEN len(g2) > 0 THEN ROUND(CAST(len(g2) -
                len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) END AS rep2,
              CASE WHEN len(g3) > 0 THEN ROUND(CAST(len(g3) -
                len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) END AS rep3
            FROM g),
      lx AS (
        SELECT doc_id,
               ROUND(CAST(len(list_filter(lws, w2 ->
                 len(regexp_extract_all(w2, '[aeiou]+')) >= 3)) AS DOUBLE) /
                 len(lws), 6) AS poly_ratio
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 t -> t <> '') AS lws
              FROM documents) t0
        WHERE len(lws) > 0),
      c AS (SELECT q.doc_id, q.quality_score, r.rep2,
              (r.rep2 > 0.20 OR r.rep3 > 0.18) AS flagged, lx.poly_ratio
            FROM q LEFT JOIN r ON r.doc_id = q.doc_id
                   LEFT JOIN lx ON lx.doc_id = q.doc_id),
      t AS (SELECT doc_id, quality_score, rep2, poly_ratio, flagged,
              CAST(ROUND(0.5 * quality_score, 6) AS DECIMAL(18,6)) AS qt,
              CAST(ROUND(0.3 * (1.0 - COALESCE(rep2, 0.0)), 6)
                AS DECIMAL(18,6)) AS rt,
              CAST(ROUND(0.2 * LEAST(COALESCE(poly_ratio, 0.0) * 5.0, 1.0),
                6) AS DECIMAL(18,6)) AS lt2
            FROM c)
      SELECT doc_id, quality_score, rep2, poly_ratio,
             CAST(qt + rt + lt2 AS DOUBLE) AS composite,
             (CAST(qt + rt + lt2 AS DOUBLE) >= 0.5 AND
              NOT COALESCE(flagged, FALSE)) AS keep
      FROM t ORDER BY doc_id""",
    "text_tokens" -> """
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
             CAST(SUM(re_tokens) AS BIGINT) AS total_re_tokens,
             ROUND(CAST(SUM(ws_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_ws_tokens,
             ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(ws_tokens), 6) AS chars_per_token
      FROM (SELECT lang, n_chars,
                   len(string_split(text, ' ')) AS ws_tokens,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens
            FROM documents) t
      GROUP BY lang ORDER BY lang""",
    "text_fingerprint" -> s"""
      WITH ${SHINGLES.trim}
      SELECT doc_id, MIN(md5(sh)) AS fingerprint,
             CAST(SUM(CASE WHEN md5(sh) LIKE '0%' THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
             COUNT(*) AS n_shingles
      FROM shingles GROUP BY doc_id ORDER BY doc_id""",
    // Data-quality expectations: one row per check with its violation
    // count (referential anti-joins, key uniqueness, domain predicates).
    "dq_report" -> """
      SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
             n_violations = 0 AS passed
      FROM (
        SELECT 'fk_lineitem_orders' AS check_name, COUNT(*) AS n_violations
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'fk_orders_customer', COUNT(*)
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        UNION ALL
        SELECT 'fk_supplier_nation', COUNT(*)
        FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)
        UNION ALL
        SELECT 'unique_orders_key', COUNT(*)
        FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1) t
        UNION ALL
        SELECT 'unique_lineitem_key', COUNT(*)
        FROM (SELECT l_orderkey, l_linenumber FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) t
        UNION ALL
        SELECT 'unique_documents_key', COUNT(*)
        FROM (SELECT doc_id FROM documents GROUP BY doc_id HAVING COUNT(*) > 1) t
        UNION ALL
        SELECT 'domain_lineitem_qty_positive', COUNT(*)
        FROM lineitem WHERE NOT (l_quantity > 0)
        UNION ALL
        SELECT 'domain_lineitem_discount_range', COUNT(*)
        FROM lineitem WHERE NOT (l_discount >= 0 AND l_discount <= 1)
        UNION ALL
        SELECT 'domain_documents_nonempty', COUNT(*)
        FROM documents WHERE NOT (n_chars > 0)
      ) t ORDER BY check_name""",
    // Contamination scan: training docs sharing 3-grams with the
    // benchmark holdout (doc_id % 97 == 0); flagged above 10% overlap.
    "curation_contamination" -> s"""
      WITH ${SHINGLES.trim},
      bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 97 = 0),
      train AS (SELECT doc_id, sh FROM shingles WHERE doc_id % 97 <> 0),
      hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
        FROM train WHERE sh IN (SELECT sh FROM bench)
        GROUP BY doc_id),
      totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM train GROUP BY doc_id)
      SELECT t.doc_id, t.n_shingles,
             COALESCE(h.n_contaminated, 0) AS n_contaminated,
             ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles, 6) AS contam_ratio,
             ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles, 6) > 0.10 AS flagged
      FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
      ORDER BY t.doc_id""",
    // Deterministic 80/10/10 split: bucket = first 4 hex chars of
    // md5(doc_id || '|' || salt) as an int (Spark conv(...,16,10); here
    // per-digit strpos — same value).
    "curation_split" -> """
      WITH b AS (
        SELECT lang, n_chars,
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
               (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
               (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
               (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS bucket
        FROM (SELECT lang, n_chars,
                     md5(CAST(doc_id AS VARCHAR) || '|' || 'graft_v1') AS h
              FROM documents) t)
      SELECT lang,
             CASE WHEN bucket < 52429 THEN 'train'
                  WHEN bucket < 58982 THEN 'validation'
                  ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM b GROUP BY 1, 2 ORDER BY lang, split""",
    // Heavy hitters: exact tokens above support; in_approx literally TRUE
    // (Spark's freqItems contract: superset at the given support).
    "text_heavy_hitters" -> """
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      tot AS (SELECT COUNT(*) AS n_total FROM toks)
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt, TRUE AS in_approx
      FROM toks, tot
      GROUP BY tok, n_total
      HAVING COUNT(*) > n_total * 0.005
      ORDER BY tok""",
    // X100 Count-Min-Sketch: d=4 × w=256 counters as one aggregate;
    // estimate = min over the d probed cells; est >= true is the
    // deterministic one-sided CMS guarantee.
    "agg_cms_heavy_hitters" -> """
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      cells AS (
        SELECT tok, j,
               ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 256 AS b
        FROM (SELECT tok, j, md5(CAST(j AS VARCHAR) || '|' || tok) AS h
              FROM toks, (SELECT unnest(generate_series(0, 3)) AS j) g) t),
      counters AS (SELECT j, b, COUNT(*) AS c FROM cells GROUP BY j, b),
      tot AS (SELECT COUNT(*) AS n_total FROM toks),
      heavy AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt
        FROM toks, tot GROUP BY tok, n_total
        HAVING COUNT(*) > n_total * 0.005),
      probes AS (
        SELECT tok, true_cnt, j,
               ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 256 AS b
        FROM (SELECT tok, true_cnt, j,
                     md5(CAST(j AS VARCHAR) || '|' || tok) AS h
              FROM heavy, (SELECT unnest(generate_series(0, 3)) AS j) g2) t2)
      SELECT p.tok, p.true_cnt,
             CAST(MIN(c.c) AS BIGINT) AS est_cnt,
             CAST(MIN(c.c) - p.true_cnt AS BIGINT) AS overcount,
             MIN(c.c) >= p.true_cnt AS never_undercounts
      FROM probes p JOIN counters c ON p.j = c.j AND p.b = c.b
      GROUP BY p.tok, p.true_cnt ORDER BY p.tok""",
    "curation_pipeline" -> s"""
      WITH ${SHINGLES.trim},
      sigs AS (
        SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS sig
        FROM shingles, (SELECT unnest(generate_series(0, 7)) AS j) g
        GROUP BY doc_id, j
      ),
      bands AS (
        SELECT doc_id, j // 2 AS b,
               md5(MAX(CASE WHEN j % 2 = 0 THEN sig END) || '|' ||
                   MAX(CASE WHEN j % 2 = 1 THEN sig END)) AS band_hash
        FROM sigs GROUP BY doc_id, j // 2
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.band_hash = b.band_hash
                                 AND a.doc_id < b.doc_id
      ),
      pairs AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est_sim
        FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
                    JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
        GROUP BY c.doc_a, c.doc_b
      ),
      drop_dups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE est_sim >= 0.75),
      quality AS (
        SELECT doc_id, n_words,
               ROUND(LEAST(CAST(n_words AS DOUBLE) / 100, 1.0) *
                     (CAST(n_distinct_words AS DOUBLE) / n_words), 6) AS quality_score
        FROM (SELECT doc_id,
                     len(string_split(text, ' ')) AS n_words,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct_words
              FROM documents) q0
      )
      SELECT d.lang, COUNT(*) AS n_docs,
             CAST(SUM(q.n_words) AS BIGINT) AS total_words,
             ROUND(CAST(SUM(CAST(q.quality_score AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_quality
      FROM documents d
      JOIN quality q ON d.doc_id = q.doc_id
      WHERE q.quality_score >= 0.2 AND q.n_words >= 20
        AND d.doc_id NOT IN (SELECT doc_id FROM drop_dups)
      GROUP BY d.lang ORDER BY d.lang""",
    // Mirrors Multimodal.pngPayloads/decodePng: the Spark side encodes a
    // real PNG per document (test-card pixels v = (31d+7x+13y) mod 256,
    // dims 8 + doc_id mod 9 x 8 + n_chars mod 9) and decodes it with
    // javax.imageio; the oracle recomputes the decoded raster
    // arithmetically. Agreement proves the encode->DEFLATE->decode
    // round trip preserved every pixel.
    "multimodal_decode" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 9 AS h
        FROM documents),
      xs AS (
        SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
      px AS (
        SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        FROM xs)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
               AS px_checksum
      FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",
    // X154 JPEG leg: lossy codec, so the oracle states what survives
    // quantization exactly — decoder-read dimensions — plus the loss
    // bound within_tol, which the Spark side computes from the REAL
    // decoded raster (false on any sample off by > 16 counts).
    "multimodal_jpeg" -> """
      SELECT doc_id,
             8 + doc_id % 9 AS width,
             8 + n_chars % 9 AS height,
             (8 + doc_id % 9) * (8 + n_chars % 9) AS n_px,
             TRUE AS within_tol
      FROM documents ORDER BY doc_id""",
    // X156 PCM leg: the exact codec — every feature is an integer the
    // SQL recomputes from the stated sample arithmetic; only the byte
    // round-trip and framing live JVM-side, and any parser bug there
    // shifts energy/ZCR off these numbers.
    "multimodal_pcm_features" -> """
      WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents),
      f AS (SELECT doc_id, unnest(generate_series(0, n_frames - 1))
              AS frame_idx FROM d),
      s AS (SELECT doc_id, frame_idx, unnest(generate_series(0, 159)) AS j
            FROM f),
      v AS (SELECT doc_id, frame_idx, j,
              ((doc_id * 7 + (frame_idx * 160 + j) * 13) % 4096) - 2048 AS smp
            FROM s),
      x AS (SELECT doc_id, frame_idx, j, smp,
              LAG(smp) OVER (PARTITION BY doc_id, frame_idx ORDER BY j)
                AS prev
            FROM v)
      SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(160 AS BIGINT) AS n_samples,
             CAST(SUM(ABS(smp)) AS BIGINT) AS energy,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND smp * prev < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM x GROUP BY doc_id, frame_idx
      ORDER BY doc_id, frame_idx""",
    // X232 clipping/dynamics audit: clip-level integer peak/clip/total
    // over the stated sample formula; two final rounded divisions.
    "multimodal_pcm_clipping" -> """
      WITH d AS (SELECT doc_id, 160 * (2 + doc_id % 4) AS n FROM documents),
      s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d),
      v AS (SELECT doc_id, n,
              ABS(((doc_id * 7 + i * 13) % 4096) - 2048) AS a FROM s),
      agg AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
                CAST(MAX(a) AS BIGINT) AS peak,
                CAST(SUM(CASE WHEN a >= 2040 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clipped,
                CAST(SUM(a) AS BIGINT) AS total_abs
              FROM v GROUP BY doc_id)
      SELECT doc_id, n_samples, peak, n_clipped, total_abs,
             ROUND(CAST(n_clipped AS DOUBLE) / n_samples, 6)
               AS clipped_share,
             ROUND(CAST(peak AS DOUBLE) * n_samples / total_abs, 6)
               AS crest_factor
      FROM agg ORDER BY doc_id""",
    // X189 halfband 2:1 decimation: y = floor((x[2j-1]+2x[2j]+x[2j+1])/4)
    // spelled (s+8192)//4-2048 so truncating integer division IS floor
    // on the shifted non-negative domain; left edge sample-replicated.
    "multimodal_pcm_resample" -> """
      WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents),
      f AS (SELECT doc_id, unnest(generate_series(0, n_frames - 1))
              AS frame_idx FROM d),
      s AS (SELECT doc_id, frame_idx, unnest(generate_series(0, 79)) AS j
            FROM f),
      x AS (SELECT doc_id, frame_idx, j, frame_idx * 80 + j AS i FROM s),
      v AS (SELECT doc_id, frame_idx, j,
              ((doc_id * 7 + GREATEST(2 * i - 1, 0) * 13) % 4096) - 2048 AS xl,
              ((doc_id * 7 + (2 * i) * 13) % 4096) - 2048 AS xc,
              ((doc_id * 7 + (2 * i + 1) * 13) % 4096) - 2048 AS xr
            FROM x),
      y AS (SELECT doc_id, frame_idx, j,
              (xl + 2 * xc + xr + 8192) // 4 - 2048 AS smp FROM v),
      z AS (SELECT doc_id, frame_idx, j, smp,
              LAG(smp) OVER (PARTITION BY doc_id, frame_idx ORDER BY j)
                AS prev
            FROM y)
      SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(80 AS BIGINT) AS n_samples,
             CAST(SUM(ABS(smp)) AS BIGINT) AS energy,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND smp * prev < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM z GROUP BY doc_id, frame_idx
      ORDER BY doc_id, frame_idx""",
    // X190 channel stats: exact integer moments off the recomputed
    // test-card raster; mean/std one fixed expression each (std =
    // sqrt(n*S2 - S*S)/n, the X164 no-pow rule).
    "multimodal_channel_stats" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 9 AS h
        FROM documents),
      xs AS (
        SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
      px AS (
        SELECT doc_id, x, unnest(generate_series(0, h - 1)) AS y
        FROM xs),
      v AS (SELECT doc_id, (doc_id * 31 + x * 7 + y * 13) % 256 AS v
            FROM px),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(SUM(v * v) AS BIGINT) AS px_sum_sq,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max
        FROM v GROUP BY doc_id)
      SELECT doc_id, n_px, px_sum, px_sum_sq, px_min, px_max,
             ROUND(CAST(px_sum AS DOUBLE) / n_px, 6) AS px_mean,
             ROUND(sqrt(CAST(n_px * px_sum_sq - px_sum * px_sum AS DOUBLE)) /
               n_px, 6) AS px_std
      FROM agg ORDER BY doc_id""",
    // X236 luminance entropy: 16-bin histogram off the recomputed
    // raster, c*ln(c) terms 6dp-DECIMAL before the per-image sum.
    "multimodal_image_entropy" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 9 AS h
        FROM documents),
      xs AS (
        SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
      px AS (
        SELECT doc_id, x, unnest(generate_series(0, h - 1)) AS y
        FROM xs),
      v AS (SELECT doc_id,
              ((doc_id * 31 + x * 7 + y * 13) % 256) // 16 AS bin
            FROM px),
      g AS (SELECT doc_id, bin, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM v GROUP BY doc_id, bin),
      n AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_px
            FROM g GROUP BY doc_id),
      t AS (SELECT g.doc_id, n.n_px, g.cnt,
              CAST(ROUND(g.cnt * ln(CAST(g.cnt AS DOUBLE)), 6)
                AS DECIMAL(18,6)) AS t
            FROM g JOIN n ON n.doc_id = g.doc_id)
      SELECT doc_id, n_px, CAST(COUNT(*) AS BIGINT) AS n_bins_used,
             ROUND(ln(CAST(n_px AS DOUBLE)) - CAST(SUM(t) AS DOUBLE) / n_px,
               6) AS entropy,
             ROUND(CAST(MAX(cnt) AS DOUBLE) / n_px, 6) AS max_bin_share
      FROM t GROUP BY doc_id, n_px ORDER BY doc_id""",
    // X211 tile grid: patch assignment by integer x*4//w, exact sums
    // and floor means per tile off the recomputed raster.
    "multimodal_tile_stats" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 9 AS h
        FROM documents),
      xs AS (
        SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
      px AS (
        SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        FROM xs),
      v AS (SELECT doc_id, x * 4 // w AS tile_x, y * 4 // h AS tile_y,
              (doc_id * 31 + x * 7 + y * 13) % 256 AS v
            FROM px)
      SELECT doc_id, CAST(tile_x AS BIGINT) AS tile_x,
             CAST(tile_y AS BIGINT) AS tile_y,
             CAST(COUNT(*) AS BIGINT) AS n_px,
             CAST(SUM(v) AS BIGINT) AS px_sum,
             CAST(SUM(v) // COUNT(*) AS BIGINT) AS px_mean_floor
      FROM v GROUP BY doc_id, tile_x, tile_y
      ORDER BY doc_id, tile_x, tile_y""",
    // X191 autocorrelation pitch: R(lag) exact integer products within
    // the frame; argmax ties to the smaller lag (the engine scans lags
    // ascending with strict >).
    "multimodal_pcm_pitch" -> """
      WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents),
      f AS (SELECT doc_id, unnest(generate_series(0, n_frames - 1))
              AS frame_idx FROM d),
      lg AS (SELECT doc_id, frame_idx, unnest(generate_series(20, 80))
               AS lag FROM f),
      s AS (SELECT doc_id, frame_idx, lag,
              unnest(generate_series(0, 159 - lag)) AS i
            FROM lg),
      r AS (SELECT doc_id, frame_idx, lag,
              SUM((((doc_id * 7 + (frame_idx * 160 + i) * 13) % 4096) - 2048) *
                  (((doc_id * 7 + (frame_idx * 160 + i + lag) * 13) % 4096) - 2048))
                AS rr
            FROM s GROUP BY doc_id, frame_idx, lag),
      rk AS (SELECT doc_id, frame_idx, lag, rr,
               ROW_NUMBER() OVER (PARTITION BY doc_id, frame_idx
                                  ORDER BY rr DESC, lag) AS rn
             FROM r)
      SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(lag AS BIGINT) AS pitch_lag, CAST(rr AS BIGINT) AS r_peak
      FROM rk WHERE rn = 1 ORDER BY doc_id, frame_idx""",
    // X172 VAD: voiced = frame energy above the clip mean by integer
    // cross-product; voiced runs collapse via gaps-and-islands over the
    // recomputed X156 frame energies — all integers under one gate.
    "multimodal_pcm_vad" -> """
      WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents),
      f AS (SELECT doc_id, unnest(generate_series(0, n_frames - 1))
              AS frame_idx FROM d),
      s AS (SELECT doc_id, frame_idx, unnest(generate_series(0, 159)) AS j
            FROM f),
      v AS (SELECT doc_id, frame_idx,
              ((doc_id * 7 + (frame_idx * 160 + j) * 13) % 4096) - 2048 AS smp
            FROM s),
      fr AS (SELECT doc_id, frame_idx, CAST(SUM(ABS(smp)) AS BIGINT) AS energy
             FROM v GROUP BY 1, 2),
      clip AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(energy) AS BIGINT) AS tot FROM fr GROUP BY 1),
      fl AS (SELECT fr.doc_id, fr.frame_idx,
               fr.energy * c.n_frames > c.tot AS voiced
             FROM fr JOIN clip c ON c.doc_id = fr.doc_id),
      fs AS (SELECT doc_id, frame_idx, voiced,
              CASE WHEN voiced AND NOT COALESCE(LAG(voiced)
                     OVER (PARTITION BY doc_id ORDER BY frame_idx), FALSE)
                   THEN 1 ELSE 0 END AS seg_start
             FROM fl),
      fz AS (SELECT doc_id, voiced,
              SUM(seg_start) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                AS seg_id
             FROM fs),
      runs AS (SELECT doc_id, seg_id, CAST(COUNT(*) AS BIGINT) AS run_len
               FROM fz WHERE voiced GROUP BY 1, 2),
      segs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
                      CAST(SUM(run_len) AS BIGINT) AS n_voiced,
                      MAX(run_len) AS max_run FROM runs GROUP BY 1)
      SELECT c.doc_id, c.n_frames,
             COALESCE(s2.n_voiced, 0) AS n_voiced,
             COALESCE(s2.n_segments, 0) AS n_segments,
             COALESCE(s2.max_run, 0) AS max_run
      FROM clip c LEFT JOIN segs s2 ON s2.doc_id = c.doc_id
      ORDER BY c.doc_id""",
    "multimodal_meta" -> """
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             substr(md5(text), 1, 8) AS content_sig,
             CASE WHEN substr(text, 1, 1) BETWEEN 'a' AND 'm'
                  THEN 'bucket_am' ELSE 'bucket_nz' END AS shard
      FROM documents ORDER BY doc_id""",
    // Mirrors Multimodal.resize: stride-2 byte subsample + halved dims
    // (ASCII fixture -> byte ops == char ops in both engines).
    // Multimodal -> ANN bridge (mirrors Multimodal.embedTopK): 8-dim
    // embedding from md5 nibbles (4 hex chars per dim, scaled to
    // [-1, 1)), broadcast-query cosine top-k. The nibble expansion is
    // generated by hex4() below; cosine composes from list_dot_product
    // exactly like dedup_embed_pairs (same left-fold parity).
    "multimodal_embed" -> {
      def hex4(c: String, start: Int): String =
        Seq(4096L, 256L, 16L, 1L).zipWithIndex.map { case (w, i) =>
          s"(strpos('0123456789abcdef', substr($c, ${start + i}, 1)) - 1) * $w"
        }.mkString("(", " + ", ")")
      val dims = (0 until 8)
        .map(j => s"(${hex4("h", 1 + 4 * j)} / 32768.0 - 1.0)")
        .mkString(", ")
      val cos = "list_dot_product(emb, qemb) / " +
        "(sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb)))"
      s"""
      WITH e AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               list_value($dims) AS emb
        FROM (SELECT doc_id, text, md5(text) AS h FROM documents) t),
      q AS (SELECT emb AS qemb FROM e WHERE doc_id = 0)
      SELECT doc_id, n_bytes, ROUND($cos, 6) AS cos_sim
      FROM e CROSS JOIN q
      WHERE doc_id <> 0
      ORDER BY $cos DESC, doc_id LIMIT 10"""
    },
    "multimodal_resize" -> """
      WITH r AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               array_to_string([substr(text, i, 1)
                 FOR i IN generate_series(1, length(text), 2)], '') AS small,
               16 + ascii(substr(text, 1, 1)) % 16 AS orig_width
        FROM documents)
      SELECT doc_id, n_bytes,
             CAST(octet_length(encode(small)) AS BIGINT) AS small_bytes,
             md5(small) AS small_sig,
             CAST(orig_width AS BIGINT) AS orig_width,
             CAST(orig_width // 2 AS BIGINT) AS small_width
      FROM r ORDER BY doc_id""",
    // Mirrors Multimodal.frameSample: k=4 evenly-spaced 16-byte frames
    // (ASCII fixture -> byte offsets == char offsets in both engines).
    "multimodal_frames" -> """
      WITH f AS (
        SELECT doc_id, text, octet_length(encode(text)) AS n_bytes,
               unnest(generate_series(0, 3)) AS frame_idx
        FROM documents),
      o AS (
        SELECT doc_id, text, CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(CASE WHEN n_bytes > 16
                    THEN ((n_bytes - 16) * frame_idx) // 3
                    ELSE 0 END AS BIGINT) AS "off"
        FROM f)
      SELECT doc_id, frame_idx, "off",
             CAST(octet_length(encode(substr(text, CAST("off" AS INTEGER) + 1, 16))) AS BIGINT) AS frame_len,
             md5(substr(text, CAST("off" AS INTEGER) + 1, 16)) AS frame_sig
      FROM o ORDER BY doc_id, frame_idx""",
    // Duplication coverage: occurrence-level overlapping 5-word shingles;
    // a shingle is "shared" if its text occurs in >= 2 distinct docs.
    // Every fixture doc has >= 10 words, so the len >= 5 guard is
    // belt-and-braces (it keeps generate_series ascending on both engines).
    "text_dup_coverage" -> """
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      occ AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
        FROM words WHERE len(ws) >= 5),
      shg AS (
        SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS sh FROM occ),
      shared AS (
        SELECT sh FROM (
          SELECT sh, COUNT(DISTINCT doc_id) AS docs FROM shg GROUP BY sh) t
        WHERE docs >= 2),
      per AS (
        SELECT s.doc_id, COUNT(*) AS n_shared
        FROM shg s JOIN shared ON s.sh = shared.sh GROUP BY s.doc_id),
      base AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 5 THEN len(ws) - 4 ELSE 0 END AS n_shingles
        FROM words)
      SELECT b.doc_id, b.n_shingles,
             COALESCE(per.n_shared, 0) AS n_shared,
             CASE WHEN b.n_shingles > 0
                  THEN ROUND(COALESCE(per.n_shared, 0) /
                             CAST(b.n_shingles AS DOUBLE), 6)
                  ELSE 0.0 END AS dup_ratio
      FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
      ORDER BY b.doc_id""",
    // X86 novelty: a doc's share of 3-gram shingles whose FIRST corpus
    // occurrence (min doc_id) is that doc. Docs without shingles (< 3
    // words) have no row — inner-join semantics on both sides.
    "text_novelty" -> (s"""
      WITH ${SHINGLES.trim},
      fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM shingles GROUP BY sh)
      SELECT s.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
             ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 6) AS novelty
      FROM shingles s JOIN fo f ON s.sh = f.sh
      GROUP BY s.doc_id ORDER BY s.doc_id"""),
    // X96 conjunctive search: the same ALL-terms predicate as three
    // correlated EXISTS semi-joins over the tokenized relation — a
    // different plan shape than the Spark group-count conjunction,
    // agreeing on values.
    "text_search_and" -> """
      WITH toks AS (
        SELECT DISTINCT doc_id, t FROM (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
          FROM documents) x
        WHERE t <> '')
      SELECT d.doc_id, d.lang, d.source
      FROM documents d
      WHERE EXISTS (SELECT 1 FROM toks
                    WHERE doc_id = d.doc_id AND t = 'join')
        AND EXISTS (SELECT 1 FROM toks
                    WHERE doc_id = d.doc_id AND t = 'hash')
        AND EXISTS (SELECT 1 FROM toks
                    WHERE doc_id = d.doc_id AND t = 'scan')
      ORDER BY d.doc_id""",
    // X91 vocabulary coverage: corpus top-1000 tokens by (count DESC,
    // token) — the deterministic boundary cut — left-joined back over
    // the token stream.
    "text_vocab_coverage" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  t -> t <> '')) AS tok
        FROM documents),
      vc AS (
        SELECT tok AS vtok FROM (
          SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
          ORDER BY cnt DESC, tok LIMIT 1000) t)
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN vtok IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_in_vocab,
             ROUND(CAST(SUM(CASE WHEN vtok IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 6) AS coverage
      FROM toks LEFT JOIN vc ON tok = vtok
      GROUP BY doc_id ORDER BY doc_id""",
    // X87 source overlap: distinct (source, shingle) sets pairwise
    // intersected on the shingle key; overlap coefficient over the
    // smaller set.
    "analytics_source_overlap" -> (s"""
      WITH ${SHINGLES.trim},
      ss AS (
        SELECT DISTINCT d.source, s.sh
        FROM shingles s JOIN documents d ON s.doc_id = d.doc_id),
      tot AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
      p AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT p.src_a, p.src_b, ta.n_sh AS n_a, tb.n_sh AS n_b, p.n_shared,
             ROUND(CAST(p.n_shared AS DOUBLE) /
                   least(ta.n_sh, tb.n_sh), 6) AS overlap_coef
      FROM p JOIN tot ta ON p.src_a = ta.source
             JOIN tot tb ON p.src_b = tb.source
      ORDER BY p.src_a, p.src_b"""),
    // Boilerplate strip: non-overlapping 5-word chunks; a chunk text in
    // >= 2 distinct docs is boilerplate; docs rebuild from surviving
    // chunks in original order (exact dups lose every chunk).
    "text_strip_boilerplate" -> """
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      idx AS (
        SELECT doc_id, ws, unnest(generate_series(0, (len(ws) + 4) // 5 - 1)) AS cidx
        FROM words),
      ch0 AS (
        SELECT doc_id, cidx, ws, cidx * 5 + 1 AS cs FROM idx),
      ch AS (
        SELECT doc_id, cidx, array_to_string(ws[cs:cs+4], ' ') AS chunk FROM ch0),
      boiler AS (
        SELECT chunk FROM (
          SELECT chunk, COUNT(DISTINCT doc_id) AS docs FROM ch GROUP BY chunk) t
        WHERE docs >= 2),
      kept AS (
        SELECT doc_id, cidx, chunk FROM ch
        WHERE chunk NOT IN (SELECT chunk FROM boiler)),
      reb AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(chunk, ' ' ORDER BY cidx) AS cleaned_text
        FROM kept GROUP BY doc_id),
      nch AS (
        SELECT doc_id, (len(ws) + 4) // 5 AS n_chunks FROM words)
      SELECT n.doc_id, n.n_chunks,
             n.n_chunks - COALESCE(r.n_kept, 0) AS n_removed,
             COALESCE(r.cleaned_text, '') AS cleaned_text
      FROM nch n LEFT JOIN reb r ON n.doc_id = r.doc_id
      ORDER BY n.doc_id""",
    // Gopher-style within-doc repetition: fraction of word 2-/3-gram
    // occurrences that repeat an earlier occurrence in the same doc.
    "text_repetition" -> """
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (
        SELECT doc_id, ws,
               [array_to_string(ws[i:i+1], ' ')
                FOR i IN generate_series(1, len(ws) - 1)] AS g2,
               [array_to_string(ws[i:i+2], ' ')
                FOR i IN generate_series(1, len(ws) - 2)] AS g3
        FROM w),
      m AS (
        SELECT doc_id, len(ws) AS n_words,
               ROUND(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS rep2,
               ROUND(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) AS rep3
        FROM g)
      SELECT doc_id, n_words, rep2, rep3,
             (rep2 > 0.20 OR rep3 > 0.18) AS flagged
      FROM m ORDER BY doc_id""",
    // Deterministic stratified sample: md5 of (doc_id ':' text) as the
    // content-derived draw key, first 20 per language.
    "curation_stratified_sample" -> """
      WITH keyed AS (
        SELECT doc_id, lang,
               md5(CAST(doc_id AS VARCHAR) || ':' || text) AS skey
        FROM documents),
      ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey, doc_id)
                 AS sample_rank
        FROM keyed)
      SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
      FROM ranked WHERE sample_rank <= 20
      ORDER BY lang, sample_rank""",
    // X81 DSIR importance weights: hashed unigram+bigram buckets, target
    // (source='src0') vs raw add-one-smoothed multinomials, per-doc sum
    // of 6dp-rounded DECIMAL log-ratios (exact, order-free on both
    // engines). The 16-bit md5 prefix hash mirrors the X53 sampler
    // spelling; `% 1024` folds it to the bucket space.
    "curation_dsir_weights" -> """
      WITH d AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws
        FROM documents),
      feats AS (
        SELECT doc_id, source, unnest(ws) AS feat FROM d
        UNION ALL
        SELECT doc_id, source, array_to_string(ws[i:i+1], '_') AS feat
        FROM (SELECT doc_id, source, ws,
                     unnest(generate_series(1, len(ws) - 1)) AS i FROM d) t),
      bf AS (
        SELECT doc_id, source,
               ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 1024 AS b
        FROM (SELECT doc_id, source, md5(feat) AS h FROM feats) t),
      counts AS (
        SELECT b,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS cr
        FROM bf GROUP BY b),
      tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
      wts AS (
        SELECT b, CAST(ROUND(ln(CAST(ct + 1 AS DOUBLE) / (nt + 1024)) -
                             ln(CAST(cr + 1 AS DOUBLE) / (nr + 1024)), 6)
                       AS DECIMAL(18,6)) AS logratio
        FROM counts, tot)
      SELECT doc_id, COUNT(*) AS n_feats,
             CAST(SUM(logratio) AS DOUBLE) AS logw_sum,
             ROUND(CAST(SUM(logratio) AS DOUBLE) / COUNT(*), 6) AS logw_avg
      FROM bf JOIN wts USING (b)
      WHERE source <> 'src0'
      GROUP BY doc_id ORDER BY doc_id""",
    // X101 weighted sampling (A-Res): exact-rational u from the 16-bit
    // md5 bucket, priority ranked via the monotone ln(u)/w transform,
    // 6dp-rounded with doc_id ties — the top-50 cut is total.
    "curation_weighted_sample" -> """
      WITH b AS (
        SELECT doc_id, lang, n_chars,
               CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
                     (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
                     (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
                     (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) + 1)
                    AS DOUBLE) / 65536 AS u
        FROM (SELECT doc_id, lang, n_chars,
                     md5(CAST(doc_id AS VARCHAR) || '|' || 'wsample_v1') AS h
              FROM documents) t),
      p AS (
        SELECT doc_id, lang, n_chars, ROUND(ln(u) / n_chars, 6) AS prio
        FROM b ORDER BY prio DESC, doc_id LIMIT 50)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS BIGINT)
               AS rk,
             doc_id, lang, n_chars, prio
      FROM p ORDER BY rk""",
    // X102 quantile normalization: naive global + per-lang rank windows;
    // the Spark side computes the global rank with the two-phase
    // range-partitioned prefix. Target rank is exact integer math.
    "curation_quantile_norm" -> """
      WITH scored AS (
        SELECT doc_id, lang,
               ROUND(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100,
                           1.0) *
                     (CAST(len(list_distinct(string_split(text, ' ')))
                           AS DOUBLE) /
                      len(string_split(text, ' '))), 6) AS score
        FROM documents),
      g AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score, doc_id)
                           AS BIGINT) AS grank
            FROM scored),
      nn AS (SELECT COUNT(*) AS n FROM scored),
      rg AS (SELECT *,
                    CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY score, doc_id)
                         AS BIGINT) AS r,
                    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_g
             FROM g),
      tt AS (SELECT rg.*, ((r * n + n_g - 1) // n_g) AS tk FROM rg, nn)
      SELECT tt.doc_id, tt.lang, tt.score, tt.r, tt.n_g,
             v.score AS norm_score
      FROM tt JOIN g v ON tt.tk = v.grank
      ORDER BY tt.doc_id""",
    // X83 Pareto coverage: naive global window cumsum in (n_tokens DESC,
    // doc_id) order — the Spark side range-partitions on the sort key and
    // runs the two-phase prefix sum; identical by associativity. The 80%
    // membership test is exact integer arithmetic on both sides.
    "analytics_pareto80" -> """
      WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
      t AS (SELECT SUM(n_tokens) AS total FROM d),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens)
                 OVER (ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cum_tokens
        FROM d)
      SELECT doc_id, n_tokens, cum_tokens,
             ROUND(CAST(cum_tokens AS DOUBLE) / total, 6) AS cum_share,
             (cum_tokens - n_tokens) * 5 < total * 4 AS in_pareto80
      FROM c, t ORDER BY cum_tokens, doc_id""",
    // Shard packing twin: the naive single-window prefix sum — the Spark
    // side computes the same values with a two-phase distributed cumsum.
    "curation_shard_pack" -> SHARD_PACK_SQL,
    // X207 packing-efficiency audit: the X12 relation embedded
    // verbatim, rolled up per shard with integer boundary-cross flags.
    "curation_pack_efficiency" -> ("""
      WITH sp AS (""" + SHARD_PACK_SQL + """),
      f AS (SELECT shard_id, n_tokens,
              (cum_tokens - 1) // 2000 <> (cum_tokens - n_tokens) // 2000
                AS crosses
            FROM sp)
      SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens,
             CAST(SUM(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT)
               AS boundary_docs,
             ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 2000, 6) AS utilization,
             GREATEST(CAST(SUM(n_tokens) AS BIGINT) - 2000, 0)
               AS overflow_tokens
      FROM f GROUP BY shard_id ORDER BY shard_id"""),
    // PII scrub: synthetic deterministic PII appended (the corpus has
    // none), then count + redact email/IPv4/phone. Regexes are the
    // backslash-free RE2 ∩ java.util.regex subset ([0-9]/[.] classes);
    // redaction order email -> ip -> phone is the operator contract.
    // DuckDB regexp_replace needs the 'g' flag for replace-all (Spark's
    // default; the three-way dialect map drops the flag).
    "text_pii_redact" -> """
      WITH aug AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
            CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN ' from 10.' ||
            CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
            CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS aug
        FROM documents),
      red AS (
        SELECT doc_id, aug,
          regexp_replace(regexp_replace(regexp_replace(aug,
            '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+', '[EMAIL]', 'g'),
            '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '[IP]', 'g'),
            '555-[0-9]{4}', '[PHONE]', 'g') AS redacted
        FROM aug)
      SELECT doc_id,
        CAST(len(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(aug, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(aug, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        CAST(length(redacted) AS BIGINT) AS redacted_len,
        md5(redacted) AS redacted_md5
      FROM red ORDER BY doc_id""",
    // Quantile normalization: per-lang percent_rank + NTILE(10) over the
    // total (quality_score, doc_id) order — rank boundaries deterministic
    // in both engines because the sort key is unique.
    "text_quality_ranked" -> """
      WITH q AS (
        SELECT doc_id, lang,
               ROUND(LEAST(CAST(n_words AS DOUBLE) / 100, 1.0) *
                     (CAST(n_distinct_words AS DOUBLE) / n_words), 6)
                 AS quality_score
        FROM (SELECT doc_id, lang,
                     len(string_split(text, ' ')) AS n_words,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct_words
              FROM documents) t)
      SELECT doc_id, lang, quality_score,
             ROUND(PERCENT_RANK() OVER w, 6) AS pr,
             CAST(NTILE(10) OVER w AS BIGINT) AS decile
      FROM q
      WINDOW w AS (PARTITION BY lang ORDER BY quality_score, doc_id)
      ORDER BY doc_id""",
    // Collocation mining: per-doc distinct-token self-join; PMI over an
    // integral ratio (single ln, round-6 parity); ties in the top-k are
    // broken by the exact (dfp, w1, w2) order.
    "text_collocations" -> """
      WITH dw AS (
        SELECT DISTINCT doc_id, w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents) t),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      wdf AS (SELECT w, COUNT(*) AS dfw FROM dw GROUP BY w),
      p AS (
        SELECT a.w AS w1, b.w AS w2, COUNT(*) AS dfp
        FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY a.w, b.w
        HAVING COUNT(*) >= 5)
      SELECT w1, w2, dfp, f1.dfw AS dfw1, f2.dfw AS dfw2,
             ROUND(ln(CAST(dfp AS DOUBLE) * n_docs / (f1.dfw * f2.dfw)), 6)
               AS pmi
      FROM p JOIN wdf f1 ON p.w1 = f1.w
             JOIN wdf f2 ON p.w2 = f2.w
             CROSS JOIN nd
      ORDER BY dfp DESC, w1, w2 LIMIT 20""",
    // Per-day volume z-score: variance from SUM/SUM-of-squares over
    // integral counts (exact in any partition order), operations
    // associated identically to DataQuality.volumeAnomalies.
    "dq_volume_anomaly" -> """
      WITH daily AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               COUNT(*) AS n
        FROM events GROUP BY 1),
      st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_days,
                    CAST(SUM(n) AS DOUBLE) AS s1,
                    CAST(SUM(n * n) AS DOUBLE) AS s2
             FROM daily)
      SELECT day_num, n,
             ROUND(s1 / n_days, 6) AS mean_n,
             ROUND((n - s1 / n_days) /
                   sqrt(s2 / n_days - (s1 / n_days) * (s1 / n_days)), 6) AS z,
             (ABS(n - s1 / n_days) >
              sqrt(s2 / n_days - (s1 / n_days) * (s1 / n_days)) * 2.0)
               AS is_anomaly
      FROM daily CROSS JOIN st
      ORDER BY day_num""",
    // BM25 top-k: per-term contributions are summed left-to-right in the
    // exact association Search.bm25TopK emits; dl is an integral double
    // so AVG(dl) is partition-order-exact; ordering uses the UNROUNDED
    // score (cross-engine ties are exactly-equal doubles, broken by
    // doc_id) and only the projected score is rounded.
    // Inverted index: sorted CSV posting lists are engine-portable and
    // hash-exact (no float, no list-type comparison quirks).
    "text_inverted_index" -> """
      WITH t AS (
        SELECT DISTINCT doc_id, term
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM documents)
        WHERE term <> '')
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             array_to_string(list_sort(list(doc_id)), ',') AS postings
      FROM t GROUP BY term HAVING COUNT(*) >= 2
      ORDER BY term""",
    // PageRank: the oracle unrolls the exact 3 power iterations the
    // Spark side runs (same damping, same symmetric edge set, no
    // dangling term because symmetrization gives every node outdeg>=1);
    // ranks are reported x N so the 6dp round is scale-meaningful.
    "graph_pagerank" -> """
      WITH cs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT cust AS src, supp AS dst FROM cs
        UNION ALL
        SELECT supp AS src, cust AS dst FROM cs),
      outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      pr0 AS (SELECT id, 1.0 / n AS pr FROM nodes, nn),
      pr1 AS (
        SELECT nd.id, 0.15 / nn.n + 0.85 * COALESCE(s.c, 0) AS pr
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (SELECT e.dst AS id, SUM(p.pr / od.deg) AS c
                   FROM edges e
                   JOIN outdeg od ON od.src = e.src
                   JOIN pr0 p ON p.id = e.src
                   GROUP BY e.dst) s ON s.id = nd.id),
      pr2 AS (
        SELECT nd.id, 0.15 / nn.n + 0.85 * COALESCE(s.c, 0) AS pr
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (SELECT e.dst AS id, SUM(p.pr / od.deg) AS c
                   FROM edges e
                   JOIN outdeg od ON od.src = e.src
                   JOIN pr1 p ON p.id = e.src
                   GROUP BY e.dst) s ON s.id = nd.id),
      pr3 AS (
        SELECT nd.id, 0.15 / nn.n + 0.85 * COALESCE(s.c, 0) AS pr
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (SELECT e.dst AS id, SUM(p.pr / od.deg) AS c
                   FROM edges e
                   JOIN outdeg od ON od.src = e.src
                   JOIN pr2 p ON p.id = e.src
                   GROUP BY e.dst) s ON s.id = nd.id)
      SELECT id, ROUND(pr * nn.n, 6) AS pr_norm
      FROM pr3 CROSS JOIN nn ORDER BY id""",
    // Triangles: the oracle states the naive 3-way edge self-join over
    // the undirected a<b co-order edge set (u<v<w enumerates each
    // triangle once); Spark's degree-oriented node-iterator must agree.
    "graph_triangles" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
            FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      n AS (SELECT u AS part_id FROM t
            UNION ALL SELECT v FROM t
            UNION ALL SELECT w FROM t)
      SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM n GROUP BY part_id ORDER BY part_id""",
    // X97 cascade delete: the FK chain as IN-subquery delete sets +
    // scalar-subquery audit counts per table.
    "warehouse_cascade_delete" -> """
      WITH delc AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      delo AS (SELECT o_orderkey FROM orders
               WHERE o_custkey IN (SELECT c_custkey FROM delc)),
      dell AS (SELECT l_orderkey FROM lineitem
               WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
      SELECT 'customer' AS table_name,
             (SELECT COUNT(*) FROM delc) AS n_deleted,
             (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM delc)
               AS n_surviving
      UNION ALL
      SELECT 'lineitem',
             (SELECT COUNT(*) FROM dell),
             (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM dell)
      UNION ALL
      SELECT 'orders',
             (SELECT COUNT(*) FROM delo),
             (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM delo)
      ORDER BY table_name""",
    // X88 label propagation: three synchronous rounds unrolled — votes =
    // neighbour labels counted, argmax per node with (count DESC, label)
    // tie-break; l0 is self-labeling. Mirrors Graphs.labelProp exactly.
    "graph_label_prop" -> ("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL
        SELECT b AS u, a AS v FROM e0),
      l0 AS (SELECT DISTINCT u AS id, u AS lab FROM sym),
""" + (1 to 3).map(k => s"""      v$k AS (
        SELECT s.u AS id, l.lab, COUNT(*) AS c
        FROM sym s JOIN l${k - 1} l ON l.id = s.v
        GROUP BY s.u, l.lab
      ),
      l$k AS (
        SELECT id, lab FROM (
          SELECT id, lab,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rk
          FROM v$k) t
        WHERE rk = 1
      )""").mkString(",\n") + """,
      sizes AS (SELECT lab, COUNT(*) AS community_size FROM l3 GROUP BY lab)
      SELECT l.id AS part_id, l.lab AS community, s.community_size
      FROM l3 l JOIN sizes s ON l.lab = s.lab
      ORDER BY part_id"""),
    // X146 modularity: per-community Newman terms over the SAME 3
    // unrolled propagation rounds as graph_label_prop; integers until
    // the two divisions. Global Q = the exact-DECIMAL sum of the
    // 6dp-rounded terms (associative — the PSI unordered-float rule
    // never applies to decimals), same value on every row.
    "graph_modularity" -> ("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL
        SELECT b AS u, a AS v FROM e0),
      l0 AS (SELECT DISTINCT u AS id, u AS lab FROM sym),
""" + (1 to 3).map(k => s"""      v$k AS (
        SELECT s.u AS id, l.lab, COUNT(*) AS c
        FROM sym s JOIN l${k - 1} l ON l.id = s.v
        GROUP BY s.u, l.lab
      ),
      l$k AS (
        SELECT id, lab FROM (
          SELECT id, lab,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rk
          FROM v$k) t
        WHERE rk = 1
      )""").mkString(",\n") + """,
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
      lab2 AS (SELECT e0.a, e0.b, la.lab AS la, lb.lab AS lb
               FROM e0 JOIN l3 la ON la.id = e0.a
                       JOIN l3 lb ON lb.id = e0.b),
      intra AS (SELECT la AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
                FROM lab2 WHERE la = lb GROUP BY la),
      degsum AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS degree_sum
                 FROM (SELECT la AS community FROM lab2
                       UNION ALL SELECT lb AS community FROM lab2) t
                 GROUP BY community),
      nn AS (SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM l3 GROUP BY lab),
      terms AS (
        SELECT nn.community, nn.n_nodes,
               COALESCE(intra.intra_edges, 0) AS intra_edges,
               COALESCE(degsum.degree_sum, 0) AS degree_sum,
               ROUND(CAST(COALESCE(intra.intra_edges, 0) AS DOUBLE) / m.m -
                 power(CAST(COALESCE(degsum.degree_sum, 0) AS DOUBLE) / (2 * m.m),
                   2), 6) AS q_term
        FROM nn LEFT JOIN degsum ON nn.community = degsum.community
                LEFT JOIN intra ON nn.community = intra.community, m),
      qg AS (SELECT CAST(SUM(CAST(q_term AS DECIMAL(18,6))) AS DOUBLE)
               AS q_global FROM terms)
      SELECT terms.community, terms.n_nodes, terms.intra_edges,
             terms.degree_sum, terms.q_term, qg.q_global
      FROM terms, qg
      ORDER BY terms.community"""),
    // X222 conductance: boundary/min(vol, 2m-vol) per community over
    // the SAME 3 unrolled propagation rounds as graph_label_prop.
    "graph_conductance" -> ("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL
        SELECT b AS u, a AS v FROM e0),
      l0 AS (SELECT DISTINCT u AS id, u AS lab FROM sym),
""" + (1 to 3).map(k => s"""      v$k AS (
        SELECT s.u AS id, l.lab, COUNT(*) AS c
        FROM sym s JOIN l${k - 1} l ON l.id = s.v
        GROUP BY s.u, l.lab
      ),
      l$k AS (
        SELECT id, lab FROM (
          SELECT id, lab,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rk
          FROM v$k) t
        WHERE rk = 1
      )""").mkString(",\n") + """,
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
      lab2 AS (SELECT e0.a, e0.b, la.lab AS la, lb.lab AS lb
               FROM e0 JOIN l3 la ON la.id = e0.a
                       JOIN l3 lb ON lb.id = e0.b),
      bound AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS boundary_edges
                FROM (SELECT la AS community FROM lab2 WHERE la <> lb
                      UNION ALL SELECT lb FROM lab2 WHERE la <> lb) t
                GROUP BY community),
      vol AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS volume
              FROM (SELECT la AS community FROM lab2
                    UNION ALL SELECT lb FROM lab2) t
              GROUP BY community),
      nn AS (SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM l3 GROUP BY lab)
      SELECT nn.community, nn.n_nodes,
             COALESCE(vol.volume, 0) AS volume,
             COALESCE(bound.boundary_edges, 0) AS boundary_edges,
             CASE WHEN LEAST(COALESCE(vol.volume, 0),
                             2 * m.m - COALESCE(vol.volume, 0)) > 0
                  THEN ROUND(CAST(COALESCE(bound.boundary_edges, 0) AS DOUBLE) /
                    LEAST(COALESCE(vol.volume, 0),
                          2 * m.m - COALESCE(vol.volume, 0)), 6)
             END AS conductance
      FROM nn LEFT JOIN vol ON nn.community = vol.community
              LEFT JOIN bound ON nn.community = bound.community, m
      ORDER BY nn.community"""),
    // X223 personalized PageRank: 3 unrolled restart-into-seeds rounds
    // (the graph_pagerank shape with the teleport mass on the 5 smallest
    // customer nodes); zero-mass nodes filtered after the 6dp round.
    "graph_ppr" -> ("""
      WITH cs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT cust AS src, supp AS dst FROM cs
        UNION ALL
        SELECT supp AS src, cust AS dst FROM cs),
      outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      seeds AS (SELECT id, CAST(1 AS DOUBLE) / 5 AS s
                FROM (SELECT id FROM nodes WHERE id < 10000000
                      ORDER BY id LIMIT 5) t),
      pr0 AS (SELECT nd.id, COALESCE(sd.s, 0) AS pr
              FROM nodes nd LEFT JOIN seeds sd ON sd.id = nd.id),
""" + (1 to 3).map(k => s"""      pr$k AS (
        SELECT nd.id, 0.15 * COALESCE(sd.s, 0) + 0.85 * COALESCE(c.c, 0) AS pr
        FROM nodes nd
        LEFT JOIN seeds sd ON sd.id = nd.id
        LEFT JOIN (SELECT e.dst AS id, SUM(p.pr / od.deg) AS c
                   FROM edges e
                   JOIN outdeg od ON od.src = e.src
                   JOIN pr${k - 1} p ON p.id = e.src
                   GROUP BY e.dst) c ON c.id = nd.id)""").mkString(",\n") + """
      SELECT id, ROUND(pr, 6) AS ppr
      FROM pr3 WHERE ROUND(pr, 6) > 0 ORDER BY id"""),
    // X163 Adamic-Adar: common neighbors per existing edge via the
    // naive sym-edge wedge join (the engine rides the oriented triangle
    // kernel); 1/ln(deg) terms 6dp-rounded to DECIMAL so the per-edge
    // sum is exact; deg(z) >= 2 for any common neighbor, so ln never
    // sees 1.
    "graph_adamic_adar" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL
        SELECT b AS u, a AS v FROM e0),
      deg AS (SELECT u AS z, CAST(COUNT(*) AS BIGINT) AS deg_z
              FROM sym GROUP BY u),
      cn AS (SELECT e.a, e.b, s1.v AS z
             FROM e0 e JOIN sym s1 ON s1.u = e.a
                       JOIN sym s2 ON s2.u = e.b AND s2.v = s1.v),
      t AS (SELECT cn.a, cn.b,
              CAST(ROUND(1.0 / ln(CAST(d.deg_z AS DOUBLE)), 6)
                AS DECIMAL(18,6)) AS term
            FROM cn JOIN deg d ON d.z = cn.z),
      agg AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
                     CAST(SUM(term) AS DOUBLE) AS aa_score
              FROM t GROUP BY a, b)
      SELECT a, b, n_common, aa_score FROM agg
      ORDER BY aa_score DESC, a, b LIMIT 20""",
    // X94 degree distribution: per-degree node counts + running share
    // windowed over the distinct-degree histogram (value-histogram
    // trick — the window never touches node-sized relations).
    "graph_degree_dist" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      nid AS (SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0),
      dg AS (SELECT id, COUNT(*) AS deg FROM nid GROUP BY id),
      hist AS (SELECT deg, COUNT(*) AS n_nodes FROM dg GROUP BY deg),
      tt AS (SELECT SUM(n_nodes) AS n_total FROM hist)
      SELECT deg, n_nodes,
             CAST(SUM(n_nodes) OVER (ORDER BY deg ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_nodes,
             ROUND(CAST(SUM(n_nodes) OVER (ORDER BY deg ROWS UNBOUNDED PRECEDING)
                        AS DOUBLE) / n_total, 6) AS cum_share
      FROM hist, tt ORDER BY deg""",
    // BFS: the oracle unrolls the 3 frontier expansions explicitly
    // (dedup per level via NOT EXISTS against every earlier level) —
    // the same unrolled-iteration style as graph_pagerank, portable to
    // both engines and free of recursive-CTE path enumeration.
    "graph_bfs_hops" -> """
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      edges AS (SELECT a AS src, b AS dst FROM und
                UNION ALL SELECT b AS src, a AS dst FROM und),
      h0 AS (SELECT DISTINCT src AS id FROM edges ORDER BY id LIMIT 10),
      h1 AS (SELECT DISTINCT e.dst AS id FROM h0 JOIN edges e ON e.src = h0.id
             WHERE NOT EXISTS (SELECT 1 FROM h0 v WHERE v.id = e.dst)),
      h2 AS (SELECT DISTINCT e.dst AS id FROM h1 JOIN edges e ON e.src = h1.id
             WHERE NOT EXISTS (SELECT 1 FROM h0 v WHERE v.id = e.dst)
               AND NOT EXISTS (SELECT 1 FROM h1 v WHERE v.id = e.dst)),
      h3 AS (SELECT DISTINCT e.dst AS id FROM h2 JOIN edges e ON e.src = h2.id
             WHERE NOT EXISTS (SELECT 1 FROM h0 v WHERE v.id = e.dst)
               AND NOT EXISTS (SELECT 1 FROM h1 v WHERE v.id = e.dst)
               AND NOT EXISTS (SELECT 1 FROM h2 v WHERE v.id = e.dst))
      SELECT id, CAST(0 AS BIGINT) AS hop FROM h0
      UNION ALL SELECT id, CAST(1 AS BIGINT) FROM h1
      UNION ALL SELECT id, CAST(2 AS BIGINT) FROM h2
      UNION ALL SELECT id, CAST(3 AS BIGINT) FROM h3
      ORDER BY id""",
    // AS-OF join: the oracle states the naive quadratic spelling (left
    // join on user with c.ts <= p.ts, rank 1 by ts desc then id desc);
    // Spark answers from the union+running-window form.
    // X104 autocorrelation: dense hourly series (gap hours = 0), one
    // shifted self-join per lag, exact-BIGINT Pearson moments.
    "events_autocorr" -> """
      WITH c AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      grid AS (
        SELECT unnest(generate_series((SELECT MIN(h) FROM c),
                                      (SELECT MAX(h) FROM c))) AS h),
      s AS (
        SELECT g.h, COALESCE(c.c, 0) AS c
        FROM grid g LEFT JOIN c ON g.h = c.h),
      lagged AS (
        SELECT CAST(1 AS BIGINT) AS lag, a.c AS x, b.c AS y
        FROM s a JOIN s b ON a.h = b.h + 1
        UNION ALL
        SELECT CAST(24 AS BIGINT) AS lag, a.c AS x, b.c AS y
        FROM s a JOIN s b ON a.h = b.h + 24)
      SELECT lag, COUNT(*) AS n,
             ROUND(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) /
               (sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)) *
                sqrt(CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE))), 6)
               AS pearson_r
      FROM lagged GROUP BY lag ORDER BY lag""",
    // X89 last-touch attribution: the asof running window over the
    // interleaved (us, kind, event_id) order — touches sort before a
    // same-instant purchase; purchases with no prior touch fall to
    // 'none'. DECIMAL-exact revenue sums.
    // X203 Markov removal-effect attribution: journeys truncate at the
    // first purchase; 6dp-DECIMAL transition matrix; four truncated
    // value-iteration rounds with per-product 6dp rounds (exact sums,
    // no trailing float round); five chains advance together.
    "events_markov_attribution" -> ("""
      WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                         event_id, event_type FROM events),
      s0 AS (SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS rn
             FROM ev),
      fp AS (SELECT user_id, MIN(rn) AS prn FROM s0
             WHERE event_type = 'purchase' GROUP BY user_id),
      kept AS (SELECT s0.user_id, s0.rn,
                 CASE WHEN s0.event_type = 'purchase' THEN 'conv'
                      ELSE s0.event_type END AS state
               FROM s0 LEFT JOIN fp ON fp.user_id = s0.user_id
               WHERE fp.prn IS NULL OR s0.rn <= fp.prn),
      tr AS (SELECT COALESCE(LAG(state) OVER (PARTITION BY user_id
                      ORDER BY rn), 'start') AS src, state AS dst
             FROM kept
             UNION ALL
             SELECT state AS src, 'null' AS dst FROM (
               SELECT state, LEAD(state) OVER (PARTITION BY user_id
                        ORDER BY rn) AS nxt FROM kept) x
             WHERE nxt IS NULL AND state <> 'conv'),
      tc AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
             FROM tr GROUP BY src, dst),
      tt AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY src),
      tm AS MATERIALIZED (
        SELECT tc.src, tc.dst,
               CAST(ROUND(CAST(tc.c AS DOUBLE) / tt.n, 6)
                 AS DECIMAL(18,6)) AS p
        FROM tc JOIN tt ON tt.src = tc.src),
      states AS (SELECT DISTINCT src AS state FROM tm),
      chains AS (SELECT unnest(list_value('none', 'click', 'error',
                   'signup', 'view')) AS removed),
      p0 AS (SELECT c.removed, st.state, CAST(0 AS DECIMAL(18,6)) AS pconv,
               CAST(0 AS DECIMAL(18,6)) AS pnull
             FROM chains c CROSS JOIN states st),
      p1 AS MATERIALIZED (
        SELECT g.removed, g.state,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(d.pdir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumc, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pconv,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(nd.ndir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumn, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pnull
        FROM (SELECT c.removed, st.state FROM chains c CROSS JOIN states st) g
        LEFT JOIN (SELECT src AS state, p AS pdir FROM tm
                   WHERE dst = 'conv') d ON d.state = g.state
        LEFT JOIN (SELECT src AS state, p AS ndir FROM tm
                   WHERE dst = 'null') nd ON nd.state = g.state
        LEFT JOIN (SELECT l.removed, t.src AS state,
                     SUM(CAST(ROUND(t.p * l.pconv, 6) AS DECIMAL(18,6)))
                       AS sumc,
                     SUM(CAST(ROUND(t.p * l.pnull, 6) AS DECIMAL(18,6)))
                       AS sumn
                   FROM tm t JOIN p0 l ON l.state = t.dst
                   GROUP BY l.removed, t.src) sc
          ON sc.removed = g.removed AND sc.state = g.state),
      p2 AS MATERIALIZED (
        SELECT g.removed, g.state,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(d.pdir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumc, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pconv,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(nd.ndir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumn, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pnull
        FROM (SELECT c.removed, st.state FROM chains c CROSS JOIN states st) g
        LEFT JOIN (SELECT src AS state, p AS pdir FROM tm
                   WHERE dst = 'conv') d ON d.state = g.state
        LEFT JOIN (SELECT src AS state, p AS ndir FROM tm
                   WHERE dst = 'null') nd ON nd.state = g.state
        LEFT JOIN (SELECT l.removed, t.src AS state,
                     SUM(CAST(ROUND(t.p * l.pconv, 6) AS DECIMAL(18,6)))
                       AS sumc,
                     SUM(CAST(ROUND(t.p * l.pnull, 6) AS DECIMAL(18,6)))
                       AS sumn
                   FROM tm t JOIN p1 l ON l.state = t.dst
                   GROUP BY l.removed, t.src) sc
          ON sc.removed = g.removed AND sc.state = g.state),
      p3 AS MATERIALIZED (
        SELECT g.removed, g.state,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(d.pdir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumc, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pconv,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(nd.ndir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumn, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pnull
        FROM (SELECT c.removed, st.state FROM chains c CROSS JOIN states st) g
        LEFT JOIN (SELECT src AS state, p AS pdir FROM tm
                   WHERE dst = 'conv') d ON d.state = g.state
        LEFT JOIN (SELECT src AS state, p AS ndir FROM tm
                   WHERE dst = 'null') nd ON nd.state = g.state
        LEFT JOIN (SELECT l.removed, t.src AS state,
                     SUM(CAST(ROUND(t.p * l.pconv, 6) AS DECIMAL(18,6)))
                       AS sumc,
                     SUM(CAST(ROUND(t.p * l.pnull, 6) AS DECIMAL(18,6)))
                       AS sumn
                   FROM tm t JOIN p2 l ON l.state = t.dst
                   GROUP BY l.removed, t.src) sc
          ON sc.removed = g.removed AND sc.state = g.state),
      p4 AS MATERIALIZED (
        SELECT g.removed, g.state,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(d.pdir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumc, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pconv,
               CASE WHEN g.state = g.removed THEN CAST(0 AS DECIMAL(18,6))
                    ELSE CAST(COALESCE(nd.ndir, CAST(0 AS DECIMAL(18,6))) +
                      COALESCE(sc.sumn, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) END AS pnull
        FROM (SELECT c.removed, st.state FROM chains c CROSS JOIN states st) g
        LEFT JOIN (SELECT src AS state, p AS pdir FROM tm
                   WHERE dst = 'conv') d ON d.state = g.state
        LEFT JOIN (SELECT src AS state, p AS ndir FROM tm
                   WHERE dst = 'null') nd ON nd.state = g.state
        LEFT JOIN (SELECT l.removed, t.src AS state,
                     SUM(CAST(ROUND(t.p * l.pconv, 6) AS DECIMAL(18,6)))
                       AS sumc,
                     SUM(CAST(ROUND(t.p * l.pnull, 6) AS DECIMAL(18,6)))
                       AS sumn
                   FROM tm t JOIN p3 l ON l.state = t.dst
                   GROUP BY l.removed, t.src) sc
          ON sc.removed = g.removed AND sc.state = g.state),
      fin AS (SELECT removed, pconv, pnull FROM p4 WHERE state = 'start'),
      base AS (SELECT pconv AS p_base, pnull AS pn_base
               FROM fin WHERE removed = 'none'),
      eff AS (SELECT f.removed AS channel, b.p_base, b.pn_base,
                f.pconv AS p_removed, f.pnull AS pn_removed,
                CAST(b.p_base - f.pconv AS DECIMAL(18,6)) AS removal_effect
              FROM fin f CROSS JOIN base b WHERE f.removed <> 'none'),
      tot AS (SELECT SUM(removal_effect) AS tot_eff FROM eff)
      SELECT channel, CAST(p_base AS DOUBLE) AS p_base,
             CAST(p_removed AS DOUBLE) AS p_removed,
             CAST(removal_effect AS DOUBLE) AS removal_effect,
             ROUND(CAST(removal_effect AS DOUBLE) /
               CAST(tot_eff AS DOUBLE), 6) AS attribution,
             CAST(CAST(1 AS DECIMAL(18,6)) - p_base - pn_base AS DOUBLE)
               AS unresolved_base,
             CAST(CAST(1 AS DECIMAL(18,6)) - p_removed - pn_removed
               AS DOUBLE) AS unresolved_removed
      FROM eff CROSS JOIN tot ORDER BY channel"""),
    "events_attribution" -> s"""
      WITH e AS (
        SELECT event_id, user_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
        FROM events),
      t AS (
        SELECT *, LAST_VALUE(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY us, kind, event_id
                        ROWS UNBOUNDED PRECEDING) AS last_touch
        FROM e)
      SELECT COALESCE(last_touch, 'none') AS channel,
             COUNT(*) AS n_purchases,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS attributed_value
      FROM t WHERE kind = 1
      GROUP BY COALESCE(last_touch, 'none') ORDER BY channel""",
    // X93 top session paths: the events_sessions islands, first 3
    // events per session string_agg'd in the (us, event_id) total
    // order, top-20 by (count DESC, path).
    "events_top_paths" -> """
      WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000
                         OR LAG(us) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sess AS (
        SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS session_id
        FROM flagged),
      rn3 AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                     ORDER BY us, event_id) AS rn
        FROM sess),
      paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY us, event_id) AS path
        FROM rn3 WHERE rn <= 3 GROUP BY user_id, session_id)
      SELECT path, COUNT(*) AS n_sessions
      FROM paths GROUP BY path
      ORDER BY n_sessions DESC, path LIMIT 20""",
    "events_asof_join" -> """
      WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
            FROM events WHERE event_type = 'purchase'),
      j AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
                   c.event_id AS click_id, c.ts AS c_ts
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id AND c.ts <= p.ts),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
              ORDER BY c_ts DESC NULLS LAST, click_id DESC NULLS LAST) AS rn
            FROM j)
      SELECT purchase_id, user_id, click_id,
             epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
      FROM r WHERE rn = 1 ORDER BY purchase_id""",
    // X212 forward as-of: first click STRICTLY AFTER each purchase
    // (ties at equal ts excluded; winner = smallest (ts, id)).
    "events_asof_forward" -> """
      WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
            FROM events WHERE event_type = 'purchase'),
      j AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
                   c.event_id AS click_id, c.ts AS c_ts
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id AND c.ts > p.ts),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
              ORDER BY c_ts ASC NULLS LAST, click_id ASC NULLS LAST) AS rn
            FROM j)
      SELECT purchase_id, user_id, click_id,
             epoch_us(c_ts) - epoch_us(p_ts) AS gap_us
      FROM r WHERE rn = 1 ORDER BY purchase_id""",
    // Markov transition matrix: LEAD over the same (ts, event_id)
    // per-user total order the lag/gap entry pins; probabilities divide
    // exactly-represented BIGINTs as doubles.
    "events_transition_matrix" -> """
      WITH s AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        FROM events),
      g AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
            WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      SELECT from_type, to_type, n,
             CAST(n AS DOUBLE) /
               CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM g ORDER BY from_type, to_type""",
    // Fuzzy join: the oracle is the naive quadratic cross join +
    // levenshtein; agreement proves the deletion-neighborhood blocking
    // is lossless for distance <= 1.
    "text_fuzzy_join" -> """
      WITH n AS (SELECT DISTINCT c_name AS name FROM customer)
      SELECT x.name AS name_a, y.name AS name_b
      FROM n x JOIN n y ON x.name < y.name
      WHERE levenshtein(x.name, y.name) <= 1
      ORDER BY name_a, name_b""",
    // Market basket: identical pair/item/total arithmetic; every ratio
    // divides exactly-represented BIGINTs as doubles, so the 50-row cut
    // (fully tie-broken) hash-compares.
    "analytics_market_basket" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      no AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
      ic AS (SELECT pk, COUNT(*) AS cnt FROM li GROUP BY pk),
      pr AS (SELECT x.pk AS part_a, y.pk AS part_b, COUNT(*) AS pair_cnt
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
             GROUP BY x.pk, y.pk)
      SELECT part_a, part_b, pair_cnt, a.cnt AS cnt_a, b.cnt AS cnt_b,
             CAST(pair_cnt AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
             CAST(pair_cnt AS DOUBLE) / CAST(a.cnt AS DOUBLE) AS confidence,
             CAST(pair_cnt * n_orders AS DOUBLE) /
               CAST(a.cnt * b.cnt AS DOUBLE) AS lift
      FROM pr JOIN ic a ON a.pk = part_a
              JOIN ic b ON b.pk = part_b
              CROSS JOIN no
      ORDER BY pair_cnt DESC, part_a, part_b LIMIT 50""",
    // KMV rollup: the oracle states the DIRECT per-month sketch for BOTH
    // column pairs — the rolled-up pair matching it IS the mergeability
    // law under test. Estimator identical to agg_kmv_distinct.
    // X105 HLL: registers are integer-exact (hex hash + bin()-length
    // rank); the harmonic sum is 256 exact powers of two (order-free);
    // IEEE enters only in the final division / ln, mirrored textually.
    "agg_hll_distinct" -> """
      WITH cells AS (
        SELECT event_type,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events),
      bw AS (SELECT event_type, h % 256 AS b, h // 256 AS w FROM cells),
      rho AS (
        SELECT event_type, b,
               MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS rho
        FROM bw GROUP BY event_type, b),
      grid AS (
        SELECT t.event_type, g.b
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(generate_series(0, 255)) AS b) g),
      regs AS (
        SELECT grid.event_type, grid.b, COALESCE(rho.rho, 0) AS rho
        FROM grid LEFT JOIN rho ON grid.event_type = rho.event_type
                               AND grid.b = rho.b),
      agg AS (
        SELECT event_type, SUM(power(2.0, -rho)) AS s,
               SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v
        FROM regs GROUP BY event_type),
      est AS (
        SELECT event_type,
               ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s <= 640.0
                          AND v > 0
                     THEN 256.0 * ln(256.0 / v)
                     ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s END, 6)
                 AS hll_est
        FROM agg),
      ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
             FROM events GROUP BY event_type)
      SELECT est.event_type, ex.exact_users, est.hll_est,
             ROUND(abs(est.hll_est / ex.exact_users - 1.0) * 100, 4) AS err_pct
      FROM est JOIN ex ON est.event_type = ex.event_type
      ORDER BY est.event_type""",
    // X106: the mergeability law in the output — `all_direct` registers
    // the ungrouped stream, `all_merged` max-folds the per-type sketches.
    "agg_hll_rollup" -> """
      WITH cells AS (
        SELECT event_type,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events),
      rc AS (
        SELECT event_type, h % 256 AS b,
               CASE WHEN h // 256 = 0 THEN 25
                    ELSE 25 - length(bin(h // 256)) END AS rho
        FROM cells),
      perq AS (SELECT event_type AS scope, b, MAX(rho) AS rho
               FROM rc GROUP BY event_type, b),
      direct AS (SELECT 'all_direct' AS scope, b, MAX(rho) AS rho
                 FROM rc GROUP BY b),
      merged AS (SELECT 'all_merged' AS scope, b, MAX(rho) AS rho
                 FROM perq GROUP BY b),
      regs0 AS (SELECT * FROM perq UNION ALL SELECT * FROM direct
                UNION ALL SELECT * FROM merged),
      grid AS (
        SELECT s.scope, g.b
        FROM (SELECT DISTINCT scope FROM regs0) s,
             (SELECT unnest(generate_series(0, 255)) AS b) g),
      regs AS (
        SELECT grid.scope, grid.b, COALESCE(regs0.rho, 0) AS rho
        FROM grid LEFT JOIN regs0 ON grid.scope = regs0.scope
                                 AND grid.b = regs0.b),
      agg AS (
        SELECT scope, SUM(power(2.0, -rho)) AS s,
               SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v
        FROM regs GROUP BY scope)
      SELECT scope,
             ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s <= 640.0
                        AND v > 0
                   THEN 256.0 * ln(256.0 / v)
                   ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s END, 6)
               AS hll_est
      FROM agg ORDER BY scope""",
    // X107: span decontamination — contaminated 8-gram windows cut by
    // position-set union, survivors rejoined in order.
    "text_decontaminate_spans" -> DECON_SPANS,
    // X195 contamination report: the X107 relation embedded verbatim,
    // rolled up per source with exact counts and two final divisions.
    "curation_contamination_report" -> ("""
      WITH spans AS (""" + DECON_SPANS + """),
      cand AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents WHERE doc_id % 7 <> 0),
      j AS (SELECT c.source, c.n_tokens, sp.n_removed
            FROM cand c LEFT JOIN spans sp ON sp.doc_id = c.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(n_removed) AS BIGINT) AS n_contaminated,
             CAST(SUM(COALESCE(n_removed, 0)) AS BIGINT) AS tokens_removed,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
             ROUND(CAST(COUNT(n_removed) AS DOUBLE) / COUNT(*), 6)
               AS doc_rate,
             ROUND(CAST(SUM(COALESCE(n_removed, 0)) AS DOUBLE) /
               SUM(n_tokens), 6) AS token_loss_share
      FROM j GROUP BY source ORDER BY source"""),
    // X108: SQ8 — the float->code map is one fixed IEEE expression
    // (identical operand order on both engines); scoring is BIGINT.
    // X201 binary quantization: 64 sign bits packed as two 32-bit
    // halves (1<<63 is a DuckDB error; halves keep shifts <= 2^31),
    // XOR+popcount Hamming, exact-cosine rerank column.
    "embed_binary_quant" -> """
      WITH b AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END + CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END + CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END + CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END + CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END + CASE WHEN embedding[9] >= 0 THEN 256 ELSE 0 END + CASE WHEN embedding[10] >= 0 THEN 512 ELSE 0 END + CASE WHEN embedding[11] >= 0 THEN 1024 ELSE 0 END + CASE WHEN embedding[12] >= 0 THEN 2048 ELSE 0 END + CASE WHEN embedding[13] >= 0 THEN 4096 ELSE 0 END + CASE WHEN embedding[14] >= 0 THEN 8192 ELSE 0 END + CASE WHEN embedding[15] >= 0 THEN 16384 ELSE 0 END + CASE WHEN embedding[16] >= 0 THEN 32768 ELSE 0 END + CASE WHEN embedding[17] >= 0 THEN 65536 ELSE 0 END + CASE WHEN embedding[18] >= 0 THEN 131072 ELSE 0 END + CASE WHEN embedding[19] >= 0 THEN 262144 ELSE 0 END + CASE WHEN embedding[20] >= 0 THEN 524288 ELSE 0 END + CASE WHEN embedding[21] >= 0 THEN 1048576 ELSE 0 END + CASE WHEN embedding[22] >= 0 THEN 2097152 ELSE 0 END + CASE WHEN embedding[23] >= 0 THEN 4194304 ELSE 0 END + CASE WHEN embedding[24] >= 0 THEN 8388608 ELSE 0 END + CASE WHEN embedding[25] >= 0 THEN 16777216 ELSE 0 END + CASE WHEN embedding[26] >= 0 THEN 33554432 ELSE 0 END + CASE WHEN embedding[27] >= 0 THEN 67108864 ELSE 0 END + CASE WHEN embedding[28] >= 0 THEN 134217728 ELSE 0 END + CASE WHEN embedding[29] >= 0 THEN 268435456 ELSE 0 END + CASE WHEN embedding[30] >= 0 THEN 536870912 ELSE 0 END + CASE WHEN embedding[31] >= 0 THEN 1073741824 ELSE 0 END + CASE WHEN embedding[32] >= 0 THEN 2147483648 ELSE 0 END) AS wlo,
               (CASE WHEN embedding[33] >= 0 THEN 1 ELSE 0 END + CASE WHEN embedding[34] >= 0 THEN 2 ELSE 0 END + CASE WHEN embedding[35] >= 0 THEN 4 ELSE 0 END + CASE WHEN embedding[36] >= 0 THEN 8 ELSE 0 END + CASE WHEN embedding[37] >= 0 THEN 16 ELSE 0 END + CASE WHEN embedding[38] >= 0 THEN 32 ELSE 0 END + CASE WHEN embedding[39] >= 0 THEN 64 ELSE 0 END + CASE WHEN embedding[40] >= 0 THEN 128 ELSE 0 END + CASE WHEN embedding[41] >= 0 THEN 256 ELSE 0 END + CASE WHEN embedding[42] >= 0 THEN 512 ELSE 0 END + CASE WHEN embedding[43] >= 0 THEN 1024 ELSE 0 END + CASE WHEN embedding[44] >= 0 THEN 2048 ELSE 0 END + CASE WHEN embedding[45] >= 0 THEN 4096 ELSE 0 END + CASE WHEN embedding[46] >= 0 THEN 8192 ELSE 0 END + CASE WHEN embedding[47] >= 0 THEN 16384 ELSE 0 END + CASE WHEN embedding[48] >= 0 THEN 32768 ELSE 0 END + CASE WHEN embedding[49] >= 0 THEN 65536 ELSE 0 END + CASE WHEN embedding[50] >= 0 THEN 131072 ELSE 0 END + CASE WHEN embedding[51] >= 0 THEN 262144 ELSE 0 END + CASE WHEN embedding[52] >= 0 THEN 524288 ELSE 0 END + CASE WHEN embedding[53] >= 0 THEN 1048576 ELSE 0 END + CASE WHEN embedding[54] >= 0 THEN 2097152 ELSE 0 END + CASE WHEN embedding[55] >= 0 THEN 4194304 ELSE 0 END + CASE WHEN embedding[56] >= 0 THEN 8388608 ELSE 0 END + CASE WHEN embedding[57] >= 0 THEN 16777216 ELSE 0 END + CASE WHEN embedding[58] >= 0 THEN 33554432 ELSE 0 END + CASE WHEN embedding[59] >= 0 THEN 67108864 ELSE 0 END + CASE WHEN embedding[60] >= 0 THEN 134217728 ELSE 0 END + CASE WHEN embedding[61] >= 0 THEN 268435456 ELSE 0 END + CASE WHEN embedding[62] >= 0 THEN 536870912 ELSE 0 END + CASE WHEN embedding[63] >= 0 THEN 1073741824 ELSE 0 END + CASE WHEN embedding[64] >= 0 THEN 2147483648 ELSE 0 END) AS whi
        FROM embeddings),
      q AS (SELECT wlo AS qlo, whi AS qhi, embedding::DOUBLE[] AS qv
            FROM b WHERE vec_id = 0)
      SELECT vec_id,
             CAST(bit_count(xor(wlo, qlo)) + bit_count(xor(whi, qhi))
               AS BIGINT) AS hamming,
             ROUND(list_dot_product(embedding::DOUBLE[], qv) /
               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
      FROM b, q WHERE vec_id <> 0
      ORDER BY hamming, vec_id LIMIT 10""",
    "embed_scalar_quant" -> """
      WITH cells AS (
        SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
               embedding
        FROM embeddings),
      c2 AS (SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS v FROM cells),
      stats AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM c2 GROUP BY dim),
      codes AS (
        SELECT vec_id, c2.dim,
               CAST(CASE WHEN mx > mn
                    THEN least(floor((v - mn) * 255.0 / (mx - mn)), 255.0)
                    ELSE 0.0 END AS BIGINT) AS code
        FROM c2 JOIN stats ON c2.dim = stats.dim),
      q AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0)
      SELECT c.vec_id, CAST(SUM(c.code * q.qcode) AS BIGINT) AS qdot
      FROM codes c JOIN q ON c.dim = q.dim
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id
      ORDER BY qdot DESC, vec_id LIMIT 10""",
    // X109 HITS: unnormalized bipartite rounds stay exact integers
    // (DECIMAL(38,0) sums); IEEE only in the final max-normalization.
    "graph_hits" -> """
      WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      a1 AS (SELECT part, CAST(COUNT(*) AS DECIMAL(38,0)) AS a
             FROM edges GROUP BY part),
      h1 AS (SELECT e.cust, SUM(a1.a) AS h
             FROM edges e JOIN a1 ON e.part = a1.part GROUP BY e.cust),
      a2 AS (SELECT e.part, SUM(h1.h) AS a
             FROM edges e JOIN h1 ON e.cust = h1.cust GROUP BY e.part),
      h2 AS (SELECT e.cust, SUM(a2.a) AS h
             FROM edges e JOIN a2 ON e.part = a2.part GROUP BY e.cust),
      ta AS (
        SELECT 'authority' AS role, part AS node_id, CAST(a AS BIGINT) AS score,
               ROUND(CAST(a AS DOUBLE) /
                     CAST((SELECT MAX(a) FROM a2) AS DOUBLE), 6) AS score_norm
        FROM a2 ORDER BY score DESC, node_id LIMIT 20),
      th AS (
        SELECT 'hub' AS role, cust AS node_id, CAST(h AS BIGINT) AS score,
               ROUND(CAST(h AS DOUBLE) /
                     CAST((SELECT MAX(h) FROM h2) AS DOUBLE), 6) AS score_norm
        FROM h2 ORDER BY score DESC, node_id LIMIT 20)
      SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th) u
      ORDER BY role, score DESC, node_id""",
    // X110 CEP with negation: two FOLLOWING-frame minima decide the
    // match — window spec mirrored exactly, so tie semantics align.
    "events_cep_pattern" -> """
      WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      wv AS (
        SELECT *,
          MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
            (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS p_us,
          MIN(CASE WHEN event_type = 'error' THEN us END) OVER
            (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS e_us
        FROM ev),
      v AS (
        SELECT user_id, event_id AS view_id, us AS view_us, p_us
        FROM wv
        WHERE event_type = 'view' AND p_us IS NOT NULL
          AND p_us - us <= 3600000000
          AND (e_us IS NULL OR e_us >= p_us)),
      p AS (
        SELECT user_id, us AS p_us, MIN(event_id) AS purchase_id
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id, us)
      SELECT v.view_id, p.purchase_id, v.user_id,
             v.p_us - v.view_us AS gap_us
      FROM v JOIN p ON v.user_id = p.user_id AND v.p_us = p.p_us
      ORDER BY view_id""",
    // X122: edge Jaccard — naive per-edge common-neighbor count (the
    // engine attributes triangles instead; identical values)
    "graph_edge_jaccard" -> """
      WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (SELECT x.pk AS a, y.pk AS b
            FROM l x JOIN l y ON x.ok = y.ok AND x.pk < y.pk
            GROUP BY x.pk, y.pk),
      sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
      deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
      com AS (SELECT e.a, e.b, COUNT(*) AS cn
              FROM e JOIN sym sa ON sa.u = e.a
                     JOIN sym sb ON sb.u = e.b AND sb.v = sa.v
              GROUP BY e.a, e.b)
      SELECT e.a, e.b, da.deg AS deg_a, db.deg AS deg_b,
             CAST(COALESCE(com.cn, 0) AS BIGINT) AS common,
             ROUND(CAST(COALESCE(com.cn, 0) AS DOUBLE) /
                   (da.deg + db.deg - COALESCE(com.cn, 0) - 2), 6) AS jaccard
      FROM e JOIN deg da ON da.u = e.a
             JOIN deg db ON db.u = e.b
             LEFT JOIN com ON com.a = e.a AND com.b = e.b
      WHERE da.deg + db.deg - COALESCE(com.cn, 0) - 2 > 0
      ORDER BY jaccard DESC, e.a, e.b LIMIT 20""",
    // X123: containment — quadratic shared-shingle oracle (the engine
    // prefix-filters; losslessness is property-tested)
    "dedup_containment_pairs" -> """
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
             FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
                   FROM words WHERE len(w) >= 3) t),
      n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cn
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
              GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b, na.n AS na, nb.n AS nb,
             ROUND(CAST(cn AS DOUBLE) / na.n, 6) AS containment
      FROM com JOIN n na ON na.doc_id = doc_a
               JOIN n nb ON nb.doc_id = doc_b
      WHERE CAST(cn AS DOUBLE) / na.n >= 0.5
      ORDER BY doc_a, doc_b""",
    // X124: cohort LTV — DECIMAL(18,2) before any sum; the running
    // total is a cohort-partitioned DECIMAL window sum
    "events_cohort_ltv" -> """
      WITH ev AS (SELECT user_id, event_type,
                         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 // 7 AS wk,
                         "value" AS v
                  FROM events),
      c AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id),
      cs AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM c GROUP BY cohort_week),
      cells AS (SELECT c.cohort_week, ev.wk - c.cohort_week AS week_offset,
                       COUNT(DISTINCT ev.user_id) AS active_users,
                       SUM(CAST(ev.v AS DECIMAL(18,2))) AS revenue
                FROM ev JOIN c ON ev.user_id = c.user_id
                WHERE ev.event_type = 'purchase'
                GROUP BY c.cohort_week, ev.wk - c.cohort_week),
      cum AS (SELECT cohort_week, week_offset, active_users, revenue,
                     SUM(revenue) OVER (PARTITION BY cohort_week
                       ORDER BY week_offset) AS cum_revenue
              FROM cells)
      SELECT cum.cohort_week, week_offset, cs.cohort_size, active_users,
             CAST(revenue AS DOUBLE) AS revenue,
             CAST(cum_revenue AS DOUBLE) AS cum_revenue,
             ROUND(CAST(cum_revenue AS DOUBLE) / cs.cohort_size, 6) AS ltv_per_user
      FROM cum JOIN cs ON cum.cohort_week = cs.cohort_week
      ORDER BY cum.cohort_week, week_offset""",
    // X121: BPE apply — merges mined like X52, applied in rank order as
    // boundary-safe literal replaces over <c>-wrapped words
    "text_bpe_encode" -> """
      WITH raw AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents),
      wc AS (
        SELECT w, COUNT(*) AS wc FROM raw WHERE length(w) >= 2 GROUP BY w),
      pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
        FROM (SELECT w, wc, unnest(generate_series(1, length(w) - 1)) AS i
              FROM wc) t),
      topm AS (SELECT pair, SUM(wc) AS freq FROM pairs GROUP BY pair
               ORDER BY freq DESC, pair LIMIT 5),
      rk AS (SELECT pair,
                    ROW_NUMBER() OVER (ORDER BY freq DESC, pair) AS rk
             FROM topm),
      mrow AS (SELECT
        MAX(CASE WHEN rk = 1 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s1,
        MAX(CASE WHEN rk = 1 THEN '<' || pair || '>' END) AS r1,
        MAX(CASE WHEN rk = 2 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s2,
        MAX(CASE WHEN rk = 2 THEN '<' || pair || '>' END) AS r2,
        MAX(CASE WHEN rk = 3 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s3,
        MAX(CASE WHEN rk = 3 THEN '<' || pair || '>' END) AS r3,
        MAX(CASE WHEN rk = 4 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s4,
        MAX(CASE WHEN rk = 4 THEN '<' || pair || '>' END) AS r4,
        MAX(CASE WHEN rk = 5 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s5,
        MAX(CASE WHEN rk = 5 THEN '<' || pair || '>' END) AS r5
       FROM rk),
      words AS (
        SELECT doc_id, i - 1 AS pos, w[i] AS word
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                       t -> t <> '') AS w
                    FROM documents) d) t),
      enc AS (
        SELECT doc_id, pos, word,
               replace(replace(replace(replace(replace(
                 regexp_replace(word, '(.)', '<\1>', 'g'),
                 s1, r1), s2, r2), s3, r3), s4, r4), s5, r5) AS e
        FROM words, mrow)
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(SUM(length(word)) AS BIGINT) AS n_base_tokens,
             CAST(SUM(length(e) - length(replace(e, '<', ''))) AS BIGINT)
               AS n_bpe_tokens,
             CAST(SUM(length(word)) - SUM(length(e) - length(replace(e, '<', ''))) AS BIGINT)
               AS n_merged,
             string_agg(e, ' ' ORDER BY pos) AS encoded
      FROM enc GROUP BY doc_id ORDER BY doc_id""",
    // X112: one unpivot pass; stats are counts only, so the per-engine
    // VARCHAR rendering of numerics never reaches the output (CAST is
    // injective — distinct-of-string == distinct-of-value)
    "dq_null_profile" -> """
      WITH cells AS (
        SELECT 'documents' AS tbl, 'doc_id' AS col, CAST(doc_id AS VARCHAR) AS v FROM documents
        UNION ALL SELECT 'documents', 'text', text FROM documents
        UNION ALL SELECT 'documents', 'lang', lang FROM documents
        UNION ALL SELECT 'documents', 'source', source FROM documents
        UNION ALL SELECT 'documents', 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        UNION ALL SELECT 'events', 'event_id', CAST(event_id AS VARCHAR) FROM events
        UNION ALL SELECT 'events', 'ts', CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR) FROM events
        UNION ALL SELECT 'events', 'user_id', CAST(user_id AS VARCHAR) FROM events
        UNION ALL SELECT 'events', 'event_type', event_type FROM events
        UNION ALL SELECT 'events', 'value', CAST("value" AS VARCHAR) FROM events
        UNION ALL SELECT 'events', 'props', props FROM events),
      base AS (
        SELECT tbl, col, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(SUM(CASE WHEN v IS NOT NULL AND trim(v) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
        FROM cells GROUP BY tbl, col),
      dc AS (
        SELECT tbl, col, COUNT(*) AS n_distinct
        FROM (SELECT DISTINCT tbl, col, v FROM cells WHERE v IS NOT NULL) d
        GROUP BY tbl, col)
      SELECT b.tbl, b.col, b.n_rows, b.n_null, b.n_blank,
             COALESCE(dc.n_distinct, 0) AS n_distinct,
             ROUND(CAST(b.n_null AS DOUBLE) / b.n_rows, 6) AS null_rate
      FROM base b LEFT JOIN dc ON b.tbl = dc.tbl AND b.col = dc.col
      ORDER BY b.tbl, b.col""",
    // X113: survivorship — modal rules stated as (cnt DESC, value) rank
    "warehouse_golden_record" -> """
      WITH d AS (SELECT doc_id,
                        md5(array_to_string(w[1:5], ' ')) AS cluster,
                        lang, source, n_chars
                 FROM (SELECT doc_id, string_split(text, ' ') AS w,
                              lang, source, n_chars
                       FROM documents) t0),
      cl AS (SELECT cluster, COUNT(*) AS n_members, MIN(doc_id) AS golden_doc_id,
                    MAX(n_chars) AS n_chars
             FROM d GROUP BY cluster HAVING COUNT(*) >= 2),
      lm AS (SELECT cluster, lang FROM (
               SELECT cluster, lang, ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY cnt DESC, lang) AS rn
               FROM (SELECT cluster, lang, COUNT(*) AS cnt
                     FROM d GROUP BY cluster, lang) t) r
             WHERE rn = 1),
      sm AS (SELECT cluster, source FROM (
               SELECT cluster, source, ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY cnt DESC, source) AS rn
               FROM (SELECT cluster, source, COUNT(*) AS cnt
                     FROM d GROUP BY cluster, source) t) r
             WHERE rn = 1)
      SELECT cl.cluster, cl.n_members, cl.golden_doc_id, lm.lang, sm.source, cl.n_chars
      FROM cl JOIN lm ON cl.cluster = lm.cluster
              JOIN sm ON cl.cluster = sm.cluster
      ORDER BY cl.cluster""",
    // X114: decay weights are BIGINT shifts (2^(40-age)) — no float pow
    "events_decayed_topk" -> """
      WITH days AS (
        SELECT event_type, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num
        FROM events),
      ref AS (SELECT MAX(day_num) AS ref_day FROM days),
      sc AS (
        SELECT event_type, user_id,
               CAST(SUM(CAST(1 AS BIGINT) << CAST(40 - (ref_day - day_num) AS INT)) AS BIGINT) AS scaled
        FROM days, ref WHERE ref_day - day_num <= 40
        GROUP BY event_type, user_id),
      rk AS (SELECT event_type, user_id, scaled,
                    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                      ORDER BY scaled DESC, user_id) AS INT) AS rank
             FROM sc)
      SELECT event_type, rank, user_id,
             ROUND(CAST(scaled AS DOUBLE) / 1099511627776.0, 6) AS decayed_score
      FROM rk WHERE rank <= 5
      ORDER BY event_type, rank""",
    // X115: naive unrolled Bellman-Ford (the frontier form computes the
    // same dist_r); integer trade-distance weights, BIGINT path sums
    "graph_sssp" -> """
      WITH tr AS (
        SELECT o_custkey AS cust, l_suppkey + 10000000 AS supp, COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_suppkey),
      e AS (SELECT cust AS src, supp AS dst, 8 - LEAST(n, 7) AS w FROM tr
            UNION ALL
            SELECT supp AS src, cust AS dst, 8 - LEAST(n, 7) AS w FROM tr),
      d0 AS (SELECT MIN(src) AS node, CAST(0 AS BIGINT) AS dist FROM e),
      d1 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d0
               UNION ALL
               SELECT e.dst AS node, d0.dist + e.w AS dist
               FROM d0 JOIN e ON e.src = d0.node) u GROUP BY node),
      d2 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d1
               UNION ALL
               SELECT e.dst AS node, d1.dist + e.w AS dist
               FROM d1 JOIN e ON e.src = d1.node) u GROUP BY node),
      d3 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d2
               UNION ALL
               SELECT e.dst AS node, d2.dist + e.w AS dist
               FROM d2 JOIN e ON e.src = d2.node) u GROUP BY node),
      d4 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d3
               UNION ALL
               SELECT e.dst AS node, d3.dist + e.w AS dist
               FROM d3 JOIN e ON e.src = d3.node) u GROUP BY node)
      SELECT node, dist FROM d4 ORDER BY node""",
    // X116: ExactSubstr — per-gram canonical owner is MIN(doc_id); a doc
    // is cut at a position only when a strictly smaller doc_id shares
    // the 8-gram
    "dedup_substring_spans" -> """
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      grams AS (
        SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS sh
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i
              FROM words WHERE len(w) >= 8) t),
      own AS (SELECT sh, MIN(doc_id) AS first_doc FROM grams GROUP BY sh),
      covered AS (
        SELECT DISTINCT doc_id, pos
        FROM (SELECT g.doc_id, unnest(generate_series(g.i, g.i + 7)) AS pos
              FROM grams g JOIN own ON g.sh = own.sh
              WHERE g.doc_id > own.first_doc) c),
      pos2 AS (
        SELECT doc_id, pos, w[pos] AS word
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
              FROM words) p),
      cdocs AS (SELECT doc_id, COUNT(*) AS n_removed
                FROM covered GROUP BY doc_id),
      kept AS (
        SELECT p.doc_id, COUNT(*) AS n_kept,
               string_agg(p.word, ' ' ORDER BY p.pos) AS cleaned_text
        FROM pos2 p
        LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.pos
        WHERE c.pos IS NULL AND p.doc_id IN (SELECT doc_id FROM cdocs)
        GROUP BY p.doc_id)
      SELECT d.doc_id, d.n_removed,
             COALESCE(k.n_kept, 0) AS n_kept,
             COALESCE(k.cleaned_text, '') AS cleaned_text
      FROM cdocs d LEFT JOIN kept k ON d.doc_id = k.doc_id
      ORDER BY d.doc_id""",
    // X117: PQ/ADC — md5-seeded codebooks; L2 stated as the fixed
    // expression s.s - 2 s.c + c.c; ADC re-adds cells in subspace order
    "embed_ann_pq" -> """
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      seeds AS (
        SELECT v, CAST(ROW_NUMBER() OVER (
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS code
        FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      ms AS (SELECT unnest(generate_series(0, 3)) AS m),
      books AS (SELECT m, code, list_slice(v, m*16+1, m*16+16) AS c
                FROM seeds, ms),
      subs AS (SELECT vec_id, m, list_slice(v, m*16+1, m*16+16) AS s
               FROM emb, ms),
      dist AS (
        SELECT vec_id, subs.m, code,
               list_dot_product(s, s) - 2.0 * list_dot_product(s, c) +
                 list_dot_product(c, c) AS d
        FROM subs JOIN books ON subs.m = books.m),
      assigned AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY vec_id, m
            ORDER BY d, code) AS rn
          FROM dist) r WHERE rn = 1),
      q AS (SELECT m, s AS qs FROM subs WHERE vec_id = 0),
      tbl AS (SELECT books.m, code, list_dot_product(qs, c) AS t
              FROM books JOIN q ON books.m = q.m)
      SELECT vec_id,
             ROUND(SUM(CASE WHEN a.m = 0 THEN t END) +
                   SUM(CASE WHEN a.m = 1 THEN t END) +
                   SUM(CASE WHEN a.m = 2 THEN t END) +
                   SUM(CASE WHEN a.m = 3 THEN t END), 6) AS adc_score
      FROM assigned a JOIN tbl ON a.m = tbl.m AND a.code = tbl.code
      WHERE vec_id <> 0 GROUP BY vec_id
      ORDER BY adc_score DESC, vec_id LIMIT 10""",
    // X118: prefix-dim retrieval audit; the bound predicate is asserted
    // literally TRUE by the gate (annRecallBound pattern)
    "embed_matryoshka" -> """
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
      ex AS (SELECT vec_id FROM (
               SELECT e.vec_id,
                      list_dot_product(e.v, qv) /
                        (sqrt(list_dot_product(e.v, e.v)) *
                         sqrt(list_dot_product(qv, qv))) AS cos
               FROM emb e, q WHERE e.vec_id <> 0) t
             ORDER BY ROUND(cos, 6) DESC, vec_id LIMIT 10),
      cnd AS (SELECT vec_id FROM (
               SELECT e.vec_id,
                      ROUND(list_dot_product(list_slice(e.v, 1, 16), list_slice(qv, 1, 16)) /
                        (sqrt(list_dot_product(list_slice(e.v, 1, 16), list_slice(e.v, 1, 16))) *
                         sqrt(list_dot_product(list_slice(qv, 1, 16), list_slice(qv, 1, 16)))), 6) AS cs
               FROM emb e, q WHERE e.vec_id <> 0) t
             ORDER BY cs DESC, vec_id LIMIT 100),
      rr AS (SELECT e.vec_id FROM (
               SELECT e2.vec_id,
                      ROUND(list_dot_product(e2.v, qv) /
                        (sqrt(list_dot_product(e2.v, e2.v)) *
                         sqrt(list_dot_product(qv, qv))), 6) AS fc
               FROM emb e2, q
               WHERE e2.vec_id IN (SELECT vec_id FROM cnd)) e
             ORDER BY fc DESC, vec_id LIMIT 10),
      h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
            FROM rr JOIN ex ON rr.vec_id = ex.vec_id),
      ek AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_k FROM ex)
      SELECT 'matryoshka16_rerank100' AS method, CAST(10 AS BIGINT) AS k,
             ek.exact_k, h.hits,
             (CAST(h.hits AS DOUBLE) / ek.exact_k >= 0.5) AS recall_ok
      FROM h, ek ORDER BY method""",
    // X119: trailing-7d HLL — per-day registers max-folded per window;
    // register-exact (X105 argument), so the estimate hash-oracles
    "agg_hll_sliding" -> """
      WITH cells AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events),
      bw AS (SELECT day_num, h % 256 AS b, h // 256 AS w FROM cells),
      dayrho AS (
        SELECT day_num, b,
               MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS rho
        FROM bw GROUP BY day_num, b),
      present AS (SELECT DISTINCT day_num FROM dayrho),
      wr AS (SELECT p.day_num AS scope, d.b, MAX(d.rho) AS rho
             FROM dayrho d JOIN present p
               ON p.day_num BETWEEN d.day_num AND d.day_num + 6
             GROUP BY p.day_num, d.b),
      grid AS (SELECT p.day_num AS scope, g.b
               FROM present p, (SELECT unnest(generate_series(0, 255)) AS b) g),
      regs AS (SELECT grid.scope, grid.b, COALESCE(wr.rho, 0) AS rho
               FROM grid LEFT JOIN wr ON grid.scope = wr.scope
                                     AND grid.b = wr.b),
      agg AS (SELECT scope, SUM(power(2.0, -rho)) AS s,
                     SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v
              FROM regs GROUP BY scope)
      SELECT scope AS window_end_day,
             ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s <= 640.0
                        AND v > 0
                   THEN 256.0 * ln(256.0 / v)
                   ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s END, 6)
               AS hll_est
      FROM agg ORDER BY window_end_day""",
    "agg_kmv_rollup" -> """
      WITH h AS (SELECT DISTINCT strftime(date_trunc('month', CAST(ts AS TIMESTAMP)), '%Y-%m') AS month,
                        md5(CAST(user_id AS VARCHAR)) AS h
                 FROM events),
      r AS (SELECT month, h,
                   ROW_NUMBER() OVER (PARTITION BY month ORDER BY h) AS rn,
                   COUNT(*) OVER (PARTITION BY month) AS nd
            FROM h),
      kk AS (SELECT month, MAX(h) AS kth_min, MAX(nd) AS nd
             FROM r WHERE rn <= 16 GROUP BY month),
      v AS (SELECT month, kth_min, nd,
              (strpos('0123456789abcdef', substr(kth_min, 1, 1)) - 1) * 268435456.0 +
              (strpos('0123456789abcdef', substr(kth_min, 2, 1)) - 1) * 16777216 +
              (strpos('0123456789abcdef', substr(kth_min, 3, 1)) - 1) * 1048576 +
              (strpos('0123456789abcdef', substr(kth_min, 4, 1)) - 1) * 65536 +
              (strpos('0123456789abcdef', substr(kth_min, 5, 1)) - 1) * 4096 +
              (strpos('0123456789abcdef', substr(kth_min, 6, 1)) - 1) * 256 +
              (strpos('0123456789abcdef', substr(kth_min, 7, 1)) - 1) * 16 +
              (strpos('0123456789abcdef', substr(kth_min, 8, 1)) - 1) AS v32
            FROM kk),
      est AS (SELECT month,
                CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
                     ELSE 64424509440.0 / v32 END AS e,
                CASE WHEN nd < 16 THEN NULL ELSE kth_min END AS km,
                nd
              FROM v)
      SELECT month,
             ROUND(e, 6) AS kmv_direct,
             ROUND(e, 6) AS kmv_rolled,
             km AS kth_min_direct,
             km AS kth_min_rolled,
             CAST(nd AS BIGINT) AS exact_distinct
      FROM est ORDER BY month""",
    // Skyline: the oracle states the naive NOT EXISTS dominance test;
    // Spark answers from the two-phase bucket prefix-max.
    "analytics_skyline" -> """
      SELECT p.p_partkey, p.p_retailprice, p.p_size
      FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      ORDER BY p.p_partkey""",
    // MAD outliers: median spelled exactly as the histogram rewrite
    // computes it (smallest value whose cumulative count reaches
    // ceil(n/2)) — value-from-data order statistics, no interpolation.
    "dq_outlier_mad" -> """
      WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      medt AS (
        SELECT c_mktsegment, MIN(c_acctbal) AS seg_median FROM (
          SELECT c_mktsegment, c_acctbal,
                 SUM(cnt) OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal) AS cum,
                 SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
          FROM (SELECT c_mktsegment, c_acctbal, COUNT(*) AS cnt
                FROM c GROUP BY 1, 2) t1) t2
        WHERE cum >= (n + 1) // 2 GROUP BY c_mktsegment),
      d AS (SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, m.seg_median,
                   ABS(c.c_acctbal - m.seg_median) AS dev
            FROM c JOIN medt m USING (c_mktsegment)),
      madt AS (
        SELECT c_mktsegment, MIN(dev) AS seg_mad FROM (
          SELECT c_mktsegment, dev,
                 SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY dev) AS cum,
                 SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
          FROM (SELECT c_mktsegment, dev, COUNT(*) AS cnt
                FROM d GROUP BY 1, 2) t1) t2
        WHERE cum >= (n + 1) // 2 GROUP BY c_mktsegment)
      SELECT d.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(d.seg_median) AS seg_median,
             MIN(m.seg_mad) AS seg_mad,
             CAST(SUM(CASE WHEN d.dev > m.seg_mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_beyond_1mad,
             CAST(SUM(CASE WHEN d.dev > 1.5 * m.seg_mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_beyond_15mad,
             CAST(SUM(CASE WHEN d.dev > 2.0 * m.seg_mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_beyond_2mad
      FROM d JOIN madt m USING (c_mktsegment)
      GROUP BY d.c_mktsegment
      ORDER BY d.c_mktsegment""",
    // Exact-moment regression: DECIMAL(18,6) power sums (exact,
    // partition-order-independent), then the identical stepwise double
    // closed forms (num*num, no POW).
    // X213 correlation matrix: fifteen DECIMAL(38,0) power sums in one
    // pass (pre-cast operands — the X141 overflow rule), stack-unpivot
    // to pair rows, r closed per pair with the X68 fixed expression.
    "analytics_corr_matrix" -> """
      WITH li AS (SELECT
          CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)) AS q,
          CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS DECIMAL(38,0)) AS p,
          CAST(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
            AS DECIMAL(38,0)) AS d,
          CAST(CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)
            AS DECIMAL(38,0)) AS t
        FROM lineitem),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              SUM(q) AS s_q, SUM(p) AS s_p, SUM(d) AS s_d, SUM(t) AS s_t,
              SUM(q*q) AS s_qq, SUM(p*p) AS s_pp, SUM(d*d) AS s_dd,
              SUM(t*t) AS s_tt,
              SUM(q*p) AS s_qp, SUM(q*d) AS s_qd, SUM(q*t) AS s_qt,
              SUM(p*d) AS s_pd, SUM(p*t) AS s_pt, SUM(d*t) AS s_dt
            FROM li),
      u AS (
        SELECT 'q_p' AS pair, n, s_q AS sx, s_p AS sy, s_qq AS sxx, s_pp AS syy, s_qp AS sxy FROM s
        UNION ALL SELECT 'q_d' AS pair, n, s_q AS sx, s_d AS sy, s_qq AS sxx, s_dd AS syy, s_qd AS sxy FROM s
        UNION ALL SELECT 'q_t' AS pair, n, s_q AS sx, s_t AS sy, s_qq AS sxx, s_tt AS syy, s_qt AS sxy FROM s
        UNION ALL SELECT 'p_d' AS pair, n, s_p AS sx, s_d AS sy, s_pp AS sxx, s_dd AS syy, s_pd AS sxy FROM s
        UNION ALL SELECT 'p_t' AS pair, n, s_p AS sx, s_t AS sy, s_pp AS sxx, s_tt AS syy, s_pt AS sxy FROM s
        UNION ALL SELECT 'd_t' AS pair, n, s_d AS sx, s_t AS sy, s_dd AS sxx, s_tt AS syy, s_dt AS sxy FROM s)
      SELECT pair, n,
             ROUND(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) /
               (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                  AS DOUBLE)) *
                sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                  AS DOUBLE))), 6) AS r
      FROM u ORDER BY pair""",
    "agg_regression_exact" -> """
      WITH li AS (SELECT l_returnflag,
                         -- width 19 forces DuckDB's INT128 decimal path:
                         -- 18x18 products multiply raw INT64s and
                         -- overflow; values are identical either way
                         CAST(l_quantity AS DECIMAL(19,6)) AS x,
                         CAST(l_extendedprice AS DECIMAL(19,6)) AS y
                  FROM lineitem),
      m AS (SELECT l_returnflag, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM li GROUP BY l_returnflag),
      s AS (SELECT l_returnflag, n,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                   CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                   CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                     CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
            FROM m)
      SELECT l_returnflag, n,
             ROUND(num / denx, 6) AS slope,
             ROUND((syd - (num / denx) * sxd) / nd, 6) AS intercept,
             ROUND(num * num / (denx * deny), 6) AS r2
      FROM s ORDER BY l_returnflag""",
    // Time travel: three prefix cuts of the cdc_apply changelog, each
    // compacted by the same last-op-wins window.
    "cdc_time_travel" -> """
      WITH changelog AS (
        SELECT doc_id AS seq, doc_id % 97 AS key,
               CASE WHEN doc_id % 11 = 7 THEN 'D'
                    WHEN doc_id % 3 = 0 THEN 'I'
                    ELSE 'U' END AS op,
               n_chars AS val, lang
        FROM documents),
      cuts AS (
        SELECT ver, (mx * ver) // 4 AS cut
        FROM (SELECT MAX(seq) AS mx FROM changelog) m,
             (SELECT unnest(list_value(1, 2, 3)) AS ver) v),
      pre AS (
        SELECT c.ver, l.*
        FROM changelog l CROSS JOIN cuts c
        WHERE l.seq <= c.cut),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ver, key
                    ORDER BY seq DESC) AS rn,
               COUNT(*) OVER (PARTITION BY ver, key) AS n_ops
        FROM pre)
      SELECT CAST(ver AS BIGINT) AS ver, key, val, lang,
             op AS last_op, n_ops
      FROM ranked WHERE rn = 1 AND op <> 'D'
      ORDER BY ver, key""",
    // Clustering coefficient: naive triangles + full degree, cc as an
    // IEEE ratio of exact ints, deg < 2 excluded (cc undefined).
    "graph_clustering_coeff" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
            FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      tc AS (SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
               SELECT u AS part_id FROM t
               UNION ALL SELECT v FROM t
               UNION ALL SELECT w FROM t) n GROUP BY part_id),
      d AS (SELECT id AS part_id, COUNT(*) AS deg FROM (
              SELECT a AS id FROM e UNION ALL SELECT b FROM e) dd
            GROUP BY id)
      SELECT d.part_id, d.deg, COALESCE(tc.n_tri, 0) AS n_tri,
             ROUND(2.0 * CAST(COALESCE(tc.n_tri, 0) AS DOUBLE) /
               CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS cc
      FROM d LEFT JOIN tc ON tc.part_id = d.part_id
      WHERE d.deg >= 2
      ORDER BY d.part_id""",
    // TWAP: value held until the next event; weighted sum in DECIMAL so
    // the only double is the final ratio of exact sums.
    "events_twap" -> """
      WITH ev AS (
        SELECT user_id, event_id,
               CAST(value AS DECIMAL(18,2)) AS v,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_us
        FROM events)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(next_us - us) AS BIGINT) AS span_us,
             ROUND(CAST(SUM(v * (next_us - us)) AS DOUBLE) /
               CAST(SUM(next_us - us) AS DOUBLE), 6) AS twap
      FROM ev WHERE next_us IS NOT NULL
      GROUP BY user_id ORDER BY user_id""",
    // RLE: gaps-and-islands on type change, runs summarized per island.
    "events_rle" -> """
      WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        FROM events),
      f AS (SELECT *, CASE WHEN prev_type IS NULL
                             OR prev_type <> event_type
                           THEN 1 ELSE 0 END AS chg FROM ev),
      r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
              ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS run_id
            FROM f)
      SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
             MIN(event_type) AS event_type,
             CAST(COUNT(*) AS BIGINT) AS run_len,
             MIN(us) AS start_us, MAX(us) AS end_us
      FROM r GROUP BY user_id, run_id
      ORDER BY user_id, run_id""",
    // Chi-square profile: per-cell terms are IEEE doubles of exact ints;
    // the total sums the 6dp-rounded terms as DECIMAL (order-free).
    "analytics_chisq" -> """
      WITH cells AS (SELECT lang, source, COUNT(*) AS o
                     FROM documents GROUP BY lang, source),
      rt AS (SELECT lang, SUM(o) AS rt FROM cells GROUP BY lang),
      ct AS (SELECT source, SUM(o) AS ct FROM cells GROUP BY source),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      terms AS (
        SELECT cells.lang, cells.source, cells.o,
               CAST(rt.rt * ct.ct AS DOUBLE) / CAST(n AS DOUBLE) AS e,
               ROUND((CAST(cells.o AS DOUBLE) -
                       CAST(rt.rt * ct.ct AS DOUBLE) / CAST(n AS DOUBLE)) *
                     (CAST(cells.o AS DOUBLE) -
                       CAST(rt.rt * ct.ct AS DOUBLE) / CAST(n AS DOUBLE)) /
                     (CAST(rt.rt * ct.ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 AS term
        FROM cells JOIN rt USING (lang) JOIN ct USING (source)
        CROSS JOIN nn)
      SELECT lang, source, o, ROUND(e, 6) AS e, term,
             CAST(SUM(CAST(term AS DECIMAL(18,6))) OVER () AS DOUBLE)
               AS chi2_total
      FROM terms ORDER BY lang, source""",
    // PIT join: the oracle states the naive SCD2 range join (version
    // valid at the order date via rank over valid_from desc).
    "warehouse_pit_join" -> """
      WITH v AS (
        SELECT c_custkey AS key, 1 AS ver,
               CAST('1990-01-01' AS DATE) AS vf FROM customer
        UNION ALL
        SELECT c_custkey, 2, CAST('1996-06-01' AS DATE) FROM customer
        UNION ALL
        SELECT c_custkey, 3, CAST('1999-03-01' AS DATE) FROM customer),
      f AS (SELECT o_orderkey, o_custkey AS key,
                   CAST(o_orderdate AS DATE) AS d FROM orders),
      j AS (SELECT f.o_orderkey, f.key, f.d, v.ver,
                   ROW_NUMBER() OVER (PARTITION BY f.o_orderkey
                     ORDER BY v.vf DESC, v.ver DESC) AS rn
            FROM f JOIN v ON v.key = f.key AND v.vf <= f.d)
      SELECT o_orderkey, key AS c_custkey,
             strftime(d, '%Y-%m-%d') AS order_date,
             CAST(ver AS BIGINT) AS dim_version
      FROM j WHERE rn = 1 ORDER BY o_orderkey""",
    // Equi-depth boundaries: the oracle states the single global
    // cumulative window; Spark answers from the two-phase bucket form.
    "agg_equidepth_hist" -> """
      WITH o AS (SELECT o_totalprice AS v FROM orders),
      lv AS (SELECT v, COUNT(*) AS cnt FROM o GROUP BY v),
      cumt AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM lv),
      nn AS (SELECT COUNT(*) AS n FROM o),
      t AS (SELECT b, (b * n + 7) // 8 AS target
            FROM (SELECT unnest(list_value(1, 2, 3, 4, 5, 6, 7)) AS b) bb,
                 nn)
      SELECT b, CAST(target AS BIGINT) AS target, MIN(v) AS boundary
      FROM cumt JOIN t ON cum >= target
      GROUP BY b, target ORDER BY b""",
    // X98 A/B lift: salted 16-bit md5 bucket assigns the arm (X53's
    // sampler spelling); per-user collapse first, then per-arm stats.
    "analytics_ab_lift" -> s"""
      WITH pu AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS n_purch,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS $D2) END) AS revenue
        FROM events GROUP BY user_id),
      armed AS (
        SELECT *,
               CASE WHEN ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
                          (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
                          (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
                          (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) < 32768
                    THEN 'A' ELSE 'B' END AS arm
        FROM (SELECT pu.*,
                     md5(CAST(user_id AS VARCHAR) || '|' || 'ab_v1') AS h
              FROM pu) t)
      SELECT arm, COUNT(*) AS n_users,
             CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
             CAST(SUM(n_purch) AS BIGINT) AS n_purchases,
             CAST(COALESCE(SUM(revenue), 0) AS DOUBLE) AS revenue,
             ROUND(CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 6) AS conv_rate,
             ROUND(CAST(COALESCE(SUM(revenue), 0) AS DOUBLE) / COUNT(*), 6)
               AS arpu
      FROM armed GROUP BY arm ORDER BY arm""",
    // X92 bucket assignment: the X70 boundaries (naive-window spelling,
    // same values) assign every order to bucket = #{boundaries < v};
    // output is the per-bucket depth audit. COUNT(boundary) counts
    // matches, so bucket 0 (no boundary below) falls out of the left
    // join naturally.
    "analytics_bucket_assign" -> """
      WITH o AS (SELECT o_orderkey AS ok, o_totalprice AS v FROM orders),
      lv AS (SELECT v, COUNT(*) AS cnt FROM o GROUP BY v),
      cumt AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM lv),
      nn AS (SELECT COUNT(*) AS n FROM o),
      t AS (SELECT b, (b * n + 7) // 8 AS target
            FROM (SELECT unnest(list_value(1, 2, 3, 4, 5, 6, 7)) AS b) bb,
                 nn),
      bnd AS (SELECT b, MIN(v) AS boundary
              FROM cumt JOIN t ON cum >= target GROUP BY b),
      a AS (
        SELECT o.ok, o.v, COUNT(bnd.boundary) AS bucket
        FROM o LEFT JOIN bnd ON o.v > bnd.boundary
        GROUP BY o.ok, o.v)
      SELECT bucket, COUNT(*) AS n_orders,
             MIN(v) AS min_v, MAX(v) AS max_v
      FROM a GROUP BY bucket ORDER BY bucket""",
    // Debounce-leading dedup: survivors are burst starts (gap >= 1h or
    // first occurrence) on the (user, type) key.
    "events_throttle_dedup" -> """
      WITH l AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) -
                 LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        FROM events)
      SELECT event_id, user_id, event_type, gap_us
      FROM l WHERE gap_us IS NULL OR gap_us >= 3600000000
      ORDER BY event_id""",
    // Interval-overlap join: the oracle states the naive all-pairs
    // overlap; Spark answers from the 6h-grid replication join.
    "events_interval_join" -> """
      WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                  FROM events),
      l AS (SELECT user_id, us,
                   CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                          IS NULL
                        OR us - LAG(us) OVER (PARTITION BY user_id
                          ORDER BY us) > 1800000000
                        THEN 1 ELSE 0 END AS brk
            FROM ev),
      s AS (SELECT user_id, us,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM l),
      sess AS (SELECT user_id, sid, MIN(us) AS s_us, MAX(us) AS e_us
               FROM s GROUP BY user_id, sid),
      bounds AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM ev),
      pid AS (SELECT unnest(generate_series(0,
                CAST((mx - mn) // 129600000000 AS INT))) AS pid, mn
              FROM bounds),
      promos AS (SELECT pid, mn + pid * 129600000000 AS ps,
                        mn + pid * 129600000000 + 21600000000 AS pe
                 FROM pid)
      SELECT sess.user_id, CAST(sess.sid AS BIGINT) AS sid, sess.s_us,
             promos.pid,
             LEAST(sess.e_us, promos.pe) - GREATEST(sess.s_us, promos.ps)
               AS overlap_us
      FROM sess JOIN promos
        ON sess.s_us <= promos.pe AND promos.ps <= sess.e_us
      ORDER BY sess.user_id, sid, promos.pid""",
    // Incremental join-view maintenance: the oracle is the full
    // recompute; the merged state+delta partials must equal it exactly
    // (DECIMAL sums).
    "incr_join_merge" -> """
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey ORDER BY c_nationkey""",
    // Merkle range diff: same fingerprint fold on both replicas; output
    // only the diverged ranges (the repair work list).
    "dq_merkle_ranges" -> """
      WITH a0 AS (SELECT doc_id, text FROM documents),
      b0 AS (SELECT doc_id,
                    CASE WHEN doc_id % 37 = 5 THEN text || ' corrupted'
                         ELSE text END AS text
             FROM documents WHERE doc_id % 101 <> 13),
      fa AS (SELECT doc_id // 64 AS seg, COUNT(*) AS n_a,
                    BIT_XOR((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * CAST(268435456 AS BIGINT) +
                            (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216 +
                            (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576 +
                            (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536 +
                            (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096 +
                            (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256 +
                            (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16 +
                            (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS fp_a
             FROM (SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR) || '|' || text) AS h
                   FROM a0) t GROUP BY 1),
      fb AS (SELECT doc_id // 64 AS seg, COUNT(*) AS n_b,
                    BIT_XOR((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * CAST(268435456 AS BIGINT) +
                            (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216 +
                            (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576 +
                            (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536 +
                            (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096 +
                            (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256 +
                            (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16 +
                            (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS fp_b
             FROM (SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR) || '|' || text) AS h
                   FROM b0) t GROUP BY 1)
      SELECT COALESCE(fa.seg, fb.seg) AS seg, n_a, n_b, fp_a, fp_b
      FROM fa FULL OUTER JOIN fb ON fa.seg = fb.seg
      WHERE n_a IS NULL OR n_b IS NULL OR n_a <> n_b OR fp_a <> fp_b
      ORDER BY seg""",
    // Priority keep: smallest (source rank, doc_id) per (lang, length
    // band) block, group sizes from the same grouping.
    "dedup_priority_keep" -> """
      WITH d AS (
        SELECT doc_id, lang, source, n_chars // 100 AS len_band,
               CAST(substr(source, 4) AS INT) AS prio
        FROM documents),
      r AS (SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY lang, len_band
                     ORDER BY prio, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang, len_band) AS group_n
            FROM d)
      SELECT lang, len_band, doc_id AS kept_doc_id, source AS kept_source,
             group_n
      FROM r WHERE rn = 1 ORDER BY lang, len_band""",
    // TF-IDF: tf * ln(N/df) over integral doubles (the collocation
    // parity surface); rank ties resolve on exactly-equal scores before
    // the term tiebreak, then the WindowGroupLimit cut.
    "text_tfidf_topterms" -> """
      WITH raw AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents),
      t AS (SELECT doc_id, term FROM raw WHERE term <> ''),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term HAVING COUNT(*) >= 2),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) *
                 ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN nd),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS rn FROM sc)
      SELECT doc_id, CAST(rn AS BIGINT) AS rn, term, tf, df,
             ROUND(tfidf, 6) AS tfidf
      FROM r WHERE rn <= 3 ORDER BY doc_id, rn""",
    // Unigram-LM cross-entropy: Spark scores over (doc, type, cnt)
    // triples, the oracle over raw occurrences — identical sums up to FP
    // association, settled by the 6dp round. The join-back token key is
    // total by construction (every doc token is in the corpus model).
    "text_lm_crossentropy" -> """
      WITH raw AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents),
      t AS (SELECT doc_id, tok FROM raw WHERE tok <> ''),
      counts AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
      tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM counts),
      model AS (
        SELECT tok, CAST(c + 1 AS DOUBLE) / (n + v) AS p FROM counts, tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(-SUM(log2(p)) / COUNT(*), 6) AS bits_per_token
      FROM t JOIN model USING (tok)
      GROUP BY doc_id ORDER BY doc_id""",
    // X153 order-3 interpolated perplexity: three count tables (exact
    // integers), p is ONE fixed IEEE expression in identical literal
    // order, per-trigram log2 6dp-rounded into DECIMAL so the per-doc
    // sum is exact; final division + exp(b*ln 2) are the only
    // order-free IEEE ops (platform ln/exp parity).
    "text_lm_perplexity3" -> PERPLEXITY3,
    // X187 Kneser-Ney bigram: fixed D=0.75 discount, continuation
    // (preceder-type) backoff; p one fixed IEEE expression, per-bigram
    // log2 6dp-DECIMAL so the per-doc sum is exact (X153 discipline).
    // X235 n-gram coverage curve: top-1000 trigram types, ordered rank +
    // cumulative over the bounded cut; every requested budget emits a
    // row at the last AVAILABLE rank (eff_k) with a truncated flag, so
    // a type count below a budget cannot silently drop the row (r9
    // advice). Budget fan-out is an unnest over the bounded cut, the
    // same narrow shape the DataFrame uses.
    "text_ngram_coverage" -> """
      WITH d AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws
        FROM documents),
      tri AS (
        SELECT ws[i] || ' ' || ws[i2] || ' ' || ws[i3] AS g
        FROM (SELECT ws, i, i + 1 AS i2, i + 2 AS i3
              FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM d WHERE len(ws) >= 3) t0) t),
      c3 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM tri GROUP BY g),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c3),
      top AS (SELECT g, c FROM c3 ORDER BY c DESC, g LIMIT 1000),
      rk AS (SELECT g, c,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, g) AS BIGINT) AS rk
             FROM top),
      cum AS (SELECT rk, CAST(SUM(c) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS covered
              FROM rk),
      fan AS (SELECT b AS top_k, rk, covered
              FROM (SELECT rk, covered,
                           unnest(list_filter(list_value(CAST(10 AS BIGINT), CAST(100 AS BIGINT), CAST(1000 AS BIGINT)), b -> b >= rk)) AS b
                    FROM cum) t0),
      sel AS (SELECT top_k, MAX(rk) AS eff_k, MAX(covered) AS covered
              FROM fan GROUP BY top_k)
      SELECT top_k, eff_k, covered, tot.t AS total_positions,
             ROUND(CAST(covered AS DOUBLE) / tot.t, 6) AS coverage,
             (eff_k < top_k) AS truncated
      FROM sel, tot ORDER BY top_k""",
    // X231 held-out stupid backoff: train counts from the md5-bucket
    // train split, test-split trigram types scored through the three
    // backoff tiers; per-position ln S 6dp-DECIMAL before the doc sum.
    "text_lm_stupid_backoff" -> """
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 4))::BIGINT AS bk
        FROM documents),
      tr AS (SELECT doc_id, ws FROM d WHERE bk < 52429),
      te AS (SELECT doc_id, ws FROM d WHERE bk >= 58982),
      tri_tr AS (
        SELECT ws[i] AS u, ws[i2] AS v, ws[i3] AS w
        FROM (SELECT ws, i, i + 1 AS i2, i + 2 AS i3
              FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM tr WHERE len(ws) >= 3) t0) t),
      bi_tr AS (
        SELECT ws[i] AS a, ws[i2] AS b
        FROM (SELECT ws, i, i + 1 AS i2
              FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM tr WHERE len(ws) >= 2) t0) t),
      c3 AS (SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3
             FROM tri_tr GROUP BY u, v, w),
      c2 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2
             FROM bi_tr GROUP BY a, b),
      c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
             FROM (SELECT unnest(ws) AS tok FROM tr) t GROUP BY tok),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n,
                     CAST(COUNT(*) AS BIGINT) AS v_sz FROM c1),
      tri_te AS (
        SELECT doc_id, ws[i] AS u, ws[i2] AS v, ws[i3] AS w
        FROM (SELECT doc_id, ws, i, i + 1 AS i2, i + 2 AS i3
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM te WHERE len(ws) >= 3) t0) t),
      dt AS (SELECT doc_id, u, v, w, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM tri_te GROUP BY doc_id, u, v, w),
      sc AS (
        SELECT dt.doc_id, dt.cnt,
               CASE WHEN c3.c3 IS NOT NULL THEN 'tri'
                    WHEN cvw.c2 IS NOT NULL THEN 'bi'
                    ELSE 'uni' END AS tier,
               CAST(ROUND(ln(
                 CASE WHEN c3.c3 IS NOT NULL
                      THEN CAST(c3.c3 AS DOUBLE) / cuv.c2
                      WHEN cvw.c2 IS NOT NULL
                      THEN 0.4 * CAST(cvw.c2 AS DOUBLE) / c1v.c1
                      ELSE 0.4 * 0.4 * CAST(COALESCE(c1w.c1, 0) + 1 AS DOUBLE) / (tot.n + tot.v_sz)
                 END), 6) AS DECIMAL(18,6)) AS lns
        FROM dt
        LEFT JOIN c3 ON c3.u = dt.u AND c3.v = dt.v AND c3.w = dt.w
        LEFT JOIN c2 cuv ON cuv.a = dt.u AND cuv.b = dt.v
        LEFT JOIN c2 cvw ON cvw.a = dt.v AND cvw.b = dt.w
        LEFT JOIN c1 c1v ON c1v.tok = dt.v
        LEFT JOIN c1 c1w ON c1w.tok = dt.w, tot)
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_positions,
             CAST(SUM(CASE WHEN tier = 'tri' THEN cnt ELSE 0 END) AS BIGINT)
               AS n_tri,
             CAST(SUM(CASE WHEN tier = 'bi' THEN cnt ELSE 0 END) AS BIGINT)
               AS n_bi,
             CAST(SUM(CASE WHEN tier = 'uni' THEN cnt ELSE 0 END) AS BIGINT)
               AS n_uni,
             ROUND(CAST(SUM(cnt * lns) AS DOUBLE) / SUM(cnt), 6)
               AS avg_logscore
      FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "text_lm_kneser_ney" -> """
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws
        FROM documents),
      bi AS (
        SELECT doc_id, ws[i] AS a, ws[i2] AS b
        FROM (SELECT doc_id, ws, i, i + 1 AS i2
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM d WHERE len(ws) >= 2) t0) t),
      cb AS MATERIALIZED (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cb FROM bi GROUP BY a, b),
      ctx AS (SELECT a, CAST(SUM(cb) AS BIGINT) AS cctx,
                     CAST(COUNT(*) AS BIGINT) AS n1fwd
              FROM cb GROUP BY a),
      cont AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1prec
               FROM cb GROUP BY b),
      bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS btypes FROM cb),
      db AS (SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM bi GROUP BY doc_id, a, b),
      sc AS (
        SELECT db.doc_id, db.cnt,
               CAST(ROUND(ln(
                 (CAST(cb.cb AS DOUBLE) - 0.75) / ctx.cctx +
                 0.75 * CAST(ctx.n1fwd AS DOUBLE) / ctx.cctx *
                   (CAST(cont.n1prec AS DOUBLE) / bt.btypes)
               ) / ln(2.0), 6) AS DECIMAL(18,6)) AS bits
        FROM db
        JOIN cb ON cb.a = db.a AND cb.b = db.b
        JOIN ctx ON ctx.a = db.a
        JOIN cont ON cont.b = db.b, bt),
      agg AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               ROUND(-CAST(SUM(cnt * bits) AS DOUBLE) / SUM(cnt), 6)
                 AS bits_per_token
        FROM sc GROUP BY doc_id)
      SELECT doc_id, n_bigrams, bits_per_token,
             ROUND(exp(bits_per_token * ln(2.0)), 4) AS perplexity
      FROM agg ORDER BY doc_id""",
    // X182 perplexity sweep: thresholds band-join the per-doc
    // perplexity relation SHARED VERBATIM with X153 (filter and
    // scorer cannot drift); trigram counts as the token weight.
    "curation_perplexity_sweep" -> ("""
      WITH ppl AS (""" + PERPLEXITY3 + """),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_docs,
                     CAST(SUM(n_trigrams) AS BIGINT) AS tot_tris FROM ppl),
      th AS (SELECT CAST(v AS DOUBLE) AS max_ppl FROM
               (SELECT unnest(list_value(16.0, 18.0, 20.0, 22.0, 25.0, 30.0)) AS v) u)
      SELECT th.max_ppl,
             CAST(COALESCE(COUNT(ppl.doc_id), 0) AS BIGINT) AS docs_kept,
             CAST(COALESCE(SUM(ppl.n_trigrams), 0) AS BIGINT) AS tris_kept,
             ROUND(CAST(COALESCE(COUNT(ppl.doc_id), 0) AS DOUBLE) /
               tot.tot_docs, 6) AS doc_share,
             ROUND(CAST(COALESCE(SUM(ppl.n_trigrams), 0) AS DOUBLE) /
               tot.tot_tris, 6) AS tri_share
      FROM th LEFT JOIN ppl ON ppl.perplexity <= th.max_ppl, tot
      GROUP BY th.max_ppl, tot.tot_docs, tot.tot_tris
      ORDER BY max_ppl"""),
    // X165 Zipf fit: deterministic top-k vocabulary cut, log-log terms
    // 6dp-rounded into DECIMAL so all five regression sums are exact;
    // slope/intercept/R2 are one fixed double expression.
    "text_zipf_fit" -> """
      WITH raw AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents),
      t AS (SELECT tok FROM raw WHERE tok <> ''),
      cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok
              ORDER BY c DESC, tok LIMIT 1000),
      xy AS (SELECT
               CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok)
                 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
               CAST(ROUND(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
             FROM cnt),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM xy)
      SELECT n AS n_terms,
        ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
          CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
        ROUND((CAST(sy AS DOUBLE) -
          ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
            CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
        ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
          CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
          (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
          ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
              CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
      FROM s""",
    // X219 Heaps'-law fit: value-based doc_id deciles, first-occurrence
    // vocabulary histogram, ordered prefix sums, then X165's exact
    // 6dp-decimal ln-ln least-squares idiom; the 1-row fit crosses the
    // <=8 point rows.
    "text_heaps_fit" -> """
      WITH raw AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents),
      tk AS (SELECT doc_id, tok FROM raw WHERE tok <> ''),
      mx AS (SELECT MAX(doc_id) AS mx FROM documents),
      dd AS (SELECT (doc_id * 8) // (mx + 1) AS d, tok FROM tk, mx),
      tokperd AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS nt FROM dd GROUP BY d),
      vocperd AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS nv
                  FROM (SELECT tok, MIN(d) AS d FROM dd GROUP BY tok) t
                  GROUP BY d),
      pts AS (
        SELECT t.d AS decile,
               CAST(SUM(t.nt) OVER (ORDER BY t.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(v.nv, 0)) OVER (ORDER BY t.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        FROM tokperd t LEFT JOIN vocperd v ON v.d = t.d),
      xy AS (SELECT decile, cum_tokens, cum_vocab,
               CAST(ROUND(ln(CAST(cum_tokens AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS x,
               CAST(ROUND(ln(CAST(cum_vocab AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS y
             FROM pts),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS np, SUM(x) AS sx,
                   SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM xy),
      fit AS (SELECT
        ROUND((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) -
          CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS heaps_beta,
        ROUND((CAST(sy AS DOUBLE) -
          ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
            CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE), 6) AS ln_k
        FROM s)
      SELECT decile, cum_tokens, cum_vocab, heaps_beta, ln_k
      FROM xy CROSS JOIN fit ORDER BY decile""",
    // X218 FORCAST readability: monosyllabic = exactly one [aeiou]+ run
    // (split on the run yields exactly 2 fields incl. boundary empties
    // in BOTH engines).
    "text_readability" -> """
      WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                 FROM documents),
      t AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_words,
              CAST(len(list_filter(ws,
                x -> len(string_split_regex(x, '[aeiou]+')) = 2))
                AS BIGINT) AS n_mono
            FROM w)
      SELECT doc_id, lang, n_words, n_mono,
             ROUND(20.0 - (CAST(n_mono AS DOUBLE) * 150.0 / n_words) / 10.0,
               6) AS forcast_grade
      FROM t ORDER BY doc_id""",
    // X221 temperature mix: p^0.7 via exp(0.7 ln p) (the ln/exp parity
    // surface), normalizer = the FINAL ordered cumulative read back by
    // MAX_BY (never an unordered float sum).
    "curation_temperature_mix" -> """
      WITH pl AS (
        SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                 AS tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang),
      tot AS (SELECT SUM(tokens) AS total_tokens FROM pl),
      cum AS (
        SELECT lang, n_docs, tokens, total_tokens,
               CAST(tokens AS DOUBLE) / total_tokens AS p,
               SUM(exp(0.7 * ln(CAST(tokens AS DOUBLE) / total_tokens)))
                 OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
        FROM pl CROSS JOIN tot),
      nrm AS (SELECT MAX_BY(cum_w, lang) AS norm FROM cum)
      SELECT lang, n_docs, tokens, ROUND(p, 6) AS p_raw,
             ROUND(exp(0.7 * ln(p)) / norm, 6) AS p_temp,
             ROUND((exp(0.7 * ln(p)) / norm) * total_tokens / tokens, 6)
               AS effective_epochs
      FROM cum CROSS JOIN nrm ORDER BY lang""",
    // BPE pair selection: pair counts ride word-TYPE counts (the same
    // vocabulary collapse the Spark side does); deterministic tie-break
    // on the pair text before the LIMIT cut.
    "text_bpe_merges" -> """
      WITH raw AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents),
      wc AS (
        SELECT w, COUNT(*) AS wc FROM raw WHERE length(w) >= 2 GROUP BY w),
      pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
        FROM (SELECT w, wc, unnest(generate_series(1, length(w) - 1)) AS i
              FROM wc) t)
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS freq
      FROM pairs GROUP BY pair
      ORDER BY freq DESC, pair LIMIT 20""",
    // Mixture rebalance: the admission threshold is EXACT integer math
    // ((65536*n_min) // n_g) on both engines — float division would
    // round-vs-truncate differently at the cast; only the reported
    // share/keep_prob columns are float, and both are 6dp-rounded.
    // X160 split leakage: md5(doc_id)-mod-3 folds over the SAME verified
    // Jaccard >= 0.6 near-dup pair relation as dedup_jaccard_pairs
    // (shared CTE text), k^2 fold-pair rollup.
    "curation_split_leakage" -> s"""
      WITH ${JACCARD_CTES.trim},
      pr AS (
        SELECT doc_a, doc_b FROM verified
        WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.6),
      p AS (
        SELECT LEAST(
                 ('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 4))::BIGINT % 3,
                 ('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 4))::BIGINT % 3)
                 AS fold_lo,
               GREATEST(
                 ('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 4))::BIGINT % 3,
                 ('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 4))::BIGINT % 3)
                 AS fold_hi
        FROM pr)
      SELECT fold_lo, fold_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             (fold_lo <> fold_hi) AS is_leak
      FROM p GROUP BY fold_lo, fold_hi
      ORDER BY fold_lo, fold_hi""",
    // X178 length sweep: thresholds band-join the per-length histogram
    // (never documents); unnest kept out of CAST per the dialect rule.
    "curation_length_sweep" -> """
      WITH hist AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      h2 AS (SELECT n_words, n_docs, n_words * n_docs AS n_tokens FROM hist),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
                     CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM h2),
      th AS (SELECT CAST(v AS BIGINT) AS min_words FROM
               (SELECT unnest(list_value(0, 10, 25, 40, 55, 70)) AS v) u)
      SELECT th.min_words,
             CAST(COALESCE(SUM(h2.n_docs), 0) AS BIGINT) AS docs_kept,
             CAST(COALESCE(SUM(h2.n_tokens), 0) AS BIGINT) AS tokens_kept,
             ROUND(CAST(COALESCE(SUM(h2.n_docs), 0) AS DOUBLE) /
               tot.tot_docs, 6) AS doc_share,
             ROUND(CAST(COALESCE(SUM(h2.n_tokens), 0) AS DOUBLE) /
               tot.tot_tokens, 6) AS token_share
      FROM th LEFT JOIN h2 ON h2.n_words >= th.min_words, tot
      GROUP BY th.min_words, tot.tot_docs, tot.tot_tokens
      ORDER BY min_words""",
    "curation_mix_rebalance" -> """
      WITH g AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      m AS (SELECT MIN(n_docs) AS n_min, SUM(n_docs) AS n_total FROM g),
      stats AS (
        SELECT lang, n_docs,
               ROUND(CAST(n_docs AS DOUBLE) / n_total, 6) AS share,
               CAST((65536 * n_min) // n_docs AS BIGINT) AS threshold
        FROM g, m),
      b AS (
        SELECT lang,
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
               (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
               (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
               (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS bucket
        FROM (SELECT lang,
                     md5(CAST(doc_id AS VARCHAR) || '|' || 'mix_v1') AS h
              FROM documents) t),
      k AS (
        SELECT b.lang, COUNT(*) AS n_kept
        FROM b JOIN stats s ON b.lang = s.lang
        WHERE b.bucket < s.threshold
        GROUP BY b.lang)
      SELECT lang, n_docs, share,
             ROUND(CAST(threshold AS DOUBLE) / 65536, 6) AS keep_prob,
             CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
      FROM stats LEFT JOIN k USING (lang)
      ORDER BY lang""",
    // Upsampling twin: whole epochs (n_max div n_g) + md5-fractional
    // extras; same exact-integer-threshold discipline as the rebalance.
    "curation_mix_upsample" -> """
      WITH g AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      m AS (SELECT MAX(n_docs) AS n_max FROM g),
      stats AS (
        SELECT lang, n_docs,
               CAST(n_max // n_docs AS BIGINT) AS epochs,
               CAST((65536 * (n_max % n_docs)) // n_docs AS BIGINT) AS threshold
        FROM g, m),
      b AS (
        SELECT lang,
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
               (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
               (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
               (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS bucket
        FROM (SELECT lang,
                     md5(CAST(doc_id AS VARCHAR) || '|' || 'mix_v1') AS h
              FROM documents) t)
      SELECT s.lang, s.n_docs, s.epochs,
             CAST(SUM(CASE WHEN b.bucket < s.threshold THEN 1 ELSE 0 END)
               AS BIGINT) AS n_extra,
             CAST(s.epochs * s.n_docs +
               SUM(CASE WHEN b.bucket < s.threshold THEN 1 ELSE 0 END)
               AS BIGINT) AS n_emitted
      FROM b JOIN stats s ON b.lang = s.lang
      GROUP BY s.lang, s.n_docs, s.epochs
      ORDER BY s.lang""",
    "text_bm25_topk" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      t AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
              CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) AS tf0,
              CAST(len(list_filter(ws, w -> w = 'join')) AS DOUBLE) AS tf1,
              CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) AS tf2
            FROM d),
      c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
              CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
              CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
              CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
            FROM t),
      s AS (SELECT doc_id, dl, tf0, tf1, tf2,
              ln(1 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) + ln(1 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) + ln(1 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                AS score_raw
            FROM t CROSS JOIN c)
      SELECT doc_id, CAST(dl AS BIGINT) AS dl,
             CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) +
                  (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
                  (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             ROUND(score_raw, 6) AS score
      FROM s WHERE score_raw > 0
      ORDER BY score_raw DESC, doc_id LIMIT 10""",
    // X216 posting-list BM25: the dynamic-vocabulary twin — postings
    // pruned to the query terms, df = posting length, per-term
    // contribution the SAME fixed IEEE expression as text_bm25_topk,
    // per-doc total pivoted back to fixed columns summed in query
    // order (bit-identical to the fixed-term form on this query).
    "text_bm25_posting" -> """
      WITH docs AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
            FROM docs),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
             WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
      df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
      c AS (SELECT t.doc_id, t.term,
              ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dd.dl / s.avgdl)) AS contrib
            FROM tf t JOIN df d ON d.term = t.term
                      JOIN docs dd ON dd.doc_id = t.doc_id
            CROSS JOIN stats s),
      p AS (SELECT doc_id,
              MAX(CASE WHEN term = 'spark' THEN contrib END) AS c0,
              MAX(CASE WHEN term = 'join' THEN contrib END) AS c1,
              MAX(CASE WHEN term = 'window' THEN contrib END) AS c2,
              CAST(COUNT(*) AS BIGINT) AS n_matched
            FROM c GROUP BY doc_id),
      sc AS (SELECT p.doc_id, dd.dl, p.n_matched,
               COALESCE(c0, CAST(0.0 AS DOUBLE)) + COALESCE(c1, CAST(0.0 AS DOUBLE)) + COALESCE(c2, CAST(0.0 AS DOUBLE)) AS score_raw
             FROM p JOIN docs dd ON dd.doc_id = p.doc_id)
      SELECT doc_id, CAST(dl AS BIGINT) AS dl, n_matched,
             ROUND(score_raw, 6) AS score
      FROM sc WHERE score_raw > 0
      ORDER BY score_raw DESC, doc_id LIMIT 10""",
    // X125 k-core: 12 unrolled peel rounds (Spark runs to the fixpoint;
    // extra oracle rounds past it are no-ops, and GraphsSpec asserts the
    // gate fixture converges within the unroll — the loud-not-silent
    // bound contract of the cluster-propagation oracles). Each round
    // keeps nodes with >= 64 surviving-neighbour edges (k=64 actually
    // peels shell layers on the dense co-order fixture; k=3 kept
    // everything and never iterated).
    // X200 k-truss (k=3, two peel rounds): a<b<c triangle listing per
    // round (three refs of the MATERIALIZED edge set), per-edge support
    // via the three-role union, peel edges outside every triangle.
    "graph_ktruss" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS MATERIALIZED (SELECT a, b FROM (
              SELECT x.pk AS a, y.pk AS b, COUNT(*) AS w
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
              GROUP BY x.pk, y.pk) t
             WHERE w >= 2),
      t1 AS MATERIALIZED (
        SELECT x.a AS ta, x.b AS tb, y.b AS tc
        FROM e0 x JOIN e0 y ON y.a = x.a AND y.b > x.b
                  JOIN e0 z ON z.a = x.b AND z.b = y.b),
      s1 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
              SELECT ta AS a, tb AS b FROM t1
              UNION ALL SELECT ta AS a, tc AS b FROM t1
              UNION ALL SELECT tb AS a, tc AS b FROM t1) u GROUP BY a, b),
      e1 AS MATERIALIZED (SELECT a, b FROM s1 WHERE support >= 1),
      t2 AS MATERIALIZED (
        SELECT x.a AS ta, x.b AS tb, y.b AS tc
        FROM e1 x JOIN e1 y ON y.a = x.a AND y.b > x.b
                  JOIN e1 z ON z.a = x.b AND z.b = y.b),
      s2 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
              SELECT ta AS a, tb AS b FROM t2
              UNION ALL SELECT ta AS a, tc AS b FROM t2
              UNION ALL SELECT tb AS a, tc AS b FROM t2) u GROUP BY a, b)
      SELECT a, b, support FROM s2 WHERE support >= 1 ORDER BY a, b""",
    "graph_kcore" -> ("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM und
              UNION ALL SELECT b AS u, a AS v FROM und)""" +
      // Each peel round is ONE windowed pass over the previous round's
      // edge relation (an edge survives iff BOTH endpoint degrees are
      // >= k) — a single self-reference per round, so the CTE chain
      // stays linear under either engine's inlining (a two-join node
      // formulation doubled references per round: 2^12 expansion).
      // Edge peeling subsumes node peeling round-for-round, so the
      // 12-round bound the spec asserts for node rounds covers it.
      (1 to 12).map(k => s""",
      e$k AS MATERIALIZED (
        SELECT u, v FROM (
          SELECT u, v, COUNT(*) OVER (PARTITION BY u) AS du,
                 COUNT(*) OVER (PARTITION BY v) AS dv
          FROM e${k - 1}) t
        WHERE du >= 64 AND dv >= 64
      )""").mkString + """
      SELECT u AS part_id, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM e12 GROUP BY u ORDER BY part_id"""),
    // X126 FK audit: one row per constraint, orphans counted by NOT
    // EXISTS, NULL FKs carved out (SQL FK semantics) — generated per
    // edge so the Spark edge list and this one cannot drift in shape.
    // X157 id gaps: the oracle states the NAIVE global-adjacency form
    // (fine at gate scale); the Spark plan computes the identical
    // relation via range-bucketed windows + a 32-row boundary stitch.
    "dq_id_gaps" -> """
      WITH k AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
      x AS (SELECT k, LEAD(k) OVER (ORDER BY k) AS nk FROM k)
      SELECT k + 1 AS gap_start, nk - 1 AS gap_end,
             nk - k - 1 AS n_missing
      FROM x WHERE nk - k > 1
      ORDER BY gap_start""",
    // X170 key candidates: values stringified only to be COUNTED — each
    // engine's (injective) cast keeps the distinct counts equal without
    // the rendered strings ever being compared.
    "dq_key_candidates" -> """
      WITH cells AS (
        SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
        UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_orderdate', CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
      base AS (SELECT col_name, COUNT(*) AS n_rows,
                      CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                      CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
               FROM cells GROUP BY col_name)
      SELECT col_name, n_rows, n_nulls, n_distinct,
             ROUND(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS uniqueness,
             n_distinct = n_rows AND n_nulls = 0 AS is_key
      FROM base ORDER BY col_name""",
    // X176 FK inference: containment of child distinct keys in parent
    // distinct keys per catalog candidate (incl. the negative control).
    "dq_fk_inference" -> (Seq(
      ("lineitem.l_partkey->part.p_partkey", "l_partkey", "lineitem",
        "p_partkey", "part"),
      ("lineitem.l_suppkey->supplier.s_suppkey", "l_suppkey", "lineitem",
        "s_suppkey", "supplier"),
      ("lineitem.l_orderkey->orders.o_orderkey", "l_orderkey", "lineitem",
        "o_orderkey", "orders"),
      ("orders.o_custkey->customer.c_custkey", "o_custkey", "orders",
        "c_custkey", "customer"),
      ("orders.o_custkey->supplier.s_suppkey", "o_custkey", "orders",
        "s_suppkey", "supplier")).map { case (name, ck, ct, pk, pt) =>
      s"""SELECT '$name' AS candidate, n_child_distinct, n_contained,
             ROUND(CAST(n_contained AS DOUBLE) / n_child_distinct, 6)
               AS containment,
             n_contained = n_child_distinct AS is_fk
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_child_distinct,
                   CAST(SUM(CASE WHEN p.key IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_contained
            FROM (SELECT DISTINCT $ck AS key FROM $ct
                  WHERE $ck IS NOT NULL) c
            LEFT JOIN (SELECT DISTINCT $pk AS key FROM $pt
                       WHERE $pk IS NOT NULL) p ON p.key = c.key) t"""
    }.mkString("\n      UNION ALL\n      ") +
      "\n      ORDER BY candidate"),
    // X220 FD discovery: per declared candidate A->B, determinants
    // whose B-image is not a single value (same generated-branch shape
    // as dq_fk_inference).
    "dq_fd_discovery" -> (Seq(
      ("nation", "n_nationkey", "n_regionkey"),
      ("nation", "n_regionkey", "n_name"),
      ("orders", "o_orderkey", "o_orderpriority"),
      ("orders", "o_custkey", "o_orderstatus"),
      ("customer", "c_custkey", "c_mktsegment"),
      ("customer", "c_nationkey", "c_mktsegment"),
      ("documents", "doc_id", "lang"),
      ("documents", "lang", "source")).map { case (t, a, b) =>
      s"""SELECT '$t.$a->$b' AS fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys,
             CAST(MAX(nv) AS BIGINT) AS max_rhs_per_key,
             SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
      FROM (SELECT $a AS k, COUNT(DISTINCT $b) AS nv FROM $t
            WHERE $a IS NOT NULL GROUP BY $a) q"""
    }.mkString("\n      UNION ALL\n      ") +
      "\n      ORDER BY fd"),
    // X237 new-vs-repeat revenue: first-order-date classification
    // (same-day ties count as new), exact DECIMAL header sums.
    "analytics_repeat_revenue" -> s"""
      WITH o AS (
        SELECT o_custkey, o_orderdate,
               strftime(o_orderdate, '%Y-%m') AS month,
               CAST(o_totalprice AS $D2) AS price
        FROM orders),
      f AS (SELECT o_custkey, MIN(o_orderdate) AS first_dt
            FROM o GROUP BY o_custkey),
      c AS (SELECT o.month, o.price,
              o.o_orderdate = f.first_dt AS is_new
            FROM o JOIN f ON f.o_custkey = o.o_custkey)
      SELECT month,
             CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_orders,
             CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat_orders,
             CAST(SUM(CASE WHEN is_new THEN price
                      ELSE CAST(0 AS $D2) END) AS DOUBLE) AS new_revenue,
             CAST(SUM(CASE WHEN NOT is_new THEN price
                      ELSE CAST(0 AS $D2) END) AS DOUBLE) AS repeat_revenue,
             ROUND(CAST(SUM(CASE WHEN NOT is_new THEN price
                      ELSE CAST(0 AS $D2) END) AS DOUBLE) /
               CAST(SUM(CASE WHEN is_new THEN price ELSE CAST(0 AS $D2) END)
                 + SUM(CASE WHEN NOT is_new THEN price
                       ELSE CAST(0 AS $D2) END) AS DOUBLE), 6)
               AS repeat_share
      FROM c GROUP BY month ORDER BY month""",
    // X233 money reconciliation: the exact-decimal q1 charge recomputed
    // per order vs the header total; deltas stay DECIMAL to the output.
    "dq_reconciliation" -> s"""
      WITH lc AS (
        SELECT l_orderkey AS o_orderkey,
               SUM(CAST(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2)) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS $D2))) AS recomputed,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY l_orderkey),
      j AS (
        SELECT o.o_orderstatus, COALESCE(lc.n_lines, 0) AS n_lines,
               COALESCE(lc.recomputed, CAST(0 AS DECIMAL(18,4))) -
                 CAST(o.o_totalprice AS $D2) AS delta
        FROM orders o LEFT JOIN lc ON lc.o_orderkey = o.o_orderkey)
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_headerless,
             CAST(SUM(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reconciled,
             CAST(MAX(ABS(delta)) AS DOUBLE) AS max_abs_delta,
             CAST(SUM(delta) AS DOUBLE) AS net_delta
      FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // X230 event-type lift: market-basket association over user-day
    // baskets; exact integers until the two final divisions.
    "events_type_lift" -> """
      WITH ud AS (
        SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS mi,
               event_type
        FROM events),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
            FROM (SELECT DISTINCT user_id, mi FROM ud) t),
      s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM ud GROUP BY event_type),
      p AS (SELECT a.event_type AS ta, b.event_type AS tb,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.mi = b.mi
                               AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
            HAVING COUNT(*) >= 20)
      SELECT p.ta, p.tb, p.c_ab, sa.c AS c_a, sb.c AS c_b,
             ROUND(CAST(p.c_ab AS DOUBLE) / n.n_baskets, 6) AS support,
             ROUND(CAST(p.c_ab AS DOUBLE) * n.n_baskets / (sa.c * sb.c), 6)
               AS lift
      FROM p JOIN s sa ON sa.event_type = p.ta
             JOIN s sb ON sb.event_type = p.tb, n
      ORDER BY p.ta, p.tb""",
    // X177 freshness: per-type last-seen lag vs the one-row corpus
    // watermark; integer µs/hour arithmetic throughout.
    "dq_freshness" -> """
      WITH ev AS (SELECT event_type,
                         epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      wm AS (SELECT MAX(us) AS wm_us FROM ev),
      g AS (SELECT event_type, MAX(us) AS last_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events FROM ev GROUP BY 1)
      SELECT event_type, last_us, n_events,
             (wm_us - last_us) // 60000000 AS lag_minutes,
             (wm_us - last_us) // 60000000 >= 30 AS is_stale
      FROM g, wm ORDER BY event_type""",
    // X171 rule audit: one joined pass to a single counter row, then a
    // rule-catalog unpivot; R1 (ship before order) genuinely fires on
    // this generator — the audit's reason to exist.
    "dq_rule_violations" -> """
      WITH j AS (SELECT l.l_shipdate, l.l_discount, l.l_quantity, l.l_tax,
                        l.l_returnflag, l.l_extendedprice, o.o_orderdate
                 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      agg AS (SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        CAST(SUM(CASE WHEN l_quantity > 45.0 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        CAST(SUM(CASE WHEN l_tax > 0.06 THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS r5,
        CAST(SUM(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS r6
        FROM j),
      rules AS (
        SELECT 'R1' AS rule_id, 'ship_before_order' AS rule_name, n AS n_checked, r1 AS n_violations FROM agg
        UNION ALL SELECT 'R2', 'discount_over_cap', n, r2 FROM agg
        UNION ALL SELECT 'R3', 'quantity_over_cap', n, r3 FROM agg
        UNION ALL SELECT 'R4', 'tax_over_cap', n, r4 FROM agg
        UNION ALL SELECT 'R5', 'returnflag_domain', n, r5 FROM agg
        UNION ALL SELECT 'R6', 'price_nonpositive', n, r6 FROM agg)
      SELECT rule_id, rule_name, n_checked, n_violations,
             ROUND(CAST(n_violations AS DOUBLE) / n_checked, 6) AS violation_rate
      FROM rules ORDER BY rule_id""",
    "dq_fk_orphans" -> (Seq(
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .map { case (name, c, ck, p, pk) => s"""
      SELECT '$name' AS fk,
        (SELECT COUNT(*) FROM $c) AS n_child,
        (SELECT COUNT(*) FROM $c WHERE $ck IS NULL) AS n_null_child,
        (SELECT COUNT(*) FROM $c ch WHERE ch.$ck IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM $p pa WHERE pa.$pk = ch.$ck)) AS n_orphan_child,
        (SELECT COUNT(DISTINCT ch.$ck) FROM $c ch WHERE ch.$ck IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM $p pa WHERE pa.$pk = ch.$ck)) AS n_orphan_keys,
        (SELECT COUNT(DISTINCT $pk) FROM $p) AS n_parent,
        (SELECT COUNT(*) FROM (SELECT DISTINCT $pk AS k FROM $p
          WHERE $pk IS NOT NULL) pa WHERE NOT EXISTS
          (SELECT 1 FROM $c ch WHERE ch.$ck = pa.k)) AS n_childless_parent"""
      }.mkString("", "\n      UNION ALL", "\n      ORDER BY fk")),
    // X127 sweep-line concurrency: +1 at open, -1 the day after close,
    // running sum over the dense day grid, month rollup.
    "analytics_order_concurrency" -> """
      WITH iv AS (
        SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS open_d,
               GREATEST(CAST(o.o_orderdate AS DATE),
                        MAX(CAST(l.l_shipdate AS DATE))) AS close_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
      deltas AS (
        SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
          SELECT open_d AS day, 1 AS d FROM iv
          UNION ALL SELECT close_d + 1 AS day, -1 AS d FROM iv) t
        GROUP BY day),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM deltas),
      grid AS (SELECT CAST(gd AS DATE) AS day FROM
                 (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS gd
                  FROM span) gg),
      run AS (
        SELECT g.day,
               CAST(SUM(COALESCE(dl.delta, 0))
                 OVER (ORDER BY g.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS open_orders
        FROM grid g LEFT JOIN deltas dl ON dl.day = g.day)
      SELECT strftime(day, '%Y-%m') AS month,
             MAX(open_orders) AS peak_open,
             arg_max(open_orders, day) AS eom_open
      FROM run GROUP BY 1 ORDER BY month""",
    // X128 log2-bucket quantile sketch: integer MSB-position buckets,
    // exact integer ceil target ranks, merge law (direct == merged) in
    // the output rows.
    "agg_log2_quantiles" -> """
      WITH cents AS (
        SELECT o_orderpriority AS scope,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      rws AS (SELECT scope, length(bin(cents)) AS bucket FROM cents),
      per_scope AS (SELECT scope, bucket, COUNT(*) AS cnt FROM rws GROUP BY 1, 2),
      direct AS (SELECT 'all_direct' AS scope, bucket, COUNT(*) AS cnt
                 FROM rws GROUP BY 2),
      merged AS (SELECT 'all_merged' AS scope, bucket,
                   CAST(SUM(cnt) AS BIGINT) AS cnt
                 FROM per_scope GROUP BY 2),
      sk AS (SELECT * FROM per_scope UNION ALL SELECT * FROM direct
             UNION ALL SELECT * FROM merged),
      cum AS (SELECT scope, bucket,
                CAST(SUM(cnt) OVER (PARTITION BY scope ORDER BY bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM sk),
      tot AS (SELECT scope, CAST(SUM(cnt) AS BIGINT) AS n FROM sk GROUP BY 1),
      qs AS (SELECT scope, n, q.qpct,
               CAST((q.qpct * n + 99) // 100 AS BIGINT) AS target
             FROM tot, (SELECT UNNEST(list_value(50, 90, 99)) AS qpct) q)
      SELECT qs.scope, CAST(qs.qpct AS INT) AS qpct, qs.n, qs.target,
             CAST(MIN(c.bucket) AS INT) AS bucket,
             (CAST(1 AS BIGINT) << (MIN(c.bucket) - 1)) AS lo_bound
      FROM qs JOIN cum c ON qs.scope = c.scope AND c.cum >= qs.target
      GROUP BY qs.scope, qs.qpct, qs.n, qs.target
      ORDER BY qs.scope, qs.qpct""",
    // X130 KMV intersection: k=64 smallest distinct user-hash samples
    // per type; θ = 64th smallest of the pair's sample union ('zz'
    // sentinel = sketch saw everything, estimate degrades to the exact
    // sample intersection). Deterministic function of the hash sets —
    // exact-oracled like agg_kmv_distinct.
    "agg_kmv_intersect" -> """
      WITH du AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
      dh AS (SELECT t, md5(CAST(u AS VARCHAR)) AS h FROM du),
      rk AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM dh),
      sk AS (SELECT t, h FROM rk WHERE rn <= 64),
      tp AS (SELECT a.t AS t1, b.t AS t2
             FROM (SELECT DISTINCT t FROM du) a
             JOIN (SELECT DISTINCT t FROM du) b ON a.t < b.t),
      us AS (SELECT tp.t1, tp.t2, s.h FROM tp JOIN sk s ON s.t = tp.t1
             UNION
             SELECT tp.t1, tp.t2, s.h FROM tp JOIN sk s ON s.t = tp.t2),
      ur AS (SELECT t1, t2, h,
                    row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn,
                    COUNT(*) OVER (PARTITION BY t1, t2) AS usz
             FROM us),
      th AS (SELECT t1, t2,
               CASE WHEN MAX(usz) >= 64 THEN MAX(CASE WHEN rn = 64 THEN h END)
                    ELSE 'zz' END AS theta_hex,
               CASE WHEN MAX(usz) >= 64
                    THEN ('0x' || substring(MAX(CASE WHEN rn = 64 THEN h END), 1, 8))::BIGINT
                    ELSE 4294967296 END AS theta
             FROM ur GROUP BY t1, t2),
      cm AS (SELECT th.t1, th.t2, CAST(COUNT(*) AS BIGINT) AS c
             FROM th JOIN sk s1 ON s1.t = th.t1
                     JOIN sk s2 ON s2.t = th.t2 AND s2.h = s1.h
             WHERE s1.h < th.theta_hex
             GROUP BY th.t1, th.t2),
      ex AS (SELECT x.t AS t1, y.t AS t2, CAST(COUNT(*) AS BIGINT) AS exact_common
             FROM du x JOIN du y ON x.u = y.u AND x.t < y.t GROUP BY 1, 2)
      SELECT th.t1, th.t2,
             COALESCE(ex.exact_common, 0) AS exact_common,
             COALESCE(cm.c, 0) AS common_below,
             CAST(th.theta AS BIGINT) AS theta,
             ROUND(COALESCE(cm.c, 0) * 4294967296.0 / th.theta, 6) AS kmv_est
      FROM th LEFT JOIN cm ON th.t1 = cm.t1 AND th.t2 = cm.t2
              LEFT JOIN ex ON th.t1 = ex.t1 AND th.t2 = ex.t2
      ORDER BY th.t1, th.t2""",
    // X145 Kaplan-Meier: censoring-aware survival over the lifetime-day
    // histogram; the product runs as exp(ordered-cumsum of ln terms) —
    // a fixed summation order, portable like the TWAP/PSI floats.
    "analytics_survival_km" -> """
      WITH pc AS (
        SELECT o_custkey,
               MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                 AS first_day,
               MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                 AS last_day
        FROM orders GROUP BY 1),
      mx AS (SELECT MAX(last_day) AS max_day FROM pc),
      lt AS (SELECT last_day - first_day AS t,
                    (last_day > max_day - 90) AS censored
             FROM pc, mx),
      hist AS (SELECT t,
                 CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
                 CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
               FROM lt GROUP BY t),
      tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_total FROM hist),
      rk AS (SELECT t, d, c,
               n_total - (CAST(SUM(d + c) OVER (ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - d - c) AS n_risk
             FROM hist, tot),
      dd AS (SELECT t, d, c, n_risk,
               -- terminal-day guard: d == n_risk exhausts the risk set;
               -- ln(0) throws here and NULLs out on Spark, so S = 0 is
               -- stated explicitly and the log term is gated to d < n
               CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                    THEN 0.0
                    ELSE exp(SUM(CASE WHEN d < n_risk
                        THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                        ELSE 0.0 END)
                      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
               END AS surv
             FROM rk WHERE d > 0)
      SELECT t AS lifetime_days, n_risk, d AS n_deaths, c AS n_censored,
             ROUND(surv, 6) AS survival
      FROM dd ORDER BY lifetime_days""",
    // X140 fertility: the X121 encode machinery aggregated per language.
    "text_bpe_fertility" -> """
      WITH raw AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents),
      wc AS (
        SELECT w, COUNT(*) AS wc FROM raw WHERE length(w) >= 2 GROUP BY w),
      pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
        FROM (SELECT w, wc, unnest(generate_series(1, length(w) - 1)) AS i
              FROM wc) t),
      topm AS (SELECT pair, SUM(wc) AS freq FROM pairs GROUP BY pair
               ORDER BY freq DESC, pair LIMIT 5),
      rk AS (SELECT pair,
                    ROW_NUMBER() OVER (ORDER BY freq DESC, pair) AS rk
             FROM topm),
      mrow AS (SELECT
        MAX(CASE WHEN rk = 1 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s1,
        MAX(CASE WHEN rk = 1 THEN '<' || pair || '>' END) AS r1,
        MAX(CASE WHEN rk = 2 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s2,
        MAX(CASE WHEN rk = 2 THEN '<' || pair || '>' END) AS r2,
        MAX(CASE WHEN rk = 3 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s3,
        MAX(CASE WHEN rk = 3 THEN '<' || pair || '>' END) AS r3,
        MAX(CASE WHEN rk = 4 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s4,
        MAX(CASE WHEN rk = 4 THEN '<' || pair || '>' END) AS r4,
        MAX(CASE WHEN rk = 5 THEN '<' || substr(pair,1,1) || '><' || substr(pair,2,1) || '>' END) AS s5,
        MAX(CASE WHEN rk = 5 THEN '<' || pair || '>' END) AS r5
       FROM rk),
      words AS (
        SELECT doc_id, w[i] AS word
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                       t -> t <> '') AS w
                    FROM documents) d) t),
      enc AS (
        SELECT doc_id, word,
               replace(replace(replace(replace(replace(
                 regexp_replace(word, '(.)', '<\1>', 'g'),
                 s1, r1), s2, r2), s3, r3), s4, r4), s5, r5) AS e
        FROM words, mrow)
      SELECT d.lang, CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(e.e) - length(replace(e.e, '<', ''))) AS BIGINT)
               AS n_bpe_tokens,
             ROUND(CAST(SUM(length(e.e) - length(replace(e.e, '<', '')))
                     AS DOUBLE) / COUNT(*), 6) AS fertility,
             ROUND(CAST(SUM(length(e.e) - length(replace(e.e, '<', '')))
                     AS DOUBLE) / CAST(SUM(length(e.word)) AS BIGINT), 6)
               AS compression
      FROM enc e JOIN documents d ON e.doc_id = d.doc_id
      GROUP BY d.lang ORDER BY d.lang""",
    // X141 bot regularity: integer µs gaps, DECIMAL(38,0) moments,
    // cv = sqrt(n*Σg²−(Σg)²)/Σg with IEEE only in the last two ops.
    "events_bot_regularity" -> """
      WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                        event_id FROM events),
      g AS (SELECT user_id,
                   us - LAG(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS g
            FROM e),
      a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
              CAST(SUM(g) AS BIGINT) AS sg,
              CAST(SUM(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS sg2
            FROM g WHERE g IS NOT NULL GROUP BY user_id)
      SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_us,
             ROUND(sqrt(CAST(CAST(n_gaps AS DECIMAL(38,0)) * sg2 -
                 CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)) /
               CAST(sg AS DOUBLE), 6) AS cv,
             (ROUND(sqrt(CAST(CAST(n_gaps AS DECIMAL(38,0)) * sg2 -
                 CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)) /
               CAST(sg AS DOUBLE), 6) < 0.5) AS bot_like
      FROM a ORDER BY user_id""",
    // X148 CUSUM: S_i = cum(x)*N - i*T, exact BIGINT partial sums,
    // argmax by (|S| desc, day asc).
    "events_changepoint_cusum" -> """
      WITH daily AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      st AS (
        SELECT event_type, day_num, x,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
               CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total,
               CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day_num
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cx,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY day_num) AS BIGINT) AS i
        FROM daily),
      s AS (SELECT event_type, day_num, n_days, total,
                   cx * n_days - i * total AS sv
            FROM st),
      best AS (
        SELECT event_type, day_num, n_days, total, sv,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY abs(sv) DESC, day_num) AS rk
        FROM s)
      SELECT event_type, n_days, total, day_num AS cp_day, sv AS s_at_cp,
             ROUND(CAST(abs(sv) AS DOUBLE) / (n_days * total), 6) AS rel_dev
      FROM best WHERE rk = 1 ORDER BY event_type""",
    // X149 power curve: active-days histogram + running share.
    // X166 stickiness: one day-range join over the (day, user) distinct
    // relation, conditional distinct counts for the three horizons.
    "events_stickiness" -> """
      WITH du AS (
        SELECT DISTINCT
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               user_id
        FROM events),
      days AS (SELECT DISTINCT day_num AS d FROM du)
      SELECT d AS day_num,
             CAST(COUNT(DISTINCT CASE WHEN du.day_num = d
               THEN du.user_id END) AS BIGINT) AS dau,
             CAST(COUNT(DISTINCT CASE WHEN du.day_num >= d - 6
               THEN du.user_id END) AS BIGINT) AS wau,
             CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS mau,
             ROUND(CAST(COUNT(DISTINCT CASE WHEN du.day_num = d
               THEN du.user_id END) AS DOUBLE) /
               COUNT(DISTINCT du.user_id), 6) AS stickiness
      FROM days JOIN du ON du.day_num >= d - 29 AND du.day_num <= d
      GROUP BY d ORDER BY day_num""",
    // X183 seasonal-naive backtest: lag-7 count as forecast, exact
    // integer error sums, RMSE one fixed sqrt expression.
    "events_forecast_baseline" -> """
      WITH daily AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      j AS (SELECT d.event_type, d.c, f.c AS f
            FROM daily d JOIN daily f ON f.event_type = d.event_type
              AND f.day_num = d.day_num - 7)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(c - f)) AS BIGINT) AS total_abs_err,
             ROUND(CAST(SUM(ABS(c - f)) AS DOUBLE) / COUNT(*), 6) AS mae,
             CAST(SUM(c - f) AS BIGINT) AS bias,
             ROUND(sqrt(CAST(SUM((c - f) * (c - f)) AS DOUBLE) / COUNT(*)), 6)
               AS rmse
      FROM j GROUP BY event_type ORDER BY event_type""",
    // X192 peak detection: +/-3-observed-day strict local maximum AND
    // strictly above the type mean via the integer cross-product
    // c * n_days > total (no float reaches the decision).
    "events_peak_detection" -> """
      WITH daily AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, day_num, c,
              COALESCE(MAX(c) OVER (PARTITION BY event_type ORDER BY day_num
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS prev3_max,
              COALESCE(MAX(c) OVER (PARTITION BY event_type ORDER BY day_num
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING), 0) AS next3_max,
              COUNT(*) OVER (PARTITION BY event_type) AS n_days,
              SUM(c) OVER (PARTITION BY event_type) AS total
            FROM daily)
      SELECT event_type, day_num, c AS n_events, prev3_max, next3_max
      FROM w
      WHERE c > prev3_max AND c > next3_max AND c * n_days > total
      ORDER BY event_type, day_num""",
    // X209 SLO burn: integer cross-product alert decisions
    // (14.4x / 6x of a 5% objective); 7-observed-day trailing frame.
    "events_slo_burn" -> """
      WITH daily AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS BIGINT) AS errors,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM events GROUP BY 1),
      w AS (SELECT day_num, errors, total,
              CAST(SUM(errors) OVER (ORDER BY day_num
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
                AS errors7,
              CAST(SUM(total) OVER (ORDER BY day_num
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
                AS total7
            FROM daily)
      SELECT day_num, errors, total,
             ROUND(CAST(errors AS DOUBLE) / total, 6) AS error_rate,
             ROUND(CAST(errors7 AS DOUBLE) / total7, 6) AS error_rate_7d,
             errors * 1000 > total * 720 AS fast_burn,
             errors7 * 100 > total7 * 30 AS slow_burn
      FROM w ORDER BY day_num""",
    // X167 EWMA: half-life-one-day weights are exact powers of two, so
    // numerator and denominator are BIGINT sums over the 20-day band
    // self-join of the daily count relation; one final IEEE division.
    "events_ewma" -> """
      WITH daily AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2)
      SELECT d.event_type, d.day_num, d.n_events AS n_today,
             ROUND(CAST(SUM(j.n_events * (CAST(1 AS BIGINT) <<
                 CAST(19 - (d.day_num - j.day_num) AS INT))) AS DOUBLE) /
               SUM(CAST(1 AS BIGINT) <<
                 CAST(19 - (d.day_num - j.day_num) AS INT)), 6) AS ewma
      FROM daily d JOIN daily j ON j.event_type = d.event_type
        AND j.day_num BETWEEN d.day_num - 19 AND d.day_num
      GROUP BY d.event_type, d.day_num, d.n_events
      ORDER BY d.event_type, d.day_num""",
    // X168 Markov steady-state: 6dp-DECIMAL transition matrix, four
    // unrolled power-iteration rounds, each an EXACT decimal
    // sum-of-products rounded back to 6dp; one previous-round reference
    // per round (the CTE-inlining rule).
    "events_markov_steady" -> ("""
      WITH st AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
        FROM events),
      cnt AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM st WHERE to_type IS NOT NULL GROUP BY 1, 2),
      p AS MATERIALIZED (SELECT from_type, to_type,
             CAST(ROUND(CAST(n AS DOUBLE) /
               SUM(n) OVER (PARTITION BY from_type), 6) AS DECIMAL(18,6)) AS p
           FROM cnt),
      types AS (SELECT DISTINCT from_type AS event_type FROM p),
      pi0 AS (SELECT event_type,
                CAST(ROUND(CAST(1 AS DOUBLE) / (SELECT COUNT(*) FROM types),
                  6) AS DECIMAL(18,6)) AS prob FROM types),
""" + (1 to 4).map(k => s"""      pi$k AS MATERIALIZED (
        SELECT p.to_type AS event_type,
               CAST(ROUND(SUM(pi${k - 1}.prob * p.p), 6) AS DECIMAL(18,6)) AS prob
        FROM pi${k - 1} JOIN p ON p.from_type = pi${k - 1}.event_type
        GROUP BY p.to_type)""").mkString(",\n") + "\n" +
      (0 to 4).map(k =>
        s"""      SELECT CAST($k AS BIGINT) AS round_idx, event_type,
               CAST(prob AS DOUBLE) AS prob FROM pi$k""")
        .mkString("\n      UNION ALL\n") + """
      ORDER BY round_idx, event_type"""),
    // X174 growth accounting: one lag/lead window over the distinct
    // (user, day) relation; churn emitted at d+1 (incl. after the
    // final active day — the trailing day is churn-only).
    "events_growth_accounting" -> """
      WITH um AS (
        SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS mi
        FROM events),
      t AS (SELECT user_id, mi,
              LAG(mi) OVER (PARTITION BY user_id ORDER BY mi) AS prev_mi,
              LEAD(mi) OVER (PARTITION BY user_id ORDER BY mi) AS next_mi
            FROM um),
      cls AS (
        SELECT mi, CASE WHEN prev_mi IS NULL THEN 'new'
                        WHEN prev_mi = mi - 1 THEN 'retained'
                        ELSE 'resurrected' END AS cls FROM t
        UNION ALL
        SELECT mi + 1, 'churned' FROM t
        WHERE next_mi IS NULL OR next_mi > mi + 1)
      SELECT mi AS day_idx,
        CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        CAST(SUM(CASE WHEN cls = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) +
             SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) -
             SUM(CASE WHEN cls = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
          AS net_growth
      FROM cls GROUP BY mi ORDER BY day_idx""",
    // X161 seasonality: ≤168-cell hour-of-week grid, weekday-partitioned
    // windows only; isodow == Spark weekday + 1 (dialect-mapped).
    "events_seasonality" -> """
      WITH e AS (
        SELECT isodow(CAST(ts AS TIMESTAMP)) AS dow,
               hour(CAST(ts AS TIMESTAMP)) AS hr
        FROM events),
      c AS (
        SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM e GROUP BY dow, hr),
      x AS (
        SELECT dow, hr, n_events,
               CAST(SUM(n_events) OVER (PARTITION BY dow) AS BIGINT)
                 AS dow_total,
               ROW_NUMBER() OVER (PARTITION BY dow
                 ORDER BY n_events DESC, hr) AS rk
        FROM c)
      SELECT dow, hr, n_events,
             ROUND(CAST(n_events AS DOUBLE) / dow_total, 6) AS dow_share,
             (rk = 1) AS is_dow_peak
      FROM x ORDER BY dow, hr""",
    "events_power_curve" -> """
      WITH ad AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days
        FROM (SELECT DISTINCT user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
              FROM events) t
        GROUP BY user_id),
      hist AS (SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
               FROM ad GROUP BY active_days),
      tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM hist)
      SELECT active_days, n_users,
             CAST(SUM(n_users) OVER (ORDER BY active_days
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
             ROUND(CAST(SUM(n_users) OVER (ORDER BY active_days
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_total, 6) AS cum_share
      FROM hist, tot ORDER BY active_days""",
    // X150 assortativity: Pearson of endpoint degrees over the
    // symmetrized edge list, DECIMAL(38,0) moments, one sqrt/division.
    "graph_assortativity" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      nid AS (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und),
      dg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM nid GROUP BY id),
      pr AS (SELECT da.d AS x, db.d AS y
             FROM und JOIN dg da ON da.id = und.a JOIN dg db ON db.id = und.b),
      sym AS (SELECT x, y FROM pr UNION ALL SELECT y AS x, x AS y FROM pr),
      mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
             FROM sym)
      SELECT n // 2 AS n_edges,
             ROUND(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) /
               (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE))), 6)
               AS assortativity,
             ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_deg
      FROM mo""",
    // X169 components: 24 unrolled min-label propagation rounds over the
    // min-support-2 co-order graph (fixpoint at 11 rounds on the sf0.01
    // fixture — the star-contraction engine needs only O(log n)). Every
    // round is MATERIALIZED: DuckDB's join-order planner is super-linear
    // in the inlined chain depth (the un-hinted 24-round chain planned
    // for ~100 s; materialized it runs in 0.2 s), and the Spark replay
    // strips the hint. One previous-round reference per round.
    "graph_components" -> ("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT a, b FROM (
              SELECT x.pk AS a, y.pk AS b, COUNT(*) AS w
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
              GROUP BY x.pk, y.pk) t
             WHERE w >= 2),
      symx AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b, a FROM e0
        UNION ALL SELECT DISTINCT n, n
          FROM (SELECT a AS n FROM e0 UNION SELECT b AS n FROM e0) t),
      l0 AS (SELECT DISTINCT u AS id, u AS lab FROM symx),
""" + (1 to 24).map(k => s"""      l$k AS MATERIALIZED (
        SELECT s.u AS id, MIN(l.lab) AS lab
        FROM symx s JOIN l${k - 1} l ON l.id = s.v GROUP BY s.u)""")
      .mkString(",\n") + """
      SELECT id AS part_id, lab AS component,
             CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT) AS component_size
      FROM l24 ORDER BY part_id"""),
    // X175 two-hop reach: wedge join on the shared middle vertex over
    // the same min-support-2 graph as X169, distinct-counted per source.
    "graph_two_hop" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT a, b FROM (
              SELECT x.pk AS a, y.pk AS b, COUNT(*) AS w
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
              GROUP BY x.pk, y.pk) t
             WHERE w >= 2),
      sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b, a FROM e0),
      reach AS (
        SELECT DISTINCT u, w FROM (
          SELECT x.u AS u, y.v AS w
          FROM sym x JOIN sym y ON x.v = y.u
          UNION ALL SELECT u, v AS w FROM sym) t
        WHERE u <> w)
      SELECT u AS part_id, CAST(COUNT(*) AS BIGINT) AS n_two_hop
      FROM reach GROUP BY u ORDER BY part_id""",
    // X186 deterministic random walks: per-node ranked adjacency over
    // the min-support-2 graph; step t picks rank md5(start_t_node) mod
    // deg (the X160 hash-fold idiom) — three unrolled steps, each
    // referencing the previous once, MATERIALIZED.
    "graph_random_walks" -> WALKS_SQL,
    // X206 skip-gram co-occurrence: the walk corpus embedded verbatim,
    // +/-2-step in-walk pairs canonicalized and counted.
    "graph_walk_cooccurrence" -> ("""
      WITH w AS (""" + WALKS_SQL + """),
      pr AS (SELECT a.start_id, a.node AS na, b.node AS nb
             FROM w a JOIN w b ON b.start_id = a.start_id
              AND b.step > a.step AND b.step - a.step <= 2
              AND a.node <> b.node)
      SELECT LEAST(na, nb) AS a, GREATEST(na, nb) AS b,
             CAST(COUNT(*) AS BIGINT) AS cooc
      FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a, b"""),
    // X208 rich-club curve: threshold panel band-joins the
    // degree-annotated edge relation; phi one final 6dp division.
    "graph_rich_club" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS MATERIALIZED (SELECT a, b FROM (
              SELECT x.pk AS a, y.pk AS b, COUNT(*) AS w
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
              GROUP BY x.pk, y.pk) t
             WHERE w >= 2),
      deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
               SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0) u
              GROUP BY id),
      ed AS (SELECT e0.a, e0.b, da.deg AS dega, db.deg AS degb
             FROM e0 JOIN deg da ON da.id = e0.a
                     JOIN deg db ON db.id = e0.b),
      ks AS (SELECT CAST(kv AS BIGINT) AS k FROM
              (SELECT unnest(list_value(1, 2, 3, 4, 6, 8)) AS kv) t),
      nk AS (SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM deg CROSS JOIN ks WHERE deg.deg > ks.k GROUP BY ks.k),
      ek AS (SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_edges
             FROM ed CROSS JOIN ks
             WHERE ed.dega > ks.k AND ed.degb > ks.k GROUP BY ks.k)
      SELECT ks.k, COALESCE(nk.n_nodes, 0) AS n_nodes,
             COALESCE(ek.n_edges, 0) AS n_edges,
             CASE WHEN COALESCE(nk.n_nodes, 0) >= 2 THEN
               ROUND(CAST(2 AS DOUBLE) * COALESCE(ek.n_edges, 0) /
                 (nk.n_nodes * (nk.n_nodes - 1)), 6) END AS phi
      FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
      ORDER BY ks.k""",
    // X151 entropy: count-of-counts collapse + ORDERED running
    // m*c*ln(c) sum (fixed summation order, the TWAP/KM float rule).
    "dq_entropy_profile" -> """
      WITH cells AS (
        SELECT 'documents' AS tbl, 'lang' AS col, CAST(lang AS VARCHAR) AS v FROM documents
        UNION ALL SELECT 'documents', 'source', CAST(source AS VARCHAR) FROM documents
        UNION ALL SELECT 'documents', 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        UNION ALL SELECT 'events', 'event_type', CAST(event_type AS VARCHAR) FROM events
        UNION ALL SELECT 'events', 'user_id', CAST(user_id AS VARCHAR) FROM events
        UNION ALL SELECT 'orders', 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL SELECT 'orders', 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders),
      vc AS (SELECT tbl, col, v, CAST(COUNT(*) AS BIGINT) AS c
             FROM cells WHERE v IS NOT NULL GROUP BY 1, 2, 3),
      coc AS (SELECT tbl, col, c, CAST(COUNT(*) AS BIGINT) AS m
              FROM vc GROUP BY 1, 2, 3),
      cum AS (SELECT tbl, col, c, m,
                SUM((CAST(m AS DOUBLE) * c) * ln(c))
                  OVER (PARTITION BY tbl, col ORDER BY c
                        ROWS UNBOUNDED PRECEDING) AS cum_clnc
              FROM coc),
      ag AS (SELECT tbl, col,
               CAST(SUM(c * m) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS n_distinct,
               max_by(cum_clnc, c) AS sum_clnc
             FROM cum GROUP BY 1, 2)
      SELECT tbl, col, n, n_distinct,
             ROUND(ln(n) - sum_clnc / n, 6) AS entropy,
             ROUND(ln(n_distinct), 6) AS max_entropy,
             CASE WHEN n_distinct > 1 THEN
               ROUND((ln(n) - sum_clnc / n) / ln(n_distinct), 6)
             END AS norm_entropy
      FROM ag ORDER BY tbl, col""",
    // X147 recall curve: exact vs same-bucket LSH rankings per query,
    // matches/k over the (query, k) grid; tie-break on vec_id makes the
    // whole curve a deterministic exact rational.
    "embed_recall_curve" -> """
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b WHERE vec_id < 8),
      sc AS (SELECT q.qid, b.vec_id,
               list_dot_product(b.v, q.qv) /
                 (sqrt(list_dot_product(b.v, b.v)) *
                  sqrt(list_dot_product(q.qv, q.qv))) AS c,
               (b.bucket = q.qb) AS in_bucket
             FROM b, q WHERE b.vec_id <> q.qid),
      ex AS (SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS r_exact
             FROM sc),
      ls AS (SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS r_lsh
             FROM sc WHERE in_bucket),
      bt AS (SELECT e.qid, e.vec_id, e.r_exact, l.r_lsh
             FROM ex e JOIN ls l ON e.qid = l.qid AND e.vec_id = l.vec_id
             WHERE e.r_exact <= 20 AND l.r_lsh <= 20),
      ks AS (SELECT UNNEST(list_value(1, 5, 10, 20)) AS k),
      grid AS (SELECT q.qid, ks.k FROM q, ks),
      mt AS (SELECT bt.qid, ks.k, CAST(COUNT(*) AS BIGINT) AS n_match
             FROM bt, ks WHERE bt.r_exact <= ks.k AND bt.r_lsh <= ks.k
             GROUP BY 1, 2)
      SELECT g.qid, CAST(g.k AS INT) AS k,
             COALESCE(mt.n_match, 0) AS n_match,
             ROUND(CAST(COALESCE(mt.n_match, 0) AS DOUBLE) / g.k, 6)
               AS recall_at_k
      FROM grid g LEFT JOIN mt ON g.qid = mt.qid AND g.k = mt.k
      ORDER BY g.qid, g.k""",
    // X142 threshold sweep: counts over the SAME bucketed pair relation
    // as dedup_embed_pairs, swept on the 6-dp rounded cosine.
    "dedup_threshold_sweep" -> """
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      p AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb,
               ROUND(list_dot_product(a.v, b2.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b2.v, b2.v))), 6) AS c
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE list_dot_product(a.v, b2.v) /
                (sqrt(list_dot_product(a.v, a.v)) *
                 sqrt(list_dot_product(b2.v, b2.v))) >= 0.35),
      th AS (SELECT CAST(u AS DOUBLE) AS threshold FROM (SELECT
               UNNEST(list_value(0.35, 0.37, 0.39, 0.41, 0.43)) AS u) uu),
      t AS (SELECT th.threshold, p.va, p.vb FROM th JOIN p ON p.c >= th.threshold),
      np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM t GROUP BY 1),
      nd AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_docs_in_pairs
             FROM (SELECT DISTINCT threshold, v FROM
                   (SELECT threshold, va AS v FROM t
                    UNION ALL SELECT threshold, vb AS v FROM t) u) du
             GROUP BY 1)
      SELECT th.threshold, COALESCE(np.n_pairs, 0) AS n_pairs,
             COALESCE(nd.n_docs_in_pairs, 0) AS n_docs_in_pairs
      FROM th LEFT JOIN np ON th.threshold = np.threshold
              LEFT JOIN nd ON th.threshold = nd.threshold
      ORDER BY th.threshold""",
    // X137 RFM: fixed business thresholds, integer compares, DECIMAL
    // monetary, one division in the segment average.
    // X164 skew/kurtosis: integer-cents power sums in DECIMAL(38,0)
    // (order-free exact), shape ratios one fixed double expression;
    // m2^1.5 spelled m2*sqrt(m2) (pow is not cross-engine ulp-stable).
    "analytics_skew_kurtosis" -> """
      WITH w AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS w,
               CAST(ROUND(value * 100) AS BIGINT) *
                 CAST(ROUND(value * 100) AS BIGINT) AS w2
        FROM events),
      s AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
               CAST(SUM(CAST(w2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(w2 AS DECIMAL(38,0)) * w) AS DECIMAL(38,0)) AS s3,
               CAST(SUM(CAST(w2 AS DECIMAL(38,0)) * w2) AS DECIMAL(38,0)) AS s4
        FROM w GROUP BY event_type),
      m AS (
        SELECT event_type, n,
               ROUND(CAST(s1 AS DOUBLE) / n / 100, 6) AS mean_value,
               CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2c,
               CAST(s3 AS DOUBLE) / n
                 - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                 + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) AS m3c,
               CAST(s4 AS DOUBLE) / n
                 - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                 + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s2 AS DOUBLE) / n)
                 - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4c
        FROM s)
      SELECT event_type, n, mean_value,
             ROUND(sqrt(m2c) / 100, 6) AS sd_value,
             ROUND(m3c / (m2c * sqrt(m2c)), 6) AS skewness,
             ROUND(m4c / (m2c * m2c) - 3, 6) AS excess_kurtosis
      FROM m ORDER BY event_type""",
    // X159 Gini: exact decimal revenues + integer ranks; numerator and
    // denominator cross into DOUBLE only at the end (a decimal 2*s_irev
    // would pass DuckDB's precision-38 cap).
    "analytics_gini" -> """
      WITH rev AS (
        SELECT o_custkey AS ck,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY o_custkey),
      rk AS (
        SELECT rev, ck, ROW_NUMBER() OVER (ORDER BY rev, ck) AS i FROM rev),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS total,
               SUM(i * rev) AS s_irev
        FROM rk)
      SELECT n AS n_customers,
             CAST(total AS DECIMAL(18,2)) AS total_revenue,
             ROUND((2 * CAST(s_irev AS DOUBLE) -
               CAST(n + 1 AS DOUBLE) * CAST(total AS DOUBLE)) /
               (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS gini
      FROM agg""",
    // X173 ABC/XYZ: revenue in integer 10⁻⁴-dollar units (each FACTOR
    // cast to decimal — the tpch_q1 rule; the double product ties at
    // half-cents), integer cross-multiplied share and CV thresholds —
    // no float reaches a class decision.
    "analytics_abc_xyz" -> """
      WITH rev AS (
        SELECT l_partkey AS pk,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000
                 AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem GROUP BY l_partkey),
      tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS total_c FROM rev),
      c AS (SELECT pk, rev_c,
              CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, pk
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM rev),
      abc AS (SELECT pk, rev_c,
                CASE WHEN (cum - rev_c) * 5 < total_c * 4 THEN 'A'
                     WHEN (cum - rev_c) * 20 < total_c * 19 THEN 'B'
                     ELSE 'C' END AS abc_class
              FROM c, tot),
      wk AS (SELECT l_partkey AS pk,
                    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 604800000000
                      AS week,
                    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
             FROM lineitem GROUP BY 1, 2),
      mom AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS nw,
                     CAST(SUM(x) AS BIGINT) AS s,
                     CAST(SUM(x * x) AS BIGINT) AS q2 FROM wk GROUP BY pk),
      xyz AS (SELECT pk,
                CASE WHEN (nw * q2 - s * s) * 4 <= s * s THEN 'X'
                     WHEN nw * q2 - s * s <= s * s THEN 'Y'
                     ELSE 'Z' END AS xyz_class FROM mom)
      SELECT a.abc_class, x.xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
             ROUND(CAST(SUM(a.rev_c) AS DOUBLE) / 10000, 2) AS revenue
      FROM abc a JOIN xyz x ON x.pk = a.pk
      GROUP BY 1, 2 ORDER BY abc_class, xyz_class""",
    "analytics_rfm" -> """
      WITH pc AS (
        SELECT o_custkey AS ck,
               MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                 AS last_day,
               COUNT(*) AS freq,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY 1),
      mx AS (SELECT MAX(last_day) AS max_day FROM pc),
      sc AS (
        SELECT ck, freq, monetary, max_day - last_day AS rec_days,
          CASE WHEN max_day - last_day <= 365 THEN 3
               WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END AS r,
          CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END AS f,
          CASE WHEN monetary >= 2000000 THEN 3
               WHEN monetary >= 1000000 THEN 2 ELSE 1 END AS m
        FROM pc, mx),
      seg AS (SELECT *,
          CASE WHEN r = 3 AND f + m >= 5 THEN 'champion'
               WHEN r = 3 THEN 'recent'
               WHEN r = 2 AND f + m >= 5 THEN 'loyal'
               WHEN r = 2 THEN 'warm'
               WHEN f + m >= 5 THEN 'at_risk'
               ELSE 'hibernating' END AS segment
        FROM sc)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(freq) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(monetary) AS DOUBLE) / COUNT(*), 2) AS avg_monetary,
             MIN(rec_days) AS min_rec_days, MAX(rec_days) AS max_rec_days
      FROM seg GROUP BY segment ORDER BY segment""",
    // X138 three-way merge: per-key change classification against base,
    // identical edits accepted, divergence surfaced (never auto-resolved).
    "warehouse_three_way_merge" -> """
      WITH base AS (SELECT c_custkey AS key,
                           CAST(c_acctbal AS DECIMAL(18,2)) AS base_val
                    FROM customer),
      mine AS (SELECT key, CASE WHEN key % 3 = 0 THEN base_val + 100
                               ELSE base_val END AS mine_val
               FROM base WHERE key % 7 <> 0),
      theirs AS (SELECT key, CASE WHEN key % 4 = 0 THEN base_val + 200
                                 ELSE base_val END AS theirs_val
                 FROM base WHERE key % 5 <> 0),
      j AS (SELECT b.key, b.base_val, m.mine_val, t.theirs_val,
                   (m.mine_val IS NULL OR m.mine_val <> b.base_val) AS mc,
                   (t.theirs_val IS NULL OR t.theirs_val <> b.base_val) AS tc
            FROM base b LEFT JOIN mine m ON b.key = m.key
                        LEFT JOIN theirs t ON b.key = t.key)
      SELECT key,
        CASE WHEN NOT mc AND NOT tc THEN 'unchanged'
             WHEN mc AND NOT tc THEN 'take_mine'
             WHEN NOT mc AND tc THEN 'take_theirs'
             WHEN mine_val IS NULL AND theirs_val IS NULL THEN 'both_deleted'
             WHEN mine_val IS NOT DISTINCT FROM theirs_val THEN 'both_same'
             WHEN mine_val IS NULL OR theirs_val IS NULL
               THEN 'conflict_delete_update'
             ELSE 'conflict_update_update' END AS resolution,
        CAST(base_val AS DOUBLE) AS base_val,
        CAST(mine_val AS DOUBLE) AS mine_val,
        CAST(theirs_val AS DOUBLE) AS theirs_val,
        CAST(CASE WHEN NOT mc AND NOT tc THEN base_val
                  WHEN mc AND NOT tc THEN mine_val
                  WHEN NOT mc AND tc THEN theirs_val
                  WHEN mine_val IS NOT DISTINCT FROM theirs_val THEN mine_val
             END AS DOUBLE) AS merged_val
      FROM j ORDER BY key""",
    // X139 PSI drift: fixed 50-unit value bands, first vs second half of
    // the date range, per-band (pa-pb)*ln(pa/pb) terms with the
    // missing-band NULL guard.
    // X184 KS: band-free drift test over the same half-split as PSI;
    // integer cross-product D numerator, DECIMAL(38,0)×BIGINT verdict.
    "dq_ks_test" -> """
      WITH ev AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE "value" IS NOT NULL),
      mid AS (SELECT (MIN(day_num) + MAX(day_num) + 1) // 2 AS mid FROM ev),
      counts AS (
        SELECT event_type, cents,
               CAST(SUM(CASE WHEN day_num < mid THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN day_num >= mid THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM ev, mid GROUP BY 1, 2),
      cw AS (
        SELECT event_type, na, nb,
               SUM(na) OVER (PARTITION BY event_type ORDER BY cents
                 ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(nb) OVER (PARTITION BY event_type ORDER BY cents
                 ROWS UNBOUNDED PRECEDING) AS cum_b,
               SUM(na) OVER (PARTITION BY event_type) AS tot_a,
               SUM(nb) OVER (PARTITION BY event_type) AS tot_b
        FROM counts),
      agg AS (
        SELECT event_type, CAST(MAX(tot_a) AS BIGINT) AS n_a,
               CAST(MAX(tot_b) AS BIGINT) AS n_b,
               CAST(MAX(ABS(cum_a * tot_b - cum_b * tot_a)) AS BIGINT) AS d_num
        FROM cw GROUP BY event_type)
      SELECT event_type, n_a, n_b,
             ROUND(CAST(d_num AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_stat,
             CAST(d_num AS DECIMAL(38,0)) * d_num * 10000 >
               CAST(n_a + n_b AS DECIMAL(38,0)) * 18496 * n_a * n_b
               AS is_significant
      FROM agg ORDER BY event_type""",
    "dq_psi_drift" -> """
      WITH ev AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
               LEAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000,
                     CAST(9 AS BIGINT)) AS band
        FROM events),
      mid AS (SELECT (MIN(day_num) + MAX(day_num) + 1) // 2 AS mid FROM ev),
      c AS (SELECT event_type, band,
              CAST(SUM(CASE WHEN day_num < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN day_num >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM ev, mid GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS tot_a,
                   CAST(SUM(n_b) AS BIGINT) AS tot_b
            FROM c GROUP BY 1)
      SELECT c.event_type, c.band, c.n_a, c.n_b,
             ROUND(CAST(c.n_a AS DOUBLE) / tot_a, 6) AS p_a,
             ROUND(CAST(c.n_b AS DOUBLE) / tot_b, 6) AS p_b,
             CASE WHEN c.n_a > 0 AND c.n_b > 0 THEN
               ROUND((CAST(c.n_a AS DOUBLE) / tot_a -
                      CAST(c.n_b AS DOUBLE) / tot_b)
                     * ln(CAST(c.n_a AS DOUBLE) / tot_a /
                          (CAST(c.n_b AS DOUBLE) / tot_b)), 6)
             END AS psi_term
      FROM c JOIN t ON c.event_type = t.event_type
      ORDER BY c.event_type, c.band""",
    // X135 grid clustering: dense-cell adjacency merged by 64 unrolled
    // min-label propagation rounds (the fixture's cell chains run 39
    // deep — GridClusterSpec asserts the driver-side propagation round
    // count stays within the unroll, the loud-not-silent bound
    // contract). Each round is a SINGLE reference to the previous
    // label relation (self-loops in `edges` fold "min of self and
    // neighbours" into one join+MIN), so the 64-CTE chain inlines
    // linearly in any engine — a two-reference round would expand 2^64.
    "spatial_grid_clusters" -> ("""
      WITH pts AS (
        SELECT (c_custkey * 5761) % 10000 AS x,
               ((c_custkey * 5761) // 10000) % 10000 AS y
        FROM customer),
      cells AS (SELECT x // 250 AS cx, y // 250 AS cy, COUNT(*) AS n
                FROM pts GROUP BY 1, 2),
      dense AS (SELECT cx, cy, n, cx * 40 + cy AS id FROM cells WHERE n >= 4),
      adj AS MATERIALIZED (
        SELECT a.id AS u, b.id AS v FROM dense a JOIN dense b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
      l0 AS (SELECT id AS c, id AS v FROM dense)""" +
      (1 to 64).map(k => s""",
      l$k AS MATERIALIZED (
        SELECT e.u AS c, MIN(l.v) AS v FROM adj e
        JOIN l${k - 1} l ON l.c = e.v GROUP BY e.u
      )""").mkString + """
      SELECT d.cx, d.cy, d.n AS n_points, l64.v AS cluster_id
      FROM dense d JOIN l64 ON l64.c = d.id
      ORDER BY d.cx, d.cy"""),
    // X136 perceptual hash: the oracle recomputes the aHash bits
    // ARITHMETICALLY from the stated test-card raster (no codec), then
    // brute-forces the quadratic pair space — agreement proves both the
    // real decode path and the pigeonhole half-blocking lossless.
    "multimodal_phash" -> """
      WITH g AS (SELECT UNNEST(generate_series(0, 7)) AS i),
      px AS (
        SELECT d.doc_id, y.i * 8 + x.i AS bit,
               ((31 * d.doc_id + 7 * ((x.i * (8 + d.doc_id % 9)) // 8)
                 + 13 * ((y.i * (8 + d.n_chars % 9)) // 8)) % 256) AS v
        FROM documents d, g x, g y),
      s AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sm FROM px GROUP BY doc_id),
      h AS (SELECT px.doc_id,
              CAST(SUM(CASE WHEN px.v * 64 > s.sm AND px.bit < 32
                   THEN (CAST(1 AS BIGINT) << CAST(px.bit AS INT)) ELSE 0 END)
                AS BIGINT) AS lo,
              CAST(SUM(CASE WHEN px.v * 64 > s.sm AND px.bit >= 32
                   THEN (CAST(1 AS BIGINT) << CAST(px.bit - 32 AS INT)) ELSE 0 END)
                AS BIGINT) AS hi
            FROM px JOIN s ON px.doc_id = s.doc_id GROUP BY px.doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
               AS hamming
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 1
      ORDER BY doc_a, doc_b""",
    // X133 bitemporal: per (T-cut, V-cut, key) the op maximizing
    // (eff, seq) among {seq <= T, eff <= V}; 'D' winners are tombstones.
    "warehouse_bitemporal" -> """
      WITH lg AS (
        SELECT doc_id AS seq, doc_id % 97 AS key,
               CASE WHEN doc_id % 11 = 7 THEN 'D'
                    WHEN doc_id % 3 = 0 THEN 'I' ELSE 'U' END AS op,
               n_chars AS val, doc_id % 50 AS eff
        FROM documents),
      grid AS (
        SELECT CAST(tver AS BIGINT) AS tver,
               (mx * tver) // 2 AS tcut,
               CAST(vcut AS BIGINT) AS vcut
        FROM (SELECT MAX(seq) AS mx FROM lg),
             (SELECT UNNEST(list_value(1, 2)) AS tver),
             (SELECT UNNEST(list_value(24, 49)) AS vcut)),
      cand AS (
        SELECT g.tver, g.tcut, g.vcut, l.key, l.eff, l.seq, l.op, l.val,
               row_number() OVER (PARTITION BY g.tver, g.vcut, l.key
                                  ORDER BY l.eff DESC, l.seq DESC) AS rn
        FROM lg l JOIN grid g ON l.seq <= g.tcut AND l.eff <= g.vcut)
      SELECT tver, tcut, vcut, key, eff, seq, op, val
      FROM cand WHERE rn = 1 AND op <> 'D'
      ORDER BY tver, vcut, key""",
    // X134 Benford: digits off the exact DECIMAL cents; reference
    // probabilities are 6-dp literals (no engine transcendentals).
    "dq_benford" -> """
      WITH d AS (
        SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders),
      c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      b AS (SELECT * FROM (VALUES
        (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        (9, 0.045757)) AS v(digit, benford_pct))
      SELECT c.digit, c.n,
             ROUND(CAST(c.n AS DOUBLE) / total, 6) AS observed_pct,
             CAST(b.benford_pct AS DOUBLE) AS benford_pct,
             ROUND(abs(CAST(c.n AS DOUBLE) / total -
               CAST(b.benford_pct AS DOUBLE)), 6) AS abs_diff
      FROM c JOIN b ON c.digit = b.digit, t ORDER BY c.digit""",
    // X131 RAKE: stopword-delimited phrase islands (running stopword
    // count), integer deg-variant scoring (see Search.rakeKeywords for
    // why deg/freq is deliberately not used).
    "text_rake_keywords" -> """
      WITH toks AS (
        SELECT doc_id, w, p,
               (w IN ('the', 'a')) AS is_stop,
               SUM(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p
                       ROWS UNBOUNDED PRECEDING) AS grp
        FROM (SELECT doc_id, ws[p] AS w, p
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
                    FROM (SELECT doc_id, string_split(text, ' ') AS ws
                          FROM documents) d0) d1) t),
      members AS (SELECT doc_id, grp, p, w FROM toks WHERE NOT is_stop),
      phrases AS (
        SELECT doc_id, grp, string_agg(w, ' ' ORDER BY p) AS phrase,
               COUNT(*) AS plen
        FROM members GROUP BY doc_id, grp),
      deg AS (
        SELECT m.w, CAST(SUM(ph.plen) AS BIGINT) AS deg
        FROM members m JOIN phrases ph
          ON m.doc_id = ph.doc_id AND m.grp = ph.grp
        GROUP BY m.w),
      inst AS (
        SELECT m.doc_id, m.grp, CAST(SUM(d.deg) AS BIGINT) AS score
        FROM members m JOIN deg d ON m.w = d.w
        GROUP BY m.doc_id, m.grp)
      SELECT ph.phrase, CAST(COUNT(*) AS BIGINT) AS n_instances,
             CAST(MAX(ph.plen) AS BIGINT) AS n_words, MAX(i.score) AS score
      FROM phrases ph JOIN inst i
        ON ph.doc_id = i.doc_id AND ph.grp = i.grp
      GROUP BY ph.phrase
      ORDER BY score DESC, n_instances DESC, phrase LIMIT 20""",
    // X240 Good-Turing over trigram types: freq-of-freq table, smoothed
    // r* = (r+1)N_{r+1}/N_r, raw and GT-reassigned probability mass per
    // count class (r = 0 row carries the unseen mass N_1/N).
    // All-integer until the rounded divisions.
    "text_good_turing" -> """
      WITH d AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ws
        FROM documents),
      tri AS (
        SELECT ws[i] || ' ' || ws[i2] || ' ' || ws[i3] AS g
        FROM (SELECT ws, i, i + 1 AS i2, i + 2 AS i3
              FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM d WHERE len(ws) >= 3) t0) t),
      counts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c
                 FROM tri GROUP BY g),
      ff AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
             FROM counts GROUP BY c),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM counts),
      grid AS (SELECT CAST(g AS BIGINT) AS r
               FROM (SELECT unnest(generate_series(0, 10)) AS g) t0)
      SELECT grid.r,
             COALESCE(f1.n_r, 0) AS n_r,
             COALESCE(f2.n_r, 0) AS n_next,
             CASE WHEN COALESCE(f1.n_r, 0) > 0
                  THEN ROUND(CAST(grid.r + 1 AS DOUBLE) * COALESCE(f2.n_r, 0) / f1.n_r, 6)
             END AS gt_count,
             ROUND(CAST(grid.r AS DOUBLE) * COALESCE(f1.n_r, 0) / tot.n_tokens, 6) AS raw_mass,
             ROUND(CAST(grid.r + 1 AS DOUBLE) * COALESCE(f2.n_r, 0) / tot.n_tokens, 6) AS gt_mass
      FROM grid LEFT JOIN ff f1 ON f1.r = grid.r
                LEFT JOIN ff f2 ON f2.r = grid.r + 1
                CROSS JOIN tot
      ORDER BY grid.r""",
    // X241 vocabulary richness: Chao1 / Good's coverage / TTR / exact
    // Simpson per source + the globally-regrouped ALL row (types merge
    // across sources — a rollup over per-source counts would be wrong).
    "text_vocab_richness" -> """
      WITH raw AS (
        SELECT source,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents),
      tk AS (SELECT source, tok FROM raw WHERE tok <> ''),
      cs AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tk GROUP BY source, tok),
      cg AS (SELECT 'ALL' AS source, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tk GROUP BY tok),
      u AS (SELECT * FROM cs UNION ALL SELECT * FROM cg),
      st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
                    CAST(COUNT(*) AS BIGINT) AS n_types,
                    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
                    CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2
             FROM u GROUP BY source)
      SELECT source, n_tokens, n_types, f1, f2,
             ROUND(n_types + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1,
             ROUND(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS goods_coverage,
             ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
             CASE WHEN n_tokens > 1 THEN
               ROUND(1.0 - CAST(rep2 AS DOUBLE) /
                 (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
             ELSE NULL END AS simpson_diversity
      FROM st ORDER BY source""",
    // X242 k-fold balance: same md5 fold rule as X160; per-fold max
    // |source share - corpus share| over 6dp-DECIMAL-rounded shares.
    "curation_kfold_balance" -> """
      WITH d AS (
        SELECT doc_id, source, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 5 AS fold
        FROM documents),
      cell AS (SELECT fold, source, CAST(COUNT(*) AS BIGINT) AS n_fs,
                      CAST(SUM(n_chars) AS BIGINT) AS chars_fs
               FROM d GROUP BY fold, source),
      pf AS (SELECT fold, CAST(SUM(n_fs) AS BIGINT) AS n_docs,
                    CAST(SUM(chars_fs) AS BIGINT) AS n_chars
             FROM cell GROUP BY fold),
      psrc AS (SELECT source, CAST(SUM(n_fs) AS BIGINT) AS n_s
               FROM cell GROUP BY source),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM pf),
      dev AS (
        SELECT cell.fold,
               MAX(abs(CAST(ROUND(CAST(cell.n_fs AS DOUBLE) / pf.n_docs, 6) AS DECIMAL(18,6)) -
                       CAST(ROUND(CAST(psrc.n_s AS DOUBLE) / tot.n, 6) AS DECIMAL(18,6))))
                 AS max_source_dev
        FROM cell JOIN pf ON pf.fold = cell.fold
                  JOIN psrc ON psrc.source = cell.source
                  CROSS JOIN tot
        GROUP BY cell.fold)
      SELECT pf.fold, pf.n_docs, pf.n_chars,
             ROUND(CAST(pf.n_docs AS DOUBLE) / tot.n, 6) AS doc_share,
             CAST(dev.max_source_dev AS DOUBLE) AS max_source_dev
      FROM pf JOIN dev ON dev.fold = pf.fold CROSS JOIN tot
      ORDER BY pf.fold""",
    // X243 reliability/ECE: X4's quality score binned by decile vs the
    // X153 LM signal (good = bits/token at or below the histogram-median);
    // per-bin gaps 6dp-DECIMAL, ECE one final division.
    "curation_quality_calibration" -> ("""
      WITH ppl AS (""" + PERPLEXITY3 + """),
      sc AS (
        SELECT doc_id,
               ROUND(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) *
                     (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                      len(string_split(text, ' '))), 6) AS score
        FROM documents),
      bptv AS (SELECT bits_per_token, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM ppl GROUP BY bits_per_token),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ppl),
      cumv AS (SELECT bits_per_token,
                 SUM(cnt) OVER (ORDER BY bits_per_token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM bptv),
      med AS (SELECT MIN(bits_per_token) AS med_bpt
              FROM cumv CROSS JOIN nn WHERE cum >= (n + 1) // 2),
      j AS (
        SELECT LEAST(CAST(floor(sc.score * 10) AS BIGINT), 9) AS bin,
               CAST(sc.score AS DECIMAL(18,6)) AS conf,
               CASE WHEN ppl.bits_per_token <= med.med_bpt THEN 1 ELSE 0 END AS good
        FROM sc JOIN ppl ON ppl.doc_id = sc.doc_id CROSS JOIN med),
      bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
                      ROUND(CAST(SUM(conf) AS DOUBLE) / COUNT(*), 6) AS avg_score,
                      ROUND(CAST(SUM(good) AS DOUBLE) / COUNT(*), 6) AS good_rate
               FROM j GROUP BY bin),
      g AS (SELECT bin, n_docs, avg_score, good_rate,
                   abs(CAST(avg_score AS DECIMAL(18,6)) -
                       CAST(good_rate AS DECIMAL(18,6))) AS gapd
            FROM bins),
      ece AS (SELECT ROUND(CAST(SUM(gapd * n_docs) AS DOUBLE) / SUM(n_docs), 6) AS ece
              FROM g)
      SELECT bin, n_docs, avg_score, good_rate,
             CAST(gapd AS DOUBLE) AS gap, ece.ece
      FROM g CROSS JOIN ece ORDER BY bin"""),
    // X244 blocking quality: reduction ratio from per-block pair
    // arithmetic; pairs completeness against the verified (tau=0.6)
    // Jaccard pair table; blocking key = X113's md5 5-word prefix.
    "dq_blocking_quality" -> s"""
      WITH ${JACCARD_CTES.trim},
      jp AS (
        SELECT doc_a, doc_b FROM verified
        WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.6),
      bk AS (SELECT doc_id,
                    md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')) AS blk
             FROM documents),
      bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                    CAST(SUM((n_b * (n_b - 1)) // 2) AS BIGINT) AS cand_pairs
             FROM (SELECT blk, CAST(COUNT(*) AS BIGINT) AS n_b
                   FROM bk GROUP BY blk) t0),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      tg AS (SELECT CAST(COUNT(*) AS BIGINT) AS verified_pairs,
                    CAST(SUM(CASE WHEN ba.blk = bb.blk THEN 1 ELSE 0 END) AS BIGINT)
                      AS pairs_in_block
             FROM jp JOIN bk ba ON ba.doc_id = jp.doc_a
                     JOIN bk bb ON bb.doc_id = jp.doc_b)
      SELECT n_docs, n_blocks, cand_pairs,
             (n_docs * (n_docs - 1)) // 2 AS total_pairs,
             ROUND(1.0 - CAST(cand_pairs AS DOUBLE) /
               ((n_docs * (n_docs - 1)) // 2), 6) AS reduction_ratio,
             verified_pairs, pairs_in_block,
             ROUND(CAST(pairs_in_block AS DOUBLE) / verified_pairs, 6)
               AS pairs_completeness
      FROM tot CROSS JOIN bs CROSS JOIN tg""",
    // X245 Theil-T decomposition: per-customer terms 6dp-DECIMAL before
    // exact summation; TOTAL row carries corpus T and the between term.
    // X267 hierarchical rollup: the twin is the engine's own
    // non-recursive prefix explode — a UNION ALL over the ≤18 fixed
    // `ck // 10^i` ancestor levels (each member emits its self node
    // unconditionally and each POSITIVE proper prefix once, exactly the
    // engine's array_union(array(ck), filter(prefixes, >0))). The r11
    // twin spelled the same walk as a WITH RECURSIVE CTE; it passed the
    // in-repo mirror cell-exactly but shipped driver-red, so the twin
    // now shares zero untested-elsewhere constructs with the oracle
    // environment (the recursive spelling survives as a documented
    // equivalence test in Round11OpsSpec — Spark 4.1's UNION ALL
    // recursion boundary stays covered there).
    // X245+X288 (r14): analytics_theil ships the integer rendering —
    // every output an exact BIGINT (ratios ×10⁶ rounded per term,
    // revenue in cents), the form CORRECTNESS_r13 proved driver-green
    // while the decimal spelling stayed red for a 4th round.
    "analytics_theil" -> """
      WITH rev AS (
        SELECT n.n_name AS nation, o.o_custkey AS ck,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, o.o_custkey),
      bynat AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_g,
                       CAST(SUM(x) AS DECIMAL(38,2)) AS x_g
                FROM rev GROUP BY nation),
      tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                     CAST(SUM(x_g) AS DECIMAL(38,2)) AS s FROM bynat),
      wt AS (SELECT r.nation,
                    CAST(ROUND((CAST(r.x AS DOUBLE) / CAST(b.x_g AS DOUBLE)) *
                      ln(b.n_g * CAST(r.x AS DOUBLE) / CAST(b.x_g AS DOUBLE)) *
                      1000000.0, 0) AS BIGINT) AS term_u
             FROM rev r JOIN bynat b ON b.nation = r.nation),
      wg AS (SELECT nation, CAST(SUM(term_u) AS BIGINT) AS t_g_u
             FROM wt GROUP BY nation),
      tterm AS (SELECT CAST(ROUND((CAST(r.x AS DOUBLE) / CAST(t.s AS DOUBLE)) *
                    ln(t.n * CAST(r.x AS DOUBLE) / CAST(t.s AS DOUBLE)) *
                    1000000.0, 0) AS BIGINT) AS term_u
                FROM rev r CROSS JOIN tot t),
      ttot AS (SELECT CAST(SUM(term_u) AS BIGINT) AS t_u FROM tterm),
      btw AS (SELECT CAST(SUM(CAST(ROUND((CAST(x_g AS DOUBLE) / CAST(s AS DOUBLE)) *
                  ln((CAST(x_g AS DOUBLE) / CAST(s AS DOUBLE)) *
                     (CAST(n AS DOUBLE) / n_g)) * 1000000.0, 0) AS BIGINT))
                AS BIGINT) AS b_u
             FROM bynat CROSS JOIN tot),
      grp AS (SELECT b.nation, b.n_g AS n_customers,
                     CAST(b.x_g * 100 AS BIGINT) AS revenue_cents,
                     CAST(ROUND(CAST(b.x_g AS DOUBLE) / CAST(t.s AS DOUBLE) *
                       1000000.0, 0) AS BIGINT) AS share_u,
                     w.t_g_u AS theil_u,
                     CAST(ROUND((CAST(b.x_g AS DOUBLE) / CAST(t.s AS DOUBLE)) *
                       CAST(w.t_g_u AS DOUBLE), 0) AS BIGINT) AS decomp_u
              FROM bynat b JOIN wg w ON w.nation = b.nation CROSS JOIN tot t),
      trow AS (SELECT 'TOTAL' AS nation, t.n AS n_customers,
                      CAST(t.s * 100 AS BIGINT) AS revenue_cents,
                      CAST(1000000 AS BIGINT) AS share_u,
                      tt2.t_u AS theil_u,
                      bw.b_u AS decomp_u
               FROM tot t CROSS JOIN ttot tt2 CROSS JOIN btw bw)
      SELECT * FROM (SELECT * FROM grp UNION ALL SELECT * FROM trow) u
      ORDER BY nation""",
    // X267+X289 (r14): analytics_hier_rollup ships the cents rendering
    // — all-int64 output, nothing decimal crosses the bridge (the form
    // CORRECTNESS_r13 proved driver-green while the DECIMAL(18,2)
    // revenue column stayed red for a 3rd round).
    "analytics_hier_rollup" -> """
      WITH percust AS (
        SELECT o_custkey AS ck,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS rev_c
        FROM orders GROUP BY o_custkey),
      anc AS (
        SELECT ck AS node, rev_c FROM percust
        UNION ALL SELECT ck // 10 AS node, rev_c FROM percust WHERE ck // 10 > 0
        UNION ALL SELECT ck // 100 AS node, rev_c FROM percust WHERE ck // 100 > 0
        UNION ALL SELECT ck // 1000 AS node, rev_c FROM percust WHERE ck // 1000 > 0
        UNION ALL SELECT ck // 10000 AS node, rev_c FROM percust WHERE ck // 10000 > 0
        UNION ALL SELECT ck // 100000 AS node, rev_c FROM percust WHERE ck // 100000 > 0
        UNION ALL SELECT ck // 1000000 AS node, rev_c FROM percust WHERE ck // 1000000 > 0
        UNION ALL SELECT ck // 10000000 AS node, rev_c FROM percust WHERE ck // 10000000 > 0
        UNION ALL SELECT ck // 100000000 AS node, rev_c FROM percust WHERE ck // 100000000 > 0
        UNION ALL SELECT ck // 1000000000 AS node, rev_c FROM percust WHERE ck // 1000000000 > 0
        UNION ALL SELECT ck // 10000000000 AS node, rev_c FROM percust WHERE ck // 10000000000 > 0
        UNION ALL SELECT ck // 100000000000 AS node, rev_c FROM percust WHERE ck // 100000000000 > 0
        UNION ALL SELECT ck // 1000000000000 AS node, rev_c FROM percust WHERE ck // 1000000000000 > 0
        UNION ALL SELECT ck // 10000000000000 AS node, rev_c FROM percust WHERE ck // 10000000000000 > 0
        UNION ALL SELECT ck // 100000000000000 AS node, rev_c FROM percust WHERE ck // 100000000000000 > 0
        UNION ALL SELECT ck // 1000000000000000 AS node, rev_c FROM percust WHERE ck // 1000000000000000 > 0
        UNION ALL SELECT ck // 10000000000000000 AS node, rev_c FROM percust WHERE ck // 10000000000000000 > 0
        UNION ALL SELECT ck // 100000000000000000 AS node, rev_c FROM percust WHERE ck // 100000000000000000 > 0
        UNION ALL SELECT ck // 1000000000000000000 AS node, rev_c FROM percust WHERE ck // 1000000000000000000 > 0)
      SELECT node,
             CAST(length(CAST(node AS VARCHAR)) AS BIGINT) AS depth,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(rev_c) AS BIGINT) AS revenue_cents
      FROM anc GROUP BY node ORDER BY node""",
    // X290 rollup probe: structure only — the same explode over distinct
    // customer keys, counts alone, no revenue column anywhere.
    "analytics_hier_rollup_counts" -> """
      WITH percust AS (SELECT DISTINCT o_custkey AS ck FROM orders),
      anc AS (
        SELECT ck AS node FROM percust
        UNION ALL SELECT ck // 10 AS node FROM percust WHERE ck // 10 > 0
        UNION ALL SELECT ck // 100 AS node FROM percust WHERE ck // 100 > 0
        UNION ALL SELECT ck // 1000 AS node FROM percust WHERE ck // 1000 > 0
        UNION ALL SELECT ck // 10000 AS node FROM percust WHERE ck // 10000 > 0
        UNION ALL SELECT ck // 100000 AS node FROM percust WHERE ck // 100000 > 0
        UNION ALL SELECT ck // 1000000 AS node FROM percust WHERE ck // 1000000 > 0
        UNION ALL SELECT ck // 10000000 AS node FROM percust WHERE ck // 10000000 > 0
        UNION ALL SELECT ck // 100000000 AS node FROM percust WHERE ck // 100000000 > 0
        UNION ALL SELECT ck // 1000000000 AS node FROM percust WHERE ck // 1000000000 > 0
        UNION ALL SELECT ck // 10000000000 AS node FROM percust WHERE ck // 10000000000 > 0
        UNION ALL SELECT ck // 100000000000 AS node FROM percust WHERE ck // 100000000000 > 0
        UNION ALL SELECT ck // 1000000000000 AS node FROM percust WHERE ck // 1000000000000 > 0
        UNION ALL SELECT ck // 10000000000000 AS node FROM percust WHERE ck // 10000000000000 > 0
        UNION ALL SELECT ck // 100000000000000 AS node FROM percust WHERE ck // 100000000000000 > 0
        UNION ALL SELECT ck // 1000000000000000 AS node FROM percust WHERE ck // 1000000000000000 > 0
        UNION ALL SELECT ck // 10000000000000000 AS node FROM percust WHERE ck // 10000000000000000 > 0
        UNION ALL SELECT ck // 100000000000000000 AS node FROM percust WHERE ck // 100000000000000000 > 0
        UNION ALL SELECT ck // 1000000000000000000 AS node FROM percust WHERE ck // 1000000000000000000 > 0)
      SELECT node,
             CAST(length(CAST(node AS VARCHAR)) AS BIGINT) AS depth,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM anc GROUP BY node ORDER BY node""",
    // X291 singleton probes (r14 decomposition): reads NO table — the
    // r13 combined four-type probe came back hash-red without naming
    // the broken type; these carry the SAME literals one suspect type
    // per entry, so CORRECTNESS_r14's pattern names it. Values are
    // identical string literals in entry and twin, so any red cell is
    // an oracle-environment property by construction.
    "dq_probe_int64" -> """
      SELECT CAST(pid AS BIGINT) AS probe_id,
             CAST(i64 AS BIGINT) AS int64
      FROM (VALUES ('1', '42'), ('2', '0'),
                   ('3', '-7'), ('4', '9007199254740993'))
           AS v(pid, i64)
      ORDER BY probe_id""",
    // r15: the decimal probes ship the SAME literals in the proven-green
    // exact integer renderings (micros / cents) — CORRECTNESS_r14 named
    // DECIMAL as the broken driver-bridge class, diagnosis closed.
    "dq_probe_dec96" -> """
      SELECT CAST(pid AS BIGINT) AS probe_id,
             CAST(CAST(d96 AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS dec96_micros
      FROM (VALUES ('1', '-0.123450'), ('2', '0.000000'),
                   ('3', '0.999999'), ('4', '-0.100000'))
           AS v(pid, d96)
      ORDER BY probe_id""",
    "dq_probe_dec182" -> """
      SELECT CAST(pid AS BIGINT) AS probe_id,
             CAST(CAST(CAST(d182 AS DECIMAL(18,2)) AS DECIMAL(28,2)) * 100 AS BIGINT) AS dec182_cents
      FROM (VALUES ('1', '1234567890123456.78'), ('2', '0.00'),
                   ('3', '-9.99'), ('4', '100.10'))
           AS v(pid, d182)
      ORDER BY probe_id""",
    "dq_probe_double" -> """
      SELECT CAST(pid AS BIGINT) AS probe_id,
             CAST(f64 AS DOUBLE) AS float64
      FROM (VALUES ('1', '0.1'), ('2', '-2.5'),
                   ('3', '123456.789012'), ('4', '0.0000001'))
           AS v(pid, f64)
      ORDER BY probe_id""",
    // X291 original combined probe — name kept for driver-surface
    // continuity (entry names are append-only); r15 re-renders its two
    // decimal columns as the exact integer renderings of the same
    // literals now that the r14 singletons completed the diagnosis.
    "dq_probe_types" -> """
      SELECT CAST(pid AS BIGINT) AS probe_id,
             CAST(CAST(d96 AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS dec96_micros,
             CAST(CAST(CAST(d182 AS DECIMAL(18,2)) AS DECIMAL(28,2)) * 100 AS BIGINT) AS dec182_cents,
             CAST(i64 AS BIGINT) AS int64,
             CAST(f64 AS DOUBLE) AS float64
      FROM (VALUES ('1', '-0.123450', '1234567890123456.78', '42', '0.1'),
                   ('2', '0.000000', '0.00', '0', '-2.5'),
                   ('3', '0.999999', '-9.99', '-7', '123456.789012'),
                   ('4', '-0.100000', '100.10', '9007199254740993', '0.0000001'))
           AS v(pid, d96, d182, i64, f64)
      ORDER BY probe_id""",
    // X246 HyperBall: the oracle unrolls the register max-union rounds
    // relationally ((id, b, rho) rows, self-loops carry the own-sketch
    // union, ONE previous-round reference per round) and applies the
    // X105 estimate formula — register-exact, so it equals the engine's
    // byte-array form bit-for-bit.
    "graph_hyperball" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      nodes AS (SELECT DISTINCT a AS id
                FROM (SELECT a FROM und UNION ALL SELECT b AS a FROM und) t0),
      eloop AS (SELECT a AS src, b AS dst FROM und
                UNION ALL SELECT b AS src, a AS dst FROM und
                UNION ALL SELECT id AS src, id AS dst FROM nodes),
      r0 AS (SELECT id, h % 256 AS b,
                    CASE WHEN h // 256 = 0 THEN 25
                         ELSE 25 - length(bin(h // 256)) END AS rho
             FROM (SELECT id,
                     ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT AS h
                   FROM nodes) t1),
      r1 AS (SELECT e.src AS id, r.b, MAX(r.rho) AS rho
             FROM eloop e JOIN r0 r ON r.id = e.dst GROUP BY e.src, r.b),
      r2 AS (SELECT e.src AS id, r.b, MAX(r.rho) AS rho
             FROM eloop e JOIN r1 r ON r.id = e.dst GROUP BY e.src, r.b),
      allr AS (SELECT 0 AS t, id, b, rho FROM r0
               UNION ALL SELECT 1 AS t, id, b, rho FROM r1
               UNION ALL SELECT 2 AS t, id, b, rho FROM r2),
      agg AS (SELECT t, id,
                     SUM(power(2.0, -rho)) + (256 - COUNT(*)) AS s,
                     CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
                       + (256 - COUNT(*)) AS BIGINT) AS v
              FROM allr GROUP BY t, id),
      est AS (SELECT t, id,
                ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s <= 640.0
                           AND v > 0
                      THEN 256.0 * ln(256.0 / v)
                      ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s END, 6)
                  AS est
              FROM agg),
      p AS (SELECT id,
              MAX(CASE WHEN t = 0 THEN est END) AS est0,
              MAX(CASE WHEN t = 1 THEN est END) AS est1,
              MAX(CASE WHEN t = 2 THEN est END) AS est2
            FROM est GROUP BY id)
      SELECT id AS part_id, est0, est1, est2,
             CAST((CAST(ROUND(est1 * 1000000.0, 0) AS BIGINT) -
                   CAST(ROUND(est0 * 1000000.0, 0) AS BIGINT)) * 2 +
                  (CAST(ROUND(est2 * 1000000.0, 0) AS BIGINT) -
                   CAST(ROUND(est1 * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
               / 2000000.0 AS harmonic_est
      FROM p ORDER BY part_id""",
    // X248 duplicate tiles: the oracle recomputes every tile's pixel
    // sequence from the stated test-card formula ((31d + 7x + 13y) mod
    // 256, X211's integer-div 4x4 grid), serializes it in the same
    // row-major "v,v,..." form, md5s it, and groups — so codec, tiling,
    // serialization and hashing all sit under the hash gate.
    "multimodal_tile_dups" -> """
      WITH dims AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 9 AS h
        FROM documents),
      px AS (
        SELECT doc_id, w, h, x, y,
               (x * 4) // w AS tx, (y * 4) // h AS ty,
               (doc_id * 31 + x * 7 + y * 13) % 256 AS v
        FROM (SELECT doc_id, w, h, gx.x, gy.y
              FROM dims,
                   (SELECT unnest(generate_series(0, 16)) AS x) gx,
                   (SELECT unnest(generate_series(0, 16)) AS y) gy
              WHERE gx.x < w AND gy.y < h) t0),
      tiles AS (
        SELECT doc_id, tx, ty, CAST(COUNT(*) AS BIGINT) AS n_px,
               md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x)) AS sig
        FROM px GROUP BY doc_id, tx, ty)
      SELECT sig, CAST(MAX(n_px) AS BIGINT) AS n_px,
             CAST(COUNT(*) AS BIGINT) AS n_tiles,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      FROM tiles GROUP BY sig HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY sig""",
    // X249 Lindley queue wait: B_k = (service before arrival k) - t_k;
    // W_k = B_k - running_min(B) — exact BIGINT ms end to end.
    "events_queue_wait" -> """
      WITH ev AS (
        SELECT event_type, event_id, epoch_us(ts) // 1000 AS ms,
               400000 + event_id % 1000000 AS svc_ms
        FROM events),
      b AS (SELECT event_type, event_id, ms, svc_ms,
              SUM(svc_ms) OVER (PARTITION BY event_type ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - svc_ms - ms AS bb
            FROM ev),
      w AS (SELECT event_type, ms, svc_ms,
              bb - MIN(bb) OVER (PARTITION BY event_type ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wait_ms
            FROM b)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
             CAST(SUM(CASE WHEN wait_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_queued,
             CAST(MAX(wait_ms) AS BIGINT) AS max_wait_ms,
             ROUND(CAST(SUM(wait_ms) AS DOUBLE) / COUNT(*), 6) AS avg_wait_ms,
             ROUND(CAST(SUM(CASE WHEN wait_ms > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
               COUNT(*), 6) AS queued_share,
             ROUND(CAST(SUM(svc_ms) AS DOUBLE) / (MAX(ms) - MIN(ms) + 1), 6)
               AS utilization
      FROM w GROUP BY event_type ORDER BY event_type""",
    // X251 interval union: fixed 1-hour outage windows merged by the
    // ordered lead() identity, clipped at midnight; exact BIGINT ms.
    "events_interval_union" -> """
      WITH e AS (
        SELECT CAST(ts AS DATE) AS day, event_id,
               epoch_us(ts) // 1000 AS ms
        FROM events WHERE event_type = 'error'),
      l AS (SELECT day, ms,
              lead(ms, 1) OVER (PARTITION BY day ORDER BY ms, event_id) AS next_ms,
              epoch_us(CAST(day AS TIMESTAMP)) // 1000 + 86400000 AS day_end
            FROM e),
      c AS (SELECT day,
              LEAST(3600000, COALESCE(next_ms, 9223372036854775807) - ms,
                    day_end - ms) AS covered_ms
            FROM l)
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_errors,
             CAST(SUM(covered_ms) AS BIGINT) AS outage_ms,
             ROUND(1.0 - CAST(SUM(covered_ms) AS DOUBLE) / 86400000.0, 6)
               AS availability
      FROM c GROUP BY day ORDER BY day""",
    // X250 triplet audit: same-(label, md5-bucket) positives, min-id
    // other-label negative from the anchor's bucket, cosine via the
    // established list_dot_product parity surface.
    "embed_triplet_audit" -> """
      WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS bk
        FROM embeddings),
      pos AS (
        SELECT a.vec_id AS ia, a.label, a.v AS va, a.bk, p.vec_id AS ip, p.v AS vp
        FROM e a JOIN e p ON p.label = a.label AND p.bk = a.bk
        WHERE a.vec_id < p.vec_id),
      npick AS (
        SELECT a.vec_id AS ia, MIN(nn.vec_id) AS neg_id
        FROM e a JOIN e nn ON nn.bk = a.bk AND nn.label <> a.label
        GROUP BY a.vec_id),
      trip AS (
        SELECT pos.label,
               list_dot_product(va, vp) /
                 (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vp, vp))) AS cos_ap,
               list_dot_product(va, ng.v) /
                 (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(ng.v, ng.v))) AS cos_an
        FROM pos JOIN npick ON npick.ia = pos.ia
                 JOIN e ng ON ng.vec_id = npick.neg_id),
      t2 AS (
        SELECT label,
               CASE WHEN cos_ap < cos_an + 0.1 THEN 1 ELSE 0 END AS viol,
               CAST(ROUND(cos_ap - cos_an, 6) AS DECIMAL(18,6)) AS gap
        FROM trip)
      SELECT CAST(label AS BIGINT) AS label,
             CAST(COUNT(*) AS BIGINT) AS n_triplets,
             CAST(SUM(viol) AS BIGINT) AS n_violations,
             ROUND(CAST(SUM(viol) AS DOUBLE) / COUNT(*), 6) AS violation_rate,
             ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 6) AS avg_gap
      FROM t2 GROUP BY label ORDER BY label""",
    // X253 RRF fusion: both retrievers restated (X3's exact cosine cut,
    // X82's SQ8 quantized-dot cut, both at k = 20), 1-based ranks over
    // the bounded cuts, RRF = sum 1/(60 + rank), fused top-10.
    "embed_rank_fusion" -> """
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      s AS (
        SELECT vec_id,
               list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv, qv))) AS cos
        FROM embeddings, q WHERE vec_id <> 0),
      ex AS (SELECT vec_id, ROUND(cos, 6) AS cos_sim FROM s
             ORDER BY ROUND(cos, 6) DESC, vec_id LIMIT 20),
      exr AS (SELECT vec_id,
                CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT)
                  AS rank_exact
              FROM ex),
      cells AS (
        SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
               embedding
        FROM embeddings),
      c2 AS (SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS v FROM cells),
      stats AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM c2 GROUP BY dim),
      codes AS (
        SELECT vec_id, c2.dim,
               CAST(CASE WHEN mx > mn
                    THEN least(floor((v - mn) * 255.0 / (mx - mn)), 255.0)
                    ELSE 0.0 END AS BIGINT) AS code
        FROM c2 JOIN stats ON c2.dim = stats.dim),
      qq AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0),
      sq AS (SELECT c.vec_id, CAST(SUM(c.code * qq.qcode) AS BIGINT) AS qdot
             FROM codes c JOIN qq ON c.dim = qq.dim
             WHERE c.vec_id <> 0
             GROUP BY c.vec_id
             ORDER BY qdot DESC, vec_id LIMIT 20),
      sqr AS (SELECT vec_id,
                CAST(ROW_NUMBER() OVER (ORDER BY qdot DESC, vec_id) AS BIGINT)
                  AS rank_sq
              FROM sq),
      f AS (SELECT COALESCE(exr.vec_id, sqr.vec_id) AS vec_id,
                   rank_exact, rank_sq,
                   COALESCE(1.0 / (60 + rank_exact), 0.0) +
                     COALESCE(1.0 / (60 + rank_sq), 0.0) AS rrf
            FROM exr FULL OUTER JOIN sqr ON sqr.vec_id = exr.vec_id)
      SELECT vec_id, rank_exact, rank_sq, ROUND(rrf, 6) AS rrf_score
      FROM f ORDER BY rrf DESC, vec_id LIMIT 10""",
    // X257 RFM migration: X84's exact scoring applied per half against
    // each half's own recency watermark; explicit 'absent' state.
    "analytics_rfm_migration" -> """
      WITH pc1 AS (
        SELECT o_custkey AS ck,
               MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                 AS last_day,
               COUNT(*) AS freq,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1),
      mx1 AS (SELECT MAX(last_day) AS max_day FROM pc1),
      s1 AS (
        SELECT ck,
          CASE WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 3
                 AND (CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END) +
                     (CASE WHEN monetary >= 2000000 THEN 3
                           WHEN monetary >= 1000000 THEN 2 ELSE 1 END) >= 5
               THEN 'champion'
               WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 3
               THEN 'recent'
               WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 2
                 AND (CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END) +
                     (CASE WHEN monetary >= 2000000 THEN 3
                           WHEN monetary >= 1000000 THEN 2 ELSE 1 END) >= 5
               THEN 'loyal'
               WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 2
               THEN 'warm'
               WHEN (CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END) +
                    (CASE WHEN monetary >= 2000000 THEN 3
                          WHEN monetary >= 1000000 THEN 2 ELSE 1 END) >= 5
               THEN 'at_risk'
               ELSE 'hibernating' END AS seg_from
        FROM pc1, mx1),
      pc2 AS (
        SELECT o_custkey AS ck,
               MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                 AS last_day,
               COUNT(*) AS freq,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' GROUP BY 1),
      mx2 AS (SELECT MAX(last_day) AS max_day FROM pc2),
      s2 AS (
        SELECT ck,
          CASE WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 3
                 AND (CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END) +
                     (CASE WHEN monetary >= 2000000 THEN 3
                           WHEN monetary >= 1000000 THEN 2 ELSE 1 END) >= 5
               THEN 'champion'
               WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 3
               THEN 'recent'
               WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 2
                 AND (CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END) +
                     (CASE WHEN monetary >= 2000000 THEN 3
                           WHEN monetary >= 1000000 THEN 2 ELSE 1 END) >= 5
               THEN 'loyal'
               WHEN (CASE WHEN max_day - last_day <= 365 THEN 3
                          WHEN max_day - last_day <= 730 THEN 2 ELSE 1 END) = 2
               THEN 'warm'
               WHEN (CASE WHEN freq >= 12 THEN 3 WHEN freq >= 6 THEN 2 ELSE 1 END) +
                    (CASE WHEN monetary >= 2000000 THEN 3
                          WHEN monetary >= 1000000 THEN 2 ELSE 1 END) >= 5
               THEN 'at_risk'
               ELSE 'hibernating' END AS seg_to
        FROM pc2, mx2),
      m AS (SELECT COALESCE(s1.seg_from, 'absent') AS seg_from,
                   COALESCE(s2.seg_to, 'absent') AS seg_to,
                   CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM s1 FULL OUTER JOIN s2 ON s2.ck = s1.ck
            GROUP BY 1, 2),
      rt AS (SELECT seg_from, CAST(SUM(n_customers) AS BIGINT) AS n_from
             FROM m GROUP BY seg_from)
      SELECT m.seg_from, m.seg_to, m.n_customers,
             ROUND(CAST(m.n_customers AS DOUBLE) / rt.n_from, 6) AS row_share
      FROM m JOIN rt ON rt.seg_from = m.seg_from
      ORDER BY m.seg_from, m.seg_to""",
    // X258 bipartite projection: per-customer md5 frequency cap, capped
    // self-join on the customer key, cosine-normalized common counts.
    "graph_bipartite_project" -> """
      WITH cs AS (SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
                  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      rk AS (SELECT ck, sk,
               ROW_NUMBER() OVER (PARTITION BY ck
                 ORDER BY md5(CAST(ck AS VARCHAR) || '|' || CAST(sk AS VARCHAR)), sk)
                 AS rn
             FROM cs),
      cap AS (SELECT ck, sk FROM rk WHERE rn <= 32),
      deg AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS deg FROM cap GROUP BY sk),
      pr AS (SELECT a.sk AS s1, b.sk AS s2, CAST(COUNT(*) AS BIGINT) AS common
             FROM cap a JOIN cap b ON a.ck = b.ck AND a.sk < b.sk
             GROUP BY a.sk, b.sk HAVING COUNT(*) >= 2)
      SELECT s1, s2, common, d1.deg AS deg1, d2.deg AS deg2,
             ROUND(CAST(common AS DOUBLE) /
               sqrt(CAST(d1.deg AS DOUBLE) * d2.deg), 6) AS weight
      FROM pr JOIN deg d1 ON d1.sk = pr.s1 JOIN deg d2 ON d2.sk = pr.s2
      ORDER BY s1, s2""",
    // X259 theta a-not-b: X130's sketches, ordered pairs, samples of A
    // below theta and absent from B, exact anti count as yardstick.
    "agg_theta_diff" -> """
      WITH du AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
      dh AS (SELECT t, md5(CAST(u AS VARCHAR)) AS h FROM du),
      rk AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM dh),
      sk AS (SELECT t, h FROM rk WHERE rn <= 64),
      tp AS (SELECT a.t AS t1, b.t AS t2
             FROM (SELECT DISTINCT t FROM du) a
             JOIN (SELECT DISTINCT t FROM du) b ON a.t <> b.t),
      us AS (SELECT tp.t1, tp.t2, s.h FROM tp JOIN sk s ON s.t = tp.t1
             UNION
             SELECT tp.t1, tp.t2, s.h FROM tp JOIN sk s ON s.t = tp.t2),
      ur AS (SELECT t1, t2, h,
                    row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn,
                    COUNT(*) OVER (PARTITION BY t1, t2) AS usz
             FROM us),
      th AS (SELECT t1, t2,
               CASE WHEN MAX(usz) >= 64 THEN MAX(CASE WHEN rn = 64 THEN h END)
                    ELSE 'zz' END AS theta_hex,
               CASE WHEN MAX(usz) >= 64
                    THEN ('0x' || substring(MAX(CASE WHEN rn = 64 THEN h END), 1, 8))::BIGINT
                    ELSE 4294967296 END AS theta
             FROM ur GROUP BY t1, t2),
      ab AS (SELECT th.t1, th.t2, CAST(COUNT(*) AS BIGINT) AS c
             FROM th JOIN sk s1 ON s1.t = th.t1
             WHERE s1.h < th.theta_hex
               AND NOT EXISTS (SELECT 1 FROM sk s2
                               WHERE s2.t = th.t2 AND s2.h = s1.h)
             GROUP BY th.t1, th.t2),
      cm AS (SELECT x.t AS t1, y.t AS t2, CAST(COUNT(*) AS BIGINT) AS n_common
             FROM du x JOIN du y ON x.u = y.u AND x.t <> y.t GROUP BY 1, 2),
      sz AS (SELECT t AS t1, CAST(COUNT(*) AS BIGINT) AS n_t1 FROM du GROUP BY t)
      SELECT th.t1, th.t2,
             sz.n_t1 - COALESCE(cm.n_common, 0) AS exact_anotb,
             COALESCE(ab.c, 0) AS anotb_below,
             CAST(th.theta AS BIGINT) AS theta,
             ROUND(COALESCE(ab.c, 0) * 4294967296.0 / th.theta, 6) AS theta_est
      FROM th LEFT JOIN ab ON th.t1 = ab.t1 AND th.t2 = ab.t2
              LEFT JOIN cm ON th.t1 = cm.t1 AND th.t2 = cm.t2
              JOIN sz ON sz.t1 = th.t1
      ORDER BY th.t1, th.t2""",
    // X255 global SSIM: test-card pixels, 2x2 floor-mean blocks,
    // nearest-neighbour reconstruction, exact int64 moment sums, one
    // fixed IEEE SSIM expression mirrored operator-for-operator.
    "multimodal_image_ssim" -> """
      WITH dims AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 9 AS h
        FROM documents),
      px AS (
        SELECT doc_id, x, y,
               (doc_id * 31 + x * 7 + y * 13) % 256 AS v
        FROM (SELECT doc_id, w, h, gx.x, gy.y
              FROM dims,
                   (SELECT unnest(generate_series(0, 16)) AS x) gx,
                   (SELECT unnest(generate_series(0, 16)) AS y) gy
              WHERE gx.x < w AND gy.y < h) t0),
      blk AS (
        SELECT doc_id, x // 2 AS bx, y // 2 AS by,
               CAST(SUM(v) AS BIGINT) // COUNT(*) AS dv
        FROM px GROUP BY doc_id, x // 2, y // 2),
      j AS (SELECT px.doc_id, px.v, blk.dv
            FROM px JOIN blk ON blk.doc_id = px.doc_id
                            AND blk.bx = px.x // 2 AND blk.by = px.y // 2),
      s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
                   CAST(SUM(v) AS BIGINT) AS sum_x,
                   CAST(SUM(dv) AS BIGINT) AS sum_y,
                   CAST(SUM(v * v) AS BIGINT) AS sum_xx,
                   CAST(SUM(dv * dv) AS BIGINT) AS sum_yy,
                   CAST(SUM(v * dv) AS BIGINT) AS sum_xy
            FROM j GROUP BY doc_id),
      mm AS (SELECT *, CAST(sum_x AS DOUBLE) / n_px AS mx,
                    CAST(sum_y AS DOUBLE) / n_px AS my
             FROM s)
      SELECT doc_id, n_px, sum_x, sum_y, sum_xx, sum_yy, sum_xy,
             ROUND(
               ((2.0 * mx * my + 6.5025) *
                (2.0 * (CAST(sum_xy AS DOUBLE) / n_px - mx * my) + 58.5225)) /
               ((mx * mx + my * my + 6.5025) *
                ((CAST(sum_xx AS DOUBLE) / n_px - mx * mx) +
                 (CAST(sum_yy AS DOUBLE) / n_px - my * my) + 58.5225)), 6)
               AS ssim
      FROM mm ORDER BY doc_id""",
    // X254 HLL m-sweep: the X105 register rule at three widths, the
    // paper's alpha constants, same linear-counting branch per m.
    "agg_hll_m_sweep" -> """
      WITH hh AS (
        SELECT event_type,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events),
      r16 AS (SELECT event_type, h % 16 AS b,
                MAX(CASE WHEN h // 16 = 0 THEN 29
                         ELSE 29 - length(bin(h // 16)) END) AS rho
              FROM hh GROUP BY event_type, h % 16),
      e16 AS (SELECT event_type,
                SUM(power(2.0, -rho)) + (16 - COUNT(*)) AS s,
                CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
                  + (16 - COUNT(*)) AS BIGINT) AS v
              FROM r16 GROUP BY event_type),
      est16 AS (SELECT event_type,
                  ROUND(CASE WHEN 0.673 * 256.0 / s <= 40.0 AND v > 0
                        THEN 16.0 * ln(16.0 / v)
                        ELSE 0.673 * 256.0 / s END, 6) AS est_m16
                FROM e16),
      r64 AS (SELECT event_type, h % 64 AS b,
                MAX(CASE WHEN h // 64 = 0 THEN 27
                         ELSE 27 - length(bin(h // 64)) END) AS rho
              FROM hh GROUP BY event_type, h % 64),
      e64 AS (SELECT event_type,
                SUM(power(2.0, -rho)) + (64 - COUNT(*)) AS s,
                CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
                  + (64 - COUNT(*)) AS BIGINT) AS v
              FROM r64 GROUP BY event_type),
      est64 AS (SELECT event_type,
                  ROUND(CASE WHEN 0.709 * 4096.0 / s <= 160.0 AND v > 0
                        THEN 64.0 * ln(64.0 / v)
                        ELSE 0.709 * 4096.0 / s END, 6) AS est_m64
                FROM e64),
      r256 AS (SELECT event_type, h % 256 AS b,
                 MAX(CASE WHEN h // 256 = 0 THEN 25
                          ELSE 25 - length(bin(h // 256)) END) AS rho
               FROM hh GROUP BY event_type, h % 256),
      e256 AS (SELECT event_type,
                 SUM(power(2.0, -rho)) + (256 - COUNT(*)) AS s,
                 CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
                   + (256 - COUNT(*)) AS BIGINT) AS v
               FROM r256 GROUP BY event_type),
      est256 AS (SELECT event_type,
                   ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s <= 640.0
                              AND v > 0
                         THEN 256.0 * ln(256.0 / v)
                         ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s END, 6)
                     AS est_m256
                 FROM e256),
      ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS exact_users
             FROM events GROUP BY event_type)
      SELECT ex.event_type, ex.exact_users,
             est_m16, ROUND(abs(est_m16 / exact_users - 1.0) * 100, 4) AS err16_pct,
             est_m64, ROUND(abs(est_m64 / exact_users - 1.0) * 100, 4) AS err64_pct,
             est_m256, ROUND(abs(est_m256 / exact_users - 1.0) * 100, 4) AS err256_pct
      FROM ex JOIN est16 ON est16.event_type = ex.event_type
              JOIN est64 ON est64.event_type = ex.event_type
              JOIN est256 ON est256.event_type = ex.event_type
      ORDER BY ex.event_type""",
    // X260 UniMax: sorted-capacity waterfill level (closed form), floor
    // level + deterministic remainder to the first uncapped sources.
    "curation_unimax_alloc" -> """
      WITH ps AS (SELECT source,
                    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                      AS available
                  FROM documents GROUP BY source),
      c AS (SELECT source, available, available * 4 AS capacity FROM ps),
      tot AS (SELECT (CAST(SUM(available) AS BIGINT) * 3) // 2 AS budget,
                     CAST(COUNT(*) AS BIGINT) AS n FROM c),
      rk AS (SELECT source, available, capacity,
               CAST(ROW_NUMBER() OVER (ORDER BY capacity, source) AS BIGINT) AS rk,
               CAST(SUM(capacity) OVER (ORDER BY capacity, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cap
             FROM c),
      kk AS (SELECT CAST(COALESCE(MAX(rk), 0) AS BIGINT) AS k,
                    CAST(COALESCE(MAX(cum_cap), 0) AS BIGINT) AS capped_sum
             FROM rk CROSS JOIN tot
             WHERE capacity * (n - rk + 1) + (cum_cap - capacity) <= budget),
      lvl AS (SELECT kk.k, kk.capped_sum,
                CASE WHEN tot.n > kk.k
                     THEN (tot.budget - kk.capped_sum) // (tot.n - kk.k)
                     ELSE 0 END AS level,
                CASE WHEN tot.n > kk.k
                     THEN (tot.budget - kk.capped_sum) % (tot.n - kk.k)
                     ELSE 0 END AS rem
              FROM kk CROSS JOIN tot),
      f AS (SELECT rk.source, rk.available, rk.capacity,
                   rk.rk <= lvl.k AS capped,
                   CAST(ROW_NUMBER() OVER (PARTITION BY rk.rk <= lvl.k
                     ORDER BY rk.source) AS BIGINT) AS urk,
                   lvl.level, lvl.rem
            FROM rk CROSS JOIN lvl)
      SELECT source, available, capacity,
             (CASE WHEN capped THEN capacity ELSE level END +
              CASE WHEN NOT capped AND urk <= rem THEN 1 ELSE 0 END) AS quota,
             capped,
             ROUND(CAST(CASE WHEN capped THEN capacity ELSE level END +
               CASE WHEN NOT capped AND urk <= rem THEN 1 ELSE 0 END
               AS DOUBLE) / available, 6) AS epochs
      FROM f ORDER BY source""",
    // X261 AGC audit: the PCM synthesis restated arithmetically, exact
    // int64 moments, squared clip test (no sqrt), scaled-integer gain.
    "multimodal_pcm_agc" -> """
      WITH d AS (SELECT doc_id, 160 * (2 + doc_id % 4) AS n FROM documents),
      s AS (SELECT doc_id, n, (doc_id * 7 + i * 13) % 4096 - 2048 AS v
            FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
                  FROM d) t0),
      a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(MAX(abs(v)) AS BIGINT) AS peak_abs,
                   CAST(SUM(v * v) AS BIGINT) AS sum_sq
            FROM s GROUP BY doc_id),
      m AS (SELECT doc_id, n_samples, peak_abs, sum_sq,
                   sum_sq // n_samples AS mean_sq FROM a),
      cl AS (SELECT s.doc_id,
               CAST(SUM(CASE WHEN s.v * s.v * 2359296 > 4190209 * m.mean_sq
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_after
             FROM s JOIN m ON m.doc_id = s.doc_id GROUP BY s.doc_id)
      SELECT m.doc_id, m.n_samples, m.peak_abs, m.sum_sq, m.mean_sq,
             2359296000000 // m.mean_sq AS gain_sq_e6,
             cl.n_clip_after,
             ROUND(CAST(cl.n_clip_after AS DOUBLE) / m.n_samples, 6)
               AS clip_share
      FROM m JOIN cl ON cl.doc_id = m.doc_id ORDER BY m.doc_id""",
    // X262 GFS retention: integer age buckets (never ISO weeks), newest
    // pick per bucket/month, watermark-relative.
    "warehouse_retention_plan" -> """
      WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      wm AS (SELECT MAX(day) AS wm FROM days),
      aged AS (SELECT day, CAST(date_diff('day', day, wm) AS BIGINT)
                 AS age_days
               FROM days CROSS JOIN wm),
      wk AS (SELECT CAST(MIN(age_days) AS BIGINT) AS age_days,
                    TRUE AS is_weekly
             FROM aged WHERE age_days // 7 >= 1 AND age_days // 7 <= 4
             GROUP BY age_days // 7),
      mo AS (SELECT CAST(MIN(age_days) AS BIGINT) AS age_days,
                    TRUE AS is_monthly
             FROM aged WHERE age_days < 365
             GROUP BY year(day), month(day))
      SELECT aged.day, aged.age_days,
             CASE WHEN aged.age_days < 7 THEN 'daily'
                  WHEN COALESCE(wk.is_weekly, FALSE) THEN 'weekly'
                  WHEN COALESCE(mo.is_monthly, FALSE) THEN 'monthly'
                  ELSE 'drop' END AS keep_reason
      FROM aged LEFT JOIN wk ON wk.age_days = aged.age_days
                LEFT JOIN mo ON mo.age_days = aged.age_days
      ORDER BY aged.day""",
    // X264 SRM: md5-parity arm split of the distinct user set, 1-df
    // chi-square against 50/50, p < .05 flag.
    "events_srm_check" -> """
      WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      arm AS (SELECT event_type,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|srm_v1'), 1, 4))::BIGINT % 2 AS arm
              FROM du),
      g AS (SELECT event_type,
              CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM arm GROUP BY event_type)
      SELECT event_type, n_a, n_b,
             ROUND(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6)
               AS chi2,
             (CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b)
               > 3.841459) AS srm_flag
      FROM g ORDER BY event_type""",
    // X269 RAG chunking: closed-form sliding chunks over the SAME
    // whitespace array; the last chunk is the first whose window
    // reaches the document end.
    "text_chunk_overlap" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM d),
      k AS (SELECT doc_id, ws, n,
              unnest(generate_series(0, (greatest(n - 24, 0) + 15) // 16))
                AS chunk_id
            FROM n),
      b AS (SELECT doc_id, ws, CAST(chunk_id AS BIGINT) AS chunk_id,
              CAST(chunk_id * 16 + 1 AS INT) AS spi,
              CAST(least(chunk_id * 16 + 24, n) AS INT) AS epi
            FROM k)
      SELECT doc_id, chunk_id,
             CAST(spi AS BIGINT) AS start_pos,
             CAST(epi AS BIGINT) AS end_pos,
             CAST(epi - spi + 1 AS BIGINT) AS n_toks,
             ws[spi] AS first_tok,
             ws[epi] AS last_tok
      FROM b ORDER BY doc_id, chunk_id""",
    // X276 MATTR: the previous-occurrence closed form - occurrence p is
    // distinct in window [s, s+W) iff prev_p < s <= p.
    "text_mattr" -> """
      WITH raw AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS rp
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '[^a-z]+') AS ws
              FROM documents) d0),
      t AS (SELECT doc_id, ws[rp] AS tok, rp FROM raw WHERE ws[rp] <> ''),
      p AS (SELECT doc_id, tok,
              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rp)
                AS BIGINT) AS p
            FROM t),
      l AS (SELECT doc_id, p,
              COALESCE(LAG(p) OVER (PARTITION BY doc_id, tok ORDER BY p),
                0) AS prev,
              MAX(p) OVER (PARTITION BY doc_id) AS n
            FROM p),
      c AS (SELECT doc_id, n,
              greatest(least(p, n - 19) -
                greatest(p - 19, prev + 1, 1) + 1, 0) AS c
            FROM l WHERE n >= 20)
      SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_toks,
             CAST(MAX(n) - 19 AS BIGINT) AS n_windows,
             CAST(SUM(c) AS BIGINT) AS sum_distinct,
             ROUND(CAST(SUM(c) AS DOUBLE) / (20 * (MAX(n) - 19)), 6)
               AS mattr
      FROM c GROUP BY doc_id ORDER BY doc_id""",
    // X270 phrase search: positional adjacency merge on the raw split
    // index (1-based, empties occupy their slot on both engines).
    "text_phrase_search" -> """
      WITH raw AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '[^a-z]+') AS ws
              FROM documents) d0),
      a AS (SELECT doc_id, p FROM raw WHERE ws[p] = 'table'),
      b AS (SELECT doc_id, p - 1 AS p FROM raw WHERE ws[p] = 'hash')
      SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(MIN(a.p) AS BIGINT) AS first_pos
      FROM a JOIN b ON b.doc_id = a.doc_id AND b.p = a.p
      GROUP BY a.doc_id ORDER BY a.doc_id""",
    // X271 MMR rerank: the k=4 greedy rounds unrolled; every argmax
    // ranks on 6dp values with vec_id tie-breaks, and the lambda
    // complement is written (1.0 - 0.7) so both engines compute the
    // IDENTICAL IEEE double.
    "embed_mmr_rerank" -> """
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                 WHERE vec_id = 0),
      cand AS (
        SELECT vec_id, v, rel FROM (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 ROUND(list_dot_product(embedding::DOUBLE[], qv) /
                   (sqrt(list_dot_product(embedding::DOUBLE[],
                     embedding::DOUBLE[])) *
                    sqrt(list_dot_product(qv, qv))), 6) AS rel
          FROM embeddings, q WHERE vec_id <> 0) s0
        ORDER BY rel DESC, vec_id LIMIT 16),
      ps AS (
        SELECT x.vec_id AS ia, y.vec_id AS ib,
               ROUND(list_dot_product(x.v, y.v) /
                 (sqrt(list_dot_product(x.v, x.v)) *
                  sqrt(list_dot_product(y.v, y.v))), 6) AS sim
        FROM cand x JOIN cand y ON y.vec_id <> x.vec_id),
      s1 AS (SELECT vec_id, rel, rel AS mmr_score, CAST(1 AS BIGINT) AS rnk
             FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
      m2 AS (SELECT c.vec_id, c.rel,
               ROUND(c.rel * 0.7 - MAX(p.sim) * (1.0 - 0.7), 6) AS mmr_score
             FROM cand c
             JOIN ps p ON p.ia = c.vec_id
             JOIN s1 ON p.ib = s1.vec_id
             WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
             GROUP BY c.vec_id, c.rel),
      s2 AS (SELECT vec_id, rel, mmr_score, CAST(2 AS BIGINT) AS rnk
             FROM m2 ORDER BY mmr_score DESC, vec_id LIMIT 1),
      sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
      m3 AS (SELECT c.vec_id, c.rel,
               ROUND(c.rel * 0.7 - MAX(p.sim) * (1.0 - 0.7), 6) AS mmr_score
             FROM cand c
             JOIN ps p ON p.ia = c.vec_id
             JOIN sel2 ON p.ib = sel2.vec_id
             WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
             GROUP BY c.vec_id, c.rel),
      s3 AS (SELECT vec_id, rel, mmr_score, CAST(3 AS BIGINT) AS rnk
             FROM m3 ORDER BY mmr_score DESC, vec_id LIMIT 1),
      sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
      m4 AS (SELECT c.vec_id, c.rel,
               ROUND(c.rel * 0.7 - MAX(p.sim) * (1.0 - 0.7), 6) AS mmr_score
             FROM cand c
             JOIN ps p ON p.ia = c.vec_id
             JOIN sel3 ON p.ib = sel3.vec_id
             WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
             GROUP BY c.vec_id, c.rel),
      s4 AS (SELECT vec_id, rel, mmr_score, CAST(4 AS BIGINT) AS rnk
             FROM m4 ORDER BY mmr_score DESC, vec_id LIMIT 1)
      SELECT rnk, vec_id, rel, mmr_score FROM (
        SELECT * FROM s1 UNION ALL SELECT * FROM s2
        UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4) u
      ORDER BY rnk""",
    // X272 CUPED: exact DECIMAL moment sums, ONE double conversion in
    // the stated theta shape, theta 6dp-rounded before the adjustment.
    "analytics_cuped" -> """
      WITH pu AS (
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(value AS DECIMAL(18,2)) END),
                 CAST(0 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS pre,
               CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(value AS DECIMAL(18,2)) END),
                 CAST(0 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS post
        FROM events GROUP BY user_id),
      pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(pre) AS sx, SUM(post) AS sy,
               SUM(pre * post) AS sxy, SUM(pre * pre) AS sxx
        FROM pu),
      th AS (
        SELECT ROUND((n * CAST(sxy AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 (n * CAST(sxx AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta,
               CAST(sx AS DOUBLE) / n AS mean_pre_all
        FROM pooled),
      g AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|srm_v1'), 1, 4))::BIGINT % 2 AS arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               SUM(pre) AS sx_a, SUM(post) AS sy_a
        FROM pu GROUP BY 1)
      SELECT g.arm, g.n_users,
             ROUND(CAST(sx_a AS DOUBLE) / n_users, 6) AS mean_pre,
             ROUND(CAST(sy_a AS DOUBLE) / n_users, 6) AS mean_post,
             th.theta,
             ROUND(CAST(sy_a AS DOUBLE) / n_users -
               th.theta * (CAST(sx_a AS DOUBLE) / n_users -
                 th.mean_pre_all), 6) AS adj_mean
      FROM g CROSS JOIN th ORDER BY arm""",
    // X273 Mann-Whitney U: average ranks carried DOUBLED off the
    // tie-group cumulative count; z from integers in the stated shape.
    "analytics_mann_whitney" -> """
      WITH r AS (
        SELECT event_type, value,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|srm_v1'), 1, 4))::BIGINT % 2 AS arm
        FROM events),
      g AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS tie,
              CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS tie_a
            FROM r GROUP BY event_type, value),
      c AS (SELECT event_type, tie, tie_a,
              CAST(SUM(tie) OVER (PARTITION BY event_type ORDER BY value
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM g),
      a AS (SELECT event_type, tie, tie_a,
              2 * cum - tie + 1 AS avgrank2 FROM c),
      f AS (SELECT event_type,
              CAST(SUM(tie_a * avgrank2) AS BIGINT) AS r1_2,
              CAST(SUM(tie_a) AS BIGINT) AS n1,
              CAST(SUM(tie - tie_a) AS BIGINT) AS n2
            FROM a GROUP BY event_type)
      SELECT event_type, n1, n2,
             CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
             ROUND((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 -
               CAST(n1 AS DOUBLE) * n2 / 2.0) /
               sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0), 6)
               AS z
      FROM f ORDER BY event_type""",
    // X274 spectral flux: the PCM-leg oracle convention - recompute the
    // synth samples arithmetically, squared energies, rectified diffs.
    "multimodal_spectral_flux" -> """
      WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents),
      f AS (SELECT doc_id, n_frames,
              unnest(generate_series(0, n_frames - 1)) AS fi
            FROM d),
      s AS (SELECT doc_id, n_frames, fi,
              unnest(generate_series(0, 159)) AS j
            FROM f),
      v AS (SELECT doc_id, n_frames, fi,
              ((doc_id * 7 + (fi * 160 + j) * 13) % 4096) - 2048 AS smp
            FROM s),
      e AS (SELECT doc_id, n_frames, fi,
              CAST(SUM(smp * smp) AS BIGINT) AS en
            FROM v GROUP BY doc_id, n_frames, fi),
      x AS (SELECT doc_id, n_frames, en,
              LAG(en) OVER (PARTITION BY doc_id ORDER BY fi) AS pe
            FROM e)
      SELECT doc_id, CAST(MAX(n_frames) AS BIGINT) AS n_frames,
             CAST(COALESCE(SUM(CASE WHEN pe IS NOT NULL AND en > pe
               THEN en - pe END), 0) AS BIGINT) AS total_flux,
             CAST(COALESCE(SUM(CASE WHEN pe IS NOT NULL AND en > pe
               THEN 1 END), 0) AS BIGINT) AS n_rises,
             CAST(MAX(en) AS BIGINT) AS max_energy
      FROM x GROUP BY doc_id ORDER BY doc_id""",
    // X277 subsampling CI: 32 deterministic md5 half-samples of the
    // USER set; lifts 6dp-rounded before ranking, NULLS FIRST stated.
    "analytics_subsample_ci" -> """
      WITH pu AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS tot,
               CAST(COUNT(*) AS BIGINT) AS n_ev,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|srm_v1'), 1, 4))::BIGINT % 2 AS arm
        FROM events GROUP BY user_id),
      fullarm AS (SELECT arm, SUM(tot) AS s, CAST(SUM(n_ev) AS BIGINT) AS n
                  FROM pu GROUP BY arm),
      fl AS (SELECT ROUND(
               MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END) -
               MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END), 6)
               AS lift_full
             FROM fullarm),
      inb AS (SELECT pu.*, b FROM pu,
                (SELECT unnest(generate_series(0, 31)) AS b) bs
              WHERE ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|sub_' || CAST(b AS VARCHAR)), 1, 4))::BIGINT % 2 = 0),
      ga AS (SELECT b, arm, SUM(tot) AS s, CAST(SUM(n_ev) AS BIGINT) AS n
             FROM inb GROUP BY b, arm),
      lifts AS (SELECT b, ROUND(
                  MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END) -
                  MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END), 6)
                  AS lift
                FROM ga GROUP BY b),
      ranked AS (SELECT lift, ROW_NUMBER() OVER
                   (ORDER BY lift ASC NULLS FIRST, b) AS rn
                 FROM lifts),
      lo AS (SELECT lift AS ci_lo FROM ranked WHERE rn = 2),
      hi AS (SELECT lift AS ci_hi FROM ranked WHERE rn = 31)
      SELECT CAST(32 AS BIGINT) AS n_subsamples, fl.lift_full,
             lo.ci_lo, hi.ci_hi,
             (lo.ci_lo <= 0.0 AND hi.ci_hi >= 0.0) AS spans_zero
      FROM fl CROSS JOIN lo CROSS JOIN hi""",
    // X280 winsorized mean: discrete p05/p95 off the (type, value)
    // histogram, D2 money sums, clamp counts.
    "analytics_winsorized_mean" -> """
      WITH hist AS (
        SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      cum AS (SELECT event_type, v, c,
                CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM hist),
      n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
            FROM hist GROUP BY event_type),
      bounds AS (
        SELECT cum.event_type,
               MIN(CASE WHEN cum >= (5 * n.n + 99) // 100 THEN v END)
                 AS p05,
               MIN(CASE WHEN cum >= (95 * n.n + 99) // 100 THEN v END)
                 AS p95,
               MAX(n.n) AS n
        FROM cum JOIN n ON n.event_type = cum.event_type
        GROUP BY cum.event_type)
      SELECT h.event_type, CAST(MAX(b.n) AS BIGINT) AS n,
             ROUND(CAST(SUM(h.v * h.c) AS DOUBLE) / MAX(b.n), 6)
               AS raw_mean,
             ROUND(CAST(SUM(greatest(least(h.v, b.p95), b.p05) * h.c)
               AS DOUBLE) / MAX(b.n), 6) AS win_mean,
             CAST(SUM(CASE WHEN h.v < b.p05 THEN h.c ELSE 0 END)
               AS BIGINT) AS n_clamped_lo,
             CAST(SUM(CASE WHEN h.v > b.p95 THEN h.c ELSE 0 END)
               AS BIGINT) AS n_clamped_hi
      FROM hist h JOIN bounds b ON b.event_type = h.event_type
      GROUP BY h.event_type ORDER BY h.event_type""",
    // X278 residual energy: 9dp-snapped coordinates, exact centroid
    // sums, 12dp-snapped squares so per-vector energies sum order-free.
    "embed_residual_energy" -> """
      WITH dims AS (
        SELECT vec_id,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END)
                 AS bucket,
               d AS dim,
               CAST(embedding[d] AS DECIMAL(18,9)) AS x
        FROM embeddings,
             (SELECT unnest(generate_series(1, 64)) AS d) ds),
      cents AS (SELECT bucket, dim,
                  CAST(SUM(x) AS DOUBLE) / COUNT(*) AS c
                FROM dims GROUP BY bucket, dim),
      pv AS (SELECT vec_id, dims.bucket,
               CAST(SUM(CAST(ROUND((CAST(x AS DOUBLE) - c) *
                 (CAST(x AS DOUBLE) - c), 12) AS DECIMAL(18,12)))
                 AS DECIMAL(38,12)) AS re,
               CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE),
                 12) AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS xe
             FROM dims JOIN cents ON cents.bucket = dims.bucket
                                 AND cents.dim = dims.dim
             GROUP BY vec_id, dims.bucket)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             ROUND(CAST(SUM(CAST(ROUND(CAST(re AS DOUBLE) /
               CAST(xe AS DOUBLE), 6) AS DECIMAL(18,9)))
               AS DOUBLE) / COUNT(*), 6) AS avg_ratio,
             ROUND(CAST(SUM(re) AS DOUBLE) / CAST(SUM(xe) AS DOUBLE), 6)
               AS energy_ratio
      FROM pv GROUP BY bucket ORDER BY bucket""",
    // X279 Sobel edge energy: the 8 neighbors recomputed from the
    // stated pixel formula; only wrap seams exceed the ramp response.
    "multimodal_edge_energy" -> """
      WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w,
                        8 + n_chars % 9 AS h
                 FROM documents),
      xs AS (SELECT doc_id, w, h, unnest(generate_series(1, w - 2)) AS x
             FROM d),
      g AS (SELECT doc_id, w, h, x, unnest(generate_series(1, h - 2)) AS y
            FROM xs),
      e AS (SELECT doc_id, w, h,
              (((doc_id*31 + (x+1)*7 + (y-1)*13) % 256 +
                2*((doc_id*31 + (x+1)*7 + y*13) % 256) +
                (doc_id*31 + (x+1)*7 + (y+1)*13) % 256) -
               ((doc_id*31 + (x-1)*7 + (y-1)*13) % 256 +
                2*((doc_id*31 + (x-1)*7 + y*13) % 256) +
                (doc_id*31 + (x-1)*7 + (y+1)*13) % 256)) AS gx,
              (((doc_id*31 + (x-1)*7 + (y+1)*13) % 256 +
                2*((doc_id*31 + x*7 + (y+1)*13) % 256) +
                (doc_id*31 + (x+1)*7 + (y+1)*13) % 256) -
               ((doc_id*31 + (x-1)*7 + (y-1)*13) % 256 +
                2*((doc_id*31 + x*7 + (y-1)*13) % 256) +
                (doc_id*31 + (x+1)*7 + (y-1)*13) % 256)) AS gy
            FROM g)
      SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST((MAX(w) - 2) * (MAX(h) - 2) AS BIGINT) AS n_interior,
             CAST(SUM(gx*gx + gy*gy) AS BIGINT) AS edge_energy,
             CAST(SUM(CASE WHEN gx*gx + gy*gy > 20000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_edge_px
      FROM e GROUP BY doc_id ORDER BY doc_id""",
    // X281 context packing: X269's chunk table + query-term span
    // scores, rank-ordered greedy admission under the token budget.
    "text_context_pack" -> """
      WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
      nn AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM dd),
      ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
               CAST(k * 16 + 1 AS BIGINT) AS start_pos,
               CAST(least(k * 16 + 24, n) AS BIGINT) AS end_pos,
               CAST(least(k * 16 + 24, n) - k * 16 AS BIGINT) AS n_toks
             FROM (SELECT doc_id, ws, n,
                     unnest(generate_series(0,
                       (greatest(n - 24, 0) + 15) // 16)) AS k
                   FROM nn) kk),
      hits AS (SELECT doc_id, p FROM (
                 SELECT doc_id, ws[p] AS w, p FROM (
                   SELECT doc_id, string_split(lower(text), ' ') AS ws,
                          unnest(generate_series(1,
                            len(string_split(lower(text), ' ')))) AS p
                   FROM documents) t0) t1
               WHERE w IN ('table', 'hash', 'scan')),
      sc AS (SELECT ch.doc_id, ch.chunk_id, ch.n_toks,
               CAST(COUNT(*) AS BIGINT) AS score
             FROM ch JOIN hits ON hits.doc_id = ch.doc_id
               AND hits.p >= ch.start_pos AND hits.p <= ch.end_pos
             GROUP BY ch.doc_id, ch.chunk_id, ch.n_toks),
      top AS (SELECT * FROM sc
              ORDER BY score DESC, doc_id, chunk_id LIMIT 64),
      rk AS (SELECT CAST(ROW_NUMBER() OVER
               (ORDER BY score DESC, doc_id, chunk_id) AS BIGINT) AS rank,
               doc_id, chunk_id, score, n_toks,
               CAST(SUM(n_toks) OVER
                 (ORDER BY score DESC, doc_id, chunk_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
             FROM top)
      SELECT rank, doc_id, chunk_id, score, n_toks, cum_toks
      FROM rk WHERE cum_toks <= 256 ORDER BY rank""",
    // X282 difference-in-differences: 2x2 (arm x period) means off one
    // scan, DiD from the four 6dp means (stated).
    "analytics_did" -> """
      WITH cells AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|srm_v1'), 1, 4))::BIGINT % 2 AS arm,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN 'pre' ELSE 'post' END AS period,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events),
      m AS (SELECT arm, period,
              ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS m
            FROM cells GROUP BY arm, period),
      pv AS (SELECT
               MAX(CASE WHEN arm = 0 AND period = 'pre' THEN m END)
                 AS m_pre0,
               MAX(CASE WHEN arm = 0 AND period = 'post' THEN m END)
                 AS m_post0,
               MAX(CASE WHEN arm = 1 AND period = 'pre' THEN m END)
                 AS m_pre1,
               MAX(CASE WHEN arm = 1 AND period = 'post' THEN m END)
                 AS m_post1
             FROM m)
      SELECT m_pre0, m_post0, m_pre1, m_post1,
             ROUND((m_post1 - m_pre1) - (m_post0 - m_pre0), 6) AS did,
             ROUND(m_post1 - m_post0, 6) AS naive_lift
      FROM pv""",
    // X284 EMD drift: exact Wasserstein-1 over the merged discrete
    // support - integer CDF numerators over the common denominator.
    "dq_emd_drift" -> """
      WITH hist AS (
        SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM events GROUP BY 1, 2),
      cum AS (SELECT event_type, v, c1, c2,
                CAST(SUM(c1) OVER (PARTITION BY event_type ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                CAST(SUM(c2) OVER (PARTITION BY event_type ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
                CAST(LEAD(v) OVER (PARTITION BY event_type ORDER BY v) - v
                  AS DECIMAL(18,2)) AS gap
              FROM hist),
      n AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2
            FROM hist GROUP BY event_type)
      SELECT cum.event_type, MAX(n.n1) AS n_pre, MAX(n.n2) AS n_post,
             ROUND(CAST(SUM(CAST(abs(cum1 * n.n2 - cum2 * n.n1)
               AS DECIMAL(18,2)) * gap) AS DOUBLE) /
               (CAST(MAX(n.n1) AS DOUBLE) * MAX(n.n2)), 6) AS emd
      FROM cum JOIN n ON n.event_type = cum.event_type
      WHERE gap IS NOT NULL
      GROUP BY cum.event_type ORDER BY cum.event_type""",
    // X283 gate ablation: the three signal CTEs restated (quality /
    // repetition / lexical), per-doc fail flags, fixed 5-row explode.
    "curation_gate_ablation" -> """
      WITH q AS (
        SELECT doc_id, n_chars,
               ROUND(LEAST(CAST(n_words AS DOUBLE) / 100, 1.0) *
                 (CAST(n_distinct_words AS DOUBLE) / n_words), 6) AS score
        FROM (SELECT doc_id, n_chars,
                     len(string_split(text, ' ')) AS n_words,
                     len(list_distinct(string_split(text, ' ')))
                       AS n_distinct_words
              FROM documents) tq),
      rg AS (
        SELECT doc_id,
               [array_to_string(ws[i:i+1], ' ')
                FOR i IN generate_series(1, len(ws) - 1)] AS g2,
               [array_to_string(ws[i:i+2], ' ')
                FOR i IN generate_series(1, len(ws) - 2)] AS g3
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents) tw),
      r AS (
        SELECT doc_id,
               (ROUND(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                  / len(g2), 6) > 0.20 OR
                ROUND(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                  / len(g3), 6) > 0.18) AS flagged
        FROM rg),
      lx AS (
        SELECT doc_id,
               ROUND(CAST(len(list_filter(ws,
                 w -> len(regexp_extract_all(w, '[aeiou]+')) >= 3))
                 AS DOUBLE) / len(ws), 6) AS poly_ratio
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 t -> t <> '') AS ws
              FROM documents) tl
        WHERE len(ws) > 0),
      flags AS (
        SELECT q.doc_id,
               (q.score < 0.2) AS f_q,
               COALESCE(r.flagged, FALSE) AS f_rep,
               (COALESCE(lx.poly_ratio, 0.0) < 0.02) AS f_lex,
               (q.n_chars < 150) AS f_len
        FROM q LEFT JOIN r ON r.doc_id = q.doc_id
               LEFT JOIN lx ON lx.doc_id = q.doc_id),
      nf AS (
        SELECT doc_id, f_q, f_rep, f_lex, f_len,
               (CAST(f_q AS BIGINT) + CAST(f_rep AS BIGINT) +
                CAST(f_lex AS BIGINT) + CAST(f_len AS BIGINT)) AS n_fails
        FROM flags),
      a AS (
        SELECT '1_quality' AS criterion, f_q AS fail,
               (f_q AND n_fails = 1) AS uniq FROM nf
        UNION ALL
        SELECT '2_repetition', f_rep, (f_rep AND n_fails = 1) FROM nf
        UNION ALL
        SELECT '3_lexical', f_lex, (f_lex AND n_fails = 1) FROM nf
        UNION ALL
        SELECT '4_length', f_len, (f_len AND n_fails = 1) FROM nf
        UNION ALL
        SELECT '5_any', (n_fails > 0), (n_fails = 1) FROM nf)
      SELECT criterion, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(fail AS BIGINT)) AS BIGINT) AS n_fail,
             CAST(SUM(CAST(uniq AS BIGINT)) AS BIGINT) AS n_unique_fail,
             CASE WHEN SUM(CAST(fail AS BIGINT)) > 0 THEN
               ROUND(CAST(SUM(CAST(uniq AS BIGINT)) AS DOUBLE) /
                 SUM(CAST(fail AS BIGINT)), 6) END AS unique_share
      FROM a GROUP BY criterion ORDER BY criterion""",
    // X286 MDE: pooled variance in the stated double shape, z constants
    // spelled as the same literal sum on both engines.
    "analytics_mde" -> """
      WITH r AS (
        SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|srm_v1'), 1, 4))::BIGINT % 2 AS arm
        FROM events),
      g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n1,
              SUM(v) AS sv, SUM(v * v) AS svv
            FROM r GROUP BY event_type)
      SELECT event_type, n1, CAST(n - n1 AS BIGINT) AS n2,
             ROUND(CAST(sv AS DOUBLE) / n, 6) AS mean,
             ROUND(sqrt((n * CAST(svv AS DOUBLE) -
               CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) /
               (n * (n - 1))), 6) AS sd,
             ROUND((1.959964 + 0.841621) *
               sqrt(((n * CAST(svv AS DOUBLE) -
                 CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) /
                 (n * (n - 1))) *
                 (1.0 / n1 + 1.0 / (n - n1))), 6) AS mde_abs,
             ROUND(ROUND((1.959964 + 0.841621) *
               sqrt(((n * CAST(svv AS DOUBLE) -
                 CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) /
                 (n * (n - 1))) *
                 (1.0 / n1 + 1.0 / (n - n1))), 6) /
               ROUND(CAST(sv AS DOUBLE) / n, 6), 6) AS mde_rel
      FROM g ORDER BY event_type""",
    // X285 hybrid retrieval: BM25 posting top-10 (X216 verbatim) RRF-
    // fused with the exact cosine top-10 (X3), k = 60.
    "text_hybrid_retrieval" -> """
      WITH docs AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
            FROM docs),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
             WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
      df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
      c AS (SELECT t.doc_id, t.term,
              ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dd.dl / s.avgdl)) AS contrib
            FROM tf t JOIN df d ON d.term = t.term
                      JOIN docs dd ON dd.doc_id = t.doc_id
            CROSS JOIN stats s),
      p AS (SELECT doc_id,
              MAX(CASE WHEN term = 'spark' THEN contrib END) AS c0,
              MAX(CASE WHEN term = 'join' THEN contrib END) AS c1,
              MAX(CASE WHEN term = 'window' THEN contrib END) AS c2
            FROM c GROUP BY doc_id),
      sc AS (SELECT p.doc_id,
               COALESCE(c0, CAST(0.0 AS DOUBLE)) + COALESCE(c1, CAST(0.0 AS DOUBLE)) + COALESCE(c2, CAST(0.0 AS DOUBLE)) AS score_raw
             FROM p),
      lexcut AS (SELECT doc_id, ROUND(score_raw, 6) AS score FROM sc
                 WHERE score_raw > 0
                 ORDER BY score_raw DESC, doc_id LIMIT 10),
      lex AS (SELECT doc_id AS id,
                CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rank_lex
              FROM lexcut),
      q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
            WHERE vec_id = 0),
      cs AS (SELECT vec_id,
               list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv, qv))) AS cos
             FROM embeddings, q WHERE vec_id <> 0),
      densecut AS (SELECT vec_id, ROUND(cos, 6) AS cos_sim FROM cs
                   ORDER BY ROUND(cos, 6) DESC, vec_id LIMIT 10),
      dense AS (SELECT vec_id AS id,
                  CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id)
                    AS BIGINT) AS rank_dense
                FROM densecut),
      fused AS (SELECT COALESCE(lex.id, dense.id) AS id,
                  lex.rank_lex, dense.rank_dense,
                  COALESCE(1.0 / (60 + lex.rank_lex), 0.0) +
                    COALESCE(1.0 / (60 + dense.rank_dense), 0.0) AS rrf
                FROM lex FULL OUTER JOIN dense ON dense.id = lex.id)
      SELECT id, rank_lex, rank_dense, ROUND(rrf, 6) AS rrf_score
      FROM fused ORDER BY rrf DESC, id LIMIT 10""")

  /** Streaming queries compare against their batch-equivalent SQL
    * (AvailableNow over finite input == batch); K5 renders the INSERT
    * fragments. `scan_inventory` is intentionally absent (filesystem scan,
    * rows-only check).
    */
  val stream_sink_queries: Map[String, String] = Map(
    "stream_tumbling" -> s"""
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // Stream-stream interval join twin: the batch inner range join (inner
    // matches emit regardless of watermark, so finite replay == batch).
    "stream_range_join" -> """
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events),
      s AS (SELECT event_id AS signup_id, user_id, us AS s_us
            FROM ev WHERE event_type = 'signup'),
      p AS (SELECT event_id AS purchase_id, user_id AS p_user, us AS p_us, value
            FROM ev WHERE event_type = 'purchase')
      SELECT signup_id, purchase_id, user_id, value
      FROM s JOIN p ON p_user = user_id
         AND p_us >= s_us AND p_us < s_us + 3600000000
      ORDER BY signup_id, purchase_id""",
    // Left-outer stream-stream twin: the flush sentinels make every real
    // signup decidable, so the streaming result is exactly the batch
    // left join.
    "stream_left_join" -> """
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events),
      s AS (SELECT event_id AS signup_id, user_id, us AS s_us
            FROM ev WHERE event_type = 'signup'),
      p AS (SELECT event_id AS purchase_id, user_id AS p_user, us AS p_us, value
            FROM ev WHERE event_type = 'purchase')
      SELECT s.signup_id, p.purchase_id, s.user_id, p.value
      FROM s LEFT JOIN p ON p.p_user = s.user_id
         AND p.p_us >= s.s_us AND p.p_us < s.s_us + 3600000000
      ORDER BY signup_id, purchase_id""",
    // Append-mode sessionization twin: sessions whose end (last event +
    // 30min gap) the watermark has passed.
    "stream_sessions_append" -> """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
      ), wm AS (
        SELECT epoch_us(date_trunc('millisecond', max(CAST(ts AS TIMESTAMP))))
               - 3600000000 AS wm_us
        FROM events
      ), flagged AS (
        SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ), sess AS (
        SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
      )
      SELECT user_id, start_us, end_us, n_events FROM (
        SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id) t, wm
      WHERE end_us <= wm_us
      ORDER BY user_id, start_us""",
    // Append-mode twin: only watermark-closed windows (window end <= max
    // event time - 1h; Spark tracks the watermark at ms precision, hence
    // the millisecond trunc of the max).
    "stream_tumbling_append" -> s"""
      WITH mx AS (SELECT date_trunc('millisecond', max(CAST(ts AS TIMESTAMP))) AS mt
                  FROM events)
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM events, mx
      WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
            <= mt - INTERVAL 1 HOUR
      GROUP BY 1, 2 ORDER BY 1, 2""",
    // stream_sink_v2 round-trips the stream_tumbling_append result through
    // the DSv2 streaming sink's landing files and back via the V2 scan —
    // value-lossless by contract, so the twin is the same closed-window SQL
    "stream_sink_v2" -> s"""
      WITH mx AS (SELECT date_trunc('millisecond', max(CAST(ts AS TIMESTAMP))) AS mt
                  FROM events)
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM events, mx
      WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
            <= mt - INTERVAL 1 HOUR
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_sessions" -> """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
      ), flagged AS (
        SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ), sess AS (
        SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
      )
      SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, start_us""",
    // X144 MapState profile: per-(user, sub-key) running counts == the
    // batch GROUP BY on the finite replay.
    "stream_map_state" -> """
      SELECT user_id, event_type, COUNT(*) AS n_events
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    // X143 streaming top-k: ListState leaderboard == the batch rank
    // window on the finite replay.
    "stream_topk_state" -> """
      WITH r AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rk
        FROM events)
      SELECT event_type, CAST(rk AS INT) AS rank, value, event_id
      FROM r WHERE rk <= 3 ORDER BY event_type, rank""",
    // X132 timer sessionization: emitted = every gap-split (non-final)
    // session — per-key ordering closes those immediately — plus final
    // sessions whose (last + gap) the final ms-precision watermark
    // passed (timers fire against the ms watermark, hence the // 1000).
    "stream_sessions_state" -> """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
      ), wm AS (
        SELECT epoch_us(date_trunc('millisecond', max(CAST(ts AS TIMESTAMP)))) // 1000
               - 3600000 AS wm_ms
        FROM events
      ), flagged AS (
        SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ), sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
      ), agg AS (
        SELECT user_id, sid, MIN(us) AS start_us,
               MAX(us) + 1800000000 AS end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
      ), mx AS (SELECT user_id, MAX(sid) AS msid FROM agg GROUP BY user_id)
      SELECT a.user_id, a.start_us, a.end_us, a.n_events
      FROM agg a JOIN mx ON a.user_id = mx.user_id, wm
      WHERE a.sid < mx.msid OR (a.end_us // 1000) <= wm.wm_ms
      ORDER BY a.user_id, a.start_us""",
    "stream_dedup" -> """
      SELECT COUNT(*) AS n_distinct_pairs
      FROM (SELECT DISTINCT user_id, event_type FROM events) t""",
    "stream_stateful_counts" -> """
      SELECT user_id, COUNT(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id""",
    // transformWithState twin: single AvailableNow batch -> emitted totals
    // equal the batch per-user counts
    "stream_transform_state" -> """
      SELECT user_id, COUNT(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id""",
    // X111 streaming keep-first dedup twin: the batch min-(us, event_id)
    // per (user, type) states what the transformWithState gate admits
    // (AvailableNow = one micro-batch over the finite fixture).
    "stream_dedup_state" -> """
      WITH e AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      r AS (
        SELECT *, ROW_NUMBER() OVER
          (PARTITION BY user_id, event_type ORDER BY us, event_id) AS rn
        FROM e)
      SELECT event_id, user_id, event_type, us
      FROM r WHERE rn = 1 ORDER BY event_id""",
    // X217 streaming near-dup gate twin: the X2 banding (8 md5-min sigs,
    // 4 bands of 2) with a min-owner window per (band, hash) — a doc is
    // blocked on a band iff a smaller doc_id shares the band hash
    // (arrival order = doc_id order on the finite replay).
    "stream_neardup_gate" -> NEARDUP_GATE_SQL,
    // X266 order-insensitive variant: the retraction fold makes the gate
    // equal THE SAME min-owner law under any arrival order, so the twin
    // is shared verbatim — the law itself never mentioned arrival order.
    "stream_neardup_gate_anyorder" -> NEARDUP_GATE_SQL,
    // X247 Bloom gate twin: same min-owner window as the band gate with
    // the quantifier flipped — admitted iff ANY of the doc's k=3
    // md5-derived bits (mod 1024, per-doc distinct) was previously
    // untouched.
    "stream_bloom_gate" -> """
      WITH bits AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(text || '|bloom' || CAST(i AS VARCHAR)), 1, 4))::BIGINT % 1024 AS bit
        FROM documents,
             (SELECT unnest(generate_series(0, 2)) AS i) g),
      own AS (
        SELECT doc_id, bit,
               MIN(doc_id) OVER (PARTITION BY bit) AS owner
        FROM bits)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bits,
             CAST(SUM(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_set_bits,
             SUM(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) < COUNT(*) AS admitted
      FROM own GROUP BY doc_id ORDER BY doc_id""",
    // X239 streaming quantile-sketch twin: the batch log2-bucket sketch
    // (the X130 rule verbatim) — counter addition is order-free, so the
    // stream's converged state equals this at any micro-batch split.
    "stream_quantile_state" -> """
      WITH r AS (
        SELECT event_type,
               length(bin(CAST(CAST(value AS DECIMAL(18,2)) * 100
                 AS BIGINT))) AS bucket
        FROM events),
      g AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS c
            FROM r GROUP BY event_type, bucket),
      cum AS (SELECT event_type, bucket,
                SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
              FROM g),
      n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM r GROUP BY event_type),
      t AS (SELECT n.event_type, n.n, q.qpct,
              (q.qpct * n.n + 99) // 100 AS target
            FROM n, (SELECT unnest(list_value(50, 90, 99)) AS qpct) q),
      picked AS (SELECT t.event_type, t.n, t.qpct,
                   CAST(MIN(cum.bucket) AS BIGINT) AS b
                 FROM t JOIN cum ON cum.event_type = t.event_type
                               AND cum.cum >= t.target
                 GROUP BY t.event_type, t.n, t.qpct)
      SELECT event_type, n,
             MAX(CASE WHEN qpct = 50 THEN b END) AS b50,
             MAX(CASE WHEN qpct = 90 THEN b END) AS b90,
             MAX(CASE WHEN qpct = 99 THEN b END) AS b99
      FROM picked GROUP BY event_type, n ORDER BY event_type""",
    // X275 max-gap fold twin: the batch lag() window - on the ordered
    // finite replay the emitted gap rows equal it row-for-row; users
    // with a single event carry no gap and are absent (stated).
    "stream_max_gap_state" -> """
      WITH e AS (SELECT user_id, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
                 FROM events),
      l AS (SELECT user_id, us,
              LAG(us) OVER (PARTITION BY user_id
                ORDER BY us, event_id) AS prev_us
            FROM e),
      g AS (SELECT user_id, us, prev_us, us - prev_us AS gap_us
            FROM l WHERE prev_us IS NOT NULL)
      SELECT user_id, CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
             CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
             CAST(MAX(us) - MIN(prev_us) AS BIGINT) AS span_us,
             CASE WHEN MAX(us) - MIN(prev_us) > 0 THEN
               ROUND(CAST(MAX(gap_us) AS DOUBLE) * COUNT(*) /
                 (MAX(us) - MIN(prev_us)), 6) END AS burstiness
      FROM g GROUP BY user_id ORDER BY user_id""",
    // X120 streaming HLL twin: the batch register build (X105's SQL,
    // estimate only) — the stream's 256-byte state max-folds to exactly
    // these registers at any micro-batch split
    "stream_hll" -> """
      WITH cells AS (
        SELECT event_type,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events),
      bw AS (SELECT event_type, h % 256 AS b, h // 256 AS w FROM cells),
      rho AS (
        SELECT event_type, b,
               MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS rho
        FROM bw GROUP BY event_type, b),
      grid AS (
        SELECT t.event_type, g.b
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(generate_series(0, 255)) AS b) g),
      regs AS (
        SELECT grid.event_type, grid.b, COALESCE(rho.rho, 0) AS rho
        FROM grid LEFT JOIN rho ON grid.event_type = rho.event_type
                               AND grid.b = rho.b),
      agg AS (
        SELECT event_type, SUM(power(2.0, -rho)) AS s,
               SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v
        FROM regs GROUP BY event_type)
      SELECT event_type,
             ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s <= 640.0
                        AND v > 0
                   THEN 256.0 * ln(256.0 / v)
                   ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / s END, 6)
               AS hll_est
      FROM agg ORDER BY event_type""",
    // X99 streaming attribution twin: per-purchase last-touch rows —
    // the batch LAST_VALUE window states what the keyed stream state
    // computes; agreement proved per purchase.
    "stream_attribution" -> s"""
      WITH e AS (
        SELECT event_id, user_id, event_type,
               CAST(CAST(value AS $D2) AS DOUBLE) AS v,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
        FROM events),
      t AS (
        SELECT *, LAST_VALUE(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY us, kind, event_id
                        ROWS UNBOUNDED PRECEDING) AS last_touch
        FROM e)
      SELECT event_id AS purchase_id,
             COALESCE(last_touch, 'none') AS channel, v AS value
      FROM t WHERE kind = 1 ORDER BY purchase_id""",
    // X95 strict rate limiter twin: the admit-iff->=1h-since-last-ADMITTED
    // recurrence as a per-(user, type) recursive walk in (us, event_id)
    // order — last_adm carries the recurrence, admitted flags the output.
    "stream_throttle_greedy" -> """
      WITH RECURSIVE e AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                 AS BIGINT) AS rn
        FROM events),
      walk AS (
        SELECT user_id, event_type, event_id, us, rn,
               us AS last_adm, TRUE AS admitted
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_type, e.event_id, e.us, e.rn,
               CASE WHEN e.us - w.last_adm >= 3600000000
                    THEN e.us ELSE w.last_adm END,
               e.us - w.last_adm >= 3600000000
        FROM walk w JOIN e ON e.user_id = w.user_id
                          AND e.event_type = w.event_type
                          AND e.rn = w.rn + 1)
      SELECT event_id, user_id, event_type, us
      FROM walk WHERE admitted ORDER BY event_id""",
    "sink_sql_insert" -> s"""
      WITH ${SYNC_CTES.trim}
      SELECT name,
             '("' || type || '", "' || name ||
             '", "{"iam":"gatherbot","selectable":false,"editable":false}", "' ||
             short_name || '")' AS values_fragment
      FROM fc ORDER BY name""",
    // Stream-static join twin: the static profile is the batch per-user
    // count, so the enriched aggregate is a plain two-level SQL join.
    "stream_static_join" -> s"""
      WITH prof AS (
        SELECT user_id, COUNT(*) AS user_total FROM events GROUP BY user_id)
      SELECT e.event_type, (p.user_total >= 70) AS heavy_user,
             COUNT(*) AS n,
             CAST(SUM(CAST(e.value AS $D2)) AS DOUBLE) AS sum_value
      FROM events e JOIN prof p ON e.user_id = p.user_id
      GROUP BY e.event_type, (p.user_total >= 70)
      ORDER BY e.event_type, heavy_user""")

  val coverage_queries: Map[String, String] = Map(
    "sync_normalize_projects" -> sync(
      """SELECT id, p_file AS file, p_md5 AS md5 FROM projects ORDER BY id"""),
    // Twin of the V2 gather scan entry: pushed EqualTo(iam) + is_dataset
    // filter, pruned projection — the wire file carries exactly the
    // `projects` derivation.
    "scan_remote_v2" -> sync(
      """SELECT id, p_file, title FROM projects
         WHERE iam = 'gatherbot' AND is_dataset ORDER BY id"""),
    // the poll-stream form (MICRO_BATCH_READ) must see the identical list
    // a batch scan sees — same twin as scan_remote_v2
    "stream_scan_v2" -> sync(
      """SELECT id, p_file, title FROM projects
         WHERE iam = 'gatherbot' AND is_dataset ORDER BY id"""),
    // aggregates computed inside the V2 scan must equal the plain SQL
    // aggregate over the same list
    "scan_remote_agg" -> sync(
      """SELECT COUNT(*) AS n_projects, MIN(id) AS min_id,
                MAX(id) AS max_id, COUNT(p_md5) AS n_md5
         FROM projects WHERE is_dataset"""),
    // Cross-run incremental sync: `files2` mirrors SyncInputs.filesRun2
    // (deleted %10=9, moved/ %10=3, content-changed %10=6, extra %10=0,
    // dup-group md5 override %17=5 taking precedence); the diff classifies
    // by path join + rank-paired md5 rename detection.
    "sync_incremental_actions" -> sync(
      """, files2 AS (
        SELECT doc_id AS ord, doc_id AS ino, n_chars AS "size",
               CASE WHEN doc_id % 10 = 3 THEN 'moved/' ELSE '' END ||
                 source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.shp' AS file,
               CASE WHEN doc_id % 17 = 5 THEN md5('dup_' || CAST(doc_id % 4 AS VARCHAR))
                    WHEN doc_id % 10 = 6 AND doc_id % 7 = 2 THEN NULL
                    WHEN doc_id % 10 = 6 THEN md5('v2_' || text)
                    ELSE md5(text) END AS md5
        FROM documents WHERE doc_id % 10 <> 9
        UNION ALL
        SELECT doc_id + 5000000, doc_id + 5000000, n_chars + 1,
               'extra/doc_' || CAST(doc_id AS VARCHAR) || '_extra.shp',
               md5('extra_' || text)
        FROM documents WHERE doc_id % 10 = 0
      ),
      bypath AS (
        SELECT c.file AS cfile, c.md5 AS cmd5, p.file AS pfile, p.md5 AS pmd5
        FROM files2 c FULL JOIN files p ON c.file = p.file
      ),
      adds AS (
        SELECT cfile AS file, cmd5 AS md5,
               ROW_NUMBER() OVER (PARTITION BY cmd5 ORDER BY cfile) AS rn
        FROM bypath WHERE pfile IS NULL
      ),
      rems AS (
        SELECT pfile AS file, pmd5 AS md5,
               ROW_NUMBER() OVER (PARTITION BY pmd5 ORDER BY pfile) AS rn
        FROM bypath WHERE cfile IS NULL
      ),
      pairs AS (
        SELECT COALESCE(a.md5, r.md5) AS md5, a.file AS afile, r.file AS rfile
        FROM adds a FULL JOIN rems r ON a.md5 = r.md5 AND a.rn = r.rn
      )
      SELECT * FROM (
        SELECT 'content_changed' AS action, cfile AS file, pfile AS old_file,
               cmd5 AS md5, pmd5 AS old_md5
        FROM bypath
        WHERE cfile IS NOT NULL AND pfile IS NOT NULL
          AND cmd5 IS DISTINCT FROM pmd5
        UNION ALL
        SELECT 'rename', afile, rfile, md5, md5 FROM pairs
        WHERE afile IS NOT NULL AND rfile IS NOT NULL
        UNION ALL
        SELECT 'create', afile, NULL, md5, NULL FROM pairs WHERE rfile IS NULL
        UNION ALL
        SELECT 'archive', NULL, rfile, NULL, md5 FROM pairs WHERE afile IS NULL
      ) t ORDER BY action, COALESCE(file, old_file), md5"""),
    // SCD2 ledger over two pass-1 runs: pass1_2 re-derives the match on
    // files2 (dedup + prioritized join, same shape as pass1); the full
    // join on the (id, ino) natural key opens/closes versions.
    "sync_ledger_scd2" -> sync(
      """, files2 AS (
        SELECT doc_id AS ord, doc_id AS ino, n_chars AS "size",
               CASE WHEN doc_id % 10 = 3 THEN 'moved/' ELSE '' END ||
                 source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.shp' AS file,
               CASE WHEN doc_id % 17 = 5 THEN md5('dup_' || CAST(doc_id % 4 AS VARCHAR))
                    WHEN doc_id % 10 = 6 AND doc_id % 7 = 2 THEN NULL
                    WHEN doc_id % 10 = 6 THEN md5('v2_' || text)
                    ELSE md5(text) END AS md5
        FROM documents WHERE doc_id % 10 <> 9
        UNION ALL
        SELECT doc_id + 5000000, doc_id + 5000000, n_chars + 1,
               'extra/doc_' || CAST(doc_id AS VARCHAR) || '_extra.shp',
               md5('extra_' || text)
        FROM documents WHERE doc_id % 10 = 0
      ),
      dedup2 AS (
        SELECT f.*, ROW_NUMBER() OVER (PARTITION BY md5 ORDER BY ord) AS rn
        FROM files2 f
      ),
      pass1_2 AS (
        SELECT d.ino, d.file,
               COALESCE(pe.id, pm.id) AS project,
               CASE WHEN pe.id IS NOT NULL THEN 'exactMatch'
                    WHEN pm.id IS NOT NULL THEN 'md5Match' END AS kind
        FROM dedup2 d
        LEFT JOIN pbypath pe ON d.file = pe.p_file
        LEFT JOIN pbymd5 pm ON d.md5 = pm.p_md5
        WHERE d.rn = 1
      ),
      m1 AS (
        SELECT project AS id, ino, file, "match" AS kind
        FROM pass1 WHERE project IS NOT NULL
      ),
      m2 AS (
        SELECT project AS id, ino, file, kind
        FROM pass1_2 WHERE project IS NOT NULL
      ),
      scd AS (
        SELECT COALESCE(m1.id, m2.id) AS id, COALESCE(m1.ino, m2.ino) AS ino,
               m1.file AS f1, m1.kind AS k1, m2.file AS f2, m2.kind AS k2,
               (m1.id IS NOT NULL) AS in1, (m2.id IS NOT NULL) AS in2
        FROM m1 FULL JOIN m2 ON m1.id = m2.id AND m1.ino = m2.ino
      )
      SELECT * FROM (
        SELECT id, ino AS matched_ino, f1 AS matched_file, k1 AS match_kind,
               CAST(1 AS BIGINT) AS valid_from,
               CAST(CASE WHEN in2 AND f2 IS NOT DISTINCT FROM f1
                          AND k2 IS NOT DISTINCT FROM k1
                         THEN NULL ELSE 2 END AS BIGINT) AS valid_to
        FROM scd WHERE in1
        UNION ALL
        SELECT id, ino, f2, k2, CAST(2 AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM scd WHERE in2 AND (NOT in1 OR f2 IS DISTINCT FROM f1
                                OR k2 IS DISTINCT FROM k1)
      ) t ORDER BY id, matched_ino, valid_from"""),
    "sink_create_payloads_json" -> sync(
      """SELECT ord, title,
           '{"file":"' || file || '","md5":"' || md5 || '"}' AS file_json
         FROM creates_payload ORDER BY ord"""),
    "dedup_exact_salted" -> """
      SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_doc_id,
             COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""",
    // Incremental corpus dedup: batch = doc_id%10==0, corpus = the rest;
    // content key = the sync fixture's dup-injecting md5 derivation. The
    // Spark side's Bloom prefilter has no false negatives, so the naive
    // IN-subquery statement here is value-identical by construction.
    "dedup_incremental" -> """
      WITH keyed AS (
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 5
                    THEN md5('dup_' || CAST(doc_id % 4 AS VARCHAR))
                    ELSE md5(text) END AS h
        FROM documents),
      corpus AS (SELECT DISTINCT h FROM keyed WHERE doc_id % 10 <> 0),
      batch AS (SELECT doc_id, h FROM keyed WHERE doc_id % 10 = 0),
      b AS (
        SELECT doc_id, h,
               MIN(doc_id) OVER (PARTITION BY h) AS first_id,
               h IN (SELECT h FROM corpus) AS dup_in_corpus
        FROM batch)
      SELECT doc_id, dup_in_corpus,
             doc_id <> first_id AS dup_in_batch,
             (NOT dup_in_corpus) AND doc_id = first_id AS keep
      FROM b ORDER BY doc_id""",
    // Mirrors Events.rangeJoinSignupWindow: purchases within the hour
    // after each signup (equi-key + interval predicate in the join).
    "events_range_join" -> s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events),
      s AS (SELECT event_id AS signup_id, user_id, us AS s_us
            FROM ev WHERE event_type = 'signup'),
      p AS (SELECT user_id AS p_user, us AS p_us, value
            FROM ev WHERE event_type = 'purchase')
      SELECT s.signup_id, s.user_id, s.s_us,
             COUNT(p.p_us) AS n_purchases,
             COALESCE(CAST(SUM(CAST(p.value AS $D2)) AS DOUBLE), 0.0) AS purchase_value
      FROM s LEFT JOIN p ON p.p_user = s.user_id
                        AND p.p_us >= s.s_us AND p.p_us < s.s_us + 3600000000
      GROUP BY s.signup_id, s.user_id, s.s_us
      ORDER BY s.signup_id""",
    // The oracle states the NAIVE band join; the Spark side runs the
    // same naive form and the BandJoinRewrite optimizer rule supplies
    // the banded equi-join plan — agreement proves the rewrite lossless.
    "events_band_join" -> """
      WITH ev AS (
        SELECT event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      e AS (SELECT event_id, us AS e_us FROM ev WHERE event_type = 'error'),
      c AS (SELECT us AS c_us FROM ev WHERE event_type = 'click')
      SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_near
      FROM e JOIN c ON abs(e.e_us - c.c_us) <= 1800000000
      GROUP BY e.event_id ORDER BY e.event_id""",
    // the asymmetric twin: clicks 0..30 min strictly AFTER each error
    "events_band_join_after" -> """
      WITH ev AS (
        SELECT event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      e AS (SELECT event_id, us AS e_us FROM ev WHERE event_type = 'error'),
      c AS (SELECT us AS c_us FROM ev WHERE event_type = 'click')
      SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_after
      FROM e JOIN c ON c.c_us - e.e_us <= 1800000000
                   AND e.e_us - c.c_us <= 0
      GROUP BY e.event_id ORDER BY e.event_id""",
    "events_asof_signup" -> """
      SELECT event_id, user_id, us, prev_signup_us,
             us - prev_signup_us AS since_signup_us
      FROM (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LAST_VALUE(CASE WHEN event_type = 'signup'
                               THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_signup_us
        FROM events) t
      WHERE event_type = 'purchase' ORDER BY event_id""",
    // Disk layout twins: the Spark side reads the day-partitioned landing
    // copy (Layout.eventsByDay) with the day predicate pruning the scan;
    // the oracle derives the same day column inline — values must agree
    // regardless of layout. day0 = first day, the DPP dim = first 7 days.
    "layout_partition_prune" -> s"""
      WITH ev AS (
        SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
               event_type, value
        FROM events),
      d0 AS (SELECT MIN(day) AS day FROM ev)
      SELECT ev.day, ev.event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ev.value AS $D2)) AS DOUBLE) AS sum_value
      FROM ev JOIN d0 ON ev.day = d0.day
      GROUP BY ev.day, ev.event_type
      ORDER BY ev.event_type""",
    "layout_dpp_join" -> s"""
      WITH ev AS (
        SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
               user_id, value
        FROM events),
      cal AS (SELECT DISTINCT day FROM ev),
      week1 AS (
        SELECT day FROM cal
        WHERE day <= (SELECT MAX(day)
                      FROM (SELECT day FROM cal ORDER BY day LIMIT 7) t))
      SELECT ev.day, COUNT(*) AS n,
             CAST(SUM(CAST(ev.value AS $D2)) AS DOUBLE) AS sum_value,
             COUNT(DISTINCT ev.user_id) AS n_users
      FROM ev JOIN week1 ON ev.day = week1.day
      GROUP BY ev.day
      ORDER BY ev.day""")

  /** Row-level warehouse maintenance (graft.ext.Warehouse): MERGE upsert
    * and CDC changelog compaction, both stated directly over the fixture
    * derivations their Spark twins use.
    */
  val warehouse_queries: Map[String, String] = Map(
    // MERGE INTO base USING changes: matched+U update, matched+D delete,
    // not-matched+I insert — one FULL JOIN + branch projection, exactly
    // the single co-partitioned pass the Spark side plans.
    "merge_upsert" -> s"""
      WITH base AS (
        SELECT c_custkey AS key, c_name AS name,
               CAST(c_acctbal AS $D2) AS bal FROM customer
      ),
      mods AS (
        SELECT key, name || ' (updated)' AS u_name,
               bal + CAST(100 AS $D2) AS u_bal,
               CASE WHEN key % 7 = 3 THEN 'D'
                    WHEN key % 5 = 0 THEN 'U' END AS op
        FROM base WHERE key % 7 = 3 OR key % 5 = 0
      ),
      ins AS (
        SELECT key + 1000000 AS key, 'New ' || name AS u_name,
               CAST(0 AS $D2) AS u_bal, 'I' AS op
        FROM base WHERE key % 11 = 4
      ),
      changes AS (SELECT * FROM mods UNION ALL SELECT * FROM ins)
      SELECT COALESCE(b.key, c.key) AS key,
             CASE WHEN c.op IN ('U','I') THEN c.u_name ELSE b.name END AS name,
             CAST(CASE WHEN c.op IN ('U','I') THEN c.u_bal ELSE b.bal END
                  AS DOUBLE) AS bal,
             CASE WHEN c.op = 'U' THEN 'updated'
                  WHEN c.op = 'I' THEN 'inserted'
                  ELSE 'kept' END AS action
      FROM base b FULL JOIN changes c ON b.key = c.key
      WHERE COALESCE(c.op, 'keep') <> 'D'
      ORDER BY key""",
    // X194 full-sync MERGE (NOT MATCHED BY SOURCE): source is a desired
    // snapshot, conditional matched update on an exact DECIMAL/name
    // comparison, target-only rows retired with their last payload.
    "warehouse_merge_full" -> s"""
      WITH base AS (
        SELECT c_custkey AS key, c_name AS name,
               CAST(c_acctbal AS $D2) AS bal FROM customer
      ),
      src AS (
        SELECT key,
               CASE WHEN key % 4 = 0 THEN name || ' (v2)' ELSE name END
                 AS s_name,
               CASE WHEN key % 4 = 0 THEN bal + CAST(50 AS $D2) ELSE bal END
                 AS s_bal
        FROM base WHERE key % 3 <> 0
        UNION ALL
        SELECT key + 2000000 AS key, 'Synced ' || name AS s_name,
               CAST(0 AS $D2) AS s_bal
        FROM base WHERE key % 13 = 2
      ),
      m AS (
        SELECT COALESCE(b.key, s.key) AS key, b.name, b.bal,
               s.s_name, s.s_bal,
               b.key IS NOT NULL AS in_t, s.key IS NOT NULL AS in_s
        FROM base b FULL JOIN src s ON s.key = b.key
      ),
      a AS (
        SELECT *, CASE
          WHEN in_t AND in_s AND (s_name <> name OR s_bal <> bal)
            THEN 'updated'
          WHEN in_t AND in_s THEN 'unchanged'
          WHEN NOT in_t THEN 'inserted'
          ELSE 'deleted' END AS action
        FROM m
      )
      SELECT key,
             CASE WHEN action IN ('updated', 'inserted') THEN s_name
                  ELSE name END AS name,
             CAST(CASE WHEN action IN ('updated', 'inserted') THEN s_bal
                  ELSE bal END AS DOUBLE) AS bal,
             action
      FROM a ORDER BY key""",
    // X210 TTL audit: retention decisions against the corpus watermark
    // (deterministic, never wall clock); exact integer microseconds.
    // X228 Data Vault audit: md5 hub keys, link-of-hub-keys, satellite
    // hashdiff; counts + distinct-hash collision audit + min/max hash
    // fingerprints per artifact.
    "warehouse_data_vault" -> ("""
      WITH hc AS (SELECT md5('cust|' || CAST(c_custkey AS VARCHAR)) AS hk
                  FROM (SELECT DISTINCT c_custkey FROM customer) t),
      ho AS (SELECT md5('order|' || CAST(o_orderkey AS VARCHAR)) AS hk
             FROM (SELECT DISTINCT o_orderkey FROM orders) t),
      lk AS (SELECT md5(md5('order|' || CAST(o_orderkey AS VARCHAR)) || '|' ||
                        md5('cust|' || CAST(o_custkey AS VARCHAR))) AS hk
             FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders) t),
      scd AS (SELECT md5(concat_ws('|', c_mktsegment,
                       CAST(c_nationkey AS VARCHAR))) AS hk
              FROM customer)
      SELECT * FROM (""" +
      Seq(("hub_customer", "hc"), ("hub_order", "ho"),
        ("link_order_customer", "lk"), ("sat_customer_hashdiff", "scd"))
        .map { case (name, cte) =>
          s"""SELECT '$name' AS artifact, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT hk) AS BIGINT) AS n_distinct_hashes,
             MIN(hk) AS min_hash, MAX(hk) AS max_hash FROM $cte"""
        }.mkString("\n      UNION ALL\n      ") + """
      ) t ORDER BY artifact"""),
    "warehouse_ttl_audit" -> """
      WITH ev AS (SELECT event_type,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      wm AS (SELECT MAX(us) AS wm FROM ev),
      x AS (SELECT event_type, us,
              CASE WHEN event_type = 'error' THEN 7
                   WHEN event_type IN ('view', 'click') THEN 14
                   ELSE 365 END AS ret_days
            FROM ev),
      y AS (SELECT x.event_type, x.us, x.ret_days,
              x.us < wm.wm - x.ret_days * 86400000000 AS expired
            FROM x, wm)
      SELECT event_type, CAST(MAX(ret_days) AS BIGINT) AS retention_days,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT)
               AS n_expired,
             ROUND(CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 6) AS reclaim_share,
             CAST(MIN(CASE WHEN NOT expired THEN us END) AS BIGINT)
               AS oldest_kept_us
      FROM y GROUP BY event_type ORDER BY event_type""",
    // CDC log -> snapshot: per key, the payload of the last op in commit
    // order; absent when that op is a delete.
    "cdc_apply" -> """
      WITH changelog AS (
        SELECT doc_id AS seq, doc_id % 97 AS key,
               CASE WHEN doc_id % 11 = 7 THEN 'D'
                    WHEN doc_id % 3 = 0 THEN 'I'
                    ELSE 'U' END AS op,
               n_chars AS val, lang
        FROM documents
      ),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
               COUNT(*) OVER (PARTITION BY key) AS n_ops
        FROM changelog
      )
      SELECT key, val, lang, op AS last_op, n_ops
      FROM ranked WHERE rn = 1 AND op <> 'D'
      ORDER BY key""",
    // X155 SCD2: every non-delete op opens a version valid until the
    // key's NEXT op of any type (update supersedes, delete closes);
    // final non-delete op per key = current row.
    "warehouse_scd2_build" -> """
      WITH changelog AS (
        SELECT doc_id AS seq, doc_id % 97 AS key,
               CASE WHEN doc_id % 11 = 7 THEN 'D'
                    WHEN doc_id % 3 = 0 THEN 'I'
                    ELSE 'U' END AS op,
               n_chars AS val, lang
        FROM documents
      ),
      x AS (
        SELECT *, LEAD(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to
        FROM changelog
      )
      SELECT key, val, lang, seq AS valid_from, valid_to,
             (valid_to IS NULL) AS is_current
      FROM x WHERE op <> 'D'
      ORDER BY key, valid_from""",
    // Version-to-version diff on md5 content fingerprints; v2 is the
    // deterministic mutation (drop %31=7, edit %13=3, append +1e6 keys)
    // so all four statuses exist at every SF.
    "warehouse_snapshot_diff" -> """
      WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
      v2 AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 13 = 3 THEN text || ' v2'
                        ELSE text END) AS fp
        FROM documents WHERE doc_id % 31 <> 7
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5('new ' || text) AS fp
        FROM documents WHERE doc_id % 50 = 0)
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.fp <> v2.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      ORDER BY doc_id""",
    // The oracle states the SEMANTICS (naive all-pairs distance filter);
    // the Spark side computes it as a lossless grid join — agreement
    // proves the 3×3 neighborhood covers the search disc. Integer
    // geometry throughout (62500 = 250²).
    "spatial_grid_join" -> """
      WITH sites AS (
        SELECT c_custkey AS site_id,
               (c_custkey * 5761) % 10000 AS x,
               ((c_custkey * 5761) // 10000) % 10000 AS y
        FROM customer),
      facs AS (
        SELECT s_suppkey AS fac_id,
               (s_suppkey * 5761) % 10000 AS fx,
               ((s_suppkey * 5761) // 10000) % 10000 AS fy
        FROM supplier)
      SELECT site_id, fac_id,
             (x-fx)*(x-fx) + (y-fy)*(y-fy) AS dist2
      FROM sites, facs
      WHERE (x-fx)*(x-fx) + (y-fy)*(y-fy) <= 62500
      ORDER BY site_id, fac_id""",
    // mergeSchema read of the two snapshot generations == the explicit
    // union with a typed NULL for the pre-evolution rows
    "schema_evolution" -> """
      WITH unioned AS (
        SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality_score
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, n_chars, n_chars % 100 AS quality_score
        FROM documents WHERE doc_id % 2 = 1
      )
      SELECT lang, COUNT(*) AS n, COUNT(quality_score) AS n_scored,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(quality_score) AS BIGINT) AS sum_score
      FROM unioned GROUP BY lang ORDER BY lang""",
    // the checkpoint-restart run must union to the SAME closed-window
    // set a single uninterrupted run emits (the stream_tumbling_append
    // twin) — duplicated or lost state across the restart trips the hash
    "stream_restart_resume" -> s"""
      WITH mx AS (SELECT date_trunc('millisecond', max(CAST(ts AS TIMESTAMP))) AS mt
                  FROM events)
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value
      FROM events, mx
      WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
            <= mt - INTERVAL 1 HOUR
      GROUP BY 1, 2 ORDER BY 1, 2""",
    // compaction is pure layout: the aggregate over the compacted copy
    // must equal SQL over the original table
        // X198 clustering depth: per-file [min,max] ranges under two
    // modelled layouts; depth = intersecting files (half-open interval
    // test, all integer); metadata-scale relations only.
    "layout_clustering_depth" -> """
      WITH li AS (SELECT l_orderkey AS k FROM lineitem),
      files AS (
        SELECT layout, file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(k) AS lo, MAX(k) AS hi
        FROM (SELECT 'sorted' AS layout, k // 2000 AS file_id, k FROM li
              UNION ALL SELECT 'roundrobin' AS layout, k % 7 AS file_id, k
              FROM li) t
        GROUP BY layout, file_id),
      d AS (SELECT a.layout, a.file_id, CAST(COUNT(*) AS BIGINT) AS depth
            FROM files a JOIN files b ON a.layout = b.layout
              AND a.lo <= b.hi AND b.lo <= a.hi
            GROUP BY a.layout, a.file_id)
      SELECT f.layout, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(MAX(d.depth) AS BIGINT) AS max_depth,
             ROUND(CAST(SUM(d.depth) AS DOUBLE) / COUNT(*), 6) AS avg_depth,
             MAX(d.depth) <= 3 AS well_clustered
      FROM files f JOIN d ON d.layout = f.layout AND d.file_id = f.file_id
      GROUP BY f.layout ORDER BY f.layout""",
"layout_compaction" -> s"""
      SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CAST(value AS $D2)) AS DOUBLE) AS sum_value,
             strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS first_ts,
             strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS last_ts
      FROM events GROUP BY event_type ORDER BY event_type""",
    // higher-order array lambdas evaluate identically per row on both
    // engines; list_sum widens to HUGEINT in DuckDB, hence the casts
    "array_hof_family" -> """
      SELECT doc_id,
             CAST(len(tokens) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(tokens, t -> length(t) > 4)) AS BIGINT) AS n_long,
             CAST(list_sum(list_transform(tokens, t -> length(t))) AS BIGINT) AS total_len,
             CAST(list_max(list_transform(tokens, t -> length(t))) AS BIGINT) AS max_len,
             array_to_string(sorted_tokens[1:3], ' ') AS sorted_head3
      FROM (SELECT doc_id, string_split(text, ' ') AS tokens,
                   list_sort(string_split(text, ' ')) AS sorted_tokens
            FROM documents) t
      ORDER BY doc_id""",
    // content-hash Bernoulli sample: md5 agrees across engines, so the
    // 16/256 keep-set is literally identical, not merely same-rate
    "curation_bernoulli_sample" -> """
      SELECT doc_id, lang, substr(md5(text), 1, 2) AS bucket
      FROM documents
      WHERE substr(md5(text), 1, 2) < '10'
      ORDER BY doc_id""",
    // posexplode twin: per-element subscript via generate_series (DuckDB
    // has no WITH ORDINALITY), 0-based to match Spark's pos
    "generator_family" -> """
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS token
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents WHERE doc_id % 50 = 0) s) t
      ORDER BY doc_id, pos""",
    // LISTAGG semantics: the Spark side sorts the collected DISTINCT set
    // so both engines emit the same order-independent csv
    "agg_string_family" -> """
      SELECT lang, COUNT(*) AS n_docs,
             string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv,
             COUNT(DISTINCT source) AS n_sources,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM documents GROUP BY lang ORDER BY lang""",
    // bag semantics: EXCEPT ALL keeps max(0, n1-n2) copies, INTERSECT ALL
    // min(n1, n2) — re-aggregated per user so the result is compact
    "set_ops_all" -> """
      WITH v AS (SELECT user_id FROM events WHERE event_type = 'view'),
           c AS (SELECT user_id FROM events WHERE event_type = 'click'),
           surplus AS (SELECT user_id FROM v EXCEPT ALL SELECT user_id FROM c),
           common AS (SELECT user_id FROM v INTERSECT ALL SELECT user_id FROM c)
      SELECT * FROM (
        SELECT 'except_all' AS op, user_id, COUNT(*) AS n
        FROM surplus GROUP BY user_id
        UNION ALL
        SELECT 'intersect_all' AS op, user_id, COUNT(*) AS n
        FROM common GROUP BY user_id)
      ORDER BY op, user_id""",
    // spatial argmin over the same all-pairs statement the grid entry
    // uses — sites with no facility within R are simply absent
    "spatial_nearest" -> """
      WITH sites AS (
        SELECT c_custkey AS site_id,
               (c_custkey * 5761) % 10000 AS x,
               ((c_custkey * 5761) // 10000) % 10000 AS y
        FROM customer),
      facs AS (
        SELECT s_suppkey AS fac_id,
               (s_suppkey * 5761) % 10000 AS fx,
               ((s_suppkey * 5761) // 10000) % 10000 AS fy
        FROM supplier),
      cand AS (
        SELECT site_id, fac_id,
               (x-fx)*(x-fx) + (y-fy)*(y-fy) AS dist2
        FROM sites, facs
        WHERE (x-fx)*(x-fx) + (y-fy)*(y-fy) <= 62500),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY site_id
                                     ORDER BY dist2, fac_id) AS rn
        FROM cand)
      SELECT site_id, fac_id AS nearest_fac, dist2
      FROM ranked WHERE rn = 1 ORDER BY site_id""",
    "agg_bitwise_family" -> """
      SELECT event_type, COUNT(*) AS n,
             bit_and(user_id) AS and_users,
             bit_or(user_id) AS or_users,
             bit_xor(event_id) AS xor_ids
      FROM events GROUP BY event_type ORDER BY event_type""",
    // exact discrete percentiles: the selected rank's VALUE, never an
    // interpolated float — hash-identical across engines by construction
    // X205 mode + interpolated median: deterministic mode tie rule
    // (count DESC, value ASC); median from exact floor/ceil ranks with
    // the interpolation stated manually (engine percentile built-ins
    // interpolate with engine-specific float paths).
    "agg_mode_family" -> """
      WITH ev AS (SELECT event_type,
                    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                    event_id
                  FROM events WHERE value IS NOT NULL),
      hist AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM ev GROUP BY 1, 2),
      md AS (SELECT event_type, c AS mode_cents, cnt AS mode_count FROM (
          SELECT event_type, c, cnt, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY cnt DESC, c) AS rn
          FROM hist) t WHERE rn = 1),
      r AS (SELECT event_type, c,
              ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY c, event_id) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM ev),
      med AS (SELECT event_type, MAX(n) AS n_rows,
                MAX(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                    THEN c END) AS lo,
                MAX(CASE WHEN rn = CAST(ceil((n + 1) / 2) AS BIGINT)
                    THEN c END) AS hi
              FROM r GROUP BY event_type)
      SELECT m.event_type, d.n_rows, m.mode_cents, m.mode_count,
             (d.lo + d.hi) / 2.0 AS median_cents
      FROM md m JOIN med d ON d.event_type = m.event_type
      ORDER BY m.event_type""",
    // X204 LATERAL top-n: the correlated-subquery spelling both
    // engines decorrelate; exact DECIMAL ordering key.
    "join_lateral_topn" -> """
      SELECT n.n_name AS nation, t.c_custkey,
             CAST(t.c_acctbal AS DOUBLE) AS c_acctbal,
             COALESCE(o.n_orders, 0) AS n_orders
      FROM nation n, LATERAL (
        SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey
        LIMIT 2) t
      LEFT JOIN (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
                 FROM orders GROUP BY o_custkey) o
        ON o.o_custkey = t.c_custkey
      ORDER BY nation, c_acctbal DESC, c_custkey""",
    "agg_percentile_disc" -> """
      WITH ranked AS (
        SELECT event_type, value, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type, MAX(n) AS n_rows,
             MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
             MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
             MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99,
             MIN(value) AS p0, MAX(value) AS p100
      FROM ranked GROUP BY event_type ORDER BY event_type""",
    // X90 trimmed mean: decile cuts by EXACT integer rank arithmetic
    // (rn*10 > n / rn*10 <= 9*n) over the X46 total order; DECIMAL sums.
    "agg_trimmed_mean" -> s"""
      WITH ranked AS (
        SELECT event_type, value, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type, MAX(n) AS n_rows,
             CAST(SUM(CASE WHEN rn * 10 > n AND rn * 10 <= 9 * n
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             ROUND(CAST(SUM(CASE WHEN rn * 10 > n AND rn * 10 <= 9 * n
                                 THEN CAST(value AS $D2) END) AS DOUBLE) /
                   SUM(CASE WHEN rn * 10 > n AND rn * 10 <= 9 * n
                            THEN 1 ELSE 0 END), 6) AS trimmed_mean,
             ROUND(CAST(SUM(CAST(value AS $D2)) AS DOUBLE) / MAX(n), 6)
               AS plain_mean
      FROM ranked GROUP BY event_type ORDER BY event_type""",
    // TRY_CAST is spelled identically on both engines; try_divide's
    // null-on-zero is the portable a / NULLIF(b, 0)
    "try_arithmetic_family" -> s"""
      SELECT p_partkey,
             TRY_CAST(s AS BIGINT) AS parsed,
             CAST(price / NULLIF(denom, 0) AS DOUBLE) AS safe_div,
             denom = 0 AS was_zero
      FROM (SELECT p_partkey,
                   CASE WHEN p_partkey % 5 = 0 THEN p_name
                        ELSE CAST(p_partkey AS VARCHAR) END AS s,
                   CAST(p_retailprice AS $D2) AS price,
                   p_partkey % 3 AS denom
            FROM part) t
      ORDER BY p_partkey""",
    "join_type_family" -> """
      WITH c AS (SELECT c_custkey FROM customer),
           o AS (SELECT o_custkey FROM orders WHERE o_custkey % 3 = 0)
      SELECT * FROM (
        SELECT 'inner' AS op, COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_null_side
        FROM c JOIN o ON c_custkey = o_custkey
        UNION ALL
        SELECT 'left', COUNT(*),
               CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM c LEFT JOIN o ON c_custkey = o_custkey
        UNION ALL
        SELECT 'full', COUNT(*),
               CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL OR c_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM c FULL JOIN o ON c_custkey = o_custkey
        UNION ALL
        SELECT 'semi', COUNT(*), CAST(0 AS BIGINT)
        FROM c WHERE c_custkey IN (SELECT o_custkey FROM o)
        UNION ALL
        SELECT 'anti', COUNT(*), CAST(0 AS BIGINT)
        FROM c WHERE c_custkey NOT IN (SELECT o_custkey FROM o))
      ORDER BY op""",
    // identical SQL text runs on both engines (views differ only in the
    // sq_ prefix Spark-side) — the subquery rewrites must agree
    "subquery_family" -> """
      SELECT * FROM (
        SELECT 'exists_big' AS op, c_custkey FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        UNION ALL
        SELECT 'no_orders' AS op, c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT 'in_finished' AS op, c_custkey FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F')
        UNION ALL
        SELECT 'scalar_gt' AS op, c_custkey FROM customer
        WHERE c_acctbal > (SELECT MAX(s_acctbal) FROM supplier))
      ORDER BY op, c_custkey""",
    "null_handling_family" -> s"""
      WITH t AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(o_totalprice AS $D2) END AS price_n,
               CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE o_orderstatus END AS status_n
        FROM orders)
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             COUNT(price_n) AS n_price,
             CAST(SUM(price_n) AS DOUBLE) AS sum_price,
             CAST(SUM(COALESCE(price_n, 0)) AS DOUBLE) AS sum_backfilled,
             CAST(SUM(CASE WHEN status_n IS NOT DISTINCT FROM 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f_nullsafe,
             CAST(SUM(CASE WHEN status_n = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f_plain,
             bool_and(price_n IS NOT NULL) AS all_priced,
             bool_or(price_n IS NULL) AS any_unpriced,
             COUNT(NULLIF(o_orderpriority, o_orderpriority)) AS n_nullif
      FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  /** The per-family maps composing `all`, for DuplicateKeyGuardSpec: a key
    * shared by two families would make `++` silently keep only the later
    * SQL, so the gate would verify the wrong query.
    */
  private[graft] def oracleFamilies: Seq[(String, Map[String, String])] = Seq(
    "sync" -> sync_queries,
    "analytics" -> analytics_queries,
    "events" -> events_queries,
    "llm" -> llm_queries,
    "streamSink" -> stream_sink_queries,
    "coverage" -> coverage_queries,
    "warehouse" -> warehouse_queries)

  /** Keys deliberately added to `all` outside any family map (aliases that
    * reuse another entry's SQL verbatim). The guard spec accounts for these.
    */
  private[graft] val aliasKeys: Set[String] =
    Set("dedup_clusters_star", "incr_cc_merge", "stream_cdc_state",
      "warehouse_scd2_merge", "stream_queue_wait", "stream_interval_union",
      // r14: the kept X288/X289 probe names share the shipped integer
      // renderings' twins verbatim (entry-name continuity aliases)
      "analytics_theil_micro", "analytics_hier_rollup_cents")

  /** All oracle SQL, keyed by query name. Extended by the analytics /
    * extension modules as they land.
    */
  def all: Map[String, String] =
    sync_queries ++ analytics_queries ++ events_queries ++ llm_queries ++
      stream_sink_queries ++ coverage_queries ++ warehouse_queries +
      // the second name of nearDupClusters (one memo, one clustering),
      // so it shares dedup_clusters' oracle verbatim
      ("dedup_clusters_star" -> llm_queries("dedup_clusters")) +
      // incremental contract-and-merge is row-identical to re-clustering
      // from scratch (min-id label composition) — same full-corpus oracle
      ("incr_cc_merge" -> llm_queries("dedup_clusters")) +
      // the streaming update-if-newer snapshot converges to the batch
      // compaction on the finite replay — cdc_apply's SQL verbatim
      ("stream_cdc_state" -> warehouse_queries("cdc_apply")) +
      // the incremental SCD2 merge is row-identical to rebuilding the
      // dimension from the full log — the build oracle verbatim
      ("warehouse_scd2_merge" -> warehouse_queries("warehouse_scd2_build")) +
      // the streaming Lindley fold equals the batch running-min solution
      // on the ordered finite replay — X249's audit SQL verbatim
      ("stream_queue_wait" -> llm_queries("events_queue_wait")) +
      // the monotone-horizon fold telescopes to the same interval union
      // as the batch lead() identity — X251's SQL verbatim
      ("stream_interval_union" -> llm_queries("events_interval_union")) +
      // X288/X289 probe names kept for driver-surface continuity: the
      // shipped analytics_theil / analytics_hier_rollup ARE the integer
      // renderings since r14, so the probes share those twins verbatim
      ("analytics_theil_micro" -> llm_queries("analytics_theil")) +
      ("analytics_hier_rollup_cents" -> llm_queries("analytics_hier_rollup"))
}
