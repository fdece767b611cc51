package graft.sync

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession

/** Cross-run incremental sync — the reference's daemon loop (DW.js:32,67:
  * every watch-idle cycle re-reconciles the world) restated relationally:
  * persist what run N saw, and compute run N+1's work as a *diff* against
  * that ledger instead of re-deriving every action from scratch.
  *
  * Two persisted relations make up the run ledger:
  *  - the **file snapshot** (the scanner output, `ord/ino/size/file/md5`)
  *    — diffed by [[diffActions]] into the incremental action table;
  *  - the **SCD2 match ledger** ([[updateLedger]]) — the full history of
  *    project→file matches, one open row per current match and closed
  *    rows (`valid_to` = the run that ended them) for the past.
  *
  * At 100 TB both live as parquet tables partitioned by run / bucketed by
  * their join key (file, (id, matched_ino)); a run is then two
  * hash-joins against the previous snapshot rather than a full re-match
  * of every file, and the ledger append is a narrow union. Everything is
  * set-based and idempotent: diffing identical snapshots yields zero
  * actions, re-applying the same run to the ledger leaves it unchanged
  * (IncrementalSpec property tests).
  *
  * Both calls run under [[graft.GraftSession.interpreted]], sized by the
  * rows their inputs are known to hold: a steady cycle's snapshots and
  * ledger are small, and their plans then compile no code. The returned
  * relation stays on the interpreted path, so the caller's write of it
  * compiles none either.
  */
object Incremental {

  // ------------------------------------------------------- snapshot diff

  /** Classify the change between two file snapshots into the incremental
    * action table: `action ∈ {create, rename, content_changed, archive}`
    * with `(file, old_file, md5, old_md5)`.
    *
    * Rename detection is md5-pairing (the reference's md5Match semantics,
    * DW.js:465-536): a path that disappeared and a path that appeared
    * with identical content are one rename. Pairing is deterministic —
    * row_number per md5 ordered by path on both sides, matched by rank —
    * so ties (several same-content adds/removes) resolve identically on
    * any engine. Unpaired adds are creates; unpaired removes are archive
    * candidates; same path with different md5 is a content change.
    */
  def diffActions(prev: DataFrame, curr: DataFrame): DataFrame =
    GraftSession.interpreted(prev.sparkSession, GraftSession.knownRows(prev, curr)) { s =>
      diff(GraftSession.bind(s, prev), GraftSession.bind(s, curr))
    }

  private def diff(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.select(col("file").as("pfile"), col("md5").as("pmd5"))
    val c = curr.select(col("file").as("cfile"), col("md5").as("cmd5"))
    val byPath = c.join(p, col("cfile") === col("pfile"), "full_outer")

    val contentChanged = byPath
      // null-safe inequality: a transition to/from an uncomputed md5
      // (unreadable file, deferred hash) IS a content change — plain =!=
      // would evaluate NULL and silently classify it as "no action"
      .filter(col("cfile").isNotNull && col("pfile").isNotNull &&
        !(col("cmd5") <=> col("pmd5")))
      .select(lit("content_changed").as("action"),
        col("cfile").as("file"), col("pfile").as("old_file"),
        col("cmd5").as("md5"), col("pmd5").as("old_md5"))

    val added = byPath.filter(col("pfile").isNull)
      .select(col("cfile").as("afile"), col("cmd5").as("amd5"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("amd5").orderBy("afile")))
    val removed = byPath.filter(col("cfile").isNull)
      .select(col("pfile").as("rfile"), col("pmd5").as("rmd5"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("rmd5").orderBy("rfile")))
    val paired = added.join(removed,
      col("amd5") === col("rmd5") && added("rn") === removed("rn"),
      "full_outer")

    val renames = paired
      .filter(col("afile").isNotNull && col("rfile").isNotNull)
      .select(lit("rename").as("action"), col("afile").as("file"),
        col("rfile").as("old_file"), col("amd5").as("md5"),
        col("amd5").as("old_md5"))
    val creates = paired.filter(col("rfile").isNull)
      .select(lit("create").as("action"), col("afile").as("file"),
        lit(null).cast("string").as("old_file"), col("amd5").as("md5"),
        lit(null).cast("string").as("old_md5"))
    val archives = paired.filter(col("afile").isNull)
      .select(lit("archive").as("action"),
        lit(null).cast("string").as("file"), col("rfile").as("old_file"),
        lit(null).cast("string").as("md5"), col("rmd5").as("old_md5"))

    contentChanged.unionByName(renames).unionByName(creates)
      .unionByName(archives)
  }

  // ------------------------------------------------------- SCD2 ledger

  /** Ledger schema: one row per (project id, matched file ino) match
    * version; `valid_to` null = currently open.
    */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("matched_ino", LongType),
    StructField("matched_file", StringType),
    StructField("match_kind", StringType),
    StructField("valid_from", LongType), StructField("valid_to", LongType)))

  def emptyLedger(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), LedgerSchema)

  /** Fold one run's pass-1 match result into the SCD2 ledger.
    *
    * Natural key is `(id, matched_ino)` (one project can legitimately be
    * matched by several same-md5 files); tracked attributes are the
    * matched path and the match provenance. Unchanged matches keep their
    * open row; vanished or changed matches close (`valid_to = runId`);
    * new or changed matches open a fresh version (`valid_from = runId`).
    * Applying the same run twice is a no-op (property-tested).
    */
  def updateLedger(ledger: DataFrame, pass1: DataFrame,
                   runId: Long): DataFrame =
    GraftSession.interpreted(ledger.sparkSession,
        GraftSession.knownRows(ledger, pass1)) { s =>
      fold(GraftSession.bind(s, ledger), GraftSession.bind(s, pass1), runId)
    }

  private def fold(ledger: DataFrame, pass1: DataFrame, runId: Long): DataFrame = {
    val now = pass1.filter(col("project").isNotNull).select(
      col("project").as("n_id"), col("ino").as("n_ino"),
      col("file").as("n_file"), col("match").as("n_kind"))
    val open = ledger.filter(col("valid_to").isNull)
    val history = ledger.filter(col("valid_to").isNotNull)

    val j = open.join(now,
      col("id") === col("n_id") && col("matched_ino") === col("n_ino"),
      "full_outer")
    // null-safe attribute comparison: with plain ===, a NULL tracked
    // attribute on either side makes `same` NULL and the row falls out
    // of all three branches below — the version would vanish from the
    // ledger instead of closing
    val same = (col("matched_file") <=> col("n_file")) &&
      (col("match_kind") <=> col("n_kind"))

    val keptOpen = j.filter(col("id").isNotNull && col("n_id").isNotNull && same)
      .select("id", "matched_ino", "matched_file", "match_kind",
        "valid_from", "valid_to")
    val closedNow = j.filter(col("id").isNotNull && (col("n_id").isNull || !same))
      .select(col("id"), col("matched_ino"), col("matched_file"),
        col("match_kind"), col("valid_from"), lit(runId).as("valid_to"))
    val opened = j.filter(col("n_id").isNotNull && (col("id").isNull || !same))
      .select(col("n_id").as("id"), col("n_ino").as("matched_ino"),
        col("n_file").as("matched_file"), col("n_kind").as("match_kind"),
        lit(runId).as("valid_from"), lit(null).cast("long").as("valid_to"))

    history.unionByName(keptOpen).unionByName(closedNow).unionByName(opened)
  }
}
