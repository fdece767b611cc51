package graft.sync

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.functions._

/** Cross-run incremental sync: snapshot-diff classification and the SCD2
  * match ledger (graft.sync.Incremental), including the idempotence
  * properties the daemon loop relies on.
  */
class IncrementalSpec extends SparkSpec {

  import spark.implicits._

  private def snap(rows: (String, String)*) =
    rows.toDF("file", "md5")

  test("diff classifies add / rename / content-change / delete exactly") {
    val prev = snap(
      "a/keep.shp" -> "m_keep",
      "a/rename_me.shp" -> "m_ren",
      "a/change_me.shp" -> "m_old",
      "a/delete_me.shp" -> "m_del")
    val curr = snap(
      "a/keep.shp" -> "m_keep",
      "b/renamed.shp" -> "m_ren",          // same content, new path
      "a/change_me.shp" -> "m_new",        // same path, new content
      "a/brand_new.shp" -> "m_create")     // new path, new content
    val acts = Incremental.diffActions(prev, curr)
      .orderBy("action").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(acts.toSeq == Seq(
      ("archive", null, "a/delete_me.shp"),
      ("content_changed", "a/change_me.shp", "a/change_me.shp"),
      ("create", "a/brand_new.shp", null),
      ("rename", "b/renamed.shp", "a/rename_me.shp")))
  }

  test("md5 rename pairing is rank-deterministic under same-content ties") {
    // two removed paths and two added paths share one md5: ranks pair
    // sorted-by-path, no cross product, nothing double-classified
    val prev = snap("p/a1.shp" -> "m", "p/a2.shp" -> "m")
    val curr = snap("q/b1.shp" -> "m", "q/b2.shp" -> "m")
    val acts = Incremental.diffActions(prev, curr)
    assert(acts.filter(col("action") === "rename").count() == 2)
    assert(acts.count() == 2)
    val pairs = acts.orderBy("file")
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(pairs.toSeq == Seq(
      ("q/b1.shp", "p/a1.shp"), ("q/b2.shp", "p/a2.shp")))
  }

  test("property: unchanged snapshot => zero incremental actions") {
    // each call also runs forced onto generated code: same rows both ways
    val files = SyncInputs.files(spark, sf001)
    assert(sameBothWays { s =>
      val f = GraftSession.bind(s, files)
      Incremental.diffActions(f, f)
    }.isEmpty)
    val run2 = SyncInputs.filesRun2(spark, sf001)
    assert(sameBothWays { s =>
      val r = GraftSession.bind(s, run2)
      Incremental.diffActions(r, r)
    }.isEmpty)
    assert(sameBothWays(s => Incremental.diffActions(GraftSession.bind(s, files),
      GraftSession.bind(s, run2))).nonEmpty)
  }

  test("fixture diff: every action class appears and creates/archives are exact") {
    val acts = Incremental.diffActions(
      SyncInputs.files(spark, sf001), SyncInputs.filesRun2(spark, sf001))
      .persist()
    val byAction = acts.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("create", "rename", "content_changed", "archive")
      .subsetOf(byAction.keySet), s"missing classes in $byAction")
    // every extra/ add is a create (brand-new content, unpairable)
    assert(acts.filter(col("action") === "create" &&
      col("file").startsWith("extra/")).count() == byAction("create"))
    acts.unpersist()
  }

  private def ledgerAfterRuns(): org.apache.spark.sql.DataFrame = {
    val run1 = Pipeline.syncFixture(spark, sf001).pass1
    val run2 = Matching.pass1(
      Dedup.markDuplicates(SyncInputs.filesRun2(spark, sf001)),
      SyncInputs.projects(spark, sf001))
    val l1 = Incremental.updateLedger(
      Incremental.emptyLedger(spark), run1, 1L)
    Incremental.updateLedger(l1, run2, 2L)
  }

  test("SCD2 ledger: versions open and close across the two fixture runs") {
    val l2 = ledgerAfterRuns().persist()
    // moved files (%10=3, non-dup) degrade exactMatch -> md5Match: the
    // run-1 version must be closed at 2 and a run-2 version opened
    val movedOpen = l2.filter(col("matched_file").startsWith("moved/") &&
      col("valid_to").isNull && col("valid_from") === 2L)
    assert(movedOpen.count() > 0)
    val closed = l2.filter(col("valid_to") === 2L)
    assert(closed.count() > 0)
    // an open and a closed version never share (id, ino, file, kind)
    val overlap = l2.filter(col("valid_to").isNull).select("id", "matched_ino")
      .intersect(closed.select("id", "matched_ino"))
    // overlapping keys are exactly the changed matches (new open version),
    // so each such key must have exactly one open row
    val multiOpen = l2.filter(col("valid_to").isNull)
      .groupBy("id", "matched_ino").count().filter(col("count") > 1)
    assert(multiOpen.isEmpty, "at most one open version per natural key")
    assert(overlap.count() == closed.select("id", "matched_ino")
      .intersect(l2.filter(col("valid_to").isNull && col("valid_from") === 2L)
        .select("id", "matched_ino")).count())
    l2.unpersist()
  }

  test("ledger round-trips through parquet: resume equals in-memory chain") {
    // the daemon restarts between runs — run 2 must fold onto a ledger
    // REREAD from storage, not a live DataFrame, and get the same answer
    val tmp = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    val run1 = Pipeline.syncFixture(spark, sf001).pass1
    Incremental.updateLedger(Incremental.emptyLedger(spark), run1, 1L)
      .write.mode("overwrite").parquet(s"$tmp/match_ledger")
    SyncInputs.files(spark, sf001)
      .write.mode("overwrite").parquet(s"$tmp/file_snapshot")

    val run2 = Matching.pass1(
      Dedup.markDuplicates(SyncInputs.filesRun2(spark, sf001)),
      SyncInputs.projects(spark, sf001))
    val resumed = Incremental.updateLedger(
      spark.read.parquet(s"$tmp/match_ledger"), run2, 2L)
    val inMemory = ledgerAfterRuns()
    assert(resumed.exceptAll(inMemory).isEmpty &&
      inMemory.exceptAll(resumed).isEmpty)

    val resumedDiff = Incremental.diffActions(
      spark.read.parquet(s"$tmp/file_snapshot"),
      SyncInputs.filesRun2(spark, sf001))
    val liveDiff = Incremental.diffActions(
      SyncInputs.files(spark, sf001), SyncInputs.filesRun2(spark, sf001))
    assert(resumedDiff.exceptAll(liveDiff).isEmpty &&
      liveDiff.exceptAll(resumedDiff).isEmpty)
  }

  test("property: re-applying the same run leaves the ledger unchanged") {
    val run1 = Pipeline.syncFixture(spark, sf001).pass1
    val l1 = Incremental.updateLedger(
      Incremental.emptyLedger(spark), run1, 1L).persist()
    val l1Again = Incremental.updateLedger(l1, run1, 99L)
    assert(l1Again.exceptAll(l1).isEmpty && l1.exceptAll(l1Again).isEmpty,
      "folding an identical run must be a no-op")
    // the same folds forced onto generated code give the same rows
    val again = sameBothWays { s =>
      val once = Incremental.updateLedger(Incremental.emptyLedger(s),
        GraftSession.bind(s, run1), 1L)
      Incremental.updateLedger(once, GraftSession.bind(s, run1), 99L)
    }
    assert(again.map(_.toString).sorted == l1.collect().toSeq.map(_.toString).sorted)
    l1.unpersist()
  }
}
