package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

import graft.{Checkpoints, Memo}

/** E2/E3 — the whole sync run as a DAG of DataFrames (SURVEY.md §3).
  *
  * The reference's `syncFilesystem()` + `syncCategories()` interleave
  * computation with fire-and-forget side effects (K1-K3 are not awaited,
  * DW.js:238-244); here a run *computes* all action tables first —
  * deterministic, idempotent, replayable — and sinks apply them afterwards
  * (see [[graft.sink.Actions]]). Documented deviation (SURVEY.md §7.4#3).
  *
  * Lifecycle: a result from [[Pipeline.sync]] is lazy. One from
  * [[graft.DataWarehouseSync.syncFilesystem]] is that instance's one
  * stored run ([[Pipeline.stored]]): the project snapshot, `marked`,
  * `pass1` and `pass2` are [[graft.Checkpoints.cut]]s and the action
  * tables are plans over them, so all hold the scanned state the actions
  * were delivered from, however the tree or the remote change afterwards.
  * The run stays valid until the instance's next `syncFilesystem`, which
  * releases its cuts; a read after that fails, since a cut has no lineage
  * to recompute from. The category fields are not part of the run: they
  * stay lazy over the scan and the remote's live category list
  * ([[graft.DataWarehouseSync.syncCategories]] reconciles categories).
  */
final case class SyncResult(
    marked: DataFrame,          // J7/A1 dedup-marked file inventory
    pass1: DataFrame,           // J1 matches
    pass2: DataFrame,           // J2 matches
    updates: DataFrame,         // K2 metadata updates (C1 renames)
    contentChanged: DataFrame,  // C2 flags
    archives: DataFrame,        // K3
    creates: DataFrame,         // K1
    folderCats: DataFrame,      // H1/H2
    catCreates: DataFrame,      // K4
    catRemoves: DataFrame,      // K4
    catMatched: DataFrame)      // A3

object Pipeline {

  /** Run the full reconciliation against arbitrary input relations (shapes
    * per FIXTURES.md §2).
    *
    * The result is lazy: every action or category table is a plan over
    * the whole match DAG, so each table read recomputes `marked`, `pass1`
    * and `pass2` (reading five tables over a 3000-file tree took 90 jobs).
    * A caller that reads more than one table should use [[stored]], which
    * cuts those relations once and frees them when the caller is done.
    */
  def sync(files: DataFrame, projects: DataFrame, serverCats: DataFrame,
           rootCategory: String = "files"): SyncResult =
    run(files, projects, serverCats, rootCategory)((_, df) => df)

  /** [[sync]] over stored relations: `projects`, then `marked`, `pass1`
    * and `pass2`, each a [[Checkpoints.cut]] built on the ones before it.
    * The three action tables become small plans over those leaves: they
    * read neither the tree nor the remote again, however either changes
    * afterwards. Returns the result and the cuts it owns; the caller
    * frees them with [[Checkpoints.release]]. A cut that throws releases
    * the ones made before it.
    */
  def stored(files: DataFrame, projects: DataFrame, serverCats: DataFrame,
             rootCategory: String): (SyncResult, Seq[DataFrame]) = {
    val cuts = ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cuts += Checkpoints.cut(df); cuts.last }
    try {
      val r = run(files, keep(projects), serverCats, rootCategory)((_, df) => keep(df))
      (r, cuts.toSeq)
    } catch { case e: Throwable => cuts.foreach(Checkpoints.release); throw e }
  }

  /** Convenience: run against the fixture-derived inputs.
    *
    * The core relations are [[graft.Memo]]s: Verify and Bench evaluate
    * every query of a run in one process, and `marked`/`pass1`/`pass2`
    * feed most of them — recomputing the full match DAG per query would
    * multiply the dominant shuffles by the query count. (At production
    * scale this is the same decision as checkpointing the inventory
    * snapshot once per sync run.)
    */
  def syncFixture(spark: SparkSession, dir: String): SyncResult =
    run(SyncInputs.files(spark, dir), SyncInputs.projects(spark, dir),
      SyncInputs.serverCats(spark, dir), "files")(
      (name, df) => Memo(spark, dir, s"sync.$name")(df))

  /** The run, with `store` deciding how each core relation (`marked`,
    * `pass1`, `pass2`, by name) is kept; the action and category tables
    * are plans over what it returns.
    */
  private def run(files: DataFrame, projects: DataFrame,
                  serverCats: DataFrame, rootCategory: String)
                 (store: (String, => DataFrame) => DataFrame): SyncResult = {
    val marked = store("marked", Dedup.markDuplicates(files))
    val p1 = store("pass1", Matching.pass1(marked, projects))
    val p2 = store("pass2", Matching.pass2(marked, projects, p1))
    val folder = Categories.folderCats(files, rootCategory)
    SyncResult(
      marked = marked,
      pass1 = p1,
      pass2 = p2,
      updates = Matching.updates(p1, p2),
      contentChanged = Matching.contentChanged(p1, p2),
      archives = Matching.archives(projects, p1, p2),
      creates = Matching.creates(marked, p1, p2),
      folderCats = folder,
      catCreates = Categories.toCreate(folder, serverCats),
      catRemoves = Categories.toRemove(folder, serverCats),
      catMatched = Categories.matched(folder, serverCats))
  }

  /** A2 — the run's scalar counters (found/missing/updates/…,
    * DW.js:103-106,154,163,230,346,447-448) as a single summary row.
    * Faithful detail: the `updates` counter only counts pass-1 renames
    * (pass 2 ignores `_syncProjectFile`'s return, DW.js:193).
    */
  def summary(r: SyncResult): DataFrame = {
    val m = r.marked.agg(
      count(lit(1)).as("n_files"),
      sum(when(col("alias").isNull, 1L).otherwise(0L)).as("n_main"),
      sum(when(col("alias").isNotNull, 1L).otherwise(0L)).as("n_dup_aliases"))
    val p = r.pass1.agg(
      sum(when(col("project").isNotNull, 1L).otherwise(0L)).as("found"),
      sum(when(col("project").isNull, 1L).otherwise(0L)).as("missing"))
    val u = r.updates.agg(
      sum(when(col("src") === "pass1", 1L).otherwise(0L)).as("updates"))
    val a = r.archives.agg(count(lit(1)).as("n_archives"))
    val c = r.creates.agg(count(lit(1)).as("n_creates"))
    m.crossJoin(p).crossJoin(u).crossJoin(a).crossJoin(c)
  }
}
