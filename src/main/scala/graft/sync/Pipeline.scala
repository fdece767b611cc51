package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo

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
  * materialized run ([[Pipeline.materialize]]): `marked`, `pass1`, `pass2`
  * and the three action tables hold the scanned state the actions were
  * delivered from, however the tree or the remote change afterwards. It
  * stays valid until the instance's next `syncFilesystem`, which releases
  * it; reading it after that recomputes from the live inputs. The category
  * fields are not part of the run: they stay lazy over the remote's live
  * category list ([[graft.DataWarehouseSync.syncCategories]] reconciles
  * categories).
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
    */
  def sync(files: DataFrame, projects: DataFrame, serverCats: DataFrame,
           rootCategory: String = "files"): SyncResult = {
    val marked = Dedup.markDuplicates(files)
    val p1 = Matching.pass1(marked, projects)
    assemble(files, projects, serverCats, rootCategory,
      marked, p1, Matching.pass2(marked, projects, p1))
  }

  /** The action and category tables over a run's core relations. */
  private def assemble(files: DataFrame, projects: DataFrame,
                       serverCats: DataFrame, rootCategory: String,
                       marked: DataFrame, p1: DataFrame,
                       p2: DataFrame): SyncResult = {
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

  /** A run's core relations — everything the action tables read — in
    * dependency order.
    */
  private def core(r: SyncResult): Seq[DataFrame] = Seq(r.marked, r.pass1, r.pass2)

  private def actionTables(r: SyncResult): Seq[DataFrame] =
    Seq(r.updates, r.archives, r.creates)

  /** Compute `r`'s run once: persist `marked`, `pass1` and `pass2` and
    * materialize them, so each action table becomes a small plan over
    * cached relations instead of its own dedup + match DAG (scan included).
    * The action tables are persisted too and materialize on first read —
    * their delivery. All are registered before the first job, so each core
    * relation builds on the cache of the one before it. Returns `r`; free
    * it with [[release]].
    */
  def materialize(r: SyncResult): SyncResult = {
    (core(r) ++ actionTables(r)).foreach(_.persist())
    try core(r).foreach(_.count())
    catch { case e: Throwable => release(r); throw e }
    r
  }

  /** Free what [[materialize]] holds, dependents first. */
  def release(r: SyncResult): Unit =
    (actionTables(r) ++ core(r).reverse).foreach(_.unpersist())

  /** Convenience: run against the fixture-derived inputs.
    *
    * The core relations are [[graft.Memo]]s: Verify and Bench evaluate
    * every query of a run in one process, and `marked`/`pass1`/`pass2`
    * feed most of them — recomputing the full match DAG per query would
    * multiply the dominant shuffles by the query count. (At production
    * scale this is the same decision as checkpointing the inventory
    * snapshot once per sync run.)
    */
  def syncFixture(spark: SparkSession, dir: String): SyncResult = {
    val files = SyncInputs.files(spark, dir)
    val projects = SyncInputs.projects(spark, dir)
    val marked = Memo(spark, dir, "sync.marked")(Dedup.markDuplicates(files))
    val p1 = Memo(spark, dir, "sync.pass1")(Matching.pass1(marked, projects))
    val p2 = Memo(spark, dir, "sync.pass2")(
      Matching.pass2(marked, projects, p1))
    assemble(files, projects, SyncInputs.serverCats(spark, dir), "files",
      marked, p1, p2)
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
