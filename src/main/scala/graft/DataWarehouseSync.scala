package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.FileInventory
import graft.sync.{Categories, Pipeline, SyncResult}

/** Engine configuration — the reference's `config.json` shape
  * (`example.config.json`: path + rootCategory; iam from DW.js:359).
  */
final case class GraftConfig(
    path: String,
    rootCategory: String = "files",
    iam: String = "gatherbot",
    fileGlob: String = "*.{shp,SHP}")

/** The remote-CMS boundary (the reference's `gather-node-client`),
  * batch-oriented: list calls return DataFrames in the §1.1 record shapes;
  * apply calls receive whole action tables (computed-then-applied,
  * replacing the reference's unawaited per-row calls — SURVEY.md §7.4#3).
  *
  * Implementations: JDBC/REST behind `foreachPartition`
  * ([[graft.sink.Actions.applyPartitioned]]), or [[InMemoryGatherClient]]
  * for tests.
  */
trait GatherClient {
  /** Projects with nested `metadata.file` (may contain null metadata). */
  def listProjects(): DataFrame
  def listArchivedProjects(): DataFrame
  /** Categories: id, category, name, short_name, path, iam. */
  def listCategories(): DataFrame

  def applyCreates(creates: DataFrame): Unit
  def applyUpdates(updates: DataFrame): Unit
  def applyArchives(archives: DataFrame): Unit
  def applyCategoryCreates(cats: DataFrame): Unit
  def applyCategoryRemoves(cats: DataFrame): Unit
}

/** The reference's top-level API (`DataWarehouse`, DW.js:8), Spark-native:
  * `syncFilesystem()` scans `config.path`, reconciles against the client's
  * project list and applies the K1-K3 actions; `syncCategories()`
  * reconciles the folder hierarchy and applies K4. A reference user swaps
  * `new DataWarehouse(config, client)` for
  * `new DataWarehouseSync(spark, config, client)`.
  *
  * Execution mode: both calls are sized alike, by the rows of the cycle
  * as known before any job runs ([[GraftSession.knownRows]]): the tree's
  * files, which the listing's index holds, plus the remote's projects
  * and categories by their size estimates. So a cycle's two calls take
  * the same mode, and both cross over near the same tree size
  * (measured beside [[GraftSession.InterpretedRows]]). Below
  * [[GraftSession.InterpretedRows]] the whole call (scan, cuts and
  * deliveries) runs on Spark's interpreted path
  * ([[GraftSession.interpreted]]), and what it returns stays on that
  * path, so the caller's writes of a small run compile no code either. A
  * remote list of unknown size (an endpoint that reports no statistics)
  * keeps the call on generated code.
  */
object DataWarehouseSync {
  /** P1/P2 normalization of a nested project list (DW.js:79-84): drop null
    * metadata.file, flatten for the match core. Shared by the batch sync
    * and [[graft.streaming.StreamingSync]].
    */
  def normalizeProjects(projects: DataFrame, defaultIam: String): DataFrame =
    projects
      .filter(col("metadata.file").isNotNull)
      .select(col("id"),
        coalesce(col("metadata.iam"), lit(defaultIam)).as("iam"),
        col("metadata.file.file").as("p_file"),
        col("metadata.file.md5").as("p_md5"),
        col("attributes.proposalAttributes.title").as("title"),
        col("attributes.proposalAttributes.isDataset").as("is_dataset"))
}

class DataWarehouseSync(spark: SparkSession, config: GraftConfig,
                        client: GatherClient) {

  // The one run this instance holds: the last syncFilesystem's cuts and
  // the last syncCategories' matched ids, each released by the next call
  // of the same method.
  private var run: Seq[DataFrame] = Nil
  private var matched: Option[DataFrame] = None

  /** P1/P2 normalization of a nested project list (DW.js:79-84): drop null
    * metadata.file, flatten for the match core.
    */
  private def normalize(projects: DataFrame): DataFrame =
    DataWarehouseSync.normalizeProjects(projects, config.iam)

  private def normalizedProjects(): DataFrame = normalize(client.listProjects())

  /** The normalized archived-project list. The reference eagerly fetches
    * and normalizes it (DW.js:74, 85-89) and then never reads the
    * variable — dead code there. Here the relation is *declared* but,
    * being a lazy V2 scan, issues no remote call until a caller actually
    * uses it — a deliberate, documented improvement over the reference's
    * wasted fetch (the declaration in [[syncFilesystem]] preserves the
    * shape of the reference's Promise.all without its cost).
    */
  def normalizedArchivedProjects(): DataFrame =
    normalize(client.listArchivedProjects())

  /** E2 (DW.js:67-258): scan -> dedup -> match -> apply actions. Returns
    * the computed [[SyncResult]] so callers can inspect/report (A2).
    *
    * Lifecycle: the tree is read and hashed once. The project list, and
    * then `marked`, `pass1` and `pass2`, are each stored once as a
    * [[Checkpoints.cut]] before any delivery ([[Pipeline.stored]]); the
    * three action tables are small plans over those leaves. The returned
    * result is this instance's one run: it holds the scanned state and
    * the remote snapshot the actions were computed from, whatever happens
    * to the tree or the remote afterwards, and stays valid until the next
    * call, which releases its cuts (see [[SyncResult]]).
    */
  def syncFilesystem(): SyncResult = {
    run.foreach(Checkpoints.release)
    run = Nil
    val listing = FileInventory.listing(spark, config.path, config.fileGlob)
    val projects = normalizedProjects()
    val cats = client.listCategories()
    GraftSession.interpreted(spark, GraftSession.knownRows(listing, projects, cats)) { s =>
      val files = FileInventory.enrich(GraftSession.bind(s, listing), config.path)
      // mirrors the reference's fetch-then-ignore of archived projects
      // (DW.js:74,85-89): the relation is built but, like there, unused
      normalizedArchivedProjects()
      // ST3 snapshot isolation: the V2 list relations are lazy (each job
      // re-reads the endpoint), so the run cuts one remote snapshot — every
      // action table of this sync is computed against the same list state,
      // like the reference's single Promise.all fetch (DW.js:74)
      val (r, cuts) = Pipeline.stored(files, GraftSession.bind(s, projects),
        GraftSession.bind(s, cats), config.rootCategory)
      run = cuts
      client.applyUpdates(r.updates)
      client.applyArchives(r.archives)
      client.applyCreates(r.creates)
      r
    }
  }

  /** E3 (DW.js:392-463): folder hierarchy vs server categories; returns
    * matched ids (the reference's resolve value, DW.js:455). Throws on
    * duplicate server keys like the reference (DW.js:432-434).
    *
    * Lifecycle: the hierarchy comes from the tree's listing alone, so no
    * file is read. The hierarchy and the server's category list are each
    * cut once for the pass and released when it returns; the returned ids
    * are a cut of their own, valid until the next call, which releases
    * them.
    */
  def syncCategories(): DataFrame = {
    matched.foreach(Checkpoints.release)
    matched = None
    val listing = FileInventory.listing(spark, config.path, config.fileGlob)
    val cats = client.listCategories()
    GraftSession.interpreted(spark,
        GraftSession.knownRows(listing, normalizedProjects(), cats)) { s =>
      val folder = Checkpoints.cut(Categories.folderCats(
        FileInventory.paths(GraftSession.bind(s, listing), config.path),
        config.rootCategory))
      try {
        // one remote snapshot for the whole pass (ST3): the guard, create,
        // remove and matched relations must all see the same list state —
        // uncut, toRemove/matched would re-fetch a list already mutated by
        // applyCategoryCreates above
        val server = Checkpoints.cut(GraftSession.bind(s, cats))
        try {
          val dups = Categories.duplicateKeyGuard(server)
          if (!dups.isEmpty)
            throw new IllegalStateException(
              "Unexpected multiple results: " + dups.collect().mkString(", "))
          client.applyCategoryCreates(Categories.toCreate(folder, server))
          client.applyCategoryRemoves(Categories.toRemove(folder, server))
          val m = Checkpoints.cut(Categories.matched(folder, server).select("id"))
          matched = Some(m)
          m
        } finally Checkpoints.release(server)
      } finally Checkpoints.release(folder)
    }
  }
}
