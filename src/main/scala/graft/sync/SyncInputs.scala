package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Derived sync-reconciliation input relations.
  *
  * The reference engine (`/root/reference/src/DataWarehouse.js`) reconciles a
  * filesystem scan (`files`) against a remote CMS (`projects`, `categories`).
  * The driver fixtures carry no such tables, so we derive deterministic ones
  * from `documents` — the derivation is mirrored 1:1 in the DuckDB oracle SQL
  * (see [[graft.oracle.OracleSql.SYNC_CTES]]); any edit here MUST be applied
  * there too.
  *
  * Scenario residues (doc_id % 12):
  *   - 7, 10 -> no project exists (file is new -> K1 create)
  *   - 8     -> project recorded under an old path, same content
  *              (rename -> 'md5Match' + K2 metadata update, DW.js:260-291)
  *   - 9     -> project path matches, content hash differs
  *              (C2 content-changed, log-only, DW.js:282-284)
  *   - 11    -> project references a path/content that no longer exists
  *              (orphan -> K3 archive, DW.js:376-389)
  *   - else  -> project matches the file exactly ('exactMatch')
  * Duplicate content (doc_id % 17 == 5): the file's md5 collapses to one of 4
  * shared group hashes, exercising J7 dedup (DW.js:312-348) and the pass-2
  * alias matching paths (DW.js:465-536).
  *
  * Record shapes follow SURVEY.md §1.1 / FIXTURES.md §2; `ord` is our
  * deterministic surrogate for the reference's JS array order, `ino` for the
  * filesystem inode (SURVEY.md §7.4).
  */
object SyncInputs {

  /** Path of the simulated `.shp` file for one document row. */
  private def pathCol = concat(
    col("source"), lit("/"), col("lang"), lit("/doc_"),
    col("doc_id").cast("string"), lit(".shp"))

  /** files(ord, ino, size, file, md5) — the scanner output (DW.js:48-56). */
  def files(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("ord"),
      col("doc_id").as("ino"),
      col("n_chars").as("size"),
      pathCol.as("file"),
      when(col("doc_id") % 17 === 5,
        md5(concat(lit("dup_"), (col("doc_id") % 4).cast("string"))))
        .otherwise(md5(col("text")))
        .as("md5"))

  /** The *second* run's file snapshot — [[files]] after a deterministic
    * batch of filesystem changes, driving the cross-run incremental sync
    * ([[Incremental]]). Mirrored 1:1 in the oracle's `files2` CTE.
    * Mutations by doc_id % 10 (dup-group md5 overrides, % 17 == 5, take
    * precedence exactly as in [[files]]):
    *   - 9 -> deleted;
    *   - 3 -> renamed (path gains a `moved/` prefix, content unchanged);
    *   - 6 -> content changed (md5 re-derived from `v2_` || text) —
    *     except the % 7 == 2 subset, whose new md5 is NULL (an
    *     unreadable/deferred hash): these rows exercise the null-safe
    *     `<=>` transition semantics in [[Incremental.diffActions]] —
    *     non-null -> null IS a content change, which a null-unsafe
    *     oracle twin (`<>`) would silently drop;
    *   - 0 -> an additional new file appears under `extra/`.
    */
  def filesRun2(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
    val mutated = base.filter(col("doc_id") % 10 =!= 9).select(
      col("doc_id").as("ord"),
      col("doc_id").as("ino"),
      col("n_chars").as("size"),
      when(col("doc_id") % 10 === 3, concat(lit("moved/"), pathCol))
        .otherwise(pathCol).as("file"),
      when(col("doc_id") % 17 === 5,
        md5(concat(lit("dup_"), (col("doc_id") % 4).cast("string"))))
        .when(col("doc_id") % 10 === 6 && col("doc_id") % 7 === 2,
          lit(null).cast("string"))
        .when(col("doc_id") % 10 === 6, md5(concat(lit("v2_"), col("text"))))
        .otherwise(md5(col("text")))
        .as("md5"))
    val extra = base.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 5000000L).as("ord"),
      (col("doc_id") + 5000000L).as("ino"),
      (col("n_chars") + 1L).as("size"),
      concat(lit("extra/doc_"), col("doc_id").cast("string"),
        lit("_extra.shp")).as("file"),
      md5(concat(lit("extra_"), col("text"))).as("md5"))
    mutated.unionByName(extra)
  }

  /** projects(id, iam, p_file, p_md5, title, is_dataset) — the remote project
    * list, flattened from the nested shape at DW.js:357-367 (see
    * [[nestedProjects]] for the API-faithful nested form).
    */
  def projects(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(!(col("doc_id") % 12).isin(7, 10))
      .select(
        (lit(1000000L) + col("doc_id")).as("id"),
        lit("gatherbot").as("iam"),
        when(col("doc_id") % 12 === 8, concat(lit("old/"), pathCol))
          .when(col("doc_id") % 12 === 11,
            concat(lit("missing/doc_"), col("doc_id").cast("string"), lit(".shp")))
          .otherwise(pathCol)
          .as("p_file"),
        when(col("doc_id") % 17 === 5,
          md5(concat(lit("dup_"), (col("doc_id") % 4).cast("string"))))
          .when(col("doc_id") % 12 === 9, md5(concat(lit("old_"), col("text"))))
          .when(col("doc_id") % 12 === 11,
            md5(concat(lit("gone_"), col("doc_id").cast("string"))))
          .otherwise(md5(col("text")))
          .as("p_md5"),
        concat(lit("Doc "), col("doc_id").cast("string")).as("title"),
        (col("doc_id") % 2 === 0).as("is_dataset"))

  /** Projects in the reference's nested record shape
    * (`metadata.file.{file,md5}`, SURVEY.md §1.1) — the form the public
    * [[graft.sync]] API consumes; flat form above is for oracle parity.
    */
  def nestedProjects(spark: SparkSession, dir: String): DataFrame =
    nestProjects(projects(spark, dir))

  /** The flat wire shape -> nested §1.1 shape projection (DW.js:79-91's
    * input form); shared by the fixture path and the REST client.
    */
  def nestProjects(flat: DataFrame): DataFrame =
    flat.select(
      col("id"),
      struct(
        col("iam"),
        struct(col("p_file").as("file"), col("p_md5").as("md5")).as("file")
      ).as("metadata"),
      struct(struct(col("title"), col("is_dataset").as("isDataset"))
        .as("proposalAttributes")).as("attributes"))

  private val wireCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** The fixture project list landed as a JSON-lines file, for scanning
    * through the [[graft.sources.v2.GatherSource]] V2 source without a
    * live endpoint (its `file:` transport — the landed-list case a paging
    * server produces). Written once per (application, fixture dir) by a
    * Spark job (no driver-side collect) and memoized; returns the part
    * file's path. Scratch placement + cleanup + the local-mode assumption:
    * [[graft.tables.Scratch]].
    */
  def projectsWireUrl(spark: SparkSession, dir: String): String =
    wireCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val out = graft.tables.Scratch.dir(spark, "graft-wire-projects").toString
      projects(spark, dir).toJSON.coalesce(1)
        .write.mode("overwrite").text(out)
      val part = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-")).minBy(_.getName)
      part.getAbsolutePath
    })

  /** Nested projects scanned through the V2 source over the landed wire
    * file — `sync_normalize_projects` consumes this so the P1/P2 entry
    * exercises the DataSourceV2 scan (pruned down to id/p_file/p_md5 by
    * Catalyst through the nesting projection).
    */
  def nestedProjectsV2(spark: SparkSession, dir: String): DataFrame =
    nestProjects(
      spark.read.format(graft.sources.v2.GatherSource.Format)
        .schema(graft.sources.v2.GatherSource.ProjectsSchema)
        .option("url", projectsWireUrl(spark, dir))
        .load())

  /** server_cats(id, category, name, short_name, path, iam) — the remote
    * category list (DW.js:403-426): all folder categories except the
    * lang='es' leaves (those become K4 creates), two deprecated rows (K4
    * removes) and one non-gatherbot row (filtered by P5, DW.js:403-405).
    *
    * `id` is assigned by dense rank over `name` — deterministic because
    * names are distinct. (At real scale an id would come from the remote
    * system; the global window here is test-fixture-only.)
    */
  def serverCats(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, dir, "sync.server_cats")(buildServerCats(spark, dir))

  private def buildServerCats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val folder = Categories.folderCats(files(spark, dir), "files")
    val extras = spark.createDataFrame(Seq(
      ("files", "files/legacy_dir", "legacy_dir", "files/", "gatherbot"),
      ("files", "files/old_archive", "old_archive", "files/", "gatherbot"),
      ("files", "files/human_made", "human_made", "files/", "admin")
    )).toDF("category", "name", "short_name", "path", "iam")
    val base = folder.filter(col("short_name") =!= "es")
      .select(col("type").as("category"), col("name"), col("short_name"),
        col("path"), lit("gatherbot").as("iam"))
      .unionByName(extras)
    base.withColumn("id",
      row_number().over(Window.orderBy("name")).cast("long") + 5000L)
  }
}
