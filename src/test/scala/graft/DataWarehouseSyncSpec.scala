package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.metrics.source.CodegenMetrics
import graft.client.HttpGatherClient
import graft.sync.Incremental

/** In-memory remote CMS: applies action tables to its own state so a
  * second sync run can verify convergence end-to-end. Like a real server,
  * every apply reads its action table's rows at once into local state:
  * nothing it holds is a lazy plan over the engine's relations, and each
  * list call returns a snapshot of the state at that call.
  */
class InMemoryGatherClient(spark: SparkSession) extends GatherClient {
  import spark.implicits._

  // flat internal state (id, iam, p_file, p_md5, title, is_dataset)
  private var projectRows = Vector.empty[(Long, String, String, String, String, Boolean)]
  // (id, category, name, short_name, path, iam)
  private var categoryRows = Vector.empty[(Long, String, String, String, String, String)]
  var archived: Seq[Long] = Nil
  private var nextId = 1000L

  def projects: DataFrame =
    projectRows.toDF("id", "iam", "p_file", "p_md5", "title", "is_dataset")
  def categories: DataFrame =
    categoryRows.toDF("id", "category", "name", "short_name", "path", "iam")

  def seedProject(id: Long, file: String, md5: String): Unit =
    projectRows :+= ((id, "gatherbot", file, md5, "seeded", true))

  override def listProjects(): DataFrame = projects.select(
    col("id"),
    struct(col("iam"), struct(col("p_file").as("file"), col("p_md5").as("md5")).as("file")).as("metadata"),
    struct(struct(col("title"), col("is_dataset").as("isDataset")).as("proposalAttributes")).as("attributes"))

  override def listArchivedProjects(): DataFrame = listProjects().limit(0)
  override def listCategories(): DataFrame = categories

  override def applyCreates(creates: DataFrame): Unit =
    projectRows ++= creates.collect().toSeq.map { r =>
      nextId += 1
      (nextId, "gatherbot", r.getAs[String]("file"), r.getAs[String]("md5"),
        r.getAs[String]("title"), r.getAs[Boolean]("is_dataset"))
    }

  override def applyUpdates(updates: DataFrame): Unit = {
    // first update per id wins, like the dropDuplicates("id") it replaces
    val u = updates.select("id", "new_file", "md5").collect().toSeq
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .reverse.toMap
    projectRows = projectRows.map { p =>
      u.get(p._1).fold(p) { case (file, md5) => p.copy(_3 = file, _4 = md5) }
    }
  }

  override def applyArchives(archives: DataFrame): Unit = {
    val ids = archives.select("id").collect().map(_.getLong(0)).toSeq
    archived = archived ++ ids
    val gone = ids.toSet
    projectRows = projectRows.filterNot(p => gone.contains(p._1))
  }

  override def applyCategoryCreates(cats: DataFrame): Unit =
    categoryRows ++= cats.collect().toSeq.map { r =>
      nextId += 1
      (nextId, r.getAs[String]("category"), r.getAs[String]("name"),
        r.getAs[String]("short_name"), r.getAs[String]("path"), "gatherbot")
    }

  override def applyCategoryRemoves(cats: DataFrame): Unit = {
    val ids = cats.select("id").collect().map(_.getLong(0)).toSet
    categoryRows = categoryRows.filterNot(c => ids.contains(c._1))
  }
}

/** End-to-end: a reference user's whole workflow — scan a real directory,
  * sync against a (simulated) remote, apply, and converge.
  */
class DataWarehouseSyncSpec extends SparkSpec {

  import spark.implicits._

  test("full sync converges: second run is a no-op (E2+E3 end-to-end)") {
    // The whole workflow on `session`, returning every relation it read
    // and the remote's final state, each as sorted rows.
    def converge(session: SparkSession): Seq[Seq[String]] = {
      val root = Files.createTempDirectory("graft-e2e")
      Files.createDirectories(root.resolve("Ward/GIS"))
      Files.createDirectories(root.resolve("Ward/Docs"))
      Files.write(root.resolve("Ward/GIS/Site.shp"), "site".getBytes)
      Files.write(root.resolve("Ward/GIS/Copy.shp"), "site".getBytes)   // duplicate
      Files.write(root.resolve("Ward/Docs/Plan.shp"), "plan".getBytes)
      Files.write(root.resolve("Ward/Docs/readme.txt"), "skip".getBytes)

      val client = new InMemoryGatherClient(session)
      // seed: one project that was renamed on disk (old path, same content md5)
      val planMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest("plan".getBytes).map("%02x".format(_)).mkString
      client.seedProject(500L, "Old/Plan.shp", planMd5)
      // seed: one orphan project -> archive
      client.seedProject(501L, "Gone/Missing.shp", "0" * 32)

      val dw = new DataWarehouseSync(session,
        GraftConfig(root.toString, rootCategory = "files"), client)
      def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
      def tables(r: graft.sync.SyncResult) =
        Seq(r.marked, r.pass1, r.pass2, r.updates, r.archives, r.creates).map(rows)

      val r1 = dw.syncFilesystem()
      val run1 = tables(r1)
      assert(r1.updates.count() == 1)           // rename detected
      assert(client.archived == Seq(501L))      // orphan archived
      assert(client.projects.count() == 3)      // 500 + created Site + created Copy? (dup alias)
      val matched1 = dw.syncCategories()
      val m1 = rows(matched1)
      assert(client.categories.count() == 3)    // files/Ward, files/Ward/GIS, files/Ward/Docs

      // second run: converged — no actions
      val r2 = dw.syncFilesystem()
      assert(r2.updates.isEmpty, "no updates on second run")
      assert(r2.archives.isEmpty, "no archives on second run")
      assert(r2.creates.isEmpty, "no creates on second run")
      val matched2 = dw.syncCategories()
      assert(matched2.count() == client.categories.count())
      assert(matched2.count() >= matched1.count())
      run1 ++ Seq(m1) ++ tables(r2) ++
        Seq(rows(matched2), rows(client.projects), rows(client.categories))
    }
    // the same workflow forced onto generated code gives the same rows
    assert(converge(spark) == compiled(spark)(converge))
  }

  test("duplicate server categories make syncCategories throw (DW.js:432-434)") {
    val root = Files.createTempDirectory("graft-e2e2")
    Files.createDirectories(root.resolve("A"))
    Files.write(root.resolve("A/x.shp"), "x".getBytes)
    val client = new InMemoryGatherClient(spark)
    client.applyCategoryCreates(
      spark.createDataFrame(Seq(("files", "files/A", "A", "files/"),
        ("files", "files/A", "A", "files/")))
        .toDF("category", "name", "short_name", "path"))
    val dw = new DataWarehouseSync(spark, GraftConfig(root.toString), client)
    intercept[IllegalStateException] { dw.syncCategories() }
  }

  private def write(root: Path, rel: String, body: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"))
    ()
  }

  test("a run's snapshot stays what its actions were computed from") {
    val root = Files.createTempDirectory("graft-snap")
    write(root, "A/one.shp", "one")
    write(root, "A/two.shp", "two")
    write(root, "B/three.shp", "three")
    // a live remote: the list endpoints are files the "server" rewrites
    val cms = Files.createTempDirectory("graft-snap-cms")
    def serve(files: Seq[String]): Unit = {
      write(cms, "projects/part-00000.jsonl", files.zipWithIndex.map { case (f, i) =>
        s"""{"id":${i + 1},"iam":"gatherbot","p_file":"$f","p_md5":"x","title":"t","is_dataset":true}"""
      }.mkString("\n"))
      write(cms, "categories/part-00000.jsonl", "")
    }
    serve(Nil)
    val dw = new DataWarehouseSync(spark, GraftConfig(root.toString),
      new HttpGatherClient(spark, "file:" + cms))
    val r = dw.syncFilesystem()
    def marked = r.marked.select("ord", "file", "md5").collect().toSet
    def pass1 = r.pass1.select("file", "md5", "project", "match").collect().toSet
    val (marked0, pass10) = (marked, pass1)
    assert(marked0.map(_.getString(1)) == Set("A/one.shp", "A/two.shp", "B/three.shp"))
    assert(pass10.forall(_.isNullAt(2)), "empty remote: nothing matches")

    // after the run: the server applies the creates, and the tree moves on
    serve(Seq("A/one.shp", "A/two.shp", "B/three.shp"))
    write(root, "C/four.shp", "four")
    Files.move(root.resolve("A/two.shp"), root.resolve("C/two.shp"))
    write(root, "B/three.shp", "three, edited")
    assert(marked == marked0)
    assert(pass1 == pass10)
    assert(r.creates.count() == 3)
  }

  test("a steady sync cycle compiles no code") {
    val root = Files.createTempDirectory("graft-compiles")
    val out = Files.createTempDirectory("graft-compiles-out")
    def at(i: Int) = s"D${i % 4}/E${i % 3}/f$i.shp"
    (1 to 40).foreach(i => write(root, at(i), s"body $i"))
    val dw = new DataWarehouseSync(spark, GraftConfig(root.toString),
      new InMemoryGatherClient(spark))
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var ledger: Option[String] = None
    // the daemon's cycle: sync, then the snapshot, diff and ledger writes
    val perCycle = (0 until 3).map { i =>
      if (i > 0) {
        // churn: an edit, a move and a new file
        write(root, at(i), s"edited $i")
        Files.move(root.resolve(at(i + 10)), root.resolve(s"D0/moved$i.shp"))
        write(root, s"N$i/new.shp", s"new $i")
      }
      val c0 = compiles
      val r = dw.syncFilesystem()
      dw.syncCategories()
      val snap = out.resolve(s"snapshot$i").toString
      r.marked.select("ord", "ino", "size", "file", "md5").write.parquet(snap)
      if (i > 0) Incremental.diffActions(
        spark.read.parquet(out.resolve(s"snapshot${i - 1}").toString),
        spark.read.parquet(snap)).write.parquet(out.resolve(s"diff$i").toString)
      val next = out.resolve(s"ledger$i").toString
      Incremental.updateLedger(ledger.fold(Incremental.emptyLedger(spark))(
        spark.read.parquet(_)), r.pass1, i + 1L).write.parquet(next)
      ledger = Some(next)
      compiles - c0
    }
    assert(perCycle(2) == 0, s"Janino compiles per cycle: $perCycle")
  }

  test("the interpreted scope: generated code at its bound, none below it") {
    val df = spark.range(100).selectExpr("id % 7 as k").groupBy("k").count()
    def codegen(rows: Long) =
      GraftSession.interpreted(spark, rows)(s => rowsAndCodegen(GraftSession.bind(s, df)))
    val (below, belowCodegen) = codegen(GraftSession.InterpretedRows - 1)
    val (at, atCodegen) = codegen(GraftSession.InterpretedRows)
    assert(!belowCodegen && atCodegen)
    assert(below.map(_.toString).sorted == at.map(_.toString).sorted)
    // a call whose inputs are of unknown size stays on generated code
    val snap = Seq(("a.shp", "m1"), ("b.shp", "m2")).toDF("file", "md5")
    val unknown = spark.createDataFrame(snap.rdd, snap.schema)
    assert(rowsAndCodegen(Incremental.diffActions(unknown, unknown))._2)
    assert(!rowsAndCodegen(Incremental.diffActions(snap, snap))._2)
  }

  test("the interpreted scope keeps no dropped caller alive") {
    // the call plans on the clone but runs no job: a session that has run
    // one stays reachable through Spark's own thread state, scope or not
    def caller(): java.lang.ref.WeakReference[SparkSession] = {
      val s = GraftSession.scoped(spark)(identity)
      GraftSession.interpreted(s, 0L)(_.range(3).queryExecution.executedPlan)
      new java.lang.ref.WeakReference(s)
    }
    val dropped = caller()
    val deadline = System.nanoTime() + 20000000000L
    while (dropped.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(dropped.get == null, "a caller that made a small call is still reachable")
  }

  test("one instance holds one run: each call releases the previous one's relations") {
    val root = Files.createTempDirectory("graft-held")
    write(root, "A/one.shp", "one")
    write(root, "B/two.shp", "two")
    val client = new InMemoryGatherClient(spark)
    val dw = new DataWarehouseSync(spark, GraftConfig(root.toString), client)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val runs = (1 to 3).map { i =>
      write(root, s"C$i/new.shp", s"new $i")
      val r = dw.syncFilesystem()
      val m = dw.syncCategories()
      (r, m, persisted -- before)
    }
    val (r1, m1, held1) = runs.head
    val (r3, m3, held3) = runs.last
    def relations(r: graft.sync.SyncResult, m: DataFrame) =
      Seq(r.marked, r.pass1, r.pass2, r.updates, r.archives, r.creates, m)
    def leaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
    // the third run is stored: every leaf its relations plan over is one
    // of its live cuts, so no plan scans the tree or the remote
    for (df <- relations(r3, m3); leaf <- leaves(df)) leaf match {
      case lr: LogicalRDD =>
        assert(held3(lr.rdd.id) && lr.rdd.getStorageLevel != StorageLevel.NONE)
      case other => fail(s"not a cut leaf: $other")
    }
    // the first run's cuts are freed
    for (df <- relations(r1, m1); leaf <- leaves(df)) leaf match {
      case lr: LogicalRDD =>
        assert(!persisted(lr.rdd.id) && lr.rdd.getStorageLevel == StorageLevel.NONE)
      case other => fail(s"not a cut leaf: $other")
    }
    assert(held1.nonEmpty && held3.size == held1.size, s"$held1 vs $held3")
    assert((held1 intersect held3).isEmpty)
    assert(client.projects.count() == 5 && client.categories.count() == 5)
  }
}
