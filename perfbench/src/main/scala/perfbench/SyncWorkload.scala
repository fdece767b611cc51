package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.{DataWarehouseSync, GatherClient, GraftConfig}
import graft.client.HttpGatherClient
import graft.sources.FileInventory
import graft.sync.{Incremental, Pipeline}

/** The reference daemon's loop: `syncFilesystem()` then `syncCategories()`
  * over a tree of shapefiles, against a CMS served from a local `file:`
  * directory through the program's own [[HttpGatherClient]].
  *
  * The first unit imports the tree into an empty CMS (every file is a
  * create). Each later unit is a steady cycle after seeded churn:
  * `syncFilesystem` + `syncCategories` + the scan snapshot landed +
  * `Incremental.diffActions` against the previous snapshot + the SCD2
  * ledger update, all written out.
  *
  * Expected results come from the generator's own plan, never from what
  * the program landed: each churn operation predicts its actions by the
  * scenario rules of `graft.sync.SyncInputs` (new file -> create; rename
  * with content unchanged -> md5Match update; delete -> archive; content
  * edit -> content-changed only, no action). The simulated server then
  * applies the plan, not the landed output, to make the next cycle's CMS
  * state. Churn only touches files whose content is unique, so the
  * set-based pass-2 deviation of `graft.sync.Matching` never applies.
  */
object SyncWorkload {

  val Name = "sync_small_files"
  /** 3000 `.shp` files of 1-8 KB under 4 x 4 x 4 folders, 5% of them in
    * duplicate-content groups. The largest tree whose runs fit the
    * benchmark's run budget (sizing runs in perfbench/README.md).
    */
  val TreeFiles = 3000
  val MinBytes = 1024
  val MaxBytes = 8192
  val DupShare = 0.05
  val Fanout = 4
  /** Churn per cycle, besides one folder of `NewFolderFiles` files added
    * and one leaf folder removed with its files: ~1% of the files.
    */
  val Renames = TreeFiles * 3 / 1000
  val Edits = TreeFiles * 3 / 1000
  val Deletes = TreeFiles * 2 / 1000
  val Adds = TreeFiles * 2 / 1000
  val NewFolderFiles = 5

  val Root = "files"

  // ------------------------------------------------------------ the tree

  final class FileRec(var md5: String, val dup: Boolean, var bytes: Long)

  /** Expected actions of one cycle. */
  final case class Plan(
      creates: Set[String], updates: Set[(Long, String)], archives: Set[Long],
      catCreates: Set[(String, String)], catRemoves: Set[Long])

  final case class Cat(category: String, name: String, shortName: String,
                       path: String)

  /** Seeded, single-threaded generator of the tree and the simulated CMS. */
  final class World(seed: Long, val root: Path, val cms: Path) {
    private val rnd = new SplittableRandom(seed)
    val files = mutable.TreeMap.empty[String, FileRec]
    val projOf = mutable.HashMap.empty[String, Long]
    val stale = mutable.HashSet.empty[String]
    val projects = mutable.TreeMap.empty[Long, (String, String)]
    val cats = mutable.TreeMap.empty[Long, Cat]
    private var nextProject = 1000L
    private var nextCat = 5000L
    private var serial = 0
    var leaves: Vector[String] = Vector.empty

    private def md5Hex(b: Array[Byte]): String =
      MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

    private def content(): Array[Byte] = {
      val n = MinBytes + rnd.nextInt(MaxBytes - MinBytes + 1)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      b
    }

    private def stem(p: String) = p.stripSuffix(".shp")
    private def sidecars(p: String) =
      Seq(".dbf", ".shx", ".prj").map(stem(p) + _)

    private def write(p: String, b: Array[Byte], dup: Boolean): Unit = {
      val f = root.resolve(p)
      Files.createDirectories(f.getParent)
      Files.write(f, b)
      files(p) = new FileRec(md5Hex(b), dup, b.length.toLong)
      // the sidecars the scan glob must skip
      sidecars(p).foreach { s =>
        val side = new Array[Byte](100 + rnd.nextInt(400))
        rnd.nextBytes(side)
        Files.write(root.resolve(s), side)
      }
    }

    private def newName(leaf: String): String = {
      serial += 1
      f"$leaf/f$serial%07d.shp"
    }

    def populate(): Unit = {
      leaves = (for (i <- 0 until Fanout; j <- 0 until Fanout; k <- 0 until Fanout)
        yield s"a$i/b$j/c$k").toVector
      val nDup = (TreeFiles * DupShare).toInt
      // duplicate-content groups of 2-3 files
      var placed = 0
      while (placed < nDup) {
        val group = 2 + rnd.nextInt(2)
        val b0 = content()
        (0 until group).foreach { _ =>
          write(newName(leaves(rnd.nextInt(leaves.size))), b0, dup = true)
        }
        placed += group
      }
      while (files.size < TreeFiles)
        write(newName(leaves(rnd.nextInt(leaves.size))), content(), dup = false)
    }

    def treeBytes: Long = files.valuesIterator.map(_.bytes).sum

    /** Folder categories of the current tree, as the program derives them
      * (`graft.sync.Categories.folderCats`): every ancestor directory.
      */
    def folderCats: Set[Cat] = files.keysIterator.flatMap { p =>
      val dirs = p.split("/").dropRight(1)
      (1 to dirs.length).map { i =>
        val parent = dirs.take(i - 1).mkString("/")
        Cat(if (i == 1) Root else s"$Root/$parent".toLowerCase,
          s"$Root/${dirs.take(i).mkString("/")}", dirs(i - 1),
          if (i == 1) s"$Root/" else s"$Root/$parent/")
      }
    }.toSet

    private def catPlan(): (Set[(String, String)], Set[Long]) = {
      val folder = folderCats.map(c => (c.category, c.name))
      val server = cats.map { case (id, c) => (c.category, c.name) -> id }
      (folder -- server.keySet, server.filter(kv => !folder(kv._1)).values.toSet)
    }

    /** Every file is new to the empty CMS. */
    def importPlan(): Plan = {
      val (cc, cr) = catPlan()
      Plan(files.keySet.toSet, Set.empty, Set.empty, cc, cr)
    }

    private def pick(n: Int, from: Iterable[String]): Seq[String] = {
      val v = from.toVector
      val chosen = mutable.LinkedHashSet.empty[String]
      while (chosen.size < math.min(n, v.size)) chosen += v(rnd.nextInt(v.size))
      chosen.toSeq
    }

    /** Applies one cycle of seeded churn to the tree and returns the plan. */
    def churn(): Plan = {
      val creates = mutable.Set.empty[String]
      val updates = mutable.Set.empty[(Long, String)]
      val archives = mutable.Set.empty[Long]
      def delete(p: String): Unit = {
        (p +: sidecars(p)).foreach(s => Files.deleteIfExists(root.resolve(s)))
        files.remove(p)
        stale.remove(p)
        archives += projOf.remove(p).get
      }
      // folder ops first: a removed folder takes its files with it
      val removedLeaf = {
        val clean = leaves.filter { l =>
          val in = files.keysIterator.filter(_.startsWith(l + "/")).toSeq
          in.nonEmpty && in.forall(p => !files(p).dup)
        }
        if (clean.isEmpty) None else Some(clean(rnd.nextInt(clean.size)))
      }
      removedLeaf.foreach { l =>
        files.keysIterator.filter(_.startsWith(l + "/")).toSeq.foreach(delete)
        leaves = leaves.filterNot(_ == l)
      }
      val singles = files.iterator.collect { case (p, f) if !f.dup => p }.toSeq
      val touched = pick(Renames + Edits + Deletes, singles)
      val (ren, rest) = touched.splitAt(Renames)
      val (edit, del) = rest.splitAt(Edits)
      ren.foreach { p =>
        val to = newName(leaves(rnd.nextInt(leaves.size)))
        Files.move(root.resolve(p), root.resolve(to))
        sidecars(p).zip(sidecars(to)).foreach { case (s, t) =>
          Files.move(root.resolve(s), root.resolve(t))
        }
        files(to) = files.remove(p).get
        val id = projOf.remove(p).get
        if (stale.remove(p)) { archives += id; creates += to }
        else { updates += ((id, to)); projOf(to) = id }
      }
      edit.foreach { p =>
        val b = content()
        Files.write(root.resolve(p), b)
        files(p).md5 = md5Hex(b); files(p).bytes = b.length.toLong
        stale += p
      }
      del.foreach(delete)
      (0 until Adds).foreach { _ =>
        val p = newName(leaves(rnd.nextInt(leaves.size)))
        write(p, content(), dup = false)
        creates += p
      }
      serial += 1
      val top = leaves(rnd.nextInt(leaves.size)).split("/").take(2).mkString("/")
      val leaf = f"$top/n$serial%07d"
      leaves :+= leaf
      (0 until NewFolderFiles).foreach { _ =>
        val p = newName(leaf)
        write(p, content(), dup = false)
        creates += p
      }
      val (cc, cr) = catPlan()
      Plan(creates.toSet, updates.toSet, archives.toSet, cc, cr)
    }

    /** The simulated server applies the plan (not the landed output). */
    def applyPlan(plan: Plan): Unit = {
      plan.archives.foreach(projects.remove)
      plan.updates.foreach { case (id, to) =>
        projects(id) = (to, projects(id)._2)
      }
      plan.creates.toSeq.sorted.foreach { p =>
        nextProject += 1
        projects(nextProject) = (p, files(p).md5)
        projOf(p) = nextProject
        stale.remove(p)
      }
      plan.catRemoves.foreach(cats.remove)
      val byKey = folderCats.map(c => (c.category, c.name) -> c).toMap
      plan.catCreates.toSeq.sorted.foreach { k =>
        nextCat += 1
        cats(nextCat) = byKey(k)
      }
    }

    /** Writes the CMS list endpoints and empties the landing directories:
      * the landing writer names parts by partition id, so a previous
      * cycle's parts must not be read as this cycle's deliveries.
      */
    def serve(): Unit = {
      Landing.all.foreach { d =>
        val dir = cms.resolve(d)
        if (Files.isDirectory(dir)) Fs.deleteTree(dir)
        Files.createDirectories(dir)
      }
      Files.createDirectories(cms.resolve("projects/archived"))
      Files.write(cms.resolve("projects/part-00000.jsonl"),
        projects.iterator.map { case (id, (f, m)) =>
          s"""{"id":$id,"iam":"gatherbot","p_file":${Json.str(f)},""" +
            s""""p_md5":"$m","title":${Json.str(title(f))},"is_dataset":true}"""
        }.toSeq.asJava, StandardCharsets.UTF_8)
      Files.write(cms.resolve("categories/part-00000.jsonl"),
        cats.iterator.map { case (id, c) =>
          s"""{"id":$id,"category":${Json.str(c.category)},""" +
            s""""name":${Json.str(c.name)},"short_name":${Json.str(c.shortName)},""" +
            s""""path":${Json.str(c.path)},"iam":"gatherbot"}"""
        }.toSeq.asJava, StandardCharsets.UTF_8)
    }

    private def title(p: String) = p.split("/").last.stripSuffix(".shp")
  }

  object Landing {
    val Creates = "projects/create"
    val Updates = "projects/update"
    val Archives = "projects/archive"
    val CatCreates = "categories/create"
    val CatRemoves = "categories/remove"
    val all = Seq(Creates, Updates, Archives, CatCreates, CatRemoves)
  }

  // ------------------------------------------------------------ checks

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def landed(cms: Path, d: String) =
    Fs.lines(cms.resolve(d)).map(mapper.readTree)

  private def expectSame[T](what: String, got: Seq[T], want: Set[T]): Unit = {
    val g = got.toSet
    if (g.size != got.size)
      throw new IllegalStateException(s"$what: ${got.size - g.size} duplicate rows")
    if (g != want) throw new IllegalStateException(
      s"$what mismatch: missing ${(want -- g).take(5)} unexpected ${(g -- want).take(5)} " +
        s"(want ${want.size}, got ${g.size})")
  }

  def checkActions(cms: Path, plan: Plan): Unit = {
    expectSame("creates", landed(cms, Landing.Creates).map(_.get("file").asText),
      plan.creates)
    expectSame("updates", landed(cms, Landing.Updates)
      .map(n => (n.get("id").asLong, n.get("new_file").asText)), plan.updates)
    expectSame("archives", landed(cms, Landing.Archives).map(_.get("id").asLong),
      plan.archives)
    expectSame("category creates", landed(cms, Landing.CatCreates)
      .map(n => (n.get("category").asText, n.get("name").asText)), plan.catCreates)
    expectSame("category removes", landed(cms, Landing.CatRemoves)
      .map(_.get("id").asLong), plan.catRemoves)
  }

  /** The snapshot diff the generator's two tree states imply. */
  def expectedDiff(prev: Map[String, String], cur: Map[String, String])
      : Set[(String, String, String)] = {
    val changed = cur.collect {
      case (p, m) if prev.get(p).exists(_ != m) => ("content_changed", p, p)
    }
    val added = (cur.keySet -- prev.keySet).toSeq.groupBy(cur)
    val removed = (prev.keySet -- cur.keySet).toSeq.groupBy(prev)
    val moves = (added.keySet ++ removed.keySet).toSeq.flatMap { m =>
      val a = added.getOrElse(m, Nil).sorted
      val r = removed.getOrElse(m, Nil).sorted
      a.zipAll(r, null, null).map {
        case (x, null) => ("create", x, null)
        case (null, y) => ("archive", null, y)
        case (x, y) => ("rename", x, y)
      }
    }
    (changed ++ moves).toSet
  }

  // ------------------------------------------------------------ the loop

  /** Times GatherClient deliveries; lists pass through untouched. */
  final class TimedClient(inner: GatherClient, tracer: Tracer) extends GatherClient {
    var sinkNs = 0L
    private def timed(f: => Unit): Unit = tracer.span("sink") {
      val t0 = System.nanoTime(); f; sinkNs += System.nanoTime() - t0
    }
    def listProjects(): DataFrame = inner.listProjects()
    def listArchivedProjects(): DataFrame = inner.listArchivedProjects()
    def listCategories(): DataFrame = inner.listCategories()
    def applyCreates(d: DataFrame): Unit = timed(inner.applyCreates(d))
    def applyUpdates(d: DataFrame): Unit = timed(inner.applyUpdates(d))
    def applyArchives(d: DataFrame): Unit = timed(inner.applyArchives(d))
    def applyCategoryCreates(d: DataFrame): Unit = timed(inner.applyCategoryCreates(d))
    def applyCategoryRemoves(d: DataFrame): Unit = timed(inner.applyCategoryRemoves(d))
  }

  def run(r: Run): Map[String, Metric] = {
    val spark = r.spark
    val t = r.tracer
    val root = r.work.resolve("tree")
    val cms = r.work.resolve("cms")
    val land = r.work.resolve("landed")
    val world = new World(r.seed, root, cms)
    val g0 = System.nanoTime()
    world.populate()
    r.log(f"$Name: generated ${world.files.size} files, " +
      f"${world.treeBytes / 1e6}%.1f MB in ${(System.nanoTime() - g0) / 1e9}%.2f s")

    val client = new TimedClient(
      new HttpGatherClient(spark, "file:" + cms.toString), t)
    val dws = new DataWarehouseSync(spark,
      GraftConfig(path = root.toString, rootCategory = Root), client)

    var prevSnap: Option[(Path, Map[String, String])] = None
    var ledger: Option[Path] = None

    r.loop(minSteady = if (r.traced) 3 else 2) { (i, tracedUnit) =>
      world.serve()
      val plan = if (i == 0) world.importPlan() else world.churn()
      val tree = world.files.iterator.map { case (p, f) => p -> f.md5 }.toMap
      client.sinkNs = 0L
      val label = if (i == 0) s"$Name import" else s"$Name cycle $i"
      val res = r.attempt(label) {
        val snap = land.resolve(s"snapshot/$i")
        val diffOut = land.resolve(s"diff/$i")
        val ledgerOut = land.resolve(s"ledger/$i")
        val c0 = Timing.start()
        var dwsDone: Timing = null
        t.span("cycle") {
          val sr = t.span("dws.filesystem")(dws.syncFilesystem())
          t.span("dws.categories")(dws.syncCategories())
          dwsDone = c0.stop()
          t.span("incr.snapshot") {
            sr.marked.select("ord", "ino", "size", "file", "md5")
              .write.parquet(snap.toString)
          }
          prevSnap.foreach { case (p, _) =>
            t.span("incr.diff") {
              Incremental.diffActions(spark.read.parquet(p.toString),
                spark.read.parquet(snap.toString)).write.parquet(diffOut.toString)
            }
          }
          t.span("incr.ledger") {
            Incremental.updateLedger(ledger.fold(Incremental.emptyLedger(spark))(
              l => spark.read.parquet(l.toString)), sr.pass1, i + 1L)
              .write.parquet(ledgerOut.toString)
          }
        }
        val cycle = c0.stop()
        // checks, outside the timed section
        checkActions(cms, plan)
        prevSnap.foreach { case (_, prevTree) =>
          val got = spark.read.parquet(diffOut.toString)
            .select("action", "file", "old_file").collect()
            .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq
          expectSame("diffActions", got, expectedDiff(prevTree, tree))
          if (tracedUnit) r.rec("incr.diff_rows", got.size.toDouble)
        }
        if (tracedUnit)
          r.rec("incr.ledger_rows", spark.read.parquet(ledgerOut.toString).count().toDouble)
        prevSnap = Some((snap, tree))
        ledger = Some(ledgerOut)
        // the import is `index.js`'s one-shot: the two sync calls only
        if (i == 0) dwsDone else cycle
      }
      if (tracedUnit && res.isDefined) tracedLayers(r, world, client, i)
      if (i > 0 && r.traced && res.isDefined)
        r.rec("dws.retained_cache_bytes", r.storageBytes.toDouble)
      world.applyPlan(plan)
      res
    }
    if (!r.traced) Map.empty else {
      val tree = world.treeBytes.toDouble
      Layers.report(r.samples, Layers.syncNames, Map(
        "scan.tree_bytes" -> Some(tree),
        "scan.read_amplification" ->
          Stats.median(r.samples.getOrElse("scan.input_bytes", Nil).toSeq).map(_ / tree),
        "dws.retained_cache_bytes" -> r.samples.get("dws.retained_cache_bytes").map(_.last)))
    }
  }

  /** Per-layer numbers of one traced unit, read from its spans, plus the
    * standalone layer probes; all outside the timed section.
    */
  private def tracedLayers(r: Run, world: World, client: TimedClient,
                           i: Int): Unit = {
    val spark = r.spark
    val t = r.tracer
    val rec = r.rec _
    def last(name: String) = t.named(name).lastOption.map(t.counts)
    if (i == 0) {
      // the import: the sink does its work here
      rec("sink.s", client.sinkNs / 1e9)
      val files = Landing.all.flatMap(d => Fs.files(world.cms.resolve(d)))
      rec("sink.rows", files.map(f => Fs.lines(f).size).sum.toDouble)
      rec("sink.bytes", files.map(Files.size).sum.toDouble)
      return
    }
    rec("sink.cycle_s", client.sinkNs / 1e9)
    val c = last("cycle").get
    Layers.recordSpark(c, rec)
    rec("scan.input_bytes", c.inputBytes.toDouble)
    for ((span, key) <- Seq("dws.filesystem" -> "dws.filesystem",
                            "dws.categories" -> "dws.categories",
                            "incr.snapshot" -> "incr.snapshot",
                            "incr.diff" -> "incr.diff",
                            "incr.ledger" -> "incr.ledger");
         s <- last(span)) {
      rec(s"${key}_s", s.wallS)
      rec(s"${key}_jobs", s.jobs.toDouble)
    }
    // standalone probes
    val root = world.root.toString
    t.span("scan") {
      FileInventory.scan(spark, root).write.format("noop").mode("overwrite").save()
    }
    last("scan").foreach(s => rec("scan.s", s.wallS))
    val (np, nc) = t.span("lists") {
      (client.listProjects().count(), client.listCategories().count())
    }
    last("lists").foreach(s => rec("lists.s", s.wallS))
    rec("lists.rows", (np + nc).toDouble)
    val files = FileInventory.scan(spark, root).persist()
    val projects = DataWarehouseSync.normalizeProjects(client.listProjects(), "gatherbot")
      .persist()
    val cats = client.listCategories().persist()
    files.count(); projects.count(); cats.count()
    t.span("sync") {
      val p = Pipeline.sync(files, projects, cats, Root)
      Seq(p.updates, p.archives, p.creates, p.catCreates, p.catRemoves)
        .foreach(_.count())
    }
    last("sync").foreach(s => rec("sync.s", s.wallS))
    Seq(files, projects, cats).foreach(_.unpersist())
  }
}
