package graft.sources

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong
import graft.{DataWarehouseSync, GraftConfig, GraftSession, InMemoryGatherClient, SparkSpec}
import graft.sink.Actions
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Row

/** S1-S5 over a real temp directory (mirrors the reference's example-dir)
  * + K5 sink rendering.
  */
class FileInventorySpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def mkTree(): Path = {
    val root = Files.createTempDirectory("graft-scan")
    Files.createDirectories(root.resolve("a/x"))
    Files.createDirectories(root.resolve("b"))
    Files.write(root.resolve("a/x/Site.shp"), "site-bytes".getBytes)
    Files.write(root.resolve("a/x/UPPER.SHP"), "upper-bytes".getBytes)
    Files.write(root.resolve("b/dup.shp"), "site-bytes".getBytes)
    Files.write(root.resolve("b/ignored.txt"), "not a shapefile".getBytes)
    Files.write(root.resolve("b/also.shp.txt"), "suffix not extension".getBytes)
    root
  }

  test("scan root with regex metacharacters strips literally (prefix is \\Q-quoted)") {
    val base = Files.createTempDirectory("graft-meta")
    // a+b(c) would mis-strip if interpolated into the pattern unquoted
    val root = base.resolve("a+b(c)")
    Files.createDirectories(root.resolve("d"))
    Files.write(root.resolve("d/one.shp"), "bytes-one".getBytes)
    val rows = FileInventory.scan(spark, root.toString).collect()
    assert(rows.map(_.getAs[String]("file")).toSeq == Seq("d/one.shp"))
  }

  test("scan: recursive, suffix-filtered, relative paths, content md5 (S1-S5, DW.js:32-56)") {
    val root = mkTree()
    val rows = FileInventory.scan(spark, root.toString).orderBy("file").collect()
    assert(rows.map(_.getAs[String]("file")).toSeq ==
      Seq("a/x/Site.shp", "a/x/UPPER.SHP", "b/dup.shp"))
    assert(rows.head.getAs[String]("md5") == md5hex("site-bytes".getBytes))
    assert(rows.head.getAs[Long]("size") == "site-bytes".length.toLong)
    // duplicate content -> equal hashes, distinct ino surrogates
    assert(rows(0).getAs[String]("md5") == rows(2).getAs[String]("md5"))
    assert(rows(0).getAs[Long]("ino") != rows(2).getAs[Long]("ino"))
    // ord is a dense 0-based lexicographic rank
    assert(rows.map(_.getAs[Long]("ord")).toSeq == Seq(0L, 1L, 2L))
  }

  /** Bytes the tasks of the jobs `f` runs report as read (input metrics). */
  private def bytesRead(f: => Unit): Long = {
    val n = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) n.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { f; ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("scan reads each file once; syncCategories reads none") {
    val root = Files.createTempDirectory("graft-read-once")
    val rnd = new scala.util.Random(5)
    val file = 32 * 1024
    for (d <- Seq("a", "a/x", "b"); i <- 0 until 4) {
      val p = root.resolve(s"$d/f$i.shp")
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill(file)(rnd.nextInt(256).toByte))
      Files.write(root.resolve(s"$d/f$i.dbf"), Array.fill(file)(1.toByte))
    }
    val tree = 12L * file
    val scanned = bytesRead { FileInventory.scan(spark, root.toString).count() }
    assert(scanned == tree, s"scan read $scanned bytes of a $tree-byte tree")

    val client = new InMemoryGatherClient(spark)
    val dw = new DataWarehouseSync(spark, GraftConfig(root.toString), client)
    val cats = bytesRead { dw.syncCategories() }
    assert(client.categories.count() == 3) // files/a, files/a/x, files/b
    // input metrics count reads of Spark's own cached blocks too (here the
    // folder rows); binaryFile reads whole files, so reading any would add
    // `file` bytes
    assert(cats < file, s"syncCategories read $cats bytes")
  }

  test("listing packs a skewed tree as Spark's own open cost would") {
    // one 1 MB file among 100 of 100 bytes: their mean (~10 KB) as the
    // open cost would split the small files into 15 read partitions
    val root = Files.createTempDirectory("graft-skewed")
    Files.write(root.resolve("big.shp"), new Array[Byte](1 << 20))
    (1 to 100).foreach(i => Files.write(root.resolve(s"f$i.shp"), new Array[Byte](100)))
    GraftSession.scoped(spark, "spark.sql.files.openCostInBytes" -> "1024",
        "spark.sql.files.maxPartitionBytes" -> "65536") { s =>
      val listed = FileInventory.listing(s, root.toString).rdd.getNumPartitions
      val plain = s.read.format("binaryFile").option("pathGlobFilter", "*.shp")
        .load(root.toString).rdd.getNumPartitions
      // the big file alone, then 58 and 42 small files
      assert(listed == plain && listed == 3, s"listing $listed, Spark's own $plain")
    }
  }

  test("scan feeds the sync pipeline end-to-end (scan -> dedup -> match)") {
    val root = mkTree()
    val files = FileInventory.scan(spark, root.toString)
    val marked = graft.sync.Dedup.markDuplicates(files)
    assert(marked.filter($"alias".isNotNull).count() == 1) // dup.shp or Site.shp
  }

  test("K5: _toSql faithful single-statement render (DW.js:744-755)") {
    val rows = Seq(
      Row("files", "files/Ward", "Ward"),
      Row("files/ward", "files/Ward/GIS", "GIS"))
    val sql = Actions.toSqlInsert(rows.map(r =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array(r(0), r(1), r(2)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("category",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("short_name",
            org.apache.spark.sql.types.StringType))))))
    assert(sql.startsWith("INSERT INTO $tablename (type, name, metadata, shortName) VALUES ("))
    assert(sql.contains("\"files\", \"files/Ward\", \"{\"iam\":\"gatherbot\",\"selectable\":false,\"editable\":false}\", \"Ward\""))
    assert(sql.endsWith(");"))
    assert(sql.contains("), \n (")) // the reference's row separator
  }
}
