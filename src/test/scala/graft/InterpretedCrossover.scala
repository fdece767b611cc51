package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.sources.FileInventory
import graft.sync.Incremental

/** The measurements behind [[GraftSession.InterpretedRows]]: steady-cycle
  * calls over n files, timed with generated code and on Spark's
  * interpreted path. The codegen cache is emptied before each run, as a
  * steady sync cycle finds it, and the two modes alternate. Prints per n
  * and call the rows [[GraftSession.knownRows]] counts for the call,
  * every run's seconds, the median of each mode and its most compiles in
  * a run.
  *
  *  - `incremental`: `Incremental.diffActions` plus `updateLedger` over
  *    parquet snapshots of n files with 1% churn each way.
  *  - `sync`: `DataWarehouseSync.syncFilesystem` plus `syncCategories`
  *    over a tree of n files (100 to a folder) against an in-memory remote
  *    that an import has brought in line with the tree, each run after
  *    churning 1% of the files (a quarter each edited, moved, deleted and
  *    created), each call timed on its own. The known rows are the
  *    ones both calls are sized by: the tree's files plus the remote's
  *    projects and categories.
  *
  * {{{sbt "Test/runMain graft.InterpretedCrossover sync 10000 100000"}}}
  */
object InterpretedCrossover {

  private val Reps = 3

  private val Compiled = Seq("spark.sql.codegen.factoryMode" -> "FALLBACK")
  private val Interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sizes = args.tail.map(_.toLong).toSeq
    val dir = Files.createTempDirectory("graft-crossover")
    println("call\tn\tknown_rows\tcodegen_runs_s\tinterpreted_runs_s\tcodegen_s\t" +
      "interpreted_s\tcodegen_compiles\tinterpreted_compiles")
    for (n <- sizes) {
      val at = dir.resolve(n.toString)
      val calls = args.head match {
        case "incremental" => incremental(spark, n, at.toString)
        case "sync" => sync(spark, n, at)
      }
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def secs(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
      for ((call, known, (codegen, interpreted)) <- calls)
        println(s"$call\t$n\t$known\t${secs(codegen.map(_._1))}\t" +
          s"${secs(interpreted.map(_._1))}\t" +
          f"${median(codegen.map(_._1))}%.3f\t${median(interpreted.map(_._1))}%.3f\t" +
          s"${codegen.map(_._2).max}\t${interpreted.map(_._2).max}")
      org.apache.commons.io.FileUtils.deleteDirectory(at.toFile)
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Each rep's (seconds, compiles). */
  private type Runs = Seq[(Double, Long)]

  /** `Reps` reps, each running mode 0 (codegen) and then mode 1
    * (interpreted): the codegen cache emptied, `prepare(mode, rep)`, then
    * each of `calls` timed in turn. Per call, the codegen and the
    * interpreted runs.
    */
  private def alternate(prepare: (Int, Int) => Unit)
                       (calls: (Int => Unit)*): Seq[(Runs, Runs)] = {
    // Spark's codegen cache is private: reach it reflectively
    val cache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    val evict = cache.getClass.getMethod("invalidateAll")
    val reps = (1 to Reps).map(rep => Seq(0, 1).map { mode =>
      evict.invoke(cache)
      prepare(mode, rep)
      calls.map { call =>
        val c0 = compiles()
        val t0 = System.nanoTime()
        call(mode)
        ((System.nanoTime() - t0) / 1e9, compiles() - c0)
      }
    })
    calls.indices.map(c => (reps.map(_(0)(c)), reps.map(_(1)(c))))
  }

  private def incremental(spark: SparkSession, n: Long, at: String) = {
    write(spark, n, at)
    val runs = alternate((_, _) => ()) { mode =>
      GraftSession.scoped(spark, Seq(Compiled, Interpreted)(mode): _*) { s =>
        def read(name: String) = s.read.parquet(s"$at/$name")
        noop(Incremental.diffActions(read("prev"), read("curr")))
        noop(Incremental.updateLedger(read("ledger"), read("pass1"), 2L))
      }
    }
    Seq(("diffActions+updateLedger", GraftSession.knownRows(
      spark.read.parquet(s"$at/prev"), spark.read.parquet(s"$at/curr")), runs.head))
  }

  private def sync(spark: SparkSession, n: Long, at: Path) = {
    val root = at.resolve("tree")
    val live = ArrayBuffer.empty[Path]
    def put(p: Path, body: String): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes)
    }
    // 100 files to a folder, 100 folders to a parent; one file in 50
    // duplicates its neighbour's content
    (0L until n).foreach { i =>
      val p = root.resolve(f"d${i / 10000}%03d/e${i / 100 % 100}%02d/f$i%09d.shp")
      put(p, s"body ${if (i % 50 == 1) i - 1 else i}")
      live += p
    }
    val client = new InMemoryGatherClient(spark)
    val config = GraftConfig(root.toString, rootCategory = "files")
    val imported = new DataWarehouseSync(spark, config, client)
    imported.syncFilesystem()
    imported.syncCategories()
    val rnd = new scala.util.Random(n)
    val syncs = Seq(Compiled, Interpreted).map(c =>
      GraftSession.scoped(spark, c: _*)(s => new DataWarehouseSync(s, config, client)))
    def churn(mode: Int, rep: Int): Unit =
      (0 until math.max(1L, n / 400).toInt).foreach { m =>
        val tag = s"${rep}_${mode}_$m"
        put(live(rnd.nextInt(live.size)), s"edited $tag")
        val from = rnd.nextInt(live.size)
        val to = live(from).resolveSibling(s"moved$tag.shp")
        Files.move(live(from), to)
        live(from) = to
        val gone = rnd.nextInt(live.size)
        Files.delete(live(gone))
        live(gone) = live.last
        live.remove(live.size - 1)
        val made = live(rnd.nextInt(live.size)).resolveSibling(s"new$tag.shp")
        put(made, s"new $tag")
        live += made
      }
    val runs = alternate(churn)(mode => syncs(mode).syncFilesystem(),
      mode => syncs(mode).syncCategories())
    val known = GraftSession.knownRows(FileInventory.listing(spark, root.toString),
      client.listProjects(), client.listCategories())
    Seq(("syncFilesystem", known, runs(0)), ("syncCategories", known, runs(1)))
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** prev and curr snapshots of n files (curr: 1% deleted, 1% renamed,
    * 1% edited, 1% created), curr's pass 1 and the ledger after prev's.
    */
  private def write(spark: SparkSession, n: Long, at: String): Unit = {
    def file(id: org.apache.spark.sql.Column) =
      format_string("d%03d/f%09d.shp", id % 997, id)
    val ids = spark.range(n)
    val prev = ids.select(file(col("id")).as("file"),
      md5(col("id").cast("string")).as("md5"), col("id").as("ino"))
    val k = col("id") % 100
    val curr = ids.filter(k =!= 1).select(
      when(k === 2, concat(lit("moved/"), file(col("id")))).otherwise(file(col("id")))
        .as("file"),
      when(k === 3, md5(concat(col("id").cast("string"), lit("x"))))
        .otherwise(md5(col("id").cast("string"))).as("md5"),
      col("id").as("ino"))
      .unionByName(spark.range(n, n + n / 100).select(file(col("id")).as("file"),
        md5(col("id").cast("string")).as("md5"), col("id").as("ino")))
    def pass1(snap: DataFrame) = snap.select(col("file"), col("md5"), col("ino"),
      col("ino").as("project"), lit("exactMatch").as("match"))
    prev.write.parquet(s"$at/prev")
    curr.write.parquet(s"$at/curr")
    pass1(curr).write.parquet(s"$at/pass1")
    Incremental.updateLedger(Incremental.emptyLedger(spark),
      pass1(spark.read.parquet(s"$at/prev")), 1L).write.parquet(s"$at/ledger")
  }
}
