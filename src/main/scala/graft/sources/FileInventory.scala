package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.RangePartitioner
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SessionBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField,
  StructType, TimestampType}
import graft.GraftSession

/** S1-S5 — the file-inventory source: what the reference's chokidar watcher
  * + md5-file + fs.statSync pipeline produces (DW.js:32-63), restated as a
  * batch snapshot scan over Spark's `binaryFile` source.
  *
  * - S1 recursive scan: `recursiveFileLookup` (streaming variant in
  *   [[graft.streaming.FileWatch]]).
  * - S2 extension predicate: `pathGlobFilter` pushes the suffix test into
  *   the file *listing* — non-matching files are never opened, the exact
  *   analogue of the reference's filter-before-hash (DW.js:34-44), and
  *   stronger: a `.filter` on the path column after load would still read
  *   every file's bytes.
  * - S3 content hash: `md5(content)` — codegen'd built-in over the binary
  *   column.
  * - S4 stat enrichment: `length`/`modificationTime` come free from the
  *   source; `ino` has no portable equivalent so a deterministic surrogate
  *   is derived from the path hash (SURVEY.md §7.4#4).
  * - S5 relative path: strip the scan root prefix.
  *
  * At 100 TB: binaryFile scans parallelize per file; listing parallelizes
  * via the driver-side listing pool. For billions of tiny files the same
  * schema can be fed from an object-store inventory table instead — every
  * downstream operator only sees the (file, md5, size, ino, ord) relation.
  */
object FileInventory {

  /** binaryFile's fixed schema (streaming sources require it explicitly). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** S5 — the scan-root-relative path of a binaryFile `path` column.
    * The root is \Q...\E-quoted: a scan path containing regex
    * metacharacters (+, (, [, ...) must strip literally, not as a pattern.
    */
  def relativePath(root: String): Column =
    regexp_replace(col("path"),
      "^file:" + java.util.regex.Pattern.quote(root) + "/?", "")

  /** The files under `root` matching `glob` as a `binaryFile` relation,
    * listed once: its file index holds the listing, so
    * [[GraftSession.knownRows]] counts its rows without a job.
    *
    * When Spark packs files into read partitions it charges each file
    * `spark.sql.files.openCostInBytes` (4 MB) on top of its length, so a
    * tree of 4 KB files would get ~32 files per 128 MB partition and a
    * task per 32 files. This relation instead reads with an open cost of
    * the listing's mean file size, taken from the index, capped at
    * `spark`'s own open cost: a small tree splits into about one
    * partition per core, a large one keeps `maxPartitionBytes`
    * partitions, and a skewed one (a few huge files among many small
    * ones) is packed as it would be without the listing. The open cost is
    * a conf of the relation's own session (Spark sizes a file scan by
    * it), here a [[GraftSession.scoped]] clone; the DataFrame is
    * `spark`'s. Every reader of the tree ([[scan]], [[paths]],
    * [[inventory]]) reads through this relation.
    */
  def listing(spark: SparkSession, root: String,
              glob: String = "*.{shp,SHP}"): DataFrame = {
    val listed = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(root)
    listed.queryExecution.analyzed match {
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        val mean = h.location.sizeInBytes / math.max(1L, GraftSession.files(h))
        val openCost = math.min(mean,
          JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.openCostInBytes")))
        GraftSession.scoped(spark,
            "spark.sql.files.openCostInBytes" -> math.max(1L, openCost).toString) { s =>
          SessionBridge.ofPlan(spark, lr.copy(relation = h.copy()(s)))
        }
      case _ => listed
    }
  }

  /** Scan `root` for files matching `glob` (default: the reference's
    * `.shp` test, case handled by a double glob since globs are
    * case-sensitive). Output: file, md5, size, ino, ord — the
    * [[graft.sync]] input relation.
    */
  def scan(spark: SparkSession, root: String,
           glob: String = "*.{shp,SHP}"): DataFrame =
    enrich(listing(spark, root, glob), root)

  /** The relative paths (`file`) of a [[listing]] of `root`: `content` is
    * pruned, so no file is opened or hashed. Enough for anything that
    * needs only the tree's shape (the folder hierarchy,
    * [[graft.sync.Categories.folderCats]]).
    */
  def paths(listing: DataFrame, root: String): DataFrame =
    listing.select(relativePath(root).as("file"))

  /** Derive the (file, md5, size, ino, ord) sync input relation from a raw
    * binaryFile relation — shared by the batch [[scan]] and the per-batch
    * streaming path ([[graft.streaming.StreamingSync]]).
    *
    * Every file is read and hashed once, by the sort's shuffle, which the
    * zipWithIndex job runs before this returns (whenever the sort has more
    * than one partition). Later consumers read the shuffle's output, not
    * the files.
    */
  def enrich(raw: DataFrame, root: String): DataFrame = {
    val rel = relativePath(root)
    val base = raw.select(
      rel.as("file"),
      md5(col("content")).as("md5"),
      col("length").as("size"),
      // stable ino surrogate: 63-bit of xxhash64(path) (no real inode in
      // a distributed scan; sign-masked to stay positive like an inode)
      pmod(xxhash64(rel), lit(Long.MaxValue)).as("ino"))
    // Deterministic scan-order surrogate (the reference's array order is
    // fs-event arrival; we define lexicographic path order, §7.4#1).
    // Range-partitioned sort + zipWithIndex: distributed passes — NOT a
    // single-partition global window, which would serialize the scan at
    // scale. The range bounds are sampled from the listing alone (`content`
    // pruned, no file opened), so the sort's shuffle, run by the
    // zipWithIndex job, is the one pass that reads and hashes the files.
    // Keys are UTF-8 bytes in unsigned order: SQL's string order, which
    // String's own (UTF-16) order is not.
    implicit val utf8Order: Ordering[Array[Byte]] =
      (a, b) => java.util.Arrays.compareUnsigned(a, b)
    def key(r: Row): Array[Byte] = r.getString(0).getBytes(UTF_8)
    val spark = raw.sparkSession
    val byPath = new RangePartitioner(spark.sparkContext.defaultParallelism,
      raw.select(rel).rdd.map(r => (key(r), ())))
    val indexed = base.rdd.keyBy(key).repartitionAndSortWithinPartitions(byPath)
      .values.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(indexed, StructType(base.schema.fields :+
      StructField("ord", LongType, nullable = false)))
  }

  /** Inventory scan of arbitrary files (no extension filter) — metadata
    * only; column pruning means `content` is never read when the caller
    * doesn't select it or a derivative.
    */
  def inventory(spark: SparkSession, root: String,
                glob: String = "*"): DataFrame =
    listing(spark, root, glob)
      .select(
        regexp_replace(col("path"), "^file:", "").as("path"),
        col("length"),
        date_format(col("modificationTime"), "yyyy-MM-dd HH:mm:ss").as("mtime"))
}
