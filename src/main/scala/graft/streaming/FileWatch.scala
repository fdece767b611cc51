package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1 streaming variant + ST2 — the chokidar watch (DW.js:32) as a
  * `binaryFile` file-source stream.
  *
  * `Trigger.AvailableNow` reproduces the reference's idle-barrier snapshot
  * (scan what exists, then emit one quiesced inventory, DW.js:639-659);
  * swapping in `Trigger.ProcessingTime` turns the same plan into a true
  * continuous watch that picks up newly-arrived files per micro-batch.
  */
object FileWatch {

  private val sinkId = new AtomicInteger(0)

  private def inventoryStream(spark: SparkSession, root: String,
                              glob: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(graft.sources.FileInventory.binaryFileSchema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(root)
      .select(
        graft.sources.FileInventory.relativePath(root).as("file"),
        md5(col("content")).as("md5"),
        col("length").as("size"))

  /** Stream the file inventory under `root` (S2 suffix pushdown via
    * pathGlobFilter, S3 md5, S5 relative path) and return the quiesced
    * snapshot after AvailableNow terminates.
    */
  def snapshot(spark: SparkSession, root: String,
               glob: String = "*.{shp,SHP}"): DataFrame = {
    val stream = inventoryStream(spark, root, glob)
    val name = s"graft_watch_sink_${sinkId.incrementAndGet()}"
    val q = stream.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(180000L)) {
      q.stop()
      throw new IllegalStateException(
        s"file-watch stream $name did not finish within 180s; aborting " +
          "instead of returning a partial memory sink")
    }
    spark.table(name).orderBy("file")
  }

  /** ST1's true continuous form — the reference's indefinite chokidar
    * watch loop (DW.js:32: the daemon never exits; each idle cycle picks
    * up whatever arrived). Same plan as [[snapshot]], but under
    * `Trigger.ProcessingTime`: the query keeps polling `root`, each
    * micro-batch appending files that arrived since the last one. Returns
    * the running query plus the memory-sink table name carrying the
    * accumulated inventory; the caller owns `stop()`.
    */
  def watch(spark: SparkSession, root: String,
            glob: String = "*.{shp,SHP}",
            intervalMs: Long = 500L): (StreamingQuery, String) = {
    val name = s"graft_watch_sink_${sinkId.incrementAndGet()}"
    val q = inventoryStream(spark, root, glob).writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
    (q, name)
  }
}
