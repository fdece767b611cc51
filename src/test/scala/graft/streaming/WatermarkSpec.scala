package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermark semantics in append mode: windows finalize only once the
  * watermark passes, and rows arriving behind the watermark are dropped —
  * the late-data contract the batch oracles can't exercise.
  */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as a single parquet FILE at `target` (the streaming file
    * source wants flat files, not parquet output directories).
    */
  private def writeOneFile(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
    val tmp = Files.createTempDirectory("graft-wof").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val t = java.nio.file.Paths.get(target)
    Files.createDirectories(t.getParent)
    Files.move(part.toPath, t)
  }

  test("append-mode tumbling agg drops late rows behind the watermark") {
    val dir = Files.createTempDirectory("graft-late").toString
    // batch 1: hour-10 events + an hour-13 event that advances the
    // watermark (13:30 - 1h = 12:30 > 11:00 closes the 10:00 window)
    writeOneFile(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 1.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 13:30:00"), 1.0))
      .toDF("event_id", "ts", "value"), s"$dir/in/batch1.parquet")

    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w"), $"n")

    // memory sink cannot resume from a checkpoint; foreachBatch can
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def run(): Unit = {
      val q = stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => buf.add((r.getString(0), r.getLong(1))))
          ()
        }
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val emitted1 = {
      import scala.jdk.CollectionConverters._
      buf.asScala.toMap
    }
    // the 10:00 window is final (watermark 12:30 passed 11:00); the 13:00
    // window is still open and must NOT have been emitted
    assert(emitted1 == Map("2024-01-01 10:00:00" -> 2L))

    // batch 2: a LATE row for hour 10 (behind the 12:30 watermark) plus a
    // watermark-advancing row
    writeOneFile(Seq(
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:45:00"), 1.0), // late -> dropped
      (5L, java.sql.Timestamp.valueOf("2024-01-01 16:00:00"), 1.0))
      .toDF("event_id", "ts", "value"), s"$dir/in/batch2.parquet")

    buf.clear()
    run() // resumes the same checkpointed state
    val emitted2 = {
      import scala.jdk.CollectionConverters._
      buf.asScala.toMap
    }
    // 13:00 window closes with exactly 1 row; the late hour-10 row did not
    // resurrect or re-emit the 10:00 window
    assert(emitted2.get("2024-01-01 13:00:00").contains(1L))
    assert(!emitted2.contains("2024-01-01 10:00:00"))
  }

  test("dropDuplicatesWithinWatermark: state evicts at watermark, late rows drop") {
    val dir = Files.createTempDirectory("graft-wmdedup").toString
    // batch 1: A at 00:10 (state expires 01:10), W at 03:00 (expires 04:00,
    // and advances the watermark to 02:00 for the next batch) — written
    // before the stream is defined so the source path exists
    writeOneFile(Seq(
      ("A", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      ("W", java.sql.Timestamp.valueOf("2024-01-01 03:00:00")))
      .toDF("k", "ts"), s"$dir/in/batch1.parquet")
    val stream = spark.readStream
      .schema("k STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val q = stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => buf.add(r.getString(0)))
          ()
        }
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert {
      import scala.jdk.CollectionConverters._
      buf.asScala.toList.sorted == List("A", "W")
    }

    buf.clear()
    // batch 2 (watermark 02:00): A's state was evicted (expired 01:10), so
    // a duplicate A at 02:30 re-emits — the eviction proof; W's state is
    // alive (04:00), so W at 03:30 is suppressed; B at 01:00 is behind the
    // watermark and dropped outright.
    writeOneFile(Seq(
      ("A", java.sql.Timestamp.valueOf("2024-01-01 02:30:00")),
      ("W", java.sql.Timestamp.valueOf("2024-01-01 03:30:00")),
      ("B", java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("k", "ts"), s"$dir/in/batch2.parquet")
    run()
    assert {
      import scala.jdk.CollectionConverters._
      buf.asScala.toList == List("A")
    }
  }

  test("stateful ops run on the RocksDB state store (production provider)") {
    // HDFS-backed (default) keeps state on-heap; RocksDB spills per-key
    // state off-heap/on-disk — the provider a 100 TB stream actually runs.
    // Same plan, same results, only the provider conf changes.
    val dir = Files.createTempDirectory("graft-rocks").toString
    writeOneFile(Seq(
      ("A", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      ("A", java.sql.Timestamp.valueOf("2024-01-01 00:20:00")),
      ("B", java.sql.Timestamp.valueOf("2024-01-01 00:30:00")))
      .toDF("k", "ts"), s"$dir/in/batch1.parquet")
    graft.GraftSession.scoped(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { s =>
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = s.readStream
        .schema("k STRING, ts TIMESTAMP")
        .parquet(s"$dir/in")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("k")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => buf.add(r.getString(0)))
          ()
        }
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert {
        import scala.jdk.CollectionConverters._
        buf.asScala.toList.sorted == List("A", "B")
      }
    }
  }

  test("foreachBatch sink: per-epoch idempotent apply (batch ids observed once)") {
    val dir = Files.createTempDirectory("graft-feb").toString
    writeOneFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$dir/in/p1.parquet")
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    val q = spark.readStream.schema("id LONG, v STRING").parquet(s"$dir/in")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
        // idempotence hook: re-delivery of an epoch would overwrite, not append
        seen(epoch) = df.count()
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.values.sum == 2L)
    assert(seen.keySet.size == seen.size) // unique epochs
  }
}
