package graft.streaming

import java.nio.file.Files
import graft.SparkSpec

/** ST1/ST2 — streaming variants agree with their batch twins. */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling agg (AvailableNow) == batch tumbling agg (ST2 snapshot)") {
    val stream = EventStream.tumblingHourly(spark, sf001).collect()
    val batch = graft.ext.Events.tumblingHourly(spark, sf001).collect()
    assert(stream.toSeq.map(_.toSeq) == batch.toSeq.map(_.toSeq))
  }

  // Spark clones the session for every query it starts, and that clone
  // registers a listener bus of its own; a run must add no other.
  test("repeated stream runs add at most one context listener each") {
    def listeners: Seq[String] =
      org.apache.spark.ListenerBusDrain.listeners(spark.sparkContext)
    val run = graft.SparkEntry.queries("stream_tumbling")
    val counts = (1 to 4).map { _ => run(spark, sf001).collect(); listeners.size }
    val byClass = listeners.groupBy(identity).map { case (c, l) => s"$c ${l.size}" }
    val seen = s"listeners after each run: ${counts.mkString(", ")}; " +
      s"by class: ${byClass.mkString(", ")}"
    info(seen)
    counts.sliding(2).foreach { case Seq(a, b) => assert(b - a <= 1, seen) }
  }

  test("session_window count matches gaps-and-islands session count") {
    val stream = EventStream.sessionWindows(spark, sf001)
    val batch = graft.ext.Events.sessionize(spark, sf001)
    assert(stream.count() == batch.count())
  }

  test("stream-static join == batch join; finite replay covers every event") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.streamStaticProfileJoin(spark, sf001)
    // every fixture event lands in exactly one (event_type, heavy) cell
    val total = graft.tables.Tables.events(spark, sf001).count()
    assert(stream.agg(sum("n")).head().getLong(0) == total)
    val batch = {
      val ev = graft.tables.Tables.events(spark, sf001)
      val prof = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
      ev.join(broadcast(prof), Seq("user_id"))
        .groupBy(col("event_type"), (col("user_total") >= 70).as("heavy_user"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
        .orderBy("event_type", "heavy_user")
    }
    assert(stream.collect().toSeq.map(_.toSeq) == batch.collect().toSeq.map(_.toSeq))
  }

  test("continuous watch (ProcessingTime): files arriving between micro-batches are picked up") {
    // ST1's actual indefinite-watch semantics (DW.js:32): the daemon never
    // exits; new arrivals surface in a later micro-batch of the SAME
    // running query — not a restart.
    val root = Files.createTempDirectory("graft-watch-cont")
    Files.write(root.resolve("first.shp"), "first".getBytes)
    val (q, table) = FileWatch.watch(spark, root.toString, intervalMs = 100L)
    try {
      def seen(): Set[String] = spark.table(table).collect()
        .map(_.getAs[String]("file")).toSet
      def awaitSeen(want: Set[String]): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (seen() != want && System.nanoTime() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50L)
        }
        assert(seen() == want, s"watch saw ${seen()}, wanted $want")
      }
      awaitSeen(Set("first.shp"))
      // the query is still running; drop two more files mid-watch
      Files.write(root.resolve("second.shp"), "second".getBytes)
      Files.write(root.resolve("third.SHP"), "third".getBytes)
      Files.write(root.resolve("ignored.txt"), "no".getBytes)
      awaitSeen(Set("first.shp", "second.shp", "third.SHP"))
      assert(q.isActive, "a continuous watch must not self-terminate")
    } finally q.stop()
  }

  test("file-watch snapshot: quiesced inventory of a temp dir (ST1+S1)") {
    val root = Files.createTempDirectory("graft-watch")
    Files.createDirectories(root.resolve("d"))
    Files.write(root.resolve("d/one.shp"), "one".getBytes)
    Files.write(root.resolve("d/two.shp"), "two".getBytes)
    Files.write(root.resolve("d/skip.txt"), "skip".getBytes)
    val snap = FileWatch.snapshot(spark, root.toString).collect()
    assert(snap.map(_.getAs[String]("file")).toSeq == Seq("d/one.shp", "d/two.shp"))
  }
}
