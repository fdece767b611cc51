package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * All loaders return plain DataFrames so Catalyst can push filters and
  * prune columns into the Parquet scans. The only impedance mismatch is
  * `events.ts`, whose physical type has varied across fixture
  * generations: TIMESTAMP(NANOS) (read as nanosecond longs via
  * `spark.sql.legacy.parquet.nanosAsLong`, then floored to microseconds
  * exactly like DuckDB's `CAST(ts AS TIMESTAMP)`) or
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) (inferred as
  * TIMESTAMP_NTZ, cast to the session-zone TimestampType — value-identical
  * under the engine-wide UTC session zone). [[normalizeTs]] folds both
  * generations to the same microsecond TimestampType column so every
  * consumer computes on one type.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The ns-long `ts` column -> microsecond TimestampType. Integer
    * division — `/` would promote to DOUBLE and ns-since-epoch (~1.7e18)
    * exceeds double's 2^53 integer precision (±1µs drift). Shared by the
    * batch loader and both streaming read paths so the precision rule
    * lives in exactly one place.
    */
  def nsTsToMicros: org.apache.spark.sql.Column =
    timestamp_micros(expr("ts div 1000"))

  /** Fold either `ts` generation (ns-long / TIMESTAMP_NTZ µs) to the
    * session-zone microsecond TimestampType. Shared by the batch loader
    * and the streaming read path.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", nsTsToMicros)
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Make `spark` read TIMESTAMP(NANOS) parquet columns as nanosecond
    * longs (`spark.sql.legacy.parquet.nanosAsLong`). This is the one conf
    * graft writes into a caller's session rather than a
    * [[graft.GraftSession.scoped]] clone: it must hold when the scan
    * executes, in whichever session runs the consuming plan, and Spark
    * 4.1.2's `ParquetOptions` has no reader option for it.
    */
  def readNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** `events` with `ts` normalized to a microsecond timestamp. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    readNanosAsLong(spark)
    normalizeTs(table(spark, dir, "events"))
  }
}
