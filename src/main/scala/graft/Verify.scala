package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — one raw tab or CR in an oracle SQL string would
    * otherwise make the whole oracle_sql.json unparseable.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional name filter for local iteration (the driver never sets it,
    // so per-round dumps always cover the full set) — same contract as
    // Bench's SPARK_GRAFT_ONLY.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Divergence-diagnosis dump (r11 verdict item 4): for the named
    // entries, ALSO write the result as a single header'd CSV next to
    // the parquet, plus the Spark/JVM versions — when a driver-red/
    // mirror-green split happens, the next session diffs CSV cells
    // instead of guessing what the other environment saw. The driver
    // never sets this; tools/compare.py --dump writes the DuckDB side.
    val dump = sys.env.get("SPARK_GRAFT_DUMP_CSV")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    if (dump.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/versions_spark.txt"),
        s"spark=${spark.version}\njava=${System.getProperty("java.version")}\n" +
          s"scala=${scala.util.Properties.versionNumberString}\n")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        if (dump(name))
          df.coalesce(1).write.mode("overwrite").option("header", "true")
            .csv(s"$outDir/${name}_spark_csv")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
