package graft

/** Local mirror of the driver's t1 smoke gate: `SparkEntry.entry` on
  * sf0.001 must return > 0 rows. Run: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(false)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "t1 smoke gate: entry must return rows")
    spark.stop()
  }
}
