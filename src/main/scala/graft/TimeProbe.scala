package graft

/** Phase-attribution instrument for one entry (measurement only — guide
  * §1: decide planning-vs-execution before touching an operator). For
  * each named entry: time to BUILD the DataFrame (driver-side work in
  * the entry function, incl. any bounded collects / memo builds), time
  * to PLAN (force `executedPlan`), and time to EXECUTE (noop sink), run
  * twice so the second row shows the warm-memo steady state Bench
  * actually bills. Usage:
  * `graft.TimeProbe <sfDir> name1 name2 ...`
  */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    names.foreach { n =>
      (1 to 2).foreach { pass =>
        val (df, tBuild) = t(SparkEntry.queries(n)(spark, sfDir))
        val (_, tPlan) = t(df.queryExecution.executedPlan)
        val (_, tExec) =
          t(df.write.format("noop").mode("overwrite").save())
        println(f"[probe] $n pass$pass build=$tBuild%.2f plan=$tPlan%.2f " +
          f"exec=$tExec%.2f")
      }
    }
    spark.stop()
  }
}
