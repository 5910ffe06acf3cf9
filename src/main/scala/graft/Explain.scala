package graft

/** Ad-hoc plan inspector: `runMain graft.Explain <query> [sfDir] [aqe]`
  * prints the formatted physical plan of one registry query — the
  * local loop for plan work that PlanDump (the committed pins) sits on
  * top of. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val aqe = args.length > 2 && args(2) == "aqe"
    val spark = Session.builder("4").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).split("\n\n").head)
    graft.ops.SharedFrames.releaseAll()
    spark.stop()
  }
}
