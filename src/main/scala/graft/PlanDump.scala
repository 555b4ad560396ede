package graft

/** Dump `.explain("formatted")` per query to `<outDir>/<query><suffix>.txt`
  * — the optimization rounds' plan-evidence capture (guide §1: keep the
  * before/after physical plans next to the numbers). Query selection via
  * `SPARK_GRAFT_ONLY` (comma list; unset = all), SF dir via
  * `SPARK_GRAFT_SF_DIR`, suffix as the second arg (default "_after").
  * Uses the bench's session ([[LocalSession]]) so plans match what the
  * driver runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val suffix = if (args.length > 1) args(1) else "_after"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.selected().sortBy(_.name).foreach { case SparkEntry.GateQuery(n, run, _) =>
      try {
        val txt = run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$n$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"dumped $n")
      } catch {
        case e: Throwable => println(s"FAILED $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
