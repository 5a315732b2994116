package graft

/** Bulk plan capture for the optimization round's evidence trail:
  * write each named query's `.explain("formatted")` output to
  * `<outDir>/<query>_<tag>.txt` in ONE JVM (graft.Explain costs an
  * sbt+Spark launch per query). Usage:
  *   sbt "runMain graft.PlanDump <outDir> <tag> <q1,q2,...>"
  * Plans are built (not executed); eager `Engine.materialize*` inside
  * a query's fn still runs, exactly as in Bench construction.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.localSession(defaultCpus = 32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $name ($tag)")
    }
    spark.stop()
  }
}
