package graft

/** Plan inspector: print the formatted physical plan and wall time of
  * one registered query. Usage:
  *   sbt "runMain graft.Explain <queryName> [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Engine.localSession(defaultCpus = 8)
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    // match Bench semantics exactly: query CONSTRUCTION (eager
    // materializations included) and full output materialization both
    // inside the timer — count() would let Catalyst prune under it
    def run(tag: String): Unit = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      println(f"[explain] $name $tag time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    run("cold")
    run("warm")
    spark.stop()
  }
}
