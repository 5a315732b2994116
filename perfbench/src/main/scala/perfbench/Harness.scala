package perfbench

import graft.{Engine, SparkEntry}
import graft.sources.Sources
import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop pipeline-pass benchmark: one client, one query at a
  * time. A pass calls every query of the workload once, in an order
  * permuted by the seed, each from an empty shared-frame registry.
  * Pass 0 is the cold pass, in the workload's declared order; the next
  * [[Report.WarmupPasses]] finish
  * JIT warm-up, and the passes after those are the timed ones.
  *
  * Usage (normally through run.py, which builds the classpath):
  * {{{
  *   Harness --workload mta_dbt --seed 1 --seconds 35 --trace 0
  *     --data <testdata root> --work <dir> --digests <file> [--pin <file>]
  * }}}
  * Writes `<work>/result.json`; with `--trace 1` also the span file
  * and the per-layer roll-up under `<work>/spans/`. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        digests: String, pin: Option[String]) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("digests"),
      m.get("pin"))
  }

  /** Session set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** No pass starts that could not end this long after JVM start. */
  val DeadlineS = 140

  /** Microsecond wall clock on the listener events' epoch, with
    * nanoTime resolution. */
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** One timed query: construct = the query's fn; plan = optimization
    * and physical planning of the returned frame; exec = running it
    * and hashing every output row. */
  final case class QueryRun(name: String, startUs: Long, constructUs: Long,
                            planUs: Long, endUs: Long, ok: Boolean,
                            rows: Long, gcMs: Long,
                            phases: Map[String, (Long, Long)],
                            planNodes: Int, exchanges: Int) {
    def wallS: Double = (endUs - startUs) / 1e6
  }

  final case class PassRun(index: Int, traced: Boolean, queries: Seq[QueryRun],
                           sharedBuilds: Int, sharedPeak: Int,
                           storagePeakBytes: Long, sweepUs: Long,
                           heapPeakBytes: Long, codegenCompiles: Long,
                           jitMs: Long, triggers: Seq[Trigger],
                           trace: Option[PassTrace]) {
    def wallS: Double = queries.map(_.wallS).sum
  }

  /** What the listeners recorded during one traced pass. */
  final case class PassTrace(jobs: Seq[JobRec], stages: Long,
                             oneTaskScanStages: Long,
                             stageTaskMs: Seq[Seq[Long]],
                             taskIntervals: Seq[(Long, Long)])

  def buildSession(a: Args, data: String, scratch: Option[String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val spark = scratch.fold(b)(p => b.config("spark.local.dir", p)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sources.testTables.foreach(t => Sources.table(spark, data, t).count())
    spark
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads(a.workload)
    val members = workload.members
    val data = s"${a.data}/${workload.scale}"
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val deadlineUs = jvmStartUs + DeadlineS * 1000000L
    val scratch = Engine.routeScratch()

    // set-up: session build with the extensions plus the source
    // warm-up scans, repeated; the first one counts from JVM start
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until Setups).foreach { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStartUs else nowUs()
      spark = buildSession(a, data, scratch)
      setupS += (nowUs() - t0) / 1e6
    }
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.streams.addListener(rec.streams)

    val fns = SparkEntry.queries
    val hashed = SparkEntry.oracleSql.keySet
    // pinning takes pass 0's digests; the later passes, in other
    // orders, must reproduce them
    var expected: Map[String, String] =
      if (a.pin.isDefined) Map.empty else Pinned.read(a.digests)
    val actual = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def runQuery(pass: Int, name: String): QueryRun = {
      attempted += 1
      val g0 = gcMs()
      val t0 = nowUs()
      var t1 = t0
      var t2 = t0
      var t3 = t0
      var rows = -1L
      var ok = false
      var phases = Map.empty[String, (Long, Long)]
      var nodes = 0
      var exchanges = 0
      try {
        sc.setLocalProperty(Recorder.PartKey, s"$pass/$name/construct")
        val df = fns(name)(spark, data)
        t1 = nowUs()
        sc.setLocalProperty(Recorder.PartKey, s"$pass/$name/exec")
        val qe = df.queryExecution
        qe.executedPlan
        t2 = nowUs()
        val d = Digest.of(qe.toRdd, df.schema)
        t3 = nowUs()
        rows = d.rows
        val got = d.render(withHash = hashed.contains(name))
        actual(name) = got
        expected.get(name) match {
          case Some(want) if want != got =>
            failures += s"$name: digest $got, pinned $want"
          case None if pass > 0 || a.pin.isEmpty =>
            failures += s"$name: no pinned digest"
          case _ => ok = true
        }
        phases = qe.tracker.phases.map { case (k, v) =>
          k -> (v.startTimeMs * 1000, v.endTimeMs * 1000) }
        val ns = planNodes(qe.executedPlan)
        nodes = ns.size
        exchanges = ns.count {
          case _: Exchange | _: ReusedExchangeExec => true
          case _ => false
        }
      } catch {
        case e: Throwable => failures += s"$name: ${e.toString.take(300)}"
      } finally sc.setLocalProperty(Recorder.PartKey, null)
      // a query that threw is timed up to here
      if (t3 == t0) t3 = nowUs()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      val r = QueryRun(name, t0, t1, math.max(t1, t2), t3, ok, rows, gcMs() - g0,
        phases, nodes, exchanges)
      System.err.println(f"perfbench pass=$pass%d query=$name%s wall=${r.wallS}%.3f " +
        f"construct=${(t1 - t0) / 1e6}%.3f plan=${(r.planUs - t1) / 1e6}%.3f " +
        f"exec=${(t3 - r.planUs) / 1e6}%.3f gc_ms=${r.gcMs}%d rows=$rows%d ok=$ok")
      r
    }

    def runPass(index: Int, traced: Boolean): PassRun = {
      // the cold pass runs the pipeline in its declared order, as a
      // fresh scheduled run does; the seed permutes every later pass
      val order = if (index == 0) members else Workloads.order(members, a.seed, index)
      Engine.clearShared()
      Engine.unpersistStale(spark)
      System.gc()
      rec.reset()
      rec.active = traced
      val seen = mutable.HashSet.empty[String]
      var builds = 0
      var peak = 0
      var storagePeak = 0L
      var sweepUs = 0L
      var heapPeak = 0L
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var jit = 0L
      val runs = order.map { name =>
        val j0 = jitMs()
        val r = runQuery(index, name)
        jit += jitMs() - j0
        val keys = Engine.sharedKeys()
        builds += (keys -- seen).size
        seen ++= keys
        peak = math.max(peak, keys.size)
        storagePeak = math.max(storagePeak,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
        val s0 = nowUs()
        Engine.unpersistStale(spark)
        sweepUs += nowUs() - s0
        System.gc()
        heapPeak = math.max(heapPeak,
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
        r
      }
      val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      ListenerBusDrain(sc)
      rec.active = false
      rec.synchronized {
        val trace = if (!traced) None else
          Some(PassTrace(rec.jobs.toList, rec.stages, rec.oneTaskScanStages,
            rec.stageTaskMs.values.map(_.toList).toList, rec.taskIntervals.toList))
        PassRun(index, traced, runs, builds, peak, storagePeak, sweepUs,
          heapPeak, codegen, jit, rec.triggers.toList, trace)
      }
    }

    // pass 0 is the cold pass and the warm-up passes follow it; the
    // timed passes follow until `seconds` have gone by. A traced run
    // alternates traced and untraced passes so the pair gives the
    // tracing overhead.
    val measureStartUs = nowUs()
    val minPasses = 1 + Report.WarmupPasses + 3
    val passes = mutable.ArrayBuffer.empty[PassRun]
    def tracedPass(i: Int) = a.trace && i % 2 == 0
    var stop = false
    while (!stop) {
      val i = passes.size
      passes += runPass(i, tracedPass(i))
      if (i == 0 && a.pin.isDefined) expected = actual.toMap
      val now = nowUs()
      val lastUs = (passes.last.wallS * 1e6).toLong
      val enough = passes.size >= minPasses &&
        now - measureStartUs >= (a.seconds * 1e6).toLong
      stop = enough || passes.size >= minPasses && now + 2 * lastUs > deadlineUs
    }
    spark.stop()

    a.pin.foreach(p => Pinned.write(p, expected))
    Report(a, setupS.toSeq, passes.toSeq, failures.toSeq, attempted).write()
    sys.exit(0)
  }
}
