package perfbench

import perfbench.Harness.{Args, PassRun}
import scala.collection.mutable

/** A span at a layer boundary. Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, trace: String, kind: String,
                      layer: String, name: String, startUs: Long, endUs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def interval: (Long, Long) = (startUs, endUs)
}

/** Turns the recorded passes into the end-to-end metrics (untraced
  * run) or the per-layer metrics, spans and self-time roll-up (traced
  * run), and writes `<work>/result.json`. */
final case class Report(a: Args, setupS: Seq[Double], passes: Seq[PassRun],
                        failures: Seq[String], attempted: Long) {

  private val MiB = 1024.0 * 1024.0
  val Layers: Seq[String] = Seq("harness", "operators", "engine", "catalyst",
    "exec", "streaming")

  /** Timed passes: every pass after the cold and warm-up ones. */
  private def warm(traced: Boolean): Seq[PassRun] =
    passes.drop(1 + Report.WarmupPasses).filter(_.traced == traced)

  def endToEnd(): (Seq[(String, Double, String)], Seq[String]) = {
    val timed = warm(traced = false)
    val samples = timed.flatMap(_.queries.map(_.wallS))
    val tailP = Stats.tailPercentile(samples.size)
    val passS = Stats.median(timed.map(_.wallS))
    // the cold pass over a warm one of the same JVM: the host's speed,
    // which moves every timing of a run alike, divides out
    val metrics = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("first_pass_s", passes.head.wallS, "s"),
      ("pass_s", passS, "s"),
      ("first_pass_ratio", passes.head.wallS / passS, "ratio"),
      ("query_p50_s", Stats.median(samples), "s"),
      ("live_heap_peak_mb", passes.map(_.heapPeakBytes).max / MiB, "MB"))
    val triggers = timed.flatMap(_.triggers).map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val notes = Seq(
      f"fail_ratio ${failures.size.toDouble / attempted}%.4f ratio (${failures.size} of $attempted)",
      if (tailP > 50) f"query_p${tailP}_s ${Stats.percentile(samples, tailP)}%.4f s (highest percentile with >= 10 of ${samples.size} samples beyond it)"
      else s"no percentile above the median has >= 10 of ${samples.size} samples beyond it",
      f"setup_s runs: ${setupS.map(x => f"$x%.3f").mkString(" ")}",
      f"pass walls: ${passes.map(p => f"${p.wallS}%.3f").mkString(" ")} (cold, " +
        s"${Report.WarmupPasses} warm-up, ${timed.size} timed)") ++
      (if (triggers.isEmpty) Nil
       else Seq(f"trigger_p50_ms ${Stats.median(triggers)}%.1f ms, trigger_max_ms " +
         f"${triggers.max}%.1f ms over ${triggers.size} micro-batches"))
    (metrics, notes)
  }

  /** Spans of one traced pass: pass > query > construct | plan | exec,
    * with the catalyst phases, micro-batches and jobs under the part
    * that ran them. */
  def spans(p: PassRun): Seq[Span] = {
    val t = p.trace.get
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, trace: String, kind: String, layer: String,
            name: String, s: Long, e: Long, attrs: Map[String, Any] = Map.empty): Int = {
      out += Span(out.size, parent, trace, kind, layer, name, s, e, attrs)
      out.size - 1
    }
    val qs = p.queries
    val pass = add(-1, s"pass${p.index}", "pass", "harness", s"pass${p.index}",
      qs.head.startUs, qs.last.endUs)
    val jobsByPart = t.jobs.groupBy(_.part)
    qs.foreach { q =>
      val tr = s"${p.index}/${q.name}"
      val qid = add(pass, tr, "query", "harness", q.name, q.startUs, q.endUs)
      val c = add(qid, tr, "construct", "operators", q.name, q.startUs, q.constructUs)
      val pl = add(qid, tr, "plan", "catalyst", q.name, q.constructUs, q.planUs)
      val ex = add(qid, tr, "exec", "exec", q.name, q.planUs, q.endUs)
      // the frame is analyzed while fn builds it; optimization and
      // planning run when the harness forces the executed plan
      q.phases.foreach { case (ph, (s, e)) =>
        add(if (ph == "analysis") c else pl, tr, ph, "catalyst", q.name, s, e)
      }
      val batches = p.triggers
        .filter(b => b.startUs >= q.startUs && b.startUs < q.constructUs)
        .map { b =>
          val end = b.startUs + b.durations.getOrElse("triggerExecution", 0L) * 1000
          (add(c, tr, "micro_batch", "streaming", b.queryId, b.startUs, end,
            Map("input_rows" -> b.inputRows)), b.startUs, end)
        }
      Seq("construct" -> c, "exec" -> ex).foreach { case (part, pid) =>
        jobsByPart.getOrElse(s"$tr/$part", Nil).foreach { j =>
          val parent = batches.find { case (_, s, e) => j.startUs >= s && j.startUs < e }
            .map(_._1).getOrElse(pid)
          add(parent, tr, "job", j.layer, s"job${j.id}", j.startUs, j.endUs,
            Map("tasks" -> j.tasks, "task_run_ms" -> j.runMs,
              "task_cpu_ms" -> j.cpuNs / 1000000))
        }
      }
    }
    out.toSeq
  }

  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map(s => s.id -> Stats.selfTime(s.interval,
      kids.getOrElse(s.id, Nil).map(_.interval))).toMap
  }

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(p: PassRun, sp: Seq[Span]): Map[String, Double] = {
    val t = p.trace.get
    val qs = p.queries
    val jobs = t.jobs
    val constructJobs = jobs.filter(_.part.endsWith("/construct"))
    def phase(n: String) = qs.map(_.phases.get(n).fold(0L) { case (s, e) => e - s }).sum / 1e6
    def dur(k: String) = p.triggers.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val lastPerStream = p.triggers.groupBy(_.queryId).values.map(_.maxBy(_.startUs))
    val trig = p.triggers.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val noTask = qs.map { q =>
      val inQ = t.taskIntervals.map { case (s, e) => (math.max(s, q.startUs), math.min(e, q.endUs)) }
      (q.endUs - q.startUs) - Stats.unionLength(inQ)
    }.sum / 1e6
    val self = selfTimes(sp)
    val coverage = sp.filter(_.kind == "query").map { q =>
      val parts = sp.filter(s => s.parent == q.id).map(_.interval)
      if (q.endUs == q.startUs) 1.0
      else Stats.unionLength(parts).toDouble / (q.endUs - q.startUs)
    }
    val taskRunS = jobs.map(_.runMs).sum / 1e3
    Map(
      "sources.input_rows" -> jobs.map(_.inputRows).sum.toDouble,
      "sources.input_mb" -> jobs.map(_.inputBytes).sum / MiB,
      "sources.one_task_scan_stages" -> t.oneTaskScanStages.toDouble,
      "operators.construct_s" -> qs.map(q => q.constructUs - q.startUs).sum / 1e6,
      "operators.construct_jobs" -> constructJobs.size.toDouble,
      "operators.construct_task_s" -> constructJobs.map(_.runMs).sum / 1e3,
      "engine.shared_builds" -> p.sharedBuilds.toDouble,
      "engine.shared_peak" -> p.sharedPeak.toDouble,
      "engine.storage_peak_mb" -> p.storagePeakBytes / MiB,
      "engine.sweep_s" -> p.sweepUs / 1e6,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.plan_nodes" -> qs.map(_.planNodes).sum.toDouble,
      "catalyst.exchanges" -> qs.map(_.exchanges).sum.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> t.stages.toDouble,
      "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "exec.retried_tasks" -> jobs.map(_.retried).sum.toDouble,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "exec.core_util" -> taskRunS / (p.wallS * a.cpus),
      "exec.task_overhead_s" -> jobs.map(_.overheadMs).sum / 1e3,
      "exec.no_task_s" -> noTask,
      "exec.stage_skew_s" -> t.stageTaskMs.filter(_.nonEmpty).map { ms =>
        ms.max - Stats.median(ms.map(_.toDouble)) }.sum / 1e3,
      "exec.shuffle_read_mb" -> jobs.map(_.shuffleReadBytes).sum / MiB,
      "exec.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / MiB,
      "exec.spill_mb" -> jobs.map(_.spillBytes).sum / MiB,
      "exec.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "exec.output_rows" -> qs.map(_.rows).sum.toDouble,
      "streaming.triggers" -> p.triggers.size.toDouble,
      "streaming.empty_triggers" -> p.triggers.count(_.inputRows == 0).toDouble,
      "streaming.input_rows" -> p.triggers.map(_.inputRows).sum.toDouble,
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.state_rows" -> lastPerStream.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastPerStream.map(_.stateBytes).sum / MiB,
      "streaming.state_commit_ms" -> p.triggers.map(_.stateCommitMs).sum.toDouble,
      "streaming.trigger_p50_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
      "streaming.trigger_max_ms" -> (if (trig.isEmpty) 0.0 else trig.max),
      "jvm.gc_s" -> qs.map(_.gcMs).sum / 1e3,
      "trace.span_coverage" -> (if (coverage.isEmpty) 1.0 else coverage.min)) ++
      Layers.map(l => s"selftime.${l}_s" ->
        sp.filter(_.layer == l).map(s => self(s.id)).sum / 1e6)
  }

  def perLayer(): (Seq[(String, Double, String)], Seq[String]) = {
    val traced = passes.filter(_.traced)
    val spansOf = traced.map(p => p.index -> spans(p)).toMap
    writeSpans(traced.flatMap(p => spansOf(p.index)))
    val warmTraced = warm(traced = true)
    val per = warmTraced.map(p => layerMetrics(p, spansOf(p.index)))
    val keys = per.head.keys.toSeq.sorted
    val cold = passes.head
    val untracedWall = Stats.median(warm(traced = false).map(_.wallS))
    val merged = keys.map(k => k -> Stats.median(per.map(_(k)))) ++ Seq(
      "catalyst.codegen_compiles" -> cold.codegenCompiles.toDouble,
      "jvm.jit_s" -> cold.jitMs / 1e3,
      "trace.overhead" -> (Stats.median(warmTraced.map(_.wallS)) / untracedWall - 1))
    // counts that must not depend on query order: every traced pass
    // ran its own permutation
    val orderFree = Seq("engine.shared_builds", "exec.output_rows").filter { k =>
      per.map(_(k)).distinct.size > 1
    }
    val rollup = Layers.map { l =>
      f"  $l%-10s ${Stats.median(per.map(_(s"selftime.${l}_s")))}%8.3f s"
    }
    val notes = Seq(s"self time per layer, median of ${per.size} traced timed passes:") ++
      rollup ++ orderFree.map(k => s"ORDER-DEPENDENT COUNT $k: ${per.map(_(k)).mkString(" ")}")
    (merged.map { case (k, v) => (k, v, Report.unit(k)) }, notes)
  }

  private def writeSpans(sp: Seq[Span]): Unit = {
    val dir = new java.io.File(a.work, "spans")
    dir.mkdirs()
    val self = selfTimes(sp)
    val lines = sp.map { s =>
      Json.render(Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "layer" -> s.layer, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id)) ++ s.attrs)
    }
    java.nio.file.Files.writeString(
      new java.io.File(dir, s"${a.workload}-seed${a.seed}.jsonl").toPath,
      lines.mkString("", "\n", "\n"))
  }

  def write(): Unit = {
    val (metrics, notes) = if (a.trace) perLayer() else endToEnd()
    val body = Json.render(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size.toLong,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "passes" -> passes.size,
      "notes" -> notes,
      "failures" -> failures))
    java.nio.file.Files.writeString(new java.io.File(a.work, "result.json").toPath, body)
  }
}

object Report {
  /** Passes after the cold one that no metric uses: pass times still
    * fall over them while the JIT settles. */
  val WarmupPasses = 1

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_mb") => "MB"
    case "exec.core_util" | "trace.overhead" | "trace.span_coverage" => "ratio"
    case _ => "count"
  }
}
