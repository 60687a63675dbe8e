package graftbench

import graft.search.Search
import graft.stencil.RightHandedSimplexStencil
import org.apache.spark.sql.SparkSession

import java.io.PrintWriter
import scala.collection.mutable
import scala.util.Random

/** The measurement loops of the three workloads and their metrics. */
object Workload {

  val TargetRows = Seq("q_triangles", "q_rag_retrieve_ivf", "q_bpe_apply",
    "q_sample_token_budget", "q_stream_join_agg")

  /** Every per-layer metric, in report order, with its unit. A layer the
    * workload does not run reports 0.
    */
  val PerLayerNames: Seq[(String, String)] = Seq(
    "spark.submit_us_per_wave" -> "us", "spark.wait_share" -> "ratio",
    "spark.wave_ms_p50" -> "ms", "spark.wave_ms_p99" -> "ms", "spark.jobs_per_wave" -> "count",
    "spark.task_deser_ms_per_wave" -> "ms", "spark.sched_delay_ms_p50" -> "ms",
    "spark.task_run_ms_per_wave" -> "ms", "spark.queue_fill" -> "ratio",
    "objective.busy_ms" -> "ms", "objective.occupancy" -> "ratio",
    "search.driver_us_per_eval" -> "us", "search.evals_per_search" -> "count",
    "search.waves_per_search" -> "count", "search.recenters_per_search" -> "count",
    "search.accept_ratio" -> "ratio", "search.deadline_overrun_ms_p50" -> "ms",
    "stencil.ns_per_step" -> "ns", "stencil.steps_per_search" -> "count") ++
    AnalyticsBench.Modules.flatMap { case (m, _) => QueryMetrics.map { case (k, u) => s"queries.$m.$k" -> u } } ++
    Seq("streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
      "streaming.query_planning_ms" -> "ms", "streaming.state_rows" -> "count",
      "streaming.state_mem_bytes" -> "bytes") ++
    TargetRows.map(r => s"row.$r.wall_ms" -> "ms") ++
    Seq("row.q_rag_retrieve_ivf.stages" -> "count")

  lazy val QueryMetrics: Seq[(String, String)] = Seq("build_ms" -> "ms", "plan_ms" -> "ms",
    "exec_ms" -> "ms", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_cpu_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_ms" -> "ms")

  private def layers(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- PerLayerNames.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    PerLayerNames.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }

  /** Whole passes over the workload's mix are run until the run's seconds
    * have elapsed, and never fewer than this. Searches on the free
    * objective vary most from one to the next, so they get two.
    */
  def minPasses(workload: String): Int = if (workload == "search_waves") 2 else 1

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------------- search

  def search(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      tracer: Option[Tracer], report: mutable.ArrayBuffer[String]): WorkloadResult = {
    val cases = SearchBench.mix(workload)
    val sleep = SearchBench.sleepMs(workload)
    val rng = new Random(seed)
    val runs = mutable.ArrayBuffer.empty[SearchRun]
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minPasses(workload) || elapsedS(t0) < seconds) {
      for (c <- cases) {
        val op = s"search${runs.length}"
        val t1 = System.nanoTime()
        runs += (try SearchBench.runOne(spark, c, rng, sleep, tracer, op)
        catch { case e: Exception =>
          report += s"FAILED search ${c.label}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          SearchRun(op, c.label, System.nanoTime() - t1, 0, ok = false, None)
        })
      }
      passes += 1
      Main.sampleLiveHeap()
    }

    val byCase = cases.map(c => c.label -> runs.filter(_.label == c.label).map(_.wallNs / 1e9).toSeq)
    val medians = byCase.map { case (_, ws) => Stats.median(ws) }
    // An operation of a search workload is one objective evaluation.
    val msPerEval = cases.map(c => Stats.median(runs.filter(_.label == c.label)
      .map(r => r.wallNs / 1e6 / math.max(1, r.evals)).toSeq))
    for ((label, ws) <- byCase) {
      val ev = runs.filter(_.label == label).map(_.evals)
      report += (f"search $label%-26s wall ${Stats.describe(ws, "s")} evals=${ev.mkString(",")}" +
        s" each=${ws.map(w => f"$w%.3f").mkString(",")}")
    }
    val walls = runs.map(_.wallNs / 1e9).toSeq
    report += (s"search converge_s (all searches) ${Stats.describe(walls, "s")}")
    val overruns = runs.flatMap(_.overrunMs).toSeq
    if (overruns.nonEmpty) report += (s"search deadline_overrun_ms ${Stats.describe(overruns, "ms")}")
    runs.filterNot(_.ok).foreach(r => report += (s"FAILED output check: search ${r.label}: ${r.problem}"))

    val perLayer = tracer.fold(layers(Map.empty))(t => layers(searchLayers(t, runs.toSeq,
      cases, spark.sparkContext.defaultParallelism, report)))
    WorkloadResult(timedStartMs,
      passS = medians.sum,
      opMsGeomean = Stats.geomean(msPerEval),
      throughput = runs.map(_.evals).sum / walls.sum,
      attempted = runs.length, failed = runs.count(!_.ok), perLayer = perLayer)
  }

  private def searchLayers(t: Tracer, runs: Seq[SearchRun], cases: Seq[SearchCase],
      cores: Int, report: mutable.ArrayBuffer[String]): Map[String, Double] = {
    t.drain()
    val inSearch = t.allJobs.filter(j => runs.exists(r => j.start >= r.start && j.start <= r.end))
    val jobIds = inSearch.map(_.id).toSet
    val tasks = t.tasks.filter(x => jobIds(t.jobs.jobOfStage(x.stage)))

    // Each wave runs one job: pair jobs with waves in submission order,
    // each job to the earliest unmatched wave whose interval contains it
    // (within the millisecond resolution of Spark's event times).
    val waves = runs.flatMap(_.waveSpans).sortBy(_._2)
    val free = mutable.LinkedHashMap(waves.map(w => w._1 -> w): _*)
    val parentOf = mutable.Map.empty[Int, Long]
    val slack = 1000000L
    for (j <- inSearch.sortBy(_.start)) {
      free.valuesIterator.find(w => w._2 - slack <= j.start && j.end <= w._3 + slack).foreach { w =>
        parentOf(j.id) = w._1; free.remove(w._1)
      }
    }
    // An unmatched job stays a root span: it ran on a pool thread, so it
    // must not count against the driver's self time.
    def searchOf(j: Job) = runs.find(r => j.start >= r.start && j.start <= r.end).get
    t.sparkSpans(inSearch, j => searchOf(j).op, j => parentOf.getOrElse(j.id, 0L))

    val self = t.spans.selfTimes
    val wallNs = runs.map(_.wallNs).sum.toDouble
    val driverNs = runs.map(r => self.getOrElse(r.spanId, 0L)).sum.toDouble
    val submitNs = runs.map(_.submitNs).sum.toDouble
    val waitNs = runs.map(_.waitNs).sum.toDouble
    val nWaves = runs.map(_.waves).sum.toDouble
    val evals = runs.map(_.evals).sum.toDouble
    val n = runs.length.toDouble
    val waveMs = runs.flatMap(_.waveMs)
    val gap = math.abs(wallNs - (driverNs + submitNs + waitNs)) / wallNs
    report += (f"reconcile minimize wall ${wallNs / 1e9}%.4fs = driver self ${driverNs / 1e9}%.4fs" +
      f" + submit ${submitNs / 1e9}%.4fs + wait ${waitNs / 1e9}%.4fs (gap ${gap * 100}%.2f%%)")
    report += (s"spark wave_ms ${Stats.describe(waveMs, "ms")}")
    // Independent of the identity above (which holds by construction): the
    // share of the driver's blocking waits during which Spark's listener
    // saw no job of the search running.
    val jobIv = inSearch.filter(_.end > 0).map(j => (j.start, j.end))
    val waits = t.spans.all.filter(s => s.name == "wait" && runs.exists(_.op == s.op))
    val waitSum = waits.map(_.dur).sum.toDouble
    val idle = waits.map(w => w.dur - Stats.covered(jobIv, w.start, w.end)).sum
    report += (f"reconcile (independent) blocking wait ${waitSum / 1e9}%.4fs, of it with no Spark" +
      f" job running ${idle / 1e9}%.4fs (${idle / math.max(1.0, waitSum) * 100}%.2f%%)")
    if (idle > 0.05 * waitSum)
      report += "WARNING: over 5% of the blocking wait had no Spark job running"
    report += (s"spark jobs matched to waves ${parentOf.size} of ${inSearch.length}")
    val overflow = runs.count(_.queueOverflow)
    if (overflow > 0)
      report += (s"WARNING: $overflow searches had more waves in flight than SearchBench.defaultMaxQueue;" +
        " spark.queue_fill divides by a stale copy of Search.minimize's default")

    val overruns = runs.flatMap(_.overrunMs)
    Map(
      "spark.submit_us_per_wave" -> submitNs / 1e3 / nWaves,
      "spark.wait_share" -> waitNs / wallNs,
      "spark.wave_ms_p50" -> Stats.median(waveMs),
      "spark.wave_ms_p99" -> Stats.percentile(waveMs, 99),
      "spark.jobs_per_wave" -> inSearch.length / nWaves,
      "spark.task_deser_ms_per_wave" -> tasks.map(_.deserMs).sum / nWaves,
      "spark.sched_delay_ms_p50" -> Stats.median(tasks.map(_.schedDelayMs.toDouble)),
      "spark.task_run_ms_per_wave" -> tasks.map(_.runMs).sum / nWaves,
      "spark.queue_fill" -> runs.map(r => r.queueFill * r.wallNs).sum / wallNs,
      "objective.busy_ms" -> runs.map(_.busyNs).sum / 1e6 / n,
      "objective.occupancy" -> runs.map(_.busyNs).sum / (wallNs * cores),
      "search.driver_us_per_eval" -> driverNs / 1e3 / evals,
      "search.evals_per_search" -> evals / n,
      "search.waves_per_search" -> nWaves / n,
      "search.recenters_per_search" -> runs.map(_.recenters).sum / n,
      "search.accept_ratio" -> runs.map(_.accepts).sum / evals,
      "search.deadline_overrun_ms_p50" -> (if (overruns.isEmpty) 0.0 else Stats.median(overruns)),
      "stencil.ns_per_step" -> stencilNsPerStep(cases.map(_.d).distinct),
      "stencil.steps_per_search" -> runs.map(_.stencilSteps).sum / n)
  }

  /** Stand-alone stencil generation at the workload's dimensions. */
  private def stencilNsPerStep(dims: Seq[Int]): Double = {
    val steps = 1000
    val maxHalvings = Search.maxHalvingsFor(SearchBench.StopRatio)
    def once(): Long = {
      val t0 = System.nanoTime()
      for (d <- dims) {
        val it = new RightHandedSimplexStencil(d, maxHalvings).stencilPoints
        var i = 0
        while (i < steps && it.hasNext) { it.next(); i += 1 }
      }
      System.nanoTime() - t0
    }
    once()
    Stats.median((1 to 3).map(_ => once().toDouble)) / (steps * dims.length)
  }

  // ------------------------------------------------------------- analytics

  final case class RowRun(row: String, buildNs: Long, execNs: Long, ok: Boolean,
      start: Long, buildEnd: Long, end: Long, spanId: Long, buildSpan: Long, execSpan: Long) {
    def wallMs: Double = (buildNs + execNs) / 1e6
  }

  def analytics(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      tracer: Option[Tracer], report: mutable.ArrayBuffer[String], data: String, expected: Map[String, String],
      countVsNoopPath: String): WorkloadResult = {
    val rows = AnalyticsBench.Rows
    val rng = new Random(seed)

    // Untimed warm-up: one execution per row, fingerprinted.
    val w0 = System.nanoTime()
    val checked = rows.map { row =>
      val ok = try {
        val got = Stats.fingerprint(AnalyticsBench.rowHashes(AnalyticsBench.fn(row)(spark, data)))
        val want = expected.getOrElse(row, "<none recorded>")
        if (got != want) report += (s"FAILED output check: $row fingerprint $got, expected $want")
        got == want
      } catch { case e: Exception =>
        report += (s"FAILED warm-up: $row ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      AnalyticsBench.dropCaches(spark)
      row -> ok
    }.toMap
    report += (f"warm-up pass (untimed, fingerprinted) ${elapsedS(w0)}%.2fs")

    val runs = mutable.ArrayBuffer.empty[RowRun]
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minPasses(workload) || elapsedS(t0) < seconds) {
      for (row <- rng.shuffle(rows)) {
        val r = timeRow(spark, row, data, checked(row), tracer)
        if (!r.ok && checked(row)) report += s"FAILED execution: $row"
        runs += r
      }
      passes += 1
      Main.sampleLiveHeap()
    }

    val byRow = rows.map(r => r -> runs.filter(_.row == r).toSeq)
    val medians = byRow.map { case (_, rs) => Stats.median(rs.map(_.wallMs)) }
    for ((row, rs) <- byRow)
      report += (f"row $row%-24s build+noop ${Stats.describe(rs.map(_.wallMs), "ms")}" +
        f" build_p50=${Stats.median(rs.map(_.buildNs / 1e6))}%.1fms" +
        s" each=${rs.map(r => f"${r.wallMs}%.0f").mkString(",")}")
    report += (s"row wall (all executions) ${Stats.describe(runs.map(_.wallMs).toSeq, "ms")}")

    val perLayer = tracer.fold(layers(Map.empty)) { t =>
      val m = analyticsLayers(t, runs.toSeq, report)
      countVsNoop(spark, rows, byRow.toMap, data, countVsNoopPath, report)
      layers(m)
    }
    WorkloadResult(timedStartMs,
      passS = medians.sum / 1000,
      opMsGeomean = Stats.geomean(medians),
      throughput = runs.length / (runs.map(_.wallMs).sum / 1000),
      attempted = runs.length, failed = runs.count(!_.ok), perLayer = perLayer)
  }

  private def timeRow(spark: SparkSession, row: String, data: String, checked: Boolean,
      tracer: Option[Tracer]): RowRun = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val rowSpan = tracer.fold(0L)(_.spans.begin(0, "row", row, t0))
    sc.setJobDescription(s"graftbench:$row:build")
    var t1 = t0
    val ok = try {
      val df = AnalyticsBench.fn(row)(spark, data)
      t1 = System.nanoTime()
      sc.setJobDescription(s"graftbench:$row:exec")
      df.write.format("noop").mode("overwrite").save()
      checked
    } catch { case _: Exception => false }
    finally sc.setJobDescription(null)
    val t2 = System.nanoTime()
    val (b, e) = tracer.fold((0L, 0L)) { t =>
      t.spans.finish(rowSpan, t2)
      (t.spans.add(rowSpan, "build", row, t0, t1), t.spans.add(rowSpan, "exec", row, t1, t2))
    }
    AnalyticsBench.dropCaches(spark)
    RowRun(row, t1 - t0, t2 - t1, ok, t0, t1, t2, rowSpan, b, e)
  }

  private def analyticsLayers(t: Tracer, runs: Seq[RowRun], report: mutable.ArrayBuffer[String]): Map[String, Double] = {
    t.drain()
    // Jobs go to the build or exec phase they started in.
    val jobs = t.allJobs
    def phaseOf(at: Long): Option[(RowRun, Boolean)] = runs.collectFirst {
      case r if at >= r.start && at < r.buildEnd => (r, true)
      case r if at >= r.buildEnd && at <= r.end => (r, false)
    }
    val jobPhase = jobs.flatMap(j => phaseOf(j.start).map(j.id -> _)).toMap
    t.sparkSpans(jobs.filter(j => jobPhase.contains(j.id)), j => jobPhase(j.id)._1.row, j =>
      jobPhase(j.id) match { case (r, build) => if (build) r.buildSpan else r.execSpan })
    val stageRun = t.stages.flatMap(s => jobPhase.get(s.job).map(s.id -> _._1)).toMap
    // The noop write's planning phases fall inside its exec window.
    val planMs = mutable.Map.empty[RowRun, Double].withDefaultValue(0.0)
    for (d <- t.plans.done.toArray(Array.empty[Done]); ph = d.phases.get("planning");
         r <- runs if ph.exists { case (s, _) => s >= r.buildEnd && s <= r.end }) {
      planMs(r) += d.planMs
      val (s, e) = (d.phases.values.map(_._1).min, d.phases.values.map(_._2).max)
      t.spans.add(r.execSpan, "plan", r.row, s, e)
    }
    // Stream progress goes to the row whose build window holds its trigger.
    val batches = t.streams.batches.toArray(Array.empty[Batch]).toSeq
    val batchRun = batches.flatMap(b => runs.find(r => b.at >= r.start && b.at <= r.end)
      .map(b -> _))

    val passes = runs.groupBy(_.row).values.map(_.length).max.toDouble
    val out = mutable.Map.empty[String, Double]
    for ((m, _) <- AnalyticsBench.Modules) {
      val rs = runs.filter(r => AnalyticsBench.moduleOf(r.row) == m)
      if (rs.nonEmpty) {
        val ids = rs.toSet
        val js = jobPhase.filter { case (_, (r, _)) => ids(r) }.keySet
        val ss = t.stages.filter(s => js(s.job))
        val ts = t.tasks.filter(x => js(t.jobs.jobOfStage(x.stage)))
        val per = (k: String, v: Double) => out(s"queries.$m.$k") = v / passes
        per("build_ms", rs.map(_.buildNs / 1e6).sum)
        per("plan_ms", rs.map(planMs).sum)
        per("exec_ms", rs.map(r => r.execNs / 1e6 - planMs(r)).sum)
        per("jobs", js.size)
        per("stages", ss.length)
        per("tasks", ts.length)
        per("task_cpu_ms", ts.map(_.cpuNs).sum / 1e6)
        per("shuffle_bytes", ts.map(_.shuffleBytes).sum.toDouble)
        per("spill_bytes", ts.map(_.spillBytes).sum.toDouble)
        per("gc_ms", ts.map(_.gcMs).sum.toDouble)
      }
    }
    if (batchRun.nonEmpty) {
      val bs = batchRun.map(_._1)
      def dur(b: Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
      out("streaming.batches") = bs.length / passes
      out("streaming.batch_ms_p50") = Stats.median(bs.map(dur(_, "triggerExecution")))
      out("streaming.add_batch_ms") = bs.map(dur(_, "addBatch")).sum / passes
      out("streaming.commit_ms") = bs.map(b => dur(b, "walCommit") + dur(b, "commitOffsets")).sum / passes
      out("streaming.query_planning_ms") = bs.map(dur(_, "queryPlanning")).sum / passes
      // State size: each query's largest reported state, summed over queries.
      val byQuery = bs.groupBy(_.query).values
      out("streaming.state_rows") = byQuery.map(_.map(_.stateRows).max).sum / passes
      out("streaming.state_mem_bytes") = byQuery.map(_.map(_.stateMem).max).sum / passes
    }
    for (r <- TargetRows; rs = runs.filter(_.row == r) if rs.nonEmpty)
      out(s"row.$r.wall_ms") = Stats.median(rs.map(_.wallMs))
    val rag = runs.filter(_.row == "q_rag_retrieve_ivf").toSet
    if (rag.nonEmpty)
      out("row.q_rag_retrieve_ivf.stages") = stageRun.count { case (_, r) => rag(r) } / rag.size.toDouble

    // The row span's self time is the part of its wall that neither the
    // build nor the exec span (which holds the plan span) covers.
    val self = t.spans.selfTimes
    val spans = t.spans.all.map(s => s.id -> s).toMap
    val gap = runs.map(r => self(r.spanId).toDouble / spans(r.spanId).dur).max
    report += (f"reconcile row wall = build + plan + exec: max gap ${gap * 100}%.2f%%" +
      f" over ${runs.length} executions; plan found for ${runs.count(planMs(_) > 0)}," +
      f" plan share of exec ${runs.map(planMs).sum / runs.map(_.execNs / 1e6).sum * 100}%.1f%%")
    // Independent of that identity (which holds by construction): the exec
    // window split into the planning Spark's tracker stamps and the time its
    // listener sees the row's jobs running; the rest is driver work between.
    val execMs = runs.map(_.execNs / 1e6).sum
    val execPlanMs = runs.map(planMs).sum
    val execJobMs = runs.map { r =>
      val iv = jobs.filter(j => j.end > 0 && jobPhase.get(j.id).contains((r, false))).map(j => (j.start, j.end))
      Stats.covered(iv, r.buildEnd, r.end) / 1e6
    }.sum
    val residue = execMs - execPlanMs - execJobMs
    report += (f"reconcile (independent) exec ${execMs}%.0fms = tracker plan ${execPlanMs}%.0fms" +
      f" + listener jobs ${execJobMs}%.0fms + driver residue ${residue}%.0fms (${residue / execMs * 100}%.1f%%)")
    out.toMap
  }

  /** Times `count()` once per row next to the noop medians (not a metric). */
  private def countVsNoop(spark: SparkSession, rows: Seq[String], byRow: Map[String, Seq[RowRun]],
      data: String, path: String, report: mutable.ArrayBuffer[String]): Unit = {
    val w = new PrintWriter(path)
    try {
      w.println("row\tnoop_ms_p50\tcount_ms\tnoop_over_count")
      for (row <- rows) {
        val t0 = System.nanoTime()
        AnalyticsBench.fn(row)(spark, data).count()
        val c = (System.nanoTime() - t0) / 1e6
        AnalyticsBench.dropCaches(spark)
        val n = Stats.median(byRow(row).map(_.wallMs))
        w.println(f"$row\t$n%.1f\t$c%.1f\t${n / c}%.2f")
        report += (f"count-vs-noop $row%-24s noop $n%.1fms count $c%.1fms ratio ${n / c}%.2f")
      }
    } finally w.close()
  }
}
