package graftbench

import graft.search.{EvalClient, Objective, Search, SearchOptions, SearchResult}
import graft.spark.SparkClient
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.Random

/** A shifted sphere whose optimum `c` sits off the evaluation lattice;
  * `sleepMs` > 0 stands in for a remote black-box simulation (a sleep, not
  * a spin, so the measured cores run the program and not the stand-in).
  */
final class ShiftedSphere(c: Array[Double], sleepMs: Long) extends Objective {
  def apply(x: Array[Double]): Double = {
    if (sleepMs > 0) Thread.sleep(sleepMs)
    var s = 0.0
    var i = 0
    while (i < x.length) { val v = x(i) - c(i); s += v * v; i += 1 }
    s
  }
}

/** Busy time of the traced objective. The objective runs in Spark tasks,
  * which `local[N]` runs in this JVM, so a static counter sees them all.
  */
object ObjectiveMeter {
  val busyNs = new AtomicLong(0)
}

final class MeteredObjective(inner: Objective) extends Objective {
  def apply(x: Array[Double]): Double = inner(x)
  override def applyBatch(xs: IndexedSeq[Array[Double]]): Array[Double] = {
    val t0 = System.nanoTime()
    try inner.applyBatch(xs)
    finally ObjectiveMeter.busyNs.addAndGet(System.nanoTime() - t0)
  }
}

/** The traced `EvalClient`: times every `submit` and `nextBatch` on the
  * driver thread and records each wave's submit-to-delivery interval.
  */
final class TracingClient(inner: EvalClient, spans: Spans, op: String, parent: Long)
    extends EvalClient {
  val submitted = mutable.Map.empty[Long, (Long, Long)] // id -> (submit span, submit end)
  val waves = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (submit span, start, end)
  val inflight = mutable.ArrayBuffer.empty[(Long, Int)] // (time, +1 / -k)
  var submitNs = 0L
  var waitNs = 0L

  override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = {
    val t0 = System.nanoTime()
    val id = inner.submit(objective, points)
    val t1 = System.nanoTime()
    submitNs += t1 - t0
    submitted(id) = (spans.add(parent, "submit", op, t0, t1), t1)
    inflight += ((t1, 1))
    id
  }
  override def hasResults: Boolean = inner.hasResults
  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
    val t0 = System.nanoTime()
    val out = inner.nextBatch(block)
    val t1 = System.nanoTime()
    waitNs += t1 - t0
    spans.add(parent, if (block) "wait" else "poll", op, t0, t1)
    if (out.nonEmpty) inflight += ((t1, -out.length))
    out.foreach { case (id, _) =>
      submitted.remove(id).foreach { case (sp, start) => waves += ((sp, start, t1)) }
    }
    out
  }
  override def capacityHint: Option[(Int, Int)] = inner.capacityHint
  override def shutdown(): Unit = inner.shutdown()
}

/** One search of a workload's mix. */
final case class SearchCase(d: Int, batch: Option[Int], maxTime: Option[Double]) {
  def label: String =
    s"d$d-${batch.fold("unbatched")(b => s"batch$b")}${maxTime.fold("")(t => s"-deadline${t}s")}"
}

/** Everything measured about one search. */
final case class SearchRun(
    op: String, label: String, wallNs: Long, evals: Int, ok: Boolean, overrunMs: Option[Double],
    submitNs: Long = 0, waitNs: Long = 0, waves: Int = 0, waveMs: Seq[Double] = Nil,
    queueFill: Double = 0, recenters: Int = 0, accepts: Int = 0, stencilSteps: Long = 0,
    busyNs: Long = 0, start: Long = 0, end: Long = 0, spanId: Long = 0,
    waveSpans: Seq[(Long, Long, Long)] = Nil, queueOverflow: Boolean = false, problem: String = "")

object SearchBench {
  val StopRatio = 1e-2
  /** Distance of x0 from the optimum, per unit direction: a fixed radius
    * keeps the work of a search comparable across seeds.
    */
  val Radius = 4.0

  /** search_waves: d in {2, 4, 8} x batchsize in {none, 6}, each run to
    * convergence. search_costly: the d = 2 and 4 searches run to
    * convergence, and the d = 8 ones are bounded by a 1 s `maxTime` they
    * cannot converge within (converging them would cost 8 s a pass).
    */
  def mix(workload: String): Seq[SearchCase] = {
    // Batched before unbatched and small d first: a fixed order keeps the
    // JIT warm-up each search sees the same in every run.
    val batches = Seq(Some(6), None)
    workload match {
      case "search_waves" =>
        for (d <- Seq(2, 4, 8); b <- batches) yield SearchCase(d, b, None)
      case "search_costly" =>
        (for (d <- Seq(2, 4); b <- batches) yield SearchCase(d, b, None)) ++
          batches.map(b => SearchCase(8, b, Some(1.0)))
    }
  }
  def sleepMs(workload: String): Long = if (workload == "search_costly") 10 else 0

  /** The default queue capacity of `Search.minimize` (search.py:133-141),
    * the denominator of `spark.queue_fill`. `Search.minimize` keeps it
    * private, so this copy must track it; a traced run warns when more
    * waves are in flight than it allows.
    */
  def defaultMaxQueue(c: SearchCase, capacity: Option[(Int, Int)]): Int = {
    var m = 3 * c.d
    c.batch.foreach(b => m = m / b + 1)
    capacity.foreach { case (t, w) => m = math.max(m, t + w) }
    m
  }

  /** Runs one search and checks it: best within 2·stopratio of the
    * optimum (converging searches), best.cost the minimum evaluated cost,
    * and with batching an evaluation count that is a multiple of the batch.
    */
  def runOne(spark: SparkSession, c: SearchCase, rng: Random, sleep: Long,
      tracer: Option[Tracer], op: String): SearchRun = {
    val optimum = Array.fill(c.d)(rng.nextDouble() - 0.5)
    val u = Array.fill(c.d)(rng.nextGaussian())
    val norm = math.sqrt(u.map(v => v * v).sum)
    val x0 = Array.tabulate(c.d)(i => optimum(i) + Radius * u(i) / norm)
    val seed = rng.nextLong()
    val base = new ShiftedSphere(optimum, sleep)
    val inner = new SparkClient(spark)
    val recenters = new AtomicLong(0)
    val accepts = new AtomicLong(0)
    val steps = new AtomicLong(0)
    val traceHook: Option[String => Unit] = tracer.map(_ => (line: String) =>
      if (line.startsWith("recenter")) {
        recenters.incrementAndGet()
        if (line.contains("kind=accept")) accepts.incrementAndGet()
        val i = line.indexOf("stencilIndex=")
        if (i >= 0) steps.addAndGet(line.substring(i + 13).takeWhile(_.isDigit).toLong)
      })
    val opts = SearchOptions(stopratio = StopRatio, batchsize = c.batch, maxTime = c.maxTime,
      seed = Some(seed), trace = traceHook)
    val objective: Objective = tracer.fold[Objective](base)(_ => new MeteredObjective(base))
    val busy0 = ObjectiveMeter.busyNs.get()
    val t0 = System.nanoTime()
    val parent = tracer.fold(0L)(_.spans.begin(0, "search", op, t0))
    val client: EvalClient = tracer.fold[EvalClient](inner)(t =>
      new TracingClient(inner, t.spans, op, parent))
    val res: SearchResult =
      try Search.minimize(objective, x0, Array.fill(c.d)(1.0), client, opts)
      finally client.shutdown()
    val t1 = System.nanoTime()
    val busy = ObjectiveMeter.busyNs.get() - busy0
    val costs = res.evaluations.map(_.cost)
    val offset = res.best.point.indices.map(i => math.abs(res.best.point(i) - optimum(i))).max
    val problems = Seq(
      (c.maxTime.isEmpty && offset >= 2 * StopRatio) -> f"best is $offset%.4f from the optimum on an axis",
      !(costs.nonEmpty && res.best.cost == costs.min) -> "best.cost is not the minimum evaluated cost",
      c.batch.exists(b => res.evaluations.length % b != 0) ->
        s"${res.evaluations.length} evaluations, not a multiple of the batch").collect { case (true, m) => m }
    val overrun = c.maxTime.map(m => ((t1 - t0) / 1e6) - m * 1000)
    val run = SearchRun(op, c.label, t1 - t0, res.evaluations.length, problems.isEmpty,
      overrun, start = t0, end = t1, problem = problems.mkString("; "))
    client match {
      case tc: TracingClient =>
        tracer.get.spans.finish(parent, t1)
        val mq = defaultMaxQueue(c, inner.capacityHint)
        run.copy(submitNs = tc.submitNs, waitNs = tc.waitNs, waves = tc.waves.length,
          waveMs = tc.waves.map { case (_, a, b) => (b - a) / 1e6 }.toSeq,
          waveSpans = tc.waves.map { case (sp, a, b) =>
            (tracer.get.spans.add(sp, "wave", op, a, b), a, b) }.toSeq,
          queueFill = Stats.queueFill(tc.inflight.toSeq, t0, t1, mq),
          queueOverflow = tc.inflight.scanLeft(0)(_ + _._2).max > mq,
          recenters = recenters.get.toInt, accepts = accepts.get.toInt,
          stencilSteps = steps.get, busyNs = busy, spanId = parent)
      case _ => run
    }
  }
}
