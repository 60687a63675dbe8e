package graftbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The benchmark driver: one closed-loop client running one search or one
  * registry row at a time from the main thread.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <N> --data <dir> --out <dir> --expected <file> [--head <rev>]
  * Main --record <file> --cores <N> --data <dir> --out <dir>
  * }}}
  *
  * The last line of standard output is the result object.
  */
object Main {
  val Workloads = Seq("search_waves", "search_costly", "analytics")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    if (a.get("record").isDefined) record(a)
    else run(a)
  }

  def session(cores: String, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/tmp/local")
      .config("spark.sql.warehouse.dir", s"$out/tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** VmHWM: the process's resident high-water mark (run record only; it
    * follows the collector's heap sizing more than the program).
    */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private var liveHeapPeak = 0L

  /** Runs a full collection and records the heap still in use. The
    * workloads call it between passes, outside every timed operation.
    */
  def sampleLiveHeap(): Unit = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks only after a
    // collection has found their handles unreachable; the second collection,
    // after it has run, leaves what the program still holds.
    System.gc()
    Thread.sleep(300)
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** The largest sampled live heap plus committed non-heap memory. */
  def peakLiveMb(): Double =
    (liveHeapPeak + ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getCommitted) / 1048576.0

  /** The heap pools' peak used bytes summed (run record only: it includes
    * garbage not yet collected, so it follows the collector's timing).
    */
  def peakHeapUsedMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")

  /** The machine's (steal, total) CPU ticks from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1)
      .map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Fingerprints every analytics row (one untimed execution each) and
    * writes them as the expected outputs.
    */
  def record(a: Args): Unit = {
    val spark = session(a("cores"), a("out"))
    val w = new PrintWriter(a("record"))
    try {
      w.println("# row  rows:hash  (Stats.fingerprint of AnalyticsBench.rowHashes, one untimed")
      w.println("# execution on data/sf0.01; record only from a build whose rows pass")
      w.println("# tools/oracle_check.py on those tables)")
      for (row <- AnalyticsBench.Rows) {
        val fp = Stats.fingerprint(AnalyticsBench.rowHashes(AnalyticsBench.fn(row)(spark, a("data"))))
        AnalyticsBench.dropCaches(spark)
        w.println(s"$row $fp")
        println(s"$row $fp")
      }
    } finally { w.close(); stopSession(spark) }
  }

  def run(a: Args): Unit = {
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores")
    val out = a("out")
    new File(s"$out/tmp").mkdirs()
    val load0 = loadavg()
    val ticks0 = cpuTicks()
    val isSearch = workload.startsWith("search")

    // Set-up: session build and a warm-up search here; the analytics
    // warm-up pass runs inside the workload. Timed from JVM start to the
    // first timed operation.
    val spark = session(cores, out)
    if (isSearch)
      SearchBench.runOne(spark, SearchCase(2, Some(6), None), new Random(0), 0, None, "warmup")
    val tracer = if (traced) Some(new Tracer(spark)) else None

    val report = mutable.ArrayBuffer.empty[String] // readable lines
    val result =
      if (isSearch) Workload.search(spark, workload, seed, seconds, tracer, report)
      else Workload.analytics(spark, workload, seed, seconds, tracer, report, a("data"),
        AnalyticsBench.readExpected(a("expected")), s"$out/count_vs_noop-$workload.tsv")
    stopSession(spark)
    val load1 = loadavg()
    val ticks1 = cpuTicks()
    val stealShare = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    tracer.foreach { t =>
      val path = s"$out/spans-$workload-seed$seed.jsonl"
      t.spans.write(path)
      report += s"spans ${t.spans.all.length} written to $path"
    }

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", (result.timedStartMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3, "s"),
      ("pass_s", result.passS, "s"),
      ("op_ms_geomean", result.opMsGeomean, "ms"),
      ("throughput_per_s", result.throughput, "1/s"),
      ("peak_live_mb", peakLiveMb(), "MB"),
      ("ok_frac", (result.attempted - result.failed).toDouble / result.attempted, "ratio"))

    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val rec = Seq(
      "workload" -> workload, "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "master" -> s"local[$cores]",
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg_before" -> load0, "loadavg_after" -> load1,
      "cpu_steal_share" -> f"$stealShare%.4f",
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "heap_committed_mb" -> f"${heap.getCommitted / 1048576.0}%.1f",
      "heap_peak_used_mb" -> f"${peakHeapUsedMb()}%.1f",
      "vm_hwm_mb" -> f"${peakRssMb()}%.1f",
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "head" -> a.get("head").getOrElse("unknown"))
    val recJson = rec.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    println(s"run-record $recJson")
    writeFile(s"$out/run-$workload-seed$seed-trace${if (traced) 1 else 0}.json", recJson)
    report.foreach(l => println(s"  $l"))
    for ((k, v, u) <- endToEnd) println(f"end-to-end $k%-18s $v%.4f $u")
    result.perLayer.foreach { case (k, v, u) => println(f"per-layer  $k%-40s $v%.4f $u") }

    val metrics = if (traced) result.perLayer else endToEnd
    val mjson = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${result.failed == 0},"attempted":${result.attempted},""" +
      s""""failed":${result.failed},"metrics":$mjson}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeFile(path: String, s: String): Unit = {
    val w = new PrintWriter(path)
    try w.println(s) finally w.close()
  }
}

final case class WorkloadResult(
    timedStartMs: Long, passS: Double, opMsGeomean: Double, throughput: Double, attempted: Int, failed: Int,
    perLayer: Seq[(String, Double, String)])
