package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.SparkEntry

/** Per-stage occupancy probe (optimization round r16): runs named registry
  * queries once (after one untimed warm-up) and prints, for every stage,
  * its task count, summed task run time, and wall duration — the direct
  * measurement of WHERE a query loses parallelism. TaskMetricsProbe showed
  * several heavy rows running 2-9-task stages that hold seconds of work
  * (AQE's byte-based coalescing packs the read before a row-amplifying
  * Generate into a few partitions); this tool names the guilty stage so
  * the fix can be targeted instead of guessed.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StageProbe \
  *     q_triangles,q_dup_ngrams /root/testdata/sf0.1"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val queries = args.headOption.map(_.split(',').toSeq).getOrElse(Seq("q_triangles"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.benchSession(cpus)

    final case class St(var tasks: Int = 0, var runMs: Long = 0L,
        var wallMs: Long = 0L, var name: String = "")
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val s = stages.getOrElseUpdate(e.stageId, St())
        s.tasks += 1
        if (e.taskMetrics != null) s.runMs += e.taskMetrics.executorRunTime
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        val s = stages.getOrElseUpdate(i.stageId, St())
        s.wallMs = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        s.name = i.name.takeWhile(_ != '\n').take(60)
      }
    }
    // Streaming rows: print each micro-batch's durationMs breakdown
    // (addBatch / getBatch / queryPlanning / walCommit / commitOffsets /
    // stateStore) so the fixed per-batch machinery cost is measured, not
    // guessed.
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"STREAMBATCH name=${p.name} batch=${p.batchId} " +
          s"durationMs=${p.durationMs}")
      }
    })
    for (q <- queries) {
      val fn = SparkEntry.queries(q)
      fn(spark, dir).count() // warm-up, untimed
      graft.Bench.dropAllCaches(spark)
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // Drain the listener bus by polling until the observed (stage, task)
      // counts stay unchanged across two consecutive 100 ms intervals (2 s
      // cap) — a fixed sleep undercounted on a loaded box (ADVICE r16 #4),
      // and the bus can stall for longer than one interval mid-drain.
      def snapshot() = listener.synchronized((stages.size, stages.valuesIterator.map(_.tasks.toLong).sum))
      var prev = snapshot()
      var stable = 0
      var waitedMs = 0
      while (stable < 2 && waitedMs < 2000) {
        Thread.sleep(100)
        waitedMs += 100
        val cur = snapshot()
        stable = if (cur == prev) stable + 1 else 0
        prev = cur
      }
      spark.sparkContext.removeSparkListener(listener)
      println(f"STAGEPROBE $q wall=$wall%.3f s stages=${stages.size}")
      stages.toSeq.sortBy(-_._2.runMs).foreach { case (id, s) =>
        println(f"  stage=$id%4d tasks=${s.tasks}%4d taskRun=${s.runMs / 1000.0}%8.3f s " +
          f"stageWall=${s.wallMs / 1000.0}%7.3f s  ${s.name}")
      }
      graft.Bench.dropAllCaches(spark)
    }
    spark.stop()
  }
}
