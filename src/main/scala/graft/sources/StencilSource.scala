package graft.sources

import java.util

import graft.stencil.RightHandedSimplexStencil
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The reference's infinite stencil stream as a DataSource V2 TABLE —
  * the (c)-tier extension surface on the SOURCE side (the function
  * injector covers expressions; this covers `spark.read.format(...)`):
  *
  * {{{
  *   spark.read.format("graft.sources.StencilSource")
  *     .option("dims", 2).option("maxHalvings", 7)
  *     .load()                    // UNBOUNDED table
  *     .limit(500)                // REQUIRED: pushed into the scan
  * }}}
  *
  * The stream is infinite by design (`RightHandedSimplexStencil`
  * generates forever; reference `stencil.py` generate_stencil_points),
  * so the connector REFUSES to plan a full-table scan: the ScanBuilder
  * implements `SupportsPushDownLimit`, and `build()` without a pushed
  * limit throws with instructions rather than letting an innocent
  * `count()` spin forever. This is the honest V2 contract for unbounded
  * relations — the same reason Kafka's batch source demands offsets.
  *
  * One input partition, deliberately: stencil generation is a
  * sequential driver-side recurrence (each simplex derives from its
  * parent), so "parallelizing" the generator would just move the
  * sequential walk behind a shuffle. Parallelism belongs to the
  * CONSUMERS — the evaluation waves — exactly as in the search loop.
  * The rows are planner-scale (a prefix of a few thousand trial
  * points), so a single partition is the right shape, not a limitation.
  */
class StencilSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StencilSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StencilSource.StencilTable
}

object StencilSource {

  val Schema: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("halvings", IntegerType, nullable = false),
    StructField("offset", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Option parsing lives in [[Table.newScanBuilder]], NOT in
    * `TableProvider.getTable`: the batch read path forwards reader options
    * to both, but the STREAMING path resolves the table without them and
    * only the per-scan `CaseInsensitiveStringMap` carries what the user
    * passed (empirically: a `maxPoints` parsed at getTable time silently
    * defaulted to unbounded under `readStream`, and the gate stream never
    * terminated — the same reason Kafka parses its options in the scan
    * builder).
    */
  private[sources] final class StencilTable extends Table with SupportsRead {
    override def name(): String = "stencil"
    override def schema(): StructType = Schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val dims = options.getInt("dims", 2)
      val mh = options.getInt("maxHalvings", 7)
      val perBatch = options.getLong("pointsPerBatch", 100L)
      val maxPoints = options.getLong("maxPoints", Long.MaxValue)
      require(dims >= 1, s"dims must be >= 1 (got $dims)")
      require(perBatch >= 1, s"pointsPerBatch must be >= 1 (got $perBatch)")
      // Fail at PLANNING, not hours into the stream (ADVICE r12 #4): the
      // prefix cache indexes by Int, and the mid-stream `end <= Int.MaxValue`
      // guard would otherwise be the FIRST signal of a too-large maxPoints —
      // after 2^31 points of quadratic-replay slowdown.
      require(maxPoints <= Int.MaxValue || maxPoints == Long.MaxValue,
        s"maxPoints must be <= ${Int.MaxValue} (got $maxPoints): the stencil " +
          "prefix cache is Int-indexed; an unbounded batch scan is refused by " +
          "the limit-pushdown contract instead")
      new StencilScanBuilder(dims, mh, perBatch, maxPoints)
    }
  }

  private final class StencilScanBuilder(
      dims: Int, maxHalvings: Int, perBatch: Long, maxPoints: Long)
      extends ScanBuilder with SupportsPushDownLimit {
    private var limit: Int = -1
    override def pushLimit(l: Int): Boolean = { limit = l; true } // fully pushed
    override def build(): Scan =
      new StencilScan(dims, maxHalvings, limit, perBatch, maxPoints)
  }

  private final class StencilScan(
      dims: Int, maxHalvings: Int, limit: Int, perBatch: Long, maxPoints: Long)
      extends Scan with Batch {
    override def readSchema(): StructType = Schema
    // The batch path keeps the mandatory-limit contract: an unbounded scan
    // refuses at physical planning (same observable behavior as the old
    // build()-time refusal — count() fails loudly before generating).
    override def toBatch: Batch = {
      require(limit >= 0,
        "the stencil table is UNBOUNDED (the reference's lazy BFS generates " +
          "forever); add .limit(n) / LIMIT n directly over the relation so " +
          "the scan can push it down")
      this
    }
    // The STREAMING path requires an explicit maxPoints cap, refused at
    // PLANNING otherwise (ADVICE r13 #2): the r12 plan-time guard exempted
    // the unset sentinel, so an uncapped stream still died only at the
    // mid-stream `end <= Int.MaxValue` check — after ~2^31 points of
    // quadratic-replay slowdown, the exact late failure the guard was built
    // to close. Unboundedness is not actually on offer here (the prefix
    // cache is Int-indexed by design, SURVEY §4), so an "unbounded" stream
    // is a promise the source cannot keep; callers wanting the practical
    // maximum say maxPoints = Int.MaxValue explicitly.
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      require(maxPoints != Long.MaxValue,
        "streaming reads of the stencil table require an explicit maxPoints " +
          s"(<= ${Int.MaxValue}): the Int-indexed prefix cache cannot serve " +
          "an unbounded stream, and without the cap it would fail only after " +
          "~2^31 points instead of here at planning")
      new StencilMicroBatch(dims, maxHalvings, perBatch, maxPoints)
    }
    override def description(): String =
      s"graft stencil prefix: dims=$dims maxHalvings=$maxHalvings limit=$limit"
    override def planInputPartitions(): Array[InputPartition] =
      Array(StencilPartition(dims, maxHalvings, 0L, limit.toLong, streaming = false))
    override def createReaderFactory(): PartitionReaderFactory =
      StencilReaderFactory
  }

  /** The infinite generator as a STRUCTURED STREAMING source — the shape
    * the reference actually runs (its search loop consumes the stencil as
    * an endless stream): offsets are "points emitted so far", each trigger
    * advances by `pointsPerBatch` (capped by the optional `maxPoints`,
    * after which the stream reports no new data — the bounded-replay mode
    * the gate row uses), and recovery is exact because the generator is
    * deterministic: replaying offset range [a, b) always yields the same
    * points, which is the entire exactly-once story — no sink-side dedup
    * needed.
    */
  private final class StencilMicroBatch(
      dims: Int, maxHalvings: Int, perBatch: Long, maxPoints: Long)
      extends MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

    /** Trigger.AvailableNow on the source itself: Spark keeps asking
      * `latestOffset(start, getDefaultReadLimit)`, so the run is cut into
      * `pointsPerBatch` micro-batches and ends at the `maxPoints` cap —
      * the same batches the polling trigger runs. Without this mix-in
      * Spark wraps the stream, asks for everything at once, and the run
      * collapses into one batch. The cap is the snapshot "available now"
      * stands for, so it must be finite.
      */
    override def prepareForTriggerAvailableNow(): Unit =
      require(maxPoints != Long.MaxValue,
        "Trigger.AvailableNow on the UNCAPPED stencil stream would consume " +
          "forever; set the maxPoints option")

    override def initialOffset(): Offset = StencilOffset(0L)

    /** STATELESS batch sizing via admission control: the next end offset is
      * a pure function of the START offset Spark hands us — never of
      * instance state. The first cut kept a mutable cursor advanced by
      * `latestOffset()`; on restart Spark calls that BEFORE restoring the
      * checkpointed position, so the fresh instance re-issued early
      * offsets and a recovered query re-emitted committed ranges
      * (observed: batch start=300, end=100, then a 300-row replay batch).
      * `latestOffset(start, limit)` cannot regress by construction.
      */
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val s = start.asInstanceOf[StencilOffset].n
      // Honor the PASSED limit, not just the captured pointsPerBatch: a
      // caller that asks for ReadLimit.allAvailable() (Trigger.Once) treats
      // the answer as the TERMINAL offset — answering one perBatch there
      // silently truncates the run to a single batch (code-review r12).
      // Trigger.AvailableNow passes the default limit instead (see
      // prepareForTriggerAvailableNow). The cap is finite here:
      // toMicroBatchStream refuses an uncapped stream.
      val step = limit match {
        case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable =>
          maxPoints - s
        case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
          r.maxRows()
        case _ => perBatch
      }
      StencilOffset(math.min(s + math.max(step, 0L), maxPoints))
    }
    override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(perBatch)
    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "admission-control source: Spark must call latestOffset(start, limit)")

    override def deserializeOffset(json: String): Offset =
      StencilOffset(json.trim.toLong)
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
      Array(StencilPartition(dims, maxHalvings,
        start.asInstanceOf[StencilOffset].n, end.asInstanceOf[StencilOffset].n,
        streaming = true))
    override def createReaderFactory(): PartitionReaderFactory = StencilReaderFactory
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  private final case class StencilOffset(n: Long)
      extends org.apache.spark.sql.connector.read.streaming.Offset {
    override def json(): String = n.toString
  }

  /** One partition = the point range [start, end) of the deterministic
    * sequence; `end` carries the batch limit for both the batch scan
    * (start 0) and micro-batch ranges.
    */
  private final case class StencilPartition(
      dims: Int, maxHalvings: Int, start: Long, end: Long, streaming: Boolean)
      extends InputPartition

  /** Per-JVM single-slot prefix cache — the reference's prefix-replay rule
    * (stencil.py:97-98, 202-203) applied across MICRO-BATCHES ONLY: batch
    * k re-emits points [k·B, (k+1)·B) and a cache-less replay would
    * regenerate the whole prefix per batch (quadratic over the stream's
    * life). One slot, replaced on a different (dims, maxHalvings) key
    * (the SessionMemo eviction discipline): the cached stencil retains
    * every step it has generated, so an unbounded per-key map would pin
    * heap for the JVM's lifetime (code-review r12). Concurrent streams
    * over DIFFERENT configs thrash the slot back to correct-but-quadratic
    * replay — never to wrong rows. The batch scan path does NOT use the
    * cache: it streams a fresh per-scan iterator (no whole-range Array,
    * nothing retained after the scan).
    */
  private object StencilCache {
    private var key: (Int, Int) = _
    private var st: RightHandedSimplexStencil = _
    def slice(dims: Int, mh: Int, start: Long, end: Long): Array[graft.stencil.StencilStep] =
      synchronized {
        // Long offsets, Int-indexed prefix cache: fail loudly at the 2^31
        // boundary rather than silently wrapping into empty or replayed
        // batches (code-review r12). A prefix that large is ~10^2 GB of
        // steps — far past where a real consumer would have recentered.
        require(end <= Int.MaxValue,
          s"stencil prefix cache indexes by Int; offset $end exceeds 2^31-1")
        if (st == null || key != ((dims, mh))) {
          key = (dims, mh)
          st = new RightHandedSimplexStencil(dims, mh)
        }
        st.stencilPoints.slice(start.toInt, end.toInt).toArray
      }
  }

  private object StencilReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[StencilPartition]
      new PartitionReader[InternalRow] {
        // Batch scans (one partition per scan) stream a fresh bounded
        // iterator; micro-batch ranges replay via the prefix cache.
        private val it: Iterator[graft.stencil.StencilStep] =
          if (!p.streaming)
            new RightHandedSimplexStencil(p.dims, p.maxHalvings)
              .stencilPoints.take(p.end.toInt).iterator
          else
            StencilCache.slice(p.dims, p.maxHalvings, p.start, p.end).iterator
        private var i = 0
        private var row: InternalRow = _
        override def next(): Boolean =
          if (!it.hasNext) false
          else {
            val s = it.next()
            i += 1
            row = new GenericInternalRow(Array[Any](
              (p.start + i).toInt, s.halvings, ArrayData.toArrayData(s.offset)))
            true
          }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    }
  }
}
