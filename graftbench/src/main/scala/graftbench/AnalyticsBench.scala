package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registry rows timed as build (the `fn(spark, dir)` call) plus a full
  * `write.format("noop")`, which materializes every output column.
  */
object AnalyticsBench {

  val BatchRows: Seq[String] = Seq(
    "q_triangles", // Graph
    "q_rag_retrieve_ivf", // Similarity
    "q_dedup_simhash", // Dedup
    "q_analyze_stats", // Relational
    "q_join_agg", // ReferenceOps
    "q_sample_token_budget", // Pipeline
    "q_bpe_apply") // TextOps

  /** Events rows: the stream-stream join aggregation plus one stateful twin
    * pair (the `flatMapGroupsWithState` and `transformWithState` funnels).
    */
  val StreamRows: Seq[String] = Seq("q_stream_join_agg", "q_funnel_stream", "q_funnel_tws")

  val Rows: Seq[String] = BatchRows ++ StreamRows

  /** The registry modules reported per layer, in report order. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Graph" -> graft.queries.Graph.defs.keySet,
    "Pipeline" -> graft.queries.Pipeline.defs.keySet,
    "TextOps" -> graft.queries.TextOps.defs.keySet,
    "Dedup" -> graft.queries.Dedup.defs.keySet,
    "Similarity" -> graft.queries.Similarity.defs.keySet,
    "Relational" -> graft.queries.Relational.defs.keySet,
    "ReferenceOps" -> graft.queries.ReferenceOps.defs.keySet,
    "Events" -> graft.queries.Events.defs.keySet)

  def moduleOf(row: String): String =
    Modules.collectFirst { case (m, keys) if keys(row) => m }.getOrElse("other")

  def fn(row: String): (SparkSession, String) => DataFrame = SparkEntry.queries(row)

  /** A value made comparable across runs: floating point printed to nine
    * significant digits (with -0.0 folded into 0.0), maps as entry arrays
    * sorted by key, recursively through arrays and structs.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Per-row hashes of the canonicalized result, columns taken in name order. */
  def rowHashes(df: DataFrame): Seq[Long] = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map(f => canon(df.col(f.name), f.dataType))
    df.select(xxhash64(cols: _*)).collect().toSeq.map(_.getLong(0))
  }

  /** Drops the dataset cache and every persistent RDD between executions. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def readExpected(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap
  }
}
