package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Heavy-row core-scaling sample at a ×K scale-up of sf0.1 (optimization
  * r17, VERDICT r16 #6): every r16/r17 widen/broadcast decision was
  * demonstrated at sf0.1, where 70% of bench rows sit at the scheduling
  * floor and 8 cores beat 32 overall — the one thing that suite cannot
  * show is whether the amplifying rows actually buy core-scaling once
  * work exceeds the floor. This tool makes that measurable locally:
  *
  *   --gen <srcSf> <outDir> <K>: write a deterministic ×K scale-up of
  *     the three tables the amplifying rows read (lineitem, orders,
  *     documents) as K DISJOINT key-shifted copies — copy i shifts every
  *     join/graph key by i·stride and suffixes every document token with
  *     "_i", so graphs/corpora are disjoint across copies (no cross-copy
  *     near-duplicates or hub vertices: honest weak scaling, |E| and the
  *     wedge stream scale ×K, LSH buckets stay copy-local). NOT test
  *     data: no oracle runs here — both core counts run the same input,
  *     which is all a scaling ratio needs.
  *
  *   <outDir> <q1,q2,...>: per query, one UNTIMED warm-up then one
  *     timed run, caches dropped between (the bench's own protocol —
  *     measured here: a cold-JVM q_triangles at ×10 cost 68 s where the
  *     warmed run costs 26 s, so unwarmed numbers measure JIT, not the
  *     operators), under SPARK_GRAFT_CPUS cores; prints one JSON line
  *     {"metric":"scale_sample","cpus":N,"sf":dir,"queries":{...}}.
  *     Run once at 32 and once at 8; the committed record is the pair.
  */
object ScaleSample {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--gen", src, out, k) => gen(src, out, k.toInt)
    case Seq(out, qs)              => run(out, qs.split(',').toSeq)
    case _ => sys.error(
      "usage: ScaleSample --gen <srcSfDir> <outDir> <K> | <dir> <q1,q2,...>")
  }

  private val KeyStride = 100000000L // far above any sf0.1 key

  private def gen(src: String, out: String, k: Int): Unit = {
    // Shifted keys must stay below 2^32: coEdges and the wedge probe pack
    // two vertex keys into one long as u·2^32 + v, so a larger key would
    // silently corrupt the pairs. K ≤ 42 at this stride.
    require(k.toLong * KeyStride <= (1L << 32),
      s"K=$k shifts keys past 2^32 (stride $KeyStride); use K <= ${(1L << 32) / KeyStride}")
    val spark = graft.Bench.benchSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def copies(df: DataFrame, shift: DataFrame => Int => DataFrame): DataFrame =
      (0 until k).map(i => shift(df)(i)).reduce(_ unionAll _)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copies(li, df => i => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride))
      .withColumn("l_partkey", col("l_partkey") + lit(i * KeyStride))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * KeyStride)))
      .repartition(64).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val o = spark.read.parquet(s"$src/orders.parquet")
    copies(o, df => i => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
      .withColumn("o_custkey", col("o_custkey") + lit(i * KeyStride)))
      .repartition(64).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val d = spark.read.parquet(s"$src/documents.parquet")
    copies(d, df => i => df
      .withColumn("doc_id", col("doc_id") + lit(i * KeyStride))
      // token-level suffix: intra-copy gram/shingle structure is
      // preserved, inter-copy similarity is destroyed (disjoint corpora)
      .withColumn("text", array_join(
        transform(split(col("text"), " "), t => concat(t, lit("_" + i))), " ")))
      .repartition(64).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"metric":"scale_gen","src":"$src","out":"$out","k":$k}""")
    spark.stop()
  }

  private def run(dir: String, qnames: Seq[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.benchSession(cpus)
    val results = qnames.map { n =>
      val fn = SparkEntry.queries(n)
      try fn(spark, dir).count() // warm-up
      catch { case NonFatal(_) => () }
      finally graft.Bench.dropAllCaches(spark)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, dir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[scale] $n failed: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.Bench.dropAllCaches(spark)
      n -> (if (ok) dt else -1.0)
    }
    // Locale-pinned 3-decimal numbers (the Bench d3 lesson: a comma
    // decimal separator would make the line unparseable JSON).
    val qs = results.map { case (n, v) =>
      "\"" + n + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_sample","cpus":$cpus,"sf":"$dir","queries":$qs}""")
    spark.stop()
  }
}
