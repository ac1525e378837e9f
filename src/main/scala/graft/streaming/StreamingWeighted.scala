package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import graft.sink.ParquetSink

/** Streaming twin for the weighted percentiles
  * (`t_stream_weighted_percentiles`).
  *
  * The quantile itself is not incrementally maintainable (one new doc
  * can shift every cut), but the (lang, value) WEIGHT HISTOGRAM the
  * nearest-rank lookup reads is purely ADDITIVE — so the MV is the
  * histogram as a summing sink (the [[StreamingAnomaly]] /
  * [[StreamingEventLog]] grid pattern: per-batch partial aggregates,
  * replay absorbed by seq, background merges invisible), and the SHARED
  * lookup ([[graft.llm.TextAnalysis.weightedPercentilesFromHist]]) runs
  * at read. State is value-cardinality-bounded, never raw docs.
  */
object StreamingWeighted {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))
  private val gridKeys = Seq("lang", "value")
  private val gridSums = Seq("wsum")

  /** `t_stream_weighted_percentiles`: the weight histogram as a
    * summing MV (merged between the waves), the shared nearest-rank
    * lookup at read. */
  val percentiles: Twin = Twin("t_stream_weighted_percentiles",
    "t_weighted_percentiles", feedSchema,
    (spark, dir) => graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars")),
    (_, warehouse) => (batch, maxId) =>
      ParquetSink.writeSummedBatch(
        graft.llm.TextAnalysis.weightHist(batch)
          .withColumn("block_height", col("value")),
        s"$warehouse/weight_hist", maxId, gridKeys),
    (spark, warehouse) =>
      graft.llm.TextAnalysis.weightedPercentilesFromHist(
        ParquetSink.readSummed(
          spark.read.parquet(s"$warehouse/weight_hist"), gridKeys, gridSums)
          .select(col("lang"), col("value"), col("wsum"))),
    between = (spark, wh) => ParquetSink.compactSummed(spark,
      s"$wh/weight_hist", gridKeys, gridSums))
}
