package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sink.ParquetSink
import graft.llm.TextAnalysis

/** Streaming twin of the DSIR importance-weight selector
  * ([[graft.llm.TextAnalysis.tDsirWeights]]).
  *
  * The WEIGHTS are the canonical not-incrementally-materializable
  * result — every arriving document shifts the raw-corpus bucket model
  * and with it every already-scored document's weight (the same
  * model-drift shape as [[StreamingLmScore]]). What IS incremental is
  * the fact table underneath: the per-(doc, bucket) token counts are
  * computed entirely from their one document, so they arrive once and
  * never change → a PK-FINAL table keyed (doc_id, b), replay-safe by
  * the sink's own contract. The bucket MODEL is a B-bounded aggregation
  * of that table and is derived AT READ together with the fold and the
  * top-k, through THE shared [[TextAnalysis.dsirFromCounts]] — so
  * streamed equals batch bit-for-bit and aliases its oracle.
  *
  * At 100 TB the facts table is (corpus docs × ≤B) rows of integers,
  * hash-partitioned parquet; the read's wide work is one B-bounded
  * aggregation plus a broadcast rejoin — the same plan as batch. */
object StreamingDsir {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType)))
  private val pk = Seq("doc_id", "b")

  /** `t_stream_dsir`: per micro-batch, the batch docs' bucket counts
    * land under PK FINAL (the default English target, evaluated per
    * document while its row is in hand and stored as the `is_target`
    * fact); a compaction runs between the waves; the read weighs the
    * accumulated corpus against the accumulated bucket model through
    * the shared model + fold + top-k. */
  val dsir: Twin = Twin("t_stream_dsir", "t_dsir_weights", feedSchema,
    (spark, dir) => graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")),
    (_, warehouse) => (batch, maxId) =>
      ParquetSink.writeBatch(
        TextAnalysis.dsirDocBucketCounts(batch)
          .withColumn("block_height", col("doc_id")),
        s"$warehouse/dsir_db", maxId, pk),
    (spark, warehouse) => TextAnalysis.dsirFromCounts(
      ParquetSink.readFinal(spark.read.parquet(s"$warehouse/dsir_db"), pk)
        .select(col("doc_id"), col("is_target"), col("b"), col("c")), 100),
    between = (spark, wh) => ParquetSink.compact(spark, s"$wh/dsir_db", pk))
}
