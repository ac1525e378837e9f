package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sink.ParquetSink
import graft.llm.TextAnalysis

/** Incremental DATASET CARD: the per-(split, language) composition
  * report maintained as a summing MV while documents stream in — the
  * LLM-side use of the SummingMergeTree-analog sink the NEAR gold
  * rollup exercises (reference analog: incremental MVs over the insert
  * stream, `indexer-clickhouse/init/02-silver-tables.sql` MV pattern).
  *
  * Each micro-batch folds to one tiny (split, lang) partial — counts
  * and exact token sums, both integer-additive and so order- and
  * replay-independent — and lands through
  * [[ParquetSink.writeSummedBatch]] with a content-derived insert seq.
  * Structured Streaming's checkpoint gives replay-stable batch
  * boundaries (byte-identical chunk files, same batch content), which
  * is exactly the contract the summing sink's replay dedup requires;
  * reads collapse merged rows plus the partial tail, so the card is
  * queryable mid-stream at O(splits × languages) cost instead of a
  * full-corpus re-aggregation.
  */
object StreamingDatasetCard {

  private val cardSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))
  private val keys = Seq("split", "lang")
  private val sums = Seq("n_docs", "total_tokens")

  /** `t_stream_dataset_card`: each micro-batch folds to one tiny
    * (split, lang) partial in the summing table; a compaction MERGE
    * runs between the waves (later partials must stay above the merge
    * watermark), and the read attaches token shares to the summed
    * card. */
  val card: Twin = Twin("t_stream_dataset_card", "t_dataset_card",
    cardSchema,
    (spark, dir) => graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang")),
    (_, warehouse) => (batch, maxId) => {
      val partial = TextAnalysis.withSplit(batch)
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("text"))).cast("long"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .withColumn("block_height", lit(maxId))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/card_summed",
        maxId, keys)
    },
    (spark, warehouse) => {
      val summed = ParquetSink.readSummed(
        spark.read.parquet(s"$warehouse/card_summed"), keys, sums)
      val totals = summed.groupBy(col("split"))
        .agg(sum(col("total_tokens")).as("split_tokens"))
      summed.join(broadcast(totals), Seq("split"))
        .withColumn("token_share", col("total_tokens").cast("double") /
          col("split_tokens").cast("double"))
        .select(col("split"), col("lang"), col("n_docs"),
          col("total_tokens"), col("token_share"))
        .orderBy(col("split"), col("lang"))
    },
    between = (spark, wh) =>
      ParquetSink.compactSummed(spark, s"$wh/card_summed", keys, sums))
}
