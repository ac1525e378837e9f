package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Streaming twins for priority sampling (`t_stream_sample_priority`)
  * and the Pareto frontier (`t_stream_pareto`).
  *
  * Neither result is additive — one newly arrived heavy doc can evict
  * the current k-th member of its language, and one new point can
  * dominate away half the frontier — but BOTH are pure functions of an
  * append-only fact SET (a document's weight/coordinates never
  * change). So the MV is the fact log itself under PK FINAL (the
  * [[StreamingEventLog]] / [[StreamingSpans]] read-time-aggregation
  * contract) and the SHARED reads
  * ([[graft.llm.TextAnalysis.samplePriorityFromFacts]] /
  * [[graft.llm.TextAnalysis.paretoFromPoints]]) run at read —
  * identical oracles to the batch twins, replay-idempotent by key.
  *
  * Both land their facts through THE fact log
  * ([[StreamingEventLog.logFold]]) under the [[StreamTwin]] protocol,
  * compacted between the waves.
  */
object StreamingSample {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))
  private val paretoSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_chars", LongType),
    StructField("n_tokens", LongType)))

  private def factTwin(name: String, batch: String, schema: StructType,
      feed: (SparkSession, String) => DataFrame,
      read: DataFrame => DataFrame): Twin =
    Twin(name, batch, schema, feed, StreamingEventLog.logFold,
      (spark, wh) => read(StreamingEventLog.readLog(spark, wh)),
      between = StreamingEventLog.compactLog)

  /** `t_stream_sample_priority`: the shared bottom-k at read. */
  val priority: Twin = factTwin("t_stream_sample_priority",
    "t_sample_priority", feedSchema,
    (spark, dir) => graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars")),
    log => graft.llm.TextAnalysis.samplePriorityFromFacts(
      log.select(col("doc_id"), col("lang"), col("n_chars"))))

  /** `t_stream_pareto`: the shared skyline at read. */
  val pareto: Twin = factTwin("t_stream_pareto", "t_pareto_frontier",
    paretoSchema,
    (spark, dir) => graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long")
          .as("n_tokens")),
    log => graft.llm.TextAnalysis.paretoFromPoints(
      log.select(col("doc_id"), col("n_chars"), col("n_tokens"))))
}
