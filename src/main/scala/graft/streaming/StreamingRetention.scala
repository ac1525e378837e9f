package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.ParquetSink

/** Incremental RETENTION MV: the cohort matrix of
  * [[graft.queries.EventQueries.gRetentionCohorts]] maintained while
  * events stream in.
  *
  * Like the substring-span family ([[StreamingSpans]]), the REPORT is
  * not append-only — a user's cohort day can only ever be set by their
  * first batch, but any later batch adds offset cells, and a late
  * event EARLIER than the user's known first day would move the whole
  * cohort row. What IS append-only (and replay/late-safe) is the
  * distinct ACTIVITY SET: (user_id, epoch_day) facts, idempotent under
  * re-delivery by PK FINAL, order-free because min() over the set is
  * order-free. The MV therefore accumulates activity rows — each
  * micro-batch pays one distinct over its own events — and the cohort
  * aggregation runs at read through the SAME `retentionFromActivity`
  * implementation as the batch query. State is (users × active days),
  * already the minimal fact set the metric is defined over.
  */
object StreamingRetention {

  // the batch query's own day constant — shared, not re-declared
  private val NanosPerDay = graft.queries.EventQueries.NanosPerDay
  private val pk = Seq("user_id", "epoch_day")

  /** Fold each micro-batch's distinct (user, day) facts into the
    * activity table (PK FINAL — replays invisible). */
  private val fold: StreamTwin.Fold =
    (_, warehouse) => (batch, maxId) => {
      // distinct facts of THIS batch only — the per-batch increment
      val partial = batch
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .select(col("user_id"), col("epoch_day"))
        .distinct()
        .withColumn("block_height", col("epoch_day"))
      ParquetSink.writeBatch(partial, s"$warehouse/retention_activity",
        maxId, pk)
    }

  private def activity(spark: SparkSession, warehouse: String): DataFrame =
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/retention_activity"), pk)
      .select(col("user_id"), col("epoch_day"))

  /** `g_stream_retention`: the cohort matrix answered from the
    * accumulated activity set. */
  val retention: Twin = Twin("g_stream_retention", "g_retention_cohorts",
    StreamingEventLog.eventSchema, StreamingEventLog.events, fold,
    (spark, wh) => graft.queries.EventQueries.retentionFromActivity(
      activity(spark, wh)))

  /** `w_stream_active_users`: the SAME activity MV answered as the
    * DAU/WAU report through the shared
    * [[graft.queries.EventQueries.activeUsersFromFacts]]. The
    * trailing-distinct window is exactly the kind of result a sink
    * could never maintain incrementally (one late fact shifts seven
    * days of wau), while the fact set absorbs replays for free — the
    * retention precedent applied to a second non-additive report. */
  val activeUsers: Twin = Twin("w_stream_active_users", "w_active_users",
    StreamingEventLog.eventSchema, StreamingEventLog.events, fold,
    (spark, wh) => graft.queries.EventQueries.activeUsersFromFacts(
      activity(spark, wh)),
    between = (spark, wh) =>
      ParquetSink.compact(spark, s"$wh/retention_activity", pk))
}
