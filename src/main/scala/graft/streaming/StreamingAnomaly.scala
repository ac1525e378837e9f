package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.ParquetSink

/** Incremental ANOMALY detection: the (event_type, epoch_day) daily
  * count grid maintained as a summing MV while events stream in, with
  * the integer-exact 2σ read applied on top — the data-quality tripwire
  * ([[graft.queries.EventQueries.wAnomalyZscore]]) kept hot
  * incrementally (reference analog: incremental MVs over the insert
  * stream, `indexer-clickhouse/init/02-silver-tables.sql`).
  *
  * The MV state is the daily COUNT grid — integer-additive, so order-
  * and replay-independent, exactly the additive-state contract the
  * summing sink requires (the detection itself makes poor sink state:
  * one new day shifts every day's z-score; the grid absorbs any
  * late/replayed row and the read costs O(days × types), not
  * O(events)). Detection at read reuses THE shared detector
  * [[graft.queries.EventQueries.anomalyFromDaily]] — one test, two
  * grid builders, so the streamed MV cannot drift from the batch
  * query.
  */
object StreamingAnomaly {

  private val NanosPerDay = 86400L * 1000000000L
  private val keys = Seq("event_type", "epoch_day")
  private val sums = Seq("day_count")

  /** Fold each micro-batch into the daily count grid. */
  private val fold: StreamTwin.Fold =
    (_, warehouse) => (batch, maxId) => {
      val partial = batch
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .groupBy(col("event_type"), col("epoch_day"))
        .agg(count(lit(1)).as("day_count"))
        .withColumn("block_height", col("epoch_day"))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/anomaly_summed",
        maxId, keys)
    }

  /** The daily grid twin: a compaction MERGE between the waves, then
    * `detect` over the accumulated summed grid. */
  private def gridTwin(name: String, batch: String,
      detect: DataFrame => DataFrame): Twin =
    Twin(name, batch, StreamingEventLog.eventSchema, StreamingEventLog.events,
      fold,
      (spark, wh) => detect(ParquetSink.readSummed(
        spark.read.parquet(s"$wh/anomaly_summed"), keys, sums)
        .select(col("event_type"), col("epoch_day"), col("day_count"))),
      between = (spark, wh) =>
        ParquetSink.compactSummed(spark, s"$wh/anomaly_summed", keys, sums))

  /** `w_stream_anomaly`: the shared integer-exact 2σ detector. */
  val zscore: Twin = gridTwin("w_stream_anomaly", "w_anomaly_zscore",
    graft.queries.EventQueries.anomalyFromDaily)

  /** `w_stream_anomaly_mad`: the ROBUST detector over the SAME grid —
    * the median/MAD read is not additive (a new day can move both
    * medians), but its input grid is, so the detection runs at read
    * through THE shared [[graft.queries.EventQueries.madFromDaily]]. */
  val mad: Twin = gridTwin("w_stream_anomaly_mad", "w_anomaly_mad",
    graft.queries.EventQueries.madFromDaily)
}
