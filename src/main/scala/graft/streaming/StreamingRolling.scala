package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sink.ParquetSink

/** Incremental ROLLING-WINDOW MV: [[graft.queries.EventQueries
  * .wRolling7d]]'s 7-day rolling totals maintained while events stream
  * in — the window-analytics use of the SummingMergeTree-analog sink
  * (reference analog: incremental MVs over the insert stream,
  * `indexer-clickhouse/init/02-silver-tables.sql`).
  *
  * The MV state is the DAILY GRID, not the window: each micro-batch
  * folds to (event_type, epoch_day) partials with DECIMAL value sums
  * (exact, hence order- and replay-independent — the additive-state
  * contract the summing sink requires), and the RANGE-frame window is
  * applied AT READ over the summed grid. Windowed aggregates make poor
  * sink state (a late row would have to rewrite 7 days of rolling
  * totals); additive daily cells absorb ANY late/replayed row, and the
  * read-side window over the days × types grid costs O(grid), not
  * O(events).
  */
object StreamingRolling {

  // the batch query's own day constant — shared, not re-declared
  private val NanosPerDay = graft.queries.EventQueries.NanosPerDay
  private val keys = Seq("event_type", "epoch_day")
  private val sums = Seq("day_dec")

  /** `w_stream_rolling_7d`: each micro-batch folds into the daily
    * summing grid (merged between the waves); the RANGE-frame window
    * runs at read over the summed grid. */
  val rolling7d: Twin = Twin("w_stream_rolling_7d", "w_rolling_7d",
    StreamingEventLog.eventSchema, StreamingEventLog.events,
    (_, warehouse) => (batch, maxId) => {
      val partial = batch
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .groupBy(col("event_type"), col("epoch_day"))
        .agg(sum(col("value").cast(DecimalType(28, 2))).as("day_dec"))
        .withColumn("day_dec", col("day_dec").cast(DecimalType(28, 2)))
        .withColumn("block_height", col("epoch_day"))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/rolling_summed",
        maxId, keys)
    },
    (spark, warehouse) => {
      val grid = ParquetSink.readSummed(
        spark.read.parquet(s"$warehouse/rolling_summed"), keys, sums)
      val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
        .rangeBetween(-6, Window.currentRow)
      grid
        .withColumn("rolling_7d", sum(col("day_dec")).over(w).cast("double"))
        .select(col("event_type"), col("epoch_day"),
          col("day_dec").cast("double").as("day_value"), col("rolling_7d"))
        .orderBy(col("event_type"), col("epoch_day"))
    },
    between = (spark, wh) =>
      ParquetSink.compactSummed(spark, s"$wh/rolling_summed", keys, sums))
}
