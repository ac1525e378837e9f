package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}
import graft.queries.EventQueries
import graft.sink.ParquetSink

/** Streaming twins for the round-10 batch-only event operators
  * (VERDICT r10 #5), each on an established state pattern:
  *
  *  - `w_stream_gap_fill`: the hourly high-value DECIMAL grid is
  *    integer/decimal-ADDITIVE, so it streams as a summing MV (the
  *    [[StreamingAnomaly]] pattern — the forward-FILL itself would be
  *    terrible sink state: one late hour shifts every later filled
  *    value, while the grid absorbs any replay); the dense-grid
  *    forward fill runs at read through THE shared
  *    [[EventQueries.gapFillFromHourly]].
  *  - `k_stream_scd2` / `w_stream_interval_coverage`: SCD2 runs and
  *    interval unions are NOT additive (a late event can split a run /
  *    merge sessions), but both derive from an APPEND-ONLY event log —
  *    a row's (event_id → user, ts, type) facts never change — so the
  *    MV is the log itself under PK FINAL (the [[StreamingSpans]]
  *    read-time-aggregation contract) and the analytics run at read
  *    through the shared [[EventQueries.scd2FromEvents]] /
  *    [[EventQueries.coverageFromEvents]]. (At production scale the
  *    read would ride the summing/hourly MVs for its bounded grids;
  *    the log IS the reference's own bronze-table design.)
  *
  * All run the [[StreamTwin]] protocol with a compaction between the
  * waves. The append-only log here is THE fact log: the sample/pareto
  * twins ([[StreamingSample]]) land their document facts through the
  * same fold.
  */
object StreamingEventLog {

  /** The event feed every event twin streams: `doc_id` carries the
    * event_id (the chunk writer keys on it) and `ts` the normalized
    * epoch-nanos Long. */
  private[streaming] val eventSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private[streaming] def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(col("event_id").as("doc_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  // ---------------- the append-only fact log -------------------------

  /** Land each micro-batch as-is under PK FINAL on doc_id: a row's facts
    * never change, so replays collapse by key. */
  private[streaming] val logFold: StreamTwin.Fold =
    (_, warehouse) => (batch, maxId) =>
      ParquetSink.writeBatch(batch.withColumn("block_height", col("doc_id")),
        s"$warehouse/facts", maxId, Seq("doc_id"))

  private[streaming] def compactLog(spark: SparkSession,
      warehouse: String): Unit =
    ParquetSink.compact(spark, s"$warehouse/facts", Seq("doc_id"))

  private[streaming] def readLog(spark: SparkSession,
      warehouse: String): DataFrame =
    ParquetSink.readFinal(spark.read.parquet(s"$warehouse/facts"),
      Seq("doc_id"))

  private def logTwin(name: String, batch: String,
      read: DataFrame => DataFrame): Twin =
    Twin(name, batch, eventSchema, events, logFold,
      (spark, wh) => read(readLog(spark, wh)), between = compactLog)

  private val gridKeys = Seq("event_type", "epoch_hour")
  private val gridSums = Seq("hour_dec")

  /** `w_stream_gap_fill`: the hourly grid as a summing MV (merged
    * between the waves), the dense forward fill at read. */
  val gapFill: Twin = Twin("w_stream_gap_fill", "w_gap_fill", eventSchema,
    events,
    (_, warehouse) => (batch, maxId) =>
      ParquetSink.writeSummedBatch(
        EventQueries.hourlyHighValue(batch)
          .withColumn("block_height", col("epoch_hour")),
        s"$warehouse/hourly_summed", maxId, gridKeys),
    (spark, warehouse) => EventQueries.gapFillFromHourly(
      ParquetSink.readSummed(
        spark.read.parquet(s"$warehouse/hourly_summed"), gridKeys, gridSums)
        .select(col("event_type"), col("epoch_hour"), col("hour_dec"))),
    between = (spark, wh) => ParquetSink.compactSummed(
      spark, s"$wh/hourly_summed", gridKeys, gridSums))

  /** `k_stream_scd2`: state runs → validity intervals from the log. */
  val scd2: Twin = logTwin("k_stream_scd2", "k_scd2_history", log =>
    EventQueries.scd2FromEvents(log.select(col("user_id"),
      expr("ts DIV 1000").as("ts_us"), col("doc_id").as("event_id"),
      col("event_type"))))

  /** `w_stream_interval_coverage`: interval-union busy time from the log. */
  val coverage: Twin = logTwin("w_stream_interval_coverage",
    "w_interval_coverage", log =>
      EventQueries.coverageFromEvents(log.sparkSession, log.select(
        col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("doc_id").as("event_id"))))

  /** `w_stream_funnel`: funnel levels are NOT additive (one late event
    * can upgrade a user's deepest chain), but they derive from the log
    * through the SHARED [[EventQueries.funnelFromEvents]] at read. */
  val funnel: Twin = logTwin("w_stream_funnel", "w_funnel_steps", log =>
    EventQueries.funnelFromEvents(log.sparkSession,
      log.select(col("user_id"), col("ts"), col("event_type")),
      86400L * 1000000000L))

  /** `w_stream_rfm`: quartile scores are non-additive (a late purchase
    * moves boundaries), but they derive from the purchase rows of the
    * log through the SHARED [[EventQueries.rfmFromPurchases]]. */
  val rfm: Twin = logTwin("w_stream_rfm", "w_rfm", log =>
    EventQueries.rfmFromPurchases(log
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts DIV 1000L").as("ts_us"),
        col("value"))))

  // ---------------- streaming tombstone deletes ----------------------

  /** Feed rows for the tombstone scenario: the batch builder's four
    * waves (load / delete / REPLAYED delete / resurrect —
    * [[EventQueries.kTombstoneDelete]]) serialized as one ordered feed.
    * `doc_id` (the feed's chunk/order key) encodes (wave, event_id) so
    * chunk boundaries never reorder waves; `seq` is each row's WAVE
    * version — the ReplacingMergeTree `ver` the sink must preserve
    * regardless of how micro-batches slice the feed. */
  private val tombstoneFeedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("block_height", LongType),
    StructField("is_deleted", LongType),
    StructField("seq", LongType)))

  private def tombstoneWaves(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .withColumn("block_height", pmod(col("event_id"), lit(100)))
    def wave(df: DataFrame, waveIdx: Long, seq: Long,
        deleted: Long): DataFrame =
      df.withColumn("is_deleted", lit(deleted))
        .withColumn("seq", lit(seq))
        .withColumn("doc_id",
          lit(waveIdx * 1000000000L) + col("event_id"))
    val deletes = e.filter(pmod(col("event_id"), lit(7)) === 0)
    val resurrect = e.filter(pmod(col("event_id"), lit(21)) === 0)
    wave(e, 0, 1, 0)
      .unionByName(wave(deletes, 1, 2, 1))
      .unionByName(wave(deletes, 2, 2, 1)) // at-least-once redelivery
      .unionByName(wave(resurrect, 3, 3, 0))
      .select(tombstoneFeedSchema.fieldNames.map(col): _*)
  }

  /** `k_stream_tombstone`: the tombstone-DELETE path through the
    * streaming engine. Each micro-batch is split by the rows' WAVE seq
    * (≤ 4 distinct values by construction — a bounded collect) and
    * appended per wave, so version semantics are independent of
    * micro-batch slicing; a replayed wave re-inserts under its original
    * seq and FINAL's deterministic tie-break absorbs it. The stop comes
    * after 4 of the 5 chunks — past the start of the delete waves, so
    * tombstones exist at the pause — and the compaction between the
    * waves must keep them. The final read hides flagged keys and must
    * equal the closed-form alive set. */
  val tombstone: Twin = Twin("k_stream_tombstone", "k_tombstone_delete",
    tombstoneFeedSchema, tombstoneWaves,
    (_, warehouse) => (batch, _) => {
      val seqs = batch.select(col("seq")).distinct()
        .collect().map(_.getLong(0)).sorted
      seqs.foreach { s =>
        ParquetSink.writeBatch(
          batch.filter(col("seq") === s)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("block_height"), col("is_deleted")),
          s"$warehouse/tomb", s, Seq("event_id"))
      }
    },
    (spark, warehouse) => {
      import graft.validate.Validation.h60
      import graft.Tables.dsum
      ParquetSink.readFinalWithDeletes(
        spark.read.parquet(s"$warehouse/tomb"), Seq("event_id"))
        .agg(
          count(lit(1)).as("n_alive"),
          bit_xor(h60(col("event_id").cast("string"))).as("alive_fp"),
          dsum(col("value"), 2).as("sum_value"))
    },
    between = (spark, wh) =>
      ParquetSink.compact(spark, s"$wh/tomb", Seq("event_id")),
    firstWave = 4)
}
