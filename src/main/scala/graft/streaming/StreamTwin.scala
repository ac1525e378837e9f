package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.sink.ParquetSink

/** One streaming twin, declared once: the Spark version of a reference
  * materialized view, keeping the answer of the batch query `batch` up
  * to date while its input arrives (reference analog: the incremental
  * MVs over the insert stream, `indexer-clickhouse/init/02-silver-tables
  * .sql`). A twin keeps only what is its own:
  *
  *  - `feed`: the arrival rows from the table dir, ordered on the
  *    `doc_id` rail and landed as JSON chunks with `schema`;
  *  - `fold`: opens the MV on a warehouse for one drain and returns the
  *    per-micro-batch body `(batch, maxId) => Unit`;
  *  - `between`: the maintenance step between the two waves (a
  *    compaction, a merge, or nothing);
  *  - `read`: answers the declared query from the warehouse;
  *  - `setup`: a once-per-invocation producer pass (a stored model the
  *    fold streams through), `source`: the streaming plan when it is
  *    more than the chunk feed (the two-stream join), and `firstWave`:
  *    how many of the [[StreamTwin.Chunks]] land before the stop.
  *
  * `fold` and `read` are functions of the warehouse alone, so whatever
  * `setup` produces goes into the warehouse's model store
  * ([[graft.sink.ModelStore]]) on purpose: a drain started later — the
  * restart, a third run, a soak wave — folds through the same fixed
  * model the first wave used, as a restarted MV would.
  *
  * Naming `batch` is the whole oracle story: the twin answers with that
  * query's oracle, is correctness-only (its cost is micro-batch
  * orchestration, not data volume), and is covered by the generic
  * stream ≡ batch property — all derived from [[StreamTwin.twins]]. */
final case class Twin(
    name: String,
    batch: String,
    schema: StructType,
    feed: (SparkSession, String) => DataFrame,
    fold: StreamTwin.Fold,
    read: (SparkSession, String) => DataFrame,
    between: (SparkSession, String) => Unit = (_, _) => (),
    setup: (SparkSession, DataFrame, String) => Unit = (_, _, _) => (),
    source: (SparkSession, String, StructType) => DataFrame =
      StreamTwin.readDocStream,
    firstWave: Int = 2)

/** The streaming-twin harness: the drain, the two-wave restart
  * protocol, and the registry of every twin.
  *
  * Structured Streaming's contract (SIGMOD 2018) is that a checkpoint
  * belongs to exactly one query, and exactly-once falls out of a
  * replayable source plus an idempotent sink. Here the source is the
  * chunked file feed (byte-identical chunks on re-landing), the sinks
  * are the PK-FINAL / summing parquet tables, and every invocation
  * streams into its OWN fresh feed + warehouse
  * ([[ParquetSink.scratchDir]]) — so no two queries, threads or JVMs
  * ever share a checkpoint. */
object StreamTwin {

  /** Opens a twin's MV on a warehouse for one drain and returns the
    * per-micro-batch body `(batch, maxId) => Unit`. */
  type Fold = (SparkSession, String) => (DataFrame, Long) => Unit

  /** Every feed is cut into this many chunks (one per micro-batch). */
  val Chunks = 5

  /** The scratch dirs of one invocation. */
  final case class Landed(feed: String, warehouse: String)

  /** Persist a relation as chunked JSON-lines files — the arrival feed,
    * one chunk per micro-batch. Mtimes are stamped from each chunk's
    * first doc_id (Spark's file source orders by MODIFICATION TIME, and
    * stamping from content keeps re-writes and later arrivals monotonic
    * — the BlockFileSource lesson). Chunk boundaries are a pure function
    * of (rows, nChunks), so landing `takeChunks = 2` now and the full
    * feed later produces byte-identical early files — the checkpoint
    * recognizes them as consumed and resumes at the first unseen chunk.
    *
    * DISTRIBUTED: rows never collect to the driver. Global ranks come
    * from range-repartition + per-partition sort + `zipWithIndex` (one
    * tiny count-per-partition job); rows then hash-shuffle on their
    * CHUNK id and each executor writes its chunks' files directly.
    * Driver state: the total count and one task per chunk file. */
  def writeDocChunks(spark: SparkSession, docs: DataFrame, dir: String,
      nChunks: Int, takeChunks: Int, schema: StructType): Unit = {
    new java.io.File(dir).mkdirs()
    val cols = schema.fieldNames.toSeq
    val total = docs.count()
    val per = math.max(1L, (total + nChunks - 1) / nChunks)
    val ordered = docs
      .select(to_json(struct(cols.map(col): _*)).as("j"), col("doc_id"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val take = takeChunks.toLong
    import spark.implicits._
    val chunked = ordered.rdd.zipWithIndex()
      .flatMap { case (r, i) =>
        val c = i / per
        if (c < take) Some((c, i, r.getString(0), r.getLong(1))) else None
      }
      .toDF("chunk", "rank", "j", "doc_id")
    chunked
      .repartition(math.min(nChunks, 32), col("chunk"))
      .sortWithinPartitions(col("chunk"), col("rank"))
      .foreachPartition { (it: Iterator[Row]) =>
        // rows arrive (chunk, rank)-sorted; a partition may hold several
        // whole chunks — write each as one file, named and mtime-stamped
        // from its first doc_id
        val buf = it.buffered
        while (buf.hasNext) {
          val c = buf.head.getLong(0)
          val chunk = Seq.newBuilder[Row]
          while (buf.hasNext && buf.head.getLong(0) == c) chunk += buf.next()
          val rows = chunk.result()
          val firstId = rows.head.getLong(3)
          val p = java.nio.file.Paths.get(dir, f"docs_$firstId%012d.json")
          java.nio.file.Files.writeString(p,
            rows.map(_.getString(2)).mkString("", "\n", "\n"))
          p.toFile.setLastModified(1600000000000L + firstId * 1000L): Unit
        }
      }
  }

  /** Streaming read of a chunk feed: one chunk file per micro-batch, in
    * doc_id order (mtime-stamped by [[writeDocChunks]]). */
  def readDocStream(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .json(dir)

  /** THE drain: run the twin over every chunk its checkpoint has not
    * consumed yet, then stop (Trigger.AvailableNow — call again after
    * new chunks land and the same checkpoint continues from the first
    * unseen file). Each micro-batch is checkpointed locally once,
    * skipped when empty, and folded with its max doc_id as the insert
    * sequence. */
  def drain(spark: SparkSession, twin: Twin, feed: String,
      warehouse: String): Unit = {
    val body = twin.fold(spark, warehouse)
    val query = twin.source(spark, feed, twin.schema)
      .writeStream
      .option("checkpointLocation", s"$warehouse/_checkpoint")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.localCheckpoint()
        if (!batch.isEmpty) {
          val maxId = batch.agg(max(col("doc_id"))).collect()(0).getLong(0)
          body(batch, maxId)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** THE protocol: a fresh feed + warehouse for this invocation; land
    * the first `firstWave` chunks and drain; the twin's between-waves
    * step; land every chunk (byte-identical early files) and drain again
    * on the same checkpoint — the mid-stream restart. */
  def stream(spark: SparkSession, twin: Twin, dir: String): Landed = {
    graft.Tables.tune(spark)
    val run = Landed(ParquetSink.scratchDir(s"${twin.name}_feed"),
      ParquetSink.scratchDir(s"${twin.name}_wh"))
    val rows = twin.feed(spark, dir)
    twin.setup(spark, rows, run.warehouse)
    writeDocChunks(spark, rows, run.feed, Chunks, twin.firstWave, twin.schema)
    drain(spark, twin, run.feed, run.warehouse)
    twin.between(spark, run.warehouse)
    writeDocChunks(spark, rows, run.feed, Chunks, Int.MaxValue, twin.schema)
    drain(spark, twin, run.feed, run.warehouse)
    run
  }

  /** The declared query of a twin: the protocol, then its read. */
  def query(twin: Twin): (SparkSession, String) => DataFrame =
    (spark, dir) => twin.read(spark, stream(spark, twin, dir).warehouse)

  /** THE registry: every streaming twin. */
  lazy val twins: Seq[Twin] = Seq(
    StreamingDedup.minhash, StreamingDedup.dupGroups,
    StreamingPrefix.prefix, StreamingSpans.spans,
    StreamingCorpusClean.clean,
    StreamingRetention.retention, StreamingRetention.activeUsers,
    StreamingDatasetCard.card, StreamingHeavyHitters.heavyHitters,
    StreamingWeighted.percentiles, StreamingLmScore.lmScore,
    StreamingDsir.dsir,
    StreamingSample.priority, StreamingSample.pareto,
    StreamingAnomaly.zscore, StreamingAnomaly.mad,
    StreamingRolling.rolling7d, StreamingRangeJoin.rangeJoin,
    StreamingEventLog.gapFill, StreamingEventLog.scd2,
    StreamingEventLog.coverage, StreamingEventLog.funnel,
    StreamingEventLog.rfm, StreamingEventLog.tombstone,
    StreamingGraph.pagerank, StreamingGraph.bfs, StreamingGraph.components,
    StreamingAnnIndex.lsh, StreamingAnnIndex.kmeans,
    StreamingAnnIndex.decontaminate, StreamingAnnIndex.prune)

  lazy val byName: Map[String, Twin] = {
    val m = twins.map(t => t.name -> t).toMap
    require(m.size == twins.size, "duplicate twin name")
    m
  }
}
