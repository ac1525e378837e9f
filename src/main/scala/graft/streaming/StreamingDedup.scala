package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.llm.Dedup
import graft.sink.ParquetSink

/** Incremental near-duplicate detection — the streaming twin of
  * [[graft.llm.Dedup.dMinhashPairs]], for the pipeline that dedups
  * documents AS THEY ARRIVE instead of re-running an all-corpus batch.
  *
  * Shape (same state-table architecture as the receipt→tx resolver,
  * SURVEY T1, reference TTL state in `receipts_and_outcomes.rs`):
  *
  *  - each micro-batch maps its documents to minhash signatures and
  *    LSH band-bucket rows with the same single-pass expressions as the
  *    batch operator — the candidate condition is IDENTICAL, so the
  *    accumulated streaming output equals the batch output over the
  *    same corpus (pinned in StreamingSpec);
  *  - candidates = new band rows joined against the persisted band
  *    table (new-vs-history) plus the within-batch self-match,
  *    normalized to doc_a < doc_b — a pair is discovered exactly when
  *    its LATER document arrives, never all-pairs;
  *  - verification recomputes gram-hash sets for candidate docs from
  *    the accumulated documents table (this batch's docs land there
  *    first), exactly like the batch verify stage;
  *  - at-least-once delivery is absorbed by K2 FINAL semantics: a
  *    replayed micro-batch re-emits the same (doc_a, doc_b) PKs and
  *    [[ParquetSink.readFinal]] collapses them — and the band table is
  *    written LAST, so a crash mid-batch replays against a state that
  *    has not yet seen the batch (the StreamRunner ordering contract).
  *
  * Scale (100 TB): per batch the work is proportional to the batch and
  * its candidates, not to history — the band table is only ever probed
  * by an equi-join on (band, bucket) (a shuffle-pruned hash join; at
  * warehouse scale the table is height-bucketed so old buckets prune).
  * State grows with the corpus because dedup-against-all-history
  * genuinely requires it; a dedup WINDOW (only match against the last N
  * ids) falls out of [[ParquetSink.dropBucketsBelow]], the resolver's
  * TTL mechanism.
  */
object StreamingDedup {

  val pairsPk: Seq[String] = Seq("doc_a", "doc_b")
  val docSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  /** One micro-batch fold (pure — shared by the streaming query and
    * any batch replayer): verified near-dup pairs whose LATER doc is in
    * `newDocs`, against `stateBands` (history's band rows) and
    * `allDocs` (accumulated documents INCLUDING this batch). Returns
    * (this batch's band rows, verified pairs, the DataFrames the verify
    * stage persisted — the caller unpersists EXACTLY those after its
    * writes; a session-wide `clearCache()` would also drop caller-held
    * caches, ADVICE r5). */
  def processBatchTracked(newDocs: DataFrame, stateBands: DataFrame,
      allDocs: DataFrame,
      gramHashes: String = "token_shingle_hashes(text, 3)",
      threshold: Double = 0.8): (DataFrame, DataFrame, Seq[DataFrame]) = {
    // localCheckpoint: consumed by the candidate join here AND written
    // to the band table by the caller — don't recompute signatures
    val newBands = Dedup.bandRows(
      Dedup.signatures(newDocs, gramHashes)).localCheckpoint()
    val all = stateBands.select("doc_id", "band", "bucket")
      .unionByName(newBands)
    // new-vs-(history ∪ batch): least/greatest + distinct collapses the
    // double-counted within-batch matches and multi-band hits
    val cand = newBands.as("n")
      .join(all.as("o"),
        col("n.band") === col("o.band") &&
          col("n.bucket") === col("o.bucket") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
    val (pairs, cached) =
      Dedup.verifiedPairsTracked(cand, allDocs, gramHashes, threshold)
    (newBands, pairs, cached)
  }

  /** The dedup MV fold. Warehouse tables: `dedup_docs` (the
    * accumulated corpus), `dedup_bands` (LSH state), `dedup_pairs`
    * (verified output, PK (doc_a, doc_b)). Write order per batch:
    * docs → pairs → bands last, so a crash anywhere replays the batch
    * against a band table that has not seen it; every table self-heals
    * through FINAL. */
  private val fold: StreamTwin.Fold =
    (spark, warehouse) => (batch, maxId) => {
      val docsPath = s"$warehouse/dedup_docs"
      val bandsPath = s"$warehouse/dedup_bands"
      // corpus first: the verify stage below must see this batch
      ParquetSink.writeBatch(
        batch.withColumn("block_height", col("doc_id")),
        docsPath, maxId, Seq("doc_id"))
      val allDocs = ParquetSink.readFinal(
        spark.read.parquet(docsPath), Seq("doc_id"))
        .select("doc_id", "text")
      val state =
        if (ParquetSink.hasData(bandsPath)) spark.read.parquet(bandsPath)
        else emptyBands(spark)
      val (newBands, pairs, cached) =
        processBatchTracked(batch, state, allDocs)
      ParquetSink.writeBatch(
        pairs.withColumn("block_height", col("doc_b")),
        s"$warehouse/dedup_pairs", maxId, pairsPk)
      // band state commits last (see above). Replayed band rows are
      // identical (deterministic signatures) — FINAL-safe.
      ParquetSink.writeBatch(
        newBands.withColumn("block_height", col("doc_id")),
        bandsPath, maxId, Seq("doc_id", "band"))
      // the verify stage persists per batch; drop EXACTLY those entries
      // once the writes above have consumed them — CacheManager holds
      // strong references (a long-running stream would accumulate dead
      // entries without bound)
      cached.foreach(_.unpersist())
    }

  private def emptyBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bucket")
  }

  /** Accumulated verified pairs, FINAL-deduped, in stable order. */
  private def pairsTable(spark: SparkSession, warehouse: String): DataFrame =
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/dedup_pairs"), pairsPk)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  private def documents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir).select("doc_id", "text")

  /** `d_stream_minhash`: the accumulated pairs equal the batch LSH
    * output because a pair's candidate condition fires exactly when its
    * later doc arrives. */
  val minhash: Twin = Twin("d_stream_minhash", "d_minhash_pairs", docSchema,
    documents, fold, pairsTable)

  /** `d_stream_dup_groups`: connected components derived AT READ from
    * the pair MV — the labeling is non-additive (one late pair can
    * merge two groups), but its input pair relation is the append-only
    * PK-FINAL MV, so the read runs THE shared
    * [[graft.llm.Dedup.minLabelComponents]] over it (the RFM/MAD
    * derive-at-read discipline). */
  val dupGroups: Twin = Twin("d_stream_dup_groups", "d_dup_groups",
    docSchema, documents, fold,
    (spark, wh) => Dedup.minLabelComponents(
      pairsTable(spark, wh).select(col("doc_a"), col("doc_b"))
        .localCheckpoint())
      .orderBy(col("doc_id")))
}
