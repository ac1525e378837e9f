package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sink.ParquetSink
import graft.llm.TextAnalysis

/** Streaming twin of the trigram-LM quality scorer
  * ([[graft.llm.TextAnalysis.tLmScore]]).
  *
  * The LM SCORE itself is the canonical not-incrementally-materializable
  * result: a later train-split document changes the model and with it
  * every already-scored document's number. What IS incremental is
  * everything underneath:
  *
  *  - the three MODEL relations (unigram/bigram/trigram counts over the
  *    train split) are integer-ADDITIVE → three summing MVs (the
  *    [[StreamingHeavyHitters]] pattern), replay-safe by batch id;
  *    train membership is a pure function of doc_id, so each
  *    micro-batch classifies its own rows with the SHARED
  *    [[TextAnalysis.withSplit]];
  *  - the per-doc DISTINCT-trigram facts never change once the doc has
  *    arrived → a PK-FINAL table keyed (doc_id, w1, w2, w3) (the
  *    [[StreamingEventLog]] read-time-aggregation contract).
  *
  * The read joins the accumulated facts against the accumulated model
  * through THE shared [[TextAnalysis.lmScoreFromCounts]] — so streamed
  * equals batch bit-for-bit, replays and restarts absorbed by the two
  * sinks' own contracts. At 100 TB the model MVs are vocab-bounded and
  * the facts table is the corpus's distinct-trigram mass,
  * hash-partitioned parquet either way. */
object StreamingLmScore {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val uniKeys = Seq("token")
  private val biKeys = Seq("w1", "w2")
  private val triKeys = Seq("w1", "w2", "w3")
  private val docKeys = Seq("doc_id", "w1", "w2", "w3")

  /** Per micro-batch: fold the train rows into the three model summing
    * MVs and land every doc's trigram facts under PK FINAL. */
  private val fold: StreamTwin.Fold =
    (_, warehouse) => (batch, maxId) => {
      val toks = TextAnalysis.withSplit(batch)
        .select(col("doc_id"), col("split"),
          TextAnalysis.tokens(col("text")).as("t"))
        .localCheckpoint()
      val train = toks.filter(col("split") === "train")
      def summed(partial: DataFrame, table: String, keys: Seq[String]): Unit =
        ParquetSink.writeSummedBatch(
          partial.withColumn("block_height", lit(maxId)),
          s"$warehouse/$table", maxId, keys)
      summed(TextAnalysis.lmUnigramCounts(train)
        .withColumnRenamed("cu", "cnt"), "lm_uni", uniKeys)
      summed(TextAnalysis.lmBigramCounts(train)
        .withColumnRenamed("cb", "cnt"), "lm_bi", biKeys)
      summed(TextAnalysis.lmTrigramCounts(train)
        .withColumnRenamed("c3", "cnt"), "lm_tri", triKeys)
      ParquetSink.writeBatch(
        TextAnalysis.lmDocTrigrams(toks)
          .withColumn("block_height", col("doc_id")),
        s"$warehouse/lm_doc_tri", maxId, docKeys)
    }

  /** Score the accumulated corpus against the accumulated model —
    * the shared scoring join over the four MV reads. */
  private def readScores(spark: SparkSession, warehouse: String): DataFrame = {
    def model(table: String, keys: Seq[String], as: String): DataFrame =
      ParquetSink.readSummed(
        spark.read.parquet(s"$warehouse/$table"), keys, Seq("cnt"))
        .withColumnRenamed("cnt", as)
        .select((keys :+ as).map(col): _*)
    val uni = model("lm_uni", uniKeys, "cu")
    val big = model("lm_bi", biKeys, "cb")
    val tri = model("lm_tri", triKeys, "c3")
    val nTotal = uni.agg(sum(col("cu"))).collect()(0).getLong(0)
    val docTri = ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/lm_doc_tri"), docKeys)
      .select(col("doc_id"), col("w1"), col("w2"), col("w3"), col("n"))
    TextAnalysis.lmScoreFromCounts(docTri, uni, big, tri, nTotal)
  }

  /** `t_stream_lm_score`: the model + facts MVs, all four compacted
    * between the waves, then the shared scoring read. */
  val lmScore: Twin = Twin("t_stream_lm_score", "t_lm_score", feedSchema,
    (spark, dir) => graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")),
    fold, readScores,
    between = (spark, wh) => {
      Seq("lm_uni" -> uniKeys, "lm_bi" -> biKeys, "lm_tri" -> triKeys)
        .foreach { case (t, keys) =>
          ParquetSink.compactSummed(spark, s"$wh/$t", keys, Seq("cnt"))
        }
      ParquetSink.compact(spark, s"$wh/lm_doc_tri", docKeys)
    })
}
