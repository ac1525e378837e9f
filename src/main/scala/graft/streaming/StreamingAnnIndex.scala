package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.sink.ParquetSink

/** Streaming maintenance of the sign-bucket ANN index (VERDICT r6 #5):
  * the LSH bucket table of [[graft.llm.Similarity.sAnnLsh]] kept as an
  * incrementally-absorbed streaming MV instead of a batch build — the
  * index a training-data pipeline needs when the corpus is a feed, not
  * a snapshot (new documents must become searchable without re-hashing
  * the world).
  *
  * Design, at the 100-TB lens:
  *  - the plane set is the index CONFIG — bounded (nPlanes·d doubles),
  *    fixed at index creation and shipped into each micro-batch as
  *    codegen'd literals ([[graft.llm.Similarity.signBucketCol]] — the
  *    SAME column expression as the batch build, so the two cannot
  *    drift); re-deriving planes from arriving data would silently
  *    re-bucket history;
  *  - each micro-batch is one NARROW map (norm + sign bits per vector,
  *    no join, no shuffle) appended through the ReplacingMergeTree-
  *    analog sink keyed on vec_id: an at-least-once redelivery of a
  *    chunk collapses by FINAL instead of duplicating index rows, and
  *    a mid-stream restart resumes from the checkpoint (the
  *    [[StreamTwin]] protocol);
  *  - search is [[graft.llm.Similarity.annLshSearch]] over the
  *    accumulated table — one shared search implementation over two
  *    index builds, so "the streamed index answers the probe set
  *    identically to the batch index" is pinned by construction plus
  *    the shared DuckDB oracle (the dataset-card twin pattern).
  *
  * Reference analog: the reference maintains its silver tables as
  * incrementally-absorbed MVs over the block stream
  * (clickhouse/init/02-silver-mvs.sql); this applies the same
  * build-as-you-ingest discipline to an ANN index.
  */
object StreamingAnnIndex {

  /** Feed schema: vec_id rides the chunk writer's `doc_id` rail (the
    * writer orders/names files by that column); embeddings are cast to
    * array<double> BEFORE the JSON feed — Java double round-trips
    * through JSON text exactly, so the streamed vectors are
    * bit-identical to the parquet originals. */
  private val vecSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("embedding"))

  /** A micro-batch as (vec_id, emb, nrm). */
  private def normed(batch: DataFrame): DataFrame =
    batch.select(col("doc_id").as("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", sqrt(expr("dot_product(emb, emb)")))

  /** Append `index(batch)` to the PK-FINAL table `table`, keyed on vec_id. */
  private def indexFold(table: String,
      index: (SparkSession, String) => DataFrame => DataFrame): StreamTwin.Fold =
    (spark, warehouse) => {
      val f = index(spark, warehouse)
      (batch, maxId) => ParquetSink.writeBatch(
        f(normed(batch)).withColumn("block_height", col("vec_id")),
        s"$warehouse/$table", maxId, Seq("vec_id"))
    }

  private def indexRead(spark: SparkSession, warehouse: String,
      table: String): DataFrame =
    ParquetSink.readFinal(spark.read.parquet(s"$warehouse/$table"),
      Seq("vec_id"))

  /** PRODUCER pass: train the coarse quantizer on the full corpus and
    * persist it versioned in the warehouse's model store — the fold
    * and the read load it back, so the corpus streams through the
    * FIXED stored model. */
  private def trainQuantizer(modelId: String)
      : (SparkSession, DataFrame, String) => Unit =
    (spark, rows, warehouse) =>
      graft.sink.ModelStore.saveKmeans(spark, s"$warehouse/model", modelId,
        1L, graft.llm.Similarity.kmeansCentroids(
          normed(rows).localCheckpoint(), 8, 2))

  private def stored(spark: SparkSession, warehouse: String,
      modelId: String): Array[Array[Double]] =
    graft.sink.ModelStore.loadKmeans(spark, s"$warehouse/model", modelId)

  /** `s_stream_ann_lsh`: the sign-bucket index built by streaming the
    * embeddings, then the batch query's exact probe set (20 queries,
    * k = 3, 4 planes) over the streamed index. The plane set — the
    * index config, same derivation as the batch build — is fixed once
    * per invocation and rides the warehouse's model store (`lsh`). */
  val lsh: Twin = Twin("s_stream_ann_lsh", "s_ann_lsh", vecSchema, vectors,
    indexFold("ann_vectors", (spark, wh) => {
      val planes =
        graft.sink.ModelStore.loadLshPlanes(spark, s"$wh/model", "ann_planes")
      _.withColumn("bucket", graft.llm.Similarity.signBucketCol(planes))
    }),
    (spark, wh) => graft.llm.Similarity.annLshSearch(
      indexRead(spark, wh, "ann_vectors")
        .select("vec_id", "emb", "nrm", "bucket"), 3, 20, 4),
    setup = (spark, rows, wh) => graft.sink.ModelStore.saveLshPlanes(spark,
      s"$wh/model", "ann_planes", 1L, graft.llm.Similarity.annPlanes(
        rows.select(col("doc_id").as("vec_id"), col("embedding").as("emb")),
        4)))

  /** `s_stream_ann_kmeans`: the FULL production ANN topology — the
    * trained coarse quantizer persists through the versioned model
    * store (the rare producer pass, VERDICT r12 #1), the corpus STREAMS
    * through the fixed stored model into an IVF index MV (per batch one
    * narrow map assigning each vector its cell with
    * [[graft.llm.Similarity.assignCells]], the batch build's argmax),
    * and the search runs the SAME multi-probe body as the batch query
    * (k = 3, 20 queries, probe 2). */
  val kmeans: Twin = Twin("s_stream_ann_kmeans", "s_ann_kmeans", vecSchema,
    vectors,
    indexFold("ivf_vectors", (spark, wh) => {
      val centroids = stored(spark, wh, "ivf_stream")
      graft.llm.Similarity.assignCells(_, centroids)
    }),
    (spark, wh) => graft.llm.Similarity.kmeansSearchIndexed(
      indexRead(spark, wh, "ivf_vectors")
        .select("vec_id", "emb", "nrm", "cell"),
      stored(spark, wh, "ivf_stream"), 3, 20, 2),
    setup = trainQuantizer("ivf_stream"))

  /** `s_stream_decontaminate` (VERDICT r13 #5): CONTINUOUS semantic
    * decontamination — the corpus streams into a PK-FINAL embedding
    * index and the SAME bounded-probe leak census as the batch query
    * ([[graft.llm.Similarity.decontaminateRel]], 32 probes at the 0.4
    * line) runs over the accumulated index. */
  val decontaminate: Twin = Twin("s_stream_decontaminate", "s_decontaminate",
    vecSchema, vectors, indexFold("vec_index", (_, _) => identity),
    (spark, wh) => graft.llm.Similarity.decontaminateRel(
      indexRead(spark, wh, "vec_index").select("vec_id", "emb", "nrm"),
      32, 0.4))

  /** `s_stream_prune`: CONTINUOUS prototype pruning — the quantizer
    * trains once into the model store, the corpus streams through it
    * into a PK-FINAL prototypicality fact table
    * ([[graft.llm.Similarity.assignWithProto]]), and the rank-and-cut
    * read ([[graft.llm.Similarity.pruneRankFromFacts]], 25%) — ranks
    * are non-additive, so they derive at read — re-evaluates as the
    * corpus grows. */
  val prune: Twin = Twin("s_stream_prune", "s_prune_prototypes", vecSchema,
    vectors,
    indexFold("proto_facts", (spark, wh) => {
      val centroids = stored(spark, wh, "proto_stream")
      graft.llm.Similarity.assignWithProto(_, centroids)
    }),
    (spark, wh) => graft.llm.Similarity.pruneRankFromFacts(
      indexRead(spark, wh, "proto_facts").select("vec_id", "cell", "proto"),
      25),
    setup = trainQuantizer("proto_stream"))
}
