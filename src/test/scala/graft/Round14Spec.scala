package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.llm.{Similarity, StoredModels}

/** Round-14 pins: the composed IVFADC index (coarse k-means routing +
  * residual PQ + cell-pruned ADC + exact rerank), the stored-model pair
  * twin, the SessionMv staleness/refresh contract, and the refresh-hook
  * seam over session-memoized model state. */
class Round14Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("IVFADC: deterministic end-to-end, exact rerank bit-matches " +
      "brute force, candidates come from the probed IVF cells only") {
    graft.Tables.tune(spark)
    // knobs pinned to the gate config (8/2/32): the cross-checks below
    // require the SAME quantizer as sAnnKmeans' default 8-cell index
    def ivfpq() = Similarity.sAnnIvfPq(spark, dir,
      nCells = 8, nprobe = 2, nCand = 32)
    val a = ivfpq().collect().map(_.toString).toSeq
    val b = ivfpq().collect().map(_.toString).toSeq
    assert(a === b && a.nonEmpty) // both trainers fixed-seed + quantized
    val rows = ivfpq().collect()
    // reranked cosine is EXACT: bit-identical to the brute-force cosine
    // of the same (query, neighbor) pair
    val exactAll = Similarity.sCosineTopk(spark, dir,
        k = Int.MaxValue - 1, nQueries = 20).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(java.lang.Double.doubleToLongBits(exactAll(key)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(4)),
        s"reranked cosine not exact for $key")
    }
    // cell pruning is real: every returned neighbor must also be
    // reachable by multi-probe IVF with the SAME quantizer/probe knobs
    // (sAnnKmeans with an unbounded k returns the full probed-cell
    // candidate set with exact cosines)
    val probedAll = Similarity.sAnnKmeans(spark, dir,
        k = Int.MaxValue - 1, nQueries = 20).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val returned = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(returned.subsetOf(probedAll),
      "IVFADC returned a neighbor outside the probed cells")
    // per query the final order is by exact cosine descending
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getLong(1)).map(_.getDouble(4))
      assert(byRank.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
    // recall floor vs the exact top-3 (deterministic, so stable):
    // residual PQ at 8 bytes + 16-candidate rerank over 2 probed cells
    val exact = Similarity.sCosineTopk(spark, dir, k = 3, nQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = returned.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVFADC top-3 recall $recall < 0.5")
    QueryCaches.releaseAll()
  }

  test("IVFADC stored-model twin returns the train-inline result " +
      "row-for-row (latest-wins past the stale v1 pair)") {
    graft.Tables.tune(spark)
    val inline = Similarity.sAnnIvfPq(spark, dir)
      .collect().map(_.toString).toSeq
    val stored = StoredModels.sAnnIvfPqStored(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stored === inline && stored.nonEmpty)
    QueryCaches.releaseAll()
  }


  test("SessionMv: a snapshot is pinned to the session's view of its " +
      "inputs — stale after source mutation, rebuilt after refreshAll") {
    import spark.implicits._
    graft.Tables.tune(spark)
    val src = java.nio.file.Files
      .createTempDirectory("graft_mv_stale_spec_").toAbsolutePath.toString
    try {
      (1L to 5L).toDF("id").write.mode("overwrite").parquet(src)
      val key = s"round14_stale_pin:$src"
      def snap() = graft.sink.SessionMv.snapshot(spark, key) {
        spark.read.parquet(src)
      }
      assert(snap().count() === 5L)
      // mutate the source AFTER the snapshot was built
      (6L to 10L).toDF("id").write.mode("append").parquet(src)
      // the documented contract: the snapshot is STALE by design —
      // same key serves the session's pinned view, not the new rows
      assert(snap().count() === 5L)
      // the refresh seam rebuilds from the mutated source
      graft.sink.SessionMv.refreshAll()
      assert(snap().count() === 10L)
    } finally {
      graft.sink.SessionMv.refreshAll() // drop the spec's key
      graft.sink.ParquetSink.delete(new java.io.File(src))
    }
  }

  test("model store loads PRUNE to the requested model's partitions " +
      "(hive layout by model_id, VERDICT r13 #3)") {
    import graft.sink.ModelStore
    graft.Tables.tune(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft_store_prune_spec_").toAbsolutePath.toString
    try {
      ModelStore.saveKmeans(spark, root, "model_a", 1L,
        Array(Array(1.0, 2.0), Array(3.0, 4.0)))
      ModelStore.saveKmeans(spark, root, "model_b", 1L,
        Array(Array(9.0, 9.0), Array(8.0, 8.0)))
      // the load plan must carry a model_id partition filter — the
      // family scan prunes to one model's directories
      val plan = ModelStore.loadLatest(spark, s"$root/kmeans", "model_a",
        Seq("model_id", "cell"), None)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains("model_id"),
        s"no model_id partition filter in the load plan:\n$plan")
      // hive layout on disk: one directory per model
      val dirs = new java.io.File(s"$root/kmeans").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(dirs === Seq("model_id=model_a", "model_id=model_b"))
      // and the values still round-trip exactly per model
      assert(ModelStore.loadKmeans(spark, root, "model_a")
        .map(_.toSeq).toSeq === Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
      assert(ModelStore.loadKmeans(spark, root, "model_b")
        .map(_.toSeq).toSeq === Seq(Seq(9.0, 9.0), Seq(8.0, 8.0)))
    } finally {
      graft.sink.ParquetSink.delete(new java.io.File(root))
    }
  }

  test("cell-salted pair build computes the identical relation as the " +
      "plain self-join, at any salt count incl. the degenerate S=1") {
    import graft.queries.CoOccurrenceMv
    graft.Tables.tune(spark)
    val occ = CoOccurrenceMv.occupancy(graft.Tables.events(spark, dir))
      .localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("u", "v", "nco").collect().map(_.toString).toSeq
    val plain = canon(CoOccurrenceMv.pairCounts(occ))
    assert(plain.nonEmpty)
    Seq(1, 3, 8).foreach { s =>
      assert(canon(CoOccurrenceMv.pairCountsSalted(occ, nSalts = s))
        === plain, s"salted build diverged at nSalts=$s")
    }
  }

  test("prototype pruning keeps at least one survivor per cell (the " +
      "singleton-cell clamp) and prunes ceil(25%) elsewhere") {
    import spark.implicits._
    graft.Tables.tune(spark)
    // 2 centroids; cell 0 gets three members, cell 1 exactly one —
    // ceil(25% of 1) = 1 would wipe the singleton without the clamp
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val e = Seq(
      (1L, Seq(1.0, 0.1)), (2L, Seq(1.0, 0.2)), (3L, Seq(0.9, 0.0)),
      (4L, Seq(0.1, 1.0)))
      .toDF("vec_id", "emb")
      .withColumn("nrm",
        org.apache.spark.sql.functions.sqrt(
          org.apache.spark.sql.functions.expr("dot_product(emb, emb)")))
    val rows = Similarity.prunePrototypesOf(e, cents, prunePct = 25)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getBoolean(5)))
    val byCell = rows.groupBy(_._1)
    assert(byCell(1).map(_._2).toSet === Set(4L))
    assert(byCell(1).forall(_._3), "singleton cell was wiped out")
    // 3-member cell: ceil(0.25*3) = 1 pruned (the rank-1 prototype),
    // 2 kept
    assert(byCell(0).count(!_._3) === 1 && byCell(0).count(_._3) === 2)
  }

  test("refreshAll fires registered refresh hooks (the seam that " +
      "clears session-memoized model state, ADVICE r13 #1)") {
    var fired = 0
    graft.sink.SessionMv.onRefresh("round14_probe")(() => fired += 1)
    // registration is idempotent per name — re-registering replaces
    graft.sink.SessionMv.onRefresh("round14_probe")(() => fired += 1)
    graft.sink.SessionMv.refreshAll()
    assert(fired === 1)
    graft.sink.SessionMv.refreshAll()
    assert(fired === 2)
    // neutralize the probe for later refreshes in this session
    graft.sink.SessionMv.onRefresh("round14_probe")(() => ())
  }

  test("residual relation: cell matches the shared argmax assignment " +
      "and v = centroid + residual reconstructs bit-exactly") {
    graft.Tables.tune(spark)
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm",
        org.apache.spark.sql.functions.sqrt(
          org.apache.spark.sql.functions.expr("dot_product(emb, emb)")))
      .select(col("vec_id"), col("emb"), col("nrm")).localCheckpoint()
    val cents = Similarity.kmeansCentroids(e, 8, 2)
    val resid = Similarity.residualRel(e, cents).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Double](2)))
      .toMap
    val orig = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(resid.keySet === orig.keySet && resid.nonEmpty)
    resid.foreach { case (id, (cell, rv)) =>
      val c = cents(cell)
      val v = orig(id)
      // r = v - c per dimension, exactly (one IEEE subtraction) —
      // reconstruct by replaying the identical subtraction
      rv.indices.foreach { i =>
        assert(java.lang.Double.doubleToLongBits(rv(i)) ===
          java.lang.Double.doubleToLongBits(v(i) - c(i)))
      }
    }
  }

  TwinProperty.tests("Round14Spec").foreach { case (title, twins) =>
    test(title)(twins.foreach(TwinProperty.check(spark, _)))
  }
}
