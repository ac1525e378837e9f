package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{CoOccurrenceMv, EventQueries}

/** Round-13 pins: the maintained co-occurrence edge MV — streamed
  * (incremental facts + summing pair counts, mid-stream restart,
  * compaction) must equal the batch snapshot edge-for-edge, and the
  * shared from-edges analytics must agree over either build. */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed edge MV == batch snapshot, and the shared from-edges " +
      "BFS/triangle bodies agree over either build") {
    graft.Tables.tune(spark)
    import graft.streaming.{StreamTwin, StreamingGraph}
    val streamed = StreamingGraph.edgesTable(spark,
      StreamTwin.stream(spark, StreamingGraph.pagerank, dir).warehouse)
      .localCheckpoint()
    val batch = CoOccurrenceMv.edgesFromCounts(
      CoOccurrenceMv.pairCounts(
        CoOccurrenceMv.occupancy(graft.Tables.events(spark, dir))))
      .localCheckpoint()
    val s = edgeSet(streamed)
    val b = edgeSet(batch)
    assert(s.nonEmpty, "edge relation empty at sf0.001 — corpus drifted?")
    assert(s === b)
    // identical analytics through the SAME from-edges bodies
    val sBfs = EventQueries.bfsFromEdges(streamed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bBfs = EventQueries.bfsFromEdges(batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sBfs === bBfs)
    val sTri = EventQueries.triangleCountsFromEdges(streamed)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bTri = EventQueries.triangleCountsFromEdges(batch)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sTri === bTri)
    QueryCaches.releaseAll()
  }

  test("model store: versioned save/load round-trips bit-exact, " +
      "latest wins, as-of pins an old version, missing model fails") {
    import graft.sink.ModelStore
    val root = java.nio.file.Files
      .createTempDirectory("graft_model_store_spec_").toAbsolutePath.toString
    try {
      val v1 = Array(Array(1.0, 2.5), Array(-3.25, 1e-17))
      val v2 = Array(Array(0.1, 0.2), Array(0.3, 0.4))
      ModelStore.saveKmeans(spark, root, "m", 1L, v1)
      ModelStore.saveKmeans(spark, root, "m", 2L, v2)
      // doubles round-trip parquet bit-for-bit; latest version wins
      assert(ModelStore.loadKmeans(spark, root, "m")
        .map(_.toSeq).toSeq === v2.map(_.toSeq).toSeq)
      // the time-travel pin reproduces v1 exactly
      assert(ModelStore.loadKmeans(spark, root, "m", Some(1L))
        .map(_.toSeq).toSeq === v1.map(_.toSeq).toSeq)
      // a second model id in the same table resolves independently
      ModelStore.saveKmeans(spark, root, "other", 1L, v1)
      assert(ModelStore.loadKmeans(spark, root, "other")
        .map(_.toSeq).toSeq === v1.map(_.toSeq).toSeq)
      val pq = Array(
        Array(Array(1.0, 2.0), Array(3.0, 4.0)),
        Array(Array(5.0, 6.0), Array(7.0, 8.0)))
      ModelStore.savePq(spark, root, "p", 1L, pq)
      assert(ModelStore.loadPq(spark, root, "p")
        .map(_.map(_.toSeq).toSeq).toSeq === pq.map(_.map(_.toSeq).toSeq).toSeq)
      val rules = Seq((1L, "a", "b", 10L), (2L, "ab", "c", 5L))
      ModelStore.saveBpe(spark, root, "b", 1L, rules.take(1))
      ModelStore.saveBpe(spark, root, "b", 2L, rules)
      assert(ModelStore.loadBpe(spark, root, "b") === rules)
      assert(ModelStore.loadBpe(spark, root, "b", Some(1L)) === rules.take(1))
      intercept[IllegalArgumentException] {
        ModelStore.loadKmeans(spark, root, "absent")
      }
    } finally graft.sink.ParquetSink.delete(new java.io.File(root))
  }

  test("semantic decontamination equals a plain-Scala leak census " +
      "(counts, worst offender, zero-leak probes kept)") {
    graft.Tables.tune(spark)
    val vecs = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as emb")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (a.indices).foreach { i =>
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val model = vecs.keys.filter(_ < 32).toSeq.sorted.map { p =>
      val hits = vecs.toSeq.filter(_._1 != p)
        .map { case (v, e) => (v, cos(vecs(p), e)) }
        .filter(_._2 >= 0.4)
      if (hits.isEmpty) (p, 0L, None, None)
      else {
        val (tv, tc) = hits.minBy { case (v, c) => (-c, v) }
        (p, hits.size.toLong, Some(tv), Some(tc))
      }
    }
    val got = graft.llm.Similarity.sDecontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSeq
    // the local fold sums in a different order than the codegen'd
    // sequential fold, so compare cosines at 1e-12, exact elsewhere
    assert(got.size === model.size)
    got.zip(model).foreach { case ((gp, gn, gv, gc), (mp, mn, mv, mc)) =>
      assert(gp === mp); assert(gn === mn); assert(gv === mv)
      (gc, mc) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-12)
        case (a, b) => assert(a === b)
      }
    }
    // non-degenerate both ways: some probe leaks, the census is bounded
    assert(got.exists(_._2 > 0))
    QueryCaches.releaseAll()
  }

  test("BPE merge application is canonical non-overlapping " +
      "left-to-right on symbol runs (r12 #5)") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val v = Seq(
      (" a a a a ", 1L), // even run: all pairs merge -> aa aa
      (" a a a ", 1L), // odd run: trailing symbol survives -> aa a
      (" b a a b ", 1L), // interior pair
      (" a b a ", 1L), // non-adjacent: unchanged
      (" a ", 1L) // single symbol: unchanged
    ).toDF("syms", "cnt")
    val out = TextAnalysis
      .bpeApplyMerges(v, Seq((1L, "a", "a", 0L)))
      .select("syms").as[String].collect().toSet
    assert(out === Set(" aa aa ", " aa a ", " b aa b ", " a b a ", " a "))
    // two-rule fold: (a,a) then (aa,aa) — the second rule sees the
    // first pass's output, so " a a a a " -> " aa aa " -> " aaaa "
    val out2 = TextAnalysis
      .bpeApplyMerges(Seq((" a a a a ", 1L)).toDF("syms", "cnt"),
        Seq((1L, "a", "a", 0L), (2L, "aa", "aa", 0L)))
      .select("syms").as[String].collect().toSeq
    assert(out2 === Seq(" aaaa "))
  }

  test("MV memoization: second consumer reads the same snapshot; " +
      "refresh() forces a rebuild") {
    graft.Tables.tune(spark)
    CoOccurrenceMv.refresh()
    val first = edgeSet(CoOccurrenceMv.edges(spark, dir))
    val second = edgeSet(CoOccurrenceMv.edges(spark, dir))
    assert(first === second)
    CoOccurrenceMv.refresh()
    val rebuilt = edgeSet(CoOccurrenceMv.edges(spark, dir))
    assert(first === rebuilt)
    QueryCaches.releaseAll()
  }
}
