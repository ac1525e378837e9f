package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Similarity

/** Round-16 pins: ε-boundary multi-assignment for the IVF family
  * (VERDICT r15 #6) and the scratch-dir isolation that the round's
  * concurrent-replay incident forced (per JVM, and since then per
  * invocation). */
class Round16Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("eps=0 multi-assignment is EXACTLY the single-assignment index " +
      "(one row per vector); eps>0 replicates boundary vectors only, " +
      "bounded at 2 rows per vector") {
    val n = graft.Tables.embeddings(spark, dir).count()
    val base = Similarity.ivfIndexRows(spark, dir, nCells = 8)
    assert(base === n, "eps=0 must not replicate")
    val repl = Similarity.ivfIndexRows(spark, dir, nCells = 8,
      assignEps = 0.05)
    assert(repl >= n, "replication can only add rows")
    assert(repl <= 2 * n, "at most one extra cell per vector")
    // a huge margin replicates EVERY vector (second cell always
    // within eps when eps > 2, the cosine range)
    val all = Similarity.ivfIndexRows(spark, dir, nCells = 8,
      assignEps = 3.0)
    assert(all === 2 * n, "eps beyond the cosine range doubles the index")
  }

  test("IVFADC under multi-assignment: dedup keeps one candidate per " +
      "(query, vector), ranks stay a clean 1..k per query, and " +
      "recall never drops below the single-assignment answer on the " +
      "fixture corpus") {
    val k = 3
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.sCosineTopk(spark, dir, k, 5))
    val single = Similarity.sAnnIvfPq(spark, dir, k, nQueries = 5,
      nCells = 8, nprobe = 2, nCand = 32)
    val multi = Similarity.sAnnIvfPq(spark, dir, k, nQueries = 5,
      nCells = 8, nprobe = 2, nCand = 32, assignEps = 0.05)
    val rows = multi.collect()
    // clean top-k shape: exactly k ranks per query, no duplicate
    // neighbor within a query (the dedup window's whole job)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to k),
        s"query $q ranks")
      val ns = rs.map(_.getLong(2))
      assert(ns.distinct.length === ns.length,
        s"query $q has duplicate neighbors: ${ns.toSeq}")
    }
    val rs = pairs(single) intersect exact
    val rm = pairs(multi) intersect exact
    // FIXTURE-PINNED values (ADVICE r16): "multi >= single" is not an
    // algorithmic invariant — a replicated vector's best-replica ADC
    // score can rise and evict a true neighbor from the candidate
    // pool — so assert the exact recall this corpus + these defaults
    // produce instead of a monotonicity claim that only happens to
    // hold here. If the fixture or defaults change, re-pin.
    assert(exact.size === 15, s"exact top-k pair count ${exact.size}")
    assert(rs.size === 11, s"single-assignment recall ${rs.size}/15")
    assert(rm.size === 11, s"multi-assignment recall ${rm.size}/15")
  }

  test("stored-model IVFADC twin equals the train-inline result " +
      "row-for-row UNDER multi-assignment too (eps rides through the " +
      "encode step; books train on primary residuals in both)") {
    val inline = Similarity.sAnnIvfPq(spark, dir,
      nCells = 8, nprobe = 2, nCand = 32, assignEps = 0.05)
    val stored = graft.llm.StoredModels.sAnnIvfPqStored(spark, dir,
      nCells = 8, nprobe = 2, nCand = 32, assignEps = 0.05)
    assert(inline.collect().map(_.toString).toSeq ===
      stored.collect().map(_.toString).toSeq)
  }

  test("scratch dirs are per-invocation: the same name twice gives two " +
      "distinct pid-scoped paths, each emptied on entry") {
    import graft.sink.ParquetSink
    val a = ParquetSink.scratchDir("spec_probe")
    val b = ParquetSink.scratchDir("spec_probe")
    assert(a !== b, "same name, same JVM: still a new dir per call")
    val pid = ProcessHandle.current().pid()
    Seq(a, b).foreach(p => assert(
      new java.io.File(p).getName.startsWith(s"graft_sink_${pid}_spec_probe_"),
      s"path must carry the pid and the name: $p"))
    assert(!new java.io.File(a).exists() && !new java.io.File(b).exists(),
      "a scratch dir starts empty")
  }

  test("a held twin result survives a sibling twin that named the same " +
      "scratch dir") {
    // d_stream_minhash's lazy plan reads its warehouse at collect();
    // d_stream_dup_groups streams the same pair MV — with name-scoped
    // scratch it wiped that warehouse on entry and the held collect
    // failed on the deleted files
    val held = SparkEntry.queries("d_stream_minhash")(spark, dir)
    SparkEntry.queries("d_stream_dup_groups")(spark, dir).collect()
    val rows = held.collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("d_minhash_pairs")(spark, dir)
      .collect().map(_.toString).toSeq
    QueryCaches.releaseAll()
    assert(rows.nonEmpty && rows === batch)
  }
}
