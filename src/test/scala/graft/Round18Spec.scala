package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Tables.FanoutOps

/** Round-18 pins: the ADAPTIVE fanout guard (VERDICT r17 #8) — the
  * explicit-N repartition in front of CPU-heavy narrow stages must be
  * the IDENTITY when a scan-shaped input is already at least as wide
  * as the session's shuffle parallelism (at 100 TB every fact scan
  * is), and must stay the unconditional pinned repartition everywhere
  * else (post-shuffle inputs, where AQE coalescing is exactly the
  * problem the fanout exists to undo). */
class Round18Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private def shufflePartitions =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("fanout is the identity on a leaf input already wider than " +
      "the session parallelism (no exchange added)") {
    // localCheckpoint => LogicalRDD leaf, 8 partitions > 4 (session)
    val wide = spark.range(1000).toDF("id")
      .repartition(8).localCheckpoint()
    assert(wide.rdd.getNumPartitions > shufflePartitions)
    val out = wide.fanout(col("id"))
    assert(out.rdd.getNumPartitions === wide.rdd.getNumPartitions,
      "identity fanout must not change the partitioning")
    assert(!out.queryExecution.analyzed.toString
        .contains("RepartitionByExpression"),
      "no repartition node may be added on an already-wide leaf input")
  }

  test("fanout still pins N on a narrow (1-split-shaped) leaf input") {
    val narrow = spark.range(1000).toDF("id")
      .coalesce(1).localCheckpoint()
    assert(narrow.rdd.getNumPartitions === 1)
    val out = narrow.fanout(col("id"))
    assert(out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"))
    assert(out.rdd.getNumPartitions === shufflePartitions,
      "narrow scan must fan out to the session's shuffle parallelism")
  }

  test("fanout keeps the unconditional pinned repartition on inputs " +
      "with an exchange below them (width unknowable without " +
      "executing; probing .rdd there would materialize AQE stages)") {
    val agged = spark.range(1000).toDF("id")
      .groupBy(col("id")).agg(count(lit(1)).as("c"))
    val out = agged.fanout(col("id"))
    assert(out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"),
      "aggregated input must keep the explicit-N repartition")
  }

  test("narrow transforms over a wide leaf stay identity (projection/" +
      "filter/explode do not defeat the guard)") {
    val wide = spark.range(1000).toDF("id")
      .repartition(8).localCheckpoint()
      .withColumn("arr", array(lit(1), lit(2)))
      .select(col("id"), explode(col("arr")).as("x"))
      .filter(col("x") >= 1)
    val out = wide.fanout(col("id"))
    assert(!out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"))
  }

  test("a Verify dump that throws leaves a .FAILED marker with the error, " +
      "and a stale result directory never survives a re-dump") {
    val out = graft.sink.ParquetSink.scratchDir("verify_dump")
    assert(Verify.dump(out, "ok", () => spark.range(3).toDF("id")))
    assert(new java.io.File(out, "ok").isDirectory)
    assert(!Verify.dump(out, "ok",
      () => throw new IllegalStateException("boom")))
    assert(!new java.io.File(out, "ok").exists(),
      "the earlier run's result must not pass for the failed one")
    val marker = java.nio.file.Paths.get(out, "ok.FAILED")
    assert(java.nio.file.Files.readString(marker).contains("boom"))
    assert(Verify.dump(out, "ok", () => spark.range(3).toDF("id")))
    assert(!java.nio.file.Files.exists(marker), "a passing re-dump clears it")
  }

  test("the bench stdout line stays under PIPE_BUF for all bench names at " +
      "worst-case widths, in any default locale") {
    val names = SparkEntry.queries.keys.filterNot(SparkEntry.correctnessOnly)
      .toSeq.sorted
    assert(names.size === 153)
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      def line(failed: Seq[String], suspects: Seq[String]) =
        Bench.contractLine(987654.321, 987654.321, failed, suspects,
          987654.321, Int.MaxValue, 987654.321, Int.MaxValue, Int.MaxValue,
          987.654, 987.654, 987.654, 987.654, true, "data/sf0.1",
          "BENCH_DETAIL_c32.json")
      val few = line(names.take(2), names.take(5))
      assert(few.contains("\"suspects\":[\"" + names.head))
      assert(few.contains("\"names_truncated\":false"))
      val worst = line(names :+ "ingest_blocks_per_sec", names)
      assert(worst.getBytes("UTF-8").length < Bench.PipeBuf,
        s"${worst.length} bytes")
      assert(worst.contains("\"n_suspects\":153") &&
        worst.contains("\"names_truncated\":true"))
      // a comma-decimal default locale must not leak into the JSON
      assert(Bench.ms3(1234.5) === "1234.5" && Bench.ms3(0.0004) === "0")
      assert(few.contains("\"value\":987654.321,"))
    } finally java.util.Locale.setDefault(prev)
  }
}
