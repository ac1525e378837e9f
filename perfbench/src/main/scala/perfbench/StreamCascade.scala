package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.bronze.BronzeExtractors
import graft.metrics.Tracing.span
import graft.model.AccountsConfig
import graft.runner.BatchRunner
import graft.sink.ParquetSink
import graft.sources.BlockFileSource
import graft.streaming.StreamRunner

/** One runner call: wall seconds and its micro-batches' (batchId, input
  * rows, triggerExecution ms, addBatch ms). */
final case class Call(wall: Double, batches: Seq[(Long, Long, Long, Long)])

/** The stream_cascade workload, a closed loop with one client: land the
  * next 100-block file, call `StreamRunner.runStream` (which resumes the
  * same checkpoint and runs one micro-batch), wait for it to return,
  * repeat — a fixed [[StreamCascade.Calls]] calls per run, whatever
  * their speed, so every run ingests and reads back the same input.
  * `seconds` only bounds the loop: a call that would start after three
  * times `seconds` is not made and counts as a failed operation.
  * Afterwards the warehouse the run wrote is read back FINAL, timed,
  * and checked against the generator's expected row counts. */
final class StreamCascade(spark: SparkSession, probe: Probe, report: Report,
    runDir: Path, seed: Long, seconds: Int, traced: Boolean) {
  import StreamCascade._

  private val acc = AccountsConfig()
  private val landing = runDir.resolve("blocks")
  private val warehouse = runDir.resolve("warehouse").toString

  private def stage(rep: Int) = runDir.resolve(s"input-$rep")

  /** One set-up: generate the run's input, write it as staged block
    * files, and open a fresh warehouse with `runStream` over an empty
    * landing directory — the engine's cold start (state table probe,
    * source and checkpoint creation, a query that finds no file). */
  private def setupOnce(rep: Int): ChainGen.Corpus = {
    val c = ChainGen.generate(seed, PerFile * Calls)
    (0 until Calls).foreach(f =>
      ChainGen.writeFile(c, f * PerFile, (f + 1) * PerFile, stage(rep)))
    val dir = runDir.resolve(s"setup-$rep")
    Files.createDirectories(dir.resolve("blocks"))
    probe.expectQuery()
    StreamRunner.runStream(spark, dir.resolve("blocks").toString,
      dir.resolve("warehouse").toString)
    c
  }

  def run(): Unit = {
    // set-up, several times; the median is setup_s
    val setups = (0 until Main.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val c = setupOnce(rep)
      ((System.nanoTime() - t0) / 1e9, c)
    }
    report.put("setup_s", Stats.median(setups.map(_._1)), "s")
    report.notes("setup_s_each") =
      setups.map(s => Report.fmt("%.3f", s._1)).mkString(",")
    val corpus = setups.head._2
    (0 until Main.SetupReps).foreach { rep =>
      if (rep > 0) ParquetSink.delete(stage(rep).toFile)
      ParquetSink.delete(runDir.resolve(s"setup-$rep").toFile)
    }
    probe.settle(spark.sparkContext)
    val files = Files.list(stage(0)).toArray.map(_.asInstanceOf[Path])
      .sortBy(_.getFileName.toString)

    if (traced) { graft.metrics.Tracing.reset(); graft.metrics.Tracing.enable(spark) }
    Files.createDirectories(landing)
    val calls = Vector.newBuilder[Call]
    val loopJobs0 = probe.jobCount
    val limit = 3.0 * seconds
    val tLoop = System.nanoTime()
    var i = 0
    var ok = true
    while (ok && i < files.length) {
      if ((System.nanoTime() - tLoop) / 1e9 > limit) {
        ok = report.op(ok = false, s"call $i not made: the loop passed $limit s")
      } else {
        val f = files(i)
        Files.move(f, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        val before = probe.progress.size
        val t0 = System.nanoTime()
        ok = report.op(scala.util.Try {
          probe.expectQuery()
          span("bench:runStream") {
            StreamRunner.runStream(spark, landing.toString, warehouse)
          }
        }.recover { case e => Report.log(s"call $i failed: $e"); throw e }.isSuccess,
          s"stream call $i")
        val wall = (System.nanoTime() - t0) / 1e9
        probe.settle(spark.sparkContext)
        val prog = probe.progress.toArray.drop(before)
          .map(_.asInstanceOf[(Long, Long, Long, Long)]).filter(_._2 > 0).toSeq
        if (ok) ok = report.op(prog.size == 1 && prog.head._2 == PerFile,
          s"call $i: micro-batches (id, rows, trigger ms, addBatch ms) $prog, " +
            s"expected one of $PerFile blocks")
        calls += Call(wall, prog)
        i += 1
      }
    }
    val loopJobs = probe.jobCount - loopJobs0
    val cs = calls.result()
    report.notes("calls_wall_s") = cs.map(c => Report.fmt("%.3f", c.wall)).mkString(",")

    if (ok) {
      // the first call carries the warm-up of the batch's code paths;
      // the steady numbers come from the calls after it
      val batches = cs.flatMap(_.batches)
      val warm = cs.drop(1)
      report.put("first_op_s", batches.head._3 / 1e3, "s")
      report.put("op_p50_s", Stats.median(batches.drop(1).map(_._3 / 1e3)), "s")
      report.put("items_per_s", warm.size * PerFile / warm.map(_.wall).sum, "1/s")
      readAndCheck(corpus)
      if (traced) layerMetrics(cs, loopJobs)
    } else report.op(ok = false, "warehouse checks skipped after a failed call")
  }

  private def finalOf(name: String, pk: Option[Seq[String]]): DataFrame =
    if (!ParquetSink.hasData(s"$warehouse/$name")) spark.emptyDataFrame
    else pk match {
      case Some(k) => BatchRunner.tableFinal(spark, warehouse, name, k)
      case None => BatchRunner.silverFinal(spark, warehouse, name)
    }

  private var finalRows: Map[String, Long] = Map.empty

  /** Read the warehouse back FINAL — every product table, the gold view
    * and the daily gold rollup — timed as read_s, and check the row
    * counts against the generator. */
  private def readAndCheck(corpus: ChainGen.Corpus): Unit = {
    import spark.implicits._
    val assets = spark.createDataset(graft.fixtures.NearFixtures.assetRows).toDF()
    val t0 = System.nanoTime()
    val counts = BatchRunner.productTables.map { case (name, pk) =>
      name -> span(s"read:$name") { finalOf(name, pk).count() }
    }.toMap
    val gold = span("read:gold") {
      graft.gold.GoldViews.intentsMetrics(
        finalOf("silver_nep245", None), finalOf("silver_token_diff", None),
        assets).collect().length.toLong
    }
    val daily = span("read:gold") {
      BatchRunner.goldDailyFinal(spark, warehouse).collect().length.toLong
    }
    report.put("read_s", (System.nanoTime() - t0) / 1e9, "s")
    finalRows = counts
    val expect = corpus.expectPrefix(Calls * PerFile)
    expect.byTable.foreach { case (t, want) =>
      val got = counts.getOrElse(t, -1L)
      report.op(got == want, s"$t FINAL rows $got, expected $want")
    }
    report.op(gold > 0, "gold intents metrics is empty")
    report.op(daily > 0, "gold daily rollup is empty")
    report.notes("expected_unresolved_events") = expect.unresolved.toString
    report.notes("expected_resolved_events") = expect.resolved.toString
  }

  /** Module of a span name: the benchmark's own spans carry it as a
    * prefix, the engine's span names map by table or phase. */
  private def moduleOf(name: String): String =
    if (name.contains(':')) name.takeWhile(_ != ':') match {
      case "read" => if (name == "read:gold") "gold" else "sink_read"
      case "bench" => "runner"
      case m => m
    }
    else if (name == "insert_gold_block_rollup_to_db") "gold"
    else if (name.startsWith("insert_silver_") || name == "silver_cascade")
      "silver"
    else if (name == "cache_map_new_receipts_from_outcomes" ||
      name == "parse_events") "state"
    else if (name == "handle_streamer_message") "streaming"
    else "sink"

  private def dirStats(p: java.io.File): (Long, Long) =
    if (!p.exists()) (0L, 0L)
    else if (p.isFile)
      (if (p.getName.endsWith(".parquet")) 1L else 0L, p.length())
    else p.listFiles().map(dirStats).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  private def layerMetrics(cs: Seq[Call], loopJobs: Int): Unit = {
    // The stream fuses bronze extraction into its table writes, so the
    // bronze functions are timed on the run's own landed blocks here,
    // after the loop; the same pass counts every event the blocks carry.
    val allEvents = {
      val blocks = span("replay:read_blocks") {
        BlockFileSource.readBlocks(spark, landing.toString).localCheckpoint()
      }
      span("bronze:transactions") {
        BronzeExtractors.transactions(blocks, acc).count()
      }
      val outs = span("bronze:outcomes") {
        BronzeExtractors.outcomes(blocks).localCheckpoint()
      }
      span("bronze:event_rows") { BronzeExtractors.eventRows(outs, acc).count() }
    }
    probe.settle(spark.sparkContext)
    val spans = SpanTree.fromTracing(graft.metrics.Tracing.spans())
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = probe.jobs
    // a job launched outside every span runs in the micro-batch's source
    // read and height probe, before the phase span opens
    def moduleOfJob(j: JobRec): String =
      j.span.flatMap(byId.get).map(s => moduleOf(s.name)).getOrElse("sources")
    val jobsBy = jobs.groupBy(moduleOfJob).map { case (m, js) => m -> JobSum.of(js) }
    def js(m: String) = jobsBy.getOrElse(m, JobSum.of(Nil))

    // in-run wall by module: span trees rooted at each micro-batch's
    // phase span
    val roots = spans.filter(_.name == "handle_streamer_message")
    val self = SpanTree.selfTimes(spans, roots).toSeq
      .groupBy(kv => moduleOf(kv._1)).map { case (m, kvs) => m -> kvs.map(_._2).sum / 1e9 }
    def t(m: String) = self.getOrElse(m, 0.0)
    val callWall = cs.map(_.wall).sum
    val batches = cs.flatMap(_.batches)
    val trig = batches.map(_._3).sum / 1e3
    val addB = batches.map(_._4).sum / 1e3
    val handle = roots.map(_.dur).sum / 1e9
    val readSpans = spans.filter(_.name.startsWith("read:"))
    val readFinal = readSpans.filter(_.name != "read:gold").map(_.dur).sum / 1e9
    val goldRead = readSpans.filter(_.name == "read:gold").map(_.dur).sum / 1e9

    val sources = addB - handle
    val engine = trig - addB
    // the wall the module spans and the engine explain; the rest is the
    // runner's own time (runner.self_s) and the phase span's own
    // (streaming.self_s)
    val accounted = sources + t("state") + t("silver") + t("gold") +
      t("sink") + engine
    report.put("sources.wall_s", sources, "s")
    report.put("sources.bytes_in",
      landedFiles.map(_.length()).sum.toDouble, "B")
    report.put("bronze.wall_s",
      spans.filter(_.name.startsWith("bronze:")).map(_.dur).sum / 1e9, "s")
    report.put("state.wall_s", t("state"), "s")
    report.put("silver.wall_s", t("silver"), "s")
    for (m <- Seq("bronze", "state", "silver")) {
      report.put(s"$m.jobs", js(m).jobs, "count")
      report.put(s"$m.cpu_s", js(m).cpuNs / 1e9, "s")
    }
    report.put("gold.wall_s", t("gold") + goldRead, "s")
    report.put("gold.jobs", js("gold").jobs, "count")
    report.put("sink.write_s", t("sink"), "s")
    report.put("sink.read_final_s", readFinal, "s")
    report.put("sink.jobs", js("sink").jobs + js("sink_read").jobs, "count")
    report.put("runner.wall_s", callWall, "s")
    report.put("runner.self_s", callWall - trig, "s")
    report.put("runner.jobs", js("runner").jobs, "count")
    report.put("trace.accounted_share", accounted / callWall, "ratio")
    report.put("streaming.jobs_per_batch", loopJobs.toDouble / batches.size, "count")
    report.put("streaming.engine_s", engine, "s")
    report.put("streaming.self_s", t("streaming"), "s")

    // warehouse shape: rows, files and bytes the run left behind
    val whDir = new java.io.File(warehouse)
    val tables = BatchRunner.productTables.map(_._1) :+ "resolver_state"
    val stats = tables.map(n => dirStats(new java.io.File(whDir, n)))
    report.put("sink.files_written", stats.map(_._1).sum.toDouble, "count")
    report.put("sink.bytes_written",
      jobs.map(_.outputBytes).sum.toDouble, "B")
    report.put("sink.bytes_per_block",
      stats.map(_._2).sum.toDouble / (Calls * PerFile), "B/block")
    def rawRows(n: String): Long =
      if (ParquetSink.hasData(s"$warehouse/$n")) spark.read.parquet(s"$warehouse/$n").count()
      else 0L
    val raw = BatchRunner.productTables.map(t => rawRows(t._1)).sum
    val fin = finalRows.values.sum
    report.put("sink.dedup_share", if (raw > 0) (raw - fin).toDouble / raw else 0.0, "ratio")
    val bronzeTables = Seq("transactions", "receipts", "execution_outcomes", "events")
    report.put("bronze.rows_out", bronzeTables.map(finalRows.getOrElse(_, 0L)).sum.toDouble, "count")
    report.put("silver.rows_out", finalRows.filter(_._1.startsWith("silver_")).values.sum.toDouble, "count")
    report.put("state.entries", rawRows("resolver_state").toDouble, "count")
    report.put("state.resolved_share",
      if (allEvents > 0) finalRows.getOrElse("events", 0L).toDouble / allEvents else 0.0, "ratio")
  }

  /** The landed block files. */
  private def landedFiles: Seq[java.io.File] =
    Option(landing.toFile.listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.isFile)
}

object StreamCascade {
  /** Blocks per landed file (ROADMAP item 5's perFile pin). */
  val PerFile = 100
  /** Calls per run: one cold, two warm. */
  val Calls = 3
}
