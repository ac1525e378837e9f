package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <stream_cascade|query_board>
  *   --seed <n> --seconds <s> --trace <0|1> --cpus <n>
  *   --run-dir <scratch dir> --data <sf0.1 dir> --pins <pins json>
  *   --result <file> --detail <file>
  * }}}
  *
  * The result object (end-to-end metrics, or per-layer metrics when
  * traced) goes to `--result`; every metric and note of the run goes to
  * `--detail`. `--dump-oracle <file>` instead writes the board queries'
  * DuckDB oracle SQL as JSON for pin_board.py.
  */
object Main {

  /** Set-up is repeated this often in a run; setup_s is the median. */
  val SetupReps = 5

  val endToEnd: Set[String] =
    Set("setup_s", "first_op_s", "op_p50_s", "items_per_s", "read_s")

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  private def write(p: Path, s: String): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracle").foreach { out =>
      val body = Board.queries.map { q =>
        s""""$q": "${Report.esc(graft.SparkEntry.oracleSql(q))}""""
      }.mkString("{\n", ",\n", "\n}\n")
      write(Paths.get(out), body)
      return
    }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val cpus = args("cpus").toInt
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val report = new Report
    report.notes("workload") = workload
    report.notes("seed") = seed.toString
    report.notes("cpus") = cpus.toString
    report.notes("trace") = if (traced) "1" else "0"
    report.notes("load_1min_start") = Report.fmt("%.2f", loadAvg)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Report.log("session started")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    try workload match {
      case "stream_cascade" =>
        new StreamCascade(spark, probe, report, runDir, seed, seconds,
          traced).run()
      case "query_board" =>
        val pins = Board.readPins(Paths.get(args("pins")))
        new BoardRun(spark, probe, report, args("data"), pins, seconds,
          traced).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        Report.log(s"run aborted: $e")
        e.printStackTrace()
        report.op(ok = false, s"run aborted: $e")
    }
    report.notes("load_1min_end") = Report.fmt("%.2f", loadAvg)
    peakRssMb.foreach(report.put("jvm.peak_rss_mb", _, "MB"))
    Report.log("workload done")
    spark.stop()
    Report.log("session stopped")

    val names = if (traced) PerLayer.names.toSet else endToEnd
    if (traced) {
      // the end-to-end metrics as measured under tracing, for the overhead
      endToEnd.foreach(n => report.get(n).foreach(v =>
        report.put(s"traced.$n", v, PerLayer.unit(s"traced.$n"))))
      // layers this workload does not touch read 0; a metric of a layer
      // it does touch is never filled in
      PerLayer.untouched(workload).foreach(n => report.put(n, 0.0, PerLayer.unit(n)))
    }
    write(Paths.get(args("detail")), report.detail)
    // a result without every metric is no result: leave the file absent
    val complete = names.forall(n => report.get(n).isDefined)
    if (complete) write(Paths.get(args("result")), report.json(names) + "\n")
    else Report.log("result incomplete: " +
      names.filterNot(n => report.get(n).isDefined).mkString(", "))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Option[Double] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      finally src.close()
    }.toOption.flatten
}

/** The per-layer metrics every traced run reports. Each belongs to the
  * ingest layers, the query layers, or both workloads; a workload
  * reports 0 for the layers it does not touch. */
object PerLayer {
  val ingest: Seq[(String, String)] = Seq(
    "sources.wall_s" -> "s", "sources.bytes_in" -> "B",
    "bronze.wall_s" -> "s", "bronze.jobs" -> "count", "bronze.cpu_s" -> "s",
    "bronze.rows_out" -> "count",
    "state.wall_s" -> "s", "state.jobs" -> "count", "state.cpu_s" -> "s",
    "state.entries" -> "count", "state.resolved_share" -> "ratio",
    "silver.wall_s" -> "s", "silver.jobs" -> "count", "silver.cpu_s" -> "s",
    "silver.rows_out" -> "count",
    "gold.wall_s" -> "s", "gold.jobs" -> "count",
    "sink.write_s" -> "s", "sink.read_final_s" -> "s", "sink.jobs" -> "count",
    "sink.files_written" -> "count", "sink.bytes_written" -> "B",
    "sink.bytes_per_block" -> "B/block", "sink.dedup_share" -> "ratio",
    "runner.wall_s" -> "s", "runner.self_s" -> "s", "runner.jobs" -> "count",
    "streaming.jobs_per_batch" -> "count", "streaming.engine_s" -> "s",
    "streaming.self_s" -> "s", "trace.accounted_share" -> "ratio")
  val queries: Seq[(String, String)] = Seq(
    "queries.cpu_s" -> "s", "queries.shuffle_bytes" -> "B",
    "queries.spill_bytes" -> "B") ++
    Board.queries.flatMap(q => Seq(
      s"query.$q.warm_s" -> "s", s"query.$q.planning_s" -> "s",
      s"query.$q.jobs" -> "count"))
  val common: Seq[(String, String)] = Seq(
    "jvm.peak_rss_mb" -> "MB",
    "traced.setup_s" -> "s", "traced.first_op_s" -> "s",
    "traced.op_p50_s" -> "s", "traced.items_per_s" -> "1/s",
    "traced.read_s" -> "s")
  val all: Seq[(String, String)] = ingest ++ queries ++ common
  val names: Seq[String] = all.map(_._1)
  val unit: Map[String, String] = all.toMap

  /** The per-layer metrics `workload` does not touch. */
  def untouched(workload: String): Seq[String] =
    (if (workload == "query_board") ingest else queries).map(_._1)
}
