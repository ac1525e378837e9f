package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The query board: a fixed list of declared queries, one or more per
  * family, over the pinned sf0.1 tables. One client runs the board as a
  * closed loop: one cold pass, then [[Board.WarmPasses]] warm passes,
  * whatever their speed. Caches are released after every query run.
  * Every run's result is checked against the pin (row count and an
  * order-insensitive hash computed from the query's DuckDB oracle). */
object Board {

  /** The board: the cheapest query of each family (q, w, k, j, d, s, t,
    * g, v, mm) whose oracle finishes in DuckDB at sf0.1. */
  val queries: Seq[String] = Seq(
    "q22_sales_opportunity", "w_funnel_steps", "k_latest_event_per_user",
    "j_customers_with_big_orders", "d_exact_dedup", "s_cosine_topk",
    "t_text_stats", "g_daily_metrics", "v_error_ratio",
    "mm_audio_features")

  /** Warm passes per run, after the one cold pass. */
  val WarmPasses = 2

  /** The sf0.1 tables the board reads. */
  val tables: Seq[String] = Seq("nation", "customer", "orders", "events",
    "documents", "embeddings")

  // ------------------------------------------------ result fingerprint

  private val TwoTo53 = 9007199254740992.0

  private def num(d: Double): String =
    if (d.isNaN) "n:nan"
    else if (d.isInfinite) (if (d > 0) "n:inf" else "n:-inf")
    else if (d == math.floor(d) && math.abs(d) < TwoTo53) "n:" + d.toLong
    else "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def two(i: Int) = if (i < 10) "0" + i else i.toString

  private def ts(ldt: java.time.LocalDateTime): String = {
    val base = s"${ldt.getYear}-${two(ldt.getMonthValue)}-${two(ldt.getDayOfMonth)} " +
      s"${two(ldt.getHour)}:${two(ldt.getMinute)}:${two(ldt.getSecond)}"
    val us = ldt.getNano / 1000
    if (us == 0) base else base + "." + "%06d".formatLocal(java.util.Locale.ROOT, us)
  }

  /** Canonical text of one value; mirrors `canon` in pin_board.py. */
  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => "n:" + x
    case x: Short => "n:" + x
    case x: Int => "n:" + x
    case x: Long => "n:" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal =>
      if (x.signum == 0 || x.stripTrailingZeros.scale <= 0) "n:" + x.toBigInteger
      else num(x.doubleValue)
    case x: scala.math.BigDecimal => canon(x.bigDecimal)
    case x: String => "s:" + x
    case x: Array[Byte] => "x:" + x.map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
    case x: java.sql.Date => "t:" + x.toLocalDate.toString
    case x: java.time.LocalDate => "t:" + x.toString
    case x: java.sql.Timestamp =>
      "t:" + ts(java.time.LocalDateTime.ofInstant(x.toInstant, java.time.ZoneOffset.UTC))
    case x: java.time.Instant =>
      "t:" + ts(java.time.LocalDateTime.ofInstant(x, java.time.ZoneOffset.UTC))
    case x: java.time.LocalDateTime => "t:" + ts(x)
    case x: Row => x.toSeq.map(canon).mkString("(", ",", ")")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, vv) => canon(k) + "=" + canon(vv) }.sorted
        .mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(canon).mkString("[", ",", "]")
    case x => "?:" + x.toString
  }

  /** (rows, order-insensitive hash): columns in name order, each row's
    * canonical text hashed with SHA-256, the first 8 bytes summed
    * modulo 2^64. */
  def fingerprint(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = md.digest(text.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, "%016x".formatLocal(java.util.Locale.ROOT, sum))
  }

  /** Pins as written by pin_board.py: name -> (rows, hash). */
  def readPins(path: java.nio.file.Path): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
      .fields.asScala.map(e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText))
      .toMap
  }
}

/** Wall, planning time and Spark jobs of one query run. */
final case class QueryRun(wall: Double, planning: Double, jobs: Int)

/** One board run. */
final class BoardRun(spark: SparkSession, probe: Probe, report: Report,
    dataDir: String, pins: Map[String, (Long, String)], seconds: Int,
    traced: Boolean) {

  private def release(): Unit = {
    graft.QueryCaches.releaseAll()
    spark.catalog.clearCache()
  }

  /** Run one query to completion (collecting its rows), check its
    * output against the pin, then release its caches. */
  private def once(name: String): Option[QueryRun] = {
    val fn = graft.SparkEntry.queries(name)
    val j0 = probe.jobCount
    val t0 = System.nanoTime()
    val res = scala.util.Try {
      val df = fn(spark, dataDir)
      val built = (System.nanoTime() - t0) / 1e9
      val rows = df.collect()
      val ph = df.queryExecution.tracker.phases
      val plan = Seq("optimization", "planning")
        .flatMap(p => ph.get(p)).map(_.durationMs).sum / 1e3
      (df.schema, rows, built + plan)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    release()
    probe.settle(spark.sparkContext)
    val jobs = probe.jobCount - j0
    res match {
      case scala.util.Success((schema, rows, planning)) =>
        val got = Board.fingerprint(schema, rows)
        val want = pins.get(name)
        report.op(want.contains(got),
          s"$name: rows/hash $got, pinned ${want.getOrElse("none")}")
        Some(QueryRun(wall, planning, jobs))
      case scala.util.Failure(e) =>
        report.op(ok = false, s"$name threw $e")
        None
    }
  }

  /** A board table opened through the engine's loaders, the same
    * `graft.Tables` entry points (session tuning, function registration,
    * the events table's timestamp normalization) every query uses. */
  private def open(t: String) =
    if (t == "events") graft.Tables.events(spark, dataDir)
    else graft.Tables.table(spark, dataDir, t)

  def run(): Unit = {
    // set-up: open every table through the engine's loaders, several times
    val setups = (0 until Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Board.tables.foreach(t => open(t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    report.put("setup_s", Stats.median(setups), "s")

    // a fixed amount of work: one cold pass, then WarmPasses warm ones;
    // a pass that would start after three times `seconds` is not made
    // and counts as a failed operation
    val firstJob = probe.jobs.lastOption.map(_.jobId).getOrElse(-1)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val cold = Board.queries.map(q => q -> once(q))
    val warm = scala.collection.mutable.Map.empty[String, Vector[QueryRun]]
      .withDefaultValue(Vector.empty)
    var passes = 0
    var late = false
    while (passes < Board.WarmPasses && !late) {
      late = elapsed > 3.0 * seconds
      if (late) report.op(ok = false, s"warm pass $passes not made: past ${3 * seconds} s")
      else Board.queries.foreach(q => once(q).foreach(o => warm(q) = warm(q) :+ o))
      passes += 1
    }
    Board.queries.foreach { q =>
      report.notes(s"cold.$q") = cold.toMap.apply(q).map(o => Report.fmt("%.3f", o.wall)).getOrElse("failed")
      report.notes(s"warm.$q") = warm(q).map(o => Report.fmt("%.3f", o.wall)).mkString(",")
    }
    val boardJobs = probe.jobs.filter(_.jobId > firstJob)

    val coldOk = cold.flatMap(_._2)
    if (coldOk.size == Board.queries.size &&
        Board.queries.forall(q => warm(q).size == Board.WarmPasses)) {
      report.put("first_op_s", coldOk.map(_.wall).sum, "s")
      report.put("op_p50_s",
        Board.queries.map(q => Stats.median(warm(q).map(_.wall))).sum, "s")
      val allWarm = Board.queries.flatMap(q => warm(q))
      report.put("items_per_s", allWarm.size / allWarm.map(_.wall).sum, "1/s")
    }

    // the read floor under the board: a full scan of every table through
    // the engine's loaders, 3x
    val scans = (0 until 3).map { _ =>
      val t1 = System.nanoTime()
      Board.tables.foreach { t =>
        val df = open(t)
        df.selectExpr(df.columns.map(c => s"count(`$c`)").toSeq: _*).collect()
      }
      (System.nanoTime() - t1) / 1e9
    }
    report.put("read_s", Stats.median(scans), "s")

    if (traced) {
      Board.queries.foreach { q =>
        val w = warm(q)
        if (w.nonEmpty) {
          report.put(s"query.$q.warm_s", Stats.median(w.map(_.wall)), "s")
          report.put(s"query.$q.planning_s", Stats.median(w.map(_.planning)), "s")
          report.put(s"query.$q.jobs", w.last.jobs, "count")
        }
      }
      val js = JobSum.of(boardJobs)
      report.put("queries.cpu_s", js.cpuNs / 1e9, "s")
      report.put("queries.shuffle_bytes", js.shuffleWrite.toDouble, "B")
      report.put("queries.spill_bytes", js.spill.toDouble, "B")
    }
  }
}
