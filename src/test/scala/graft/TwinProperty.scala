package graft

import java.io.File
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._
import graft.streaming.StreamTwin

/** The property every streaming twin ([[StreamTwin.twins]]) holds at
  * sf0.001, checked through the registry rather than per twin:
  *
  *  - stream ≡ batch: after the two-wave protocol the twin's rows equal
  *    its batch query's rows, in order, and are non-empty;
  *  - the restart is idempotent: a third drain over the unchanged feed
  *    commits no micro-batch and leaves every file under the warehouse
  *    (checkpoint and data) with the same name and the same bytes;
  *  - the read plan passes the [[PlanAuditSpec]] audit (no
  *    `CartesianProduct`, forced broadcasts within its batch query's
  *    budget).
  *
  * Every twin gets one test, `twin <name> ≡ <batch>; …`, except those
  * still reported under the title of the per-twin test the property
  * replaced — [[keptTitles]] keeps those test IDs stable. */
object TwinProperty {
  val dir = "/root/testdata/sf0.001"

  /** (suite, title, twins) of the stream ≡ batch tests that predate the
    * registry and keep their IDs. */
  private val keptTitles: Seq[(String, String, Seq[String])] = Seq(
    ("StreamingSpec", "streaming dedup (checkpointed, mid-stream restart) " +
      "accumulates exactly the batch near-dup pairs", Seq("d_stream_minhash")),
    ("StreamingSpec", "streaming prefix join (checkpointed, mid-stream " +
      "restart) accumulates exactly the batch prefix pairs",
      Seq("d_stream_prefix")),
    ("StreamingSpec", "streaming span index (checkpointed, mid-stream " +
      "restart) answers the duplicated-span report exactly like the batch " +
      "pass", Seq("d_stream_spans")),
    ("StreamingSpec", "streaming retention MV (checkpointed, mid-stream " +
      "restart) answers the cohort matrix exactly like the batch scan",
      Seq("g_stream_retention")),
    ("StreamingSpec", "streaming ANN index (checkpointed, mid-stream " +
      "restart) answers the probe set identically to the batch index",
      Seq("s_stream_ann_lsh")),
    ("StreamingSpec", "streaming dataset card (restart + mid-sequence " +
      "merge) equals the batch card exactly", Seq("t_stream_dataset_card")),
    ("StreamingSpec", "streaming priority sample (restart + mid-sequence " +
      "compaction) equals the batch bottom-k exactly",
      Seq("t_stream_sample_priority")),
    ("StreamingSpec", "streaming pareto frontier (restart + mid-sequence " +
      "compaction) equals the batch skyline exactly", Seq("t_stream_pareto")),
    ("StreamingSpec", "streaming funnel (restart + mid-sequence compaction) " +
      "equals the batch windowed funnel exactly", Seq("w_stream_funnel")),
    ("StreamingSpec", "streaming weighted percentiles (restart + " +
      "mid-sequence merge) equals the batch nearest-rank lookup exactly",
      Seq("t_stream_weighted_percentiles")),
    ("StreamingSpec", "streaming heavy hitters (restart + mid-sequence " +
      "merge) equals the batch CMS-pruned query exactly",
      Seq("t_stream_heavy_hitters")),
    ("StreamingSpec", "streaming anomaly grid (restart + mid-sequence " +
      "merge) flags exactly the batch detector's days",
      Seq("w_stream_anomaly")),
    ("StreamingSpec", "streaming gap-fill grid / SCD2 log / " +
      "interval-coverage log (each checkpointed, mid-stream restart + " +
      "compaction) equal their batch twins row for row",
      Seq("w_stream_gap_fill", "k_stream_scd2", "w_stream_interval_coverage")),
    ("StreamingSpec", "streaming LM score (model summing MVs + PK-FINAL " +
      "trigram facts, checkpointed mid-stream restart + compaction) equals " +
      "the batch scorer row for row", Seq("t_stream_lm_score")),
    ("StreamingSpec", "streaming active users (the retention activity MV, " +
      "mid-stream restart + compaction) equals the batch DAU/WAU row for row",
      Seq("w_stream_active_users")),
    ("StreamingSpec", "stream-stream interval join (watermarked, restart " +
      "restores the symmetric join state) equals the batch range join " +
      "exactly", Seq("w_stream_range_join")),
    ("StreamingSpec", "streaming rolling-7d grid (restart + mid-sequence " +
      "merge) equals the batch RANGE-frame window exactly",
      Seq("w_stream_rolling_7d")),
    ("StreamingSpec", "streaming corpus clean (checkpointed, mid-stream " +
      "restart) converges to the batch pipeline's surviving corpus",
      Seq("pipe_stream_clean")),
    ("Round12Spec", "streaming MAD anomaly twin (summed daily grid MV, " +
      "mid-stream restart + compaction) equals the batch robust detector",
      Seq("w_stream_anomaly_mad")),
    ("Round12Spec", "streaming RFM twin (PK-FINAL purchase log, mid-stream " +
      "restart + compaction) equals the batch segmentation",
      Seq("w_stream_rfm")),
    ("Round12Spec", "streaming tombstone twin (checkpointed mid-stream " +
      "restart + compaction) equals the batch sink scenario",
      Seq("k_stream_tombstone")),
    ("Round14Spec", "streamed decontamination census over the accumulated " +
      "index equals the batch snapshot report",
      Seq("s_stream_decontaminate")))

  /** The property's tests in `suite` as (title, twins): its kept titles,
    * and — in StreamingSpec — one test per twin no kept title covers. */
  def tests(suite: String): Seq[(String, Seq[String])] = {
    val covered = keptTitles.flatMap(_._3).toSet
    keptTitles.collect { case (`suite`, title, twins) => title -> twins } ++
      (if (suite != "StreamingSpec") Nil
       else StreamTwin.twins.filterNot(t => covered(t.name)).map(t =>
         s"twin ${t.name} ≡ ${t.batch}; third run commits nothing" ->
           Seq(t.name)))
  }

  /** Relative path → md5 of every file under `root`. */
  private def snapshot(root: File): Map[String, String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
    }.toMap
  }

  def check(spark: SparkSession, name: String): Unit = {
    val twin = StreamTwin.byName(name)
    val landed = StreamTwin.stream(spark, twin, dir)
    val wh = new File(landed.warehouse)
    val before = snapshot(wh)
    StreamTwin.drain(spark, twin, landed.feed, landed.warehouse)
    val after = snapshot(wh)
    assert(after == before, s"$name: a third run over the unchanged feed " +
      s"changed the warehouse: ${(after.toSet diff before.toSet).map(_._1)}")
    val read = twin.read(spark, landed.warehouse)
    val streamed = read.collect().map(_.toString).toSeq
    val planFaults = PlanAuditSpec.faults(name, read, twin.batch)
    val batch = SparkEntry.queries(twin.batch)(spark, dir)
      .collect().map(_.toString).toSeq
    QueryCaches.releaseAll()
    assert(streamed == batch, s"$name diverges from ${twin.batch}")
    assert(streamed.nonEmpty, s"$name is empty at sf0.001")
    assert(planFaults.isEmpty, planFaults.mkString("\n"))
  }
}
