package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.FanoutOps

/** Table sink with the reference's storage semantics, Spark-first
  * (SURVEY §2.2 K1-K4, §2.1 S3):
  *
  *  - K1 batched insert: one append per batch, wrapped in
  *    [[withRetry]] (exponential backoff 250ms → ×2 → 60s cap, 10
  *    attempts — indexer-clickhouse/src/database.rs:41-99).
  *  - K2 ReplacingMergeTree/FINAL: appends carry an `insert_seq`
  *    version column; [[readFinal]] is the read-side FINAL (latest
  *    version per PK via row_number) and [[compact]] the merge.
  *  - K4 auto partitions: writes are `partitionBy` a height bucket
  *    derived from block_height — the monthly-range-partition analog
  *    (indexer-explorer/src/database.rs:122-168); Spark creates
  *    partition directories on demand, and height predicates prune them.
  *  - S3 resume: [[lastHeight]] = max(block_height) over the sink
  *    (indexer-clickhouse/src/database.rs:15-39).
  *
  * Scale notes: `sortWithinPartitions(pk)` before write clusters rows
  * like the reference's ORDER BY key, giving parquet row-group min/max
  * pruning on the PK; dedup-on-read shuffles once on the PK hash —
  * identical profile to what ClickHouse pays at merge time.
  */
object ParquetSink {

  /** Retry with exponential backoff — K1's policy. */
  def withRetry[T](maxAttempts: Int = 10, initialDelayMs: Long = 250L,
      maxDelayMs: Long = 60000L)(f: => T): T = {
    var attempt = 0
    var delay = initialDelayMs
    var last: Throwable = null
    while (attempt < maxAttempts) {
      try return f
      catch {
        case e: Throwable =>
          last = e
          attempt += 1
          if (attempt < maxAttempts) {
            Thread.sleep(delay)
            delay = math.min(delay * 2, maxDelayMs)
          }
      }
    }
    throw last
  }

  /** Append one batch, stamped with its insert sequence (the
    * ReplacingMergeTree version column), partitioned by height bucket
    * and clustered by PK within files.
    *
    * `bloomFilterCols` writes a parquet BLOOM FILTER per named column —
    * the Spark twin of the reference's `bloom_filter()` skip indexes on
    * id columns (`01-core-tables.sql:20-23`): point lookups on a hash
    * column skip every row group whose filter excludes the value, the
    * same read-elision the minmax/`sortWithinPartitions` clustering
    * gives range predicates. Costs a few % of file size at write; pays
    * on every selective id probe. */
  /** `extraPartitionCols` prepend additional hive-style partition keys
    * ahead of the height bucket — the model store passes `model_id` so
    * a per-model load prunes to that model's directories instead of
    * scanning the whole family table (VERDICT r13 #3). */
  /** Run `f` with AQE disabled on this session, restoring the previous
    * value after (r17, guide §1.2/§2.4): a [[writeBatch]] plan ends in
    * repartition-by-bucket → sort → write, and the output file count is
    * fixed by the bucket values regardless of partition coalescing — so
    * AQE contributes nothing to the WRITE itself but DOES materialize
    * the shuffle as an extra Spark job (~50 ms of driver constant). The
    * streaming cascade pays that per table per micro-batch (13
    * writes/batch): measured 49 → 36 jobs/micro-batch with the scope
    * applied.
    *
    * Precision notes (ADVICE r17): (a) the toggle is SESSION-level conf
    * state, so while a write is in flight any OTHER query planned on
    * the same session also plans without AQE — benign for correctness
    * (no declared result depends on plan shape) but a plan-quality blip
    * for a concurrent reader; acceptable because the cascade is the
    * only caller and runs single-writer. (b) Some wrapped plans DO
    * embed upstream joins (attachParentTx in the silver cascade) —
    * those lose AQE's runtime skew split for the duration of the write;
    * at the cascade's per-micro-batch volumes the join inputs are
    * bounded (one batch), so the static plan is fine, but a bulk
    * BACKFILL through this path should reconsider the scope. A cloned
    * `spark.newSession()` would isolate the conf, but a DataFrame
    * cannot be transplanted onto another session through public API —
    * the ref-count below is the working compromise. */
  private val aqeScopes =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Int, String)]
  private def withAqeOff[T](spark: SparkSession)(f: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    // reference-counted per session: concurrent writeBatch futures
    // share one scope — a plain save/restore pair would race (the last
    // restorer could re-apply a sibling's "false" and pin AQE off for
    // the rest of the session)
    aqeScopes.synchronized {
      val (n, was) = Option(aqeScopes.get(spark))
        .getOrElse((0, spark.conf.get(k, "true")))
      if (n == 0) spark.conf.set(k, "false")
      aqeScopes.put(spark, (n + 1, was))
    }
    try f finally aqeScopes.synchronized {
      val (n, was) = aqeScopes.get(spark)
      if (n == 1) { aqeScopes.remove(spark); spark.conf.set(k, was) }
      else aqeScopes.put(spark, (n - 1, was))
    }
  }

  def writeBatch(df: DataFrame, path: String, insertSeq: Long,
      pkCols: Seq[String], heightBucketSize: Long = 50L,
      bloomFilterCols: Seq[String] = Nil,
      extraPartitionCols: Seq[String] = Nil): Unit =
    withRetry() {
      val w = df.withColumn("insert_seq", lit(insertSeq))
        .withColumn("height_bucket",
          expr(s"block_height DIV ${heightBucketSize}L"))
        .repartition(col("height_bucket"))
        .sortWithinPartitions(pkCols.map(col): _*)
        .write.mode("append")
      withAqeOff(df.sparkSession) {
        bloomFilterCols
          .foldLeft(w)((acc, c) =>
            acc.option(s"parquet.bloom.filter.enabled#$c", "true"))
          .partitionBy(extraPartitionCols :+ "height_bucket": _*)
          .parquet(path)
      }
    }

  /** [[writeBatch]] minus the stamping — rows keep the `insert_seq`
    * they already carry. Used by compaction so surviving rows keep
    * their version stamps: re-stamping everything 0 would make every
    * [[readAsOf]] pin silently return post-pin data (stamp-0 rows pass
    * any `insert_seq <= maxSeq` filter). */
  private def writeRetainingSeq(df: DataFrame, path: String,
      pkCols: Seq[String], heightBucketSize: Long): Unit =
    withRetry() {
      df.withColumn("height_bucket",
          expr(s"block_height DIV ${heightBucketSize}L"))
        .repartition(col("height_bucket"))
        .sortWithinPartitions(pkCols.map(col): _*)
        .write.mode("append").partitionBy("height_bucket").parquet(path)
    }

  /** FINAL-semantics read: latest insert_seq per PK. Equal-seq
    * duplicates (a retried write that leaked files, a replayed batch
    * reusing its seq) tie-break on a full-row hash, so the survivor is
    * deterministic even when the duplicates differ in non-PK columns. */
  /** FINAL + tombstones — the `ReplacingMergeTree(ver, is_deleted)`
    * DELETE semantics (ClickHouse 23.2+): a delete is an ordinary
    * insert carrying the flag; [[readFinal]] resolves the newest
    * version per key, then flagged keys are hidden. Re-inserting a
    * key with the flag clear resurrects it; [[compact]] keeps the
    * tombstone as the key's surviving version (the CLEANUP merge that
    * would physically drop it is a separate policy, like CH's). */
  def readFinalWithDeletes(raw: DataFrame, pkCols: Seq[String],
      deletedCol: String = "is_deleted"): DataFrame =
    readFinal(raw, pkCols).filter(col(deletedCol) === 0)

  def readFinal(raw: DataFrame, pkCols: Seq[String]): DataFrame = {
    val rowHash = xxhash64(raw.columns.sorted.toIndexedSeq.map(col): _*)
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(col("insert_seq").desc, rowHash.asc)
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** TIME-TRAVEL read: the table's FINAL image AS OF `maxSeq` — drop
    * every version written after that insert_seq, then resolve the
    * survivors exactly like [[readFinal]]. Because `insert_seq` is the
    * writer's monotone batch stamp (the resume height in the runners),
    * this reproduces the table a past batch saw — the reproducible-read
    * primitive a training-data pipeline needs to pin a dataset build to
    * a snapshot while ingest keeps appending. The seq filter is a plain
    * predicate: it prunes files by row-group stats before the window
    * runs, so old snapshots do not pay for new data.
    *
    * Interaction with maintenance: [[compact]]/[[compactWholeRow]]
    * retain each SURVIVOR's insert_seq, so a pin taken at or after a
    * key's last write keeps resolving after the merge; versions the
    * merge discarded are gone (a pin older than an overwrite sees the
    * post-merge image — it under-reports rather than silently
    * including post-pin data, the ReplacingMergeTree contract).
    * [[dropBucketsBelow]] deletes old rows by design: snapshots older
    * than the retention window genuinely lose data, like any TTL'd
    * store. Full history travel needs compaction switched off for the
    * pinned range. */
  def readAsOf(raw: DataFrame, pkCols: Seq[String], maxSeq: Long): DataFrame =
    readFinal(raw.filter(col("insert_seq") <= maxSeq), pkCols)

  /** Compaction job: rewrite the table as its FINAL image with a single
    * version (the ReplacingMergeTree background merge, run on demand).
    *
    * Crash-safe swap: the live directory is renamed ASIDE (`path.old`)
    * before the compacted copy is renamed into place, then the old copy
    * is deleted — every crash point leaves either the original or the
    * compacted table recoverable on disk (a delete-then-rename would
    * lose the whole table, including the resume marker, if the process
    * died between the two steps). A leftover `path.old` from a previous
    * crash is cleared first; a crash that left no live `path` but a
    * `path.old` is rolled back by restoring the old copy. */
  def compact(spark: SparkSession, path: String, pkCols: Seq[String],
      heightBucketSize: Long = 50L): Unit = {
    recoverSwap(path)
    // keep each survivor's insert_seq: FINAL answers are unchanged
    // (one row per PK either way) and outstanding readAsOf pins stay
    // valid across the rewrite
    val fin = readFinal(spark.read.parquet(path), pkCols)
      .drop("height_bucket")
    val tmp = path + ".compact"
    delete(new java.io.File(tmp)) // a stale tmp would be APPENDED onto
    writeRetainingSeq(fin, tmp, pkCols, heightBucketSize)
    swapTmpIntoLive(tmp, path)
  }

  /** [[compact]] WITH CLEANUP — the ClickHouse `OPTIMIZE ... FINAL
    * CLEANUP` analog for tombstoned tables: resolve FINAL, then
    * physically DROP rows whose `is_deleted` flag is set, so deleted
    * keys stop occupying storage. Only safe once no replayable batch
    * below the table's resume point could re-insert a dropped key with
    * an OLDER seq (same contract CH imposes: cleanup assumes all
    * replicas converged) — a later legitimate re-insert is simply a
    * fresh row. Same crash-safe swap as [[compact]]. */
  def compactWithCleanup(spark: SparkSession, path: String,
      pkCols: Seq[String], deletedCol: String = "is_deleted",
      heightBucketSize: Long = 50L): Unit = {
    recoverSwap(path)
    val fin = readFinal(spark.read.parquet(path), pkCols)
      .filter(col(deletedCol) === 0)
      .drop("height_bucket")
    val tmp = path + ".compact"
    delete(new java.io.File(tmp)) // a stale tmp would be APPENDED onto
    writeRetainingSeq(fin, tmp, pkCols, heightBucketSize)
    swapTmpIntoLive(tmp, path)
  }

  /** [[compact]] for tables deduped on the FULL row (silver MV tables):
    * same crash-safe swap, `clusterKeys` only orders rows within files
    * for row-group pruning. */
  def compactWholeRow(spark: SparkSession, path: String,
      clusterKeys: Seq[String], heightBucketSize: Long = 50L): Unit = {
    recoverSwap(path)
    val fin = readFinalWholeRow(spark.read.parquet(path))
      .drop("height_bucket")
    val tmp = path + ".compact"
    delete(new java.io.File(tmp)) // a stale tmp would be APPENDED onto
    writeRetainingSeq(fin, tmp, clusterKeys, heightBucketSize)
    swapTmpIntoLive(tmp, path)
  }

  /** SUMMING-table write (the ClickHouse SummingMergeTree analog — the
    * storage half of an INCREMENTAL AGGREGATE MV): writers append
    * per-batch PARTIAL aggregate rows; [[readSummed]] folds them into
    * current totals; [[compactSummed]] pre-folds on disk. Additive
    * state is replay-HOSTILE — a double-counted partial is silent data
    * corruption, unlike ReplacingMergeTree where replays collapse by
    * PK — so the format carries two guards:
    *
    *  - reads dedup partials per (key, insert_seq) before summing: an
    *    at-least-once redelivery of a batch (same seq, identical rows —
    *    the [[writeBatch]] replay contract) folds exactly once. NB this
    *    requires REPLAY-STABLE batch boundaries — true for Structured
    *    Streaming (a replayed micro-batch has the same id and content),
    *    NOT for the batch runner's resume-overlap replays, which re-cut
    *    batches; additive MVs fed by such writers must instead key
    *    their partials at the replay-atomic grain and use keyed FINAL
    *    ([[graft.gold.GoldViews.blockTransferRollup]]);
    *  - merged rows carry `summed_through` = the max insert_seq folded
    *    into them, and reads ignore partials at or below a key's
    *    watermark: a LATE replay of a pre-compaction batch cannot
    *    re-add rows already inside the merged total.
    *
    * Sum columns must be order-independent under addition (longs,
    * DECIMALs — never raw doubles; aggregate into DECIMAL and cast at
    * the edge, the [[graft.Tables.dsum]] discipline). At 100 TB this
    * turns a full-fact re-aggregation per dashboard query into a scan
    * of O(keys) pre-summed rows plus the partial tail since the last
    * merge. */
  def writeSummedBatch(df: DataFrame, path: String, insertSeq: Long,
      keyCols: Seq[String], heightBucketSize: Long = 50L): Unit =
    writeBatch(df.withColumn("summed_through", lit(0L)), path, insertSeq,
      keyCols, heightBucketSize)

  /** Current totals of a summing table: best merged row per key plus
    * the not-yet-merged partial tail (replays collapsed as documented
    * on [[writeSummedBatch]]), summed. Output columns: `keyCols` ++
    * `sumCols` ++ `block_height` (per-key max — keeps bucket pruning
    * and resume probes meaningful on the compacted image). */
  def readSummed(raw: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val keep = keyCols.map(col) ++ sumCols.map(col) ++
      Seq(col("block_height"), col("insert_seq"), col("summed_through"))
    val merged = readFinal(raw.filter(col("summed_through") > 0L), keyCols)
      .select(keep: _*)
    val partials =
      readFinal(raw.filter(col("summed_through") === 0L),
        keyCols :+ "insert_seq")
        .select(keep: _*)
        .join(merged.select((keyCols.map(col) :+
          col("summed_through").as("__w")): _*), keyCols, "left")
        .filter(col("__w").isNull || col("insert_seq") > col("__w"))
        .drop("__w")
    val aggs = sumCols.map(c => sum(col(c)).as(c)) :+
      max(col("block_height")).as("block_height")
    merged.unionByName(partials)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Background merge for a summing table: rewrite as ONE pre-summed
    * row per key, watermarked (`summed_through` = the max insert_seq on
    * disk) so late replays of already-folded batches stay invisible.
    * Same crash-safe rename swap as [[compact]]. */
  def compactSummed(spark: SparkSession, path: String,
      keyCols: Seq[String], sumCols: Seq[String],
      heightBucketSize: Long = 50L): Unit = {
    recoverSwap(path)
    val raw = spark.read.parquet(path)
    val wmark = raw.agg(max(col("insert_seq"))).collect()(0).getLong(0)
    val summed = readSummed(raw, keyCols, sumCols)
    // Spark's sum() WIDENS decimals (28,2 → 38,2); writing the widened
    // type would mix physical parquet types in one table and break the
    // next scan. Cast each column back to the table's declared type —
    // callers size their decimal precision with merge headroom (an
    // overflowing total is the caller's modeling error).
    val fin = summed
      .select(summed.columns.toIndexedSeq.map { c =>
        raw.schema.find(_.name == c)
          .map(f => col(c).cast(f.dataType).as(c)).getOrElse(col(c))
      }: _*)
      .withColumn("insert_seq", lit(wmark))
      .withColumn("summed_through", lit(wmark))
    val tmp = path + ".compact"
    delete(new java.io.File(tmp)) // a stale tmp would be APPENDED onto
    writeRetainingSeq(fin, tmp, keyCols, heightBucketSize)
    swapTmpIntoLive(tmp, path)
  }

  /** Full-replace snapshot write — the dimension-table refresh twin of
    * [[compact]] (S4's `REFRESH EVERY 1 DAY` materialization): the new
    * image lands in a tmp directory first, then the same crash-safe
    * rename dance swaps it live, so a reader never sees a half-written
    * snapshot and a crash never loses the previous one. A reader that
    * races the swap itself can see a listed file vanish — transient;
    * re-read (wrap in [[withRetry]]) or pin the snapshot by reading it
    * once into a checkpoint before joining. */
  def replaceSnapshot(df: DataFrame, path: String): Unit = {
    recoverSwap(path)
    val tmp = path + ".refresh"
    delete(new java.io.File(tmp))
    withRetry() { df.write.mode("overwrite").parquet(tmp) }
    swapTmpIntoLive(tmp, path)
  }

  /** Recover from a prior interrupted swap: `path.old` present without
    * a live directory means the old copy IS the table — restore it; a
    * leftover beside a live directory lost the race — drop it. Public:
    * an operator restarting after a crash (or a test stopping a
    * refresh loop mid-tick) calls this before reading. */
  def recoverSwap(path: String): Unit = {
    val live = new java.io.File(path)
    val old = new java.io.File(path + ".old")
    if (old.exists() && !live.exists()) {
      if (!old.renameTo(live))
        throw new java.io.IOException(s"swap recovery failed: $old -> $path")
    } else if (old.exists()) {
      delete(old)
    }
  }

  /** Rename the live directory aside, the tmp copy into place, then
    * drop the old copy — every crash point leaves a readable table
    * ([[recoverSwap]] rolls an interrupted run forward or back). A
    * missing live directory (first snapshot) is a plain rename. */
  private def swapTmpIntoLive(tmp: String, path: String): Unit = {
    val live = new java.io.File(path)
    val old = new java.io.File(path + ".old")
    if (live.exists()) {
      if (!live.renameTo(old))
        throw new java.io.IOException(s"swap rename failed: $path -> $old")
      if (!new java.io.File(tmp).renameTo(live)) {
        old.renameTo(live) // roll back so the table stays readable
        throw new java.io.IOException(s"swap rename failed: $tmp -> $path")
      }
      delete(old)
    } else if (!new java.io.File(tmp).renameTo(live)) {
      throw new java.io.IOException(s"swap rename failed: $tmp -> $path")
    }
  }

  /** FINAL dedup on the FULL data row (every column except the sink's
    * bookkeeping) — for MV-style tables whose rows carry no natural
    * unique key: exact replay duplicates collapse, distinct rows always
    * survive. (A key-based FINAL here would lose data: e.g. one intent
    * legitimately emits several per-token diff rows that share the
    * reference's ORDER BY key, 02-silver-tables.sql:125.) */
  def readFinalWholeRow(raw: DataFrame): DataFrame =
    readFinal(raw, raw.columns.toSeq
      .filterNot(c => c == "insert_seq" || c == "height_bucket"))

  /** True if the table directory holds at least one parquet data file —
    * a dir that exists but was written only empty batches (or fully
    * trimmed) is NOT readable (schema inference fails). */
  def hasData(path: String): Boolean = {
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    def rec(f: java.io.File): Boolean = {
      val children = if (f.isDirectory) f.listFiles() else null
      children != null && children.exists(c => visible(c.getName) &&
        ((c.isFile && c.getName.endsWith(".parquet")) || rec(c)))
    }
    rec(new java.io.File(path))
  }

  /** Windowed FINAL read with PARTITION PRUNING: a `block_height >= h`
    * predicate alone cannot prune the `height_bucket` partitions
    * (Catalyst cannot invert the DIV), so the bucket bound is supplied
    * explicitly — the scan touches only the TTL-window directories no
    * matter how long the table's history is. */
  def readFinalSince(spark: SparkSession, path: String, pkCols: Seq[String],
      minHeight: Long, heightBucketSize: Long = 50L): DataFrame = {
    recoverSwap(path) // a crash mid-compaction must not lose the table
    readFinal(
      spark.read.parquet(path)
        .filter(col("height_bucket") >= lit(minHeight / heightBucketSize) &&
          col("block_height") >= lit(minHeight)),
      pkCols)
  }

  /** Retention trim — drop whole height-bucket partition directories
    * strictly below `minHeight`'s bucket (the ClickHouse
    * partition-DROP/TTL analog): state tables stay O(TTL window)
    * instead of O(chain length). Directory-level, no rewrite. The MAX
    * bucket is always kept, even when fully expired, so a table that
    * ever held data stays schema-readable (and [[lastHeight]] keeps
    * its probe target). */
  def dropBucketsBelow(path: String, minHeight: Long,
      heightBucketSize: Long = 50L): Unit = {
    val keep = minHeight / heightBucketSize
    val dir = new java.io.File(path)
    if (dir.exists()) {
      val parts = dir.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("height_bucket="))
        .map(f => f -> f.getName.stripPrefix("height_bucket=").toLong)
      val maxBucket = if (parts.isEmpty) Long.MinValue else parts.map(_._2).max
      parts.foreach { case (f, b) =>
        if (b < keep && b != maxBucket) delete(f)
      }
    }
  }

  /** Resume height: max(block_height) over the sink, None if absent.
    * Reads ONLY the max height-bucket partition (found by directory
    * listing) — the resume probe stays O(one bucket) on an arbitrarily
    * long table. */
  def lastHeight(spark: SparkSession, path: String): Option[Long] = {
    recoverSwap(path) // the resume marker survives a crashed compaction
    val dir = new java.io.File(path)
    if (!dir.exists()) return None
    val buckets = dir.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("height_bucket="))
      .map(_.getName.stripPrefix("height_bucket=").toLong)
    val scan = spark.read.parquet(path)
    val probe =
      if (buckets.isEmpty) scan
      else scan.filter(col("height_bucket") === lit(buckets.max))
    probe.agg(max(col("block_height"))).collect()(0) match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getLong(0))
    }
  }

  /** Recursive local delete (fixture/test plumbing). */
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete(): Unit
  }

  /** A fresh scratch dir for one invocation of a sink-scenario query or
    * streaming twin: `tmpdir/graft_sink_<pid>_<name>_<n>`, where `n`
    * is a process-wide counter — every call returns a NEW directory —
    * emptied on entry and deleted at JVM exit.
    *
    * Both components are LOAD-BEARING. The pid: fixed paths let two
    * JVMs running the same declared query concurrently (a background
    * Verify replay beside the test suite) feed each other's streams —
    * the suite read ~100× inflated MV state (round-16 incident:
    * `w_stream_rolling_7d` at sf0.001 read the sf0.1 replay's feed).
    * The counter: pid + name alone let two queries of one JVM that
    * named the same dir (the dedup and graph twins shared theirs)
    * delete each other's live stream under the parallel Verify, which
    * silently dropped `d_stream_minhash` and `g_stream_components` from
    * the round-18 gate; a lazily-held result read after a sibling ran
    * failed the same way. */
  def scratchDir(name: String): String = {
    val d = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_sink_${ProcessHandle.current().pid()}_${name}_" +
        scratchSeq.incrementAndGet())
    delete(d)
    // ONE shutdown hook for all scratch dirs (ADVICE r16): a per-dir
    // hook accumulates threads in a long-lived process, and registering
    // DURING shutdown throws IllegalStateException — swallow that case
    // (the JVM is exiting; the cleanup the hook would do is happening
    // anyway).
    if (scratchHookArmed.compareAndSet(false, true)) {
      try Runtime.getRuntime.addShutdownHook(new Thread(() =>
        scratchRegistered.keySet().forEach(p =>
          delete(new java.io.File(p)))))
      catch { case _: IllegalStateException => () }
    }
    scratchRegistered.put(d.getAbsolutePath, java.lang.Boolean.TRUE): Unit
    d.getAbsolutePath
  }
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()
  private val scratchHookArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private val scratchRegistered =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
}
