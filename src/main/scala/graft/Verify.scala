package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws leaves a `<name>.FAILED` marker instead of its directory, and
  * the run exits 1 once oracle_sql.json is written — a crashed query is
  * a failed row, never a missing one. */
object Verify {
  /** Dump one result to `<outDir>/<name>`. The directory (and any old
    * marker) is deleted first, so a stale result of an earlier run can
    * never pass; when `run` throws, `<outDir>/<name>.FAILED` holds the
    * error instead. Returns whether the dump succeeded. */
  def dump(outDir: String, name: String, run: () => DataFrame): Boolean = {
    val dir = new java.io.File(outDir, name)
    val marker = Paths.get(outDir, s"$name.FAILED")
    graft.sink.ParquetSink.delete(dir)
    Files.deleteIfExists(marker)
    try {
      run().coalesce(1).write.mode("overwrite").parquet(dir.getPath)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: $e")
      graft.sink.ParquetSink.delete(dir)
      Files.writeString(marker, e.toString)
      false
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args: restrict the dump to the named queries
    // (builder-side spot checks; the driver always passes exactly two)
    val only: String => Boolean =
      if (rest.isEmpty) _ => true else rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Sorted name order for symmetry with Bench (VERDICT r8 #1): the dump
    // itself is order-insensitive, but deterministic execution order makes
    // any order-dependent failure reproducible.
    val todo = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1))
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    def dumpQuery(name: String,
        fn: (SparkSession, String) => DataFrame): Unit =
      if (!dump(outDir, name, () => fn(spark, sfDir))) failed.incrementAndGet()
    // Overlapped dumps (r18, guide §2.6 "overlap independent jobs"): at
    // the gate SF the per-query cost is dominated by DRIVER work
    // (planning + codegen + job orchestration on byte-small data), so
    // running the 226 dumps one-by-one left 32 cores idle — the r17
    // driver window closed before the entry even started (VERIFY_r17
    // entry_ok:false). The dumps are independent (each writes its own
    // directory); the one piece of shared mutable state is the
    // QueryCaches registry, whose release is a BATCH BARRIER here: all
    // threads of a batch join before releaseAll(), so a release can
    // never unpersist a sibling's in-flight intermediate (a mid-job
    // unpersist is recompute-safe but wasteful). Everything a query
    // registers is released at the next barrier — same contract as the
    // sequential loop, held at batch rather than query grain.
    // SPARK_GRAFT_VERIFY_THREADS=1 restores the sequential loop.
    val threads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    todo.grouped(threads).foreach { batch =>
      if (threads == 1 || batch.size == 1) batch.foreach(kv => dumpQuery(kv._1, kv._2))
      else {
        val ts = batch.map { case (name, fn) =>
          val t = new Thread(() => dumpQuery(name, fn), s"verify-$name")
          t.start(); t
        }
        ts.foreach(_.join())
      }
      // the tracked cache contract: release exactly the blocks the
      // batch's queries registered (QueryCaches scaladoc); clearCache
      // stays as a backstop against untracked persists sneaking in
      QueryCaches.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.get > 0) {
      System.err.println(s"[verify] ${failed.get} queries failed")
      sys.exit(1)
    }
  }
}
