package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DrainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def later(ms: Long)(f: => Unit): Thread = {
    val t = new Thread(() => { Thread.sleep(ms); f })
    t.start(); t
  }

  test("drain waits for every started job to end") {
    val d = new Drain
    (1 to 3).foreach(_ => d.jobStarted())
    val t = later(200) { (1 to 3).foreach(_ => d.jobEnded()) }
    val t0 = System.nanoTime()
    assert(d.await(10000))
    assert((System.nanoTime() - t0) / 1e6 >= 150)
    assert(d.quiet)
    t.join()
  }

  test("drain waits for a started query's termination, and times out without it") {
    val d = new Drain
    d.queryStarted()
    assert(!d.await(100))
    val t = later(100)(d.queryTerminated())
    assert(d.await(10000))
    t.join()
  }

  test("drain returns at once when nothing is outstanding") {
    val d = new Drain
    val t0 = System.nanoTime()
    assert(d.await(10000))
    assert((System.nanoTime() - t0) / 1e6 < 1000)
  }

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  test("after settle, the probe has seen every job and the stream's end") {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      probe.settle(spark.sparkContext)
      val perAction = probe.jobCount
      assert(perAction > 0)
      (1 to 3).foreach(_ => spark.range(1000).selectExpr("sum(id)").collect())
      probe.settle(spark.sparkContext)
      assert(probe.jobCount == 4 * perAction)

      val dir = Files.createTempDirectory("perfbench_drain")
      Files.writeString(dir.resolve("a.txt"), "x\ny\n")
      probe.expectQuery()
      spark.readStream.text(dir.toString).writeStream
        .option("checkpointLocation", dir.resolve("_ck").toString)
        .foreachBatch((b: DataFrame, _: Long) => b.count(): Unit)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      probe.settle(spark.sparkContext)
      assert(probe.drain.quiet)
      assert(probe.progress.size >= 1)
      graft.sink.ParquetSink.delete(dir.toFile)
    } finally {
      spark.sparkContext.removeSparkListener(probe)
      spark.streams.removeListener(probe.streams)
    }
  }
}
