package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Completion barrier for asynchronous listener events: counts started
  * and ended jobs and open streaming queries, and lets the benchmark
  * wait until every job it started has ended and every query it
  * started has terminated. Waiting is on a monitor that each event
  * notifies; the timeout only bounds a wait for an event that never
  * comes. */
final class Drain {
  private var started = 0L
  private var ended = 0L
  private var openQueries = 0L

  def jobStarted(): Unit = synchronized { started += 1 }
  def jobEnded(): Unit = synchronized { ended += 1; notifyAll() }
  def queryStarted(): Unit = synchronized { openQueries += 1 }
  def queryTerminated(): Unit =
    synchronized { openQueries -= 1; notifyAll() }

  def quiet: Boolean = synchronized { ended >= started && openQueries <= 0 }

  /** True once quiet; false if `timeoutMs` passed first. */
  def await(timeoutMs: Long): Boolean = synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var left = timeoutMs
    while (!(ended >= started && openQueries <= 0) && left > 0) {
      wait(left)
      left = (deadline - System.nanoTime()) / 1000000L
    }
    ended >= started && openQueries <= 0
  }
}

/** Per-job task totals. `span` is the engine's trace property of the
  * thread that launched the job (empty when tracing is off). */
final case class JobRec(jobId: Int, span: Option[Long], cpuNs: Long,
    shuffleWrite: Long, spill: Long, outputBytes: Long)

/** SparkListener + StreamingQueryListener registered by the benchmark:
  * records every job with its stages' task metrics, and every streaming
  * progress report. Read only after [[settle]]. */
final class Probe extends SparkListener {
  val drain = new Drain
  private val open = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("graft.trace.parent")))
      .flatMap(_.split(':').lift(1)).map(_.toLong)
    open.put(e.jobId, JobRec(e.jobId, span, 0, 0, 0, 0))
    e.stageIds.foreach(s => stageJob.put(s, Int.box(e.jobId)))
    drain.jobStarted()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val jid = stageJob.remove(e.stageInfo.stageId)
    val m = e.stageInfo.taskMetrics
    if (m != null && jid != null) Option(open.get(jid.intValue)).foreach { r =>
      open.put(jid.intValue, r.copy(
        cpuNs = r.cpuNs + m.executorCpuTime,
        shuffleWrite = r.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = r.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        outputBytes = r.outputBytes + m.outputMetrics.bytesWritten))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(open.remove(e.jobId)).foreach(done.add)
    drain.jobEnded()
  }

  /** Micro-batch progress: (batchId, numInputRows, triggerExecution ms,
    * addBatch ms). */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Long, Long, Long)]()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.add((e.progress.batchId, e.progress.numInputRows,
        ms("triggerExecution"), ms("addBatch")))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      drain.queryTerminated()
  }

  /** Call before starting a streaming query; its termination event is
    * then part of what [[settle]] waits for. */
  def expectQuery(): Unit = drain.queryStarted()

  /** Flush the listener bus and wait for the drain barrier. Throws if
    * either does not complete within `timeoutMs`. */
  def settle(sc: org.apache.spark.SparkContext, timeoutMs: Long = 60000L): Unit = {
    org.apache.spark.perfbench.ListenerBus.flush(sc, timeoutMs)
    if (!drain.await(timeoutMs))
      throw new IllegalStateException("listener events did not drain")
  }

  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.jobId)
  def jobCount: Int = done.size
}

/** Job totals over a set of jobs. */
final case class JobSum(jobs: Int, cpuNs: Long, shuffleWrite: Long,
    spill: Long)
object JobSum {
  def of(js: Iterable[JobRec]): JobSum = JobSum(js.size, js.map(_.cpuNs).sum,
    js.map(_.shuffleWrite).sum, js.map(_.spill).sum)
}

/** Splits the wall time of span trees into per-span self times whose
  * sum over one tree is its root's wall, with concurrent children (the
  * engine's parallel table writes) sharing the instants they overlap. */
object SpanTree {
  final case class S(id: Long, parent: Long, name: String, start: Long,
      end: Long) { def dur: Long = end - start }

  def fromTracing(spans: Seq[graft.metrics.Tracing.Span]): Seq[S] =
    spans.filter(_.name != "spark_job").map { s =>
      val start = s.startUnixMs * 1000000L
      S(s.spanId, s.parentId, s.name, start, start + s.durationNs)
    }

  /** Self-time allotment per span name, in the spans' time unit, for the
    * trees rooted at `roots`. Each instant of a span goes to the span
    * itself when no child runs, else in equal parts to the children
    * running then; a child's allotment is split the same way, scaled to
    * its own duration. */
  def selfTimes(all: Seq[S], roots: Seq[S]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def alloc(s: S, allotted: Double): Unit = {
      val cs = kids.getOrElse(s.id, Nil)
      if (cs.isEmpty || s.dur <= 0) out(s.name) += allotted
      else {
        val r = allotted / s.dur
        val share = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        val cuts = (cs.flatMap(c => Seq(c.start, c.end)) ++ Seq(s.start, s.end))
          .map(t => math.min(math.max(t, s.start), s.end)).distinct.sorted
        cuts.zip(cuts.tail).foreach { case (a, b) =>
          val active = cs.filter(c => c.start <= a && c.end >= b)
          if (active.isEmpty) out(s.name) += r * (b - a)
          else active.foreach(c => share(c.id) += r * (b - a) / active.size)
        }
        cs.foreach(c => alloc(c, share(c.id)))
      }
    }
    roots.foreach(r => alloc(r, r.dur.toDouble))
    out.toMap
  }
}
