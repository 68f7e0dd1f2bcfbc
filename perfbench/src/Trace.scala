package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Monotonic totals of what the Spark scheduler reports, indexed by the
  * constants in [[Counters]]; a span's counts are the difference of two
  * snapshots. Job intervals (listener clock, ms) give the time covered by
  * at least one running job.
  */
final class SchedulerCounters extends SparkListener {
  import Counters._
  private val totals = new Array[Long](Names.size)
  private val running = scala.collection.mutable.Map[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    totals(Jobs) += 1
    if (desc.isEmpty) totals(UnlabelledJobs) += 1
    if (desc.exists(_.startsWith("Listing leaf files"))) totals(ListingJobs) += 1
    running(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(Stages) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals(Tasks) += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      totals(TaskRunMs) += m.executorRunTime
      totals(TaskCpuNs) += m.executorCpuTime
      totals(GcMs) += m.jvmGCTime
      totals(ShuffleReadBytes) += m.shuffleReadMetrics.totalBytesRead
      totals(FetchWaitMs) += m.shuffleReadMetrics.fetchWaitTime
      totals(ShuffleWriteBytes) += m.shuffleWriteMetrics.bytesWritten
      totals(SpillBytes) += m.memoryBytesSpilled + m.diskBytesSpilled
      if (info != null) {
        // Spark UI's definition (AppStatusUtils.schedulerDelay).
        val fetch =
          if (info.gettingResultTime > 0) info.launchTime + info.duration - info.gettingResultTime
          else 0L
        totals(SchedulerDelayMs) += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch)
      }
    }
  }

  def snapshot(): Array[Long] = synchronized(totals.clone())

  /** Milliseconds of [from, until) during which at least one job ran. */
  def jobCoveredMs(from: Long, until: Long): Long = synchronized {
    val clipped = (intervals ++ running.values.map(t => (t, until)))
      .map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var end = from
    clipped.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }
}

object Counters {
  val Names: IndexedSeq[String] = IndexedSeq("jobs", "unlabelled_jobs", "listing_jobs",
    "stages", "tasks", "task_run_ms", "task_cpu_ns", "scheduler_delay_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms", "spill_bytes")
  val Jobs = 0; val UnlabelledJobs = 1; val ListingJobs = 2; val Stages = 3; val Tasks = 4
  val TaskRunMs = 5; val TaskCpuNs = 6; val SchedulerDelayMs = 7; val GcMs = 8
  val ShuffleReadBytes = 9; val ShuffleWriteBytes = 10; val FetchWaitMs = 11; val SpillBytes = 12
}

/** One timed call into a layer. `counts` are scheduler counter deltas
  * (empty when untraced); `attrs` are values the caller measured itself. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      counts: Array[Long], jobCoveredMs: Long, innerOverheadNs: Long,
                      attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
  /** Duration less the time its child spans spent draining the bus. */
  def netMs: Double = (endNs - startNs - innerOverheadNs) / 1e6
  def count(i: Int): Long = if (counts.isEmpty) 0L else counts(i)
}

/** Records a span around each call into a layer, keeping them in memory.
  *
  * Untraced, a span costs two clock reads, and the workloads derive their
  * end-to-end metrics from span durations. Traced, a benchmark-owned
  * listener counts scheduler events and every span drains the listener
  * bus at both ends, so its counts hold exactly the events posted inside
  * it; the time spent draining is kept apart as tracing overhead.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val counters: Option[SchedulerCounters] =
    if (traced) { val c = new SchedulerCounters; sc.addSparkListener(c); Some(c) } else None
  val spans: ArrayBuffer[Span] = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var overheadNs = 0L
  private var measuredFrom = 0
  private var overheadAtMark = 0L

  /** Start of the measured region: `measured` sees only spans opened after it. */
  def markMeasured(): Unit = { measuredFrom = nextId; overheadAtMark = overheadNs }
  def measured(prefix: String): Seq[Span] =
    spans.toSeq.filter(s => s.id >= measuredFrom && s.name.startsWith(prefix))
  /** Seconds spent draining the bus since the mark. */
  def measuredOverheadSeconds: Double = (overheadNs - overheadAtMark) / 1e9

  private def drainedSnapshot(): Array[Long] = counters match {
    case None => Array.emptyLongArray
    case Some(c) =>
      val t0 = System.nanoTime()
      org.apache.spark.PerfbenchBus.drain(sc)
      val s = c.snapshot()
      overheadNs += System.nanoTime() - t0
      s
  }

  def span[T](name: String)(body: => T): T = spanWith(name)(body)(_ => Map.empty)

  /** Time `body` as span `name`; `attrs` adds values measured from the
    * result after the span's clock has stopped. */
  def spanWith[T](name: String)(body: => T)(attrs: T => Map[String, Double]): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = drainedSnapshot()
    val ov0 = overheadNs
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    stack = id :: stack
    val result = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    val inner = overheadNs - ov0
    val after = drainedSnapshot()
    val delta = after.indices.map(i => after(i) - before(i)).toArray
    val covered = counters.fold(0L)(_.jobCoveredMs(wall0, wall1))
    spans += Span(id, parent, name, t0, t1, delta, covered, inner, attrs(result))
    result
  }

  /** One JSON object per span, in the order they closed. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val counts = if (s.counts.isEmpty) "" else Counters.Names.indices
        .map(i => s"\"${Counters.Names(i)}\":${s.counts(i)}").mkString(",\"counts\":{", ",", "}")
      val attrs = if (s.attrs.isEmpty) "" else s.attrs
        .map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",\"attrs\":{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"job_covered_ms":${s.jobCoveredMs},""" +
        s""""inner_overhead_ns":${s.innerOverheadNs}$counts$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
