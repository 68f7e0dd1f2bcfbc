package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Median latency of each kind of call, from (kind, ms) samples. A mix of
    * kinds with different costs is summarised by these, not by quantiles of
    * the pooled samples: a pooled quantile sits between the cost levels of
    * two kinds and jumps from one to the other from run to run. */
  def kindMedians(samples: Seq[(String, Double)]): Seq[Double] =
    samples.groupBy(_._1).values.map(ks => median(ks.map(_._2))).toSeq

  /** The end-to-end latency metrics of a query mix: `query_ms`, the
    * geometric mean over kinds of each kind's median, and `query_slow_ms`,
    * the same over the slower half of the kinds, which set the tail. */
  def queryMetrics(samples: Seq[(String, Double)]): Seq[(String, Double)] = {
    def geomean(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    val m = kindMedians(samples).sorted
    Seq("query_ms" -> geomean(m), "query_slow_ms" -> geomean(m.drop(m.size / 2)))
  }
}

/** Files under a directory, measured from outside the program. */
object Disk {
  /** path -> (size, mtime) of every regular file under `dir`. */
  def files(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally walk.close()
    }
  }
  def bytes(dir: String): Long = files(dir).valuesIterator.map(_._1).sum

  /** (files, bytes) that are new or changed in `after`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.valuesIterator.map(_._1).sum)
  }
}

/** Operations attempted and the ones that threw or returned a wrong result. */
final class Outcome {
  var attempted = 0
  val failures: ArrayBuffer[String] = ArrayBuffer[String]()
  def failed: Int = failures.size

  /** Run one operation; it fails if it throws or `check` returns a message. */
  def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val r = body
      check(r) match {
        case None => Some(r)
        case Some(msg) => failures += s"$what: $msg"; None
      }
    } catch {
      case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
}

/** Shared by every workload: the session, the tracer and where inputs live. */
final case class Ctx(spark: org.apache.spark.sql.SparkSession, tracer: Tracer,
                     seed: Long, work: Path, outcome: Outcome) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

trait Workload {
  /** Generate inputs and warm up; timed by the caller as set-up. */
  def setup(): Unit
  /** Closed loop of passes for about `seconds` (at least one pass); returns
    * the number of passes. */
  def measure(seconds: Double): Int
  /** Checks that run once after the measured region. */
  def finalChecks(): Unit = ()
  /** End-to-end metrics from untraced spans, except set-up and memory. */
  def endToEnd: Seq[(String, Double)]
  /** Per-layer metrics specific to this workload, from traced spans. */
  def perLayer: Seq[(String, Double)]
}

object Workload {
  /** Runs `pass` until `seconds` have elapsed, but starts no pass that the
    * previous one says would end more than half a pass past the deadline. */
  def loop(seconds: Double)(pass: => Unit): Int = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    var last = 0.0
    do {
      val s = elapsed
      pass
      n += 1
      last = elapsed - s
    } while (elapsed + last / 2 < seconds)
    n
  }
}
