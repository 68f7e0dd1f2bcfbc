package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .withExtensions(GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Run `body` with the session settings `kv`, then restore the old ones. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The description of every job `body` starts ("null" for none). The
    * listener bus delivers in order, so a marker job run after `body` and
    * seen by the listener proves every earlier job start was seen too; one
    * run before `body` keeps earlier suites' jobs out.
    */
  def jobDescriptions(body: => Any): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(
          Option(s.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    def mark(): Unit = {
      val marker = s"marker:${java.util.UUID.randomUUID()}"
      graft.ops.Concurrent.labeled(spark, marker)(
        spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      mark()
      seen.clear()
      body
      mark()
      seen.toArray.toSeq.map(_.toString).filterNot(_.startsWith("marker:"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
