package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, SampleGate, Vectors}

/** The shared banded chooser's Spark-side contracts: it releases every
  * cache it pinned on failure paths, and labels every job it runs.
  */
class BandChooserSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    (1L to 12L).map(i => (i, s"the quick brown fox number ${i % 3} jumps over the lazy dog"))
      .toDF("id", "text")
  }
  private lazy val hashes = {
    import spark.implicits._
    Seq((1L, 5L, 7L), (2L, 5L, 4L), (7L, 9L, 9L), (8L, 9L, 9L),
      (9L, 0xF0F0F0F0L, 0x0F0F0F0FL)).toDF("media_id", "dh_hi", "dh_lo")
  }
  private lazy val vecs = {
    import spark.implicits._
    (1L to 12L).map(i => (i, (1 to 4).map(j => math.sin(i % 5 * 7.0 + j))))
      .toDF("vec_id", "e")
  }

  private def noCachedPlan: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a chooser or auto path whose input throws on evaluation leaves no " +
    "cached plan behind") {
    // each input column fails at its first evaluation — the sample/corpus
    // groups' materializing count, right after their persist (the
    // repartition keeps the optimizer from folding the local rows, and
    // with them the error, at planning time)
    def bad(df: DataFrame, c: String, id: String, at: Long): DataFrame =
      df.repartition(2).withColumn(c,
        when(col(id) === at, raise_error(lit("boom"))).otherwise(col(c)))
    val badText = bad(docs, "text", "id", 5L)
    val badHash = bad(hashes, "dh_lo", "media_id", 7L)
    val badVec = bad(vecs, "e", "vec_id", 5L)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "chooseLshConfig" -> (() => Dedup.chooseLshConfig(badText, "id", "text", 3,
        16, Seq(2, 4), 0.5, 1, 0L, 0L)),
      "chooseLshConfig capped" -> (() => Dedup.chooseLshConfig(badText, "id",
        "text", 3, 16, Seq(2, 4), 0.5, 1, 0L, 0L, truthDfCap = Some(5))),
      "nearDupPairsAuto" -> (() => Dedup.nearDupPairsAuto(badText, "id", "text",
        truthDfCap = None, gate = SampleGate.Mod(1))),
      "nearDupPairsAuto budget" -> (() => Dedup.nearDupPairsAuto(badText, "id",
        "text", truthDfCap = None, gate = SampleGate.Budget(400L))),
      "chooseSimhashBands" -> (() => Dedup.chooseSimhashBands(badText, "id",
        "text", Seq(2, 4), 6, 1, 0L, 0L)),
      "simhashPairsAuto" -> (() => Dedup.simhashPairsAuto(badText, "id", "text",
        Seq(2, 4), 6, SampleGate.Mod(1), 0L, 0L)),
      "chooseHammingBands" -> (() => Multimodal.chooseHammingBands(badHash,
        Seq(2, 4), 4, 1, 0L, 0L)),
      "bandedHammingPairsAuto" -> (() => Multimodal.bandedHammingPairsAuto(
        badHash, 4, Seq(2, 4), SampleGate.Mod(1), 0L, 0L)),
      "chooseCosinePlanes" -> (() => Vectors.chooseCosinePlanes(badVec, "e",
        "vec_id", Seq(1, 2), 4, 0.9, 1, 0L, 0L)),
      "cosineDupPairsAuto" -> (() => Vectors.cosineDupPairsAuto(badVec, "e",
        "vec_id", Seq(1, 2), 4, 0.9, SampleGate.Budget(400L), 0L, 0L)))
    // caches are transparent to results: dropping other specs' entries
    // only costs them a recomputation
    spark.catalog.clearCache()
    calls.foreach { case (name, call) =>
      val boom = intercept[Exception](call().collect())
      withClue(s"$name: ") {
        boom.toString should include("boom")
        noCachedPlan shouldBe true
      }
    }
  }

  test("every job a chooser call runs carries a chooser label") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        labels.add(String.valueOf(s.properties.getProperty("spark.job.description")))
    }
    // listener delivery is async and the bus is private[spark]: poll
    // until the count is stable instead of waitUntilEmpty
    def drained(): Int = {
      var prev = -1; var cur = labels.size; var spins = 0
      while (prev != cur && spins < 40) {
        prev = cur; Thread.sleep(100); cur = labels.size; spins += 1
      }
      cur
    }
    val inputs = Seq(docs, hashes, vecs)
    inputs.foreach(_.collect()) // input construction jobs, if any, before the listener
    spark.sparkContext.addSparkListener(listener)
    try {
      drained()
      labels.clear()
      Dedup.chooseLshConfig(docs, "id", "text", 3, 16, Seq(2, 4), 0.5, 1, 0L, 0L,
        truthDfCap = Some(5)).collect()
      Dedup.chooseSimhashBands(docs, "id", "text", Seq(2, 4), 6, 1, 0L, 0L).collect()
      Multimodal.chooseHammingBands(hashes, Seq(2, 4), 4, 1, 0L, 0L).collect()
      Vectors.chooseCosinePlanes(vecs, "e", "vec_id", Seq(1, 2), 4, 0.9, 1, 0L, 0L)
        .collect()
      drained() should be > 0
      val seen = labels.toArray.toSeq.map(_.toString)
      seen.filterNot(_.startsWith("chooser:")) shouldBe empty
      Seq("lsh", "simhash", "hamming", "cosine").foreach { f =>
        seen.exists(_.startsWith(s"chooser:$f:")) shouldBe true
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
