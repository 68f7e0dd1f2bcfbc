package graft

import java.sql.Date
import graft.ops.Validation

/** Continuity-gap goldens from tests/test_validation/test_continuity.py
  * (FIXTURES.md §3).
  */
class ValidationSpec extends SparkSpec {

  private def observed(dates: String*) = {
    import spark.implicits._
    dates.map(Date.valueOf).toSeq.toDF("event_date")
  }

  test("single gap: rows on {15,17} → gap [16]") {
    val gaps = Validation.continuityGaps(spark,
        observed("2024-01-15", "2024-01-17"), "event_date", "2024-01-15", "2024-01-17")
      .collect().map(_.getDate(0).toString)
    gaps.toSeq shouldBe Seq("2024-01-16")
  }

  test("multiple non-consecutive gaps: {15,17,19} → [16, 18]") {
    val gaps = Validation.continuityGaps(spark,
        observed("2024-01-15", "2024-01-17", "2024-01-19"), "event_date",
        "2024-01-15", "2024-01-19")
      .collect().map(_.getDate(0).toString)
    gaps.toSeq shouldBe Seq("2024-01-16", "2024-01-18")
  }

  test("complete range → no gaps; single-day range → no gaps") {
    Validation.continuityGaps(spark,
      observed("2024-01-15", "2024-01-16", "2024-01-17"), "event_date",
      "2024-01-15", "2024-01-17").count() shouldBe 0
    Validation.continuityGaps(spark,
      observed("2024-01-15"), "event_date", "2024-01-15", "2024-01-15")
      .count() shouldBe 0
  }

  test("incompleteKeys flags groups below the expected count") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("k", "v")
    val out = Validation.incompleteKeys(df, "k", 2L).collect()
    out.length shouldBe 1
    out.head.getString(0) shouldBe "b"
  }

  test("continuityGaps and incompleteKeys: one shuffle each, and the same answer " +
    "under any shuffle partition count, with AQE on or off") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val seen = observed((1 to 30).filterNot(Set(4, 5, 17, 30)).map(d => f"2024-01-$d%02d"): _*)
      .repartition(5)
    val keyed = (1 to 12).flatMap(k => Seq.fill(k % 4 + 1)(f"k$k%02d")).toDF("k").repartition(3)
    def gaps() = Validation.continuityGaps(spark, seen, "event_date", "2023-12-30", "2024-01-31")
    def incomplete() = Validation.incompleteKeys(keyed, "k", 3L)
    def answer() = (gaps().collect().map(_.getDate(0).toString).toSeq,
      incomplete().collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    val expected = answer()
    expected._1 shouldBe Seq("2023-12-30", "2023-12-31", "2024-01-04", "2024-01-05",
      "2024-01-17", "2024-01-30", "2024-01-31")
    expected._2 shouldBe (1 to 12).filter(_ % 4 + 1 < 3).map(k => (f"k$k%02d", (k % 4 + 1).toLong))
    val default = spark.conf.get("spark.sql.shuffle.partitions")
    for (aqe <- Seq("true", "false"); parts <- Seq("1", "7", default))
      withConf("spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> parts) {
        withClue(s"AQE $aqe, $parts shuffle partitions: ")(answer() shouldBe expected)
      }
    // one exchange above the input's own repartition
    withConf("spark.sql.adaptive.enabled" -> "false") {
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size
      exchanges(gaps()) shouldBe exchanges(seen) + 1
      exchanges(incomplete()) shouldBe exchanges(keyed) + 1
    }
  }

  test("keySetDiff tags only_a / only_b / both") {
    import spark.implicits._
    val a = Seq("x", "y").toDF("k")
    val b = Seq("y", "z").toDF("k")
    val out = Validation.keySetDiff(a, b, "k")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    out shouldBe Set(("x", "only_a"), ("z", "only_b"), ("y", "both"))
  }
}
