package graft

import org.apache.spark.sql.functions._

/** Plan + scale-path checks for the grouping-sets / pivot / percentile
  * family (values are oracle-checked by q_a12/q_a13/q_a14).
  */
class AggSpec extends SparkSpec {
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("rollup is one pass: Expand before a partial aggregate, one agg exchange") {
    val p = SparkEntry.queries("q_a12_rollup")(spark, sf)
      .queryExecution.executedPlan.toString
    p should include("Expand")
    p should include("partial_count")
    // one hash exchange for the aggregate (the other exchange is the
    // presentation range sort)
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("pivot with explicit values needs no distinct-values pre-job") {
    // A blind pivot runs collect(distinct pivot col) eagerly; with the
    // value list given, building the frame must launch zero Spark jobs.
    // (The parquet read happens OUTSIDE the counted window — loading a
    // table can legitimately launch a schema/listing job.)
    val li = Tables.lineitem(spark, sf)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val df = li.groupBy($"l_returnflag").pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    after shouldBe before
    df.columns.toSeq shouldBe Seq("l_returnflag", "F", "O")
  }

  test("rollingZScore: planted spike flagged, warmup and steady rows not") {
    import graft.ops.Windowed
    // key "a": 9 steady days at 10 then a spike of 100 on day 10.
    val rows = ((1 to 9).map(i => ("a", i, 10L)) :+ (("a", 10, 100L))) ++
      (1 to 8).map(i => ("b", i, 5L)) // constant series: std 0, never anomalous
    val df = rows.toDF("k", "d", "n")
    val got = Windowed.rollingZScore(df, "k", $"d", $"n", win = 7, threshold = 2.0)
      .select($"k", $"d", $"is_anomaly", $"win_n", $"mean", $"std")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getBoolean(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // warmup rows (frame < 7) are never flagged, even day 1 (std 0)
    (1 to 6).foreach { d => got(("a", d))._1 shouldBe false }
    got(("a", 7))._1 shouldBe false // full frame, steady
    val (flag, winN, mean, std) = got(("a", 10))
    winN shouldBe 7L
    flag shouldBe true // |100 - mean| > 2*std with 6×10+100 in frame
    mean shouldBe (160.0 / 7) +- 1e-12
    std should be > 0.0
    // constant series: variance clamps to exactly 0, no flag, no NaN
    got(("b", 8)) shouldBe ((false, 7L, 5.0, 0.0))
  }

  test("approx_percentile tracks the exact percentile within its accuracy bound") {
    // The 100 TB path: percentile() sort-buffers each group; the
    // mergeable sketch is what survives a billion-row group. Pin the
    // two paths together so swapping them stays safe.
    val rows = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(percentile($"l_quantity", lit(0.5)).as("exact"),
        approx_percentile($"l_quantity", lit(0.5), lit(10000)).as("approx"))
      .select($"exact", $"approx").as[(Double, Double)].collect()
    rows should not be empty
    rows.foreach { case (e, a) => math.abs(e - a) should be <= 1.0 }
  }
}
