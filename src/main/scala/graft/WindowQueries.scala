package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Exact, Rankings, Windowed}

/** Window-function query cluster (SURVEY.md §2.5 W1–W7 + §2.6 O2/O3) —
  * the reference's richest operator family and the parity centerpiece.
  *
  * All queries derive a per-(date, user) "daily volume" frame from the
  * events table — the exact shape of the reference's per-(date, symbol)
  * fact table — then apply the same window pipeline as
  * generate_volume_rankings.py:95-153.
  *
  * Scale: the daily frame is one map-side-combined groupBy shuffle;
  * every window partitions by date or by symbol, so no global sort and
  * no single-partition OVER () on unbounded input anywhere.
  */
object WindowQueries {
  import QuerySpec.Q
  import Queries.{dstr, dstrSql}

  /** Shared base: events → one row per (date, user_id) with exact volume.
    * Mirrors the reference's daily_availability grain (schema.py:68-95).
    */
  def dailyUserVolume(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(to_date($"ts").as("date"), $"user_id")
      .agg(Exact.sum2($"value").as("volume"), count(lit(1)).as("trade_count"))
  }
  val dailySql: String =
    s"""daily AS (
       |  SELECT CAST(ts AS DATE) AS date, user_id,
       |         ${Exact.sum2Sql("value")} AS volume,
       |         COUNT(*) AS trade_count
       |  FROM events GROUP BY 1, 2)""".stripMargin
  /** Same CTE with the reference's column name (`symbol`). */
  val dailySymbolSql: String =
    s"""daily AS (
       |  SELECT CAST(ts AS DATE) AS date, user_id AS symbol,
       |         ${Exact.sum2Sql("value")} AS volume,
       |         COUNT(*) AS trade_count
       |  FROM events GROUP BY 1, 2)""".stripMargin

  private val Dec25 = DecimalType(25, 2)
  /** Order-independent windowed total (see Exact): decimal sum per date. */
  private def dayTotal(c: Column): Column =
    sum(c.cast(Dec25)).over(Window.partitionBy("date")).cast(DoubleType)
  private val dayTotalSql =
    "CAST(SUM(CAST(volume AS DECIMAL(25,2))) OVER (PARTITION BY date) AS DOUBLE)"

  // ---- W1 + O2: global rank over a filtered one-day cohort, top-K ----

  /** W1/O2: RANK() OVER (ORDER BY volume DESC) on one day, top 10
    * (volume.py:54,68-81). Global window is safe: input is one day's
    * cohort, bounded by symbol-universe size.
    */
  val w1RankTopN: Q = (s, d) => {
    import s.implicits._
    dailyUserVolume(s, d)
      .filter($"date" === lit("2024-01-05").cast("date"))
      .withColumn("rnk", Windowed.globalRank($"volume".desc))
      .select($"user_id", $"volume", $"rnk")
      .orderBy("rnk", "user_id")
      .limit(10)
  }
  val w1RankTopNSql: String =
    s"""WITH $dailySql
       |SELECT user_id, volume, RANK() OVER (ORDER BY volume DESC) AS rnk
       |FROM daily WHERE date = DATE '2024-01-05'
       |ORDER BY rnk, user_id LIMIT 10""".stripMargin

  // ---- W2 + W3: dense rank + percent rank per date --------------------

  val w2w3DensePct: Q = (s, d) => {
    import s.implicits._
    dailyUserVolume(s, d)
      .withColumn("rnk", Windowed.denseRankIn("date", $"volume".desc))
      .withColumn("pctl", Windowed.percentRankIn("date", $"volume".desc).cast(FloatType))
      .select(dstr($"date").as("date"), $"user_id", $"rnk", $"pctl")
      .orderBy("date", "rnk", "user_id")
  }
  val w2w3DensePctSql: String =
    s"""WITH $dailySql
       |SELECT ${dstrSql("date")} AS date, user_id,
       |  DENSE_RANK() OVER (PARTITION BY date ORDER BY volume DESC) AS rnk,
       |  CAST(PERCENT_RANK() OVER (PARTITION BY date ORDER BY volume DESC) * 100 AS FLOAT) AS pctl
       |FROM daily ORDER BY date, rnk, user_id""".stripMargin

  // ---- W4: unbounded partition totals ---------------------------------

  val w4PartitionTotal: Q = (s, d) => {
    import s.implicits._
    dailyUserVolume(s, d)
      .withColumn("day_total", dayTotal($"volume"))
      .withColumn("day_n", count(lit(1)).over(Window.partitionBy("date")))
      .select(dstr($"date").as("date"), $"user_id", $"volume", $"day_total", $"day_n")
      .orderBy("date", "user_id")
  }
  val w4PartitionTotalSql: String =
    s"""WITH $dailySql
       |SELECT ${dstrSql("date")} AS date, user_id, volume,
       |  $dayTotalSql AS day_total,
       |  COUNT(*) OVER (PARTITION BY date) AS day_n
       |FROM daily ORDER BY date, user_id""".stripMargin

  // ---- W5: row-offset LAG ladder --------------------------------------

  /** LAG is row-offset over observed rows, not calendar days —
    * bug-compatible with generate_volume_rankings.py:129-132.
    */
  val w5LagLadder: Q = (s, d) => {
    import s.implicits._
    val ranked = dailyUserVolume(s, d)
      .withColumn("rnk", Windowed.denseRankIn("date", $"volume".desc))
    Seq(1, 7).foldLeft(ranked) { (df, n) =>
      df.withColumn(s"chg_${n}d",
        (col("rnk") - Windowed.lagBy(col("rnk"), n, "user_id", "date")).cast(ShortType))
    }
      .select(dstr($"date").as("date"), $"user_id", $"rnk", $"chg_1d", $"chg_7d")
      .orderBy("user_id", "date")
  }
  val w5LagLadderSql: String =
    s"""WITH $dailySql,
       |ranked AS (SELECT date, user_id,
       |  DENSE_RANK() OVER (PARTITION BY date ORDER BY volume DESC) AS rnk FROM daily)
       |SELECT ${dstrSql("date")} AS date, user_id, rnk,
       |  CAST(rnk - LAG(rnk, 1) OVER (PARTITION BY user_id ORDER BY date) AS SMALLINT) AS chg_1d,
       |  CAST(rnk - LAG(rnk, 7) OVER (PARTITION BY user_id ORDER BY date) AS SMALLINT) AS chg_7d
       |FROM ranked ORDER BY user_id, date""".stripMargin

  // ---- W6: trailing row-frame rolling aggregates ----------------------

  val w6Rolling: Q = (s, d) => {
    import s.implicits._
    val w = Windowed.trailing("user_id", "date", 6)
    dailyUserVolume(s, d)
      .withColumn("days_in_7", count(lit(1)).over(w))
      .withColumn("vol_7", sum($"volume".cast(Dec25)).over(w).cast(DoubleType))
      .select(dstr($"date").as("date"), $"user_id", $"days_in_7", $"vol_7")
      .orderBy("user_id", "date")
  }
  val w6RollingSql: String =
    s"""WITH $dailySql
       |SELECT ${dstrSql("date")} AS date, user_id,
       |  COUNT(*) OVER w AS days_in_7,
       |  CAST(SUM(CAST(volume AS DECIMAL(25,2))) OVER w AS DOUBLE) AS vol_7
       |FROM daily
       |WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, date""".stripMargin

  // ---- W7: derived share-of-total with NULLIF guard -------------------

  val w7Share: Q = (s, d) => {
    import s.implicits._
    dailyUserVolume(s, d)
      .withColumn("total", dayTotal($"volume"))
      .withColumn("share_pct",
        Windowed.shareOfTotalPct($"volume", $"total").cast(FloatType))
      .select(dstr($"date").as("date"), $"user_id", $"share_pct")
      .orderBy("date", "user_id")
  }
  val w7ShareSql: String =
    s"""WITH $dailySql
       |SELECT ${dstrSql("date")} AS date, user_id,
       |  CAST(volume / NULLIF($dayTotalSql, 0) * 100 AS FLOAT) AS share_pct
       |FROM daily ORDER BY date, user_id""".stripMargin

  // ---- Full rankings pipeline (§3.3, the parity centerpiece) ----------

  val rankingsPipeline: Q = (s, d) => {
    import s.implicits._
    Rankings.pipeline(dailyUserVolume(s, d).withColumnRenamed("user_id", "symbol"))
      .withColumn("date", dstr(col("date")))
      .orderBy("date", "rank", "symbol")
  }
  val rankingsPipelineSql: String =
    s"""WITH $dailySymbolSql
       |, ranked AS (
       |  SELECT date, symbol, volume, trade_count,
       |    DENSE_RANK() OVER (PARTITION BY date ORDER BY volume DESC) AS rank_i,
       |    PERCENT_RANK() OVER (PARTITION BY date ORDER BY volume DESC) * 100 AS pctl,
       |    $dayTotalSql AS total_volume
       |  FROM daily),
       |lagged AS (
       |  SELECT *,
       |    CAST(rank_i - LAG(rank_i, 1) OVER (PARTITION BY symbol ORDER BY date) AS SMALLINT) AS rank_change_1d,
       |    CAST(rank_i - LAG(rank_i, 7) OVER (PARTITION BY symbol ORDER BY date) AS SMALLINT) AS rank_change_7d,
       |    CAST(rank_i - LAG(rank_i, 14) OVER (PARTITION BY symbol ORDER BY date) AS SMALLINT) AS rank_change_14d,
       |    CAST(rank_i - LAG(rank_i, 30) OVER (PARTITION BY symbol ORDER BY date) AS SMALLINT) AS rank_change_30d
       |  FROM ranked)
       |SELECT ${dstrSql("date")} AS date, symbol,
       |  CAST(rank_i AS SMALLINT) AS rank,
       |  volume AS quote_volume_usdt, trade_count,
       |  rank_change_1d, rank_change_7d, rank_change_14d, rank_change_30d,
       |  CAST(pctl AS FLOAT) AS percentile,
       |  CAST(volume / NULLIF(total_volume, 0) * 100 AS FLOAT) AS market_share_pct,
       |  CAST(COUNT(*) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS TINYINT) AS days_available
       |FROM lagged ORDER BY date, rank, symbol""".stripMargin

  // ---- O3: recency top-K ---------------------------------------------

  /** O3: ORDER BY date DESC LIMIT n — volume trend over last 7 days
    * (volume.py:219-232).
    */
  val o3Recency: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"), Exact.sum2($"value").as("vol"))
      .orderBy($"d".desc)
      .limit(7)
      .select(dstr($"d").as("day"), $"n", $"vol")
      .orderBy("day")
  }
  val o3RecencySql: String =
    s"""SELECT ${dstrSql("d")} AS day, n, vol FROM (
       |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
       |         ${Exact.sum2Sql("value")} AS vol
       |  FROM events GROUP BY 1 ORDER BY d DESC LIMIT 7)
       |ORDER BY day""".stripMargin

  /** W8: distribution window functions — NTILE quartiles, CUME_DIST and
    * per-partition extrema over the (priority, price) ordering. All four
    * functions share ONE hash exchange + sort on the partition key (the
    * full-partition frame for `last_value` reuses the same sort); with a
    * unique (price, key) ordering, cume_dist is rank/n of identical
    * integer operands, so the double is bit-identical cross-engine.
    */
  val w8Ntile: Q = (s, d) => {
    import s.implicits._
    val byPrice = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val full = byPrice.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter($"o_orderstatus" === "P")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        ntile(4).over(byPrice).cast("int").as("quartile"),
        cume_dist().over(byPrice).as("cd"),
        first($"o_orderkey").over(byPrice).as("cheapest_key"),
        last($"o_orderkey").over(full).as("dearest_key"))
      .orderBy("o_orderkey")
  }
  val w8NtileSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  CUME_DIST() OVER w AS cd,
      |  FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
      |  LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS dearest_key
      |FROM orders WHERE o_orderstatus = 'P'
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** O4: top-k per group via the k-bounded mergeable aggregate
    * (ops/TopK.scala) — the map side discards losers before the
    * exchange, so the shuffle carries <= k rows per (group x partition)
    * where the row_number-window oracle formulation shuffles the whole
    * table. Equivalence with that window form is also spec-locked in
    * TopKSpec.
    */
  val o4TopKGroup: Q = (s, d) => {
    import s.implicits._
    ops.TopK.topKPerGroup(Tables.orders(s, d), "o_orderpriority",
        $"o_totalprice", $"o_orderkey", 3, "o_totalprice", "o_orderkey")
      .orderBy("o_orderpriority", "rank")
  }
  val o4TopKGroupSql: String =
    """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
      |  FROM orders) WHERE rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  // ---- W9: sliding-window distinct count ------------------------------

  /** W9: distinct active users per trailing 7-day window, one row per
    * observed day. COUNT(DISTINCT) can't run inside a window frame, and
    * the naive per-day range self-join rescans 7× the facts; the scale
    * shape is: collapse to distinct (day, user) first (keyed agg with
    * partial combine — the big reduction), then each (day, user) fact
    * contributes map-side to exactly the 7 window-ends it can affect
    * (a constant-factor explode of the ALREADY-collapsed frame), then
    * one distinct-count per window end. The oracle states the same
    * semantics as the naive range join.
    */
  val w9SlidingDistinct: Q = (s, d) => {
    import s.implicits._
    val dayUser = Tables.events(s, d)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val days = dayUser.select($"day").distinct()
    dayUser
      .select(explode(sequence($"day", date_add($"day", 6))).as("wend"), $"user_id")
      .join(days.withColumnRenamed("day", "wend"), Seq("wend"), "left_semi")
      .groupBy($"wend")
      .agg(countDistinct($"user_id").as("n_users"))
      .select(dstr($"wend").as("window_end"), $"n_users")
      .orderBy("window_end")
  }
  val w9SlidingDistinctSql: String =
    s"""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |days AS (SELECT DISTINCT day FROM du)
       |SELECT ${dstrSql("d.day")} AS window_end, COUNT(DISTINCT du.user_id) AS n_users
       |FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
       |GROUP BY 1 ORDER BY window_end""".stripMargin

  // ---- W10: first/last/nth_value frames --------------------------------

  /** W10: per-user first, latest, and second-day volumes — the
    * first_value / last_value / nth_value family with explicit frames.
    * last_value needs the full ROWS UNBOUNDED PRECEDING..UNBOUNDED
    * FOLLOWING frame (the default frame ends at CURRENT ROW and would
    * return each row's own value — the classic window gotcha, same in
    * both engines). All three functions plus the count share one
    * (user)-keyed exchange + sort.
    */
  val w10FirstLast: Q = (s, d) => {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"date")
    val full = byUser.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dailyUserVolume(s, d)
      .withColumn("first_vol", first($"volume").over(full))
      .withColumn("last_vol", last($"volume").over(full))
      .withColumn("second_vol", nth_value($"volume", 2).over(full))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        max($"first_vol").as("first_vol"),
        max($"last_vol").as("last_vol"),
        max($"second_vol").as("second_vol"))
      .orderBy("user_id")
  }
  val w10FirstLastSql: String =
    s"""WITH $dailySql,
       |w AS (
       |  SELECT user_id,
       |    first_value(volume) OVER (PARTITION BY user_id ORDER BY date
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_vol,
       |    last_value(volume) OVER (PARTITION BY user_id ORDER BY date
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_vol,
       |    nth_value(volume, 2) OVER (PARTITION BY user_id ORDER BY date
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_vol
       |  FROM daily)
       |SELECT user_id, COUNT(*) AS n_days, MAX(first_vol) AS first_vol,
       |       MAX(last_vol) AS last_vol, MAX(second_vol) AS second_vol
       |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- W11: cumulative distinct (growth curve) ------------------------

  /** W11: cumulative distinct users per day — the growth-curve metric.
    * A running COUNT(DISTINCT) window is O(n²) state; the scalable
    * identity is "reduce each user to their FIRST-seen day, then
    * cumulative-sum the per-day first-appearance counts": one keyed
    * min-aggregate (map-side combined) + one tiny per-day frame whose
    * running sum is a window over |days| rows, not |events|. The
    * oracle states the same identity (a literal running COUNT(DISTINCT
    * ... ) OVER is not valid SQL in either engine).
    */
  val w11CumDistinct: Q = (s, d) => {
    import s.implicits._
    val firstSeen = Tables.events(s, d)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min(to_date($"ts")).as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_users"))
    val run = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen
      .withColumn("cum_users", sum($"new_users").over(run))
      .select(dstr($"day").as("day"), $"new_users", $"cum_users")
      .orderBy("day")
  }
  val w11CumDistinctSql: String =
    s"""WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |per_day AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY 1)
       |SELECT ${dstrSql("day")} AS day, new_users,
       |  CAST(SUM(new_users) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
       |FROM per_day ORDER BY day""".stripMargin

  // ---- O5: keyset-ordered pagination ----------------------------------

  /** O5: page 3 of the order book (LIMIT 50 OFFSET 100 over a total
    * order) — the presentation-edge paging shape. OFFSET is inherently
    * a top-(offset+limit) problem: Spark plans it as a single
    * TakeOrdered of 150 rows (no global sort materialization), which is
    * exactly the bounded cost you want; deep pages should switch to
    * keyset predicates (`WHERE k > last_seen`), which is the F8
    * incremental-cursor query.
    */
  val o5Page: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", dstr($"o_orderdate").as("order_date"), $"o_totalprice")
      .orderBy("o_orderkey")
      .offset(100)
      .limit(50)
  }
  val o5PageSql: String =
    s"""SELECT o_orderkey, ${dstrSql("o_orderdate")} AS order_date, o_totalprice
       |FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin

  // ---- W12: running peak + drawdown -----------------------------------

  /** W12: running per-user volume peak and drawdown from it — the
    * running-MAX window frame (W6 covers the trailing-frame average,
    * W4 the unbounded total; this is the monotone cumulative extreme).
    * Volume is decimal-exact (Exact.sum2), the peak is an
    * order-independent MAX, and the drawdown ratio crosses as
    * floor(×1e6), so the row set is engine-exact. Zero/negative peaks
    * (possible if a value column sums negative) gate to 0 rather than
    * dividing.
    */
  val w12Drawdown: Q = (s, d) => {
    import s.implicits._
    val run = Window.partitionBy($"user_id").orderBy($"date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyUserVolume(s, d)
      .withColumn("peak", max($"volume").over(run))
      .withColumn("dd1e6",
        when($"peak" <= 0, lit(0L))
          .otherwise(floor(($"peak" - $"volume") * lit(1000000.0) / $"peak").cast("long")))
      .select(dstr($"date").as("date"), $"user_id", $"volume", $"peak", $"dd1e6")
      .orderBy("user_id", "date")
  }
  val w12DrawdownSql: String =
    s"""WITH $dailySql,
       |w AS (
       |  SELECT date, user_id, volume,
       |    MAX(volume) OVER (PARTITION BY user_id ORDER BY date
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM daily)
       |SELECT ${dstrSql("date")} AS date, user_id, volume, peak,
       |  CASE WHEN peak <= 0 THEN 0
       |       ELSE CAST(FLOOR((peak - volume) * 1000000.0 / peak) AS BIGINT)
       |  END AS dd1e6
       |FROM w ORDER BY user_id, date""".stripMargin

  /** W13: rolling z-score anomaly flags over per-type daily event
    * counts — trailing 7-observation mean/variance from INTEGER window
    * sums (Σx, Σx² are exact BIGINTs; only the final mean/var/sqrt run
    * in doubles, as the identical expression on both engines, and IEEE
    * sqrt is correctly rounded — so even the float columns hash-match).
    * Variance is clamped at 0 before sqrt: the moment formula can land
    * an ulp below zero and NaN would poison the compare. Warmup rows
    * (fewer than 7 observations in frame) are never flagged.
    */
  val w13Anomaly: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type", to_date($"ts").as("date"))
      .agg(count(lit(1)).as("n"))
    Windowed.rollingZScore(daily, "event_type", $"date", $"n",
        win = 7, threshold = 2.0)
      .select($"event_type", dstr($"date").as("date"), $"n",
        $"mean", $"std", $"is_anomaly")
      .orderBy("event_type", "date")
  }
  val w13AnomalySql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS date, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT event_type, date, n,
       |    COUNT(n) OVER f AS win_n,
       |    SUM(n) OVER f AS s,
       |    SUM(n * n) OVER f AS ss
       |  FROM daily
       |  WINDOW f AS (PARTITION BY event_type ORDER BY date
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT event_type, ${dstrSql("date")} AS date, n,
       |  s / win_n AS mean,
       |  sqrt(GREATEST((ss - s * s / win_n) / win_n, 0.0)) AS std,
       |  win_n = 7 AND abs(n - s / win_n) > 2.0 * sqrt(GREATEST((ss - s * s / win_n) / win_n, 0.0)) AS is_anomaly
       |FROM w ORDER BY event_type, date""".stripMargin

  // ---- registry -------------------------------------------------------

  /** W14: gaps-and-islands — each user's LONGEST run of consecutive
    * active days (the retention/engagement streak metric). The island
    * key is the classic `day − row_number()` trick: consecutive days
    * share a constant difference, so runs collapse in ONE keyed window
    * + ONE aggregation — no self-joins, no recursion, state bounded by
    * (user, island) cardinality. Ties on length break to the LATEST
    * start (max struct ordering), pinned on both engines.
    */
  val w14Streaks: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .withColumn("grp", date_sub($"day", row_number().over(w)))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"), min($"day").as("s"), max($"day").as("e"))
      .groupBy($"user_id")
      .agg(max(struct($"len", $"s", $"e")).as("b"))
      .select($"user_id", $"b.len".as("len"),
        Queries.dstr($"b.s").as("streak_start"), Queries.dstr($"b.e").as("streak_end"))
      .orderBy("user_id")
  }
  val w14StreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |g AS (
      |  SELECT user_id, day,
      |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS s, MAX(day) AS e
      |  FROM g GROUP BY 1, 2),
      |best AS (
      |  SELECT user_id, len, s, e,
      |    row_number() OVER (PARTITION BY user_id ORDER BY len DESC, s DESC, e DESC) AS rn
      |  FROM runs)
      |SELECT user_id, len, strftime(s, '%Y-%m-%d') AS streak_start,
      |  strftime(e, '%Y-%m-%d') AS streak_end
      |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** W15: cumulative adoption curve — per day, the users ACTIVE that
    * day, the users seen for the FIRST time, and the cumulative
    * distinct-user count to date. First-seen collapses each user to one
    * (user, min day) row — the keyed exchange carries one row per user,
    * never the event stream — and the only unkeyed window is the cumsum
    * over the DAY-GRAIN frame, whose row count is calendar-bounded (a
    * century is ~37k rows), not data-bounded.
    */
  val w15Adoption: Q = (s, d) => {
    import s.implicits._
    val days = Tables.events(s, d)
      .groupBy(to_date($"ts").as("date"))
      .agg(countDistinct($"user_id").as("n_active"))
    val firstSeen = Tables.events(s, d)
      .groupBy($"user_id").agg(min(to_date($"ts")).as("date"))
      .groupBy($"date").agg(count(lit(1)).as("n_new"))
    days.join(firstSeen, Seq("date"), "left")
      .withColumn("n_new", coalesce($"n_new", lit(0L)))
      .withColumn("cum_users", sum($"n_new").over(
        Window.orderBy($"date").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(dstr($"date").as("date"), $"n_active", $"n_new", $"cum_users")
      .orderBy("date")
  }
  val w15AdoptionSql: String =
    """WITH act AS (
      |  SELECT CAST(ts AS DATE) AS date,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      |  FROM events GROUP BY 1),
      |fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS date FROM events GROUP BY 1),
      |nw AS (SELECT date, CAST(COUNT(*) AS BIGINT) AS n_new FROM fs GROUP BY 1)
      |SELECT strftime(a.date, '%Y-%m-%d') AS date, a.n_active,
      |  COALESCE(nw.n_new, 0) AS n_new,
      |  CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY a.date
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM act a LEFT JOIN nw USING (date)
      |ORDER BY date""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_w15_adoption", w15Adoption, w15AdoptionSql),
    QuerySpec("q_w14_streaks", w14Streaks, w14StreaksSql),
    QuerySpec("q_w13_anomaly", w13Anomaly, w13AnomalySql),
    QuerySpec("q_w9_sliding_distinct", w9SlidingDistinct, w9SlidingDistinctSql),
    QuerySpec("q_w11_cum_distinct", w11CumDistinct, w11CumDistinctSql),
    QuerySpec("q_w12_drawdown", w12Drawdown, w12DrawdownSql),
    QuerySpec("q_w1_rank_topn", w1RankTopN, w1RankTopNSql),
    QuerySpec("q_w2w3_dense_pct", w2w3DensePct, w2w3DensePctSql),
    QuerySpec("q_w4_partition_total", w4PartitionTotal, w4PartitionTotalSql),
    QuerySpec("q_w5_lag_ladder", w5LagLadder, w5LagLadderSql),
    QuerySpec("q_w6_rolling", w6Rolling, w6RollingSql),
    QuerySpec("q_w7_share", w7Share, w7ShareSql),
    QuerySpec("q_rankings_pipeline", rankingsPipeline, rankingsPipelineSql),
    QuerySpec("q_o3_recency", o3Recency, o3RecencySql),
    QuerySpec("q_w8_ntile", w8Ntile, w8NtileSql),
    QuerySpec("q_w10_firstlast", w10FirstLast, w10FirstLastSql),
    QuerySpec("q_o4_topk_group", o4TopKGroup, o4TopKGroupSql),
    QuerySpec("q_o5_page", o5Page, o5PageSql)
  )
}
