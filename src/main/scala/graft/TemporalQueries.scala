package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Temporal

/** Event-time operator queries over the `events` table: as-of join,
  * interval join, gap sessionization. Timestamps cross the oracle
  * boundary as epoch-microsecond BIGINTs (`unix_micros` / `epoch_us`)
  * so ns→us truncation and timezone rendering can't skew the compare;
  * the oracles state the same semantics in plain window SQL, which is
  * the O(n·m)-per-key formulation the Spark operators exist to avoid.
  */
object TemporalQueries {
  import QuerySpec.Q

  /** Epoch-us view of events shared by the three queries. */
  private def eventsUs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))

  private val eventsUsSql =
    "SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events"

  // ---- as-of join ------------------------------------------------------

  /** J10: left as-of join — each purchase gets the latest click by the
    * same user at-or-before it (ties on time broken by max click id).
    * The market-data shape: trade ← prevailing quote. Single-shuffle
    * union+window plan (see Temporal.asOfJoin).
    */
  val j10AsOf: Q = (s, d) => {
    val e = eventsUs(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"))
    val clicks = e.filter(col("event_type") === "click")
    Temporal.asOfJoin(purchases, clicks, "user_id",
        leftTs = col("purchase_us"), rightTs = col("us"),
        leftCols = Seq("event_id", "purchase_us"),
        payloadCols = Seq(col("us")), payloadNames = Seq("click_us"),
        rightOrder = col("event_id"))
      .select(col("event_id"), col("user_id"), col("purchase_us"), col("click_us"),
        (col("purchase_us") - col("click_us")).as("gap_us"))
      .orderBy("event_id")
  }
  val j10AsOfSql: String =
    s"""WITH e AS ($eventsUsSql),
       |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
       |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click')
       |SELECT event_id, user_id, purchase_us, click_us,
       |       purchase_us - click_us AS gap_us
       |FROM (SELECT p.event_id, p.user_id, p.us AS purchase_us, c.us AS click_us,
       |             row_number() OVER (PARTITION BY p.event_id
       |               ORDER BY c.us DESC NULLS LAST, c.event_id DESC) AS rn
       |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us)
       |WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** J20: as-of join with a staleness TOLERANCE (the pandas
    * `merge_asof(tolerance=...)` contract): each purchase gets the
    * latest prior click by the same user ONLY if it happened within the
    * preceding 30 minutes — older prevailing state is as good as none
    * (a quote from last week must not price today's trade). Same
    * single-shuffle union+window plan as q_j10; the staleness gate
    * nullifies the picked match, which — because the pick is the
    * latest — is provably equal to restricting the join window.
    */
  val j20AsOfTol: Q = (s, d) => {
    val e = eventsUs(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"))
    val clicks = e.filter(col("event_type") === "click")
    Temporal.asOfJoinTolerance(purchases, clicks, "user_id",
        leftTs = col("purchase_us"), rightTs = col("us"),
        leftCols = Seq("event_id", "purchase_us"),
        payloadCols = Seq(col("us")), payloadNames = Seq("click_us"),
        rightOrder = col("event_id"), tolerance = 1800000000L)
      .select(col("event_id"), col("user_id"), col("purchase_us"), col("click_us"),
        (col("purchase_us") - col("click_us")).as("gap_us"))
      .orderBy("event_id")
  }
  val j20AsOfTolSql: String =
    s"""WITH e AS ($eventsUsSql),
       |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
       |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click')
       |SELECT event_id, user_id, purchase_us, click_us,
       |       purchase_us - click_us AS gap_us
       |FROM (SELECT p.event_id, p.user_id, p.us AS purchase_us, c.us AS click_us,
       |             row_number() OVER (PARTITION BY p.event_id
       |               ORDER BY c.us DESC NULLS LAST, c.event_id DESC) AS rn
       |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us
       |        AND c.us >= p.us - 1800000000)
       |WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** J16: forward as-of join — each click gets the EARLIEST purchase by
    * the same user at-or-after it (time ties broken by min purchase
    * id): click-to-conversion attribution. Same single-shuffle plan as
    * J10, direction flipped by timestamp negation (Temporal
    * .asOfJoinForward).
    */
  val j16AsOfFwd: Q = (s, d) => {
    val e = eventsUs(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us").as("click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
    Temporal.asOfJoinForward(clicks, purchases, "user_id",
        leftTs = col("click_us"), rightTs = col("us"),
        leftCols = Seq("event_id", "click_us"),
        payloadCols = Seq(col("us")), payloadNames = Seq("purchase_us"),
        rightOrder = col("event_id"))
      .select(col("event_id"), col("user_id"), col("click_us"), col("purchase_us"),
        (col("purchase_us") - col("click_us")).as("wait_us"))
      .orderBy("event_id")
  }
  val j16AsOfFwdSql: String =
    s"""WITH e AS ($eventsUsSql),
       |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click'),
       |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase')
       |SELECT event_id, user_id, click_us, purchase_us,
       |       purchase_us - click_us AS wait_us
       |FROM (SELECT c.event_id, c.user_id, c.us AS click_us, p.us AS purchase_us,
       |             row_number() OVER (PARTITION BY c.event_id
       |               ORDER BY p.us ASC NULLS LAST, p.event_id ASC) AS rn
       |      FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.us >= c.us)
       |WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---- interval join ---------------------------------------------------

  /** J11: interval join — error events in the 5 minutes after a click by
    * the same user. Bucketed equi-join (bucket = window width), never
    * |clicks|x|errors| (see Temporal.intervalJoin).
    */
  private val WindowUs = 5L * 60 * 1000000
  val j11Range: Q = (s, d) => {
    val e = eventsUs(s, d)
    Temporal.intervalJoin(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "error"), "user_id",
        leftUs = col("us"), rightUs = col("us"), windowUs = WindowUs,
        leftOut = Seq("click_id" -> col("event_id"), "user_id" -> col("user_id")),
        rightOut = Seq("error_id" -> col("event_id")))
      .select("click_id", "user_id", "error_id", "delta_us")
      .orderBy("click_id", "error_id")
  }
  val j11RangeSql: String =
    s"""WITH e AS ($eventsUsSql)
       |SELECT c.event_id AS click_id, c.user_id AS user_id, r.event_id AS error_id,
       |       r.us - c.us AS delta_us
       |FROM e c JOIN e r ON r.user_id = c.user_id
       |  AND c.event_type = 'click' AND r.event_type = 'error'
       |  AND r.us > c.us AND r.us <= c.us + $WindowUs
       |ORDER BY click_id, error_id""".stripMargin

  // ---- sessionization (batch) -----------------------------------------

  /** G1: gap sessionization (30-minute gap) — the batch/backfill twin of
    * streaming/Sessionize.scala, oracled via the lag+cumsum SQL
    * formulation.
    */
  private val GapUs = 30L * 60 * 1000000
  val g1Sessions: Q = (s, d) => {
    Temporal.sessionize(eventsUs(s, d), "user_id", col("us"), GapUs)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"), col("duration_us"))
      .orderBy("user_id", "session_id")
  }
  val g1SessionsSql: String =
    s"""WITH e AS ($eventsUsSql),
       |flagged AS (
       |  SELECT user_id, us,
       |         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) <= $GapUs
       |              THEN 0 ELSE 1 END AS is_new
       |  FROM e),
       |numbered AS (
       |  SELECT user_id, us,
       |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(us) AS start_us,
       |       MAX(us) AS end_us, MAX(us) - MIN(us) AS duration_us
       |FROM numbered GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ---- resample to bars -------------------------------------------------

  /** G2: 6-hour OHLC bars per event_type — the time-series resample
    * (downsampling) operator. One keyed aggregation with map-side
    * combine; open/close are min_by/max_by over the unique (ts,
    * event_id) order, so no window sort of the raw events. The oracle
    * states first/last-in-bucket the row_number way.
    */
  private val BucketUs = 6L * 3600 * 1000000
  val g2Bars: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    graft.ops.Temporal.resampleBars(e, Seq("event_type"),
        col("us"), col("value"), col("event_id"), BucketUs)
      .select("event_type", "bucket", "open", "close", "lo", "hi",
        "n_events", "volume")
      .orderBy("event_type", "bucket")
  }
  val g2BarsSql: String =
    s"""WITH e AS (SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
       |w AS (
       |  SELECT event_type, us // $BucketUs AS bucket, value,
       |    row_number() OVER (PARTITION BY event_type, us // $BucketUs
       |      ORDER BY us, event_id) AS ra,
       |    row_number() OVER (PARTITION BY event_type, us // $BucketUs
       |      ORDER BY us DESC, event_id DESC) AS rd
       |  FROM e)
       |SELECT event_type, bucket,
       |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
       |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
       |  MIN(value) AS lo, MAX(value) AS hi,
       |  COUNT(*) AS n_events,
       |  ${graft.ops.Exact.sum2Sql("value")} AS volume
       |FROM w GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  // ---- gap fill + forward fill ----------------------------------------

  /** G3: per-user daily grid densification + forward fill over purchase
    * values — the time-series `ffill` operator (see Temporal
    * .gapFillDaily for the no-global-calendar scale shape). The oracle
    * states the same semantics with generate_series +
    * `last_value(... IGNORE NULLS)`.
    */
  val g3Ffill: Q = (s, d) => {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    graft.ops.Temporal.gapFillDaily(purchases, "user_id", col("day"), col("value"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("was_filled"), col("v"), col("n_obs"))
      .orderBy("user_id", "day")
  }
  val g3FfillSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, value
       |  FROM events WHERE event_type = 'purchase'),
       |daily AS (
       |  SELECT user_id, day, ${graft.ops.Exact.avg2Sql("value")} AS v_obs,
       |    COUNT(*) AS n_obs
       |  FROM e GROUP BY 1, 2),
       |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
       |grid AS (
       |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM span)
       |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
       |  dl.v_obs IS NULL AS was_filled,
       |  last_value(dl.v_obs IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
       |  COALESCE(dl.n_obs, 0) AS n_obs
       |FROM grid g LEFT JOIN daily dl ON dl.user_id = g.user_id AND dl.day = g.day
       |ORDER BY 1, 2""".stripMargin

  // ---- funnel ----------------------------------------------------------

  /** G4: strict-order view→click→purchase funnel — per-step reach
    * counts plus summed inter-step waits. Every stage is a keyed MIN +
    * same-key join (see Temporal.funnel); the oracle states the
    * identical chain as CTEs.
    */
  val g4Funnel: Q = (s, d) => {
    Temporal.funnel(eventsUs(s, d), "user_id", col("us"), col("event_type"),
        Seq("view", "click", "purchase"))
      .orderBy("step_no")
  }
  val g4FunnelSql: String =
    s"""WITH e AS ($eventsUsSql),
       |s1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id, MIN(e.us) AS t, MAX(s1.t) AS pt
       |       FROM e JOIN s1 ON e.user_id = s1.user_id AND e.us >= s1.t
       |       WHERE e.event_type = 'click' GROUP BY 1),
       |s3 AS (SELECT e.user_id, MIN(e.us) AS t, MAX(s2.t) AS pt
       |       FROM e JOIN s2 ON e.user_id = s2.user_id AND e.us >= s2.t
       |       WHERE e.event_type = 'purchase' GROUP BY 1)
       |SELECT 1 AS step_no, 'view' AS step, COUNT(*) AS users,
       |       CAST(0 AS BIGINT) AS total_wait_us FROM s1
       |UNION ALL
       |SELECT 2, 'click', COUNT(*), CAST(COALESCE(SUM(t - pt), 0) AS BIGINT) FROM s2
       |UNION ALL
       |SELECT 3, 'purchase', COUNT(*), CAST(COALESCE(SUM(t - pt), 0) AS BIGINT) FROM s3
       |ORDER BY step_no""".stripMargin

  // ---- cohort retention -------------------------------------------------

  /** G5: weekly cohort retention over all event activity — distinct
    * users from each first-activity ISO week still active N weeks on.
    */
  val g5Retention: Q = (s, d) => {
    val acts = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    Temporal.cohortRetention(acts, "user_id", col("day"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort_week", "week_offset")
  }
  val g5RetentionSql: String =
    """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS c FROM a GROUP BY 1),
      |w AS (SELECT a.user_id,
      |        CAST(date_trunc('week', f.c) AS DATE) AS cw,
      |        CAST(date_trunc('week', a.day) AS DATE) AS wk
      |      FROM a JOIN f ON a.user_id = f.user_id)
      |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
      |       datediff('day', cw, wk) // 7 AS week_offset,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM w GROUP BY cw, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---- SCD2 dimension build ---------------------------------------------

  /** S3: SCD type-2 validity intervals from the event changelog — each
    * user's event_type runs become versioned (from, to] rows with an
    * open current row. One exchange + one sort serves all three window
    * functions (see Temporal.scd2).
    */
  val s3Scd2: Q = (s, d) => {
    Temporal.scd2(eventsUs(s, d), "user_id", col("us"), col("event_type"),
        col("event_id"))
      .orderBy("user_id", "version")
  }
  val s3Scd2Sql: String =
    s"""WITH e AS ($eventsUsSql),
       |c AS (SELECT user_id, us, event_id, event_type AS state,
       |        lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |      FROM e),
       |ch AS (SELECT user_id, us, event_id, state FROM c
       |       WHERE prev IS NULL OR prev <> state)
       |SELECT user_id, row_number() OVER w AS version, state,
       |       us AS effective_from, lead(us) OVER w AS effective_to,
       |       lead(us) OVER w IS NULL AS is_current
       |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |ORDER BY user_id, version""".stripMargin

  // ---- event-transition matrix ------------------------------------------

  /** G7: per-user event-type transition counts (the Markov matrix of
    * the event stream) with integer-exact row probabilities
    * (numerator·10⁶ div row total — no float division to disagree on).
    * One (user)-keyed window for the lag, then a 25-cell aggregation;
    * the row totals ride a window over the COLLAPSED matrix, never the
    * event stream.
    */
  val g7Transitions: Q = (s, d) => {
    val byT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val rowW = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    eventsUs(s, d)
      .withColumn("prev", lag(col("event_type"), 1).over(byT))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(rowW))
      .withColumn("p1e6", expr("n * 1000000L div row_total"))
      .orderBy("from_type", "to_type")
  }
  val g7TransitionsSql: String =
    s"""WITH e AS ($eventsUsSql),
       |seq AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM e),
       |m AS (
       |  SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
       |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
       |t AS (
       |  SELECT from_type, to_type, n,
       |    CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total
       |  FROM m)
       |SELECT from_type, to_type, n, row_total, n * 1000000 // row_total AS p1e6
       |FROM t ORDER BY from_type, to_type""".stripMargin

  // ---- incremental SCD2 maintenance -------------------------------------

  /** S5: the SCD2 dimension maintained INCREMENTALLY — the pre-cutoff
    * changelog builds the stored dim, the post-cutoff delta folds in
    * via Temporal.scd2Merge (untouched keys carried verbatim, affected
    * keys recomputed from raw). The oracle is the FULL-log SCD2: the
    * maintained table must be indistinguishable from a from-scratch
    * rebuild, including late-event run splits.
    */
  private val Scd2CutoffUs = 1705795200L * 1000000 // 2024-01-21T00:00:00Z
  val s5Scd2Incr: Q = (s, d) => {
    val e = eventsUs(s, d)
    val base = e.filter(col("us") < Scd2CutoffUs)
    val delta = e.filter(col("us") >= Scd2CutoffUs)
    val dimBase = Temporal.scd2(base, "user_id", col("us"), col("event_type"),
      col("event_id"))
    Temporal.scd2Merge(dimBase, base, delta, "user_id", col("us"),
        col("event_type"), col("event_id"))
      .orderBy("user_id", "version")
  }
  val s5Scd2IncrSql: String = s3Scd2Sql

  // ---- interval-overlap join --------------------------------------------

  /** Oracle fragment: gap sessions of one event type, lag+cumsum
    * formulation (the g1 oracle, filtered and rolled up).
    */
  private val OverlapGapUs = 24L * 3600 * 1000000
  private def sessSql(cte: String, eventType: String): String =
    s"""$cte AS (
       |  SELECT user_id,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
       |    us
       |  FROM (SELECT user_id, us,
       |          CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) <= $OverlapGapUs
       |               THEN 0 ELSE 1 END AS is_new
       |        FROM e WHERE event_type = '$eventType')),
       |${cte}s AS (
       |  SELECT user_id, session_id, MIN(us) AS start_us, MAX(us) AS end_us
       |  FROM $cte GROUP BY 1, 2)""".stripMargin

  /** J18: interval-OVERLAP join — a user's click sessions paired with
    * their error sessions that overlap in time ("was an error burst in
    * progress while the user was clicking?"). Intervals are treated as
    * [start, end+1) so zero-length singleton sessions and touching
    * endpoints still count. Grid-bucketed with the overlap-start-bucket
    * dedup trick — no distinct pass, never |clicks|×|errors| (see
    * Temporal.overlapJoin); the oracle is the naive range join.
    */
  val j18Overlap: Q = (s, d) => {
    val e = eventsUs(s, d)
    def sess(t: String) = Temporal.sessionize(
      e.filter(col("event_type") === t), "user_id", col("us"), OverlapGapUs)
    Temporal.overlapJoin(sess("click"), sess("error"), "user_id",
        lStart = col("start_us"), lEnd = col("end_us") + 1,
        rStart = col("start_us"), rEnd = col("end_us") + 1,
        gridUs = OverlapGapUs,
        leftOut = Seq("user_id" -> col("user_id"),
          "click_sid" -> col("session_id"), "click_start" -> col("start_us")),
        rightOut = Seq("error_sid" -> col("session_id"),
          "error_start" -> col("start_us")))
      .orderBy("user_id", "click_sid", "error_sid")
  }
  val j18OverlapSql: String =
    s"""WITH e AS ($eventsUsSql),
       |${sessSql("c", "click")},
       |${sessSql("r", "error")}
       |SELECT c.user_id, c.session_id AS click_sid, c.start_us AS click_start,
       |       r.session_id AS error_sid, r.start_us AS error_start,
       |       LEAST(c.end_us + 1, r.end_us + 1) - GREATEST(c.start_us, r.start_us) AS overlap_us
       |FROM cs c JOIN rs r ON r.user_id = c.user_id
       |  AND c.start_us < r.end_us + 1 AND r.start_us < c.end_us + 1
       |ORDER BY c.user_id, click_sid, error_sid""".stripMargin

  // ---- point-in-time join -----------------------------------------------

  /** J17: point-in-time join — each purchase is enriched with the
    * dimension version that was valid WHEN IT HAPPENED: the SCD2 props
    * dimension (built by Temporal.scd2 from the same event changelog)
    * joined on `effective_from <= t < effective_to`. The feature-store
    * correctness primitive: training rows must see yesterday's
    * attributes, not today's.
    *
    * Implementation: because SCD2 intervals tile each key's timeline
    * from its first change with no gaps, "interval containing t" ≡
    * "latest effective_from at-or-before t" — so the interval join
    * collapses to the single-shuffle as-of join (Temporal.asOfJoin),
    * and no BETWEEN-range join (quadratic per key) ever runs. The
    * oracle states exactly that BETWEEN join.
    */
  val j17Pit: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("props"))
    val dim = Temporal.scd2(e, "user_id", col("us"), col("props"), col("event_id"))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    Temporal.asOfJoin(facts, dim, "user_id",
        leftTs = col("us"), rightTs = col("effective_from"),
        leftCols = Seq("event_id", "us"),
        payloadCols = Seq(col("state"), col("version")),
        payloadNames = Seq("props_state", "dim_version"),
        rightOrder = col("version"))
      .select(col("event_id"), col("user_id"), col("us"),
        col("props_state"), col("dim_version"))
      .orderBy("event_id")
  }
  val j17PitSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |             epoch_us(CAST(ts AS TIMESTAMP)) AS us, props
       |           FROM events),
       |c AS (SELECT user_id, us, event_id, props AS state,
       |        lag(props) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |      FROM e),
       |ch AS (SELECT user_id, us, event_id, state FROM c
       |       WHERE prev IS NULL OR prev <> state),
       |dim AS (
       |  SELECT user_id, row_number() OVER w AS version, state,
       |         us AS effective_from, lead(us) OVER w AS effective_to
       |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |f AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase')
       |SELECT f.event_id, f.user_id, f.us,
       |       d.state AS props_state, d.version AS dim_version
       |FROM f JOIN dim d ON d.user_id = f.user_id
       |  AND d.effective_from <= f.us
       |  AND (d.effective_to IS NULL OR f.us < d.effective_to)
       |ORDER BY f.event_id""".stripMargin

  // ---- G8: PageRank centrality ----------------------------------------

  /** G8: five rounds of integer fixed-point PageRank over the
    * part↔supplier bipartite graph (an edge each way per distinct
    * lineitem pairing; part nodes = 2·partkey, supplier nodes =
    * 2·suppkey+1), top-50 by final rank. Every step is exact BIGINT
    * floor-division (see ops/Graph.scala), so the oracle — the
    * operator's own unrolled-CTE replay — hash-matches to the bit.
    * The centrality-as-quality-prior shape: rank entities by graph
    * endorsement, one join + one map-side-combined SUM per round.
    */
  val g8PageRank: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val fwd = li.select((col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    graft.ops.Graph.pageRank(edges, iters = 5)
      .orderBy(col("r").desc, col("node")).limit(50)
  }
  val g8PageRankSql: String =
    graft.ops.Graph.pageRankSql(
      """SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
        |  UNION
        |  SELECT DISTINCT 2 * l_suppkey + 1, 2 * l_partkey FROM lineitem""".stripMargin,
      iters = 5) + "\nORDER BY r DESC, node LIMIT 50"

  /** G9: PERSONALIZED PageRank — teleport mass restricted to a seed
    * set (nation-0 suppliers), so ranks measure proximity to trusted
    * seeds rather than global endorsement: the quality-prior shape
    * ("score documents by closeness to a vetted set") on the same
    * part↔supplier graph and the same integer algebra as G8. Seeds
    * absent from the graph keep their teleport share reserved (mass
    * simply never lands), identically on both engines.
    */
  val g9Ppr: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val fwd = li.select((col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    graft.ops.Graph.pageRank(edges, iters = 5, seeds = Some(seeds))
      .orderBy(col("r").desc, col("node")).limit(50)
  }
  val g9PprSql: String =
    graft.ops.Graph.pageRankSql(
      """SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
        |  UNION
        |  SELECT DISTINCT 2 * l_suppkey + 1, 2 * l_partkey FROM lineitem""".stripMargin,
      iters = 5,
      seedsCte = Some("SELECT 2 * s_suppkey + 1 AS node FROM supplier WHERE s_nationkey = 0")) +
      "\nORDER BY r DESC, node LIMIT 50"

  /** G10: per-node TRIANGLE COUNTS on the part co-purchase graph (parts
    * sharing an order are linked — quadratic only within an order's
    * small item list), via Graph.triangleCount's degree-oriented wedge
    * closure. The cohesion member of the graph family: triangle-rich
    * neighborhoods are communities, triangle-poor-for-their-degree
    * nodes are spam-star shaped. The oracle replays a DIFFERENT
    * algebra — the direct a<b<c three-way edge join, affordable at
    * gate scale — so a hash match proves the acyclic orientation
    * generates every triangle exactly once.
    */
  val g10Triangles: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey").as("o"),
      col("l_partkey").as("p")).distinct()
    val pairs = li.join(li.withColumnRenamed("p", "p2"), "o")
      .where(col("p") < col("p2"))
      .select(col("p").as("src"), col("p2").as("dst"))
    graft.ops.Graph.triangleCount(pairs)
      .orderBy(col("triangles").desc, col("node")).limit(50)
  }
  /** G11: K-CORE of the part↔supplier bipartite graph (the g8 node
    * encoding) at k=30 with 6 peel rounds — the mutual-endorsement
    * community filter: a node survives only if 30 of its neighbors
    * also survive, recursively. Rounds are part of the contract and
    * the oracle (Graph.kCoreSql) replays exactly the same 6 peels;
    * convergence is asserted by the rounds-6 == rounds-8 fixture check
    * in GraphSpec and was verified on the real sf0.01 graph during
    * calibration (487 nodes survive k=30, identical at 6 and 8 rounds).
    */
  val g11KCore: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val edges = li.select((col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    graft.ops.Graph.kCore(edges, k = 30, rounds = 6)
      .orderBy(col("core_deg").desc, col("node"))
  }
  val g11KCoreSql: String =
    graft.ops.Graph.kCoreSql(
      "SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem",
      k = 30, rounds = 6) + "\nORDER BY core_deg DESC, node"

  val g10TrianglesSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
      |t AS (SELECT e1.a, e1.b, e2.b AS c
      |      FROM e e1 JOIN e e2 ON e2.a = e1.b
      |                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |roles AS (SELECT a AS node FROM t
      |          UNION ALL SELECT b FROM t
      |          UNION ALL SELECT c FROM t)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
      |FROM roles GROUP BY 1
      |ORDER BY triangles DESC, node LIMIT 50""".stripMargin

  /** J22: NEAREST-direction as-of join
    * ([[graft.ops.Temporal.asOfJoinNearest]]) — each purchase takes the
    * click closest in time in EITHER direction, ties to the backward
    * match; completes the j10 (backward) / j16 (forward) / j20
    * (tolerance) merge_asof family. The oracle derives both direction
    * candidates independently and restates the tie rule.
    */
  val j22AsOfNearest: Q = (s, d) => {
    val e = eventsUs(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"))
    val clicks = e.filter(col("event_type") === "click")
    Temporal.asOfJoinNearest(purchases, clicks, "user_id",
        leftTs = col("purchase_us"), rightTs = col("us"),
        leftCols = Seq("event_id", "purchase_us"),
        payloadCols = Seq(col("us")), payloadNames = Seq("click_us"),
        rightOrder = col("event_id"))
      .select(col("event_id"), col("user_id"), col("purchase_us"), col("click_us"),
        abs(col("purchase_us") - col("click_us")).as("gap_abs_us"))
      .orderBy("event_id")
  }
  val j22AsOfNearestSql: String =
    s"""WITH e AS ($eventsUsSql),
       |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
       |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click'),
       |b AS (SELECT event_id, user_id, purchase_us, click_us FROM (
       |        SELECT p.event_id, p.user_id, p.us AS purchase_us, c.us AS click_us,
       |          row_number() OVER (PARTITION BY p.event_id
       |            ORDER BY c.us DESC NULLS LAST, c.event_id DESC) AS rn
       |        FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us)
       |      WHERE rn = 1),
       |f AS (SELECT event_id, click_us FROM (
       |        SELECT p.event_id, c.us AS click_us,
       |          row_number() OVER (PARTITION BY p.event_id
       |            ORDER BY c.us ASC NULLS LAST, c.event_id ASC) AS rn
       |        FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us > p.us)
       |      WHERE rn = 1)
       |SELECT b.event_id, b.user_id, b.purchase_us,
       |  CASE WHEN f.click_us IS NULL THEN b.click_us
       |       WHEN b.click_us IS NOT NULL
       |         AND b.purchase_us - b.click_us <= f.click_us - b.purchase_us
       |         THEN b.click_us
       |       ELSE f.click_us END AS click_us,
       |  ABS(b.purchase_us - CASE WHEN f.click_us IS NULL THEN b.click_us
       |       WHEN b.click_us IS NOT NULL
       |         AND b.purchase_us - b.click_us <= f.click_us - b.purchase_us
       |         THEN b.click_us
       |       ELSE f.click_us END) AS gap_abs_us
       |FROM b JOIN f USING (event_id)
       |ORDER BY event_id""".stripMargin

  // ---- registry --------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_j22_asof_nearest", j22AsOfNearest, j22AsOfNearestSql),
    QuerySpec("q_j10_asof", j10AsOf, j10AsOfSql),
    QuerySpec("q_j11_range", j11Range, j11RangeSql),
    QuerySpec("q_j16_asof_fwd", j16AsOfFwd, j16AsOfFwdSql),
    QuerySpec("q_j20_asof_tol", j20AsOfTol, j20AsOfTolSql),
    QuerySpec("q_g1_sessions", g1Sessions, g1SessionsSql),
    QuerySpec("q_g2_bars", g2Bars, g2BarsSql),
    QuerySpec("q_g3_ffill", g3Ffill, g3FfillSql),
    QuerySpec("q_g4_funnel", g4Funnel, g4FunnelSql),
    QuerySpec("q_g5_retention", g5Retention, g5RetentionSql),
    QuerySpec("q_s3_scd2", s3Scd2, s3Scd2Sql),
    QuerySpec("q_s5_scd2_incr", s5Scd2Incr, s5Scd2IncrSql),
    QuerySpec("q_g7_transitions", g7Transitions, g7TransitionsSql),
    QuerySpec("q_j17_pit", j17Pit, j17PitSql),
    QuerySpec("q_j18_overlap", j18Overlap, j18OverlapSql),
    QuerySpec("q_g8_pagerank", g8PageRank, g8PageRankSql),
    QuerySpec("q_g9_ppr", g9Ppr, g9PprSql),
    QuerySpec("q_g10_triangles", g10Triangles, g10TrianglesSql),
    QuerySpec("q_g11_kcore", g11KCore, g11KCoreSql)
  )
}
