package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Exact

/** Structured-Streaming queries registered in the ORACLE GATE: the
  * stream runs to completion inside the query function (file source,
  * `Trigger.AvailableNow`, memory sink) and the materialized result is
  * compared against the plain batch SQL oracle — proving the streaming
  * path computes the same answer as the batch plan, not just that it
  * runs. The streaming twins that need wall-clock triggers or
  * watermark-order assumptions stay spec-covered (StreamingSpec);
  * only deterministic-final-state shapes belong in the gate.
  */
object StreamQueries {
  import QuerySpec.Q

  /** Materialize a memory-sink-derived result and DROP the sink table.
    * Memory-sink tables are session-global; a long-lived host JVM that
    * runs these queries repeatedly (Bench, Verify, a notebook) would
    * otherwise accumulate one materialized table per invocation — st2's
    * holds every enriched row. The result here is always a final
    * aggregate (rows bounded by group count, not data size), so an
    * eager copy at the API edge is O(groups): collect, drop, rebuild.
    */
  private def drain(s: SparkSession, sink: String, result: DataFrame): DataFrame = {
    val rows = result.collect()
    val schema = result.schema
    s.sql(s"DROP TABLE IF EXISTS $sink")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` = `n`, restoring
    * the session default after. STATE-STORE SIZING, not a tuning hack:
    * a stateful streaming operator instantiates one state store per
    * shuffle partition (a stream-stream join: FOUR per partition), and
    * every microbatch — including the no-data watermark-finalize batch
    * that closes an AvailableNow run — pays the full per-store
    * load/commit cycle. State partitioning therefore must be sized to
    * STATE VOLUME, never inherited from the batch default: measured at
    * sf0.1, the interval-join gates spent ~5 of their flat ~8 s in the
    * 32-partition store cycle (provider-independent: RocksDB within
    * noise of HDFS-backed), and dropping to state shards of ~5k rows
    * cut each gate to ~2.9 s (PLANS.md "Streaming state floor").
    * A NEW stream's first run bakes this into its checkpoint; restarts
    * keep the checkpointed value, so the knob is per-pipeline, set at
    * birth — exactly how a production deployment sizes its stores.
    */
  private[graft] def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, saved)
  }

  /** ST1: per-status order counts + decimal-exact totals computed BY A
    * STREAM — file-source AvailableNow over the orders parquet, running
    * aggregation in complete mode into a memory sink. The final table
    * is independent of file batching: counts/sums are associative and
    * complete mode emits the converged state. At scale this is the
    * backfill-as-stream pattern: one checkpointed pipeline serves both
    * the historical replay and the live tail.
    */
  val st1StreamAgg: Q = (s, d) => withStatePartitions(s, 8) {
    val path = s"$d/orders.parquet"
    val schema = s.read.parquet(path).schema
    // Unique sink name per invocation: memory sink tables are
    // session-global and Bench legitimately runs a query twice.
    val sink = "st1_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // The file source wants a DIRECTORY; the sf dir holds every table,
    // so glob-filter it down to the orders file.
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Exact.sum2(col("o_totalprice")).as("total"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink, s.table(sink).orderBy("o_orderstatus"))
      .orderBy("o_orderstatus")
  }
  val st1StreamAggSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${Exact.sum2Sql("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** ST2: stateless stream-static enrichment — the orders STREAM joined
    * to the static customer dimension (broadcast; a static side never
    * holds join state) in append mode, aggregated per segment AFTER the
    * sink. Append + stateless means every micro-batch emits exactly its
    * own enriched rows, so the materialized union is batch-equal by
    * construction — the lambda-architecture enrichment path with one
    * codebase.
    */
  val st2StreamEnrich: Q = (s, d) => {
    val schema = s.read.parquet(s"$d/orders.parquet").schema
    val cust = s.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val sink = "st2_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(d)
      .filter(col("o_orderstatus") === "O")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink,
      s.table(sink)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Exact.sum2(col("o_totalprice")).as("total")))
      .orderBy("c_mktsegment")
  }
  val st2StreamEnrichSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n,
       |  ${Exact.sum2Sql("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderstatus = 'O'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ST3: streaming EXACT DEDUP ≡ batch DISTINCT — the events stream
    * deduped on (user_id, event_type) over the key-only projection.
    * Because the emitted row IS the key and each key emits exactly
    * once, the materialized set is arrival-order-independent and equals
    * batch `SELECT DISTINCT` for any file batching — the ingest-dedup
    * shape of `Dedup.exactGroups` run as a stream. This gate variant
    * deliberately uses unwatermarked `dropDuplicates` (finite
    * AvailableNow input); the bounded-state production variant
    * (`Incremental.dedupedStream`, watermark-evicted) is spec-covered
    * in StreamingSpec — its kept-row CONTENT is arrival-order-dependent
    * and so belongs to specs, not the oracle gate.
    */
  val st3StreamDedup: Q = (s, d) => withStatePartitions(s, 8) {
    // events.parquet is TIMESTAMP(NANOS): same legacy switch as
    // Tables.events (the ts column is dropped before dedup anyway).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val sink = "st3_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink, s.table(sink))
      .orderBy("user_id", "event_type")
  }
  val st3StreamDedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** ST4: WATERMARK SEMANTICS in the gate — daily tumbling-window
    * counts over the events stream with a zero-delay watermark in
    * APPEND mode. Append emits a window only once the watermark passes
    * its end, and after AvailableNow drains, the final no-data
    * micro-batch (`noDataMicroBatches`, on by default) flushes state up
    * to the FINAL watermark = max event time — so exactly the windows
    * with `end ≤ max(ts)` materialize, independent of file batching:
    * every window except the one containing the corpus's last event.
    * The oracle states that rule in batch SQL, gating the
    * watermark/emission semantics themselves, not just the counts.
    */
  val st4StreamWindow: Q = (s, d) => withStatePartitions(s, 8) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$d/events.parquet")
    val sink = "st4_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Tables.normalizeTs(s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("n"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink, s.table(sink)).orderBy("day")
  }
  val st4StreamWindowSql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (SELECT MAX(ts) AS mx FROM e),
      |w AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
      |    CAST(date_trunc('day', ts) AS DATE) + 1 AS window_end
      |  FROM e GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n
      |FROM w, m WHERE CAST(window_end AS TIMESTAMP) <= m.mx
      |ORDER BY day""".stripMargin

  /** ST5: CUSTOM-STATE sessionization in the gate — the
    * flatMapGroupsWithState gap-session operator
    * (streaming/Sessionize.scala) run AvailableNow over the events
    * stream, its deterministic final output stated as batch SQL. Two
    * rules compose the oracle:
    *  - session membership is the gaps-and-islands machinery (q_g1's
    *    lag+cumsum formulation, 30-min gap) — on MILLISECOND floors,
    *    because the state logic runs on Timestamp.getTime;
    *  - emission: a closed session (one the user's own later event
    *    closed) always emits; each user's LAST session is held open in
    *    state and emits only via event-time timeout, i.e. iff the final
    *    watermark (= max event time, zero delay) has passed
    *    session_end + gap.
    * This finishes the streaming column: every streaming operator
    * family (agg, enrich, dedup, watermark window, custom state) now
    * has an oracle-gated representative.
    */
  private val St5GapMs = 30L * 60 * 1000
  val st5StreamSessions: Q = (s, d) => withStatePartitions(s, 8) {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$d/events.parquet")
    val sink = "st5_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val src = Tables.normalizeTs(s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d))
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[graft.streaming.SessionEvent]
    val q = graft.streaming.Sessionize
      .sessions(src, gapMs = St5GapMs, watermarkDelay = "0 seconds")
      .toDF()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink,
      s.table(sink).select(col("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events").cast("long").as("n_events")))
      .orderBy("user_id", "start_ms")
  }
  val st5StreamSessionsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms FROM events),
       |m AS (SELECT MAX(ms) AS mx FROM e),
       |flagged AS (
       |  SELECT user_id, ms,
       |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) <= $St5GapMs
       |         THEN 0 ELSE 1 END AS is_new
       |  FROM e),
       |numbered AS (
       |  SELECT user_id, ms,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
       |  FROM flagged),
       |sess AS (
       |  SELECT user_id, sid, COUNT(*) AS n_events,
       |    MIN(ms) AS start_ms, MAX(ms) AS end_ms
       |  FROM numbered GROUP BY 1, 2),
       |last AS (SELECT user_id, MAX(sid) AS last_sid FROM sess GROUP BY 1)
       |SELECT s.user_id, s.start_ms, s.end_ms, s.n_events
       |FROM sess s JOIN last l ON l.user_id = s.user_id, m
       |WHERE s.sid < l.last_sid OR s.end_ms + $St5GapMs < m.mx
       |ORDER BY s.user_id, s.start_ms""".stripMargin

  /** ST6: SKETCHES × STREAMING — the KMV distinct sketch run AS the
    * streaming aggregate (complete mode): per-event-type bottom-k of
    * user hashes, state = one k-long buffer per group regardless of
    * stream length — the bounded-state answer to streaming
    * COUNT(DISTINCT), which Spark refuses in streaming for exactly the
    * unbounded-state reason. Because the sketch algebra is
    * order-insensitive and merge-associative, the converged stream
    * state equals the batch sketch for ANY micro-batching — the same
    * property the k3/k8 merge gates prove spatially, here proven
    * temporally. Oracle replays the bottom-k and the estimate.
    */
  val st6StreamSketch: Q = (s, d) => withStatePartitions(s, 8) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val sink = "st6_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val K = 64
    val kmv = graft.ops.Sketches.kmvSketch(K)
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .select(col("event_type"),
        graft.ops.TextOps.hash60(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(kmv(col("h")).as("sk"))
      .select(col("event_type"),
        size(col("sk")).cast("long").as("n_kept"),
        graft.ops.Sketches.kmvThreshold(col("sk"), K).as("kth_min"),
        graft.ops.Sketches.kmvEstimate(col("sk"), K).as("est_distinct"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink, s.table(sink)).orderBy("event_type")
  }
  val st6StreamSketchSql: String = {
    val h = graft.ops.TextOps.hash60Sql("CAST(user_id AS VARCHAR)")
    s"""WITH e AS (SELECT event_type, $h AS h FROM events),
       |d AS (SELECT DISTINCT event_type, h FROM e),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |        COUNT(*) OVER (PARTITION BY event_type) AS nd
       |      FROM d)
       |SELECT event_type,
       |  CAST(LEAST(MAX(nd), 64) AS BIGINT) AS n_kept,
       |  MAX(CASE WHEN rn = 64 THEN h END) AS kth_min,
       |  CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
       |       ELSE 63.0 * 1152921504606846976 / MAX(CASE WHEN rn = 64 THEN h END)
       |  END AS est_distinct
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** ST7: STREAM-STREAM JOIN — the last Structured Streaming operator
    * family (after agg / enrich / dedup / watermark window / custom
    * state / sketch): click→purchase attribution as a watermarked
    * event-time INTERVAL join between two independent file streams
    * over the same events corpus, run through the library operator
    * `Incremental.intervalJoinStream` (whose eviction behavior the
    * MemoryStream spec pins). Each purchase joins every click by the
    * same user in the strictly-preceding 30 minutes. State shape at scale:
    * both sides are keyed by user in the state store and the time-range
    * condition lets the watermark evict rows older than the interval —
    * bounded state, the reason the range predicate is not a post-join
    * filter. For an INNER join every match is emitted as soon as both
    * sides have arrived, so after AvailableNow drains, the result
    * equals the batch join exactly — which is precisely what the
    * oracle states in plain SQL.
    */
  val st7StreamJoin: Q = (s, d) => withStatePartitions(s, 8) {
    val raw = s.read.parquet(s"$d/events.parquet")
    val sink = "st7_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def side(tp: String, idAs: String) =
      Tables.normalizeTs(s.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
        .filter(col("event_type") === tp)
        .select(col("user_id"), col("ts"), col("event_id").as(idAs))
    val q = graft.streaming.Incremental.intervalJoinStream(
        side("click", "click_id"), side("purchase", "purchase_id"),
        key = "user_id", watermark = "0 seconds", window = "30 minutes")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink,
      s.table(sink).select(col("user_id"),
        col("l_click_id").as("a_id"), col("r_purchase_id").as("b_id"),
        unix_millis(col("l_ts")).as("a_ms"),
        unix_millis(col("r_ts")).as("b_ms")))
      .orderBy("user_id", "a_id", "b_id")
  }
  val st7StreamJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms FROM events),
      |a AS (SELECT event_id AS a_id, user_id, ms AS a_ms FROM e WHERE event_type = 'click'),
      |b AS (SELECT event_id AS b_id, user_id, ms AS b_ms FROM e WHERE event_type = 'purchase')
      |SELECT a.user_id, a_id, b_id, a_ms, b_ms
      |FROM a JOIN b USING (user_id)
      |WHERE b_ms > a_ms AND b_ms <= a_ms + 1800000
      |ORDER BY user_id, a_id, b_id""".stripMargin

  /** ST8: LEFT-OUTER stream-stream join — st7's attribution join with
    * the no-conversion rows kept. The null side of an outer
    * stream-stream join is WATERMARK-DRIVEN: an unmatched click emits
    * (click, null) only when the global watermark (min of the two
    * input watermarks, here = min(max click ts, max purchase ts))
    * STRICTLY passes its window end, i.e. the row is evicted with its
    * match provably impossible; rows still in state at AvailableNow
    * termination never emit (StreamingSpec pins the == boundary as
    * held). The oracle states precisely that rule in batch SQL — so
    * the gate checks the outer join's emission semantics, not just
    * the matches.
    */
  val st8StreamOuterJoin: Q = (s, d) => withStatePartitions(s, 8) {
    val raw = s.read.parquet(s"$d/events.parquet")
    val sink = "st8_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def side(tp: String, idAs: String) =
      Tables.normalizeTs(s.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
        .filter(col("event_type") === tp)
        .select(col("user_id"), col("ts"), col("event_id").as(idAs))
    val q = graft.streaming.Incremental.intervalJoinStream(
        side("click", "click_id"), side("purchase", "purchase_id"),
        key = "user_id", watermark = "0 seconds", window = "30 minutes",
        joinType = "left_outer")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink,
      s.table(sink).select(col("user_id"),
        col("l_click_id").as("a_id"), col("r_purchase_id").as("b_id"),
        unix_millis(col("l_ts")).as("a_ms"),
        unix_millis(col("r_ts")).as("b_ms")))
      .orderBy(col("user_id"), col("a_id"), col("b_id").asc_nulls_first)
  }
  val st8StreamOuterJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms FROM events),
      |a AS (SELECT event_id AS a_id, user_id, ms AS a_ms FROM e WHERE event_type = 'click'),
      |b AS (SELECT event_id AS b_id, user_id, ms AS b_ms FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT LEAST((SELECT MAX(a_ms) FROM a), (SELECT MAX(b_ms) FROM b)) AS w),
      |j AS (
      |  SELECT a.user_id, a.a_id, b.b_id, a.a_ms, b.b_ms
      |  FROM a LEFT JOIN b ON b.user_id = a.user_id
      |    AND b.b_ms > a.a_ms AND b.b_ms <= a.a_ms + 1800000)
      |SELECT user_id, a_id, b_id, a_ms, b_ms
      |FROM j, wm
      |WHERE b_id IS NOT NULL OR a_ms + 1800000 < wm.w
      |ORDER BY user_id, a_id, b_id ASC NULLS FIRST""".stripMargin

  /** ST9: FULL-OUTER stream-stream join — both unmatched sides kept,
    * each under its own watermark-driven emission rule, and the two
    * rules are NOT symmetric (StreamingSpec pins every probed edge):
    * an unmatched left emits only when the global watermark STRICTLY
    * passes its window end, while an unmatched right emits iff its
    * event time is STRICTLY below its own side's maximum AND at most
    * the other side's maximum — empirically pinned (a right row that
    * IS its side's max never emits, even at the global watermark; a
    * right row AT the left max does). The oracle states both rules;
    * on the sf corpus every row of both sides materializes except the
    * tails those rules hold back.
    */
  val st9StreamFullOuterJoin: Q = (s, d) => withStatePartitions(s, 8) {
    val raw = s.read.parquet(s"$d/events.parquet")
    val sink = "st9_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def side(tp: String, idAs: String) =
      Tables.normalizeTs(s.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
        .filter(col("event_type") === tp)
        .select(col("user_id"), col("ts"), col("event_id").as(idAs))
    val q = graft.streaming.Incremental.intervalJoinStream(
        side("click", "click_id"), side("purchase", "purchase_id"),
        key = "user_id", watermark = "0 seconds", window = "30 minutes",
        joinType = "full_outer")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink,
      s.table(sink).select(col("user_id"),
        col("l_click_id").as("a_id"), col("r_purchase_id").as("b_id"),
        unix_millis(col("l_ts")).as("a_ms"),
        unix_millis(col("r_ts")).as("b_ms")))
      .orderBy(col("user_id"), col("a_id").asc_nulls_first,
        col("b_id").asc_nulls_first)
  }
  /** SINGLE-BATCH ASSUMPTION (oracle contract): the right-side emission
    * rule below (`b_ms < max(right) AND b_ms <= max(left)`) is an
    * empirical pin of Spark's watermark-update timing when the whole
    * fixture arrives in ONE AvailableNow microbatch (the driver writes
    * `events.parquet` as a single file; the readers above glob exactly
    * that file, so one file = one batch). If the fixture ever arrives
    * split across microbatches the watermark advances BETWEEN batches
    * and earlier tails can flush — the held-back set shifts with batch
    * structure, not with any repo code. StreamingSpec's
    * "full-outer emission under a two-file split" probe pins the exact
    * delta so a gate break here is diagnosable as batch-structure drift.
    */
  val st9StreamFullOuterJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms FROM events),
      |a AS (SELECT event_id AS a_id, user_id, ms AS a_ms FROM e WHERE event_type = 'click'),
      |b AS (SELECT event_id AS b_id, user_id, ms AS b_ms FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT LEAST((SELECT MAX(a_ms) FROM a), (SELECT MAX(b_ms) FROM b)) AS w),
      |matched AS (
      |  SELECT a.user_id, a.a_id, b.b_id, a.a_ms, b.b_ms
      |  FROM a JOIN b ON b.user_id = a.user_id
      |    AND b.b_ms > a.a_ms AND b.b_ms <= a.a_ms + 1800000),
      |la AS (
      |  SELECT a.user_id, a.a_id, CAST(NULL AS BIGINT) AS b_id,
      |         a.a_ms, CAST(NULL AS BIGINT) AS b_ms
      |  FROM a, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.a_id = a.a_id)
      |    AND a.a_ms + 1800000 < wm.w),
      |rb AS (
      |  SELECT b.user_id, CAST(NULL AS BIGINT) AS a_id, b.b_id,
      |         CAST(NULL AS BIGINT) AS a_ms, b.b_ms
      |  FROM b
      |  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.b_id = b.b_id)
      |    AND b.b_ms < (SELECT MAX(b_ms) FROM b)
      |    AND b.b_ms <= (SELECT MAX(a_ms) FROM a))
      |SELECT user_id, a_id, b_id, a_ms, b_ms FROM matched
      |UNION ALL SELECT * FROM la
      |UNION ALL SELECT * FROM rb
      |ORDER BY user_id, a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin

  /** ST10: STREAMING MEDIA dedup — the multimodal decode path run as a
    * stream: file-source AvailableNow over the documents ids, each
    * micro-batch synthesizing REAL WAV payloads and decoding them back
    * through the genuine AudioSystem codec (a typed `map` inside the
    * streaming plan — the same per-record chain as q_m6), then
    * streaming `dropDuplicates` on the fingerprint halves. The output
    * is projected to the fingerprint key alone, so the kept set is
    * arrival-order-independent and equals batch SELECT DISTINCT — the
    * q_st3 shape with a codec inside the stream. At scale this is the
    * live-ingest dedup gate: fingerprint on arrival, admit only
    * never-seen media.
    */
  val st10StreamMediaDedup: Q = (s, d) => withStatePartitions(s, 8) {
    import s.implicits._
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val sink = "st10_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val wav = graft.ops.Multimodal.synthWav(id)
        // Real decode, not the synth shortcut: the stream must prove the
        // codec round-trip like the batch query does.
        val Some((_, _, samples)) = graft.ops.Multimodal.decodeWav(wav)
        graft.ops.Multimodal.audioFpHalves(samples)
      }
      .toDF("fp_hi", "fp_lo")
      .dropDuplicates("fp_hi", "fp_lo")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink, s.table(sink))
      .orderBy("fp_hi", "fp_lo")
  }
  val st10StreamMediaDedupSql: String =
    s"""WITH ${PipelineQueries.m6FpCte}
       |SELECT DISTINCT fp_hi, fp_lo FROM fps
       |ORDER BY fp_hi, fp_lo""".stripMargin

  /** ST11: the learned quality gate AS a stream — the NB model (trained
    * batch-side, ≤ 256 rows BY CONSTRUCTION) collapses to a plain
    * broadcast variable, and each streamed document is scored in a
    * typed map: tokenize, hash-trick feature, Σ weights — one pass, no
    * streaming aggregation anywhere (chained aggregations are exactly
    * what Structured Streaming refuses; a bounded-model broadcast is
    * the production shape of a live quality filter anyway). The scores
    * are integer-identical to batch q_t20 — the oracle IS the same
    * replay — so the gate proves the broadcast-scoring path agrees with
    * the relational one bit-for-bit.
    */
  val st11StreamQuality: Q = (s, d) => withStatePartitions(s, 8) {
    import s.implicits._
    val nf = 256
    val model = graft.ops.Classify.nbTrain(
      Tables.documents(s, d), "text", col("lang") === "en", nf)
      .localCheckpoint(eager = true)
    val wMap = model.select(col("feat"), col("w1e6")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t = model.agg(sum(col("n_pos")), sum(col("n_neg"))).collect().head
    val wUnseen = 1000000L / (t.getLong(0) + nf) - 1000000L / (t.getLong(1) + nf)
    val bc = s.sparkContext.broadcast((wMap, wUnseen))
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val sink = "st11_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val (w, wu) = bc.value
        var nTok = 0L; var score = 0L
        text.toLowerCase.split("\\s+").foreach { tok =>
          if (tok.length >= 2) {
            val feat = graft.functions.Hash60Impl.hash60(
              org.apache.spark.unsafe.types.UTF8String.fromString("nb:" + tok)) % nf
            nTok += 1
            score += w.getOrElse(feat, wu)
          }
        }
        (id, nTok, score)
      }
      .toDF("doc_id", "n_tok", "score")
      .filter(col("n_tok") > 0)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(s, sink, s.table(sink)).orderBy("doc_id")
  }
  /** Same algebra as q_t20's oracle: the stream must reproduce the
    * batch scores exactly.
    */
  val st11StreamQualitySql: String = PipelineQueries.t20NbScoreSql

  /** ST14: streaming NEAR-DUP dedup — the incremental LSH index
    * (`Dedup.incrementalNearDupPairsFromSets`, the q_d12 operator) run
    * as the maintenance loop of a real multi-batch stream. The dedup
    * corpus is written out as four parquet files and read back with
    * `maxFilesPerTrigger = 1`, so AvailableNow delivers four genuine
    * microbatches; `foreachBatch` shingles each batch ONCE, probes its
    * LSH bands against the stored index, emits the verified pairs, and
    * appends the same shingle/signature frames to the index — exactly
    * the ingest-time contract at 100 TB (per-batch cost tracks the
    * batch, base×base pairs never regenerate; here the index lives in
    * checkpointed memory, in production it is the q_s-family Store).
    *
    * WHY THE ORACLE CAN BE THE BATCH PIPELINE: a pair (a, b) with a in
    * an earlier batch than b is emitted exactly once — in b's batch,
    * where a is already in the index; a same-batch pair is emitted by
    * the delta×delta leg of that batch's probe. The union over batches
    * is therefore the full near-dup relation, INDEPENDENT of how the
    * files split into batches — so the oracle is literally q_d2's
    * from-scratch SQL, and the gate proves stream-accumulated
    * incremental == batch rebuild, the same spatial/temporal merge
    * argument as q_st6's sketch gate. The query hard-fails if the
    * stream collapsed into a single batch (the multi-batch claim is
    * the point).
    */
  val st14StreamNearDup: Q = (s, d) => {
    // (No state store, no state-partition sizing: foreachBatch is
    // stateless, and the 8-shard experiment measured within noise of
    // the 32-partition default — the cost is the four batches' genuine
    // probe/verify work, not task-count overhead.)
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      ArrayType, DoubleType}
    graft.ops.TempFiles.withTempDir("graft-st14") { root =>
      val srcDir = new java.io.File(root, "src").getAbsolutePath
      PipelineQueries.corpus(s, d).repartition(4, col("id"))
        .write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      def empty(st: StructType) =
        s.createDataFrame(java.util.Collections.emptyList[Row](), st)
      // The stored index, grown batch by batch (checkpointed: the index
      // must never re-derive earlier batches through lineage).
      var baseSh = empty(StructType(Seq(StructField("id", LongType),
        StructField("h", LongType))))
      var baseSigs = empty(StructType(Seq(StructField("id", LongType),
        StructField("sig", ArrayType(LongType)))))
      var baseSizes = empty(StructType(Seq(StructField("id", LongType),
        StructField("n", LongType))))
      val acc = collection.mutable.ArrayBuffer.empty[Row]
      // AtomicInteger, not a var: incremented on the micro-batch thread,
      // read on the caller thread after awaitTermination — the explicit
      // happens-before, not Spark's internal synchronization.
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val step: (Dataset[Row], Long) => Unit = (batch, _) => {
        nBatches.incrementAndGet()
        val dSh = graft.ops.Dedup.shingleHashSet(batch, "id", "text", 3)
          .localCheckpoint(true)
        acc ++= graft.ops.Dedup
          .incrementalNearDupPairsFromSets(baseSh, baseSigs, dSh,
            baseSizes = Some(baseSizes))
          .collect()
        baseSh = baseSh.unionByName(dSh).localCheckpoint(true)
        baseSigs = baseSigs
          .unionByName(graft.ops.Dedup.minhashSigs(dSh, 16))
          .localCheckpoint(true)
        baseSizes = baseSizes
          .unionByName(dSh.groupBy("id").agg(count(lit(1)).as("n")))
          .localCheckpoint(true)
      }
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(step)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(nBatches.get() >= 2,
        s"stream delivered ${nBatches.get()} batch(es); the multi-batch contract needs >= 2")
      val outSchema = StructType(Seq(StructField("ia", LongType),
        StructField("ib", LongType), StructField("jac", DoubleType)))
      s.createDataFrame(java.util.Arrays.asList(acc.toSeq: _*), outSchema)
        .orderBy("ia", "ib")
    }
  }
  /** The from-scratch batch pipeline IS the oracle (see scaladoc). */
  val st14StreamNearDupSql: String = PipelineQueries.d2MinHashLshSql

  /** ST15: streaming VECTOR-INDEX maintenance — q_st14's argument
    * applied to the ANN family: the stored IVF assignment (the q_e13
    * operator) is grown by `Vectors.ivfAppend` over a four-batch
    * embedding stream — each batch assigns ONLY its own vectors
    * against the fixed centroids, the base is never re-scored
    * (VectorsSpec plan-locks that) — and the final index is searched.
    * Per-vector assignment is independent of batch structure, so the
    * converged index is the same SET for any batching and the search
    * result equals the from-scratch build: the oracle is literally
    * q_e13's full-rebuild SQL. Hard-fails on a single-batch collapse.
    */
  val st15StreamIvf: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st15") { root =>
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
      // Centroids and the search query are CONFIG, not stream: they load
      // batch-side, exactly like a deployed index's layout descriptor.
      val centroids = vecs.filter($"vid" < 8).select($"vid".as("cid"), $"e".as("ce"))
        .localCheckpoint(true)
      val query = vecs.filter($"vid" === 5).select($"e").localCheckpoint(true)
      val srcDir = new java.io.File(root, "src").getAbsolutePath
      vecs.filter($"vid" =!= 5).repartition(4, col("vid")).write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      // The stored assignment, grown batch by batch; empty at birth
      // (ivfAppend only unions base with the delta's fresh assignment).
      var stored = graft.ops.Vectors.ivfAssign(vecs.filter(lit(false)), centroids)
        .localCheckpoint(true)
      // AtomicInteger, not a var: incremented on the micro-batch thread,
      // read on the caller thread after awaitTermination — the explicit
      // happens-before, not Spark's internal synchronization.
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val step: (Dataset[Row], Long) => Unit = (batch, _) => {
        nBatches.incrementAndGet()
        stored = graft.ops.Vectors.ivfAppend(stored, batch, centroids)
          .localCheckpoint(true)
      }
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(step)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(nBatches.get() >= 2,
        s"stream delivered ${nBatches.get()} batch(es); the multi-batch contract needs >= 2")
      graft.ops.Vectors.ivfSearch(stored, centroids, query, nProbe = 2, k = 8)
        .select($"vid".as("vec_id"), $"cid", $"cos_sim")
        .localCheckpoint(true)
    }
  }
  /** The from-scratch IVF build + search IS the oracle (see scaladoc). */
  val st15StreamIvfSql: String = PipelineQueries.e13IncrIvfSql

  /** ST16: streaming CONTAMINATION monitor — q_d18's per-benchmark
    * leak report maintained at INGEST time. The benchmark shingle sets
    * are CONFIG (eval sets are bounded by contract — the q_d6 rule),
    * loaded once and broadcast to every microbatch; the corpus arrives
    * as a four-file stream, and each batch joins ONLY its own shingles
    * against the eval frame, folding per-benchmark (n_docs_hit,
    * n_hits) increments into a running tally whose driver footprint is
    * benchmark-bounded (one row per benchmark per batch). This
    * completes the ingest-guard column — near-dup index (q_st14),
    * vector index (q_st15), and now eval-set leak detection: the
    * "which benchmark leaked, and how badly" table is live while a
    * dump is still being ingested, not after a post-hoc batch audit.
    *
    * WHY THE ORACLE IS THE BATCH REPORT: every doc id lives in exactly
    * ONE microbatch (the source files partition ids) and shingle sets
    * are per-doc distinct, so each batch's (COUNT DISTINCT id,
    * COUNT *) contribution touches ids no other batch can touch —
    * the increments are additive under ANY batch structure and the
    * accumulated tally equals q_d18's from-scratch report (the same
    * batching-invariance argument as q_st14/q_st15). Hard-fails on a
    * single-batch collapse.
    */
  val st16StreamContamination: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st16") { root =>
      val all = Tables.documents(s, d).select($"doc_id".as("id"), $"text")
      val corpusDocs = all.filter($"id" % 31 =!= 0 && $"id" % 37 =!= 0)
      val evalShingles = Seq(
          "bench31" -> all.filter($"id" % 31 === 0),
          "bench37" -> all.filter($"id" % 37 === 0))
        .map { case (name, ev) =>
          graft.ops.Dedup.shingleHashSet(ev, "id", "text", 3)
            .select(lit(name).as("bench"), col("h"))
        }.reduce(_.unionByName(_)).distinct()
        .localCheckpoint(true)
      val srcDir = new java.io.File(root, "src").getAbsolutePath
      corpusDocs.repartition(4, col("id")).write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      val tally = collection.mutable.Map.empty[String, (Long, Long)]
      // AtomicInteger, not a var: incremented on the micro-batch thread,
      // read on the caller thread after awaitTermination — the explicit
      // happens-before, not Spark's internal synchronization.
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val step: (Dataset[Row], Long) => Unit = (batch, _) => {
        nBatches.incrementAndGet()
        graft.ops.Dedup.shingleHashSet(batch, "id", "text", 3)
          .join(broadcast(evalShingles), "h")
          .groupBy(col("bench"))
          .agg(countDistinct(col("id")).as("nd"), count(lit(1)).as("nh"))
          .collect().foreach { r =>
            val (d0, h0) = tally.getOrElse(r.getString(0), (0L, 0L))
            tally(r.getString(0)) = (d0 + r.getLong(1), h0 + r.getLong(2))
          }
      }
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(step)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(nBatches.get() >= 2,
        s"stream delivered ${nBatches.get()} batch(es); the multi-batch contract needs >= 2")
      tally.toSeq.map { case (b, (nd, nh)) => (b, nd, nh) }
        .toDF("bench", "n_docs_hit", "n_hits").orderBy("bench")
    }
  }
  /** The batch contamination report IS the oracle (see scaladoc). */
  val st16StreamContaminationSql: String =
    CurationQueries.d18ContaminationReportSql

  // ---- registry --------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_st10_stream_media", st10StreamMediaDedup, st10StreamMediaDedupSql),
    QuerySpec("q_st11_stream_quality", st11StreamQuality, st11StreamQualitySql),
    QuerySpec("q_st1_stream_agg", st1StreamAgg, st1StreamAggSql),
    QuerySpec("q_st2_stream_enrich", st2StreamEnrich, st2StreamEnrichSql),
    QuerySpec("q_st3_stream_dedup", st3StreamDedup, st3StreamDedupSql),
    QuerySpec("q_st4_stream_window", st4StreamWindow, st4StreamWindowSql),
    QuerySpec("q_st5_stream_sessions", st5StreamSessions, st5StreamSessionsSql),
    QuerySpec("q_st6_stream_sketch", st6StreamSketch, st6StreamSketchSql),
    QuerySpec("q_st7_stream_join", st7StreamJoin, st7StreamJoinSql),
    QuerySpec("q_st8_stream_outer_join", st8StreamOuterJoin, st8StreamOuterJoinSql),
    QuerySpec("q_st9_stream_full_outer", st9StreamFullOuterJoin, st9StreamFullOuterJoinSql),
    QuerySpec("q_st14_stream_neardup", st14StreamNearDup, st14StreamNearDupSql),
    QuerySpec("q_st15_stream_ivf", st15StreamIvf, st15StreamIvfSql),
    QuerySpec("q_st16_stream_contamination", st16StreamContamination, st16StreamContaminationSql)
  )
}
