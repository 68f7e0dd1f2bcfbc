package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Maintain

/** Storage-maintenance operator queries: incremental aggregate upkeep
  * and golden-record survivorship. Both oracles state the FULL
  * recompute — the whole point of the operators is that the
  * incremental / collapsed answer is bit-identical to it.
  */
object MaintainQueries {
  import QuerySpec.Q

  // ---- S2: incremental aggregate maintenance ---------------------------

  /** S2: per-customer order count/total maintained incrementally — the
    * base slice (orders before 1995) is aggregated once, the delta
    * slice separately, and the stored states merge (union + re-agg of
    * COUNT/DECIMAL-SUM partials, see Maintain). The oracle recomputes
    * from scratch: merge(agg(base), agg(delta)) must equal
    * agg(base ∪ delta) to the bit, which only holds because the state
    * is decimal-exact.
    */
  private val Cutoff = "1995-01-01"
  val s2IncrAgg: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    val cut = lit(Cutoff).cast("timestamp")
    val base = Maintain.countSumState(
      orders.filter(col("o_orderdate") < cut), Seq("o_custkey"), col("o_totalprice"))
    val delta = Maintain.countSumState(
      orders.filter(col("o_orderdate") >= cut), Seq("o_custkey"), col("o_totalprice"))
    Maintain.finalizeCountSum(
        Maintain.mergeStates(Seq(base, delta), Seq("o_custkey")), Seq("o_custkey"))
      .orderBy("o_custkey")
  }
  val s2IncrAggSql: String =
    """SELECT o_custkey, COUNT(o_totalprice) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(o_totalprice) AS avg_value
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---- S4: golden-record survivorship ----------------------------------

  /** S4: one surviving row per user from the event stream — most recent
    * props, first/last activity, lifetime purchase value (decimal-
    * exact), and the modal event type with a deterministic
    * lexicographic tie-break (see Maintain.goldenRecord).
    */
  val s4Golden: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("value"), col("props"))
    Maintain.goldenRecord(e, "user_id", col("us"), col("event_id"),
        attr = col("props"), category = col("event_type"),
        value = when(col("event_type") === "purchase", col("value")))
      .select("user_id", "latest_attr", "first_us", "last_us", "n_events",
        "ltv", "top_category")
      .orderBy("user_id")
  }
  val s4GoldenSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us, value, props
      |           FROM events),
      |latest AS (
      |  SELECT user_id, props AS latest_attr FROM (
      |    SELECT user_id, props,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e) WHERE rn = 1),
      |stats AS (
      |  SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us,
      |    COUNT(*) AS n_events,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS ltv
      |  FROM e GROUP BY 1),
      |modal AS (
      |  SELECT user_id, top_category FROM (
      |    SELECT user_id, event_type AS top_category,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY COUNT(*) DESC, event_type) AS rn
      |    FROM e GROUP BY user_id, event_type) WHERE rn = 1)
      |SELECT s.user_id, l.latest_attr, s.first_us, s.last_us, s.n_events,
      |       s.ltv, m.top_category
      |FROM stats s JOIN latest l USING (user_id) JOIN modal m USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---- S6: CDC changelog apply -----------------------------------------

  /** S6: a three-epoch synthetic changelog over orders (epoch 1 inserts
    * every key; epoch 2 updates keys ≡0 mod 7 to status 'U2'; epoch 3
    * deletes keys ≡0 mod 13) materialized by `Maintain.applyCdc`:
    * latest-op-per-key wins, deletes tombstone. The oracle restates the
    * rule as a row_number window — the operator's whole point is that
    * the max_by aggregation (map-side partial, one shuffled candidate
    * per key × partition) produces the identical snapshot without
    * sorting the changelog.
    */
  val s6CdcApply: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    def ev(df: DataFrame, seq: Int, op: String) =
      df.withColumn("seq", lit(seq.toLong)).withColumn("op", lit(op))
    val cdc = ev(o, 1, "I")
      .unionByName(ev(o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("U2")), 2, "U"))
      .unionByName(ev(o.filter(col("o_orderkey") % 13 === 0), 3, "D"))
    Maintain.applyCdc(cdc, "o_orderkey", col("seq"), col("seq"), col("op"),
        Seq("o_custkey", "o_orderstatus", "o_totalprice"))
      .orderBy("o_orderkey")
  }
  val s6CdcApplySql: String =
    """WITH cdc AS (
      |  SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_orderstatus, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', o_custkey, 'U2', o_totalprice FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 3, 'D', o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 13 = 0),
      |last AS (
      |  SELECT * FROM (
      |    SELECT cdc.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |    FROM cdc) WHERE rn = 1)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM last WHERE op <> 'D' ORDER BY o_orderkey""".stripMargin

  // ---- S7: CDC changelog extraction ------------------------------------

  /** S7: the inverse of S6 — diff two snapshots into the minimal I/U/D
    * change feed (`Maintain.diffToCdc`): the after-image drops keys
    * ≡0 mod 13, restamps keys ≡0 mod 7 to status 'U2', and inserts
    * shifted copies of keys ≡0 mod 11. One full-outer join; unchanged
    * rows emit NOTHING, so the feed is proportional to the change.
    * MaintainSpec pins the round-trip law applyCdc∘diffToCdc == after.
    */
  val s7CdcExtract: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val after = o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit("U2")).otherwise(col("o_orderstatus")))
      .unionByName(o.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    Maintain.diffToCdc(o, after, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_totalprice"))
      .orderBy("o_orderkey", "op")
  }
  val s7CdcExtractSql: String =
    """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
      |a AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'U2' ELSE o_orderstatus END AS o_orderstatus,
      |    o_totalprice
      |  FROM orders WHERE o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |d AS (
      |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'I'
      |         WHEN a.o_orderkey IS NULL THEN 'D'
      |         WHEN NOT (b.o_custkey IS NOT DISTINCT FROM a.o_custkey
      |               AND b.o_orderstatus IS NOT DISTINCT FROM a.o_orderstatus
      |               AND b.o_totalprice IS NOT DISTINCT FROM a.o_totalprice)
      |         THEN 'U' END AS op,
      |    CASE WHEN a.o_orderkey IS NULL THEN b.o_custkey ELSE a.o_custkey END AS o_custkey,
      |    CASE WHEN a.o_orderkey IS NULL THEN b.o_orderstatus ELSE a.o_orderstatus END AS o_orderstatus,
      |    CASE WHEN a.o_orderkey IS NULL THEN b.o_totalprice ELSE a.o_totalprice END AS o_totalprice
      |  FROM b FULL OUTER JOIN a ON a.o_orderkey = b.o_orderkey)
      |SELECT o_orderkey, op, o_custkey, o_orderstatus, o_totalprice
      |FROM d WHERE op IS NOT NULL ORDER BY o_orderkey, op""".stripMargin

  // ---- S8: schema-evolution read --------------------------------------

  /** S8: union snapshots written under DRIFTED schemas (see
    * Maintain.readEvolved). The fixture splits orders at the s2 cutoff
    * into an early snapshot written before `o_orderstatus` and
    * `o_orderpriority` existed and a late snapshot carrying both —
    * the merged read aligns by name and null-fills what each snapshot
    * predates, with a `snap_v` lineage tag. The oracle states the
    * same result as explicit NULL-typed projections + UNION ALL — a
    * different formulation of the alignment the operator derives from
    * the schemas themselves.
    */
  val s8SchemaMerge: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    val cut = lit(Cutoff).cast("timestamp")
    val v1 = orders.filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit(1).as("snap_v"))
    val v2 = orders.filter(col("o_orderdate") >= cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_orderpriority"), lit(2).as("snap_v"))
    Maintain.readEvolved(Seq(v1, v2)).orderBy("o_orderkey")
  }
  val s8SchemaMergeSql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice,
       |  CAST(1 AS INTEGER) AS snap_v,
       |  CAST(NULL AS VARCHAR) AS o_orderstatus,
       |  CAST(NULL AS VARCHAR) AS o_orderpriority
       |FROM orders WHERE o_orderdate < TIMESTAMP '$Cutoff 00:00:00'
       |UNION ALL
       |SELECT o_orderkey, o_custkey, o_totalprice,
       |  CAST(2 AS INTEGER) AS snap_v, o_orderstatus, o_orderpriority
       |FROM orders WHERE o_orderdate >= TIMESTAMP '$Cutoff 00:00:00'
       |ORDER BY o_orderkey""".stripMargin

  // ---- registry --------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_s2_incr_agg", s2IncrAgg, s2IncrAggSql),
    QuerySpec("q_s4_golden", s4Golden, s4GoldenSql),
    QuerySpec("q_s6_cdc_apply", s6CdcApply, s6CdcApplySql),
    QuerySpec("q_s7_cdc_extract", s7CdcExtract, s7CdcExtractSql),
    QuerySpec("q_s8_schema_merge", s8SchemaMerge, s8SchemaMergeSql)
  )
}
