package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops._

/** Registry of driver-checkable queries (SparkEntry.queries) with their
  * DuckDB oracle SQL, one [[QuerySpec]] per query. Each entry exercises
  * one operator family from SURVEY.md §2 on the testdata tables.
  *
  * Conventions for oracle hash-parity:
  *  - every computed column is aliased identically in Spark and SQL;
  *  - double aggregations go through Exact.sum2/avg2 (decimal-exact,
  *    order-independent — see Exact.scala);
  *  - every result has a total deterministic ORDER BY;
  *  - date/timestamp OUTPUT columns are emitted as 'yyyy-MM-dd' strings on
  *    both sides (pandas reads Spark's date32 as datetime.date but
  *    DuckDB's DATE as midnight Timestamp — textual compare would
  *    mismatch). Filters still use native date types for pushdown.
  */
object Queries {
  import QuerySpec.Q

  /** Presentation-edge date formatting (see class doc). */
  private[graft] def dstr(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM-dd")
  private[graft] def dstrSql(col: String): String = s"strftime($col, '%Y-%m-%d')"

  // ---- §2.2 filters / projections -----------------------------------

  /** F1+O1: equality filter + projection + sort (snapshots.py:56-64).
    * The month-equality predicate is expressed as a half-open range on
    * the raw column (NOT `date_trunc(col) = x`) so it pushes down into
    * the parquet scan and prunes row groups on min/max stats.
    */
  val f1Snapshot: Q = (s, d) => {
    import s.implicits._
    Relational.snapshot(
      Tables.orders(s, d),
      $"o_orderdate" >= lit("1995-03-01").cast("timestamp") &&
        $"o_orderdate" < lit("1995-04-01").cast("timestamp") &&
        $"o_orderstatus" === "F",
      Seq("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_orderkey"))
  }
  val f1SnapshotSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-04-01'
      |  AND o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin

  /** F2: BETWEEN range predicate (snapshots.py:100-108). Range on the
    * raw timestamp column (pushable) rather than on `to_date(col)`.
    */
  val f2Range: Q = (s, d) => {
    import s.implicits._
    Relational.range(Tables.lineitem(s, d), $"l_shipdate",
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("1996-03-31 23:59:59.999999"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        dstr($"l_shipdate").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  val f2RangeSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_quantity, ${dstrSql("l_shipdate")} AS ship_date
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** F5: dynamic IN-list filter (backfill_volume.py:95-98). */
  val f5InList: Q = (s, d) => {
    import s.implicits._
    Tables.part(s, d)
      .filter($"p_brand".isin("Brand#1", "Brand#3", "Brand#5") && $"p_size" >= 10)
      .select($"p_partkey", $"p_name", $"p_brand", $"p_size")
      .orderBy("p_partkey")
  }
  val f5InListSql: String =
    """SELECT p_partkey, p_name, p_brand, p_size FROM part
      |WHERE p_brand IN ('Brand#1','Brand#3','Brand#5') AND p_size >= 10
      |ORDER BY p_partkey""".stripMargin

  /** F6: threshold filter (volume.py:64-66). */
  val f6Threshold: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_quantity" >= 45 && $"l_discount" > 0.05)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
      .orderBy("l_orderkey", "l_linenumber")
  }
  val f6ThresholdSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
      |WHERE l_quantity >= 45 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** F7+F8+S6: single-key filter plus incremental cursor
    * (timelines.py:54-62; generate_volume_rankings.py:93).
    */
  val f8Incremental: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT" &&
        $"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
      .select($"o_orderkey", dstr($"o_orderdate").as("order_date"), $"o_totalprice")
      .orderBy("o_orderkey")
  }
  val f8IncrementalSql: String =
    s"""SELECT o_orderkey, ${dstrSql("o_orderdate")} AS order_date, o_totalprice FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND CAST(o_orderdate AS DATE) > DATE '2000-12-31'
      |ORDER BY o_orderkey""".stripMargin

  // ---- §2.4 aggregations --------------------------------------------

  /** A1: grouped daily counts (analytics.py:52-60). */
  val a1CountByDay: Q = (s, d) => {
    import s.implicits._
    Relational.countBy(Tables.orders(s, d), dstr($"o_orderdate"), "order_date", "n_orders")
  }
  val a1CountByDaySql: String =
    s"""SELECT ${dstrSql("o_orderdate")} AS order_date, COUNT(*) AS n_orders
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** A2: grouped daily counts restricted to a date range
    * (analytics.py:160-204) — the API's `symbolCountByDateRange` shape:
    * pushed range predicate + single keyed shuffle with map-side combine.
    * The half-open timestamp bound (< 1995-09-01) is the pushable
    * equivalent of the API's INCLUSIVE date range ending 1995-08-31 —
    * every timestamp on the last day is included on both sides.
    */
  val a2RangeCount: Q = (s, d) => {
    import s.implicits._
    Relational.countBy(
      Tables.orders(s, d).filter(
        $"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1995-09-01").cast("timestamp")),
      dstr($"o_orderdate"), "order_date", "available_count")
  }
  val a2RangeCountSql: String =
    s"""SELECT ${dstrSql("o_orderdate")} AS order_date, COUNT(*) AS available_count
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1995-06-01' AND o_orderdate < TIMESTAMP '1995-09-01'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A3: HAVING count-below-threshold (completeness.py:79-89). */
  val a3Having: Q = (s, d) => {
    import s.implicits._
    Relational.havingCountLt(Tables.orders(s, d), dstr($"o_orderdate"), "order_date", 3L)
  }
  val a3HavingSql: String =
    s"""SELECT ${dstrSql("o_orderdate")} AS order_date, COUNT(*) AS n
       |FROM orders GROUP BY 1 HAVING COUNT(*) < 3 ORDER BY 1""".stripMargin

  /** A4+S6: scalar MIN/MAX cursor probe (timelines.py:94-105,129-140). */
  val a4MinMax: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d).agg(
      dstr(min($"o_orderdate")).as("first_date"),
      dstr(max($"o_orderdate")).as("last_date"),
      count(lit(1)).as("n_rows"))
  }
  val a4MinMaxSql: String =
    s"""SELECT ${dstrSql("MIN(o_orderdate)")} AS first_date,
       |${dstrSql("MAX(o_orderdate)")} AS last_date, COUNT(*) AS n_rows FROM orders""".stripMargin

  /** A5: multi-aggregate per group — TPC-H Q1 shape (volume.py:169-196). */
  val a5MultiAgg: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Exact.sum2($"l_quantity").as("sum_qty"),
        Exact.sum2($"l_extendedprice").as("sum_price"),
        Exact.avg2($"l_quantity").as("avg_qty"),
        Exact.avg2($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }
  val a5MultiAggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |${Exact.sum2Sql("l_quantity")} AS sum_qty,
       |${Exact.sum2Sql("l_extendedprice")} AS sum_price,
       |${Exact.avg2Sql("l_quantity")} AS avg_qty,
       |${Exact.avg2Sql("l_discount")} AS avg_disc,
       |COUNT(*) AS count_order,
       |MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A6: single-slice market summary (volume.py:259-283). */
  val a6Summary: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .filter(year($"o_orderdate") === 1996)
      .agg(
        Exact.sum2($"o_totalprice").as("total_price"),
        count(lit(1)).as("n_orders"),
        Exact.avg2($"o_totalprice").as("avg_price"))
  }
  val a6SummarySql: String =
    s"""SELECT ${Exact.sum2Sql("o_totalprice")} AS total_price,
       |COUNT(*) AS n_orders, ${Exact.avg2Sql("o_totalprice")} AS avg_price
       |FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996""".stripMargin

  /** A7: exact COUNT(DISTINCT) global stats (generate_stats.py:17-27). */
  val a7DistinctCounts: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d).agg(
      countDistinct($"o_custkey").as("n_cust"),
      countDistinct(to_date($"o_orderdate")).as("n_days"),
      count(lit(1)).as("n_orders"))
  }
  val a7DistinctCountsSql: String =
    """SELECT COUNT(DISTINCT o_custkey) AS n_cust,
      |COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
      |COUNT(*) AS n_orders FROM orders""".stripMargin

  /** A8: conditional counts — matview refresh shape (availability_db.py:232-242). */
  val a8Conditional: Q = (s, d) => {
    import s.implicits._
    Relational.conditionalCounts(Tables.orders(s, d),
      year($"o_orderdate"), "order_year", $"o_orderstatus" === "F")
  }
  val a8ConditionalSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
      |COUNT(*) AS total,
      |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS matched,
      |COUNT(*) - CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS unmatched
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** A9: DISTINCT projection (snapshots.py:100-108). */
  val a9Distinct: Q = (s, d) =>
    Relational.distinctOf(Tables.customer(s, d), Seq("c_mktsegment")).orderBy("c_mktsegment")
  val a9DistinctSql: String =
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"

  /** A10+O2: per-key average + top-K (QUERY_EXAMPLES.md:231-241). */
  val a10TopAvg: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_suppkey")
      .agg(Exact.avg2($"l_extendedprice").as("avg_price"), count(lit(1)).as("n_items"))
      .orderBy($"avg_price".desc, $"l_suppkey")
      .limit(10)
  }
  val a10TopAvgSql: String =
    s"""SELECT l_suppkey, ${Exact.avg2Sql("l_extendedprice")} AS avg_price,
       |COUNT(*) AS n_items FROM lineitem GROUP BY l_suppkey
       |ORDER BY avg_price DESC, l_suppkey LIMIT 10""".stripMargin

  /** A12: ROLLUP over (status, priority) — per-group, per-status-subtotal
    * and grand-total rows in ONE pass. At scale this is the plan you want
    * over re-aggregating three times: Spark expands each input row to its
    * grouping sets BEFORE the exchange and partial-aggregates each, so the
    * shuffle carries one partial row per (set × group), not 3× the data.
    * Rollup NULL markers become 'ALL' labels via grouping() so the output
    * never contains NULLs (Spark sorts NULLS FIRST, DuckDB NULLS LAST —
    * labels sidestep the collation difference entirely).
    */
  val a12Rollup: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_priority"),
        count(lit(1)).as("n"), Exact.sum2($"o_totalprice").as("total"))
      .select(
        when($"g_status" === 1, "ALL").otherwise($"o_orderstatus").as("status"),
        when($"g_priority" === 1, "ALL").otherwise($"o_orderpriority").as("priority"),
        $"n", $"total")
      .orderBy("status", "priority")
  }
  val a12RollupSql: String =
    s"""SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
       |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
       |       COUNT(*) AS n, ${Exact.sum2Sql("o_totalprice")} AS total
       |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  /** A15: CUBE over (returnflag, linestatus) — all four grouping sets
    * (detail, each one-dimension margin, grand total) in one expand +
    * one partial-aggregated shuffle, same scale argument as A12's
    * rollup; the cube additionally emits the cross margins a
    * re-aggregation approach would need a fourth pass for.
    */
  val a15Cube: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(grouping($"l_returnflag").cast("int").as("g_rf"),
        grouping($"l_linestatus").cast("int").as("g_ls"),
        count(lit(1)).as("n"), Exact.sum2($"l_quantity").as("qty"))
      .select(
        when($"g_rf" === 1, "ALL").otherwise($"l_returnflag").as("returnflag"),
        when($"g_ls" === 1, "ALL").otherwise($"l_linestatus").as("linestatus"),
        $"n", $"qty")
      .orderBy("returnflag", "linestatus")
  }
  val a15CubeSql: String =
    s"""SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
       |       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
       |       COUNT(*) AS n, ${Exact.sum2Sql("l_quantity")} AS qty
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** A13: PIVOT — returnflag × linestatus count matrix. The value list is
    * explicit (Seq("F","O")) so Spark skips the extra distinct-values job
    * a blind pivot needs; the pivot itself is one partial-aggregated
    * shuffle on the groupBy key. Empty cells surface as 0 (COALESCE), not
    * NULL, matching the SUM(CASE) oracle.
    */
  val a13Pivot: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select($"l_returnflag", coalesce($"F", lit(0L)).as("F"),
        coalesce($"O", lit(0L)).as("O"))
      .orderBy("l_returnflag")
  }
  val a13PivotSql: String =
    """SELECT l_returnflag,
      |       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
      |       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN 1 END), 0) AS BIGINT) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A14: exact grouped percentiles (quartiles of quantity per returnflag).
    * Spark's `percentile` is the exact sort-based aggregate; quantity is
    * integer-valued and the .25/.5/.75 interpolation fractions are exact
    * binary, so the doubles are bit-identical to DuckDB's quantile_cont.
    * The scale path for genuinely huge groups is approx_percentile
    * (KLL-sketch, mergeable, fixed memory) — spec'd in TemporalSpec's
    * sibling AggSpec rather than oracled, since its answers are
    * implementation-defined.
    */
  val a14Percentiles: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(percentile($"l_quantity", lit(0.25)).as("p25"),
        percentile($"l_quantity", lit(0.5)).as("p50"),
        percentile($"l_quantity", lit(0.75)).as("p75"),
        min($"l_quantity").as("lo"), max($"l_quantity").as("hi"))
      .orderBy("l_returnflag")
  }
  val a14PercentilesSql: String =
    """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS p25,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.75) AS p75,
      |       MIN(l_quantity) AS lo, MAX(l_quantity) AS hi
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A18: exact covariance — covar_pop(quantity, discount) per return
    * flag via the explicit moment formula over DECIMAL-EXACT sums
    * (Σqd in decimal(27,4) — products of 2-decimal columns carry 4
    * decimals; Σq, Σd via Exact.sum2). Only the final combine runs in
    * IEEE doubles, identically on both engines, so a statistic that is
    * normally last-ulp-nondeterministic under partial aggregation
    * becomes hash-exact. The built-in covar_pop cannot promise that —
    * which is the point of spelling the moments out.
    */
  val a18Cov: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val qd = ($"l_quantity".cast(DecimalType(18, 2)) *
      $"l_discount".cast(DecimalType(18, 2)))
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(qd).cast(DoubleType).as("sum_qd"),
        Exact.sum2($"l_quantity").as("sum_q"),
        Exact.sum2($"l_discount").as("sum_d"))
      .withColumn("covar_pop",
        ($"sum_qd" - $"sum_q" * $"sum_d" / $"n") / $"n")
      .orderBy("l_returnflag")
  }
  val a18CovSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_qd,
       |  ${Exact.sum2Sql("l_quantity")} AS sum_q,
       |  ${Exact.sum2Sql("l_discount")} AS sum_d,
       |  (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
       |   - ${Exact.sum2Sql("l_quantity")} * ${Exact.sum2Sql("l_discount")} / COUNT(*)) / COUNT(*) AS covar_pop
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** J19: TPC-H Q5-shaped five-way star join — revenue per nation for
    * one region/year. Plan layering at 100 TB: region→nation→customer
    * collapse to ONE broadcast dimension chain (each step is dim⋈dim,
    * never touching a fact); supplier broadcasts independently; the
    * only real shuffle joins are lineitem⋈orders on the co-designed
    * orderkey and the customer/supplier nation-consistency equi-check.
    * Revenue is decimal-exact (the q_j13 pattern).
    */
  val j19StarFive: Q = (s, d) => {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val nations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = Tables.customer(s, d)
      .join(broadcast(nations), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_nationkey".as("cust_nk"), $"n_name")
    val supp = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
    val ord = Tables.orders(s, d)
      .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      // Q5's signature constraint: supplier and customer share a nation
      .filter($"s_nationkey" === $"cust_nk")
      .groupBy($"n_name")
      .agg(sum($"l_extendedprice".cast(dec) * (lit(1).cast(dec) - $"l_discount".cast(dec)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"n_name")
  }
  val j19StarFiveSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND s_nationkey = c_nationkey
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A19: winsorized aggregation — clamp `l_extendedprice` to its
    * per-flag [p05, p95] before summing, the robust-statistics answer
    * to a long-tailed column. Percentiles are DISCRETE, picked by
    * row_number at position ceil(q·n): rank selection is integer
    * arithmetic, so the chosen bounds are the same bits in any engine
    * (no interpolation formula to agree on). Clamped and raw sums are
    * decimal-exact ([[Exact]]).
    *
    * Scale note: exact rank selection needs the per-group sort — that
    * is inherent to exact percentiles (Spark's own `percentile` buffers
    * the group). The group count here is 3 flags; for high-cardinality
    * grouping switch to `approx_percentile`, which is mergeable.
    */
  val a19Winsorize: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"l_returnflag").orderBy($"v")
    val ranked = Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_extendedprice".as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"l_returnflag")))
    val bounds = ranked.groupBy($"l_returnflag")
      .agg(max(when($"rn" === greatest(ceil(lit(0.05) * $"n"), lit(1L)), $"v")).as("lo"),
        max(when($"rn" === ceil(lit(0.95) * $"n"), $"v")).as("hi"),
        max($"n").as("n"))
    ranked.select($"l_returnflag", $"v")
      .join(broadcast(bounds), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(max($"n").as("n"), max($"lo").as("lo"), max($"hi").as("hi"),
        Exact.sum2($"v").as("sum_raw"),
        Exact.sum2(least(greatest($"v", $"lo"), $"hi")).as("sum_winsor"))
      .orderBy("l_returnflag")
  }
  val a19WinsorizeSql: String =
    s"""WITH r AS (
       |  SELECT l_returnflag, l_extendedprice AS v,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
       |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM lineitem),
       |b AS (
       |  SELECT l_returnflag,
       |    MAX(CASE WHEN rn = GREATEST(CAST(ceil(0.05 * n) AS BIGINT), 1) THEN v END) AS lo,
       |    MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN v END) AS hi,
       |    MAX(n) AS n
       |  FROM r GROUP BY 1)
       |SELECT r.l_returnflag, CAST(MAX(b.n) AS BIGINT) AS n,
       |  MAX(b.lo) AS lo, MAX(b.hi) AS hi,
       |  ${Exact.sum2Sql("r.v")} AS sum_raw,
       |  CAST(SUM(CAST(LEAST(GREATEST(r.v, b.lo), b.hi) AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsor
       |FROM r JOIN b USING (l_returnflag)
       |GROUP BY r.l_returnflag ORDER BY r.l_returnflag""".stripMargin

  /** A20: equi-DEPTH histogram (quantile buckets) per return flag —
    * ntile(8) over a TOTAL order (value + unique row tie-breaks), then
    * per-bucket count/min/max. Complements A16's equi-width bins: depth
    * buckets adapt to the distribution, width buckets to the range.
    * ntile's fill rule (equal sizes, remainder to the leading buckets)
    * is row-arithmetic on an identical total order, so bucket
    * boundaries match any engine bit-for-bit — no percentile
    * interpolation involved. The window partitions by flag; the sort
    * is per-group, never global.
    */
  val a20EqDepth: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"v", $"l_orderkey", $"l_linenumber")
    Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
        $"l_extendedprice".as("v"))
      .withColumn("bucket", ntile(8).over(w).cast("long"))
      .groupBy($"l_returnflag", $"bucket")
      .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"))
      .orderBy("l_returnflag", "bucket")
  }
  val a20EqDepthSql: String =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice AS v,
      |    ntile(8) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
      |  FROM lineitem)
      |SELECT l_returnflag, bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** C17: date-part extraction + weekday aggregation. The weekday
    * numbering trap: Spark's `dayofweek` is 1=Sunday while DuckDB's
    * `isodow` is 1=Monday — this query pins the ISO convention on both
    * sides (`weekday()+1` in Spark = `isodow` in DuckDB), so a consumer
    * porting weekday logic gets a checked mapping instead of an
    * off-by-one. Weekend traffic share is the analytics shape.
    */
  val c17DateParts: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .select(to_date($"o_orderdate").as("day"))
      .select(year($"day").as("y"), quarter($"day").as("q"),
        (weekday($"day") + 1).as("isodow"))
      .groupBy($"y", $"q", $"isodow")
      .agg(count(lit(1)).as("n"))
      .withColumn("is_weekend", $"isodow" >= 6)
      .orderBy("y", "q", "isodow")
  }
  val c17DatePartsSql: String =
    """SELECT year(day) AS y, quarter(day) AS q, isodow(day) AS isodow,
      |  COUNT(*) AS n, isodow(day) >= 6 AS is_weekend
      |FROM (SELECT CAST(o_orderdate AS DATE) AS day FROM orders)
      |GROUP BY 1, 2, 3 ORDER BY y, q, isodow""".stripMargin

  /** A17: explicit GROUPING SETS — the two marginal rollups ((rf),
    * (ls)) in ONE aggregation pass, a set neither ROLLUP (A12) nor CUBE
    * (A15) produces. One dialect-portable SQL string runs verbatim on
    * both engines (same GROUPING() disambiguation as A15 — a NULL group
    * value and a summarized-away column are different things).
    */
  val a17GroupingSetsSql: String =
    s"""SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
       |       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
       |       COUNT(*) AS n, ${Exact.sum2Sql("l_quantity")} AS qty
       |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
       |ORDER BY returnflag, linestatus""".stripMargin
  val a17GroupingSets: Q = (s, d) => {
    Tables.createViews(s, d)
    s.sql(a17GroupingSetsSql)
  }

  /** A16: equi-width histogram of `events.value` — 20 bins between the
    * global min/max. Two passes over the scan: a 1-row min/max aggregate
    * broadcast back over the data (the same shape a 1000-executor
    * histogram needs — the stats row is O(1), the binning is map-side,
    * and the bin rollup partial-aggregates into at most 20 groups).
    * MIN/MAX are order-independent and the bin formula is the same
    * IEEE-double expression on both engines, so bins are exact; the
    * left edge crosses as floor(×100).
    */
  val a16Histogram: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"value")
    val stats = ev.agg(min($"value").as("lo"), max($"value").as("hi"))
    ev.crossJoin(broadcast(stats))
      // hi == lo (degenerate all-equal input) would make the bin
      // expression NaN, and Spark and DuckDB disagree on NaN ordering —
      // pin the degenerate case to bucket 0 on both engines.
      .select(when($"hi" === $"lo", 0L).otherwise(
        least(floor(($"value" - $"lo") * 20.0 / ($"hi" - $"lo")).cast("double"),
          lit(19.0)).cast("long")).as("bucket"), $"lo", $"hi")
      // lo/hi are constant — grouping on them rides along for free and
      // saves a second stats scan for the bin edges.
      .groupBy($"bucket", $"lo", $"hi").agg(count(lit(1)).as("n"))
      .select($"bucket", $"n",
        floor(($"lo" + $"bucket" * ($"hi" - $"lo") / 20.0) * 100).cast("long").as("lo_x100"))
      .orderBy("bucket")
  }
  val a16HistogramSql: String =
    """WITH s AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
      |b AS (
      |  SELECT CASE WHEN hi = lo THEN 0
      |    ELSE CAST(LEAST(FLOOR((value - lo) * 20.0 / (hi - lo)), 19.0) AS BIGINT)
      |  END AS bucket
      |  FROM events, s)
      |SELECT bucket, COUNT(*) AS n,
      |  CAST(FLOOR((lo + bucket * (hi - lo) / 20.0) * 100) AS BIGINT) AS lo_x100
      |FROM b, s GROUP BY bucket, lo, hi ORDER BY bucket""".stripMargin

  // ---- §2.3 joins ---------------------------------------------------

  /** J1: equi inner join + grouped rollup. Customer is the small dimension
    * → explicit broadcast (no shuffle of orders at scale).
    * (generate_volume_rankings.py:150)
    */
  val j1InnerJoin: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(Exact.sum2($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }
  val j1InnerJoinSql: String =
    s"""SELECT c_mktsegment, ${Exact.sum2Sql("o_totalprice")} AS revenue,
       |COUNT(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** J2: left outer join + COALESCE(measure, 0)
    * (generate_volume_rankings.py:151 + :147).
    */
  val j2LeftJoin: Q = (s, d) => {
    import s.implicits._
    val perCust = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Relational.leftJoinWithDefault(
        Tables.customer(s, d).withColumn("o_custkey", $"c_custkey"),
        perCust, Seq("o_custkey"), "n_orders", lit(0L))
      .select($"c_custkey", $"c_name", $"n_orders")
      .orderBy("c_custkey")
  }
  val j2LeftJoinSql: String =
    """SELECT c_custkey, c_name, COALESCE(n_orders, 0) AS n_orders
      |FROM customer LEFT JOIN
      |(SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1) o
      |ON c_custkey = o_custkey ORDER BY c_custkey""".stripMargin

  /** J3: anti-join — keys never seen on the right (analytics.py:94-108). */
  val j3Anti: Q = (s, d) => {
    import s.implicits._
    Relational.antiJoin(
        Tables.customer(s, d).withColumn("o_custkey", $"c_custkey"),
        Tables.orders(s, d), Seq("o_custkey"))
      .select($"c_custkey", $"c_name")
      .orderBy("c_custkey")
  }
  val j3AntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** J4: day-over-day delta anti-join — present on d-1, gone on d
    * (analytics.py:142-156, with C1 interval arithmetic).
    */
  val j4Delta: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val dayN = to_date(lit("2024-01-05"))
    val prev = ev.filter(to_date($"ts") === date_sub(dayN, 1)).select($"user_id").distinct()
    val cur = ev.filter(to_date($"ts") === dayN).select($"user_id").distinct()
    Relational.antiJoin(prev, cur, Seq("user_id")).orderBy("user_id")
  }
  val j4DeltaSql: String =
    """SELECT DISTINCT user_id FROM events
      |WHERE CAST(ts AS DATE) = DATE '2024-01-05' - INTERVAL 1 DAY
      |  AND user_id NOT IN (SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05')
      |ORDER BY user_id""".stripMargin

  /** J5+C2: continuity gaps — generated date series anti-join
    * (validation/continuity.py:74-87).
    */
  val j5Continuity: Q = (s, d) =>
    Validation.continuityGaps(s, Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts"))),
      "event_date", "2024-01-01", "2024-03-31")
      .select(dstr(col("event_date")).as("event_date"))
  val j5ContinuitySql: String =
    """SELECT CAST(d AS VARCHAR) AS event_date FROM
      |(SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS DATE) AS d)
      |WHERE d NOT IN (SELECT DISTINCT CAST(ts AS DATE) FROM events)
      |ORDER BY d""".stripMargin

  /** J6: key-set diff/intersect with origin tag (cross_check.py:129-137). */
  val j6SetOps: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    Validation.keySetDiff(
      ev.filter($"event_type" === "purchase"),
      ev.filter($"event_type" === "signup"),
      "user_id")
  }
  val j6SetOpsSql: String =
    """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
      |SELECT user_id, 'only_a' AS side FROM a WHERE user_id NOT IN (SELECT user_id FROM b)
      |UNION ALL
      |SELECT user_id, 'only_b' AS side FROM b WHERE user_id NOT IN (SELECT user_id FROM a)
      |UNION ALL
      |SELECT user_id, 'both' AS side FROM a WHERE user_id IN (SELECT user_id FROM b)
      |ORDER BY side, user_id""".stripMargin

  /** J7: duplicate-key overlap guard (generate_volume_rankings.py:274-282). */
  val j7Overlap: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).withColumn("event_date", to_date($"ts"))
    val existing = ev.filter($"event_date" <= lit("2024-01-10"))
    val fresh = ev.filter($"event_date" >= lit("2024-01-08"))
    Relational.overlap(existing, fresh, Seq("event_date"))
      .select(dstr($"event_date").as("event_date")).orderBy("event_date")
  }
  val j7OverlapSql: String =
    """SELECT DISTINCT CAST(a.event_date AS VARCHAR) AS event_date FROM
      |(SELECT CAST(ts AS DATE) AS event_date FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-10') a
      |JOIN (SELECT CAST(ts AS DATE) AS event_date FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-08') b
      |USING (event_date) ORDER BY event_date""".stripMargin

  /** J8: consistency diff via full outer join (verify-database-consistency.py:287-334). */
  val j8FullOuterDiff: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val a = ev.filter(month($"ts") === 1).groupBy($"user_id").agg(count(lit(1)).as("n"))
    val b = ev.filter(month($"ts") === 2).groupBy($"user_id").agg(count(lit(1)).as("n"))
    Validation.consistencyDiff(a, b, "user_id", "n")
  }
  val j8FullOuterDiffSql: String =
    """WITH a AS (SELECT user_id, COUNT(*) AS a_val FROM events WHERE EXTRACT(month FROM ts) = 1 GROUP BY 1),
      |b AS (SELECT user_id, COUNT(*) AS b_val FROM events WHERE EXTRACT(month FROM ts) = 2 GROUP BY 1)
      |SELECT user_id, a_val, b_val FROM a FULL OUTER JOIN b USING (user_id)
      |WHERE a_val IS DISTINCT FROM b_val ORDER BY user_id""".stripMargin

  /** J9 (scale pattern): salted equi-join — row-identical to the plain
    * join by construction, so the oracle IS the plain join. The salt
    * spreads each hot key's rows over 8 reducers; correctness must not
    * depend on the salt assignment, which is exactly what the oracle
    * compare proves.
    */
  val j9Salted: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_suppkey")
    val sup = Tables.supplier(s, d)
      .select($"s_suppkey".as("l_suppkey"), $"s_name")
    graft.ops.Skew.saltedJoin(li, sup, Seq("l_suppkey"), saltBuckets = 8)
      .orderBy("l_orderkey", "l_linenumber")
  }
  val j9SaltedSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, s_name
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- J12: bloom-pruned join ------------------------------------------

  /** J12: orders ⋈ BUILDING-segment customers with a Bloom-filter
    * pre-gate on the fact side — semi-join reduction for the regime
    * where the dimension's rows don't fit a broadcast but its key set
    * fits a few-MB filter. The filter admits no false negatives, so the
    * result is row-identical to the plain join (which is exactly what
    * the oracle runs); false positives are dropped by the exact join.
    */
  val j12Bloom: Q = (s, d) => {
    import s.implicits._
    val dim = Tables.customer(s, d)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    graft.ops.Bloom.prunedJoin(Tables.orders(s, d), dim,
        "o_custkey", "c_custkey", expectedItems = 100000L)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        graft.ops.Exact.sum2($"o_totalprice").as("total_price"))
      .orderBy("o_orderpriority")
  }
  val j12BloomSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${graft.ops.Exact.sum2Sql("o_totalprice")} AS total_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ---- J13: multi-way star join ---------------------------------------

  /** J13: the TPC-H Q3 shape — fact (lineitem) ⋈ orders ⋈ customer with
    * selective filters on both dimensions and a decimal-exact revenue
    * aggregate, top-10. The scale plan: customer's filtered key set
    * broadcasts into the orders join; that (already date-filtered)
    * result is itself dimension-sized relative to lineitem, so AQE
    * turns the second join into a broadcast too — the fact table never
    * shuffles for either join, and only partial (orderkey, revenue)
    * aggregates cross the wire. Revenue stays in exact decimal until
    * the final double cast, so the hash compare survives any partition
    * order.
    */
  val j13StarJoin: Q = (s, d) => {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val cust = Tables.customer(s, d)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.orders(s, d)
      .filter($"o_orderdate" < lit("1996-06-30").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
    Tables.lineitem(s, d)
      .filter($"l_shipdate" > lit("1996-06-30").cast("timestamp"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderpriority")
      .agg(sum($"l_extendedprice".cast(dec) * (lit(1).cast(dec) - $"l_discount".cast(dec)))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"o_orderpriority", $"revenue")
  }
  val j13StarJoinSql: String =
    """SELECT l_orderkey, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- V1: column-level data profiling --------------------------------

  /** One-pass per-column profile of lineitem (nulls, exact distincts,
    * min/max) — the pre-training data-quality report. Timestamp column
    * pre-formatted to a portable string; numeric/string columns render
    * through the cast. Oracle computes the identical unpivoted shape.
    */
  val v1Profile: Q = (s, d) => {
    import s.implicits._
    val base = Tables.lineitem(s, d)
      .withColumn("l_shipdate_s",
        date_format($"l_shipdate", "yyyy-MM-dd HH:mm:ss"))
    graft.ops.Profile.profile(base,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_shipdate_s"))
      .orderBy("column")
  }
  val v1ProfileSql: String = {
    def row(c: String, expr: String) =
      s"""SELECT '$c' AS "column", COUNT(*) AS n_total,
         |  COUNT(*) - COUNT($expr) AS n_null,
         |  COUNT(DISTINCT $expr) AS n_distinct,
         |  CAST(MIN($expr) AS VARCHAR) AS min_str,
         |  CAST(MAX($expr) AS VARCHAR) AS max_str FROM li""".stripMargin
    s"""WITH li AS (
       |  SELECT *, strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate_s
       |  FROM lineitem)
       |${Seq(
          row("l_orderkey", "l_orderkey"),
          row("l_linenumber", "l_linenumber"),
          row("l_returnflag", "l_returnflag"),
          row("l_linestatus", "l_linestatus"),
          row("l_shipdate_s", "l_shipdate_s")).mkString("\nUNION ALL\n")}
       |ORDER BY "column"""".stripMargin
  }

  // ---- V2: data-quality constraint report -----------------------------

  /** V2: the ingest-gate constraint report — five checks over lineitem
    * (nulls, range, regex, composite-key uniqueness) plus referential
    * integrity to orders, in two aggregate jobs + one anti-join. The
    * oracle re-states each constraint as plain SQL; NULL predicate
    * results count as violations on both engines.
    */
  val v2Constraints: Q = (s, d) => {
    import graft.ops.Constraints
    val li = Tables.lineitem(s, d)
    Constraints.validate(li,
        Seq(
          Constraints.notNull("l_orderkey"),
          Constraints.inRange("l_quantity", 1.0, 50.0),
          Constraints.matches("l_returnflag", "^[ANR]$")),
        uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber")))
      .unionByName(Constraints.references(li, "l_orderkey",
        Tables.orders(s, d), "o_orderkey"))
      .orderBy("constraint")
  }
  val v2ConstraintsSql: String =
    """WITH r AS (
      |  SELECT 'not_null(l_orderkey)' AS c,
      |    CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'range(l_quantity,1.0,50.0)',
      |    CAST(SUM(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0 THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'matches(l_returnflag)',
      |    CAST(SUM(CASE WHEN regexp_matches(l_returnflag, '^[ANR]$') THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'unique(l_orderkey,l_linenumber)',
      |    CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'references(l_orderkey->o_orderkey)',
      |    CAST(COUNT(*) AS BIGINT)
      |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |SELECT c AS "constraint", n AS n_violations, n = 0 AS ok
      |FROM r ORDER BY "constraint"""".stripMargin

  /** J14: left SEMI join — orders with at least one max-quantity line
    * (the EXISTS shape; J3/J4 cover the anti twin). The probe side
    * never widens: a semi join emits the left row once regardless of
    * match multiplicity, so no post-join distinct is ever needed — at
    * scale that's the difference between a build-side dedup for free
    * and an extra shuffle.
    */
  val j14Semi: Q = (s, d) => {
    import s.implicits._
    val full = Tables.lineitem(s, d).filter($"l_quantity" === 50)
    Tables.orders(s, d)
      .join(full, $"o_orderkey" === full("l_orderkey"), "left_semi")
      .select($"o_orderkey", dstr($"o_orderdate").as("order_date"), $"o_totalprice")
      .orderBy("o_orderkey")
  }
  val j14SemiSql: String =
    s"""SELECT o_orderkey, ${dstrSql("o_orderdate")} AS order_date, o_totalprice
       |FROM orders
       |WHERE EXISTS (SELECT 1 FROM lineitem
       |              WHERE l_orderkey = o_orderkey AND l_quantity = 50)
       |ORDER BY o_orderkey""".stripMargin

  /** J15: NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * predicate that makes NULL keys match each other instead of
    * silently dropping, a classic source of lost rows when joining on
    * nullable derived keys. NULLs are planted by NULLIF-ing one
    * priority class; the join counts prove NULL=NULL matched. Note the
    * plan cost: a null-safe join cannot hash-partition NULLs to one
    * side arbitrarily — Spark still hashes (NULL is its own key), so
    * the shape stays a plain equi-join, but a hot NULL key is a skew
    * hazard — salt it like any hot key if NULLs dominate.
    */
  val j15NullSafe: Q = (s, d) => {
    import s.implicits._
    val keyed = Tables.orders(s, d)
      .select($"o_orderkey", nullif($"o_orderpriority", lit("1-URGENT")).as("prio"))
      .as("k")
    val classes = keyed.groupBy($"prio").agg(count(lit(1)).as("class_n")).as("c")
    keyed.join(classes, $"k.prio" <=> $"c.prio")
      .groupBy($"k.prio".as("prio"))
      .agg(count(lit(1)).as("n"), max($"class_n").as("class_n"))
      .orderBy(col("prio").asc_nulls_first)
  }
  val j15NullSafeSql: String =
    """WITH keyed AS (
      |  SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio FROM orders),
      |classes AS (SELECT prio, COUNT(*) AS class_n FROM keyed GROUP BY 1)
      |SELECT k.prio, COUNT(*) AS n, MAX(c.class_n) AS class_n
      |FROM keyed k JOIN classes c ON k.prio IS NOT DISTINCT FROM c.prio
      |GROUP BY k.prio ORDER BY k.prio ASC NULLS FIRST""".stripMargin

  // ---- V3: distribution drift between corpus slices -------------------

  /** V3: dataset drift monitoring — the value histogram of the first
    * half of each month vs the second half, over one shared 20-bin grid
    * (global min/max so both slices bin identically), with each bin's
    * share delta as an L1-distance contribution. The PSI/KL monitors a
    * training pipeline runs are this exact shape; L1 keeps the math
    * log-free so the compare is engine-exact (shares cross as
    * floor(×1e6)). One scan feeds both slices (conditional counts per
    * bin — no second pass, no join between the slices).
    */
  val v3Drift: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"value",
        when(dayofmonth(to_date($"ts")) <= 15, 1).otherwise(2).as("m"))
    val stats = ev.agg(min($"value").as("lo"), max($"value").as("hi"))
    ev.crossJoin(broadcast(stats))
      // same degenerate-range guard as a16Histogram: hi == lo → bucket 0
      .select(when($"hi" === $"lo", 0L).otherwise(
        least(floor(($"value" - $"lo") * 20.0 / ($"hi" - $"lo")).cast("double"),
          lit(19.0)).cast("long")).as("bucket"), $"m")
      .groupBy($"bucket")
      .agg(sum(when($"m" === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when($"m" === 2, 1L).otherwise(0L)).as("n_b"))
      .withColumn("t_a", sum($"n_a").over())
      .withColumn("t_b", sum($"n_b").over())
      .select($"bucket", $"n_a", $"n_b",
        floor(abs($"n_a" * lit(1000000.0) / $"t_a"
          - $"n_b" * lit(1000000.0) / $"t_b")).cast("long").as("l1_1e6"))
      .orderBy("bucket")
  }
  val v3DriftSql: String =
    """WITH e AS (
      |  SELECT value,
      |    CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 15 THEN 1 ELSE 2 END AS m
      |  FROM events),
      |s AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM e),
      |b AS (
      |  SELECT CASE WHEN hi = lo THEN 0
      |    ELSE CAST(LEAST(FLOOR((value - lo) * 20.0 / (hi - lo)), 19.0) AS BIGINT)
      |  END AS bucket, m
      |  FROM e, s),
      |g AS (
      |  SELECT bucket,
      |    CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM b GROUP BY 1)
      |SELECT bucket, n_a, n_b,
      |  CAST(FLOOR(ABS(n_a * 1000000.0 / SUM(n_a) OVER ()
      |    - n_b * 1000000.0 / SUM(n_b) OVER ())) AS BIGINT) AS l1_1e6
      |FROM g ORDER BY bucket""".stripMargin

  /** V5: data-freshness / volume-anomaly monitor — each day's event
    * count against the DISCRETE lower median of the trailing 7 days
    * (rows between 7 preceding and 1 preceding; rank (k+1) div 2 of the
    * sorted window — integer-exact, no interpolation, so the flag
    * hash-matches any engine). `low_volume` fires when 2·n < median —
    * the "did yesterday's load half-fail" pager check a production
    * pipeline runs on every partition. One keyed daily rollup + one
    * 7-row window; the window state is 7 longs per day regardless of
    * data volume.
    */
  val v5Freshness: Q = (s, d) => {
    import s.implicits._
    val w = Window.orderBy($"day").rowsBetween(-7, -1)
    Tables.events(s, d)
      .select(to_date($"ts").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n"))
      .withColumn("win", sort_array(collect_list($"n").over(w)))
      .withColumn("med",
        when(size($"win") > 0,
          element_at($"win", ((size($"win") + 1) / 2).cast("int"))))
      .withColumn("low_volume",
        coalesce($"n" * 2 < $"med", lit(false)))
      .select(dstr($"day").as("day"), $"n", $"med", $"low_volume")
      .orderBy("day")
  }
  val v5FreshnessSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT day, n,
      |    list_sort(list(n) OVER (ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS win
      |  FROM daily)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n,
      |  CASE WHEN len(win) > 0 THEN win[(len(win) + 1) // 2] END AS med,
      |  COALESCE(n * 2 < (CASE WHEN len(win) > 0 THEN win[(len(win) + 1) // 2] END),
      |           false) AS low_volume
      |FROM m ORDER BY day""".stripMargin

  /** V6: SEASONAL-naive anomaly monitor — v5's volume check made
    * weekday-aware: each day's event count against the discrete lower
    * median of the 3 trailing SAME-WEEKDAY counts, because a Sunday
    * compared to a Mon–Sat trailing median pages every weekend.
    * Deviation is an integer ratio (n·1e6 div baseline, distance from
    * 1e6); the flag fires beyond ±50%. Weekday = epoch-day mod 7 —
    * pure arithmetic, identical in any engine (DATE_PART weekday
    * conventions differ between engines, so none is used). One daily
    * rollup + one 3-row window per weekday partition; window state is
    * 3 longs per day at any volume.
    */
  val v6Seasonal: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"dow").orderBy($"day").rowsBetween(-3, -1)
    Tables.events(s, d)
      .select(to_date($"ts").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n"))
      .withColumn("dow", pmod(datediff($"day", lit("1970-01-01").cast("date")), lit(7)))
      .withColumn("win", sort_array(collect_list($"n").over(w)))
      .withColumn("base",
        when(size($"win") > 0,
          element_at($"win", ((size($"win") + 1) / 2).cast("int"))))
      .withColumn("dev1e6",
        when($"base".isNotNull, abs(expr("n * 1000000L div base") - lit(1000000L))))
      .withColumn("anomaly", coalesce($"dev1e6" > 500000L, lit(false)))
      .select(dstr($"day").as("day"), $"dow".cast("long").as("dow"), $"n",
        $"base", $"dev1e6", $"anomaly")
      .orderBy("day")
  }
  val v6SeasonalSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |dw AS (
      |  SELECT day, n,
      |    CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS dow
      |  FROM daily),
      |m AS (
      |  SELECT day, dow, n,
      |    list_sort(list(n) OVER (PARTITION BY dow ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)) AS win
      |  FROM dw),
      |b AS (
      |  SELECT day, dow, n,
      |    CASE WHEN len(win) > 0 THEN win[(len(win) + 1) // 2] END AS base
      |  FROM m)
      |SELECT strftime(day, '%Y-%m-%d') AS day, dow, n, base,
      |  CASE WHEN base IS NOT NULL THEN ABS(n * 1000000 // base - 1000000) END AS dev1e6,
      |  COALESCE((CASE WHEN base IS NOT NULL THEN ABS(n * 1000000 // base - 1000000) END) > 500000,
      |           false) AS anomaly
      |FROM b ORDER BY day""".stripMargin

  /** A21: median absolute deviation per group — the robust-statistics
    * pair to A19's winsorize. Both the median and the MAD are DISCRETE
    * rank selections (lower median at rank (n+1) div 2 over a total
    * order with unique tie-breaks) on CENT-integer prices (decimal cast
    * → ×100 → BIGINT — never double×100, which rounds), so every value
    * crosses engines bit-exactly with no interpolation or float
    * subtraction anywhere. Two keyed windows over the same partition;
    * the 3-row median frame broadcasts back for the deviation pass.
    */
  val a21Mad: Q = (s, d) => {
    import s.implicits._
    val base = Tables.lineitem(s, d).select($"l_returnflag".as("flag"),
      ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("c"),
      $"l_orderkey", $"l_linenumber")
    val byV = Window.partitionBy($"flag").orderBy($"c", $"l_orderkey", $"l_linenumber")
    val med = base
      .withColumn("rn", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"flag")))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"flag", $"c".as("med_c"), $"n")
    val byAd = Window.partitionBy($"flag").orderBy($"ad", $"l_orderkey", $"l_linenumber")
    base.join(broadcast(med), "flag")
      .withColumn("ad", abs($"c" - $"med_c"))
      .withColumn("rn2", row_number().over(byAd))
      .filter($"rn2" === expr("(n + 1) div 2"))
      .select($"flag", $"n", $"med_c", $"ad".as("mad_c"))
      .orderBy("flag")
  }
  /** A23: per-group ROBUST OUTLIER FLAGS — the row-level consumer of
    * the a21 machinery: every event whose value deviates from its
    * event-type's discrete median by more than 3× that group's MAD is
    * flagged (the data-quality rule mean/stddev gets wrong under heavy
    * tails, since outliers inflate their own threshold). Values ride as
    * 1e4-scaled integers so median, MAD and the 3× gate are all
    * interpolation-free integer comparisons — oracle-exact.
    *
    * Scale shape: two keyed rank-selection windows per group (median,
    * then MAD) + a broadcast of the groups-sized stats frame back onto
    * the rows. Groups are the parallel unit; for a group too large to
    * window-sort, the k6 bottom-k sketch median is the approximate
    * drop-in.
    */
  val a23Outliers: Q = (s, d) => {
    import s.implicits._
    val base = Tables.events(s, d).select($"event_type".as("g"),
      ($"value".cast("decimal(18,4)") * 10000).cast("long").as("c"), $"event_id")
    val byV = Window.partitionBy($"g").orderBy($"c", $"event_id")
    val med = base
      .withColumn("rn", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"g")))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"g", $"c".as("med_c"), $"n")
    val byAd = Window.partitionBy($"g").orderBy($"ad", $"event_id")
    val mad = base.join(broadcast(med), "g")
      .withColumn("ad", abs($"c" - $"med_c"))
      .withColumn("rn2", row_number().over(byAd))
      .filter($"rn2" === expr("(n + 1) div 2"))
      .select($"g", $"med_c", $"ad".as("mad_c"))
    base.join(broadcast(mad), "g")
      .filter(abs($"c" - $"med_c") > lit(3) * $"mad_c")
      .select($"g", $"event_id", $"c", $"med_c", $"mad_c")
      .orderBy("g", "event_id")
  }
  val a23OutliersSql: String =
    """WITH b AS (
      |  SELECT event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c, event_id
      |  FROM events),
      |r AS (
      |  SELECT g, c, event_id,
      |    row_number() OVER (PARTITION BY g ORDER BY c, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM b),
      |med AS (SELECT g, c AS med_c, n FROM r WHERE rn = (n + 1) // 2),
      |a AS (
      |  SELECT b.g, ABS(b.c - m.med_c) AS ad, m.med_c, m.n, b.event_id
      |  FROM b JOIN med m ON m.g = b.g),
      |r2 AS (
      |  SELECT g, ad, med_c, n,
      |    row_number() OVER (PARTITION BY g ORDER BY ad, event_id) AS rn2
      |  FROM a),
      |mad AS (SELECT g, med_c, ad AS mad_c FROM r2 WHERE rn2 = (n + 1) // 2)
      |SELECT b.g AS g, b.event_id, b.c, m.med_c, m.mad_c
      |FROM b JOIN mad m ON m.g = b.g
      |WHERE ABS(b.c - m.med_c) > 3 * m.mad_c
      |ORDER BY b.g, b.event_id""".stripMargin

  val a21MadSql: String =
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (
      |  SELECT flag, c, l_orderkey, l_linenumber,
      |    row_number() OVER (PARTITION BY flag ORDER BY c, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY flag) AS n
      |  FROM b),
      |med AS (SELECT flag, c AS med_c, n FROM r WHERE rn = (n + 1) // 2),
      |a AS (
      |  SELECT b.flag, ABS(b.c - m.med_c) AS ad, m.med_c, m.n,
      |    b.l_orderkey, b.l_linenumber
      |  FROM b JOIN med m ON m.flag = b.flag),
      |r2 AS (
      |  SELECT flag, ad, med_c, n,
      |    row_number() OVER (PARTITION BY flag ORDER BY ad, l_orderkey, l_linenumber) AS rn2
      |  FROM a)
      |SELECT flag, n, med_c, ad AS mad_c FROM r2 WHERE rn2 = (n + 1) // 2
      |ORDER BY flag""".stripMargin

  /** C19: edit-distance scalar parity — all distinct brand pairs scored
    * with the BUILT-IN `levenshtein` on both engines (Spark codegen'd
    * vs DuckDB's). The bounded distinct side broadcasts; this is the
    * scalar the fuzzy family (D8) deliberately avoids recomputing
    * pairwise at scale, gated here on a vocab-bounded domain.
    */
  val c19EditDistance: Q = (s, d) => {
    import s.implicits._
    val b = Tables.part(s, d).select($"p_brand").distinct()
    b.select($"p_brand".as("a"))
      .crossJoin(broadcast(b.select($"p_brand".as("b"))))
      .filter($"a" < $"b")
      .select($"a", $"b", levenshtein($"a", $"b").cast("long").as("dist"))
      .orderBy("a", "b")
  }
  val c19EditDistanceSql: String =
    """SELECT a.p_brand AS a, b.p_brand AS b,
      |  CAST(levenshtein(a.p_brand, b.p_brand) AS BIGINT) AS dist
      |FROM (SELECT DISTINCT p_brand FROM part) a,
      |     (SELECT DISTINCT p_brand FROM part) b
      |WHERE a.p_brand < b.p_brand ORDER BY 1, 2""".stripMargin

  // ---- registry -----------------------------------------------------

  /** The whole registry: this object's queries, then every family
    * object's `specs`. Names are unique (SmokeSpec checks it). */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_f1_snapshot", f1Snapshot, f1SnapshotSql),
    QuerySpec("q_f2_range", f2Range, f2RangeSql),
    QuerySpec("q_f5_inlist", f5InList, f5InListSql),
    QuerySpec("q_f6_threshold", f6Threshold, f6ThresholdSql),
    QuerySpec("q_f8_incremental", f8Incremental, f8IncrementalSql),
    QuerySpec("q_a1_count_by_day", a1CountByDay, a1CountByDaySql),
    QuerySpec("q_a2_range_count", a2RangeCount, a2RangeCountSql),
    QuerySpec("q_a3_having", a3Having, a3HavingSql),
    QuerySpec("q_a4_minmax", a4MinMax, a4MinMaxSql),
    QuerySpec("q_a5_multiagg", a5MultiAgg, a5MultiAggSql),
    QuerySpec("q_a6_summary", a6Summary, a6SummarySql),
    QuerySpec("q_a7_distinct_counts", a7DistinctCounts, a7DistinctCountsSql),
    QuerySpec("q_a8_conditional", a8Conditional, a8ConditionalSql),
    QuerySpec("q_a9_distinct", a9Distinct, a9DistinctSql),
    QuerySpec("q_a10_top_avg", a10TopAvg, a10TopAvgSql),
    QuerySpec("q_a12_rollup", a12Rollup, a12RollupSql),
    QuerySpec("q_a13_pivot", a13Pivot, a13PivotSql),
    QuerySpec("q_a14_percentiles", a14Percentiles, a14PercentilesSql),
    QuerySpec("q_a15_cube", a15Cube, a15CubeSql),
    QuerySpec("q_a16_histogram", a16Histogram, a16HistogramSql),
    QuerySpec("q_a17_grouping_sets", a17GroupingSets, a17GroupingSetsSql),
    QuerySpec("q_a18_cov", a18Cov, a18CovSql),
    QuerySpec("q_j19_star5", j19StarFive, j19StarFiveSql),
    QuerySpec("q_a19_winsorize", a19Winsorize, a19WinsorizeSql),
    QuerySpec("q_a20_eqdepth", a20EqDepth, a20EqDepthSql),
    QuerySpec("q_c17_dateparts", c17DateParts, c17DatePartsSql),
    QuerySpec("q_j1_inner_join", j1InnerJoin, j1InnerJoinSql),
    QuerySpec("q_j2_left_join", j2LeftJoin, j2LeftJoinSql),
    QuerySpec("q_j3_anti", j3Anti, j3AntiSql),
    QuerySpec("q_j4_delta", j4Delta, j4DeltaSql),
    QuerySpec("q_j5_continuity", j5Continuity, j5ContinuitySql),
    QuerySpec("q_j6_set_ops", j6SetOps, j6SetOpsSql),
    QuerySpec("q_j7_overlap", j7Overlap, j7OverlapSql),
    QuerySpec("q_j8_full_outer_diff", j8FullOuterDiff, j8FullOuterDiffSql),
    QuerySpec("q_j9_salted", j9Salted, j9SaltedSql),
    QuerySpec("q_j12_bloom", j12Bloom, j12BloomSql),
    QuerySpec("q_j13_star_join", j13StarJoin, j13StarJoinSql),
    QuerySpec("q_j14_semi", j14Semi, j14SemiSql),
    QuerySpec("q_j15_nullsafe", j15NullSafe, j15NullSafeSql),
    QuerySpec("q_v1_profile", v1Profile, v1ProfileSql),
    QuerySpec("q_v2_constraints", v2Constraints, v2ConstraintsSql),
    QuerySpec("q_v3_drift", v3Drift, v3DriftSql),
    QuerySpec("q_v5_freshness", v5Freshness, v5FreshnessSql),
    QuerySpec("q_v6_seasonal", v6Seasonal, v6SeasonalSql),
    QuerySpec("q_a21_mad", a21Mad, a21MadSql),
    QuerySpec("q_a23_outliers", a23Outliers, a23OutliersSql),
    QuerySpec("q_c19_edit_distance", c19EditDistance, c19EditDistanceSql)
  ) ++ WindowQueries.specs ++ PipelineQueries.specs ++ ScalarQueries.specs ++
    TemporalQueries.specs ++ SketchQueries.specs ++ MaintainQueries.specs ++
    StreamQueries.specs ++ CurationQueries.specs ++ RoundNineQueries.specs ++
    Round13Queries.specs ++ Round14Queries.specs ++ Round15Queries.specs ++ Round16Queries.specs
}
