package graft

import org.apache.spark.sql.functions._
import graft.ops.Store

/** Scalar-function coverage (SURVEY.md §2.8 C1–C15) plus the store's
  * dedup-on-read view (S2-S4 upsert read side).
  */
object ScalarQueries {
  import QuerySpec.Q
  import Queries.{dstr, dstrSql}

  /** S2/S4 read side: latest row per (user_id, event_type) — the
    * dedup-on-read that makes partition-overwrite upserts idempotent.
    */
  val s1LatestByKey: Q = (s, d) => {
    import s.implicits._
    Store.latestByKey(Tables.events(s, d),
        Seq("user_id", "event_type"), "ts", "event_id")
      .select($"user_id", $"event_type", $"event_id", $"value")
      .orderBy("user_id", "event_type")
  }
  val s1LatestByKeySql: String =
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** C1+C3+C7+C8: date interval arithmetic, rounding, percent math
    * (analytics.py:146; volume.py:75,128).
    */
  val c1DateArith: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderkey" < 500)
      .select($"o_orderkey",
        dstr(date_sub(to_date($"o_orderdate"), 1)).as("prev_day"),
        dstr(date_add(to_date($"o_orderdate"), 7)).as("next_week"),
        // Exact-decimal rounding: ROUND on a raw double is engine-specific
        // at .xx5 boundaries; both engines round exact decimals HALF_UP.
        round($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * lit(new java.math.BigDecimal("0.1")), 2).cast("double").as("fee"),
        ($"o_totalprice" * lit(100.0) / lit(250000.0)).as("pct_of_cap"))
      .orderBy("o_orderkey")
  }
  val c1DateArithSql: String =
    """SELECT o_orderkey,
      |  strftime(CAST(o_orderdate AS DATE) - INTERVAL 1 DAY, '%Y-%m-%d') AS prev_day,
      |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY, '%Y-%m-%d') AS next_week,
      |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(1,1)), 2) AS DOUBLE) AS fee,
      |  o_totalprice * 100.0 / 250000.0 AS pct_of_cap
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin

  /** C12: regex filename parse (aws_s3_lister.py:79-101) — filenames
    * derived from table data, date round-tripped back out by regex.
    */
  val c12Regex: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(concat($"event_type", lit("-1m-"), dstr($"ts"), lit(".zip")).as("fname"))
      .distinct()
      .select($"fname",
        regexp_extract($"fname", "^([A-Za-z]+)-1m-", 1).as("sym"),
        regexp_extract($"fname", "-1m-(\\d{4}-\\d{2}-\\d{2})\\.zip$", 1).as("fdate"))
      .orderBy("fname")
  }
  val c12RegexSql: String =
    """SELECT fname,
      |  regexp_extract(fname, '^([A-Za-z]+)-1m-', 1) AS sym,
      |  regexp_extract(fname, '-1m-(\d{4}-\d{2}-\d{2})\.zip$', 1) AS fdate
      |FROM (SELECT DISTINCT event_type || '-1m-' || strftime(ts, '%Y-%m-%d') || '.zip' AS fname FROM events)
      |ORDER BY fname""".stripMargin

  /** C13+C14: suffix-based symbol classification and string predicates
    * (s3_symbol_discovery.py:149-179; cross_check.py:68-74). Symbols
    * derived from customer names; every 3rd gets a delivery suffix.
    */
  val c13Classify: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .filter($"c_custkey" <= 300)
      .select($"c_custkey",
        concat(upper(regexp_replace($"c_name", "[^A-Za-z0-9]", "")),
          when($"c_custkey" % 3 === 0, lit("_240315")).otherwise(lit("USDT"))).as("symbol"))
      .withColumn("kind",
        when(regexp_extract($"symbol", "_(\\d{6})$", 1) =!= "", lit("delivery"))
          .otherwise(lit("perpetual")))
      .withColumn("is_usdt", $"symbol".endsWith("USDT"))
      .orderBy("c_custkey")
  }
  val c13ClassifySql: String =
    """SELECT c_custkey, symbol,
      |  CASE WHEN regexp_extract(symbol, '_(\d{6})$', 1) <> '' THEN 'delivery'
      |       ELSE 'perpetual' END AS kind,
      |  suffix(symbol, 'USDT') AS is_usdt
      |FROM (
      |  SELECT c_custkey,
      |    upper(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) ||
      |      CASE WHEN c_custkey % 3 = 0 THEN '_240315' ELSE 'USDT' END AS symbol
      |  FROM customer WHERE c_custkey <= 300)
      |ORDER BY c_custkey""".stripMargin

  /** C15: JSON field extraction from the events props column. */
  val c15Json: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_id" < 1000)
      .select($"event_id",
        get_json_object($"props", "$.k").cast("int").as("k_val"))
      .orderBy("event_id")
  }
  val c15JsonSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin

  /** Z1: the Z-order (Morton) clustering key as a value-checked query —
    * the native codegen'd expression (functions/ZOrder.scala, used by
    * Store.writeZOrdered for multi-dimension scan-pruning layout)
    * against the same magic-mask dilation ladder spelled out in
    * portable integer SQL. Pure 64-bit integer math, so the compare is
    * exact.
    */
  val z1ZOrder: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_orderkey" <= 2000)
      .select($"l_orderkey", $"l_linenumber",
        graft.functions.ZOrderKey.zorderKey($"l_partkey", $"l_suppkey").as("zkey"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  val z1ZOrderSql: String = {
    // dilate: spread the low 31 bits to even positions via the
    // magic-mask ladder (decimal literals: 0x0000ffff0000ffff etc.)
    def d(col: String, out: String) =
      s""", s1 AS (SELECT * REPLACE (($col & 2147483647) AS $col) FROM __IN__)
         |, s2 AS (SELECT * REPLACE ((($col | ($col << 16)) & 281470681808895) AS $col) FROM s1)
         |, s3 AS (SELECT * REPLACE ((($col | ($col << 8)) & 71777214294589695) AS $col) FROM s2)
         |, s4 AS (SELECT * REPLACE ((($col | ($col << 4)) & 1085102592571150095) AS $col) FROM s3)
         |, s5 AS (SELECT * REPLACE ((($col | ($col << 2)) & 3689348814741910323) AS $col) FROM s4)
         |, $out AS (SELECT * REPLACE ((($col | ($col << 1)) & 6148914691236517205) AS $col) FROM s5)"""
        .stripMargin.replace("s1", out + "1").replace("s2", out + "2")
        .replace("s3", out + "3").replace("s4", out + "4").replace("s5", out + "5")
    s"""WITH base AS (SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y
       |              FROM lineitem WHERE l_orderkey <= 2000)
       |${d("x", "dx").replace("__IN__", "base")}
       |${d("y", "dy").replace("__IN__", "dx")}
       |SELECT l_orderkey, l_linenumber, (x | (y << 1)) AS zkey
       |FROM dy ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** The SQL entry point: ONE dialect-portable SQL string executed
    * verbatim by both `spark.sql` (over registered temp views) and the
    * DuckDB oracle — join + filter + aggregate + HAVING + order.
    */
  val sharedSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY c_mktsegment HAVING COUNT(*) > 10
      |ORDER BY c_mktsegment""".stripMargin

  val sql1Shared: Q = (s, d) => {
    Tables.createViews(s, d)
    s.sql(sharedSql)
  }

  /** SQL2: the injected-function surface as an oracled query — `hash60`
    * and the `shingles` generator run INSIDE `spark.sql` (registered by
    * GraftExtensions), proven value-identical to the DuckDB md5-slice /
    * sliding-window formulation. Guards the whole extension wiring:
    * resolution, codegen, and semantics in one row set.
    */
  val sql2Functions: Q = (s, d) => {
    Tables.createViews(s, d)
    s.sql("""SELECT doc_id, hash60(text) AS h, COUNT(*) AS n_shingles
            |FROM documents LATERAL VIEW shingles(text, 3) g AS sh
            |WHERE doc_id < 200
            |GROUP BY doc_id, hash60(text)
            |ORDER BY doc_id""".stripMargin)
  }
  val sql2FunctionsSql: String =
    """SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h,
      |  COUNT(*) AS n_shingles
      |FROM (SELECT doc_id, text,
      |        unnest(list_transform(generate_series(1, len(toks) - 2),
      |          i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |      FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
      |            FROM documents WHERE doc_id < 200))
      |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_sql1_shared", sql1Shared, sharedSql),
    QuerySpec("q_sql2_functions", sql2Functions, sql2FunctionsSql),
    QuerySpec("q_s1_latest_by_key", s1LatestByKey, s1LatestByKeySql),
    QuerySpec("q_c1_date_arith", c1DateArith, c1DateArithSql),
    QuerySpec("q_c12_regex", c12Regex, c12RegexSql),
    QuerySpec("q_c13_classify", c13Classify, c13ClassifySql),
    QuerySpec("q_c15_json", c15Json, c15JsonSql),
    QuerySpec("q_z1_zorder", z1ZOrder, z1ZOrderSql)
  )
}
