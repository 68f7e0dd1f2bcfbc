package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sketches, TextOps}

/** Sketch-based estimation queries: KMV distinct-count and Count-Min
  * frequency. Both sketches use the portable 60-bit md5 hash, so the
  * DuckDB oracle recomputes the sketch content bit-for-bit and the
  * ESTIMATES (not just the exact sides) hash-match across engines —
  * the determinism a reproducible 100 TB pipeline needs.
  */
object SketchQueries {
  import QuerySpec.Q

  // ---- K1: KMV distinct sketch ----------------------------------------

  /** K1: distinct (user, day) combinations per event_type, exact AND
    * via a k=64 KMV sketch. The sketch column is a real mergeable
    * aggregate (fixed 512-byte state per group, partial-merged
    * map-side); the exact count rides along for error visibility. The
    * estimator arithmetic stays in exactly-representable doubles so
    * both engines produce the identical bits.
    */
  private val K = 64
  val k1Kmv: Q = (s, d) => {
    val kmv = Sketches.kmvSketch(K)
    Tables.events(s, d)
      .select(col("event_type"),
        TextOps.hash60(concat(col("user_id").cast("string"), lit(":"),
          date_format(col("ts"), "yyyy-MM-dd"))).as("h"))
      .groupBy("event_type")
      .agg(countDistinct(col("h")).as("n_exact"), kmv(col("h")).as("sk"))
      .select(col("event_type"), col("n_exact"),
        Sketches.kmvThreshold(col("sk"), K).as("kth_min"),
        Sketches.kmvEstimate(col("sk"), K).as("est_distinct"))
      .orderBy("event_type")
  }
  val k1KmvSql: String = {
    val h = TextOps.hash60Sql(
      "CAST(user_id AS VARCHAR)||':'||strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')")
    s"""WITH e AS (SELECT event_type, $h AS h FROM events),
       |d AS (SELECT DISTINCT event_type, h FROM e),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |        COUNT(*) OVER (PARTITION BY event_type) AS nd
       |      FROM d)
       |SELECT event_type, MAX(nd) AS n_exact,
       |  MAX(CASE WHEN rn = $K THEN h END) AS kth_min,
       |  CASE WHEN MAX(nd) < $K THEN CAST(MAX(nd) AS DOUBLE)
       |       ELSE ${K - 1}.0 * 1152921504606846976 / MAX(CASE WHEN rn = $K THEN h END)
       |  END AS est_distinct
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---- K2: Count-Min frequency sketch ----------------------------------

  /** K2: estimated vs exact counts for the exact top-20 corpus terms,
    * through a depth-4 × width-1024 Count-Min cell table. The cell
    * table is ≤ 4096 rows regardless of corpus size and is broadcast
    * for the probe join; estimates never undercount (CMS guarantee —
    * spec-asserted, and visible in the driver compare since the oracle
    * reproduces the identical cells).
    */
  private val Depth = 4
  private val Width = 1024
  val k2Cms: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("tok"))
      .select(lower(col("tok")).as("term"))
    // ONE tokenize + ONE keyed exchange: the per-term counts feed the
    // exact top-20, the cell table (weighted form — the seed explode
    // runs over the vocabulary, not the token stream), and the probe
    // join. Checkpointed because three consumers would otherwise each
    // re-tokenize the corpus; the frame is vocabulary-sized.
    val termCounts = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint(true)
    val exact = termCounts.orderBy(col("exact_cnt").desc, col("term")).limit(20)
    val cells = Sketches.cmsCellsWeighted(
      termCounts, col("term"), col("exact_cnt"), Depth, Width)
    Sketches.cmsEstimate(cells, exact.select("term"), Depth, Width)
      .join(exact, "term")
      .select(col("term"), col("exact_cnt"), col("est_cnt"))
      .orderBy(col("exact_cnt").desc, col("term"))
  }
  val k2CmsSql: String =
    s"""WITH toks AS (
       |  SELECT lower(tok) AS term
       |  FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS tok FROM documents)),
       |exact AS (
       |  SELECT term, COUNT(*) AS exact_cnt FROM toks GROUP BY 1
       |  ORDER BY exact_cnt DESC, term LIMIT 20),
       |cells AS (
       |${Sketches.cmsCellsSql("toks", Depth, Width)}),
       |probes AS (
       |  SELECT t.term, s.seed,
       |         ${TextOps.seededHash60Sql("s.seed", "t.term")} % $Width AS cell
       |  FROM exact t CROSS JOIN (SELECT unnest(generate_series(0, ${Depth - 1})) AS seed) s),
       |est AS (
       |  SELECT p.term, MIN(c.cnt) AS est_cnt
       |  FROM probes p JOIN cells c ON c.seed = p.seed AND c.cell = p.cell
       |  GROUP BY 1)
       |SELECT e.term, e.exact_cnt, est.est_cnt
       |FROM exact e JOIN est ON est.term = e.term
       |ORDER BY e.exact_cnt DESC, e.term""".stripMargin

  // ---- K5: Count-Min merge algebra -------------------------------------

  /** K5: CMS MERGE — each source builds its own depth×width cell table
    * (the per-shard sketch); the global sketch is their CELL-WISE SUM.
    * The oracle computes the single-pass global cells directly, so the
    * gate PROVES merge(shard sketches) == sketch(all) — the property
    * that lets 1000 executors sketch locally and ship 4096-row tables
    * instead of term streams. Same hash family and dimensions as K2.
    */
  val k5CmsMerge: Q = (s, d) => {
    // Pre-count per (source, term) — one keyed exchange over the token
    // stream — then the seed explode and hashing run per-source over
    // the vocabulary only (same cells, depth× fewer hashed rows).
    val perSourceCounts = Tables.documents(s, d)
      .select(col("source"),
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("tok"))
      .select(col("source"), lower(col("tok")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tc"))
    val perSource = perSourceCounts
      .select(col("source"),
        explode(array((0 until Depth).map(lit): _*)).as("seed"),
        col("term"), col("tc"))
      .select(col("source"), col("seed"),
        pmod(TextOps.seededHash60(col("seed"), col("term")), lit(Width.toLong)).as("cell"),
        col("tc"))
      .groupBy("source", "seed", "cell")
      .agg(sum(col("tc")).as("cnt"))
    perSource
      .groupBy("seed", "cell")
      .agg(sum(col("cnt")).as("cnt"))
      .orderBy("seed", "cell")
  }
  val k5CmsMergeSql: String =
    s"""WITH toks AS (
       |  SELECT lower(tok) AS term
       |  FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS tok FROM documents)),
       |cells AS (
       |${Sketches.cmsCellsSql("toks", Depth, Width)})
       |SELECT seed, cell, cnt FROM cells ORDER BY seed, cell""".stripMargin

  // ---- K3: KMV sketch union (merge algebra) ---------------------------

  /** K3: sketch MERGE — per-source KMV sketches unioned into one global
    * sketch, against the exact global distinct. This is the 100 TB
    * pattern the sketch exists for: every shard summarizes locally
    * (fixed k-long state), only sketches travel, and the combined
    * estimate is computed without ever shuffling the key universe.
    * Bottom-k of a union equals bottom-k of the per-source bottom-ks
    * (each global minimum is a minimum within its own source), so the
    * merged sketch — and therefore the ESTIMATE — is provably identical
    * to sketching the whole corpus at once; the oracle recomputes
    * exactly that union-of-bottom-ks.
    */
  val k3KmvUnion: Q = (s, d) => {
    val kmv = Sketches.kmvSketch(K)
    val hashes = Tables.documents(s, d)
      .select(col("source"), TextOps.hash60(col("text")).as("h"))
    val perSource = hashes.groupBy("source").agg(kmv(col("h")).as("sk"))
    val unioned = perSource
      .select(explode(col("sk")).as("h"))
      .agg(count(lit(1)).as("n_candidates"), kmv(col("h")).as("sk"))
    val exact = hashes.agg(
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("h")).as("n_exact"))
    exact.crossJoin(broadcast(unioned))
      .select(col("n_sources"), col("n_exact"), col("n_candidates"),
        Sketches.kmvThreshold(col("sk"), K).as("kth_min"),
        Sketches.kmvEstimate(col("sk"), K).as("est_distinct"))
  }
  val k3KmvUnionSql: String = {
    val h = TextOps.hash60Sql("text")
    s"""WITH e AS (SELECT source, $h AS h FROM documents),
       |d AS (SELECT DISTINCT source, h FROM e),
       |r AS (SELECT source, h,
       |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |      FROM d),
       |cand AS (SELECT h FROM r WHERE rn <= $K),
       |u AS (SELECT DISTINCT h FROM cand),
       |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
       |         COUNT(*) OVER () AS nu
       |       FROM u),
       |g AS (SELECT COUNT(DISTINCT source) AS n_sources,
       |        COUNT(DISTINCT h) AS n_exact,
       |        (SELECT COUNT(*) FROM cand) AS n_candidates
       |      FROM e)
       |SELECT g.n_sources, g.n_exact, g.n_candidates,
       |  MAX(CASE WHEN ur.rn = $K THEN ur.h END) AS kth_min,
       |  CASE WHEN MAX(ur.nu) < $K THEN CAST(MAX(ur.nu) AS DOUBLE)
       |       ELSE ${K - 1}.0 * 1152921504606846976 / MAX(CASE WHEN ur.rn = $K THEN ur.h END)
       |  END AS est_distinct
       |FROM ur, g GROUP BY g.n_sources, g.n_exact, g.n_candidates""".stripMargin
  }

  // ---- K4: HyperLogLog registers + raw estimator ----------------------

  /** K4: per-event-type HLL over the same (user, day) stream as K1 —
    * the full 64-register table (absent buckets zero-filled) plus the
    * raw estimator and zero-register count. Registers AND estimate
    * hash-match the oracle because the rank uses the binary-string msb
    * (integer-exact) and the estimator's only float ops are one
    * constant product and one division (see Sketches.hllRegisters/
    * hllEstimate). Duplicate (user, day) activity needs no pre-
    * distinct: re-inserting a hash can't raise a register's max.
    */
  private val P = 6
  val k4Hll: Q = (s, d) => {
    val src = Tables.events(s, d)
      .select(col("event_type"),
        TextOps.hash60(concat(col("user_id").cast("string"), lit(":"),
          date_format(col("ts"), "yyyy-MM-dd"))).as("h"))
    val regs = Sketches.hllRegisters(src, Seq("event_type"), col("h"), P)
    val est = Sketches.hllEstimate(regs, Seq("event_type"), P)
    regs.join(broadcast(est), "event_type")
      .select(col("event_type"), col("bucket"), col("r"), col("n_zero"),
        col("est_raw"))
      .orderBy("event_type", "bucket")
  }
  val k4HllSql: String = {
    val h = TextOps.hash60Sql(
      "CAST(user_id AS VARCHAR)||':'||strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')")
    s"""WITH src AS (SELECT event_type, $h AS h FROM events),
       |${Sketches.hllRegistersSql("src", "event_type", P)},
       |est AS (
       |${Sketches.hllEstimateSql("event_type", P)})
       |SELECT f.event_type, f.bucket, f.r, est.n_zero, est.est_raw
       |FROM filled f JOIN est USING (event_type)
       |ORDER BY event_type, bucket""".stripMargin
  }

  // ---- K6: mergeable quantile sketch (bottom-k sample) ----------------

  /** K6: per-event-type QUANTILE SKETCH — the k=64 bottom-k-by-row-hash
    * (h, value) sample, built the way a 1000-executor job would: one
    * sketch per (event_type, day) shard, then the shard sketches
    * MERGED into the global state (bottom-k of the per-shard bottom-ks
    * == bottom-k of the union — see Sketches.BottomKAgg). The oracle
    * computes the single-pass global bottom-k directly, so the
    * hash-match PROVES merge(shard sketches) == sketch(all), cell by
    * cell. p50/p90/p99 estimates are integer-rank selections
    * (ceil(p·m/100), no interpolation — the selected value is a raw
    * input double, bit-portable) from the sample, with the exact
    * percentiles riding along for error visibility, k1-style.
    * Reference percentile math this replaces at scale:
    * queries/volume.py:75,126-128 (exact in-db quantile calls).
    */
  private val QK = 64
  val k6Quantile: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bk = Sketches.bottomKSketch(QK)
    val src = Tables.events(s, d).select(
      col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("shard"),
      TextOps.hash60(col("event_id").cast("string")).as("h"),
      col("value").as("v"))
    val perShard = src.groupBy("event_type", "shard")
      .agg(bk(col("h"), col("v")).as("sk"))
    val global = perShard
      .select(col("event_type"), explode(col("sk")).as("c"))
      .select(col("event_type"), col("c._1").as("h"), col("c._2").as("v"))
      .groupBy("event_type")
      .agg(bk(col("h"), col("v")).as("sk"))
    val cells = global
      .select(col("event_type"), posexplode(col("sk")).as(Seq("pos", "c")))
      .select(col("event_type"), (col("pos") + 1).as("rn"),
        col("c._1").as("h"), col("c._2").as("v"))
    val m = cells.groupBy("event_type").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("event_type").orderBy(col("v"), col("h"))
    val est = cells.join(broadcast(m), "event_type")
      .withColumn("rnv", row_number().over(wv))
      .groupBy("event_type")
      .agg(
        max(when(col("rnv") === expr("(50*m+99) div 100"), col("v"))).as("p50_est"),
        max(when(col("rnv") === expr("(90*m+99) div 100"), col("v"))).as("p90_est"),
        max(when(col("rnv") === expr("(99*m+99) div 100"), col("v"))).as("p99_est"))
    val n = src.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    // Exact side (gate visibility only — at scale this is the query the
    // sketch replaces): same rank selection over the full data.
    val exact = src.join(broadcast(n), "event_type")
      .withColumn("rnv", row_number().over(wv))
      .groupBy("event_type")
      .agg(
        max(when(col("rnv") === expr("(50*n_exact+99) div 100"), col("v"))).as("p50_exact"),
        max(when(col("rnv") === expr("(90*n_exact+99) div 100"), col("v"))).as("p90_exact"),
        max(when(col("rnv") === expr("(99*n_exact+99) div 100"), col("v"))).as("p99_exact"))
    cells
      .join(broadcast(n), "event_type").join(broadcast(m), "event_type")
      .join(broadcast(est), "event_type").join(broadcast(exact), "event_type")
      .select(col("event_type"), col("rn"), col("h"), col("v"),
        col("n_exact"), col("m"),
        col("p50_est"), col("p90_est"), col("p99_est"),
        col("p50_exact"), col("p90_exact"), col("p99_exact"))
      .orderBy("event_type", "rn")
  }
  val k6QuantileSql: String = {
    val h = TextOps.hash60Sql("CAST(event_id AS VARCHAR)")
    s"""WITH e AS (SELECT event_type, $h AS h, "value" AS v FROM events),
       |g AS (SELECT event_type, COUNT(*) AS n_exact FROM e GROUP BY 1),
       |r AS (SELECT event_type, h, v,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rn
       |      FROM e),
       |sk AS (SELECT * FROM r WHERE rn <= $QK),
       |sm AS (SELECT event_type, COUNT(*) AS m FROM sk GROUP BY 1),
       |sv AS (SELECT event_type, v,
       |         row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rnv
       |       FROM sk),
       |est AS (
       |  SELECT sv.event_type,
       |    MAX(CASE WHEN rnv = (50*m+99)//100 THEN v END) AS p50_est,
       |    MAX(CASE WHEN rnv = (90*m+99)//100 THEN v END) AS p90_est,
       |    MAX(CASE WHEN rnv = (99*m+99)//100 THEN v END) AS p99_est
       |  FROM sv JOIN sm ON sm.event_type = sv.event_type GROUP BY 1),
       |xv AS (SELECT event_type, v,
       |         row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rnv
       |       FROM e),
       |ex AS (
       |  SELECT xv.event_type,
       |    MAX(CASE WHEN rnv = (50*n_exact+99)//100 THEN v END) AS p50_exact,
       |    MAX(CASE WHEN rnv = (90*n_exact+99)//100 THEN v END) AS p90_exact,
       |    MAX(CASE WHEN rnv = (99*n_exact+99)//100 THEN v END) AS p99_exact
       |  FROM xv JOIN g ON g.event_type = xv.event_type GROUP BY 1)
       |SELECT sk.event_type, CAST(sk.rn AS INTEGER) AS rn, sk.h, sk.v,
       |  g.n_exact, sm.m,
       |  est.p50_est, est.p90_est, est.p99_est,
       |  ex.p50_exact, ex.p90_exact, ex.p99_exact
       |FROM sk
       |JOIN g ON g.event_type = sk.event_type
       |JOIN sm ON sm.event_type = sk.event_type
       |JOIN est ON est.event_type = sk.event_type
       |JOIN ex ON ex.event_type = sk.event_type
       |ORDER BY sk.event_type, rn""".stripMargin
  }

  // ---- K7: heavy hitters (mergeable top-k frequency summary) -----------

  /** K7: HEAVY HITTERS from per-shard summaries — shards are the
    * document sources; each keeps its exact top-m=10 term list + m-th
    * count threshold; the merged bounds bracket every candidate's true
    * global count (lb ≤ true ≤ ub, and nothing above Σ thresholds can
    * be missed — see Sketches.hhShardSummaries). Top-15 extraction by
    * lower bound, with the exact global count riding along k1-style:
    * the gate proves summaries, thresholds, bounds AND the extraction
    * cut replay identically in a second engine. This is the mergeable
    * answer to q_t9's exact groupBy+rank at 100 TB: shard summaries
    * are m rows each; only summaries travel.
    */
  private val HHm = 10
  private val HHk = 15
  val k7HeavyHitters: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("tok"))
      .select(col("source"), lower(col("tok")).as("term"))
    val summ = Sketches.hhShardSummaries(toks, col("source"), col("term"), HHm)
    val thr = Sketches.hhThresholds(summ, HHm)
    val bounds = Sketches.hhMergedBounds(summ, thr)
    val thrTotal = thr.agg(sum(col("thr")).as("thr_total"))
    val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
    val w = Window.orderBy(col("lb").desc, col("term"))
    bounds.join(exact, "term")
      .crossJoin(broadcast(thrTotal))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= HHk)
      .select(col("term"), col("lb"), col("ub"), col("exact_cnt"), col("thr_total"))
      .orderBy(col("lb").desc, col("term"))
  }
  val k7HeavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT source AS shard, lower(tok) AS term
       |  FROM (SELECT source, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS tok
       |        FROM documents)),
       |counts AS (SELECT shard, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
       |summ AS (
       |  SELECT * FROM (
       |    SELECT shard, term, cnt,
       |      row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, term) AS rn
       |    FROM counts)
       |  WHERE rn <= $HHm),
       |thr AS (
       |  SELECT shard,
       |    CASE WHEN MAX(rn) < $HHm THEN 0 ELSE MIN(cnt) END AS thr
       |  FROM summ GROUP BY 1),
       |cands AS (SELECT DISTINCT term FROM summ),
       |grid AS (SELECT c.term, t.shard, t.thr FROM cands c CROSS JOIN thr t),
       |b AS (
       |  SELECT g.term,
       |    CAST(SUM(COALESCE(s.cnt, 0)) AS BIGINT) AS lb,
       |    CAST(SUM(COALESCE(s.cnt, 0)) +
       |         SUM(CASE WHEN s.cnt IS NULL THEN g.thr ELSE 0 END) AS BIGINT) AS ub
       |  FROM grid g LEFT JOIN summ s ON s.shard = g.shard AND s.term = g.term
       |  GROUP BY 1),
       |tt AS (SELECT CAST(SUM(thr) AS BIGINT) AS thr_total FROM thr),
       |exact AS (SELECT term, COUNT(*) AS exact_cnt FROM toks GROUP BY 1),
       |ranked AS (
       |  SELECT b.term, b.lb, b.ub, e.exact_cnt,
       |    row_number() OVER (ORDER BY b.lb DESC, b.term) AS rk
       |  FROM b JOIN exact e ON e.term = b.term)
       |SELECT term, lb, ub, exact_cnt, (SELECT thr_total FROM tt) AS thr_total
       |FROM ranked WHERE rk <= $HHk
       |ORDER BY lb DESC, term""".stripMargin

  // ---- K8: sketch table as a materialized, mergeable rollup ------------

  /** K8: the STORED form of the sketch algebra — per-day KMV sketches
    * of distinct users (one k-long array per day: the materialized
    * sketch table an ingest pipeline persists, reference's
    * daily_symbol_counts matview lifted to mergeable state), rolled up
    * to WEEKLY distinct-user estimates by merging the day sketches —
    * the raw event stream is never rescanned for the coarser grain,
    * and appending a day extends the table without touching history.
    * Bottom-k of the per-day bottom-ks == bottom-k of the week
    * (every weekly minimum is a minimum within its own day), so the
    * rollup estimate is identical to sketching the week directly —
    * the oracle replays exactly that two-level construction, and the
    * exact weekly distinct rides along k1-style.
    */
  val k8SketchRollup: Q = (s, d) => {
    val kmv = Sketches.kmvSketch(K)
    val src = Tables.events(s, d).select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      TextOps.hash60(col("user_id").cast("string")).as("h"))
    // the stored per-day sketch table (grain: one row per day)
    val perDay = src.groupBy("week", "day").agg(kmv(col("h")).as("sk"))
    // weekly rollup FROM SKETCHES ONLY
    val weekly = perDay
      .select(col("week"), explode(col("sk")).as("h"))
      .groupBy("week").agg(count(lit(1)).as("n_candidates"), kmv(col("h")).as("sk"))
    val exact = src.groupBy("week").agg(countDistinct(col("h")).as("n_exact"))
    weekly.join(exact, "week")
      .select(col("week"), col("n_exact"), col("n_candidates"),
        Sketches.kmvThreshold(col("sk"), K).as("kth_min"),
        Sketches.kmvEstimate(col("sk"), K).as("est_distinct"))
      .orderBy("week")
  }
  val k8SketchRollupSql: String = {
    val h = TextOps.hash60Sql("CAST(user_id AS VARCHAR)")
    s"""WITH e AS (
       |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |         strftime(date_trunc('week', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS week,
       |         $h AS h
       |  FROM events),
       |dd AS (SELECT DISTINCT week, day, h FROM e),
       |rd AS (SELECT week, day, h,
       |         row_number() OVER (PARTITION BY day ORDER BY h) AS rn
       |       FROM dd),
       |cand AS (SELECT week, h, COUNT(*) AS dup FROM rd WHERE rn <= $K GROUP BY 1, 2),
       |nc AS (SELECT week, CAST(SUM(dup) AS BIGINT) AS n_candidates FROM cand GROUP BY 1),
       |rw AS (SELECT week, h,
       |         row_number() OVER (PARTITION BY week ORDER BY h) AS rn,
       |         COUNT(*) OVER (PARTITION BY week) AS nu
       |       FROM cand),
       |g AS (SELECT week, COUNT(DISTINCT h) AS n_exact FROM e GROUP BY 1)
       |SELECT g.week, g.n_exact, nc.n_candidates,
       |  MAX(CASE WHEN rw.rn = $K THEN rw.h END) AS kth_min,
       |  CASE WHEN MAX(rw.nu) < $K THEN CAST(MAX(rw.nu) AS DOUBLE)
       |       ELSE ${K - 1}.0 * 1152921504606846976 / MAX(CASE WHEN rw.rn = $K THEN rw.h END)
       |  END AS est_distinct
       |FROM rw JOIN g ON g.week = rw.week JOIN nc ON nc.week = rw.week
       |GROUP BY g.week, g.n_exact, nc.n_candidates
       |ORDER BY g.week""".stripMargin
  }

  // ---- registry ---------------------------------------------------------

  // ---- K9: sliding-window sketch merge --------------------------------

  /** K9: 7-day sliding distinct users per day, answered FROM THE
    * SKETCHES — per-day HLL registers (the k4 state) merged across the
    * date window by a register-wise MAX, then estimated per day. The
    * corpus collapses to 64 registers per day map-side, so the window
    * operator runs over sketch cells, not events: this is the
    * composability payoff of a mergeable-state algebra (k3/k5/k8
    * proved spatial merges; this is the temporal one). The exact
    * sliding COUNT(DISTINCT) — which cannot decompose and re-scans
    * every 7-day window at full width (q_w9's shape) — rides along as
    * the estimator contract, k1-style.
    */
  val k9HllWindow: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val src = Tables.events(s, d).select(
      to_date(col("ts")).as("day"),
      TextOps.hash60(col("user_id").cast("string")).as("h"))
    val regs = Sketches.hllRegisters(src, Seq("day"), col("h"), P)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("day_num")).rangeBetween(-6, 0)
    val merged = regs
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
      .withColumn("rm", max(col("r")).over(w))
      .select(col("day"), col("bucket"), col("rm").as("r"))
    val est = Sketches.hllEstimate(merged, Seq("day"), P)
    val exact = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"),
        col("user_id"))
      .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, est("day") === exact("wday"), "inner")
      .select(Queries.dstr(est("day")).as("window_end"),
        col("n_zero"), col("est_raw"), col("n_exact"))
      .orderBy("window_end")
  }
  val k9HllWindowSql: String = {
    val h = TextOps.hash60Sql("CAST(user_id AS VARCHAR)")
    s"""WITH src AS (SELECT CAST(ts AS DATE) AS day, $h AS h FROM events),
       |${Sketches.hllRegistersSql("src", "day", P)},
       |merged AS (
       |  SELECT d.day, f.bucket, MAX(f.r) AS r
       |  FROM (SELECT DISTINCT day FROM filled) d
       |  JOIN filled f ON f.day BETWEEN d.day - 6 AND d.day
       |  GROUP BY 1, 2),
       |est AS (
       |${Sketches.hllEstimateSql("day", P, from = "merged")}),
       |du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |ex AS (
       |  SELECT d.day, COUNT(DISTINCT du.user_id) AS n_exact
       |  FROM (SELECT DISTINCT day FROM du) d
       |  JOIN du ON du.day BETWEEN d.day - 6 AND d.day
       |  GROUP BY 1)
       |SELECT strftime(e.day, '%Y-%m-%d') AS window_end,
       |  e.n_zero, e.est_raw, ex.n_exact
       |FROM est e JOIN ex ON ex.day = e.day
       |ORDER BY window_end""".stripMargin
  }

  // ---- K10: sliding-window quantile sketch ----------------------------

  /** K10: 7-day sliding p50/p90/p99 of event values, answered FROM the
    * per-day bottom-k quantile sketches (k6's state) — k9's temporal
    * merge applied to the quantile member of the algebra: bottom-k of
    * the per-day bottom-ks over a window == bottom-k of the window's
    * union (order-insensitive multiset, the k6 merge theorem), so the
    * oracle can state the sketch directly off the raw window. Rank
    * selections are k6's integer formulas — no interpolation, every
    * selected value a raw input double. Each day contributes one
    * 64-pair buffer to the window merge regardless of day size.
    */
  val k10QuantileWindow: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bk = Sketches.bottomKSketch(QK)
    val src = Tables.events(s, d).select(
      to_date(col("ts")).as("day"),
      TextOps.hash60(col("event_id").cast("string")).as("h"),
      col("value").as("v"))
    val perDay = src.groupBy("day").agg(bk(col("h"), col("v")).as("sk"))
    val days = perDay.select(col("day").as("wend"))
    val merged = perDay
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("wend"),
        col("sk"))
      .join(days, Seq("wend"), "left_semi")
      .select(col("wend"), explode(col("sk")).as("c"))
      .select(col("wend"), col("c._1").as("h"), col("c._2").as("v"))
      .groupBy("wend").agg(bk(col("h"), col("v")).as("sk"))
    val cells = merged
      .select(col("wend"), explode(col("sk")).as("c"))
      .select(col("wend"), col("c._1").as("h"), col("c._2").as("v"))
    val m = cells.groupBy("wend").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("wend").orderBy(col("v"), col("h"))
    cells.join(broadcast(m), "wend")
      .withColumn("rnv", row_number().over(wv))
      .groupBy("wend")
      .agg(max(col("m")).as("m"),
        max(when(col("rnv") === expr("(50*m+99) div 100"), col("v"))).as("p50_est"),
        max(when(col("rnv") === expr("(90*m+99) div 100"), col("v"))).as("p90_est"),
        max(when(col("rnv") === expr("(99*m+99) div 100"), col("v"))).as("p99_est"))
      .select(Queries.dstr(col("wend")).as("window_end"),
        col("m"), col("p50_est"), col("p90_est"), col("p99_est"))
      .orderBy("window_end")
  }
  val k10QuantileWindowSql: String = {
    val h = TextOps.hash60Sql("CAST(event_id AS VARCHAR)")
    s"""WITH src AS (
       |  SELECT CAST(ts AS DATE) AS day, $h AS h, value AS v FROM events),
       |days AS (SELECT DISTINCT day FROM src),
       |win AS (
       |  SELECT d.day AS wend, s.h, s.v
       |  FROM days d JOIN src s ON s.day BETWEEN d.day - 6 AND d.day),
       |r AS (
       |  SELECT wend, h, v,
       |    row_number() OVER (PARTITION BY wend ORDER BY h, v) AS rn
       |  FROM win),
       |sk AS (SELECT wend, h, v FROM r WHERE rn <= $QK),
       |m AS (SELECT wend, COUNT(*) AS m FROM sk GROUP BY 1),
       |rv AS (
       |  SELECT sk.wend, sk.v, m.m,
       |    row_number() OVER (PARTITION BY sk.wend ORDER BY sk.v, sk.h) AS rnv
       |  FROM sk JOIN m USING (wend))
       |SELECT strftime(wend, '%Y-%m-%d') AS window_end,
       |  CAST(MAX(m) AS BIGINT) AS m,
       |  MAX(CASE WHEN rnv = (50*m+99) // 100 THEN v END) AS p50_est,
       |  MAX(CASE WHEN rnv = (90*m+99) // 100 THEN v END) AS p90_est,
       |  MAX(CASE WHEN rnv = (99*m+99) // 100 THEN v END) AS p99_est
       |FROM rv GROUP BY wend ORDER BY window_end""".stripMargin
  }

  /** K11: JOIN-SIZE / overlap estimation from two KMV sketches — the
    * planner trick behind "should this join broadcast?": estimate
    * |A ∩ B| of the click-user and purchase-user key sets from two
    * 64-minimum sketches, without joining the full sets. Standard KMV
    * intersection: take the bottom-k of the sketch UNION (threshold θ =
    * its max), count members present in BOTH sketches (n_match); then
    * Jaccard ≈ n_match/k and |A∩B| ≈ n_match·(k−1)·2^60/(k·θ). The
    * exact intersection rides along as the estimator contract (the
    * q_d10/q_k1 pattern: gate the ESTIMATE's algebra exactly, report
    * the truth next to it). When the merged sketch is not full the
    * sketches are lossless and the "estimate" is exact by construction.
    *
    * Scale shape: each side collapses to one 64-long array map-side
    * (the KMV aggregator); everything after is arithmetic on two 1-row
    * frames. The exact-intersection contract column is the only part
    * that touches the full key sets — at production scale it is the
    * quantity being AVOIDED, not computed.
    */
  val k11JoinSize: Q = (s, d) => {
    val kmv = Sketches.kmvSketch(K)
    def side(tp: String) =
      Tables.events(s, d).filter(col("event_type") === tp)
        .select(TextOps.hash60(col("user_id").cast("string")).as("h")).distinct()
    val sa = side("click").agg(kmv(col("h")).as("sa"),
      count(lit(1)).as("n_a"))
    val sb = side("purchase").agg(kmv(col("h")).as("sb"),
      count(lit(1)).as("n_b"))
    val ex = side("click").join(side("purchase"), Seq("h"))
      .agg(count(lit(1)).as("n_inter_exact"))
    sa.crossJoin(sb).crossJoin(ex)
      .withColumn("mk", expr(s"slice(array_sort(array_union(sa, sb)), 1, $K)"))
      .withColumn("theta", expr("element_at(mk, size(mk))"))
      .withColumn("n_match", expr(
        "size(filter(mk, x -> array_contains(sa, x) AND array_contains(sb, x)))").cast("long"))
      .withColumn("est_union", expr(
        s"""CASE WHEN size(mk) < $K THEN CAST(size(mk) AS DOUBLE)
           |ELSE CAST(${K - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
           |     / CAST(theta AS DOUBLE) END""".stripMargin))
      .withColumn("est_inter", expr(
        s"""CASE WHEN size(mk) < $K THEN CAST(n_match AS DOUBLE)
           |ELSE CAST(n_match AS DOUBLE) * CAST(${K - 1} AS DOUBLE)
           |     * CAST(1152921504606846976 AS DOUBLE)
           |     / CAST($K AS DOUBLE) / CAST(theta AS DOUBLE) END""".stripMargin))
      .select(col("n_a"), col("n_b"), col("n_inter_exact"), col("theta"),
        col("n_match"), col("est_union"), col("est_inter"))
  }
  val k11JoinSizeSql: String = {
    val h = TextOps.hash60Sql("CAST(user_id AS VARCHAR)")
    s"""WITH ha AS (SELECT DISTINCT $h AS h FROM events WHERE event_type = 'click'),
       |hb AS (SELECT DISTINCT $h AS h FROM events WHERE event_type = 'purchase'),
       |sa AS (SELECT h FROM ha ORDER BY h LIMIT $K),
       |sb AS (SELECT h FROM hb ORDER BY h LIMIT $K),
       |u AS (SELECT h FROM sa UNION SELECT h FROM sb),
       |mk AS (SELECT h FROM u ORDER BY h LIMIT $K),
       |st AS (SELECT
       |  (SELECT COUNT(*) FROM ha) AS n_a,
       |  (SELECT COUNT(*) FROM hb) AS n_b,
       |  (SELECT COUNT(*) FROM ha JOIN hb USING (h)) AS n_inter_exact,
       |  (SELECT MAX(h) FROM mk) AS theta,
       |  (SELECT COUNT(*) FROM mk
       |   WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS n_match,
       |  (SELECT COUNT(*) FROM mk) AS msize)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_inter_exact AS BIGINT) AS n_inter_exact, theta,
       |  CAST(n_match AS BIGINT) AS n_match,
       |  CASE WHEN msize < $K THEN CAST(msize AS DOUBLE)
       |  ELSE CAST(${K - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |       / CAST(theta AS DOUBLE) END AS est_union,
       |  CASE WHEN msize < $K THEN CAST(n_match AS DOUBLE)
       |  ELSE CAST(n_match AS DOUBLE) * CAST(${K - 1} AS DOUBLE)
       |       * CAST(1152921504606846976 AS DOUBLE)
       |       / CAST($K AS DOUBLE) / CAST(theta AS DOUBLE) END AS est_inter
       |FROM st""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_k11_join_size", k11JoinSize, k11JoinSizeSql),
    QuerySpec("q_k1_kmv", k1Kmv, k1KmvSql),
    QuerySpec("q_k2_cms", k2Cms, k2CmsSql),
    QuerySpec("q_k5_cms_merge", k5CmsMerge, k5CmsMergeSql),
    QuerySpec("q_k3_kmv_union", k3KmvUnion, k3KmvUnionSql),
    QuerySpec("q_k4_hll", k4Hll, k4HllSql),
    QuerySpec("q_k6_quantile_sketch", k6Quantile, k6QuantileSql),
    QuerySpec("q_k7_heavy_hitters", k7HeavyHitters, k7HeavyHittersSql),
    QuerySpec("q_k8_sketch_rollup", k8SketchRollup, k8SketchRollupSql),
    QuerySpec("q_k9_hll_window", k9HllWindow, k9HllWindowSql),
    QuerySpec("q_k10_quantile_window", k10QuantileWindow, k10QuantileWindowSql)
  )
}
