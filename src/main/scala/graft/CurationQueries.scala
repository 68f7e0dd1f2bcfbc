package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{Concurrent, Dedup, Graph, Maintain, Sampling, Skew, TextOps, Vectors}
import graft.ops.TextOps.seededHash60Sql

/** Round-8 third-session additions — the curation/maintenance frontier:
  * incremental join-view maintenance, noisy-label audit, embedding-space
  * class separation, BM25 retrieval, the cross-source duplication
  * matrix, curriculum-ordered epoch materialization, key-skew
  * diagnostics, and neighbor-set Jaccard link prediction.
  *
  * Every query has a DuckDB oracle restating the full algebra from the
  * base parquet tables (same conventions as PipelineQueries: integral
  * `div` / `//` only on non-negative operands, BIGINT casts on every
  * DuckDB aggregate, portable md5-based hash60).
  */
object CurationQueries {
  import QuerySpec.Q

  private def cosSql(x: String, y: String): String = {
    val c = s"list_dot_product($x, $y) / (sqrt(list_dot_product($x, $x)) * sqrt(list_dot_product($y, $y)))"
    s"(CASE WHEN isnan($c) THEN -1.0 ELSE $c END)"
  }

  // ---- S9: incremental join-view maintenance --------------------------

  /** S9: a materialized orders⋈lineitem view kept current by the delta
    * algebra ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB ([[Maintain.incrJoinView]]) —
    * the oracle is simply the FULL join: the incremental path must be
    * row-identical to recomputing from scratch. Delta membership is a
    * deterministic key split (orders: o_orderkey%13, lineitem:
    * l_partkey%11) so all four terms are non-empty at any SF.
    */
  val s9IncrJoinView: Q = (s, d) => {
    val a = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
    val join = (x: DataFrame, y: DataFrame) =>
      x.join(y, col("o_orderkey") === col("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          Queries.dstr(col("o_orderdate")).as("o_day"), col("l_quantity"))
    val baseA = a.filter(col("o_orderkey") % 13 =!= 0)
    val deltaA = a.filter(col("o_orderkey") % 13 === 0)
    val baseB = b.filter(col("l_partkey") % 11 =!= 0)
    val deltaB = b.filter(col("l_partkey") % 11 === 0)
    Maintain.incrJoinView(join(baseA, baseB), baseA, baseB, deltaA, deltaB, join)
      .orderBy("l_orderkey", "l_linenumber")
  }
  val s9IncrJoinViewSql: String =
    """SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS o_day, l.l_quantity
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |ORDER BY 1, 2""".stripMargin

  // ---- E17: noisy-label audit -----------------------------------------

  /** E17: k-NN label-consistency audit ([[Vectors.labelNoiseAudit]]) on
    * the vec_id%7 anchor subset, k=10 — an anchor is `noisy` when its
    * label disagrees with its neighborhood's plurality label.
    */
  val e17LabelNoise: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id".as("vid"), $"label", $"embedding".cast("array<double>").as("e"))
    val anchors = vecs.filter($"vid" % 7 === 0)
      .select($"vid".as("q_id"), $"label".as("q_label"), $"e".as("qe"))
    Vectors.labelNoiseAudit(vecs, anchors, 10).orderBy("vec_id")
  }
  val e17LabelNoiseSql: String =
    s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |a AS (SELECT vec_id AS q_id, label AS q_label, e AS qe FROM v WHERE vec_id % 7 = 0),
       |sc AS (SELECT a.q_id, a.q_label, v.vec_id, v.label AS nn_label,
       |         ${cosSql("v.e", "a.qe")} AS cos_sim
       |       FROM v CROSS JOIN a WHERE v.vec_id <> a.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, vec_id) AS rk FROM sc),
       |votes AS (SELECT q_id, q_label, nn_label, CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM r WHERE rk <= 10 GROUP BY 1, 2, 3),
       |plur AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |           ORDER BY cnt DESC, nn_label) AS prk FROM votes)
       |SELECT q_id AS vec_id, q_label AS label, nn_label AS top_label,
       |  cnt AS top_count, q_label <> nn_label AS noisy
       |FROM plur WHERE prk = 1 ORDER BY vec_id""".stripMargin

  // ---- E18: embedding-space class separation --------------------------

  /** E18: per-label intra-spread vs nearest-foreign-centroid distance
    * ([[Vectors.labelSeparation]]) on the int8-quantized grid — fully
    * integer-exact, so the report reproduces on any engine.
    */
  val e18Separation: Q = (s, d) => {
    import s.implicits._
    Vectors.labelSeparation(
        Tables.embeddings(s, d).select($"vec_id", $"label", $"embedding"),
        "vec_id", "label", "embedding")
      .orderBy("label")
  }
  val e18SeparationSql: String =
    """WITH ex AS (
      |  SELECT vec_id, pos - 1 AS pos, CAST(embedding[pos] AS DOUBLE) AS v
      |  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS pos
      |        FROM embeddings)),
      |dims AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM ex GROUP BY 1),
      |codes AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN d.hi = d.lo THEN 0
      |         ELSE CAST(FLOOR((e.v - d.lo) * 255.0 / (d.hi - d.lo) + 0.5) AS BIGINT)
      |    END AS code
      |  FROM ex e JOIN dims d USING (pos)),
      |lc AS (SELECT l.label AS lab, c.vec_id, c.pos, c.code
      |       FROM codes c JOIN embeddings l USING (vec_id)),
      |cent AS (SELECT lab, pos, CAST(SUM(code) AS BIGINT) // COUNT(*) AS c
      |         FROM lc GROUP BY 1, 2),
      |pv AS (SELECT lc.vec_id, lc.lab,
      |         CAST(SUM((lc.code - cent.c) * (lc.code - cent.c)) AS BIGINT) AS vd2
      |       FROM lc JOIN cent ON cent.lab = lc.lab AND cent.pos = lc.pos
      |       GROUP BY 1, 2),
      |intra AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |            CAST(SUM(vd2) AS BIGINT) // COUNT(*) AS intra_msd
      |          FROM pv GROUP BY 1),
      |cp AS (SELECT x.lab AS la, y.lab AS lb,
      |         CAST(SUM((x.c - y.c) * (x.c - y.c)) AS BIGINT) AS cd2
      |       FROM cent x JOIN cent y ON x.pos = y.pos AND x.lab <> y.lab
      |       GROUP BY 1, 2),
      |near AS (SELECT la, lb, cd2,
      |           row_number() OVER (PARTITION BY la ORDER BY cd2, lb) AS rk
      |         FROM cp)
      |SELECT i.lab AS label, i.n_vecs, i.intra_msd, n.lb AS nearest_label,
      |  n.cd2 AS nearest_d2, n.cd2 * 1000 // nullif(i.intra_msd, 0) AS sep_x1000
      |FROM intra i JOIN near n ON n.la = i.lab AND n.rk = 1
      |ORDER BY label""".stripMargin

  // ---- T27: BM25 ranked retrieval -------------------------------------

  /** T27: BM25 top-20 for the query {vector, spark, merge}
    * ([[TextOps.bm25Rank]]) — the log-free integer surrogate documented
    * on the operator.
    */
  val t27Bm25: Q = (s, d) => {
    import s.implicits._
    TextOps.bm25Rank(Tables.documents(s, d), "doc_id", "text",
        Seq("vector", "spark", "merge"), 20)
      .select($"id".as("doc_id"), $"score")
  }
  /** Shared BM25 score CTE (`bmscore(id, score)`) — used by the t27
    * retrieval gate and the t30 hybrid-fusion gate.
    */
  private val bm25Cte: String =
    """toks AS (
      |  SELECT id, lower(tok) AS term FROM
      |    (SELECT doc_id AS id, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS tok
      |     FROM documents)),
      |dl AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |           CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl FROM dl),
      |q AS (SELECT * FROM toks WHERE term IN ('vector', 'spark', 'merge')),
      |dfreq AS (SELECT term, CAST(COUNT(DISTINCT id) AS BIGINT) AS df FROM q GROUP BY 1),
      |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM q GROUP BY 1, 2),
      |contrib AS (
      |  SELECT tf.id,
      |    ((2 * (s.n_docs - f.df) + 1) * 1000000 // (2 * f.df + 1))
      |      * 22 * tf.tf * s.avgdl
      |      // (10 * s.avgdl * tf.tf + 3 * s.avgdl + 9 * d.dl) AS contrib
      |  FROM tf JOIN dfreq f USING (term) JOIN dl d ON d.id = tf.id CROSS JOIN scal s),
      |bmscore AS (
      |  SELECT id, CAST(SUM(contrib) AS BIGINT) AS score
      |  FROM contrib GROUP BY 1)""".stripMargin
  val t27Bm25Sql: String =
    s"""WITH $bm25Cte
       |SELECT id AS doc_id, score FROM bmscore
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---- D16: cross-source duplication matrix ---------------------------

  /** D16: which sources copy which — exact-dup pairs
    * ([[Dedup.exactPairs]]) over a corpus where every 5th document also
    * appears under a planted mirror source, folded to an unordered
    * per-source-pair count ([[Dedup.crossSourceMatrix]]). The same
    * matrix composes over MinHash/perceptual pair frames (spec-pinned).
    */
  val d16CrossSource: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id".as("id"), $"text", $"source")
    val mirror = Tables.documents(s, d).filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000).as("id"), $"text",
        concat(lit("mirror"), ($"doc_id" % 3).cast("string")).as("source"))
    val corpus = docs.unionByName(mirror)
    Dedup.crossSourceMatrix(Dedup.exactPairs(corpus, "id", "text"),
        corpus, "id", "source")
      .orderBy("src_a", "src_b")
  }
  val d16CrossSourceSql: String =
    """WITH corpus AS (
      |  SELECT doc_id AS id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS id, text,
      |    'mirror' || CAST(doc_id % 3 AS VARCHAR) AS source
      |  FROM documents WHERE doc_id % 5 = 0),
      |h AS (SELECT id, source, md5(text) AS h FROM corpus),
      |p AS (SELECT a.source AS sa, b.source AS sb
      |      FROM h a JOIN h b ON a.h = b.h AND a.id < b.id)
      |SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- P13: curriculum-ordered epochs ---------------------------------

  /** P13: two epochs of curriculum-ordered training positions
    * ([[Sampling.curriculumOrder]]): bin = length quartile-ish
    * (n_chars div 150 capped at 3), 8 shards, seeded per-epoch hash.
    */
  val p13Curriculum: Q = (s, d) => {
    Sampling.curriculumOrder(Tables.documents(s, d), "doc_id",
        expr("least(n_chars div 150, 3)"), epochs = 2, shards = 8)
      .orderBy("epoch", "shard", "pos")
  }
  val p13CurriculumSql: String =
    s"""WITH e AS (
       |  SELECT doc_id, least(n_chars // 150, 3) AS bin, ep.epoch
       |  FROM documents CROSS JOIN
       |    (SELECT unnest(generate_series(0, 1)) AS epoch) ep),
       |k AS (SELECT epoch, doc_id, bin,
       |        ${seededHash60Sql("'ep' || CAST(epoch AS VARCHAR)", "CAST(doc_id AS VARCHAR)")} AS h
       |      FROM e),
       |p AS (SELECT epoch, doc_id, bin, h % 8 AS shard, h FROM k)
       |SELECT epoch, doc_id, bin, shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |    ORDER BY bin, h, doc_id) AS BIGINT) AS pos
       |FROM p ORDER BY epoch, shard, pos""".stripMargin

  // ---- V7: key-skew diagnostics ---------------------------------------

  /** V7: [[Skew.keySkewReport]] over three prospective shuffle keys —
    * the measurement that justifies (or spares) a salted join.
    */
  val v7SkewReport: Q = (s, d) => {
    Skew.keySkewReport(Tables.events(s, d), "user_id", "events.user_id")
      .unionByName(Skew.keySkewReport(Tables.events(s, d), "event_type", "events.event_type"))
      .unionByName(Skew.keySkewReport(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey"))
      .orderBy("key_col")
  }
  private def skewSql(table: String, key: String, label: String): String =
    s"""SELECT '$label' AS key_col, n_rows, n_keys, max_cnt,
       |  CAST(CAST(max_cnt AS HUGEINT) * 1000000 // n_rows AS BIGINT) AS top_share_ppm,
       |  CAST(CAST(max_cnt AS HUGEINT) * 1000 * n_keys // n_rows AS BIGINT) AS skew_x1000,
       |  (CAST(max_cnt AS HUGEINT) * 1000 * n_keys // n_rows) > 5000 AS salt_advised
       |FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
       |        CAST(COUNT(*) AS BIGINT) AS n_keys,
       |        CAST(MAX(cnt) AS BIGINT) AS max_cnt
       |      FROM (SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY 1))""".stripMargin
  val v7SkewReportSql: String =
    Seq(skewSql("events", "user_id", "events.user_id"),
      skewSql("events", "event_type", "events.event_type"),
      skewSql("lineitem", "l_orderkey", "lineitem.l_orderkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")

  // ---- G12: neighbor-set Jaccard --------------------------------------

  /** G12: "related parts" by order-set Jaccard
    * ([[Graph.neighborJaccard]]) over the order↔part incidence — top 50
    * pairs; candidates only from co-attachment, never corpus². The
    * hot-key cutoff (`maxList = 1000`) is passed explicitly and
    * MIRRORED in the oracle's `keys` CTE, so engine and oracle state
    * the same contract — on TPC-H the cutoff never fires (≤ 7 parts
    * per order) but the gate stays honest on any skewed incidence.
    */
  val g12JaccardNeighbors: Q = (s, d) => {
    Graph.neighborJaccard(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        minJaccard1e6 = 0, maxList = 1000)
      .orderBy(col("jaccard_1e6").desc, col("a"), col("b")).limit(50)
  }
  val g12JaccardNeighborsSql: String =
    """WITH inc AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS node FROM lineitem),
      |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM inc GROUP BY 1),
      |keys AS (SELECT k FROM inc GROUP BY k HAVING COUNT(*) <= 1000),
      |co AS (SELECT x.node AS a, y.node AS b, CAST(COUNT(*) AS BIGINT) AS co
      |       FROM inc x JOIN keys USING (k) JOIN inc y ON x.k = y.k AND x.node < y.node
      |       GROUP BY 1, 2),
      |j AS (SELECT co.a, co.b, co.co, da.deg AS deg_a, db.deg AS deg_b,
      |        co.co * 1000000 // (da.deg + db.deg - co.co) AS jaccard_1e6
      |      FROM co JOIN deg da ON da.node = co.a JOIN deg db ON db.node = co.b)
      |SELECT a, b, co, deg_a, deg_b, jaccard_1e6 FROM j
      |ORDER BY jaccard_1e6 DESC, a, b LIMIT 50""".stripMargin

  // ---- T28: tokenizer fertility ---------------------------------------

  /** T28: tokenizer-evaluation metrics per language under the LEARNED
    * BPE merges (q_t16/q_t17's vocabulary): fertility (pieces per
    * word ×1000) and compression (chars per piece ×1000) — the numbers
    * that decide whether a tokenizer suits a language mix. Rides
    * q_t17's word→pieces frame (vocabulary-bounded), joined to per-
    * (lang, word) occurrence counts; all ratios integral `div`.
    */
  val t28Fertility: Q = (s, d) => {
    import s.implicits._
    val wp = PipelineQueries.t17BpeEncode(s, d).select($"w", $"n_pieces")
    Tables.documents(s, d)
      .select($"lang", explode(split(lower($"text"), "\\s+")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"lang", $"w").agg(count(lit(1)).as("n_occ"))
      .join(wp, Seq("w"))
      .groupBy($"lang")
      .agg(sum($"n_occ").as("n_words"),
        sum($"n_occ" * $"n_pieces").as("n_pieces"),
        sum($"n_occ" * length($"w")).as("n_chars"))
      .select($"lang", $"n_words", $"n_pieces", $"n_chars",
        expr("n_pieces * 1000 div n_words").as("fertility_x1000"),
        expr("n_chars * 1000 div n_pieces").as("chars_per_piece_x1000"))
      .orderBy("lang")
  }
  val t28FertilitySql: String =
    s"""WITH ${PipelineQueries.bpeEncodeCte},
       |wp AS (SELECT w, CAST(len(seq) AS BIGINT) AS n_pieces FROM seq3),
       |dw AS (SELECT lang, w FROM (
       |         SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |         FROM documents)
       |       WHERE length(w) >= 1),
       |lw AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS n_occ FROM dw GROUP BY 1, 2),
       |agg AS (SELECT lang, CAST(SUM(n_occ) AS BIGINT) AS n_words,
       |          CAST(SUM(n_occ * wp.n_pieces) AS BIGINT) AS n_pieces,
       |          CAST(SUM(n_occ * length(w)) AS BIGINT) AS n_chars
       |        FROM lw JOIN wp USING (w) GROUP BY 1)
       |SELECT lang, n_words, n_pieces, n_chars,
       |  n_pieces * 1000 // n_words AS fertility_x1000,
       |  n_chars * 1000 // n_pieces AS chars_per_piece_x1000
       |FROM agg ORDER BY lang""".stripMargin

  // ---- E19: out-of-distribution pruning -------------------------------

  /** E19: cell-relative OOD flags ([[Vectors.cellOutliers]]) with the
    * e3 fixed-centroid convention (vec_id < 8) and margin 0.05 — the
    * "drop the weird tail" gate before training.
    */
  val e19Ood: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
    val cents = vecs.filter($"vid" < 8)
      .select($"vid".as("cid"), $"e".as("ce"))
    Vectors.cellOutliers(vecs, cents, 0.05).orderBy("vec_id")
  }
  val e19OodSql: String =
    s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vid AS cid, e AS ce FROM v WHERE vid < 8),
       |sc AS (SELECT v.vid, c.cid, ${cosSql("v.e", "c.ce")} AS sim FROM v, cent c),
       |assigned AS (
       |  SELECT vid, cid, sim FROM (
       |    SELECT vid, cid, sim,
       |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY sim DESC, cid) AS rn
       |    FROM sc) WHERE rn = 1),
       |med AS (
       |  SELECT cid, sim AS med_sim FROM (
       |    SELECT cid, sim, vid,
       |      ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim, vid) AS mrn,
       |      COUNT(*) OVER (PARTITION BY cid) AS n
       |    FROM assigned) WHERE mrn = (n + 1) // 2)
       |SELECT a.vid AS vec_id, a.cid, a.sim AS cos_sim, m.med_sim
       |FROM assigned a JOIN med m USING (cid)
       |WHERE a.sim < m.med_sim - CAST(0.05 AS DOUBLE)
       |ORDER BY vec_id""".stripMargin

  // ---- ST12: streaming upsert into the Store --------------------------

  /** ST12: the live-ingest maintenance loop — a streamed events feed
    * applied to a parquet Store via `foreachBatch` →
    * [[graft.ops.Store.upsert]]. The store is seeded with the per-day
    * latest state BEFORE the cutoff day; the stream upserts everything
    * from the cutoff on; the final table must equal the batch per-day
    * latest-by-key over ALL events (pre-cutoff partitions untouched on
    * disk — that's the partition-scoped-maintenance point). AvailableNow
    * + a deterministic final state keeps it gate-eligible (the st1
    * rationale); multi-batch convergence is StreamingSpec's job.
    */
  val st12StreamUpsert: Q = (s, d) => StreamQueries.withStatePartitions(s, 8) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val cutoff = "2024-01-20"
    graft.ops.TempFiles.withTempDir("graft-st12") { root =>
      val dir = root.getAbsolutePath
      val store = s"$dir/store"
      val ev = Tables.events(s, d).withColumn("day", Queries.dstr(col("ts")))
      graft.ops.Store.latestByKey(ev.filter(col("day") < cutoff),
          Seq("day", "user_id", "event_type"), "ts", "event_id")
        .write.partitionBy("day").parquet(store)
      val raw = s.read.parquet(s"$d/events.parquet")
      val q = Tables.normalizeTs(s.readStream.schema(raw.schema)
          .option("pathGlobFilter", "events.parquet").parquet(d))
        .withColumn("day", Queries.dstr(col("ts")))
        .filter(col("day") >= cutoff)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.Store.upsert(s, store, batch, "day",
            Seq("day", "user_id", "event_type"), "ts", "event_id")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(store)
        .select(col("day"), col("user_id"), col("event_type"),
          col("event_id"), col("value"))
        .orderBy("day", "user_id", "event_type")
        .localCheckpoint(eager = true) // materialize before the store dies
    }
  }
  val st12StreamUpsertSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, event_type, event_id, value
      |FROM (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY strftime(ts, '%Y-%m-%d'), user_id, event_type
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY day, user_id, event_type""".stripMargin

  // ---- S10: incremental aggregate over the incremental join view ------

  /** S10: the full materialized-view chain — a per-month aggregate OF
    * the orders⋈lineitem view maintained without recomputing either:
    * ΔV from [[Maintain.joinViewDelta]] (deltas broadcast, bases never
    * shuffle) feeds `countSumState`, merged into the stored aggregate
    * state by the same algebra q_s2 gates for single-table aggregates.
    * Oracle = the aggregate of the FULL join; the maintained state must
    * be bit-identical (decimal-exact sums).
    */
  val s10IncrJoinAgg: Q = (s, d) => {
    val a = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val join = (x: DataFrame, y: DataFrame) =>
      x.join(y, col("o_orderkey") === col("l_orderkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("l_quantity"))
    val baseA = a.filter(col("o_orderkey") % 13 =!= 0)
    val deltaA = a.filter(col("o_orderkey") % 13 === 0)
    val baseB = b.filter(col("l_partkey") % 11 =!= 0)
    val deltaB = b.filter(col("l_partkey") % 11 === 0)
    val stateBase = Maintain.countSumState(
      join(baseA, baseB), Seq("month"), col("l_quantity"))
    val stateDelta = Maintain.countSumState(
      Maintain.joinViewDelta(baseA, baseB, deltaA, deltaB, join),
      Seq("month"), col("l_quantity"))
    Maintain.finalizeCountSum(
        Maintain.mergeStates(Seq(stateBase, stateDelta), Seq("month")),
        Seq("month"))
      .orderBy("month")
  }
  val s10IncrJoinAggSql: String =
    """SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
      |  COUNT(l.l_quantity) AS cnt,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(l.l_quantity) AS avg_value
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY month""".stripMargin

  // ---- T29: per-source vocabulary divergence --------------------------

  /** T29: which sources read differently — per-source L1 divergence
    * (ppm, over the top-50 corpus terms) between the source's term
    * distribution and the corpus's. The text sibling of q_v3's
    * numeric drift monitor: a source whose language suddenly shifts
    * (scraper broke, spam flood) spikes here before any downstream
    * model notices. Top-50 cut keeps the comparison frame k-bounded
    * (vocabulary is unbounded at corpus scale); per-source totals
    * still count EVERY token, so absent-from-source terms contribute
    * their full corpus mass. All integral `div` on non-negative
    * operands.
    */
  val t29SourceDivergence: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"source",
        explode(regexp_extract_all($"text", lit("[A-Za-z]+"), lit(0))).as("tok"))
      .select($"source", lower($"tok").as("term"))
    val cell = toks.groupBy($"source", $"term").agg(count(lit(1)).as("n_st"))
    val top = toks.groupBy($"term").agg(count(lit(1)).as("n_t"))
      .orderBy($"n_t".desc, $"term").limit(50)
    val ns = toks.groupBy($"source").agg(count(lit(1)).as("n_s"))
    val n = toks.agg(count(lit(1)).as("n"))
    ns.crossJoin(broadcast(top))
      .join(cell, Seq("source", "term"), "left")
      .na.fill(0L, Seq("n_st"))
      .crossJoin(broadcast(n))
      .withColumn("diff", abs(expr("n_st * 1000000 div n_s - n_t * 1000000 div n")))
      .groupBy($"source")
      .agg(max($"n_s").as("n_tokens"), sum($"diff").as("sd"))
      .select($"source", $"n_tokens", expr("sd div 2").as("div_ppm"))
      .orderBy($"div_ppm".desc, $"source")
  }
  val t29SourceDivergenceSql: String =
    """WITH toks AS (
      |  SELECT source, lower(tok) AS term FROM
      |    (SELECT source, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS tok
      |     FROM documents)),
      |cell AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_st
      |         FROM toks GROUP BY 1, 2),
      |top AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_t FROM toks
      |        GROUP BY 1 ORDER BY n_t DESC, term LIMIT 50),
      |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM toks GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
      |grid AS (
      |  SELECT ns.source, ns.n_s, top.term, top.n_t,
      |    COALESCE(cell.n_st, 0) AS n_st
      |  FROM ns CROSS JOIN top
      |  LEFT JOIN cell ON cell.source = ns.source AND cell.term = top.term)
      |SELECT g.source, MAX(g.n_s) AS n_tokens,
      |  CAST(SUM(ABS(g.n_st * 1000000 // g.n_s - g.n_t * 1000000 // n.n)) AS BIGINT)
      |    // 2 AS div_ppm
      |FROM grid g CROSS JOIN n
      |GROUP BY 1 ORDER BY div_ppm DESC, source""".stripMargin

  // ---- D17: LSH band-tuning table -------------------------------------

  /** D17: the (bands × rowsPerBand) operating-point table
    * ([[Dedup.lshTuning]]) over the d2 planted corpus and its 16
    * minhashes — candidates, verified pairs, precision ppm for
    * r ∈ {2, 4, 8}. The oracle replays all three bandings off the
    * shared signature CTE.
    */
  val d17LshTuning: Q = (s, d) => {
    // the corpus open infers the table's schema in a job of its own
    val c = Concurrent.labeled(s, "dedup:lsh_tuning:open")(
      PipelineQueries.corpus(s, d))
    Dedup.lshTuning(c, "id", "text",
        shingleN = 3, k = 16, rowsPerBandConfigs = Seq(2, 4, 8), threshold = 0.5)
      .coalesce(1).sortWithinPartitions("rows_per_band") // 3 local rows: one task, no range sort
  }
  private def d17Block(r: Int): String = {
    val b = 16 / r
    s"""bands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY 1, 2),
       |cand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM bands$r a JOIN bands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |inter$r AS (
       |  SELECT c.ia, c.ib, COUNT(*) AS inter
       |  FROM cand$r c JOIN sh x ON x.id = c.ia
       |                JOIN sh y ON y.id = c.ib AND y.h = x.h
       |  GROUP BY 1, 2),
       |ver$r AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nv
       |  FROM inter$r i JOIN sizes na ON na.id = i.ia
       |                 JOIN sizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |nc$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM cand$r),
       |row$r AS (
       |  SELECT $r AS rows_per_band, $b AS n_bands, nc.nc AS n_candidates,
       |    ver.nv AS n_verified,
       |    CASE WHEN nc.nc = 0 THEN NULL ELSE ver.nv * 1000000 // nc.nc END
       |      AS precision_ppm
       |  FROM nc$r nc, ver$r ver)""".stripMargin
  }
  // ---- D19: LSH recall table (the other axis of D17) ------------------

  /** D19: recall per (bands × rowsPerBand) config against EXACT
    * ground truth on a deterministic hash-gated half-sample
    * ([[Dedup.lshRecall]]) — D17 measures the precision a config
    * wastes, this measures the true pairs it misses; together they
    * pick the LSH operating point. Truth = exact Jaccard ≥ 0.5 off
    * the sample's shingle inverted index (no minhash approximation);
    * the oracle replays the gate, the truth join, and all three
    * bandings at member level.
    */
  val d19LshRecall: Q = (s, d) =>
    Dedup.lshRecall(PipelineQueries.corpus(s, d), "id", "text",
        shingleN = 3, k = 16, rowsPerBandConfigs = Seq(2, 4, 8),
        threshold = 0.5, sampleMod = 2)
      .coalesce(1).sortWithinPartitions("rows_per_band") // 3 local rows: one task, no range sort
  private def d19Block(r: Int): String = {
    val b = 16 / r
    s"""bands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY 1, 2),
       |cand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM bands$r a JOIN bands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |hit$r AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM cand$r c JOIN truth t ON t.ia = c.ia AND t.ib = c.ib),
       |row$r AS (
       |  SELECT $r AS rows_per_band, $b AS n_bands, nt.nt AS n_true,
       |    h.nh AS n_hit,
       |    CASE WHEN nt.nt = 0 THEN NULL ELSE h.nh * 1000000 // nt.nt END
       |      AS recall_ppm
       |  FROM nt, hit$r h)""".stripMargin
  }
  val d19LshRecallSql: String =
    s"""WITH ${PipelineQueries.corpusSql},
       |sample AS (
       |  SELECT id, text FROM corpus
       |  WHERE ${graft.ops.TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 2 = 0),
       |${PipelineQueries.shingleSqlFrom("sample")},
       |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.id AS ia, y.id AS ib, COUNT(*) AS inter
       |  FROM sh x JOIN sh y ON y.h = x.h AND x.id < y.id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT i.ia, i.ib
       |  FROM inter i JOIN sizes na ON na.id = i.ia
       |               JOIN sizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM truth),
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |${d19Block(2)},
       |${d19Block(4)},
       |${d19Block(8)}
       |SELECT * FROM row2 UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row8
       |ORDER BY rows_per_band""".stripMargin

  // ---- D20: quality-aware near-dup purge (keep-best, not keep-min) ----

  /** D20: [[Dedup.purgeKeepBest]] over the d2 planted corpus — one
    * survivor per near-dup cluster, chosen by an externally supplied
    * quality score (here a deterministic hash score standing in for
    * the q_t20 NB output, so the winner is genuinely score-driven and
    * not id-correlated: the planted corpus derives variants by
    * REMOVAL, so any content-monotone score would degenerate to
    * keep-min and never exercise the rule). Ties break to the smaller
    * id. Oracle: the d2b recursive-closure cluster map + the score
    * window replayed member-level.
    */
  val d20PurgeBest: Q = (s, d) =>
    Dedup.purgeKeepBest(PipelineQueries.corpus(s, d), "id", "text",
        pmod(TextOps.hash60(col("id").cast("string")), lit(1000L)))
      .orderBy("id")
  val d20PurgeBestSql: String =
    s"""WITH RECURSIVE ${PipelineQueries.corpusSql},
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |bands AS (
       |  SELECT id, j // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.ia, c.ib, COUNT(*) AS inter
       |  FROM cand c JOIN sh x ON x.id = c.ia JOIN sh y ON y.id = c.ib AND y.h = x.h
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i.ia, i.ib
       |  FROM inter i JOIN sizes na ON na.id = i.ia JOIN sizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       |  SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
       |scores AS (
       |  SELECT id, ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 1000 AS score
       |  FROM corpus),
       |ranked AS (
       |  SELECT l.id,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY s.score DESC, l.id) AS rk
       |  FROM labels l JOIN scores s ON s.id = l.id)
       |SELECT c.id AS id, s.score FROM corpus c JOIN scores s ON s.id = c.id
       |WHERE c.id NOT IN (SELECT r.id FROM ranked r WHERE r.rk > 1)
       |ORDER BY c.id""".stripMargin

  val d17LshTuningSql: String =
    s"""WITH ${PipelineQueries.corpusSql},
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
       |${d17Block(2)},
       |${d17Block(4)},
       |${d17Block(8)}
       |SELECT * FROM row2 UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row8
       |ORDER BY rows_per_band""".stripMargin

  // ---- K12: time-decayed popularity counters --------------------------

  /** K12: exponentially decayed per-type event counts with a one-day
    * half-life, written as POWER-OF-TWO decay so the whole thing stays
    * integer-exact: decayed = Σ_day cnt(day) div 2^(age_days), age
    * clamped at 62 (a 2^63 shift would wrap; older days contribute 0
    * anyway). The freshness-weighted popularity signal behind "what's
    * trending" — mergeable (the per-(type, day) cells are the state,
    * decay applies at read time, so yesterday's table never rewrites).
    * Epoch-day arithmetic (datediff from 1970-01-01), no engine
    * DATE_PART convention trusted — the q_v6 rule.
    */
  val k12DecayedCounts: Q = (s, d) => {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("ed"))
      .groupBy("event_type", "ed").agg(count(lit(1)).as("cnt"))
    val mx = cells.agg(max(col("ed")).as("mx"))
    cells.crossJoin(broadcast(mx))
      .withColumn("w",
        expr("cnt div shiftleft(1L, cast(least(mx - ed, 62) as int))"))
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n_events"), sum(col("w")).as("decayed"))
      .orderBy(col("decayed").desc, col("event_type"))
  }
  val k12DecayedCountsSql: String =
    """WITH dd AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      |  FROM events),
      |c AS (SELECT event_type, ed, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM dd GROUP BY 1, 2),
      |m AS (SELECT MAX(ed) AS mx FROM c)
      |SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_events,
      |  CAST(SUM(cnt // (CAST(1 AS BIGINT) << least(mx - ed, 62))) AS BIGINT)
      |    AS decayed
      |FROM c CROSS JOIN m GROUP BY 1 ORDER BY decayed DESC, event_type""".stripMargin

  // ---- E20: IVF nprobe-tuning table -----------------------------------

  /** E20: the recall-vs-cost curve for IVF probe widths
    * ([[Vectors.ivfTuning]]) on the e3 fixed-centroid convention
    * (centroids = vec_id < 8, query = vec_id 0, k = 10) for
    * nprobe ∈ {1, 2, 4}. The ANN sibling of the q_d17 LSH table.
    */
  val e20IvfTuning: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
    val searchable = vecs.filter($"vid" =!= 0)
    val cents = vecs.filter($"vid" < 8).select($"vid".as("cid"), $"e".as("ce"))
    val query = vecs.filter($"vid" === 0).select($"e")
    Vectors.ivfTuning(searchable, cents, query, k = 10, nprobes = Seq(1, 2, 4))
      .orderBy("nprobe")
  }
  private def e20Block(np: Int): String =
    s"""cells$np AS (SELECT cid FROM cent, q
       |  ORDER BY ${cosSql("ce", "qe")} DESC, cid LIMIT $np),
       |scan$np AS (SELECT a.vid, ${cosSql("a.e", "q.qe")} AS cs
       |  FROM assigned a JOIN cells$np USING (cid), q),
       |top$np AS (SELECT vid FROM scan$np ORDER BY cs DESC, vid LIMIT 10),
       |row$np AS (SELECT $np AS nprobe,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM scan$np) AS n_scanned,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM top$np JOIN brute USING (vid))
       |    * 1000000 // 10 AS recall_ppm)""".stripMargin
  val e20IvfTuningSql: String =
    s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vid AS cid, e AS ce FROM v WHERE vid < 8),
       |q AS (SELECT e AS qe FROM v WHERE vid = 0),
       |assigned AS (
       |  SELECT vid, cid, e FROM (
       |    SELECT v.vid, c.cid, v.e,
       |      ROW_NUMBER() OVER (PARTITION BY v.vid ORDER BY
       |        ${cosSql("v.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM v, cent c WHERE v.vid <> 0)
       |  WHERE rn = 1),
       |brute AS (SELECT vid FROM v, q WHERE vid <> 0
       |  ORDER BY ${cosSql("e", "qe")} DESC, vid LIMIT 10),
       |${e20Block(1)},
       |${e20Block(2)},
       |${e20Block(4)}
       |SELECT * FROM row1 UNION ALL SELECT * FROM row2 UNION ALL SELECT * FROM row4
       |ORDER BY nprobe""".stripMargin

  // ---- E21: Matryoshka dimension-truncation tuning --------------------

  /** E21: recall@10 of first-d-dimensions cosine search vs the full
    * 64-d exact top-10 ([[Vectors.dimTruncationTuning]]) for
    * d ∈ {8, 16, 32, 64} — d = 64 pins 1e6 by construction.
    */
  val e21DimTruncation: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
    Vectors.dimTruncationTuning(vecs.filter($"vid" =!= 0),
        vecs.filter($"vid" === 0).select($"e"), k = 10, dims = Seq(8, 16, 32, 64))
      .orderBy("dim")
  }
  private def e21Block(dim: Int): String =
    s"""top$dim AS (SELECT vid FROM v, q WHERE vid <> 0
       |  ORDER BY ${cosSql(s"v.e[1:$dim]", s"q.qe[1:$dim]")} DESC, vid LIMIT 10),
       |row$dim AS (SELECT $dim AS dim,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM top$dim JOIN full64 USING (vid))
       |    * 1000000 // 10 AS recall_ppm)""".stripMargin
  val e21DimTruncationSql: String =
    s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vid = 0),
       |full64 AS (SELECT vid FROM v, q WHERE vid <> 0
       |  ORDER BY ${cosSql("v.e", "q.qe")} DESC, vid LIMIT 10),
       |${e21Block(8)},
       |${e21Block(16)},
       |${e21Block(32)},
       |${e21Block(64)}
       |SELECT * FROM row8 UNION ALL SELECT * FROM row16
       |UNION ALL SELECT * FROM row32 UNION ALL SELECT * FROM row64
       |ORDER BY dim""".stripMargin

  // ---- T30: hybrid retrieval (BM25 ⊕ embedding, RRF fusion) -----------

  /** T30: hybrid search — the RAG-era retrieval default: fuse the
    * lexical BM25 ranking (q_t27's scorer) with the semantic
    * embedding ranking (cosine to query vector 0; doc_id and vec_id
    * share the id domain) by Reciprocal Rank Fusion,
    * rrf = Σ 1e6 div (60 + rank), over the top-100 of each ranker.
    * Integer-exact end to end. The two rank windows run over frames
    * k-BOUNDED by construction (≤100 rows after the TakeOrdered), so
    * the unkeyed window is a driver-adjacent formality, not a corpus
    * serialization; the fusion join is 100×100 at most.
    */
  val t30HybridRrf: Q = (s, d) => {
    import s.implicits._
    val wL = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"id")
    val lex = TextOps.bm25Rank(Tables.documents(s, d), "doc_id", "text",
        Seq("vector", "spark", "merge"), 100)
      .withColumn("rank_lex", row_number().over(wL).cast("long"))
      .select($"id".as("doc_id"), $"rank_lex")
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val q = vecs.filter($"vec_id" === 0).select($"e".as("qe"))
    val wS = org.apache.spark.sql.expressions.Window
      .orderBy($"cs".desc, $"vec_id")
    val sem = graft.ops.Partitioning.spread(vecs.filter($"vec_id" =!= 0))
      .crossJoin(broadcast(q))
      .withColumn("cs", Vectors.rankCosine($"e", $"qe"))
      .orderBy($"cs".desc, $"vec_id").limit(100)
      .withColumn("rank_sem", row_number().over(wS).cast("long"))
      .select($"vec_id".as("doc_id"), $"rank_sem")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_1e6", expr(
        """coalesce(1000000 div (60 + rank_lex), 0)
          | + coalesce(1000000 div (60 + rank_sem), 0)""".stripMargin))
      .orderBy($"rrf_1e6".desc, $"doc_id").limit(20)
  }
  val t30HybridRrfSql: String =
    s"""WITH $bm25Cte,
       |lex AS (SELECT id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT) AS rank_lex
       |  FROM bmscore ORDER BY score DESC, id LIMIT 100),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |scored AS (SELECT vec_id, ${cosSql("v.e", "qv.qe")} AS cs
       |  FROM v, qv WHERE vec_id <> 0),
       |sem AS (SELECT vec_id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS BIGINT) AS rank_sem
       |  FROM scored ORDER BY cs DESC, vec_id LIMIT 100)
       |SELECT COALESCE(l.doc_id, m.doc_id) AS doc_id, l.rank_lex, m.rank_sem,
       |  COALESCE(1000000 // (60 + l.rank_lex), 0)
       |    + COALESCE(1000000 // (60 + m.rank_sem), 0) AS rrf_1e6
       |FROM lex l FULL OUTER JOIN sem m ON m.doc_id = l.doc_id
       |ORDER BY rrf_1e6 DESC, doc_id LIMIT 20""".stripMargin

  // ---- G13: label-propagation communities ------------------------------

  /** G13: plurality label-propagation communities
    * ([[Graph.labelPropagate]], 3 synchronous rounds) on the part
    * co-purchase graph — distinct from the q_d2b components closure:
    * dense groups converge, sparse bridges don't leak. Oracle =
    * [[Graph.labelPropSql]]'s unrolled replay.
    */
  val g13Communities: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = li.join(li.withColumnRenamed("p", "p2"), "o")
      .where(col("p") < col("p2"))
      .select(col("p").as("src"), col("p2").as("dst"))
    Graph.labelPropagate(pairs, rounds = 3)
      .select(col("node"), col("label").as("community"))
      .orderBy("node")
  }
  val g13CommunitiesSql: String =
    Graph.labelPropSql(
      """SELECT x.p AS src, y.p AS dst
        |FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) x
        |JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) y
        |  ON x.o = y.o AND x.p < y.p""".stripMargin,
      rounds = 3) + "\nORDER BY node"

  // ---- V8: robust trend (Theil–Sen) ------------------------------------

  /** V8: per-type robust daily-volume trend — the Theil–Sen estimator
    * (median of pairwise slopes), fully integer-exact: slopes are
    * scaled by L = lcm(1..29) so every (Δcount·L div Δdays) division
    * is REMAINDER-FREE (Δdays ∈ 1..29 divides L), which makes Spark's
    * truncating `div` and DuckDB's flooring `//` agree even on
    * negative slopes. Pairs are quadratic ONLY in the bounded time
    * window per key (≤ C(30,2) here; a production monitor always
    * trends a bounded trailing window), median by discrete rank
    * selection. The robust complement of q_v3/q_v6: one outlier day
    * can't bend the slope.
    */
  val v8TheilSen: Q = (s, d) => {
    val c = Tables.events(s, d)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("ed"))
      .groupBy("event_type", "ed").agg(count(lit(1)).as("cnt"))
    graft.ops.Temporal.theilSenTrend(c, "event_type", "ed", "cnt",
        maxDx = 29, scaleL = 2329089562800L) // lcm(1..29)
      .orderBy("event_type")
  }
  val v8TheilSenSql: String =
    """WITH dd AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      |  FROM events),
      |c AS (SELECT event_type, ed, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM dd GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, a.ed AS eda, b.ed AS edb,
      |    (b.cnt - a.cnt) * 2329089562800 // (b.ed - a.ed) AS slope
      |  FROM c a JOIN c b ON b.event_type = a.event_type
      |    AND b.ed > a.ed AND b.ed - a.ed <= 29),
      |r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, eda, edb) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM p)
      |SELECT event_type, CAST(n AS BIGINT) AS n_pairs, slope AS slope_scaled,
      |  CASE WHEN slope > 0 THEN 'up' WHEN slope < 0 THEN 'down'
      |       ELSE 'flat' END AS trend
      |FROM r WHERE rn = (n + 1) // 2
      |ORDER BY event_type""".stripMargin

  // ---- P15: deterministic weighted interleave --------------------------

  /** P15: the data-mixing SCHEDULE ([[Sampling.weightedInterleave]]):
    * sources weighted (N mod 3)+1, L = 6; sorting by (slot, source)
    * is the smooth round-robin a dataloader reads. Complements q_p2
    * (which docs) with the order (when).
    */
  val p15Interleave: Q = (s, d) => {
    val weights = (0 until 20).map(i => s"src$i" -> (i % 3 + 1)).toMap
    Sampling.weightedInterleave(Tables.documents(s, d), "doc_id", "source",
        weights, scaleL = 6L, seed = "p15")
      .orderBy("slot", "source", "doc_id")
  }
  val p15InterleaveSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, source,
       |    (CAST(substr(source, 4) AS INT) % 3) + 1 AS w,
       |    ${seededHash60Sql("'p15'", "CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |i AS (
       |  SELECT doc_id, source, w,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
       |      AS BIGINT) AS i
       |  FROM w)
       |SELECT doc_id, source, i, i * 6 // w AS slot
       |FROM i ORDER BY slot, source, doc_id""".stripMargin

  // ---- V9: CUSUM change-point monitor ----------------------------------

  /** V9: per-type CUSUM drift flags ([[graft.ops.Temporal.cusumFlags]])
    * against the type's own mean daily volume, threshold = one
    * mean-day of accumulated drift — the sustained-shift monitor
    * point rules and seasonal medians miss. The sequential-looking
    * recurrence runs as two plain windows via the prefix-minus-
    * running-min identity.
    */
  val v9Cusum: Q = (s, d) => {
    val c = Tables.events(s, d)
      .select(col("event_type"), Queries.dstr(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    val stats = c.groupBy("event_type")
      .agg(expr("sum(cnt) div count(1)").as("target"))
    graft.ops.Temporal.cusumFlags(
        c.join(broadcast(stats), "event_type"),
        "event_type", "day", "cnt", col("target"), col("target"))
      .orderBy("event_type", "day")
  }
  val v9CusumSql: String =
    """WITH c AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) // COUNT(*) AS target
      |      FROM c GROUP BY 1),
      |p AS (
      |  SELECT c.event_type, day, cnt, s.target,
      |    SUM(cnt - target) OVER (PARTITION BY c.event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS pfx
      |  FROM c JOIN s USING (event_type)),
      |q AS (
      |  SELECT event_type, day, cnt, target,
      |    pfx - LEAST(0, MIN(pfx) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING)) AS cusum
      |  FROM p)
      |SELECT event_type, day, cnt, CAST(cusum AS BIGINT) AS cusum,
      |  cusum > target AS flagged
      |FROM q ORDER BY event_type, day""".stripMargin

  // ---- T31: retrieval evaluation --------------------------------------

  /** T31: the evaluation loop for the retrieval family (what q_e12 is
    * to ANN): precision@10 and MRR of the BM25 ranking against a
    * deterministic relevance oracle — a document is relevant iff it
    * contains ALL the query terms. Integer-exact (ppm ratios, MRR =
    * 1e6 div first-relevant-rank, 0 when none lands in the top 10).
    * All frames k-bounded after the TakeOrdered; relevance ids ride a
    * broadcast.
    */
  val t31RetrievalEval: Q = (s, d) => {
    import s.implicits._
    val wL = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"id")
    val ranked = TextOps.bm25Rank(Tables.documents(s, d), "doc_id", "text",
        Seq("vector", "spark", "merge"), 10)
      .withColumn("rank", row_number().over(wL).cast("long"))
    val rel = Tables.documents(s, d)
      .select($"doc_id".as("id"),
        explode(regexp_extract_all($"text", lit("[A-Za-z]+"), lit(0))).as("tok"))
      .select($"id", lower($"tok").as("term"))
      .filter($"term".isin("vector", "spark", "merge"))
      .distinct()
      .groupBy($"id").agg(count(lit(1)).as("nt"))
      .filter($"nt" === 3)
      .select($"id", lit(true).as("relevant"))
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    ranked.join(broadcast(rel), Seq("id"), "left")
      .agg(
        sum(when($"relevant", 1L).otherwise(0L)).as("hits_at_10"),
        min(when($"relevant", $"rank")).as("first_rel_rank"))
      .crossJoin(broadcast(nRel))
      .select($"n_relevant", $"hits_at_10",
        expr("hits_at_10 * 1000000 div 10").as("precision_at_10_ppm"),
        $"first_rel_rank",
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("mrr_ppm"))
  }
  val t31RetrievalEvalSql: String =
    s"""WITH $bm25Cte,
       |ranked AS (SELECT id,
       |    CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT) AS rank
       |  FROM bmscore ORDER BY score DESC, id LIMIT 10),
       |rel AS (
       |  SELECT id FROM (
       |    SELECT DISTINCT id, term FROM toks
       |    WHERE term IN ('vector', 'spark', 'merge'))
       |  GROUP BY id HAVING COUNT(*) = 3),
       |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel),
       |hits AS (
       |  SELECT CAST(COUNT(rel.id) AS BIGINT) AS hits_at_10,
       |    MIN(CASE WHEN rel.id IS NOT NULL THEN ranked.rank END) AS first_rel_rank
       |  FROM ranked LEFT JOIN rel ON rel.id = ranked.id)
       |SELECT nr.n_relevant, h.hits_at_10,
       |  h.hits_at_10 * 1000000 // 10 AS precision_at_10_ppm,
       |  h.first_rel_rank,
       |  COALESCE(1000000 // h.first_rel_rank, 0) AS mrr_ppm
       |FROM hits h CROSS JOIN nr""".stripMargin

  // ---- ST13: streaming CDC apply --------------------------------------

  /** ST13: a streamed I/U/D changelog applied to a parquet store per
    * micro-batch — the live CDC-follower loop (st12's sibling for
    * DELETE-carrying feeds): the store persists the winning
    * (seq, op) per key INCLUDING tombstones
    * ([[Maintain.applyCdcState]]), and each batch unions the stored
    * state with the arriving changes — so the apply is
    * ORDER-INDEPENDENT: a batch carrying an older seq for an
    * already-deleted key loses to the persisted tombstone instead of
    * resurrecting the row. The store is seeded with the seq-1 insert
    * snapshot; the stream carries the seq≥2 U/D tail; the final
    * table (tombstones filtered) must equal the batch apply of the
    * WHOLE feed (q_s6's algebra — the oracle is that statement).
    * Multi-batch composition incl. delete-then-reinsert AND
    * out-of-order batch arrival is CurationSpec's probe.
    */
  val st13StreamCdc: Q = (s, d) => StreamQueries.withStatePartitions(s, 8) {
    graft.ops.TempFiles.withTempDir("graft-st13") { root =>
      val dir = root.getAbsolutePath
      val store = s"$dir/store"
      val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice")
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
      def ev(df: DataFrame, seq: Int, op: String) =
        df.withColumn("seq", lit(seq.toLong)).withColumn("op", lit(op))
      // seed: the seq-1 insert snapshot, with its (seq, op) persisted
      ev(o, 1, "I").write.parquet(store)
      // the streamed tail: seq-2 updates + seq-3 deletes (the q_s6 feed)
      ev(o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("U2")), 2, "U")
        .unionByName(ev(o.filter(col("o_orderkey") % 13 === 0), 3, "D"))
        .write.parquet(s"$dir/feed")
      val schema = s.read.parquet(s"$dir/feed").schema
      val q = s.readStream.schema(schema).parquet(s"$dir/feed")
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val st = s.read.parquet(store)
          Maintain.applyCdcState(
              st.unionByName(batch.select(st.columns.map(col): _*)),
              "o_orderkey", "seq", col("seq"), "op", payload)
            // lineage cut BEFORE overwriting the dir we just read
            .localCheckpoint(eager = true)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(store)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(store)
        .filter(col("op") =!= "D")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
        .localCheckpoint(eager = true) // materialize before the store dies
    }
  }
  val st13StreamCdcSql: String =
    """WITH cdc AS (
      |  SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_orderstatus, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', o_custkey, 'U2', o_totalprice FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 3, 'D', o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 13 = 0),
      |last AS (
      |  SELECT o_orderkey, op, o_custkey, o_orderstatus, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |  FROM cdc)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM last WHERE rn = 1 AND op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  // ---- T32: category-blocklist safety gate ----------------------------

  /** T32: the lexicon safety filter ([[TextOps.blocklistGate]]) with a
    * fixture lexicon over the synthetic vocabulary and threshold 2 —
    * the MECHANISM (categorized terms, per-category trip threshold,
    * bounded broadcast) is the real curation op; the lexicon contents
    * are authored input by contract.
    */
  val t32BlocklistGate: Q = (s, d) => {
    TextOps.blocklistGate(Tables.documents(s, d), "doc_id", "text",
        Map("latency" -> Seq("slow", "fast"), "size" -> Seq("big", "small")),
        threshold = 2)
      .orderBy("doc_id", "cat")
  }
  val t32BlocklistGateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lower(tok) AS term FROM
      |    (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS tok
      |     FROM documents)),
      |lex(cat, term) AS (
      |  VALUES ('latency', 'slow'), ('latency', 'fast'),
      |         ('size', 'big'), ('size', 'small'))
      |SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  COUNT(*) >= 2 AS cat_blocked
      |FROM toks JOIN lex USING (term)
      |GROUP BY 1, 2 ORDER BY doc_id, cat""".stripMargin

  // ---- D18: per-benchmark contamination report ------------------------

  /** D18: the dataset-card contamination table
    * ([[Dedup.contaminationReport]]): two planted benchmarks (doc_id
    * multiples of 31 and 37), corpus = everything else; per benchmark
    * the distinct corpus docs sharing ≥1 3-shingle and the total hit
    * count.
    */
  val d18ContaminationReport: Q = (s, d) => {
    import s.implicits._
    val all = Tables.documents(s, d).select($"doc_id".as("id"), $"text")
    val corpusDocs = all.filter($"id" % 31 =!= 0 && $"id" % 37 =!= 0)
    Dedup.contaminationReport(corpusDocs,
        Seq("bench31" -> all.filter($"id" % 31 === 0),
          "bench37" -> all.filter($"id" % 37 === 0)),
        "id", "text")
      .orderBy("bench")
  }
  private def d18EvCte(name: String, m: Int): String =
    s"""$name AS (
       |  SELECT DISTINCT '$name' AS bench, ${TextOps.hash60Sql("sh")} AS h
       |  FROM (SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
       |          i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |        FROM (SELECT string_split_regex(text, '\\s+') AS toks
       |              FROM documents WHERE doc_id % $m = 0)))""".stripMargin
  val d18ContaminationReportSql: String =
    s"""WITH corp AS (
       |  SELECT doc_id AS id, text FROM documents
       |  WHERE doc_id % 31 <> 0 AND doc_id % 37 <> 0),
       |sh AS (
       |  SELECT DISTINCT id, ${TextOps.hash60Sql("sh")} AS h
       |  FROM (SELECT id, unnest(list_transform(generate_series(1, len(toks) - 2),
       |          i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |        FROM (SELECT id, string_split_regex(text, '\\s+') AS toks FROM corp))),
       |${d18EvCte("bench31", 31)},
       |${d18EvCte("bench37", 37)},
       |ev AS (SELECT * FROM bench31 UNION SELECT * FROM bench37)
       |SELECT ev.bench, CAST(COUNT(DISTINCT sh.id) AS BIGINT) AS n_docs_hit,
       |  CAST(COUNT(*) AS BIGINT) AS n_hits
       |FROM sh JOIN ev ON ev.h = sh.h
       |GROUP BY 1 ORDER BY bench""".stripMargin

  // ---- S11: partition-layout evolution --------------------------------

  /** S11: the compaction-era layout split — the HOT tail of lineitem
    * stays day-partitioned while the deep history is coarsened to
    * month partitions (so the table never accumulates thousands of
    * tiny day directories) — [[graft.ops.Store.readEvolvedMonth]]
    * unions the generations and the per-month rollup must equal the
    * plain single-layout aggregation (the oracle). The transposed-
    * predicate pruning contract is CurationSpec's metrics lock.
    */
  val s11PartitionEvolution: Q = (s, d) =>
    graft.ops.TempFiles.withTempDir("graft-s11") { root =>
      val dir = root.getAbsolutePath
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          Queries.dstr(col("l_shipdate")).as("day"))
      li.filter(col("day") >= "2001-09-01")
        .write.partitionBy("day").parquet(s"$dir/days")
      li.filter(col("day") < "2001-09-01")
        .withColumn("month", substring(col("day"), 1, 7)).drop("day")
        .write.partitionBy("month").parquet(s"$dir/months")
      graft.ops.Store.readEvolvedMonth(s, s"$dir/days", s"$dir/months")
        .groupBy("month")
        .agg(count(lit(1)).as("cnt"), graft.ops.Exact.sum2(col("l_quantity")).as("sum_qty"))
        .orderBy("month")
        .localCheckpoint(eager = true) // materialize before the store dies
    }
  val s11PartitionEvolutionSql: String =
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS month, COUNT(*) AS cnt,
       |  ${graft.ops.Exact.sum2Sql("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY 1 ORDER BY month""".stripMargin

  // ---- S12: TTL retention sweep ----------------------------------------

  /** S12: time-based retention ([[graft.ops.Store.expireBefore]]) —
    * the compliance/TTL path that DELETES whole partitions below the
    * cutoff as directory drops (never a row rewrite: contrast
    * purgeKeys), lease-guarded, manifest rows filtered. The gate
    * writes a month-partitioned store (the realistic retention grain
    * for this table's density — day partitions at sf0.1 are ~240-row
    * shards across ~2 500 dirs, a small-files antipattern the first
    * bench run measured at 48 s of pure write/list overhead), expires
    * everything before the cutoff, and must read back EXACTLY the
    * oracle's WHERE month >= cutoff aggregate — plus the
    * dropped-partition count the sweep reported, which the oracle
    * recomputes as the distinct expired months. Proves all three:
    * everything young survives intact, everything old is gone, and
    * the op's own accounting is honest.
    */
  val s12Retention: Q = (s, d) =>
    graft.ops.TempFiles.withTempDir("graft-s12") { root =>
      val dir = new java.io.File(root, "t").getAbsolutePath
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"),
          substring(Queries.dstr(col("l_shipdate")), 1, 7).as("month"))
      li.write.partitionBy("month").parquet(dir)
      val dropped = graft.ops.Store.expireBefore(s, dir, "month", "2000-01")
      s.read.parquet(dir)
        .groupBy(col("month").cast("string").as("month"))
        .agg(count(lit(1)).as("cnt"),
          graft.ops.Exact.sum2(col("l_quantity")).as("sum_qty"))
        .withColumn("n_dropped", lit(dropped))
        .orderBy("month")
        .localCheckpoint(eager = true) // materialize before the store dies
    }
  val s12RetentionSql: String =
    s"""WITH base AS (
       |  SELECT strftime(l_shipdate, '%Y-%m') AS month, l_quantity
       |  FROM lineitem),
       |nd AS (
       |  SELECT CAST(COUNT(DISTINCT month) AS BIGINT) AS n_dropped
       |  FROM base WHERE month < '2000-01')
       |SELECT month, COUNT(*) AS cnt,
       |  ${graft.ops.Exact.sum2Sql("l_quantity")} AS sum_qty, nd.n_dropped
       |FROM base, nd WHERE month >= '2000-01'
       |GROUP BY month, nd.n_dropped ORDER BY month""".stripMargin

  // ---- C20: canonical-URL dedup ----------------------------------------

  /** C20: URL canonicalization (`TextOps.canonicalUrl`) — the crawl
    * pipeline's cheapest dedup key, exercised on a planted-variant
    * corpus: every document contributes four spellings of its own URL
    * (case/www/default-port noise, a `utm_*`-only query with shuffled
    * param order, a fragment, a trailing slash) that must collapse to
    * ONE canonical key, and every 5th document adds a genuinely
    * distinct `?page=2` row that must NOT collapse. Output is the
    * per-canonical dedup group (n_variants, keep_id) — exact URL dedup
    * with [[Dedup.exactGroups]]'s scale shape (one keyed shuffle on
    * the canonical string).
    */
  val c20UrlCanon: Q = (s, d) => {
    import s.implicits._
    val ids = Tables.documents(s, d).select($"doc_id".as("id"))
    val variants = Seq(
      concat(lit("https://Example.COM/docs/"), $"id", lit("/")),
      concat(lit("HTTPS://www.example.com:443/docs/"), $"id"),
      concat(lit("https://example.com/docs/"), $"id",
        lit("?utm_campaign=x&utm_source=feed")),
      concat(lit("https://example.com/docs/"), $"id", lit("#section-2")))
      .map(u => ids.select($"id", u.as("url")))
      .reduce(_ unionByName _)
    val extra = ids.filter($"id" % 5 === 0)
      .select($"id", concat(lit("https://example.com/docs/"), $"id",
        lit("?page=2&utm_medium=mail")).as("url"))
    variants.unionByName(extra)
      .select($"id", TextOps.canonicalUrl($"url").as("canonical"))
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_variants"), min($"id").as("keep_id"))
      .orderBy("canonical")
  }
  val c20UrlCanonSql: String =
    s"""WITH ids AS (SELECT doc_id AS id FROM documents),
       |raw AS (
       |  SELECT id, 'https://Example.COM/docs/' || id || '/' AS url FROM ids
       |  UNION ALL
       |  SELECT id, 'HTTPS://www.example.com:443/docs/' || id FROM ids
       |  UNION ALL
       |  SELECT id, 'https://example.com/docs/' || id || '?utm_campaign=x&utm_source=feed' FROM ids
       |  UNION ALL
       |  SELECT id, 'https://example.com/docs/' || id || '#section-2' FROM ids
       |  UNION ALL
       |  SELECT id, 'https://example.com/docs/' || id || '?page=2&utm_medium=mail'
       |  FROM ids WHERE id % 5 = 0),
       |canon AS (
       |  SELECT id, ${TextOps.canonicalUrlSql("url")} AS canonical FROM raw)
       |SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_variants,
       |  MIN(id) AS keep_id
       |FROM canon GROUP BY 1 ORDER BY canonical""".stripMargin

  // ---- registry --------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_s9_incr_join_view", s9IncrJoinView, s9IncrJoinViewSql),
    QuerySpec("q_e17_label_noise", e17LabelNoise, e17LabelNoiseSql),
    QuerySpec("q_e18_separation", e18Separation, e18SeparationSql),
    QuerySpec("q_t27_bm25", t27Bm25, t27Bm25Sql),
    QuerySpec("q_d16_cross_source", d16CrossSource, d16CrossSourceSql),
    QuerySpec("q_p13_curriculum", p13Curriculum, p13CurriculumSql),
    QuerySpec("q_v7_skew_report", v7SkewReport, v7SkewReportSql),
    QuerySpec("q_g12_jaccard_neighbors", g12JaccardNeighbors, g12JaccardNeighborsSql),
    QuerySpec("q_t28_fertility", t28Fertility, t28FertilitySql),
    QuerySpec("q_e19_ood", e19Ood, e19OodSql),
    QuerySpec("q_st12_stream_upsert", st12StreamUpsert, st12StreamUpsertSql),
    QuerySpec("q_s10_incr_join_agg", s10IncrJoinAgg, s10IncrJoinAggSql),
    QuerySpec("q_t29_source_divergence", t29SourceDivergence, t29SourceDivergenceSql),
    QuerySpec("q_d17_lsh_tuning", d17LshTuning, d17LshTuningSql),
    QuerySpec("q_k12_decayed_counts", k12DecayedCounts, k12DecayedCountsSql),
    QuerySpec("q_e20_ivf_tuning", e20IvfTuning, e20IvfTuningSql),
    QuerySpec("q_e21_dim_truncation", e21DimTruncation, e21DimTruncationSql),
    QuerySpec("q_t30_hybrid_rrf", t30HybridRrf, t30HybridRrfSql),
    QuerySpec("q_g13_communities", g13Communities, g13CommunitiesSql),
    QuerySpec("q_v8_theilsen", v8TheilSen, v8TheilSenSql),
    QuerySpec("q_p15_interleave", p15Interleave, p15InterleaveSql),
    QuerySpec("q_v9_cusum", v9Cusum, v9CusumSql),
    QuerySpec("q_t31_retrieval_eval", t31RetrievalEval, t31RetrievalEvalSql),
    QuerySpec("q_st13_stream_cdc", st13StreamCdc, st13StreamCdcSql),
    QuerySpec("q_t32_blocklist_gate", t32BlocklistGate, t32BlocklistGateSql),
    QuerySpec("q_d18_contamination_report", d18ContaminationReport, d18ContaminationReportSql),
    QuerySpec("q_s11_partition_evolution", s11PartitionEvolution, s11PartitionEvolutionSql),
    QuerySpec("q_c20_url_canon", c20UrlCanon, c20UrlCanonSql),
    QuerySpec("q_d19_lsh_recall", d19LshRecall, d19LshRecallSql),
    QuerySpec("q_d20_purge_best", d20PurgeBest, d20PurgeBestSql),
    QuerySpec("q_s12_retention", s12Retention, s12RetentionSql)
  )
}
