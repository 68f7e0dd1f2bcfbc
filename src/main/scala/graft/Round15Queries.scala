package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, IvfIndexStore, TextOps, Vectors}

/** Round-15 additions — the cost-shape and lifecycle items the r14
  * verdict ranked: the sample gate SELF-SIZED from a stated truth
  * budget on both the MinHash (q_d26) and cosine (q_e25) auto paths
  * (one corpus count derives the minimal `sampleMod`; the caps refuse
  * hash-skew overshoot instead of silently paying), the durable IVF
  * store's certification MEMO (q_st24 — N serves between ingests pay
  * ONE anchor-truth pass, keyed by the committed version), and the
  * retrain lifecycle closing the q_e14 health loop (q_st25 — imbalance
  * above threshold retrains k-means centroids into a fresh
  * fingerprinted version, atomically pointer-flipped, old version
  * still readable, anchor recall identical-or-better).
  *
  * Session-scoped file (the Round14Queries pattern) so the older
  * registries stay stable.
  */
object Round15Queries {

  import QuerySpec.Q

  // ---- D26: budget-sized auto near-dup (MinHash family) -----------------

  /** The rep budget the d26 gate states instead of a sampleMod: the
    * slacked target (400 − ⌈3√400⌉ = 340) derives mod 2 at
    * sf0.001/0.01 (672 docs), 20 at sf0.1 (6715), 198 at the 10x
    * decade (67143) — the gated samples (352/352/332/316 ids) all sit
    * under the cap with 3σ headroom, so the cap never coin-flips and
    * the choice is provably scale-dependent.
    */
  val d26Budget = 400L

  /** D26: [[Dedup.nearDupPairsAuto]] at a budget gate — the q_d22 auto path
    * with `sampleMod` DERIVED, not guessed: one corpus count, one
    * ceiling division against the 3σ-slacked target
    * ([[Dedup.chooseSampleMod]] — m = ⌈n / (budget − ⌈3√budget⌉)⌉),
    * the chooser's `sampleRepCap` armed at the budget so >3σ skew
    * refuses, and the derived mod riding out as `sample_mod`
    * provenance beside the chosen `rows_per_band`. The oracle replays
    * the DERIVATION ITSELF (count, slack, and ceiling division live in
    * the SQL), then the full q_d22 dynamic decision at that mod — so
    * the gate stays green when a data regeneration moves the derived
    * mod, and the choice demonstrably moves with it (rpb 4 at
    * sf0.01/mod 2, rpb 8 at sf0.1/mod 20). `truthDfCap = None` is the
    * q_d22 documented posture: the planted corpus is boilerplate-free
    * by construction.
    */
  val d26AutoDedupBudgeted: Q = (s, d) =>
    Dedup.nearDupPairsAuto(PipelineQueries.corpus(s, d), "id", "text",
        truthDfCap = None, gate = graft.ops.SampleGate.Budget(d26Budget),
        precisionFloorPpm = Round13Queries.d21PrecisionFloorPpm,
        recallFloorPpm = Round13Queries.d21RecallFloorPpm)
      .select(col("sample_mod"), col("rows_per_band"), col("ia"), col("ib"),
        col("jac"))
      .orderBy("ia", "ib")

  /** The q_d22 oracle chain with three changes: a `nrow`/`starget`/
    * `smod` prelude replaying the slacked derivation, the sample gate
    * moduled by the DERIVED value instead of a literal, and
    * `sample_mod` in the output. Every other CTE is the shared d22
    * builder, untouched.
    */
  val d26AutoDedupBudgetedSql: String =
    s"""WITH ${PipelineQueries.corpusSql},
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |nrow AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n FROM sh),
       |starget AS (SELECT GREATEST(1, $d26Budget
       |  - CAST(CEIL(3 * SQRT($d26Budget)) AS BIGINT)) AS t),
       |smod AS (SELECT CAST((n + t - 1) // t AS BIGINT) AS m FROM nrow, starget),
       |smp AS (
       |  SELECT id FROM corpus
       |  WHERE ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % (SELECT m FROM smod) = 0),
       |ssh AS MATERIALIZED (SELECT sh.id, sh.h FROM sh JOIN smp USING (id)),
       |ssizes AS (SELECT id, COUNT(*) AS n FROM ssh GROUP BY 1),
       |sinter AS MATERIALIZED (
       |  SELECT x.id AS ia, y.id AS ib, COUNT(*) AS inter
       |  FROM ssh x JOIN ssh y ON y.h = x.h AND x.id < y.id
       |  GROUP BY 1, 2),
       |struth AS MATERIALIZED (
       |  SELECT i.ia, i.ib
       |  FROM sinter i JOIN ssizes na ON na.id = i.ia
       |                JOIN ssizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |snt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM struth),
       |smh AS MATERIALIZED (SELECT mh.* FROM mh JOIN smp USING (id)),
       |${Round13Queries.d22SampleBlock(2)},
       |${Round13Queries.d22SampleBlock(4)},
       |${Round13Queries.d22SampleBlock(8)},
       |stbl AS (SELECT * FROM srow2 UNION ALL SELECT * FROM srow4
       |         UNION ALL SELECT * FROM srow8),
       |scalc AS (
       |  SELECT *,
       |    CASE WHEN n_candidates = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_candidates END AS precision_ppm,
       |    CASE WHEN n_true = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_true END AS recall_ppm
       |  FROM stbl),
       |sfeas AS (
       |  SELECT *, COALESCE(precision_ppm >= ${Round13Queries.d21PrecisionFloorPpm}, FALSE)
       |        AND COALESCE(recall_ppm >= ${Round13Queries.d21RecallFloorPpm}, FALSE) AS feasible
       |  FROM scalc),
       |sel AS (SELECT rows_per_band FROM sfeas WHERE feasible
       |        ORDER BY n_candidates, rows_per_band DESC LIMIT 1),
       |${Round13Queries.d22FullBlock(2)},
       |${Round13Queries.d22FullBlock(4)},
       |${Round13Queries.d22FullBlock(8)},
       |candall AS MATERIALIZED (
       |  SELECT DISTINCT ia, ib FROM (
       |    SELECT * FROM fcand2 UNION ALL SELECT * FROM fcand4
       |    UNION ALL SELECT * FROM fcand8)),
       |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS MATERIALIZED (
       |  SELECT c.ia, c.ib, COUNT(*) AS inter
       |  FROM candall c JOIN sh x ON x.id = c.ia JOIN sh y ON y.id = c.ib AND y.h = x.h
       |  GROUP BY 1, 2),
       |ver AS MATERIALIZED (
       |  SELECT i.ia, i.ib, i.inter * 1.0 / (na.n + nb.n - i.inter) AS jac
       |  FROM inter i JOIN sizes na ON na.id = i.ia JOIN sizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |chosenCand AS (
       |  SELECT ia, ib FROM fcand2 WHERE 2 = (SELECT rows_per_band FROM sel)
       |  UNION ALL
       |  SELECT ia, ib FROM fcand4 WHERE 4 = (SELECT rows_per_band FROM sel)
       |  UNION ALL
       |  SELECT ia, ib FROM fcand8 WHERE 8 = (SELECT rows_per_band FROM sel))
       |SELECT (SELECT m FROM smod) AS sample_mod,
       |  (SELECT rows_per_band FROM sel) AS rows_per_band, v.ia, v.ib, v.jac
       |FROM ver v JOIN chosenCand c ON c.ia = v.ia AND c.ib = v.ib
       |ORDER BY v.ia, v.ib""".stripMargin

  // ---- E25: budget-sized auto cosine near-dup ---------------------------

  /** Budget sized so the gated sample stays DENSE enough to measure
    * recall of the corpus's rare true pairs at every scale (a ~300-vec
    * sample catches only ~12 true pairs at sf0.1 — too sparse for any
    * stable floor): slacked target 1096 derives mod 1/1/2 at the gated
    * scales and 19 at the 10x decade, samples 500/500/1026/~1052, all
    * under the cap with 3-sigma headroom.
    */
  val e25Budget = 1200

  /** Floors measured on the BUDGET-GATED samples (per-scale
    * (precision, recall) ppm for 2/4/6 planes: sf0.001
    * 747/1540/1283 and 363636/196969/45454; sf0.01 783/1332/2722 and
    * 423728/186440/101694; sf0.1 mod-2 776/1426/1722 and
    * 448717/209401/68376; decade mod-19 712/1106/1663 and
    * 403636/160000/65454): BOTH axes bite at every scale — the
    * precision floor rejects the 2-plane single-bucket point
    * everywhere, the recall floor rejects 6 planes everywhere — and
    * 4 planes is the certified operating point at all four, so the
    * provenance that MOVES here is the derived mod (1/1/2/19), the
    * self-sizing this gate exists to prove.
    */
  val e25PrecisionFloorPpm = 1100L
  val e25RecallFloorPpm = 150000L

  /** E25: [[Vectors.cosineDupPairsAuto]] at a budget gate — q_d26's derived
    * sample gate on the cosine hyperplane family: the slacked ceiling
    * division picks the mod, `truthRepCap = budget` arms the family's own quadratic
    * refusal at exactly the stated budget, and the chooser prices the
    * plane grid on the gated sample before the FULL corpus runs at the
    * chosen count. The oracle replays derivation, chooser (the shared
    * e22 CTE builder at this gate's floors and the derived mod), and
    * every config's full-corpus pair relation — the corpus pass bands
    * a full-corpus signature frame (`jf`), NOT the sample frame, which
    * is the cost structure the budget exists to protect.
    */
  val e25AutoCosineBudgeted: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    Vectors.cosineDupPairsAuto(vecs, "e", "vec_id",
        planeConfigs = Seq(2, 4, 6), dim = 64,
        threshold = Round14Queries.e22Threshold,
        gate = graft.ops.SampleGate.Budget(e25Budget),
        precisionFloorPpm = e25PrecisionFloorPpm,
        recallFloorPpm = e25RecallFloorPpm)
      .orderBy("ia", "ib")
  }

  private def e25FullBlock(p: Int): String = {
    val mask = (1L << p) - 1
    s"""ecand$p AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    (a.bucket & $mask) AS bucket, ${Round14Queries.cosSql("a.e", "b.e")} AS cos_sim
       |  FROM jf a JOIN jf b
       |    ON (a.bucket & $mask) = (b.bucket & $mask) AND a.vec_id < b.vec_id)""".stripMargin
  }

  val e25AutoCosineBudgetedSql: String =
    s"""WITH nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |starget AS (SELECT GREATEST(1, $e25Budget
       |  - CAST(CEIL(3 * SQRT($e25Budget)) AS BIGINT)) AS t),
       |smod AS (SELECT CAST((n + t - 1) // t AS BIGINT) AS m FROM nrow, starget),
       |${Round14Queries.e22ChooserCtes("SELECT m FROM smod",
          e25PrecisionFloorPpm, e25RecallFloorPpm)},
       |sigf AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN list_dot_product(e, w) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM v, planes GROUP BY vec_id),
       |jf AS MATERIALIZED (SELECT v.vec_id, v.e, sigf.bucket FROM v JOIN sigf USING (vec_id)),
       |${e25FullBlock(2)},
       |${e25FullBlock(4)},
       |${e25FullBlock(6)}
       |SELECT ia, ib, bucket, cos_sim, n_planes, (SELECT m FROM smod) AS sample_mod FROM (
       |  SELECT ia, ib, bucket, cos_sim, 2 AS n_planes FROM ecand2
       |  WHERE cos_sim >= ${Round14Queries.e22Threshold} AND 2 = (SELECT n_planes FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, bucket, cos_sim, 4 AS n_planes FROM ecand4
       |  WHERE cos_sim >= ${Round14Queries.e22Threshold} AND 4 = (SELECT n_planes FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, bucket, cos_sim, 6 AS n_planes FROM ecand6
       |  WHERE cos_sim >= ${Round14Queries.e22Threshold} AND 6 = (SELECT n_planes FROM sel))
       |ORDER BY ia, ib""".stripMargin

  // ---- ST24: memoized certification on the durable IVF store ------------

  /** ST24: [[IvfIndexStore.searchAuto]]'s per-committed-state MEMO —
    * the read-heavy serving pattern q_st22 leaves on the table: three
    * serves against the store, the first two on the SAME committed
    * state (different traffic queries, same anchor), the third after
    * another ingest moved the version. The engine asserts exactly TWO
    * anchor-truth certification passes were paid (`certifications` —
    * serves 1 and 2 share one; the version move forces the second),
    * and the oracle replays every serve against the state it actually
    * saw: the certified width is a function of COMMITTED STATE, so it
    * can move between serves 2 and 3 (at sf0.1 it does: state A
    * certifies 4, the full state 1 — the floor's cheapest adequate
    * width tracks what the index holds). Columns: serve_id, vec_id,
    * cid, cos_sim, nprobe.
    */
  val st24StoreServeMemo: Q = (s, d) => {
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st24") { root =>
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
      val centroids = vecs.filter($"vid" < 8)
        .select($"vid".as("cid"), $"e".as("ce")).localCheckpoint(true)
      val tuneQ = vecs.filter($"vid" === 0).select($"e").localCheckpoint(true)
      val trafficA = vecs.filter($"vid" === 5).select($"e").localCheckpoint(true)
      val trafficB = vecs.filter($"vid" === 3).select($"e").localCheckpoint(true)
      val corpus = vecs.filter(!$"vid".isin(0L, 5L))
      val dir = new java.io.File(root, "store").getAbsolutePath
      val idx = IvfIndexStore.open(s, dir, centroids)
      idx.ingest(corpus.filter(pmod($"vid", lit(3L)) === 1))
      idx.ingest(corpus.filter(pmod($"vid", lit(3L)) === 2))
      def serve(id: Int, q: DataFrame): DataFrame =
        idx.searchAuto(tuneQ, q, k = 10, nprobes = Seq(1, 2, 4),
            recallFloorPpm = Round14Queries.e24RecallFloorPpm)
          .select(lit(id).as("serve_id"), col("vid").as("vec_id"), col("cid"),
            col("cos_sim"), col("nprobe"))
      val s1 = serve(1, trafficA)
      val s2 = serve(2, trafficB)
      require(idx.certifications == 1,
        s"serves on one committed state must share ONE certification, " +
          s"paid ${idx.certifications}")
      idx.ingest(corpus.filter(pmod($"vid", lit(3L)) === 0))
      val s3 = serve(3, trafficA)
      require(idx.certifications == 2,
        s"the version move must force exactly one re-certification, " +
          s"total ${idx.certifications}")
      s1.unionByName(s2).unionByName(s3)
        .orderBy(col("serve_id"), col("cos_sim").desc, col("vec_id"))
        .localCheckpoint(eager = true)
    }
  }

  import Round14Queries.cosSql

  /** Per-state assignment + anchor brute truth; states are the
    * committed views the serves actually ran against (A = batches
    * 1+2 = vid%3 ∈ {1,2}; B = all three).
    */
  private[graft] def st24StateCtes(tag: String, pred: String): String =
    s"""corpus$tag AS (SELECT vid, e FROM corpus WHERE $pred),
       |a$tag AS (SELECT vid, cid, e FROM (
       |  SELECT c2.vid, c.cid, c2.e,
       |    ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |      ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM corpus$tag c2, cent c) WHERE rn = 1),
       |brute$tag AS (SELECT vid FROM corpus$tag, tq
       |  ORDER BY ${cosSql("e", "tqe")} DESC, vid LIMIT 10)""".stripMargin

  private[graft] def st24TuneBlock(tag: String, np: Int): String =
    s"""tscan$tag$np AS (SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a$tag a JOIN tc$np USING (cid), tq),
       |ttop$tag$np AS (SELECT vid FROM tscan$tag$np ORDER BY cs DESC, vid LIMIT 10),
       |trow$tag$np AS (SELECT $np AS nprobe,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tscan$tag$np) AS n_scanned,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ttop$tag$np JOIN brute$tag USING (vid))
       |    * 1000000 // 10 AS recall_ppm)""".stripMargin

  private[graft] def st24ServeBlock(tag: String, qn: String, np: Int): String =
    s"""serve$tag$qn$np AS (
       |  SELECT vec_id, cid, cos_sim FROM (
       |    SELECT a.vid AS vec_id, a.cid, ${cosSql("a.e", s"q$qn.qq$qn")} AS cos_sim
       |    FROM a$tag a JOIN sc$qn$np USING (cid), q$qn
       |    ORDER BY cos_sim DESC, a.vid LIMIT 10))""".stripMargin

  private[graft] def st24ServePick(id: Int, tag: String, qn: String): String =
    Seq(1, 2, 4).map(np =>
      s"""  SELECT $id AS serve_id, vec_id, cid, cos_sim, $np AS nprobe
         |  FROM serve$tag$qn$np WHERE $np = (SELECT nprobe FROM sel$tag)""".stripMargin)
      .mkString("\n  UNION ALL\n")

  val st24StoreServeMemoSql: String =
    s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vid AS cid, e AS ce FROM v WHERE vid < 8),
       |corpus AS (SELECT vid, e FROM v WHERE vid NOT IN (0, 5)),
       |tq AS (SELECT e AS tqe FROM v WHERE vid = 0),
       |qA AS (SELECT e AS qqA FROM v WHERE vid = 5),
       |qB AS (SELECT e AS qqB FROM v WHERE vid = 3),
       |${st24StateCtes("A", "vid % 3 <> 0")},
       |${st24StateCtes("B", "TRUE")},
       |tc1 AS (SELECT cid FROM cent, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |tc2 AS (SELECT cid FROM cent, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 2),
       |tc4 AS (SELECT cid FROM cent, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 4),
       |${st24TuneBlock("A", 1)},
       |${st24TuneBlock("A", 2)},
       |${st24TuneBlock("A", 4)},
       |${st24TuneBlock("B", 1)},
       |${st24TuneBlock("B", 2)},
       |${st24TuneBlock("B", 4)},
       |trowsA AS (SELECT * FROM trowA1 UNION ALL SELECT * FROM trowA2
       |           UNION ALL SELECT * FROM trowA4),
       |trowsB AS (SELECT * FROM trowB1 UNION ALL SELECT * FROM trowB2
       |           UNION ALL SELECT * FROM trowB4),
       |selA AS (SELECT nprobe FROM trowsA
       |         WHERE recall_ppm >= ${Round14Queries.e24RecallFloorPpm}
       |         ORDER BY n_scanned, nprobe LIMIT 1),
       |selB AS (SELECT nprobe FROM trowsB
       |         WHERE recall_ppm >= ${Round14Queries.e24RecallFloorPpm}
       |         ORDER BY n_scanned, nprobe LIMIT 1),
       |scA1 AS (SELECT cid FROM cent, qA ORDER BY ${cosSql("ce", "qqA")} DESC, cid LIMIT 1),
       |scA2 AS (SELECT cid FROM cent, qA ORDER BY ${cosSql("ce", "qqA")} DESC, cid LIMIT 2),
       |scA4 AS (SELECT cid FROM cent, qA ORDER BY ${cosSql("ce", "qqA")} DESC, cid LIMIT 4),
       |scB1 AS (SELECT cid FROM cent, qB ORDER BY ${cosSql("ce", "qqB")} DESC, cid LIMIT 1),
       |scB2 AS (SELECT cid FROM cent, qB ORDER BY ${cosSql("ce", "qqB")} DESC, cid LIMIT 2),
       |scB4 AS (SELECT cid FROM cent, qB ORDER BY ${cosSql("ce", "qqB")} DESC, cid LIMIT 4),
       |${st24ServeBlock("A", "A", 1)},
       |${st24ServeBlock("A", "A", 2)},
       |${st24ServeBlock("A", "A", 4)},
       |${st24ServeBlock("A", "B", 1)},
       |${st24ServeBlock("A", "B", 2)},
       |${st24ServeBlock("A", "B", 4)},
       |${st24ServeBlock("B", "A", 1)},
       |${st24ServeBlock("B", "A", 2)},
       |${st24ServeBlock("B", "A", 4)}
       |SELECT serve_id, vec_id, cid, cos_sim, nprobe FROM (
       |${st24ServePick(1, "A", "A")}
       |  UNION ALL
       |${st24ServePick(2, "A", "B")}
       |  UNION ALL
       |${st24ServePick(3, "B", "A")})
       |ORDER BY serve_id, cos_sim DESC, vec_id""".stripMargin

  // ---- ST25: the IVF retrain lifecycle ----------------------------------

  /** The drift fixture: a PLANTED clustered vector corpus (8 axis
    * clusters in 8 dims, vec_id-keyed hash jitter — fully
    * SQL-replayable, unlike the raw embeddings whose near-uniform
    * directions no k=8 layout can concentrate) ingested into a store
    * whose layout has degraded: all 8 centroids drawn from ONE
    * cluster, the "index trained before the data drifted" shape. The
    * hot cell then holds 2.1–2.2× its fair share (imbalance1e4
    * ~21000–21800 across the gated scales).
    */
  private def plantedVecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).select($"vec_id".as("vid"))
      .withColumn("e", transform(sequence(lit(1), lit(8)), dd =>
        when(pmod($"vid", lit(8L)) === (dd - lit(1)).cast("long"), lit(1.0))
          .otherwise(lit(0.0)) +
        pmod(TextOps.hash60(concat($"vid".cast("string"), lit("_"),
            dd.cast("string"))), lit(1000L)).cast("double") / lit(10000.0)))
  }

  /** ST25: [[IvfIndexStore.retrainIfImbalanced]] — the q_e14 health
    * metric finally FEEDING BACK: the live store's imbalance (~2.1×)
    * exceeds the 1.1× policy threshold, so the lifecycle re-trains 8
    * k-means centroids (3 Lloyd iterations, deterministic lowest-vid
    * init) on the current effective vectors, bulk-assigns them into a
    * fresh fingerprinted `v=1` directory, and atomically flips the
    * root pointer — after which the live index is near-balanced
    * (imbalance ~1.0×), the anchor query's recall at nProbe=1 is
    * IDENTICAL-OR-BETTER (1e6 ppm on both — engine-require'd, oracle-
    * replayed), and the OLD version is still readable byte-for-byte
    * (re-opened via its persisted `_centroids` after the flip and
    * re-served — `old_readable`). The oracle replays the planted
    * corpus, the degraded layout, its imbalance, the THREE k-means
    * iterations (assign → per-cell element-wise mean, empty cells
    * keeping their previous centroid), the rebuilt assignment and
    * imbalance, both serves, and both recalls.
    */
  val st25StoreRetrain: Q = (s, d) => {
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st25") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val planted = plantedVecs(s, d).localCheckpoint(eager = true)
      val corpus = planted.filter($"vid" >= 8)
      val anchor = planted.filter($"vid" === 0).select($"e")
        .localCheckpoint(true)
      val w = Window.orderBy("vid")
      val oldCents = corpus.filter(pmod($"vid", lit(8L)) === 1)
        .orderBy("vid").limit(8)
        .select((row_number().over(w) - 1).cast("long").as("cid"),
          $"e".as("ce"))
        .localCheckpoint(true)
      val st0 = IvfIndexStore.createLive(s, vroot, oldCents)
      st0.ingest(corpus.filter(pmod($"vid", lit(2L)) === 0))
      st0.ingest(corpus.filter(pmod($"vid", lit(2L)) === 1))
      val imbOld = st0.imbalance1e4
      val serveOld = st0.search(anchor, nProbe = 1, k = 10)
        .localCheckpoint(eager = true)
      val brute = Vectors.knnBruteForce(corpus.select($"vid", $"e"), anchor, 10)
        .select("vid").as[Long].collect().toSet
      def recallOf(serve: DataFrame): Long =
        serve.select("vid").as[Long].collect().count(brute) * 1000000L / 10
      val recallOld = recallOf(serveOld)
      val st1 = IvfIndexStore.retrainIfImbalanced(s, vroot,
          maxImbalance1e4 = 11000L, kNew = 8, iters = 3)
        .getOrElse(sys.error("st25: the degraded layout must trigger a retrain"))
      require(IvfIndexStore.liveVersion(s, vroot).contains(1),
        "st25: the pointer must name the retrained version")
      val imbNew = st1.imbalance1e4
      val serveNew = IvfIndexStore.openLive(s, vroot)
        .search(anchor, nProbe = 1, k = 10)
        .localCheckpoint(eager = true)
      val recallNew = recallOf(serveNew)
      require(recallNew >= recallOld,
        s"st25: the rebuilt index must serve identical-or-better anchor " +
          s"recall (old $recallOld, new $recallNew)")
      // the old version is untouched and still readable AFTER the flip
      val oldAgain = IvfIndexStore.openPinned(s,
          new java.io.File(vroot, "v=0").getAbsolutePath)
        .search(anchor, nProbe = 1, k = 10)
        .select("vid").as[Long].collect().toSeq
      val oldReadable =
        oldAgain == serveOld.select("vid").as[Long].collect().toSeq
      serveNew.select($"vid".as("vec_id"), $"cos_sim")
        .withColumn("imb_old_1e4", lit(imbOld))
        .withColumn("imb_new_1e4", lit(imbNew))
        .withColumn("recall_old_ppm", lit(recallOld))
        .withColumn("recall_new_ppm", lit(recallNew))
        .withColumn("live_version", lit(1L))
        .withColumn("old_readable", lit(oldReadable))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .localCheckpoint(eager = true)
    }
  }

  /** One Lloyd iteration in SQL: assign to the previous centroids,
    * per-cell element-wise mean (COALESCE keeps the previous centroid
    * for an emptied cell — the engine rule).
    */
  private def st25KmeansIter(t: Int): String =
    s"""a_$t AS (SELECT vid, cid, e FROM (
       |  SELECT c2.vid, c.cid, c2.e,
       |    ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |      ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM corpus c2, c_${t - 1} c) WHERE rn = 1),
       |m_$t AS (SELECT cid, i, AVG(e[i]) AS mv FROM a_$t, dims GROUP BY 1, 2),
       |c_$t AS (SELECT p.cid, COALESCE(l.ce1, p.ce) AS ce FROM c_${t - 1} p
       |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS ce1 FROM m_$t GROUP BY 1) l
       |  USING (cid))""".stripMargin

  val st25StoreRetrainSql: String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid,
       |    list_transform(generate_series(1, 8), d ->
       |      (CASE WHEN (vec_id % 8) = (d - 1) THEN 1.0 ELSE 0.0 END)
       |      + (${TextOps.hash60Sql("CAST(vec_id AS VARCHAR)||'_'||CAST(d AS VARCHAR)")} % 1000) / 10000.0) AS e
       |  FROM embeddings),
       |corpus AS (SELECT vid, e FROM v WHERE vid >= 8),
       |cent0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cid, e AS ce
       |          FROM corpus WHERE vid % 8 = 1 ORDER BY vid LIMIT 8),
       |a0 AS (SELECT vid, cid, e FROM (
       |  SELECT c2.vid, c.cid, c2.e,
       |    ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |      ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM corpus c2, cent0 c) WHERE rn = 1),
       |cells0 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a0 GROUP BY 1),
       |imb0 AS (SELECT CAST(MAX(n) * 8 * 10000 // SUM(n) AS BIGINT) AS i FROM cells0),
       |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cid, e AS ce
       |          FROM corpus ORDER BY vid LIMIT 8),
       |dims AS (SELECT unnest(generate_series(1, 8)) AS i),
       |c_0 AS (SELECT cid, ce FROM seeds),
       |${st25KmeansIter(1)},
       |${st25KmeansIter(2)},
       |${st25KmeansIter(3)},
       |a1 AS (SELECT vid, cid, e FROM (
       |  SELECT c2.vid, c.cid, c2.e,
       |    ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |      ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM corpus c2, c_3 c) WHERE rn = 1),
       |cells1 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a1 GROUP BY 1),
       |imb1 AS (SELECT CAST(MAX(n) * 8 * 10000 // SUM(n) AS BIGINT) AS i FROM cells1),
       |tq AS (SELECT e AS tqe FROM v WHERE vid = 0),
       |brute AS (SELECT vid FROM corpus, tq
       |  ORDER BY ${cosSql("e", "tqe")} DESC, vid LIMIT 10),
       |oc AS (SELECT cid FROM cent0, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |otop AS (SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a0 a JOIN oc USING (cid), tq ORDER BY cs DESC, a.vid LIMIT 10),
       |nc AS (SELECT cid FROM c_3, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |ntop AS (SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a1 a JOIN nc USING (cid), tq ORDER BY cs DESC, a.vid LIMIT 10),
       |ro AS (SELECT CAST(COUNT(*) AS BIGINT) * 1000000 // 10 AS r
       |       FROM otop JOIN brute USING (vid)),
       |rn2 AS (SELECT CAST(COUNT(*) AS BIGINT) * 1000000 // 10 AS r
       |       FROM ntop JOIN brute USING (vid))
       |SELECT ntop.vid AS vec_id, ntop.cs AS cos_sim,
       |  (SELECT i FROM imb0) AS imb_old_1e4,
       |  (SELECT i FROM imb1) AS imb_new_1e4,
       |  (SELECT r FROM ro) AS recall_old_ppm,
       |  (SELECT r FROM rn2) AS recall_new_ppm,
       |  CAST(1 AS BIGINT) AS live_version,
       |  TRUE AS old_readable
       |FROM ntop
       |ORDER BY cos_sim DESC, vec_id""".stripMargin

  // ---- ST26: the keep-best REBAND lifecycle ------------------------------

  /** The ten fixed tokens of the birth pair — two identical documents,
    * so EVERY banding certifies at birth (one true pair, always hit;
    * all configs tie at one candidate and the tie rule picks the
    * cheapest banding, 8 rows/band).
    */
  val st26BirthText: String = (0 until 10).map(j => s"kbseed$j").mkString(" ")

  /** ST26: [[KeepBestIndexStore.rebandIfStale]] — the retrain
    * lifecycle's analogue on the BANDING axis, oracle-gated end to
    * end: the store is born on a two-document exact pair (every config
    * certifies; the tie rule picks rows_per_band = 8), then the corpus
    * GROWS with one moderate-similarity pair per documents row (last 2
    * of 10 tokens mutated → 3-shingle Jaccard 0.6 — a similarity the
    * 8-row banding hits with probability 2·0.6⁸ ≈ 3%, far under the
    * 60% recall floor), so the birth choice is now STALE: the
    * lifecycle re-certifies on the CURRENT state FROM STORED HASHES
    * (no text — groups rebuild from the shingle postings, signatures
    * re-band directly), rebuilds into `v=1` at the newly certified
    * banding, and flips the pointer. Output = the live store's
    * keep-best survivors plus the decision provenance (born_rpb 8 →
    * final_rpb 2, rebanded). The oracle replays BOTH chooser runs
    * (birth corpus and full corpus), the pair relation at whichever
    * config the full-state chooser picked, the connected-component
    * clusters (recursive CTE), and the keep-best rule — the q_d20
    * survivors algebra under a dynamically re-chosen banding.
    */
  val st26StoreReband: Q = (s, d) => {
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st26") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val ids = Tables.documents(s, d).select($"doc_id".as("bid"))
      def tokText(mutate: Boolean) = concat_ws(" ",
        transform(sequence(lit(0), lit(9)), j =>
          when(lit(mutate) && j >= 8,
            concat(lit("mut"), $"bid", lit("x"), j.cast("string")))
          .otherwise(concat(lit("tok"), $"bid", lit("w"), j.cast("string")))))
      val grown = ids.select($"bid".as("id"), tokText(mutate = false).as("text"))
        .unionByName(ids.select(($"bid" + 500000L).as("id"),
          tokText(mutate = true).as("text")))
      val birth = Seq((9000001L, st26BirthText), (9000002L, st26BirthText))
        .toDF("id", "text")
      val score = pmod(TextOps.hash60(col("id").cast("string")), lit(1000L))
      val tune = graft.ops.KeepBestIndex.AutoTune(Seq(2, 4, 8),
        gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
      val st0 = graft.ops.KeepBestIndexStore.createLive(s, vroot, tune)
      st0.ingest(birth, "id", "text", score)
      val born = st0.chosenRowsPerBand.get
      st0.ingest(grown, "id", "text", score)
      val st1 = graft.ops.KeepBestIndexStore.rebandIfStale(s, vroot, tune)
        .getOrElse(sys.error("st26: the grown state must de-certify the " +
          "birth banding and trigger a reband"))
      require(graft.ops.KeepBestIndexStore.liveVersion(s, vroot).contains(1),
        "st26: the pointer must name the rebanded version")
      val finalRpb = st1.chosenRowsPerBand.get
      graft.ops.KeepBestIndexStore.openLive(s, vroot, tune).survivors
        .withColumn("born_rpb", lit(born))
        .withColumn("final_rpb", lit(finalRpb))
        .withColumn("rebanded", lit(born != finalRpb))
        .orderBy("id")
        .localCheckpoint(eager = true)
    }
  }

  private[graft] def st26Block(tag: String, r: Int): String =
    s"""${tag}bands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM ${tag}mh GROUP BY 1, 2),
       |${tag}cand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM ${tag}bands$r a JOIN ${tag}bands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |${tag}row$r AS (
       |  SELECT $r AS rows_per_band,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ${tag}cand$r) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT)
       |     FROM ${tag}cand$r c JOIN ${tag}truth t ON t.ia = c.ia AND t.ib = c.ib) AS n_verified,
       |    (SELECT nt FROM ${tag}nt) AS n_true)""".stripMargin

  /** One full chooser replay (truth, per-config candidates, both ppm
    * axes, floors, argmin) over `${tag}sh`/`${tag}mh` — run TWICE: on
    * the birth corpus and on the grown corpus.
    */
  private[graft] def st26Chooser(tag: String): String =
    s"""${tag}sizes AS (SELECT id, COUNT(*) AS n FROM ${tag}sh GROUP BY 1),
       |${tag}inter AS MATERIALIZED (
       |  SELECT x.id AS ia, y.id AS ib, COUNT(*) AS inter
       |  FROM ${tag}sh x JOIN ${tag}sh y ON y.h = x.h AND x.id < y.id
       |  GROUP BY 1, 2),
       |${tag}truth AS MATERIALIZED (
       |  SELECT i.ia, i.ib FROM ${tag}inter i
       |  JOIN ${tag}sizes na ON na.id = i.ia JOIN ${tag}sizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |${tag}nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM ${tag}truth),
       |${st26Block(tag, 2)},
       |${st26Block(tag, 4)},
       |${st26Block(tag, 8)},
       |${tag}tbl AS (SELECT * FROM ${tag}row2 UNION ALL SELECT * FROM ${tag}row4
       |              UNION ALL SELECT * FROM ${tag}row8),
       |${tag}calc AS (
       |  SELECT *,
       |    CASE WHEN n_candidates = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_candidates END AS precision_ppm,
       |    CASE WHEN n_true = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_true END AS recall_ppm
       |  FROM ${tag}tbl),
       |${tag}feas AS (
       |  SELECT *, COALESCE(precision_ppm >= 0, FALSE)
       |        AND COALESCE(recall_ppm >= 600000, FALSE) AS feasible
       |  FROM ${tag}calc),
       |${tag}sel AS (SELECT rows_per_band FROM ${tag}feas WHERE feasible
       |  ORDER BY n_candidates, rows_per_band DESC LIMIT 1)""".stripMargin

  val st26StoreRebandSql: String =
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id AS id,
       |    array_to_string(list_transform(generate_series(0, 9),
       |      j -> 'tok'||doc_id||'w'||j), ' ') AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 500000,
       |    array_to_string(list_transform(generate_series(0, 9), j ->
       |      CASE WHEN j >= 8 THEN 'mut'||doc_id||'x'||j
       |           ELSE 'tok'||doc_id||'w'||j END), ' ')
       |  FROM documents
       |  UNION ALL SELECT 9000001, '$st26BirthText'
       |  UNION ALL SELECT 9000002, '$st26BirthText'),
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |bsh AS (SELECT * FROM sh WHERE id >= 9000000),
       |bmh AS (SELECT * FROM mh WHERE id >= 9000000),
       |fsh AS (SELECT * FROM sh),
       |fmh AS (SELECT * FROM mh),
       |${st26Chooser("b")},
       |${st26Chooser("f")},
       |chosenCand AS (
       |  SELECT ia, ib FROM fcand2 WHERE 2 = (SELECT rows_per_band FROM fsel)
       |  UNION ALL
       |  SELECT ia, ib FROM fcand4 WHERE 4 = (SELECT rows_per_band FROM fsel)
       |  UNION ALL
       |  SELECT ia, ib FROM fcand8 WHERE 8 = (SELECT rows_per_band FROM fsel)),
       |pairs AS (
       |  SELECT c.ia, c.ib FROM chosenCand c
       |  JOIN ftruth t ON t.ia = c.ia AND t.ib = c.ib),
       |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
       |scores AS (
       |  SELECT id, ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 1000 AS score
       |  FROM corpus),
       |ranked AS (
       |  SELECT l.id, ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |    ORDER BY s.score DESC, l.id) AS rk
       |  FROM labels l JOIN scores s ON s.id = l.id)
       |SELECT c.id, s.score,
       |  (SELECT rows_per_band FROM bsel) AS born_rpb,
       |  (SELECT rows_per_band FROM fsel) AS final_rpb,
       |  (SELECT rows_per_band FROM bsel) <> (SELECT rows_per_band FROM fsel) AS rebanded
       |FROM corpus c JOIN scores s ON s.id = c.id
       |WHERE c.id NOT IN (SELECT r.id FROM ranked r WHERE r.rk > 1)
       |ORDER BY c.id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_d26_auto_dedup_budgeted", d26AutoDedupBudgeted, d26AutoDedupBudgetedSql),
    QuerySpec("q_e25_auto_cosine_budgeted", e25AutoCosineBudgeted, e25AutoCosineBudgetedSql),
    QuerySpec("q_st24_store_serve_memo", st24StoreServeMemo, st24StoreServeMemoSql),
    QuerySpec("q_st25_store_retrain", st25StoreRetrain, st25StoreRetrainSql),
    QuerySpec("q_st26_store_reband", st26StoreReband, st26StoreRebandSql)
  )
}
