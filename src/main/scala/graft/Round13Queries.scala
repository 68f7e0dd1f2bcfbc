package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextOps}

/** Round-13 additions to the oracle-gated registry: the LSH
  * operating-point CHOOSER (q_d21) — the decision the q_d17 precision
  * and q_d19 recall tables exist to inform, now itself oracle-gated.
  *
  * Session-scoped file (the CurationQueries pattern) so the older
  * registries stay stable.
  */
object Round13Queries {

  import QuerySpec.Q

  // ---- D21: LSH operating-point chooser --------------------------------

  /** Floors for the gated choice, picked against the sf-family corpus
    * shape so BOTH constraints genuinely bite (measured at sf0.01:
    * precision_ppm 900000/1000000/1000000 and recall_ppm
    * 1000000/1000000/952380 for rpb 2/4/8): rpb=2 fails the precision
    * floor (spurious candidates), rpb=8 — the cheapest config by
    * candidate count — fails the recall floor, so the chooser must
    * REJECT the cost minimum on feasibility and take rpb=4. The oracle
    * replays the full decision — both metrics, feasibility, and the
    * argmin — from the two tables' member-level algebra. (The
    * cost-tiebreak among multiple feasible configs is DedupSpec's
    * pin.)
    */
  val d21PrecisionFloorPpm = 950000L
  val d21RecallFloorPpm = 960000L

  /** D21: [[Dedup.chooseLshConfig]] over the planted dedup corpus —
    * one row per (bands × rowsPerBand) config carrying both measured
    * axes (precision / recall in ppm vs exact sample truth), the
    * feasibility verdict against the floors, and the `chosen` mark on
    * the cheapest feasible config (fewest candidates, ties to larger
    * rowsPerBand). One shared signature/scaffold pass prices both
    * axes: on the same sample, d17's verified set IS d19's
    * truth ∩ candidates.
    */
  val d21LshChoose: Q = (s, d) =>
    Dedup.chooseLshConfig(PipelineQueries.corpus(s, d), "id", "text",
        shingleN = 3, k = 16, rowsPerBandConfigs = Seq(2, 4, 8),
        threshold = 0.5, sampleMod = 2,
        precisionFloorPpm = d21PrecisionFloorPpm,
        recallFloorPpm = d21RecallFloorPpm)
      .coalesce(1).sortWithinPartitions("rows_per_band") // 3 local rows: one task, no range sort

  private def d21Block(r: Int): String = {
    val b = 16 / r
    s"""bands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY 1, 2),
       |cand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM bands$r a JOIN bands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |row$r AS (
       |  SELECT $r AS rows_per_band, $b AS n_bands,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$r) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT)
       |     FROM cand$r c JOIN truth t ON t.ia = c.ia AND t.ib = c.ib) AS n_verified,
       |    (SELECT nt FROM nt) AS n_true)""".stripMargin
  }

  val d21LshChooseSql: String =
    s"""WITH ${PipelineQueries.corpusSql},
       |sample AS (
       |  SELECT id, text FROM corpus
       |  WHERE ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 2 = 0),
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
       |${d21Block(2)},
       |${d21Block(4)},
       |${d21Block(8)},
       |tbl AS (SELECT * FROM row2 UNION ALL SELECT * FROM row4
       |        UNION ALL SELECT * FROM row8),
       |calc AS (
       |  SELECT *,
       |    CASE WHEN n_candidates = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_candidates END AS precision_ppm,
       |    CASE WHEN n_true = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_true END AS recall_ppm
       |  FROM tbl),
       |feas AS (
       |  SELECT *, COALESCE(precision_ppm >= $d21PrecisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $d21RecallFloorPpm, FALSE) AS feasible
       |  FROM calc),
       |sel AS (SELECT rows_per_band FROM feas WHERE feasible
       |        ORDER BY n_candidates, rows_per_band DESC LIMIT 1)
       |SELECT rows_per_band, n_bands, n_candidates, n_verified, n_true,
       |  precision_ppm, recall_ppm, feasible,
       |  feasible AND rows_per_band IN (SELECT rows_per_band FROM sel) AS chosen
       |FROM feas ORDER BY rows_per_band""".stripMargin

  // ---- D22: auto-tuned near-dup pairs (chooser drives production) ------

  /** D22: [[Dedup.nearDupPairsAuto]] — the q_d21 chooser's output
    * actually DRIVING the production operator: choose the cheapest
    * feasible banding on the hash-gated sample (the d21 floors), then
    * run the full-corpus near-dup pair relation at that configuration,
    * with the chosen `rows_per_band` carried as a provenance column.
    * The oracle replays the WHOLE dynamic decision: the sample-side
    * chooser (both axes + floors + argmin) AND the full-corpus pair
    * relation of every candidate configuration, then selects the pair
    * set belonging to whichever config the chooser picked — so the
    * gate stays green even if a future data regeneration moves the
    * choice. One verification pass covers all configs (the union of
    * their candidate sets), mirroring the engine's shared-verdict
    * shape.
    */
  val d22AutoDedup: Q = (s, d) =>
    // truthDfCap = None is a DOCUMENTED posture, not a default: the
    // planted corpus is boilerplate-free by construction (max natural
    // pairwise 3-gram Jaccard ≈ 0.03, no shared chrome), so
    // full-universe truth is the exact semantics and no shingle's df²
    // can explode. Production corpora pass Some(cap) — the q_d23 gate
    // proves the binding-cap algebra.
    Dedup.nearDupPairsAuto(PipelineQueries.corpus(s, d), "id", "text",
        truthDfCap = None, gate = graft.ops.SampleGate.Mod(2),
        precisionFloorPpm = d21PrecisionFloorPpm,
        recallFloorPpm = d21RecallFloorPpm)
      .select(col("rows_per_band"), col("ia"), col("ib"), col("jac"))
      .orderBy("ia", "ib")

  /** Sample-side chooser blocks (names prefixed `s` to coexist with
    * the full-corpus CTEs) — the d21 algebra off the FILTERED full
    * frames: sampling docs then shingling equals shingling then
    * filtering docs, because shingles and signatures are per-doc.
    */
  private[graft] def d22SampleBlock(r: Int): String = {
    val b = 16 / r
    s"""sbands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM smh GROUP BY 1, 2),
       |scand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM sbands$r a JOIN sbands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |srow$r AS (
       |  SELECT $r AS rows_per_band, $b AS n_bands,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM scand$r) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT)
       |     FROM scand$r c JOIN struth t ON t.ia = c.ia AND t.ib = c.ib) AS n_verified,
       |    (SELECT nt FROM snt) AS n_true)""".stripMargin
  }

  /** Full-corpus banding + candidate blocks per config. */
  private[graft] def d22FullBlock(r: Int): String =
    s"""fbands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY 1, 2),
       |fcand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM fbands$r a JOIN fbands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id)""".stripMargin

  val d22AutoDedupSql: String =
    s"""WITH ${PipelineQueries.corpusSql},
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |smp AS (
       |  SELECT id FROM corpus
       |  WHERE ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 2 = 0),
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
       |${d22SampleBlock(2)},
       |${d22SampleBlock(4)},
       |${d22SampleBlock(8)},
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
       |  SELECT *, COALESCE(precision_ppm >= $d21PrecisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $d21RecallFloorPpm, FALSE) AS feasible
       |  FROM scalc),
       |sel AS (SELECT rows_per_band FROM sfeas WHERE feasible
       |        ORDER BY n_candidates, rows_per_band DESC LIMIT 1),
       |${d22FullBlock(2)},
       |${d22FullBlock(4)},
       |${d22FullBlock(8)},
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
       |SELECT (SELECT rows_per_band FROM sel) AS rows_per_band, v.ia, v.ib, v.jac
       |FROM ver v JOIN chosenCand c ON c.ia = v.ia AND c.ib = v.ib
       |ORDER BY v.ia, v.ib""".stripMargin

  // ---- ST17: streaming keep-best survivor maintenance ------------------

  /** ST17: the ingest-guard column's last hop — q_st14 proved the
    * near-dup PAIR index maintains incrementally; this proves the
    * PURGE DECISION does too. The d20 corpus streams in as id-hashed
    * file batches into a [[graft.ops.KeepBestIndex]]: each batch is
    * delta-only hashed into the pair index, and the survivor set is
    * resolved from the accumulated state — so a batch-k survivor is
    * DEMOTED when a better-scoring duplicate lands later (DedupSpec
    * pins that case explicitly; the planted corpus exercises it
    * whenever a cluster's best copy is not in its first batch). Final
    * state must equal the BATCH keep-best purge: the oracle is
    * literally q_d20's SQL. Hard-fails on a single-batch collapse
    * (the multi-batch claim is the point).
    */
  val st17StreamKeepBest: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    graft.ops.TempFiles.withTempDir("graft-st17") { root =>
      val srcDir = new java.io.File(root, "src").getAbsolutePath
      PipelineQueries.corpus(s, d).repartition(4, col("id"))
        .write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      val idx = new graft.ops.KeepBestIndex(s)
      // AtomicInteger, not a var: incremented on the micro-batch thread,
      // read on the caller thread after awaitTermination — the explicit
      // happens-before, not Spark's internal synchronization.
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val step: (Dataset[Row], Long) => Unit = (batch, _) => {
        nBatches.incrementAndGet()
        idx.ingest(batch, "id", "text",
          pmod(TextOps.hash60(col("id").cast("string")), lit(1000L)))
      }
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.foreachBatch(step)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(nBatches.get() >= 2,
        s"stream delivered ${nBatches.get()} batch(es); the multi-batch contract needs >= 2")
      idx.survivors.orderBy("id").localCheckpoint(eager = true)
    }
  }
  /** The batch keep-best purge IS the oracle (see scaladoc). */
  val st17StreamKeepBestSql: String = CurationQueries.d20PurgeBestSql

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_d21_lsh_choose", d21LshChoose, d21LshChooseSql),
    QuerySpec("q_d22_auto_dedup", d22AutoDedup, d22AutoDedupSql),
    QuerySpec("q_st17_stream_keepbest", st17StreamKeepBest, st17StreamKeepBestSql)
  )
}
