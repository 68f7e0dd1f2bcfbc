package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{Dedup, IvfIndexStore, KeepBestIndex, KeepBestIndexStore, TextOps}

/** Round-14 additions: the production-durability and cost-posture
  * items — a STORE-BACKED keep-best index that survives a mid-stream
  * kill (q_st18), the streaming guard auto-tuned at birth (q_st19),
  * the chooser's truth cost under a BINDING informative-universe cap
  * (q_d23), the chooser pattern extended to the SimHash banded family
  * (q_d24), the perceptual-hash banded family (q_m16), and the
  * cosine hyperplane family (q_e22 — every banded family in the
  * engine now has a floor-certified chooser), the store-backed
  * IVF index under a kill/resume boundary (q_st20), the choosers
  * driving production on both new families (q_m17, q_e23), and the
  * chooser bar on the SEARCH side — anchor-tuned, floor-certified
  * probe width serving a different traffic query (q_e24) — and the
  * two themes composed: a store-backed keep-best index auto-tuned at
  * birth, killed, and resumed on its persisted birth choice (q_st21),
  * and the durable IVF store served at a read-time-certified probe
  * width across the same kill (q_st22).
  *
  * Session-scoped file (the CurationQueries pattern) so the older
  * registries stay stable.
  */
object Round14Queries {

  import QuerySpec.Q

  // ---- D23: LSH chooser under a BINDING truthDfCap ----------------------

  /** The planted boilerplate suffix: four tokens no natural document
    * carries, appended to EVERY corpus document — its two interior
    * 3-shingles ("zq0nav zq1chrome zq2footer", "zq1chrome zq2footer
    * zq3bar") are shared by every distinct content, so their rep-level
    * df is the sample's whole content universe and a cap of 64 caps
    * them out while every informative shingle (df 1–3 in the synthetic
    * corpus) survives. The junction shingles that straddle each
    * document's own tail tokens stay per-document — informative.
    */
  val boilerText = "zq0nav zq1chrome zq2footer zq3bar"

  /** Two PURE-boilerplate documents — an exact-duplicate family whose
    * ENTIRE shingle set is capped out: the within-group edge the
    * stop-shingle contract defines as NOT-true (informative Jaccard
    * 0/0), gated here so the engine's [[Dedup]] withinOf rule and
    * the oracle's member-level algebra are proven to agree on it. Ids
    * chosen so both land in the chooser's hash-gated sample
    * (hash60 % 2 = 0 for both — verified at authoring time).
    */
  val boilerOnlyIds: Seq[Long] = Seq(9000002L, 9000003L)

  def corpusBoiler(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    PipelineQueries.corpus(s, d)
      .select(col("id"), concat(col("text"), lit(" " + boilerText)).as("text"))
      .unionByName(boilerOnlyIds.map(i => (i, boilerText)).toDF("id", "text"))
  }

  val corpusBoilerSql: String =
    s"""${PipelineQueries.corpusSql},
       |corpusB AS (
       |  SELECT id, text || ' $boilerText' AS text FROM corpus
       |  UNION ALL SELECT ${boilerOnlyIds(0)}, '$boilerText'
       |  UNION ALL SELECT ${boilerOnlyIds(1)}, '$boilerText')""".stripMargin

  /** Floors measured at sf0.01 on the boilerplate-planted corpus so
    * both constraints genuinely bite under the cap (see PLANS.md r14
    * calibration note).
    */
  val d23PrecisionFloorPpm = 950000L
  val d23RecallFloorPpm = 960000L

  /** The informative-universe cap: rep-level df ≤ 64 keeps every
    * natural shingle (df 1–3) and excludes exactly the two planted
    * boilerplate shingles (df = the whole sample's content universe).
    */
  val d23TruthDfCap = 64

  /** D23: [[Dedup.chooseLshConfig]] with a BINDING `truthDfCap` — the
    * production posture for boilerplate-bearing corpora ([[Dedup
    * .nearDupPairsAuto]]'s required-parameter rule): without the cap
    * the chooser's exact-truth self-join pays Σ df² over the planted
    * chrome shingle (the sample's whole universe squared); with it,
    * truth is "exact Jaccard within the informative universe" and the
    * quadratic term is gone. The oracle replays the ENTIRE capped
    * algebra member-level: content groups → rep-level df → informative
    * universe → informative sizes/inverted-index truth → full-set
    * banding candidates → both ppm axes → floors → argmin. The planted
    * pure-boilerplate duplicate family pins the 0/0 edge: a TRUE pair
    * under full-universe truth, NOT true under the cap (its entire
    * set is capped out), while still counting as a candidate in every
    * config.
    */
  val d23LshChooseCapped: Q = (s, d) =>
    Dedup.chooseLshConfig(corpusBoiler(s, d), "id", "text",
        shingleN = 3, k = 16, rowsPerBandConfigs = Seq(2, 4, 8),
        threshold = 0.5, sampleMod = 2,
        precisionFloorPpm = d23PrecisionFloorPpm,
        recallFloorPpm = d23RecallFloorPpm,
        truthDfCap = Some(d23TruthDfCap))
      .coalesce(1).sortWithinPartitions("rows_per_band") // 3 local rows: one task, no range sort

  private def d23Block(r: Int): String = {
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

  val d23LshChooseCappedSql: String =
    s"""WITH $corpusBoilerSql,
       |sample AS (
       |  SELECT id, text FROM corpusB
       |  WHERE ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 2 = 0),
       |${PipelineQueries.shingleSqlFrom("sample")},
       |perdoc AS (
       |  SELECT id, string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS ck
       |  FROM sh GROUP BY id),
       |reps AS (SELECT MIN(id) AS id FROM perdoc GROUP BY ck),
       |repsh AS MATERIALIZED (SELECT s.id, s.h FROM sh s JOIN reps r USING (id)),
       |dfh AS (SELECT h, COUNT(*) AS df FROM repsh GROUP BY h),
       |inf AS (SELECT h FROM dfh WHERE df <= $d23TruthDfCap),
       |ish AS MATERIALIZED (SELECT s.id, s.h FROM sh s JOIN inf USING (h)),
       |isizes AS (SELECT id, COUNT(*) AS n FROM ish GROUP BY 1),
       |iinter AS MATERIALIZED (
       |  SELECT x.id AS ia, y.id AS ib, COUNT(*) AS inter
       |  FROM ish x JOIN ish y ON y.h = x.h AND x.id < y.id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT i.ia, i.ib
       |  FROM iinter i JOIN isizes na ON na.id = i.ia
       |                JOIN isizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM truth),
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |${d23Block(2)},
       |${d23Block(4)},
       |${d23Block(8)},
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
       |  SELECT *, COALESCE(precision_ppm >= $d23PrecisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $d23RecallFloorPpm, FALSE) AS feasible
       |  FROM calc),
       |sel AS (SELECT rows_per_band FROM feas WHERE feasible
       |        ORDER BY n_candidates, rows_per_band DESC LIMIT 1)
       |SELECT rows_per_band, n_bands, n_candidates, n_verified, n_true,
       |  precision_ppm, recall_ppm, feasible,
       |  feasible AND rows_per_band IN (SELECT rows_per_band FROM sel) AS chosen
       |FROM feas ORDER BY rows_per_band""".stripMargin

  // ---- D24: SimHash band-width chooser ---------------------------------

  /** Floors measured at sf0.01 so both constraints bite across the
    * band grid (measured ppm — precision 952380/296442/67994/13831 and
    * recall 330578/619834/818181/991735 for 2/3/4/6 bands): the
    * cheapest config (2 bands, 42 candidates) fails the recall floor,
    * the highest-recall config (6 bands) fails the precision floor —
    * 1.4% precision means ~70 wasted Hamming verifications per true
    * pair — so the chooser must take the middle (4 bands, the
    * production [[graft.ops.Dedup.simhashPairs]] split, now certified
    * rather than assumed). SimHash banding precision on this corpus is
    * structurally low (few true pairs at Hamming ≤ 6, chunk collisions
    * quadratic in the sample) — which is exactly the information the
    * chooser exists to surface before a corpus pass.
    */
  val d24PrecisionFloorPpm = 60000L
  val d24RecallFloorPpm = 800000L
  val d24MaxDist = 6

  /** D24: [[Dedup.chooseSimhashBands]] over the planted dedup corpus —
    * the q_d21 chooser pattern on the SECOND banded family: one row
    * per band count over the 60-bit SimHash, both axes measured
    * against exact Hamming truth on the hash-gated sample (truth via
    * the pigeonhole-complete 10-band enumeration engine-side; the
    * oracle computes it as a deliberately different algebra — the
    * sample's all-pairs Hamming join), feasibility floors, cheapest
    * feasible chosen with ties to fewer bands.
    */
  val d24SimhashChoose: Q = (s, d) =>
    Dedup.chooseSimhashBands(PipelineQueries.corpus(s, d), "id", "text",
        bandConfigs = Seq(2, 3, 4, 6), maxDist = d24MaxDist, sampleMod = 2,
        precisionFloorPpm = d24PrecisionFloorPpm,
        recallFloorPpm = d24RecallFloorPpm)
      .coalesce(1).sortWithinPartitions("n_bands") // 4 local rows: one task, no range sort

  private def d24Block(nb: Int): String = {
    val w = 60 / nb
    val mask = (1L << w) - 1
    s"""banded$nb AS (
       |  SELECT id, simhash, b, (simhash >> ($w * b)) & $mask AS chunk
       |  FROM ssim, (SELECT unnest(generate_series(0, ${nb - 1})) AS b) t),
       |cand$nb AS (
       |  SELECT DISTINCT a.id AS ia, b2.id AS ib,
       |    CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
       |  FROM banded$nb a JOIN banded$nb b2
       |    ON a.b = b2.b AND a.chunk = b2.chunk AND a.id < b2.id),
       |row$nb AS (
       |  SELECT $nb AS n_bands, $w AS chunk_bits,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$nb) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$nb
       |     WHERE hamming <= $d24MaxDist) AS n_verified,
       |    (SELECT nt FROM nt) AS n_true)""".stripMargin
  }

  /** The d24 chooser CTE chain (through `sel`), parameterized by the
    * feasibility floors — d24 and d25 generate their SQL from the SAME
    * builder with their own floor pairs (no post-hoc string surgery:
    * a floor mismatch is a compile-time argument, never a silent
    * no-op replace).
    */
  private def d24ChooserCtes(precisionFloorPpm: Long,
                             recallFloorPpm: Long): String =
    s"""${PipelineQueries.corpusSql},
       |tok AS (SELECT id, unnest(string_split_regex(text, '\\s+')) AS t FROM corpus),
       |h AS (SELECT id, ${TextOps.hash60Sql("t")} AS hv FROM tok),
       |bits AS (
       |  SELECT id, i, SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i) b GROUP BY 1, 2),
       |sim AS (
       |  SELECT id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS simhash
       |  FROM bits GROUP BY id),
       |ssim AS MATERIALIZED (
       |  SELECT id, simhash FROM sim
       |  WHERE ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 2 = 0),
       |truth AS MATERIALIZED (
       |  SELECT a.id AS ia, b.id AS ib
       |  FROM ssim a JOIN ssim b ON a.id < b.id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $d24MaxDist),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM truth),
       |${d24Block(2)},
       |${d24Block(3)},
       |${d24Block(4)},
       |${d24Block(6)},
       |tbl AS (SELECT * FROM row2 UNION ALL SELECT * FROM row3
       |        UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row6),
       |calc AS (
       |  SELECT *,
       |    CASE WHEN n_candidates = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_candidates END AS precision_ppm,
       |    CASE WHEN n_true = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_true END AS recall_ppm
       |  FROM tbl),
       |feas AS (
       |  SELECT *, COALESCE(precision_ppm >= $precisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $recallFloorPpm, FALSE) AS feasible
       |  FROM calc),
       |sel AS (SELECT n_bands FROM feas WHERE feasible
       |        ORDER BY n_candidates, n_bands LIMIT 1)""".stripMargin

  val d24SimhashChooseSql: String =
    s"""WITH ${d24ChooserCtes(d24PrecisionFloorPpm, d24RecallFloorPpm)}
       |SELECT n_bands, chunk_bits, n_candidates, n_verified, n_true,
       |  precision_ppm, recall_ppm, feasible,
       |  feasible AND n_bands IN (SELECT n_bands FROM sel) AS chosen
       |FROM feas ORDER BY n_bands""".stripMargin

  // ---- D25: auto-tuned SimHash near-dup pairs ---------------------------

  /** D25 floors — sized so a config CERTIFIES at every gated scale
    * while both axes still bite everywhere (measured ppm per scale in
    * PLANS.md): the precision floor rejects 6 bands at all three
    * scales, the recall floor rejects 2 bands at all three, and the
    * choice MOVES with the data (4 bands at sf0.001, 3 at sf0.01, 4 at
    * sf0.1). d24 keeps its own tighter pair, under which sf0.1 has NO
    * feasible config — the refusal this gate's floors are sized to
    * avoid is itself demonstrated there (chosen = none in d24's sf0.1
    * table), and DedupSpec pins the refusal path.
    */
  val d25PrecisionFloorPpm = 30000L
  val d25RecallFloorPpm = 600000L

  /** D25: [[Dedup.simhashPairsAuto]] — the q_d22 bar on the LAST
    * banded family without a production auto path: the chooser picks
    * the band count on the hash-gated sample, the full-corpus
    * in-bucket-Hamming pass runs at it with `n_bands` provenance, and
    * an uncertifiable sample REFUSES. The corpus signatures are
    * computed once for both phases. Oracle = the d24 chooser CTEs
    * (at this gate's floors) + every config's full-corpus pair
    * relation, selecting whichever the chooser picked.
    */
  val d25AutoSimhash: Q = (s, d) =>
    Dedup.simhashPairsAuto(PipelineQueries.corpus(s, d), "id", "text",
        bandConfigs = Seq(2, 3, 4, 6), maxDist = d24MaxDist,
        gate = graft.ops.SampleGate.Mod(2),
        precisionFloorPpm = d25PrecisionFloorPpm,
        recallFloorPpm = d25RecallFloorPpm)
      .orderBy("ia", "ib")

  private def d25FullBlock(nb: Int): String = {
    val w = 60 / nb
    val mask = (1L << w) - 1
    s"""fbanded$nb AS (
       |  SELECT id, simhash, b, (simhash >> ($w * b)) & $mask AS chunk
       |  FROM sim, (SELECT unnest(generate_series(0, ${nb - 1})) AS b) t),
       |fcand$nb AS (
       |  SELECT DISTINCT a.id AS ia, b2.id AS ib,
       |    CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
       |  FROM fbanded$nb a JOIN fbanded$nb b2
       |    ON a.b = b2.b AND a.chunk = b2.chunk AND a.id < b2.id)""".stripMargin
  }

  val d25AutoSimhashSql: String =
    s"""WITH ${d24ChooserCtes(d25PrecisionFloorPpm, d25RecallFloorPpm)},
       |${d25FullBlock(2)},
       |${d25FullBlock(3)},
       |${d25FullBlock(4)},
       |${d25FullBlock(6)}
       |SELECT ia, ib, hamming, n_bands FROM (
       |  SELECT ia, ib, hamming, 2 AS n_bands FROM fcand2
       |  WHERE hamming <= $d24MaxDist AND 2 = (SELECT n_bands FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, hamming, 3 AS n_bands FROM fcand3
       |  WHERE hamming <= $d24MaxDist AND 3 = (SELECT n_bands FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, hamming, 4 AS n_bands FROM fcand4
       |  WHERE hamming <= $d24MaxDist AND 4 = (SELECT n_bands FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, hamming, 6 AS n_bands FROM fcand6
       |  WHERE hamming <= $d24MaxDist AND 6 = (SELECT n_bands FROM sel))
       |ORDER BY ia, ib""".stripMargin

  // ---- ST18: store-backed keep-best index, killed and resumed ----------

  /** ST18: [[graft.ops.KeepBestIndexStore]] under the failure q_st17's
    * in-memory index cannot survive. The d20 corpus arrives as TWO
    * streams against one store directory: the first instance ingests
    * half the corpus (two micro-batches) and is KILLED (discarded —
    * its executor-side blocks with it, which is the point: state lives
    * in the store's committed parquet, not in the JVM); a poisoned
    * MID-BATCH partial (absurd scores, no `_COMMIT` marker) is planted
    * to simulate a crash during the next write; a SECOND instance
    * opens the same directory — open() must NOT touch it (reader-safe
    * open; the partial stays invisible until the resumed ingest claims
    * its number, both asserted) — and ingests the rest. Final
    * survivors must equal the BATCH keep-best purge of the whole
    * corpus: the oracle is literally q_d20's SQL, the q_st17 bar, now
    * passed ACROSS a kill/resume boundary.
    */
  val st18StoreKeepBest: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    graft.ops.TempFiles.withTempDir("graft-st18") { root =>
      val corpus = PipelineQueries.corpus(s, d)
      val quarter = pmod(TextOps.hash60(col("id").cast("string")), lit(4L))
      val srcA = new java.io.File(root, "srcA").getAbsolutePath
      val srcB = new java.io.File(root, "srcB").getAbsolutePath
      corpus.filter(quarter < 2).repartition(2, col("id")).write.parquet(srcA)
      corpus.filter(quarter >= 2).repartition(2, col("id")).write.parquet(srcB)
      val storeDir = new java.io.File(root, "store").getAbsolutePath
      val score = pmod(TextOps.hash60(col("id").cast("string")), lit(1000L))
      def stream(src: String, idx: KeepBestIndexStore): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger(0)
        val schema = s.read.parquet(src).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) => {
          n.incrementAndGet()
          idx.ingest(batch, "id", "text", score)
        }
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        n.get()
      }
      val nA = stream(srcA, KeepBestIndexStore.open(s, storeDir))
      require(nA >= 2,
        s"first stream delivered $nA batch(es); the multi-batch contract needs >= 2")
      // the kill: instance 1 is gone. Plant the mid-batch crash artifact —
      // a partial b=2 with poisoned scores and NO _COMMIT; if resume ever
      // read it, these winners would flip and the d20 hash would mismatch.
      val partial = new java.io.File(storeDir, s"b=$nA")
      corpus.limit(5)
        .select(col("id").cast("long").as("id"), lit(999999L).as("score"),
          lit(nA).as("b"))
        .write.parquet(new java.io.File(partial, "scored").getAbsolutePath)
      val idx2 = KeepBestIndexStore.open(s, storeDir)
      require(partial.exists(),
        "open() must not mutate the root — the partial is the writer's to " +
          "reclaim at its next claim of the number")
      val nB = stream(srcB, idx2)
      require(nB >= 2,
        s"second stream delivered $nB batch(es); the multi-batch contract needs >= 2")
      require(new java.io.File(partial, "_COMMIT").exists(),
        "the resumed ingest must claim the partial's number and commit over it")
      idx2.survivors.orderBy("id").localCheckpoint(eager = true)
    }
  }
  /** The batch keep-best purge IS the oracle — the q_st17 bar, across
    * a kill/resume boundary.
    */
  val st18StoreKeepBestSql: String = CurationQueries.d20PurgeBestSql

  // ---- ST19: streaming keep-best auto-tuned on its first batch ---------

  /** Floors for the first-batch chooser, calibrated at sf0.01 on the
    * quarter-corpus first batch (169 docs, 11 true pairs; measured
    * precision_ppm 785714/1000000/1000000 for rpb 2/4/8): the
    * precision floor rejects rpb=2, rpb=4 and rpb=8 tie on candidate
    * count and the tie rule takes the larger rowsPerBand — feasible at
    * every gated scale (sf0.001/0.01/0.1 probed via the oracle), so
    * the stream always STARTS; the refusal path (uncertifiable sample,
    * fires BEFORE any state accumulates) is DedupSpec's pin.
    */
  val st19PrecisionFloorPpm = 900000L
  val st19RecallFloorPpm = 900000L

  /** ST19: the streaming guard certified at birth — q_st17's index
    * with [[KeepBestIndex.AutoTune]]: the FIRST batch's hash-gated
    * sample is priced by the chooser, the cheapest feasible banding
    * drives every batch (carried out as the `rows_per_band` provenance
    * column), and the final survivors must equal the BATCH keep-best
    * purge at that config. The first batch is DETERMINISTIC — the
    * corpus splits on a seeded hash (`seededHash60('stb', id) % 4`)
    * into four single-file batches whose modification times force the
    * file source's oldest-first order (asserted in-stream: batch 1
    * must be exactly split 0) — so the oracle can replay the whole
    * dynamic decision: the chooser on split 0's sample, all three
    * configs' full-corpus keep-best survivor sets, and the selection
    * of whichever config the chooser picked (the q_d22 pattern, lifted
    * to the streaming path).
    */
  val st19StreamAutotuned: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    graft.ops.TempFiles.withTempDir("graft-st19") { root =>
      val corpus = PipelineQueries.corpus(s, d)
      val batchOf = pmod(
        TextOps.seededHash60(lit("stb"), col("id").cast("string")), lit(4L))
      val srcDir = new java.io.File(root, "src")
      srcDir.mkdirs()
      val t0 = System.currentTimeMillis() - 3600000L
      (0 until 4).foreach { b =>
        val tmp = new java.io.File(root, s"w$b")
        corpus.filter(batchOf === b).coalesce(1)
          .write.parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file for split $b"))
        val dst = new java.io.File(srcDir, f"$b%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // oldest-first: the file source orders by modification time
        require(dst.setLastModified(t0 + b * 2000L), "setLastModified failed")
      }
      // sampleMod = 1: the first batch IS the sample. The usual
      // hash-gated half-sample composes badly with the batch split
      // here — a planted pair survives both gates with p = 1/64, and
      // at sf0.01 ZERO truth pairs survived, leaving every config
      // infeasible (measured; a zero-truth sample never certifies —
      // by design). The exact-truth cost is batch-bounded either way,
      // which is the contract that makes first-batch tuning affordable.
      val idx = new KeepBestIndex(s, tuning = Some(KeepBestIndex.AutoTune(
        rowsPerBandConfigs = Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = st19PrecisionFloorPpm,
        recallFloorPpm = st19RecallFloorPpm,
        // the planted corpus is boilerplate-free by construction (the
        // q_d22 posture; q_d23 gates the binding-cap algebra)
        truthDfCap = None)))
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val step: (Dataset[Row], Long) => Unit = (batch, _) => {
        if (nBatches.incrementAndGet() == 1) {
          // the oracle replays the chooser on split 0 — assert the
          // source's order so a listing-order regression fails LOUDLY
          // instead of silently tuning on the wrong batch
          val stray = batch.filter(
            pmod(TextOps.seededHash60(lit("stb"), col("id").cast("string")),
              lit(4L)) =!= 0).limit(1).collect()
          require(stray.isEmpty,
            "first micro-batch is not split 0 — file-source ordering broke")
        }
        idx.ingest(batch, "id", "text",
          pmod(TextOps.hash60(col("id").cast("string")), lit(1000L)))
      }
      val q = s.readStream.schema(s.read.parquet(srcDir.getAbsolutePath).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.getAbsolutePath)
        .writeStream.foreachBatch(step)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(nBatches.get() >= 2,
        s"stream delivered ${nBatches.get()} batch(es); the multi-batch contract needs >= 2")
      idx.survivors
        .withColumn("rows_per_band", lit(idx.chosenRowsPerBand.get))
        .orderBy("id").localCheckpoint(eager = true)
    }
  }

  /** Sample-side chooser blocks over split 0 (the d21 algebra on the
    * batch's sample).
    */
  private def st19SampleBlock(r: Int): String = {
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
       |  SELECT $r AS rows_per_band,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM scand$r) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT)
       |     FROM scand$r c JOIN struth t ON t.ia = c.ia AND t.ib = c.ib) AS n_verified,
       |    (SELECT nt FROM snt) AS n_true)""".stripMargin
  }

  /** Full-corpus banding + candidates per config. */
  private def st19FullBlock(r: Int): String =
    s"""fbands$r AS (
       |  SELECT id, j // $r AS band,
       |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY 1, 2),
       |fcand$r AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM fbands$r a JOIN fbands$r b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id)""".stripMargin

  /** Keep-best survivors per config: the d20 recursive-closure +
    * score-window algebra, restricted to that config's verified pairs.
    */
  private def st19SurvBlock(r: Int): String =
    s"""pairs$r AS MATERIALIZED (
       |  SELECT v.ia, v.ib FROM ver v JOIN fcand$r c ON c.ia = v.ia AND c.ib = v.ib),
       |edges$r AS (SELECT ia AS a, ib AS b FROM pairs$r
       |            UNION SELECT ib, ia FROM pairs$r),
       |reach$r(a, b) AS (
       |  SELECT a, b FROM edges$r
       |  UNION
       |  SELECT x.a, e.b FROM reach$r x JOIN edges$r e ON x.b = e.a),
       |labels$r AS (
       |  SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach$r GROUP BY a),
       |ranked$r AS (
       |  SELECT l.id,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY s.score DESC, l.id) AS rk
       |  FROM labels$r l JOIN scores s ON s.id = l.id),
       |surv$r AS (
       |  SELECT c.id, s.score FROM corpus c JOIN scores s ON s.id = c.id
       |  WHERE c.id NOT IN (SELECT id FROM ranked$r WHERE rk > 1))""".stripMargin

  val st19StreamAutotunedSql: String =
    s"""WITH RECURSIVE ${PipelineQueries.corpusSql},
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${Dedup.minhashSql(16)}),
       |b0 AS (
       |  SELECT id FROM corpus
       |  WHERE ${TextOps.seededHash60Sql("'stb'", "CAST(id AS VARCHAR)")} % 4 = 0),
       |smp AS (SELECT id FROM b0),
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
       |${st19SampleBlock(2)},
       |${st19SampleBlock(4)},
       |${st19SampleBlock(8)},
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
       |  SELECT *, COALESCE(precision_ppm >= $st19PrecisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $st19RecallFloorPpm, FALSE) AS feasible
       |  FROM scalc),
       |sel AS (SELECT rows_per_band FROM sfeas WHERE feasible
       |        ORDER BY n_candidates, rows_per_band DESC LIMIT 1),
       |${st19FullBlock(2)},
       |${st19FullBlock(4)},
       |${st19FullBlock(8)},
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
       |  SELECT i.ia, i.ib
       |  FROM inter i JOIN sizes na ON na.id = i.ia JOIN sizes nb ON nb.id = i.ib
       |  WHERE i.inter * 1.0 / (na.n + nb.n - i.inter) >= 0.5),
       |scores AS (
       |  SELECT id, ${TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 1000 AS score
       |  FROM corpus),
       |${st19SurvBlock(2)},
       |${st19SurvBlock(4)},
       |${st19SurvBlock(8)}
       |SELECT s.id, s.score,
       |  (SELECT rows_per_band FROM sel) AS rows_per_band
       |FROM (
       |  SELECT * FROM surv2 WHERE 2 = (SELECT rows_per_band FROM sel)
       |  UNION ALL
       |  SELECT * FROM surv4 WHERE 4 = (SELECT rows_per_band FROM sel)
       |  UNION ALL
       |  SELECT * FROM surv8 WHERE 8 = (SELECT rows_per_band FROM sel)) s
       |ORDER BY s.id""".stripMargin

  // ---- M16: perceptual-hash band-count chooser --------------------------

  /** Floors calibrated at sf0.01 (measured ppm — precision
    * 762029/223604/121769 and recall 988649/1000000/1000000 for 2/4/8
    * bands) so both constraints bite across the band grid: the recall
    * floor rejects the cheapest config (2 bands misses ~1.1% of true
    * pairs — wide 32-bit chunks lose any pair whose two flipped bits
    * straddle both halves), the precision floor rejects 8 bands
    * (12% precision = ~8 wasted Hamming verifications per true pair
    * for zero recall gain over 4 bands on this corpus), and the
    * production 4×16-bit split ([[graft.ops.Multimodal
    * .bandedHammingPairs]]) is chosen on evidence.
    */
  val m16PrecisionFloorPpm = 200000L
  val m16RecallFloorPpm = 990000L
  val m16MaxDist = 4

  /** M16: [[graft.ops.Multimodal.chooseHammingBands]] over the REAL
    * decode pipeline's dHashes — the q_d21/q_d24 chooser pattern on
    * the THIRD banded family (64-bit perceptual hash): one row per
    * band count, both axes measured against exact Hamming truth on
    * the hash-gated sample (truth via the pigeonhole-complete 16-band
    * enumeration engine-side; the oracle computes it as a
    * deliberately different algebra — the sample's all-pairs Hamming
    * join over its own pixel-math hash replay), feasibility floors,
    * cheapest feasible chosen with ties to fewer bands. The codec is
    * INSIDE the gate: hashes come from actual PNG decodes, so the
    * chooser row only matches if decode + hash + banding + truth all
    * agree with the oracle's integer replay.
    */
  val m16HammingChoose: Q = (s, d) => {
    import s.implicits._
    val hashes = graft.ops.Multimodal
      .imageDHash(PipelineQueries.imageRecords(s, d)).toDF()
    graft.ops.Multimodal.chooseHammingBands(hashes,
        bandConfigs = Seq(2, 4, 8), maxDist = m16MaxDist, sampleMod = 2,
        precisionFloorPpm = m16PrecisionFloorPpm,
        recallFloorPpm = m16RecallFloorPpm)
      .coalesce(1).sortWithinPartitions("n_bands") // 3 local rows: one task, no range sort
  }

  private def m16Block(nb: Int): String = {
    val w = 64 / nb
    val mask = (1L << w) - 1
    val half = nb / 2
    s"""banded$nb AS (
       |  SELECT m, dh_hi, dh_lo, b,
       |    CASE WHEN b < $half THEN (dh_lo >> ($w * b)) & $mask
       |         ELSE (dh_hi >> ($w * (b - $half))) & $mask END AS chunk
       |  FROM shash, (SELECT unnest(generate_series(0, ${nb - 1})) AS b) t),
       |cand$nb AS (
       |  SELECT DISTINCT a.m AS ia, b2.m AS ib,
       |    CAST(bit_count(xor(a.dh_hi, b2.dh_hi))
       |       + bit_count(xor(a.dh_lo, b2.dh_lo)) AS INT) AS hamming
       |  FROM banded$nb a JOIN banded$nb b2
       |    ON a.b = b2.b AND a.chunk = b2.chunk AND a.m < b2.m),
       |row$nb AS (
       |  SELECT $nb AS n_bands, $w AS chunk_bits,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$nb) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$nb
       |     WHERE hamming <= $m16MaxDist) AS n_verified,
       |    (SELECT nt FROM nt) AS n_true)""".stripMargin
  }

  /** The m16 chooser CTE chain (through `sel`) — shared verbatim with
    * the q_m17 auto oracle so the replayed decision can never drift
    * between the two gates.
    */
  private val m16ChooserCtes: String =
    s"""${PipelineQueries.m4HashCte},
       |shash AS MATERIALIZED (
       |  SELECT m, dh_hi, dh_lo FROM hashes
       |  WHERE ${TextOps.hash60Sql("CAST(m AS VARCHAR)")} % 2 = 0),
       |truth AS MATERIALIZED (
       |  SELECT a.m AS ia, b.m AS ib
       |  FROM shash a JOIN shash b ON a.m < b.m
       |  WHERE bit_count(xor(a.dh_hi, b.dh_hi))
       |      + bit_count(xor(a.dh_lo, b.dh_lo)) <= $m16MaxDist),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM truth),
       |${m16Block(2)},
       |${m16Block(4)},
       |${m16Block(8)},
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
       |  SELECT *, COALESCE(precision_ppm >= $m16PrecisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $m16RecallFloorPpm, FALSE) AS feasible
       |  FROM calc),
       |sel AS (SELECT n_bands FROM feas WHERE feasible
       |        ORDER BY n_candidates, n_bands LIMIT 1)""".stripMargin

  val m16HammingChooseSql: String =
    s"""WITH $m16ChooserCtes
       |SELECT n_bands, chunk_bits, n_candidates, n_verified, n_true,
       |  precision_ppm, recall_ppm, feasible,
       |  feasible AND n_bands IN (SELECT n_bands FROM sel) AS chosen
       |FROM feas ORDER BY n_bands""".stripMargin

  // ---- M17: auto-tuned perceptual near-dup pairs -------------------------

  /** M17: [[graft.ops.Multimodal.bandedHammingPairsAuto]] — the q_d22
    * "chooser drives production" bar on the perceptual family: the
    * m16 chooser (same floors, same sample) picks the band count, the
    * full-corpus banded-Hamming pass runs at it, provenance rides out
    * as `n_bands`, and an uncertifiable sample REFUSES before any
    * corpus work. The oracle replays the ENTIRE dynamic decision —
    * the m16 chooser CTEs verbatim plus all three configs'
    * full-corpus pair relations — so the gate survives a regeneration
    * that moves the choice.
    */
  val m17AutoHamming: Q = (s, d) => {
    import s.implicits._
    // checkpoint: the hashes feed BOTH phases (chooser sample + corpus
    // pass) — without it every PNG decodes twice
    val hashes = graft.ops.Multimodal
      .imageDHash(PipelineQueries.imageRecords(s, d)).toDF()
      .localCheckpoint(true)
    graft.ops.Multimodal.bandedHammingPairsAuto(hashes,
        maxDist = m16MaxDist, bandConfigs = Seq(2, 4, 8),
        gate = graft.ops.SampleGate.Mod(2),
        precisionFloorPpm = m16PrecisionFloorPpm,
        recallFloorPpm = m16RecallFloorPpm)
      .orderBy("ia", "ib")
  }

  private def m17FullBlock(nb: Int): String = {
    val w = 64 / nb
    val mask = (1L << w) - 1
    val half = nb / 2
    s"""fbanded$nb AS (
       |  SELECT m, dh_hi, dh_lo, b,
       |    CASE WHEN b < $half THEN (dh_lo >> ($w * b)) & $mask
       |         ELSE (dh_hi >> ($w * (b - $half))) & $mask END AS chunk
       |  FROM hashes, (SELECT unnest(generate_series(0, ${nb - 1})) AS b) t),
       |fcand$nb AS (
       |  SELECT DISTINCT a.m AS ia, b2.m AS ib,
       |    CAST(bit_count(xor(a.dh_hi, b2.dh_hi))
       |       + bit_count(xor(a.dh_lo, b2.dh_lo)) AS INT) AS hamming
       |  FROM fbanded$nb a JOIN fbanded$nb b2
       |    ON a.b = b2.b AND a.chunk = b2.chunk AND a.m < b2.m)""".stripMargin
  }

  val m17AutoHammingSql: String =
    s"""WITH $m16ChooserCtes,
       |${m17FullBlock(2)},
       |${m17FullBlock(4)},
       |${m17FullBlock(8)}
       |SELECT ia, ib, hamming, n_bands FROM (
       |  SELECT ia, ib, hamming, 2 AS n_bands FROM fcand2
       |  WHERE hamming <= $m16MaxDist AND 2 = (SELECT n_bands FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, hamming, 4 AS n_bands FROM fcand4
       |  WHERE hamming <= $m16MaxDist AND 4 = (SELECT n_bands FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, hamming, 8 AS n_bands FROM fcand8
       |  WHERE hamming <= $m16MaxDist AND 8 = (SELECT n_bands FROM sel))
       |ORDER BY ia, ib""".stripMargin

  // ---- E22: cosine-LSH plane-count chooser -------------------------------

  /** Guarded cosine for the oracle SQL — mirrors `Vectors.rankCosine`
    * (the PipelineQueries.cosSql rule): NaN maps to -1.0.
    */
  private[graft] def cosSql(x: String, y: String): String = {
    val c = s"list_dot_product($x, $y) / (sqrt(list_dot_product($x, $x)) * sqrt(list_dot_product($y, $y)))"
    s"(CASE WHEN isnan($c) THEN -1.0 ELSE $c END)"
  }

  /** Floors calibrated at sf0.01 (measured ppm — precision
    * 783/1332/2722 and recall 423728/186440/101694 for 2/4/6 planes)
    * so both constraints bite across the plane grid: the precision
    * floor rejects 2 planes, the recall floor rejects 6, and the
    * production 4-plane operating point (q_e4's [[graft.ops.Vectors
    * .cosineDupPairs]] call) is chosen on evidence. The absolute
    * numbers ARE the finding: a single-bucket AND-construction at
    * threshold 0.4 runs at 0.13% precision and 19% recall on this
    * corpus — the quantified case for the multi-probe and IVF paths
    * (q_e5/q_e3) the engine already ships, surfaced before any corpus
    * pass.
    */
  val e22PrecisionFloorPpm = 1000L
  val e22RecallFloorPpm = 150000L
  val e22Threshold = 0.4

  /** E22: [[graft.ops.Vectors.chooseCosinePlanes]] over the embedding
    * corpus — the chooser pattern on the FOURTH banded family, the
    * hyperplane AND-construction: one row per plane count, candidacy
    * = same full bucket, verified by exact cosine ≥ 0.4 computed
    * in-bucket, truth = the family's own brute-force posture
    * (rep-level all-pairs cosine over the hash-gated sample,
    * cap-refused above `truthRepCap`). The oracle replays signature,
    * nested-mask candidacy, member-level counting, both ppm axes,
    * floors, and the tie-to-more-planes argmin.
    */
  val e22CosineChoose: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    graft.ops.Vectors.chooseCosinePlanes(vecs, "e", "vec_id",
        planeConfigs = Seq(2, 4, 6), dim = 64, threshold = e22Threshold,
        sampleMod = 1,
        precisionFloorPpm = e22PrecisionFloorPpm,
        recallFloorPpm = e22RecallFloorPpm,
        // sized for the 10x decade run (sf0.1 reps ~2000, decade
        // ~20000); production raises sampleMod instead — the scaladoc's
        // contract. The cap still refuses a mis-sized call.
        truthRepCap = 25000)
      .coalesce(1).sortWithinPartitions("n_planes") // 3 local rows: one task, no range sort
  }

  private def e22Block(p: Int): String = {
    val mask = (1L << p) - 1
    s"""cand$p AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ${cosSql("a.e", "b.e")} AS cos_sim
       |  FROM j a JOIN j b
       |    ON (a.bucket & $mask) = (b.bucket & $mask) AND a.vec_id < b.vec_id),
       |row$p AS (
       |  SELECT $p AS n_planes,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$p) AS n_candidates,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$p
       |     WHERE cos_sim >= $e22Threshold) AS n_verified,
       |    (SELECT nt FROM nt) AS n_true)""".stripMargin
  }

  /** The e22 chooser CTE chain (through `sel`), parameterized by the
    * sample-gate modulus SQL and the feasibility floors — shared with
    * the q_e23 auto oracle (modulus `"1"`, the e22 floors) and the
    * q_e25 budget-derived oracle (a scalar subquery computing
    * ⌈count/budget⌉, its own floors). Same no-string-surgery rule as
    * [[d24ChooserCtes]].
    */
  private[graft] def e22ChooserCtes(modSql: String, precisionFloorPpm: Long,
                                    recallFloorPpm: Long): String =
    s"""planes AS (
       |  SELECT p, list_transform(generate_series(1, 64), j ->
       |    CASE WHEN ${TextOps.hash60Sql("CAST(p AS VARCHAR)||'_'||CAST(j AS VARCHAR)")} % 2 = 1
       |         THEN 1.0 ELSE -1.0 END) AS w
       |  FROM (SELECT unnest(generate_series(0, 5)) AS p)),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, e FROM v
       |  WHERE ${TextOps.hash60Sql("CAST(vec_id AS VARCHAR)")} % ($modSql) = 0),
       |sig AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN list_dot_product(e, w) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM sv, planes GROUP BY vec_id),
       |j AS MATERIALIZED (SELECT sv.vec_id, sv.e, sig.bucket FROM sv JOIN sig USING (vec_id)),
       |truth AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM j a JOIN j b ON a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.e", "b.e")} >= $e22Threshold),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM truth),
       |${e22Block(2)},
       |${e22Block(4)},
       |${e22Block(6)},
       |tbl AS (SELECT * FROM row2 UNION ALL SELECT * FROM row4
       |        UNION ALL SELECT * FROM row6),
       |calc AS (
       |  SELECT *,
       |    CASE WHEN n_candidates = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_candidates END AS precision_ppm,
       |    CASE WHEN n_true = 0 THEN NULL
       |         ELSE n_verified * 1000000 // n_true END AS recall_ppm
       |  FROM tbl),
       |feas AS (
       |  SELECT *, COALESCE(precision_ppm >= $precisionFloorPpm, FALSE)
       |        AND COALESCE(recall_ppm >= $recallFloorPpm, FALSE) AS feasible
       |  FROM calc),
       |sel AS (SELECT n_planes FROM feas WHERE feasible
       |        ORDER BY n_candidates, n_planes DESC LIMIT 1)""".stripMargin

  val e22CosineChooseSql: String =
    s"""WITH ${e22ChooserCtes("1", e22PrecisionFloorPpm, e22RecallFloorPpm)}
       |SELECT n_planes, n_candidates, n_verified, n_true,
       |  precision_ppm, recall_ppm, feasible,
       |  feasible AND n_planes IN (SELECT n_planes FROM sel) AS chosen
       |FROM feas ORDER BY n_planes""".stripMargin

  // ---- E23: auto-tuned cosine near-dup pairs ----------------------------

  /** E23: [[graft.ops.Vectors.cosineDupPairsAuto]] — the q_d22 bar on
    * the vector family: the e22 chooser (same floors, same sample)
    * picks the plane count, the full-corpus bucketed pass runs at it,
    * provenance rides out as `n_planes`, and an uncertifiable sample
    * REFUSES before any corpus work. The oracle replays the whole
    * dynamic decision — the e22 chooser CTEs verbatim plus every
    * config's full-corpus pair relation. (`sv`/`j` serve both the
    * chooser and the corpus pass because this gate runs sampleMod=1;
    * a production caller with a gated sample pays the corpus
    * signature pass separately, as q_d22 documents for MinHash.)
    */
  val e23AutoCosine: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    graft.ops.Vectors.cosineDupPairsAuto(vecs, "e", "vec_id",
        planeConfigs = Seq(2, 4, 6), dim = 64, threshold = e22Threshold,
        gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = e22PrecisionFloorPpm,
        recallFloorPpm = e22RecallFloorPpm,
        truthRepCap = 25000) // the e22 sizing note
      .orderBy("ia", "ib")
  }

  private[graft] def e23FullBlock(p: Int): String = {
    val mask = (1L << p) - 1
    s"""ecand$p AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    (a.bucket & $mask) AS bucket, ${cosSql("a.e", "b.e")} AS cos_sim
       |  FROM j a JOIN j b
       |    ON (a.bucket & $mask) = (b.bucket & $mask) AND a.vec_id < b.vec_id)""".stripMargin
  }

  val e23AutoCosineSql: String =
    s"""WITH ${e22ChooserCtes("1", e22PrecisionFloorPpm, e22RecallFloorPpm)},
       |${e23FullBlock(2)},
       |${e23FullBlock(4)},
       |${e23FullBlock(6)}
       |SELECT ia, ib, bucket, cos_sim, n_planes FROM (
       |  SELECT ia, ib, bucket, cos_sim, 2 AS n_planes FROM ecand2
       |  WHERE cos_sim >= $e22Threshold AND 2 = (SELECT n_planes FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, bucket, cos_sim, 4 AS n_planes FROM ecand4
       |  WHERE cos_sim >= $e22Threshold AND 4 = (SELECT n_planes FROM sel)
       |  UNION ALL
       |  SELECT ia, ib, bucket, cos_sim, 6 AS n_planes FROM ecand6
       |  WHERE cos_sim >= $e22Threshold AND 6 = (SELECT n_planes FROM sel))
       |ORDER BY ia, ib""".stripMargin

  // ---- E24: auto-probed IVF search ---------------------------------------

  /** Floor measured per SF (recall_ppm for nprobe 1/2/4: sf0.001 =
    * 900000/1e6/1e6, sf0.01 = 900000/1e6/1e6, sf0.1 = 1e6/1e6/1e6):
    * at 950000 the cheapest width (1 probe) fails at the two smaller
    * scales and passes at sf0.1 — the certified width MOVES with the
    * data (2 → 2 → 1), the oracle replays the move, and no gated
    * scale refuses.
    */
  val e24RecallFloorPpm = 950000L

  /** E24: [[graft.ops.Vectors.ivfSearchAuto]] — the chooser bar on the
    * SEARCH side: nprobe tuned on the ANCHOR query (vec 0) against
    * exact brute-force truth, the cheapest floor-feasible width serves
    * the TRAFFIC query (vec 5), provenance rides out as `nprobe`, an
    * unreachable floor REFUSES. Tune and serve share one assignment
    * pass. The oracle replays the tuning table, the argmin, and every
    * width's serve result, selecting whichever the tuner picked.
    */
  val e24AutoProbe: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
    val corpus = vecs.filter(!$"vid".isin(0L, 5L))
    val cents = vecs.filter($"vid" < 8).select($"vid".as("cid"), $"e".as("ce"))
    graft.ops.Vectors.ivfSearchAuto(corpus, cents,
        tuneQuery = vecs.filter($"vid" === 0).select($"e"),
        serveQuery = vecs.filter($"vid" === 5).select($"e"),
        k = 10, nprobes = Seq(1, 2, 4),
        recallFloorPpm = e24RecallFloorPpm)
      .select($"vid".as("vec_id"), $"cid", $"cos_sim", $"nprobe")
  }

  private def e24TuneBlock(np: Int): String =
    s"""tcells$np AS (SELECT cid FROM cent, tq
       |  ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT $np),
       |tscan$np AS (SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM assigned a JOIN tcells$np USING (cid), tq),
       |ttop$np AS (SELECT vid FROM tscan$np ORDER BY cs DESC, vid LIMIT 10),
       |trow$np AS (SELECT $np AS nprobe,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tscan$np) AS n_scanned,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ttop$np JOIN brute USING (vid))
       |    * 1000000 // 10 AS recall_ppm)""".stripMargin

  private def e24ServeBlock(np: Int): String =
    s"""scells$np AS (SELECT cid FROM cent, sq
       |  ORDER BY ${cosSql("ce", "sqe")} DESC, cid LIMIT $np),
       |serve$np AS (
       |  SELECT vec_id, cid, cos_sim FROM (
       |    SELECT a.vid AS vec_id, a.cid, ${cosSql("a.e", "sq.sqe")} AS cos_sim
       |    FROM assigned a JOIN scells$np USING (cid), sq
       |    ORDER BY cos_sim DESC, a.vid LIMIT 10))""".stripMargin

  val e24AutoProbeSql: String =
    s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vid AS cid, e AS ce FROM v WHERE vid < 8),
       |tq AS (SELECT e AS tqe FROM v WHERE vid = 0),
       |sq AS (SELECT e AS sqe FROM v WHERE vid = 5),
       |corpus AS (SELECT vid, e FROM v WHERE vid NOT IN (0, 5)),
       |assigned AS (
       |  SELECT vid, cid, e FROM (
       |    SELECT c2.vid, c.cid, c2.e,
       |      ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |        ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM corpus c2, cent c)
       |  WHERE rn = 1),
       |brute AS (SELECT vid FROM corpus, tq
       |  ORDER BY ${cosSql("e", "tqe")} DESC, vid LIMIT 10),
       |${e24TuneBlock(1)},
       |${e24TuneBlock(2)},
       |${e24TuneBlock(4)},
       |trows AS (SELECT * FROM trow1 UNION ALL SELECT * FROM trow2
       |          UNION ALL SELECT * FROM trow4),
       |sel AS (SELECT nprobe FROM trows WHERE recall_ppm >= $e24RecallFloorPpm
       |        ORDER BY n_scanned, nprobe LIMIT 1),
       |${e24ServeBlock(1)},
       |${e24ServeBlock(2)},
       |${e24ServeBlock(4)}
       |SELECT vec_id, cid, cos_sim, nprobe FROM (
       |  SELECT *, 1 AS nprobe FROM serve1 WHERE 1 = (SELECT nprobe FROM sel)
       |  UNION ALL
       |  SELECT *, 2 AS nprobe FROM serve2 WHERE 2 = (SELECT nprobe FROM sel)
       |  UNION ALL
       |  SELECT *, 4 AS nprobe FROM serve4 WHERE 4 = (SELECT nprobe FROM sel))
       |ORDER BY cos_sim DESC, vec_id""".stripMargin

  // ---- ST20: store-backed IVF index, killed and resumed ----------------

  /** ST20: [[graft.ops.IvfIndexStore]] under the failure q_st15's
    * in-memory stream cannot survive — the keep-best durability bar
    * (q_st18) applied to the ANN family. The embedding corpus arrives
    * as TWO streams against one store directory: the first instance
    * ingests half (two micro-batches) and is KILLED (its
    * executor-side state with it — the store's committed parquet is
    * the only survivor); a poisoned MID-BATCH partial is planted — a
    * fake vid assigned to the query's own cell with the query's exact
    * vector, so if resume ever read it, it would top the search at
    * cosine 1.0 and flip the oracle hash; a SECOND instance opens the
    * same directory under the SAME centroid layout (the fingerprint
    * admits it) WITHOUT touching the partial (reader-safe open — it
    * stays invisible until the resumed ingest claims its number, both
    * asserted), ingests the rest,
    * and searches. The final top-k must equal the from-scratch IVF
    * build + search: the oracle is literally q_e13's full-rebuild SQL
    * — the q_st15 bar, now passed across a kill/resume boundary.
    */
  val st20StoreIvf: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st20") { root =>
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
      // Centroids and the search query are CONFIG, not stream (the
      // q_st15 posture); the store fingerprints the layout.
      val centroids = vecs.filter($"vid" < 8)
        .select($"vid".as("cid"), $"e".as("ce")).localCheckpoint(true)
      val query = vecs.filter($"vid" === 5).select($"e").localCheckpoint(true)
      val half = pmod(TextOps.hash60(col("vid").cast("string")), lit(4L))
      val srcA = new java.io.File(root, "srcA").getAbsolutePath
      val srcB = new java.io.File(root, "srcB").getAbsolutePath
      vecs.filter($"vid" =!= 5 && half < 2)
        .repartition(2, col("vid")).write.parquet(srcA)
      vecs.filter($"vid" =!= 5 && half >= 2)
        .repartition(2, col("vid")).write.parquet(srcB)
      val storeDir = new java.io.File(root, "store").getAbsolutePath
      def stream(src: String, idx: IvfIndexStore): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger(0)
        val schema = s.read.parquet(src).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) => {
          n.incrementAndGet()
          idx.ingest(batch)
        }
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        n.get()
      }
      val nA = stream(srcA, IvfIndexStore.open(s, storeDir, centroids))
      require(nA >= 2,
        s"first stream delivered $nA batch(es); the multi-batch contract needs >= 2")
      // the kill: instance 1 is gone. Plant the mid-batch crash artifact —
      // a partial b=nA whose row sits in the query's own probe cell (cid 5,
      // cosine 1.0 by construction) with NO _COMMIT: reading it would put
      // vid 999991 at the top of the search and flip the e13 hash.
      val partial = new java.io.File(storeDir, s"b=$nA")
      query.select(lit(999991L).as("vid"), lit(5L).as("cid"), $"e",
          lit(nA).as("b"))
        .write.parquet(new java.io.File(partial, "assigned").getAbsolutePath)
      val idx2 = IvfIndexStore.open(s, storeDir, centroids)
      require(partial.exists(),
        "open() must not mutate the root — the partial is the writer's to " +
          "reclaim at its next claim of the number")
      val nB = stream(srcB, idx2)
      require(nB >= 2,
        s"second stream delivered $nB batch(es); the multi-batch contract needs >= 2")
      require(new java.io.File(partial, "_COMMIT").exists(),
        "the resumed ingest must claim the partial's number and commit over it")
      idx2.search(query, nProbe = 2, k = 8)
        .select($"vid".as("vec_id"), $"cid", $"cos_sim")
        .localCheckpoint(eager = true)
    }
  }
  /** The from-scratch IVF build + search IS the oracle — the q_st15
    * bar, across a kill/resume boundary.
    */
  val st20StoreIvfSql: String = PipelineQueries.e13IncrIvfSql

  // ---- ST23: keep-best store compacted mid-stream, killed, resumed ------

  /** ST23: q_st18 with COMPACTION live in the loop — `compactEvery=2`
    * folds the committed view while the stream is still running, the
    * kill lands AFTER a fold (so the second instance resumes from a
    * COMPACTED store, not the original deltas), a poisoned partial is
    * planted at the post-compaction batch number, and the final
    * survivors must still hash-match the batch q_d20 oracle. Upgrades
    * compaction from spec-only evidence (KeepBestStoreSpec's
    * equivalence sims) to oracle-grade: fold + reclaim + resume +
    * continued folding, end to end against an independent engine.
    */
  val st23StoreCompacted: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    graft.ops.TempFiles.withTempDir("graft-st23") { root =>
      val corpus = PipelineQueries.corpus(s, d)
      val quarter = pmod(TextOps.hash60(col("id").cast("string")), lit(4L))
      val srcA = new java.io.File(root, "srcA").getAbsolutePath
      val srcB = new java.io.File(root, "srcB").getAbsolutePath
      corpus.filter(quarter < 2).repartition(2, col("id")).write.parquet(srcA)
      corpus.filter(quarter >= 2).repartition(2, col("id")).write.parquet(srcB)
      val storeDir = new java.io.File(root, "store").getAbsolutePath
      val score = pmod(TextOps.hash60(col("id").cast("string")), lit(1000L))
      def stream(src: String, idx: KeepBestIndexStore): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger(0)
        val schema = s.read.parquet(src).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) => {
          n.incrementAndGet()
          idx.ingest(batch, "id", "text", score)
        }
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        n.get()
      }
      val nA = stream(srcA,
        KeepBestIndexStore.open(s, storeDir, compactEvery = Some(2)))
      require(nA >= 2,
        s"first stream delivered $nA batch(es); the multi-batch contract needs >= 2")
      // the cadence MUST have fired: two ingests + compactEvery=2 fold
      // into one fresh batch, so exactly one committed dir remains and
      // its number sits past the raw batch count
      val bdirs = new java.io.File(storeDir).listFiles()
        .map(_.getName).filter(_.startsWith("b=")).toSeq
      require(bdirs.size == 1 && bdirs.head != "b=0",
        s"compaction cadence did not fold the first stream's deltas: $bdirs")
      val nextB = bdirs.head.stripPrefix("b=").toInt + 1
      val partial = new java.io.File(storeDir, s"b=$nextB")
      corpus.limit(5)
        .select(col("id").cast("long").as("id"), lit(999999L).as("score"),
          lit(nextB).as("b"))
        .write.parquet(new java.io.File(partial, "scored").getAbsolutePath)
      val idx2 = KeepBestIndexStore.open(s, storeDir, compactEvery = Some(2))
      require(partial.exists(),
        "open() must not mutate the root — the partial is the writer's to " +
          "reclaim at its next claim of the number")
      val nB = stream(srcB, idx2)
      require(nB >= 2,
        s"second stream delivered $nB batch(es); the multi-batch contract needs >= 2")
      // the resumed ingest claims the partial's number; a later fold at
      // the 2-cadence may then reclaim the whole committed batch dir
      require(!partial.exists() ||
          new java.io.File(partial, "_COMMIT").exists(),
        "the poisoned partial must be claimed-and-committed over (or folded " +
          "away), never left uncommitted")
      idx2.survivors.orderBy("id").localCheckpoint(eager = true)
    }
  }
  /** The batch keep-best purge IS the oracle — the q_st18 bar, now
    * across a kill/resume boundary that lands on a COMPACTED store.
    */
  val st23StoreCompactedSql: String = CurationQueries.d20PurgeBestSql

  // ---- ST21: store-backed keep-best, auto-tuned at birth, killed --------

  /** ST21: the round's two themes COMPOSED — q_st18's durability ×
    * q_st19's birth certification: a [[KeepBestIndexStore]] opened
    * with [[KeepBestIndexStore.openAuto]] tunes its banding on the
    * first batch's sample (st19's floors, sampleMod=1, the same
    * seeded mtime-ordered four-way split so batch 1 IS split 0), is
    * KILLED after two batches, survives a planted poisoned partial,
    * and resumes in a fresh instance that reads the BIRTH CHOICE from
    * `_tuned_rpb` — never re-chooses (the stored deltas were banded
    * at the birth choice; re-choosing on a later batch's sample would
    * mix two indexes). Final survivors + the stored `rows_per_band`
    * provenance must equal the in-memory auto-tuned stream: the
    * oracle is literally q_st19's SQL, the way q_st18 reuses q_d20's.
    */
  val st21StoreAutotuned: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    graft.ops.TempFiles.withTempDir("graft-st21") { root =>
      val corpus = PipelineQueries.corpus(s, d)
      val batchOf = pmod(
        TextOps.seededHash60(lit("stb"), col("id").cast("string")), lit(4L))
      val srcA = new java.io.File(root, "srcA"); srcA.mkdirs()
      val srcB = new java.io.File(root, "srcB"); srcB.mkdirs()
      val t0 = System.currentTimeMillis() - 3600000L
      (0 until 4).foreach { b =>
        val tmp = new java.io.File(root, s"w$b")
        corpus.filter(batchOf === b).coalesce(1)
          .write.parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file for split $b"))
        val dst = new java.io.File(if (b < 2) srcA else srcB, f"$b%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(t0 + b * 2000L), "setLastModified failed")
      }
      val storeDir = new java.io.File(root, "store").getAbsolutePath
      val score = pmod(TextOps.hash60(col("id").cast("string")), lit(1000L))
      val tune = KeepBestIndex.AutoTune(
        rowsPerBandConfigs = Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = st19PrecisionFloorPpm,
        recallFloorPpm = st19RecallFloorPpm,
        truthDfCap = None) // the planted corpus is boilerplate-free (q_d22 posture)
      def stream(src: java.io.File, idx: KeepBestIndexStore,
                 assertFirstIsSplit0: Boolean): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger(0)
        val schema = s.read.parquet(src.getAbsolutePath).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) => {
          if (n.incrementAndGet() == 1 && assertFirstIsSplit0) {
            val stray = batch.filter(
              pmod(TextOps.seededHash60(lit("stb"), col("id").cast("string")),
                lit(4L)) =!= 0).limit(1).collect()
            require(stray.isEmpty,
              "first micro-batch is not split 0 — file-source ordering broke")
          }
          idx.ingest(batch, "id", "text", score)
        }
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getAbsolutePath)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        n.get()
      }
      val idx1 = KeepBestIndexStore.openAuto(s, storeDir, tune)
      val nA = stream(srcA, idx1, assertFirstIsSplit0 = true)
      require(nA >= 2,
        s"first stream delivered $nA batch(es); the multi-batch contract needs >= 2")
      val bornAt = idx1.chosenRowsPerBand.getOrElse(
        sys.error("store not tuned after first stream"))
      // the kill. Plant the poisoned partial: absurd scores at b=nA, no
      // _COMMIT — read, they would flip the keep-best winners.
      val partial = new java.io.File(storeDir, s"b=$nA")
      corpus.limit(5)
        .select(col("id").cast("long").as("id"), lit(999999L).as("score"),
          lit(nA).as("b"))
        .write.parquet(new java.io.File(partial, "scored").getAbsolutePath)
      val idx2 = KeepBestIndexStore.openAuto(s, storeDir, tune)
      require(partial.exists(),
        "open() must not mutate the root — the partial is the writer's to " +
          "reclaim at its next claim of the number")
      require(idx2.chosenRowsPerBand.contains(bornAt),
        "resume did not read the birth choice from _tuned_rpb")
      val nB = stream(srcB, idx2, assertFirstIsSplit0 = false)
      require(nB >= 2,
        s"second stream delivered $nB batch(es); the multi-batch contract needs >= 2")
      require(new java.io.File(partial, "_COMMIT").exists(),
        "the resumed ingest must claim the partial's number and commit over it")
      idx2.survivors
        .withColumn("rows_per_band", lit(bornAt))
        .orderBy("id").localCheckpoint(eager = true)
    }
  }
  /** The in-memory auto-tuned stream's oracle IS the oracle — q_st19's
    * SQL verbatim (the q_st18/q_d20 reuse pattern).
    */
  val st21StoreAutotunedSql: String = st19StreamAutotunedSql

  // ---- ST22: certified-width search over the durable IVF store ----------

  /** ST22: [[graft.ops.IvfIndexStore.searchAuto]] — q_st20's durable
    * index served at q_e24's certified width, with the kill/resume in
    * between: the embedding corpus (minus anchor 0 and traffic 5)
    * streams into the store across a kill + poisoned partial, and the
    * resumed instance tunes nprobe on the anchor against brute-force
    * truth over the CURRENT committed state, then serves the traffic
    * query at the certified width. The probe width is a READ-time
    * decision (unlike the banding birth choice q_st21 fingerprints) —
    * it re-certifies against whatever the index holds. Oracle = the
    * q_e24 replay with this gate's corpus.
    */
  val st22StoreSearchAuto: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st22") { root =>
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
      val centroids = vecs.filter($"vid" < 8)
        .select($"vid".as("cid"), $"e".as("ce")).localCheckpoint(true)
      val tuneQ = vecs.filter($"vid" === 0).select($"e").localCheckpoint(true)
      val serveQ = vecs.filter($"vid" === 5).select($"e").localCheckpoint(true)
      val corpus = vecs.filter(!$"vid".isin(0L, 5L))
      val half = pmod(TextOps.hash60(col("vid").cast("string")), lit(4L))
      val srcA = new java.io.File(root, "srcA").getAbsolutePath
      val srcB = new java.io.File(root, "srcB").getAbsolutePath
      corpus.filter(half < 2).repartition(2, col("vid")).write.parquet(srcA)
      corpus.filter(half >= 2).repartition(2, col("vid")).write.parquet(srcB)
      val storeDir = new java.io.File(root, "store").getAbsolutePath
      def stream(src: String, idx: IvfIndexStore): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger(0)
        val schema = s.read.parquet(src).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) => {
          n.incrementAndGet()
          idx.ingest(batch)
        }
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        n.get()
      }
      val nA = stream(srcA, IvfIndexStore.open(s, storeDir, centroids))
      require(nA >= 2,
        s"first stream delivered $nA batch(es); the multi-batch contract needs >= 2")
      // kill + poisoned partial in the traffic query's own probe cell
      val partial = new java.io.File(storeDir, s"b=$nA")
      serveQ.select(lit(999992L).as("vid"), lit(5L).as("cid"), $"e",
          lit(nA).as("b"))
        .write.parquet(new java.io.File(partial, "assigned").getAbsolutePath)
      val idx2 = IvfIndexStore.open(s, storeDir, centroids)
      require(partial.exists(),
        "open() must not mutate the root — the partial is the writer's to " +
          "reclaim at its next claim of the number")
      val nB = stream(srcB, idx2)
      require(nB >= 2,
        s"second stream delivered $nB batch(es); the multi-batch contract needs >= 2")
      require(new java.io.File(partial, "_COMMIT").exists(),
        "the resumed ingest must claim the partial's number and commit over it")
      idx2.searchAuto(tuneQ, serveQ, k = 10, nprobes = Seq(1, 2, 4),
          recallFloorPpm = e24RecallFloorPpm)
        .select($"vid".as("vec_id"), $"cid", $"cos_sim", $"nprobe")
        .localCheckpoint(eager = true)
    }
  }
  /** The q_e24 replay IS the oracle — same corpus (vids minus anchor
    * and traffic), same tuning table, same argmin, same serve.
    */
  val st22StoreSearchAutoSql: String = e24AutoProbeSql

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_d23_lsh_choose_capped", d23LshChooseCapped, d23LshChooseCappedSql),
    QuerySpec("q_d24_simhash_choose", d24SimhashChoose, d24SimhashChooseSql),
    QuerySpec("q_st18_store_keepbest", st18StoreKeepBest, st18StoreKeepBestSql),
    QuerySpec("q_st19_stream_autotuned", st19StreamAutotuned, st19StreamAutotunedSql),
    QuerySpec("q_st20_store_ivf", st20StoreIvf, st20StoreIvfSql),
    QuerySpec("q_m16_hamming_choose", m16HammingChoose, m16HammingChooseSql),
    QuerySpec("q_e22_cosine_choose", e22CosineChoose, e22CosineChooseSql),
    QuerySpec("q_m17_auto_hamming", m17AutoHamming, m17AutoHammingSql),
    QuerySpec("q_e23_auto_cosine", e23AutoCosine, e23AutoCosineSql),
    QuerySpec("q_e24_auto_probe", e24AutoProbe, e24AutoProbeSql),
    QuerySpec("q_st21_store_autotuned", st21StoreAutotuned, st21StoreAutotunedSql),
    QuerySpec("q_st22_store_search_auto", st22StoreSearchAuto, st22StoreSearchAutoSql),
    QuerySpec("q_st23_store_compacted", st23StoreCompacted, st23StoreCompactedSql),
    QuerySpec("q_d25_auto_simhash", d25AutoSimhash, d25AutoSimhashSql)
  )
}
