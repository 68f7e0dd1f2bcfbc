package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.IvfIndexStore

/** Round-16 additions — the serving-tier durability items the r15
  * verdict ranked: the searchAuto certification PERSISTED beside the
  * store (q_st27 — a restarted serving process on unchanged state pays
  * ZERO re-certification: the decision file, keyed by committed
  * version + anchor CONTENT fingerprint + config, is the `_tuned_rpb`
  * birth-choice pattern applied to the read tier), and the maintenance
  * tick composing ingest → health metric → conditional lifecycle
  * inside a streaming job (q_st28).
  *
  * Session-scoped file (the Round15Queries pattern) so the older
  * registries stay stable.
  */
object Round16Queries {

  import QuerySpec.Q

  // ---- ST27: the persisted certification survives a process restart -----

  /** ST27: [[IvfIndexStore.searchAuto]]'s decision DURABILITY — q_st24
    * proves N serves between ingests share one certification inside a
    * process; this gate proves the certification survives the process:
    * the full corpus is ingested (three batches), serve 1 certifies
    * (engine-`require`d == 1) and persists the decision under
    * `_certified/`, then the instance is DISCARDED and the store
    * reopened from disk ([[IvfIndexStore.openPinned]] — the restart),
    * and serves 2 and 3 run with a RE-CREATED anchor frame (same rows,
    * new object — the content fingerprint must hit where the pre-r16
    * reference keying would have re-certified). The reopened instance
    * engine-`require`s `certifications == 0`: the restart re-paid the
    * shadowing assembly the state inherently costs, but NO anchor-truth
    * pass. The oracle replays the one committed state, the tuning
    * grid's cheapest floor-adequate width, and all three serves at it —
    * the same answers whether the decision was computed or re-read.
    * Columns: serve_id, vec_id, cid, cos_sim, nprobe.
    */
  val st27StoreCertPersist: Q = (s, d) => {
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st27") { root =>
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
      val centroids = vecs.filter($"vid" < 8)
        .select($"vid".as("cid"), $"e".as("ce")).localCheckpoint(true)
      val trafficA = vecs.filter($"vid" === 5).select($"e").localCheckpoint(true)
      val trafficB = vecs.filter($"vid" === 3).select($"e").localCheckpoint(true)
      val corpus = vecs.filter(!$"vid".isin(0L, 5L))
      val dir = new java.io.File(root, "store").getAbsolutePath
      val idx = IvfIndexStore.open(s, dir, centroids)
      idx.ingest(corpus.filter(pmod($"vid", lit(3L)) === 1))
      idx.ingest(corpus.filter(pmod($"vid", lit(3L)) === 2))
      idx.ingest(corpus.filter(pmod($"vid", lit(3L)) === 0))
      def serve(st: IvfIndexStore, id: Int, tune: DataFrame,
                q: DataFrame): DataFrame =
        st.searchAuto(tune, q, k = 10, nprobes = Seq(1, 2, 4),
            recallFloorPpm = Round14Queries.e24RecallFloorPpm)
          .select(lit(id).as("serve_id"), col("vid").as("vec_id"), col("cid"),
            col("cos_sim"), col("nprobe"))
      val tune1 = vecs.filter($"vid" === 0).select($"e").localCheckpoint(true)
      val s1 = serve(idx, 1, tune1, trafficA)
      require(idx.certifications == 1,
        s"st27: the first serve must pay the one certification, " +
          s"paid ${idx.certifications}")
      // THE RESTART: a fresh instance from disk, and a re-created
      // anchor frame — same rows, different object
      val re = IvfIndexStore.openPinned(s, dir)
      val tune2 = vecs.filter($"vid" === 0).select($"e").localCheckpoint(true)
      val s2 = serve(re, 2, tune2, trafficB)
      val s3 = serve(re, 3, tune2, trafficA)
      require(re.certifications == 0,
        "st27: the reopened instance must read the persisted decision and " +
          s"pay ZERO re-certification, paid ${re.certifications}")
      s1.unionByName(s2).unionByName(s3)
        .orderBy(col("serve_id"), col("cos_sim").desc, col("vec_id"))
        .localCheckpoint(eager = true)
    }
  }

  /** One state (the full corpus), one tuning decision, three serves at
    * the chosen width — serves 1/3 for traffic A, serve 2 for B. CTE
    * builders shared with the q_st24 oracle (tag B = every corpus
    * row).
    */
  val st27StoreCertPersistSql: String = {
    import Round14Queries.cosSql
    s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vid AS cid, e AS ce FROM v WHERE vid < 8),
       |corpus AS (SELECT vid, e FROM v WHERE vid NOT IN (0, 5)),
       |tq AS (SELECT e AS tqe FROM v WHERE vid = 0),
       |qA AS (SELECT e AS qqA FROM v WHERE vid = 5),
       |qB AS (SELECT e AS qqB FROM v WHERE vid = 3),
       |${Round15Queries.st24StateCtes("B", "TRUE")},
       |tc1 AS (SELECT cid FROM cent, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |tc2 AS (SELECT cid FROM cent, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 2),
       |tc4 AS (SELECT cid FROM cent, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 4),
       |${Round15Queries.st24TuneBlock("B", 1)},
       |${Round15Queries.st24TuneBlock("B", 2)},
       |${Round15Queries.st24TuneBlock("B", 4)},
       |trowsB AS (SELECT * FROM trowB1 UNION ALL SELECT * FROM trowB2
       |           UNION ALL SELECT * FROM trowB4),
       |selB AS (SELECT nprobe FROM trowsB
       |         WHERE recall_ppm >= ${Round14Queries.e24RecallFloorPpm}
       |         ORDER BY n_scanned, nprobe LIMIT 1),
       |scA1 AS (SELECT cid FROM cent, qA ORDER BY ${cosSql("ce", "qqA")} DESC, cid LIMIT 1),
       |scA2 AS (SELECT cid FROM cent, qA ORDER BY ${cosSql("ce", "qqA")} DESC, cid LIMIT 2),
       |scA4 AS (SELECT cid FROM cent, qA ORDER BY ${cosSql("ce", "qqA")} DESC, cid LIMIT 4),
       |scB1 AS (SELECT cid FROM cent, qB ORDER BY ${cosSql("ce", "qqB")} DESC, cid LIMIT 1),
       |scB2 AS (SELECT cid FROM cent, qB ORDER BY ${cosSql("ce", "qqB")} DESC, cid LIMIT 2),
       |scB4 AS (SELECT cid FROM cent, qB ORDER BY ${cosSql("ce", "qqB")} DESC, cid LIMIT 4),
       |${Round15Queries.st24ServeBlock("B", "A", 1)},
       |${Round15Queries.st24ServeBlock("B", "A", 2)},
       |${Round15Queries.st24ServeBlock("B", "A", 4)},
       |${Round15Queries.st24ServeBlock("B", "B", 1)},
       |${Round15Queries.st24ServeBlock("B", "B", 2)},
       |${Round15Queries.st24ServeBlock("B", "B", 4)}
       |SELECT serve_id, vec_id, cid, cos_sim, nprobe FROM (
       |${Round15Queries.st24ServePick(1, "B", "A")}
       |  UNION ALL
       |${Round15Queries.st24ServePick(2, "B", "B")}
       |  UNION ALL
       |${Round15Queries.st24ServePick(3, "B", "A")})
       |ORDER BY serve_id, cos_sim DESC, vec_id""".stripMargin
  }

  // ---- ST28: the composed maintenance tick -------------------------------

  /** The drift fixture for the maintenance tick: planted 8-dim
    * clustered vectors (the q_st25 jitter recipe — fully
    * SQL-replayable) whose CLUSTER DISTRIBUTION drifts across the
    * stream's batches. Batch membership is `vid % 3` (1 → first, 2 →
    * second, 0 → third; vid 0 reserved as the anchor); with g = vid/3,
    * the first batch is uniform over the 8 clusters (cluster = g % 8 —
    * round-robin, so its imbalance under the axis layout is ~10000 at
    * every scale), while the later batches are DRIFTED: cluster 0 for
    * 75% of vids (g % 4 ≠ 0) and g % 8 for the rest — ~87.5% of their
    * mass lands in cell 0, driving the post-batch-2 imbalance to
    * ~40000 deterministically.
    */
  private[graft] def st28Vecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).select($"vec_id".as("vid"))
      .withColumn("g", ($"vid" / 3).cast("long"))
      .withColumn("cluster",
        when(pmod($"vid", lit(3L)) === 1, pmod($"g", lit(8L)))
          .otherwise(when(pmod($"g", lit(4L)) =!= 0, lit(0L))
            .otherwise(pmod($"g", lit(8L)))))
      .withColumn("e", transform(sequence(lit(1), lit(8)), dd =>
        when($"cluster" === (dd - lit(1)).cast("long"), lit(1.0))
          .otherwise(lit(0.0)) +
        pmod(graft.ops.TextOps.hash60(concat($"vid".cast("string"), lit("_"),
            dd.cast("string"))), lit(1000L)).cast("double") / lit(10000.0)))
      .select($"vid", $"e")
  }

  /** The birth layout: the 8 unit axes — correct for the first batch's
    * uniform distribution, stale once the drift arrives.
    */
  private[graft] def st28AxisCentroids(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 8).map(c => (c.toLong, Seq.tabulate(8)(dd =>
        if (dd == c) 1.0 else 0.0)))
      .toDF("cid", "ce").localCheckpoint(eager = true)
  }

  /** The q_st28 policy threshold, MEASURED (St28Probe, sf0.001/0.01/
    * 0.1): tick-1 imbalance ~10060-10074 (the uniform batch under the
    * axis layout — round-robin clusters, so ~1.0× at every scale),
    * tick-2 ~39879-40030 (the drifted batch concentrates ~87.5% of its
    * mass in cell 0), tick-3 ~17955-19289 (the same drift arriving on
    * the RETRAINED layout, which splits the hot blob). 25000 sits
    * between the firing state (~40000) and both quiet states with wide
    * margins in both directions — the tick-3 reading rises mildly with
    * scale (17955 → 19289 across 4×), so 20000 would have been a
    * coin flip at the decade.
    */
  val st28MaxImbalance1e4 = 25000L

  /** Write `df` as exactly ONE parquet file named `name` under `dir`
    * with a forced modification time — the file-source micro-batch
    * ORDER is (modTime, path), and the maintenance tick's trajectory
    * is order-sensitive (the uniform batch must land before the
    * drifted one), so the gate controls both keys instead of hoping.
    */
  private def writeSingleFile(df: DataFrame, dir: java.io.File, name: String,
                              mtime: Long): Unit = {
    val tmp = new java.io.File(dir.getParentFile, name + ".tmp")
    df.repartition(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"st28: no part file under $tmp"))
    dir.mkdirs()
    val dst = new java.io.File(dir, name)
    require(part.renameTo(dst), s"st28: rename to $dst failed")
    dst.setLastModified(mtime)
    graft.ops.TempFiles.rmTree(tmp)
  }

  /** ST28: THE COMPOSED MAINTENANCE TICK — q_st25's lifecycle wired
    * where production runs it: inside a streaming ingest over the
    * pointer-managed root ([[IvfIndexStore.maintainedIngest]] — ingest
    * into the live version, read the q_e14 health metric, fire the
    * retrain rebuild when it crosses the policy). The drift fixture
    * streams three micro-batches: uniform (tick 1 stays quiet, imb
    * ~1.0×), drifted (tick 2 crosses ~4.0× → k-means retrain into a
    * fresh fingerprinted `v=1`, atomic marker flip, MID-STREAM — the
    * first stream is one AvailableNow run over two order-controlled
    * files), then THE KILL: the first stream's instance is gone, and a
    * second stream delivers the third drifted batch, whose tick opens
    * the root and lands on `v=1` as if the flip had happened in its
    * own process (tick 3 stays quiet on the retrained layout, ~1.9×).
    * Engine-`require`s pin the whole trajectory (versions 0→1→1, imb
    * quiet/fire/quiet). Readers never observe a torn state: `v=0` is
    * untouched by the flip — serve 2 re-opens it pinned AFTER
    * everything and serves exactly the pre-flip state. The oracle
    * replays both epochs end to end: axis assignment + both imbalance
    * readings, the three Lloyd iterations over the tick-2 state, the
    * post-flip assignment + tick-3 imbalance, and both serves.
    * Columns: serve_id (1 = live v=1, 2 = pinned v=0), vec_id,
    * cos_sim, imb_t1/t2/t3, live_version.
    */
  val st28MaintainedStream: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st28") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val vecs = st28Vecs(s, d).localCheckpoint(eager = true)
      val corpus = vecs.filter($"vid" >= 1)
      val anchor = vecs.filter($"vid" === 0).select($"e").localCheckpoint(true)
      IvfIndexStore.createLive(s, vroot, st28AxisCentroids(s))
      val now = System.currentTimeMillis()
      val src1 = new java.io.File(root, "src1")
      writeSingleFile(corpus.filter(pmod($"vid", lit(3L)) === 1), src1,
        "b1.parquet", now - 60000)
      writeSingleFile(corpus.filter(pmod($"vid", lit(3L)) === 2), src1,
        "b2.parquet", now - 30000)
      val ticks =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, Option[Long])]()
      def run(src: java.io.File): Unit = {
        val schema = s.read.parquet(src.getAbsolutePath).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) =>
          ticks.add(IvfIndexStore.maintainedIngest(s, vroot, batch.toDF(),
            st28MaxImbalance1e4, kNew = 8, iters = 3))
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getAbsolutePath)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run(src1)
      // THE KILL: the first stream's instance (and every in-memory
      // store handle) is gone; the root's committed state is the only
      // survivor. The resume is a new stream delivering the third batch.
      val src2 = new java.io.File(root, "src2")
      writeSingleFile(corpus.filter(pmod($"vid", lit(3L)) === 0), src2,
        "b3.parquet", now)
      run(src2)
      val tr = {
        val it = ticks.iterator()
        val b = Seq.newBuilder[(Int, Option[Long])]
        while (it.hasNext) b += it.next(); b.result()
      }
      require(tr.map(_._1) == Seq(0, 1, 1),
        s"st28: the version trajectory must be 0 -> 1 (mid-stream flip) -> 1, " +
          s"got ${tr.map(_._1)}")
      require(tr.forall(_._2.nonEmpty),
        "st28: every tick checks at the default cadence")
      val imbs = tr.map(_._2.get)
      require(imbs(0) <= st28MaxImbalance1e4 &&
          imbs(1) > st28MaxImbalance1e4 && imbs(2) <= st28MaxImbalance1e4,
        s"st28: the imbalance trajectory must be quiet/fire/quiet around " +
          s"$st28MaxImbalance1e4, got $imbs")
      require(IvfIndexStore.liveVersion(s, vroot).contains(1),
        "st28: the pointer must name the retrained version after the stream")
      val s1 = IvfIndexStore.openLive(s, vroot)
        .search(anchor, nProbe = 1, k = 10)
        .select(lit(1).as("serve_id"), $"vid".as("vec_id"), $"cos_sim")
      val s2 = IvfIndexStore.openPinned(s,
          new java.io.File(vroot, "v=0").getAbsolutePath)
        .search(anchor, nProbe = 1, k = 10)
        .select(lit(2).as("serve_id"), $"vid".as("vec_id"), $"cos_sim")
      s1.unionByName(s2)
        .withColumn("imb_t1", lit(imbs(0)))
        .withColumn("imb_t2", lit(imbs(1)))
        .withColumn("imb_t3", lit(imbs(2)))
        .withColumn("live_version", lit(1L))
        .orderBy(col("serve_id"), col("cos_sim").desc, col("vec_id"))
        .localCheckpoint(eager = true)
    }
  }

  import Round14Queries.cosSql

  /** One Lloyd iteration over the tick-2 state (`s2`) — the q_st25
    * replay shape: assign to the previous centroids, per-cell
    * element-wise mean, COALESCE keeps an emptied cell's previous
    * centroid.
    */
  private def st28KmeansIter(t: Int): String =
    s"""a_$t AS (SELECT vid, cid, e FROM (
       |  SELECT c2.vid, c.cid, c2.e,
       |    ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |      ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM s2 c2, c_${t - 1} c) WHERE rn = 1),
       |m_$t AS (SELECT cid, i, AVG(e[i]) AS mv FROM a_$t, dims GROUP BY 1, 2),
       |c_$t AS (SELECT p.cid, COALESCE(l.ce1, p.ce) AS ce FROM c_${t - 1} p
       |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS ce1 FROM m_$t GROUP BY 1) l
       |  USING (cid))""".stripMargin

  private def st28Assign(name: String, state: String, cents: String): String =
    s"""$name AS (SELECT vid, cid, e FROM (
       |  SELECT c2.vid, c.cid, c2.e,
       |    ROW_NUMBER() OVER (PARTITION BY c2.vid ORDER BY
       |      ${cosSql("c2.e", "c.ce")} DESC, c.cid) AS rn
       |  FROM $state c2, $cents c) WHERE rn = 1)""".stripMargin

  private def st28Imb(name: String, assigned: String): String =
    s"""$name AS (SELECT CAST(MAX(n) * 8 * 10000 // SUM(n) AS BIGINT) AS i
       |  FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM $assigned GROUP BY 1))""".stripMargin

  /** The [[st28Vecs]] planted corpus in SQL — shared by the st28 and
    * st30 oracles so the replayed vectors can never diverge from one
    * another.
    */
  private def st28VecCtes: String =
    s"""vc AS (
       |  SELECT vec_id AS vid,
       |    CASE WHEN vec_id % 3 = 1 THEN (vec_id // 3) % 8
       |         WHEN (vec_id // 3) % 4 <> 0 THEN 0
       |         ELSE (vec_id // 3) % 8 END AS cluster
       |  FROM embeddings),
       |v AS (
       |  SELECT vid,
       |    list_transform(generate_series(1, 8), d ->
       |      (CASE WHEN cluster = d - 1 THEN 1.0 ELSE 0.0 END)
       |      + (${graft.ops.TextOps.hash60Sql("CAST(vid AS VARCHAR)||'_'||CAST(d AS VARCHAR)")} % 1000) / 10000.0) AS e
       |  FROM vc)""".stripMargin

  val st28MaintainedStreamSql: String =
    s"""WITH ${st28VecCtes},
       |corpus AS (SELECT vid, e FROM v WHERE vid >= 1),
       |b1 AS (SELECT vid, e FROM corpus WHERE vid % 3 = 1),
       |s2 AS (SELECT vid, e FROM corpus WHERE vid % 3 <> 0),
       |cent0 AS (
       |  SELECT cid, list_transform(generate_series(1, 8), d ->
       |    CASE WHEN d - 1 = cid THEN 1.0 ELSE 0.0 END) AS ce
       |  FROM (SELECT unnest(generate_series(0, 7)) AS cid)),
       |${st28Assign("a1", "b1", "cent0")},
       |${st28Imb("imb1", "a1")},
       |${st28Assign("a2", "s2", "cent0")},
       |${st28Imb("imb2", "a2")},
       |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cid, e AS ce
       |          FROM s2 ORDER BY vid LIMIT 8),
       |dims AS (SELECT unnest(generate_series(1, 8)) AS i),
       |c_0 AS (SELECT cid, ce FROM seeds),
       |${st28KmeansIter(1)},
       |${st28KmeansIter(2)},
       |${st28KmeansIter(3)},
       |${st28Assign("a3", "corpus", "c_3")},
       |${st28Imb("imb3", "a3")},
       |tq AS (SELECT e AS tqe FROM v WHERE vid = 0),
       |nc AS (SELECT cid FROM c_3, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |serve1 AS (SELECT vid, cs FROM (
       |  SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a3 a JOIN nc USING (cid), tq ORDER BY cs DESC, a.vid LIMIT 10)),
       |oc AS (SELECT cid FROM cent0, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |serve2 AS (SELECT vid, cs FROM (
       |  SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a2 a JOIN oc USING (cid), tq ORDER BY cs DESC, a.vid LIMIT 10))
       |SELECT serve_id, vec_id, cos_sim,
       |  (SELECT i FROM imb1) AS imb_t1,
       |  (SELECT i FROM imb2) AS imb_t2,
       |  (SELECT i FROM imb3) AS imb_t3,
       |  CAST(1 AS BIGINT) AS live_version
       |FROM (
       |  SELECT 1 AS serve_id, vid AS vec_id, cs AS cos_sim FROM serve1
       |  UNION ALL
       |  SELECT 2, vid, cs FROM serve2)
       |ORDER BY serve_id, cos_sim DESC, vec_id""".stripMargin

  // ---- ST29: the maintenance tick on the banding axis --------------------

  /** ST29: q_st28's composition applied to the keep-best store —
    * [[graft.ops.KeepBestIndexStore.maintainedIngest]] as the one step
    * a streaming dedup guard runs per micro-batch: tick 1 is the BIRTH
    * batch (the q_st26 two-identical-docs pair — every banding
    * certifies, the tie rule picks 8 rows/band; the post-ingest reband
    * check certifies the same config and no-ops), tick 2 delivers the
    * even-bid half of the grown corpus (one moderate-similarity pair
    * per row — the 8-row banding hits such a pair with probability
    * ~2·0.6⁸ ≈ 3%, far under the 60% recall floor: the birth choice
    * DE-CERTIFIES and the reband rebuild fires MID-STREAM into `v=1`
    * at the newly certified 2 rows/band), then THE KILL, and a second
    * stream's tick delivers the odd-bid half onto the rebanded live
    * version (the chooser re-certifies 2 — no second flip).
    * Engine-`require`s pin the whole trajectory ((v, rpb) = (0,8) →
    * (1,2) → (1,2)). Output = the live store's survivors plus the
    * decision provenance; the oracle replays ALL THREE chooser runs
    * (birth state, tick-2 state, full state — the version counters are
    * DERIVED from their disagreements, not asserted), the full-corpus
    * pair relation at the tick-2-certified banding, the
    * connected-component clusters, and the keep-best rule.
    */
  val st29MaintainedKeepBest: Q = (s, d) => {
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st29") { root =>
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
      val birth = Seq((9000001L, Round15Queries.st26BirthText),
          (9000002L, Round15Queries.st26BirthText))
        .toDF("id", "text")
      val score = pmod(graft.ops.TextOps.hash60(col("id").cast("string")),
        lit(1000L))
      val tune = graft.ops.KeepBestIndex.AutoTune(Seq(2, 4, 8),
        gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
      graft.ops.KeepBestIndexStore.createLive(s, vroot, tune)
      val now = System.currentTimeMillis()
      val src1 = new java.io.File(root, "src1")
      // mutated ids are bid + 500000 (even), so id parity IS bid parity:
      // the even-bid half carries both members of its moderate pairs
      writeSingleFile(birth, src1, "b1.parquet", now - 60000)
      writeSingleFile(grown.filter(pmod($"id", lit(2L)) === 0), src1,
        "b2.parquet", now - 30000)
      val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
      def run(src: java.io.File): Unit = {
        val schema = s.read.parquet(src.getAbsolutePath).schema
        val step: (Dataset[Row], Long) => Unit = (batch, _) =>
          ticks.add(graft.ops.KeepBestIndexStore.maintainedIngest(s, vroot,
            tune, batch.toDF(), "id", "text", score))
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getAbsolutePath)
          .writeStream.foreachBatch(step)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run(src1)
      // THE KILL: the first stream's instance is gone; resume = a new
      // stream over the odd-bid half against the same root.
      val src2 = new java.io.File(root, "src2")
      writeSingleFile(grown.filter(pmod($"id", lit(2L)) === 1), src2,
        "b3.parquet", now)
      run(src2)
      val tr = {
        val it = ticks.iterator(); val b = Seq.newBuilder[(Int, Int)]
        while (it.hasNext) b += it.next(); b.result()
      }
      require(tr == Seq((0, 8), (1, 2), (1, 2)),
        s"st29: the (version, banding) trajectory must be (0,8) -> (1,2) " +
          s"mid-stream flip -> (1,2), got $tr")
      graft.ops.KeepBestIndexStore.openLive(s, vroot, tune).survivors
        .withColumn("born_rpb", lit(tr(0)._2))
        .withColumn("live_rpb", lit(tr(2)._2))
        .withColumn("v_t1", lit(tr(0)._1))
        .withColumn("v_t2", lit(tr(1)._1))
        .withColumn("v_t3", lit(tr(2)._1))
        .orderBy("id")
        .localCheckpoint(eager = true)
    }
  }

  /** Three chooser replays (birth / tick-2 state / full state) over
    * shared shingle+minhash CTEs, survivors at the tick-2-certified
    * banding, version counters DERIVED from the choosers' moves.
    */
  val st29MaintainedKeepBestSql: String =
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
       |  UNION ALL SELECT 9000001, '${Round15Queries.st26BirthText}'
       |  UNION ALL SELECT 9000002, '${Round15Queries.st26BirthText}'),
       |${PipelineQueries.shingleSql},
       |mh AS (
       |${graft.ops.Dedup.minhashSql(16)}),
       |bsh AS (SELECT * FROM sh WHERE id >= 9000000),
       |bmh AS (SELECT * FROM mh WHERE id >= 9000000),
       |msh AS (SELECT * FROM sh WHERE id >= 9000000 OR id % 2 = 0),
       |mmh AS (SELECT * FROM mh WHERE id >= 9000000 OR id % 2 = 0),
       |fsh AS (SELECT * FROM sh),
       |fmh AS (SELECT * FROM mh),
       |${Round15Queries.st26Chooser("b")},
       |${Round15Queries.st26Chooser("m")},
       |${Round15Queries.st26Chooser("f")},
       |chosenCand AS (
       |  SELECT ia, ib FROM fcand2 WHERE 2 = (SELECT rows_per_band FROM msel)
       |  UNION ALL
       |  SELECT ia, ib FROM fcand4 WHERE 4 = (SELECT rows_per_band FROM msel)
       |  UNION ALL
       |  SELECT ia, ib FROM fcand8 WHERE 8 = (SELECT rows_per_band FROM msel)),
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
       |  SELECT id, ${graft.ops.TextOps.hash60Sql("CAST(id AS VARCHAR)")} % 1000 AS score
       |  FROM corpus),
       |ranked AS (
       |  SELECT l.id, ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |    ORDER BY s.score DESC, l.id) AS rk
       |  FROM labels l JOIN scores s ON s.id = l.id)
       |SELECT c.id, s.score,
       |  (SELECT rows_per_band FROM bsel) AS born_rpb,
       |  (SELECT rows_per_band FROM msel) AS live_rpb,
       |  0 AS v_t1,
       |  CASE WHEN (SELECT rows_per_band FROM bsel)
       |         <> (SELECT rows_per_band FROM msel) THEN 1 ELSE 0 END AS v_t2,
       |  CASE WHEN (SELECT rows_per_band FROM bsel)
       |         <> (SELECT rows_per_band FROM msel) THEN 1 ELSE 0 END
       |  + CASE WHEN (SELECT rows_per_band FROM msel)
       |           <> (SELECT rows_per_band FROM fsel) THEN 1 ELSE 0 END AS v_t3
       |FROM corpus c JOIN scores s ON s.id = c.id
       |WHERE c.id NOT IN (SELECT r.id FROM ranked r WHERE r.rk > 1)
       |ORDER BY c.id""".stripMargin

  // ---- ST30: snapshot retention on the pointer root -----------------------

  /** A deterministic 8-centroid layout picked FROM the planted corpus:
    * the rows with `vid % 8 == pick`, first 8 by vid, re-keyed
    * 0..7 — the q_st25 degraded-layout recipe, reused here as two
    * distinct externally-trained layouts (pick 1 and pick 3).
    */
  private def st30Cents(s: SparkSession, corpus: DataFrame, pick: Long): DataFrame = {
    import s.implicits._
    val w = Window.orderBy("vid")
    corpus.filter(pmod($"vid", lit(8L)) === pick).orderBy("vid").limit(8)
      .select((row_number().over(w) - 1).cast("long").as("cid"), $"e".as("ce"))
      .localCheckpoint(true)
  }

  /** ST30: SNAPSHOT RETENTION — the explicit cleanup the lifecycle
    * gates (q_st25/26/28/29) deliberately defer: every retrain/reband
    * publishes a FULL-SIZE rebuild copy, so an unswept root grows by
    * one corpus per lifecycle event forever — at scale the sweep is
    * not optional. Three publish epochs land via the public protocol
    * (birth at the axis layout, then two [[IvfIndexStore.relayout]]
    * promotions of externally-trained layouts — the retrain minus the
    * k-means passes, so the oracle replays ONE bulk assign per epoch
    * instead of Lloyd iterations), then `vacuum(keepSuperseded = 1)`:
    * engine-`require`s pin that EXACTLY `v=0` is deleted (the sweep's
    * scope is exact, not best-effort), that a pinned reader below the
    * horizon now REFUSES (the snapshot-retention contract — not a
    * silent wrong answer), that the retained `v=1` still serves, that
    * the LIVE serve is identical before and after the sweep, that the
    * pointer never moved, and that a second sweep is a no-op
    * (idempotent). The oracle replays both surviving layouts'
    * assignments and serves. Columns: serve_id (1 = live v=2, 2 =
    * retained v=1), vec_id, cos_sim, deleted_version, live_version,
    * v0_refused.
    */
  val st30StoreVacuum: Q = (s, d) => {
    import s.implicits._
    graft.ops.TempFiles.withTempDir("graft-st30") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val vecs = st28Vecs(s, d).localCheckpoint(eager = true)
      val corpus = vecs.filter($"vid" >= 1)
      val anchor = vecs.filter($"vid" === 0).select($"e").localCheckpoint(true)
      val st0 = IvfIndexStore.createLive(s, vroot, st28AxisCentroids(s))
      st0.ingest(corpus)
      IvfIndexStore.relayout(s, vroot, st30Cents(s, corpus, pick = 1)) // v=1
      IvfIndexStore.relayout(s, vroot, st30Cents(s, corpus, pick = 3)) // v=2
      def serveIds(st: IvfIndexStore): Seq[Long] =
        st.search(anchor, nProbe = 1, k = 10)
          .select("vid").as[Long].collect().toSeq
      val pre = serveIds(IvfIndexStore.openLive(s, vroot))
      val deleted = IvfIndexStore.vacuum(s, vroot, keepSuperseded = 1)
      require(deleted == Seq(0),
        s"st30: the sweep must delete exactly the superseded v=0, got $deleted")
      // a reader pinned below the retention horizon REFUSES — loudly,
      // not with a silently wrong answer
      val v0Refused = scala.util.Try(IvfIndexStore.openPinned(s,
        new java.io.File(vroot, "v=0").getAbsolutePath)).isFailure
      require(v0Refused,
        "st30: opening the vacuumed version must refuse, not resurrect")
      val retained = IvfIndexStore.openPinned(s,
        new java.io.File(vroot, "v=1").getAbsolutePath)
      val post = IvfIndexStore.openLive(s, vroot)
      require(serveIds(post) == pre,
        "st30: the live serve must be identical before and after the sweep")
      require(IvfIndexStore.liveVersion(s, vroot).contains(2),
        "st30: the sweep must never move the pointer")
      require(IvfIndexStore.vacuum(s, vroot, keepSuperseded = 1).isEmpty,
        "st30: a second sweep at the same retention must be a no-op")
      val s1 = post.search(anchor, nProbe = 1, k = 10)
        .select(lit(1).as("serve_id"), $"vid".as("vec_id"), $"cos_sim")
      val s2 = retained.search(anchor, nProbe = 1, k = 10)
        .select(lit(2).as("serve_id"), $"vid".as("vec_id"), $"cos_sim")
      s1.unionByName(s2)
        .withColumn("deleted_version", lit(0L))
        .withColumn("live_version", lit(2L))
        .withColumn("v0_refused", lit(v0Refused))
        .orderBy(col("serve_id"), col("cos_sim").desc, col("vec_id"))
        .localCheckpoint(eager = true)
    }
  }

  /** Both surviving layouts replayed: the %8-picked centroid sets, one
    * assignment + one serve each.
    */
  val st30StoreVacuumSql: String =
    s"""WITH ${st28VecCtes},
       |corpus AS (SELECT vid, e FROM v WHERE vid >= 1),
       |cent1 AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cid, e AS ce
       |          FROM corpus WHERE vid % 8 = 1 ORDER BY vid LIMIT 8),
       |cent2 AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cid, e AS ce
       |          FROM corpus WHERE vid % 8 = 3 ORDER BY vid LIMIT 8),
       |${st28Assign("a1", "corpus", "cent1")},
       |${st28Assign("a2", "corpus", "cent2")},
       |tq AS (SELECT e AS tqe FROM v WHERE vid = 0),
       |c1 AS (SELECT cid FROM cent1, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |c2 AS (SELECT cid FROM cent2, tq ORDER BY ${cosSql("ce", "tqe")} DESC, cid LIMIT 1),
       |serve1 AS (SELECT vid, cs FROM (
       |  SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a2 a JOIN c2 USING (cid), tq ORDER BY cs DESC, a.vid LIMIT 10)),
       |serve2 AS (SELECT vid, cs FROM (
       |  SELECT a.vid, ${cosSql("a.e", "tq.tqe")} AS cs
       |  FROM a1 a JOIN c1 USING (cid), tq ORDER BY cs DESC, a.vid LIMIT 10))
       |SELECT serve_id, vec_id, cos_sim,
       |  CAST(0 AS BIGINT) AS deleted_version,
       |  CAST(2 AS BIGINT) AS live_version,
       |  TRUE AS v0_refused
       |FROM (
       |  SELECT 1 AS serve_id, vid AS vec_id, cs AS cos_sim FROM serve1
       |  UNION ALL
       |  SELECT 2, vid, cs FROM serve2)
       |ORDER BY serve_id, cos_sim DESC, vec_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_st27_store_cert_persist", st27StoreCertPersist, st27StoreCertPersistSql),
    QuerySpec("q_st28_maintained_stream", st28MaintainedStream, st28MaintainedStreamSql),
    QuerySpec("q_st29_maintained_keepbest", st29MaintainedKeepBest, st29MaintainedKeepBestSql),
    QuerySpec("q_st30_store_vacuum", st30StoreVacuum, st30StoreVacuumSql)
  )
}
