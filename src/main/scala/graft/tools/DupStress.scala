package graft.tools

import org.apache.spark.sql.functions._

/** Reproduction behind the r11 exact-duplicate collapse in the dedup
  * family — one kernel, `ops/DupGroups.scala`, that
  * `Dedup.lshCandidatesFromSigs` / `nearDupPairs` / `simhashPairs`,
  * `Vectors.cosineDupPairs` and `Multimodal.bandedHammingPairs` (the
  * fix the sf1.0 decade run forced) all call:
  * real crawls are exact-dup-heavy, and identical content shares EVERY
  * LSH band bucket, so naive in-bucket all-pairs enumeration is
  * quadratic in copy-family occupancy — amplified ×nBands, again by
  * the pair `distinct`, and (worst) the naive flatten materializes a
  * family's m²/2 pair array inside a single row before the generator
  * ever streams it.
  *
  * Builds an exact-dup-heavy corpus by unioning K byte-identical
  * copies of the sf documents table (disjoint id universes), then
  * times the production `nearDupPairs` against the naive formulation
  * it replaced — exploded banding (`Dedup.lshCandidates`, kept in
  * `src/main` as this baseline and the DedupSpec equivalence reference)
  * + per-member-pair shingle-join verify.
  * Both paths produce the identical pair relation (the row counts are
  * printed and compared); only the execution shape differs. Findings
  * land in PLANS.md; this main stays as the reproduction.
  *
  * Usage: DupStress [sfDir] [K] [--skip-naive]
  *                  [--only=text,simhash,cosine,tuning]
  */
object DupStress {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val k = pos.drop(1).headOption.map(_.toInt).getOrElse(5)
    // --only=text,simhash,cosine: run families in separate JVMs — a
    // naive-shape OOM kills the local SparkContext, so one family's
    // death must not censor the others' measurements (at sf0.1 K=50
    // the naive simhash/cosine shapes DO die; that IS the finding).
    val only: Set[String] = flags.find(_.startsWith("--only="))
      .map(_.stripPrefix("--only=").split(",").toSet)
      .getOrElse(Set("text", "simhash", "cosine", "tuning"))
    val spark = graft.Sessions.local("graft-dupstress")

    val base = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("text"))
    val nBase = base.count()
    // K byte-identical replicas on disjoint id ranges: every base doc
    // becomes a copy family of size K. The stride derives from the
    // actual id range — a fixed constant would silently collide (and
    // break the K-family premise) once base ids outgrow it at larger
    // scale factors.
    val idStride = base.agg(coalesce(max(col("id")), lit(-1L)))
      .first().getLong(0) + 1L // null-safe: an empty base replicates to nothing
    val corpus = (0 until k)
      .map(r => base.select((col("id") + lit(r.toLong * idStride)).as("id"), col("text")))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    System.err.println(s"[dupstress] base=$nBase docs, K=$k => ${nBase * k} rows")

    def time[T](label: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[dupstress] $label%s: $dt%.2f s")
      (r, dt)
    }

    import graft.ops.Dedup
    // Untimed warmup of BOTH plan shapes on the unreplicated base:
    // JIT + codegen + parquet footers land outside the comparison.
    Dedup.nearDupPairs(base, "id", "text", threshold = 0.5).count()
    locally {
      val sh0 = Dedup.shingleHashSet(base, "id", "text", 3)
      Dedup.jaccardVerify(
        Dedup.lshCandidates(Dedup.minhashFromHashes(sh0, 16), rowsPerBand = 4),
        sh0, setCol = "h").filter(col("jac") >= 0.5).count()
    }

    val (nFixed, tFixed) = if (!only("text")) (-1L, -1.0) else
      time("nearDupPairs (collapsed)") {
        Dedup.nearDupPairs(corpus, "id", "text", threshold = 0.5).count()
      }

    // SimHash family: production (signature-collapsed) vs the naive
    // shape rebuilt inline (band every copy, flatten-enumerate) — the
    // DedupSpec equivalence reference.
    val simSigs = if (!only("simhash")) null
      else Dedup.simhash(corpus, "id", "text").localCheckpoint(true)
    val (nSimFixed, tSimFixed) = if (!only("simhash")) (-1L, -1.0) else
      time("simhashPairs (collapsed)") {
        Dedup.simhashPairs(simSigs, maxDist = 6).count()
      }
    var tSimNaive = -1.0
    if (only("simhash") && !flags.contains("--skip-naive")) {
      val (n, t) = time("simhash naive (per-copy banding + flatten)") {
        simSigs
          .withColumn("b", explode(sequence(lit(0), lit(3))))
          .withColumn("chunk", expr("(simhash >> (15 * b)) & 32767"))
          .groupBy(col("b"), col("chunk"))
          .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("ms"))
          .where(size(col("ms")) > 1)
          .select(explode(expr(
            """flatten(transform(ms,
              |  (x, i) -> transform(slice(ms, i + 2, size(ms)),
              |            y -> named_struct('ia', x.id, 'ib', y.id,
              |              'hamming', bit_count(x.simhash ^ y.simhash)))))""".stripMargin)).as("p"))
          .select(col("p.ia"), col("p.ib"), col("p.hamming"))
          .distinct()
          .filter(col("hamming") <= 6)
          .count()
      }
      require(n == nSimFixed, s"simhash relation mismatch: naive=$n fixed=$nSimFixed")
      tSimNaive = t
    }

    // Vector family: K-replicated embeddings (identical vectors), the
    // collapsed cosineDupPairs vs the naive per-copy bucket flatten.
    import graft.ops.Vectors
    val baseVecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("e"))
    val vecCorpus = if (!only("cosine")) null else {
      val vidStride = baseVecs.agg(coalesce(max(col("vid")), lit(-1L)))
        .first().getLong(0) + 1L // null-safe, derived like the doc stride
      (0 until k)
        .map(r => baseVecs.select((col("vid") + lit(r.toLong * vidStride)).as("vid"), col("e")))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
    }
    val (nVecFixed, tVecFixed) = if (!only("cosine")) (-1L, -1.0) else
      time("cosineDupPairs (collapsed)") {
        Vectors.cosineDupPairs(vecCorpus, "e", "vid", nPlanes = 4, dim = 64,
          threshold = 0.4).count()
      }
    var tVecNaive = -1.0
    if (only("cosine") && !flags.contains("--skip-naive")) {
      val (n, t) = time("cosine naive (per-copy bucketing + flatten)") {
        vecCorpus
          .withColumn("bucket", Vectors.bucketExpr("e", 4, 64))
          .groupBy(col("bucket"))
          .agg(sort_array(collect_list(struct(col("vid"), col("e")))).as("ms"))
          .where(size(col("ms")) > 1)
          .select(col("bucket"), explode(expr(
            """flatten(transform(ms,
              |  (x, i) -> transform(slice(ms, i + 2, size(ms)),
              |            y -> named_struct('ia', x.vid, 'ib', y.vid,
              |                              'ea', x.e, 'eb', y.e))))""".stripMargin)).as("p"))
          .withColumn("cos_sim", Vectors.rankCosine(col("p.ea"), col("p.eb")))
          .filter(col("cos_sim") >= 0.4)
          .count()
      }
      require(n == nVecFixed, s"cosine relation mismatch: naive=$n fixed=$nVecFixed")
      tVecNaive = t
    }

    var tNaive = -1.0
    var nNaive = -1L
    if (only("text") && !flags.contains("--skip-naive")) {
      val (n, t) = time("naive (exploded banding + member-pair verify)") {
        val sh = Dedup.shingleHashSet(corpus, "id", "text", 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sh.count()
        val cand = Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), rowsPerBand = 4)
        val out = Dedup.jaccardVerify(cand, sh, setCol = "h")
          .filter(col("jac") >= 0.5).count()
        sh.unpersist()
        out
      }
      nNaive = n; tNaive = t
      require(nNaive == nFixed, s"relation mismatch: naive=$nNaive fixed=$nFixed")
    }

    // Tuning family: the MEASUREMENT ops (lshTuning precision table,
    // lshRecall truth table) on the K-replicated corpus. Their whole
    // design claim is that the measurement stays cheap when the pair
    // relation it measures explodes (counts ride as weights, pairs are
    // never enumerated) — so the check here is twofold: wall-clock
    // stays far from K², and, when the base corpus has unique texts
    // (every content group is then exactly the K replicas of one base
    // doc), the K-corpus table must equal the ARITHMETIC transform of
    // the base table: n_cand_K = K²·n_cand_1 + nBase·C(K,2), same for
    // verified (within-group pairs are Jaccard 1.0 ≥ 0.5).
    var tTune = -1.0
    var tRecall = -1.0
    if (only("tuning")) {
      import graft.ops.Dedup
      // Replicate a CONTENT-deduped base so every content group in the
      // K-corpus is exactly the K replicas of one base doc — that makes
      // the arithmetic identity below exact, not corpus-dependent. The
      // dedup key is the same identity the collapse groups by (the
      // hashed shingle SET via contentGroups), NOT the raw text string:
      // two texts differing only in whitespace tokenize identically and
      // would otherwise share a group, breaking the K-per-group premise.
      val uBase = base.join(
          Dedup.contentGroups(base, "id", "text", 3)
            .select(col("rep").as("id")),
          Seq("id"), "left_semi")
        .localCheckpoint(true)
      val nU = uBase.count()
      // Replica ids must be DISJOINT across the K copies or the
      // K-per-group premise (and the identity below) silently breaks —
      // derive the stride from the actual id range instead of assuming
      // base ids stay under a fixed constant at every scale factor.
      val idStride = uBase.agg(coalesce(max(col("id")), lit(-1L)))
        .first().getLong(0) + 1L // null-safe, as at the corpus build
      val uCorpus = (0 until k)
        .map(r => uBase.select((col("id") + lit(r.toLong * idStride)).as("id"),
          col("text")))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
      val base1 = Dedup.lshTuning(uBase, "id", "text", 3, 16, Seq(2, 4, 8), 0.5)
        .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      val (tab, t1) = time(s"lshTuning (content-collapsed, K-replicated, ${nU * k} rows)") {
        Dedup.lshTuning(uCorpus, "id", "text", 3, 16, Seq(2, 4, 8), 0.5)
          .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      }
      tTune = t1
      val kk = k.toLong
      val within = nU * kk * (kk - 1) / 2
      base1.foreach { case (r, (c1, v1)) =>
        val exp = (kk * kk * c1 + within, kk * kk * v1 + within)
        require(tab(r) == exp,
          s"tuning K-replication identity broken at rpb=$r: got ${tab(r)}, expected $exp")
      }
      System.err.println("[dupstress] lshTuning K-replication identity verified: " +
        s"n_cand_K = K^2 * n_cand_1 + $nU * C($k,2) at every config")
      val (_, t2) = time("lshRecall (content-collapsed, K-replicated, mod-2 sample)") {
        Dedup.lshRecall(uCorpus, "id", "text", 3, 16, Seq(2, 4, 8), 0.5, 2).collect()
      }
      tRecall = t2
    }

    println(s"""{"tool":"dupstress","sf":"$sfDir","k":$k,"pairs":$nFixed,""" +
      s""""fixed_sec":$tFixed,"naive_sec":$tNaive,""" +
      s""""simhash_pairs":$nSimFixed,"simhash_fixed_sec":$tSimFixed,"simhash_naive_sec":$tSimNaive,""" +
      s""""cosine_pairs":$nVecFixed,"cosine_fixed_sec":$tVecFixed,"cosine_naive_sec":$tVecNaive,""" +
      s""""tuning_sec":$tTune,"recall_sec":$tRecall}""")
    spark.stop()
  }
}
