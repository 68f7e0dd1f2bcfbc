package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH bucketed variant as the
  * 100 TB scale path (bucket first, brute-force only within the bucket).
  *
  * Vector math runs through native codegen'd Catalyst expressions
  * (graft.functions.VectorExpressions) — a tight primitive loop in
  * whole-stage codegen, bit-identical to the sequential-fold formulation
  * the DuckDB oracle computes.
  */
object Vectors {

  /** Cosine similarity of two array<float|double> columns (native). */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosine_sim(a, b)

  /** Index-order dot product (native). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot_product(a, b)

  /** Cosine for RANKING / threshold contexts. A zero-norm vector's
    * cosine is 0/0 = NaN, and BOTH Spark and DuckDB order NaN above
    * every real value (and NaN >= t is true in Spark), so a dead
    * embedding would win every top-k slot and pass every threshold.
    * Map NaN to −1.0 — worse than any real similarity.
    */
  def rankCosine(a: Column, b: Column): Column = {
    val c = cosine(a, b)
    when(isnan(c), lit(-1.0)).otherwise(c)
  }

  /** Reference composable formulation (higher-order functions) — kept
    * for the equivalence spec; CodegenFallback, do not use in hot paths.
    */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    def s(c: Column) = aggregate(c, lit(0.0), (acc, x) => acc + x)
    def d(x: Column, y: Column) = s(zip_with(x, y, (p, q) => p * q))
    d(a, b) / (sqrt(d(a, a)) * sqrt(d(b, b)))
  }

  /** Deterministic ±1.0 hyperplane for plane `p`, derived from the
    * portable md5 hash — identical to the SQL formulation
    * `CASE WHEN hash60(p||'_'||j) % 2 = 1 THEN 1.0 ELSE -1.0 END`
    * over j = 1..dim, but computed ONCE on the driver (the planes are
    * data-independent) instead of per row.
    */
  def hyperplaneValues(p: Int, dim: Int): Seq[Double] =
    // Hash60Impl IS the portable hash (first 60 bits of md5) — one
    // implementation shared with minhash and the SQL oracles, instead of
    // a second hand-rolled md5+hex-parse that must stay bit-identical.
    (1 to dim).map { j =>
      val h = graft.functions.Hash60Impl.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"${p}_$j"))
      if (h % 2 == 1) 1.0 else -1.0
    }

  /** The LSH bucket id expression: `nPlanes` sign bits packed into a
    * long. SINGLE source of truth for the bucket computation — the
    * e2/e4/e5 oracles replicate it in SQL, so every Scala user
    * (`lshBuckets`, `cosineDupPairs`) must share this one definition.
    */
  private[graft] def bucketExpr(vecCol: String, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { p =>
      val plane = typedlit(hyperplaneValues(p, dim))
      when(dot(col(vecCol), plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH bucket id per vector. Entirely map-side — the planes are
    * literal constant arrays and the bucket is a fold of sign tests, so
    * there is NO explode and NO shuffle (the previous formulation
    * shuffled rows × planes).
    */
  def lshBuckets(vecs: DataFrame, vecCol: String, idCol: String, nPlanes: Int, dim: Int): DataFrame =
    Partitioning.spread(vecs)
      .select(col(idCol).as("vid"), bucketExpr(vecCol, nPlanes, dim).as("bucket"))

  /** IVF coarse assignment: each vector goes to its nearest centroid
    * (argmax cosine, ties by centroid id). Centroids are broadcast; the
    * scan side never shuffles — at 100 TB this is one map-side pass.
    * Returns (vid, cid, e).
    */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    // argmax as MAX_BY, not a row_number window: the window would hash-
    // shuffle and sort |corpus| × |centroids| rows (windows have no
    // partial aggregation), while max_by collapses the per-vector
    // candidates map-side — the shuffle carries ONE row per vector.
    // Tie-break matches the window formulation: highest cosine, then
    // LOWEST centroid id (max of -cid).
    Partitioning.spread(vecs)
      .crossJoin(broadcast(centroids.select(col("cid"), col("ce"))))
      .withColumn("cos", rankCosine(col("e"), col("ce")))
      .groupBy("vid")
      .agg(max_by(struct(col("cid"), col("e")),
        struct(col("cos"), (-col("cid")).as("neg_cid"))).as("best"))
      .select(col("vid"), col("best.cid").as("cid"), col("best.e").as("e"))

  /** Element-wise mean of an array<double> column as a custom
    * `Aggregator`: the (sum-vector, count) buffer merges associatively
    * inside each partition, so the shuffle carries one dim-length buffer
    * per (group × partition) — never an exploded row per element. The
    * buffer sizes itself from the first input, so one instance serves
    * any dimensionality.
    */
  class VecMeanAgg extends org.apache.spark.sql.expressions.Aggregator[
      Array[Double], (Array[Double], Long), Array[Double]] {
    def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)
    def reduce(b: (Array[Double], Long), a: Array[Double]): (Array[Double], Long) = {
      val buf = if (b._1.isEmpty) new Array[Double](a.length) else b._1
      var i = 0
      while (i < a.length) { buf(i) += a(i); i += 1 }
      (buf, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) =
      if (x._1.isEmpty) y
      else if (y._1.isEmpty) x
      else {
        var i = 0
        while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
        (x._1, x._2 + y._2)
      }
    def finish(b: (Array[Double], Long)): Array[Double] =
      if (b._2 == 0) b._1 else b._1.map(_ / b._2)
    def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }
  private lazy val vecMean = org.apache.spark.sql.functions.udaf(new VecMeanAgg,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())

  /** Lloyd's k-means for the IVF coarse quantizer — the trained upgrade
    * over `vid < k` sampling. Deterministic init (the k lowest vector
    * ids); each iteration is ONE map-side assignment (broadcast
    * centroids, `ivfAssign`) plus ONE keyed shuffle of partial
    * (sum, count) buffers; the k × dim centroid table lives on the
    * driver between iterations, cutting lineage. Cells that lose all
    * members keep their previous centroid.
    *
    * Returns (cid, ce) ready for `ivfAssign` / `ivfSearch`. Centroid
    * values are floating-point partition-order dependent (like any
    * distributed mean), so assert on clustering structure, not exact
    * coordinates.
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var cent: Seq[(Long, Seq[Double])] = vecs.orderBy("vid").limit(k)
      .select(col("vid"), col("e")).as[(Long, Seq[Double])].collect().toSeq
      .zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }
    for (_ <- 1 to iters) {
      val cdf = cent.toDF("cid", "ce")
      val assigned = ivfAssign(vecs, cdf)
      val means = assigned.groupBy("cid")
        .agg(vecMean(col("e")).as("ce"))
        .as[(Long, Seq[Double])].collect().toMap
      cent = cent.map { case (cid, ce) => (cid, means.getOrElse(cid, ce)) }
    }
    cent.toDF("cid", "ce")
  }

  /** Incremental IVF index maintenance: assign ONLY the delta batch
    * against the EXISTING centroids and append to the stored
    * assignment — the base corpus is never re-scanned and never
    * re-scored (at 100 TB you never re-cluster the corpus for a daily
    * ingest; centroids re-train offline when drift accumulates, and
    * `ivfAssign`'s per-vector argmax is centroid-stable, so
    * append == full rebuild exactly, which q_e13's oracle proves).
    *
    * `baseAssigned` is the stored (vid, cid, e) table; the delta cost
    * is one map-side broadcast-argmax pass over the delta alone.
    */
  def ivfAppend(baseAssigned: DataFrame, delta: DataFrame,
                centroids: DataFrame): DataFrame =
    baseAssigned.select(col("vid"), col("cid"), col("e"))
      .unionByName(ivfAssign(delta, centroids))

  /** IVF search: rank cells by query-to-centroid cosine, brute-force
    * only the `nProbe` nearest cells. The probed-cell set is a tiny
    * broadcast; candidate work scales with nProbe/k of the corpus.
    */
  def ivfSearch(assigned: DataFrame, centroids: DataFrame, query: DataFrame,
                nProbe: Int, k: Int): DataFrame = {
    val cells = centroids.crossJoin(broadcast(query.select(col("e").as("qe"))))
      .withColumn("ccos", rankCosine(col("ce"), col("qe")))
      .orderBy(col("ccos").desc, col("cid"))
      .limit(nProbe)
      .select("cid")
    assigned.join(broadcast(cells), Seq("cid"))
      .crossJoin(broadcast(query.select(col("e").as("qe"))))
      .withColumn("cos_sim", rankCosine(col("e"), col("qe")))
      .select(col("vid"), col("cid"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vid"))
      .limit(k)
  }

  /** Multi-probe LSH top-k: score the query's own bucket PLUS every
    * bucket at Hamming distance 1 (one plane bit flipped). Hyperplane
    * quantization loses neighbors that fall just across one plane;
    * probing the 1-flip shell recovers most of that recall for
    * (nPlanes+1)× the single-bucket candidate count — still a tiny,
    * bucket-bounded fraction of the corpus, and the probe set is a
    * broadcast of nPlanes+1 ids (no extra shuffle).
    *
    * `bucketed` needs columns `e` (vector) and `bucket`; `query` is one
    * row (`qe`, `qb`). All other `bucketed` columns pass through;
    * `tieCol` makes the top-k deterministic.
    */
  def lshMultiProbe(bucketed: DataFrame, query: DataFrame, nPlanes: Int,
                    k: Int, tieCol: String): DataFrame = {
    val probes = query.select(explode(array_distinct(array(
      (col("qb") +: (0 until nPlanes).map(p =>
        col("qb").bitwiseXOR(lit(1L << p)))): _*))).as("bucket"))
    bucketed.join(broadcast(probes), Seq("bucket"))
      .crossJoin(broadcast(query.select(col("qe"))))
      .withColumn("cos_sim", rankCosine(col("e"), col("qe")))
      .drop("qe")
      .orderBy(col("cos_sim").desc, col(tieCol))
      .limit(k)
  }

  private def planeMask(p: Int): Long = (1L << p) - 1

  /** Distinct-vector groups with the bucket at `nPlanes` — the ONE
    * corpus representation the cosine family's compute-once seam
    * shares (the q_d25 pattern on the vector family): plane i's
    * hyperplane is keyed by the plane INDEX alone
    * ([[hyperplaneValues]]), so bucket(p) = bucket(pMax) & (2^p − 1)
    * for any p ≤ pMax — one grouping exchange + one bucket pass at
    * pMax serves every configuration downstream.
    */
  private[graft] def vectorGroups(vecs: DataFrame, vecCol: String,
                                  idCol: String, nPlanes: Int,
                                  dim: Int): DataFrame =
    DupGroups.collapse(Partitioning.spread(vecs)
        .select(col(idCol).as("vid"), col(vecCol).as("e")), Seq("e"), "vid")
      .withColumn("m", size(col("members")).cast("long"))
      .withColumn("bucket", bucketExpr("e", nPlanes, dim))

  /** Embedding-cosine near-duplicate pairs — the vector-space member of
    * the dedup family (exact / MinHash / SimHash / cosine): candidates
    * are vectors sharing a hyperplane-LSH bucket, verified by exact
    * cosine ≥ threshold.
    *
    * Scale shape: bucket assignment is map-side (constant planes, no
    * explode), the self-join shuffles on the bucket key, so pairwise
    * work is quadratic only WITHIN a bucket — never all-pairs. More
    * planes → smaller buckets → cheaper join at lower recall; callers
    * tune nPlanes to corpus size.
    *
    * Duplicated documents re-embed to the IDENTICAL vector, and
    * identical vectors always share a bucket, so vectors collapse to one
    * representative per distinct embedding before bucketing and rep
    * verdicts expand back to member pairs ([[DupGroups]]); the output
    * relation is bit-identical to the naive shape.
    */
  def cosineDupPairs(vecs: DataFrame, vecCol: String, idCol: String,
                     nPlanes: Int, dim: Int, threshold: Double): DataFrame = {
    val grouped = vectorGroups(vecs, vecCol, idCol, nPlanes, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grouped.count()
    val out = cosineDupPairsFromGroups(grouped, nPlanes, threshold)
    grouped.unpersist()
    out
  }

  /** [[cosineDupPairs]] off an ALREADY-computed (and caller-persisted)
    * [[vectorGroups]] frame — the compute-once contract
    * [[cosineDupPairsAuto]] needs: the corpus is grouped and bucketed
    * exactly once (at the grid's pMax) and the same cached frame feeds
    * the chooser's sample scaffold and every candidate config's corpus
    * pass (candidacy at p is a mask of the pMax bucket). The returned
    * pair relation is an eager localCheckpoint, so releasing the cache
    * after this returns is safe.
    */
  def cosineDupPairsFromGroups(grouped: DataFrame, nPlanes: Int,
                               threshold: Double): DataFrame = {
    // The distinct-embedding groups feed the bucketed rep enumeration,
    // the within-group expansion, and both sides of the cross-group
    // expansion (4 plan references): the group-by-vector exchange AND
    // its sort-aggregation (ordering on a dim-wide double-array key —
    // the expensive part) would otherwise re-execute per reference.
    // Caller-persisted, caller-released — same contract as
    // Dedup.nearDupPairsFromGroups.
    val groups = grouped
      .withColumn("bucket", col("bucket").bitwiseAND(lit(planeMask(nPlanes))))
    // Pairs are generated INSIDE the bucket aggregation (the same
    // shape as Dedup.lshCandidates): one keyed shuffle carrying each
    // distinct vector once. Each vector sits in exactly one bucket, so
    // the i<j enumeration over the id-sorted members needs no pair
    // distinct. The exact-cosine verify runs on the member vectors
    // carried alongside the ids; the enumeration streams ([[DupGroups]]).
    val repPairs = groups
      .select(col("rep").as("vid"), col("e"), col("bucket"))
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("vid"), col("e"))).as("ms"))
      .where(size(col("ms")) > 1)
      .select(col("bucket"), explode(col("ms")).as("x"), col("ms"))
      .select(col("bucket"), col("x"), explode(col("ms")).as("y"))
      .where(col("x.vid") < col("y.vid"))
      .withColumn("cos_sim", rankCosine(col("x.e"), col("y.e")))
      .filter(col("cos_sim") >= threshold)
      .select(col("x.vid").as("ra"), col("y.vid").as("rb"), col("bucket"), col("cos_sim"))
    // A within-group pair's cos_sim is rankCosine(e, e) — the very
    // expression the naive shape evaluates for an identical-vector pair.
    // Verified pairs are linear in candidates, not corpus: materialize
    // eagerly so the caller can release the groups cache.
    DupGroups.expand(groups, repPairs,
        Seq(col("bucket"), rankCosine(col("e"), col("e")).as("cos_sim")),
        col("cos_sim") >= threshold)
      .localCheckpoint(eager = true)
  }

  /** COSINE-LSH PLANE-COUNT CHOOSER — the cosine family of the one
    * banded-candidate chooser ([[BandChooser]]), over the hyperplane
    * AND-construction [[cosineDupPairs]] runs on: for each candidate
    * plane count, measure precision and recall of "same full bucket"
    * candidacy against exact-cosine truth on
    * the deterministic hash-gated sample, mark feasibility against
    * the caller's floors, and mark `chosen` the cheapest feasible
    * config — fewest candidate pairs, ties to MORE planes (same
    * verify cost, finer buckets, less skew). More planes → smaller
    * buckets → cheaper verify at lower recall: the dial callers of
    * [[cosineDupPairs]] set by hand, now priced before a corpus pass.
    *
    * ONE bucket pass serves every config: the signature is computed
    * once at max(planeConfigs) bits, pairs are enumerated inside the
    * min(planeConfigs)-bit buckets (a superset of every config's
    * candidacy — sign-LSH buckets NEST: agreement on the low p bits
    * implies agreement on the low q ≤ p bits), and a pair is a
    * candidate at p iff the low p bits of its signature XOR are zero.
    * Exact cosine rides in the bucket rows, so no config re-joins the
    * corpus; each rep sits in exactly one bucket, so no pair-distinct
    * is needed. Exact-duplicate collapse applies throughout
    * (candidacy and cosine are pure functions of the vectors):
    * weighted rep counting equals member enumeration.
    *
    * TRUTH IS THE FAMILY'S OWN BRUTE-FORCE POSTURE, CAP-BOUNDED:
    * sign-LSH has no pigeonhole-complete enumeration (a true pair can
    * disagree on any plane subset), so truth is the exact rep-level
    * all-pairs cosine over the sample — the "brute force only as
    * truth side" rule every e-family recall gate already follows —
    * and it REFUSES (require) when the sample's rep count exceeds
    * `truthRepCap` rather than silently paying an unbounded quadratic
    * bill: size `sampleMod` to the cap, the [[Dedup.nearDupPairsAuto]]
    * refuse-not-fallback ethos.
    *
    * Returns one row per config: (n_planes, n_candidates, n_verified,
    * n_true, precision_ppm, recall_ppm, feasible, chosen).
    * Zero-candidate configs have NULL precision and are never
    * feasible; a zero-truth sample leaves every config infeasible (no
    * evidence is not passing evidence).
    */
  def chooseCosinePlanes(vecs: DataFrame, vecCol: String, idCol: String,
                         planeConfigs: Seq[Int], dim: Int, threshold: Double,
                         sampleMod: Long,
                         precisionFloorPpm: Long, recallFloorPpm: Long,
                         truthRepCap: Long = 10000): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    requirePlanes(planeConfigs)
    chooseCosinePlanesFromGroups(
      vectorGroups(vecs.filter(SampleGate.admits(col(idCol), sampleMod)),
        vecCol, idCol, planeConfigs.max, dim),
      planeConfigs, threshold, precisionFloorPpm, recallFloorPpm, truthRepCap)
  }

  private def requirePlanes(planeConfigs: Seq[Int]): Unit =
    require(planeConfigs.nonEmpty && planeConfigs.forall(p => p >= 1 && p <= 62),
      s"plane counts must be in [1, 62] (the bucket is a sign-bit-packed " +
        s"long), got $planeConfigs")

  /** [[chooseCosinePlanes]] off an ALREADY-derived sample
    * [[vectorGroups]] frame (bucketed at ≥ max(planeConfigs)) — the
    * hash gating (and, in [[cosineDupPairsAuto]], the
    * [[DupGroups.sampleOf]] derivation off the full corpus's cached
    * groups) is the caller's, so the corpus is never re-grouped or
    * re-bucketed for the chooser.
    */
  def chooseCosinePlanesFromGroups(sampleGroups: DataFrame,
                                   planeConfigs: Seq[Int], threshold: Double,
                                   precisionFloorPpm: Long,
                                   recallFloorPpm: Long,
                                   truthRepCap: Long): DataFrame = {
    requirePlanes(planeConfigs)
    BandChooser.choose(cosineFamily(threshold), sampleGroups, planeConfigs,
      precisionFloorPpm, recallFloorPpm, Some(truthRepCap))
  }

  /** The cosine family of [[BandChooser]] (see [[chooseCosinePlanes]]):
    * pairs enumerate once in the coarsest buckets, exact cosine rides in
    * the bucket rows, truth is cap-bounded rep-level brute force; ties
    * go to MORE planes.
    */
  private[graft] def cosineFamily(threshold: Double): BandChooser.Family =
    BandChooser.Family("cosine", Seq("n_planes" -> identity),
      preferLarger = true, "truthRepCap", (groups, configs, _) => {
        val selfCos = rankCosine(col("e"), col("e"))
        BandChooser.Measures(Nil,
          within = () => {
            val r = groups.agg(
              coalesce(sum(BandChooser.pairWeight("m")), lit(0L)),
              coalesce(sum(when(selfCos >= threshold, BandChooser.pairWeight("m"))
                .otherwise(0L)), lit(0L))).first()
            (r.getLong(0), r.getLong(1))
          },
          // pairs once, in the coarsest buckets; candidacy at p is a mask
          // test on the signature XOR carried out of the bucket
          candidates = () => groups
            .withColumn("bmin", col("bucket").bitwiseAND(lit(planeMask(configs.min))))
            .groupBy(col("bmin"))
            .agg(collect_list(struct(col("rep"), col("m"), col("e"),
              col("bucket"))).as("ms"))
            .where(size(col("ms")) > 1)
            .select(explode(col("ms")).as("x"), col("ms"))
            .select(col("x"), explode(col("ms")).as("y"))
            .where(col("x.rep") < col("y.rep"))
            .select((col("x.m") * col("y.m")).as("w"),
              col("x.bucket").bitwiseXOR(col("y.bucket")).as("sx"),
              rankCosine(col("x.e"), col("y.e")).as("cos"))
            .select(explode(array(configs.map(lit): _*)).as("cfg"), col("w"),
              col("sx"), col("cos"))
            .where(expr("sx & (shiftleft(1L, cfg) - 1) = 0"))
            .select(col("cfg"), col("w"), (col("cos") >= threshold).as("verified")),
          // exact truth: cap-bounded rep-level brute force (see scaladoc)
          truth = () => {
            val gy = groups.select(col("rep").as("ry"), col("m").as("my"),
              col("e").as("ey"))
            groups
              .select(col("rep").as("rx"), col("m").as("mx"), col("e").as("ex"))
              .crossJoin(broadcast(gy))
              .where(col("rx") < col("ry") &&
                rankCosine(col("ex"), col("ey")) >= threshold)
              .agg(coalesce(sum(col("mx") * col("my")), lit(0L))).first().getLong(0)
          })
      })


  /** AUTO-TUNED embedding-cosine near-dup pairs —
    * [[chooseCosinePlanes]] driving [[cosineDupPairs]] through the
    * shared auto path ([[BandChooser.auto]]): ONE corpus representation
    * pass (the q_d25 compute-once pattern on the vector family) —
    * group + bucket the FULL corpus once at the grid's pMax, derive the
    * chooser's sample groups off the cached rows (an array filter, zero
    * corpus passes), and run the chosen config's corpus pass off the
    * same cache (candidacy at p is a mask of the pMax bucket). The
    * chosen plane count rides out as `n_planes`; when NO config meets
    * the floors the call REFUSES rather than silently running the
    * corpus at a rejected operating point.
    *
    * `gate`: a fixed mod keeps `truthRepCap` as the truth cap; a budget
    * derives the mod from Σ m over the cached groups (never a second
    * scan of a possibly-computed input view), caps the sample's
    * distinct vectors at the budget (an over-budget sample REFUSES
    * rather than paying an unbudgeted O(reps²·dim) truth pass), and the
    * derived mod rides out as `sample_mod`.
    */
  def cosineDupPairsAuto(vecs: DataFrame, vecCol: String, idCol: String,
                         planeConfigs: Seq[Int], dim: Int, threshold: Double,
                         gate: SampleGate,
                         precisionFloorPpm: Long, recallFloorPpm: Long,
                         truthRepCap: Long = 10000): DataFrame = {
    requirePlanes(planeConfigs)
    BandChooser.withPins { pin =>
      val grouped = pin(vectorGroups(vecs, vecCol, idCol, planeConfigs.max, dim))
      BandChooser.auto("cosineDupPairsAuto", "plane count", gate,
          grouped.agg(coalesce(sum(col("m")), lit(0L))).first().getLong(0))(
        (mod, cap) => chooseCosinePlanesFromGroups(DupGroups.sampleOf(grouped, mod),
          planeConfigs, threshold, precisionFloorPpm, recallFloorPpm,
          cap.getOrElse(truthRepCap)))(
        p => cosineDupPairsFromGroups(grouped, p, threshold))
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embeddings, then WITHIN each
    * cluster drop any document that has a semantic near-duplicate
    * (cosine ≥ threshold) which sits FARTHER from the cluster centroid
    * — the paper's keep-low-centroid-similarity rule, which retains the
    * most "atypical" member of each duplicate set. The rule is pairwise
    * (no transitive closure): x is dropped iff some same-cell y has
    * cos(x,y) ≥ τ and (ccos_y < ccos_x, ties by lower id), so exactly
    * the extreme member of every duplicate chain survives and the
    * whole decision is engine-exact (same cosine formulation both
    * sides, deterministic tie-break).
    *
    * Scale shape: assignment is one map-side broadcast-argmax pass
    * (`ivfAssign`); the keep/drop decision is made INSIDE the per-cell
    * aggregation (same shape as `cosineDupPairs`): one keyed shuffle
    * carrying each vector exactly once, then an `exists` over the
    * cell's members — quadratic only within a cell, with no self-join
    * (the earlier self-join re-shuffled the scored frame for both
    * sides and recomputed the assignment pass three times). In
    * production k grows with the corpus (SemDeDup uses ~100k clusters
    * for LAION), keeping cells near-constant size, so the in-cell
    * member list stays bounded.
    *
    * Returns one row per vector: (vid, cid, ccos, kept).
    */
  def semDedup(vecs: DataFrame, centroids: DataFrame, threshold: Double): DataFrame =
    ivfAssign(vecs, centroids)
      .join(broadcast(centroids.select(col("cid"), col("ce"))), "cid")
      .withColumn("ccos", rankCosine(col("e"), col("ce")))
      .groupBy(col("cid"))
      .agg(collect_list(struct(col("vid"), col("ccos"), col("e"))).as("ms"))
      // `vec_cosine` is the session-registered native cosine (the same
      // expression rankCosine wraps); the CASE replicates rankCosine's
      // NaN→−1 so a zero-norm vector can never count as a duplicate.
      .select(col("cid"), explode(expr(
        s"""transform(ms, x -> named_struct(
           |  'vid', x.vid, 'ccos', x.ccos,
           |  'kept', NOT exists(ms, y -> y.vid != x.vid
           |    AND (CASE WHEN isnan(vec_cosine(x.e, y.e)) THEN -1.0D
           |              ELSE vec_cosine(x.e, y.e) END) >= ${threshold}D
           |    AND (y.ccos < x.ccos
           |         OR (y.ccos = x.ccos AND y.vid < x.vid)))))""".stripMargin)).as("m"))
      .select(col("m.vid").as("vid"), col("cid"),
        col("m.ccos").as("ccos"), col("m.kept").as("kept"))

  /** Embedding-space decontamination — the semantic complement of
    * `Dedup.decontaminate`'s n-gram overlap purge: drop every corpus
    * vector whose cosine against ANY eval-set embedding reaches
    * `threshold`, so paraphrased eval leakage that shares no shingles
    * still gets caught. Survivors carry their worst-case eval
    * similarity (`max_sim`) for threshold audits.
    *
    * CONTRACT: `evalVecs` is an EXTERNAL, bounded table (the held-out
    * eval/benchmark set — thousands of rows, not a corpus fraction);
    * it is broadcast whole. The corpus side never shuffles: the
    * broadcast nested-loop preserves the scan's partitioning, the
    * per-vector max over eval scores collapses map-side, and the one
    * exchange carries a single row per corpus vector. At 100 TB the
    * cost is one scan × |eval| codegen'd dot products per row.
    *
    * `corpus` needs (idCol, vecCol); `evalVecs` needs vecCol.
    */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame =
    Partitioning.spread(corpus)
      .select(col(idCol).as("vid"), col(vecCol).as("e"))
      .crossJoin(broadcast(evalVecs.select(col(vecCol).as("ee"))))
      .withColumn("sim", rankCosine(col("e"), col("ee")))
      .groupBy(col("vid"))
      .agg(max(col("sim")).as("max_sim"))
      .filter(col("max_sim") < threshold)

  /** Exact brute-force top-k cosine neighbors of one query vector.
    * The single-row query side is broadcast; the scan side streams —
    * no shuffle until the final top-k (TakeOrdered, no global sort).
    */
  /** Greedy Maximal-Marginal-Relevance selection: k vectors balancing
    * relevance to the query against redundancy with what's already
    * picked — `score(d) = (rel(d, q) − max_{s∈S} sim(d, s)) / 2`, the
    * λ = 0.5 MMR objective written as an exact halving so both engines
    * compute identical doubles (a 0.5 literal parses as DECIMAL in both
    * Spark and DuckDB, with engine-specific rounding). The diverse-
    * subset primitive behind eval-set construction and dedup-aware
    * retrieval.
    *
    * Scale shape: k bounded rounds; each round one scan of the
    * candidates + a broadcast of the ≤ k selected vectors + a 1-row
    * argmax collect (the BPE/PageRank driver-scalar pattern — driver
    * traffic is k rows total, never data-sized). The candidate frame
    * with its query relevance is computed once and checkpoint-cut.
    *
    * Returns (rank, vid, rel_sim, div_sim, mmr_score) for the k picks
    * in selection order.
    */
  def mmrSelect(vecs: DataFrame, query: DataFrame, k: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cand = Partitioning.spread(vecs)
      .crossJoin(broadcast(query.select(col("e").as("qe"))))
      .withColumn("rel", rankCosine(col("e"), col("qe")))
      .select(col("vid"), col("e"), col("rel"))
      .localCheckpoint(eager = true)
    var selected = Vector.empty[(Int, Long, Double, Double, Double)]
    for (r <- 1 to k) {
      val chosen = selected.map(_._2)
      val remaining =
        if (chosen.isEmpty) cand else cand.filter(!col("vid").isin(chosen: _*))
      val scored =
        if (chosen.isEmpty) remaining.withColumn("div", lit(0.0))
        else {
          val selVecs = cand.filter(col("vid").isin(chosen: _*))
            .select(col("e").as("se"))
          remaining.crossJoin(broadcast(selVecs))
            .withColumn("ps", rankCosine(col("e"), col("se")))
            .groupBy(col("vid"), col("rel"))
            .agg(max(col("ps")).as("div"))
        }
      val best = scored
        .withColumn("score", (col("rel") - col("div")) / 2)
        .orderBy(col("score").desc, col("vid"))
        .limit(1).select("vid", "rel", "div", "score").collect().head
      selected :+= ((r, best.getLong(0), best.getDouble(1),
        best.getDouble(2), best.getDouble(3)))
    }
    selected.toDF("rank", "vid", "rel_sim", "div_sim", "mmr_score")
  }

  /** NOISY-LABEL audit by k-NN label consistency (confident-learning
    * lite): an audited vector is suspect when its own label disagrees
    * with the PLURALITY label of its k nearest neighbors — the
    * training-data QA pass that catches mislabeled examples before
    * they poison a classifier.
    *
    * `anchors` (q_id, q_label, qe) is the audited subset and must be
    * BOUNDED by contract (an audit sample or one ingest batch — at
    * corpus scale you audit incrementally, or swap the brute scoring
    * for the IVF/LSH candidate generation, which changes nothing after
    * the top-k). The corpus pass is map-side: anchors broadcast, each
    * candidate partition scores locally and ships at most k rows per
    * anchor through the k-bounded TopK aggregator. Neighbor labels are
    * recovered by broadcasting the k·|anchors| winners frame back
    * against the corpus — the corpus is scanned twice and shuffled
    * never.
    *
    * Plurality ties break toward the SMALLEST label; ties in the k-th
    * similarity break toward the smallest vec_id (the TopK contract).
    * Output: one row per anchor — (vec_id, label, top_label,
    * top_count, noisy).
    */
  def labelNoiseAudit(cands: DataFrame, anchors: DataFrame, k: Int): DataFrame = {
    val scored = Partitioning.spread(cands).crossJoin(broadcast(anchors))
      .filter(col("vid") =!= col("q_id"))
      .withColumn("cos_sim", rankCosine(col("e"), col("qe")))
    val top = TopK.topKPerGroup(scored, "q_id", col("cos_sim"), col("vid"),
      k, "cos_sim", "nn_id")
    val votes = cands.select(col("vid").as("nn_id"), col("label").as("nn_label"))
      .join(broadcast(top.select("q_id", "nn_id")), "nn_id")
      .groupBy(col("q_id"), col("nn_label"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cnt").desc, col("nn_label"))
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(broadcast(anchors.select(col("q_id"), col("q_label"))), "q_id")
      .select(col("q_id").as("vec_id"), col("q_label").as("label"),
        col("nn_label").as("top_label"), col("cnt").as("top_count"),
        (col("q_label") =!= col("nn_label")).as("noisy"))
  }

  /** EMBEDDING-SPACE class separation report — the dataset-quality
    * audit behind "are these labels learnable": per label, the spread
    * of members around their own centroid (intra) vs the distance to
    * the nearest OTHER centroid (inter). A label whose nearest foreign
    * centroid sits inside its own spread is a merge/noise candidate.
    *
    * Everything is integer-exact so the report is engine-reproducible:
    * vectors go through the [[quantizeCodes]] per-dimension 0..255
    * grid first (float sums are order-dependent; integer sums are
    * not), centroids are `sum div count` per (label, dim), distances
    * are integer squared-L2, and the final ratio is 1e3-scaled `div`.
    *
    * Shuffle shape: one keyed aggregation to (label, dim) cells —
    * map-side combined, 256·|labels| cells regardless of corpus size —
    * then centroids broadcast back for the per-vector distance pass;
    * the |labels|² centroid table never leaves the driver-adjacent
    * broadcast scale. The label rides THROUGH the explode (it is a
    * column of `vecs` already), so only the two bounded frames — the
    * per-dim lo/hi grid and the (label, dim) centroid table — ever
    * broadcast; nothing corpus-sized leaves an executor.
    */
  def labelSeparation(vecs: DataFrame, idCol: String, labelCol: String,
                      vecCol: String): DataFrame = {
    // inline quantizeCodes with the label carried through the explode:
    // a corpus-sized (id, label) broadcast for a later re-attach would
    // break the bounded-broadcast contract at scale.
    val ex = Partitioning.spread(vecs)
      .select(col(idCol).as("vid"), col(labelCol).as("lab"), posexplode(col(vecCol)))
      .select(col("vid"), col("lab"), col("pos"), col("col").cast("double").as("v"))
    val dims = ex.groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
    val codes = ex.join(broadcast(dims), "pos")
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(floor((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo")) + 0.5)))
      .select(col("vid"), col("lab"), col("pos"), col("code"))
    val cent = codes.groupBy(col("lab"), col("pos"))
      .agg(sum(col("code")).as("s"), count(lit(1)).as("n"))
      .select(col("lab"), col("pos"), expr("s div n").as("c"))
    val perVec = codes
      .join(broadcast(cent), Seq("lab", "pos"))
      .withColumn("d2", (col("code") - col("c")) * (col("code") - col("c")))
      .groupBy(col("vid"), col("lab"))
      .agg(sum(col("d2")).as("vd2"))
    val intra = perVec.groupBy(col("lab"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vd2")).as("ss"))
      .select(col("lab"), col("n_vecs"), expr("ss div n_vecs").as("intra_msd"))
    val pairs = cent.select(col("lab").as("la"), col("pos"), col("c").as("ca"))
      .join(cent.select(col("lab").as("lb"), col("pos"), col("c").as("cb")), "pos")
      .filter(col("la") =!= col("lb"))
      .withColumn("d2", (col("ca") - col("cb")) * (col("ca") - col("cb")))
      .groupBy(col("la"), col("lb"))
      .agg(sum(col("d2")).as("cd2"))
    val wNear = org.apache.spark.sql.expressions.Window
      .partitionBy(col("la")).orderBy(col("cd2"), col("lb"))
    val nearest = pairs.withColumn("rk", row_number().over(wNear))
      .filter(col("rk") === 1)
      .select(col("la").as("lab"), col("lb").as("nearest_label"),
        col("cd2").as("nearest_d2"))
    intra.join(nearest, "lab")
      .select(col("lab").as(labelCol), col("n_vecs"), col("intra_msd"),
        col("nearest_label"), col("nearest_d2"),
        expr("nearest_d2 * 1000 div nullif(intra_msd, 0)").as("sep_x1000"))
  }

  /** OUT-OF-DISTRIBUTION pruning by cell-relative similarity — the
    * embedding-space data-quality gate: assign every vector to its
    * nearest centroid (the IVF coarse assignment), then flag vectors
    * whose similarity to their OWN cell centroid falls `margin` below
    * the cell's discrete lower-median similarity. Encoding failures,
    * mis-embedded records and genuine outliers all land here — the
    * "drop the weird 1%" pass before training.
    *
    * The median is per-CELL, so a naturally diffuse cluster doesn't
    * mass-flag (the failure mode of one global threshold). Centroids
    * must be bounded (they broadcast — the IVF contract); assignment
    * is map-side; the median + flag pass is two window functions over
    * one per-cell exchange. Discrete rank selection (row (n+1) div 2
    * by (sim, vid)) — no interpolation, engine-exact on the
    * bit-identical native cosine.
    *
    * `vecs` (vid, e), `centroids` (cid, ce). Output: the flagged rows
    * (vec_id, cid, cos_sim, med_sim).
    */
  def cellOutliers(vecs: DataFrame, centroids: DataFrame, margin: Double): DataFrame = {
    // same map-side max_by argmax as `ivfAssign`, with the winning
    // similarity kept (the shuffle still carries one row per vector)
    val assigned = Partitioning.spread(vecs)
      .crossJoin(broadcast(centroids.select(col("cid"), col("ce"))))
      .withColumn("sim", rankCosine(col("e"), col("ce")))
      .groupBy("vid")
      .agg(max_by(struct(col("cid"), col("sim")),
        struct(col("sim"), (-col("cid")).as("neg_cid"))).as("best"))
      .select(col("vid"), col("best.cid").as("cid"), col("best.sim").as("sim"))
    val wMed = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("sim"), col("vid"))
    val wCell = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
    val med = assigned
      .withColumn("mrn", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over(wCell))
      .filter(col("mrn") === expr("(n + 1) div 2"))
      .select(col("cid"), col("sim").as("med_sim"))
    assigned.join(broadcast(med), "cid")
      .filter(col("sim") < col("med_sim") - margin)
      .select(col("vid").as("vec_id"), col("cid"), col("sim").as("cos_sim"),
        col("med_sim"))
  }

  /** IVF nprobe-TUNING table — the ANN sibling of `Dedup.lshTuning`:
    * for each candidate probe width, how many vectors the search
    * actually scans and what recall@k it achieves against the exact
    * brute-force top-k. This is the recall-vs-cost curve an operator
    * reads before fixing nprobe for a corpus-scale deployment.
    *
    * The coarse assignment is computed ONCE and shared (persisted);
    * each config only swaps the probed-cell filter. Driver traffic is
    * bounded: the k ground-truth ids, the |centroids| cell ranking,
    * and k ids per config — never corpus rows.
    *
    * `vecs` (vid, e) is the searchable corpus, `centroids` (cid, ce)
    * bounded, `query` one row (e).
    */
  def ivfTuning(vecs: DataFrame, centroids: DataFrame, query: DataFrame,
                k: Int, nprobes: Seq[Int]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val assigned = ivfAssign(vecs, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    val rows = tuningRows(assigned, centroids, query, k, nprobes)
    assigned.unpersist()
    rows.toDF("nprobe", "n_scanned", "recall_ppm")
  }

  /** The (nprobe, n_scanned, recall_ppm) rows off an ALREADY-assigned
    * index — shared by [[ivfTuning]] and [[ivfSearchAuto]] so the two
    * can never disagree on the metric, and so the auto path pays the
    * assignment pass once for both phases. Truth is [[knnBruteForce]]
    * over the assigned rows (brute force only ever on the truth side —
    * the family contract); the per-config scan reuses the one cached
    * assignment, and only k-bounded id sets cross the driver.
    */
  private[ops] def tuningRows(assigned: DataFrame, centroids: DataFrame,
                              query: DataFrame, k: Int,
                              nprobes: Seq[Int]): Seq[(Int, Long, Long)] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val qe = broadcast(query.select(col("e").as("qe")))
    val bruteIds = knnBruteForce(assigned.select(col("vid"), col("e")),
        query, k)
      .select("vid").as[Long].collect().toSet
    val cellRank = centroids.crossJoin(qe)
      .withColumn("cs", rankCosine(col("ce"), col("qe")))
      .orderBy(col("cs").desc, col("cid"))
      .select("cid").as[Long].collect()
    nprobes.map { np =>
      val cells = cellRank.take(np)
      val scan = assigned.filter(col("cid").isin(cells: _*))
      val nScanned = scan.count()
      val got = scan.crossJoin(qe)
        .withColumn("cs", rankCosine(col("e"), col("qe")))
        .orderBy(col("cs").desc, col("vid"))
        .limit(k).select("vid").as[Long].collect()
      val hits = got.count(bruteIds)
      (np, nScanned, hits * 1000000L / k)
    }
  }

  /** AUTO-PROBED IVF SEARCH — the chooser-drives-production bar on the
    * SEARCH side: tune the probe width on a bounded ANCHOR query
    * against exact brute-force truth (the [[ivfTuning]] table off one
    * shared assignment pass), take the cheapest width whose recall@k
    * meets the floor (fewest scanned rows, ties to the smaller
    * width), REFUSE when none does, then serve the TRAFFIC query at
    * the certified width with `nprobe` riding out as provenance. Tune
    * and serve are different queries by design — tuning against the
    * traffic query itself would pay brute force for the very answer
    * the index exists to avoid; anchors amortize across traffic.
    */
  def ivfSearchAuto(vecs: DataFrame, centroids: DataFrame,
                    tuneQuery: DataFrame, serveQuery: DataFrame,
                    k: Int, nprobes: Seq[Int],
                    recallFloorPpm: Long): DataFrame = {
    val assigned = ivfAssign(vecs, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    val choice = tuningRows(assigned, centroids, tuneQuery, k, nprobes)
      .filter(_._3 >= recallFloorPpm)
      .sortBy(r => (r._2, r._1)).headOption.map(_._1)
    require(choice.nonEmpty,
      s"ivfSearchAuto: no probe width in $nprobes reaches recall " +
        s"$recallFloorPpm ppm on the anchor query — widen nprobes or lower " +
        "the floor (a silent default would serve traffic at a recall the " +
        "floor just rejected)")
    val np = choice.get
    val res = ivfSearch(assigned, centroids, serveQuery, np, k)
      .withColumn("nprobe", lit(np))
      .localCheckpoint(eager = true)
    assigned.unpersist()
    res
  }

  /** DIMENSION-TRUNCATION tuning table (the Matryoshka-embedding
    * question): recall@k of cosine search using only the FIRST d
    * dimensions, per candidate d, against the full-dimension exact
    * top-k. Truncated search is how a pipeline cuts ANN index size /
    * bandwidth by 4–8× — this table says what that costs in recall
    * BEFORE re-indexing the corpus. Passing the full dimension as one
    * of the configs pins recall_ppm = 1e6 (a built-in self-check).
    *
    * One map-side scored pass per config (query broadcast, slice is a
    * scan projection); driver traffic is k ids per config. Same
    * bounded-config contract as [[ivfTuning]] / `Dedup.lshTuning`.
    */
  def dimTruncationTuning(vecs: DataFrame, query: DataFrame, k: Int,
                          dims: Seq[Int]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val qe = broadcast(query.select(col("e").as("qe")))
    def topIds(d: Int): Seq[Long] =
      Partitioning.spread(vecs).crossJoin(qe)
        .withColumn("cs",
          rankCosine(slice(col("e"), 1, d), slice(col("qe"), 1, d)))
        .orderBy(col("cs").desc, col("vid")).limit(k)
        .select("vid").as[Long].collect().toSeq
    val fullDim = vecs.select(size(col("e"))).first().getInt(0)
    val full = topIds(fullDim).toSet
    dims.map { dcur =>
      (dcur, topIds(dcur).count(full) * 1000000L / k)
    }.toDF("dim", "recall_ppm")
  }

  def knnBruteForce(vecs: DataFrame, query: DataFrame, k: Int): DataFrame =
    Partitioning.spread(vecs).crossJoin(broadcast(query.select(col("e").as("qe"))))
      .withColumn("cos_sim", rankCosine(col("e"), col("qe")))
      .drop("e", "qe")
      .orderBy(col("cos_sim").desc, col("vid"))
      .limit(k)

  /** SEMI-HARD negative mining — the contrastive-training data op
    * (FaceNet's semi-hard criterion): for each anchor, the k most
    * similar OTHER-label candidates whose similarity is still BELOW
    * the anchor's best same-label (positive) similarity. Negatives
    * above that bar are likely label noise / undetected duplicates
    * (false negatives that poison a contrastive loss); negatives far
    * below it teach nothing — the band in between is the training
    * signal.
    *
    * `cands` must expose (vid, label, e); `anchors` (q_id, q_label,
    * qe) and must be SMALL (it broadcasts — the per-anchor phase-1
    * frame is 1 row/anchor by construction). Two map-side passes over
    * the candidate corpus: pass 1 reduces to each anchor's positive
    * ceiling (partial MAX, one tiny exchange); pass 2 scores negatives
    * against the broadcast ceilings and keeps k per anchor through the
    * k-bounded TopK aggregator — shuffle carries ≤ k rows per
    * anchor×partition, never the corpus. A two-phase plan is forced by
    * the semantics: the ceiling must exist before "below the ceiling"
    * is decidable, so no single-pass top-k can express it.
    */
  def semiHardNegatives(cands: DataFrame, anchors: DataFrame, k: Int): DataFrame = {
    val spreadC = Partitioning.spread(cands)
    val pos = spreadC.crossJoin(broadcast(anchors))
      .filter(col("label") === col("q_label"))
      .withColumn("cos_sim", rankCosine(col("e"), col("qe")))
      .groupBy(col("q_id")).agg(max(col("cos_sim")).as("pos_sim"))
    val negScored = spreadC.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("q_label"))
      .withColumn("cos_sim", rankCosine(col("e"), col("qe")))
      .join(broadcast(pos), "q_id")
      .filter(col("cos_sim") < col("pos_sim"))
    TopK.topKPerGroup(negScored, "q_id", col("cos_sim"), col("vid"),
        k, "cos_sim", "vec_id")
      .join(broadcast(pos), "q_id")
  }

  /** Per-dimension int8 scalar quantization — the 4× (fp32) / 8× (fp64)
    * embedding-store compression step of a vector pipeline. Each
    * dimension is affinely mapped onto codes 0..255 between its global
    * min and max; a constant dimension codes to 0.
    *
    * Returns one row per vector: (id, n_dims, code_sum, max_err,
    * codes), where `codes` is the comma-joined code string in dimension
    * order and `max_err` the worst absolute reconstruction error.
    *
    * Scale shape: the per-dimension (lo, hi) table is `dim` rows —
    * aggregated with map-side combine from the posexploded scan, then
    * BROADCAST back over the data, so the codes themselves are computed
    * map-side; the only full-data shuffle is the regroup by id. All
    * arithmetic is double with one fixed expression shape, so codes are
    * engine-exact (`floor(x + 0.5)`, not banker's rounding).
    */
  /** Per-(id, pos) int8 codes with the dim stats and reconstruction
    * error attached — the shared quantization core of [[quantizeInt8]]
    * (per-vector rollup) and [[pqAssign]] (codebook assignment).
    */
  def quantizeCodes(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ex = vecs
      .select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), col("pos"), col("col").cast("double").as("v"))
    val dims = ex.groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
    ex.join(broadcast(dims), "pos")
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(floor((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo")) + 0.5)))
      .withColumn("err",
        abs(col("v") - (col("lo") + col("code") * (col("hi") - col("lo")) / 255.0)))
  }

  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val coded = quantizeCodes(vecs, idCol, vecCol)
    coded.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("code")).as("code_sum"),
        max(col("err")).as("max_err"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("code")))),
            x => x.getField("code").cast("string")),
          ",").as("codes"))
  }

  /** Product-quantization assignment over INT8 codes: split each coded
    * vector into `nSub` subspaces of `subDim` dims; per subspace, pick
    * the codebook entry (a designated set of coded vectors) with the
    * minimum squared-integer distance (ties → smallest codebook id).
    * Returns one row per vector: the `nSub` chosen codebook ids plus
    * the total quantization distance.
    *
    * Running PQ on the int8 codes (not the raw floats) is what makes
    * the assignment ENGINE-EXACT — every distance is a BIGINT — and it
    * mirrors production practice, where PQ trains on already-quantized
    * vectors to keep codebooks byte-addressable. Distances join the
    * broadcast codebook on `pos`, partial-aggregate to (id, subspace,
    * centroid) before any shuffle, and the per-subspace argmin window
    * reads one row per candidate — never per dimension.
    */
  def pqAssign(codes: DataFrame, cbCodes: DataFrame, idCol: String,
               nSub: Int, subDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = cbCodes.select(col(idCol).as("__cid"), col("pos"),
      col("code").as("__ccode"))
    val d2 = codes
      .select(col(idCol), col("pos"), col("code"), expr(s"pos div $subDim").as("__s"))
      .join(broadcast(cb), "pos")
      .groupBy(col(idCol), col("__s"), col("__cid"))
      .agg(sum((col("code") - col("__ccode")) * (col("code") - col("__ccode"))).as("__d2"))
    val best = d2
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol), col("__s")).orderBy(col("__d2"), col("__cid"))))
      .filter(col("__rn") === 1)
    val codeCols = (0 until nSub).map(s =>
      max(when(col("__s") === s, col("__cid"))).as(s"code$s"))
    val errExpr = (0 until nSub).map(s =>
      max(when(col("__s") === s, col("__d2")))).reduce(_ + _).as("pq_err")
    best.groupBy(col(idCol)).agg(codeCols.head, (codeCols.tail :+ errExpr): _*)
  }
}
