package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication for training-data pipelines: exact (content
  * hash), MinHash + LSH banding (near-dup at scale), and SimHash.
  *
  * Scale design (the point of using Spark at all):
  *  - every stage is a keyed shuffle with map-side combine — shingle
  *    explosion never leaves the map side un-aggregated;
  *  - candidate generation is a self-equi-join on (band, signature),
  *    which Catalyst executes as a shuffled hash join on the bucket key —
  *    quadratic work happens only WITHIN a bucket, never globally;
  *  - exact Jaccard verification runs only on LSH candidates, so the
  *    pairwise stage is linear in candidate count, not O(n²) in corpus.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum id as
    * canonical, report sorted duplicate-id lists.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keep_id"),
        array_join(transform(sort_array(collect_list(col(idCol))),
          _.cast(StringType)), ",").as("ids"))
      .filter(col("n_copies") > 1)

  /** Distinct (id, shingle) pairs — the set representation used by both
    * minhash and the exact-Jaccard verifier.
    *
    * Uses the custom `ShingleGenerator` (one pass over the string,
    * rows stream partition-locally): the natural
    * `transform(sequence, i -> array_join(slice(...)))` is interpreted
    * (~80 µs/shingle measured) and the windowed-LEAD rewrite costs a
    * per-document shuffle + sort. The generator needs neither.
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Partitioning.spread(df)
      .select(col(idCol).as("id"),
        graft.functions.ShingleGenerator.shingles(col(textCol), n).as("sh"))
      .distinct()

  /** Hashed shingle sets: distinct (id, h) where h = hash60(shingle).
    *
    * This is the representation the full pipeline shuffles, caches, and
    * joins — 8-byte longs instead of n-word strings. The string never
    * leaves the map side: hashing happens before the distinct, so the
    * dedup shuffle, the minhash input, and both sides of the Jaccard
    * verify join carry fixed-width keys (~4× less shuffle I/O than
    * 3-word shingle text, independent of document vocabulary). Jaccard
    * over hashed sets equals Jaccard over string sets up to 60-bit
    * collisions *within one document pair* (~|A∪B|²/2^61 — negligible),
    * and the oracle computes the identical hashed formulation, so the
    * comparison is exact either way.
    */
  def shingleHashSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleHashes(df, idCol, textCol, n).distinct()

  /** The same sets as [[shingleHashSet]], one row per document: (id,
    * hs — the sorted distinct hash array). `collect_set` takes the
    * distinct's place in the one exchange; a document with no shingle
    * has no row. The form [[jaccardVerifyArrays]] reads.
    */
  private[graft] def shingleHashArrays(df: DataFrame, idCol: String, textCol: String,
                                       n: Int): DataFrame =
    hashArraysOf(shingleHashes(df, idCol, textCol, n))

  /** (id, h) per shingle occurrence — not yet distinct. */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Partitioning.spread(df)
      .select(col(idCol).as("id"),
        graft.functions.ShingleGenerator.shingles(col(textCol), n).as("sh"))
      .select(col("id"), TextOps.hash60(col("sh")).as("h"))

  private def hashArraysOf(idHashes: DataFrame): DataFrame =
    idHashes.groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("hs"))

  /** Per-document shingle-hash fingerprint (min/max hash + distinct
    * shingle count) in ONE exchange. The naive formulation —
    * [[shingleHashSet]] (a distinct on (id, h)) followed by a
    * groupBy(id) — shuffles twice: once on (id, h) for the distinct,
    * once on id for the rollup. `countDistinct` doesn't help: Spark
    * plans a one-distinct aggregate with the same two exchanges
    * ((id, h) then (id)). `collect_set` DOES: the set is an ordinary
    * partially-aggregable buffer, so the plan is a map-side
    * ObjectHashAggregate that dedups shingles per document BEFORE
    * anything moves, one Exchange on id, and a final set-merge —
    * min/max ride in the same aggregate. Per-group state is the
    * document's distinct-shingle set (bounded by document length — the
    * same payload the two-exchange plan shuffles as rows). At 100 TB
    * this halves the shuffle count of the fingerprint pass.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Partitioning.spread(df)
      .select(col(idCol).as("id"),
        graft.functions.ShingleGenerator.shingles(col(textCol), n).as("sh"))
      .select(col("id"), TextOps.hash60(col("sh")).as("h"))
      .groupBy(col("id"))
      .agg(min(col("h")).as("fp_min"), max(col("h")).as("fp_max"),
        size(collect_set(col("h"))).cast("long").as("n_shingles"))

  /** Universal-hash family for minhash: h_j(x) = (a_j·h + b_j) mod 2^30
    * over the 30-bit base content hash. One md5 per shingle instead of
    * k; the per-seed constants derive from the same portable hash so
    * any engine regenerates them. All values stay < 2^61 — no 64-bit
    * overflow on either engine.
    */
  private[graft] val MinhashMask = (1L << 30) - 1
  private[graft] def minhashA(j: Int): Long =
    (graft.functions.Hash60Impl.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"a:$j")) & MinhashMask) | 1L
  private[graft] def minhashB(j: Int): Long =
    graft.functions.Hash60Impl.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"b:$j")) & MinhashMask

  /** One-pass minhash signature aggregator: the k per-seed minima live
    * in one Array[Long] buffer per group (SURVEY §7.4.8's
    * TypedImperativeAggregate niche, expressed as an `Aggregator`).
    * Versus the explode(k)×groupBy formulation this shuffles one
    * signature row per (group × partition) instead of k combined rows,
    * and never materializes the shingle×seed stream.
    */
  class MinHashSigAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    // The (a_j, b_j) constants are pure functions of j — computed once per
    // aggregator instance, NOT per input row: minhashA/B each run an MD5
    // digest, and reduce() is the hottest loop of the dedup family.
    private val as: Array[Long] = Array.tabulate(k)(minhashA)
    private val bs: Array[Long] = Array.tabulate(k)(minhashB)
    def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    def reduce(b: Array[Long], h: Long): Array[Long] = {
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % (MinhashMask + 1)
        if (v < b(j)) b(j) = v
        j += 1
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var j = 0
      while (j < k) { if (y(j) < x(j)) x(j) = y(j); j += 1 }
      x
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }
  private lazy val minhash16 = udaf(new MinHashSigAgg(16), Encoders.scalaLong)

  /** Packed MinHash signatures (id, sig: Array[Long] of length k) from
    * pre-hashed shingle sets (`shingleHashSet` output): k universal-hash
    * permutations of the 30-bit truncation, folded by `MinHashSigAgg`.
    * One keyed shuffle; the signature never explodes. Currently wired
    * for k = 16.
    */
  def minhashSigs(hashes: DataFrame, k: Int): DataFrame = {
    require(k == 16, "registered aggregator instance is k=16")
    hashes
      .select(col("id"), col("h").bitwiseAND(lit(MinhashMask)).as("h"))
      .groupBy(col("id"))
      .agg(minhash16(col("h")).as("sig"))
  }

  /** MAP-SIDE minhash signature from an already-collected hashed
    * shingle-set array — the same k universal-hash minima
    * [[MinHashSigAgg]] folds, as a codegen'd higher-order expression
    * (zip_with over the (a_j, b_j) constant arrays, aggregate over the
    * set). Arithmetic is identical to the aggregator's reduce
    * ((h & mask)·a_j + b_j mod 2^30 — all values < 2^61, no overflow),
    * so the signature is bit-equal (the DedupSpec equivalence test
    * pins it). For a caller that already holds per-document hash
    * arrays (the content-collapsed [[nearDupPairs]] cache) this
    * replaces `explode` + the `minhashSigs` groupBy — a full-corpus
    * shuffle — with zero data movement.
    */
  private[graft] def sigFromHashSet(hs: Column, k: Int = 16): Column = {
    // Any k ≥ 1: the permutation constants are generated per index, so
    // k ≠ 16 simply takes a different prefix of the same family (k = 16
    // is the prefix the registered aggregator folds — bit-equal there).
    require(k >= 1, s"k must be positive, got $k")
    val as = array((0 until k).map(j => lit(minhashA(j))): _*)
    val bs = array((0 until k).map(j => lit(minhashB(j))): _*)
    zip_with(as, bs, (a, b) =>
      aggregate(hs, lit(Long.MaxValue), (acc, h) =>
        least(acc, (h.bitwiseAND(lit(MinhashMask)) * a + b) % lit(MinhashMask + 1))))
  }

  /** Exploded (id, j, m) view of `minhashSigs` — the row shape the
    * oracle SQL and the equivalence specs compare.
    */
  def minhashFromHashes(hashes: DataFrame, k: Int): DataFrame =
    minhashSigs(hashes, k)
      .select(col("id"), posexplode(col("sig")).as(Seq("j", "m")))

  /** MinHash signatures from string shingle sets (one md5 per shingle,
    * then the k permutations). Kept for the equivalence spec; the
    * pipeline hashes before the distinct (`shingleHashSet`) instead.
    */
  def minhash(shingles: DataFrame, k: Int): DataFrame =
    minhashFromHashes(
      shingles.select(col("id"), TextOps.hash60(col("sh")).as("h")), k)

  /** Oracle SQL for the same signatures (shared constants). Reads the
    * hashed-shingle CTE `sh(id, h)` — the 60-bit hash is computed once
    * there, mirroring `shingleHashSet`.
    */
  def minhashSql(k: Int): String = {
    val cases = (0 until k).map(j =>
      s"((h * ${minhashA(j)} + ${minhashB(j)}) % ${MinhashMask + 1})")
    s"""SELECT id, j, MIN(CASE ${
      (0 until k).map(j => s"WHEN j = $j THEN ${cases(j)}").mkString(" ")
    } END) AS m
       |FROM (SELECT id, h & $MinhashMask AS h FROM sh),
       |     (SELECT unnest(generate_series(0, ${k - 1})) AS j)
       |GROUP BY 1, 2""".stripMargin
  }

  /** LSH banding: group the k minhashes into bands of `rowsPerBand`,
    * signature = comma-joined minhashes in seed order; candidate pairs
    * are ids sharing any (band, signature) bucket.
    *
    * Pair generation happens INSIDE the (band, sig) aggregation: each
    * bucket collects its sorted id list and emits the within-bucket
    * pairs directly. Versus the banded self-join this drops two
    * exchanges (the join re-shuffled the banded frame for both sides)
    * and the persist + eager-count the shared join input forced — the
    * whole candidate stage is one keyed shuffle plus the final pair
    * distinct, with nothing cached. Work per bucket is O(m²) in bucket
    * OCCUPANCY — unbounded on exact-dup-heavy corpora, since identical
    * documents share every band. This exploded formulation is kept as
    * the naive reference the DedupSpec equivalence test pins
    * [[lshCandidatesFromSigs]] (the production path, which collapses
    * identical signatures before banding) against.
    */
  def lshCandidates(mh: DataFrame, rowsPerBand: Int): DataFrame =
    pairsWithinBuckets(
      mh.withColumn("band", (col("j") / rowsPerBand).cast(IntegerType))
        .groupBy(col("id"), col("band"))
        .agg(array_join(
          transform(sort_array(collect_list(struct(col("j"), col("m")))),
            x => x.getField("m").cast(StringType)), ",").as("sig")))

  /** Candidate generation from PACKED signatures (`minhashSigs` output):
    * band signatures are sliced out of the k-long array map-side — no
    * explode, no (id, band) re-aggregation. One shuffle to bucket, one
    * to dedup pairs.
    *
    * Byte-identical documents share the whole signature, so identical
    * signatures are collapsed to one representative before banding and
    * the rep-level candidates expanded back to member pairs
    * ([[DupGroups]]); the DedupSpec equivalence test pins the output
    * against the exploded formulation ([[lshCandidates]]).
    */
  def lshCandidatesFromSigs(sigs: DataFrame, rowsPerBand: Int, k: Int): DataFrame = {
    val groups = DupGroups.collapse(sigs, Seq("sig"), "id")
    val repPairs = pairsWithinBuckets(
      bandsOf(groups.select(col("rep").as("id"), col("sig")), rowsPerBand, k))
    DupGroups.expand(groups, repPairs.select(col("ia").as("ra"), col("ib").as("rb")))
  }

  /** (id, band, sig-slice string) per signature band — the LSH bucket
    * keys, derived map-side from the packed signature array.
    */
  private[graft] def bandsOf(sigs: DataFrame, rowsPerBand: Int, k: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    sigs.select(col("id"), posexplode(expr(
      s"""transform(sequence(0, ${nBands - 1}),
         |  b -> array_join(transform(slice(sig, b * $rowsPerBand + 1, $rowsPerBand),
         |                            x -> cast(x AS string)), ','))""".stripMargin))
      .as(Seq("band", "sig")))
  }

  /** INCREMENTAL near-dup index maintenance: given the stored index —
    * the base corpus's hashed shingle sets (`baseSh`: id, h) and packed
    * minhash signatures (`baseSigs`: id, sig) — and a DELTA of new
    * documents, emit every verified near-dup pair that involves at
    * least one delta document. The base is never re-shingled or
    * re-hashed: only the delta is, and the LSH bucket join probes the
    * delta's bands against base∪delta bands, so base×base pairs (which
    * the index already knows) are never regenerated. This is the
    * ingest-time shape of dedup at 100 TB — per-batch cost tracks the
    * BATCH, not the corpus; the index frames are the same (id, h) /
    * (id, sig) tables [[nearDupPairs]] builds, stored once.
    *
    * Exact-dup amplification note (cf. the collapse in
    * [[lshCandidatesFromSigs]]/[[nearDupPairs]]): the band JOIN here is
    * delta-bounded — a delta doc hitting a base dup-group of size m
    * yields m join rows per band, ×nBands over the inherent m output
    * pairs, a constant-factor amplification rather than the
    * occupancy² blow-up of all-pairs-in-bucket enumeration. The
    * batch-path restructure is therefore not replicated here; if a
    * DELTA itself carries large exact-dup families, exact-dedup the
    * batch first (the composed pipeline's stage order already does).
    */
  def incrementalNearDupPairs(baseSh: DataFrame, baseSigs: DataFrame,
                              delta: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    val dSh = shingleHashSet(delta, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dSh.count()
    try incrementalNearDupPairsFromSets(baseSh, baseSigs, dSh, k, rowsPerBand,
      threshold)
    finally dSh.unpersist()
  }

  /** [[incrementalNearDupPairs]] with the delta's hashed shingle sets
    * supplied by the caller — the shape an INDEX-MAINTAINING loop wants
    * (the q_st14 streaming gate): the caller shingles each batch once,
    * probes it here, then appends the SAME frame to the stored index,
    * instead of shingling the batch a second time. `dSh` must be
    * materialized (persisted or checkpointed): it is referenced by the
    * band probe, the re-ingest anti-join, and the verifier.
    *
    * `baseSizes` (id, n) — the stored per-id set-size column of the
    * index. When supplied, the verify's size table is assembled
    * incrementally (base sizes minus re-ingested ids, plus map-side
    * delta sizes) instead of re-aggregating the ENTIRE merged shingle
    * table per batch — at 100 TB the latter is a corpus-wide groupBy
    * on every ingest tick, the former is delta-bounded. Sizes are
    * cheap index metadata; a maintaining loop should store them.
    */
  def incrementalNearDupPairsFromSets(baseSh: DataFrame, baseSigs: DataFrame,
                                      dSh: DataFrame, k: Int = 16,
                                      rowsPerBand: Int = 4,
                                      threshold: Double = 0.5,
                                      baseSizes: Option[DataFrame] = None,
                                      dSigs: Option[DataFrame] = None,
                                      dSizes: Option[DataFrame] = None,
                                      dIds: Option[DataFrame] = None): DataFrame = {
    // The delta's signatures / sizes / distinct ids are index artifacts
    // an index-maintaining caller stores anyway: accept them
    // pre-materialized (dSigs/dSizes/dIds) so one tick computes each
    // ONCE — otherwise this probe re-runs the delta's signature groupBy
    // and sizes aggregation that the caller's own frame writes just
    // paid (two redundant delta shuffles per tick). Semantics are
    // identical: each option must be exactly the corresponding
    // derivation of dSh.
    val dBands = bandsOf(dSigs.getOrElse(minhashSigs(dSh, k)), rowsPerBand, k)
    val allBands = bandsOf(baseSigs, rowsPerBand, k).unionByName(dBands)
    val cand = dBands.select(col("band"), col("sig"), col("id").as("ida"))
      .join(allBands.select(col("band"), col("sig"), col("id").as("idb")),
        Seq("band", "sig"))
      .where(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("ia"),
        greatest(col("ida"), col("idb")).as("ib"))
      .distinct()
    // Re-ingested ids: a document arriving under an id the index
    // already holds must REPLACE its stored shingle rows — a plain
    // union would count both versions' (id, h) rows, inflating set
    // sizes and deflating jac below threshold for true near-dups
    // involving that id (and a distinct() would still blend old+new
    // content when the text changed). Delta ids are batch-bounded, so
    // the drop is a broadcast anti-join — a map-side filter on the
    // base, no extra exchange.
    val deltaIds = dIds.getOrElse(dSh.select(col("id")).distinct())
    val mergedSh = baseSh.join(broadcast(deltaIds), Seq("id"), "left_anti")
      .unionByName(dSh)
    val sizes = baseSizes match {
      case Some(bs) => bs.join(broadcast(deltaIds), Seq("id"), "left_anti")
        .unionByName(dSizes.getOrElse(
          dSh.groupBy("id").agg(count(lit(1)).as("n"))))
      case None => mergedSh.groupBy("id").agg(count(lit(1)).as("n"))
    }
    jaccardVerifySized(cand, mergedSh, sizes, setCol = "h")
      .filter(col("jac") >= threshold)
      .select(col("ia"), col("ib"), col("jac"))
      .localCheckpoint(eager = true)
  }

  /** Distinct (ia < ib) pairs of ids sharing a (band, sig) bucket,
    * enumerated by streamed generators (see [[DupGroups]]).
    */
  private def pairsWithinBuckets(banded: DataFrame): DataFrame =
    banded
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .where(col("ia") < col("ib"))
      .distinct()

  /** Exact n-gram Jaccard for candidate pairs, against the shingle sets
    * stored as ROWS (string `sh` column or hashed `h` column — pass
    * `setCol`). inter/union computed from set sizes: |A∩B| via equi-join
    * on shingle, |A∪B| = |A|+|B|−|A∩B|.
    *
    * This form is for callers whose sets live as (id, shingle) rows and
    * are never folded into one row per document: the keep-best store's
    * stored hashes ([[KeepBestIndexStore]]), the incremental probe
    * ([[incrementalNearDupPairsFromSets]]), `tools.DupStress` and the
    * specs. A caller that holds (or builds in its existing shuffle) one
    * hash array per document verifies with [[jaccardVerifyArrays]]
    * instead: the join + group-by here moves Σ|A| shingle rows per
    * candidate pair, the array form moves two rows.
    */
  def jaccardVerify(cand: DataFrame, shingles: DataFrame,
                    setCol: String = "sh"): DataFrame =
    jaccardVerifySized(cand, shingles,
      shingles.groupBy("id").agg(count(lit(1)).as("n")), setCol)

  /** [[jaccardVerify]] with the per-id set sizes supplied by the
    * caller — skips the sizes aggregation when they are already known
    * (e.g. `size(hs)` map-side off a grouped frame).
    *
    * Any extra `cand` columns beyond (ia, ib) ride through the verify
    * unchanged — they join the intersection groupBy's keys, so they
    * must be functionally dependent on the pair (e.g. [[lshTuning]]'s
    * multiplicity weight).
    */
  private[graft] def jaccardVerifySized(cand: DataFrame, shingles: DataFrame,
                                        sizes: DataFrame,
                                        setCol: String): DataFrame = {
    val keys = cand.columns.toSeq
    val inter = cand
      .join(shingles.select(col("id").as("ia"), col(setCol)), Seq("ia"))
      .join(shingles.select(col("id").as("ib"), col(setCol)), Seq("ib", setCol))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("ia"), col("n").as("na")), Seq("ia"))
      .join(sizes.select(col("id").as("ib"), col("n").as("nb")), Seq("ib"))
      .withColumn("jac",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
  }

  /** Exact Jaccard for candidate pairs (ia, ib, extra…) against one
    * sorted hashed-shingle array per document: `sets` holds (id, hs,
    * side…). Each side joins `sets` once, and the pair's intersection is
    * `size(array_intersect(ha, hb))` within the row, so no shingle row
    * is exploded or shuffled. The arithmetic is [[jaccardVerify]]'s —
    * `inter`, `na` and `nb` as Long, `jac = inter * 1.0 / (na + nb -
    * inter)` — so the doubles are bit-identical, and pairs sharing no
    * shingle are dropped as the shingle join drops them (DedupSpec pins
    * the two forms equal).
    *
    * Output: the candidate's columns, each extra `sets` column c of
    * both sides as `c_a`/`c_b`, then inter, na, nb and jac. Used by
    * every MinHash caller that holds per-document (or per-group) arrays:
    * `q_d10_minhash_est`, [[lshTuning]] and [[nearDupPairsFromGroups]].
    */
  private[graft] def jaccardVerifyArrays(cand: DataFrame, sets: DataFrame): DataFrame = {
    val side = sets.columns.toSeq.filterNot(Set("id", "hs"))
    def of(s: String) = sets.select(col("id").as(s"i$s") +: col("hs").as(s"h$s") +:
      side.map(c => col(c).as(s"${c}_$s")): _*)
    cand.join(of("a"), "ia").join(of("b"), "ib")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast(LongType))
      .where(col("inter") > 0)
      .withColumn("na", size(col("ha")).cast(LongType))
      .withColumn("nb", size(col("hb")).cast(LongType))
      .withColumn("jac",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
      .drop("ha", "hb")
  }

  /** Full near-dup pipeline: shingle → minhash(k) → LSH(bands) →
    * exact-Jaccard ≥ threshold.
    *
    * CONTENT COLLAPSE (r11): documents with identical hashed shingle
    * SETS have — by definition of Jaccard — identical similarity
    * against every other document, so the whole minhash → LSH → verify
    * chain runs once per DISTINCT content, not once per copy.
    * Exact-dup-heavy corpora (the realistic crawl shape) otherwise pay
    * the verify join quadratically in dup-group size TIMES set size: a
    * page duplicated m× contributes m²/2 candidate pairs, each dragging
    * its full shingle set through `jaccardVerify`'s equi-join. Here the
    * group's rep pair is verified once and the verdict expanded to
    * member pairs at output — within-group pairs are Jaccard 1.0
    * exactly (identical sets), matching what the naive formulation
    * computes for them. The output RELATION is unchanged (pairs among
    * exact copies included — run [[exactGroups]] upstream when those are
    * not wanted); per-distinct-content cost is what scales. Grouping is
    * by the full sorted hash array, not a derived digest, so distinct
    * contents can never merge.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    // Content groups feed the rep shingle table, the within-group
    // expansion, and both sides of the cross-group expansion:
    // materialized eagerly so downstream stages read the cache instead
    // of racing to fill it.
    val grouped = contentGroups(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Concurrent.labeled(df.sparkSession, "dedup:near_dup:groups")(grouped.count())
    val out = nearDupPairsFromGroups(grouped, k, rowsPerBand, threshold)
    grouped.unpersist()
    out
  }

  /** [[nearDupPairs]] off an ALREADY-computed (and caller-persisted)
    * [[contentGroups]] frame — the compute-once contract
    * [[nearDupPairsAuto]] needs: the corpus is shingled/hashed/grouped
    * exactly ONCE and the same cached frame feeds both the chooser's
    * sample scaffold and the full-corpus banding (the q_d25
    * SimHash-family pattern, applied to MinHash). The caller owns the
    * persist/unpersist of `grouped`; the returned pair relation is an
    * eager localCheckpoint, so releasing the cache after this returns
    * is safe. DedupSpec pins FromGroups ≡ the from-text form.
    */
  def nearDupPairsFromGroups(grouped: DataFrame, k: Int, rowsPerBand: Int,
                             threshold: Double): DataFrame = {
    // Signatures come map-side off the cached hs arrays (sigFromHashSet
    // — bit-equal to minhashSigs, zero movement), and banding is plain
    // pairsWithinBuckets, NOT the sig-collapsing lshCandidatesFromSigs:
    // contents are already collapsed here, so residual bucket occupancy
    // is the distinct-content near-dup family size — output-bounded —
    // and the sig-collapse would only add its exchange + expansion
    // joins for nothing. The verify reads the same cached arrays.
    val reps = grouped.select(col("rep").as("id"), col("hs"))
    val repSigs = reps.select(col("id"), sigFromHashSet(col("hs"), k).as("sig"))
    val cand = pairsWithinBuckets(bandsOf(repSigs, rowsPerBand, k))
    val repVerified = jaccardVerifyArrays(cand, reps)
      .filter(col("jac") >= threshold)
      .select(col("ia").as("ra"), col("ib").as("rb"), col("jac"))
    // Exact copies have identical sets: Jaccard exactly 1.0. The verified
    // pair set is linear in candidates, not corpus: materialize it
    // eagerly so the caller can release the groups cache — repeated
    // invocations must not leak storage.
    Concurrent.labeled(grouped.sparkSession, "dedup:near_dup:pairs")(
      DupGroups.expand(grouped, repVerified, Seq(lit(1.0).as("jac")), lit(1.0 >= threshold))
        .localCheckpoint(eager = true))
  }

  /** One group row per DISTINCT hashed shingle SET: (hs — the sorted
    * hashed shingle array, members — sorted ids sharing it, rep —
    * min id). The CONTENT-keyed collapse shared by [[nearDupPairs]]
    * and [[lshTuning]]: grouping is by the full sorted hash array, not
    * a derived digest (or the minhash signature — see [[lshTuning]]),
    * so distinct contents can never merge, and within-group Jaccard is
    * exactly 1.0 by definition. The per-id set is built by collect_set
    * DIRECTLY off the shingle generator — the set semantics
    * shingleHashSet gets from its distinct(), fused into the same
    * exchange as the grouping (one shuffle, not two).
    */
  private[graft] def contentGroups(df: DataFrame, idCol: String, textCol: String,
                                   shingleN: Int): DataFrame =
    contentGroupsOf(shingleHashes(df, idCol, textCol, shingleN))

  /** [[contentGroups]] of (id, h) shingle-hash rows — also the keep-best
    * store's groups, rebuilt from its stored hashes.
    */
  private[graft] def contentGroupsOf(idHashes: DataFrame): DataFrame =
    DupGroups.collapse(hashArraysOf(idHashes), Seq("hs"), "id")

  /** The within-group member-pair weight Σ C(m, 2) over a
    * [[contentGroups]] frame — one driver scalar.
    */
  private def withinPairs(groups: DataFrame): Long =
    groups.agg(coalesce(sum(contentPairWeight), lit(0L))).first().getLong(0)

  private def contentPairWeight: Column =
    BandChooser.pairWeight("cast(size(members) as bigint)")

  /** All banding configurations in ONE frame, tagged by `rpb` — the
    * single-pass multi-config shape [[lshTuning]] and the LSH chooser
    * share: one union, one downstream bucket aggregation, never a
    * per-config job cascade.
    */
  private def taggedBands(sigs: DataFrame, rowsPerBandConfigs: Seq[Int],
                          k: Int): DataFrame =
    rowsPerBandConfigs.map(r => bandsOf(sigs, r, k).withColumn("rpb", lit(r)))
      .reduce(_ unionByName _)

  /** The WEIGHTED multi-config rep-level candidate relation
    * (rpb, ia, ib, w = ma·mb) — the one banding pass all three
    * operating-point tables ([[lshTuning]], [[lshRecall]],
    * [[chooseLshConfig]]) count from; extracting it is what keeps
    * their arithmetic in provable lockstep (DedupSpec pins the three
    * tables numerically equal on shared columns). Signatures come
    * map-side off the cached hs arrays; the member count rides through
    * the banding as a struct id so the weighted count needs no join;
    * chained generators stream the in-bucket enumeration.
    */
  private def weightedRepCandAll(groups: DataFrame,
                                 rowsPerBandConfigs: Seq[Int],
                                 k: Int): DataFrame = {
    val sigsW = groups.select(
      struct(col("rep").as("id"), size(col("members")).cast(LongType).as("m")).as("id"),
      sigFromHashSet(col("hs"), k).as("sig"))
    taggedBands(sigsW, rowsPerBandConfigs, k)
      .groupBy(col("rpb"), col("band"), col("sig"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(col("rpb"), explode(col("ids")).as("ia"), col("ids"))
      .select(col("rpb"), col("ia"), explode(col("ids")).as("ib"))
      .where(col("ia") < col("ib"))
      .select(col("rpb"), col("ia.id").as("ia"), col("ib.id").as("ib"),
        (col("ia.m") * col("ib.m")).as("w"))
      .distinct()
      .localCheckpoint(eager = true)
  }

  /** Within-group (identical-content) pair weights Σ C(m, 2) over
    * content groups: (all — every such pair is a candidate in every
    * config — and TRUE under the truth universe). Truth is restricted,
    * when a `truthDfCap` BINDS (`capped`), to groups whose INFORMATIVE
    * shingle set is non-empty. A group whose entire set is capped out (a
    * pure-boilerplate duplicate family) has informative Jaccard 0/0 —
    * NOT a true pair under the stop-shingle contract
    * ([[ngramJaccardPairs]]), exactly as the member-level
    * inverted-index algebra computes it: a pair sharing zero
    * informative shingles never appears in the truth join. Candidates
    * are deliberately unaffected — identical sets band identically
    * under every config, so such pairs still COUNT as candidates and
    * fail verification, pricing the boilerplate waste into precision
    * instead of hiding it. Uncapped, every identical-content pair is
    * true by definition (equal sets are equal under the full
    * universe). One job either way.
    */
  private def withinOf(groups: DataFrame, postings: DataFrame, capped: Boolean,
                       threshold: Double): (Long, Long) = {
    val (all, informative) =
      if (!capped) { val n = withinPairs(groups); (n, n) }
      else {
        val r = groups
          .join(postings.select(col("id").as("rep"), lit(true).as("inf")).distinct(),
            Seq("rep"), "left")
          .agg(coalesce(sum(contentPairWeight), lit(0L)),
            coalesce(sum(when(col("inf"), contentPairWeight).otherwise(0L)), lit(0L)))
          .first()
        (r.getLong(0), r.getLong(1))
      }
    (all, if (1.0 < threshold) 0L else informative)
  }

  /** The rep-level WEIGHTED truth relation (ia, ib, w = ma·mb): exact
    * Jaccard ≥ threshold off the inverted index — one self-join keyed
    * on the shingle hash (one row per SHARED shingle, never candidate
    * × set-size), then the size join; weights expand rep truth to
    * member truth without enumerating members. The LSH chooser's
    * truth ([[chooseLshConfigFromGroups]]).
    */
  private def repTruth(postings: DataFrame, sizes: DataFrame, mOf: DataFrame,
                       threshold: Double): DataFrame =
    postings.select(col("h"), col("id").as("ia"))
      .join(postings.select(col("h"), col("id").as("ib")), Seq("h"))
      .where(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("ia"), col("n").as("na")), Seq("ia"))
      .join(sizes.select(col("id").as("ib"), col("n").as("nb")), Seq("ib"))
      .where(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))
        >= threshold)
      .join(mOf.select(col("rep").as("ia"), col("m").as("ma")), Seq("ia"))
      .join(mOf.select(col("rep").as("ib"), col("m").as("mb")), Seq("ib"))
      .select(col("ia"), col("ib"), (col("ma") * col("mb")).as("w"))
      .localCheckpoint(eager = true) // bounded by the true-pair count

  /** Quality-aware near-dup purge — the q_d9 "keep one per cluster"
    * rule with the keep decision a curation pipeline actually wants:
    * the member with the BEST score survives (ties break to the
    * smaller id — fully deterministic), not the member with the
    * smallest id. "Best" is whatever the caller scored: the learned NB
    * quality score, a Gopher metric, document completeness — dedup
    * decides WHICH content is duplicated, the score decides WHICH COPY
    * carries it forward; conflating the two (keep-min) throws away the
    * highest-quality version of every page whose best copy is not its
    * first-crawled one.
    *
    * Shape: the cluster map and the loser set are |dup members| rows.
    * The q_d9 contract applies verbatim: on a lightly-duplicated
    * corpus both frames are tiny and AQE converts the joins to
    * broadcasts at runtime; on a dup-DOMINATED corpus (30–50% dup
    * members is common at crawl scale) they are corpus-scale, and a
    * forced broadcast hint would overflow the driver — so the hints
    * are deliberately ABSENT and the join strategy is left to AQE's
    * runtime statistics rather than to a scaladoc premise. The
    * per-cluster window runs over the member-bounded frame either
    * way; the corpus itself is never shuffled.
    *
    * Returns the surviving (id, score) rows.
    */
  def purgeKeepBest(df: DataFrame, idCol: String, textCol: String,
                    score: Column, threshold: Double = 0.5): DataFrame = {
    val scored = df.select(col(idCol).as("id"), score.as("score"))
    scored.join(keepBestLosersOf(scored, df, idCol, textCol, threshold),
      Seq("id"), "left_anti")
  }

  /** The LOSER side of [[purgeKeepBest]] — every dup-cluster member
    * except its best-scoring one (ties to the smaller id) — exposed so
    * a caller that already holds the corpus (the curation pipeline's
    * neardup stage) can anti-join the losers directly instead of
    * semi-joining against a corpus-sized survivor frame.
    */
  def keepBestLosers(df: DataFrame, idCol: String, textCol: String,
                     score: Column, threshold: Double = 0.5): DataFrame =
    keepBestLosersOf(df.select(col(idCol).as("id"), score.as("score")),
      df, idCol, textCol, threshold)

  private def keepBestLosersOf(scored: DataFrame, df: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double): DataFrame =
    keepBestLosersFromClusters(scored,
      dupClusters(nearDupPairs(df, idCol, textCol, threshold = threshold)))

  /** THE keep-best purge rule, as one function of (scores, cluster
    * map): every cluster member except the best-scoring one, ties to
    * the smaller id. Every keep-best consumer — the batch purge above,
    * the curation pipeline's neardup stage, and the streaming
    * [[KeepBestIndex]] — routes through this single window so the rule
    * cannot drift between the batch gate (q_d20) and its streaming
    * twin (q_st17), whose oracles require them identical.
    */
  private[ops] def keepBestLosersFromClusters(scored: DataFrame,
                                              clusters: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("id").asc)
    scored.join(clusters, Seq("id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1)
      .select(col("id"))
  }

  /** Standalone exact n-gram Jaccard near-dup pairs — no minhash
    * approximation. Jaccard is defined over the INFORMATIVE shingle
    * universe: shingles whose document frequency exceeds `dfCap` are
    * removed from both sets before comparing (stop-shingle removal —
    * the same reasoning as stopword removal, and the thing that bounds
    * the inverted index: a df-1M stop-shingle would otherwise emit
    * 10¹² posting pairs). Within that universe the result is EXACT:
    * the intersection size is counted directly on the inverted-index
    * self-join — one row per *shared shingle*, one keyed aggregate —
    * never by re-joining candidate pairs against full sets (which
    * multiplies candidates by set size and was measured 10× slower).
    * Complexity: Σ_h df_h² over df ≤ cap, instead of O(n²) global.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        dfCap: Int = 100): DataFrame = {
    val sh = shingleHashSet(df, idCol, textCol, shingleN)
    // Informative postings: window-count per h beats a groupBy+join
    // re-shuffle (one keyed exchange, counted and filtered in place).
    // Persisted: referenced by sizes + both self-join sides.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val informative = sh.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= dfCap)
      .select("id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    informative.count()
    val sizes = informative.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = informative.select(col("h"), col("id").as("ia"))
      .join(informative.select(col("h"), col("id").as("ib")), Seq("h"))
      .where(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select(col("id").as("ia"), col("n").as("na")), Seq("ia"))
      .join(sizes.select(col("id").as("ib"), col("n").as("nb")), Seq("ib"))
      .withColumn("jac",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("ia"), col("ib"), col("jac"))
      .localCheckpoint(eager = true)
    informative.unpersist()
    out
  }

  /** GENERALIZED (weighted) Jaccard over term-frequency bags:
    * sim(A,B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t)).
    * Set Jaccard ignores how often a term repeats; the bag form is what
    * near-dup detection wants when repetition is signal (boilerplate,
    * templated spam). Integer arithmetic only — the similarity crosses
    * as `Σmin·10⁶ div Σmax`, hash-exact on any engine.
    *
    * Shape: per-doc (term, tf) collapses map-side; candidate pairs and
    * their Σmin come from ONE inverted-index self-join (min(tfa, tfb)
    * summed per pair — never candidate×bag re-joins); Σmax derives as
    * |A|₁ + |B|₁ − Σmin from the per-doc mass. Terms in more than
    * `dfCapPct` percent of documents are dropped from the UNIVERSE
    * (stop-term removal, the [[ngramJaccardPairs]] contract) — the cap
    * is RELATIVE to corpus size, so the same call stays non-degenerate
    * at any scale factor (a fixed absolute cap empties the universe
    * the moment the corpus grows past it). Integer compare
    * (df·100 ≤ nDocs·pct): engine-exact.
    */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold1e6: Long = 300000L,
                           dfCapPct: Int = 20): DataFrame = {
    val tf = Partitioning.spread(df)
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(lower(col(textCol)))).as("t"))
      .filter(length(col("t")) >= 1)
      .groupBy("id", "t").agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("nd"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("t")
    val informative = tf.withColumn("df", count(lit(1)).over(w))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 <= col("nd") * dfCapPct)
      .select("id", "t", "tf")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    informative.count()
    val mass = informative.groupBy("id").agg(sum(col("tf")).as("m"))
    val interMin = informative.select(col("t"), col("id").as("ia"), col("tf").as("tfa"))
      .join(informative.select(col("t"), col("id").as("ib"), col("tf").as("tfb")), Seq("t"))
      .where(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(sum(least(col("tfa"), col("tfb"))).as("smin"))
    val out = interMin
      .join(mass.select(col("id").as("ia"), col("m").as("ma")), Seq("ia"))
      .join(mass.select(col("id").as("ib"), col("m").as("mb")), Seq("ib"))
      .withColumn("smax", col("ma") + col("mb") - col("smin"))
      .withColumn("sim1e6", expr("smin * 1000000L div smax"))
      .filter(col("sim1e6") >= threshold1e6)
      .select(col("ia"), col("ib"), col("smin"), col("smax"), col("sim1e6"))
      .localCheckpoint(eager = true)
    informative.unpersist()
    out
  }

  /** Shingle CONTAINMENT pairs — the ASYMMETRIC near-dup signal
    * (|A∩B| / |A| and |A∩B| / |B|) that Jaccard misses: a short
    * document quoted whole inside a long one has Jaccard ≈ |A|/|B|
    * (tiny) but containment ≈ 1. This is the quote/subset detector a
    * training-data pipeline runs next to symmetric dedup.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]] (intersections
    * counted directly on the posting self-join, never candidate×set),
    * with 1e6-scaled INTEGER containments (`div` — engine-exact, no
    * float division) and the pair kept when EITHER direction clears
    * `threshold1e6`. Exact over the full shingle universe; for corpora
    * with stop-shingle skew, pre-gate with the `dfCap` reasoning of
    * the Jaccard variant.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold1e6: Long = 500000L): DataFrame = {
    val sh = shingleHashSet(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("nsz"))
    val inter = sh.select(col("h"), col("id").as("ia"))
      .join(sh.select(col("h"), col("id").as("ib")), Seq("h"))
      .where(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select(col("id").as("ia"), col("nsz").as("na")), Seq("ia"))
      .join(sizes.select(col("id").as("ib"), col("nsz").as("nb")), Seq("ib"))
      .withColumn("cont_a1e6", expr("inter * 1000000L div na"))
      .withColumn("cont_b1e6", expr("inter * 1000000L div nb"))
      .filter(greatest(col("cont_a1e6"), col("cont_b1e6")) >= threshold1e6)
      .select(col("ia"), col("ib"), col("inter"), col("na"), col("nb"),
        col("cont_a1e6"), col("cont_b1e6"))
      .localCheckpoint(eager = true)
    sh.unpersist()
    out
  }

  /** Connected components over near-dup pairs: every document gets the
    * minimum id reachable through the pair graph (= a canonical
    * "keep" id per duplicate cluster).
    *
    * Label-propagation to fixpoint: each round joins labels across
    * edges and keeps the per-node minimum. The driver loop only checks
    * convergence counts (orchestration, not data); per-round lineage is
    * cut with localCheckpoint. Near-dup clusters have tiny diameters,
    * so rounds ≈ log(cluster size) — 2-3 in practice.
    *
    * ADVERSARIAL-DIAMETER GUARD: label propagation is O(diameter)
    * rounds, so a pathological chain (each doc near-dup of the next)
    * would run one round per chain link. After `maxLabelRounds`
    * non-converged rounds the call re-routes to
    * [[dupClustersAlternating]] (O(log² n) rounds regardless of
    * diameter) — same output contract, so callers never choose. Typical
    * near-dup graphs converge in 2-3 rounds and never hit the switch.
    */
  def dupClusters(pairs: DataFrame, maxLabelRounds: Int = 8): DataFrame = {
    val edges = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .unionByName(pairs.select(col("ib").as("a"), col("ia").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // groupBy subsumes a distinct on the same key — one exchange, not two.
    var labels = edges.select(col("a").as("id"), col("a").as("label"))
      .groupBy("id").agg(min("label").as("label"))
      .localCheckpoint(true)
    // Labels only ever decrease (min-propagation), so for NUMERIC ids the
    // label sum is a strictly decreasing convergence witness: unchanged
    // sum == fixpoint. One cheap aggregate over the just-checkpointed
    // blocks per round, instead of a join-based diff (a second full
    // shuffle). Decimal sum: a BIGINT sum over billions of large ids
    // could overflow, which ANSI mode turns into a job failure.
    // Only INTEGRAL ids qualify: the decimal(38,0) cast rounds
    // fractional labels, so a sub-unit decrease would be invisible and
    // declare convergence before the fixpoint. Non-integral ids
    // (string doc keys, float ids) get the exact join-based diff.
    val numericLabels = {
      import org.apache.spark.sql.types._
      labels.schema("label").dataType match {
        // IntegralType itself is private[sql]; enumerate its members.
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType if d.scale == 0 => true
        case _ => false
      }
    }
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).first().getDecimal(0)
    var prevSum = if (numericLabels) labelSum(labels) else null
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxLabelRounds) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .select(col("a").as("id"), col("label"))
      val next = labels.unionByName(viaNeighbors)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      if (numericLabels) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        converged = next
          .join(labels.withColumnRenamed("label", "old"), Seq("id"))
          .filter(col("label") =!= col("old"))
          .isEmpty
      }
      labels = next
      rounds += 1
    }
    edges.unpersist()
    if (!converged) {
      // Diameter exceeded the budget — an adversarial chain. Restart on
      // the alternating-star path, whose round count is diameter-free.
      // The label work so far is discarded: it's at most maxLabelRounds
      // cheap keyed aggregations, and correctness needs a fixpoint.
      return dupClustersAlternating(pairs)
    }
    labels.select(col("label").as("cluster_id"), col("id"))
  }

  /** Alternating large-star / small-star connected components — the
    * scale path for graphs whose clusters may chain (label propagation
    * is O(diameter) rounds; alternation converges in O(log² n) rounds
    * regardless of diameter). Same output contract as `dupClusters`:
    * (cluster_id = component minimum, id) for every node.
    *
    * Each round is two keyed shuffles (window-min per star center — no
    * collect_list, so a hub with millions of neighbors never
    * materializes its adjacency in one buffer) with lineage cut per
    * round. Public reference: Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC '14).
    */
  def dupClustersAlternating(pairs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")

    // large-star: around every center u, link each LARGER neighbor to
    // the minimum of the closed neighborhood.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star: orient edges large→small, link center and every
    // (smaller) neighbor to the neighborhood minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
      val withMin = oriented.withColumn("m", least(min(col("v")).over(w), col("u")))
      withMin.select(col("v").as("a"), col("m").as("b"))
        .unionByName(withMin.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    var edges = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    var converged = false
    while (!converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // Set equality: equal cardinality + empty one-sided difference
      // (both sides are distinct by construction).
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("a", "b"), "left_anti").isEmpty
      edges = next
    }
    // Fixpoint is a star per component: a → component min. The root
    // itself labels as its own cluster.
    edges.select(col("b").as("cluster_id"), col("a").as("id"))
      .unionByName(edges.select(col("b").as("cluster_id"), col("b").as("id")).distinct())
  }

  /** Benchmark decontamination: flag training documents sharing n-gram
    * shingles with an evaluation set (the GPT-3 appendix-C / PaLM
    * overlap rule, expressed relationally). The eval side is tiny
    * relative to the corpus, so its distinct shingle hashes BROADCAST —
    * the only shuffle is the per-doc overlap count, keyed the same as
    * every other per-doc aggregate. Reports per-doc overlap counts and
    * fraction; callers threshold (conventionally: any overlap ≥ 1
    * n-gram of n=8+ is contamination).
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val t = shingleHashSet(train, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.count()
    // Per-doc report is corpus-cardinality-bounded: materialize eagerly,
    // release the pinned shingle blocks (same lifecycle as nearDupPairs).
    val out = decontaminatePlan(t, evalSet, idCol, textCol, n)
      .localCheckpoint(eager = true)
    t.unpersist()
    out
  }

  /** The un-checkpointed plan (plan-shape specs inspect this). */
  private[graft] def decontaminatePlan(t: DataFrame, evalSet: DataFrame,
                                       idCol: String, textCol: String,
                                       n: Int): DataFrame = {
    val e = shingleHashSet(evalSet, idCol, textCol, n)
      .select(col("h")).distinct()
    val sizes = t.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val hits = t.join(broadcast(e), Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    sizes.join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        col("n_shingles"),
        (coalesce(col("n_overlap"), lit(0L)) * lit(1.0) / col("n_shingles"))
          .as("overlap_frac"))
  }

  // ---- Span-level (sub-document) dedup --------------------------------

  /** C4-style duplicated-span removal: cut each document into
    * consecutive `span`-token windows (stride = span, non-overlapping),
    * drop every window whose exact content also appears in a
    * lower-id document (the canonical owner keeps its copy), and
    * reassemble the surviving windows in order. This removes cross-
    * document boilerplate (headers, license blocks, navigation chrome)
    * that document-level dedup can't see.
    *
    * Scale shape: chunk ownership is a groupBy(hash).agg(min(id)) —
    * partial aggregation collapses repeated boilerplate map-side, so a
    * chunk duplicated a billion times arrives at the reducer as one row
    * per upstream task, not a billion rows (the skew-safe alternative
    * to a min-over-window on the chunk hash, which would sort the hot
    * key's rows in one partition). The join back is a plain shuffle
    * hash join on the 8-byte chunk hash; AQE splits any residual skew.
    * Reconstruction is one aggregation keyed by document id.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String, span: Int): DataFrame = {
    require(span >= 1, s"span must be >= 1, got $span")
    val toks = TextOps.tokens(col(textCol))
    // ceil(nTokens / span); split() never returns an empty array, so
    // nChunks >= 1 and the sequence below never counts down.
    val nChunks = floor((size(toks) + (span - 1)) / span).cast(LongType)
    val chunks = Partitioning.spread(df)
      .select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => array_join(slice(toks, (i * span + 1).cast(IntegerType), lit(span)), " ")))
          .as(Seq("pos", "chunk")))
      .withColumn("h", TextOps.hash60(col("chunk")))
    val owners = chunks.groupBy("h").agg(min(col("id")).as("keep_id"))
    chunks.join(owners, "h")
      .withColumn("keep", col("id") === col("keep_id"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("clean_text"))
      .select(col("id"), col("clean_text"), col("n_chunks"), col("n_dropped"))
  }

  /** Variable-length MAXIMAL duplicated spans — what substring-level
    * decontamination actually needs, vs [[spanDedup]]'s fixed
    * non-overlapping windows (which fragment any duplicate that
    * crosses a window boundary and miss any shorter than a window).
    * Approximates the suffix-array result by coalescing runs of
    * cross-document-duplicated k-shingles into islands
    * (gaps-and-islands key: position − run_index), reporting
    * (id, span_start, span_len) in TOKENS for every maximal span of
    * length ≥ minLen. A shingle is "duplicated" iff its content
    * appears in at least two distinct documents (min(id) ≠ max(id)
    * per hash — boilerplate repeated a billion times collapses
    * map-side to one (min, max) row per upstream task).
    *
    * Scale shape: shingle hashing is map-side off the scan; the
    * duplicated-hash test is one keyed groupBy with partial min/max;
    * the island window sorts each document's OWN duplicated positions
    * (per-doc bounded by document length — never a global sort); the
    * span rollup is a keyed aggregate on (id, island).
    */
  def maxDupSpans(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, minLen: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Partitioning.spread(df)
      .select(col(idCol).as("id"),
        posexplode(TextOps.shingles(TextOps.tokens(col(textCol)), n))
          .as(Seq("pos", "sh")))
      .select(col("id"), col("pos").cast(LongType).as("pos"),
        TextOps.hash60(col("sh")).as("h"))
    val dupHashes = sh.groupBy("h")
      .agg(min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .filter(col("min_id") =!= col("max_id"))
      .select("h")
    val dupPos = sh.join(dupHashes, "h").select("id", "pos")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupPos
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + n).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("id"), col("span_start"), col("span_len"))
  }

  // ---- SimHash --------------------------------------------------------

  /** 60-bit SimHash folded over per-token hash60 values.
    *
    * Custom `Aggregator` instead of the naive explode(60 bits)×groupBy
    * formulation: the 60-counter state merges associatively inside each
    * partition, so the shuffle carries one 60-int buffer per (group ×
    * partition) instead of 60 rows per token. Bit-for-bit equal to the
    * SQL formulation (verified against the DuckDB oracle, which computes
    * it the explode way).
    */
  class SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](60)
    def reduce(b: Array[Int], hv: Long): Array[Int] = {
      var i = 0
      while (i < 60) { b(i) += (((hv >> i) & 1L).toInt * 2) - 1; i += 1 }
      b
    }
    def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 60) { x(i) += y(i); i += 1 }
      x
    }
    def finish(b: Array[Int]): Long = {
      var out = 0L; var i = 0
      while (i < 60) { if (b(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
  private lazy val simhashUdaf = udaf(new SimHashAgg, Encoders.scalaLong)

  /** Per-document SimHash over whitespace tokens (term frequency
    * weighted — each occurrence votes).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Partitioning.spread(df)
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("id"), TextOps.hash60(col("t")).as("hv"))
      .groupBy("id")
      .agg(simhashUdaf(col("hv")).as("simhash"))

  /** SimHash near-dup candidates by band bucketing: 4 bands of 15 bits;
    * pairs sharing any band are verified by Hamming distance ≤ maxDist.
    *
    * Pairs are generated INSIDE the (band, chunk) bucket aggregation —
    * same shape as `lshCandidates`. Versus the banded self-join this
    * drops the two join-side exchanges AND the persist + eager count
    * that sharing the banded frame across both sides forced (without
    * it the upstream simhash aggregation executed twice). The Hamming
    * verify runs on the bucket members' signatures carried alongside
    * the ids, so nothing re-joins against the corpus.
    *
    * Identical documents have identical SimHash, so signatures collapse
    * to one representative per value before banding, the in-bucket
    * enumeration is the Hamming-banded families' one
    * [[BandChooser.bucketPairs]], and verified rep pairs expand back to
    * member pairs at Hamming 0 within a group ([[DupGroups]]). Output
    * relation unchanged — the spec pins it against the naive shape on a
    * dup-heavy corpus.
    */
  def simhashPairs(sh: DataFrame, maxDist: Int, nBands: Int = 4): DataFrame = {
    // nBands generalizes the historical 4x15-bit split (the default
    // keeps every caller and oracle bit-identical); [[chooseSimhashBands]]
    // prices the grid and [[simhashPairsAuto]] wires it in.
    require(nBands >= 1 && 60 % nBands == 0,
      s"nBands must divide 60, got $nBands")
    // The distinct-signature groups feed the banded rep enumeration,
    // the within-group expansion, and both sides of the cross-group
    // expansion (4 plan references): the upstream simhash aggregation
    // and the group-by-signature exchange would otherwise re-execute
    // per reference. Materialized eagerly, released after the eager
    // output checkpoint below — same contract as [[nearDupPairs]].
    val groups = DupGroups.collapse(sh, Seq("simhash"), "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    groups.count()
    val repPairs = BandChooser.bucketPairs(
        groups.withColumn("m", size(col("members")).cast(LongType)),
        nBands, simhashChunk, Seq("simhash"))
      .filter(col("hamming") <= maxDist)
      .select(col("ia").as("ra"), col("ib").as("rb"), col("hamming"))
    // The pair relation is linear in candidates, not corpus:
    // materialize eagerly, then release the cache this pipeline pinned.
    val out = DupGroups.expand(groups, repPairs, Seq(lit(0).cast(IntegerType).as("hamming")))
      .localCheckpoint(eager = true)
    groups.unpersist()
    out
  }

  /** LSH BAND-TUNING table — the measurement behind choosing
    * (bands × rowsPerBand) for a MinHash index: for each candidate
    * config over the SAME k-minhash signatures, the candidate-pair
    * count, the verified-pair count (exact Jaccard ≥ threshold among
    * candidates), and the resulting precision in ppm. Fewer rows per
    * band → more candidates, higher recall, lower precision; this
    * table is how a pipeline picks its operating point BEFORE paying
    * for the full corpus run.
    *
    * Shingle sets (content-grouped) and signatures are computed ONCE
    * and shared across configs (persisted); each config adds only its
    * own banding + verification. The per-config results cross the
    * driver as single scalars (configs are bounded by the caller), so
    * the output frame is |configs| rows regardless of corpus size.
    */
  def lshTuning(df: DataFrame, idCol: String, textCol: String, shingleN: Int,
                k: Int, rowsPerBandConfigs: Seq[Int],
                threshold: Double): DataFrame = {
    val spark = df.sparkSession
    // CONTENT collapse (r12) — groups are keyed by the full sorted
    // hashed shingle SET ([[contentGroups]], exactly as nearDupPairs),
    // NOT by the minhash signature: the signature is a lossy
    // projection, and two documents with DIFFERENT sets can collide on
    // all k minima (probability ~jac^k per pair — real at crawl scale,
    // or adversarially). A sig-keyed collapse counts such a pair
    // verified unconditionally even when its true Jaccard is below
    // threshold, diverging from the exact-Jaccard definition this
    // table (and the q_d17 oracle) uses. Content-keyed, the collapse
    // premises hold by CONSTRUCTION: within-group Jaccard is exactly
    // 1.0 (identical sets), and a member pair genuinely inherits its
    // rep pair's exact verdict (identical sets ⇒ identical similarity
    // to every other document). Sig-colliding DISTINCT contents still
    // band into the same buckets — identical sigs slice identically
    // under every config — so they surface as rep-level candidates in
    // every configuration and are verified EXACTLY like any other
    // candidate pair.
    def step[A](s: String)(body: => A): A =
      Concurrent.labeled(spark, s"dedup:lsh_tuning:$s")(body)
    val groups = contentGroups(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // COUNT AT REPRESENTATIVE LEVEL — member pairs are never
    // enumerated. Every member pair maps to exactly one (group, group)
    // pair (an id belongs to one content group), so over the expanded
    // relation the naive enumeration defines:
    //   n_candidates = Σ_{rep pairs} |ma|·|mb| + Σ_groups C(m, 2)
    //   n_verified adds the same weights over verified rep pairs, and
    //   within-group pairs (Jaccard exactly 1.0 — identical sets)
    //   verify iff 1.0 ≥ threshold.
    // On a dup-heavy corpus the tuning table therefore costs
    // O(distinct²-in-bucket), not O(output) — the measurement stays
    // cheap even when the relation it measures explodes.
    // The within-pair sum is the first action over the groups: it fills
    // the cache every later step reads.
    val nWithin = step("groups")(withinPairs(groups))
    val withinVerified = if (1.0 >= threshold) nWithin else 0L
    // Signatures come map-side off the cached hs arrays (sigFromHashSet
    // — bit-equal to minhashSigs, zero movement). The member count
    // rides THROUGH the banding as a struct id (the i<j enumeration
    // orders by the leading id field), so the weighted candidate count
    // needs no join. ALL configurations run in ONE pass each phase,
    // not a per-config job cascade: the bandings union under an `rpb`
    // tag into a single bucket aggregation, the per-config weighted
    // counts are one groupBy, and — since the exact-Jaccard of a pair
    // does not depend on which banding surfaced it — each DISTINCT
    // pair is verified ONCE, against the cached groups' hs arrays, and
    // every config reuses the verdict through one candidate-bounded left
    // join that sums both counts in one aggregate.
    val repCandAll = step("candidates")(weightedRepCandAll(groups, rowsPerBandConfigs, k))
    val verified = jaccardVerifyArrays(
        repCandAll.select(col("ia"), col("ib")).distinct(),
        groups.select(col("rep").as("id"), col("hs")))
      .filter(col("jac") >= threshold)
      .select(col("ia"), col("ib"), lit(true).as("v"))
    val byCfg = step("verify")(repCandAll.join(verified, Seq("ia", "ib"), "left")
      .groupBy(col("rpb"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("nc"),
        coalesce(sum(when(col("v"), col("w"))), lit(0L)).as("nv"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    val rows = rowsPerBandConfigs.map { r =>
      val (nc, nv) = byCfg.getOrElse(r, (0L, 0L))
      val nCand = nWithin + nc
      val nVer = withinVerified + nv
      (r, k / r, nCand, nVer,
        if (nCand == 0) None else Some(nVer * 1000000L / nCand))
    }
    groups.unpersist()
    import spark.implicits._
    rows.toDF("rows_per_band", "n_bands", "n_candidates", "n_verified",
      "precision_ppm")
  }

  /** LSH RECALL table — the other axis of the [[lshTuning]]
    * operating-point choice: for each (bands × rowsPerBand) config,
    * how many TRUE near-dup pairs (exact Jaccard ≥ threshold) the
    * banding surfaces as candidates, as recall in ppm. Precision says
    * how much verify work a config wastes; recall says how many real
    * duplicates it MISSES — the S-curve trade-off both tables together
    * resolve before the full corpus run. (Post-verification recall
    * equals candidate recall: exact verification never drops a true
    * pair.) A projection of [[chooseLshConfig]] at open floors: on the
    * same sample its `n_verified` IS this table's `n_hit`.
    *
    * Ground truth requires exact all-pairs similarity, which nothing
    * can bound below quadratic in the worst case — so the eval runs on
    * a DETERMINISTIC SAMPLE: `hash60(id) mod sampleMod == 0` (the
    * sampling family's rand()-free gate — reproducible across engines,
    * runs and retries), and the cost contract is sample-bounded: truth
    * pairs come off the sample's shingle inverted index (Σ_h df_h²
    * over sample postings), candidates off the sample's rep-level
    * banding. Content collapse ([[contentGroups]]) applies throughout
    * — identical sets have identical signatures, so member candidacy
    * equals rep candidacy in every config and within-group pairs
    * (Jaccard exactly 1.0) are true AND hit in every config; weighted
    * rep-level counting therefore equals member-level enumeration, the
    * same argument (and spec shape) as [[lshTuning]].
    *
    * `truthDfCap`: the truth self-join costs Σ_h df_h² over the
    * SAMPLE's rep-level postings, and hash sampling shrinks a
    * boilerplate shingle's df only linearly — one navigation chrome
    * string shared by most of the sample still costs df² join rows.
    * A cap restricts the TRUTH's shingle universe to informative
    * shingles (rep-level df ≤ cap), with pair sizes recomputed over
    * that universe — exactly [[ngramJaccardPairs]]'s stop-shingle
    * contract, and truth becomes "exact Jaccard within the informative
    * universe" (within-group identical-content pairs stay true: equal
    * sets are equal under any universe). `None` (the default, the
    * q_d19 gate's setting) keeps full-universe truth — right for
    * corpora known boilerplate-free, a documented hazard otherwise.
    */
  def lshRecall(df: DataFrame, idCol: String, textCol: String, shingleN: Int,
                k: Int, rowsPerBandConfigs: Seq[Int], threshold: Double,
                sampleMod: Long, truthDfCap: Option[Int] = None): DataFrame =
    chooseLshConfig(df, idCol, textCol, shingleN, k, rowsPerBandConfigs,
        threshold, sampleMod, 0L, 0L, truthDfCap)
      .select(col("rows_per_band"), col("n_bands"), col("n_true"),
        col("n_verified").as("n_hit"), col("recall_ppm"))

  /** LSH OPERATING-POINT CHOOSER — the MinHash family of the one
    * banded-candidate chooser ([[BandChooser]]); it closes the tuning
    * loop the [[lshTuning]] (precision) and [[lshRecall]] (recall)
    * tables exist for: measure BOTH axes for every (bands ×
    * rowsPerBand) config in ONE pass over the deterministic hash-gated
    * sample, mark each
    * config `feasible` iff its precision AND recall clear the caller's
    * floors, and mark `chosen` the cheapest feasible config — fewest
    * candidate pairs (candidates are the verify work a production run
    * pays), ties to the larger rowsPerBand (fewer bands = cheaper
    * banding). Row order and the choice are fully deterministic.
    *
    * ONE shared pass, not two table calls: on the same sample and
    * shingle universe, d17's "verified" set (candidates with exact
    * Jaccard ≥ threshold) IS d19's "truth ∩ candidates" — so a single
    * truth join prices both axes. Per config:
    *   precision_ppm = n_verified·1e6 div n_candidates,
    *   recall_ppm    = n_verified·1e6 div n_true,
    * with the within-group (identical-content) terms added to all
    * three counts exactly as in the two source tables. A config with
    * zero candidates has UNDEFINED precision (null) and is never
    * feasible — no evidence is not passing evidence; likewise a
    * zero-truth sample leaves every config infeasible rather than
    * vacuously feasible.
    *
    * The precision here is measured on the SAMPLE (lshTuning measures
    * the full corpus): the chooser's whole point is pricing the
    * operating point BEFORE paying for a corpus pass, and the sample
    * is the only place exact truth is affordable — both axes are
    * estimates of the same population quantities. `truthDfCap` is
    * [[lshRecall]]'s informative-universe gate, applied to truth and
    * verification consistently.
    *
    * Returns one row per config: (rows_per_band, n_bands,
    * n_candidates, n_verified, n_true, precision_ppm, recall_ppm,
    * feasible, chosen).
    */
  def chooseLshConfig(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, k: Int, rowsPerBandConfigs: Seq[Int],
                      threshold: Double, sampleMod: Long,
                      precisionFloorPpm: Long, recallFloorPpm: Long,
                      truthDfCap: Option[Int] = None,
                      sampleRepCap: Option[Long] = None): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    chooseLshConfigFromGroups(contentGroups(
        df.filter(SampleGate.admits(col(idCol), sampleMod)), idCol, textCol, shingleN),
      k, rowsPerBandConfigs, threshold, precisionFloorPpm, recallFloorPpm,
      truthDfCap, sampleRepCap)
  }

  /** [[chooseLshConfig]] off an ALREADY-derived sample [[contentGroups]]
    * frame — the hash gating (and, in [[nearDupPairsAuto]], the
    * [[DupGroups.sampleOf]] derivation off the full corpus's cached groups)
    * is the caller's, so the corpus is never re-shingled for the
    * chooser. `sampleRepCap`, when set, REFUSES if the sample holds
    * more distinct contents than the caller's rep budget (see
    * [[BandChooser.choose]]).
    *
    * The MinHash family of [[BandChooser]]: truth is the inverted-index
    * exact-Jaccard join ([[repTruth]]) and candidates the weighted
    * all-config banding ([[weightedRepCandAll]]), both materialized in
    * wave 1; a candidate is verified iff it is in the truth relation —
    * one candidate-bounded join prices precision's numerator and
    * recall's hit count. Within-group pairs stay CANDIDATES
    * unconditionally but are TRUE/verified only while their informative
    * set is non-empty ([[withinOf]]).
    */
  def chooseLshConfigFromGroups(sampleGroups: DataFrame, k: Int,
                                rowsPerBandConfigs: Seq[Int],
                                threshold: Double,
                                precisionFloorPpm: Long, recallFloorPpm: Long,
                                truthDfCap: Option[Int],
                                sampleRepCap: Option[Long] = None): DataFrame = {
    require(truthDfCap.forall(_ >= 1), s"truthDfCap must be >= 1, got $truthDfCap")
    BandChooser.choose(minhashFamily(k, threshold, truthDfCap), sampleGroups,
      rowsPerBandConfigs, precisionFloorPpm, recallFloorPpm, sampleRepCap)
  }

  /** The MinHash family of [[BandChooser]] (see [[chooseLshConfigFromGroups]]). */
  private[graft] def minhashFamily(k: Int, threshold: Double,
                                   truthDfCap: Option[Int]): BandChooser.Family =
    BandChooser.Family("lsh",
      Seq("rows_per_band" -> identity, "n_bands" -> (k / _)),
      preferLarger = true, "sampleRepCap", (groups, configs, pin) => {
        // Rep-level shingle postings and set sizes, map-side off the
        // cached group rows: the truth side's inverted index.
        val repSh = groups.select(col("rep").as("id"), explode(col("hs")).as("h"))
        val fullSizes = groups.select(col("rep").as("id"),
          size(col("hs")).cast(LongType).as("n"))
        // Informative-universe gate for the truth side only (candidates
        // band over the FULL sets — that is what production LSH sees).
        val (postings, sizes) = truthDfCap.fold((repSh, fullSizes)) { cap =>
          val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
          val informative = pin(repSh.withColumn("df", count(lit(1)).over(w))
            .filter(col("df") <= cap).drop("df"))
          informative.count()
          (informative, informative.groupBy(col("id")).agg(count(lit(1)).as("n")))
        }
        val mOf = groups.select(col("rep"), size(col("members")).cast(LongType).as("m"))
        var truth: DataFrame = null
        var cand: DataFrame = null
        BandChooser.Measures(
          prepare = Seq(
            () => truth = repTruth(postings, sizes, mOf, threshold),
            () => cand = weightedRepCandAll(groups, configs, k)),
          within = () => withinOf(groups, postings, truthDfCap.isDefined, threshold),
          candidates = () => cand
            .join(truth.select(col("ia"), col("ib"), lit(true).as("v")),
              Seq("ia", "ib"), "left")
            .select(col("rpb").as("cfg"), col("w"), col("v").isNotNull.as("verified")),
          truth = () =>
            truth.agg(coalesce(sum(col("w")), lit(0L))).first().getLong(0))
      })

  /** AUTO-TUNED near-dup pairs — the tuning loop's final hop: run
    * [[chooseLshConfig]] on the deterministic hash-gated sample, take
    * the chosen (cheapest feasible) banding configuration, and run
    * [[nearDupPairs]] over the FULL corpus at it. One integer crosses
    * the driver between the two phases. The output carries the chosen
    * `rows_per_band` as a column so the decision is part of the
    * result's provenance.
    *
    * `gate` is the chooser's [[SampleGate]]: a fixed mod, or a rep
    * budget the engine sizes the mod from. Under a budget the count
    * feeding the derivation is the SHINGLED-doc count (Σ |members|
    * over [[contentGroups]]): docs with null text or fewer than
    * `shingleN` tokens yield no shingles, join no pair, and would only
    * inflate the derived mod — an oracle replaying the derivation must
    * count `DISTINCT id` over the shingle relation. The budget arms the
    * chooser's rep cap and the derived mod rides out as `sample_mod`.
    *
    * THROWS when no configuration meets the floors — deliberately: a
    * silent fallback to some default banding would run the corpus at
    * an operating point the caller's floors just rejected, which is
    * the exact failure mode the floors exist to prevent. Loosen a
    * floor or extend `rowsPerBandConfigs` instead.
    *
    * `truthDfCap` is REQUIRED (no default) — it is the auto path's cost
    * posture, and silently inheriting one would hide a quadratic step:
    * the chooser's exact-truth self-join costs Σ_h df_h² over the
    * sample's rep-level postings, and with `None` a single boilerplate
    * shingle shared by most sample documents (navigation chrome — the
    * NORM at crawl scale) makes the chooser itself the quadratic step
    * of the whole run. Pass `Some(cap)` (informative-universe truth —
    * [[lshRecall]]'s stop-shingle contract, oracle-gated with a BINDING
    * cap by q_d23) for any corpus not known boilerplate-free; `None`
    * only when the corpus provably carries no high-df shingles (the
    * planted q_d22 gate corpus is such a case, and documents it).
    */
  def nearDupPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       truthDfCap: Option[Int],
                       gate: SampleGate = SampleGate.Mod(2),
                       shingleN: Int = 3, k: Int = 16,
                       rowsPerBandConfigs: Seq[Int] = Seq(2, 4, 8),
                       threshold: Double = 0.5,
                       precisionFloorPpm: Long = 0L,
                       recallFloorPpm: Long = 0L): DataFrame =
    // ONE corpus representation pass (the q_d25 compute-once pattern,
    // applied to MinHash): shingle→hash→group the FULL corpus once,
    // derive the chooser's sample groups off the cached rows
    // ([[DupGroups.sampleOf]] — an array filter, zero corpus passes), and
    // band the same cached rows for the production pairs phase. A
    // budget's corpus count is Σ |members| over the same rows, never a
    // second scan of a possibly-computed input view.
    BandChooser.withPins { pin =>
      val grouped = pin(contentGroups(df, idCol, textCol, shingleN))
      BandChooser.auto("nearDupPairsAuto", "banding configuration", gate,
          grouped.agg(coalesce(sum(size(col("members")).cast(LongType)), lit(0L)))
            .first().getLong(0))(
        (mod, cap) => chooseLshConfigFromGroups(DupGroups.sampleOf(grouped, mod), k,
          rowsPerBandConfigs, threshold, precisionFloorPpm, recallFloorPpm,
          truthDfCap, cap))(
        rpb => nearDupPairsFromGroups(grouped, k, rpb, threshold))
    }

  /** The sample-size TARGET a rep budget derives: the budget minus 3σ
    * of binomial headroom (sample size under the `hash60(id) mod m`
    * gate is ~Binomial(n, 1/m), sd ≤ √budget near the budget), floored
    * at 1. Deriving the mod against the RAW budget leaves zero
    * headroom — the expected sample ≈ budget, so roughly half of all
    * corpus sizes overshoot the cap and REFUSE (measured: the
    * plain-ceiling e25 posture refused at the 10× decade, sample 336
    * vs cap 310). Against the slacked target, the cap stays armed but
    * fires only on >3σ skew — genuinely exceptional, not a coin flip
    * at every new corpus size.
    */
  def sampleTargetOf(repBudget: Long): Long = {
    require(repBudget >= 1, s"repBudget must be >= 1, got $repBudget")
    math.max(1L,
      repBudget - math.ceil(3.0 * math.sqrt(repBudget.toDouble)).toLong)
  }

  /** Smallest `sampleMod` whose hash-gated sample fits a rep budget
    * with 3σ of headroom: m = ⌈count / target⌉ for
    * target = [[sampleTargetOf]](budget) — one count and a ceiling
    * division, nothing corpus-scale. The budget is conservative for
    * the content-collapsed choosers (distinct contents ≤ sampled ids).
    * Pair it with the chooser's cap (`sampleRepCap` here,
    * `truthRepCap` in [[Vectors.chooseCosinePlanes]]) so hash-skew
    * overshoot REFUSES instead of silently exceeding the budget —
    * q_d26/q_e25 gate the derivation (slack included) end to end.
    */
  def chooseSampleMod(corpusCount: Long, repBudget: Long): Long = {
    require(corpusCount >= 0, s"corpusCount must be >= 0, got $corpusCount")
    val target = sampleTargetOf(repBudget)
    // Long, not Int: at 100 TB a trillion-doc corpus against a small
    // budget derives a mod above 2^31 — truncating it would wrap the
    // pmod gate to a negative modulus and silently break the sample.
    math.max(1L, (corpusCount + target - 1) / target)
  }

  /** Band `b`'s chunk of the 60-bit SimHash under an `nb`-band split —
    * the one chunking [[simhashPairs]] and the SimHash chooser share.
    */
  private def simhashChunk(nb: Int): Column = {
    val w = 60 / nb
    expr(s"(simhash >> ($w * b)) & ${(1L << w) - 1}")
  }

  /** SIMHASH BAND-WIDTH CHOOSER — the SimHash family of the one
    * banded-candidate chooser ([[BandChooser]],
    * [[BandChooser.hammingBanded]]): for each candidate band
    * count over the 60-bit SimHash, measure BOTH axes against exact
    * Hamming truth on the deterministic hash-gated sample, mark
    * feasibility against the caller's floors, and mark `chosen` the
    * cheapest feasible config — fewest candidate pairs, ties to the
    * FEWER bands (each band is one replication of the signature
    * through the bucket exchange). More bands → shorter chunks → more
    * spurious collisions (precision falls) but fewer missed true pairs
    * (recall rises): the S-curve [[simhashPairs]]'s hard-coded 4×15
    * split sits on, now priced before the corpus pass.
    *
    * TRUTH IS EXACT, NOT SAMPLED-APPROXIMATE, AND NEVER ALL-PAIRS: a
    * pair at Hamming ≤ d shares an untouched chunk in ANY banding with
    * more than d bands (pigeonhole), so the truth side enumerates a
    * 10-band (6-bit-chunk) banding of the sample — complete for
    * `maxDist` ≤ 9 (required) — and filters by exact Hamming computed
    * in-bucket. Cost contract: truth-bucket occupancy is
    * sample-reps/2^6 expected per (band, chunk) cell, Σ df² over 10
    * bands — sample-bounded, the same posture as the MinHash family's
    * inverted-index truth. Exact-value collapse applies throughout
    * (identical SimHash ⇒ identical chunks in every banding AND
    * Hamming 0 ≤ maxDist): weighted rep counting equals member
    * enumeration, and within-group pairs are candidates, verified, and
    * true in every config.
    *
    * Returns one row per config: (n_bands, chunk_bits, n_candidates,
    * n_verified, n_true, precision_ppm, recall_ppm, feasible, chosen).
    * Zero-candidate configs have NULL precision and are never feasible;
    * a zero-truth sample leaves every config infeasible (no evidence is
    * not passing evidence — [[BandChooser.certify]]).
    */
  def chooseSimhashBands(df: DataFrame, idCol: String, textCol: String,
                         bandConfigs: Seq[Int], maxDist: Int, sampleMod: Long,
                         precisionFloorPpm: Long,
                         recallFloorPpm: Long): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    chooseSimhashBandsFromSigs(
      simhash(df.filter(SampleGate.admits(col(idCol), sampleMod)), idCol, textCol),
      bandConfigs, maxDist, precisionFloorPpm, recallFloorPpm, None)
  }

  /** [[chooseSimhashBands]] off ALREADY-computed (id, simhash) rows —
    * the sample gating is the caller's; [[simhashPairsAuto]] uses this
    * so the corpus signatures are computed ONCE for both the chooser
    * sample and the corpus pass. Collapse is EXACT for SimHash (unlike
    * the minhash-signature collapse [[lshTuning]] must avoid): candidacy
    * AND the verified quantity are pure functions of the signature.
    */
  private def chooseSimhashBandsFromSigs(sigs: DataFrame, bandConfigs: Seq[Int],
                                         maxDist: Int,
                                         precisionFloorPpm: Long,
                                         recallFloorPpm: Long,
                                         sampleRepCap: Option[Long]): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b => b >= 1 && 60 % b == 0),
      s"each band count must divide 60, got $bandConfigs")
    require(maxDist >= 0 && maxDist <= 9,
      s"maxDist must be in [0, 9] (the 10-band truth side is pigeonhole-" +
        s"complete only below its band count), got $maxDist")
    BandChooser.choose(simhashFamily(maxDist),
      sigs.groupBy(col("simhash"))
        .agg(count(lit(1)).cast(LongType).as("m"), min(col("id")).as("rep")),
      bandConfigs, precisionFloorPpm, recallFloorPpm, sampleRepCap)
  }

  /** The SimHash family of [[BandChooser]]: 10-band pigeonhole truth. */
  private[graft] def simhashFamily(maxDist: Int): BandChooser.Family =
    BandChooser.hammingBanded("simhash", 60, Seq("simhash"), simhashChunk,
      truthBands = 10, maxDist)

  /** AUTO-TUNED SimHash near-dup pairs — [[chooseSimhashBands]]
    * driving [[simhashPairs]] through the shared auto path
    * ([[BandChooser.auto]]): the corpus signatures are computed ONCE
    * (checkpointed — the chooser's sample and the corpus pass share
    * them), the cheapest floor-feasible band count runs the corpus pass
    * with `n_bands` provenance, and an uncertifiable sample REFUSES.
    * Under a budget `gate` the signature count sizes the mod, the
    * budget caps the sample's distinct signatures (the pigeonhole
    * truth costs Σ df² over the sample's 10-band cells), and the
    * derived mod rides out as `sample_mod`.
    */
  def simhashPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       bandConfigs: Seq[Int], maxDist: Int, gate: SampleGate,
                       precisionFloorPpm: Long,
                       recallFloorPpm: Long): DataFrame = {
    val sigs = simhash(df, idCol, textCol).localCheckpoint(eager = true)
    BandChooser.auto("simhashPairsAuto", "band count", gate, sigs.count())(
      (mod, cap) => chooseSimhashBandsFromSigs(
        sigs.filter(SampleGate.admits(col("id"), mod)), bandConfigs, maxDist,
        precisionFloorPpm, recallFloorPpm, cap))(
      nb => simhashPairs(sigs, maxDist, nb))
  }

  /** Per-BENCHMARK contamination report — the deliverable a
    * decontamination pass ships: for EACH eval benchmark, how many
    * corpus documents share at least one k-shingle with it and how
    * many shingle hits there are in total. `decontaminate` answers
    * "drop these docs" for one eval set; this answers "which
    * benchmark leaked, and how badly" across all of them — the table
    * that goes in the dataset card.
    *
    * Every benchmark's shingle set is bounded (eval sets are small by
    * contract — the q_d6 rule), so all of them broadcast TOGETHER
    * with a bench tag; the corpus shingle frame is computed once and
    * joined once regardless of benchmark count.
    */
  def contaminationReport(docs: DataFrame, benches: Seq[(String, DataFrame)],
                          idCol: String, textCol: String,
                          shingleN: Int = 3): DataFrame = {
    require(benches.nonEmpty, "at least one benchmark")
    val sh = shingleHashSet(docs, idCol, textCol, shingleN)
    val evalShingles = benches.map { case (name, ev) =>
        shingleHashSet(ev, idCol, textCol, shingleN)
          .select(lit(name).as("bench"), col("h"))
      }.reduce(_.unionByName(_)).distinct()
    sh.join(broadcast(evalShingles), "h")
      .groupBy(col("bench"))
      .agg(countDistinct(col("id")).as("n_docs_hit"),
        count(lit(1)).as("n_hits"))
  }

  /** EXACT duplicate pairs (ia < ib) from whole-text hash groups — the
    * pair-shaped view of [[exactGroups]]' group-shaped result, for
    * consumers that want edges (cluster closure, the cross-source
    * matrix below). One keyed shuffle on the md5; pairs enumerate
    * INSIDE each hash group's sorted id list, so the work is
    * Σ_group |group|², never corpus².
    */
  def exactPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    DupGroups.within(DupGroups.collapse(
      docs.select(md5(col(textCol)).as("h"), col(idCol).as("id")), Seq("h"), "id"))

  /** CROSS-SOURCE duplication matrix — the corpus-provenance audit:
    * which sources copy which? Takes ANY duplicate-pair frame
    * (ia, ib) — exact pairs, MinHash-verified pairs, perceptual-hash
    * pairs — plus per-doc (id, source) metadata, and counts pairs per
    * unordered source pair. The "how much of source B is already in
    * source A" signal that decides whether ingesting a new dump is
    * worth the dedup bill.
    *
    * Two keyed joins attach the endpoints' sources (pair frames are
    * small relative to the corpus — they only hold duplicates — so
    * these shuffles carry the SIGNAL, not the corpus); the unordered
    * normalization (`least`/`greatest`) folds (A,B) and (B,A) into one
    * cell before the final map-side-combined count.
    */
  def crossSourceMatrix(pairs: DataFrame, meta: DataFrame,
                        idCol: String, srcCol: String): DataFrame = {
    val m = meta.select(col(idCol).as("__id"), col(srcCol).as("__src"))
    pairs
      .join(m.select(col("__id").as("ia"), col("__src").as("sa")), "ia")
      .join(m.select(col("__id").as("ib"), col("__src").as("sb")), "ib")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
