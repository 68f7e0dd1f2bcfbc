package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** INCREMENTAL keep-best survivor index — the last hop of the
  * ingest-guard column: q_st14 keeps the near-dup PAIR index live as
  * batches arrive (delta-only hashing, the base is never re-shingled),
  * but the purge decision — WHICH copy of each duplicated content
  * survives — stayed batch-only ([[Dedup.purgeKeepBest]], q_d20).
  * This class maintains both: [[ingest]] grows the pair index
  * incrementally, and [[survivors]] resolves the CURRENT keep-best
  * winner per duplicate cluster (best score, ties to the smaller id).
  *
  * The tricky case is DEMOTION: a batch-k survivor loses its crown
  * when a better-scoring duplicate lands in batch k+n. It falls out
  * naturally here because the survivor resolution is a function of the
  * accumulated (pairs, scores) state, not of earlier resolutions — a
  * previously-published winner is simply outranked by the new
  * cluster member on the next [[survivors]] call (DedupSpec pins the
  * demotion, the no-demotion-on-worse-arrival case, and that the
  * final state is invariant under how the feed was batched).
  *
  * Scale shape: per batch, ONLY the delta is shingled/signed — the
  * incremental contract q_st14 locks ([[Dedup
  * .incrementalNearDupPairsFromSets]], base×base never regenerated).
  * The accumulated state frames are checkpoint-cut every batch so
  * lineage never towers. [[survivors]] re-resolves clusters from the
  * accumulated PAIR relation — bounded by the duplicate count, not
  * the corpus — plus one window over cluster members and one
  * anti-join, the q_d20 layout.
  *
  * Contract: `idCol` must be integral (stored as Long) and `score`
  * integral per the q_d20 exactness rule (Long scores make the
  * keep-best window deterministic on every engine); ids must be
  * unique WITHIN a batch (the usual keyed-upsert contract — an id
  * re-delivered in a LATER batch replaces its stored state, see
  * [[ingest]]; a batch VIOLATING the uniqueness contract is REFUSED,
  * never blended — [[ingest]] checks).
  *
  * `tuning`: the streaming counterpart of [[Dedup.nearDupPairsAuto]] —
  * when supplied, `rowsPerBand` is NOT taken from the constructor:
  * the FIRST batch's deterministic hash-gated sample is priced by
  * [[Dedup.chooseLshConfig]] against the tuning floors, the cheapest
  * feasible banding drives every batch from then on (one integer of
  * driver state, exposed as [[chosenRowsPerBand]] for provenance), and
  * an infeasible first batch REFUSES — before ANY state accumulates,
  * so a guard that cannot certify its floors never starts indexing at
  * an uncertified operating point (the batch auto path's
  * refuse-not-fallback rule, applied at stream birth).
  */
final class KeepBestIndex(spark: SparkSession, shingleN: Int = 3, k: Int = 16,
                          rowsPerBand: Int = 4, threshold: Double = 0.5,
                          tuning: Option[KeepBestIndex.AutoTune] = None) {

  private def empty(st: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), st)

  private var baseSh = empty(StructType(Seq(
    StructField("id", LongType), StructField("h", LongType))))
  private var baseSigs = empty(StructType(Seq(
    StructField("id", LongType), StructField("sig", ArrayType(LongType)))))
  private var baseSizes = empty(StructType(Seq(
    StructField("id", LongType), StructField("n", LongType))))
  private var scored = empty(StructType(Seq(
    StructField("id", LongType), StructField("score", LongType))))
  private var pairs = empty(StructType(Seq(
    StructField("ia", LongType), StructField("ib", LongType))))

  private var tunedRpb: Option[Int] = None

  /** The banding the index runs at: the constructor's when untuned,
    * the first batch's certified choice once [[ingest]] has tuned
    * (None before the first batch when `tuning` is set — provenance
    * for "which operating point is this guard actually running?").
    */
  def chosenRowsPerBand: Option[Int] =
    if (tuning.isEmpty) Some(rowsPerBand) else tunedRpb

  private def effectiveRpb: Int =
    if (tuning.isEmpty) rowsPerBand
    else tunedRpb.getOrElse(throw new IllegalStateException(
      "KeepBestIndex: banding not tuned yet — ingest the first batch first"))

  /** Fold one arriving batch into the index: delta-only shingling,
    * new near-dup pairs (delta×base plus delta×delta) appended, the
    * stored shingle/signature/size state extended, and the batch's
    * (id, score) rows recorded for survivor resolution.
    *
    * RE-INGESTED ids REPLACE their stored state — the same contract as
    * the wrapped [[Dedup.incrementalNearDupPairsFromSets]]: an id
    * re-delivered by an at-least-once source (or a CDC-style content
    * update) drops its old shingles/signature/size/score AND every
    * accumulated pair computed against the old content before the
    * batch folds in. A plain union would blend old+new shingle rows
    * (deflating true-pair Jaccard) and, worse, leave the id with TWO
    * scored rows — the keep-best window would rank the id against
    * itself, put its rk=2 row in the loser set, and the anti-join
    * would drop the document entirely even as its cluster's best copy
    * (DedupSpec pins the replace case). Delta ids are batch-bounded,
    * so each drop is a broadcast anti-join — map-side filters, no
    * extra exchange.
    */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             score: Column): Unit = {
    // REFUSE a batch that violates within-batch id uniqueness rather
    // than silently blending two scored rows for one id — the exact
    // within-batch analogue of the ACROSS-batch corruption the REPLACE
    // semantics eliminate (two scored rows make the keep-best window
    // rank the id against itself and anti-join the document out even
    // as its cluster's best copy). One batch-bounded aggregation.
    val dupId = Concurrent.labeled(spark, "keepbest:ingest dup-check")(
      batch.groupBy(col(idCol)).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).collect())
    require(dupId.isEmpty,
      s"KeepBestIndex.ingest: id ${dupId.headOption.map(_.get(0)).orNull} " +
        "appears more than once WITHIN the batch — the keyed-upsert contract " +
        "requires within-batch-unique ids (re-delivery is only defined ACROSS " +
        "batches); dedup the batch upstream or split the duplicates into " +
        "separate batches")
    // Tune on the FIRST batch, before any state mutates: an infeasible
    // sample refuses here with every state frame still empty.
    tuning.foreach { t =>
      if (tunedRpb.isEmpty) tunedRpb = Some(BandChooser.chosenOrRefuse(
        t.chooseOn(batch, idCol, textCol, shingleN, k, threshold),
        "KeepBestIndex: no banding configuration meets the precision/recall " +
          "floors on the first batch's sample — refusing BEFORE any state " +
          "accumulates (a silent constructor-default banding would run the " +
          "stream at an operating point the floors just rejected); loosen a " +
          "floor or extend rowsPerBandConfigs"))
    }
    // The two delta frames are independent — materialize them
    // concurrently (guide §2.6), then derive the five state updates.
    var dSh: DataFrame = null
    var deltaIds: DataFrame = null
    Concurrent.runLabeled(spark, Seq(
      "keepbest:ingest delta shingles" -> (() =>
        dSh = Dedup.shingleHashSet(batch, idCol, textCol, shingleN)
          .select(col("id").cast(LongType).as("id"), col("h"))
          .localCheckpoint(eager = true)),
      "keepbest:ingest delta ids" -> (() =>
        deltaIds = batch.select(col(idCol).cast(LongType).as("id"))
          .distinct()
          .localCheckpoint(eager = true))))
    def dropDelta(df: DataFrame): DataFrame =
      df.join(broadcast(deltaIds), Seq("id"), "left_anti")
    val shKept = dropDelta(baseSh)
    val sigsKept = dropDelta(baseSigs)
    val sizesKept = dropDelta(baseSizes)
    val scoredKept = dropDelta(scored)
    val pairsKept = pairs
      .join(broadcast(deltaIds.select(col("id").as("ia"))), Seq("ia"), "left_anti")
      .join(broadcast(deltaIds.select(col("id").as("ib"))), Seq("ib"), "left_anti")
      .select(col("ia"), col("ib"))
    // Five independent re-materializations of the accumulated state
    // (every input is a checkpointed block or the materialized delta)
    // — sequentially each was its own Spark job whose stage tail idled
    // most cores; overlapping them, the four cheap unions back-fill
    // the probe's stages (guide §2.6). Fields are assigned only after
    // ALL five succeed, so a mid-batch failure leaves the index state
    // exactly as before the batch (the sequential form could fail
    // half-mutated).
    // The delta's signatures and sizes feed BOTH the probe and the
    // state unions — materialize each once (the probe used to re-run
    // the signature groupBy / sizes aggregation the unions also pay).
    var dSigs: DataFrame = null
    var dSizes: DataFrame = null
    Concurrent.runLabeled(spark, Seq(
      "keepbest:ingest delta sigs" -> (() =>
        dSigs = Dedup.minhashSigs(dSh, k).localCheckpoint(eager = true)),
      "keepbest:ingest delta sizes" -> (() =>
        dSizes = dSh.groupBy(col("id")).agg(count(lit(1)).as("n"))
          .localCheckpoint(eager = true))))
    var pairs2, sh2, sigs2, sizes2, scored2: DataFrame = null
    Concurrent.runLabeled(spark, Seq(
      "keepbest:ingest pairs" -> (() => pairs2 = pairsKept.unionByName(
          Dedup.incrementalNearDupPairsFromSets(shKept, sigsKept, dSh,
              k, effectiveRpb, threshold, baseSizes = Some(sizesKept),
              dSigs = Some(dSigs), dSizes = Some(dSizes),
              dIds = Some(deltaIds))
            .select(col("ia"), col("ib")))
        .localCheckpoint(eager = true)),
      "keepbest:ingest sh" -> (() =>
        sh2 = shKept.unionByName(dSh).localCheckpoint(eager = true)),
      "keepbest:ingest sigs" -> (() =>
        sigs2 = sigsKept.unionByName(dSigs).localCheckpoint(eager = true)),
      "keepbest:ingest sizes" -> (() => sizes2 = sizesKept.unionByName(dSizes)
        .localCheckpoint(eager = true)),
      "keepbest:ingest scored" -> (() => scored2 = scoredKept.unionByName(
          batch.select(col(idCol).cast(LongType).as("id"),
            score.cast(LongType).as("score")))
        .localCheckpoint(eager = true))))
    pairs = pairs2; baseSh = sh2; baseSigs = sigs2; baseSizes = sizes2
    scored = scored2
  }

  /** The CURRENT surviving (id, score) rows: every ingested document
    * except each duplicate cluster's outranked members. Resolved fresh
    * from the accumulated state — which is what makes demotion
    * automatic and the result independent of batch structure.
    */
  def survivors: DataFrame = {
    // the ONE keep-best window (Dedup.keepBestLosersFromClusters) —
    // shared with the batch purge so the q_st17 ≡ q_d20 equivalence
    // can never drift on the rule itself
    val losers = Dedup.keepBestLosersFromClusters(scored,
      Dedup.dupClusters(pairs))
    scored.join(losers, Seq("id"), "left_anti")
  }
}

object KeepBestIndex {
  /** First-batch auto-tuning parameters — the [[Dedup.chooseLshConfig]]
    * inputs the streaming guard certifies its operating point against.
    * `truthDfCap` carries [[Dedup.nearDupPairsAuto]]'s REQUIRED-posture
    * rule, and it matters MOST here: birth tuning runs mid-stream,
    * before any state exists — the one place a quadratic truth
    * surprise is least recoverable. Pass `Some(cap)` for any corpus
    * not known boilerplate-free (the chooser's exact-truth join is
    * Σ df² in the sample's shingle universe, and one navigation-chrome
    * shingle shared by most of the first batch makes BIRTH the
    * quadratic step of the whole stream); `None` asserts the birth
    * batch is PRE-CURATED boilerplate-free — the q_st19/q_st21 gates'
    * planted-corpus posture, documented there. The cap routes into the
    * birth chooser verbatim (KeepBestStoreSpec pins refusal-vs-
    * certification flipping on the cap alone, and the capped choice
    * matching [[Dedup.chooseLshConfig]] at the same cap).
    */
  final case class AutoTune(rowsPerBandConfigs: Seq[Int],
                            gate: SampleGate,
                            precisionFloorPpm: Long,
                            recallFloorPpm: Long,
                            truthDfCap: Option[Int]) {
    /** The LSH chooser table this tune certifies: the gate resolved
      * against `count` (by-name — only a budget pays it: a budget
      * SELF-SIZES the mod from the count and arms the chooser's rep cap
      * at exactly that budget, so hash-skew overshoot refuses), the
      * chooser run over `sampleGroups(mod)`.
      */
    private[ops] def table(count: => Long, sampleGroups: Long => DataFrame,
                           k: Int, threshold: Double): DataFrame = {
      val (mod, cap) = gate.resolve(count)
      Dedup.chooseLshConfigFromGroups(sampleGroups(mod), k, rowsPerBandConfigs,
        threshold, precisionFloorPpm, recallFloorPpm, truthDfCap, cap)
    }

    /** [[table]] over a text batch: the gate counts the batch, the
      * sample groups are the gated batch's [[Dedup.contentGroups]].
      */
    private[ops] def chooseOn(batch: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, k: Int, threshold: Double): DataFrame =
      table(batch.count(), mod => Dedup.contentGroups(
        batch.filter(SampleGate.admits(col(idCol), mod)), idCol, textCol, shingleN),
        k, threshold)
  }
}
