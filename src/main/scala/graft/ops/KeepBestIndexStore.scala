package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** STORE-BACKED incremental keep-best survivor index — the
  * production-durable form of [[KeepBestIndex]]. The in-memory class
  * holds its five accumulated frames as eager `localCheckpoint`s:
  * executor-pinned, non-replicated blocks (lose one executor
  * mid-stream and the index is gone), re-materialized IN FULL every
  * batch — O(batches × state) total work, the wrong cost shape for a
  * long-lived 100 TB ingest guard. Here every batch persists ONLY its
  * delta as one batch of the version's [[StoreRoot.BatchLog]] (its
  * commit order, pinned committed-set snapshot and fold live there),
  * and the ACCUMULATED state is a read-time view over the committed
  * deltas. A killed stream resumes
  * by reopening the directory: state is whatever was committed, the
  * next batch folds in exactly as if the crash never happened
  * (q_st18 gates kill-between-batches + a planted mid-batch partial;
  * DedupSpec runs the kill-at-each-boundary sim).
  *
  * Cost shape per batch: WRITE is delta-bounded (the batch's shingle
  * rows, signature, sizes, scores, ids) plus the batch's NEW pairs
  * (output-bounded); nothing stored is ever rewritten. READ is the
  * probe's inherent cost — the delta's bands join the accumulated
  * band side, which any incremental index pays. Contrast the
  * in-memory class: its per-batch `localCheckpoint` of `baseSh`
  * REWRITES the full corpus-scale state every tick.
  *
  * RE-DELIVERY (the at-least-once contract, same semantics as
  * [[KeepBestIndex.ingest]]) is LOGICAL here — append-only storage
  * never deletes: every batch stores its id set, and the read-time
  * view keeps a state row written at batch i only while its id was
  * not re-delivered by a LATER committed batch (`b == latest(id)`);
  * a pair row survives while NEITHER endpoint was re-delivered after
  * it (`latest(ia) ≤ b ∧ latest(ib) ≤ b` — the pair was computed
  * against content that is still current). Re-delivery writes the new
  * content's rows and pairs in its own batch; the stale rows are
  * shadowed, not rewritten. [[compact]] folds the view into one fresh
  * batch and reclaims the shadowed space — amortize it every C
  * batches and total work is O(batches × delta + state·batches/C),
  * not O(batches × state).
  *
  * Single-writer contract (the reference pipeline's own posture: one
  * scheduled updater per table — update-database.yml:282-397 runs one
  * workflow instance); readers are safe any time — they only see
  * committed batches.
  */
final class KeepBestIndexStore private (spark: SparkSession,
                                        log: StoreRoot.BatchLog,
                                        shingleN: Int, k: Int,
                                        initialRpb: Option[Int],
                                        threshold: Double,
                                        tuning: Option[KeepBestIndex.AutoTune]) {
  import KeepBestIndexStore._

  private val root = log.root
  private def fs: FileSystem = log.fs

  log.refresh() // pin the at-open snapshot: a pure reader LISTs once

  private var tunedRpb: Option[Int] = initialRpb

  /** The banding the store runs at: fixed at [[KeepBestIndexStore.open]],
    * or the first batch's certified choice for an [[KeepBestIndexStore
    * .openAuto]] store (None before birth — provenance for "which
    * operating point is this guard actually running?").
    */
  def chosenRowsPerBand: Option[Int] = tunedRpb

  private def effectiveRpb: Int =
    tunedRpb.getOrElse(throw new IllegalStateException(
      "KeepBestIndexStore: banding not tuned yet — ingest the first batch first"))

  private def empty(st: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), st)

  /** Re-pin the committed-set snapshot ([[StoreRoot.BatchLog.refresh]])
    * to observe the single writer's later commits. One LIST.
    */
  def refresh(): Unit = {
    log.refresh()
    refsCache = None
  }

  private[graft] def listCalls: Long = log.listCalls

  /** REFERENCED batch directories from PRIOR lifecycle versions — the
    * reband manifest (`_refs`, one `v=K/b=N` line per referenced dir,
    * resolved against the pointer root this version dir lives under).
    * The per-id frames (sh/sigs/sizes/scored/ids) in these dirs are
    * part of this store's committed view exactly as if they were its
    * own batches; their `pairs` are NOT (pairs are banding-dependent —
    * the reband batch rewrote the pair relation at the new banding).
    * The manifest is immutable once the version is built; [[compact]]
    * folds the referenced rows into an owned batch and retires it.
    * Cached: one metadata read per open/refresh, like the committed
    * set.
    */
  private var refsCache: Option[Seq[Path]] = None
  private def refs: Seq[Path] = refsCache.getOrElse {
    val r = StoreRoot.refLines(fs, root).map(line => new Path(root.getParent, line))
    refsCache = Some(r)
    r
  }

  /** One stored frame across the committed batches (each row carries
    * the `b` it was written in), PLUS — for the banding-independent
    * per-id frames — the batches the reband manifest references from
    * prior versions. Reading by explicit committed paths — never a
    * glob — is what makes uncommitted partials invisible. The schema
    * is declared, not footer-inferred: the reband batch's per-id
    * frames are EMPTY directories (the manifest replaces their data),
    * which an inference pass cannot type.
    */
  private def readFrame(name: String, schema: StructType): DataFrame = {
    val own = log.paths(name)
    val paths =
      if (name == "pairs") own
      else refs.map(r => new Path(r, name).toString) ++ own
    if (paths.isEmpty) empty(schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** (id, lb): the LATEST committed batch that delivered each id — the
    * shadowing rule's pivot.
    */
  private def idsLatest: DataFrame =
    readFrame("ids", idsSchema).groupBy(col("id")).agg(max(col("b")).as("lb"))

  /** Current rows of a per-id frame: written in the batch that last
    * delivered the id.
    */
  private def effective(name: String, schema: StructType): DataFrame =
    effectiveFrom(idsLatest, name, schema)

  /** [[effective]] against a CALLER-SUPPLIED shadowing pivot — the
    * multi-action assemblies (compact, the reband rebuild) persist
    * [[idsLatest]] once and feed it to every frame view, instead of
    * re-deriving the pivot inside each write action (within ONE action
    * duplicate pivot subtrees already share an exchange via
    * ReuseExchange; across the six write ACTIONS nothing is shared
    * without the persist).
    */
  private def effectiveFrom(latest: DataFrame, name: String,
                            schema: StructType): DataFrame =
    readFrame(name, schema).join(latest, Seq("id"))
      .filter(col("b") === col("lb")).drop("b", "lb")

  /** Current pair rows: neither endpoint re-delivered after the pair
    * was computed (a later delivery replaced the content the pair was
    * verified against — its replacement batch re-probed and re-wrote
    * every still-true pair).
    */
  private def effectivePairs: DataFrame = effectivePairsFrom(idsLatest)

  private def effectivePairsFrom(latest: DataFrame): DataFrame = {
    readFrame("pairs", pairsSchema)
      .join(latest.select(col("id").as("ia"), col("lb").as("la")), Seq("ia"))
      .join(latest.select(col("id").as("ib"), col("lb").as("lbb")), Seq("ib"))
      .filter(col("la") <= col("b") && col("lbb") <= col("b"))
      .select(col("ia"), col("ib"))
  }

  /** Fold one batch into the store: REFUSE on within-batch duplicate
    * ids (the [[KeepBestIndex.ingest]] contract), probe the delta
    * against the committed view (delta-only shingling — the q_st14
    * incremental contract; re-delivered ids' stale base rows are
    * dropped inside the probe and shadowed in the store), and append
    * the six delta frames as the log's next batch. A crash anywhere
    * before its commit leaves a partial the next ingest reclaims; the
    * batch re-ingests cleanly.
    */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             score: Column): Unit = {
    val dupId = Concurrent.labeled(spark, "kbs:ingest dup-check")(
      batch.groupBy(col(idCol)).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).collect())
    require(dupId.isEmpty,
      s"KeepBestIndexStore.ingest: id ${dupId.headOption.map(_.get(0)).orNull} " +
        "appears more than once WITHIN the batch — the keyed-upsert contract " +
        "requires within-batch-unique ids")
    // Tune at BIRTH, before anything is written: an infeasible first
    // batch refuses with the directory still empty (the KeepBestIndex
    // refuse-before-state rule, store-backed).
    tuning.foreach { t =>
      if (tunedRpb.isEmpty) {
        val rpb = BandChooser.chosenOrRefuse(
          Concurrent.labeled(spark, "kbs:birth tuning")(
            t.chooseOn(batch, idCol, textCol, shingleN, k, threshold)),
          "KeepBestIndexStore: no banding configuration meets the precision/" +
            "recall floors on the first batch's sample — refusing BEFORE " +
            "anything is written (a silent default banding would run the " +
            "store at an operating point the floors just rejected); loosen a " +
            "floor or extend rowsPerBandConfigs")
        persistChoice(fs, root, rpb, shingleN, k, threshold)
        tunedRpb = Some(rpb)
      }
    }
    log.append() { b =>
      val dSh = Concurrent.labeled(spark, "kbs:ingest delta shingles")(
        Dedup.shingleHashSet(batch, idCol, textCol, shingleN)
          .select(col("id").cast(LongType).as("id"), col("h"))
          .localCheckpoint(eager = true))
      // The six delta-frame jobs are INDEPENDENT once dSh is
      // materialized: five are map/one-exchange derivations of the
      // checkpointed delta (or of the batch itself), the sixth — the
      // incremental probe — reads only the COMMITTED view (the batch
      // being appended is not in it, so the concurrent writes are
      // invisible to it). Overlap them (guide §2.6): sequentially each
      // job's stage tail idled most cores; concurrently the delta writes
      // back-fill the probe's tails. A failure in any job leaves a marker-less
      // partial — the same crash shape as the sequential code — because
      // runAll rethrows before the append commits.
      // The delta's signature / sizes / ids frames feed BOTH their own
      // frame writes and the probe — materialize each ONCE (the probe
      // used to re-run the signature groupBy and sizes aggregation the
      // writes had just paid), then overlap the six independent writes.
      var dSigs: DataFrame = null
      var dSizes: DataFrame = null
      var dIds: DataFrame = null
      Concurrent.runLabeled(spark, Seq(
        "kbs:ingest delta sigs" -> (() =>
          dSigs = Dedup.minhashSigs(dSh, k).localCheckpoint(eager = true)),
        "kbs:ingest delta sizes" -> (() =>
          dSizes = dSh.groupBy(col("id")).agg(count(lit(1)).as("n"))
            .localCheckpoint(eager = true)),
        "kbs:ingest delta ids" -> (() =>
          dIds = dSh.select(col("id")).distinct()
            .localCheckpoint(eager = true))))
      Concurrent.runLabeled(spark, Seq(
        "kbs:ingest probe+pairs" -> (() =>
          b.put("pairs", Dedup.incrementalNearDupPairsFromSets(
              effective("sh", shSchema), effective("sigs", sigsSchema), dSh,
              k, effectiveRpb, threshold,
              baseSizes = Some(effective("sizes", sizesSchema)),
              dSigs = Some(dSigs), dSizes = Some(dSizes), dIds = Some(dIds))
            .select(col("ia"), col("ib")))),
        "kbs:ingest write sh" -> (() => b.put("sh", dSh)),
        "kbs:ingest write sigs" -> (() => b.put("sigs", dSigs)),
        "kbs:ingest write sizes" -> (() => b.put("sizes", dSizes)),
        "kbs:ingest write scored" -> (() =>
          b.put("scored", batch.select(col(idCol).cast(LongType).as("id"),
            score.cast(LongType).as("score")))),
        "kbs:ingest write ids" -> (() => b.put("ids", dIds))))
    }
    // a kill between the append's commit and this fold just defers the
    // fold to a later tick
    if (log.foldDue) compact()
  }

  /** The CURRENT surviving (id, score) rows off the committed view —
    * the ONE keep-best window ([[Dedup.keepBestLosersFromClusters]],
    * shared with the batch purge and the in-memory index), so the
    * q_st18 ≡ q_d20 equivalence can never drift on the rule itself.
    */
  def survivors: DataFrame = {
    val scored = effective("scored", scoredSchema)
    val losers = Dedup.keepBestLosersFromClusters(scored,
      Dedup.dupClusters(effectivePairs))
    scored.join(losers, Seq("id"), "left_anti")
  }

  /** [[Dedup.contentGroups]] of the CURRENT effective state, rebuilt
    * from STORED hashes — no text needed: the hs key is the sorted
    * hashed shingle set the store already holds per id, so the
    * reband chooser runs off state alone (the corpus may be long
    * gone — at 100 TB you re-certify an index from the index).
    */
  private[graft] def effectiveGroups: DataFrame =
    Dedup.contentGroupsOf(effective("sh", shSchema))

  /** [[effectiveGroups]] of the hash-gated SAMPLE, with the gate
    * applied to the id BEFORE every shuffle in the assembly — the
    * [[DupGroups.sampleOf]] equivalence run in the cheap direction
    * (restricting ids can never merge or split content groups — the hs
    * key is a pure function of the content — so gate-then-group ≡
    * group-then-filter-members; KeepBestStoreSpec pins it on stored
    * state). The gate sits STRUCTURALLY on both inputs of the
    * shadowing join (the stored sh rows AND the ids frame feeding the
    * latest-batch pivot — an inner join on id keeps the restriction
    * exact), not merely above it waiting for the optimizer to push a
    * custom-expression predicate. This is what makes a PER-TICK
    * re-certification ([[KeepBestIndexStore.maintainedIngest]])
    * affordable: the state is scanned once map-side, but only the
    * sample's rows ever cross a shuffle — grouping the full state
    * first would make every maintenance tick a corpus-scale shuffle
    * job.
    */
  private[graft] def effectiveSampleGroups(sampleMod: Long): DataFrame = {
    def gated(df: DataFrame): DataFrame =
      df.filter(SampleGate.admits(col("id"), sampleMod))
    val latest = gated(readFrame("ids", idsSchema))
      .groupBy(col("id")).agg(max(col("b")).as("lb"))
    Dedup.contentGroupsOf(gated(readFrame("sh", shSchema))
      .join(latest, Seq("id"))
      .filter(col("b") === col("lb")).drop("b", "lb"))
  }

  /** RE-CERTIFY the banding on the CURRENT state — the birth chooser's
    * exact algebra ([[Dedup.chooseLshConfigFromGroups]]) off the
    * stored hashes: the operating point that certified on the birth
    * batch can go stale as the corpus grows (the d25/d26 finding — the
    * feasible region MOVES with scale), and this is the measurement
    * that says so. Returns the config the CURRENT state certifies
    * (None when nothing meets the floors — the caller decides whether
    * that refuses or alarms).
    */
  def rebandChoice(tune: KeepBestIndex.AutoTune): Option[Int] = {
    BandChooser.chosen(
      tune.table(idsLatest.count(), effectiveSampleGroups, k, threshold))
  }

  /** Build the reband payload into a NEW version's log — BY
    * REFERENCE, not by copy (guide §6: don't rewrite data you didn't
    * change). The per-id frames (sh/sigs/sizes/scored/ids) are
    * banding-INDEPENDENT (k minhashes; `rowsPerBand` only slices
    * them), so the new version's `_refs` manifest simply names this
    * store's committed batch dirs (plus whatever ITS manifest already
    * referenced — flattened here, so reads never chase chains) and the
    * only data written is the one banding-DEPENDENT artifact: the pair
    * relation, re-banded from the STORED sigs and re-verified against
    * the STORED shingle postings — zero text, zero re-shingling, and
    * zero corpus-scale copy. The pre-r18 form rewrote all five per-id
    * frames: O(corpus) per reband, the one full-state copy left in the
    * lifecycle.
    *
    * The pairs write is ONE action, so the three shadowing-pivot
    * subtrees inside it share their exchange (ReuseExchange) without
    * any persist. It is appended numbered after this store's last batch
    * (own committed batches are always numbered ABOVE every referenced
    * batch, so the read-time shadowing rule — `latest(id) <= pair.b`
    * for still-current pairs — holds across the version boundary), and
    * its per-id frames are written EMPTY to keep the uniform per-batch
    * layout ([[readFrame]] declares schemas, so an empty directory
    * reads as zero rows). Everything stays invisible until the caller
    * flips the pointer; a crash leaves an orphaned version dir the
    * lifecycle never adopts.
    */
  private[graft] def writeRebandInto(rpb: Int, target: StoreRoot.BatchLog): Unit = {
    val sources = refs ++ log.committed.map(log.dir)
    StoreRoot.writeTextAtomic(fs, new Path(target.root, StoreRoot.RefsFile),
      sources.map(p => s"${p.getParent.getName}/${p.getName}").mkString("\n"))
    target.append(after = log.last) { b =>
      val latest = idsLatest
      val cand = Dedup.lshCandidatesFromSigs(
        effectiveFrom(latest, "sigs", sigsSchema), rpb, k)
      val pairs = Dedup.jaccardVerifySized(cand,
          effectiveFrom(latest, "sh", shSchema),
          effectiveFrom(latest, "sizes", sizesSchema), setCol = "h")
        .filter(col("jac") >= threshold)
        .select(col("ia"), col("ib"))
      Concurrent.labeled(spark, "kbs:reband pairs")(b.put("pairs", pairs))
      Seq("sh" -> shSchema, "sigs" -> sigsSchema, "sizes" -> sizesSchema,
        "scored" -> scoredSchema, "ids" -> idsSchema).foreach {
        case (name, st) =>
          // repartition(1): one footer-bearing (empty) part file, so the
          // directory stays schema-readable even without a declared schema
          b.put(name, empty(StructType(st.filterNot(_.name == "b")))
            .repartition(1))
      }
    }
  }

  /** Fold the committed view into one fresh batch and drop the
    * shadowed history ([[StoreRoot.BatchLog.fold]]) — space
    * reclamation, not semantics: the view before and after is
    * identical.
    */
  def compact(): Unit = {
    // a 1-batch store with a reband manifest still folds: the fold is
    // what makes the version self-contained (references retired), so
    // the referenced prior version becomes reclaimable by [[vacuum]]
    if (log.committed.size <= 1 && refs.isEmpty) return
    log.fold { b =>
      // Six write ACTIONS over the effective view: persist the shadowing
      // pivot once (each action re-derived idsLatest — six scans + six
      // pivot shuffles for one tiny relation), materialize it, then
      // overlap the independent writes (guide §2.6). MEMORY_AND_DISK, not
      // localCheckpoint: an executor loss recomputes the pivot from the
      // committed parquet instead of failing the fold.
      val latest = idsLatest
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Concurrent.labeled(spark, "kbs:fold pivot")(latest.count())
      try Concurrent.runLabeled(spark, Seq(
        "sh" -> effectiveFrom(latest, "sh", shSchema),
        "sigs" -> effectiveFrom(latest, "sigs", sigsSchema),
        "sizes" -> effectiveFrom(latest, "sizes", sizesSchema),
        "scored" -> effectiveFrom(latest, "scored", scoredSchema),
        "ids" -> readFrame("ids", idsSchema).select(col("id")).distinct(),
        "pairs" -> effectivePairsFrom(latest)).map { case (name, df) =>
        s"kbs:fold write $name" -> (() => b.put(name, df))
      })
      finally latest.unpersist()
    }
    // the fold re-delivered every id in its own batch, so every referenced
    // row is shadowed — retire the manifest (referenced dirs belong to
    // the PRIOR version and are vacuum's business, never deleted here).
    // A crash between the commit above and this delete leaves a stale
    // manifest over fully-shadowed rows: correct, just unreclaimed
    // until the next fold.
    fs.delete(new Path(root, StoreRoot.RefsFile), false)
    refsCache = Some(Seq.empty)
  }
}

object KeepBestIndexStore {

  private val idsSchema = StructType(Seq(
    StructField("id", LongType), StructField("b", IntegerType)))
  private val shSchema = StructType(Seq(
    StructField("id", LongType), StructField("h", LongType),
    StructField("b", IntegerType)))
  private val sigsSchema = StructType(Seq(
    StructField("id", LongType), StructField("sig", ArrayType(LongType)),
    StructField("b", IntegerType)))
  private val sizesSchema = StructType(Seq(
    StructField("id", LongType), StructField("n", LongType),
    StructField("b", IntegerType)))
  private val scoredSchema = StructType(Seq(
    StructField("id", LongType), StructField("score", LongType),
    StructField("b", IntegerType)))
  private val pairsSchema = StructType(Seq(
    StructField("ia", LongType), StructField("ib", LongType),
    StructField("b", IntegerType)))

  /** Open (or create) a store at `dir`. The parameters are FINGERPRINTED
    * ([[StoreRoot.pinParams]], as in `Curate.pipelineStaged`): reopening an
    * existing store under different shingling/banding/threshold — or
    * under a different state ALGEBRA version — is refused, because the
    * stored deltas were computed under the old configuration and
    * folding new-configuration batches into them would silently mix
    * two indexes. open() NEVER mutates committed state or batch
    * directories — a pure reader can open concurrently with a writer
    * mid-ingest; crashed partials stay invisible until the writer's
    * next claim of their batch number reclaims them
    * ([[StoreRoot.claimBatchDir]]).
    *
    * `compactEvery`: auto-fold the committed view whenever that many
    * batch deltas have accumulated (after the triggering ingest
    * commits). NOT fingerprinted — it is a maintenance cadence, not
    * state algebra: any instance may change it freely, the view is
    * identical either way.
    */
  def open(spark: SparkSession, dir: String, shingleN: Int = 3, k: Int = 16,
           rowsPerBand: Int = 4, threshold: Double = 0.5,
           compactEvery: Option[Int] = None): KeepBestIndexStore = {
    val log = StoreRoot.openLog(spark, dir, compactEvery)
    StoreRoot.pinParams(log.fs, log.root,
      fingerprint(shingleN, k, rowsPerBand, threshold),
      s"KeepBestIndexStore: $dir holds state computed under a DIFFERENT " +
        "configuration or algebra version (params fingerprint mismatch) — " +
        "resuming would silently mix two indexes; pass a fresh dir (or " +
        "delete this one) to run with the new parameters")
    new KeepBestIndexStore(spark, log, shingleN, k, Some(rowsPerBand),
      threshold, tuning = None)
  }

  /** Open a store whose banding is CHOSEN AT BIRTH — the
    * [[KeepBestIndex.AutoTune]] contract, store-backed: on a fresh
    * directory the first [[KeepBestIndexStore.ingest]] prices the
    * tuning grid on that batch's sample and REFUSES (nothing written)
    * when no config meets the floors; the certified choice persists as
    * `_tuned_rpb` plus the STANDARD params fingerprint, so a resumed
    * store — by this method OR by [[open]] with the matching
    * rowsPerBand — is indistinguishable from a fixed-banding store.
    * The tuning parameters are birth-time only: a resume never
    * re-chooses (the stored deltas were banded at the birth choice —
    * re-choosing would mix two indexes, exactly what the fingerprint
    * exists to refuse).
    */
  def openAuto(spark: SparkSession, dir: String,
               tune: KeepBestIndex.AutoTune,
               shingleN: Int = 3, k: Int = 16, threshold: Double = 0.5,
               compactEvery: Option[Int] = None): KeepBestIndexStore = {
    val log = StoreRoot.openLog(spark, dir, compactEvery)
    val (root, fs) = (log.root, log.fs)
    val rpbPath = new Path(root, TunedRpbFile)
    val stored: Option[Int] =
      if (fs.exists(rpbPath)) {
        val rpb = StoreRoot.readText(fs, rpbPath).trim.toInt
        // the stored choice must be a member of the grid that could
        // have certified it — the cheap tripwire against a torn write
        // that parses (a '1' torn from '12') or a hand-edited file:
        // running at an uncertified banding silently is the exact
        // failure the floors exist to refuse
        require(tune.rowsPerBandConfigs.contains(rpb),
          s"KeepBestIndexStore: $dir's persisted banding choice ($rpb) is " +
            s"not in the tuning grid ${tune.rowsPerBandConfigs} — the file " +
            "is torn or the grid changed; restore _tuned_rpb (or rebuild) " +
            "rather than serving at an uncertified operating point")
        pinChoice(fs, root, rpb, shingleN, k, threshold) // heals a crash after the choice
        Some(rpb)
      } else {
        require(!fs.exists(StoreRoot.paramsPath(root)),
          s"KeepBestIndexStore: $dir holds a FIXED-banding store (params " +
            "fingerprint present, no _tuned_rpb) — its rowsPerBand is not " +
            "recoverable from the hash; reopen it with open() and the " +
            "original banding instead of openAuto")
        None
      }
    new KeepBestIndexStore(spark, log, shingleN, k, stored, threshold,
      tuning = Some(tune))
  }

  // ---- Pointer-managed serving root (the reband lifecycle) ------------
  // [[StoreRoot]] protocol, shared with [[IvfIndexStore.retrainIfImbalanced]].

  /** The live version number under a pointer-managed root, if any. */
  def liveVersion(spark: SparkSession, root: String): Option[Int] =
    StoreRoot.liveVersion(spark, root)

  /** Create version 0 of a pointer-managed keep-best root: an
    * [[openAuto]] store under `<root>/v=0` (banding chosen at the
    * first ingest), published by `_latest`.
    */
  def createLive(spark: SparkSession, root: String,
                 tune: KeepBestIndex.AutoTune,
                 shingleN: Int = 3, k: Int = 16, threshold: Double = 0.5,
                 compactEvery: Option[Int] = None): KeepBestIndexStore =
    StoreRoot.createLive(spark, root, "KeepBestIndexStore.createLive")(
      openAuto(spark, _, tune, shingleN, k, threshold, compactEvery))

  /** Open whatever version the pointer currently names
    * ([[StoreRoot.openLive]]).
    */
  def openLive(spark: SparkSession, root: String,
               tune: KeepBestIndex.AutoTune,
               shingleN: Int = 3, k: Int = 16, threshold: Double = 0.5,
               compactEvery: Option[Int] = None): KeepBestIndexStore =
    StoreRoot.openLive(spark, root, "KeepBestIndexStore.openLive")(
      openAuto(spark, _, tune, shingleN, k, threshold, compactEvery))

  /** THE REBAND LIFECYCLE STEP — [[IvfIndexStore.retrainIfImbalanced]]'s
    * analogue on the banding axis: the birth choice is STATE ALGEBRA
    * (fingerprinted — an existing directory can never switch banding
    * in place), but the operating point that certified on the birth
    * batch goes stale as the corpus grows (the d25/d26 finding: the
    * feasible region moves with scale). This step re-runs the chooser
    * on the CURRENT effective state — from STORED hashes, no text, no
    * re-shingling — and, when the certified config differs from the
    * live one, rebuilds into a fresh fingerprinted `v=N+1`: signatures
    * re-band directly (they are banding-independent), the pair
    * relation re-verifies candidates against the stored postings, the
    * per-id frames are REFERENCED from the live version's committed
    * batches via the `_refs` manifest (never copied — the reband
    * writes only the banding-dependent pairs artifact), and the root
    * pointer flips
    * atomically. Returns None when the live banding is still the
    * certified choice; REFUSES when the current state certifies
    * nothing (floors unreachable — serving at the stale point silently
    * would be the exact failure the floors exist to prevent).
    *
    * Crash-safety: everything before the flip is invisible to readers;
    * a crashed rebuild leaves an orphaned version dir the next attempt
    * rebuilds by number (never adopted). The old version's directory
    * is untouched and stays readable.
    *
    * Scale shape: one chooser pass over the budget-gated sample of the
    * state, one banding + candidate-bounded verify join, ZERO copy of
    * the effective frames (manifest reference). Never quadratic, never
    * a corpus re-scan, never a corpus-scale write.
    */
  def rebandIfStale(spark: SparkSession, root: String,
                    tune: KeepBestIndex.AutoTune,
                    shingleN: Int = 3, k: Int = 16, threshold: Double = 0.5,
                    compactEvery: Option[Int] = None): Option[KeepBestIndexStore] = {
    val cur = openLive(spark, root, tune, shingleN, k, threshold, compactEvery)
    val born = cur.chosenRowsPerBand.getOrElse(
      return None) // pre-birth store: nothing to reband yet
    val choice = cur.rebandChoice(tune)
    require(choice.nonEmpty,
      "KeepBestIndexStore.rebandIfStale: NO banding configuration meets the " +
        "floors on the CURRENT state — the live operating point is stale and " +
        "nothing certifies; loosen a floor or extend rowsPerBandConfigs " +
        "(continuing to serve the stale banding silently is the failure the " +
        "floors exist to surface)")
    if (choice.contains(born)) None
    else {
      val rpbNew = choice.get
      val r = new Path(root)
      val fs = StoreRoot.fsOf(spark, r)
      val (next, dir) = StoreRoot.claimNextVersion(fs, r)
      persistChoice(fs, dir, rpbNew, shingleN, k, threshold)
      cur.writeRebandInto(rpbNew, StoreRoot.openLog(spark, dir.toString, None))
      StoreRoot.flipPointer(fs, r, next)
      Some(openAuto(spark, dir.toString, tune, shingleN, k, threshold,
        compactEvery))
    }
  }

  /** THE MAINTENANCE TICK on the banding axis —
    * [[IvfIndexStore.maintainedIngest]]'s analogue, the one step a
    * streaming guard runs per micro-batch over a pointer-managed root:
    * fold the batch into the LIVE version (the first tick is birth —
    * the banding certifies on that batch or refuses with nothing
    * written), then re-certify the banding on the CURRENT state from
    * STORED hashes and fire the reband rebuild when the certified
    * config moved ([[rebandIfStale]] — fresh fingerprinted `v=N+1`,
    * atomic marker flip, readers pinned to `v=N` untouched). A kill
    * between ticks resumes exactly: every sub-step is the store's
    * already-crash-safe protocol (q_st29 gates the mid-stream flip +
    * kill/resume end to end).
    *
    * Returns (live version after the tick, the live banding after the
    * tick) — the version sequence is the lifecycle's provenance.
    *
    * `checkEvery` amortizes the re-certification the way
    * `compactEvery` amortizes folds: the chooser pass runs only every
    * `checkEvery`-th tick of the root's DURABLE tick counter
    * ([[StoreRoot.bumpTick]] — kill/resume never resets the rhythm,
    * and compaction consuming batch numbers can never skew it). 1 (the
    * default, and the gates' setting) re-certifies every tick; a
    * skipped tick can never fire the lifecycle.
    *
    * Per-tick cost: the ingest's delta-bounded write + incremental
    * probe; on checked ticks one chooser pass whose SHUFFLES carry
    * only the hash-gated sample ([[effectiveSampleGroups]] — the state
    * is scanned map-side, never re-grouped in full) and whose truth is
    * budget-bounded when the tune's gate is a budget; and — only
    * on a fired tick — the signature re-banding, whose new version
    * writes only its pairs (the per-id frames are `_refs` manifest
    * references). Never a corpus re-scan, never text.
    */
  def maintainedIngest(spark: SparkSession, root: String,
                       tune: KeepBestIndex.AutoTune,
                       batch: DataFrame, idCol: String, textCol: String,
                       score: Column,
                       shingleN: Int = 3, k: Int = 16, threshold: Double = 0.5,
                       compactEvery: Option[Int] = None,
                       checkEvery: Int = 1,
                       retainSuperseded: Option[Int] = None): (Int, Int) = {
    val cur = openLive(spark, root, tune, shingleN, k, threshold, compactEvery)
    var live: KeepBestIndexStore = cur
    val v = StoreRoot.maintainedTick(spark, root, checkEvery,
      retainSuperseded)(() => cur.ingest(batch, idCol, textCol, score)) { () =>
      val rebanded =
        rebandIfStale(spark, root, tune, shingleN, k, threshold, compactEvery)
      rebanded.foreach(live = _)
      rebanded.nonEmpty
    }
    (v, live.chosenRowsPerBand.getOrElse(
      sys.error("maintainedIngest: the live store has no banding after " +
        "an ingest — birth tuning should have set it or refused")))
  }

  /** [[StoreRoot.gcSuperseded]] on this root — the retention sweep for
    * versions the reband lifecycle has superseded: keep the newest
    * `keepSuperseded` for pinned readers, delete the rest — EXCEPT a
    * version whose frames a surviving version still references via its
    * reband manifest (deleting it would gut the live index; it becomes
    * reclaimable once the referencing version compacts). Returns the
    * versions deleted.
    */
  def vacuum(spark: SparkSession, root: String, keepSuperseded: Int): Seq[Int] = {
    val r = new Path(root)
    StoreRoot.gcSuperseded(StoreRoot.fsOf(spark, r), r, keepSuperseded)
  }

  private[ops] def fingerprint(shingleN: Int, k: Int, rowsPerBand: Int,
                               threshold: Double): String =
    StoreRoot.sha256Hex(Seq("kbi-alg=1", shingleN.toString, k.toString,
      rowsPerBand.toString, threshold.toString).mkString(" "))

  private val TunedRpbFile = "_tuned_rpb"

  /** Pin the params fingerprint of a store whose banding `rpb` was
    * chosen by the tuner.
    */
  private def pinChoice(fs: FileSystem, dir: Path, rpb: Int, shingleN: Int,
                        k: Int, threshold: Double): Unit =
    StoreRoot.pinParams(fs, dir, fingerprint(shingleN, k, rpb, threshold),
      s"KeepBestIndexStore: $dir was tuned under DIFFERENT non-banding " +
        "parameters or algebra version (params fingerprint mismatch) — " +
        "resuming would silently mix two indexes")

  /** Persist a banding choice: `_tuned_rpb` FIRST, then the params
    * fingerprint — a crash between the two heals on reopen ([[openAuto]]
    * re-pins from the stored choice); the reverse order would strand a
    * fingerprint whose rpb is unrecoverable from its hash.
    */
  private def persistChoice(fs: FileSystem, dir: Path, rpb: Int, shingleN: Int,
                            k: Int, threshold: Double): Unit = {
    StoreRoot.writeTextAtomic(fs, new Path(dir, TunedRpbFile), rpb.toString)
    pinChoice(fs, dir, rpb, shingleN, k, threshold)
  }
}
