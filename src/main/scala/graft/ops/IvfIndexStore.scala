package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** STORE-BACKED incremental IVF index — the ANN analogue of
  * [[KeepBestIndexStore]], closing the same durability gap for the
  * vector family that q_st18 closed for keep-best: the q_st15 stream
  * grows its assignment as eager `localCheckpoint`s (executor-pinned,
  * non-replicated, re-unioned every batch), so one lost executor
  * mid-stream loses the index and total work is O(batches × state).
  * Here every batch persists ONLY its own coarse assignment
  * (`Vectors.ivfAssign` over the delta — one map-side broadcast pass,
  * the q_e13 incremental contract: base vectors are never re-scored)
  * as one batch of the version's [[StoreRoot.BatchLog]] (its commit
  * order, pinned committed-set snapshot and fold live there); the
  * accumulated index is a read-time view over the committed deltas. A
  * killed stream resumes by reopening the directory — state is
  * whatever was committed, the next batch folds in as if the crash
  * never happened (q_st20 gates kill-between-streams + a planted
  * poisoned mid-batch partial; IvfStoreSpec runs the
  * kill-at-each-boundary sim).
  *
  * RE-DELIVERY (at-least-once) is the keyed-upsert rule, LOGICAL over
  * append-only storage: the view keeps an assignment row written at
  * batch i only while its vid was not re-delivered by a LATER
  * committed batch (`b == latest(vid)`). A vector update re-assigns
  * in its own batch and shadows the stale row; nothing stored is ever
  * rewritten. IVF needs no pair frames — assignment is per-vector —
  * so the whole state is ONE frame and the shadowing pivot.
  * [[compact]] folds the view into one fresh batch and reclaims the
  * shadowed space; with a `compactEvery` cadence total maintenance
  * work is O(batches × delta + state · batches/C).
  *
  * CENTROIDS ARE STATE ALGEBRA, NOT CONFIG-PER-CALL: every stored cid
  * was an argmax against one specific centroid set, so the set itself
  * is fingerprinted (canonical sorted serialization, pinned by
  * [[StoreRoot.pinParams]] like `Curate.pipelineStaged`) — reopening
  * the directory with different centroids (or a different algebra
  * version) is refused rather than silently mixing two layouts.
  * Centroid sets are bounded by the family's own contract (they
  * broadcast in every assign/search), so the canonicalization's
  * driver-side collect is k-bounded, not corpus-bounded.
  *
  * Single-writer contract, readers safe any time — same posture as
  * [[KeepBestIndexStore]] (the reference's one-scheduled-updater
  * rule, update-database.yml:282-397).
  */
final class IvfIndexStore private (spark: SparkSession, log: StoreRoot.BatchLog,
                                   centroids: DataFrame) {
  import IvfIndexStore._

  private def fs: FileSystem = log.fs

  log.refresh() // pin the at-open snapshot: a pure reader LISTs once

  /** Re-pin the committed-set snapshot ([[StoreRoot.BatchLog.refresh]])
    * to observe the single writer's later commits. One LIST.
    */
  def refresh(): Unit = log.refresh()

  private[graft] def listCalls: Long = log.listCalls

  /** The stored assignment across committed batches (explicit paths,
    * never a glob — uncommitted partials are simply invisible).
    */
  private def readAssigned: DataFrame = {
    val paths = log.paths("assigned")
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), assignedSchema)
    else spark.read.parquet(paths: _*)
  }

  /** Current index view: each vid's row from the batch that last
    * delivered it (the keyed-upsert shadowing rule).
    */
  def assigned: DataFrame = {
    val all = readAssigned
    val latest = all.groupBy(col("vid")).agg(max(col("b")).as("lb"))
    all.join(latest, Seq("vid"))
      .filter(col("b") === col("lb"))
      .select(col("vid"), col("cid"), col("e"))
  }

  /** Fold one batch of vectors (vid, e) into the store: REFUSE on
    * within-batch duplicate vids (two rows for one key in a single
    * batch have no defined winner — the keyed-upsert contract), assign
    * the DELTA against the fingerprinted centroids (one map-side
    * broadcast pass — batch-bounded, the base is never re-scored),
    * and append it as the log's next batch.
    */
  def ingest(batch: DataFrame): Unit = {
    val dup = batch.groupBy(col("vid")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"IvfIndexStore.ingest: vid ${dup.headOption.map(_.get(0)).orNull} " +
        "appears more than once WITHIN the batch — the keyed-upsert contract " +
        "requires within-batch-unique vids")
    log.append() { b =>
      b.put("assigned",
        Vectors.ivfAssign(batch.select(col("vid"), col("e")), centroids))
    }
    invalidateCert() // the version moved; any certified width is stale
    if (log.foldDue) compact()
  }

  /** IVF search over the committed view — the one
    * [[Vectors.ivfSearch]] ranking (probe the nProbe nearest cells,
    * exact cosine inside them), so q_st20 ≡ q_e13 holds on the rule
    * itself, across any kill/resume/compaction history.
    */
  def search(query: DataFrame, nProbe: Int, k: Int): DataFrame =
    Vectors.ivfSearch(assigned, centroids, query, nProbe, k)

  /** One certified serving state: the committed version it was tuned
    * against (the latest committed batch number — the store's logical
    * version: ingest and compact both move it), the anchor/config
    * CONTENT fingerprints it is valid for, the certified width, and
    * the materialized effective view it serves from. At most ONE memo
    * is live, released the moment state moves — the view is a
    * `persist`, not a `localCheckpoint`, so a lost executor recomputes
    * it from the committed parquet instead of killing the serving
    * instance.
    */
  private final case class Certified(version: Int, anchorFp: String,
                                     configFp: String, width: Int,
                                     eff: DataFrame)
  private var cert: Option[Certified] = None

  /** Anchor frames keyed by REFERENCE to their content fingerprint —
    * the common serving pattern passes one frame per epoch, and this
    * identity cache means it pays the anchor collect once; a re-created
    * frame with the same rows re-collects, lands on the same
    * fingerprint, and still hits the memo (content-keyed, unlike the
    * pre-r16 `eq` check that spuriously re-certified it). Weak keys:
    * the cache never pins a dropped frame.
    */
  private val anchorFps =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, String]())

  /** Canonical content fingerprint of a bounded anchor query: its `e`
    * vectors rendered by exact double round-trip, SORTED (row order is
    * not content), under an algebra-version prefix — the
    * [[IvfIndexStore.open]] centroid-fingerprint rule applied to the
    * tuning input. The collect is bounded by the anchor contract (the
    * tuning pass itself collects scalars over the same frame).
    */
  private def anchorFpOf(tuneQuery: DataFrame): String = {
    Option(anchorFps.get(tuneQuery)).getOrElse {
      val repr = ("ivf-anchor-alg=1" +:
        tuneQuery.select(col("e").cast(ArrayType(DoubleType))).collect()
          .map(_.getSeq[Double](0).mkString(",")).sorted.toIndexedSeq)
        .mkString("\n")
      val fp = StoreRoot.sha256Hex(repr)
      anchorFps.put(tuneQuery, fp)
      fp
    }
  }

  /** The persisted form of one certification decision: a tiny file
    * whose NAME carries (version, anchor fp, config fp) and whose body
    * is the certified width — the `_tuned_rpb` birth-choice pattern
    * applied to the serving tier, so a RESTARTED process serving
    * unchanged state re-pays neither the shadowing assembly's anchor
    * truth pass nor a spurious re-certification. Versions are
    * monotone within a store directory (ingest and compact both take
    * max+1), so a stale file is simply never read again; [[compact]]
    * sweeps the old-version files.
    */
  private def certPath(version: Int, anchorFp: String, configFp: String): Path =
    new Path(log.root, s"_certified/v=$version,a=${anchorFp.take(16)}," +
      s"c=$configFp")

  private def readCertified(version: Int, anchorFp: String, configFp: String,
                            nprobes: Seq[Int]): Option[Int] = {
    val p = certPath(version, anchorFp, configFp)
    if (!fs.exists(p)) None
    else scala.util.Try(StoreRoot.readText(fs, p).trim.toInt)
      .toOption // an unparseable file re-certifies and overwrites
      // belt over the atomic-write braces: only a width the CURRENT
      // grid contains is trusted — a '1' torn from '12' (or a file
      // from an older, wider grid) must re-certify, never serve below
      // the recall floor silently
      .filter(nprobes.contains)
  }

  /** Drop the memoized certification and release its pinned view —
    * called by every mutation: the width was certified against state
    * that no longer exists.
    */
  private def invalidateCert(): Unit = {
    cert.foreach(_.eff.unpersist())
    cert = None
  }

  /** CERTIFIED-WIDTH search over the committed view —
    * [[Vectors.ivfSearchAuto]]'s contract on the durable index: the
    * probe width is tuned on a bounded ANCHOR query against exact
    * brute-force truth over the CURRENT effective state, the cheapest
    * floor-adequate width serves the traffic query with `nprobe`
    * provenance, and an unreachable floor REFUSES. Unlike the banding
    * choice (state algebra, fingerprinted at birth), the probe width
    * is a READ-time decision — but a read-HEAVY serving pattern calls
    * this between ingests, and the state did not move: the
    * certification (and the materialized effective view it ran on) is
    * MEMOIZED per committed version + anchor/config, so N serves
    * between ingests pay ONE shadowing assembly and ONE anchor truth
    * pass, re-certifying exactly when ingest/compact move the version.
    * The anchor is keyed by CONTENT fingerprint — a re-created frame
    * with the same rows (the normal event after a frame re-read) hits
    * the memo; different rows re-certify, correctly. The decision is
    * also PERSISTED beside the store (`_certified/`, the `_tuned_rpb`
    * pattern): a restarted serving process on unchanged state pays the
    * one shadowing assembly the state inherently costs but ZERO
    * re-certification — `certifications` stays 0 on the reopened
    * instance (q_st27 gates close-reopen-serve; IvfStoreSpec pins the
    * re-created-anchor hit). Serve results are eagerly checkpointed so
    * they outlive a later invalidation's release of the view.
    */
  def searchAuto(tuneQuery: DataFrame, serveQuery: DataFrame,
                 k: Int, nprobes: Seq[Int],
                 recallFloorPpm: Long): DataFrame = {
    val version = log.last.getOrElse(-1)
    val aFp = anchorFpOf(tuneQuery)
    val cFp = s"k${k}_np${nprobes.mkString("-")}_f$recallFloorPpm"
    val hit = cert.filter(c => c.version == version && c.anchorFp == aFp &&
      c.configFp == cFp)
    val c = hit.getOrElse {
      invalidateCert()
      val eff = assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      eff.count()
      val width = readCertified(version, aFp, cFp, nprobes).getOrElse {
        val choice =
          try Vectors.tuningRows(eff, centroids, tuneQuery, k, nprobes)
            .filter(_._3 >= recallFloorPpm)
            .sortBy(r => (r._2, r._1)).headOption.map(_._1)
          catch { case e: Throwable => eff.unpersist(); throw e }
        if (choice.isEmpty) eff.unpersist()
        require(choice.nonEmpty,
          s"IvfIndexStore.searchAuto: no probe width in $nprobes reaches recall " +
            s"$recallFloorPpm ppm on the anchor query — widen nprobes or lower " +
            "the floor (a silent default would serve traffic at a recall the " +
            "floor just rejected)")
        certifications += 1
        StoreRoot.writeTextAtomic(fs, certPath(version, aFp, cFp),
          choice.get.toString)
        choice.get
      }
      val built = Certified(version, aFp, cFp, width, eff)
      cert = Some(built)
      built
    }
    Vectors.ivfSearch(c.eff, centroids, serveQuery, c.width, k)
      .withColumn("nprobe", lit(c.width))
      .localCheckpoint(eager = true)
  }

  /** Number of anchor-truth certification passes this instance has
    * paid — observability for the memo contract (q_st24 and
    * IvfStoreSpec assert serves-between-ingests reuse one).
    */
  private[graft] var certifications: Int = 0

  private lazy val nCents: Long = centroids.count()

  /** Global cell-imbalance factor of the effective assignment,
    * 1e4-scaled — the q_e14 health metric off the durable view:
    * `max_cell × k × 1e4 / total` (10000 = perfectly balanced; 5×
    * means the hottest cell holds 5× its fair share and nProbe recall
    * is collapsing). This is the trigger the retrain lifecycle
    * ([[IvfIndexStore.retrainIfImbalanced]]) consumes. Zero on an
    * empty store.
    */
  def imbalance1e4: Long = {
    val row = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)), coalesce(sum(col("n")), lit(0L)))
      .first()
    val (nMax, nTotal) = (row.getLong(0), row.getLong(1))
    IvfIndexStore.imbalanceOf(nMax, nCents, nTotal)
  }

  /** Fold the committed view into one fresh batch and drop the
    * shadowed history ([[StoreRoot.BatchLog.fold]]) — space
    * reclamation, not semantics.
    */
  def compact(): Unit = {
    if (log.committed.size <= 1) return
    log.fold(_.put("assigned", assigned))
    // every persisted certification references a version below the
    // fold's (versions are monotone) — reclaim them all with the
    // shadowed batches
    fs.delete(new Path(log.root, "_certified"), true)
    invalidateCert() // compaction moves the version too
  }
}

object IvfIndexStore {

  /** `max_cell × k × 1e4 / total` through a BigInt product: the naive
    * Long product overflows once the hot cell and the centroid count
    * are both large (65k cells × a tens-of-billions cell × 1e4 >
    * 2^63), and a wrapped-negative metric would silently suppress the
    * retrain trigger it feeds. Integer-division semantics preserved
    * exactly (the st25 oracle replays `//`).
    */
  private[graft] def imbalanceOf(nMax: Long, nCents: Long, nTotal: Long): Long =
    if (nTotal == 0L) 0L
    else (BigInt(nMax) * nCents * 10000 / nTotal).toLong

  private val assignedSchema = StructType(Seq(
    StructField("vid", LongType), StructField("cid", LongType),
    StructField("e", ArrayType(DoubleType)), StructField("b", IntegerType)))

  /** Canonical fingerprint of a centroid set: rows sorted by cid, each
    * double rendered by `java.lang.Double.toString` (shortest
    * round-trip form — deterministic for identical bit patterns), all
    * under an algebra-version prefix. k-bounded by the broadcast
    * contract.
    */
  private def centroidFingerprint(rows: Seq[(Long, Seq[Double])]): String = {
    StoreRoot.sha256Hex(("ivf-alg=1" +:
      rows.sortBy(_._1).map { case (cid, ce) => s"$cid:${ce.mkString(",")}" })
      .mkString("\n"))
  }

  /** Open (or create) a store at `dir` for one centroid layout. The
    * layout is fingerprinted — reopening under different centroids or
    * a different algebra version refuses (the stored cids were argmax
    * decisions against the OLD set; folding new-layout batches in
    * would silently mix two indexes). open() NEVER mutates committed
    * state or batch directories — a pure reader can open concurrently
    * with a writer mid-ingest; crashed mid-write partials stay
    * invisible (reads use explicit committed paths) until the writer's
    * next claim of that batch number reclaims them
    * ([[StoreRoot.claimBatchDir]] — reclamation belongs to the single
    * writer; an open()-time sweep would let any READER destroy the
    * writer's in-flight batch). `compactEvery` is a maintenance
    * cadence, not state algebra — never fingerprinted.
    */
  def open(spark: SparkSession, dir: String, centroids: DataFrame,
           compactEvery: Option[Int] = None): IvfIndexStore = {
    val log = StoreRoot.openLog(spark, dir, compactEvery)
    // pin the layout the whole instance lifetime: the fingerprint and
    // every later assign/search must see the SAME rows. The collect is
    // k-bounded (the broadcast contract), and rebuilding the frame
    // from the DRIVER-held rows — rather than localCheckpoint'ing the
    // caller's frame — means no executor-pinned block whose loss
    // would kill a long-lived instance mid-stream.
    val rows = centroids.select(col("cid").cast(LongType),
        col("ce").cast(ArrayType(DoubleType)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .toIndexedSeq
    val fp = centroidFingerprint(rows)
    import spark.implicits._
    val pinned = rows.map { case (cid, ce) => (cid, ce) }
      .toDF("cid", "ce")
    // a fresh store persists the layout itself beside its fingerprint
    // (canonical text, exact double round-trip), so [[openPinned]] can
    // resume the store without the caller re-supplying the centroid set
    // — the retrain lifecycle's pointer-following readers need that.
    // Layout FIRST, fingerprint second: a crash between the two leaves
    // a healable dir (reopening recomputes the fingerprint from the
    // stored layout).
    StoreRoot.pinParams(log.fs, log.root, fp,
      s"IvfIndexStore: $dir holds assignments computed against a DIFFERENT " +
        "centroid layout or algebra version (params fingerprint mismatch) — " +
        "resuming would silently mix two indexes; pass a fresh dir (or " +
        "delete this one) to rebuild under the new layout",
      beforeCreate = () => StoreRoot.writeTextAtomic(log.fs,
        new Path(log.root, "_centroids"),
        rows.map { case (cid, ce) => s"$cid:${ce.mkString(",")}" }.mkString("\n")))
    new IvfIndexStore(spark, log, pinned)
  }

  /** Open a store from its OWN persisted centroid layout (`_centroids`,
    * written at creation) — no caller-supplied set: this is how the
    * retrain lifecycle's pointer-following readers resume a version
    * whose layout only the directory knows. Identical fingerprint
    * semantics to [[open]] (the parse feeds the same canonicalization).
    */
  def openPinned(spark: SparkSession, dir: String,
                 compactEvery: Option[Int] = None): IvfIndexStore = {
    val root = new Path(dir)
    val fs = StoreRoot.fsOf(spark, root)
    val cPath = new Path(root, "_centroids")
    require(fs.exists(cPath),
      s"IvfIndexStore.openPinned: $dir has no persisted centroid layout " +
        "(_centroids) — it predates the layout-persisting algebra or was " +
        "never created; reopen it with open() and the original centroids")
    val rows = StoreRoot.readText(fs, cPath).split("\n").toIndexedSeq
      .filter(_.nonEmpty)
      .map { line =>
        val Array(cid, ce) = line.split(":", 2)
        (cid.toLong, ce.split(",").toIndexedSeq.map(_.toDouble))
      }
    import spark.implicits._
    open(spark, dir, rows.toDF("cid", "ce"), compactEvery)
  }

  // ---- Pointer-managed serving root (the retrain lifecycle) -----------
  // Protocol shared with [[KeepBestIndexStore]]'s reband lifecycle via
  // [[StoreRoot]] (pointer read, marker-create publish, version layout).

  /** The live version number under a pointer-managed root, if any. */
  def liveVersion(spark: SparkSession, root: String): Option[Int] =
    StoreRoot.liveVersion(spark, root)

  /** Create version 0 of a pointer-managed serving root: a normal
    * fingerprinted store under `<root>/v=0`, published by `_latest`.
    */
  def createLive(spark: SparkSession, root: String, centroids: DataFrame,
                 compactEvery: Option[Int] = None): IvfIndexStore =
    StoreRoot.createLive(spark, root, "IvfIndexStore.createLive")(
      open(spark, _, centroids, compactEvery))

  /** Open whatever version the pointer currently names
    * ([[StoreRoot.openLive]]): a reader that resolved v=N keeps reading
    * a consistent, untouched index while the retrainer publishes v=N+1.
    */
  def openLive(spark: SparkSession, root: String,
               compactEvery: Option[Int] = None): IvfIndexStore =
    StoreRoot.openLive(spark, root, "IvfIndexStore.openLive")(
      openPinned(spark, _, compactEvery))

  /** THE RETRAIN LIFECYCLE STEP — closes the loop the q_e14 health
    * metric opens: when the live index's cell imbalance exceeds
    * `maxImbalance1e4`, re-train `kNew` centroids on the CURRENT
    * effective vectors ([[Vectors.kmeansCentroids]] — deterministic
    * init, Lloyd iterations), build a FRESH fingerprinted store dir
    * under the next version number, bulk-assign the effective view
    * into it as one batch, and atomically flip the root's pointer
    * (one `_latest.v=N` marker create, [[StoreRoot.flipPointer]]). Below the
    * threshold this is a no-op returning None.
    *
    * Crash-safety: everything before the flip is invisible to readers
    * (the pointer still names the old version); a crash mid-build
    * leaves a versioned dir the next retrain attempt rebuilds (it
    * picks max(existing)+1 — orphans are unreferenced, never adopted).
    * The OLD version's directory is untouched and stays readable by
    * any in-flight reader that resolved it before the flip.
    *
    * Scale shape: one imbalance aggregate over the effective view, the
    * k-means passes (each one broadcast-argmax + one keyed mean
    * shuffle), one bulk assign of the effective view (map-side,
    * broadcast), one parquet write. Nothing is quadratic; the old
    * index is never re-scored against the new layout except through
    * the single bulk assign every rebuild inherently pays.
    */
  def retrainIfImbalanced(spark: SparkSession, root: String,
                          maxImbalance1e4: Long, kNew: Int, iters: Int,
                          compactEvery: Option[Int] = None): Option[IvfIndexStore] = {
    val cur = openLive(spark, root, compactEvery)
    if (cur.imbalance1e4 <= maxImbalance1e4) None
    else Some(retrainFrom(spark, root, cur, kNew, iters, compactEvery))
  }

  /** The retrain rebuild itself — k-means on the CURRENT effective
    * vectors, fresh fingerprinted `v=N+1`, bulk assign, atomic pointer
    * flip. Shared by [[retrainIfImbalanced]] and the streaming
    * maintenance tick ([[maintainedIngest]]), which have already made
    * the policy decision.
    */
  private def retrainFrom(spark: SparkSession, root: String,
                          cur: IvfIndexStore, kNew: Int, iters: Int,
                          compactEvery: Option[Int]): IvfIndexStore = {
    val eff = cur.assigned.select(col("vid"), col("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    eff.count()
    val cents = Vectors.kmeansCentroids(eff, kNew, iters)
    val st = publishRebuild(spark, root, eff, cents, compactEvery)
    eff.unpersist()
    st
  }

  /** Publish a rebuild of the live effective view under a
    * CALLER-SUPPLIED centroid layout — the externally-trained path
    * (centroids fit offline on a sample, a specialised trainer, a
    * layout promoted from a staging root): same protocol as the
    * self-trained retrain minus the k-means passes — fresh
    * fingerprinted `v=N+1`, one bulk assign of the current effective
    * vectors, atomic marker flip; readers pinned to `v=N` keep their
    * snapshot. Cost: one state scan + one map-side broadcast assign +
    * one parquet write.
    */
  def relayout(spark: SparkSession, root: String, centroids: DataFrame,
               compactEvery: Option[Int] = None): IvfIndexStore = {
    val cur = openLive(spark, root, compactEvery)
    // one state scan: ingest runs two actions (dup-check + assign
    // write) — unpersisted, each would re-run the shadowing assembly
    val eff = cur.assigned.select(col("vid"), col("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    eff.count()
    val st = publishRebuild(spark, root, eff, centroids, compactEvery)
    eff.unpersist()
    st
  }

  /** The shared rebuild-and-publish tail of [[retrainFrom]] and
    * [[relayout]]: next version number (past any crash orphan), fresh
    * fingerprinted dir, bulk assign, atomic pointer flip.
    */
  private def publishRebuild(spark: SparkSession, root: String,
                             eff: DataFrame, cents: DataFrame,
                             compactEvery: Option[Int]): IvfIndexStore = {
    val r = new Path(root)
    val fs = StoreRoot.fsOf(spark, r)
    val (next, dir) = StoreRoot.claimNextVersion(fs, r)
    val st = open(spark, dir.toString, cents, compactEvery)
    st.ingest(eff)
    StoreRoot.flipPointer(fs, r, next)
    st
  }

  /** [[StoreRoot.gcSuperseded]] on this root — the retention sweep
    * serving reads defer to an explicit policy: keep the newest
    * `keepSuperseded` superseded versions for pinned readers, delete
    * the rest (each is a full-size rebuild copy). Returns the versions
    * deleted.
    */
  def vacuum(spark: SparkSession, root: String, keepSuperseded: Int): Seq[Int] = {
    val r = new Path(root)
    StoreRoot.gcSuperseded(StoreRoot.fsOf(spark, r), r, keepSuperseded)
  }

  /** THE MAINTENANCE TICK — ingest → health metric → conditional
    * lifecycle, composed as the one step a streaming job runs per
    * micro-batch over a pointer-managed root (the production shape the
    * r15 gates invoked manually): fold the batch into the LIVE
    * version, read the q_e14 imbalance off the updated effective view,
    * and when it crosses the policy fire the retrain rebuild
    * ([[retrainFrom]] — fresh fingerprinted `v=N+1`, atomic marker
    * flip). Serving never tears: the flip is one atomic marker create,
    * readers pinned to `v=N` keep their snapshot (directories are
    * never mutated, only superseded), and the next tick's `openLive`
    * lands on the new version. A kill between ticks resumes exactly —
    * every sub-step is the already-crash-safe store protocol (q_st28
    * gates the mid-stream flip + kill/resume end to end).
    *
    * Returns (live version after the tick, the imbalance if this tick
    * checked it — None on a cadence-skipped tick) — the stream's
    * observability hook: the version sequence IS the lifecycle
    * provenance.
    *
    * `checkEvery` amortizes the health check the way `compactEvery`
    * amortizes folds: the imbalance aggregate (one state-view pass)
    * runs only every `checkEvery`-th tick of the root's DURABLE tick
    * counter ([[StoreRoot.bumpTick]] — marker files beside the
    * pointer, so a kill/resume never resets the rhythm, and compaction
    * consuming batch numbers can never skew it: the r16 batch-number
    * derivation silently suppressed an even cadence forever whenever a
    * fold fired every tick). 1 (the default, and the gates' setting)
    * checks every tick; a skipped tick can never fire the lifecycle.
    *
    * Per-tick cost: the ingest's delta-bounded write, the imbalance
    * aggregate on checked ticks, and — only on a fired tick — the
    * k-means passes + one bulk assign. Nothing quadratic.
    */
  def maintainedIngest(spark: SparkSession, root: String, batch: DataFrame,
                       maxImbalance1e4: Long, kNew: Int, iters: Int,
                       compactEvery: Option[Int] = None,
                       checkEvery: Int = 1,
                       retainSuperseded: Option[Int] = None): (Int, Option[Long]) = {
    val cur = openLive(spark, root, compactEvery)
    var imb: Option[Long] = None
    val v = StoreRoot.maintainedTick(spark, root, checkEvery,
      retainSuperseded)(() => cur.ingest(batch)) { () =>
      val i = cur.imbalance1e4
      imb = Some(i)
      val fire = i > maxImbalance1e4
      if (fire) retrainFrom(spark, root, cur, kNew, iters, compactEvery)
      fire
    }
    (v, imb)
  }
}
