package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The pointer-managed versioned-root protocol SHARED by the durable
  * index stores ([[IvfIndexStore]]'s retrain lifecycle,
  * [[KeepBestIndexStore]]'s reband lifecycle) and the snapshot-versioned
  * table [[Versioned]]: immutable `v=N` store
  * directories under one root, a tiny pointer MARKER naming the live
  * one, and a create-marker publish (the `_COMMIT` rule — a crash
  * mid-publish leaves the previous version live, an orphaned
  * unpublished directory is rebuilt by the next lifecycle attempt and
  * never adopted). Readers get snapshot isolation at directory
  * granularity: a reader that resolved `v=N` keeps reading a
  * consistent, untouched index while a maintainer publishes `v=N+1`.
  *
  * PUBLISH IS ATOMIC BY CONSTRUCTION, not by rename: the pointer is a
  * zero-length marker file whose NAME carries the version
  * (`_latest.v=N`), created in one namespace operation — the exact
  * `_COMMIT` pattern the batch protocol already trusts. [[pointerOf]]
  * takes the max over one glob listing, so at every instant a
  * concurrent reader (or a crash-then-reopen) resolves either the
  * previous version or the new one — never a root with NO pointer.
  * (The earlier single-file delete-then-rename had exactly that
  * window, and Hadoop's overwriting `FileContext.rename` is itself
  * delete-then-rename on local/checksum filesystems — renames cannot
  * carry this contract portably; atomic creates can, on HDFS and on
  * object stores alike.) Every other marker is swept best-effort AFTER
  * the new one lands; lifecycle versions are monotone (`nextVersion` =
  * max + 1), so max-wins is exact even when a crash leaves two. The one
  * downward flip, `Versioned.rollback`, resolves the old live version
  * until its sweep removes the higher marker, and a retry completes it.
  */
private[graft] object StoreRoot {

  /** The numbers N of the `<prefix>N` entries directly under `root`,
    * ascending; empty when the root does not exist. The one listing of
    * the markers, the records and the `v=N` directories.
    */
  private def numbered(fs: FileSystem, root: Path, prefix: String): Seq[Int] = {
    val entry = (java.util.regex.Pattern.quote(prefix) + "(\\d+)").r
    Option(fs.globStatus(new Path(root, prefix + "*"))).toSeq.flatten
      .map(_.getPath.getName)
      .collect { case entry(n) => n.toInt }
      .sorted
  }

  /** A version dir's reference manifest (`v=N/_refs`): each line names
    * a batch directory of a PRIOR version (`v=K/b=M`) whose data this
    * version reads instead of copying — the reband lifecycle publishes
    * by reference, so a rebuild writes only its banding-dependent
    * artifact, never a corpus copy. The GC contract that makes this
    * safe lives in [[gcSuperseded]]: a referenced version is
    * load-bearing data of the referencing snapshot and is never
    * reclaimable while that snapshot is retained.
    */
  private[ops] val RefsFile = "_refs"
  private val RefLine = "v=(\\d+)/b=\\d+".r

  /** The `v=K/b=M` lines of a store directory's reference manifest
    * (empty when it has none — every pre-manifest store, and every
    * compacted version).
    */
  private[ops] def refLines(fs: FileSystem, dir: Path): Seq[String] = {
    val p = new Path(dir, RefsFile)
    if (!fs.exists(p)) Seq.empty
    else readText(fs, p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The versions `v`'s manifest references. */
  private[ops] def referencedVersions(fs: FileSystem, root: Path,
                                      v: Int): Set[Int] =
    refLines(fs, versionDir(root, v)).collect { case RefLine(k) => k.toInt }.toSet

  def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[ops] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Temp-write + rename for the tiny metadata files whose CONTENT is
    * a decision (`_tuned_rpb`, the `_certified` files, the params
    * fingerprint, `_refs`): a plain create can tear mid-write, and a
    * torn NUMERIC prefix (a lone '1' torn from '12') parses fine — a
    * restarted process would then run at a banding/width the floors
    * never certified, silently. The rename makes the content
    * all-or-nothing; the brief delete-before-rename gap only ever loses
    * the FILE, which every reader treats as "decide again" (safe),
    * never as a wrong value.
    */
  private[ops] def writeTextAtomic(fs: FileSystem, p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      sys.error(s"StoreRoot: atomic metadata publish failed for $p")
  }

  /** Hex SHA-256 of a canonical configuration rendering — the content
    * of a [[pinParams]] fingerprint.
    */
  private[graft] def sha256Hex(repr: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(repr.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Where a directory's configuration fingerprint lives. */
  private[ops] def paramsPath(dir: Path): Path = new Path(dir, "_params.sha256")

  /** THE CONFIGURATION PIN of a durable directory (a store version, a
    * staged pipeline run): its state was computed under one
    * configuration and algebra version, fingerprinted as `fp`. A
    * directory that already carries a fingerprint must match it —
    * resuming under another configuration would silently mix two
    * states — else the pin is written atomically ([[writeTextAtomic]]).
    * `beforeCreate` runs only on the writing branch, for state that
    * must land BEFORE the fingerprint (a crash between the two then
    * leaves a healable directory, never a fingerprint whose inputs are
    * unrecoverable from its hash).
    */
  private[graft] def pinParams(fs: FileSystem, dir: Path, fp: String,
                               refusal: => String,
                               beforeCreate: () => Unit = () => ()): Unit = {
    val p = paramsPath(dir)
    if (fs.exists(p)) require(readText(fs, p) == fp, refusal)
    else {
      beforeCreate()
      writeTextAtomic(fs, p, fp)
    }
  }

  // ---- The batch log: one store version's commit model ---------------

  private val BatchDir = "b=(\\d+)".r

  /** Open a store version directory's [[BatchLog]]: refuse a 1-cadence
    * fold, create the directory, return the (not yet pinned) log.
    */
  def openLog(spark: SparkSession, dir: String,
              compactEvery: Option[Int]): BatchLog = {
    require(compactEvery.forall(_ >= 2),
      s"compactEvery must be >= 2 (a 1-cadence would fold after every " +
        s"batch — the O(batches × state) shape this store exists to avoid), " +
        s"got $compactEvery")
    val log = new BatchLog(spark, new Path(dir), compactEvery)
    if (!log.fs.exists(log.root)) log.fs.mkdirs(log.root)
    log
  }

  /** One claimed, not yet committed batch directory `b=n`: the per-batch
    * frame writer. Every row a frame stores carries the batch number
    * `b` it was written in — the read-time shadowing rules of both
    * stores pivot on it.
    */
  final class Batch private[StoreRoot] (dir: Path, n: Int) {
    def put(name: String, df: DataFrame): Unit =
      df.withColumn("b", lit(n)).write.parquet(new Path(dir, name).toString)
  }

  /** THE BATCH LOG — the commit model beneath each version directory of
    * both durable index stores. A store version is a sequence of batch
    * directories `b=N`, each committed by a trailing `_COMMIT` marker
    * (the `_SUCCESS` pattern): a batch exists iff its marker does, so a
    * marker-less directory is a mid-write crash — invisible to every
    * read (frames are read by explicit committed paths, never a glob)
    * and reclaimed when the single writer next claims its number
    * ([[claimBatchDir]]; a reader never deletes). Writes go in one
    * order: claim `b=n`, write the frames, exclusive-create `_COMMIT`
    * ([[commitBatch]]).
    *
    * The committed set is a SNAPSHOT, pinned by [[refresh]] (the
    * stores pin it at open) and maintained by this instance's own
    * mutations — the single-writer contract makes the writer's view
    * authoritative. Every read serves the pinned state (snapshot
    * isolation at batch granularity, the promise the pointer root gives
    * across versions), and a long-lived PURE READER pays exactly ONE
    * LIST at open, not one per view assembly. Mutations list fresh at
    * the start of their tick, so a pinned snapshot never makes the
    * writer stale.
    */
  final class BatchLog private[StoreRoot] (spark: SparkSession, val root: Path,
                                           compactEvery: Option[Int]) {
    def fs: FileSystem = fsOf(spark, root)

    private var pinned: Option[Seq[Int]] = None

    /** LIST calls actually paid — observability for the one-LIST-per-
      * reader-open contract (the store specs count them).
      */
    private[graft] var listCalls: Long = 0L

    /** Re-pin the snapshot to the CURRENT on-disk state — a reader's
      * explicit "observe the writer's new commits" hook. One LIST.
      */
    def refresh(): Unit = pinned = Some(list())

    /** Committed batch numbers, ascending. */
    def committed: Seq[Int] = pinned.getOrElse(list())

    /** The latest committed batch number (None on an empty log) — the
      * store's logical version: append and fold both move it.
      */
    def last: Option[Int] = committed.lastOption

    def dir(n: Int): Path = new Path(root, s"b=$n")

    /** One stored frame's path in every committed batch. */
    def paths(name: String): Seq[String] =
      committed.map(n => new Path(dir(n), name).toString)

    /** The amortization cadence: a fold is due once `compactEvery`
      * committed batches have accumulated, so the shadowed history is
      * bounded at C deltas and total maintenance work is
      * O(batches × delta + state · batches/C), never O(batches × state).
      */
    def foldDue: Boolean = compactEvery.exists(committed.size >= _)

    /** One glob listing collects every marker — a single namenode/LIST
      * round trip, never a per-directory `exists` cascade.
      */
    private def list(): Seq[Int] = {
      listCalls += 1
      if (!fs.exists(root)) return Seq.empty
      Option(fs.globStatus(new Path(root, "b=*/_COMMIT"))).toSeq.flatten
        .map(_.getPath.getParent.getName)
        .collect { case BatchDir(n) => n.toInt }
        .sorted
    }

    private def commitNew(n: Int)(write: Batch => Unit): Unit = {
      val d = dir(n)
      claimBatchDir(fs, d)
      write(new Batch(d, n))
      commitBatch(fs, d)
    }

    /** APPEND one batch: ONE listing per tick pins `before`, the batch
      * claims the next number (above `after` too, when given — a
      * version that continues a prior version's numbering), `write`
      * fills it, the marker commits it, and the pin becomes
      * `before :+ n`. While `write` runs, reads still serve `before`:
      * the new batch is not in the committed set, so a frame derived
      * from the committed view never sees the batch being written.
      */
    def append(after: Option[Int] = None)(write: Batch => Unit): Unit = {
      val before = list()
      pinned = Some(before)
      val n = (before.lastOption ++ after).foldLeft(-1)(math.max) + 1
      commitNew(n)(write)
      pinned = Some(before :+ n)
    }

    /** FOLD the committed view into one fresh batch `b=last+1` and drop
      * the older batches — space reclamation, not semantics. `write`
      * runs against the pinned committed set; once the fold's marker
      * lands every older row is shadowed by the read-time rule (every
      * key was re-delivered at the fold batch), so a crash during the
      * trailing deletes leaves a larger-but-correct store that a later
      * fold reclaims. The caller runs its own tail step after.
      */
    def fold(write: Batch => Unit): Unit = {
      val bs = committed
      val n = bs.last + 1
      commitNew(n)(write)
      bs.foreach(o => fs.delete(dir(o), true))
      pinned = Some(Seq(n))
    }
  }

  /** The pre-marker protocol's single `_latest` FILE (content = the
    * version number) — readable forever: a root last published by the
    * old protocol must resolve to its real live version, not to None
    * (which would steer the operator to createLive and silently roll
    * serving back to v=0). The first marker-based [[flipPointer]]
    * migrates and retires it.
    */
  private def legacyPointer(fs: FileSystem, root: Path): Option[Int] = {
    val legacy = new Path(root, "_latest")
    if (!fs.exists(legacy) || !fs.getFileStatus(legacy).isFile) None
    else scala.util.Try(readText(fs, legacy).trim.toInt).toOption
  }

  private def markers(fs: FileSystem, root: Path): Seq[Int] =
    numbered(fs, root, "_latest.v=")

  /** The live version: max over the pointer markers, one glob listing;
    * a marker-less root falls back to the legacy single-file pointer.
    */
  def pointerOf(fs: FileSystem, root: Path): Option[Int] = {
    val ms = markers(fs, root)
    if (ms.nonEmpty) Some(ms.max) else legacyPointer(fs, root)
  }

  /** Every `v=N` directory under `root` (published or orphaned),
    * ascending; empty when the root does not exist.
    */
  private[ops] def versionDirs(fs: FileSystem, root: Path): Seq[Int] =
    numbered(fs, root, "v=")

  /** The permanent publish record of version `v`, `_published.v=N`. */
  private def publishRecord(root: Path, v: Long): Path =
    new Path(root, s"_published.v=$v")

  private def publishedVersions(fs: FileSystem, root: Path): Set[Int] =
    numbered(fs, root, "_published.v=").toSet

  /** The retirement record of version `v`, `_retired.v=N`: a downward
    * flip left `v` above the live pointer after it had served. */
  private def retiredRecord(root: Path, v: Int): Path =
    new Path(root, s"_retired.v=$v")

  private def retiredVersions(fs: FileSystem, root: Path): Set[Int] =
    numbered(fs, root, "_retired.v=").toSet

  /** The legacy-root rule: on a root still on the single-file pointer,
    * every directory at or below the legacy live version counts as
    * published (those versions predate the records). Dirs below a
    * legacy live COULD be crash orphans, but that is unknowable post
    * hoc; counting them all errs toward OVER-retention, the protocol's
    * stated failure direction.
    */
  private def legacyPublished(fs: FileSystem, root: Path): Long => Boolean = {
    val lv = legacyPointer(fs, root)
    n => lv.exists(n <= _)
  }

  /** Whether `v` may be published again (a rollback target): its
    * directory exists and carries a publish record or falls under the
    * legacy-root rule. A directory a crashed write left half-written
    * has neither.
    */
  private[ops] def wasPublished(fs: FileSystem, root: Path, v: Long): Boolean =
    fs.exists(versionDir(root, v)) &&
      (fs.exists(publishRecord(root, v)) || legacyPublished(fs, root)(v))

  /** HEAL CRASHED FLIPS — delete every publish record ABOVE the live
    * pointer that carries no retirement record (except `publishing`,
    * the version a flip is about to publish) and return the healed
    * versions, ascending. Such a record is a flip that crashed between
    * its `_published` create and its `_latest` create: that version
    * never served, so letting the record stand would make
    * [[gcSuperseded]] count a never-live orphan toward the retention
    * budget, displacing a real snapshot a reader could actually be
    * pinned to (UNDER-retention).
    *
    * An upward flip sweeps a marker only once a newer one exists, and a
    * downward flip (a `Versioned` rollback; the stores never flip down)
    * writes a `_retired.v=N` record for every published version above
    * its target before its marker lands. So every M that ever had a
    * marker is at or below live or carries a retirement record, and
    * "unretired record above live" is exactly the crashed flips. Runs
    * first in every [[flipPointer]], and as `Versioned.recover`. Healed
    * versions become orphans that [[gcSuperseded]] reclaims once live
    * is above them.
    */
  private[ops] def healCrashedFlips(fs: FileSystem, root: Path,
                                    publishing: Option[Int] = None): Seq[Int] = {
    val live = pointerOf(fs, root).getOrElse(-1)
    val healed = (publishedVersions(fs, root) -- retiredVersions(fs, root)).toSeq
      .filter(n => n > live && !publishing.contains(n)).sorted
    healed.foreach(n => fs.delete(publishRecord(root, n), false))
    healed
  }

  /** Atomic pointer publish — ONE marker create, then a best-effort
    * sweep of every other marker (a crash mid-sweep leaves extras;
    * max-wins keeps the answer exact and the next publish re-sweeps).
    * The same flip moves the pointer DOWN (a `Versioned` rollback):
    * until the sweep deletes the higher marker the old live version
    * stands, and a retried flip completes the move. The sweep goes in
    * ascending order, so the old live marker — the max — goes last and
    * no stale marker between `v` and it is ever resolved as live. The
    * versions a downward flip leaves above live keep their publish
    * records (they stay rollback targets, and count toward retention
    * once a later write moves live above them): each gets a retirement
    * record, which [[healCrashedFlips]] skips, before the marker lands.
    */
  def flipPointer(fs: FileSystem, root: Path, v: Int): Unit = {
    healCrashedFlips(fs, root, Some(v))
    // legacy-protocol versions were genuinely published but predate
    // the records — record every dir the legacy-root rule counts before
    // they go below the new live, or [[gcSuperseded]] would treat them
    // as unconditional orphans and under-retain
    val legacy = legacyPublished(fs, root)
    versionDirs(fs, root).filter(n => legacy(n) && n != v)
      .foreach(n => fs.create(publishRecord(root, n), true).close())
    publishedVersions(fs, root).filter(_ > v)
      .foreach(n => fs.create(retiredRecord(root, n), true).close())
    // a PERMANENT publish record first (never swept while its dir
    // lives): [[gcSuperseded]] uses it to tell genuinely superseded
    // snapshots — the only dirs a reader can be pinned to — from crash
    // orphans, so orphans can never consume retention slots. Marker
    // before pointer: a crash between the two leaves a published-
    // looking orphan which the NEXT flip's heal deletes; the reverse
    // order would under-retain a real snapshot.
    fs.create(publishRecord(root, v), true).close()
    fs.create(new Path(root, s"_latest.v=$v"), true).close()
    markers(fs, root).filter(_ != v).sorted
      .foreach(n => fs.delete(new Path(root, s"_latest.v=$n"), false))
    // retire the legacy single-file pointer AFTER the markers landed —
    // max-wins already ignores it, this is just migration hygiene
    fs.delete(new Path(root, "_latest"), false)
  }

  def liveVersion(spark: SparkSession, root: String): Option[Int] = {
    val r = new Path(root)
    val fs = fsOf(spark, r)
    if (!fs.exists(r)) None else pointerOf(fs, r)
  }

  /** The next version number: max existing `v=N` (published or
    * orphaned) + 1 — orphans are overwritten-by-number only when a
    * later attempt lands on the same number after a crash, never
    * adopted as live.
    */
  def nextVersion(fs: FileSystem, root: Path): Int =
    versionDirs(fs, root).lastOption.getOrElse(-1) + 1

  def versionDir(root: Path, v: Long): Path = new Path(root, s"v=$v")

  /** Claim a batch directory for writing — the front half of the
    * batch protocol's concurrent-writer trip-wire. The stores are
    * SINGLE-WRITER by contract; these guards turn an accidental
    * violation (two maintenance jobs pointed at one root — a real ops
    * event at fleet scale) from silent corruption into a loud failure:
    * a directory already carrying `_COMMIT` here means another writer
    * committed this batch number between our listing and now — the old
    * unconditional delete would have DESTROYED COMMITTED DATA in that
    * race. A commit-less directory is a crashed prior attempt (or, in
    * a narrow simultaneous-write window the trip-wire cannot close
    * without unique data paths, an in-flight concurrent writer) and is
    * reclaimed as before.
    */
  def claimBatchDir(fs: FileSystem, bdir: Path): Unit = {
    if (fs.exists(new Path(bdir, "_COMMIT")))
      throw new java.util.ConcurrentModificationException(
        s"$bdir was committed by ANOTHER WRITER between this writer's " +
          "listing and its claim — the store is single-writer by contract; " +
          "stop one of the jobs sharing this root")
    if (fs.exists(bdir)) fs.delete(bdir, true) // crashed prior attempt
  }

  /** The back half of the trip-wire: publish a claimed batch with an
    * EXCLUSIVE marker create (overwrite = false — the atomic primitive
    * the pointer markers already trust). [[claimBatchDir]] removed any
    * stale marker, so an existing one here was raced in by a
    * concurrent writer; the loser aborts loudly and must NOT touch the
    * directory (it now holds the winner's committed state).
    */
  def commitBatch(fs: FileSystem, bdir: Path): Unit =
    try fs.create(new Path(bdir, "_COMMIT"), false).close()
    catch {
      // exactly the already-exists signal — a transient I/O failure
      // (quota, safe-mode, network) must surface as itself, not send
      // the operator hunting for a nonexistent second job
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"$bdir was committed by ANOTHER WRITER while this writer was " +
            "filling it — the store is single-writer by contract; stop one " +
            s"of the jobs sharing this root").initCause(e)
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"$bdir was committed by ANOTHER WRITER while this writer was " +
            "filling it — the store is single-writer by contract; stop one " +
            s"of the jobs sharing this root").initCause(e)
    }

  /** RETENTION SWEEP — the protocol's VACUUM analogue: delete version
    * directories the live pointer has SUPERSEDED, keeping the newest
    * `keepSuperseded` of them for still-pinned readers (the explicit
    * cleanup [[flipPointer]]'s snapshot isolation defers — superseded
    * versions are full-size rebuild copies, so an unswept root grows
    * by one corpus per lifecycle event forever). Deliberately NOT part
    * of publish: retention is a POLICY (how long a pinned reader may
    * hold a superseded snapshot), so it runs only when the maintainer
    * states one — a reader pinned below the horizon loses its
    * directory, exactly the snapshot-retention contract.
    *
    * Scope is exact, not best-effort: the live version is never
    * touched, nor is anything ABOVE it (an in-flight publish under the
    * single-writer contract), nor the pointer markers. The retention
    * budget counts only GENUINELY PUBLISHED versions (the permanent
    * `_published.v=N` record [[flipPointer]] leaves) — the only dirs a
    * reader can be pinned to; crash-orphaned unpublished dirs below
    * live are junk no reader ever resolved, deleted unconditionally so
    * they can never displace a real snapshot from the budget. An
    * unpublished root (no pointer) is a no-op: its dirs belong to an
    * in-flight first publish. Idempotent; returns the versions
    * actually deleted.
    */
  def gcSuperseded(fs: FileSystem, root: Path, keepSuperseded: Int): Seq[Int] = {
    require(keepSuperseded >= 0,
      s"gcSuperseded: keepSuperseded must be >= 0, got $keepSuperseded")
    pointerOf(fs, root) match {
      case None => Seq.empty
      case Some(live) =>
        val allDirs = versionDirs(fs, root)
        val (superseded, orphans) =
          allDirs.filter(_ < live).partition(publishedVersions(fs, root))
        var doomed = (orphans ++ superseded.dropRight(keepSuperseded)).toSet
        // MANIFEST-AWARE: a version referenced by any SURVIVING version
        // (live, above-live in-flight, retained — or itself rescued by
        // this rule) holds that snapshot's per-id data; deleting it
        // would break a version the sweep promised to keep. Rescue
        // transitively until a fixpoint; the budget deliberately does
        // NOT re-expand (rescued versions err toward over-retention,
        // the protocol's stated failure direction). They become
        // reclaimable the moment the referencing version compacts
        // (folding retires its manifest) or is itself swept.
        var kept = allDirs.toSet -- doomed
        var rescued = kept.flatMap(referencedVersions(fs, root, _)) & doomed
        while (rescued.nonEmpty) {
          doomed --= rescued
          kept ++= rescued
          rescued = rescued.flatMap(referencedVersions(fs, root, _)) & doomed
        }
        val order = doomed.toSeq.sorted
        order.foreach { v =>
          fs.delete(versionDir(root, v), true)
          fs.delete(publishRecord(root, v), false)
          fs.delete(retiredRecord(root, v), false)
        }
        order
    }
  }

  /** The durable maintenance-tick count: max over the `_tick.n=N`
    * markers (zero on a fresh root) — the SAME max-wins marker algebra
    * as the pointer. The counter exists because the r16 cadence was
    * derived from the latest committed BATCH number, and compaction
    * also consumes batch numbers: with `compactEvery` set so a fold
    * fires every tick, the batch number advances by two per tick and
    * keeps one parity forever, so an even `checkEvery` was NEVER hit —
    * the health check (and with it the whole retrain/reband lifecycle)
    * was permanently and silently suppressed. Ticks count MAINTENANCE
    * CALLS, which nothing else advances.
    */
  def tickCount(fs: FileSystem, root: Path): Int =
    numbered(fs, root, "_tick.n=").lastOption.getOrElse(0)

  /** Durably advance the tick counter by one: create the next marker,
    * then best-effort sweep the older ones (max-wins absorbs a crash
    * mid-sweep). A kill between a tick's ingest commit and this bump
    * re-delivers the batch under at-least-once, so the counter drifts
    * by at most the crash count — it never RESETS, which is the
    * property the cadence needs (an in-memory counter restarts at 0
    * and can skew the rhythm arbitrarily).
    */
  def bumpTick(fs: FileSystem, root: Path): Int = {
    val t = tickCount(fs, root) + 1
    fs.create(new Path(root, s"_tick.n=$t"), true).close()
    numbered(fs, root, "_tick.n=").filter(_ < t)
      .foreach(n => fs.delete(new Path(root, s"_tick.n=$n"), false))
    t
  }

  /** THE SHARED MAINTENANCE-TICK DRIVER — the one contract both
    * stores' `maintainedIngest` twins instantiate (ingest → durable
    * cadence check → health/lifecycle thunk → retention-rides-the-flip
    * → pointer-loss error), extracted so the invariants are pinned
    * ONCE for any future store:
    *
    *  - `ingest` folds the batch into the live version (the store's
    *    own crash-safe batch protocol).
    *  - the tick counter then advances DURABLY ([[bumpTick]] — marker
    *    create, kill/resume-safe, and immune to compaction consuming
    *    batch numbers), and the health check runs only when the count
    *    is a multiple of `checkEvery` — a skipped tick can never fire
    *    the lifecycle.
    *  - `checkAndMaybeFire` reads the store's health metric and fires
    *    its lifecycle rebuild when policy says so, returning whether it
    *    fired; a fired tick is the only event that creates a
    *    superseded version, so the retention sweep runs exactly then.
    *
    * Returns the live version after the tick, erroring loudly if the
    * root lost its pointer mid-tick.
    */
  def maintainedTick(spark: SparkSession, root: String, checkEvery: Int,
                     retainSuperseded: Option[Int])(ingest: () => Unit)(
                     checkAndMaybeFire: () => Boolean): Int = {
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    val r = new Path(root)
    val fs = fsOf(spark, r)
    ingest()
    val t = bumpTick(fs, r)
    if (t % checkEvery == 0 && checkAndMaybeFire())
      retainSuperseded.foreach(keep => gcSuperseded(fs, r, keep))
    liveVersion(spark, root).getOrElse(
      sys.error(s"maintainedIngest: $root lost its pointer mid-tick"))
  }

  /** The createLive guard: refuse to mint `v=0` over a root that
    * already has history. A resolvable pointer (marker OR legacy
    * single-file) refuses toward openLive; version directories with NO
    * resolvable pointer refuse too — re-creating would adopt `v=0` and
    * silently roll serving back from whatever version the lost pointer
    * named. The one exception is a root whose ONLY version directory
    * is `v=0` itself: that is a first publish that crashed before its
    * flip, and re-running createLive is exactly its recovery.
    */
  def requireCreatable(fs: FileSystem, root: Path, who: String): Unit = {
    require(pointerOf(fs, root).isEmpty,
      s"$who: $root already has a live version — open it with openLive " +
        "(or run its lifecycle) instead of re-creating")
    val vs = versionDirs(fs, root)
    require(vs.forall(_ == 0),
      s"$who: $root holds version directories " +
        s"(${vs.map(v => s"v=$v").mkString(", ")}) but NO resolvable " +
        "pointer — re-creating would adopt v=0 and silently roll serving " +
        "back from whatever version the lost pointer named; restore the " +
        "pointer marker (or clear the root) instead")
  }

  /** Claim a lifecycle version directory for building — the version-
    * level analogue of [[claimBatchDir]]. In single-writer operation
    * this branch is unreachable: [[nextVersion]] counts past every
    * existing dir (crash orphans included), so a dir already at the
    * chosen number can only mean ANOTHER MAINTAINER's in-flight or
    * just-published rebuild — the old unconditional delete destroyed
    * it silently (a pointer-referenced live version, if the other
    * maintainer had already flipped). Refuse loudly instead.
    */
  def claimVersionDir(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir))
      throw new java.util.ConcurrentModificationException(
        s"$dir appeared between this maintainer's version listing and its " +
          "build — versions are claimed by directory creation and " +
          "nextVersion counts past crash orphans, so an existing directory " +
          "here is another maintainer's rebuild; the lifecycle is " +
          "single-maintainer by contract — stop one of the jobs sharing " +
          "this root")

  /** Claim the next lifecycle version by creating its directory —
    * [[nextVersion]] then [[claimVersionDir]]. Everything built in it
    * stays invisible until [[flipPointer]] publishes the number.
    */
  def claimNextVersion(fs: FileSystem, root: Path): (Int, Path) = {
    val v = nextVersion(fs, root)
    val dir = versionDir(root, v)
    claimVersionDir(fs, dir)
    fs.mkdirs(dir)
    (v, dir)
  }

  /** Create version 0 of a pointer root: `open` builds the store in
    * `v=0` (after the [[requireCreatable]] guard), then the pointer
    * flips to it.
    */
  def createLive[S](spark: SparkSession, root: String, who: String)(
                    open: String => S): S = {
    val r = new Path(root)
    val fs = fsOf(spark, r)
    if (!fs.exists(r)) fs.mkdirs(r)
    requireCreatable(fs, r, who)
    val st = open(versionDir(r, 0).toString)
    flipPointer(fs, r, 0)
    st
  }

  /** Open whatever version the pointer currently names — snapshot
    * isolation at directory granularity: a reader that resolved `v=N`
    * keeps reading a consistent, untouched store while a maintainer
    * publishes `v=N+1` (old versions are never deleted here; they stay
    * readable until a retention sweep).
    */
  def openLive[S](spark: SparkSession, root: String, who: String)(
                  open: String => S): S = {
    val v = liveVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$who: $root has no published version — createLive it first"))
    open(versionDir(new Path(root), v).toString)
  }
}
