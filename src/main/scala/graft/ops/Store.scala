package graft.ops

import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** Partitioned-Parquet storage with UPSERT semantics (SURVEY.md §1.3,
  * §2.1 S2–S4) — the reference's `INSERT OR REPLACE` keyed on
  * (date, symbol) re-expressed for an immutable columnar store.
  *
  * Design (SURVEY §7.4.1):
  *  - data lives partitioned by a coarse time column; an upsert batch
  *    rewrites ONLY the partitions it touches (dynamic partition
  *    overwrite), merging old+new and keeping the latest row per key —
  *    a 20-day re-probe rewrites 20 partitions, never the archive;
  *  - dedup-on-read (`latestByKey`) gives exactly-one-row-per-key views
  *    even if a writer crashed between attempts (idempotent re-runs);
  *  - the summary table is a derived aggregate refreshed after ingest
  *    (the reference's materialized view, availability_db.py:232-242).
  */
object Store {

  /** A second writer (or a `recover`) tried to enter a two-phase
    * mutation while another writer's lease is live. `holder` is the
    * contents of the lease file (pid@host/uuid), `ageMs` its age.
    */
  final case class LeaseHeld(path: String, holder: String, ageMs: Long)
    extends RuntimeException(
      s"single-writer lease on $path is held by $holder (${ageMs} ms old); " +
        "retry after it is released, or after the TTL if the holder is dead")

  /** Liveness TTL for [[withLease]]: a lease whose file has not been
    * heartbeat-touched for this long belongs to a dead writer and may
    * be broken. Live writers heartbeat at TTL/3, so only a crash (or a
    * full-GC pause longer than the TTL) lets a lease go stale.
    */
  val DefaultLeaseTtlMs: Long = 30L * 60 * 1000

  /** TEST-ONLY injection point: runs after a breaker has claimed the
    * break-intent marker and before its under-marker re-verify — the
    * window the StoreSpec resumed-zombie sim interposes on to prove
    * the owner-byte re-check yields instead of deleting a successor's
    * fresh lease. No-op in production.
    */
  private[graft] var breakRaceHook: () => Unit = () => ()

  /** SINGLE-WRITER LEASE for the two-phase mutations. The swap/publish
    * protocols of [[compact]], [[upsert]], [[purgeKeys]] and
    * [[recover]] are each crash-safe in isolation, but none are safe
    * against a CONCURRENT writer: a `recover` racing a live `compact`
    * reads its half-built `.compacting` dir as a stranded one and
    * deletes the in-flight rewrite. All two-phase entry points
    * therefore acquire this lease — a `<table>.lease` sibling file
    * created atomically (create-if-absent), heartbeat-touched at
    * TTL/3 by a daemon thread while the operation runs, deleted on
    * exit (success or failure). A lease older than `ttlMs` is a dead
    * writer's and is broken; a younger one raises [[LeaseHeld]].
    *
    * NOT reentrant: the public ops acquire internally — never wrap
    * them in your own `withLease` on the same path. The reference
    * inherits this guarantee from its embedded database's file lock
    * (availability_db.py's single connection); an immutable-store
    * engine has to state it explicitly.
    *
    * Liveness assumptions, stated plainly:
    *  - a STALE lease is broken under a BREAK-INTENT MARKER
    *    (`<table>.lease.breaking`, claimed with the same atomic
    *    create-if-absent as the lease itself), and the breaker
    *    RE-VERIFIES staleness while holding the marker before
    *    deleting. The marker serializes contenders — of N observing
    *    the same stale lease at most one may act on that judgment —
    *    and the re-verify turns the judgment race into a back-off: a
    *    contender whose staleness read predates another's fresh claim
    *    sees the fresh mtime under the marker and yields. (A plain
    *    judged-stale-then-delete would let contender B remove
    *    contender A's freshly created lease — the two-live-writers
    *    hole; the StoreSpec six-contender race sim locks this.) The
    *    re-verify checks the OWNER BYTES as well as the mtime: the
    *    marker gates breakers only — a first-attempt claimer never
    *    consults it — so a stale holder resuming, releasing, and a
    *    fresh claim landing between the judgment and the delete would
    *    leave a DIFFERENT writer's lease under the same path; the
    *    breaker deletes only if the bytes still match its stale
    *    snapshot, else yields (the StoreSpec resumed-zombie sim locks
    *    this). A crashed breaker's marker is itself TTL-reaped.
    *  - the break is still UNFENCED against a holder paused PAST the
    *    TTL (a multi-minute GC / suspended VM) that later resumes: the
    *    TTL must exceed any plausible pause, which the 30-min default
    *    does by orders of magnitude. As defense in depth, the
    *    two-phase publish points re-read the lease's owner bytes
    *    immediately before their irreversible step
    *    ([[assertLeaseOwner]]) — a resumed zombie fails there instead
    *    of clobbering the new owner's in-flight rewrite.
    */
  def withLease[T](spark: SparkSession, path: String,
                   ttlMs: Long = DefaultLeaseTtlMs)(body: => T): T = {
    val lease = new Path(path + ".lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val owner = java.lang.ProcessHandle.current().pid().toString + "@" +
      java.net.InetAddress.getLocalHost.getHostName + "/" +
      java.util.UUID.randomUUID().toString
    // Atomic create-if-absent claim. On HDFS, create(overwrite = false)
    // is the atomic primitive (exactly one concurrent creator wins).
    // Hadoop's LOCAL filesystem however implements it as a non-atomic
    // exists-then-create (the StoreSpec six-contender race sim catches
    // it double-admitting under load), so on file:// the claim goes
    // through POSIX O_EXCL (Files.write CREATE_NEW), atomic at the
    // kernel.
    def claimFile(p: Path): Boolean =
      try {
        if (fs.getScheme == "file") {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p.toUri.getPath),
            owner.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
        } else {
          val out = fs.create(p, false)
          try out.write(owner.getBytes("UTF-8")) finally out.close()
        }
        true
      } catch { case _: java.io.IOException => false }
    def tryClaim(): Boolean = claimFile(lease)
    // age of a lease/marker file; None = absent (holder just released)
    def ageOf(p: Path): Option[Long] =
      try Some(System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    def rmQuiet(p: Path): Unit =
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    def readOwner(p: Path): Option[String] =
      try {
        val in = fs.open(p)
        Some(try new String(in.readAllBytes(), "UTF-8") finally in.close())
      } catch { case _: Exception => None }
    def throwHeld(): Nothing = {
      val (h, age) =
        try {
          val a = System.currentTimeMillis() - fs.getFileStatus(lease).getModificationTime
          val in = fs.open(lease)
          val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          (s, a)
        } catch { case _: Exception => ("<unreadable>", -1L) }
      throw LeaseHeld(path, h, age)
    }
    if (!tryClaim()) {
      ageOf(lease) match {
        case None =>
          // holder just released between our create and stat: claim or
          // lose to whoever got there first
          if (!tryClaim()) throwHeld()
        case Some(age) if age <= ttlMs => throwHeld() // live holder
        case _ =>
          // STALE. Snapshot WHOSE lease we judged stale (the owner
          // bytes), serialize the break through the intent marker, and
          // RE-VERIFY under it: our staleness judgment may predate
          // another contender's completed break + fresh claim, and
          // acting on a stale judgment is exactly the two-live-writers
          // hole. A crashed breaker's marker is TTL-reaped first.
          val staleOwner = readOwner(lease)
          val marker = new Path(path + ".lease.breaking")
          if (ageOf(marker).exists(_ > ttlMs)) rmQuiet(marker)
          if (!claimFile(marker)) throwHeld() // another breaker is active
          try {
            breakRaceHook()
            ageOf(lease) match {
              case Some(a) if a <= ttlMs => throwHeld() // fresh: lost the race
              case Some(_) =>
                // Still stale by mtime — but delete only the EXACT
                // lease we judged stale: mtime alone cannot tell a
                // stale holder from a successor that slipped in through
                // a resume-and-release + fresh-claim interleaving (the
                // marker gates BREAKERS; first-attempt claimers never
                // consult it). If the owner bytes READ and moved on
                // from our snapshot, the file under this path is no
                // longer the lease our judgment was about — yield.
                // UNREADABLE bytes on either read do NOT yield: a
                // successor's healthy lease is heartbeat-fresh and was
                // already caught by the mtime branch above, so a
                // stale-mtime file whose bytes cannot be read is a
                // dead writer's residue, and yielding on it forever
                // would wedge the store behind an unbreakable lease
                // (the mtime judgment — the pre-fence contract — is
                // the correct fallback). The byte re-read narrows the
                // delete race to the microseconds between this read
                // and rmQuiet; the irreversible publish steps are
                // separately fenced by [[assertLeaseOwner]].
                val cur = readOwner(lease)
                if (staleOwner.isDefined && cur.isDefined && cur != staleOwner)
                  throwHeld()
                rmQuiet(lease)
                if (!tryClaim()) throwHeld() // a first-attempt claimer won the gap
              case None =>
                // vanished: holder released on its own — nothing to
                // break, just race for the empty slot
                if (!tryClaim()) throwHeld()
            }
          } finally rmQuiet(marker)
      }
    }
    val beat = new Thread(() => {
      // The catch sits INSIDE the loop: one transient filesystem hiccup
      // (or an FS that rejects setTimes) must not silently end the
      // heartbeat and let a LIVE long-running writer go stale mid-run.
      // Only interruption — the release path — exits.
      var running = true
      while (running && !Thread.interrupted()) {
        try {
          Thread.sleep(math.max(1L, ttlMs / 3))
          fs.setTimes(lease, System.currentTimeMillis(), -1)
        } catch {
          case _: InterruptedException => running = false
          case _: Exception => () // transient/unsupported setTimes: keep beating
        }
      }
    }, s"graft-lease-heartbeat-$path")
    beat.setDaemon(true)
    beat.start()
    heldLeases.set(heldLeases.get() + (path -> owner))
    try body
    finally {
      heldLeases.set(heldLeases.get() - path)
      beat.interrupt()
      // Release only OUR lease: a zombie holder whose lease a new owner
      // broke and re-claimed must not delete the NEW owner's file on
      // its way out (the same asymmetry as the publish fence).
      try {
        val current =
          try {
            val in = fs.open(lease)
            try new String(in.readAllBytes(), "UTF-8") finally in.close()
          } catch { case _: Exception => "" }
        if (current == owner) fs.delete(lease, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** (path → owner string) of leases held by withLease frames on THIS
    * thread — the bookkeeping behind [[assertLeaseOwner]].
    */
  private val heldLeases = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Defense-in-depth fencing check, called by the two-phase mutations
    * IMMEDIATELY before their irreversible publish step (the partition
    * overwrite, the compaction swap rename): re-read the lease file and
    * verify it still carries THIS writer's owner bytes. A writer paused
    * past the TTL (long GC, suspended VM) whose lease was broken by a
    * new owner fails HERE — before clobbering the new owner's in-flight
    * state — instead of publishing as a zombie. No-op when the calling
    * thread holds no [[withLease]] frame for `path` (the unlocked
    * internal paths).
    */
  def assertLeaseOwner(spark: SparkSession, path: String): Unit =
    heldLeases.get().get(path).foreach { owner =>
      val lease = new Path(path + ".lease")
      val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val current =
        try {
          val in = fs.open(lease)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: Exception => "<missing>" }
      if (current != owner)
        throw LeaseHeld(path, current, 0L)
    }

  /** Latest row per key by `tsCol` (row_number = 1), with a total
    * tie-break column so re-runs are deterministic.
    * Reference upsert semantics: availability_db.py:97,162.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Initial load: write partitioned by `partCol`. */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** UPSERT a batch: merge with the existing rows of ONLY the touched
    * partitions, keep the newest row per key, and dynamically overwrite
    * just those partitions. All other partitions are untouched on disk.
    *
    * The batch is evaluated exactly once: it is checkpointed eagerly (a
    * probe batch is a lazy `mapPartitions` over the prober, and every
    * re-evaluation would probe every cell again), and its distinct
    * partition values are taken from the checkpoint in one job. They are
    * read back as a static partition predicate (`isin`, plus `IS NULL`
    * when the batch carries a NULL value, Spark's
    * `__HIVE_DEFAULT_PARTITION__`), so the scan lists and reads only the
    * touched partitions: cost scales with the re-probe window, not the
    * table, and a batch of brand-new partitions reads no existing file.
    * The same values scope the manifest refresh.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             partCol: String, keys: Seq[String], tsCol: String,
             tieBreak: String, statsCols: Seq[String] = Nil): Unit =
      withLease(spark, path) { Concurrent.labeled(spark, "store:upsert") {
    val overwriteModeKey = "spark.sql.sources.partitionOverwriteMode"
    val savedMode = spark.conf.getOption(overwriteModeKey)
    spark.conf.set(overwriteModeKey, "dynamic")
    try {
      val existing = spark.read.parquet(path)
      val batch = updates.select(existing.columns.toIndexedSeq.map(col): _*)
        .localCheckpoint(eager = true)
      val touched = batch.select(col(partCol)).rdd
        .mapPartitions(_.map(r => if (r.isNullAt(0)) null else r.get(0)).toSet.iterator)
        .collect().distinct.toIndexedSeq
      // Literals, not a semi-join with the batch: the join's build side
      // has no selective filter, so dynamic partition pruning never fires
      // and every partition would be scanned.
      val affected = existing.filter(col(partCol).isin(touched.filter(_ != null): _*) ||
        (if (touched.contains(null)) col(partCol).isNull else lit(false)))
      val merged = latestByKey(affected.unionByName(batch), keys, tsCol, tieBreak)
      // Lineage cut BEFORE the overwrite: without it the write job both
      // reads and deletes the same partitions, and a mid-commit failure
      // destroys the only copy of the touched data. The merged batch is
      // bounded by the re-probe window, so materializing it is cheap
      // relative to the archive. (Same pattern as refreshRankingsArchive.)
      val staged = merged.localCheckpoint(eager = true)
      assertLeaseOwner(spark, path) // fence: zombie writers stop BEFORE the overwrite
      staged.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
      // Data-skipping manifest rides the upsert: stats recomputed for
      // the touched partitions only (batch-proportional, like the
      // upsert itself).
      if (statsCols.nonEmpty)
        refreshManifestIncremental(spark, path, partCol, touched, statsCols)
    } finally {
      savedMode match {
        case Some(m) => spark.conf.set(overwriteModeKey, m)
        case None    => spark.conf.unset(overwriteModeKey)
      }
    }
  }} // labeled, withLease

  /** PURGE keys (right-to-be-forgotten / takedown propagation): delete
    * every row whose key tuple appears in `purge`, rewriting ONLY the
    * partitions that actually contain those keys — the deletion twin of
    * [[upsert]], with the same dynamic-partition-overwrite + eager
    * lineage cut crash-safety. The purge list broadcasts twice: once to
    * find affected partitions (semi-join on the partition values the
    * purge rows land in — computed FROM the store, since the caller
    * only knows keys, not partitions), once to anti-join the survivors.
    * Cost scales with affected partitions, not table size; at 100 TB a
    * takedown of a handful of documents rewrites a handful of
    * partition directories. Returns the number of rows deleted.
    *
    * Crash-safety contract: the purge is TWO non-atomic steps (dynamic
    * overwrite of surviving partitions, then explicit deletion of
    * fully-emptied partition dirs). A crash between them leaves the
    * old files of fully-purged partitions readable — re-running the
    * SAME purge list is idempotent and completes the deletion, so a
    * failed purge MUST be retried with the same list to reach the
    * advertised state. With `verify = true` (default) the call
    * re-checks after the deletes that no purge-key row survives
    * anywhere in the store (a key-columns-only scan) and throws if the
    * retention guarantee was not reached.
    */
  def purgeKeys(spark: SparkSession, path: String, purge: DataFrame,
                partCol: String, keys: Seq[String],
                verify: Boolean = true): Long =
      withLease(spark, path) {
    val overwriteModeKey = "spark.sql.sources.partitionOverwriteMode"
    val savedMode = spark.conf.getOption(overwriteModeKey)
    spark.conf.set(overwriteModeKey, "dynamic")
    try {
      val existing = spark.read.parquet(path)
      val purgeKeysOnly = purge.select(keys.map(col): _*).distinct()
      // Which partitions hold doomed rows? Derived from the store — the
      // caller's purge list has no partition column.
      val touchedParts = existing
        .join(broadcast(purgeKeysOnly), keys, "left_semi")
        .select(col(partCol)).distinct()
      val affected = existing
        .join(broadcast(touchedParts), Seq(partCol), "left_semi")
      val survivors = affected.join(broadcast(purgeKeysOnly), keys, "left_anti")
      val affectedCount = affected.count()
      val kept = survivors.localCheckpoint(eager = true)
      val deleted = affectedCount - kept.count()
      if (deleted > 0) {
        // Partition values must materialize BEFORE the overwrite — both
        // plans read the pre-purge files, which the write replaces.
        // Null partition values are legal (Spark writes them under the
        // Hive default-partition dir), so the sentinel stands in for
        // null rather than NPE-ing on .toString.
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        def pv(r: org.apache.spark.sql.Row): String =
          if (r.isNullAt(0)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else r.get(0).toString
        val touchedRows = touchedParts.collect()
        val touched = touchedRows.map(pv).toSet
        val keptParts = kept.select(col(partCol)).distinct()
          .collect().map(pv).toSet
        assertLeaseOwner(spark, path) // fence: zombie writers stop BEFORE the overwrite
        kept.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
        // Dynamic overwrite only rewrites partitions PRESENT in the
        // written data: a partition whose every row was purged has no
        // survivors to write, so its old files would silently remain —
        // exactly what a purge must not do. Drop those directories
        // explicitly (partition-count-bounded driver work). The dirs to
        // drop are found by LISTING the store and decoding the actual
        // on-disk names (Hive %-escaping of spaces/colons/percent etc.),
        // never by re-interpolating raw values into a path — and the
        // filesystem is resolved from the STORE's path, not fs.defaultFS
        // (a store on file:// under an HDFS default conf, or vice versa,
        // would otherwise throw "Wrong FS").
        val doomed = touched -- keptParts
        val hPath = new org.apache.hadoop.fs.Path(path)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(hPath).foreach { st =>
          val name = st.getPath.getName
          if (st.isDirectory && name.startsWith(s"$partCol=") &&
            doomed.contains(
              ExternalCatalogUtils.unescapePathName(name.stripPrefix(s"$partCol="))))
            fs.delete(st.getPath, true)
        }
        // the data-skipping manifest follows the rewrite (data first, as
        // in [[expireBefore]]): stale rows would name deleted files
        if (fs.exists(new org.apache.hadoop.fs.Path(manifestPath(path))))
          refreshManifestIncremental(spark, path, partCol,
            touchedRows.map(r => if (r.isNullAt(0)) null else r.get(0)).toIndexedSeq,
            manifestStatsCols(spark, path))
        if (verify) {
          // Retention guarantee re-check (a purge that silently leaves
          // rows is worse than one that fails loudly): key-columns-only
          // scan, pruned by parquet to the key columns.
          val remaining = spark.read.parquet(path)
            .join(broadcast(purgeKeysOnly), keys, "left_semi").count()
          require(remaining == 0L,
            s"purgeKeys: $remaining purged-key rows still present after purge of $path — " +
              "retry the same purge list (two-step purge is idempotent)")
        }
      }
      deleted
    } finally {
      savedMode match {
        case Some(m) => spark.conf.set(overwriteModeKey, m)
        case None    => spark.conf.unset(overwriteModeKey)
      }
    }
  }

  /** Time-based retention (TTL): drop every partition whose partition
    * VALUE sorts strictly below `cutoff` — pure directory-level deletes,
    * the cheapest possible data-removal path (contrast [[purgeKeys]],
    * which must rewrite surviving rows). Comparison is lexicographic on
    * the decoded partition value, which is chronological for the ISO
    * `yyyy-MM-dd` day partitions this store uses; the null partition is
    * never expired (it has no age). Returns the partition count dropped.
    *
    * Manifest discipline: data dirs are deleted FIRST, then the
    * `_manifest` rows pointing into them are filtered out. If a crash
    * lands between the two, the stale manifest rows reference missing
    * files and the next `scanPruned` fails LOUDLY — the safe direction;
    * filtering the manifest first would make pruned scans silently skip
    * still-live files.
    */
  def expireBefore(spark: SparkSession, path: String, partCol: String,
                   cutoff: String): Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doomed = fs.listStatus(hPath).toSeq.filter { st =>
      val name = st.getPath.getName
      st.isDirectory && name.startsWith(s"$partCol=") && {
        val v = ExternalCatalogUtils.unescapePathName(name.stripPrefix(s"$partCol="))
        v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME && v < cutoff
      }
    }
    doomed.foreach(st => fs.delete(st.getPath, true))
    val mPath = new org.apache.hadoop.fs.Path(manifestPath(path))
    if (doomed.nonEmpty && fs.exists(mPath)) {
      val frags = doomed.map(st => "/" + st.getPath.getName + "/")
      spark.read.parquet(mPath.toString)
        .filter(!frags.map(f => col("file").contains(f)).reduce(_ || _))
        .localCheckpoint(eager = true) // never read-and-overwrite the same dir
        .write.mode(SaveMode.Overwrite).parquet(mPath.toString)
    }
    doomed.size.toLong
  }

  // ---- File-level data skipping (min/max stats manifest) ---------------

  /** The Delta/Iceberg data-skipping pattern in miniature: a per-FILE
    * min/max/rowcount manifest kept next to the data (under the
    * `_manifest` dir, which Spark's file listing treats as hidden), so
    * a selective scan can drop whole files whose [min, max] envelope
    * misses the predicate — BELOW partition granularity. The reference
    * leans on DuckDB zonemaps + three ART indexes for exactly this
    * (schema.py:101-116); partition pruning alone only skips on the
    * partition key. Composes with [[writeZOrdered]]: the Z-layout gives
    * every file a tight envelope in BOTH clustered dimensions, which is
    * what makes the manifest actually selective on either one.
    *
    * Scale shape: the manifest is file-count-sized (not data-sized);
    * consulting it is the same driver-side planning step Delta performs
    * against its transaction log. Stats collection is one
    * column-pruned scan (only the stats columns are read).
    */
  def manifestPath(path: String): String = s"$path/_manifest"

  /** Per-file stats frame: (file, nrows, min_c/max_c per stats col). */
  private def statsOf(df: DataFrame, statsCols: Seq[String]): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("nrows"),
        statsCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)

  /** PARTITION-LAYOUT EVOLUTION read: one logical table split across
    * a day-partitioned generation (`dayPath`, partition column `day` =
    * yyyy-MM-dd) and a month-partitioned one (`monthPath`, partition
    * column `month` = yyyy-MM) — either direction of the lakehouse
    * layout migration (fine-grained history moving to months, or a
    * hot day-grained tail ahead of a compacted month-grained archive)
    * without rewriting the other generation. The read unions both
    * aligned on `month` (derived from `day` on the day side).
    *
    * The part that's easy to get wrong: a month filter applied AFTER
    * the union cannot prune the day layout (the predicate sits on a
    * DERIVED column). So the filter is TRANSPOSED per generation
    * BEFORE the union — `month = m` on the month side, `day` prefix
    * `m` on the day side — and both scans partition-prune. That
    * transposition is the contract of this function, spec-locked via
    * scan-row metrics.
    */
  def readEvolvedMonth(spark: SparkSession, dayPath: String, monthPath: String,
                       month: Option[String] = None): DataFrame = {
    val o0 = spark.read.parquet(dayPath)
    val o1 = month.fold(o0)(m => o0.filter(col("day").startsWith(m)))
      .withColumn("month", substring(col("day"), 1, 7)).drop("day")
    val n0 = spark.read.parquet(monthPath)
    val n1 = month.fold(n0)(m => n0.filter(col("month") === m))
    o1.unionByName(n1.select(o1.columns.map(col).toIndexedSeq: _*))
  }

  /** MANIFEST-vs-DISK audit — the operational-hygiene check between
    * refreshes: a data file on disk with no manifest row is INVISIBLE
    * to [[scanPruned]] (silent result loss — the worst failure mode a
    * skipping layer has), and a manifest row whose file is gone makes
    * pruning claim coverage it can't deliver. Returns one row per
    * discrepancy (file, on_disk, in_manifest); empty = healthy.
    *
    * The tree walk runs on the driver — bounded by FILE COUNT, not
    * data, the same scale class as the manifest itself (swap in a
    * distributed listing past ~10^6 files). Listed paths are compared in
    * their URI form, the form `input_file_name` records (an escaped
    * partition value such as `02%3A00` is `02%253A00` there), and the
    * scheme is normalized on both sides ('file:///x' vs 'file:/x'
    * spellings differ between `input_file_name` and the Hadoop listing).
    */
  def manifestAudit(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet")) Seq(st.getPath.toUri.toString)
        else Nil
      }
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^file:/+", "/")
    val disk = walk(root).toDF("file")
      .select(norm(col("file")).as("file"), lit(true).as("on_disk"))
    val mani = spark.read.parquet(manifestPath(path))
      .select(norm(col("file")).as("file"), lit(true).as("in_manifest"))
    disk.join(mani, Seq("file"), "full_outer")
      .select(col("file"),
        coalesce(col("on_disk"), lit(false)).as("on_disk"),
        coalesce(col("in_manifest"), lit(false)).as("in_manifest"))
      .filter(!col("on_disk") || !col("in_manifest"))
  }

  /** The stats columns an existing manifest was built over, read off
    * its own `min_*` schema — so a rewrite keeps the skipping the table
    * already had.
    */
  private def manifestStatsCols(spark: SparkSession, path: String): Seq[String] =
    spark.read.parquet(manifestPath(path)).schema.fieldNames.toIndexedSeq
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))

  /** Full manifest rebuild over every live file. */
  def refreshManifest(spark: SparkSession, path: String,
                      statsCols: Seq[String]): Unit =
    statsOf(spark.read.parquet(path), statsCols)
      .localCheckpoint(eager = true) // never read-and-overwrite the same dir
      .write.mode(SaveMode.Overwrite).parquet(manifestPath(path))

  /** Incremental refresh after an upsert or purge: recompute stats ONLY
    * for the files under the touched partition dirs (a partition-pruned
    * read; a touched dir that no longer exists contributes no rows),
    * keep the rows of every other partition dir on disk — per-batch cost
    * tracks the batch. Falls back to a full rebuild when no manifest
    * exists yet (a partial manifest would silently unprune the rest of
    * the table); an empty touched set leaves an existing manifest as it
    * is.
    *
    * Touched partitions are matched by VALUE, as [[compact]] matches
    * them: each listed dir name is decoded (`unescapePathName`, the
    * default-partition name as NULL) and compared with the value's
    * string form as Spark casts it when it names the dir. Names are
    * never rebuilt from `toString`, which misses timestamps
    * (`02:00:00.0` against a dir `02%3A00%3A00`). Manifest rows are
    * kept by their parent dir as `input_file_name` spells it (the URI
    * form of the listed path).
    */
  def refreshManifestIncremental(spark: SparkSession, path: String,
                                 partCol: String, touchedVals: Seq[Any],
                                 statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val mPath = new org.apache.hadoop.fs.Path(manifestPath(path))
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mPath)) { refreshManifest(spark, path, statsCols); return }
    if (touchedVals.isEmpty) return // an empty batch leaves every manifest row as it is
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val touched = touchedVals.map(v =>
      if (v == null) null
      else String.valueOf(Cast(Literal.create(v), StringType, tz).eval())).toSet
    val (touchedDirs, keptDirs) = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .partition { st =>
        val raw = st.getPath.getName.stripPrefix(s"$partCol=")
        touched.contains(
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else ExternalCatalogUtils.unescapePathName(raw))
      }
    val keptNames = keptDirs.map(_.getPath.toUri.getRawPath.split('/').last)
    val keep = spark.read.parquet(mPath.toString)
      .filter(regexp_extract(col("file"), "/([^/]+)/[^/]+$", 1).isin(keptNames: _*))
    (if (touchedDirs.isEmpty) keep
     else keep.unionByName(statsOf(spark.read.option("basePath", path)
       .parquet(touchedDirs.map(_.getPath.toString): _*), statsCols)))
      .localCheckpoint(eager = true)
      .write.mode(SaveMode.Overwrite).parquet(mPath.toString)
  }

  final case class PrunedScan(df: DataFrame, filesRead: Long, filesTotal: Long)

  def bloomManifestPath(path: String): String = s"$path/_bloom"

  private val BloomBits = 1024 // 16 longs per file
  private val BloomProbes = 4

  /** Driver-side replica of `TextOps.seededHash60` ("<seed>:<value>",
    * first 15 md5 nibbles) so lookup probes match the manifest's
    * builder bit-for-bit without a Spark job.
    */
  private def seededHash60Local(seed: Int, s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed:$s".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** BLOOM-FILTER file manifest: the point-lookup complement of the
    * min/max zonemap (`refreshManifest`). Range envelopes prune range
    * scans but are useless for a high-cardinality equality probe on an
    * unsorted key ("which files contain user X?") — every file's
    * [min, max] spans the whole domain. A per-file Bloom filter over
    * the key column answers it with no false NEGATIVES by
    * construction, so pruning is always safe.
    *
    * Layout: (file, word, bits) rows — a 1024-bit filter as ≤ 16
    * 64-bit words per file, only non-zero words stored. Built in one
    * keyed aggregation: each row explodes into 4 seeded-hash probe
    * positions, positions fold into per-(file, word) masks with
    * BIT_OR's map-side partial — one exchange carrying ≤ 16 rows per
    * file regardless of row count. The hash is the engine-portable
    * seeded hash60 (any engine can rebuild or verify the manifest).
    */
  def refreshBloomManifest(spark: SparkSession, path: String,
                           keyCol: String): Unit = {
    val probes = spark.read.parquet(path)
      .select(input_file_name().as("file"),
        col(keyCol).cast("string").as("__k"))
      .select(col("file"), explode(sequence(lit(0), lit(BloomProbes - 1))).as("__s"),
        col("__k"))
      .select(col("file"),
        pmod(graft.ops.TextOps.seededHash60(col("__s"), col("__k")),
          lit(BloomBits.toLong)).as("__p"))
    probes
      .select(col("file"), (col("__p") / 64L).cast("int").as("word"),
        // functions.shiftleft only takes a literal shift — SQL's takes
        // a column
        expr("shiftleft(1L, int(__p % 64))").as("__m"))
      .groupBy(col("file"), col("word"))
      .agg(expr("bit_or(__m)").as("bits"))
      .localCheckpoint(eager = true) // never read-and-overwrite the same dir
      .write.mode(SaveMode.Overwrite).parquet(bloomManifestPath(path))
  }

  /** Bloom-pruned point lookup: read ONLY the files whose filter has
    * every probe bit of `value` set, then apply the row predicate.
    * False positives cost a wasted file read; false negatives cannot
    * happen (each file's filter saw every row it holds). The probe
    * positions are computed driver-side (4 md5 calls, no job); the
    * candidate decision is one filter + count over the ≤16-rows-per-
    * file manifest.
    */
  def scanBloomPruned(spark: SparkSession, path: String, keyCol: String,
                      value: Any): PrunedScan = {
    val need: Map[Int, Long] = (0 until BloomProbes)
      .map(i => seededHash60Local(i, String.valueOf(value)) % BloomBits)
      .groupBy(p => (p / 64).toInt)
      .map { case (w, ps) => w -> ps.foldLeft(0L)((m, p) => m | (1L << (p % 64))) }
    val mf = spark.read.parquet(bloomManifestPath(path))
    val total = mf.select("file").distinct().count()
    val satisfied = need.map { case (w, m) =>
      mf.filter(col("word") === w && (col("bits").bitwiseAND(m) === m))
        .select("file")
    }.reduce(_.intersect(_)) // every required word's mask fully present
    readListed(spark, path, satisfied.collect().map(_.getString(0)).toIndexedSeq, total,
      col(keyCol) === lit(value))
  }

  /** Manifest-pruned range scan: read ONLY the files whose [min, max]
    * envelope intersects [lo, hi] on `c`, then apply the row-level
    * predicate as usual (parquet row-group stats prune further inside
    * each kept file). Returns the file counts so callers (and specs)
    * can assert the skipping actually happened.
    */
  def scanPruned(spark: SparkSession, path: String, c: String,
                 lo: Any, hi: Any): PrunedScan = {
    val mf = spark.read.parquet(manifestPath(path))
    val total = mf.count()
    val files = mf
      .filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    readListed(spark, path, files, total, col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Reads the manifest-listed `files` of the table at `path`, filtered by
    * `pred`. The manifests record `input_file_name` URIs, whose escaped
    * partition dirs (`hour=2024-01-14%2002%253A00%253A00`) name no path
    * until decoded; an empty list reads no rows but keeps the schema. */
  private def readListed(spark: SparkSession, path: String, files: IndexedSeq[String],
                         total: Long, pred: Column): PrunedScan = {
    val reader = spark.read.option("basePath", path)
    val df =
      if (files.isEmpty) reader.parquet(path).filter(pred).limit(0)
      else reader.parquet(files.map(f => new Path(new URI(f)).toString): _*).filter(pred)
    PrunedScan(df, files.length, total)
  }

  /** Small-file compaction: rewrite a partitioned table so each
    * partition directory holds ~ceil(bytes/targetBytes) files instead
    * of one file per historical ingest batch. Returns
    * (filesBefore, filesAfter).
    *
    * Why it matters at 100 TB: a daily-upsert table accretes one file
    * per batch per partition; scan cost (driver listing, task launch,
    * row-group open) grows with file COUNT, not bytes. Compaction
    * restores the bytes-proportional cost.
    *
    * Shape: per-partition output file counts come from the actual
    * on-disk byte sizes (one filesystem listing, no data read); rows
    * are routed with a deterministic content-hash salt bounded by that
    * per-partition count, so one shuffle rewrites every partition at
    * its own width — small partitions 1 file, big ones several. The
    * rewrite lands in a sibling temp dir and swaps in with two renames,
    * so a crash mid-compaction never touches the live table (contrast
    * upsert, which must merge and therefore checkpoint-cuts lineage).
    *
    * If the table carries a data-skipping manifest (`_manifest`), it is
    * rebuilt against the rewritten files on the TMP copy before the
    * swap (stats columns inferred from the existing manifest's
    * min_/max_ schema), so the atomic rename publishes table+manifest
    * together — a compacted table never silently loses file skipping.
    */
  def compact(spark: SparkSession, path: String, partCol: String,
              targetBytes: Long = 128L << 20): (Long, Long) =
      withLease(spark, path) {
    // self-heal first: a previous compact may have died inside its swap
    // window — without this, the read below finds no live table. No-op
    // on a healthy table. (Unlocked variant: this compact already holds
    // the writer lease; the public recover would deadlock on it.)
    recoverUnlocked(spark, path)
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def leafFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
      while (it.hasNext) {
        val f = it.next()
        // skip hidden files AND files under hidden dirs (e.g. _manifest)
        if (!f.getPath.getName.startsWith("_") &&
          !f.getPath.getParent.getName.startsWith("_")) buf += f
      }
      buf.toSeq
    }

    val before = leafFiles(hPath)
    // partition-dir name ("partCol=value") -> total bytes
    val perPartBytes = before.groupBy(_.getPath.getParent.getName)
      .view.mapValues(_.map(_.getLen).sum).toMap
    val widths = perPartBytes.map { case (dir, bytes) =>
      // dir names carry Spark's partition-path escaping (not URL encoding:
      // a literal '+' stays '+'); the default-partition name is NULL
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val raw = dir.stripPrefix(s"$partCol=")
      val value =
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else ExternalCatalogUtils.unescapePathName(raw)
      value -> math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    }
    val totalWidth = widths.values.map(_.toLong).sum.toInt

    val df = spark.read.parquet(path)
    val widthDf = spark.createDataFrame(
      widths.toSeq.map { case (v, n) => (v, n) }).toDF("__pv", "__n")
    // Deterministic routing: hash of the full row content mod the
    // partition's own width (never monotonically_increasing_id — task
    // retries must re-derive the same bucket).
    val salted = df
      .join(broadcast(widthDf), df(partCol).cast("string") <=> col("__pv"))
      .withColumn("__salt", pmod(hash(df.columns.toIndexedSeq.map(df(_)): _*), col("__n")))
    val tmp = new Path(path + ".compacting")
    fs.delete(tmp, true)
    salted
      .repartition(math.max(totalWidth, 1), col(partCol), col("__salt"))
      .select(df.columns.toIndexedSeq.map(df(_)): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
    // The width join keys on the DECODED dir value; any mismatch would
    // silently drop that partition's rows. Refuse to swap unless the
    // rewrite holds exactly the live row count.
    val (nLive, nTmp) = (df.count(), spark.read.parquet(tmp.toString).count())
    if (nLive != nTmp) {
      fs.delete(tmp, true)
      sys.error(s"compact: rewrite row count $nTmp != live $nLive; aborted, live table untouched")
    }
    // Rebuild the data-skipping manifest against the REWRITTEN file names
    // on the tmp copy, so the swap below publishes table+manifest as one
    // atomic unit (file names change under compaction; a stale manifest
    // would point at dead files, a missing one silently unprunes). The
    // stats scan sees tmp-dir URIs; the recorded `file` strings must name
    // the POST-swap location, so the `<table>.compacting` path segment is
    // rewritten to the live dir name (it occurs exactly once: tmp is a
    // sibling of the table dir and parquet leaf paths never repeat it).
    val liveManifest = new Path(manifestPath(path))
    if (fs.exists(liveManifest)) {
      val statsCols = manifestStatsCols(spark, path)
      val tmpSeg = "/" + tmp.getName + "/"
      val liveSeg = "/" + hPath.getName + "/"
      statsOf(spark.read.parquet(tmp.toString), statsCols)
        .withColumn("file", concat(
          substring_index(col("file"), tmpSeg, 1),
          lit(liveSeg),
          substring_index(col("file"), tmpSeg, -1)))
        .write.mode(SaveMode.Overwrite).parquet(manifestPath(tmp.toString))
    }
    val bak = new Path(path + ".pre-compact")
    fs.delete(bak, true)
    assertLeaseOwner(spark, path) // fence: zombie writers stop BEFORE the swap
    if (!fs.rename(hPath, bak)) sys.error(s"compact: cannot move live table aside: $path")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(bak, hPath) // restore
      sys.error(s"compact: swap failed, live table restored: $path")
    }
    fs.delete(bak, true)
    (before.size.toLong, leafFiles(hPath).size.toLong)
  } // withLease

  /** CRASH-WINDOW REPAIR for [[compact]]'s two-phase swap — the restart
    * routine that makes the non-atomic rename pair operationally safe.
    * `compact` swaps via rename(live → `.pre-compact`) then
    * rename(`.compacting` → live); a JVM death can strand any of four
    * states, each of which this routine detects and completes or rolls
    * back so the table is ALWAYS live afterwards:
    *
    *   - live + `.compacting`            → the rewrite never reached its
    *     row-count verification (or failed it): drop the tmp. Roll BACK.
    *   - live + `.pre-compact`           → death between rename 2 and
    *     the backup delete: the swap already completed; drop the backup.
    *   - no live + `.pre-compact` + `.compacting` → death between the
    *     two renames. The tmp rewrite was fully written AND row-count
    *     verified before rename 1 ever ran, so roll FORWARD: complete
    *     rename 2, then drop the backup.
    *   - no live + `.pre-compact` only   → defensive: restore the
    *     backup (cannot occur from `compact`'s order, but a manual
    *     cleanup may have removed the tmp first).
    *
    * Also drops stale `_temporary` job-staging dirs inside the live
    * table (an aborted overwrite's leftovers, invisible to readers but
    * rot on disk). Idempotent — run it unconditionally at writer
    * startup; a healthy table is a no-op. Returns the repair actions
    * taken, in order, for the operator's log.
    *
    * SINGLE-WRITER: acquires the table's [[withLease writer lease]], so
    * a recover can no longer race a LIVE compact/upsert and misread its
    * in-flight `.compacting`/`_temporary` as stranded (it raises
    * [[LeaseHeld]] instead). A lease left behind by a crashed writer
    * expires after the TTL; the CLI's `recover --break-lease` removes
    * it early when the operator knows no writer is alive.
    */
  def recover(spark: SparkSession, path: String,
              ttlMs: Long = DefaultLeaseTtlMs): Seq[String] =
    withLease(spark, path, ttlMs) { recoverUnlocked(spark, path) }

  private def recoverUnlocked(spark: SparkSession, path: String): Seq[String] = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".compacting")
    val bak = new Path(path + ".pre-compact")
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    if (fs.exists(live)) {
      if (fs.exists(tmp)) {
        fs.delete(tmp, true)
        actions += s"dropped aborted compaction rewrite ${tmp.getName}"
      }
      if (fs.exists(bak)) {
        fs.delete(bak, true)
        actions += s"dropped completed-compaction backup ${bak.getName}"
      }
    } else if (fs.exists(bak)) {
      if (fs.exists(tmp)) {
        // roll forward: the tmp was row-count-verified before the live
        // table was ever moved aside
        if (!fs.rename(tmp, live))
          sys.error(s"recover: cannot complete compaction swap into $path")
        fs.delete(bak, true)
        actions += "completed interrupted compaction swap (rolled forward)"
      } else {
        if (!fs.rename(bak, live))
          sys.error(s"recover: cannot restore pre-compact backup into $path")
        actions += "restored pre-compact backup (rolled back)"
      }
    }
    if (fs.exists(live)) {
      val staging = new Path(live, "_temporary")
      if (fs.exists(staging)) {
        fs.delete(staging, true)
        actions += "dropped stale _temporary write-staging dir"
      }
    }
    actions.toSeq
  }

  /** Z-order clustered write: range-partition on the Morton key of the
    * two filter columns and sort within partitions, so every output
    * file's parquet row-group stats carry a bounded min/max envelope in
    * BOTH columns — scans filtered on either dimension (or both) prune
    * files/row-groups. A linear sort gives this on its leading column
    * only; Z-order trades a little pruning power on the first column
    * for pruning on the second, which is the right call for the
    * two-selective-predicates scan (symbol × date, user × time).
    * One range exchange + in-partition sort — the same cost as any
    * layout rewrite.
    *
    * Both dimensions are min/max-NORMALIZED onto a shared 2^20 grid
    * before interleaving (one tiny agg, broadcast back). Raw
    * bit-interleaving lets the wider-magnitude column own the key's
    * high bits — a 2^13-range column against a 2^8-range one makes
    * every file-range boundary split on dimension 1 alone, and
    * dimension 2 never prunes anything. Equal bit budgets are what
    * production Z-clustering (Delta OPTIMIZE ZORDER's range-id
    * normalization) does for the same reason; linear min/max scaling
    * is the deterministic single-pass version (rank normalization
    * would also flatten skew, at the price of per-dimension quantile
    * passes).
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    files: Int): Unit = {
    val ZBits = 20 // range ≤ 2^43 stays overflow-free: 2^43 · 2^20 < 2^63
    val stats = df.agg(
      min(col(c1)).cast("long").as("__lo1"), max(col(c1)).cast("long").as("__hi1"),
      min(col(c2)).cast("long").as("__lo2"), max(col(c2)).cast("long").as("__hi2"))
    def norm(c: String, lo: String, hi: String) =
      when(col(hi) === col(lo), lit(0L))
        .otherwise((col(c).cast("long") - col(lo)) * ((1L << ZBits) - 1) /
          (col(hi) - col(lo)))
        .cast("long")
    df.crossJoin(broadcast(stats))
      .withColumn("__z", graft.functions.ZOrderKey.zorderKey(
        norm(c1, "__lo1", "__hi1"), norm(c2, "__lo2", "__hi2")))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .select(df.columns.toIndexedSeq.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Derived summary table (the reference's daily_symbol_counts
    * materialized view): per-partition totals refreshed post-ingest.
    */
  def refreshSummary(df: DataFrame, partCol: String, cond: org.apache.spark.sql.Column,
                     summaryPath: String): Unit =
    df.groupBy(col(partCol))
      .agg(
        count(lit(1)).as("total"),
        sum(when(cond, 1L).otherwise(0L)).as("matched"),
        // total − matched, so null-condition rows still land in unmatched
        (count(lit(1)) - sum(when(cond, 1L).otherwise(0L))).as("unmatched"))
      .write.mode(SaveMode.Overwrite).parquet(summaryPath)

  /** Additive schema migration (schema.py:9-42 ADD COLUMN): nulls for
    * history, no rewrite of existing files needed when reading with
    * mergeSchema or an explicit target schema.
    */
  def addColumns(df: DataFrame, cols: Map[String, DataType]): DataFrame =
    cols.foldLeft(df) { case (acc, (name, dt)) =>
      if (acc.columns.contains(name)) acc
      else acc.withColumn(name, lit(null).cast(dt))
    }

  /** S8: result export — CSV with header or snappy parquet
    * (docs/guides/QUERY_EXAMPLES.md:259-271 COPY ... TO).
    */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  def exportParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(path)

  /** Dedup-on-ingest: append only the batch rows whose content hash is
    * not already stored AND not duplicated within the batch itself
    * (first occurrence by `tieBreak` wins). The anti-join runs on the
    * 32-char md5, not the payload: at scale the store side projects a
    * single narrow column out of the parquet footer-pruned scan and the
    * batch side shuffles hashes, never documents. Returns the appended
    * rows (eagerly materialized — callers typically write them).
    *
    * NULL-content rows are rejected from the batch, not appended: a
    * null hash never matches an anti-join key, so they would silently
    * bypass dedup on EVERY batch (one more copy per ingest run).
    */
  def appendDeduped(existing: DataFrame, fresh: DataFrame,
                    contentCol: String, tieBreak: String): DataFrame = {
    val seen = existing
      .select(md5(col(contentCol)).as("__ch")).distinct()
    val w = Window.partitionBy(col("__ch")).orderBy(col(tieBreak))
    fresh
      .filter(col(contentCol).isNotNull)
      .withColumn("__ch", md5(col(contentCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(seen, Seq("__ch"), "left_anti")
      .drop("__ch", "__rn")
      .localCheckpoint(eager = true)
  }

  /** Append guard (S7): reject a batch whose `keyCol` values overlap the
    * existing archive (generate_volume_rankings.py:274-293).
    */
  def appendWithOverlapCheck(existing: DataFrame, fresh: DataFrame,
                             keyCol: String): DataFrame = {
    val overlap = existing.select(keyCol).distinct()
      .join(fresh.select(keyCol).distinct(), Seq(keyCol), "inner")
    if (!overlap.isEmpty)
      throw new IllegalArgumentException(
        s"duplicate $keyCol values in append batch: " +
          overlap.limit(5).collect().map(_.get(0)).mkString(", "))
    existing.unionByName(fresh)
  }
}
