package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Snapshot-versioned table: every write lands in a fresh immutable
  * `v=N` directory and a tiny `_latest` pointer file names the live
  * snapshot. The write path never touches existing data, which buys:
  *
  *   - snapshot isolation — a reader that resolved `v=N` keeps reading
  *     a consistent table while a writer publishes `v=N+1`;
  *   - atomic publish — the pointer swap is a temp-file + rename, so a
  *     crash mid-write leaves the previous version live and at worst an
  *     orphaned unpublished directory (cleaned by `vacuum`);
  *   - O(1) rollback / time-travel — rollback rewrites the pointer,
  *     not the data, and any retained version stays queryable (the
  *     reproducibility story a training pipeline needs: "which corpus
  *     snapshot trained this model" is just a version number.
  *
  * This is deliberately the minimal core of the table-format idea
  * (snapshot + pointer): no manifest-level file tracking, because the
  * unit of publication here is a whole table version, not a file diff.
  */
object Versioned {

  private val Pointer = "_latest"

  /** Single-writer lease for the pointer-publish protocol — the
    * [[Store.withLease]] guard applied to the snapshot root (lease file
    * `<root>/_writer.lease`; the `_` prefix keeps it invisible to both
    * `versions()` and parquet readers). Two concurrent `write`s would
    * otherwise pick the same next version number, a `recover` racing a
    * live publish could adopt or drop the wrong pointer temp, and a
    * `vacuum` could delete the unpublished `v=N` a `write` is filling or
    * the target of a `rollback`.
    */
  private def withWriterLease[T](spark: SparkSession, root: String)(body: => T): T =
    Store.withLease(spark, new Path(root, "_writer").toString)(body)

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The published version. A reader landing between
    * [[writePointer]]'s delete and rename finds only `_latest.tmp`; it
    * adopts it on [[recover]]'s rule ([[pendingPublish]]), then looks
    * at `_latest` once more in case the rename landed meanwhile.
    */
  private def readPointer(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    def live: Option[Long] = try {
      val in = f.open(new Path(root, Pointer))
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
    live.orElse(pendingPublish(spark, root)).orElse(live)
  }

  /** The version `_latest.tmp` names when it parses and that `v=N`
    * exists: the data commit finished before the temp was written, so
    * the publish only lacks its rename.
    */
  private def pendingPublish(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val parsed = try {
      val in = f.open(new Path(root, s"$Pointer.tmp"))
      try new String(in.readAllBytes(), "UTF-8").trim.toLongOption
      finally in.close()
    } catch { case _: Exception => None }
    parsed.filter(versions(spark, root).contains)
  }

  private def writePointer(spark: SparkSession, root: String, v: Long): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(root, s"$Pointer.tmp")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val dst = new Path(root, Pointer)
    // Fence: a writer paused past the lease TTL whose lease a new owner
    // broke must fail HERE, before moving the pointer out from under
    // the new owner's publish.
    Store.assertLeaseOwner(spark, new Path(root, "_writer").toString)
    f.delete(dst, false)
    if (!f.rename(tmp, dst)) sys.error(s"versioned: pointer publish failed under $root")
  }

  /** All version numbers present on disk (published or not), ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).sorted
  }

  /** Latest published version, if any. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    readPointer(spark, root)

  /** Write `df` as the next version and publish it. Returns the new
    * version number. The data write completes fully before the pointer
    * moves — readers never observe a partial snapshot.
    */
  def write(spark: SparkSession, root: String, df: DataFrame): Long =
    withWriterLease(spark, root) {
      val next = versions(spark, root).lastOption.map(_ + 1).getOrElse(0L)
      df.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/v=$next")
      writePointer(spark, root, next)
      next
    }

  /** Read the currently published snapshot. */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val v = readPointer(spark, root)
      .getOrElse(sys.error(s"versioned: no published version under $root"))
    read(spark, root, v)
  }

  /** Time-travel: read an explicit snapshot. */
  def read(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(s"$root/v=$version")

  /** Point the table back at an existing version — pointer-only, O(1). */
  def rollback(spark: SparkSession, root: String, version: Long): Unit =
    withWriterLease(spark, root) {
      require(versions(spark, root).contains(version),
        s"versioned: cannot roll back to absent version $version")
      writePointer(spark, root, version)
    }

  /** Pointer-publish crash repair — [[Store.recover]]'s sibling for the
    * `_latest` temp-file + rename swap. Three strandable states:
    *
    *   - `_latest.tmp` present, `_latest` absent, tmp parses to an
    *     existing `v=N` dir → death between delete(dst) and rename:
    *     the new snapshot was fully written (write() renames only
    *     after the data commit), so COMPLETE the publish.
    *   - `_latest.tmp` present, `_latest` present → death before the
    *     old pointer was removed: the old pointer is still the live
    *     truth; drop the tmp (the newer data dir stays queryable by
    *     version and is `vacuum` fodder if never re-published).
    *   - `_latest.tmp` partial/garbage or naming a missing version →
    *     drop it; whatever pointer state exists stands.
    *
    * Idempotent; healthy roots are a no-op. Returns the actions taken.
    */
  def recover(spark: SparkSession, root: String): Seq[String] =
      withWriterLease(spark, root) {
    val f = fs(spark, root)
    val tmp = new Path(root, s"$Pointer.tmp")
    if (!f.exists(tmp)) Seq.empty
    else {
      val dst = new Path(root, Pointer)
      pendingPublish(spark, root) match {
        case Some(v) if !f.exists(dst) =>
          if (!f.rename(tmp, dst))
            sys.error(s"versioned recover: cannot complete pointer publish under $root")
          Seq(s"completed interrupted pointer publish to v=$v")
        case _ =>
          f.delete(tmp, false)
          Seq("dropped stale pointer temp (previous pointer state stands)")
      }
    }
  } // withWriterLease

  /** Drop all versions except the live one and the `keep` most recent.
    * Never deletes the published version regardless of age.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int): Seq[Long] =
    withWriterLease(spark, root) {
      val live = readPointer(spark, root)
      val all = versions(spark, root)
      val doomed = all.dropRight(keep).filterNot(live.contains)
      val f = fs(spark, root)
      doomed.foreach(v => f.delete(new Path(root, s"v=$v"), true))
      doomed
    }
}
