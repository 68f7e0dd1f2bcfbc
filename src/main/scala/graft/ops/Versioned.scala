package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Snapshot-versioned table: every write lands in a fresh immutable
  * `v=N` directory and the [[StoreRoot]] pointer protocol (the one the
  * durable index stores use) names the live snapshot. The write path
  * never touches existing data, which buys:
  *
  *   - snapshot isolation — a reader that resolved `v=N` keeps reading
  *     a consistent table while a writer publishes `v=N+1`;
  *   - atomic publish — [[StoreRoot.flipPointer]] creates one
  *     `_latest.v=N` marker after the data write, so a crash mid-write
  *     leaves the previous version live and at worst an orphaned
  *     unpublished directory (reclaimed by `vacuum`);
  *   - O(1) rollback / time-travel — rollback flips the pointer, not
  *     the data, and any retained version stays queryable (the
  *     reproducibility story a training pipeline needs: "which corpus
  *     snapshot trained this model" is just a version number).
  *
  * A rollback retires the versions above its target: each keeps its
  * publish record, so it stays a rollback target and, once a later
  * write moves the pointer above it, counts toward `vacuum`'s `keep`
  * like any superseded snapshot.
  *
  * This is deliberately the minimal core of the table-format idea
  * (snapshot + pointer): no manifest-level file tracking, because the
  * unit of publication here is a whole table version, not a file diff.
  */
object Versioned {

  private def leasePath(r: Path): String = new Path(r, "_writer").toString

  /** Single-writer lease for every mutation — the [[Store.withLease]]
    * guard applied to the snapshot root (lease file
    * `<root>/_writer.lease`; the `_` prefix keeps it invisible to both
    * `versions()` and parquet readers). Two concurrent `write`s would
    * otherwise claim the same next version number, a `recover` racing a
    * live publish could drop the record of a flip still in flight, and
    * a `vacuum` could delete the target of a `rollback`.
    */
  private def withWriterLease[T](spark: SparkSession, root: String)(
                                 body: (FileSystem, Path) => T): T = {
    val r = new Path(root)
    Store.withLease(spark, leasePath(r))(body(StoreRoot.fsOf(spark, r), r))
  }

  /** Fence: a writer paused past the lease TTL whose lease a new owner
    * broke must fail HERE, before its irreversible step (a flip, a
    * record heal, a retention sweep) runs under the new owner.
    */
  private def fence(spark: SparkSession, r: Path): Unit =
    Store.assertLeaseOwner(spark, leasePath(r))

  /** All version numbers present on disk (published or not), ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val r = new Path(root)
    StoreRoot.versionDirs(StoreRoot.fsOf(spark, r), r).map(_.toLong)
  }

  /** Latest published version, if any. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    StoreRoot.liveVersion(spark, root).map(_.toLong)

  /** Write `df` as the next version and publish it. Returns the new
    * version number. The data write completes fully before the pointer
    * moves — readers never observe a partial snapshot.
    */
  def write(spark: SparkSession, root: String, df: DataFrame): Long =
    withWriterLease(spark, root) { (fs, r) =>
      val (v, dir) = StoreRoot.claimNextVersion(fs, r)
      df.write.mode(SaveMode.Append).parquet(dir.toString) // claimed: empty
      fence(spark, r)
      StoreRoot.flipPointer(fs, r, v)
      v
    }

  /** Read the currently published snapshot. */
  def readLatest(spark: SparkSession, root: String): DataFrame =
    read(spark, root, latestVersion(spark, root)
      .getOrElse(sys.error(s"versioned: no published version under $root")))

  /** Time-travel: read an explicit snapshot. */
  def read(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(StoreRoot.versionDir(new Path(root), version).toString)

  /** Point the table back at a published version — pointer-only, O(1).
    * A directory that was never published (a crashed `write`'s partial
    * output) is refused.
    */
  def rollback(spark: SparkSession, root: String, version: Long): Unit =
    withWriterLease(spark, root) { (fs, r) =>
      require(StoreRoot.wasPublished(fs, r, version),
        s"versioned: cannot roll back to v=$version — no published version " +
          s"of that number under $root")
      fence(spark, r)
      StoreRoot.flipPointer(fs, r, version.toInt)
    }

  /** Pointer-publish crash repair — [[Store.recover]]'s sibling: runs
    * the crashed-flip heal ([[StoreRoot.healCrashedFlips]]) that every
    * flip runs first. A `write` killed between its publish record and
    * its marker left a record above the live version; the record is
    * dropped and the live version stands; the versions a rollback
    * retired keep theirs. Idempotent; healthy roots are a no-op.
    * Returns the actions taken.
    */
  def recover(spark: SparkSession, root: String): Seq[String] =
    withWriterLease(spark, root) { (fs, r) =>
      fence(spark, r)
      StoreRoot.healCrashedFlips(fs, r).map(v =>
        s"dropped the publish record of v=$v, a flip that never landed " +
          "above the live version")
    }

  /** Drop all versions except the live one and the `keep` most recent
    * published ones (the live version counts toward `keep`), plus every
    * unpublished orphan below live. Never deletes the published version
    * regardless of age, nor anything above it.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int): Seq[Long] =
    withWriterLease(spark, root) { (fs, r) =>
      fence(spark, r)
      StoreRoot.gcSuperseded(fs, r, keep - 1 max 0).map(_.toLong)
    }
}
