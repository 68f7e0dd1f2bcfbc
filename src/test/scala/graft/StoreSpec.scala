package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.ops.Store

/** Upsert/replace semantics (tests/test_database/test_availability_db.py:33-51
  * and FIXTURES.md §1–§2): re-probing the same (date, symbol) replaces the
  * row; other partitions are untouched on disk.
  */
class StoreSpec extends SparkSpec {

  private def grid(probeTs: String, size: Long) = {
    import spark.implicits._
    val ts = Timestamp.valueOf(probeTs)
    (for {
      d <- Seq("2024-01-15", "2024-01-16", "2024-01-17")
      s <- Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    } yield (Date.valueOf(d), s, true, size + s.length, ts))
      .toDF("date", "symbol", "available", "file_size_bytes", "probe_timestamp")
  }

  test("upsert replaces re-probed rows and keeps counts stable") {
    val path = Files.createTempDirectory("graft-upsert").toString + "/t"
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")

    // Re-probe one date with new sizes and a later probe timestamp.
    val reprobe = grid("2024-01-19 02:00:00", 9000000L)
      .filter(col("date") === Date.valueOf("2024-01-16"))
    Store.upsert(spark, path, reprobe, "date",
      Seq("date", "symbol"), "probe_timestamp", "file_size_bytes")

    val after = spark.read.parquet(path)
    after.count() shouldBe 9 // upsert, not append
    val jan16 = after.filter(col("date") === Date.valueOf("2024-01-16"))
      .select("file_size_bytes").collect().map(_.getLong(0))
    all(jan16) should be >= 9000000L
    val jan15 = after.filter(col("date") === Date.valueOf("2024-01-15"))
      .select("file_size_bytes").collect().map(_.getLong(0))
    all(jan15) should be < 9000000L
  }

  test("upsert restores the caller's partitionOverwriteMode") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val path = Files.createTempDirectory("graft-upsert3").toString + "/t"
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")
    val saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val reprobe = grid("2024-01-19 02:00:00", 9000000L)
        .filter(col("date") === Date.valueOf("2024-01-16"))
      Store.upsert(spark, path, reprobe, "date",
        Seq("date", "symbol"), "probe_timestamp", "file_size_bytes")
      spark.conf.get(key) shouldBe "static" // not left on "dynamic"
      spark.read.parquet(path).count() shouldBe 9 // and the upsert itself worked
    } finally spark.conf.set(key, saved)
  }

  test("upsert with a brand-new partition appends it") {
    val path = Files.createTempDirectory("graft-upsert2").toString + "/t"
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")
    import spark.implicits._
    val fresh = Seq((Date.valueOf("2024-01-18"), "BTCUSDT", true, 7L,
        Timestamp.valueOf("2024-01-19 02:00:00")))
      .toDF("date", "symbol", "available", "file_size_bytes", "probe_timestamp")
    Store.upsert(spark, path, fresh, "date",
      Seq("date", "symbol"), "probe_timestamp", "file_size_bytes")
    spark.read.parquet(path).count() shouldBe 10
  }

  /** `n` consecutive days from 2024-01-01 + `from`, two symbols each. */
  private def days(from: Int, n: Int, probeTs: String, size: Long) = {
    import spark.implicits._
    val ts = Timestamp.valueOf(probeTs)
    val start = java.time.LocalDate.of(2024, 1, 1)
    (for {
      d <- from until from + n
      s <- Seq("BTCUSDT", "ETHUSDT")
    } yield (Date.valueOf(start.plusDays(d.toLong)), s, true, size + d, ts))
      .toDF("date", "symbol", "available", "file_size_bytes", "probe_timestamp")
  }

  /** (rows, files) that the scans of the table at `path` read while `body`
    * ran, summed from the executed plans' scan metrics.
    */
  private def scanned(path: String)(body: => Unit): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobDescriptions drains the listener bus, which also carries the
    // end-of-execution events this listener hears
    try jobDescriptions(body) finally spark.listenerManager.unregister(listener)
    val root = new java.io.File(path).toURI.getPath.stripSuffix("/")
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = plans.asScala.toSeq.flatMap(qe => helper.collect(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == root) => s
    })
    scans should not be empty
    (scans.map(_.metrics("numOutputRows").value).sum, scans.map(_.metrics("numFiles").value).sum)
  }

  private def rowsOf(df: DataFrame): Set[Row] =
    df.select("date", "symbol", "available", "file_size_bytes", "probe_timestamp")
      .collect().toSet

  test("upsert scope: the existing side reads only the batch's partitions") {
    val path = Files.createTempDirectory("graft-upsert-scope").toString + "/t"
    // 40 dates: above Spark's default partition-discovery threshold (32)
    Store.writePartitioned(days(0, 40, "2024-03-01 02:00:00", 8000000L), path, "date")
    val upsert = (batch: DataFrame) => Store.upsert(spark, path, batch, "date",
      Seq("date", "symbol"), "probe_timestamp", "file_size_bytes")

    // re-probe BTCUSDT on day 7, add day 40
    val batch = days(7, 1, "2024-03-02 02:00:00", 9000000L).filter(col("symbol") === "BTCUSDT")
      .unionByName(days(40, 1, "2024-03-02 02:00:00", 8000000L))
    val expected = rowsOf(Store.latestByKey(spark.read.parquet(path).unionByName(batch),
      Seq("date", "symbol"), "probe_timestamp", "file_size_bytes"))
    scanned(path)(upsert(batch)) shouldBe ((2L, 1L)) // day 7's two rows, one file
    rowsOf(spark.read.parquet(path)) shouldBe expected
    expected.size shouldBe 82

    // a batch of brand-new dates reads no existing row or file
    val fresh = days(41, 2, "2024-03-03 02:00:00", 8000000L)
    scanned(path)(upsert(fresh)) shouldBe ((0L, 0L))
    rowsOf(spark.read.parquet(path)) shouldBe expected ++ rowsOf(fresh)
  }

  test("upsert of a NULL partition value replaces its row under the default partition") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-upsert-null").toString + "/t"
    val old = Timestamp.valueOf("2024-01-18 02:00:00")
    val undated = Seq((Option.empty[Date], "BTCUSDT", true, 1L, old),
        (Option.empty[Date], "ETHUSDT", true, 2L, old))
      .toDF("date", "symbol", "available", "file_size_bytes", "probe_timestamp")
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L).unionByName(undated),
      path, "date")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val nullDir = s"date=$DEFAULT_PARTITION_NAME"
    def dated(): Map[String, Long] = {
      val root = new java.io.File(path)
      root.listFiles().filter(d => d.isDirectory && d.getName != nullDir)
        .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dated()
    before should not be empty

    val reprobe = Seq((Option.empty[Date], "BTCUSDT", true, 9L,
        Timestamp.valueOf("2024-01-19 02:00:00")))
      .toDF("date", "symbol", "available", "file_size_bytes", "probe_timestamp")
    Store.upsert(spark, path, reprobe, "date",
      Seq("date", "symbol"), "probe_timestamp", "file_size_bytes")

    val after = spark.read.parquet(path)
    after.count() shouldBe 11 // 9 dated + 2 undated: replaced, not duplicated
    after.filter(col("date").isNull).select("symbol", "file_size_bytes")
      .as[(String, Long)].collect().toSet shouldBe Set(("BTCUSDT", 9L), ("ETHUSDT", 2L))
    new java.io.File(path, nullDir).isDirectory shouldBe true
    dated() shouldBe before // untouched partitions: same files, same mtimes
  }

  test("upsert evaluates its batch once: a probed batch probes every cell once") {
    import java.time.LocalDate
    import graft.ingest.Ingest
    val path = Files.createTempDirectory("graft-upsert-once").toString + "/t"
    val symbols = Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    Store.writePartitioned(Ingest.probeDomain(spark, Seq(LocalDate.parse("2024-01-14")),
      symbols, parallelism = 2)(IntegrationSpec.prober).toDF(), path, "date")
    val calls = spark.sparkContext.longAccumulator("probe-calls")
    // a re-probe of the stored day plus two new days: 9 cells
    val dates = (14 to 16).map(LocalDate.of(2024, 1, _))
    val batch = Ingest.probeDomain(spark, dates, symbols, parallelism = 2)(
      StoreSpec.counting(calls)).toDF()
    Store.upsert(spark, path, batch, "date",
      Seq("date", "symbol"), "probe_timestamp", "status_code")
    calls.value shouldBe 9L
    spark.read.parquet(path).count() shouldBe 9
  }

  test("upsert of an empty batch leaves the table and its manifest as they are") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-upsert-empty").toString + "/t"
    val stats = Seq("file_size_bytes")
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")
    Store.refreshManifest(spark, path, stats)
    def manifest() = spark.read.parquet(Store.manifestPath(path))
      .as[(String, Long, Long, Long)].collect().toSet
    val (rows, entries) = (rowsOf(spark.read.parquet(path)), manifest())
    Store.upsert(spark, path, grid("2024-01-19 02:00:00", 9000000L).filter(lit(false)),
      "date", Seq("date", "symbol"), "probe_timestamp", "file_size_bytes", statsCols = stats)
    rowsOf(spark.read.parquet(path)) shouldBe rows
    manifest() shouldBe entries
  }

  test("upsert of an existing hour on a timestamp-partitioned table keeps the manifest " +
    "in step with the disk") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-upsert-hour").toString + "/t"
    val probe = Timestamp.valueOf("2024-01-14 05:00:00")
    def hours(hs: Seq[String], v: Long, at: Timestamp) =
      (for (h <- hs; k <- Seq("a", "b")) yield (Timestamp.valueOf(h), k, v, at))
        .toDF("hour", "key", "v", "probe_timestamp")
    Store.writePartitioned(
      hours(Seq("2024-01-14 02:00:00", "2024-01-14 03:30:00.5"), 1L, probe), path, "hour")
    Store.refreshManifest(spark, path, Seq("v"))
    Store.manifestAudit(spark, path).count() shouldBe 0L
    Store.upsert(spark, path,
      hours(Seq("2024-01-14 02:00:00"), 7L, Timestamp.valueOf("2024-01-14 06:00:00")),
      "hour", Seq("hour", "key"), "probe_timestamp", "v", statsCols = Seq("v"))
    Store.manifestAudit(spark, path).count() shouldBe 0L
    val m = spark.read.parquet(Store.manifestPath(path))
    m.agg(sum("nrows")).head().getLong(0) shouldBe 4L
    m.agg(max("max_v")).head().getLong(0) shouldBe 7L
    spark.read.parquet(path).filter($"v" === 7L).count() shouldBe 2L
  }

  test("driver-side listing: a 40-partition table opens with no listing job, same files") {
    val path = Files.createTempDirectory("graft-listing").toString + "/t"
    Store.writePartitioned(days(0, 40, "2024-03-01 02:00:00", 8000000L), path, "date")
    def open(): (Seq[String], Seq[String]) = {
      var files = Seq.empty[String]
      val jobs = jobDescriptions { files = spark.read.parquet(path).inputFiles.toSeq.sorted }
      (jobs.filter(_.startsWith("Listing leaf files")), files)
    }
    val (key, value) = Sessions.DriverListing
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val (defaultListing, defaultFiles) = open()
      defaultListing should not be empty // Spark's default lists 40 dirs with a job
      spark.conf.set(key, value)
      val (driverListing, driverFiles) = open()
      driverListing shouldBe empty
      driverFiles shouldBe defaultFiles
      driverFiles should have size 40
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("purgeKeys deletes only the doomed rows, drops fully-emptied partitions") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-purge").toString + "/t"
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")

    // Purge one symbol on one date + EVERY symbol on another date (the
    // emptied-partition case dynamic overwrite can't handle alone).
    val purge = Seq(
      (Date.valueOf("2024-01-15"), "BTCUSDT"),
      (Date.valueOf("2024-01-16"), "BTCUSDT"),
      (Date.valueOf("2024-01-16"), "ETHUSDT"),
      (Date.valueOf("2024-01-16"), "SOLUSDT")).toDF("date", "symbol")
    val deleted = Store.purgeKeys(spark, path, purge, "date", Seq("date", "symbol"))
    deleted shouldBe 4L

    val after = spark.read.parquet(path)
    after.count() shouldBe 5
    // no purged key survives anywhere
    after.join(purge, Seq("date", "symbol"), "left_semi").count() shouldBe 0
    // the fully-purged partition directory is gone from disk
    new java.io.File(s"$path/date=2024-01-16").exists() shouldBe false
    // untouched partition intact
    after.filter(col("date") === Date.valueOf("2024-01-17")).count() shouldBe 3

    // purging nothing is a no-op returning 0
    Store.purgeKeys(spark, path,
      Seq((Date.valueOf("2030-01-01"), "NOPE")).toDF("date", "symbol"),
      "date", Seq("date", "symbol")) shouldBe 0L
    spark.read.parquet(path).count() shouldBe 5
  }

  test("purgeKeys refreshes the data-skipping manifest: the audit stays clean " +
    "and pruned scans return the survivors") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-purge-manifest").toString + "/t"
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")
    Store.refreshManifest(spark, path, Seq("file_size_bytes"))
    def scanned(): Seq[Row] =
      Store.scanPruned(spark, path, "file_size_bytes", 0L, Long.MaxValue)
        .df.orderBy("date", "symbol").collect().toSeq
    // one key (its partition is rewritten), then a whole partition (its
    // directory is deleted)
    Store.purgeKeys(spark, path, Seq((Date.valueOf("2024-01-15"), "BTCUSDT"))
      .toDF("date", "symbol"), "date", Seq("date", "symbol")) shouldBe 1L
    Store.manifestAudit(spark, path).count() shouldBe 0L
    scanned() shouldBe spark.read.parquet(path).orderBy("date", "symbol").collect().toSeq
    scanned().size shouldBe 8
    Store.purgeKeys(spark, path, Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
      .map(s => (Date.valueOf("2024-01-16"), s)).toDF("date", "symbol"),
      "date", Seq("date", "symbol")) shouldBe 3L
    Store.manifestAudit(spark, path).count() shouldBe 0L
    scanned() shouldBe spark.read.parquet(path).orderBy("date", "symbol").collect().toSeq
    scanned().size shouldBe 5
  }

  test("expireBefore drops whole partitions by TTL and filters their manifest rows") {
    val path = Files.createTempDirectory("graft-expire").toString + "/t"
    // grid() writes dates 2024-01-15..17, 3 symbols each.
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")
    Store.refreshManifest(spark, path, Seq("file_size_bytes"))
    val before = spark.read.parquet(Store.manifestPath(path)).count()
    before should be >= 3L

    Store.expireBefore(spark, path, "date", "2024-01-17") shouldBe 2L
    new java.io.File(s"$path/date=2024-01-15").exists() shouldBe false
    new java.io.File(s"$path/date=2024-01-16").exists() shouldBe false
    val after = spark.read.parquet(path)
    after.count() shouldBe 3
    after.select("date").distinct().collect()
      .map(_.getDate(0).toString).toSeq shouldBe Seq("2024-01-17")
    // The manifest lost exactly the expired dirs' rows: a pruned scan
    // over the survivors still works and references no deleted file.
    val scan = Store.scanPruned(spark, path, "file_size_bytes", 0L, Long.MaxValue)
    scan.df.count() shouldBe 3
    scan.filesTotal should be < before
    // Expiring again at the same cutoff is a no-op.
    Store.expireBefore(spark, path, "date", "2024-01-17") shouldBe 0L
    spark.read.parquet(path).count() shouldBe 3
  }

  test("latestByKey keeps exactly the newest row per key") {
    import spark.implicits._
    val df = Seq(
      ("a", 1, Timestamp.valueOf("2024-01-01 00:00:00"), 10L),
      ("a", 1, Timestamp.valueOf("2024-01-02 00:00:00"), 20L),
      ("b", 2, Timestamp.valueOf("2024-01-01 00:00:00"), 30L))
      .toDF("k1", "k2", "ts", "v")
    val latest = Store.latestByKey(df, Seq("k1", "k2"), "ts", "v")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    latest shouldBe Map("a" -> 20L, "b" -> 30L)
  }

  test("appendWithOverlapCheck rejects duplicate keys (test_rankings_generation.py:392-415)") {
    import spark.implicits._
    val existing = Seq(("2024-01-15", 1), ("2024-01-16", 2)).toDF("d", "v")
    val dup = Seq(("2024-01-16", 3)).toDF("d", "v")
    val ok = Seq(("2024-01-17", 3)).toDF("d", "v")
    an[IllegalArgumentException] should be thrownBy
      Store.appendWithOverlapCheck(existing, dup, "d")
    Store.appendWithOverlapCheck(existing, ok, "d").count() shouldBe 3
  }

  test("appendDeduped drops stored and intra-batch duplicate content") {
    import spark.implicits._
    val existing = Seq((1L, "alpha body"), (2L, "beta body")).toDF("id", "text")
    val batch = Seq(
      (10L, "alpha body"),   // already stored → dropped
      (11L, "gamma body"),   // new → kept
      (12L, "gamma body"),   // intra-batch dup, later id → dropped
      (13L, "delta body"))   // new → kept
      .toDF("id", "text")
    val appended = Store.appendDeduped(existing, batch, "text", tieBreak = "id")
    appended.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(11L, 13L)
    appended.columns.toSeq shouldBe Seq("id", "text") // helper cols dropped
    // Idempotent: re-appending the same batch after the store absorbed
    // it yields nothing.
    val absorbed = existing.unionByName(appended)
    Store.appendDeduped(absorbed, batch, "text", tieBreak = "id").count() shouldBe 0L
    // NULL content is rejected, not endlessly re-appended (a null hash
    // never matches the anti-join, so it would otherwise pass every run).
    val nullBatch = Seq((20L, null.asInstanceOf[String]), (21L, "iota body"))
      .toDF("id", "text")
    Store.appendDeduped(absorbed, nullBatch, "text", tieBreak = "id")
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(21L)
  }

  test("compact collapses small files per partition and preserves every row") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-compact").toString + "/t"
    // 3 partitions x 8 ingest-batch files each, deliberately tiny
    val df = (1 to 600).map(i => (s"p${i % 3}", i.toLong, s"row-$i"))
      .toDF("part", "id", "payload")
    df.repartition(8).write.partitionBy("part").parquet(path)
    val beforeRows = spark.read.parquet(path).orderBy("id").collect()

    val (nBefore, nAfter) = Store.compact(spark, path, "part", targetBytes = 512L << 20)

    nBefore should be >= 24L // 8 files per partition dir
    nAfter shouldBe 3L       // far under target: one file per partition
    val afterRows = spark.read.parquet(path).orderBy("id").collect()
    afterRows shouldBe beforeRows
    // live dir only — no temp/backup remnants
    new java.io.File(path + ".compacting").exists() shouldBe false
    new java.io.File(path + ".pre-compact").exists() shouldBe false
  }

  test("compact widths scale with partition bytes, and special chars in values survive") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-compact2").toString + "/t"
    // one big partition (skewed), one tiny, one with a char Spark %-escapes,
    // one with a '+' (which URL decoding would turn into a space) and the
    // NULL default partition; payload must not compress away or the
    // byte-based widths stay at 1
    def blob(i: Int) = (1 to 8).map(k => (i * 2654435761L + k * 40503L).toHexString).mkString(":")
    val big = (1 to 4000).map(i => ("big", i.toLong, blob(i)))
    val rest = Seq(("tiny", 9000L, "y"), ("a b:c", 9001L, "z"), ("c++", 9002L, "w"),
      (null: String, 9003L, "v"))
    (big ++ rest).toDF("part", "id", "payload")
      .repartition(4).write.partitionBy("part").parquet(path)
    val before = spark.read.parquet(path).orderBy("id").collect()

    // ~small target so the big partition needs many files (width >> 1;
    // actual file count is <= width under hash routing, but the odds of
    // every salt colliding into one task are negligible at this width)
    val (_, nAfter) = Store.compact(spark, path, "part", targetBytes = 8L << 10)

    spark.read.parquet(path).orderBy("id").collect() shouldBe before
    val bigFiles = Option(new java.io.File(path + "/part=big").listFiles())
      .getOrElse(Array.empty).count(f => f.getName.endsWith(".parquet"))
    bigFiles should be > 1
    nAfter should be > 3L
  }

  test("compact rebuilds the data-skipping manifest before the swap — pruning works immediately") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-compact3").toString + "/t"
    // id ranges disjoint per partition so a manifest scan can skip files
    val df = (1 to 900).map(i => (s"p${i / 300}", i.toLong, s"row-$i"))
      .toDF("part", "id", "payload")
    df.repartition(6).write.partitionBy("part").parquet(path)
    Store.refreshManifest(spark, path, Seq("id"))

    Store.compact(spark, path, "part", targetBytes = 512L << 20)

    // NO manual refreshManifest here — compact must have republished it
    // against the rewritten file names atomically with the swap.
    val p = Store.scanPruned(spark, path, "id", 850L, 860L)
    p.filesTotal shouldBe 4L           // one rewritten file per partition (p0..p3)
    p.filesRead should be < p.filesTotal // stale/missing manifest would read 0 or all
    p.df.count() shouldBe 11L
    // the manifest's file names point at LIVE files (stale ones are gone)
    val manifested = spark.read.parquet(Store.manifestPath(path))
      .select("file").as[String].collect()
    manifested.foreach { f =>
      new java.io.File(new java.net.URI(f).getPath).exists() shouldBe true
    }
  }

  test("addColumns is additive and idempotent (schema.py:9-42 migration)") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "s")
    val migrated = Store.addColumns(df, Map(
      "quote_volume_usdt" -> DoubleType, "id" -> LongType))
    migrated.columns.toSeq shouldBe Seq("id", "s", "quote_volume_usdt")
    migrated.schema("id").dataType shouldBe IntegerType // existing untouched
    migrated.select("quote_volume_usdt").collect().head.isNullAt(0) shouldBe true
  }

  test("versioned store: publish, time-travel, O(1) rollback, vacuum keeps live") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft-versioned").toString

    Versioned.latestVersion(spark, root) shouldBe None
    val v0 = Versioned.write(spark, root, Seq((1L, "a")).toDF("id", "s"))
    val v1 = Versioned.write(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    (v0, v1) shouldBe ((0L, 1L))

    Versioned.readLatest(spark, root).count() shouldBe 2
    Versioned.read(spark, root, v0).count() shouldBe 1 // time travel

    Versioned.rollback(spark, root, v0)
    Versioned.readLatest(spark, root).count() shouldBe 1
    an[Exception] should be thrownBy Versioned.rollback(spark, root, 99L)

    // v0 is live: vacuum(keep = 1) may drop only non-live, non-recent
    // versions — v1 is the single most recent, v0 is live → none doomed.
    Versioned.vacuum(spark, root, keep = 1) shouldBe Seq.empty
    val v2 = Versioned.write(spark, root, Seq((3L, "c")).toDF("id", "s"))
    // live moved to v2; keep=1 retains v2; v0/v1 dropped
    Versioned.vacuum(spark, root, keep = 1).toSet shouldBe Set(0L, 1L)
    Versioned.versions(spark, root) shouldBe Seq(v2)
    Versioned.readLatest(spark, root).count() shouldBe 1
  }

  test("data-skipping manifest: z-ordered layout + manifest reads fewer files, same rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-skip").toString + "/t"
    // Orders-shaped data clustered on (custkey, orderkey): the Z-layout
    // gives each of the 8 files a bounded envelope in BOTH columns.
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    Store.writeZOrdered(df, path, "o_custkey", "o_orderkey", files = 8)
    Store.refreshManifest(spark, path, Seq("o_custkey", "o_orderkey"))

    val (lo, hi) = (10L, 60L) // narrow custkey band
    val pruned = Store.scanPruned(spark, path, "o_custkey", lo, hi)
    pruned.filesTotal shouldBe 8L
    withClue("selective predicate must skip whole files: ") {
      pruned.filesRead should be < pruned.filesTotal
    }
    pruned.filesRead should be > 0L
    // identical result to the unpruned scan — skipping must be lossless
    val expected = spark.read.parquet(path)
      .filter($"o_custkey" >= lo && $"o_custkey" <= hi)
      .orderBy("o_orderkey").collect()
    pruned.df.orderBy("o_orderkey").collect() shouldBe expected
    // and the SECOND clustered dimension prunes too (the point of Z
    // over a linear sort)
    val byOrder = Store.scanPruned(spark, path, "o_orderkey", 1L, 400L)
    byOrder.filesRead should be < byOrder.filesTotal
    byOrder.df.count() shouldBe
      spark.read.parquet(path).filter($"o_orderkey".between(1L, 400L)).count()
  }

  test("scanPruned reads a manifest over escaped partition dirs (timestamp partitions)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-skipesc").toString + "/t"
    // a timestamp partition value is written as `hour=2024-01-14 02%3A00%3A00`,
    // which the manifest's input_file_name URIs escape once more
    (1 to 30).map(i => (Timestamp.valueOf(s"2024-01-14 0${i / 10}:00:00"), i.toLong))
      .toDF("hour", "id").coalesce(1).write.partitionBy("hour").parquet(path)
    Store.refreshManifest(spark, path, Seq("id"))

    val pruned = Store.scanPruned(spark, path, "id", 10L, 15L)
    (pruned.filesRead, pruned.filesTotal) shouldBe ((1L, 4L))
    val expected = spark.read.parquet(path).filter($"id".between(10L, 15L))
      .orderBy("id").collect()
    expected.length shouldBe 6
    pruned.df.orderBy("id").collect() shouldBe expected
  }

  test("upsert maintains the manifest incrementally for touched partitions only") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-skipup").toString + "/t"
    val stats = Seq("file_size_bytes")
    Store.writePartitioned(grid("2024-01-18 02:00:00", 8000000L), path, "date")
    Store.refreshManifest(spark, path, stats)
    val before = spark.read.parquet(Store.manifestPath(path))
      .as[(String, Long, Long, Long)].collect().map { case (f, n, lo, hi) => f -> ((n, lo, hi)) }.toMap

    // Re-probe ONE date with bigger sizes through the stats-aware upsert.
    val reprobe = grid("2024-01-19 02:00:00", 9000000L)
      .filter($"date" === Date.valueOf("2024-01-16"))
    Store.upsert(spark, path, reprobe, "date", Seq("date", "symbol"),
      "probe_timestamp", "file_size_bytes", statsCols = stats)

    val after = spark.read.parquet(Store.manifestPath(path))
      .as[(String, Long, Long, Long)].collect().map { case (f, n, lo, hi) => f -> ((n, lo, hi)) }.toMap
    // untouched partitions keep their EXACT manifest rows (same files)
    val untouchedBefore = before.filter(!_._1.contains("/date=2024-01-16/"))
    val untouchedAfter = after.filter(!_._1.contains("/date=2024-01-16/"))
    untouchedAfter shouldBe untouchedBefore
    // the touched partition's row reflects the new file + new stats
    val touched = after.filter(_._1.contains("/date=2024-01-16/"))
    touched should not be empty
    touched.values.foreach { case (_, lo, hi) =>
      lo should be >= 9000000L
      hi should be >= 9000000L
    }
    // and the incremental manifest == a from-scratch rebuild
    Store.refreshManifest(spark, path, stats)
    val rebuilt = spark.read.parquet(Store.manifestPath(path))
      .as[(String, Long, Long, Long)].collect().map { case (f, n, lo, hi) => f -> ((n, lo, hi)) }.toMap
    after shouldBe rebuilt
    // pruning works against the refreshed manifest end to end
    val p = Store.scanPruned(spark, path, "file_size_bytes", 9000000L, 9100000L)
    p.filesRead should be < p.filesTotal
    p.df.count() shouldBe 3L // the three re-probed symbols
  }

  test("bloom manifest: point lookup reads only matching files, " +
    "never loses a row, and an absent key prunes everything") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-bloom").toString + "/t"
    // symbol is HIGH-cardinality and unsorted within partitions — the
    // zonemap's min/max envelope cannot prune an equality probe on it
    val rows = (0 until 300).map { i =>
      (Date.valueOf(s"2024-01-${15 + i % 3}"), s"SYM${i}USDT", 1000L + i)
    }.toDF("date", "symbol", "file_size_bytes")
    Store.writePartitioned(rows, path, "date")
    Store.refreshBloomManifest(spark, path, "symbol")

    // present key: exact rows back, and the filter pruned to one file
    val hit = Store.scanBloomPruned(spark, path, "symbol", "SYM42USDT")
    hit.df.select("file_size_bytes").as[Long].collect().toSeq shouldBe Seq(1042L)
    hit.filesRead should be < hit.filesTotal
    hit.filesTotal should be >= 3L // one or more files per date partition
    // every planted key is findable — no false negatives by construction
    (0 until 300 by 37).foreach { i =>
      Store.scanBloomPruned(spark, path, "symbol", s"SYM${i}USDT")
        .df.count() shouldBe 1L
    }
    // absent key: all probes miss (deterministic for this fixture)
    val miss = Store.scanBloomPruned(spark, path, "symbol", "NOPEUSDT")
    miss.filesRead shouldBe 0L
    miss.df.count() shouldBe 0L
  }

  // ---- recover: crash-window repair for the two-phase swaps -----------

  /** A live 2-partition table plus a row-count-verified "rewrite" copy
    * of it, from which each compact crash state can be staged by doing
    * exactly the renames `compact` would have done up to the kill
    * point.
    */
  private def crashFixture(): (String, java.io.File, java.io.File, java.io.File, Long) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-recover").toString
    val path = s"$root/t"
    val rows = (1L to 40L).map(i => (i, s"p${i % 2}")).toDF("v", "part")
    Store.writePartitioned(rows, path, "part")
    Store.refreshManifest(spark, path, Seq("v"))
    // the "rewrite": a verified byte copy of the live table, manifest
    // included — like compact's real tmp, its manifest rows name the
    // POST-swap (live) locations, so a roll-forward publishes a
    // consistent table+manifest unit
    copyTree(new java.io.File(path), new java.io.File(s"$root/rewrite"))
    (path, new java.io.File(path), new java.io.File(path + ".compacting"),
      new java.io.File(path + ".pre-compact"), 40L)
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    val s = src.toPath; val d = dst.toPath
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  private def assertHealthy(path: String, n: Long): Unit = {
    spark.read.parquet(path).count() shouldBe n
    Store.manifestAudit(spark, path).count() shouldBe 0L
    new java.io.File(path + ".compacting").exists() shouldBe false
    new java.io.File(path + ".pre-compact").exists() shouldBe false
    // idempotent: a second pass finds nothing to do
    Store.recover(spark, path) shouldBe empty
  }

  test("recover: kill during the tmp rewrite — live untouched, tmp dropped") {
    val (path, _, tmp, _, n) = crashFixture()
    copyTree(new java.io.File(path.stripSuffix("/t") + "/rewrite"), tmp)
    Store.recover(spark, path).head should include("aborted compaction rewrite")
    assertHealthy(path, n)
  }

  test("recover: kill between the two swap renames — rolled FORWARD to " +
    "the verified rewrite") {
    val (path, live, tmp, bak, n) = crashFixture()
    copyTree(new java.io.File(path.stripSuffix("/t") + "/rewrite"), tmp)
    live.renameTo(bak) shouldBe true // rename 1 happened, rename 2 did not
    Store.recover(spark, path).head should include("rolled forward")
    assertHealthy(path, n)
  }

  test("recover: kill after the swap, before the backup delete — backup dropped") {
    val (path, live, _, bak, n) = crashFixture()
    copyTree(live, bak) // swap complete; stale backup remains
    Store.recover(spark, path).head should include("completed-compaction backup")
    assertHealthy(path, n)
  }

  test("recover: backup present with no tmp and no live — rolled back") {
    val (path, live, _, bak, n) = crashFixture()
    live.renameTo(bak) shouldBe true
    Store.recover(spark, path).head should include("rolled back")
    assertHealthy(path, n)
  }

  test("compact self-heals a swap-window strand before compacting") {
    import spark.implicits._
    val (path, live, tmp, bak, n) = crashFixture()
    copyTree(new java.io.File(path.stripSuffix("/t") + "/rewrite"), tmp)
    live.renameTo(bak) shouldBe true // stranded between the two renames
    // a direct compact on the stranded table must recover, then compact
    Store.compact(spark, path, "part", targetBytes = 512L << 20)
    assertHealthy(path, n)
  }

  test("recover: healthy table is a no-op; stale _temporary staging is swept") {
    val (path, live, _, _, n) = crashFixture()
    Store.recover(spark, path) shouldBe empty
    new java.io.File(live, "_temporary/0").mkdirs() shouldBe true
    Store.recover(spark, path).head should include("_temporary")
    assertHealthy(path, n)
  }

  test("versioned recover: a write killed between its publish record and " +
    "its marker leaves v=0 live; recover drops the record and reports v=1") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft-vrec").toString
    Versioned.write(spark, root, Seq(1, 2).toDF("v"))       // v=0 published
    // the flip's window: v=1 committed, its publish record created, its
    // _latest.v=1 marker never
    Seq(1, 2, 3).toDF("v").write.parquet(s"$root/v=1")
    val record = new java.io.File(root, "_published.v=1")
    record.createNewFile() shouldBe true
    Versioned.recover(spark, root).head should include("v=1")
    record.exists() shouldBe false
    Versioned.readLatest(spark, root).count() shouldBe 2
    // idempotent on a clean root
    Versioned.recover(spark, root) shouldBe empty
  }

  test("versioned readers mid-publish: between a flip's publish record and " +
    "its marker, readers resolve v=0 and the next write heals the record") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft-vmid").toString
    Versioned.write(spark, root, Seq(1, 2).toDF("v"))       // v=0 published
    Seq(1, 2, 3).toDF("v").write.parquet(s"$root/v=1")
    val record = new java.io.File(root, "_published.v=1")
    record.createNewFile() shouldBe true
    Versioned.latestVersion(spark, root) shouldBe Some(0L)
    Versioned.readLatest(spark, root).count() shouldBe 2
    record.exists() shouldBe true                            // readers never repair
    // the next publish skips the crashed number and heals its record
    Versioned.write(spark, root, Seq(4).toDF("v")) shouldBe 2L
    record.exists() shouldBe false
    Versioned.readLatest(spark, root).count() shouldBe 1
  }

  test("versioned write killed after its data write, before its publish " +
    "record: v=0 stays live, rollback refuses the partial v=1, the next " +
    "write skips its number and vacuum reclaims it") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft-vorphan").toString
    Versioned.write(spark, root, Seq(1, 2).toDF("v"))       // v=0 published
    Seq(1, 2, 3).toDF("v").write.parquet(s"$root/v=1")      // no record, no marker
    Versioned.latestVersion(spark, root) shouldBe Some(0L)
    an[IllegalArgumentException] should be thrownBy Versioned.rollback(spark, root, 1L)
    Versioned.readLatest(spark, root).count() shouldBe 2
    Versioned.write(spark, root, Seq(4).toDF("v")) shouldBe 2L
    // keep = 2 retains the published v=0; the orphan never counts
    Versioned.vacuum(spark, root, keep = 2) shouldBe Seq(1L)
    Versioned.versions(spark, root) shouldBe Seq(0L, 2L)
  }

  test("versioned rollback killed after its new marker, before the higher " +
    "marker's delete: the old live version stands, a retry completes it") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft-vroll").toString
    Versioned.write(spark, root, Seq(1, 2).toDF("v"))
    Versioned.write(spark, root, Seq(1, 2, 3).toDF("v"))    // v=1 live
    new java.io.File(root, "_latest.v=0").createNewFile() shouldBe true
    Versioned.latestVersion(spark, root) shouldBe Some(1L)
    Versioned.readLatest(spark, root).count() shouldBe 3
    Versioned.rollback(spark, root, 0L)
    Versioned.latestVersion(spark, root) shouldBe Some(0L)
    new java.io.File(root).list().filter(_.startsWith("_latest")).toSeq shouldBe
      Seq("_latest.v=0")
  }

  test("versioned rollback past a version and forward over it: the retired " +
    "versions keep their publish records, so recover leaves them and vacuum " +
    "keeps the newest superseded one") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft-vretire").toString
    (0 to 2).foreach(i => Versioned.write(spark, root, Seq.fill(i + 1)(i).toDF("v")))
    Versioned.rollback(spark, root, 0L)
    Versioned.recover(spark, root) shouldBe empty            // nothing crashed
    Versioned.rollback(spark, root, 2L)
    Versioned.vacuum(spark, root, keep = 2) shouldBe Seq(0L)
    Versioned.versions(spark, root) shouldBe Seq(1L, 2L)
    Versioned.rollback(spark, root, 1L)
    Versioned.readLatest(spark, root).count() shouldBe 2
    // once live is above them, vacuum reclaims them with their records
    Versioned.write(spark, root, Seq(3).toDF("v")) shouldBe 3L
    Versioned.vacuum(spark, root, keep = 1) shouldBe Seq(1L, 2L)
    new java.io.File(root).list().filter(n => n.startsWith("_published") ||
      n.startsWith("_retired")).toSeq shouldBe Seq("_published.v=3")
  }

  test("versioned root written by the single-file pointer: reads its live " +
    "version, rolls back before any write, and the next write migrates it") {
    import spark.implicits._
    import graft.ops.Versioned
    def legacyRoot(): String = {
      val root = Files.createTempDirectory("graft-vlegacy").toString
      Seq(1).toDF("v").write.parquet(s"$root/v=0")
      Seq(1, 2).toDF("v").write.parquet(s"$root/v=1")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_latest"), "1")
      root
    }
    val a = legacyRoot()
    Versioned.readLatest(spark, a).count() shouldBe 2
    Versioned.rollback(spark, a, 0L)
    Versioned.readLatest(spark, a).count() shouldBe 1
    val b = legacyRoot()
    Versioned.write(spark, b, Seq(1, 2, 3).toDF("v")) shouldBe 2L
    new java.io.File(b, "_latest").exists() shouldBe false
    Versioned.readLatest(spark, b).count() shouldBe 3
    Versioned.versions(spark, b) shouldBe Seq(0L, 1L, 2L)
  }

  // ---- single-writer lease -------------------------------------------

  test("lease: a second writer is refused while a live lease is held; " +
    "a stale (dead-writer) lease is broken and taken over") {
    val (path, _, _, _, n) = crashFixture()
    // simulate a LIVE concurrent writer: a fresh lease file
    val lease = new java.io.File(path + ".lease")
    java.nio.file.Files.writeString(lease.toPath, "12345@otherhost/live-writer")
    val e = intercept[Store.LeaseHeld](Store.recover(spark, path))
    e.holder should include("otherhost")
    intercept[Store.LeaseHeld](
      Store.compact(spark, path, "part", targetBytes = 512L << 20))
    // the refused attempts must not have destroyed the holder's lease
    lease.exists() shouldBe true
    // simulate the writer DYING: age the lease past the TTL — the next
    // writer breaks it, runs, and releases
    lease.setLastModified(System.currentTimeMillis() - 2 * Store.DefaultLeaseTtlMs) shouldBe true
    Store.recover(spark, path) shouldBe empty
    lease.exists() shouldBe false
    assertHealthy(path, n)
  }

  test("lease: heartbeat keeps a live writer fresh past the nominal TTL; " +
    "released on success and on failure") {
    val (path, _, _, _, _) = crashFixture()
    val lease = new java.io.File(path + ".lease")
    var inner: Option[Store.LeaseHeld] = None
    Store.withLease(spark, path, ttlMs = 600) {
      lease.exists() shouldBe true
      // outlive the nominal TTL: the TTL/3 heartbeat must keep the
      // lease fresh, so a second acquirer is STILL refused
      Thread.sleep(1400)
      inner = Some(intercept[Store.LeaseHeld](
        Store.withLease(spark, path, ttlMs = 600)(())))
    }
    inner.get.ageMs should be < 600L
    lease.exists() shouldBe false // released on success
    intercept[RuntimeException](Store.withLease(spark, path)(sys.error("boom")))
    lease.exists() shouldBe false // released on failure
  }

  test("lease: versioned publish/rollback/recover are mutually excluded " +
    "by the root's writer lease") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft-vlease").toString
    Versioned.write(spark, root, Seq(1).toDF("v"))
    val lease = new java.io.File(root, "_writer.lease")
    java.nio.file.Files.writeString(lease.toPath, "999@elsewhere/live")
    intercept[Store.LeaseHeld](Versioned.write(spark, root, Seq(2).toDF("v")))
    intercept[Store.LeaseHeld](Versioned.rollback(spark, root, 0L))
    intercept[Store.LeaseHeld](Versioned.recover(spark, root))
    intercept[Store.LeaseHeld](Versioned.vacuum(spark, root, keep = 0))
    lease.delete() shouldBe true
    Versioned.write(spark, root, Seq(2).toDF("v")) shouldBe 1L
    lease.exists() shouldBe false
  }

  test("lease: contenders racing to break one stale lease admit at most " +
    "one holder at a time (marker-serialized break, no marker residue)") {
    val (path, _, _, _, _) = crashFixture()
    val lease = new java.io.File(path + ".lease")
    java.nio.file.Files.writeString(lease.toPath, "777@deadhost/stale")
    lease.setLastModified(
      System.currentTimeMillis() - 2 * Store.DefaultLeaseTtlMs) shouldBe true
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 6).map { _ =>
      new Thread(() =>
        try Store.withLease(spark, path) {
          val a = active.incrementAndGet()
          maxActive.getAndUpdate(m => math.max(m, a))
          Thread.sleep(50)
          active.decrementAndGet()
          wins.incrementAndGet()
          ()
        } catch { case _: Store.LeaseHeld => () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // the judged-stale-then-delete break admitted MULTIPLE live writers
    // in exactly this shape (B's staleness judgment predates A's fresh
    // claim; B deletes A's lease) — the marker-serialized break with
    // under-marker re-verification must not
    maxActive.get() shouldBe 1
    wins.get() should be >= 1
    lease.exists() shouldBe false
    // the break-intent marker never outlives the break
    new java.io.File(path).getParentFile.listFiles()
      .count(_.getName.contains(".lease.breaking")) shouldBe 0
  }

  test("lease: a resumed zombie holder fails the publish-time owner fence " +
    "and does not delete the new owner's lease on release") {
    val (path, _, _, _, _) = crashFixture()
    val lease = new java.io.File(path + ".lease")
    // without a held lease frame the fence is a no-op (internal
    // unlocked paths)
    Store.assertLeaseOwner(spark, path)
    Store.withLease(spark, path) {
      // fence passes while the lease still carries our owner bytes
      Store.assertLeaseOwner(spark, path)
      // simulate 'paused past the TTL, broken, re-claimed': the lease
      // file now carries a NEW owner's bytes (drop the checksum sidecar
      // of OUR create — the new owner's create would have replaced it)
      java.nio.file.Files.writeString(lease.toPath, "424242@newhost/new-owner")
      new java.io.File(lease.getParentFile, "." + lease.getName + ".crc").delete()
      val e = intercept[Store.LeaseHeld](Store.assertLeaseOwner(spark, path))
      e.holder should include("newhost")
    }
    // the zombie's release must leave the new owner's lease in place
    lease.exists() shouldBe true
    java.nio.file.Files.readString(lease.toPath) should include("newhost")
    lease.delete() shouldBe true
  }

  test("lease: a breaker overtaken by a zombie release + fresh first-attempt " +
    "claim yields under the marker (owner-byte re-check) instead of deleting " +
    "the successor's lease") {
    val (path, _, _, _, _) = crashFixture()
    val lease = new java.io.File(path + ".lease")
    java.nio.file.Files.writeString(lease.toPath, "777@deadhost/zombie")
    val staleMtime = System.currentTimeMillis() - 2 * Store.DefaultLeaseTtlMs
    lease.setLastModified(staleMtime) shouldBe true
    // Interpose in the breaker's window: after it claims the break
    // marker (and after its stale-owner snapshot), the zombie resumes
    // and RELEASES — deleting its own file — and a first-attempt
    // claimer, which never consults the marker, lands a fresh lease.
    // The fresh lease's mtime is backdated too, so the mtime half of
    // the re-verify alone would still judge stale: only the owner-byte
    // comparison can tell the successor from the zombie here.
    Store.breakRaceHook = () => {
      lease.delete()
      java.nio.file.Files.writeString(lease.toPath, "424242@newhost/successor")
      lease.setLastModified(staleMtime)
      ()
    }
    try {
      val e = intercept[Store.LeaseHeld](Store.withLease(spark, path)(()))
      e.holder should include("newhost")
    } finally Store.breakRaceHook = () => ()
    // the successor's lease survived the overtaken breaker…
    lease.exists() shouldBe true
    java.nio.file.Files.readString(lease.toPath) should include("newhost")
    lease.delete() shouldBe true
    // …and the break-intent marker did not leak
    new java.io.File(path).getParentFile.listFiles()
      .count(_.getName.contains(".lease.breaking")) shouldBe 0
  }
}

object StoreSpec {
  /** The fixture prober, counting its calls (no spec-instance capture). */
  def counting(calls: org.apache.spark.util.LongAccumulator)
      : (String, java.time.LocalDate) => graft.ingest.ProbeResult =
    (s, d) => { calls.add(1); IntegrationSpec.prober(s, d) }
}
