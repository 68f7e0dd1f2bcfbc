package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.functions._
import graft.api.{AvailabilityQueries => AQ, AvailabilityRecord}
import graft.ops.Store

/** Domain-API goldens over the reference's fixture grids
  * (tests/conftest.py:84-122; tests/test_queries/test_snapshots.py;
  * FIXTURES.md §1–§4).
  */
class AvailabilitySpec extends SparkSpec {

  private val ts = Timestamp.valueOf("2024-01-18 02:00:00")

  private def rec(d: String, sym: String, avail: Boolean = true,
                  vol: Option[Double] = None, trades: Option[Long] = None) =
    AvailabilityRecord(Date.valueOf(d), sym, avail,
      if (avail) Some(8000000L + sym.length) else None, None,
      s"https://data.binance.vision/data/futures/um/daily/klines/$sym/1m/$sym-1m-$d.zip",
      if (avail) 200 else 404, ts, vol, trades)

  /** 3 dates × 3 symbols populated grid (conftest.py:84-122). */
  private lazy val grid = {
    import spark.implicits._
    (for {
      d <- Seq("2024-01-15", "2024-01-16", "2024-01-17")
      s <- Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    } yield rec(d, s)).toDF()
  }

  test("snapshot: 3 rows sorted by symbol; out-of-range date → empty (test_snapshots.py:8-82)") {
    val snap = AQ.availableSymbolsOnDate(grid, Date.valueOf("2024-01-15")).collect()
    snap.map(_.getString(0)).toSeq shouldBe Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    AQ.availableSymbolsOnDate(grid, Date.valueOf("2030-01-01")).count() shouldBe 0
  }

  test("open reads the fact table with its declared schema: no job, the rows and " +
    "schema of spark.read.parquet") {
    val path = Files.createTempDirectory("graft-open").toString + "/fact"
    Store.writePartitioned(grid.unionByName(spark.createDataFrame(Seq(
      rec("2024-01-18", "BTCUSDT", vol = Some(1.5), trades = Some(3L)),
      rec("2024-01-18", "XRPUSDT", avail = false)))), path, "date")
    var opened: org.apache.spark.sql.DataFrame = null
    jobDescriptions { opened = AQ.open(spark, path) } shouldBe empty
    val inferred = spark.read.parquet(path)
    opened.schema shouldBe inferred.schema
    opened.collect().toSet shouldBe inferred.collect().toSet
    opened.count() shouldBe 11
  }

  test("range: distinct symbols over the span") {
    AQ.symbolsInRange(grid, Date.valueOf("2024-01-15"), Date.valueOf("2024-01-17"))
      .collect().map(_.getString(0)).toSeq shouldBe Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
  }

  test("timeline + first/last dates for a symbol") {
    AQ.symbolTimeline(grid, "BTCUSDT").count() shouldBe 3
    AQ.firstListingDate(grid, "BTCUSDT").collect()(0).getDate(0).toString shouldBe "2024-01-15"
    AQ.lastAvailableDate(grid, "BTCUSDT").collect()(0).getDate(0).toString shouldBe "2024-01-17"
  }

  test("C3 live shape: frozen-Clock injection pins the trailing-window arithmetic") {
    import java.time.{Clock, Instant, LocalDate, ZoneOffset}
    import spark.implicits._
    // Freeze "today" at 2024-01-18: the 7-day window is [01-11, ∞).
    val clock = Clock.fixed(Instant.parse("2024-01-18T12:00:00Z"), ZoneOffset.UTC)
    val today = LocalDate.now(clock)
    val df = grid.unionByName(Seq(
      rec("2024-01-10", "OLDUSDT"),  // 8 days before frozen today → out
      rec("2024-01-11", "EDGEUSDT")  // exactly today-7 → in (>= boundary)
    ).toDF())
    val out = AQ.recentSymbolCounts(df, days = 7,
        today = lit(java.sql.Date.valueOf(today)))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1))
    out.toSeq shouldBe Seq(       // DESC by date, 2024-01-10 excluded
      "2024-01-17" -> 3L, "2024-01-16" -> 3L, "2024-01-15" -> 3L,
      "2024-01-11" -> 1L)
  }

  test("C3 live shape: default current_date() variant filters relative to the wall clock") {
    import spark.implicits._
    // Session-timezone "today": current_date() resolves in this zone.
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val now = java.time.LocalDate.now(zone)
    // today-1 stays inside a 7-day window even if midnight passes
    // between row construction and query; today-100 stays outside.
    val df = Seq(
      rec(now.minusDays(1).toString, "FRESHUSDT"),
      rec(now.minusDays(100).toString, "STALEUSDT")).toDF()
    val out = AQ.recentSymbolCounts(df).collect()
    out.map(_.getDate(0).toString).toSeq shouldBe Seq(now.minusDays(1).toString)
    out.head.getLong(1) shouldBe 1L
  }

  test("daily counts; new listings and delistings via anti-joins") {
    import spark.implicits._
    val df = grid.unionByName(Seq(
      rec("2024-01-16", "NEWUSDT"),               // listed on the 16th
      rec("2024-01-17", "NEWUSDT", avail = false) // gone on the 17th
    ).toDF())
    AQ.dailyAvailabilityCounts(df).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap shouldBe
      Map("2024-01-15" -> 3L, "2024-01-16" -> 4L, "2024-01-17" -> 3L)
    AQ.newListings(df, Date.valueOf("2024-01-16")).collect()
      .map(_.getString(0)).toSeq shouldBe Seq("NEWUSDT")
    AQ.delistings(df, Date.valueOf("2024-01-17")).collect()
      .map(_.getString(0)).toSeq shouldBe Seq("NEWUSDT")
  }

  /** Volume ladder fixture (FIXTURES.md §4). */
  private lazy val volGrid = {
    import spark.implicits._
    val ladder = Seq("BTCUSDT" -> 1e9, "ETHUSDT" -> 5e8, "SOLUSDT" -> 1e8,
      "BNBUSDT" -> 5e7, "ADAUSDT" -> 1e7)
    (for ((s, v) <- ladder)
      yield rec("2024-01-15", s, vol = Some(v), trades = Some((v / 1000).toLong))).toDF()
  }

  test("top-N by volume: rank, share, percentile (volume.py:40-81)") {
    val top = AQ.topSymbolsByVolume(volGrid, Date.valueOf("2024-01-15"), 3).collect()
    top.map(_.getString(0)).toSeq shouldBe Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    top.head.getAs[Int]("rank") shouldBe 1
    top.head.getAs[Double]("market_share_pct") shouldBe 60.24 +- 0.01
    top.head.getAs[Double]("percentile") shouldBe 80.0
    // min_volume filter drops the tail
    AQ.topSymbolsByVolume(volGrid, Date.valueOf("2024-01-15"), 10,
      minVolume = Some(1e8)).count() shouldBe 3
  }

  test("symbolCountByDateRange: per-day counts restricted to the range (analytics.py:160-204)") {
    import spark.implicits._
    val df = grid.unionByName(Seq(rec("2024-01-16", "NEWUSDT")).toDF())
    AQ.symbolCountByDateRange(df, Date.valueOf("2024-01-15"), Date.valueOf("2024-01-16"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toSeq shouldBe
      Seq("2024-01-15" -> 3L, "2024-01-16" -> 4L) // the 17th is outside the range
  }

  test("volumePercentile: rank over the day cohort for one symbol (volume.py:96-146)") {
    val p = AQ.volumePercentile(volGrid, "ETHUSDT", Date.valueOf("2024-01-15")).collect()
    p.length shouldBe 1
    p.head.getAs[Int]("rank") shouldBe 2
    p.head.getAs[Long]("total_symbols") shouldBe 5L
    p.head.getAs[Double]("percentile") shouldBe 60.0 // (5-2)*100/5
    // no volume row that day → empty frame, the reference's None
    AQ.volumePercentile(volGrid, "NOPEUSDT", Date.valueOf("2024-01-15")).count() shouldBe 0
  }

  test("market summary and average volume aggregate correctly") {
    val ms = AQ.marketSummary(volGrid, Date.valueOf("2024-01-15")).collect()(0)
    ms.getAs[Double]("total_volume_usdt") shouldBe 1.66e9 +- 1
    ms.getAs[Long]("active_symbols") shouldBe 5L
    val av = AQ.averageVolume(volGrid, "BTCUSDT",
      Date.valueOf("2024-01-01"), Date.valueOf("2024-01-31")).collect()(0)
    av.getAs[Double]("avg_volume") shouldBe 1e9
    av.getAs[Long]("n_days") shouldBe 1L
  }

  test("volumeQuantileSketch: exact below k, sample-quantile shape above") {
    import spark.implicits._
    // 10 days × 1 symbol with volumes 1..10 → with k ≥ n the sample is
    // the whole series and the rank selections are EXACT percentiles.
    val days = (1 to 10).map(i => rec(f"2024-01-$i%02d", "BTCUSDT",
      vol = Some(i * 100.0), trades = Some(10L)))
    val df = days.toDF()
    val q = AQ.volumeQuantileSketch(df,
      Date.valueOf("2024-01-01"), Date.valueOf("2024-01-31"), k = 256).collect()
    q.length shouldBe 1
    q.head.getAs[Long]("n_days") shouldBe 10L
    q.head.getAs[Double]("p50_volume") shouldBe 500.0 // ceil(.5·10)=5th of 100..1000
    q.head.getAs[Double]("p90_volume") shouldBe 900.0
    q.head.getAs[Double]("p99_volume") shouldBe 1000.0
    // with k < n it still selects real observed values from the sample
    val small = AQ.volumeQuantileSketch(df,
      Date.valueOf("2024-01-01"), Date.valueOf("2024-01-31"), k = 4).collect().head
    val vols = (1 to 10).map(_ * 100.0).toSet
    vols should contain(small.getAs[Double]("p50_volume"))
    vols should contain(small.getAs[Double]("p99_volume"))
  }

  test("mostAvailableSymbols: bounds bracket true day counts, ranked by lower bound") {
    import spark.implicits._
    // BTC available every day of both months, ETH most, SOL few.
    val rows =
      (1 to 20).map(i => rec(f"2024-01-$i%02d", "BTCUSDT")) ++
      (1 to 20).map(i => rec(f"2024-02-$i%02d", "BTCUSDT")) ++
      (1 to 15).map(i => rec(f"2024-01-$i%02d", "ETHUSDT")) ++
      (1 to 15).map(i => rec(f"2024-02-$i%02d", "ETHUSDT")) ++
      (1 to 3).map(i => rec(f"2024-01-$i%02d", "SOLUSDT")) ++
      Seq(rec("2024-01-25", "ADAUSDT", avail = false)) // unavailable: excluded
    val got = AQ.mostAvailableSymbols(rows.toDF(), m = 100, topK = 2).collect()
    // m=100 per month → complete lists → lb == ub == exact
    got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("BTCUSDT", 40L, 40L), ("ETHUSDT", 30L, 30L))
  }

  test("rankings archive: initial build + incremental append + overlap rejection") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-archive").toString + "/rankings"
    val d1 = (for ((s, v) <- Seq("BTCUSDT" -> 1e9, "ETHUSDT" -> 5e8))
      yield rec("2024-01-15", s, vol = Some(v), trades = Some(1L))).toDF()
    AQ.refreshRankingsArchive(spark, d1, path)
    spark.read.parquet(path).count() shouldBe 2

    val d2 = d1.unionByName((for ((s, v) <- Seq("BTCUSDT" -> 1.1e9))
      yield rec("2024-01-16", s, vol = Some(v), trades = Some(1L))).toDF())
    AQ.refreshRankingsArchive(spark, d2, path) // cursor skips the 15th
    val out = spark.read.parquet(path)
    out.count() shouldBe 3
    out.agg(max("date")).collect()(0).getDate(0).toString shouldBe "2024-01-16"
  }

  test("the daily tick's write path labels every job it runs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tick-labels").toString
    val (fact, archive) = (s"$dir/fact", s"$dir/rankings")
    def day(d: String) = (for ((s, v) <- Seq("BTCUSDT" -> 1e9, "ETHUSDT" -> 5e8))
      yield rec(d, s, vol = Some(v), trades = Some(1L))).toDF()
    Store.writePartitioned(day("2024-01-15"), fact, "date")
    AQ.refreshRankingsArchive(spark, spark.read.parquet(fact), archive)

    val upsertJobs = jobDescriptions(Store.upsert(spark, fact, day("2024-01-16"), "date",
      Seq("date", "symbol"), "probe_timestamp", "status_code"))
    val df = spark.read.parquet(fact)
    val refreshJobs = jobDescriptions(AQ.refreshRankingsArchive(spark, df, archive))
    upsertJobs should not be empty
    upsertJobs.distinct shouldBe Seq("store:upsert")
    refreshJobs should not be empty
    refreshJobs.distinct shouldBe Seq("rankings:refresh")
    spark.read.parquet(archive).count() shouldBe 4
  }

  // ---- rankings refresh: append + fold ---------------------------------

  /** One day of three symbols whose volumes reshuffle the ranks day to
    * day; `vol = false` probes the day with no volume at all.
    */
  private def volDay(d: java.time.LocalDate, vol: Boolean = true, scale: Double = 1.0) = {
    import spark.implicits._
    val k = d.getDayOfYear
    Seq("BTCUSDT", "ETHUSDT", "SOLUSDT").zipWithIndex.map { case (s, i) =>
      rec(d.toString, s, vol = if (vol) Some(scale * 1e6 * (1 + (k * (i + 2)) % 7)) else None,
        trades = Some(k.toLong))
    }.toDF()
  }

  /** What the refresh ranks: the rankings pipeline over `df`'s rows. */
  private def ranked(df: org.apache.spark.sql.DataFrame, stamp: Option[Timestamp] = None) =
    graft.ops.Rankings.pipeline(
      df.filter(col("available") && col("quote_volume_usdt").isNotNull)
        .select(col("date"), col("symbol"), col("quote_volume_usdt").as("volume"),
          col("trade_count")), stamp)

  private def archiveRows(archive: String): Seq[org.apache.spark.sql.Row] = {
    val cols = ranked(volDay(java.time.LocalDate.parse("2024-01-01"))).columns.map(col)
    spark.read.parquet(archive).select(cols.toIndexedSeq: _*).collect().toSeq
  }

  private def archiveFiles(archive: String): Seq[String] =
    new java.io.File(archive).listFiles().toSeq.map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted

  test("rankings refresh: new day, no-volume day, re-probe, fold — the archive is " +
    "the union of the per-slice pipelines") {
    import java.time.LocalDate
    val dir = Files.createTempDirectory("graft-archive-slices").toString
    val (fact, archive) = (s"$dir/fact", s"$dir/rankings")
    val d0 = LocalDate.parse("2024-01-01")
    def upsert(b: org.apache.spark.sql.DataFrame): Unit = Store.upsert(spark, fact, b, "date",
      Seq("date", "symbol"), "probe_timestamp", "status_code")
    Store.writePartitioned((0 until 3).map(i => volDay(d0.plusDays(i))).reduce(_ unionByName _),
      fact, "date")
    AQ.refreshRankingsArchive(spark, spark.read.parquet(fact), archive) // first build
    var expected = ranked(spark.read.parquet(fact)).collect().toSeq
    /** Refresh, and expect the slice of the days after `cursor` appended. */
    def tick(cursor: LocalDate): Unit = {
      val slice = ranked(spark.read.parquet(fact).filter(col("date") > lit(Date.valueOf(cursor))))
        .collect().toSeq
      AQ.refreshRankingsArchive(spark, spark.read.parquet(fact), archive)
      expected = expected ++ slice
      archiveRows(archive) should contain theSameElementsAs expected
    }

    upsert(volDay(d0.plusDays(3))) // a new day
    tick(d0.plusDays(2))
    val files = archiveFiles(archive)
    upsert(volDay(d0.plusDays(4), vol = false)) // a day with no volume: no file
    tick(d0.plusDays(3))
    archiveFiles(archive) shouldBe files
    // a re-probe of an archived day rides along with the next new day: the
    // archived day keeps its ranks, the slice is the days after the cursor
    upsert(volDay(d0.plusDays(2), scale = 3.0)
      .withColumn("probe_timestamp", lit(Timestamp.valueOf("2024-02-01 02:00:00")))
      .unionByName(volDay(d0.plusDays(5))))
    tick(d0.plusDays(3))
    // new days until the archive folds
    var day = 6
    while (archiveFiles(archive).size <= AQ.ArchiveFoldFiles) {
      volDay(d0.plusDays(day)).write.mode("append").partitionBy("date").parquet(fact)
      tick(d0.plusDays(day - 1))
      day += 1
    }
    volDay(d0.plusDays(day)).write.mode("append").partitionBy("date").parquet(fact)
    tick(d0.plusDays(day - 1)) // the fold tick
    archiveFiles(archive).size should be < AQ.ArchiveFoldFiles
  }

  test("rankings refresh: the fold keeps the file count bounded and the rows unchanged") {
    import java.time.LocalDate
    val archive = Files.createTempDirectory("graft-archive-fold").toString + "/rankings"
    val d0 = LocalDate.parse("2024-03-01")
    var df = volDay(d0)
    AQ.refreshRankingsArchive(spark, df, archive)
    var folds = 0
    for (i <- 1 to AQ.ArchiveFoldFiles + 2) {
      val before = archiveRows(archive)
      val filesBefore = archiveFiles(archive)
      df = df.unionByName(volDay(d0.plusDays(i)))
      AQ.refreshRankingsArchive(spark, df, archive)
      val after = archiveRows(archive)
      after should contain theSameElementsAs
        (before ++ ranked(volDay(d0.plusDays(i))).collect())
      val files = archiveFiles(archive)
      files.size should be <= AQ.ArchiveFoldFiles + 1
      if (filesBefore.size > AQ.ArchiveFoldFiles) {
        folds += 1
        files.intersect(filesBefore) shouldBe empty // rewritten in one pass
      } else files.diff(filesBefore).size shouldBe 1 // one appended file
    }
    folds shouldBe 1
  }

  test("rankings refresh: a reader opened before an append keeps counting its old rows") {
    import java.time.LocalDate
    val archive = Files.createTempDirectory("graft-archive-reader").toString + "/rankings"
    val d0 = LocalDate.parse("2024-04-01")
    AQ.refreshRankingsArchive(spark, volDay(d0), archive)
    val reader = spark.read.parquet(archive)
    val n = reader.count()
    AQ.refreshRankingsArchive(spark, volDay(d0).unionByName(volDay(d0.plusDays(1))), archive)
    reader.count() shouldBe n
    spark.read.parquet(archive).count() shouldBe n + 3
  }

  test("rankings refresh: a one-day refresh runs at most 4 jobs, all labelled") {
    import java.time.LocalDate
    val dir = Files.createTempDirectory("graft-archive-jobs").toString
    val (fact, archive) = (s"$dir/fact", s"$dir/rankings")
    val d0 = LocalDate.parse("2024-05-01")
    Store.writePartitioned(volDay(d0).unionByName(volDay(d0.plusDays(1))), fact, "date")
    AQ.refreshRankingsArchive(spark, spark.read.parquet(fact), archive)
    volDay(d0.plusDays(2)).write.mode("append").partitionBy("date").parquet(fact)
    val df = spark.read.parquet(fact)
    val jobs = jobDescriptions(AQ.refreshRankingsArchive(spark, df, archive))
    jobs should not be empty
    jobs.size should be <= 4
    jobs.distinct shouldBe Seq("rankings:refresh")
    spark.read.parquet(archive).count() shouldBe 9
  }

  test("rankings refresh: a slice whose schema differs from the archive's is refused " +
    "before any file is written") {
    import java.time.LocalDate
    val archive = Files.createTempDirectory("graft-archive-schema").toString + "/rankings"
    val d0 = LocalDate.parse("2024-06-01")
    Store.exportParquet(ranked(volDay(d0), Some(Timestamp.valueOf("2024-06-02 00:00:00"))),
      archive)
    val files = archiveFiles(archive)
    val e = intercept[IllegalArgumentException](AQ.refreshRankingsArchive(spark,
      volDay(d0).unionByName(volDay(d0.plusDays(1))), archive))
    e.getMessage should include ("generation_timestamp")
    archiveFiles(archive) shouldBe files
  }

  test("rankings refresh: an archive file without Spark's schema in its footer is " +
    "folded, not appended to") {
    import java.time.LocalDate
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types._
    val archive = Files.createTempDirectory("graft-archive-foreign").toString + "/rankings"
    val d0 = LocalDate.parse("2024-07-01")
    AQ.refreshRankingsArchive(spark, volDay(d0), archive)
    // Rewrite the archive with parquet's example writer, which stores no
    // Spark row metadata.
    val schema = spark.read.parquet(archive).schema
    val rows = spark.read.parquet(archive).collect()
    archiveFiles(archive).foreach(n => new java.io.File(s"$archive/$n").delete())
    val conf = spark.sparkContext.hadoopConfiguration
    val pschema = new SparkToParquetSchemaConverter(new SQLConf).convert(schema)
    val groups = new SimpleGroupFactory(pschema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$archive/part-0.parquet"))
      .withConf(conf).withType(pschema).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.zipWithIndex.filter { case (_, i) => !r.isNullAt(i) }.foreach {
        case (f, i) => f.dataType match {
          case DateType => g.add(f.name, r.getDate(i).toLocalDate.toEpochDay.toInt)
          case StringType => g.add(f.name, r.getString(i))
          case DoubleType => g.add(f.name, r.getDouble(i))
          case FloatType => g.add(f.name, r.getFloat(i))
          case LongType => g.add(f.name, r.getLong(i))
          case ShortType => g.add(f.name, r.getShort(i).toInt)
          case ByteType => g.add(f.name, r.getByte(i).toInt)
        }
      }
      w.write(g)
    } finally w.close()
    val before = archiveRows(archive)
    AQ.refreshRankingsArchive(spark, volDay(d0).unionByName(volDay(d0.plusDays(1))), archive)
    archiveFiles(archive) should not contain "part-0.parquet" // rewritten in one pass
    archiveRows(archive) should contain theSameElementsAs
      (before ++ ranked(volDay(d0.plusDays(1))).collect())
  }

  test("crossCheckSymbols tags only_db / only_api / both (cross_check.py:79-137)") {
    import spark.implicits._
    val api = Seq("BTCUSDT", "ETHUSDT", "FRESHUSDT").toDF("symbol")
    val out = AQ.crossCheckSymbols(grid, api, Date.valueOf("2024-01-15"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    out.toSet shouldBe Set(
      ("BTCUSDT", "both"), ("ETHUSDT", "both"),
      ("SOLUSDT", "only_db"), ("FRESHUSDT", "only_api"))
  }

  test("validators: continuity gaps and incomplete dates") {
    import spark.implicits._
    val gappy = Seq(rec("2024-01-15", "BTCUSDT"), rec("2024-01-17", "BTCUSDT")).toDF()
    AQ.continuityGaps(spark, gappy, "2024-01-15", "2024-01-17")
      .collect().map(_.getDate(0).toString).toSeq shouldBe Seq("2024-01-16")
    AQ.incompleteDates(grid, 3L).count() shouldBe 0
    AQ.incompleteDates(grid.filter(col("symbol") =!= "BTCUSDT" ||
      col("date") =!= Date.valueOf("2024-01-16")), 3L)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("2024-01-16")
  }

  test("sampleDays: k days per symbol, deterministic across layouts") {
    import spark.implicits._
    val days = (1 to 30).map(i => rec(f"2024-01-$i%02d", "BTCUSDT")) ++
      (1 to 3).map(i => rec(f"2024-01-$i%02d", "ETHUSDT"))
    val df = days.toDF()
    val got = AQ.sampleDays(df, k = 5).collect()
    got.count(_.getAs[String]("symbol") == "BTCUSDT") shouldBe 5
    got.count(_.getAs[String]("symbol") == "ETHUSDT") shouldBe 3 // whole small group
    val again = AQ.sampleDays(df.repartition(7), k = 5).collect()
    again.map(r => (r.getAs[String]("symbol"), r.getAs[Date]("date").toString)).toSet shouldBe
      got.map(r => (r.getAs[String]("symbol"), r.getAs[Date]("date").toString)).toSet
  }
}
