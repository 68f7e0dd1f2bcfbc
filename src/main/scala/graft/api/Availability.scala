package graft.api

import java.sql.{Date, Timestamp}
import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.ops.{Concurrent, Exact, Rankings, Relational, Store, Validation, Windowed}

/** The 17-column fact row (reference: database/schema.py:68-95; probe
  * fields s3_vision.py:24-34; ADR-0007 volume columns nullable for the
  * 2019 gap).
  */
case class AvailabilityRecord(
    date: Date,
    symbol: String,
    available: Boolean,
    file_size_bytes: Option[Long],
    last_modified: Option[Timestamp],
    url: String,
    status_code: Int,
    probe_timestamp: Timestamp,
    quote_volume_usdt: Option[Double] = None,
    trade_count: Option[Long] = None,
    volume_base: Option[Double] = None,
    taker_buy_volume_base: Option[Double] = None,
    taker_buy_quote_volume_usdt: Option[Double] = None,
    open_price: Option[Double] = None,
    high_price: Option[Double] = None,
    low_price: Option[Double] = None,
    close_price: Option[Double] = None)

/** The reference's user-facing query API (the queries package), re-expressed as
  * pure DataFrame transforms over the availability fact table. A user of
  * the reference calls the same operations with the same semantics; each
  * returns a DataFrame whose plan pushes filters into the scan.
  *
  * Small sorted results finish on one partition. Each sorted result here
  * holds at most one row per date or per symbol, and a global `orderBy`
  * over a parallel input plans a range-partitioned exchange: one job
  * samples the input for the range bounds (for a full-history call, a
  * second read of every date file), one writes the shuffle, one sorts.
  * Three rules replace it:
  *  - above an aggregate or a join, and over a one-date scan,
  *    `.coalesce(1).orderBy(...)`: the rows already crossed one exchange
  *    (or are one file), and one task sorts them;
  *  - over a bare multi-date scan, `.repartition(1).orderBy(...)`: the
  *    scan stays parallel, one single-partition shuffle gathers the rows,
  *    and no sample runs (`coalesce(1)` there would read every file in
  *    one task);
  *  - a one-day cohort ranking coalesces its date-pruned input, so the
  *    global windows above it need no exchange.
  * Each tail was timed against the plain `orderBy` at the benchmark's
  * 104 dates and at 2,000 dates (`bench/ab_serve_tails.json`). A range
  * scan that ends in an ungrouped aggregate (`averageVolume`) has no sort
  * and keeps its parallel plan: coalescing would read its range in one
  * task.
  */
object AvailabilityQueries {

  // ---- the fact table -------------------------------------------------

  /** The fact table's declared schema: [[AvailabilityRecord]]'s columns
    * with `date`, the partition column, last and every field nullable —
    * the schema `spark.read.parquet` infers from a footer and the
    * partition directories of a table written from these records.
    */
  private lazy val FactSchema: StructType = {
    val fields = Encoders.product[AvailabilityRecord].schema.fields.map(_.copy(nullable = true))
    StructType(fields.filterNot(_.name == "date") :+ fields.find(_.name == "date").get)
  }

  /** Open the date-partitioned fact table at `path` with [[FactSchema]].
    * The rows and columns are those of `spark.read.parquet(path)`, but no
    * job reads a footer to infer the schema: partition discovery is the
    * open's only work.
    */
  def open(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FactSchema).parquet(path)

  // ---- snapshots (queries/snapshots.py) -------------------------------

  /** Symbols available on one date, sorted (snapshots.py:56-64). Inline
    * rather than `Relational.snapshot`, whose plan the registry's
    * `q_f1_snapshot` shares.
    */
  def availableSymbolsOnDate(df: DataFrame, d: Date): DataFrame =
    df.filter(col("date") === lit(d) && col("available"))
      .select("symbol", "file_size_bytes", "last_modified")
      .coalesce(1).orderBy("symbol")

  /** Distinct symbols seen available in a date range (snapshots.py:100-108). */
  def symbolsInRange(df: DataFrame, start: Date, end: Date): DataFrame =
    df.filter(col("date").between(lit(start), lit(end)) && col("available"))
      .select("symbol").distinct().coalesce(1).orderBy("symbol")

  // ---- timelines (queries/timelines.py) -------------------------------

  /** Full availability timeline for one symbol (timelines.py:54-62). */
  def symbolTimeline(df: DataFrame, symbol: String): DataFrame =
    df.filter(col("symbol") === symbol)
      .select("date", "available", "file_size_bytes")
      .repartition(1).orderBy("date")

  /** First date the symbol was available (timelines.py:94-105). */
  def firstListingDate(df: DataFrame, symbol: String): DataFrame =
    df.filter(col("symbol") === symbol && col("available"))
      .agg(min("date").as("first_date"))

  /** Most recent available date (timelines.py:129-140). */
  def lastAvailableDate(df: DataFrame, symbol: String): DataFrame =
    df.filter(col("symbol") === symbol && col("available"))
      .agg(max("date").as("last_date"))

  // ---- analytics (queries/analytics.py) -------------------------------

  /** Per-day available-symbol counts (analytics.py:52-60). */
  def dailyAvailabilityCounts(df: DataFrame): DataFrame =
    df.filter(col("available"))
      .groupBy("date").agg(count(lit(1)).as("symbol_count"))
      .coalesce(1).orderBy("date")

  /** C3 live shape (generate_stats.py:31-36): per-day distinct-symbol
    * counts over the trailing `days` days relative to "today" —
    * `WHERE date >= CURRENT_DATE - INTERVAL 7 DAYS` in the reference.
    *
    * `today` defaults to Spark's `current_date()` (the live,
    * wall-clock-dependent variant the reference actually runs, which a
    * point-in-time oracle cannot check). Tests inject a frozen
    * `java.time.Clock`-derived literal instead: the expression tree is
    * IDENTICAL either way — only the `today` leaf differs — so the
    * frozen spec pins the relative-date arithmetic of the live shape
    * (AvailabilitySpec "C3 live shape").
    */
  def recentSymbolCounts(df: DataFrame, days: Int = 7,
                         today: org.apache.spark.sql.Column = current_date()): DataFrame =
    df.filter(col("date") >= date_sub(today, days))
      .groupBy("date")
      .agg(countDistinct("symbol").as("symbol_count"))
      .coalesce(1).orderBy(col("date").desc)

  /** A2: per-day available-symbol counts restricted to a date range
    * (analytics.py:160-204). Same single-shuffle shape as
    * `dailyAvailabilityCounts`, with the range predicate pushed into the
    * scan (partition pruning when the table is date-partitioned).
    */
  def symbolCountByDateRange(df: DataFrame, start: Date, end: Date): DataFrame =
    df.filter(col("date").between(lit(start), lit(end)) && col("available"))
      .groupBy("date").agg(count(lit(1)).as("available_count"))
      .coalesce(1).orderBy("date")

  /** Symbols first available on `d` — never available before
    * (analytics.py:94-108, NOT IN → left_anti).
    */
  def newListings(df: DataFrame, d: Date): DataFrame = {
    val today = df.filter(col("date") === lit(d) && col("available")).select("symbol")
    val before = df.filter(col("date") < lit(d) && col("available")).select("symbol")
    Relational.antiJoin(today, before, Seq("symbol")).coalesce(1).orderBy("symbol")
  }

  /** Symbols available on d−1 but not on d (analytics.py:142-156). */
  def delistings(df: DataFrame, d: Date): DataFrame = {
    val prev = df.filter(col("date") === date_sub(lit(d), 1) && col("available")).select("symbol")
    val today = df.filter(col("date") === lit(d) && col("available")).select("symbol")
    Relational.antiJoin(prev, today, Seq("symbol")).coalesce(1).orderBy("symbol")
  }

  // ---- volume (queries/volume.py) -------------------------------------

  /** Top-N by quote volume on a date, with rank / market share /
    * percentile over the day's cohort (volume.py:40-81; W1+W4+W7).
    */
  def topSymbolsByVolume(df: DataFrame, d: Date, n: Int,
                         minVolume: Option[Double] = None): DataFrame = {
    val base0 = df.filter(col("date") === lit(d) && col("available") &&
      col("quote_volume_usdt").isNotNull)
    val base = minVolume.fold(base0)(m => base0.filter(col("quote_volume_usdt") >= m))
    base.coalesce(1)
      .withColumn("rank", Windowed.globalRank(col("quote_volume_usdt").desc))
      .withColumn("total", Windowed.partitionTotal(col("quote_volume_usdt")))
      .withColumn("cohort_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("market_share_pct",
        round(Windowed.shareOfTotalPct(col("quote_volume_usdt"), col("total")), 2))
      .withColumn("percentile",
        round((col("cohort_n") - col("rank")) * lit(100.0) / col("cohort_n"), 2))
      .select("symbol", "quote_volume_usdt", "trade_count", "rank",
        "market_share_pct", "percentile")
      .orderBy(col("quote_volume_usdt").desc, col("symbol"))
      .limit(n)
  }

  /** Volume percentile ranking for ONE symbol on a date
    * (volume.py:96-146): rank over the day's available cohort, cohort
    * size, and `percentile` = share of symbols ranked strictly below.
    * The global window runs on an already-filtered one-day cohort
    * (bounded by construction — same rationale as `Windowed.globalRank`);
    * the symbol filter applies AFTER ranking, since the rank needs the
    * whole cohort. Returns 0 rows when the symbol has no volume that day,
    * mirroring the reference's `None`.
    */
  def volumePercentile(df: DataFrame, symbol: String, d: Date): DataFrame =
    df.filter(col("date") === lit(d) && col("available") &&
        col("quote_volume_usdt").isNotNull)
      .coalesce(1)
      .withColumn("rank", Windowed.globalRank(col("quote_volume_usdt").desc))
      .withColumn("total_symbols", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter(col("symbol") === symbol)
      .withColumn("percentile",
        round((col("total_symbols") - col("rank")) * lit(100.0) / col("total_symbols"), 2))
      .select("symbol", "rank", "total_symbols", "percentile")

  /** Average/min/max volume for one symbol over a range (volume.py:169-196). */
  def averageVolume(df: DataFrame, symbol: String, start: Date, end: Date): DataFrame =
    df.filter(col("symbol") === symbol &&
        col("date").between(lit(start), lit(end)) &&
        col("quote_volume_usdt").isNotNull)
      .agg(
        Exact.avg2(col("quote_volume_usdt")).as("avg_volume"),
        count(lit(1)).as("n_days"),
        min(col("quote_volume_usdt")).as("min_volume"),
        max(col("quote_volume_usdt")).as("max_volume"))

  /** Whole-market totals for one date (volume.py:259-283). */
  def marketSummary(df: DataFrame, d: Date): DataFrame =
    df.filter(col("date") === lit(d) && col("quote_volume_usdt").isNotNull)
      .agg(
        Exact.sum2(col("quote_volume_usdt")).as("total_volume_usdt"),
        sum(col("trade_count")).as("total_trades"),
        count(lit(1)).as("active_symbols"),
        Exact.avg2(col("quote_volume_usdt")).as("avg_volume_usdt"))

  /** Last-N-days volume trend for a symbol (volume.py:219-232). */
  def volumeTrend(df: DataFrame, symbol: String, days: Int): DataFrame =
    df.filter(col("symbol") === symbol && col("quote_volume_usdt").isNotNull)
      .select("date", "quote_volume_usdt", "trade_count")
      .orderBy(col("date").desc)
      .limit(days)

  /** Per-symbol volume QUANTILES over a range via the mergeable
    * bottom-k sketch (ops/Sketches.BottomKAgg) — the 100 TB form of
    * the reference's exact percentile math (volume.py:75,126-128):
    * fixed k-pair state per symbol, map-side partials, only sketches
    * cross the shuffle. Estimates are integer-rank selections from
    * the sample (ceil(p·m/100)), computed with pure array expressions
    * — no window, no second exchange. `n_days` rides along so callers
    * see when the sample is exact (n ≤ k ⇒ the sketch holds every
    * row).
    */
  def volumeQuantileSketch(df: DataFrame, start: Date, end: Date,
                           k: Int = 256): DataFrame = {
    val bk = graft.ops.Sketches.bottomKSketch(k)
    val sk = df
      .filter(col("date").between(lit(start), lit(end)) &&
        col("quote_volume_usdt").isNotNull)
      .select(col("symbol"),
        graft.ops.TextOps.hash60(
          concat(col("symbol"), lit(":"), col("date").cast("string"))).as("h"),
        col("quote_volume_usdt").as("v"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), bk(col("h"), col("v")).as("sk"))
      .withColumn("__vals", array_sort(expr("transform(sk, c -> c._2)")))
    def q(p: Int) = element_at(col("__vals"),
      expr(s"cast(($p * size(sk) + 99) div 100 as int)"))
    sk.select(col("symbol"), col("n_days"),
        q(50).as("p50_volume"), q(90).as("p90_volume"), q(99).as("p99_volume"))
      .coalesce(1).orderBy("symbol")
  }

  /** Most-available symbols from mergeable per-month heavy-hitter
    * summaries (ops/Sketches.hhShardSummaries): each month keeps its
    * exact top-m (symbol, available-days) list + threshold; the merged
    * bounds bracket every candidate's true total, and no symbol with
    * more available days than the threshold sum can be missed. The
    * bounded-state form of "rank symbols by days available" — per-month
    * state is m rows regardless of history length.
    */
  def mostAvailableSymbols(df: DataFrame, m: Int = 100,
                           topK: Int = 20): DataFrame = {
    import graft.ops.Sketches
    val toks = df.filter(col("available"))
      .select(date_format(col("date"), "yyyy-MM").as("month"), col("symbol"))
    val summ = Sketches.hhShardSummaries(toks, col("month"), col("symbol"), m)
    val bounds = Sketches.hhMergedBounds(summ, Sketches.hhThresholds(summ, m))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lb").desc, col("term"))
    bounds
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("term").as("symbol"), col("lb").as("min_days"),
        col("ub").as("max_days"))
      .orderBy(col("min_days").desc, col("symbol"))
  }

  /** Uniform k-day sample per symbol — `Sampling.groupSample` over the
    * fact table (bottom-k of a seeded hash of (symbol, date)): the
    * deterministic spot-check slice an operator pulls before trusting
    * a backfill, identical across retries and repartitions, k rows of
    * state per symbol at any history length.
    */
  def sampleDays(df: DataFrame, k: Int = 10): DataFrame =
    graft.ops.Sampling.groupSample(
        df.select(col("symbol"), col("date"), col("available")),
        col("symbol"),
        concat(col("symbol"), lit(":"), col("date").cast("string")), k)
      .orderBy("symbol", "date")

  // ---- rankings archive (§3.3) ----------------------------------------

  /** An archive holding more data files than this is folded by the next
    * refresh: rewritten in one pass instead of appended to, so the file
    * count the cursor reads and every archive reader lists stays bounded.
    */
  val ArchiveFoldFiles = 16

  /** Incremental rankings refresh: compute the 13-column pipeline for
    * rows after the archive's max date and append with the overlap
    * guard (generate_volume_rankings.py:346-379 + :259-293).
    *
    * A tick costs O(day), not O(archive):
    *  - the cursor is the max of the `date` statistics in the archive's
    *    parquet footers, read on the driver (no archive scan; a scan only
    *    when some row group carries no `date` statistics);
    *  - the slice is `Rankings.pipeline` over the days after the cursor,
    *    on ONE partition (`coalesce(1)` of the date-pruned input), so its
    *    windows and final sort need no exchange. The slice is ranked
    *    alone, as the reference ranks its filtered slice;
    *  - the slice is checked against the archive's schema (Spark's row
    *    metadata in the same footers) and its dates against the cursor, then appended as one
    *    file. Job commit renames that one file into place, so a
    *    `spark.read.parquet(archive)` reader sees the whole day or none
    *    of it, and a reader opened before keeps its own listing. A slice
    *    with no rows writes nothing.
    *
    * The first build writes the whole history with the parallel plan.
    * An empty archive (NULL cursor), one with more than
    * [[ArchiveFoldFiles]] data files, or one with a file whose footer
    * carries no Spark schema is FOLDED: read, merged with the
    * slice behind the full overlap guard, materialized and overwritten
    * in one pass, as at most `min(cores, ArchiveFoldFiles / 2)` files
    * written in parallel.
    */
  def refreshRankingsArchive(spark: SparkSession, df: DataFrame,
                             archivePath: String): Unit =
      Concurrent.labeled(spark, "rankings:refresh") {
    val daily = df.filter(col("available") && col("quote_volume_usdt").isNotNull)
      .select(col("date"), col("symbol"),
        col("quote_volume_usdt").as("volume"), col("trade_count"))
    // Hadoop FS, not java.io.File: the archive may live on hdfs://
    // or s3a://, where a driver-local File.exists() is always false and
    // would silently overwrite the accumulated archive.
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(archivePath)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Store.exportParquet(Rankings.pipeline(daily), archivePath)
    else {
      val files = fs.listStatus(root).toSeq.filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      val footers = files.map(st => readFooter(conf, st))
      val cursor = footerCursor(footers).getOrElse {
        val r = spark.read.parquet(archivePath).agg(max("date")).head()
        if (r.isNullAt(0)) None else Some(r.getDate(0).toLocalDate)
      }
      // Empty archive (e.g. a first run over a no-volume slice) has a
      // NULL cursor; date > NULL would filter out everything forever.
      val slice = cursor.fold(Rankings.pipeline(daily))(c =>
        Rankings.pipeline(daily.filter(col("date") > lit(c)).coalesce(1)))
      // Spark's schema of each file, from its footer. A file written
      // without it (not by this refresh) cannot be checked here, so such
      // an archive folds, whose `unionByName` checks the columns instead.
      val schemas = footers.map(m => Option(m.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => DataType.fromJson(j).asInstanceOf[StructType]))
      requireArchiveSchema(slice.schema, schemas.flatten)
      cursor match {
        case Some(c) if files.size <= ArchiveFoldFiles && schemas.forall(_.isDefined) =>
          val staged = slice.localCheckpoint(eager = true)
          // Overlap guard on the materialized one-partition slice: one
          // single-task job (the coalesce keeps the aggregate from adding
          // an exchange) gives its row count and its first date at or
          // before the cursor.
          val g = staged.coalesce(1).agg(count(lit(1)),
            min(when(col("date") <= lit(c), col("date")))).head()
          if (!g.isNullAt(1))
            throw new IllegalArgumentException(
              s"duplicate date values in append batch: ${g.getDate(1)} (archive ends at $c)")
          if (g.getLong(0) > 0)
            staged.write.mode("append").option("compression", "snappy").parquet(archivePath)
        case _ =>
          // Eager localCheckpoint materializes the merged rows and CUTS the
          // lineage to the files we are about to overwrite.
          val merged = Store.appendWithOverlapCheck(
            spark.read.parquet(archivePath), slice, "date").localCheckpoint(eager = true)
          Store.exportParquet(merged.coalesce(
            math.min(spark.sparkContext.defaultParallelism, ArchiveFoldFiles / 2)), archivePath)
      }
    }
    // Evict stale file listings under both the raw and the
    // filesystem-qualified key.
    spark.catalog.refreshByPath(archivePath)
    spark.catalog.refreshByPath("file:" + archivePath)
  }

  private def readFooter(conf: org.apache.hadoop.conf.Configuration,
                         st: org.apache.hadoop.fs.FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try r.getFooter finally r.close()
  }

  /** The archive's max `date` from its footers' row-group statistics:
    * `Some(None)` when the archive holds no row, `None` when a row group
    * carries no usable `date` statistics (the caller scans instead).
    */
  private def footerCursor(footers: Seq[ParquetMetadata]): Option[Option[LocalDate]] = {
    import scala.jdk.CollectionConverters._
    val maxPerGroup = footers.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0).map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == "date").flatMap { c =>
        val st = c.getStatistics
        val isDate = c.getPrimitiveType.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
        if (isDate && st != null && st.hasNonNullValue)
          Some(st.genericGetMax.asInstanceOf[Integer].longValue)
        else None
      }
    }
    if (maxPerGroup.exists(_.isEmpty)) None
    else Some(maxPerGroup.flatten.reduceOption(_ max _).map(LocalDate.ofEpochDay))
  }

  /** Refuse a slice whose columns differ from the archive's (the
    * reference's pre-write schema check, generate_volume_rankings.py:196-227):
    * `spark.read.parquet(archive)` reads every file with one footer's
    * schema, so an appended file of another shape would be misread.
    */
  private def requireArchiveSchema(slice: StructType, archive: Seq[StructType]): Unit = {
    def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    archive.distinct.find(s => shape(s) != shape(slice)).foreach { s =>
      throw new IllegalArgumentException(
        s"rankings slice schema ${slice.simpleString} does not match the archive's " +
          s"${s.simpleString}")
    }
  }

  // ---- validators (validation/*.py) -----------------------------------

  /** Cross-check: the DB's available symbols on a date against the
    * exchangeInfo API's current symbol set (cross_check.py:79-137) —
    * one row per symbol tagged `only_db` / `only_api` / `both`. Feed
    * `apiSymbols` from `Ingest.parseExchangeInfo`.
    */
  def crossCheckSymbols(df: DataFrame, apiSymbols: DataFrame, d: Date): DataFrame = {
    val dbSyms = df.filter(col("date") === lit(d) && col("available")).select("symbol")
    Validation.keySetDiff(dbSyms, apiSymbols, "symbol")
      .withColumn("side",
        when(col("side") === "only_a", "only_db")
          .when(col("side") === "only_b", "only_api")
          .otherwise("both"))
      .coalesce(1).orderBy("side", "symbol")
  }

  /** Continuity gaps over the observed span (continuity.py:74-87). */
  def continuityGaps(spark: SparkSession, df: DataFrame,
                     start: String, end: String): DataFrame =
    Validation.continuityGaps(spark,
      df.select(col("date").as("gap_date")), "gap_date", start, end)

  /** Dates probing fewer than `minSymbols` (completeness.py:79-89). */
  def incompleteDates(df: DataFrame, minSymbols: Long): DataFrame =
    Validation.incompleteKeys(df.select(col("date").cast("string").as("date")),
      "date", minSymbols)
}
