package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct, count, lit, max}
import graft.api.{AvailabilityQueries => AQ}

/** The fact table of the daily job under `dir`, with its rankings archive.
  * A tick upserts one new day, refreshes the archive and runs the
  * continuity and completeness validators; every step opens the table
  * itself, as the daily job's separate commands do. */
final class DailyTable(ctx: Ctx, initial: Universe, dir: Path) {
  val fact: String = dir.resolve("fact").toString
  private val archive = dir.resolve("rankings").toString
  /** The generator's view of the table as it stands: days [0, u.nDays). */
  var u: Universe = initial
  /** Bytes written by each tick: (upsert files, upsert bytes, archive bytes). */
  val writes = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()

  def generate(): Unit = Fact.write(ctx, u, fact)
  /** The rankings archive as the daily job's first run builds it. */
  def buildArchive(): Unit = AQ.refreshRankingsArchive(ctx.spark, Fact.open(ctx, fact), archive)
  def bytes: Long = Disk.bytes(fact) + Disk.bytes(archive)

  def tick(outcome: Outcome): Unit = {
    val t = ctx.tracer
    val day = u.nDays
    val factBefore = Disk.files(fact)
    val archiveBefore = Disk.files(archive)
    outcome.op(s"tick(${u.localDate(day)})") {
      t.span("tick") {
        t.span("store.upsert") {
          graft.ops.Store.upsert(ctx.spark, fact, u.rows(ctx.spark, day, day + 1).toDF(), "date",
            Seq("date", "symbol"), "probe_timestamp", "status_code")
        }
        t.span("rankings.refresh") {
          AQ.refreshRankingsArchive(ctx.spark, Fact.open(ctx, fact), archive)
        }
        t.span("validation") {
          val df = Fact.open(ctx, fact)
          val gaps = AQ.continuityGaps(ctx.spark, df, u.localDate(0).toString,
            u.localDate(day).toString).collect()
          (df, gaps.length, AQ.incompleteDates(df, u.nSymbols).collect().length)
        }
      }
    } { case (df, gaps, incomplete) => check(df, day, gaps, incomplete) }
    u = u.copy(nDays = day + 1)
    val (upFiles, upBytes) = Disk.written(factBefore, Disk.files(fact))
    val (_, rkBytes) = Disk.written(archiveBefore, Disk.files(archive))
    writes += ((upFiles.toDouble, upBytes.toDouble, rkBytes.toDouble))
  }

  /** After a tick: one row per symbol on the new day, no duplicate keys,
    * no continuity gap or incomplete date, archive caught up to the day. */
  private def check(df: DataFrame, day: Int, gaps: Int, incomplete: Int): Option[String] = {
    val newDay = df.filter(col("date") === lit(u.date(day)))
      .agg(count(lit(1)), countDistinct("symbol")).head()
    val rows = df.count()
    val keys = df.select("date", "symbol").distinct().count()
    val archiveMax = ctx.spark.read.parquet(archive).agg(max("date")).head().getDate(0)
    if (newDay.getLong(0) != u.nSymbols || newDay.getLong(1) != u.nSymbols)
      Some(s"new day has ${newDay.getLong(0)} rows / ${newDay.getLong(1)} symbols")
    else if (rows != (day + 1).toLong * u.nSymbols) Some(s"table has $rows rows")
    else if (keys != rows) Some(s"${rows - keys} duplicate (date, symbol) keys")
    else if (gaps != 0) Some(s"$gaps continuity gaps")
    else if (incomplete != 0) Some(s"$incomplete incomplete dates")
    else if (archiveMax != u.date(day)) Some(s"archive ends at $archiveMax")
    else None
  }
}

/** `availability`: one day of the availability table, repeated — the daily
  * job's tick (the write path), then a serve session of API queries on the
  * table it just wrote (the read path every CLI command takes). */
final class Availability(ctx: Ctx) extends Workload {
  private val table = new DailyTable(ctx, Universe(ctx.seed, Fact.NSymbols, Fact.NDays),
    ctx.work.resolve("availability"))
  private val serve = new ServeSession(ctx, table.fact, table.u)

  /** Generates the table and its archive, then warms up (JIT and codegen)
    * with one tick and one serve session, neither measured nor counted.
    * The archive exists before the warm-up tick, so that tick's refresh
    * takes the measured ticks' path: merge the new day into the archive,
    * not build it. */
  def setup(): Unit = {
    ctx.tracer.span("setup.generate") {
      table.generate()
      table.buildArchive()
    }
    ctx.tracer.span("setup.warmup") {
      table.tick(new Outcome)
      serve.u = table.u
      serve.run(new Outcome)
    }
    table.writes.clear()
  }

  def measure(seconds: Double): Int = Workload.loop(seconds) {
    table.tick(ctx.outcome)
    serve.u = table.u
    serve.run(ctx.outcome)
  }

  private def measured(prefix: String) = ctx.tracer.measured(prefix)

  def endToEnd: Seq[(String, Double)] =
    Stats.queryMetrics(ServeSession.queryMs(ctx.tracer)) ++ Seq(
    "pass_s" -> Stats.median(measured("tick").map(_.ms / 1000)),
    "store_mb" -> table.bytes / 1e6)

  def perLayer: Seq[(String, Double)] = Fact.openLayer(measured("store.open")) ++
    ServeSession.perLayer(ctx.tracer) ++ Seq(
    "store.upsert_ms" -> Stats.median(measured("store.upsert").map(_.ms)),
    "store.upsert_files_written" -> Stats.median(table.writes.map(_._1)),
    "store.upsert_bytes_written" -> Stats.median(table.writes.map(_._2)),
    "rankings.refresh_ms" -> Stats.median(measured("rankings.refresh").map(_.ms)),
    "rankings.bytes_written" -> Stats.median(table.writes.map(_._3)),
    "validation.ms" -> Stats.median(measured("validation").map(_.ms)),
    "spark.jobs_per_tick" -> Stats.mean(measured("tick").map(_.count(Counters.Jobs).toDouble)))
}
