package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.api.{AvailabilityQueries => AQ}

/** Where the fact table lives and how the workloads open it. */
object Fact {
  val NSymbols = 1000
  val NDays = 104

  /** Writes days [0, nDays) as daily upserts leave them: one file per date. */
  def write(ctx: Ctx, u: Universe, path: String): Unit =
    graft.ops.Store.writePartitioned(
      u.rows(ctx.spark, 0, u.nDays).toDF().repartition(ctx.cores, col("date")), path, "date")

  /** `spark.read.parquet` as every CLI command does it, as span `store.open`. */
  def open(ctx: Ctx, path: String): DataFrame =
    ctx.tracer.spanWith("store.open")(ctx.spark.read.parquet(path)) { df =>
      if (ctx.tracer.traced) Map("leaf_files" -> df.inputFiles.length.toDouble) else Map.empty
    }

  def openLayer(opens: Seq[Span]): Seq[(String, Double)] =
    Seq(
      "store.open_ms" -> Stats.median(opens.map(_.ms)),
      "store.open_listing_jobs" -> Stats.mean(opens.map(_.count(Counters.ListingJobs).toDouble)),
      "store.open_leaf_files" -> Stats.median(opens.flatMap(_.attrs.get("leaf_files"))))
}

object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Files read by every file scan of an executed query. */
  def filesScanned(df: DataFrame): Double =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum.toDouble
}

/** One API call of the serve mix and the truth its result must equal. */
final case class ApiQuery(op: String, key: String, run: DataFrame => DataFrame,
                          truth: () => Seq[Any], view: Seq[Row] => Seq[Any])

/** The serve read path: sessions of "open the fact table at `path`, then
  * run a seeded mix of API queries" — 2/3 date-pinned point queries, 1/3
  * full-history ones — each result checked against the generator's truth.
  * `u` must describe the table's current days. */
final class ServeSession(ctx: Ctx, path: String, var u: Universe) {
  import ServeSession._
  private val rnd = new scala.util.Random(ctx.seed * 31 + 7)
  private val seen = scala.collection.mutable.Map[String, Seq[Any]]()
  private def allCounts = u.dailyCounts(0, u.nDays).map { case (d, n) => (u.date(d), n.toLong) }

  // Small argument pools, drawn from in turn, so the same call repeats
  // within a run and every seed gives the same mix of costs: one volume day
  // in six falls in the NULL-volume gap.
  private final class Pool[T](xs: IndexedSeq[T]) {
    private var i = -1
    def next(): T = { i += 1; xs(i % xs.size) }
  }
  private val volumeDays = new Pool(IndexedSeq.fill(5)(Universe.GapLastDay + 1 +
    rnd.nextInt(u.nDays - Universe.GapLastDay - 1)) :+ (1 + rnd.nextInt(Universe.GapLastDay)))
  private val anyDays = new Pool(IndexedSeq.fill(6)(1 + rnd.nextInt(u.nDays - 1)))
  private val listingDays = {
    val late = u.listDay.filter(d => d > 0 && d < u.nDays).distinct.sorted.toIndexedSeq
    new Pool(IndexedSeq.fill(6)(late(rnd.nextInt(late.size))))
  }
  private val symbols = new Pool(IndexedSeq.fill(6)(rnd.nextInt(u.nSymbols)))

  private def point(i: Int): ApiQuery = i % 5 match {
    case 0 =>
      val d = anyDays.next()
      ApiQuery("availableSymbolsOnDate", s"$d", AQ.availableSymbolsOnDate(_, u.date(d)),
        () => (0 until u.nSymbols).filter(u.available(_, d))
          .map(s => (u.symbol(s), u.fileSize(s, d))),
        _.map(r => (r.getString(0), r.getLong(1))))
    case 1 =>
      val d = volumeDays.next()
      ApiQuery("topSymbolsByVolume", s"$d", AQ.topSymbolsByVolume(_, u.date(d), 10),
        () => u.volumeCohort(d).take(10).zipWithIndex.map { case ((s, v), i) => (s, v, i + 1) },
        _.map(r => (r.getString(0), r.getDouble(1), r.getInt(3))))
    case 2 =>
      val d = volumeDays.next()
      val s = u.symbol(symbols.next())
      ApiQuery("volumePercentile", s"$s@$d", AQ.volumePercentile(_, s, u.date(d)),
        () => {
          val cohort = u.volumeCohort(d)
          val i = cohort.indexWhere(_._1 == s)
          if (i < 0) Nil else Seq((s, i + 1, cohort.size.toLong))
        },
        _.map(r => (r.getString(0), r.getInt(1), r.getLong(2))))
    case 3 =>
      val a = anyDays.next()
      val b = math.min(u.nDays - 1, a + 30)
      ApiQuery("symbolCountByDateRange", s"$a-$b",
        AQ.symbolCountByDateRange(_, u.date(a), u.date(b)),
        () => u.dailyCounts(a, b + 1).map { case (d, n) => (u.date(d), n.toLong) },
        _.map(r => (r.getDate(0), r.getLong(1))))
    case _ =>
      val a = volumeDays.next()
      val b = math.min(u.nDays - 1, a + 30)
      val si = symbols.next()
      ApiQuery("averageVolume", s"$si@$a-$b",
        AQ.averageVolume(_, u.symbol(si), u.date(a), u.date(b)),
        () => {
          val v = (a to b).flatMap(u.volume(si, _))
          if (v.isEmpty) Seq((None, 0L, None, None))
          else Seq((Some((v.map(BigDecimal(_)).sum / v.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)), v.size.toLong, Some(v.min), Some(v.max)))
        },
        _.map(r => (if (r.isNullAt(0)) None else Some(BigDecimal(r.get(0).toString)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
  }

  private def history(i: Int): ApiQuery = i % 4 match {
    case 0 =>
      val si = symbols.next()
      ApiQuery("symbolTimeline", s"$si@${u.nDays}d", AQ.symbolTimeline(_, u.symbol(si)),
        () => (0 until u.nDays).map(d => (u.date(d), u.available(si, d))),
        _.map(r => (r.getDate(0), r.getBoolean(1))))
    case 1 =>
      ApiQuery("dailyAvailabilityCounts", s"${u.nDays}d", AQ.dailyAvailabilityCounts,
        () => allCounts, _.map(r => (r.getDate(0), r.getLong(1))))
    case 2 =>
      val d = listingDays.next()
      ApiQuery("newListings", s"$d", AQ.newListings(_, u.date(d)),
        () => u.newListings(d), _.map(_.getString(0)))
    case _ =>
      val d = anyDays.next()
      ApiQuery("delistings", s"$d", AQ.delistings(_, u.date(d)),
        () => u.delistings(d), _.map(_.getString(0)))
  }

  /** The session's calls: every third one a full-history query. */
  private def schedule(): Seq[ApiQuery] = {
    var p, h = 0
    (0 until QueriesPerSession).map { i =>
      if (i % 3 == 2) { h += 1; history(h - 1) } else { p += 1; point(p - 1) }
    }
  }

  private def runQuery(df: DataFrame, q: ApiQuery): Seq[Row] = {
    val t = ctx.tracer
    val planned = t.span(s"api.plan.${q.op}") {
      val d = q.run(df)
      d.queryExecution.executedPlan
      d
    }
    t.spanWith(s"api.exec.${q.op}")(planned.collect()) { _ =>
      if (t.traced) Map("files_scanned" -> PlanMetrics.filesScanned(planned)) else Map.empty
    }.toSeq
  }

  private def verify(q: ApiQuery, rows: Seq[Row]): Option[String] = {
    val got = q.view(rows)
    val want = q.truth()
    val id = s"${q.op}(${q.key})"
    if (got != want) Some(s"result differs from truth (got ${got.take(3)}…, want ${want.take(3)}…)")
    else if (seen.get(id).exists(_ != got)) Some("result changed between repetitions")
    else { seen(id) = got; None }
  }

  /** One session, each call counted as an operation of `outcome`. */
  def run(outcome: Outcome): Unit = {
    val results = ctx.tracer.span("session") {
      val df = Fact.open(ctx, path)
      schedule().map(q => q -> scala.util.Try(runQuery(df, q)))
    }
    results.foreach { case (q, r) => outcome.op(s"${q.op}(${q.key})")(r.get)(verify(q, _)) }
  }
}

object ServeSession {
  /** 16 point and 8 history calls: each op kind two to four times. */
  val QueriesPerSession = 24
  val Ops: Seq[String] = Seq("availableSymbolsOnDate", "topSymbolsByVolume", "volumePercentile",
    "symbolCountByDateRange", "averageVolume", "symbolTimeline", "dailyAvailabilityCounts",
    "newListings", "delistings")

  /** (op, latency) of each measured API call: planning plus execution. */
  def queryMs(t: Tracer): Seq[(String, Double)] =
    t.measured("api.plan.").zip(t.measured("api.exec.")).map { case (p, e) =>
      p.name.stripPrefix("api.plan.") -> (p.ms + e.ms)
    }

  def perLayer(t: Tracer): Seq[(String, Double)] = {
    val execs = t.measured("api.exec.")
    Seq("api.plan_ms" -> Stats.median(t.measured("api.plan.").map(_.ms))) ++
      Ops.map(op => s"api.exec_ms.$op" -> Stats.median(t.measured(s"api.exec.$op").map(_.ms))) ++ Seq(
      "spark.files_scanned_per_query" -> Stats.mean(execs.flatMap(_.attrs.get("files_scanned"))),
      "spark.tasks_per_query" -> Stats.mean(execs.map(_.count(Counters.Tasks).toDouble)),
      "spark.scheduler_delay_ms_per_query" ->
        Stats.mean(execs.map(_.count(Counters.SchedulerDelayMs).toDouble)))
  }
}
