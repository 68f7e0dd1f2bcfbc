package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.api.AvailabilityRecord

/** Seeded generator of the dense `(date, symbol)` availability table.
  *
  * Every cell is a pure function of (seed, symbol index, day index), so the
  * program only ever receives generated rows, and every check compares a
  * query result with a truth computed here from the same functions.
  *
  * Shape: `nSymbols` symbols × `nDays` days from 2019-09-25, every cell
  * present (unavailable ones included). Per symbol: a listing day, an
  * optional delisting day, and scattered single-day outages strictly after
  * listing. Volume columns are NULL on unavailable rows and across the
  * 2019-09-25..2019-12-30 gap in the reference's volume history.
  */
final case class Universe(seed: Long, nSymbols: Int, nDays: Int,
                          listDay: Array[Int], delistDay: Array[Int]) {
  import Universe._

  def symbol(s: Int): String = f"S$s%04dUSDT"
  def date(day: Int): Date = Date.valueOf(Start.plusDays(day.toLong))
  def localDate(day: Int): LocalDate = Start.plusDays(day.toLong)

  private def h(s: Int, day: Int, salt: Long): Long =
    mix(seed ^ mix(salt ^ (s.toLong << 32 | (day & 0xffffffffL))))

  /** Outages never fall on the listing day, so the first available day of
    * a symbol is its listing day. */
  def outage(s: Int, day: Int): Boolean =
    day > listDay(s) && Math.floorMod(h(s, day, 1L), 53L) == 0L

  def available(s: Int, day: Int): Boolean =
    day >= listDay(s) && day < delistDay(s) && !outage(s, day)

  /** Quote volume in USDT with two decimals (exact under `Exact.sum2`). */
  def volume(s: Int, day: Int): Option[Double] =
    if (!available(s, day) || day <= GapLastDay) None
    else Some((1000000L + Math.floorMod(h(s, day, 2L), 4000000000L)) / 100.0)

  def fileSize(s: Int, day: Int): Long = 40000L + Math.floorMod(h(s, day, 3L), 200000L)

  def record(s: Int, day: Int): AvailabilityRecord = {
    val ok = available(s, day)
    val sym = symbol(s)
    val d = localDate(day)
    val vol = volume(s, day)
    val probeTs = Timestamp.valueOf(d.plusDays(1).atTime(2, 0))
    AvailabilityRecord(
      date = Date.valueOf(d),
      symbol = sym,
      available = ok,
      file_size_bytes = if (ok) Some(fileSize(s, day)) else None,
      last_modified = if (ok) Some(Timestamp.valueOf(d.plusDays(1).atTime(0, 5))) else None,
      url = s"https://data.binance.vision/data/futures/um/daily/klines/$sym/1m/$sym-1m-$d.zip",
      status_code = if (ok) 200 else 404,
      probe_timestamp = probeTs,
      quote_volume_usdt = vol,
      trade_count = vol.map(v => (v / 250).toLong + 1),
      volume_base = vol.map(_ / 7),
      taker_buy_volume_base = vol.map(_ / 15),
      taker_buy_quote_volume_usdt = vol.map(_ / 2),
      open_price = vol.map(_ => 1.5),
      high_price = vol.map(_ => 1.75),
      low_price = vol.map(_ => 1.25),
      close_price = vol.map(_ => 1.5))
  }

  /** Rows of days [from, until), ordered by day then symbol. */
  def rows(spark: SparkSession, from: Int, until: Int): Dataset[AvailabilityRecord] = {
    import spark.implicits._
    val u = this
    val n = nSymbols.toLong
    spark.range(from * n, until * n)
      .map(i => u.record((i % n).toInt, (i / n).toInt))
  }

  // ---- truths -------------------------------------------------------------

  def newListings(day: Int): Seq[String] =
    (0 until nSymbols).filter(s => listDay(s) == day).map(symbol)

  def delistings(day: Int): Seq[String] =
    (0 until nSymbols).filter(s => available(s, day - 1) && !available(s, day)).map(symbol)

  /** Symbols with a volume on `day`, by volume desc then symbol. */
  def volumeCohort(day: Int): Seq[(String, Double)] =
    (0 until nSymbols).flatMap(s => volume(s, day).map(v => (symbol(s), v)))
      .sortBy { case (sym, v) => (-v, sym) }

  /** (day, available-symbol count) for every day with at least one. */
  def dailyCounts(from: Int, until: Int): Seq[(Int, Int)] =
    (from until until).map(d => (d, (0 until nSymbols).count(available(_, d))))
      .filter(_._2 > 0)
}

object Universe {
  val Start: LocalDate = LocalDate.of(2019, 9, 25)
  /** Last day index of the 2019-09-25..2019-12-30 volume gap. */
  val GapLastDay: Int = (LocalDate.of(2019, 12, 30).toEpochDay - Start.toEpochDay).toInt

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A third of the symbols are listed from day 0; the rest list at a
    * seeded day in the first 90% of the span. A fifth of all symbols
    * delist at a seeded day at least 30 days after listing. */
  def apply(seed: Long, nSymbols: Int, nDays: Int): Universe = {
    val rnd = new scala.util.Random(seed)
    val list = Array.tabulate(nSymbols) { _ =>
      if (rnd.nextInt(3) == 0) 0 else 1 + rnd.nextInt(nDays * 9 / 10)
    }
    val delist = Array.tabulate(nSymbols) { s =>
      val room = nDays - list(s) - 31
      if (rnd.nextInt(5) == 0 && room > 0) list(s) + 30 + rnd.nextInt(room)
      else Int.MaxValue
    }
    Universe(seed, nSymbols, nDays, list, delist)
  }
}
