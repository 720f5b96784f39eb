package perfbench

import java.io.File
import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.ContinuousFutures
import graft.core.{TableSpec, TableStore}

/** futures_eod: the reference's daily futures job. Set-up preloads a
  * year of daily bars (six instrument types, quarterly contracts listed a
  * year ahead, so four or five overlap on any day); each op is one new
  * trading day: upsert its bars into the year-partitioned bar table,
  * rebuild the Diff-adjusted continuous series, overwrite the series years
  * that changed and read the series back.
  *
  * The roll schedule is known: the main contract is the front one until
  * [[FuturesEod.RollLead]] trading days before its expiry, then the next
  * one. Volumes are drawn from disjoint ranges (main > next > expiring >
  * far), so the documented selection rule has exactly one answer.
  */
final class FuturesEod(ctx: Ctx) extends Workload {
  import FuturesEod._

  private val spark = ctx.spark
  private val tr = ctx.tracer

  val opsPerSecond = 0.2
  val warmupOps = 1

  private val barSpec = TableSpec("futures_bars", Seq("instrument_id", "trade_date"),
    partitionBy = Seq("yr"))
  private val seriesSpec = TableSpec("continuous_series", Seq("instrument_type", "trade_date"),
    partitionBy = Seq("yr"))

  private val days: IndexedSeq[LocalDate] =
    Iterator.iterate(Start)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(HistoryDays + MaxOps).toIndexedSeq
  private val dayIndex: Map[LocalDate, Int] = days.zipWithIndex.toMap

  private val contracts: Map[String, IndexedSeq[Contract]] = Types.zipWithIndex.map {
    case (t, k) =>
      val months = Iterator.iterate(Start.minusYears(1).withDayOfMonth(1))(_.plusMonths(1))
        .takeWhile(_.isBefore(days.last.plusYears(2)))
        .filter(m => (m.getMonthValue - 1 - k % 3) % 3 == 0)
      t -> months.map { m =>
        val expiry = m.`with`(TemporalAdjusters.dayOfWeekInMonth(3, DayOfWeek.FRIDAY))
        Contract(t, f"$t${m.getYear % 100}%02d${m.getMonthValue}%02d", expiry)
      }.toIndexedSeq
  }.toMap

  /** Bars of every day, drawn in a fixed order from per-type seeded streams. */
  private val bars: IndexedSeq[IndexedSeq[Bar]] = {
    val perType = Types.zipWithIndex.map { case (t, k) =>
      val rnd = new scala.util.Random(ctx.seed * 1000003L + k)
      var spot = 1000.0 * (k + 1)
      days.indices.map { i =>
        spot *= math.exp(0.01 * rnd.nextGaussian())
        val d = days(i)
        val listed = contracts(t).filter(c => !c.expiry.isBefore(d) && !c.expiry.minusYears(1).isAfter(d))
        val main = scheduledMain(t, i)
        val mainPos = listed.indexWhere(_.id == main.id)
        listed.zipWithIndex.map { case (c, p) =>
          val months = java.time.temporal.ChronoUnit.DAYS.between(d, c.expiry) / 30.0
          val close = math.round((spot * (1 + 0.004 * months) + 0.5 * rnd.nextGaussian()) * 100) / 100.0
          val u = rnd.nextDouble()
          val vol =
            if (p == mainPos) 50000 * (0.9 + 0.2 * u)
            else if (p == mainPos + 1) 20000 * (0.9 + 0.2 * u)
            else if (p < mainPos) 10000 * (0.9 + 0.2 * u)
            else 2000 * (0.5 + u)
          Bar(t, c.id, i, close, math.rint(vol), c.expiry.toEpochDay)
        }
      }
    }
    days.indices.map(i => perType.flatMap(_(i)).toIndexedSeq)
  }

  /** Main by the generator's roll schedule. */
  private def scheduledMain(t: String, i: Int): Contract = {
    val cs = contracts(t)
    val front = cs.indexWhere(c => !c.expiry.isBefore(days(i)))
    val rollIdx = dayIndex.get(cs(front).expiry).map(_ - RollLead).getOrElse(Int.MaxValue)
    if (i >= rollIdx) cs(front + 1) else cs(front)
  }

  private val reference: Map[String, Ref] = Types.map(t => t -> Ref.scan(bars.map(_.filter(_.t == t)))).toMap

  // Checked once here: a generator whose schedule the documented rule does
  // not reproduce would make every later check meaningless.
  Types.foreach { t =>
    val r = reference(t)
    days.indices.foreach { i =>
      val m = scheduledMain(t, i)
      val next = contracts(t)(contracts(t).indexOf(m) + 1)
      require(r.main(i) == m.id && r.sec(i) == next.id,
        s"generator schedule and the selection rule disagree for $t on ${days(i)}")
    }
  }

  private var store: TableStore = _
  private var root: File = _
  def storeRoot: File = root
  def tables: Seq[(TableStore, TableSpec)] = Seq(store -> barSpec, store -> seriesSpec)
  /** Series rows per year as last read back, for the changed-year diff. */
  private var lastRead: Map[Int, Seq[SeriesRow]] = Map.empty

  private def barsDf(from: Int, until: Int): DataFrame = {
    val rows = (from until until).flatMap(bars).map { b =>
      Row(b.t, b.id, java.sql.Date.valueOf(days(b.day)), b.close, b.vol,
        java.sql.Date.valueOf(LocalDate.ofEpochDay(b.expiry)), days(b.day).getYear)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), BarSchema)
  }

  /** Preloads the bar history; the first (warm-up) op builds the series
    * table, since every year of it is new then. */
  def prepare(dir: File): Unit = {
    root = dir
    store = new TableStore(spark, dir.getPath)
    store.upsert(barSpec, barsDf(0, HistoryDays))
    lastRead = Map.empty
  }

  private def readSeries(): Map[Int, Seq[SeriesRow]] =
    store.read(seriesSpec).select(SeriesCols.map(col): _*).collect().toSeq
      .map(SeriesRow.of).groupBy(_.year).map { case (y, rs) => y -> rs.sorted }

  def op(i: Int): Long = {
    val h = HistoryDays + i
    require(h < days.size, s"op $i is past the generated calendar")
    tr.span("TableStore.upsert")(store.upsert(barSpec, barsDf(h, h + 1)))
    val input = tr.span("TableStore.read")(store.read(barSpec))
    val (series, fresh) = tr.span("ContinuousFutures.continuousSeries") {
      val s = ContinuousFutures.continuousSeries(spark, input, ContinuousFutures.Diff,
        cacheInput = false)
      (s, s.select(SeriesCols.map(col): _*).collect().toSeq.map(SeriesRow.of)
        .groupBy(_.year).map { case (y, rs) => y -> rs.sorted })
    }
    val changed = fresh.keys.filter(y => !lastRead.get(y).contains(fresh(y))).toSeq.sorted
    if (changed.nonEmpty)
      tr.span("TableStore.overwritePartitions")(store.overwritePartitions(seriesSpec,
        series.withColumn("yr", year(col("trade_date"))).filter(col("yr").isin(changed: _*))))
    series.unpersist()
    lastRead = tr.span("TableStore.read")(readSeries())
    bars(h).size.toLong
  }

  def check(i: Int): Boolean = {
    val h = HistoryDays + i
    val got = lastRead.values.flatten.map(r => (r.t, r.day) -> r).toMap
    got.size == Types.size * (h + 1) && Types.forall { t =>
      val r = reference(t)
      (0 to h).forall { d =>
        got.get((t, days(d).toEpochDay)).exists { row =>
          val adj = r.adjFactor(d, h)
          val close = bars(d).find(b => b.id == row.main).map(_.close).getOrElse(Double.NaN)
          row.main == r.main(d) && row.main == scheduledMain(t, d).id &&
            row.close == close && near(row.adj, adj) && near(row.closeAdj, close + adj)
        }
      }
    }
  }

  /** Every (type, day) main and secondary from `dailySelection` over the
    * final bar table, against the sequential scan; and every delivered bar
    * stored exactly once. */
  override def finalCheck(): Boolean = {
    val last = lastRead.values.flatten.map(_.day).max
    val h = days.indexWhere(_.toEpochDay == last)
    val barsNow = store.read(barSpec)
    val sel = ContinuousFutures.dailySelection(spark, barsNow)
      .select(col("instrument_type"), col("trade_date"), col("main_id"), col("secondary_id"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay) ->
        (r.getString(2), r.getString(3))).toMap
    val selOk = sel.size == Types.size * (h + 1) && Types.forall { t =>
      (0 to h).forall(d => sel.get((t, days(d).toEpochDay))
        .contains((reference(t).main(d), reference(t).sec(d))))
    }
    selOk && barsNow.count() == (0 to h).map(bars(_).size.toLong).sum
  }

  override def traceDetail: String =
    s"""{"types":${Types.size},"history_days":$HistoryDays,"roll_lead_days":$RollLead,""" +
      s""""history_bars":${(0 until HistoryDays).map(bars(_).size).sum}}"""
}

object FuturesEod {
  val Types = Seq("IF", "IC", "RB", "HC", "CU", "AU")
  val Start: LocalDate = LocalDate.of(2015, 1, 5)
  val HistoryDays = 250
  /** Upper bound on ops in one run; the calendar is generated this far. */
  val MaxOps = 100
  val RollLead = 5

  val SeriesCols = Seq("instrument_type", "trade_date", "main_id", "close",
    "adj_factor_main", "close_adj")

  val BarSchema: StructType = StructType(Seq(
    StructField("instrument_type", StringType), StructField("instrument_id", StringType),
    StructField("trade_date", DateType), StructField("close", DoubleType),
    StructField("switch_by", DoubleType), StructField("last_trade_date", DateType),
    StructField("yr", IntegerType)))

  final case class Contract(t: String, id: String, expiry: LocalDate)
  final case class Bar(t: String, id: String, day: Int, close: Double, vol: Double, expiry: Long)

  final case class SeriesRow(t: String, day: Long, main: String, close: Double, adj: Double,
      closeAdj: Double) {
    def year: Int = LocalDate.ofEpochDay(day).getYear
  }
  object SeriesRow {
    def of(r: Row): SeriesRow = SeriesRow(r.getString(0), r.getDate(1).toLocalDate.toEpochDay,
      r.getString(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    implicit val ordering: Ordering[SeriesRow] = Ordering.by(r => (r.t, r.day))
  }

  def near(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Plain sequential scan of the documented rule (ContinuousFutures
    * scaladoc): per day, visit contracts by (expiry, id); the main rolls
    * to a contract expiring no earlier whose volume beats the main's that
    * day; the secondary is any later-expiring non-main contract, upgraded
    * only by a later expiry with larger volume. A main roll quotes its Diff
    * factor (new close - old close) on the previous day. */
  final case class Ref(main: IndexedSeq[String], sec: IndexedSeq[String],
      rolls: Seq[(Int, Int, Double)]) {
    /** Back-adjustment of day `d` when the series ends on day `h`: the sum
      * of the main-roll differences quoted on or after `d`, added latest
      * first as the series' reverse cumulation does. */
    def adjFactor(d: Int, h: Int): Double = {
      var acc = 0.0 + 0.0
      rolls.filter { case (prev, roll, _) => roll <= h && prev >= d }
        .sortBy(-_._1).foreach { case (_, _, diff) => acc += diff }
      acc
    }
  }

  object Ref {
    def scan(byDay: IndexedSeq[IndexedSeq[Bar]]): Ref = {
      var main: Bar = null
      var sec: Bar = null
      val mains = mutable.ArrayBuffer[String]()
      val secs = mutable.ArrayBuffer[String]()
      val rolls = mutable.ArrayBuffer[(Int, Int, Double)]()
      byDay.zipWithIndex.foreach { case (day, i) =>
        val vol = day.map(b => b.id -> b.vol).toMap
        val before = main
        day.sortBy(b => (b.expiry, b.id)).foreach { c =>
          if (main == null) main = c
          else if (c.expiry >= main.expiry && !vol.get(main.id).exists(_ >= c.vol)) {
            main = c
            if (sec != null && (sec.id == main.id || sec.expiry < main.expiry)) sec = null
          }
          if (c.expiry >= main.expiry) {
            if (sec == null) { if (c.id != main.id) sec = c }
            else if (sec.expiry < c.expiry && vol.get(sec.id).exists(_ < c.vol)) sec = c
          }
        }
        if (before != null && before.id != main.id) {
          val prev = byDay(i - 1)
          val diff = prev.find(_.id == main.id).get.close - prev.find(_.id == before.id).get.close
          rolls += ((i - 1, i, diff))
        }
        mains += main.id
        secs += (if (sec == null) null else sec.id)
      }
      Ref(mains.toIndexedSeq, secs.toIndexedSeq, rolls.toSeq)
    }
  }
}
