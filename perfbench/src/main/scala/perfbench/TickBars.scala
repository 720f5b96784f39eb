package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.{TableSpec, TableStore}
import graft.streaming.TickBarStream

/** tick_bars: the intraday tick→bar pipeline. One long-running query,
  * `TickBarStream.bars` into `TickBarStream.upsertingSink`, keeps a
  * minute-bar table keyed by (symbol, trade_date, bar_start) and
  * partitioned by trade date up to date. Each op is one trading day's tick
  * file arriving in the source directory; the op ends when
  * `processAllAvailable` returns.
  *
  * A share of each day's last-five-minute ticks is held back and arrives
  * with the next day's file: late, but inside the ten-minute watermark, so
  * those bars are re-emitted and merged over their stored versions.
  */
final class TickBars(ctx: Ctx) extends Workload {
  import TickBars._

  private val spark = ctx.spark
  private val tr = ctx.tracer

  val opsPerSecond = 0.3
  val warmupOps = 1

  private val spec = TableSpec("minute_bars", Seq("symbol", "trade_date", "bar_start"),
    partitionBy = Seq("trade_date"))

  private val days: IndexedSeq[LocalDate] =
    Iterator.iterate(Start)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(HistoryDays + MaxOps).toIndexedSeq

  /** Ticks drawn day by day, in order, from one seeded stream (seq is
    * global); only days not yet delivered are kept. */
  private final class Gen {
    private val rnd = new scala.util.Random(ctx.seed)
    private var seq = 0L
    private val price = Array.tabulate(Symbols)(s => 5000 + 100 * s)
    /** Per day: its on-time ticks, and the ones held back for the next file. */
    private val drawn = mutable.HashMap[Int, (IndexedSeq[Tick], IndexedSeq[Tick])]()
    private var next = 0

    def day(d: Int): (IndexedSeq[Tick], IndexedSeq[Tick]) = {
      while (next <= d) { drawn(next) = draw(next); next += 1 }
      drawn(d)
    }
    def forget(d: Int): Unit = drawn.remove(d)

    private def draw(di: Int): (IndexedSeq[Tick], IndexedSeq[Tick]) = {
      val open = days(di).atTime(SessionOpen)
      val out = mutable.ArrayBuffer[Tick]()
      (0 until SessionMinutes).foreach { m =>
        (0 until Symbols).foreach { s =>
          val ms = Array.fill(3 + rnd.nextInt(5))(rnd.nextInt(60000)).sorted
          ms.foreach { off =>
            price(s) = math.max(100, price(s) + rnd.nextInt(7) - 3)
            seq += 1
            out += Tick(f"S$s%03d", open.plusMinutes(m).plusNanos(off * 1000000L), seq,
              price(s) / 100.0, 1 + rnd.nextInt(50), di)
          }
        }
      }
      // held back: a share of the last five minutes, delivered next day
      val lateFrom = open.plusMinutes(SessionMinutes - 5)
      val (late, onTime) = out.partition(t => !t.ts.isBefore(lateFrom) && rnd.nextDouble() < 0.3)
      (onTime.toIndexedSeq, late.toIndexedSeq)
    }
  }
  private var gen: Gen = _

  /** Ticks the file of day `d` carries: its own on-time ticks and, except
    * on the first day the stream sees, the previous day's held-back ones.
    * History days are loaded whole, so the last history day holds nothing
    * back from the stream. */
  private def fileTicks(d: Int): IndexedSeq[Tick] = {
    val (onTime, late) = gen.day(d)
    val out =
      if (d < HistoryDays) onTime ++ late
      else if (d == HistoryDays) onTime
      else gen.day(d - 1)._2 ++ onTime
    gen.forget(d - 1)
    out
  }

  private var store: TableStore = _
  private var root: File = _
  private var srcDir: File = _
  private var query: StreamingQuery = _
  def storeRoot: File = new File(root, "store")
  def tables: Seq[(TableStore, TableSpec)] = Seq(store -> spec)

  /** Plain-Scala OHLCV fold of every delivered tick: open/close at the
    * min/max seq of each (symbol, trade_date, minute). */
  private val fold = mutable.HashMap[(String, Int, Long), Agg]()
  private def deliver(ts: Iterable[Tick]): Unit = ts.foreach { t =>
    val k = (t.symbol, t.day, t.minuteEpochS)
    fold(k) = fold.get(k) match {
      case None => Agg(t.seq, t.price, t.seq, t.price, t.price, t.price, 1)
      case Some(a) => Agg(
        if (t.seq < a.openSeq) t.seq else a.openSeq, if (t.seq < a.openSeq) t.price else a.open,
        if (t.seq > a.closeSeq) t.seq else a.closeSeq, if (t.seq > a.closeSeq) t.price else a.close,
        math.max(a.high, t.price), math.min(a.low, t.price), a.n + 1)
    }
  }

  private def barRows(day: Int): Seq[Row] =
    fold.iterator.filter(_._1._2 == day).map { case ((s, d, m), a) =>
      Row(s, java.sql.Date.valueOf(days(d)), new java.sql.Timestamp(m * 1000L),
        a.open, a.high, a.low, a.close, a.n.toLong)
    }.toSeq

  def prepare(dir: File): Unit = {
    root = dir
    fold.clear()
    gen = new Gen
    store = new TableStore(spark, storeRoot.getPath)
    (0 until HistoryDays).foreach(d => deliver(fileTicks(d)))
    val rows = (0 until HistoryDays).flatMap(barRows)
    store.upsert(spec, spark.createDataFrame(java.util.Arrays.asList(rows: _*), BarSchema))
  }

  override def start(): Unit = {
    srcDir = new File(root, "ticks")
    srcDir.mkdirs()
    val raw = spark.readStream.schema(TickSchema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS").csv(srcDir.getPath)
    val bars = TickBarStream.bars(raw.withColumn("trade_date", to_date(col("ts"))),
      Seq("symbol", "trade_date"), "ts", "seq", "price", "1 minute", "10 minutes")
    query = TickBarStream.upsertingSink(bars, store, spec, "perfbench_tick_bars")
      .option("checkpointLocation", new File(root, "checkpoint").getPath)
      .start()
  }

  private val progress = mutable.ArrayBuffer[(Boolean, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  private var seenBatch = -1L

  def op(i: Int): Long = {
    val d = HistoryDays + i
    require(d < days.size, s"op $i is past the generated calendar")
    val ts = fileTicks(d)
    val body = ts.map(_.csv).mkString("\n").getBytes(StandardCharsets.UTF_8)
    val staged = new File(srcDir, f".staging-$d%05d.csv")
    java.nio.file.Files.write(staged.toPath, body)
    tr.span("TickBarStream.microbatch") {
      // the rename is the file's arrival: the source skips dot-files
      if (!staged.renameTo(new File(srcDir, f"ticks-$d%05d.csv")))
        throw new java.io.IOException(s"could not stage $staged")
      query.processAllAvailable()
    }
    deliver(ts)
    query.recentProgress.filter(_.batchId > seenBatch).foreach { p =>
      progress += ((tr.measured, p))
      seenBatch = p.batchId
    }
    ts.size.toLong
  }

  /** The two partitions the op touched equal the fold. */
  def check(i: Int): Boolean = {
    val d = HistoryDays + i
    val touched = if (d > HistoryDays) Seq(d - 1, d) else Seq(d)
    val got = store.read(spec)
      .filter(col("trade_date").isin(touched.map(x => java.sql.Date.valueOf(days(x))): _*))
      .select(BarSchema.fieldNames.map(col).toIndexedSeq: _*).collect()
    sameBars(got, touched.flatMap(barRows))
  }

  private def sameBars(got: Seq[Row], want: Seq[Row]): Boolean = {
    def key(r: Row) = (r.getString(0), r.getDate(1).toString, r.getTimestamp(2).getTime)
    val g = got.map(r => key(r) -> r.toSeq.drop(3)).toMap
    got.size == want.size && g.size == got.size &&
      want.forall(r => g.get(key(r)).contains(r.toSeq.drop(3)))
  }

  /** The whole table equals the fold over every delivered tick. */
  override def finalCheck(): Boolean = {
    val got = store.read(spec).select(BarSchema.fieldNames.map(col).toIndexedSeq: _*).collect()
    sameBars(got, fold.keys.map(_._2).toSeq.distinct.flatMap(barRows))
  }

  override def traceMetrics(measuredOps: Int): Map[String, Double] = {
    val ps = progress.filter(_._1).map(_._2)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    Map(
      "stream.addBatch_ms" -> dur("addBatch") / measuredOps,
      "stream.queryPlanning_ms" -> dur("queryPlanning") / measuredOps,
      "stream.walCommit_ms" -> dur("walCommit") / measuredOps,
      "stream.state_rows" -> Option(query.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
  }

  override def traceDetail: String = {
    val triggers = progress.map { case (m, p) =>
      s"""{"batch":${p.batchId},"measured":$m,"input_rows":${p.numInputRows},""" +
        s""""state_rows":${p.stateOperators.map(_.numRowsTotal).sum},"durations_ms":{""" +
        p.durationMs.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
          .map(e => s"${Json.str(e.getKey)}:${e.getValue}").mkString(",") + "}}"
    }
    s"""{"symbols":$Symbols,"session_minutes":$SessionMinutes,"history_days":$HistoryDays,""" +
      s""""triggers":[${triggers.mkString(",\n")}]}"""
  }

  override def stop(): Unit = if (query != null) query.stop()
}

object TickBars {
  val Symbols = 40
  val SessionMinutes = 120
  val SessionOpen: java.time.LocalTime = java.time.LocalTime.of(9, 30)
  val HistoryDays = 2
  val MaxOps = 100
  val Start: LocalDate = LocalDate.of(2024, 1, 2)

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  final case class Tick(symbol: String, ts: LocalDateTime, seq: Long, price: Double,
      size: Int, day: Int) {
    def minuteEpochS: Long =
      ts.withSecond(0).withNano(0).toEpochSecond(java.time.ZoneOffset.UTC)
    def csv: String = s"$symbol,${ts.format(TsFormat)},$seq,$price,$size"
  }

  final case class Agg(openSeq: Long, open: Double, closeSeq: Long, close: Double,
      high: Double, low: Double, n: Int)

  val TickSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", TimestampType),
    StructField("seq", LongType), StructField("price", DoubleType),
    StructField("size", IntegerType)))

  val BarSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("trade_date", DateType),
    StructField("bar_start", TimestampType), StructField("open", DoubleType),
    StructField("high", DoubleType), StructField("low", DoubleType),
    StructField("close", DoubleType), StructField("n_ticks", LongType)))
}
