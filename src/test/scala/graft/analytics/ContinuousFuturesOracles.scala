package graft.analytics

import graft.analytics.ContinuousFutures._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Differential oracles for [[ContinuousFutures]]: independent or
  * earlier forms of the same reference semantics
  * (reversion_rights_factor.py:94-211) that the production pipeline is
  * pinned against in ContinuousFuturesSpec and
  * [[graft.tools.D1Differential]].
  */
object ContinuousFuturesOracles {

  /** Internal scan row for the legacy scan: dates as epoch-day ints, not
    * `java.sql.Date` — the group scan decodes every bar row of its group
    * on one thread, and Date conversions dominate that decode.
    */
  case class Bar(instrument_type: String, instrument_id: String,
      trade_date: Int, close: Option[Double],
      switch_by: Option[Double], last_trade_date: Int)

  private def sqlDate(epochDay: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay.toLong))

  /** The round-10 whole-type serial factor scan: the differential oracle
    * for the sliced [[ContinuousFutures.adjFactors]]. */
  def adjFactorsSerial(spark: SparkSession, bars: DataFrame,
      method: Method = Division): DataFrame = {
    import spark.implicits._
    reduceFull(spark, bars).groupByKey(_.instrument_type)
      .flatMapSortedGroups(col("trade_date")) { (t, it) =>
        scanReduced(t, it, method)._2.iterator.map(_._2)
      }(Encoders.product[FactorRow])
      .toDF()
  }

  /** The pre-round-9 single-phase scan: decode every raw bar inside one
    * `flatMapGroups` per type. The differential oracle for the two-phase
    * pipeline — parallelism capped at #types makes it the documented
    * scale anti-pattern.
    */
  def legacyScan(spark: SparkSession, bars: DataFrame,
      method: Method): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ds = bars.select(
      col("instrument_type").cast("string"),
      col("instrument_id").cast("string"),
      unix_date(col("trade_date").cast("date")).as("trade_date"),
      col("close").cast("double"),
      col("switch_by").cast("double"),
      unix_date(col("last_trade_date").cast("date")).as("last_trade_date")).as[Bar]
    val sels = ds.groupByKey(_.instrument_type)
      .flatMapGroups((t, it) => legacyScanType(t, it, method)._1.iterator)(Encoders.product[Selection])
      .toDF()
    val facs = ds.groupByKey(_.instrument_type)
      .flatMapGroups((t, it) => legacyScanType(t, it, method)._2.iterator)(Encoders.product[FactorRow])
      .toDF()
    (sels, facs)
  }

  private case class DayData(date: Int,
      bySwitch: Seq[(String, Double)], closes: Map[String, Double])

  private def legacyScanType(instrumentType: String, bars: Iterator[Bar], method: Method)
      : (Seq[Selection], Seq[FactorRow]) = {
    val all = bars.toArray
    val maturity: Map[String, Int] =
      all.groupBy(_.instrument_id).map { case (id, rs) =>
        id -> rs.head.last_trade_date
      }
    def earlier(a: String, b: String): Boolean = maturity(a) < maturity(b)
    val days: Array[DayData] = all.groupBy(_.trade_date).toArray
      .sortBy(_._1)
      .map { case (d, rs) =>
        // sw as tertiary key pins degenerate duplicate (day, id) rows
        // with differing switch_by to the SAME resolution as phase 1's
        // sort_array((maturity, id, sw)) + last-wins HashMap: visit
        // order small→large sw, map value = largest sw. Without it the
        // stable sortBy left duplicate resolution to input order.
        val bySwitch = rs.filter(_.switch_by.isDefined)
          .sortBy(r => (maturity(r.instrument_id), r.instrument_id, r.switch_by.get))
          .map(r => r.instrument_id -> r.switch_by.get).toSeq
        val closes = rs.flatMap(r => r.close.map(r.instrument_id -> _)).toMap
        DayData(d, bySwitch, closes)
      }

    var main: Option[String] = None
    var sec: Option[String] = None
    val selections = mutable.ArrayBuffer[Selection]()
    val factors = mutable.ArrayBuffer[(Int, String, Option[Double], Option[String], Option[Double])]()
    var available = mutable.ArrayBuffer[DayData]()
    for (day <- days; if day.bySwitch.nonEmpty) {
      val sw = day.bySwitch.toMap
      val (mainLast, secLast) = (main, sec)
      for ((id, v) <- day.bySwitch) {
        if (!(main.isDefined && earlier(id, main.get))) {
          if (main.isEmpty) main = Some(id)
          else if (!sw.contains(main.get) || sw(main.get) < v) {
            main = Some(id)
            if (sec.isDefined && (main.get == sec.get || earlier(sec.get, main.get)))
              sec = None
          }
          if (sec.isEmpty) {
            if (!main.contains(id)) sec = Some(id)
          } else if (earlier(sec.get, id) && sw.contains(sec.get) && sw(sec.get) < v)
            sec = Some(id)
        }
      }
      if (mainLast.isDefined && mainLast != main && available.nonEmpty) {
        val prevDay = available.last
        val chg = for {
          cNew <- prevDay.closes.get(main.get)
          cOld <- prevDay.closes.get(mainLast.get)
        } yield if (method == Division) cNew / cOld else cNew - cOld
        chg.filter(v => !v.isNaN && !v.isInfinite).foreach { v =>
          factors += ((prevDay.date, mainLast.get, Some(v), None, None))
        }
      }
      if (secLast.isDefined && sec.isDefined && secLast != sec && available.nonEmpty) {
        val prevDay = available.last
        val chg = for {
          cNew <- prevDay.closes.get(sec.get)
          cOld <- prevDay.closes.get(secLast.get)
        } yield if (method == Division) cNew / cOld else cNew - cOld
        chg.filter(v => !v.isNaN && !v.isInfinite).foreach { v =>
          factors.lastOption match {
            case Some((d, m0, f0, _, _)) if d == prevDay.date =>
              factors(factors.length - 1) = (d, m0, f0, Some(secLast.get), Some(v))
            case _ =>
              factors += ((prevDay.date, main.get, None, Some(secLast.get), Some(v)))
          }
        }
      }
      available += day
      main.foreach(m => selections += Selection(instrumentType, sqlDate(day.date), m, sec.orNull))
    }
    val lastRows: Seq[(Int, String, Option[Double], Option[String], Option[Double])] =
      (available.lastOption, main, sec) match {
        case (Some(day), Some(m), s) =>
          Seq((day.date, m, Some(method.neutral), s, Some(method.neutral)))
        case _ => Seq.empty
      }
    val raw = (factors.filterNot(f => lastRows.exists(_._1 == f._1)) ++ lastRows)
      .sortBy(-_._1)
    var accM = method.neutral
    var accS = method.neutral
    var lastMainId: Option[String] = None
    var lastSecId: Option[String] = None
    val out = raw.map { case (d, mainId, fM, secId, fS) =>
      accM = method match {
        case Division => accM * fM.getOrElse(1.0)
        case Diff => accM + fM.getOrElse(0.0)
      }
      accS = method match {
        case Division => accS * fS.getOrElse(1.0)
        case Diff => accS + fS.getOrElse(0.0)
      }
      lastMainId = Some(mainId)
      lastSecId = secId.orElse(lastSecId)
      (d, FactorRow(instrumentType, sqlDate(d), mainId, accM, lastSecId.orNull, accS))
    }.sortBy(_._1).map(_._2)
    (selections.toSeq, out.toSeq)
  }
}
