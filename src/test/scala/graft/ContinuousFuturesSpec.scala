package graft

import graft.analytics.{ContinuousFutures, ContinuousFuturesOracles}
import graft.analytics.ContinuousFutures.{Diff, Division, Method}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden scenario per FIXTURES.md §7: three contracts, two volume-driven
  * rolls; expected selections/factors computed by hand from the
  * reference's algorithm
  * (/root/reference/tasks/wind/future_reorg/reversion_rights_factor.py:94-211).
  */
class ContinuousFuturesSpec extends AnyFunSuite with SharedSpark {
  import java.sql.Date.{valueOf => d}

  private def bars = {
    val rows = Seq(
      // (id, date, close, vol, maturity)
      ("A", "2021-01-04", 10.0, 100.0), ("B", "2021-01-04", 12.0, 50.0),
      ("A", "2021-01-05", 11.0, 80.0), ("B", "2021-01-05", 13.0, 90.0),
      ("B", "2021-01-06", 13.0, 100.0), ("C", "2021-01-06", 15.0, 40.0),
      ("B", "2021-01-07", 14.0, 60.0), ("C", "2021-01-07", 16.0, 80.0),
      ("C", "2021-01-08", 17.0, 90.0))
    val maturity = Map("A" -> "2021-01-15", "B" -> "2021-05-15", "C" -> "2021-09-15")
    import spark.implicits._
    rows.map { case (id, dt, close, vol) =>
      ("RB", id, d(dt), close, vol, d(maturity(id)))
    }.toDF("instrument_type", "instrument_id", "trade_date", "close", "switch_by", "last_trade_date")
  }

  test("D1 dominant/secondary selection never rolls backward") {
    val sel = ContinuousFutures.dailySelection(spark, bars)
      .collect().map(r => (r.getDate(1).toString, r.getString(2), Option(r.getString(3))))
      .sortBy(_._1)
    assert(sel.toSeq == Seq(
      ("2021-01-04", "A", Some("B")),
      ("2021-01-05", "B", None),
      ("2021-01-06", "B", Some("C")),
      ("2021-01-07", "C", None),
      ("2021-01-08", "C", None)))
  }

  test("D2 division factors reverse-cumulate to 1 at the latest date") {
    val fac = ContinuousFutures.adjFactors(spark, bars, Division)
      .collect().map(r => (r.getDate(1).toString, r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    val r1 = 12.0 / 10.0 // roll A→B priced at 2021-01-04
    val r2 = 15.0 / 13.0 // roll B→C priced at 2021-01-06
    assert(fac.map(_._1).toSeq == Seq("2021-01-04", "2021-01-06", "2021-01-08"))
    assert(fac.map(_._2).toSeq == Seq("A", "B", "C"))
    val got = fac.map(_._3)
    assert(math.abs(got(0) - r1 * r2) < 1e-12)
    assert(math.abs(got(1) - r2) < 1e-12)
    assert(got(2) == 1.0)
  }

  test("D2 diff factors cumulate differences, 0 at latest date") {
    val fac = ContinuousFutures.adjFactors(spark, bars, Diff)
      .collect().map(r => (r.getDate(1).toString, r.getDouble(3))).sortBy(_._1)
    assert(fac.map(_._2).toSeq == Seq((12.0 - 10.0) + (15.0 - 13.0), 15.0 - 13.0, 0.0))
  }

  test("D3 adjusted series is continuous across the roll boundary") {
    val cs = ContinuousFutures.continuousSeries(spark, bars, Division)
      .collect().map(r => r.getDate(1).toString -> r.getDouble(5)).toMap
    // On roll-pricing day 01-04: old main A at 10×(r1·r2) ≡ new main B at 12×r2.
    val r1 = 12.0 / 10.0; val r2 = 15.0 / 13.0
    assert(math.abs(cs("2021-01-04") - 10.0 * r1 * r2) < 1e-9)
    assert(math.abs(cs("2021-01-05") - 13.0 * r2) < 1e-9)
    assert(math.abs(cs("2021-01-06") - 13.0 * r2) < 1e-9)
    assert(math.abs(cs("2021-01-08") - 17.0) < 1e-9)
    // continuity: adjusted old == adjusted new at the pricing date
    assert(math.abs(10.0 * r1 * r2 - 12.0 * r2) < 1e-9)
  }

  /** Randomized multi-year fixture: contracts expiring monthly across
    * 2019–2022 (≥4 of the ~year-wide replay slices), each quoting in a
    * window before its expiry with random gaps, null volumes and tied
    * volumes (small integer range forces ties). Rolls happen at every
    * slice boundary neighborhood, so the sliced replay's seeds are
    * exercised mid-stream, not just at cold start.
    */
  private def randomBars(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    import java.time.LocalDate
    val rows = for {
      t <- Seq("T0", "T1", "T2")
      c <- 0 until 24 // monthly expiries over 4 years
      expiry = LocalDate.of(2019, 1, 20).plusMonths(c * 2L)
      id = f"$t-C$c%02d"
      d <- 0 until 120 // quote window: ~4 months before expiry
      day = expiry.minusDays(120L - d)
      if rnd.nextDouble() < 0.7 // random quoting gaps
    } yield (t, id, java.sql.Date.valueOf(day),
      if (rnd.nextDouble() < 0.05) Option.empty[Double] else Some(10.0 + rnd.nextInt(50)),
      if (rnd.nextDouble() < 0.1) Option.empty[Double] else Some(rnd.nextInt(8).toDouble),
      java.sql.Date.valueOf(expiry))
    import spark.implicits._
    rows.toDF("instrument_type", "instrument_id", "trade_date", "close",
      "switch_by", "last_trade_date")
  }

  test("two-phase sliced selection ≡ legacy whole-bar scan (randomized, multi-slice)") {
    for (seed <- Seq(1, 7, 42)) {
      val bars = randomBars(seed)
      val got = ContinuousFutures.dailySelection(spark, bars)
        .collect().map(r => (r.getString(0), r.getDate(1).toString,
          r.getString(2), Option(r.getString(3)))).sortBy(x => (x._1, x._2))
      val want = ContinuousFuturesOracles.legacyScan(spark, bars, Division)._1
        .collect().map(r => (r.getString(0), r.getDate(1).toString,
          r.getString(2), Option(r.getString(3)))).sortBy(x => (x._1, x._2))
      assert(got.length == want.length, s"seed=$seed row counts differ")
      assert(got.toSeq == want.toSeq, s"seed=$seed selections diverge")
      // the fixture must actually span multiple replay slices
      assert(got.map(_._2.take(4)).distinct.length >= 3, s"seed=$seed fixture too narrow")
    }
  }

  test("two-phase factor scan ≡ legacy whole-bar scan (randomized)") {
    for (seed <- Seq(3, 11); method <- Seq(Division, Diff)) {
      val bars = randomBars(seed)
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getDate(1).toString, r.getString(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)), Option(r.getString(4)),
          java.lang.Double.doubleToLongBits(r.getDouble(5)))
      val got = ContinuousFutures.adjFactors(spark, bars, method)
        .collect().map(key).sortBy(x => (x._1, x._2))
      val want = ContinuousFuturesOracles.legacyScan(spark, bars, method)._2
        .collect().map(key).sortBy(x => (x._1, x._2))
      assert(got.toSeq == want.toSeq, s"seed=$seed method=$method factors diverge")
      assert(got.nonEmpty, s"seed=$seed produced no rolls")
    }
  }

  test("sliced factor scan ≡ serial whole-type scan, BIT-exact (randomized)") {
    // The round-11 sliced adjFactors claims identical operand order in
    // the reverse cumulation — so equality here is on raw doubles, no
    // rounding shim.
    for (seed <- Seq(5, 23); method <- Seq(Division, Diff)) {
      val bars = randomBars(seed)
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getDate(1).toString, r.getString(2),
          r.getDouble(3), Option(r.getString(4)), r.getDouble(5))
      val got = ContinuousFutures.adjFactors(spark, bars, method)
        .collect().map(key).sortBy(x => (x._1, x._2))
      val want = ContinuousFuturesOracles.adjFactorsSerial(spark, bars, method)
        .collect().map(key).sortBy(x => (x._1, x._2))
      assert(got.toSeq == want.toSeq, s"seed=$seed method=$method not bit-identical")
      assert(got.nonEmpty)
    }
  }

  /** Hand-built roll edge cases, one instrument type each, over three
    * days and contracts A, B, C expiring in that order. Day 1 selects
    * main A and secondary B; day 2 rolls the main A→B, which drops the
    * secondary B, and C becomes the secondary; day 3 rolls nothing. Both
    * rolls are priced at day 1's closes:
    *  - ZA: the main roll is priced at a zero old-main close (8 / 0 is
    *    ∞ and is dropped); the secondary roll (10 / 8) still gives a
    *    row, carrying the new main's id B;
    *  - ZB: both rolls are priced and merge into one row that keeps the
    *    old main's id A. */
  private def rollEdgeBars: DataFrame = {
    import spark.implicits._
    val days = Seq("2021-03-01", "2021-03-02", "2021-03-03")
    val maturity = Map("A" -> "2021-06-15", "B" -> "2021-09-15", "C" -> "2021-12-15")
    Seq(
      // (type, id, day, close, switch_by)
      ("ZA", "A", 0, 0.0, 100.0), ("ZA", "B", 0, 8.0, 50.0), ("ZA", "C", 0, 10.0, 10.0),
      ("ZA", "A", 1, 1.0, 100.0), ("ZA", "B", 1, 9.0, 200.0), ("ZA", "C", 1, 11.0, 150.0),
      ("ZA", "B", 2, 9.5, 200.0), ("ZA", "C", 2, 11.5, 150.0),
      ("ZB", "A", 0, 10.0, 100.0), ("ZB", "B", 0, 12.0, 50.0), ("ZB", "C", 0, 15.0, 10.0),
      ("ZB", "A", 1, 11.0, 100.0), ("ZB", "B", 1, 13.0, 200.0), ("ZB", "C", 1, 16.0, 150.0),
      ("ZB", "B", 2, 14.0, 200.0), ("ZB", "C", 2, 17.0, 150.0)
    ).map { case (t, id, day, close, vol) =>
      (t, id, d(days(day)), close, vol, d(maturity(id)))
    }.toDF("instrument_type", "instrument_id", "trade_date", "close", "switch_by", "last_trade_date")
  }

  test("roll edge cases: an unpriceable main roll, a same-day main + secondary roll") {
    val bars = rollEdgeBars
    // doubles compare by their bits (boxed Double equality)
    def factorRows(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getString(0), r.getDate(1).toString, r.getString(2), r.getDouble(3),
        r.getString(4), r.getDouble(5)))
      .sortBy(r => (r._1, r._2))
    val want = Seq(
      ("ZA", "2021-03-01", "B", 1.0, "B", 10.0 / 8.0),
      ("ZA", "2021-03-03", "B", 1.0, "C", 1.0),
      ("ZB", "2021-03-01", "A", 12.0 / 10.0, "B", 15.0 / 12.0),
      ("ZB", "2021-03-03", "B", 1.0, "C", 1.0))
    assert(factorRows(ContinuousFutures.adjFactors(spark, bars, Division)) == want)
    assert(factorRows(ContinuousFuturesOracles.legacyScan(spark, bars, Division)._2) == want)
    val series = ContinuousFutures.continuousSeries(spark, bars, Division)
    val applied = try series.collect().toSeq
      .map(r => (r.getString(0), r.getDate(1).toString, r.getString(2), r.getDouble(4),
        r.getDouble(5)))
      .sortBy(r => (r._1, r._2)) finally series.unpersist()
    assert(applied == Seq(
      ("ZA", "2021-03-01", "A", 1.0, 0.0),
      ("ZA", "2021-03-02", "B", 1.0, 9.0),
      ("ZA", "2021-03-03", "B", 1.0, 9.5),
      ("ZB", "2021-03-01", "A", 12.0 / 10.0, 10.0 * (12.0 / 10.0)),
      ("ZB", "2021-03-02", "B", 1.0, 13.0),
      ("ZB", "2021-03-03", "B", 1.0, 14.0)))
  }

  /** [[randomBars]] plus the rows the series must carry through as the
    * bar join did: 3% duplicate bar rows (half of them with a null
    * close) and a group of bars with a null instrument type. */
  private def seriesBars(seed: Int): DataFrame = {
    val base = randomBars(seed)
    val dups = base.sample(withReplacement = false, 0.03, seed.toLong)
    val nullClose = dups.withColumn("close",
      when(xxhash64(col("instrument_id"), col("trade_date")) % 2 === 0, lit(null))
        .otherwise(col("close")))
    val nullType = base.filter(col("instrument_type") === "T1" &&
        col("trade_date") < java.sql.Date.valueOf("2020-01-01"))
      .withColumn("instrument_type", lit(null).cast("string"))
    base.unionByName(nullClose).unionByName(nullType)
  }

  /** The join form `continuousSeries` ran before it emitted the series
    * from its scan, kept here as the reference: the selections joined
    * back to the bars for the main contract's close, and the factors
    * applied by a negated-date as-of join (earliest factor_date ≥
    * trade_date). Selections and factors come from the legacy scan, so
    * the reference shares no close handling with the code under test. */
  private def joinFormSeries(bars: DataFrame, method: Method): DataFrame = {
    val (sels, facs) = ContinuousFuturesOracles.legacyScan(spark, bars, method)
    val sel = sels.select(col("instrument_type"), col("trade_date"), col("main_id"))
    val fac = facs.select(col("instrument_type"), col("trade_date").as("factor_date"),
      col("adj_factor_main"))
    val md = bars.select(col("instrument_type"), col("instrument_id").as("bar_id"),
      col("trade_date").cast("date").as("trade_date"), col("close").cast("double"))
    val joined = sel.join(md, Seq("instrument_type", "trade_date"))
      .where(col("bar_id") === col("main_id"))
      .select(col("instrument_type"), col("trade_date"), col("main_id"), col("close"))
    val applied = graft.plans.AsOfJoinPlan.asofBackwardNative(
      joined.withColumn("neg_d", -unix_date(col("trade_date"))),
      fac.withColumn("neg_fd", -unix_date(col("factor_date"))),
      Seq("instrument_type"), leftTime = "neg_d", rightTime = "neg_fd",
      valueCols = Seq("adj_factor_main"))
    val adj = method match {
      case Division => col("close") * coalesce(col("adj_factor_main"), lit(1.0))
      case Diff => col("close") + coalesce(col("adj_factor_main"), lit(0.0))
    }
    applied.withColumn("close_adj", adj)
      .select("instrument_type", "trade_date", "main_id", "close", "adj_factor_main", "close_adj")
  }

  /** Series rows; doubles by their bits, null as None. */
  private def seriesBits(df: DataFrame): Seq[(String, String, String, Option[Long],
      Option[Long], Option[Long])] = {
    def bits(r: Row, i: Int) =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
    df.collect().toSeq.map(r => (r.getString(0), r.getDate(1).toString, r.getString(2),
      bits(r, 3), bits(r, 4), bits(r, 5)))
  }

  test("one-pass series ≡ the bar join + as-of form, BIT-exact (randomized)") {
    for (seed <- Seq(1, 7, 42); method <- Seq(Division, Diff)) {
      val bars = seriesBars(seed)
      val series = ContinuousFutures.continuousSeries(spark, bars, method)
      val got = try seriesBits(series) finally series.unpersist()
      val want = seriesBits(joinFormSeries(bars, method))
      val missing = want.diff(got)
      val extra = got.diff(want)
      val same = missing.isEmpty && extra.isEmpty
      assert(same, s"seed=$seed method=$method: ${got.length} rows vs ${want.length}; " +
        s"${missing.size} missing (first ${missing.headOption}), " +
        s"${extra.size} extra (first ${extra.headOption})")
      // the fixture must reach every case the join form handled
      assert(got.exists(_._4.isEmpty), s"seed=$seed: no main bar with a null close")
      assert(got.distinct.length < got.length, s"seed=$seed: no duplicate main bar")
      assert(got.map(_._5).distinct.length > 3, s"seed=$seed: too few factors applied")
      assert(got.forall(_._1 != null))
    }
  }

  test("D1 missing-volume day falls back without a spurious roll") {
    import spark.implicits._
    val withGap = bars.union(Seq(
      ("RB", "C", d("2021-01-09"), 18.0, Option.empty[Double], d("2021-09-15"))
    ).toDF("instrument_type", "instrument_id", "trade_date", "close", "switch_by", "last_trade_date"))
    val sel = ContinuousFutures.dailySelection(spark, withGap)
    // day with no switch_by data contributes no selection row
    assert(sel.count() == 5)
  }
}
