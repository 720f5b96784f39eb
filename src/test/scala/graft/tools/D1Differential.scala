package graft.tools

import graft.analytics.{ContinuousFutures, ContinuousFuturesOracles}
import graft.analytics.ContinuousFutures.{Diff, Division}
import org.apache.spark.sql.SparkSession

/** In-engine sf-scale differential for the D1 family: run the production
  * two-phase pipeline (`dailySelection` / `adjFactors`) AND the legacy
  * whole-bar scan ([[ContinuousFuturesOracles.legacyScan]]) on the REAL
  * bars of a given SF dir and assert exact agreement. Complements the DuckDB recursive-CTE oracle, whose
  * replay cost at sf0.1 (~600 k bars) makes sweep-time validation
  * impractical — the legacy scan is an independent implementation of the
  * same reference semantics
  * (reversion_rights_factor.py:94-211), so agreement at full SF is the
  * same evidence the randomized ContinuousFuturesSpec differential gives
  * hermetically.
  *
  * Usage: sbt "Test/runMain graft.tools.D1Differential <sfDir>"
  */
object D1Differential {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-d1diff")
    spark.sparkContext.setLogLevel("WARN")
    val bars = graft.queries.DomainQueries.futuresBars(spark, sfDir)

    val gotSel = ContinuousFutures.dailySelection(spark, bars)
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getString(2), Option(r.getString(3)))).sortBy(x => (x._1, x._2))
    val wantSel = ContinuousFuturesOracles.legacyScan(spark, bars, Division)._1
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getString(2), Option(r.getString(3)))).sortBy(x => (x._1, x._2))
    val selOk = gotSel.toSeq == wantSel.toSeq
    println(s"d1 selection: rows=${gotSel.length} legacyRows=${wantSel.length} " +
      (if (selOk) "MATCH" else "DIVERGE"))

    var factorsOk = true
    for (method <- Seq(Division, Diff)) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getDate(1).toString, r.getString(2),
          math.rint(r.getDouble(3) * 1e9), Option(r.getString(4)),
          math.rint(r.getDouble(5) * 1e9))
      val got = ContinuousFutures.adjFactors(spark, bars, method)
        .collect().map(key).sortBy(x => (x._1, x._2))
      val want = ContinuousFuturesOracles.legacyScan(spark, bars, method)._2
        .collect().map(key).sortBy(x => (x._1, x._2))
      val ok = got.toSeq == want.toSeq
      factorsOk &= ok
      println(s"d2 factors [$method]: rows=${got.length} legacyRows=${want.length} " +
        (if (ok) "MATCH" else "DIVERGE"))
    }
    println(if (selOk && factorsOk) "D1DIFF PASS" else "D1DIFF FAIL")
    spark.stop()
    if (!(selOk && factorsOk)) sys.exit(1)
  }
}
