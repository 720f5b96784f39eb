package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale-critical properties (pushdown,
  * pruning, broadcast choice, shuffle counts, codegen) asserted on the
  * plans themselves, so a regression that keeps results correct but
  * wrecks the 100 TB execution shape fails CI.
  *
  * Shuffle counting matches lines whose operator is exactly `Exchange`
  * (shuffle); `BroadcastExchange` / `ReusedExchange` don't count.
  */
class PlanAuditSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private def simple(df: DataFrame): String =
    df.queryExecution.explainString(SimpleMode)
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)
  private def shuffles(df: DataFrame): Int =
    raw"(?m)^[^A-Za-z]*Exchange\s".r.findAllIn(simple(df)).length

  test("projection pruning reaches the parquet scan (ReadSchema)") {
    val p = formatted(Tables.lineitem(spark, sf).select(col("l_suppkey"), col("l_quantity")))
    assert(p.contains("ReadSchema: struct<l_suppkey"))
    assert(!p.contains("l_extendedprice"), "scan reads columns the query never uses")
  }

  test("predicate pushdown reaches the parquet scan (PushedFilters)") {
    val p = formatted(Tables.lineitem(spark, sf)
      .filter(col("l_suppkey") > 50).select(col("l_suppkey"), col("l_quantity")))
    assert(p.contains("GreaterThan(l_suppkey,50)"), s"filter not pushed:\n$p")
  }

  test("p3 multi-join broadcasts both dims") {
    val p = simple(SparkEntry.queries("p3_pushdown_join")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"nation/region should broadcast, not shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("p9 bucketed co-located join plans zero join shuffles") {
    // Exchanges in the whole plan: 1 for the groupBy after the join +
    // 1 for the final orderBy. The SMJ itself must read bucketed output
    // partitioning directly — any third Exchange means the co-location
    // broke.
    val df = SparkEntry.queries("p9_bucketed_join")(spark, sf)
    assert(shuffles(df) == 2, s"expected agg+sort shuffles only:\n${simple(df)}")
    assert(simple(df).contains("SortMergeJoin"))
  }

  test("d1 sliced selection scans the reduced rollup, bounded exchanges") {
    // Round-9 shape: the query reads the phase-1 (type, day) reduction
    // from scratch parquet (never a raw bar), and plans at most the
    // boundary-pass exchange, the two cogroup exchanges of the sliced
    // replay, and the presentation orderBy. More means the phase-1
    // materialization stopped being used or a redundant repartition
    // crept in. (Upper bound, not exact — per the round-8 advice,
    // benign planner differences must not trip the audit.)
    val df = SparkEntry.queries("d1_dominant_contract")(spark, sf)
    assert(shuffles(df) <= 5, s"sliced scan re-shuffles:\n${simple(df)}")
    val p = simple(df)
    assert(p.contains("FileScan parquet"),
      "d1 should scan the materialized phase-1 reduction")
    assert(p.contains("dayred"),
      s"d1 should read the shared (type, day) reduction, not raw bars:\n$p")
    // the reduction file is shared with d2/d3 and carries `closes`; the
    // selection path must COLUMN-PRUNE it at the scan (r11)
    assert(!p.contains("closes"),
      s"d1's scan should prune the closes column:\n$p")
  }

  test("d3 continuous series plans no join and at most two shuffles") {
    // The per-type scan emits the series itself from the phase-1 day
    // rows: no join back to the bars, no as-of join of the factors. The
    // only shuffles are the phase-1 reduction (materialized to scratch,
    // so normally not in this plan) and the per-type scan's grouping.
    // Counted on the executed nodes: explain prints a cached, adaptive
    // plan several times over.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def nodes(p: SparkPlan): Seq[SparkPlan] = Nodes.collect(p) { case n => n }.flatMap {
      case c: InMemoryTableScanExec => c +: nodes(c.relation.cachedPlan)
      case n => Seq(n)
    }
    val df = graft.analytics.ContinuousFutures.continuousSeries(spark,
      graft.queries.DomainQueries.futuresBars(spark, sf), graft.analytics.ContinuousFutures.Diff)
    try {
      df.collect() // the final adaptive plan
      val executed = nodes(df.queryExecution.executedPlan)
      val p = simple(df)
      assert(!executed.exists(_.nodeName.contains("Join")), s"continuousSeries plans a join:\n$p")
      assert(executed.count(_.isInstanceOf[ShuffleExchangeExec]) <= 2,
        s"continuousSeries plans more than two shuffles:\n$p")
      assert(executed.exists(_.isInstanceOf[ShuffleExchangeExec]), "no node reached")
    } finally df.unpersist()
  }

  test("a1 aggregation is partial (map-side combine) and codegen'd") {
    val df = SparkEntry.queries("a1_pricing_summary")(spark, sf)
    assert(simple(df).contains("partial_sum"), "no map-side partial aggregation")
    // Codegen stages only materialize inside AQE once the query runs —
    // and only on THIS df's QueryExecution (a write action plans its own).
    df.collect()
    // WholeStageCodegen stages print as "*(n) Operator" in the final plan.
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) HashAggregate".r.findFirstIn(finalPlan).isDefined,
      s"agg fell out of codegen:\n$finalPlan")
  }

  test("url dedup: canonicalizer stays in codegen, agg is two-phase, one shuffle") {
    val df = SparkEntry.queries("t_url_dedup")(spark, sf)
    val p = simple(df)
    assert(p.contains("partial_min"), "no map-side partial aggregation")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"canonicalizer fell out of native Column algebra:\n$p")
    // One scatter of the unioned ledger (testdata single-split artifact)
    // + the canonical-string groupBy's hash exchange + the final
    // orderBy's range exchange; anything more means the Column-algebra
    // canonicalizer started materializing intermediates or the union
    // branches grew per-branch exchanges.
    assert(shuffles(df) <= 3, s"url dedup shuffles > 3:\n$p")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) HashAggregate".r.findFirstIn(finalPlan).isDefined,
      s"url agg fell out of codegen:\n$finalPlan")
  }

  test("budget cut: boundary window is bucket-partitioned, never corpus-wide") {
    // The two-pass histogram cut exists to avoid the naive global-sort
    // running sum. Any Window in the plan must partition by the bucket
    // column (tiny boundary bucket), and no exchange below it may be
    // SinglePartition — either regression re-creates the one-task scan.
    val df = SparkEntry.queries("t_quality_budget_cut")(spark, sf)
    val p = simple(df)
    val windows = raw"(?m)^.*Window .*$$".r.findAllIn(p).toList
    assert(windows.forall(_.contains("windowspecdefinition(__b")),
      s"boundary window lost its bucket partitioning:\n$p")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange crept into the cut:\n$p")
  }

  test("pageRank supersteps: pinned inputs, bounded shuffles, no cartesian") {
    import spark.implicits._
    val edges = (1L to 200L).map(i => (i % 20, (i * 7) % 20)).toDF("src", "dst")
    val out = graft.operators.LinkRank.pageRank(spark, edges, "src", "dst",
      iterations = 3)
    val p = simple(out)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"superstep join degenerated:\n$p")
    // base and e are persisted: the lineage must read the in-memory
    // relations, not re-execute the upstream edge construction
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"superstep inputs not pinned:\n$p")
    // each superstep materializes and truncates lineage (the Pregel
    // discipline), so the FINAL plan is a projection over the last
    // pinned superstep's InMemoryRelation. explain() prints cached
    // lineages inline, so count only the LIVE segment above the first
    // cache boundary — it must be shuffle-free, independent of the
    // iteration count.
    val live = p.split("InMemoryRelation")(0)
    assert(live.contains("InMemoryTableScan") || p.contains("InMemoryTableScan"),
      s"final ranks not served from the pinned superstep:\n$p")
    assert(raw"(?m)^[^A-Za-z]*Exchange\s".r.findAllIn(live).isEmpty,
      s"live segment above the superstep cache shuffles:\n$live")
    out.unpersist()
  }

  test("mixed-media pairs never plan a cartesian (blocked banding intact)") {
    val df = SparkEntry.queries("mm_mixed_media_pairs")(spark, sf)
    val p = simple(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked banding degenerated:\n$p")
  }

  test("j8 as-of join never degenerates to a nested-loop/cartesian") {
    val p = simple(SparkEntry.queries("j8_asof_join")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"as-of exploded:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"as-of exploded:\n$p")
  }

  test("w3 four window columns share one shuffle") {
    // All four running-frame columns use the same (partition, order)
    // spec; they must ride a single window Exchange, plus the final
    // presentation orderBy — two planned shuffles total.
    val df = SparkEntry.queries("w3_running_windows")(spark, sf)
    assert(shuffles(df) == 2, s"window spec stopped being shared:\n${simple(df)}")
  }

  test("w10 sessionization rides one data shuffle (lag + run-sum + agg co-partitioned)") {
    // lag, the running session counter, and the per-session groupBy all
    // key on user_id: one window Exchange, and the aggregate reuses it
    // (grouping on (user_id, session_idx) is a superset of the window
    // partitioning). Plus the presentation orderBy — two planned total.
    val df = SparkEntry.queries("w10_sessionize")(spark, sf)
    assert(shuffles(df) == 2,
      s"sessionize stopped sharing the user_id partitioning:\n${simple(df)}")
  }

  test("p10 z-order layout never plans a single-partition window") {
    // GlobalRank.withNtile replaced the global ntile window: the bucket
    // assignment must come from the two-pass rank (range shuffle +
    // offsets), leaving NO WindowExec — a no-partition Window executes
    // the whole table in one task.
    val df = SparkEntry.queries("p10_zorder_layout")(spark, sf)
    assert(!simple(df).contains("Window"),
      s"global window crept back into the layout job:\n${simple(df)}")
  }

  test("weighted sample plans a distributed top-n, not a global sort") {
    // orderBy.limit must stay TakeOrderedAndProject (per-partition heaps
    // merged on the driver); a full-sort regression would shuffle the
    // whole corpus to rank 50 rows.
    val df = graft.operators.CorpusStats.weightedSample(
      Tables.documents(spark, sf), "doc_id", "n_chars", n = 50)
    assert(simple(df).contains("TakeOrderedAndProject"),
      s"top-n degenerated to a global sort:\n${simple(df)}")
  }

  test("d5 profiler job count is independent of candidate-column count") {
    // The column verdicts must come from ONE melted (explode) plan: the
    // number of Spark jobs a profiler call runs must NOT scale with the
    // number of candidate columns. (AQE splits the single action into
    // several stage-jobs, so assert scaling, not an absolute count — a
    // per-column driver loop doubles jobs when columns double.)
    def jobsFor(cols: Seq[String]): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        graft.analytics.FinanceReports.detectAccumulationCols(
          Tables.orders(spark, sf)
            .groupBy(col("o_custkey").as("code"),
              to_date(col("o_orderdate")).as("rd"))
            .agg((1 to cols.length).map(i =>
              (sum("o_totalprice") * i).as(cols(i - 1))).head,
              (1 to cols.length).map(i =>
                (sum("o_totalprice") * i).as(cols(i - 1))).tail: _*),
          "code", "rd", cols)
        // listener events are async; block until the bus has drained
        // (a fixed sleep undercounts under CI load)
        org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 10000)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val two = jobsFor(Seq("v1", "v2"))
    val four = jobsFor(Seq("v1", "v2", "v3", "v4"))
    assert(four <= two + 1,
      s"profiler jobs scaled with columns ($two -> $four) — per-column driver loop is back")
  }

  test("pii scrub and within-doc dedup stay map-only (scatter + sort exchanges only)") {
    // Both are per-row rewrites: any extra Exchange means a join or
    // aggregation crept into what must stay a linear scan at 100 TB.
    for (q <- Seq("t_pii_scrub", "dd_within_doc_dedup")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(shuffles(df) <= 2, s"$q grew a wide exchange:\n${simple(df)}")
      assert(!simple(df).contains("Join"), s"$q plans a join:\n${simple(df)}")
    }
  }

  test("kmeans assignment broadcasts the centroids (corpus never shuffles on data)") {
    val cents = graft.operators.Similarity.kmeansTrain(
      Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", k = 4, iters = 0)
    val assigned = graft.operators.Similarity.ivfAssign(
      Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", cents, "cent_id", "centroid")
    val p = simple(assigned)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"centroid join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled on a join key:\n$p")
  }

  test("queries that pin intermediates release them before returning") {
    // The round-4 bench lost ~60s to session-lifetime persist() pins
    // (pair caches, the continuous-series result) taxing every later
    // query with their memory + GC footprint. Contract: by the time a
    // query's result is materialized, the session cache is empty again —
    // shared intermediates live as scratch parquet on disk instead.
    spark.catalog.clearCache()
    // Round-6 additions: the sketch/ANN/LM operators hold model-sized
    // driver state (densified Bloom words, PQ codebooks, the bigram
    // scratch pattern) — their QUERIES must still leave the session
    // cache empty, with every shared intermediate on scratch disk.
    for (q <- Seq("dd_simhash_pairs", "dd_minhash_pairs", "dd_dup_clusters",
        "d3_continuous_series", "t_bigram_ppl", "t_bloom_blocklist",
        "t_cms_counts", "t_hist_quantiles", "v_ivfpq_topk", "v_pq_topk")) {
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      assert(org.apache.spark.sql.CacheAccess.cacheIsEmpty(spark),
        s"$q leaked a persisted DataFrame into the session cache")
    }
  }

  test("typed futures scans compile to codegen (no interpreter-fallback projections)") {
    // Round-5 regression class: Option[String] fields / a private nested
    // case class made the scan's output product UnsafeProjection fail Janino
    // compilation, silently dropping every d1/d3 output row to
    // interpreter-mode projection (a WARN, not an error). CODEGEN_ONLY
    // turns that fallback into a hard failure. Call the analytics entry
    // points directly (not the scratch-cached SparkEntry queries) so the
    // serializers actually execute regardless of scratch state.
    import java.sql.Date.{valueOf => d}
    import spark.implicits._
    val bars = Seq(
      ("RB", "A", d("2021-01-04"), 10.0, 100.0, d("2021-01-15")),
      ("RB", "B", d("2021-01-04"), 12.0, 50.0, d("2021-05-15")),
      ("RB", "B", d("2021-01-05"), 13.0, 90.0, d("2021-05-15")),
      ("RB", "C", d("2021-01-06"), 15.0, 40.0, d("2021-09-15")),
      ("RB", "C", d("2021-01-07"), 16.0, 80.0, d("2021-09-15"))
    ).toDF("instrument_type", "instrument_id", "trade_date", "close", "switch_by", "last_trade_date")
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      graft.analytics.ContinuousFutures.dailySelection(spark, bars).collect()
      graft.analytics.ContinuousFutures.adjFactors(spark, bars).collect()
      graft.analytics.ContinuousFutures.continuousSeries(spark, bars).collect()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("corpus hash kernels sit above a scatter exchange") {
    // The documents parquet is one input split; every per-document hash
    // kernel must be fanned out by a round-robin repartition or it runs
    // on one core (the round-3 dd_exact_groups regression).
    for (q <- Seq("dd_exact_groups", "t_fingerprint")) {
      val p = simple(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("REPARTITION_BY_NUM") || p.contains("RoundRobinPartitioning"),
        s"$q kernel has no scatter exchange:\n$p")
    }
    // dd_simhash serves the session-shared signature table (r16), so
    // its FINAL plan is a scratch read — audit the kernel expression
    // itself, which must still scatter the single-split input.
    val sh = simple(graft.operators.Dedup.simHash(
      Tables.scatter(Tables.documents(spark, sf)), "text"))
    assert(sh.contains("REPARTITION_BY_NUM") || sh.contains("RoundRobinPartitioning"),
      s"simHash kernel has no scatter exchange:\n$sh")
  }

  test("c4 line cleaning and int8 quantization stay map-only") {
    // Per-row rewrites: any Join or wide Exchange beyond the scatter /
    // presentation sort means the linear scan broke.
    val c4 = graft.operators.QualityFilters.c4LineClean(
      Tables.documents(spark, sf), "doc_id", "text")
    assert(shuffles(c4) == 0, s"c4LineClean grew an exchange:\n${simple(c4)}")
    assert(!simple(c4).contains("Join"))
    val q8 = graft.operators.Similarity.int8Quantize(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    assert(shuffles(q8) == 0, s"int8Quantize grew an exchange:\n${simple(q8)}")
    assert(!simple(q8).contains("Join"))
  }

  test("linear quality classifier: one doc-id shuffle, partial agg, no join") {
    val df = graft.operators.QualityFilters.hashedLinearQuality(
      Tables.documents(spark, sf), "doc_id", "text", buckets = 512)
    val p = simple(df)
    assert(shuffles(df) == 1, s"expected exactly the doc-id shuffle:\n$p")
    assert(!p.contains("Join"), s"weights must be column algebra, not a join:\n$p")
    assert(p.contains("partial_"), s"count must combine map-side:\n$p")
  }

  test("dsir scoring joins model tables by broadcast only") {
    // The bucket log-ratio table and totals are model-sized: if either
    // ever plans as a SortMergeJoin the corpus is shuffling on model
    // keys.
    val df = graft.operators.QualityFilters.dsirWeights(
      Tables.documents(spark, sf), "doc_id", "text",
      isTarget = col("lang") === "en", buckets = 256)
    val p = simple(df)
    assert(p.contains("BroadcastHashJoin"), s"model join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled on a model key:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbounded cross join:\n$p")
  }

  test("token drift: grid joins broadcast, corpus tokenized once per agg tree") {
    val df = graft.operators.QualityFilters.tokenDriftReport(
      Tables.documents(spark, sf), "text", groupCol = col("source"), buckets = 64)
    val p = simple(df)
    assert(!p.contains("SortMergeJoin"), s"grid join shuffled the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbounded cross join:\n$p")
  }

  test("mmr rerank: candidate generation broadcasts the corpus side only once") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val df = graft.operators.Similarity.mmrRerank(q, e, "vec_id", "v",
      "vec_id", "v", k = 2, poolSize = 4)
    val p = simple(df)
    assert(!p.contains("CartesianProduct"), s"rerank plans a cartesian:\n$p")
    // greedy state is the per-query group: exactly one shuffle for the
    // groupByKey plus at most one for the candidate top-k window
    assert(shuffles(df) <= 3, s"rerank grew extra exchanges:\n$p")
  }

  test("j1 vendor merge under a hot code: pre-agg absorbs skew; raw feed AQE-splits") {
    // A hot code carrying 30% of all rows. Two layers of defense:
    //
    // (1) The vendor-merge shape itself: both sides pre-aggregate on the
    //     join key, so row skew is absorbed by the map-side partial
    //     HashAggregate and the full-outer merge joins PK-UNIQUE sides —
    //     per-reducer load is bounded by distinct keys, not rows. This
    //     matters because AQE can NOT split a skewed full-outer SMJ
    //     (OptimizeSkewedJoin handles inner/semi/anti/one-sided-outer
    //     only): the pre-agg is the only thing standing between a hot
    //     code and a stuck reducer, so the audit pins it.
    //
    // (2) A RAW (non-aggregated) fact feed of the same key shape, where
    //     the skew genuinely reaches a shuffle join: AQE's skew split
    //     must engage once broadcast is off and the thresholds match the
    //     fixture scale.
    import graft.operators.MergeOps
    // each side derives from its OWN plan (same-val self-joins trip
    // Spark's ambiguity check — see the verify-skill gotcha)
    def skewed() = spark.range(60000).select(
      when(pmod(col("id"), lit(10)) < 3, lit(7L))
        .otherwise(pmod(col("id"), lit(500))).as("suppkey"),
      pmod(col("id"), lit(7)).cast("int").as("lineno"),
      date_add(lit("2020-01-01").cast("date"),
        pmod(col("id"), lit(50)).cast("int")).as("ship_date"),
      pmod(col("id"), lit(1000)).cast("double").as("px"),
      pmod(col("id"), lit(90)).cast("double").as("qty"))
    def vendor(maxL: Int, minL: Int) = skewed()
      .filter(col("lineno") <= maxL && col("lineno") >= minL)
      .groupBy(col("suppkey"), col("ship_date"))
      .agg(sum(col("px")).as("px"), sum(col("qty")).as("qty"))
    val va = vendor(3, 0)
    val vb = vendor(6, 2)
    val merged = MergeOps.reconcile(va, vb,
      Seq("suppkey", "ship_date"), Seq("suppkey", "ship_date"),
      Seq("suppkey", "ship_date"),
      rules = Seq(
        "px" -> ((l, r) => MergeOps.preferLeft(l, r)),
        "qty" -> ((l, r) => MergeOps.meanValue(l, r))),
      leftCols = n => va(n), rightCols = n => vb(n))
    assert(simple(merged).contains("partial_sum"),
      s"vendor pre-agg lost its map-side combine:\n${simple(merged)}")
    // PK-unique sides: the merge emits exactly one row per distinct key,
    // hot code included — skew never multiplies join output
    val va2 = vendor(3, 0); val vb2 = vendor(6, 2) // fresh plans for the self-join check
    val expectKeys = va2.select("suppkey", "ship_date")
      .union(vb2.select("suppkey", "ship_date")).distinct().count()
    assert(merged.count() == expectKeys, "merge duplicated keys under skew")
    // vendors' lineno windows ([0,3] ∪ [2,6]) cover every row, so the
    // hot code contributes exactly its distinct dates — once each
    val hotDates = skewed().filter(col("suppkey") === 7)
      .select(col("ship_date")).distinct().count()
    assert(merged.filter(col("suppkey") === 7).count() == hotDates)

    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = spark.range(500)
        .select(col("id").as("suppkey"), (col("id") * 2).cast("double").as("ref_px"))
      val joined = skewed().select(col("suppkey"), col("px")).join(dim, Seq("suppkey"))
      // execute THIS df (count() would plan its own QueryExecution and
      // leave joined's AQE plan unfinalized)
      assert(joined.collect().length == 60000)
      val fp = joined.queryExecution.executedPlan.toString
      assert(fp.contains("skew=true") || fp.contains("isSkewJoin=true"),
        s"AQE skew split did not engage on the hot partition:\n$fp")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fin_max_drawdown: three window columns share one custkey exchange") {
    // running max, the trough rank, and n_obs all partition by
    // o_custkey: one window Exchange + the presentation orderBy.
    val df = SparkEntry.queries("fin_max_drawdown")(spark, sf)
    // Upper bound, not exact (round-8 advice): benign planner/AQE
    // differences must not trip the audit — the regression target is a
    // PER-COLUMN window exchange, which would add 2 more.
    assert(shuffles(df) <= 2, s"drawdown windows stopped sharing:\n${simple(df)}")
  }

  test("fin_rolling_beta: market series joins by broadcast, no cartesian") {
    // The per-date market table is calendar-sized -> must broadcast
    // into the per-order return stream, never shuffle the fact side
    // for the join. Wide exchanges: market agg, market window, asset
    // window (shared by returns + co-moment sums), presentation sort.
    val p = simple(SparkEntry.queries("fin_rolling_beta")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"market join stopped broadcasting:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(shuffles(SparkEntry.queries("fin_rolling_beta")(spark, sf)) <= 4,
      "rolling beta grew an extra wide exchange")
  }

  test("fin_vwap_bars: aggregation is partial and single-exchange") {
    val df = SparkEntry.queries("fin_vwap_bars")(spark, sf)
    assert(shuffles(df) <= 2, s"vwap should be one agg exchange + sort:\n${simple(df)}")
    val f = formatted(df)
    assert(f.contains("partial_"), s"vwap lost map-side combine:\n$f")
  }

  test("dd_cross_doc_spans / dd_span_scrub: no cartesian, span tables broadcast") {
    val spans = SparkEntry.queries("dd_cross_doc_spans")(spark, sf)
    assert(!simple(spans).contains("CartesianProduct"))
    assert(shuffles(spans) <= 5, // scatter, (h,doc) fold, h window, doc window, sort
      s"cross-doc span pipeline grew a wide exchange:\n${simple(spans)}")
    // scrub: the drop-position side is output-sized -> broadcasts into
    // the token stream instead of shuffling the corpus for the anti-join
    val scrub = simple(SparkEntry.queries("dd_span_scrub")(spark, sf))
    assert(!scrub.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(scrub).length >= 2,
      s"span scrub stopped broadcasting the span/drop tables:\n$scrub")
  }

  test("t_heavy_hitters: the exchange carries sketch partials, not raw tokens") {
    // mapPartitions sketches feed ONE groupByKey exchange + the
    // presentation sort; the scatter repartition is the third. Any
    // fourth exchange means tokens started shuffling raw.
    val df = SparkEntry.queries("t_heavy_hitters")(spark, sf)
    assert(shuffles(df) <= 3, s"heavy hitters plan shape drifted:\n${simple(df)}")
  }

  test("prefix-filter joins: candidates ride gram-keyed equi-joins, never a cartesian") {
    Seq("dd_prefix_filter_pairs", "dd_containment_pairs").foreach { q =>
      val p = simple(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q degenerated to all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated to all-pairs:\n$p")
    }
  }

  test("a17 basket pairs: order-keyed self-join, scalar total broadcast") {
    val df = SparkEntry.queries("a17_basket_pairs")(spark, sf)
    val p = simple(df)
    // the only nested-loop allowed is the 1-row n_orders broadcast
    assert(!p.contains("CartesianProduct"), s"basket join exploded:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total stopped broadcasting:\n$p")
  }

  test("d13 calendar gaps: expected grid is a model-sized broadcast cross join") {
    val p = simple(SparkEntry.queries("d13_calendar_gaps")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"priority enum stopped broadcasting into the calendar:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the calendar × priority grid planned a shuffle cartesian:\n$p")
  }
}
