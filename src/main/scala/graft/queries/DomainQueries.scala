package graft.queries

import graft.analytics.{ContinuousFutures, FinanceReports}
import graft.core.{IncrementalPlanner, TableSpec, TableStore, Tables}
import graft.streaming.TickBarStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain algorithms (SURVEY §2.10) + the upsert/streaming primitives,
  * exercised on the driver testdata. Derivations map the TPC-H-ish
  * tables onto the reference's entity shapes (orders→quarterly reports,
  * lineitem→futures bars, events→ticks).
  */
object DomainQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** Stage `df` as two parity-split single-file halves under
    * `$tmpdir/<name>` (half_0 written BEFORE half_1, so the file
    * source's modification-time order — which decides micro-batch
    * order, and therefore every parity-stream oracle — is pinned).
    * Returns the stream directory path. One protocol, one place: the
    * three parity-stream queries all replay through this.
    */
  private[queries] def stageParityHalves(s: SparkSession, df: DataFrame,
      idCol: String, name: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val streamDir = new org.apache.hadoop.fs.Path(
      graft.core.Scratch.queryDir(name.stripPrefix("graft_")))
    val stageDir = new org.apache.hadoop.fs.Path(
      graft.core.Scratch.queryDir(name.stripPrefix("graft_") + "_stage"))
    Seq(streamDir, stageDir).foreach(p => fs.delete(p, true))
    fs.mkdirs(streamDir)
    Seq(0, 1).foreach { par =>
      val tmp = new org.apache.hadoop.fs.Path(stageDir, s"h$par")
      df.filter(pmod(col(idCol), lit(2)) === par)
        .coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(streamDir, s"half_$par.parquet"))
    }
    fs.delete(stageDir, true)
    streamDir.toString
  }

  /** Stage a parquet TABLE into `streamDir` as FLAT `<name>*.parquet`
    * files. The driver testdata ships single-file tables, but any
    * Spark-written table (ScaleUp corpora, store exports) is a
    * DIRECTORY of part files — and the file stream source does not
    * recurse, so a directory copied whole under the stream dir reads
    * as ZERO rows (found by the first sf1-directory correctness run).
    * Flat staging preserves the one-batch replay either way: the
    * source lists every staged file in micro-batch 0.
    */
  private[graft] def stageTableFiles(s: SparkSession, table: String,
      streamDir: org.apache.hadoop.fs.Path, name: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val src = new org.apache.hadoop.fs.Path(table)
    if (fs.getFileStatus(src).isDirectory) {
      val parts = fs.listStatus(src).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // loud-fail on zero parquet children (e.g. a zero-partition write
      // that left only _SUCCESS): silently staging nothing reproduces
      // the exact zero-row stream read this helper exists to eliminate
      require(parts.nonEmpty,
        s"stageTableFiles: $table is a directory with no *.parquet files")
      parts.zipWithIndex.foreach { case (p, i) =>
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
          new org.apache.hadoop.fs.Path(streamDir, s"${name}_$i.parquet"),
          false, conf)
      }
    } else
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(streamDir, s"$name.parquet"), false, conf)
  }

  private val dec = "decimal(18,2)"

  /** Engine-portable 6-decimal rounding: pure IEEE double ops, so Spark
    * and DuckDB produce bit-identical results even on .xxxxxx5 ties
    * (where Spark's BigDecimal-on-binary round and DuckDB's round()
    * disagree). */
  private def round6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** lineitem reinterpreted as futures bars: contract = supplier,
    * instrument type = supplier mod 5, maturity = contract's last ship
    * date. `switch_by` is the contract's *monthly* quantity (constant
    * within a month) so dominance shifts at realistic roll cadence
    * instead of flapping on daily noise. */
  private[graft] def futuresBars(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One lineitem scan + one shuffle: the monthly dominance metric and
    // the contract maturity are windows over the per-day aggregate
    // (decimal sums of decimal sums — exact, so values are identical to
    // the former three-scan/two-join shape). The explicit repartition on
    // l_suppkey alone is the single exchange: HashPartitioning(suppkey)
    // satisfies the ClusteredDistribution of the (suppkey, day) groupBy
    // AND of both windows, so the agg + both windows run shuffle-free in
    // one stage. (suppkey,day) pairs are near-distinct in lineitem, so
    // the skipped map-side combine wasn't buying anything.
    val base = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_shipdate"), col("l_extendedprice"), col("l_quantity"))
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("trade_date"))
      .agg(sum(col("l_extendedprice").cast(dec)).as("p"),
        sum(col("l_quantity").cast(dec)).as("q"))
    val wMonth = Window.partitionBy(col("l_suppkey"),
      date_trunc("month", col("trade_date")))
    val wSupp = Window.partitionBy(col("l_suppkey"))
    base.select(
      concat(lit("T"), pmod(col("l_suppkey"), lit(5))).as("instrument_type"),
      concat(lit("S"), col("l_suppkey")).as("instrument_id"),
      col("trade_date"),
      // double/double division (not decimal/decimal): IEEE-754 division
      // of the exact decimal sums is bit-identical in DuckDB, so the
      // d2/d3 oracles can reproduce close values exactly
      (col("p").cast("double") / col("q").cast("double")).as("close"),
      sum(col("q")).over(wMonth).cast("double").as("switch_by"),
      max(col("trade_date")).over(wSupp).as("last_trade_date"))
  }

  /** d1/d2/d3 all consume the same bars rollup; materialize it to
    * scratch parquet once per (session, sfDir) so the 600k-row
    * repartition+agg+window DAG runs once instead of once per query.
    * Parquet (not `.persist()`): profiled on this harness, a columnar
    * parquet scan of the rollup is 3–6× faster than decoding the
    * equivalent InMemoryRelation through the Bar encoder, and the
    * write-once/read-many shape is exactly how a shared intermediate is
    * handled on a real cluster (no executor-memory residency bet).
    */
  private val barsCache =
    new graft.core.BoundedMemo[(SparkSession, String), DataFrame](8)
  private def futuresBarsCached(s: SparkSession, d: String): DataFrame = {
    barsCache.evictIf((k, _) => k._1.sparkContext.isStopped)
    barsCache.getOrElseUpdate((s, d),
      graft.core.Scratch.materialize(futuresBars(s, d), "bars", d))
  }

  val queries: Map[String, Q] = Map(
    // ── D4: YTD→quarterly (flatMapGroups state machine) ──────────────
    "d4_ytd_quarterly" -> ((s, d) => {
      // Build an exactly-known YTD series (running quarterly revenue per
      // customer-year, complete years only) and de-cumulate it; the
      // oracle is the plain quarterly sum the series was built from.
      val q = Tables.orders(s, d)
        .groupBy(col("o_custkey"), year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .agg(sum(col("o_totalprice").cast(dec)).as("qdec"))
      val full = q.groupBy(col("o_custkey"), col("y"))
        .agg(count(lit(1)).as("nq")).filter(col("nq") === 4)
        .select(col("o_custkey").as("ck"), col("y").as("yy"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"), col("y")).orderBy(col("q"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // full-years is a per-(customer, year) verdict — tiny vs orders;
      // broadcast keeps the filter join shuffle-free.
      val reports = q.join(broadcast(full), col("o_custkey") === col("ck") && col("y") === col("yy"))
        .withColumn("ytd", sum(col("qdec")).over(wcum).cast("double"))
        .select(col("o_custkey").cast("string").as("code"),
          make_date(col("y"), col("q") * 3, lit(1)).as("report_date"), col("ytd"))
      FinanceReports.ytdToQuarterly(s, reports)
        .select(col("code"), col("report_date"), round(col("season"), 4).as("season"))
        .orderBy(col("code"), col("report_date"))
    }),

    // ── D6: report→daily as-of expansion ─────────────────────────────
    "d6_report_expansion" -> ((s, d) => {
      val reports = Tables.orders(s, d)
        .filter(col("o_custkey") % 50 === 0)
        .groupBy(col("o_custkey").as("code"), to_date(col("o_orderdate")).as("pub_date"))
        .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("val"))
        .withColumn("report_date", date_sub(col("pub_date"), 90))
      val calendar = Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("cal_date"))
        .distinct()
      FinanceReports.reportToDaily(reports, calendar,
        codeCol = "code", pubDateCol = "pub_date", reportDateCol = "report_date",
        calDateCol = "cal_date", valueCols = Seq("val"),
        horizon = java.sql.Date.valueOf("2002-12-31"))
        .orderBy(col("code"), col("cal_date"), col("pub_date"))
    }),

    // ── D5: cumulative-column profiler over derived report columns ───
    "d5_accum_profile" -> ((s, d) => {
      import s.implicits._
      // Two derived report columns per customer-quarter: one genuinely
      // YTD-cumulative, one plain quarterly. The profiler must flag
      // exactly the cumulative one.
      // Bucket customers into 5 pseudo-codes so every (code, quarter)
      // cell is dense at every scale factor — per-customer series are
      // too sparse at sf0.001 for the ≥3-boundary requirement.
      val q = Tables.orders(s, d)
        .groupBy(pmod(col("o_custkey"), lit(5)).as("code_b"),
          year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"))
        .agg(sum(col("o_totalprice").cast(dec)).as("qdec"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("code_b"), col("y")).orderBy(col("q"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val reports = q
        .withColumn("ytd_rev", sum(col("qdec")).over(wcum).cast("double"))
        .withColumn("q_rev", col("qdec").cast("double"))
        .select(col("code_b").cast("string").as("code"),
          make_date(col("y"), col("q") * 3, lit(1)).as("report_date"),
          col("ytd_rev"), col("q_rev"))
      val detected = graft.analytics.FinanceReports
        .detectAccumulationCols(reports, "code", "report_date", Seq("ytd_rev", "q_rev"))
      Seq("ytd_rev", "q_rev")
        .map(c => (c, detected.contains(c)))
        .toDF("column", "is_accumulation")
        .orderBy(col("column"))
    }),

    // ── D1–D3: continuous futures. Value-oracled by the skip-ahead
    // recursive-CTE replay in `d1SelectionCtes` (no list_reduce — an
    // earlier list_reduce translation was withdrawn over DuckDB 1.0.0's
    // struct-accumulator chunking hazard); ALSO covered by
    // reference-golden + randomized differential specs
    // (ContinuousFuturesSpec). ──────────────────────────────────────────
    "d1_dominant_contract" -> ((s, d) =>
      ContinuousFutures.dailySelection(s, futuresBarsCached(s, d))
        .orderBy(col("instrument_type"), col("trade_date"))),

    "d2_adj_factors" -> ((s, d) =>
      // Diff-method factors on the derived scenario: cross-contract price
      // gaps sum (bounded); Division is golden-tested on the controlled
      // fixture in ContinuousFuturesSpec. round6 (not round()): Spark
      // rounds doubles via the exact binary expansion, DuckDB via
      // decimal ties-away — they disagree on .xxxxxx5 boundaries; the
      // floor-based formula is pure IEEE arithmetic, identical in both.
      ContinuousFutures.adjFactors(s, futuresBarsCached(s, d), ContinuousFutures.Diff)
        .withColumn("adj_factor_main", round6(col("adj_factor_main")))
        .withColumn("adj_factor_secondary", round6(col("adj_factor_secondary")))
        .orderBy(col("instrument_type"), col("trade_date"))),

    "d3_continuous_series" -> ((s, d) =>
      // continuousSeries returns a persisted result; scratch-materialize
      // so the pin doesn't outlive the query.
      graft.core.Scratch.materialize(
        ContinuousFutures.continuousSeries(s, futuresBarsCached(s, d), ContinuousFutures.Diff),
        "d3_series", d)
        .withColumn("close", round6(col("close")))
        .withColumn("close_adj", round6(col("close_adj")))
        .withColumn("adj_factor_main", round6(col("adj_factor_main")))
        .orderBy(col("instrument_type"), col("trade_date"))),

    // ── K1: keyed upsert end-to-end (the #1 sink primitive) ──────────
    "k1_upsert_readback" -> ((s, d) => {
      val dir = graft.core.Scratch.queryDir("upsert_flat")
      val store = new TableStore(s, dir)
      val spec = TableSpec("orders_upsert", Seq("o_orderkey"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val batch1 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"), to_date(col("o_orderdate")).as("od"))
      store.upsert(spec, batch1)
      val batch2 = batch1.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", lit("X"))
      store.upsert(spec, batch2)
      store.compact(spec) // file-count hygiene; content must be unchanged
      store.read(spec).orderBy(col("o_orderkey"))
    }),

    // K1 additive schema evolution end-to-end: batch 2 arrives with a
    // column batch 1 never had; old rows read back null there, updated
    // rows carry it, and untouched columns survive. The oracle rebuilds
    // the expected merged table including the null backfill.
    "k1_schema_evolution" -> ((s, d) => {
      val dir = graft.core.Scratch.queryDir("upsert_evolve")
      val store = new TableStore(s, dir)
      val spec = TableSpec("orders_evolve", Seq("o_orderkey"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val batch1 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      store.upsert(spec, batch1)
      val batch2 = batch1.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 7.0)
        .withColumn("priority_flag", lit("HIGH")) // the new column
      store.upsert(spec, batch2)
      store.read(spec).orderBy(col("o_orderkey"))
    }),

    "k1_upsert_partitioned" -> ((s, d) => {
      // Partitioned upsert: the second batch must rewrite only the
      // partitions it touches (1997), leaving the rest byte-identical.
      val dir = graft.core.Scratch.queryDir("upsert_part")
      val store = new TableStore(s, dir)
      val spec = TableSpec("orders_part", Seq("o_orderkey"), partitionBy = Seq("od_year"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val batch1 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"), year(col("o_orderdate")).as("od_year"))
      // od_year is derived from the immutable order date, so a key can
      // never change partition: evictMovedKeys=false skips the
      // untouched-partition semi-join scan — the incremental load really
      // touches ONE partition (the documented fast path every reference
      // table qualifies for).
      store.upsert(spec, batch1, evictMovedKeys = false)
      val batch2 = batch1.filter(col("od_year") === 1997 && col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
      store.upsert(spec, batch2, evictMovedKeys = false)
      store.read(spec)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), col("od_year").cast("int").as("od_year"))
        .orderBy(col("o_orderkey"))
    }),

    "k2_insert_ignore" -> ((s, d) => {
      // INSERT IGNORE: conflicting second batch must NOT win.
      val dir = graft.core.Scratch.queryDir("upsert_ignore")
      val store = new TableStore(s, dir)
      val spec = TableSpec("orders_ignore", Seq("o_orderkey"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val batch1 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      store.upsert(spec, batch1)
      val batch2 = batch1.withColumn("o_totalprice", lit(-1.0))
      store.insertIgnore(spec, batch2)
      store.read(spec).orderBy(col("o_orderkey"))
    }),

    "k3_overwrite_partitions" -> ((s, d) => {
      // Delete-then-insert of one partition slice (dynamic overwrite).
      val dir = graft.core.Scratch.queryDir("overwrite_part")
      val store = new TableStore(s, dir)
      val spec = TableSpec("orders_ow", Seq("o_orderkey"), partitionBy = Seq("od_year"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val batch1 = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("od_year"))
      store.upsert(spec, batch1)
      val replacement = batch1.filter(col("od_year") === 1998)
        .withColumn("o_totalprice", round(col("o_totalprice") * 0.5, 4))
      store.overwritePartitions(spec, replacement)
      store.read(spec)
        .select(col("o_orderkey"), col("o_totalprice"), col("od_year").cast("int").as("od_year"))
        .orderBy(col("o_orderkey"))
    }),

    // ── E2E: the reference's daily futures operation as ONE DAG ──────
    // reorg → D1 selection → D2 factors → D3 continuous series → K3
    // partition overwrite → K6 CSV export, run INCREMENTALLY across two
    // watermark loads (/root/reference/tasks/wind/future_reorg/
    // reversion_rights_factors.py orchestrates exactly this daily).
    // Run 2 discovers its delta from the SINK's watermark
    // (IncrementalPlanner.newerThanSink), recomputes the (small,
    // per-(type,day)) series from the watermark-assembled bar table, and
    // rewrites ONLY the year partitions whose content changed — computed
    // by a snapshot diff (the D10 discipline applied before a write),
    // not assumed, because backward Diff adjustment rewrites history at
    // every new roll. The oracle is the from-scratch d3 replay over the
    // FULL bar table: the second incremental run must be
    // indistinguishable from a full rebuild.
    "e2e_futures_daily" -> ((s, d) => {
      val dir = graft.core.Scratch.queryDir("e2e_futures")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val store = new TableStore(s, dir)
      val spec = TableSpec("continuous_series", Seq("instrument_type", "trade_date"),
        partitionBy = Seq("yr"))
      val bars = futuresBarsCached(s, d)
      val seriesCols = Seq("instrument_type", "trade_date", "main_id", "close",
        "adj_factor_main", "close_adj")
      def series(b: DataFrame, tag: String): DataFrame =
        graft.core.Scratch.materialize(
          ContinuousFutures.continuousSeries(s, b, ContinuousFutures.Diff),
          "e2e_series", s"$tag|$d")
          .withColumn("yr", year(col("trade_date")))
          .select((seriesCols :+ "yr").map(col): _*)
      // Run 1: the world as of the cutoff — initial full load (K3 path).
      val cutoff = lit(java.sql.Date.valueOf("1998-06-01"))
      store.overwritePartitions(spec,
        series(bars.filter(col("trade_date") < cutoff), "run1"))
      // Run 2: the delta is DISCOVERED from the sink's watermark, never
      // from the cutoff constant — the incremental contract under test.
      // In the reference's daily operation the delta plans the VENDOR
      // FETCH (IncrementalPlanner's role); the recompute then reads the
      // engine's own updated bar table. Mirror that: require the
      // watermark to have found a non-empty delta (else run 2 proves
      // nothing), then recompute from the table — whose plan is the
      // same one d1/d2/d3 share, so the memoized (type, day) reduction
      // serves this run instead of being rebuilt under a union plan.
      val sunk = store.read(spec)
      val newBars = graft.core.IncrementalPlanner.newerThanSink(bars, sunk, "trade_date")
      require(!newBars.isEmpty, "e2e run 2: watermark found no delta")
      val s2 = series(bars, "run2")
      val cur = store.read(spec).select(seriesCols.map(col): _*)
        .withColumn("yr", year(col("trade_date")))
      // Changed partitions = years appearing in EITHER side of the row
      // diff; bounded driver collect (≤ #years). Years can only gain or
      // change rows here (the bar table is append-only), so a partition
      // absent from s2 cannot occur and overwrite covers the whole set.
      val changedYears = s2.exceptAll(cur).select(col("yr"))
        .unionByName(cur.exceptAll(s2).select(col("yr")))
        .distinct().collect().map(_.getInt(0)).toSeq
      if (changedYears.nonEmpty)
        store.overwritePartitions(spec, s2.filter(col("yr").isin(changedYears: _*)))
      // K6: the consumer-facing CSV export, read back typed.
      val outDir = graft.core.Scratch.queryDir("e2e_csv")
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      store.read(spec).select(seriesCols.map(col): _*)
        .write.option("header", "true").csv(outDir)
      s.read.option("header", "true")
        .schema("instrument_type STRING, trade_date DATE, main_id STRING, " +
          "close DOUBLE, adj_factor_main DOUBLE, close_adj DOUBLE")
        .csv(outDir)
        .withColumn("close", round6(col("close")))
        .withColumn("adj_factor_main", round6(col("adj_factor_main")))
        .withColumn("close_adj", round6(col("close_adj")))
        .orderBy(col("instrument_type"), col("trade_date"))
    }),

    "e2e_vendor_ingest" -> ((s, d) => {
      // The reference's OTHER flagship DAG end-to-end (entry point A —
      // vendor ingest): J3 fetch-range planning from the SINK's own
      // per-key watermark → chunked vendor pull → K1 PK upsert, across
      // two incremental runs, with a crash injected mid-run-2 (after a
      // chunk's store commit, before the pipeline records progress) and
      // recovery that REPLANS from the sink. This is the reference's
      // restartability contract (/root/reference/tasks/tushare/
      // tushare_stock_daily/stock.py:124-234): fetch windows derive
      // from max(trade_date) per code, so a crashed run resumes where
      // the DATA stopped — no driver-side cursor to lose — and the PK
      // replace makes any overlap chunk idempotent. Oracle: the final
      // store must equal the from-scratch build, i.e. the vendor table
      // itself over the full window.
      val dir = graft.core.Scratch.queryDir("e2e_ingest")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val store = new TableStore(s, dir)
      val spec = TableSpec("orders_daily", Seq("o_orderkey"))
      val keys = Tables.customer(s, d).select(col("c_custkey"))
      // the "vendor API": one pull per planned (key, date window) set
      def vendorPull(ranges: DataFrame): DataFrame =
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
          .join(broadcast(ranges.select(col("c_custkey").as("o_custkey"),
            col("date_from"), col("date_to"))), Seq("o_custkey"))
          .filter(col("od") >= col("date_from") && col("od") <= col("date_to"))
          .select("o_orderkey", "o_custkey", "od", "o_totalprice")
      // one ingest run: plan ranges from the sink watermark, pull, and
      // upsert in per-year chunks (the reference's bunch_insert batching)
      def runIngest(dateTo: java.sql.Date, crashAfterChunk: Int): Long = {
        val existing =
          if (store.exists(spec))
            store.read(spec).select(col("o_custkey").as("c_custkey"), col("od"))
          else keys.select(col("c_custkey"), lit(null).cast("date").as("od"))
            .filter(lit(false))
        val ranges = IncrementalPlanner.fetchRanges(keys, existing,
          Seq("c_custkey"), "od",
          defaultStart = lit("1992-01-01").cast("date"), dateTo = lit(dateTo))
        val pull = vendorPull(ranges).persist()
        val n = pull.count()
        // bounded driver collect: ≤ #years chunks
        val yrs = pull.select(year(col("od")).as("y")).distinct()
          .orderBy(col("y")).collect().map(_.getInt(0))
        // finally: the injected crash must not skip the unpersist — the
        // pinned delta would otherwise survive in executor memory for
        // the rest of the session (the recovery run persists its own)
        try yrs.zipWithIndex.foreach { case (y, i) =>
          store.upsert(spec, pull.filter(year(col("od")) === y))
          if (i == crashAfterChunk)
            throw new RuntimeException("injected crash: chunk committed, run not finished")
        } finally pull.unpersist()
        n
      }
      runIngest(java.sql.Date.valueOf("1996-12-31"), -1) // run 1: initial window
      val crashed =
        try { runIngest(java.sql.Date.valueOf("2002-12-31"), 0); false }
        catch { case _: RuntimeException => true }
      require(crashed, "e2e ingest: crash injection never fired")
      // recovery: REPLAN from the sink — the committed crash chunk has
      // moved the affected keys' watermarks, so the replay pulls
      // strictly less than a blind re-run of the whole delta
      val replayed = runIngest(java.sql.Date.valueOf("2002-12-31"), -1)
      val fullDelta = Tables.orders(s, d)
        .filter(to_date(col("o_orderdate")) > lit("1996-12-31").cast("date")).count()
      require(replayed < fullDelta,
        s"recovery re-pulled the whole delta ($replayed vs $fullDelta) — watermark replanning is not engaged")
      store.read(spec)
        .select(col("o_orderkey"), col("o_custkey"), col("od"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ── Streaming: watermarked tick→bar replay (parity with a3) ──────
    "stream_tick_bars" -> ((s, d) => {
      // File streaming sources need a directory: stage the events file
      // into a scratch dir and replay it from there.
      val streamDir = new org.apache.hadoop.fs.Path(
        graft.core.Scratch.queryDir("stream_src"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(streamDir, true)
      fs.mkdirs(streamDir)
      stageTableFiles(s, s"$d/events.parquet", streamDir, "events")
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(
          s.read.parquet(s"$d/events.parquet").schema).parquet(streamDir.toString)
        val ticks = Tables.normalizeEventTime(raw, "ts")
        val bars = TickBarStream.bars(ticks, Seq("user_id"), "ts", "event_id", "value",
          windowDuration = "1 hour", watermark = "10 minutes")
        val q = bars.writeStream.outputMode("complete").format("memory")
          .queryName("graft_stream_bars").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_bars").orderBy(col("user_id"), col("bar_start"))
    }),

    // ── Streaming: stateful exactly-once dedup (streaming twin of K2) ─
    "stream_dedup" -> ((s, d) => {
      // The same events file staged twice into the source dir: the
      // second copy must be swallowed whole by dropDuplicates state —
      // the streaming equivalent of the reference's INSERT IGNORE
      // idempotency under at-least-once delivery.
      // dropDuplicatesWithinWatermark bounds the key state by event
      // time, which is what survives at 100 TB (unbounded exact dedup
      // state does not).
      val streamDir = new org.apache.hadoop.fs.Path(
        graft.core.Scratch.queryDir("stream_dedup"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(streamDir, true)
      fs.mkdirs(streamDir)
      Seq("a", "b").foreach(n => stageTableFiles(s, s"$d/events.parquet", streamDir, n))
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(
          s.read.parquet(s"$d/events.parquet").schema).parquet(streamDir.toString)
        val ticks = Tables.normalizeEventTime(raw, "ts")
        val deduped = ticks
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        val q = deduped.writeStream.outputMode("append").format("memory")
          .queryName("graft_stream_dedup").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_dedup").orderBy(col("event_id"))
    }),

    // ── Streaming: corpus curation under at-least-once delivery ──────
    "stream_corpus_curate" -> ((s, d) => {
      // The documents file staged TWICE into the source dir (duplicate
      // delivery): content-fingerprint dropDuplicates must emit each
      // distinct content once, then the quality gate keeps docs with
      // ≥10 tokens — the streaming twin of the batch dedup+filter
      // curation path. Output is keyed by fingerprint (not doc_id):
      // which copy of a duplicated content wins the state race is
      // nondeterministic by design, but every content-derived field is
      // identical across copies, so (fp, n_tokens) is deterministic.
      // On an unbounded corpus feed the dedup key state would be
      // watermark-bounded exactly like stream_dedup; the corpus table
      // has no event time, so this replay dedups over the full state.
      val streamDir = new org.apache.hadoop.fs.Path(
        graft.core.Scratch.queryDir("stream_corpus"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(streamDir, true)
      fs.mkdirs(streamDir)
      Seq("a", "b").foreach(n => stageTableFiles(s, s"$d/documents.parquet", streamDir, n))
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(
          s.read.parquet(s"$d/documents.parquet").schema).parquet(streamDir.toString)
        val curated = raw
          .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
          .withColumn("n_tokens",
            graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .dropDuplicates("fp")
          .filter(col("n_tokens") >= 10)
          .select(col("fp"), col("n_tokens"))
        val q = curated.writeStream.outputMode("append").format("memory")
          .queryName("graft_stream_corpus").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_corpus").orderBy(col("fp"))
    }),

    // ── Streaming: custom per-key state via mapGroupsWithState ───────
    "stream_state_user_stats" -> ((s, d) => {
      // Two disjoint halves of the event stream staged as two files,
      // maxFilesPerTrigger=1 → two micro-batches: the per-user summary
      // must FOLD batch 2 into batch 1's GroupState, not recompute.
      // n_updates (micro-batches that touched the key) proves the carry;
      // the DuckDB twin is count(DISTINCT event_id % 2).
      import org.apache.spark.sql.expressions.Window
      val ev = s.read.parquet(s"$d/events.parquet")
      val streamDir = stageParityHalves(s, ev, "event_id", "graft_stream_state")
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
        val stats = graft.streaming.StatefulStats.runningUserStats(s, raw)
        val q = stats.writeStream.outputMode("update").format("memory")
          .queryName("graft_state_stats").start()
        try q.processAllAvailable() finally q.stop()
      }
      // Update-mode memory sink keeps every batch's refresh; the live
      // summary per key is the one from the latest batch that touched it.
      val w = Window.partitionBy(col("user_id")).orderBy(col("n_updates").desc)
      s.table("graft_state_stats")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn")
        .orderBy(col("user_id"))
    }),

    // ── Streaming: LSH near-dup flag vs previously ingested corpus ──
    "stream_neardup_flag" -> ((s, d) => {
      // Two parity halves of `documents` staged as ordered files,
      // maxFilesPerTrigger=1 → two micro-batches: every odd-half doc is
      // checked against the even-half PRIORS sharing a SimHash band,
      // with exact hamming verification — the streaming form of the
      // incremental dedup index (what exact stream_dedup cannot catch:
      // a re-crawl with a tweaked footer). Cross-batch-only emission
      // makes the output independent of intra-batch order.
      val docs = s.read.parquet(s"$d/documents.parquet")
      val streamDir = stageParityHalves(s, docs, "doc_id", "graft_stream_neardup")
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
        val hits = graft.streaming.NearDupStream.nearDupFlags(
          s, raw, "doc_id", "text", maxHamming = 20)
        val q = hits.writeStream.outputMode("update").format("memory")
          .queryName("graft_stream_neardup").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_neardup")
        .orderBy(col("doc_id"), col("prior_id"), col("band"))
    }),

    "stream_media_neardup" -> ((s, d) => {
      // Streaming twin of mm_mixed_media_pairs: the mixed image/audio/
      // video/junk corpus (same synths, RiskQueries.mixed*) arrives as
      // two parity micro-batches; each payload is container-sniffed and
      // codec-fingerprinted on arrival, state is keyed by (format, band,
      // bucket) so cross-format comparisons are structurally impossible,
      // and hits are cross-batch only. Variant offsets are ODD
      // (+3000001 / +7000001) precisely so every planted copy lands in
      // the OPPOSITE parity batch from its base — each planted pair is
      // forced to emit, once per band (identical fingerprints collide in
      // all 4). Oracle = that forced structure; fingerprint-level facts
      // are pinned by MultimodalSpec/AudioSpec/VideoSpec.
      val mkBase = udf { did: Long => RiskQueries.mixedBase(did) }
      val mkVar = udf { did: Long => RiskQueries.mixedVariant(did) }
      val mkJunk = udf { did: Long => RiskQueries.mixedJunk(did) }
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val corpus = ids.select(col("doc_id"), mkBase(col("doc_id")).as("payload"))
        .unionAll(ids.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000001L).as("doc_id"), mkVar(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"), mkJunk(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 7000001L).as("doc_id"), mkJunk(col("doc_id")).as("payload")))
      val staged = graft.core.Scratch.materialize(corpus, "stream_media_src", d)
      val streamDir = stageParityHalves(s, staged, "doc_id", "graft_stream_media")
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
        val hits = graft.streaming.NearDupStream.mediaNearDupFlags(
          s, raw, "doc_id", "payload", maxHamming = 4)
        val q = hits.writeStream.outputMode("update").format("memory")
          .queryName("graft_stream_media").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_media")
        .orderBy(col("doc_id"), col("prior_id"), col("band"))
    }),

    // ── Streaming: stream-stream interval join (attribution) ────────
    "stream_join_attrib" -> ((s, d) => {
      // view→purchase attribution: join two event-time streams on
      // user_id with a [view_ts, view_ts + 1 h] range — the stream-
      // stream join state shape (both sides buffered, matches emitted
      // on arrival). Two parity-split micro-batches force CROSS-BATCH
      // matches (a view in batch 1 pairs with a purchase in batch 2),
      // and the over-span watermark keeps state live so the append
      // output must equal the batch join oracle. At production scale
      // the watermark is tight (hours) and bounds both buffers; here it
      // must out-span the fixture so no row is late.
      val ev = s.read.parquet(s"$d/events.parquet")
      val streamDir = stageParityHalves(s, ev, "event_id", "graft_stream_attrib")
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
        val ticks = Tables.normalizeEventTime(raw, "ts")
        val views = ticks.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id"))
          .withWatermark("view_ts", "40 days")
        val buys = ticks.filter(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
            col("event_id").as("buy_id"))
          .withWatermark("buy_ts", "40 days")
        val joined = views.join(buys,
          expr("user_id = buy_user AND buy_ts >= view_ts AND buy_ts <= view_ts + interval 1 hour"))
          .select(col("user_id"), col("view_id"), col("buy_id"))
        val q = joined.writeStream.outputMode("append").format("memory")
          .queryName("graft_stream_attrib").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_attrib")
        .orderBy(col("user_id"), col("view_id"), col("buy_id"))
    }),

    // ── Streaming: stream-static broadcast enrichment join ──────────
    "stream_enrich" -> ((s, d) => {
      // The J13 dimension-lookup shape under Structured Streaming: each
      // micro-batch joins the event stream to a broadcast static dim
      // (customer segment keyed by user_id) before aggregating — no
      // stream-side shuffle for the join, state only in the final agg.
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val streamDir = new org.apache.hadoop.fs.Path(
        graft.core.Scratch.queryDir("stream_enrich"))
      fs.delete(streamDir, true)
      fs.mkdirs(streamDir)
      stageTableFiles(s, s"$d/events.parquet", streamDir, "events")
      val cust = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(
          s.read.parquet(s"$d/events.parquet").schema).parquet(streamDir.toString)
        val enriched = raw
          .join(broadcast(cust), col("user_id") === col("c_custkey"), "left_outer")
          .groupBy(coalesce(col("c_mktsegment"), lit("unknown")).as("segment"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(dec)).cast("double").as("sum_value"))
        val q = enriched.writeStream.outputMode("complete").format("memory")
          .queryName("graft_stream_enrich").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_enrich").orderBy(col("segment"))
    }),

    // ── Streaming: merging session windows across micro-batches ─────
    "stream_sessionize" -> ((s, d) => {
      // The event stream split by event_id parity into two staged files,
      // maxFilesPerTrigger=1 → two micro-batches: batch 1 builds
      // FRAGMENTED sessions from every other event, and batch 2's
      // interleaved events must MERGE those session-window states (the
      // state shape tumbling windows never exercise). Complete mode +
      // a 40-day watermark (> the fixture's 30-day span) so no event is
      // late and the final table must equal the batch w11 oracle.
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val streamDir = new org.apache.hadoop.fs.Path(graft.core.Scratch.queryDir("stream_sess"))
      val stageDir = new org.apache.hadoop.fs.Path(graft.core.Scratch.queryDir("stream_sess_stage"))
      Seq(streamDir, stageDir).foreach(p => fs.delete(p, true))
      fs.mkdirs(streamDir)
      val ev = s.read.parquet(s"$d/events.parquet")
      Seq(0, 1).foreach { par =>
        val tmp = new org.apache.hadoop.fs.Path(stageDir, s"h$par")
        ev.filter(pmod(col("event_id"), lit(2)) === par)
          .coalesce(1).write.parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.startsWith("part-")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(streamDir, s"half_$par.parquet"))
      }
      fs.delete(stageDir, true)
      TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        val ticks = Tables.normalizeEventTime(raw, "ts")
        val sessions = ticks
          .withWatermark("ts", "40 days")
          .groupBy(col("user_id"), session_window(col("ts"), "24 hours").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(dec)).cast("double").as("sum_value"))
          .select(col("user_id"), col("sw.start").as("session_start"),
            col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
        val q = sessions.writeStream.outputMode("complete").format("memory")
          .queryName("graft_stream_sess").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_stream_sess").orderBy(col("user_id"), col("session_start"))
    }),

    // ── Streaming: heartbeat liveness rows landed in a keyed sink ────
    "stream_heartbeat_upsert" -> ((s, d) => {
      // §1.4 heart_beat end-to-end: the listener folds per-micro-batch
      // progress into one liveness row per query, and the monitoring
      // sink is a plain keyed upsert — the reference's one-row table
      // (tasks/backend/orm.py:58-91), per query instead of global. The
      // oracle pins the deterministic columns: name, terminal status,
      // and input_rows == the fixture's full row count; batch ids and
      // wall-clock stay out of the landed row.
      val streamDir = new org.apache.hadoop.fs.Path(graft.core.Scratch.queryDir("stream_hb"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(streamDir, true)
      fs.mkdirs(streamDir)
      stageTableFiles(s, s"$d/events.parquet", streamDir, "events")
      val hb = graft.streaming.Heartbeat.attach(s)
      try {
        TickBarStream.withShufflePartitions(s, 8) {
          val raw = s.readStream.schema(
            s.read.parquet(s"$d/events.parquet").schema).parquet(streamDir.toString)
          val bars = TickBarStream.bars(Tables.normalizeEventTime(raw, "ts"),
            Seq("user_id"), "ts", "event_id", "value", "1 hour", "10 minutes")
          // noop sink: the monitored QUERY's results are not this
          // query's output — only the listener's fold is. A complete-
          // mode MEMORY sink would serialize the whole bar aggregate to
          // the driver every micro-batch, which blows
          // spark.driver.maxResultSize at sf10 (found by the r13 full
          // sf10 board); the listener sees identical progress either way.
          val q = bars.writeStream.outputMode("complete").format("noop")
            .queryName("graft_hb_bars").start()
          try q.processAllAvailable() finally q.stop()
        }
        require(hb.awaitStatus("graft_hb_bars", "terminated", timeoutMs = 15000),
          "heartbeat termination event not observed")
        val storeDir = graft.core.Scratch.queryDir("hb_store")
        fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
        val store = new graft.core.TableStore(s, storeDir)
        val spec = graft.core.TableSpec("heartbeats", Seq("name"))
        store.upsert(spec, hb.snapshot(s)
          .filter(col("name") === "graft_hb_bars")
          .select(col("name"), col("status"), col("input_rows")))
        store.read(spec)
          .select(col("name"), col("status"), col("input_rows"))
          .orderBy(col("name"))
      } finally graft.streaming.Heartbeat.detach(s, hb)
    }),

    // ── Multimodal: partition-wise feature extraction over binary ────
    "mm_media_features" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
      graft.streaming.MultimodalPipeline.extractFeatures(s, docs, "doc_id", "payload")
        .orderBy(col("doc_id"))
    }),

    "mm_frame_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
      graft.streaming.MultimodalPipeline.sampleFrames(s, docs, "doc_id", "payload", maxFrames = 8)
        .select("doc_id", "frame_idx", "frame_ts_ms", "frame_width", "frame_height")
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    "mm_resize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
      graft.streaming.MultimodalPipeline.resize(s, docs, "doc_id", "payload", 224, 224)
        .select("doc_id", "width", "height", "n_bytes")
        .orderBy(col("doc_id"))
    }))

  /** Shared DuckDB CTE replaying the D1 dominant/secondary selection
    * state machine (ContinuousFutures.advanceDay) exactly, ending in
    * `sel(itype, d, m, s)` — the per-day selection series — and
    * `closes(itype, iid, d, close)`.
    *
    * The scan is inherently sequential, so the oracle is a recursive CTE
    * over candidate positions with a skip-ahead search: each recursion
    * step lands on the next STATE-CHANGING candidate within a bounded
    * window (or advances the window unchanged), so iterations track
    * state changes (rare), not candidate rows. State = (main, its
    * maturity, secondary, its maturity); a candidate's day-values of
    * main/sec come from per-day parallel id/value lists via
    * list_position (DuckDB 1.0 lambdas cannot capture correlated
    * columns, plain function arguments can). Per-day selections are
    * recovered with an ASOF join of each day's last candidate position
    * against the state-change points. No list_reduce anywhere — the
    * DuckDB 1.0.0 chunking hazard documented below does not apply.
    */
  private val d1SelectionCtes: String =
    """bars AS MATERIALIZED (
      |  SELECT 'T' || (l_suppkey % 5) AS itype,
      |         'S' || l_suppkey AS iid,
      |         CAST(l_shipdate AS DATE) AS d,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
      |           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS close,
      |         CAST(sum(sum(CAST(l_quantity AS DECIMAL(18,2))))
      |              OVER (PARTITION BY l_suppkey, date_trunc('month', CAST(l_shipdate AS DATE))) AS DOUBLE) AS v,
      |         max(CAST(l_shipdate AS DATE)) OVER (PARTITION BY l_suppkey) AS ltd
      |  FROM lineitem
      |  GROUP BY l_suppkey, CAST(l_shipdate AS DATE)),
      |daylists AS MATERIALIZED (
      |  SELECT itype, d, list(iid ORDER BY ltd, iid) AS ids,
      |         list(v ORDER BY ltd, iid) AS vs
      |  FROM bars GROUP BY itype, d),
      |steps AS MATERIALIZED (
      |  SELECT b.itype, b.d, b.iid, b.v, b.ltd, dl.ids, dl.vs,
      |    row_number() OVER (PARTITION BY b.itype ORDER BY b.d, b.ltd, b.iid) AS pos
      |  FROM bars b JOIN daylists dl ON dl.itype = b.itype AND dl.d = b.d),
      |scan AS (
      |  SELECT s0.itype, 0::BIGINT AS pos,
      |         CAST(NULL AS VARCHAR) AS m, CAST(NULL AS DATE) AS mm,
      |         CAST(NULL AS VARCHAR) AS s, CAST(NULL AS DATE) AS sm, s0.maxpos
      |  FROM (SELECT itype, max(pos) AS maxpos FROM steps GROUP BY itype) s0
      |  UNION ALL
      |  SELECT w.itype, COALESCE(c.pos, LEAST(w.pos + 16, w.maxpos)),
      |    CASE WHEN c.pos IS NULL THEN w.m
      |         WHEN w.m IS NULL OR c.mv IS NULL OR c.mv < c.v THEN c.iid ELSE w.m END,
      |    CASE WHEN c.pos IS NULL THEN w.mm
      |         WHEN w.m IS NULL OR c.mv IS NULL OR c.mv < c.v THEN c.ltd ELSE w.mm END,
      |    CASE WHEN c.pos IS NULL THEN w.s ELSE t.ns END,
      |    CASE WHEN c.pos IS NULL THEN w.sm ELSE t.nsm END,
      |    w.maxpos
      |  FROM scan w
      |  LEFT JOIN LATERAL (
      |    SELECT st.pos, st.iid, st.v, st.ltd,
      |      st.vs[list_position(st.ids, w.m)] AS mv,
      |      st.vs[list_position(st.ids, w.s)] AS sv
      |    FROM steps st
      |    WHERE st.itype = w.itype AND st.pos > w.pos AND st.pos <= w.pos + 16
      |      AND (w.mm IS NULL OR st.ltd >= w.mm)
      |      AND (
      |        w.m IS NULL
      |        OR st.vs[list_position(st.ids, w.m)] IS NULL
      |        OR st.vs[list_position(st.ids, w.m)] < st.v
      |        OR (w.s IS NULL AND st.iid <> w.m)
      |        OR (w.sm < st.ltd
      |            AND st.vs[list_position(st.ids, w.s)] IS NOT NULL
      |            AND st.vs[list_position(st.ids, w.s)] < st.v))
      |    ORDER BY st.pos LIMIT 1) c ON true
      |  CROSS JOIN LATERAL (
      |    SELECT CASE WHEN w.m IS NULL OR c.mv IS NULL OR c.mv < c.v
      |           THEN c.iid ELSE w.m END AS nm,
      |           CASE WHEN w.m IS NULL OR c.mv IS NULL OR c.mv < c.v
      |           THEN c.ltd ELSE w.mm END AS nmm) tm
      |  CROSS JOIN LATERAL (
      |    SELECT CASE WHEN w.m IS NOT NULL AND tm.nm <> w.m
      |                 AND w.s IS NOT NULL AND (w.s = tm.nm OR w.sm < tm.nmm)
      |           THEN NULL ELSE w.s END AS s1) ts
      |  CROSS JOIN LATERAL (
      |    SELECT CASE WHEN ts.s1 IS NULL THEN
      |                  (CASE WHEN c.iid <> tm.nm THEN c.iid ELSE NULL END)
      |                WHEN w.sm < c.ltd AND c.sv IS NOT NULL AND c.sv < c.v THEN c.iid
      |                ELSE ts.s1 END AS ns,
      |           CASE WHEN ts.s1 IS NULL THEN
      |                  (CASE WHEN c.iid <> tm.nm THEN c.ltd ELSE NULL END)
      |                WHEN w.sm < c.ltd AND c.sv IS NOT NULL AND c.sv < c.v THEN c.ltd
      |                ELSE w.sm END AS nsm) t
      |  WHERE w.pos < w.maxpos),
      |eod AS (SELECT itype, d, max(pos) AS eod_pos FROM steps GROUP BY itype, d),
      |sel AS (
      |  SELECT e.itype, e.d, st.m, st.s
      |  FROM eod e
      |  ASOF JOIN (SELECT itype, pos, m, s FROM scan) st
      |    ON e.itype = st.itype AND e.eod_pos >= st.pos)""".stripMargin

  /** Factor rows (Diff method) derived from the selection series: rolls
    * are day-over-day changes of main/secondary; the price gap is taken
    * at the previous selection day's closes, skipped when either close
    * is missing there; the latest selection day carries the neutral
    * factor; factors reverse-cumulate (suffix sums in date-descending
    * order — same fold order as the Scala scan, so double addition is
    * bit-identical). Ends in `fac(itype, fd, mainId, accM, secC, accS)`.
    */
  private val d2FactorCtes: String =
    s"""$d1SelectionCtes,
      |series AS (
      |  SELECT itype, d, m, s,
      |    lag(d) OVER (PARTITION BY itype ORDER BY d) AS pd,
      |    lag(m) OVER (PARTITION BY itype ORDER BY d) AS pm,
      |    lag(s) OVER (PARTITION BY itype ORDER BY d) AS ps
      |  FROM sel),
      |rolls AS (
      |  SELECT r.itype, r.pd AS fd,
      |    CASE WHEN fm.f IS NOT NULL THEN r.pm ELSE r.m END AS mainId,
      |    fm.f AS fM,
      |    CASE WHEN fs.f IS NOT NULL THEN r.ps ELSE NULL END AS secId,
      |    fs.f AS fS
      |  FROM series r
      |  LEFT JOIN LATERAL (
      |    SELECT cn.close - co.close AS f
      |    FROM bars cn, bars co
      |    WHERE r.pm IS NOT NULL AND r.m <> r.pm
      |      AND cn.itype = r.itype AND cn.iid = r.m AND cn.d = r.pd
      |      AND co.itype = r.itype AND co.iid = r.pm AND co.d = r.pd) fm ON true
      |  LEFT JOIN LATERAL (
      |    SELECT cn.close - co.close AS f
      |    FROM bars cn, bars co
      |    WHERE r.ps IS NOT NULL AND r.s IS NOT NULL AND r.s <> r.ps
      |      AND cn.itype = r.itype AND cn.iid = r.s AND cn.d = r.pd
      |      AND co.itype = r.itype AND co.iid = r.ps AND co.d = r.pd) fs ON true
      |  WHERE fm.f IS NOT NULL OR fs.f IS NOT NULL),
      |lastrow AS (
      |  SELECT itype, d AS fd, m AS mainId, 0.0::DOUBLE AS fM, s AS secId, 0.0::DOUBLE AS fS
      |  FROM (SELECT itype, d, m, s,
      |          row_number() OVER (PARTITION BY itype ORDER BY d DESC) AS rn
      |        FROM sel) x WHERE rn = 1),
      |raw AS (SELECT * FROM rolls UNION ALL SELECT * FROM lastrow),
      |fac AS (
      |  SELECT itype, fd, mainId,
      |    sum(COALESCE(fM, 0.0)) OVER (PARTITION BY itype ORDER BY fd DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accM,
      |    last_value(secId IGNORE NULLS) OVER (PARTITION BY itype ORDER BY fd DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS secC,
      |    sum(COALESCE(fS, 0.0)) OVER (PARTITION BY itype ORDER BY fd DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accS
      |  FROM raw)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "d1_dominant_contract" ->
      s"""WITH RECURSIVE $d1SelectionCtes
        |SELECT itype AS instrument_type, d AS trade_date,
        |  m AS main_id, s AS secondary_id
        |FROM sel WHERE m IS NOT NULL
        |ORDER BY instrument_type, trade_date""".stripMargin,

    "d2_adj_factors" ->
      s"""WITH RECURSIVE $d2FactorCtes
        |SELECT itype AS instrument_type, fd AS trade_date,
        |  mainId AS instrument_id_main,
        |  floor(accM * 1000000 + 0.5) / 1000000 AS adj_factor_main,
        |  secC AS instrument_id_secondary,
        |  floor(accS * 1000000 + 0.5) / 1000000 AS adj_factor_secondary
        |FROM fac ORDER BY instrument_type, trade_date""".stripMargin,

    "d3_continuous_series" ->
      s"""WITH RECURSIVE $d2FactorCtes,
        |fiv AS (
        |  SELECT itype, fd, accM,
        |    lag(fd) OVER (PARTITION BY itype ORDER BY fd) AS pfd
        |  FROM fac)
        |SELECT v.itype AS instrument_type, v.d AS trade_date, v.m AS main_id,
        |  floor(b.close * 1000000 + 0.5) / 1000000 AS close,
        |  floor(f.accM * 1000000 + 0.5) / 1000000 AS adj_factor_main,
        |  floor((b.close + COALESCE(f.accM, 0.0)) * 1000000 + 0.5) / 1000000 AS close_adj
        |FROM (SELECT * FROM sel WHERE m IS NOT NULL) v
        |JOIN bars b ON b.itype = v.itype AND b.iid = v.m AND b.d = v.d
        |LEFT JOIN fiv f ON f.itype = v.itype AND v.d <= f.fd
        |  AND (f.pfd IS NULL OR v.d > f.pfd)
        |ORDER BY instrument_type, trade_date""".stripMargin,

    // The crash-recovered two-run ingest must equal the from-scratch
    // build: exactly the vendor table over the full window.
    "e2e_vendor_ingest" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
        |  o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // The incremental two-run pipeline must equal the from-scratch
    // rebuild — i.e., exactly the d3 replay over the full bar table.
    "e2e_futures_daily" ->
      s"""WITH RECURSIVE $d2FactorCtes,
        |fiv AS (
        |  SELECT itype, fd, accM,
        |    lag(fd) OVER (PARTITION BY itype ORDER BY fd) AS pfd
        |  FROM fac)
        |SELECT v.itype AS instrument_type, v.d AS trade_date, v.m AS main_id,
        |  floor(b.close * 1000000 + 0.5) / 1000000 AS close,
        |  floor(f.accM * 1000000 + 0.5) / 1000000 AS adj_factor_main,
        |  floor((b.close + COALESCE(f.accM, 0.0)) * 1000000 + 0.5) / 1000000 AS close_adj
        |FROM (SELECT * FROM sel WHERE m IS NOT NULL) v
        |JOIN bars b ON b.itype = v.itype AND b.iid = v.m AND b.d = v.d
        |LEFT JOIN fiv f ON f.itype = v.itype AND v.d <= f.fd
        |  AND (f.pfd IS NULL OR v.d > f.pfd)
        |ORDER BY instrument_type, trade_date""".stripMargin,

    // The profiler's verdict on this deterministic corpus is fixed:
    // the cumulative column is detected, the quarterly one is not.
    "d5_accum_profile" ->
      """SELECT 'q_rev' AS "column", false AS is_accumulation
        |UNION ALL SELECT 'ytd_rev', true
        |ORDER BY "column"""".stripMargin,

    "d4_ytd_quarterly" ->
      """WITH q AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS code, year(o_orderdate) AS y,
        |    quarter(o_orderdate) AS q,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qval
        |  FROM orders GROUP BY 1, 2, 3),
        |full4 AS (SELECT code, y FROM q GROUP BY code, y HAVING count(*) = 4)
        |SELECT q.code, make_date(q.y, q.q * 3, 1) AS report_date,
        |  round(qval, 4) AS season
        |FROM q JOIN full4 USING (code, y)
        |ORDER BY code, report_date""".stripMargin,

    "d6_report_expansion" ->
      """WITH reports AS (
        |  SELECT o_custkey AS code, CAST(o_orderdate AS DATE) AS pub_date,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val
        |  FROM orders WHERE o_custkey % 50 = 0 GROUP BY 1, 2),
        |wnd AS (
        |  SELECT code, pub_date, pub_date - 90 AS report_date, val,
        |    coalesce(lead(pub_date) OVER (PARTITION BY code ORDER BY pub_date),
        |             DATE '2002-12-31') AS until_d
        |  FROM reports),
        |cal AS (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS cal_date FROM orders)
        |SELECT code, cal_date, pub_date, report_date, val
        |FROM wnd JOIN cal ON cal.cal_date >= wnd.pub_date AND cal.cal_date < wnd.until_d
        |ORDER BY code, cal_date, pub_date""".stripMargin,

    "k1_upsert_readback" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  CAST(o_orderdate AS DATE) AS od
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "k1_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 7.0 ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 'HIGH' END AS priority_flag
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "k1_upsert_partitioned" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN year(o_orderdate) = 1997 AND o_orderkey % 3 = 0
        |       THEN o_totalprice * 2.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus, CAST(year(o_orderdate) AS INT) AS od_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "k2_insert_ignore" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders ORDER BY o_orderkey""".stripMargin,

    "k3_overwrite_partitions" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1998 THEN round(o_totalprice * 0.5, 4)
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(year(o_orderdate) AS INT) AS od_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "stream_tick_bars" ->
      """SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_start,
        |  arg_min(value, event_id) AS open, max(value) AS high, min(value) AS low,
        |  arg_max(value, event_id) AS close, count(*) AS n_ticks
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bar_start""".stripMargin,

    "stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // Batch replay of the two-micro-batch LSH run: batch = doc_id
    // parity, priors = strictly earlier batch, same 60-bit signature /
    // 15-bit banding / hamming verify as the dd_simhash oracles.
    "stream_neardup_flag" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS ltoks FROM documents),
        |tok AS (SELECT doc_id, unnest(ltoks) AS w FROM t),
        |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
        |votes AS (SELECT doc_id, b.range AS bit,
        |    sum(CASE WHEN ((hv >> b.range) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, range(0, 60) b GROUP BY 1, 2),
        |sig0 AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY 1),
        |sigs AS (SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash,
        |    d.doc_id % 2 AS batch
        |  FROM documents d LEFT JOIN sig0 s ON s.doc_id = d.doc_id),
        |banded AS (SELECT doc_id, simhash, batch, b.range AS band,
        |    (simhash >> (b.range * 15)) & 32767 AS bk
        |  FROM sigs, range(0, 4) b),
        |-- replay the deterministic per-bucket state cap: after batch 0
        |-- the bucket keeps only its 1000 LOWEST doc ids (NearDupStream
        |-- maxBucket), so batch 1 compares against exactly that set
        |priors AS (SELECT doc_id, simhash, band, bk FROM (
        |  SELECT doc_id, simhash, band, bk,
        |    row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rk
        |  FROM banded WHERE batch = 0) c WHERE rk <= 1000)
        |SELECT n.doc_id, p.doc_id AS prior_id,
        |  CAST(n.band AS BIGINT) AS band,
        |  CAST(bit_count(xor(n.simhash, p.simhash)) AS BIGINT) AS hamming
        |FROM banded n JOIN priors p
        |  ON p.band = n.band AND p.bk = n.bk AND n.batch = 1
        |WHERE bit_count(xor(n.simhash, p.simhash)) <= 20
        |ORDER BY n.doc_id, p.doc_id, band""".stripMargin,

    // Forced cross-batch structure of the mixed-media stream: every
    // planted copy (layout-only re-encode/re-mux, identical junk bytes)
    // fingerprints IDENTICALLY to its base (hamming 0 — the invariants
    // proven in the codec specs), the odd id offsets put copy and base
    // in opposite parity batches, identical signatures collide in all 4
    // bands, and format-keyed state plus per-format separation (verified
    // at every SF by the batch query) exclude everything else.
    "stream_media_neardup" ->
      """WITH pairs AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN doc_id + 3000001 ELSE doc_id END AS doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN doc_id ELSE doc_id + 3000001 END AS prior_id
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN doc_id + 7000001 ELSE doc_id + 6000000 END,
        |         CASE WHEN doc_id % 2 = 0 THEN doc_id + 6000000 ELSE doc_id + 7000001 END
        |  FROM documents WHERE doc_id % 41 = 0)
        |SELECT doc_id, prior_id, CAST(b.range AS BIGINT) AS band,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM pairs, range(0, 4) b
        |ORDER BY doc_id, prior_id, band""".stripMargin,

    "stream_corpus_curate" ->
      """WITH t AS (
        |  SELECT md5(array_to_string(
        |      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0),
        |      ' ')) AS fp,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT DISTINCT fp, n_tokens FROM t
        |WHERE n_tokens >= 10 ORDER BY fp""".stripMargin,

    "stream_state_user_stats" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  CAST(count(DISTINCT event_id % 2) AS INT) AS n_updates
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_join_attrib" ->
      """SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id
        |FROM events v JOIN events b
        |  ON v.user_id = b.user_id
        |  AND v.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY v.user_id, view_id, buy_id""".stripMargin,

    "stream_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'unknown') AS segment,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    // Same twin as w11_session_window: streaming must converge to the
    // batch session set once every event is in.
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 86400000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 24 HOURS AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,

    "stream_heartbeat_upsert" ->
      """SELECT 'graft_hb_bars' AS name, 'terminated' AS status,
        |  CAST(count(*) AS BIGINT) AS input_rows
        |FROM events""".stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (
        |  SELECT doc_id, n % 32 + 1 AS nf, least(8, n % 32 + 1) AS take,
        |    (n * 7) % 1024 + 1 AS w, (n * 13) % 768 + 1 AS h
        |  FROM m),
        |e AS (SELECT doc_id, nf, take, w, h, unnest(range(take)) AS i FROM f)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST((CASE WHEN take = 1 THEN 0 ELSE (i * (nf - 1)) // (take - 1) END) * 40 AS BIGINT) AS frame_ts_ms,
        |  CAST(w AS INT) AS frame_width, CAST(h AS INT) AS frame_height
        |FROM e ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_resize" ->
      """SELECT doc_id, CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
        |  CAST(greatest(1, least(octet_length(encode(text)), 224 * 224 // 64)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_media_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS content_md5,
        |  CAST((octet_length(encode(text)) * 7) % 1024 + 1 AS INT) AS fake_width,
        |  CAST((octet_length(encode(text)) * 13) % 768 + 1 AS INT) AS fake_height,
        |  CAST(octet_length(encode(text)) % 32 + 1 AS INT) AS fake_n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)
}
