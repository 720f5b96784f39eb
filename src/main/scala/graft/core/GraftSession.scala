package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the local[N] test harness but with every knob chosen so the
  * same plan shape survives on a multi-executor cluster: AQE handles
  * runtime coalescing + skew-join splitting, shuffle partitions sized to
  * the parallelism (the driver harness uses 32 cores), UTC session time
  * zone for deterministic date semantics (the reference's MySQL ran in
  * local TZ — we pin UTC; cf. /root/reference/tasks/tushare/tushare_stock_daily/stock.py:125-155
  * `hour(now())<16` cutoff, parameterized in [[graft.core.TradeCalendar]]).
  */
object GraftSession {

  /** Apply graft's standard configs to a builder. */
  def configure(b: SparkSession.Builder, cores: Int = defaultCores): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata `events.ts` is parquet TIMESTAMP(NANOS); read as long
      // nanos (Tables.events converts to TimestampType micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.ui.explainMode", "formatted")
      // Bound the driver's live status store: a long-lived session that
      // runs hundreds of heavy queries (the bench/verify harness, or any
      // real always-on driver) otherwise accretes per-execution metric
      // trees for the default 1000 executions, and that heap tax lands
      // on every LATER query's GC — the in-run vs isolated bench skew.
      .config("spark.sql.ui.retainedExecutions", "32")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.sql.warehouse.dir",
        graft.core.Scratch.queryDir("warehouse"))
      .config("spark.ui.enabled", "false")
      // Streaming state-store provider seam: SPARK_GRAFT_STATE_STORE=
      // rocksdb swaps the default heap-backed HDFS provider for RocksDB
      // (state spills to executor-local disk instead of occupying heap
      // — the at-scale configuration; results must be provider-
      // independent, which StreamingParitySpec pins at toy scale and
      // the BASELINE.md sf1 stream table re-proves on 10× data).
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.get("SPARK_GRAFT_STATE_STORE") match {
          case Some("rocksdb") =>
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
          case _ =>
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        })
      // Builder-time Catalyst extension: the native as-of join strategy
      // (graft.plans.AsOfJoinPlan). registerFunctions also injects it
      // via experimental.extraStrategies for already-built sessions.
      .withExtensions(e => e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy))

  /** Entries in Spark's generated-code cache (`spark.sql.codegen.cache.
    * maxEntries`, default 100): the compiled whole-stage, projection and
    * predicate classes, keyed by their source text, in ONE LRU shared by
    * the whole JVM. It is a static conf because the cache is built, at
    * this size, when the first class is generated; setting it on a live
    * session does nothing, so it belongs to the builder, and every entry
    * point (Bench, Verify, the tools, the tests' shared session, the
    * perfbench workloads) builds its session here.
    *
    * The engine reruns the same plan shapes on fresh data, so its
    * working set is the distinct classes of one run, not of one query.
    * Counted with the cap lifted: a perfbench corpus_dedup run generates
    * 180 distinct classes (188 after 7 ops), futures_eod 135 (flat from
    * 3 to 7 ops), tick_bars 104-122, and one pass of the 199-query
    * board at sf0.01 compiles 3,497 (the sum of Bench's per-query
    * `codegen: compiles=` lines; e2e_corpus_curation alone 156). An LRU
    * cycling through more entries than it holds misses on every lookup,
    * so at 100 each op regenerated and re-JITted the classes the last
    * op had just compiled. 4096 holds the whole board with ~17%
    * headroom. Each live entry pins ~33 KB of source text plus
    * bytecode, so a full cache is ~135 MB of heap; a perfbench run
    * keeps under 200 entries live (+2.8 MB on corpus_dedup). */
  private val codegenCacheEntries = 4096

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Register graft's native Catalyst functions + strategies in a
    * session (idempotent; also covers sessions graft didn't build). */
  def registerFunctions(s: SparkSession): SparkSession = {
    graft.plans.CosineSimilarity.register(s)
    graft.plans.AsOfJoinPlan.register(s)
    s
  }

  /** Local session for tests / tools. */
  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName), cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerFunctions(s)
  }
}
