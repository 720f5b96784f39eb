package graft

import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.core.{TableSpec, TableStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fixed job cost of a TableStore commit: recorded batch schemas
  * replace footer inference, one keep-latest window picks the rows the
  * two-window merge picked, and the streaming sink evaluates each epoch
  * once.
  */
class TableStoreCommitSpec extends AnyFunSuite with SharedSpark {

  private def freshRoot(name: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_test_commit_$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    dir
  }

  private def batchDirsOnDisk(store: TableStore, name: String): Set[String] =
    Option(new java.io.File(store.path(name)).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("b-")).map(_.getName).toSet

  /** Rows over `cols` as a sorted multiset, doubles compared by their bits. */
  private def bits(df: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }).sortBy(_.mkString("|"))

  private def snapshot(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def countJobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 10000)
      n.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("recorded batch schemas equal a fresh inference after every write path") {
    import spark.implicits._
    val root = freshRoot("schemas")
    val store = new TableStore(spark, root)
    def check(spec: TableSpec): Unit = {
      // a second store has recorded nothing, so it infers every dir
      val inferred = new TableStore(spark, root).read(spec)
      val got = store.read(spec)
      assert(got.schema == inferred.schema,
        s"${spec.name}: ${got.schema.simpleString} vs inferred ${inferred.schema.simpleString}")
      assert(bits(got, got.columns.toSeq) == bits(inferred, got.columns.toSeq))
      assert(store.recordedSchemaDirs(spec.name) == batchDirsOnDisk(store, spec.name),
        s"${spec.name}: the recorded dirs must be exactly the live batch dirs")
    }

    // int partition values: every write path, a batch that adds a column,
    // and enough commits that gc deletes dirs
    val ints = TableSpec("ints", Seq("k", "y"), partitionBy = Seq("y"))
    store.upsert(ints, Seq((1, 2020, 1.0), (2, 2021, 2.0)).toDF("k", "y", "v")); check(ints)
    store.upsert(ints, Seq((2, 2021, 2.5), (3, 2022, 3.0)).toDF("k", "y", "v")); check(ints)
    store.append(ints, Seq((4, 2023, 4.0)).toDF("k", "y", "v")); check(ints)
    store.overwritePartitions(ints, Seq((5, 2020, 5.0)).toDF("k", "y", "v")); check(ints)
    store.upsert(ints, Seq((6, 2021, 6.0, "x")).toDF("k", "y", "v", "tag")); check(ints)
    store.upsert(ints, Seq((7, 2021, 7.0, "z")).toDF("k", "y", "v", "tag")); check(ints)
    store.compact(ints); check(ints)
    assert(batchDirsOnDisk(store, "ints").size == 1, "compaction leaves one batch dir")

    // date partition values outside the key: the moved-key path
    val dates = TableSpec("dates", Seq("k"), partitionBy = Seq("d"))
    store.upsert(dates, Seq((1L, Date.valueOf("2024-01-02"), "a"),
      (2L, Date.valueOf("2024-01-03"), "b")).toDF("k", "d", "s")); check(dates)
    store.upsert(dates, Seq((1L, Date.valueOf("2024-01-03"), "a2")).toDF("k", "d", "s"))
    check(dates)
    assert(store.read(dates).count() == 2, "the moved key's old home is evicted")

    // string partition values and an unpartitioned table
    val strs = TableSpec("strs", Seq("k", "p"), partitionBy = Seq("p"))
    store.upsert(strs, Seq(("a", "east", 1), ("b", "west", 2)).toDF("k", "p", "n")); check(strs)
    store.upsert(strs, Seq(("a", "east", 10), ("c", "north", 3)).toDF("k", "p", "n")); check(strs)
    val flat = TableSpec("flat", Seq("k"))
    store.upsert(flat, Seq((1, "a")).toDF("k", "s")); check(flat)
    store.upsert(flat, Seq((1, "b"), (2, "c")).toDF("k", "s")); check(flat)

    // an adopted legacy "." table is inferred on every read, never recorded
    val legacy = TableSpec("legacy", Seq("k"), partitionBy = Seq("y"))
    Seq((1, 2020, 1.0), (2, 2021, 2.0)).toDF("k", "y", "v")
      .write.partitionBy("y").parquet(store.path("legacy"))
    check(legacy)
    store.upsert(legacy, Seq((2, 2021, 20.0)).toDF("k", "y", "v")); check(legacy)
    assert(!store.recordedSchemaDirs("legacy").contains("."))
    assert(store.read(legacy).orderBy("k").collect().map(_.getAs[Double]("v")).toSeq ==
      Seq(1.0, 20.0))
  }

  test("an upsert into six live batch dirs runs as many jobs as one into a single dir") {
    import spark.implicits._
    val store = new TableStore(spark, freshRoot("jobs"))
    val six = TableSpec("six", Seq("k", "d"), partitionBy = Seq("d"))
    val one = TableSpec("one", Seq("k", "d"), partitionBy = Seq("d"))
    val rows = for (d <- 1 to 6; k <- 1 to 4) yield (k, d, k * 0.5 + d)
    (1 to 6).foreach(d => store.upsert(six, rows.filter(_._2 == d).toDF("k", "d", "v")))
    store.upsert(one, rows.toDF("k", "d", "v"))
    assert(batchDirsOnDisk(store, "six").size == 6)
    assert(batchDirsOnDisk(store, "one").size == 1)
    val batch = Seq((1, 3, 9.0), (9, 3, 9.5)).toDF("k", "d", "v")
    val jobsSix = countJobs(store.upsert(six, batch))
    val jobsOne = countJobs(store.upsert(one, batch))
    assert(jobsSix == jobsOne,
      s"upsert jobs grew with the live batch dirs: $jobsSix (6 dirs) vs $jobsOne (1 dir)")
    val cols = Seq("k", "d", "v")
    assert(bits(store.read(six), cols) == bits(store.read(one), cols))
  }

  /** The merge `upsert` ran before the single window, kept here only as
    * the reference: dedup the batch on (prio, seq), then merge it with
    * the touched stored partitions on prio alone. `before` is the table
    * before the upsert (None: first write).
    */
  private def twoWindowReference(spec: TableSpec, before: Option[DataFrame],
      batch: DataFrame, newWins: Boolean, evictMovedKeys: Boolean): DataFrame = {
    def dedup(df: DataFrame, ord: Column*): DataFrame =
      df.withColumn("__rn", row_number().over(
          Window.partitionBy(spec.primaryKey.map(col): _*).orderBy(ord: _*)))
        .filter(col("__rn") === 1).drop("__rn")
    val seq = if (newWins) -monotonically_increasing_id() else monotonically_increasing_id()
    val newDeduped = dedup(
      batch.withColumn("__prio", lit(if (newWins) 0 else 1)).withColumn("__seq", seq),
      col("__prio"), col("__seq")).drop("__seq")
    before match {
      case None => newDeduped.drop("__prio")
      case Some(stored) =>
        val existing = stored.withColumn("__prio", lit(if (newWins) 1 else 0))
        def in(parts: Seq[Row]): Column =
          parts.map(r => spec.partitionBy.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _))
            .foldLeft(lit(false))(_ || _)
        val batchParts =
          if (spec.partitionBy.isEmpty) Nil
          else batch.select(spec.partitionBy.map(col): _*).distinct().collect().toSeq
        val moved =
          if (batchParts.isEmpty || !evictMovedKeys ||
              spec.partitionBy.forall(spec.primaryKey.contains)) Nil
          else existing.filter(!in(batchParts))
            .join(newDeduped.select(spec.primaryKey.map(col): _*).distinct(),
              spec.primaryKey, "left_semi")
            .select(spec.partitionBy.map(col): _*).distinct().collect().toSeq
        val touched = if (spec.partitionBy.isEmpty) lit(true) else in(batchParts ++ moved)
        dedup(newDeduped.unionByName(existing.filter(touched), allowMissingColumns = true),
          col("__prio"))
          .unionByName(existing.filter(!touched), allowMissingColumns = true)
          .drop("__prio")
    }
  }

  /** Upsert `batch` and compare the table, bit for bit, with the
    * two-window reference over the same before-image and batch. */
  private def assertMatchesReference(store: TableStore, spec: TableSpec, batch: DataFrame,
      newWins: Boolean = true, evictMovedKeys: Boolean = true): Unit = {
    val before = if (store.exists(spec)) Some(snapshot(store.read(spec))) else None
    val reference = twoWindowReference(spec, before, batch, newWins, evictMovedKeys)
    val cols = reference.columns.toSeq.sorted
    val expected = bits(reference, cols)
    store.upsert(spec, batch, newWins = newWins, evictMovedKeys = evictMovedKeys)
    assert(bits(store.read(spec), cols) == expected,
      s"${spec.name} newWins=$newWins evict=$evictMovedKeys")
  }

  test("single-window merge equals the two-window form bit for bit") {
    import spark.implicits._
    val store = new TableStore(spark, freshRoot("merge"))
    val tricky = Seq(0.1 + 0.2, -0.0, 1e-310, Double.MaxValue, 1.0 / 3)
    def v(i: Int): Double = tricky(i % tricky.size) * (i + 1)
    for (newWins <- Seq(true, false)) {
      // partitionBy ⊆ PK; in-batch duplicates spread over several input
      // slices; first write, merge, and a batch whose partitions have no
      // stored pairs
      val inKey = TableSpec(s"inkey_$newWins", Seq("k", "d"), partitionBy = Seq("d"))
      val first = (0 until 40).map(i => (i % 13, i % 3, v(i)))
      assertMatchesReference(store, inKey, first.toDF("k", "d", "v"), newWins)
      val second = (0 until 40).map(i => (i % 17, 2 + i % 3, v(i + 7)))
      assertMatchesReference(store, inKey, second.toDF("k", "d", "v"), newWins)
      val fresh = (0 until 10).map(i => (i % 4, 9, v(i + 3)))
      assertMatchesReference(store, inKey, fresh.toDF("k", "d", "v"), newWins)

      // partitionBy ⊄ PK: keys move between partitions, evicted or not
      for (evict <- Seq(true, false)) {
        val outKey = TableSpec(s"outkey_${newWins}_$evict", Seq("k"), partitionBy = Seq("d"))
        assertMatchesReference(store, outKey,
          (0 until 30).map(i => (i % 11, i % 3, v(i))).toDF("k", "d", "v"), newWins, evict)
        // keys 0..4 arrive in partition 5 (moved), with in-batch duplicates
        assertMatchesReference(store, outKey,
          (0 until 12).map(i => (i % 5, 5, v(i + 1))).toDF("k", "d", "v"), newWins, evict)
        assertMatchesReference(store, outKey,
          (0 until 12).map(i => (i % 7, i % 2, v(i + 2))).toDF("k", "d", "v"), newWins, evict)
      }

      // unpartitioned
      val flat = TableSpec(s"flat_$newWins", Seq("k"))
      assertMatchesReference(store, flat,
        (0 until 25).map(i => (i % 9, v(i))).toDF("k", "v"), newWins)
      assertMatchesReference(store, flat,
        (0 until 25).map(i => (i % 12, v(i + 5))).toDF("k", "v"), newWins)
    }
  }

  test("upsertingSink evaluates the stateful stage once per data trigger; " +
    "a no-data trigger commits no version") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = new TableStore(spark, freshRoot("sink"))
    val spec = TableSpec("bars", Seq("sym", "day", "bar_start"), partitionBy = Seq("day"))

    // stateful stages that ran, per micro-batch id: a stage that reads
    // the cached epoch never updates the state-store metrics
    val stageBatch = new ConcurrentHashMap[Int, Long]()
    val stateStages = new ConcurrentHashMap[Long, AtomicInteger]()
    val stateMetrics = Set("number of total state rows", "number of updated state rows")
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => js.stageIds.foreach(s => stageBatch.put(s, b.toLong)))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        if (info.accumulables.values.exists(_.name.exists(stateMetrics)) &&
            stageBatch.containsKey(info.stageId))
          stateStages.computeIfAbsent(stageBatch.get(info.stageId), _ => new AtomicInteger)
            .incrementAndGet()
      }
    }

    val in = MemoryStream[(String, Timestamp, Long, Double)]
    val ticks = in.toDF().toDF("sym", "ts", "seq", "price")
      .withColumn("day", to_date(col("ts")))
    def day(d: String, seq0: Long): Seq[(String, Timestamp, Long, Double)] =
      for (s <- Seq("a", "b", "c"); m <- 0 until 4; t <- 0 until 3)
        yield (s, Timestamp.valueOf(f"$d 09:3$m:${t * 10}%02d"), seq0 + m * 3 + t,
          100.0 + m + t * 0.25)
    spark.sparkContext.addSparkListener(listener)
    val q = graft.streaming.TickBarStream.withShufflePartitions(spark, 2) {
      graft.streaming.TickBarStream.upsertingSink(
        graft.streaming.TickBarStream.bars(ticks, Seq("sym", "day"), "ts", "seq", "price",
          "1 minute", "10 minutes"),
        store, spec, "commit_spec_sink").start()
    }
    val days = Seq("2024-01-02", "2024-01-03", "2024-01-04")
    try {
      days.zipWithIndex.foreach { case (d, i) =>
        in.addData(day(d, i * 100L))
        q.processAllAvailable()
      }
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 10000)
      val progress = q.recentProgress.toSeq
      val dataTriggers = progress.filter(_.numInputRows > 0).map(_.batchId)
      assert(dataTriggers.size == days.size)
      assert(progress.exists(_.numInputRows == 0),
        "the watermark advance must run a no-data trigger")
      dataTriggers.foreach { b =>
        val n = Option(stateStages.get(b)).map(_.get).getOrElse(0)
        assert(n == 1, s"micro-batch $b ran the stateful stage $n times")
      }
      // one committed version per data trigger, none for no-data triggers
      assert(store.versions(spec).last == days.size.toLong)
      assert(store.read(spec).agg(sum("n_ticks")).head().getLong(0) == days.size * 36L)
      assert(store.read(spec).count() == days.size * 12L)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("upsertingSink's partition collect also tells an empty epoch: " +
    "one job fewer per data trigger than counting first") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val spec = TableSpec("bars", Seq("sym", "day", "bar_start"), partitionBy = Seq("day"))
    def day(d: String, seq0: Long): Seq[(String, Timestamp, Long, Double)] =
      for (s <- Seq("a", "b", "c"); m <- 0 until 4; t <- 0 until 3)
        yield (s, Timestamp.valueOf(f"$d 09:3$m:${t * 10}%02d"), seq0 + m * 3 + t,
          100.0 + m * 0.5 + t * 0.125)
    // the sink's former body, kept as the reference: count the cached
    // epoch, then upsert it
    def countingSink(bars: DataFrame, store: TableStore, name: String) =
      bars.writeStream.outputMode("update").queryName(name)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
          batch.persist()
          try if (batch.count() > 0) store.upsert(spec, batch.toDF())
          finally batch.unpersist(blocking = true)
        }

    // jobs per (query id, micro-batch id)
    val jobs = new ConcurrentHashMap[(String, Long), AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach { p =>
          for (q <- Option(p.getProperty("sql.streaming.queryId"));
               b <- Option(p.getProperty("streaming.sql.batchId")))
            jobs.computeIfAbsent((q, b.toLong), _ => new AtomicInteger).incrementAndGet()
        }
    }
    val days = Seq("2024-01-03", "2024-01-04", "2024-01-05")
    /** Runs one query over the three days into a store preloaded with a
      * first day, so every data trigger merges; returns the store and
      * (data-trigger jobs, no-data-trigger jobs) in batch order. */
    def run(name: String, sink: (DataFrame, TableStore) => org.apache.spark.sql.streaming
        .DataStreamWriter[Row]): (TableStore, Seq[Int], Seq[Int]) = {
      val store = new TableStore(spark, freshRoot(name))
      store.upsert(spec, graft.streaming.TickBarStream.bars(
        day("2024-01-02", 0L).toDF("sym", "ts", "seq", "price")
          .withColumn("day", to_date(col("ts"))),
        Seq("sym", "day"), "ts", "seq", "price", "1 minute", "10 minutes"))
      val in = MemoryStream[(String, Timestamp, Long, Double)]
      val ticks = in.toDF().toDF("sym", "ts", "seq", "price")
        .withColumn("day", to_date(col("ts")))
      val q = graft.streaming.TickBarStream.withShufflePartitions(spark, 2) {
        sink(graft.streaming.TickBarStream.bars(ticks, Seq("sym", "day"), "ts", "seq",
          "price", "1 minute", "10 minutes"), store).start()
      }
      try {
        days.zipWithIndex.foreach { case (d, i) =>
          in.addData(day(d, (i + 1) * 100L))
          q.processAllAvailable()
        }
        org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 10000)
        def jobsOf(b: Long) = Option(jobs.get((q.id.toString, b))).map(_.get).getOrElse(0)
        val progress = q.recentProgress.toSeq.sortBy(_.batchId)
        (store, progress.filter(_.numInputRows > 0).map(p => jobsOf(p.batchId)),
          progress.filter(_.numInputRows == 0).map(p => jobsOf(p.batchId)))
      } finally q.stop()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (store, dataJobs, idleJobs) = run("sink_collect", (b, st) =>
        graft.streaming.TickBarStream.upsertingSink(b, st, spec, "commit_spec_collect"))
      val (refStore, refDataJobs, refIdleJobs) = run("sink_count", (b, st) =>
        countingSink(b, st, "commit_spec_count"))
      assert(dataJobs.size == days.size && refDataJobs.size == days.size)
      assert(dataJobs == refDataJobs.map(_ - 1),
        s"jobs per data trigger: $dataJobs, counting first: $refDataJobs")
      assert(idleJobs.nonEmpty && idleJobs.size == refIdleJobs.size)
      assert(idleJobs == refIdleJobs,
        s"jobs per no-data trigger: $idleJobs, counting first: $refIdleJobs")
      // the same table, and one version per data trigger after the preload
      assert(store.versions(spec).last == 1L + days.size)
      assert(refStore.versions(spec).last == 1L + days.size)
      val cols = store.read(spec).columns.toSeq.sorted
      assert(bits(store.read(spec), cols) == bits(refStore.read(spec), cols))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
