package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured-Streaming tick→bar (SURVEY §2.11): the reference's
  * batch tick→1-min pipeline (S6→A3→K1) built as a streaming job with
  * event-time watermarking — late ticks within the watermark fold into
  * their bar; the PK-upsert sink keeps replays idempotent, exactly like
  * the reference's INSERT..ON DUPLICATE grounding.
  */
object TickBarStream {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`. A stateful streaming query shards its state store into
    * shuffle-partition many instances at start time, so the right number
    * tracks KEY CARDINALITY, not CPU count — with a handful of keys, 32
    * state stores per micro-batch are pure constant overhead, and at
    * 100 TB key spaces you'd raise the number instead. Scoped (restored
    * in finally) because it's a per-query design choice, not a session
    * setting.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Watermarked OHLCV aggregation over an event-time stream. Same
    * aggregate shape as [[graft.operators.Resample.ticksToBars]], so
    * batch/stream parity is testable query-for-query.
    */
  def bars(ticks: DataFrame, keys: Seq[String], tsCol: String, seqCol: String,
      priceCol: String, windowDuration: String, watermark: String): DataFrame =
    ticks
      .withWatermark(tsCol, watermark)
      .groupBy(keys.map(col) :+ window(col(tsCol), windowDuration).as("w"): _*)
      .agg(
        min_by(col(priceCol), col(seqCol)).as("open"),
        max(col(priceCol)).as("high"),
        min(col(priceCol)).as("low"),
        max_by(col(priceCol), col(seqCol)).as("close"),
        count(lit(1)).as("n_ticks"))
      .select(keys.map(col) ++ Seq(col("w.start").as("bar_start"), col("open"),
        col("high"), col("low"), col("close"), col("n_ticks")): _*)

  /** Continuous sink: watermarked update-mode bars upserted into the
    * keyed table store per micro-batch — the reference's
    * INSERT..ON DUPLICATE grounding made streaming
    * (tasks/pytdx/stock_tick_2_bar.py + SURVEY §2.11). Late ticks within
    * the watermark re-emit their bar; the PK upsert makes the re-emit
    * (and any replay after failure) idempotent.
    *
    * Each epoch is evaluated once: the sink persists the batch, and the
    * first job over it (on a partitioned table the collect of its
    * partition paths, which also tells an empty epoch; otherwise a
    * count) runs the stateful stage. The moved-key scan and merge read
    * the cache, which is released when the trigger ends. An empty epoch
    * (the no-data trigger that follows each batch) commits no table
    * version.
    */
  def upsertingSink(bars: DataFrame, store: graft.core.TableStore,
      spec: graft.core.TableSpec, queryName: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    bars.writeStream
      .outputMode("update")
      .queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.persist()
        try store.upsertIfNonEmpty(spec, batch.toDF())
        finally batch.unpersist(blocking = true)
      }

  /** Replay a parquet file through the streaming pipeline synchronously
    * and return the materialized bars (memory sink, complete mode so the
    * final in-watermark windows are emitted too).
    */
  def replayParquet(spark: SparkSession, path: String, schema: StructType,
      transform: DataFrame => DataFrame, queryName: String): DataFrame = {
    val stream = spark.readStream.schema(schema).parquet(path)
    val q = transform(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }
}
