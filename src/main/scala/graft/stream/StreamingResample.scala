package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Resample

/** Structured Streaming twin of the flagship hourly OHLC resample
  * (SURVEY §2.8): file source over a landing zone, event-time tumbling
  * window with a watermark for late rows, the same OHLC bar
  * (`graft.ops.Resample.bar`) as the batch query
  * (`graft.ops.Resample.ohlcHourly`), which stays the oracle.
  *
  * The reference is pure batch on a monthly schedule
  * (`/root/reference/airflow/dags/new6.py:32-39`); this is the engine's
  * continuous-ingest form per the north star ("DataFrame + Structured
  * Streaming for crypto data").
  *
  * Scale notes: a tumbling-window hash aggregate keeps one state row per
  * (window, symbol) — state size tracks output cardinality, not input
  * rate. The watermark bounds state: windows older than (max event time −
  * 2 h) are finalized and evicted. Sink would be partitioned parquet with
  * checkpointing for exactly-once.
  */
object StreamingResample {

  /** Build the streaming hourly-OHLC DataFrame from a parquet landing
    * directory with the given schema (streams must declare schemas).
    * Output matches `Resample.ohlcHourly` column-for-column.
    *
    * `maxFilesPerTrigger` is the incremental-discovery throttle for the
    * reference's drop cadence (`airflow/dags/new6.py:32-39` lands one
    * archive per month): each micro-batch ingests at most that many NEW
    * files — the source's file log skips everything already committed —
    * so a backlog of historical drops replays paced instead of as one
    * giant batch.
    */
  def hourlyOhlc(spark: SparkSession, inputDir: String,
                 schema: StructType,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    val bar = Resample.bar(col("value"), col("ts"))
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(inputDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(bar.head, bar.tail: _*)
      .select(
        unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n_trades"))
  }

  /** Sliding-window twin (1 h window every 15 min): each event lands in 4
    * overlapping windows — the smoothed-bar view. Extension tier (no
    * batch analogue in the reference); fixture-tested.
    */
  def slidingVolume(spark: SparkSession, inputDir: String,
                    schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(sum(col("value")).as("volume"), count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("volume"), col("n"))

  /** Streaming exact dedup: duplicate `event_id`s arriving within the
    * watermark horizon are emitted once — the at-least-once-upstream →
    * exactly-once-downstream repair step every continuous ingest needs
    * (the reference's batch analogue is the month-overwrite idempotency
    * fix). State holds one entry per id seen inside the watermark;
    * `dropDuplicatesWithinWatermark` evicts ids as event time passes, so
    * state is bounded by the horizon's id cardinality, not the stream's
    * history.
    */
  def dedupEvents(spark: SparkSession, inputDir: String,
                  schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: the event stream joined to a STATIC
    * dimension (symbol → weight) before a windowed weighted-volume
    * aggregate. The static side is planned as a broadcast per
    * micro-batch — the canonical "enrich ticks with instrument metadata"
    * shape; no stream-stream state, watermark only for the window.
    */
  def enrichedVolume(spark: SparkSession, inputDir: String,
                     schema: StructType, dim: DataFrame): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(sum(col("value") * col("weight")).as("w_volume"),
        count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("w_volume"), col("n"))

  /** Stream-stream inner join with a time-range condition: each trade
    * (even event_id) joined to quotes (odd event_id) of the SAME symbol
    * within the preceding 10 minutes. Both sides are watermarked, and
    * the range condition bounds the join state: Spark evicts buffered
    * rows once the other side's watermark passes the range — without
    * the time bound, stream-stream state grows forever. The canonical
    * trades×quotes enrichment, and the one join family a batch oracle
    * can't replay incrementally (spec checks parity on a full replay).
    */
  def tradesQuotesJoin(spark: SparkSession, inputDir: String,
                       schema: StructType): DataFrame = {
    val src = spark.readStream.schema(schema).parquet(inputDir)
    val trades = src.filter(col("event_id") % 2 === 0)
      .withWatermark("ts", "30 minutes")
      .select(col("event_id").as("trade_id"), col("event_type"),
        col("ts").as("trade_ts"), col("value").as("trade_px"))
    val quotes = src.filter(col("event_id") % 2 === 1)
      .withWatermark("ts", "30 minutes")
      .select(col("event_id").as("quote_id"),
        col("event_type").as("q_type"), col("ts").as("quote_ts"),
        col("value").as("quote_px"))
    trades.join(quotes,
      col("event_type") === col("q_type") &&
        col("quote_ts") >= col("trade_ts") - expr("INTERVAL 10 MINUTES") &&
        col("quote_ts") <= col("trade_ts"))
      .select(col("trade_id"), col("event_type"), col("trade_px"),
        col("quote_id"), col("quote_px"),
        (col("trade_px") - col("quote_px")).as("px_diff"))
  }

  /** Session-window counts (gap-based): a session closes after `gap` of
    * inactivity per symbol. State per open session only; the watermark
    * finalizes and evicts closed sessions.
    */
  def sessionCounts(spark: SparkSession, inputDir: String,
                    schema: StructType, gap: String): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("volume"))
      .select(
        unix_timestamp(col("session_window.start")).as("s_start"),
        unix_timestamp(col("session_window.end")).as("s_end"),
        col("event_type"), col("n"), col("volume"))
}
