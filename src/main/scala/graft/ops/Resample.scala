package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship operator: tick/kline → hourly OHLC resample.
  *
  * Re-expresses the reference's core Spark query
  * (`/root/reference/components/process_data.py:44-59`: global
  * `row_number` window → `floor((rn-1)/3600)` bucket → group-agg with
  * `first/max/min/last/sum`) in two forms:
  *
  *  1. [[ohlcHourly]] — the Spark-first production form: time-native
  *     bucketing (`date_trunc("hour", ts)`) turns the whole query into a
  *     single partial+final hash aggregate. No global sort, no single-task
  *     window, scales linearly with input partitions — this is the plan you
  *     want on a 1000-executor cluster over 100 TB of ticks.
  *  2. [[ohlcRowBucket]] — the reference's exact row-position semantics
  *     (`track_each` rows per bucket), kept as a correctness-comparison
  *     query. It inherits the reference's single-partition global-window
  *     hazard (SURVEY §4.3.1) and is NOT the scale path.
  *
  * Every bar operator here, and the streaming twin, aggregates the same
  * OHLC [[bar]].
  */
object Resample {

  /** The OHLC bar of `value` in `order`: open, high, low, close, volume
    * (sum of value) and n_trades (count).
    *
    * Replaces the reference's non-deterministic `first`/`last` aggregates
    * (`process_data.py:50-55`, SURVEY §4.3.2) with `min_by`/`max_by` on
    * `order` — deterministic under any partitioning/shuffle order, and
    * oracle-checkable (DuckDB `arg_min`/`arg_max` use the same tie rule;
    * `ts` is unique in the data). Determinism fine print
    * (property-tested): open/high/low/close/n_trades are bit-exact under
    * any input order; `volume` is a float SUM whose accumulation order is
    * partition-dependent, so it is reproducible only to ~1 ULP — an
    * inherent property of every distributed float sum, and well inside
    * the oracle's float tolerance.
    */
  private[graft] def bar(value: Column, order: Column): Seq[Column] = Seq(
    min_by(value, order).as("open"),
    max(value).as("high"),
    min(value).as("low"),
    max_by(value, order).as("close"),
    sum(value).as("volume"),
    count(lit(1)).as("n_trades"))

  /** The [[bar]] of `value` per group of `grouped`. */
  private def bars(grouped: RelationalGroupedDataset,
                   order: Column = col("ts")): DataFrame = {
    val b = bar(col("value"), order)
    grouped.agg(b.head, b.tail: _*)
  }

  /** Hourly OHLCV per `event_type` ("symbol"), keyed by bucket epoch-seconds.
    *
    * Output columns: bucket (long, epoch s), event_type, open, high, low,
    * close, volume (sum of value), n_trades (count).
    */
  def ohlcHourly(events: DataFrame): DataFrame =
    bars(events.groupBy(
      unix_timestamp(date_trunc("hour", col("ts"))).as("bucket"),
      col("event_type")))

  /** Hourly OHLC keyed by a timestamp bucket column (for joins/as-of use).
    * Same aggregate as [[ohlcHourly]] but keeps the bucket as a timestamp
    * and adds `bucket_end` = bucket + 1h (the instant the bar "closes").
    */
  def ohlcHourlyTs(events: DataFrame): DataFrame =
    bars(events.groupBy(date_trunc("hour", col("ts")).as("bucket_ts"), col("event_type")))
      .withColumn("bucket_end", col("bucket_ts") + expr("INTERVAL 1 HOUR"))

  /** Time-weighted average price (TWAP) per hourly bar: each tick's
    * price holds from its timestamp until the next tick of the SAME
    * symbol or the end of the hour, whichever comes first; the bar's
    * TWAP is Σ value·w / Σ w with microsecond weights. The convention is
    * per-bar self-contained (the span from the bar's start to its first
    * tick carries no weight — carrying the previous bar's close across
    * the boundary is [[graft.ops.Rolling.fillForward]]'s job).
    *
    * Unlike the plain-mean OHLC `volume/n_trades`, TWAP is robust to
    * burst sampling — 1000 ticks in one second move the mean but barely
    * move the TWAP. Cost: ONE `lead` window on the symbol axis (the same
    * per-symbol sort every lag/returns pass pays) + the same hash
    * aggregate as the flagship; weights never cross symbols, so the
    * window stays partitioned and parallel at any symbol count.
    */
  def twapHourly(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val bucketEndUs = (col("bucket") + 3600L) * lit(1000000L)
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("bucket", unix_timestamp(date_trunc("hour", col("ts"))))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byType))
      .withColumn("w",
        (least(coalesce(col("next_us"), bucketEndUs), bucketEndUs)
          - col("ts_us")).cast("double"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(
        try_divide(sum(col("value") * col("w")), sum(col("w"))).as("twap"),
        count(lit(1)).as("n_trades"))
  }

  /** Hierarchical OHLC rollup: hourly bars derived FROM minute bars —
    * the incremental-rollup lattice (persisted fine-grained bar
    * artifacts roll up to coarser resolutions without ever rescanning
    * ticks; at 100 TB the minute layer is the thing you keep, and every
    * coarser view is a cheap re-aggregation of it). The OHLC algebra is
    * closed under rollup: open = open of the earliest fine bar
    * (`min_by` on the fine bucket), close = close of the latest, high/
    * low/volume/n_trades are max/min/sum — so the result equals the
    * direct tick-level hourly aggregate exactly (volume to float
    * re-association), and the query registers against the SAME oracle as
    * the flagship. Two partial+final hash aggregates, no window, no
    * sort.
    */
  def ohlcRollup(events: DataFrame): DataFrame = {
    val minute = bars(events.groupBy(
      unix_timestamp(date_trunc("minute", col("ts"))).as("mbucket"),
      col("event_type")))
    minute
      .groupBy((col("mbucket") - pmod(col("mbucket"), lit(3600L))).as("bucket"),
        col("event_type"))
      .agg(
        min_by(col("open"), col("mbucket")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("mbucket")).as("close"),
        sum(col("volume")).as("volume"),
        sum(col("n_trades")).as("n_trades"))
  }

  /** Volume bars: resample each symbol's ticks into bars of (near-)equal
    * traded volume instead of equal time — the information-driven bar
    * family (time bars oversample quiet hours, undersample bursts). A
    * tick belongs to the bar its cumulative-volume PREFIX falls in:
    * `bar = (cumsum_before_tick) div barUnits`.
    *
    * Determinism at the boundary is the design point: volume is first
    * quantized to integer milli-units (`round(value·1000)` — exact for
    * any double both engines round the same way), so the running sum is
    * an exact BIGINT and the bar assignment is integer division — no
    * float accumulation can flip a tick across a bar edge (a float
    * cumsum's last-ulp would, turning one re-association into a
    * different GROUPING — the one error class the value-tolerant oracle
    * compare cannot absorb).
    *
    * Scale shape: one per-symbol window (the same sort every prefix op
    * pays) + one hash aggregate. The cumsum is associative, so the
    * deep-single-symbol regime chunks exactly like
    * [[graft.ops.Rolling.drawdownChunked]] with a one-BIGINT carry
    * ([[volumeBarsChunked]] — bit-identical, not epsilon-close).
    */
  def volumeBars(events: DataFrame,
                 barUnits: Long = 10000000L): DataFrame = {
    require(barUnits > 0, s"barUnits must be positive, got $barUnits")
    val wGrow = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    volumeBarsOf(withUnits(events).withColumn("cum", sum(col("units")).over(wGrow)),
      barUnits)
  }

  /** [[volumeBars]] for the deep-single-symbol regime ([[Chunks]]): the
    * carry is one BIGINT per chunk, the chunk's unit total summed over
    * the chunks before it. Integer arithmetic end-to-end → BIT-identical
    * bars to [[volumeBars]].
    */
  def volumeBarsChunked(events: DataFrame,
                        barUnits: Long = 10000000L,
                        chunkMicros: Long = 3600L * 1000000L): DataFrame = {
    require(barUnits > 0, s"barUnits must be positive, got $barUnits")
    val chunked = withUnits(events).withColumn("chunk", Chunks.ofTs(chunkMicros))
    val carries = Chunks.summary(chunked, Seq(sum(col("units")).as("chunk_units")),
      "carry" -> coalesce(sum(col("chunk_units")).over(Chunks.before()), lit(0L)))
    volumeBarsOf(Chunks.joinBack(chunked.withColumn("cum_in_chunk",
        sum(col("units")).over(Chunks.growing())), carries)
      .withColumn("cum", col("cum_in_chunk") + col("carry")), barUnits)
  }

  private def withUnits(events: DataFrame): DataFrame =
    events.withColumn("units", round(col("value") * 1000).cast("long"))

  /** The bars of rows carrying their unit count `units` and running total `cum`. */
  private def volumeBarsOf(cum: DataFrame, barUnits: Long): DataFrame =
    bars(cum.withColumn("bar", expr("(cum - units) div " + barUnits))
      .groupBy(col("event_type"), col("bar")))

  /** Day-anchored running TWAP — the anchored-VWAP indicator family:
    * from each day's first tick, the running ratio of cumulative
    * time-weighted price to cumulative weight (weights as in
    * [[twapHourly]], clamped at the DAY edge). Two prefix sums under one
    * `(symbol, day)` window — the anchor bounds the window span (one
    * day), so this never needs the chunked treatment: the chunking IS
    * the anchor.
    */
  def twapAnchored(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wDayGrow = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dayEndUs = (col("day") + 86400L) * lit(1000000L)
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("day", unix_timestamp(date_trunc("day", col("ts"))))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byType))
      .withColumn("w",
        (least(coalesce(col("next_us"), dayEndUs), dayEndUs)
          - col("ts_us")).cast("double"))
      .withColumn("anchored_twap", try_divide(
        sum(col("value") * col("w")).over(wDayGrow),
        sum(col("w")).over(wDayGrow)))
      .select(col("event_id"), col("event_type"), col("day"), col("value"),
        col("anchored_twap"))
  }

  /** The reference's row-position bucketing (`process_data.py:47-49`):
    * `group_id = floor((row_number() over (order by ts) - 1) / trackEach)`.
    *
    * Correctness-comparison only — the unpartitioned `Window.orderBy`
    * forces a single task (the hazard the reference shipped with;
    * SURVEY §4.3.1). [[ohlcHourly]] is the scale path.
    */
  def ohlcRowBucket(events: DataFrame, trackEach: Int): DataFrame = {
    val w = Window.orderBy(col("ts"))
    bars(events
      .withColumn("rn", row_number().over(w))
      .withColumn("group_id", floor((col("rn") - 1) / trackEach))
      .groupBy(col("group_id")))
  }

  /** [[ohlcRowBucket]] semantics WITHOUT the single-task global window:
    * range-partitioned sort by ts, then `zipWithIndex` (per-partition
    * counts + a driver-side prefix-offset pass — the standard scalable
    * global index), then the same hash aggregate. Identical output to
    * [[ohlcRowBucket]] for unique timestamps; survives 100× scale-up
    * because no stage ever sees more than one partition's rows.
    */
  def ohlcRowBucketScale(events: DataFrame, trackEach: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val indexed = events
      .select(unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy(col("ts_us"))
      .as[(Long, Double)]
      .rdd
      .zipWithIndex()
      .map { case ((tsUs, value), idx) => (idx / trackEach, tsUs, value) }
      .toDF("group_id", "ts_us", "value")
    bars(indexed.groupBy(col("group_id")), col("ts_us"))
  }
}
