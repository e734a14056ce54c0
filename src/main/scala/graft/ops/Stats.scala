package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Summary statistics + correlation matrix — the notebook's descriptive
  * layer (`/root/reference/notebooks/explore_datasets.ipynb` cells 10, 15:
  * `df.describe()`, `df[...].corr()`).
  *
  * Both are single partial+final hash aggregates over the fact table — one
  * scan, no shuffle beyond the final 1-row reduce. At 100 TB this is the
  * cheapest possible shape: every statistic below is algebraic
  * (count/sum/moments), so map-side partials stay O(1) per column.
  */
object Stats {

  /** describe() over lineitem's numeric measures, as explicit algebraic
    * aggregates (typed doubles — not the stringly `df.describe()`).
    */
  def summaryStats(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      count(lit(1)).as("n"),
      avg(col("l_quantity")).as("avg_qty"),
      stddev_samp(col("l_quantity")).as("std_qty"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      percentile(col("l_quantity"), lit(0.25)).as("q1_qty"),
      percentile(col("l_quantity"), lit(0.50)).as("med_qty"),
      percentile(col("l_quantity"), lit(0.75)).as("q3_qty"),
      avg(col("l_extendedprice")).as("avg_price"),
      stddev_samp(col("l_extendedprice")).as("std_price"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      avg(col("l_discount")).as("avg_disc"),
      min(col("l_discount")).as("min_disc"),
      max(col("l_discount")).as("max_disc"))

  /** Sketch-based quantiles (approx_percentile / t-digest-style) — the
    * only affordable percentile at 100 TB (fixed-size mergeable sketch vs
    * the exact form's full sort). Sketch columns ONLY: the exact
    * comparison values come from [[summaryApproxScale]] (range-sort
    * shape), never from the built-in `percentile()` — its value→count
    * buffer is the documented memory bomb on high-cardinality doubles
    * like `l_extendedprice`.
    */
  def summaryApprox(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      count(lit(1)).as("n"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median"),
      percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("approx_p99"))

  /** [[summaryApprox]]'s oracle-able face: the exact median/p99 of the
    * same column via [[exactPercentilesScale]] — parallel range sort +
    * boundary interpolation, O(1) memory beyond the spillable sort. The
    * sketch columns themselves aren't cross-engine comparable, so the
    * spec pins `summaryApprox`'s estimates against THIS output instead.
    */
  def summaryApproxScale(lineitem: DataFrame): DataFrame =
    exactPercentilesScale(lineitem, "l_extendedprice",
      Seq("exact_median" -> 0.5, "exact_p99" -> 0.99))

  /** EXACT interpolated percentiles at scale. The built-in `percentile()`
    * aggregate accumulates a value→count map in ONE buffer — fine for
    * low-cardinality columns (l_quantity: 50 values), a memory bomb on
    * high-cardinality doubles at 100 TB. Measured (`graft.Stress`, 5M
    * rows ~all-distinct, local[32]): built-in 38.6 s vs this shape
    * 2.6 s — 15× before memory pressure even starts. This shape is scale-correct:
    * range-partitioned global sort (parallel), `zipWithIndex` for global
    * positions, then a lookup of the ≤ 2·|ps| boundary rows and linear
    * interpolation — O(1) memory beyond the sort, which Spark spills.
    * Same semantics as `percentile()` / DuckDB `quantile_cont`.
    */
  def exactPercentilesScale(df: DataFrame, valueCol: String,
                            ps: Seq[(String, Double)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val n = vals.count()
    require(n > 0, s"no non-null values in $valueCol")
    val positions: Map[Long, Int] = ps.flatMap { case (_, p) =>
      val pos = (n - 1) * p
      Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
    }.distinct.map(i => i -> 0).toMap
    val boundary = vals.orderBy(col("v"))
      .as[Double].rdd.zipWithIndex()
      .filter { case (_, idx) => positions.contains(idx) }
      .map(_.swap).collect().toMap
    val row = ps.map { case (_, p) =>
      val pos = (n - 1) * p
      val (lo, hi) = (math.floor(pos).toLong, math.ceil(pos).toLong)
      val (vLo, vHi) = (boundary(lo), boundary(hi))
      vLo + (pos - lo) * (vHi - vLo)
    }
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(n +: row)),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false) +:
          ps.map { case (name, _) =>
            org.apache.spark.sql.types.StructField(name,
              org.apache.spark.sql.types.DoubleType, nullable = false)
          }))
  }

  /** Winsorization — clamp a numeric column into its own exact
    * [lo, hi] quantile band, the outlier-capping preprocessing step that
    * keeps heavy tails from dominating scalers and losses. The bounds
    * come from [[exactPercentilesScale]] (range-sort percentiles — no
    * value→count memory bomb at scale) and ride a broadcast 1-row cross
    * join into a pure codegen `least(greatest(...))` projection — the
    * same broadcast-bounds template as [[histogram]]. Nulls stay null
    * (Spark's `greatest` would otherwise swallow them). The bound
    * columns are exported so the clamp arithmetic itself is oracled.
    *
    * `precomputed`: a 1-row (q_lo, q_hi) frame from a shared bounds
    * artifact — a curation run that winsorizes AND robust-scales the same
    * column should sort it once, not once per consumer (see
    * SparkEntry's price-bounds artifact); when absent the bounds are
    * computed here as before.
    */
  def winsorize(df: DataFrame, valueCol: String,
                lo: Double, hi: Double,
                precomputed: Option[DataFrame] = None): DataFrame = {
    require(lo >= 0.0 && lo < hi && hi <= 1.0,
      s"need 0 <= lo < hi <= 1, got lo=$lo hi=$hi")
    val bounds = precomputed.getOrElse(
      exactPercentilesScale(df, valueCol,
        Seq("q_lo" -> lo, "q_hi" -> hi)).select("q_lo", "q_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("winsorized",
        when(col(valueCol).isNotNull,
          least(greatest(col(valueCol).cast("double"), col("q_lo")),
            col("q_hi"))))
  }

  /** Robust scaling — (v − median) / IQR, the outlier-insensitive
    * sibling of min-max scaling (a single wild value shifts min/max but
    * not the quartiles). Same scale shape as [[winsorize]]: exact
    * quartiles from the range-sort path, one broadcast 1-row cross join,
    * codegen projection; a degenerate IQR of 0 (over half the values
    * identical) scales to 0.0 rather than dividing by zero.
    *
    * `precomputed`: a 1-row (med, iqr) frame from a shared bounds
    * artifact (same contract as [[winsorize]]'s).
    */
  def robustScale(df: DataFrame, valueCol: String,
                  precomputed: Option[DataFrame] = None): DataFrame = {
    val q = precomputed.getOrElse(
      exactPercentilesScale(df, valueCol,
          Seq("p25" -> 0.25, "med" -> 0.5, "p75" -> 0.75))
        .select(col("med"), (col("p75") - col("p25")).as("iqr")))
    df.crossJoin(broadcast(q))
      .withColumn("scaled",
        when(col("iqr") === 0.0, lit(0.0))
          .otherwise((col(valueCol).cast("double") - col("med")) / col("iqr")))
  }

  /** Seasonality profile: the day-of-week × hour-of-day grid of average
    * value, count, and total per symbol — the calendar-heatmap aggregate
    * behind "when does this market move". ONE partial+final hash
    * aggregate over 7×24×k cells; grid keys are pure projections, so the
    * scan stays a single map-side-combined pass at any volume (the
    * result is constant-size regardless of input rows). Day-of-week is
    * Spark's 1=Sunday..7 convention.
    */
  def seasonalityGrid(events: DataFrame): DataFrame =
    events.groupBy(
      dayofweek(col("ts")).as("dow"),
      hour(col("ts")).as("hr"),
      col("event_type"))
      .agg(
        avg(col("value")).as("avg_value"),
        sum(col("value")).as("sum_value"),
        count(lit(1)).as("n"))

  /** Hierarchical rollup over returnflag/linestatus — subtotals + grand
    * total in one pass (grouping-sets surface, SURVEY §7.5).
    */
  def rollupAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("n"))

  /** Time-range window frame (`rangeBetween` over µs offsets): trailing
    * 1-hour average per symbol — the canonical financial rolling frame
    * when rows are NOT gapless (row frames would silently widen).
    * Ordered by exact epoch-µs so boundary semantics match the oracle's
    * `RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`.
    */
  def rangeFrameAvg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    events.select(
      col("event_id"), col("event_type"), col("value"),
      avg(col("value")).over(w).as("avg_1h"),
      count(lit(1)).over(w).as("n_1h"))
  }

  /** [[rangeFrameAvg]] for the deep-single-symbol regime: time-chunked
    * with `chunkMicros ≥ frameMicros`, so a native row's trailing frame
    * reaches at most one chunk back — the halo ([[Chunks.withHalo]]) is
    * exactly the previous chunk's last `frameMicros` of rows. RANGE
    * frames are value-inclusive, so boundary timestamp ties need no
    * extra tie-break.
    */
  def rangeFrameAvgChunked(events: DataFrame,
                           frameMicros: Long = 3600L * 1000000L,
                           chunkMicros: Long = 4L * 3600L * 1000000L): DataFrame = {
    require(chunkMicros >= frameMicros,
      s"chunkMicros ($chunkMicros) must be >= frameMicros ($frameMicros)")
    val raw = events
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("chunk", Chunks.key(col("ts_us"), chunkMicros))
    val w = Chunks.within(Seq(col("ts_us"))).rangeBetween(-frameMicros, 0)
    Chunks.withHalo(raw,
      (col("ts_us") >= (col("chunk") + 1) * lit(chunkMicros) - lit(frameMicros)) ->
        (col("chunk") + 1))
      .withColumn("avg_1h", avg(col("value")).over(w))
      .withColumn("n_1h", count(lit(1)).over(w))
      .filter(Chunks.own)
      .select(col("event_id"), col("event_type"), col("value"),
        col("avg_1h"), col("n_1h"))
  }

  /** Wide reshape via the `pivot()` relational operator: documents per
    * (source × lang), languages as columns. Pivot values are ENUMERATED
    * (the 5 known langs) — with explicit values Spark skips the extra
    * distinct-scan job and the schema is stable at any SF; at 100 TB a
    * pivot without values would first shuffle-scan the whole corpus just
    * to learn the column set. One partial+final hash aggregate.
    */
  def pivotCounts(documents: DataFrame,
                  langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")): DataFrame =
    documents
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .na.fill(0L, langs)

  /** Mergeable summary shards — the incremental-aggregation pattern: at
    * 100 TB you never rescan the corpus to refresh its stats. Each shard
    * (ingest batch, date partition, source slice) contributes one tiny
    * state row (n, sum, sum of squares, min, max); all five components
    * merge by plain addition / min / max, so yesterday's persisted state
    * folds with today's batch in O(shards), not O(corpus), and merge
    * order is irrelevant. The sumsq form trades a little numerical
    * headroom for an algebra ANY engine reproduces — values here are
    * O(1e5) prices, far from the cancellation regime; switch to Welford
    * merges only if values reach ~1e8 at trillion-row counts.
    */
  def summaryShards(df: DataFrame, valueCol: String,
                    shardCol: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    df.groupBy(shardCol.as("shard"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("s2"),
        min(v).as("mn"), max(v).as("mx"))
  }

  /** Fold shard state rows into the corpus-wide summary: count, sum,
    * min, max, mean, sample variance, sample stddev — derived from the
    * merged components with the textbook identities, so a summary built
    * from ANY shard split equals the direct single-pass one.
    */
  def mergeSummary(shards: DataFrame): DataFrame =
    shards
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("s2")).as("s2"), min(col("mn")).as("min_v"),
        max(col("mx")).as("max_v"))
      .select(col("n"), col("s").as("sum_v"), col("min_v"), col("max_v"),
        (col("s") / col("n")).as("mean_v"),
        when(col("n") > 1L,
          (col("s2") - col("s") * col("s") / col("n")) / (col("n") - 1L))
          .as("var_v"))
      .withColumn("std_v", sqrt(col("var_v")))

  /** Decimal-exact twin of [[summaryShards]] for fixed-point data (prices
    * on a cent grid). Accumulating n/sum/sumsq in decimal makes every shard
    * state EXACT, so the merged summary is bit-identical regardless of shard
    * split, partition count, or engine — double accumulation is only
    * reproducible up to summation order, which no distributed engine pins.
    * min/max stay raw doubles (they are order-free already).
    * decimal(18,2) inputs keep sumsq within decimal(38,4) up to ~1e16 rows
    * of 1e5-scale values — comfortably past 100 TB.
    */
  def summaryShardsExact(df: DataFrame, valueCol: String,
                         shardCol: Column): DataFrame = {
    val raw = col(valueCol)
    val v = raw.cast("decimal(18,2)")
    df.groupBy(shardCol.as("shard"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("s2"),
        min(raw.cast("double")).as("mn"), max(raw.cast("double")).as("mx"))
  }

  /** Fold decimal-exact shard rows into the corpus summary. The components
    * (n, s, s2) merge exactly in decimal; the derived moments are then
    * computed in double FROM the exact components with a fixed expression
    * tree, so any engine evaluating the same algebra over the same exact
    * inputs lands on the same IEEE-754 doubles.
    */
  def mergeSummaryExact(shards: DataFrame): DataFrame =
    shards
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("s2")).as("s2"), min(col("mn")).as("min_v"),
        max(col("mx")).as("max_v"))
      .select(col("n"), col("s").cast("double").as("sum_v"),
        col("min_v"), col("max_v"),
        (col("s").cast("double") / col("n")).as("mean_v"),
        when(col("n") > 1L,
          (col("s2").cast("double")
            - col("s").cast("double") * col("s").cast("double") / col("n"))
            / (col("n") - 1L))
          .as("var_v"))
      .withColumn("std_v", sqrt(col("var_v")))

  /** Pairwise Pearson correlation matrix over lineitem measures, one row —
    * the notebook's `corr()` (cell 15). Pairs are flat columns so the
    * DuckDB oracle is a literal transliteration.
    */
  def corrMatrix(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      corr(col("l_quantity"), col("l_extendedprice")).as("corr_qty_price"),
      corr(col("l_quantity"), col("l_discount")).as("corr_qty_disc"),
      corr(col("l_quantity"), col("l_tax")).as("corr_qty_tax"),
      corr(col("l_extendedprice"), col("l_discount")).as("corr_price_disc"),
      corr(col("l_extendedprice"), col("l_tax")).as("corr_price_tax"),
      corr(col("l_discount"), col("l_tax")).as("corr_disc_tax"),
      covar_samp(col("l_quantity"), col("l_extendedprice")).as("cov_qty_price"))

  /** Equi-width histogram: `nbins` equal bins across the column's actual
    * [min, max], one output row per non-empty bin. Two passes — a 1-row
    * min/max aggregate broadcast back over the data (the same
    * crossJoin-a-scalar shape minMaxScale uses), then a codegen'd bin map
    * + hash aggregate. No sort anywhere; at 100 TB both passes are
    * map-side-combined scans. The max value lands in the LAST bin (the
    * `least` clamp), matching every mainstream histogram convention.
    * Bin arithmetic is the literal expression the oracle repeats, so bin
    * ids match bit-for-bit; a degenerate column (min == max) collapses to
    * one bin 0 rather than dividing by zero.
    */
  def histogram(df: DataFrame, valueCol: String, nbins: Int): DataFrame = {
    require(nbins > 0, "nbins must be positive")
    val v = col(valueCol)
    val bounds = df.agg(min(v).as("mn"), max(v).as("mx"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((v - col("mn")) / ((col("mx") - col("mn")) / nbins)),
            lit(nbins - 1L))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(v).as("bin_min"), max(v).as("bin_max"))
  }
}
