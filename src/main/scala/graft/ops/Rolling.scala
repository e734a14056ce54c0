package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.agg.{CumProd, Ewma}

/** The notebook analytics surface: rolling statistics, returns, equity
  * curves, scaling, forecast metrics, ordered splits.
  *
  * Source semantics: `/root/reference/notebooks/explore_datasets.ipynb`
  * cells 14-16 (rolling mean/std ± 2σ bands, pct_change, MA crossover,
  * cumprod equity), `components/model/training.py:92-97` (MinMax scaling),
  * `components/model/evaluation.py:75-76` (RMSE/MAE),
  * `training.py:122-132` (ordered 0.8/0.1/0.1 split).
  *
  * Every window here is `partitionBy(event_type)` — the "symbol" axis.
  * That is the scale contract: at 100 TB you have many symbols, each
  * symbol's series fits a partition, and Spark runs the sorts in parallel
  * per symbol with no global shuffle-to-one-task (unlike the reference's
  * unpartitioned window, SURVEY §4.3.1).
  *
  * Known limit: with FEW symbols and deep history, one symbol's entire
  * series still lands in one window task. The `…Chunked` twins are that
  * regime's forms, each built on the [[Chunks]] carry.
  */
object Rolling {

  private def byTypeTime = Window.partitionBy(col("event_type")).orderBy(col("ts"))

  /** Rolling mean + sample stddev over the hourly close series, with ±2σ
    * volatility bands (notebook cell 14) and the MA7/MA30 pair (cell 16).
    * Frames are row-based trailing windows, matching pandas `rolling(n)`
    * evaluated at the right edge.
    *
    * `pandasMinPeriods = false` (default): partial windows at series
    * start emit the stat over available rows (min_periods=1 style).
    * `true`: each stat is NULL until its window is full — bit-for-bit the
    * notebook's `rolling(n)` default (NaN for the first n−1 rows).
    */
  def maVolatility(hourly: DataFrame,
                   pandasMinPeriods: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val w7 = w.rowsBetween(-6, 0)
    val w30 = w.rowsBetween(-29, 0)
    def gate(c: org.apache.spark.sql.Column,
             frame: org.apache.spark.sql.expressions.WindowSpec, n: Int) =
      if (!pandasMinPeriods) c
      else when(count(lit(1)).over(frame) >= n, c)
    hourly
      .withColumn("ma7", gate(avg(col("close")).over(w7), w7, 7))
      .withColumn("ma30", gate(avg(col("close")).over(w30), w30, 30))
      .withColumn("sd30", gate(stddev_samp(col("close")).over(w30), w30, 30))
      // bands derive from the gated columns, so the NULL prefix propagates
      .withColumn("band_hi", col("ma30") + lit(2.0) * col("sd30"))
      .withColumn("band_lo", col("ma30") - lit(2.0) * col("sd30"))
      .select("bucket", "event_type", "close", "ma7", "ma30", "sd30",
        "band_hi", "band_lo")
  }

  /** lag + pct_change (notebook cell 15): previous value and simple return
    * per event_type series. First row of each series → nulls, as in pandas.
    */
  def returnsLag(events: DataFrame): DataFrame = {
    val prev = lag(col("value"), 1).over(byTypeTime)
    events
      .withColumn("prev_value", prev)
      // try_divide: NULL on a zero previous value (ANSI mode would throw;
      // DuckDB's double division yields NULL too, so the oracle agrees).
      .withColumn("ret", try_divide(col("value"), col("prev_value")) - 1)
      .select(col("event_id"), col("event_type"), col("value"),
        col("prev_value"), col("ret"))
  }

  /** [[returnsLag]] for the deep-single-symbol regime: the carry is the
    * previous chunk's last value ([[Chunks.withPrevious]]). Identical
    * output to [[returnsLag]].
    */
  def returnsLagChunked(events: DataFrame,
                        chunkMicros: Long = 3600L * 1000000L): DataFrame =
    Chunks.withPrevious(events, chunkMicros)
      .withColumn("ret", try_divide(col("value"), col("prev_value")) - 1)
      .select(col("event_id"), col("event_type"), col("value"),
        col("prev_value"), col("ret"))

  /** Equity curve (notebook cell 16): cumulative product of per-row growth
    * factors `value / lag(value)` (≡ 1 + return), exact via the CumProd
    * Aggregator over a growing frame. First row's factor coalesces to 1.
    */
  def cumprodEquity(events: DataFrame): DataFrame = {
    val factor = coalesce(
      try_divide(col("value"), lag(col("value"), 1).over(byTypeTime)), lit(1.0))
    val wGrow = byTypeTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("factor", factor)
      .withColumn("equity", CumProd.product(col("factor")).over(wGrow))
      .select(col("event_id"), col("event_type"), col("value"),
        col("factor"), col("equity"))
  }

  /** Exponentially-weighted mean per series — pandas `ewm(alpha).mean()`
    * (the default adjust=True form). The order-dependent recursion rides
    * [[graft.agg.EwmaAgg]]'s associative (num, den, decay) affine buffer
    * over the growing per-symbol frame — the same evaluation shape as
    * [[cumprodEquity]]: one state update per row, no re-scan, and no
    * `pow(1−α, −t)` overflow closed form.
    */
  def ewma(events: DataFrame, alpha: Double): DataFrame = {
    val wGrow = byTypeTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("ema", Ewma.ewma(col("value"), alpha).over(wGrow))
      .select(col("event_id"), col("event_type"), col("value"), col("ema"))
  }

  /** [[ewma]] for the deep-single-symbol regime ([[chunkedEmas]]).
    * Results match [[ewma]] up to float re-association (parity spec pins
    * ≤ 1e-12 relative).
    */
  def ewmaChunked(events: DataFrame, alpha: Double,
                  chunkMicros: Long = 3600L * 1000000L): DataFrame =
    chunkedEmas(events, Seq(("value", "ema", alpha)), chunkMicros)
      .select(col("event_id"), col("event_type"), col("value"), col("ema"))

  /** The [[Chunks]] carry of EMAs, for ANY set of (source column,
    * output column, alpha) triples so composite indicators pay the
    * machinery ONCE: all in-chunk (num, den, decay) states ride one
    * window pass (one sort), the chunk-final states travel in one
    * summary, each carry is an order-faithful [[graft.agg.EwmaMergeAgg]]
    * prefix over the chunks before, and one broadcast join finalizes
    * every EMA: ema = (A_w·num_c + num_w) / (A_w·den_c + den_w). Output =
    * the input columns plus one EMA column per triple (empty-state rows
    * — e.g. before a series' first non-null — finalize to NULL via
    * `try_divide`, where the windowed Aggregator yields NaN; callers of
    * the windowed forms already null-map, so the twins agree).
    */
  private[graft] def chunkedEmas(events: DataFrame,
                                 specs: Seq[(String, String, Double)],
                                 chunkMicros: Long): DataFrame = {
    def stCol(out: String) = s"_st_$out"
    val pass1 = specs.foldLeft(events.withColumn("chunk", Chunks.ofTs(chunkMicros))) {
      case (df, (src, out, alpha)) => df.withColumn(stCol(out),
        Ewma.state(col(src), alpha).over(Chunks.growing()))
    }
    val prefixes = pass1.groupBy(col("event_type"), col("chunk"))
      .agg(max_by(col(stCol(specs.head._2)), Chunks.timeKey).as(s"_t_${specs.head._2}"),
        specs.tail.map { case (_, out, _) =>
          max_by(col(stCol(out)), Chunks.timeKey).as(s"_t_$out") }: _*)
    val carried = specs.foldLeft(prefixes) { case (df, (_, out, _)) =>
      df.withColumn(s"_c_$out", Ewma.mergeStates(col(s"_t_$out._1"),
        col(s"_t_$out._2"), col(s"_t_$out._3")).over(Chunks.before()))
    }.select(col("event_type") +: col("chunk") +: specs.flatMap {
      case (_, out, _) => Seq(
        // first chunk: empty exclusive frame → NULL carry → identity map
        coalesce(col(s"_c_$out._1"), lit(0.0)).as(s"_cnum_$out"),
        coalesce(col(s"_c_$out._2"), lit(0.0)).as(s"_cden_$out"))
    }: _*)
    val joined = Chunks.joinBack(pass1, carried)
    val finals = specs.foldLeft(joined) { case (df, (_, out, _)) =>
      df.withColumn(out, try_divide(
        col(s"${stCol(out)}._3") * col(s"_cnum_$out") + col(s"${stCol(out)}._1"),
        col(s"${stCol(out)}._3") * col(s"_cden_$out") + col(s"${stCol(out)}._2")))
    }
    finals.drop("chunk")
      .drop(specs.flatMap { case (_, out, _) =>
        Seq(stCol(out), s"_cnum_$out", s"_cden_$out") }: _*)
  }

  /** [[macd]] for the deep-single-symbol regime (the reference's OWN
    * production case — one BTC-USDT series, years deep): both value EMAs
    * ride ONE chunked two-pass, the signal EMA a second chunked pass
    * over the derived macd line. Identical output to [[macd]] up to
    * float re-association (parity spec ≤ 1e-12).
    */
  def macdChunked(events: DataFrame, fast: Int = 12, slow: Int = 26,
                  signalSpan: Int = 9,
                  chunkMicros: Long = 3600L * 1000000L): DataFrame = {
    require(fast < slow, s"fast span $fast must be < slow span $slow")
    def a(n: Int) = 2.0 / (n + 1)
    val withMacd = chunkedEmas(events,
      Seq(("value", "ema_fast", a(fast)), ("value", "ema_slow", a(slow))),
      chunkMicros)
      .withColumn("macd", col("ema_fast") - col("ema_slow"))
    chunkedEmas(withMacd, Seq(("macd", "signal", a(signalSpan))), chunkMicros)
      .select(col("event_id"), col("event_type"), col("value"),
        col("macd"), col("signal"), (col("macd") - col("signal")).as("hist"))
  }

  /** [[rsi]] for the deep-single-symbol regime: the deltas' lag is
    * [[Chunks.withPrevious]], and the gain/loss pair rides ONE
    * [[chunkedEmas]] pass. Identical output to [[rsi]] (parity spec
    * ≤ 1e-12).
    */
  def rsiChunked(events: DataFrame, length: Int = 14,
                 chunkMicros: Long = 3600L * 1000000L): DataFrame = {
    val withDeltas = Chunks.withPrevious(events, chunkMicros)
      .withColumn("delta", col("value") - col("prev_value"))
      .withColumn("gain",
        when(col("delta").isNotNull, greatest(col("delta"), lit(0.0))))
      .withColumn("loss",
        when(col("delta").isNotNull, greatest(-col("delta"), lit(0.0))))
      .drop("prev_value")
    // chunkedEmas finalizes empty states (pre-first-delta rows) to NULL
    // already — no NaN mapping needed here, unlike the windowed form
    chunkedEmas(withDeltas,
      Seq(("gain", "avg_gain", 1.0 / length),
        ("loss", "avg_loss", 1.0 / length)), chunkMicros)
      .select(col("event_id"), col("event_type"), col("value"),
        col("avg_gain"), col("avg_loss"),
        (lit(100.0) * try_divide(col("avg_gain"),
          col("avg_gain") + col("avg_loss"))).as("rsi"))
  }

  /** MACD (moving-average convergence/divergence) per symbol — the
    * classic 12/26/9 indicator over the tick series, built entirely from
    * [[graft.agg.EwmaAgg]] (pandas `ewm(span=n)` ⇒ α = 2/(n+1),
    * adjust=True): `macd = EMA_fast − EMA_slow`, `signal = EMA` of the
    * macd line, `hist = macd − signal`.
    *
    * Scale shape: the fast and slow EMAs evaluate in ONE window pass
    * (two aggregators over the same growing frame); the signal EMA is a
    * second window over the derived macd column with the SAME
    * partitioning/ordering, so Catalyst plans it over the already-sorted
    * stream — one shuffle + one sort per symbol partition total, one
    * state update per row, no re-scan. The deep-single-symbol regime
    * composes via the [[ewmaChunked]] factoring if ever needed.
    */
  def macd(events: DataFrame, fast: Int = 12, slow: Int = 26,
           signalSpan: Int = 9): DataFrame = {
    require(fast < slow, s"fast span $fast must be < slow span $slow")
    val wGrow = byTypeTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def span(n: Int) = 2.0 / (n + 1)
    events
      .withColumn("ema_fast", Ewma.ewma(col("value"), span(fast)).over(wGrow))
      .withColumn("ema_slow", Ewma.ewma(col("value"), span(slow)).over(wGrow))
      .withColumn("macd", col("ema_fast") - col("ema_slow"))
      .withColumn("signal", Ewma.ewma(col("macd"), span(signalSpan)).over(wGrow))
      .select(col("event_id"), col("event_type"), col("value"),
        col("macd"), col("signal"), (col("macd") - col("signal")).as("hist"))
  }

  /** RSI (relative strength index) per symbol — ewm-smoothed average
    * gain vs average loss (the `ewm(alpha=1/length, adjust=True)`
    * variant; classic Wilder smoothing is the adjust=False limit of the
    * same recursion): `rsi = 100·avg_gain / (avg_gain + avg_loss)`.
    *
    * The first row of each series has no delta — pandas emits NaN there;
    * here the EMA's empty state (den = 0 → NaN) is mapped to NULL so the
    * output is oracle-comparable, and a flat prefix (all deltas zero)
    * yields NULL too (0/0). Nulls in `delta` are the Aggregator's
    * identity, so the smoothing simply carries across them.
    *
    * Scale shape: one lag window + one window pass carrying BOTH EMAs
    * (same frame), per-symbol partitions, no extra shuffle.
    */
  def rsi(events: DataFrame, length: Int = 14): DataFrame = {
    require(length >= 1, s"length $length must be >= 1")
    val wGrow = byTypeTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val noNan = (c: Column) => when(!isnan(c), c)
    events
      .withColumn("delta", col("value") - lag(col("value"), 1).over(byTypeTime))
      // greatest() would swallow a null delta to 0 — keep it null so the
      // EMA skips the first row instead of decaying on it
      .withColumn("gain",
        when(col("delta").isNotNull, greatest(col("delta"), lit(0.0))))
      .withColumn("loss",
        when(col("delta").isNotNull, greatest(-col("delta"), lit(0.0))))
      .withColumn("avg_gain", noNan(Ewma.ewma(col("gain"), 1.0 / length).over(wGrow)))
      .withColumn("avg_loss", noNan(Ewma.ewma(col("loss"), 1.0 / length).over(wGrow)))
      .select(col("event_id"), col("event_type"), col("value"),
        col("avg_gain"), col("avg_loss"),
        (lit(100.0) * try_divide(col("avg_gain"),
          col("avg_gain") + col("avg_loss"))).as("rsi"))
  }

  /** ATR (average true range) over resampled OHLC bars — true range
    * `max(high−low, |high−prev_close|, |low−prev_close|)` smoothed by
    * the same `ewm(alpha=1/length, adjust=True)` recursion as [[rsi]].
    * The first bar of each series has no previous close; `greatest`
    * skips the two null legs (both engines share Postgres semantics),
    * so its TR is the plain high−low — the classic convention.
    *
    * Input is any bar frame with (bucket, event_type, high, low, close),
    * e.g. [[Resample.ohlcHourly]] — indicator chains compose on the
    * RESAMPLED series, so the window sorts #bars, not #ticks.
    */
  def atr(bars: DataFrame, length: Int = 14): DataFrame = {
    val byTypeBucket = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val wGrow = byTypeBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("prev_close", lag(col("close"), 1).over(byTypeBucket))
      .withColumn("tr", greatest(col("high") - col("low"),
        abs(col("high") - col("prev_close")),
        abs(col("low") - col("prev_close"))))
      .withColumn("atr", Ewma.ewma(col("tr"), 1.0 / length).over(wGrow))
      .select(col("bucket"), col("event_type"), col("tr"), col("atr"))
  }

  /** Stochastic oscillator %K/%D over resampled OHLC bars:
    * `%K = 100·(close − min(low)) / (max(high) − min(low))` over a
    * trailing `kLen`-bar window (partial windows at series start use the
    * available bars — min_periods=1 style, like [[maVolatility]]'s
    * default), `%D` = `dLen`-bar moving average of %K. A flat window
    * (high = low throughout) makes %K NULL (0/0), and %D averages over
    * the defined values only — both engines' `avg` skip nulls.
    */
  def stochastic(bars: DataFrame, kLen: Int = 14, dLen: Int = 3): DataFrame = {
    val byTypeBucket = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val wK = byTypeBucket.rowsBetween(-(kLen - 1), 0)
    val low = min(col("low")).over(wK)
    bars
      .withColumn("pct_k", lit(100.0) *
        try_divide(col("close") - low, max(col("high")).over(wK) - low))
      .withColumn("pct_d",
        avg(col("pct_k")).over(byTypeBucket.rowsBetween(-(dLen - 1), 0)))
      .select(col("bucket"), col("event_type"), col("close"),
        col("pct_k"), col("pct_d"))
  }

  /** OBV (on-balance volume) over resampled OHLCV bars: the running sum
    * of each bar's volume signed by its close-to-close direction (+v on
    * an up bar, −v on a down bar, 0 on unchanged or the first bar —
    * `signum` of a null delta stays null, coalesced to 0). A plain
    * prefix-sum window — exact, associative, no smoothing — so the
    * whole indicator is one codegen window over #bars.
    */
  def obv(bars: DataFrame): DataFrame = {
    val byTypeBucket = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val wGrow = byTypeBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("signed_vol",
        coalesce(signum(col("close") - lag(col("close"), 1).over(byTypeBucket)),
          lit(0.0)) * col("volume"))
      .withColumn("obv", sum(col("signed_vol")).over(wGrow))
      .select(col("bucket"), col("event_type"), col("signed_vol"), col("obv"))
  }

  /** Drawdown series per symbol: running peak (prefix max of the value
    * series) and drawdown = value/peak − 1 (≤ 0 by construction). Exact —
    * no smoothing, one growing window per symbol; max is associative, so
    * the deep-series twin [[drawdownChunked]] carries ONE double per
    * chunk (contrast the EMA's affine (num, den, decay) state). A zero
    * peak (all-zero prefix) → NULL dd via `try_divide`, matching DuckDB
    * double division.
    */
  def drawdown(events: DataFrame): DataFrame = {
    val wGrow = byTypeTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("peak", max(col("value")).over(wGrow))
      .withColumn("dd", try_divide(col("value"), col("peak")) - 1)
      .select(col("event_id"), col("event_type"), col("value"),
        col("peak"), col("dd"))
  }

  /** Per-symbol max drawdown (the deepest trough of [[drawdown]]) — the
    * scalar risk summary. Two shuffles total: the window repartition and
    * the final per-symbol agg (map-side combined; only one row per
    * symbol survives).
    */
  def maxDrawdown(events: DataFrame): DataFrame =
    drawdown(events)
      .groupBy(col("event_type"))
      .agg(min(col("dd")).as("max_dd"), count(lit(1)).as("n"))

  /** [[drawdown]] for the deep-single-symbol regime ([[Chunks]]): the
    * carry is one double per chunk, the max of the chunks before it, and
    * `peak = greatest(peak_in_chunk, carry)` (both engines' `greatest`
    * skips the NULL carry of a series' first chunk). Output is
    * bit-identical to [[drawdown]] — max and division re-associate
    * losslessly, so the parity spec asserts EXACT equality, not an
    * epsilon.
    */
  def drawdownChunked(events: DataFrame,
                      chunkMicros: Long = 3600L * 1000000L): DataFrame = {
    val chunked = events.withColumn("chunk", Chunks.ofTs(chunkMicros))
    val peaks = Chunks.summary(chunked, Seq(max(col("value")).as("chunk_peak")),
      "carry_peak" -> max(col("chunk_peak")).over(Chunks.before()))
    Chunks.joinBack(chunked.withColumn("peak_in_chunk",
        max(col("value")).over(Chunks.growing())), peaks)
      .withColumn("peak", greatest(col("peak_in_chunk"), col("carry_peak")))
      .withColumn("dd", try_divide(col("value"), col("peak")) - 1)
      .select(col("event_id"), col("event_type"), col("value"),
        col("peak"), col("dd"))
  }

  /** Rolling Pearson correlation over EVERY symbol pair's hourly closes
    * in one pass — the correlation surface. Bars self-join on bucket
    * (`sym_a < sym_b` keeps each unordered pair once; bars missing on
    * either side drop, as pandas `corr` over an aligned frame would),
    * then ONE windowed pass per pair accumulates the five sufficient
    * sums (Σx, Σy, Σxy, Σx², Σy²) and the correlation is a pure
    * projection over them — no second scan, no per-window re-walk of
    * raw ticks (windows cover #bars, not #ticks). The window partitions
    * on the data-derived pair label, so all k(k−1)/2 pair series sort
    * independently in parallel — the plan guard pins that this never
    * collapses to a single-task window. Variance factors clamp at 0
    * (`greatest`) so a flat window's float residual (±ε) can't reach
    * `sqrt` as a negative, and the degenerate 0/0 → NULL via
    * `try_divide` in both engines.
    *
    * 100 TB note: the self-join is on the RESAMPLED bar table (#buckets ×
    * #symbols rows, not ticks); its output is #buckets × k²/2. For large
    * k restrict the left side to a watch-list first — the join is the
    * quadratic step, the windows stay linear in their input.
    */
  def rollingCorrMatrix(bars: DataFrame, n: Int = 24): DataFrame = {
    require(n >= 1, s"window must be >= 1 bar, got $n")
    val a = bars.select(col("bucket"), col("event_type").as("sym_a"),
      col("close").as("x"))
    val b = bars.select(col("bucket"), col("event_type").as("sym_b"),
      col("close").as("y"))
    val w = Window.partitionBy(col("pair")).orderBy(col("bucket"))
      .rowsBetween(-(n - 1), 0)
    val cnt = count(lit(1)).over(w).cast("double")
    val sx = sum(col("x")).over(w)
    val sy = sum(col("y")).over(w)
    val sxy = sum(col("x") * col("y")).over(w)
    val sxx = sum(col("x") * col("x")).over(w)
    val syy = sum(col("y") * col("y")).over(w)
    a.join(b, Seq("bucket")).where(col("sym_a") < col("sym_b"))
      .withColumn("pair", concat_ws("/", col("sym_a"), col("sym_b")))
      .withColumn("corr_xy", try_divide(
        cnt * sxy - sx * sy,
        sqrt(greatest(cnt * sxx - sx * sx, lit(0.0)) *
          greatest(cnt * syy - sy * sy, lit(0.0)))))
      // regression slope of y on x — the same sums, one more projection
      .withColumn("beta_yx", try_divide(
        cnt * sxy - sx * sy,
        greatest(cnt * sxx - sx * sx, lit(0.0))))
      .select(col("bucket"), col("pair"), col("x"), col("y"),
        col("corr_xy"), col("beta_yx"))
  }

  /** [[rollingCorrMatrix]] restricted to one symbol pair — the filter
    * lands BEFORE the self-join, so only the two series are scanned.
    */
  def rollingCorrPair(bars: DataFrame, typeA: String, typeB: String,
                      n: Int = 24): DataFrame =
    rollingCorrMatrix(
      bars.filter(col("event_type").isin(typeA, typeB)), n)

  /** Per-symbol lag-k autocorrelation of simple returns — the mean-
    * reversion / momentum diagnostic. One symbol-partitioned window pass
    * derives returns and their k-lag, then ONE map-side-combined
    * aggregate accumulates the five sufficient sums; the Pearson
    * coefficient is a pure projection (same algebra as
    * [[rollingCorrMatrix]], with the same clamp-then-`try_divide`
    * degenerate handling). Rows without both legs (the first k+1 of each
    * series) drop before the sums, as pandas `autocorr` drops NaNs.
    */
  def returnsAutocorr(events: DataFrame, lagK: Int = 1): DataFrame = {
    require(lagK >= 1, s"lag must be >= 1, got $lagK")
    val rets = events
      .withColumn("ret",
        try_divide(col("value"), lag(col("value"), 1).over(byTypeTime)) - 1)
      .withColumn("ret_lag", lag(col("ret"), lagK).over(byTypeTime))
      .filter(col("ret").isNotNull && col("ret_lag").isNotNull)
    rets.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum(col("ret")).as("sx"), sum(col("ret_lag")).as("sy"),
        sum(col("ret") * col("ret_lag")).as("sxy"),
        sum(col("ret") * col("ret")).as("sxx"),
        sum(col("ret_lag") * col("ret_lag")).as("syy"))
      .select(col("event_type"), col("cnt").cast("long").as("n"),
        try_divide(
          col("cnt") * col("sxy") - col("sx") * col("sy"),
          sqrt(greatest(col("cnt") * col("sxx") - col("sx") * col("sx"), lit(0.0)) *
            greatest(col("cnt") * col("syy") - col("sy") * col("sy"), lit(0.0))))
          .as("autocorr"))
  }

  /** Amihud illiquidity over resampled bars: |close-to-close return| per
    * unit of bar volume, averaged over a trailing `n`-bar window — the
    * classic price-impact proxy. Bars with zero volume yield NULL
    * ratios (`try_divide`) and `avg` skips them in both engines; the
    * chain runs on the RESAMPLED series (#bars, not #ticks), sharing the
    * one symbol-partitioned sort with every bar indicator.
    */
  def amihud(bars: DataFrame, n: Int = 24): DataFrame = {
    val byTypeBucket = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val wTrail = byTypeBucket.rowsBetween(-(n - 1), 0)
    bars
      .withColumn("ret",
        try_divide(col("close"), lag(col("close"), 1).over(byTypeBucket)) - 1)
      .withColumn("illiq_bar", try_divide(abs(col("ret")), col("volume")))
      .withColumn("illiq", avg(col("illiq_bar")).over(wTrail))
      .select(col("bucket"), col("event_type"), col("illiq_bar"), col("illiq"))
  }

  /** [[cumprodEquity]] for the deep-single-symbol regime ([[Chunks]]).
    * In-chunk: the factor (rn-gated, NOT null-lag-gated: a null VALUE
    * mid-chunk must mean factor 1.0, exactly as the plain form's
    * try_divide-by-null does, not a fallback to the previous chunk) and
    * the running product g (g=1 at the chunk's first row). The carry per
    * chunk: the first row's factor f1 = first/prev-last, and the product
    * e_prev of the full-chunk products (f1 × g_total) before it;
    * `equity = e_prev × f1 × g`. Results match [[cumprodEquity]] up to
    * float re-association (chunk products multiply as one term; parity
    * spec pins ≤ 1e-12 relative).
    */
  def cumprodEquityChunked(events: DataFrame,
                           chunkMicros: Long = 3600L * 1000000L): DataFrame = {
    val wChunk = Chunks.within()
    val pass1 = events
      .withColumn("chunk", Chunks.ofTs(chunkMicros))
      .withColumn("rn", row_number().over(wChunk))
      .withColumn("fw", when(col("rn") === 1, lit(1.0)).otherwise(
        coalesce(try_divide(col("value"), lag(col("value"), 1).over(wChunk)),
          lit(1.0))))
      .withColumn("g", CumProd.product(col("fw")).over(Chunks.growing()))
      .select(col("event_id"), col("event_type"), col("chunk"), col("ts"),
        col("value"), col("rn"), col("fw"), col("g"))
    val prefixes = Chunks.summary(pass1, Seq(
        min_by(col("value"), Chunks.timeKey).as("first_value"),
        max_by(col("value"), Chunks.timeKey).as("last_value"),
        max_by(col("g"), Chunks.timeKey).as("g_total")),
      "f1" -> coalesce(try_divide(col("first_value"),
        lag(col("last_value"), 1).over(Chunks.across())), lit(1.0)),
      "e_prev" -> coalesce(CumProd.product(col("f1") * col("g_total"))
        .over(Chunks.before()), lit(1.0)))
    Chunks.joinBack(pass1, prefixes)
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("rn") === 1, col("f1")).otherwise(col("fw")).as("factor"),
        (col("e_prev") * col("f1") * col("g")).as("equity"))
  }

  /** MA-crossover backtest (notebook cell 16) as ONE composed query:
    * signal = MA7 > MA30 (as 0/1), position = yesterday's signal (no
    * lookahead), strategy return = position × hourly return, equity =
    * cumprod(1 + strategy return). Runs on the hourly close series.
    */
  def maCrossoverBacktest(hourly: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val wGrow = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("ma7", avg(col("close")).over(w.rowsBetween(-6, 0)))
      .withColumn("ma30", avg(col("close")).over(w.rowsBetween(-29, 0)))
      .withColumn("signal", when(col("ma7") > col("ma30"), 1).otherwise(0))
      .withColumn("position", coalesce(lag(col("signal"), 1).over(w), lit(0)))
      .withColumn("ret", try_divide(col("close"), lag(col("close"), 1).over(w)) - 1)
      .withColumn("strat_factor",
        coalesce(lit(1.0) + col("position") * col("ret"), lit(1.0)))
      .withColumn("equity", CumProd.product(col("strat_factor")).over(wGrow))
      .select("bucket", "event_type", "close", "ma7", "ma30", "signal",
        "position", "equity")
  }

  /** MinMax scaling (training.py:92-97): x ↦ (x - min) / (max - min) per
    * event_type. The 2-scalar fit is a 1-row-per-group aggregate broadcast
    * back — expressed as a grouped agg + equi-join that AQE/Catalyst turn
    * into a broadcast join of the tiny per-group stats table (the
    * scalar-subquery pattern from SURVEY §2.3).
    */
  def minMaxScale(events: DataFrame): DataFrame = {
    val stats = events.groupBy(col("event_type").as("et"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    events
      .join(broadcast(stats), col("event_type") === col("et"))
      // Constant series ⇒ mx == mn ⇒ 0/0; map to 0.0 instead of the NULL
      // Spark's non-ANSI division would yield (the reference's
      // MinMaxScaler maps a constant column to a finite value too).
      .withColumn("scaled",
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise((col("value") - col("mn")) / (col("mx") - col("mn"))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("mn"), col("mx"), col("scaled"))
  }

  /** Scale then algebraically un-scale (evaluation.py:71-72,174): the
    * inverse transform `x' = scaled * (mx - mn) + mn` that turns a model
    * prediction back into price units.
    */
  def minMaxRoundtrip(events: DataFrame): DataFrame =
    minMaxScale(events)
      .withColumn("unscaled", col("scaled") * (col("mx") - col("mn")) + col("mn"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("scaled"), col("unscaled"))

  /** Forecast error metrics (evaluation.py:75-76) against the persistence
    * baseline (ŷ = previous value): RMSE and MAE per event_type.
    */
  def rmseMae(events: DataFrame): DataFrame = {
    val yhat = lag(col("value"), 1).over(byTypeTime)
    events
      .withColumn("yhat", yhat)
      .filter(col("yhat").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        sqrt(avg(pow(col("value") - col("yhat"), 2))).as("rmse"),
        avg(abs(col("value") - col("yhat"))).as("mae"),
        count(lit(1)).as("n"))
  }

  /** Long-format metrics table (evaluation.py:146-158): one row per
    * (split, metric), values = persistence-baseline RMSE/MAE computed per
    * ordered split — the §1.1 metrics data model as a query.
    */
  def metricsLong(events: DataFrame): DataFrame = {
    val w = byTypeTime
    val cnt = Window.partitionBy(col("event_type"))
    val withSplit = events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      .withColumn("split",
        when(col("rn") <= lit(0.8) * col("n"), "train")
          .when(col("rn") <= lit(0.9) * col("n"), "val")
          .otherwise("test"))
      .withColumn("yhat", lag(col("value"), 1).over(byTypeTime))
      .filter(col("yhat").isNotNull)
    val wide = withSplit
      .groupBy(col("event_type"), col("split"))
      .agg(
        sqrt(avg(pow(col("value") - col("yhat"), 2))).as("rmse"),
        avg(abs(col("value") - col("yhat"))).as("mae"))
    wide.select(col("event_type"), col("split"), lit("RMSE").as("metric"),
        col("rmse").as("value"))
      .unionByName(wide.select(col("event_type"), col("split"),
        lit("MAE").as("metric"), col("mae").as("value")))
  }

  /** Ordered 0.8/0.1/0.1 train/val/test split (training.py:122-132):
    * position-based, NOT random — time-series discipline. Returns per
    * (event_type, split) row counts and value sums for verification.
    */
  def orderedSplit(events: DataFrame): DataFrame = {
    val w = byTypeTime
    val cnt = Window.partitionBy(col("event_type"))
    events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      .withColumn("split",
        when(col("rn") <= lit(0.8) * col("n"), "train")
          .when(col("rn") <= lit(0.9) * col("n"), "val")
          .otherwise("test"))
      .groupBy(col("event_type"), col("split"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("sum_value"))
  }

  /** Ordered train/test split with an EMBARGO gap: the `embargoRows`
    * rows between the train cut and the first test row are LABELED as a
    * third "embargo" split group (counts and sums reported like the
    * other two) and thereby excluded from both train and test — the
    * leakage guard for autocorrelated financial series (a label at
    * the boundary is correlated with features just before it; a plain
    * 0.8/0.2 cut trains on information that leaks into the test head).
    * Keeping the embargoed rows visible in the output, rather than
    * silently dropping them, makes the guard itself auditable: the
    * three groups partition the input exactly.
    * The purged-CV discipline (López de Prado), reduced to the single
    * ordered holdout the reference's LSTM split actually uses.
    *
    * Bounds are pure integer arithmetic ((8n div 10), + embargoRows), so
    * fold membership is engine-exact — no float fraction comparisons at
    * the cut. Same one-window one-aggregate shape as [[orderedSplit]].
    */
  def splitEmbargo(events: DataFrame, embargoRows: Int = 100): DataFrame = {
    // (ts, event_id) order: ts alone could tie, and a tied row_number
    // would make fold membership partitioning-dependent
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val cnt = Window.partitionBy(col("event_type"))
    events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      // `div`, not `/`: Spark's / on longs is true division to double —
      // a float fraction at the cut is exactly the ambiguity to avoid
      .withColumn("split",
        when(col("rn") <= expr("n * 8 div 10"), "train")
          .when(col("rn") <= expr(s"n * 8 div 10 + $embargoRows"), "embargo")
          .otherwise("test"))
      .groupBy(col("event_type"), col("split"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("sum_value"))
  }

  /** Walk-forward validation windows (expanding-window backtest): the
    * series splits into k+1 contiguous time blocks; fold i trains on
    * blocks 1..i and tests on block i+1. Block residence is exact
    * integer arithmetic (((rn−1)(k+1)) div n + 1), so any engine lands
    * every row in the same block.
    *
    * Scale shape: ONE row-number window + one (event_type, block) hash
    * aggregate reduce the corpus to k+1 tiny block rows per symbol; the
    * fold table derives from prefix sums over THAT — the per-fold
    * train/test row counts and boundary timestamps never rescan or
    * multiply the input (the naive form explodes every row k ways).
    *
    * Contract for tiny groups: a group with fewer than k+1 rows cannot
    * fill every block — the integer block assignment then leaves some
    * block numbers EMPTY (e.g. n=3, k=4 lands rows in blocks 1, 2, 4),
    * `lead` pairs each present block with the NEXT PRESENT one, and
    * fewer than k folds emerge. That degraded-folds behavior is the
    * intended semantics (it matches the oracle's identical arithmetic);
    * callers needing exactly k folds must ensure n >= k+1 per group.
    */
  def walkForward(events: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, s"need at least 1 fold, got $k")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val cnt = Window.partitionBy(col("event_type"))
    val blocks = events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      .withColumn("block", expr(s"(rn - 1) * ${k + 1} div n + 1"))
      .groupBy(col("event_type"), col("block"))
      .agg(count(lit(1)).as("b_rows"), max(col("ts")).as("b_end_ts"))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("block"))
    blocks
      .withColumn("cum_rows", sum(col("b_rows")).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_test", lead(col("b_rows"), 1).over(wb))
      .withColumn("test_end_ts", lead(col("b_end_ts"), 1).over(wb))
      .filter(col("block") <= k && col("n_test").isNotNull)
      .select(col("event_type"), col("block").cast("int").as("fold"),
        col("cum_rows").as("n_train"), col("n_test"),
        col("b_end_ts").as("train_end_ts"), col("test_end_ts"))
  }

  /** Forward-fill (pandas `ffill`): carry the last non-null value down
    * each symbol's time order — the standard repair for gappy market
    * data before resampling. `last(ignoreNulls)` over an
    * unbounded-preceding row frame, per-symbol partitions (the same
    * scale contract as every window here). The gaps are derived
    * deterministically (every 7th event masked) so the operator is
    * exercised identically at any SF and by any engine.
    */
  def fillForward(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("gappy", gappy)
      .select(col("event_id"), col("event_type"), col("gappy"),
        last(col("gappy"), ignoreNulls = true).over(w).as("filled"))
  }

  /** [[fillForward]] for the deep-single-symbol regime ([[Chunks]]): the
    * carry is the last non-null value of the chunks before (a whole
    * chunk of gaps inherits from earlier chunks), coalesced under the
    * in-chunk fill. Identical output to [[fillForward]].
    */
  def fillForwardChunked(events: DataFrame,
                         chunkMicros: Long = 4L * 3600L * 1000000L): DataFrame = {
    val local = events
      .withColumn("gappy", gappy)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("chunk", Chunks.key(col("ts_us"), chunkMicros))
      .withColumn("f_local", last(col("gappy"), ignoreNulls = true)
        .over(Chunks.growing(Seq(col("ts_us"), col("event_id")))))
    // the chunk-last fill state is null iff the whole chunk is gaps
    val carries = Chunks.summary(local,
      Seq(max_by(col("f_local"), struct(col("ts_us"), col("event_id"))).as("chunk_last")),
      "carry" -> last(col("chunk_last"), ignoreNulls = true).over(Chunks.before()))
    Chunks.joinBack(local, carries, "left")
      .select(col("event_id"), col("event_type"), col("gappy"),
        coalesce(col("f_local"), col("carry")).as("filled"))
  }

  /** `value` with every 7th event masked to NULL — [[fillForward]]'s gaps. */
  private def gappy: Column =
    when(pmod(col("event_id"), lit(7)) === 0L, lit(null).cast("double"))
      .otherwise(col("value"))
}
