package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.agg.CumProd
import graft.ops.Rolling

/** Notebook-analytics fixtures (FIXTURES §A2): rolling means, cumprod
  * equity, scaler round-trip, and the CumProd null contract.
  */
class RollingSpec extends SparkSpec {
  import spark.implicits._

  // The reference's one self-contained fixture: 5-point price series
  // (model_utils.py:155-167).
  private val prices = Seq(10000.0, 10050.0, 10100.0, 10150.0, 10200.0)

  private def events = prices.zipWithIndex.map { case (v, i) =>
    (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", v)
  }.toDF("event_id", "ts", "event_type", "value")

  test("returnsLag: first row null, then exact ratios") {
    val out = Rolling.returnsLag(events).orderBy("event_id")
      .select("ret").as[Option[Double]].collect()
    assert(out(0).isEmpty)
    assert(approx(out(1).get, 10050.0 / 10000.0 - 1))
    assert(approx(out(4).get, 10200.0 / 10150.0 - 1))
  }

  test("cumprodEquity: equity equals price ratio to series start") {
    val out = Rolling.cumprodEquity(events).orderBy("event_id")
      .select("equity").as[Double].collect()
    prices.zipWithIndex.foreach { case (p, i) =>
      assert(approx(out(i), p / prices.head), s"row $i")
    }
  }

  test("cumprodEquityChunked: matches the unbounded-window form across chunk boundaries") {
    // 3k rows, ONE symbol, 10 s spacing, 1 h chunks → ~9 chunks with
    // boundary rows whose lag lives in the previous chunk; plus a second
    // sparse symbol leaving EMPTY hour-chunks between its rows.
    val rnd = new scala.util.Random(7)
    var a = 100.0
    var b = 50.0
    val rows = (0 until 3000).map { i =>
      a *= math.exp((rnd.nextDouble() - 0.5) * 0.01)
      // nulls and zeros mid-series: factor must fall back to 1.0 exactly
      // as the plain form's try_divide does, never to the previous
      // chunk's close
      val v: Option[Double] =
        if (i % 371 == 5) None else if (i % 577 == 7) Some(0.0) else Some(a)
      (i.toLong, new Timestamp(1704067200000L + i * 10000L), "deep", v)
    } ++ (0 until 5).map { i =>
      b *= 1.0 + i * 0.01
      (10000L + i, new Timestamp(1704067200000L + i * 7200000L), "sparse", Some(b))
    }
    val df = rows.toDF("event_id", "ts", "event_type", "value").repartition(7)
    val exact = Rolling.cumprodEquity(df).orderBy("event_id").collect()
    val chunk = Rolling.cumprodEquityChunked(df).orderBy("event_id").collect()
    assert(exact.length == chunk.length && exact.length == 3005)
    exact.zip(chunk).foreach { case (e, c) =>
      assert(e.getLong(0) == c.getLong(0))
      assert(e.getDouble(3) == c.getDouble(3), s"factor @ ${e.getLong(0)}")
      val (ee, ce) = (e.getDouble(4), c.getDouble(4))
      assert(math.abs(ee - ce) <= 1e-12 * math.max(math.abs(ee), 1.0),
        s"equity @ ${e.getLong(0)}: $ee vs $ce")
    }
  }

  test("returnsLagChunked / rangeFrameAvgChunked: match the plain forms incl. nulls and gaps") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 2000).map { i =>
      val v: Option[Double] =
        if (i % 233 == 3) None else Some(100.0 + rnd.nextGaussian())
      // irregular spacing with multi-hour gaps (empty time-chunks)
      (i.toLong, new Timestamp(1704067200000L + i * 30000L +
        (i / 500) * 7200000L), if (i % 3 == 0) "a" else "b", v)
    }
    val df = rows.toDF("event_id", "ts", "event_type", "value").repartition(7)
    val lagPlain = Rolling.returnsLag(df).orderBy("event_id").collect()
    val lagChunk = Rolling.returnsLagChunked(df).orderBy("event_id").collect()
    assert(lagPlain.length == lagChunk.length)
    lagPlain.zip(lagChunk).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq, s"@ ${a.getLong(0)}")
    }
    val rfPlain = graft.ops.Stats.rangeFrameAvg(df).orderBy("event_id").collect()
    val rfChunk = graft.ops.Stats.rangeFrameAvgChunked(df).orderBy("event_id").collect()
    assert(rfPlain.length == rfChunk.length)
    rfPlain.zip(rfChunk).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getAs[Long]("n_1h") == b.getAs[Long]("n_1h"), s"n @ ${a.getLong(0)}")
      val (x, y) = (a.getAs[Double]("avg_1h"), b.getAs[Double]("avg_1h"))
      assert(math.abs(x - y) <= 1e-9 * math.max(math.abs(x), 1.0), s"avg @ ${a.getLong(0)}")
    }
  }

  test("minMaxScale + inverse: round-trip recovers values; constant series maps to 0") {
    val out = Rolling.minMaxRoundtrip(events).orderBy("event_id").collect()
    out.foreach { r =>
      assert(approx(r.getAs[Double]("unscaled"), r.getAs[Double]("value")))
    }
    assert(approx(out.head.getAs[Double]("scaled"), 0.0))
    assert(approx(out.last.getAs[Double]("scaled"), 1.0))
    val const = Seq.fill(4)(42.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "c", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val scaled = Rolling.minMaxScale(const).select("scaled").as[Double].collect()
    assert(scaled.forall(_ == 0.0))
  }

  test("ewma: pandas ewm(adjust=True) parity; nulls carry forward; merge is order-faithful") {
    // sequential reimplementation: num_t = k·num + v, den_t = k·den + 1
    def seq(vs: Seq[Double], alpha: Double): Seq[Double] = {
      val k = 1.0 - alpha
      var (num, den) = (0.0, 0.0)
      vs.map { v => num = k * num + v; den = k * den + 1.0; num / den }
    }
    val expect = seq(prices, 0.5)
    // alpha=0.5 on 10000, 10050: e1 = 10000, e2 = (0.5·10000+10050)/1.5
    assert(approx(expect(0), 10000.0))
    assert(approx(expect(1), (0.5 * 10000.0 + 10050.0) / 1.5))
    val out = Rolling.ewma(events, 0.5).orderBy("event_id")
      .select("ema").as[Double].collect()
    assert(out.length == 5)
    out.zip(expect).foreach { case (got, want) => assert(approx(got, want)) }
    // null skip: EMA carries the pre-null state forward (pandas skips)
    val withNull = Seq(
      (0L, new Timestamp(1704067200000L), "btc", Some(10.0)),
      (1L, new Timestamp(1704067201000L), "btc", None: Option[Double]),
      (2L, new Timestamp(1704067202000L), "btc", Some(20.0))
    ).toDF("event_id", "ts", "event_type", "value")
    val n = Rolling.ewma(withNull, 0.5).orderBy("event_id")
      .select("ema").as[Double].collect()
    assert(approx(n(0), 10.0) && approx(n(1), 10.0))
    assert(approx(n(2), (0.5 * 10.0 + 20.0) / 1.5))
    // the affine buffer is lawful: any split point merges to the
    // sequential answer (the property that makes grouped partials safe)
    val agg = new graft.agg.EwmaAgg(0.3)
    val vals = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0).map(Double.box)
    val whole = vals.foldLeft(agg.zero)(agg.reduce)
    for (cut <- 0 to vals.length) {
      val (l, r) = vals.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(math.abs(agg.finish(merged) - agg.finish(whole)) < 1e-12,
        s"cut=$cut")
    }
    intercept[IllegalArgumentException] { new graft.agg.EwmaAgg(0.0) }
  }

  test("ewmaChunked: matches the unbounded-window form across chunk boundaries") {
    // 200 rows, one symbol, 10 s apart → hourly chunks hold 360 rows;
    // use a 60 s chunk so the series crosses ~33 chunk boundaries
    val many = (0 until 200).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 10000L), "btc",
        100.0 + (i * 37 % 11) - 5.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val plain = Rolling.ewma(many, 0.2).orderBy("event_id")
      .select("ema").as[Double].collect()
    val chunked = Rolling.ewmaChunked(many, 0.2, 60L * 1000000L)
      .orderBy("event_id").select("ema").as[Double].collect()
    assert(plain.length == 200 && chunked.length == 200)
    plain.zip(chunked).zipWithIndex.foreach { case ((p, c), i) =>
      assert(math.abs(p - c) <= 1e-12 * math.abs(p), s"row $i: $p vs $c")
    }
    // multi-symbol: carries never leak across event_type
    val two = many.union(many.withColumn("event_type", lit("eth"))
      .withColumn("value", col("value") * 2))
    val out = Rolling.ewmaChunked(two, 0.2, 60L * 1000000L)
      .filter($"event_type" === "btc").orderBy("event_id")
      .select("ema").as[Double].collect()
    out.zip(plain).foreach { case (got, want) =>
      assert(math.abs(got - want) <= 1e-12 * math.abs(want))
    }
  }

  // sequential adjust=True EWM reimplementation shared by the indicator
  // parity tests: num_t = k·num + v, den_t = k·den + 1 (None = skip)
  private def seqEwm(vs: Seq[Option[Double]], alpha: Double): Seq[Option[Double]] = {
    val k = 1.0 - alpha
    var (num, den) = (0.0, 0.0)
    vs.map {
      case Some(v) => num = k * num + v; den = k * den + 1.0; Some(num / den)
      case None    => if (den == 0.0) None else Some(num / den)
    }
  }

  test("macd: matches the direct 12/26/9 ewm recursion; signal chains over the macd line") {
    val vs = (0 until 80).map(i => 100.0 + (i * 53 % 17) - 8.0)
    val df = vs.zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val fast = seqEwm(vs.map(Some(_)), 2.0 / 13.0).map(_.get)
    val slow = seqEwm(vs.map(Some(_)), 2.0 / 27.0).map(_.get)
    val macdLine = fast.zip(slow).map { case (f, s) => f - s }
    val signal = seqEwm(macdLine.map(Some(_)), 2.0 / 10.0).map(_.get)
    val out = Rolling.macd(df).orderBy("event_id")
      .select("macd", "signal", "hist").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r.getDouble(0) - macdLine(i)) <= 1e-9, s"macd @ $i")
      assert(math.abs(r.getDouble(1) - signal(i)) <= 1e-9, s"signal @ $i")
      assert(math.abs(r.getDouble(2) - (macdLine(i) - signal(i))) <= 1e-9,
        s"hist @ $i")
    }
    // first row: both EMAs equal v1, so macd = hist = 0 exactly
    assert(out(0).getDouble(0) == 0.0 && out(0).getDouble(2) == 0.0)
    intercept[IllegalArgumentException] { Rolling.macd(events, 26, 12) }
  }

  test("rsi: matches the direct gain/loss ewm recursion; first row and flat prefix are NULL") {
    val vs = (0 until 60).map(i => 100.0 + (i * 31 % 13) - 6.0)
    val df = vs.zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val deltas = None +: vs.sliding(2).map(p => Some(p(1) - p(0))).toSeq
    val ag = seqEwm(deltas.map(_.map(d => math.max(d, 0.0))), 1.0 / 14.0)
    val al = seqEwm(deltas.map(_.map(d => math.max(-d, 0.0))), 1.0 / 14.0)
    val out = Rolling.rsi(df).orderBy("event_id")
      .select("avg_gain", "avg_loss", "rsi").collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1) && out(0).isNullAt(2))
    (1 until vs.length).foreach { i =>
      val (g, l) = (ag(i).get, al(i).get)
      assert(math.abs(out(i).getDouble(0) - g) <= 1e-9, s"gain @ $i")
      assert(math.abs(out(i).getDouble(1) - l) <= 1e-9, s"loss @ $i")
      assert(math.abs(out(i).getDouble(2) - 100.0 * g / (g + l)) <= 1e-9,
        s"rsi @ $i")
    }
    // monotone series: rsi pins to 100; flat series: 0/0 → NULL rsi with
    // zero average gain AND loss (pandas NaN)
    val mono = Rolling.rsi(events).orderBy("event_id")
      .select("rsi").as[Option[Double]].collect()
    assert(mono.head.isEmpty && mono.tail.forall(r => approx(r.get, 100.0)))
    val flat = Seq.fill(5)(42.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val f = Rolling.rsi(flat).orderBy("event_id").collect()
    assert(f.tail.forall(r => r.getAs[Double]("avg_gain") == 0.0 &&
      r.getAs[Double]("avg_loss") == 0.0 && r.isNullAt(5)))
  }

  private def bars = Seq(
    (0L, "btc", 105.0, 95.0, 100.0),
    (1L, "btc", 112.0, 101.0, 110.0),
    (2L, "btc", 111.0, 98.0, 99.0),
    (3L, "btc", 130.0, 100.0, 120.0)
  ).toDF("bucket", "event_type", "high", "low", "close")

  test("atr: true-range recursion parity; first bar TR is plain high − low") {
    // TR by hand: 10 (no prev close), max(11,12,1)=12, max(13,1,12)=13,
    // max(30,31,1)=31
    val trs = Seq(10.0, 12.0, 13.0, 31.0)
    val expect = seqEwm(trs.map(Some(_)), 1.0 / 14.0).map(_.get)
    val out = Rolling.atr(bars).orderBy("bucket")
      .select("tr", "atr").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(0) == trs(i), s"tr @ $i")
      assert(math.abs(r.getDouble(1) - expect(i)) <= 1e-12, s"atr @ $i")
    }
  }

  test("stochastic: trailing-extrema %K and %D by hand; flat window → NULL") {
    val out = Rolling.stochastic(bars, kLen = 2, dLen = 2).orderBy("bucket")
      .select("pct_k", "pct_d").collect()
    val k = Seq(
      100.0 * 5 / 10,          // b0 alone: (100−95)/(105−95)
      100.0 * 15 / 17,         // b0..b1: (110−95)/(112−95)
      100.0 * 1 / 14,          // b1..b2: (99−98)/(112−98)
      100.0 * 22 / 32)         // b2..b3: (120−98)/(130−98)
    val d = Seq(k(0), (k(0) + k(1)) / 2, (k(1) + k(2)) / 2, (k(2) + k(3)) / 2)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r.getDouble(0) - k(i)) <= 1e-12, s"%K @ $i")
      assert(math.abs(r.getDouble(1) - d(i)) <= 1e-12, s"%D @ $i")
    }
    // a flat series never leaves 0/0: %K and %D stay NULL
    val flat = Seq((0L, "c", 42.0, 42.0, 42.0), (1L, "c", 42.0, 42.0, 42.0))
      .toDF("bucket", "event_type", "high", "low", "close")
    Rolling.stochastic(flat).collect().foreach { r =>
      assert(r.isNullAt(3) && r.isNullAt(4))
    }
  }

  test("obv: direction-signed volume prefix sum; first and unchanged bars contribute 0") {
    // closes 100→110→99→120→120: directions 0,+,−,+,0
    val b = Seq(
      (0L, "btc", 100.0, 10.0), (1L, "btc", 110.0, 20.0),
      (2L, "btc", 99.0, 30.0), (3L, "btc", 120.0, 40.0),
      (4L, "btc", 120.0, 50.0)
    ).toDF("bucket", "event_type", "close", "volume")
    val out = Rolling.obv(b).orderBy("bucket").select("obv").as[Double].collect()
    assert(out.toSeq == Seq(0.0, 20.0, -10.0, 30.0, 30.0))
  }

  test("macdChunked / rsiChunked: match the windowed forms across chunk boundaries") {
    val many = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 10000L), "btc",
        100.0 + (i * 37 % 11) - 5.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val chunk = 60L * 1000000L // 60 s chunks → ~50 boundaries
    val m0 = Rolling.macd(many).orderBy("event_id")
      .select("macd", "signal", "hist").collect()
    val m1 = Rolling.macdChunked(many, chunkMicros = chunk).orderBy("event_id")
      .select("macd", "signal", "hist").collect()
    m0.zip(m1).zipWithIndex.foreach { case ((a, b), i) =>
      for (c <- 0 until 3)
        assert(math.abs(a.getDouble(c) - b.getDouble(c)) <=
          1e-12 * math.max(math.abs(a.getDouble(c)), 1.0), s"macd col $c row $i")
    }
    val r0 = Rolling.rsi(many).orderBy("event_id")
      .select("avg_gain", "avg_loss", "rsi").collect()
    val r1 = Rolling.rsiChunked(many, chunkMicros = chunk).orderBy("event_id")
      .select("avg_gain", "avg_loss", "rsi").collect()
    assert(r1(0).isNullAt(0) && r1(0).isNullAt(2)) // first row: no delta
    r0.zip(r1).zipWithIndex.drop(1).foreach { case ((a, b), i) =>
      for (c <- 0 until 3)
        assert(math.abs(a.getDouble(c) - b.getDouble(c)) <=
          1e-12 * math.max(math.abs(a.getDouble(c)), 1.0), s"rsi col $c row $i")
    }
  }

  test("drawdown: peak is the prefix max, dd = value/peak - 1; maxDrawdown finds the trough") {
    // 100, 120, 90, 110, 80 → peaks 100,120,120,120,120
    val e = Seq(100.0, 120.0, 90.0, 110.0, 80.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Rolling.drawdown(e).orderBy("event_id")
      .select("peak", "dd").collect()
    assert(out.map(_.getDouble(0)).toSeq ==
      Seq(100.0, 120.0, 120.0, 120.0, 120.0))
    assert(out(0).getDouble(1) == 0.0) // at a fresh peak: no drawdown
    assert(approx(out(2).getDouble(1), 90.0 / 120.0 - 1))
    val md = Rolling.maxDrawdown(e).select("max_dd").as[Double].head()
    assert(approx(md, 80.0 / 120.0 - 1))
  }

  test("drawdownChunked: bit-identical to the windowed form across chunk boundaries") {
    val many = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 10000L),
        Seq("btc", "eth")(i % 2), 100.0 + (i * 37 % 29) - 14.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val w = Rolling.drawdown(many).orderBy("event_id")
      .select("peak", "dd").collect()
    val c = Rolling.drawdownChunked(many, chunkMicros = 60L * 1000000L)
      .orderBy("event_id").select("peak", "dd").collect()
    w.zip(c).zipWithIndex.foreach { case ((a, b), i) =>
      // EXACT: max and division re-associate losslessly, unlike the EMA
      assert(a.getDouble(0) == b.getDouble(0), s"peak row $i")
      assert(a.getDouble(1) == b.getDouble(1), s"dd row $i")
    }
  }

  test("rollingCorrPair: +1 on an affine pair, -1 inverted, NULL on flat/degenerate windows") {
    val bars = (0 until 30).flatMap { t =>
      Seq(("a", t.toLong, t.toDouble), ("b", t.toLong, 2.0 * t + 3),
        ("c", t.toLong, -t.toDouble), ("flat", t.toLong, 7.0))
    }.toDF("event_type", "bucket", "close")
    val ab = Rolling.rollingCorrPair(bars, "a", "b", 5).orderBy("bucket")
      .select("corr_xy", "beta_yx").collect()
    assert(ab(0).isNullAt(0)) // single-bar window: zero variance → NULL
    ab.drop(1).foreach { r =>
      assert(approx(r.getDouble(0), 1.0))
      assert(approx(r.getDouble(1), 2.0)) // slope of y = 2x + 3
    }
    val ac = Rolling.rollingCorrPair(bars, "a", "c", 5).orderBy("bucket")
      .select("corr_xy", "beta_yx").collect()
    ac.drop(1).foreach { r =>
      assert(approx(r.getDouble(0), -1.0))
      assert(approx(r.getDouble(1), -1.0))
    }
    val af = Rolling.rollingCorrPair(bars, "a", "flat", 5).orderBy("bucket")
      .select("corr_xy", "beta_yx").collect()
    af.foreach(r => assert(r.isNullAt(0))) // one side flat → NULL, never NaN
    // flat y against varying x: slope is defined and ~0
    af.drop(1).foreach(r => assert(approx(r.getDouble(1), 0.0)))
  }

  test("returnsAutocorr: alternating returns are perfectly anti-correlated; flat returns → NULL") {
    // 100,110,100,110,... → returns alternate (+1/10, −1/11): every
    // (ret, ret_lag) point lies on a negative-slope line → autocorr −1
    val alt = (0 until 12).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc",
        if (i % 2 == 0) 100.0 else 110.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val r = Rolling.returnsAutocorr(alt).collect()
    assert(r.length == 1 && r(0).getLong(1) == 10L)
    assert(approx(r(0).getDouble(2), -1.0))
    // constant growth: all returns equal → zero variance → NULL
    val geo = (0 until 8).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc",
        100.0 * math.pow(1.01, i))
    }.toDF("event_id", "ts", "event_type", "value")
    val g = Rolling.returnsAutocorr(geo).collect()
    assert(g.length == 1 && g(0).isNullAt(2))
  }

  test("amihud: |ret|/volume per bar, trailing mean; zero-volume and first bars skip as NULL") {
    val b = Seq(
      (0L, "btc", 100.0, 5.0), (1L, "btc", 110.0, 5.0),
      (2L, "btc", 99.0, 0.0), (3L, "btc", 108.9, 10.0)
    ).toDF("bucket", "event_type", "close", "volume")
    val out = Rolling.amihud(b, n = 24).orderBy("bucket")
      .select("illiq_bar", "illiq").collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1)) // no prev close
    assert(approx(out(1).getDouble(0), 0.1 / 5) &&
      approx(out(1).getDouble(1), 0.1 / 5))
    assert(out(2).isNullAt(0)) // zero volume → NULL ratio, skipped
    assert(approx(out(2).getDouble(1), 0.1 / 5)) // window avg unchanged
    assert(approx(out(3).getDouble(0), 0.1 / 10))
    assert(approx(out(3).getDouble(1), (0.1 / 5 + 0.1 / 10) / 2))
  }

  test("CumProd aggregator: exact for zeros/negatives, skips nulls") {
    val vals = Seq(Some(2.0), Some(-3.0), None, Some(0.5)).toDF("x")
    val p = vals.agg(CumProd.product(col("x"))).as[Double].head()
    assert(p == 2.0 * -3.0 * 0.5) // null skipped, sign preserved
    val withZero = Seq(1.5, 0.0, 7.0).toDF("x")
    assert(withZero.agg(CumProd.product(col("x"))).as[Double].head() == 0.0)
  }

  test("maVolatility: ma7 at row i averages trailing window") {
    val hourly = graft.ops.Resample.ohlcHourly(
      (0 until 40).map { i =>
        (i.toLong, new Timestamp(1704067200000L + i * 3600L * 1000L), "btc", 100.0 + i)
      }.toDF("event_id", "ts", "event_type", "value"))
    val out = Rolling.maVolatility(hourly).orderBy("bucket")
      .select("close", "ma7").collect()
    // closes are 100..139; ma7 at index 10 = mean(close[4..10])
    val closes = out.map(_.getDouble(0))
    val expected = closes.slice(4, 11).sum / 7.0
    assert(approx(out(10).getDouble(1), expected))
  }

  test("maVolatility pandasMinPeriods: NaN prefix until each window fills") {
    val hourly = (0 until 40).map { i =>
      (1704067200L + i * 3600L, "btc", 100.0 + i)
    }.toDF("bucket", "event_type", "close")
    val out = Rolling.maVolatility(hourly, pandasMinPeriods = true)
      .orderBy("bucket").collect()
    // pandas rolling(7): rows 0..5 NaN; rolling(30): rows 0..28 NaN
    assert((0 until 6).forall(i => out(i).isNullAt(out(i).fieldIndex("ma7"))))
    assert(!out(6).isNullAt(out(6).fieldIndex("ma7")))
    assert((0 until 29).forall { i =>
      out(i).isNullAt(out(i).fieldIndex("ma30")) &&
        out(i).isNullAt(out(i).fieldIndex("band_hi"))
    })
    assert(!out(29).isNullAt(out(29).fieldIndex("ma30")))
    assert(out(29).getAs[Double]("ma30") == (100.0 + 0 + 100.0 + 29) / 2)
  }

  test("orderedSplit: 0.8/0.1/0.1 row counts") {
    val n = 100
    val big = (0 until n).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", i.toDouble)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Rolling.orderedSplit(big).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out("train") == 80L && out("val") == 10L && out("test") == 10L)
  }

  test("splitEmbargo: gap rows vanish between train cut and test head") {
    val n = 1000
    val big = (0 until n).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Rolling.splitEmbargo(big, embargoRows = 50).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    // 1000 rows: train = 800, embargo = 50 dropped rows, test = 150
    assert(out("train") == 800L && out("embargo") == 50L && out("test") == 150L)
    // embargo larger than the tail: everything past train is embargo
    val tiny = (0 until 10).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val t = Rolling.splitEmbargo(tiny, embargoRows = 50).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(t("train") == 8L && t("embargo") == 2L && !t.contains("test"))
  }

  test("walkForward: expanding folds cover the series, hand-computed bounds") {
    // 100 rows, k=4 → 5 blocks of 20; fold i: train 20i rows, test 20
    val n = 100
    val big = (0 until n).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Rolling.walkForward(big, k = 4)
      .orderBy("fold").collect()
    assert(out.length == 4)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("fold") == i + 1)
      assert(r.getAs[Long]("n_train") == 20L * (i + 1), s"fold ${i + 1}")
      assert(r.getAs[Long]("n_test") == 20L)
      // train ends at row 20(i+1)−1, test at row 20(i+2)−1 (0-based ids)
      assert(r.getAs[Timestamp]("train_end_ts").getTime ==
        1704067200000L + (20L * (i + 1) - 1) * 1000L)
      assert(r.getAs[Timestamp]("test_end_ts").getTime ==
        1704067200000L + (20L * (i + 2) - 1) * 1000L)
    }
    // uneven split: 103 rows, k=4 → blocks sized by the div formula;
    // the folds must still tile the series exactly (last test ends at
    // the final row, train+tests cover every row once)
    val odd = (0 until 103).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val o = Rolling.walkForward(odd, k = 4).orderBy("fold").collect()
    assert(o.length == 4)
    val lastFold = o.last
    assert(lastFold.getAs[Long]("n_train") + lastFold.getAs[Long]("n_test") == 103L)
    assert(lastFold.getAs[Timestamp]("test_end_ts").getTime ==
      1704067200000L + 102L * 1000L)
  }

  test("fillForwardChunked: matches the plain window across chunk sizes, incl. all-null chunks") {
    // 1-hour event spacing with ids spaced so that some 4-hour chunks
    // contain ONLY masked events (id % 7 == 0) — the cross-chunk carry
    // must then reach back several chunks.
    val big = (0 until 400).map { i =>
      // every 5th row's id is a multiple of 7 (masked); others never are
      val id = if (i % 5 == 0) i.toLong * 7L else i.toLong * 7L + 1L + (i % 3)
      (id, new Timestamp(1704067200000L + i * 3600000L),
        if (i % 2 == 0) "btc" else "eth", 100.0 + i)
    }.toDF("event_id", "ts", "event_type", "value")
    val plain = Rolling.fillForward(big)
      .orderBy("event_type", "event_id").collect().map(_.toSeq)
    for (chunkH <- Seq(2L, 4L, 16L)) {
      val chunked = Rolling.fillForwardChunked(big, chunkH * 3600L * 1000000L)
        .orderBy("event_type", "event_id").collect().map(_.toSeq)
      assert(chunked.toList == plain.toList, s"chunkH=$chunkH")
    }
  }

  test("fillForward: matches a sequential carry scan; leading gap stays null") {
    // event_id 0 is masked (0 % 7 == 0) and is the series head → the
    // fill has nothing to carry: stays null. Later masked ids (7, 14…)
    // take the previous surviving value.
    val n = 30
    val big = (0 until n).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", 100.0 + i)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Rolling.fillForward(big).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    // sequential oracle
    var carry: Option[Double] = None
    (0 until n).foreach { i =>
      if (i % 7 != 0) carry = Some(100.0 + i)
      assert(out(i.toLong) == carry, s"id $i")
    }
  }
}
