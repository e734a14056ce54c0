package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.io.ScratchDirs
import graft.ops.{Microstructure, Similarity}

/** Hand-computed contracts for the microstructure/risk tier and the
  * incremental fuzzy-dedup index.
  */
class MicrostructureSpec extends SparkSpec {
  import spark.implicits._

  private def tick(i: Int, sym: String, v: Double, props: String = """{"k": 1}""") =
    (i.toLong, new Timestamp(1704067200000L + i * 1000L), sym, v, props)

  test("vwapHourly: size-weighted mean, zero-size bucket is NULL") {
    val df = Seq(
      tick(0, "a", 10.0, """{"k": 1}"""),
      tick(1, "a", 20.0, """{"k": 3}"""),
      tick(2, "a", 30.0, """{"k": 0}"""),
      tick(3, "z", 5.0, """{"k": 0}"""), // all-zero size symbol
      tick(4, "z", 7.0, """{"k": 0}""")
    ).toDF("event_id", "ts", "event_type", "value", "props")
    val out = Microstructure.vwapHourly(df).collect()
      .map(r => r.getString(1) -> r).toMap
    // (10*1 + 20*3 + 30*0) / 4 = 17.5
    assert(approx(out("a").getDouble(2), 17.5))
    assert(out("a").getLong(4) === 3L)
    assert(out("z").isNullAt(2)) // try_divide by zero qty
    assert(approx(out("z").getDouble(3), 0.0))
  }

  test("realizedVol: Parkinson and Garman-Klass closed forms on one day") {
    // Two hourly bars, same UTC day: (o,h,l,c) = (4,8,2,4) and (1,e,1,e).
    val bars = Seq(
      (0L, "a", 4.0, 8.0, 2.0, 4.0),
      (3600L, "a", 1.0, math.E, 1.0, math.E)
    ).toDF("bucket", "event_type", "open", "high", "low", "close")
    val r = Microstructure.realizedVol(bars).collect().head
    val ln2 = math.log(2.0)
    val lhl1 = math.log(8.0 / 2.0); val lco1 = 0.0
    val lhl2 = 1.0; val lco2 = 1.0
    val park = math.sqrt((lhl1 * lhl1 + lhl2 * lhl2) / 2.0 / (4.0 * ln2))
    val gk = math.sqrt((0.5 * lhl1 * lhl1 - (2 * ln2 - 1) * lco1 * lco1
      + 0.5 * lhl2 * lhl2 - (2 * ln2 - 1) * lco2 * lco2) / 2.0)
    assert(approx(r.getDouble(2), park))
    assert(approx(r.getDouble(3), gk))
    assert(r.getLong(4) === 2L)
  }

  test("rollSpread: negative serial covariance implies 2*sqrt(-cov); trending is NULL") {
    // Bouncing series p = 10,11,10,11,10 → dp = +1,-1,+1,-1 → cov = -4/3.
    val bounce = Seq(10.0, 11.0, 10.0, 11.0, 10.0).zipWithIndex
      .map { case (v, i) => tick(i, "b", v) }
    // Trending series → all dp = +1 → cov 0 (constant) → NULL spread.
    val trend = (0 until 5).map(i => tick(100 + i, "t", 10.0 + i))
    val out = Microstructure.rollSpread((bounce ++ trend)
      .toDF("event_id", "ts", "event_type", "value", "props").drop("props"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx(out("b").getDouble(1), -4.0 / 3.0))
    assert(approx(out("b").getDouble(3), 2.0 * math.sqrt(4.0 / 3.0)))
    assert(out("b").getLong(2) === 3L)
    assert(out("t").isNullAt(3))
  }

  test("varianceRatio: q-step changes span exactly q ticks") {
    // Sawtooth 0,1,0,1,... over 17 ticks: dp = ±1 (var_1 > 0); prices at
    // even ranks are all 0 → every 2-step change is 0 → VR(2) = 0.
    val saw = (0 until 17).map(i => tick(i, "s", (i % 2).toDouble))
    val out = Microstructure.varianceRatio(
      saw.toDF("event_id", "ts", "event_type", "value", "props").drop("props"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val vr2 = out(("s", 2))
    assert(approx(vr2.getDouble(4), 0.0))
    assert(vr2.getLong(2) === 8L) // 9 sampled ranks 0,2,...,16 → 8 diffs
    assert(vr2.getLong(3) === 16L) // 16 one-step changes
    // q=4: sampled ranks 0,4,8,12,16 — all price 0 → VR(4) = 0 too.
    assert(approx(out(("s", 4)).getDouble(4), 0.0))
  }

  test("kaufmanEr: 1 on a monotone path, NULL before n and on a flat path") {
    val mono = (0 until 15).map(i => tick(i, "m", 100.0 + i))
    val flat = (0 until 15).map(i => tick(100 + i, "f", 50.0))
    val out = Microstructure.kaufmanEr((mono ++ flat)
      .toDF("event_id", "ts", "event_type", "value", "props").drop("props"), n = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(5L).isNullAt(3)) // fewer than n prior ticks
    assert(approx(out(12L).getDouble(3), 1.0)) // net move == path length
    assert(out(112L).isNullAt(3)) // zero path length
  }

  test("donchian: rails, position and causal breakout") {
    val bars = Seq(
      (0L, "a", 10.0, 12.0, 8.0, 11.0),
      (1L, "a", 11.0, 15.0, 10.0, 14.0),
      (2L, "a", 14.0, 20.0, 13.0, 16.0) // close 16 > prev upper 15 → breakout
    ).toDF("bucket", "event_type", "open", "high", "low", "close")
    val out = Microstructure.donchian(bars, n = 2).orderBy("bucket").collect()
    assert(approx(out(0).getDouble(3), 12.0)) // upper = max high so far (window 2)
    assert(!out(0).getBoolean(7)) // no previous rail → coalesced false
    assert(approx(out(1).getDouble(4), 8.0))  // lower over bars 0-1
    assert(out(1).getBoolean(7)) // close 14 > prev upper 12
    assert(out(2).getBoolean(7)) // close 16 > prev upper 15
  }

  test("mfi: signed flows, 100 on all-up window, 0 on all-down, NULL on flat") {
    // Flat bars (h=l=c=tp) isolate the flow algebra from the range.
    def bar(b: Long, tp: Double, qty: Double) = (b, "a", tp, tp, tp, qty)
    val bars = Seq(
      bar(0, 10.0, 5.0), // no dtp → neither side → 0/0 → NULL
      bar(1, 12.0, 2.0), // +2 → pos 24; window {0,1}: 24/(24+0) → 100
      bar(2, 11.0, 4.0), // −1 → neg 44; window {1,2}: 24/(24+44)
      bar(3, 11.0, 3.0), // unchanged → neither; window {2,3}: 0/44 → 0
      bar(4, 11.0, 1.0)  // window {3,4} all-flat → NULL
    ).toDF("bucket", "event_type", "high", "low", "close", "qty")
    val out = Microstructure.mfi(bars, n = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).isNullAt(5))
    assert(approx(out(1L).getDouble(5), 100.0))
    assert(approx(out(2L).getDouble(5), 100.0 * 24.0 / 68.0))
    assert(approx(out(3L).getDouble(5), 0.0))
    assert(out(4L).isNullAt(5))
  }

  test("cmf: close-position-scaled volume; flat bar contributes 0; zero-qty window NULL") {
    val bars = Seq(
      // close at the high rail → mfv = +qty = +4; window {0}: 4/4 = 1
      (0L, "a", 10.0, 0.0, 10.0, 4.0),
      // close at the low rail → mfv = −qty = −6; window {0,1}: (4−6)/10
      (1L, "a", 10.0, 0.0, 0.0, 6.0),
      // flat bar (h=l) → mfv coalesced to 0; window {1,2}: −6/6 = −1
      (2L, "a", 5.0, 5.0, 5.0, 0.0),
      // window {2,3}: 0 qty → NULL
      (3L, "a", 5.0, 5.0, 5.0, 0.0)
    ).toDF("bucket", "event_type", "high", "low", "close", "qty")
    val out = Microstructure.cmf(bars, n = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(approx(out(0L).getDouble(2), 1.0))
    assert(approx(out(1L).getDouble(2), -0.2))
    assert(approx(out(2L).getDouble(2), -1.0))
    assert(out(3L).isNullAt(2))
  }

  test("cci: deviation over window MAD; flat window is NULL") {
    def bar(b: Long, tp: Double) = (b, "a", tp, tp, tp)
    val bars = Seq(bar(0, 10.0), bar(1, 14.0), bar(2, 14.0))
      .toDF("bucket", "event_type", "high", "low", "close")
    val out = Microstructure.cci(bars, n = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).isNullAt(5)) // single-bar window: MAD 0
    // window {10,14}: sma 12, MAD 2 → (14−12)/(0.015·2)
    assert(approx(out(1L).getDouble(3), 12.0))
    assert(approx(out(1L).getDouble(4), 2.0))
    assert(approx(out(1L).getDouble(5), 2.0 / 0.03))
    assert(out(2L).isNullAt(5)) // window {14,14}: MAD 0
  }

  test("dmi: gated moves, Wilder EWM smoothing, DX closed form") {
    // n=2 → alpha=1/2, adjust=true weights (1, 1/2, 1/4, ...).
    val bars = Seq(
      (0L, "a", 10.0, 8.0, 9.0),  // first bar: no moves, tr = h−l = 2
      (1L, "a", 12.0, 9.0, 11.0), // up 2 > dn −1 → pdm 2; tr = 3
      (2L, "a", 11.0, 7.0, 8.0)   // dn 2 > up −1 → mdm 2; tr = max(4,0,4) = 4
    ).toDF("bucket", "event_type", "high", "low", "close")
    val out = Microstructure.dmi(bars, n = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(approx(out(0L).getDouble(2), 0.0)) // di_plus
    assert(out(0L).isNullAt(4))               // dx 0/0 → NULL
    // t=1: sm_p = 2/1.5, sm_t = (3 + 0.5·2)/1.5 → di+ = 50, di− = 0, dx = 100
    assert(approx(out(1L).getDouble(2), 50.0))
    assert(approx(out(1L).getDouble(3), 0.0))
    assert(approx(out(1L).getDouble(4), 100.0))
    // t=2: sm_p = 1/1.75, sm_m = 2/1.75, sm_t = (4 + 1.5 + 0.5)/1.75
    // → di+ = 100/6, di− = 100/3, dx = 100·(100/6)/(50)
    assert(approx(out(2L).getDouble(2), 100.0 / 6.0))
    assert(approx(out(2L).getDouble(3), 100.0 / 3.0))
    assert(approx(out(2L).getDouble(4), 100.0 / 3.0))
  }

  test("tickRuleFlow: zero-change carry, pre-move ticks excluded, signed sums") {
    val df = Seq(
      tick(0, "a", 10.0, """{"k": 1}"""), // no dp → unclassified, excluded
      tick(1, "a", 11.0, """{"k": 2}"""), // up → buy 2
      tick(2, "a", 11.0, """{"k": 3}"""), // flat → carries + → buy 3
      tick(3, "a", 10.0, """{"k": 4}"""), // down → sell 4
      tick(4, "a", 10.0, """{"k": 5}""")  // flat → carries − → sell 5
    ).toDF("event_id", "ts", "event_type", "value", "props")
    val r = Microstructure.tickRuleFlow(df).collect().head
    assert(approx(r.getDouble(2), 5.0))  // buy = 2 + 3
    assert(approx(r.getDouble(3), 9.0))  // sell = 4 + 5
    assert(r.getLong(4) === 4L)
    assert(approx(r.getDouble(5), -4.0 / 14.0))
  }

  test("runLengths: flats excluded, planted run histogram") {
    // prices 1,2,3,2,1,2 → signs +,+,−,−,+ → runs +2, −2, +1
    val df = Seq(1.0, 2.0, 3.0, 2.0, 1.0, 2.0).zipWithIndex
      .map { case (v, i) => tick(i, "a", v) }
      .toDF("event_id", "ts", "event_type", "value", "props").drop("props")
    val out = Microstructure.runLengths(df).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(out === Map((1, 2L) -> 1L, (-1, 2L) -> 1L, (1, 1L) -> 1L))
  }

  test("kama: matches the sequential recursion; seed is the first close; er gearing") {
    // n=2, fast=2, slow=4: fastSc=2/3, slowSc=2/5.
    val closes = Seq(10.0, 12.0, 11.0, 11.0)
    val bars = closes.zipWithIndex.map { case (c, i) => (i.toLong, "a", c) }
      .toDF("bucket", "event_type", "close")
    val out = Microstructure.kama(bars, n = 2, fast = 2, slow = 4)
      .orderBy("bucket").collect()
    // independent sequential reimplementation (er exactly as specified)
    val dp = closes.zip(closes.head +: closes).map { case (c, p) => c - p }
    var expect = List.empty[Double]
    for (t <- closes.indices) {
      val er =
        if (t < 2) 0.0
        else {
          val path = math.abs(dp(t)) + math.abs(dp(t - 1))
          if (path == 0) 0.0 else math.abs(closes(t) - closes(t - 2)) / path
        }
      val sc = math.pow(er * (2.0 / 3.0 - 2.0 / 5.0) + 2.0 / 5.0, 2)
      expect = (if (t == 0) closes(0)
                else expect.head + sc * (closes(t) - expect.head)) :: expect
    }
    expect.reverse.zip(out.map(_.getDouble(5))).foreach { case (e, g) =>
      assert(approx(g, e), s"expected $e got $g")
    }
    assert(approx(out(0).getDouble(5), 10.0)) // seed
    assert(approx(out(3).getDouble(4), 4.0 / 9.0)) // er=1 → sc=(2/3)²
  }

  test("KamaAgg: merge composes partial segments exactly (any split point)") {
    val agg = new graft.agg.KamaAgg
    val rows = Seq((10.0, 0.3), (12.0, 0.5), (11.0, 0.2), (15.0, 0.44), (9.0, 0.1))
      .map { case (p, sc) =>
        (java.lang.Double.valueOf(p), java.lang.Double.valueOf(sc)) }
    val full = rows.foldLeft(agg.zero)(agg.reduce)
    for (cut <- 0 to rows.length) {
      val l = rows.take(cut).foldLeft(agg.zero)(agg.reduce)
      val r = rows.drop(cut).foldLeft(agg.zero)(agg.reduce)
      assert(approx(agg.finish(agg.merge(l, r)), agg.finish(full)), s"cut $cut")
    }
    // sequential ground truth: seed 10, then x += sc·(p − x)
    val seq = rows.drop(1).foldLeft(10.0) { case (x, (p, sc)) =>
      x + sc * (p - x) }
    assert(approx(agg.finish(full), seq))
  }

  test("ichimoku: causal spans — warm-up NULL, hand-computed midlines") {
    val bars = Seq(
      (0L, "a", 10.0, 8.0, 9.0), (1L, "a", 12.0, 9.0, 11.0),
      (2L, "a", 11.0, 7.0, 8.0), (3L, "a", 13.0, 10.0, 12.0),
      (4L, "a", 14.0, 11.0, 13.0), (5L, "a", 12.0, 9.0, 9.0)
    ).toDF("bucket", "event_type", "high", "low", "close")
    val out = Microstructure.ichimoku(bars, tenkan = 2, kijun = 3, senkou = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(approx(out(1L).getDouble(3), 10.0)) // tenkan = (12+8)/2
    assert(approx(out(4L).getDouble(4), 10.5)) // kijun = (14+7)/2
    assert(out(2L).isNullAt(5) && out(2L).isNullAt(6))
    assert(!out(2L).getBoolean(7)) // warm-up coalesces to false
    // spans at b3 = midlines of b0 (lag 3): both 9; close 12 above
    assert(approx(out(3L).getDouble(5), 9.0))
    assert(approx(out(3L).getDouble(6), 9.0))
    assert(out(3L).getBoolean(7))
    // b5: spans from b2 — (9.5+9.5)/2 and mid4 = 9.5; close 9 below
    assert(approx(out(5L).getDouble(5), 9.5))
    assert(approx(out(5L).getDouble(6), 9.5))
    assert(!out(5L).getBoolean(7))
  }

  test("fracDiff: binomial weights; d=1 recovers plain differencing; strict warm-up NULL") {
    val w = Microstructure.fracDiffWeights(0.5, 4)
    assert(w.toSeq == Seq(1.0, -0.5, -0.125, -0.0625))
    val bars = Seq((0L, "a", 5.0), (1L, "a", 8.0), (2L, "a", 6.0))
      .toDF("bucket", "event_type", "close")
    val out = Microstructure.fracDiff(bars, d = 1.0, window = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).isNullAt(3)) // lag missing → NULL (strict)
    assert(approx(out(1L).getDouble(3), 3.0))  // 8 − 5
    assert(approx(out(2L).getDouble(3), -2.0)) // 6 − 8
  }

  test("returnMoments: symmetric day has skew 0 / excess kurtosis −2; flat day NULL") {
    val bars = Seq(
      (0L, "a", 100.0), (3600L, "a", 110.0), (7200L, "a", 99.0),
      (0L, "f", 50.0), (3600L, "f", 50.0), (7200L, "f", 50.0)
    ).toDF("bucket", "event_type", "close")
    val out = Microstructure.returnMoments(bars).collect()
      .map(r => r.getString(1) -> r).toMap
    // returns +0.1 / −0.1: mu 0, m2 0.01, skew 0, kurt m4/m2² − 3 = −2
    assert(out("a").getLong(2) === 2L)
    assert(approx(out("a").getDouble(3), 0.0))
    assert(approx(out("a").getDouble(4), 0.01))
    assert(approx(out("a").getDouble(5), 0.0))
    assert(approx(out("a").getDouble(6), -2.0))
    assert(out("f").isNullAt(5) && out("f").isNullAt(6)) // zero variance
  }

  test("hurstRs: exact 0 for a deterministic ±1 sawtooth") {
    // dp alternates +1/-1: every block has mean 0, cumdev range 1 and
    // pop stddev 1 → R/S = 1 at every size → log2(rs) = 0 → slope 0.
    val saw = (0 until 600).map(i => tick(i, "s", (i % 2).toDouble))
    val out = Microstructure.hurstRs(
      saw.toDF("event_id", "ts", "event_type", "value", "props").drop("props"),
      sizes = Seq(16, 32, 64))
      .collect().head
    assert(approx(out.getDouble(1), 0.0, 1e-9))
    assert(out.getLong(2) === 3L)
  }

  test("hurstRs: seeded random walk lands near 0.5") {
    val rnd = new scala.util.Random(42)
    var p = 0.0
    val walk = (0 until 4000).map { i =>
      p += (if (rnd.nextBoolean()) 1.0 else -1.0)
      tick(i, "w", p)
    }
    val h = Microstructure.hurstRs(
      walk.toDF("event_id", "ts", "event_type", "value", "props").drop("props"))
      .collect().head.getDouble(1)
    assert(h > 0.3 && h < 0.75, s"hurst $h outside random-walk band")
  }

  test("minhashNearDupIncremental equals the full miner restricted to new-id pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0 until 40).map { i =>
      val words = base.split(" ")
      val txt =
        if (i % 7 == 3) base + s" mutated$i" // near-dup family
        else words.map(w => s"${w}_$i").mkString(" ") // unique docs
      (i.toLong, txt, "en", s"src${i % 3}", txt.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val split = 30L
    val dir = ScratchDirs.create("idx_test").toString
    Similarity.writeNearDupIndex(docs.filter(col("doc_id") < split), dir)
    val inc = Similarity.minhashNearDupIncremental(
      docs.filter(col("doc_id") >= split), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.minhashNearDup(Similarity.shingleHashes(docs).localCheckpoint())
      .filter(col("doc_b") >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full)
    assert(inc.nonEmpty) // the planted family crosses the split
    assert(inc.forall(_._2 >= split))
  }

  test("nearDupBySource: planted cross-source family lands in one unordered cell") {
    val tpl = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, tpl + " x", "en", "sA", 1L),
      (1L, tpl + " y", "en", "sB", 1L),
      (2L, "totally different words entirely unrelated content here now", "en", "sA", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Similarity.minhashNearDup(Similarity.shingleHashes(docs).localCheckpoint())
    val out = Similarity.nearDupBySource(docs, pairs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "sA" && r.getString(1) === "sB")
    assert(r.getLong(2) === 1L)
    assert(r.getDouble(3) > 0.3)
  }
}
