package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Joins, Resample, Rolling, Similarity, TextAnalysis}

/** ScalaCheck properties (SURVEY §5.2.3): resample invariants on generated
  * gapless series, scaler round-trip, shuffle-invariance. Generators are
  * driven directly with deterministic seeds (no scalatestplus bridge in
  * the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed0: Long): Seq[T] =
    (0 until n).flatMap(i => g(Gen.Parameters.default, Seed(seed0 + i)))

  private val seriesGen: Gen[List[Double]] = for {
    n <- Gen.choose(10, 400)
    start <- Gen.choose(100.0, 10000.0)
    steps <- Gen.listOfN(n, Gen.choose(-5.0, 5.0))
  } yield steps.scanLeft(start)(_ + _)

  private def toEvents(prices: List[Double]) =
    prices.zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 60000L), "p", v)
    }.toDF("event_id", "ts", "event_type", "value")

  test("resample invariants: trades conserved, high/low envelope, bucket count") {
    samples(seriesGen, 8, 100L).foreach { prices =>
      val hourly = Resample.ohlcHourly(toEvents(prices)).collect()
      assert(hourly.map(_.getAs[Long]("n_trades")).sum == prices.length)
      assert(hourly.map(_.getAs[Double]("high")).max == prices.max)
      assert(hourly.map(_.getAs[Double]("low")).min == prices.min)
      // 1-minute ticks: ceil(n/60) hourly buckets
      assert(hourly.length == (prices.length + 59) / 60)
      hourly.foreach { r =>
        assert(r.getAs[Double]("low") <= r.getAs[Double]("open"))
        assert(r.getAs[Double]("open") <= r.getAs[Double]("high"))
        assert(r.getAs[Double]("low") <= r.getAs[Double]("close"))
      }
    }
  }

  test("scaler round-trip: inverse(scale(x)) recovers x") {
    samples(seriesGen, 8, 200L).foreach { prices =>
      Rolling.minMaxRoundtrip(toEvents(prices)).collect().foreach { r =>
        assert(approx(r.getAs[Double]("unscaled"), r.getAs[Double]("value"), 1e-9))
      }
    }
  }

  // chunks of ~1 row, a few rows, one bar, and one chunk covering all
  private val chunkedGen = for {
    prices <- seriesGen
    chunkMinutes <- Gen.oneOf(1, 7, 60, 100000)
  } yield (prices, chunkMinutes)

  test("chunked cumprod: equals the unbounded window for generated series and chunk sizes") {
    // property: for ANY series and ANY chunk granularity (including
    // chunks of ~1 row and one-chunk-covers-all), the two-pass result
    // matches the single-window form to float re-association.
    samples(chunkedGen, 6, 400L).foreach { case (prices, chunkMinutes) =>
      val df = toEvents(prices).repartition(5)
      val w = Rolling.cumprodEquity(df).orderBy("event_id").collect()
      val c = Rolling.cumprodEquityChunked(df, chunkMinutes * 60000000L)
        .orderBy("event_id").collect()
      assert(w.length == c.length)
      w.zip(c).foreach { case (x, y) =>
        assert(x.getDouble(3) == y.getDouble(3),
          s"factor @ ${x.getLong(0)} (chunk=$chunkMinutes)")
        assert(approx(x.getDouble(4), y.getDouble(4), 1e-10),
          s"equity @ ${x.getLong(0)} (chunk=$chunkMinutes)")
      }
    }
  }

  // The exact twins: (name, plain form, chunked form at a chunk size in
  // µs, a key that orders the output totally).
  private val exactTwins: Seq[(String, DataFrame => DataFrame,
    (DataFrame, Long) => DataFrame, Seq[String])] = Seq(
    ("drawdownChunked", Rolling.drawdown, Rolling.drawdownChunked(_, _),
      Seq("event_id")),
    ("returnsLagChunked", Rolling.returnsLag, Rolling.returnsLagChunked(_, _),
      Seq("event_id")),
    ("fillForwardChunked", Rolling.fillForward, Rolling.fillForwardChunked(_, _),
      Seq("event_id")),
    ("volumeBarsChunked", Resample.volumeBars(_),
      Resample.volumeBarsChunked(_, 10000000L, _), Seq("event_type", "bar")),
    ("asofJoinChunked", Joins.asofJoin, Joins.asofJoinChunked(_, _),
      Seq("event_id")),
    ("asofJoinForwardChunked", Joins.asofJoinForward,
      Joins.asofJoinForwardChunked(_, _), Seq("event_id")))

  exactTwins.foreach { case (name, plain, chunked, key) =>
    test(s"chunked $name: equals its plain form exactly for generated series and chunk sizes") {
      samples(chunkedGen, 6, 700L).foreach { case (prices, chunkMinutes) =>
        val df = toEvents(prices).repartition(5)
        val p = plain(df).orderBy(key.map(col): _*).collect()
        val c = chunked(df, chunkMinutes * 60000000L)
          .orderBy(key.map(col): _*).collect()
        assert(p.length == c.length, s"(chunk=$chunkMinutes)")
        p.zip(c).foreach { case (x, y) =>
          assert(x == y, s"$x vs $y (chunk=$chunkMinutes)")
        }
      }
    }
  }

  test("exactPercentilesScale: equals the built-in percentile() on generated data") {
    samples(seriesGen, 6, 500L).foreach { prices =>
      val df = toEvents(prices)
      val got = graft.ops.Stats.exactPercentilesScale(df, "value",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99)).collect().head
      val exp = df.select(
        percentile(col("value"), lit(0.25)).as("p25"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.99)).as("p99")).collect().head
      assert(got.getAs[Long]("n") == prices.length.toLong)
      for (c <- Seq("p25", "p50", "p99"))
        assert(approx(got.getAs[Double](c), exp.getAs[Double](c), 1e-9), c)
    }
  }

  test("shuffle invariance: OHLC identical under any input order") {
    samples(seriesGen.flatMap(p => Gen.choose(0L, Long.MaxValue).map((p, _))),
      5, 300L).foreach { case (prices, seed) =>
      val base = toEvents(prices)
      val shuffled = new scala.util.Random(seed).shuffle(
        prices.zipWithIndex.map { case (v, i) =>
          (i.toLong, new Timestamp(1704067200000L + i * 60000L), "p", v)
        }).toDF("event_id", "ts", "event_type", "value").repartition(3)
      val a = Resample.ohlcHourly(base).orderBy("bucket").collect()
      val b = Resample.ohlcHourly(shuffled).orderBy("bucket").collect()
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        // open/high/low/close/n_trades are bit-exact under any input
        // order (min_by/max_by/min/max/count); volume is a float SUM,
        // whose accumulation order is partition-dependent — identical
        // only to ~1 ULP, like any distributed float sum.
        for (c <- Seq("bucket", "open", "high", "low", "close", "n_trades"))
          assert(x.getAs[Any](c) == y.getAs[Any](c), c)
        assert(approx(x.getAs[Double]("volume"), y.getAs[Double]("volume"), 1e-12))
      }
    }
  }

  test("Misra-Gries: bounds hold on arbitrary streams, capacities, and split points") {
    // arbitrary stream over a skewed alphabet, arbitrary m, arbitrary
    // 3-way split folded separately and merged in both associations —
    // the three MG guarantees must hold for every generated case
    val streamGen: Gen[(List[String], Int, Int, Int)] = for {
      n <- Gen.choose(50, 2000)
      vocab <- Gen.choose(5, 300)
      // zipf-ish skew: item index drawn as min of two uniforms
      items <- Gen.listOfN(n, for {
        a <- Gen.choose(0, vocab - 1); b <- Gen.choose(0, vocab - 1)
      } yield s"w${math.min(a, b)}")
      m <- Gen.choose(2, 64)
      cut1 <- Gen.choose(0, n)
      cut2 <- Gen.choose(0, n)
    } yield (items, m, math.min(cut1, cut2), math.max(cut1, cut2))

    samples(streamGen, 40, 400L).foreach { case (items, m, c1, c2) =>
      val agg = new graft.agg.MisraGriesAgg(m)
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = items.size.toLong / (m + 1)
      val (p1, rest) = items.splitAt(c1)
      val (p2, p3) = rest.splitAt(c2 - c1)
      val bufs = Seq(p1, p2, p3).map(_.foldLeft(agg.zero)(agg.reduce))
      for (summary <- Seq(
        items.foldLeft(agg.zero)(agg.reduce),            // sequential
        agg.merge(agg.merge(bufs(0), bufs(1)), bufs(2)), // left-assoc
        agg.merge(bufs(0), agg.merge(bufs(1), bufs(2))))) { // right-assoc
        assert(summary.size <= m)
        summary.foreach { case (k, est) =>
          assert(est >= 1L && est <= exact(k), s"m=$m $k est=$est")
          assert(exact(k) - est <= bound, s"m=$m $k undercount over bound")
        }
        exact.foreach { case (k, c) =>
          if (c > bound) assert(summary.contains(k), s"m=$m $k lost (freq $c > $bound)")
        }
      }
    }
  }

  // ---- round-10 text/sketch operators on generated corpora ----

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.choose(4, 10)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(3, 25)
      toks <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff"))
    } yield toks.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("substringDedup equals a sequential reference on generated corpora") {
    val k = 3
    samples(corpusGen, 6, 300L).foreach { docs =>
      val df = docs.toDF("doc_id", "text")
      val out = TextAnalysis.substringDedup(df, TextAnalysis.dupStarts(df, k), k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))))
        .toMap
      // sequential reference: same tokenization, distinct-per-doc window
      // texts, cross-doc duplication, lag-gap interval union
      val toks = docs.map { case (id, t) => id -> t.toLowerCase.split(" ").toSeq }
      val wins = toks.collect { case (id, w) if w.length >= k =>
        id -> w.sliding(k).map(_.mkString(" ")).toVector }
      val dupTexts = wins.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      wins.foreach { case (id, ws) =>
        val starts = ws.zipWithIndex.collect { case (w, i) if dupTexts(w) => i + 1 }
        val covered = starts.foldLeft((0, Option.empty[Int])) {
          case ((acc, prev), st) =>
            val add = prev match { case Some(pv) if st - pv < k => st - pv; case _ => k }
            (acc + add, Some(st))
        }._1
        val n = toks.toMap.apply(id).length
        assert(out(id) == ((n, ws.length, starts.length, covered)), s"doc=$id")
      }
      assert(out.keySet == wins.map(_._1).toSet)
    }
  }

  test("containmentPairs: a doc embedded verbatim in another always scores exactly 1.0") {
    val gen = for {
      a <- Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff"))
      p <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf("xx", "yy", "zz")))
      sfx <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf("xx", "yy", "zz")))
    } yield (a.mkString(" "), (p ++ a ++ sfx).mkString(" "))
    samples(gen, 8, 400L).foreach { case (aTxt, bTxt) =>
      val docs = Seq((0L, aTxt), (1L, bTxt)).toDF("doc_id", "text")
      val rows = Similarity.containmentPairs(docs, 10L, 0.9).collect()
      assert(rows.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L &&
        r.getDouble(4) == 1.0), s"a=[$aTxt] b=[$bTxt] rows=${rows.toSeq}")
    }
  }

  test("cmsProfile: one-sided guarantee on generated corpora and probes") {
    samples(corpusGen, 6, 500L).foreach { docs =>
      val probe = Seq("aa", "cc", "ff", "absent")
      val out = TextAnalysis.cmsProfile(docs.toDF("doc_id", "text"), probe, 3, 8)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val exact = docs.flatMap(_._2.split(" ")).groupBy(identity)
        .map { case (t, v) => t -> v.size.toLong }
      probe.foreach { t =>
        val (ex, est, over) = out(t)
        assert(ex == exact.getOrElse(t, 0L))
        assert(est >= ex)          // collisions only ever ADD
        assert(over == est - ex)
      }
      assert(out("absent")._1 == 0L)
    }
  }
}
