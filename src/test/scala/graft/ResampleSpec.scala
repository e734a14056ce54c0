package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.Resample

/** FIXTURES §A2: 2-bucket OHLC fixture + the determinism test the
  * reference's `first`/`last` could not pass (SURVEY §4.3.2).
  */
class ResampleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // 8 rows, two hours, one event_type: hand-computable OHLC.
  private val rows = Seq(
    (1L, ts("2024-01-01 10:00:01"), "btc", 100.0),
    (2L, ts("2024-01-01 10:10:00"), "btc", 105.0),
    (3L, ts("2024-01-01 10:20:00"), "btc", 95.0),
    (4L, ts("2024-01-01 10:59:59"), "btc", 102.0),
    (5L, ts("2024-01-01 11:00:00"), "btc", 103.0),
    (6L, ts("2024-01-01 11:30:00"), "btc", 110.0),
    (7L, ts("2024-01-01 11:45:00"), "btc", 90.0),
    (8L, ts("2024-01-01 11:59:58"), "btc", 99.0))

  private def df = rows.toDF("event_id", "ts", "event_type", "value")

  test("ohlcHourly: hand-computed 2-bucket fixture") {
    val out = Resample.ohlcHourly(df).orderBy("bucket")
      .select("open", "high", "low", "close", "volume", "n_trades")
      .collect()
    assert(out.length == 2)
    val h1 = out(0)
    assert(h1.getDouble(0) == 100.0 && h1.getDouble(1) == 105.0 &&
      h1.getDouble(2) == 95.0 && h1.getDouble(3) == 102.0 &&
      h1.getLong(5) == 4L)
    val h2 = out(1)
    assert(h2.getDouble(0) == 103.0 && h2.getDouble(1) == 110.0 &&
      h2.getDouble(2) == 90.0 && h2.getDouble(3) == 99.0 &&
      approx(h2.getDouble(4), 103.0 + 110.0 + 90.0 + 99.0))
  }

  test("ohlcHourly: shuffled input yields identical result (min_by/max_by determinism)") {
    val shuffled = new scala.util.Random(7).shuffle(rows)
      .toDF("event_id", "ts", "event_type", "value")
      .repartition(4) // force rows through different partitions
    val a = Resample.ohlcHourly(df).orderBy("bucket").collect()
    val b = Resample.ohlcHourly(shuffled).orderBy("bucket").collect()
    assert(a.sameElements(b))
  }

  test("ohlcHourly over a literal event_type keys its hash aggregate on bucket alone; stream keys keep it") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
    import org.apache.spark.sql.types.LongType
    // the kline chain's shape: files carry no symbol, it is attached as a
    // literal (Binance klines, `lit("BTCUSDT-1s")`)
    val dir = graft.io.ScratchDirs.create("resample_lit").toString
    val rnd = new scala.util.Random(11)
    (0 until 20000).map { i =>
      (new Timestamp(1704067200000L + i * 1000L), 100.0 + rnd.nextGaussian())
    }.toDF("ts", "value").repartition(3).write.parquet(s"$dir/ticks")
    val ticks = spark.read.parquet(s"$dir/ticks")
    val literal = Resample.ohlcHourly(ticks.withColumn("event_type", lit("BTCUSDT-1s")))
    val keys = literal.queryExecution.sparkPlan.collect {
      case a: HashAggregateExec => a.groupingExpressions.map(_.dataType)
    }
    assert(keys.nonEmpty && keys.forall(_ == Seq(LongType)),
      s"$keys\n${literal.queryExecution.sparkPlan}")
    // the same bars as with event_type read as a column
    ticks.withColumn("event_type", lit("BTCUSDT-1s")).write.parquet(s"$dir/typed")
    val column = Resample.ohlcHourly(spark.read.parquet(s"$dir/typed"))
    assert(column.queryExecution.sparkPlan.collect {
      case a: HashAggregateExec => a.groupingExpressions.size
    }.forall(_ == 2))
    val a = literal.orderBy("bucket").collect()
    val b = column.orderBy("bucket").collect()
    assert(a.length == 6 && a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0) && x.getString(1) == y.getString(1) &&
        (2 to 5).forall(i => x.getDouble(i) == y.getDouble(i)) &&
        x.getLong(7) == y.getLong(7), s"$x vs $y")
      assert(approx(x.getDouble(6), y.getDouble(6)), s"$x vs $y")
    }

    // streaming plans are left alone: a state store keeps a literal key,
    // and the streaming twin keys on (window, event_type)
    def stateKeys(stream: org.apache.spark.sql.DataFrame, name: String): Seq[Seq[String]] = {
      val q = stream.writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
          .collect { case s: StateStoreSaveExec => s.keyExpressions.map(_.name) }
      } finally q.stop()
    }
    val literalStream = spark.readStream.schema(ticks.schema).parquet(s"$dir/ticks")
      .withColumn("event_type", lit("BTCUSDT-1s"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
    assert(stateKeys(literalStream, "resample_lit_stream") == Seq(Seq("window", "event_type")))
    val twin = graft.stream.StreamingResample.hourlyOhlc(spark, s"$dir/typed",
      spark.read.parquet(s"$dir/typed").schema)
    assert(stateKeys(twin, "resample_lit_twin") == Seq(Seq("window", "event_type")))
    // FoldablePropagation does not reach a streaming aggregate's keys
    // today (above); the rule itself returns any streaming plan as it is
    val keyed = spark.readStream.schema(ticks.schema).parquet(s"$dir/ticks")
      .groupBy(window(col("ts"), "1 hour"), lit("BTCUSDT-1s").as("event_type")).count()
      .queryExecution.analyzed
    assert(GraftSession.LiteralGroupKeys(keyed) eq keyed)
  }

  test("ohlcRowBucket: reference row-position semantics, trackEach=4") {
    val out = Resample.ohlcRowBucket(df, 4).orderBy("group_id").collect()
    assert(out.length == 2)
    // bucket 0 = rows 1-4 (time order), bucket 1 = rows 5-8
    assert(out(0).getDouble(1) == 100.0 && out(0).getDouble(4) == 102.0)
    assert(out(1).getDouble(1) == 103.0 && out(1).getDouble(4) == 99.0)
  }

  test("ohlcRowBucketScale equals the global-window form") {
    val rnd = new scala.util.Random(9)
    val big = (0 until 3000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "x",
        100.0 + rnd.nextGaussian())
    }.toDF("event_id", "ts", "event_type", "value").repartition(4)
    val a = Resample.ohlcRowBucket(big, 700).orderBy("group_id").collect()
    val b = Resample.ohlcRowBucketScale(big, 700).orderBy("group_id").collect()
    assert(a.length == b.length && a.length == 5)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("property: per-bucket high is max of members, trades conserved") {
    val rnd = new scala.util.Random(42)
    val walk = Iterator.iterate(1000.0)(v => v + rnd.nextGaussian()).take(5000).toSeq
    val series = walk.zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "x", v)
    }
    val events = series.toDF("event_id", "ts", "event_type", "value")
    val hourly = Resample.ohlcHourly(events)
    assert(hourly.agg(sum("n_trades")).as[Long].head() == 5000L)
    assert(hourly.count() == math.ceil(5000.0 / 3600.0).toLong)
    val maxHigh = hourly.agg(max("high")).as[Double].head()
    assert(maxHigh == walk.max)
  }

  test("ohlcRollup: minute-to-hour lattice equals the direct hourly aggregate") {
    val many = (0 until 5000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 7000L), // 7 s ticks
        Seq("btc", "eth")(i % 2), 100.0 + (i * 37 % 29) - 14.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val direct = Resample.ohlcHourly(many).orderBy("event_type", "bucket").collect()
    val rolled = Resample.ohlcRollup(many).orderBy("event_type", "bucket").collect()
    assert(direct.length == rolled.length && direct.length > 10)
    direct.zip(rolled).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getString(1) == b.getString(1))
      // open/high/low/close/n_trades exact; volume to float re-association
      assert(a.getDouble(2) == b.getDouble(2) && a.getDouble(3) == b.getDouble(3) &&
        a.getDouble(4) == b.getDouble(4) && a.getDouble(5) == b.getDouble(5) &&
        a.getLong(7) == b.getLong(7), s"${a.getLong(0)}: $a vs $b")
      assert(approx(a.getDouble(6), b.getDouble(6)))
    }
  }

  test("volumeBars: exact integer bar edges; chunked twin bit-identical") {
    // units = round(v·1000); barUnits 10000 → bars split on the exact
    // cumulative-prefix edge: prefixes 0,4000,6000 | 12000,15000
    val e = Seq(4.0, 2.0, 6.0, 3.0, 5.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), "btc", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Resample.volumeBars(e, barUnits = 10000L).orderBy("bar")
      .select("bar", "open", "high", "low", "close", "volume", "n_trades")
      .collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 0L && out(0).getDouble(1) == 4.0 &&
      out(0).getDouble(2) == 6.0 && out(0).getDouble(3) == 2.0 &&
      out(0).getDouble(4) == 6.0 && out(0).getDouble(5) == 12.0 &&
      out(0).getLong(6) == 3L)
    assert(out(1).getLong(0) == 1L && out(1).getDouble(1) == 3.0 &&
      out(1).getDouble(4) == 5.0 && out(1).getLong(6) == 2L)

    val many = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 10000L),
        Seq("btc", "eth")(i % 2), 100.0 + (i * 37 % 29) - 14.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val w = Resample.volumeBars(many, 500000L)
      .orderBy("event_type", "bar").collect()
    val c = Resample.volumeBarsChunked(many, 500000L, 60L * 1000000L)
      .orderBy("event_type", "bar").collect()
    assert(w.length == c.length && w.length > 20, s"${w.length} bars")
    w.zip(c).foreach { case (a, b) => assert(a == b) } // BIT-identical
  }

  test("twapHourly: prices weighted by hold time to the next tick") {
    // one hour from epoch 1704067200: tick at +0s (10.0) holds 600 s,
    // tick at +600s (20.0) holds to the bar edge (3000 s)
    val e = Seq(
      (0L, new Timestamp(1704067200000L), "btc", 10.0),
      (1L, new Timestamp(1704067200000L + 600000L), "btc", 20.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val out = Resample.twapHourly(e).select("bucket", "twap", "n_trades").collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1704067200L)
    assert(approx(out(0).getDouble(1), (10.0 * 600 + 20.0 * 3000) / 3600))
    assert(out(0).getLong(2) == 2L)
  }

  test("twapAnchored: running day-anchored ratio; a new day resets the anchor") {
    val d0 = 1704067200000L // 2024-01-01 00:00:00 UTC
    val e = Seq(
      (0L, new Timestamp(d0), "btc", 10.0),
      (1L, new Timestamp(d0 + 600000L), "btc", 20.0),   // +600 s
      (2L, new Timestamp(d0 + 86400000L), "btc", 99.0)  // next day
    ).toDF("event_id", "ts", "event_type", "value")
    val out = Resample.twapAnchored(e).orderBy("event_id")
      .select("anchored_twap").as[Double].collect()
    assert(approx(out(0), 10.0)) // single-tick prefix: its own price
    // tick 2 holds to the DAY edge (86400−600 s); anchored ratio:
    assert(approx(out(1), (10.0 * 600 + 20.0 * 85800) / 86400))
    assert(approx(out(2), 99.0)) // new day, fresh anchor
  }

  test("twapHourly: cross-hour clamp and burst robustness") {
    val h0 = 1704067200000L
    // tick at +0 (10.0) holds to the burst at +3590s; ten 1000.0 burst
    // ticks a second apart carry 1 s each; the NEXT tick is in hour 2,
    // so the last burst tick clamps at the bar edge, never crosses
    val ticks = Seq((0L, 0L, 10.0)) ++
      (1 to 10).map(k => (k.toLong, 3589000L + k * 1000L, 1000.0)) ++
      Seq((11L, 3600000L, 99.0))
    val e = ticks.map { case (id, off, v) =>
      (id, new Timestamp(h0 + off), "btc", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = Resample.twapHourly(e).orderBy("bucket").collect()
    assert(out.length == 2)
    // burst-robust: 10 ticks at 1000.0 move TWAP to only ~12.75 (the
    // plain mean of the same bar is ~910)
    assert(approx(out(0).getAs[Double]("twap"), (10.0 * 3590 + 1000.0 * 10) / 3600))
    // a bar's last tick with no successor holds to its own bar edge
    assert(approx(out(1).getAs[Double]("twap"), 99.0))
  }
}
