package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.io.ScratchDirs
import graft.ops.Resample
import graft.stream.{StreamingResample, StreamingSink}

/** Streaming parity (SURVEY §5.2.5): the Structured Streaming resample
  * replayed from a file source must equal the batch result on the same
  * input.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly OHLC equals batch ohlcHourly on replay") {
    val rnd = new scala.util.Random(3)
    val events = (0 until 3000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 7000L),
        if (i % 2 == 0) "btc" else "eth", 100.0 + rnd.nextGaussian())
    }.toDF("event_id", "ts", "event_type", "value")

    val dir = ScratchDirs.create("stream").toString
    events.write.mode("overwrite").parquet(s"$dir/in")

    val streamDf = StreamingResample.hourlyOhlc(
      spark, s"$dir/in", events.schema)
    val q = streamDf.writeStream
      .format("memory")
      .queryName("stream_ohlc")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_ohlc")
      .orderBy("bucket", "event_type").collect()
    val batch = Resample.ohlcHourly(events)
      .orderBy("bucket", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("checkpointed file sink: stop/restart resumes exactly-once across the boundary") {
    // Two runs of the SAME query over one checkpoint: run 1 sees hours
    // 0–4.5, run 2 sees the rest plus a far-future sentinel that pushes
    // the watermark past every real window. The [4,5) window receives
    // rows from BOTH runs, so correct output requires the restart to
    // recover run 1's aggregation state; equality with the batch result
    // (no missing and no duplicated windows) is the exactly-once proof.
    val rnd = new scala.util.Random(29)
    val all = (0 until 3600).map { i => // 10 s cadence, 10 hours, 2 symbols
      (i.toLong, new Timestamp(1704067200000L + i * 10000L),
        if (i % 2 == 0) "btc" else "eth", 100.0 + rnd.nextGaussian())
    }
    val (phase1, phase2) = all.splitAt(1620) // boundary mid-hour at 4.5 h
    val sentinel = Seq((99999L,
      new Timestamp(1704067200000L + 50L * 3600000L), "btc", 1.0))
    val dir = ScratchDirs.create("ckpt").toString

    def runOnce(): Unit = {
      val q = StreamingResample.hourlyOhlc(spark, s"$dir/in",
          phase1.toDF("event_id", "ts", "event_type", "value").schema)
        .writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append") // file sink: only watermark-finalized windows
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }

    phase1.toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/in")
    runOnce() // run 1: emits only windows already below the watermark
    (phase2 ++ sentinel).toDF("event_id", "ts", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    runOnce() // run 2: same checkpoint — resumes, finalizes the rest

    val sink = spark.read.parquet(s"$dir/out")
      .filter(col("bucket") < 1704067200L + 40L * 3600L) // drop sentinel window if present
      .orderBy("bucket", "event_type").collect()
    val batch = Resample.ohlcHourly(
        all.toDF("event_id", "ts", "event_type", "value"))
      .orderBy("bucket", "event_type").collect()
    assert(sink.length == batch.length && sink.length == 20)
    sink.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("bucket") == b.getAs[Long]("bucket"))
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Double]("open") == b.getAs[Double]("open"))
      assert(s.getAs[Double]("high") == b.getAs[Double]("high"))
      assert(s.getAs[Double]("low") == b.getAs[Double]("low"))
      assert(s.getAs[Double]("close") == b.getAs[Double]("close"))
      assert(approx(s.getAs[Double]("volume"), b.getAs[Double]("volume")))
      assert(s.getAs[Long]("n_trades") == b.getAs[Long]("n_trades"))
    }
  }

  test("warehouse sink: replay never double-counts, late month merges, latest write wins") {
    // The reference's terminal warehouse step is CREATE-OR-REPLACE
    // (duckdb_api.py:44-47) while its parquet zone is blind append
    // (process_data.py:125 — a re-run lands rows twice). The streaming
    // sink must carry the REPLACE semantics: a replayed micro-batch (or a
    // full from-scratch replay) converges to the same table.
    val t0 = 1704067200000L // 2024-01-01
    val feb = t0 + 31L * 24 * 3600000L
    def mkDf(rows: Seq[(Long, Long, String, Double)]) =
      rows.map { case (id, ms, sym, v) => (id, new Timestamp(ms), sym, v) }
        .toDF("event_id", "ts", "event_type", "value")
    val phase1 = (0 until 1000).map { i =>
      (i.toLong, t0 + i * 60000L, if (i % 2 == 0) "btc" else "eth", 100.0 + i)
    } ++ Seq((5000L, feb, "btc", 7.0)) // one early February straggler
    val dir = ScratchDirs.create("whsink").toString
    val schema = mkDf(phase1).schema
    mkDf(phase1).write.mode("append").parquet(s"$dir/in")

    def run(): Unit = {
      val q = StreamingSink.warehouseSink(
        spark.readStream.schema(schema).parquet(s"$dir/in"),
        "event_id", "ts", s"$dir/wh", s"$dir/ckpt")
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    def table() = spark.read.parquet(s"$dir/wh")

    run()
    assert(table().count() == 1001)
    assert(table().select("month").distinct().as[String].collect().sorted
      .toSeq == Seq("2024-01", "2024-02"))
    val sum1 = table().agg(sum("value")).as[Double].head()

    // FULL replay: wipe the checkpoint so the source re-delivers every
    // file from scratch — with an append sink this doubles the table;
    // the upsert converges to the identical state.
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
    rmrf(java.nio.file.Paths.get(s"$dir/ckpt"))
    run()
    assert(table().count() == 1001, "replayed stream must not double-count")
    assert(table().agg(sum("value")).as[Double].head() == sum1)

    // Late batch: a correction for an EXISTING key (event 5 re-arrives
    // with a new value) plus genuinely new February rows. The January
    // partition merges (old rows survive, key 5 replaced), February
    // extends.
    val phase2 = Seq((5L, t0 + 5 * 60000L, "btc", 999.0)) ++
      (0 until 100).map { i =>
        (6000L + i, feb + i * 60000L, "eth", 200.0 + i)
      }
    mkDf(phase2).write.mode("append").parquet(s"$dir/in")
    run() // same checkpoint: only the new file is processed
    assert(table().count() == 1101)
    assert(table().filter($"event_id" === 5L).select("value")
      .as[Double].head() == 999.0, "latest write must win")
    // batch parity: the table equals the batch-computed latest-wins union
    val expected = mkDf(phase1.filter(_._1 != 5L) ++ phase2)
    val got = table().drop("month")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // warehouse_roundtrip's summary shape over the sink table matches the
    // same summary over the batch union (the oracle-shape parity)
    val whSummary = table().groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .orderBy("event_type").collect()
    val batchSummary = expected.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .orderBy("event_type").collect()
    whSummary.zip(batchSummary).foreach { case (a, b) => assert(a == b) }

    // the batch API is idempotent on its own: merging the same batch
    // twice changes nothing
    StreamingSink.upsertByMonth(mkDf(phase2), "event_id", "ts", s"$dir/wh")
    assert(table().count() == 1101)
  }

  test("warehouse publish: crash between retire and publish loses nothing; next merge restores and converges") {
    // upsertByMonth is write-audit-publish: stage → audit → per-month
    // rename. This pins the crash contract by reconstructing the exact
    // on-disk states a kill can leave and running the next merge over
    // them: (A) a month stranded in its retired copy with garbage in
    // staging — restored, garbage swept; (B) a stale retired dir whose
    // publish completed — swept; unaffected months' files never touched.
    val t0 = 1704067200000L // 2024-01-01
    val feb = t0 + 31L * 24 * 3600000L
    def mkDf(rows: Seq[(Long, Long, String, Double)]) =
      rows.map { case (id, ms, sym, v) => (id, new Timestamp(ms), sym, v) }
        .toDF("event_id", "ts", "event_type", "value")
    val jan = (0 until 200).map(i => (i.toLong, t0 + i * 60000L, "btc", 1.0 + i))
    val febRows = (0 until 50).map(i => (1000L + i, feb + i * 60000L, "eth", 2.0 + i))
    val dir = ScratchDirs.create("wap").toString
    val wh = s"$dir/wh"
    StreamingSink.upsertByMonth(mkDf(jan ++ febRows), "event_id", "ts", wh)
    assert(spark.read.parquet(wh).count() == 250)

    def fileState(sub: String): Seq[(String, Long)] = {
      val d = new java.io.File(s"$wh/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).sorted.toSeq
    }
    val febFiles = fileState("month=2024-02")

    // --- crash state A: January retired, staging holds a partial write ---
    assert(new java.io.File(s"$wh/month=2024-01").renameTo(
      new java.io.File(s"$wh/_graft_retired_deadbeef_month_2024-01")))
    mkDf(jan.take(3)) // garbage partial stage from the "crashed" publish
      .withColumn("month", date_format($"ts", "yyyy-MM"))
      .write.partitionBy("month")
      .parquet(s"$wh/_graft_staging_deadbeef")
    // mid-crash reads stay sane: hidden dirs invisible, February intact
    assert(spark.read.parquet(wh).select("month").distinct()
      .as[String].collect().toSeq == Seq("2024-02"))

    // next merge (a January correction): the stranded month is restored
    // BEFORE survivors are read, so nothing is lost
    StreamingSink.upsertByMonth(
      mkDf(Seq((5L, t0 + 5 * 60000L, "btc", 999.0))), "event_id", "ts", wh)
    val table = spark.read.parquet(wh)
    assert(table.count() == 250, "restored month must keep every row")
    assert(table.filter($"event_id" === 5L).select("value").as[Double].head() == 999.0)
    assert(table.filter($"event_id" === 6L).select("value").as[Double].head() == 7.0,
      "non-batch January rows must survive the crash+merge")
    val hidden = new java.io.File(wh).listFiles()
      .map(_.getName).filter(n => n.startsWith("_graft_"))
    assert(hidden.isEmpty, s"orphans not swept: ${hidden.mkString(",")}")
    assert(fileState("month=2024-02") == febFiles,
      "a January merge must not rewrite February's files")

    // --- live abort at the worst instant: not a reconstructed state but
    // a REAL merge killed by fault injection between retire and publish —
    // the live dir is gone, the staged one not yet renamed ---
    try {
      StreamingSink.publishFault = Some(m =>
        if (m == "2024-01") throw new RuntimeException("injected crash"))
      intercept[RuntimeException] {
        StreamingSink.upsertByMonth(
          mkDf(Seq((9999L, t0 + 9 * 60000L, "btc", 111.0))), "event_id", "ts", wh)
      }
    } finally StreamingSink.publishFault = None
    // mid-crash: January is stranded in its retired copy, invisible live
    assert(spark.read.parquet(wh).select("month").distinct()
      .as[String].collect().toSeq == Seq("2024-02"))
    // recovery restores it; NOTHING was lost and the aborted batch's row
    // never half-landed (the staged copy was swept, not published)
    StreamingSink.recover(spark, wh)
    val recovered = spark.read.parquet(wh)
    assert(recovered.count() == 250)
    assert(recovered.filter($"event_id" === 9999L).isEmpty,
      "aborted merge must not leak its batch")
    assert(recovered.filter($"event_id" === 5L).select("value")
      .as[Double].head() == 999.0, "prior committed state must survive")
    // replaying the same batch now lands it exactly once
    StreamingSink.upsertByMonth(
      mkDf(Seq((9999L, t0 + 9 * 60000L, "btc", 111.0))), "event_id", "ts", wh)
    assert(spark.read.parquet(wh).count() == 251)
    assert(spark.read.parquet(wh).filter($"event_id" === 9999L)
      .select("value").as[Double].head() == 111.0)

    // --- crash state B: stale retired copy, but its publish completed ---
    mkDf(febRows.take(2))
      .withColumn("month", lit("2024-02"))
      .write.parquet(s"$wh/_graft_retired_cafe_month_2024-02")
    StreamingSink.upsertByMonth(
      mkDf(Seq((7L, t0 + 7 * 60000L, "btc", 777.0))), "event_id", "ts", wh)
    assert(spark.read.parquet(wh).filter($"month" === "2024-02").count() == 50,
      "completed-publish retired copy must be swept, not restored")
    assert(new java.io.File(wh).listFiles().forall(f =>
      !f.getName.startsWith("_graft_")))
  }

  test("aggregated OHLC warehouse sink: update-mode bars converge to batch under late data and replay") {
    // The reference's terminal table IS the hourly aggregate
    // (duckdb_api.py:44-47 CREATE-OR-REPLACEs aggregated_financial_data).
    // Update-mode emission + (bucket, event_type)-keyed upsert: an hour
    // still open when a batch ends is WRITTEN EARLY and then REPLACED
    // when later data extends it — the warehouse always holds the latest
    // version of every bar, and a from-scratch replay converges.
    val rnd = new scala.util.Random(43)
    val all = (0 until 3000).map { i => // 10 s cadence, ~4.2 h, 2 symbols
      (i.toLong, new Timestamp(1704067200000L + i * 10000L),
        if (i % 2 == 0) "btc" else "eth", 100.0 + rnd.nextGaussian())
    }
    val (phase1, phase2) = all.splitAt(1000) // boundary mid-hour (~2.8 h in)
    val dir = ScratchDirs.create("aggsink").toString
    val schema = phase1.toDF("event_id", "ts", "event_type", "value").schema

    def run(): Unit = {
      val q = graft.stream.StreamingSink.ohlcWarehouseSink(
        StreamingResample.hourlyOhlc(spark, s"$dir/in", schema),
        s"$dir/wh", s"$dir/ckpt")
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    def table() = spark.read.parquet(s"$dir/wh")

    phase1.toDF("event_id", "ts", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    run()
    // every hour seen so far is present ALREADY — including the still-open
    // one (6 hours * 2 symbols; hour 2 is open at row 1000)
    assert(table().count() == 6)
    val openBarV1 = table().filter($"bucket" === 1704074400L && $"event_type" === "btc")
      .select("n_trades").as[Long].head()

    phase2.toDF("event_id", "ts", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    run() // same checkpoint: the open hour extends, new hours append
    val cmp = (s: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) => {
      assert(s.getAs[Long]("bucket") == b.getAs[Long]("bucket"))
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Double]("open") == b.getAs[Double]("open"))
      assert(s.getAs[Double]("high") == b.getAs[Double]("high"))
      assert(s.getAs[Double]("low") == b.getAs[Double]("low"))
      assert(s.getAs[Double]("close") == b.getAs[Double]("close"))
      assert(approx(s.getAs[Double]("volume"), b.getAs[Double]("volume")))
      assert(s.getAs[Long]("n_trades") == b.getAs[Long]("n_trades"))
    }
    val batch = Resample.ohlcHourly(all.toDF("event_id", "ts", "event_type", "value"))
      .orderBy("bucket", "event_type").collect()
    val got = table().orderBy("bucket", "event_type").collect()
    assert(got.length == batch.length && got.length == 18) // 9 hours x 2 symbols
    got.zip(batch).foreach { case (s, b) => cmp(s, b) }
    // the once-open bar was genuinely REPLACED, not duplicated
    val openBarV2 = table().filter($"bucket" === 1704074400L && $"event_type" === "btc")
      .select("n_trades").as[Long].collect()
    assert(openBarV2.length == 1 && openBarV2.head > openBarV1)

    // from-scratch replay over the SAME warehouse: delete only the
    // checkpoint; every bar re-emits and replaces itself — still batch
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
    rmrf(java.nio.file.Paths.get(s"$dir/ckpt"))
    run()
    val replayed = table().orderBy("bucket", "event_type").collect()
    assert(replayed.length == 18)
    replayed.zip(batch).foreach { case (s, b) => cmp(s, b) }
  }

  test("ProcessingTime soak: paced live drops with a late revision converge to the batch oracle") {
    // Every other streaming spec drains with AvailableNow. This runs the
    // resample→warehouse chain CONTINUOUSLY on a ProcessingTime trigger
    // while files land mid-flight — ≥4 micro-batches, one carrying a
    // late-data revision inside the 2 h watermark — and asserts the
    // warehouse converges to the batch oracle. (File drops rather than the
    // rate source because the oracle needs a deterministic event set; the
    // rate source's wall-clock pacing is soaked separately below.)
    val t0 = 1704888000000L // 2024-01-10 12:00 UTC
    def ev(is: Seq[Int], offsetMs: Long = 0L) = is.map { i =>
      (i.toLong, new Timestamp(t0 + i * 60000L + offsetMs), "btc", 100.0 + i)
    }.toDF("event_id", "ts", "event_type", "value")
    val dir = ScratchDirs.create("soak").toString
    val schema = ev(Seq(0)).schema

    def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var ok = cond
      while (!ok && System.currentTimeMillis() < deadline) {
        Thread.sleep(300); ok = cond
      }
      ok
    }
    // the warehouse dir can exist while holding only hidden staging dirs
    // (mid-first-publish) — treat an unreadable table as empty
    def barCount: Long =
      try spark.read.parquet(s"$dir/wh").count()
      catch { case _: Exception => 0L }
    def trades(bucket: Long): Long =
      try spark.read.parquet(s"$dir/wh").filter($"bucket" === bucket / 1000L)
        .select("n_trades").as[Long].collect().headOption.getOrElse(0L)
      catch { case _: Exception => 0L }

    def land(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(s"$dir/in")

    land(ev(0 until 60)) // hour 0
    val q = graft.stream.StreamingSink.ohlcWarehouseSink(
      StreamingResample.hourlyOhlc(spark, s"$dir/in", schema,
        maxFilesPerTrigger = Some(1)),
      s"$dir/wh", s"$dir/ckpt",
      availableNow = false, processingTime = Some("250 milliseconds"))
    try {
      assert(eventually(60000)(barCount >= 1), "first paced batch never landed")
      land(ev(60 until 150)) // hours 1–2
      assert(eventually(60000)(barCount >= 3))
      // late revision: 10 extra hour-0 events — watermark is only at
      // maxTs(drop 2) − 2 h = t0+29 min, so the closed-looking bar reopens
      land(ev(0 until 10, offsetMs = 30000L))
      assert(eventually(60000)(trades(t0) == 70L),
        "late revision must replace the hour-0 bar")
      land(ev(180 until 240)) // hour 3
      assert(eventually(60000)(barCount >= 4))
      assert(q.isActive, "continuous query must still be running")
      assert(q.recentProgress.length >= 4, "expected >=4 paced micro-batches")
    } finally q.stop()

    // batch parity over everything that streamed in
    val all = ev(0 until 150).unionByName(ev(0 until 10, offsetMs = 30000L))
      .unionByName(ev(180 until 240))
    val batch = Resample.ohlcHourly(all).orderBy("bucket").collect()
    val got = spark.read.parquet(s"$dir/wh")
      .select("bucket", "event_type", "open", "high", "low", "close",
        "volume", "n_trades")
      .orderBy("bucket").collect()
    assert(got.length == batch.length && got.length == 4)
    got.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("bucket") == b.getAs[Long]("bucket"))
      assert(s.getAs[Double]("open") == b.getAs[Double]("open"))
      assert(s.getAs[Double]("high") == b.getAs[Double]("high"))
      assert(s.getAs[Double]("low") == b.getAs[Double]("low"))
      assert(s.getAs[Double]("close") == b.getAs[Double]("close"))
      assert(approx(s.getAs[Double]("volume"), b.getAs[Double]("volume")))
      assert(s.getAs[Long]("n_trades") == b.getAs[Long]("n_trades"))
    }
  }

  test("rate-source soak: wall-clock paced ingest stays gapless and duplicate-free") {
    // The genuinely continuous source: rate rows arrive on wall-clock
    // pacing, event identity derived deterministically from `value` (the
    // timestamps the rate source stamps are wall-clock and thus not
    // oracle-able — the derived event set is). After ≥3 ProcessingTime
    // batches: every delivered id present exactly once (the upsert never
    // dropped or doubled a mid-flight batch), months consistent.
    val dir = ScratchDirs.create("ratesoak").toString
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", "400").load()
      .select(col("value").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("value") * 60).as("ts"),
        when(col("value") % 2 === 0, "btc").otherwise("eth").as("event_type"),
        (col("value") * 1.5).as("value"))
    val q = StreamingSink.warehouseSink(events, "event_id", "ts",
      s"$dir/wh", s"$dir/ckpt",
      availableNow = false, processingTime = Some("300 milliseconds"))
    val deadline = System.currentTimeMillis() + 90000
    while (q.recentProgress.count(_.numInputRows > 0) < 3 &&
      System.currentTimeMillis() < deadline) Thread.sleep(300)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "rate soak never reached 3 non-empty micro-batches")
    q.stop()
    // stop() can interrupt a publish mid-swap; recovery restores any
    // stranded month before we grade the table
    StreamingSink.recover(spark, s"$dir/wh")
    val t = spark.read.parquet(s"$dir/wh")
    val n = t.count()
    val mx = t.agg(max("event_id")).as[Long].head()
    assert(n == mx + 1, s"gap or loss: $n rows vs max id $mx")
    assert(t.groupBy("event_id").count().filter($"count" > 1).isEmpty,
      "duplicate ids after paced upserts")
  }

  test("incremental file discovery: later drops emit only new hours, maxFilesPerTrigger paces the backlog") {
    // The reference's cadence: one archive file lands per period
    // (airflow/dags/new6.py:32-39, monthly). Here: drop 1 is processed,
    // then TWO more drops land; the restarted query discovers only the
    // unseen files, and maxFilesPerTrigger=1 spreads them over separate
    // micro-batches instead of one giant catch-up batch.
    val rnd = new scala.util.Random(37)
    val t0 = 1704067200000L
    def drop(hLo: Int, hHi: Int): Seq[(Long, Timestamp, String, Double)] =
      (hLo * 60 until hHi * 60).map { m =>
        (m.toLong, new Timestamp(t0 + m * 60000L), "btc", 100.0 + rnd.nextGaussian())
      }
    val d1 = drop(0, 6)
    val d2 = drop(6, 12)
    val d3 = drop(12, 18) :+
      ((99999L, new Timestamp(t0 + 1000L * 3600000L), "btc", 1.0)) // watermark push
    val schema = d1.toDF("event_id", "ts", "event_type", "value").schema
    val dir = ScratchDirs.create("inc").toString

    def land(rows: Seq[(Long, Timestamp, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "event_type", "value")
        .coalesce(1) // one drop = one file, like the monthly archive
        .write.mode("append").parquet(s"$dir/in")

    def run(maxFiles: Option[Int]) = {
      val q = StreamingResample.hourlyOhlc(spark, s"$dir/in", schema, maxFiles)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      q
    }
    def sinkBuckets(): Seq[Long] = spark.read.parquet(s"$dir/out")
      .filter(col("bucket") < t0 / 1000 + 100L * 3600) // drop sentinel window
      .select("bucket").as[Long].collect().toSeq.sorted

    land(d1)
    run(None)
    val after1 = sinkBuckets()
    assert(after1.nonEmpty && after1.distinct == after1)
    assert(after1.forall(_ < t0 / 1000 + 6 * 3600)) // only drop-1 hours exist yet

    land(d2); land(d3)
    val q2 = run(Some(1))
    // pacing proof: the 2-file backlog took >= 2 data batches of 1 file each
    val dataBatches = q2.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length >= 2,
      s"expected >=2 paced batches, got ${dataBatches.length}")
    assert(dataBatches.forall(_.numInputRows <= 6 * 60 + 1))

    val after2 = sinkBuckets()
    // run 1's hours were NOT re-emitted (append exactly-once) and every
    // newly-emitted hour comes from the new drops only
    assert(after2.distinct == after2)
    assert(after2.containsSlice(after1))
    assert((after2.toSet -- after1.toSet).forall(_ >= t0 / 1000 + after1.length * 3600))
    // and the final sink equals the batch result over all three drops
    val batch = Resample.ohlcHourly(
      (d1 ++ d2 ++ d3.dropRight(1)).toDF("event_id", "ts", "event_type", "value"))
      .select("bucket").as[Long].collect().toSeq.sorted
    assert(after2 == batch)
  }

  test("sliding windows: every event lands in exactly 4 windows") {
    val events = (0 until 500).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 60000L), "btc", 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val dir = ScratchDirs.create("slide").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val q = StreamingResample.slidingVolume(spark, s"$dir/in", events.schema)
      .writeStream.format("memory").queryName("slide_t")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val total = spark.table("slide_t").agg(sum("n")).as[Long].head()
    assert(total == 500L * 4) // 1h window / 15min slide = 4 windows each
  }

  test("stream-static enrichment join equals the batch weighted aggregate") {
    val rnd = new scala.util.Random(43)
    val events = (0 until 2000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 7000L),
        if (i % 2 == 0) "btc" else "eth", 100.0 + rnd.nextGaussian())
    }.toDF("event_id", "ts", "event_type", "value")
    val dim = Seq(("btc", 2.0), ("eth", 0.5)).toDF("event_type", "weight")
    val dir = ScratchDirs.create("enrich").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val q = StreamingResample.enrichedVolume(spark, s"$dir/in", events.schema, dim)
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("enrich_t").orderBy("bucket", "event_type").collect()
    val batch = events.join(dim, Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(sum(col("value") * col("weight")).as("w_volume"), count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("w_volume"), col("n"))
      .orderBy("bucket", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("bucket") == b.getAs[Long]("bucket"))
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(approx(s.getAs[Double]("w_volume"), b.getAs[Double]("w_volume")))
      assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
    }
  }

  test("stream-stream trades/quotes range join equals the batch join on replay") {
    val rnd = new scala.util.Random(47)
    val events = (0 until 1200).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 30000L),
        if (i % 4 < 2) "btc" else "eth", 100.0 + rnd.nextGaussian())
    }.toDF("event_id", "ts", "event_type", "value")
    val dir = ScratchDirs.create("ss").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val q = StreamingResample.tradesQuotesJoin(spark, s"$dir/in", events.schema)
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssj_t")
      .orderBy("trade_id", "quote_id").collect()
    val t = events.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("trade_id"), col("event_type"),
        col("ts").as("trade_ts"), col("value").as("trade_px"))
    val qt = events.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("quote_id"), col("event_type").as("q_type"),
        col("ts").as("quote_ts"), col("value").as("quote_px"))
    val batch = t.join(qt,
        col("event_type") === col("q_type") &&
          col("quote_ts") >= col("trade_ts") - expr("INTERVAL 10 MINUTES") &&
          col("quote_ts") <= col("trade_ts"))
      .select(col("trade_id"), col("event_type"), col("trade_px"),
        col("quote_id"), col("quote_px"),
        (col("trade_px") - col("quote_px")).as("px_diff"))
      .orderBy("trade_id", "quote_id").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("mapGroupsWithState running stats equal the batch oracle on replay") {
    val rnd = new scala.util.Random(21)
    val events = (0 until 2000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 5000L),
        Seq("btc", "eth", "sol")(i % 3), 50.0 + rnd.nextGaussian() * 5)
    }.toDF("event_id", "ts", "event_type", "value")
    val dir = ScratchDirs.create("state").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val q = graft.stream.StatefulRunning.runningStats(spark, s"$dir/in", events.schema)
      .writeStream.format("memory").queryName("state_t")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // update mode may emit a row per batch per key; keep the final row
    val streamed = spark.table("state_t")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("total_volume").as("total_volume"),
        max("high").as("high"), min("low").as("low"))
      .orderBy("event_type").collect()
    val batch = graft.stream.StatefulRunning.runningStatsBatch(events)
      .select("event_type", "n", "total_volume", "high", "low")
      .orderBy("event_type").collect()
    assert(streamed.length == 3)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
      assert(approx(s.getAs[Double]("total_volume"), b.getAs[Double]("total_volume")))
      assert(s.getAs[Double]("high") == b.getAs[Double]("high"))
      assert(s.getAs[Double]("low") == b.getAs[Double]("low"))
    }
  }

  test("streaming EMA: state carries across micro-batches, converging to the batch ewma") {
    // 300 ticks / 3 symbols in three time-ordered chunks, written as
    // separate files with strictly increasing mtimes; maxFilesPerTrigger=1
    // forces one micro-batch per chunk, so the (num, den) state MUST
    // carry across batches to match the batch windowed EMA
    val all = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L),
        Seq("btc", "eth", "sol")(i % 3), 100.0 + (i * 41 % 23) - 11.0)
    }
    val dir = ScratchDirs.create("sema").toString
    all.grouped(100).foreach { chunk =>
      chunk.toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(1500) // distinct mtimes → deterministic batch order
    }
    val schema = all.take(1).toDF("event_id", "ts", "event_type", "value").schema
    val q = graft.stream.StatefulRunning
      .runningEma(spark, s"$dir/in", schema, 0.1, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("sema_t")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sema_t")
      .groupBy("event_type").agg(max("n").as("n"),
        max_by(col("ema"), col("n")).as("ema"))
      .orderBy("event_type").collect()
    // ≥3 emissions per key proves the per-batch pacing actually happened
    assert(spark.table("sema_t").count() >= 9)
    val batch = graft.ops.Rolling
      .ewma(all.toDF("event_id", "ts", "event_type", "value"), 0.1)
      .groupBy("event_type").agg(max_by(col("ema"), col("event_id")).as("ema"))
      .orderBy("event_type").collect()
    assert(streamed.length == 3)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == 100L)
      val (x, y) = (s.getAs[Double]("ema"), b.getAs[Double]("ema"))
      assert(math.abs(x - y) <= 1e-12 * math.abs(y), s"$x vs $y")
    }
  }

  test("streaming tick-rule flow: sign carry crosses micro-batch boundaries to the batch totals") {
    // 2 symbols interleaved; per symbol the move pattern plants FLAT
    // ticks exactly where a chunk boundary will fall, so the zero-change
    // carry must read a sign learned in a previous micro-batch.
    val steps = Seq(1.0, 1.0, 0.0, -1.0, 0.0) // up, up, flat, down, flat
    var px = Map("btc" -> 100.0, "eth" -> 50.0)
    val all = (0 until 300).map { i =>
      val sym = Seq("btc", "eth")(i % 2)
      val k = i / 2
      px += sym -> (px(sym) + (if (k == 0) 0.0 else steps(k % steps.length)))
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), sym, px(sym),
        s"""{"k": ${i % 5 + 1}}""")
    }
    val dir = ScratchDirs.create("sflow").toString
    // chunks of 104 rows: both symbols OPEN chunk 2 at k=52 (flat,
    // inheriting chunk 1's up-sign) and chunk 3 at k=104 (flat,
    // inheriting chunk 2's down-sign) — the carry must cross batches
    all.grouped(104).foreach { chunk =>
      chunk.toDF("event_id", "ts", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(1500)
    }
    val df = all.toDF("event_id", "ts", "event_type", "value", "props")
    val q = graft.stream.StatefulRunning
      .runningFlow(spark, s"$dir/in", df.schema, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("sflow_t")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("sflow_t").count() >= 6) // per-batch pacing happened
    val streamed = spark.table("sflow_t")
      .groupBy("event_type")
      .agg(max("n_classified").as("n"),
        max_by(col("buy_qty"), col("n_classified")).as("buy"),
        max_by(col("sell_qty"), col("n_classified")).as("sell"),
        max_by(col("ofi"), col("n_classified")).as("ofi"))
      .orderBy("event_type").collect()
    val batch = graft.ops.Microstructure.tickRuleFlow(df)
      .groupBy("event_type")
      .agg(sum("buy_qty").as("buy"), sum("sell_qty").as("sell"),
        sum("n_classified").as("n"))
      .orderBy("event_type").collect()
    assert(streamed.length == 2 && batch.length == 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
      assert(approx(s.getAs[Double]("buy"), b.getAs[Double]("buy")))
      assert(approx(s.getAs[Double]("sell"), b.getAs[Double]("sell")))
      val expOfi = (b.getAs[Double]("buy") - b.getAs[Double]("sell")) /
        (b.getAs[Double]("buy") + b.getAs[Double]("sell"))
      assert(approx(s.getAs[Double]("ofi"), expOfi))
    }
  }

  test("streaming volume bars: completed bars match the batch op exactly across micro-batches") {
    val all = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L),
        Seq("btc", "eth")(i % 2), 100.0 + (i * 41 % 23) - 11.0)
    }
    val dir = ScratchDirs.create("svb").toString
    all.grouped(100).foreach { chunk =>
      chunk.toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(1500)
    }
    val schema = all.take(1).toDF("event_id", "ts", "event_type", "value").schema
    val barUnits = 2000000L // ~100k units/tick → ~20 ticks/bar → ~7 bars/symbol
    val q = graft.stream.StatefulRunning
      .volumeBars(spark, s"$dir/in", schema, barUnits, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("svb_t")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("svb_t")
      .orderBy("event_type", "bar").collect()
    val batch = graft.ops.Resample.volumeBars(
        all.toDF("event_id", "ts", "event_type", "value"), barUnits)
      .orderBy("event_type", "bar").collect()
    // the batch result includes each symbol's final still-OPEN bar; the
    // stream emits a bar only when a tick lands past its edge
    val expected = batch.groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1)).dropRight(1)).toMap
    val got = streamed.groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1))).toMap
    assert(got.keySet == Set("btc", "eth"))
    assert(got.values.map(_.length).sum >= 10) // bars actually completed
    for (sym <- got.keySet) {
      val (e, g) = (expected(sym), got(sym))
      assert(e.length == g.length, s"$sym: ${e.length} vs ${g.length}")
      e.zip(g).foreach { case (a, b) =>
        assert(a.getLong(1) == b.getLong(1)) // bar id
        // open/high/low/close/n_trades exact; volume to float re-assoc
        assert(a.getDouble(2) == b.getDouble(2) && a.getDouble(3) == b.getDouble(3) &&
          a.getDouble(4) == b.getDouble(4) && a.getDouble(5) == b.getDouble(5) &&
          a.getLong(7) == b.getLong(7), s"$sym bar ${a.getLong(1)}: $a vs $b")
        assert(approx(a.getDouble(6), b.getDouble(6)))
      }
    }
  }

  test("streaming EMA restart: mapGroupsWithState state restores from checkpoint to batch parity") {
    // The recovery contract the in-run pacing tests can't prove: the
    // query is STOPPED after folding phase 1 (180 ticks), then a brand-
    // new query resumes from the SAME checkpoint over phase 2 only. The
    // run-2 memory sink captures run-2 emissions alone, so equality with
    // the batch EMA over ALL 300 ticks is only possible if the (num,
    // den, n) state was restored from the checkpointed state store —
    // and the emission floor proves phase 1 was NOT re-read.
    val all = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L),
        Seq("btc", "eth", "sol")(i % 3), 100.0 + (i * 41 % 23) - 11.0)
    }
    val (phase1, phase2) = all.splitAt(180) // 60 ticks/key, mid-series
    val dir = ScratchDirs.create("semar").toString
    val schema = all.take(1).toDF("event_id", "ts", "event_type", "value").schema
    // memory sink rejects checkpoint recovery; foreachBatch is the
    // recoverable sink contract, landing each run's update rows in its
    // own parquet dir so run-2 emissions are attributable
    def runOnce(outDir: String): Unit = {
      val q = graft.stream.StatefulRunning
        .runningEma(spark, s"$dir/in", schema, 0.1)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir): Unit }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    phase1.toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out1")
    assert(spark.read.parquet(s"$dir/out1")
      .groupBy("event_type").agg(max("n").as("n"))
      .collect().forall(_.getAs[Long]("n") == 60L))
    phase2.toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out2") // fresh query object, same checkpoint
    val run2 = spark.read.parquet(s"$dir/out2")
    // run 2 never saw counts <= 60: phase 1 files were not reprocessed
    assert(run2.agg(min("n")).head().getLong(0) > 60L)
    val streamed = run2
      .groupBy("event_type").agg(max("n").as("n"),
        max_by(col("ema"), col("n")).as("ema"))
      .orderBy("event_type").collect()
    val batch = graft.ops.Rolling
      .ewma(all.toDF("event_id", "ts", "event_type", "value"), 0.1)
      .groupBy("event_type").agg(max_by(col("ema"), col("event_id")).as("ema"))
      .orderBy("event_type").collect()
    assert(streamed.length == 3)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == 100L)
      val (x, y) = (s.getAs[Double]("ema"), b.getAs[Double]("ema"))
      assert(math.abs(x - y) <= 1e-12 * math.abs(y), s"$x vs $y")
    }
  }

  test("streaming volume bars restart: open-bar state survives the checkpoint boundary") {
    // flatMapGroupsWithState recovery: the stop lands MID-BAR (each
    // symbol's bar straddling tick 180 is still open in state), so run 2
    // can only emit that bar correctly — open price and cumulative-unit
    // offset from phase 1 — by restoring VbState from the checkpoint.
    // run1-bars ∪ run2-bars must equal the batch op minus each symbol's
    // final still-open bar, with no overlap and no gap.
    val all = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L),
        Seq("btc", "eth")(i % 2), 100.0 + (i * 41 % 23) - 11.0)
    }
    val (phase1, phase2) = all.splitAt(180)
    val dir = ScratchDirs.create("svbr").toString
    val schema = all.take(1).toDF("event_id", "ts", "event_type", "value").schema
    val barUnits = 2000000L
    // append mode + the (recoverable) parquet file sink. The sink's
    // _spark_metadata log is keyed by batch id and must stay with ONE
    // output path across restarts, so both runs land in the same dir
    // and run-2 bars are attributed by diffing the run-1 snapshot.
    def runOnce(): Unit = {
      val q = graft.stream.StatefulRunning
        .volumeBars(spark, s"$dir/in", schema, barUnits)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    phase1.toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce()
    val run1 = spark.read.parquet(s"$dir/out").collect()
    phase2.toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce()
    val run1Keys = run1.map(r => (r.getString(0), r.getLong(1))).toSet
    val run2 = spark.read.parquet(s"$dir/out").collect()
      .filterNot(r => run1Keys((r.getString(0), r.getLong(1))))
    assert(run1.nonEmpty && run2.nonEmpty)
    val batch = graft.ops.Resample.volumeBars(
        all.toDF("event_id", "ts", "event_type", "value"), barUnits)
      .collect()
    val expected = batch.groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1)).dropRight(1)).toMap
    val got = (run1 ++ run2).groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1))).toMap
    assert(got.keySet == Set("btc", "eth"))
    for (sym <- got.keySet) {
      val (e, g) = (expected(sym), got(sym))
      // no bar emitted twice across the restart, none lost
      assert(g.map(_.getLong(1)).distinct.length == g.length)
      assert(e.length == g.length, s"$sym: ${e.length} vs ${g.length}")
      // the boundary bar was completed by run 2 from restored state
      val run2Min = run2.filter(_.getString(0) == sym).map(_.getLong(1)).min
      val run1Max = run1.filter(_.getString(0) == sym).map(_.getLong(1)).max
      assert(run2Min == run1Max + 1, s"$sym: bar gap/overlap at the restart")
      e.zip(g).foreach { case (a, b) =>
        assert(a.getLong(1) == b.getLong(1))
        assert(a.getDouble(2) == b.getDouble(2) && a.getDouble(3) == b.getDouble(3) &&
          a.getDouble(4) == b.getDouble(4) && a.getDouble(5) == b.getDouble(5) &&
          a.getLong(7) == b.getLong(7), s"$sym bar ${a.getLong(1)}: $a vs $b")
        assert(approx(a.getDouble(6), b.getDouble(6)))
      }
    }
  }

  test("streaming tick-rule flow restart: last price + last non-zero sign restore from checkpoint to batch parity") {
    // The stop lands where phase 2 OPENS ON FLAT TICKS for both symbols:
    // classifying them needs the sign learned before the restart, and
    // every later classification needs the restored last PRICE — run-2
    // parity with the batch op over ALL ticks is only possible from
    // restored FlowState. Same move pattern as the in-run pacing test.
    val steps = Seq(1.0, 1.0, 0.0, -1.0, 0.0)
    var px = Map("btc" -> 100.0, "eth" -> 50.0)
    val all = (0 until 300).map { i =>
      val sym = Seq("btc", "eth")(i % 2)
      val k = i / 2
      px += sym -> (px(sym) + (if (k == 0) 0.0 else steps(k % steps.length)))
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), sym, px(sym),
        s"""{"k": ${i % 5 + 1}}""")
    }
    // split at i=180: k=90 for both symbols; k%5==0 -> phase 2's first
    // move per symbol is steps(0)=up after a phase-1 FLAT close (k=89
    // ends the up,up,flat,down,FLAT cycle), so the restored lastSign
    // (down) classifies nothing wrongly only if actually restored
    val (phase1, phase2) = all.splitAt(180)
    val dir = ScratchDirs.create("sflowr").toString
    val schema = all.take(1)
      .toDF("event_id", "ts", "event_type", "value", "props").schema
    def runOnce(outDir: String): Unit = {
      val q = graft.stream.StatefulRunning
        .runningFlow(spark, s"$dir/in", schema)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir): Unit }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    phase1.toDF("event_id", "ts", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out1")
    val run1N = spark.read.parquet(s"$dir/out1")
      .agg(max("n_classified")).head().getLong(0)
    phase2.toDF("event_id", "ts", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out2") // fresh query object, same checkpoint
    val run2 = spark.read.parquet(s"$dir/out2")
    // run 2's counts start past run 1's: state carried, phase 1 not re-read
    assert(run2.agg(min("n_classified")).head().getLong(0) >= run1N)
    val streamed = run2.groupBy("event_type")
      .agg(max("n_classified").as("n"),
        max_by(col("buy_qty"), col("n_classified")).as("buy"),
        max_by(col("sell_qty"), col("n_classified")).as("sell"))
      .orderBy("event_type").collect()
    val batch = graft.ops.Microstructure
      .tickRuleFlow(all.toDF("event_id", "ts", "event_type", "value", "props"))
      .groupBy("event_type")
      .agg(sum("buy_qty").as("buy"), sum("sell_qty").as("sell"),
        sum("n_classified").as("n"))
      .orderBy("event_type").collect()
    assert(streamed.length == 2 && batch.length == 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == b.getAs[Long]("n"), s"$s vs $b")
      assert(approx(s.getAs[Double]("buy"), b.getAs[Double]("buy")))
      assert(approx(s.getAs[Double]("sell"), b.getAs[Double]("sell")))
    }
  }

  test("streaming CMS restart: counter matrix restores from checkpoint to the batch fold") {
    // Stop after phase 1, resume a fresh query from the same checkpoint
    // over phase 2 only. CMS estimates are running TOTALS: equality with
    // the sequential fold over ALL docs is only possible if the d×w
    // counter state was restored (a reset would undercount, a phase-1
    // re-read would double-count — both break exact equality).
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val all = (0 until 600).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      (i.toLong, lang, s"${words((i % 21) % words.length)} ${words((i * i % 13) % words.length)}")
    }
    val (phase1, phase2) = all.splitAt(360)
    val probe = Seq("alpha", "delta", "zeta", "missing")
    val dir = ScratchDirs.create("cmsr").toString
    val schema = all.take(1).toDF("doc_id", "lang", "text").schema
    def runOnce(outDir: String): Unit = {
      val q = graft.stream.StreamingCms
        .cmsProbe(spark, s"$dir/in", schema, probe, d = 3, w = 16)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir): Unit }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    phase1.toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out1")
    assert(spark.read.parquet(s"$dir/out1")
      .agg(max("n_tokens")).head().getLong(0) == 240L) // 2 tokens × 120 docs
    phase2.toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out2")
    val run2 = spark.read.parquet(s"$dir/out2")
    assert(run2.agg(min("n_tokens")).head().getLong(0) > 240L) // no re-read
    val streamed = run2.groupBy("group")
      .agg(max("n_tokens").as("n_tokens"),
        max_by(col("estimates"), col("n_tokens")).as("estimates"))
      .collect()
      .map(r => r.getAs[String]("group") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[collection.Seq[Long]]("estimates").toSeq)))
      .toMap
    val batch = graft.stream.StreamingCms.cmsProbeBatch(
      all.map { case (_, lang, text) => (lang, text) }, probe, d = 3, w = 16)
    assert(streamed.keySet == Set("en", "de", "fr"))
    streamed.foreach { case (g, (n, ests)) =>
      val (bn, bEsts) = batch(g)
      assert(n == bn, s"$g token count")
      assert(ests == bEsts, s"$g estimates must equal the batch fold across the restart")
    }
  }

  test("streaming top-k restart: MG summary restores from checkpoint to the exact batch top-k") {
    // Small vocab (≪ m) keeps the sketch exact, so run-2's final top-k
    // must EQUAL the batch top-k over ALL docs — impossible unless the
    // (summary, n) state crossed the restart intact; the n_tokens floor
    // proves phase 1 was not reprocessed.
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val all = (0 until 600).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      (i.toLong, lang,
        s"${words((i % 21) % words.length)} ${words((i * i % 13) % words.length)} ${words((i / 3 + i % 3) % words.length)}")
    }
    val (phase1, phase2) = all.splitAt(360)
    val dir = ScratchDirs.create("topkr").toString
    val schema = all.take(1).toDF("doc_id", "lang", "text").schema
    def runOnce(outDir: String): Unit = {
      val q = graft.stream.StreamingTopK
        .topTokens(spark, s"$dir/in", schema, m = 64, k = 3)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir): Unit }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    phase1.toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out1")
    assert(spark.read.parquet(s"$dir/out1")
      .agg(max("n_tokens")).head().getLong(0) == 360L) // 3 tokens × 120 docs
    phase2.toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    runOnce(s"$dir/out2")
    val run2 = spark.read.parquet(s"$dir/out2")
    assert(run2.agg(min("n_tokens")).head().getLong(0) > 360L) // no re-read
    val streamed = run2.groupBy("group")
      .agg(max("n_tokens").as("n_tokens"),
        max_by(col("terms"), col("n_tokens")).as("terms"),
        max_by(col("estimates"), col("n_tokens")).as("estimates"))
      .orderBy("group").collect()
    val batch = graft.stream.StreamingTopK
      .topTokensBatch(all.toDF("doc_id", "lang", "text"), k = 3)
    val byLang = batch.collect().groupBy(_.getAs[String]("group"))
    assert(streamed.length == 3)
    streamed.foreach { row =>
      val lang = row.getAs[String]("group")
      val exp = byLang(lang).sortBy(_.getAs[Int]("rank"))
      assert(row.getAs[collection.Seq[String]]("terms").toSeq ==
        exp.map(_.getAs[String]("t")).toSeq, s"$lang terms across the restart")
      assert(row.getAs[collection.Seq[Long]]("estimates").toSeq ==
        exp.map(_.getAs[Long]("cnt")).toSeq, s"$lang estimates — exact across the restart")
      assert(row.getAs[Long]("n_tokens") == 600L)
    }
  }

  test("streaming dedup: replayed event ids emit exactly once") {
    // at-least-once upstream: every 5th event is delivered twice, some
    // three times, across separate files (≈ separate micro-batches)
    val base = (0 until 1000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 5000L), "btc", i * 1.0)
    }
    val replays = base.filter(_._1 % 5 == 0) ++ base.filter(_._1 % 50 == 0)
    val dir = ScratchDirs.create("dedup").toString
    base.toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/in")
    replays.toDF("event_id", "ts", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    val q = StreamingResample.dedupEvents(spark, s"$dir/in",
        base.toDF("event_id", "ts", "event_type", "value").schema)
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("dedup_t").select("event_id").as[Long].collect()
    assert(out.length == 1000)               // every id exactly once
    assert(out.toSet == (0L until 1000L).toSet)
  }

  test("streaming CMS: counter state carries across micro-batches; final estimates equal the batch fold and stay one-sided") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val all = (0 until 600).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      val w1 = words((i % 21) % words.length)
      val w2 = words((i * i % 13) % words.length)
      (i.toLong, lang, s"$w1 $w2")
    }
    val dir = ScratchDirs.create("cms").toString
    all.grouped(200).foreach { chunk =>
      chunk.toDF("doc_id", "lang", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(1500)
    }
    val docs = all.toDF("doc_id", "lang", "text")
    val probe = Seq("alpha", "delta", "zeta", "missing")
    val q = graft.stream.StreamingCms
      .cmsProbe(spark, s"$dir/in", docs.schema, probe, d = 3, w = 16,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("cms_t")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("cms_t").count() >= 9) // >=3 emissions per language
    val streamed = spark.table("cms_t")
      .groupBy("group")
      .agg(max("n_tokens").as("n_tokens"),
        max_by(col("estimates"), col("n_tokens")).as("estimates"))
      .collect()
      .map(r => r.getAs[String]("group") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[collection.Seq[Long]]("estimates").toSeq)))
      .toMap
    val batch = graft.stream.StreamingCms.cmsProbeBatch(
      all.map { case (_, lang, text) => (lang, text) }, probe, d = 3, w = 16)
    assert(streamed.keySet == Set("en", "de", "fr"))
    streamed.foreach { case (g, (n, ests)) =>
      val (bn, bEsts) = batch(g)
      assert(n == bn, s"$g token count")
      assert(ests == bEsts, s"$g estimates must equal the batch fold")
      // one-sided guarantee vs the true per-group counts
      val exact = all.filter(_._2 == g)
        .flatMap(_._3.split(" ")).groupBy(identity).view.mapValues(_.size.toLong)
      probe.zip(ests).foreach { case (t, est) =>
        assert(est >= exact.getOrElse(t, 0L), s"$g/$t one-sided") }
    }
  }

  test("streaming top-k: MG state carries across micro-batches to the exact batch top-k") {
    // 3 langs × small vocab (≪ m) — the sketch is then exact, so the
    // final emission must EQUAL the batch top-k. Three chunked drops with
    // maxFilesPerTrigger=1 force the summary to survive ≥3 micro-batches.
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val all = (0 until 600).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      // skew: word j appears with weight ~ (6-j), lang-shifted
      val w1 = words((i % 21) % words.length)
      val w2 = words((i * i % 13) % words.length)
      val w3 = words((i / 3 + i % 3) % words.length)
      (i.toLong, lang, s"$w1 $w2 $w3")
    }
    val dir = ScratchDirs.create("topk").toString
    all.grouped(200).foreach { chunk =>
      chunk.toDF("doc_id", "lang", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      Thread.sleep(1500) // distinct mtimes → deterministic batch order
    }
    val docs = all.toDF("doc_id", "lang", "text")
    val q = graft.stream.StreamingTopK
      .topTokens(spark, s"$dir/in", docs.schema, m = 64, k = 3,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("topk_t")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // ≥3 emissions per key proves per-batch pacing happened
    assert(spark.table("topk_t").count() >= 9)
    val streamed = spark.table("topk_t")
      .groupBy("group")
      .agg(max("n_tokens").as("n_tokens"),
        max_by(col("terms"), col("n_tokens")).as("terms"),
        max_by(col("estimates"), col("n_tokens")).as("estimates"))
      .orderBy("group").collect()
    val batch = graft.stream.StreamingTopK.topTokensBatch(docs, k = 3)
    val byLang = batch.collect().groupBy(_.getAs[String]("group"))
    assert(streamed.length == 3)
    streamed.foreach { row =>
      val lang = row.getAs[String]("group")
      val exp = byLang(lang).sortBy(_.getAs[Int]("rank"))
      assert(row.getAs[collection.Seq[String]]("terms").toSeq == exp.map(_.getAs[String]("t")).toSeq,
        s"$lang terms")
      assert(row.getAs[collection.Seq[Long]]("estimates").toSeq == exp.map(_.getAs[Long]("cnt")).toSeq,
        s"$lang estimates — vocab fits m, so MG must be exact")
      assert(row.getAs[Long]("n_tokens") == 600L)
    }
  }

  test("session windows: gap splits sessions at the fixture boundary") {
    // two bursts separated by 30 min, gap 5 min -> exactly 2 sessions
    val burst1 = (0 until 10).map(i => (i.toLong,
      new Timestamp(1704067200000L + i * 60000L), "btc", 1.0))
    val burst2 = (0 until 7).map(i => (100L + i,
      new Timestamp(1704067200000L + 40 * 60000L + i * 60000L), "btc", 1.0))
    val events = (burst1 ++ burst2).toDF("event_id", "ts", "event_type", "value")
    val dir = ScratchDirs.create("sess").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val q = StreamingResample.sessionCounts(spark, s"$dir/in", events.schema, "5 minutes")
      .writeStream.format("memory").queryName("sess_t")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sessions = spark.table("sess_t").orderBy("s_start").collect()
    assert(sessions.length == 2)
    assert(sessions(0).getAs[Long]("n") == 10L)
    assert(sessions(1).getAs[Long]("n") == 7L)
  }
}
