package graft

import graft.io.ScratchDirs

/** The full orchestrated chain (crawl manifest → transform → silver zone
  * → warehouse → export) over real sf0.001 events, run twice to prove
  * idempotency (the reference's append-mode double-count is fixed).
  */
class EtlSpec extends SparkSpec {

  test("Etl.run: end-to-end chain, idempotent on re-run") {
    val base = ScratchDirs.create("etlspec").toString
    val cfg = Etl.EtlConfig(
      sources = Seq("BTCUSDT-1s"),
      periods = Seq("2024-01"),
      landingDir = s"$base/landing",
      aggregatedDir = s"$base/agg",
      warehouseTable = "etlspec_table",
      warehousePath = s"$base/wh",
      exportDir = s"$base/export")
    val events = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
    val first = Etl.run(spark, events, cfg).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val second = Etl.run(spark, events, cfg).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(first.keySet.size == 5)
    assert(first == second) // re-run does not double-count
    // S11 literal parity: the full-table export has exactly the
    // warehouse table's rows (the reference's SELECT * export), the
    // summary export the per-type rollup.
    val fullExport = spark.read.option("header", "true").csv(cfg.exportDir)
    assert(fullExport.count() == spark.table(cfg.warehouseTable).count())
    val exported = spark.read.option("header", "true")
      .csv(cfg.exportDir + "_summary")
    assert(exported.count() == 5)
    intercept[IllegalArgumentException] {
      Etl.run(spark, events, cfg.copy(periods = Seq("not-a-period")))
    }
  }

  test("Etl.run: the declared silver read-back schema is the one a parquet scan infers") {
    val base = ScratchDirs.create("etlspec").toString
    val cfg = Etl.EtlConfig(Seq("BTCUSDT-1s"), Seq("2024-01"), s"$base/landing",
      s"$base/agg", "etlspec_schema_table", s"$base/wh", s"$base/export")
    val events = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
    Etl.run(spark, events, cfg)
    val written = graft.ops.Resample.ohlcHourly(events).withColumn("bucket_ts",
      org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("bucket"))).schema
    assert(Etl.silverSchema(written) == spark.read.parquet(cfg.aggregatedDir).schema)
  }

  /** `n` one-second klines in the benchmark's shape: the symbol is a
    * literal, as kline files carry none.
    */
  private def klineEvents(n: Long) = {
    import org.apache.spark.sql.functions.{col, lit, rand, timestamp_seconds}
    spark.range(0, n, 1, 4).select(
      timestamp_seconds(col("id") + 1704067200L).as("ts"),
      (lit(50000.0) + rand(3) * 100).as("value"),
      lit("BTCUSDT-1s").as("event_type"))
  }

  test("Etl.run: over no events it raises the reference's error and writes no export") {
    val base = ScratchDirs.create("etlspec").toString
    val cfg = Etl.EtlConfig(Seq("BTCUSDT-1s"), Seq("2024-01"), s"$base/landing",
      s"$base/agg", "etlspec_empty_table", s"$base/wh", s"$base/export")
    val events = klineEvents(0)
    val e = intercept[IllegalStateException](Etl.run(spark, events, cfg))
    assert(e.getMessage == "No data found in table")
    assert(!new java.io.File(cfg.exportDir).exists())
    assert(!new java.io.File(cfg.exportDir + "_summary").exists())
  }

  test("Etl.run: five jobs, all in the caller's job group") {
    val base = ScratchDirs.create("etlspec").toString
    val cfg = Etl.EtlConfig(Seq("BTCUSDT-1s"), Seq("2024-01"), s"$base/landing",
      s"$base/agg", "etlspec_jobs_table", s"$base/wh", s"$base/export")
    val events = klineEvents(2 * 86400)
    Etl.run(spark, events, cfg)
    val jobs = jobsOf(Etl.run(spark, events, cfg))
    assert(jobs.size == 5 && jobs.forall(identity), jobs)
  }
}
