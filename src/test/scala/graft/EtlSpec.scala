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
}
