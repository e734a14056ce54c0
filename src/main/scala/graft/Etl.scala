package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, timestamp_seconds}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.io.{Sinks, Sources}
import graft.ops.Resample

/** Typed orchestration of the reference's DAG chain — crawl → land →
  * transform → warehouse → export (`/root/reference/airflow/dags/
  * new6.py:32-141`) as plain sequenced Scala, replacing Airflow tasks +
  * stringly XCom hand-offs with one process and typed values (SURVEY
  * §3.1). Config mirrors the reference's YAML files
  * (`configs/pipeline_config.yml`, `data_sources.yml`, `data_limit.yml`)
  * as case classes (§1.4).
  */
object Etl {

  /** The reference's YAML config surface, typed. */
  case class EtlConfig(
      sources: Seq[String],      // data_sources.yml: archive name stems
      periods: Seq[String],      // data_limit.yml: yyyy-MM periods
      landingDir: String,        // raw CSV landing zone
      aggregatedDir: String,     // silver parquet zone (month-partitioned)
      warehouseTable: String,    // duckdb table analogue
      warehousePath: String,
      exportDir: String)         // analytics CSV export

  /** The silver zone's schema as a parquet scan of it reads it back: the
    * written columns, nullable, then the `month` partition column, whose
    * yyyy-MM values partition inference keeps as strings.
    */
  private[graft] def silverSchema(written: StructType): StructType =
    StructType(written.fields.map(_.copy(nullable = true)) :+
      StructField("month", StringType))

  /** Run the full chain over an already-landed events frame. Returns the
    * exported summary (what Looker would read). Each stage is the
    * registered operator — this is wiring, not new semantics.
    */
  def run(spark: SparkSession, events: DataFrame, cfg: EtlConfig): DataFrame = {
    // crawl manifest (S2) — validates periods; the HTTP fetch itself is
    // environment-injected (offline here).
    val manifest = Sources.crawlManifest(cfg.sources, cfg.periods)
    require(manifest.nonEmpty, "empty crawl manifest")
    // transform: flagship resample (A1), month-partitioned silver zone
    // (S6-fixed: idempotent on re-run).
    val hourly = Resample.ohlcHourly(events)
    val hourlyTs = hourly.withColumn("bucket_ts", timestamp_seconds(col("bucket")))
    Sinks.overwriteByMonth(hourlyTs, "bucket_ts", cfg.aggregatedDir)
    // warehouse load (S10) from the silver zone, declared with the schema
    // just written: inferring it would run a footer job per run. The
    // load counts its own rows, so the export guard starts no job.
    val silver = spark.read.schema(silverSchema(hourlyTs.schema))
      .parquet(cfg.aggregatedDir)
    val loaded = Observation("warehouse_load")
    Sinks.saveTable(silver.drop("month", "bucket_ts").observe(loaded, count(lit(1)).as("rows")),
      cfg.warehouseTable, cfg.warehousePath)
    // export (S11) with the empty guard — BOTH forms: the reference
    // exports the whole warehouse table (`components/duckdb2csv.py:10`
    // is `SELECT * FROM {table}`), so the literal parity export is the
    // full table; the per-type summary rides alongside as the
    // analytics-facing view. One guard, then both written at once. The
    // table holds one bar per symbol and hour, so the summary aggregates
    // it as one partition: partial and final aggregate in one stage,
    // one job, no exchange.
    val table = spark.table(cfg.warehouseTable)
    val summary = table.coalesce(1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"), sum("volume").as("total_volume"))
    Sinks.exportCsv(loaded.get("rows").asInstanceOf[Long] > 0,
      Seq(table -> cfg.exportDir, summary -> (cfg.exportDir + "_summary")))
    summary
  }
}
