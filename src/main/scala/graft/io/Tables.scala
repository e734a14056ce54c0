package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Readers for the driver-generated star-schema test tables (TESTDATA.md).
  *
  * One parquet file per table; schemas come from the parquet footers (the
  * driver owns them). The reference's own ingest surface — explicit-schema
  * header-less CSV and parquet scans with a declared StructType
  * (`/root/reference/components/process_data.py:27-42`,
  * `components/btcusdt_ingest_data.py:11-34`) — lives in
  * [[graft.io.Sources]]; these helpers are the harness-facing entry points.
  *
  * Scale note: each is a plain `spark.read.parquet`, so Catalyst's column
  * pruning and predicate pushdown reach the scan untouched. Do NOT cache or
  * materialize here — at 100 TB the winning move is to let every query
  * prune/push into its own scan.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame    = table(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = table(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = table(s, dir, "customer")
  def part(s: SparkSession, dir: String): DataFrame      = table(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = table(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = table(s, dir, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 refuses to read natively
    * (PARQUET_TYPE_ILLEGAL) — and plain TIMESTAMP_MICROS. Adapt to whichever
    * the footer declares instead of hard-coding one:
    *
    *   - nanos: the legacy conf surfaces the column as a long (ns since
    *     epoch); convert to TimestampType at µs precision — lossless because
    *     the generator emits µs-resolution values. The conf must stay set for
    *     the session in this case (the per-file schema conversion at scan
    *     execution checks it too).
    *   - micros (no tz annotation → TIMESTAMP_NTZ): cast to TimestampType.
    *     Sessions run under UTC, so the cast re-labels the same wall-clock
    *     instant; the conf is restored so the reader leaves no session-wide
    *     side effect.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val key  = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val raw = table(s, dir, "events")
    val ts = raw.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case _ =>
        prev match {
          case Some(v) => s.conf.set(key, v)
          case None    => s.conf.unset(key)
        }
        col("ts").cast(TimestampType)
    }
    raw.withColumn("ts", ts)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")
}
