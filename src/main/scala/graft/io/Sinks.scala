package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, date_format}

/** Sink surface (SURVEY §2.1 S6-S11): parquet zones, the warehouse table,
  * and the analytics CSV export.
  *
  * Reference: `components/process_data.py:125` (append parquet),
  * `components/old-process_data.py:91` (overwrite),
  * `components/duckdb_api.py:44-47` (warehouse CTAS),
  * `components/duckdb2csv.py:5-18` (CSV export with empty guard).
  */
object Sinks {

  /** S6: append to a parquet zone (`process_data.py:125`). */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** S7: full-refresh overwrite (`old-process_data.py:91`). */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S6 fixed for re-runs: overwrite-by-month partition instead of blind
    * append (the reference double-counts on retry — SURVEY §4.3.3).
    * Dynamic partition overwrite replaces only the months present in `df`;
    * partition pruning then serves month-ranged reads for free.
    */
  def overwriteByMonth(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("month", date_format(col(tsCol), "yyyy-MM"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("month")
      .parquet(path)

  /** S10: warehouse load — the reference's `CREATE OR REPLACE TABLE ... AS
    * SELECT * FROM parquet_scan(...)` (`duckdb_api.py:44-47`) as a managed
    * Spark table (external path keeps the run hermetic).
    */
  def saveTable(df: DataFrame, table: String, path: String): Unit =
    df.write.mode("overwrite").option("path", path).saveAsTable(table)

  /** S11: analytics export — single header CSV with the reference's
    * empty-result guard (`duckdb2csv.py:11-12` raises on empty).
    * `coalesce(1)` only touches the final (small, aggregated) result.
    * The guard is `isEmpty`, a take of one row: one job when the first
    * partition holds a row, where `limit(1).count()` ran two and an
    * exchange.
    */
  def exportCsv(df: DataFrame, path: String): Unit = {
    if (df.isEmpty)
      throw new IllegalStateException("No data found in table")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
  }

  /** JSON-Lines export — the interchange format LLM-data consumers expect
    * (one object per line, splittable, schema carried by every record).
    * Unlike [[exportCsv]] this is a DATA sink, not an analytics export:
    * it keeps the input partitioning (one file per partition, no
    * coalesce-to-1 funnel) so a 100 TB corpus writes with full
    * parallelism.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
