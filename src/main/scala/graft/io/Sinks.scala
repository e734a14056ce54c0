package graft.io

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
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
  def exportCsv(df: DataFrame, path: String): Unit =
    exportCsv(!df.isEmpty, Seq(df -> path))

  /** S11 for frames whose emptiness the caller already knows (graft.Etl
    * reads it from the warehouse load's own row count, so the guard
    * starts no job): raises the reference's error before any export is
    * written when `nonEmpty` is false, else writes every export at once.
    * The first export is written on the calling thread, each other on a
    * side thread that carries the caller's local properties (its job
    * group, so cancelling the group cancels every write) and active
    * session (`SQLExecution.withThreadLocalCaptured`). Returns once
    * every write has ended, and rethrows the first failed write's own
    * exception.
    */
  private[graft] def exportCsv(nonEmpty: Boolean, exports: Seq[(DataFrame, String)]): Unit = {
    if (!nonEmpty) throw new IllegalStateException("No data found in table")
    def write(export: (DataFrame, String)): Unit =
      export._1.coalesce(1).write.mode("overwrite").option("header", "true").csv(export._2)
    val side = exports.tail.map { e =>
      SQLExecution.withThreadLocalCaptured(
        e._1.sparkSession.asInstanceOf[ClassicSession], ExportThreads)(write(e))
    }
    val first = Try(write(exports.head))
    val rest = side.map(f => Try(f.get()).recoverWith {
      case e: ExecutionException => Failure(e.getCause)
    })
    (first +: rest).foreach(_.get)
  }

  private lazy val ExportThreads = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-export")
    t.setDaemon(true)
    t
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
