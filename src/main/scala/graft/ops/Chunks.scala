package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The chunk carry behind every deep-series `…Chunked` twin.
  *
  * A per-symbol window (`partitionBy(event_type)`) puts one symbol's
  * whole history in one task — fine with many symbols, a wall with one
  * symbol years deep (the reference's own regime: one BTC/USDT series).
  * The twins cut each series into coarse chunks (a pure map on a
  * microsecond column or a row index, so assigning chunks never
  * shuffles) and factor the unbounded window into:
  *
  *   1. an in-chunk window over `(event_type, chunk)` ([[within]],
  *      [[growing]]) — each chunk's sort and state are bounded by the
  *      chunk's span, and the chunks of ONE symbol run in parallel;
  *   2. a per-chunk summary ([[summary]]) — one row per chunk, so 100 TB
  *      of one symbol at 1-day chunks is ≈ 10⁴ rows;
  *   3. an exclusive carry over the symbol's chunk order ([[before]]) —
  *      the only per-symbol sequential step, sized #chunks not #rows;
  *      empty time-chunks cost nothing, the carry skips to the previous
  *      chunk that exists;
  *   4. a broadcast join of the carry back onto the rows ([[joinBack]]),
  *      where each twin merges it with its in-chunk state.
  *
  * Windows whose frame reaches a BOUNDED distance take the halo form
  * instead ([[withHalo]]): the rows a chunk's edge frames need are copied
  * into it from its neighbour, role-tagged, and dropped after the window
  * ([[own]]).
  */
private[graft] object Chunks {

  /** The chunk a row falls in: `floor(pos / size)`, `pos` a microsecond
    * column or a row index.
    */
  def key(pos: Column, size: Long): Column = floor(pos / lit(size))

  /** [[key]] over `ts` in epoch microseconds. */
  def ofTs(chunkMicros: Long): Column = key(unix_micros(col("ts")), chunkMicros)

  /** The series order, `(ts, event_id)`; [[timeKey]] is the same order
    * as one struct, for `max_by`/`min_by` of a chunk's last/first row.
    */
  val byTime: Seq[Column] = Seq(col("ts"), col("event_id"))
  def timeKey: Column = struct(byTime: _*)

  /** The in-chunk window, in series order unless the caller asks otherwise. */
  def within(order: Seq[Column] = byTime): WindowSpec =
    Window.partitionBy(col("event_type"), col("chunk")).orderBy(order: _*)

  /** [[within]] with the growing `(unboundedPreceding, currentRow)` frame. */
  def growing(order: Seq[Column] = byTime): WindowSpec =
    within(order).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The per-symbol chunk-order window, e.g. for `lag` over chunks. */
  def across(order: Column = col("chunk")): WindowSpec =
    Window.partitionBy(col("event_type")).orderBy(order)

  /** [[across]] with the exclusive `(unboundedPreceding, -1)` frame: the
    * carry INTO a chunk from every chunk before it (NULL for the first).
    */
  def before(order: Column = col("chunk")): WindowSpec =
    across(order).rowsBetween(Window.unboundedPreceding, -1)

  /** One row per (symbol, chunk): `aggs` over the chunk's rows, then each
    * named carry added in order (carries may read [[across]] / [[before]]
    * and the carries before them), keeping only the key and the carries.
    */
  def summary(rows: DataFrame, aggs: Seq[Column],
              carries: (String, Column)*): DataFrame =
    carries.foldLeft(rows.groupBy(col("event_type"), col("chunk"))
      .agg(aggs.head, aggs.tail: _*)) { case (df, (name, c)) => df.withColumn(name, c) }
      .select(col("event_type") +: col("chunk") +: carries.map(c => col(c._1)): _*)

  /** The per-chunk carries broadcast back onto the rows. */
  def joinBack(rows: DataFrame, carries: DataFrame,
               joinType: String = "inner"): DataFrame =
    rows.join(broadcast(carries), Seq("event_type", "chunk"), joinType)

  /** `events` chunked by `ts`, with `prev_value`: the previous `value` in
    * series order, across chunk boundaries. In-chunk `lag` covers every
    * row but a chunk's first, which takes the previous chunk's last value
    * (`max_by` on [[timeKey]], lag'd over the chunk order). The choice is
    * gated on the row number, not on a null lag: a null VALUE mid-chunk
    * must surface as a null `prev_value`, never fall back to the
    * previous chunk.
    */
  def withPrevious(events: DataFrame, chunkMicros: Long): DataFrame = {
    val chunked = events.withColumn("chunk", ofTs(chunkMicros))
    val lasts = summary(chunked, Seq(max_by(col("value"), timeKey).as("chunk_last")),
      "prev_chunk_last" -> lag(col("chunk_last"), 1).over(across()))
    joinBack(chunked
      .withColumn("rn", row_number().over(within()))
      .withColumn("lag_in_chunk", lag(col("value"), 1).over(within())), lasts)
      .withColumn("prev_value",
        when(col("rn") === 1, col("prev_chunk_last")).otherwise(col("lag_in_chunk")))
      .drop("chunk", "rn", "lag_in_chunk", "prev_chunk_last")
  }

  /** `rows` (role 0) plus, for each `(filter, chunk)` halo, copies of the
    * rows `filter` selects moved to chunk `chunk` (roles 1, 2, …). The
    * copies fill the frames that reach past their new chunk's edge;
    * [[own]] drops them after the window.
    */
  def withHalo(rows: DataFrame, halos: (Column, Column)*): DataFrame =
    halos.zipWithIndex.foldLeft(rows.withColumn("role", lit(0))) {
      case (df, ((filter, chunk), i)) =>
        df.unionByName(rows.filter(filter)
          .withColumn("chunk", chunk).withColumn("role", lit(i + 1)))
    }

  /** True on a chunk's own rows, false on its halo copies. */
  def own: Column = col("role") === 0
}
