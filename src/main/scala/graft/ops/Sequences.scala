package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence/ordering operators: sliding-window sequence generation (the
  * model-data path's core op), tail-N windows, ordered unions, limits and
  * top-k (SURVEY §2.5 W8-W9, §2.6 O2-O4).
  *
  * Reference: `/root/reference/components/model/model_utils.py:52-58`
  * (sliding sequences), `components/model/evaluation.py:163-167` (tail-N
  * latest window), `components/model/training.py:74-82` (month-file
  * union/concat).
  */
object Sequences {

  // event_id tie-break: events carry sub-second timestamps that CAN collide
  // at full µs resolution across loads; without a total order the sequence
  // contents would be partitioning-dependent.
  private def byTypeTime =
    Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))

  /** W8: sliding sequences of the last `n` values per event_type, emitted
    * only when the window is full, plus the next value as the training
    * target (`model_utils.py:52-58`: X = data[i:i+n], y = data[i+n]).
    *
    * `collect_list` over a row frame preserves frame order, so each `seq`
    * is time-ordered. Fine at moderate n; the O(n)-per-row state blowup at
    * 100 TB is handled by [[slidingSequencesScale]].
    */
  def slidingSequences(events: DataFrame, n: Int): DataFrame =
    events
      .withColumn("seq", collect_list(col("value"))
        .over(byTypeTime.rowsBetween(-(n - 1), 0)))
      .withColumn("target", lead(col("value"), 1).over(byTypeTime))
      .filter(size(col("seq")) === n && col("target").isNotNull)
      .select(col("event_id"), col("event_type"), col("seq"), col("target"))

  /** Array-free projection of [[slidingSequences]]-shaped output: one
    * scalar column per sequence position (`seq_0..seq_{n-1}`). The array
    * column is the library API; this projection exists for harnesses that
    * hash plain columns (the driver's pandas checker can't sort/hash
    * ndarray cells). Pins the FULL sequence contents, element by element.
    */
  def flattenSeq(seqs: DataFrame, n: Int): DataFrame =
    seqs.select(
      col("event_id") +: col("event_type") +:
        (0 until n).map(i => element_at(col("seq"), i + 1).as(s"seq_$i")) :+
        col("target"): _*)

  /** W8 scalar projection of [[slidingSequences]] — same op, but emitting
    * per-sequence scalars (first/last/sum/len) so the DuckDB oracle
    * compares plain columns instead of array cells.
    */
  def slidingSequenceStats(events: DataFrame, n: Int): DataFrame =
    slidingSequences(events, n)
      .select(
        col("event_id"), col("event_type"),
        element_at(col("seq"), 1).as("seq_first"),
        element_at(col("seq"), n).as("seq_last"),
        aggregate(col("seq"), lit(0.0), (acc, x) => acc + x).as("seq_sum"),
        size(col("seq")).as("seq_len"),
        col("target"))

  /** W8 at scale: mapPartitions carry-over generator. Each task sorts its
    * partition once and streams a ring buffer of the last `n` values —
    * O(1) state per row instead of `collect_list`'s O(n) copies, and no
    * window-exec buffering. Partitioned by symbol first so sequences never
    * cross a partition boundary (`repartition` by event_type), which is
    * exactly how a 1000-executor cluster would run it.
    */
  def slidingSequencesScale(events: DataFrame, n: Int): DataFrame = {
    import events.sparkSession.implicits._
    // unix_micros, NOT ts.cast("long"): the cast truncates to whole seconds,
    // and events carry sub-second components with ties at second granularity
    // — truncation would order tied rows arbitrarily and break parity with
    // slidingSequences. event_id breaks any residual full-µs ties.
    val input = events
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Double, Long)]
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("ts_us"), col("event_id"))
    input.mapPartitions { iter =>
      // Rows arrive clustered by event_type, time-sorted within each; the
      // buffer resets at each symbol boundary. A full buffer becomes a
      // pending sequence, emitted once the NEXT row (its target) arrives —
      // identical semantics to slidingSequences' lead()-based target.
      new Iterator[(Long, String, Seq[Double], Double)] {
        private var curType: String = null
        private val buf = scala.collection.mutable.Queue.empty[Double]
        private var pendingId = -1L
        private var pendingSeq: Array[Double] = null
        private var havePending = false
        private var nextOut: (Long, String, Seq[Double], Double) = _

        private def advance(): Unit = {
          nextOut = null
          while (nextOut == null && iter.hasNext) {
            val (id, et, v, _) = iter.next()
            if (et != curType) { curType = et; buf.clear(); havePending = false }
            if (havePending) {
              nextOut = (pendingId, curType, pendingSeq.toSeq, v)
              havePending = false
            }
            buf.enqueue(v)
            if (buf.size > n) buf.dequeue()
            if (buf.size == n) {
              pendingId = id; pendingSeq = buf.toArray; havePending = true
            }
          }
        }
        advance()
        override def hasNext: Boolean = nextOut != null
        override def next(): (Long, String, Seq[Double], Double) = {
          val r = nextOut; advance(); r
        }
      }
    }.toDF("event_id", "event_type", "seq", "target")
  }

  /** W8 for the DEEP-single-symbol regime: [[slidingSequencesScale]]
    * still lands each symbol's whole series in one task (`repartition` by
    * event_type) — fine with many symbols, a wall with few deep ones.
    * This variant parallelizes WITHIN a symbol:
    *
    *   1. global sort by (symbol, time) + `zipWithIndex` (per-partition
    *      counts + offsets — the L20 pattern) → dense per-symbol row
    *      index `sidx` (symbol bases via a tiny broadcast agg);
    *   2. count-chunks of `chunkRows` rows (`chunk = sidx / chunkRows`)
    *      — count-based, not time-based, so every carry below is
    *      guaranteed to have enough rows regardless of time gaps;
    *   3. each chunk's halo ([[Chunks.withHalo]]) = the previous
    *      chunk's last n−1 rows (frame fill for the first anchors) ∪ the
    *      next chunk's first row (the `lead` target of the last anchor) —
    *      n extra rows per boundary;
    *   4. the SAME window logic as [[slidingSequences]], per chunk.
    *
    * Output is row-identical to [[slidingSequences]] (parity-spec'd,
    * boundary and gap cases included).
    */
  def slidingSequencesChunked(events: DataFrame, n: Int,
                              chunkRows: Int = 100000): DataFrame = {
    require(chunkRows >= n, s"chunkRows ($chunkRows) must be >= n ($n)")
    val spark = events.sparkSession
    import spark.implicits._
    val indexed = events
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy(col("event_type"), col("ts_us"), col("event_id"))
      .as[(Long, String, Double, Long)]
      .rdd.zipWithIndex()
      .map { case ((id, et, v, ts), idx) => (id, et, v, ts, idx) }
      .toDF("event_id", "event_type", "value", "ts_us", "gidx")
    val bases = indexed.groupBy(col("event_type").as("et"))
      .agg(min(col("gidx")).as("base"))
    val rows = indexed
      .join(broadcast(bases), col("event_type") === col("et"))
      .withColumn("sidx", col("gidx") - col("base"))
      .withColumn("chunk", Chunks.key(col("sidx"), chunkRows))
      .select("event_id", "event_type", "value", "sidx", "chunk")
    val wC = Chunks.within(Seq(col("sidx")))
    Chunks.withHalo(rows,
      (col("sidx") % chunkRows >= chunkRows - (n - 1)) -> (col("chunk") + 1),
      (col("sidx") % chunkRows === 0 && col("chunk") > 0) -> (col("chunk") - 1))
      .withColumn("seq",
        collect_list(col("value")).over(wC.rowsBetween(-(n - 1), 0)))
      .withColumn("target", lead(col("value"), 1).over(wC))
      .filter(Chunks.own && size(col("seq")) === n && col("target").isNotNull)
      .select(col("event_id"), col("event_type"), col("seq"), col("target"))
  }

  /** W9: tail-N latest window per event_type (`evaluation.py:163-167`
    * takes `df.tail(seq_length)` of the single series; per-symbol top-k
    * here). rank-desc + filter — a per-partition top-k, no global sort.
    */
  def tailN(events: DataFrame, n: Int): DataFrame =
    events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") <= n)
      // epoch-µs long, not raw TimestampType: parquet µs vs DuckDB ns
      // units would otherwise make strict schema/value compares flaky.
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** O3: global top-k with deterministic tie-break — Spark plans
    * `orderBy().limit()` as TakeOrderedAndProject: per-partition heaps,
    * driver merge of k rows, no global sort.
    */
  def topK(orders: DataFrame, k: Int): DataFrame =
    orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(k)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** O4: union of "month files" — the reference concatenates per-month
    * frames (`training.py:74-82`); here the same table split into disjoint
    * halves and re-unioned by name.
    */
  def unionParts(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_id") % 2 === 0)
    val b = events.filter(col("event_id") % 2 === 1)
    a.unionByName(b).select(col("event_id"), col("event_type"), col("value"))
  }

  /** O2: deterministic limit (head) — first k rows in event_id order. */
  def headK(events: DataFrame, k: Int): DataFrame =
    events.orderBy(col("event_id")).limit(k)
      .select(col("event_id"), col("event_type"), col("value"))

  /** Set ops (SURVEY §2.6 free built-ins): ids matching BOTH predicates
    * (intersect) and ids matching the first but not the second (except),
    * tagged and unioned into one result.
    */
  def setOps(events: DataFrame): DataFrame = {
    val hi = events.filter(col("value") > 90.0).select(col("event_id"))
    val even = events.filter(col("user_id") % 2 === 0).select(col("event_id"))
    hi.intersect(even).withColumn("op", lit("intersect"))
      .unionByName(hi.except(even).withColumn("op", lit("except")))
  }

  /** Ranking-analytics family over a per-group order: rank, dense_rank,
    * percent_rank, cume_dist for the top-k orders by price within each
    * priority class. Deterministic total order (price desc, key asc)
    * keeps every rank engine-exact; percent_rank/cume_dist are exact
    * rationals of counts, identical in any IEEE engine. One window over
    * per-priority partitions — parallel across groups at any scale.
    */
  def rankMetrics(orders: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders
      .withColumn("rnk", rank().over(w))
      .withColumn("dense_rnk", dense_rank().over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .filter(col("rnk") <= k)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("rnk"), col("dense_rnk"), col("pct_rank"), col("cume"))
  }
}
