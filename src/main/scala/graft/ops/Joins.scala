package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The extended join surface (SURVEY §2.3, J1-J4).
  *
  * The reference contains no relational join (its only multi-dataset
  * combination is a positional zip, `/root/reference/components/
  * datalake_cr.py:23`), but the engine ships the standard surface as
  * first-class queries over the star schema:
  *
  *  - J1 broadcast-hash dimension join: dims are explicitly
  *    `broadcast()`-hinted — at 100 TB the fact side never shuffles for a
  *    dimension lookup; each executor streams its fact partitions against
  *    replicated hash tables.
  *  - J2 large-large join (lineitem ⋈ orders) left un-hinted: Catalyst/AQE
  *    picks shuffled-hash or sort-merge on the join key, which is the only
  *    shape that survives when neither side fits in memory.
  *  - J3 left-semi / left-anti: existence checks that never materialize
  *    the probe side's payload.
  *  - J4 as-of join (the canonical financial join): each event matched to
  *    the latest hourly bar that closed at-or-before its timestamp.
  *    Implemented Spark-first as union + `last(ignoreNulls)` over a
  *    per-symbol ordered window — one shuffle on the symbol key, no range
  *    cross-join, no per-row probe. DuckDB's native `ASOF JOIN` is the
  *    oracle.
  */
object Joins {

  /** J1: revenue rollup through the full dimension chain
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    *
    * Hint discipline: only the BOUNDED dimensions (nation: 25 rows,
    * region: 5 — constant at any scale factor) carry `broadcast()`.
    * customer/orders grow with the dataset — force-broadcasting them
    * works at sf0.1 and OOMs a 100 TB cluster; AQE picks broadcast vs
    * shuffle for those at runtime from actual sizes.
    */
  def starRevenue(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                  nation: DataFrame, region: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_items"))

  /** J2: large-large equi-join, deliberately un-hinted — Catalyst/AQE
    * chooses the physical join. Aggregates by order priority so the
    * result is small regardless of scale.
    */
  def largeJoin(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice")).as("sum_price"),
        avg(col("o_totalprice")).as("avg_order_total"))

  /** J3a: customers that placed at least one high-value order
    * (left-semi: existence only, orders' payload never joins through).
    */
  def semiJoin(customer: DataFrame, orders: DataFrame, minTotal: Double): DataFrame =
    customer
      .join(orders.filter(col("o_totalprice") > minTotal),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("c_acctbal")).as("sum_acctbal"))

  /** J3b: customers with no orders at all (left-anti). */
  def antiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("c_acctbal")).as("sum_acctbal"))

  /** Skew-safe equi-join: salt the skewed (large) side's key into
    * `saltBuckets` sub-keys and explode the build side across all salt
    * values, so one hot key spreads over `saltBuckets` tasks instead of
    * one straggler. This is the manual fallback for skew AQE can't fix
    * (e.g. a broadcast-ineligible build side with one dominant key).
    * Results are identical to a plain inner equi-join.
    */
  def saltedJoin(large: DataFrame, largeKey: String,
                 small: DataFrame, smallKey: String,
                 saltBuckets: Int): DataFrame = {
    val salted = large.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)).cast("int"))
    val exploded = small.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(exploded,
      salted(largeKey) === exploded(smallKey) &&
        salted("_salt") === exploded("_salt"))
      .drop("_salt")
  }

  /** [[asofJoin]] for the deep-single-symbol regime ([[asofChunked]]):
    * the carry is the close of the last bar of the chunks before. Output
    * row-identical to [[asofJoin]] (parity-spec'd).
    */
  def asofJoinChunked(events: DataFrame,
                      chunkMicros: Long = 6L * 3600L * 1000000L): DataFrame =
    asofChunked(events, chunkMicros, forward = false)

  /** FORWARD as-of join — the label-generation direction: each event
    * paired with the OPEN of the next hourly bar starting at or after
    * its timestamp (supervised targets look forward; the backward
    * [[asofJoin]] enriches features). Same union + windowed-carry shape,
    * run over the REVERSED time order: `last(ignoreNulls)` under an
    * unbounded-preceding running frame on `t DESC` picks the nearest bar
    * at-or-after each event. (The direct spelling — `first(ignoreNulls)`
    * over currentRow→unboundedFollowing — is a trap: Spark's
    * UnboundedFollowing frame rescans to the partition end for EVERY
    * row, O(n²); measured 56 s vs 0.5 s at sf0.1.) Bars sort before
    * events at equal t so a bar opening exactly at the event's instant
    * matches (inclusive >=). One shuffle, no range cross-join, parallel
    * per symbol.
    */
  def asofJoinForward(events: DataFrame): DataFrame = {
    val hourly = Resample.ohlcHourlyTs(events)
    val bars = hourly.select(
      col("event_type"),
      col("bucket_ts").as("t"),
      lit(1).as("is_bar"),
      col("open").as("bar_open"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("value"))
    val evs = events.select(
      col("event_type"),
      col("ts").as("t"),
      lit(0).as("is_bar"),
      lit(null).cast("double").as("bar_open"),
      col("event_id"),
      col("value"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t").desc, col("is_bar").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars.unionByName(evs)
      .withColumn("next_open",
        last(col("bar_open"), ignoreNulls = true).over(w))
      .filter(col("is_bar") === 0)
      .select(col("event_id"), col("event_type"), col("value"),
        col("next_open"))
  }

  /** [[asofJoinForward]] for the deep-single-symbol regime
    * ([[asofChunked]] over reversed time): the carry is the open of the
    * first bar of the chunks after. Output row-identical to
    * [[asofJoinForward]] (parity-spec'd across chunk sizes).
    */
  def asofJoinForwardChunked(events: DataFrame,
                             chunkMicros: Long = 6L * 3600L * 1000000L): DataFrame =
    asofChunked(events, chunkMicros, forward = true)

  /** The [[Chunks]] carry of the as-of joins: the carry-forward window
    * runs per `(symbol, time-chunk)` instead of per symbol. The state
    * across chunks is one number — the bar value in force at the chunk's
    * edge — from a per-chunk bar summary (the chunk's edge bar: last bar
    * backward, first bar forward), `last(ignoreNulls)` over the chunks
    * before in the direction of travel, so bar-less chunks inherit
    * through gaps. It enters each chunk as a seed pseudo-row at the
    * chunk's edge in that direction (`chunk·µs` backward, `(chunk+1)·µs`
    * forward — strictly beyond every in-chunk `t_us`), tagged
    * `is_bar = 2` so it sorts before any native row at the same instant.
    */
  private def asofChunked(events: DataFrame, chunkMicros: Long,
                          forward: Boolean): DataFrame = {
    val (barTs, barValue, carried, edge, running) =
      if (forward) ("bucket_ts", "open", "bar_open", "chunk_first_bar", "next_open")
      else ("bucket_end", "close", "bar_close", "chunk_last_bar", "last_close")
    val hourly = Resample.ohlcHourlyTs(events)
    val bars = hourly.select(
      col("event_type"), unix_micros(col(barTs)).as("t_us"),
      lit(1).as("is_bar"), col(barValue).as(carried),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("value"))
    val evs = events.select(
      col("event_type"), unix_micros(col("ts")).as("t_us"),
      lit(0).as("is_bar"), lit(null).cast("double").as(carried),
      col("event_id"), col("value"))
    val un = bars.unionByName(evs)
      .withColumn("chunk", Chunks.key(col("t_us"), chunkMicros))
    val chunksAll = un.select(col("event_type"), col("chunk")).distinct()
    val edgeBar = un.filter(col("is_bar") === 1)
      .groupBy(col("event_type"), col("chunk"))
      .agg((if (forward) min_by(col(carried), col("t_us"))
        else max_by(col(carried), col("t_us"))).as(edge))
    val seeds = chunksAll
      .join(edgeBar, Seq("event_type", "chunk"), "left")
      .withColumn("seed", last(col(edge), ignoreNulls = true)
        .over(Chunks.before(if (forward) col("chunk").desc else col("chunk"))))
      .filter(col("seed").isNotNull)
      .select(col("event_type"), col("chunk"),
        ((if (forward) col("chunk") + 1 else col("chunk")) * chunkMicros).as("t_us"),
        lit(2).as("is_bar"),
        col("seed").as(carried),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
    val w = Chunks.growing(
      Seq(if (forward) col("t_us").desc else col("t_us").asc, col("is_bar").desc))
    un.unionByName(seeds)
      .withColumn(running, last(col(carried), ignoreNulls = true).over(w))
      .filter(col("is_bar") === 0)
      .select(col("event_id"), col("event_type"), col("value"),
        if (forward) col(running) else col(running).as(carried))
  }

  /** Bucketed range (interval) join: each left row whose `leftTs` falls in
    * a right-side `[startCol, endCol)` interval of the same key, WITHOUT
    * the naive theta-join (which Spark can only plan as a key-equi join
    * followed by a per-key cross product — quadratic for hot keys, and a
    * broadcast-nested-loop disaster when the key is absent).
    *
    * Shape: pick a bucket width ≥ the longest interval; each left row
    * lands in exactly ONE bucket (`floor(t / W)`); each interval is
    * exploded to the ≤ `len/W + 1` buckets it overlaps. The join becomes a
    * plain equi-join on `(key, bucket)` — hash-partitioned, AQE-planned,
    * skew-splittable — with the exact `start ≤ t < end` predicate applied
    * as a post-filter. No duplicates to clean up: one bucket per probe row
    * means each (row, interval) pair meets at most once. This is the
    * standard scale form of interval joins (same family as the as-of
    * union trick above); cost is |left| + Σ(interval spans) rows through
    * one shuffle, never |left| × |right per key|.
    *
    * Timestamps are long microseconds so the bucket arithmetic is exact.
    * `endCol` is exclusive; intervals shorter than W still explode to the
    * 1–2 buckets they touch (the `(end − 1) / W` upper bound is inclusive
    * of the bucket containing the last contained instant only).
    */
  def rangeJoin(left: DataFrame, leftKey: String, leftTsUs: String,
                right: DataFrame, rightKey: String,
                startUs: String, endUs: String,
                bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    val l = left.withColumn("_rj_bucket", floor(col(leftTsUs) / bucketMicros))
    // Empty/inverted intervals (end <= start) must be dropped BEFORE the
    // explode: `sequence` steps DOWNWARD when its bounds invert, so one
    // corrupt row would otherwise enumerate every bucket between the two
    // values — an unbounded blowup the exact post-filter can't prevent.
    val r = right.filter(col(endUs) > col(startUs))
      .withColumn("_rj_bucket", explode(sequence(
        floor(col(startUs) / bucketMicros),
        floor((col(endUs) - 1) / bucketMicros))))
    l.join(r,
      l("_rj_bucket") === r("_rj_bucket") &&
        l(leftKey) === r(rightKey) &&
        l(leftTsUs) >= r(startUs) && l(leftTsUs) < r(endUs))
      .drop("_rj_bucket")
  }

  /** Range-join showcase query: activity inside "volatile windows".
    * Hourly bars whose close moved more than `retThreshold` vs the prior
    * bar open a `windowHours`-hour interval; every event of the same
    * symbol inside any such interval is range-joined in and aggregated
    * per window. The interval side is derived (tiny vs the event log) but
    * the join itself is the generic bucketed [[rangeJoin]] — at 100 TB
    * the event side never sees anything but one hash shuffle on
    * `(symbol, bucket)`.
    */
  def eventsInVolatileWindows(events: DataFrame,
                              retThreshold: Double = 2.0,
                              windowHours: Int = 2): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val windows = Resample.ohlcHourly(events)
      .withColumn("ret", col("close") / lag(col("close"), 1).over(byType) - 1)
      .filter(abs(col("ret")) > retThreshold)
      .select(col("event_type").as("w_type"),
        (col("bucket") * 1000000L).as("w_start"),
        ((col("bucket") + windowHours * 3600L) * 1000000L).as("w_end"))
    val evs = events.select(col("event_type"), col("value"),
      unix_micros(col("ts")).as("t_us"))
    rangeJoin(evs, "event_type", "t_us",
      windows, "w_type", "w_start", "w_end",
      bucketMicros = windowHours * 3600L * 1000000L)
      .groupBy(col("event_type"), col("w_start"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
  }

  /** Generic as-of join over arbitrary schemas — the library form of the
    * specialized [[asofJoin]]/[[asofJoinForward]] (which remain the
    * benched flagship compositions). Each left row picks up
    * `payloadCols` from the LATEST right row at-or-before its timestamp
    * (or the EARLIEST at-or-after, with `forward = true`), matched within
    * equal `keyCols`.
    *
    * Same proven shape: union the tagged sides, one window per the key
    * columns ordered by (t, right-sorts-first-at-ties), carry each
    * payload with `last(ignoreNulls)` over the running frame, keep left
    * rows. One shuffle on the keys, linear per key group, never a range
    * cross-join; `forward` reverses the time order rather than using the
    * O(n²) unbounded-FOLLOWING frame (see [[asofJoinForward]]).
    * Timestamps are compared as the raw column values — pass epoch
    * numbers or native timestamps, but the same type on both sides.
    */
  def asofJoinGeneric(left: DataFrame, right: DataFrame,
                      keyCols: Seq[String],
                      leftTs: String, rightTs: String,
                      payloadCols: Seq[String],
                      forward: Boolean = false): DataFrame = {
    val missing = payloadCols.filterNot(right.columns.contains)
    require(missing.isEmpty,
      s"payloadCols not found in right side: ${missing.mkString(", ")}")
    val clash = payloadCols.filter(left.columns.contains)
    require(clash.isEmpty,
      s"payloadCols collide with left columns (rename before joining): ${clash.mkString(", ")}")
    val leftRest = left.columns.toSeq.filterNot(c => keyCols.contains(c) || c == leftTs)
    val rightTypes = right.schema.fields.map(f => f.name -> f.dataType).toMap
    val leftTypes = left.schema.fields.map(f => f.name -> f.dataType).toMap
    val lTagged = left.select(
      keyCols.map(col) ++
        Seq(col(leftTs).as("_t"), lit(0).as("_is_r")) ++
        payloadCols.map(c => lit(null).cast(rightTypes(c)).as(s"_p_$c")) ++
        Seq(col(leftTs).as(leftTs)) ++
        leftRest.map(col): _*)
    val rTagged = right.select(
      keyCols.map(col) ++
        Seq(col(rightTs).as("_t"), lit(1).as("_is_r")) ++
        payloadCols.map(c => col(c).as(s"_p_$c")) ++
        Seq(lit(null).cast(leftTypes(leftTs)).as(leftTs)) ++
        leftRest.map(c => lit(null).cast(leftTypes(c)).as(c)): _*)
    val order =
      if (forward) Seq(col("_t").desc, col("_is_r").desc)
      else Seq(col("_t").asc, col("_is_r").desc)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(lTagged.unionByName(rTagged)) {
      (df, c) => df.withColumn(c, last(col(s"_p_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("_is_r") === 0)
      .select((keyCols :+ leftTs) ++ leftRest ++ payloadCols map col: _*)
  }

  /** J4: as-of join — each event picks up the close of the latest hourly
    * bar (same event_type) that closed at-or-before the event's timestamp.
    *
    * Union the bar stream (keyed at `bucket_end`, the instant the bar
    * becomes knowable) with the event stream, sort per symbol by time with
    * bars winning ties, and carry the last seen bar close forward with
    * `last(ignoreNulls)`. One shuffle on event_type, linear scan per
    * symbol — the standard scale-safe as-of shape (vs. a range cross-join
    * that would explode at 100 TB).
    */
  def asofJoin(events: DataFrame): DataFrame = {
    val hourly = Resample.ohlcHourlyTs(events)
    val bars = hourly.select(
      col("event_type"),
      col("bucket_end").as("t"),
      lit(1).as("is_bar"),
      col("close").as("bar_close"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("value"))
    val evs = events.select(
      col("event_type"),
      col("ts").as("t"),
      lit(0).as("is_bar"),
      lit(null).cast("double").as("bar_close"),
      col("event_id"),
      col("value"))
    // Bars sort before events at equal t: a bar closing exactly at the
    // event's timestamp is already knowable (ASOF's >= semantics).
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t").asc, col("is_bar").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars.unionByName(evs)
      .withColumn("last_close", last(col("bar_close"), ignoreNulls = true).over(w))
      .filter(col("is_bar") === 0)
      .select(col("event_id"), col("event_type"), col("value"),
        col("last_close").as("bar_close"))
  }
}
