package graft

import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.io.{ScratchDirs, Tables}

/** `Tables.events` must adapt to both `ts` encodings the testdata generator
  * has shipped: TIMESTAMP(NANOS) — unreadable natively by Spark 4, surfaced
  * as a long via the legacy nanosAsLong conf — and plain TIMESTAMP_MICROS
  * (TIMESTAMP_NTZ to Spark). Round 8 hard-coded the nanos branch and every
  * events query broke when the generator switched to micros; this pins both
  * paths on local fixtures so neither encoding can regress silently again.
  *
  * `Tables.parquet` infers an input's schema once per JVM: later reads,
  * and so the frames of the registered queries, start no Spark job.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val confKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fixtureRow(tsCol: org.apache.spark.sql.Column) =
    Seq((1L, 1718000000123456L, 10L, "view", 1.5, """{"k":"v"}"""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))

  test("events: micros/NTZ encoding reads directly, no conf left behind") {
    val dir = ScratchDirs.create("events_ntz").toString
    // timestamp_micros gives TimestampType; strip the zone label so the file
    // is written as isAdjustedToUTC=false micros — the regenerated testdata.
    fixtureRow(expr("to_timestamp_ntz(timestamp_micros(us))"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.conf.unset(confKey)

    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).head().getLong(0) ==
      1718000000123456L)
    // getOption surfaces the registered default ("false"), so "restored"
    // means back to the pre-call value — NOT left flipped to "true".
    assert(spark.conf.get(confKey) == "false",
      "micros path must restore the session conf")
  }

  test("events: long-surfaced nanos encoding converts to µs timestamps") {
    val dir = ScratchDirs.create("events_ns").toString
    // Spark can't WRITE parquet TIMESTAMP(NANOS); a plain int64 column is
    // exactly what the nanosAsLong conf surfaces the old encoding as, so it
    // exercises the same LongType branch of the reader.
    fixtureRow((col("us") * 1000L).cast(LongType))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).head().getLong(0) ==
      1718000000123456L)
  }

  test("events: ts predicates push through the NTZ cast to the parquet scan") {
    // The micros path relabels ts via cast(TIMESTAMP_NTZ → TIMESTAMP); under
    // a UTC session Catalyst rewrites comparisons to NTZ literals and pushes
    // them into the scan. At 100 TB a ts range filter that is NOT in
    // PushedFilters re-reads every row group — pin it.
    //
    // Pushdown is only POSSIBLE under the micros encoding: the nanos
    // encoding surfaces ts as a long and derives the timestamp via
    // timestamp_micros(ts div 1000), which no scan predicate can cross.
    // The generator has shipped both encodings (it switched between
    // rounds 7 and 8), so detect what the CURRENT testdata uses the same
    // way Tables.events does and only assert pushdown when it can exist —
    // under nanos, assert the conversion path filters correctly instead.
    val confPrev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "true")
    val rawIsLong = try {
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .schema("ts").dataType == LongType
    } finally confPrev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None    => spark.conf.unset(confKey)
    }

    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val filtered = ev
      .filter(col("ts") >= lit("2025-01-01 00:00:00").cast(TimestampType))
      .select("event_id", "ts", "value")
    if (!rawIsLong) {
      val p = filtered.queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), p)
    } else {
      // nanos fixture path: the reader adapts but cannot push the
      // predicate — pin the SEMANTICS (no row below the bound survives)
      assert(filtered.filter(col("ts") < lit("2025-01-01 00:00:00")
        .cast(TimestampType)).count() == 0L)
    }
  }

  test("events: real testdata reads and the ts column is usable") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampType)
    // the exact shape round 8 died on: date_trunc + comparison over ts
    val n = ev.filter(col("ts") >= lit("2000-01-01").cast(TimestampType))
      .select(date_trunc("hour", col("ts"))).limit(5).count()
    assert(n > 0)
  }

  test("parquet: a second read of each sf0.001 table starts no job and reads what spark.read.parquet reads") {
    val names = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.length == 10)
    names.foreach { name =>
      Tables.table(spark, sf, name)
      var df: DataFrame = null
      assert(jobsOf { df = Tables.table(spark, sf, name); df.schema }.isEmpty, name)
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      assert(df.schema == plain.schema, name)
      assert(rows(df) == rows(plain), name)
    }
  }

  test("parquet: a file rewritten at the same path with another schema is inferred again") {
    val dir = ScratchDirs.create("tables_rewrite")
    def partFile(df: DataFrame, sub: String) = {
      df.coalesce(1).write.parquet(s"$dir/$sub")
      Files.list(dir.resolve(sub)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val first = partFile(spark.range(3).toDF("id"), "a")
    val second = partFile(spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s"), "b")
    val path = dir.resolve("t.parquet")
    Files.copy(first, path)
    assert(Tables.parquet(spark, path.toString).columns.toSeq == Seq("id"))
    assert(jobsOf(Tables.parquet(spark, path.toString).schema).isEmpty)
    Files.copy(second, path, StandardCopyOption.REPLACE_EXISTING)
    var df: DataFrame = null
    assert(jobsOf { df = Tables.parquet(spark, path.toString); df.schema }.nonEmpty)
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(rows(df) == Seq("[0,0]", "[1,1]", "[2,2]"))
  }

  test("parquet: a session *.parquet.* conf entry keys its own schema") {
    val path = s"$sf/region.parquet"
    val key = "spark.sql.parquet.enableVectorizedReader"
    Tables.parquet(spark, path)
    spark.conf.set(key, "false")
    try {
      assert(jobsOf(Tables.parquet(spark, path).schema).nonEmpty)
      assert(jobsOf(Tables.parquet(spark, path).schema).isEmpty)
    } finally spark.conf.unset(key)
    assert(jobsOf(Tables.parquet(spark, path).schema).isEmpty)
  }

  test("events: the same ts column with nanosAsLong set and unset beforehand") {
    val ntz = ScratchDirs.create("events_ntz").toString
    fixtureRow(expr("to_timestamp_ntz(timestamp_micros(us))"))
      .write.parquet(s"$ntz/events.parquet")
    val long = ScratchDirs.create("events_ns").toString
    fixtureRow((col("us") * 1000L).cast(LongType))
      .write.parquet(s"$long/events.parquet")
    def ts(dir: String) = {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, dir)
      rows(ev.select(unix_micros(col("ts")), col("event_id")))
    }
    val prev = spark.conf.getOption(confKey)
    try Seq(ntz, long, sf).foreach { dir =>
      spark.conf.set(confKey, "true")
      val set = ts(dir)
      spark.conf.unset(confKey)
      val unset = ts(dir)
      assert(set == unset, dir)
      if (dir != sf) assert(set == Seq("[1718000000123456,1]"), dir)
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None    => spark.conf.unset(confKey)
    }
  }

  /** The 15 cheap queries of the etlbench query_session workload: no
    * scratch artifact, so their frame build is the per-query floor.
    */
  private val cheapQueries = Seq("ohlc_hourly", "macd", "vwap_hourly",
    "sessionize", "join_star", "json_props", "cast_project", "seq_topk",
    "sample_hash", "pack_chunks", "pii_scrub", "multimodal_meta",
    "text_stats", "bpe_pairs", "etl_roundtrip")

  test("floor: building a cheap registered query a second time starts no job") {
    cheapQueries.foreach { q =>
      SparkEntry.queries(q)(spark, sf)
      val jobs = jobsOf(SparkEntry.queries(q)(spark, sf))
      // etl_roundtrip lands its CSV while its frame is built: those jobs
      // are the landing write's SQL execution, not a schema read
      assert(!jobs.contains(false), s"$q: ${jobs.count(!_)} jobs outside a SQL execution")
      if (q != "etl_roundtrip") assert(jobs.isEmpty, s"$q: ${jobs.size} jobs")
    }
  }
}
