package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{ScratchDirs, Sinks, Sources}

/** End-to-end golden paths: the reference's full ETL chain (extract →
  * transform → load → export) compressed into verifiable queries.
  * Mirrors `etl_to_duckdb` (`/root/reference/airflow/dags/new6.py:68-98`)
  * with the XCom/stringly hand-offs replaced by typed Scala values
  * (SURVEY §3.1).
  */
object Pipeline {

  private val stagedCsvSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** ETL roundtrip: events → header-less CSV landing zone (S6-shaped
    * write) → explicit-schema CSV scan (S3) → hourly OHLC (A1) → per-type
    * rollup. The oracle computes the same rollup straight from the parquet
    * — equality proves the CSV encode/decode and schema enforcement are
    * lossless (timestamps staged as epoch-µs longs; doubles round-trip via
    * Java's shortest-repr formatting).
    */
  def etlRoundtrip(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val tmp = ScratchDirs.create("etl").toString
    events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .write.mode("overwrite").option("header", "false").csv(s"$tmp/landing")
    val restored = Sources.readCsv(spark, s"$tmp/landing", stagedCsvSchema)
      .withColumn("ts", timestamp_micros(col("ts_us")))
    Resample.ohlcHourly(restored)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("volume")).as("total_volume"),
        sum(col("n_trades")).as("total_trades"),
        max(col("high")).as("max_high"),
        min(col("low")).as("min_low"))
  }

  /** Warehouse roundtrip: hourly OHLC → managed table (S10, the
    * reference's DuckDB CTAS) → read back via the catalog → summary. The
    * CSV export (S11) runs on the summary and is re-read to prove the
    * header round-trip.
    */
  def warehouseRoundtrip(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val tmp = ScratchDirs.create("wh").toString
    val hourly = Resample.ohlcHourly(events)
    Sinks.saveTable(hourly, "aggregated_financial_data", s"$tmp/table")
    val back = spark.table("aggregated_financial_data")
    val summary = back.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("volume")).as("total_volume"))
    Sinks.exportCsv(summary, s"$tmp/export")
    val exportSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("n_buckets", LongType),
      StructField("total_volume", DoubleType)))
    Sources.readCsvWithHeader(spark, s"$tmp/export", exportSchema)
  }

  /** The LLM-curation golden path as ONE composed query: quality gate →
    * normalization-insensitive dedup (min-id canonical per normalized
    * key, left-semi — payloads never shuffle) → deterministic 50%
    * content-hash sample → per-lang corpus stats. Each stage is an
    * operator verified on its own elsewhere; this proves they COMPOSE
    * into the pipeline a corpus team actually runs, end-to-end oracled.
    */
  def curationPipeline(documents: DataFrame,
                       qualityThreshold: Double = 0.37): DataFrame = {
    val kept = documents.join(
      TextAnalysis.qualityScore(documents)
        .filter(col("quality") >= qualityThreshold)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val canonical = kept
      .groupBy(Similarity.normalizedKey(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = kept.join(canonical, Seq("doc_id"), "left_semi")
    Sampling.hashSample(deduped, "doc_id", 0.5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** [[curationPipeline]] with the corpus-level boilerplate stage in
    * front — the full clean-corpus chain as one composed, oracled query:
    * span dedup rewrites every document (docs scrubbed empty drop out),
    * then the quality gate, normalization-insensitive dedup and
    * deterministic sample run over the CLEANED text, and the final stats
    * measure what would actually ship to training. Stage order matters
    * and is the production order: boilerplate removal changes quality
    * scores and normalized keys, so it must run first.
    */
  def curationFull(documents: DataFrame,
                   qualityThreshold: Double = 0.37,
                   spanTokens: Int = 10): DataFrame = {
    // The cleaned corpus feeds FOUR plan branches (quality score, the
    // kept semi-join, the canonical grouping, the final aggregate);
    // without pinning, each re-runs the whole span pipeline — measured
    // 4× at 500k docs (25 s vs 6 s for one span-dedup pass). At lake
    // scale this is where the cleaned corpus becomes a written artifact;
    // in-plan, localCheckpoint materializes it once and cuts the lineage.
    val cleaned = documents.select(col("doc_id"), col("lang"), col("source"))
      .join(
        TextAnalysis.dedupSpans(documents, spanTokens)
          .filter(col("clean_text") =!= "")
          .select(col("doc_id"), col("clean_text").as("text")),
        Seq("doc_id"))
      .localCheckpoint()
    val kept = cleaned.join(
      TextAnalysis.qualityScore(cleaned)
        .filter(col("quality") >= qualityThreshold)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val canonical = kept
      .groupBy(Similarity.normalizedKey(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = kept.join(canonical, Seq("doc_id"), "left_semi")
    Sampling.hashSample(deduped, "doc_id", 0.5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
  }

  private val jsonlDocSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** JSONL roundtrip: documents → JSON-Lines landing zone
    * ([[Sinks.writeJsonl]]) → explicit-schema FAILFAST scan
    * ([[Sources.readJsonl]]) → per-language rollup. The oracle computes
    * the same rollup straight from the parquet — equality proves the
    * JSONL encode/decode is lossless for the document corpus (unicode
    * text, nulls, 64-bit ids) and that the declared schema binds by NAME
    * (JSONL, unlike the positional CSV landing zone, survives field
    * reordering). FAILFAST because a roundtrip of our own write must be
    * clean — a malformed line here is a bug, not crawl dirt.
    */
  def jsonlRoundtrip(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val tmp = ScratchDirs.create("jsonl").toString
    Sinks.writeJsonl(documents, s"$tmp/landing")
    val restored = Sources.readJsonl(spark, s"$tmp/landing", jsonlDocSchema,
      mode = "FAILFAST")
    restored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** Per-source data card — the governance summary a curation run
    * publishes next to its output (the "datasheet" row per source: how
    * much, how clean, how diverse): doc/token/char volume, exact-dup
    * count, mean quality ([[TextAnalysis.qualityScore]]'s exact
    * semantics, reused not re-derived), and the language-mix entropy
    * −Σ (c/n)·log2(c/n) that flags a source silently collapsing to one
    * language.
    *
    * Scale shape: ONE map pass projects per-doc facts (token count,
    * length, 16-byte content key); everything aggregates by source —
    * thousands of groups, not corpus-sized. The exact distinct rides the
    * (source, key) hash aggregate; the language histogram is a
    * (source, lang) aggregate re-joined source-wise (≤ sources×langs
    * rows). The quality join is doc_id-keyed, skew-free. At 100 TB every
    * shuffle here carries keys and counters only.
    *
    * `estimated_pair_mass` (r17 verdict #7) is the corpus's measured
    * exact-pairing candidate mass at `pairMassThreshold`
    * ([[Similarity.cosinePreflight]]: Σ_t C(cnt,2) over the suffix-bound
    * prefix — integer-exact, hence oracled): the number the governed
    * dedup routers ([[Similarity.neardupGoverned]] family) judge
    * their budget against, published as a per-run curation metric so
    * capacity planning reads it off the card instead of launching a
    * probe. One corpus-wide scalar, broadcast onto the per-source rows;
    * its cost is the preflight's linear prefix build.
    */
  def dataCard(documents: DataFrame,
               pairMassThreshold: Double = 0.85): DataFrame = {
    // A double sum's last bits follow the order the shuffle delivers its
    // rows in, and the card must not change with the partitioning: each
    // term is rounded to 18 decimal places, summed exactly as a decimal,
    // and the total rounded once to double.
    def exactSum(c: Column): Column = sum(c.cast(DecimalType(38, 18))).cast("double")
    val toks = split(lower(col("text")), " ")
    // Stable-cut (r18-opt): perDoc feeds the per-source rollup AND the
    // language-entropy branch — lazily each re-ran the doc projection,
    // the md5, the quality formula and the corpus-sized merge join
    // (plans/r18/data_card_before.txt: 5 scans, 13 exchanges). The cut
    // is one narrow row per doc (ids, counts, hash, quality) — far
    // smaller than the text it derives from.
    val perDoc = Checkpoints.stable(documents
      .select(col("doc_id"), col("source"), col("lang"),
        size(toks).cast("long").as("n_toks"),
        length(col("text")).cast("long").as("n_chr"),
        md5(col("text")).as("h"))
      // merge-hinted: both sides corpus-sized (jaccard_allpairs precedent)
      .join(TextAnalysis.qualityScore(documents)
        .select(col("doc_id"), col("quality")).hint("merge"), "doc_id"))
    val bySource = perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      sum(col("n_chr")).as("n_chars"),
      countDistinct(col("h")).as("n_unique"),
      (exactSum(col("quality")) / count(col("quality"))).as("mean_quality"))
    val ent = perDoc.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .join(bySource.select(col("source"), col("n_docs")), "source")
      .groupBy(col("source"))
      .agg(exactSum((col("c").cast("double") / col("n_docs").cast("double")) *
        (log2(col("n_docs").cast("double")) - log2(col("c").cast("double"))))
        .as("lang_entropy"))
    bySource.join(ent, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_docs") - col("n_unique")).as("n_exact_dups"),
        col("mean_quality"), col("lang_entropy"))
      .crossJoin(broadcast(
        Similarity.cosinePreflight(Similarity.cosineFeatsAndPrefix(
          documents, pairMassThreshold, cutPref = false)._2)
          .select(col("estimated_pairs").as("estimated_pair_mass"))))
  }
}
