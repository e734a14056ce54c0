package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.{ScratchDirs, Tables}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 gets one named entry in
  * [[queries]]; the SQL-expressible ones get a DuckDB oracle in
  * [[oracleSql]] over the same parquet tables (driver registers each
  * `<table>.parquet` under its bare table name). Column names/aliases are
  * kept identical on both sides — the driver sorts columns by name before
  * hashing values.
  */
object SparkEntry {

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  private def li(s: SparkSession, d: String): DataFrame = Tables.lineitem(s, d)

  // ------------------------------------------------------ scratch artifacts

  /** What a scratch build reads: the session, the data dir, and the dirs
    * of the upstream artifacts it declared (built before it).
    */
  private[graft] final case class Inputs(s: SparkSession, d: String,
                                         dirs: Map[String, String]) {
    def documents: DataFrame = Tables.documents(s, d)
    def embeddings: DataFrame = Tables.embeddings(s, d)
    def read(a: Artifact): DataFrame = Tables.parquet(s, dirs(a.kind))
  }

  /** A session-scoped scratch artifact, declared ONCE in the table below:
    * its kind (the `graft_<kind>_*` dir under java.io.tmpdir and the cache
    * key), the artifacts its build reads, and the build. A build returns
    * the frame to persist, which the cache writes as parquet — first
    * hash-repartitioned by `fanOut`, if given — or writes its own
    * multi-part layout into the dir it is handed and returns None.
    *
    * Keyed fan-out (r18/r19-opt): a build frame inherits its input's
    * split count — ONE split at bench scale — so an unrepartitioned
    * artifact lands as one file and every consumer's doc-keyed work
    * (band mins, verify collect_set, coverage windows, the vec_id = aid
    * join) starts from a one-task scan. The fan-out must be hash(key),
    * not round-robin: consumers aggregate or join by that key, and a
    * round-robin scatter gives each task a corpus-sized partial-agg hash
    * map (measured 168 s of spill at the sf1 decade vs ~30 s keyed). AQE
    * does not re-coalesce an explicit repartition; defaultParallelism
    * scales with the session's cores; consumers are order-free.
    */
  private[graft] final case class Artifact(kind: String,
      upstream: Seq[Artifact] = Nil, fanOut: Option[String] = None)(
      val build: (Inputs, String) => Option[DataFrame])

  /** Built artifacts, `<kind>|<data dir>` → artifact dir: one per (kind,
    * data dir), built on first use — the first consumer pays — and reused
    * by every later query in the JVM (session reuse of intermediate
    * results: repeated Bench/Verify runs stop rebuilding, and ann_probe
    * times a probe against the layout ann_lsh built). Builds run one at a
    * time under `buildLock` and never inside a map update: an artifact's
    * upstream is resolved before its own key is checked, so a build that
    * needs another artifact never re-enters the map.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val buildLock = new Object

  /** The dir of `a` for data dir `d`, building it — its upstream first —
    * if this JVM has not. A build that throws leaves no entry and no dir;
    * the next call builds again.
    */
  private[graft] def scratchDir(a: Artifact, s: SparkSession, d: String): String = {
    val key = s"${a.kind}|$d"
    Option(scratchDirs.get(key)).getOrElse {
      val dirs = a.upstream.map(u => u.kind -> scratchDir(u, s, d)).toMap
      buildLock.synchronized {
        Option(scratchDirs.get(key)).getOrElse {
          val base = ScratchDirs.create(a.kind)
          val path = s"$base/${a.kind}"
          try a.build(Inputs(s, d, dirs), path).foreach { df =>
            a.fanOut.fold(df)(k =>
              df.repartition(s.sparkContext.defaultParallelism, col(k)))
              .write.parquet(path)
            // the build's own cuts are dead once the artifact persists
            Checkpoints.release(df)
          } catch { case e: Throwable => ScratchDirs.remove(base); throw e }
          scratchDirs.put(key, path)
          path
        }
      }
    }
  }

  private def scratch(a: Artifact, s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, scratchDir(a, s, d))

  /** Drop every cached scratch artifact (its files and schemas) so the next
    * call rebuilds from source. Bench calls this BETWEEN repeat passes: each
    * pass then pays the same artifact builds a single-shot run would —
    * medians stay comparable to past single-shot rounds, and the
    * build-vs-probe split (ann_lsh vs ann_probe) keeps its meaning.
    */
  private[graft] def resetScratch(): Unit = buildLock.synchronized {
    scratchDirs.values.forEach { p =>
      val base = java.nio.file.Paths.get(p).getParent
      Tables.forget(base.toString)
      ScratchDirs.remove(base)
    }
    scratchDirs.clear()
  }

  // The table. At 100 TB each entry is a lake table one curation run
  // emits and its governance consumers read; re-deriving it per consumer
  // (a corpus sort per quantile, a tokenize per near-dup query) is the
  // scale waste the split removes.

  /** Percentile bounds of lineitem price: ONE range-sort at the union grid
    * of every consumer's quantiles — `exact_quantiles`, `summary_approx`,
    * `winsorize_price` and `robust_scale`.
    */
  private val PriceBounds = Artifact("bounds_li_price") { (in, _) =>
    Some(Stats.exactPercentilesScale(li(in.s, in.d), "l_extendedprice",
      Seq("p05" -> 0.05, "p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75,
        "p90" -> 0.9, "p95" -> 0.95, "p99" -> 0.99)))
  }

  /** Per-doc token counts (the corpus tokenized once) and their quartiles
    * — `length_buckets`.
    */
  private val DocTokenCounts = Artifact("doc_token_counts") { (in, _) =>
    Some(TextAnalysis.tokenCounts(in.documents))
  }

  private val DocTokenBounds =
    Artifact("bounds_doc_tokens", Seq(DocTokenCounts)) { (in, _) =>
      Some(Stats.exactPercentilesScale(in.read(DocTokenCounts), "n_tokens",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)))
    }

  /** Per-doc quality scores (the quality formula run once) and their
    * quartiles — `quality_tiers`, `cluster_keep_best`.
    */
  private val DocQuality = Artifact("doc_quality") { (in, _) =>
    Some(TextAnalysis.qualityScore(in.documents).select("doc_id", "quality"))
  }

  private val DocQualityBounds =
    Artifact("bounds_doc_quality", Seq(DocQuality)) { (in, _) =>
      Some(Stats.exactPercentilesScale(in.read(DocQuality), "quality",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)))
    }

  /** Dup-window starts of the exact-substring dedup (k = 8): discovery
    * runs once; `substring_dedup` (profile) and `substring_dedup_apply`
    * (rewrite) consume it — the paper's profile-once-apply-once split.
    */
  private val DupStarts =
    Artifact("substr_dup_starts", fanOut = Some("doc_id")) { (in, _) =>
      Some(TextAnalysis.dupStarts(in.documents, 8))
    }

  /** The even-id corpus' distinct window fingerprints — the standing
    * "seen spans" set `substring_dedup_incremental` probes.
    */
  private val WindowHashes = Artifact("window_hashes") { (in, p) =>
    TextAnalysis.writeWindowHashes(in.documents.filter(col("doc_id") % 2 === 0), p)
    None
  }

  /** md5 keys of the doc_id < 250 corpus — the standing seen-set of
    * `dedup_incremental` and `dedup_incremental_bloom`.
    */
  private val CorpusKeys = Artifact("corpus_keys") { (in, p) =>
    Similarity.writeCorpusKeys(in.documents.filter(col("doc_id") < 250), p)
    None
  }

  /** Hashed shingles of the full corpus (r18-opt) — the minhash suite's
    * one corpus tokenize: `minhash_neardup` mines it, and the verified
    * pair list below is mined from it once.
    */
  private val ShingleHashes =
    Artifact("minhash_hashes", fanOut = Some("doc_id")) { (in, _) =>
      Some(Similarity.shingleHashes(in.documents))
    }

  /** The verified minhash near-dup pair list (r19-opt), read by
    * `dedup_clusters_lsh`'s closure and `neardup_by_source`'s rollup
    * instead of each re-running the band join + exact verify. The
    * registered `minhash_neardup` query still times the full mine itself
    * — it IS the tier's measured miner.
    */
  private val MinhashPairs =
    Artifact("minhash_pairs", Seq(ShingleHashes)) { (in, _) =>
      Some(Similarity.minhashNearDup(in.read(ShingleHashes)))
    }

  /** The incremental near-dup split: the first 80% of ids are the
    * standing corpus, the rest the arriving batch.
    */
  private def idSplit(docs: DataFrame, batch: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    val bounds = docs.agg(expr("((max(doc_id) + 1) * 8) DIV 10").as("split"))
    docs.crossJoin(broadcast(bounds))
      .filter(if (batch) col("doc_id") >= col("split")
        else col("doc_id") < col("split"))
      .drop("split")
  }

  /** The band+hash index of the standing corpus — probed by
    * `minhash_incremental` and `neardup_governed_incremental`.
    */
  private val MinhashIndex = Artifact("minhash_idx") { (in, p) =>
    Similarity.writeNearDupIndex(idSplit(in.documents, batch = false), p)
    None
  }

  /** The ONE place the cosine artifact's corpus bound and threshold live
    * (r18 verdict "what's wrong #3"): `pref` is threshold-DEPENDENT (the
    * suffix bound embeds t), so a consumer passing a different t than
    * the artifact was built with silently mines at the wrong threshold.
    * Consumers reference these constants; never inline the literals.
    */
  private val CosineDocBound = 1000L
  private val CosineThreshold = 0.85

  /** tf-idf feature (`feats`) + suffix-bound prefix (`pref`) tables of the
    * bounded cosine corpus (r18-opt), read by `cosine_allpairs`,
    * `cosine_preflight` and `cosine_governed` — the capacity estimator,
    * exact miner and governed router of one feature build. Integer-
    * quantized BIGINT columns, so the parquet round-trip is value-exact.
    */
  private val CosineFeats = Artifact("cosine_feats") { (in, p) =>
    val (feats, pref) = Similarity.cosineFeatsAndPrefix(
      in.documents.filter(col("doc_id") < CosineDocBound), CosineThreshold,
      cutPref = true)
    feats.write.mode("overwrite").parquet(s"$p/feats")
    pref.write.mode("overwrite").parquet(s"$p/pref")
    // the cuts are dead once persisted — leave no resident blocks
    Checkpoints.release(feats)
    Checkpoints.release(pref)
    None
  }

  /** The flat semantic-tier cell assignment (aid, cid; nlist = 8, r19-opt)
    * — the quantize→md5-seed→assign prelude `semantic_dedup`,
    * `semantic_clusters`, `semantic_governed` and `semantic_preflight`
    * share. The hier/capped forms keep their own two-level assignment
    * (different cell geometry by design).
    */
  private val SemanticAssign =
    Artifact("semantic_assign", fanOut = Some("aid")) { (in, _) =>
      Some(Ivf.semanticAssign(in.embeddings, 8))
    }

  /** The trained 8-rule BPE merge table (r18-opt): production trains a
    * tokenizer ONCE and ships the table; `bpe_merges`, `bpe_encode` and
    * `bpe_vocab` read it instead of each repeating the 8-round training.
    */
  private val BpeMerges = Artifact("bpe_merges") { (in, _) =>
    Some(Tokenizer.bpeTrain(in.documents, 8))
  }

  /** The bounded brute pair list (ngramJaccard, id < 500, j >= 0.1,
    * r18-opt), read by the closure below and `dedup_ensemble`. The
    * registered `ngram_jaccard` query still times the brute mine itself
    * (the anti-baseline datapoint the SURVEY rows cite).
    */
  private val NgramPairs = Artifact("ngram_pairs") { (in, _) =>
    Some(Similarity.ngramJaccard(in.documents, 500L, 0.1))
  }

  /** Component labels (id, cluster_id) of the pair list above: the closure
    * runs ONCE; the three governance consumers (`dedup_clusters`,
    * `cluster_size_hist`, `cluster_keep_best`) are cheap rollups over it.
    */
  private val NgramCcLabels =
    Artifact("ngram_cc_labels", Seq(NgramPairs)) { (in, _) =>
      Some(Clustering.connectedComponents(in.read(NgramPairs), "doc_a", "doc_b"))
    }

  /** The hyperplane-bucketed embedding layout (2^6 buckets) `ann_lsh`
    * builds and `ann_probe` reuses.
    */
  private val AnnLayout = Artifact("ann_layout") { (in, p) =>
    Similarity.writeAnnLayout(in.embeddings, p, nPlanes = 6)
    None
  }

  /** The IVF cell layout + centroid artifact `ann_ivf` builds and
    * `ann_ivf_probe` reuses.
    */
  private val IvfLayout = Artifact("ivf_layout") { (in, p) =>
    Ivf.writeIvfLayout(in.embeddings, p)
    None
  }

  /** `ann_ivf` / `ann_ivf_probe`: vector 0's adaptive IVF top-10 over the
    * session layout.
    */
  private def ivfProbe(s: SparkSession, d: String): DataFrame = {
    val layout = scratchDir(IvfLayout, s, d)
    val cents = Ivf.readCentroids(s, layout)
    val q = s.read.parquet(layout).filter(col("vec_id") === 0L)
      .select(col("embedding")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    Ivf.ivfProbeAdaptive(s, layout, cents, q, 10, excludeId = Some(0L))
  }

  /** Events clustered by the Morton interleave of (value, user_id) —
    * `zorder_scan`'s layout.
    */
  private val ZOrderEvents = Artifact("zorder_events") { (in, p) =>
    import org.apache.spark.sql.functions.unix_micros
    io.Layout.writeZOrdered(
      ev(in.s, in.d).withColumn("t_us", unix_micros(col("ts"))).drop("ts"),
      Seq("value", "user_id"), bits = 8, nFiles = 32, dir = p)
    None
  }

  /** Chained-CTE oracle replaying `n` BPE training rounds (bpe_merges).
    * Words are delimiter-wrapped symbol strings (chr(1) sym chr(2) per
    * symbol), so each round's merge is ONE non-overlapping left-to-right
    * `replace` — the same scan as the Catalyst fold in
    * [[graft.ops.Tokenizer.mergePair]] (a merged token stays eligible as
    * the LEFT side of the next match in both). The argmax pair of round
    * i feeds round i+1's replace through scalar subqueries, so the whole
    * replay is one self-contained statement with no data-dependent text.
    */
  private def bpeMergesOracle(n: Int): String = {
    val rounds = (1 to n).map { i =>
      val merge =
        if (i == n) ""
        else s""",
           |r${i + 1} AS MATERIALIZED (
           |  SELECT replace(s,
           |      chr(1) || (SELECT l FROM m$i) || chr(2) ||
           |        chr(1) || (SELECT r FROM m$i) || chr(2),
           |      chr(1) || (SELECT l FROM m$i) || (SELECT r FROM m$i) || chr(2)) AS s,
           |    freq
           |  FROM r$i)""".stripMargin
      s"""p$i AS MATERIALIZED (
         |  SELECT a[j] AS l, a[j+1] AS r, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS a,
         |          freq FROM r$i),
         |       UNNEST(generate_series(1, len(a) - 1)) AS t(j)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1)$merge""".stripMargin
    }.mkString(",\n")
    val out = (1 to n).map(i =>
      s"""SELECT $i AS "rank", l AS sym_a, r AS sym_b, n FROM m$i""")
      .mkString("\nUNION ALL ")
    s"""WITH r1 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(
       |      list_transform(generate_series(1, length(w)), i -> substr(w, i, 1))
       |        || ['</w>'],
       |      c -> chr(1) || c || chr(2)), '') AS s, freq
       |  FROM (SELECT t AS w, count(*) AS freq
       |        FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
       |        GROUP BY 1)),
       |$rounds
       |$out""".stripMargin
  }

  /** Encode oracle (bpe_encode): replay `n` training rounds like
    * [[bpeMergesOracle]] but carry the word identity through every round
    * and ALWAYS apply the round's merge (the train oracle skips the
    * last application — it only reports the rule). Encoding the training
    * corpus with its own rank-ordered table IS the final training state
    * (sequential-rank application ≡ priority encode for a consistent
    * table — see [[graft.ops.Tokenizer.bpeEncode]]), so the per-word
    * subword count is one chr(2)-per-symbol length difference on
    * r(n+1), joined back to per-doc word counts. Carrying `w` changes
    * no pair statistic: w ↔ symbol string is bijective (the symbols
    * concatenate to w + sentinel), so the round tables keep exactly one
    * row per word type either way.
    */
  private def bpeEncodeOracle(n: Int): String = {
    val rounds = (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT a[j] AS l, a[j+1] AS r, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS a,
         |          freq FROM r$i),
         |       UNNEST(generate_series(1, len(a) - 1)) AS t(j)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |r${i + 1} AS MATERIALIZED (
         |  SELECT w, replace(s,
         |      chr(1) || (SELECT l FROM m$i) || chr(2) ||
         |        chr(1) || (SELECT r FROM m$i) || chr(2),
         |      chr(1) || (SELECT l FROM m$i) || (SELECT r FROM m$i) || chr(2)) AS s,
         |    freq
         |  FROM r$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH r1 AS MATERIALIZED (
       |  SELECT w, array_to_string(list_transform(
       |      list_transform(generate_series(1, length(w)), i -> substr(w, i, 1))
       |        || ['</w>'],
       |      c -> chr(1) || c || chr(2)), '') AS s, freq
       |  FROM (SELECT t AS w, count(*) AS freq
       |        FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
       |        GROUP BY 1)),
       |$rounds,
       |wc AS (SELECT w, length(s) - length(replace(s, chr(2), '')) AS n_sub
       |       FROM r${n + 1}),
       |dw AS (SELECT doc_id, t AS w, count(*) AS cnt
       |       FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |             FROM documents)
       |       GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * n_sub) AS BIGINT) AS n_subwords,
       |  CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars
       |FROM dw JOIN wc USING (w)
       |GROUP BY doc_id""".stripMargin
  }

  /** Vocabulary oracle (bpe_vocab): the same carried-identity training
    * replay as [[bpeEncodeOracle]], terminated by exploding the final
    * state's delimiter-wrapped symbols (frequency-weighted) and marking
    * symbols any round's merge produced.
    */
  private def bpeVocabOracle(n: Int): String = {
    val rounds = (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT a[j] AS l, a[j+1] AS r, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS a,
         |          freq FROM r$i),
         |       UNNEST(generate_series(1, len(a) - 1)) AS t(j)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |r${i + 1} AS MATERIALIZED (
         |  SELECT w, replace(s,
         |      chr(1) || (SELECT l FROM m$i) || chr(2) ||
         |        chr(1) || (SELECT r FROM m$i) || chr(2),
         |      chr(1) || (SELECT l FROM m$i) || (SELECT r FROM m$i) || chr(2)) AS s,
         |    freq
         |  FROM r$i)""".stripMargin
    }.mkString(",\n")
    val mergedUnion = (1 to n)
      .map(i => s"SELECT l || r AS symbol FROM m$i")
      .mkString("\nUNION ")
    s"""WITH r1 AS MATERIALIZED (
       |  SELECT w, array_to_string(list_transform(
       |      list_transform(generate_series(1, length(w)), i -> substr(w, i, 1))
       |        || ['</w>'],
       |      c -> chr(1) || c || chr(2)), '') AS s, freq
       |  FROM (SELECT t AS w, count(*) AS freq
       |        FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
       |        GROUP BY 1)),
       |$rounds,
       |v AS (SELECT unnest(string_split(trim(s, chr(1) || chr(2)),
       |        chr(2) || chr(1))) AS symbol, freq
       |      FROM r${n + 1}),
       |g AS (SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |      FROM v GROUP BY 1),
       |mm AS ($mergedUnion)
       |SELECT symbol, n_occurrences,
       |  symbol IN (SELECT symbol FROM mm) AS is_merged
       |FROM g""".stripMargin
  }

  /** The synthetic documents are clean ASCII, so normalize_text plants
    * deterministic dirt per doc: a leading tab+space, a C0 control
    * splice, an NBSP run, a DECOMPOSED e+combining-acute pair (NFC has
    * real work to do), and trailing newlines. The DuckDB oracle plants
    * the identical code points via chr() and normalizes with the
    * equivalent nfc_normalize + regexp_replace chain.
    */
  private def plantDirt(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.withColumn("text", concat(
      lit("\t "), col("text"), lit("\u0001 \u00a0 tail e\u0301\n\n")))
  }

  /** The synthetic documents are PII-free word salad, so the pii_scrub
    * fixture plants one email, one IPv4 and one SSN-shaped token per doc,
    * derived from doc_id — the DuckDB oracle plants the identical strings,
    * so the scrubbed text and the match counts are fully hash-comparable.
    */
  private def plantPii(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.withColumn("text", concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com ip 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
      lit(".0."), pmod(col("doc_id"), lit(100L)).cast("string"),
      lit(" id 123-45-"), (pmod(col("doc_id"), lit(9000L)) + 1000L).cast("string")))
  }

  /** Flagship query on sf=0.001: the 1 s → 1 h OHLC resample
    * (reference `components/process_data.py:44-59`) over the events table.
    * Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Resample.ohlcHourly(Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-A3/W2/F1-F3: flagship OHLC resample, time-native (scale path).
    "ohlc_hourly" -> ((s, d) => Resample.ohlcHourly(ev(s, d))),
    // W1/W2: the reference's exact row-position bucketing (comparison only).
    "ohlc_rowbucket" -> ((s, d) => Resample.ohlcRowBucket(ev(s, d), 500)),
    // Same semantics via range-partitioned sort + zipWithIndex — no
    // single-task global window (shares ohlc_rowbucket's oracle shape).
    "ohlc_rowbucket_scale" -> ((s, d) => Resample.ohlcRowBucketScale(ev(s, d), 500)),
    // Hierarchical rollup: hourly bars FROM minute bars (the rollup
    // lattice — OHLC algebra is closed under re-aggregation). Same
    // oracle as the direct hourly flagship.
    "ohlc_rollup" -> ((s, d) => Resample.ohlcRollup(ev(s, d))),
    // Volume bars: equal-traded-volume resampling; integer milli-units
    // make every bar edge exact (float cumsum could flip a boundary
    // tick). The chunked twin is bit-identical (one-BIGINT carry).
    "volume_bars" -> ((s, d) => Resample.volumeBars(ev(s, d))),
    "volume_bars_chunked" -> ((s, d) => Resample.volumeBarsChunked(ev(s, d))),
    // W3/W4: rolling mean + stddev volatility bands on the hourly series.
    "ma_volatility" -> ((s, d) => Rolling.maVolatility(Resample.ohlcHourly(ev(s, d)))),
    // Same, pandas min_periods semantics: NULL until the window is full
    // (the notebook's rolling(n) default — NaN for the first n−1 rows).
    "ma_volatility_strict" -> ((s, d) =>
      Rolling.maVolatility(Resample.ohlcHourly(ev(s, d)), pandasMinPeriods = true)),
    // W5/W6: lag + pct_change returns.
    "returns_lag" -> ((s, d) => Rolling.returnsLag(ev(s, d))),
    // W5/W6 deep-series path: time-chunked lag, one carry row per boundary.
    "returns_lag_chunked" -> ((s, d) => Rolling.returnsLagChunked(ev(s, d))),
    // W7/U1: exact cumulative-product equity curve (custom Aggregator).
    "cumprod_equity" -> ((s, d) => Rolling.cumprodEquity(ev(s, d))),
    // W7 deep-series evolution: chunked two-pass, no unbounded per-symbol
    // window (same oracle — results agree to float re-association).
    "cumprod_equity_chunked" -> ((s, d) => Rolling.cumprodEquityChunked(ev(s, d))),
    // Exponentially-weighted mean (pandas ewm default): the order-
    // dependent recursion as an associative (num, den, decay) Aggregator.
    "ewma_price" -> ((s, d) => Rolling.ewma(ev(s, d), 0.1)),
    // Deep-series EMA: chunked two-pass (within-chunk state + merged
    // cross-chunk carry), no unbounded per-symbol window. Same oracle.
    "ewma_price_chunked" -> ((s, d) => Rolling.ewmaChunked(ev(s, d), 0.1)),
    // MACD 12/26/9: fast/slow EMAs in one window pass + signal EMA over
    // the derived macd line (same sort, no extra shuffle).
    "macd" -> ((s, d) => Rolling.macd(ev(s, d))),
    // RSI-14: ewm-smoothed gains vs losses, both EMAs in one window pass.
    "rsi" -> ((s, d) => Rolling.rsi(ev(s, d))),
    // ATR-14 over hourly bars: true range + Wilder-style ewm smoothing;
    // the indicator chain runs on the RESAMPLED series (#bars, not #ticks).
    "atr" -> ((s, d) => Rolling.atr(Resample.ohlcHourly(ev(s, d)))),
    // Stochastic %K/%D over hourly bars: trailing extrema + short MA.
    "stochastic" -> ((s, d) => Rolling.stochastic(Resample.ohlcHourly(ev(s, d)))),
    // OBV over hourly bars: direction-signed volume prefix sum.
    "obv" -> ((s, d) => Rolling.obv(Resample.ohlcHourly(ev(s, d)))),
    // Deep-series twins for the composite indicators (the reference's
    // own regime: ONE symbol, years deep) — all EMAs ride chunked
    // two-passes, no unbounded per-symbol window. Same oracles.
    "macd_chunked" -> ((s, d) => Rolling.macdChunked(ev(s, d))),
    "rsi_chunked" -> ((s, d) => Rolling.rsiChunked(ev(s, d))),
    // Drawdown: prefix-max peak + value/peak − 1, exact; plus the scalar
    // max-drawdown summary and the chunked twin (one-double carry — max
    // re-associates losslessly, so the twin is bit-identical).
    "drawdown" -> ((s, d) => Rolling.drawdown(ev(s, d))),
    "drawdown_chunked" -> ((s, d) => Rolling.drawdownChunked(ev(s, d))),
    "max_drawdown" -> ((s, d) => Rolling.maxDrawdown(ev(s, d))),
    // TWAP per hourly bar: tick prices time-weighted to the next tick
    // (clamped at the bar edge) — burst-robust, one lead window + one agg.
    "twap_hourly" -> ((s, d) => Resample.twapHourly(ev(s, d))),
    // Day-anchored running TWAP (the anchored-VWAP family): two prefix
    // sums under one (symbol, day) window — the anchor IS the chunking.
    "twap_anchored" -> ((s, d) => Resample.twapAnchored(ev(s, d))),
    // --- microstructure & risk diagnostics (ops/Microstructure.scala) ---
    // Hourly VWAP: price weighted by the props.$k trade size — the
    // execution benchmark twin of TWAP; one JSON projection + one agg.
    "vwap_hourly" -> ((s, d) => Microstructure.vwapHourly(ev(s, d))),
    // Daily Parkinson + Garman–Klass realized vol from hourly bars:
    // range-based estimators, aggregate-of-aggregate, rows = days×symbols.
    "realized_vol" -> ((s, d) =>
      Microstructure.realizedVol(Resample.ohlcHourly(ev(s, d)))),
    // Roll implied spread per symbol: serial covariance of price changes,
    // two lags + covar_samp, NULL when the estimator is undefined.
    "roll_spread" -> ((s, d) => Microstructure.rollSpread(ev(s, d))),
    // Lo–MacKinlay variance ratio, q ∈ {2,4,8}: boundary-sampled q-step
    // changes vs 1-step variance — the random-walk diagnostic.
    "variance_ratio" -> ((s, d) => Microstructure.varianceRatio(ev(s, d))),
    // Kaufman efficiency ratio (n=10): net move over path length, strict
    // min_periods, one lag + one trailing-sum window in a single pass.
    "kaufman_er" -> ((s, d) => Microstructure.kaufmanEr(ev(s, d))),
    // Donchian 20-bar channel + causal breakout flag over hourly bars.
    "donchian" -> ((s, d) =>
      Microstructure.donchian(Resample.ohlcHourly(ev(s, d)))),
    // Hurst exponent via R/S over dyadic block sizes + log-log slope.
    "hurst_rs" -> ((s, d) => Microstructure.hurstRs(ev(s, d))),
    // Money Flow Index over qty-bars (props.$k as real volume): the
    // volume-weighted RSI, one lag + two trailing sums per symbol.
    "mfi" -> ((s, d) => Microstructure.mfi(Microstructure.ohlcQtyHourly(ev(s, d)))),
    // Chaikin Money Flow: close-position-scaled volume over 20 bars.
    "cmf" -> ((s, d) => Microstructure.cmf(Microstructure.ohlcQtyHourly(ev(s, d)))),
    // CCI-20: typical-price deviation over window MAD — the MAD folds
    // the collected ≤20-element window array with a codegen'd aggregate.
    "cci" -> ((s, d) => Microstructure.cci(Resample.ohlcHourly(ev(s, d)))),
    // +DI/−DI/DX: gated directional moves, three Wilder-style EWMs in
    // ONE window pass over bars.
    "dmi" -> ((s, d) => Microstructure.dmi(Resample.ohlcHourly(ev(s, d)))),
    // Tick-rule (Lee–Ready) signed order flow: per-tick buy/sell
    // classification with zero-change carry, hourly OFI per symbol.
    "tick_rule_flow" -> ((s, d) => Microstructure.tickRuleFlow(ev(s, d))),
    // Sign run-length histogram per symbol — the runs-test view.
    "run_lengths" -> ((s, d) => Microstructure.runLengths(ev(s, d))),
    // Kaufman adaptive MA: efficiency-ratio-geared EMA — the varying-
    // alpha recursion as an exact affine-composition Aggregator in one
    // growing-frame window pass.
    "kama" -> ((s, d) => Microstructure.kama(Resample.ohlcHourly(ev(s, d)))),
    // Ichimoku features over hourly bars — causal spans (lagged, never
    // forward-displaced), four extrema + two lags in one window pass.
    "ichimoku" -> ((s, d) =>
      Microstructure.ichimoku(Resample.ohlcHourly(ev(s, d)))),
    // Fractional differencing (d=0.4, 20-term FIR): stationarity with
    // memory; exact driver-side binomial weights, one window pass.
    "frac_diff" -> ((s, d) =>
      Microstructure.fracDiff(Resample.ohlcHourly(ev(s, d)))),
    // Daily return skew / excess kurtosis per symbol from power sums.
    "return_moments" -> ((s, d) =>
      Microstructure.returnMoments(Resample.ohlcHourly(ev(s, d)))),
    // Lag-1 autocorrelation of returns per symbol: one window pass for
    // the return pair, one map-side-combined five-sum aggregate.
    "returns_autocorr" -> ((s, d) => Rolling.returnsAutocorr(ev(s, d))),
    // Amihud illiquidity over hourly bars: |ret|/volume, trailing 24-bar
    // mean; zero-volume bars → NULL, skipped by avg in both engines.
    "amihud" -> ((s, d) => Rolling.amihud(Resample.ohlcHourly(ev(s, d)))),
    // Seasonality grid: dow × hour × symbol calendar profile — one
    // constant-size hash aggregate at any volume.
    "seasonality_grid" -> ((s, d) => Stats.seasonalityGrid(ev(s, d))),
    // Rolling 24-bar Pearson correlation surface over ALL symbol pairs:
    // one bucket-aligned self-join, five windowed sufficient sums per
    // pair (parallel across pairs), one projection.
    "rolling_corr" -> ((s, d) =>
      Rolling.rollingCorrMatrix(Resample.ohlcHourly(ev(s, d)))),
    // P8+W3-W7: MA-crossover backtest as one composed query.
    "ma_crossover" -> ((s, d) => Rolling.maCrossoverBacktest(Resample.ohlcHourly(ev(s, d)))),
    // A6/J1: min-max scaling via broadcast grouped-stats join.
    "minmax_scale" -> ((s, d) => Rolling.minMaxScale(ev(s, d))),
    // A6 inverse: scale then algebraically un-scale (evaluation.py:71-72).
    "minmax_roundtrip" -> ((s, d) => Rolling.minMaxRoundtrip(ev(s, d))),
    // A7: RMSE/MAE vs persistence baseline.
    "rmse_mae" -> ((s, d) => Rolling.rmseMae(ev(s, d))),
    // W10: ordered 0.8/0.1/0.1 train/val/test split.
    "ordered_split" -> ((s, d) => Rolling.orderedSplit(ev(s, d))),
    // Leakage-guarded holdout: the embargo gap between the train cut
    // and the test head is labeled as its own split group — excluded
    // from train AND test, but reported so the guard is auditable
    // (purged-CV discipline for autocorrelated series); integer-exact
    // bounds.
    "split_embargo" -> ((s, d) => Rolling.splitEmbargo(ev(s, d))),
    // Expanding-window walk-forward backtest folds: per-fold train/test
    // row counts + boundary timestamps, derived from k+1 tiny block rows
    // — never an exploded per-row fold assignment.
    "walk_forward" -> ((s, d) => Rolling.walkForward(ev(s, d))),
    // §1.1 metrics table: long-format (split, metric, value) rows.
    "metrics_long" -> ((s, d) => Rolling.metricsLong(ev(s, d))),
    // A4: summary statistics incl. exact quartiles.
    "summary_stats" -> ((s, d) => Stats.summaryStats(li(s, d))),
    // Incremental-aggregation pattern: per-shard mergeable state rows
    // (n, sum, sumsq, min, max) folded into the corpus summary — equal to
    // the direct single-pass stats by the textbook identities, without
    // rescanning anything but the state rows. Sharded here by a hash of
    // the key to prove split-independence against the direct oracle.
    // The decimal-exact twin: prices live on a cent grid, so the shard
    // components accumulate exactly and the cross-engine hash can't drift
    // with summation order (the double variant is pinned by StatsSpec).
    "stats_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Stats.mergeSummaryExact(
        Stats.summaryShardsExact(li(s, d), "l_extendedprice",
          pmod(col("l_orderkey"), lit(7L))))
    }),
    // Sketch quantiles: registered with the EXACT comparison columns
    // (n + exact percentiles — DuckDB-comparable), computed by the
    // range-sort exactPercentilesScale — NOT the built-in percentile()
    // whose value→count buffer dies on high-cardinality doubles at
    // 100 TB. The sketch estimates themselves are pinned within 1% of
    // this output by SimilaritySpec (no cross-engine t-digest equality
    // exists).
    "summary_approx" -> ((s, d) => scratch(PriceBounds, s, d)
      .select(col("n"), col("p50").as("exact_median"),
        col("p99").as("exact_p99"))),
    // Exact percentiles via range-sort + global index — the shape that
    // survives high-cardinality columns at 100 TB (percentile()'s
    // value-counts buffer does not). Served from the shared price-bounds
    // artifact: one sort per session feeds this, summary_approx,
    // winsorize_price and robust_scale.
    "exact_quantiles" -> ((s, d) => scratch(PriceBounds, s, d)
      .select("n", "p50", "p90", "p99")),
    // Winsorization: clamp prices into their exact [p05, p95] band —
    // outlier capping off the scale-safe range-sort quantile path.
    "winsorize_price" -> ((s, d) =>
      Stats.winsorize(li(s, d), "l_extendedprice", 0.05, 0.95,
          Some(scratch(PriceBounds, s, d)
            .select(col("p05").as("q_lo"), col("p95").as("q_hi"))))
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "q_lo", "q_hi", "winsorized")),
    // Robust scaling: (v − median) / IQR — the outlier-insensitive
    // sibling of minmax_scale (quartiles don't move with one wild value).
    "robust_scale" -> ((s, d) =>
      Stats.robustScale(li(s, d), "l_extendedprice",
          Some(scratch(PriceBounds, s, d)
            .select(col("p50").as("med"), (col("p75") - col("p25")).as("iqr"))))
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "med", "iqr", "scaled")),
    // A5: pairwise Pearson correlation matrix.
    "corr_matrix" -> ((s, d) => Stats.corrMatrix(li(s, d))),
    // Grouping sets: rollup subtotals + grand total.
    "rollup_agg" -> ((s, d) => Stats.rollupAgg(li(s, d))),
    // Equi-width histogram: two map-side-combined scans (1-row min/max
    // broadcast + codegen bin map), no sort — the profiling aggregate.
    "histogram_price" -> ((s, d) => Stats.histogram(li(s, d), "l_extendedprice", 20)),
    // Time-range window frame (trailing 1 h per symbol, rangeBetween µs).
    "range_frame" -> ((s, d) => Stats.rangeFrameAvg(ev(s, d))),
    // Deep-series path: chunked range frame, carry = prior chunk's last 1 h.
    "range_frame_chunked" -> ((s, d) => Stats.rangeFrameAvgChunked(ev(s, d))),
    // Set operations: intersect + except, tagged.
    "set_ops" -> ((s, d) => Sequences.setOps(ev(s, d))),
    // pandas ffill: last non-null carried down each symbol's time order.
    "fill_forward" -> ((s, d) => Rolling.fillForward(ev(s, d))),
    // ffill deep-series twin: bounded per-chunk fills + prefix-scan of
    // the tiny chunk-summary table for the cross-chunk carry.
    "fill_forward_chunked" -> ((s, d) => Rolling.fillForwardChunked(ev(s, d))),
    // Wide reshape: groupBy().pivot() with enumerated values.
    "pivot_wide" -> ((s, d) => Stats.pivotCounts(Tables.documents(s, d))),
    // Ranking analytics: rank/dense_rank/percent_rank/cume_dist top-k.
    "rank_metrics" -> ((s, d) => Sequences.rankMetrics(Tables.orders(s, d))),
    // HLL++ approx distinct vs exact. Registered with the exact columns
    // (oracle-able); the HLL++ estimate itself is pinned within rsd of
    // exact by SimilaritySpec (sketch values aren't cross-engine-equal).
    "dedup_approx" -> ((s, d) => Similarity.approxDedupStats(Tables.documents(s, d))
      .select("lang", "n_docs", "exact_distinct")),
    // J1: broadcast-hash dimension join through the whole star.
    "join_star" -> ((s, d) => Joins.starRevenue(li(s, d), Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    // J2: large-large equi-join, physical join left to Catalyst/AQE.
    "join_large" -> ((s, d) => Joins.largeJoin(li(s, d), Tables.orders(s, d))),
    // J3a: left-semi existence join.
    "join_semi" -> ((s, d) => Joins.semiJoin(Tables.customer(s, d), Tables.orders(s, d), 400000.0)),
    // J3b: left-anti join (customers with no order above the threshold).
    "join_anti" -> ((s, d) => Joins.antiJoin(Tables.customer(s, d),
      Tables.orders(s, d).filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000.0))),
    // J4: as-of join of events to the latest closed hourly bar.
    "join_asof" -> ((s, d) => Joins.asofJoin(ev(s, d))),
    // J4 deep-series path: per-(symbol, chunk) carry with boundary seeds.
    "join_asof_chunked" -> ((s, d) => Joins.asofJoinChunked(ev(s, d))),
    // The schema-agnostic library form, composed back onto the flagship
    // fixture (same oracle as join_asof — results must be identical).
    "join_asof_generic" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = ev(s, d)
      val bars = Resample.ohlcHourlyTs(e)
        .select(col("event_type"), col("bucket_end"), col("close"))
      Joins.asofJoinGeneric(
        e.select(col("event_id"), col("ts"), col("event_type"), col("value")),
        bars, Seq("event_type"), "ts", "bucket_end", Seq("close"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("close").as("bar_close"))
    }),
    // J4 forward direction: next bar's open at-or-after each event (the
    // supervised-label lookup).
    "join_asof_fwd" -> ((s, d) => Joins.asofJoinForward(ev(s, d))),
    // J4 forward + deep-series: per-(symbol, chunk) reversed carry with
    // end-boundary seeds (parallel WITHIN a symbol).
    "join_asof_fwd_chunked" -> ((s, d) => Joins.asofJoinForwardChunked(ev(s, d))),
    // Skew-safe salted equi-join (result identical to the plain join).
    "join_salted" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = ev(s, d)
      val dim = e.groupBy(col("event_type").as("et"))
        .agg(avg(col("value")).as("type_avg"))
      Joins.saltedJoin(e, "event_type", dim, "et", 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value") - col("type_avg")).as("sum_dev"))
    }),
    // W8: sliding sequences. Registered array-free (seq_0..seq_4 element
    // columns — the driver's pandas checker can't hash array cells); the
    // ArrayType form stays the library API (SequencesSpec pins it).
    "seq_sliding" -> ((s, d) =>
      Sequences.flattenSeq(Sequences.slidingSequences(ev(s, d), 5), 5)),
    // W8: scalar projection of the same sequences, fully oracled.
    "seq_sliding_stats" -> ((s, d) => Sequences.slidingSequenceStats(ev(s, d), 5)),
    // W8 scale path: mapPartitions carry-over generator, same flattening.
    "seq_sliding_scale" -> ((s, d) =>
      Sequences.flattenSeq(Sequences.slidingSequencesScale(ev(s, d), 5), 5)),
    // W8 deep-single-symbol path: count-chunked generation with boundary
    // carry rows — parallel WITHIN a symbol (small chunkRows here so the
    // verify corpus actually exercises many chunk boundaries per symbol).
    "seq_sliding_chunked" -> ((s, d) =>
      Sequences.flattenSeq(Sequences.slidingSequencesChunked(ev(s, d), 5, 512), 5)),
    // W9: tail-N latest window per symbol.
    "seq_tail" -> ((s, d) => Sequences.tailN(ev(s, d), 60)),
    // O3: global top-k.
    "seq_topk" -> ((s, d) => Sequences.topK(Tables.orders(s, d), 10)),
    // O4: union of disjoint parts.
    "union_parts" -> ((s, d) => Sequences.unionParts(ev(s, d))),
    // O2: deterministic head/limit.
    "head_k" -> ((s, d) => Sequences.headK(ev(s, d), 100)),
    // F10-ext: JSON extraction from props.
    "json_props" -> ((s, d) => Functions.jsonProps(ev(s, d))),
    // F3/F4: timestamp decomposition, formatting, fixed-offset shift.
    "date_parts" -> ((s, d) => Functions.dateParts(ev(s, d))),
    // F5/F6: regexp replace/extract.
    "regex_funcs" -> ((s, d) => Functions.regexFuncs(Tables.documents(s, d))),
    // F7: concat_ws over sorted collected set.
    "concat_agg" -> ((s, d) => Functions.concatAgg(Tables.documents(s, d))),
    // P4/P1/F2: casts + arithmetic projection.
    "cast_project" -> ((s, d) => Functions.castProject(li(s, d))),
    // P5/A9: null predicate + non-empty guard diagnostics.
    "null_guard" -> ((s, d) => Functions.nullGuard(ev(s, d))),
    // LLM tier — text analysis.
    "text_stats" -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    "token_bpe" -> ((s, d) => TextAnalysis.tokenBpe(Tables.documents(s, d))),
    "quality_score" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "lang_breakdown" -> ((s, d) => TextAnalysis.langBreakdown(Tables.documents(s, d))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    // Gopher/C4-style within-doc repetition fractions (boilerplate gate).
    "repetition_ngram" -> ((s, d) => TextAnalysis.repetitionScore(Tables.documents(s, d))),
    // C4-style corpus-level span dedup: fixed 10-token spans, any span
    // text occurring >1 time anywhere is dropped everywhere, docs
    // reassemble in order. Only 16-byte hashes carry the multiplicity.
    "dedup_spans" -> ((s, d) => TextAnalysis.dedupSpans(Tables.documents(s, d), 10)),
    // FastText-style hashed unigram+bigram features, sparse long form.
    "hash_features" -> ((s, d) => TextAnalysis.hashFeatures(Tables.documents(s, d), 64)),
    // Integer signed-random-projection doc embeddings over the hashed
    // feature map: one aggregate, no join, exact BIGINT components —
    // ANN-tier input from the text tier. Registered in the flattened
    // e0..e15 form (the seq_sliding precedent: the gate's compare sorts
    // on scalar columns).
    "doc_embed" -> ((s, d) => {
      val e = TextAnalysis.featureEmbed(Tables.documents(s, d), 64, 16)
      e.select(col("doc_id") +:
        (0 until 16).map(j => col("emb").getItem(j).as(s"e$j")): _*)
    }),
    // DSIR importance weights toward the src0 slice's feature
    // distribution: one corpus explode, dim-row broadcast log-ratio
    // join, per-doc reduce. Composes with sample_weighted for the
    // resampling step.
    "dsir_weights" -> ((s, d) => TextAnalysis.dsirWeights(Tables.documents(s, d), "src0", 64)),
    // Linear-classifier inference over the hashed feature map: the
    // model-based quality-filter pass. Integer weight accumulation
    // (BIGINT score_q), one exact division for the reported score.
    "classifier_score" -> ((s, d) => TextAnalysis.classifierScore(Tables.documents(s, d), 64)),
    // Round-0 BPE pair statistics: top adjacent character pairs weighted
    // by word frequency — the tokenizer-training decision input.
    "bpe_pairs" -> ((s, d) => Tokenizer.bpePairStats(Tables.documents(s, d), 50)),
    // The BPE trainer itself: 8 merge rounds in word-TYPE space, each an
    // aggregate + one argmax row to the driver + a Catalyst fold merge.
    // The oracle replays the identical 8 rounds as chained CTEs (merge =
    // non-overlapping left-to-right replace on delimiter-wrapped symbol
    // strings — provably the same scan as the fold).
    // r18-opt: all three tokenizer queries read the session-shared
    // trained merge artifact (BpeMerges) — same rows, one training
    // loop per pass instead of three.
    "bpe_merges" -> ((s, d) => scratch(BpeMerges, s, d)),
    // The ENCODE side: per-doc token statistics under the trained
    // tokenizer (train → encode in one compose). Merge loop is
    // word-TYPE-space; ONE corpus join, pre-aggregated to
    // (doc, word, cnt) so the Zipf head can't amplify rows.
    "bpe_encode" -> ((s, d) => Tokenizer.bpeEncode(Tables.documents(s, d),
      scratch(BpeMerges, s, d))),
    // The shipped vocabulary: final-state symbols with occurrence mass
    // and merged/base provenance — the budget-acceptance view of the
    // trained table.
    "bpe_vocab" -> ((s, d) => Tokenizer.bpeVocab(Tables.documents(s, d),
      scratch(BpeMerges, s, d))),
    // Count-Min sketch point-frequency estimates (md5-bucketed, fully
    // oracle-able) with exact recount per probe term; w=16 is sized so
    // the synthetic 31-term vocabulary shows BOTH behaviors in the gate:
    // collision-free estimates (= exact) and one-sided overestimates.
    "cms_profile" -> ((s, d) => TextAnalysis.cmsProfile(Tables.documents(s, d),
      Seq("join", "hash", "scan", "column", "merge", "slow", "zzzqx"), 4, 16)),
    // xxhash64 fast path of the sketch above (rows-only by the driver
    // contract, like every xxhash64 path): identical semantics, native
    // codegen'd row hashing — the 100 TB variant. Its exact_count column
    // and sketch guarantees are pinned to the md5 twin in the spec.
    "cms_profile_fast" -> ((s, d) => TextAnalysis.cmsProfileX(Tables.documents(s, d),
      Seq("join", "hash", "scan", "column", "merge", "slow", "zzzqx"), 4, 16)),
    // Lee et al. exact-substring dedup at sliding 8-token-window
    // granularity: a window duplicated across >= 2 distinct docs marks
    // its span; per-doc union coverage via one lag over dup starts. The
    // discovery stage (fingerprint explode + key aggregate) persists ONCE
    // per session; profile and rewrite both consume the artifact — the
    // paper's own profile-once-apply-once split.
    "substring_dedup" -> ((s, d) => TextAnalysis.substringDedup(
      Tables.documents(s, d),
      TextAnalysis.readDupStarts(s, scratchDir(DupStarts, s, d), 8), 8)),
    // ...and the removal step: covered positions dropped, survivors
    // reassemble in order (range anti-join per document).
    "substring_dedup_apply" -> ((s, d) => TextAnalysis.substringDedupApply(
      Tables.documents(s, d),
      TextAnalysis.readDupStarts(s, scratchDir(DupStarts, s, d), 8), 8)),
    // ...and the continuous-ingest form: the odd-id batch dedups its
    // windows against the even-id corpus' persisted fingerprint artifact
    // plus itself — the resident corpus is never re-tokenized.
    "substring_dedup_incremental" -> ((s, d) =>
      TextAnalysis.substringDedupIncremental(
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1),
        scratchDir(WindowHashes, s, d))),
    // BM25 topical scoring (retrieval-style curation slice); log-free
    // Robertson idf + fixed-order term addition keep doubles engine-exact.
    "bm25_score" -> ((s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), Seq("spark", "hash", "window"))),
    // Benchmark contamination: docs sharing >= 2 shingles with the
    // benchmark subset, via a broadcast md5-shingle probe.
    "contamination" -> ((s, d) => Similarity.contamination(Tables.documents(s, d))),
    // Production shape: the benchmark is its OWN table passed explicitly
    // (fixture here: docs 0-19 play the eval set, the rest the corpus).
    "contamination_table" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Similarity.contaminationAgainst(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
    }),
    // LLM tier — deterministic content-hash sampling (reproducible
    // training subsets; the exact selected row SET is oracle-verified,
    // both engines agree on md5).
    "sample_hash" -> ((s, d) => Sampling.hashSample(Tables.documents(s, d), "doc_id", 0.2)
      .select("doc_id", "lang", "source", "n_chars")),
    "sample_stratified" -> ((s, d) => Sampling.stratifiedHashSample(
      Tables.documents(s, d), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.05)
      .select("doc_id", "lang")),
    "sample_exact" -> ((s, d) =>
      Sampling.hashSampleExact(Tables.documents(s, d), "doc_id", 50)
        .select("doc_id", "lang")),
    // Leakage-free group split: every order of a customer lands in the
    // same train/val/test fold (fold = pure function of the group key's
    // md5) — the GroupShuffleSplit hygiene step. Registered as the
    // per-fold rollup; the fold thresholds are shared hex literals.
    "split_by_group" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Sampling.splitByGroup(Tables.orders(s, d), "o_custkey")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_groups"))
    }),
    // Source-balancing cap: at most 15 docs per source, best quality
    // first (ties → lowest doc_id) — "no single domain dominates".
    "cap_per_source" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val scored = docs.join(
        TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")),
        Seq("doc_id"))
      Sampling.capPerStratum(scored, "source", "quality", "doc_id", 15)
        .select(col("doc_id"), col("source"), col("quality"))
    }),
    // Weight-biased exactly-k draw (priority = hash-uniform / weight):
    // longer docs more likely selected, still hash-deterministic; the
    // oracle reproduces the exact selected set (single IEEE division —
    // no pow/ln, which aren't cross-engine exact).
    "sample_weighted" -> ((s, d) =>
      Sampling.weightedSampleExact(Tables.documents(s, d), "doc_id", "n_chars", 50)
        .select("doc_id", "lang", "n_chars", "priority")),
    // Token-budget mixture sampling (the data-mixing weights step): fill
    // each source's token budget with a deterministic hash-order prefix.
    "mix_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(lower(col("text")), " ")))
      Sampling.budgetPerStratum(docs, "source", "doc_id", "n_tokens",
        Map("src0" -> 1000L, "src1" -> 500L), 700L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
    }),
    // Temperature-flattened mixture sampling (alpha = 0.5): per-source
    // budgets DERIVED from measured token mass via the exact-rounded
    // sqrt + integer-division chain, then hash-order prefix fill.
    "mix_temperature" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(lower(col("text")), " ")))
      Sampling.mixTemperature(docs, "source", "doc_id", "n_tokens", 5000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"), col("budget"))
    }),
    // Deterministic shuffle-and-shard: the training-data writer's layout
    // (shard = hash mod 8, 0-based stable position within the shard).
    "shuffle_shard" -> ((s, d) =>
      Sampling.shuffleShard(Tables.documents(s, d), "doc_id", 8)
        .select("doc_id", "shard", "pos")),
    // Proportional quality filter: top 30% per language by quality score
    // (fixed-k caps over-prune big strata; the cut scales with n).
    "quality_top_fraction" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val scored = docs.join(
        TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")),
        Seq("doc_id"))
      Sampling.topFractionPerStratum(scored, "lang", "quality", "doc_id", 0.3)
        .select(col("doc_id"), col("lang"), col("quality"))
    }),
    // LLM tier — concat-and-chunk sequence packing (sharded by hash
    // nibble; every doc's (shard, chunk, offset) assignment verified).
    "pack_chunks" -> ((s, d) => Packing.packDocs(Tables.documents(s, d), 512)),
    // Same packing layout under the real subword budget: chunk cuts fall
    // where the BPE-ish token count says, not the whitespace count.
    "pack_chunks_bpe" -> ((s, d) =>
      Packing.packDocs(Tables.documents(s, d), 512, 1, Packing.Bpe)),
    // LLM tier — dedup.
    "dedup_exact" -> ((s, d) => Similarity.exactDedupStats(Tables.documents(s, d))),
    "dedup_rows" -> ((s, d) => Similarity.exactDedup(Tables.documents(s, d))),
    // Normalization-insensitive dedup survey (canonical text key).
    "dedup_normalized" -> ((s, d) => Similarity.normalizedDedupStats(Tables.documents(s, d))),
    // Keep-best dedup: among normalization-equal copies the survivor is
    // the highest-quality one (score ties → lowest doc_id), not the
    // first-crawled — the curation-grade representative choice.
    "dedup_keep_best" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      // plant normalization-equal punctuation-doctored copies of every
      // 20th doc: the synthetic corpus is duplicate-free, so without
      // them the survivor choice would never actually run
      val doctored = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" !!! ??? !!!")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      val corpus = docs.unionByName(doctored)
      val scored = corpus.join(
        TextAnalysis.qualityScore(corpus).select(col("doc_id"), col("quality")),
        Seq("doc_id"))
      Similarity.dedupKeepBest(scored, "quality")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    // Incremental-ingest dedup: the batch (doc_id >= 250) deduped within
    // itself AND against the persisted corpus key artifact (doc_id < 250)
    // — only md5 keys shuffle; the artifact is the standing seen-set of
    // a continuous ingest.
    "dedup_incremental" -> ((s, d) => Similarity.dedupIncremental(
      Tables.documents(s, d).filter(col("doc_id") >= 250),
      scratchDir(CorpusKeys, s, d))),
    // Same contract through the Bloom pre-gate: the standing key artifact
    // folds into a fixed-size sketch (Spark's BloomFilterAggregate via
    // graft_bloom_agg); only might_contain survivors pay the exact
    // anti-join. Row-identical to dedup_incremental (shared oracle).
    "dedup_incremental_bloom" -> ((s, d) => Similarity.dedupIncrementalBloom(
      Tables.documents(s, d).filter(col("doc_id") >= 250),
      scratchDir(CorpusKeys, s, d))),
    // Length-percentile batching buckets (boundaries via the scale-safe
    // range-sort percentiles, broadcast into a codegen bucket map).
    "length_buckets" -> ((s, d) => TextAnalysis.lengthBuckets(
      Tables.documents(s, d),
      counts = Some(scratch(DocTokenCounts, s, d)),
      bounds = Some(scratch(DocTokenBounds, s, d).select("p25", "p50", "p75")))),
    // Per-language n-gram diversity (type-token ratio over md5 shingle
    // keys) — the repetitiveness metric behind per-language sampling.
    "ngram_diversity" -> ((s, d) => TextAnalysis.ngramDiversity(Tables.documents(s, d))),
    // Per-language distinctive terms (log-free keyness odds ratio —
    // engine-exact, unlike log-weighted tf-idf): top-5 per language.
    "distinctive_terms" -> ((s, d) => TextAnalysis.distinctiveTerms(Tables.documents(s, d))),
    // Context-window chunking: 32-token windows, 8-token overlap, natural
    // tail — the embedding-pipeline preparation step. Pure flatMap.
    "chunk_overlap" -> ((s, d) => TextAnalysis.chunkOverlap(Tables.documents(s, d), 32, 8)),
    // Unigram-LM perplexity proxy (CCNet-style): per-doc mean token
    // -log2 p under the corpus's own unigram distribution.
    "unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(Tables.documents(s, d))),
    // Interpolated bigram-LM bits per bigram position: the fluency
    // signal the permutation-invariant unigram proxy can't see. Same
    // explode-once/type-space-join shape as unigram_logprob.
    "bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(Tables.documents(s, d))),
    // Per-source KL drift from the corpus token distribution — the
    // off-distribution monitoring metric.
    "kl_drift" -> ((s, d) => TextAnalysis.klDrift(Tables.documents(s, d))),
    // Quality-tier data-mixing table: corpus quartiles of the quality
    // score, broadcast-tiered, aggregated per (lang, tier).
    "quality_tiers" -> ((s, d) => TextAnalysis.qualityTiers(
      Tables.documents(s, d),
      scores = Some(scratch(DocQuality, s, d)),
      tierBounds = Some(scratch(DocQualityBounds, s, d).select("p25", "p50", "p75")))),
    // Per-language top-k vocabulary by document frequency.
    "top_terms" -> ((s, d) => TextAnalysis.topTerms(Tables.documents(s, d))),
    // Exact bigram top-10 via the sketch-then-recount shape: Misra–Gries
    // candidate mining (O(m) state, no distinct-term shuffle) + exact
    // recount of the ≤ m candidates. Equals global top-k whenever top-k
    // frequencies clear the deterministic N/(m+1) survival bound — the
    // oracle recomputes the exact top-k directly.
    "heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(Tables.documents(s, d))),
    // Batch twin of the streaming MG top-k (stream/StreamingTopK): exact
    // per-language token top-5 — what the stream's final emission equals
    // when the vocabulary fits the sketch (pinned in StreamingSpec).
    "top_tokens" -> ((s, d) => graft.stream.StreamingTopK.topTokensBatch(Tables.documents(s, d))),
    // Per-doc top-3 TF-IDF salient terms (rational idf — engine-exact
    // ranking: integer products + one correctly-rounded division, no ln).
    "salient_terms" -> ((s, d) => TextAnalysis.salientTerms(Tables.documents(s, d))),
    // Inverted-index stats: per-term df + bounded min-k posting sample
    // (one hash agg, k-bounded partials — skew-immune by construction).
    // The sample array rides the oracle compare as a joined string.
    "postings" -> ((s, d) => {
      import org.apache.spark.sql.functions.{array_join, col}
      TextAnalysis.postings(Tables.documents(s, d))
        .withColumn("doc_sample",
          array_join(col("doc_sample").cast("array<string>"), ","))
    }),
    // LLM tier — near-dup (MinHash signatures + banded-LSH pairs).
    "minhash_sigs" -> ((s, d) => Similarity.minhashSignatures(Tables.documents(s, d))),
    // Production shape: the hashed-shingle signature table is a lake
    // artifact re-read by both band join and verify. r18-opt: reads the
    // session-shared shingle artifact (ShingleHashes) instead of writing
    // its own copy — same pairs, one corpus tokenize per pass instead of
    // three across the suite.
    "minhash_neardup" -> ((s, d) =>
      Similarity.minhashNearDup(scratch(ShingleHashes, s, d))),
    // Incremental fuzzy dedup: the last 20% of ids (the "tonight's batch")
    // probe a persisted band+hash index built ONCE from the first 80% (the
    // standing corpus, reused across invocations via scratch) — only the
    // batch is tokenized; emitted pairs are exactly the near-dup pairs the
    // batch introduces (new×base and new×new).
    "minhash_incremental" -> ((s, d) => Similarity.minhashNearDupIncremental(
      idSplit(Tables.documents(s, d), batch = true),
      scratchDir(MinhashIndex, s, d))),
    // The governed incremental face (r17 verdict #7): same batch/index
    // split as minhash_incremental (the scratch artifact is shared), but
    // the nightly probe first MEASURES the exact refresh's candidate
    // mass over (base ∪ batch) and routes exact-vs-banded on the budget.
    // 5e7 clears at the oracle SFs → exact arm, which must equal the
    // brute restricted pair set; the banded arm is pinned by spec.
    // estimated_pairs is xxhash64-ranked → projected out (the
    // neardup_governed convention).
    "neardup_governed_incremental" -> ((s, d) =>
      Similarity.neardupGovernedIncremental(
        idSplit(Tables.documents(s, d), batch = true),
        scratchDir(MinhashIndex, s, d), 0.3, maxCandidatePairs = 50000000L)
        .frame.select(col("doc_a"), col("doc_b"), col("jaccard"), col("method"))),
    // Near-duplication rolled up to source pairs: the redundancy matrix a
    // mixing pipeline weights sources by (least/greatest-unordered cells).
    // r19-opt: reads the session-shared verified pair artifact
    // (MinhashPairs) — the rollup is two id-keyed joins + one tiny
    // aggregate over an already-mined pair list, exactly the production
    // consumer shape. Same pairs (parquet round-trip of longs + an
    // untouched double), so the rollup is value-identical.
    "neardup_by_source" -> ((s, d) => Similarity.nearDupBySource(
      Tables.documents(s, d), scratch(MinhashPairs, s, d))),
    // Bounded brute baseline: doc_id < 500 covers the whole sf0.01 verify
    // corpus (25 real pairs ≥ 0.1) while keeping the all-pairs cost fixed
    // at any SF. (The old bound of 100 made the result vacuously empty —
    // every near-dup pair straddles the id range.)
    "ngram_jaccard" -> ((s, d) => Similarity.ngramJaccard(Tables.documents(s, d), 500L, 0.1)),
    // EXACT corpus-wide all-pairs Jaccard (prefix filtering, WWW'07):
    // every pair >= t with NO id cap and NO recall loss - the exact
    // complement to the LSH miners; the oracle is the brute all-pairs
    // form (gate runs at sf0.01 where DuckDB affords it).
    "jaccard_allpairs" -> ((s, d) =>
      Similarity.allPairsJaccard(Tables.documents(s, d), 0.5)),
    // EXACT all-pairs TF-IDF cosine (suffix-bound prefix filter, the
    // index-join variant): the sparse-VECTOR complement to the set join
    // above - catches reordered/rephrased same-topic pairs whose
    // shingle Jaccard collapses. Integer-quantized end-to-end, so
    // threshold membership is engine-exact.
    // 0.85 sits in the measured valley between the background bag-of-
    // words mass (tiny synthetic vocabulary -> bulk at 0.5-0.8) and the
    // planted near-dup families (0.9-1.0).
    // Bounded id window (doc_id < 1000; the dedup_clusters/containment precedent): this
    // corpus's 31-word vocabulary is the prefix filter's physics-level
    // worst case - flat idf, every posting ~ the whole corpus, candidate
    // volume ~ Sum posting^2 regardless of pruning - so the unbounded
    // form at sf0.1 costs ~200s of pure candidate traffic. Realistic
    // (Zipf + Heaps) vocabularies are where the unbounded join earns its
    // keep; bench/r11_stress_scaling.json carries that evidence to 500k
    // docs, and jaccard_allpairs stays unbounded here because SHINGLE
    // postings are short on any corpus.
    "cosine_allpairs" -> ((s, d) => {
      val dir = scratchDir(CosineFeats, s, d)
      Similarity.allPairsCosineFromFeatures(
        Tables.parquet(s, s"$dir/feats"), Tables.parquet(s, s"$dir/pref"),
        CosineThreshold)
    }),
    // The governed-refusal estimator for the join above (r16 verdict #2):
    // Σ_t C(cnt_t, 2) over the suffix-bound prefix table = the exact
    // pair mass the candidate join would emit, without launching it.
    // Integer-exact end-to-end (no xxhash in the cosine pipeline), so
    // the estimate itself is hash-oracled — same id bound as the miner.
    "cosine_preflight" -> ((s, d) =>
      Similarity.cosinePreflight(
        Tables.parquet(s, s"${scratchDir(CosineFeats, s, d)}/pref"))),
    // Governed-degradation ROUTER (r17 verdict #1): measure the exact
    // join's candidate mass, run exact if it clears the budget, degrade
    // to the banded-LSH miner if not — completing either way, decision
    // in the lineage columns. The 1e7 budget clears at every oracle SF
    // (measured: 1.9e3/1.6e3/4.3e5 at sf0.001/0.01/0.1) so the gate
    // checks the exact arm against the brute oracle; at the sf1-shape
    // decade the ~n² flat-vocab mass (~4e7) crosses it and the SAME
    // registered query routes banded — the bench measures the degrade
    // the way production would run it. estimated_pairs is xxhash64-
    // ranked (engine-specific) → projected out of the oracled frame;
    // the spec pins it instead.
    "neardup_governed" -> ((s, d) => Similarity.neardupGoverned(
      Tables.documents(s, d), 0.5, maxCandidatePairs = 10000000L)
      .frame.select(col("doc_a"), col("doc_b"), col("jaccard"), col("method"))),
    // The cosine twin: id-bounded corpus (the cosine_allpairs bound), so
    // the mass (≤ ~5.1e6 at any SF) always clears 2e7 → exact arm, and
    // BOTH lineage columns are integer-exact → the full frame, estimate
    // included, is hash-oracled. The banded arm is pinned by spec.
    "cosine_governed" -> ((s, d) => {
      val dir = scratchDir(CosineFeats, s, d)
      Similarity.cosineGovernedFromFeatures(
        Tables.documents(s, d).filter(col("doc_id") < CosineDocBound),
        Tables.parquet(s, s"$dir/feats"), Tables.parquet(s, s"$dir/pref"),
        CosineThreshold, maxCandidatePairs = 20000000L).frame
    }),
    // Asymmetric containment over the same bounded id range: catches the
    // quote-inclusion/superset family whose symmetric Jaccard is tiny.
    "containment_pairs" -> ((s, d) => Similarity.containmentPairs(Tables.documents(s, d), 500L, 0.8)),
    // Cross-modal adjudication: the lexical pair list annotated with the
    // corresponding embeddings' cosine (inner join on the shared id
    // space; the <500 id bound sits inside every SF's embedding range).
    "dedup_ensemble" -> ((s, d) => Similarity.dedupEnsemble(
      scratch(NgramPairs, s, d), Tables.embeddings(s, d))),
    "simhash" -> ((s, d) => Similarity.simhash(Tables.documents(s, d))),
    // Engine-agnostic md5-keyed signature twins — fully oracle-able,
    // unlike the xxhash64-seeded fast paths above.
    "simhash_md5" -> ((s, d) => Similarity.simhashMd5(Tables.documents(s, d))),
    "minhash_md5" -> ((s, d) => Similarity.minhashSignaturesMd5(Tables.documents(s, d))),
    // SimHash banded Hamming pair mining (pigeonhole-exact at radius 3);
    // signatures are xxhash64-seeded, so rows-only + planted-pair spec.
    "simhash_neardup" -> ((s, d) => Similarity.simhashNearDup(Tables.documents(s, d))),
    // Its oracle-able twin over the md5 32-bit signature: same banded
    // mining, every number integer-exact in any engine — full hash check.
    "simhash_neardup_md5" -> ((s, d) => Similarity.simhashNearDupMd5(Tables.documents(s, d))),
    // LLM tier — embeddings / similarity search.
    "emb_stats" -> ((s, d) => Similarity.embeddingStats(Tables.embeddings(s, d))),
    "cosine_topk" -> ((s, d) => Similarity.cosineTopK(Tables.embeddings(s, d), 0L, 10)),
    // Batched retrieval: every vec_id % 97 == 0 vector is a query, each
    // keeps its own top-5 via the q_id-partitioned group-limit window.
    "ann_batch" -> ((s, d) => Similarity.cosineTopKBatch(Tables.embeddings(s, d), 97L, 5)),
    // Int8-quantized two-stage ANN: integer-dot candidates (4× smaller
    // scanned payload at corpus scale), exact float-cosine re-rank of the
    // 4k survivors. The oracle mirrors the two-stage algorithm (both
    // stages are engine-exact arithmetic), so it hash-matches regardless
    // of quantization recall; recall vs the exact brute force is pinned
    // in SimilaritySpec.
    "ann_quantized" -> ((s, d) => Similarity.annQuantized(Tables.embeddings(s, d), 0L, 10)),
    // Production shape (mirrors minhash_neardup's persisted artifact):
    // the corpus is written partitioned by hyperplane bucket, then the
    // probe reads ONLY the probe-bucket directories — the registered plan
    // shows PartitionFilters, not a full scan. Same top-10 as the
    // in-plan annLsh form (which stays the library's ad-hoc API,
    // recall-spec'd in SimilaritySpec).
    // ann_lsh pays layout build + probe (the one-time write dominates);
    // ann_probe reuses the session-cached layout, so ITS bench number is
    // the steady-state probe latency — the figure that matters once the
    // layout is a standing lake artifact. Bench runs alphabetically, so
    // ann_lsh has always built the layout before ann_probe is timed.
    // The registered route is the PRODUCTION operating point: a 2^6
    // bucket layout probed query-directed (margin-ordered buckets,
    // Lv et al. multi-probe) under a 37.5% scan budget — measured
    // recall@10 >= 0.9 on the weakly-clustered sf0.1 corpus where the
    // r14 fixed radius-1 route measured 0.8 (ANN_RECALL_r15
    // ann_lsh_curve documents the recall-vs-budget trade).
    "ann_lsh" -> ((s, d) =>
      Similarity.annLshBucketedAdaptive(s, scratchDir(AnnLayout, s, d), 0L, 10)),
    // The BUDGET-CONSTRAINED contrast point on the committed
    // recall-vs-budget curve (ANN_RECALL ann_lsh_curve): same layout,
    // same query-directed probe, at a 0.25 scan budget — documented
    // recall@10 0.8 where the 0.375 production point above reads 0.9.
    // Registering a distinct operating point (not a byte-identical twin
    // of ann_lsh, as in r15) makes the bench row measure what a
    // latency-bound caller actually trades away; it still reuses the
    // session-cached layout ann_lsh built, so its wall time is the
    // steady-state probe latency at the tighter budget.
    "ann_probe" -> ((s, d) => Similarity.annLshBucketedAdaptive(
      s, scratchDir(AnnLayout, s, d), 0L, 10, scanBudget = 0.25)),
    // IVF (coarse-quantizer) ANN — the data-ADAPTIVE counterpart to the
    // hyperplane layout: deterministic k-means cells, cell-partitioned
    // layout + persisted centroid artifact, probe = driver-side ADAPTIVE
    // cell routing (cells within 1.3x of the nearest centroid distance,
    // capped at a 50% scan budget — narrow on separated corpora, wide
    // exactly when narrow loses recall) → directory-pruned cosine top-k.
    // Rows-only like ann_lsh (plan + exactness contracts in IvfSpec).
    "ann_ivf" -> ivfProbe _,
    // Steady-state IVF probe against the session-cached layout (bench
    // runs alphabetically: ann_ivf has always built the layout first) —
    // the figure that matters once the layout is a standing artifact,
    // mirroring the ann_lsh / ann_probe split.
    "ann_ivf_probe" -> ivfProbe _,
    // All-corpus embedding near-dup pair mining. The PRIMARY registration
    // is the BANDED (multi-table) LSH form — table count solved from the
    // LSH bound for recall >= 0.9 at the threshold (measured 0.93 at
    // sf0.1, ANN_RECALL artifact) — because the registered name is what a
    // user copies: the single-table form's closed-form pair-catch
    // probability at t=0.4 is (1-theta/pi)^5 ~ 0.10, a demonstrator, not
    // a production miner. It stays registered as emb_neardup_single.
    "emb_neardup" -> ((s, d) =>
      Similarity.embNearDupBandedAuto(Tables.embeddings(s, d), 0.4, 0.9)),
    // Single-table form (closed-form recall demonstrator; plane count
    // sized from corpus cardinality via planesFor).
    "emb_neardup_single" -> ((s, d) =>
      Similarity.embNearDupAuto(Tables.embeddings(s, d), 0.4)),
    // md5-seeded integer-exact twins of ann_lsh / emb_neardup (the L33
    // precedent): bucket assignment is pure BIGINT arithmetic both
    // engines reproduce bit-for-bit, so these carry full hash oracles
    // where the xxhash64-seeded fast paths above are rows-only.
    "ann_md5" -> ((s, d) => Similarity.annMd5(Tables.embeddings(s, d), 0L, 10)),
    "emb_neardup_md5" -> ((s, d) => Similarity.embNearDupMd5(Tables.embeddings(s, d), 0.4)),
    // Banded twin: 8 tables x 3 md5 planes — candidate set BIGINT-exact,
    // so the whole tag -> dedup -> verify shape carries a hash oracle.
    "emb_neardup_banded_md5" -> ((s, d) =>
      Similarity.embNearDupBandedMd5(Tables.embeddings(s, d), 0.4)),
    // The IVF counterpart: md5-picked seed centroids (no Lloyd rounds —
    // float means aren't cross-engine exact), integer-quantized distance
    // assignment, nprobe-cell probe — cell membership fully oracle-able.
    "ann_ivf_md5" -> ((s, d) => Ivf.annIvfMd5(Tables.embeddings(s, d), 0L, 10)),
    // SemDeDup over the same deterministic cells: within-cell cosine
    // pairs >= 0.4, greedy-by-id removal list — fully hash-oracle-able.
    // r19-opt: all four flat-tier queries read the session-shared
    // assignment artifact (SemanticAssign) instead of each rebuilding
    // the quantize→seed→assign prelude — values identical (BIGINT
    // integer-exact assignment round-trips through parquet unchanged).
    "semantic_dedup" -> ((s, d) => Ivf.semanticDedup(
      Tables.embeddings(s, d), scratch(SemanticAssign, s, d), 0.4)),
    // Governed router for the semantic tier (the neardup_governed
    // pattern on SemDeDup): measure the flat form's within-cell mass,
    // run flat nlist=8 when it clears 1e7 (every oracle SF: ~2.5e3 at
    // sf0.01, ~2.5e5 at sf0.1 → exact arm, fully hash-oracled incl. the
    // integer-exact estimate), degrade to the hier form at the decade
    // (sf1-shape 20k vectors → ~2.5e7 → hier). Both arms project the
    // shared (vec_id, dup_of, max_cosine) removal-decision schema.
    "semantic_governed" -> ((s, d) => Ivf.semanticDedupGoverned(
      Tables.embeddings(s, d), scratch(SemanticAssign, s, d), 0.4,
      maxPairs = 10000000L, coarse = 4, fine = 2).frame),
    // Governance twin of the row above (the L151 preflight pattern on
    // the semantic tier): the exact within-cell pair mass Σ C(cnt,2)
    // over the same md5-seeded integer-exact assignment — the number
    // semanticDedup's opt-in maxPairs budget refuses on. BIGINT
    // end-to-end below the 2^20 quantization, so hash-oracled.
    "semantic_preflight" -> ((s, d) =>
      Ivf.semanticPreflight(scratch(SemanticAssign, s, d))),
    // Two-level SemDeDup (the measured scale fix: assignment n·2√nlist
    // instead of n·nlist): 4 coarse cells × 2 per-cell fine seeds.
    "semantic_dedup_hier" -> ((s, d) => Ivf.semanticDedupHier(Tables.embeddings(s, d), 0.4, 4, 2)),
    // SemDeDup neighborhood graph -> connected components (the
    // Clustering terminal stage the LSH lexical path also ends on).
    "semantic_clusters" -> ((s, d) => Ivf.semanticClusters(
      Tables.embeddings(s, d), scratch(SemanticAssign, s, d), 0.4)),
    // Size-capped SemDeDup: leaves over cap=50 split by a content-hash
    // salt (exact dups always co-locate) — the worst-case skew guard;
    // cap deliberately small here so the salting is exercised in-gate.
    "semantic_dedup_capped" -> ((s, d) => Ivf.semanticDedupCapped(Tables.embeddings(s, d), 0.4, 4, 2, 50)),
    // Product-quantization ANN: 8x16 md5-seeded codebook, BIGINT encode
    // + ADC candidate scoring (8-byte codes, 32x scan compression),
    // exact cosine re-rank — candidate set integer-exact in any engine.
    // r18 sweep-sized (the r16 ann_ivfpq lesson re-learned on the plain
    // PQ route): the registered 16-code/200-survivor point read 0.9 on
    // the single query but 0.675 mean over the 8-query sweep; the
    // measured grid (ANN_RECALL_r18 / Ivf.annPq scaladoc) shows BOTH
    // knobs matter — 32 codes / 800 survivors reads 0.988 mean, min 0.9.
    "ann_pq" -> ((s, d) =>
      Ivf.annPq(Tables.embeddings(s, d), 0L, 10, codes = 32, candidates = 800)),
    // The FAISS production composition: TRAINED coarse route (md5 seeds
    // + 2 integer-Lloyd rounds — exact BIGINT/floor arithmetic, so still
    // hash-oracle-able), adaptive integer probe (slack 169/100, cap
    // 8/16 cells = 0.5 scan), PQ-ADC over only the probed cells, exact
    // rerank of the 400 ADC survivors. Recall@10 at the registered
    // point: 1.0 (0.80 mean over 8 query vectors) vs 0.6 for the
    // untrained fixed-nprobe route it replaced (ANN_RECALL_r13 -> r14).
    "ann_ivfpq" -> ((s, d) => Ivf.annIvfPq(Tables.embeddings(s, d), 0L, 10)),
    // LLM tier — multimodal binary-column plumbing (stubbed decode).
    "multimodal_meta" -> ((s, d) => Multimodal.decodeMeta(Tables.documents(s, d))),
    "frame_sample" -> ((s, d) => Multimodal.frameSample(Tables.documents(s, d), 100)),
    // LLM-curation golden path: quality gate → normalized dedup →
    // deterministic sample → per-lang stats, as one composed query.
    "curation_pipeline" -> ((s, d) => Pipeline.curationPipeline(Tables.documents(s, d))),
    // The full chain with corpus-level boilerplate removal in front —
    // quality, keys and stats all measured on the CLEANED text.
    "curation_full" -> ((s, d) => Pipeline.curationFull(Tables.documents(s, d))),
    // Per-source data card: volume, exact-dup count, mean quality, and
    // language-mix entropy — one map pass, source-keyed aggregates only.
    "data_card" -> ((s, d) => Pipeline.dataCard(Tables.documents(s, d))),
    // Gap-based sessionization: the batch twin of the streaming session
    // window (flag + running sum per user; one shuffle on user_id).
    "sessionize" -> ((s, d) => Sessions.sessionize(ev(s, d), 1800L)),
    // Bucketed interval join: events inside post-jump volatile windows.
    // The generic rangeJoin turns the theta predicate into an equi-join
    // on (symbol, time-bucket) + exact post-filter — no per-key cross
    // product anywhere in the plan.
    "range_join" -> ((s, d) => Joins.eventsInVolatileWindows(ev(s, d))),
    // PII redaction over planted-PII text (codegen regex projections;
    // counts measured on the original text, before redaction).
    "pii_scrub" -> ((s, d) => Pii.scrub(plantPii(Tables.documents(s, d)))),
    // Fuzzy-dedup terminal stage: connected components over the exact
    // Jaccard pair list → canonical doc + keep/drop verdict per member.
    // The three governance queries share ONE persisted label artifact
    // (NgramCcLabels): the closure runs once, each consumer is a rollup.
    "dedup_clusters" -> ((s, d) =>
      Clustering.dedupClusters(scratch(NgramCcLabels, s, d))),
    // Dedup governance: component-size histogram of the same near-dup
    // graph — the look-before-you-delete removal budget per size class.
    "cluster_size_hist" -> ((s, d) =>
      Clustering.clusterSizeHistogram(scratch(NgramCcLabels, s, d))),
    // Quality-aware terminal stage: same components, survivor chosen by
    // quality score (ties -> lowest id) instead of min id.
    "cluster_keep_best" -> ((s, d) =>
      Clustering.clusterKeepBest(scratch(NgramCcLabels, s, d),
        scratch(DocQuality, s, d))),
    // PRODUCTION fuzzy-dedup compose: the closure consuming the LSH
    // miner's pair list (persisted shingle artifact → band join → exact
    // verify at j ≥ 0.3) instead of the bounded brute baseline above —
    // the chain that actually runs at 100 TB, timed end-to-end by the
    // bench. The oracle repeats the closure over DuckDB's exact all-pairs
    // list at the same threshold: band-join recall is exact here (r=1
    // banding, recall 1 for j ≥ threshold — pinned in SimilaritySpec), so
    // the two miners' pair lists coincide and the verdicts hash-match.
    // r19-opt: the closure consumes the session-shared verified pair
    // artifact (MinhashPairs) — this query pays the mine on the first
    // pass (bench order) and times closure + artifact build; the SAME
    // pair list feeds neardup_by_source without a second band join.
    "dedup_clusters_lsh" -> ((s, d) => Clustering.dedupClusters(
      Clustering.connectedComponents(scratch(MinhashPairs, s, d),
        "doc_a", "doc_b"))),
    // Bounded-id-window twin of the LSH closure: the identical compose
    // (persisted shingle artifact → band join → exact verify →
    // components) over doc_id < 1500, so the DuckDB all-pairs closure
    // oracle stays feasible at sf0.1 — the unbounded twin above is only
    // oracle-checkable at the sf0.01 gate scale (12.5M pairs of ~100-hash
    // lists at sf0.1 is hours in DuckDB; 1.1M is not). The shingle
    // artifact is written per call (fresh dir, removed at JVM exit): its
    // WRITE is part of this timed production shape.
    "dedup_clusters_lsh_window" -> ((s, d) => {
      val hashes = s"${ScratchDirs.create("minhash_cc_w")}/shingle_hashes"
      Similarity.shingleHashes(Tables.documents(s, d).filter(col("doc_id") < 1500))
        .write.parquet(hashes)
      Clustering.dedupClusters(Clustering.connectedComponents(
        Similarity.minhashNearDup(s.read.parquet(hashes)), "doc_a", "doc_b"))
    }),
    // Z-order clustered layout roundtrip: events written clustered by the
    // Morton interleave of (value, user_id), then a 2-D box query over
    // the layout. The RESULT is layout-independent (the oracle filters
    // the raw table); the locality — matching rows concentrated in a few
    // files — is pinned in LayoutSpec.
    "zorder_scan" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      scratch(ZOrderEvents, s, d)
        .filter(col("value").between(95.0, 105.0) &&
          col("user_id").between(30L, 60L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    }),
    // S1-S11 end-to-end: CSV landing zone roundtrip + warehouse/export.
    "etl_roundtrip" -> ((s, d) => Pipeline.etlRoundtrip(ev(s, d))),
    "warehouse_roundtrip" -> ((s, d) => Pipeline.warehouseRoundtrip(ev(s, d))),
    // JSONL landing-zone roundtrip: documents → JSON-Lines → FAILFAST
    // schema-bound scan → per-language rollup (losslessness proof for the
    // LLM-corpus interchange format).
    "jsonl_roundtrip" -> ((s, d) => Pipeline.jsonlRoundtrip(Tables.documents(s, d))),
    // Character-entropy quality signal via the native codegen'd
    // graft_entropy expression — no per-character explode, no shuffle.
    "char_entropy" -> ((s, d) => TextAnalysis.charEntropy(Tables.documents(s, d))),
    // Native one-pass NFC + whitespace/control normalization. The
    // synthetic corpus is already clean, so the gate plants
    // deterministic dirt (tabs/controls/NBSP/combining NFC pair) per
    // doc — the oracle plants the identical bytes and normalizes with
    // the equivalent nfc_normalize + regexp_replace chain.
    "normalize_text" -> ((s, d) =>
      TextAnalysis.normalizeText(plantDirt(Tables.documents(s, d)))),
    // Per-document shingle novelty vs everything earlier in corpus order
    // (the dataset-diversity curve: near-dups of earlier docs score ~0).
    "ngram_novelty" -> ((s, d) => TextAnalysis.ngramNovelty(Tables.documents(s, d))),
    // Per-language Zipf rank-frequency fit (slope/intercept in log2
    // space) — the corpus-health / mix-shift diagnostic.
    "zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(Tables.documents(s, d))),
    // Heaps'-law vocabulary growth over doc_id-range buckets: cumulative
    // tokens vs cumulative first-seen types.
    "vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d))),
    // Pairwise source vocabulary overlap (Jaccard over distinct token
    // sets) — the redundancy matrix behind source mixing weights.
    "source_overlap" -> ((s, d) => TextAnalysis.sourceOverlap(Tables.documents(s, d))),
    // Adjacent-token PMI collocations, ranked by the log-free ratio
    // (engine-exact ordering), log2 reported.
    "pmi_pairs" -> ((s, d) => TextAnalysis.pmiPairs(Tables.documents(s, d))),
  )

  /** DuckDB oracle SQL per query (same column aliases as the Spark side). */
  def oracleSql: Map[String, String] = {
    // md5-seeded hyperplane bucket as SQL — the exact DuckDB spelling of
    // Similarity.md5Bucket: integer plane components from md5("p:d"),
    // floor-quantized embeddings, BIGINT dot → sign bits. Generated for
    // the fixed (nPlanes=6, dim=64) the registered twins use.
    def md5BucketSqlAt(start: Int, n: Int): String = (0 until n).map { p =>
      s"""CASE WHEN list_sum(list_transform(generate_series(1, 64),
         | d -> ((('0x' || substr(md5(${start + p} || ':' || (d-1)), 1, 8))::BIGINT % 2001) - 1000)
         |      * CAST(floor(CAST(embedding[d] AS DOUBLE) * 1048576) AS BIGINT))) >= 0
         | THEN ${1L << p} ELSE 0 END""".stripMargin
    }.mkString("(", "\n + ", ")")
    val md5BucketSql = md5BucketSqlAt(0, 6)
    // the banded twin's 8 per-table buckets (table t owns planes
    // [t*3, t*3+3)) as one SQL list literal
    val md5BandedBucketsSql = (0 until 8).map(t => md5BucketSqlAt(t * 3, 3))
      .mkString("[", ",\n ", "]")
    // Volume-bars oracle — serves both the windowed form and the chunked
    // twin (bit-identical: integer units, exact cumsum, floor division).
    val volumeBarsOracle =
      """WITH u AS (
        |  SELECT event_id, event_type, ts, value,
        |    CAST(round(value * 1000) AS BIGINT) AS units
        |  FROM events),
        |c AS (
        |  SELECT event_type, ts, value, units,
        |    sum(units) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM u)
        |SELECT event_type, CAST((cum - units) // 10000000 AS BIGINT) AS bar,
        |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        |  arg_max(value, ts) AS close, sum(value) AS volume,
        |  count(*) AS n_trades
        |FROM c GROUP BY 1, 2""".stripMargin
    // Drawdown oracle — serves both the windowed form and the chunked
    // twin (bit-identical: max and division re-associate losslessly).
    val drawdownOracle =
      """WITH p AS (
        |  SELECT event_id, event_type, value,
        |    max(value) OVER (PARTITION BY event_type ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events)
        |SELECT event_id, event_type, value, peak, value / peak - 1 AS dd
        |FROM p""".stripMargin
    // EMA oracle, chunk-carry form (serves ewma_price and its chunked
    // twin — one 500-row-block decomposition, bounded exponents, a
    // ~40-iteration block-level recursion for the cross-block carry).
    val ewmaOracle =
      """WITH RECURSIVE base AS (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn
        |  FROM events),
        |rws AS (
        |  SELECT *, CAST(floor(rn / 500) AS INTEGER) AS blk, rn % 500 AS o
        |  FROM base),
        |pre AS (
        |  SELECT *,
        |    sum(pow(1.0/0.9, o) * value) OVER wb AS pnum,
        |    sum(pow(1.0/0.9, o))         OVER wb AS pden
        |  FROM rws
        |  WINDOW wb AS (PARTITION BY event_type, blk ORDER BY o
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |blocks AS (
        |  SELECT event_type, blk,
        |    sum(pow(0.9, 499 - o) * value) AS wnum,
        |    sum(pow(0.9, 499 - o))         AS wden
        |  FROM rws GROUP BY 1, 2),
        |carry AS (
        |  SELECT event_type, blk, wnum AS rnum, wden AS rden
        |  FROM blocks WHERE blk = 0
        |  UNION ALL
        |  SELECT b.event_type, b.blk,
        |    pow(0.9, 500) * c.rnum + b.wnum,
        |    pow(0.9, 500) * c.rden + b.wden
        |  FROM blocks b JOIN carry c
        |    ON b.event_type = c.event_type AND b.blk = c.blk + 1)
        |SELECT p.event_id, p.event_type, p.value,
        |  (pow(0.9, p.o + 1) * coalesce(c.rnum, 0) + pow(0.9, p.o) * p.pnum)
        |  / (pow(0.9, p.o + 1) * coalesce(c.rden, 0) + pow(0.9, p.o) * p.pden)
        |    AS ema
        |FROM pre p LEFT JOIN carry c
        |  ON p.event_type = c.event_type AND c.blk = p.blk - 1""".stripMargin
    // MACD oracle: the same chunk-carry decomposition instantiated three
    // times — fast/slow EMAs over value (shared base/rws, one pre scan
    // carrying both alphas, two independent block recursions), then the
    // signal EMA over the DERIVED macd column (a second-stage template
    // reusing the same blk/o positions, since macd is defined at every
    // row). Decay constants are Scala-computed doubles (shortest-
    // roundtrip literals; compare tolerance is rtol 1e-6 anyway).
    val (kF, kS, kG) = (1.0 - 2.0 / 13.0, 1.0 - 2.0 / 27.0, 1.0 - 2.0 / 10.0)
    val macdOracle =
      s"""WITH RECURSIVE base AS (
         |  SELECT event_id, event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn
         |  FROM events),
         |rws AS (
         |  SELECT *, CAST(floor(rn / 500) AS INTEGER) AS blk, rn % 500 AS o
         |  FROM base),
         |pre AS (
         |  SELECT *,
         |    sum(pow(1.0/$kF, o) * value) OVER wb AS pnum_f,
         |    sum(pow(1.0/$kF, o))         OVER wb AS pden_f,
         |    sum(pow(1.0/$kS, o) * value) OVER wb AS pnum_s,
         |    sum(pow(1.0/$kS, o))         OVER wb AS pden_s
         |  FROM rws
         |  WINDOW wb AS (PARTITION BY event_type, blk ORDER BY o
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |blocks AS (
         |  SELECT event_type, blk,
         |    sum(pow($kF, 499 - o) * value) AS wnum_f,
         |    sum(pow($kF, 499 - o))         AS wden_f,
         |    sum(pow($kS, 499 - o) * value) AS wnum_s,
         |    sum(pow($kS, 499 - o))         AS wden_s
         |  FROM rws GROUP BY 1, 2),
         |carry_f AS (
         |  SELECT event_type, blk, wnum_f AS rnum, wden_f AS rden
         |  FROM blocks WHERE blk = 0
         |  UNION ALL
         |  SELECT b.event_type, b.blk,
         |    pow($kF, 500) * c.rnum + b.wnum_f,
         |    pow($kF, 500) * c.rden + b.wden_f
         |  FROM blocks b JOIN carry_f c
         |    ON b.event_type = c.event_type AND b.blk = c.blk + 1),
         |carry_s AS (
         |  SELECT event_type, blk, wnum_s AS rnum, wden_s AS rden
         |  FROM blocks WHERE blk = 0
         |  UNION ALL
         |  SELECT b.event_type, b.blk,
         |    pow($kS, 500) * c.rnum + b.wnum_s,
         |    pow($kS, 500) * c.rden + b.wden_s
         |  FROM blocks b JOIN carry_s c
         |    ON b.event_type = c.event_type AND b.blk = c.blk + 1),
         |m AS (
         |  SELECT p.event_id, p.event_type, p.value, p.blk, p.o,
         |    (pow($kF, p.o + 1) * coalesce(cf.rnum, 0) + pow($kF, p.o) * p.pnum_f)
         |    / (pow($kF, p.o + 1) * coalesce(cf.rden, 0) + pow($kF, p.o) * p.pden_f)
         |    - (pow($kS, p.o + 1) * coalesce(cs.rnum, 0) + pow($kS, p.o) * p.pnum_s)
         |    / (pow($kS, p.o + 1) * coalesce(cs.rden, 0) + pow($kS, p.o) * p.pden_s)
         |      AS macd
         |  FROM pre p
         |  LEFT JOIN carry_f cf ON p.event_type = cf.event_type AND cf.blk = p.blk - 1
         |  LEFT JOIN carry_s cs ON p.event_type = cs.event_type AND cs.blk = p.blk - 1),
         |pre2 AS (
         |  SELECT *,
         |    sum(pow(1.0/$kG, o) * macd) OVER wb2 AS pnum_g,
         |    sum(pow(1.0/$kG, o))        OVER wb2 AS pden_g
         |  FROM m
         |  WINDOW wb2 AS (PARTITION BY event_type, blk ORDER BY o
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |blocks2 AS (
         |  SELECT event_type, blk,
         |    sum(pow($kG, 499 - o) * macd) AS wnum,
         |    sum(pow($kG, 499 - o))        AS wden
         |  FROM m GROUP BY 1, 2),
         |carry_g AS (
         |  SELECT event_type, blk, wnum AS rnum, wden AS rden
         |  FROM blocks2 WHERE blk = 0
         |  UNION ALL
         |  SELECT b.event_type, b.blk,
         |    pow($kG, 500) * c.rnum + b.wnum,
         |    pow($kG, 500) * c.rden + b.wden
         |  FROM blocks2 b JOIN carry_g c
         |    ON b.event_type = c.event_type AND b.blk = c.blk + 1),
         |sig AS (
         |  SELECT p.event_id, p.event_type, p.value, p.macd,
         |    (pow($kG, p.o + 1) * coalesce(c.rnum, 0) + pow($kG, p.o) * p.pnum_g)
         |    / (pow($kG, p.o + 1) * coalesce(c.rden, 0) + pow($kG, p.o) * p.pden_g)
         |      AS signal
         |  FROM pre2 p LEFT JOIN carry_g c
         |    ON p.event_type = c.event_type AND c.blk = p.blk - 1)
         |SELECT event_id, event_type, value, macd, signal,
         |  macd - signal AS hist
         |FROM sig""".stripMargin
    // RSI oracle: deltas via lag, the first (delta-less) row of each
    // series excluded from the smoothing and re-joined with NULLs (the
    // engine's NaN→NULL mapping); ONE chunk-carry instantiation carries
    // both gain and loss numerators (identical weights ⇒ shared den).
    val kR = 1.0 - 1.0 / 14.0
    val rsiOracle =
      s"""WITH RECURSIVE base AS (
         |  SELECT event_id, event_type, value, ts,
         |    value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS delta
         |  FROM events),
         |g AS (
         |  SELECT event_id, event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn,
         |    greatest(delta, 0) AS gain,
         |    greatest(-delta, 0) AS loss
         |  FROM base WHERE delta IS NOT NULL),
         |rws AS (
         |  SELECT *, CAST(floor(rn / 500) AS INTEGER) AS blk, rn % 500 AS o
         |  FROM g),
         |pre AS (
         |  SELECT *,
         |    sum(pow(1.0/$kR, o) * gain) OVER wb AS pnum_g,
         |    sum(pow(1.0/$kR, o) * loss) OVER wb AS pnum_l,
         |    sum(pow(1.0/$kR, o))        OVER wb AS pden
         |  FROM rws
         |  WINDOW wb AS (PARTITION BY event_type, blk ORDER BY o
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |blocks AS (
         |  SELECT event_type, blk,
         |    sum(pow($kR, 499 - o) * gain) AS wnum_g,
         |    sum(pow($kR, 499 - o) * loss) AS wnum_l,
         |    sum(pow($kR, 499 - o))        AS wden
         |  FROM rws GROUP BY 1, 2),
         |carry AS (
         |  SELECT event_type, blk, wnum_g AS rng, wnum_l AS rnl, wden AS rden
         |  FROM blocks WHERE blk = 0
         |  UNION ALL
         |  SELECT b.event_type, b.blk,
         |    pow($kR, 500) * c.rng + b.wnum_g,
         |    pow($kR, 500) * c.rnl + b.wnum_l,
         |    pow($kR, 500) * c.rden + b.wden
         |  FROM blocks b JOIN carry c
         |    ON b.event_type = c.event_type AND b.blk = c.blk + 1),
         |res AS (
         |  SELECT p.event_id,
         |    (pow($kR, p.o + 1) * coalesce(c.rng, 0) + pow($kR, p.o) * p.pnum_g)
         |    / (pow($kR, p.o + 1) * coalesce(c.rden, 0) + pow($kR, p.o) * p.pden)
         |      AS avg_gain,
         |    (pow($kR, p.o + 1) * coalesce(c.rnl, 0) + pow($kR, p.o) * p.pnum_l)
         |    / (pow($kR, p.o + 1) * coalesce(c.rden, 0) + pow($kR, p.o) * p.pden)
         |      AS avg_loss
         |  FROM pre p LEFT JOIN carry c
         |    ON p.event_type = c.event_type AND c.blk = p.blk - 1)
         |SELECT b.event_id, b.event_type, b.value, r.avg_gain, r.avg_loss,
         |  100.0 * r.avg_gain / nullif(r.avg_gain + r.avg_loss, 0) AS rsi
         |FROM base b LEFT JOIN res r ON b.event_id = r.event_id""".stripMargin
    // ATR oracle: hourly bars → true range (greatest skips the null
    // prev-close legs on first bars — Postgres semantics in both
    // engines) → the same chunk-carry EMA template over tr. TR is
    // non-null at every bar, so no re-indexing stage is needed.
    val atrOracle =
      s"""WITH RECURSIVE hourly AS (
         |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
         |    max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
         |  FROM events GROUP BY 1, 2),
         |base AS (
         |  SELECT bucket, event_type,
         |    greatest(high - low,
         |             abs(high - lag(close) OVER w),
         |             abs(low  - lag(close) OVER w)) AS tr,
         |    row_number() OVER w - 1 AS rn
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
         |rws AS (
         |  SELECT *, CAST(floor(rn / 500) AS INTEGER) AS blk, rn % 500 AS o
         |  FROM base),
         |pre AS (
         |  SELECT *,
         |    sum(pow(1.0/$kR, o) * tr) OVER wb AS pnum,
         |    sum(pow(1.0/$kR, o))      OVER wb AS pden
         |  FROM rws
         |  WINDOW wb AS (PARTITION BY event_type, blk ORDER BY o
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |blocks AS (
         |  SELECT event_type, blk,
         |    sum(pow($kR, 499 - o) * tr) AS wnum,
         |    sum(pow($kR, 499 - o))      AS wden
         |  FROM rws GROUP BY 1, 2),
         |carry AS (
         |  SELECT event_type, blk, wnum AS rnum, wden AS rden
         |  FROM blocks WHERE blk = 0
         |  UNION ALL
         |  SELECT b.event_type, b.blk,
         |    pow($kR, 500) * c.rnum + b.wnum,
         |    pow($kR, 500) * c.rden + b.wden
         |  FROM blocks b JOIN carry c
         |    ON b.event_type = c.event_type AND b.blk = c.blk + 1)
         |SELECT p.bucket, p.event_type, p.tr,
         |  (pow($kR, p.o + 1) * coalesce(c.rnum, 0) + pow($kR, p.o) * p.pnum)
         |  / (pow($kR, p.o + 1) * coalesce(c.rden, 0) + pow($kR, p.o) * p.pden)
         |    AS atr
         |FROM pre p LEFT JOIN carry c
         |  ON p.event_type = c.event_type AND c.blk = p.blk - 1""".stripMargin
    // DMI oracle: the atr chunk-carry EMA template widened to THREE value
    // columns (+DM, −DM, TR) sharing one decay denominator. First-bar
    // moves are NULL > ... → ELSE 0, matching the Spark when().otherwise.
    val dmiOracle =
      s"""WITH RECURSIVE hourly AS (
         |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
         |    max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
         |  FROM events GROUP BY 1, 2),
         |base AS (
         |  SELECT bucket, event_type,
         |    CASE WHEN up > dn AND up > 0 THEN up ELSE 0 END AS pdm,
         |    CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0 END AS mdm,
         |    tr, rn
         |  FROM (
         |    SELECT bucket, event_type,
         |      high - lag(high) OVER w AS up,
         |      lag(low) OVER w - low AS dn,
         |      greatest(high - low, abs(high - lag(close) OVER w),
         |               abs(low - lag(close) OVER w)) AS tr,
         |      row_number() OVER w - 1 AS rn
         |    FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket))),
         |rws AS (
         |  SELECT *, CAST(floor(rn / 500) AS INTEGER) AS blk, rn % 500 AS o
         |  FROM base),
         |pre AS (
         |  SELECT *,
         |    sum(pow(1.0/$kR, o) * pdm) OVER wb AS pnum_p,
         |    sum(pow(1.0/$kR, o) * mdm) OVER wb AS pnum_m,
         |    sum(pow(1.0/$kR, o) * tr)  OVER wb AS pnum_t,
         |    sum(pow(1.0/$kR, o))       OVER wb AS pden
         |  FROM rws
         |  WINDOW wb AS (PARTITION BY event_type, blk ORDER BY o
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |blocks AS (
         |  SELECT event_type, blk,
         |    sum(pow($kR, 499 - o) * pdm) AS wnum_p,
         |    sum(pow($kR, 499 - o) * mdm) AS wnum_m,
         |    sum(pow($kR, 499 - o) * tr)  AS wnum_t,
         |    sum(pow($kR, 499 - o))       AS wden
         |  FROM rws GROUP BY 1, 2),
         |carry AS (
         |  SELECT event_type, blk, wnum_p AS rnp, wnum_m AS rnm,
         |    wnum_t AS rnt, wden AS rden
         |  FROM blocks WHERE blk = 0
         |  UNION ALL
         |  SELECT b.event_type, b.blk,
         |    pow($kR, 500) * c.rnp + b.wnum_p,
         |    pow($kR, 500) * c.rnm + b.wnum_m,
         |    pow($kR, 500) * c.rnt + b.wnum_t,
         |    pow($kR, 500) * c.rden + b.wden
         |  FROM blocks b JOIN carry c
         |    ON b.event_type = c.event_type AND b.blk = c.blk + 1),
         |res AS (
         |  SELECT p.bucket, p.event_type,
         |    (pow($kR, p.o + 1) * coalesce(c.rnp, 0) + pow($kR, p.o) * p.pnum_p)
         |    / (pow($kR, p.o + 1) * coalesce(c.rden, 0) + pow($kR, p.o) * p.pden)
         |      AS sm_p,
         |    (pow($kR, p.o + 1) * coalesce(c.rnm, 0) + pow($kR, p.o) * p.pnum_m)
         |    / (pow($kR, p.o + 1) * coalesce(c.rden, 0) + pow($kR, p.o) * p.pden)
         |      AS sm_m,
         |    (pow($kR, p.o + 1) * coalesce(c.rnt, 0) + pow($kR, p.o) * p.pnum_t)
         |    / (pow($kR, p.o + 1) * coalesce(c.rden, 0) + pow($kR, p.o) * p.pden)
         |      AS sm_t
         |  FROM pre p LEFT JOIN carry c
         |    ON p.event_type = c.event_type AND c.blk = p.blk - 1)
         |SELECT bucket, event_type, di_plus, di_minus,
         |  100.0 * abs(di_plus - di_minus) / nullif(di_plus + di_minus, 0) AS dx
         |FROM (
         |  SELECT bucket, event_type,
         |    100.0 * sm_p / nullif(sm_t, 0) AS di_plus,
         |    100.0 * sm_m / nullif(sm_t, 0) AS di_minus
         |  FROM res)""".stripMargin
    // Shared hourly QTY-bar CTE for the money-flow oracles (mfi/cmf):
    // the ohlcQtyHourly frame — OHLC plus real traded size Σ props.$k —
    // mirroring Microstructure.ohlcQtyHourly exactly.
    val hourlyQty =
      """WITH hourly AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
        |    max(value) AS high, min(value) AS low, arg_max(value, ts) AS close,
        |    sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS qty
        |  FROM events GROUP BY 1, 2)""".stripMargin
    // MFI oracle: typical-price delta signs each bar's raw money flow
    // tp*qty; two trailing 14-bar sums; an all-flat window is NULL via
    // nullif (Spark's try_divide). First bar's NULL dtp feeds neither
    // side (CASE → ELSE 0), matching when().otherwise(0.0).
    val mfiOracle = hourlyQty + ",\n" +
      """t AS (
        |  SELECT bucket, event_type, (high + low + close) / 3.0 AS tp, qty
        |  FROM hourly),
        |d AS (
        |  SELECT bucket, event_type, tp, qty,
        |    tp - lag(tp) OVER (PARTITION BY event_type ORDER BY bucket) AS dtp
        |  FROM t),
        |f AS (
        |  SELECT bucket, event_type, tp,
        |    sum(CASE WHEN dtp > 0 THEN tp * qty ELSE 0 END) OVER wN AS pos_flow,
        |    sum(CASE WHEN dtp < 0 THEN tp * qty ELSE 0 END) OVER wN AS neg_flow
        |  FROM d
        |  WINDOW wN AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT bucket, event_type, tp, pos_flow, neg_flow,
        |  100.0 * pos_flow / nullif(pos_flow + neg_flow, 0) AS mfi
        |FROM f""".stripMargin
    // CMF oracle: close-position-in-range scales qty into money-flow
    // volume (flat bar → 0 via the coalesced nullif division, Spark's
    // coalesce(try_divide)); 20-bar sums; zero-qty window is NULL.
    val cmfOracle = hourlyQty + ",\n" +
      """m AS (
        |  SELECT bucket, event_type, qty,
        |    coalesce(((close - low) - (high - close))
        |             / nullif(high - low, 0), 0) * qty AS mfv
        |  FROM hourly)
        |SELECT bucket, event_type,
        |  sum(mfv) OVER wN / nullif(sum(qty) OVER wN, 0) AS cmf
        |FROM m
        |WINDOW wN AS (PARTITION BY event_type ORDER BY bucket
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin
    // Shared hourly bar CTE — the single definition every
    // hourly-indicator oracle builds on (ma_* family, OBV, Amihud,
    // stochastic): the full OHLCV superset, of which each consumer names
    // only the columns it uses (the rest are inert). The as-of oracles
    // key their bars differently — bucket_end / negated bstart — and
    // stay inline.
    val hourlyClose =
      """WITH hourly AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
        |         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        |         arg_max(value, ts) AS close, sum(value) AS volume
        |  FROM events GROUP BY 1, 2)""".stripMargin
    // R/S per dyadic block size, built per size by the same Scala loop as
    // the Spark side (one edit changes both). Exact algebra throughout;
    // the final fit is regr_slope over |sizes| points per symbol.
    val hurstOracle = {
      val perSize = Seq(32, 64, 128, 256).map { n =>
        s"""  SELECT event_type, $n AS n, avg(r / s) AS rs FROM (
           |    SELECT event_type, blk, count(*) AS m,
           |      max(cum) - min(cum) AS r, stddev_pop(dp) AS s
           |    FROM (
           |      SELECT event_type, blk, dp,
           |        sum(dp - mu) OVER (PARTITION BY event_type, blk ORDER BY o
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |      FROM (
           |        SELECT event_type, rn // $n AS blk, rn % $n AS o, dp,
           |          avg(dp) OVER (PARTITION BY event_type, rn // $n) AS mu
           |        FROM f))
           |    GROUP BY 1, 2)
           |  WHERE m = $n AND s > 0 GROUP BY 1""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (
         |  SELECT event_type, ts,
         |    value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dp
         |  FROM events),
         |f AS (
         |  SELECT event_type, dp,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn
         |  FROM d WHERE dp IS NOT NULL),
         |sz AS (
         |$perSize)
         |SELECT event_type,
         |  regr_slope(log2(rs), log2(CAST(n AS DOUBLE))) AS hurst,
         |  count(*) AS n_sizes
         |FROM sz GROUP BY 1""".stripMargin
    }
    val base = Map(
    "ohlc_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, sum(value) AS volume, count(*) AS n_trades
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the rollup lattice reproduces the direct hourly aggregate exactly
    "ohlc_rollup" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, sum(value) AS volume, count(*) AS n_trades
        |FROM events GROUP BY 1, 2""".stripMargin,
    // volume-bar twins share one oracle: integer units → exact bar edges
    "volume_bars" -> volumeBarsOracle,
    "volume_bars_chunked" -> volumeBarsOracle,
    "ohlc_rowbucket" ->
      """SELECT CAST(floor((rn - 1) / 500) AS BIGINT) AS group_id,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, sum(value) AS volume, count(*) AS n_trades
        |FROM (SELECT *, row_number() OVER (ORDER BY ts) AS rn FROM events)
        |GROUP BY 1""".stripMargin,
    "ma_volatility" -> (hourlyClose + "\n" +
      """SELECT bucket, event_type, close,
        | avg(close) OVER w7 AS ma7,
        | avg(close) OVER w30 AS ma30,
        | stddev_samp(close) OVER w30 AS sd30,
        | avg(close) OVER w30 + 2.0 * stddev_samp(close) OVER w30 AS band_hi,
        | avg(close) OVER w30 - 2.0 * stddev_samp(close) OVER w30 AS band_lo
        |FROM hourly
        |WINDOW
        | w7 AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        | w30 AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin),
    "ma_volatility_strict" -> (hourlyClose + ",\n" +
      """m AS (
        |  SELECT bucket, event_type, close,
        |   avg(close) OVER w7 AS ma7_raw, count(*) OVER w7 AS c7,
        |   avg(close) OVER w30 AS ma30_raw,
        |   stddev_samp(close) OVER w30 AS sd30_raw, count(*) OVER w30 AS c30
        |  FROM hourly
        |  WINDOW
        |   w7 AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |   w30 AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT bucket, event_type, close,
        | CASE WHEN c7 >= 7 THEN ma7_raw END AS ma7,
        | CASE WHEN c30 >= 30 THEN ma30_raw END AS ma30,
        | CASE WHEN c30 >= 30 THEN sd30_raw END AS sd30,
        | CASE WHEN c30 >= 30 THEN ma30_raw + 2.0 * sd30_raw END AS band_hi,
        | CASE WHEN c30 >= 30 THEN ma30_raw - 2.0 * sd30_raw END AS band_lo
        |FROM m""".stripMargin),
    "returns_lag" ->
      """SELECT event_id, event_type, value,
        | lag(value, 1) OVER w AS prev_value,
        | value / lag(value, 1) OVER w - 1 AS ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts)""".stripMargin,
    "cumprod_equity" ->
      """SELECT event_id, event_type, value, factor,
        | product(factor) OVER (PARTITION BY event_type ORDER BY ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
        |FROM (SELECT *, coalesce(value / lag(value, 1) OVER
        |        (PARTITION BY event_type ORDER BY ts), 1.0) AS factor
        |      FROM events)""".stripMargin,
    // Chunk-carry form of the same series — the oracle mirrors the
    // engine's chunked-twin math because the naive closed form
    // (sum of pow(1/k, rn) terms) overflows past ~6.7k rows/series:
    // within 500-row blocks the exponents are bounded (pow stays within
    // 1e±23), and the cross-block carry R(b) = k^500·R(b−1) + W(b) is a
    // ~40-iteration block-level recursion. ema_t = (k^(o+1)·R(b−1) +
    // k^o·prefix_t) / (same with v=1). Float divergence from the exact
    // recursion is ~1e-15, inside the compare tolerance (the cumprod
    // precedent).
    "ewma_price" -> ewmaOracle,
    // The chunked twin computes the SAME series (parity spec pins it);
    // one oracle serves both registrations.
    "ewma_price_chunked" -> ewmaOracle,
    "macd" -> macdOracle,
    "rsi" -> rsiOracle,
    // the chunked twins compute the SAME series (parity specs pin them)
    "macd_chunked" -> macdOracle,
    "rsi_chunked" -> rsiOracle,
    "atr" -> atrOracle,
    "obv" -> (hourlyClose + ",\n" +
      """s AS (
        |  SELECT bucket, event_type,
        |    coalesce(sign(close - lag(close) OVER w), 0) * volume AS signed_vol
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket))
        |SELECT bucket, event_type, signed_vol,
        |  sum(signed_vol) OVER (PARTITION BY event_type ORDER BY bucket
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv
        |FROM s""".stripMargin),
    // drawdown twins share one oracle: the chunked form is bit-identical
    // (max and division re-associate losslessly)
    "drawdown" -> drawdownOracle,
    "drawdown_chunked" -> drawdownOracle,
    "max_drawdown" ->
      """WITH p AS (
        |  SELECT event_type, value,
        |    max(value) OVER (PARTITION BY event_type ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events)
        |SELECT event_type, min(value / peak - 1) AS max_dd, count(*) AS n
        |FROM p GROUP BY 1""".stripMargin,
    "twap_hourly" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
        |    epoch_us(ts) AS ts_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |                             ORDER BY ts, event_id) AS next_us
        |  FROM events),
        |w AS (
        |  SELECT bucket, event_type, value,
        |    CAST(least(coalesce(next_us, bucket * 1000000 + 3600000000),
        |               bucket * 1000000 + 3600000000) - ts_us AS DOUBLE) AS w
        |  FROM t)
        |SELECT bucket, event_type, sum(value * w) / sum(w) AS twap,
        |  count(*) AS n_trades
        |FROM w GROUP BY 1, 2""".stripMargin,
    "twap_anchored" ->
      """WITH t AS (
        |  SELECT event_id, event_type, value, ts,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day,
        |    epoch_us(ts) AS ts_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |                             ORDER BY ts, event_id) AS next_us
        |  FROM events),
        |w AS (
        |  SELECT event_id, event_type, day, value, ts,
        |    CAST(least(coalesce(next_us, day * 1000000 + 86400000000),
        |               day * 1000000 + 86400000000) - ts_us AS DOUBLE) AS w
        |  FROM t)
        |SELECT event_id, event_type, day, value,
        |  sum(value * w) OVER win / sum(w) OVER win AS anchored_twap
        |FROM w
        |WINDOW win AS (PARTITION BY event_type, day ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
        .stripMargin,
    "returns_autocorr" ->
      """WITH r AS (
        |  SELECT event_type, ts,
        |    value / lag(value) OVER (PARTITION BY event_type ORDER BY ts)
        |      - 1 AS ret
        |  FROM events),
        |r2 AS (
        |  SELECT event_type, ret,
        |    lag(ret, 1) OVER (PARTITION BY event_type ORDER BY ts) AS ret_lag
        |  FROM r),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt,
        |    sum(ret) AS sx, sum(ret_lag) AS sy, sum(ret * ret_lag) AS sxy,
        |    sum(ret * ret) AS sxx, sum(ret_lag * ret_lag) AS syy
        |  FROM r2 WHERE ret IS NOT NULL AND ret_lag IS NOT NULL
        |  GROUP BY 1)
        |SELECT event_type, CAST(cnt AS BIGINT) AS n,
        |  (cnt * sxy - sx * sy) /
        |    sqrt(greatest(cnt * sxx - sx * sx, 0) *
        |         greatest(cnt * syy - sy * sy, 0)) AS autocorr
        |FROM s""".stripMargin,
    // VWAP: size from the JSON payload; zero-size bar → NULL via DuckDB's
    // NULL-on-zero double division (= Spark try_divide).
    "vwap_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
        | event_type,
        | sum(value * k) / sum(k) AS vwap,
        | sum(k) AS total_qty, count(*) AS n_trades
        |FROM (SELECT ts, event_type, value,
        |        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        |      FROM events)
        |GROUP BY 1, 2""".stripMargin,
    // Day key via integer epoch-day arithmetic — no timezone dependence
    // on either engine.
    "realized_vol" -> (hourlyClose + "\n" +
      """SELECT DATE '1970-01-01' + CAST(bucket // 86400 AS INTEGER) AS day,
        | event_type,
        | sqrt(avg(pow(ln(high / low), 2)) / (4 * ln(2))) AS parkinson,
        | sqrt(avg(0.5 * pow(ln(high / low), 2)
        |          - (2 * ln(2) - 1) * pow(ln(close / open), 2)))
        |   AS garman_klass,
        | count(*) AS n_bars
        |FROM hourly WHERE low > 0 AND open > 0
        |GROUP BY 1, 2""".stripMargin),
    "roll_spread" ->
      """WITH d AS (
        |  SELECT event_type, ts,
        |    value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dp
        |  FROM events),
        |d2 AS (
        |  SELECT event_type, dp,
        |    lag(dp) OVER (PARTITION BY event_type ORDER BY ts) AS dp_prev
        |  FROM d),
        |s AS (
        |  SELECT event_type, covar_samp(dp, dp_prev) AS cov_dp,
        |    count(dp_prev) AS n_pairs
        |  FROM d2 GROUP BY 1)
        |SELECT event_type, cov_dp, n_pairs,
        |  CASE WHEN cov_dp < 0 THEN 2 * sqrt(-cov_dp) END AS roll_spread
        |FROM s""".stripMargin,
    // Boundary-sampled q-step changes: survivors of rn % q = 0 are
    // exactly q ticks apart, so lag(1) over them spans q one-step moves.
    "variance_ratio" ->
      """WITH r AS (
        |  SELECT event_type, ts, value,
        |    row_number() OVER w - 1 AS rn,
        |    value - lag(value) OVER w AS dp
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        |v1 AS (
        |  SELECT event_type, var_samp(dp) AS var_1, count(dp) AS n_1
        |  FROM r GROUP BY 1),
        |vq AS (
        |  SELECT event_type, 2 AS q, var_samp(dq) AS var_q, count(dq) AS n_q
        |  FROM (SELECT event_type,
        |          value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dq
        |        FROM r WHERE rn % 2 = 0) GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 4 AS q, var_samp(dq) AS var_q, count(dq) AS n_q
        |  FROM (SELECT event_type,
        |          value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dq
        |        FROM r WHERE rn % 4 = 0) GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 8 AS q, var_samp(dq) AS var_q, count(dq) AS n_q
        |  FROM (SELECT event_type,
        |          value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dq
        |        FROM r WHERE rn % 8 = 0) GROUP BY 1)
        |SELECT vq.event_type, q, n_q, n_1, var_q / (q * var_1) AS vr
        |FROM vq JOIN v1 ON vq.event_type = v1.event_type""".stripMargin,
    "kaufman_er" ->
      """WITH d AS (
        |  SELECT event_id, event_type, ts, value,
        |    value - lag(value) OVER w AS dp,
        |    lag(value, 10) OVER w AS p_n
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        |e AS (
        |  SELECT event_id, event_type, value, p_n,
        |    sum(abs(dp)) OVER (PARTITION BY event_type ORDER BY ts
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS path
        |  FROM d)
        |SELECT event_id, event_type, value,
        |  CASE WHEN p_n IS NOT NULL THEN abs(value - p_n) / path END AS er
        |FROM e""".stripMargin,
    "donchian" -> (hourlyClose + ",\n" +
      """ch AS (
        |  SELECT bucket, event_type, close,
        |    max(high) OVER wN AS upper, min(low) OVER wN AS lower
        |  FROM hourly
        |  WINDOW wN AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT bucket, event_type, close, upper, lower,
        |  (upper + lower) / 2 AS mid,
        |  (close - lower) / (upper - lower) AS pos,
        |  coalesce(close > lag(upper)
        |    OVER (PARTITION BY event_type ORDER BY bucket), false) AS breakout
        |FROM ch""".stripMargin),
    "hurst_rs" -> hurstOracle,
    "mfi" -> mfiOracle,
    "cmf" -> cmfOracle,
    // CCI oracle: the window MAD a plain SQL aggregate can't express is
    // the collected ≤20-element frame folded with a list lambda —
    // exactly the Spark side's collect_list + higher-order aggregate.
    "cci" -> (hourlyClose + ",\n" +
      """b AS (
        |  SELECT bucket, event_type, (high + low + close) / 3.0 AS tp
        |  FROM hourly),
        |w AS (
        |  SELECT bucket, event_type, tp,
        |    avg(tp)  OVER wN AS sma,
        |    list(tp) OVER wN AS arr
        |  FROM b
        |  WINDOW wN AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT bucket, event_type, tp, sma,
        |    list_sum(list_transform(arr, x -> abs(x - sma))) / len(arr) AS mad
        |  FROM w)
        |SELECT bucket, event_type, tp, sma, mad,
        |  (tp - sma) / nullif(0.015 * mad, 0) AS cci
        |FROM m""".stripMargin),
    "dmi" -> dmiOracle,
    // Tick-rule oracle: same zero-change carry via IGNORE NULLS last.
    "tick_rule_flow" ->
      """WITH t AS (
        |  SELECT ts, event_type,
        |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty,
        |    CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END AS sgn_raw
        |  FROM (SELECT ts, event_type, props,
        |          value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dp
        |        FROM events)),
        |s AS (
        |  SELECT ts, event_type, qty,
        |    last_value(sgn_raw IGNORE NULLS) OVER
        |      (PARTITION BY event_type ORDER BY ts
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
        |  FROM t)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
        |  event_type,
        |  sum(CASE WHEN sgn = 1 THEN qty ELSE 0 END) AS buy_qty,
        |  sum(CASE WHEN sgn = -1 THEN qty ELSE 0 END) AS sell_qty,
        |  count(*) AS n_classified,
        |  (sum(CASE WHEN sgn = 1 THEN qty ELSE 0 END)
        |   - sum(CASE WHEN sgn = -1 THEN qty ELSE 0 END))
        |  / nullif(sum(CASE WHEN sgn = 1 THEN qty ELSE 0 END)
        |           + sum(CASE WHEN sgn = -1 THEN qty ELSE 0 END), 0) AS ofi
        |FROM s WHERE sgn IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // Run-length oracle: identical two-stage window + double aggregate.
    "run_lengths" ->
      """WITH d1 AS (
        |  SELECT ts, event_type, d FROM (
        |    SELECT ts, event_type,
        |      CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END AS d
        |    FROM (SELECT ts, event_type,
        |            value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS dp
        |          FROM events))
        |  WHERE d IS NOT NULL),
        |d2 AS (
        |  SELECT ts, event_type, d,
        |    CASE WHEN d = lag(d) OVER w THEN 0 ELSE 1 END AS chg
        |  FROM d1 WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        |d3 AS (
        |  SELECT event_type, d,
        |    sum(chg) OVER (PARTITION BY event_type ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
        |  FROM d2),
        |r AS (SELECT event_type, rid, d, count(*) AS run_len
        |      FROM d3 GROUP BY 1, 2, 3)
        |SELECT event_type, d AS direction, run_len, count(*) AS n_runs
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    // KAMA oracle: the rsi/atr chunk-carry template generalized to
    // PER-ROW decay — within each 500-step block the affine prefix
    // (a_pref, b_pref) is computed in log space (ln(1−sc) prefix sums;
    // |sum| < 500·ln(1/0.556) ≈ 294, far under double range), the
    // block-final maps carry recursively over blocks, and each row
    // applies its block-local prefix to the previous block's value.
    // Same constant composition (2.0/3.0, 2.0/31.0) as the Spark side.
    "kama" -> (hourlyClose.replace("WITH hourly", "WITH RECURSIVE hourly") + ",\n" +
      """b0 AS (
        |  SELECT bucket, event_type, close,
        |    row_number() OVER w - 1 AS rn,
        |    close - lag(close) OVER w AS dp,
        |    lag(close, 10) OVER w AS p_n
        |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        |b2 AS (
        |  SELECT bucket, event_type, close, rn,
        |    coalesce(abs(close - p_n)
        |      / nullif(sum(abs(dp)) OVER (PARTITION BY event_type
        |          ORDER BY bucket ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 0),
        |      0.0) AS er
        |  FROM b0),
        |b3 AS (
        |  SELECT bucket, event_type, close, rn, er,
        |    pow(er * (2.0/3.0 - 2.0/31.0) + 2.0/31.0, 2.0) AS sc
        |  FROM b2),
        |seed AS (SELECT event_type, close AS x0 FROM b3 WHERE rn = 0),
        |steps AS (
        |  SELECT bucket, event_type, close, sc,
        |    CAST(floor((rn - 1) / 500) AS INTEGER) AS blk, (rn - 1) % 500 AS o
        |  FROM b3 WHERE rn >= 1),
        |pre AS (
        |  SELECT *, sum(ln(1.0 - sc)) OVER wb AS sl
        |  FROM steps
        |  WINDOW wb AS (PARTITION BY event_type, blk ORDER BY o
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pre2 AS (
        |  SELECT *, exp(sl) AS a_pref,
        |    exp(sl) * sum(sc * close * exp(-sl)) OVER wb2 AS b_pref
        |  FROM pre
        |  WINDOW wb2 AS (PARTITION BY event_type, blk ORDER BY o
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |blocks AS (
        |  SELECT event_type, blk,
        |    arg_max(a_pref, o) AS a_blk, arg_max(b_pref, o) AS b_blk
        |  FROM pre2 GROUP BY 1, 2),
        |carry AS (
        |  SELECT b.event_type, b.blk, b.a_blk * s.x0 + b.b_blk AS x
        |  FROM blocks b JOIN seed s ON b.event_type = s.event_type
        |  WHERE b.blk = 0
        |  UNION ALL
        |  SELECT b.event_type, b.blk, b.a_blk * c.x + b.b_blk
        |  FROM blocks b JOIN carry c
        |    ON b.event_type = c.event_type AND b.blk = c.blk + 1),
        |res AS (
        |  SELECT p.bucket, p.event_type,
        |    p.a_pref * coalesce(c.x, s.x0) + p.b_pref AS kama
        |  FROM pre2 p
        |  JOIN seed s ON p.event_type = s.event_type
        |  LEFT JOIN carry c
        |    ON p.event_type = c.event_type AND c.blk = p.blk - 1)
        |SELECT b3.bucket, b3.event_type, b3.close, b3.er, b3.sc,
        |  CASE WHEN b3.rn = 0 THEN b3.close ELSE r.kama END AS kama
        |FROM b3 LEFT JOIN res r
        |  ON b3.event_type = r.event_type AND b3.bucket = r.bucket""".stripMargin),
    // Ichimoku oracle: three midlines in one window clause, the two
    // cloud spans lagged by the kijun horizon — causal like the Spark
    // side; warm-up bars coalesce above_cloud to false (donchian
    // convention) in both engines.
    "ichimoku" -> (hourlyClose + ",\n" +
      """i AS (
        |  SELECT bucket, event_type, close,
        |    (max(high) OVER w9  + min(low) OVER w9)  / 2.0 AS tenkan,
        |    (max(high) OVER w26 + min(low) OVER w26) / 2.0 AS kijun,
        |    (max(high) OVER w52 + min(low) OVER w52) / 2.0 AS mid52
        |  FROM hourly
        |  WINDOW
        |    w9  AS (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |    w52 AS (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
        |SELECT bucket, event_type, close, tenkan, kijun,
        |  senkou_a, senkou_b,
        |  coalesce(close > greatest(senkou_a, senkou_b), false) AS above_cloud
        |FROM (
        |  SELECT bucket, event_type, close, tenkan, kijun,
        |    lag((tenkan + kijun) / 2.0, 26) OVER w AS senkou_a,
        |    lag(mid52, 26) OVER w AS senkou_b
        |  FROM i WINDOW w AS (PARTITION BY event_type ORDER BY bucket))""".stripMargin),
    // Frac-diff oracle: the SAME driver-side binomial weights rendered
    // as literals (shortest round-trip doubles — both engines parse the
    // identical IEEE value), same left-assoc addition order.
    "frac_diff" -> {
      val terms = graft.ops.Microstructure.fracDiffWeights(0.4, 20)
        .zipWithIndex
        .map { case (wk, k) => s"($wk) * lag(close, $k) OVER w" }
        .mkString(" + ")
      hourlyClose + "\n" +
        s"""SELECT bucket, event_type, close,
           |  $terms AS frac_diff
           |FROM hourly
           |WINDOW w AS (PARTITION BY event_type ORDER BY bucket)""".stripMargin
    },
    // Return-moments oracle: identical raw-power-sum recombination.
    "return_moments" -> (hourlyClose + ",\n" +
      """r AS (
        |  SELECT DATE '1970-01-01' + CAST(bucket // 86400 AS INTEGER) AS day,
        |    event_type,
        |    close / lag(close) OVER (PARTITION BY event_type ORDER BY bucket)
        |      - 1.0 AS r
        |  FROM hourly),
        |s AS (
        |  SELECT day, event_type, count(*) AS n_rets, avg(r) AS mu,
        |    avg(r * r) AS p2, avg(r * r * r) AS p3,
        |    avg(r * r * r * r) AS p4
        |  FROM r WHERE r IS NOT NULL GROUP BY 1, 2)
        |SELECT day, event_type, n_rets, mu,
        |  p2 - mu * mu AS m2,
        |  (p3 - 3.0 * mu * p2 + 2.0 * mu * mu * mu)
        |    / nullif(pow(p2 - mu * mu, 1.5), 0) AS skew,
        |  (p4 - 4.0 * mu * p3 + 6.0 * mu * mu * p2
        |    - 3.0 * mu * mu * mu * mu)
        |    / nullif(pow(p2 - mu * mu, 2.0), 0) - 3.0 AS ex_kurt
        |FROM s""".stripMargin),
    "amihud" -> (hourlyClose + ",\n" +
      """r AS (
        |  SELECT bucket, event_type,
        |    abs(close / lag(close) OVER w - 1) / volume AS illiq_bar
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket))
        |SELECT bucket, event_type, illiq_bar,
        |  avg(illiq_bar) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS illiq
        |FROM r""".stripMargin),
    "seasonality_grid" ->
      """SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        |  CAST(hour(ts) AS INTEGER) AS hr, event_type,
        |  avg(value) AS avg_value, sum(value) AS sum_value, count(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "rolling_corr" ->
      """WITH hourly AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
        |    event_type, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.bucket AS bucket,
        |    a.event_type || '/' || b.event_type AS pair,
        |    a.close AS x, b.close AS y
        |  FROM hourly a JOIN hourly b ON a.bucket = b.bucket
        |  WHERE a.event_type < b.event_type),
        |s AS (
        |  SELECT bucket, pair, x, y,
        |    CAST(count(*) OVER w AS DOUBLE) AS cnt,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy,
        |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
        |  FROM j
        |  WINDOW w AS (PARTITION BY pair ORDER BY bucket
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT bucket, pair, x, y,
        |  (cnt * sxy - sx * sy) /
        |    sqrt(greatest(cnt * sxx - sx * sx, 0) *
        |         greatest(cnt * syy - sy * sy, 0)) AS corr_xy,
        |  (cnt * sxy - sx * sy) / greatest(cnt * sxx - sx * sx, 0) AS beta_yx
        |FROM s""".stripMargin,
    "stochastic" -> (hourlyClose + ",\n" +
      """k AS (
        |  SELECT bucket, event_type, close,
        |    100.0 * (close - min(low) OVER wk)
        |      / nullif(max(high) OVER wk - min(low) OVER wk, 0) AS pct_k
        |  FROM hourly
        |  WINDOW wk AS (PARTITION BY event_type ORDER BY bucket
        |                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT bucket, event_type, close, pct_k,
        |  avg(pct_k) OVER (PARTITION BY event_type ORDER BY bucket
        |                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS pct_d
        |FROM k""".stripMargin),
    "ma_crossover" -> (hourlyClose + ",\n" +
      """m AS (
        |  SELECT bucket, event_type, close,
        |   avg(close) OVER (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
        |   avg(close) OVER (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ma30,
        |   lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS prev_close
        |  FROM hourly),
        |s AS (
        |  SELECT *, CASE WHEN ma7 > ma30 THEN 1 ELSE 0 END AS signal,
        |         close / prev_close - 1 AS ret
        |  FROM m),
        |p AS (
        |  SELECT *, coalesce(lag(signal, 1) OVER (PARTITION BY event_type ORDER BY bucket), 0) AS position
        |  FROM s),
        |f AS (SELECT *, coalesce(1.0 + position * ret, 1.0) AS strat_factor FROM p)
        |SELECT bucket, event_type, close, ma7, ma30, signal, position,
        | product(strat_factor) OVER (PARTITION BY event_type ORDER BY bucket
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
        |FROM f""".stripMargin),
    "minmax_scale" ->
      """SELECT event_id, event_type, value, mn, mx,
        | CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS scaled
        |FROM (SELECT event_id, event_type, value,
        |        min(value) OVER (PARTITION BY event_type) AS mn,
        |        max(value) OVER (PARTITION BY event_type) AS mx
        |      FROM events)""".stripMargin,
    "minmax_roundtrip" ->
      """SELECT event_id, event_type, value, scaled,
        | scaled * (mx - mn) + mn AS unscaled
        |FROM (SELECT event_id, event_type, value, mn, mx,
        |        CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS scaled
        |      FROM (SELECT event_id, event_type, value,
        |              min(value) OVER (PARTITION BY event_type) AS mn,
        |              max(value) OVER (PARTITION BY event_type) AS mx
        |            FROM events))""".stripMargin,
    "rmse_mae" ->
      """SELECT event_type,
        | sqrt(avg(power(value - yhat, 2))) AS rmse,
        | avg(abs(value - yhat)) AS mae,
        | count(*) AS n
        |FROM (SELECT event_type, value,
        |        lag(value, 1) OVER (PARTITION BY event_type ORDER BY ts) AS yhat
        |      FROM events)
        |WHERE yhat IS NOT NULL GROUP BY event_type""".stripMargin,
    "metrics_long" ->
      """WITH s AS (
        |  SELECT event_type, value,
        |    lag(value, 1) OVER (PARTITION BY event_type ORDER BY ts) AS yhat,
        |    CASE WHEN rn <= 0.8 * n THEN 'train'
        |         WHEN rn <= 0.9 * n THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT event_type, value, ts,
        |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
        |          count(*) OVER (PARTITION BY event_type) AS n
        |        FROM events)),
        |wide AS (
        |  SELECT event_type, split,
        |    sqrt(avg(power(value - yhat, 2))) AS rmse,
        |    avg(abs(value - yhat)) AS mae
        |  FROM s WHERE yhat IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, split, 'RMSE' AS metric, rmse AS value FROM wide
        |UNION ALL
        |SELECT event_type, split, 'MAE' AS metric, mae AS value FROM wide""".stripMargin,
    "ordered_split" ->
      """SELECT event_type, split, count(*) AS n_rows, sum(value) AS sum_value
        |FROM (SELECT event_type, value,
        |        CASE WHEN rn <= 0.8 * n THEN 'train'
        |             WHEN rn <= 0.9 * n THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM (SELECT event_type, value,
        |              row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS n
        |            FROM events))
        |GROUP BY 1, 2""".stripMargin,
    // Integer-exact bounds (8n//10, +100) — no float fraction at the cut.
    "split_embargo" ->
      """SELECT event_type, split, count(*) AS n_rows, sum(value) AS sum_value
        |FROM (SELECT event_type, value,
        |        CASE WHEN rn <= n * 8 // 10 THEN 'train'
        |             WHEN rn <= n * 8 // 10 + 100 THEN 'embargo'
        |             ELSE 'test' END AS split
        |      FROM (SELECT event_type, value,
        |              row_number() OVER (PARTITION BY event_type
        |                ORDER BY ts, event_id) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS n
        |            FROM events))
        |GROUP BY 1, 2""".stripMargin,
    // Same integer block assignment ((rn-1)*(k+1) // n + 1), prefix sums
    // over the k+1 block rows.
    "walk_forward" ->
      """WITH r AS (
        |  SELECT event_type, ts,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (
        |  SELECT event_type, (rn - 1) * 5 // n + 1 AS block,
        |    count(*) AS b_rows, max(ts) AS b_end_ts
        |  FROM r GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, block,
        |    CAST(sum(b_rows) OVER (PARTITION BY event_type ORDER BY block
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_train,
        |    lead(b_rows) OVER (PARTITION BY event_type ORDER BY block)
        |      AS n_test,
        |    b_end_ts AS train_end_ts,
        |    lead(b_end_ts) OVER (PARTITION BY event_type ORDER BY block)
        |      AS test_end_ts
        |  FROM b)
        |SELECT event_type, CAST(block AS INTEGER) AS fold, n_train, n_test,
        |       train_end_ts, test_end_ts
        |FROM f WHERE block <= 4 AND n_test IS NOT NULL""".stripMargin,
    "summary_stats" ->
      """SELECT count(*) AS n,
        | avg(l_quantity) AS avg_qty, stddev_samp(l_quantity) AS std_qty,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | quantile_cont(l_quantity, 0.25) AS q1_qty,
        | quantile_cont(l_quantity, 0.50) AS med_qty,
        | quantile_cont(l_quantity, 0.75) AS q3_qty,
        | avg(l_extendedprice) AS avg_price, stddev_samp(l_extendedprice) AS std_price,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        | avg(l_discount) AS avg_disc, min(l_discount) AS min_disc,
        | max(l_discount) AS max_disc
        |FROM lineitem""".stripMargin,
    // The direct one-pass stats with the SAME derived identities the
    // merge uses (sum/n, (sumsq − sum²/n)/(n−1)): any shard split must
    // land on these numbers.
    // Same exact algebra as the Spark side: accumulate n / sum / sumsq in
    // DECIMAL (exact on the cent grid, order-independent), then derive the
    // double moments from the exact components with the identical
    // expression tree — both engines land on the same IEEE-754 doubles.
    "stats_incremental" ->
      """WITH st AS (
        |  SELECT count(*) AS n,
        |   sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s,
        |   sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |       * CAST(l_extendedprice AS DECIMAL(18,2))) AS s2,
        |   min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v
        |  FROM lineitem)
        |SELECT n, CAST(s AS DOUBLE) AS sum_v, min_v, max_v,
        | CAST(s AS DOUBLE) / n AS mean_v,
        | CASE WHEN n > 1 THEN
        |   (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |   / (n - 1) END AS var_v,
        | sqrt(CASE WHEN n > 1 THEN
        |   (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |   / (n - 1) END) AS std_v
        |FROM st""".stripMargin,
    "summary_approx" ->
      """SELECT count(l_extendedprice) AS n,
        | quantile_cont(l_extendedprice, 0.50) AS exact_median,
        | quantile_cont(l_extendedprice, 0.99) AS exact_p99
        |FROM lineitem""".stripMargin,
    "exact_quantiles" ->
      """SELECT count(l_extendedprice) AS n,
        | quantile_cont(l_extendedprice, 0.50) AS p50,
        | quantile_cont(l_extendedprice, 0.90) AS p90,
        | quantile_cont(l_extendedprice, 0.99) AS p99
        |FROM lineitem""".stripMargin,
    // quantile_cont interpolates exactly like the range-sort path (the
    // exact_quantiles precedent); clamp = same least(greatest(...)).
    "winsorize_price" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.05) AS q_lo,
        |                  quantile_cont(l_extendedprice, 0.95) AS q_hi
        |            FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice, q_lo, q_hi,
        | least(greatest(l_extendedprice, q_lo), q_hi) AS winsorized
        |FROM lineitem, q""".stripMargin,
    // Same med and single p75−p25 subtraction, same guarded division.
    "robust_scale" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med,
        |   quantile_cont(l_extendedprice, 0.75)
        |     - quantile_cont(l_extendedprice, 0.25) AS iqr
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice, med, iqr,
        | CASE WHEN iqr = 0 THEN 0.0
        |      ELSE (l_extendedprice - med) / iqr END AS scaled
        |FROM lineitem, q""".stripMargin,
    "corr_matrix" ->
      """SELECT
        | corr(l_quantity, l_extendedprice) AS corr_qty_price,
        | corr(l_quantity, l_discount) AS corr_qty_disc,
        | corr(l_quantity, l_tax) AS corr_qty_tax,
        | corr(l_extendedprice, l_discount) AS corr_price_disc,
        | corr(l_extendedprice, l_tax) AS corr_price_tax,
        | corr(l_discount, l_tax) AS corr_disc_tax,
        | covar_samp(l_quantity, l_extendedprice) AS cov_qty_price
        |FROM lineitem""".stripMargin,
    "join_star" ->
      """SELECT r_name, n_name,
        | sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        | sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem
        | JOIN orders   ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation   ON c_nationkey = n_nationkey
        | JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "join_large" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | sum(l_extendedprice) AS sum_price,
        | avg(o_totalprice) AS avg_order_total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers, sum(c_acctbal) AS sum_acctbal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin,
    "join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers, sum(c_acctbal) AS sum_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin,
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty, avg(l_extendedprice) AS avg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "range_frame" ->
      """SELECT event_id, event_type, value,
        | avg(value) OVER w AS avg_1h, count(*) OVER w AS n_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin,
    "set_ops" ->
      """SELECT event_id, 'intersect' AS op FROM (
        |  SELECT event_id FROM events WHERE value > 90.0
        |  INTERSECT
        |  SELECT event_id FROM events WHERE user_id % 2 = 0)
        |UNION ALL
        |SELECT event_id, 'except' AS op FROM (
        |  SELECT event_id FROM events WHERE value > 90.0
        |  EXCEPT
        |  SELECT event_id FROM events WHERE user_id % 2 = 0)""".stripMargin,
    "fill_forward" ->
      """SELECT event_id, event_type, gappy,
        | last_value(gappy IGNORE NULLS) OVER (PARTITION BY event_type
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (SELECT event_id, event_type, ts,
        |        CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS gappy
        |      FROM events)""".stripMargin,
    "pivot_wide" ->
      """SELECT source,
        | CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        | CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        | CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        | CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        | CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY 1""".stripMargin,
    "rank_metrics" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        | rnk, dense_rnk, pct_rank, cume
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        CAST(rank() OVER w AS INTEGER) AS rnk,
        |        CAST(dense_rank() OVER w AS INTEGER) AS dense_rnk,
        |        percent_rank() OVER w AS pct_rank,
        |        cume_dist() OVER w AS cume
        |      FROM orders
        |      WINDOW w AS (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rnk <= 5""".stripMargin,
    "join_salted" ->
      """SELECT event_type, count(*) AS n,
        | sum(value - type_avg) AS sum_dev
        |FROM events JOIN (SELECT event_type AS et, avg(value) AS type_avg
        |                  FROM events GROUP BY 1) d
        |  ON event_type = et
        |GROUP BY 1""".stripMargin,
    "join_asof" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         date_trunc('hour', ts) + INTERVAL 1 HOUR AS bucket_end,
        |         arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, e.value, b.close AS bar_close
        |FROM events e
        |ASOF LEFT JOIN hourly b
        |  ON e.event_type = b.event_type AND e.ts >= b.bucket_end""".stripMargin,
    // ORDER BY (ts, event_id) in every window: the Spark side's total order
    // (byTypeTime) — µs-level ts ties would otherwise leave the oracle's
    // list()/lead() contents order-arbitrary while Spark's are pinned.
    // Forward ASOF via sign flip: DuckDB's ASOF matches the largest
    // right-side key <= the left key, so joining on negated epochs picks
    // the SMALLEST bucket_ts >= ts — the next bar, inclusive.
    "join_asof_fwd" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bstart,
        |         arg_min(value, ts) AS open
        |  FROM events GROUP BY 1, 2),
        |e2 AS (SELECT event_id, event_type, value, -epoch_us(ts) AS nts
        |       FROM events),
        |h2 AS (SELECT event_type AS et, open, -epoch_us(bstart) AS nts
        |       FROM hourly)
        |SELECT event_id, event_type, value, open AS next_open
        |FROM e2 ASOF LEFT JOIN h2
        |  ON e2.event_type = h2.et AND e2.nts >= h2.nts""".stripMargin,
    "seq_sliding" ->
      """SELECT event_id, event_type,
        | seq[1] AS seq_0, seq[2] AS seq_1, seq[3] AS seq_2,
        | seq[4] AS seq_3, seq[5] AS seq_4, target
        |FROM (SELECT event_id, event_type,
        |        list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS seq,
        |        lead(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS target
        |      FROM events)
        |WHERE len(seq) = 5 AND target IS NOT NULL""".stripMargin,
    "seq_sliding_stats" ->
      """SELECT event_id, event_type,
        | seq[1] AS seq_first, seq[5] AS seq_last,
        | list_sum(seq) AS seq_sum, CAST(len(seq) AS INTEGER) AS seq_len, target
        |FROM (SELECT event_id, event_type,
        |        list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS seq,
        |        lead(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS target
        |      FROM events)
        |WHERE len(seq) = 5 AND target IS NOT NULL""".stripMargin,
    "seq_tail" ->
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn <= 60""".stripMargin,
    "seq_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "union_parts" ->
      """SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 1""".stripMargin,
    "head_k" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id LIMIT 100""".stripMargin,
    "json_props" ->
      """SELECT event_type,
        | count(k_val) AS n_with_k, CAST(sum(k_val) AS BIGINT) AS sum_k,
        | min(k_val) AS min_k, max(k_val) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |      FROM events)
        |GROUP BY 1""".stripMargin,
    "date_parts" ->
      """SELECT event_id,
        | CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS mo,
        | CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        | epoch_ms(date_trunc('millisecond', ts)) AS epoch_ms,
        | strftime(ts + INTERVAL 7 HOURS, '%Y-%m-%d %H') AS ts_plus7
        |FROM events""".stripMargin,
    "regex_funcs" ->
      """SELECT doc_id,
        | CAST(regexp_extract(source, '[0-9]+') AS BIGINT) AS src_num,
        | regexp_replace(source, '^src', 'source-') AS src_renamed,
        | CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INTEGER) AS n_nonspace
        |FROM documents""".stripMargin,
    "concat_agg" ->
      """SELECT lang,
        | string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
        | count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin,
    "cast_project" ->
      """SELECT l_orderkey,
        | CAST(l_linenumber AS BIGINT) AS linenum_l,
        | CAST(l_quantity AS INTEGER) AS qty_int,
        | l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charged,
        | strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem""".stripMargin,
    "null_guard" ->
      """SELECT count(*) AS n_total,
        | count(value) AS n_value_nonnull,
        | CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value_null,
        | max(CASE WHEN value IS NOT NULL THEN value END) AS max_nonnull
        |FROM events""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, lang,
        | CAST(length(text) AS INTEGER) AS n_chars_calc,
        | CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
        | CAST(len(list_distinct(string_split(lower(text), ' '))) AS INTEGER) AS n_uniq_tokens,
        | CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS avg_token_len
        |FROM documents""".stripMargin,
    "token_bpe" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_digit_runs
        |FROM documents""".stripMargin,
    "quality_score" ->
      """SELECT doc_id, n_tokens, n_stop,
        | CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        | CAST(n_uniq AS DOUBLE) / n_tokens AS diversity,
        | (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |   + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |   + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |FROM (SELECT doc_id,
        |        CAST(len(w) AS INTEGER) AS n_tokens,
        |        CAST(len(list_filter(w, x -> list_contains(
        |          ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |        len(list_distinct(w)) AS n_uniq
        |      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))""".stripMargin,
    "lang_breakdown" ->
      """SELECT lang, count(*) AS n_docs,
        | avg(n_chars) AS avg_chars,
        | avg(len(string_split(lower(text), ' '))) AS avg_tokens,
        | count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin,
    "lang_id" ->
      """SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es,
        | CASE WHEN best = 0 THEN 'und'
        |      WHEN hits_en = best THEN 'en'
        |      WHEN hits_de = best THEN 'de'
        |      WHEN hits_fr = best THEN 'fr'
        |      WHEN hits_es = best THEN 'es'
        |      ELSE 'und' END AS predicted
        |FROM (SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es,
        |        greatest(hits_en, hits_de, hits_fr, hits_es) AS best
        |      FROM (SELECT doc_id, lang,
        |        CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a'], x))) AS INTEGER) AS hits_en,
        |        CAST(len(list_filter(w, x -> list_contains(['der','die','und','das','ist'], x))) AS INTEGER) AS hits_de,
        |        CAST(len(list_filter(w, x -> list_contains(['le','la','et','les','des'], x))) AS INTEGER) AS hits_fr,
        |        CAST(len(list_filter(w, x -> list_contains(['el','la','que','los','una'], x))) AS INTEGER) AS hits_es
        |      FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents)))""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id, md5(text) AS text_md5,
        | list_aggregate(list_transform(generate_series(1, len(w) - 2),
        |   g -> md5(concat(w[g], ' ', w[g+1], ' ', w[g+2]))), 'min') AS shingle_fp,
        | CAST(len(w) - 2 AS INTEGER) AS n_shingles
        |FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents)
        |WHERE len(w) >= 3""".stripMargin,
    "pack_chunks" ->
      """SELECT doc_id, shard, n_tokens,
        | CAST(floor(start_tok / 512) AS BIGINT) AS chunk_id,
        | start_tok % 512 AS offset
        |FROM (SELECT doc_id, substr(h, 1, 1) AS shard, n_tokens,
        |        coalesce(CAST(sum(n_tokens) OVER (PARTITION BY substr(h, 1, 1)
        |          ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS BIGINT), 0) AS start_tok
        |      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |            FROM documents))""".stripMargin,
    // Same layout contract, token budget measured by the BPE-ish regex
    // (letter runs / digit runs / single non-alnum symbols, lowercased).
    "pack_chunks_bpe" ->
      """SELECT doc_id, shard, n_tokens,
        | CAST(floor(start_tok / 512) AS BIGINT) AS chunk_id,
        | start_tok % 512 AS offset
        |FROM (SELECT doc_id, substr(h, 1, 1) AS shard, n_tokens,
        |        coalesce(CAST(sum(n_tokens) OVER (PARTITION BY substr(h, 1, 1)
        |          ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS BIGINT), 0) AS start_tok
        |      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |              CAST(len(regexp_extract_all(lower(text),
        |                '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens
        |            FROM documents))""".stripMargin,
    // 0.2 → 0x33333333, 0.5 → 0x80000000, 0.1 → 0x19999999,
    // 0.05 → 0x0ccccccc of 2^32 (first 8 md5 hex chars compare uniformly)
    "sample_hash" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '19999999'
        |       ELSE '0ccccccc' END""".stripMargin,
    "sample_exact" ->
      """SELECT doc_id, lang FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 50""".stripMargin,
    // Same quality formula, same (quality DESC, doc_id ASC) order.
    "cap_per_source" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)))
        |SELECT doc_id, source, quality FROM (
        |  SELECT d.doc_id, d.source, q.quality,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY q.quality DESC, d.doc_id ASC) AS rn
        |  FROM documents d JOIN q USING (doc_id))
        |WHERE rn <= 15""".stripMargin,
    // Fold thresholds are the SAME hex literals splitByGroup compares
    // against (exposed via Sampling.splitThresholds) — integer-exact
    // fold assignment, no float boundary to disagree on.
    "split_by_group" -> {
      val (trainHex, valHex) = Sampling.splitThresholds(0.1, 0.1)
      s"""SELECT split, count(*) AS n_rows,
         | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups
         |FROM (SELECT o_custkey,
         |        CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
         |               < '$trainHex' THEN 'train'
         |             WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
         |               < '$valHex' THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM orders)
         |GROUP BY 1""".stripMargin
    },
    // Same single IEEE division both sides: uint32 md5 prefix over the
    // stored weight. Both operands cast to DOUBLE explicitly.
    "sample_weighted" ->
      """SELECT doc_id, lang, n_chars,
        | CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |   AS BIGINT) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    // Same hash order (md5 hex, then key), same rows-frame running sum,
    // same per-source budget literals; cum <= budget cuts the identical
    // prefix.
    "mix_token_budget" ->
      """SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM (SELECT doc_id, source,
        |          CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens
        |        FROM documents))
        |WHERE cum_tokens <= CASE source WHEN 'src0' THEN 1000
        |                                WHEN 'src1' THEN 500 ELSE 700 END""".stripMargin,
    // Temperature budgets: Qs = floor(sqrt(mass) * 2^20) BIGINT, split by
    // exact HUGEINT multiply + floor division — the boundary doc of every
    // source is integer-decided, same in any engine.
    "mix_temperature" ->
      """WITH d AS (SELECT doc_id, source,
        |             CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens
        |           FROM documents),
        |m AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS mass FROM d GROUP BY 1),
        |q AS (SELECT source,
        |        CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1048576.0) AS BIGINT) AS qs
        |      FROM m),
        |b AS (SELECT source,
        |        CAST((qs::HUGEINT * 5000) // (SELECT sum(qs) FROM q) AS BIGINT) AS budget
        |      FROM q)
        |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens, budget
        |FROM (SELECT d.doc_id, d.source, d.n_tokens, b.budget,
        |        sum(n_tokens) OVER (PARTITION BY d.source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |      FROM d JOIN b USING (source))
        |WHERE cum_tokens <= budget""".stripMargin,
    // shard = uint32(md5 prefix) mod 8, pos = 0-based (hash, key) rank
    // within the shard — both pure functions of doc_id, engine-exact.
    "shuffle_shard" ->
      """SELECT doc_id,
        | CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |   AS BIGINT) % 8 AS INTEGER) AS shard,
        | CAST(row_number() OVER (
        |     PARTITION BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) % 8
        |     ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |   - 1 AS INTEGER) AS pos
        |FROM documents""".stripMargin,
    // Same quality formula as cap_per_source; the cut is integer rank vs
    // ceil(n * 0.3) — one IEEE multiply, same boundary row both engines.
    "quality_top_fraction" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)))
        |SELECT doc_id, lang, quality FROM (
        |  SELECT d.doc_id, d.lang, q.quality,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY q.quality DESC, d.doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM documents d JOIN q USING (doc_id))
        |WHERE rn <= ceil(CAST(n AS DOUBLE) * 0.3)""".stripMargin,
    // Identical bin expression (same ops, same order) — bin ids match
    // bit-for-bit; max value clamps into the last bin.
    "histogram_price" ->
      """WITH b AS (SELECT min(l_extendedprice) AS mn,
        |                  max(l_extendedprice) AS mx FROM lineitem)
        |SELECT CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |            ELSE CAST(least(floor((l_extendedprice - mn)
        |                                  / ((mx - mn) / 20)), 19) AS BIGINT)
        |       END AS bin,
        | count(*) AS n,
        | min(l_extendedprice) AS bin_min, max(l_extendedprice) AS bin_max
        |FROM lineitem, b
        |GROUP BY 1""".stripMargin,
    "dedup_approx" ->
      """SELECT lang, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS exact_distinct
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT text) AS n_distinct_text,
        | count(DISTINCT md5(text)) AS n_distinct_md5,
        | count(*) - count(DISTINCT text) AS n_dupes
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_rows" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin,
    "dedup_normalized" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS distinct_raw,
        | count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |   '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))) AS distinct_norm,
        | count(DISTINCT md5(text)) -
        |   count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |     '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))) AS formatting_dupes
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_incremental" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents d
        |WHERE doc_id >= 250
        |  AND doc_id IN (SELECT min(doc_id) FROM documents
        |                 WHERE doc_id >= 250 GROUP BY md5(text))
        |  AND md5(text) NOT IN (SELECT md5(text) FROM documents
        |                        WHERE doc_id < 250)""".stripMargin,
    // Quality formula verbatim from quality_score / quality_tiers; the
    // winner per normalized key is row 1 under (quality DESC, doc_id ASC)
    // — the same total order as Spark's max(struct(score, -doc_id)).
    "dedup_keep_best" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' !!! ??? !!!', lang, source, n_chars
        |  FROM documents WHERE doc_id % 20 = 0),
        |q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM corpus))),
        |d AS (SELECT doc_id, lang, source, n_chars,
        |        md5(trim(regexp_replace(regexp_replace(lower(text),
        |          '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS k
        |      FROM corpus),
        |r AS (SELECT d.*, row_number() OVER (
        |        PARTITION BY k ORDER BY quality DESC, doc_id ASC) AS rn
        |      FROM d JOIN q USING (doc_id))
        |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1""".stripMargin,
    "length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tokens
        |  FROM documents),
        |q AS (SELECT quantile_cont(n_tokens, 0.25) AS p25,
        |             quantile_cont(n_tokens, 0.50) AS p50,
        |             quantile_cont(n_tokens, 0.75) AS p75 FROM t)
        |SELECT bucket, count(*) AS n_docs, avg(n_tokens) AS avg_tokens,
        | min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM (SELECT CASE WHEN n_tokens <= p25 THEN 'q1'
        |                  WHEN n_tokens <= p50 THEN 'q2'
        |                  WHEN n_tokens <= p75 THEN 'q3'
        |                  ELSE 'q4' END AS bucket, n_tokens
        |      FROM t, q)
        |GROUP BY 1""".stripMargin,
    // Same 3-gram construction as the dedup/minhash oracles; distinct
    // counts over md5 keys match the Spark side exactly.
    "ngram_diversity" ->
      """WITH sh AS (
        |  SELECT lang, md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])) AS h
        |  FROM (SELECT lang, w FROM
        |          (SELECT lang, string_split(lower(text), ' ') AS w FROM documents)
        |        WHERE len(w) >= 3),
        |       UNNEST(generate_series(1, len(w) - 2)) AS t(i))
        |SELECT lang, CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
        | count(*) AS n_shingles,
        | CAST(count(DISTINCT h) AS DOUBLE) / count(*) AS ttr
        |FROM sh GROUP BY 1""".stripMargin,
    // Same integer counts, same three divisions in the same order; the
    // (keyness DESC, t ASC) window matches bit-exact doubles.
    "distinctive_terms" ->
      """WITH lt AS (
        |  SELECT lang, t, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE lang IS NOT NULL)
        |  GROUP BY 1, 2),
        |tot AS (SELECT t, sum(c) AS ct FROM lt GROUP BY 1),
        |nl AS (SELECT lang, sum(c) AS nl FROM lt GROUP BY 1),
        |g AS (SELECT CAST(sum(ct) AS DOUBLE) AS n_all FROM tot)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, t, keyness FROM (
        |  SELECT lt.lang, lt.t,
        |    (CAST(c AS DOUBLE) / CAST(nl.nl AS DOUBLE))
        |      / (CAST(ct - c + 1 AS DOUBLE) / (n_all - CAST(nl.nl AS DOUBLE) + 1))
        |      AS keyness,
        |    row_number() OVER (PARTITION BY lt.lang
        |      ORDER BY (CAST(c AS DOUBLE) / CAST(nl.nl AS DOUBLE))
        |        / (CAST(ct - c + 1 AS DOUBLE) / (n_all - CAST(nl.nl AS DOUBLE) + 1))
        |        DESC, lt.t ASC) AS rank
        |  FROM lt JOIN tot USING (t) JOIN nl USING (lang), g)
        |WHERE rank <= 5""".stripMargin,
    // Same start-offset arithmetic (stop at n − overlap, stride 24),
    // same 1-based slice; chunk_idx = start/stride.
    "chunk_overlap" ->
      """SELECT doc_id, CAST(s / 24 AS INTEGER) AS chunk_idx,
        | CAST(least(32, n - s) AS INTEGER) AS n_chunk_tokens,
        | array_to_string(w[s + 1 : s + 32], ' ') AS chunk
        |FROM (SELECT doc_id, w, len(w) AS n,
        |        unnest(generate_series(0, greatest(len(w) - 8 - 1, 0), 24)) AS s
        |      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
        |            FROM documents)
        |      WHERE len(w) > 0)""".stripMargin,
    // Same (doc, token) count pipeline as the Spark side; −log2 p as
    // log2(N) − log2(cnt) so the per-term doubles match term-for-term.
    "unigram_logprob" ->
      """WITH dt AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2),
        |v AS (SELECT t, sum(c) AS cnt FROM dt GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM v)
        |SELECT dt.doc_id, CAST(sum(dt.c) AS BIGINT) AS n_tokens,
        | sum(dt.c * (log2(n_total) - log2(CAST(cnt AS DOUBLE)))) AS sum_nll,
        | sum(dt.c * (log2(n_total) - log2(CAST(cnt AS DOUBLE))))
        |   / sum(dt.c) AS bits_per_token
        |FROM dt JOIN v USING (t), n
        |GROUP BY 1""".stripMargin,
    // Bigram mirror: identical expression tree per pair type (elementary
    // IEEE ops on exact integer ratios), positional left marginal from
    // the pair table, per-doc float sum under the checker's tolerance.
    "bigram_logprob" ->
      """WITH b AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> concat(w[i], ' ', w[i+1]))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
        |dp AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
        |pcs AS (SELECT g, string_split(g, ' ')[1] AS prev, string_split(g, ' ')[2] AS t,
        |          sum(c) AS c12
        |        FROM dp GROUP BY 1, 2, 3),
        |lc AS (SELECT prev, sum(c12) AS c1 FROM pcs GROUP BY 1),
        |u AS (SELECT t, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
        |      GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM u),
        |s AS (SELECT g,
        |        -log2(0.75 * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
        |          + 0.25 * (CAST(cnt AS DOUBLE) / n_total)) AS bits
        |      FROM pcs JOIN lc USING (prev) JOIN u USING (t), n)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  sum(CAST(c AS DOUBLE) * bits) AS sum_nll,
        |  sum(CAST(c AS DOUBLE) * bits) / CAST(sum(c) AS DOUBLE) AS bits_per_bigram
        |FROM dp JOIN s USING (g)
        |GROUP BY 1""".stripMargin,
    // KL(slice ‖ corpus) with q and p as explicit double divisions, the
    // ratio inside log2 computed the same way on both sides.
    "kl_drift" ->
      """WITH st AS (
        |  SELECT source, t, count(*) AS c
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2),
        |v AS (SELECT t, sum(c) AS cnt FROM st GROUP BY 1),
        |s AS (SELECT source, sum(c) AS n_slice FROM st GROUP BY 1),
        |g AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM v)
        |SELECT st.source, CAST(sum(st.c) AS BIGINT) AS n_tokens,
        | sum((st.c / CAST(n_slice AS DOUBLE))
        |     * log2((st.c / CAST(n_slice AS DOUBLE)) / (cnt / n_total))) AS kl_bits
        |FROM st JOIN v USING (t) JOIN s USING (source), g
        |GROUP BY 1""".stripMargin,
    // Quality formula verbatim from quality_score; quartile boundaries
    // via quantile_cont (same interpolation as exactPercentilesScale —
    // the length_buckets parity precedent).
    "quality_tiers" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))),
        |b AS (SELECT quantile_cont(quality, 0.25) AS p25,
        |             quantile_cont(quality, 0.50) AS p50,
        |             quantile_cont(quality, 0.75) AS p75 FROM q),
        |t AS (SELECT d.lang, d.n_chars, q.quality,
        |        CASE WHEN q.quality <= p25 THEN 't1'
        |             WHEN q.quality <= p50 THEN 't2'
        |             WHEN q.quality <= p75 THEN 't3'
        |             ELSE 't4' END AS tier
        |      FROM documents d JOIN q USING (doc_id), b)
        |SELECT lang, tier, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | avg(quality) AS avg_quality
        |FROM t GROUP BY 1, 2""".stripMargin,
    "top_terms" ->
      """SELECT lang, CAST(rank AS INTEGER) AS rank, t, df FROM (
        |  SELECT lang, t, df,
        |    row_number() OVER (PARTITION BY lang ORDER BY df DESC, t ASC) AS rank
        |  FROM (SELECT lang, t, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, lang,
        |                unnest(string_split(lower(text), ' ')) AS t
        |              FROM documents)
        |        GROUP BY 1, 2))
        |WHERE rank <= 5""".stripMargin,
    // Exact bigram top-10 (the sketch-then-recount result is exact, so
    // the oracle is the direct computation).
    "heavy_hitters" ->
      """WITH toks AS (
        |  SELECT string_split(lower(text), ' ') AS ts FROM documents),
        |bi AS (
        |  SELECT ts[i] || ' ' || ts[i+1] AS t
        |  FROM toks, unnest(range(1, len(ts))) AS u(i)),
        |cnt AS (SELECT t, count(*) AS cnt FROM bi GROUP BY t)
        |SELECT CAST(rank AS INTEGER) AS rank, t, cnt FROM (
        |  SELECT t, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, t ASC) AS rank
        |  FROM cnt)
        |WHERE rank <= 10""".stripMargin,
    "top_tokens" ->
      """WITH c AS (
        |  SELECT lang AS grp, t, count(*) AS cnt
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT grp AS "group", CAST(rank AS INTEGER) AS rank, t, cnt FROM (
        |  SELECT grp, t, cnt,
        |    row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, t ASC) AS rank
        |  FROM c)
        |WHERE rank <= 5""".stripMargin,
    "postings" ->
      """SELECT t, count(*) AS df,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',')
        |    AS doc_sample
        |FROM (SELECT DISTINCT doc_id,
        |        unnest(string_split(lower(text), ' ')) AS t
        |      FROM documents)
        |GROUP BY t""".stripMargin,
    "salient_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents)
        |  GROUP BY 1, 2),
        |dft AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.t, tf.tf, dft.df,
        |    CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (dft.df + 1) AS score
        |  FROM tf JOIN dft ON tf.t = dft.t CROSS JOIN n)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, t, tf, df, score
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, t ASC) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin,
    "minhash_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.3""".stripMargin,
    // Brute mirror of the incremental probe: pairs whose LARGER id is in
    // the new batch (last 20% of ids) — recall 1 at t=0.3/k=32, so the
    // verified LSH output equals the exact restricted pair set.
    "minhash_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sp AS (SELECT ((max(doc_id) + 1) * 8) // 10 AS split FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id, sp
        |  WHERE b.doc_id >= split)
        |WHERE jaccard >= 0.3""".stripMargin,
    // Governed incremental, exact arm at the gate SF: the same brute
    // restricted mirror + the constant decision column.
    "neardup_governed_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sp AS (SELECT ((max(doc_id) + 1) * 8) // 10 AS split FROM documents)
        |SELECT doc_a, doc_b, jaccard, 'exact' AS method FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id, sp
        |  WHERE b.doc_id >= split)
        |WHERE jaccard >= 0.3""".stripMargin,
    "neardup_by_source" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pr AS (
        |  SELECT doc_a, doc_b, jaccard FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.3),
        |j AS (
        |  SELECT least(da.source, db.source) AS s1,
        |    greatest(da.source, db.source) AS s2, jaccard
        |  FROM pr JOIN documents da ON pr.doc_a = da.doc_id
        |          JOIN documents db ON pr.doc_b = db.doc_id
        |  WHERE da.source IS NOT NULL AND db.source IS NOT NULL)
        |SELECT s1, s2, count(*) AS n_pairs, avg(jaccard) AS avg_jaccard
        |FROM j GROUP BY 1, 2""".stripMargin,
    "ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 500)
        |  WHERE len(w) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.1""".stripMargin,
    // Brute all-pairs mirror of the prefix-filtered exact join: the
    // prefix prune is LOSSLESS, so the full quadratic scan (no id cap)
    // must produce the identical pair set at the gate scale. Size
    // filter in the oracle: none needed - it is a prune, not semantics.
    "jaccard_allpairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,
    // Brute-force mirror of the integer-quantized tf-idf chain: every
    // corpus-wide sum is integer (HUGEINT folded back to BIGINT), the
    // only doubles are exact-rounded sqrt/divide and exact power-of-two
    // scaling - byte-identical membership and dot values in any engine.
    "cosine_allpairs" ->
      """WITH tok AS (
        |  SELECT doc_id, t, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE doc_id < 1000)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
        |wq AS (SELECT doc_id, t,
        |         CAST(floor(least(CAST(tf AS DOUBLE)
        |             * ((n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)),
        |           1048576.0) * 16.0) AS BIGINT) AS wq
        |       FROM tok JOIN dfq USING (t), nd),
        |wqp AS (SELECT * FROM wq WHERE wq > 0),
        |nx AS (SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS nx
        |       FROM wqp GROUP BY 1),
        |f AS (SELECT doc_id, t,
        |        CAST(floor((CAST(wq AS DOUBLE) / sqrt(CAST(nx AS DOUBLE)))
        |          * 1048576.0) AS BIGINT) AS wnq
        |      FROM wqp JOIN nx USING (doc_id)),
        |fp AS (SELECT * FROM f WHERE wnq > 0),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            CAST(sum(a.wnq * b.wnq) AS BIGINT) AS dot_q
        |          FROM fp a JOIN fp b ON a.t = b.t AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dot_q,
        | CAST(dot_q AS DOUBLE) / 1099511627776.0 AS cosine_q
        |FROM pairs WHERE dot_q >= 934584883609""".stripMargin,
    // The preflight estimator: the cosine_allpairs CTE chain up to the
    // normalized-quantized features, then the suffix-bound prefix
    // (ROWS frame over the global rarest-first (df, t) order — unique
    // per doc, so no peer ambiguity) and one Σ c·(c−1)/2 aggregate.
    "cosine_preflight" ->
      """WITH tok AS (
        |  SELECT doc_id, t, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE doc_id < 1000)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
        |wq AS (SELECT doc_id, t,
        |         CAST(floor(least(CAST(tf AS DOUBLE)
        |             * ((n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)),
        |           1048576.0) * 16.0) AS BIGINT) AS wq
        |       FROM tok JOIN dfq USING (t), nd),
        |wqp AS (SELECT * FROM wq WHERE wq > 0),
        |nx AS (SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS nx
        |       FROM wqp GROUP BY 1),
        |f AS (SELECT doc_id, t,
        |        CAST(floor((CAST(wq AS DOUBLE) / sqrt(CAST(nx AS DOUBLE)))
        |          * 1048576.0) AS BIGINT) AS wnq
        |      FROM wqp JOIN nx USING (doc_id)),
        |fp AS (SELECT * FROM f WHERE wnq > 0),
        |maxw AS (SELECT t, max(wnq) AS mw FROM fp GROUP BY 1),
        |sb AS (SELECT doc_id, t,
        |         CAST(sum(wnq * mw) OVER (PARTITION BY doc_id ORDER BY df, t
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |           AS s_bound
        |       FROM fp JOIN maxw USING (t) JOIN dfq USING (t)),
        |pref AS (SELECT doc_id, t FROM sb WHERE s_bound >= 934584883609),
        |cnt AS (SELECT t, count(*) AS c FROM pref GROUP BY 1)
        |SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) // 2
        |  AS estimated_pairs
        |FROM cnt""".stripMargin,
    // Governed router, exact arm at the gate SF (budget measured to
    // clear): the pair set IS the brute all-pairs answer + the constant
    // decision column.
    "neardup_governed" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT doc_a, doc_b, jaccard, 'exact' AS method FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,
    // Cosine governed router, exact arm: the cosine_allpairs brute
    // mirror + the decision AND the integer-exact preflight estimate
    // (the full lineage is oracle-checkable on this tier).
    "cosine_governed" ->
      """WITH tok AS (
        |  SELECT doc_id, t, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE doc_id < 1000)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
        |wq AS (SELECT doc_id, t,
        |         CAST(floor(least(CAST(tf AS DOUBLE)
        |             * ((n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)),
        |           1048576.0) * 16.0) AS BIGINT) AS wq
        |       FROM tok JOIN dfq USING (t), nd),
        |wqp AS (SELECT * FROM wq WHERE wq > 0),
        |nx AS (SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS nx
        |       FROM wqp GROUP BY 1),
        |f AS (SELECT doc_id, t,
        |        CAST(floor((CAST(wq AS DOUBLE) / sqrt(CAST(nx AS DOUBLE)))
        |          * 1048576.0) AS BIGINT) AS wnq
        |      FROM wqp JOIN nx USING (doc_id)),
        |fp AS (SELECT * FROM f WHERE wnq > 0),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            CAST(sum(a.wnq * b.wnq) AS BIGINT) AS dot_q
        |          FROM fp a JOIN fp b ON a.t = b.t AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |maxw AS (SELECT t, max(wnq) AS mw FROM fp GROUP BY 1),
        |sb AS (SELECT doc_id, t,
        |         CAST(sum(wnq * mw) OVER (PARTITION BY doc_id ORDER BY df, t
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |           AS s_bound
        |       FROM fp JOIN maxw USING (t) JOIN dfq USING (t)),
        |pref AS (SELECT doc_id, t FROM sb WHERE s_bound >= 934584883609),
        |cnt AS (SELECT t, count(*) AS c FROM pref GROUP BY 1),
        |mass AS (SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) // 2
        |           AS estimated_pairs
        |         FROM cnt)
        |SELECT doc_a, doc_b, dot_q,
        |  CAST(dot_q AS DOUBLE) / 1099511627776.0 AS cosine_q,
        |  'exact' AS method, estimated_pairs
        |FROM pairs, mass WHERE dot_q >= 934584883609""".stripMargin,
    // The lexical pair CTE from ngram_jaccard + one embedding join per
    // side, cosine with the cosine_topk formula.
    "dedup_ensemble" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 500)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b, jaccard FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.1)
        |SELECT doc_a, doc_b, jaccard,
        |  list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
        |    / (sqrt(list_sum(list_transform(ea.embedding::DOUBLE[], x -> x * x)))
        |       * sqrt(list_sum(list_transform(eb.embedding::DOUBLE[], x -> x * x)))) AS cosine
        |FROM pairs
        |JOIN embeddings ea ON doc_a = ea.vec_id
        |JOIN embeddings eb ON doc_b = eb.vec_id""".stripMargin,
    // Incremental mirror: corpus fingerprints from the even-id docs,
    // batch windows duplicated iff in-corpus OR >=2 distinct batch docs.
    "substring_dedup_incremental" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |corpus AS (SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS h
        |           FROM (SELECT w FROM d WHERE doc_id % 2 = 0 AND len(w) >= 8) c,
        |                UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
        |nb AS (SELECT doc_id, w FROM d WHERE doc_id % 2 = 1 AND len(w) >= 8),
        |win AS (SELECT doc_id, i AS s, md5(array_to_string(w[i:i+7], ' ')) AS h
        |        FROM nb, UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
        |bdup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM win)
        |         GROUP BY h HAVING count(*) >= 2),
        |ds0 AS (SELECT DISTINCT doc_id, s FROM win
        |        WHERE h IN (SELECT h FROM corpus) OR h IN (SELECT h FROM bdup)),
        |ds AS (SELECT doc_id, s,
        |         s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS gap
        |       FROM ds0),
        |cov AS (SELECT doc_id, count(*) AS dw,
        |          sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END) AS cv
        |        FROM ds GROUP BY 1)
        |SELECT nb.doc_id,
        | CAST(len(w) AS INTEGER) AS n_tokens,
        | CAST(len(w) - 7 AS INTEGER) AS n_windows,
        | CAST(coalesce(dw, 0) AS INTEGER) AS dup_windows,
        | CAST(coalesce(cv, 0) AS INTEGER) AS covered_tokens,
        | CAST(coalesce(cv, 0) AS DOUBLE) / len(w) AS dup_frac
        |FROM nb LEFT JOIN cov USING (doc_id)""".stripMargin,
    // Removal mirror: positions covered by a dup-window start (NOT
    // EXISTS over the [p-7, p] range) drop; string_agg reassembles.
    "substring_dedup_apply" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |win AS (
        |  SELECT doc_id, i AS s, md5(array_to_string(w[i:i+7], ' ')) AS h
        |  FROM d, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM win)
        |        GROUP BY h HAVING count(*) >= 2),
        |ds AS (SELECT win.doc_id, s FROM win JOIN dup USING (h)),
        |toks AS (SELECT doc_id, p, w[p] AS tok
        |         FROM d, UNNEST(generate_series(1, len(w))) AS t(p)
        |         WHERE len(w) >= 8),
        |kept AS (SELECT toks.doc_id, p, tok FROM toks
        |         WHERE NOT EXISTS (SELECT 1 FROM ds WHERE ds.doc_id = toks.doc_id
        |                           AND ds.s BETWEEN toks.p - 7 AND toks.p))
        |SELECT d2.doc_id,
        |  coalesce(string_agg(tok, ' ' ORDER BY p), '') AS clean_text,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(len(w) - count(tok) AS INTEGER) AS removed_tokens
        |FROM (SELECT doc_id, w FROM d WHERE len(w) >= 8) d2
        |LEFT JOIN kept ON d2.doc_id = kept.doc_id
        |GROUP BY d2.doc_id, len(w)""".stripMargin,
    // Same bounded shingle sets, asymmetric containment |A∩B|/min(|A|,|B|).
    // DuckDB intersects string shingles where Spark intersects their
    // 64-bit hashes — set sizes agree up to hash collisions (~1e-13/pair),
    // the accepted ngram_jaccard precedent.
    "containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 500)
        |  WHERE len(w) >= 3)
        |SELECT doc_a, doc_b, n_a, n_b, containment FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(a.s) AS INTEGER) AS n_a, CAST(len(b.s) AS INTEGER) AS n_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / least(len(a.s), len(b.s)) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE containment >= 0.8""".stripMargin,
    "repetition_ngram" ->
      """SELECT doc_id,
        | CAST(len(w) AS INTEGER) AS n_tokens,
        | 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_token_frac,
        | CAST(len(w) - 2 AS INTEGER) AS n_ngrams,
        | 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / (len(w) - 2) AS dup_ngram_frac
        |FROM (SELECT doc_id, w, list_transform(generate_series(1, len(w) - 2),
        |        i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])) AS g
        |      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))
        |WHERE len(w) >= 3""".stripMargin,
    // Same span arithmetic: i-th span = tokens [i*10+1, i*10+10] (tail
    // keeps its natural length), drop every span whose text repeats
    // anywhere, reassemble ordered; all-dropped docs yield ''.
    "dedup_spans" ->
      """WITH sp AS (
        |  SELECT doc_id, i AS ord,
        |    array_to_string(w[(i*10+1):(i*10+10)], ' ') AS span
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |       UNNEST(generate_series(0, CAST(floor((len(w)-1)/10) AS BIGINT))) AS t(i)),
        |occ AS (SELECT md5(span) AS h, count(*) AS occ FROM sp GROUP BY 1),
        |v AS (SELECT sp.doc_id, sp.ord, sp.span, occ.occ
        |      FROM sp JOIN occ ON md5(sp.span) = occ.h)
        |SELECT doc_id,
        | coalesce(string_agg(CASE WHEN occ = 1 THEN span END, ' ' ORDER BY ord), '')
        |   AS clean_text,
        | CAST(count(*) AS INTEGER) AS n_spans,
        | CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_dropped
        |FROM v GROUP BY 1""".stripMargin,
    // Hashed unigram+bigram feature map, sparse long form.
    "hash_features" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(w || list_transform(generate_series(1, len(w) - 1),
        |      i -> concat(w[i], ' ', w[i+1]))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))
        |SELECT doc_id,
        |  ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bucket,
        |  count(*) AS tf
        |FROM g GROUP BY 1, 2""".stripMargin,
    // Embedding mirror: identical md5 buckets and md5-parity signs,
    // exact integer sums, one flattened component column per projection.
    "doc_embed" -> {
      val comps = (0 until 16).map(j =>
        s"""CAST(sum(tf * (CASE WHEN ('0x' || substr(md5(
           |      'p:$j:' || CAST(bucket AS VARCHAR)
           |    ), 1, 15))::BIGINT % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS e$j"""
          .stripMargin).mkString(",\n")
      s"""WITH g AS (
         |  SELECT doc_id, unnest(w || list_transform(generate_series(1, len(w) - 1),
         |      i -> concat(w[i], ' ', w[i+1]))) AS g
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
         |f AS (SELECT doc_id,
         |        ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bucket,
         |        count(*) AS tf
         |      FROM g GROUP BY 1, 2)
         |SELECT doc_id,
         |$comps
         |FROM f GROUP BY 1""".stripMargin
    },
    // DSIR mirror: identical md5 bucket map, add-1-smoothed bucket
    // distributions (target slice vs whole corpus), per-bucket exact
    // integer log2 ratios; the per-doc float sum rides the checker's
    // tolerance (rows keyed by the integer doc_id).
    "dsir_weights" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(w || list_transform(generate_series(1, len(w) - 1),
        |      i -> concat(w[i], ' ', w[i+1]))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
        |f AS (SELECT doc_id,
        |        ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bucket,
        |        count(*) AS tf
        |      FROM g GROUP BY 1, 2),
        |b AS (SELECT bucket, sum(tf) AS qc,
        |        sum(CASE WHEN source = 'src0' THEN tf ELSE 0 END) AS pc
        |      FROM f JOIN documents USING (doc_id) GROUP BY 1),
        |t AS (SELECT sum(qc) AS q_n, sum(pc) AS p_n FROM b)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
        |  sum(CAST(tf AS DOUBLE) * (log2(pc + 1) - log2(qc + 1)))
        |    + CAST(sum(tf) AS DOUBLE) * (log2(q_n + 64) - log2(p_n + 64)) AS log_w
        |FROM f JOIN b USING (bucket), t
        |GROUP BY doc_id, q_n, p_n""".stripMargin,
    // Same hashed feature map as hash_features; the synthetic model
    // weight is md5('w:' || bucket) folded into [-1000, 1000]; the
    // accumulation is an order-free BIGINT sum, the score one division.
    "classifier_score" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(w || list_transform(generate_series(1, len(w) - 1),
        |      i -> concat(w[i], ' ', w[i+1]))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
        |f AS (SELECT doc_id,
        |        ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bucket,
        |        count(*) AS tf
        |      FROM g GROUP BY 1, 2),
        |s AS (SELECT doc_id, tf,
        |        ('0x' || substr(md5(concat('w:', CAST(bucket AS VARCHAR))), 1, 15))::BIGINT
        |          % 2001 - 1000 AS wq
        |      FROM f)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_terms,
        | CAST(sum(tf * wq) AS BIGINT) AS score_q,
        | CAST(sum(tf * wq) AS DOUBLE) / (1000.0 * CAST(sum(tf) AS DOUBLE)) AS score
        |FROM s GROUP BY 1""".stripMargin,
    // Word-frequency table -> initial char+sentinel symbol sequences ->
    // adjacent pair counts; total order (n DESC, sym_a, sym_b) matches
    // the Spark side's (n DESC, 'l r' string ASC) because every symbol
    // character sorts above the space separator.
    "bpe_pairs" ->
      """WITH wf AS (
        |  SELECT t AS w, count(*) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |s AS (SELECT freq,
        |        list_transform(generate_series(1, length(w)), i -> substr(w, i, 1))
        |          || ['</w>'] AS a
        |      FROM wf),
        |p AS (SELECT a[j] AS sym_a, a[j+1] AS sym_b, sum(freq) AS n
        |      FROM s, UNNEST(generate_series(1, len(a) - 1)) AS t(j)
        |      GROUP BY 1, 2)
        |SELECT sym_a, sym_b, CAST(n AS BIGINT) AS n FROM p
        |ORDER BY n DESC, sym_a, sym_b LIMIT 50""".stripMargin,
    "bpe_merges" -> bpeMergesOracle(8),
    "bpe_encode" -> bpeEncodeOracle(8),
    "bpe_vocab" -> bpeVocabOracle(8),
    // CMS mirror: same md5 row:token buckets, min over d=4 rows, exact
    // recount of the probe terms; estimate >= exact by construction.
    "cms_profile" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents),
        |probe(term) AS (VALUES ('join'), ('hash'), ('scan'), ('column'),
        |                       ('merge'), ('slow'), ('zzzqx')),
        |counters AS (
        |  SELECT j, b, count(*) AS c FROM (
        |    SELECT j,
        |      ('0x' || substr(md5(concat(CAST(j AS VARCHAR), ':', t)), 1, 15))::BIGINT % 16 AS b
        |    FROM toks, UNNEST([0, 1, 2, 3]) AS u(j))
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT term, j,
        |    ('0x' || substr(md5(concat(CAST(j AS VARCHAR), ':', term)), 1, 15))::BIGINT % 16 AS b
        |  FROM probe, UNNEST([0, 1, 2, 3]) AS u(j)),
        |est AS (SELECT term, min(coalesce(c, 0)) AS cms_estimate
        |        FROM pr LEFT JOIN counters USING (j, b) GROUP BY 1),
        |ex AS (SELECT t AS term, count(*) AS exact_count FROM toks JOIN probe ON t = term GROUP BY 1)
        |SELECT term, coalesce(exact_count, 0) AS exact_count, cms_estimate,
        |  cms_estimate - coalesce(exact_count, 0) AS overestimate
        |FROM est LEFT JOIN ex USING (term)""".stripMargin,
    // Sliding 8-token windows; a window is duplicated iff it occurs in
    // >= 2 DISTINCT docs; covered = union of [s, s+8) via the lag-gap
    // trick (gap >= 8 contributes 8 tokens, else gap).
    "substring_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |win AS (
        |  SELECT doc_id, i AS s, md5(array_to_string(w[i:i+7], ' ')) AS h
        |  FROM d, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM win)
        |        GROUP BY h HAVING count(*) >= 2),
        |ds AS (SELECT win.doc_id, s,
        |         s - lag(s) OVER (PARTITION BY win.doc_id ORDER BY s) AS gap
        |       FROM win JOIN dup USING (h)),
        |cov AS (SELECT doc_id, count(*) AS dw,
        |          sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END) AS cv
        |        FROM ds GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(len(w) AS INTEGER) AS n_tokens,
        | CAST(len(w) - 7 AS INTEGER) AS n_windows,
        | CAST(coalesce(dw, 0) AS INTEGER) AS dup_windows,
        | CAST(coalesce(cv, 0) AS INTEGER) AS covered_tokens,
        | CAST(coalesce(cv, 0) AS DOUBLE) / len(w) AS dup_frac
        |FROM d LEFT JOIN cov USING (doc_id)
        |WHERE len(w) >= 8""".stripMargin,
    "contamination" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |    i -> md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(g) AS bh FROM d),
        |bench AS (SELECT DISTINCT bh FROM sh WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id, count(*) AS n_shared
        |FROM sh JOIN bench USING (bh)
        |WHERE sh.doc_id % 97 <> 0
        |GROUP BY 1
        |HAVING count(*) >= 2""".stripMargin,
    // Same constant COMPOSITION as the Spark side ((1.2 + 1.0), not 2.2:
    // both engines then do the identical IEEE add on identically-parsed
    // literals) and same left-assoc parenthesization — doubles hash-match.
    "bm25_score" -> {
      val terms = Seq("spark", "hash", "window")
      val tfDefs = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN t = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$i"
      }.mkString(",\n        ")
      val dfDefs = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains(string_split(lower(text), ' '), '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
      }.mkString(",\n        ")
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val score = terms.indices.map { i =>
        s"(n_docs - df_$i + 0.5) / (df_$i + 0.5) * (CAST(tf_$i AS DOUBLE) * (1.2 + 1.0)) / " +
          s"(CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      }.mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
         |             FROM documents),
         |tf AS (SELECT doc_id,
         |        $tfDefs
         |       FROM tok WHERE t IN ($inList) GROUP BY 1),
         |c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |        CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE)
         |          / CAST(count(*) AS DOUBLE) AS avgdl,
         |        $dfDefs
         |      FROM documents),
         |d AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
         |      FROM documents)
         |SELECT tf.doc_id, tf_0 + tf_1 + tf_2 AS n_hits,
         | $score AS bm25
         |FROM tf JOIN d USING (doc_id), c""".stripMargin
    },
    "contamination_table" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |    i -> md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(g) AS bh FROM d),
        |bench AS (SELECT DISTINCT bh FROM sh WHERE doc_id < 20)
        |SELECT sh.doc_id, count(*) AS n_shared
        |FROM sh JOIN bench USING (bh)
        |WHERE sh.doc_id >= 20
        |GROUP BY 1
        |HAVING count(*) >= 2""".stripMargin,
    "simhash_md5" -> {
      val votes = (0 until 32)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v_$b")
        .mkString(", ")
      val sig = (0 until 32)
        .map(b => s"CASE WHEN v_$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
         |        FROM documents)),
         |v AS (SELECT doc_id, $votes FROM t GROUP BY 1)
         |SELECT doc_id, $sig AS simhash32 FROM v""".stripMargin
    },
    // Same signature CTE as simhash_md5, then the 4×8-bit band self-join
    // and XOR-popcount verify — integer-exact in both engines.
    "simhash_neardup_md5" -> {
      val votes = (0 until 32)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v_$b")
        .mkString(", ")
      val sig = (0 until 32)
        .map(b => s"CASE WHEN v_$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
         |        FROM documents)),
         |v AS (SELECT doc_id, $votes FROM t GROUP BY 1),
         |s AS (SELECT doc_id, $sig AS sig FROM v),
         |bands AS (SELECT doc_id, sig, b, (sig >> (b * 8)) & 255 AS key
         |          FROM s, UNNEST(generate_series(0, 3)) AS tb(b))
         |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b2.sig)) AS INTEGER) AS hamming
         |FROM bands a JOIN bands b2
         |  ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.sig, b2.sig)) <= 3""".stripMargin
    },
    "minhash_md5" -> {
      val cols = (0 until 8)
        .map(i => s"min(md5(concat('$i:', s))) AS mh_$i").mkString(", ")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
         |    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
         |  WHERE len(w) >= 3)
         |SELECT doc_id, $cols FROM sh GROUP BY 1""".stripMargin
    },
    "emb_stats" ->
      """SELECT vec_id, label,
        | CAST(len(embedding) AS INTEGER) AS dim,
        | sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS l2norm,
        | list_sum(embedding::DOUBLE[]) AS sum_vals
        |FROM embeddings""".stripMargin,
    "cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        | list_dot_product(embedding::DOUBLE[], qe)
        |   / (sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
        |      * sqrt(list_sum(list_transform(qe, x -> x * x)))) AS cosine
        |FROM embeddings, q WHERE vec_id != 0
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    // Batched retrieval mirror: per-query rank over the same cosine.
    "ann_batch" ->
      """SELECT q_id, vec_id, label, cosine, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT q_id, vec_id, label, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM (
        |    SELECT q.vec_id AS q_id, e.vec_id, e.label,
        |      list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |        / (sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))
        |           * sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))) AS cosine
        |    FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id % 97 = 0) q
        |    WHERE e.vec_id != q.vec_id))
        |WHERE rank <= 5""".stripMargin,
    // The quantized two-stage mirror: absmax (order-free max), the same
    // quantize expression (one multiply, one divide, half-away round —
    // both engines round .5 away from zero on doubles), integer dot as
    // exact doubles (|dot| ≤ 127²·64 ≪ 2^53), then the cosine re-rank of
    // the 40 candidates with cosine_topk's exact formula.
    "ann_quantized" ->
      """WITH mx AS (
        |  SELECT max(list_max(list_transform(embedding::DOUBLE[],
        |    x -> abs(x)))) AS am FROM embeddings),
        |qz AS (
        |  SELECT list_transform(embedding::DOUBLE[],
        |           x -> round(x * 127 / mx.am)) AS qq,
        |         embedding::DOUBLE[] AS qe
        |  FROM embeddings, mx WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS emb,
        |    list_dot_product(list_transform(e.embedding::DOUBLE[],
        |      x -> round(x * 127 / mx.am)), qz.qq) AS int_dot
        |  FROM embeddings e, mx, qz WHERE e.vec_id != 0),
        |cand AS (
        |  SELECT * FROM scored ORDER BY int_dot DESC, vec_id ASC LIMIT 40)
        |SELECT vec_id, label,
        | list_dot_product(emb, qe)
        |   / (sqrt(list_sum(list_transform(emb, x -> x * x)))
        |      * sqrt(list_sum(list_transform(qe, x -> x * x)))) AS cosine
        |FROM cand, qz
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    // Multi-probe LSH top-k over the md5 plane family: candidate set =
    // buckets within Hamming 1 of the query's — engine-exact bucket
    // arithmetic, then the same cosine/order as cosine_topk.
    "ann_md5" ->
      s"""WITH b AS (SELECT vec_id, label, embedding, $md5BucketSql AS bucket
         |           FROM embeddings),
         |q AS (SELECT bucket AS qb, embedding::DOUBLE[] AS qe FROM b WHERE vec_id = 0)
         |SELECT vec_id, label, cosine FROM (
         |  SELECT b.vec_id, b.label,
         |    list_dot_product(b.embedding::DOUBLE[], qe)
         |      / (sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x)))
         |         * sqrt(list_sum(list_transform(qe, x -> x * x)))) AS cosine
         |  FROM b, q
         |  WHERE b.vec_id != 0 AND bit_count(xor(b.bucket, qb)) <= 1)
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    // Same-bucket pair mining over the md5 planes + exact cosine verify.
    // Banded twin mirror: per-table md5 buckets -> (vec_id, tbl, bucket)
    // tags -> distinct candidate pairs -> exact-cosine verify.
    "emb_neardup_banded_md5" ->
      s"""WITH b AS (SELECT vec_id, embedding, $md5BandedBucketsSql AS bks
         |           FROM embeddings),
         |tg AS (SELECT vec_id, u.tbl, bks[u.tbl + 1] AS bucket
         |       FROM b, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(tbl)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |         FROM tg a JOIN tg b2 ON a.tbl = b2.tbl
         |            AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT * FROM (
         |  SELECT vec_a, vec_b,
         |    list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
         |      / (sqrt(list_sum(list_transform(ea.embedding::DOUBLE[], x -> x * x)))
         |         * sqrt(list_sum(list_transform(eb.embedding::DOUBLE[], x -> x * x)))) AS cosine
         |  FROM cand JOIN embeddings ea ON cand.vec_a = ea.vec_id
         |            JOIN embeddings eb ON cand.vec_b = eb.vec_id)
         |WHERE cosine >= 0.4""".stripMargin,
    "emb_neardup_md5" ->
      s"""WITH b AS (SELECT vec_id, embedding, $md5BucketSql AS bucket
         |           FROM embeddings)
         |SELECT * FROM (
         |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
         |    list_dot_product(a.embedding::DOUBLE[], b2.embedding::DOUBLE[])
         |      / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
         |         * sqrt(list_sum(list_transform(b2.embedding::DOUBLE[], x -> x * x)))) AS cosine
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |WHERE cosine >= 0.4""".stripMargin,
    // IVF twin: md5-picked seeds, 2^20-quantized BIGINT distance, argmin
    // as a struct-ordered min({'d2', 'cid'}) — the lower-cid tie-break
    // without the overflow-prone d2*nlist+cid packing (both engines
    // order structs lexicographically by field order) — cell membership
    // integer-exact; the final cosine is the same double formula as
    // ann_md5.
    "ann_ivf_md5" ->
      """WITH q AS (SELECT vec_id, label, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |             qe AS ce
        |      FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |a AS (SELECT vec_id,
        |        (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |              i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |      FROM q, c GROUP BY 1),
        |qv AS (SELECT qe AS q_qe, embedding::DOUBLE[] AS q_emb FROM q WHERE vec_id = 0),
        |pc AS (SELECT cid FROM c, qv
        |       ORDER BY CAST(list_sum(list_transform(generate_series(1, len(q_qe)),
        |                 i -> (q_qe[i] - ce[i]) * (q_qe[i] - ce[i]))) AS BIGINT), cid
        |       LIMIT 2)
        |SELECT q.vec_id, q.label,
        | list_dot_product(q.embedding::DOUBLE[], q_emb)
        |   / (sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))
        |      * sqrt(list_sum(list_transform(q_emb, x -> x * x)))) AS cosine
        |FROM q JOIN a USING (vec_id) JOIN pc ON a.cid = pc.cid, qv
        |WHERE q.vec_id != 0
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    // Cluster mirror: the semantic_dedup cell CTEs -> pair list ->
    // recursive-CTE closure (the dedup_clusters_lsh pattern).
    "semantic_clusters" ->
      """WITH RECURSIVE q AS (SELECT vec_id, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |             qe AS ce
        |      FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |a AS (SELECT vec_id,
        |        (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |              i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |      FROM q, c GROUP BY 1),
        |cells AS (SELECT q.vec_id, a.cid, q.embedding::DOUBLE[] AS emb
        |          FROM q JOIN a USING (vec_id)),
        |pairs AS (
        |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b FROM cells x JOIN cells y
        |  ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  WHERE list_sum(list_transform(x.emb, v -> v * v)) > 0
        |    AND list_sum(list_transform(y.emb, v -> v * v)) > 0
        |    AND list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_sum(list_transform(x.emb, v -> v * v)))
        |         * sqrt(list_sum(list_transform(y.emb, v -> v * v)))) >= 0.4),
        |edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
        |          UNION ALL SELECT vec_b, vec_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1)
        |SELECT vec_id, cluster_id,
        | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        | vec_id = cluster_id AS keep
        |FROM comp""".stripMargin,
    // Capped mirror: the hier cell CTEs + per-cell salt counts and the
    // content-hash salt, pairs within (cell, salt).
    "semantic_dedup_capped" ->
      """WITH q AS (SELECT vec_id, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c1 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |              qe AS ce
        |       FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
        |a1 AS (SELECT vec_id,
        |         (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |               i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |       FROM q, c1 GROUP BY 1),
        |q1 AS (SELECT q.vec_id, q.embedding, q.qe, a1.cid
        |       FROM q JOIN a1 USING (vec_id)),
        |f AS (SELECT cid,
        |        row_number() OVER (PARTITION BY cid
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS fid,
        |        qe AS fe
        |      FROM q1 QUALIFY fid < 2),
        |a2 AS (SELECT q1.vec_id, q1.cid,
        |         (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |               i -> (qe[i] - fe[i]) * (qe[i] - fe[i]))) AS BIGINT), 'fid': fid})).fid AS fid
        |       FROM q1 JOIN f USING (cid) GROUP BY 1, 2),
        |cells AS (SELECT q1.vec_id, (q1.cid * 2 + a2.fid) AS cell,
        |                 q1.embedding::DOUBLE[] AS emb, q1.qe
        |          FROM q1 JOIN a2 ON q1.vec_id = a2.vec_id AND q1.cid = a2.cid),
        |ns AS (SELECT cell, (count(*) + 49) // 50 AS nsalt FROM cells GROUP BY 1),
        |salted AS (SELECT vec_id, cells.cell, emb,
        |             ('0x' || substr(md5(array_to_string(qe, ',')), 1, 15))::BIGINT % nsalt AS salt
        |           FROM cells JOIN ns ON cells.cell = ns.cell)
        |SELECT vec_id, cell, min(keep_id) AS dup_of, max(cosine) AS max_cosine FROM (
        |  SELECT y.vec_id, y.cell, x.vec_id AS keep_id,
        |    list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_sum(list_transform(x.emb, v -> v * v)))
        |         * sqrt(list_sum(list_transform(y.emb, v -> v * v)))) AS cosine
        |  FROM salted x JOIN salted y ON x.cell = y.cell AND x.salt = y.salt
        |                             AND x.vec_id < y.vec_id
        |    AND list_sum(list_transform(x.emb, v -> v * v)) > 0
        |    AND list_sum(list_transform(y.emb, v -> v * v)) > 0)
        |WHERE cosine >= 0.4
        |GROUP BY 1, 2""".stripMargin,
    // Hierarchical SemDeDup mirror: coarse argmin, per-cell fine seeds
    // via the partitioned row_number, fine argmin, within-leaf pairs.
    "semantic_dedup_hier" ->
      """WITH q AS (SELECT vec_id, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c1 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |              qe AS ce
        |       FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
        |a1 AS (SELECT vec_id,
        |         (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |               i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |       FROM q, c1 GROUP BY 1),
        |q1 AS (SELECT q.vec_id, q.embedding, q.qe, a1.cid
        |       FROM q JOIN a1 USING (vec_id)),
        |f AS (SELECT cid,
        |        row_number() OVER (PARTITION BY cid
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS fid,
        |        qe AS fe
        |      FROM q1 QUALIFY fid < 2),
        |a2 AS (SELECT q1.vec_id, q1.cid,
        |         (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |               i -> (qe[i] - fe[i]) * (qe[i] - fe[i]))) AS BIGINT), 'fid': fid})).fid AS fid
        |       FROM q1 JOIN f USING (cid) GROUP BY 1, 2),
        |cells AS (SELECT q1.vec_id, (q1.cid * 2 + a2.fid) AS cell,
        |                 q1.embedding::DOUBLE[] AS emb
        |          FROM q1 JOIN a2 ON q1.vec_id = a2.vec_id AND q1.cid = a2.cid)
        |SELECT vec_id, cell, min(keep_id) AS dup_of, max(cosine) AS max_cosine FROM (
        |  SELECT y.vec_id, y.cell, x.vec_id AS keep_id,
        |    list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_sum(list_transform(x.emb, v -> v * v)))
        |         * sqrt(list_sum(list_transform(y.emb, v -> v * v)))) AS cosine
        |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |    AND list_sum(list_transform(x.emb, v -> v * v)) > 0
        |    AND list_sum(list_transform(y.emb, v -> v * v)) > 0)
        |WHERE cosine >= 0.4
        |GROUP BY 1, 2""".stripMargin,
    // IVF-PQ mirror: md5 seed cells refined by TWO integer-Lloyd rounds
    // (floor(sum/cnt) BIGINT means — a1/m1/c1 then a2/m2/c2), adaptive
    // integer probe (slack 169/100, min 2, cap 12 of 16 cells), then the
    // ann_pq codebook CTEs restricted to the probed cells' vectors; 800
    // ADC survivors re-ranked exactly (the r16 sweep-sized operating
    // point — see Ivf.annIvfPq scaladoc for the measured frontier).
    "ann_ivfpq" ->
      """WITH q AS (SELECT vec_id, label, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |              qe AS ce
        |       FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |a1 AS (SELECT vec_id,
        |         (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |               i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |       FROM q, c0 GROUP BY 1),
        |m1 AS (SELECT cid, i, CAST(floor(CAST(sum(qe[i]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
        |       FROM q JOIN a1 USING (vec_id), UNNEST(generate_series(1, len(qe))) AS u(i)
        |       GROUP BY 1, 2),
        |c1m AS (SELECT cid, list(mv ORDER BY i) AS ce FROM m1 GROUP BY cid),
        |c1 AS (SELECT c0.cid, COALESCE(c1m.ce, c0.ce) AS ce FROM c0 LEFT JOIN c1m USING (cid)),
        |a2 AS (SELECT vec_id,
        |         (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |               i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |       FROM q, c1 GROUP BY 1),
        |m2 AS (SELECT cid, i, CAST(floor(CAST(sum(qe[i]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
        |       FROM q JOIN a2 USING (vec_id), UNNEST(generate_series(1, len(qe))) AS u(i)
        |       GROUP BY 1, 2),
        |c2m AS (SELECT cid, list(mv ORDER BY i) AS ce FROM m2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, COALESCE(c2m.ce, c1.ce) AS ce FROM c1 LEFT JOIN c2m USING (cid)),
        |a AS (SELECT vec_id,
        |        (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |              i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |      FROM q, c2 GROUP BY 1),
        |qv AS (SELECT qe AS q_qe, embedding::DOUBLE[] AS q_emb FROM q WHERE vec_id = 0),
        |qd AS (SELECT cid, CAST(list_sum(list_transform(generate_series(1, len(q_qe)),
        |          i -> (q_qe[i] - ce[i]) * (q_qe[i] - ce[i]))) AS BIGINT) AS qd2
        |       FROM c2, qv),
        |pc AS (SELECT cid FROM qd
        |       QUALIFY row_number() OVER (ORDER BY qd2, cid)
        |         <= LEAST(12, GREATEST(2, (SELECT count(*) FROM qd q2
        |              WHERE q2.qd2 * 100 <= (SELECT min(qd2) FROM qd) * 169)))),
        |probed AS (SELECT q.vec_id, q.qe FROM q JOIN a USING (vec_id)
        |           JOIN pc ON a.cid = pc.cid WHERE q.vec_id != 0),
        |seeds AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
        |                 qe AS ce
        |          FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |cb AS (SELECT code, j, ce[(j*8+1):(j*8+8)] AS cw
        |       FROM seeds, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)),
        |sub AS (SELECT vec_id, j, qe[(j*8+1):(j*8+8)] AS sv
        |        FROM probed, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)),
        |enc AS (SELECT vec_id, j,
        |          (min({'d2': CAST(list_sum(list_transform(generate_series(1, 8),
        |                i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS BIGINT), 'code': code})).code AS code
        |        FROM sub JOIN cb USING (j) GROUP BY 1, 2),
        |qsub AS (SELECT j, q_qe[(j*8+1):(j*8+8)] AS qv2
        |         FROM qv, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)),
        |qlut AS (SELECT cb.j, cb.code,
        |           CAST(list_sum(list_transform(generate_series(1, 8),
        |             i -> (qv2[i] - cw[i]) * (qv2[i] - cw[i]))) AS BIGINT) AS qd2
        |         FROM cb JOIN qsub ON cb.j = qsub.j),
        |adc AS (SELECT enc.vec_id, sum(qd2) AS adc
        |        FROM enc JOIN qlut ON enc.j = qlut.j AND enc.code = qlut.code
        |        GROUP BY 1),
        |cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 800)
        |SELECT q.vec_id, q.label,
        | list_dot_product(q.embedding::DOUBLE[], q_emb)
        |   / (sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))
        |      * sqrt(list_sum(list_transform(q_emb, x -> x * x)))) AS cosine
        |FROM q JOIN cand USING (vec_id), qv
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    // PQ-ADC mirror: md5-seeded codebook slices, BIGINT subspace encode
    // (ties into the min-encoding), query lookup table, ADC sum, exact
    // cosine re-rank of the 40 ADC survivors.
    "ann_pq" ->
      """WITH q AS (SELECT vec_id, label, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
        |                 qe AS ce
        |          FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |cb AS (SELECT code, j, ce[(j*8+1):(j*8+8)] AS cw
        |       FROM seeds, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)),
        |sub AS (SELECT vec_id, j, qe[(j*8+1):(j*8+8)] AS sv
        |        FROM q, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)),
        |enc AS (SELECT vec_id, j,
        |          (min({'d2': CAST(list_sum(list_transform(generate_series(1, 8),
        |                i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS BIGINT), 'code': code})).code AS code
        |        FROM sub JOIN cb USING (j) GROUP BY 1, 2),
        |qsub AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
        |qlut AS (SELECT cb.j, cb.code,
        |           CAST(list_sum(list_transform(generate_series(1, 8),
        |             i -> (qv[i] - cw[i]) * (qv[i] - cw[i]))) AS BIGINT) AS qd2
        |         FROM cb JOIN qsub ON cb.j = qsub.j),
        |adc AS (SELECT enc.vec_id, sum(qd2) AS adc
        |        FROM enc JOIN qlut ON enc.j = qlut.j AND enc.code = qlut.code
        |        GROUP BY 1),
        |cand AS (SELECT vec_id FROM adc WHERE vec_id != 0
        |         ORDER BY adc ASC, vec_id ASC LIMIT 800),
        |qv2 AS (SELECT embedding::DOUBLE[] AS q_emb FROM q WHERE vec_id = 0)
        |SELECT q.vec_id, q.label,
        | list_dot_product(q.embedding::DOUBLE[], q_emb)
        |   / (sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))
        |      * sqrt(list_sum(list_transform(q_emb, x -> x * x)))) AS cosine
        |FROM q JOIN cand USING (vec_id), qv2
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    // SemDeDup twin: the ann_ivf_md5 cell CTEs verbatim, then within-cell
    // cosine pairs >= 0.4 grouped into the greedy-by-id removal list.
    "semantic_dedup" ->
      """WITH q AS (SELECT vec_id, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |             qe AS ce
        |      FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |a AS (SELECT vec_id,
        |        (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |              i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |      FROM q, c GROUP BY 1),
        |cells AS (SELECT q.vec_id, a.cid, q.embedding::DOUBLE[] AS emb
        |          FROM q JOIN a USING (vec_id))
        |SELECT vec_id, cid, min(keep_id) AS dup_of, max(cosine) AS max_cosine FROM (
        |  SELECT y.vec_id, y.cid, x.vec_id AS keep_id,
        |    list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_sum(list_transform(x.emb, v -> v * v)))
        |         * sqrt(list_sum(list_transform(y.emb, v -> v * v)))) AS cosine
        |  FROM cells x JOIN cells y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |    AND list_sum(list_transform(x.emb, v -> v * v)) > 0
        |    AND list_sum(list_transform(y.emb, v -> v * v)) > 0)
        |WHERE cosine >= 0.4
        |GROUP BY 1, 2""".stripMargin,
    // Semantic governed router, exact arm at the gate SFs (budget
    // measured to clear): the semantic_dedup mirror projected to the
    // shared removal-decision schema + the decision + the integer-exact
    // within-cell mass.
    "semantic_governed" ->
      """WITH q AS (SELECT vec_id, embedding,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |             qe AS ce
        |      FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |a AS (SELECT vec_id,
        |        (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |              i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |      FROM q, c GROUP BY 1),
        |cells AS (SELECT q.vec_id, a.cid, q.embedding::DOUBLE[] AS emb
        |          FROM q JOIN a USING (vec_id)),
        |mass AS (SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) // 2
        |           AS estimated_pairs
        |         FROM (SELECT cid, count(*) AS c FROM a GROUP BY 1))
        |SELECT vec_id, dup_of, max_cosine, 'exact' AS method,
        |  estimated_pairs
        |FROM (
        |  SELECT vec_id, min(keep_id) AS dup_of, max(cosine) AS max_cosine FROM (
        |    SELECT y.vec_id, x.vec_id AS keep_id,
        |      list_dot_product(x.emb, y.emb)
        |        / (sqrt(list_sum(list_transform(x.emb, v -> v * v)))
        |           * sqrt(list_sum(list_transform(y.emb, v -> v * v)))) AS cosine
        |    FROM cells x JOIN cells y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |      AND list_sum(list_transform(x.emb, v -> v * v)) > 0
        |      AND list_sum(list_transform(y.emb, v -> v * v)) > 0)
        |  WHERE cosine >= 0.4
        |  GROUP BY 1), mass""".stripMargin,
    // The governance estimate: the same q/c/a assignment CTEs, then one
    // per-cell count and Σ c·(c−1)/2 — integer-exact end-to-end.
    "semantic_preflight" ->
      """WITH q AS (SELECT vec_id,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
        |             qe AS ce
        |      FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |a AS (SELECT vec_id,
        |        (min({'d2': CAST(list_sum(list_transform(generate_series(1, len(qe)),
        |              i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS BIGINT), 'cid': cid})).cid AS cid
        |      FROM q, c GROUP BY 1),
        |cnt AS (SELECT cid, count(*) AS c FROM a GROUP BY 1)
        |SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) // 2
        |  AS estimated_pairs
        |FROM cnt""".stripMargin,
    // Text payloads are no known media container → fmt 'raw' + the
    // documented pseudo-dimension fallback; real PNG/JPEG/GIF header
    // parsing is spec-pinned (no image bytes in the oracle tables).
    "multimodal_meta" ->
      """SELECT doc_id, 'raw' AS fmt,
        | CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        | CAST(list_sum(list_transform(string_split(text, ''), c -> ord(c))) AS BIGINT) AS checksum,
        | CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
        | CAST(list_sum(list_transform(string_split(text, ''), c -> ord(c))) % 480 + 1 AS INTEGER) AS height
        |FROM documents""".stripMargin,
    "frame_sample" ->
      """SELECT doc_id, n_bytes, CAST(frame_offset AS INTEGER) AS frame_offset,
        | concat(doc_id, ':', frame_offset) AS frame_id
        |FROM (SELECT doc_id,
        |        CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |        unnest(range(0, octet_length(CAST(text AS BLOB)), 100)) AS frame_offset
        |      FROM documents)""".stripMargin,
    "curation_pipeline" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))),
        |kept AS (
        |  SELECT d.* FROM documents d
        |  WHERE d.doc_id IN (SELECT doc_id FROM q WHERE quality >= 0.37)),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id FROM kept
        |  GROUP BY trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))),
        |samp AS (
        |  SELECT * FROM kept
        |  WHERE doc_id IN (SELECT doc_id FROM canon)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | count(DISTINCT source) AS n_sources
        |FROM samp GROUP BY 1""".stripMargin,
    // Session boundary test in exact integer microseconds on both sides;
    // per-user window order pinned by (ts, event_id).
    "sessionize" ->
      """WITH f AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS t_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |        ORDER BY t_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS session_idx
        |      FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | min(t_us) AS start_us, max(t_us) AS end_us,
        | max(t_us) - min(t_us) AS dur_us, sum(value) AS sum_value
        |FROM s GROUP BY 1, 2""".stripMargin,
    // The oracle spells the range join as the plain theta BETWEEN —
    // DuckDB can afford it at verify scale; the Spark side's bucketed
    // equi-join must reproduce it row-for-row.
    "range_join" -> (hourlyClose + ",\n" +
      """r AS (SELECT bucket, event_type,
        |        close / lag(close) OVER (PARTITION BY event_type ORDER BY bucket) - 1 AS ret
        |      FROM hourly),
        |v AS (SELECT event_type AS w_type, bucket * 1000000 AS w_start,
        |        (bucket + 7200) * 1000000 AS w_end
        |      FROM r WHERE abs(ret) > 2.0)
        |SELECT e.event_type, w_start, count(*) AS n_events, sum(e.value) AS sum_value
        |FROM v JOIN events e
        |  ON e.event_type = w_type
        | AND epoch_us(e.ts) >= w_start AND epoch_us(e.ts) < w_end
        |GROUP BY 1, 2""".stripMargin),
    // Identical planting expression as the Spark fixture; counts on the
    // pre-redaction text; 'g' flag = Spark regexp_replace's replace-all.
    "pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' id 123-45-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |   '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS clean_text,
        | CAST(len(regexp_extract_all(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        | CAST(len(regexp_extract_all(t,
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
        | CAST(len(regexp_extract_all(t,
        |   '\b\d{3}-\d{2}-\d{4}\b')) AS INTEGER) AS n_ssns
        |FROM p""".stripMargin,
    // Transitive closure of the ngram_jaccard pair list via recursive CTE
    // — min reachable id = the Spark side's min-label fixpoint.
    "dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 500)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.1),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
        |SELECT doc_id, cluster_id,
        | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        | doc_id = cluster_id AS keep
        |FROM comp""".stripMargin,
    // Same recursive closure as dedup_clusters, aggregated to the
    // per-size histogram.
    "cluster_size_hist" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 500)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.1),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
        |cs AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
        |  CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_removable
        |FROM cs GROUP BY 1""".stripMargin,
    // Same recursive closure as dedup_clusters; the survivor per
    // component is row 1 under (quality DESC, doc_id ASC) — the same
    // total order as Spark's max(struct(quality, -doc_id)). Quality
    // formula verbatim from quality_score.
    "cluster_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 500)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.1),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
        |q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)))
        |SELECT comp.doc_id, cluster_id,
        | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        | quality,
        | row_number() OVER (PARTITION BY cluster_id
        |     ORDER BY quality DESC, comp.doc_id ASC) = 1 AS keep
        |FROM comp JOIN q USING (doc_id)""".stripMargin,
    // Same closure over the UNBOUNDED exact all-pairs list at the LSH
    // compose's threshold (0.3) — the Spark side mines pairs via
    // banded MinHash + exact verify, which at r=1 banding has recall 1,
    // so both pair lists (and hence the components) coincide.
    "dedup_clusters_lsh" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.3),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
        |SELECT doc_id, cluster_id,
        | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        | doc_id = cluster_id AS keep
        |FROM comp""".stripMargin,
    // The bounded twin's closure: identical to dedup_clusters_lsh with
    // the same doc_id cap the Spark side applies — small enough that
    // DuckDB computes it at sf0.1, not just the sf0.01 gate scale.
    "dedup_clusters_lsh_window" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id < 1500)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.3),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
        |SELECT doc_id, cluster_id,
        | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        | doc_id = cluster_id AS keep
        |FROM comp""".stripMargin,
    // Layout-independent result: the z-ordered copy must return exactly
    // what the raw table returns under the same box predicate.
    "zorder_scan" ->
      """SELECT event_type, count(*) AS n,
        | sum(value) AS sum_value
        |FROM events
        |WHERE value BETWEEN 95.0 AND 105.0
        |  AND user_id BETWEEN 30 AND 60
        |GROUP BY 1""".stripMargin,
    // Span-dedup CTE verbatim from dedup_spans, then the curation chain
    // over the cleaned text (same formulas as curation_pipeline).
    // Data-card mirror: quality_score's exact formula inlined as a CTE,
    // entropy as (c/n)(log2 n − log2 c) — the engine-identical tree.
    "data_card" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))),
        |pd AS (SELECT d.doc_id, source, lang,
        |         len(string_split(lower(text), ' ')) AS n_toks,
        |         length(text) AS n_chr, md5(text) AS h, quality
        |       FROM documents d JOIN q USING (doc_id)),
        |bs AS (SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |         CAST(sum(n_chr) AS BIGINT) AS n_chars,
        |         count(DISTINCT h) AS n_unique,
        |         avg(quality) AS mean_quality
        |       FROM pd GROUP BY 1),
        |e AS (SELECT source,
        |        sum((CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE)) *
        |          (log2(CAST(n_docs AS DOUBLE)) - log2(CAST(c AS DOUBLE)))) AS lang_entropy
        |      FROM (SELECT source, lang, count(*) AS c FROM pd GROUP BY 1, 2)
        |        JOIN (SELECT source, n_docs FROM bs) USING (source)
        |      GROUP BY 1)
        |SELECT source, n_docs, n_tokens, n_chars,
        |  n_docs - n_unique AS n_exact_dups, mean_quality, lang_entropy,
        |  estimated_pair_mass
        |FROM bs JOIN e USING (source), (
        |  WITH tok AS (
        |    SELECT doc_id, t, count(*) AS tf
        |    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |          FROM documents)
        |    GROUP BY 1, 2),
        |  dfq AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
        |  nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
        |  wq AS (SELECT doc_id, t,
        |           CAST(floor(least(CAST(tf AS DOUBLE)
        |               * ((n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)),
        |             1048576.0) * 16.0) AS BIGINT) AS wq
        |         FROM tok JOIN dfq USING (t), nd),
        |  wqp AS (SELECT * FROM wq WHERE wq > 0),
        |  nx AS (SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS nx
        |         FROM wqp GROUP BY 1),
        |  f AS (SELECT doc_id, t,
        |          CAST(floor((CAST(wq AS DOUBLE) / sqrt(CAST(nx AS DOUBLE)))
        |            * 1048576.0) AS BIGINT) AS wnq
        |        FROM wqp JOIN nx USING (doc_id)),
        |  fp AS (SELECT * FROM f WHERE wnq > 0),
        |  maxw AS (SELECT t, max(wnq) AS mw FROM fp GROUP BY 1),
        |  sb AS (SELECT doc_id, t,
        |           CAST(sum(wnq * mw) OVER (PARTITION BY doc_id ORDER BY df, t
        |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |             AS s_bound
        |         FROM fp JOIN maxw USING (t) JOIN dfq USING (t)),
        |  pref AS (SELECT doc_id, t FROM sb WHERE s_bound >= 934584883609),
        |  cnt AS (SELECT t, count(*) AS c FROM pref GROUP BY 1)
        |  SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) // 2
        |    AS estimated_pair_mass
        |  FROM cnt)""".stripMargin,
    "curation_full" ->
      """WITH sp AS (
        |  SELECT doc_id, i AS ord,
        |    array_to_string(w[(i*10+1):(i*10+10)], ' ') AS span
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |       UNNEST(generate_series(0, CAST(floor((len(w)-1)/10) AS BIGINT))) AS t(i)),
        |occ AS (SELECT md5(span) AS h, count(*) AS n FROM sp GROUP BY 1),
        |cl AS (
        |  SELECT sp.doc_id,
        |    string_agg(CASE WHEN occ.n = 1 THEN sp.span END, ' ' ORDER BY sp.ord) AS text
        |  FROM sp JOIN occ ON md5(sp.span) = occ.h
        |  GROUP BY 1),
        |cleaned AS (
        |  SELECT d.doc_id, d.lang, d.source, cl.text
        |  FROM cl JOIN documents d USING (doc_id)
        |  WHERE cl.text IS NOT NULL AND cl.text <> ''),
        |q AS (
        |  SELECT doc_id,
        |    (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(w) AS INTEGER) AS n_tokens,
        |          CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it'], x))) AS INTEGER) AS n_stop,
        |          len(list_distinct(w)) AS n_uniq
        |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM cleaned))),
        |kept AS (
        |  SELECT c.* FROM cleaned c
        |  WHERE c.doc_id IN (SELECT doc_id FROM q WHERE quality >= 0.37)),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id FROM kept
        |  GROUP BY trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))),
        |samp AS (
        |  SELECT * FROM kept
        |  WHERE doc_id IN (SELECT doc_id FROM canon)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | count(DISTINCT source) AS n_sources
        |FROM samp GROUP BY 1""".stripMargin,
    "etl_roundtrip" ->
      """SELECT event_type, count(*) AS n_buckets,
        | sum(volume) AS total_volume,
        | CAST(sum(n_trades) AS BIGINT) AS total_trades,
        | max(high) AS max_high, min(low) AS min_low
        |FROM (SELECT date_trunc('hour', ts) AS b, event_type,
        |        max(value) AS high, min(value) AS low,
        |        sum(value) AS volume, count(*) AS n_trades
        |      FROM events GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin,
    "warehouse_roundtrip" ->
      """SELECT event_type, count(*) AS n_buckets, sum(volume) AS total_volume
        |FROM (SELECT date_trunc('hour', ts) AS b, event_type,
        |        sum(value) AS volume
        |      FROM events GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin,
    // The Spark side aggregates rows restored from its own JSONL write;
    // the oracle aggregates the parquet directly — equality proves the
    // JSONL encode/decode lossless.
    "jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        | count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin,
    // Same per-char (k/n)·log2(k/n) terms the native expression sums in
    // sorted-code-point order; the group-aggregate spelling here is the
    // oracle, not the production shape.
    // Normalize mirror: identical planted dirt via chr(), NFC via
    // nfc_normalize, then the regexp chain equivalent to the native
    // one-pass (spaces mapped before controls are stripped before the
    // collapse — a control between two produced spaces merges in both).
    "normalize_text" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    chr(9) || ' ' || text || chr(1) || ' ' || chr(160) ||
        |      ' tail e' || chr(769) || chr(10) || chr(10) AS text
        |  FROM documents),
        |c AS (SELECT doc_id, length(text) AS n_chars_raw,
        |        trim(regexp_replace(regexp_replace(regexp_replace(
        |          nfc_normalize(text),
        |          '[\p{Zs}\t\n\x0B\f\r]', ' ', 'g'),
        |          '[\x00-\x1f\x7f-\x9f]', '', 'g'),
        |          ' +', ' ', 'g')) AS clean_text
        |      FROM dirty)
        |SELECT doc_id, n_chars_raw, clean_text,
        |  length(clean_text) AS n_chars_clean
        |FROM c""".stripMargin,
    "char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS c
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text))) AS i
        |        FROM documents)),
        |cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n FROM cc GROUP BY 1)
        |SELECT cc.doc_id, CAST(n AS BIGINT) AS n_chars_ent,
        | -sum((k / n) * log2(k / n)) AS h_bits
        |FROM cc JOIN n USING (doc_id) GROUP BY 1, 2""".stripMargin,
    // Same md5 3-token shingle keys as ngram_diversity; first-seen =
    // min(doc_id) per key.
    "ngram_novelty" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])) AS h
        |  FROM (SELECT doc_id, w FROM
        |          (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |        WHERE len(w) >= 3),
        |       UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
        |fs AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_distinct,
        | CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_novel,
        | CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) AS novelty
        |FROM sh JOIN fs USING (h) GROUP BY 1""".stripMargin,
    // Rank window (c DESC, t ASC) over type rows; regr_* moment
    // aggregates over the same log2 doubles.
    "zipf_slope" ->
      """WITH tok AS (
        |  SELECT lang, t, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE lang IS NOT NULL)
        |  GROUP BY 1, 2),
        |rk AS (SELECT lang, c,
        |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, t ASC) AS r
        |       FROM tok)
        |SELECT lang, count(*) AS n_types,
        | regr_slope(log2(CAST(c AS DOUBLE)), log2(CAST(r AS DOUBLE))) AS zipf_slope,
        | regr_intercept(log2(CAST(c AS DOUBLE)), log2(CAST(r AS DOUBLE)))
        |   AS zipf_intercept
        |FROM rk GROUP BY 1""".stripMargin,
    // Bucket id is the same integer floor-division against (lo, hi);
    // running sums over ≤10 bucket rows.
    "vocab_growth" ->
      """WITH bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |d AS (SELECT least(10, ((doc_id - lo) * 10) // (hi - lo + 1) + 1) AS b,
        |        string_split(lower(text), ' ') AS w
        |      FROM documents, bounds),
        |tok AS (SELECT b, unnest(w) AS t FROM d),
        |pb AS (SELECT b, count(*) AS n_tokens FROM tok GROUP BY 1),
        |nt AS (SELECT fb AS b, count(*) AS n_new
        |       FROM (SELECT t, min(b) AS fb FROM tok GROUP BY 1) GROUP BY 1)
        |SELECT pb.b AS bucket, pb.n_tokens,
        | coalesce(nt.n_new, 0) AS n_new,
        | CAST(sum(pb.n_tokens) OVER (ORDER BY pb.b) AS BIGINT) AS cum_tokens,
        | CAST(sum(coalesce(nt.n_new, 0)) OVER (ORDER BY pb.b) AS BIGINT)
        |   AS cum_types
        |FROM pb LEFT JOIN nt ON pb.b = nt.b""".stripMargin,
    // Distinct (source, token) rows; the pair join runs in type space
    // keyed on the token with source order s1 < s2.
    "source_overlap" ->
      """WITH v AS (SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS t
        |           FROM documents WHERE source IS NOT NULL),
        |sz AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
        |inter AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_common
        |          FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT s1, s2, n_common, x.n AS n1, y.n AS n2,
        | CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
        |FROM inter JOIN sz x ON s1 = x.source JOIN sz y ON s2 = y.source""".stripMargin,
    // Positional marginals (c1 = w1 in the left slot, c2 = w2 in the
    // right slot). Ranking by the log-free ratio (c12·N)/(c1·c2) —
    // exact-integer products and one division, identical doubles in any
    // engine — with (w1, w2) tie-break; pmi = log2(ratio) is reported,
    // not ranked on.
    "pmi_pairs" ->
      """WITH bg AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT w FROM
        |          (SELECT string_split(lower(text), ' ') AS w FROM documents)
        |        WHERE len(w) >= 2),
        |       UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ul AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1),
        |ur AS (SELECT w2, sum(c12) AS c2 FROM bc GROUP BY 1),
        |n AS (SELECT CAST(sum(c12) AS DOUBLE) AS n_big FROM bc)
        |SELECT w1, w2, c12,
        | log2((CAST(c12 AS DOUBLE) * n_big)
        |   / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) AS pmi
        |FROM bc JOIN ul USING (w1) JOIN ur USING (w2), n
        |WHERE c12 >= 5
        |ORDER BY (CAST(c12 AS DOUBLE) * n_big)
        |   / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) DESC, w1, w2
        |LIMIT 50""".stripMargin,
    )
    // Scale/chunked twins: same result contract as the plain sibling,
    // same oracle VERBATIM (aliased here instead of copy-pasted nine
    // times — one edit fixes every member of a family).
    base ++ Map(
      "ohlc_rowbucket_scale" -> base("ohlc_rowbucket"),
      "returns_lag_chunked" -> base("returns_lag"),
      "cumprod_equity_chunked" -> base("cumprod_equity"),
      "fill_forward_chunked" -> base("fill_forward"),
      "range_frame_chunked" -> base("range_frame"),
      "join_asof_chunked" -> base("join_asof"),
      "join_asof_fwd_chunked" -> base("join_asof_fwd"),
      "dedup_incremental_bloom" -> base("dedup_incremental"),
      "join_asof_generic" -> base("join_asof"),
      "seq_sliding_scale" -> base("seq_sliding"),
      "seq_sliding_chunked" -> base("seq_sliding"))
  }
}
