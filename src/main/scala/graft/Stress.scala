package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-up evidence run (not part of the driver contract): generates a
  * 5M-row tick stream in memory (50× the sf0.1 events table) and runs the
  * flagship plans, printing per-query wall times. The point is plan
  * SHAPE under growth: the OHLC aggregate and per-symbol windows must
  * scale near-linearly because no stage is single-task.
  *
  * Usage: `sbt 'runMain graft.Stress [rows]'`.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.localBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 1-second ticks across 20 symbols with a deterministic pseudo-random
    // walk (hash-derived, no RNG state).
    val events = spark.range(rows)
      .select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") / 20).as("ts"),
        concat(lit("sym"), pmod(col("id"), lit(20))).as("event_type"),
        (lit(100.0) +
          (pmod(xxhash64(col("id")), lit(20001L)) - 10000L) / 1000.0).as("value"),
        pmod(col("id"), lit(1000)).as("user_id"),
        lit("{}").as("props"))

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"STRESS $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
    }

    // Same volume, ONE symbol — the deep-series regime where per-symbol
    // windows collapse to a single task. The chunked two-pass must stay
    // within ~2× of the 20-symbol time; the plain unbounded window is
    // timed alongside as the anti-baseline.
    val oneSymbol = events.withColumn("event_type", lit("btc"))
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("event_id")))

    time("ohlc_hourly")(ops.Resample.ohlcHourly(events))
    time("ma_volatility")(ops.Rolling.maVolatility(ops.Resample.ohlcHourly(events)))
    time("returns_lag")(ops.Rolling.returnsLag(events))
    time("minmax_scale")(ops.Rolling.minMaxScale(events))
    time("seq_sliding_scale")(ops.Sequences.slidingSequencesScale(events, 60))
    time("asof_join")(ops.Joins.asofJoin(events))
    time("cumprod_20sym")(ops.Rolling.cumprodEquity(events))
    // 1-day chunks over ~58 days of 1 s ticks → ~58 chunks × ~86k rows
    time("cumprod_1sym_chunked")(
      ops.Rolling.cumprodEquityChunked(oneSymbol, 86400L * 1000000L))
    time("cumprod_1sym_window")(ops.Rolling.cumprodEquity(oneSymbol))
    time("seq_1sym_scale")(ops.Sequences.slidingSequencesScale(oneSymbol, 60))
    time("seq_1sym_chunked")(
      ops.Sequences.slidingSequencesChunked(oneSymbol, 60, 250000))
    time("asof_1sym_window")(ops.Joins.asofJoin(oneSymbol))
    time("asof_1sym_chunked")(
      ops.Joins.asofJoinChunked(oneSymbol, 86400L * 1000000L))
    // EMA: 20-symbol windowed form, then the single-symbol anti-baseline
    // (one unbounded window = one task) vs the chunked two-pass twin.
    time("ewma_20sym")(ops.Rolling.ewma(events, 0.1))
    // MACD chains THREE EMAs (two in one window pass + the signal over
    // the derived line) on one sort — the chained-window cost at volume.
    time("macd_20sym")(ops.Rolling.macd(events))
    time("ewma_1sym_window")(ops.Rolling.ewma(oneSymbol, 0.1))
    time("ewma_1sym_chunked")(
      ops.Rolling.ewmaChunked(oneSymbol, 0.1, 86400L * 1000000L))
    // Drawdown: the cheapest chunk carry of the family (ONE double — the
    // chunk max) vs the unbounded prefix-max window.
    time("drawdown_20sym")(ops.Rolling.drawdown(events))
    time("drawdown_1sym_window")(ops.Rolling.drawdown(oneSymbol))
    time("drawdown_1sym_chunked")(
      ops.Rolling.drawdownChunked(oneSymbol, 86400L * 1000000L))

    // Exact percentiles on a HIGH-CARDINALITY double (~every row distinct
    // at 5M rows): the built-in percentile() accumulates a value→count
    // map per partial — the scaladoc'd memory bomb, timed here as the
    // measured fact — vs the range-sort exactPercentilesScale shape.
    val highCard = events.select(
      (col("value") * pmod(xxhash64(col("event_id")), lit(1000003L))).as("v"))
    time("pctl_highcard_builtin")(
      highCard.agg(
        percentile(col("v"), lit(0.5)).as("p50"),
        percentile(col("v"), lit(0.99)).as("p99")))
    time("pctl_highcard_rangesort")(
      ops.Stats.exactPercentilesScale(highCard, "v",
        Seq("p50" -> 0.5, "p99" -> 0.99)))
    // Winsorization at full volume: the cost IS the quantile pass above
    // plus one codegen clamp scan — confirms the clamp adds ~nothing.
    time("winsorize_highcard")(ops.Stats.winsorize(highCard, "v", 0.05, 0.95))

    // Text-tier scale-up: 500k synthetic docs (100× the sf0.1 documents
    // table), ~40 tokens each from a 10k-word vocabulary, with every
    // 100th doc an exact copy of its neighbor (planted dups): the
    // StressScaling corpus, constructed relationally — the same codegen
    // pipeline the real corpus takes.
    val docs = StressScaling.docs(spark, rows / 10)
    time(s"docs_exact_dedup")(ops.Similarity.exactDedup(docs))
    time(s"docs_minhash_sigs")(ops.Similarity.minhashSignatures(docs))
    time(s"docs_simhash_md5")(ops.Similarity.simhashMd5(docs))
    time(s"docs_repetition")(ops.TextAnalysis.repetitionScore(docs))
    time(s"docs_contamination")(ops.Similarity.contamination(docs, 997L))
    time(s"docs_length_buckets")(ops.TextAnalysis.lengthBuckets(docs))
    // Corpus span dedup + the full curation chain at 500k docs: the
    // posexplode multiplies rows by spans/doc (40 tokens / 10-word spans
    // → 4×, i.e. ~2M span rows through one 16-byte-key hash agg), and the
    // planted every-100th-doc copies make ~1% of spans genuinely
    // multi-occurrence. The reassembly concat_ws is bounded by doc length
    // (40 tokens) — the first thing to bite at scale is the span-row
    // shuffle volume, which is why only (hash, count) ever aggregates.
    time(s"docs_dedup_spans")(ops.TextAnalysis.dedupSpans(docs))
    time(s"docs_curation_full")(ops.Pipeline.curationFull(docs))
    // Unigram-LM scoring + KL drift at the same 500k docs: the token
    // explode is ~20M rows, but the (doc, token) partial aggregate
    // collapses repeats map-side and the vocabulary join carries only
    // (doc_id, token, count) — the numbers to watch are the two-phase
    // aggregate's shuffle volume and the skew AQE absorbs on head words.
    time(s"docs_unigram_logprob")(ops.TextAnalysis.unigramLogProb(docs))
    time(s"docs_kl_drift")(ops.TextAnalysis.klDrift(docs))
    // Writer-layout + mixing at 500k docs: shuffle-shard's only shuffle
    // is the per-shard window (32 shards → ~1/32 of the docs per sort);
    // the token-budget prefix is one running-sum window per source
    // (7 sources here — the giant-stratum case by construction).
    time(s"docs_shuffle_shard")(ops.Sampling.shuffleShard(docs, "doc_id", 32))
    time(s"docs_mix_budget")(ops.Sampling.budgetPerStratum(
      docs.withColumn("n_tokens", size(split(col("text"), " "))),
      "source", "doc_id", "n_tokens", Map.empty[String, Long], 1000000L))

    // Embeddings-tier scale-up: 100k 64-dim float vectors (10× the sf0.1
    // embeddings table), 32 planted clusters (centroid + noise), built
    // relationally. Pins the two numbers the ANN design stands on:
    // steady-state PROBE latency against the partitioned layout (the
    // build is a one-time lake artifact) and the planesFor bucket-size
    // distribution (buckets must stay near targetBucketRows as n grows —
    // that is the whole point of data-sized plane counts).
    val nVec = math.max(rows / 50L, 100000L)
    def comp(i: Int) = {
      val centroid = (pmod(xxhash64(pmod(col("id"), lit(32L)) * 1000003L + i),
        lit(2001L)) - 1000L) / 1000.0
      val noise = (pmod(xxhash64(col("id") * 999983L + i),
        lit(2001L)) - 1000L) / 5000.0
      (centroid + noise).cast("float")
    }
    // cache(): the vectors are EXPRESSIONS (128 xxhash64 per row), and a
    // non-materialized input to the IVF broadcast join re-evaluates per
    // (vector, centroid) pair — 4G hash calls at nlist=316, measured
    // 130× slower than assigning from a materialized table. A real corpus
    // is a parquet scan and never hits this; the cache makes the
    // synthetic one behave like the real thing.
    val emb = spark.range(nVec).select(
      col("id").as("vec_id"),
      concat(lit("c"), pmod(col("id"), lit(32L))).as("label"),
      array((0 until 64).map(comp): _*).as("embedding")).cache()

    val tP0 = System.nanoTime()
    val planes = ops.Similarity.planesFor(emb)
    println(f"STRESS emb_planes_for        ${(System.nanoTime() - tP0) / 1e9}%8.2f s  " +
      f"($nVec vectors -> $planes planes, ${1 << planes} buckets)")
    val layout = graft.io.ScratchDirs.create("stress_ann").toString + "/layout"
    val tB0 = System.nanoTime()
    ops.Similarity.writeAnnLayout(emb, layout, planes)
    println(f"STRESS emb_layout_build      ${(System.nanoTime() - tB0) / 1e9}%8.2f s  ($nVec vectors)")
    // bucket-size distribution: the layout's partition sizes
    val dist = spark.read.parquet(layout)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), min(col("n")).as("min_n"),
        avg(col("n")).as("avg_n"), max(col("n")).as("max_n"))
      .head()
    println(s"STRESS emb_bucket_dist           buckets=${dist.getLong(0)} " +
      f"min=${dist.getLong(1)} avg=${dist.getDouble(2)}%.1f max=${dist.getLong(3)} " +
      s"(target ~64)")
    // steady-state probe latency: the query VECTOR is known (the
    // production case — an external embedding), bucket computed
    // driver-side, scan partition-pruned to the probe buckets. Three
    // probes; the first pays file-listing warmup, the rest are the
    // number. The by-id form is timed once for comparison — it adds a
    // column-pruned full-layout scan just to find the query vector.
    val qVecs = emb.filter(col("vec_id").isin(0L, 17L, 4242L))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toArray).toMap
    for (q <- Seq(0L, 17L, 4242L))
      time(s"emb_probe_vec_q$q")(
        ops.Similarity.annLshProbe(spark, layout, qVecs(q), 10, planes,
          excludeId = Some(q)))
    time("emb_probe_byid_q0")(
      ops.Similarity.annLshBucketed(spark, layout, 0L, 10, planes))
    // exact brute-force baseline the probe must beat
    time("emb_brute_cosine")(ops.Similarity.cosineTopK(emb, 0L, 10))

    // IVF twin on the same 100k-vector corpus: build (k-means train +
    // cell-partitioned write, the one-time artifact) vs steady-state
    // probe. nlist ~ √n per the FAISS rule; 2 Lloyd rounds move the
    // md5-sampled seeds onto the planted structure.
    val ivfDir = graft.io.ScratchDirs.create("stress_ivf").toString + "/layout"
    val nlist = math.max(math.sqrt(nVec.toDouble).toInt, 16)
    // Training-sample payoff: Lloyd rounds over a 10% hash-sample vs the
    // full corpus (the layout's one full-corpus assignment is unchanged —
    // only the iterated training passes shrink).
    val tTf = System.nanoTime()
    ops.Ivf.trainCentroids(emb, nlist, iters = 2)
    println(f"STRESS ivf_train_full        ${(System.nanoTime() - tTf) / 1e9}%8.2f s  " +
      s"($nVec vectors, nlist=$nlist)")
    val tTs = System.nanoTime()
    ops.Ivf.trainCentroids(emb, nlist, iters = 2, sampleRate = 0.1)
    println(f"STRESS ivf_train_sample10    ${(System.nanoTime() - tTs) / 1e9}%8.2f s  " +
      s"(10% hash-sample, nlist=$nlist)")
    val tI0 = System.nanoTime()
    val ivfCents = ops.Ivf.writeIvfLayout(emb, ivfDir, nlist, iters = 2)
    println(f"STRESS ivf_layout_build      ${(System.nanoTime() - tI0) / 1e9}%8.2f s  " +
      s"($nVec vectors, nlist=$nlist)")
    val cellDist = spark.read.parquet(ivfDir)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), min(col("n")).as("min_n"),
        avg(col("n")).as("avg_n"), max(col("n")).as("max_n"))
      .head()
    println(s"STRESS ivf_cell_dist             cells=${cellDist.getLong(0)} " +
      f"min=${cellDist.getLong(1)} avg=${cellDist.getDouble(2)}%.1f " +
      s"max=${cellDist.getLong(3)}")
    for (q <- Seq(0L, 17L, 4242L))
      time(s"ivf_probe_vec_q$q")(
        ops.Ivf.ivfProbe(spark, ivfDir, ivfCents, qVecs(q), 10,
          nprobe = 4, excludeId = Some(q)))

    // Event-tier additions: sessionization and the bucketed range join
    // at the full tick volume. Sessionize shuffles once on 1000 users;
    // the range join must stay a hash equi-join (the interval side is
    // ~1k windows) — neither may degrade super-linearly.
    time("sessionize_5m")(ops.Sessions.sessionize(events, 1800L))
    time("range_join_5m")(ops.Joins.eventsInVolatileWindows(events, 0.05, 2))

    // Fuzzy-dedup closure at 200k edges / 300k nodes: 50k chain-of-4
    // families plus 50k triangles (diameter forces multiple label
    // rounds). The loop shuffles only (id, label) pairs.
    val chains = spark.range(50000L).select(col("id"))
      .select(explode(array(
        struct((col("id") * 10).as("doc_a"), (col("id") * 10 + 1).as("doc_b")),
        struct((col("id") * 10 + 1).as("doc_a"), (col("id") * 10 + 2).as("doc_b")),
        struct((col("id") * 10 + 2).as("doc_a"), (col("id") * 10 + 3).as("doc_b")))).as("e"))
      .select(col("e.doc_a"), col("e.doc_b"))
    val tris = spark.range(50000L)
      .select((col("id") * 10 + 5).as("doc_a"), (col("id") * 10 + 6).as("doc_b"))
    time("dedup_clusters_200k")(
      ops.Clustering.dedupClusters(ops.Clustering.connectedComponents(
        chains.unionByName(tris), "doc_a", "doc_b")))

    // Heavy-hitter tier at 4× the tick volume: 20M tokens, ~1M-word tail
    // vocabulary with 100 head words holding ~30% of the mass — the
    // unbounded-vocabulary regime the MG sketch exists for. The sketch
    // pass shuffles ≤ m counters per partial; the exact-count baseline
    // shuffles the full distinct-term space (~1M keys here; billions on
    // a real corpus) — the gap between those two is the design argument.
    val tokens = spark.range(rows * 4)
      .select(when(pmod(xxhash64(col("id")), lit(100L)) < 30L,
        concat(lit("h"), pmod(xxhash64(col("id") * 7L), lit(100L))))
        .otherwise(
          concat(lit("t"), pmod(xxhash64(col("id") * 13L), lit(1000000L))))
        .as("t"))
    time("tokens_mg_topk") {
      val cand = tokens
        .agg(agg.MisraGries.misraGries(col("t"), 1024).as("s"))
        .select(explode(map_keys(col("s"))).as("t"))
      tokens.join(broadcast(cand), Seq("t"), "left_semi")
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t").asc).limit(10)
    }
    time("tokens_exact_topk")(
      tokens.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t").asc).limit(10))

    // Quantized ANN on the same cached 100k-vector corpus: the int8
    // candidate pass + 40-vector float re-rank vs the float brute force
    // timed above (emb_brute_cosine).
    time("emb_quant_ann")(ops.Similarity.annQuantized(emb, 0L, 10))
    spark.stop()
  }
}
