package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-ratio evidence for the heavy COMPOSITIONS (not part of the
  * driver contract): runs the most expensive bench chains —
  * the LSH near-dup miner, the full dedup closure, the curation
  * pipeline, the IVF build+probe, plus the round-10 additions
  * (sliding-window substring dedup, CMS at production width, and
  * SemDeDup with nlist scaled ∝ n) — at bench scale (sf0.1-shaped
  * synthetic data) and at 10× that, and prints the wall-time ratio
  * against the 10× data ratio. The 2× bench envelope only validates
  * sf0.1; this is the measured answer to "does the composition stay
  * linear when the corpus grows", which the 100 TB design claims
  * otherwise argue only from plan shape.
  *
  * Output: one `STRESS_SCALING {json}` line per (query, scale) plus a
  * final `STRESS_RATIOS {json}` summary — redirect to
  * `bench/r{N}_stress_scaling.json` for the committed artifact.
  *
  * Usage: `sbt 'runMain graft.StressScaling [baseDocs]'` (default 5000
  * docs / 10k vectors at 1×, matching the sf0.1 table shapes).
  */
object StressScaling {

  /** sf0.1-shaped synthetic corpus: ~40-token docs from a 10k-word
    * vocabulary, every 100th doc an exact copy of its left neighbor
    * (planted dup families for the miners), built relationally — same
    * generator family as [[Stress]].
    */
  private[graft] def docs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("w"), pmod(xxhash64(
            (col("id") - when(pmod(col("id"), lit(100)) === 99L, lit(1L))
              .otherwise(lit(0L))) * 1000003L + i),
            lit(10000L)))): _*).as("text"),
        concat(lit("l"), pmod(col("id"), lit(5))).as("lang"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("source"),
        lit(200L).as("n_chars"))

  /** Hot-key twin of [[docs]]: every document opens with the SAME
    * 8-token boilerplate, so at n docs ONE 8-window fingerprint occurs
    * n times — the template-heavy web-crawl shape (shared site headers,
    * license banners) that concentrates a corpus-sized group on a
    * single key. This is the skew case the routed verdict's hot-key
    * salting in [[graft.ops.TextAnalysis]] exists for: the single-pass
    * window verdict sorts that key's entire group into one spilling
    * window buffer on one task.
    */
  private[graft] def docsHotKey(spark: SparkSession, n: Long): DataFrame =
    docs(spark, n).withColumn("text",
      concat(lit("hb0 hb1 hb2 hb3 hb4 hb5 hb6 hb7 "), col("text")))

  /** Zipf + Heaps twin of [[docs]]: token ids drawn as ⌊V·u³⌋
    * (u uniform), i.e. P(id ≤ x) = (x/V)^⅓ — a heavy head and a long
    * tail of rare types — with the vocabulary GROWING as V = 10⁴·√(n/5k)
    * (Heaps' law: type count scales with a power of token count; real
    * corpora never hold vocabulary fixed while documents multiply).
    * Both properties matter for similarity-join stress: the uniform
    * FIXED-vocab corpus above is the documented worst case (flat df ⇒
    * every posting grows ∝ n, candidate volume Σc² ∝ n², nothing rare
    * to prune on), while under Zipf+Heaps the rarest-first prefixes hit
    * tail types whose postings stay short as the corpus grows.
    */
  private[graft] def docsZipf(spark: SparkSession, n: Long): DataFrame = {
    val vocab = 10000.0 * math.sqrt(n.toDouble / 5000.0)
    spark.range(n)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map { i =>
          val u = pmod(xxhash64(
            (col("id") - when(pmod(col("id"), lit(100)) === 99L, lit(1L))
              .otherwise(lit(0L))) * 1000003L + i),
            lit(1000000L)).cast("double") / 1000000.0
          concat(lit("w"), floor(u * u * u * vocab).cast("long"))
        }: _*).as("text"),
        concat(lit("l"), pmod(col("id"), lit(5))).as("lang"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("source"),
        lit(200L).as("n_chars"))
  }

  /** sf0.1-shaped embeddings: 64-dim float vectors in 32 planted
    * clusters (centroid + noise), cached so the synthetic expressions
    * behave like the parquet scan a real corpus is (see [[Stress]]).
    */
  private[graft] def embeddings(spark: SparkSession, n: Long): DataFrame = {
    def comp(i: Int) = {
      val centroid = (pmod(xxhash64(pmod(col("id"), lit(32L)) * 1000003L + i),
        lit(2001L)) - 1000L) / 1000.0
      val noise = (pmod(xxhash64(col("id") * 999983L + i),
        lit(2001L)) - 1000L) / 5000.0
      (centroid + noise).cast("float")
    }
    spark.range(n).select(
      col("id").as("vec_id"),
      concat(lit("c"), pmod(col("id"), lit(32L))).as("label"),
      array((0 until 64).map(comp): _*).as("embedding")).cache()
  }

  private def tmp(kind: String): String =
    graft.io.ScratchDirs.create(s"scaling_$kind").toString + "/a"

  def main(args: Array[String]): Unit = {
    val baseDocs = args.headOption.map(_.toLong).getOrElse(5000L)
    val baseVecs = baseDocs * 2 // sf0.1: 5k docs, 10k vectors
    // Local-iteration escape hatches (the committed artifact runs all):
    // SPARK_GRAFT_STRESS_ONLY=a,b — run just those queries;
    // SPARK_GRAFT_STRESS_SCALES=10,100 — run just those scale steps.
    val onlyQ = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val scales = sys.env.get("SPARK_GRAFT_STRESS_SCALES")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1L, 10L, 100L))
    def want(name: String): Boolean = onlyQ.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The AQE partition sizing that halved the 100x stress walls lives in
    // the shared production profile now — see GraftSession for the
    // measured rationale (219 s -> 128 s at the 5M-doc substring point).
    val spark = GraftSession.localBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Disk-backed checkpoints for a single timed block: at the 100×+
    // points a localCheckpoint pins its blocks in executor STORAGE
    // memory and starves task memory on the single shared heap
    // (measured: the cosine feats cut — ~20M rows at 500k docs —
    // flipped the zipf run from 267 s green to OOM at 8g). Disk-backed
    // cuts cost IO, keep the heap for tasks, and are the documented
    // cluster mode. Scoped per-call so the other stress entries keep
    // the localCheckpoint mode their recorded numbers were measured in.
    def withReliableCuts[T](body: => T): T = {
      spark.sparkContext.setCheckpointDir(tmp("ckpt"))
      try body finally spark.sparkContext.setCheckpointDir(null)
    }

    // the persisted minhash shape: shingle artifact written, then mined
    def persistedNearDup(docs: DataFrame, dir: String): DataFrame = {
      ops.Similarity.shingleHashes(docs).write.mode("overwrite").parquet(dir)
      ops.Similarity.minhashNearDup(spark.read.parquet(dir))
    }

    def timed(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // one warmup pass so 1× timings aren't JIT/codegen-dominated (which
    // would deflate the measured ratios)
    timed(ops.Similarity.exactDedup(docs(spark, 1000L)))

    // SPARK_GRAFT_STRESS_PASSES=N repeats the whole scale sweep N times
    // in one session (the r14/r15 "alternating passes" protocol, now a
    // harness knob instead of N hand-launched runs): per-PASS walls at
    // the 5M-doc points carry 67-201 s dispersion (bench/NOISE.md), and
    // one loaded pass poisons both points of its decade the same way —
    // so the decade ratio is computed WITHIN each pass and the artifact
    // reports the per-pass ratio list plus its median, not a ratio of
    // walls from different load regimes.
    val passes = sys.env.getOrElse("SPARK_GRAFT_STRESS_PASSES", "1").toInt.max(1)
    // per query, per scale: one wall per pass, in pass order
    val results = scala.collection.mutable
      .LinkedHashMap[String, Map[Long, Vector[Double]]]()
    var passNow = 0
    def record(name: String, scale: Long, rows: Long, sec: Double): Unit = {
      val byScale = results.getOrElse(name, Map.empty)
      results(name) = byScale + (scale -> (byScale.getOrElse(scale, Vector.empty) :+ sec))
      println(f"""STRESS_SCALING {"query":"$name","scale":$scale,"rows":$rows,"pass":$passNow,"sec":$sec%.2f}""")
    }

    // 1× ≈ sf0.1; 10× shows the overhead-dominated regime (ratios ≈ 1 =
    // fixed costs still dominate); 100× (500k docs / 1M vectors) is the
    // data-dominated regime where the 10×→100× ratio is the real
    // linearity verdict.
    for (pass <- 0 until passes; scale <- scales) {
      passNow = pass
      val nDocs = baseDocs * scale
      // ids cached BEFORE this scale (cross-scale artifacts, e.g. a
      // future Checkpoints.stable cut meant to outlive the loop body):
      // the end-of-scale cleanup must evict only what THIS iteration
      // created — an unpersisted localCheckpoint cannot be recomputed,
      // so a blanket unpersist would silently corrupt any later reader
      val preScaleRddIds = spark.sparkContext.getPersistentRDDs.keySet
      lazy val d = docs(spark, nDocs).localCheckpoint() // materialized like a real table scan
      if (want("minhash_neardup"))
        record("minhash_neardup", scale, nDocs, timed(
          persistedNearDup(d, tmp("mh"))))
      if (want("dedup_clusters_lsh"))
        record("dedup_clusters_lsh", scale, nDocs, timed(
          ops.Clustering.dedupClusters(ops.Clustering.connectedComponents(
            persistedNearDup(d, tmp("mhcc")), "doc_a", "doc_b"))))
      if (want("curation_full"))
        record("curation_full", scale, nDocs, timed(
          ops.Pipeline.curationFull(d)))
      // Sliding-window substring dedup: ~33 window rows per 40-token doc
      // through one hash agg + one doc-partitioned lag — expected linear.
      if (want("substring_dedup"))
        record("substring_dedup", scale, nDocs, timed(
          ops.TextAnalysis.substringDedup(d, ops.TextAnalysis.dupStarts(d, 8), 8)))
      // Contrast arm: the single-pass window verdict on the same corpus
      // (fastest when no key is hot — the number the routed form must
      // stay within band of on skew-FREE data).
      if (want("substring_dedup_window"))
        record("substring_dedup_window", scale, nDocs, timed(
          ops.TextAnalysis.substringDedupWindowVerdict(d, 8)))
      // Skew arms: every doc shares an 8-token boilerplate prefix, so one
      // fingerprint occurs nDocs times. The routed verdict must stay FLAT
      // vs the uniform corpus; the window verdict documents the spill cliff.
      lazy val dh = docsHotKey(spark, nDocs).localCheckpoint()
      if (want("substring_dedup_hotkey"))
        record("substring_dedup_hotkey", scale, nDocs, timed(
          ops.TextAnalysis.substringDedup(dh, ops.TextAnalysis.dupStarts(dh, 8), 8)))
      if (want("substring_dedup_hotkey_window"))
        record("substring_dedup_hotkey_window", scale, nDocs, timed(
          ops.TextAnalysis.substringDedupWindowVerdict(dh, 8)))
      // CMS at production width: d×token-volume codegen md5 rows into a
      // d·w-bounded aggregate — the sketch's whole point is linearity.
      if (want("cms_profile"))
        record("cms_profile", scale, nDocs, timed(
          ops.TextAnalysis.cmsProfile(d, Seq("w1", "w17", "w123", "zzz"), 4, 1024)))
      // The xxhash64 fast path: same sketch, native codegen'd row hash —
      // measures how much of the md5 form's ceiling is hash-family cost.
      if (want("cms_profile_fast"))
        record("cms_profile_fast", scale, nDocs, timed(
          ops.TextAnalysis.cmsProfileX(d, Seq("w1", "w17", "w123", "zzz"), 4, 1024)))
      // Exact all-pairs Jaccard: candidate volume tracks the near-dup
      // mass (planted 1% exact dups) + prefix collisions, never m².
      if (want("jaccard_allpairs"))
        record("jaccard_allpairs", scale, nDocs, timed(
          ops.Similarity.allPairsJaccard(d, 0.5)))
      // Exact all-pairs tf-idf cosine. The UNIFORM 10k-vocab corpus is
      // the prefix filter's measured worst case (flat df ⇒ postings
      // ~n/10k everywhere, prefixes can't shrink, candidates ~Σ|posting|²)
      // — kept at 1×/10× as the anti-baseline, like semantic_dedup_flat.
      // Capped at 10x by default: candidate volume on the flat-df corpus
      // is CLOSED-FORM quadratic (~10k postings of n*40/10k rows each ->
      // ~10k * (n/250)^2 / 2 pairs), and the cap is MEASURED, not
      // estimated — the r16 30x attempt (~1.8G candidate pairs) died at
      // 767 s spilling >69 GB of shuffle to disk (SPILL_OUT_OF_MEMORY /
      // no space left; bench/r16_stress_scaling.json records the
      // attempt), so the ~20G-pair 100x point is un-runnable on this
      // box by an order of magnitude. This arm exists as the
      // anti-baseline the Zipf arm is measured against: realistic
      // (Zipf+Heaps) vocabularies keep rarest-first prefixes on short
      // postings and DO run at 100x (candidates track near-dup mass).
      // SPARK_GRAFT_STRESS_COSINE_CAP raises the cap for a bigger box.
      if (scale <= sys.env.getOrElse("SPARK_GRAFT_STRESS_COSINE_CAP", "10").toLong
          && want("cosine_allpairs"))
        record("cosine_allpairs", scale, nDocs, withReliableCuts(timed(
          ops.Similarity.allPairsCosine(d, 0.85))))
      // Governed twin of the arm above: the SAME flat corpus through the
      // r17 candidate-mass preflight — the 1× point clears the budget
      // and runs to completion (the accept branch must cost ~the
      // ungoverned run), while the 30×/100× points are REFUSED with the
      // estimate in prefix-build time (tens of seconds), where the r16
      // ungoverned attempt died at 767 s after >69 GB of spill. Budget
      // default 1e8 pairs is CALIBRATED BY MEASURED MASSES (budget=1
      // probe run, r17): 1× = 1.29e5 (accepted, runs), 30× = 7.37e8
      // (the measured death march — an r17 attempt at a guessed 1e9
      // budget launched it and re-proved the disk-filling failure),
      // 100× = 1.01e10; the ~100 s 10× point interpolates to ~8e7, just
      // under the budget — exactly the feasibility frontier of this box.
      // Override: SPARK_GRAFT_STRESS_COSINE_BUDGET. Skipped at 10×
      // (accept is already evidenced at 1×; 10× would just repeat the
      // ~100 s anti-baseline twice per pass).
      if (scale != 10L && want("cosine_preflight"))
        record("cosine_preflight", scale, nDocs, withReliableCuts {
          val budget = sys.env.getOrElse(
            "SPARK_GRAFT_STRESS_COSINE_BUDGET", "100000000").toLong
          val t0 = System.nanoTime()
          try ops.Similarity.allPairsCosine(d, 0.85,
            maxCandidatePairs = budget)
            .write.format("noop").mode("overwrite").save()
          catch {
            case e: ops.CandidateMassExceeded => println(
              s"""STRESS_PREFLIGHT {"query":"cosine_preflight","scale":$scale,"rows":$nDocs,"pass":$passNow,"estimated_pairs":${e.estimatedPairs},"budget":${e.maxCandidatePairs},"verdict":"rejected"}""")
          }
          (System.nanoTime() - t0) / 1e9
        })
      // The governed ROUTER on the same flat corpus (r17 verdict #1):
      // where the arm above REFUSES the over-budget scales, this one
      // COMPLETES them — 1× clears the budget and runs the exact join;
      // the 30×/100× flat-vocab masses (7.37e8 / 1.01e10, measured r17)
      // route to the SimHash-banded fallback verified by the same exact
      // scorer, so the launch that died at 767 s ungoverned (r16) now
      // finishes with a bounded plan and the decision in the lineage.
      if (scale != 10L && want("cosine_governed"))
        record("cosine_governed", scale, nDocs, withReliableCuts {
          val budget = sys.env.getOrElse(
            "SPARK_GRAFT_STRESS_COSINE_BUDGET", "100000000").toLong
          val t0 = System.nanoTime()
          val g = ops.Similarity.cosineGoverned(d, 0.85,
            maxCandidatePairs = budget)
          g.pairs.write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          println(
            s"""STRESS_GOVERNED {"query":"cosine_governed","scale":$scale,"rows":$nDocs,"pass":$passNow,"method":"${g.method}","estimated_pairs":${g.estimatedPairs},"budget":${g.maxCandidatePairs},"sec":${f"$sec%.2f"}}""")
          sec
        })
      // The Zipf-vocabulary corpus is the realistic case: rarest-first
      // prefixes land on tail types with short postings, so candidate
      // volume tracks near-dup mass, not posting-length².
      lazy val dz = docsZipf(spark, nDocs).localCheckpoint()
      if (want("cosine_allpairs_zipf"))
        record("cosine_allpairs_zipf", scale, nDocs, withReliableCuts(timed(
          ops.Similarity.allPairsCosine(dz, 0.85))))

      // Round-11 closing ops. dsir/doc_embed share hashFeatures'
      // explode-once shape (the scaling question is the gram explode +
      // bucket aggregate); the bigram LM runs on the Zipf+Heaps corpus
      // where pair-TYPE space actually grows with the vocabulary (the
      // fixed-10k-vocab corpus would flatter the ratios); bpe_encode's
      // merge loop is word-TYPE-space by construction, so its line
      // measures the corpus explode + the skew-free doc join;
      // normalize_text is the pure byte-bandwidth native-expression map.
      if (want("dsir_weights"))
        record("dsir_weights", scale, nDocs, timed(
          ops.TextAnalysis.dsirWeights(d, "s0", 64)))
      if (want("doc_embed"))
        record("doc_embed", scale, nDocs, timed(
          ops.TextAnalysis.featureEmbed(d, 64, 16)))
      if (want("bigram_logprob"))
        record("bigram_logprob", scale, nDocs, timed(
          ops.TextAnalysis.bigramLogProb(dz)))
      if (want("bpe_encode"))
        record("bpe_encode", scale, nDocs, timed(
          ops.Tokenizer.bpeEncode(d, ops.Tokenizer.bpeTrain(d, 8))))
      if (want("normalize_text"))
        record("normalize_text", scale, nDocs, timed(
          ops.TextAnalysis.normalizeText(d)))

      val nVecs = baseVecs * scale
      lazy val emb = embeddings(spark, nVecs)
      if (want("ann_ivf")) {
        val layout = tmp("ivf")
        val t0 = System.nanoTime()
        val cents = ops.Ivf.writeIvfLayout(emb, layout)
        val q = spark.read.parquet(layout).filter(col("vec_id") === 0L)
          .select(col("embedding")).head()
          .getAs[scala.collection.Seq[Float]](0).toArray
        ops.Ivf.ivfProbe(spark, layout, cents, q, 10, nprobe = 2,
          excludeId = Some(0L)).write.format("noop").mode("overwrite").save()
        record("ann_ivf", scale, nVecs, (System.nanoTime() - t0) / 1e9)
      }
      // SemDeDup: with the linearity knob nlist ∝ n the FLAT form's
      // assignment is n·nlist = quadratic — measured 6.6×/10× at 1M
      // vectors (837 s; kept at 1×/10× as the anti-baseline). The
      // hierarchical form routes coarse-then-fine (n·2√nlist) with the
      // same leaf target, so it runs at every scale.
      val nlist = math.max(8L, nVecs / 1250L).toInt
      if (scale <= 10L && want("semantic_dedup_flat"))
        record("semantic_dedup_flat", scale, nVecs, timed(
          ops.Ivf.semanticDedup(emb, ops.Ivf.semanticAssign(emb, nlist), 0.95)))
      val side = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
      // Diagnostic stage split: the two-level cell ASSIGNMENT alone —
      // hier minus this is the within-leaf m² pair stage, so a
      // super-linear hier with a linear cells line convicts the pairing
      // (leaf-size distribution), not the routing.
      if (want("semantic_hier_cells"))
        record("semantic_hier_cells", scale, nVecs, timed(
          ops.Ivf.semanticDedupHierCells(emb, side, side)))
      if (want("semantic_dedup_hier"))
        record("semantic_dedup_hier", scale, nVecs, timed(
          ops.Ivf.semanticDedupHier(emb, 0.95, side, side)))
      // The skew guard: md5-seeded leaves are Zipf-ish (measured max
      // 11,331 vs median 661 at 1M vectors), and all pairs of one leaf
      // land on ONE reducer; capping splits oversized leaves by a
      // content-hash salt, bounding per-task pair work at ~cap².
      if (want("semantic_dedup_capped"))
        record("semantic_dedup_capped", scale, nVecs, timed(
          ops.Ivf.semanticDedupCapped(emb, 0.95, side, side, 2500)))
      // Governed twin of the FLAT anti-baseline (the semantic face of
      // the r17 preflight pattern): semanticDedup at the paper form's
      // default-undersized nlist = 8 through the maxPairs budget. The
      // within-cell mass grows ~n²/8 while the n·8 assignment the
      // preflight needs stays linear — 1×/10× clear the 1e9 budget and
      // run, 100× (measured mass 9.655e10 pairs — 1.5× the even-split
      // model, because md5-seeded cells are uneven; the regime the
      // unguarded flat form measured at 837 s) is refused in
      // assignment-time seconds, faster than the 10× ACCEPT. Override:
      // SPARK_GRAFT_STRESS_SEMANTIC_BUDGET.
      // Estimate-only wall for the arm below (r17 verdict #5): the
      // accept-scale `semantic_preflight` walls are DOMINATED by the
      // semanticDedup the acceptance triggers, not by the estimator —
      // without this row a reader comparing sec_10x (accept+dedup) to
      // sec_100x (refusal ≈ estimate-only) could conclude the estimator
      // is super-linear. This row times JUST the linear assignment +
      // mass aggregate at every scale; expected ~linear in n.
      if (want("semantic_preflight_estimate"))
        record("semantic_preflight_estimate", scale, nVecs, timed(
          ops.Ivf.semanticPreflight(ops.Ivf.semanticAssign(emb, 8))))
      if (want("semantic_preflight"))
        record("semantic_preflight", scale, nVecs, {
          val budget = sys.env.getOrElse(
            "SPARK_GRAFT_STRESS_SEMANTIC_BUDGET", "1000000000").toLong
          val t0 = System.nanoTime()
          try ops.Ivf.semanticDedup(emb, ops.Ivf.semanticAssign(emb, 8), 0.95,
              maxPairs = budget)
            .write.format("noop").mode("overwrite").save()
          catch {
            case e: ops.CandidateMassExceeded => println(
              s"""STRESS_PREFLIGHT {"query":"semantic_preflight","scale":$scale,"rows":$nVecs,"pass":$passNow,"estimated_pairs":${e.estimatedPairs},"budget":${e.maxCandidatePairs},"verdict":"rejected"}""")
          }
          (System.nanoTime() - t0) / 1e9
        })
      // lazy val: only unpersist if some embedding query actually ran
      if (Seq("ann_ivf", "semantic_dedup_flat", "semantic_dedup_hier",
          "semantic_dedup_capped", "semantic_hier_cells",
          "semantic_preflight", "semantic_preflight_estimate").exists(want))
        emb.unpersist()
      // Drop this scale's localCheckpoint blocks (d/dz/dh, and any cut a
      // timed operator made) before the next decade: the cuts pin
      // executor STORAGE memory on the one shared heap, and three
      // stacked scales of 5M-row corpora otherwise crowd the task-memory
      // pool (a subset run at 8g died exactly here, silently, between
      // the 10x and 100x iterations). Scoped to ids CREATED this scale —
      // anything cached before the iteration survives it.
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => preScaleRddIds.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }

    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val ratios = results.map { case (name, byScale) =>
      val secParts = scales.filter(byScale.contains).flatMap { s =>
        val ps = byScale(s)
        Seq(s""""sec_${s}x":${f"${med(ps)}%.2f"}""") ++
          (if (passes > 1)
            Seq(s""""sec_${s}x_passes":[${ps.map(v => f"$v%.2f").mkString(",")}]""")
          else Nil)
      }
      // ratio = median of PER-PASS ratios (each pass's hi/lo from the
      // same load regime), not the ratio of medians — the statistic
      // bench/NOISE.md documents for the wide-dispersion 5M points
      val ratioParts = scales.sliding(2).collect {
        case Seq(lo, hi) if byScale.contains(lo) && byScale.contains(hi) =>
          val perPass = byScale(lo).zip(byScale(hi)).map { case (l, h) => h / l }
          Seq(s""""ratio_${hi}x_vs_${lo}x":${f"${med(perPass)}%.2f"}""") ++
            (if (passes > 1)
              Seq(s""""per_pass_ratios_${hi}x_vs_${lo}x":[${perPass.map(v => f"$v%.2f").mkString(",")}]""")
            else Nil)
      }.flatten.toSeq
      s""""$name":{${(secParts ++ ratioParts).mkString(",")}}"""
    }.mkString("{", ",", "}")
    println(s"""STRESS_RATIOS {"step_data_ratio":10,"base_docs":$baseDocs,"passes":$passes,"ratio_stat":"median_of_per_pass_ratios","queries":$ratios}""")
    spark.stop()
  }
}
