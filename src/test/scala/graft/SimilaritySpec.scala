package graft

import org.apache.spark.sql.functions._

import graft.io.ScratchDirs
import graft.ops.Similarity

/** LLM-tier operator specs: planted near-duplicates must be found, exact
  * Jaccard must be exact, SimHash must separate similar from dissimilar,
  * ANN must achieve high recall on genuinely clustered vectors.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest today"
  private val unrelated =
    "completely different words describing database engines with columnar storage and vectorized execution plans"

  private def docs = Seq(
    (0L, base, "en", "s1", base.length.toLong),
    (1L, nearDup, "en", "s1", nearDup.length.toLong),
    (2L, unrelated, "en", "s2", unrelated.length.toLong),
    (3L, base, "en", "s3", base.length.toLong) // exact copy of doc 0
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exactDedup: keeps one canonical row per distinct text") {
    val out = Similarity.exactDedup(docs)
    assert(out.count() == 3)
    assert(out.filter(col("doc_id") === 3L).count() == 0) // copy dropped
    assert(out.filter(col("doc_id") === 0L).count() == 1) // min id kept
  }

  /** minhashNearDup's in-memory input: the corpus tokenized once, cut. */
  private def inMemoryHashes(d: org.apache.spark.sql.DataFrame) =
    Similarity.shingleHashes(d).localCheckpoint()

  test("minhashNearDup: finds planted near-dup and exact pair, skips unrelated") {
    val pairs = Similarity.minhashNearDup(inMemoryHashes(docs), threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L))) // exact copy: jaccard 1.0
    assert(keys.contains((0L, 1L))) // near dup
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 == 1.0)
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated absent
  }

  test("normalizedDedupStats: counts case/whitespace/punct variants as one doc") {
    val vdocs = Seq(
      (0L, "Hello,  World!", "en", "s1", 14L),
      (1L, "hello world", "en", "s1", 11L),      // same after normalization
      (2L, "HELLO   world.", "en", "s1", 14L),   // same after normalization
      (3L, "goodbye world", "en", "s1", 13L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Similarity.normalizedDedupStats(vdocs).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("distinct_raw") == 4L)
    assert(r.getAs[Long]("distinct_norm") == 2L)
    assert(r.getAs[Long]("formatting_dupes") == 2L)
  }

  test("minhashNearDupPersisted: writes the artifact, result identical to in-memory form") {
    val dir = ScratchDirs.create("mh_spec").toString + "/hashes"
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val mem = Similarity.minhashNearDup(inMemoryHashes(docs), threshold = 0.3)
      .collect().map(key).toSet
    Similarity.shingleHashes(docs).write.parquet(dir)
    val per = Similarity.minhashNearDup(spark.read.parquet(dir), threshold = 0.3)
      .collect().map(key).toSet
    assert(per == mem && per.nonEmpty)
    // the artifact is a real, re-readable (doc_id, h) table
    val art = spark.read.parquet(dir)
    assert(art.columns.toSeq == Seq("doc_id", "h"))
    assert(art.count() > 0)
  }

  test("ngramJaccard equals hand-computed shingle-set jaccard") {
    def sh(t: String) =
      t.toLowerCase.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val expected = {
      val (a, b) = (sh(base), sh(nearDup))
      a.intersect(b).size.toDouble / a.union(b).size
    }
    val got = Similarity.ngramJaccard(docs, 2L, 0.0)
      .filter(col("doc_a") === 0L && col("doc_b") === 1L)
      .select("jaccard").as[Double].head()
    assert(approx(got, expected))
  }

  test("cosineTopKBatch: every query's ranked block equals its single-query top-k") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val batch = Similarity.cosineTopKBatch(emb, 17L, 4).collect()
    val qids = batch.map(_.getLong(0)).distinct.sorted
    assert(qids.length > 1) // genuinely batched
    qids.foreach { q =>
      val single = Similarity.cosineTopK(emb, q, 4).collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
      val block = batch.filter(_.getLong(0) == q).sortBy(_.getInt(4))
        .map(r => (r.getLong(1), r.getDouble(3)))
      assert(block.toSeq == single.toSeq, s"q=$q")
    }
  }

  test("containmentPairs: full quote inclusion scores 1.0 where jaccard stays small") {
    val cdocs = Seq(
      (0L, "a b c d e"),                    // 3 shingles, all inside doc 1
      (1L, "z z a b c d e w w q"),          // 8 shingles (superset page)
      (2L, "p p p p p")                     // unrelated
    ).toDF("doc_id", "text")
    val rows = Similarity.containmentPairs(cdocs, 10L, 0.8).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)) == ((0L, 1L, 3, 8)))
    assert(r.getDouble(4) == 1.0)
    // the same pair's symmetric jaccard (3/8) is far below any dedup
    // threshold — the asymmetric metric is what catches it
    val j = Similarity.ngramJaccard(cdocs, 10L, 0.0)
      .filter(col("doc_a") === 0L && col("doc_b") === 1L)
      .select("jaccard").as[Double].head()
    assert(approx(j, 3.0 / 8))
  }

  test("dedupEnsemble: lexical pairs carry their embeddings' cosine verdict") {
    val d = Seq(
      (0L, "a b c d e"), (1L, "a b c d x"), (2L, "q r s t u")
    ).toDF("doc_id", "text")
    val e = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.dedupEnsemble(Similarity.ngramJaccard(d, 10L, 0.1), e)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == ((0L, 1L)))
    // shingles {abc,bcd,cde} vs {abc,bcd,cdx}: 2 shared of 4 distinct
    assert(approx(r.getDouble(2), 0.5))
    assert(r.getDouble(3) == 1.0) // identical one-hot embeddings
  }

  test("simhash: hamming(near-dup) < hamming(unrelated); identical texts equal") {
    val s = Similarity.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(s(0L) == s(3L))
    assert(hamming(s(0L), s(1L)) < hamming(s(0L), s(2L)))
  }

  test("annLsh: high recall on a genuinely clustered corpus") {
    // 20 vectors tightly around a center + 200 random: the regime ANN is
    // for. Deterministic seeded generation.
    val rnd = new scala.util.Random(5)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 20).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (20 until 220).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")
    val brute = Similarity.cosineTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ann = Similarity.annLsh(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("annQuantized: int8 rerank equals the exact brute-force top-k") {
    // same clustered-corpus regime as annLsh; int8 over 64 dims keeps
    // enough resolution that the 4k-candidate pool must contain the true
    // top-10, so the re-ranked output EQUALS the exact result (order too)
    val rnd = new scala.util.Random(11)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 20).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (20 until 220).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")
    val brute = Similarity.cosineTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val quant = Similarity.annQuantized(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(quant == brute, s"quant=$quant brute=$brute")
  }

  test("annQuantized: exact top-k recall on the real testdata embeddings") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.cosineTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val quant = Similarity.annQuantized(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(quant == brute, s"quant=$quant brute=$brute")
  }

  test("annQuantized: degenerate corpora fail with a NAMED error or return empty — never an ANSI cast error") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // all-zero corpus: the absmax row EXISTS and is 0 — the in-plan guard
    // must raise the named error instead of an opaque divide/cast failure
    val zeros = Seq((0L, Seq.fill(8)(0.0f), 0), (1L, Seq.fill(8)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] { Similarity.annQuantized(zeros, 0L, 5).collect() }
    assert(messages(e).exists(_.contains("annQuantized")),
      s"expected the named degenerate-corpus error, got: $e")
    // empty corpus: an empty LocalRelation constant-folds the whole plan
    // away (PropagateEmptyRelation) before the guard can run — the
    // documented contract is an empty result; a parquet-backed empty
    // corpus takes the guard path instead. Either way, never an ANSI cast.
    val empty = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    try assert(Similarity.annQuantized(empty, 0L, 5).collect().isEmpty)
    catch { case e: Exception =>
      assert(messages(e).exists(_.contains("annQuantized")),
        s"expected empty result or the named error, got: $e")
    }
  }

  test("md5 ANN twins: buckets match an independent reimplementation; results = brute force over the candidate set") {
    val rnd = new scala.util.Random(5)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 20).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (20 until 220).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")

    // independent reimplementation of the md5 plane family (MessageDigest
    // + BigInt — deliberately not calling the library's helper)
    def comp(p: Int, d: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$p:$d".getBytes("UTF-8"))
      val u = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
        ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
      u % 2001L - 1000L
    }
    def bucketRef(e: Seq[Float]): Long =
      (0 until 6).map { p =>
        val s = (0 until dim).map(d =>
          comp(p, d) * math.floor(e(d).toDouble * 1048576.0).toLong).sum
        if (s >= 0) 1L << p else 0L
      }.sum
    val buckets = (cluster ++ noise).map { case (id, e, _) => id -> bucketRef(e) }.toMap

    // annMd5's top-10 == exact cosine top-10 restricted to the buckets
    // within Hamming 1 of the query's (LSH is exact WITHIN its candidates)
    val got = Similarity.annMd5(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val qb = buckets(0L)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d0 = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d0 += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d0 / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = cluster.head._2
    val want = (cluster ++ noise).filter(_._1 != 0L)
      .filter(v => java.lang.Long.bitCount(buckets(v._1) ^ qb) <= 1)
      .map(v => (cos(q, v._2), v._1))
      .sortBy { case (c, id) => (-c, id) }.take(10).map(_._2)
    assert(got == want, s"got=$got want=$want")
    // the tight planted cluster shares the query's bucket: recall is high
    assert(got.count(_ < 20L) >= 9, got.mkString(","))

    // embNearDupMd5: exactly the same-bucket pairs at cosine ≥ threshold
    val pairs = Similarity.embNearDupMd5(emb, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val wantPairs = (for {
      a <- cluster ++ noise; b <- cluster ++ noise
      if a._1 < b._1 && buckets(a._1) == buckets(b._1) && cos(a._2, b._2) >= 0.9
    } yield (a._1, b._1)).toSet
    assert(pairs == wantPairs && pairs.nonEmpty, s"${pairs.size} vs ${wantPairs.size}")
  }

  test("annLshBucketed: partition-pruned probe scan returns the in-memory ANN result") {
    val rnd = new scala.util.Random(5)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 20).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (20 until 220).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")
    val dir = ScratchDirs.create("ann_layout").toString + "/ann"
    Similarity.writeAnnLayout(emb, dir)
    val bucketed = Similarity.annLshBucketed(spark, dir, 0L, 10)
    // the probe filter reaches the scan as a PARTITION filter (directory
    // pruning), not a post-read row filter
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    val got = bucketed.select("vec_id").as[Long].collect().toSet
    val mem = Similarity.annLsh(emb, 0L, 10).select("vec_id").as[Long].collect().toSet
    assert(got == mem && got.nonEmpty)
    // layout really is bucket-partitioned on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket="))
    assert(dirs.length > 1, dirs.mkString(","))
  }

  test("annLshBucketedAdaptive: margin-ordered probe keeps partition pruning, probes within budget, and beats-or-matches the fixed radius on recall") {
    val rnd = new scala.util.Random(5)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 20).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (20 until 220).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")
    val dir = ScratchDirs.create("ann_adapt").toString + "/ann"
    Similarity.writeAnnLayout(emb, dir, nPlanes = 6)
    val adaptive = Similarity.annLshBucketedAdaptive(spark, dir, 0L, 10,
      nPlanes = 6, scanBudget = 0.25)
    // probe-bucket filter still reaches the scan as a PARTITION filter
    val plan = adaptive.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    // budget respected: ceil(0.25 * 64) = 16 probe buckets, query's own first
    val q = emb.filter($"vec_id" === 0L).select($"embedding")
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val probes = Similarity.adaptiveProbeBuckets(q, 6, dim, 0.25)
    assert(probes.length == 16 && probes.distinct.length == 16)
    // the query's own bucket has flip cost 0, so it probes first
    val ownBucket = spark.read.parquet(dir).filter($"vec_id" === 0L)
      .select($"bucket".cast("long")).as[Long].head()
    assert(probes.head == ownBucket, s"head ${probes.head} != own $ownBucket")
    // recall on the clustered corpus: adaptive >= fixed radius-1
    val brute = Similarity.cosineTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val adGot = adaptive.select("vec_id").as[Long].collect().toSet
    val fixedGot = Similarity.annLshBucketed(spark, dir, 0L, 10, nPlanes = 6)
      .select("vec_id").as[Long].collect().toSet
    val adRec = brute.intersect(adGot).size.toDouble / brute.size
    val fixRec = brute.intersect(fixedGot).size.toDouble / brute.size
    assert(adRec >= fixRec, s"adaptive $adRec < fixed $fixRec")
    assert(adRec >= 0.9, s"adaptive recall $adRec")
  }

  test("approxDedupStats: HLL++ estimate within rsd bound of exact") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.01")
    Similarity.approxDedupStats(docs).collect().foreach { r =>
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val approx = r.getAs[Long]("approx_distinct").toDouble
      assert(math.abs(approx - exact) / exact < 0.15,
        s"${r.getString(0)}: exact=$exact approx=$approx")
    }
  }

  test("embNearDup: mines planted clustered pairs, skips noise") {
    val rnd = new scala.util.Random(13)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 10).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (10 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embNearDup(emb, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // all mined pairs are within the planted cluster, and most of the
    // C(10,2)=45 cluster pairs co-bucket (LSH keeps near-identical
    // vectors together with high probability)
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a < 10 && b < 10 })
    assert(pairs.length >= 30, s"found ${pairs.length} of 45")
  }

  test("embNearDupAuto: 10x corpus — planes grow with n, buckets stay bounded, cluster found") {
    val rnd = new scala.util.Random(17)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val cluster = (0 until 20).map { i =>
      (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (20 until 2000).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val emb = (cluster ++ noise).toDF("vec_id", "embedding", "label")
    // sizing rule: 2000 vectors / target 64 → ceil(log2(31.25)) = 5 planes
    val p = Similarity.planesFor(emb, 64L)
    assert(p >= 4 && p <= 6, s"planes $p") // HLL++ estimate has small rsd
    assert(2000.0 / (1 << p) <= 2 * 64, "expected bucket size stays bounded")
    val pairs = Similarity.embNearDupAuto(emb, 0.99, 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a < 20 && b < 20 })
    assert(pairs.length >= 120, s"found ${pairs.length} of 190 planted pairs")
  }

  test("embNearDupBanded: OR-amplification recovers weak-threshold pairs a single table misses, precision stays exact") {
    // moderately-similar planted pairs (cosine ~0.5): a single r-plane
    // table catches each with probability only (1 - theta/pi)^r, so
    // single-table recall collapses — the banded form's whole point
    val rnd = new scala.util.Random(29)
    val dim = 64
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // 40 vectors around the base with LARGE noise -> pairwise cosines
    // spread across ~0.3-0.7, mostly near the 0.4 threshold
    val fuzz = (0 until 40).map { i =>
      (i.toLong, base.map(c => c + 1.0f * rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val noise = (40 until 400).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    val all = fuzz ++ noise
    val emb = all.toDF("vec_id", "embedding", "label")
    // exact all-pairs baseline, driver-side with the engine's widened-
    // double arithmetic (same formula: dot / (sqrt(dot)·sqrt(dot)))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = (for {
      i <- all.indices; j <- (i + 1) until all.length
      if cos(all(i)._2, all(j)._2) >= 0.4
    } yield (all(i)._1, all(j)._1)).toSet
    val single = Similarity.embNearDup(emb, 0.4, nPlanes = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.embNearDupBandedAuto(emb, 0.4, targetRecall = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // precision exact for both (candidates are cosine-verified)
    assert(single.subsetOf(exact) && banded.subsetOf(exact))
    val rSingle = single.size.toDouble / exact.size
    val rBanded = banded.size.toDouble / exact.size
    assert(rBanded >= 0.85, f"banded recall $rBanded%.2f below the sized target")
    assert(rBanded > rSingle + 0.2,
      f"amplification should dominate: banded $rBanded%.2f vs single $rSingle%.2f")
  }

  test("allPairsJaccard: prefix filtering is lossless - identical to the brute all-pairs set, boundary pairs included") {
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 200).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // families of graduated mutations produce jaccards smeared across
    // the [0, 1] range, including near the 0.5 threshold
    val bases = (0 until 25).map(_ => doc(30))
    // family member m replaces m random TOKENS (0..3): a 3-gram shingle
    // set loses ~3 shingles per replaced token, so jaccards land around
    // 1.0 / 0.8 / 0.65 / 0.5 - straddling the 0.5 threshold
    val docs = bases.zipWithIndex.flatMap { case (b, i) =>
      (0 until 4).map { m =>
        val toks = b.split(" ").clone()
        (0 until m).foreach { _ =>
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size)) }
        ((i * 4 + m).toLong, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    // ngramJaccard with an id cap above every id IS the brute baseline,
    // with the same shingle hashing and the same union arithmetic
    val brute = canon(Similarity.ngramJaccard(docs, 10000L, 0.5))
    val fast = canon(Similarity.allPairsJaccard(docs, 0.5))
    assert(brute.nonEmpty, "fixture must produce pairs at the threshold")
    assert(fast == brute)
  }

  test("bandedSizing: recall target feasible at every scale, cost-optimal r, graceful max-recall fallback") {
    // feasibility first: at any n where SOME (r, L<=64) reaches 0.9,
    // the chosen config's predicted recall does
    for (n <- Seq(2000L, 20000L, 200000L, 2000000L); t <- Seq(0.4, 0.7, 0.9)) {
      val (r, l, rec) = Similarity.bandedSizing(n, t, 0.9)
      assert(r >= 2 && r <= 24 && l >= 1 && l <= 64, s"(n=$n t=$t) -> ($r, $l)")
      val p = 1.0 - math.acos(t) / math.Pi
      assert(approx(rec, 1.0 - math.pow(1.0 - math.pow(p, r), l)))
      if (t >= 0.7) assert(rec >= 0.9, s"(n=$n t=$t) recall $rec")
    }
    // the fixed-r trap this replaced: r=9 at n=20k/t=0.4 caps L at 64
    // and silently lands at ~0.645 recall; the optimizer must beat it
    val (r, l, rec) = Similarity.bandedSizing(20000L, 0.4, 0.9)
    assert(rec >= 0.9, s"recall $rec at the measured trap point (r=$r, l=$l)")
    // high thresholds are cheaper: at the same corpus and recall target,
    // tight near-dups need fewer tables than weak-threshold mining
    val (_, lTight, _) = Similarity.bandedSizing(2000000L, 0.95, 0.9)
    val (_, lWeak, _) = Similarity.bandedSizing(2000000L, 0.4, 0.9)
    assert(lTight < lWeak, s"t=0.95 L=$lTight should undercut t=0.4 L=$lWeak")
  }

  test("summaryApprox: sketch quantiles within 1% of the range-sort exact values") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val approx = graft.ops.Stats.summaryApprox(li).collect().head
    val exact = graft.ops.Stats.summaryApproxScale(li).collect().head
    assert(approx.getAs[Long]("n") == exact.getAs[Long]("n"))
    assert(math.abs(approx.getAs[Double]("approx_median") - exact.getAs[Double]("exact_median"))
      / exact.getAs[Double]("exact_median") < 0.01)
    assert(math.abs(approx.getAs[Double]("approx_p99") - exact.getAs[Double]("exact_p99"))
      / exact.getAs[Double]("exact_p99") < 0.01)
  }

  test("dedupIncremental: batch dedups within itself and against the corpus artifact; append admits nothing twice") {
    val dir = ScratchDirs.create("inc_keys").toString + "/keys"
    Similarity.writeCorpusKeys(docs.filter(col("doc_id") <= 1L), dir) // corpus: base, nearDup
    val batch = Seq(
      (10L, base, "en", "s9", base.length.toLong),      // dup of corpus doc 0 → dropped
      (11L, unrelated, "en", "s9", unrelated.length.toLong), // new → kept
      (12L, unrelated, "en", "s9", unrelated.length.toLong), // within-batch dup → dropped
      (13L, "genuinely new text never seen before", "en", "s9", 36L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Similarity.dedupIncremental(batch, dir)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    // append survivors' keys; a replay of the same batch now admits nothing
    out.select(md5(col("text")).as("k")).distinct()
      .write.mode("append").parquet(dir)
    assert(Similarity.dedupIncremental(batch, dir).count() == 0L)
  }

  test("dedupIncrementalBloom: row-identical to the exact anti-join form") {
    val dir = ScratchDirs.create("bloom_keys").toString + "/keys"
    Similarity.writeCorpusKeys(docs.filter(col("doc_id") <= 1L), dir)
    val batch = Seq(
      (10L, base, "en", "s9", base.length.toLong),
      (11L, unrelated, "en", "s9", unrelated.length.toLong),
      (12L, unrelated, "en", "s9", unrelated.length.toLong),
      (13L, "genuinely new text never seen before", "en", "s9", 36L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Similarity.dedupIncremental(batch, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val bloom = Similarity.dedupIncrementalBloom(batch, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(bloom == exact && bloom == Seq(11L, 13L))
    // the sketch has no false negatives: a replayed batch admits nothing
    Similarity.dedupIncrementalBloom(batch, dir)
      .select(md5(col("text")).as("k")).distinct()
      .write.mode("append").parquet(dir)
    assert(Similarity.dedupIncrementalBloom(batch, dir).count() == 0L)
    // tiny sketch (high fpp) still gives identical RESULTS — false
    // positives only route more keys through the exact verify join
    val tiny = Similarity.dedupIncrementalBloom(batch, dir, expectedItems = 2L)
    assert(tiny.count() == 0L)
  }

  test("simhashNearDup: banded Hamming mining finds the exact copy, skips unrelated") {
    for (df <- Seq(docs, docs.repartition(3))) { // partition-invariant
      val pairs = Similarity.simhashNearDup(df, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
      val keys = pairs.map(p => (p._1, p._2)).toSet
      assert(keys.contains((0L, 3L))) // identical text: Hamming 0
      assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 == 0L)
      assert(!keys.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated absent
      assert(pairs.forall(_._3 <= 3L)) // verify step enforces the radius
    }
  }

  test("dedupKeepBest: highest-quality copy survives; ties break to lowest id; uniques untouched") {
    // 30/31 are normalization-equal (punctuation-only difference) but the
    // clean copy 31 scores higher (its stopwords match the stoplist, the
    // punctuated tokens "the,"/"a." don't) — quality must beat crawl
    // order, so the HIGHER id wins here. 50/51 are byte-identical (exact
    // quality tie) → lowest id. 40 has no duplicate.
    val fixture = Seq(
      (30L, "the, a. of? good! words; here:", "en", "s", 30L),
      (31L, "the a of good words here", "en", "s", 24L),
      (40L, "solo unique document content", "en", "s", 28L),
      (50L, "twin twin twin", "en", "s", 14L),
      (51L, "twin twin twin", "en", "s", 14L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def scored(df: org.apache.spark.sql.DataFrame) = df.join(
      graft.ops.TextAnalysis.qualityScore(df).select($"doc_id", $"quality"),
      Seq("doc_id"))
    val kept = Similarity.dedupKeepBest(scored(fixture), "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(31L, 40L, 50L))
    // partition-invariant
    val kept2 = Similarity.dedupKeepBest(scored(fixture.repartition(5)), "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == kept)
  }

  test("simhashNearDupMd5: pair list equals brute-force Hamming over md5 signatures") {
    // pigeonhole-exact recall at radius 3: the banded miner must produce
    // EXACTLY the pairs a brute-force popcount over all signature pairs
    // yields — not a superset (verify step) and not a subset (recall)
    val sigs = Similarity.simhashMd5(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    for (df <- Seq(docs, docs.repartition(3))) { // partition-invariant
      val mined = Similarity.simhashNearDupMd5(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
      assert(mined == brute, s"mined=$mined brute=$brute")
      assert(mined.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0L))
    }
  }

  test("simhashMd5 / minhashSignaturesMd5: identical texts collide, engine-portable keys") {
    val sm = Similarity.simhashMd5(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sm(0L) == sm(3L) && sm(0L) != sm(2L))
    assert(sm.values.forall(v => v >= 0L && v <= 0xFFFFFFFFL)) // 32-bit range
    val mh = Similarity.minhashSignaturesMd5(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(mh(0L) == mh(3L) && mh(0L) != mh(2L))
    // signature entries are md5 hex: reproducible by any engine
    assert(mh(0L).forall(_.asInstanceOf[String].matches("[0-9a-f]{32}")))
  }

  test("contamination: near-dup of a benchmark doc is flagged; benchmark members excluded") {
    // benchmarkMod=2: docs 0/2 are the benchmark set; doc 1 (near-dup of
    // benchmark doc 0) shares most of its shingles and doc 3 (exact
    // copy of doc 0, 18 tokens -> 16 shingles) all 16 — both flagged;
    // benchmark members 0/2 never appear on the corpus side.
    val out = Similarity.contamination(docs, benchmarkMod = 2L, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L) >= 10L && out(3L) == 16L)
  }

  test("contaminationAgainst: explicit benchmark table, disjoint from the corpus") {
    // the benchmark is its OWN DataFrame (production shape): corpus docs
    // overlapping it are flagged regardless of any id arithmetic, and a
    // corpus doc equal to ANOTHER corpus doc is not
    val bench = docs.filter($"doc_id" === 0L).select(
      ($"doc_id" + 100L).as("doc_id"), $"text", $"lang", $"source", $"n_chars")
    val corpus = docs.filter($"doc_id" =!= 0L)
    val out = Similarity.contaminationAgainst(corpus, bench, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 3 is an exact copy of doc 0 (16 shingles), doc 1 its near-dup;
    // doc 2 is unrelated -> absent
    assert(out.contains(3L) && out(3L) == 16L)
    assert(out.contains(1L) && out(1L) >= 10L)
    assert(!out.contains(2L))
    // same-table form is the overload composed over id predicates
    val viaMod = Similarity.contamination(docs, benchmarkMod = 2L, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaTables = Similarity.contaminationAgainst(
      docs.filter($"doc_id" % 2 =!= 0L), docs.filter($"doc_id" % 2 === 0L),
      minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaMod == viaTables)
  }

  test("minhashSignatures: identical texts share signatures; deterministic across runs") {
    val a = Similarity.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val b = Similarity.minhashSignatures(docs.repartition(3)).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(a == b)
    assert(a(0L) == a(3L))
    assert(a(0L) != a(2L))
  }

  test("allPairsCosine: suffix-bound prefix filter is lossless - identical to the brute quantized all-pairs set, and reordering-invariant where Jaccard collapses") {
    val rnd = new scala.util.Random(43)
    val vocab = (0 until 200).map(i => s"w$i")
    // graduated token-replacement families: replacing m of 30 tokens
    // drops the bag-of-words cosine roughly (30 - m)/30, smearing pairs
    // across ~0.7-1.0 and straddling the registered 0.85 threshold
    val bases = (0 until 20).map(_ =>
      Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val mutated = bases.zipWithIndex.flatMap { case (b, i) =>
      (0 until 5).map { m =>
        val toks = b.split(" ").clone()
        (0 until (m * 2)).foreach { _ =>
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size)) }
        ((i * 6 + m).toLong, toks.mkString(" "))
      } :+ {
        // member 5: the base REORDERED - cosine exactly 1.0 (same bag),
        // while its 3-gram shingle Jaccard is ~0; the family this
        // operator exists to catch
        ((i * 6 + 5).toLong, rnd.shuffle(b.split(" ").toSeq).mkString(" "))
      }
    }
    val docs = mutated.toDF("doc_id", "text")
    val t = 0.85
    val tq = math.floor(t * math.pow(2.0, 40)).toLong

    // driver-side brute: the SAME integer quantization chain, all pairs
    val tf = mutated.flatMap { case (id, text) =>
      text.toLowerCase.split(" ").groupBy(identity).map {
        case (w, g) => ((id, w), g.length.toLong) }
    }.toMap
    val dfreq = tf.keys.groupBy(_._2).map { case (w, g) => (w, g.size.toLong) }
    val nDocs = mutated.size.toDouble
    val wq = tf.flatMap { case ((id, w), c) =>
      val idf = (nDocs - dfreq(w) + 0.5) / (dfreq(w) + 0.5)
      val q = math.floor(math.min(c.toDouble * idf, 1048576.0) * 16.0).toLong
      if (q > 0) Some(((id, w), q)) else None
    }
    val nx = wq.groupBy(_._1._1).map { case (id, g) =>
      (id, g.values.map(v => v * v).sum) }
    val wnq = wq.flatMap { case ((id, w), q) =>
      val v = math.floor(q.toDouble / math.sqrt(nx(id).toDouble) * 1048576.0).toLong
      if (v > 0) Some(((id, w), v)) else None
    }
    val byDoc = wnq.groupBy(_._1._1).map { case (id, g) =>
      (id, g.map { case ((_, w), v) => (w, v) }.toMap) }
    val ids = mutated.map(_._1).sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = byDoc.getOrElse(ids(i), Map.empty[String, Long])
      b = byDoc.getOrElse(ids(j), Map.empty[String, Long])
      dot = a.keysIterator.collect { case w if b.contains(w) => a(w) * b(w) }.sum
      if dot >= tq
    } yield (ids(i), ids(j), dot)).toSet

    val fast = Similarity.allPairsCosine(docs, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "fixture must produce pairs at the threshold")
    // boundary content: the fixture must smear pairs NEAR the threshold,
    // or losslessness is vacuously easy
    val nearBand = brute.count { case (_, _, d) =>
      d.toDouble / math.pow(2.0, 40) < 0.95 }
    assert(nearBand > 0, "no pairs in the 0.85-0.95 boundary band")
    assert(fast == brute)
    // every reordered member pairs with its base at cosine exactly 1.0
    // (integer dot == integer norm product scale: dot_q of a doc with
    // itself-reordered equals sum wnq^2 which quantizes to ~2^40)
    val reorderPairs = (0 until 20).map(i => ((i * 6).toLong, (i * 6 + 5).toLong))
    reorderPairs.foreach { case (a, b) =>
      assert(fast.exists(p => p._1 == a && p._2 == b),
        s"reordered twin ($a, $b) missing - the anti-Jaccard family must be caught")
    }
  }

  test("candidate-mass preflight: estimate matches the true candidate-join mass, refusal carries it, clear budgets change nothing") {
    // the stress generator's corpus shape (planted 1%-dup families,
    // fixed vocabulary) — the regime the preflight exists to govern
    val d = StressScaling.docs(spark, 2000L)

    // --- Jaccard: the estimator (Σ_h C(cnt,2) over the prefix table)
    // must equal the equi-join's raw pair mass and bound the miner's
    // true (size-filtered) candidate mass within 2×.
    val pref = Similarity.jaccardPrefix(d, 0.5)
    val rawJoin = pref.as("a").join(pref.as("b"),
      $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id").count()
    val sized = pref.as("a").join(pref.as("b"),
      $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
        least($"a.n", $"b.n").cast("double") >=
          lit(0.5) * greatest($"a.n", $"b.n") - lit(1e-9)).count()
    val ej = intercept[graft.ops.CandidateMassExceeded] {
      Similarity.allPairsJaccard(d, 0.5, maxCandidatePairs = 0L)
    }
    assert(ej.operator == "allPairsJaccard" && ej.maxCandidatePairs == 0L)
    assert(ej.estimatedPairs == rawJoin,
      s"estimate ${ej.estimatedPairs} != raw join mass $rawJoin")
    assert(sized > 0 && sized <= ej.estimatedPairs &&
      ej.estimatedPairs <= 2 * sized,
      s"estimate ${ej.estimatedPairs} not within 2x of true mass $sized")

    // --- Cosine: same contract over the tf-idf prefix (no size filter
    // in its join, so the estimate is exactly the unordered join mass).
    val (_, cpref) = Similarity.cosineFeatsAndPrefix(d, 0.85, cutPref = true)
    val cosMass = cpref.as("a").join(cpref.as("b"),
      $"a.t" === $"b.t" && $"a.doc_id" < $"b.doc_id").count()
    val ec = intercept[graft.ops.CandidateMassExceeded] {
      Similarity.allPairsCosine(d, 0.85, maxCandidatePairs = 0L)
    }
    assert(ec.operator == "allPairsCosine" && ec.estimatedPairs == cosMass,
      s"estimate ${ec.estimatedPairs} != join mass $cosMass")

    // --- a clear budget must admit the run and change NOTHING: the
    // guarded results are row-identical to the default (ungoverned) plan
    def jset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val jDefault = jset(Similarity.allPairsJaccard(d, 0.5))
    val jGuarded = jset(Similarity.allPairsJaccard(d, 0.5,
      maxCandidatePairs = ej.estimatedPairs))
    assert(jDefault == jGuarded && jDefault.nonEmpty)
    def cset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cDefault = cset(Similarity.allPairsCosine(d, 0.85))
    val cGuarded = cset(Similarity.allPairsCosine(d, 0.85,
      maxCandidatePairs = ec.estimatedPairs))
    assert(cDefault == cGuarded && cDefault.nonEmpty)
  }

  test("appendToAnnLayout: appended layout is bucket-identical to a rebuild, probes agree, plane mismatch refused") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val all = (0 until 240).map { i =>
      if (i < 20)
        (i.toLong, center.map(c => c + 0.01f * rnd.nextGaussian().toFloat).toSeq, 0)
      else (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq, 1)
    }
    // split by parity so both the resident layout and the appended batch
    // carry cluster members — the probe must need BOTH to be correct
    val resident = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding", "label")
    val batch = all.filter(_._1 % 2 == 1).toDF("vec_id", "embedding", "label")
    val embAll = all.toDF("vec_id", "embedding", "label")
    val base = ScratchDirs.create("ann_append").toString
    val incDir = base + "/inc"
    val fullDir = base + "/full"
    Similarity.writeAnnLayout(resident, incDir, nPlanes = 6)
    val report = Similarity.appendToAnnLayout(batch, incDir, nPlanes = 6)
    assert(report.agg(sum($"n_appended")).as[Long].head() == 120L)
    Similarity.writeAnnLayout(embAll, fullDir, nPlanes = 6)
    // data-independent planes: the appended layout's (vec_id, bucket)
    // assignment is IDENTICAL to the from-scratch rebuild's
    def assign(dir: String) = spark.read.parquet(dir)
      .select($"vec_id", $"bucket".cast("long")).as[(Long, Long)].collect().toSet
    assert(assign(incDir) == assign(fullDir))
    // and therefore so is any probe (ordered rows, not just the set)
    def probe(dir: String) = Similarity.annLshProbeAdaptive(spark, dir,
      center, 10, nPlanes = 6, scanBudget = 0.375)
      .select($"vec_id").as[Long].collect().toSeq
    val inc = probe(incDir)
    assert(inc == probe(fullDir) && inc.nonEmpty)
    // the probe must draw from both halves or the append was vacuous
    assert(inc.exists(_ % 2 == 0) && inc.exists(_ % 2 == 1))
    // declaring fewer planes than the layout was built with is refused
    // structurally (existing bucket partitions ≥ 2^nPlanes prove it)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToAnnLayout(batch, incDir, nPlanes = 2)
    }
    assert(e.getMessage.contains("appendToAnnLayout"))
    // a typo'd / missing dir is a CONTRACT error naming the operator,
    // not a raw Hadoop FileNotFoundException (r17 ADVICE #2)
    val eMissing = intercept[IllegalArgumentException] {
      Similarity.appendToAnnLayout(batch, base + "/no_such_layout", nPlanes = 6)
    }
    assert(eMissing.getMessage.contains("appendToAnnLayout"), eMissing.getMessage)
    // an empty-but-existing dir is refused too: appending there would
    // fabricate a layout writeAnnLayout never built
    val emptyDir = base + "/empty"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(emptyDir))
    val eEmpty = intercept[IllegalArgumentException] {
      Similarity.appendToAnnLayout(batch, emptyDir, nPlanes = 6)
    }
    assert(eEmpty.getMessage.contains("no bucket= partitions"), eEmpty.getMessage)
  }

  test("budget-given allPairsJaccard: one tokenize serves prefix AND verify sets; refusals leave zero resident blocks") {
    val sf = "/root/testdata/sf0.001"
    val d = graft.io.Tables.documents(spark, sf)
    // accepted-budget plan: every input rides the two stable cuts — the
    // corpus parquet scan must NOT reappear downstream of them (the r17
    // form re-scanned + re-tokenized documents for the verify sets)
    val guarded = Similarity.allPairsJaccard(d, 0.5,
      maxCandidatePairs = Long.MaxValue - 1)
    val p = guarded.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      s"budget-given plan re-scans the corpus:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2,
      s"expected both stable cuts in the plan:\n$p")
    // and the result is row-identical to the default (ungoverned) plan
    val expect = Similarity.allPairsJaccard(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = guarded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect && got.nonEmpty)
    // refusal hygiene (r17 ADVICE #3): a CandidateMassExceeded must not
    // pin its abandoned cuts — the persistent-RDD set is unchanged
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[graft.ops.CandidateMassExceeded] {
      Similarity.allPairsJaccard(d, 0.5, maxCandidatePairs = 0L)
    }
    intercept[graft.ops.CandidateMassExceeded] {
      Similarity.allPairsCosine(d, 0.85, maxCandidatePairs = 0L)
    }
    intercept[graft.ops.CandidateMassExceeded] {
      val emb = graft.io.Tables.embeddings(spark, sf)
      graft.ops.Ivf.semanticDedup(emb, graft.ops.Ivf.semanticAssign(emb, 8),
        0.95, maxPairs = 0L)
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"refusals left resident blocks: ${(after -- before).toSeq.sorted}")
  }

  test("governed router: exact arm when mass clears, banded COMPLETION when it doesn't, estimate attached either way") {
    val sf = "/root/testdata/sf0.001"
    val d = graft.io.Tables.documents(spark, sf)
    // measure the true mass once so both arms can be forced
    val mass = intercept[graft.ops.CandidateMassExceeded] {
      Similarity.allPairsJaccard(d, 0.5, maxCandidatePairs = 0L)
    }.estimatedPairs
    assert(mass > 1L)

    // --- Jaccard, exact arm: the governed result IS allPairsJaccard
    val exact = Similarity.allPairsJaccard(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gEx = Similarity.neardupGoverned(d, 0.5, maxCandidatePairs = mass)
    assert(gEx.method == "exact" && gEx.estimatedPairs == mass)
    assert(gEx.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == exact && exact.nonEmpty)

    // --- Jaccard, banded arm: an over-budget corpus COMPLETES via the
    // LSH fallback (no CandidateMassExceeded), precision 1 vs the exact
    // set, the planted near-dup family still found, estimate attached
    val gB = Similarity.neardupGoverned(d, 0.5,
      maxCandidatePairs = mass - 1)
    assert(gB.method == "banded" && gB.estimatedPairs == mass)
    val banded = gB.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.nonEmpty && banded.subsetOf(exact),
      s"banded arm emitted non-exact pairs: ${(banded -- exact).take(3)}")
    // the flattened face carries the decision as lineage columns
    val row = Similarity.neardupGoverned(d, 0.5, maxCandidatePairs = mass - 1)
      .frame.select($"method", $"estimated_pairs").head()
    assert(row.getString(0) == "banded" && row.getLong(1) == mass)

    // --- Cosine twin: same contract; banded pairs verified by the SAME
    // exact scorer ⇒ every banded (pair, dot) appears in the exact set
    val db = d.filter($"doc_id" < 300)
    val cMass = intercept[graft.ops.CandidateMassExceeded] {
      Similarity.allPairsCosine(db, 0.85, maxCandidatePairs = 0L)
    }.estimatedPairs
    val cExact = Similarity.allPairsCosine(db, 0.85).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cgEx = Similarity.cosineGoverned(db, 0.85,
      maxCandidatePairs = cMass)
    assert(cgEx.method == "exact" && cgEx.estimatedPairs == cMass)
    assert(cgEx.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == cExact)
    val cgB = Similarity.cosineGoverned(db, 0.85,
      maxCandidatePairs = cMass - 1)
    assert(cgB.method == "banded" && cgB.estimatedPairs == cMass)
    val cBanded = cgB.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cBanded.subsetOf(cExact),
      s"banded cosine emitted non-exact rows: ${(cBanded -- cExact).take(3)}")
  }

  test("governed incremental: per-batch measure-then-route against the persisted index, both arms honor the larger-id-is-new contract") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.documents(spark, sf)
    val split = docs.agg(max($"doc_id")).head().getLong(0) * 8 / 10
    val base = docs.filter($"doc_id" < split)
    val batch = docs.filter($"doc_id" >= split)
    val idxDir = ScratchDirs.create("gov_idx").toString
    Similarity.writeNearDupIndex(base, idxDir)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairSet(Similarity.minhashNearDupIncremental(batch, idxDir))
    assert(banded.nonEmpty)
    // exact arm: a clearing budget routes exact; at t=0.3/k=32 the
    // banded probe's recall is ~1, so the two arms agree on this corpus
    val gEx = Similarity.neardupGovernedIncremental(batch, idxDir,
      0.3, maxCandidatePairs = Long.MaxValue - 1)
    assert(gEx.method == "exact" && gEx.estimatedPairs > 0L)
    val exact = pairSet(gEx.pairs)
    assert(exact == banded,
      s"arms disagree: exact-only ${(exact -- banded).take(3)}, banded-only ${(banded -- exact).take(3)}")
    // every emitted pair's LARGER id is from the batch (both arms)
    assert(exact.forall(_._2 >= split))
    // over-budget batch routes banded, estimate attached, same pairs
    val gB = Similarity.neardupGovernedIncremental(batch, idxDir,
      0.3, maxCandidatePairs = gEx.estimatedPairs - 1)
    assert(gB.method == "banded" && gB.estimatedPairs == gEx.estimatedPairs)
    assert(pairSet(gB.pairs) == banded)
    // lineage columns on the flattened face
    val row = Similarity.neardupGovernedIncremental(batch, idxDir, 0.3,
      maxCandidatePairs = gEx.estimatedPairs - 1)
      .frame.select($"method", $"estimated_pairs").head()
    assert(row.getString(0) == "banded" && row.getLong(1) == gEx.estimatedPairs)
  }
}
