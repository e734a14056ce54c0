package graft

import org.apache.spark.sql.functions.sum

import graft.io.ScratchDirs
import graft.ops.TextAnalysis

/** Repetition-signal contracts: hand-computed duplicate fractions on
  * degenerate (fully repeated) and clean texts.
  */
class TextAnalysisSpec extends SparkSpec {

  test("dedupSpans: repeated spans dropped everywhere, docs reassemble in order") {
    import spark.implicits._
    // span width 3: "a b c" repeats in docs 1 and 2 (dropped from both,
    // wherever it sits); unique spans and the natural-length tail stay
    val docs = Seq(
      (1L, "a b c x y z tail1"),        // spans: [a b c][x y z][tail1]
      (2L, "p q r a b c only"),         // spans: [p q r][a b c][only]
      (3L, "solo words here just four") // spans: [solo words here][just four]
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.dedupSpans(docs, 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("x y z tail1", 3, 1)))
    assert(out(2L) == (("p q r only", 3, 1)))
    assert(out(3L) == (("solo words here just four", 2, 0)))
    // a fully-boilerplate doc collapses to the empty string, not null
    val all = Seq((1L, "dup dup"), (2L, "dup dup")).toDF("doc_id", "text")
    val gone = graft.ops.TextAnalysis.dedupSpans(all, 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gone == Map(1L -> "", 2L -> ""))
  }
  import spark.implicits._

  test("hashFeatures: unigram+bigram buckets equal a sequential hash, mass conserved") {
    val docs = Seq((0L, "a b a"), (1L, "x")).toDF("doc_id", "text")
    val dim = 8
    val got = graft.ops.TextAnalysis.hashFeatures(docs, dim).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(g: String): Long = {
      val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % dim
    }
    // doc 0: unigrams a,b,a + bigrams "a b","b a"; doc 1: unigram x only
    val want = Seq(0L -> Seq("a", "b", "a", "a b", "b a"), 1L -> Seq("x"))
      .flatMap { case (id, gs) => gs.map(g => (id, bucket(g))) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
    // feature mass = unigram + bigram count (2n - 1 per doc)
    assert(got.collect { case ((0L, _), tf) => tf }.sum == 5L)
    assert(got.collect { case ((1L, _), tf) => tf }.sum == 1L)
  }

  test("cmsProfile: equals a sequential CMS reimplementation; overestimate one-sided; absent term counts zero") {
    val docs = Seq(
      (0L, "a a a b c"),
      (1L, "a b b d e f"),
      (2L, "c c g h a")
    ).toDF("doc_id", "text")
    val probe = Seq("a", "b", "c", "zz")
    val d = 3; val w = 4 // tiny width forces collisions
    val got = graft.ops.TextAnalysis.cmsProfile(docs, probe, d, w).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // sequential reimplementation with the same md5 bucket arithmetic
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String, j: Int): Long = {
      val hex = md.digest(s"$j:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % w
    }
    val tokens = Seq("a a a b c", "a b b d e f", "c c g h a")
      .flatMap(_.split(" "))
    val counters = (for { t <- tokens; j <- 0 until d }
      yield (j, bucket(t, j))).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val exact = tokens.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    probe.foreach { term =>
      val est = (0 until d).map(j => counters.getOrElse((j, bucket(term, j)), 0L)).min
      val ex = exact.getOrElse(term, 0L)
      assert(got(term) == ((ex, est, est - ex)), s"term=$term")
      assert(est >= ex) // the CMS one-sided guarantee
    }
    assert(got("zz")._1 == 0L)
  }

  test("cmsProfileX: exact counts equal the md5 twin's; estimates keep the one-sided sketch guarantee") {
    val docs = Seq(
      (0L, "a a a b c"),
      (1L, "a b b d e f"),
      (2L, "c c g h a")
    ).toDF("doc_id", "text")
    val probe = Seq("a", "b", "c", "zz")
    val slow = graft.ops.TextAnalysis.cmsProfile(docs, probe, 3, 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fast = graft.ops.TextAnalysis.cmsProfileX(docs, probe, 3, 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // exact_count is hash-family-independent: must match the md5 twin
    assert(fast.view.mapValues(_._1).toMap == slow)
    // one-sided estimate and consistent overestimate column
    fast.values.foreach { case (ex, est, over) =>
      assert(est >= ex && over == est - ex)
    }
    // wide sketch: no collisions possible at w >> vocab -> estimate exact
    val wide = graft.ops.TextAnalysis.cmsProfileX(docs, probe, 3, 65536).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    wide.foreach { case (t, (ex, est)) =>
      assert(est == ex, s"term=$t estimate $est != exact $ex at collision-free width")
    }
  }

  test("substringDedup: cross-doc windows flagged at any alignment, coverage unions overlaps, within-doc repeats don't count") {
    val docs = Seq(
      (1L, "a b c d e f"),             // shares "a b c","b c d" with doc 2
      (2L, "x y a b c d z"),           // ...at a different alignment
      (3L, "m n o m n o m n o"),       // repeats only WITHIN itself
      (4L, "q r")                      // < k tokens: excluded
    ).toDF("doc_id", "text")
    val starts = graft.ops.TextAnalysis.dupStarts(docs, 3)
    val rows = graft.ops.TextAnalysis.substringDedup(docs, starts, 3).collect()
    val out = rows
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    // doc 1: dup starts {1,2} -> covered = 3 + 1 = 4 of 6 tokens
    assert(out(1L) == ((6, 4, 2, 4, 4.0 / 6)))
    // doc 2: same two windows at starts {3,4} -> covered 4 of 7
    assert(out(2L) == ((7, 5, 2, 4, 4.0 / 7)))
    // doc 3: "m n o" occurs 3x but in ONE doc -> nothing flagged
    assert(out(3L) == ((9, 7, 0, 0, 0.0)))
    assert(!out.contains(4L))
    // the persisted artifact the registered queries read gives the same
    // profile, and its k stamp refuses a reader at another k
    val dir = ScratchDirs.create("dup_starts")
      .toString + "/starts"
    starts.write.parquet(dir)
    val persisted = graft.ops.TextAnalysis.readDupStarts(spark, dir, 3)
    assert(graft.ops.TextAnalysis.substringDedup(docs, persisted, 3).collect()
      .toSet == rows.toSet)
    intercept[IllegalArgumentException](
      graft.ops.TextAnalysis.readDupStarts(spark, dir, 4))

    // the removal step on the same corpus: covered positions drop,
    // survivors reassemble in order, untouched docs pass through
    val applied = graft.ops.TextAnalysis.substringDedupApply(docs, starts, 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(applied(1L) == (("e f", 6, 4)))
    assert(applied(2L) == (("x y z", 7, 4)))
    assert(applied(3L) == (("m n o m n o m n o", 9, 0)))
    assert(!applied.contains(4L))
  }

  test("crossDocDupStartsRouted: hot branch (salted groups + sample-proven verdict) emits exactly the window verdict's rows") {
    // every doc opens with the same 3-token boilerplate (the hot key),
    // plus one planted cross-doc pair and within-doc-only repetition;
    // sampleFrac=1.0 / hotMin=2 force the hot branch at spec scale
    val docs = (0L until 40L).map { i =>
      val tail = if (i == 7L || i == 11L) "p q r s" else s"u$i v$i w$i"
      (i, s"hb1 hb2 hb3 $tail")
    }.toDF("doc_id", "text")
    val base = docs.withColumn("w",
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " "))
    val routed = graft.ops.TextAnalysis
      .crossDocDupStartsRouted(base, 3, sampleFrac = 1.0, hotMin = 2L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // reference: the plain window verdict over the same frame
    val expected = graft.ops.TextAnalysis
      .substringDedup(docs, graft.ops.TextAnalysis.dupStarts(docs, 3), 3)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // boilerplate window (s=1) duplicated in every doc; docs 7/11 share
    // their full tails too
    assert(routed.count(_._2 == 1) == 40)
    val routedPerDoc = routed.groupBy(_._1).view.mapValues(_.size).toMap
    assert(routedPerDoc.keySet == (0L until 40L).toSet)
    (0L until 40L).foreach { d =>
      assert(routedPerDoc(d) == expected(d),
        s"doc $d: routed ${routedPerDoc(d)} != window ${expected(d)}")
    }
    assert(routedPerDoc(7L) > routedPerDoc(8L)) // planted pair has extra dups
  }

  test("substringDedupIncremental: batch windows flag against the persisted artifact and within-batch, corpus never re-read") {
    val dir = ScratchDirs.create("winh").toString + "/h"
    val corpus = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    graft.ops.TextAnalysis.writeWindowHashes(corpus, dir, 3)
    val batch = Seq(
      (1L, "z z a b c z"),   // "a b c" hits the corpus artifact at s=3
      (2L, "p q r s"),       // clean
      (4L, "x y w q"),       // shares "x y w" with doc 5 (within-batch)
      (5L, "t x y w")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.substringDedupIncremental(batch, dir, 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L) == ((6, 1, 3))) // corpus hit covers tokens 3..5
    assert(out(2L) == ((4, 0, 0)))
    assert(out(4L) == ((4, 1, 3))) // batch dup at s=1
    assert(out(5L) == ((4, 1, 3))) // batch dup at s=2
  }

  test("repetitionScore: hand-computed fractions for spammy vs clean text") {
    val docs = Seq(
      (0L, "spam spam spam spam", "en", "s", 19L), // 4 toks / 1 uniq; 2 ngrams / 1 uniq
      (1L, "one two three four five", "en", "s", 23L), // all distinct
      (2L, "ab cd", "en", "s", 5L) // < 3 tokens: dropped (no 3-gram exists)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.repetitionScore(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L) == ((4, 0.75, 2, 0.5)))
    assert(out(1L) == ((5, 0.0, 3, 0.0)))
  }

  test("bm25: matches a sequential reimplementation; rarer terms weigh more") {
    val docs = Seq(
      (0L, "spark runs fast spark wins", "en", "s", 0L), // spark x2
      (1L, "hash join hash agg hash", "en", "s", 0L), // hash x3
      (2L, "window frame spark window", "en", "s", 0L), // window x2, spark x1
      (3L, "plain prose only here", "en", "s", 0L), // no query term -> absent
      (4L, "spark", "en", "s", 0L) // shortest doc, spark x1
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val terms = Seq("spark", "hash", "window")
    val out = TextAnalysis.bm25(docs, terms).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    // sequential oracle with the same constant composition
    val texts = Map(0L -> "spark runs fast spark wins",
      1L -> "hash join hash agg hash",
      2L -> "window frame spark window", 3L -> "plain prose only here",
      4L -> "spark")
    val tokss = texts.view.mapValues(_.split(" ").toSeq).toMap
    val n = texts.size.toDouble
    val avgdl = tokss.values.map(_.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> tokss.values.count(_.contains(t)).toDouble).toMap
    val (k1, b) = (1.2, 0.75)
    def score(id: Long): (Long, Double) = {
      val tf = terms.map(t => tokss(id).count(_ == t).toLong)
      val dl = tokss(id).length.toDouble
      val s = terms.zip(tf).map { case (t, f) =>
        (n - df(t) + 0.5) / (df(t) + 0.5) * (f.toDouble * (k1 + 1.0)) /
          (f.toDouble + k1 * ((1.0 - b) + b * dl / avgdl))
      }.reduceLeft(_ + _)
      (tf.sum, s)
    }
    assert(out.keySet == Set(0L, 1L, 2L, 4L))
    out.keySet.foreach(id => assert(out(id) == score(id), s"doc $id"))
    // length-normalization sanity: the 1-token doc whose ONLY token is a
    // hit outscores the 5-token doc with two hits — tf saturates (k1)
    // while the short doc's length term shrinks its denominator
    assert(out(4L)._2 > out(0L)._2 && out(0L)._2 > 0.0)
  }

  test("ngramDiversity: hand-computed distinct/total; short docs excluded; all-unique lang hits ttr 1.0") {
    import spark.implicits._
    val docs = Seq(
      // lang en: "a b c d" → [a b c][b c d]; "a b c x" → [a b c][b c x]
      // distinct = {a b c, b c d, b c x} = 3, total = 4
      (1L, "a b c d", "en"),
      (2L, "a b c x", "en"),
      (3L, "too short", "en"),            // < 3 tokens: no shingles
      // lang fr: one doc, all shingles unique → ttr exactly 1.0
      (4L, "u v w x y", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ngramDiversity(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("en") == ((3L, 4L, 0.75)))
    assert(out("fr") == ((3L, 3L, 1.0)))
    assert(out.size == 2)
  }

  test("distinctiveTerms: hand-computed keyness; exclusive terms beat shared ones") {
    // corpus: en = "apple apple banana" (nl=3), fr = "banana cherry"
    // (nl=2), totals apple=2 banana=2 cherry=1, N=5
    //   en apple:  (2/3) / ((2-2+1)/(5-3+1)) = (2/3)/(1/3) = 2.0
    //   en banana: (1/3) / ((2-1+1)/3)       = 0.5
    //   fr cherry: (1/2) / ((1-1+1)/4)       = 2.0
    //   fr banana: (1/2) / ((2-1+1)/4)       = 1.0
    val docs = Seq(
      (1L, "apple apple banana", "en"),
      (2L, "banana cherry", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.distinctiveTerms(docs, 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getDouble(3))))
      .toMap
    assert(out(("en", 1)) == (("apple", 2.0)))
    assert(out(("en", 2)) == (("banana", 0.5)))
    assert(out(("fr", 1)) == (("cherry", 2.0)))
    assert(out(("fr", 2)) == (("banana", 1.0)))
    assert(out.size == 4)
  }

  test("chunkOverlap: hand-computed windows, natural tail, no fully-contained chunk") {
    // doc 1: 10 tokens, width 8, overlap 4, stride 4 → starts 0, 4
    //   (start 8 would add nothing: coverage stops at n - overlap = 6)
    // doc 2: 3 tokens < width → one natural chunk
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "a b c")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkOverlap(docs, 8, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3))))
      .toMap
    assert(out.size == 3)
    assert(out((1L, 0)) == ((8, "t0 t1 t2 t3 t4 t5 t6 t7")))
    assert(out((1L, 1)) == ((6, "t4 t5 t6 t7 t8 t9")))
    assert(out((2L, 0)) == ((3, "a b c")))
    // every token is covered by some chunk (no gaps at any length)
    for (n <- 1 to 30) {
      val doc = Seq((9L, (0 until n).map(i => s"x$i").mkString(" ")))
        .toDF("doc_id", "text")
      val chunks = TextAnalysis.chunkOverlap(doc, 8, 4).collect()
        .map(_.getString(3)).flatMap(_.split(" ")).toSet
      assert(chunks == (0 until n).map(i => s"x$i").toSet, s"n=$n")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkOverlap(docs, 8, 8)
    }
  }

  test("unigramLogProb: hand-computed bits against the corpus unigram distribution") {
    // corpus: a×2, b×2, c×1 → N=5; p(a)=p(b)=0.4, p(c)=0.2
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val bits = (p: Double) => -math.log(p) / math.log(2.0)
    // doc 1: three tokens each at p=0.4; doc 2: one at 0.4, one at 0.2
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - bits(0.4)) < 1e-12)
    assert(math.abs(out(2L)._2 - (bits(0.4) + bits(0.2)) / 2.0) < 1e-12)
    // rare-token soup scores strictly higher than common-token text
    assert(out(2L)._2 > out(1L)._2)
  }

  test("klDrift: identical slices diverge zero; a skewed slice diverges positive") {
    // two sources with the SAME distribution → KL = 0 for both
    val same = Seq((1L, "a b", "s1"), (2L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    TextAnalysis.klDrift(same).collect()
      .foreach(r => assert(math.abs(r.getDouble(2)) < 1e-12, r.toString))
    // s2 is pure-c while the corpus is mostly a/b → strictly positive KL,
    // and larger than the majority slice's
    val skew = Seq((1L, "a b a b", "s1"), (2L, "a b a b", "s1"), (3L, "c c", "s2"))
      .toDF("doc_id", "text", "source")
    val kl = TextAnalysis.klDrift(skew).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl("s2") > kl("s1") && kl("s2") > 1.0) // -log2 p(c)=log2(10/2)≈2.32
    // hand check: KL(s2‖corpus) = 1·log2(1 / (2/10)) = log2 5
    assert(math.abs(kl("s2") - math.log(5.0) / math.log(2.0)) < 1e-12)
  }

  test("qualityTiers: tiers partition the corpus on exact quartile cuts; chars conserved") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0 until 200).map { i =>
      val words = (0 until 10 + rnd.nextInt(90)).map(_ => s"w${rnd.nextInt(50)}")
      (i.toLong, words.mkString(" "), if (i % 3 == 0) "en" else "de",
        words.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val out = TextAnalysis.qualityTiers(docs).collect()
    // every (lang, tier) group non-empty is not guaranteed, but the
    // partition must be exhaustive and exclusive: doc and char totals
    // are conserved across tiers
    assert(out.map(_.getAs[Long]("n_docs")).sum == 200L)
    val totalChars = docs.select(sum($"n_chars")).as[Long].head()
    assert(out.map(_.getAs[Long]("sum_chars")).sum == totalChars)
    // quartiles of 200 docs: tier populations are 50 ± interpolation ties
    val byTier = out.groupBy(_.getAs[String]("tier"))
      .map { case (t, rows) => t -> rows.map(_.getAs[Long]("n_docs")).sum }
    assert(byTier.keySet == Set("t1", "t2", "t3", "t4"), byTier.toString)
    byTier.values.foreach(n => assert(n >= 40 && n <= 60, byTier.toString))
    // monotone: higher tiers have higher mean quality
    val meanByTier = out.groupBy(_.getAs[String]("tier")).map { case (t, rows) =>
      t -> rows.map(r => r.getAs[Double]("avg_quality") * r.getAs[Long]("n_docs")).sum /
        rows.map(_.getAs[Long]("n_docs")).sum
    }
    assert(meanByTier("t1") < meanByTier("t2") &&
      meanByTier("t2") < meanByTier("t3") &&
      meanByTier("t3") < meanByTier("t4"), meanByTier.toString)
  }

  test("postings: df counts distinct docs; sample is the k smallest doc ids, partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (5L, "b a a"), (2L, "a c"), (9L, "a b")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.postings(docs, k = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(out("a") == ((3L, Seq(2L, 5L)))) // df 3; two smallest of {5,2,9}
    assert(out("b") == ((2L, Seq(5L, 9L))))
    assert(out("c") == ((1L, Seq(2L))))
    // min-k is order-independent: any partitioning folds to the same rows
    val shuffled = TextAnalysis.postings(docs.repartition(7), k = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(shuffled == out)
  }

  test("salientTerms: rational tf-idf ranks rare-but-frequent terms first, ties on term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common common"),
      (3L, "cherry common")
    ).toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 1, common 3
    val out = TextAnalysis.salientTerms(docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // d1: apple 2·4/2=4.0 > banana 1·4/3 > common 1·4/4=1.0
    assert(out((1L, 1)) == (("apple", 2L, 1L, 4.0)))
    assert(out((1L, 2))._1 == "banana" && approx(out((1L, 2))._4, 4.0 / 3))
    assert(out((1L, 3)) == (("common", 1L, 3L, 1.0)))
    // d2: common tf=2 (2.0) outranks banana (4/3) despite higher df
    assert(out((2L, 1))._1 == "common" && out((2L, 1))._4 == 2.0)
    assert(out((2L, 2))._1 == "banana")
    // d3: cherry 2.0, then common
    assert(out((3L, 1)) == (("cherry", 1L, 1L, 2.0)))
    assert(out((3L, 2))._1 == "common")
  }

  test("classifierScore: sparse dot matches a JVM-side replay of the md5 weight model; score bounded") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(g: String): Long = java.lang.Long.parseLong(md5hex(g).take(15), 16) % 64
    def wq(b: Long): Long = java.lang.Long.parseLong(md5hex("w:" + b).take(15), 16) % 2001 - 1000
    def expected(text: String): (Long, Long) = {
      val toks = text.toLowerCase.split(" ").toSeq
      val grams = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val byBucket = grams.groupBy(bucket).map { case (b, g) => (b, g.size.toLong) }
      (grams.size.toLong, byBucket.map { case (b, tf) => tf * wq(b) }.sum)
    }
    val texts = Seq((0L, "x y"), (1L, "alpha beta gamma alpha"), (2L, "solo"))
    val out = graft.ops.TextAnalysis.classifierScore(texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    texts.foreach { case (id, t) =>
      val (n, sq) = expected(t)
      assert(out(id)._1 == n, s"doc $id n_terms")
      assert(out(id)._2 == sq, s"doc $id score_q")
      assert(out(id)._3 == sq.toDouble / (1000.0 * n), s"doc $id score")
      assert(math.abs(out(id)._3) <= 1.0)
    }
  }

  test("dataCard: per-source volume, planted dup, and hand-computed language entropy") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat sat", "en", "a"),
      (1L, "the cat sat", "en", "a"), // exact dup of doc 0 within source a
      (2L, "der hund", "de", "a"),
      (3L, "une seule langue ici", "fr", "b")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.ops.Pipeline.dataCard(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(6)))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    // source a: 3 docs (one dup), 3+3+2=8 tokens, langs {en:2, de:1}
    val entA = (2.0 / 3.0) * (log2(3.0) - log2(2.0)) + (1.0 / 3.0) * (log2(3.0) - log2(1.0))
    assert(out("a")._1 == 3L)
    assert(out("a")._2 == 8L)
    assert(out("a")._3 == ("the cat sat".length * 2 + "der hund".length).toLong)
    assert(out("a")._4 == 1L, "one planted exact dup")
    assert(math.abs(out("a")._5 - entA) < 1e-12)
    // source b: single doc, single lang → zero dups, zero entropy
    assert(out("b")._1 == 1L && out("b")._4 == 0L)
    assert(out("b")._5 == 0.0)
  }

  test("data_card: bit-identical rows at shuffle partitions 1 and 7 and with AQE off") {
    // mean_quality and lang_entropy are double sums; their last bits must
    // not follow the order the shuffle delivers the rows in
    def card(conf: (String, String)*): Seq[String] = {
      val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try SparkEntry.queries("data_card")(spark, "/root/testdata/sf0.001")
        .collect().map(_.toString).sorted.toSeq
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val base = card()
    assert(base.nonEmpty)
    assert(card("spark.sql.shuffle.partitions" -> "1") == base)
    assert(card("spark.sql.shuffle.partitions" -> "7") == base)
    assert(card("spark.sql.adaptive.enabled" -> "false") == base)
  }

  test("featureEmbed: exact JVM replay of the md5-signed projection; parity bound per component") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(g: String): Long = java.lang.Long.parseLong(md5hex(g).take(15), 16) % 64
    def sign(j: Int, b: Long): Long =
      if (java.lang.Long.parseLong(md5hex(s"p:$j:$b").take(15), 16) % 2 == 0) 1L else -1L
    val texts = Seq((0L, "alpha beta gamma alpha"), (1L, "x y"), (2L, "solo"))
    val out = graft.ops.TextAnalysis.featureEmbed(texts.toDF("doc_id", "text"), 64, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, text) =>
      val t = text.toLowerCase.split(" ").toSeq
      val grams = t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val tf = grams.groupBy(bucket).view.mapValues(_.size.toLong).toMap
      val exp = (0 until 16).map(j => tf.map { case (b, c) => c * sign(j, b) }.sum)
      assert(out(id) == exp, s"doc $id")
      // each component is a ±1-weighted sum of n features
      out(id).foreach(v => assert(math.abs(v) <= grams.size))
    }
  }

  test("bigramLogProb: hand-computed mixture bits; reordering raises bigram bits but not unigram bits") {
    import spark.implicits._
    // corpus: "a b" ×3 and one "b a" — c(a,b)=3, c(b,a)=1, c1(a)=3,
    // c1(b)=1, cnt(a)=cnt(b)=4, N=8
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "b a"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val abBits = -log2(0.75 * (3.0 / 3.0) + 0.25 * (4.0 / 8.0)) // t=b
    val baBits = -log2(0.75 * (1.0 / 1.0) + 0.25 * (4.0 / 8.0)) // t=a
    assert(out(0L)._1 == 1L)
    assert(math.abs(out(0L)._2 - abBits) < 1e-12)
    assert(math.abs(out(3L)._2 - baBits) < 1e-12)
    // the fluency property: in a corpus dominated by "a b b", the doc
    // "a b b" must score strictly fewer bits/bigram than the reordered
    // "b a b" — same unigram multiset, but (b,a) is a rare transition
    // (an alternating two-word fixture would NOT work: every context
    // would have a single successor and all conditionals collapse to 1)
    val corpus = (0L until 20L).map(i => (i, "a b b")) ++
      Seq((100L, "b a b"))
    val o2 = graft.ops.TextAnalysis.bigramLogProb(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(o2(0L) < o2(100L),
      s"in-order ${o2(0L)} must beat reordered ${o2(100L)}")
    val u = graft.ops.TextAnalysis.unigramLogProb(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(u(0L) - u(100L)) < 1e-12,
      "unigram bits are permutation-invariant on the same multiset")
  }

  test("dsirWeights: target-vocabulary docs outrank off-target ones; JVM replay within 1e-9") {
    import spark.implicits._
    // target slice speaks {alpha, beta}; the bulk speaks {delta, epsilon};
    // two probe docs in the bulk use one vocabulary each — the
    // target-speaking probe must carry the strictly higher weight
    val docs = Seq(
      (0L, "alpha beta alpha beta", "tgt"),
      (1L, "alpha beta beta alpha", "tgt"),
      (2L, "delta epsilon delta epsilon", "web"),
      (3L, "epsilon delta epsilon delta", "web"),
      (10L, "alpha beta", "web"),
      (11L, "delta epsilon", "web")
    ).toDF("doc_id", "text", "source")
    val out = graft.ops.TextAnalysis.dsirWeights(docs, "tgt", 64)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(10L)._2 > out(11L)._2,
      s"target-vocab probe ${out(10L)} must outrank off-target ${out(11L)}")

    // replay: same md5 buckets, add-1 bucket distributions, log2 ratios
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(g: String): Long = java.lang.Long.parseLong(md5hex(g).take(15), 16) % 64
    def grams(text: String): Seq[Long] = {
      val t = text.toLowerCase.split(" ").toSeq
      (t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))).map(bucket)
    }
    val rows = Seq(
      (0L, "alpha beta alpha beta", true), (1L, "alpha beta beta alpha", true),
      (2L, "delta epsilon delta epsilon", false), (3L, "epsilon delta epsilon delta", false),
      (10L, "alpha beta", false), (11L, "delta epsilon", false))
    val qc = rows.flatMap(r => grams(r._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pc = rows.filter(_._3).flatMap(r => grams(r._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val qN = qc.values.sum; val pN = pc.values.sum
    def log2(x: Double) = math.log(x) / math.log(2.0)
    rows.foreach { case (id, text, _) =>
      val g = grams(text)
      val exp = g.map(b => log2(pc.getOrElse(b, 0L) + 1.0) - log2(qc(b) + 1.0)).sum +
        g.size * (log2(qN + 64.0) - log2(pN + 64.0))
      assert(out(id)._1 == g.size.toLong, s"doc $id n_feats")
      assert(math.abs(out(id)._2 - exp) < 1e-9, s"doc $id log_w ${out(id)._2} vs $exp")
    }
  }
}
