package graft

import java.nio.file.{Files, Paths}

import graft.SparkEntry.{Artifact, scratchDir}
import graft.io.{ScratchDirs, Tables}

/** The declared scratch-artifact table behind [[SparkEntry.queries]]:
  * upstream builds, failed builds, and nested builds whose cache keys
  * share a hash bin.
  */
class ScratchSpec extends SparkSpec {

  /** ConcurrentHashMap's bin hash of a key (the low bits pick the bin). */
  private def spread(key: String): Int = {
    val h = key.hashCode
    (h ^ (h >>> 16)) & 0x7fffffff
  }

  private def liveDirs(kind: String): Seq[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.toArray.map(_.toString).filter(_.contains(s"/graft_${kind}_")).toSeq
    finally ls.close()
  }

  private def shutdownHooks(): Int = {
    val f = Class.forName("java.lang.ApplicationShutdownHooks")
      .getDeclaredField("hooks")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.Map[_, _]].size
  }

  test("a consumer called first builds its declared upstream, each once, even when their keys share every hash bit") {
    // "Aa" and "BB" have equal String hashes, so the two keys land in the
    // same bin at every table size: a build nested in a map update of its
    // own key's bin would throw "Recursive update"
    val d = s"spec-${System.nanoTime()}"
    assert(s"spec_Aa|$d".hashCode == s"spec_BB|$d".hashCode)
    var builds = Map.empty[String, Int]
    def count(kind: String): Unit = builds += kind -> (builds.getOrElse(kind, 0) + 1)
    val up = Artifact("spec_Aa") { (in, _) =>
      count("up")
      Some(in.s.range(6).toDF("id"))
    }
    val down = Artifact("spec_BB", Seq(up)) { (in, _) =>
      count("down")
      Some(in.read(up).filter("id % 2 = 0"))
    }
    val dir = scratchDir(down, spark, d)
    assert(spark.read.parquet(dir).count() == 3)
    assert(scratchDir(down, spark, d) == dir)
    assert(spark.read.parquet(scratchDir(up, spark, d)).count() == 6)
    assert(builds == Map("up" -> 1, "down" -> 1))
  }

  test("a build that throws leaves no entry, no dir and no shutdown hook; the next call rebuilds") {
    // the JVM's one exit hook exists before the counts are taken
    ScratchDirs.remove(ScratchDirs.create("spec_warm"))
    val hooks = shutdownHooks()
    val d = s"spec-${System.nanoTime()}"
    var attempts = 0
    val flaky = Artifact("spec_flaky", fanOut = Some("id")) { (in, _) =>
      attempts += 1
      attempts match {
        case 1 => throw new IllegalStateException("build failed")
        case 2 => Some(in.s.range(3).selectExpr("id",
          "IF(id = 2, CAST(raise_error('write failed') AS BIGINT), id) AS x"))
        case _ => Some(in.s.range(3).toDF("id"))
      }
    }
    intercept[IllegalStateException](scratchDir(flaky, spark, d))
    assert(liveDirs("spec_flaky").isEmpty && shutdownHooks() == hooks)
    intercept[Exception](scratchDir(flaky, spark, d))
    assert(liveDirs("spec_flaky").isEmpty && shutdownHooks() == hooks)
    val dir = scratchDir(flaky, spark, d)
    assert(attempts == 3 && spark.read.parquet(dir).count() == 3)
    assert(liveDirs("spec_flaky").size == 1 && shutdownHooks() == hooks)
    assert(scratchDir(flaky, spark, d) == dir && attempts == 3)
  }

  test("nested artifact builds through a data-dir alias whose outer and inner keys share a bin: dedup_clusters_lsh and dedup_clusters") {
    val sf = "/root/testdata/sf0.001"
    // `n(i)` "/." segments after the i-th component of the fixture path
    def alias(n: Int*) = sf.split("/").tail.zip(n)
      .map { case (part, k) => s"/$part" + "/." * k }.mkString
    // each alias puts the outer artifact's key and its upstream's key in
    // one bin of every table up to 2^12 bins — far beyond what this
    // session's cache holds
    val cases = Seq(
      ("dedup_clusters_lsh", alias(11, 18, 1), "minhash_pairs", "minhash_hashes"),
      ("dedup_clusters", alias(4, 18, 10), "ngram_cc_labels", "ngram_pairs"))
    cases.foreach { case (query, d, outer, inner) =>
      assert(((spread(s"$outer|$d") ^ spread(s"$inner|$d")) & 0xfff) == 0)
      def rows(dir: String) = SparkEntry.queries(query)(spark, dir).collect()
        .map(_.toString).sorted.toSeq
      val got = rows(d)
      assert(got.nonEmpty && got == rows(sf), query)
    }
  }

  test("resetScratch leaves no cached schema for a dir it removes") {
    val sf = "/root/testdata/sf0.001"
    // exact_quantiles reads its bounds artifact; dedup_clusters reads its
    // labels artifact, whose build reads its upstream pair list
    Seq("exact_quantiles", "dedup_clusters").foreach(q =>
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q))
    val kinds = Seq("bounds_li_price", "ngram_cc_labels", "ngram_pairs")
    def cached = Tables.schemaPaths.map(new org.apache.hadoop.fs.Path(_).toUri.getPath)
      .filter(p => kinds.exists(k => p.contains(s"/graft_${k}_")))
    val before = cached
    kinds.foreach(k => assert(before.exists(_.contains(s"/graft_${k}_")), k))
    SparkEntry.resetScratch()
    assert(before.forall(p => !Files.exists(Paths.get(p))))
    assert(cached.isEmpty)
  }
}
