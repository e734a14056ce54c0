package graft

import graft.io.ScratchDirs
import graft.ops.Clustering

/** Connected components: transitive closure, not just pair grouping. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chains close transitively, islands stay apart") {
    // component {1,2,3,4} as a chain (diameter 3 — forces >1 round),
    // component {10,11,12} as a triangle, component {20,21} as one edge
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (21L, 20L)
    ).toDF("doc_a", "doc_b")
    val comp = Clustering.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: long chain converges (not diameter-bound)") {
    // a 30-node path: worst case for min-label propagation — the label
    // must walk the whole chain; proves the loop really iterates to
    // fixpoint rather than stopping after a fixed round count
    val edges = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Clustering.connectedComponents(edges, "doc_a", "doc_b").collect()
    assert(comp.length == 30)
    assert(comp.forall(_.getLong(1) == 0L))
  }

  test("connectedComponents: adversarial 10k-node chain converges in O(log n) rounds") {
    // the scale-killer case for diameter-round propagation: a single
    // 10,000-node path has diameter 9,999. Large-star/small-star must
    // close it in logarithmic rounds — the whole point of the upgrade.
    val n = 10000L
    val edges = spark.range(n - 1).selectExpr("id as doc_a", "id + 1 as doc_b")
    val (comp, rounds) =
      Clustering.connectedComponentsWithRounds(edges, "doc_a", "doc_b")
    val rows = comp.collect()
    assert(rows.length == n)
    assert(rows.forall(_.getLong(1) == 0L), "all nodes must label to the chain min")
    // log2(10000) ≈ 13.3; the paper bounds rounds at O(log n) with a
    // small constant. 2*log2(n) is a generous but still logarithmic cap.
    val cap = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt
    assert(rounds <= cap, s"expected <= $cap rounds on a ${n}-node chain, took $rounds")
  }

  test("connectedComponents: agrees with min-label reference on random graphs") {
    // cross-check the two-phase algorithm against the independently
    // derived diameter-round implementation on seeded random pair lists
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val m = 200 + trial * 100
      val edges = Seq.fill(m)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
        .filter { case (a, b) => a != b }
        .toDF("doc_a", "doc_b")
      val fast = Clustering.connectedComponents(edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = Clustering.connectedComponentsMinLabel(edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == ref, s"trial $trial: two-phase and min-label disagree")
    }
  }

  test("connectedComponents: empty and self-loop-only edge lists") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Clustering.connectedComponents(empty, "doc_a", "doc_b").count() == 0L)
    // self-loops carry no connectivity; dropped entirely (no-edge nodes
    // are not emitted, matching the dedup contract: uncontested = kept)
    val selfs = Seq((3L, 3L), (7L, 7L)).toDF("doc_a", "doc_b")
    assert(Clustering.connectedComponents(selfs, "doc_a", "doc_b").count() == 0L)
  }

  /** The governance consumers read component labels: close the graph first. */
  private def labels(pairs: org.apache.spark.sql.DataFrame) =
    Clustering.connectedComponents(pairs, "doc_a", "doc_b")

  test("dedupClusters: canonical keep flag + component sizes") {
    val pairs = Seq((5L, 9L), (9L, 7L), (30L, 31L)).toDF("doc_a", "doc_b")
    val out = Clustering.dedupClusters(labels(pairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (5L, 5L, 3L, true), (7L, 5L, 3L, false), (9L, 5L, 3L, false),
      (30L, 30L, 2L, true), (31L, 30L, 2L, false)))
  }

  test("clusterSizeHistogram: sizes, counts, and removal budget on a mixed graph") {
    // components: {5,7,9} size 3, {30,31} size 2, {40,41} size 2
    val pairs = Seq((5L, 9L), (9L, 7L), (30L, 31L), (40L, 41L))
      .toDF("doc_a", "doc_b")
    val out = Clustering.clusterSizeHistogram(labels(pairs)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      3L -> ((1L, 3L, 2L)), // one size-3 cluster: 3 docs, 2 removable
      2L -> ((2L, 4L, 2L))  // two size-2 clusters: 4 docs, 2 removable
    ))
  }

  test("reliable-checkpoint path: with a checkpoint dir configured the CC loop survives on checkpoint files and matches the local result") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    def labels() = Clustering.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite session has no checkpoint dir")
    val localResult = labels()
    val dir = ScratchDirs.create("reliable_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      assert(labels() == localResult)
      // the reliable path genuinely wrote checkpoint data to the dir
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
      assert(anyFile(dir.toFile),
        s"no checkpoint files under $dir - localCheckpoint was used instead")
    } finally {
      // restore: null clears the dir (Option(null) = None in Spark's
      // setCheckpointDir), so later suites keep the local fast path
      spark.sparkContext.setCheckpointDir(null)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("clusterKeepBest: survivor is the quality argmax per component, ties to lowest id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (10L, 0.4), (11L, 0.4))
      .toDF("doc_id", "quality")
    val out = Clustering.clusterKeepBest(labels(pairs), scored).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L))
    // component {1,2,3}: id 2 wins on quality 0.9, not min-id 1
    assert(out(2L) == ((1L, 3L, 0.9, true)))
    assert(!out(1L)._4 && !out(3L)._4)
    // component {10,11}: tie 0.4 -> lowest id 10
    assert(out(10L)._4 && !out(11L)._4)
    assert(out(11L) == ((10L, 2L, 0.4, false)))
    // exactly one survivor per component
    val keeps = Clustering.clusterKeepBest(labels(pairs), scored)
      .groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("keep"), 1).otherwise(0)).as("k"))
      .select("k").as[Long].collect()
    assert(keeps.forall(_ == 1L))
  }
}
