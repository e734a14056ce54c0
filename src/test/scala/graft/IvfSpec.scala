package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.io.ScratchDirs
import graft.ops.{Ivf, Similarity}

/** IVF ANN contracts — pinned WITHOUT assuming k-means found the planted
  * clusters (seeding is hash-deterministic but not planted-aware):
  * assignment is exactly nearest-centroid with lower-cid tie-break, the
  * probe prunes to the probed cells' directories, and an all-cells probe
  * reproduces brute force exactly.
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  /** 4 well-separated gaussian bundles (σ=0.1 around ‖c‖≈10 centers). */
  private def planted(nClusters: Int, per: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian().toFloat * 10f)
    (0 until nClusters * per).map { i =>
      val c = i % nClusters
      (i.toLong, centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.1f), c)
    }.toDF("vec_id", "embedding", "label")
  }

  test("ivf: cell assignment is exactly nearest-centroid (ties to lower cid)") {
    val emb = planted(4, 50, 8)
    val dir = ScratchDirs.create("ivf").toString + "/layout"
    val cents = Ivf.writeIvfLayout(emb, dir, nlist = 4, iters = 3)
    val norms = cents.map(_.map(v => v.toDouble * v).sum)
    spark.read.parquet(dir)
      .select("vec_id", "embedding", "cid").collect().foreach { r =>
        val x = r.getAs[scala.collection.Seq[Float]]("embedding")
        // same widened-double, same-order arithmetic as the engine side
        val want = cents.indices.map { cid =>
          var dot = 0.0
          for (i <- x.indices) dot += x(i).toDouble * cents(cid)(i).toDouble
          (norms(cid) - 2.0 * dot, cid)
        }.min._2
        assert(r.getAs[Int]("cid") == want, s"vec ${r.getLong(0)}")
      }
    // layout really is cell-partitioned on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cid="))
    assert(dirs.length > 1, dirs.mkString(","))
  }

  test("ivf append: new batch assigns against the persisted centroids; probes see old+new exactly") {
    val emb = planted(4, 50, 8)
    val first = emb.filter(col("vec_id") < 100L)
    val second = emb.filter(col("vec_id") >= 100L)
    val dir = ScratchDirs.create("ivf_app").toString + "/layout"
    val cents = Ivf.writeIvfLayout(first, dir, nlist = 4, iters = 3)
    Ivf.appendToLayout(second, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 200L)
    // every resident row — original AND appended — is nearest-centroid
    // w.r.t. the PERSISTED artifact (appends never retrain)
    val persisted = Ivf.readCentroids(spark, dir)
    assert(persisted.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val norms = persisted.map(_.map(v => v.toDouble * v).sum)
    back.select("vec_id", "embedding", "cid").collect().foreach { r =>
      val x = r.getAs[scala.collection.Seq[Float]]("embedding")
      val want = persisted.indices.map { cid =>
        var dot = 0.0
        for (i <- x.indices) dot += x(i).toDouble * persisted(cid)(i).toDouble
        (norms(cid) - 2.0 * dot, cid)
      }.min._2
      assert(r.getAs[Int]("cid") == want, s"vec ${r.getLong(0)}")
    }
    // an all-cells probe over the appended layout = brute force over
    // old+new (exactness is assignment-independent at nprobe = nlist)
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getAs[scala.collection.Seq[Float]](0).toArray
    val got = Ivf.ivfProbe(spark, dir, persisted, q, 10, nprobe = 4,
      excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    val brute = graft.ops.Similarity.cosineTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("ivf probe: directory pruning + exact within probed cells; all-cells = brute force") {
    val emb = planted(4, 50, 8)
    val dir = ScratchDirs.create("ivf").toString + "/layout"
    Ivf.writeIvfLayout(emb, dir, nlist = 4, iters = 3)
    val cents = Ivf.readCentroids(spark, dir)
    val q = emb.filter($"vec_id" === 0L)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray

    // nprobe = 1: plan prunes on the partition column, and the result is
    // exactly the brute-force top-k RESTRICTED to the probed cell
    val one = Ivf.ivfProbe(spark, dir, cents, q, 10, nprobe = 1, excludeId = Some(0L))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"), plan)
    val probedCell = one.select("cid").distinct().as[Int].collect()
    assert(probedCell.length == 1)
    val inCell = spark.read.parquet(dir)
      .filter($"cid" === probedCell(0) && $"vec_id" =!= 0L)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val x = r.getAs[scala.collection.Seq[Float]]("embedding")
        var dot = 0.0; var nx = 0.0; var nq = 0.0
        for (i <- x.indices) {
          dot += x(i).toDouble * q(i).toDouble
          nx += x(i).toDouble * x(i).toDouble
          nq += q(i).toDouble * q(i).toDouble
        }
        (dot / (math.sqrt(nx) * math.sqrt(nq)), r.getLong(0))
      }
      .sortBy { case (cos, id) => (-cos, id) }.take(10).map(_._2).toSeq
    assert(one.select("vec_id").as[Long].collect().toSeq == inCell)

    // nprobe = nlist: pruning disabled ⇒ identical to brute-force top-k
    val all = Ivf.ivfProbe(spark, dir, cents, q, 10, nprobe = 4, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    val brute = Similarity.cosineTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(all == brute)

    // separated planted clusters: even the 1-cell probe is pure — every
    // hit shares the query's planted cluster (vec_id ≡ 0 mod 4)
    assert(one.select("vec_id").as[Long].collect().forall(_ % 4 == 0))
  }

  test("adaptiveProbeCells: narrow on separated centroids, widens to the scan cap when near-equidistant") {
    // Separated: the query sits inside cell 0's basin, every other
    // centroid is ~200x farther → the rule stays at the minProbe floor
    // (and cell 0 routes first).
    val far = Array(
      Array(0f, 0f), Array(100f, 0f), Array(0f, 100f), Array(100f, 100f),
      Array(-100f, 0f), Array(0f, -100f), Array(-100f, -100f),
      Array(100f, -100f))
    val narrow = Ivf.adaptiveProbeCells(far, Array(0.5f, 0.5f))
    assert(narrow.size == 2, narrow) // minProbe floor
    assert(narrow.head == 0, narrow)
    // Equidistant ring around the query: every centroid is within slack
    // of the nearest → the rule wants all 8 but the 50% scan cap holds.
    val ring = (0 until 8).map { i =>
      val a = 2 * math.Pi * i / 8
      Array((10 * math.cos(a)).toFloat, (10 * math.sin(a)).toFloat)
    }.toArray
    val wide = Ivf.adaptiveProbeCells(ring, Array(0f, 0f))
    assert(wide.size == 4, wide) // 8 * maxScanFrac(0.5)
    // The adaptive probe returns the same rows as the fixed probe over
    // the same routed cells — the scan is shared machinery.
    val emb = planted(4, 50, 8)
    val dir = ScratchDirs.create("ivf_ad").toString + "/layout"
    val cents = Ivf.writeIvfLayout(emb, dir, nlist = 4, iters = 3)
    val q = emb.filter($"vec_id" === 0L)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val cells = Ivf.adaptiveProbeCells(cents, q)
    val viaAdaptive = Ivf.ivfProbeAdaptive(spark, dir, cents, q, 10,
      excludeId = Some(0L)).select("vec_id").as[Long].collect().toSeq
    val viaCells = Ivf.ivfProbeCells(spark, dir, cells, q, 10,
      excludeId = Some(0L)).select("vec_id").as[Long].collect().toSeq
    assert(viaAdaptive == viaCells)
    // planted separated clusters: every hit shares the query's cluster
    assert(viaAdaptive.forall(_ % 4 == 0))
  }

  test("ivf training sample: rate 1.0 is bit-identical; sampled training still separates planted clusters") {
    val emb = planted(4, 100, 8).localCheckpoint()
    // sampleRate = 1.0 must take the identical code path / results
    val full = Ivf.trainCentroids(emb, nlist = 4, iters = 3)
    val one = Ivf.trainCentroids(emb, nlist = 4, iters = 3, sampleRate = 1.0)
    assert(full.map(_.toSeq).toSeq == one.map(_.toSeq).toSeq)

    // a 30% hash-sample still has ~30 points per planted bundle — the
    // trained cells must still assign each bundle coherently: probing the
    // query's cell returns only same-bundle neighbors
    val dir = ScratchDirs.create("ivf").toString + "/layout"
    Ivf.writeIvfLayout(emb, dir, nlist = 4, iters = 3, trainSampleRate = 0.3)
    val cents = Ivf.readCentroids(spark, dir)
    val q = emb.filter($"vec_id" === 0L)
      .head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val hits = Ivf.ivfProbe(spark, dir, cents, q, 10, nprobe = 1, excludeId = Some(0L))
      .select("vec_id").as[Long].collect()
    assert(hits.length == 10 && hits.forall(_ % 4 == 0), hits.mkString(","))

    // an unsatisfiable sample (fewer rows than nlist seeds) fails loudly
    val tiny = intercept[IllegalArgumentException] {
      Ivf.trainCentroids(emb, nlist = 300, iters = 1, sampleRate = 0.001)
    }
    assert(tiny.getMessage.contains("sampleRate"))
  }

  test("annIvfMd5: equals an independent sequential reimplementation") {
    val emb = planted(4, 50, 8)
    val got = Ivf.annIvfMd5(emb, queryId = 0L, k = 10, nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // sequential reimplementation: quantize, md5-seed 8 centroids,
    // integer argmin with lower-cid ties, 2 nearest cells to the query,
    // exact cosine over candidates
    val rows = emb.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val quant = rows.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1048576.0).toLong) }.toMap
    val seeds = rows.map(_._1).sortBy(id => (h(id), id)).take(8)
      .map(quant).zipWithIndex
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cellOf = quant.map { case (id, qe) =>
      id -> seeds.map { case (ce, cid) => (d2(qe, ce), cid) }.min._2 }
    val probeCells = seeds.map { case (ce, cid) => (d2(quant(0L), ce), cid) }
      .sorted.take(2).map(_._2).toSet
    val qEmb = rows.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = rows.filter(r => r._1 != 0L && probeCells(cellOf(r._1)))
      .map { case (id, e) => (id, cos(e, qEmb)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"got=${got.toSeq} want=${want.toSeq}")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12) }
    // the probe is genuinely partial: candidates exclude some corpus cells
    assert(cellOf.values.toSet.diff(probeCells).nonEmpty)
  }

  test("annPq: equals a sequential PQ/ADC reimplementation; codes genuinely compress") {
    val emb = planted(4, 50, 64)
    val got = Ivf.annPq(emb, queryId = 0L, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val rows = emb.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val quant = rows.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1048576.0).toLong) }.toMap
    val seeds = rows.map(_._1).sortBy(id => (h(id), id)).take(16).map(quant)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def slice8(v: Array[Long], j: Int) = v.slice(j * 8, j * 8 + 8)
    // encode: per vector per subspace, argmin over the 16 codewords
    // (ties to lower code via the same min-encoding)
    def code(v: Array[Long], j: Int): Int =
      (seeds.zipWithIndex.map { case (s, c) =>
        d2(slice8(v, j), slice8(s, j)) * 16 + c }.min % 16).toInt
    val qlut = (0 until 8).map { j =>
      seeds.map(s => d2(slice8(quant(0L), j), slice8(s, j))) }
    val adc = rows.map(_._1).filter(_ != 0L).map { id =>
      id -> (0 until 8).map(j => qlut(j)(code(quant(id), j))).sum }
    val cand = adc.sortBy { case (id, a) => (a, id) }.take(40).map(_._1).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qEmb = rows.find(_._1 == 0L).get._2
    val want = rows.filter(r => cand(r._1))
      .map { case (id, e) => (id, cos(e, qEmb)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"got=${got.toSeq} want=${want.toSeq}")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12) }
    // the encoding is a genuine compressor: >1 distinct code per subspace
    // (codewords are actually used), and candidates exclude most vectors
    assert((0 until 8).exists(j =>
      rows.map(r => code(quant(r._1), j)).distinct.length > 1))
    assert(cand.size < rows.length / 2)
  }

  test("annIvfPq: ADC scores only the probed cells; equals the sequential IVF-PQ composition") {
    val emb = planted(4, 50, 64)
    val got = Ivf.annIvfPq(emb, queryId = 0L, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val rows = emb.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val quant = rows.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1048576.0).toLong) }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def slice8(v: Array[Long], j: Int) = v.slice(j * 8, j * 8 + 8)
    val ordered = rows.map(_._1).sortBy(id => (h(id), id))
    // coarse: 16 md5 seeds refined by TWO integer-Lloyd rounds
    // (floor(sum/cnt) means; empty cells keep the previous centroid)
    def assign(cents: IndexedSeq[Array[Long]]): Map[Long, Int] =
      quant.map { case (id, qe) =>
        id -> cents.zipWithIndex.map { case (ce, cid) => (d2(qe, ce), cid) }.min._2 }
    def lloydRound(cents: IndexedSeq[Array[Long]]): IndexedSeq[Array[Long]] = {
      val a = assign(cents)
      cents.indices.map { cid =>
        val members = rows.map(_._1).filter(id => a(id) == cid)
        if (members.isEmpty) cents(cid)
        else Array.tabulate(64) { i =>
          math.floor(members.map(id => quant(id)(i)).sum.toDouble
            / members.size).toLong }
      }
    }
    val cells16 = (0 until 2).foldLeft(
      ordered.take(16).map(quant).toIndexedSeq)((c, _) => lloydRound(c))
    val cellOf = assign(cells16)
    // adaptive integer probe: every cell within 169/100 of the nearest
    // d2, floored at 2, capped at 12 (= 0.75 * nlist, the r16
    // sweep-sized operating point)
    val qd = cells16.zipWithIndex.map { case (ce, cid) => (d2(quant(0L), ce), cid) }
    val dmin = qd.map(_._1).min
    val wide = qd.count(_._1 * 100L <= dmin * 169L)
    val take = math.min(12, math.max(2, wide))
    val probeCells = qd.sorted.take(take).map(_._2).toSet
    // PQ: 32-seed codebook, encode probed vectors, ADC rank, 800 cands
    val seeds = ordered.take(32).map(quant)
    def code(v: Array[Long], j: Int): Int =
      (seeds.zipWithIndex.map { case (s, c) =>
        d2(slice8(v, j), slice8(s, j)) * 32 + c }.min % 32).toInt
    val qlut = (0 until 8).map { j =>
      seeds.map(s => d2(slice8(quant(0L), j), slice8(s, j))) }
    val probedIds = rows.map(_._1).filter(id => id != 0L && probeCells(cellOf(id)))
    val cand = probedIds.map { id =>
      id -> (0 until 8).map(j => qlut(j)(code(quant(id), j))).sum }
      .sortBy { case (id, a) => (a, id) }.take(800).map(_._1).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qEmb = rows.find(_._1 == 0L).get._2
    val want = rows.filter(r => cand(r._1))
      .map { case (id, e) => (id, cos(e, qEmb)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"got=${got.toSeq} want=${want.toSeq}")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12) }
    // the route genuinely prunes: some corpus cells are never scanned
    assert(probedIds.size < rows.length - 1)
  }

  test("ivf append drift metric: quiet on an i.i.d. batch, fires on a shifted distribution") {
    val emb = planted(4, 50, 8)
    val first = emb.filter(col("vec_id") < 100L)
    val iid = emb.filter(col("vec_id") >= 100L)
    val dir = ScratchDirs.create("ivf_drift").toString + "/layout"
    Ivf.writeIvfLayout(first, dir, nlist = 4, iters = 3)
    // i.i.d. batch: same gaussian bundles (σ=0.1) the layout was trained
    // on — per-cell means land within a few noise σ of the centroids
    val quiet = Ivf.appendToLayout(iid, dir).collect()
    assert(quiet.nonEmpty)
    assert(quiet.map(_.getAs[Long]("n_appended")).sum == 100L)
    val quietMax = quiet.map(_.getAs[Double]("drift")).max
    assert(quietMax < 1.0, s"iid drift should be noise-floor, got $quietMax")
    // drifted batch: every coordinate shifted by +5 — the cell means
    // displace by ~‖(5,...,5)‖ = 5·√8 ≈ 14, orders above the floor
    val shifted = iid.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x + org.apache.spark.sql.functions.lit(5.0f)))
    val loud = Ivf.appendToLayout(shifted, dir).collect()
    val loudMax = loud.map(_.getAs[Double]("drift")).max
    assert(loudMax > 5.0, s"shifted batch must fire the drift signal, got $loudMax")
    assert(loudMax > 10 * quietMax)
  }

  test("semanticDedup: greedy-by-id removal of exact duplicates, chains prune transitively, uniques survive") {
    // one-hot duplicates land in the same cell by construction (identical
    // vectors quantize identically) and their cosine is exactly 1.0
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 1f, 0f, 0f)
    val emb = Seq(
      (0L, e0, 0), (1L, e1, 1), (2L, Array(0f, 0f, 1f, 0f), 2),
      (3L, e0, 0),                       // dup of 0
      (4L, Array(0f, 0f, 0f, 1f), 3),
      (5L, e1, 1),                       // dup of 1
      (6L, Array(1f, 1f, 0f, 0f), 4),    // cos 0.707 to e0: below threshold
      (7L, e0, 0)                        // dup of 0 AND of 3 -> dup_of = 0
    ).toDF("vec_id", "embedding", "label")
    val out = Ivf.semanticDedup(emb, Ivf.semanticAssign(emb, nlist = 4),
      threshold = 0.999).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(3L, 5L, 7L))
    assert(out(3L) == ((0L, 1.0)))
    assert(out(5L) == ((1L, 1.0)))
    assert(out(7L) == ((0L, 1.0)))   // min lower partner, not 3
  }

  test("semanticDedupHier: identical vectors co-locate through both levels; greedy removal matches the flat form on the fixture") {
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 1f, 0f, 0f)
    val emb = Seq(
      (0L, e0, 0), (1L, e1, 1), (2L, Array(0f, 0f, 1f, 0f), 2),
      (3L, e0, 0), (4L, Array(0f, 0f, 0f, 1f), 3),
      (5L, e1, 1), (6L, Array(1f, 1f, 0f, 0f), 4), (7L, e0, 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Ivf.semanticDedupHier(emb, threshold = 0.999, coarse = 2, fine = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(3L, 5L, 7L))
    assert(out(3L) == ((0L, 1.0)))
    assert(out(5L) == ((1L, 1.0)))
    assert(out(7L) == ((0L, 1.0)))
  }

  test("semanticClusters: near-dup families become components with min-id representatives") {
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 1f, 0f, 0f)
    val emb = Seq(
      (0L, e0, 0), (1L, e1, 1), (2L, Array(0f, 0f, 1f, 0f), 2),
      (3L, e0, 0), (4L, Array(0f, 0f, 0f, 1f), 3),
      (5L, e1, 1), (6L, Array(1f, 1f, 0f, 0f), 4), (7L, e0, 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Ivf.semanticClusters(emb, Ivf.semanticAssign(emb, nlist = 4),
      threshold = 0.999).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // only graph members appear: {0,3,7} and {1,5}
    assert(out.keySet == Set(0L, 1L, 3L, 5L, 7L))
    assert(out(0L) == ((0L, 3L, true)))
    assert(out(3L) == ((0L, 3L, false)))
    assert(out(7L) == ((0L, 3L, false)))
    assert(out(1L) == ((1L, 2L, true)))
    assert(out(5L) == ((1L, 2L, false)))
  }

  test("semanticDedupCapped: inactive cap reproduces hier exactly; forced splitting still finds every exact duplicate") {
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 1f, 0f, 0f)
    val emb = Seq(
      (0L, e0, 0), (1L, e1, 1), (2L, Array(0f, 0f, 1f, 0f), 2),
      (3L, e0, 0), (4L, Array(0f, 0f, 0f, 1f), 3),
      (5L, e1, 1), (6L, Array(1f, 1f, 0f, 0f), 4), (7L, e0, 0)
    ).toDF("vec_id", "embedding", "label")
    // cap far above every leaf: nsalt = 1 everywhere -> bit-identical to hier
    val hier = Ivf.semanticDedupHier(emb, 0.999, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val wide = Ivf.semanticDedupCapped(emb, 0.999, 2, 2, 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(wide.toSeq == hier.toSeq)
    // cap=2 forces splitting, but identical embeddings share the content
    // salt, so every exact duplicate is still removed
    val tight = Ivf.semanticDedupCapped(emb, 0.999, 2, 2, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tight.keySet == Set(3L, 5L, 7L))
    assert(tight(3L) == 0L && tight(5L) == 1L && tight(7L) == 0L)
  }

  test("semanticDedupHier on real testdata: valid removal list over the 2-level leaves") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Ivf.semanticDedupHier(emb, 0.4, 4, 2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) < r.getLong(0))
      assert(r.getDouble(3) >= 0.4)
      assert(r.getLong(1) >= 0L && r.getLong(1) < 8L) // cell = cid*2+fid
    }
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("semanticDedup on real testdata: removals reference lower-id survivors-or-casualties above threshold") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Ivf.semanticDedup(emb, Ivf.semanticAssign(emb, 8), 0.4).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) < r.getLong(0))   // dup_of is a lower id
      assert(r.getDouble(3) >= 0.4)
      assert(r.getLong(1) >= 0L && r.getLong(1) < 8L)
    }
    // removal list names each vector at most once
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("cellPairs partner-bucket decomposition: a tiny pairTarget (many buckets) reproduces the naive all-pairs result exactly") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    // 90 vectors over 3 groups (group sizes 30) so pairTarget = 4 forces
    // nb = 8 buckets per group — deep into the replicated/monotone path.
    val cells = (0 until 90).map { i =>
      (i.toLong, (i % 3).toLong,
        Seq.fill(8)(rnd.nextFloat() * 2 - 1).map(float2Float))
    }.toDF("vec_id", "cid", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def run(target: Int) =
      Ivf.cellPairs(cells, Seq("cid"), "cid", threshold = 0.1,
        pairTarget = target)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    // pairTarget >= group size => nb = 1 everywhere: the naive self-join
    val naive = run(1000)
    val split = run(4)
    assert(naive.nonEmpty, "fixture produced no pairs - threshold too high")
    assert(split == naive) // same pairs, bit-identical cosines
  }

  test("semanticPreflight: estimate equals the sequential assignment's pair count; refusal carries it; clear budgets change nothing") {
    val emb = planted(4, 50, 8) // 200 vectors
    val nlist = 4
    val est = Ivf.semanticPreflight(Ivf.semanticAssign(emb, nlist)).as[Long].head()
    // independent truth: the annIvfMd5-spec sequential reimplementation
    // of the md5-seed + integer-argmin assignment, pair mass by hand
    val rows = emb.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val quant = rows.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1048576.0).toLong) }.toMap
    val seeds = rows.map(_._1).sortBy(id => (h(id), id)).take(nlist)
      .map(quant).zipWithIndex
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cellOf = quant.map { case (id, qe) =>
      id -> seeds.map { case (ce, cid) => (d2(qe, ce), cid) }.min._2 }
    val want = cellOf.values.groupBy(identity).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(est == want, s"preflight $est != sequential truth $want")
    // nlist = 1 anchor: everything in one cell, mass exactly C(n, 2)
    assert(Ivf.semanticPreflight(Ivf.semanticAssign(emb, 1)).as[Long].head() ==
      200L * 199 / 2)
    // refusal carries the same estimate; budget 0 always trips
    val e = intercept[graft.ops.CandidateMassExceeded] {
      Ivf.semanticDedup(emb, Ivf.semanticAssign(emb, nlist), 0.4, maxPairs = 0L)
    }
    assert(e.operator == "semanticDedup" && e.estimatedPairs == est,
      s"refusal estimate ${e.estimatedPairs} != preflight $est")
    // a clear budget admits the run and is row-identical to the default
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val default = canon(Ivf.semanticDedup(emb, Ivf.semanticAssign(emb, nlist), 0.4))
    val guarded = canon(Ivf.semanticDedup(emb, Ivf.semanticAssign(emb, nlist), 0.4,
      maxPairs = est))
    assert(default == guarded && default.nonEmpty)
  }

  test("semanticDedupGoverned: exact arm when the mass clears, hier COMPLETION when it doesn't, estimate attached, no resident blocks") {
    val emb = planted(4, 50, 8) // 200 vectors
    val nlist = 4
    def assigned = Ivf.semanticAssign(emb, nlist)
    val mass = Ivf.semanticPreflight(assigned).as[Long].head()
    assert(mass > 1L)
    def decisions(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"dup_of", $"max_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exact arm: the governed result IS the flat form's decision set
    val gEx = Ivf.semanticDedupGoverned(emb, assigned, 0.4, maxPairs = mass)
    assert(gEx.method == "exact" && gEx.estimatedPairs == mass)
    val flat = decisions(Ivf.semanticDedup(emb, assigned, 0.4))
    assert(decisions(gEx.pairs) == flat && flat.nonEmpty)
    // over-budget: COMPLETES via the hier form (no CandidateMassExceeded),
    // matching the hier operator's own decisions, estimate attached
    // (refusal-releases-cuts hygiene for this tier is pinned in
    // SimilaritySpec's zero-resident-blocks test)
    val gH = Ivf.semanticDedupGoverned(emb, assigned, 0.4,
      maxPairs = mass - 1, coarse = 4, fine = 2)
    assert(gH.method == "hier" && gH.estimatedPairs == mass)
    assert(decisions(gH.pairs) ==
      decisions(Ivf.semanticDedupHier(emb, 0.4, 4, 2)))
    // the flattened frame carries the decision as lineage columns
    val row = Ivf.semanticDedupGoverned(emb, assigned, 0.4,
      maxPairs = mass - 1, coarse = 4, fine = 2)
      .frame.select($"method", $"estimated_pairs").head()
    assert(row.getString(0) == "hier" && row.getLong(1) == mass)
  }
}
