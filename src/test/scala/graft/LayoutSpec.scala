package graft

import org.apache.spark.sql.functions._

import graft.io.{Layout, ScratchDirs}

/** Z-order layout: interleave arithmetic and the locality it buys —
  * a 2-D box query's rows concentrate in few files of the clustered
  * layout but smear across all files of a row-ordered one.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("interleave: known bit patterns land at i*n+d positions") {
    // x=0b101, y=0b011, 3 bits, 2 dims:
    // z = x0<<0 | y0<<1 | x1<<2 | y1<<3 | x2<<4 | y2<<5
    //   = 1 | 2 | 0 | 8 | 16 | 0 = 27
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.interleave(Seq(col("x"), col("y")), 3).as("z"))
      .head.getLong(0)
    assert(got == 27L)
    // single dimension degenerates to the identity (bits permitting)
    val id = Seq((173L, 0L)).toDF("x", "y")
      .select(Layout.interleave(Seq(col("x")), 8).as("z")).head.getLong(0)
    assert(id == 173L)
  }

  test("interleave rejects bits * dims > 63 (would shift past long width)") {
    val e = intercept[IllegalArgumentException] {
      Layout.interleave(Seq(col("x"), col("y")), 32)
    }
    assert(e.getMessage.contains("63"))
    // the boundary itself is fine: 3 dims x 21 bits = 63
    Layout.interleave(Seq(col("x"), col("y"), col("z")), 21)
  }

  test("z-ordered layout concentrates a box query; row-ordered smears it") {
    // 100k points uniform on [0,1)^2, hash-derived (deterministic)
    val pts = spark.range(100000L).select(
      col("id"),
      (pmod(xxhash64(col("id") * 31L), lit(100000L)) / 100000.0).as("x"),
      (pmod(xxhash64(col("id") * 37L), lit(100000L)) / 100000.0).as("y"))
    val base = ScratchDirs.create("zorder").toString
    Layout.writeZOrdered(pts, Seq("x", "y"), bits = 8, nFiles = 64, dir = s"$base/z")
    pts.repartition(64).write.parquet(s"$base/rows") // the unclustered control

    def filesTouched(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
      val total = df.select(input_file_name()).distinct().count()
      val touched = df
        .filter(col("x").between(0.4, 0.5) && col("y").between(0.2, 0.3))
        .select(input_file_name()).distinct().count()
      (touched, total)
    }
    val (zTouched, zTotal) = filesTouched(s"$base/z")
    val (rTouched, rTotal) = filesTouched(s"$base/rows")
    // identical answers either way — layout changes locality, not results
    val zCount = spark.read.parquet(s"$base/z")
      .filter(col("x").between(0.4, 0.5) && col("y").between(0.2, 0.3)).count()
    val rCount = spark.read.parquet(s"$base/rows")
      .filter(col("x").between(0.4, 0.5) && col("y").between(0.2, 0.3)).count()
    assert(zCount == rCount && zCount > 500)
    // ~1% box: a handful of z-files vs essentially every row-ordered file
    assert(zTouched * 4 <= zTotal,
      s"z-order should prune: touched $zTouched of $zTotal")
    assert(rTouched * 2 >= rTotal,
      s"control should smear: touched $rTouched of $rTotal")
    assert(zTouched < rTouched)
  }

  test("compact: shrinks a small-file directory to the byte-target count, data identical") {
    val dir = ScratchDirs.create("compact").toString + "/t"
    val df = (0 until 10000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    df.repartition(64).write.parquet(dir)
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles(dir) == 64)
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    // quarter-of-total target → exactly 4 output files
    val (before, after) = Layout.compact(spark, dir, (totalBytes + 3) / 4)
    assert(before == 64 && after == 4, s"$before -> $after")
    assert(parquetFiles(dir) == 4)
    // rows survive byte-identically and no staging/retired leftovers remain
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back == (0 until 10000).map(i => (i.toLong, s"row_$i")).toSet)
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("_graft_compact")), parent.mkString(","))
    // a target larger than the table collapses to one file
    val (_, one) = Layout.compact(spark, dir, Long.MaxValue)
    assert(one == 1 && parquetFiles(dir) == 1)
  }

  test("compactPartitioned: each key=value directory compacts in place; table unchanged") {
    val root = ScratchDirs.create("compactp").toString + "/t"
    val df = (0 until 8000)
      .map(i => (i.toLong, if (i % 2 == 0) "2024-01" else "2024-02"))
      .toDF("id", "month")
    df.repartition(32).write.partitionBy("month").parquet(root)
    val stats = Layout.compactPartitioned(spark, root, Long.MaxValue)
    assert(stats.keySet == Set("month=2024-01", "month=2024-02"), stats.toString)
    stats.values.foreach { case (b, a) => assert(b == 32 && a == 1, stats.toString) }
    // partition column still reads back (it lives in the dir name)
    val back = spark.read.parquet(root).as[(Long, String)].collect().toSet
    assert(back == (0 until 8000)
      .map(i => (i.toLong, if (i % 2 == 0) "2024-01" else "2024-02")).toSet)
    // flat compact on a partitioned root is refused — it would demote the
    // partition column into the files and destroy the directory layout
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, root, Long.MaxValue)
    }
    assert(e.getMessage.contains("compactPartitioned"))
  }
}
