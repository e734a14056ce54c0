package graft

import org.apache.spark.sql.functions._

import graft.io.ScratchDirs
import graft.ops.Joins

/** Scale mechanics that only show up in plans: bucketed co-located joins
  * (no exchange on either side) and salted-join equivalence.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val dir = ScratchDirs.create("bucket").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li.write.mode("overwrite").option("path", s"$dir/li")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    ord.write.mode("overwrite").option("path", s"$dir/ord")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    // Suppress broadcast so the planner must consider the bucket layout
    // (at real scale neither side would broadcast anyway).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      // Co-located: bucket layout satisfies the join's distribution on
      // BOTH sides — no shuffle exchange in the plan.
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() ==
        li.join(ord, $"l_orderkey" === $"o_orderkey").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key carrying ~98% of rows: exactly the shape that strands
    // a sort-merge join on one straggler task. With the skew thresholds
    // scaled to the fixture, AQE must mark and split the hot partition.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = (0 until 200000).map { i =>
        (if (i % 100 < 98) "hot" else s"cold_${i % 100}", i.toLong,
          "x" * 32) // payload so the hot partition crosses the threshold
      }.toDF("k", "v", "pad")
      val dim = (0 until 100).map(i =>
        (if (i == 0) "hot" else s"cold_$i", i * 1.0)).toDF("dk", "w")
      val joined = skewed.join(dim, $"k" === $"dk")
      // drive THIS DataFrame's own query execution so AQE finalizes its
      // plan (count() would plan a separate query on top)
      val qe = joined.queryExecution
      assert(qe.toRdd.count() == 200000L)
      val plan = qe.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.linesIterator.take(5).mkString("\n"))
      assert(plan.contains("skew=true"), plan.linesIterator.take(25).mkString("\n"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("month-partitioned zone: month filter prunes partitions at the scan") {
    val dir = s"${ScratchDirs.create("prune").toString}/zone"
    val rows = (0 until 84).map { d =>
      (java.sql.Timestamp.valueOf(f"2024-${d / 28 + 1}%02d-${d % 28 + 1}%02d 12:00:00"),
        d.toDouble)
    }.toDF("ts", "value")
    graft.io.Sinks.overwriteByMonth(rows, "ts", dir)
    val scan = spark.read.parquet(dir).filter($"month" === "2024-02")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(month"), plan)
    assert(scan.count() == 28)
    // pruned scan reads exactly one of the three month directories
    val filesRead = scan.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(filesRead.contains("PartitionFilters"), filesRead)
  }

  test("saltedJoin returns exactly the plain join's aggregate") {
    val e = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
    val dim = e.groupBy($"event_type".as("et"))
      .agg(avg($"value").as("type_avg"))
    val salted = Joins.saltedJoin(e, "event_type", dim, "et", 8)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = e.join(dim, $"event_type" === $"et")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    // the salt actually fans the hot key out across distinct salt values
    val saltCount = e.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(8)).cast("int"))
      .select("_salt").distinct().count()
    assert(saltCount > 1)
  }
}
