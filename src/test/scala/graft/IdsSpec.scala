package graft

import graft.operators.Ids
import org.apache.spark.sql.functions._

/** Contiguous-id assignment: correct global numbering, direction
  * honoring, and stability across repeated evaluation (the property
  * the reverted lazy two-branch plan could not guarantee — see the
  * Ids scaladoc). */
class IdsSpec extends SparkSpec {
  import spark.implicits._

  test("ids are contiguous and follow global key order") {
    for (n <- Seq(0, 1, 5, 1000)) {
      val df = spark.range(n).select(
        // reversed, shuffled insertion order; key = idx
        (lit(n.toLong) - $"id").as("key"), ($"id" % 7).as("v"))
        .repartition(5)
      val out = Ids.addContiguousIds(df, Seq(col("key")), "sk", offset = 100L)
        .select("sk", "key").as[(Long, Long)].collect().sortBy(_._2)
      assert(out.length == n)
      // key k (1-based dense) gets id 100 + k
      assert(out.forall { case (sk, key) => sk == 100L + key })
    }
  }

  test("descending sort expressions are honored (review r03 finding)") {
    val df = spark.range(1, 101).select($"id".as("key")).repartition(5)
    val out = Ids.addContiguousIds(df, Seq(col("key").desc), "sk")
      .select("sk", "key").as[(Long, Long)].collect().sortBy(_._1)
    // largest key gets id 1, smallest gets id 100
    assert(out.head == ((1L, 100L)) && out.last == ((100L, 1L)))
    assert(out.forall { case (sk, key) => sk == 101L - key })
  }

  test("repeated evaluation of one plan yields identical ids") {
    // the checkpoint pins a single RDD: the partition counts and every
    // data job read the same partitioning, so re-evaluating the result
    // (no cache) cannot re-deal rows into different partitions
    val df = spark.range(20000).select(($"id" * 37 % 20011).as("key"))
      .repartition(7)
    val out = Ids.addContiguousIds(df, Seq(col("key")), "sk")
    val a = out.select("key", "sk").as[(Long, Long)].collect().sortBy(_._1)
    val b = out.select("key", "sk").as[(Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._2).distinct.length == a.length)
  }

  test("ntileFromRank is bit-identical to the NTILE window for every (n, k) shape") {
    import org.apache.spark.sql.expressions.Window
    // covers n < k, n = k, n % k = 0, and both fat/thin bucket mixes
    for (k <- Seq(5, 32); n <- Seq(1, 3, k - 1, k, k + 1, 2 * k + 3, 100, 101, 1500)) {
      val df = spark.range(n).select($"id".as("key")).repartition(4)
      val want = df.withColumn("t",
        ntile(k).over(Window.orderBy($"key")).cast("long"))
        .select("key", "t").as[(Long, Long)].collect().toMap
      val ranked = Ids.addContiguousIds(df, Seq(col("key")), "rk")
      val got = ranked.crossJoin(
          broadcast(ranked.groupBy().agg(count(lit(1)).as("n_rows"))))
        .select($"key", Ids.ntileFromRank($"rk", $"n_rows", k).as("t"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"n=$n k=$k: $got vs $want")
    }
  }

  test("distinct ids under skewed multi-column ordering") {
    val df = Seq(("a", 3), ("a", 1), ("b", 2), ("a", 2), ("b", 1))
      .toDF("g", "k")
    val out = Ids.addContiguousIds(df, Seq(col("g"), col("k")), "sk")
      .orderBy("sk").select("g", "k").as[(String, Int)].collect().toSeq
    assert(out == Seq(("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2)))
  }

  test("the returned plan is one projection over the checkpoint scan") {
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = spark.range(1000).select(($"id" * 37 % 1009).as("key")).repartition(3)
    val out = Ids.addContiguousIds(df, Seq(col("key")), "sk")
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val offending = plan.collect {
      case e: Exchange => e
      case w: WindowExec => w
      case j: BaseJoinExec => j
      case a: BaseAggregateExec => a
    }
    assert(offending.isEmpty, s"offsets machinery left in the plan:\n$plan")
    assert(plan.collect { case s: RDDScanExec => s; case s: ExternalRDDScanExec[_] => s }
      .size == 1, s"expected one checkpoint scan:\n$plan")
    assert(!out.schema("sk").nullable)
    assert(out.select("sk").as[Long].collect().sorted.toSeq == (1L to 1000L))
  }

  test("reliable checkpointing assigns the same ids as local mode") {
    import graft.operators.Checkpoints
    val df = spark.range(5000).select(($"id" * 7919 % 5003).as("key")).repartition(6)
    def ids() = Ids.addContiguousIds(df, Seq(col("key")), "sk")
      .select("key", "sk").as[(Long, Long)].collect().sortBy(_._1).toSeq
    def filesUnder(dir: String): Long = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    val local = ids()
    // the context's checkpoint dir alone selects reliable checkpoints
    val dir = tempDir("graft_ids_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val reliable = try {
      assert(Checkpoints.truncate(spark.range(100).toDF()).count() == 100)
      val afterTruncate = filesUnder(dir)
      assert(afterTruncate > 0, s"truncate wrote no checkpoint files under $dir")
      val got = ids()
      assert(filesUnder(dir) > afterTruncate,
        s"addContiguousIds wrote no checkpoint files under $dir")
      got
    } finally spark.sparkContext.setCheckpointDir(null)
    assert(reliable == local)
    assert(reliable.map(_._2) == (1L to 5000L))
  }

  test("more partitions than rows still numbers 1..n") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      for (n <- Seq(1, 3, 15)) {
        val df = spark.range(n).select((lit(100L) - $"id").as("key")).repartition(2)
        val out = Ids.addContiguousIds(df, Seq(col("key")), "sk")
          .select("sk", "key").as[(Long, Long)].collect().sortBy(_._1).toSeq
        assert(out.map(_._1) == (1L to n.toLong), s"n=$n")
        assert(out.map(_._2) == out.map(_._2).sorted, s"n=$n")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("partition counts merge by max: a re-sent count leaves the offsets unchanged") {
    val rows = new Ids.PartitionRows
    // partition 0: 3 rows, partition 1: 2 rows, partition 3: 1 row
    Seq(0L, 1L, 2L, 1L << 33, (1L << 33) + 1, 3L << 33).foreach(rows.add)
    val once = Ids.partitionOffsets(rows.value, 4).toSeq
    assert(once == Seq(0L, 3L, 5L, 5L))
    val resent = rows.copy()
    rows.merge(resent)
    rows.merge(resent)
    assert(Ids.partitionOffsets(rows.value, 4).toSeq == once)
  }

  test("offsets refuse a partition outside the exchange or past the row-index field") {
    val outside = intercept[IllegalStateException](
      Ids.partitionOffsets(Map(0 -> 5L, 4 -> 1L), 4))
    assert(outside.getMessage.contains("partition id 4"))
    val overflow = intercept[IllegalStateException](
      Ids.partitionOffsets(Map(0 -> (1L << 33)), 4))
    assert(overflow.getMessage.contains("2^33"))
  }
}
