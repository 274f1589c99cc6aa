package graft

import org.apache.spark.sql.functions._
import graft.operators.Spread

/** Contract of the round-15 frame-level scan spread
  * ([[graft.operators.Spread.wide]]): widen narrow frames to the
  * machine, be an exact identity (same object — the no-exchange
  * guarantee) at real-tier partition counts, and never change the
  * row multiset either way. The identity case is what makes the
  * operator safe to leave in at 100 TB: on a multi-split scan the
  * exchange structurally does not exist (the gen-sf1.0 PlanDump
  * artifact in plans/r15/gensf1/ shows the same property for whole
  * query plans). */
class SpreadSpec extends SparkSpec {

  test("narrow frames widen to defaultParallelism") {
    val par = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 1000).coalesce(1).toDF("id")
    assert(narrow.rdd.getNumPartitions < par)
    val wide = Spread.wide(narrow)
    assert(wide.rdd.getNumPartitions == par)
  }

  test("frames already at or above the machine's width pass through untouched") {
    val par = spark.sparkContext.defaultParallelism
    val already = spark.range(0, 1000, 1, par).toDF("id")
    assert(Spread.wide(already) eq already)
    val wider = spark.range(0, 1000, 1, par + 3).toDF("id")
    assert(Spread.wide(wider) eq wider)
  }

  test("spreadTable estimates a file: URI path from the files it names") {
    val par = spark.sparkContext.defaultParallelism
    val dir = tempDir("graft_spread_uri")
    spark.range(0, 1000, 1, par).write.parquet(s"$dir/t.parquet")
    val df = graft.queries.QueryDef.spreadTable(spark, s"file://$dir", "t")
    // par part files estimate as >= par splits: the no-op path
    assert(!df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning"))
  }

  test("spreading preserves the row multiset exactly") {
    val df = spark.range(0, 5000).select(col("id"),
      (col("id") % 7).as("k"), md5(col("id").cast("string")).as("h"))
      .coalesce(1)
    val a = df.orderBy(col("id")).collect()
    val b = Spread.wide(df).orderBy(col("id")).collect()
    assert(a.toSeq == b.toSeq)
  }
}
