package graft

import graft.sources.{JdbcRangePartitioning, JdbcTarget, LakeIO, LakeZones}

/** The generic JDBC serving seam (the literal form of S5), round-
  * tripped against embedded Derby — a real SQL database on the Spark
  * classpath, no network, no new dependencies. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private def freshTarget(): JdbcTarget = {
    val dir = tempDir("graft_derby")
    JdbcTarget(s"jdbc:derby:$dir/db;create=true",
      "org.apache.derby.jdbc.EmbeddedDriver")
  }

  test("writeJdbc/readJdbc round-trip preserves rows and schema") {
    val target = freshTarget()
    val df = Seq((1L, "alpha", 10.5), (2L, "beta", -3.25), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
    LakeIO.writeJdbc(df, target, "t_roundtrip", mode = "overwrite")
    val back = LakeIO.readJdbc(spark, target, "t_roundtrip")
    assert(back.columns.map(_.toLowerCase).toSeq == Seq("id", "name", "score"))
    assert(back.as[(Long, String, Double)].collect().toSet ==
      df.as[(Long, String, Double)].collect().toSet)
    // append mode accumulates
    LakeIO.writeJdbc(df.filter($"id" === 1L), target, "t_roundtrip")
    assert(LakeIO.readJdbc(spark, target, "t_roundtrip").count() == 4)
  }

  test("range-partitioned read splits into parallel cursors, same rows") {
    val target = freshTarget()
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    LakeIO.writeJdbc(df, target, "t_part", mode = "overwrite")
    val part = LakeIO.readJdbc(spark, target, "t_part",
      Some(JdbcRangePartitioning("id", 1L, 1000L, 4)))
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 1000)
    assert(part.agg(org.apache.spark.sql.functions.sum($"id")).as[Long].head() ==
      (1L to 1000L).sum)
  }

  test("streaming JDBC sink: batch replay replaces, stream lands end to end") {
    import graft.streaming.StreamingOps
    val target = freshTarget()
    val b = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    StreamingOps.publishBatchJdbc(b, 7L, target, "t_stream")
    // replayed micro-batch (at-least-once recovery) must not duplicate
    StreamingOps.publishBatchJdbc(b, 7L, target, "t_stream")
    StreamingOps.publishBatchJdbc(Seq((3L, "c")).toDF("k", "v"), 8L, target, "t_stream")
    val rows = LakeIO.readJdbc(spark, target, "t_stream")
      .as[(Long, String, Long)].collect().toSet
    assert(rows == Set((1L, "a", 7L), (2L, "b", 7L), (3L, "c", 8L)))

    // and through a real streaming query
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ckpt = tempDir("graft_jdbcck")
    val q = StreamingOps.jdbcSink(
      mem.toDF().toDF("k", "v"), target, "t_live", ckpt)
    mem.addData((10L, "x"), (11L, "y"))
    q.processAllAvailable()
    mem.addData((12L, "z"))
    q.processAllAvailable()
    q.stop()
    assert(LakeIO.readJdbc(spark, target, "t_live")
      .select("k").as[Long].collect().toSet == Set(10L, 11L, 12L))
  }

  test("filters and projections push down into the JDBC scan") {
    val target = freshTarget()
    val df = (1L to 500L).map(i => (i, s"v$i", i % 7)).toDF("id", "v", "grp")
    LakeIO.writeJdbc(df, target, "t_push", mode = "overwrite")
    val q = LakeIO.readJdbc(spark, target, "t_push")
      .filter($"id" > 400L && $"grp" === 3L)
      .select($"id")
    // the predicate must reach the JDBCRelation as PushedFilters, not
    // run as a post-scan Spark Filter over the full table
    val plan = q.queryExecution.executedPlan.toString
    val pushed = """PushedFilters:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pushed.contains("id") && pushed.contains("grp"),
      s"both predicates must be pushed to the JDBC source:\n${plan.take(1200)}")
    // column pruning: the generated SELECT reads only the needed columns
    assert("ReadSchema:[^\n]*".r.findFirstIn(plan)
      .exists(rs => rs.contains("id") && !rs.contains("\"v\"")),
      s"scan must prune the unused string column:\n${plan.take(1200)}")
    assert(q.as[Long].collect().toSet ==
      (401L to 500L).filter(_ % 7 == 3).toSet)
  }

  test("publishGoldJdbc truncate-loads a gold table into the serving DB") {
    val target = freshTarget()
    val zones = LakeZones(tempDir("graft_lake"))
    val gold = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    LakeIO.overwriteGold(gold, zones, "dim_demo")
    LakeIO.publishGoldJdbc(spark, zones, "dim_demo", target)
    assert(LakeIO.readJdbc(spark, target, "dim_demo")
      .as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "y")))
    // re-publish replaces, not duplicates
    LakeIO.publishGoldJdbc(spark, zones, "dim_demo", target)
    assert(LakeIO.readJdbc(spark, target, "dim_demo").count() == 2)
  }
}
