package graft

import org.apache.spark.sql.functions._
import graft.operators.Scd2

/** C3 SCD2 merge: the reference's scenario matrix
  * (`README.md:198-216`, `docs/technical_report.md:217-251`) plus the
  * structural invariants from SURVEY.md §5.2. */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private val spec = Scd2.Spec("CustomerKey", "CustomerID",
    Seq("CustomerName", "SearchType", "CategoryCode"))
  private def ts(s: String) = to_timestamp(lit(s))

  private def batch(rows: (Long, String, String, String)*) =
    rows.toDF("CustomerID", "CustomerName", "SearchType", "CategoryCode")

  private val b1 = batch(
    (10L, "Acme", "C", "100"), (20L, "Globex", "C", "200"))

  test("new keys insert as active with contiguous surrogate keys") {
    val dim = Scd2.merge(Scd2.emptyDim(spark, b1, spec), b1, spec,
      ts("2024-01-01 00:00:00"))
    val rows = dim.orderBy("CustomerKey")
      .select("CustomerKey", "CustomerID", "IsActive").as[(Long, Long, Boolean)]
      .collect().toSeq
    assert(rows == Seq((1L, 10L, true), (2L, 20L, true)))
    assert(dim.filter($"ValidTo".isNotNull).count() == 0)
  }

  test("changed hash expires old version and inserts new; unchanged untouched") {
    val dim1 = Scd2.merge(Scd2.emptyDim(spark, b1, spec), b1, spec,
      ts("2024-01-01 00:00:00")).cache()
    val b2 = batch((10L, "Acme Corp", "C", "100"), (20L, "Globex", "C", "200"))
    val dim2 = Scd2.merge(dim1, b2, spec, ts("2024-06-01 00:00:00")).cache()
    assert(dim2.count() == 3)
    // old Acme version expired
    val old = dim2.filter($"CustomerID" === 10 && !$"IsActive").collect()
    assert(old.length == 1)
    assert(old.head.getAs[java.sql.Timestamp]("ValidTo").toString.startsWith("2024-06-01"))
    // new Acme version active with next key
    val nw = dim2.filter($"CustomerID" === 10 && $"IsActive").collect()
    assert(nw.head.getAs[Long]("CustomerKey") == 3L)
    assert(nw.head.getAs[String]("CustomerName") == "Acme Corp")
    // Globex untouched
    val gx = dim2.filter($"CustomerID" === 20).collect()
    assert(gx.length == 1 && gx.head.getAs[Boolean]("IsActive"))
  }

  test("idempotence: merging the same batch twice changes nothing") {
    val dim1 = Scd2.merge(Scd2.emptyDim(spark, b1, spec), b1, spec,
      ts("2024-01-01 00:00:00")).cache()
    val dim2 = Scd2.merge(dim1, b1, spec, ts("2024-06-01 00:00:00"))
    assert(dim2.count() == dim1.count())
    assert(dim2.exceptAll(dim1).count() == 0)
  }

  test("randomized merge sequences match an in-memory model (SURVEY §5.2)") {
    val rnd = new scala.util.Random(42) // seeded → deterministic run
    var dim = Scd2.emptyDim(spark, b1, spec)
    var model = Map.empty[Long, (String, String, String)]
    var versions = 0L
    for (step <- 1 to 6) {
      val rows = (1L to 12L).flatMap { k =>
        if (rnd.nextBoolean())
          Some((k, s"name-${rnd.nextInt(3)}", "C", s"cat-${rnd.nextInt(3)}"))
        else None
      }
      if (rows.nonEmpty) {
        val changed = rows.filterNot(r => model.get(r._1).contains((r._2, r._3, r._4)))
        // localCheckpoint breaks lineage between rounds: each merge
        // re-evaluates its input (max-key probe, expire join), so an
        // unbroken 6-deep chain would recompute every earlier round.
        // Real pipelines break it the same way by persisting the
        // dimension between runs.
        dim = Scd2.merge(dim, batch(rows: _*), spec,
          ts(f"2024-0$step%d-01 00:00:00")).localCheckpoint()
        model ++= changed.map(r => r._1 -> ((r._2, r._3, r._4)))
        versions += changed.size
        // model agreement: active rows are exactly the model state
        val active = dim.filter($"IsActive")
          .select("CustomerID", "CustomerName", "SearchType", "CategoryCode")
          .as[(Long, String, String, String)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(active == model, s"step $step")
        // row count: one row per historical version, keys unique
        assert(dim.count() == versions, s"step $step")
        assert(dim.select("CustomerKey").distinct().count() == versions)
        // one active row per key; expired rows chain contiguously
        assert(dim.filter($"IsActive").groupBy("CustomerID").count()
          .filter($"count" =!= 1).count() == 0)
        val gaps = dim.as("a").join(dim.as("b"),
          $"a.CustomerID" === $"b.CustomerID" &&
          $"a.ValidTo" === $"b.ValidFrom").count()
        assert(gaps == dim.filter(!$"IsActive").count(), s"step $step")
      }
    }
    assert(versions > 12, "scenario exercised repeated version churn")
  }

  test("invariants: one active row per key; non-overlapping contiguous ranges") {
    val b2 = batch((10L, "Acme2", "C", "100"), (20L, "Globex", "C", "999"),
      (30L, "Initech", "C", "300"))
    val b3 = batch((10L, "Acme3", "C", "100"))
    val d1 = Scd2.merge(Scd2.emptyDim(spark, b1, spec), b1, spec, ts("2024-01-01 00:00:00")).cache()
    val d2 = Scd2.merge(d1, b2, spec, ts("2024-02-01 00:00:00")).cache()
    val d3 = Scd2.merge(d2, b3, spec, ts("2024-03-01 00:00:00")).cache()
    val active = d3.filter($"IsActive").groupBy("CustomerID").count()
      .filter($"count" =!= 1).count()
    assert(active == 0)
    // keys unique
    assert(d3.select("CustomerKey").distinct().count() == d3.count())
    // ranges: each expired row's ValidTo equals the successor's ValidFrom
    val gaps = d3.as("a").join(d3.as("b"),
        $"a.CustomerID" === $"b.CustomerID" &&
        $"a.ValidTo" === $"b.ValidFrom", "inner").count()
    val expiredRows = d3.filter(!$"IsActive").count()
    assert(gaps == expiredRows)
  }

  test("measured bound fires: dimBroadcastMaxRows=0 merges via shuffle joins, " +
       "row-identical to the broadcast regime") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    // b2 exercises all three split branches against dim1: changed
    // hash (10), unchanged (20), new key (30) — so the lookup join
    // and the expire join both carry rows.
    val b2 = batch((10L, "Acme Corp", "C", "100"), (20L, "Globex", "C", "200"),
      (30L, "Initech", "C", "300"))
    val dim1 = Scd2.merge(Scd2.emptyDim(spark, b1, spec), b1, spec,
      ts("2024-01-01 00:00:00")).localCheckpoint()
    def dimJoins(p: SparkPlan): Seq[BaseJoinExec] = (p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case j: BaseJoinExec => j }
    // The lookup join runs inside the key assignment's checkpoint, so
    // it only shows in that job's plan; the expire join is in the
    // returned frame's plan. Returns (lookup joins, expire joins, rows).
    def mergeWithBound(bound: Long) = {
      var merged: org.apache.spark.sql.DataFrame = null
      val plans = executedPlans {
        merged = Scd2.merge(dim1, b2, spec, ts("2024-06-01 00:00:00"),
          dimBroadcastMaxRows = bound)
      }
      val lookup = plans.collect { case ("localCheckpoint", p) => p }.flatMap(dimJoins)
      (lookup, dimJoins(merged.queryExecution.executedPlan), merged)
    }
    def isBhj(j: BaseJoinExec) = j.isInstanceOf[BroadcastHashJoinExec]
    // Kill Catalyst's own size-based broadcasts so any BHJ left in the
    // plan can only come from Scd2.merge's explicit broadcast() hints
    // — the thing the measured bound exists to withhold.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (sLookup, sExpire, shuffled) = mergeWithBound(0L)
      assert(sLookup.size == 1 && sExpire.size == 1, s"$sLookup / $sExpire")
      assert(!sLookup.exists(isBhj) && !sExpire.exists(isBhj),
        "active-rows(2) > bound(0): lookup and expire joins must shuffle")
      // control: the default bound (4M rows) broadcasts (proves the
      // re-decision, not just the absence of broadcasts under a
      // hostile conf)
      val (bLookup, bExpire, bcast) = mergeWithBound(4000000L)
      assert(bLookup.size == 1 && bExpire.size == 1, s"$bLookup / $bExpire")
      assert(bLookup.forall(isBhj) && bExpire.forall(isBhj),
        "within the bound the lookup AND expire joins broadcast")
      assert(shuffled.exceptAll(bcast).count() == 0 &&
             bcast.exceptAll(shuffled).count() == 0,
        "shuffle and broadcast regimes must produce identical rows")
      assert(shuffled.count() == 4)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("merge result references the input dimension once (no plan growth)") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = tempDir("scd2-dim")
    Scd2.merge(Scd2.emptyDim(spark, b1, spec), b1, spec, ts("2024-01-01 00:00:00"))
      .write.mode("overwrite").parquet(dir)
    val b2 = batch((10L, "Acme Corp", "C", "100"), (30L, "Initech", "C", "300"))
    val merged = Scd2.merge(spark.read.parquet(dir), b2, spec, ts("2024-06-01 00:00:00"))
    val dimScans = merged.queryExecution.analyzed.collect {
      case r: LogicalRelation => r
    }
    assert(dimScans.size == 1, merged.queryExecution.analyzed.treeString)
    assert(merged.count() == 4 && merged.filter($"IsActive").count() == 3)
  }

  /** (funcName, executed plan) of every query `body` runs, checkpoints
    * included (as "localCheckpoint"). Listener events arrive
    * asynchronously but in order, so sentinel queries run before and
    * after the block bracket exactly its queries (as in [[JobCount]]). */
  private def executedPlans(body: => Any)
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.put(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.put(f -> qe)
    }
    def isSentinel(qe: QueryExecution, tag: String) =
      qe.analyzed.output.map(_.name) == Seq(tag)
    def sentinel(tag: String): Unit = spark.range(1).toDF(tag).collect()
    spark.listenerManager.register(listener)
    try {
      sentinel("plans_open")
      body
      sentinel("plans_close")
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map(e => { require(e != null, "listener bus stalled"); e })
        .takeWhile(e => !isSentinel(e._2, "plans_close")).toSeq
        .dropWhile(e => !isSentinel(e._2, "plans_open")).drop(1)
        .map { case (f, qe) => f -> qe.executedPlan }
    } finally spark.listenerManager.unregister(listener)
  }
}
