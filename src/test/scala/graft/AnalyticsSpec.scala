package graft

import org.apache.spark.sql.functions._

/** Scale-shape assertions for the analytics tier (q80–q89): the
  * correctness of these queries is oracle-checked by the driver; here
  * we pin the PLAN properties that make them survive 100 TB — tiny
  * sides broadcast, exactly one data shuffle where one suffices, and
  * order-independence where the fold claims it. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def hashExchanges(plan: String): Int =
    plan.linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("q84 histogram: global bounds broadcast; one aggregate shuffle") {
    val q = SparkEntry.queries("q84_value_histogram")(spark, sf)
    val plan = finalPlan(q)
    // the 1-row min/max bounds join the scan as a broadcast nested loop
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // binning is map-side: the only hash exchange feeds the 20-row agg
    assert(hashExchanges(plan) == 1, s"expected 1 shuffle:\n${plan.take(1200)}")
  }

  test("q85 reservoir: one hash shuffle for the per-group rank window") {
    val q = SparkEntry.queries("q85_group_reservoir")(spark, sf)
    val plan = finalPlan(q)
    assert(hashExchanges(plan) == 1, s"expected 1 shuffle:\n${plan.take(1200)}")
    // rank filter is applied before the final presentation sort
    assert(q.groupBy($"source").count().agg(max($"count")).as[Long].head() <= 5)
  }

  test("q89 checksum is partitioning- and order-independent") {
    val base = SparkEntry.queries("q89_table_checksum")(spark, sf)
      .as[(String, Long, Long)].collect()
      .map { case (t, _, cs) => t -> cs }.toMap
    // recompute the orders checksum from a deliberately scrambled layout
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .repartition(13, $"o_orderstatus")
      .sortWithinPartitions($"o_totalprice")
    val h = o.select(
      conv(substring(md5(concat_ws("|",
        $"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice".cast("decimal(18,2)"),
        unix_millis($"o_orderdate".cast("timestamp")),
        $"o_orderpriority")), 1, 15), 16, 10).cast("long").as("h"))
      .agg(expr("bit_xor(h)")).as[Long].head()
    assert(base("orders") == h,
      "xor fold must not depend on partitioning or row order")
    // map-side partial fold: exactly one exchange feeds the 2-row agg
    val plan = finalPlan(SparkEntry.queries("q89_table_checksum")(spark, sf))
    assert(hashExchanges(plan) == 1, s"expected 1 shuffle:\n${plan.take(1200)}")
  }

  test("q81 gap fill emits a dense day × type grid") {
    val q = SparkEntry.queries("q81_daily_gap_fill")(spark, sf).cache()
    try {
      val days = q.select($"day").distinct().count()
      val types = q.select($"event_type").distinct().count()
      assert(q.count() == days * types, "every (day, type) cell present")
      // zero-filled cells exist only if the raw data actually has gaps;
      // either way no cell is null
      assert(q.filter($"n_events".isNull).count() == 0)
    } finally q.unpersist()
  }

  test("q91 HLL sketches: within 5% of exact; union of sketches = sketch of union") {
    val rows = SparkEntry.queries("q91_hll_sketch_union")(spark, sf)
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // every sketch landed inside the 5% bound the query itself checks
    assert(rows.forall(_._3),
      s"out-of-bound sketches: ${rows.filterNot(_._3).mkString(", ")}")
    val exact = rows.map(r => r._1 -> r._2).toMap
    assert(exact.contains("__corpus__"))
    // merging per-source sketches must equal sketching the whole corpus
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source",
        explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
    val direct = toks.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(token))")).as[Long].head()
    val viaUnion = toks.groupBy($"source")
      .agg(expr("hll_sketch_agg(token)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).as[Long].head()
    assert(viaUnion == direct,
      "hll_union_agg of partials must reproduce the direct sketch")
  }

  test("q92 approx percentiles land within 0.5% of exact") {
    val rows = SparkEntry.queries("q92_approx_percentiles")(spark, sf)
      .as[(String, Double, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._4),
      s"out-of-bound estimates: ${rows.filterNot(_._4).mkString(", ")}")
    // the exact side the flags were judged against is itself right
    val exact = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy($"o_orderstatus".as("status"))
      .agg(expr("percentile(CAST(o_totalprice AS DOUBLE), array(0.5, 0.9))").as("p"))
      .select($"status", round(element_at($"p", 1), 4), round(element_at($"p", 2), 4))
      .as[(String, Double, Double)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    rows.foreach { case (st, p50, p90, _) =>
      assert((p50, p90) == exact(st), s"$st: ($p50,$p90) vs ${exact(st)}")
    }
  }

  test("incremental dedup: survivors are exactly new-and-first fingerprints") {
    import graft.operators.Dedup
    val hist = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha  TEXT "),  // normalizes to a history fingerprint → dropped
      (11L, "gamma text"),    // new → kept
      (12L, "gamma text"),    // batch-internal dup of 11 → dropped
      (13L, "delta text")     // new → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalSurvivors(batch, hist)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(11L, 13L))
    // schema passes through unchanged (no helper columns leak)
    assert(Dedup.incrementalSurvivors(batch, hist).columns.toSeq ==
      Seq("doc_id", "text"))
  }

  test("observed metrics ride the write pass — no second scan") {
    import graft.operators.Quality
    val df = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "v")
    val (instrumented, obs) = Quality.observed(df, "load_metrics", Map(
      "n_rows" -> count(lit(1)),
      "n_null_v" -> count(when($"v".isNull, 1))))
    val out = tempDir("graft_obs")
    instrumented.write.mode("overwrite").parquet(out)
    val m = obs.get
    assert(m("n_rows") == 3L && m("n_null_v") == 1L)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("vacuumGold keeps the newest runs and deletes the rest") {
    import graft.sources.{LakeIO, LakeZones}
    val lake = tempDir("graft_vac")
    val zones = LakeZones(lake)
    Seq("2024-01-01", "2024-01-02", "2024-01-03").zipWithIndex.foreach {
      case (id, i) =>
        LakeIO.appendGoldRun(Seq((i.toLong, id)).toDF("k", "v"), zones,
          "runs", id)
    }
    val deleted = LakeIO.vacuumGold(spark, zones, "runs", keepLast = 2)
    assert(deleted == Seq("2024-01-01"))
    val left = LakeIO.readGold(spark, zones, "runs")
    assert(left.select($"load_id").distinct().as[String].collect().sorted.toSeq
      == Seq("2024-01-02", "2024-01-03"))
    // idempotent and bounded below by keepLast
    assert(LakeIO.vacuumGold(spark, zones, "runs", keepLast = 2).isEmpty)
    // missing table is a no-op
    assert(LakeIO.vacuumGold(spark, zones, "nope", keepLast = 1).isEmpty)
  }

  test("pageRank matches in-memory power iteration on a weighted digraph") {
    import graft.operators.LinkAnalysis
    // a -> b (2), a -> c (1), b -> c (1), c -> a (1): c collects mass
    val edges = Seq(
      ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
    val got = LinkAnalysis.pageRank(edges.toDF("src", "dst", "weight"),
        iters = 5, damping = 0.85)
      .as[(String, Double)].collect().toMap

    // reference power iteration
    val nodes = Seq("a", "b", "c")
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> 1.0 / 3).toMap
    for (_ <- 1 to 5) {
      val in = nodes.map { v =>
        v -> edges.filter(_._2 == v)
          .map { case (s, _, w) => r(s) * w / outW(s) }.sum
      }.toMap
      r = nodes.map(v => v -> (0.15 / 3 + 0.85 * in(v))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-12, s"$v: ${got(v)} vs ${r(v)}")
    }
    // ranks form a distribution (no dangling nodes in this graph)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)

    // the fixed-point integer variant tracks the float iteration to
    // the documented ~|V|/scale error and preserves the ranking
    val scale = 1000000000L
    val exact = LinkAnalysis.pageRankExact(
        edges.map { case (s, d, w) => (s, d, w.toLong) }.toDF("src", "dst", "weight"),
        iters = 5, scale = scale)
      .as[(String, Long)].collect().toMap
    nodes.foreach { v =>
      val approx = exact(v).toDouble / scale
      assert(math.abs(approx - r(v)) < 1e-6, s"$v: $approx vs ${r(v)}")
    }
    assert(nodes.sortBy(v => -got(v)) == nodes.sortBy(v => -exact(v)))
  }

  test("labelPropagation matches a sequential sync-LPA on a bridged two-clique graph") {
    import graft.operators.LinkAnalysis
    // clique {a,b,c} — bridge c–x — clique {x,y,z}
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x"))
    val rounds = 4
    val got = LinkAnalysis.labelPropagation(edges.toDF("a", "b"), rounds)
      .as[(String, String)].collect().toMap

    // sequential synchronous reference with the same tie-break
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = adj.map { case (v, us) =>
        val votes = us.groupBy(lbl).view.mapValues(_.size).toSeq
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got === lbl)
    // the cliques converge to one community each
    assert(Set("a", "b", "c").map(got).size == 1)
    assert(Set("x", "y", "z").map(got).size == 1)
  }

  test("kCore matches a sequential synchronous peel, extra rounds are no-ops") {
    import graft.operators.LinkAnalysis
    // 4-clique {a,b,c,d} + pendant path d–e–f: 3-core = the clique
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"))
    val k = 3
    val got = LinkAnalysis.kCore(edges.toDF("a", "b"), k, rounds = 6)
      .as[(String, Long)].collect().toMap

    // sequential synchronous reference peel with the same round count
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var alive = adj.keySet
    var deg = Map.empty[String, Int]
    for (_ <- 1 to 6) {
      deg = alive.map(v => v -> (adj(v) & alive).size).toMap
        .filter(_._2 >= k)
      alive = deg.keySet
    }
    assert(got === deg.map { case (v, d) => v -> d.toLong })
    assert(got.keySet == Set("a", "b", "c", "d"))
    assert(got.values.toSet == Set(3L))
  }

  test("audited CSV read quarantines malformed rows, loads the rest") {
    import graft.sources.LakeIO
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in.csv"),
      ("id,qty\n" +            // header
        "1,10\n" +             // clean
        "2,notanumber\n" +     // type failure → quarantined
        "3,30\n").getBytes)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType)))
    val (clean, corrupt) = LakeIO.readCsvAudited(spark, s"$dir/in.csv", schema)
    assert(clean.count() == 2)
    assert(clean.columns.toSeq == Seq("id", "qty"))
    val bad = corrupt.as[String].collect()
    assert(bad.length == 1 && bad(0).contains("notanumber"))
  }

  test("q86 winsorize bounds clamp the clipped mean between p05 and p95") {
    val rows = SparkEntry.queries("q86_winsorize")(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (seg, n, p05, p95, mean) =>
      assert(p05 <= p95, s"$seg bounds ordered")
      assert(mean >= p05 && mean <= p95, s"$seg mean within clip bounds")
      assert(n > 0)
    }
  }
}
