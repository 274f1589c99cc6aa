package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.sources.{LakeIO, LakeZones}

/** Scale-contract mechanics that sf-level correctness doesn't expose:
  * bucketed co-located joins (no shuffle), Bronze partition pruning
  * (filter reaches the file index), salted-join skew spreading. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    o.write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    c.write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_orders").join(spark.table("b_customer"),
        $"o_custkey" === $"c_custkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n${plan.take(800)}")
      assert(j.count() == 1500)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("bronze ingest-date filter becomes a partition filter (pruning)") {
    val lake = tempDir("graft_prune")
    val zones = LakeZones(lake)
    val day1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val day2 = Seq((3, "c")).toDF("id", "v")
    LakeIO.writeBronze(day1, zones, "t", LocalDate.of(2024, 6, 1))
    LakeIO.writeBronze(day2, zones, "t", LocalDate.of(2024, 6, 2))

    val pruned = LakeIO.readBronze(spark, zones, "t", Some(LocalDate.of(2024, 6, 1)))
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("ingest_year"),
      s"ingest-date predicate must prune partitions:\n${scan.take(800)}")
    // and no data filter is wasted on partition columns
    assert(LakeIO.readBronze(spark, zones, "t", None).count() == 3)
  }

  test("filters and projections reach the parquet scan") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val q = li.filter($"l_quantity" > 30)
      .select($"l_orderkey", $"l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    // predicate pushed into the file source (row-group/page skipping)
    assert(scan.contains("PushedFilters") &&
      scan.replaceAll("\\s", "").contains("GreaterThan(l_quantity,30"),
      s"filter must reach the scan:\n${scan.take(900)}")
    // column pruning: the scan reads ONLY the two projected columns
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan must prune unused columns: $readSchema")
  }

  test("q163 date predicates reach both scans; top-k plans as TakeOrdered") {
    val df = SparkEntry.queries("q163_ship_priority")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString.replaceAll("\\s", "")
    assert(plan.contains("GreaterThan(l_shipdate"),
      "l_shipdate filter must push to the lineitem scan")
    assert(plan.contains("LessThan(o_orderdate"),
      "o_orderdate filter must push to the orders scan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must not materialize a global sort")
  }

  test("q162 star: all five dims broadcast; fact shuffles once for the agg") {
    val df = SparkEntry.queries("q162_market_share")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 5, s"expected >=5 broadcast joins, saw $bhj")
    assert(!plan.contains("SortMergeJoin"),
      "the fact path must never sort-merge against a dimension")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, // fact agg + tiny post-agg window frame
      s"fact should shuffle once (plus the post-agg window), saw $shuffles:\n" +
        plan.take(800))
  }

  test("whole-stage codegen covers the aggregate hot path") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val agg = li.groupBy($"l_returnflag").agg(sum($"l_quantity"))
    agg.collect() // AQE finalizes (and codegens) the plan on execution
    val plan = agg.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the plan string
    assert(plan.contains("*("), plan.take(600))
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")),
      s"aggregate must sit inside a codegen span:\n${plan.take(600)}")
  }

  test("boilerplate removal shuffles hashed line keys, not line text") {
    import graft.operators.TextAnalysis
    val docs = (1 to 50).map(i => (i.toLong, s"hdr\nbody $i\nfoot"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, minDocFreq = 10)
    val plan = out.queryExecution.executedPlan.toString
    // the frequency-count aggregation groups on the xxhash64 key only
    assert(plan.contains("xxhash64"), plan.take(800))
    assert(out.count() == 50)
  }

  test("rolling range-frame window runs one shuffle and stays ordered") {
    val q = SparkEntry.queries("q62_rolling_range")(
      spark, "/root/testdata/sf0.001")
    q.collect()
    // under AQE the plan string appends an "Initial Plan" section —
    // count exchanges in the final plan only
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // exactly one hash exchange (user_id) feeds the window; the final
    // orderBy adds a range exchange for output determinism
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected one hash exchange:\n${plan.take(900)}")
    assert(plan.contains("RangeFrame"), plan.take(900))
  }

  test("snapshot diff is a single full-outer join, no extra passes") {
    import graft.operators.Reconcile
    val before = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val after = (2 to 101).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val out = Reconcile.snapshotDiff(before, after, Seq("k"), Seq("v"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("FullOuter"), plan.take(600))
    // both sides scanned once each: one join, two scans (local relations)
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin") || l.contains("BroadcastNestedLoopJoin"))
    assert(joins == 1, s"one join expected:\n${plan.take(900)}")
  }

  test("z-order layout clusters BOTH dimensions; single-sort does not") {
    import graft.sources.ZOrder
    // 64×64 grid of (x, y) points
    val grid = spark.range(64L * 64)
      .select(($"id" % 64).as("x"), ($"id" / 64).as("y"))
    val dirZ = tempDir("graft_z")
    val dirX = tempDir("graft_x")
    ZOrder.writeZOrdered(grid, Seq("x", "y"), dirZ, nFiles = 16, bitsPerCol = 6)
    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(dirX)

    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter($"y" >= 10 && $"y" < 18) // selective filter on the SECOND dim
        .select(input_file_name()).distinct().count()

    val zFiles = filesTouched(dirZ)
    val xFiles = filesTouched(dirX)
    // x-sorted layout scatters y across every file; the z-curve keeps
    // a y-slice inside a small subset
    assert(xFiles == 16, s"x-sorted layout should touch all files, got $xFiles")
    assert(zFiles <= 8, s"z-ordered layout should localize the y-slice, got $zFiles")
    // layout change must not change content
    assert(spark.read.parquet(dirZ).count() == 64L * 64)
    // interleave correctness: bit i of each bucket lands at stride positions
    val z = Seq((3L, 5L)).toDF("a", "b")
      .select(ZOrder.interleave(Seq($"a", $"b"), 3).as("z"))
      .as[Long].head()
    // a=3=0b011, b=5=0b101 → z bits (b2 a2 b1 a1 b0 a0) = 1 0 0 1 1 1 = 39
    assert(z == 39L, s"interleave(3,5)=$z")
  }

  test("salted join: correct result and hot key spread across salts") {
    // hot key: 10k facts on one key, 10 on another
    val facts = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 10).map(i => (2L, i.toLong))).toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "cold"), (3L, "none")).toDF("k", "name")
    val joined = Skew.saltedJoin(facts, dim, "k", saltBuckets = 8,
      factSaltCols = Seq("payload"))
    assert(joined.count() == 10010)
    val perName = joined.groupBy("name").count().as[(String, Long)].collect().toMap
    assert(perName("hot") == 10000L && perName("cold") == 10L)
    // the hot key's rows actually use multiple salt values
    val salts = facts.filter($"k" === 1L)
      .select(Skew.salt(8, $"payload")).distinct().count()
    assert(salts == 8L)
    // left join keeps unmatched fact keys
    val lf = Seq((9L, 1L)).toDF("k", "payload")
    val lj = Skew.saltedJoin(lf, dim, "k", 4, "left", Seq("payload"))
    assert(lj.count() == 1 && lj.filter($"name".isNull).count() == 1)
    // dim-preserving join types are rejected: replication would emit
    // every unmatched dim row once per salt bucket (ADVICE r01)
    Seq("right", "full", "full_outer").foreach { jt =>
      val e = intercept[IllegalArgumentException] {
        Skew.saltedJoin(facts, dim, "k", 4, jt, Seq("payload"))
      }
      assert(e.getMessage.contains("salt bucket"))
    }
  }

  test("kmeans assignment shuffles N rows once, never the N×C score matrix") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val assigned = graft.operators.Clustering.assignCells(e,
      graft.operators.Clustering.seedCentroids(e, 50))
    val plan = assigned.queryExecution.executedPlan.toString
    // centroids broadcast to the corpus scan (cross join, build right)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // exactly ONE data exchange: the (n_id, n_v) argmax aggregate;
    // the partial aggregate collapses N×C → N before it
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n${plan.take(1200)}")
    assert(plan.indexOf("Aggregate") < plan.indexOf("Exchange hashpartitioning"),
      "partial aggregate must sit above (before) the exchange in the plan tree")
  }

  test("heavy hitters: candidate set broadcasts; no full-vocabulary shuffle") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
    val hh = graft.operators.Sketches.heavyHitters(spark, toks, phi = 0.005)
    val plan = hh.queryExecution.executedPlan.toString
    // the exact pass semi-joins against the broadcast candidates
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(800))
  }

  test("stats index skips files outside the predicate range; result is exact") {
    import graft.sources.StatsIndex
    val dir = tempDir("graft_stats")
    // range-partitioned sort ⇒ disjoint per-file shipdate envelopes
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartitionByRange(8, $"l_shipdate")
      .write.mode("overwrite").parquet(dir)

    val idx = StatsIndex.build(spark, dir, Seq("l_shipdate")).cache()
    val nFiles = idx.count()
    assert(nFiles >= 8, s"expected >= 8 data files, got $nFiles")
    assert(idx.agg(sum($"n_rows")).as[Long].head() ==
      spark.read.parquet(dir).count())

    val lo = java.sql.Timestamp.valueOf("1997-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-08-31 23:59:59")
    val cand = StatsIndex.candidateFiles(idx, "l_shipdate", lo, hi)
    assert(cand.nonEmpty && cand.size < nFiles,
      s"pruning must drop files: ${cand.size}/$nFiles survived")

    val pruned = StatsIndex.prunedRead(spark, dir, idx, "l_shipdate", lo, hi)
    val full = spark.read.parquet(dir)
      .filter($"l_shipdate" >= lo && $"l_shipdate" <= hi)
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.agg(sum($"l_orderkey")).as[Long].head() ==
      full.agg(sum($"l_orderkey")).as[Long].head())

    // an empty-envelope probe keeps the schema and proves zero rows
    val none = StatsIndex.prunedRead(spark, dir, idx, "l_shipdate",
      java.sql.Timestamp.valueOf("1990-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("1990-01-02 00:00:00"))
    assert(none.schema == full.schema && none.count() == 0)
    idx.unpersist()
  }

  test("dim filter prunes fact partitions at runtime (dynamic partition pruning)") {
    val dir = tempDir("graft_dpp")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year($"o_orderdate"))
    o.write.partitionBy("o_year").mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // a tiny dim whose FILTER (not a literal on the fact) selects one year:
    // the partition filter is only knowable at runtime, the DPP case.
    // The dim must be a real scan — a LocalRelation would constant-fold
    // the filter away and DPP would see no selective predicate.
    (1995 to 2001).map(y => (y, if (y == 1997) "keep" else "drop"))
      .toDF("d_year", "flag").write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val j = fact.join(dim.filter($"flag" === "keep"), fact("o_year") === $"d_year")
    val expected = o.filter($"o_year" === 1997).count()
    assert(j.count() == expected && expected > 0)
    val scan = j.queryExecution.executedPlan.toString
    assert(scan.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning partition filter:\n${scan.take(1200)}")
  }

  test("iterative operators: identical results and constant-size plans in both checkpoint modes") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 5L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")

    def planLines(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size

    val local = Dedup.connectedComponents(pairs)
    val localRows = local.as[(Long, Long)].collect().sorted.toSeq
    // lineage is truncated: the returned plan reads checkpointed data,
    // not the whole iteration history
    assert(planLines(local) < 10, local.queryExecution.optimizedPlan.toString)

    val dir = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rel = Dedup.connectedComponents(pairs)
      assert(rel.as[(Long, Long)].collect().sorted.toSeq == localRows)
      assert(planLines(rel) < 10, rel.queryExecution.optimizedPlan.toString)
      // blocks actually went to the reliable checkpoint dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"expected checkpoint files under $dir")
      // the trainer honors the same policy end-to-end
      val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
      val merges = graft.operators.TextAnalysis
        .bpeTrain(docs.toDF("text"), nMerges = 4)
        .as[(Long, String, String, String, Long)].collect().toSeq
      assert(merges.take(2).map(r => (r._2, r._3)) == Seq(("e", "s"), ("es", "t")))
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("reliable truncation writes under the checkpoint dir the session names now") {
    import graft.operators.Checkpoints
    import org.apache.spark.sql.execution.LogicalRDD
    def filesUnder(dir: String): Long =
      Files.walk(java.nio.file.Paths.get(dir)).filter(Files.isRegularFile(_)).count()
    def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
        .flatMap(_.getCheckpointFile)
    // the lineage cuts of an iterative operator and of the audited
    // CSV read go through the same rule
    val csv = s"${tempDir("graft_ckpt_csv")}/in.csv"
    Files.writeString(java.nio.file.Paths.get(csv), "id,v\n1,a\n2,b\n")
    val csvSchema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string")
    def truncated(n: Int) =
      (Checkpoints.truncate(spark.range(n).toDF()),
        LakeIO.readCsvAudited(spark, csv, csvSchema)._1)
    val dirs = Seq.fill(2)(tempDir("graft_ckpt_dir"))
    try dirs.foreach { dir =>
      spark.sparkContext.setCheckpointDir(dir)
      val (t, clean) = truncated(100)
      assert(t.count() == 100 && clean.count() == 2)
      assert(filesUnder(dir) > 0, s"expected checkpoint files under $dir")
      for (df <- Seq(t, clean))
        assert(checkpointFile(df).exists(_.contains(new java.io.File(dir).getName)))
    } finally spark.sparkContext.setCheckpointDir(null)
    val before = dirs.map(filesUnder)
    val (t, clean) = truncated(10)
    assert(t.count() == 10 && clean.count() == 2)
    assert(checkpointFile(t).isEmpty && checkpointFile(clean).isEmpty)
    assert(dirs.map(filesUnder) == before)
  }

  test("q106/q156/q153: no Window or SinglePartition exchange survives in any plan") {
    // round-6 verdict's two `weak` queries (three global ntile windows
    // each) plus the q153 global row_number nit: all corpus-frame
    // ranks now come from Ids.addContiguousIds (range partition +
    // driver-side offsets) + ntileFromRank arithmetic, so the executed
    // plans must carry NO window operator and NO single-partition exchange
    // at all (the final orderBy plans as rangepartitioning /
    // TakeOrderedAndProject)
    for (q <- Seq("q106_rfm_segments", "q156_zorder_skipping", "q153_rrf_hybrid")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
      assert(windows.isEmpty, s"$q must not plan a window:\n${windows.mkString("\n")}")
      // a SinglePartition exchange is only legitimate under a scalar
      // aggregate, where the partial aggregate collapses each input
      // partition to ONE row before the exchange — never for data
      val lines = plan.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val child = lines.lift(i + 1).getOrElse("")
          assert(child.contains("HashAggregate") && child.contains("partial_"),
            s"$q: SinglePartition exchange over non-aggregated data:\n" +
              lines.slice(i - 2, i + 3).mkString("\n"))
        }
    }
  }

  test("q106 quintiles and q156 bins are bit-identical to the global NTILE windows") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01"
    // q106: the oracle's three NTILE(5) windows, rebuilt in Spark —
    // the rank+arithmetic form must reproduce them exactly (15000
    // orders / 1500 customers: n % 5 = 0 here; non-divisible shapes
    // are pinned by IdsSpec's (n, k) grid)
    val m = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy($"o_custkey")
      .agg(max(unix_millis($"o_orderdate".cast("timestamp"))).as("last_ms"),
        count(lit(1)).as("frequency"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("m_dec"))
    def quint(order: org.apache.spark.sql.Column*) =
      ntile(5).over(Window.orderBy(order: _*)).cast("long")
    val want106 = m
      .withColumn("r_q", quint($"last_ms".desc, $"o_custkey"))
      .withColumn("f_q", quint($"frequency".desc, $"o_custkey"))
      .withColumn("m_q", quint($"m_dec".desc, $"o_custkey"))
      .select($"o_custkey", $"r_q", $"f_q", $"m_q")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got106 = SparkEntry.queries("q106_rfm_segments")(spark, dir)
      .select($"o_custkey", $"r_q", $"f_q", $"m_q")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got106 == want106 && got106.nonEmpty)

    // q156: 15000 orders with 15000 % 32 = 24 — the fat/thin bucket
    // mix is exercised; ntile binning vs rank arithmetic must agree
    // on the final 3-row audit
    val zSqlT = (0 until 5).map(b =>
      s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", ($"o_custkey" % 32).as("x"),
        (dayofyear($"o_orderdate").cast("long") % 32).as("y"))
      .withColumn("z", expr(zSqlT))
      .withColumn("matched",
        ($"x".between(8, 15) && $"y".between(8, 15)).cast("long"))
    def ntileSummary(layout: String, ord: Seq[org.apache.spark.sql.Column]) =
      base.withColumn("f", ntile(32).over(Window.orderBy(ord: _*)))
        .groupBy($"f")
        .agg(min($"x").as("min_x"), max($"x").as("max_x"),
          min($"y").as("min_y"), max($"y").as("max_y"),
          sum($"matched").as("m"))
        .agg(count(lit(1)).as("files_total"),
          sum(($"min_x" <= 15 && $"max_x" >= 8 &&
            $"min_y" <= 15 && $"max_y" >= 8).cast("long")).as("files_hit"),
          sum($"m").as("rows_matched"))
        .select(lit(layout).as("layout"), $"files_total", $"files_hit",
          $"rows_matched")
    val want156 = ntileSummary("a_insertion", Seq($"o_orderkey"))
      .unionAll(ntileSummary("b_linear_x", Seq($"x", $"o_orderkey")))
      .unionAll(ntileSummary("c_zorder", Seq($"z", $"o_orderkey")))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got156 = SparkEntry.queries("q156_zorder_skipping")(spark, dir)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got156 == want156 && got156.size == 3)
  }

  test("ANN top-k: rank<=k plans a map-side PARTIAL WindowGroupLimit, " +
    "so per-task window frames are k-bounded at any corpus size") {
    // bruteForceTopK's per-query window partitions on q_id; without
    // pruning, one task would hold a query's ENTIRE scored corpus.
    // Spark's WindowGroupLimit rewrite inserts a Partial-mode limit
    // BELOW the exchange — each map partition ships at most k rows per
    // query — and a Final-mode limit above it. Pinning that here makes
    // the brute-force baseline's shuffle k-bounded by assertion, not
    // assumption (the cosine scoring pass stays O(N·|Q|), which is
    // what the SRP/IVF tiers exist to beat).
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (q <- Seq("q35_knn_bruteforce", "q36_knn_srp_lsh", "q37_knn_ivf")) {
        val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        val wgls = df.queryExecution.executedPlan.collect {
          case w: WindowGroupLimitExec => w
        }
        assert(wgls.exists(_.mode == Partial),
          s"$q: expected a map-side Partial WindowGroupLimit; saw modes " +
            s"${wgls.map(_.mode).mkString(",")}")
        assert(df.count() > 0)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q31 verification joins: broadcast regime and shuffle regime produce " +
    "identical pairs (the sf4 byte step is ONLY the planned strategy flip)") {
    // SCALING_NOTES attributes q31's one-time sf4 shuffle-byte step to
    // the shingle-set side crossing the broadcast threshold; this pins
    // that attribution as an asserted fact: both physical strategies
    // exist, are chosen by the threshold, and agree bit-for-bit
    import graft.operators.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def run() = Dedup.minhashLsh(docs)
      .orderBy($"id_a", $"id_b")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      val bc = run(); bc.collect()
      val planBc = bc.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(planBc.contains("BroadcastHashJoin"),
        s"small-sf regime must broadcast the shingle sets:\n${planBc.take(900)}")

      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sh = run(); sh.collect()
      val planSh = sh.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!planSh.contains("BroadcastHashJoin") &&
        (planSh.contains("SortMergeJoin") || planSh.contains("ShuffledHashJoin")),
        s"above-threshold regime must shuffle the verification joins:\n${planSh.take(900)}")

      val a = bc.as[(Long, Long, Long, Long, Double)].collect().toSeq
      val b = sh.as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(a == b && a.nonEmpty, s"regimes disagree: ${a.size} vs ${b.size} pairs")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("q149 block-keyed windows: partitioned big window, bounded boundary frame, " +
    "pair set equals the global formulation") {
    import graft.functions.JaroWinklerExpr.jaro_winkler
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01"
    val q149 = SparkEntry.queries("q149_jaro_winkler_linkage")
    val df = q149(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-sized window ranks per name-prefix block: its exchange
    // hash-partitions on blk, so it parallelizes at any scale
    assert(plan.contains("hashpartitioning(blk"),
      s"expected a blk-partitioned window exchange:\n${plan.take(1200)}")
    // the one remaining global window runs over the boundary frame only,
    // which is bounded by 4 rows per block regardless of corpus size
    val base = spark.read.parquet(s"$dir/part.parquet")
      .filter($"p_partkey" % 20 === 0)
      .select($"p_partkey", $"p_name", substring($"p_name", 1, 7).as("blk"))
    val nBlocks = base.select(countDistinct($"blk")).head().getLong(0)
    val wb = Window.partitionBy($"blk").orderBy($"p_name", $"p_partkey")
    val boundaryRows = base
      .withColumn("rn", row_number().over(wb))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"blk")))
      .filter($"rn" <= 2 || $"rn" > $"cnt" - 2)
      .count()
    assert(boundaryRows <= 4 * nBlocks,
      s"boundary frame $boundaryRows rows > 4 x $nBlocks blocks")
    // lossless decomposition: identical pair set to the one global
    // sorted-neighborhood window (the formulation the oracle uses)
    val wg = Window.orderBy($"p_name", $"p_partkey")
    val global = base
      .withColumn("nbrs", array(
        struct(lead($"p_partkey", 1).over(wg).as("b_key"),
          lead($"p_name", 1).over(wg).as("b_name")),
        struct(lead($"p_partkey", 2).over(wg).as("b_key"),
          lead($"p_name", 2).over(wg).as("b_name"))))
      .select($"p_partkey".as("a_key"), $"p_name".as("a_name"),
        explode($"nbrs").as("b"))
      .filter($"b.b_key".isNotNull)
      .withColumn("jw", round(jaro_winkler($"a_name", $"b.b_name"), 6))
      .filter($"jw" >= 0.5)
      .select($"a_key", $"b.b_key".as("b_key"), $"jw")
    val got = df.as[(Long, Long, Double)].collect().sorted.toSeq
    val want = global.as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got == want, s"pair sets differ: ${got.size} vs ${want.size} rows")
    assert(got.nonEmpty)
  }

  test("q226: the eval-ngram bloom prune is IN the plan, before the overlap join") {
    // the decontamination join's scale story is map-side pruning of
    // the exploded train-ngram mass by an in-plan bloom filter over
    // the (much smaller) eval ngram set — assert the predicate is
    // planted, not just documented
    val df = SparkEntry.queries("q226_eval_contamination")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"q226 must carry the bloom might_contain predicate:\n${plan.take(900)}")
    assert(df.collect().nonEmpty)
  }

  test("q39: rank prune reaches the map side; no corpus-frame window survives") {
    // round-8 rewrite: the window keeps ONLY row_number (+ rk <= 3),
    // which InferWindowGroupLimit turns into a Partial (map-side)
    // top-3-per-priority prune — ≤ 15 rows leave any scan task and the
    // WindowExec sorts 3-row frames at ANY corpus size. pr/cd/ntile
    // are arithmetic over a broadcast 5-row count, so none of the
    // frame-hungry window functions may reappear in the plan.
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val df = SparkEntry.queries("q39_rank_distribution")(spark, sf)
      assert(df.count() == 15, s"q39 at $sf")
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // the Partial token must sit ON the WindowGroupLimit node (a
      // Final-mode limit plus an unrelated "Partial" elsewhere in the
      // plan is NOT a map-side prune)
      assert(plan.linesIterator.exists(l =>
          l.contains("WindowGroupLimit") && l.contains("Partial")),
        s"q39 must plan a map-side (Partial) rank prune:\n${plan.take(1200)}")
      for (banned <- Seq("percent_rank", "cume_dist", "ntile"))
        assert(!plan.contains(banned),
          s"q39 must not plan a full-frame $banned window:\n${plan.take(1200)}")
    }
  }

  test("span dedup (q130/q134/q227): repeat detection shuffles xxhash64 keys; " +
    "no per-token position explode survives") {
    // all three exact-substring operators route duplicate-window
    // detection through TextAnalysis.repeatedWindowStarts — the
    // corpus-wide occurrence count groups 64-bit hashes and only
    // hash-repeat candidates are re-materialized as strings. Assert
    // the prefilter is IN the executed plan, and that q134's old
    // one-row-per-corpus-token frame (posexplode of the raw token
    // array, shuffled through semi/anti joins and a collect_list
    // rebuild) never reappears in any of them.
    // the hash prefilter now lives behind repeatedWindowStarts'
    // round-14 lineage truncation (the winsH frame feeds two
    // consumers and materializes once), so the final query plans show
    // an opaque checkpoint scan — pin the prefilter design on the
    // exact subtree the operator checkpoints instead
    val toksProbe = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("_id"),
        graft.functions.TextFunctions.tokens($"text").as("t"))
    val winsPlan = graft.operators.TextAnalysis
      .windowHashes(toksProbe, 16, 4)
      .queryExecution.executedPlan.toString
    assert(winsPlan.contains("xxhash64"),
      s"repeatedWindowStarts' window frame must shuffle xxhash64 keys:\n" +
        winsPlan.take(900))
    for (q <- Seq("q130_duplicate_spans", "q134_drop_duplicate_spans",
        "q227_exact_substring_spans")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect()
      // the FINAL adaptive plan, as a string: AQE wraps materialized
      // stages in leaf QueryStageExec nodes, so node-level collect()
      // can't see inside them — the printed tree can.
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // repeatedWindowStarts owns two generators: the posexplode of
      // the per-window hash array (checkpointed — no longer printed in
      // the final plan) and the explode of the packed candidate-window
      // structs, printed twice because candWins feeds both the
      // repeat-count aggregate and the semi join — ≤ 2 visible
      // Generate lines today. Any growth — under whatever alias, via
      // explode or posexplode — is a per-token frame creeping back in
      // (q134's pre-round-7 plan: one row per corpus token through
      // semi/anti joins), so count Generate lines instead of
      // pattern-matching one attribute name.
      val nGenerate = plan.split("\n").count(_.contains("Generate "))
      assert(nGenerate > 0 && nGenerate <= 2,
        s"$q plans $nGenerate Generate lines (today's plan prints ≤ 2); " +
          s"a per-token explode has crept back in:\n${plan.take(1500)}")
      assert("(pos)?explode\\(t#\\d".r.findFirstIn(plan).isEmpty,
        s"$q must not explode one row per corpus token:\n${plan.take(900)}")
    }
  }
}
