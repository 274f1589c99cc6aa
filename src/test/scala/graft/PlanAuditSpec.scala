package graft

/** Plan-quality tripwire across the WHOLE query registry: no
  * registered query may plan a CartesianProduct (the do-not-ship
  * join — at 100 TB it is a cluster-killer; every intentional
  * small-side cross is a BroadcastNestedLoopJoin over a broadcast
  * stats frame instead). Runs on sf0.001 — plan shapes, not
  * timings. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("no registered query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        spark.catalog.clearCache()
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian products in: ${offenders.mkString(", ")}")
  }

  /** Global (un-partitioned) windows serialize their whole frame
    * through one task. Every allowlisted frame is bounded by DOMAIN,
    * not by corpus size, so the single partition holds O(constant)
    * rows at any scale — audited in the owning query's docstring.
    * Anything NOT in the list that plans a global window is a 100 TB
    * regression and fails the tripwire. Each entry maps the query to
    * the measured frame-row cap its docstring claims (the domain
    * bound one task must hold at any corpus size); the
    * "documented caps (measured)" case below measures every cap at
    * two sfs. */
  private val boundedGlobalWindowFrames: Map[String, Long] = Map(
    "q102_cumulative_users" -> 40L,      // per-day frame (#distinct days; 30-day events span)
    "q149_jaro_winkler_linkage" -> 2000L, // boundary stitch: ≤ 4 rows per name block (+ growth gate)
    "q165_histogram_percentiles" -> 56001L, // distinct 2dp values; domain [0.00, 560.00]
    "q167_waterfill_budget" -> 25L,      // per-source frame (20 distinct sources)
    "q168_km_conversion" -> 10L,         // Kaplan-Meier distinct obs times ≤ 8
    "q177_auc_stopword_en" -> 56001L,    // distinct 2dp scores; same value domain
    "q180_ks_statistic" -> 56001L,       // distinct 2dp values; same value domain
    "q188_window_funnel" -> 8L,          // funnel-step frame (#steps)
    "q189_sprt_stopping" -> 60L,         // per-variant sequential frame (30 rows)
    "q213_pareto_suppliers" -> 2000L,    // union of 32 partial frontiers (+ growth gate)
    "q217_slo_burn" -> 744L,             // per-hour SLO frame (≤ 31 days × 24 h)
    "q223_watermark_audit" -> 65536L     // block-maxima frame; block size adapts to cap #blocks
  )

  /** The two allowlist entries whose bound is a GROWTH argument
    * (partial-frontier unions / per-block stitches shrink relative to
    * the corpus) rather than a fixed value domain: the measured case
    * additionally requires the frame to grow ≤ 5× under a 10× corpus. */
  private val growthGated: Set[String] = Set(
    "q149_jaro_winkler_linkage", "q213_pareto_suppliers")

  test("global windows only ever run over domain-bounded frames (allowlist)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val hasGlobal = physical(fn(spark, sf)).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }.nonEmpty
        spark.catalog.clearCache()
        if (hasGlobal && !boundedGlobalWindowFrames.contains(name)) Some(name)
        else None
    }
    assert(offenders.isEmpty,
      s"unaudited global windows in: ${offenders.mkString(", ")}")
  }

  /** "Domain-bounded" was a docstring until round 8; now it is data.
    * For every allowlisted query: pull each GLOBAL window's child out
    * of the optimized logical plan, COUNT its rows (the frame one
    * task must hold) at sf0.01 and sf0.1, and require the documented
    * cap at both scales — plus, for the two growth-argument entries,
    * ≤ 5× frame growth under the 10× corpus step. This is the gate
    * that caught q213's every-distinct-volume frame growing ~linearly
    * (10→99→853 over the fixture sfs, fixed with a partition-local
    * frontier pre-filter) and q223's fixed 4096-row blocks making
    * #blocks corpus-linear (fixed with an adaptive block size). */
  test("allowlisted global-window frames obey their documented caps (measured)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.graft.PlanBridge
    def maxGlobalFrameRows(name: String, dir: String): Long = {
      val df = SparkEntry.queries(name)(spark, dir)
      val frames = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.child
      }
      assert(frames.nonEmpty,
        s"$name is allowlisted but plans no global window — drop it " +
          s"from the allowlist")
      val n = frames.map(c => PlanBridge.ofRows(spark, c).count()).max
      spark.catalog.clearCache()
      n
    }
    val failures = boundedGlobalWindowFrames.toSeq.sortBy(_._1).flatMap {
      case (name, cap) =>
        val small = maxGlobalFrameRows(name, "/root/testdata/sf0.01")
        val big = maxGlobalFrameRows(name, "/root/testdata/sf0.1")
        val capBad =
          if (small > cap || big > cap)
            Seq(s"$name: frame $small@sf0.01 / $big@sf0.1 exceeds cap $cap")
          else Nil
        val growthBad =
          if (growthGated(name) && big > 5L * math.max(small, 1L))
            Seq(s"$name: frame grew ${small}→$big under a 10× corpus " +
              s"(> 5× — the sub-linear claim is broken)")
          else Nil
        capBad ++ growthBad
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** FORCED broadcasts: a BroadcastExchange whose build-side size
    * ESTIMATE exceeds the auto-broadcast threshold can only exist
    * because an explicit `broadcast()` hint forced it — the planner
    * would have chosen a shuffle join. A forced broadcast never
    * re-decides itself as data grows (that is what hints are for), so
    * every one must carry a justified bound. That was q129's gen-sf2
    * failure: the checkpointed shingle table's garbage estimate put
    * the doc→hash-array relation on the broadcast side, and nothing
    * ever flipped it back (fixed in round 9 with shuffle-join hints;
    * the registry-wide measurement lives in graft.BroadcastAudit +
    * docs/broadcast_audit_r9.jsonl). Planner-CHOSEN broadcasts are
    * fine and deliberately not gated: their estimates come from real
    * file/shuffle sizes and flip to shuffle joins at larger scale.
    *
    * Allowlist semantics (the justification each entry claims):
    * batch-bounded = sized by the operational unit a caller submits
    * (a merge batch, an ANN query workload), not by the corpus;
    * dim-bounded = sized by a dimension/entity table (the Kimball
    * broadcast-dim assumption);
    * param-bounded = sized by an algorithm constant (codebook k,
    * centroid count). */
  private val forcedBroadcastAllowlist: Map[String, String] = Map(
    // Bounds below are cross-checked against the committed census
    // docs/broadcast_audit_r11.jsonl (graft.BroadcastAudit at sf0.01 +
    // sf0.1): every entry's build side must appear there with rows
    // matching its claim. q06_pit_fact was trimmed by that census —
    // its calendar broadcast's estimate now rides real file stats, so
    // it is planner-chosen, not forced.
    "q05_scd2_merge" -> ("measured-bounded: the lookup AND expire " +
      "broadcasts are gated on the active-row count probed at merge " +
      "time (Scd2.merge dimBroadcastMaxRows, no override; auto-switch " +
      "to shuffle joins past 4M rows — both regimes plan-asserted in " +
      "Scd2Spec). The lookup broadcast runs in the key-assignment " +
      "checkpoint job and the key offsets are summed on the driver, " +
      "so this plan shows the expire broadcast only " +
      "— census rows 2×15,000 + 2×5,000 @sf0.1"),
    "q135_int8_quant_ann" -> ("batch-bounded (quantized ANN query " +
      "workload) — 10 rows @sf0.1"),
    "q136_pq_adc_ann" -> ("param-bounded (PQ codebooks, 4×k) + " +
      "batch-bounded (query ADC lookup tables) — ≤ 1,600 rows @sf0.1"),
    "q138_binary_hamming_ann" -> ("batch-bounded (binarized query " +
      "workload) — 10 rows @sf0.1"),
    "q151_mad_outliers" -> ("group-bounded (per-priority median/MAD " +
      "stats) — 5 rows at any sf"),
    "q167_waterfill_budget" -> ("scalar-bounded (global waterline row " +
      "from single-row budget/rank aggregates) — 1 row at any sf; " +
      "caught by the r11 census at sf0.1, invisible at this spec's sf"),
    "q154_nb_lang_classifier" -> ("model-bounded (per-language stopword " +
      "log-prob table, 155 rows; 5-row language priors)"),
    "q171_ipf_reweight" -> ("marginal-bounded (20-row source × 5-row " +
      "quality-band IPF marginals per iteration)"),
    "q173_ndcg_quantized" -> ("batch-bounded (graded ANN query " +
      "workload) — 10 rows @sf0.1"),
    "q183_item_similarity" -> ("dim-bounded (per-supplier set sizes — " +
      "entity cardinality, not pair mass) — 1,000 rows @sf0.1"),
    "q201_small_lot_revenue" -> ("dim-bounded (per-part avg-quantity " +
      "stats, the TPC-H Q17 decorrelation) — 827 rows @sf0.1"),
    "q37_knn_ivf" -> ("batch-bounded (probe workload + probed cell " +
      "ids, ≤ nProbe×queries) — 20 rows @sf0.1")
  )

  test("every FORCED broadcast (est above threshold) is allowlisted with a bound") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // Parse with Spark's own byte-string parser so unit suffixes
    // ("10MB", "1g", "10485760b", case-insensitive) all resolve to
    // bytes — a hand-rolled stripSuffix mishandled "100MB" as 100
    // bytes. Plain (possibly negative, = disabled) numbers are bytes.
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    val parsed =
      if (raw.matches("-?\\d+")) raw.toLong
      else try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      catch { case _: Exception => 10L * 1024 * 1024 }
    val threshold = BigInt(parsed) max BigInt(10L * 1024 * 1024)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val initial = fn(spark, sf).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        val forced = initial.collect {
          case b: BroadcastExchangeExec
            if b.child.logicalLink.exists(_.stats.sizeInBytes > threshold) => b
        }
        spark.catalog.clearCache()
        if (forced.nonEmpty && !forcedBroadcastAllowlist.contains(name))
          Some(s"$name (${forced.size} forced broadcast(s))")
        else None
    }
    assert(offenders.isEmpty,
      s"forced broadcasts without a documented bound in: " +
        s"${offenders.mkString(", ")} — justify in forcedBroadcastAllowlist " +
        s"or un-force the hint")
  }
}
