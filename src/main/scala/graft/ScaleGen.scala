package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale-curve runs:
  * `runMain graft.ScaleGen <sf> <outDir>` writes the ten TESTDATA.md
  * tables at scale factor `sf`, schema- and distribution-matched to
  * the driver fixtures (vocab, dup-injection rate, basket sizes,
  * value ranges all measured from `/root/testdata/sf0.1`).
  *
  * Every value is a pure function of the row id via xxhash64, so the
  * output is identical regardless of parallelism or partitioning —
  * the same property that makes the generator itself a 100 TB-safe
  * Spark job (no rand(), no driver-side loops, no shuffles except the
  * final file write).
  *
  * This data is for SCALING.md throughput curves only; correctness
  * always runs on the read-only driver fixtures.
  */
object ScaleGen {

  /** xxhash64 of (salt, cols...) — the deterministic entropy source. */
  private def h(salt: String, cols: Column*): Column =
    xxhash64((lit(salt) +: cols): _*)

  private val M = 1L << 40

  /** uniform double in [0,1), keyed by (salt, cols). */
  private def u(salt: String, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(M)).cast("double") / M.toDouble

  /** uniform long in [0,n), keyed by (salt, cols). */
  private def ui(salt: String, n: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))

  /** uniform long in [0,m) for a column modulus. */
  private def uic(salt: String, m: Column, cols: Column*): Column =
    pmod(h(salt, cols: _*), m)

  private def pick(choices: Seq[String], idx: Column): Column =
    element_at(array(choices.map(lit): _*), (idx + 1).cast("int"))

  // the fixture documents' 30-word vocabulary (the 31st, "dup", marks
  // injected near-duplicates)
  private val Vocab = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  def main(args: Array[String]): Unit = {
    val Array(sfStr, outDir) = args.take(2)
    val sf = sfStr.toDouble
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    generate(spark, sf, outDir)
    spark.stop()
  }

  def generate(spark: SparkSession, sf: Double, outDir: String): Unit = {
    def n(atSf1: Long): Long = math.max(1L, math.round(atSf1 * sf))
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nLines = nOrders * 4
    val nEvents = n(1000000)
    val nDocs = n(50000)
    val nVecs = n(20000)
    val nUsers = n(15000)

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.coalesce(files).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] wrote $name")
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(
      spark.range(5).select(
        col("id").cast("int").as("r_regionkey"),
        pick(regions, col("id")).as("r_name")),
      "region", 1)

    write(
      spark.range(25).select(
        col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "nation", 1)

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(
      spark.range(nCust).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        ui("c_nat", 25, col("id")).cast("int").as("c_nationkey"),
        round(lit(-1000.0) + u("c_bal", col("id")) * 11000.0, 2).as("c_acctbal"),
        pick(segments, ui("c_seg", 5, col("id"))).as("c_mktsegment")),
      "customer", 4)

    write(
      spark.range(nSupp).select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        ui("s_nat", 25, col("id")).cast("int").as("s_nationkey"),
        round(lit(-1000.0) + u("s_bal", col("id")) * 11000.0, 2).as("s_acctbal")),
      "supplier", 1)

    val adjs = Seq("large", "hot", "blue", "old", "cold", "new", "dark", "light")
    val nouns = Seq("ring", "bolt", "plate", "wheel", "cap", "pin", "rod", "gear")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write(
      spark.range(nPart).select(
        col("id").as("p_partkey"),
        concat_ws(" ", pick(adjs, ui("p_adj", 8, col("id"))),
          pick(nouns, ui("p_nn", 8, col("id")))).as("p_name"),
        concat(lit("Brand#"), ui("p_br", 25, col("id")) + 1).as("p_brand"),
        pick(types, ui("p_ty", 6, col("id"))).as("p_type"),
        (ui("p_sz", 50, col("id")) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000) * 0.1, 1).as("p_retailprice")),
      "part", 4)

    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(
      spark.range(nOrders).select(
        col("id").as("o_orderkey"),
        ui("o_cust", nCust, col("id")).as("o_custkey"),
        pick(Seq("O", "P", "F"), ui("o_st", 3, col("id"))).as("o_orderstatus"),
        round(lit(1000.0) + u("o_tp", col("id")) * 499000.0, 2).as("o_totalprice"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          ui("o_dt", 2404, col("id")).cast("int")))
          .cast("timestamp_ntz").as("o_orderdate"),
        pick(prios, ui("o_pr", 5, col("id"))).as("o_orderpriority")),
      "orders", 8)

    // lineitem rows draw their orderkey independently (matches the
    // fixture: Poisson-4 basket sizes, linenumber uncorrelated)
    write(
      spark.range(nLines).select(
        ui("l_ord", nOrders, col("id")).as("l_orderkey"),
        ui("l_part", nPart, col("id")).as("l_partkey"),
        ui("l_supp", nSupp, col("id")).as("l_suppkey"),
        (ui("l_ln", 7, col("id")) + 1).cast("int").as("l_linenumber"),
        (ui("l_qty", 50, col("id")) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u("l_ep", col("id")) * 104100.0, 2).as("l_extendedprice"),
        (ui("l_disc", 11, col("id")).cast("double") / 100.0).as("l_discount"),
        (ui("l_tax", 9, col("id")).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), ui("l_rf", 3, col("id"))).as("l_returnflag"),
        pick(Seq("F", "O"), ui("l_ls", 2, col("id"))).as("l_linestatus"),
        to_timestamp(date_add(lit("1995-01-02").cast("date"),
          ui("l_sd", 2498, col("id")).cast("int")))
          .cast("timestamp_ntz").as("l_shipdate")),
      "lineitem", 16)

    val etypes = Seq("click", "error", "purchase", "signup", "view")
    write(
      spark.range(nEvents).select(
        col("id").as("event_id"),
        timestamp_micros(
          (lit(1704067200000000L) + // 2024-01-01T00:00:00Z
            (u("e_ts", col("id")) * 30L * 86400L * 1000000L).cast("long")))
          .cast("timestamp_ntz").as("ts"),
        ui("e_user", nUsers, col("id")).as("user_id"),
        pick(etypes, ui("e_ty", 5, col("id"))).as("event_type"),
        // exponential, mean 50, clamped at the fixture's observed max
        round(least(-log(lit(1.0) - u("e_val", col("id"))) * 50.0, lit(560.0)), 2).as("value"),
        concat(lit("{\"k\": "), ui("e_k", 100, col("id")), lit("}")).as("props")),
      "events", 8)

    // documents: 5% of docs are near-duplicate mutations of an earlier
    // doc (8% word substitution + one "dup" marker token), matching the
    // fixture's injected-dup rate; base words derive from base_id alone
    // so no self-join is needed.
    val docs0 = spark.range(nDocs).select(
      col("id").as("doc_id"),
      (u("d_dup", col("id")) < 0.05 && col("id") > 0).as("is_dup"))
    val docs1 = docs0.withColumn("base_id",
      when(col("is_dup"), uic("d_base", col("doc_id"), col("doc_id")))
        .otherwise(col("doc_id")))
    val nWords = (ui("d_n", 91, col("base_id")) + 10).cast("int")
    val baseWords = transform(sequence(lit(0), nWords - 1),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit("d_w"), col("base_id"), i), lit(30)) + 1).cast("int")))
    val mutated = transform(baseWords, (w, i) =>
      when(!col("is_dup"), w)
        .when(pmod(xxhash64(lit("d_mut"), col("doc_id"), i), lit(100)) < 8,
          element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit("d_rw"), col("doc_id"), i), lit(30)) + 1).cast("int")))
        .when(i === pmod(xxhash64(lit("d_pos"), col("doc_id")), size(baseWords)).cast("int"),
          lit("dup"))
        .otherwise(w))
    val langs = Seq("en", "fr", "es", "de", "zh")
    val langIdx = when(u("d_lang", col("doc_id")) < 0.41, 0)
      .when(u("d_lang", col("doc_id")) < 0.56, 1)
      .when(u("d_lang", col("doc_id")) < 0.71, 2)
      .when(u("d_lang", col("doc_id")) < 0.86, 3)
      .otherwise(4)
    write(
      docs1.select(
        col("doc_id"),
        array_join(mutated, " ").as("text"),
        pick(langs, langIdx).as("lang"),
        concat(lit("src"), ui("d_src", 20, col("doc_id"))).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 4)

    write(embeddingsDf(spark, nVecs), "embeddings", 2)

    // dec2 exactness gate (round-15, VERDICT item 7): DecimalExprs.dec2
    // / cents2 replace CAST(double AS DECIMAL(18,2)) at 26 query sites
    // and are exact ONLY when the input double carries a ≤2-decimal-
    // place value (the precondition documented at the definition).
    // Every money/quantity/discount/value column this generator writes
    // must satisfy it, or a future generator change could silently
    // invalidate the optimization — fail generation loudly instead.
    // The predicate is dec2's own rounding applied to the raw double:
    // exact-≤2dp values are fixed points of floor(x·100 + 0.5)/100.
    val dec2Cols = Seq(
      "orders" -> Seq("o_totalprice"),
      "lineitem" -> Seq("l_extendedprice", "l_quantity", "l_discount"),
      "customer" -> Seq("c_acctbal"),
      "supplier" -> Seq("s_acctbal"),
      "events" -> Seq("value"))
    dec2Cols.foreach { case (t, cs) =>
      val df = spark.read.parquet(s"$outDir/$t.parquet")
      cs.filter(df.columns.contains).foreach { c =>
        val bad = df.filter(col(c).isNotNull &&
          floor(col(c) * 100 + 0.5) / 100 =!= col(c)).count()
        require(bad == 0L, s"dec2 exactness precondition violated: " +
          s"$t.$c carries $bad values with more than 2 decimal places " +
          s"— DecimalExprs.dec2/cents2 would round them differently " +
          s"from CAST(x AS DECIMAL(18,2))")
      }
    }
    println("[scalegen] dec2 exactness gate passed " +
      "(all money/quantity/value columns are exact ≤2-dp doubles)")
  }

  /** embeddings table at an arbitrary cardinality: 64-dim gaussian,
    * L2-normalized (uniform on the unit sphere, like the fixture —
    * labels carry no cluster structure). Public so specs can draw a
    * fixture-distributed corpus at whatever size exercises the
    * behavior under test (e.g. cells larger than semanticDedup's
    * rank window). */
  def embeddingsDf(spark: SparkSession, nVecs: Long): DataFrame = {
    val raw = transform(sequence(lit(0), lit(63)),
      i => {
        val u1 = (pmod(xxhash64(lit("v_a"), col("id"), i), lit(M)) + 1).cast("double") / (M + 1).toDouble
        val u2 = pmod(xxhash64(lit("v_b"), col("id"), i), lit(M)).cast("double") / M.toDouble
        sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
      })
    val nrm = sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x))
    spark.range(nVecs)
      .withColumn("raw", raw)
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / nrm).cast("float")).as("embedding"),
        ui("v_lbl", 10, col("id")).cast("int").as("label"))
  }
}
