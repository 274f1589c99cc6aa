package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.{LakeIO, LakeZones}
import graft.types.Schemas
import PipelineDemo.writeLanding

/** C1+C7 golden end-to-end: reference-shaped CSV landing files
  * (50 customers / 200 orders, mirroring `generate_jde_data.py`
  * defaults per `README.md:142`) → metadata-driven Bronze ingest →
  * CleanJde Silver → SCD2 dim → PIT fact load → star top-k. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mkTmp(): String = tempDir("graft_pipe")

  /** Day 2's customer master: customer 10000 changes category. */
  private def writeDay2Customers(landing: String): Unit = {
    val f0101v2 = (0 until 50).map { i =>
      val id = 10000 + i
      val cat = if (i == 0) "999" else Seq("100", "200", "300")(i % 3)
      s"$id,Company $i,C,$cat,124300"
    }
    Files.writeString(Paths.get(s"$landing/F0101.csv"),
      "ABAN8,ABALPH,ABAT1,ABAC01,ABUPMJ\n" + f0101v2.mkString("\n"))
  }

  test("full medallion run: ingest → clean → scd2 → fact → star query") {
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    val zones = LakeZones(lake)
    val now = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")

    val fact = Pipeline.run(spark, zones, landing,
      s"$landing/source_config.json", LocalDate.of(2024, 6, 1), now)

    assert(fact.count() == 200)
    // every order resolved to an active customer version
    assert(fact.filter($"CustomerKey".isNull).count() == 0)
    val dim = LakeIO.readGold(spark, zones, "dim_customer")
    assert(dim.count() == 50)
    assert(dim.filter($"IsActive").count() == 50)
    // bronze is time-partitioned
    assert(Files.exists(Paths.get(
      s"$lake/bronze/jde/F4211/ingest_year=2024/ingest_month=6/ingest_day=1")))
    // star query returns k rows with joined dim attributes
    val top = Pipeline.starTopK(spark, zones, 10).collect()
    assert(top.length == 10)
    assert(top.forall(_.getAs[String]("CustomerName").startsWith("Company")))
    // decimal money discipline survived end-to-end
    val fsch = fact.schema
    assert(fsch("ExtendedAmount").dataType.typeName == "decimal(18,2)")
  }

  test("second daily run is SCD2-correct: changed customers version") {
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    val zones = LakeZones(lake)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 1), java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))

    writeDay2Customers(landing)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 2), java.sql.Timestamp.valueOf("2024-06-02 00:00:00"))

    val dim = LakeIO.readGold(spark, zones, "dim_customer")
    assert(dim.count() == 51) // one expired + one new version
    val c0 = dim.filter($"CustomerID" === 10000).orderBy("CustomerKey").collect()
    assert(c0.length == 2)
    assert(!c0(0).getAs[Boolean]("IsActive") && c0(1).getAs[Boolean]("IsActive"))
    assert(c0(1).getAs[String]("CategoryCode") == "999")
    // fact appended twice, and SalesKey continues across loads
    // (IDENTITY(1,1) uniqueness — ADVICE r01)
    val facts = LakeIO.readGold(spark, zones, "fact_sales")
    assert(facts.count() == 400)
    assert(facts.select("SalesKey").distinct().count() == 400)
    assert(facts.agg(max($"SalesKey")).head().getLong(0) == 400L)

    // retrying the SAME logical run replaces its own load batch
    // instead of duplicating it (idempotent append — ADVICE r01)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 2), java.sql.Timestamp.valueOf("2024-06-02 00:00:00"))
    val facts2 = LakeIO.readGold(spark, zones, "fact_sales")
    assert(facts2.count() == 400)
    assert(facts2.select("SalesKey").distinct().count() == 400)
    // dimension unchanged by the no-op re-merge (SCD2 idempotence)
    assert(LakeIO.readGold(spark, zones, "dim_customer").count() == 51)
  }

  test("a day-1 load runs 15 Spark jobs and a day-2 load 21") {
    // the load is driver-bound at this scale, so its job count is
    // pinned: a change that moves it must update the pin and say why
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    val zones = LakeZones(lake)
    def load(day: Int): Int = JobCount(spark) {
      Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
        LocalDate.of(2024, 6, day),
        java.sql.Timestamp.valueOf(s"2024-06-0$day 00:00:00"))
    }
    val day1 = load(1)
    writeDay2Customers(landing)
    val day2 = load(2)
    assert((day1, day2) == ((15, 21)))
  }

  test("an unreadable fact table fails the gold stage instead of reusing SalesKeys") {
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    val zones = LakeZones(lake)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 1), java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val day1 = Paths.get(s"$lake/gold/fact_sales/load_id=2024-06-01")
    val part = Files.list(day1).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.write(part, Array.fill[Byte](64)(7))
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))

    var alerted: Option[String] = None
    intercept[Exception] {
      Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
        LocalDate.of(2024, 6, 2), java.sql.Timestamp.valueOf("2024-06-02 00:00:00"),
        onFailure = (stage, _) => alerted = Some(stage))
    }
    assert(alerted.contains("gold"))
    // no day-2 batch was appended under restarted keys 1..n
    assert(!Files.exists(Paths.get(s"$lake/gold/fact_sales/load_id=2024-06-02")))
  }

  test("an unreadable dim_customer fails the silver stage after its siblings settle") {
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    val zones = LakeZones(lake)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 1), java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val dimDir = Paths.get(s"$lake/gold/dim_customer")
    val part = Files.list(dimDir).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.write(part, Array.fill[Byte](64)(7))
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))

    // not thread-safe on purpose: run serializes its alerts
    var alerts = Vector.empty[String]
    intercept[Exception] {
      Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
        LocalDate.of(2024, 6, 2), java.sql.Timestamp.valueOf("2024-06-02 00:00:00"),
        onFailure = (stage, _) => alerts :+= stage)
    }
    assert(alerts == Seq("silver"))
    // the fact load never started
    assert(!Files.exists(Paths.get(s"$lake/gold/fact_sales/load_id=2024-06-02")))
    // the concurrent decode finished its commit before the run failed
    assert(!Files.exists(Paths.get(s"$lake/silver/transactions/_temporary")))
  }

  test("a dim_customer swap that crashed before day 2 is recovered, not re-seeded") {
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    val zones = LakeZones(lake)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 1), java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val day1Keys = LakeIO.readGold(spark, zones, "dim_customer")
      .select("CustomerID", "CustomerKey").as[(Int, Long)].collect().toMap
    // a replaceGold that died between its renames: the live dimension
    // is missing and its data sits in `.old`
    Files.move(Paths.get(s"$lake/gold/dim_customer"),
      Paths.get(s"$lake/gold/dim_customer.old"))

    writeDay2Customers(landing)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 2), java.sql.Timestamp.valueOf("2024-06-02 00:00:00"))

    // day 1's history survived and day 2 merged onto it: keys continue
    val dim = LakeIO.readGold(spark, zones, "dim_customer")
    assert(dim.count() == 51)
    val c0 = dim.filter($"CustomerID" === 10000).orderBy("CustomerKey")
      .select("CustomerKey", "IsActive").as[(Long, Boolean)].collect().toSeq
    assert(c0 == Seq((day1Keys(10000), false), (51L, true)))
    val kept = dim.filter($"CustomerID" =!= 10000)
      .select("CustomerID", "CustomerKey").as[(Int, Long)].collect().toMap
    assert(kept == day1Keys - 10000)
  }

  test("a config entry with a misspelled key fails the bronze stage") {
    val landing = mkTmp(); val lake = mkTmp()
    writeLanding(landing)
    Files.writeString(Paths.get(s"$landing/source_config.json"),
      """[
        {"sourceFile": "F0101.csv", "sinkPath": "jde/F0101", "description": "Address Book"},
        {"sourceFile": "F4211.csv", "sinkpath": "jde/F4211", "description": "Sales Detail"}
      ]""")
    var alerted: Option[String] = None
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(spark, LakeZones(lake), landing, s"$landing/source_config.json",
        LocalDate.of(2024, 6, 1), java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        onFailure = (stage, _) => alerted = Some(stage))
    }
    assert(alerted.contains("bronze"))
    assert(ex.getMessage.contains("entry 2 lacks sinkPath"))
    assert(!Files.exists(Paths.get(s"$lake/bronze/null")))
  }

  test("compaction collapses small files atomically, preserving rows") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    // accrete 8 tiny load batches → >= 8 files
    (0 until 8).foreach { i =>
      LakeIO.appendGoldRun(
        Seq((i.toLong, s"row$i")).toDF("id", "v"), zones, "tiny", s"b$i")
    }
    def dataFiles(): Int = {
      java.nio.file.Files.walk(Paths.get(s"$lake/gold/tiny")).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    assert(dataFiles() >= 8)
    val before = LakeIO.readGold(spark, zones, "tiny")
      .orderBy("id").collect().map(_.toString).toSeq
    // default: hive layout preserved → one file per load_id partition,
    // and a later appendGoldRun still finds a partitioned table
    val n = LakeIO.compactGold(spark, zones, "tiny")
    assert(n == 1) // 8 tiny rows ≪ target file size → 1 shuffle task
    assert(dataFiles() == 8) // but still one file per partition dir
    val after = LakeIO.readGold(spark, zones, "tiny")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after == before) // rows and load_id column preserved
    LakeIO.appendGoldRun(
      Seq((99L, "row99")).toDF("id", "v"), zones, "tiny", "b99")
    assert(LakeIO.readGold(spark, zones, "tiny").count() == 9)

    // a table rewritten without its partitioning (load_id as a data
    // column at the root): appendGoldRun REFUSES the mixed-layout
    // write (ADVICE r02)
    LakeIO.overwriteGold(
      Seq((100L, "x", "b0")).toDF("id", "v", "load_id"), zones, "tiny")
    val ex = intercept[IllegalArgumentException] {
      LakeIO.appendGoldRun(
        Seq((100L, "x")).toDF("id", "v"), zones, "tiny", "b100")
    }
    assert(ex.getMessage.contains("non-partitioned"))
  }

  test("compaction spreads a large partition over multiple files (review r03)") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    // one hot load_id partition with many rows
    LakeIO.appendGoldRun(
      spark.range(50000).selectExpr("id", "cast(id % 97 as string) AS v"),
      zones, "hot", "b0")
    // tiny target size forces several files; partition-col-only keying
    // would emit exactly one file for the single load_id
    LakeIO.compactGold(spark, zones, "hot", targetFileBytes = 64 * 1024)
    val files = java.nio.file.Files.walk(Paths.get(s"$lake/gold/hot")).iterator()
      .asScala.count(_.toString.endsWith(".parquet"))
    assert(files > 1, s"hot partition must split across files, got $files")
    val back = LakeIO.readGold(spark, zones, "hot")
    assert(back.count() == 50000)
    assert(back.select("load_id").distinct().count() == 1)
  }

  test("appendGoldRun rejects a foreign partition layout (review r03)") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    LakeIO.replaceGold(Seq((1L, "east", 1.0)).toDF("id", "region", "m"),
      zones, "t", partitionCols = Seq("region"))
    val ex = intercept[IllegalArgumentException] {
      LakeIO.appendGoldRun(Seq((2L, "west", 2.0)).toDF("id", "region", "m"),
        zones, "t", "b1")
    }
    assert(ex.getMessage.contains("partitioned by region"))
    // Bronze gets the same guard: root-level data files, or a table
    // partitioned by another column, refuse an ingest-date partition
    val day = LocalDate.of(2024, 6, 1)
    Seq((1L, "a")).toDF("id", "v").write.parquet(zones.bronze("flat"))
    val flat = intercept[IllegalArgumentException] {
      LakeIO.writeBronze(Seq((2L, "b")).toDF("id", "v"), zones, "flat", day)
    }
    assert(flat.getMessage.contains("non-partitioned"))
    Seq((1L, "east")).toDF("id", "region").write.partitionBy("region")
      .parquet(zones.bronze("regional"))
    val regional = intercept[IllegalArgumentException] {
      LakeIO.writeBronze(Seq((2L, "west")).toDF("id", "region"),
        zones, "regional", day)
    }
    assert(regional.getMessage.contains("partitioned by region"))
  }

  test("a failed Silver or Gold rewrite leaves the previous table readable") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    val prev = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // a Range, not a local relation: the error is raised by the write
    // job's tasks, not folded away while the plan is optimized
    val failing = spark.range(3, 4).select($"id",
      expr("CASE WHEN id = 3 THEN raise_error('rewrite failed') ELSE 'c' END").as("v"))
    def failedWith(msg: String)(write: => Unit): Boolean = {
      val ex = intercept[Exception](write)
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains(msg))
    }
    LakeIO.overwriteSilver(prev, zones, "clean")
    LakeIO.overwriteGold(prev, zones, "dim")
    assert(failedWith("rewrite failed")(LakeIO.overwriteSilver(failing, zones, "clean")))
    assert(failedWith("rewrite failed")(LakeIO.overwriteGold(failing, zones, "dim")))
    // a contract read of each table still returns the previous rows
    val contract = Some(prev.schema)
    val expected = Set((1L, "a"), (2L, "b"))
    assert(LakeIO.readSilver(spark, zones, "clean", contract)
      .as[(Long, String)].collect().toSet == expected)
    assert(LakeIO.readGold(spark, zones, "dim", contract)
      .as[(Long, String)].collect().toSet == expected)
  }

  test("replaceGold recovers a dangling swap (crash between renames)") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    LakeIO.replaceGold(Seq((1L, "v1")).toDF("id", "v"), zones, "dim")
    // simulate a crash after rename(target → .old): live path missing
    val dir = Paths.get(s"$lake/gold/dim")
    val old = Paths.get(s"$lake/gold/dim.old")
    Files.move(dir, old)
    // a reader repairs the dangling state instead of failing
    val recovered = LakeIO.readIfPresent(spark, zones.gold("dim"))
    assert(recovered.map(_.select("v").as[String].collect().toSeq) == Some(Seq("v1")))
    assert(Files.exists(dir) && !Files.exists(old))
    // crash with a COMPLETE staging dir: the new state wins
    val staging = Paths.get(s"$lake/gold/dim.staging")
    Seq((2L, "v2")).toDF("id", "v").write.parquet(staging.toString)
    Files.move(dir, old)
    LakeIO.replaceGold(Seq((3L, "v3")).toDF("id", "v"), zones, "dim")
    val fin = LakeIO.readGold(spark, zones, "dim")
      .select("v").as[String].collect().toSeq
    assert(fin == Seq("v3")) // the new call's state, built on recovery
    assert(!Files.exists(staging) && !Files.exists(old))
  }

  test("readIfPresent finds no table in a missing or empty directory") {
    val dir = mkTmp()
    // an existing empty directory: admitBatch's first batch
    assert(LakeIO.readIfPresent(spark, dir).isEmpty)
    assert(LakeIO.readIfPresent(spark, s"$dir/missing").isEmpty)
    // only entries Spark would skip, as a batch with no rows leaves
    Files.createFile(Paths.get(s"$dir/_SUCCESS"))
    assert(LakeIO.readIfPresent(spark, dir).isEmpty)
  }

  test("schema drift: evolving bronze batches merge by name (SURVEY §1.3)") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    // day 1: two columns; day 2 adds a column (allowSchemaDrift)
    LakeIO.writeBronze(Seq((1L, "a")).toDF("id", "v"),
      zones, "drift", LocalDate.of(2024, 6, 1))
    LakeIO.writeBronze(Seq((2L, "b", 9.5)).toDF("id", "v", "score"),
      zones, "drift", LocalDate.of(2024, 6, 2))
    val merged = LakeIO.readBronzeEvolving(spark, zones, "drift")
    assert(merged.columns.contains("score"))
    val rows = merged.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).contains(9.5)) // old rows null-fill
    // pruned read still drifts through the merged schema
    val d1 = LakeIO.readBronzeEvolving(spark, zones, "drift",
      Some(LocalDate.of(2024, 6, 1)))
    assert(d1.count() == 1 && d1.columns.contains("score"))
  }

  test("registerViews makes every zone table SQL-addressable") {
    val lake = mkTmp()
    val zones = LakeZones(lake)
    LakeIO.writeBronze(Seq((1L, "a")).toDF("id", "v"),
      zones, "raw", LocalDate.of(2024, 6, 1))
    LakeIO.overwriteSilver(Seq((1L, "A")).toDF("id", "v"), zones, "clean")
    LakeIO.replaceGold(Seq((1L, 10.0)).toDF("id", "m"), zones, "dim")
    val views = LakeIO.registerViews(spark, zones)
    assert(views.toSet == Set("bronze_raw", "silver_clean", "gold_dim"))
    assert(spark.sql("SELECT m FROM gold_dim WHERE id = 1").as[Double].head() == 10.0)
    assert(spark.sql(
      "SELECT silver_clean.v FROM bronze_raw JOIN silver_clean USING (id)")
      .count() == 1)
  }

  test("retry wrapper retries then alerts with stage context") {
    var calls = 0; var alerted: Option[String] = None
    intercept[RuntimeException] {
      Pipeline.withRetry("silver", attempts = 3,
        onFailure = (st, _) => alerted = Some(st)) {
        calls += 1; throw new RuntimeException("boom")
      }
    }
    assert(calls == 3)
    assert(alerted.contains("silver"))
    // fatal errors are not retried and not alerted: they propagate
    // from the first attempt
    calls = 0; alerted = None
    intercept[LinkageError] {
      Pipeline.withRetry("silver", attempts = 3,
        onFailure = (st, _) => alerted = Some(st)) {
        calls += 1; throw new LinkageError("fatal")
      }
    }
    assert(calls == 1)
    assert(alerted.isEmpty)
  }

  test("settleAll runs branches concurrently") {
    val latch = new CountDownLatch(2)
    val met = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    Pipeline.settleAll(2)(Seq.fill(2) { () =>
      latch.countDown()
      met.add(latch.await(30, TimeUnit.SECONDS))
    })
    // each branch saw the other count down: both were running at once
    assert(met.asScala.toSeq == Seq(true, true))
  }

  test("settleAll waits for every branch, then rethrows the first failure") {
    val siblingDone = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      Pipeline.settleAll(3)(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); siblingDone.set(true) },
        () => throw new IllegalArgumentException("second")))
    }
    assert(siblingDone.get, "rethrown before the slower sibling finished")
    assert(ex.getMessage == "first")
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("settleAll propagates a fatal error instead of hanging") {
    var calls = 0
    val caller = Executors.newSingleThreadExecutor()
    try {
      val outcome = caller.submit(new Callable[Throwable] {
        def call(): Throwable =
          try {
            Pipeline.withRetry("bronze", attempts = 3) {
              calls += 1
              Pipeline.settleAll(2)(Seq(() => throw new LinkageError("fatal"), () => ()))
            }
            null
          } catch { case t: Throwable => t }
      })
      assert(outcome.get(60, TimeUnit.SECONDS).isInstanceOf[LinkageError])
      assert(calls == 1)
    } finally caller.shutdownNow()
  }

  test("jsonl and orc round-trip with schema and value fidelity") {
    val dir = mkTmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val expected = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().toSet

    LakeIO.writeJsonl(docs, s"$dir/docs_jsonl")
    val jl = LakeIO.readJsonl(spark, s"$dir/docs_jsonl", docs.schema)
    assert(jl.schema == docs.schema)
    assert(jl.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().toSet == expected)
    // gzip-compressed part files landed
    val parts = new java.io.File(s"$dir/docs_jsonl").listFiles()
    assert(parts.exists(_.getName.endsWith(".json.gz")), parts.mkString(","))

    LakeIO.writeOrc(docs, s"$dir/docs_orc")
    val orc = LakeIO.readOrc(spark, s"$dir/docs_orc")
    assert(orc.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().toSet == expected)
    // ORC scans push filters like parquet
    val plan = orc.filter($"doc_id" === 7L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("orc"),
      plan.take(400))
  }

  test("csv dialect: quoted fields with commas and escapes") {
    val dir = mkTmp()
    Files.writeString(Paths.get(s"$dir/F0101.csv"),
      "ABAN8,ABALPH,ABAT1,ABAC01,ABUPMJ\n" +
        "10001,\"Acme, Inc.\",C,100,124001\n" +
        "10002,\"Say \\\"hi\\\"\",C,200,124002")
    val df = LakeIO.readCsv(spark, s"$dir/F0101.csv", Schemas.F0101)
    val names = df.orderBy("ABAN8").select("ABALPH").as[String].collect()
    assert(names.toSeq == Seq("Acme, Inc.", "Say \"hi\""))
  }
}
