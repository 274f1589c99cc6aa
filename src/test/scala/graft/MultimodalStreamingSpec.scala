package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Event, Session}

/** CDC change event for the streaming SCD2 sink test. */
final case class Cdc(k: Long, name: String, ts: Timestamp)

/** Multimodal binary plumbing + Structured Streaming twins. */
class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("packMedia builds binary + typed metadata; features deterministic") {
    val docs = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val packed = Multimodal.packMedia(docs, "doc_id", "text", "text/plain")
    val r = packed.orderBy("doc_id").collect()
    assert(r(0).getAs[Array[Byte]]("media").length == 11)
    val meta = r(0).getStruct(2)
    assert(meta.getAs[String]("mime_type") == "text/plain")
    assert(meta.getAs[Long]("size_bytes") == 11L)
    assert(meta.getAs[String]("checksum_md5") ==
      "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")

    val feats = Multimodal.extractFeatures(packed).orderBy("doc_id").collect()
    val f1 = feats(0).getAs[scala.collection.Seq[Float]]("features")
    assert(f1.length == 16)
    assert(math.abs(f1.sum - 1.0f) < 1e-5) // L1 normalized
    // empty payload → zero histogram, no NaN
    assert(feats(1).getAs[scala.collection.Seq[Float]]("features").forall(!_.isNaN))
    // determinism
    val again = Multimodal.extractFeatures(packed).orderBy("doc_id").collect()
    assert(again(0).getAs[scala.collection.Seq[Float]]("features") == f1)
  }

  test("frame sampling windows the payload with stride; resize is deterministic") {
    val docs = Seq(
      (1L, "a" * 300),  // 300 bytes → frames at 0,128,256 = 3 frames
      (2L, "xy"),       // shorter than frame → 1 partial frame
      (3L, "")          // empty → no frames
    ).toDF("doc_id", "text")
    val packed = Multimodal.packMedia(docs, "doc_id", "text", "video/fake")
    val frames = Multimodal.sampleFrames(packed, frameBytes = 256, stride = 128)
      .orderBy("doc_id", "frame_idx").collect()
    val byDoc = frames.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byDoc == Map(1L -> 3, 2L -> 1))
    assert(frames.head.getLong(3) == 256L)            // full first frame
    assert(frames.last.getLong(3) == 2L)              // partial frame kept
    // frame boundaries: frame 1 of doc 1 starts at offset 128 → 172 bytes left? no: 300-128=172 <256
    assert(frames(1).getLong(3) == math.min(256, 300 - 128).toLong)

    val resized = Multimodal.resizeMedia(packed, targetBytes = 8)
      .orderBy("doc_id").collect()
    assert(resized.forall(_.getAs[Array[Byte]]("resized").length == 8))
    assert(resized(0).getAs[Array[Byte]]("resized").forall(_ == 'a'.toByte))
    assert(resized(2).getAs[Array[Byte]]("resized").forall(_ == 0)) // empty → zeros
    // determinism
    val again = Multimodal.resizeMedia(packed, targetBytes = 8)
      .orderBy("doc_id").collect()
    assert(again(1).getAs[Array[Byte]]("resized").toSeq ==
      resized(1).getAs[Array[Byte]]("resized").toSeq)
  }

  test("decode seam decodes a generated PNG and BMP end to end") {
    import java.awt.image.BufferedImage
    def imageBytes(format: String, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 8; y <- 0 until 6) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, bos))
      bos.toByteArray
    }
    val red = imageBytes("png", 0xff0000)
    val blue = imageBytes("bmp", 0x0000ff)
    val docs = Seq(
      (1L, red, "image/png"),
      (2L, blue, "image/bmp"),
      (3L, "plain text bytes".getBytes("UTF-8"), "text/plain"))
      .toDF("doc_id", "media", "mime")
      .withColumn("media_meta", struct($"mime".as("mime_type")))
    val feats = Multimodal.extractDecodedFeatures(docs)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // real decode: dimensions and solid-color channel means come back
    assert(feats(1L).take(5) == Seq(8f, 6f, 255f, 0f, 0f), feats(1L))
    assert(feats(2L).take(5) == Seq(8f, 6f, 0f, 0f, 255f), feats(2L))
    // solid color → a single luminance bucket holds all the mass
    assert(feats(1L).drop(5).count(_ > 0f) == 1)
    // non-image mime takes the documented byte-statistics fallback
    assert(feats(3L).toArray.toSeq ==
      Multimodal.fakeDecodeFeatures("plain text bytes".getBytes("UTF-8")).toSeq)
    assert(feats.values.forall(_.size == 16))
    // corrupt image bytes fall back instead of crashing the task
    assert(Multimodal.decodeMedia("image/png", Array[Byte](1, 2, 3)).length == 16)
  }

  test("streaming tumbling window matches the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, Timestamp.valueOf("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:50:00"), 1, "click", 2.0),
      Event(3, Timestamp.valueOf("2024-01-01 01:10:00"), 2, "view", 3.0))
    mem.addData(events: _*)
    val query = StreamingOps.tumbling(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumb2").outputMode("append").start()
    query.processAllAvailable()
    query.stop()
    // append emits only watermark-closed windows; batch twin gives the truth
    val batch = graft.operators.EventWindows.tumbling(events.toDF(), "1 hour")
      .orderBy("window_start_ms", "event_type").collect()
    assert(batch.length == 2)
    assert(batch(0).getAs[Long]("n_events") == 2L)
  }

  test("stateful sessionization emits gap-separated sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // batch 1: two events 10 min apart (same session), then a 2 h gap
    mem.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 7, "a", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:10:00"), 7, "a", 2.0))
    q.processAllAvailable()
    mem.addData(
      Event(3, Timestamp.valueOf("2024-01-01 02:30:00"), 7, "a", 5.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("sess").as[Session].collect()
    // the 2h-gap event closes session 1 (2 events, sum 3.0)
    assert(emitted.length == 1)
    assert(emitted(0).n_events == 2L && emitted(0).sum_value == 3.0)
    assert(emitted(0).session_start_ms ==
      Timestamp.valueOf("2024-01-01 00:00:00").getTime)
  }

  test("streaming heavy hitters: bounded state, hot tokens survive batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingOps.heavyHittersStream(mem.toDS(), k = 4, shards = 2)
      .writeStream.format("memory").queryName("hh").outputMode("update").start()
    // batch 1: hot dominates, plus distinct noise exceeding k
    mem.addData(Seq.fill(50)("hot") ++ (1 to 10).map(i => s"n$i"): _*)
    q.processAllAvailable()
    // batch 2: more noise and a second heavy token
    mem.addData(Seq.fill(30)("warm") ++ (11 to 20).map(i => s"n$i"): _*)
    q.processAllAvailable()
    q.stop()
    // last update per (shard, token): memory sink appends each trigger's
    // refreshed estimates; take the final trigger's view per token
    val rows = spark.table("hh").as[StreamingOps.HitterEstimate].collect()
    val latest = rows.groupBy(r => (r.shard, r.token))
      .map { case (_, g) => g.maxBy(_.est) }
    val byToken = latest.map(r => r.token -> r.est).toMap
    // MG undercount bound: est >= true - N_shard/(k+1); hot=50, warm=30
    // vs ~20 noise occurrences per shard → both must survive with
    // substantial counts
    assert(byToken.contains("hot") && byToken("hot") >= 40L, byToken)
    assert(byToken.contains("warm") && byToken("warm") >= 20L, byToken)
    // bounded state: with k=4 counters per shard, most of the 20
    // noise singletons must have been evicted from the live summaries
    // (each trigger emits at most k tokens per shard, so across 2
    // triggers × 2 shards most of the 20 singletons never surface)
    val noiseEver = byToken.keySet.count(_.startsWith("n"))
    assert(noiseEver < 16, s"evictions expected, emitted noise=$noiseEver")
  }

  test("streaming dedup drops in-watermark duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.dedupStream(mem.toDF(), Seq("event_id"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_s").outputMode("append").start()
    mem.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:01:00"), 1, "a", 2.0),
      Event(1, Timestamp.valueOf("2024-01-01 00:00:30"), 1, "a", 9.9)) // in-batch dup
    q.processAllAvailable()
    mem.addData(
      Event(2, Timestamp.valueOf("2024-01-01 00:02:00"), 1, "a", 9.9), // cross-batch dup
      Event(3, Timestamp.valueOf("2024-01-01 00:03:00"), 1, "a", 3.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_s").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-static enrichment joins the lake dimension per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val q = StreamingOps.enrich(mem.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_s").outputMode("append").start()
    mem.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:00:10"), 7, "a", 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_s")
      .select("event_id", "tier").as[(Long, Option[String])].collect().toMap
    assert(rows(1L).contains("gold"))
    assert(rows(2L).isEmpty) // left join keeps unmatched stream rows
  }

  test("foreachBatch gold sink writes idempotent per-batch partitions") {
    import graft.sources.{LakeIO, LakeZones}
    implicit val sqlCtx = spark.sqlContext
    val lake = tempDir("graft_ssink")
    val ckpt = tempDir("graft_ckpt")
    val zones = LakeZones(lake)
    val mem = MemoryStream[Event]
    val q = StreamingOps.sinkToGold(mem.toDF(), zones, "events_gold", ckpt)
    mem.addData(Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, Timestamp.valueOf("2024-01-01 00:01:00"), 2, "a", 2.0))
    q.processAllAvailable()
    q.stop()
    val gold = LakeIO.readGold(spark, zones, "events_gold")
    assert(gold.count() == 2)
    assert(gold.select("load_id").distinct().count() == 2)
    // a replayed batch overwrites its own partition, not appends
    val replay = Seq(Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0))
      .toDF()
    LakeIO.appendGoldRun(replay, zones, "events_gold", "batch-000000000000")
    assert(LakeIO.readGold(spark, zones, "events_gold").count() == 2)
  }

  test("gold sink run ids sort in batch order past batch 9") {
    import graft.sources.{LakeIO, LakeZones}
    implicit val sqlCtx = spark.sqlContext
    val zones = LakeZones(tempDir("graft_ssink_order"))
    val mem = MemoryStream[Event]
    val q = StreamingOps.sinkToGold(mem.toDF(), zones, "events_gold",
      tempDir("graft_ckpt"))
    for (i <- 0 until 11) {
      mem.addData(Event(i, Timestamp.valueOf("2024-01-01 00:00:00"), i, "a", i.toDouble))
      q.processAllAvailable()
    }
    q.stop()
    // keeping the newest run must keep batch 10, not batch 9
    LakeIO.vacuumGold(spark, zones, "events_gold", keepLast = 1)
    val left = LakeIO.readGold(spark, zones, "events_gold")
      .select("event_id").as[Long].collect()
    assert(left.toSeq == Seq(10L))
  }

  test("late cross-batch event extends an open session backward") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    mem.addData(Event(1, Timestamp.valueOf("2024-01-01 00:20:00"), 9, "a", 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event 20 min BEFORE the open session's start —
    // within gap, so it must merge and lower session_start_ms
    mem.addData(Event(2, Timestamp.valueOf("2024-01-01 00:00:00"), 9, "a", 2.0))
    q.processAllAvailable()
    // batch 3: far-future event closes and emits the merged session
    mem.addData(Event(3, Timestamp.valueOf("2024-01-01 05:00:00"), 9, "a", 0.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("sess_late").as[Session].collect()
    assert(emitted.length == 1)
    assert(emitted(0).n_events == 2L)
    assert(emitted(0).session_start_ms ==
      Timestamp.valueOf("2024-01-01 00:00:00").getTime)
    assert(emitted(0).session_end_ms ==
      Timestamp.valueOf("2024-01-01 00:20:00").getTime)
  }

  test("streaming SCD2 sink maintains the dimension across micro-batches") {
    import graft.operators.Scd2
    import graft.sources.{LakeIO, LakeZones}
    implicit val sqlCtx = spark.sqlContext
    val lake = tempDir("graft_scd2s")
    val ckpt = tempDir("graft_scd2c")
    val zones = LakeZones(lake)
    val spec = Scd2.Spec("DimKey", "k", Seq("name"))
    val mem = MemoryStream[Cdc]
    val q = StreamingOps.scd2Sink(mem.toDF(), zones, "dim_k", spec, ckpt)
    // batch 1: two new keys
    mem.addData(
      Cdc(1L, "alice", Timestamp.valueOf("2024-01-01 00:00:00")),
      Cdc(2L, "bob", Timestamp.valueOf("2024-01-01 00:00:00")))
    q.processAllAvailable()
    assert(LakeIO.readGold(spark, zones, "dim_k").count() == 2)
    // batch 2: key 1 changes twice in-batch (latest wins), key 3 new
    mem.addData(
      Cdc(1L, "alicia", Timestamp.valueOf("2024-01-02 00:00:00")),
      Cdc(1L, "ALICE2", Timestamp.valueOf("2024-01-02 00:00:01")),
      Cdc(3L, "carol", Timestamp.valueOf("2024-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val dim = LakeIO.readGold(spark, zones, "dim_k")
    assert(dim.count() == 4) // 2 initial + 1 new version of k=1 + k=3
    val active = dim.filter($"IsActive")
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(active == Map(1L -> "ALICE2", 2L -> "bob", 3L -> "carol"))
    // expired version carries the batch event-time watermark
    val expired = dim.filter(!$"IsActive")
      .select("k", "ValidTo").as[(Long, Timestamp)].collect()
    assert(expired.toSeq == Seq(
      (1L, Timestamp.valueOf("2024-01-02 00:00:01"))))
    // surrogate keys stay unique and contiguous across batches
    assert(dim.select("DimKey").distinct().count() == 4)
    assert(dim.agg(max($"DimKey")).head().getLong(0) == 4L)
  }

  test("partitioned SCD2 sink is row-identical to the monolithic sink") {
    import graft.operators.Scd2
    import graft.sources.{LakeIO, LakeZones}
    implicit val sqlCtx = spark.sqlContext
    val lakeM = tempDir("graft_s2m")
    val lakeP = tempDir("graft_s2p")
    val spec = Scd2.Spec("DimKey", "k", Seq("name"))
    val batches = Seq(
      Seq(Cdc(1L, "alice", Timestamp.valueOf("2024-01-01 00:00:00")),
        Cdc(2L, "bob", Timestamp.valueOf("2024-01-01 00:00:00"))),
      Seq(Cdc(1L, "alicia", Timestamp.valueOf("2024-01-02 00:00:00")),
        Cdc(1L, "ALICE2", Timestamp.valueOf("2024-01-02 00:00:01")),
        Cdc(3L, "carol", Timestamp.valueOf("2024-01-02 00:00:00"))),
      // batch 3: one change, one no-op echo (hash-identical → no insert)
      Seq(Cdc(2L, "bobby", Timestamp.valueOf("2024-01-03 00:00:00")),
        Cdc(3L, "carol", Timestamp.valueOf("2024-01-03 00:00:00"))))
    locally {
      val ckpt = tempDir("graft_s2ck")
      val mem = MemoryStream[Cdc]
      val q = StreamingOps.scd2Sink(mem.toDF(), LakeZones(lakeM), "dim_k", spec, ckpt)
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    locally {
      val ckpt = tempDir("graft_s2ck")
      val mem = MemoryStream[Cdc]
      val q = StreamingOps.scd2SinkPartitioned(
        mem.toDF(), LakeZones(lakeP), "dim_k", spec, ckpt)
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    val mono = LakeIO.readGold(spark, LakeZones(lakeM), "dim_k")
    val part = StreamingOps.readScd2Dim(spark, LakeZones(lakeP), "dim_k")
    // full row equality, surrogate keys included — the split stores
    // the SAME dimension, just laid out by mutability class
    assert(mono.columns.sorted.sameElements(part.columns.sorted))
    val p = part.select(mono.columns.map(col): _*)
    assert(mono.exceptAll(p).isEmpty && p.exceptAll(mono).isEmpty)
    // the active table alone holds exactly the active rows — per-batch
    // replace I/O is bounded by the key population, not history depth
    val activeOnly = LakeIO.readGold(spark, LakeZones(lakeP), "dim_k__active")
    assert(activeOnly.count() == mono.filter($"IsActive").count())
    assert(activeOnly.filter(!$"IsActive").isEmpty)
  }

  test("partitioned SCD2 read fails on closed runs whose columns drifted") {
    import graft.operators.Scd2
    import graft.sources.{LakeIO, LakeZones}
    val zones = LakeZones(tempDir("graft_s2d"))
    val spec = Scd2.Spec("DimKey", "k", Seq("name"))
    StreamingOps.scd2PublishBatch(Seq(
      Cdc(1L, "alice", Timestamp.valueOf("2024-01-01 00:00:00"))).toDF(),
      0L, zones, "dim_d", spec)
    // no closed run yet: the active rows are the whole dimension
    assert(StreamingOps.readScd2Dim(spark, zones, "dim_d").count() == 1)
    // a closed run written with an attribute the active table lacks
    LakeIO.appendGoldRun(
      LakeIO.readGold(spark, zones, "dim_d__active").withColumn("region", lit("EU")),
      zones, "dim_d__closed", "batch-000000000001")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      StreamingOps.readScd2Dim(spark, zones, "dim_d")
    }
    assert(ex.getMessage.contains("NUM_COLUMNS_MISMATCH"), ex.getMessage)
  }

  test("partitioned SCD2 batch replay overwrites its own closed run") {
    import graft.operators.Scd2
    import graft.sources.LakeZones
    val lake = tempDir("graft_s2r")
    val zones = LakeZones(lake)
    val spec = Scd2.Spec("DimKey", "k", Seq("name"))
    val b1 = Seq(
      Cdc(1L, "alice", Timestamp.valueOf("2024-01-01 00:00:00")),
      Cdc(2L, "bob", Timestamp.valueOf("2024-01-01 00:00:00"))).toDF()
    val b2 = Seq(
      Cdc(1L, "alicia", Timestamp.valueOf("2024-01-02 00:00:00"))).toDF()
    StreamingOps.scd2PublishBatch(b1, 0L, zones, "dim_r", spec)
    StreamingOps.scd2PublishBatch(b2, 1L, zones, "dim_r", spec)
    val before = StreamingOps.readScd2Dim(spark, zones, "dim_r")
      .orderBy("DimKey").collect().toSeq
    // at-least-once replay of batch 1: same batchId, same data — the
    // closed run partition is overwritten, the merge is a no-op
    StreamingOps.scd2PublishBatch(b2, 1L, zones, "dim_r", spec)
    val after = StreamingOps.readScd2Dim(spark, zones, "dim_r")
      .orderBy("DimKey").collect().toSeq
    assert(before == after)
    assert(before.size == 3) // 2 keys + 1 closed version, no duplicates
  }

  test("streaming PIT enrichment resolves the version covering event time") {
    implicit val sqlCtx = spark.sqlContext
    // SCD2 dimension: user 1 changed tier at 01:00 (half-open ranges)
    val dim = Seq(
      (1L, "bronze", Timestamp.valueOf("2024-01-01 00:00:00"),
        Option(Timestamp.valueOf("2024-01-01 01:00:00"))),
      (1L, "gold", Timestamp.valueOf("2024-01-01 01:00:00"),
        Option.empty[Timestamp]))
      .toDF("user_id", "tier", "ValidFrom", "ValidTo")
    val mem = MemoryStream[Event]
    val q = StreamingOps.enrichPointInTime(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("pit_s").outputMode("append").start()
    mem.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:30:00"), 1, "a", 1.0), // bronze era
      Event(2, Timestamp.valueOf("2024-01-01 01:00:00"), 1, "a", 1.0), // boundary → gold
      Event(3, Timestamp.valueOf("2024-01-01 02:00:00"), 1, "a", 1.0), // gold era
      Event(4, Timestamp.valueOf("2024-01-01 02:00:00"), 9, "a", 1.0)) // unknown user
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("pit_s")
      .select("event_id", "tier").as[(Long, Option[String])].collect().toMap
    assert(rows(1L).contains("bronze"))
    assert(rows(2L).contains("gold")) // half-open: boundary joins the NEW version
    assert(rows(3L).contains("gold"))
    assert(rows(4L).isEmpty) // left join keeps unmatched stream rows
  }

  test("stream-stream interval join matches its batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = StreamingOps.intervalJoin(
      clicks.toDF(), buys.toDF(), Seq("user_id"),
      beforeSec = 0L, afterSec = 600L)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    clicks.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:00:00"), 2, "click", 1.0))
    buys.addData(
      Event(10, Timestamp.valueOf("2024-01-01 00:05:00"), 1, "buy", 9.0), // in window
      Event(11, Timestamp.valueOf("2024-01-01 00:20:00"), 1, "buy", 9.0), // too late
      Event(12, Timestamp.valueOf("2024-01-01 00:05:00"), 3, "buy", 9.0)) // no click
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj")
      .select("event_id", "r_event_id").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 10L)))
    // batch twin: identical join expression over static frames
    val cb = Seq(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:00:00"), 2, "click", 1.0)).toDF()
    val bb = Seq(
      Event(10, Timestamp.valueOf("2024-01-01 00:05:00"), 1, "buy", 9.0),
      Event(11, Timestamp.valueOf("2024-01-01 00:20:00"), 1, "buy", 9.0),
      Event(12, Timestamp.valueOf("2024-01-01 00:05:00"), 3, "buy", 9.0)).toDF()
    val batch = StreamingOps.intervalJoin(cb, bb, Seq("user_id"),
        beforeSec = 0L, afterSec = 600L)
      .select("event_id", "r_event_id").as[(Long, Long)].collect().toSet
    assert(batch == rows)
  }

  test("far-late event becomes its own session, not a backward merge") {
    // ADVICE r02: an event hours BEFORE the open session must not
    // merge (the old guard t - s.end <= gapMs was vacuously true for
    // past events). The batch twin would emit it as its own earlier
    // session — so must the stream.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_farlate").outputMode("append").start()
    mem.addData(Event(1, Timestamp.valueOf("2024-01-01 06:00:00"), 9, "a", 1.0))
    q.processAllAvailable()
    // 6 hours before the open session: gap to it far exceeds 30 min.
    // TWO late events within a gap of each other must form ONE
    // earlier session, not two singletons (review r03 finding).
    mem.addData(
      Event(2, Timestamp.valueOf("2024-01-01 00:00:00"), 9, "a", 2.0),
      Event(4, Timestamp.valueOf("2024-01-01 00:05:00"), 9, "a", 3.0))
    q.processAllAvailable()
    // close the open session so everything is emitted
    mem.addData(Event(3, Timestamp.valueOf("2024-01-01 12:00:00"), 9, "a", 0.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("sess_farlate").as[Session].collect()
      .sortBy(_.session_start_ms)
    assert(emitted.length == 2)
    // the far-late pair is one merged earlier session
    assert(emitted(0).session_start_ms ==
      Timestamp.valueOf("2024-01-01 00:00:00").getTime)
    assert(emitted(0).session_end_ms ==
      Timestamp.valueOf("2024-01-01 00:05:00").getTime)
    assert(emitted(0).n_events == 2L && emitted(0).sum_value == 5.0)
    // the open session was untouched (start stayed at 06:00)
    assert(emitted(1).session_start_ms ==
      Timestamp.valueOf("2024-01-01 06:00:00").getTime)
    assert(emitted(1).n_events == 1L)
  }

  test("binaryFile source: glob + size guard, content flows into feature extraction") {
    val dir = java.nio.file.Paths.get(tempDir("graft_media"))
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.img", Array.tabulate(64)(_.toByte))
    put("b.img", Array.tabulate(512)(i => (i % 7).toByte))
    put("huge.img", Array.fill(2048)(1.toByte)) // over the size guard
    put("notes.txt", "not media".getBytes)      // filtered by glob

    val media = graft.sources.LakeIO.readBinaryMedia(spark, dir.toString,
      glob = "*.img", maxFileBytes = 1024)
    val rows = media.orderBy("path").collect()
    assert(rows.length == 2, "glob keeps .img; size guard drops the 2 KB file")
    assert(rows.forall(_.getAs[Array[Byte]]("content").nonEmpty))

    // path → id, then the standard partition-wise feature pass
    val withIds = media
      .withColumn("doc_id", xxhash64(col("path")))
      .withColumnRenamed("content", "media")
    val feats = Multimodal.extractFeatures(withIds).collect()
    assert(feats.length == 2)
    assert(feats.forall(_.getAs[scala.collection.Seq[Float]]("features").length == 16))
    assert(feats.map(_.getAs[Long]("size_bytes")).sorted.toSeq == Seq(64L, 512L))
  }

  test("pattern detect: trigger→target within window, across batches, bounded") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, mmss: String, u: Long, t: String) =
      Event(id, Timestamp.valueOf(s"2024-01-01 00:$mmss"), u, t, 0.0)
    val mem = MemoryStream[Event]
    val q = StreamingOps.patternDetect(mem.toDS(), "click", "purchase",
        withinMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("pat").outputMode("append").start()
    // batch 1: u1 click→purchase in-window; u2 click only (state carries);
    // u3 purchase with no trigger; "view" noise must be pre-filtered
    mem.addData(
      ev(1, "00:00", 1, "click"), ev(2, "01:00", 1, "view"),
      ev(3, "05:00", 1, "purchase"),
      ev(4, "07:00", 2, "click"),
      ev(5, "02:00", 3, "purchase"))
    q.processAllAvailable()
    // batch 2: u2's purchase lands cross-batch but in-window (12:00-07:00
    // = 5 min); a second u2 purchase finds its trigger CONSUMED → no match;
    // u1's new click then an out-of-window purchase → expired, no match
    mem.addData(
      ev(6, "12:00", 2, "purchase"), ev(7, "13:00", 2, "purchase"),
      ev(8, "20:00", 1, "click"), ev(9, "35:00", 1, "purchase"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pat").as[StreamingOps.PatternMatch].collect()
      .map(m => (m.user_id, m.trigger_ms, m.target_ms)).toSet
    def ms(mmss: String) = Timestamp.valueOf(s"2024-01-01 00:$mmss").getTime
    assert(got == Set(
      (1L, ms("00:00"), ms("05:00")),
      (2L, ms("07:00"), ms("12:00"))), s"got $got")
  }

  test("binary near-dup pairs corrupted copies, not unrelated blobs") {
    val base = graft.queries.QueryDef.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").limit(40)
    // plant: id+100000 = same payload with one byte flipped mid-way
    val corrupted = base.select(
      (col("doc_id") + 100000L).as("doc_id"),
      concat(substring(col("text"), 1, 20), lit("#"),
        substring(col("text"), 22, 1000000)).as("text"))
    val packed = Multimodal.packMedia(base.unionByName(corrupted), "doc_id", "text")
    val pairs = Multimodal.binaryNearDup(packed, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = base.select("doc_id").as[Long].collect()
      .map(id => (id, id + 100000L)).toSet
    // a 32-bit simhash is an approximate signature: a one-byte flip
    // lands within hamming 3 for MOST blobs, not all (majority votes
    // near the margin can flip extra bits) — assert recall, and that
    // non-planted word-soup collisions stay a minority
    val recall = (planted & pairs).size.toDouble / planted.size
    assert(recall >= 0.6, s"recall $recall; found ${(planted & pairs).size}/${planted.size}")
    assert((pairs -- planted).size <= planted.size / 2,
      s"too many non-planted pairs: ${(pairs -- planted).size}")
    // identical payloads sit at hamming 0
    val dup = Multimodal.packMedia(
      base.limit(1).unionByName(base.limit(1)
        .select((col("doc_id") + 7L).as("doc_id"), col("text"))),
      "doc_id", "text")
    val h = Multimodal.binaryNearDup(dup).select("hamming").as[Long].head()
    assert(h == 0L)
  }

  test("streaming agg sink maintains an exactly-once materialized view") {
    import graft.sources.{LakeIO, LakeZones}
    implicit val sqlCtx = spark.sqlContext
    val lake = tempDir("graft_aggmv")
    val ckpt = tempDir("graft_aggck")
    val zones = LakeZones(lake)
    val mem = MemoryStream[Event]
    val q = StreamingOps.aggSink(mem.toDF(), zones, "clicks_mv",
      Seq("event_type"), "value", ckpt)
    mem.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "click", 1.5),
      Event(2, Timestamp.valueOf("2024-01-01 00:01:00"), 2, "view", 2.0))
    q.processAllAvailable()
    mem.addData(
      Event(3, Timestamp.valueOf("2024-01-01 00:02:00"), 1, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val view = StreamingOps.readAggView(spark, zones, "clicks_mv", Seq("event_type"))
      .select(col("event_type"), col("n"), col("total").cast("string"))
      .as[(String, Long, String)].collect()
      .map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(view == Map("click" -> ((2L, "4.50")), "view" -> ((1L, "2.00"))))
    // a replayed batch replaces its own partials — totals unchanged
    val replay = Seq(("click", 1L, BigDecimal("3.00"))).toDF(
      "event_type", "n_partial", "sum_partial")
      .select(col("event_type"), col("n_partial"),
        col("sum_partial").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
    LakeIO.appendGoldRun(replay, zones, "clicks_mv", "batch-000000000001")
    val again = StreamingOps.readAggView(spark, zones, "clicks_mv", Seq("event_type"))
      .filter(col("event_type") === "click")
      .select(col("n")).as[Long].head()
    assert(again == 2L)
    // time travel: the view as of batch 0 excludes batch 1's partials
    val asOf = LakeIO.readGoldAsOf(spark, zones, "clicks_mv", "batch-000000000000")
      .groupBy(col("event_type")).agg(sum(col("n_partial")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(asOf == Map("click" -> 1L, "view" -> 1L))
  }

  test("built-in session_window stream closes sessions past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionWindows(mem.toDF(), gap = "30 minutes",
        watermark = "1 hour")
      .writeStream.format("memory").queryName("sw_sess")
      .outputMode("append").start()
    mem.addData(
      Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 9, "a", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 00:10:00"), 9, "a", 2.5))
    q.processAllAvailable()
    // watermark far past the session end → the session is final and emitted
    mem.addData(Event(3, Timestamp.valueOf("2024-01-01 10:00:00"), 9, "a", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sw_sess")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 1, s"exactly the closed session: ${rows.toSeq}")
    val (u, start, end, n, sum) = rows.head
    assert(u == 9L && n == 2L && math.abs(sum - 3.5) < 1e-9)
    assert(start == Timestamp.valueOf("2024-01-01 00:00:00").getTime)
    assert(end == Timestamp.valueOf("2024-01-01 00:40:00").getTime) // last + gap
  }

  test("transformWithState running stats accumulate across batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = StreamingOps.runningUserStats(mem.toDS())
        .writeStream.format("memory").queryName("tws_stats")
        .outputMode("update").start()
      mem.addData(
        Event(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.5),
        Event(2, Timestamp.valueOf("2024-01-01 00:01:00"), 1, "a", 2.0),
        Event(3, Timestamp.valueOf("2024-01-01 00:02:00"), 2, "a", 4.0))
      q.processAllAvailable()
      mem.addData(
        Event(4, Timestamp.valueOf("2024-01-01 00:03:00"), 1, "a", 3.0))
      q.processAllAvailable()
      q.stop()
      // Update mode: last emission per user wins
      val last = spark.table("tws_stats").as[StreamingOps.UserStats].collect()
        .groupBy(_.user_id).view
        .mapValues(rs => rs.maxBy(_.n_events)).toMap
      assert(last(1L).n_events == 3L && math.abs(last(1L).sum_value - 6.5) < 1e-9)
      assert(last(2L).n_events == 1L && math.abs(last(2L).sum_value - 4.0) < 1e-9)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
