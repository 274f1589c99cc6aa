package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.operators.Checkpoints
import graft.sources.{LakeIO, LakeZones}

/** Structured Streaming surface (SURVEY.md §2.7: absent from the
  * reference, added as the scale path for continuous ingestion).
  * The windowed aggregations are THE SAME expressions as the batch
  * operators in [[graft.operators.EventWindows]] — the point of the
  * Spark-first design: one declarative transform, two runtimes.
  */
object StreamingOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(start: Long, end: Long, n: Long, sum: Double)

  final case class Session(user_id: Long, session_start_ms: Long,
                           session_end_ms: Long, n_events: Long,
                           sum_value: Double)

  /** Continuous file ingestion: landing dir → bronze stream. */
  def ingestStream(spark: SparkSession, landingDir: String,
                   schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(landingDir)

  /** Streaming exact dedup: first arrival of each key wins; duplicate
    * arrivals inside the watermark horizon are dropped, and state for
    * keys older than the watermark is evicted (bounded state — the
    * streaming twin of [[graft.operators.Dedup.exactSurvivors]]).
    * Dedup on a content fingerprint by passing e.g. a
    * `rolling_hash(normalized(text))` column. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: per-micro-batch broadcast hash join of
    * the stream against a slowly-changing lake dimension (the static
    * side is re-planned each batch, so dimension overwrites by
    * [[LakeIO.replaceGold]] are picked up without restarting). */
  def enrich(stream: DataFrame, dim: DataFrame,
             keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** The gold run id of micro-batch `batchId`: `batch-` and the id
    * zero-padded to 12 digits, so run names sort in batch order — the
    * order [[LakeIO.vacuumGold]] and [[LakeIO.readGoldAsOf]] go by. */
  private def runId(batchId: Long): String = f"batch-$batchId%012d"

  /** Idempotent gold sink: each micro-batch lands as its own
    * `load_id=batch-<id>` partition via dynamic partition overwrite,
    * so a replayed batch (at-least-once delivery after recovery)
    * REPLACES its previous partial write instead of duplicating it —
    * the streaming face of the C7 retry-idempotency contract. */
  def sinkToGold(stream: DataFrame, zones: LakeZones, table: String,
                 checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        LakeIO.appendGoldRun(df.toDF(), zones, table, runId(batchId))
      }
      .start()

  /** Streaming incremental aggregate maintenance (a materialized view
    * kept fresh by the stream): each micro-batch writes its PARTIAL
    * aggregate (count + exact DECIMAL sum per key) as its own
    * `load_id=batch-…` partition via [[LakeIO.appendGoldRun]]'s
    * dynamic overwrite — a replayed batch (at-least-once delivery
    * after recovery) REPLACES its previous partials instead of
    * double-counting, so the view is exactly-once without any
    * read-modify-write of live state. Readers roll the partials up
    * with [[readAggView]] (the q60 partial-merge algebra: counts and
    * sums are associative). View state lives in the lake — restart-
    * safe, [[LakeIO.vacuumGold]]-compactable, and time-travelable
    * via [[LakeIO.readGoldAsOf]]. At scale each batch shuffles only
    * its own keys; the view read aggregates #batches × #keys partial
    * rows, collapsed periodically by [[LakeIO.compactGold]]. */
  def aggSink(stream: DataFrame, zones: LakeZones, table: String,
              keyCols: Seq[String], valueCol: String,
              checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val partial = df.toDF().groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("n_partial"),
            sum(col(valueCol).cast(DecimalType(18, 2))).as("sum_partial"))
        LakeIO.appendGoldRun(partial, zones, table, runId(batchId))
      }
      .start()

  /** Current state of an [[aggSink]] view: one small rollup over the
    * partial-aggregate partitions (sum of counts, sum of sums). */
  def readAggView(spark: SparkSession, zones: LakeZones, table: String,
                  keyCols: Seq[String]): DataFrame =
    LakeIO.readGold(spark, zones, table)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n_partial")).as("n"),
        sum(col("sum_partial")).cast(DecimalType(18, 2)).as("total"))

  /** One micro-batch of [[jdbcSink]], exposed for direct testing: the
    * batch lands tagged with its `batch_id`, and any prior rows with
    * the same tag are deleted FIRST — so a replayed batch
    * (at-least-once delivery after recovery) replaces rather than
    * duplicates, the JDBC twin of [[sinkToGold]]'s partition
    * overwrite. The delete tolerates a missing table (first batch
    * creates it via the write). */
  def publishBatchJdbc(batch: DataFrame, batchId: Long,
                       target: graft.sources.JdbcTarget,
                       table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(target.url)
    try {
      conn.createStatement().executeUpdate(
        s"DELETE FROM $table WHERE batch_id = $batchId")
      ()
    } catch { case _: java.sql.SQLException => () } // table not yet created
    finally conn.close()
    LakeIO.writeJdbc(batch.withColumn("batch_id", lit(batchId)),
      target, table, mode = "append")
  }

  /** Streaming publish into the JDBC serving tier
    * ([[graft.sources.LakeIO.writeJdbc]]'s streaming face): each
    * micro-batch appends `batch_id`-tagged rows after clearing its
    * own tag — idempotent on replay without any database-side MERGE
    * support, so it works against any JDBC target. At scale, size
    * trigger intervals so the serving database absorbs the batch
    * insert rate; the lake (not the DB) remains the system of
    * record. */
  def jdbcSink(stream: DataFrame, target: graft.sources.JdbcTarget,
               table: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        publishBatchJdbc(df.toDF(), batchId, target, table)
      }
      .start()

  /** Streaming ANN enrichment: each micro-batch of embedding rows is
    * searched against a PERSISTED IVF index
    * ([[graft.operators.Similarity.buildIvfIndex]]) and the top-k
    * neighbors land in `outTable` as that batch's own run partition
    * (idempotent on replay, like every foreachBatch sink here). The
    * per-batch search prunes the index scan to the probed cells —
    * real-time retrieval whose cost scales with the batch's probe
    * set, not the corpus. Index rebuilds publish atomically and are
    * picked up by the next batch (the static side re-plans per
    * micro-batch). */
  def annEnrich(stream: DataFrame, zones: LakeZones, indexName: String,
                outTable: String, k: Int, nProbe: Int,
                checkpointDir: String,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val batch = df.toDF()
        if (!batch.isEmpty) {
          val hits = graft.operators.Similarity.searchIvfIndex(
            batch.sparkSession, zones, indexName, batch, k, nProbe,
            idCol, vecCol)
          LakeIO.appendGoldRun(hits, zones, outTable, runId(batchId))
        }
      }
      .start()

  /** Streaming SCD2 dimension maintenance: each micro-batch of
    * change events merges into the lake dimension with the BATCH
    * [[graft.operators.Scd2.merge]] (same hash-diff semantics, same
    * invariants) and publishes atomically via
    * [[LakeIO.replaceGold]] — continuous CDC ingestion without a
    * second merge implementation. Within a batch, only each key's
    * latest event applies ([[graft.operators.Upsert.latestByKey]] on
    * event time; `merge` requires one row per key). `now` for each
    * batch is the batch's max event time, so ValidFrom/ValidTo
    * watermarks advance with the data, not the wall clock —
    * reprocessing a backlog yields the same dimension history. */
  def scd2Sink(changes: DataFrame, zones: LakeZones, table: String,
               spec: graft.operators.Scd2.Spec, checkpointDir: String,
               tsCol: String = "ts"): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        scd2Step(batch.toDF(), zones, table, spec, tsCol)(
          LakeIO.replaceGold(_, zones, table))
      }
      .start()

  /** The micro-batch step both streaming SCD2 sinks share: merge each
    * key's latest change in `batch` into the dimension stored at gold
    * table `dimTable` (an empty one on the first load, as
    * [[LakeIO.readIfPresent]] decides) and hand the next dimension to
    * `publish`. An empty batch is a no-op. */
  private def scd2Step(batch: DataFrame, zones: LakeZones, dimTable: String,
                       spec: graft.operators.Scd2.Spec, tsCol: String)(
                       publish: DataFrame => Unit): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      // latestByKey needs a TOTAL order per key: equal-ts change
      // events would otherwise pick a partition-dependent winner.
      // A content hash breaks ties deterministically (identical
      // duplicates tie harmlessly).
      val tiebreak = xxhash64(
        batch.columns.filterNot(_ == tsCol).map(col): _*)
      // persist the deduped batch before the multi-action sequence
      // (max-ts collect, then the merge's joins): without it each
      // action re-scans the micro-batch source — the round-12
      // streaming-scale run measured numInputRows at ~3x the event
      // count, which at ingest scale is 2 extra passes over every
      // arriving byte
      val latest = graft.operators.Upsert
        .latestByKey(batch, Seq(spec.businessKey), Seq(col(tsCol), tiebreak))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val now = latest.agg(max(col(tsCol))).head().getTimestamp(0)
        val incoming = latest.drop(tsCol)
        val dim = LakeIO.readIfPresent(spark, zones.gold(dimTable))
          .getOrElse(graft.operators.Scd2.emptyDim(spark, incoming, spec))
        publish(graft.operators.Scd2.merge(
          Checkpoints.truncate(dim), incoming, spec, lit(now)))
      } finally latest.unpersist()
    }

  /** Partitioned-gold variant of [[scd2Sink]]: same hash-diff SCD2
    * semantics, but the dimension is stored SPLIT so per-batch I/O is
    * bounded by the ACTIVE row set (≈ one row per business key)
    * instead of the full version history:
    *
    *  - `<table>__active` — the active versions only, atomically
    *    replaced each batch ([[LakeIO.replaceGold]]); its size is the
    *    key population, flat in history depth;
    *  - `<table>__closed` — expired versions, append-only, one
    *    `load_id=batch-N` run partition per micro-batch
    *    ([[LakeIO.appendGoldRun]]): a replayed batch (at-least-once
    *    recovery) OVERWRITES its own run partition instead of
    *    duplicating rows. Closed rows are immutable in SCD2 — merge
    *    never revisits them — so they are written once and never
    *    rewritten.
    *
    * Equivalence with the monolithic sink is structural, not
    * approximate: [[graft.operators.Scd2.merge]] only reads active
    * rows (the lookup filters `IsActive`; the expire set is ⊆ active
    * keys, so inactive rows always pass through the expire join
    * unchanged), hence `merge(active ∪ closed) = merge(active) ∪
    * closed` row for row. The surrogate-key seed also survives the
    * split: `max(surrogateKey)` always sits on an ACTIVE row, because
    * every expire is paired, in the same merge, with an insert that
    * takes a strictly larger key — so probing the active table alone
    * continues the key sequence exactly. Both facts are asserted
    * against the monolithic sink in MultimodalStreamingSpec (full
    * dimension equality, surrogate keys included) and were measured
    * at volume in `docs/streaming_scale_r14.jsonl` (`scd2Sink` against
    * `scd2SinkPartitioned`: the monolithic sink's per-batch
    * `batch_ms` slope of ~1.5 µs per RESIDENT dim row — the r13
    * measured bound — drops to a slope in ACTIVE rows only).
    *
    * Crash ordering: closed rows land BEFORE the active replace. A
    * crash between the two leaves the old active table, so the
    * replayed batch re-derives the identical merge (same inputs, same
    * event-time `now`, same key seed) and overwrites the same run
    * partition — idempotent. The reverse order would be wrong: with
    * the active table already advanced, a replayed merge sees no hash
    * change, closes nothing, and the crash window's expired rows are
    * lost.
    *
    * Read the full dimension back with [[readScd2Dim]]. At retention
    * time, closed runs compact like any run-partitioned fact table;
    * the active table needs none. */
  def scd2SinkPartitioned(changes: DataFrame, zones: LakeZones, table: String,
                          spec: graft.operators.Scd2.Spec, checkpointDir: String,
                          tsCol: String = "ts"): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        scd2PublishBatch(batch.toDF(), batchId, zones, table, spec, tsCol)
      }
      .start()

  /** One micro-batch of [[scd2SinkPartitioned]], exposed for direct
    * testing (replay = calling twice with the same `batchId`). */
  def scd2PublishBatch(batch: DataFrame, batchId: Long, zones: LakeZones,
                       table: String, spec: graft.operators.Scd2.Spec,
                       tsCol: String = "ts"): Unit =
    scd2Step(batch, zones, s"${table}__active", spec, tsCol) { merged =>
      val next = merged
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the merge input held only active rows, so every inactive
        // output row was expired by THIS batch
        val newlyClosed = next.filter(!col("IsActive"))
        if (!newlyClosed.isEmpty) {
          LakeIO.appendGoldRun(newlyClosed, zones, s"${table}__closed",
            runId(batchId))
        }
        LakeIO.replaceGold(next.filter(col("IsActive")), zones, s"${table}__active")
      } finally next.unpersist()
    }

  /** The complete dimension maintained by [[scd2SinkPartitioned]]:
    * active versions ∪ all closed runs (the `load_id` batch tag is
    * internal bookkeeping and dropped). Row-identical to what
    * [[scd2Sink]] would have produced from the same change stream.
    * No closed run yet means active rows only; closed runs whose
    * columns differ from the active table fail the read. */
  def readScd2Dim(spark: SparkSession, zones: LakeZones, table: String): DataFrame = {
    def half(suffix: String) =
      LakeIO.readIfPresent(spark, zones.gold(s"${table}__$suffix"))
    val active = half("active").getOrElse(throw new IllegalArgumentException(
      s"no SCD2 dimension $table under ${zones.root}"))
    half("closed").fold(active)(closed => active.unionByName(closed.drop("load_id")))
  }

  /** Stream-static POINT-IN-TIME enrichment: each streamed fact row
    * resolves the SCD2 dimension version whose [ValidFrom, ValidTo)
    * interval contains its event time — the streaming face of the
    * warehouse core (C4's PIT join) over a live dimension. The static
    * side is re-read per micro-batch, so dimension replaces by
    * [[LakeIO.replaceGold]] take effect without a restart; the
    * half-open interval semantics are EXACTLY
    * [[graft.operators.FactLoad.pitPredicate]]. */
  def enrichPointInTime(stream: DataFrame, dim: DataFrame,
                        businessKey: String, eventTimeCol: String = "ts"): DataFrame = {
    val attrs = dim.columns
      .filterNot(Set(businessKey, "ValidFrom", "ValidTo").contains)
    val dimSel = broadcast(dim.select(
      col(businessKey).as("_bk") +:
        col("ValidFrom").as("_vf") +: col("ValidTo").as("_vt") +:
        attrs.map(col): _*))
    stream.join(dimSel,
        stream(businessKey) === col("_bk") &&
          graft.operators.FactLoad.pitPredicate(
            stream(eventTimeCol), col("_vf"), col("_vt")),
        "left")
      .drop("_bk", "_vf", "_vt")
  }

  /** Watermarked stream-stream interval join: each left event inner-
    * joined to right events sharing `keys` whose timestamp lies in
    * [left.ts - beforeSec, left.ts + afterSec]. Both sides carry a
    * watermark and the join condition bounds event-time distance, so
    * Spark can size and EVICT the two join-state stores — the
    * unbounded-state trap of a naive stream-stream join. Right-side
    * non-key columns come back prefixed `r_`. The batch twin is the
    * same expression without watermarks (asserted in the spec). */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   beforeSec: Long = 600L, afterSec: Long = 600L,
                   tsCol: String = "ts",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val renamed = right.columns.map(c =>
      if (keys.contains(c)) c else s"r_$c")
    val r = right.toDF(renamed: _*).withWatermark(s"r_$tsCol", watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val rangeCond =
      col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $beforeSec SECOND") &&
      col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $afterSec SECOND")
    val joined = l.join(r, keyCond && rangeCond, "inner")
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** Watermarked gap sessionization via the BUILT-IN `session_window`
    * (the declarative twin of [[sessionize]]'s arbitrary-state
    * processor, and the streaming face of the batch q49): Spark
    * maintains and merges session state internally, closing a session
    * once the watermark passes its end. Prefer this when per-session
    * output is plain aggregates; drop to [[sessionize]] /
    * `transformWithState` only for custom emission logic. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("sum_value"))

  /** Watermarked tumbling-window aggregate (append-mode safe). */
  def tumbling(events: DataFrame, width: String = "1 hour",
               watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stateful gap sessionization with `flatMapGroupsWithState`:
    * per-user state carries the open session; a gap > `gapMinutes`
    * closes and emits it on the next event. There is no state
    * timeout: an idle session stays open until its user's next event
    * (a processing-time timer would make the zero-interval default
    * trigger busy-loop micro-batches evaluating timeouts, so
    * `processAllAvailable` never settles).
    * The streaming twin of `EventWindows.sessionize`. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      // Interval-gap merge over the restored open session PLUS this
      // batch's events, all in start-time order. This handles late
      // data exactly like the batch twin within the visible horizon:
      // an event inside the open session's gap (either side) merges
      // and can extend it backward; far-late events session among
      // THEMSELVES (two late events within a gap of each other form
      // ONE earlier session, not two singletons); everything that
      // ends more than a gap before the final interval closes.
      val items = (state.getOption.toList ++
        rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          .map(e => SessionState(e.ts.getTime, e.ts.getTime, 1L, e.value)))
        .sortBy(s => (s.start, s.end))
      var closed = List.empty[Session]
      var cur = Option.empty[SessionState]
      items.foreach { it =>
        cur match {
          case Some(c) if it.start - c.end <= gapMs =>
            // start-sorted ⇒ it.start >= c.start; overlap makes the
            // difference negative and merges, as it must
            cur = Some(SessionState(c.start, math.max(c.end, it.end),
              c.n + it.n, c.sum + it.sum))
          case Some(c) =>
            closed ::= Session(userId, c.start, c.end, c.n, c.sum)
            cur = Some(it)
          case None =>
            cur = Some(it)
        }
      }
      cur.foreach(state.update)
      closed.reverseIterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  final case class UserStats(user_id: Long, n_events: Long, sum_value: Double)

  /** State record for [[runningUserStats]] (public so the encoder
    * codegen can construct it — private nested types force an
    * interpreted fallback). */
  final case class StatsState(n: Long, sum: Double)

  /** Per-user running stats processor for [[runningUserStats]] —
    * Spark 4's `transformWithState` arbitrary-state API (the
    * successor of `mapGroupsWithState`): typed `ValueState` in the
    * RocksDB state store, explicit TTL surface, timers available.
    * State is one (n, sum) pair per user forever — bounded. */
  private class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserStats] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[StatsState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[StatsState]("agg",
        org.apache.spark.sql.Encoders.product[StatsState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStats] = {
      val prev = if (state.exists()) state.get() else StatsState(0L, 0.0)
      var n = prev.n
      var s = prev.sum
      rows.foreach { e => n += 1; s += e.value }
      state.update(StatsState(n, s))
      Iterator.single(UserStats(key, n, s))
    }
  }

  /** Running per-user feature freshness (event count + value sum)
    * via `transformWithState` — each trigger emits the refreshed
    * stats of the users that saw data (Update-mode sink). Requires
    * the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), which is what
    * a 100 TB deployment runs anyway: state lives off-heap/on-disk
    * with changelog checkpointing, not in executor heap. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final case class HitterEstimate(shard: Int, token: String, est: Long)

  /** Streaming heavy hitters with BOUNDED state: tokens hash-shard
    * into `shards` groups, each group maintaining a Misra–Gries
    * summary of `k` counters in `mapGroupsWithState` (per-shard state
    * size is k entries FOREVER, no matter how many distinct tokens
    * stream past — the streaming twin of [[graft.operators.Sketches
    * .heavyHitters]]'s partition sketch). Every occurrence of a token
    * lands in the same shard, so the MG guarantee applies per shard:
    * any token with count ≥ N_shard/(k+1) since stream start is
    * present, with `est` undercounting by at most N_shard/(k+1).
    * Each trigger emits the full refreshed summary of the shards that
    * saw data (Update-mode sink). Exact counts for the survivors
    * come from a batch pass over the archived stream, exactly like
    * the batch operator's verify stage. */
  def heavyHittersStream(tokens: Dataset[String], k: Int = 64,
                         shards: Int = 16): Dataset[HitterEstimate] = {
    import tokens.sparkSession.implicits._

    def update(shard: Int, rows: Iterator[String],
               state: GroupState[Map[String, Long]]): Iterator[HitterEstimate] = {
      var counters = state.getOption.getOrElse(Map.empty[String, Long])
      rows.foreach { t =>
        counters.get(t) match {
          case Some(n) => counters = counters.updated(t, n + 1L)
          case None if counters.size < k => counters = counters.updated(t, 1L)
          case None =>
            counters = counters.iterator
              .map { case (key, n) => key -> (n - 1L) }
              .filter(_._2 > 0L).toMap
        }
      }
      state.update(counters)
      counters.iterator.map { case (t, n) => HitterEstimate(shard, t, n) }
    }

    tokens.groupByKey(t => math.floorMod(t.hashCode, shards))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
  }

  final case class PatternMatch(user_id: Long, trigger_ms: Long,
                                target_ms: Long)

  final case class TriggerState(ts: Long, event_id: Long)

  /** Streaming sequence-pattern detection (CEP-style "A then B within
    * T"): per user, remember the LATEST unconsumed `triggerType`
    * event; when a `targetType` event lands within `withinMs` of it,
    * emit a match and consume the trigger (one match per trigger).
    * A target past the window expires the stale trigger instead —
    * so state is ONE (ts, id) pair per user, bounded forever.
    *
    * Irrelevant event types are filtered BEFORE the keyed shuffle, so
    * at scale the state shuffle carries only trigger/target rows.
    * Within a batch events process in (ts, event_id) order; as with
    * [[sessionize]], cross-batch ordering is the visible horizon
    * (process-in-arrival-order), the standard Append-mode contract.
    */
  def patternDetect(events: Dataset[Event], triggerType: String,
                    targetType: String,
                    withinMs: Long): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[TriggerState]): Iterator[PatternMatch] = {
      var trig = state.getOption
      val out = List.newBuilder[PatternMatch]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        if (e.event_type == triggerType) {
          trig = Some(TriggerState(t, e.event_id))
        } else {
          trig match {
            case Some(tr) if t - tr.ts >= 0 && t - tr.ts <= withinMs =>
              out += PatternMatch(userId, tr.ts, t)
              trig = None
            case Some(tr) if t - tr.ts > withinMs =>
              trig = None // stale trigger can never match again
            case _ => () // target before any trigger: no match
          }
        }
      }
      trig.fold(state.remove())(state.update)
      out.result().iterator
    }

    events
      .filter(e => e.event_type == triggerType || e.event_type == targetType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  // ----------------------------------------- streaming near-dup admission

  /** One micro-batch of [[nearDupAdmit]], exposed for direct testing
    * (the [[publishBatchJdbc]] pattern). Admits/rejects the batch's
    * documents against the ADMITTED corpus accumulated in `stateDir`,
    * then appends the newly-admitted docs' LSH state and writes the
    * batch's decisions — both as `load_id=batch-…` partitions with
    * dynamic overwrite, so a replayed batch (at-least-once delivery
    * after recovery) REPLACES its previous state/output instead of
    * duplicating or self-rejecting.
    *
    * Per batch:
    *  1. batch docs → shingle sets → minhash signatures → band keys
    *     (the SAME staged pipeline as [[graft.operators.Dedup
    *     .minhashLsh]] — [[graft.operators.Dedup.bandedIds]] is
    *     shared, so candidates match the batch operator exactly);
    *  2. state join: batch band keys × admitted band keys → candidate
    *     (admitted, batch) pairs, Jaccard-verified against the stored
    *     shingle sets → batch docs with a verified admitted neighbor
    *     are REJECTED (witness = smallest such neighbor);
    *  3. survivors run [[graft.operators.Dedup.kernelAdmit]] on their
    *     within-batch verified pairs (edges touching a state-rejected
    *     doc are dropped — a rejected doc imposes no constraint,
    *     exactly the batch kernel's edge-drop rule);
    *  4. newly-admitted docs' (sh, band) state is appended; decisions
    *     (doc_id, status, dup_of) land in `outDir`.
    *
    * State size is proportional to the ADMITTED corpus (unique
    * content), not the stream length — rejected duplicates leave no
    * state. Each batch's work is (batch bands × state bands) hash
    * join plus frontier-sized kernel rounds: no corpus-sized shuffle
    * recurs per batch. NearDupAdmitSpec proves the id-ordered stream
    * replays to EXACTLY [[graft.operators.Dedup.greedyAdmit]] on the
    * union corpus, and that batch replay is a no-op. */
  def admitBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 outDir: String, idCol: String = "doc_id",
                 textCol: String = "text", numHashes: Int = 16,
                 numBands: Int = 4, shingleSize: Int = 3,
                 threshold: Double = 0.5): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val loadId = runId(batchId)

    // one micro-batch: small; cut the source lineage
    val shingled = Checkpoints.truncate(
      Dedup.shingleSets(batch, idCol, textCol, shingleSize))
    val sigs = Dedup.minhashSignatures(shingled, numHashes)
    val bands = Checkpoints.truncate(Dedup.bandedIds(sigs, numHashes, numBands))

    // Admitted-corpus state (empty on the first batch). A replayed
    // batch's own stale partition is excluded from the READ so the
    // dynamic-overwrite WRITE below replaces it without this batch's
    // docs seeing their own failed-attempt state as "admitted".
    val state: Option[DataFrame] = LakeIO.readIfPresent(spark, stateDir)
      .map(st => Checkpoints.truncate(st.filter(col("load_id") =!= loadId)))

    // (2) rejected-by-state: verified near-dup of an already-admitted
    // doc; witness = the smallest such neighbor (ids only grow, so
    // the global minimum admitted neighbor is always in state).
    val stateRejected: DataFrame = state match {
      case None => spark.range(0).select(col("id"),
        lit(null).cast(org.apache.spark.sql.types.LongType).as("dup_of"))
      case Some(st) =>
        val cands = st.select(explode(col("bands")).as("band"),
            col("id").as("id_a"))
          .join(bands.select(col("band"), col("id").as("id_b")), Seq("band"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
        Dedup.verifyJaccard(cands,
            st.select(col("id"), col("sh"))
              .unionByName(shingled), threshold)
          .groupBy(col("id_b").as("id"))
          .agg(min(col("id_a")).as("dup_of"))
    }
    val rejectedByState = Checkpoints.truncate(stateRejected)

    // (3) within-batch kernel over survivor-survivor verified edges
    val survivors = shingled.select(col("id"))
      .join(rejectedByState.select(col("id")), Seq("id"), "left_anti")
    val innerPairs = Dedup.verifyJaccard(
      Dedup.lshCandidatePairs(sigs, numHashes, numBands)
        .join(survivors.select(col("id").as("id_a")), Seq("id_a"))
        .join(survivors.select(col("id").as("id_b")), Seq("id_b")),
      shingled, threshold)
    val inner = Dedup.kernelAdmit(survivors, innerPairs)

    val decisions = inner
      .unionByName(rejectedByState.select(col("id"), lit("R").as("status"),
        col("dup_of")))
      .select(col("id").as(idCol), col("status"), col("dup_of"))

    // (4) idempotent decision + state appends (own-partition overwrite)
    LakeIO.appendRun(decisions, outDir, loadId)
    val admittedState = shingled
      .join(inner.filter(col("status") === "A").select(col("id")), Seq("id"))
      .join(bands.groupBy(col("id")).agg(collect_list(col("band")).as("bands")),
        Seq("id"))
      .select(col("id"), col("sh"), col("bands"))
    LakeIO.appendRun(admittedState, stateDir, loadId)
  }

  /** Streaming near-dup admission gate — the continuous-ingestion
    * twin of [[graft.operators.Dedup.greedyAdmit]] (q225): each
    * micro-batch's documents are admitted unless a verified near-dup
    * (MinHash+LSH candidates, exact Jaccard ≥ threshold) of an
    * already-admitted document, in arrival order. For id-ordered
    * arrivals the accumulated decisions equal the batch operator on
    * the union corpus exactly (NearDupAdmitSpec). */
  def nearDupAdmit(docs: DataFrame, stateDir: String, outDir: String,
                   checkpointDir: String, idCol: String = "doc_id",
                   textCol: String = "text", numHashes: Int = 16,
                   numBands: Int = 4, shingleSize: Int = 3,
                   threshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        admitBatch(df.toDF(), batchId, stateDir, outDir, idCol, textCol,
          numHashes, numBands, shingleSize, threshold)
      }
      .start()
}
