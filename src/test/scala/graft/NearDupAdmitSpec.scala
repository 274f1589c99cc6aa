package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.queries.ExtensionQueries
import graft.streaming.StreamingOps

/** Greedy near-dup admission (q225) and its streaming twin.
  *
  * [[Dedup.kernelAdmit]] is checked on an explicit graph whose kernel
  * requires a depth-2 alternating chain (multiple fixpoint rounds);
  * [[StreamingOps.admitBatch]] replayed over id-ordered micro-batches
  * must reproduce [[Dedup.greedyAdmit]] on the union corpus EXACTLY
  * (same admit/reject statuses AND the same smallest-admitted-neighbor
  * witnesses), and re-running a batch must be a no-op (the
  * at-least-once replay contract of the `load_id` partition
  * overwrite). */
class NearDupAdmitSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("kernelAdmit resolves alternating chains, cliques and isolated docs") {
    import spark.implicits._
    // chain 1-2-3-4 (admit/reject alternates), triangle 6-7-8
    // (near-clique: one round), isolated 5
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L), (6L, 8L), (7L, 8L))
      .toDF("id_a", "id_b")
    val out = Dedup.kernelAdmit(ids, pairs).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ("A", None), 2L -> ("R", Some(1L)),
      3L -> ("A", None), 4L -> ("R", Some(3L)),
      5L -> ("A", None),
      6L -> ("A", None), 7L -> ("R", Some(6L)), 8L -> ("R", Some(6L))))
  }

  test("id-ordered micro-batches replay to the batch greedyAdmit exactly") {
    val docs = ExtensionQueries.augmentedDocs(spark, sf).localCheckpoint()
    val expected = Dedup.greedyAdmit(docs).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(expected.exists(_._2 == "R"), "fixture must contain near-dups")

    val stateDir = tempDir("graft_admit_state")
    val outDir = tempDir("graft_admit_out")
    // three id-ordered micro-batches (arrival order = ascending id)
    val cuts = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val (c1, c2) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val batches = Seq(
      docs.filter(col("doc_id") <= c1),
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
      docs.filter(col("doc_id") > c2))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.admitBatch(b, i.toLong, stateDir, outDir)
    }
    def decisions() = spark.read.parquet(outDir)
      .select(col("doc_id"), col("status"), col("dup_of")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(decisions().toSeq == expected.toSeq)

    // at-least-once replay: re-running the middle batch is a no-op
    StreamingOps.admitBatch(batches(1), 1L, stateDir, outDir)
    assert(decisions().toSeq == expected.toSeq)
    // state holds exactly the admitted docs, once each
    val stateIds = spark.read.parquet(stateDir).select(col("id")).collect()
      .map(_.getLong(0)).sorted
    assert(stateIds.toSeq ==
      expected.filter(_._2 == "A").map(_._1).toSeq)
  }

  test("nearDupAdmit streaming query drives admitBatch end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stateDir = tempDir("graft_admit_state2")
    val outDir = tempDir("graft_admit_out2")
    val ckpt = tempDir("graft_admit_ckpt")
    val q = StreamingOps.nearDupAdmit(
      mem.toDF().toDF("doc_id", "text"), stateDir, outDir, ckpt)
    // batch 0: two distinct docs; batch 1: a near-dup of doc 1 + a fresh doc
    mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different words in this one here now"))
    q.processAllAvailable()
    mem.addData((3L, "the quick brown fox jumps over the lazy dog again"),
      (4L, "yet another unrelated document body for good measure"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select(col("doc_id"), col("status"), col("dup_of")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "A", -1L), (2L, "A", -1L),
      (3L, "R", 1L), (4L, "A", -1L)))
  }

  test("admitAgainst(prior admitted, incoming) ≡ greedyAdmit on the union") {
    // the q228 operator is one pure admitBatch: with releases split in
    // id (arrival) order and the prior release already deduplicated,
    // its decisions — statuses AND witnesses — must equal the batch
    // greedyAdmit on the whole corpus restricted to the incoming ids
    // (greedy admission is prefix-stable in arrival order, the same
    // property the micro-batch replay test above proves)
    val docs = ExtensionQueries.augmentedDocs(spark, sf).localCheckpoint()
    val expected = Dedup.greedyAdmit(docs).localCheckpoint()
    val cut = 500L // fixture base ids run 0..1499; mutants +1e6
    val priorAdmitted = docs.filter(col("doc_id") <= cut)
      .join(expected.filter(col("status") === "A")
        .select(col("doc_id")), Seq("doc_id"))
    val incoming = docs.filter(col("doc_id") > cut)
    val got = Dedup.admitAgainst(priorAdmitted, incoming).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    val want = expected.filter(col("doc_id") > cut).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(got.exists(_._2 == "R"), "split must contain cross-release dups")
    assert(got.toSeq == want.toSeq)
  }
}
