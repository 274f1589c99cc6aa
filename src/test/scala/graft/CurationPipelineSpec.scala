package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sources.{LakeIO, LakeZones}

/** End-to-end curation pipeline: the staged composition must agree
  * with the individually-verified operators at every boundary. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curation flow: monotone stages, correct survivors, stats beside gold") {
    val zones = LakeZones(tempDir("graft_cur"))
    // fixture corpus + planted exact and near duplicates
    val raw0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exactDups = raw0.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 500000L).as("doc_id"), $"text", $"lang",
        $"source", $"n_chars")
    val nearDups = raw0.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 600000L).as("doc_id"),
        concat($"text", lit(" trailing marker")).as("text"),
        $"lang", $"source", $"n_chars")
    val raw = raw0.unionByName(exactDups).unionByName(nearDups)

    val r = Curation.run(spark, raw, zones)

    // stages only ever shrink, and every planted exact dup must die
    assert(r.raw == raw.count())
    assert(r.gated <= r.raw && r.exactSurvivors <= r.gated &&
      r.nearDupSurvivors <= r.exactSurvivors)
    assert(r.gated > 0 && r.nearDupSurvivors > 0)

    val gold = LakeIO.readGold(spark, zones, "curation_gold")
    // no exact duplicates survive: every normalized fingerprint in
    // gold is unique (a keeper may itself fall to near-dup closure
    // later, so keeper identity is not the invariant — uniqueness is)
    assert(Dedup.exact(gold).filter($"n_copies" > 1).count() == 0,
      "gold must contain no exact-duplicate fingerprints")
    // survivors carry no near-dup pair among themselves at the
    // pipeline's threshold (the closure removed one side of each)
    assert(Dedup.minhashLsh(gold, threshold = 0.5).isEmpty,
      "gold must be near-dup free at the pipeline threshold")
    // PII scrub ran: no raw emails remain in silver or gold text
    assert(gold.filter($"text".rlike(TextAnalysis.EmailRe)).count() == 0)
    // mixture stats exist and cover every surviving language
    val mix = LakeIO.readGold(spark, zones, "curation_mixture")
    assert(mix.count() ==
      TextAnalysis.profile(gold).select($"lang_pred").distinct().count())
    // determinism: a second run reproduces the same gold set
    val zones2 = LakeZones(tempDir("graft_cur2"))
    val r2 = Curation.run(spark, raw, zones2)
    assert(r2 == r)
    val gold2 = LakeIO.readGold(spark, zones2, "curation_gold")
    assert(gold2.select("doc_id").as[Long].collect().sorted.toSeq ==
      gold.select("doc_id").as[Long].collect().sorted.toSeq)
  }
}
