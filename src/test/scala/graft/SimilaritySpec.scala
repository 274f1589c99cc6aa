package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorFunctions

/** ANN tier: brute-force correctness on constructed vectors, SRP-LSH
  * recall against the exact baseline on the real embeddings fixture. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK ranks by cosine, excludes self, breaks ties by id") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),   // closest to 1
      (3L, Array(0.0f, 1.0f)),   // orthogonal to 1
      (4L, Array(1.0f, 0.0f))    // identical direction to 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1), k = 3)
      .orderBy("rank").select("rank", "n_id").as[(Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(4L, 2L, 3L))
    assert(!got.map(_._2).contains(1L))
  }

  test("farthestPointSeeds matches a sequential greedy k-center traversal") {
    import graft.operators.Clustering
    // 2-d layout with an unambiguous greedy order from id 0 at origin
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(10.0f, 0.0f)),
      (3L, Array(0.0f, 8.0f)),
      (4L, Array(5.0f, 5.0f)),
      (5L, Array(10.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.farthestPointSeeds(vecs, k = 4, startId = 0L)
      .orderBy("round").as[(Long, Long, Double)].collect().toSeq

    // sequential reference with the same tie-break (dmin desc, id asc)
    val pts = Map(0L -> (0.0, 0.0), 1L -> (1.0, 0.0), 2L -> (10.0, 0.0),
      3L -> (0.0, 8.0), 4L -> (5.0, 5.0), 5L -> (10.0, 1.0))
    def d2(a: (Double, Double), b: (Double, Double)) = {
      val (dx, dy) = (a._1 - b._1, a._2 - b._2); dx * dx + dy * dy
    }
    var centers = Vector(0L)
    var expect = Vector((0L, 0L, 0.0))
    for (r <- 1 to 3) {
      val (id, rad) = pts.keys.toSeq.sorted
        .map(id => id -> centers.map(c => d2(pts(id), pts(c))).min)
        .maxBy { case (id, d) => (d, -id) }
      centers :+= id
      expect :+= ((r.toLong, id, rad))
    }
    assert(got == expect)
  }

  test("multi-table srp LSH recall beats the random-bucket floor") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(e, q, k = 5).cache()
    val approx = Similarity.srpTopK(e, q, k = 5, nBits = 4, tables = 4).cache()
    val recall = Similarity.recallAtK(exact, approx)
    // Random gaussian vectors: true top-5 sit at ~70° (cos≈0.35), so
    // per-table collision ≈ 0.14; 4 tables ≈ 1-(1-.14)^4 ≈ 0.45.
    // The random-candidate floor is 4/16 = 0.25 of the corpus probed —
    // assert we clear it and land in the amplified range.
    assert(recall >= 0.3, s"recall $recall")
    assert(approx.count() > 0)
  }

  test("hyperplanes are deterministic and engine-independent") {
    val p1 = VectorFunctions.hyperplane(3, 8)
    val p2 = VectorFunctions.hyperplane(3, 8)
    assert(p1 == p2)
    assert(p1.forall(v => v >= -32768 && v <= 32767))
    assert(VectorFunctions.hyperplane(4, 8) != p1)
  }

  test("cosine/dot agree with manual computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val dot = df.select(VectorFunctions.dot($"a", $"b")).as[Double].collect().head
    assert(dot == 32.0)
    val cos = df.select(VectorFunctions.cosine($"a", $"b")).as[Double].collect().head
    assert(math.abs(cos - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
  }

  test("native dot product is bit-identical to the HOF composition") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).select($"embedding".as("a"))
    val pairs = e.crossJoin(e.select($"a".as("b")))
    val native = pairs.select(VectorFunctions.dot($"a", $"b")).as[Double].collect()
    val composed = pairs.select(VectorFunctions.dotComposed($"a", $"b")).as[Double].collect()
    assert(native.length == 2500)
    assert(native.toSeq == composed.toSeq) // exact bit equality
    // float × double-literal mix (the SRP plane path)
    val plane = VectorFunctions.hyperplane(0, 64)
    val n2 = e.select(VectorFunctions.dot($"a", typedLit(plane))).as[Double].collect()
    val c2 = e.select(VectorFunctions.dotComposed($"a", typedLit(plane))).as[Double].collect()
    assert(n2.toSeq == c2.toSeq)
  }

  test("ivf top-k: self-consistent and high recall vs exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(e, q, k = 5).cache()
    val ivf = Similarity.ivfTopK(e, q, k = 5, centroidEvery = 10, nProbe = 3).cache()
    // every query returns ranked rows, self excluded
    assert(ivf.filter($"q_id" === $"n_id").count() == 0)
    val ranks = ivf.groupBy("q_id").agg(max("rank")).as[(Long, Long)].collect()
    assert(ranks.forall(_._2 <= 5))
    // probing 3 of ~5 cells should recover most of the true top-5
    val recall = Similarity.recallAtK(exact, ivf)
    assert(recall >= 0.4, s"ivf recall $recall")
  }

  test("ivf with a kmeans-trained codebook keeps recall at the same nProbe") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(e, q, k = 5).cache()
    val seeds = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".cast("long").as("c_id"), $"embedding".as("c_v"))
    val codebook = graft.operators.Clustering.kmeans(e, seeds, rounds = 2)
    val ivf = Similarity.ivfTopKWith(e, q, codebook, k = 5, nProbe = 3).cache()
    assert(ivf.filter($"q_id" === $"n_id").count() == 0)
    val recall = Similarity.recallAtK(exact, ivf)
    assert(recall >= 0.4, s"trained-codebook ivf recall $recall")
  }

  test("persisted IVF index: pruned search equals the in-memory plan") {
    import graft.sources.LakeZones
    val lake = tempDir("graft_ivf")
    val zones = LakeZones(lake)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".cast("long").as("c_id"), $"embedding".as("c_v"))
    Similarity.buildIvfIndex(e, cents, zones, "ann")
    // the index landed partitioned by cell
    val cellDirs = new java.io.File(s"$lake/gold/ann_cells")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length > 1, "index must be hive-partitioned by cell")
    // build persists the cell count so search never pays a count() job
    val metaBody = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$lake/gold/ann_ivf_meta.json")), "UTF-8")
    assert(metaBody.contains(s""""n_cells":${cents.count()}"""),
      s"sidecar must record the codebook size: $metaBody")

    val q = e.filter($"vec_id" % 100 === 0)
    val fromIndex = Similarity.searchIvfIndex(spark, zones, "ann", q,
      k = 5, nProbe = 2)
    val inMemory = Similarity.ivfTopKWith(e, q, cents, k = 5, nProbe = 2)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"q_id", $"rank", $"n_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
    assert(norm(fromIndex) == norm(inMemory))
    // the probed-cell filter reaches the scan INSIDE the partition
    // filter list (an empty 'PartitionFilters: []' must not pass)
    val plan = fromIndex.queryExecution.executedPlan.toString
    val partFilter = """PartitionFilters: \[[^\]]*cell[^\]]*(IN|isin|=)""".r
    assert(partFilter.findFirstIn(plan).isDefined,
      s"probe filter must appear in PartitionFilters:\n${plan.take(1200)}")

    // large-codebook path (forced via maxInlineCells = 0): the probe
    // set stays distributed as a semi join and results are identical;
    // runtime partition pruning replaces the literal list
    val fromIndexBig = Similarity.searchIvfIndex(spark, zones, "ann", q,
      k = 5, nProbe = 2, maxInlineCells = 0)
    assert(norm(fromIndexBig) == norm(inMemory))
    val bigPlan = fromIndexBig.queryExecution.executedPlan.toString
    assert(bigPlan.contains("LeftSemi") &&
      bigPlan.toLowerCase.contains("dynamicpruning"),
      s"semi-join path must carry dynamic partition pruning:\n${bigPlan.take(1200)}")

    // streaming enrichment against the same index: per-batch top-k
    // lands as a run partition and equals the in-memory search
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_annck")
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val sq = graft.streaming.StreamingOps.annEnrich(
      stream, zones, "ann", "ann_hits", k = 5, nProbe = 2, ckpt)
    val qRows = q.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
    mem.addData(qRows.toIndexedSeq: _*)
    sq.processAllAvailable()
    sq.stop()
    val streamed = graft.sources.LakeIO.readGold(spark, zones, "ann_hits")
    assert(norm(streamed) == norm(inMemory))
  }
}
