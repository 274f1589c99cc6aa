package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an `array<float>`
  * embedding column (SURVEY.md §7.5).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact cosine top-k; the correctness
  *    baseline. Cross join pruned to (queries × corpus), ranked with
  *    a per-query window. Cost O(|Q|·N·d): fine when |Q| is small —
  *    broadcast the queries and it's one pass over the corpus, no
  *    shuffle of the corpus itself.
  *  - [[srpTopK]] — the scale path: signed-random-projection LSH
  *    buckets (deterministic md5-derived hyperplanes, so the
  *    "projection matrix" is an expression, not state). Probes only
  *    the query's bucket (+optionally neighbors via fewer bits).
  *    Cost O(|Q|·N/2^bits·d) expected.
  */
object Similarity {

  /** Exact top-k neighbors for each query row (excluding self).
    * Deterministic ordering: (cosine desc, neighbor id) — ties break
    * by id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).cast(LongType).as("n_id"), col(vecCol).as("n_v"))
    val q = broadcast(
      queries.select(col(idCol).cast(LongType).as("q_id"), col(vecCol).as("q_v")))
    val scored = c.join(q, col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_v"), col("n_v")))
    topKByCos(scored, k)
  }

  /** Multi-table LSH approximate top-k: `tables` independent SRP hash
    * tables of `nBits` each; a corpus vector is a candidate for a
    * query if they collide in ANY table (union-of-probes, the
    * standard recall amplifier: P[candidate] = 1-(1-p^nBits)^tables).
    * Only candidates are cosine-scored — expected cost
    * O(|Q| · N · tables / 2^nBits · d) instead of O(|Q|·N·d). */
  def srpTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 4,
              tables: Int = 4, dim: Int = 64, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    def buckets(v: Column): Column = array((0 until tables).map { t =>
      // table t uses hyperplanes [t*nBits, (t+1)*nBits)
      (0 until nBits).map(b =>
        srpBit(v, graft.functions.VectorFunctions
          .hyperplane(t * nBits + b, dim)) * (1L << b))
        .reduce(_ + _) + (t.toLong << 32)  // disambiguate tables
    }: _*)
    val c = corpus.select(col(idCol).cast(LongType).as("n_id"),
        col(vecCol).as("n_v"), explode(buckets(col(vecCol))).as("bkt"))
    val q = broadcast(queries.select(col(idCol).cast(LongType).as("q_id"),
        col(vecCol).as("q_v"), explode(buckets(col(vecCol))).as("q_bkt")))
    val candidates = c.join(q, col("bkt") === col("q_bkt") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_v"), col("n_id"), col("n_v"))
      .dropDuplicates("q_id", "n_id")
    val scored = candidates.withColumn("cos", cosine(col("q_v"), col("n_v")))
    topKByCos(scored, k)
  }

  /** IVF (inverted-file) approximate top-k — the classic
    * cell-probe ANN index expressed relationally:
    *
    *  1. coarse quantizer: a deterministic centroid subset of the
    *     corpus (`vec_id % centroidEvery == 0` — a stand-in for an
    *     offline-trained k-means codebook, which would slot in as the
    *     same small broadcast relation);
    *  2. index build: every corpus vector is assigned to its
    *     nearest-by-cosine centroid via a broadcast join + map-side
    *     `max(struct(cos, -c_id))` partial aggregate — one shuffle of
    *     N rows (not N·C), no window over the cross product. At scale
    *     this materializes ONCE as the stored index, partitioned by
    *     cell;
    *  3. search: each query probes its `nProbe` nearest cells and
    *     scores exact cosine only against those cells' members —
    *     expected cost O(|Q| · nProbe · N/C · d).
    *
    * Ties everywhere break toward the smaller id, so results are
    * deterministic and SQL-oracle-reproducible. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidEvery: Int = 50, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxCells: Int = 40): DataFrame =
    ivfTopKWith(corpus, queries,
      // maxCells cap = the [[Clustering.seedCentroids]] scale guard:
      // codebook size is a hyperparameter, not a function of corpus
      // size (uncapped, the N×cells assignment goes quadratic)
      Clustering.seedCentroids(corpus, centroidEvery, idCol, vecCol, maxCells),
      k, nProbe, idCol, vecCol)

  /** IVF search against an EXPLICIT codebook `(c_id, c_v)` — e.g. one
    * trained by [[Clustering.kmeans]], which tightens the cells and
    * so the recall at the same nProbe. Same plan as [[ivfTopK]]:
    * broadcast codebook, map-side argmax assignment, cell-probe
    * search. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  centroids: DataFrame, k: Int, nProbe: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = broadcast(centroids.select(
      col("c_id").cast(LongType).as("c_id"), col("c_v")))
    val assign = Clustering.assignCells(corpus, cents, idCol, vecCol)
    val probes = probeCells(queries, cents, nProbe, idCol, vecCol)
    // every corpus vector lives in exactly one cell → no dedup needed
    val scored = broadcast(probes)
      .join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_v"), col("n_v")))
    topKByCos(scored, k)
  }

  /** Persist an IVF index to the lake: corpus vectors land
    * hive-partitioned BY CELL (`cell=<id>/` directories) next to
    * their codebook. At 100 TB this is the disk-resident ANN design:
    * the index is built once (one broadcast-argmax pass over the
    * corpus, the same single shuffle as [[ivfTopKWith]]'s assignment)
    * and every later search reads ONLY its probed cells' directories
    * — partition pruning turns nProbe into a file-listing filter, so
    * serving cost scales with cells touched, not corpus size. Both
    * tables publish atomically ([[graft.sources.LakeIO.replaceGold]]).
    */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame,
                    zones: graft.sources.LakeZones, name: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val cents = centroids.select(
      col("c_id").cast(LongType).as("c_id"), col("c_v"))
    val assigned = Clustering.assignCells(corpus, cents, idCol, vecCol)
    graft.sources.LakeIO.replaceGold(
      assigned.select(col("n_id"), col("n_v"), col("cell")),
      zones, s"${name}_cells", partitionCols = Seq("cell"))
    graft.sources.LakeIO.replaceGold(cents, zones, s"${name}_codebook")
    // Index stats sidecar: the cell count is fixed at build time, so
    // persist it once (a driver-side FS write, same single-writer
    // assumption as replaceGold) instead of paying a count() Spark job
    // on every later search to pick the probe-pruning path.
    val nCells = cents.count()
    val meta = ivfMetaPath(zones, name)
    val fs = meta.getFileSystem(
      corpus.sparkSession.sessionState.newHadoopConf())
    val out = fs.create(meta, true)
    try out.write(s"""{"n_cells":$nCells}""".getBytes("UTF-8"))
    finally out.close()
  }

  private def ivfMetaPath(zones: graft.sources.LakeZones, name: String) =
    new org.apache.hadoop.fs.Path(zones.gold(s"${name}_ivf_meta.json"))

  /** Cell count of a persisted IVF index: read from the build-time
    * sidecar (no Spark job); fall back to counting the codebook for
    * indexes built before the sidecar existed. */
  private def ivfCellCount(spark: org.apache.spark.sql.SparkSession,
                           zones: graft.sources.LakeZones, name: String,
                           codebook: DataFrame): Long = {
    val meta = ivfMetaPath(zones, name)
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      """"n_cells"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
        .map(_.group(1).toLong)
        .getOrElse(codebook.count())
    } else codebook.count()
  }

  /** Search a [[buildIvfIndex]] lake index: the codebook ranks
    * nProbe cells per query and the probed cell set prunes the index
    * scan down to those partition directories before a single vector
    * is read. Results are identical to [[ivfTopKWith]] with the same
    * codebook (asserted in SimilaritySpec).
    *
    * Pruning strategy by codebook size: up to `maxInlineCells` cells,
    * the probed ids are collected (bounded by the codebook) and
    * inlined as a static partition filter — pruning happens at
    * file-listing time. Beyond that, inlining thousands of literals
    * bloats the plan, so the probe set stays distributed: a broadcast
    * left-semi join on `cell`, which dynamic partition pruning turns
    * into a runtime partition filter on the hive-partitioned scan. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     zones: graft.sources.LakeZones, name: String,
                     queries: DataFrame, k: Int, nProbe: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxInlineCells: Int = 4096): DataFrame = {
    val codebook =
      graft.sources.LakeIO.readGold(spark, zones, s"${name}_codebook")
    val cents = broadcast(codebook)
    val probes = probeCells(queries, cents, nProbe, idCol, vecCol)
    val idxAll = graft.sources.LakeIO.readGold(spark, zones, s"${name}_cells")
    val idx =
      if (ivfCellCount(spark, zones, name, codebook) <= maxInlineCells) {
        val cells = probes.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        idxAll.filter(col("cell").isin(cells: _*))
      } else idxAll.join(
        broadcast(probes.select(col("cell")).distinct()), Seq("cell"), "left_semi")
    val scored = broadcast(probes)
      .join(idx, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_v"), col("n_v")))
    topKByCos(scored, k)
  }

  /** The `nProbe` nearest cells of each query by cosine against the
    * codebook `cents` (ties → smaller `c_id`): `(q_id, q_v, cell)`. */
  private def probeCells(queries: DataFrame, cents: DataFrame, nProbe: Int,
                         idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).cast(LongType).as("q_id"), col(vecCol).as("q_v"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("c_id"))
    q.crossJoin(cents)
      .withColumn("cos_c", cosine(col("q_v"), col("c_v")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))
  }

  /** Rank each query's scored candidates by (cosine desc, neighbor id)
    * and keep the first `k`: `(q_id, rank, n_id, cos)`. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast(LongType).as("rank"),
        col("n_id"), col("cos"))
  }

  /** Recall@k of an approximate result against the exact baseline —
    * the evaluation harness for the ANN tier. */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val hits = exact.select("q_id", "n_id")
      .join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi")
      .count()
    val total = exact.count()
    if (total == 0) 1.0 else hits.toDouble / total.toDouble
  }
}
