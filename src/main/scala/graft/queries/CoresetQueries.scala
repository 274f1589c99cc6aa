package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Clustering
import graft.queries.QueryDef.table

/** Round-4 continuation: vector-geometry tier — a Johnson–
  * Lindenstrauss random-projection distortion audit (the dimension-
  * reduction step that makes 1024-dim embedding pipelines affordable)
  * and farthest-point k-center coreset selection (the diverse-subset
  * sampler for exemplar picking / k-means++ style seeding).
  *
  * Both rely on the repo-wide vector parity contract: dot products
  * fold dimensions in fixed order on both engines, so raw doubles
  * hash-match without tolerance games.
  */
object CoresetQueries {

  private def planeLit(h: Int): String =
    "[" + VectorFunctions.hyperplane(h, 64)
      .map(d => f"$d%.1f").mkString(",") + "]::DOUBLE[]"

  /** q159 — Johnson–Lindenstrauss projection distortion audit:
    * project the 64-dim embeddings onto 16 deterministic md5-derived
    * hyperplanes (the same constants the SRP-LSH family inlines) and
    * measure, for 250 deterministic pairs (even id, id+1), the
    * squared-distance ratio after/before. JL says the ratio
    * concentrates around 16·σ²_plane regardless of corpus size — the
    * audit is the evidence a pipeline records before committing to a
    * projected index. One corpus pass to project (16 codegen'd dot
    * products per row), one self-join on adjacent ids for the pair
    * sample; no pairwise-all work. */
  private val q159 = QueryDef(
    "q159_jl_projection_audit",
    (s, dir) => {
      val planes = (0 until 16).map(h => VectorFunctions.hyperplane(h, 64))
      val proj = array(planes.map(p =>
        VectorFunctions.dot(col("v"), typedLit(p))): _*)
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("pv", proj)
      def d2(a: String, b: String) =
        VectorFunctions.dot(col(a), col(a)) +
          VectorFunctions.dot(col(b), col(b)) -
          lit(2.0) * VectorFunctions.dot(col(a), col(b))
      val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("pv").as("pva")).filter(col("id_a") % 2 === 0)
      val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("pv").as("pvb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          d2("va", "vb").as("d2_orig"), d2("pva", "pvb").as("d2_proj"))
        .withColumn("ratio",
          when(col("d2_orig") === 0.0, lit(0.0))
            .otherwise(col("d2_proj") / col("d2_orig")))
        .orderBy(col("id_a"))
    },
    Some {
      val projList = "[" + (0 until 16)
        .map(h => s"list_dot_product(v, ${planeLit(h)})").mkString(",\n          ") + "]"
      s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      p AS (
        SELECT vec_id, v,
          $projList AS pv
        FROM e)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
               - 2 * list_dot_product(a.v, b.v)) AS d2_orig,
             (list_dot_product(a.pv, a.pv) + list_dot_product(b.pv, b.pv)
               - 2 * list_dot_product(a.pv, b.pv)) AS d2_proj,
             CASE WHEN (list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                         - 2 * list_dot_product(a.v, b.v)) = 0 THEN 0.0
                  ELSE (list_dot_product(a.pv, a.pv) + list_dot_product(b.pv, b.pv)
                         - 2 * list_dot_product(a.pv, b.pv))
                       / (list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                         - 2 * list_dot_product(a.v, b.v)) END AS ratio
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
      ORDER BY id_a"""
    })

  /** q160 — farthest-point k-center coreset
    * ([[Clustering.farthestPointSeeds]]): greedy 5-center traversal
    * from vec_id 0; each round selects the point with the largest
    * distance² to its nearest already-selected center (ties toward
    * the smaller id). The oracle unrolls all four selection rounds,
    * so the argmax choices AND the incremental min-distance updates
    * are hash-verified — the selected radii are the k-center
    * 2-approximation certificate. */
  private val q160 = QueryDef(
    "q160_kcenter_coreset",
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      Clustering.farthestPointSeeds(e, k = 5, startId = 0L)
        .orderBy(col("round"))
    },
    Some {
      def d2(x: String, c: String) =
        s"(list_dot_product($x, $x) + list_dot_product($c, $c) - 2 * list_dot_product($x, $c))"
      val rounds = (1 to 4).map { r =>
        val prev = s"m${r - 1}"
        val sel =
          s"""s$r AS (SELECT id AS cid, dmin AS radius FROM $prev
              ORDER BY dmin DESC, id LIMIT 1),
          c$r AS (SELECT e.v AS cv FROM e JOIN s$r ON e.id = s$r.cid)"""
        if (r < 4)
          s"""$sel,
          m$r AS (SELECT $prev.id, $prev.v,
                         LEAST($prev.dmin, ${d2(s"$prev.v", s"c$r.cv")}) AS dmin
                  FROM $prev, c$r)"""
        else sel
      }.mkString(",\n      ")
      s"""
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT v AS cv FROM e WHERE id = 0),
      m0 AS (SELECT id, v, ${d2("e.v", "c0.cv")} AS dmin FROM e, c0),
      $rounds
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS round, CAST(0 AS BIGINT) AS center_id,
               0.0 AS radius
        UNION ALL SELECT 1, cid, radius FROM s1
        UNION ALL SELECT 2, cid, radius FROM s2
        UNION ALL SELECT 3, cid, radius FROM s3
        UNION ALL SELECT 4, cid, radius FROM s4)
      ORDER BY round"""
    })

  val all: Seq[QueryDef] = Seq(q159, q160)
}
