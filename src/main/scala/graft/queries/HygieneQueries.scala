package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
import graft.queries.QueryDef.{spreadTable, table}

/** Round-4 continuation: corpus-infrastructure hygiene — embedding
  * whitening with an isotropy audit (the vector-space normalization
  * retrieval quality depends on), iterative proportional fitting of
  * sampling weights to a target language mix (the reweighting half of
  * data mixing, beside q167's hard allocation), and a consistent-
  * hashing shard-rebalance audit (what moves when the cluster grows).
  *
  * Exactness: every float reduction is a round-then-exact-DECIMAL-sum
  * (q133/q136 pattern); ring arithmetic is pure BIGINT md5 buckets.
  */
object HygieneQueries {

  /** q170 — embedding whitening + isotropy audit: per-dimension
    * mean/variance from exact DECIMAL sums (one corpus pass in
    * exploded form), then for 250 deterministic pairs the cosine
    * before and after standardization ((x−μ)/σ per dimension).
    * Anisotropic embedding spaces (a dominant mean direction) inflate
    * raw cosines — whitening pulls the pair distribution toward 0,
    * and this audit measures exactly how much. Pair cosines are
    * computed in exploded form joined on the dimension (no array
    * reassembly), each product term rounded to 9 decimals before the
    * exact sum, so both engines produce identical doubles. */
  private val q170 = QueryDef(
    "q170_whitening_audit",
    (s, dir) => {
      val ex = spreadTable(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
          col("x").cast(DoubleType).as("x"))
      val stats = ex.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(20, 7))).as("sx"),
          sum(round(col("x") * col("x"), 9).cast(DecimalType(28, 9))).as("sxx"))
        .select(col("pos"),
          (col("sx").cast(DoubleType) / col("n")).as("mu"),
          sqrt((col("sxx").cast(DoubleType) / col("n")) -
            (col("sx").cast(DoubleType) / col("n")) *
              (col("sx").cast(DoubleType) / col("n"))).as("sd"))
      val w = ex.join(broadcast(stats), Seq("pos"))
        .select(col("vec_id"), col("pos"), col("x"),
          ((col("x") - col("mu")) / col("sd")).as("wx"))
      val a = w.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id_a"), col("pos"),
          col("x").as("xa"), col("wx").as("wa"))
      val b = w.select((col("vec_id") - 1).as("id_a"), col("pos"),
        col("x").as("xb"), col("wx").as("wb"))
      val terms = a.join(b, Seq("id_a", "pos"))
        .groupBy(col("id_a"))
        .agg(
          sum(round(col("xa") * col("xb"), 9).cast(DecimalType(28, 9))).as("dr"),
          sum(round(col("xa") * col("xa"), 9).cast(DecimalType(28, 9))).as("nra"),
          sum(round(col("xb") * col("xb"), 9).cast(DecimalType(28, 9))).as("nrb"),
          sum(round(col("wa") * col("wb"), 9).cast(DecimalType(28, 9))).as("dw"),
          sum(round(col("wa") * col("wa"), 9).cast(DecimalType(28, 9))).as("nwa"),
          sum(round(col("wb") * col("wb"), 9).cast(DecimalType(28, 9))).as("nwb"))
      terms.select(col("id_a"), (col("id_a") + 1).as("id_b"),
          (col("dr").cast(DoubleType) /
            sqrt(col("nra").cast(DoubleType) * col("nrb").cast(DoubleType)))
            .as("cos_raw"),
          (col("dw").cast(DoubleType) /
            sqrt(col("nwa").cast(DoubleType) * col("nwb").cast(DoubleType)))
            .as("cos_white"))
        .orderBy(col("id_a"))
    },
    Some("""
      WITH ex AS (
        SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) - 1 AS pos,
               unnest(v) AS x
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
      stats AS (
        SELECT pos,
               CAST(SUM(CAST(x AS DECIMAL(20, 7))) AS DOUBLE) / COUNT(*) AS mu,
               sqrt(CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28, 9))) AS DOUBLE)
                      / COUNT(*)
                    - (CAST(SUM(CAST(x AS DECIMAL(20, 7))) AS DOUBLE) / COUNT(*))
                      * (CAST(SUM(CAST(x AS DECIMAL(20, 7))) AS DOUBLE) / COUNT(*)))
                 AS sd
        FROM ex GROUP BY pos),
      w AS (
        SELECT vec_id, ex.pos, x, (x - mu) / sd AS wx
        FROM ex JOIN stats ON ex.pos = stats.pos),
      a AS (SELECT vec_id AS id_a, pos, x AS xa, wx AS wa
            FROM w WHERE vec_id % 2 = 0),
      b AS (SELECT vec_id - 1 AS id_a, pos, x AS xb, wx AS wb FROM w),
      terms AS (
        SELECT id_a,
               SUM(CAST(ROUND(xa * xb, 9) AS DECIMAL(28, 9))) AS dr,
               SUM(CAST(ROUND(xa * xa, 9) AS DECIMAL(28, 9))) AS nra,
               SUM(CAST(ROUND(xb * xb, 9) AS DECIMAL(28, 9))) AS nrb,
               SUM(CAST(ROUND(wa * wb, 9) AS DECIMAL(28, 9))) AS dw,
               SUM(CAST(ROUND(wa * wa, 9) AS DECIMAL(28, 9))) AS nwa,
               SUM(CAST(ROUND(wb * wb, 9) AS DECIMAL(28, 9))) AS nwb
        FROM a JOIN b USING (id_a, pos)
        GROUP BY id_a)
      SELECT id_a, id_a + 1 AS id_b,
             CAST(dr AS DOUBLE) / sqrt(CAST(nra AS DOUBLE) * CAST(nrb AS DOUBLE))
               AS cos_raw,
             CAST(dw AS DOUBLE) / sqrt(CAST(nwa AS DOUBLE) * CAST(nwb AS DOUBLE))
               AS cos_white
      FROM terms ORDER BY id_a"""))

  /** q171's oracle raking steps, the SQL twins of its `langStep` and
    * `srcStep`: CTE `name` rescales `from`'s weights `w` so each
    * language (resp. source) sums to its target, rounded to 6 dp. */
  private def ipfLangSql(name: String, from: String): String = s"""$name AS (
        SELECT source, lang, n,
               CAST(ROUND(CAST(w AS DOUBLE) *
                 (CAST(t AS DOUBLE) / nl) /
                 CAST(SUM(w) OVER (PARTITION BY lang) AS DOUBLE), 6)
                 AS DECIMAL(28, 6)) AS w
        FROM $from, tot)"""

  private def ipfSrcSql(name: String, from: String): String = s"""$name AS (
        SELECT source, lang, n,
               CAST(ROUND(CAST(w AS DOUBLE) *
                 CAST(st AS DOUBLE) /
                 CAST(SUM(w) OVER (PARTITION BY source) AS DOUBLE), 6)
                 AS DECIMAL(28, 6)) AS w
        FROM $from JOIN srctot USING (source))"""

  /** q171 — iterative proportional fitting (raking) of sampling
    * weights: start from the source×lang document-count table and
    * alternate two marginal-matching steps (lang step toward a
    * uniform language target, source step back toward original source
    * masses), two full rounds unrolled. This is the reweighting half
    * of data mixing — q167 allocates hard token budgets, IPF produces
    * the per-cell sampling weights that hit a target language mix
    * without collapsing any source. Each update is
    * round(w · target/marginal, 6) — one double ratio of exact
    * DECIMAL sums per step, so the fitted weights are engine-exact.
    * The fitted table is |sources|×|langs| — post-aggregate
    * constant-size work at any corpus scale. */
  private val q171 = QueryDef(
    "q171_ipf_reweight",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dec = DecimalType(28, 6)
      // round-14 optimization: each marginal is a window sum over the
      // (|sources|×|langs|)-row cell frame — the formulation the
      // DuckDB twin always used — instead of a groupBy + broadcast
      // join per step. The join form referenced its input twice per
      // step (marginal + main), re-expanding the upstream chain 2^steps
      // ways (204-exchange plan, ~16 logical references to the corpus
      // aggregate); the window form is one linear chain with four tiny
      // post-aggregate exchanges. Window sums of DECIMALs are the same
      // exact order-free additions the groupBy computed, so the fitted
      // weights are bit-identical (oracle hash unchanged).
      val cells = table(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum(col("n")).as("t"),
        countDistinct(col("lang")).as("nl"))
      val byLang = Window.partitionBy(col("lang"))
      val bySrc = Window.partitionBy(col("source"))
      def langStep(in: org.apache.spark.sql.DataFrame, wCol: String,
                   outCol: String) =
        in.withColumn(outCol,
          round(col(wCol).cast(DoubleType) *
            (col("t").cast(DoubleType) / col("nl")) /
            sum(col(wCol)).over(byLang).cast(DoubleType), 6).cast(dec))
      def srcStep(in: org.apache.spark.sql.DataFrame, wCol: String,
                  outCol: String) =
        in.withColumn(outCol,
          round(col(wCol).cast(DoubleType) *
            col("st").cast(DoubleType) /
            sum(col(wCol)).over(bySrc).cast(DoubleType), 6).cast(dec))
      val w0 = cells.crossJoin(broadcast(tot))
        .withColumn("st", sum(col("n")).over(bySrc))
        .withColumn("w0", col("n").cast(dec))
      val r1 = srcStep(langStep(w0, "w0", "w1"), "w1", "w2")
      val r2 = srcStep(langStep(r1, "w2", "w3"), "w3", "w4")
      r2.select(col("source"), col("lang"), col("n"),
          col("w4").cast(DoubleType).as("weight"))
        .orderBy(col("source"), col("lang"))
    },
    Some(s"""
      WITH cells AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT SUM(n) AS t, CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl
              FROM cells),
      srctot AS (SELECT source, SUM(n) AS st FROM cells GROUP BY 1),
      w0 AS (SELECT source, lang, n, CAST(n AS DECIMAL(28, 6)) AS w FROM cells),
      ${ipfLangSql("l1", "w0")},
      ${ipfSrcSql("s1", "l1")},
      ${ipfLangSql("l2", "s1")},
      ${ipfSrcSql("s2", "l2")}
      SELECT source, lang, n, CAST(w AS DOUBLE) AS weight
      FROM s2 ORDER BY source, lang"""))

  /** q172 — consistent-hashing shard-rebalance audit: documents map
    * onto a 2²⁰-position md5 ring with 4 virtual nodes per shard;
    * growing the cluster 8 → 9 shards moves only the ring segments
    * the new shard's vnodes claim (~1/9 of keys), where mod-hashing
    * remaps ~8/9 of everything. Both strategies' actual moved
    * fractions are computed exactly (ppm, integer div) — the
    * partition-layout decision that determines whether a cluster
    * resize is a 10% or a 90% data shuffle at 100 TB. Ring lookup is
    * a broadcast join against the ≤36-row vnode table with a
    * min-struct aggregate (successor-with-wraparound), one corpus
    * pass per ring. */
  private val q172 = QueryDef(
    "q172_shard_rebalance",
    (s, dir) => {
      val ringSize = 1L << 20
      def hpos(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 15), 16, 10).cast(LongType) % ringSize
      val spark0 = s
      import spark0.implicits._
      def ring(nShards: Int) = broadcast(
        (0 until nShards).flatMap(sh => (0 until 4).map(v => (sh.toLong, s"$sh-$v")))
          .toDF("shard", "vkey")
          .select(col("shard"), hpos(col("vkey")).as("vpos")))
      def assign(docs: org.apache.spark.sql.DataFrame, nShards: Int,
                 outCol: String) =
        docs.crossJoin(ring(nShards))
          .groupBy(col("doc_id"), col("dp"))
          .agg(
            min(when(col("vpos") >= col("dp"),
              struct(col("vpos"), col("shard")))).as("succ"),
            min(struct(col("vpos"), col("shard"))).as("wrap"))
          .select(col("doc_id"), col("dp"),
            coalesce(col("succ.shard"), col("wrap.shard")).as(outCol))
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          hpos(col("doc_id").cast(StringType)).as("dp"))
      val both = assign(docs, 8, "s8").join(assign(docs, 9, "s9"),
        Seq("doc_id", "dp"))
        .withColumn("mod_moved",
          (col("doc_id") % 8 =!= col("doc_id") % 9).cast(LongType))
        .withColumn("ring_moved", (col("s8") =!= col("s9")).cast(LongType))
      both.agg(count(lit(1)).as("n_docs"),
          sum(col("ring_moved")).as("ring_m"), sum(col("mod_moved")).as("mod_m"))
        .select(
          explode(array(
            struct(lit("a_ring").as("strategy"), col("n_docs"),
              col("ring_m").as("n_moved")),
            struct(lit("b_mod").as("strategy"), col("n_docs"),
              col("mod_m").as("n_moved")))).as("r"))
        .select(col("r.strategy"), col("r.n_docs"), col("r.n_moved"))
        .withColumn("moved_ppm", expr("(n_moved * 1000000L) div n_docs"))
        .orderBy(col("strategy"))
    },
    Some("""
      WITH ring8 AS (
        SELECT CAST(sh AS BIGINT) AS shard,
               CAST('0x' || substr(md5(CAST(sh AS VARCHAR) || '-' ||
                 CAST(v AS VARCHAR)), 1, 15) AS BIGINT) % 1048576 AS vpos
        FROM unnest([0,1,2,3,4,5,6,7]) AS a(sh),
             unnest([0,1,2,3]) AS b(v)),
      ring9 AS (
        SELECT CAST(sh AS BIGINT) AS shard,
               CAST('0x' || substr(md5(CAST(sh AS VARCHAR) || '-' ||
                 CAST(v AS VARCHAR)), 1, 15) AS BIGINT) % 1048576 AS vpos
        FROM unnest([0,1,2,3,4,5,6,7,8]) AS a(sh),
             unnest([0,1,2,3]) AS b(v)),
      docs AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 1048576 AS dp
        FROM documents),
      a8p AS (
        SELECT doc_id, dp,
               COALESCE(MIN(CASE WHEN vpos >= dp THEN vpos END), MIN(vpos)) AS tp
        FROM docs, ring8 GROUP BY 1, 2),
      a8 AS (
        SELECT doc_id, dp, MIN(shard) AS s8
        FROM a8p JOIN ring8 ON vpos = tp GROUP BY 1, 2),
      a9p AS (
        SELECT doc_id, dp,
               COALESCE(MIN(CASE WHEN vpos >= dp THEN vpos END), MIN(vpos)) AS tp
        FROM docs, ring9 GROUP BY 1, 2),
      a9 AS (
        SELECT doc_id, dp, MIN(shard) AS s9
        FROM a9p JOIN ring9 ON vpos = tp GROUP BY 1, 2),
      j AS (
        SELECT a8.doc_id,
               CASE WHEN s8 <> s9 THEN 1 ELSE 0 END AS ring_moved,
               CASE WHEN a8.doc_id % 8 <> a8.doc_id % 9 THEN 1 ELSE 0 END
                 AS mod_moved
        FROM a8 JOIN a9 USING (doc_id, dp)),
      agg AS (
        SELECT COUNT(*) AS n_docs, SUM(ring_moved) AS ring_m,
               SUM(mod_moved) AS mod_m
        FROM j)
      SELECT strategy, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_moved AS BIGINT) AS n_moved,
             CAST((n_moved * 1000000) // n_docs AS BIGINT) AS moved_ppm
      FROM (
        SELECT 'a_ring' AS strategy, n_docs, ring_m AS n_moved FROM agg
        UNION ALL
        SELECT 'b_mod', n_docs, mod_m FROM agg)
      ORDER BY strategy"""))

  /** q175 — cross-dimension correlation audit (the pairwise
    * complement of q170's per-dimension whitening): Pearson
    * correlation for every dimension pair (i<j) of the embedding
    * space from exact-DECIMAL moment sums (q133 pattern — per-pair
    * product terms rounded to 9 dp before summation, single-dim
    * moments computed once and joined in), top 10 by |corr|.
    * Strongly correlated dimensions mean the space wastes capacity
    * (PCA/whitening would help) — and the pair list is the evidence.
    * All moments (single-dim AND pair) come from the same
    * deterministic 20% md5 vector sample, so the estimator is
    * consistent, hash-exact, and its O(n·d²) pair work is bounded by
    * the sample at any corpus size (8.2 → 1.7 s at sf0.1 vs the
    * full-corpus join). */
  private val q175 = QueryDef(
    "q175_dim_correlation",
    (s, dir) => {
      import org.apache.spark.sql.types.StringType
      val dec9 = DecimalType(28, 9)
      val ex = spreadTable(s, dir, "embeddings")
        .filter(conv(substring(md5(col("vec_id").cast(StringType)), 1, 15),
          16, 10).cast(LongType) % 100 < 20)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
        .select(col("vec_id"), (col("pos0") + 1).cast(LongType).as("pos"),
          col("x").cast(DoubleType).as("x"))
      val dimStats = ex.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(20, 7))).as("sx"),
          sum(round(col("x") * col("x"), 9).cast(dec9)).as("sxx"))
      val a = ex.select(col("vec_id"), col("pos").as("i"), col("x").as("xa"))
      val b = ex.select(col("vec_id"), col("pos").as("j"), col("x").as("xb"))
      val pairSums = a.join(b, Seq("vec_id")).filter(col("i") < col("j"))
        .groupBy(col("i"), col("j"))
        .agg(sum(round(col("xa") * col("xb"), 9).cast(dec9)).as("sxy"))
      val si = broadcast(dimStats.select(col("pos").as("i"), col("n"),
        col("sx").as("sxi"), col("sxx").as("sxxi")))
      val sj = broadcast(dimStats.select(col("pos").as("j"),
        col("sx").as("sxj"), col("sxx").as("sxxj")))
      pairSums.join(si, Seq("i")).join(sj, Seq("j"))
        .select(col("i"), col("j"), {
          val n = col("n").cast(DoubleType)
          val num = n * col("sxy").cast(DoubleType) -
            col("sxi").cast(DoubleType) * col("sxj").cast(DoubleType)
          val di = n * col("sxxi").cast(DoubleType) -
            col("sxi").cast(DoubleType) * col("sxi").cast(DoubleType)
          val dj = n * col("sxxj").cast(DoubleType) -
            col("sxj").cast(DoubleType) * col("sxj").cast(DoubleType)
          round(num / sqrt(di * dj), 6).as("corr")
        })
        .orderBy(abs(col("corr")).desc, col("i"), col("j"))
        .limit(10)
    },
    Some("""
      WITH ex AS (
        SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS pos,
               unnest(v) AS x
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                      AS BIGINT) % 100 < 20)),
      ds AS (
        SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS DECIMAL(20, 7))) AS sx,
               SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28, 9))) AS sxx
        FROM ex GROUP BY 1),
      ps AS (
        SELECT a.pos AS i, b.pos AS j,
               SUM(CAST(ROUND(a.x * b.x, 9) AS DECIMAL(28, 9))) AS sxy
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos < b.pos
        GROUP BY 1, 2),
      c AS (
        SELECT i, j,
               ROUND((si.n * CAST(sxy AS DOUBLE)
                 - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE))
                 / sqrt((si.n * CAST(si.sxx AS DOUBLE)
                     - CAST(si.sx AS DOUBLE) * CAST(si.sx AS DOUBLE))
                   * (si.n * CAST(sj.sxx AS DOUBLE)
                     - CAST(sj.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE))), 6)
                 AS corr
        FROM ps JOIN ds si ON ps.i = si.pos JOIN ds sj ON ps.j = sj.pos)
      SELECT i, j, corr FROM c
      ORDER BY ABS(corr) DESC, i, j LIMIT 10"""))

  /** Distinct `(user_id, day)` activity of the events table. */
  private[queries] def userDays(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    graft.queries.QueryDef.eventsTable(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()

  /** q176's window explosion: each user-day of `ud` becomes its ≤ 7
    * memberships `(user_id, endCol)` in the 7-day windows ending on
    * or after it, up to the last active day. */
  private[queries] def weekWindows(ud: org.apache.spark.sql.DataFrame, endCol: String)
  : org.apache.spark.sql.DataFrame = {
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    ud.select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as(endCol))
      .crossJoin(broadcast(maxDay))
      .filter(col(endCol) <= col("max_day"))
  }

  /** DuckDB twin of [[userDays]] with its last day: `ud(user_id, day)`
    * and `mx(max_day)`. */
  private[queries] val userDaysSql = """ud AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      mx AS (SELECT MAX(day) AS max_day FROM ud)"""

  /** q176 — sliding-window distinct actives via window-explosion:
    * 7-day distinct users per end-day, computed by exploding each
    * user-day into the ≤7 windows it covers and counting distinct
    * (user, window) memberships — the scalable reformulation of
    * `COUNT(DISTINCT) OVER (RANGE 6 PRECEDING)`, which drags a
    * per-row distinct state of unbounded size through every window.
    * Here the blowup is a bounded ×7 on the (already user-day
    * deduplicated) activity table, then ONE distinct aggregate —
    * the same first-seen trick family as q102. */
  private val q176 = QueryDef(
    "q176_sliding_distinct",
    (s, dir) => {
      weekWindows(userDays(s, dir), "w_end")
        .groupBy(col("w_end"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("w_end"))
    },
    Some(s"""
      WITH $userDaysSql,
      mem AS (
        SELECT user_id, day + CAST(off AS INT) AS w_end
        FROM ud, unnest([0, 1, 2, 3, 4, 5, 6]) AS u(off)),
      f AS (SELECT user_id, w_end FROM mem, mx WHERE w_end <= max_day)
      SELECT w_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      FROM f GROUP BY 1 ORDER BY 1"""))

  /** q186 — k-anonymity risk report over quasi-identifiers (the
    * privacy audit a data release runs beside q45's PII scrub):
    * customers grouped by the quasi-identifier tuple (nation, market
    * segment, account-balance decile); every equivalence class
    * smaller than k = 5 is a re-identification risk and is listed
    * with its size. The dataset's k-anonymity level is the minimum
    * class size — derivable from the first output row. Deciles come
    * from integer rank arithmetic (no engine quantile builtins, same
    * device as q151), so class membership is engine-exact. One
    * aggregate over the QI tuple; state bounded by |QI space|. */
  private val q186 = QueryDef(
    "q186_k_anonymity",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val n = c.agg(count(lit(1)).as("n"))
      // global balance rank via range partition + partition offsets (the
      // q215/q219 discipline) — a row_number() window here would drag
      // every customer through ONE partition at any scale
      val ranked = graft.operators.Ids
        .addContiguousIds(c, Seq(col("c_acctbal"), col("c_custkey")), "rk")
        .crossJoin(broadcast(n))
        .withColumn("decile", expr("((rk - 1) * 10L) div n"))
      ranked.groupBy(col("c_nationkey"), col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("cls_size"))
        .filter(col("cls_size") < 5)
        .orderBy(col("cls_size"), col("c_nationkey"), col("c_mktsegment"),
          col("decile"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("decile"),
          col("cls_size"))
    },
    Some("""
      WITH n AS (SELECT COUNT(*) AS n FROM customer),
      ranked AS (
        SELECT c_nationkey, c_mktsegment,
               ((CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey)
                  AS BIGINT) - 1) * 10) // n AS decile
        FROM customer, n),
      cls AS (
        SELECT c_nationkey, c_mktsegment, CAST(decile AS BIGINT) AS decile,
               COUNT(*) AS cls_size
        FROM ranked GROUP BY 1, 2, 3)
      SELECT c_nationkey, c_mktsegment, decile, CAST(cls_size AS BIGINT) AS cls_size
      FROM cls WHERE cls_size < 5
      ORDER BY cls_size, c_nationkey, c_mktsegment, decile"""))

  val all: Seq[QueryDef] = Seq(q170, q171, q172, q175, q176, q186)
}
