package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.functions.TextFunctions
import graft.operators.{Quantization, Similarity}
import graft.queries.ExtensionQueries.toksSql
import graft.queries.QueryDef.{spreadTable, table}

/** Round-4 continuation: evaluation tier — graded retrieval quality
  * (nDCG of the compressed ANN ranking against the exact float
  * ranking; recall flags alone treat a rank-1 hit and a rank-5 hit
  * the same) and the Heaps-law vocabulary-growth exponent per source
  * (the corpus-naturalness law that complements q147's Zipf slope).
  *
  * Exactness: DCG terms and OLS moments follow the q150/q133 pattern
  * — per-term round-then-exact-DECIMAL-sum, one final double. */
object EvalQueries {

  /** q173 — nDCG@5 of the int8-quantized ranking (q135's ANN tier)
    * vs the exact float top-5: exact rank r carries gain 6−r, a
    * quantized neighbor outside the exact top-5 gains 0, positions
    * discount by log2(p+1). Ideal DCG uses the same rounded terms, so
    * ndcg = 1 exactly when the compressed index preserves the
    * ranking. This is the graded upgrade of q135's boolean hit flags
    * — the metric that decides whether 4× memory compression actually
    * costs retrieval quality. Same plan shape as q135 (broadcast
    * queries, one corpus pass per ranking) plus two tiny top-5-frame
    * joins. */
  private val q173 = QueryDef(
    "q173_ndcg_quantized",
    (s, dir) => {
      val e = spreadTable(s, dir, "embeddings")
      val quantized = Quantization.scalarQuantize(e, Quantization.dimScales(e))
      val qIds = QueryDef.annWorkload(e).select(col("vec_id"))
      val approx = Quantization.quantizedTopK(quantized, qIds, k = 5)
        .select(col("q_id"), col("rank").as("p"), col("n_id"))
      val exact = Similarity
        .bruteForceTopK(e, QueryDef.annWorkload(e), k = 5)
        .select(col("q_id"), col("n_id"), col("rank"),
          (lit(6L) - col("rank")).as("rel"))
      val dcg = approx.join(exact.select(col("q_id"), col("n_id"), col("rel")),
          Seq("q_id", "n_id"), "left")
        .select(col("q_id"),
          round(coalesce(col("rel"), lit(0L)).cast(DoubleType) /
            log2(col("p").cast(DoubleType) + 1), 6)
            .cast(DecimalType(28, 6)).as("term"))
        .groupBy(col("q_id")).agg(sum(col("term")).as("dcg"))
      // the exact list's gains are 5..1 by construction, so the ideal
      // position of each item IS its exact rank — no re-sort needed
      val idcg = exact
        .select(col("q_id"),
          round(col("rel").cast(DoubleType) /
            log2(col("rank").cast(DoubleType) + 1), 6)
            .cast(DecimalType(28, 6)).as("term"))
        .groupBy(col("q_id")).agg(sum(col("term")).as("idcg"))
      dcg.join(idcg, Seq("q_id"))
        .select(col("q_id"), col("dcg").cast(DoubleType).as("dcg"),
          col("idcg").cast(DoubleType).as("idcg"),
          (col("dcg").cast(DoubleType) / col("idcg").cast(DoubleType))
            .as("ndcg"))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH ${QuantQueries.int8CosSql},
      approx AS (
        SELECT q_id, n_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY qcos DESC, n_id) AS BIGINT) AS p
        FROM scored QUALIFY p <= 5),
      ${QuantQueries.exactTop5Sql("\nSELECT q_id, n_id, CAST(6 - rn AS BIGINT) AS rel, " +
        "CAST(rn AS BIGINT) AS rn FROM (")},
      dcg AS (
        SELECT a.q_id,
               SUM(CAST(ROUND(CAST(COALESCE(t.rel, 0) AS DOUBLE) /
                 log2(CAST(a.p AS DOUBLE) + 1), 6) AS DECIMAL(28, 6))) AS dcg
        FROM approx a LEFT JOIN etop t ON a.q_id = t.q_id AND a.n_id = t.n_id
        GROUP BY 1),
      idcg AS (
        SELECT q_id,
               SUM(CAST(ROUND(CAST(rel AS DOUBLE) /
                 log2(CAST(rn AS DOUBLE) + 1), 6)
                 AS DECIMAL(28, 6))) AS idcg
        FROM etop GROUP BY 1)
      SELECT d.q_id, CAST(d.dcg AS DOUBLE) AS dcg, CAST(i.idcg AS DOUBLE) AS idcg,
             CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE) AS ndcg
      FROM dcg d JOIN idcg i ON d.q_id = i.q_id
      ORDER BY 1"""))

  /** q174 — Heaps-law vocabulary-growth exponent per source: distinct
    * vocabulary V(n) vs tokens seen n follows V ≈ K·nᵝ; β per source
    * comes from an OLS fit of ln V on ln n over the source's
    * doc-by-doc growth curve. The cumulative-distinct-so-far is
    * computed WITHOUT any expanding-window distinct: each word is
    * attributed to its first (min doc_id) appearance within the
    * source, then both curves are cumulative sums over the per-doc
    * frame (q102's first-seen reformulation). OLS moments are
    * decimal-exact over 6-dp-rounded ln points (q133/q147 pattern),
    * one final double division — engine-exact slopes. Natural text
    * lands β ≈ 0.4–0.6; β near 1 flags synthetic/unique-heavy
    * sources, β near 0 flags template spam. */
  private val q174 = QueryDef(
    "q174_heaps_law",
    (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
      val perDocTokens = toks.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("tc"))
      val firstSeen = toks.groupBy(col("source"), col("w"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("nv"))
      val wAsc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dec = DecimalType(28, 9)
      val lx = log(col("n").cast(DoubleType))
      val ly = log(col("v").cast(DoubleType))
      val curve = perDocTokens
        .join(firstSeen, Seq("source", "doc_id"), "left")
        .withColumn("n", sum(col("tc")).over(wAsc))
        .withColumn("v", sum(coalesce(col("nv"), lit(0L))).over(wAsc))
        .filter(col("n") > 0 && col("v") > 0)
        .select(col("source"),
          round(lx, 9).cast(dec).as("tx"), round(ly, 9).cast(dec).as("ty"),
          round(lx * ly, 9).cast(dec).as("txy"),
          round(lx * lx, 9).cast(dec).as("txx"))
      curve.groupBy(col("source"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("tx")).as("sx"), sum(col("ty")).as("sy"),
          sum(col("txy")).as("sxy"), sum(col("txx")).as("sxx"))
        .select(col("source"), col("n_points"), {
          val n = col("n_points").cast(DoubleType)
          val sx = col("sx").cast(DoubleType); val sy = col("sy").cast(DoubleType)
          val sxy = col("sxy").cast(DoubleType); val sxx = col("sxx").cast(DoubleType)
          // + 0.0 folds IEEE -0.0 (tiny negative slope rounded to zero) to
          // +0.0 so both engines print the same zero.
          (round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + lit(0.0)).as("beta")
        })
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (
        SELECT source, doc_id, unnest($toksSql) AS w FROM documents),
      pdt AS (
        SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS tc
        FROM toks GROUP BY 1, 2),
      fs AS (
        SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS nv
        FROM (SELECT source, w, MIN(doc_id) AS doc_id
              FROM toks GROUP BY 1, 2)
        GROUP BY 1, 2),
      cum AS (
        SELECT p.source,
               ln(CAST(SUM(p.tc) OVER win AS DOUBLE)) AS lx,
               ln(CAST(SUM(COALESCE(f.nv, 0)) OVER win AS DOUBLE)) AS ly
        FROM pdt p LEFT JOIN fs f USING (source, doc_id)
        WINDOW win AS (PARTITION BY p.source ORDER BY p.doc_id
                       ROWS UNBOUNDED PRECEDING)),
      curve AS (
        SELECT source,
               CAST(ROUND(lx, 9) AS DECIMAL(28, 9)) AS tx,
               CAST(ROUND(ly, 9) AS DECIMAL(28, 9)) AS ty,
               CAST(ROUND(lx * ly, 9) AS DECIMAL(28, 9)) AS txy,
               CAST(ROUND(lx * lx, 9) AS DECIMAL(28, 9)) AS txx
        FROM cum),
      moments AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_points,
               SUM(tx) AS sx, SUM(ty) AS sy,
               SUM(txy) AS sxy, SUM(txx) AS sxx
        FROM curve GROUP BY 1)
      SELECT source, n_points,
             ROUND((n_points * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (n_points * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS beta
      FROM moments ORDER BY source"""))

  /** q177 — exact Mann–Whitney AUC of a stopword-ratio English
    * detector: score = English-stopword share of tokens in exact ppm,
    * label = (lang = 'en'). AUC is computed from integer rank sums
    * with tie-averaged ranks kept integral by working at 2× scale
    * (2·avgrank = 2·minrank + ties − 1) — no floats until the final
    * U/(n⁺n⁻) division, so the classic threshold-free classifier
    * metric is hash-exact. One token pass for scores, one sort-free
    * rank join (score-group stats frame is bounded by distinct
    * scores). */
  private val q177 = QueryDef(
    "q177_auc_stopword_en",
    (s, dir) => {
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), (col("lang") === "en").as("pos"),
          TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), col("pos"),
          expr("size(filter(t, x -> array_contains(" +
            "array('the','and','of','to','a','in','is'), x)))")
            .cast(LongType).as("hits"),
          size(col("t")).cast(LongType).as("n"))
        .select(col("doc_id"), col("pos"),
          when(col("n") > 0, expr("(hits * 1000000L) div n"))
            .otherwise(lit(0L)).as("score"))
      val grp = scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
        .withColumn("minrank",
          sum(col("c")).over(Window.orderBy(col("score"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("c") + 1)
        .select(col("score"), (lit(2) * col("minrank") + col("c") - 1)
          .as("avg2"))
      val joined = scored.join(broadcast(grp), Seq("score"))
      joined.agg(
          sum(col("pos").cast(LongType)).as("n_pos"),
          sum((!col("pos")).cast(LongType)).as("n_neg"),
          sum(when(col("pos"), col("avg2")).otherwise(lit(0L))).as("rs2"))
        .select(col("n_pos"), col("n_neg"),
          // AUC is undefined when either class is empty (a rank sum
          // needs both populations) — emit NULL, matching DuckDB's
          // float x/0 → NULL, instead of ANSI-throwing DIVIDE_BY_ZERO.
          // Found by the diverse-sf4 full-registry sweep: that corpus
          // is 100% lang='en', so n_neg = 0 — the first single-class
          // corpus any sweep fed this query.
          when(col("n_pos") > 0 && col("n_neg") > 0,
            (col("rs2") - col("n_pos") * (col("n_pos") + 1)).cast(DoubleType) /
              (lit(2.0) * col("n_pos") * col("n_neg")))
            .otherwise(lit(null).cast(DoubleType)).as("auc"))
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang = 'en' AS pos,
               CASE WHEN len(t) > 0
                    THEN (CAST(len(list_filter(t, x -> list_contains(
                           ['the','and','of','to','a','in','is'], x))) AS BIGINT)
                          * 1000000) // CAST(len(t) AS BIGINT)
                    ELSE 0 END AS score
        FROM (SELECT doc_id, lang, $toksSql AS t FROM documents)),
      grp AS (
        SELECT score, COUNT(*) AS c,
               SUM(COUNT(*)) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                 - COUNT(*) + 1 AS minrank
        FROM scored GROUP BY score),
      g2 AS (SELECT score, 2 * minrank + c - 1 AS avg2 FROM grp),
      j AS (SELECT pos, avg2 FROM scored JOIN g2 USING (score))
      SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN pos THEN avg2 ELSE 0 END)
                  - SUM(CASE WHEN pos THEN 1 ELSE 0 END)
                    * (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) AS DOUBLE)
               / (2.0 * SUM(CASE WHEN pos THEN 1 ELSE 0 END)
                      * SUM(CASE WHEN pos THEN 0 ELSE 1 END)) AS auc
      FROM j"""))

  /** q178 — population stability index (PSI) drift report between
    * the first and second half of the event stream: values bin at
    * width 2 (q165's grid); per common bin the contribution
    * (p−q)·ln(p/q) from exact integer bin counts, rounded to 9 dp —
    * the standard production drift monitor, made hash-exact. Bins
    * present on only one side are excluded from the sum and their
    * mass is reported (the epsilon-free treatment), so the report is
    * self-auditing. Bounded state: one count aggregate per side over
    * ~250 bins. */
  private val q178 = QueryDef(
    "q178_psi_drift",
    (s, dir) => {
      val e = graft.queries.QueryDef.eventsTable(s, dir)
        .select(floor(col("value") / 2.0).cast(LongType).as("bin"),
          (dayofmonth(col("ts")) <= 15).as("first_half"))
      val a = e.filter(col("first_half")).groupBy(col("bin"))
        .agg(count(lit(1)).as("ca"))
      val b = e.filter(!col("first_half")).groupBy(col("bin"))
        .agg(count(lit(1)).as("cb"))
      val na = a.agg(sum(col("ca")).as("na"))
      val nb = b.agg(sum(col("cb")).as("nb"))
      val p = col("ca").cast(DoubleType) / col("na")
      val q = col("cb").cast(DoubleType) / col("nb")
      a.join(b, Seq("bin"))
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(col("bin"), col("ca"), col("cb"),
          round((p - q) * log(p / q), 9).cast(DecimalType(28, 9)).as("term"))
        .orderBy(col("bin"))
        .select(col("bin"), col("ca"), col("cb"),
          col("term").cast(DoubleType).as("psi_term"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(FLOOR(value / 2.0) AS BIGINT) AS bin,
               EXTRACT(day FROM CAST(ts AS TIMESTAMP)) <= 15 AS first_half
        FROM events),
      a AS (SELECT bin, COUNT(*) AS ca FROM e WHERE first_half GROUP BY 1),
      b AS (SELECT bin, COUNT(*) AS cb FROM e WHERE NOT first_half GROUP BY 1),
      na AS (SELECT SUM(ca) AS na FROM a),
      nb AS (SELECT SUM(cb) AS nb FROM b)
      SELECT bin, ca, cb,
             CAST(CAST(ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
               * ln((CAST(ca AS DOUBLE) / na) / (CAST(cb AS DOUBLE) / nb)), 9)
               AS DECIMAL(28, 9)) AS DOUBLE) AS psi_term
      FROM a JOIN b USING (bin), na, nb
      ORDER BY bin"""))

  /** The events table's `(user_id, event_id, ts, event_type)`. */
  private def userEvents(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    graft.queries.QueryDef.eventsTable(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))

  /** Every user's consecutive event pairs: [[userEvents]] rows `e`
    * with the user's next event type `nxt`, in (ts, event_id) order —
    * the input of q179 and q187. */
  private def transitions(e: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    e.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
  }

  /** q179 — Markov next-event prediction accuracy with a train/score
    * split: transition counts from even user_ids train a majority-
    * vote next-event model (argmax count, ties lexicographic); odd
    * users' transitions score it. Per current-event-type: test mass,
    * hits, accuracy in exact ppm — the sequence-model eval that
    * complements q104's transition matrix. One window pass for
    * transitions, a 25-cell model frame broadcast into the scoring
    * join. */
  private val q179 = QueryDef(
    "q179_markov_accuracy",
    (s, dir) => {
      val trans = transitions(userEvents(s, dir))
        .select(col("user_id"), col("event_type").as("cur"), col("nxt"))
      val model = trans.filter(col("user_id") % 2 === 0)
        .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cur"))
            .orderBy(col("c").desc, col("nxt"))))
        .filter(col("rn") === 1)
        .select(col("cur"), col("nxt").as("pred"))
      trans.filter(col("user_id") % 2 === 1)
        .join(broadcast(model), Seq("cur"))
        .groupBy(col("cur"))
        .agg(count(lit(1)).as("n_test"),
          sum((col("nxt") === col("pred")).cast(LongType)).as("n_hit"))
        .withColumn("acc_ppm", expr("(n_hit * 1000000L) div n_test"))
        .orderBy(col("cur"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      trans AS (
        SELECT user_id, event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM e QUALIFY nxt IS NOT NULL),
      model AS (
        SELECT cur, nxt AS pred FROM (
          SELECT cur, nxt, COUNT(*) AS c,
                 ROW_NUMBER() OVER (PARTITION BY cur
                                    ORDER BY COUNT(*) DESC, nxt) AS rn
          FROM trans WHERE user_id % 2 = 0 GROUP BY cur, nxt)
        WHERE rn = 1)
      SELECT cur, CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
             CAST((SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) * 1000000)
               // COUNT(*) AS BIGINT) AS acc_ppm
      FROM trans JOIN model USING (cur)
      WHERE user_id % 2 = 1
      GROUP BY cur ORDER BY cur"""))

  /** q180 — exact two-sample Kolmogorov–Smirnov statistic between
    * the first- and second-half event-value distributions: D =
    * max |F₁(v) − F₂(v)| over the merged value support. The argmax is
    * found in PURE INTEGERS — |ca·nb − cb·na| with a (diff, value)
    * tie-break — so the selected point is engine-exact, and D itself
    * is one final division. Complements q178's binned PSI with the
    * bin-free distribution test; state is the distinct-value frame
    * (cumulative windows, no row sort of the corpus). */
  private val q180 = QueryDef(
    "q180_ks_statistic",
    (s, dir) => {
      val e = graft.queries.QueryDef.eventsTable(s, dir)
        .select(col("value"), (dayofmonth(col("ts")) <= 15).as("fh"))
      val byV = e.groupBy(col("value"))
        .agg(sum(col("fh").cast(LongType)).as("da"),
          sum((!col("fh")).cast(LongType)).as("db"))
      val wV = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byV
        .withColumn("ca", sum(col("da")).over(wV))
        .withColumn("cb", sum(col("db")).over(wV))
      val tot = cum.agg(max(col("ca")).as("na"), max(col("cb")).as("nb"))
      cum.crossJoin(broadcast(tot))
        .withColumn("num", abs(col("ca") * col("nb") - col("cb") * col("na")))
        .orderBy(col("num").desc, col("value"))
        .limit(1)
        .select(col("value").as("at_value"), col("ca"), col("cb"),
          col("na"), col("nb"),
          (col("num").cast(DoubleType) /
            (col("na").cast(DoubleType) * col("nb"))).as("ks_d"))
    },
    Some("""
      WITH e AS (
        SELECT value,
               EXTRACT(day FROM CAST(ts AS TIMESTAMP)) <= 15 AS fh
        FROM events),
      byv AS (
        SELECT value,
               SUM(CASE WHEN fh THEN 1 ELSE 0 END) AS da,
               SUM(CASE WHEN fh THEN 0 ELSE 1 END) AS db
        FROM e GROUP BY 1),
      cum AS (
        SELECT value,
               SUM(da) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
               SUM(db) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
        FROM byv),
      tot AS (SELECT MAX(ca) AS na, MAX(cb) AS nb FROM cum)
      SELECT value AS at_value, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
             CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             CAST(ABS(ca * nb - cb * na) AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS ks_d
      FROM cum, tot
      ORDER BY ABS(ca * nb - cb * na) DESC, value LIMIT 1"""))

  /** q181 — Gini coefficient of token mass across documents, per
    * source: how concentrated a source's token supply is in few
    * documents (template-spam and boilerplate-heavy sources skew
    * high; the Lorenz-curve inequality audit for data mixing). Exact
    * closed form G = (2·Σ i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-
    * sorted per-doc token counts — every term integer until the two
    * final divisions; rank windows run per source over the per-doc
    * frame. */
  private val q181 = QueryDef(
    "q181_gini_token_mass",
    (s, dir) => {
      val perDoc = table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("tc"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("tc"), col("doc_id"))
      perDoc.withColumn("i", row_number().over(w).cast(LongType))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("tokens"),
          sum(col("i") * col("tc")).as("iwx"))
        .select(col("source"), col("n_docs"), col("tokens"),
          ((lit(2.0) * col("iwx")) /
            (col("n_docs") * col("tokens")).cast(DoubleType) -
            (col("n_docs") + 1).cast(DoubleType) / col("n_docs"))
            .as("gini"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH pd AS (
        SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS tc
        FROM documents),
      ranked AS (
        SELECT source, tc,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY tc, doc_id) AS BIGINT) AS i
        FROM pd)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tc) AS BIGINT) AS tokens,
             (2.0 * SUM(i * tc)) / CAST(COUNT(*) * SUM(tc) AS DOUBLE)
               - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*) AS gini
      FROM ranked GROUP BY source ORDER BY source"""))

  /** q182 — Lincoln–Petersen capture–recapture estimate of the true
    * user population from two observation windows (first/second half
    * of the stream): N̂ = n₁·n₂/m from the two sighting counts and
    * the overlap — the classic completeness estimator for "how many
    * entities exist that we have NOT seen". Chapman's bias-corrected
    * variant rides along. Sightings are deterministically thinned
    * (event_id mod 97 / mod 89) so each window captures only a FRACTION
    * of users — the estimator has to actually recover the population
    * from partial overlap, which is the whole point. All counts
    * exact; the estimates are single integer divisions. */
  private val q182 = QueryDef(
    "q182_capture_recapture",
    (s, dir) => {
      val e = graft.queries.QueryDef.eventsTable(s, dir)
        .select(col("user_id"), col("event_id"),
          (dayofmonth(col("ts")) <= 15).as("fh"))
      val perUser = e.groupBy(col("user_id"))
        .agg(max((col("fh") && col("event_id") % 97 === 0).cast(LongType))
          .as("in_a"),
          max((!col("fh") && col("event_id") % 89 === 0).cast(LongType))
            .as("in_b"))
        .filter(col("in_a") + col("in_b") > 0)
      perUser.agg(
          sum(col("in_a")).as("n1"), sum(col("in_b")).as("n2"),
          sum(col("in_a") * col("in_b")).as("m"),
          count(lit(1)).as("seen"))
        .select(col("n1"), col("n2"), col("m"), col("seen"),
          expr("(n1 * n2) div m").as("lp_estimate"),
          expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("chapman_estimate"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               EXTRACT(day FROM CAST(ts AS TIMESTAMP)) <= 15 AS fh
        FROM events),
      pu AS (
        SELECT user_id,
               MAX(CASE WHEN fh AND event_id % 97 = 0 THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN NOT fh AND event_id % 89 = 0 THEN 1 ELSE 0 END)
                 AS in_b
        FROM e GROUP BY 1
        HAVING MAX(CASE WHEN fh AND event_id % 97 = 0 THEN 1 ELSE 0 END)
             + MAX(CASE WHEN NOT fh AND event_id % 89 = 0 THEN 1 ELSE 0 END) > 0),
      agg AS (
        SELECT SUM(in_a) AS n1, SUM(in_b) AS n2,
               SUM(in_a * in_b) AS m, COUNT(*) AS seen
        FROM pu)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(m AS BIGINT) AS m, CAST(seen AS BIGINT) AS seen,
             CAST((n1 * n2) // m AS BIGINT) AS lp_estimate,
             CAST(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS BIGINT)
               AS chapman_estimate
      FROM agg"""))

  /** q187 — Markov absorption probability by unrolled value
    * iteration: from each event-type state, the probability of ever
    * reaching the absorbing 'purchase' state under the empirical
    * transition matrix, iterated 8 synchronous rounds —
    * P₀ = 1{purchase}, Pₖ₊₁(s) = Σ_t T(s,t)·Pₖ(t). Each round is
    * exact: integer counts × DECIMAL(18,9) probabilities summed
    * exactly, ONE double division, re-rounded to 9 dp — so all 8
    * rounds replay bit-identically as chained CTEs. The funnel
    * question q63 can't answer (multi-step, any path, any length);
    * iteration runs on the |states|² frame, so rounds are free at
    * any corpus size — the corpus is touched once for counts. */
  private val q187 = QueryDef(
    "q187_absorption_prob",
    (s, dir) => {
      val dec = DecimalType(18, 9)
      val e = userEvents(s, dir)
      val trans = transitions(e)
        .filter(col("event_type") =!= "purchase") // absorbing: no out-edges
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("c"))
      val outTot = trans.groupBy(col("src")).agg(sum(col("c")).as("cs"))
      val t = broadcast(trans.join(outTot, Seq("src")))
      val states = e.select(col("event_type").as("st")).distinct()
      var p = states.withColumn("p",
        when(col("st") === "purchase", lit(1)).otherwise(lit(0)).cast(dec))
      for (_ <- 1 to 8) {
        val stepped = t
          .join(p.select(col("st").as("dst"), col("p")), Seq("dst"))
          .groupBy(col("src"))
          .agg(round(sum(col("c") * col("p")).cast(DoubleType) / first(col("cs")),
            9).cast(dec).as("np"))
        p = states.join(stepped, col("st") === col("src"), "left")
          .select(col("st"),
            when(col("st") === "purchase", lit(1).cast(dec))
              .otherwise(coalesce(col("np"), lit(0).cast(dec))).as("p"))
      }
      p.select(col("st").as("state"), col("p").cast(DoubleType).as("reach_p"))
        .orderBy(col("state"))
    },
    Some {
      val rounds = (1 to 8).map { i =>
        s"""p$i AS (
            SELECT st,
                   CASE WHEN st = 'purchase' THEN CAST(1 AS DECIMAL(18, 9))
                        ELSE COALESCE((
                          SELECT CAST(ROUND(CAST(SUM(t.c * pp.p) AS DOUBLE)
                                    / ANY_VALUE(t.cs), 9) AS DECIMAL(18, 9))
                          FROM t JOIN p${i - 1} pp ON t.dst = pp.st
                          WHERE t.src = states.st),
                          CAST(0 AS DECIMAL(18, 9))) END AS p
            FROM states)"""
      }.mkString(",\n      ")
      s"""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      tr AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM e QUALIFY dst IS NOT NULL),
      tc AS (SELECT src, dst, COUNT(*) AS c FROM tr
             WHERE src <> 'purchase' GROUP BY 1, 2),
      ot AS (SELECT src, SUM(c) AS cs FROM tc GROUP BY 1),
      t AS (SELECT tc.src, tc.dst, tc.c, ot.cs FROM tc JOIN ot USING (src)),
      states AS (SELECT DISTINCT event_type AS st FROM e),
      p0 AS (SELECT st, CASE WHEN st = 'purchase'
                             THEN CAST(1 AS DECIMAL(18, 9))
                             ELSE CAST(0 AS DECIMAL(18, 9)) END AS p
             FROM states),
      $rounds
      SELECT st AS state, CAST(p AS DOUBLE) AS reach_p
      FROM p8 ORDER BY state"""
    })

  /** q188 — strict-order window funnel (ClickHouse `windowFunnel`
    * semantics): signup → view → click → purchase, each step strictly
    * after the previous AND within 72 hours of the user's first
    * signup. Computed as four chained earliest-qualifying-event
    * aggregates — each step is one join + min aggregate keyed on the
    * user (no per-user sort, no UDAF state machine); the budget
    * anchor (t1) rides the chain. Output: per-step user counts and
    * exact-ppm conversion from the previous step and from the cohort
    * start. Fixture decay at sf0.01: 150 → 105 → 57 → 21. */
  private val q188 = QueryDef(
    "q188_window_funnel",
    (s, dir) => {
      val e = graft.queries.QueryDef.eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      def step(prev: org.apache.spark.sql.DataFrame, ev: String,
               tPrev: String, tOut: String) =
        e.filter(col("event_type") === ev)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col(tPrev) &&
            col("ts") <= col("t1") + expr("INTERVAL 72 HOURS"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as(tOut), first(col("t1")).as("t1_keep"))
          .withColumnRenamed("t1_keep", "t1")
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        .withColumn("t0", col("t1"))
      val s2 = step(s1.select(col("user_id"), col("t1"), col("t1").as("tp")),
        "view", "tp", "t2")
      val s3 = step(s2.select(col("user_id"), col("t1"), col("t2").as("tp")),
        "click", "tp", "t3")
      val s4 = step(s3.select(col("user_id"), col("t1"), col("t3").as("tp")),
        "purchase", "tp", "t4")
      val spark0 = s
      import spark0.implicits._
      val counts = Seq(
        (1L, "signup", s1.count()), (2L, "view", s2.count()),
        (3L, "click", s3.count()), (4L, "purchase", s4.count()))
        .toDF("step", "event_type", "n_users")
      val wPrev = Window.orderBy(col("step"))
      counts
        .withColumn("prev_n", lag(col("n_users"), 1).over(wPrev))
        .withColumn("from_prev_ppm",
          coalesce(expr("(n_users * 1000000L) div prev_n"), lit(1000000L)))
        .withColumn("start_n", first(col("n_users")).over(
          wPrev.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("from_start_ppm",
          expr("(n_users * 1000000L) div start_n"))
        .select(col("step"), col("event_type"), col("n_users"),
          col("from_prev_ppm"), col("from_start_ppm"))
        .orderBy(col("step"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
             WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(ts) AS t2, ANY_VALUE(t1) AS t1
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'view' AND ts > t1
               AND ts <= t1 + INTERVAL 72 HOUR GROUP BY 1),
      s3 AS (SELECT e.user_id, MIN(ts) AS t3, ANY_VALUE(s2.t1) AS t1
             FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'click' AND ts > t2
               AND ts <= s2.t1 + INTERVAL 72 HOUR GROUP BY 1),
      s4 AS (SELECT e.user_id, MIN(ts) AS t4
             FROM e JOIN s3 USING (user_id)
             WHERE event_type = 'purchase' AND ts > t3
               AND ts <= s3.t1 + INTERVAL 72 HOUR GROUP BY 1),
      counts AS (
        SELECT 1 AS step, 'signup' AS event_type,
               (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
        UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)
        UNION ALL SELECT 4, 'purchase', (SELECT COUNT(*) FROM s4)),
      w AS (
        SELECT *, LAG(n_users) OVER (ORDER BY step) AS prev_n,
               FIRST_VALUE(n_users) OVER (ORDER BY step) AS start_n
        FROM counts)
      SELECT CAST(step AS BIGINT) AS step, event_type,
             CAST(n_users AS BIGINT) AS n_users,
             CAST(COALESCE((n_users * 1000000) // prev_n, 1000000) AS BIGINT)
               AS from_prev_ppm,
             CAST((n_users * 1000000) // start_n AS BIGINT) AS from_start_ppm
      FROM w ORDER BY step"""))

  /** q189 — SPRT sequential-test replay (Wald): when could a daily
    * A/B readout have stopped? Variant B = odd user_ids; a trial is
    * a user-day, a conversion is a purchase that day; the cumulative
    * log-likelihood ratio for H₁: p = 0.5 vs H₀: p = 0.4 walks day
    * by day, and the decision column marks the first crossing of
    * ±ln(19) (α = β = 0.05). LLR increments are k·ln(p₁/p₀) +
    * (n−k)·ln(q₁/q₀) with per-day terms rounded to 9 dp and
    * decimal-summed — the whole replay is hash-exact. Everything
    * after the per-day collapse runs on a ≤|days| frame. */
  private val q189 = QueryDef(
    "q189_sprt_stopping",
    (s, dir) => {
      val e = graft.queries.QueryDef.eventsTable(s, dir)
        .filter(col("user_id") % 2 === 1)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          (col("event_type") === "purchase").as("isp"))
      val perUserDay = e.groupBy(col("user_id"), col("day"))
        .agg(max(col("isp").cast(LongType)).as("conv"))
      val perDay = perUserDay.groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
      // ln(.5/.4), ln(.5/.6): exact double literals on both engines
      val term = round(
        col("k").cast(DoubleType) * log(lit(0.5) / 0.4) +
          (col("n") - col("k")).cast(DoubleType) * log(lit(0.5) / 0.6), 9)
        .cast(DecimalType(28, 9))
      val wAsc = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDay.withColumn("t", term)
        .withColumn("llr", sum(col("t")).over(wAsc).cast(DoubleType))
        .withColumn("decision",
          when(col("llr") >= math.log(19.0), lit("accept_h1"))
            .when(col("llr") <= -math.log(19.0), lit("accept_h0"))
            .otherwise(lit("continue")))
        .select(col("day"), col("n"), col("k"), col("llr"), col("decision"))
        .orderBy(col("day"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               event_type = 'purchase' AS isp
        FROM events WHERE user_id % 2 = 1),
      pud AS (
        SELECT user_id, day, MAX(CASE WHEN isp THEN 1 ELSE 0 END) AS conv
        FROM e GROUP BY 1, 2),
      pd AS (SELECT day, COUNT(*) AS n, SUM(conv) AS k FROM pud GROUP BY 1),
      t AS (
        SELECT day, n, k,
               CAST(ROUND(CAST(k AS DOUBLE) * ln(0.5 / 0.4)
                 + CAST(n - k AS DOUBLE) * ln(0.5 / 0.6), 9)
                 AS DECIMAL(28, 9)) AS t
        FROM pd)
      SELECT day, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             CAST(SUM(t) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
               AS DOUBLE) AS llr,
             CASE WHEN CAST(SUM(t) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                        AS DOUBLE) >= ln(19.0) THEN 'accept_h1'
                  WHEN CAST(SUM(t) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                        AS DOUBLE) <= -ln(19.0) THEN 'accept_h0'
                  ELSE 'continue' END AS decision
      FROM t ORDER BY day"""))

  val all: Seq[QueryDef] =
    Seq(q173, q174, q177, q178, q179, q180, q181, q182, q187, q188, q189)
}
