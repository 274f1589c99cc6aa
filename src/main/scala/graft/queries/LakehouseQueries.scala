package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.operators.Checkpoints
import graft.queries.QueryDef.{eventsTable, spreadTable, table}
import graft.queries.ExtensionQueries.toksSql
import graft.functions.DecimalExprs.dec2

/** Round-3 fifth widening: classic warehouse consumption shapes the
  * serving tier hadn't exercised yet — a TPC-H-Q9-style multi-way
  * star join (the Catalyst join-reorder / broadcast-selection
  * showcase), gaps-and-islands streak detection, and deterministic
  * weighted sampling (the weighted twin of q52/q85's hash sampling).
  *
  * Same bit-stability conventions as the rest of the registry
  * ([[QueryDef]]): DECIMAL money until one final double cast, scaled
  * integer ratios, BIGINT keys, fully-ordered output.
  */
object LakehouseQueries {

  private val Dec = DecimalType(18, 2)

  /** q114 — profit by nation × order-year (TPC-H Q9 shape): lineitem
    * narrowed by a broadcast filtered part dim, enriched through
    * supplier → nation broadcasts, then the ONE genuinely wide join
    * (lineitem ⋈ orders, both fact-sized) for the order year. The
    * written join order applies the selective part filter BEFORE any
    * shuffle, so at 100 TB only matching lineitems reach the
    * orders exchange; dims ship once per executor. Catalyst is free
    * to reorder — the plan shape (three BroadcastHashJoins, one
    * shuffle join) is what ScaleSpec pins. */
  private val q114 = QueryDef(
    "q114_profit_by_nation",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val p = broadcast(table(s, dir, "part")
        .filter(col("p_type") === "PROMO").select("p_partkey"))
      val sup = broadcast(table(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey"))
      val n = broadcast(table(s, dir, "nation"))
      val o = table(s, dir, "orders").select("o_orderkey", "o_orderdate")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .select(n("n_name").as("nation"),
          year(o("o_orderdate")).cast(LongType).as("o_year"),
          (dec2(li("l_extendedprice")) *
            (lit(1).cast(Dec) - dec2(li("l_discount")))).as("amount"))
        .groupBy(col("nation"), col("o_year"))
        .agg(sum(col("amount")).cast(DoubleType).as("profit"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("nation"), col("o_year"))
    },
    Some("""
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit,
             COUNT(*) AS n_lines
      FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q115 — gaps-and-islands: per-user longest consecutive-active-day
    * streak. The classic trick — `day - row_number()` is constant
    * within a consecutive run — turns streak detection into a plain
    * GROUP BY: one shuffle on user_id serves the distinct, the
    * window, and both aggregates (Catalyst reuses the partitioning
    * through all four). No self-join, no iteration — at 100 TB this
    * is a single pass per user partition. */
  private val q115 = QueryDef(
    "q115_user_streaks",
    (s, dir) => {
      eventsTable(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("grp", expr("date_sub(day, row_number() OVER (PARTITION BY user_id ORDER BY day))"))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(sum(col("len")).cast(LongType).as("active_days"),
          max(col("len")).as("longest_streak"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      runs AS (
        SELECT user_id,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        FROM days),
      lens AS (
        SELECT user_id, grp, COUNT(*) AS len FROM runs GROUP BY 1, 2)
      SELECT user_id,
             CAST(SUM(len) AS BIGINT) AS active_days,
             CAST(MAX(len) AS BIGINT) AS longest_streak
      FROM lens GROUP BY 1 ORDER BY user_id"""))

  /** q116 — deterministic weighted sampling: selection priority is
    * `md5_60bit(doc_id) div weight` (weight = document length), so a
    * doc's selection odds scale with its weight, reruns are
    * bit-stable with no RNG state, and the global top-k plans as
    * `TakeOrderedAndProject` (per-partition heap, no global sort).
    * The weighted twin of q52 (uniform hash sample) and q85
    * (per-group reservoir); at 100 TB the only cost is one scan. */
  private val q116 = QueryDef(
    "q116_weighted_sample",
    (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          graft.operators.Dedup.hexHash(col("doc_id").cast("string")).as("h"))
        .withColumn("priority", expr("h div greatest(n_chars, 1L)"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(20)
    },
    Some("""
      SELECT doc_id, source, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               // greatest(n_chars, 1) AS priority
      FROM documents
      ORDER BY priority, doc_id LIMIT 20"""))

  /** q117 — semi-structured props through Spark 4's VARIANT type:
    * `parse_json` once into a variant, typed `variant_get` extraction
    * (the modern replacement for per-field `get_json_object` string
    * re-parsing, q25) — at scale the parse cost is paid once per row
    * and every field access is a binary-encoded path read, not a JSON
    * re-scan. Aggregates the extracted key into deciles with exact
    * DECIMAL sums. Rows without a `$.k` are filtered explicitly
    * (engines disagree on NULL sort order), and the decile uses
    * FLOOR division on both sides — Spark `div` truncates toward
    * zero while DuckDB `//` floors, which would diverge on negative
    * keys. */
  private val q117 = QueryDef(
    "q117_variant_props",
    (s, dir) => {
      eventsTable(s, dir)
        .select(
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
          col("value"))
        .filter(col("k").isNotNull)
        .select(
          expr("(k div 10) - (CASE WHEN k < 0 AND k % 10 != 0 THEN 1 ELSE 0 END)")
            .as("k_decile"),
          dec2(col("value")).as("v"))
        .groupBy(col("k_decile"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast(DoubleType).as("sum_value"))
        .orderBy(col("k_decile"))
    },
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decile,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY 1 ORDER BY k_decile"""))

  /** q118 — the JDE Julian decode (reference
    * `adf/dataflow/DF_Clean_JDE.json:70`) registered as a SQL UDF
    * (`CREATE FUNCTION … RETURN`, Spark 4 SQL scalar functions) and
    * exercised from the pure-SQL serving surface: the same lpad-robust
    * expression [[graft.functions.JdeFunctions.julianToDate]] compiles
    * to, but addressable by name from any SQL client of the lake.
    * SQL UDFs inline into the plan at analysis time — codegen sees
    * the expression, not a black-box call. */
  private val q118 = QueryDef(
    "q118_sql_udf_decode",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("v_orders118")
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION graft_jde_decode(j BIGINT)
        RETURNS DATE
        RETURN date_add(
          to_date(concat(cast(1900
            + cast(substring(lpad(cast(j as string), 6, '0'), 1, 1) as int) * 100
            + cast(substring(lpad(cast(j as string), 6, '0'), 2, 2) as int) as string),
            '-01-01')),
          cast(substring(lpad(cast(j as string), 6, '0'), 4, 3) as int) - 1)""")
      s.sql("""
        SELECT CAST(year(d) AS BIGINT) AS o_year,
               COUNT(*) AS n,
               MIN(d) AS first_day,
               MAX(d) AS last_day
        FROM (SELECT graft_jde_decode(CAST((year(o_orderdate) - 1900) * 1000
                       + dayofyear(o_orderdate) AS BIGINT)) AS d
              FROM v_orders118)
        GROUP BY 1 ORDER BY 1""")
    },
    Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS n,
             MIN(CAST(o_orderdate AS DATE)) AS first_day,
             MAX(CAST(o_orderdate AS DATE)) AS last_day
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** q119 — recursive CTE (Spark 4 `WITH RECURSIVE`): level-order
    * walk of a hierarchy — parent(k) = k div 2 over the supplier
    * keys, a binary heap tree — counting nodes per depth. The
    * hierarchical-traversal surface (org charts, BOM explosions,
    * escalation chains) that window functions cannot express; each
    * recursion level is one join against the previous frontier, so
    * the plan is depth × (join + union), never a cross product.
    * (Spark's recursion supports UNION ALL bodies — acyclic
    * structures; cyclic closure runs through
    * [[graft.operators.Dedup.connectedComponents]] instead.) */
  private val q119 = QueryDef(
    "q119_recursive_hierarchy",
    (s, dir) => {
      // each recursion level re-reads the joined relation; checkpoint
      // the (tiny) key set once so levels read cached blocks, not files
      Checkpoints.truncate(table(s, dir, "supplier").select("s_suppkey"))
        .createOrReplaceTempView("v_supplier119")
      s.sql("""
        WITH RECURSIVE walk(key, depth) AS (
          SELECT CAST(s_suppkey AS BIGINT), CAST(0 AS BIGINT)
          FROM v_supplier119 WHERE s_suppkey = 1
          UNION ALL
          SELECT CAST(sp.s_suppkey AS BIGINT), w.depth + 1
          FROM v_supplier119 sp JOIN walk w
            ON sp.s_suppkey div 2 = w.key AND sp.s_suppkey > 1)
        SELECT depth, COUNT(*) AS n,
               MIN(key) AS min_key, MAX(key) AS max_key
        FROM walk GROUP BY depth ORDER BY depth""")
    },
    Some("""
      WITH RECURSIVE walk(key, depth) AS (
        SELECT CAST(s_suppkey AS BIGINT), CAST(0 AS BIGINT)
        FROM supplier WHERE s_suppkey = 1
        UNION ALL
        SELECT CAST(sp.s_suppkey AS BIGINT), w.depth + 1
        FROM supplier sp JOIN walk w
          ON sp.s_suppkey // 2 = w.key AND sp.s_suppkey > 1)
      SELECT depth, COUNT(*) AS n,
             MIN(key) AS min_key, MAX(key) AS max_key
      FROM walk GROUP BY depth ORDER BY depth"""))

  /** q120 — null-safe equi join (`<=>` / IS NOT DISTINCT FROM): both
    * sides carry a NULLABLE bucket key (every 7th key nulled), and the
    * null groups must MATCH each other — the semantics a plain `=`
    * join silently drops. Null-safe equality stays a hash join key in
    * Catalyst (null hashes to a regular bucket), so the plan is the
    * same shuffled hash/SMJ as the non-null case — no fallback to a
    * nested loop. */
  private val q120 = QueryDef(
    "q120_null_safe_join",
    (s, dir) => {
      val ck = when(col("c_custkey") % 7 === 0, lit(null))
        .otherwise(col("c_custkey") % 5).cast(LongType)
      val ok = when(col("o_orderkey") % 7 === 0, lit(null))
        .otherwise(col("o_orderkey") % 5).cast(LongType)
      val cust = table(s, dir, "customer")
        .groupBy(ck.as("k")).agg(count(lit(1)).as("n_cust"))
      val ord = table(s, dir, "orders")
        .groupBy(ok.as("k")).agg(count(lit(1)).as("n_ord"))
      cust.join(ord, cust("k") <=> ord("k"))
        .select(cust("k").as("bucket"), col("n_cust"), col("n_ord"))
        // NULLS LAST to match DuckDB's ASC default (Spark's is NULLS
        // FIRST) — the one registered query with a nullable sort key
        .orderBy(col("bucket").asc_nulls_last)
    },
    Some("""
      WITH c AS (
        SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE c_custkey % 5 END AS k,
               COUNT(*) AS n_cust
        FROM customer GROUP BY 1),
      o AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderkey % 5 END AS k,
               COUNT(*) AS n_ord
        FROM orders GROUP BY 1)
      SELECT c.k AS bucket, n_cust, n_ord
      FROM c JOIN o ON c.k IS NOT DISTINCT FROM o.k
      ORDER BY bucket"""))

  /** q121 — collation-aware grouping (Spark 4 `STRING COLLATE
    * UTF8_LCASE`): case-insensitive grouping expressed as a COLUMN
    * TYPE, not an expression rewrite — comparisons, joins, and
    * aggregations all inherit the collation. The oracle lowers
    * explicitly (DuckDB's equivalent rewrite); the grouped counts
    * must agree. Mixed case is synthesized (every 3rd doc's source
    * uppercased) since the fixture is single-case. */
  private val q121 = QueryDef(
    "q121_collated_group",
    (s, dir) => {
      table(s, dir, "documents").createOrReplaceTempView("v_docs121")
      s.sql("""
        SELECT lower(cs) AS source_ci, COUNT(*) AS n
        FROM (SELECT CAST(CASE WHEN doc_id % 3 = 0 THEN upper(source)
                               ELSE source END
                     AS STRING COLLATE UTF8_LCASE) AS cs
              FROM v_docs121)
        GROUP BY cs ORDER BY source_ci""")
    },
    Some("""
      SELECT lower(CASE WHEN doc_id % 3 = 0 THEN upper(source)
                        ELSE source END) AS source_ci,
             COUNT(*) AS n
      FROM documents GROUP BY 1 ORDER BY source_ci"""))

  /** q122 — error-safe expression surface (`try_divide`/`try_cast`):
    * malformed values and zero denominators become NULL instead of
    * failing the job — on a 100 TB batch, one poisoned row must not
    * kill a 6-hour stage. Counts the rows each guard absorbs. */
  private val q122 = QueryDef(
    "q122_try_safety",
    (s, dir) => {
      // try_divide/try_cast per row dominate and fuse into the scan —
      // spread the single-split fixture scan (1.24 s single-task
      // runtime in the job log; QueryDef.spreadTable rationale)
      spreadTable(s, dir, "orders")
        .select(
          expr("try_divide(o_totalprice, o_orderkey % 3)").as("d"),
          expr("try_cast(o_orderpriority AS INT)").as("p"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("pn"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("d").isNull, 1L).otherwise(0L)).as("n_div_absorbed"),
          sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_cast_absorbed"),
          sum(coalesce(col("pn"), lit(0L))).as("priority_digit_sum"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_absorbed,
             CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS INT) IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_absorbed,
             CAST(SUM(COALESCE(TRY_CAST(substring(o_orderpriority, 1, 1) AS INT), 0)) AS BIGINT) AS priority_digit_sum
      FROM orders"""))

  /** q123 — BPE vocabulary induction over the corpus
    * ([[graft.operators.TextAnalysis.bpeTrain]]): the learned merge
    * rules in merge order. No SQL oracle — the per-round corpus-wide
    * argmax + rewrite is iterative, not relational; `BpeSpec` proves
    * the distributed trainer equals the sequential textbook algorithm
    * on this same fixture. */
  /** Unrolled BPE training as plain SQL (the q123/q124 oracle): each
    * round re-derives positional symbol rows, counts adjacent pairs,
    * takes the (count desc, a, b) argmax as a scalar subquery, and
    * rewrites greedily. Greedy leftmost has a CLOSED FORM: matches at
    * overlapping positions only occur when a = b, so within each run
    * of consecutive match positions keep the even offsets
    * (`i − min(i) over run` parity) — no recursion needed. CTEs are
    * MATERIALIZED: DuckDB inlines CTEs by default and the multi-use
    * round chain would otherwise re-expand exponentially. An
    * exhausted round's scalar argmax is NULL, making every later
    * rewrite the identity and contributing no merge row. */
  private def bpeRoundsSql(nRounds: Int, minFreq: Long): (String, String) = {
    val rounds = (0 until nRounds).map { r =>
      s"""
      e$r AS MATERIALIZED (
        SELECT wid, freq, u.sym AS sym, u.i AS i
        FROM w$r, unnest(list_transform(syms, (x, i) -> {'sym': x, 'i': i})) AS t(u)),
      cnt$r AS (
        SELECT a.sym AS pa, b.sym AS pb, SUM(a.freq) AS c
        FROM e$r a JOIN e$r b ON a.wid = b.wid AND b.i = a.i + 1
        GROUP BY 1, 2 HAVING SUM(a.freq) >= $minFreq),
      top$r AS MATERIALIZED (
        SELECT pa, pb, c FROM cnt$r ORDER BY c DESC, pa, pb LIMIT 1),
      m$r AS (
        SELECT a.wid, a.i, ROW_NUMBER() OVER (PARTITION BY a.wid ORDER BY a.i) AS rn
        FROM e$r a JOIN e$r b ON a.wid = b.wid AND b.i = a.i + 1
        WHERE a.sym = (SELECT pa FROM top$r) AND b.sym = (SELECT pb FROM top$r)),
      k$r AS MATERIALIZED (
        SELECT wid, i FROM (
          SELECT wid, i, i - MIN(i) OVER (PARTITION BY wid, i - rn) AS off
          FROM m$r)
        WHERE off % 2 = 0),
      w${r + 1} AS MATERIALIZED (
        SELECT e.wid, ANY_VALUE(e.freq) AS freq,
               list(CASE WHEN k1.i IS NOT NULL
                         THEN (SELECT pa FROM top$r) || (SELECT pb FROM top$r)
                         ELSE e.sym END ORDER BY e.i) AS syms
        FROM e$r e
        LEFT JOIN k$r k1 ON e.wid = k1.wid AND e.i = k1.i
        LEFT JOIN k$r k2 ON e.wid = k2.wid AND e.i = k2.i + 1
        WHERE k2.i IS NULL
        GROUP BY e.wid)"""
    }.mkString(",")
    val merges = (0 until nRounds)
      .map(r => s"SELECT ${r + 1} AS r, pa, pb, c FROM top$r")
      .mkString("\n      UNION ALL ")
    (rounds, merges)
  }

  private val bpeSeedSql = s"""
      words AS (SELECT unnest($toksSql) AS w FROM documents),
      wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY 1),
      w0 AS MATERIALIZED (
        SELECT w AS wid, freq,
               list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
        FROM wf)"""

  private val q123 = QueryDef(
    "q123_bpe_merges",
    (s, dir) => graft.operators.TextAnalysis
      .bpeTrain(table(s, dir, "documents"), nMerges = 10)
      .orderBy(col("rank")),
    Some {
      val (rounds, merges) = bpeRoundsSql(10, 2L)
      s"""
      WITH $bpeSeedSql,
      $rounds,
      mg AS ($merges)
      SELECT CAST(r AS BIGINT) AS rank, pa AS pair_a, pb AS pair_b,
             pa || pb AS merged, CAST(c AS BIGINT) AS weight
      FROM mg ORDER BY rank"""
    })

  /** q124 — tokenizer encode statistics: the corpus re-tokenized
    * under the q123-learned merges, compression summarized per
    * source (chars per subword, ×10⁶ integer). Train-then-encode is
    * THE tokenizer lifecycle of an LLM data pipeline; `BpeSpec`
    * proves both halves equal the sequential algorithm. */
  private val q124 = QueryDef(
    "q124_bpe_encode_stats",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val rules = graft.operators.TextAnalysis
        .bpeTrain(docs, nMerges = 10)
        .orderBy(col("rank"))
        .select("pair_a", "pair_b")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.TextAnalysis.bpeEncode(docs, rules)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("words"),
          sum(col("n_subwords")).as("subwords"),
          sum(col("n_chars")).as("chars"))
        .withColumn("chars_per_subword_e6",
          expr("(chars * 1000000L) div subwords"))
        .orderBy(col("source"))
    },
    Some {
      // encode corpus == train corpus, so the final training word
      // table w10 IS the encoded vocabulary: len(syms) per word
      val (rounds, _) = bpeRoundsSql(10, 2L)
      s"""
      WITH $bpeSeedSql,
      $rounds,
      enc AS (SELECT wid AS w, CAST(len(syms) AS BIGINT) AS n_sub FROM w10),
      docw AS (SELECT doc_id, source, unnest($toksSql) AS w FROM documents),
      per AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS words,
               CAST(SUM(e.n_sub) AS BIGINT) AS subwords,
               CAST(SUM(length(d.w)) AS BIGINT) AS chars
        FROM docw d JOIN enc e USING (w) GROUP BY 1),
      srcs AS (SELECT DISTINCT source FROM documents)
      SELECT source, COALESCE(words, 0) AS words,
             COALESCE(subwords, 0) AS subwords,
             COALESCE(chars, 0) AS chars,
             CAST((COALESCE(chars, 0) * 1000000)
               // NULLIF(COALESCE(subwords, 0), 0) AS BIGINT)
               AS chars_per_subword_e6
      FROM srcs LEFT JOIN per USING (source) ORDER BY source"""
    })

  /** q125 — context-window chunking with overlap (the RAG /
    * pretraining chunking stage): each document splits into
    * 128-token windows at stride 96; per source, the chunk count and
    * the token-duplication mass the overlap costs (×10⁶ integer —
    * the storage bill of the chosen stride at 100 TB). Window starts
    * come from `sequence` + `slice` on the STAGED token array (one
    * explode, no self-join); every slice length is re-measured, so
    * the figure is exact, not the closed-form estimate. */
  private val q125 = QueryDef(
    "q125_chunk_windows",
    (s, dir) => {
      val w = 128
      val st = 96
      val toks = table(s, dir, "documents")
        .select(col("source"), graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .select(col("source"), col("t"), size(col("t")).cast(LongType).as("n"))
        .filter(col("n") > 0)
      val k = when(col("n") <= w, lit(1L))
        .otherwise(lit(1L) + expr(s"(n - $w + $st - 1) div $st"))
      toks
        .select(col("source"), col("t"), col("n"), k.as("k"))
        .select(col("source"), col("n"),
          explode(expr(s"transform(sequence(0, k - 1), i -> size(slice(t, int(i) * $st + 1, $w)))"))
            .as("chunk_len"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_len")).as("chunk_tokens"),
          sum(when(col("chunk_len") < w, 1L).otherwise(0L)).as("n_partial"))
        .join(toks.groupBy(col("source")).agg(sum(col("n")).as("doc_tokens")), "source")
        .withColumn("dup_e6", expr("(chunk_tokens * 1000000L) div doc_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (
        SELECT source, $toksSql AS t
        FROM documents),
      sized AS (
        SELECT source, t, CAST(len(t) AS BIGINT) AS n FROM toks WHERE len(t) > 0),
      chunks AS (
        SELECT source, n,
               CAST(len(t[(i * 96 + 1):(i * 96 + 128)]) AS BIGINT) AS chunk_len
        FROM sized,
             UNNEST(generate_series(0,
               CASE WHEN n <= 128 THEN 0
                    ELSE (n - 128 + 95) // 96 END)) AS g(i)),
      agg AS (
        SELECT source, COUNT(*) AS n_chunks,
               CAST(SUM(chunk_len) AS BIGINT) AS chunk_tokens,
               CAST(SUM(CASE WHEN chunk_len < 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
        FROM chunks GROUP BY 1),
      dt AS (SELECT source, CAST(SUM(n) AS BIGINT) AS doc_tokens FROM sized GROUP BY 1)
      SELECT a.source, n_chunks, chunk_tokens, n_partial, doc_tokens,
             CAST((chunk_tokens * 1000000) // doc_tokens AS BIGINT) AS dup_e6
      FROM agg a JOIN dt USING (source) ORDER BY source"""))

  /** q126 — MinHash accuracy audit (the sketch-quality gate a dedup
    * pipeline runs before trusting LSH at scale): for a deterministic
    * sample of document pairs, the exact 3-gram Jaccard beside a
    * 128-hash MinHash estimate. The engine-specific estimate is
    * hashed as a WITHIN-BOUND FLAG (Hoeffding at k=128: P(err >
    * 0.25) < 10⁻⁶ per pair); DuckDB recomputes the exact Jaccard
    * independently and asserts the flag — same cross-engine bound
    * pattern as q24/q91/q92. */
  private val q126 = QueryDef(
    "q126_minhash_accuracy",
    (s, dir) => {
      import graft.functions.{MinhashExprs, TextFunctions, TextExprs}
      val sh = spreadTable(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(TextExprs.word_shingles(
            TextFunctions.tokens(col("text")), 3)).as("sh"))
        .withColumn("sig",
          MinhashExprs.minhash_signature(
            MinhashExprs.minhash_base_hashes(col("sh")), 128))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b"))
      a.filter(col("id_a") % 5 === 0)
        .join(b, col("id_b") === col("id_a") + 1)
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast(LongType) - col("n_inter"))
        .withColumn("j_exact",
          round(col("n_inter").cast(DoubleType) / col("n_union"), 6))
        .withColumn("j_est",
          aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast(DoubleType) / 128.0)
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
          col("j_exact"),
          (abs(col("j_est") - col("j_exact")) <= 0.25).as("est_ok"))
        .orderBy(col("id_a"))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(${ExtensionQueries.shinglesSql}) AS sh
        FROM toks)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
               AS BIGINT) AS n_union,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
               6) AS j_exact,
             TRUE AS est_ok
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 5 = 0
      ORDER BY id_a"""))

  /** q127 — shingle novelty curve (dedup ROI attribution): for every
    * document, the fraction of its distinct 3-gram shingles whose
    * FIRST corpus occurrence (by doc_id order) is this document.
    * A curation pipeline reads this to see how fast marginal novelty
    * decays as the corpus grows — the aggregate twin of incremental
    * dedup. One shuffle keys shingles (at 100 TB they would shuffle
    * as xxhash64 longs like q33; strings here keep the oracle
    * engine-portable), min(doc_id) marks first owners, one groupBy
    * re-aggregates per document. */
  private val q127 = QueryDef(
    "q127_shingle_novelty",
    (s, dir) => {
      import graft.functions.{TextFunctions, TextExprs}
      val sh = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextExprs.word_shingles(
            TextFunctions.tokens(col("text")), 3))).as("sh"))
      val firstOwner = sh.groupBy(col("sh"))
        .agg(min(col("doc_id")).as("first_doc"))
      sh.join(firstOwner, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast(DoubleType) / col("n_shingles"), 6))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(${ExtensionQueries.shinglesSql})) AS sh
        FROM toks),
      fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT s.doc_id, COUNT(*) AS n_shingles,
             CAST(COUNT(*) FILTER (WHERE fo.first_doc = s.doc_id) AS BIGINT)
               AS n_novel,
             ROUND(CAST(COUNT(*) FILTER (WHERE fo.first_doc = s.doc_id)
               AS DOUBLE) / COUNT(*), 6) AS novelty
      FROM sh s JOIN fo USING (sh)
      GROUP BY s.doc_id ORDER BY s.doc_id"""))

  /** q128 — LATERAL correlated subquery (SQL-standard per-group
    * top-k without a window function): for each source, the 3
    * longest documents via a correlated ORDER BY … LIMIT lateral —
    * the serving-surface idiom Catalyst rewrites into a ranked
    * window internally, exercised from pure SQL on both engines. */
  private val q128 = QueryDef(
    "q128_lateral_topk",
    (s, dir) => {
      table(s, dir, "documents").createOrReplaceTempView("v_docs128")
      s.sql("""
        SELECT s.source, l.doc_id, l.n_chars
        FROM (SELECT DISTINCT source FROM v_docs128) s,
        LATERAL (
          SELECT doc_id, n_chars FROM v_docs128 d
          WHERE d.source = s.source
          ORDER BY n_chars DESC, doc_id LIMIT 3) l
        ORDER BY s.source, l.n_chars DESC, l.doc_id""")
    },
    Some("""
      SELECT s.source, l.doc_id, l.n_chars
      FROM (SELECT DISTINCT source FROM documents) s,
      LATERAL (
        SELECT doc_id, n_chars FROM documents d
        WHERE d.source = s.source
        ORDER BY n_chars DESC, doc_id LIMIT 3) l
      ORDER BY s.source, l.n_chars DESC, l.doc_id"""))

  /** The brute-force Jaccard ≥ 0.6 oracle of q129 and q224 over the
    * docs relation `rel`: every shingle-sharing pair, counted and
    * filtered, ordered by (id_a, id_b). */
  private def allPairsJaccardSql(rel: String): String = s"""
      toks AS (SELECT doc_id, $toksSql AS t FROM $rel),
      sh AS (SELECT doc_id AS id,
                    list_distinct(${ExtensionQueries.shinglesSql}) AS shs
             FROM toks),
      e AS (SELECT id, len(shs) AS n, unnest(shs) AS s FROM sh),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, ANY_VALUE(a.n) AS n_a,
               ANY_VALUE(b.n) AS n_b, COUNT(*) AS n_inter
        FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id)
      SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
             CAST(n_a + n_b - n_inter AS BIGINT) AS n_union,
             CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
      FROM pairs
      WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.6
      ORDER BY id_a, id_b"""

  /** q129 — prefix-filtered set-similarity join
    * ([[graft.operators.Dedup.prefixFilterJoin]], the PPJoin-family
    * trick): exact Jaccard ≥ 0.6 pairs with NO blocking column — only
    * each document's globally-rarest shingle prefix enters the
    * inverted index, provably without false negatives. The oracle is
    * the brute-force all-pairs form: identical result set, so the
    * hash-match proves the pruning is lossless on real data, not just
    * on DedupSpec's synthetic corpus. */
  private val q129 = QueryDef(
    "q129_prefix_filter_join",
    (s, dir) => graft.operators.Dedup
      .prefixFilterJoin(ExtensionQueries.augmentedDocs(s, dir), threshold = 0.6)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH ${ExtensionQueries.augmentedDocsSql},
      ${allPairsJaccardSql("aug")}"""))

  /** q224 — PPJoin lossless-proof on a deterministic stratum: the
    * SAME exact prefix-filtered join as q129, restricted to an
    * md5-keyed decile of documents (the q52/q183 sampling
    * discipline: stratum membership is a pure hash, so any engine
    * draws the identical stratum). The hash key is the BASE id
    * (doc_id mod 1e6) — the q137 cluster-safe rule: a dedup audit
    * whose stratum splits a near-dup pair can never observe it, so
    * docs and their +1e6 mutants co-stratify by construction; a real
    * deployment strata by a grouping key it trusts (domain, URL
    * host) or accepts the pair-split recall discount of a Bernoulli
    * sample. q129's all-pairs oracle
    * costs ~N^1.5 and stops being payable past bench scale; this
    * query keeps the exactness audit alive at ANY corpus size —
    * stratum pair mass is (N/10)^1.5, and the brute-force oracle
    * reproduces it exactly. A hash-match here at gen-scale is the
    * evidence that prefix pruning stays lossless on data 10-40× the
    * fixture, where q129 itself is no longer re-checkable. */
  private val q224 = QueryDef(
    "q224_ppjoin_stratum",
    (s, dir) => {
      // stratum key = the BASE doc id, recovered as `doc_id % offset`
      // with the SAME data-derived mutantOffset augmentedDocs shifts
      // by — structurally alias-free at any corpus size (the former
      // fixed-1e6 form needed a require(maxId < 1e6) fence here; the
      // r14 re-key removed it before the sf32 tier crossed it). One
      // doc_id-column max per engine build: negligible beside the
      // O((N/10)^1.5) join this query exists to audit.
      val off = ExtensionQueries.mutantOffset(
        table(s, dir, "documents"), "doc_id")
      val stratum = ExtensionQueries.augmentedDocs(s, dir)
        .filter(conv(substring(md5((col("doc_id") % off).cast("string")), 1, 15),
          16, 10).cast(LongType) % 10 === 0)
      graft.operators.Dedup.prefixFilterJoin(stratum, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH ${ExtensionQueries.augmentedDocsSql},
      strat AS (
        SELECT * FROM aug
        WHERE CAST('0x' || substr(md5(CAST(
                     doc_id % ${ExtensionQueries.mutantOffsetSql("documents", "doc_id")}
                   AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0),
      ${allPairsJaccardSql("strat")}"""))

  /** q130 — duplicate-span detection (the exact-substring dedup
    * signal of "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, arXiv 2107.06499, re-expressed
    * relationally): every 16-token window at stride 4 keyed by its
    * joined text; a window whose key occurs in MORE THAN ONE document
    * marks duplicated span mass. Per document: window count,
    * cross-doc duplicated windows, and the duplication ratio — the
    * per-doc signal a span-level dedup pass acts on. The window keys
    * shuffle as 64-bit xxhash64 values with exact string verification
    * on the hash-repeat candidates only ([[graft.operators
    * .TextAnalysis.repeatedWindowStarts]] — collision-proof;
    * non-candidate 16-token strings are built and discarded in-row,
    * only candidate strings shuffle); the per-doc window count is
    * closed-form from the token count, so no per-window rows exist
    * outside the repeat detection. No pairwise work anywhere. */
  private val q130 = QueryDef(
    "q130_duplicate_spans",
    (s, dir) => {
      import graft.functions.TextFunctions
      val W = 16; val S = 4
      val toks = ExtensionQueries.augmentedDocs(s, dir)
        .select(col("doc_id").cast(LongType).as("_id"),
          TextFunctions.tokens(col("text")).as("t"))
      val nWins = toks.filter(size(col("t")) >= W)
        .select(col("_id"),
          expr(s"CAST((size(t) - $W) DIV $S + 1 AS BIGINT)").as("n_windows"))
      val dupPerDoc = graft.operators.TextAnalysis
        .repeatedWindowStarts(toks, W, stride = S, crossDocOnly = true)
        .groupBy(col("_id")).agg(count(lit(1)).as("nd"))
      nWins.join(dupPerDoc, Seq("_id"), "left")
        .select(col("_id").as("doc_id"), col("n_windows"),
          coalesce(col("nd"), lit(0L)).as("n_dup_windows"))
        .withColumn("dup_ratio",
          round(col("n_dup_windows").cast(DoubleType) / col("n_windows"), 6))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${ExtensionQueries.augmentedDocsSql},
      toks AS (SELECT doc_id, $toksSql AS t FROM aug),
      wins AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 15, 4),
                 i -> array_to_string(list_slice(t, i, i + 15), ' '))) AS k
        FROM toks WHERE len(t) >= 16),
      dup AS (
        SELECT k FROM wins GROUP BY k HAVING COUNT(DISTINCT doc_id) > 1)
      SELECT w.doc_id, COUNT(*) AS n_windows,
             CAST(COUNT(*) FILTER (WHERE d.k IS NOT NULL) AS BIGINT)
               AS n_dup_windows,
             ROUND(CAST(COUNT(*) FILTER (WHERE d.k IS NOT NULL) AS DOUBLE)
               / COUNT(*), 6) AS dup_ratio
      FROM wins w LEFT JOIN dup d USING (k)
      GROUP BY w.doc_id ORDER BY w.doc_id"""))

  /** q131 — triangle counting over the token co-occurrence graph,
    * degree-ordered (the node-iterator++ technique): each undirected
    * edge orients from its (degree, name)-smaller endpoint, so every
    * triangle is counted exactly once from its minimum vertex and —
    * the 100 TB point — wedge generation at hub nodes collapses,
    * because hubs sit on the RECEIVING end of almost all their edges.
    * Output: one row of graph invariants (nodes, undirected edges,
    * oriented wedges, triangles). */
  private val q131 = QueryDef(
    "q131_triangle_count",
    (s, dir) => {
      val (edges, deg) = OpsQueries.tokenGraph(table(s, dir, "documents"))
      val oriented = OpsQueries.orientByDegree(edges, deg)
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.dst").as("u"), col("e2.dst").as("w"))
      val tri = wedges.join(edges,
        least(col("u"), col("w")) === col("a") &&
          greatest(col("u"), col("w")) === col("b"))
      edges.agg(count(lit(1)).as("n_edges")).crossJoin(
          broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
        .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
        .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"))
    },
    Some(s"""
      WITH toks AS (
        SELECT $toksSql AS t FROM documents WHERE len($toksSql) >= 2),
      ${OpsQueries.bigramPairsSql()},
      edges AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM xy),
      deg AS (
        SELECT v, COUNT(*) AS d FROM (
          SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
        GROUP BY 1),
      oriented AS (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
        FROM edges e
        JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      wedges AS (
        SELECT e1.dst AS u, e2.dst AS w
        FROM oriented e1 JOIN oriented e2
          ON e1.src = e2.src AND e1.dst < e2.dst),
      tri AS (
        SELECT 1 FROM wedges
        JOIN edges ON least(u, w) = a AND greatest(u, w) = b)
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM edges) AS n_edges,
             (SELECT COUNT(*) FROM wedges) AS n_wedges,
             (SELECT COUNT(*) FROM tri) AS n_triangles"""))

  /** q132 — token-distribution drift (per-source KL divergence from
    * the corpus unigram distribution): the mixture-health metric a
    * pretraining pipeline watches as sources shift. Each token's term
    * `p·ln(p/q)` rounds to 6 decimals BEFORE an exact DECIMAL sum, so
    * the aggregate is order-independent and engine-portable (the q56
    * discipline, extended to a summed-log measure); ties at rounding
    * boundaries are the only cross-engine hazard and sit ~10 orders
    * below the rounded digit. */
  private val q132 = QueryDef(
    "q132_token_kl_drift",
    (s, dir) => {
      import graft.functions.TextFunctions
      val toks = table(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("w"))
      val perSrc = toks.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c")).as("t"))
      val corpus = perSrc.groupBy(col("w")).agg(sum(col("c")).as("cq"))
      val corpusTot = corpus.agg(sum(col("cq")).as("tq"))
      perSrc.join(srcTot, "source").join(corpus, "w")
        .crossJoin(broadcast(corpusTot))
        .withColumn("term", round(
          (col("c") / col("t")) *
            log((col("c") * col("tq")) / (col("t") * col("cq"))), 6)
          .cast(DecimalType(28, 6)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens_distinct"),
          sum(col("term")).cast(DoubleType).as("kl_vs_corpus"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (
        SELECT source, unnest($toksSql) AS w FROM documents),
      per AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM per GROUP BY 1),
      cw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cq FROM per GROUP BY 1),
      ct AS (SELECT CAST(SUM(cq) AS BIGINT) AS tq FROM cw)
      SELECT per.source, COUNT(*) AS n_tokens_distinct,
             CAST(SUM(CAST(ROUND(
               (CAST(c AS DOUBLE) / t) *
                 ln((CAST(c AS DOUBLE) * tq) / (CAST(t AS DOUBLE) * cq)), 6)
               AS DECIMAL(28, 6))) AS DOUBLE) AS kl_vs_corpus
      FROM per JOIN st USING (source) JOIN cw USING (w), ct
      GROUP BY per.source ORDER BY per.source"""))

  /** q133 — length/quality Pearson correlation per source, computed
    * from EXACT INTEGER sums: both variables are integers (n_chars;
    * quality scaled to 10⁻⁴ ticks), the six sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy) aggregate exactly in BIGINT, and the
    * correlation is ONE final double expression — so the result is
    * bit-identical across engines and partitionings, unlike a native
    * one-pass `corr` whose float accumulation order varies. The
    * mixture-design signal: does this source pay for length with
    * quality? */
  private val q133 = QueryDef(
    "q133_length_quality_corr",
    (s, dir) => {
      import graft.functions.TextFunctions
      val xy = table(s, dir, "documents")
        .select(col("source"), col("n_chars").as("x"),
          floor(TextFunctions.qualityScoreOf(col("text"),
            TextFunctions.tokens(col("text"))) * 10000).cast(LongType).as("y"))
      xy.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("pearson_r", round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))), 6))
        .select(col("source"), col("n"), col("pearson_r"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (SELECT source, text, n_chars, $toksSql AS t FROM documents),
      q AS (
        SELECT source, n_chars AS x,
               CAST(floor(10000 * (${ExtensionQueries.qualitySql})) AS BIGINT) AS y
        FROM toks),
      stats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM q GROUP BY 1)
      SELECT source, n,
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS pearson_r
      FROM stats ORDER BY source"""))

  /** q134 — duplicate-span REMOVAL
    * ([[graft.operators.TextAnalysis.dropDuplicateSpans]]): the
    * rewrite half of exact-substring dedup — q130 measures the
    * duplicated mass, this cuts it. Every 16-token span occurring
    * more than once corpus-wide is removed from all occurrences
    * (overlapping windows merged into maximal spans first); the
    * oracle replays the full mark → merge-islands → cut → reassemble
    * pipeline in SQL, so the hash-match covers the rewritten TEXT,
    * not just counts. */
  private val q134 = QueryDef(
    "q134_drop_duplicate_spans",
    (s, dir) => graft.operators.TextAnalysis
      .dropDuplicateSpans(ExtensionQueries.augmentedDocs(s, dir), window = 16)
      .orderBy(col("doc_id")),
    Some(s"""
      WITH ${ExtensionQueries.augmentedDocsSql},
      toks AS (SELECT doc_id, $toksSql AS t FROM aug),
      pos AS (
        SELECT doc_id, u.i AS pos, t[u.i] AS tok
        FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      wins AS (
        SELECT doc_id, u.i AS i,
               array_to_string(list_slice(t, u.i, u.i + 15), ' ') AS k
        FROM toks, unnest(generate_series(1, len(t) - 15)) AS u(i)
        WHERE len(t) >= 16),
      dup AS (SELECT k FROM wins GROUP BY k HAVING COUNT(*) > 1),
      marked AS (
        SELECT w.doc_id, i, i + 15 AS e FROM wins w JOIN dup USING (k)),
      mk AS (
        SELECT doc_id, i, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM marked),
      isl AS (
        SELECT doc_id, i, e,
               SUM(CASE WHEN pm IS NULL OR i > pm + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM mk),
      spans AS (
        SELECT doc_id, island, MIN(i) AS s, MAX(e) AS e
        FROM isl GROUP BY 1, 2),
      dropped AS (
        SELECT DISTINCT p.doc_id, p.pos
        FROM pos p JOIN spans sp
          ON p.doc_id = sp.doc_id AND p.pos BETWEEN sp.s AND sp.e),
      kept AS (
        SELECT p.doc_id, p.pos, p.tok FROM pos p
        LEFT JOIN dropped d ON p.doc_id = d.doc_id AND p.pos = d.pos
        WHERE d.pos IS NULL),
      stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
                FROM pos GROUP BY 1),
      reb AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY 1)
      SELECT a.doc_id,
             COALESCE(st.n_tokens, 0) AS n_tokens,
             COALESCE(st.n_tokens, 0) - COALESCE(reb.n_kept, 0) AS n_dropped,
             COALESCE(reb.clean_text, '') AS clean_text
      FROM aug a
      LEFT JOIN stats st USING (doc_id) LEFT JOIN reb USING (doc_id)
      ORDER BY a.doc_id"""))

  /** Per-document token positions `(doc_id, pos, w)` and adjacent
    * bigrams `(doc_id, a, b)` of `docs` — the training and scoring
    * input of the q139 and q150 bigram models. */
  private def docBigrams(docs: org.apache.spark.sql.DataFrame)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val toks = docs.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokens(col("text"))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = toks.withColumn("nxt", lead(col("w"), 1).over(byDoc))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("w").as("a"), col("nxt").as("b"))
    (toks, big)
  }

  /** DuckDB twin of [[docBigrams]]: `toks(doc_id, t)` and
    * `big(doc_id, a, b)`. */
  private val docBigramsSql = s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      big AS (
        SELECT doc_id, t[u.i] AS a, t[u.i + 1] AS b
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2)"""

  /** q139 — bigram language-model document scoring (perplexity-style
    * quality filtering): train add-one-smoothed conditional bigram
    * probabilities on the corpus itself, then score every document by
    * its mean negative log-likelihood — the classic "does this text
    * look like the corpus" curation filter (high avg NLL = gibberish
    * / boilerplate candidates), one tier up from q78's unigram score.
    * Each bigram term rounds to 6 decimals before an exact DECIMAL
    * sum (q132 discipline) so the per-doc aggregate is
    * order-independent; documents with fewer than two tokens still
    * appear with zero counts (the q124 lesson). */
  private val q139 = QueryDef(
    "q139_bigram_lm_score",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val (toks, big) = docBigrams(docs)
      val bc = big.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      val uc = big.groupBy(col("a")).agg(count(lit(1)).as("ca"))
      val voc = toks.agg(countDistinct(col("w")).as("v"))
      val terms = big.join(bc, Seq("a", "b")).join(uc, Seq("a"))
        .crossJoin(broadcast(voc))
        .withColumn("term", round(-log(
          (col("cab") + lit(1L)).cast(DoubleType) /
            (col("ca").cast(DoubleType) + col("v"))), 6)
          .cast(DecimalType(28, 6)))
      val agg = terms.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("s"))
      docs.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("s").cast(DoubleType) / col("n_bigrams"), lit(0.0))
            .as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $docBigramsSql,
      bc AS (SELECT a, b, COUNT(*) AS cab FROM big GROUP BY 1, 2),
      uc AS (SELECT a, COUNT(*) AS ca FROM big GROUP BY 1),
      voc AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
              FROM (SELECT unnest(t) AS w FROM toks)),
      terms AS (
        SELECT g.doc_id,
               CAST(ROUND(-ln(CAST(cab + 1 AS DOUBLE)
                   / (CAST(ca AS DOUBLE) + v)), 6) AS DECIMAL(28, 6)) AS term
        FROM big g JOIN bc USING (a, b) JOIN uc USING (a), voc),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     SUM(term) AS s
              FROM terms GROUP BY 1)
      SELECT d.doc_id,
             COALESCE(agg.n_bigrams, 0) AS n_bigrams,
             COALESCE(CAST(agg.s AS DOUBLE) / agg.n_bigrams, 0.0) AS avg_nll
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY d.doc_id"""))

  /** q140 — sorted-neighborhood near-dup
    * ([[graft.operators.Dedup.sortedNeighborhoodPairs]], Hernández &
    * Stolfo's merge/purge): order the corpus by a 40-char normalized
    * prefix key, compare only rank-neighbors within a window of 5,
    * verify candidates by edit distance on capped text (all-integer
    * accept test: 5·lev ≤ max length). The planted mutants differ
    * only at the tail, so prefix order makes them neighbors — the
    * method's exact selling point: n·window candidates from one
    * sort, no signatures, no pair explosion. */
  private val q140 = QueryDef(
    "q140_sorted_neighborhood",
    (s, dir) => {
      import graft.operators.Dedup
      val docs = ExtensionQueries.augmentedDocs(s, dir)
      // the 250-char verification substring rides through the block
      // join (carry) — the corpus is evaluated once and the two
      // feature join-backs the old shape paid are gone
      val pairs = Dedup.sortedNeighborhoodPairs(
        docs, substring(lower(col("text")), 1, 40), window = 5,
        carry = Seq("sub" -> substring(col("text"), 1, 250)))
      pairs
        // banded levenshtein: the accept test only admits distances
        // ≤ mx/5 ≤ 50, so cap the DP there (O(n·k) not O(n²), -1 when
        // exceeded — accepted pairs keep their exact distance)
        .withColumn("lev",
          levenshtein(col("a_sub"), col("b_sub"), 50).cast(LongType))
        .filter(col("lev") >= 0 && col("lev") * 5 <=
          greatest(length(col("a_sub")), length(col("b_sub"))))
        .select(col("a_id"), col("b_id"),
          col("rank_gap").cast(LongType).as("rank_gap"), col("lev"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      WITH ${ExtensionQueries.augmentedDocsSql},
      keyed AS (SELECT doc_id, substring(lower(text), 1, 40) AS k,
                       substring(text, 1, 250) AS sub FROM aug),
      ranked AS (SELECT doc_id, sub,
                        ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rnk
                 FROM keyed),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
               CAST(levenshtein(a.sub, b.sub) AS BIGINT) AS lev,
               greatest(length(a.sub), length(b.sub)) AS mx
        FROM ranked a JOIN ranked b
          ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5)
      SELECT a_id, b_id, rank_gap, lev FROM pairs
      WHERE lev * 5 <= mx
      ORDER BY a_id, b_id"""))

  /** q141 — Davies–Bouldin cluster-quality audit
    * ([[graft.operators.Clustering.daviesBouldin]]): per k-means
    * cell, the scatter (mean squared distance to the exact-mean
    * centroid), the worst-separated neighbor, and the DB term
    * maxⱼ (Sᵢ+Sⱼ)/Mᵢⱼ. The metric that tells a curation pipeline
    * whether its SemDeDup/IVF cells are actually tight before
    * trusting them — centroid-based throughout, so the audit costs
    * one Lloyd-round pass regardless of corpus size. */
  private val q141 = QueryDef(
    "q141_davies_bouldin",
    (s, dir) => {
      import graft.operators.Clustering
      val e = spreadTable(s, dir, "embeddings")
      val assigned = Clustering.assignCells(e, Clustering.seedCentroids(e, 50))
      Clustering.daviesBouldin(assigned).orderBy(col("cell"))
    },
    Some(s"""
      WITH c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cents0 AS (
        SELECT CAST(vec_id AS BIGINT) AS c_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
      scored AS (
        SELECT a.n_id, a.v AS nv, b.c_id, ${ExtensionQueries.cosSql} AS cos
        FROM c a CROSS JOIN cents0 b),
      best AS (
        SELECT n_id, nv, c_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY n_id
                                  ORDER BY cos DESC, c_id) AS rn
        FROM scored),
      asg AS (SELECT n_id, nv, cell FROM best WHERE rn = 1),
      ex AS (
        SELECT cell, n_id, CAST(generate_subscripts(nv, 1) AS BIGINT) AS pos,
               CAST(unnest(nv) AS DOUBLE) AS x
        FROM asg),
      cent AS (
        SELECT cell, pos,
               CAST(SUM(CAST(x AS DECIMAL(20,7))) AS DOUBLE) / COUNT(*)
                 AS centroid
        FROM ex GROUP BY 1, 2),
      pp AS (
        SELECT e.cell, e.n_id,
               CAST(ROUND(CAST(SUM(CAST(ROUND((e.x - c.centroid)
                   * (e.x - c.centroid), 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
                 AS DECIMAL(28,6)) AS d2
        FROM ex e JOIN cent c USING (cell, pos) GROUP BY 1, 2),
      sc AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(d2) AS DOUBLE) / COUNT(*) AS scatter
        FROM pp GROUP BY 1),
      sep AS (
        SELECT a.cell AS ci, b.cell AS cj,
               CAST(SUM(CAST(ROUND((a.centroid - b.centroid)
                   * (a.centroid - b.centroid), 9) AS DECIMAL(28,9)))
                 AS DOUBLE) AS m2
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.cell <> b.cell
        GROUP BY 1, 2),
      r AS (
        SELECT ci, cj, (sa.scatter + sb.scatter) / m2 AS ratio
        FROM sep JOIN sc sa ON sa.cell = ci JOIN sc sb ON sb.cell = cj),
      d AS (
        SELECT ci AS cell, cj AS worst_neighbor, ratio AS db_term,
               ROW_NUMBER() OVER (PARTITION BY ci
                                  ORDER BY ratio DESC, cj) AS rn
        FROM r)
      SELECT sc.cell, n_vecs, scatter, worst_neighbor, db_term
      FROM sc JOIN d USING (cell) WHERE rn = 1
      ORDER BY sc.cell"""))

  /** q142 — DSIR importance-weight data selection
    * ([[graft.operators.TextAnalysis.dsirWeights]], Xie et al. 2023):
    * target = English documents; every document scored by its hashed
    * unigram+bigram bag's log-likelihood ratio between the target
    * and raw-corpus distributions (add-one smoothing, 512 md5-hashed
    * buckets), top 20 selected. The pretraining-mixture selection
    * signal: high weight = "looks like the target domain". */
  private val q142 = QueryDef(
    "q142_dsir_selection",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = table(s, dir, "documents")
      TextAnalysis.dsirWeights(docs, col("lang") === "en", buckets = 512)
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_t, $toksSql AS t FROM documents),
      uni AS (SELECT doc_id, is_t, unnest(t) AS f FROM toks),
      big AS (SELECT doc_id, is_t, t[u.i] || ' ' || t[u.i + 1] AS f
              FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2),
      feats AS (SELECT doc_id, is_t,
                       CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 512 AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
      dc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n
             FROM feats GROUP BY 1, 2),
      raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM feats GROUP BY 1),
      tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
              FROM feats WHERE is_t GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tr,
                     CAST(COUNT(*) FILTER (WHERE is_t) AS BIGINT) AS tt
              FROM feats),
      terms AS (
        SELECT dc.doc_id,
               CAST(ROUND(CAST(n AS DOUBLE) * ln(
                   CAST((COALESCE(ct, 0) + 1) * (tr + 512) AS DOUBLE)
                 / CAST((cr + 1) * (tt + 512) AS DOUBLE)), 6)
                 AS DECIMAL(28, 6)) AS term
        FROM dc JOIN raw USING (b) LEFT JOIN tgt USING (b), tot),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats, SUM(term) AS s
              FROM terms GROUP BY 1)
      SELECT d.doc_id, COALESCE(agg.n_feats, 0) AS n_feats,
             COALESCE(CAST(agg.s AS DOUBLE), 0.0) AS weight
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY weight DESC, d.doc_id
      LIMIT 20"""))

  /** Unrolled unigram-LM Viterbi DP as plain SQL (the q143/q144
    * oracle): seed-vocabulary counting is relational; the per-word
    * DP over character positions unrolls to `maxLen` plain CTE
    * steps, each taking the (score desc, split-position asc) argmax
    * over the previous ≤ `maxPiece` positions — exactly the
    * fold [[graft.operators.UnigramLm.viterbiSegment]] runs inside
    * one row. Scores are fixed-point BIGINT log-probs, so the
    * comparisons (and therefore the segmentations) are bit-identical
    * across engines. Accumulator CTEs are MATERIALIZED — each is
    * referenced twice and DuckDB would otherwise re-expand the chain
    * exponentially. */
  private def unigramDpSql(maxLen: Int, maxPiece: Int, cap: Int): String = {
    val steps = (1 to maxLen).map { j =>
      s"""
      uc$j AS (
        SELECT d.word, d.score + v.s AS score, d.np + 1 AS np,
               CASE WHEN d.np = 0 THEN v.piece
                    ELSE d.seg || ' ' || v.piece END AS seg, d.p AS i
        FROM udall${j - 1} d JOIN uvocab v
          ON v.piece = substr(d.word, d.p + 1, $j - d.p)
        WHERE d.p >= $j - $maxPiece AND d.p < $j AND length(d.word) >= $j),
      ub$j AS (
        SELECT word, $j AS p, score, np, seg FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY word
                      ORDER BY score DESC, i ASC) AS rn FROM uc$j)
        WHERE rn = 1),
      udall$j AS MATERIALIZED (
        SELECT * FROM udall${j - 1} UNION ALL SELECT * FROM ub$j)"""
    }.mkString(",")
    s"""
      uwords AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest($toksSql) AS word FROM documents)
        WHERE length(word) <= $maxLen GROUP BY 1),
      upos AS (
        SELECT word, freq, u.i AS i
        FROM uwords, unnest(generate_series(1, length(word))) AS u(i)),
      usubs AS (
        SELECT substr(word, i, u.l) AS piece, freq
        FROM upos,
             unnest(generate_series(1,
               least($maxPiece, length(word) - i + 1))) AS u(l)),
      ucnts AS (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM usubs GROUP BY 1),
      uvraw AS MATERIALIZED (
        SELECT piece, cnt FROM ucnts WHERE length(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM ucnts WHERE length(piece) >= 2
          ORDER BY cnt DESC, piece LIMIT $cap)),
      utot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tv FROM uvraw),
      uvocab AS MATERIALIZED (
        SELECT piece, cnt,
               CAST(ROUND(ln(CAST(cnt AS DOUBLE) / tv) * 1000000) AS BIGINT)
                 AS s
        FROM uvraw, utot),
      udall0 AS (
        SELECT word, 0 AS p, CAST(0 AS BIGINT) AS score, 0 AS np, '' AS seg
        FROM uwords),$steps"""
  }

  /** q143 — unigram-LM Viterbi segmentation
    * ([[graft.operators.UnigramLm]], Kudo 2018 — the SentencePiece
    * unigram model, the alternative tokenizer family to q123's BPE):
    * seed substring vocabulary (all single chars + top-50 multi-char
    * pieces by corpus count), then the exact max-log-prob
    * segmentation of every distinct word under fixed-point integer
    * scores. The DP runs INSIDE one row via a higher-order fold over
    * a broadcast vocabulary map — zero shuffle beyond the word/vocab
    * counts, no driver loop. */
  private val q143 = QueryDef(
    "q143_unigram_viterbi",
    (s, dir) => {
      import graft.operators.UnigramLm
      val docs = table(s, dir, "documents")
      val words = UnigramLm.wordTable(docs, maxWordLen = 8)
      val vocab = UnigramLm.seedVocab(words, maxPieceLen = 4, vocabCap = 50)
      UnigramLm.viterbiSegment(words, vocab, maxPieceLen = 4)
        .orderBy(col("word"))
    },
    Some(s"""
      WITH ${unigramDpSql(8, 4, 50)}
      SELECT w.word, w.freq, d.score, CAST(d.np AS BIGINT) AS n_pieces, d.seg
      FROM uwords w JOIN udall8 d ON d.word = w.word AND d.p = length(w.word)
      ORDER BY w.word"""))

  /** q144 — unigram-LM hard-EM recount
    * ([[graft.operators.UnigramLm.emRecount]]): the M-step after
    * q143's E-step — pieces recounted from the Viterbi segments
    * (weighted by word frequency) and re-scored over the used-piece
    * total, i.e. the pruned vocabulary the next EM round would
    * segment under. */
  private val q144 = QueryDef(
    "q144_unigram_em",
    (s, dir) => {
      import graft.operators.UnigramLm
      val docs = table(s, dir, "documents")
      val words = UnigramLm.wordTable(docs, maxWordLen = 8)
      val vocab = UnigramLm.seedVocab(words, maxPieceLen = 4, vocabCap = 50)
      UnigramLm.emRecount(UnigramLm.viterbiSegment(words, vocab, maxPieceLen = 4))
        .orderBy(col("piece"))
    },
    Some(s"""
      WITH ${unigramDpSql(8, 4, 50)},
      ufin AS (
        SELECT w.freq, d.seg FROM uwords w
        JOIN udall8 d ON d.word = w.word AND d.p = length(w.word)),
      uused AS (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, unnest(string_split(seg, ' ')) AS piece FROM ufin)
        GROUP BY 1),
      utot2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tv FROM uused)
      SELECT piece, cnt,
             CAST(ROUND(ln(CAST(cnt AS DOUBLE) / tv) * 1000000) AS BIGINT) AS s
      FROM uused, utot2 ORDER BY piece"""))

  /** q145 — unigram-LM corpus encode
    * ([[graft.operators.UnigramLm.encode]]): per-document subword
    * statistics under the q143 vocabulary — token, piece, and
    * character counts plus the total fixed-point log-prob (the
    * corpus-perplexity numerator a curation pipeline thresholds on).
    * The DP cost rides on the distinct-word table; the corpus pass
    * is one explode + broadcast-joinable word lookup. Token-less
    * documents appear with zero counts. */
  private val q145 = QueryDef(
    "q145_unigram_encode",
    (s, dir) => {
      import graft.operators.UnigramLm
      val docs = table(s, dir, "documents")
      val words = UnigramLm.wordTable(docs, maxWordLen = 8)
      val vocab = UnigramLm.seedVocab(words, maxPieceLen = 4, vocabCap = 50)
      UnigramLm.encode(docs, vocab, maxWordLen = 8, maxPieceLen = 4)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${unigramDpSql(8, 4, 50)},
      useg AS (
        SELECT word, np, score FROM udall8 d
        WHERE d.p = length(d.word)),
      udw AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
      uagg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(np) AS BIGINT) AS n_pieces,
               CAST(SUM(length(word)) AS BIGINT) AS n_chars,
               CAST(SUM(score) AS BIGINT) AS score
        FROM udw JOIN useg USING (word) GROUP BY 1)
      SELECT d.doc_id, COALESCE(uagg.n_words, 0) AS n_words,
             COALESCE(uagg.n_pieces, 0) AS n_pieces,
             COALESCE(uagg.n_chars, 0) AS n_chars,
             COALESCE(uagg.score, 0) AS score
      FROM documents d LEFT JOIN uagg USING (doc_id)
      ORDER BY d.doc_id"""))

  /** q146 — character-entropy quality signal
    * ([[graft.operators.TextAnalysis.charEntropy]]): per-document
    * Shannon entropy of the character distribution in bits/char —
    * the gibberish / base64-blob / repeated-filler detector beside
    * q44's heuristic quality score. Exact rounded-DECIMAL term sums
    * keep it order-independent and engine-portable. */
  private val q146 = QueryDef(
    "q146_char_entropy",
    (s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.charEntropy(table(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ch AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
               substr(text, u.i, 1) AS ch
        FROM documents, unnest(generate_series(1, length(text))) AS u(i)),
      cc AS (
        SELECT doc_id, ANY_VALUE(n) AS n, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM ch GROUP BY doc_id, ch),
      terms AS (
        SELECT doc_id,
               CAST(ROUND(CAST(c AS DOUBLE) / n
                 * log2(CAST(n AS DOUBLE) / c), 9) AS DECIMAL(28,9)) AS term
        FROM cc),
      agg AS (
        SELECT doc_id, CAST(SUM(term) AS DOUBLE) AS e FROM terms GROUP BY 1)
      SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_text_chars,
             COALESCE(agg.e, 0.0) AS entropy_bits
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY d.doc_id"""))

  /** q147 — Zipf rank–frequency slope per source
    * ([[graft.operators.TextAnalysis.zipfSlope]]): OLS slope of
    * ln(freq) on ln(rank) over each source's top-100 terms. Natural
    * text tracks ≈ −1; drifting sources flag template spam or
    * synthetic data — the corpus-naturalness audit beside q132's KL
    * drift, exact via the q133 rounded-moment pattern. */
  private val q147 = QueryDef(
    "q147_zipf_slope",
    (s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.zipfSlope(table(s, dir, "documents"), topK = 100)
        .orderBy(col("source"))
    },
    Some(s"""
      WITH freqs AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT source, unnest($toksSql) AS w FROM documents)
        GROUP BY 1, 2),
      ranked AS (
        SELECT source, f,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY f DESC, w) AS rank
        FROM freqs),
      t AS (
        SELECT source,
               CAST(ROUND(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(28,9)) AS tx,
               CAST(ROUND(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(28,9)) AS ty,
               CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(f AS DOUBLE)), 9)
                 AS DECIMAL(28,9)) AS txy,
               CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 9)
                 AS DECIMAL(28,9)) AS txx
        FROM ranked WHERE rank <= 100),
      m AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(tx) AS DOUBLE) AS sx, CAST(SUM(ty) AS DOUBLE) AS sy,
               CAST(SUM(txy) AS DOUBLE) AS sxy, CAST(SUM(txx) AS DOUBLE) AS sxx
        FROM t GROUP BY 1)
      SELECT source, n_terms,
             ROUND((n_terms * sxy - sx * sy)
               / (n_terms * sxx - sx * sx), 6) AS zipf_slope
      FROM m ORDER BY source"""))

  /** Unrolled synchronous label propagation (the q148 oracle): each
    * round is one vote aggregate + one per-node (count desc, label
    * asc) argmax — the deterministic tie-break that makes the
    * fixed-round result engine-exact. Label CTEs are MATERIALIZED
    * (each feeds both the next round's votes and the union chain). */
  private def lpRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""
      lv$r AS (
        SELECT n.v, l.lbl, COUNT(*) AS c
        FROM lpadj n JOIN ll${r - 1} l ON l.v = n.u GROUP BY 1, 2),
      ll$r AS MATERIALIZED (
        SELECT v, lbl FROM (
          SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
                           ORDER BY c DESC, lbl) AS rn FROM lv$r)
        WHERE rn = 1)"""
    }.mkString(",")

  /** q148 — label-propagation community detection
    * ([[graft.operators.LinkAnalysis.labelPropagation]], Raghavan
    * et al. 2007) over the q131 token co-occurrence graph: 4
    * synchronous rounds, each node adopting its neighbors' most
    * frequent label (ties: count desc, label asc). The community
    * structure a curation pipeline uses to group related vocabulary
    * / near-duplicate families without an all-pairs stage. */
  private val q148 = QueryDef(
    "q148_label_propagation",
    (s, dir) => {
      val (edges, _) = OpsQueries.tokenGraph(table(s, dir, "documents"))
      val lp = graft.operators.LinkAnalysis.labelPropagation(edges, rounds = 4)
      val sizes = lp.groupBy(col("community"))
        .agg(count(lit(1)).as("community_size"))
      lp.join(sizes, "community")
        .select(col("node"), col("community"), col("community_size"))
        .orderBy(col("node"))
    },
    Some(s"""
      WITH toks AS (
        SELECT $toksSql AS t FROM documents WHERE len($toksSql) >= 2),
      ${OpsQueries.bigramPairsSql("lp")},
      lpedges AS MATERIALIZED (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM lpxy),
      lpadj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM lpedges
        UNION ALL SELECT b AS v, a AS u FROM lpedges),
      ll0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM lpadj),
      ${lpRoundsSql(4)},
      lpsz AS (
        SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
        FROM ll4 GROUP BY 1)
      SELECT ll4.v AS node, ll4.lbl AS community, lpsz.community_size
      FROM ll4 JOIN lpsz USING (lbl)
      ORDER BY node"""))

  /** q149 — Jaro–Winkler record linkage
    * ([[graft.functions.JaroWinklerExpr]]): the record-linkage
    * scorer Spark lacks as a built-in, implemented as a native
    * codegen expression and oracle-checked character-for-character
    * against DuckDB's `jaro_winkler_similarity`. Candidate pairs
    * come from a sorted-neighborhood window over sampled part names
    * (the q140 blocking pattern — linear candidate mass), ranked PER
    * NAME-PREFIX BLOCK — not globally — so the big window is a
    * partitioned exchange that parallelizes across blocks at any
    * scale. Because a block key that is a prefix function of the sort
    * key partitions the sorted sequence into contiguous runs,
    * within-block lead() pairs plus cross-boundary pairs stitched
    * from each block's first/last two rows reproduce EXACTLY the
    * global sorted-neighborhood pair set (every element between a
    * cross-boundary pair at offset ≤2 is itself a block head or tail,
    * so offsets are preserved in the reduced frame). The one global
    * window left runs over that boundary frame — bounded by 4 rows
    * per block, independent of corpus size. The oracle deliberately
    * stays in the GLOBAL rank formulation: the hash-match is the
    * proof that the block-keyed decomposition loses/invents no pair. */
  private val q149 = QueryDef(
    "q149_jaro_winkler_linkage",
    (s, dir) => {
      import graft.functions.JaroWinklerExpr.jaro_winkler
      import org.apache.spark.sql.expressions.Window
      // neighbor pairs via lead() on rank windows, NOT a rank-range
      // theta join: `rb > ra AND rb <= ra + 2` plans a nested-loop
      // join (O(N²) compares — measured ×63 wall at ×10 data in
      // SCALING.md), while leads are one linear window pass over
      // the same sorted runs producing the identical pair set
      val base = table(s, dir, "part")
        .filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey"), col("p_name"),
          substring(col("p_name"), 1, 7).as("blk"))
      val wb = Window.partitionBy(col("blk"))
        .orderBy(col("p_name"), col("p_partkey"))
      val ranked = base
        .withColumn("rn", row_number().over(wb))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("blk"))))
        .withColumn("l1", struct(lead(col("p_partkey"), 1).over(wb).as("b_key"),
          lead(col("p_name"), 1).over(wb).as("b_name")))
        .withColumn("l2", struct(lead(col("p_partkey"), 2).over(wb).as("b_key"),
          lead(col("p_name"), 2).over(wb).as("b_name")))
      val within = ranked
        .select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
          explode(array(col("l1"), col("l2"))).as("b"))
        .filter(col("b.b_key").isNotNull)
      // boundary stitch: ≤4 rows per block (first two + last two), so
      // this global window is over a block-count-bounded frame
      val wg = Window.orderBy(col("p_name"), col("p_partkey"))
      val cross = ranked
        .filter(col("rn") <= 2 || col("rn") > col("cnt") - 2)
        .select(col("p_partkey"), col("p_name"), col("blk"))
        .withColumn("g1", struct(lead(col("p_partkey"), 1).over(wg).as("b_key"),
          lead(col("p_name"), 1).over(wg).as("b_name"),
          lead(col("blk"), 1).over(wg).as("b_blk")))
        .withColumn("g2", struct(lead(col("p_partkey"), 2).over(wg).as("b_key"),
          lead(col("p_name"), 2).over(wg).as("b_name"),
          lead(col("blk"), 2).over(wg).as("b_blk")))
        .select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
          col("blk"), explode(array(col("g1"), col("g2"))).as("b"))
        .filter(col("b.b_key").isNotNull && col("b.b_blk") =!= col("blk"))
        .select(col("a_key"), col("a_name"),
          struct(col("b.b_key").as("b_key"), col("b.b_name").as("b_name")).as("b"))
      within.unionByName(cross)
        .withColumn("jw", round(jaro_winkler(col("a_name"), col("b.b_name")), 6))
        .filter(col("jw") >= 0.5)
        .select(col("a_key"), col("b.b_key").as("b_key"), col("jw"))
        .orderBy(col("a_key"), col("b_key"))
    },
    Some("""
      WITH p AS (
        SELECT p_partkey, p_name,
               ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rnk
        FROM part WHERE p_partkey % 20 = 0),
      pairs AS (
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        FROM p a JOIN p b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 2)
      SELECT a_key, b_key, jw FROM pairs
      WHERE jw >= 0.5
      ORDER BY a_key, b_key"""))

  /** q150 — stupid-backoff bigram LM held-out scoring (Brants et al.
    * 2007): train raw MLE bigram/unigram counts on HALF the corpus
    * (even doc_ids), score EVERY document — unseen bigrams back off
    * to 0.4·unigram, unseen unigrams to the 0.4²/V floor, so the
    * backoff path is genuinely exercised (q139's add-one model
    * trained on the full corpus never backs off). The per-doc
    * backoff fraction is the domain-shift diagnostic a curation
    * pipeline thresholds on. Rounded-DECIMAL exact term sums; docs
    * with <2 tokens kept with zero counts. */
  private val q150 = QueryDef(
    "q150_stupid_backoff",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val (toks, big) = docBigrams(docs)
      val trainBig = big.filter(col("doc_id") % 2 === 0)
      val trainTok = toks.filter(col("doc_id") % 2 === 0)
      val bc = trainBig.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      val uc = trainBig.groupBy(col("a")).agg(count(lit(1)).as("ca"))
      val wc = trainTok.groupBy(col("w").as("b")).agg(count(lit(1)).as("cb"))
      val stats = trainTok.agg(count(lit(1)).as("tt"),
        countDistinct(col("w")).as("v"))
      val term = when(col("cab").isNotNull,
          -log(col("cab").cast(DoubleType) / col("ca")))
        .when(col("cb").isNotNull,
          -log(lit(0.4) * col("cb").cast(DoubleType) / col("tt")))
        .otherwise(-log(lit(0.16) / col("v")))
      val terms = big
        .join(bc, Seq("a", "b"), "left")
        .join(uc, Seq("a"), "left")
        .join(wc, Seq("b"), "left")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(term, 6).cast(DecimalType(28, 6)).as("term"),
          col("cab").isNull.cast("long").as("backoff"))
      val agg = terms.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("backoff")).as("n_backoff"),
          sum(col("term")).as("s"))
      docs.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
          coalesce(col("s").cast(DoubleType) / col("n_bigrams"), lit(0.0))
            .as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $docBigramsSql,
      bc AS (SELECT a, b, COUNT(*) AS cab FROM big
             WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      uc AS (SELECT a, COUNT(*) AS ca FROM big
             WHERE doc_id % 2 = 0 GROUP BY 1),
      wc AS (SELECT w AS b, COUNT(*) AS cb
             FROM (SELECT doc_id, unnest(t) AS w FROM toks)
             WHERE doc_id % 2 = 0 GROUP BY 1),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS tt,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        FROM (SELECT doc_id, unnest(t) AS w FROM toks)
        WHERE doc_id % 2 = 0),
      terms AS (
        SELECT g.doc_id,
               CAST(ROUND(CASE
                 WHEN cab IS NOT NULL
                   THEN -ln(CAST(cab AS DOUBLE) / ca)
                 WHEN cb IS NOT NULL
                   THEN -ln(0.4 * CAST(cb AS DOUBLE) / tt)
                 ELSE -ln(0.16 / v) END, 6) AS DECIMAL(28, 6)) AS term,
               CASE WHEN cab IS NULL THEN 1 ELSE 0 END AS backoff
        FROM big g LEFT JOIN bc USING (a, b) LEFT JOIN uc USING (a)
             LEFT JOIN wc USING (b), stats),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     CAST(SUM(backoff) AS BIGINT) AS n_backoff,
                     SUM(term) AS s
              FROM terms GROUP BY 1)
      SELECT d.doc_id,
             COALESCE(agg.n_bigrams, 0) AS n_bigrams,
             COALESCE(agg.n_backoff, 0) AS n_backoff,
             COALESCE(CAST(agg.s AS DOUBLE) / agg.n_bigrams, 0.0) AS avg_nll
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY d.doc_id"""))

  val all: Seq[QueryDef] =
    Seq(q114, q115, q116, q117, q118, q119, q120, q121, q122, q123, q124,
      q125, q126, q127, q128, q129, q130, q131, q132, q133, q134, q139,
      q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150,
      q224)
}
