package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.TextFunctions
import graft.operators.Checkpoints
import graft.queries.ExtensionQueries.{shinglesSql, toksSql}
import graft.queries.QueryDef.{spreadTable, table}
import graft.functions.DecimalExprs.dec2

/** Round-4 continuation: data-profiling / explainability tier —
  * functional-dependency discovery (the schema-inference primitive
  * profilers like Metanome run before migration), shared-shingle
  * evidence for near-duplicate verdicts (dedup decisions should be
  * auditable, not oracular), and a BFS level census of the trading
  * graph (distance structure beside the PageRank/k-core/community
  * family). */
object ProfilingQueries {

  /** q190 — functional-dependency discovery over the order–customer
    * frame: for each candidate A→B, the number of A-groups, how many
    * are violated (>1 distinct B), and the violation share in exact
    * ppm. Declared-schema FDs (orderkey→custkey, custkey→nation,
    * custkey→segment) verify as exact; the deliberately-false
    * candidates quantify HOW false — the evidence a migration uses
    * to decide what becomes a key or a dimension. Each candidate is
    * one two-level aggregate (distinct-B per A, then a bounded group
    * frame); candidates union into one result. */
  private val q190 = QueryDef(
    "q190_fd_discovery",
    (s, dir) => {
      val frame = table(s, dir, "orders")
        .join(table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"),
          col("c_mktsegment"), col("o_orderpriority"))
      val candidates = Seq(
        ("o_orderkey", "o_custkey"), ("o_custkey", "c_nationkey"),
        ("o_custkey", "c_mktsegment"), ("c_nationkey", "c_mktsegment"),
        ("c_mktsegment", "o_orderpriority"), ("o_orderpriority", "c_nationkey"))
      candidates.map { case (a, b) =>
        frame.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
          .agg(count(lit(1)).as("n_groups"),
            sum((col("nb") > 1).cast(LongType)).as("violated"))
          .select(lit(s"$a->$b").as("fd"), col("n_groups"), col("violated"),
            expr("(violated * 1000000L) div n_groups").as("viol_ppm"))
      }.reduce(_.unionAll(_)).orderBy(col("fd"))
    },
    Some {
      val cands = Seq(
        ("o_orderkey", "o_custkey"), ("o_custkey", "c_nationkey"),
        ("o_custkey", "c_mktsegment"), ("c_nationkey", "c_mktsegment"),
        ("c_mktsegment", "o_orderpriority"), ("o_orderpriority", "c_nationkey"))
      val selects = cands.map { case (a, b) =>
        s"""SELECT '$a->$b' AS fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS violated,
               CAST((SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) * 1000000)
                 // COUNT(*) AS BIGINT) AS viol_ppm
            FROM (SELECT $a, COUNT(DISTINCT $b) AS nb FROM frame GROUP BY 1)"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH frame AS (
        SELECT o_orderkey, o_custkey, c_nationkey, c_mktsegment,
               o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey)
      $selects
      ORDER BY fd"""
    })

  /** q191 — near-duplicate evidence spans: for the 5 highest-overlap
    * q33-family document pairs (3-gram shingles, shared-count
    * ranking), the 3 earliest shared shingles with their positions in
    * BOTH documents — the human-auditable justification behind a
    * dedup verdict. The pair list comes from the same inverted-index
    * shape as q33 (shingle → posting list → pair counts, no
    * all-pairs); evidence is one join back from the 5-pair frame onto
    * the positioned shingle table. */
  private val q191 = QueryDef(
    "q191_dedup_evidence",
    (s, dir) => {
      // spreadTable: the whole tokenize→shingle→posexplode→hash
      // pipeline fuses into the scan stage, which is one task on the
      // single-row-group fixture file — measured 2.2 s of the query's
      // 4.4 s steady state on one of 32 cores (guide §2.5)
      val docs = QueryDef.spreadTable(s, dir, "documents")
      // heavy stages carry 8-byte xxhash64 shingle keys, never the
      // strings (q33's discipline; 64-bit collisions are ~1e-11 at
      // this vocabulary); evidence TEXT is recovered at the end by
      // re-shingling only the ≤10 documents of the top-5 pairs
      def shingled(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"),
          posexplode(TextFunctions.wordShingles(col("text"), 3))
            .as(Seq("pos0", "sh")))
        .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"),
          col("sh"))
      // the compact (doc, hash, pos) frame, df-capped in ONE pass:
      // q33's stopword-gram discipline (shingles shared by > 20 docs
      // are common phrasing, not duplication, and their posting lists
      // explode quadratically) lands as a count window in the same
      // shuffle that brings the frame together by hash — no separate
      // df aggregate + semi-join + second materialization (the round-4
      // floor analysis found q191's cost was stage overhead, not data)
      // partitioning by h up front serves BOTH the (doc,h) aggregate
      // (h-clustering is a valid distribution for a (doc,h) group) and
      // the df window — one exchange instead of two
      val capped = Checkpoints.truncate(shingled(docs)
        .select(col("doc_id"), col("pos"), xxhash64(col("sh")).as("h"))
        .repartition(col("h"))
        .groupBy(col("doc_id"), col("h")).agg(min(col("pos")).as("pos"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
        .filter(col("df") <= 20)
        .select(col("doc_id"), col("h"), col("pos")))
      // evidence keep-set: the capped hashes themselves (small after
      // the cap), instead of re-deriving df from scratch
      val keep = capped.select(col("h")).distinct()
      val top = capped.select(col("doc_id").as("id_a"), col("h"))
        .join(capped.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("shared"))
        .orderBy(col("shared").desc, col("id_a"), col("id_b"))
        .limit(5)
      val ids = top.select(col("id_a").as("doc_id"))
        .unionAll(top.select(col("id_b"))).distinct()
      val evSh = shingled(docs.join(broadcast(ids), Seq("doc_id"), "left_semi"))
        .groupBy(col("doc_id"), col("sh")).agg(min(col("pos")).as("pos"))
        .join(broadcast(keep.withColumnRenamed("h", "kh")),
          xxhash64(col("sh")) === col("kh"), "left_semi")
      val ev = evSh.select(col("doc_id").as("id_a"), col("sh"),
          col("pos").as("pos_a"))
        .join(evSh.select(col("doc_id").as("id_b"), col("sh"),
          col("pos").as("pos_b")), Seq("sh"))
        .join(broadcast(top), Seq("id_a", "id_b"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("id_a"), col("id_b"))
            .orderBy(col("pos_a"), col("pos_b"), col("sh"))))
        .filter(col("rk") <= 3)
      ev.select(col("id_a"), col("id_b"), col("shared"),
          col("rk").cast(LongType).as("rk"), col("sh"),
          col("pos_a"), col("pos_b"))
        .orderBy(col("id_a"), col("id_b"), col("rk"))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      shing AS (
        SELECT doc_id, u.i AS pos, sh[u.i] AS sh
        FROM (SELECT doc_id, $shinglesSql AS sh FROM toks),
             unnest(generate_series(1, len(sh))) AS u(i)),
      dedup AS (
        SELECT doc_id, sh, CAST(MIN(pos) AS BIGINT) AS pos
        FROM shing GROUP BY 1, 2),
      keep AS (SELECT sh FROM dedup GROUP BY sh HAVING COUNT(*) <= 20),
      capped AS (SELECT d.* FROM dedup d JOIN keep USING (sh)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh,
               a.pos AS pos_a, b.pos AS pos_b
        FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id),
      top AS (
        SELECT id_a, id_b, COUNT(*) AS shared
        FROM pairs GROUP BY 1, 2
        ORDER BY shared DESC, id_a, id_b LIMIT 5),
      ev AS (
        SELECT p.id_a, p.id_b, t.shared, p.sh, p.pos_a, p.pos_b,
               ROW_NUMBER() OVER (PARTITION BY p.id_a, p.id_b
                                  ORDER BY p.pos_a, p.pos_b, p.sh) AS rk
        FROM pairs p JOIN top t ON p.id_a = t.id_a AND p.id_b = t.id_b)
      SELECT id_a, id_b, shared, CAST(rk AS BIGINT) AS rk, sh, pos_a, pos_b
      FROM ev WHERE rk <= 3
      ORDER BY id_a, id_b, rk"""))

  /** q192 — BFS level census from a hub supplier on the trading
    * graph (q157's integer node encoding): synchronous frontier
    * expansion over 3 unrolled rounds, counting nodes FIRST reached
    * at each hop — the distance-structure audit beside PageRank
    * (mass), k-core (density), and label propagation (communities).
    * State is the REACHED set only (grows toward |V|, never carries
    * the unreached majority through the rounds); the edge set is
    * materialized once at single-direction size (q157's discipline);
    * unreached nodes appear as one level −1 census row computed by
    * difference. */
  private val q192 = QueryDef(
    "q192_bfs_levels",
    (s, dir) => {
      // spreadTable on the streamed lineitem side: the single-split
      // fixture scan fuses the broadcast-join probe + edge projection
      // into one task (guide §2.5); no-op at multi-split tiers
      val edges = table(s, dir, "orders")
        .join(spreadTable(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val e = Checkpoints.truncate(edges)
      val adj = e.select(col("a").as("v"), col("b").as("u"))
        .unionAll(e.select(col("b").as("v"), col("a").as("u")))
      // BFS seed: supplier s_suppkey=1 in the bipartite packing
      // (customers = key*2, suppliers = key*2+1 → 1*2+1 = 3). Every
      // sf of the fixture contains supplier 1 and it sits in the
      // giant component, so the 3-hop census is non-degenerate. The
      // DuckDB oracle unrolls the same seed literal.
      val bfsSeedNode = 3L
      // round-15 (VERDICT item 5): checkpoint the NEW FRONTIER per
      // round, not the whole reached set. Every per-level frame is
      // individually materialized, so the reached union is a shallow
      // plan over checkpointed terms (the kernelAdmit round-14
      // discipline); each round's truncate writes only the frontier
      // it discovered instead of re-writing levels 0..r−1, and the
      // per-round "filter reached for the previous level" scan
      // disappears — the previous frontier IS the previous round's
      // checkpoint. Results identical: the anti-join sees the same
      // reached set either way.
      var lvls = List(adj.sparkSession.range(1)
        .select(lit(bfsSeedNode).as("v"), lit(0L).as("lvl")))
      for (r <- 1L to 3L) {
        val frontier = lvls.head.select(col("v"))
        val reachedSoFar = lvls.map(_.select(col("v"))).reduce(_.unionAll(_))
        val nxt = adj.join(frontier, Seq("v"), "left_semi")
          .select(col("u").as("v")).distinct()
          .join(reachedSoFar, Seq("v"), "left_anti")
          .withColumn("lvl", lit(r))
        lvls = Checkpoints.truncate(nxt) :: lvls
      }
      val reached = lvls.reduce(_.unionAll(_))
      val counts = reached.groupBy(col("lvl")).agg(count(lit(1)).as("n_nodes"))
      val tot = adj.select(col("v")).distinct().agg(count(lit(1)).as("t"))
      val rt = reached.agg(count(lit(1)).as("rt"))
      tot.crossJoin(rt)
        .select(lit(-1L).as("lvl"), (col("t") - col("rt")).as("n_nodes"))
        .unionAll(counts)
        .orderBy(col("lvl"))
    },
    Some {
      // every r{k} is referenced three times (f{k+1}, n{k+1}'s NOT IN,
      // r{k+1}) and ed four times: without AS MATERIALIZED DuckDB
      // inlines each reference, re-expanding the orders⋈lineitem edge
      // join ~3^rounds times — at gen-sf2 that plan spilled >75 GB of
      // temp before dying (the q157 lesson, third occurrence; caught
      // by the at-scale oracle sweep, values unchanged)
      val rounds = (1 to 3).map { r =>
        s"""f$r AS MATERIALIZED (
            SELECT DISTINCT ed.u AS v FROM ed
            JOIN r${r - 1} ON ed.v = r${r - 1}.v AND r${r - 1}.lvl = ${r - 1}),
          n$r AS (
            SELECT f$r.v, $r AS lvl FROM f$r
            WHERE f$r.v NOT IN (SELECT v FROM r${r - 1})),
          r$r AS MATERIALIZED (SELECT * FROM r${r - 1} UNION ALL SELECT * FROM n$r)"""
      }.mkString(",\n      ")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ed AS MATERIALIZED (SELECT a AS v, b AS u FROM e0
             UNION ALL SELECT b AS v, a AS u FROM e0),
      r0 AS (SELECT CAST(3 AS BIGINT) AS v, CAST(0 AS BIGINT) AS lvl),
      $rounds,
      counts AS (SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n_nodes
                 FROM r3 GROUP BY 1),
      tot AS (SELECT COUNT(DISTINCT v) AS t FROM ed),
      rt AS (SELECT COUNT(*) AS rt FROM r3)
      SELECT CAST(-1 AS BIGINT) AS lvl, CAST(t - rt AS BIGINT) AS n_nodes
      FROM tot, rt
      UNION ALL SELECT CAST(lvl AS BIGINT), n_nodes FROM counts
      ORDER BY lvl"""
    })

  /** q193 — behavioral-sequence alignment: each user's event history
    * collapses to a string of event-type initials in (ts, event_id)
    * order; candidate user pairs come from a ±3 sorted-neighborhood
    * window on (sequence length, user_id) — q140's linear-candidate
    * discipline, never the |users|² cross — and are scored by exact
    * Levenshtein distance plus a normalized exact-ppm similarity.
    * The behavioral-clustering primitive (bot rings and scripted
    * sessions align suspiciously well); top 20 most-similar pairs.
    * Per-user state is the user's own history (one collapse shuffle);
    * the edit-distance work is bounded by the window width. */
  private val q193 = QueryDef(
    "q193_behavior_alignment",
    (s, dir) => {
      val seq0 = graft.queries.QueryDef.eventsTable(s, dir)
        .select(col("user_id"),
          unix_millis(col("ts")).as("ms"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c"))
        .groupBy(col("user_id"))
        .agg(array_join(expr(
          "transform(sort_array(collect_list(struct(ms, event_id, c))), p -> p.c)"),
          "").as("seq"))
        .select(col("user_id"), col("seq"),
          length(col("seq")).cast(LongType).as("len"))
      // rank via Ids.addContiguousIds (range partition + driver-side
      // partition offsets), neighbor pairs via
      // the two-bucket trick (bucket = own + previous) — the
      // rank-range theta join this replaced planned as a broadcast
      // nested-loop (O(N²) compares, the q149 failure mode), and the
      // row_number() window dragged every user through one partition
      val ranked = graft.operators.Ids.addContiguousIds(seq0,
        Seq(col("len"), col("user_id")), "rk")
      val blk = floor((col("rk") - 1) / 3).cast(LongType)
      val a = ranked.select(col("user_id").as("id_a"), col("seq").as("sa"),
        col("len").as("la"), col("rk").as("ra"),
        explode(array(blk, blk + 1L)).as("probe"))
      val b = ranked.select(col("user_id").as("id_b"), col("seq").as("sb"),
        col("len").as("lb"), col("rk").as("rb"), blk.as("probe"))
      a.join(b, Seq("probe"))
        .filter(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= 3)
        .select(col("id_a"), col("id_b"), col("la"), col("lb"),
          levenshtein(col("sa"), col("sb")).cast(LongType).as("dist"))
        .withColumn("sim_ppm",
          expr("(1000000L * (greatest(la, lb) - dist)) div greatest(la, lb)"))
        .orderBy(col("sim_ppm").desc, col("id_a"), col("id_b"))
        .limit(20)
    },
    Some("""
      WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                 ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) AS seq
        FROM events GROUP BY 1),
      ranked AS (
        SELECT user_id, seq, CAST(length(seq) AS BIGINT) AS len,
               CAST(ROW_NUMBER() OVER (ORDER BY length(seq), user_id)
                 AS BIGINT) AS rk
        FROM seqs),
      pairs AS (
        SELECT a.user_id AS id_a, b.user_id AS id_b, a.len AS la, b.len AS lb,
               CAST(levenshtein(a.seq, b.seq) AS BIGINT) AS dist
        FROM ranked a JOIN ranked b
          ON b.rk > a.rk AND b.rk <= a.rk + 3)
      SELECT id_a, id_b, la, lb, dist,
             CAST((1000000 * (GREATEST(la, lb) - dist)) // GREATEST(la, lb)
               AS BIGINT) AS sim_ppm
      FROM pairs
      ORDER BY sim_ppm DESC, id_a, id_b LIMIT 20"""))

  /** q194 — weekday seasonal indices per event type (the
    * seasonal-naive decomposition a capacity planner runs before
    * anomaly thresholds): index = weekday mean value / overall mean,
    * both means as ratios of exact DECIMAL sums over exact counts,
    * one double division each — so the indices are engine-exact
    * without term rounding. One aggregate per (type, weekday) cell;
    * 35-row output frame. Weekday numbering pinned to ISO (Monday=1)
    * on both engines. */
  private val q194 = QueryDef(
    "q194_seasonal_index",
    (s, dir) => {
      import org.apache.spark.sql.types.DoubleType
      val e = graft.queries.QueryDef.eventsTable(s, dir)
        .select(col("event_type"),
          dayofweek(col("ts")).as("dow0"),
          dec2(col("value")).as("v"))
        // Spark dayofweek: Sunday=1 … map to ISO Monday=1..Sunday=7
        .withColumn("dow", expr("((dow0 + 5) % 7) + 1").cast(LongType))
      val cell = e.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val tot = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("tn"), sum(col("v")).as("tsv"))
      cell.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          ((col("sv").cast(DoubleType) / col("n")) /
            (col("tsv").cast(DoubleType) / col("tn"))).as("seasonal_index"))
        .orderBy(col("event_type"), col("dow"))
    },
    Some("""
      WITH e AS (
        SELECT event_type,
               CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
               CAST(value AS DECIMAL(18, 2)) AS v
        FROM events),
      cell AS (
        SELECT event_type, dow, COUNT(*) AS n, SUM(v) AS sv
        FROM e GROUP BY 1, 2),
      tot AS (
        SELECT event_type, COUNT(*) AS tn, SUM(v) AS tsv
        FROM e GROUP BY 1)
      SELECT event_type, dow, CAST(n AS BIGINT) AS n,
             (CAST(sv AS DOUBLE) / n) / (CAST(tsv AS DOUBLE) / tn)
               AS seasonal_index
      FROM cell JOIN tot USING (event_type)
      ORDER BY event_type, dow"""))

  /** q195 — market-basket frequent pairs with lift (association-rule
    * mining over order baskets): part pairs co-purchased in the same
    * order, support-counted via a within-order self-join (pair mass =
    * Σ C(|basket|, 2) — baskets are small, so this is linear in
    * orders, never |parts|²), ranked by support with lift =
    * P(a,b)/(P(a)·P(b)) computed from exact integer counts scaled to
    * ppm (lift_ppm = co·N·10⁶ div (sa·sb) — one integer expression,
    * no float probabilities). Top 20 by (support, lift); min support
    * 3 kills singleton noise. The token-PMI analog (q82) for the
    * transactional face. */
  private val q195 = QueryDef(
    "q195_basket_pairs",
    (s, dir) => {
      // the basket table feeds three consumers (support + both sides
      // of the pair self-join) — materialize the distinct once
      val items = graft.operators.Checkpoints.truncate(
        table(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
          .distinct())
      val nOrders = table(s, dir, "orders").agg(count(lit(1)).as("n"))
      val supp = items.groupBy(col("part")).agg(count(lit(1)).as("s"))
      // inverted-index pairing MATERIALIZED as such (round-15, the
      // q183 pattern): one hash exchange on ok + per-order sorted part
      // lists + in-stage pair explode, instead of the old a⋈b
      // self-join over the same checkpoint (two sort exchanges + a
      // SortMergeJoin). The explicit keyed repartition feeds the
      // groupBy (exchange reuse) and pins the pair-generation stage
      // wide (exempt from AQE byte-based coalescing — the q140
      // hazard: the pair list is 3 longs/row). `items` is distinct on
      // (ok, part), so per-order parts are unique and each qualifying
      // pair is counted once per order — identical co counts.
      val par = s.sessionState.conf.numShufflePartitions
      val pairs = items.repartition(par, col("ok"))
        .groupBy(col("ok"))
        .agg(sort_array(collect_list(col("part"))).as("ps"))
        .filter(size(col("ps")) > 1)
        .select(explode(col("ps")).as("pa"), col("ps"))
        .select(col("pa"), explode(col("ps")).as("pb"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("co"))
        .filter(col("co") >= 3)
      pairs
        .join(broadcast(supp.select(col("part").as("pa"), col("s").as("sa"))),
          Seq("pa"))
        .join(broadcast(supp.select(col("part").as("pb"), col("s").as("sb"))),
          Seq("pb"))
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("co"), col("sa"), col("sb"),
          expr("(co * n * 1000000L) div (sa * sb)").as("lift_ppm"))
        .orderBy(col("co").desc, col("lift_ppm").desc, col("pa"), col("pb"))
        .limit(20)
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem),
      n AS (SELECT COUNT(*) AS n FROM orders),
      supp AS (SELECT part, COUNT(*) AS s FROM items GROUP BY 1),
      pairs AS (
        SELECT a.part AS pa, b.part AS pb, COUNT(*) AS co
        FROM items a JOIN items b ON a.ok = b.ok AND a.part < b.part
        GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT pa, pb, co, CAST(sa.s AS BIGINT) AS sa, CAST(sb.s AS BIGINT) AS sb,
             CAST((co * n.n * 1000000) // (sa.s * sb.s) AS BIGINT) AS lift_ppm
      FROM pairs
      JOIN supp sa ON pairs.pa = sa.part
      JOIN supp sb ON pairs.pb = sb.part
      CROSS JOIN n
      ORDER BY co DESC, lift_ppm DESC, pa, pb LIMIT 20"""))

  val all: Seq[QueryDef] = Seq(q190, q191, q192, q193, q194, q195)
}
