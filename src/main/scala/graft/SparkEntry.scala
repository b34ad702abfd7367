package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.{ClickHouseDemo, EventsSource}

/** Driver contract; SURVEY.md §2 has the inventory.
  *
  * Every key is declared once, as one [[SparkEntry.Key]] in
  * [[SparkEntry.keys]]: its name, how it builds its DataFrame, and how its
  * answer is checked — a DuckDB [[SparkEntry.Oracle]], the driver's
  * rows-only check with a stated reason, or not at all for a bench-only
  * timing phase. `queries`, `oracleSql`, `Bench.headline` and
  * `Bench.benchQueries` are all derived from that list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Olap.q1Pricing(spark, "/root/testdata/sf0.001")

  /** How the driver checks a key's answer. */
  sealed trait Check

  /** The key's rows must hash-match this DuckDB SQL over the same tables. */
  final case class Oracle(sql: String) extends Check

  /** The driver only checks that rows come back; `reason` says why no SQL
    * replays the answer and which spec pins it instead. */
  final case class RowsOnly(reason: String) extends Check

  /** A timing phase of the bench line, not a driver key: it is in
    * `Bench.benchQueries` but not in [[queries]]. */
  case object BenchOnly extends Check

  /** One key; `build` makes its DataFrame from (session, tables dir). */
  final case class Key(name: String, build: (SparkSession, String) => DataFrame, check: Check) {
    /** `build` behind the one wrapper every key runs through: it first
      * sweeps the PREVIOUS key's tracked caches, so a sequential pass over
      * many keys never strands block-store memory (safe: unpersisted
      * frames recompute lazily). A `val`: each key is wrapped once. */
    val run: (SparkSession, String) => DataFrame = (spark, dir) => {
      GraftSession.sweepCaches(spark)
      build(spark, dir)
    }
  }

  private val tokCte =
    "SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents"

  // doc_id -> pred_lang, the same stopword-vote langId the text_langid /
  // pipeline_train_mix oracles inline; ends with CTE `l(doc_id, pred_lang)`
  private val langCtes =
    s"""WITH t AS ($tokCte),
       |h AS (SELECT doc_id,
       |        len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS hits_en,
       |        len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS hits_de,
       |        len(list_filter(tk, x -> x IN ('le','la','et','est','les'))) AS hits_fr,
       |        len(list_filter(tk, x -> x IN ('el','los','y','es','las'))) AS hits_es
       |      FROM t),
       |l AS (SELECT doc_id,
       |        CASE WHEN hits_en + hits_de + hits_fr + hits_es = 0 THEN 'unknown'
       |             WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
       |             WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
       |             WHEN hits_fr >= hits_es THEN 'fr'
       |             ELSE 'es' END AS pred_lang
       |      FROM h)""".stripMargin

  // 256-bucket reproducible hash from the first two md5 hex digits —
  // the SQL twin of Pipeline.bucket256
  private val bucket256Sql =
    "CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 " +
      "+ strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT)"

  private val shingleCtes =
    s"""WITH tkt AS ($tokCte),
       |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
       |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
       |ex AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS sh FROM sgt WHERE len(sg) > 0),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
       |             any_value(a.n) AS na, any_value(b.n) AS nb
       |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  private val decontaminateSql =
    s"""WITH tkt AS ($tokCte),
       |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
       |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
       |b AS (SELECT doc_id, sg,
       |        CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS bucket
       |      FROM sgt WHERE len(sg) > 0),
       |bench AS (SELECT DISTINCT unnest(sg) AS sh FROM b WHERE bucket = 15),
       |train AS (SELECT doc_id, unnest(sg) AS sh FROM b WHERE bucket <> 15),
       |s AS (SELECT doc_id, count(*) AS n_shared
       |      FROM train JOIN bench USING (sh) GROUP BY doc_id)
       |SELECT b.doc_id, coalesce(n_shared, 0) AS n_shared,
       |  CAST(coalesce(n_shared, 0) = 0 AS BIGINT) AS is_clean
       |FROM b LEFT JOIN s ON b.doc_id = s.doc_id
       |WHERE b.bucket <> 15""".stripMargin

  // acceptance on the EXACT ratio (r11): the rounded column is display-only
  // — mirrors the Spark verifies, whose candidate gates are derived from
  // the exact o >= ceil(t·n) bound (see Dedup.jaccardPairs)
  private def jaccardSql(threshold: String): String =
    s"""$shingleCtes
       |SELECT doc_a, doc_b, round(CAST(c AS DOUBLE) / (na + nb - c), 4) AS jaccard FROM p
       |WHERE CAST(c AS DOUBLE) / (na + nb - c) >= $threshold""".stripMargin

  /** ngram oracle: exact Jaccard over the df <= hard shingle universe,
    * every qualifying pair. Dedup.jaccardPairs reaches the same result via
    * prefix filtering (zero-miss candidate pruning), so the oracle can be
    * the direct definition — shared effective-shingle counts from the
    * plain self-join, effective set sizes from the per-doc count. */
  private def ngramCappedSql: String = {
    val hard = operators.Dedup.ShingleDfHardCap
    s"""WITH tkt AS ($tokCte),
       |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
       |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
       |sgn AS (SELECT doc_id, sg FROM sgt WHERE len(sg) > 0),
       |ex AS (SELECT doc_id, unnest(sg) AS sh FROM sgn),
       |df AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
       |exe AS (SELECT ex.doc_id, ex.sh FROM ex JOIN df ON ex.sh = df.sh
       |        WHERE df.df <= $hard),
       |meta AS (SELECT doc_id, count(*) AS n_eff FROM exe GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |      FROM exe a JOIN exe b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(c AS DOUBLE) / (x.n_eff + y.n_eff - c), 4) AS jaccard
       |FROM p JOIN meta x ON doc_a = x.doc_id JOIN meta y ON doc_b = y.doc_id
       |WHERE CAST(c AS DOUBLE) / (x.n_eff + y.n_eff - c) >= 0.9""".stripMargin
  }

  /** Containment oracle: the direct asymmetric definition over the same
    * df <= hard universe — every DIRECTED pair with |Sa ∩ Sb| / |Sa| >=
    * 0.9. Dedup.containmentPairs reaches it via the contained-side prefix
    * filter (zero-miss), so the oracle is again the plain self-join. */
  private def containmentCappedSql: String = {
    val hard = operators.Dedup.ShingleDfHardCap
    s"""WITH tkt AS ($tokCte),
       |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
       |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
       |sgn AS (SELECT doc_id, sg FROM sgt WHERE len(sg) > 0),
       |ex AS (SELECT doc_id, unnest(sg) AS sh FROM sgn),
       |df AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
       |exe AS (SELECT ex.doc_id, ex.sh FROM ex JOIN df ON ex.sh = df.sh
       |        WHERE df.df <= $hard),
       |meta AS (SELECT doc_id, count(*) AS n_eff FROM exe GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS contained, b.doc_id AS container, count(*) AS c
       |      FROM exe a JOIN exe b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT contained, container, CAST(x.n_eff AS BIGINT) AS na,
       |  round(CAST(c AS DOUBLE) / x.n_eff, 4) AS containment
       |FROM p JOIN meta x ON contained = x.doc_id
       |WHERE CAST(c AS DOUBLE) / x.n_eff >= 0.9""".stripMargin
  }

  /** DuckDB replay of [[operators.Multimodal.dHash]] — the
    * same-arithmetic-both-sides discipline (text_fingerprint precedent)
    * that turns the "rows-only, the hash depends on the decode stub"
    * multimodal keys into full SQL-oracled ones: the stub is a pure
    * function of the utf-8 bytes, and DuckDB can address those bytes as
    * `CAST('0x' || substr(hex(encode(text)), 2*i + 1, 2) AS BIGINT)`.
    * `baseExpr` is the per-frame sampling offset (0 for the still-image
    * hash, `(f // 4) * 97` for video frames); the 64 bit terms accumulate
    * as HUGEINT and wrap to the signed BIGINT Spark's Long holds. Expects
    * CTE columns `h` = hex(encode(text)), `n` = octet_length. */
  private def dhashSumSql(baseExpr: String): String = {
    def byteAt(idx: String) = s"CAST(('0x' || substr(h, 2 * ($idx) + 1, 2)) AS BIGINT)"
    val terms = (0 until 64).map { bit =>
      val cell = (bit / 8) * 9 + (bit % 8)
      val i1 = s"((${cell * 31} + $baseExpr) % n)"
      val i2 = s"((${(cell + 1) * 31} + $baseExpr) % n)"
      s"(CASE WHEN ${byteAt(i2)} > ${byteAt(i1)} THEN ${BigInt(1) << bit}::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString(" + ")
    s"CASE WHEN n = 0 THEN 0::HUGEINT ELSE ($terms) END"
  }

  /** Wraps [[dhashSumSql]]'s unsigned HUGEINT into the signed BIGINT
    * Spark's Long holds (bit 63 set -> negative, two's complement). */
  private val dhashWrapSql: String =
    s"CAST(CASE WHEN s64 >= ${BigInt(1) << 63}::HUGEINT " +
      s"THEN s64 - ${BigInt(1) << 64}::HUGEINT ELSE s64 END AS BIGINT)"

  private val replacingMergeSql =
    """WITH base AS (SELECT o_orderkey, o_orderstatus,
      |                CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
      |                CAST(1 AS BIGINT) AS version
      |              FROM orders),
      |upd AS (SELECT o_orderkey, 'F' AS o_orderstatus, total_cents + 500 AS total_cents,
      |               CAST(2 AS BIGINT) AS version
      |        FROM base WHERE o_orderkey % 10 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
      |SELECT o_orderkey, CAST(max(version) AS BIGINT) AS version,
      |       arg_max(o_orderstatus, version) AS o_orderstatus,
      |       CAST(arg_max(total_cents, version) AS BIGINT) AS total_cents
      |FROM u GROUP BY o_orderkey""".stripMargin

  private val vecCtes =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |nv AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)""".stripMargin

  /** `text_bpe_encode` oracle: the frozen-merge-table encode replayed as
    * a recursive CTE — one merge per recursion step (leftmost occurrence
    * of the min-rank adjacent pair, [[operators.TextAnalysis.bpeStepExpr]]'s
    * exact rule), terminal rows = states where no pair ranks. The merge
    * table renders from the same [[operators.TextAnalysis.bpeMerges]]
    * literal the Spark side uses — one source of truth. */
  private def bpeSql: String = {
    val arms = operators.TextAnalysis.bpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"WHEN '$a $b' THEN ${i + 1}" }.mkString(" ")
    def pr(s: String) =
      s"list_transform(range(1, len($s)), i -> CASE $s[i] || ' ' || $s[i + 1] $arms END)"
    s"""WITH RECURSIVE wds AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |    FROM documents) GROUP BY 1),
       |ch AS (SELECT w, c, list_transform(range(1, length(w) + 1), i -> w[i]) AS syms
       |       FROM wds),
       |enc AS (
       |  SELECT w, c, syms FROM ch
       |  UNION ALL
       |  SELECT w, c,
       |    syms[1:pos - 1] || [syms[pos] || syms[pos + 1]] || syms[pos + 2:] AS syms
       |  FROM (
       |    SELECT w, c, syms, CAST(list_position(pr, best) AS BIGINT) AS pos
       |    FROM (SELECT w, c, syms, pr,
       |            list_min(list_filter(pr, r -> r IS NOT NULL)) AS best
       |          FROM (SELECT w, c, syms, ${pr("syms")} AS pr FROM enc))
       |    WHERE best IS NOT NULL)),
       |fin AS (
       |  SELECT w, c, syms FROM (
       |    SELECT w, c, syms,
       |      list_min(list_filter(${pr("syms")}, r -> r IS NOT NULL)) AS best
       |    FROM enc)
       |  WHERE best IS NULL),
       |tok AS (SELECT w, c, unnest(syms) AS token FROM fin)
       |SELECT token, CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(count(DISTINCT w) AS BIGINT) AS n_words
       |FROM tok GROUP BY 1 ORDER BY n_tokens DESC, token LIMIT 30""".stripMargin
  }

  /** `text_bpe_train` oracle: the N learned merge rounds unrolled — per
    * round, the pair census over the previous round's symbol state
    * (split the `||`-wrapped state string, adjacent pairs weighted by
    * word count), the `(n DESC, a, b)` top-1, and the state advance as
    * ONE `replace('|a||b|' → '|ab|')` — the exact greedy-leftmost
    * merge-all semantics [[operators.TextAnalysis.bpeTrain]]'s scaladoc
    * derives (both engines' replace is non-overlapping left-to-right).
    * Pure string + exact integer semantics, no float anywhere. */
  private def bpeTrainSql(rounds: Int): String = {
    val base =
      """WITH bt_w AS MATERIALIZED (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |    FROM documents)
        |  WHERE regexp_matches(w, '^[a-z0-9]+$')
        |  GROUP BY 1),
        |bt_s0 AS MATERIALIZED (
        |  SELECT c, '||' || array_to_string(
        |      list_transform(range(1, length(w) + 1), i -> w[i]), '||') || '||' AS st
        |  FROM bt_w)""".stripMargin
    val steps = (1 to rounds).map { k =>
      val prev = s"bt_s${k - 1}"
      val pair =
        s"""bt_p$k AS (
           |  SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
           |         CAST(sum(c) AS BIGINT) AS n
           |  FROM (SELECT c, list_filter(string_split(st, '|'), x -> x <> '') AS sy
           |        FROM $prev) s, unnest(range(1, len(sy))) AS u(i)
           |  GROUP BY 1, 2),
           |bt_b$k AS (SELECT a, b, n FROM bt_p$k ORDER BY n DESC, a, b LIMIT 1)""".stripMargin
      // the advanced state is only consumed by the NEXT round's census
      if (k == rounds) pair
      else pair + s""",
           |bt_s$k AS MATERIALIZED (
           |  SELECT c, replace(st,
           |    '|' || (SELECT a FROM bt_b$k) || '||' || (SELECT b FROM bt_b$k) || '|',
           |    '|' || (SELECT a FROM bt_b$k) || (SELECT b FROM bt_b$k) || '|') AS st
           |  FROM $prev)""".stripMargin
    }
    val rows = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, a AS lhs, b AS rhs, " +
        s"a || b AS merged, n FROM bt_b$k")
      .mkString("\nUNION ALL\n")
    (base +: steps).mkString(",\n") + s"\n$rows"
  }

  /** `q_pagerank` oracle: the integer damped-walk recurrence unrolled —
    * iteration k = per-destination inflow aggregate over the shared edge
    * CTE joined to iteration k-1's rank CTE, then the `(15*r0 + 85*in)
    * div 100` update. All operands positive, so DuckDB's flooring `//`
    * equals Spark's truncating `div` everywhere it appears. */
  private def pageRankSql(iters: Int): String = {
    val base =
      """WITH pr_pairs AS (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |pr_ed AS (SELECT c AS src, s AS dst, w FROM pr_pairs
        |          UNION ALL SELECT s AS src, c AS dst, w FROM pr_pairs),
        |pr_dg AS (SELECT src, sum(w) AS wtot FROM pr_ed GROUP BY 1),
        |pr_e AS (SELECT pr_ed.src, pr_ed.dst, pr_ed.w, pr_dg.wtot
        |         FROM pr_ed JOIN pr_dg ON pr_ed.src = pr_dg.src),
        |pr_n AS (SELECT DISTINCT src AS node FROM pr_ed),
        |pr_p AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0 FROM pr_n),
        |it0 AS (SELECT node, (SELECT r0 FROM pr_p) AS r FROM pr_n)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""it$k AS (SELECT n.node,
         |  CAST((15 * (SELECT r0 FROM pr_p) + 85 * coalesce(f.inflow, 0)) // 100 AS BIGINT) AS r
         |  FROM pr_n n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum((r.r * e.w) // e.wtot) AS BIGINT) AS inflow
         |    FROM pr_e e JOIN it${k - 1} r ON e.src = r.node GROUP BY 1) f
         |  ON n.node = f.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |       node // 2 AS node_key, r AS rank_q12
         |FROM it$iters ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** `q_components` oracle: the Large-Star/Small-Star alternation
    * unrolled — per round, the symmetric closure, the neighborhood-min
    * aggregate, the large-star emission (strictly larger neighbors → m),
    * then the small-star re-point of each canonical neighborhood. Set
    * semantics (`DISTINCT`/`UNION`) make both engines carry identical
    * edge sets at every round, so the replay is exact with no numeric
    * contract at all. Every round CTE is `AS MATERIALIZED`: each level
    * references the previous one 2-4 times, so DuckDB's default CTE
    * inlining re-instantiates the base scan exponentially across the 8
    * unrolled rounds (measured: "Too many open files" at fd-limit 20000
    * before the hint, 0.1 s with it) — the mirror of the Spark side's
    * per-round localCheckpoint. */
  private def componentsSql(rounds: Int): String = {
    val base =
      """WITH cc_p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |cc_e0 AS MATERIALIZED (SELECT greatest(c, s) AS u, least(c, s) AS v FROM cc_p WHERE w >= 2)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""cc_sym$k AS MATERIALIZED (SELECT u, v FROM cc_e${k - 1}
         |             UNION ALL SELECT v AS u, u AS v FROM cc_e${k - 1}),
         |cc_lm$k AS MATERIALIZED (SELECT u, least(min(v), u) AS m FROM cc_sym$k GROUP BY u),
         |cc_ls$k AS MATERIALIZED (SELECT DISTINCT s.v AS u, m.m AS v
         |            FROM cc_sym$k s JOIN cc_lm$k m ON s.u = m.u WHERE s.v > s.u),
         |cc_sm$k AS MATERIALIZED (SELECT u, min(v) AS m FROM cc_ls$k GROUP BY u),
         |cc_e$k AS MATERIALIZED (SELECT DISTINCT x.u, x.v FROM (
         |  SELECT l.u AS u, m.m AS v FROM cc_ls$k l JOIN cc_sm$k m ON l.u = m.u
         |  UNION ALL
         |  SELECT l.v AS u, m.m AS v FROM cc_ls$k l JOIN cc_sm$k m ON l.u = m.u
         |  WHERE l.v <> m.m) x)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |, cc_mem AS (
         |  SELECT DISTINCT u AS node, v AS root FROM cc_e$rounds
         |  UNION SELECT DISTINCT v AS node, v AS root FROM cc_e$rounds)
         |SELECT CASE WHEN root % 2 = 0 THEN 'customer' ELSE 'supplier' END AS root_type,
         |       root // 2 AS root_key,
         |       CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
         |       CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
         |FROM cc_mem GROUP BY root
         |ORDER BY n_nodes DESC, root LIMIT 20""".stripMargin
  }

  /** `q_label_prop` oracle: the identical synchronous LPA recurrence,
    * unrolled — per round, the neighbor-label count aggregate and a
    * (count DESC, label ASC) row_number window picking each node's new
    * label; pure integer set semantics, the same pinned tie rule the
    * Spark side's max_by(lbl, struct(c, -lbl)) encodes. Every per-round
    * CTE is MATERIALIZED (the componentsSql lesson: default inlining
    * re-instantiates the recurrence exponentially). */
  private def labelPropSql(rounds: Int): String =
    labelPropCtes(rounds) +
      s"""
         |SELECT CASE WHEN lbl % 2 = 0 THEN 'customer' ELSE 'supplier' END AS label_type,
         |       lbl // 2 AS label_key,
         |       CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
         |       CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
         |FROM lp_l$rounds GROUP BY lbl
         |ORDER BY n_nodes DESC, lbl LIMIT 20""".stripMargin

  /** `q_modularity` oracle: the same unrolled LPA labeling, then the
    * identical exact-BIGINT moments (M, A, S2, community count) and the
    * identical pinned double chain A/M − S2/(M·M), rounded once. */
  private def modularitySql(rounds: Int): String =
    labelPropCtes(rounds) +
      s"""
         |, qm_am AS (SELECT count(*) AS m,
         |         sum(CASE WHEN ls.lbl = ld.lbl THEN 1 ELSE 0 END) AS a
         |       FROM lp_e e JOIN lp_l$rounds ls ON e.src = ls.node
         |                   JOIN lp_l$rounds ld ON e.dst = ld.node),
         |qm_d AS (SELECT src, count(*) AS d FROM lp_e GROUP BY 1),
         |qm_dc AS (SELECT l.lbl, sum(d.d) AS dc
         |          FROM qm_d d JOIN lp_l$rounds l ON d.src = l.node GROUP BY 1),
         |qm_s AS (SELECT sum(dc * dc) AS s2, count(*) AS n_communities FROM qm_dc)
         |SELECT CAST(m AS BIGINT) AS n_directed_edges,
         |       CAST(n_communities AS BIGINT) AS n_communities,
         |       round(CAST(a AS DOUBLE) / CAST(m AS DOUBLE)
         |         - CAST(s2 AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 4)
         |         AS modularity
         |FROM qm_am CROSS JOIN qm_s""".stripMargin

  private def labelPropCtes(rounds: Int): String = {
    val base =
      """WITH lp_p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |lp_e AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM lp_p WHERE w >= 2
        |  UNION ALL SELECT s AS src, c AS dst FROM lp_p WHERE w >= 2),
        |lp_l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM lp_e)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""lp_c$k AS MATERIALIZED (
         |  SELECT e.dst AS node, l.lbl, count(*) AS c
         |  FROM lp_e e JOIN lp_l${k - 1} l ON e.src = l.node GROUP BY 1, 2),
         |lp_l$k AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM lp_c$k) WHERE rn = 1)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** `q_triangles` oracle: the same degree-oriented wedge construction —
    * co-trade projection, (deg, id) edge orientation, wedge self-join,
    * EXISTS against the oriented edge set — in plain SQL. Pure integer
    * set semantics; the quantized clustering coefficient is one flooring
    * division of positive BIGINTs (`//` == Spark `div`). */
  private def trianglesSql: String =
    s"""WITH tr_cs0 AS MATERIALIZED (
      |  SELECT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |tr_cs AS MATERIALIZED (
      |  SELECT s, c FROM tr_cs0 WHERE s IN (
      |    SELECT s FROM tr_cs0 GROUP BY s HAVING count(*) <= ${Graph.CotradeSmax})),
      |tr_e0 AS MATERIALIZED (SELECT DISTINCT x.c AS a, y.c AS b
      |          FROM tr_cs x JOIN tr_cs y ON x.s = y.s AND x.c < y.c),
      |tr_dg AS MATERIALIZED (SELECT n, count(*) AS d FROM (
      |    SELECT a AS n FROM tr_e0 UNION ALL SELECT b AS n FROM tr_e0)
      |  GROUP BY 1),
      |tr_ed AS MATERIALIZED (
      |  SELECT CASE WHEN ga.d < gb.d OR (ga.d = gb.d AND e.a < e.b) THEN e.a ELSE e.b END AS src,
      |         CASE WHEN ga.d < gb.d OR (ga.d = gb.d AND e.a < e.b) THEN e.b ELSE e.a END AS dst,
      |         CASE WHEN ga.d < gb.d OR (ga.d = gb.d AND e.a < e.b) THEN gb.d ELSE ga.d END AS dd
      |  FROM tr_e0 e JOIN tr_dg ga ON e.a = ga.n JOIN tr_dg gb ON e.b = gb.n),
      |tr_tri AS MATERIALIZED (
      |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      |  FROM tr_ed e1 JOIN tr_ed e2
      |    ON e1.src = e2.src AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      |  WHERE EXISTS (SELECT 1 FROM tr_ed e3 WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
      |tr_per AS (SELECT n, count(*) AS n_triangles FROM (
      |    SELECT u AS n FROM tr_tri UNION ALL SELECT v AS n FROM tr_tri
      |    UNION ALL SELECT w AS n FROM tr_tri)
      |  GROUP BY 1)
      |SELECT p.n AS c_custkey, p.n_triangles, g.d AS degree,
      |       (2000000 * p.n_triangles) // (g.d * (g.d - 1)) AS cc_q6
      |FROM tr_per p JOIN tr_dg g ON p.n = g.n
      |ORDER BY p.n_triangles DESC, p.n LIMIT 20""".stripMargin

  /** `q_transitivity` oracle: same projection; the triangle count uses
    * the orientation-free `a<b<c` triple join (each triangle counted
    * once by ordering alone — provably the same count as the Spark
    * side's degree-oriented ownership), the wedge count is the exact
    * `Σ (d·(d−1))//2`, and the single double chain `3.0·T/W` mirrors the
    * Spark operand order with the `W = 0 → 0` case pinned in both. */
  private def transitivitySql: String =
    s"""WITH tv_cs0 AS MATERIALIZED (
      |  SELECT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |tv_cs AS MATERIALIZED (
      |  SELECT s, c FROM tv_cs0 WHERE s IN (
      |    SELECT s FROM tv_cs0 GROUP BY s HAVING count(*) <= ${Graph.CotradeSmax})),
      |tv_e AS MATERIALIZED (SELECT DISTINCT x.c AS a, y.c AS b
      |         FROM tv_cs x JOIN tv_cs y ON x.s = y.s AND x.c < y.c),
      |tv_dg AS (SELECT n, count(*) AS d FROM (
      |    SELECT a AS n FROM tv_e UNION ALL SELECT b AS n FROM tv_e)
      |  GROUP BY 1),
      |tv_t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM tv_e e1 JOIN tv_e e2 ON e1.b = e2.a
      |       JOIN tv_e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tv_m AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |                COALESCE(CAST(sum((d * (d - 1)) // 2) AS BIGINT), 0)
      |                  AS n_wedges
      |         FROM tv_dg),
      |tv_ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM tv_e)
      |SELECT n_nodes, n_edges, n_triangles, n_wedges,
      |       CASE WHEN n_wedges = 0 THEN 0.0
      |            ELSE ROUND(3.0 * CAST(n_triangles AS DOUBLE)
      |                 / CAST(n_wedges AS DOUBLE), 6) END AS transitivity
      |FROM tv_m, tv_ec, tv_t""".stripMargin

  /** `q_triangles_approx` oracle: same projection; the DETERMINISTIC
    * 1/4 hash coin is [[Graph.triCoinSql]] verbatim (exact positive
    * BIGINT arithmetic — Spark `%` == DuckDB `%`), the sampled-subgraph
    * triangle count uses the orientation-free `a<b<c` triple join
    * (provably [[Graph.trianglesApprox]]'s oriented-ownership count),
    * the 64× scale-up is exact BIGINT, and the transitivity estimate is
    * the same single pinned double chain as `q_transitivity`'s. */
  private def trianglesApproxSql: String =
    s"""WITH ta_cs0 AS MATERIALIZED (
       |  SELECT l_suppkey AS s, o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |ta_cs AS MATERIALIZED (
       |  SELECT s, c FROM ta_cs0 WHERE s IN (
       |    SELECT s FROM ta_cs0 GROUP BY s HAVING count(*) <= ${Graph.CotradeSmax})),
       |ta_e AS MATERIALIZED (SELECT DISTINCT x.c AS a, y.c AS b
       |         FROM ta_cs x JOIN ta_cs y ON x.s = y.s AND x.c < y.c),
       |ta_es AS MATERIALIZED (SELECT a, b FROM ta_e
       |  WHERE ${Graph.triCoinSql("a", "b")}),
       |ta_dg AS (SELECT n, count(*) AS d FROM (
       |    SELECT a AS n FROM ta_e UNION ALL SELECT b AS n FROM ta_e)
       |  GROUP BY 1),
       |ta_t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles_sampled
       |  FROM ta_es e1 JOIN ta_es e2 ON e1.b = e2.a
       |       JOIN ta_es e3 ON e3.a = e1.a AND e3.b = e2.b),
       |ta_m AS (SELECT COALESCE(CAST(sum((d * (d - 1)) // 2) AS BIGINT), 0)
       |                  AS n_wedges
       |         FROM ta_dg),
       |ta_ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ta_e),
       |ta_esc AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_sampled FROM ta_es)
       |SELECT n_edges, n_edges_sampled, n_triangles_sampled,
       |       n_triangles_sampled * ${math.pow(Graph.TriSampleDen, 3).toLong} AS t_est,
       |       n_wedges,
       |       CASE WHEN n_wedges = 0 THEN 0.0
       |            ELSE ROUND(3.0 * CAST(n_triangles_sampled
       |                   * ${math.pow(Graph.TriSampleDen, 3).toLong} AS DOUBLE)
       |                 / CAST(n_wedges AS DOUBLE), 6) END AS transitivity_est
       |FROM ta_m, ta_ec, ta_esc, ta_t""".stripMargin

  /** `q_triangles_approx_nodes` oracle: the `q_triangles_approx` CTEs
    * (same projection, same [[operators.Graph.triCoinSql]] deterministic
    * coin, orientation-free `a<b<c` triple join on the sampled edges —
    * provably the oriented-ownership count), then the per-node census
    * (each sampled triangle owned by its three vertices), the declared
    * [[operators.Graph.TriNodeFloor]] sampled-count floor, the exact
    * FULL-projection degree join, and the quantized estimate chain —
    * pure positive-BIGINT arithmetic end to end (`//` == Spark `div`). */
  private def trianglesApproxNodesSql: String = {
    val scale = math.pow(operators.Graph.TriSampleDen, 3).toLong
    s"""WITH tn_cs0 AS MATERIALIZED (
       |  SELECT l_suppkey AS s, o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |tn_cs AS MATERIALIZED (
       |  SELECT s, c FROM tn_cs0 WHERE s IN (
       |    SELECT s FROM tn_cs0 GROUP BY s HAVING count(*) <= ${operators.Graph.CotradeSmax})),
       |tn_e AS MATERIALIZED (SELECT DISTINCT x.c AS a, y.c AS b
       |         FROM tn_cs x JOIN tn_cs y ON x.s = y.s AND x.c < y.c),
       |tn_es AS MATERIALIZED (SELECT a, b FROM tn_e
       |  WHERE ${operators.Graph.triCoinSql("a", "b")}),
       |tn_dg AS (SELECT n, count(*) AS d FROM (
       |    SELECT a AS n FROM tn_e UNION ALL SELECT b AS n FROM tn_e)
       |  GROUP BY 1),
       |tn_tri AS MATERIALIZED (
       |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
       |  FROM tn_es e1 JOIN tn_es e2 ON e1.b = e2.a
       |       JOIN tn_es e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tn_per AS (SELECT n, CAST(count(*) AS BIGINT) AS t_sampled FROM (
       |    SELECT u AS n FROM tn_tri UNION ALL SELECT v AS n FROM tn_tri
       |    UNION ALL SELECT w AS n FROM tn_tri)
       |  GROUP BY 1)
       |SELECT p.n AS c_custkey, p.t_sampled, p.t_sampled * $scale AS t_est,
       |       g.d AS degree,
       |       (2000000 * p.t_sampled * $scale) // (g.d * (g.d - 1)) AS cc_est_q6
       |FROM tn_per p JOIN tn_dg g ON p.n = g.n
       |WHERE p.t_sampled >= ${operators.Graph.TriNodeFloor}
       |ORDER BY p.t_sampled DESC, p.n LIMIT 20""".stripMargin
  }

  /** `text_bpe_apply` oracle: the `text_bpe_train` unrolled round CTEs
    * (pair census over the previous state, `(n DESC, a, b)` top-1, ONE
    * greedy-leftmost `replace` advance — here carrying `w` so the final
    * histogram can count distinct words, and materializing EVERY state
    * including the last), then the final state tokenized: split on `|`,
    * unnest, the top-30 token histogram in `text_bpe_encode`'s output
    * shape. Pure string + exact integer semantics, no float anywhere. */
  private def bpeApplySql(rounds: Int): String = {
    val base =
      """WITH ba_w AS MATERIALIZED (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |    FROM documents)
        |  WHERE regexp_matches(w, '^[a-z0-9]+$')
        |  GROUP BY 1),
        |ba_s0 AS MATERIALIZED (
        |  SELECT w, c, '||' || array_to_string(
        |      list_transform(range(1, length(w) + 1), i -> w[i]), '||') || '||' AS st
        |  FROM ba_w)""".stripMargin
    val steps = (1 to rounds).map { k =>
      val prev = s"ba_s${k - 1}"
      s"""ba_p$k AS (
         |  SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
         |         CAST(sum(c) AS BIGINT) AS n
         |  FROM (SELECT c, list_filter(string_split(st, '|'), x -> x <> '') AS sy
         |        FROM $prev) s, unnest(range(1, len(sy))) AS u(i)
         |  GROUP BY 1, 2),
         |ba_b$k AS (SELECT a, b FROM ba_p$k ORDER BY n DESC, a, b LIMIT 1),
         |ba_s$k AS MATERIALIZED (
         |  SELECT w, c, replace(st,
         |    '|' || (SELECT a FROM ba_b$k) || '||' || (SELECT b FROM ba_b$k) || '|',
         |    '|' || (SELECT a FROM ba_b$k) || (SELECT b FROM ba_b$k) || '|') AS st
         |  FROM $prev)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT token, CAST(sum(c) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT w) AS BIGINT) AS n_words
         |FROM (SELECT w, c,
         |        unnest(list_filter(string_split(st, '|'), x -> x <> '')) AS token
         |      FROM ba_s$rounds)
         |GROUP BY 1 ORDER BY n_tokens DESC, token LIMIT 30""".stripMargin
  }

  /** `q_link_predict` oracle: same projection + degrees; the wedge
    * self-join over the dmax-capped adjacency, the exact
    * `1e6 // d(z)` BIGINT weight sum per candidate pair, NOT EXISTS
    * against the edge set, (score DESC, u, v) top-20 — pure integer
    * semantics end to end. */
  private def linkPredictSql(dmax: Int): String =
    s"""WITH lp_cs0 AS MATERIALIZED (
       |  SELECT l_suppkey AS s, o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |lp_cs AS MATERIALIZED (
       |  SELECT s, c FROM lp_cs0 WHERE s IN (
       |    SELECT s FROM lp_cs0 GROUP BY s HAVING count(*) <= ${Graph.CotradeSmax})),
       |lp_e AS MATERIALIZED (SELECT DISTINCT x.c AS a, y.c AS b
       |         FROM lp_cs x JOIN lp_cs y ON x.s = y.s AND x.c < y.c),
       |lp_dg AS (SELECT n, count(*) AS d FROM (
       |    SELECT a AS n FROM lp_e UNION ALL SELECT b AS n FROM lp_e)
       |  GROUP BY 1),
       |lp_adj AS MATERIALIZED (
       |  SELECT e.z, e.x, g.d
       |  FROM (SELECT a AS z, b AS x FROM lp_e
       |        UNION ALL SELECT b AS z, a AS x FROM lp_e) e
       |  JOIN lp_dg g ON e.z = g.n WHERE g.d <= $dmax),
       |lp_sc AS (
       |  SELECT p.x AS u, q.x AS v, CAST(sum(1000000 // p.d) AS BIGINT) AS ra_q6
       |  FROM lp_adj p JOIN lp_adj q ON p.z = q.z AND p.x < q.x
       |  GROUP BY 1, 2)
       |SELECT u AS cust_a, v AS cust_b, ra_q6 FROM lp_sc
       |WHERE NOT EXISTS (SELECT 1 FROM lp_e WHERE a = u AND b = v)
       |ORDER BY ra_q6 DESC, u, v LIMIT 20""".stripMargin

  /** `q_hits` oracle: the weighted HITS recurrence unrolled — per
    * iteration an authority half-step (in-edge `Σ h·w` + `raw·M // tot`
    * L1 normalization) then the mirrored hub half-step. All operands
    * positive BIGINTs, so the replay is exact. Every raw CTE is `AS
    * MATERIALIZED`: each is referenced twice (scores + its own L1
    * total), so DuckDB's default inlining doubles the evaluation tree
    * per half-step — the exact SQL mirror of the Spark side's
    * cache-the-raw-aggregate discipline (2^(2·iters) blowup without
    * it). */
  private def hitsSql(iters: Int): String = {
    val m = 1000000000L
    val base =
      s"""WITH ht_e AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS s, count(*) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
         |ht_c AS (SELECT DISTINCT c FROM ht_e),
         |ht_h0 AS MATERIALIZED (SELECT c, CAST($m // (SELECT count(*) FROM ht_c) AS BIGINT) AS h FROM ht_c)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""ht_ar$k AS MATERIALIZED (SELECT e.s, CAST(sum(h.h * e.w) AS BIGINT) AS raw
         |  FROM ht_e e JOIN ht_h${k - 1} h ON e.c = h.c GROUP BY 1),
         |ht_a$k AS MATERIALIZED (SELECT s, CAST((raw * $m) // (SELECT sum(raw) FROM ht_ar$k) AS BIGINT) AS a
         |  FROM ht_ar$k),
         |ht_hr$k AS MATERIALIZED (SELECT e.c, CAST(sum(a.a * e.w) AS BIGINT) AS raw
         |  FROM ht_e e JOIN ht_a$k a ON e.s = a.s GROUP BY 1),
         |ht_h$k AS MATERIALIZED (SELECT c, CAST((raw * $m) // (SELECT sum(raw) FROM ht_hr$k) AS BIGINT) AS h
         |  FROM ht_hr$k)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT side, node_key, score_q9 FROM (
         |  SELECT 'authority' AS side, s AS node_key, a AS score_q9
         |  FROM ht_a$iters ORDER BY a DESC, s LIMIT 10)
         |UNION ALL
         |SELECT side, node_key, score_q9 FROM (
         |  SELECT 'hub' AS side, c AS node_key, h AS score_q9
         |  FROM ht_h$iters ORDER BY h DESC, c LIMIT 10)""".stripMargin
  }

  /** `q_seed_distance` oracle: the capped BFS min-distance recurrence
    * unrolled — per round, propagate frontier+1 over the symmetric edge
    * set, union the previous table, take the per-node min. Every round
    * CTE is `AS MATERIALIZED` (referenced twice per round — the same
    * inlining blowup hitsSql documents). */
  private def seedDistanceSql(rounds: Int): String = {
    val base =
      """WITH sd_p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |sd_e AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM sd_p WHERE w >= 2
        |  UNION ALL SELECT s AS src, c AS dst FROM sd_p WHERE w >= 2),
        |sd_n AS MATERIALIZED (SELECT DISTINCT src AS node FROM sd_e),
        |sd_d0 AS MATERIALIZED (
        |  SELECT node, CAST(0 AS BIGINT) AS d
        |  FROM (SELECT node FROM sd_n ORDER BY node LIMIT 3))""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""sd_d$k AS MATERIALIZED (
         |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
         |    SELECT e.dst AS node, p.d + 1 AS d
         |    FROM sd_e e JOIN sd_d${k - 1} p ON e.src = p.node
         |    UNION ALL SELECT node, d FROM sd_d${k - 1})
         |  GROUP BY 1)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT coalesce(d.d, -1) AS dist,
         |       CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(sum(CASE WHEN n.node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
         |       CAST(sum(CASE WHEN n.node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
         |FROM sd_n n LEFT JOIN sd_d$rounds d ON n.node = d.node
         |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** `q_kcore` oracle: the k=3 peel unrolled — per round, survivors =
    * sources with degree ≥ 3, edges = both endpoints surviving; the
    * profile unions one count row per round. Pure set semantics; every
    * round CTE `AS MATERIALIZED` (each is referenced three times — the
    * hitsSql inlining note). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val base =
      """WITH kc_p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |kc_e0 AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM kc_p WHERE w >= 2
        |  UNION ALL SELECT s AS src, c AS dst FROM kc_p WHERE w >= 2)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""kc_k$r AS MATERIALIZED (
         |  SELECT src FROM kc_e${r - 1} GROUP BY src HAVING count(*) >= $k),
         |kc_e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM kc_e${r - 1} e
         |  WHERE e.src IN (SELECT src FROM kc_k$r)
         |    AND e.dst IN (SELECT src FROM kc_k$r))""".stripMargin
    }
    val profile = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM kc_e$r) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM kc_e$r) AS n_directed_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    (base +: steps).mkString(",\n") + "\n" + profile + "\nORDER BY round"
  }

  /** `pipeline_classifier_filter` oracle: the fixed-point distillation
    * loop unrolled as integer CTEs — per epoch a per-doc z aggregate over
    * the hashed-dim occurrence stream (LEFT JOIN to the epoch's weight
    * table), the hard sigmoid (floor division of the possibly-negative z
    * via the truncated-mod identity both engines share), a per-dim
    * gradient aggregate, and the ROUND-HALF-UP weight update; scoring
    * joins the Polyak sum of the iterates; selection is the top-n/5
    * rank. DuckDB HUGEINT sums CAST back down everywhere; no float
    * enters the loop, so replay is exact by construction. */
  private def classifierSql(iters: Int): String = {
    // floor division for a possibly-negative dividend and positive divisor
    def fd(a: String, b: String) =
      s"CAST((($a) - (((($a) % ($b)) + ($b)) % ($b))) // ($b) AS BIGINT)"
    // round-half-up division: floor((2a + b) / 2b)
    def rdiv(a: String, b: String) = fd(s"2*($a) + ($b)", s"2*($b)")
    val head =
      s"""WITH t AS ($tokCte),
         |d AS (SELECT doc_id,
         |        CASE WHEN n_tok > 0 AND least(CAST(10000 AS BIGINT), n_tok * 100)
         |               * (10000 - (n_stop * 10000) // greatest(n_tok, 1)) >= 50000000
         |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         |      FROM (SELECT doc_id,
         |              CAST(coalesce(len(tk), 0) AS BIGINT) AS n_tok,
         |              CAST(coalesce(len(list_filter(tk, x -> x IN ('the','a','of','and','in','to','is'))), 0) AS BIGINT) AS n_stop
         |            FROM t)),
         |occ AS (SELECT doc_id, CAST(((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
         |              + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) % 256 AS BIGINT) AS dim
         |        FROM (SELECT doc_id, unnest(list_concat(tk,
         |                [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])) AS tok FROM t)
         |        UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) FROM documents),
         |nn AS (SELECT count(*) AS n FROM documents),
         |w0 AS (SELECT CAST(NULL AS BIGINT) AS dim, CAST(NULL AS BIGINT) AS w6 WHERE 1 = 0)""".stripMargin
    val epochs = (1 to iters).map { k =>
      s"""z$k AS (SELECT d.doc_id, d.y, CAST(coalesce(sum(w6), 0) AS BIGINT) AS z
         |       FROM d JOIN occ USING (doc_id) LEFT JOIN w${k - 1} USING (dim)
         |       GROUP BY d.doc_id, d.y),
         |e$k AS (SELECT doc_id, greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT),
         |          ${fd("z", "4")} + 500000)) - y*1000000 AS err6
         |       FROM z$k),
         |g$k AS (SELECT dim, CAST(sum(err6) AS BIGINT) AS g
         |       FROM occ JOIN e$k USING (doc_id) GROUP BY dim),
         |w$k AS (SELECT dim, CAST(coalesce(wp.w6, 0) - ${rdiv("5 * g", "10 * n")} AS BIGINT) AS w6
         |       FROM g$k LEFT JOIN w${k - 1} wp USING (dim) CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to iters).map(k => s"SELECT * FROM w$k").mkString(" UNION ALL ")
    s"""$head,
       |$epochs,
       |ws AS (SELECT dim, CAST(sum(w6) AS BIGINT) AS w6 FROM ($unions) GROUP BY dim),
       |sc AS (SELECT d.doc_id, d.y, CAST(coalesce(sum(w6), 0) AS BIGINT) AS score6
       |       FROM d JOIN occ USING (doc_id) LEFT JOIN ws USING (dim)
       |       GROUP BY d.doc_id, d.y),
       |r AS (SELECT doc_id, y, score6,
       |        row_number() OVER (ORDER BY score6 DESC, doc_id) AS rn FROM sc)
       |SELECT doc_id, y AS label, score6,
       |       CASE WHEN rn <= (SELECT n // 5 FROM nn) THEN CAST(1 AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END AS kept
       |FROM r""".stripMargin
  }

  /** Exact cosine top-5 per query — the shared oracle for ann_topk AND
    * the exhaustive-probe index configs (ann_lsh probe-all, ann_ivf
    * nprobe=cells), whose candidate sets provably cover the corpus. */
  private val annExactSql =
    s"""$vecCtes,
       |q AS (SELECT vec_id AS q_id, v AS va, nrm AS nrma FROM nv WHERE vec_id < 10),
       |c AS (SELECT vec_id AS n_id, v AS vb, nrm AS nrmb FROM nv WHERE vec_id >= 10),
       |s AS (SELECT q_id, n_id,
       |        list_sum(list_transform(va, (x, i) -> x * vb[i])) / (nrma * nrmb) AS cosine
       |      FROM c, q)
       |SELECT q_id, n_id, round(cosine, 4) AS score,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(cosine, 6) DESC, n_id) AS BIGINT) AS rnk
       |FROM s QUALIFY rnk <= 5""".stripMargin

  private val sessionWindowSql: String =
    """WITH e AS (SELECT user_id, event_id, value,
      |                  CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
      |m AS (SELECT user_id, event_id, value, t,
      |        CASE WHEN lag(t) OVER w IS NULL
      |             OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |s AS (SELECT user_id, value, t,
      |        sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM m)
      |SELECT user_id, min(t) AS start_s, max(t) + 1800 AS end_s,
      |       count(*) AS n_events, round(CAST(sum(value) AS DOUBLE), 4) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** The DLT reservoir oracle — shared verbatim by `q_reservoir` and
    * `streaming_reservoir`: priorities are deterministic and the top-k is
    * order-insensitive, so the streamed state must converge to exactly
    * this batch sample. */
  private def reservoirSql: String =
    s"""WITH rs AS (SELECT lang, doc_id, n_chars,
       |    (n_chars * 16777216) // (CAST(('0x' || substr(
       |       md5('rsv' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 1)
       |      AS priority
       |  FROM documents),
       |rk AS (SELECT lang, doc_id, n_chars, priority,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY priority DESC, doc_id) AS rn
       |  FROM rs),
       |th AS (SELECT lang, priority AS tau FROM rk
       |       WHERE rn = ${operators.Pipeline.ReservoirK} + 1)
       |SELECT rk.lang, doc_id, n_chars, priority,
       |       GREATEST(n_chars, CAST(COALESCE(tau, 0) AS BIGINT)) AS w_est
       |FROM rk LEFT JOIN th ON rk.lang = th.lang
       |WHERE rn <= ${operators.Pipeline.ReservoirK}""".stripMargin

  /** Every key once, in the order the bench line times them. Each comment
    * says why the key's oracle is shaped as it is, or what its timing
    * covers. Declared below the SQL helpers: an object's vals initialise
    * top to bottom, so an oracle interpolating a helper declared further
    * down would read `null`. */
  val keys: Seq[Key] = Seq(
    Key("q1_pricing", Olap.q1Pricing, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |round(CAST(sum(l_quantity) AS DOUBLE), 4) AS sum_qty,
        |CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
        |CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
        |CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_charge,
        |round(avg(l_quantity), 4) AS avg_qty,
        |round(avg(l_extendedprice), 4) AS avg_price,
        |round(avg(l_discount), 4) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= DATE '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Key("q3_shipping", Olap.q3Shipping, Oracle(
      """SELECT l_orderkey, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
        |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Key("q5_region_revenue", Olap.q5RegionRevenue, Oracle(
      """SELECT n_name, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name""".stripMargin)),
    Key("q_top_customers", Olap.topCustomers, Oracle(
      """WITH spend AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_spent,
        |                      count(*) AS n_orders
        |               FROM orders GROUP BY o_custkey)
        |SELECT CAST(row_number() OVER (ORDER BY total_spent DESC, c_custkey) AS BIGINT) AS rnk,
        |       c_custkey, c_name, total_spent, n_orders
        |FROM spend JOIN customer ON o_custkey = c_custkey
        |QUALIFY rnk <= 20""".stripMargin)),
    Key("attendance_daily", RefPipeline.attendanceDaily, Oracle(
      """WITH g AS (SELECT CAST(ts AS DATE) AS day, extract(hour FROM ts) AS hr, event_type,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2, 3)
        |SELECT day, event_type, max(n) AS max_n, min(n) AS min_n, round(avg(n), 4) AS avg_n
        |FROM g GROUP BY day, event_type""".stripMargin)),
    Key("sessionize", RefPipeline.sessionize, Oracle(
      """WITH e AS (SELECT user_id, event_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS t
        |           FROM events),
        |m AS (SELECT user_id, event_id, value, t,
        |        CASE WHEN lag(t) OVER w IS NULL
        |             OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT user_id, value, t,
        |        sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_no
        |      FROM m)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
        |       min(t) AS start_s, max(t) AS end_s, round(CAST(sum(value) AS DOUBLE), 4) AS total_value
        |FROM s GROUP BY user_id, session_no""".stripMargin)),
    Key("q_asof_join", Analytics.asofJoin, Oracle(
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT event_id, user_id, event_type,
        |        last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_error_id
        |      FROM e)
        |SELECT event_id, user_id, prev_error_id FROM m WHERE event_type = 'purchase'""".stripMargin)),
    Key("dedup_minhash_lsh", Dedup.minhashLsh, Oracle(jaccardSql("0.8"))),
    Key("dedup_ngram_jaccard", Dedup.ngramJaccard, Oracle(ngramCappedSql)),
    Key("dedup_embedding", (s, d) => Dedup.embeddingCosine(s, d), Oracle(
      s"""$vecCtes
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_sum(list_transform(a.v, (x, i) -> x * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
         |FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         |WHERE round(list_sum(list_transform(a.v, (x, i) -> x * b.v[i])) / (a.nrm * b.nrm), 4) >= 0.42""".stripMargin)),
    Key("dedup_simhash", Dedup.simhash, RowsOnly(
      "the 64-bit SimHash comes from the native simhash64 expression, which " +
        "DuckDB cannot replay; DedupSpec checks the pairs against the MinHash " +
        "candidates")),
    Key("ann_topk", Similarity.topK, Oracle(annExactSql)),
    Key("text_quality", TextAnalysis.quality, Oracle(
      s"""WITH t AS ($tokCte),
         |m AS (SELECT doc_id, len(tk) AS n_tok,
         |        len(list_filter(tk, x -> x IN ('the','a','of','and','in','to','is'))) AS n_stop,
         |        CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS sum_len
         |      FROM t)
         |SELECT doc_id, n_tok AS n_tokens,
         |  CASE WHEN n_tok > 0 THEN round(sum_len / CAST(n_tok AS DOUBLE), 4) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN n_tok > 0 THEN round(n_stop / CAST(n_tok AS DOUBLE), 4) ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN n_tok > 0 THEN round(least(1.0, CAST(n_tok AS DOUBLE) / 100.0) *
         |         (1.0 - n_stop / CAST(n_tok AS DOUBLE)), 4) ELSE 0.0 END AS quality_score
         |FROM m""".stripMargin)),
    Key("text_fingerprint", TextAnalysis.fingerprint, Oracle(
      s"""WITH t AS ($tokCte)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(tk, (x, i) -> i * (length(x) * 17 + ascii(x)))) AS BIGINT) AS fp
         |FROM t""".stripMargin)),
    Key("q_argmax", Analytics.argMax, Oracle(
      """WITH r AS (SELECT event_type, value, event_id,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY value DESC, event_id DESC) AS rn
        |           FROM events)
        |SELECT event_type, round(value, 4) AS max_value, event_id AS argmax_event
        |FROM r WHERE rn = 1""".stripMargin)),
    Key("q_retention", Analytics.retention, Oracle(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, ts FROM events),
        |f AS (SELECT user_id, min(tus) AS t0, CAST(min(ts) AS DATE) AS cohort_day
        |      FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |fl AS (SELECT e.user_id, any_value(f.cohort_day) AS cohort_day,
        |         max(CASE WHEN e.tus > f.t0 AND e.tus <= f.t0 + 86400000000 THEN 1 ELSE 0 END) AS r1,
        |         max(CASE WHEN e.tus > f.t0 AND e.tus <= f.t0 + 604800000000 THEN 1 ELSE 0 END) AS r7,
        |         max(CASE WHEN e.event_type = 'purchase' AND e.tus > f.t0
        |                  AND e.tus <= f.t0 + 604800000000 THEN 1 ELSE 0 END) AS p7
        |       FROM e JOIN f ON e.user_id = f.user_id GROUP BY e.user_id)
        |SELECT cohort_day, count(*) AS n_users, CAST(sum(r1) AS BIGINT) AS returned_1d,
        |       CAST(sum(r7) AS BIGINT) AS returned_7d, CAST(sum(p7) AS BIGINT) AS purchased_7d
        |FROM fl GROUP BY cohort_day""".stripMargin)),
    Key("q_window_funnel", Analytics.windowFunnel, Oracle(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |s1 AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.tus > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.tus) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.tus > s2.t2 GROUP BY e.user_id),
        |lvl AS (SELECT s1.user_id,
        |          CASE WHEN s3.t3 IS NOT NULL AND s3.t3 <= s1.t1 + 604800000000 THEN 3
        |               WHEN s2.t2 IS NOT NULL AND s2.t2 <= s1.t1 + 604800000000 THEN 2
        |               ELSE 1 END AS funnel_level
        |        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |                LEFT JOIN s3 ON s1.user_id = s3.user_id)
        |SELECT CAST(funnel_level AS BIGINT) AS funnel_level, count(*) AS n_users
        |FROM lvl GROUP BY funnel_level""".stripMargin)),
    Key("dedup_normalized", Dedup.normalized, Oracle(
      s"""WITH t AS ($tokCte)
         |SELECT md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS bag_hash,
         |       count(*) AS n_docs, min(doc_id) AS keep_id
         |FROM t GROUP BY 1""".stripMargin)),
    Key("q_pivot", Olap.pivotPriorities, Oracle(
      """SELECT o_orderstatus AS status,
        |  CAST(sum(CAST(round(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) / 100.0 AS p_urgent,
        |  CAST(sum(CAST(round(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) / 100.0 AS p_high,
        |  CAST(sum(CAST(round(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) / 100.0 AS p_medium,
        |  CAST(sum(CAST(round(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) / 100.0 AS p_notspec,
        |  CAST(sum(CAST(round(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) / 100.0 AS p_low
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),
    Key("q_cube", Olap.ordersCube, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)),
    Key("q_histogram", Analytics.histogram, Oracle(
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |       round(CAST(floor(value / 50.0) AS BIGINT) * 50.0, 4) AS lo,
        |       count(*) AS n, round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
        |FROM events GROUP BY 1""".stripMargin)),
    Key("text_tfidf", TextAnalysis.tfidfTop, Oracle(
      s"""WITH t AS ($tokCte),
         |tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |        tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
         |      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY round(score, 6) DESC, term) AS rn FROM s)
         |SELECT doc_id, term AS top_term, tf, df, round(score, 4) AS tfidf FROM r WHERE rn = 1""".stripMargin)),
    Key("dedup_clusters", Dedup.clusters, Oracle(
      s"""WITH RECURSIVE tkt AS ($tokCte),
         |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
         |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
         |ex AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS sh FROM sgt WHERE len(sg) > 0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         |             any_value(a.n) AS na, any_value(b.n) AS nb
         |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |e0 AS (SELECT doc_a, doc_b FROM p
         |       WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.8),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM e0
         |      UNION SELECT doc_b, doc_a FROM e0),
         |reach(a, b) AS (SELECT a, b FROM e
         |                UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a""".stripMargin)),
    Key("pipeline_clean_corpus", Pipeline.cleanCorpus, Oracle(
      s"""WITH RECURSIVE tkt AS ($tokCte),
         |m AS (SELECT doc_id, len(tk) AS n_tok,
         |        len(list_filter(tk, x -> x IN ('the','a','of','and','in','to','is'))) AS n_stop
         |      FROM tkt),
         |q AS (SELECT doc_id, n_tok AS n_tokens,
         |        CASE WHEN n_tok > 0 THEN round(least(1.0, CAST(n_tok AS DOUBLE) / 100.0) *
         |               (1.0 - n_stop / CAST(n_tok AS DOUBLE)), 4) ELSE 0.0 END AS quality_score
         |      FROM m),
         |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
         |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
         |ex AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS sh FROM sgt WHERE len(sg) > 0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         |             any_value(a.n) AS na, any_value(b.n) AS nb
         |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |e0 AS (SELECT doc_a, doc_b FROM p
         |       WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.8),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM e0
         |      UNION SELECT doc_b, doc_a FROM e0),
         |reach(a, b) AS (SELECT a, b FROM e
         |                UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
         |nonrep AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         |SELECT doc_id, n_tokens, quality_score FROM q
         |WHERE quality_score >= 0.2 AND doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin)),
    // the checked ANN keys run their exhaustive calibration configs (probe
    // all buckets / all cells, rerank unbounded): every index stage still
    // runs — hashing, bucket equi-joins, centroid assignment, codebooks, ADC
    // scoring, rerank — yet the result provably equals brute force, so they
    // share ann_topk's exact-top-k oracle. The pruned production configs are
    // the *_pruned bench phases; their recall floors live in SimilaritySpec
    Key("ann_lsh", (s, d) => Similarity.lshTopK(s, d, probeAll = true), Oracle(annExactSql)),
    // exhaustive calibration config (nprobe = all 8 cells); ann_topk's oracle
    Key("ann_ivf", (s, d) => Similarity.ivfTopK(s, d, nprobe = 8), Oracle(annExactSql)),
    // the streaming MV run as a checked key; its timing includes the stream
    Key("streaming_points_by_type", RefPipeline.streamingPointsByType, Oracle(
      """SELECT event_type, round(CAST(sum(value) AS DOUBLE), 4) AS total_points, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),
    Key("q_semi_join", Olap.customersWithUrgentOrders, Oracle(
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin)),
    Key("q_distinct_users", Analytics.distinctUsers, Oracle(
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin)),
    Key("q_moving_sum", Analytics.movingSum, Oracle(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, round(CAST(sum(value) AS DOUBLE), 4) AS daily
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, day, daily,
        |  round(CAST(sum(daily) OVER (PARTITION BY event_type ORDER BY day
        |                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS sum_7d,
        |  count(*) OVER (PARTITION BY event_type ORDER BY day
        |                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_7d
        |FROM d""".stripMargin)),
    // pays the colocated layout write so that wh_colocated_join, which
    // follows, times ONLY the exchange-free join (a 1-row marker for the
    // count() harness)
    Key("wh_bucketize_write", (s, d) => {
      Warehouse.bucketizeOrders(s, d, buckets = 8, prefix = "whq")
      s.range(1).toDF("ok")
    }, BenchOnly),
    // reuses wh_bucketize_write's layout: the timing is the exchange-free
    // join alone
    Key("wh_colocated_join", Warehouse.colocatedRevenue, Oracle(
      """SELECT o_orderpriority, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),
    Key("q_ntile", Analytics.spendQuartiles, Oracle(
      """WITH s AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_spent
        |           FROM orders GROUP BY 1),
        |q AS (SELECT total_spent,
        |        CAST(ntile(4) OVER (ORDER BY total_spent DESC, o_custkey) AS BIGINT) AS quartile
        |      FROM s)
        |SELECT quartile, count(*) AS n_customers, CAST(sum(CAST(round(total_spent * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
        |FROM q GROUP BY quartile""".stripMargin)),
    Key("multimodal_audio_windows", Multimodal.audioWindows, Oracle(
      """WITH m AS (SELECT doc_id,
        |             CAST(octet_length(encode(text)) AS BIGINT) // 2 AS n_samples
        |           FROM documents),
        |w AS (SELECT doc_id, n_samples, 1 + (n_samples - 80) // 40 AS n_windows
        |      FROM m WHERE n_samples >= 80)
        |SELECT doc_id, n_samples,
        |       unnest([i * 40 for i in range(0, CAST(n_windows AS INT))]) AS start_sample
        |FROM w""".stripMargin)),
    Key("jdbc_sink_roundtrip", RefPipeline.jdbcPointsRoundtrip, Oracle(
      """SELECT event_type, round(CAST(sum(value) AS DOUBLE), 4) AS total_points, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),
    Key("text_repetition", TextAnalysis.repetition, Oracle(
      s"""WITH t AS ($tokCte),
         |t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
         |uc AS (SELECT doc_id, u, count(*) AS f
         |       FROM (SELECT doc_id, unnest(tk) AS u FROM t2) GROUP BY 1, 2),
         |ua AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens, count(*) AS n_uniq_tokens,
         |              CAST(max(f) AS BIGINT) AS top_tokens_cf
         |       FROM uc GROUP BY doc_id),
         |bc AS (SELECT doc_id, u, count(*) AS f
         |       FROM (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS u
         |             FROM t2) GROUP BY 1, 2),
         |ba AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_bigrams, count(*) AS n_uniq_bigrams,
         |              CAST(max(f) AS BIGINT) AS top_bigrams_cf
         |       FROM bc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_uniq_tokens, top_tokens_cf,
         |  round((n_tokens - n_uniq_tokens) / CAST(n_tokens AS DOUBLE), 4) AS dup_token_ratio,
         |  n_bigrams, n_uniq_bigrams, top_bigrams_cf,
         |  round((n_bigrams - n_uniq_bigrams) / CAST(n_bigrams AS DOUBLE), 4) AS dup_bigram_ratio
         |FROM ua JOIN ba USING (doc_id)""".stripMargin)),
    Key("q_corr", Analytics.corrStats, Oracle(
      """WITH g AS (SELECT l_returnflag, count(*) AS n,
        |             sum(CAST(round(l_quantity) AS BIGINT)) AS sx,
        |             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
        |             sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS sxx,
        |             sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
        |             sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |        (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        |    AS corr_qty_price,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS covar_pop_cents,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
        |    AS slope_cents_per_qty,
        |  round((CAST(sy AS DOUBLE) -
        |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept_cents
        |FROM g""".stripMargin)),
    Key("pipeline_decontaminate", Pipeline.decontaminate, Oracle(decontaminateSql)),
    Key("text_pii_redact", TextAnalysis.pii, Oracle {
      // the regexes are written in the Java/RE2 common subset; DuckDB
      // string literals do not process backslashes, so the Scala-level
      // pattern interpolates verbatim
      val (e, p, i) = (TextAnalysis.EmailRe, TextAnalysis.PhoneRe, TextAnalysis.IpRe)
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$i')) AS BIGINT) AS n_ips,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$i', '<IP>', 'g')) AS BIGINT)
         |    AS n_chars_redacted,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$i', '<IP>', 'g')) AS redacted_md5
         |FROM documents""".stripMargin
    }),
    Key("streaming_dedup", RefPipeline.streamingDistinctUsers, Oracle(
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin)),
    // exhaustive calibration config (rerank unbounded); ann_topk's oracle
    Key("ann_pq", (s, d) => Similarity.pqTopK(s, d, rerank = Int.MaxValue), Oracle(annExactSql)),
    Key("pipeline_pack", (s, d) => Pipeline.pack(s, d), Oracle(
      s"""WITH t AS ($tokCte),
         |d AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM t WHERE len(tk) > 0),
         |c AS (SELECT doc_id, n_tok,
         |        CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM d)
         |SELECT doc_id, n_tok, cum - n_tok AS tok_offset,
         |  (cum - n_tok) // 512 AS start_seq,
         |  (cum - 1) // 512 AS end_seq,
         |  (cum - 1) // 512 - (cum - n_tok) // 512 + 1 AS n_seqs
         |FROM c""".stripMargin)),
    Key("wh_partition_prune", Warehouse.partitionPrunedDaily, Oracle(
      """SELECT event_type, count(*) AS n, round(CAST(sum(value) AS DOUBLE), 4) AS total
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type""".stripMargin)),
    Key("q_grouping_sets", Olap.ordersGroupingSets, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)),
    // exhaustive calibration config (all cells, rerank unbounded);
    // ann_topk's oracle
    Key("ann_ivfpq", (s, d) => Similarity.ivfPqTopK(s, d, nprobe = 8, rerank = Int.MaxValue),
      Oracle(annExactSql)),
    // direct aggregation over raw events: equality proves the stored (sum,
    // count, min, max) state merge is lossless; the timing includes the
    // state-table write
    Key("wh_agg_state_merge", Warehouse.aggStateMerge, Oracle(
      """WITH g AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |             round(min(value), 4) AS min_value,
        |             round(max(value), 4) AS max_value,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
        |           FROM events GROUP BY 1)
        |SELECT day, n, min_value, max_value,
        |       round(CAST(sc AS DOUBLE) / 100.0 / CAST(n AS DOUBLE), 4) AS avg_value
        |FROM g""".stripMargin)),
    // whole-range batch aggregation: equality proves the streaming MV (ts >=
    // cutover) and the backfill (ts < cutover) partition the data exactly
    // once; the timing includes the streaming run and the backfill
    Key("streaming_backfill_cutover", RefPipeline.mvBackfillCutover, Oracle(
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       round(CAST(sum(value) AS DOUBLE), 4) AS total, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // session_window semantics on second-quantized time: TOUCHING windows
    // MERGE — the split rule is > gap, same as sessionize's lag rule
    // (Round8Spec verified this empirically)
    Key("q_session_window", RefPipeline.sessionWindowAgg, Oracle(sessionWindowSql)),
    // the bloom prefilter has no false negatives and the exact verify removes
    // its false positives, so the output contract — and the oracle — is
    // IDENTICAL to the plain broadcast-probe variant
    Key("pipeline_decontaminate_bloom", Pipeline.decontaminateBloom, Oracle(decontaminateSql)),
    // per-term surprisal quantized to 1e-4 nats BEFORE any aggregation —
    // exact BIGINT arithmetic until one final identical double division
    Key("text_perplexity", TextAnalysis.perplexity, Oracle(
      s"""WITH t AS ($tokCte),
         |x AS (SELECT doc_id, unnest(tk) AS term FROM t),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY 1, 2),
         |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM f GROUP BY 1),
         |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t_total FROM c),
         |q AS (SELECT f.doc_id, f.tf,
         |        CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(cf AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS s_q
         |      FROM f JOIN c USING (term) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
         |       CAST(sum(tf * s_q) AS BIGINT) AS sum_s_q,
         |       floor(CAST(sum(tf * s_q) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) + 0.5) / 1e4 AS avg_nll
         |FROM q GROUP BY doc_id""".stripMargin)),
    // the z-ordered layout is semantically invisible: same aggregate on the
    // raw table; the timing includes the range write
    Key("wh_zorder_range", Warehouse.zorderRange, Oracle(
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000
        |  AND l_partkey BETWEEN 100 AND 800""".stripMargin)),
    // deterministic negative draws: same Knuth hash mod corpus size, same
    // sequential-fold dot product as ann_topk
    Key("pipeline_contrastive_pairs", (s, d) => Similarity.contrastivePairs(s, d), Oracle(
      s"""$vecCtes,
         |nn AS (SELECT count(*) AS n_vecs FROM nv),
         |a AS (SELECT vec_id AS q_id, v AS va, nrm AS nrma, j
         |      FROM nv CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j)),
         |w AS (SELECT q_id, CAST(j AS BIGINT) AS j, va, nrma,
         |             (2654435761 * q_id + 40503 * j) % n_vecs AS neg_id
         |      FROM a CROSS JOIN nn),
         |f AS (SELECT * FROM w WHERE neg_id <> q_id)
         |SELECT q_id, j, neg_id,
         |  round(list_sum(list_transform(va, (x, i) -> x * vb[i])) / (nrma * nrmb), 4) AS score
         |FROM f JOIN (SELECT vec_id AS neg_id, v AS vb, nrm AS nrmb FROM nv) c USING (neg_id)""".stripMargin)),
    // exact integer class counts; entropy via the same
    // quantize-per-distinct-value-then-exact-BIGINT contract as perplexity
    // (per-character surprisal ln(n/c) in 1e-4-nat units), one final
    // identical double division per ratio
    Key("text_charstats", TextAnalysis.charStats, Oracle(
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |            FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |               CAST(sum(CASE WHEN regexp_matches(c, '^[A-Za-z]$') THEN cnt ELSE 0 END) AS BIGINT) AS n_alpha,
        |               CAST(sum(CASE WHEN c = ' ' THEN cnt ELSE 0 END) AS BIGINT) AS n_space,
        |               CAST(count(*) AS BIGINT) AS n_uniq_chars
        |        FROM cc GROUP BY 1),
        |q AS (SELECT cc.doc_id,
        |             CAST(sum(cnt * CAST(floor(ln(CAST(n_chars AS DOUBLE) / CAST(cnt AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS ent_q
        |      FROM cc JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT t.doc_id, t.n_chars, t.n_alpha, t.n_space, t.n_uniq_chars,
        |       CAST(t.n_alpha AS DOUBLE) / CAST(nullif(t.n_chars, 0) AS DOUBLE) AS ratio_alpha,
        |       CAST(t.n_space AS DOUBLE) / CAST(nullif(t.n_chars, 0) AS DOUBLE) AS ratio_space,
        |       floor(CAST(q.ent_q AS DOUBLE) / CAST(nullif(t.n_chars, 0) AS DOUBLE) + 0.5) / 1e4 AS char_entropy
        |FROM tot t JOIN q USING (doc_id)""".stripMargin)),
    // the reference's Step-2.4 nested-tuple query over the in-query wire
    // generator: event i is a pure function of i, so the oracle replays the
    // identical index arithmetic from range() — no file side channel; the
    // timing is the JSON wire parse
    Key("ref_points_by_house", EventsSource.refPointsByHouse, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i))
        |SELECT ['Gryffindor','Hufflepuff','Ravenclaw','Slytherin'][CAST(i % 4 AS INT) + 1] AS house,
        |       CAST(sum(i % 21 - 10) AS BIGINT) AS total_points
        |FROM g GROUP BY 1""".stripMargin)),
    // exact integer covariance moments over 1e-4-quantized components; cov is
    // one identical double chain over the BIGINTs (q_corr pattern)
    Key("emb_covariance", (s, d) => Similarity.embCovariance(s, d), Oracle(
      """WITH q AS (SELECT vec_id,
        |             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
        |           FROM embeddings),
        |e AS (SELECT vec_id, CAST(i AS BIGINT) AS i, qv[i] AS q
        |      FROM (SELECT vec_id, qv, unnest(generate_series(1, len(qv))) AS i FROM q)),
        |s AS (SELECT i, CAST(sum(q) AS BIGINT) AS s_i FROM e GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
        |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s_ij
        |      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2)
        |SELECT p.i, p.j, n.n, si.s_i AS s_i, sj.s_i AS s_j, p.s_ij,
        |       floor(((CAST(p.s_ij AS DOUBLE) - CAST(si.s_i AS DOUBLE) * CAST(sj.s_i AS DOUBLE) / CAST(n.n AS DOUBLE)) / CAST(n.n AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS cov
        |FROM p CROSS JOIN n JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j""".stripMargin)),
    Key("emb_pca", (s, d) => Similarity.pcaProject(s, d), RowsOnly(
      "the eigen decomposition is not DuckDB-expressible; Round8Spec checks " +
        "orthonormality, variance order and per-component variance == eigenvalue")),
    // per-row decayed contribution quantized ONCE to 1e-4 units (exp fed the
    // identical double both engines: exact BIGINT seconds / 86400.0), exact
    // BIGINT per-user sum, one final division
    Key("q_decayed_sum", Analytics.decayedSum, Oracle(
      """WITH e AS (SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |m AS (SELECT CAST(max(t) AS BIGINT) AS t_max FROM e),
        |q AS (SELECT user_id,
        |        CAST(floor(value * exp(-CAST(t_max - t AS DOUBLE) / 86400.0) * 10000 + 0.5) AS BIGINT) AS c_q
        |      FROM e CROSS JOIN m)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(c_q) AS BIGINT) AS sum_c_q,
        |       CAST(sum(c_q) AS DOUBLE) / 10000.0 AS decayed_value
        |FROM q GROUP BY user_id""".stripMargin)),
    // exact pairwise audience intersection over the distinct-reduced
    // membership; Jaccard by inclusion-exclusion on exact BIGINTs
    Key("q_audience_overlap", Analytics.audienceOverlap, Oracle(
      """WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS aud FROM m GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |             CAST(count(*) AS BIGINT) AS n_both
        |      FROM m a JOIN m b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both, sa.aud AS aud_a, sb.aud AS aud_b,
        |       floor(CAST(p.n_both AS DOUBLE) / CAST(sa.aud + sb.aud - p.n_both AS DOUBLE) * 10000 + 0.5) / 1e4 AS jaccard
        |FROM p JOIN s sa ON sa.event_type = p.type_a
        |       JOIN s sb ON sb.event_type = p.type_b""".stripMargin)),
    // the streaming rendition runs the IDENTICAL aggregation function over a
    // watermarked file stream — q_session_window's oracle, stream == batch IS
    // the check
    Key("streaming_session_window", RefPipeline.streamingSessionWindow, Oracle(sessionWindowSql)),
    // the ORC layout is semantically invisible: same aggregate on the raw
    // parquet table — equality proves the format leg is lossless; the timing
    // includes the write
    Key("wh_orc_roundtrip", Warehouse.orcRoundtrip, Oracle(
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM lineitem WHERE l_shipdate >= DATE '1996-01-01'
        |GROUP BY 1""".stripMargin)),
    // CSV wire leg: same index arithmetic replayed from range(); the timing
    // is the wire parse
    Key("ref_ingest_csv", EventsSource.refIngestCsv, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i))
        |SELECT ['Potions','Charms','Herbology','Transfiguration'][CAST(i % 4 AS INT) + 1] AS subject,
        |       CAST(sum(i % 21 - 10) AS BIGINT) AS total_points,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY 1""".stripMargin)),
    // ReplacingMergeTree: the update stream is a pure function of the base
    // table (every 10th order: status 'F', +500 exact cents, version 2), so
    // the oracle replays it and resolves version-wins with arg_max — no side
    // channel; the timing is the union + collapse
    Key("wh_replacing_merge", Warehouse.replacingMerge, Oracle(replacingMergeSql)),
    // the compacted layout is semantically invisible: the same aggregate on
    // the raw events table — equality proves compaction lossless; the timing
    // includes the fragmented write and the compacting rewrite
    Key("wh_compaction", Warehouse.compaction, Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),
    // WITH FILL: dense calendar replayed with generate_series over the same
    // bounds; filled zeros and summed buckets share the exact integer-cents
    // domain
    Key("q_fill_gaps", Analytics.fillGaps, Oracle(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS BIGINT) AS n_events,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |           FROM events GROUP BY 1, 2),
        |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |cal AS (SELECT t.event_type,
        |               CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN span s)
        |SELECT c.event_type, c.day,
        |       CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
        |       CAST(coalesce(d.sum_cents, 0) AS BIGINT) AS sum_cents
        |FROM cal c LEFT JOIN d ON d.event_type = c.event_type AND d.day = c.day""".stripMargin)),
    // lag over (micros, event_id) — the unique event_id tie-break makes the
    // difference deterministic; gaps stay exact BIGINT microseconds
    Key("q_event_gaps", Analytics.eventGaps, Oracle(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |g AS (SELECT user_id,
        |        tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap_us
        |      FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
        |       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY user_id""".stripMargin)),
    // the asymmetric Broder measure beside ngram_jaccard's resemblance; the
    // timing is the prefix⋈full shingle join
    Key("dedup_containment", Dedup.containment, Oracle(containmentCappedSql)),
    // old-generation rows (even event_id, written before the column existed)
    // must surface as the declared 'unknown' default; equality proves the
    // evolved read loses nothing; the timing includes both generation writes
    // and the merged read
    Key("wh_schema_evolution", Warehouse.schemaEvolution, Oracle(
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END AS event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),
    Key("wh_sketch_state_merge", Warehouse.sketchStateMerge, RowsOnly(
      "HLL register contents are engine-specific; WarehouseSpec checks merged " +
        "state == direct sketch, within 5% of the exact count")),
    // the (spend desc, custkey) sort key is UNIQUE, so percent_rank is
    // exactly (row_number - 1) / (N - 1): one IEEE division of the same two
    // integers in either engine — bit-reproducible, no rounding
    Key("q_percent_rank", Analytics.percentRank, Oracle(
      """WITH s AS (SELECT o_custkey,
        |             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
        |           FROM orders GROUP BY 1)
        |SELECT o_custkey, spend_cents,
        |       percent_rank() OVER (ORDER BY spend_cents DESC, o_custkey) AS pct_rank
        |FROM s""".stripMargin)),
    // the UNSALTED join: salt only routes rows, so the oracle never sees it;
    // per-row deviations stay in exact scaled BIGINTs, one division chain at
    // the end. The timed work is the salted shuffle join (hot 5-value key
    // spread over 8 salts, hinted away from broadcast)
    Key("q_skew_join", Analytics.skewJoin, Oracle(
      """WITH d AS (SELECT event_type,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(e.ts AS DATE) AS day,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(abs(CAST(round(e.value * 100) AS BIGINT) * d.n - d.s)) AS BIGINT) AS dev_scaled,
        |       CAST(sum(abs(CAST(round(e.value * 100) AS BIGINT) * d.n - d.s)) AS DOUBLE)
        |         / CAST(count(*) * any_value(d.n) AS DOUBLE) / 100.0 AS mad_value
        |FROM events e JOIN d USING (event_type) GROUP BY 1, 2""".stripMargin)),
    // the plain BETWEEN range join over the same deterministic interval
    // arithmetic — equality proves the bucketed equi-join rewrite (equi-join
    // + residual, never BNLJ) IS the range join (intervals are disjoint;
    // bounds on exact hour marks)
    Key("q_range_join", Analytics.rangeJoin, Oracle(
      """WITH span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |t AS (SELECT DISTINCT event_type FROM events),
        |iv0 AS (SELECT t.event_type,
        |               unnest(generate_series(0, CAST(floor((s.d1 - s.d0) / 7.0) AS BIGINT))) AS promo_id,
        |               s.d0
        |        FROM t CROSS JOIN span s),
        |iv AS (SELECT event_type, CAST(promo_id AS BIGINT) AS promo_id,
        |              CAST(d0 AS TIMESTAMP) + INTERVAL 6 HOUR + promo_id * (INTERVAL 7 DAY) AS t_start
        |       FROM iv0),
        |j AS (SELECT e.event_type, iv.promo_id,
        |             CAST(round(e.value * 100) AS BIGINT) AS v_cents
        |      FROM events e JOIN iv ON e.event_type = iv.event_type
        |        AND e.ts >= iv.t_start AND e.ts < iv.t_start + INTERVAL 36 HOUR)
        |SELECT event_type, promo_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v_cents) AS BIGINT) AS sum_cents
        |FROM j GROUP BY 1, 2""".stripMargin)),
    // the dHash replayed byte-for-byte in SQL (the decode stub is a pure
    // function of the utf-8 bytes): pairs at Hamming <= 3 via brute force
    // over the signed 64-bit hashes — equality proves the banded candidate
    // generator zero-miss AND the hash arithmetic
    Key("multimodal_phash", Multimodal.imageNearDup, Oracle(
      s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS h,
        |             octet_length(encode(text)) AS n FROM documents),
        |s AS (SELECT doc_id, ${dhashSumSql("0")} AS s64 FROM d),
        |hs AS (SELECT doc_id, $dhashWrapSql AS phash FROM s)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin)),
    // the same quality formula text_quality already hash-matches, the same
    // unique (score desc, doc_id) order, the identical cumulative window —
    // phase is exact BIGINT arithmetic in both engines
    Key("pipeline_curriculum", Pipeline.curriculum, Oracle(
      s"""WITH t AS ($tokCte),
         |m AS (SELECT doc_id, len(tk) AS n_tok,
         |        len(list_filter(tk, x -> x IN ('the','a','of','and','in','to','is'))) AS n_stop
         |      FROM t),
         |q AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |        CASE WHEN n_tok > 0 THEN round(least(1.0, CAST(n_tok AS DOUBLE) / 100.0) *
         |               (1.0 - n_stop / CAST(n_tok AS DOUBLE)), 4) ELSE 0.0 END AS quality_score
         |      FROM m),
         |c AS (SELECT doc_id, n_tokens, quality_score,
         |        CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM q),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM q)
         |SELECT c.doc_id, c.n_tokens, c.quality_score, c.cum_tokens,
         |       CAST(least(3, (greatest(c.cum_tokens - 1, 0) * 4) // tot.total) AS BIGINT) AS phase
         |FROM c CROSS JOIN tot""".stripMargin)),
    // the same membership-explode inversion: each distinct (type, day, user)
    // row contributes to its <=7 window-end days; pure date/int arithmetic,
    // engine-identical
    Key("q_sliding_distinct", Analytics.slidingDistinct, Oracle(
      """WITH m AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events),
        |b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |c AS (SELECT event_type, user_id,
        |        CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE) AS win_day
        |      FROM m),
        |d AS (SELECT DISTINCT event_type, win_day, user_id FROM c)
        |SELECT d.event_type, d.win_day, CAST(count(*) AS BIGINT) AS uniques_7d
        |FROM d CROSS JOIN b WHERE d.win_day BETWEEN b.d0 AND b.d1
        |GROUP BY 1, 2""".stripMargin)),
    // wh_replacing_merge's oracle: the micro-batched CDC fold must converge
    // to the batch collapse's exact table — stream == batch IS the check
    Key("streaming_replacing_merge", RefPipeline.streamingReplacingMerge, Oracle(
      replacingMergeSql)),
    // CollapsingMergeTree: the sign stream is a pure function of the base
    // table (every 7th key cancelled by a -1 twin of its exact state; the
    // non-%21 ones restated as 'F' at +250 cents), so the oracle replays it
    // and runs the same sum(sign)/sum(sign*cents) annihilation
    Key("wh_collapsing_merge", Warehouse.collapsingMerge, Oracle(
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |                CAST(1 AS BIGINT) AS sign FROM orders),
        |allr AS (
        |  SELECT st, cents, sign FROM base
        |  UNION ALL SELECT st, cents, CAST(-1 AS BIGINT) FROM base WHERE k % 7 = 0
        |  UNION ALL SELECT 'F', cents + 250, CAST(1 AS BIGINT) FROM base
        |    WHERE k % 7 = 0 AND k % 21 <> 0)
        |SELECT st AS o_orderstatus, CAST(sum(sign) AS BIGINT) AS n_live,
        |       CAST(sum(sign * cents) AS BIGINT) AS sum_cents
        |FROM allr GROUP BY 1""".stripMargin)),
    // partition-level expiry must equal the row-level horizon filter: the
    // layout is day-partitioned so dropping event_date dirs before the cutoff
    // IS the predicate — equality proves file-level TTL lost and kept exactly
    // the right days
    Key("wh_ttl_expire", Warehouse.ttlExpire, Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       min(CAST(ts AS DATE)) AS first_day
        |FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-20'
        |GROUP BY 1""".stripMargin)),
    // ISO-Monday week truncation and integer day arithmetic in both engines;
    // membership is distinct per (user, week), so the final count needs no
    // second DISTINCT
    Key("q_cohort_matrix", Analytics.cohortMatrix, Oracle(
      """WITH m AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM m GROUP BY 1)
        |SELECT c.cohort_week, CAST((m.wk - c.cohort_week) // 7 AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM m JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin)),
    // the same quantize-ln-once-then-exact-moments chain; equal-cf terms swap
    // ranks without changing the (ln rank, ln cf) multiset, so the fit is
    // tie-insensitive and the one output row matches bit-for-bit
    Key("text_zipf", TextAnalysis.zipfFit, Oracle(
      s"""WITH t AS ($tokCte),
         |x AS (SELECT unnest(tk) AS term FROM t),
         |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM x GROUP BY 1),
         |r AS (SELECT cf, row_number() OVER (ORDER BY cf DESC, term) AS rank FROM c),
         |q AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS qx,
         |             CAST(floor(ln(CAST(cf AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS qy
         |      FROM r),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         |             sum(CAST(qx AS HUGEINT) * qx) AS sxx,
         |             sum(CAST(qx AS HUGEINT) * qy) AS sxy
         |      FROM q)
         |SELECT n AS n_terms,
         |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * 1e4 + 0.5) / 1e4 AS zipf_slope,
         |  floor((CAST(sy AS DOUBLE)
         |       - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) + 0.5) / 1e4 AS intercept_ln_cf
         |FROM m""".stripMargin)),
    // the BATCH interval join: an AvailableNow inner stream-stream join must
    // emit exactly these rows (inner joins emit on match, the watermark only
    // evicts state) — stream == batch is the check
    Key("streaming_interval_join", RefPipeline.streamingIntervalJoin, Oracle(
      """SELECT p.event_id AS purchase_id, p.user_id, round(p.value, 4) AS value,
        |       epoch_us(s.ts) AS signup_us, epoch_us(p.ts) AS purchase_us
        |FROM events p JOIN events s ON s.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
        |  AND epoch_us(p.ts) >= epoch_us(s.ts)
        |  AND epoch_us(p.ts) <= epoch_us(s.ts) + 604800000000""".stripMargin)),
    // per-frame dHash with the 4-frame-group sampling base, then the same
    // lag/threshold cut detection over the frame sequence
    Key("multimodal_scene_cuts", Multimodal.sceneCuts, Oracle(
      s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS h,
        |             octet_length(encode(text)) AS n,
        |             1 + doc_id % 16 AS nf FROM documents),
        |fr AS (SELECT doc_id, h, n, unnest(generate_series(0, nf - 1)) AS f FROM d),
        |fh AS (SELECT doc_id, f, ${dhashSumSql("(f // 4) * 97")} AS s64 FROM fr),
        |fb AS (SELECT doc_id, f, $dhashWrapSql AS fh64 FROM fh),
        |lg AS (SELECT doc_id, fh64,
        |         lag(fh64) OVER (PARTITION BY doc_id ORDER BY f) AS ph FROM fb)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(CASE WHEN ph IS NOT NULL AND bit_count(xor(fh64, ph)) > 10
        |                     THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_scenes
        |FROM lg GROUP BY 1""".stripMargin)),
    // the JSONEachRow text leg is lossless: same aggregate on the raw parquet
    // table (micros BIGINT timestamps, shortest-repr double round-trip); the
    // timing includes the text write
    Key("ref_export_ndjson", EventsSource.refExportNdjson, Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
        |FROM events GROUP BY 1""".stripMargin)),
    // the same chain of conditional mins (earliest-first greedy matching is
    // exact for subsequence EXISTENCE); strict > is the declared tie rule, so
    // no event-id tiebreak is needed in either engine
    Key("q_sequence_match", Analytics.sequenceMatch, Oracle(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |           WHERE event_type IN ('signup', 'view', 'purchase')),
        |t1 AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'view' AND tus > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(tus) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tus > t2 GROUP BY 1)
        |SELECT t1.user_id,
        |       CAST(CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS seq_matched,
        |       CAST(t1.t1 AS BIGINT) AS signup_us
        |FROM t1 LEFT JOIN t3 USING (user_id)""".stripMargin)),
    // the generator replayed from range(); the id param is always first, so
    // tracking params are strictly &-led and one global regex strips them
    // (the declared invariant)
    Key("text_url_normalize", TextAnalysis.urlNormalize, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 50000) t(i)),
        |u AS (SELECT 'https://' ||
        |         ['example.com','news.site.org','blog.example.net','shop.example.com','docs.example.io'][CAST(i % 5 AS INT) + 1]
        |         || '/p' || CAST(i % 97 AS VARCHAR) || '?id=' || CAST(i % 1000 AS VARCHAR)
        |         || CASE WHEN i % 3 = 0 THEN '&utm_source=feed' ELSE '' END
        |         || CASE WHEN i % 4 = 0 THEN '&utm_campaign=c' || CAST(i % 7 AS VARCHAR) ELSE '' END
        |         || CASE WHEN i % 11 = 0 THEN '&ref=tw' ELSE '' END AS url
        |      FROM g),
        |n AS (SELECT url, regexp_replace(url, '&(utm_[a-z]+|ref)=[^&]*', '', 'g') AS norm,
        |             regexp_extract(url, '^https://([^/]+)/', 1) AS host FROM u)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |       CAST(count(DISTINCT norm) AS BIGINT) AS n_unique_clean,
        |       CAST(sum(CASE WHEN norm <> url THEN 1 ELSE 0 END) AS BIGINT) AS n_tracked
        |FROM n GROUP BY 1""".stripMargin)),
    // the LowCardinality dictionary layout is semantically invisible: same
    // aggregate on the raw string table
    Key("wh_dictionary_encode", Warehouse.dictionaryEncode, Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),
    // bloom skipping is I/O-only: the exact predicate still applies, so the
    // point query equals the raw-table filter
    Key("wh_bloom_skip_index", Warehouse.bloomSkipIndex, Oracle(
      """WITH p AS (SELECT min(event_id) AS e FROM events)
        |SELECT event_id, user_id, event_type,
        |       CAST(round(value * 100) AS BIGINT) AS v_cents
        |FROM events, p WHERE event_id = p.e""".stripMargin)),
    // ASCII corpus: both engines count substring positions in characters; the
    // (n desc, pair) order is total so LIMIT 20 picks the same rows
    Key("text_bpe_pairs", TextAnalysis.bpePairs, Oracle(
      s"""WITH t AS ($tokCte),
         |w AS (SELECT unnest(tk) AS w FROM t),
         |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
         |      FROM w, unnest(range(1, length(w))) AS u(i)
         |      WHERE length(w) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin)),
    // pow quantized once to 1e-6 units (the ln/exp drill), exact BIGINT
    // total, one identical division for the share
    Key("pipeline_mix_temperature", Pipeline.mixTemperature, Oracle(
      s"""WITH t AS ($tokCte),
         |h AS (SELECT doc_id, len(tk) AS n_tok,
         |        len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS hits_en,
         |        len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS hits_de,
         |        len(list_filter(tk, x -> x IN ('le','la','et','est','les'))) AS hits_fr,
         |        len(list_filter(tk, x -> x IN ('el','los','y','es','las'))) AS hits_es
         |      FROM t),
         |l AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CASE WHEN hits_en + hits_de + hits_fr + hits_es = 0 THEN 'unknown'
         |       WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
         |       WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
         |       WHEN hits_fr >= hits_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |      FROM h),
         |m AS (SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM l GROUP BY 1),
         |w AS (SELECT *, CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.3) * 1e6 + 0.5) AS BIGINT) AS w_q FROM m),
         |tot AS (SELECT CAST(sum(w_q) AS BIGINT) AS tw FROM w)
         |SELECT pred_lang, n_docs, n_tokens, w_q,
         |       CAST(floor(CAST(w_q AS DOUBLE) / CAST(tw AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS share_q6
         |FROM w, tot""".stripMargin)),
    // float->double widening is exact; code and error fold x and scale
    // through the identical IEEE chain; per-dim error quantized once to 1e-12
    // units then exact BIGINT sums
    Key("emb_int8_quantize", (s, d) => Similarity.int8Quantize(s, d), Oracle(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale FROM e)
        |SELECT vec_id, CAST(len(emb) AS BIGINT) AS n_dims,
        |  CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_q9,
        |  CASE WHEN scale > 0 THEN
        |    CAST(list_sum(list_transform(emb, x -> abs(CAST(floor(x / scale + 0.5) AS BIGINT)))) AS BIGINT)
        |  ELSE 0 END AS sum_abs_code,
        |  CASE WHEN scale > 0 THEN
        |    CAST(list_sum(list_transform(emb, x ->
        |      CAST(floor((x - floor(x / scale + 0.5) * scale)
        |                * (x - floor(x / scale + 0.5) * scale) * 1e12 + 0.5) AS BIGINT))) AS BIGINT)
        |  ELSE 0 END AS sse_q12
        |FROM s""".stripMargin)),
    // the same dense calendar as q_fill_gaps, with missing days carrying the
    // last OBSERVED total forward under the identical keyed window
    Key("q_interpolate_fill", Analytics.interpolateFill, Oracle(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS BIGINT) AS n_events,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |           FROM events GROUP BY 1, 2),
        |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |cal AS (SELECT t.event_type,
        |               CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN span s),
        |g AS (SELECT c.event_type, c.day,
        |        CAST(CASE WHEN d.n_events IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
        |        d.sum_cents
        |      FROM cal c LEFT JOIN d ON d.event_type = c.event_type AND d.day = c.day)
        |SELECT event_type, day, observed,
        |       CAST(coalesce(last_value(sum_cents IGNORE NULLS)
        |         OVER (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
        |         AS filled_cents
        |FROM g""".stripMargin)),
    // the same collapse + cumulative-weight chain; lower weighted median by
    // the declared 2*cum >= total rule — all BIGINT, no division
    Key("q_quantile_exact_weighted", Analytics.quantileExactWeighted, Oracle(
      """WITH g AS (SELECT l_returnflag,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM g),
        |t AS (SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_weight FROM g GROUP BY 1)
        |SELECT c.l_returnflag, t.total_weight,
        |       CAST(min(c.cents) AS BIGINT) AS wmedian_cents
        |FROM c JOIN t USING (l_returnflag)
        |WHERE 2 * c.cum >= t.total_weight
        |GROUP BY 1, 2""".stripMargin)),
    // the watermark drop rule replayed in batch: the late slice (event_id %
    // 50 = 0, delivered behind a 2030 watermark) must be exactly what the
    // stream's result is missing
    Key("streaming_late_data", RefPipeline.streamingLateData, Oracle(
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id % 50 <> 0
        |GROUP BY 1, 2""".stripMargin)),
    // one flat lag window in the oracle vs the segmented stitch in Spark —
    // same (epoch micros, event_id) total order, same null-head and
    // positive-delta rules, so the sums must agree exactly
    Key("q_deltasum", Analytics.deltaSum, Oracle(
      """WITH s AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents,
        |             lag(CAST(round(value * 100) AS BIGINT))
        |               OVER (PARTITION BY event_type
        |                     ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events)
        |SELECT event_type,
        |       CAST(sum(CASE WHEN prev IS NOT NULL AND cents > prev
        |                     THEN cents - prev ELSE 0 END) AS BIGINT)
        |         AS delta_sum_cents,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1""".stripMargin)),
    // the same collapse/cumulate chain as the median key, crossed with the
    // three quartile numerators; lower-quantile rule 4*cum >= k*total
    Key("q_quantiles_weighted", Analytics.quantilesExactWeighted, Oracle(
      """WITH g AS (SELECT l_returnflag,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM g),
        |t AS (SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_weight FROM g GROUP BY 1)
        |SELECT c.l_returnflag, CAST(l.k AS BIGINT) AS level_q, t.total_weight,
        |       CAST(min(c.cents) AS BIGINT) AS q_cents
        |FROM c JOIN t USING (l_returnflag)
        |     CROSS JOIN (VALUES (1), (2), (3)) AS l(k)
        |WHERE 4 * c.cum >= l.k * t.total_weight
        |GROUP BY 1, 2, 3""".stripMargin)),
    // average rank via min-rank + tie count (2r + cnt - 1 == the doubled
    // average rank the Spark side derives from cnt_less); Pearson over the
    // codes with the q_corr round-to-1e-4 contract
    Key("q_rank_corr", Analytics.rankCorr, Oracle(
      """WITH r AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |           FROM lineitem),
        |a AS (SELECT 2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS ax,
        |             2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS ay
        |      FROM r),
        |m AS (SELECT count(*) AS n, sum(ax) AS sx, sum(ay) AS sy,
        |             sum(ax * ax) AS sxx, sum(ay * ay) AS syy,
        |             sum(ax * ay) AS sxy
        |      FROM a)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |        (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        |    AS rank_corr
        |FROM m""".stripMargin)),
    // the projection merge must equal the raw aggregate bit-for-bit: integer
    // cents are summed per row before any aggregation, so partial-then-merge
    // and one-shot grouping are the same algebra
    Key("wh_projection", Warehouse.projectionRouted, Oracle(
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin)),
    // the identical md5 bucket + threshold CASE — assignments must agree
    // row-for-row across engines
    Key("pipeline_split", Pipeline.split, Oracle(
      s"""$langCtes
         |SELECT doc_id, pred_lang, $bucket256Sql AS bucket,
         |       CASE WHEN $bucket256Sql < 5 THEN 'test'
         |            WHEN $bucket256Sql < 13 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM l""".stripMargin)),
    // floor(f) copies + one bucketed extra; generate_series replays the same
    // per-doc copy count
    Key("pipeline_repeat_upsample", Pipeline.repeatUpsample, Oracle(
      s"""$langCtes,
         |c AS (SELECT doc_id, pred_lang,
         |        (CASE WHEN pred_lang = 'unknown' THEN 3 ELSE 1 END
         |         + CASE WHEN pred_lang = 'unknown'
         |                 AND $bucket256Sql < 128 THEN 1 ELSE 0 END) AS n_copies
         |      FROM l)
         |SELECT doc_id, pred_lang, CAST(n_copies AS BIGINT) AS n_copies,
         |       CAST(u.copy_ord AS BIGINT) AS copy_ord
         |FROM c, unnest(range(1, n_copies + 1)) AS u(copy_ord)""".stripMargin)),
    // per-value log2 quantized once to 1e-6, weighted sum exact BIGINT, one
    // identical division + subtraction rounded to 1e-4 bits
    Key("q_entropy", Analytics.entropy, Oracle(
      """WITH c AS (SELECT event_type, user_id, count(*) AS c
        |           FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS n_values,
        |        CAST(sum(c * CAST(floor(log2(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s_q6
        |      FROM c GROUP BY 1)
        |SELECT event_type, n, n_values,
        |  round((CAST(CAST(floor(log2(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS DOUBLE)
        |         - CAST(s_q6 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6, 4) AS entropy_bits
        |FROM a""".stripMargin)),
    // each cell's chi-square contribution is a fixed IEEE sequence on exact
    // counts quantized once to 1e-6 — the cross-cell sum is then BIGINT,
    // immune to double addition order; dow numberings differ across engines
    // (1-7 vs 0-6) but bijectively, so cells agree
    Key("q_cramers_v", Analytics.cramersV, Oracle(
      """WITH cells AS (SELECT event_type, dayofweek(ts) AS dow, count(*) AS nij
        |               FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(nij) AS ri FROM cells GROUP BY 1),
        |c AS (SELECT dow, sum(nij) AS cj FROM cells GROUP BY 1),
        |t AS (SELECT sum(nij) AS n, count(DISTINCT event_type) AS r,
        |             count(DISTINCT dow) AS c FROM cells),
        |q AS (SELECT t.n, t.r, t.c,
        |        CAST(floor((CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))
        |          / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS chi_q6
        |      FROM cells JOIN r USING (event_type) JOIN c USING (dow) CROSS JOIN t)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CAST(sum(chi_q6) AS DOUBLE) / 1e6, 4) AS chi2,
        |  round(sqrt(CAST(sum(chi_q6) AS DOUBLE) / 1e6 /
        |        (CAST(n AS DOUBLE) * (least(r, c) - 1))), 4) AS cramers_v
        |FROM q GROUP BY n, r, c""".stripMargin)),
    // the whole statistic is a fixed IEEE sequence on six exact BIGINT
    // moments, written identically in both engines, rounded once
    Key("q_welch_ttest", Analytics.welchTTest, Oracle(
      """WITH m AS (SELECT event_type, count(*) AS n,
        |             sum(CAST(round(value * 100) AS BIGINT)) AS s,
        |             sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS ss
        |           FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1),
        |p AS (SELECT n AS n1, s AS s1, ss AS ss1 FROM m WHERE event_type = 'purchase'),
        |v AS (SELECT n AS n2, s AS s2, ss AS ss2 FROM m WHERE event_type = 'view')
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |        sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |               / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
        |           + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |               / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE)), 4) AS t_stat
        |FROM p, v""".stripMargin)),
    // the bitmap path is exact, so the oracle is the plain distinct —
    // equality proves the whole state-at-rest round trip bit-perfect
    Key("wh_bitmap_state_merge", Warehouse.bitmapStateMerge, Oracle(
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin)),
    // the adjustment part exactly annihilates the user_id % 13 slice, so the
    // merged view equals full-year totals minus that slice
    Key("wh_summing_merge", Warehouse.summingMerge, Oracle(
      """SELECT user_id, event_type,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM events WHERE user_id % 13 <> 0
        |GROUP BY 1, 2""".stripMargin)),
    // the same sweep line as one flat window; ties break to the earliest day
    // in both engines
    Key("q_max_intersections", Analytics.maxIntersections, Oracle(
      """WITH iv AS (SELECT o.o_orderdate, l.l_shipdate
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |d AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(1 AS BIGINT) AS dl FROM iv
        |      UNION ALL
        |      SELECT CAST(l_shipdate AS DATE) + 1 AS day, CAST(-1 AS BIGINT) AS dl FROM iv),
        |g AS (SELECT day, sum(dl) AS dl FROM d GROUP BY 1),
        |c AS (SELECT day, sum(dl) OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |      FROM g)
        |SELECT CAST(m.m AS BIGINT) AS peak_open, min(c.day) AS peak_day
        |FROM c, (SELECT max(open) AS m FROM c) AS m
        |WHERE c.open = m.m GROUP BY m.m""".stripMargin)),
    // the same deterministic victim; equality proves the surgical rewrite
    // removed exactly the victim's rows and nothing else
    Key("wh_mutation_delete", Warehouse.mutationDelete, Oracle(
      """WITH v AS (SELECT min(user_id) AS victim FROM events WHERE user_id % 97 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events, v WHERE user_id IS DISTINCT FROM v.victim
        |GROUP BY 1""".stripMargin)),
    // Mann-Whitney AUC with half-credit ties: 2U is an exact BIGINT sum over
    // per-score counts, then ONE division of exact ints rounds to 1e-4
    // identically in both engines
    Key("q_auc", Analytics.auc, Oracle(
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS score,
        |             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
        |             sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS n
        |           FROM events GROUP BY 1),
        |o AS (SELECT p, n,
        |        sum(n) OVER (ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ncum
        |      FROM c)
        |SELECT CASE WHEN CAST(sum(p) AS BIGINT) > 0 AND CAST(sum(n) AS BIGINT) > 0 THEN
        |         round(CAST(sum(p * (2 * (ncum - n) + n)) AS DOUBLE) /
        |               (2.0 * CAST(sum(p) AS DOUBLE) * CAST(sum(n) AS DOUBLE)), 4)
        |       END AS auc,
        |       CAST(sum(p) AS BIGINT) AS pos_n,
        |       CAST(sum(n) AS BIGINT) AS neg_n
        |FROM o""".stripMargin)),
    // both empirical CDFs cumulate over the same score order; the gap argmax
    // is decided on exact integers (DuckDB sums promote to HUGEINT, matching
    // the Spark side's DECIMAL(38,0)) and D is one IEEE division rounded to
    // 1e-4 — the q_auc drill
    Key("q_ks_test", Analytics.ksTest, Oracle(
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS score,
        |             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv
        |           FROM events WHERE event_type IN ('purchase', 'view')
        |           GROUP BY 1),
        |o AS (SELECT sum(np) OVER (ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |        sum(nv) OVER (ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        |      FROM c),
        |t AS (SELECT max(cp) AS pos_n, max(cv) AS view_n FROM o)
        |SELECT CASE WHEN t.pos_n > 0 AND t.view_n > 0 THEN
        |         round(CAST(max(abs(o.cp * t.view_n - o.cv * t.pos_n)) AS DOUBLE) /
        |               (CAST(t.pos_n AS DOUBLE) * CAST(t.view_n AS DOUBLE)), 4)
        |       END AS ks_d,
        |       CAST(t.pos_n AS BIGINT) AS pos_n,
        |       CAST(t.view_n AS BIGINT) AS view_n
        |FROM o, t GROUP BY t.pos_n, t.view_n""".stripMargin)),
    // row_number under the same (price desc, orderkey) total order the Spark
    // side heaps by — tie-free, so heap == window == DuckDB
    Key("q_limit_by", Olap.limitByCustomer, Oracle(
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3""".stripMargin)),
    // positional 8-gram strings stand in for the Spark side's variadic
    // xxhash64 (the dedup_ngram_jaccard hash-vs-string convention); the
    // island arithmetic is offset-invariant so 1-based DuckDB positions
    // against 0-based Spark positions cancel out
    Key("text_dup_spans", TextAnalysis.dupSpans, Oracle(
      s"""WITH t AS ($tokCte),
         |g0 AS (SELECT doc_id, tk,
         |         unnest(range(1, greatest(len(tk) - 6, 1))) AS pos FROM t),
         |g AS (SELECT doc_id, pos,
         |        array_to_string(tk[pos:pos+7], ' ') AS gram FROM g0),
         |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         |d AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)),
         |s AS (SELECT doc_id, pos,
         |        CASE WHEN lag(pos) OVER w IS NULL
         |               OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS brk
         |      FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |s2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
         |         ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS span_id FROM s),
         |sp AS (SELECT doc_id, span_id, count(*) AS ndw,
         |         max(pos) - min(pos) + 8 AS stok FROM s2 GROUP BY 1, 2),
         |a AS (SELECT doc_id, sum(ndw) AS ndw, count(*) AS nsp,
         |        max(stok) AS mst, sum(stok) AS dtk FROM sp GROUP BY 1),
         |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)
         |SELECT n.doc_id, n.n_tokens,
         |       CAST(greatest(n.n_tokens - 7, 0) AS BIGINT) AS n_windows,
         |       CAST(COALESCE(a.ndw, 0) AS BIGINT) AS n_dup_windows,
         |       CAST(COALESCE(a.nsp, 0) AS BIGINT) AS n_spans,
         |       CAST(COALESCE(a.mst, 0) AS BIGINT) AS max_span_tokens,
         |       CAST(COALESCE(a.dtk, 0) AS BIGINT) AS dup_tokens,
         |       CASE WHEN n.n_tokens > 0
         |            THEN round(CAST(COALESCE(a.dtk, 0) AS DOUBLE) /
         |                       CAST(n.n_tokens AS DOUBLE), 4)
         |            ELSE 0.0 END AS dup_frac
         |FROM n LEFT JOIN a USING (doc_id)""".stripMargin)),
    // the shipped pruned index configs (defaults: own-bucket probe, nprobe=2,
    // bounded rerank): SimilaritySpec's recall floors own their accuracy,
    // these phases own their cost
    Key("ann_lsh_pruned", (s, d) => Similarity.lshTopK(s, d), BenchOnly),
    Key("ann_ivf_pruned", (s, d) => Similarity.ivfTopK(s, d), BenchOnly),
    Key("ann_pq_pruned", (s, d) => Similarity.pqTopK(s, d), BenchOnly),
    Key("ann_ivfpq_pruned", (s, d) => Similarity.ivfPqTopK(s, d), BenchOnly),
    // every conditional is a FILTER/CASE inside the aggregate — one scan;
    // purchase revenue on the exact-cents contract (CAST AS DOUBLE before the
    // /100.0 — the q_grouping_sets decimal-vs-double lesson)
    Key("q_cond_agg", Analytics.condAgg, Oracle(
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
        |    / 100.0 AS purchase_value,
        |  CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
        |  round(avg(value) FILTER (WHERE value > 50), 4) AS avg_high_value
        |FROM events GROUP BY 1""".stripMargin)),
    // associative + commutative exact BIGINT folds — engine-agnostic
    Key("q_bit_ops", Analytics.bitOps, Oracle(
      """SELECT event_type,
        |  CAST(bit_and(user_id) AS BIGINT) AS users_bit_and,
        |  CAST(bit_or(user_id) AS BIGINT) AS users_bit_or,
        |  CAST(bit_xor(user_id) AS BIGINT) AS users_bit_xor,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin)),
    // uniqUpTo(50): exact while <= 50, the 51 sentinel beyond — the corpus'
    // 42-67 per-slice spread exercises both branches
    Key("q_uniq_upto", (s, d) => Analytics.uniqUpTo(s, d), Oracle(
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(least(count(DISTINCT user_id), 51) AS BIGINT) AS uniq_upto
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // lag under the (epoch micros, event_id) total order both engines
    // declare; p is one division of exact BIGINTs rounded once
    Key("q_transition_matrix", Analytics.transitionMatrix, Oracle(
      """WITH s AS (SELECT user_id, event_type AS to_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id) AS from_type
        |           FROM events),
        |p AS (SELECT from_type, to_type, count(*) AS n_transitions
        |      FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n_transitions AS BIGINT) AS n_transitions,
        |  round(CAST(n_transitions AS DOUBLE) /
        |        CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE), 4) AS p
        |FROM p""".stripMargin)),
    // the same deterministic victim as wh_mutation_delete; the CASE replays
    // the doubled-cents transform over the raw rows — equality proves the
    // rewrite touched exactly the victim's rows
    Key("wh_mutation_update", Warehouse.mutationUpdate, Oracle(
      """WITH v AS (SELECT min(user_id) AS victim FROM events WHERE user_id % 97 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN user_id IS NOT DISTINCT FROM v.victim
        |                THEN CAST(round(value * 100) AS BIGINT) * 2
        |                ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS sum_cents
        |FROM events, v GROUP BY 1""".stripMargin)),
    // ceil(log2(n)) over exact integers bins identically in any IEEE engine;
    // everything after is BIGINT
    Key("pipeline_length_buckets", Pipeline.lengthBuckets, Oracle(
      s"""WITH t AS ($tokCte),
         |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
         |b AS (SELECT doc_id, n_tokens,
         |        CAST(pow(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) AS bucket_cap
         |      FROM n)
         |SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(bucket_cap - n_tokens) AS BIGINT) AS pad_waste
         |FROM b GROUP BY 1""".stripMargin)),
    // unit-cost Levenshtein DP — exact integer in both engines
    Key("text_edit_distance", TextAnalysis.editDistancePairs, Oracle(
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
        |FROM nation a, nation b WHERE a.n_name < b.n_name""".stripMargin)),
    // dim = (first two md5 hex nibbles of the TOKEN) mod 64 — the
    // engine-portable hashing-trick contract (bucket256's idiom)
    Key("text_hashed_bow", TextAnalysis.hashedBow, Oracle(
      s"""WITH t AS ($tokCte),
         |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
         |d AS (SELECT doc_id,
         |        CAST(((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
         |            + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) % 64 AS BIGINT) AS dim
         |      FROM e)
         |SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS n
         |FROM d GROUP BY 1, 2""".stripMargin)),
    Key("attendance_granular", RefPipeline.attendanceGranular, Oracle(
      """SELECT CAST(ts AS DATE) AS day, extract(hour FROM ts) AS hr, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),
    Key("dedup_cdc", Dedup.cdcChunkDedup, RowsOnly(
      "chunk boundaries come from the native cdc_chunks rolling hash; DedupSpec " +
        "checks determinism, clamp bounds and shift resynchronisation")),
    Key("dedup_exact", Dedup.exact, Oracle(
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin)),
    Key("events_count", RefPipeline.eventsCount, Oracle("SELECT count(*) AS n FROM events")),
    Key("ingest_events_typed", RefPipeline.ingestEventsTyped, Oracle(
      """SELECT event_id, CAST(ts AS DATE) AS event_date, user_id, event_type,
        |round(value, 4) AS value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events""".stripMargin)),
    Key("latest_event", RefPipeline.latestEvent, Oracle(
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC LIMIT 1""".stripMargin)),
    Key("multimodal_embed_join", Analytics.textEmbedJoin, Oracle(
      s"""WITH d AS (SELECT doc_id,
         |             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
         |           FROM documents),
         |v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |        round(sqrt(list_sum(list_transform(embedding,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS vec_norm
         |      FROM embeddings)
         |SELECT doc_id, n_tokens, label, vec_norm FROM d JOIN v ON doc_id = vec_id""".stripMargin)),
    Key("multimodal_framesample", Multimodal.frameSample, Oracle(
      """WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS n_frames FROM documents),
        |s AS (SELECT doc_id, n_frames, CAST(ceil(n_frames / 4.0) AS BIGINT) AS stride FROM m)
        |SELECT doc_id, n_frames, unnest(range(0, n_frames, stride)) AS frame_idx FROM s""".stripMargin)),
    Key("multimodal_meta", Multimodal.mediaMeta, Oracle(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 577 AS width,
        |  64 + (CAST(octet_length(encode(text)) AS BIGINT) * 31) % 417 AS height,
        |  1 + doc_id % 16 AS n_frames, 'image' AS modality
        |FROM documents""".stripMargin)),
    Key("multimodal_patches", Analytics.mediaPatches, Oracle(
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |           FROM documents),
        |p AS (SELECT doc_id, n_bytes,
        |        unnest(range(0, CAST(ceil(n_bytes / 256.0) AS BIGINT))) AS patch_idx
        |      FROM b)
        |SELECT doc_id, patch_idx, least(256, n_bytes - patch_idx * 256) AS patch_len
        |FROM p""".stripMargin)),
    Key("multimodal_resize", Multimodal.resizePlan, Oracle(
      """WITH m AS (SELECT doc_id,
        |             64 + CAST(octet_length(encode(text)) AS BIGINT) % 577 AS width,
        |             64 + (CAST(octet_length(encode(text)) AS BIGINT) * 31) % 417 AS height
        |           FROM documents),
        |r AS (SELECT doc_id, width, height,
        |        CASE WHEN width >= height THEN 224 ELSE (width * 224) // height END AS out_w,
        |        CASE WHEN width >= height THEN (height * 224) // width ELSE 224 END AS out_h
        |      FROM m)
        |SELECT doc_id, width, height, out_w, out_h,
        |       CAST(ceil(out_w / 16.0) * ceil(out_h / 16.0) AS BIGINT) AS n_patches
        |FROM r""".stripMargin)),
    Key("pipeline_train_mix", Pipeline.trainMix, Oracle(
      s"""$langCtes,
         |b AS (SELECT doc_id, pred_lang,
         |        CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS bucket
         |      FROM l)
         |SELECT doc_id, pred_lang, bucket FROM b
         |WHERE bucket < CASE WHEN pred_lang = 'en' THEN 5
         |                    WHEN pred_lang = 'unknown' THEN 2 ELSE 16 END""".stripMargin)),
    // the same md5-derived 24-bit uniform (hex CAST here, conv there) under
    // the same integer threshold — deterministic Poisson inclusion
    Key("pipeline_weighted_sample", (s, d) => Pipeline.weightedSample(s, d), Oracle(
      """WITH t AS (SELECT sum(n_chars) AS w_total FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS h24
        |FROM documents, t
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
        |      < (CAST(16777216 AS BIGINT) * 100 * n_chars) // w_total""".stripMargin)),
    Key("points_by_type", RefPipeline.pointsByType, Oracle(
      """SELECT event_type, round(CAST(sum(value) AS DOUBLE), 4) AS total_points, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),
    Key("q_anti_join", Olap.customersWithoutOrders, Oracle(
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin)),
    Key("q_approx_distinct", Analytics.approxDistinct, RowsOnly(
      "HyperLogLog++ estimates are engine-specific; AnalyticsSpec checks a 5% " +
        "band around the exact count")),
    Key("q_approx_quantile", Analytics.approxQuantiles, RowsOnly(
      "percentile_approx sketch values are engine-specific; AnalyticsSpec checks " +
        "a 5% band around the exact quantiles")),
    Key("q_funnel", Analytics.funnel, Oracle(
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS first_signup
        |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT e.user_id, count(*) AS purchases_7d, round(CAST(sum(value) AS DOUBLE), 4) AS spend_7d
        |      FROM events e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.first_signup
        |        AND epoch_us(e.ts) < s.first_signup + 604800000000
        |      GROUP BY e.user_id)
        |SELECT s.user_id, CAST(CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS converted,
        |       coalesce(p.purchases_7d, 0) AS purchases_7d,
        |       coalesce(p.spend_7d, 0.0) AS spend_7d
        |FROM s LEFT JOIN p ON s.user_id = p.user_id""".stripMargin)),
    // valid because the sketch tracker capacity (4096) covers this corpus's
    // distinct-term universe, so every sketch count is exact and the
    // deterministic (cnt desc, term) re-rank equals the exact top-10
    Key("q_heavy_hitters", Analytics.heavyHitters, Oracle(
      s"""WITH t AS ($tokCte),
         |ex AS (SELECT unnest(tk) AS term FROM t),
         |c AS (SELECT term, count(*) AS cnt FROM ex GROUP BY term),
         |r AS (SELECT term, cnt,
         |        CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk
         |      FROM c)
         |SELECT term, cnt, rnk FROM r WHERE rnk <= 10""".stripMargin)),
    // closed-form least squares on exact HUGEINT sums; every statistic is one
    // fixed IEEE sequence on exactly-converted integers
    Key("q_linreg", Analytics.linReg, Oracle(
      """WITH m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(hour(ts)) AS HUGEINT) AS sx,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sy,
        |  CAST(sum(hour(ts) * hour(ts)) AS HUGEINT) AS sxx,
        |  sum(CAST(hour(ts) AS HUGEINT) * CAST(round(value * 100) AS BIGINT)) AS sxy,
        |  sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 100) AS BIGINT)) AS syy
        |  FROM events GROUP BY 1),
        |d AS (SELECT event_type, n,
        |        n * sxy - sx * sy AS num, n * sxx - sx * sx AS den_x,
        |        n * syy - sy * sy AS den_y, sy * sxx - sx * sxy AS inum
        |      FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den_x > 0
        |    THEN round(CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE), 6) END AS slope,
        |  CASE WHEN den_x > 0
        |    THEN round(CAST(inum AS DOUBLE) / CAST(den_x AS DOUBLE), 4) END AS intercept,
        |  CASE WHEN den_x > 0 AND den_y > 0
        |    THEN round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |               / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)), 4) END AS r2
        |FROM d""".stripMargin)),
    // anchors quantized once to the integer grid by exact division; the area
    // argmax decided on exact integers with a declared total-order tiebreak —
    // row_number here == the bounded max_by there
    Key("q_lttb", Analytics.lttb, Oracle(
      """WITH pts AS (SELECT event_type, event_id, epoch_us(ts) AS tus,
        |               CAST(round(value * 100) AS BIGINT) AS cents,
        |               epoch_us(ts) // 43200000000 AS bucket
        |             FROM events),
        |a0 AS (SELECT event_type, bucket, sum(CAST(tus AS HUGEINT)) AS st,
        |         sum(CAST(cents AS HUGEINT)) AS sc, count(*) AS n
        |       FROM pts GROUP BY 1, 2),
        |a1 AS (SELECT event_type, bucket, CAST(st // n AS BIGINT) AS ax,
        |         CAST((sc * 100) // n AS BIGINT) AS ay
        |       FROM a0),
        |a2 AS (SELECT event_type, bucket,
        |         lag(ax) OVER w AS ax_prev, lag(ay) OVER w AS ay_prev,
        |         lead(ax) OVER w AS ax_next, lead(ay) OVER w AS ay_next
        |       FROM a1 WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        |c AS (SELECT p.event_type, p.bucket, p.event_id, p.cents, p.tus,
        |        abs(CAST(p.tus - ax_prev AS HUGEINT) * (ay_next - ay_prev)
        |            - CAST(ax_next - ax_prev AS HUGEINT) * (p.cents * 100 - ay_prev)) AS area2
        |      FROM pts p JOIN a2 USING (event_type, bucket)
        |      WHERE ax_prev IS NOT NULL AND ax_next IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
        |        ORDER BY area2 DESC, tus, event_id) AS rn FROM c)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, event_id,
        |       cents AS sel_cents
        |FROM r WHERE rn = 1""".stripMargin)),
    // both medians on the declared lower-median convention: min v whose
    // doubled cumulative count reaches the group total — pure BIGINT
    Key("q_mad", Analytics.mad, Oracle(
      """WITH coll AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |                count(*) AS c
        |              FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(c) AS n FROM coll GROUP BY 1),
        |cum AS (SELECT event_type, v,
        |          sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
        |        FROM coll),
        |med AS (SELECT event_type, min(v) AS median_cents
        |        FROM cum JOIN tot USING (event_type)
        |        WHERE cum * 2 >= n GROUP BY 1),
        |dev AS (SELECT coll.event_type, abs(v - median_cents) AS v2, sum(c) AS c
        |        FROM coll JOIN med USING (event_type) GROUP BY 1, 2),
        |dtot AS (SELECT event_type, sum(c) AS n FROM dev GROUP BY 1),
        |dcum AS (SELECT event_type, v2,
        |           sum(c) OVER (PARTITION BY event_type ORDER BY v2) AS cum
        |         FROM dev),
        |mad AS (SELECT event_type, min(v2) AS mad_cents
        |        FROM dcum JOIN dtot USING (event_type)
        |        WHERE cum * 2 >= n GROUP BY 1)
        |SELECT event_type, CAST(median_cents AS BIGINT) AS median_cents,
        |       CAST(mad_cents AS BIGINT) AS mad_cents
        |FROM med JOIN mad USING (event_type)""".stripMargin)),
    Key("q_part_stats", Olap.partStats, Oracle(
      """WITH g AS (SELECT p_brand, count(*) AS n_parts, count(DISTINCT p_type) AS n_types,
        |             sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS cents,
        |             round(max(p_retailprice), 4) AS max_price,
        |             CAST(min(p_size) AS BIGINT) AS min_size
        |           FROM part GROUP BY p_brand)
        |SELECT p_brand, n_parts, n_types,
        |  floor(CAST(cents AS DOUBLE) * 100.0 / n_parts + 0.5) / 10000.0 AS avg_price,
        |  max_price, min_size
        |FROM g""".stripMargin)),
    Key("q_quantiles", Analytics.quantiles, Oracle(
      """SELECT event_type,
        |  round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
        |  round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
        |  round(max(value), 4) AS max_value, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),
    Key("q_rollup", Olap.ordersRollup, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin)),
    Key("q_running_total", Analytics.runningTotal, Oracle(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, round(CAST(sum(value) AS DOUBLE), 4) AS daily
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, day, daily,
        |  round(CAST(sum(daily) OVER (PARTITION BY event_type ORDER BY day
        |                         ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS running
        |FROM d""".stripMargin)),
    Key("q_sample", Analytics.sample, Oracle(
      """SELECT event_type, count(*) AS n, round(CAST(sum(value) AS DOUBLE), 4) AS total
        |FROM events WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |GROUP BY event_type""".stripMargin)),
    // U = (T - Sx - Sy + Sxy) / (T - Sx) on exact integers: the N in both
    // entropy scalings cancels; quantized log2 is the entropy drill
    Key("q_theils_u", Analytics.theilsU, Oracle(
      """WITH cells AS (SELECT event_type, dayofweek(ts) AS dow, count(*) AS c
        |               FROM events GROUP BY 1, 2),
        |q AS (SELECT sum(CAST(c AS HUGEINT)
        |        * CAST(floor(log2(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sxy,
        |        sum(c) AS n
        |      FROM cells),
        |mx AS (SELECT sum(CAST(cx AS HUGEINT)
        |         * CAST(floor(log2(CAST(cx AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sx
        |       FROM (SELECT event_type, sum(c) AS cx FROM cells GROUP BY 1)),
        |my AS (SELECT sum(CAST(cy AS HUGEINT)
        |         * CAST(floor(log2(CAST(cy AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sy
        |       FROM (SELECT dow, sum(c) AS cy FROM cells GROUP BY 1)),
        |f AS (SELECT n, sxy, sx, sy,
        |        CAST(n AS HUGEINT)
        |        * CAST(floor(log2(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS t
        |      FROM q, mx, my)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN t - sx > 0
        |    THEN round(CAST(t - sx - sy + sxy AS DOUBLE)
        |               / CAST(t - sx AS DOUBLE), 4) END AS theils_u
        |FROM f""".stripMargin)),
    Key("q_top_spenders", Analytics.topSpenders, Oracle(
      """WITH u AS (SELECT event_type, user_id, round(CAST(sum(value) AS DOUBLE), 4) AS total
        |           FROM events GROUP BY event_type, user_id),
        |r AS (SELECT event_type, user_id,
        |        row_number() OVER (PARTITION BY event_type ORDER BY total DESC, user_id) AS rnk
        |      FROM u)
        |SELECT event_type, string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY rnk) AS top_users
        |FROM r WHERE rnk <= 3 GROUP BY event_type""".stripMargin)),
    // Kafka wire leg: the record frame is a pure function of the row index
    // (round-robin partition, per-partition monotone offset, student-keyed,
    // NDJSON value), so the oracle replays the identical arithmetic from
    // range() — frame metadata AND parsed payload both checked per (topic,
    // partition)
    Key("ref_ingest_kafka", EventsSource.refIngestKafka, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i))
        |SELECT 'entry-events' AS topic,
        |       CAST(i % 16 AS INT) AS "partition",
        |       CAST(count(*) AS BIGINT) AS n_records,
        |       CAST(max(i // 16) AS BIGINT) AS last_offset,
        |       CAST(sum(i % 21 - 10) AS BIGINT) AS total_points,
        |       CAST(count(DISTINCT 'S' || CAST(i % 50 AS VARCHAR)) AS BIGINT) AS n_keys
        |FROM g GROUP BY 1, 2""".stripMargin)),
    Key("text_bigrams", TextAnalysis.bigrams, Oracle(
      s"""WITH t AS ($tokCte),
         |b AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS bigram
         |      FROM t WHERE len(tk) >= 2)
         |SELECT bigram, count(DISTINCT doc_id) AS df, count(*) AS cf FROM b GROUP BY bigram""".stripMargin)),
    Key("text_langid", TextAnalysis.langId, Oracle(
      s"""WITH t AS ($tokCte),
         |h AS (SELECT doc_id,
         |        len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS hits_en,
         |        len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS hits_de,
         |        len(list_filter(tk, x -> x IN ('le','la','et','est','les'))) AS hits_fr,
         |        len(list_filter(tk, x -> x IN ('el','los','y','es','las'))) AS hits_es
         |      FROM t)
         |SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
         |  CASE WHEN hits_en + hits_de + hits_fr + hits_es = 0 THEN 'unknown'
         |       WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
         |       WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
         |       WHEN hits_fr >= hits_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |FROM h""".stripMargin)),
    Key("text_tokens", TextAnalysis.tokens, Oracle(
      s"""WITH t AS ($tokCte)
         |SELECT t.doc_id, len(tk) AS n_tokens, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS n_token_chars,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_regex_tokens,
         |  CAST(ceil(length(text) / CAST(4.0 AS DOUBLE)) AS BIGINT) AS n_bpe_est
         |FROM t JOIN documents d ON t.doc_id = d.doc_id""".stripMargin)),
    Key("text_topterms", Analytics.topTerms, Oracle(
      s"""WITH t AS ($tokCte),
         |ex AS (SELECT doc_id, unnest(tk) AS term FROM t)
         |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM ex GROUP BY term""".stripMargin)),
    // visibility replay: dropped (01-20) + still-detached (01-12) days
    // absent, the reattached day (01-05) present
    Key("wh_partition_ops", Warehouse.partitionOps, Oracle(
      """SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE CAST(ts AS DATE) NOT IN (DATE '2024-01-12', DATE '2024-01-20')
        |GROUP BY 1""".stripMargin)),
    // the README's ClickHouse-SQL scripts run VERBATIM through the dialect
    // front-end against the same wire-index arithmetic as the native ref_
    // keys — equality proves the scripts produce the oracle numbers through
    // the translation layer
    Key("ref_ch_points_by_house", ClickHouseDemo.refChPointsByHouse, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i))
        |SELECT ['Gryffindor','Hufflepuff','Ravenclaw','Slytherin'][CAST(i % 4 AS INT) + 1] AS house,
        |       CAST(sum(i % 21 - 10) AS BIGINT) AS total_points
        |FROM g GROUP BY 1""".stripMargin)),
    // the full Step 3+4 MV chain. Coarse frame: 37 events per hourly slot
    // (NOT divisible by the 4-subject cycle, so slot counts vary and
    // max/min/avg really discriminate); granular = count per (slot ms,
    // subject); daily = max/min/avg of those counts with the day bucket
    // computed in pure epoch arithmetic (UTC both sides); avg is ONE division
    // of exact integer sums (the avgMerge contract)
    Key("ref_ch_attendance_daily", ClickHouseDemo.refChAttendanceDaily, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |e AS (SELECT 1378022400000 + (i // 37) * 3600000 AS ms,
        |             ['Potions','Charms','Herbology','Transfiguration'][CAST(i % 4 AS INT) + 1] AS subject
        |      FROM g),
        |gr AS (SELECT ms, subject, count(*) AS sc FROM e GROUP BY 1, 2)
        |SELECT CAST(epoch_ms(ms - ms % 86400000) AS DATE) AS day, subject,
        |       CAST(max(sc) AS INT) AS max, CAST(min(sc) AS INT) AS min,
        |       CAST(sum(sc) AS DOUBLE) / count(*) AS avg
        |FROM gr GROUP BY 1, 2""".stripMargin)),
    // cluster-representative selection: the dedup_clusters recursive-CTE
    // components joined to text_quality's score formula; the winner is the
    // (score, doc_id)-lexicographic max per cluster (total order -> same
    // winner in any engine)
    Key("pipeline_keep_best", Pipeline.keepBest, Oracle(
      s"""WITH RECURSIVE tkt AS ($tokCte),
         |sgt AS (SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
         |                                      for i in range(1, len(tk) - 1)]) AS sg FROM tkt),
         |ex AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS sh FROM sgt WHERE len(sg) > 0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         |             any_value(a.n) AS na, any_value(b.n) AS nb
         |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |e0 AS (SELECT doc_a, doc_b FROM p
         |       WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.8),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM e0
         |      UNION SELECT doc_b, doc_a FROM e0),
         |reach(a, b) AS (SELECT a, b FROM e
         |                UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
         |m AS (SELECT doc_id, len(tk) AS n_tok,
         |        len(list_filter(tk, x -> x IN ('the','a','of','and','in','to','is'))) AS n_stop
         |      FROM tkt),
         |q AS (SELECT doc_id,
         |        CASE WHEN n_tok > 0 THEN round(least(1.0, CAST(n_tok AS DOUBLE) / 100.0) *
         |               (1.0 - n_stop / CAST(n_tok AS DOUBLE)), 4) ELSE 0.0 END AS quality_score
         |      FROM m),
         |j AS (SELECT cl.cluster_id, cl.doc_id, q.quality_score
         |      FROM cl JOIN q ON cl.doc_id = q.doc_id)
         |SELECT cluster_id, kept_doc, n_members, best_quality FROM (
         |  SELECT cluster_id, doc_id AS kept_doc, quality_score AS best_quality,
         |         count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |         row_number() OVER (PARTITION BY cluster_id
         |                            ORDER BY quality_score DESC, doc_id DESC) AS rn
         |  FROM j) WHERE rn = 1""".stripMargin)),
    // retained-norm fractions: same sequential fold + single-division + 1e-4
    // HALF-UP-floor contract as the dedup_embedding cosine oracle
    Key("emb_matryoshka", Similarity.matryoshkaRetention, Oracle(
      """WITH v AS (SELECT vec_id,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT vec_id,
        |  floor(sqrt(list_sum(list_transform(v[1:16], x -> x * x)))
        |    / sqrt(list_sum(list_transform(v, x -> x * x))) * 1e4 + 0.5) / 1e4 AS retain_16,
        |  floor(sqrt(list_sum(list_transform(v[1:32], x -> x * x)))
        |    / sqrt(list_sum(list_transform(v, x -> x * x))) * 1e4 + 0.5) / 1e4 AS retain_32,
        |  floor(sqrt(list_sum(list_transform(v[1:48], x -> x * x)))
        |    / sqrt(list_sum(list_transform(v, x -> x * x))) * 1e4 + 0.5) / 1e4 AS retain_48
        |FROM v""".stripMargin)),
    // the -If combinator / uniqExact / argMax vocabulary replayed from the
    // wire-index arithmetic; the selector order column is the event index
    // (timestamps are epoch + i*1h, so ordering by i IS ordering by
    // timestamp); avg_award is one division of exact integer sums
    Key("ref_ch_conditional", ClickHouseDemo.refChConditional, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |e AS (SELECT ['Gryffindor','Hufflepuff','Ravenclaw','Slytherin'][CAST(i % 4 AS INT) + 1] AS house,
        |             'T' || CAST(i % 7 AS VARCHAR) AS teacher,
        |             'R' || CAST(i % 9 AS VARCHAR) AS room,
        |             i % 21 - 10 AS points, i FROM g)
        |SELECT house,
        |       CAST(count(CASE WHEN points < 0 THEN 1 END) AS BIGINT) AS penalties,
        |       CAST(sum(CASE WHEN points > 0 THEN points END) AS BIGINT) AS awarded,
        |       CAST(sum(CASE WHEN points > 0 THEN points END) AS DOUBLE)
        |         / count(CASE WHEN points > 0 THEN 1 END) AS avg_award,
        |       CAST(count(DISTINCT teacher) AS BIGINT) AS n_teachers,
        |       arg_max(teacher, i) AS last_teacher,
        |       arg_min(room, i) AS first_room
        |FROM e GROUP BY 1""".stripMargin)),
    // LIMIT 2 BY house = row_number <= 2 under the same (entries DESC, room)
    // deterministic tie-break; counts tie by construction (28 of the 36
    // (house, room) residue cells hold 2778 rows, 8 hold 2777)
    Key("ref_ch_top_rooms", ClickHouseDemo.refChTopRooms, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |c AS (SELECT ['Gryffindor','Hufflepuff','Ravenclaw','Slytherin'][CAST(i % 4 AS INT) + 1] AS house,
        |             'R' || CAST(i % 9 AS VARCHAR) AS room,
        |             CAST(count(*) AS BIGINT) AS entries
        |      FROM g GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY house ORDER BY entries DESC, room) AS rn FROM c)
        |SELECT house, room, entries FROM r WHERE rn <= 2""".stripMargin)),
    // month/day-part/ISO-weekday replay: DuckDB's isodow is Mon=1..Sun=7, the
    // same convention the toDayOfWeek translation produces; both engines
    // bucket the identical epoch-ms instants under UTC
    Key("ref_ch_daypart", ClickHouseDemo.refChDaypart, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |e AS (SELECT epoch_ms(1378022400000 + i * 3600000) AS ts, i % 21 - 10 AS points FROM g),
        |d AS (SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
        |             CASE WHEN hour(ts) < 6 THEN 'night'
        |                  WHEN hour(ts) < 12 THEN 'morning'
        |                  WHEN hour(ts) < 18 THEN 'afternoon'
        |                  ELSE 'evening' END AS daypart,
        |             isodow(ts) AS wd, points FROM e)
        |SELECT month, daypart, CAST(count(*) AS BIGINT) AS entries,
        |       CAST(count(DISTINCT wd) AS BIGINT) AS active_weekdays,
        |       CAST(sum(points) AS BIGINT) AS net_points
        |FROM d GROUP BY 1, 2""".stripMargin)),
    // the exploded token stream is exactly one subject + one teacher + one
    // room token per event — replayed as a three-way UNION ALL
    Key("ref_ch_tokens", ClickHouseDemo.refChTokens, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |t AS (SELECT ['Potions','Charms','Herbology','Transfiguration'][CAST(i % 4 AS INT) + 1] AS token FROM g
        |      UNION ALL SELECT 'T' || CAST(i % 7 AS VARCHAR) FROM g
        |      UNION ALL SELECT 'R' || CAST(i % 9 AS VARCHAR) FROM g)
        |SELECT token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1""".stripMargin)),
    // the sparse (Potions, T0) slice replayed, left-joined onto the fill
    // calendar; 18 of 21 rows are synthesized zeros
    Key("ref_ch_with_fill", ClickHouseDemo.refChWithFill, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |e AS (SELECT i % 21 - 10 AS points FROM g WHERE i % 4 = 0 AND i % 7 = 0),
        |c AS (SELECT points, count(*) AS n FROM e GROUP BY 1),
        |f AS (SELECT unnest(generate_series(-10, 10)) AS points)
        |SELECT CAST(f.points AS INT) AS points, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM f LEFT JOIN c ON f.points = c.points""".stripMargin)),
    // uniqUpTo(N)(x) == least(count(DISTINCT x), N+1), replayed from the
    // residue structure (rooms 3-of-9, teachers 1-of-7, names all 50)
    Key("ref_ch_uniq_upto", ClickHouseDemo.refChUniqUpTo, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |e AS (SELECT CAST(i % 21 - 10 AS INT) AS points,
        |             'R' || CAST(i % 9 AS VARCHAR) AS room,
        |             'T' || CAST(i % 7 AS VARCHAR) AS teacher,
        |             'S' || CAST(i % 50 AS VARCHAR) AS name FROM g)
        |SELECT points,
        |       CAST(least(count(DISTINCT room), 3) AS BIGINT) AS rooms_capped,
        |       CAST(count(DISTINCT room) AS BIGINT) AS rooms_exact,
        |       CAST(least(count(DISTINCT teacher), 6) AS BIGINT) AS teachers_capped,
        |       CAST(least(count(DISTINCT name), 11) AS BIGINT) AS names_capped
        |FROM e GROUP BY 1""".stripMargin)),
    // version-wins per student replayed: the winning generation is the v2
    // positive-only sum; house = min over the student's two houses (i%4 walks
    // {s, s+2} mod 4), identical to each insert's min()
    Key("ref_ch_final", ClickHouseDemo.refChFinal, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i)),
        |e AS (SELECT 'S' || CAST(i % 50 AS VARCHAR) AS student,
        |             ['Gryffindor','Hufflepuff','Ravenclaw','Slytherin'][CAST(i % 4 AS INT) + 1] AS house,
        |             i % 21 - 10 AS points FROM g)
        |SELECT student, min(house) AS house,
        |       CAST(sum(CASE WHEN points > 0 THEN points END) AS BIGINT) AS points,
        |       CAST(2 AS BIGINT) AS version
        |FROM e GROUP BY 1""".stripMargin)),
    // ExactSubstr (Lee et al. 2022) positional 8-gram replay on STRING grams
    // (the Spark side joins on chained token hashes — a collision would
    // surface here as a driver hash mismatch, the shinglesExpr contract);
    // runs via the classic pos - row_number islands rewrite
    Key("dedup_substring", (s, d) => Dedup.substringDedup(s, d), Oracle(
      s"""WITH tkt AS ($tokCte),
         |wnd AS (SELECT doc_id, [{'p': i, 'g': array_to_string(tk[i:i+7], ' ')}
         |                        for i in range(1, len(tk) - 6)] AS gs
         |        FROM tkt WHERE len(tk) >= 8),
         |gr AS (SELECT doc_id, unnest(gs, recursive := true) FROM wnd),
         |d AS (SELECT g FROM gr GROUP BY g HAVING min(doc_id) <> max(doc_id)),
         |m AS (SELECT doc_id, p FROM gr JOIN d USING (g)),
         |isl AS (SELECT doc_id, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM m),
         |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp),
         |s AS (SELECT doc_id, sum(run) AS n_dup_windows, max(run) + 7 AS max_dup_run
         |      FROM runs GROUP BY 1)
         |SELECT dd.doc_id,
         |       CAST(coalesce(s.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         |       CAST(coalesce(s.max_dup_run, 0) AS BIGINT) AS max_dup_run,
         |       CAST(coalesce(s.n_dup_windows, 0) = 0 AS BIGINT) AS is_clean
         |FROM documents dd LEFT JOIN s ON dd.doc_id = s.doc_id""".stripMargin)),
    // the identical islands rewrite (epoch-day − row_number constant per run)
    // — all exact integer arithmetic
    Key("q_user_streaks", Analytics.userStreaks, Oracle(
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id,
        |        CAST(day - DATE '1970-01-01' AS BIGINT)
        |          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |      FROM d),
        |r AS (SELECT user_id, count(*) AS len FROM i GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS longest_streak
        |FROM r GROUP BY 1""".stripMargin)),
    // the same md5 order and md5-bucket-mod shard; the per-shard row_number
    // here equals Spark's global-rank-minus-offset arithmetic
    Key("pipeline_shard", (s, d) => Pipeline.shard(s, d), Oracle(
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |        CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS BIGINT) % 8 AS shard
        |      FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM s""".stripMargin)),
    // the JSONEachRow queue alternative lands on the SAME answer as the
    // JSONAsString chain and the native key — one oracle, three paths
    Key("ref_ch_each_row", ClickHouseDemo.refChEachRow, Oracle(
      """WITH g AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 100000) t(i))
        |SELECT ['Gryffindor','Hufflepuff','Ravenclaw','Slytherin'][CAST(i % 4 AS INT) + 1] AS house,
        |       CAST(sum(i % 21 - 10) AS BIGINT) AS total_points
        |FROM g GROUP BY 1""".stripMargin)),
    // DSIR importance resampling: every log2(integer) quantized once to 1e-6
    // (the q_entropy idiom), weights and scores exact BIGINT sums, bucket
    // hash = first two md5 nibbles (the hashed_bow contract); deterministic
    // top-n/5 with a doc_id tiebreak
    Key("pipeline_dsir", Pipeline.dsir, Oracle(
      s"""WITH t AS ($tokCte),
         |e AS (SELECT t.doc_id, d.lang,
         |        unnest(list_concat(tk,
         |          [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])) AS tok
         |      FROM t JOIN documents d ON t.doc_id = d.doc_id),
         |f AS (SELECT doc_id, lang,
         |        CAST(((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
         |            + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) % 256 AS BIGINT) AS dim
         |      FROM e),
         |pd AS (SELECT doc_id, lang, dim, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2, 3),
         |dist AS (SELECT dim, CAST(sum(c) AS BIGINT) AS c_raw,
         |           CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS c_tgt
         |         FROM pd GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
         |               CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM dist),
         |w AS (SELECT dim,
         |        CAST(floor(log2(CAST(c_tgt + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |      - CAST(floor(log2(CAST(t_tgt + 256 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |      - (CAST(floor(log2(CAST(c_raw + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |         - CAST(floor(log2(CAST(t_raw + 256 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS q6
         |      FROM dist, tot),
         |s AS (SELECT d.doc_id, d.lang,
         |        CAST(coalesce(sum(pd.c * w.q6), 0) AS BIGINT) AS score_q6
         |      FROM documents d
         |      LEFT JOIN pd ON pd.doc_id = d.doc_id
         |      LEFT JOIN w ON pd.dim = w.dim
         |      GROUP BY 1, 2)
         |SELECT doc_id, lang, score_q6 FROM s
         |QUALIFY row_number() OVER (ORDER BY score_q6 DESC, doc_id)
         |        <= (SELECT count(*) // 5 FROM documents)""".stripMargin)),
    // within-bucket pair predicate shares dedup_embedding's sequential fold +
    // 1e-4 HALF-UP cosine contract; bucket = sign bits of the first 4 dims
    Key("dedup_semantic", (s, d) => Dedup.semantic(s, d), Oracle(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |k AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
        |        CAST((CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
        |           + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
        |           + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
        |           + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
        |      FROM e),
        |d AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS w
        |      FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |      WHERE round(list_sum(list_transform(a.v, (x, i) -> x * b.v[i]))
        |              / (a.nrm * b.nrm), 4) >= 0.42
        |      GROUP BY 1)
        |SELECT k.vec_id, k.bucket,
        |  CAST(coalesce(d.w, -1) AS BIGINT) AS dup_of,
        |  CAST(d.w IS NULL AS BIGINT) AS kept
        |FROM k LEFT JOIN d ON k.vec_id = d.vec_id""".stripMargin)),
    // the capped-k-means production bucketing of dedup_semantic:
    // SemanticKMeansSpec owns the cap/soundness contract, this phase owns its
    // cost
    Key("dedup_semantic_kmeans", (s, d) => Dedup.semanticKMeans(s, d), BenchOnly),
    // doubled midranks keep rank sums exact BIGINT; the z normal
    // approximation (with the tie correction) is one fixed IEEE sequence on
    // exact integers, rounded once to 1e-4 — the welch_ttest contract
    Key("q_mann_whitney", Analytics.mannWhitney, Oracle(
      """WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |            FROM events WHERE event_type IN ('purchase', 'click')),
        |b AS (SELECT v,
        |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |      FROM ev GROUP BY 1),
        |c AS (SELECT v, n1, n2, n1 + n2 AS m,
        |        CAST(sum(n1 + n2) OVER (ORDER BY v) AS BIGINT) AS cum_m FROM b),
        |s AS (SELECT CAST(sum(n1) AS BIGINT) AS n1, CAST(sum(n2) AS BIGINT) AS n2,
        |        CAST(sum(n1 * (2 * (cum_m - m) + m + 1)) AS BIGINT) AS r1_x2,
        |        CAST(sum(m * m * m - m) AS BIGINT) AS tie3
        |      FROM c)
        |SELECT 'purchase' AS group_a, 'click' AS group_b, n1, n2,
        |  CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
        |  round((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
        |           - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
        |        sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |             (CAST(n1 + n2 + 1 AS DOUBLE)
        |                - CAST(tie3 AS DOUBLE) /
        |                  (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 4) AS z_score
        |FROM s""".stripMargin)),
    // BM25 replay: identical operand order in the one float expression;
    // per-(doc,term) scores quantize to 1e-4 BIGINTs before the per-doc sum;
    // the top-20 is deterministic via the doc_id tiebreak
    Key("text_bm25", TextAnalysis.bm25, Oracle(
      s"""WITH t AS ($tokCte),
         |tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS term
         |        FROM t WHERE len(tk) >= 1),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
         |       FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |q AS (SELECT term, df FROM df
         |      QUALIFY row_number() OVER (ORDER BY df DESC, term) IN (1, 7, 23)),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |ad AS (SELECT floor(CAST(sum(dl) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS avgdl
         |       FROM (SELECT doc_id, max(dl) AS dl FROM tok GROUP BY doc_id) d),
         |s AS (SELECT tf.doc_id,
         |        CAST(floor(ln((CAST(n.n_docs AS DOUBLE) - q.df + 0.5) / (q.df + 0.5) + 1.0)
         |          * ((CAST(tf.tf AS DOUBLE) * 2.2)
         |            / (CAST(tf.tf AS DOUBLE)
         |              + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / ad.avgdl))))
         |          * 1e4 + 0.5) AS BIGINT) AS s_q4
         |      FROM tf JOIN q ON tf.term = q.term CROSS JOIN n CROSS JOIN ad)
         |SELECT doc_id, CAST(sum(s_q4) AS BIGINT) AS score_q4 FROM s GROUP BY doc_id
         |ORDER BY score_q4 DESC, doc_id LIMIT 20""".stripMargin)),
    // radius query: same scored-pair CTE, membership on the 1e-6-rounded
    // score (the rank contract applied to a threshold) instead of a rank
    Key("ann_range", (s, d) => Similarity.rangeSearch(s, d), Oracle(
      s"""$vecCtes,
         |q AS (SELECT vec_id AS q_id, v AS va, nrm AS nrma FROM nv WHERE vec_id < 10),
         |c AS (SELECT vec_id AS n_id, v AS vb, nrm AS nrmb FROM nv WHERE vec_id >= 10),
         |s AS (SELECT q_id, n_id,
         |        list_sum(list_transform(va, (x, i) -> x * vb[i])) / (nrma * nrmb) AS cosine
         |      FROM c, q)
         |SELECT q_id, n_id, round(cosine, 4) AS score
         |FROM s WHERE round(cosine, 6) >= 0.2""".stripMargin)),
    // binary-quantization cascade replay: two 32-bit sign words (exact
    // integer pack — fold order irrelevant), bit_count(xor) Hamming,
    // deterministic (hamming, n_id) shortlist, exact-cosine rerank
    Key("ann_hamming", (s, d) => Similarity.hammingTopK(s, d), Oracle(
      s"""$vecCtes,
         |p AS (SELECT vec_id,
         |        CAST(list_sum(list_transform(generate_series(1, 32),
         |          i -> CASE WHEN v[i] > 0 THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END)) AS BIGINT) AS h0,
         |        CAST(list_sum(list_transform(generate_series(1, 32),
         |          i -> CASE WHEN v[i + 32] > 0 THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END)) AS BIGINT) AS h1
         |      FROM nv),
         |qp AS (SELECT vec_id AS q_id, h0 AS a0, h1 AS a1 FROM p WHERE vec_id < 10),
         |cp AS (SELECT vec_id AS n_id, h0 AS b0, h1 AS b1 FROM p WHERE vec_id >= 10),
         |h AS (SELECT q_id, n_id,
         |        CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS BIGINT) AS hamming
         |      FROM cp, qp),
         |cand AS (SELECT q_id, n_id, hamming,
         |           row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS rn
         |         FROM h),
         |s AS (SELECT cand.q_id, cand.n_id, cand.hamming,
         |        list_sum(list_transform(a.v, (x, i) -> x * b.v[i])) / (a.nrm * b.nrm) AS cosine
         |      FROM cand JOIN nv a ON a.vec_id = cand.q_id JOIN nv b ON b.vec_id = cand.n_id
         |      WHERE cand.rn <= 50),
         |r AS (SELECT q_id, n_id, hamming, round(cosine, 4) AS score,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |          ORDER BY round(cosine, 6) DESC, n_id) AS BIGINT) AS rnk
         |      FROM s)
         |SELECT q_id, n_id, hamming, score, rnk FROM r WHERE rnk <= 5""".stripMargin)),
    // distributed-GD training replay: 3 epochs of the fixed-point
    // hard-sigmoid logistic loop, unrolled as integer CTEs
    Key("pipeline_classifier_filter", (s, d) => Pipeline.classifierFilter(s, d), Oracle(
      classifierSql(3))),
    // 5 unrolled integer damped-walk iterations over the shared edge CTEs
    // (exact 1e-12-unit BIGINT)
    Key("q_pagerank", (s, d) => Graph.pageRank(s, d), Oracle(pageRankSql(5))),
    // recursive-CTE replay of the frozen-merge BPE encode (encode once per
    // DISTINCT word, re-expand by word count)
    Key("text_bpe_encode", TextAnalysis.bpeEncode, Oracle(bpeSql)),
    // Large-Star/Small-Star (Kiveris et al. 2014): 8 unrolled alternations,
    // pure set semantics
    Key("q_components", (s, d) => Graph.components(s, d), Oracle(componentsSql(8))),
    // the exact integer chunk grid + md5 window identity
    Key("text_chunk", (s, d) => TextAnalysis.chunk(s, d), Oracle(
      """SELECT doc_id, ci AS chunk_idx,
        |  CAST(least(16, n - ci * 12) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(tk[ci * 12 + 1 : ci * 12 + least(16, n - ci * 12)], ' ')) AS chunk_hash
        |FROM (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    unnest(range(0, 1 + CASE WHEN len(tk) > 16 THEN (len(tk) - 16 + 11) // 12 ELSE 0 END)) AS ci
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents) d
        |  WHERE len(tk) > 0) q""".stripMargin)),
    // degree-oriented wedge construction (Suri-Vassilvitskii) + EXISTS
    // closure, pure set semantics; cc is one flooring division of positive
    // BIGINTs
    Key("q_triangles", (s, d) => Graph.triangles(s, d), Oracle(trianglesSql)),
    // 4 unrolled authority/hub half-step pairs, exact 1e-9-unit BIGINT
    Key("q_hits", (s, d) => Graph.hits(s, d), Oracle(hitsSql(4))),
    // PMI over adjacent word pairs (support floor 5): exact-BIGINT products
    // cast once, the identical libm ln on the identical double, HALF-UP 1e-6
    // floor
    Key("text_collocations", (s, d) => TextAnalysis.collocations(s, d), Oracle(
      s"""WITH t AS ($tokCte),
         |co_u AS (SELECT unnest(tk) AS w FROM t),
         |co_uni AS (SELECT w, count(*) AS cu FROM co_u GROUP BY 1),
         |co_b AS (SELECT unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS bigram
         |         FROM t WHERE len(tk) >= 2),
         |co_bg AS (SELECT bigram, count(*) AS cab FROM co_b GROUP BY 1),
         |co_n AS (SELECT sum(cab) AS n FROM co_bg)
         |SELECT g.bigram, g.cab AS n_pair, u1.cu AS n_w1, u2.cu AS n_w2,
         |  CAST(floor(ln(CAST((SELECT n FROM co_n) * g.cab AS DOUBLE)
         |                / CAST(u1.cu * u2.cu AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS pmi_q6
         |FROM co_bg g
         |JOIN co_uni u1 ON split_part(g.bigram, ' ', 1) = u1.w
         |JOIN co_uni u2 ON split_part(g.bigram, ' ', 2) = u2.w
         |WHERE g.cab >= 5
         |ORDER BY pmi_q6 DESC, g.bigram LIMIT 30""".stripMargin)),
    // one narrow per-doc fact pass joined to the shared langId vote, GROUPING
    // SETS rollup, exact-integer ratio quantizations
    Key("pipeline_data_card", Pipeline.dataCard, Oracle(
      s"""$langCtes,
         |dc_f AS (
         |  SELECT d.doc_id, d.source, d.n_chars,
         |         len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tok,
         |         md5(d.text) AS th, l.pred_lang
         |  FROM documents d JOIN l ON d.doc_id = l.doc_id)
         |SELECT coalesce(source, 'ALL') AS source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |       (100 * CAST(sum(n_tok) AS BIGINT)) // count(*) AS avg_tokens_q2,
         |       (10000 * (count(*) - count(DISTINCT th))) // count(*) AS dup_rate_q4,
         |       (10000 * CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS en_share_q4
         |FROM dc_f GROUP BY GROUPING SETS ((source), ())
         |ORDER BY 1""".stripMargin)),
    // capped BFS min-distance recurrence from a deterministic 3-node seed
    // set, 4 unrolled MATERIALIZED rounds
    Key("q_seed_distance", (s, d) => Graph.seedDistance(s, d), Oracle(seedDistanceSql(4))),
    // exact log2 bucket via binary-string length (no float log at the
    // power-of-2 boundaries), identical bin() semantics in both engines
    Key("q_degree_dist", (s, d) => Graph.degreeDist(s, d), Oracle(
      """WITH dd_p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |dd_e AS (
        |  SELECT c AS src, s AS dst FROM dd_p WHERE w >= 2
        |  UNION ALL SELECT s AS src, c AS dst FROM dd_p WHERE w >= 2),
        |dd_g AS (SELECT src, count(*) AS deg FROM dd_e GROUP BY 1)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(CASE WHEN src % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
        |       CAST(sum(CASE WHEN src % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
        |       CAST(min(deg) AS BIGINT) AS min_deg, CAST(max(deg) AS BIGINT) AS max_deg
        |FROM dd_g GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the batch rendition of the streamed hourly aggregate + rank: equality
    // proves the complete-mode state converged to the batch answer (hour key
    // = exact epoch-second integer in both engines)
    Key("streaming_topk", (s, d) => RefPipeline.streamingTopK(s, d), Oracle(
      """WITH tk_e AS (SELECT event_type,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_s FROM events),
        |tk_g AS (SELECT hour_s, event_type, count(*) AS n FROM tk_e GROUP BY 1, 2),
        |tk_r AS (SELECT hour_s, event_type, n,
        |    row_number() OVER (PARTITION BY hour_s ORDER BY n DESC, event_type) AS rn
        |  FROM tk_g)
        |SELECT hour_s, event_type, CAST(n AS BIGINT) AS n, CAST(rn AS BIGINT) AS rn
        |FROM tk_r WHERE rn <= 3 ORDER BY hour_s, rn""".stripMargin)),
    // Newman assortativity: exact BIGINT moments over the symmetric edge list
    // + the q_corr pinned-operand-order double chain, rounded once
    Key("q_assortativity", (s, d) => Graph.assortativity(s, d), Oracle(
      """WITH as_p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |as_e AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM as_p WHERE w >= 2
        |  UNION ALL SELECT s AS src, c AS dst FROM as_p WHERE w >= 2),
        |as_g AS MATERIALIZED (SELECT src AS n, count(*) AS d FROM as_e GROUP BY 1),
        |as_m AS (
        |  SELECT count(*) AS n,
        |         sum(ga.d) AS sx, sum(gb.d) AS sy,
        |         sum(ga.d * ga.d) AS sxx, sum(gb.d * gb.d) AS syy,
        |         sum(ga.d * gb.d) AS sxy
        |  FROM as_e e JOIN as_g ga ON e.src = ga.n JOIN as_g gb ON e.dst = gb.n)
        |SELECT CAST(n AS BIGINT) AS n_directed_edges,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |        (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        |    AS assortativity
        |FROM as_m""".stripMargin)),
    // k=3 peel: 8 unrolled MATERIALIZED rounds, pure set semantics
    Key("q_kcore", (s, d) => Graph.kcore(s, d), Oracle(kcoreSql(3, 8))),
    // 4 unrolled synchronous LPA rounds: per-node neighbor-label mode with
    // the (count DESC, label ASC) deterministic window tie rule
    Key("q_label_prop", (s, d) => Graph.labelProp(s, d), Oracle(labelPropSql(4))),
    // Newman modularity of the LPA partition: the same LPA rounds + exact
    // moments + the pinned Q double chain
    Key("q_modularity", (s, d) => Graph.modularity(s, d), Oracle(modularitySql(4))),
    // orientation-free a<b<c triple-join triangle count + exact wedge moments
    // + the single pinned 3.0·T/W double chain
    Key("q_transitivity", (s, d) => Graph.transitivity(s, d), Oracle(transitivitySql)),
    // Resource-Allocation: capped wedge self-join + exact 1e6//d weight sums
    // + NOT EXISTS
    Key("q_link_predict", (s, d) => Graph.linkPredict(s, d), Oracle(
      linkPredictSql(Graph.LinkPredictDmax))),
    // DOULION: deterministic 1/4 hash coin, exact count on the sample,
    // unbiased 64x scale-up — all BIGINT until the one pinned transitivity
    // double
    Key("q_triangles_approx", (s, d) => Graph.trianglesApprox(s, d), Oracle(trianglesApproxSql)),
    // 8 learned merge rounds unrolled: pair census, (n DESC, a, b) top-1, one
    // greedy-leftmost replace advance
    Key("text_bpe_train", (s, d) => TextAnalysis.bpeTrain(s, d), Oracle(
      bpeTrainSql(operators.TextAnalysis.BpeTrainRounds))),
    // the sampled per-node DOULION census + declared floor + exact full
    // degrees
    Key("q_triangles_approx_nodes", (s, d) => Graph.trianglesApproxNodes(s, d), Oracle(
      trianglesApproxNodesSql)),
    // the train CTEs carrying w, every state materialized, final state
    // tokenized into the encode-shaped top-30 histogram
    Key("text_bpe_apply", (s, d) => TextAnalysis.bpeApply(s, d), Oracle(
      bpeApplySql(operators.TextAnalysis.BpeTrainRounds))),
    // quantized integer DLT priorities, per-stratum rank, (k+1)-th as tau,
    // the max(w, tau) estimate — pure positive-BIGINT arithmetic
    Key("q_reservoir", (s, d) => Pipeline.reservoir(s, d), Oracle(reservoirSql)),
    // the IVF nprobe sweep: Round16Spec owns the monotonicity/endpoint
    // contract, this phase owns its cost
    Key("ann_recall_curve", (s, d) => Similarity.ivfRecallCurve(s, d), BenchOnly),
    // q_reservoir's oracle verbatim: priorities are deterministic and the
    // top-k is order-insensitive, so the state kept by mapGroupsWithState's
    // k+1 heap must converge to the batch sample — the equality IS the
    // cross-micro-batch state proof
    Key("streaming_reservoir", (s, d) => RefPipeline.streamingReservoir(s, d), Oracle(
      reservoirSql)),
    // the IVF-PQ rerank-depth sweep: Round17Spec owns the
    // monotonicity/∞-endpoint contract
    Key("ann_ivfpq_rerank_curve", (s, d) => Similarity.ivfpqRerankCurve(s, d), BenchOnly),
    // the IVF-PQ code-size sweep (m bytes/vector): Round18Spec owns the
    // monotonicity + rerank-curve-row equality
    Key("ann_ivfpq_m_curve", (s, d) => Similarity.ivfpqMCurve(s, d), BenchOnly),
    // the IVF-PQ granularity sweep (coarse cells): Round19Spec owns the
    // triple crossing-point equality
    Key("ann_ivfpq_cells_curve", (s, d) => Similarity.ivfpqCellsCurve(s, d), BenchOnly),
  )

  /** The driver's keys: every key except the bench-only phases. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.collect { case k if k.check != BenchOnly => k.name -> k.run }.toMap

  val oracleSql: Map[String, String] =
    keys.collect { case Key(name, _, Oracle(sql)) => name -> sql }.toMap
}
