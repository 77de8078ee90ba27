package graft.link

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** Field comparison and match scoring: string comparators (edit
  * distances, Jaro-Winkler, Monge-Elkan, SoftTF-IDF), Fellegi-Sunter
  * models with their EM training and diagnostics, deterministic rules
  * and multi-field agreement scores.
  *
  * Inside the record-linkage boundary. */
object ComparisonQueries extends QueryFamily {
  /** The part table as the FS queries read it, brand as the block key. */
  private def partBase(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/part.parquet").select(
      col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
      col("p_name"), col("p_type"), col("p_size"))

  /** The γ columns of [[partGammas]], in fold order. */
  private val GammaCols = Seq("g_name", "g_type", "g_size")

  /** The part comparison vector γ = (name within banded Levenshtein 4,
    * equal type, size within 2) between the fields `a(f)` and `b(f)`. */
  private def partGammas(a: String => Column, b: String => Column): Seq[Column] =
    Seq((graft.expr.levenshteinBand(a("p_name"), b("p_name"), 4) >= 0)
        .cast("int").as("g_name"),
      (a("p_type") === b("p_type")).cast("int").as("g_type"),
      (abs(a("p_size") - b("p_size")) <= 2).cast("int").as("g_size"))

  /** γ over the `<f>0` / `<f>1` fields of a self-pair. */
  private val SelfPairGammas = partGammas(f => col(f + "0"), f => col(f + "1"))

  /** Brand-blocked part self-pairs from the salted generator, projected
    * to `cols` (`id0`, `id1` and every part field suffixed 0/1). */
  private def partPairs(s: SparkSession, dir: String,
      cols: Seq[Column] = SelfPairGammas): DataFrame =
    graft.dedup.Dedup.saltedSelfPairs(partBase(s, dir)).select(cols: _*)

  /** The oracle side of [[partGammas]] over a pair of rows `a`, `b`. */
  private val partGammaCasesSql: String =
    """CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size"""

  /** The oracle side of [[partPairs]]: CTEs `base`, `g` (γ of every
    * brand-blocked pair, `lead` columns before it and `tail` after) and
    * `pc` (pattern counts `c`). */
  private def partGammaSql(lead: String = "", tail: String = ""): String =
    s"""base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT $lead$partGammaCasesSql$tail
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3)"""

  /** Two E/M iterations from λ=0.1, m=0.9, u=0.1 at S=1e9 over `pc`, in
    * floored fixed point (HUGEINT // == the engine's BigInt floor-div):
    * CTEs `e1`, `w1`, `p1` (iteration 1's params), `e2`, `w2`, `p2`. */
  private val emChainSql: String =
    """e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2)"""

  /** The final E-step `e3` under `p2`: pattern numerator `a` and
    * denominator part `b`, posterior = (a * S) // (a + b). */
  private val emFinalSql: String =
    """e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN p2.un ELSE 1000000000 - p2.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.ut ELSE 1000000000 - p2.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.us ELSE 1000000000 - p2.us END)) // 1000000000 AS b
           FROM pc, p2)"""

  val queries: Seq[Query] = Seq(
    // deterministic rule-cascade tier (splink's deterministic rules in
    // front of the probabilistic kernel): ordered first-match-wins over
    // first-token-blocked document pairs — one codegen CASE projection,
    // no UDFs; oracle replays the same join + CASE
    Query("q_rule_cascade", (s, dir) => {
      // rule keys derived ONCE per record before the pair fan-out (the
      // scale-correct shape: a pair row compares precomputed scalars,
      // never re-tokenizes; token-prefix equality == joined-string
      // equality because tokens cannot contain the delimiter)
      val toks = split(col("text"), " ")
      val x = docs(s, dir).select(col("doc_id"), col("lang"),
        element_at(toks, 1).as("bk"),
        substring(col("text"), 1, 40).as("h40"),
        concat_ws(" ", slice(toks, 1, 3)).as("t3"),
        concat_ws(" ", slice(toks, 1, 2)).as("t2"),
        length(col("text")).as("len"))
      val pairs = x.as("a").join(x.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("rec0"), col("b.doc_id").as("rec1"),
          col("a.h40").as("h40_0"), col("b.h40").as("h40_1"),
          col("a.t3").as("t3_0"), col("b.t3").as("t3_1"),
          col("a.t2").as("t2_0"), col("b.t2").as("t2_1"),
          col("a.lang").as("l0"), col("b.lang").as("l1"),
          col("a.len").as("len0"), col("b.len").as("len1"))
      graft.link.Rules.cascade(pairs, Seq(
          "r1_head40" -> (col("h40_0") === col("h40_1")),
          "r2_tok3" -> (col("t3_0") === col("t3_1")),
          "r3_lang_len" -> (col("l0") === col("l1") &&
            col("len0") === col("len1")),
          "r4_tok2" -> (col("t2_0") === col("t2_1"))))
        .select(col("rec0"), col("rec1"), col("matched_rule"))
        .orderBy(col("rec0"), col("rec1"))
    },
      // rule cascade replayed as the same first-token-block join + one
      // CASE expression in the declared rule order
      """WITH x AS (SELECT doc_id, text, lang, split_part(text, ' ', 1) AS bk
                    FROM documents),
         p AS (SELECT a.doc_id AS rec0, b.doc_id AS rec1,
                      a.text AS t0, b.text AS t1, a.lang AS l0, b.lang AS l1
               FROM x AS a JOIN x AS b
               ON a.bk = b.bk AND a.doc_id < b.doc_id)
         SELECT rec0, rec1, matched_rule FROM (
           SELECT rec0, rec1,
             CASE
               WHEN substr(t0, 1, 40) = substr(t1, 1, 40) THEN 'r1_head40'
               WHEN string_split(t0, ' ')[1:3] = string_split(t1, ' ')[1:3]
                 THEN 'r2_tok3'
               WHEN l0 = l1 AND length(t0) = length(t1) THEN 'r3_lang_len'
               WHEN string_split(t0, ' ')[1:2] = string_split(t1, ' ')[1:2]
                 THEN 'r4_tok2'
             END AS matched_rule
           FROM p) q
         WHERE matched_rule IS NOT NULL"""),
    // splink's estimate_probability_two_random_records_match: the EM
    // λ prior from deterministic equality rules at an assumed recall
    // of 0.9 — exact integer λ over the C(n,2) pair universe
    Query("q_lambda_prior", (s, dir) => {
      val toks = split(col("text"), " ")
      val x = docs(s, dir).select(col("doc_id").as("id"),
        substring(col("text"), 1, 40).as("h40"),
        concat_ws(" ", slice(toks, 1, 3)).as("t3"),
        col("lang"), length(col("text")).as("len"))
      graft.link.Rules.lambdaPrior(x, "id", Seq(
        "r1_head40" -> Seq("h40"),
        "r2_tok3" -> Seq("t3"),
        "r3_lang_len" -> Seq("lang", "len")), recallScaled = 9000L)
    },
      // λ prior: union-distinct of the three equality-rule pair sets over
      // the FULL C(n,2) universe, floored HUGEINT divide at recall 0.9
      """WITH d AS (SELECT doc_id AS id, substr(text, 1, 40) AS h40,
                         array_to_string(string_split(text, ' ')[1:3], ' ') AS t3,
                         lang, length(text) AS len
                  FROM documents),
         m AS (
           SELECT a.id AS id0, b.id AS id1 FROM d a JOIN d b
             ON a.h40 = b.h40 AND a.id < b.id
           UNION
           SELECT a.id, b.id FROM d a JOIN d b
             ON a.t3 = b.t3 AND a.id < b.id
           UNION
           SELECT a.id, b.id FROM d a JOIN d b
             ON a.lang = b.lang AND a.len = b.len AND a.id < b.id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_matched FROM m),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
         SELECT c.n_matched,
                CAST(t.n * (t.n - 1) // 2 AS BIGINT) AS total_pairs,
                CAST(9000 AS BIGINT) AS recall_scaled,
                CAST((CAST(c.n_matched AS HUGEINT) * 1000000000 * 10000)
                     // (CAST(t.n * (t.n - 1) // 2 AS HUGEINT) * 9000)
                     AS BIGINT) AS lambda_scaled
         FROM c, t"""),
    // end-to-end fuzzy dedup: blocked edit-distance self-pairs over the
    // distinct part names -> connected components -> canonical min-id
    // group (the un-encoded analogue of the whole CLK pipeline); oracle
    // replays blocking + confirm + a recursive-CTE transitive closure
    Query("q_fuzzy_groups", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"))
      graft.link.Fuzzy.fuzzyGroups(names, "id", "name")
        .orderBy(col("id"))
    },
      // blocking + confirm + recursive-CTE closure, all replayed in SQL
      """WITH RECURSIVE
         names AS (SELECT p_name AS name, min(p_partkey) AS id
                   FROM part GROUP BY 1),
         cand AS (
           SELECT a.id AS id0, a.name AS n0, b.id AS id1, b.name AS n1
           FROM names a JOIN names b
             ON substring(a.name, 1, 2) = substring(b.name, 1, 2)
           UNION
           SELECT a.id, a.name, b.id, b.name
           FROM names a JOIN names b
             ON right(a.name, 2) = right(b.name, 2)),
         p AS (SELECT id0, id1 FROM cand
               WHERE id0 < id1 AND levenshtein(n0, n1) <= 2),
         e AS (SELECT id0 AS u, id1 AS v FROM p
               UNION SELECT id1, id0 FROM p),
         reach(id, r) AS (
           SELECT id, id FROM names
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT n.id, n.name, g.group_id FROM names n JOIN g USING (id)"""),
    // Fellegi-Sunter-style multi-field agreement scoring: brand-blocked
    // part pairs, integer weights per agreeing field (banded Levenshtein
    // name, exact type, +/-2 size, +/-5.0 price), threshold on the exact
    // integer score; candidates ride the two-level-salted generator
    Query("q_multifield_match", (s, dir) => {
      import graft.link.{FieldMatch, FieldRule}
      FieldMatch.selfScore(
          s.read.parquet(s"$dir/part.parquet"), "p_partkey", col("p_brand"),
          Seq(
            FieldRule("p_name", 4L, (a, b) => graft.expr.levenshteinBand(a, b, 4) >= 0),
            FieldRule("p_type", 3L, (a, b) => a === b),
            FieldRule("p_size", 2L, (a, b) => abs(a - b) <= 2),
            FieldRule("p_retailprice", 1L, (a, b) => abs(a - b) <= lit(5.0))),
          minScore = 5L)
        .orderBy(col("id0"), col("id1"))
    },
      // per-field agreement flags + exact integer score, replayed with
      // DuckDB's own levenshtein and identical double band arithmetic
      """WITH p AS (SELECT p_partkey, p_name, p_brand, p_type, p_size,
                           p_retailprice FROM part),
         c AS (
           SELECT a.p_partkey AS id0, b.p_partkey AS id1,
                  CAST(CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_name,
                  CAST(CASE WHEN a.p_type = b.p_type
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_type,
                  CAST(CASE WHEN abs(a.p_size - b.p_size) <= 2
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_size,
                  CAST(CASE WHEN abs(a.p_retailprice - b.p_retailprice) <= 5.0
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_retailprice
           FROM p a JOIN p b
             ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey)
         SELECT *, 4 * agree_p_name + 3 * agree_p_type + 2 * agree_p_size
                   + 1 * agree_p_retailprice AS score
         FROM c
         WHERE 4 * agree_p_name + 3 * agree_p_type + 2 * agree_p_size
               + 1 * agree_p_retailprice >= 5"""),
    // Fellegi–Sunter EM over brand-blocked part pairs: the quadratic
    // gamma computation is distributed (salted pair generator + banded
    // levenshtein), EM runs on the <=2^3 pattern sufficient statistics in
    // exact scaled-long arithmetic, so 2 full iterations + the final
    // posterior replay in DuckDB as chained CTEs (HUGEINT // == BigInt /)
    Query("q_fellegi_sunter", (s, dir) => {
      FellegiSunter.emClassify(partPairs(s, dir), GammaCols, iters = 2)
        .orderBy("g_name", "g_type", "g_size")
    },
      // full EM replay: blocked pairs -> gamma patterns -> 2 E/M iterations
      // + final E-step, all in floored fixed-point (HUGEINT // == the
      // engine's BigInt floor-div; init lambda=0.1, m=0.9, u=0.1 at S=1e9)
      s"""WITH ${partGammaSql()},
         $emChainSql,
         $emFinalSql
         SELECT CAST(e3.g_name AS INT) AS g_name,
                CAST(e3.g_type AS INT) AS g_type,
                CAST(e3.g_size AS INT) AS g_size,
                e3.c AS n_pairs,
                CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT) AS posterior,
                ((e3.a * 1000000000) // (e3.a + e3.b)) * 2 > 1000000000 AS is_match,
                p2.lam AS lambda,
                p2.mn AS m_g_name, p2.mt AS m_g_type, p2.ms AS m_g_size,
                p2.un AS u_g_name, p2.ut AS u_g_type, p2.us AS u_g_size
         FROM e3, p2"""),
    // EM convergence trace: the full per-iteration (λ, m, u) trajectory
    // in the same exact fixed point — iteration i replays as the i-th
    // chained CTE of the q_fellegi_sunter oracle
    Query("q_em_trace", (s, dir) => {
      FellegiSunter.emTrace(partPairs(s, dir), GammaCols, iters = 2)
        .orderBy("iter")
    },
      // EM trace replay: the SAME chained CTEs as q_fellegi_sunter, but
      // emitting each iteration's parameter row instead of only the final
      // pattern posteriors
      s"""WITH ${partGammaSql()},
         $emChainSql
         SELECT CAST(1 AS INT) AS iter, lam AS lambda,
                mn AS m_g_name, mt AS m_g_type, ms AS m_g_size,
                un AS u_g_name, ut AS u_g_type, us AS u_g_size
         FROM p1
         UNION ALL
         SELECT CAST(2 AS INT), lam, mn, mt, ms, un, ut, us FROM p2"""),
    // model-expected PR curve: threshold selection from the fitted
    // posteriors alone — exact scaled cumulative sums over the ≤2^K
    // pattern rows, one row per distinct posterior cut
    Query("q_fs_pr_curve", (s, dir) => {
      FellegiSunter.modelPrCurve(partPairs(s, dir), GammaCols, iters = 2)
        .orderBy(desc("posterior"))
    },
      // model PR curve: the q_fellegi_sunter replay through e3, then the
      // per-posterior-cut cumulative sums as HUGEINT window aggregates
      s"""WITH ${partGammaSql()},
         $emChainSql,
         $emFinalSql,
         posts AS (SELECT CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT)
                            AS posterior,
                          e3.c AS n
                   FROM e3),
         byw AS (SELECT posterior, CAST(sum(n) AS BIGINT) AS n_pairs
                 FROM posts GROUP BY 1),
         cum AS (SELECT posterior, n_pairs,
                   CAST(sum(CAST(n_pairs AS HUGEINT) * posterior)
                        OVER (ORDER BY posterior DESC) AS BIGINT)
                     AS exp_tp_scaled,
                   CAST(sum(CAST(n_pairs AS HUGEINT) * (1000000000 - posterior))
                        OVER (ORDER BY posterior DESC) AS BIGINT)
                     AS exp_fp_scaled,
                   CAST(sum(CAST(n_pairs AS HUGEINT) * posterior)
                        OVER () AS BIGINT) AS exp_matches_scaled
                 FROM byw)
         SELECT posterior, n_pairs, exp_tp_scaled, exp_fp_scaled,
                exp_matches_scaled,
                round(CAST(exp_tp_scaled AS DOUBLE)
                      / (exp_tp_scaled + exp_fp_scaled), 6) AS precision,
                round(CAST(exp_tp_scaled AS DOUBLE)
                      / exp_matches_scaled, 6) AS recall
         FROM cum"""),
    // conditional-independence diagnostic: observed vs expected pattern
    // counts under field independence, exact scaled lift per pattern
    Query("q_pattern_indep", (s, dir) => {
      FellegiSunter.patternIndependence(partPairs(s, dir), GammaCols)
        .orderBy("g_name", "g_type", "g_size")
    },
      // independence diagnostic: expected = Π marginals / N^(K-1) and the
      // capped lift, all HUGEINT floor arithmetic over the pattern counts
      s"""WITH ${partGammaSql()},
         st AS (SELECT CAST(sum(c) AS HUGEINT) AS n,
                       CAST(sum(c * g_name) AS HUGEINT) AS o1,
                       CAST(sum(c * g_type) AS HUGEINT) AS o2,
                       CAST(sum(c * g_size) AS HUGEINT) AS o3
                FROM pc),
         e AS (SELECT pc.*, st.n AS n,
                 (CASE WHEN g_name = 1 THEN st.o1 ELSE st.n - st.o1 END)
               * (CASE WHEN g_type = 1 THEN st.o2 ELSE st.n - st.o2 END)
               * (CASE WHEN g_size = 1 THEN st.o3 ELSE st.n - st.o3 END)
                 AS prod
               FROM pc, st)
         SELECT CAST(g_name AS INT) AS g_name,
                CAST(g_type AS INT) AS g_type,
                CAST(g_size AS INT) AS g_size,
                c AS n_pairs,
                CAST((prod * 1000000000) // (n * n) AS BIGINT)
                  AS expected_scaled,
                CAST(CASE WHEN prod = 0 THEN 0
                     ELSE LEAST((CAST(c AS HUGEINT) * 1000000000 * n * n)
                                  // prod,
                                CAST(1000000 AS HUGEINT) * 1000000000) END
                  AS BIGINT) AS lift_scaled
         FROM e"""),
    // splink's full two-stage training: u frozen from the unblocked
    // md5-sample estimate, EM fits only lambda and m over the blocked
    // pairs — removes the agreement bias blocking builds into u
    Query("q_em_fixed_u", (s, dir) => {
      val sampled = partBase(s, dir)
        .where(substring(md5(col("id").cast("string").cast("binary")),
          1, 1).isin("0", "1", "2", "3"))
      // part.parquet is one small file -> a 1-task scan; the <-condition
      // cross join streams that single partition, so ~12.5M banded
      // Levenshteins ran on ONE core (input skew). Spreading
      // the streamed side across the cluster first and broadcasting the
      // 5K-row build side keeps the identical pair set (estimateU's agg
      // is order-free) at full parallelism.
      val uPairs = sampled.repartition(s.sparkContext.defaultParallelism)
        .as("a").join(broadcast(sampled.as("b")),
          col("a.id") < col("b.id"))
        .select(partGammas(f => col(s"a.$f"), f => col(s"b.$f")): _*)
      val uMap = FellegiSunter.estimateU(uPairs, GammaCols)
        .collect().map(r => r.getAs[String]("field") ->
          r.getAs[Long]("u_scaled")).toMap
      FellegiSunter.emClassifyFixedU(partPairs(s, dir), GammaCols,
          GammaCols.map(uMap), iters = 2)
        .orderBy("g_name", "g_type", "g_size")
    },
      // two-stage training replay: the q_estimate_u sample CTE yields the
      // frozen (clamped) u scalars; the EM chain re-estimates only lam/m
      s"""WITH sbase AS (SELECT p_partkey AS id, p_name, p_type, p_size
                        FROM part
                        WHERE substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1)
                              IN ('0', '1', '2', '3')),
         sg AS (SELECT $partGammaCasesSql
                FROM sbase a JOIN sbase b ON a.id < b.id),
         su AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(g_name) AS BIGINT) AS an,
                       CAST(sum(g_type) AS BIGINT) AS at2,
                       CAST(sum(g_size) AS BIGINT) AS asz
                FROM sg),
         uu AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, (an * 1000000000) // n)) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (at2 * 1000000000) // n)) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (asz * 1000000000) // n)) AS BIGINT) AS us
           FROM su),
         ${partGammaSql()},
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN uu.un ELSE 1000000000 - uu.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN uu.ut ELSE 1000000000 - uu.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN uu.us ELSE 1000000000 - uu.us END)) // 1000000000 AS b
           FROM pc, uu),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN uu.un ELSE 1000000000 - uu.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN uu.ut ELSE 1000000000 - uu.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN uu.us ELSE 1000000000 - uu.us END)) // 1000000000 AS b
           FROM pc, p1, uu),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN uu.un ELSE 1000000000 - uu.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN uu.ut ELSE 1000000000 - uu.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN uu.us ELSE 1000000000 - uu.us END)) // 1000000000 AS b
           FROM pc, p2, uu)
         SELECT CAST(e3.g_name AS INT) AS g_name,
                CAST(e3.g_type AS INT) AS g_type,
                CAST(e3.g_size AS INT) AS g_size,
                e3.c AS n_pairs,
                CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT) AS posterior,
                ((e3.a * 1000000000) // (e3.a + e3.b)) * 2 > 1000000000 AS is_match,
                p2.lam AS lambda,
                p2.mn AS m_g_name, p2.mt AS m_g_type, p2.ms AS m_g_size,
                uu.un AS u_g_name, uu.ut AS u_g_type, uu.us AS u_g_size
         FROM e3, p2, uu"""),
    // splink's estimate_u_using_random_sampling: per-field agreement
    // rates over a deterministic md5-gated record sample crossed with
    // itself (bounded by the sample rate — the U-side anchor the EM's
    // blocked pairs cannot give)
    Query("q_estimate_u", (s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
          col("p_partkey").cast("long").as("id"),
          col("p_name"), col("p_type"), col("p_size"))
        .where(substring(md5(col("p_partkey").cast("string").cast("binary")),
          1, 1).isin("0", "1", "2", "3"))
      val pairs = base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
        .select(partGammas(f => col(s"a.$f"), f => col(s"b.$f")): _*)
      FellegiSunter.estimateU(pairs, GammaCols)
        .orderBy("field")
    },
      // u estimation: same md5 sample gate + sampled cross join, one
      // aggregate melted by parallel unnest
      s"""WITH base AS (SELECT p_partkey AS id, p_name, p_type, p_size
                       FROM part
                       WHERE substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1)
                             IN ('0', '1', '2', '3')),
         g AS (SELECT $partGammaCasesSql
               FROM base a JOIN base b ON a.id < b.id),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(g_name) AS BIGINT) AS an,
                      CAST(sum(g_type) AS BIGINT) AS at2,
                      CAST(sum(g_size) AS BIGINT) AS asz
               FROM g)
         SELECT unnest(['g_name', 'g_type', 'g_size']) AS field,
                n AS n_pairs,
                unnest([an, at2, asz]) AS n_agree,
                unnest([(an * 1000000000) // n, (at2 * 1000000000) // n,
                        (asz * 1000000000) // n]) AS u_scaled
         FROM s"""),
    // splink's estimate_m_from_label_column: block on the ground-truth
    // entity label (pages truth_entity), every cross-provider intra-label
    // pair is a match by definition, m_k = exact scaled agreement rate of
    // field k over those pairs — the supervised m-side anchor that pairs
    // with q_estimate_u's sampled u-side
    Query("q_estimate_m_labels", (s, _) => {
      val p = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
        .select(col("dp"), col("truth_entity"),
          split(col("text"), " ").as("toks"))
      val pairs = p.where(col("dp") === 0).as("ma")
        .join(p.where(col("dp") === 1).as("mb"),
          col("ma.truth_entity") === col("mb.truth_entity"))
        .select(
          (element_at(col("ma.toks"), 1) === element_at(col("mb.toks"), 1))
            .cast("int").as("g_first"),
          (element_at(col("ma.toks"), -1) === element_at(col("mb.toks"), -1))
            .cast("int").as("g_last"),
          (abs(size(col("ma.toks")) - size(col("mb.toks"))) <= 1)
            .cast("int").as("g_len"))
      FellegiSunter.estimateMFromLabels(pairs, Seq("g_first", "g_last", "g_len"))
        .orderBy("field")
    },
      // m from the truth label: replay label blocking + gammas + exact
      // scaled agreement quotients over the dumped pages corpus
      s"""WITH p AS (SELECT dp, truth_entity, string_split(text, ' ') AS toks
                     FROM '$OracleAuxDir/pages_rec/*.parquet'),
         pr AS (SELECT CASE WHEN a.toks[1] = b.toks[1]
                            THEN 1 ELSE 0 END AS g_first,
                       CASE WHEN a.toks[-1] = b.toks[-1]
                            THEN 1 ELSE 0 END AS g_last,
                       CASE WHEN abs(len(a.toks) - len(b.toks)) <= 1
                            THEN 1 ELSE 0 END AS g_len
                FROM p a JOIN p b ON a.truth_entity = b.truth_entity
                WHERE a.dp = 0 AND b.dp = 1),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(g_first) AS BIGINT) AS af,
                      CAST(sum(g_last) AS BIGINT) AS al,
                      CAST(sum(g_len) AS BIGINT) AS az
               FROM pr)
         SELECT unnest(['g_first', 'g_last', 'g_len']) AS field,
                n AS n_pairs,
                unnest([af, al, az]) AS n_agree,
                unnest([(af * 1000000000) // n, (al * 1000000000) // n,
                        (az * 1000000000) // n]) AS m_scaled
         FROM s
         ORDER BY field"""),
    // active-learning uncertainty sampling: the SAME brand-blocked FS
    // pipeline as q_fellegi_sunter, but pair ids ride through and the 40
    // pairs with posterior nearest 1/2 surface for labeling (exact
    // integer uncertainty, id tie-break — a pure function of the corpus)
    Query("q_uncertainty_sample", (s, dir) => {
      FellegiSunter.uncertaintySample(
          partPairs(s, dir, col("id0") +: col("id1") +: SelfPairGammas),
          GammaCols, Seq("id0", "id1"), k = 40)
        .select("id0", "id1", "g_name", "g_type", "g_size",
          "posterior", "uncertainty")
        .orderBy("uncertainty", "id0", "id1")
    },
      // the SAME 2-iteration EM replay as q_fellegi_sunter with pair ids
      // carried through; uncertainty = |posterior - scale/2| exact, then
      // ORDER BY uncertainty, ids LIMIT 40
      s"""WITH ${partGammaSql("a.id AS id0, b.id AS id1, ")},
         $emChainSql,
         $emFinalSql,
         post AS (SELECT g_name, g_type, g_size,
                         CAST((a * 1000000000) // (a + b) AS BIGINT)
                           AS posterior
                  FROM e3)
         SELECT g.id0, g.id1,
                CAST(g.g_name AS INT) AS g_name,
                CAST(g.g_type AS INT) AS g_type,
                CAST(g.g_size AS INT) AS g_size,
                post.posterior,
                CAST(abs(post.posterior - 500000000) AS BIGINT)
                  AS uncertainty
         FROM g JOIN post USING (g_name, g_type, g_size)
         ORDER BY uncertainty, g.id0, g.id1
         LIMIT 40"""),
    // splink-style match-weight waterfall: per-field Bayes-factor
    // decomposition of every fitted pattern, exact scaled integers —
    // the explainability readout over the same EM fit
    Query("q_fs_waterfall", (s, dir) => {
      FellegiSunter.waterfall(partPairs(s, dir), GammaCols, iters = 2)
        .orderBy("g_name", "g_type", "g_size", "field")
    },
      // waterfall: the SAME 2-iteration EM replay, then one parallel
      // unnest per pattern over the three per-field (f_m, f_u) choices;
      // bayes_scaled = (f_m * scale) // f_u matches the Scala fixed point
      s"""WITH ${partGammaSql()},
         $emChainSql,
         $emFinalSql,
         w3 AS (SELECT e3.g_name, e3.g_type, e3.g_size, e3.c AS n_pairs,
                       (e3.a * 1000000000) // (e3.a + e3.b) AS posterior,
                       p2.mn, p2.mt, p2.ms,
                       p2.un AS uu1, p2.ut AS uu2, p2.us AS uu3
                FROM e3, p2),
         f AS (SELECT g_name, g_type, g_size, n_pairs, posterior,
                 unnest(['g_name', 'g_type', 'g_size']) AS field,
                 unnest([CASE WHEN g_name = 1 THEN mn ELSE 1000000000 - mn END,
                         CASE WHEN g_type = 1 THEN mt ELSE 1000000000 - mt END,
                         CASE WHEN g_size = 1 THEN ms ELSE 1000000000 - ms END])
                   AS f_m,
                 unnest([CASE WHEN g_name = 1 THEN uu1 ELSE 1000000000 - uu1 END,
                         CASE WHEN g_type = 1 THEN uu2 ELSE 1000000000 - uu2 END,
                         CASE WHEN g_size = 1 THEN uu3 ELSE 1000000000 - uu3 END])
                   AS f_u
               FROM w3)
         SELECT CAST(g_name AS INT) AS g_name, CAST(g_type AS INT) AS g_type,
                CAST(g_size AS INT) AS g_size, n_pairs,
                CAST(posterior AS BIGINT) AS posterior, field,
                CAST(f_m AS BIGINT) AS f_m, CAST(f_u AS BIGINT) AS f_u,
                CAST((f_m * 1000000000) // f_u AS BIGINT) AS bayes_scaled
         FROM f"""),
    // splink-style term-frequency adjustment: after the same EM fit, the
    // U-side factor of the type field is replaced per (pattern, matched
    // value) group by that value's term frequency — agreement on a rare
    // type is stronger evidence than on a stopword-grade one; the oracle
    // replays the full EM AND the adjusted refold in HUGEINT-free
    // chained integer CTEs
    Query("q_fs_tf_adjust", (s, dir) => {
      val pairs = partPairs(s, dir, SelfPairGammas :+
        when(col("p_type0") === col("p_type1"), col("p_type0")).as("tf_type"))
      FellegiSunter.tfAdjustedPosteriors(pairs, GammaCols, "g_type",
          "tf_type", partBase(s, dir).select(col("p_type")), "p_type",
          iters = 2)
        .orderBy("g_name", "g_type", "g_size", "tf_val")
    },
      // tf adjustment: the SAME 2-iteration EM replay as q_fellegi_sunter,
      // then per-(pattern, matched type) groups refolded with the value's
      // term frequency on the U side where g_type = 1; fold order and
      // parenthesization mirror the Scala loop exactly (multiply then
      // floored divide per field, g_name -> g_type -> g_size)
      s"""WITH ${partGammaSql(tail =
           ", CASE WHEN a.p_type = b.p_type THEN a.p_type END AS tf_val")},
         $emChainSql,
         $emFinalSql,
         pb AS (SELECT g_name, g_type, g_size,
                       (a * 1000000000) // (a + b) AS posterior_base FROM e3),
         pv AS (SELECT g_name, g_type, g_size, tf_val,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM g GROUP BY 1, 2, 3, 4),
         nrec AS (SELECT count(*) AS n_rec FROM base),
         tf AS (SELECT p_type AS tf_val,
                       CAST(GREATEST(1, (count(*) * 1000000000)
                         // (SELECT n_rec FROM nrec)) AS BIGINT) AS tf_v
                FROM base GROUP BY 1),
         j AS (SELECT pv.g_name, pv.g_type, pv.g_size, pv.tf_val, pv.n_pairs,
                      pb.posterior_base, p2.lam, p2.mn, p2.mt, p2.ms,
                      p2.un, p2.ut, p2.us, tf.tf_v
               FROM pv
               JOIN pb USING (g_name, g_type, g_size)
               CROSS JOIN p2
               LEFT JOIN tf USING (tf_val)),
         f AS (SELECT j.*,
           (((((j.lam * (CASE WHEN g_name = 1 THEN j.mn ELSE 1000000000 - j.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN j.mt ELSE 1000000000 - j.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN j.ms ELSE 1000000000 - j.ms END)) // 1000000000 AS num,
           ((((((1000000000 - j.lam) * (CASE WHEN g_name = 1 THEN j.un ELSE 1000000000 - j.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN GREATEST(1, LEAST(999999999, COALESCE(j.tf_v, j.ut))) ELSE 1000000000 - j.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN j.us ELSE 1000000000 - j.us END)) // 1000000000 AS den
           FROM j)
         SELECT CAST(g_name AS INT) AS g_name, CAST(g_type AS INT) AS g_type,
                CAST(g_size AS INT) AS g_size, tf_val, n_pairs, tf_v,
                CAST(posterior_base AS BIGINT) AS posterior_base,
                CAST((num * 1000000000) // GREATEST(1, num + den) AS BIGINT)
                  AS posterior_adj,
                ((num * 1000000000) // GREATEST(1, num + den)) * 2 > 1000000000
                  AS is_match_adj
         FROM f"""),
    // multi-level FS (splink-style comparison levels): graded name
    // (exact-ish / close / different) and size (equal / within-3 / far)
    // gammas, level-EM on the <=9 pattern sufficient statistics
    Query("q_fs_levels", (s, dir) => {
      val lv = graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 5)
      val pairs = partPairs(s, dir, Seq(
        when(lv >= 0 && lv <= 2, 2).when(lv >= 0, 1).otherwise(0)
          .as("g_name"),
        when(col("p_size0") === col("p_size1"), 2)
          .when(abs(col("p_size0") - col("p_size1")) <= 3, 1).otherwise(0)
          .as("g_size")))
      FellegiSunter.emClassifyLevels(pairs,
          Seq(("g_name", 3), ("g_size", 3)), iters = 2)
        .orderBy("g_name", "g_size")
    },
      // level-EM replay: 3-level gammas; init m=(.15,.15,.7)/u=(.7,.15,.15)
      // per field, lambda=0.1; per-(field,level) M-step shares; same
      // HUGEINT floored fixed point as q_fellegi_sunter
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 2 THEN 2
                           WHEN levenshtein(a.p_name, b.p_name) <= 5 THEN 1
                           ELSE 0 END AS g_name,
                      CASE WHEN a.p_size = b.p_size THEN 2
                           WHEN abs(a.p_size - b.p_size) <= 3 THEN 1
                           ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_size, count(*) AS c FROM g GROUP BY 1, 2),
         e1 AS (SELECT pc.*,
           (((CAST(100000000 AS BIGINT)
              * (CASE g_name WHEN 2 THEN 700000000 ELSE 150000000 END)) // 1000000000)
              * (CASE g_size WHEN 2 THEN 700000000 ELSE 150000000 END)) // 1000000000 AS a,
           (((CAST(900000000 AS BIGINT)
              * (CASE g_name WHEN 0 THEN 700000000 ELSE 150000000 END)) // 1000000000)
              * (CASE g_size WHEN 0 THEN 700000000 ELSE 150000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us2
           FROM w1),
         e2 AS (SELECT pc.*,
           (((p1.lam * (CASE g_name WHEN 0 THEN p1.mn0 WHEN 1 THEN p1.mn1 ELSE p1.mn2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p1.ms0 WHEN 1 THEN p1.ms1 ELSE p1.ms2 END)) // 1000000000) AS a,
           ((((1000000000 - p1.lam) * (CASE g_name WHEN 0 THEN p1.un0 WHEN 1 THEN p1.un1 ELSE p1.un2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p1.us0 WHEN 1 THEN p1.us1 ELSE p1.us2 END)) // 1000000000) AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us2
           FROM w2),
         e3 AS (SELECT pc.*,
           (((p2.lam * (CASE g_name WHEN 0 THEN p2.mn0 WHEN 1 THEN p2.mn1 ELSE p2.mn2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p2.ms0 WHEN 1 THEN p2.ms1 ELSE p2.ms2 END)) // 1000000000) AS a,
           ((((1000000000 - p2.lam) * (CASE g_name WHEN 0 THEN p2.un0 WHEN 1 THEN p2.un1 ELSE p2.un2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p2.us0 WHEN 1 THEN p2.us1 ELSE p2.us2 END)) // 1000000000) AS b
           FROM pc, p2)
         SELECT CAST(e3.g_name AS INT) AS g_name,
                CAST(e3.g_size AS INT) AS g_size,
                e3.c AS n_pairs,
                CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT) AS posterior,
                ((e3.a * 1000000000) // (e3.a + e3.b)) * 2 > 1000000000 AS is_match,
                p2.lam AS lambda,
                p2.mn0 AS m_g_name_0, p2.un0 AS u_g_name_0,
                p2.mn1 AS m_g_name_1, p2.un1 AS u_g_name_1,
                p2.mn2 AS m_g_name_2, p2.un2 AS u_g_name_2,
                p2.ms0 AS m_g_size_0, p2.us0 AS u_g_size_0,
                p2.ms1 AS m_g_size_1, p2.us1 AS u_g_size_1,
                p2.ms2 AS m_g_size_2, p2.us2 AS u_g_size_2
         FROM e3, p2"""),
    // blocked fuzzy string match: deterministic middle-char-deletion
    // typos of the distinct part names, matched back against the corpus
    // via dual-affix (prefix+suffix) blocking and confirmed with Spark's
    // threshold Levenshtein — the un-encoded analogue of the CLK
    // block→candidate→confirm pipeline, fully SQL-replayable
    Query("q_fuzzy_match", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.fuzzyJoin(queries, "qname", corpus, "cand", maxDist = 2)
        .select(col("orig"), col("qname"), col("cand"), col("dist"))
        .orderBy(col("orig"), col("cand"))
    },
      // DuckDB replays the typo synthesis, both blocking passes, and the
      // edit-distance confirm with its own levenshtein
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      substring(p_name, 1, CAST(floor(length(p_name)/2) AS INT)) ||
                      substring(p_name, CAST(floor(length(p_name)/2) AS INT) + 2)
                        AS qname
               FROM names),
         cand AS (
           SELECT q.orig, q.qname, n.p_name AS cand
           FROM q JOIN names n ON substring(q.qname, 1, 2) = substring(n.p_name, 1, 2)
           UNION
           SELECT q.orig, q.qname, n.p_name
           FROM q JOIN names n ON right(q.qname, 2) = right(n.p_name, 2))
         SELECT orig, qname, cand, CAST(levenshtein(qname, cand) AS INT) AS dist
         FROM cand WHERE levenshtein(qname, cand) <= 2"""),
    // true Damerau-Levenshtein matching (codegen expression; DuckDB's
    // damerau_levenshtein is the same unrestricted variant — parity also
    // pinned by fixtures/damerau_vectors.csv): queries corrupt names by
    // one adjacent-character SWAP, which DL prices at 1 where plain
    // Levenshtein needs 2
    Query("q_dl_match", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid - 1),
          col("p_name").substr(mid + lit(1), lit(1)),
          col("p_name").substr(mid, lit(1)),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.fuzzyJoinDL(queries, "qname", corpus, "cand",
          maxDist = 2)
        .select(col("orig"), col("qname"), col("cand"), col("dist"))
        .orderBy(col("orig"), col("cand"))
    },
      // DL matching replay: same corruption + dual-affix blocking, DuckDB's
      // own damerau_levenshtein as the independent distance engine
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      substring(p_name, 1, m - 1) ||
                      substring(p_name, m + 1, 1) ||
                      substring(p_name, m, 1) ||
                      substring(p_name, m + 2) AS qname
               FROM (SELECT p_name,
                            CAST(floor(length(p_name)/2) AS INT) AS m
                     FROM names)),
         cand AS (
           SELECT q.orig, q.qname, n.p_name AS cand
           FROM q JOIN names n ON substring(q.qname, 1, 2) = substring(n.p_name, 1, 2)
           UNION
           SELECT q.orig, q.qname, n.p_name
           FROM q JOIN names n ON right(q.qname, 2) = right(n.p_name, 2))
         SELECT orig, qname, cand,
                CAST(damerau_levenshtein(qname, cand) AS INT) AS dist
         FROM cand WHERE damerau_levenshtein(qname, cand) <= 2"""),
    // token-sort edit similarity (fuzzywuzzy token_sort_ratio family):
    // word-order-scrambled part names recovered through the sorted
    // canonical form; blocking on the order-invariant min/max tokens
    Query("q_token_sort", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val queries = names.select(col("p_name").as("orig"),
        array_join(reverse(split(col("p_name"), " ")), " ").as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.tokenSortPairs(queries, "qname", corpus, "cand",
          minSim = 0.9)
        .select(col("orig"), col("qname"), col("cand"), col("dist"),
          col("token_sort_sim"))
        .orderBy(col("orig"), col("cand"))
    },
      // canonical = sorted tokens joined; candidates = union of first/
      // last sorted-token blocks; normalized Levenshtein on canonicals
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
                        AS qname
               FROM names),
         qc AS (SELECT orig, qname,
                       array_to_string(list_sort(string_split_regex(trim(qname), '\s+')), ' ')
                         AS cq
                FROM q),
         cc AS (SELECT p_name AS cand,
                       array_to_string(list_sort(string_split_regex(trim(p_name), '\s+')), ' ')
                         AS ccn
                FROM names),
         cand AS (
           SELECT qc.orig, qc.qname, cc.cand, qc.cq, cc.ccn
           FROM qc JOIN cc
             ON string_split(qc.cq, ' ')[1] = string_split(cc.ccn, ' ')[1]
           UNION
           SELECT qc.orig, qc.qname, cc.cand, qc.cq, cc.ccn
           FROM qc JOIN cc
             ON string_split(qc.cq, ' ')[-1] = string_split(cc.ccn, ' ')[-1]),
         d AS (SELECT orig, qname, cand,
                      CAST(levenshtein(cq, ccn) AS INT) AS dist,
                      round(1.0 - CAST(levenshtein(cq, ccn) AS DOUBLE)
                        / greatest(length(cq), length(ccn)), 6)
                        AS token_sort_sim
               FROM cand)
         SELECT orig, qname, cand, dist, token_sort_sim
         FROM d WHERE token_sort_sim >= 0.9"""),
    // the same blocked typo-match confirmed by the codegen'd Jaro-Winkler
    // expression instead of edit distance — oracle is DuckDB's own
    // jaro_winkler_similarity (independent implementation, value-exact
    // at 6 decimals)
    Query("q_jw_match", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.affixCandidates(queries, "qname", corpus, "cand")
        .withColumn("jw", round(graft.expr.jaroWinkler(col("qname"), col("cand")), 6))
        .where(col("jw") >= 0.88)
        .select(col("orig"), col("qname"), col("cand"), col("jw"))
        .orderBy(col("orig"), col("cand"))
    },
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      substring(p_name, 1, CAST(floor(length(p_name)/2) AS INT)) ||
                      substring(p_name, CAST(floor(length(p_name)/2) AS INT) + 2)
                        AS qname
               FROM names),
         cand AS (
           SELECT q.orig, q.qname, n.p_name AS cand
           FROM q JOIN names n ON substring(q.qname, 1, 2) = substring(n.p_name, 1, 2)
           UNION
           SELECT q.orig, q.qname, n.p_name
           FROM q JOIN names n ON right(q.qname, 2) = right(n.p_name, 2))
         SELECT orig, qname, cand,
                round(jaro_winkler_similarity(qname, cand), 6) AS jw
         FROM cand WHERE round(jaro_winkler_similarity(qname, cand), 6) >= 0.88"""),
    // frequency-based (Winkler) agreement weights: agreeing on a rare
    // nation outweighs agreeing on a common market segment — weights are
    // exact fixed-point rarity ratios attached per RECORD (one agg+join
    // per field), never computed on the pair set
    Query("q_freq_weights", (s, dir) =>
      graft.link.FieldMatch.selfScoreFrequency(
          s.read.parquet(s"$dir/customer.parquet"),
          "c_custkey", col("c_custkey") % 50,
          Seq("c_nationkey", "c_mktsegment"), scale = 1000L,
          minScore = 20000L)
        .orderBy(col("id0"), col("id1")),
      // same per-field frequency tables, same (n*scale) // freq weights
      """WITH c AS (SELECT c_custkey AS id, c_custkey % 50 AS bk,
                           c_nationkey, c_mktsegment FROM customer),
         n AS (SELECT count(*) AS n FROM c),
         fn AS (SELECT c_nationkey, count(*) AS cn FROM c GROUP BY 1),
         fm AS (SELECT c_mktsegment, count(*) AS cm FROM c GROUP BY 1),
         e AS (SELECT id, bk, c.c_nationkey, c.c_mktsegment,
                      (n.n * 1000) // fn.cn AS wn,
                      (n.n * 1000) // fm.cm AS wm
               FROM c JOIN fn USING (c_nationkey)
                      JOIN fm USING (c_mktsegment), n),
         p AS (SELECT a.id AS id0, b.id AS id1,
                 CASE WHEN a.c_nationkey = b.c_nationkey THEN a.wn
                      ELSE 0 END AS w_c_nationkey,
                 CASE WHEN a.c_mktsegment = b.c_mktsegment THEN a.wm
                      ELSE 0 END AS w_c_mktsegment
               FROM e a JOIN e b ON a.bk = b.bk AND a.id < b.id)
         SELECT id0, id1, w_c_nationkey, w_c_mktsegment,
                w_c_nationkey + w_c_mktsegment AS score
         FROM p WHERE w_c_nationkey + w_c_mktsegment >= 20000"""),
    // Monge-Elkan aggregated Jaro-Winkler over brand-blocked part names
    // (mean of best-match token scores, both directions) — fixed-point
    // per-token maxima so the aggregate is float-order-independent
    // blocking key is (brand, size): brand alone makes this the
    // bench's one outlier (8M pairs x ~50 JW calls at sf0.1 = 29 s);
    // the operator and its FuzzySpec brute-force gate are unchanged
    Query("q_monge_elkan", (s, dir) =>
      graft.link.Fuzzy.mongeElkanPairs(
          s.read.parquet(s"$dir/part.parquet"),
          "p_partkey", split(col("p_name"), " "),
          concat_ws("|", col("p_brand"), col("p_size")),
          threshold = 0.6)
        .orderBy(col("id0"), col("id1")),
      // DuckDB's own jaro_winkler_similarity (semantics-equal, proven by
      // q_jw_match) inside the same fixed-point best-match aggregation
      """WITH p AS (SELECT p_partkey AS id,
                           p_brand || '|' || p_size AS bk,
                           string_split(p_name, ' ') AS ts FROM part),
         pr AS (SELECT a.id AS id0, b.id AS id1, a.ts AS ts0, b.ts AS ts1
                FROM p a JOIN p b ON a.bk = b.bk AND a.id < b.id),
         sc AS (SELECT id0, id1,
                  list_sum(list_transform(ts0, t -> CAST(round(
                    list_max(list_transform(ts1,
                      u -> jaro_winkler_similarity(t, u))) * 1000000)
                    AS BIGINT))) AS s01,
                  len(ts0) AS n0,
                  list_sum(list_transform(ts1, t -> CAST(round(
                    list_max(list_transform(ts0,
                      u -> jaro_winkler_similarity(t, u))) * 1000000)
                    AS BIGINT))) AS s10,
                  len(ts1) AS n1
                FROM pr)
         SELECT id0, id1,
                round((CAST(s01 AS DOUBLE) / n0 + CAST(s10 AS DOUBLE) / n1)
                  / 2000000.0, 6) AS me
         FROM sc
         WHERE round((CAST(s01 AS DOUBLE) / n0 + CAST(s10 AS DOUBLE) / n1)
                 / 2000000.0, 6) >= 0.6"""),
    // SoftTF-IDF (Cohen-Ravikumar-Fienberg): TF-IDF cosine with
    // JW-closest token bridging — the packed (jw6, w) argmax keeps the
    // whole comparator integer-exact up to the final norm division
    Query("q_soft_tfidf", (s, dir) =>
      graft.link.Fuzzy.softTfidfPairs(
          s.read.parquet(s"$dir/part.parquet"),
          "p_partkey", split(col("p_name"), " "),
          col("p_brand"), theta = 0.9, threshold = 0.6)
        .orderBy(col("id0"), col("id1")),
      // soft tf-idf: same block pairing; weights re-derived from tf/df,
      // the packed (jw6<<32)+w argmax replayed with >> and &, per-token
      // contributions rounded to BIGINT and summed, norms in double
      """WITH p AS (SELECT p_partkey AS id, p_brand AS bk,
                           string_split(p_name, ' ') AS ts FROM part),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
         tr AS (SELECT id, bk, t, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT id, bk, unnest(ts) AS t FROM p) u
                GROUP BY id, bk, t),
         dft AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tr GROUP BY t),
         w AS (SELECT id, bk, tr.t, tf * ((nn.n * 1000) // df) AS w
               FROM tr JOIN dft USING (t), nn),
         wl AS (SELECT id, bk,
                       list(struct_pack(t := t, w := w)) AS wl,
                       sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
                FROM w GROUP BY id, bk),
         pr AS (SELECT a.id AS id0, b.id AS id1, a.wl AS wl0, b.wl AS wl1,
                       a.nrm AS nrm0, b.nrm AS nrm1
                FROM wl a JOIN wl b ON a.bk = b.bk AND a.id < b.id),
         sc AS (SELECT id0, id1,
                  list_sum(list_transform(wl0, a -> (
                    CASE WHEN (list_max(list_transform(wl1, b ->
                           CAST(round(jaro_winkler_similarity(a.t, b.t)
                             * 1000000) AS BIGINT) * 4294967296 + b.w))
                           >> 32) >= 900000
                    THEN CAST(round(
                      CAST(list_max(list_transform(wl1, b ->
                        CAST(round(jaro_winkler_similarity(a.t, b.t)
                          * 1000000) AS BIGINT) * 4294967296 + b.w)) >> 32
                        AS DOUBLE)
                      * a.w
                      * (list_max(list_transform(wl1, b ->
                          CAST(round(jaro_winkler_similarity(a.t, b.t)
                            * 1000000) AS BIGINT) * 4294967296 + b.w))
                          & 4294967295)
                      / 1000000.0) AS BIGINT)
                    ELSE 0 END))) AS s6,
                  nrm0, nrm1
                FROM pr)
         SELECT id0, id1,
                round(CAST(s6 AS DOUBLE) / (nrm0 * nrm1), 6) AS soft_tfidf
         FROM sc
         WHERE round(CAST(s6 AS DOUBLE) / (nrm0 * nrm1), 6) >= 0.6"""),
  )
}
