package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** Blocking: block statistics, candidate generation, the blocking
  * variants (LSH, canopy, suffix, sorted neighbourhood, meta-blocking,
  * phonetic, rare-token, learned schemes), their quality metrics and the
  * privacy of released blocks.
  *
  * Inside the record-linkage boundary. */
object BlockingQueries extends QueryFamily {
  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-record LSH block keys of the synthetic pages corpus (B1 explode
    // + B3 agg replayed by the er_pages_block_stats oracle)
    "pages_sig" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val keysUdf = udf((t: String) =>
        graft.ingest.Blocking.lshKeys(if (t == null) "" else t))
      pages.toDF().select(col("dp"), col("entity_id"), keysUdf(col("text")).as("bks"))
    }),
    // the labeled pages corpus (dp, entity_id, truth_entity, text) —
    // q_estimate_m_labels' oracle reads the RECORDS and replays label
    // blocking + gamma + agreement rates itself, so the dump only fixes
    // the generated corpus (pure deterministic synth, PagesSynth)
    "pages_rec" -> ((s, _) =>
      graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
        .select(col("dp"), col("entity_id"), col("truth_entity"),
          col("text"))),
    // per-name soundex keys of q_soundex_block's query/corpus sides (no
    // soundex in DuckDB — the oracle replays the PAIRING from this dump;
    // the soundex computation itself is gated by known NARA vectors in
    // FuzzySpec, same division of labor as the MinHash signatures)
    "soundex_sig" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      names.select(col("p_name").as("orig"),
          concat(col("p_name").substr(lit(1), mid),
            col("p_name").substr(mid + lit(2), length(col("p_name"))))
            .as("name"))
        .withColumn("side", lit("q"))
        .unionByName(names.select(col("p_name").as("orig"),
          col("p_name").as("name")).withColumn("side", lit("c")))
        .withColumn("sdx", soundex(col("name")))
    }),
  )

  val queries: Seq[Query] = Seq(
    // Hamming bit-sampling LSH blocking over the packed CLKs (Indyk-
    // Motwani bit sampling: zero signature state, band keys = constant-
    // position bit reads from the words column), exact Dice confirm;
    // n_bands = collision evidence strength. Oracle replays positions,
    // banding, pairing and the kernel from the committed fixture.
    Query("q_hamming_lsh", (s, _) =>
      graft.ingest.Blocking.hammingLshPairs(
          febrl4Clks(s), threshold = 0.8)
        .orderBy(col("rec0"), col("rec1")),
      // Hamming bit-sampling LSH replay: Weyl-sequence positions, per-band
      // bit keys, (band,key) pairing + exact Dice confirm — all from the
      // committed fixture, no aux state
      s"""WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
         pos AS (SELECT j, CAST(((CAST(j+1 AS HUGEINT) * 11400714819323198485)
                   % 18446744073709551616) >> 54 AS BIGINT) AS p
                 FROM (SELECT unnest(range(0, 768)) AS j)),
         keys AS (
           SELECT c.dp, c.entity_id AS rec, pos.j // 12 AS band,
                  CAST(SUM(((c.words[CAST(pos.p // 64 AS INTEGER) + 1]
                    >> CAST(pos.p % 64 AS INTEGER)) & 1)
                    << (pos.j % 12)) AS BIGINT) AS key
           FROM c, pos GROUP BY 1, 2, 3),
         cand AS (
           SELECT a.dp AS dp0, a.rec AS rec0, b.dp AS dp1, b.rec AS rec1,
                  count(*) AS n_bands
           FROM keys a JOIN keys b
             ON a.band = b.band AND a.key = b.key AND a.dp < b.dp
           GROUP BY 1, 2, 3, 4),
         conf AS (
           SELECT cand.dp0, cand.rec0, cand.dp1, cand.rec1, cand.n_bands,
                  2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(x.words[i] & y.words[i]))) / (x.pc + y.pc)
                    AS sim
           FROM cand JOIN c x ON x.dp = cand.dp0 AND x.entity_id = cand.rec0
                     JOIN c y ON y.dp = cand.dp1 AND y.entity_id = cand.rec1)
         SELECT dp0, rec0, dp1, rec1, n_bands, sim
         FROM conf WHERE sim >= 0.8"""),
    Query("er_pages_block_stats", (s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val blocked = graft.ingest.Ingest.encodeAndBlock(pages)
      graft.ingest.Blocking.blockStats(blocked).orderBy(col("dp"), col("block_key"))
    },
      // B1/B3 over the pages corpus, replayed from the block-key dump
      s"""WITH m AS (SELECT dp, entity_id, unnest(bks) AS block_key
                     FROM '$OracleAuxDir/pages_sig/*.parquet')
         SELECT dp, block_key, count(*) AS n FROM m GROUP BY 1, 2"""),
    // blocking-quality metrics over the LSH-blocked pages corpus:
    // reduction ratio vs the 1000x1000 cross product + pairs
    // completeness/quality against the synthesizer's truth_entity ground
    // truth; the oracle replays candidates from the pages_sig band-key
    // dump and the truth from the generator's shared-prefix contract
    // (dp-1 shared rows are exactly entity_id < floor(1000 * 0.75))
    Query("q_blocking_metrics", (s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val blocked = graft.ingest.Ingest.encodeAndBlock(pages)
      val truth = pages.toDF()
        .where(col("dp") === 1 && col("truth_entity") === col("entity_id"))
        .select(col("entity_id").as("rec0"), col("entity_id").as("rec1"))
      graft.ingest.Blocking.blockingMetrics(blocked, truth)
    },
      // blocking metrics replayed from the pages_sig band-key dump; the
      // truth set replays the generator's shared-prefix contract
      // (dp-1 shared rows are exactly entity_id < floor(1000 * 0.75))
      s"""WITH m AS (SELECT dp, entity_id, bks FROM '$OracleAuxDir/pages_sig/*.parquet'),
         cand AS (SELECT DISTINCT a.entity_id AS rec0, b.entity_id AS rec1
                  FROM m a JOIN m b
                  ON a.dp = 0 AND b.dp = 1
                    AND len(list_intersect(a.bks, b.bks)) > 0),
         n AS (SELECT CAST(count(*) FILTER (WHERE dp = 0) AS BIGINT) AS n0,
                      CAST(count(*) FILTER (WHERE dp = 1) AS BIGINT) AS n1
               FROM m),
         t AS (SELECT entity_id AS rec0, entity_id AS rec1 FROM m
               WHERE dp = 1 AND entity_id < 750),
         ca AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
                       CAST(count(*) FILTER (WHERE t.rec0 IS NOT NULL) AS BIGINT) AS tp
                FROM cand LEFT JOIN t
                ON cand.rec0 = t.rec0 AND cand.rec1 = t.rec1),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM t)
         SELECT n_cand, n_true, tp,
                CAST(1 AS DOUBLE) - CAST(n_cand AS DOUBLE) / (n0 * n1) AS reduction_ratio,
                CAST(tp AS DOUBLE) / n_true AS pairs_completeness,
                CAST(tp AS DOUBLE) / n_cand AS pairs_quality
         FROM n, ca, ta"""),
    // multi-pass blocking union with provenance: three schemes, pairs
    // deduped with the sorted scheme list as canonical CSV
    Query("q_blocking_union", (s, dir) =>
      graft.ingest.Blocking.multiPassPairs(docs(s, dir), "doc_id", Seq(
          "first_token" -> element_at(split(col("text"), " "), 1),
          "lang_source" -> concat_ws("|", col("lang"), col("source")),
          "len_bucket" -> expr("n_chars DIV 50")))
        .orderBy(col("id0"), col("id1")),
      // multi-pass union: one join per scheme, list_sort + array_to_string
      // == sort_array + concat_ws
      """WITH x AS (SELECT doc_id AS id, split_part(text, ' ', 1) AS ft,
                           lang || '|' || source AS ls,
                           n_chars // 50 AS lb
                    FROM documents),
         per AS (
           SELECT a.id AS id0, b.id AS id1, 'first_token' AS scheme
           FROM x a JOIN x b ON a.ft = b.ft AND a.id < b.id
           UNION ALL
           SELECT a.id, b.id, 'lang_source'
           FROM x a JOIN x b ON a.ls = b.ls AND a.id < b.id
           UNION ALL
           SELECT a.id, b.id, 'len_bucket'
           FROM x a JOIN x b ON a.lb = b.lb AND a.id < b.id)
         SELECT id0, id1,
                array_to_string(list_sort(list_distinct(list(scheme))), ',')
                  AS schemes,
                CAST(len(list_distinct(list(scheme))) AS INT) AS n_schemes
         FROM per GROUP BY id0, id1"""),
    // blocking-rule profiler (splink's count-comparisons-before-you-pay
    // analysis): block-size stats + exact comb-2 pair counts per
    // candidate rule, one hash-agg each — never touches pairs
    Query("q_blocking_profile", (s, dir) =>
      graft.ingest.Blocking.blockingRuleProfile(docs(s, dir), Seq(
          "first_token" -> element_at(split(col("text"), " "), 1),
          "lang" -> col("lang"),
          "lang_source" -> concat_ws("|", col("lang"), col("source")),
          "len_bucket" -> expr("n_chars DIV 100")))
        .orderBy(col("rule")),
      // blocking-rule profile: one comb-2 aggregate per rule, UNION ALL;
      // the ratio divides doubles the same way the Scala side does
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         ft AS (SELECT 'first_token' AS rule, CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(max(m) AS BIGINT) AS max_block,
                       CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_pairs
                FROM (SELECT count(*) AS m FROM documents
                      GROUP BY split_part(text, ' ', 1)) s),
         lg AS (SELECT 'lang' AS rule, CAST(count(*) AS BIGINT),
                       CAST(max(m) AS BIGINT),
                       CAST(sum(m * (m - 1) // 2) AS BIGINT)
                FROM (SELECT count(*) AS m FROM documents GROUP BY lang) s),
         ls AS (SELECT 'lang_source' AS rule, CAST(count(*) AS BIGINT),
                       CAST(max(m) AS BIGINT),
                       CAST(sum(m * (m - 1) // 2) AS BIGINT)
                FROM (SELECT count(*) AS m FROM documents
                      GROUP BY lang || '|' || source) s),
         lb AS (SELECT 'len_bucket' AS rule, CAST(count(*) AS BIGINT),
                       CAST(max(m) AS BIGINT),
                       CAST(sum(m * (m - 1) // 2) AS BIGINT)
                FROM (SELECT count(*) AS m FROM documents
                      GROUP BY n_chars // 100) s),
         u AS (SELECT * FROM ft UNION ALL SELECT * FROM lg
               UNION ALL SELECT * FROM ls UNION ALL SELECT * FROM lb)
         SELECT rule, n_blocks, max_block, n_pairs,
                CAST(1 AS DOUBLE) - CAST(n_pairs AS DOUBLE)
                  / (CAST(n.n AS DOUBLE) * (n.n - 1) / 2) AS reduction_ratio
         FROM u, n"""),
    // B3 block metadata agg
    Query("q_block_stats", (s, dir) =>
      docsBlocked(s, dir).groupBy(col("dp"), col("block_key"))
        .agg(count(lit(1)).as("n")).orderBy(col("dp"), col("block_key")),
      """SELECT CAST(doc_id % 2 AS INT) AS dp, str_split(text, ' ')[1] AS block_key,
         count(*) AS n FROM documents GROUP BY 1, 2"""),
    // B2 common-block discovery
    Query("q_common_blocks", (s, dir) =>
      docsBlocked(s, dir).select(col("dp"), col("block_key")).distinct()
        .groupBy(col("block_key")).agg(countDistinct(col("dp")).as("ndp"))
        .where(col("ndp") === 2).select(col("block_key")).orderBy(col("block_key")),
      """SELECT block_key FROM (
           SELECT str_split(text, ' ')[1] AS block_key, count(DISTINCT doc_id % 2) AS ndp
           FROM documents GROUP BY 1) WHERE ndp = 2"""),
    // A5 total-comparison estimate
    Query("q_total_comparisons", (s, dir) => {
      val per = docsBlocked(s, dir).groupBy(col("block_key"), col("dp"))
        .agg(count(lit(1)).as("n"))
      val l = per.select(col("block_key"), col("dp").as("dp0"), col("n").as("n0"))
      val r = per.select(col("block_key"), col("dp").as("dp1"), col("n").as("n1"))
      l.join(r, "block_key").where(col("dp0") < col("dp1"))
        .agg(coalesce(sum(col("n0") * col("n1")), lit(0L)).as("total_comparisons"))
    },
      """WITH per AS (
           SELECT str_split(text, ' ')[1] AS block_key, CAST(doc_id % 2 AS INT) AS dp,
                  count(*) AS n FROM documents GROUP BY 1, 2)
         SELECT CAST(COALESCE(SUM(l.n * r.n), 0) AS BIGINT) AS total_comparisons
         FROM per l JOIN per r ON l.block_key = r.block_key AND l.dp < r.dp"""),
    // B4 block-equi-join candidate generation
    Query("q_candidate_pairs", (s, dir) => {
      val b = docsBlocked(s, dir)
      val l = b.select(col("block_key"), col("dp").as("dp0"), col("entity_id").as("id0"))
      val r = b.select(col("block_key"), col("dp").as("dp1"), col("entity_id").as("id1"))
      l.join(r, "block_key").where(col("dp0") < col("dp1"))
        .select(col("block_key"), col("id0"), col("id1"))
        .orderBy(col("block_key"), col("id0"), col("id1"))
    },
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS block_key, CAST(doc_id % 2 AS INT) AS dp,
                  doc_id AS id FROM documents)
         SELECT l.block_key, l.id AS id0, r.id AS id1
         FROM b l JOIN b r ON l.block_key = r.block_key AND l.dp < r.dp"""),
    // canopy blocking (McCallum et al. 2000, hash-seeded distributed
    // variant): overlapping cheap-distance canopies + singleton orphans
    Query("q_canopy_block", (s, dir) =>
      graft.ingest.Blocking.canopyAssign(docs(s, dir), "doc_id", "text")
        .orderBy(col("rec"), col("canopy")),
      // canopy assignment replay: same md5 seed gate, same distinct-token
      // inverted-index join, orphans via NOT IN over the assigned recs
      """WITH toks AS (
           SELECT doc_id AS rec,
                  unnest(list_distinct(str_split(text, ' '))) AS tok
           FROM documents),
         seeds AS (
           SELECT doc_id AS canopy,
                  unnest(list_distinct(str_split(text, ' '))) AS tok
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')),
         a AS (
           SELECT t.rec, s.canopy, CAST(count(*) AS BIGINT) AS shared
           FROM toks t JOIN seeds s USING (tok)
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT rec, canopy, shared FROM a
         UNION ALL
         SELECT doc_id AS rec, doc_id AS canopy, CAST(0 AS BIGINT) AS shared
         FROM documents WHERE doc_id NOT IN (SELECT rec FROM a)"""),
    // suffix-array blocking (Aizawa & Oyama 2005) on the name-like key
    // (first two tokens) of the labeled pages corpus: records sharing a
    // surviving suffix (len >= 5, block cap 50) become candidates;
    // n_shared / max_len = evidence strength. Oracle replays suffix
    // explosion, pruning and pairing off the pages_rec dump.
    Query("q_suffix_block", (s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
      val key = concat_ws("", slice(split(col("text"), " "), 1, 2))
      graft.ingest.Blocking.suffixBlockPairs(pages, "dp", "entity_id", key)
        .orderBy(col("rec0"), col("rec1"))
    },
      // suffix-blocking replay off the pages_rec dump: suffix explosion
      // via per-row range unnest, block-size prune, cross-provider pairing
      s"""WITH r AS (
           SELECT dp, entity_id AS rec,
                  array_to_string(list_slice(str_split(text, ' '), 1, 2), '')
                    AS key
           FROM '$OracleAuxDir/pages_rec/*.parquet'),
         idx AS (SELECT dp, rec, key,
                        unnest(range(1, greatest(len(key) - 3, 1))) AS i
                 FROM r),
         mem AS (SELECT dp, rec, substr(key, CAST(i AS INTEGER)) AS suffix
                 FROM idx),
         ok AS (SELECT suffix FROM mem GROUP BY suffix
                HAVING count(*) <= 50),
         m2 AS (SELECT mem.dp, mem.rec, mem.suffix
                FROM mem JOIN ok USING (suffix))
         SELECT a.dp AS dp0, a.rec AS rec0, b.dp AS dp1, b.rec AS rec1,
                count(*) AS n_shared,
                CAST(max(len(a.suffix)) AS INTEGER) AS max_len
         FROM m2 a JOIN m2 b ON a.suffix = b.suffix AND a.dp < b.dp
         GROUP BY 1, 2, 3, 4"""),
    // greedy blocking-scheme learning (Michelson–Knoblock 2006) on the
    // labeled pages corpus: 5 candidate predicates over the name key,
    // 3 selection rounds by marginal true-pair coverage, cost column =
    // candidate pairs of each selected predicate
    Query("q_blocking_scheme", (s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
      val toks = split(col("text"), " ")
      val k2 = concat_ws("", slice(toks, 1, 2))
      graft.ingest.Blocking.greedyBlockingScheme(pages, "dp", "entity_id",
        "truth_entity",
        Seq(
          "p_tok1" -> element_at(toks, 1),
          "p_tok2" -> element_at(toks, 2),
          "p_tok3" -> element_at(toks, 3),
          "p_pre4" -> substring(k2, 1, 4),
          "p_suf4" -> when(length(k2) >= 4, substring(k2, -4, 4))),
        rounds = 3)
        .orderBy(col("round"))
    },
      // greedy blocking-scheme replay: memberships per predicate, distinct
      // cross-provider pairs, then 3 selection rounds as chained CTEs —
      // each round LEFT-JOINs every remaining predicate to its marginal
      // new-true-pair count (0 if saturated) and picks (n DESC, pred ASC)
      s"""WITH rec AS (
           SELECT dp, entity_id AS rec, truth_entity AS truth,
                  str_split(text, ' ') AS ts,
                  array_to_string(list_slice(str_split(text, ' '), 1, 2), '')
                    AS k2
           FROM '$OracleAuxDir/pages_rec/*.parquet'),
         m AS (
           SELECT 'p_tok1' AS pred, dp, rec, truth, ts[1] AS key FROM rec
           UNION ALL SELECT 'p_tok2', dp, rec, truth, ts[2] FROM rec
           UNION ALL SELECT 'p_tok3', dp, rec, truth, ts[3] FROM rec
           UNION ALL SELECT 'p_pre4', dp, rec, truth, substr(k2, 1, 4)
             FROM rec
           UNION ALL SELECT 'p_suf4', dp, rec, truth,
             CASE WHEN len(k2) >= 4 THEN substr(k2, len(k2) - 3) END
             FROM rec),
         m2 AS (SELECT * FROM m WHERE key IS NOT NULL AND key <> ''),
         p AS (SELECT DISTINCT a.pred, a.rec AS rec0, b.rec AS rec1,
                      a.truth = b.truth AS istrue
               FROM m2 a JOIN m2 b ON a.pred = b.pred AND a.key = b.key
               WHERE a.dp = 0 AND b.dp = 1),
         cand AS (SELECT pred, CAST(count(*) AS BIGINT) AS cand_pairs
                  FROM p GROUP BY pred),
         tp AS (SELECT pred, rec0, rec1 FROM p WHERE istrue),
         preds(pred) AS (VALUES ('p_tok1'), ('p_tok2'), ('p_tok3'),
                                ('p_pre4'), ('p_suf4')),
         g1 AS (SELECT preds.pred, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM preds LEFT JOIN
                  (SELECT pred, count(*) AS n FROM tp GROUP BY pred) c
                  USING (pred)),
         s1 AS (SELECT pred, n FROM g1 ORDER BY n DESC, pred LIMIT 1),
         c1 AS (SELECT DISTINCT rec0, rec1 FROM tp
                WHERE pred IN (SELECT pred FROM s1)),
         g2 AS (SELECT preds.pred, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM preds LEFT JOIN
                  (SELECT pred, count(*) AS n FROM tp
                   WHERE NOT EXISTS (SELECT 1 FROM c1
                     WHERE c1.rec0 = tp.rec0 AND c1.rec1 = tp.rec1)
                   GROUP BY pred) c USING (pred)
                WHERE preds.pred NOT IN (SELECT pred FROM s1)),
         s2 AS (SELECT pred, n FROM g2 ORDER BY n DESC, pred LIMIT 1),
         c2 AS (SELECT rec0, rec1 FROM c1
                UNION
                SELECT rec0, rec1 FROM tp
                WHERE pred IN (SELECT pred FROM s2)),
         g3 AS (SELECT preds.pred, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM preds LEFT JOIN
                  (SELECT pred, count(*) AS n FROM tp
                   WHERE NOT EXISTS (SELECT 1 FROM c2
                     WHERE c2.rec0 = tp.rec0 AND c2.rec1 = tp.rec1)
                   GROUP BY pred) c USING (pred)
                WHERE preds.pred NOT IN (SELECT pred FROM s1)
                  AND preds.pred NOT IN (SELECT pred FROM s2)),
         s3 AS (SELECT pred, n FROM g3 ORDER BY n DESC, pred LIMIT 1),
         r AS (SELECT 1 AS round, pred, n AS new_true FROM s1
               UNION ALL SELECT 2, pred, n FROM s2
               UNION ALL SELECT 3, pred, n FROM s3)
         SELECT r.round, r.pred, r.new_true,
                CAST(sum(r.new_true) OVER (ORDER BY r.round) AS BIGINT)
                  AS cum_true,
                CAST(COALESCE(cand.cand_pairs, 0) AS BIGINT) AS cand_pairs
         FROM r LEFT JOIN cand ON r.pred = cand.pred"""),
    // sorted-neighborhood blocking (merge/purge): pairs within a
    // rank-window of 4 over the (16-char-lowercase-prefix, id) total
    // order — the skew-immune complement to equi-key blocking; ranks
    // come from the distributed sort+zipWithIndex primitive
    Query("q_sorted_neighborhood", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"),
        substring(lower(col("text")), 1, 16).as("k"))
      graft.ingest.Blocking.sortedNeighborhoodPairs(d, "id", "k", window = 4)
        .orderBy(col("id0"), col("id1"))
    },
      // row_number over the same total order replays the distributed
      // global rank; the window join is rank arithmetic
      """WITH r AS (SELECT doc_id AS id, substring(lower(text), 1, 16) AS k
                    FROM documents),
         ranked AS (SELECT id, row_number() OVER (ORDER BY k, id) - 1 AS rnk
                    FROM r)
         SELECT a.id AS id0, b.id AS id1, CAST(b.rnk - a.rnk AS INT) AS dist
         FROM ranked a JOIN ranked b ON b.rnk - a.rnk BETWEEN 1 AND 3"""),
    // meta-blocking with weighted-edge pruning (Papadakis WEP): word
    // bigrams as the redundancy-positive block collection, weight =
    // shared-bigram count, oversized blocks purged, edges at or below
    // the exact integer mean weight discarded
    Query("q_metablocking", (s, dir) => {
      val t = docs(s, dir).select(col("doc_id").as("id"),
        split(col("text"), " ").as("ts"))
      val m = t.select(col("id"), explode(expr(
        "transform(slice(ts, 1, size(ts)-1), " +
          "(x, i) -> concat(x, ' ', element_at(ts, i+2)))")).as("bk"))
      graft.ingest.Blocking.metaBlockingWep(m, "id", "bk", maxBlock = 50)
        .orderBy(col("id0"), col("id1"))
    },
      // bigram blocks via list indexing, CBS weights, and the identical
      // exact-integer mean cut (weight * n_edges > sum(weights))
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS ts
                    FROM documents),
         m AS (SELECT DISTINCT id, ts[i] || ' ' || ts[i+1] AS bk
               FROM t, unnest(generate_series(1, len(ts)-1)) AS g(i)),
         kept AS (SELECT bk FROM m GROUP BY bk
                  HAVING count(*) BETWEEN 2 AND 50),
         mm AS (SELECT m.id, m.bk FROM m JOIN kept USING (bk)),
         w AS (SELECT a.id AS id0, b.id AS id1, count(*) AS weight
               FROM mm a JOIN mm b ON a.bk = b.bk AND a.id < b.id
               GROUP BY a.id, b.id),
         tot AS (SELECT sum(weight) AS s, count(*) AS c FROM w)
         SELECT id0, id1, weight FROM w, tot WHERE weight * c > s"""),
    // frequency-aware (rare-token) blocking over documents: each record
    // keys on its globally rarest token (document frequency, ties
    // lexicographic), then per-block membership + comb-2 candidate load —
    // the TF-IDF-flavoured refinement of attribute blocking
    Query("q_rare_token_block", (s, dir) => {
      graft.ingest.Blocking.rareTokenKeys(docs(s, dir), "doc_id", "text")
        .groupBy("block_key", "key_count")
        .agg(count(lit(1)).as("n_records"))
        .withColumn("est_pairs",
          expr("CAST(n_records * (n_records - 1) DIV 2 AS BIGINT)"))
        .orderBy("block_key")
    },
      // rare-token blocking: document-frequency counts, per-record argmin
      // (count, token), block membership + comb-2 load
      """WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         t AS (SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> ''),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
               FROM t GROUP BY tok),
         r AS (SELECT doc_id, tok, n,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n, tok) AS rn
               FROM t JOIN c USING (tok)),
         k AS (SELECT tok AS block_key, n AS key_count FROM r WHERE rn = 1)
         SELECT block_key, key_count,
                CAST(count(*) AS BIGINT) AS n_records,
                CAST((count(*) * (count(*) - 1)) // 2 AS BIGINT) AS est_pairs
         FROM k GROUP BY 1, 2
         ORDER BY block_key"""),
    // phonetic blocking: soundex of the name as the block key (the
    // classical pre-Bloom-filter linkage blocking), threshold-Levenshtein
    // confirm; the oracle replays the pairing from the soundex_sig dump
    Query("q_soundex_block", (s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
        .withColumn("sdx", soundex(col("qname")))
      val corpus = names.select(col("p_name").as("cand"))
        .withColumn("sdx", soundex(col("cand")))
      queries.join(corpus, "sdx")
        .withColumn("dist", graft.expr.levenshteinBand(col("qname"), col("cand"), 3))
        .where(col("dist") >= 0)
        .select(col("orig"), col("qname"), col("cand"), col("sdx"), col("dist"))
        .orderBy(col("orig"), col("cand"))
    },
      // pairing replay from the soundex_sig dump + DuckDB's own
      // levenshtein confirm (key computation spec-gated — FuzzySpec NARA
      // vectors)
      s"""WITH m AS (SELECT side, orig, name, sdx
                     FROM '$OracleAuxDir/soundex_sig/*.parquet'),
         q AS (SELECT orig, name AS qname, sdx FROM m WHERE side = 'q'),
         c AS (SELECT name AS cand, sdx FROM m WHERE side = 'c')
         SELECT q.orig, q.qname, c.cand, q.sdx,
                CAST(levenshtein(q.qname, c.cand) AS INT) AS dist
         FROM q JOIN c USING (sdx)
         WHERE levenshtein(q.qname, c.cand) <= 3"""),
    // LSH parameter planner: the (bands, rows) S-curve 1-(1-s^r)^b on a
    // sim grid — exact IEEE via explicit squaring chains (never pow(),
    // whose rounding is libm-specific), so the table hash-replays
    Query("q_lsh_scurve", (s, _) => {
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((acc, _) => acc * acc)
      val sims = s.range(1, 20)
        .select((col("id").cast("double") * lit(0.05)).as("sim"))
      val configs = Seq((4, 8, 2, 3), (2, 16, 1, 4), (8, 4, 3, 2))
      configs.map { case (r, b, rk, bk) =>
        val sr = sq(col("sim"), rk)
        val p = lit(1.0) - sq(lit(1.0) - sr, bk)
        sims.select(col("sim"), lit(b).as("bands"),
          lit(r).as("rows_per_band"), p.as("p_collision"))
      }.reduce(_ union _).orderBy(col("bands"), col("sim"))
    },
      // S-curve: identical squaring chains (s2=s*s, s4=s2*s2, ...; q
      // likewise) — multiplication-only, so IEEE-identical cross-engine
      """WITH s AS (SELECT CAST(g AS DOUBLE) * CAST(0.05 AS DOUBLE) AS sim
                    FROM unnest(generate_series(1, 19)) AS t(g)),
         c4 AS (SELECT sim, 8 AS bands, 4 AS rows_per_band,
                       CAST(1 AS DOUBLE) - q2 * q2 * (q2 * q2) AS p_collision
                FROM (SELECT sim, q * q AS q2 FROM
                      (SELECT sim,
                              CAST(1 AS DOUBLE) - (sim*sim) * (sim*sim) AS q
                       FROM s) a) b),
         c2 AS (SELECT sim, 16 AS bands, 2 AS rows_per_band,
                       CAST(1 AS DOUBLE) - q8 * q8 AS p_collision
                FROM (SELECT sim, q4 * q4 AS q8 FROM
                      (SELECT sim, q2 * q2 AS q4 FROM
                       (SELECT sim, q * q AS q2 FROM
                        (SELECT sim, CAST(1 AS DOUBLE) - sim * sim AS q
                         FROM s) a) b) c) d),
         c8 AS (SELECT sim, 4 AS bands, 8 AS rows_per_band,
                       CAST(1 AS DOUBLE) - q2 * q2 AS p_collision
                FROM (SELECT sim, q * q AS q2 FROM
                      (SELECT sim, CAST(1 AS DOUBLE) -
                              ((sim*sim) * (sim*sim)) * ((sim*sim) * (sim*sim)) AS q
                       FROM s) a) b)
         SELECT * FROM c4 UNION ALL SELECT * FROM c2
         UNION ALL SELECT * FROM c8"""),
    // blocking privacy: per-provider k-anonymity of the block
    // collection (blocks below k re-identify members by membership
    // alone — the threat the reference's BLAKE2b block-name hashing
    // does NOT cover)
    Query("q_block_kanon", (s, dir) =>
      graft.ingest.Blocking.kAnonymityStats(docsBlocked(s, dir), k = 5)
        .orderBy(col("dp")),
      // same distinct-membership sizes and per-dp rollup
      """WITH b AS (SELECT DISTINCT CAST(doc_id % 2 AS INT) AS dp,
                      doc_id AS entity_id,
                      string_split(text, ' ')[1] AS block_key
                    FROM documents),
         s AS (SELECT dp, block_key, CAST(count(*) AS BIGINT) AS n
               FROM b GROUP BY dp, block_key)
         SELECT dp, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(n) AS BIGINT) AS n_memberships,
                CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS blocks_below_k,
                CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                  AS memberships_below_k,
                min(n) AS min_block_size, 5 AS k
         FROM s GROUP BY dp"""),
    // DP block-size release (geometric mechanism, Ghosh et al. 2009):
    // two-sided-geometric noise at eps=ln2 from the keyed md5 stream,
    // trailing-ones windows — integer-exact, clamped at 0
    Query("q_dp_blocks", (s, dir) =>
      graft.ingest.Blocking.dpBlockSizes(docsBlocked(s, dir))
        .orderBy(col("dp"), col("block_key")),
      // DP release replay: same md5("24301:dp:block_key") stream, two
      // 32-bit hex windows -> trailing-ones geometric draws via the exact
      // low-j-bits-all-ones mask sum, noise = g1 - g2, clamp at 0
      """WITH b AS (SELECT DISTINCT CAST(doc_id % 2 AS INT) AS dp,
                      doc_id AS entity_id,
                      string_split(text, ' ')[1] AS block_key
                    FROM documents),
         s AS (SELECT dp, block_key, CAST(count(*) AS BIGINT) AS n
               FROM b GROUP BY dp, block_key),
         w AS (SELECT dp, block_key, n,
                      md5('24301:' || CAST(dp AS VARCHAR) || ':' || block_key)
                        AS h
               FROM s),
         g AS (SELECT dp, block_key, n,
                      CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS w1,
                      CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS w2
               FROM w),
         z AS (SELECT dp, block_key, n,
                      CAST(list_sum(list_transform(range(1, 33), j ->
                        CASE WHEN (w1 & ((CAST(1 AS BIGINT) << j) - 1))
                                  = ((CAST(1 AS BIGINT) << j) - 1)
                             THEN 1 ELSE 0 END)) AS BIGINT)
                      - CAST(list_sum(list_transform(range(1, 33), j ->
                        CASE WHEN (w2 & ((CAST(1 AS BIGINT) << j) - 1))
                                  = ((CAST(1 AS BIGINT) << j) - 1)
                             THEN 1 ELSE 0 END)) AS BIGINT) AS noise
               FROM g)
         SELECT dp, block_key, n, noise,
                CAST(greatest(n + noise, 0) AS BIGINT) AS n_released
         FROM z"""),
    // block l-diversity: the attribute-disclosure companion to
    // q_block_kanon over the same first-token blocking, sensitive
    // attribute = lang
    Query("q_l_diversity", (s, dir) =>
      graft.ingest.Blocking.lDiversityStats(
          docs(s, dir).select((col("doc_id") % 2).cast("int").as("dp"),
            element_at(split(col("text"), " "), 1).as("block_key"),
            col("lang")),
          "lang", l = 3)
        .orderBy(col("dp")),
      // l-diversity over the q_block_kanon blocking, sensitive = lang:
      // distinct-(dp, block, lang) then per-block distinct counts
      """WITH b AS (SELECT DISTINCT CAST(doc_id % 2 AS INT) AS dp,
                      string_split(text, ' ')[1] AS block_key, lang
                    FROM documents),
         d AS (SELECT dp, block_key,
                      CAST(count(*) AS BIGINT) AS n_distinct
               FROM b GROUP BY dp, block_key)
         SELECT dp, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN n_distinct < 3 THEN 1 ELSE 0 END)
                     AS BIGINT) AS blocks_below_l,
                min(n_distinct) AS min_diversity,
                max(n_distinct) AS max_diversity, 3 AS l
         FROM d GROUP BY dp"""),
    // block t-closeness (the distributional tightening of q_l_diversity,
    // same blocking): TVD between each block's language distribution and
    // its provider's global one, integer-exact, absent cells collapsed
    Query("q_t_closeness", (s, dir) =>
      graft.ingest.Blocking.tClosenessStats(
          docs(s, dir).select((col("doc_id") % 2).cast("int").as("dp"),
            element_at(split(col("text"), " "), 1).as("block_key"),
            col("lang")),
          "lang", tScaled = 300000L)
        .orderBy(col("dp")),
      // t-closeness replay: same (block, value) cells, same algebraic
      // collapse of absent grid cells (n_b*N + sum over present cells),
      // same floored scaled divide — all HUGEINT
      """WITH r AS (SELECT CAST(doc_id % 2 AS INT) AS dp,
                      string_split(text, ' ')[1] AS block_key, lang AS sv
                    FROM documents),
         c AS (SELECT dp, block_key, sv, CAST(count(*) AS HUGEINT) AS c
               FROM r GROUP BY 1, 2, 3),
         bn AS (SELECT dp, block_key, CAST(sum(c) AS HUGEINT) AS n_b
                FROM c GROUP BY 1, 2),
         g AS (SELECT dp, sv, CAST(count(*) AS HUGEINT) AS cv
               FROM r GROUP BY 1, 2),
         tt AS (SELECT dp, CAST(sum(cv) AS HUGEINT) AS n_tot
                FROM g GROUP BY 1),
         pb AS (SELECT c.dp, c.block_key, max(bn.n_b) AS n_b,
                       max(tt.n_tot) AS n_tot,
                       sum(abs(c.c * tt.n_tot - g.cv * bn.n_b)
                           - g.cv * bn.n_b) AS term_sum
                FROM c JOIN g ON c.dp = g.dp AND c.sv = g.sv
                       JOIN bn ON c.dp = bn.dp AND c.block_key = bn.block_key
                       JOIN tt ON c.dp = tt.dp
                GROUP BY 1, 2),
         tb AS (SELECT dp, (n_b * n_tot + term_sum) * 1000000
                           // (2 * n_b * n_tot) AS t_block
                FROM pb)
         SELECT dp, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN t_block > 300000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS blocks_above_t,
                CAST(min(t_block) AS BIGINT) AS min_t_scaled,
                CAST(max(t_block) AS BIGINT) AS max_t_scaled,
                CAST(300000 AS BIGINT) AS t_scaled,
                CAST(1000000 AS BIGINT) AS scale
         FROM tb GROUP BY dp"""),
  )
}
