package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._
import graft.dedup.{Dedup, DedupQueries}

/** LLM-data text operators: tokenization and BPE, quality and
  * language scores, LM and DSIR weights, PII redaction, contamination,
  * sampling, mixing and packing of training corpora.
  *
  * Outside the record-linkage boundary: a candidate for deletion
  * together with its engine code and specs. */
object TextQueries extends QueryFamily {
  /** q_bpe_train's oracle, built per round count: w0 = the alpha-token
    * frequency table with space-delimited char states; each round r
    * counts adjacent pairs (lateral unnest over symbol positions), takes
    * the (count DESC, pair ASC) argmax, and rewrites states with the
    * same literal ` a b ` -> ` ab ` replace the Scala side uses; the
    * final union reads the 12 argmax rows back in rank order. */
  private def bpeOracleSql(merges: Int): String =
    bpeOracleCtes(merges) + (1 to merges).map(r =>
      s"""
         SELECT CAST($r AS INT) AS merge_rank, a AS left_sym,
                b AS right_sym, a || b AS merged, c AS pair_count
         FROM b$r""").mkString("", " UNION ALL", "") +
      "\n         ORDER BY merge_rank"

  /** q_bpe_segment's oracle: same chained rounds, final read of the
    * post-merge states of the topK most frequent words. */
  private def bpeSegmentOracleSql(merges: Int, topK: Int): String =
    bpeOracleCtes(merges) + s"""
         SELECT w, cnt, trim(state) AS seg FROM w$merges
         ORDER BY cnt DESC, w LIMIT $topK"""

  private def bpeOracleCtes(merges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w
                         FROM documents),
         w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt,
                       ' ' || regexp_replace(w, '(.)', '\1 ', 'g')
                           || '</w> ' AS state
                FROM t WHERE regexp_matches(w, '^[a-z]+$')
                GROUP BY w)"""
    for (r <- 1 to merges) {
      sb ++= s""",
         p$r AS (SELECT s[i] AS a, s[i + 1] AS b,
                        CAST(sum(cnt) AS BIGINT) AS c
                 FROM (SELECT string_split(trim(state), ' ') AS s, cnt
                       FROM w${r - 1}),
                      unnest(generate_series(1, len(s) - 1)) AS g(i)
                 GROUP BY 1, 2),
         b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         w$r AS (SELECT w, cnt,
                        replace(state, ' ' || b$r.a || ' ' || b$r.b || ' ',
                                ' ' || b$r.a || b$r.b || ' ') AS state
                 FROM w${r - 1}, b$r)"""
    }
    sb.toString
  }

  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // full anchor x pool pair-hash table for q_neg_sample: the oracle
    // recomputes GROUPS from documents and replays exclusion + ranking
    // itself; only the xxhash64 values come from this dump (the
    // stratifiedSample division of labor, lifted to pairs)
    "neg_hash" -> ((s, dir) => {
      val ids = docs(s, dir).select(col("doc_id").cast("long").as("cand_id"))
      ids.crossJoin(
          ids.where(col("cand_id") < 20).select(col("cand_id").as("anchor_id")))
        .select(col("anchor_id"), col("cand_id"),
          xxhash64(lit(42L), col("anchor_id"), col("cand_id")).as("h"))
    }),
    // per-doc sampling hashes (q_sample_stratified's oracle replays the
    // per-stratum quota + hash ordering from these; hash determinism
    // itself is gated by TextOpsSpec)
    "sample_hash" -> ((s, dir) =>
      docs(s, dir).select(col("lang").as("stratum"),
        col("doc_id").as("id"),
        xxhash64(lit(42L), col("doc_id")).as("h"))),
  )

  val queries: Seq[Query] = Seq(
    // token counting (whitespace + BPE-ish pre-tokenizer regex)
    Query("q_token_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.distinctTokenCount(col("text")).as("n_distinct"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id")),
      // the BPE-ish pattern is leftmost-first in both Java regex and RE2;
      // the SQL literal doubles the pattern's single quotes
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_distinct,
                CAST(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))
                  AS BIGINT) AS n_bpe_tokens
         FROM documents"""),
    // quality scoring
    Query("q_quality", (s, dir) => {
      val base = docs(s, dir)
      val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
      base.select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    },
      """SELECT doc_id,
                CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_distinct,
                round(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                      / len(str_split(text, ' ')), 4) AS type_token_ratio,
                round(CAST(length(text) - (len(str_split(text, ' ')) - 1) AS DOUBLE)
                      / len(str_split(text, ' ')), 4) AS mean_token_len
         FROM documents"""),
    // Gopher (MassiveWeb) quality-filter flags: per-rule booleans +
    // conjunction, thresholds tuned to this corpus register
    Query("q_gopher_rules", (s, dir) =>
      TextOps.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // Gopher flags replay: one tokenize, same unrounded-double rule
      // comparisons, display columns rounded exactly as the Spark side
      """WITH t AS (SELECT doc_id, text,
                CAST(len(str_split(text, ' ')) AS BIGINT) AS n,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS nd,
                CAST(len(list_intersect(list_distinct(str_split(text, ' ')),
                  ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS nstop
              FROM documents),
         u AS (SELECT doc_id, n, nd, nstop,
                 CAST(length(text) - (n - 1) AS DOUBLE) / n AS ml,
                 CAST(n - nd AS DOUBLE) / n AS df
               FROM t)
         SELECT doc_id, n AS n_words, round(ml, 4) AS mean_word_len,
                nstop AS n_stopwords, round(df, 4) AS dup_frac,
                (n >= 15 AND n <= 40) AS ok_words,
                (ml >= 3.0 AND ml <= 10.0) AS ok_mean_len,
                (nstop >= 2) AS ok_stopwords,
                (df <= 0.4) AS ok_dup,
                ((n >= 15 AND n <= 40) AND (ml >= 3.0 AND ml <= 10.0)
                 AND nstop >= 2 AND df <= 0.4) AS pass
         FROM u"""),
    // composite cleaning pipeline: quality window + language gate + dedup
    Query("q_clean_corpus", (s, dir) =>
      TextOps.cleanCorpus(docs(s, dir), "doc_id", "text")
        .orderBy(col("dup_key")),
      """WITH q AS (
           SELECT doc_id, text,
                  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                  round(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                    / len(str_split(text, ' ')), 4) AS ttr,
                  round(CAST(len(list_filter(str_split(text, ' '),
                    t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                    / len(str_split(text, ' ')), 4) AS stop_ratio
           FROM documents)
         SELECT array_to_string(str_split(text, ' ')[1:3], ' ') AS dup_key,
                min(doc_id) AS keeper_id, count(*) AS group_size
         FROM q
         WHERE n_tokens BETWEEN 5 AND 5000 AND ttr >= 0.3 AND stop_ratio >= 0.05
         GROUP BY 1"""),
    // Heaps-law vocabulary growth at 50-doc checkpoints (template-flood
    // diagnostic: vocabulary flatlining under growing token totals)
    Query("q_vocab_growth", (s, dir) =>
      TextOps.vocabGrowth(docs(s, dir), "doc_id", "text", 50)
        .orderBy(col("docs_seen")),
      // Heaps curve: first-occurrence checkpoint of each token + window
      // cumsums over the checkpoint grain (sums cast — DuckDB window
      // sum(BIGINT) is decimal128)
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents),
         fs AS (SELECT token, min(doc_id) AS first_id FROM t GROUP BY token),
         nv AS (SELECT (first_id // 50) * 50 + 50 AS docs_seen,
                       count(*) AS n FROM fs GROUP BY 1),
         nt AS (SELECT (doc_id // 50) * 50 + 50 AS docs_seen,
                       count(*) AS n FROM t GROUP BY 1)
         SELECT nt.docs_seen,
                CAST(sum(COALESCE(nv.n, 0)) OVER (ORDER BY nt.docs_seen)
                  AS BIGINT) AS vocab,
                CAST(sum(nt.n) OVER (ORDER BY nt.docs_seen)
                  AS BIGINT) AS total_tokens
         FROM nt LEFT JOIN nv ON nt.docs_seen = nv.docs_seen"""),
    // CCNet's head/middle/tail output structure: per-language terciles
    // of the LM quality score (deterministic ntile with doc-id
    // tie-break; at corpus scale the terciles come from approx-quantile
    // thresholds instead — same downstream contract)
    Query("q_ccnet_bucket", (s, dir) => {
      val lp = TextOps.unigramLogProb(docs(s, dir), "doc_id", "text")
      val w = Window.partitionBy("lang")
        .orderBy(desc("mean_logprob"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"))
        .join(lp, "doc_id")
        .withColumn("b", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("mean_logprob"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },
      // ccnet buckets: same LM score replay + per-lang ntile(3) with the
      // identical (score DESC, doc_id) tie-broken order
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token
                      FROM documents),
         freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM freq),
         lp AS (SELECT doc_id,
                       round(avg(log10(CAST(f.cnt AS DOUBLE) / t.total)), 6)
                         AS mean_logprob
                FROM tok JOIN freq f USING (token), tot t
                GROUP BY doc_id),
         j AS (SELECT d.doc_id, d.lang, lp.mean_logprob
               FROM documents d JOIN lp USING (doc_id))
         SELECT doc_id, lang, mean_logprob,
                CASE ntile(3) OVER (PARTITION BY lang
                       ORDER BY mean_logprob DESC, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
                END AS bucket
         FROM j"""),
    // unigram LM quality score (CCNet-style perplexity filter, reduced)
    Query("q_unigram_logprob", (s, dir) =>
      TextOps.unigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
         freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM freq)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(log10(CAST(f.cnt AS DOUBLE) / t.total)), 6) AS mean_logprob
         FROM tok JOIN freq f USING (token), tot t
         GROUP BY doc_id"""),
    // bigram LM quality score (one Markov order up: word salad whose
    // tokens are common but never co-occur now scores low)
    Query("q_bigram_logprob", (s, dir) =>
      TextOps.bigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      // bigram replay via a positional self-join (Spark zips the token
      // array with its own tail — same pairs); add-one smoothing over the
      // same integer counts, one IEEE division per bigram
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w,
                             generate_subscripts(str_split(text, ' '), 1) AS i
                      FROM documents),
         bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         big AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM big GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v FROM tok)
         SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(avg(log10(CAST(cb + 1 AS DOUBLE) /
                  CAST(c1 + v.v AS DOUBLE))), 6) AS mean_logprob2
         FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1), v
         GROUP BY bg.doc_id"""),
    // ORC partitioned sink + source: documents written hive-partitioned
    // by lang in Spark's second built-in columnar format, read back with
    // a partition-PRUNED filter (PlanSpec gates PartitionFilters), then
    // aggregated — the oracle computes the same aggregate from the
    // original parquet, so the round-trip must be lossless to match
    // contrastive negative sampling: 3 hash-drawn negatives per anchor
    // doc, same-dup-group candidates (positives) excluded
    Query("q_neg_sample", (s, dir) =>
      TextOps.negativeSample(docs(s, dir), "doc_id",
          concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
          docs(s, dir).where(col("doc_id") < 20)
            .select(col("doc_id").as("anchor_id")),
          k = 3)
        .orderBy(col("anchor_id"), col("rank")),
      // the oracle never sees the ORC layout — it aggregates the ORIGINAL
      // parquet, so any loss/dup/type-drift in the write+read round trip
      // breaks the match
      // exclusion (self + shared dup-group) and hash-order top-k replayed
      // from first principles; groups recomputed from documents, hashes
      // from the neg_hash dump
      s"""WITH g AS (SELECT doc_id,
                array_to_string(str_split(text, ' ')[1:3], ' ') AS gk
              FROM documents),
         hp AS (SELECT anchor_id, cand_id, h
                FROM '$OracleAuxDir/neg_hash/*.parquet'),
         c AS (SELECT hp.anchor_id, hp.cand_id, hp.h
               FROM hp
               JOIN g ga ON ga.doc_id = hp.anchor_id
               JOIN g gc ON gc.doc_id = hp.cand_id
               WHERE hp.cand_id <> hp.anchor_id AND ga.gk <> gc.gk),
         r AS (SELECT anchor_id, cand_id, h,
                      CAST(row_number() OVER (PARTITION BY anchor_id
                        ORDER BY h, cand_id) AS BIGINT) AS rank FROM c)
         SELECT anchor_id, cand_id, rank, h FROM r WHERE rank <= 3"""),
    // deterministic stratified sample: the 30 smallest-hash docs per
    // language (hash-order sampling — reproducible at any parallelism);
    // the oracle replays quota + ordering from the dumped hashes
    Query("q_sample_stratified", (s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), "doc_id", col("lang"), k = 30)
        .orderBy(col("stratum"), col("sample_rank")),
      // hash-order stratified sample replayed from the dumped hashes
      s"""WITH s AS (SELECT stratum, id, h FROM '$OracleAuxDir/sample_hash/*.parquet'),
         r AS (SELECT stratum, id, h,
                 CAST(row_number() OVER (PARTITION BY stratum
                   ORDER BY h, id) AS INT) AS sample_rank
               FROM s)
         SELECT stratum, id, h, sample_rank FROM r WHERE sample_rank <= 30"""),
    // inverted index with bounded posting samples (window-capped BEFORE
    // the collect — no hot-token OOM)
    Query("q_inverted_index", (s, dir) =>
      TextOps.invertedIndex(docs(s, dir), "doc_id", "text", minDf = 5L)
        .orderBy(col("token")),
      """WITH t AS (SELECT doc_id AS doc, unnest(str_split(text, ' ')) AS token
                    FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
                      CAST(count(DISTINCT doc) AS BIGINT) AS df
               FROM t GROUP BY 1 HAVING count(DISTINCT doc) >= 5),
         td AS (SELECT DISTINCT token, doc FROM t),
         r AS (SELECT token, doc,
                      row_number() OVER (PARTITION BY token ORDER BY doc) AS rn
               FROM td),
         sm AS (SELECT token,
                       string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS sample_docs
                FROM r WHERE rn <= 10 GROUP BY token)
         SELECT c.token, c.df, c.tf, sm.sample_docs
         FROM c JOIN sm ON c.token = sm.token"""),
    // token-distribution Shannon entropy (diversity/repetition signal)
    Query("q_entropy", (s, dir) =>
      TextOps.tokenEntropy(docs(s, dir), "doc_id", "text")
        .orderBy(col("id")),
      // entropy replay: identical formula; libm log2 over small integer
      // tfs + round(6) is the accepted unigram-logprob FP pattern
      """WITH tf AS (SELECT doc_id AS id, term, count(*) AS tf
                     FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
                           FROM documents)
                     GROUP BY 1, 2)
         SELECT id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                round(log2(SUM(tf)) - SUM(tf * log2(tf)) / SUM(tf), 6)
                  AS entropy
         FROM tf GROUP BY id"""),
    // BM25 ranked retrieval (exact-rational tf part, ratio idf — see
    // TextOps.bm25TopK): top-20 docs for a mixed common/rare query
    Query("q_bm25", (s, dir) =>
      TextOps.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "dup"), k = 20),
      // BM25 replay: same exact rationals — idf in fixed point, the
      // idf·tfpart product widened to HUGEINT before its floored divide
      """WITH toks AS (SELECT doc_id AS id, str_split(text, ' ') AS ts
                       FROM documents),
         lens AS (SELECT id, CAST(len(ts) AS BIGINT) AS len FROM toks),
         st AS (SELECT count(*) AS n_docs, SUM(len) AS tl FROM lens),
         tfq AS (SELECT id, term, count(*) AS tf
                 FROM (SELECT id, unnest(ts) AS term FROM toks)
                 WHERE term IN ('spark', 'join', 'dup') GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
         sc AS (SELECT tfq.id,
                  SUM(CAST((CAST(1000000 AS BIGINT) * (2 * st.n_docs - 2 * dfq.df + 1))
                           // (2 * dfq.df + 1) AS HUGEINT)
                      * (44 * tfq.tf * st.tl)
                      // (20 * st.tl * tfq.tf + 6 * st.tl + 18 * lens.len * st.n_docs))
                    AS bm25
                FROM tfq JOIN dfq USING (term) JOIN lens USING (id), st
                GROUP BY 1)
         SELECT CAST(id AS BIGINT) AS id, CAST(bm25 AS BIGINT) AS bm25
         FROM sc ORDER BY bm25 DESC, id LIMIT 20"""),
    // heuristic language ID
    Query("q_lang_id", (s, dir) => {
      val cols = TextOps.langIdColumns(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    },
      """SELECT doc_id,
                CAST(len(list_filter(str_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS stopword_hits,
                round(CAST(len(list_filter(str_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                  / len(str_split(text, ' ')), 4) AS stopword_ratio,
                CASE WHEN round(CAST(len(list_filter(str_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                  / len(str_split(text, ' ')), 4) >= 0.05
                  THEN 'en' ELSE 'unk' END AS lang_pred
         FROM documents"""),
    // BPE tokenizer training (Sennrich 2016): first 12 learned merges
    // over the documents corpus — per-round vocab-level pair agg +
    // TakeOrdered(1), merge rewrites as nested literal replaces; the
    // oracle replays all 12 rounds as chained CTEs
    Query("q_bpe_train", (s, dir) =>
      graft.textops.Bpe.train(docs(s, dir), "text", merges = 12),
      bpeOracleSql(12)),
    // BPE encode readout: post-merge segmentation of the 30 most
    // frequent trainable words under the 12 learned merges
    Query("q_bpe_segment", (s, dir) =>
      graft.textops.Bpe.segmentTop(docs(s, dir), "text", merges = 12,
          topK = 30)
        .orderBy(col("cnt").desc, col("w")),
      bpeSegmentOracleSql(12, 30)),
    // deterministic weighted corpus mixing (downsample en to 25%, es to
    // 75%): md5-hash-threshold keep rule, no rand(), map-side only
    Query("q_mix_sample", (s, dir) =>
      TextOps.mixSample(docs(s, dir), "doc_id", col("lang"),
          Map("en" -> 0.25, "es" -> 0.75))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      // fixed-width lowercase hex compares numerically; thresholds are
      // floor(weight * 2^32) in hex
      """SELECT doc_id, lang FROM documents
         WHERE CASE lang
           WHEN 'en' THEN
             substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
           WHEN 'es' THEN
             substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
           ELSE TRUE END"""),
    // dedup keep rule: one representative per near-dup group — the
    // longest document (token count), ties to the smallest id; the
    // oracle replays the group closure (recursive CTE) + a window argmax
    Query("q_dedup_keep_best", (s, dir) =>
      Dedup.keepBestPerGroup(docs(s, dir), "doc_id", "text",
          graft.textops.TextOps.tokenCount(col("text")), threshold = 0.5)
        .orderBy(col("group_id")),
      // keep-best replay: same group closure, then a per-group argmax by
      // token count (ties to the smallest id) via a window
      s"""WITH RECURSIVE
         ${DedupQueries.nearDupGroupCtes},
         sc AS (SELECT doc_id AS id,
                       CAST(len(str_split(text, ' ')) AS BIGINT) AS score
                FROM documents),
         r AS (SELECT g.group_id, sc.id, sc.score,
                      row_number() OVER (PARTITION BY g.group_id
                        ORDER BY sc.score DESC, sc.id ASC) AS rn,
                      count(*) OVER (PARTITION BY g.group_id) AS gs
               FROM g JOIN sc ON g.id = sc.id)
         SELECT group_id, id AS keeper_id, CAST(gs AS BIGINT) AS group_size,
                score AS keeper_score
         FROM r WHERE rn = 1"""),
    // PII redaction over the corpus with deterministic injected
    // emails/phones (the synthetic corpus has none); counts + md5 of the
    // redacted text are replayed in SQL with the same patterns
    Query("q_redact_pii", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" call 555-867-5309 ok")).otherwise(lit(""))).as("text"))
      TextOps.redactPii(injected, "doc_id", "text")
        .select(col("id"), col("n_emails"), col("n_phones"),
          md5(col("redacted").cast("binary")).as("redacted_md5"))
        .orderBy(col("id"))
    },
      // FNV-1a 64-bit replayed byte-for-byte in HUGEINT arithmetic
      // (documents are ASCII, so ord(substr) == the UTF-8 byte; the
      // multibyte case is covered by TextOpsSpec's reference vectors)
      // same injection, same regexes (alternation-free greedy patterns
      // agree between Java regex and RE2), same email-then-phone order
      """WITH inj AS (
           SELECT doc_id, text ||
             (CASE WHEN doc_id % 7 = 0
                   THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
                   ELSE '' END) ||
             (CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 ok'
                   ELSE '' END) AS t
           FROM documents)
         SELECT doc_id AS id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\d{3}[-. ]\d{3}[-. ]\d{4}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\d{3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM inj"""),
    // Gopher-style repetition quality filters (dup-2gram + top-token
    // fractions); the oracle replays both from str_split in SQL
    Query("q_repetition", (s, dir) =>
      TextOps.repetitionScores(docs(s, dir), "doc_id", "text")
        .orderBy(col("id")),
      // repetition filters replayed from str_split: same 2-gram windows,
      // same distinct/total and max-token-count/total fractions
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, len(t) AS n,
                 CASE WHEN len(t) >= 2
                      THEN list_transform(range(0, len(t) - 1),
                             i -> array_to_string(t[i + 1:i + 2], ' '))
                      ELSE [] END AS g2
               FROM d),
         tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
         tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         mx AS (SELECT doc_id, max(c) AS maxc FROM tc GROUP BY 1)
         SELECT g.doc_id AS id, CAST(g.n AS BIGINT) AS n_tokens,
                CASE WHEN len(g2) > 0
                     THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                                / len(g2), 4)
                     ELSE 0.0 END AS dup_2gram_frac,
                CASE WHEN g.n > 0
                     THEN round(CAST(COALESCE(mx.maxc, 0) AS DOUBLE) / g.n, 4)
                     ELSE 0.0 END AS top_token_frac
         FROM g LEFT JOIN mx USING (doc_id)"""),
    // benchmark decontamination: docs sharing any word 8-gram with the
    // deterministic "benchmark" subset (doc_id % 97 == 0); the oracle
    // replays gram construction + intersection entirely in SQL
    Query("q_contamination", (s, dir) => {
      val d = docs(s, dir)
      TextOps.contamination(d, "doc_id", "text",
          d.where(col("doc_id") % 97 === 0), "text", n = 8)
        .orderBy(col("id"))
    },
      // decontamination replayed in SQL: same space tokenization, same
      // 8-gram windows (1-based inclusive slice of length 8), same
      // distinct-gram intersection against the doc_id % 97 benchmark set
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_transform(range(0, greatest(len(t) - 8 + 1, 0)),
                   i -> array_to_string(t[i + 1:i + 8], ' '))) AS gram
               FROM d),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         h AS (SELECT doc_id, count(DISTINCT gram) AS n_hits
               FROM g JOIN bg USING (gram) GROUP BY 1)
         SELECT d.doc_id AS id, COALESCE(h.n_hits, 0) AS n_hits,
                COALESCE(h.n_hits, 0) > 0 AS contaminated
         FROM d LEFT JOIN h USING (doc_id)"""),
    // CCNet-style line-level dedup over a deterministically synthesized
    // multi-line corpus (the flat corpus has no newlines): every doc gets
    // a shared boilerplate line, its 40-char prefix as a line, and every
    // third doc a second banner. The oracle replays frequency counting +
    // reassembly entirely in SQL (Spark keys the count by xxhash64 of the
    // trimmed line — fixed-width shuffle payload; same decision absent a
    // 64-bit collision).
    Query("q_line_dedup", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\nsubscribe to our newsletter\n"),
          substring(col("text"), 1, 40),
          when(col("doc_id") % 3 === 0, lit("\ncookie policy accepted"))
            .otherwise(lit(""))).as("text"))
      TextOps.lineDedup(corpus, "doc_id", "text", maxFreq = 1)
        .select(col("id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("id"))
    },
      // line-level dedup replayed from string_split: same injected
      // boilerplate, same trimmed-line frequency counting (Spark keys by
      // xxhash64 of the trimmed line; identical decisions absent a 64-bit
      // collision), same in-order reassembly (string_agg ORDER BY pos ==
      // array_sort(collect_list(struct(pos, line)))). string_agg of an
      // all-dropped doc is NULL in DuckDB vs '' in Spark -> COALESCE.
      """WITH c AS (SELECT doc_id,
                 text || chr(10) || 'subscribe to our newsletter' || chr(10)
                      || substring(text, 1, 40)
                      || (CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || 'cookie policy accepted'
                               ELSE '' END) AS t
               FROM documents),
         l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
                 generate_subscripts(string_split(t, chr(10)), 1) AS pos
               FROM c),
         f AS (SELECT trim(line) AS k, count(*) AS cnt FROM l GROUP BY 1)
         SELECT doc_id AS id, count(*) AS n_lines,
                CAST(sum(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                md5(COALESCE(string_agg(CASE WHEN cnt <= 1 THEN line END,
                      chr(10) ORDER BY pos), '')) AS clean_md5
         FROM l JOIN f ON trim(l.line) = f.k
         GROUP BY doc_id"""),
    // per-language percentile-rank normalization of a quality score —
    // thresholds set on the normalized rank treat languages fairly
    // (absolute TTR distributions differ by language); percent_rank is
    // (rank-1)/(n-1) in both engines, ties broken by doc_id
    Query("q_quality_norm", (s, dir) => {
      val toks = split(col("text"), " ")
      val ttr = round(size(array_distinct(toks)).cast("double") /
        size(toks), 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("ttr"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"), ttr.as("ttr"))
        .withColumn("q_rank", round(percent_rank().over(w), 6))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id, lang,
                 round(CAST(len(list_distinct(string_split(text, ' ')))
                     AS DOUBLE) / len(string_split(text, ' ')), 4) AS ttr
               FROM documents)
         SELECT doc_id, lang, ttr,
                round(percent_rank() OVER (PARTITION BY lang
                  ORDER BY ttr, doc_id), 6) AS q_rank
         FROM t"""),
    // deterministic train/val/test split (80/10/10 by md5-hex threshold,
    // the mix_sample rule) with per-(split, lang) counts — the
    // reproducible-at-any-parallelism dataset split
    Query("q_split_assign", (s, dir) =>
      docs(s, dir).select(col("lang"),
          when(substring(md5(col("doc_id").cast("string")), 1, 8)
            < "cccccccc", "train")
            .when(substring(md5(col("doc_id").cast("string")), 1, 8)
              < "e6666666", "val")
            .otherwise("test").as("split"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang")),
      // same md5-hex thresholds: floor(0.8*2^32)=0xcccccccc,
      // floor(0.9*2^32)=0xe6666666; fixed-width lowercase hex compares
      // numerically
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n
         FROM documents GROUP BY 1, 2"""),
    // token-budget sequence packing (LLM training shards): shard =
    // global token offset DIV budget, via the DISTRIBUTED two-phase
    // prefix sum (range shuffle + tiny offsets collect — NOT a
    // single-partition window)
    Query("q_token_packing", (s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.rel.Relational.prefixSum(toks, "doc_id", "n_tokens")
        .select(col("k").as("doc_id"), col("v").as("n_tokens"),
          col("before"),
          expr("CAST(before DIV 2000 AS BIGINT)").as("shard"))
        .orderBy(col("doc_id"))
    },
      // exclusive window cumsum replays the two-phase prefix sum
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                    FROM documents)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before,
                CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // 2000 AS BIGINT) AS shard
         FROM t"""),
    // collocation mining: adjacent word pairs ranked by lift (PMI without
    // the log — same ranking, SQL-replayable); top 40 above count 5
    Query("q_collocations", (s, dir) =>
      TextOps.collocations(docs(s, dir), "text", minCount = 5, k = 40),
      // same unigram/bigram counts; lift multiplies/divides in the same
      // IEEE double order, rounded before the ordering so boundary ties
      // resolve identically via the (w1, w2) tiebreak
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
         uni AS (SELECT unnest(ts) AS w FROM t),
         u AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
         bi AS (SELECT ts[i] AS w1, ts[i+1] AS w2
                FROM t, unnest(generate_series(1, len(ts)-1)) AS g(i)
                WHERE len(ts) >= 2),
         b AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY 1, 2
               HAVING count(*) >= 5)
         SELECT b.w1, b.w2, b.c_xy, ux.c AS c_x, uy.c AS c_y,
                round(CAST(b.c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                  / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)), 6) AS lift
         FROM b JOIN u ux ON b.w1 = ux.w JOIN u uy ON b.w2 = uy.w, n
         ORDER BY lift DESC, b.w1, b.w2 LIMIT 40"""),
    // per-source boilerplate removal (CCNet domain rule): header/footer
    // lines injected into every doc of a source (and a 25% promo line)
    // — lines in ≥ ceil(0.5·source_docs) docs of the SAME source are
    // stripped, so header/copyright go and promo stays
    Query("q_boilerplate", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("source"),
        concat(lit("header "), col("source"), lit("\n"), col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("\npromo "), col("source"))).otherwise(lit("")),
          lit("\ncopyright "), col("source")).as("text"))
      TextOps.boilerplateStrip(corpus, "doc_id", "text", col("source"),
          minFrac = 0.5)
        .select(col("id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("id"))
    },
      // same injection; boilerplate = line in >= greatest(2,
      // ceil(0.5*source_docs)) distinct docs of its source
      """WITH c AS (SELECT doc_id, source,
                 'header ' || source || chr(10) || text
                   || (CASE WHEN doc_id % 4 = 0
                            THEN chr(10) || 'promo ' || source
                            ELSE '' END)
                   || chr(10) || 'copyright ' || source AS t
               FROM documents),
         l AS (SELECT doc_id, source,
                 unnest(string_split(t, chr(10))) AS line,
                 generate_subscripts(string_split(t, chr(10)), 1) AS pos
               FROM c),
         g AS (SELECT source, count(*) AS n_docs FROM c GROUP BY 1),
         f AS (SELECT l.source, trim(line) AS k,
                      count(DISTINCT doc_id) AS doc_hits
               FROM l GROUP BY 1, 2),
         b AS (SELECT f.source, k FROM f JOIN g ON f.source = g.source
               WHERE doc_hits >= greatest(2, CAST(ceil(0.5 * n_docs) AS BIGINT)))
         SELECT doc_id AS id, count(*) AS n_lines,
                CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                md5(COALESCE(string_agg(CASE WHEN b.k IS NULL THEN line END,
                      chr(10) ORDER BY pos), '')) AS clean_md5
         FROM l LEFT JOIN b ON l.source = b.source AND trim(l.line) = b.k
         GROUP BY doc_id"""),
    // TF-IDF-weighted cosine pair scoring: inverted-index pair join
    // with df cap, fixed-point integer weights (exact dot products and
    // norms), doubles only in the final cosine
    Query("q_tfidf_cosine", (s, dir) =>
      TextOps.tfidfCosinePairs(docs(s, dir), "doc_id", "text",
        minSim = 0.9).orderBy(col("id0"), col("id1")),
      // identical fixed-point weights (// == DIV), integer dots/norms,
      // the same two final sqrt/divide ops
      """WITH tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id AS id,
                       unnest(string_split(text, ' ')) AS term
                     FROM documents)
               GROUP BY id, term),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY term HAVING count(*) <= 1000),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         wt AS (SELECT id, term, tf * ((n_docs * 1000) // df) AS w
                FROM tf JOIN d USING (term), n),
         norms AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS norm_sq
                   FROM wt GROUP BY id),
         p AS (SELECT a.id AS id0, b.id AS id1,
                      CAST(sum(a.w * b.w) AS BIGINT) AS dot
               FROM wt a JOIN wt b ON a.term = b.term AND a.id < b.id
               GROUP BY a.id, b.id),
         c AS (SELECT p.id0, p.id1, dot,
                      sqrt(o0.norm_sq) AS norm0, sqrt(o1.norm_sq) AS norm1,
                      dot / (sqrt(o0.norm_sq) * sqrt(o1.norm_sq)) AS cos
               FROM p JOIN norms o0 ON p.id0 = o0.id
                      JOIN norms o1 ON p.id1 = o1.id)
         SELECT id0, id1, dot, norm0, norm1, cos FROM c
         WHERE cos >= 0.9"""),
    // tf-idf top terms (ratio idf — monotone with log idf, SQL-exact)
    Query("q_tfidf_topterms", (s, dir) =>
      TextOps.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy(col("id"), col("rank")),
      // tf-idf replayed exactly: same space tokenization, same (doc,term)
      // and term aggs, idf as the n_docs/df ratio (no log — libm differs
      // across engines; the ratio ranks identically), same window rank with
      // lexicographic tiebreak
      """WITH tok AS (SELECT doc_id AS id, unnest(str_split(text, ' ')) AS term
               FROM documents),
         tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY 1, 2),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         s AS (SELECT id, term, tf.tf, d.df, tf.tf * (n.n_docs / d.df) AS score
               FROM tf JOIN d USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY id ORDER BY score DESC, term ASC) AS rank
               FROM s)
         SELECT id, term, tf, df, score, rank FROM r WHERE rank <= 3"""),
    Query("q_fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprintUdf(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
           CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
         FROM (
           SELECT doc_id,
             list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(range(1, length(text) + 1),
                   i -> ord(substr(text, i, 1))::HUGEINT)),
               (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT)
                 % 18446744073709551616::HUGEINT) AS h
           FROM documents)"""),
    // md5 content fingerprint (SQL-replayable companion to the FNV one)
    Query("q_fingerprint_md5", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp_md5")).orderBy(col("doc_id")),
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents"),
    // DSIR importance weights: how English-like is each document under
    // a 1024-bucket hashed unigram LM ratio (target = lang 'en' vs the
    // raw corpus) — the data-selection score for LM training mixes
    Query("q_dsir", (s, dir) =>
      graft.textops.TextOps.dsirWeights(docs(s, dir), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .orderBy(col("doc_id")),
      // DSIR replay: same md5-derived 1024-bucket hash, same add-one
      // smoothed counts, same log10 ratio mean rounded to 6 places
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
                      unnest(str_split(text, ' ')) AS tok
                    FROM documents),
         b AS (SELECT doc_id, tgt,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024
                   AS b
               FROM t),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_r,
                        CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_t
                 FROM b),
         m AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
                 CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_t
               FROM b GROUP BY b),
         lr AS (SELECT b,
                  log10((c_t + 1) / CAST(n_t + 1024 AS DOUBLE))
                  - log10((c_r + 1) / CAST(n_r + 1024 AS DOUBLE))
                    AS logratio
                FROM m, tot)
         SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                round(avg(lr.logratio), 6) AS dsir_weight
         FROM b JOIN lr USING (b)
         GROUP BY b.doc_id"""),
  )
}
