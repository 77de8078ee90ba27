package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** Near-duplicate detection over the documents corpus: exact and
  * set-similarity joins, MinHash / SimHash LSH with their accuracy
  * audits, and the dedup funnels built on them.
  *
  * Inside the record-linkage boundary. */
object DedupQueries extends QueryFamily {
  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    "minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text")),
    // raw component values ride along so the estimator-accuracy oracle
    // re-derives n_eq/est/exact from the dump (hash family spec-gated)
    "minhash_acc_sig" -> ((s, dir) =>
      Dedup.minhashComponentSignatures(docs(s, dir), "doc_id", "text")),
    "wminhash_sig" -> ((s, dir) =>
      Dedup.weightedMinhashSignatures(docs(s, dir), "doc_id", "text")),
    "simhash_sig" -> ((s, dir) =>
      Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")),
  )

  /** Oracle CTE `b`: first-token block key, id and `toks` per document. */
  private def firstTokenBlocks(toks: String): String =
    s"""b AS (
           SELECT str_split(text, ' ')[1] AS bk, doc_id AS id,
                  $toks FROM documents)"""
  private val distinctToks = "list_distinct(str_split(text, ' ')) AS toks"
  /** The block self-join over `b`, one orientation per pair. */
  private val blockSelfJoin = "FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id"

  /** Rounded list Jaccard of two list columns (the engine's 4-dp value). */
  private def listJaccardSql(a: String, b: String): String =
    s"""round(CAST(len(list_intersect($a, $b)) AS DOUBLE)
                    / (len($a) + len($b) - len(list_intersect($a, $b))), 4)"""

  /** Signature-dump self-join: pairs of `m` rows sharing a band key. */
  private def bandKeyJoin(m: String): String =
    s"""FROM $m a JOIN $m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0"""

  private val minhashSigCte =
    s"m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet')"

  /** MinHash pairing replayed from the minhash_sig dump: `p` holds every
    * candidate (shares >= 1 band key) with its shingle Jaccard. */
  private val minhashJaccardCtes =
    s"""$minhashSigCte,
         p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  ${listJaccardSql("a.sh", "b.sh")} AS jaccard
           ${bandKeyJoin("m")})"""

  /** `p`: the confirmed (Jaccard >= 0.5) band-key pairs of the rows `m`. */
  private val minhashPairCte =
    s"""p AS (
           SELECT a.doc AS id0, b.doc AS id1
           ${bandKeyJoin("m")}
           WHERE ${listJaccardSql("a.sh", "b.sh")}
             >= 0.5)"""

  /** Min-label closure of the pair CTE `p` over the nodes `seed`
    * selects: `g` (id, group_id = min reachable id), which is the CC
    * solver's component label. Needs WITH RECURSIVE. */
  private def minLabelClosure(seed: String): String =
    s"""e AS (SELECT id0 AS u, id1 AS v FROM p
               UNION SELECT id1, id0 FROM p),
         reach(id, r) AS (
           $seed
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)"""

  /** Near-dup groups of every document, replayed from the minhash_sig
    * dump: CTEs m, p, e, reach and g (id, group_id); the caller writes
    * WITH RECURSIVE. */
  val nearDupGroupCtes: String =
    s"""$minhashSigCte,
         $minhashPairCte,
         ${minLabelClosure("SELECT doc_id, doc_id FROM documents")}"""

  /** CTEs `d` and `w`: the md5 of every 40-char window, every 20 chars. */
  private val md5WindowCtes =
    """d AS (SELECT doc_id, text, length(text) AS len FROM documents
                    WHERE length(text) >= 40),
         w AS (SELECT doc_id, md5(substring(text, CAST(p AS INT), 40)) AS h
               FROM d, unnest(generate_series(1, len - 40 + 1, 20)) AS t(p))"""

  private def firstToken = element_at(split(col("text"), " "), 1)
  private def byPair(df: DataFrame) = df.orderBy(col("id0"), col("id1"))

  private val minhashAccSig = s"$OracleAuxDir/minhash_acc_sig/*.parquet"

  /** Estimator-audit replay over band-key candidate pairs of the
    * minhash_acc_sig rows `m` (a CTE that `ctes` declares, or the dump
    * itself): `n` counts the 32 dumped components for which `eq` holds,
    * `est` = `estimate`, next to the shingle Jaccard and the error. */
  private def componentAuditSql(ctes: String, m: String, eq: String,
      n: String, estimate: String, est: String): String =
    s"""WITH ${ctes}p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  CAST(list_sum(list_transform(range(1, 33),
                    i -> CASE WHEN $eq
                         THEN 1 ELSE 0 END)) AS BIGINT) AS $n,
                  ${listJaccardSql("a.sh", "b.sh")} AS jaccard
           ${bandKeyJoin(m)}),
         q AS (SELECT id0, id1, $n,
                      $estimate AS $est,
                      jaccard
               FROM p)
         SELECT id0, id1, $n, $est, jaccard,
                round(abs($est - jaccard), 4) AS abs_err
         FROM q"""

  /** Thresholded first-token-blocked Jaccard over the token lists `toks`. */
  private def blockedJaccardSql(toks: String): String =
    s"""WITH ${firstTokenBlocks(toks)},
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  ${listJaccardSql("l.toks", "r.toks")} AS jaccard
           $blockSelfJoin)
         SELECT id0, id1, jaccard FROM p WHERE jaccard >= 0.5"""

  val queries: Seq[Query] = Seq(
    // exact dedup (hash-groupBy) on a 3-token prefix key
    Query("q_dedup_exact", (s, dir) =>
      Dedup.exactGroups(docs(s, dir),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)), col("doc_id"))
        .orderBy(col("dup_key")),
      """SELECT array_to_string(str_split(text, ' ')[1:3], ' ') AS dup_key,
                min(doc_id) AS keeper_id, count(*) AS group_size
         FROM documents GROUP BY 1"""),
    // n-gram Jaccard near-dup pairs (blocked on first token)
    Query("q_jaccard_pairs", (s, dir) =>
      byPair(Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", firstToken,
        threshold = 0.5)),
      blockedJaccardSql(distinctToks)),
    // Tversky-index pairs (asymmetric Jaccard/Dice generalization,
    // alpha=0.8 / beta=0.2): prototype-side deletions cost 4x additions
    // — the "is B a variant of A" orientation; exact tenths arithmetic
    Query("q_tversky", (s, dir) =>
      byPair(Dedup.tverskyPairs(docs(s, dir), "doc_id", "text", firstToken,
        alphaTenths = 8, betaTenths = 2, threshold = 0.75)),
      // same block join; Tversky denominator in exact tenths, one double
      // divide, 4-dp round before the threshold compare
      s"""WITH ${firstTokenBlocks(distinctToks)},
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  CAST(len(list_intersect(l.toks, r.toks)) AS BIGINT) AS inter,
                  CAST(len(l.toks) AS INT) AS sz0,
                  CAST(len(r.toks) AS INT) AS sz1
           $blockSelfJoin),
         s AS (SELECT id0, id1, inter, sz0, sz1,
                      round(10.0 * inter / (10 * inter + 8 * (sz0 - inter)
                        + 2 * (sz1 - inter)), 4) AS tversky
               FROM p)
         SELECT id0, id1, inter, sz0, sz1, tversky
         FROM s WHERE tversky >= 0.75"""),
    // prefix-filtered EXACT set-similarity self-join (AllPairs/PPJoin
    // family): no blocking key, no LSH recall loss — the df-ordered
    // prefix IS the join key; all cuts are integer rationals
    Query("q_prefix_join", (s, dir) =>
      byPair(Dedup.prefixFilterPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.7)),
      // full AllPairs/PPJoin replay: df-ordered prefixes, length filter,
      // exact-rational accept — every cut an integer cross-multiply
      """WITH toks AS (
           SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
           FROM documents),
         n AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY id),
         dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
         ranked AS (
           SELECT t.id, t.tok, n.sz,
                  row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn
           FROM toks t JOIN dfreq d USING (tok) JOIN n USING (id)),
         prefix AS (
           SELECT id, tok, sz FROM ranked
           WHERE rn <= sz - ((sz * 7000 + 9999) // 10000) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id0, b.id AS id1, a.sz AS sz0, b.sz AS sz1
           FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.id < b.id
           WHERE least(a.sz, b.sz) * 10000 >= greatest(a.sz, b.sz) * 7000),
         sets AS (SELECT doc_id AS id,
                         list_distinct(str_split(text, ' ')) AS s
                  FROM documents),
         conf AS (
           SELECT id0, id1,
                  CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
                  sz0, sz1
           FROM cand
           JOIN sets sa ON sa.id = cand.id0
           JOIN sets sb ON sb.id = cand.id1)
         SELECT id0, id1, inter, sz0, sz1,
                round(CAST(inter AS DOUBLE) / (sz0 + sz1 - inter), 4) AS jaccard
         FROM conf
         WHERE inter * 10000 >= (sz0 + sz1 - inter) * 7000"""),
    // character-trigram Jaccard (one-pass codegen'd gram signature +
    // merge-scan confirm; same salted pairing)
    Query("q_jaccard_char3", (s, dir) =>
      byPair(Dedup.jaccardPairsHashed(docs(s, dir), "doc_id",
        graft.expr.hashedCharNgrams(col("text"), 3), firstToken,
        threshold = 0.5)),
      blockedJaccardSql("""CASE WHEN length(text) < 3 THEN [text]
                       ELSE list_distinct(list_transform(
                         range(1, length(text) - 1), i -> substr(text, i, 3)))
                  END AS toks""")),
    // weighted (bag) Jaccard: tf-profile min/max overlap — discriminates
    // where token-set Jaccard saturates on the small-vocab corpus
    Query("q_weighted_jaccard", (s, dir) =>
      byPair(Dedup.weightedJaccardPairs(docs(s, dir), "doc_id", "text",
        firstToken, threshold = 0.5)),
      // bag-jaccard replay: per-doc tf via unnest+count, min-sum over the
      // pair's shared terms, den from the Σmax = totA+totB−Σmin identity;
      // the threshold is the integer cross-multiply, never the double
      s"""WITH ${firstTokenBlocks("str_split(text, ' ') AS ts")},
         tfc AS (SELECT id, term, count(*) AS tf
                 FROM (SELECT id, unnest(ts) AS term FROM b) GROUP BY 1, 2),
         tot AS (SELECT id, CAST(len(ts) AS BIGINT) AS tot FROM b),
         p AS (SELECT l.id AS id0, r.id AS id1
               $blockSelfJoin),
         ms AS (SELECT p.id0, p.id1,
                       CAST(SUM(LEAST(a.tf, c.tf)) AS BIGINT) AS wj_num
                FROM p JOIN tfc a ON a.id = p.id0
                       JOIN tfc c ON c.id = p.id1 AND c.term = a.term
                GROUP BY 1, 2)
         SELECT ms.id0, ms.id1, ms.wj_num,
                t0.tot + t1.tot - ms.wj_num AS wj_den,
                round(CAST(ms.wj_num AS DOUBLE)
                      / (t0.tot + t1.tot - ms.wj_num), 4) AS wjaccard
         FROM ms JOIN tot t0 ON t0.id = ms.id0
                 JOIN tot t1 ON t1.id = ms.id1
         WHERE ms.wj_num * 1000000 >= 500000 * (t0.tot + t1.tot - ms.wj_num)"""),
    // containment near-dup pairs (|A∩B|/min(|A|,|B|) — the subset/quote
    // duplication Jaccard misses; same hashed-set merge-scan kernel)
    Query("q_containment", (s, dir) =>
      byPair(Dedup.containmentPairsHashed(docs(s, dir), "doc_id",
        Dedup.hashedSet(split(col("text"), " ")), firstToken, threshold = 0.6)),
      s"""WITH ${firstTokenBlocks(distinctToks)},
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                    / least(len(l.toks), len(r.toks)), 4) AS containment
           $blockSelfJoin)
         SELECT id0, id1, containment FROM p WHERE containment >= 0.6"""),
    // C1 semantics, SQL-replayable form: Dice coefficient over distinct
    // token SETS (2|A∩B|/(|A|+|B|)) thresholded within blocks — the same
    // candidate-generation + threshold-join shape as the CLK kernel, with
    // a DuckDB-computable similarity so the oracle can replay it
    Query("q_dice_token_pairs", (s, dir) => {
      val b = docsBlocked(s, dir)
        .withColumn("toks", Dedup.hashedSet(split(col("text"), " ")))
      val l = b.select(col("block_key"), col("dp").as("dp0"),
        col("entity_id").as("id0"), col("toks").as("tk0"))
      val r = b.select(col("block_key"), col("dp").as("dp1"),
        col("entity_id").as("id1"), col("toks").as("tk1"))
      val inter = graft.expr.sortedIntersectCount(col("tk0"), col("tk1"))
        .cast("double")
      byPair(Dedup.scoreAndFilter(
        l.join(r, "block_key").where(col("dp0") < col("dp1")),
        "dice", round(lit(2.0) * inter / (size(col("tk0")) + size(col("tk1"))), 4),
        0.7, "id0", "id1", "dice"))
    },
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, CAST(doc_id % 2 AS INT) AS dp,
                  doc_id AS id, list_distinct(str_split(text, ' ')) AS toks
           FROM documents),
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  round(2.0 * len(list_intersect(l.toks, r.toks))
                    / (len(l.toks) + len(r.toks)), 4) AS dice
           FROM b l JOIN b r ON l.bk = r.bk AND l.dp < r.dp)
         SELECT id0, id1, dice FROM p WHERE dice >= 0.7"""),
    // corpus dedup summary: the before/after readout a dedup run reports
    // (docs, distinct texts, dup rate, bytes saved by keeping one copy)
    Query("q_dedup_stats", (s, dir) => {
      val g = Dedup.exactGroups(docs(s, dir), md5(col("text")),
        col("doc_id"))
      docs(s, dir).select(md5(col("text")).as("dup_key"),
          length(col("text")).cast("long").as("bytes"))
        .join(g, "dup_key")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("dup_key")).as("n_distinct"),
          sum(col("bytes")).as("total_bytes"),
          sum(when(col("group_size") > 1, col("bytes"))
            .otherwise(lit(0L))).as("bytes_in_dup_groups"),
          (count(lit(1)) - countDistinct(col("dup_key"))).as("n_removable"))
    },
      """WITH d AS (SELECT md5(text) AS k,
                           CAST(length(text) AS BIGINT) AS bytes
                    FROM documents),
         g AS (SELECT k, count(*) AS gs FROM d GROUP BY 1)
         SELECT count(*) AS n_docs,
                count(DISTINCT d.k) AS n_distinct,
                CAST(SUM(d.bytes) AS BIGINT) AS total_bytes,
                CAST(SUM(CASE WHEN g.gs > 1 THEN d.bytes ELSE 0 END)
                  AS BIGINT) AS bytes_in_dup_groups,
                count(*) - count(DISTINCT d.k) AS n_removable
         FROM d JOIN g ON g.k = d.k"""),
    Query("q_minhash_pairs", (s, dir) =>
      byPair(Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)),
      // MinHash-LSH pairing replayed from the minhash_sig dump: candidates
      // share >= 1 band key, confirm = exact shingle Jaccard
      s"""WITH $minhashJaccardCtes
         SELECT id0, id1, jaccard FROM p WHERE jaccard >= 0.5"""),
    // estimator-accuracy audit: k-component MinHash estimate vs exact
    // shingle Jaccard per LSH candidate (unthresholded — misses matter);
    // the replay takes n_eq from positional equality of the dumped vals
    Query("q_minhash_acc", (s, dir) =>
      byPair(Dedup.minhashAccuracy(docs(s, dir), "doc_id", "text")),
      componentAuditSql(s"""m AS (SELECT doc, sh, vals, bks
                     FROM '$minhashAccSig'),
         """, "m", "a.vals[i] = b.vals[i]", "n_eq",
        "round(CAST(n_eq AS DOUBLE) / 32, 4)", "est_jaccard")),
    // b-bit minhash (Li & König 2010): 4-bit components audited against
    // the exact shingle Jaccard. The replay compares components under the
    // low-4-bit mask (& 15 — two's complement in both engines), then the
    // exact-integer bias correction (16·n_eq_b − 32)/480 for k=32, b=4
    // (can go negative at tiny J: that IS the unbiased estimator)
    Query("q_bbit_minhash", (s, dir) =>
      byPair(Dedup.bbitMinhashAccuracy(docs(s, dir), "doc_id", "text")),
      componentAuditSql("", s"'$minhashAccSig'",
        "(a.vals[i] & 15) = (b.vals[i] & 15)", "n_eq_b",
        "round(CAST(n_eq_b * 16 - 32 AS DOUBLE) / 480, 4)", "est_bbit")),
    // weighted-minhash LSH: bag-similarity blocking WITHOUT a block key
    // (multiset-expansion minhash); exact capped-tf confirm. In the
    // wminhash_sig replay mem entries are unique ("tok§i"), so
    // list_intersect IS the capped Σmin and the integer cut replays exactly
    Query("q_wjaccard_lsh", (s, dir) =>
      byPair(Dedup.weightedMinhashLshPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.7)),
      s"""WITH m AS (SELECT doc, mem, bks FROM '$OracleAuxDir/wminhash_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  CAST(len(list_intersect(a.mem, b.mem)) AS INTEGER) AS wj_num,
                  CAST(len(a.mem) + len(b.mem)
                       - len(list_intersect(a.mem, b.mem)) AS BIGINT) AS wj_den
           ${bandKeyJoin("m")})
         SELECT id0, id1, wj_num, wj_den,
                round(CAST(wj_num AS DOUBLE) / wj_den, 4) AS wjaccard
         FROM p WHERE wj_num * 1000000 >= 700000 * wj_den"""),
    // incremental dedup: only pairs touching the "new batch" slice
    // (doc_id%10==7) are generated — untouched buckets pay zero work;
    // oracle = the FULL pairing replay filtered to touching-new (the
    // delta contract, same shape as q_link_delta)
    Query("q_minhash_delta", (s, dir) => {
      val d = docs(s, dir)
      byPair(Dedup.minhashLshPairsDelta(d.where(col("doc_id") % 10 =!= 7),
        d.where(col("doc_id") % 10 === 7), "doc_id", "text", threshold = 0.5))
    },
      s"""WITH $minhashJaccardCtes
         SELECT id0, id1, jaccard FROM p
         WHERE jaccard >= 0.5 AND (id0 % 10 = 7 OR id1 % 10 = 7)"""),
    Query("q_simhash_pairs", (s, dir) =>
      byPair(Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxDist = 3)),
      // SimHash pairing replayed from the simhash_sig dump (4-band
      // pigeonhole is exact for maxDist<=3, so banded == brute force)
      s"""WITH s AS (SELECT doc, sh FROM '$OracleAuxDir/simhash_sig/*.parquet')
         SELECT a.doc AS id0, b.doc AS id1,
                CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
         FROM s a JOIN s b ON a.doc < b.doc
         WHERE bit_count(xor(a.sh, b.sh)) <= 3"""),
    // LSH quality evaluation: recall/precision of the MinHash-LSH path
    // vs the EXACT Jaccard ground truth over the same 2-shingle sets
    // (banding is the only approximation, so precision is 1.0 by
    // construction and recall is the banding coverage — the number a
    // 100-TB dedup run tunes bands/rows against). Restricted to even
    // doc ids so the oracle's O(n^2) exact replay stays cheap at sf0.01.
    // The replay's one all-pairs table over the even-doc signatures
    // yields both sides (exact = jaccard >= t, LSH = exact AND >=1 shared
    // band key); LSH is a subset of exact by construction, as the Spark
    // full-outer join computes, so tp == n_lsh is faithful, not a shortcut.
    Query("q_neardup_eval", (s, dir) => {
      val sub = docs(s, dir).where(col("doc_id") % 2 === 0)
      val sig = Dedup.minhashSignatures(sub, "doc_id", "text")
      val exact = Dedup.jaccardPairsBy(sig.toDF(), "doc", col("sh"),
          lit("1"), threshold = 0.5)
        .select(col("id0"), col("id1"), lit(1L).as("e"))
      val lsh = Dedup.minhashLshPairs(sub, "doc_id", "text", threshold = 0.5)
        .select(col("id0"), col("id1"), lit(1L).as("l"))
      exact.join(lsh, Seq("id0", "id1"), "full_outer")
        .agg(
          sum(coalesce(col("e"), lit(0L)) * coalesce(col("l"), lit(0L))).as("tp"),
          sum(coalesce(col("e"), lit(0L))).as("n_exact"),
          sum(coalesce(col("l"), lit(0L))).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"), col("tp"),
          when(col("n_lsh") > 0, col("tp") / col("n_lsh"))
            .otherwise(lit(0.0)).as("precision"),
          when(col("n_exact") > 0, col("tp") / col("n_exact"))
            .otherwise(lit(0.0)).as("recall"))
    },
      s"""WITH m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'
                     WHERE doc % 2 = 0),
         jp AS (
           SELECT ${listJaccardSql("a.sh", "b.sh")} AS j,
                  len(list_intersect(a.bks, b.bks)) > 0 AS cand
           FROM m a JOIN m b ON a.doc < b.doc),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
                       CAST(count(*) FILTER (WHERE cand) AS BIGINT) AS n_lsh,
                       CAST(count(*) FILTER (WHERE cand) AS BIGINT) AS tp
                FROM jp WHERE j >= 0.5)
         SELECT n_exact, n_lsh, tp,
                CASE WHEN n_lsh > 0 THEN CAST(tp AS DOUBLE) / n_lsh
                     ELSE 0.0 END AS "precision",
                CASE WHEN n_exact > 0 THEN CAST(tp AS DOUBLE) / n_exact
                     ELSE 0.0 END AS recall
         FROM ag"""),
    // near-dup group resolution: LSH pairs -> connected components ->
    // canonical representative; the oracle replays the pairing from the
    // minhash_sig dump (same params as q_minhash_pairs) and the
    // transitive closure with a recursive CTE (min reachable id per node
    // == the CC solver's component label, which is also min member id)
    Query("q_neardup_groups", (s, dir) =>
      Dedup.nearDupGroups(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id")),
      s"""WITH RECURSIVE
         $nearDupGroupCtes
         SELECT id, group_id, (id = group_id) AS is_canonical FROM g"""),
    // the staged dedup funnel (raw -> exact -> LSH near-dup) with doc +
    // token counts per stage; the oracle replays exact survivors (min doc
    // per md5(text)) and the near-dup stage from the signature dump
    // restricted to exact survivors (signatures are per-doc, so subset
    // pairing == full pairing filtered to survivor endpoints), min-label
    // closure, keep component minima; three unioned stage rows
    Query("q_dedup_funnel", (s, dir) =>
      Dedup.dedupFunnel(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("stage_idx")),
      s"""WITH RECURSIVE
         d AS (SELECT doc_id AS id, text,
                      CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
         ek AS (SELECT md5(text) AS k, min(id) AS id FROM d GROUP BY 1),
         es AS (SELECT d.* FROM d JOIN ek ON d.id = ek.id),
         m0 AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'),
         m AS (SELECT m0.* FROM m0 JOIN es ON m0.doc = es.id),
         $minhashPairCte,
         ${minLabelClosure("SELECT id, id FROM es")},
         ns AS (SELECT es.* FROM es JOIN g ON es.id = g.id
                WHERE g.id = g.group_id)
         SELECT 0 AS stage_idx, 'raw' AS stage,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM d
         UNION ALL
         SELECT 1, 'exact', CAST(count(*) AS BIGINT),
                CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM es
         UNION ALL
         SELECT 2, 'neardup', CAST(count(*) AS BIGINT),
                CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM ns"""),
    // exact substring-duplication detector (Lee et al. 2022 reduced to
    // its diagnostic core): 40-char windows every 20 chars, a window is
    // duplicated iff its hash appears in >= 2 distinct docs; per-doc
    // duplicated-window fraction
    Query("q_dup_spans", (s, dir) =>
      Dedup.duplicatedSpans(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc")),
      // windowed-hash substring duplication replayed from generate_series +
      // substring + md5 (both engines hash the same UTF-8 bytes to the same
      // lowercase hex)
      s"""WITH $md5WindowCtes,
         dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         per AS (SELECT doc_id, count(*) AS n_dup FROM w
                 WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_win FROM w GROUP BY doc_id)
         SELECT t.doc_id AS doc, t.n_win, COALESCE(p.n_dup, 0) AS n_dup,
                round(COALESCE(p.n_dup, 0) / CAST(t.n_win AS DOUBLE), 6)
                  AS dup_frac
         FROM tot t LEFT JOIN per p USING (doc_id)"""),
    // order-aware n-gram novelty: windows first seen in an earlier doc
    // are charged to the later one (first copy stays novel)
    Query("q_ngram_novelty", (s, dir) =>
      Dedup.ngramNovelty(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc")),
      // novelty: same windowing, (hash -> min doc) first-occurrence
      // attribution; sum cast (DuckDB sum(int) widens)
      s"""WITH $md5WindowCtes,
         fd AS (SELECT h, min(doc_id) AS first_doc FROM w GROUP BY h)
         SELECT w.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_win,
                CAST(sum(CASE WHEN fd.first_doc < w.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_seen,
                round(CAST(1 AS DOUBLE)
                  - sum(CASE WHEN fd.first_doc < w.doc_id THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) AS novelty
         FROM w JOIN fd USING (h)
         GROUP BY w.doc_id"""),
    // winnowing (MOSS) fingerprint selection: rightmost window minima
    // of the k-gram hash stream — ~2/(w+1) density with the >=w+k-1
    // shared-substring detection guarantee
    Query("q_winnowing", (s, dir) =>
      Dedup.winnowingFingerprints(
          docs(s, dir).where(col("doc_id") < 100), "doc_id", "text")
        .orderBy(col("doc"), col("pos")),
      // winnowing replay: same k-gram hash stream, window min over ROWS
      // CURRENT..w-1 FOLLOWING, rightmost argmin via the (doc, h=wmin,
      // w-band) join, DISTINCT
      """WITH d AS (SELECT doc_id AS doc, text FROM documents
                    WHERE doc_id < 100 AND length(text) >= 19),
         g AS (SELECT doc, p AS pos,
                      md5(substring(text, CAST(p AS INT), 12)) AS h
               FROM d, unnest(generate_series(1, length(text) - 12 + 1))
                         AS t(p)),
         wm AS (SELECT doc, pos AS i,
                       min(h) OVER (PARTITION BY doc ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
                       max(pos) OVER (PARTITION BY doc) AS n
                FROM g),
         full_w AS (SELECT doc, i, wmin FROM wm WHERE i <= n - 8 + 1),
         sel AS (SELECT full_w.doc, full_w.i, full_w.wmin AS fp,
                        max(g.pos) AS pos
                 FROM full_w JOIN g
                 ON g.doc = full_w.doc AND g.h = full_w.wmin
                    AND g.pos BETWEEN full_w.i AND full_w.i + 7
                 GROUP BY full_w.doc, full_w.i, full_w.wmin)
         SELECT DISTINCT doc, pos, fp FROM sel"""),
  )
}
