package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** Web-crawl operators: WARC round trips, link extraction, crawl
  * frontier and fetch scheduling, robots filtering, URL canonicalization
  * and revisit rollups.
  *
  * Outside the record-linkage boundary: a candidate for deletion
  * together with its engine code and specs. */
object CrawlQueries extends QueryFamily {
  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the deterministic link corpus (pure column algebra — replayable,
    // but dumped so the oracle checks EXTRACTION, not generation)
    "link_pages" -> ((s, _) => linkPages(s)),
  )

  val queries: Seq[Query] = Seq(
    // WARC sink + source round-trip: serialize the link corpus as
    // Common-Crawl-style WARC records, read the files back through the
    // record-delimited text source, parse headers + Content-Length-framed
    // payload. The oracle REGENERATES the corpus from its formula in SQL
    // (never sees the files), so any framing/parse loss breaks the match
    Query("q_warc_roundtrip", (s, _) => {
      val recs = linkPages(s).select(
        concat(lit("https://site.example/p/"), col("doc").cast("string"))
          .as("url"),
        lit("2026-01-01T00:00:00Z").as("date"),
        col("html").as("payload"))
      graft.ingest.WarcIO.writeWarc(recs, "/tmp/graft_warc_roundtrip")
      graft.ingest.WarcIO.readWarc(s, "/tmp/graft_warc_roundtrip")
        .select(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
            .as("doc"),
          col("url"), col("warc_type"), col("warc_date"),
          col("content_length"), col("payload"))
        .orderBy(col("doc"))
    },
      // independent regeneration of the link corpus from its arithmetic
      // formula — the files the query wrote are never consulted
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS doc),
         h AS (SELECT doc,
                 '<html><body><p>Page ' || doc ||
                 '.</p><a href="https://site.example/p/' || ((doc*7+1)%300) ||
                 '">next page ' || ((doc*7+1)%300) || '</a>' ||
                 CASE WHEN doc % 3 = 0
                   THEN '<a href="https://site.example/p/' || ((doc*3+5)%300)
                     || '" rel="nofollow">see also</a>'
                   ELSE '' END ||
                 '</body></html>' AS payload
               FROM g)
         SELECT CAST(doc AS BIGINT) AS doc,
                'https://site.example/p/' || doc AS url,
                'response' AS warc_type,
                '2026-01-01T00:00:00Z' AS warc_date,
                CAST(length(payload) AS INT) AS content_length, payload
         FROM h"""),
    // hyperlink extraction over the synthetic link corpus: the web-graph
    // edge list (src, pos, href, anchor) — oracle replays the regex
    // extraction in DuckDB from the link_pages dump (RE2-safe pattern)
    Query("q_link_extract", (s, _) =>
      graft.ingest.LinkExtract.links(linkPages(s), "doc", "html")
        .orderBy(col("src"), col("pos")),
      // extraction replay: DuckDB's RE2 runs the same alternation-free
      // pattern; parallel unnests zip positionally, matching Spark's
      // posexplode over the zipped capture lists
      s"""WITH t AS (SELECT doc,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hrefs,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS anchors
            FROM '$OracleAuxDir/link_pages/*.parquet')
         SELECT doc AS src,
                CAST(generate_subscripts(hrefs, 1) - 1 AS INT) AS pos,
                unnest(hrefs) AS href, unnest(anchors) AS anchor
         FROM t"""),
    // incremental-crawl frontier: pages 0..199 are "crawled"; the
    // frontier is every linked-to uncrawled target with its in-degree
    // (the next-fetch priority signal)
    Query("q_crawl_frontier", (s, _) => {
      val crawledPages = linkPages(s).where(col("doc") < 200)
      graft.ingest.LinkExtract.frontier(
          graft.ingest.LinkExtract.links(crawledPages, "doc", "html"),
          crawledPages.select(concat(lit("https://site.example/p/"),
            col("doc").cast("string")).as("crawled_url")))
        .orderBy(desc("in_degree"), col("href"))
    },
      // frontier replay from the link formula: edges of crawled pages
      // (src < 200), targets outside the crawled range, grouped
      """WITH g AS (SELECT unnest(generate_series(0, 199)) AS src),
         l AS (SELECT src, (src*7+1)%300 AS tgt FROM g
               UNION ALL
               SELECT src, (src*3+5)%300 FROM g WHERE src % 3 = 0),
         f AS (SELECT src, tgt FROM l WHERE tgt >= 200)
         SELECT 'https://site.example/p/' || tgt AS href,
                CAST(count(*) AS BIGINT) AS in_degree,
                CAST(count(DISTINCT src) AS BIGINT) AS n_referrers
         FROM f GROUP BY 1"""),
    // politeness fetch scheduler: every host's URLs on one worker,
    // URL-ordered and delayMs-spaced; md5-hash routing so the oracle
    // replays worker assignment exactly
    Query("q_fetch_schedule", (s, dir) =>
      graft.textops.UrlOps.fetchSchedule(
          docs(s, dir).select(concat(lit("https://h"),
            (col("doc_id") % 7).cast("string"), lit(".example/d/"),
            col("doc_id").cast("string")).as("url")),
          "url", workers = 5, delayMs = 200L)
        .orderBy(col("host"), col("fetch_seq")),
      // independent schedule replay: same md5-prefix worker routing
      // (CAST('0x…' AS BIGINT) == Spark's conv(…,16,10) for 8 hex digits),
      // same per-host URL-ordered spacing
      """WITH u AS (SELECT 'https://h' || (doc_id % 7) || '.example/d/'
                             || doc_id AS url,
                           'h' || (doc_id % 7) || '.example' AS host
                    FROM documents),
         r AS (SELECT url, host,
                      CAST(CAST('0x' || substring(md5(host), 1, 8) AS BIGINT)
                        % 5 AS INT) AS worker,
                      CAST(row_number() OVER (PARTITION BY host
                        ORDER BY url) - 1 AS BIGINT) AS fetch_seq
               FROM u)
         SELECT url, host, worker, fetch_seq,
                fetch_seq * 200 AS fetch_at_ms FROM r"""),
    // per-target anchor profile of the extracted web graph: in-degree,
    // distinct linking pages, dominant anchor text
    Query("q_anchor_text", (s, _) =>
      graft.ingest.LinkExtract.anchorProfile(
          graft.ingest.LinkExtract.links(linkPages(s), "doc", "html"))
        .orderBy(col("href")),
      // anchor aggregation replay from the link_pages dump: Spark's
      // max(struct(cnt, anchor)) == row_number ORDER BY cnt DESC,
      // anchor DESC
      s"""WITH t AS (SELECT doc,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hrefs,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS anchors
            FROM '$OracleAuxDir/link_pages/*.parquet'),
         e AS (SELECT doc AS src, unnest(hrefs) AS href,
                      unnest(anchors) AS anchor FROM t),
         per AS (SELECT href, anchor, count(*) AS cnt FROM e GROUP BY 1, 2),
         agg AS (SELECT href, CAST(sum(cnt) AS BIGINT) AS in_degree
                 FROM per GROUP BY 1),
         tp AS (SELECT href, anchor AS top_anchor, CAST(cnt AS BIGINT) AS top_cnt
                FROM (SELECT *, row_number() OVER (PARTITION BY href
                        ORDER BY cnt DESC, anchor DESC) AS rn FROM per)
                WHERE rn = 1),
         ns AS (SELECT href, CAST(count(DISTINCT src) AS BIGINT) AS n_sources
                FROM e GROUP BY 1)
         SELECT href, in_degree, n_sources, top_anchor, top_cnt
         FROM agg JOIN tp USING (href) JOIN ns USING (href)"""),
    // robots-style longest-prefix URL filter (RFC 9309 most-specific-
    // rule-wins, literal prefixes): /p/ allows, /p/1 and /p/2 carve out
    // disallows, /p/13 re-allows inside /p/1 — the layered-rule case
    Query("q_robots_filter", (s, _) => {
      import s.implicits._
      val rules = Seq(
        ("site.example", "/p/", true),
        ("site.example", "/p/1", false),
        ("site.example", "/p/13", true),
        ("site.example", "/p/2", false)).toDF("host", "prefix", "allow")
      graft.textops.UrlOps.robotsFilter(
          linkPages(s).select(concat(lit("https://site.example/p/"),
            col("doc").cast("string")).as("url")),
          "url", rules)
        .orderBy(col("url"))
    },
      // independent rule evaluation over the regenerated URL set: same
      // longest-prefix / disallow-tie / default-allow semantics
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS doc),
         u AS (SELECT 'https://site.example/p/' || doc AS url,
                      'site.example' AS host, '/p/' || doc AS path FROM g),
         r(host, prefix, allow) AS (VALUES
           ('site.example', '/p/', true), ('site.example', '/p/1', false),
           ('site.example', '/p/13', true), ('site.example', '/p/2', false)),
         m AS (SELECT u.url, r.prefix, r.allow,
                      row_number() OVER (PARTITION BY u.url
                        ORDER BY length(r.prefix) DESC, r.allow, r.prefix) AS rn
               FROM u JOIN r ON u.host = r.host
                 AND starts_with(u.path, r.prefix)),
         b AS (SELECT url, prefix AS rule_prefix, allow FROM m WHERE rn = 1)
         SELECT u.url, u.host, u.path,
                COALESCE(b.allow, true) AS allowed,
                COALESCE(b.rule_prefix, '') AS rule_prefix
         FROM u LEFT JOIN b USING (url)"""),
    // per-domain crawl rollup: deterministic URL variants per doc_id,
    // canonicalized + domain-extracted, one hash agg per domain (page
    // count, distinct canonical urls, distinct texts, mean page size)
    Query("q_domain_stats", (s, dir) => {
      val v = col("doc_id") % 4
      val k = (col("doc_id") % 97).cast("string")
      val raw = docs(s, dir).select(col("text"),
        when(v === 0, concat(lit("https://WWW.Alpha.COM/p/"), k,
            lit("?utm_source=x&x=1")))
          .when(v === 1, concat(lit("HTTP://alpha.com:80/p/"), k,
            lit("/?x=1")))
          .when(v === 2, concat(lit("https://beta.example.org/doc/"),
            col("doc_id").cast("string")))
          .otherwise(concat(lit("https://cdn.beta.example.org/doc/"), k))
          .as("url"))
      graft.textops.UrlOps.domainStats(raw, "url", "text")
        .orderBy(col("domain"))
    },
      // the oracle derives each variant's CANONICAL form and domain from
      // the generation rule itself — an independent replay of
      // canonicalization + rollup, not of the implementation
      """WITH r AS (SELECT text,
           CASE WHEN doc_id % 4 = 0
                  THEN 'https://alpha.com/p/' || CAST(doc_id % 97 AS VARCHAR)
                       || '?x=1'
                WHEN doc_id % 4 = 1
                  THEN 'http://alpha.com/p/' || CAST(doc_id % 97 AS VARCHAR)
                       || '?x=1'
                WHEN doc_id % 4 = 2
                  THEN 'https://beta.example.org/doc/'
                       || CAST(doc_id AS VARCHAR)
                ELSE 'https://cdn.beta.example.org/doc/'
                     || CAST(doc_id % 97 AS VARCHAR) END AS u,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 'alpha.com'
                ELSE 'example.org' END AS domain
         FROM documents)
         SELECT domain, count(*) AS n_pages, count(DISTINCT u) AS n_urls,
                count(DISTINCT md5(text)) AS n_unique_texts,
                avg(length(text)) AS avg_chars
         FROM r GROUP BY domain"""),
    // web-archive revisit dedup / content drift: 1-4 deterministic
    // captures per document url, content version flips by integer
    // formula; per-url changes vs revisit (unchanged re-fetch) rollup —
    // the CDX identical-payload-digest pass of a recurring crawl
    Query("q_revisit_diff", (s, dir) => {
      val snaps = docs(s, dir)
        .withColumn("k",
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))))
        .select(
          concat(lit("https://ex.org/d"), col("doc_id").cast("string"))
            .as("url"),
          (col("doc_id") * 86400L + col("k") * 3600L).as("ts"),
          concat(col("text"), lit(" v"),
            ((col("doc_id") * 31L + col("k") * col("k")) % 3L)
              .cast("string")).as("content"))
      graft.textops.UrlOps.revisitDiff(snaps, "url", "ts", "content")
        .orderBy("url")
    },
      // revisit rollup: same capture synthesis (integer formulas), lag
      // window over md5 digests, per-url change/revisit/version agg
      """WITH s AS (SELECT 'https://ex.org/d' || CAST(doc_id AS VARCHAR)
                             AS url,
                           doc_id * 86400 + k * 3600 AS ts,
                           md5(text || ' v'
                             || CAST((doc_id * 31 + k * k) % 3 AS VARCHAR))
                             AS digest
                    FROM documents,
                         unnest(generate_series(0, doc_id % 4)) AS g(k)),
         c AS (SELECT url, ts, digest,
                      lag(digest) OVER (PARTITION BY url ORDER BY ts)
                        AS prev
               FROM s),
         f AS (SELECT url, ts, digest,
                      CASE WHEN prev IS NOT NULL AND prev <> digest
                           THEN 1 ELSE 0 END AS ch
               FROM c)
         SELECT url,
                CAST(count(*) AS BIGINT) AS n_captures,
                CAST(sum(ch) AS BIGINT) AS n_changes,
                CAST(count(*) - 1 - sum(ch) AS BIGINT) AS n_revisits,
                CAST(count(DISTINCT digest) AS BIGINT) AS n_versions,
                min(ts) AS first_ts,
                COALESCE(max(CASE WHEN ch = 1 THEN ts END), min(ts))
                  AS last_change_ts
         FROM f GROUP BY url
         ORDER BY url"""),
    // URL canonicalization + URL-level dup grouping over deterministic
    // messy variants (case, default port, www., tracking params, param
    // order, trailing slashes, fragments, plus a non-URL passthrough);
    // the oracle replays the whole canonical algebra in SQL
    Query("q_url_canon", (s, dir) => {
      val v = col("doc_id") % 5
      val g = (col("doc_id") - v).cast("string")
      val raw = docs(s, dir).select(col("doc_id"),
        when(v === 0, concat(lit("HTTPS://WWW.Example.COM:443/docs/"), g,
            lit("/?utm_source=feed&b=2&a=1#top")))
          .when(v === 1, concat(lit("https://example.com/docs/"), g,
            lit("//?a=1&b=2")))
          .when(v === 2, concat(lit("https://example.com:8080/docs/"), g,
            lit("?b=2&a=1&fbclid=zz")))
          .when(v === 3, concat(lit("https://example.com/docs/"), g))
          .otherwise(concat(lit("URN:isbn:"), col("doc_id").cast("string")))
          .as("url_raw"))
      raw.select(col("doc_id").as("id"), col("url_raw"),
          graft.textops.UrlOps.canonicalUrl(col("url_raw")).as("url_canon"))
        .withColumn("n_dups",
          count(lit(1)).over(Window.partitionBy(col("url_canon"))))
        .withColumn("domain", graft.textops.UrlOps.domainOf(col("url_canon")))
        .orderBy(col("id"))
    },
      // URL canonicalization replayed step-for-step: same variant
      // injection, same alternation-free regexes (Java regex == RE2 here),
      // starts_with for tracking-param drops (LIKE 'utm_%' would wildcard
      // the underscore), binary-order param sort in both engines
      """WITH r AS (SELECT doc_id,
                 CAST(doc_id - doc_id % 5 AS VARCHAR) AS g, doc_id % 5 AS v
               FROM documents),
         raw AS (SELECT doc_id,
                 CASE v
                   WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/' || g
                               || '/?utm_source=feed&b=2&a=1#top'
                   WHEN 1 THEN 'https://example.com/docs/' || g || '//?a=1&b=2'
                   WHEN 2 THEN 'https://example.com:8080/docs/' || g
                               || '?b=2&a=1&fbclid=zz'
                   WHEN 3 THEN 'https://example.com/docs/' || g
                   ELSE 'URN:isbn:' || CAST(doc_id AS VARCHAR)
                 END AS url_raw
               FROM r),
         p1 AS (SELECT doc_id, url_raw, trim(url_raw) AS u,
                 lower(regexp_extract(trim(url_raw),
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(trim(url_raw),
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM raw),
         p2 AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
                 regexp_replace(rest, '^[^/?#]*', '') AS pathqf
               FROM p1),
         p3 AS (SELECT *,
                 regexp_replace(regexp_replace(lower(hostport),
                   ':[0-9]+$', ''), '^www\.', '') AS host,
                 regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                 regexp_extract(pathqf, '^([^?#]*)', 1) AS rawpath,
                 regexp_extract(pathqf, '\?([^#]*)', 1) AS query
               FROM p2),
         p4 AS (SELECT *,
                 CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                      ELSE regexp_replace(rawpath, '/+$', '') END AS path,
                 list_sort(list_filter(string_split(query, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_')
                     AND NOT starts_with(p, 'gclid=')
                     AND NOT starts_with(p, 'fbclid=')
                     AND NOT starts_with(p, 'ref='))) AS params,
                 (port <> '' AND NOT (scheme = 'http' AND port = '80')
                   AND NOT (scheme = 'https' AND port = '443')) AS keepport
               FROM p3),
         c AS (SELECT doc_id, url_raw,
                 CASE WHEN scheme = '' THEN lower(u)
                      ELSE scheme || '://' || host
                        || (CASE WHEN keepport THEN ':' || port ELSE '' END)
                        || path
                        || (CASE WHEN len(params) > 0
                                 THEN '?' || list_aggregate(params,
                                   'string_agg', '&')
                                 ELSE '' END)
                 END AS url_canon
               FROM p4)
         SELECT doc_id AS id, url_raw, url_canon,
                count(*) OVER (PARTITION BY url_canon) AS n_dups,
                regexp_extract(regexp_extract(url_canon,
                  '^[a-z][a-z0-9+.-]*://([^/:?#]*)', 1),
                  '([^.]+\.[^.]+)$', 1) AS domain
         FROM c"""),
  )
}
