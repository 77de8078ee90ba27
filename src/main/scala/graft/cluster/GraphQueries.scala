package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** Graph analytics over the link and co-purchase graphs: BFS, PageRank,
  * HITS, SCC, bowtie, k-core, triangles, link prediction and degree
  * distributions.
  *
  * Outside the record-linkage boundary: a candidate for deletion
  * together with its engine code and specs. */
object GraphQueries extends QueryFamily {
  /** Long-id edge list of the formula link graph (see [[linkPages]]),
    * parsed back out of the html — shared by q_bfs_hops / q_hits /
    * q_ppr (oracles regenerate the same formula edges). */
  private def linkGraphEdges(s: SparkSession): DataFrame =
    graft.ingest.LinkExtract.links(linkPages(s), "doc", "html")
      .select(col("src"),
        regexp_extract(col("href"), "/p/(\\d+)$", 1).cast("long").as("dst"))

  /** q_kcore's oracle, generated (see the query). */
  private def kcoreOracleSql: String = {
    val steps = (1 to 20).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
                  HAVING count(*) >= 3),
       e$i AS MATERIALIZED (SELECT c.u, c.v FROM e${i - 1} c
               WHERE c.u IN (SELECT u FROM k$i)
                 AND c.v IN (SELECT u FROM k$i))"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
       p AS (SELECT DISTINCT a.pk AS u, b.pk AS v
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       f AS (SELECT u, v FROM p WHERE (u * 1000003 + v) % 17 = 0),
       e0 AS (SELECT u, v FROM f UNION SELECT v, u FROM f),
       $steps
       SELECT u AS node, count(*) AS deg FROM e20 GROUP BY u"""
  }

  val queries: Seq[Query] = Seq(
    // multi-source 3-hop BFS over the link graph: hop distance from
    // seed pages {0, 150} — the crawl-radius / neighborhood-expansion
    // primitive; oracle = three chained level-set CTEs
    Query("q_bfs_hops", (s, _) => {
      import s.implicits._
      graft.cluster.Bfs.run(linkGraphEdges(s), Seq(0L, 150L).toDF("node"),
          maxHops = 3)
        .orderBy(col("dist"), col("node"))
    },
      // BFS level sets are unique, so three chained rounds replay the
      // distances exactly (MATERIALIZED: chained CTEs referenced multiple
      // times re-evaluate exponentially otherwise)
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS src),
         e AS MATERIALIZED (
           SELECT src, (src*7+1)%300 AS dst FROM g
           UNION ALL
           SELECT src, (src*3+5)%300 FROM g WHERE src % 3 = 0),
         d0 AS MATERIALIZED (SELECT unnest([0, 150]) AS node),
         d1 AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node FROM d0 JOIN e ON d0.node = e.src
           WHERE e.dst NOT IN (SELECT node FROM d0)),
         d2 AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node FROM d1 JOIN e ON d1.node = e.src
           WHERE e.dst NOT IN (SELECT node FROM d0)
             AND e.dst NOT IN (SELECT node FROM d1)),
         d3 AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node FROM d2 JOIN e ON d2.node = e.src
           WHERE e.dst NOT IN (SELECT node FROM d0)
             AND e.dst NOT IN (SELECT node FROM d1)
             AND e.dst NOT IN (SELECT node FROM d2))
         SELECT CAST(node AS BIGINT) AS node, CAST(0 AS INT) AS dist FROM d0
         UNION ALL SELECT CAST(node AS BIGINT), 1 FROM d1
         UNION ALL SELECT CAST(node AS BIGINT), 2 FROM d2
         UNION ALL SELECT CAST(node AS BIGINT), 3 FROM d3"""),
    // HITS hubs/authorities over the link graph (2 iterations,
    // max-normalised exact integer arithmetic — see cluster/Hits.scala);
    // the crawl-prioritisation companion to q_pagerank
    Query("q_hits", (s, _) =>
      graft.cluster.Hits.run(linkGraphEdges(s), iters = 2)
        .orderBy(col("node")),
      // HITS replay: same formula-derived edge list, two iterations of
      // sum + max-normalise (floored //) per side, chained CTEs
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS n),
         e AS MATERIALIZED (
           SELECT n AS src, (n*7+1)%300 AS dst FROM g
           UNION ALL
           SELECT n, (n*3+5)%300 FROM g WHERE n % 3 = 0),
         nodes AS MATERIALIZED (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         ra1 AS MATERIALIZED (
           SELECT e.dst AS node, SUM(CAST(1000000 AS BIGINT)) AS raw
           FROM e GROUP BY 1),
         a1 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((ra1.raw * 1000000) // (SELECT MAX(raw) FROM ra1), 0) AS v
           FROM nodes n LEFT JOIN ra1 USING (node)),
         rh1 AS MATERIALIZED (
           SELECT e.src AS node, SUM(a1.v) AS raw
           FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
         h1 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((rh1.raw * 1000000) // (SELECT MAX(raw) FROM rh1), 0) AS v
           FROM nodes n LEFT JOIN rh1 USING (node)),
         ra2 AS MATERIALIZED (
           SELECT e.dst AS node, SUM(h1.v) AS raw
           FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
         a2 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((ra2.raw * 1000000) // (SELECT MAX(raw) FROM ra2), 0) AS v
           FROM nodes n LEFT JOIN ra2 USING (node)),
         rh2 AS MATERIALIZED (
           SELECT e.src AS node, SUM(a2.v) AS raw
           FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
         h2 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((rh2.raw * 1000000) // (SELECT MAX(raw) FROM rh2), 0) AS v
           FROM nodes n LEFT JOIN rh2 USING (node))
         SELECT CAST(h2.node AS BIGINT) AS node,
                CAST(h2.v AS BIGINT) AS hub, CAST(a2.v AS BIGINT) AS auth
         FROM h2 JOIN a2 USING (node)"""),
    // personalized PageRank from the BFS seed set {0, 150}: restart mass
    // lands only on seeds, ranks = proximity to the trusted list
    Query("q_ppr", (s, _) => {
      import s.implicits._
      graft.cluster.PageRank.runPersonalized(linkGraphEdges(s),
          Seq(0L, 150L).toDF("node"), iters = 3)
        .orderBy(col("id"))
    },
      // PPR replay: pagerank's chained CTEs with the restart term gated on
      // the seed set and rank0 = scale only at seeds
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS n),
         e0 AS MATERIALIZED (
           SELECT n AS src, (n*7+1)%300 AS dst FROM g
           UNION ALL
           SELECT n, (n*3+5)%300 FROM g WHERE n % 3 = 0),
         deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         r0 AS (SELECT id, CAST(CASE WHEN id IN (0, 150)
                  THEN 1000000000000 ELSE 0 END AS BIGINT) AS rank
                FROM nodes),
         c1 AS (SELECT e0.dst AS id, CAST(sum(r0.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r0 ON r0.id = e0.src
                GROUP BY 1),
         r1 AS (SELECT n.id,
                  (CASE WHEN n.id IN (0, 150) THEN 150000000000 ELSE 0 END)
                  + (COALESCE(c1.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c1 USING (id)),
         c2 AS (SELECT e0.dst AS id, CAST(sum(r1.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r1 ON r1.id = e0.src
                GROUP BY 1),
         r2 AS (SELECT n.id,
                  (CASE WHEN n.id IN (0, 150) THEN 150000000000 ELSE 0 END)
                  + (COALESCE(c2.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c2 USING (id)),
         c3 AS (SELECT e0.dst AS id, CAST(sum(r2.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r2 ON r2.id = e0.src
                GROUP BY 1),
         r3 AS (SELECT n.id,
                  (CASE WHEN n.id IN (0, 150) THEN 150000000000 ELSE 0 END)
                  + (COALESCE(c3.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c3 USING (id))
         SELECT CAST(id AS BIGINT) AS id, CAST(rank AS BIGINT) AS rank
         FROM r3"""),
    // per-node triangle counts over a thinned co-purchase graph —
    // degree-oriented node-iterator (each triangle found exactly once,
    // wedge fan-out bounded by O(sqrt m))
    // resource-allocation link prediction over the thinned co-purchase
    // graph: non-adjacent pairs ranked by Σ scale DIV deg(common nbr),
    // deterministic top-50 (integer scores, id tiebreak)
    Query("q_link_predict", (s, dir) =>
      graft.cluster.LinkPredict.resourceAllocation(
        coPurchaseEdgesThinned(s, dir), topK = 50),
      // degree-oriented node-iterator replay: orient low->high by
      // (degree, id), wedge join, closure check, exploded incidence count
      // RA replay: symmetric edges, degree-capped pivots, wedge self-join,
      // integer floored weights, anti-join vs the edge set, ordered top-50
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         sym AS (SELECT u AS z, v AS n FROM e0
                 UNION ALL SELECT v, u FROM e0),
         deg AS (SELECT z, count(*) AS deg FROM sym GROUP BY 1),
         pn AS (SELECT s.z, s.n, CAST(1000000 AS BIGINT) // d.deg AS w
                FROM sym s JOIN deg d ON d.z = s.z WHERE d.deg <= 64),
         wed AS (SELECT a.n AS x, b.n AS y, a.w
                 FROM pn a JOIN pn b ON a.z = b.z AND a.n < b.n),
         sc AS (SELECT x, y, CAST(SUM(w) AS BIGINT) AS ra_score
                FROM wed GROUP BY 1, 2),
         ne AS (SELECT sc.* FROM sc
                LEFT JOIN e0 ON e0.u = sc.x AND e0.v = sc.y
                WHERE e0.u IS NULL)
         SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, ra_score
         FROM ne ORDER BY ra_score DESC, x, y LIMIT 50"""),
    Query("q_triangles", (s, dir) =>
      graft.cluster.Triangles.perNode(coPurchaseEdgesThinned(s, dir))
        .orderBy(col("id")),
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT id, count(*) AS dg FROM
                   (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
                 GROUP BY id),
         o AS (SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN u ELSE v END AS a,
                      CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN v ELSE u END AS b
               FROM e0 JOIN deg d1 ON e0.u = d1.id
                       JOIN deg d2 ON e0.v = d2.id),
         tri AS (SELECT w.a, w.b, w.c FROM
                   (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                    FROM o e1 JOIN o e2 ON e1.b = e2.a) w
                 JOIN o ON o.a = w.a AND o.b = w.c),
         inc AS (SELECT id, count(*) AS n FROM
                   (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri)
                 GROUP BY id)
         SELECT deg.id, coalesce(inc.n, 0) AS n_triangles
         FROM deg LEFT JOIN inc ON deg.id = inc.id"""),
    // integer-arithmetic PageRank (3 iterations) over the part
    // co-purchase graph — the iterative-join centrality companion to the
    // CC solver; exact scaled-long arithmetic with floored division makes
    // 3 full iterations DuckDB-replayable as chained CTEs
    Query("q_pagerank", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      graft.cluster.PageRank.run(edges, iters = 3).orderBy(col("id"))
    },
      // three exact integer PageRank iterations as chained CTEs; DuckDB's
      // BIGINT // == Spark's DIV, integer sums are order-free, so ranks
      // hash-match bit-for-bit
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                     FROM lineitem a JOIN lineitem b
                       ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
         c1 AS (SELECT e0.dst AS id, CAST(sum(r0.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r0 ON r0.id = e0.src
                GROUP BY 1),
         r1 AS (SELECT n.id,
                       150000000000 + (COALESCE(c1.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c1 USING (id)),
         c2 AS (SELECT e0.dst AS id, CAST(sum(r1.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r1 ON r1.id = e0.src
                GROUP BY 1),
         r2 AS (SELECT n.id,
                       150000000000 + (COALESCE(c2.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c2 USING (id)),
         c3 AS (SELECT e0.dst AS id, CAST(sum(r2.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r2 ON r2.id = e0.src
                GROUP BY 1),
         r3 AS (SELECT n.id,
                       150000000000 + (COALESCE(c3.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c3 USING (id))
         SELECT CAST(id AS BIGINT) AS id, CAST(rank AS BIGINT) AS rank
         FROM r3"""),
    // web-graph degree-distribution QA: per-degree node counts for in-
    // and out-degree over the extracted link graph (two hash-aggs, full
    // outer on the tiny degree domain)
    Query("q_degree_dist", (s, _) => {
      val e = linkGraphEdges(s)
      val outd = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_out"))
      val ind = e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_in"))
      outd.join(ind, Seq("d"), "full_outer")
        .select(col("d").as("degree"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("n_in"), lit(0L)).as("n_in"))
        .orderBy(col("degree"))
    },
      // degree distribution over the regenerated formula link graph
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS n),
         e AS (SELECT n AS src, (n*7+1)%300 AS dst FROM g
               UNION ALL
               SELECT n, (n*3+5)%300 FROM g WHERE n % 3 = 0),
         od AS (SELECT d, CAST(count(*) AS BIGINT) AS n_out FROM
                  (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e
                   GROUP BY src) s GROUP BY d),
         idg AS (SELECT d, CAST(count(*) AS BIGINT) AS n_in FROM
                  (SELECT dst, CAST(count(*) AS BIGINT) AS d FROM e
                   GROUP BY dst) s GROUP BY d)
         SELECT COALESCE(od.d, idg.d) AS degree,
                COALESCE(od.n_out, 0) AS n_out,
                COALESCE(idg.n_in, 0) AS n_in
         FROM od FULL OUTER JOIN idg ON od.d = idg.d"""),
    // 3-core of the (arithmetically thinned) co-purchase graph: peel to
    // fixpoint; unique result regardless of peel order, so the oracle
    // replays it as a fixed chain of 20 SQL rounds (no-ops past
    // convergence). Output = surviving nodes with their in-core degree
    Query("q_kcore", (s, dir) => {
      import s.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        .where((col("u") * 1000003 + col("v")) % 17 === 0)
      graft.cluster.KCore.run(edges.as[(Long, Long)], k = 3)
        .orderBy(col("node"))
    },
      // 20 generated peel rounds (the k-core is unique and rounds past
      // convergence are identity, so a fixed chain replays the fixpoint)
      kcoreOracleSql),
    // per-edge triangle support (embeddedness): zero-support accepted
    // edges are lone bridges — the review queue for transitive closure
    Query("q_edge_support", (s, dir) =>
      graft.cluster.Triangles.edgeSupport(coPurchaseEdgesThinned(s, dir))
        .orderBy(col("u"), col("v")),
      // per-edge triangle support: q_triangles' oriented wedge join, each
      // triangle charging its three canonical edges, zero-support edges
      // kept by the left join
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT id, count(*) AS dg FROM
                   (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
                 GROUP BY id),
         o AS (SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN u ELSE v END AS a,
                      CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN v ELSE u END AS b
               FROM e0 JOIN deg d1 ON e0.u = d1.id
                       JOIN deg d2 ON e0.v = d2.id),
         tri AS (SELECT w.a, w.b, w.c FROM
                   (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                    FROM o e1 JOIN o e2 ON e1.b = e2.a) w
                 JOIN o ON o.a = w.a AND o.b = w.c),
         ch AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri
                UNION ALL SELECT least(b, c), greatest(b, c) FROM tri
                UNION ALL SELECT least(a, c), greatest(a, c) FROM tri),
         sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS support
                 FROM ch GROUP BY u, v)
         SELECT e0.u, e0.v, COALESCE(sup.support, 0) AS support,
                COALESCE(sup.support, 0) = 0 AS is_bridge_candidate
         FROM e0 LEFT JOIN sup ON e0.u = sup.u AND e0.v = sup.v"""),
    // strongly connected components of the directed part-sequence graph
    // (pk_i -> pk_{i+1} within each order's linenumber walk): the
    // directed analogue of the match-group solve, FW-BW coloring
    Query("q_scc", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_partkey") < 400 && col("l_orderkey") % 8 === 0)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      // ORDER BY (ln, pk): (ok, ln) pairs are NOT unique in the
      // synthetic lineitem, so the tie-break must be total or the two
      // engines walk different sequences
      val nxt = lead("pk", 1).over(
        Window.partitionBy("ok").orderBy("ln", "pk"))
      val edges = li.withColumn("nxt", nxt)
        .where(col("nxt").isNotNull && col("nxt") =!= col("pk"))
        .select(col("pk").as("src"), col("nxt").as("dst"))
      graft.cluster.Scc.run(edges).orderBy(col("id"))
    },
      // SCC ground truth: the full recursive reachability closure, scc =
      // min over the mutual-reachability set (the definition itself — the
      // Spark side's FW-BW coloring must land on exactly this)
      """WITH RECURSIVE
         li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                       l_partkey AS pk
                FROM lineitem
                WHERE l_partkey < 400 AND l_orderkey % 8 = 0),
         e AS (SELECT DISTINCT pk AS src, nxt AS dst
               FROM (SELECT pk,
                       lead(pk) OVER (PARTITION BY ok ORDER BY ln, pk) AS nxt
                     FROM li)
               WHERE nxt IS NOT NULL AND nxt <> pk),
         reach AS (SELECT src AS a, dst AS b FROM e
                   UNION
                   SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         mut AS (SELECT r1.a AS id, r1.b AS o
                 FROM reach r1 JOIN reach r2
                   ON r1.a = r2.b AND r1.b = r2.a)
         SELECT CAST(id AS BIGINT) AS id,
                CAST(least(id, coalesce(min(o), id)) AS BIGINT) AS scc
         FROM nodes LEFT JOIN mut USING (id)
         GROUP BY id"""),
    // bowtie decomposition of the same digraph (Broder WWW'00): giant
    // SCC core, IN/OUT closure, tendrils via weak connectivity — the
    // crawl-snapshot macro readout
    Query("q_bowtie", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_partkey") < 400 && col("l_orderkey") % 8 === 0)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val nxt = lead("pk", 1).over(
        Window.partitionBy("ok").orderBy("ln", "pk"))
      val edges = li.withColumn("nxt", nxt)
        .where(col("nxt").isNotNull && col("nxt") =!= col("pk"))
        .select(col("pk").as("src"), col("nxt").as("dst"))
      graft.cluster.Bowtie.classify(edges).orderBy(col("id"))
    },
      // bowtie replay: closure-derived SCCs -> largest core (ties to the
      // smallest label) -> fwd/bwd membership straight off the closure ->
      // weak connectivity as one more recursive flood from the core
      """WITH RECURSIVE
         li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                       l_partkey AS pk
                FROM lineitem
                WHERE l_partkey < 400 AND l_orderkey % 8 = 0),
         e AS (SELECT DISTINCT pk AS src, nxt AS dst
               FROM (SELECT pk,
                       lead(pk) OVER (PARTITION BY ok ORDER BY ln, pk)
                         AS nxt
                     FROM li)
               WHERE nxt IS NOT NULL AND nxt <> pk),
         reach AS (SELECT src AS a, dst AS b FROM e
                   UNION
                   SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         und AS (SELECT DISTINCT u, v FROM
                   (SELECT src AS u, dst AS v FROM e
                    UNION ALL SELECT dst, src FROM e)),
         nodes AS (SELECT DISTINCT id FROM
                     (SELECT src AS id FROM e
                      UNION ALL SELECT dst AS id FROM e)),
         mut AS (SELECT r1.a AS id, r1.b AS o
                 FROM reach r1 JOIN reach r2
                   ON r1.a = r2.b AND r1.b = r2.a),
         sccs AS (SELECT id, least(id, coalesce(min(o), id)) AS scc
                  FROM nodes LEFT JOIN mut USING (id) GROUP BY id),
         core AS (SELECT id FROM sccs WHERE scc =
                    (SELECT scc FROM (SELECT scc, count(*) AS n
                                      FROM sccs GROUP BY scc)
                     ORDER BY n DESC, scc LIMIT 1)),
         fwd AS (SELECT DISTINCT reach.b AS id
                 FROM reach JOIN core ON reach.a = core.id),
         bwd AS (SELECT DISTINCT reach.a AS id
                 FROM reach JOIN core ON reach.b = core.id),
         wreach AS (SELECT id FROM core
                    UNION
                    SELECT und.v FROM wreach JOIN und ON wreach.id = und.u)
         SELECT CAST(n.id AS BIGINT) AS id,
                CASE WHEN n.id IN (SELECT id FROM core) THEN 'core'
                     WHEN n.id IN (SELECT id FROM bwd) THEN 'in'
                     WHEN n.id IN (SELECT id FROM fwd) THEN 'out'
                     WHEN n.id IN (SELECT id FROM wreach) THEN 'tendril'
                     ELSE 'disconnected' END AS cls
         FROM nodes n"""),
  )
}
