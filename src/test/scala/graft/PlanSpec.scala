package graft

import org.apache.spark.sql.functions._

/** Plan-shape gates: the optimizations the builder prompt demands must be
  * visible in `explain`, not assumed — column pruning to the parquet
  * scan, predicate pushdown, broadcast of the block-stats side, and the
  * scoring filter fused into codegen (the last is in ExpressionSpec). */
class PlanSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning reaches the parquet scan (2-col projection)") {
    val df = spark.read.parquet(s"$sfSmall/documents.parquet")
      .select(col("doc_id"), graft.textops.TextOps.tokenCount(col("text")).as("n"))
    val plan = executed(df)
    assert(plan.contains("ReadSchema"), plan)
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"), read)
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sfSmall/events.parquet")
      .where(col("event_type") === "click" && col("value") > 10.0)
      .select(col("event_id"))
    val plan = executed(df)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("event_type") && pushed.contains("value"), plan)
  }

  test("driver queries: pushdown + pruning reach their parquet scans") {
    // q_topk_cosine's query-side filter must land in the scan, not a
    // post-scan Filter over the full embeddings table
    val topk = SparkEntry.queries("q_topk_cosine")(spark, sfSmall)
    val tp = executed(topk)
    assert(tp.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("vec_id")), tp)
    // q_token_count must read only (doc_id, text) of documents
    val tc = SparkEntry.queries("q_token_count")(spark, sfSmall)
    val read = executed(tc).linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("n_chars"), read)
  }

  test("clk DataSourceV2 prunes columns down to the scan") {
    import spark.implicits._
    def scan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }.getOrElse(fail("no BatchScanExec in plan"))
    val base = spark.read.format("clk")
      .option("dp", 1).option("encodingSize", 128)
      .load(s"$fixturesDir/clks_128B_1k.bin")
    // id-only projection: the scan's output schema must shrink to the
    // projected column (the reader then never opens the file bytes)
    val ids = base.select($"entity_id")
    assert(scan(ids).output.map(_.name) == Seq("entity_id"),
      scan(ids).output.toString)
    assert(ids.as[Long].collect().sorted.sameElements(0L until 1000L))
    // popcount without clk: scan output excludes the heavy binary column
    val pc = base.select($"entity_id", $"popcount")
    assert(scan(pc).output.map(_.name) == Seq("entity_id", "popcount"),
      scan(pc).output.toString)
    // pruned popcounts match the full read's popcounts
    val full = base.select($"entity_id", $"popcount")
      .as[(Long, Int)].collect().sortBy(_._1)
    val pruned = pc.as[(Long, Int)].collect().sortBy(_._1)
    assert(pruned.sameElements(full))
  }

  test("block-stats side of the scoring plan is broadcast") {
    import spark.implicits._
    val blocked = graft.link.Pipeline.defaultBlock(
      graft.ingest.ClkIO.readBinary(spark, s"$fixturesDir/clks_128B_1k.bin", 0, 128))
      .union(graft.link.Pipeline.defaultBlock(
        graft.ingest.ClkIO.readBinary(spark, s"$fixturesDir/febrl4_b.bin", 1, 128)))
    val edges = graft.link.Linker.scoreCandidates(blocked, graft.core.LinkConfig(0.9))
    val plan = executed(edges.toDF())
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("cosine pair plans contain no CartesianProduct") {
    val embeddings = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val exact = graft.dedup.Dedup.embeddingCosinePairs(
      embeddings, "vec_id", "embedding", 0.4)
    val approx = graft.dedup.Dedup.embeddingCosinePairsApprox(
      embeddings, "vec_id", "embedding", 0.4)
    for ((name, df) <- Seq("exact" -> exact, "approx" -> approx)) {
      val plan = executed(df)
      assert(!plan.contains("CartesianProduct"), s"$name plan has a cartesian:\n$plan")
      // the quadratic pair join must be an equi-join on the salt keys
      // (the only tolerated nested-loop is the 1-row stats attach when the
      // block key is a constant)
      assert(plan.contains("salt0") && plan.contains("salt1"), s"$name plan unsalted:\n$plan")
      val pairJoin = plan.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
          l.contains("BroadcastHashJoin")) && l.contains("salt0"))
      assert(pairJoin, s"$name pair join is not a salted equi-join:\n$plan")
    }
  }

  test("semanticDedup pair stage: cell-blocked salted equi-join, no cartesian") {
    val embeddings = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val assign = graft.ann.Ann.ivfAssignments(embeddings, "vec_id", "embedding")
    // gate the pair-generation stage (the CC output frame mixes in the
    // driver-side union-find below 2M edges, which has no join to audit)
    val v = assign.select(org.apache.spark.sql.functions.col("list")
        .cast("string").as("bk"),
      org.apache.spark.sql.functions.col("vid").as("id"),
      org.apache.spark.sql.functions.col("v"))
    val pairs = graft.dedup.Dedup.scoreAndFilter(
      graft.dedup.Dedup.saltedSelfPairs(v, 1000L), "cos",
      org.apache.spark.sql.functions.round(
        graft.expr.dotProduct(org.apache.spark.sql.functions.col("v0"),
          org.apache.spark.sql.functions.col("v1")), 6),
      0.4, "id0", "id1")
    val plan = executed(pairs)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("salt0") && plan.contains("salt1"), plan)
  }

  test("winnowing argmin resolves via a hash equi-join, never a cartesian") {
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id") < 50)
    val plan = executed(
      graft.dedup.Dedup.winnowingFingerprints(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the (doc, h == wmin) equality keys must carry the join; the w-wide
    // position band rides as a post-join filter
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("wmin")), plan)
  }

  test("eighth-session operators: no cartesians; broadcasts where intended") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    val part = spark.read.parquet(s"$sfTiny/part.parquet")

    // weighted jaccard: salted equi-join pair gen, no cartesian
    val wj = graft.dedup.Dedup.weightedJaccardPairs(docs, "doc_id", "text",
      org.apache.spark.sql.functions.lit("hot"), 0.5, aim = 50L)
    val wjPlan = executed(wj)
    assert(!wjPlan.contains("CartesianProduct"), wjPlan)
    assert(wjPlan.contains("salt0") && wjPlan.contains("salt1"), wjPlan)

    // bm25: df + stats ride broadcasts; never a shuffle of the corpus
    // against the 1-row stats
    val bm = graft.textops.TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "join", "dup"), k = 10)
    val bmPlan = executed(bm)
    assert(!bmPlan.contains("CartesianProduct"), bmPlan)
    assert(bmPlan.contains("BroadcastNestedLoopJoin") ||
      bmPlan.contains("BroadcastHashJoin"), bmPlan)
    // deterministic top-k compiles to TakeOrderedAndProject, not a
    // global Sort
    assert(bmPlan.contains("TakeOrderedAndProject"), bmPlan)

    // fellegi-sunter gamma aggregation is partially aggregated
    // (map-side combine before the one pattern shuffle)
    val base = part.select(col("p_partkey").cast("long").as("id"),
      col("p_brand").as("bk"), col("p_name"), col("p_type"), col("p_size"))
    val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
      (col("p_type0") === col("p_type1")).cast("int").as("g_t"),
      (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_s"))
    val agg = pairs.groupBy("g_t", "g_s").agg(count(lit(1)))
    val aggPlan = executed(agg)
    assert(aggPlan.contains("partial_count") || aggPlan.contains("partial"),
      aggPlan)

    // resource allocation: wedge join is keyed on the pivot, no cartesian
    val ra = graft.cluster.LinkPredict.resourceAllocation(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"),
      topK = 10)
    val raPlan = executed(ra)
    assert(!raPlan.contains("CartesianProduct"), raPlan)
    assert(raPlan.contains("TakeOrderedAndProject"), raPlan)
  }

  test("salted dedup self-join fans out a hot block across salt keys") {
    import spark.implicits._
    // one hot block key, aim forced tiny -> the physical join must be an
    // equi-join keyed on (bk, salt0, salt1), not a single-key hash join
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet").limit(200)
    val pairs = graft.dedup.Dedup.jaccardPairs(
      docs, "doc_id", "text", lit("hot"), 0.5, aim = 50L)
    val plan = executed(pairs)
    assert(plan.contains("salt0") && plan.contains("salt1"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("simhash pairs: salted band join on (bk, salt0, salt1), no cartesian") {
    // exact copies share all four bands, so a band can be a hot bucket:
    // the pair join must be keyed on the salts, like every dedup pair path
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet").limit(200)
    val plan = executed(graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) &&
        Seq("[bk#", "salt0#", "salt1#").forall(l.contains)), plan)
  }

  test("similarity expressions evaluate once (no Filter/Project duplication)") {
    // the threshold filter must NOT be pushed through the scoring
    // projection — that re-evaluates the O(n) intersection / dot product
    // for every surviving row (scoreAndFilter pins it with a barrier)
    // the expression must live ONLY in a Project; any occurrence inside a
    // Filter condition or a Join condition means it's evaluated twice
    def assertOnlyInProject(plan: String, needle: String): Unit =
      plan.linesIterator.filter(_.contains(needle)).foreach { l =>
        val t = l.trim.stripPrefix(":").stripPrefix("+-").trim
        assert(t.startsWith("Project") || t.startsWith("*(") && t.contains("Project"),
          s"$needle evaluated outside a Project:\n$l\n\nfull plan:\n$plan")
      }
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet").limit(100)
    val jp = graft.dedup.Dedup.jaccardPairs(
      docs, "doc_id", "text", lit("b"), 0.5)
    assertOnlyInProject(executed(jp), "sorted_intersect_count")
    val embeddings = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val cp = graft.dedup.Dedup.embeddingCosinePairs(embeddings, "vec_id", "embedding", 0.4)
    assertOnlyInProject(executed(cp), "dot_product")
    // the driver's q_dice_token_pairs goes through the same barrier
    val dt = SparkEntry.queries("q_dice_token_pairs")(spark, sfTiny)
    assertOnlyInProject(executed(dt), "sorted_intersect_count")
  }

  test("signature tables referenced by multiple join branches are cached") {
    // minhash sig feeds the bucket explode + two confirm joins; without
    // persist the signature UDF pipeline runs once per branch (3x the
    // corpus scan at scale) — the plan must read it from InMemoryRelation
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet").limit(150)
    val mh = graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
    val plan = mh.queryExecution.optimizedPlan.toString
    assert(plan.contains("InMemoryRelation"), plan)
    val approx = graft.dedup.Dedup.embeddingCosinePairsApprox(
      spark.read.parquet(s"$sfTiny/embeddings.parquet"), "vec_id", "embedding", 0.4)
    assert(approx.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
  }

  test("SQL functions available via SparkSessionExtensions") {
    // extensions apply at session build; simulate via direct injection on
    // a cloned session's registry through the extension class
    val ext = new graft.expr.GraftExtensions
    val e = new org.apache.spark.sql.SparkSessionExtensions
    ext(e)
    // and the functionRegistry route works on the live session:
    graft.expr.registerAll(spark)
    val r = spark.sql(
      "SELECT dice(cast('ab' as binary), cast('ab' as binary)) d," +
        " popcount(cast('a' as binary)) p").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(1) == Integer.bitCount('a'))
    // the round-3 confirm-kernel expressions are SQL-reachable too
    val r2 = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 7L), array(3L, 7L, 9L)) i," +
        " size(hashed_char_ngrams('abcd', 3)) g," +
        " dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) dp," +
        " vector_norm(array(3.0d, 4.0d)) nrm").head()
    assert(r2.getInt(0) == 2)
    assert(r2.getInt(1) == 2) // 'abc', 'bcd'
    assert(r2.getDouble(2) == 11.0)
    assert(r2.getDouble(3) == 5.0)
  }

  test("bucketed tables co-locate: the fact-dim join plans ZERO exchanges") {
    // the 100-TB shuffle-elimination path: both sides bucketed by the
    // join key at write time -> the join consumes bucket layout directly
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.read.parquet(s"$sfSmall/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("bkt_lineitem")
    spark.read.parquet(s"$sfSmall/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bkt_orders")
    val j = spark.table("bkt_lineitem").join(
      spark.table("bkt_orders").hint("merge"),
      col("l_orderkey") === col("o_orderkey"))
    val plan = executed(j)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // and it actually returns the full join
    assert(j.count() ==
      spark.read.parquet(s"$sfSmall/lineitem.parquet")
        .join(spark.read.parquet(s"$sfSmall/orders.parquet"),
          col("l_orderkey") === col("o_orderkey")).count())
    spark.sql("DROP TABLE bkt_lineitem")
    spark.sql("DROP TABLE bkt_orders")
  }

  test("bloomSemiJoin: probe filter sits on the big side's scan stage") {
    val big = spark.read.parquet(s"$sfSmall/lineitem.parquet")
    val small = spark.read.parquet(s"$sfSmall/orders.parquet")
      .where(col("o_orderkey") % 7 === 0)
    val plan = executed(graft.rel.Relational.bloomSemiJoin(
      big, "l_orderkey", small, "o_orderkey"))
    // the bloom_might_contain predicate must appear in a Filter BELOW the
    // join (pre-shuffle), and the join itself must still be there
    val lines = plan.linesIterator.toSeq
    val probeIdx = lines.indexWhere(l =>
      l.contains("bloom_might_contain") && l.contains("Filter"))
    val joinIdx = lines.indexWhere(l =>
      l.contains("LeftSemi") || l.contains("left_semi"))
    assert(probeIdx >= 0, s"no bloom probe Filter in plan:\n$plan")
    assert(joinIdx >= 0 && joinIdx < probeIdx,
      s"probe not below the semi join:\n$plan")
    // and the Filter sits DIRECTLY on the big side's FileScan
    assert(lines.drop(probeIdx + 1).headOption.exists(_.contains("FileScan")),
      s"probe filter not fused onto the scan:\n$plan")
  }

  test("zorder assignment plans no global sort and no extra shuffle") {
    val df = spark.read.parquet(s"$sfSmall/lineitem.parquet")
    val plan = executed(
      graft.rel.Layout.zorderAssign(df, "l_partkey", "l_suppkey"))
    // one broadcast of the min/max row; the bucket is row-local — any
    // Sort or hash Exchange over the data would break the at-scale story
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortExec") && !plan.linesIterator.exists(l =>
      l.trim.startsWith("Sort ")), plan)
    val dataExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(dataExchanges == 0, s"unexpected data shuffle:\n$plan")
  }

  test("skyline2d plans no single-partition exchange (two-phase running min)") {
    val df = spark.read.parquet(s"$sfSmall/lineitem.parquet")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val plan = executed(graft.rel.Relational.skyline2d(df, "x", "y"))
    // the classic accidental serialization would show up as an Exchange
    // SinglePartition feeding a Window; the two-phase form must have
    // neither over the data path
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition shuffle in skyline plan:\n$plan")
    assert(!plan.contains("Window"), s"window crept into skyline:\n$plan")
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("applyChanges: changelog agg is partial (map-side combine) and join is keyed") {
    import spark.implicits._
    val snap = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    val chg = (0L until 50L).map(i => (i, i, "U", i * 3)).toDF("k", "seq", "op", "v")
    val plan = executed(graft.rel.Relational.applyChanges(snap, chg, "k", "seq", "op"))
    // max_by must run as a partial (map-side combining) aggregate below
    // the exchange — struct buffers plan as SortAggregate, which is fine;
    // a Window (full per-key sort of the raw changelog) would not be
    assert(plan.contains("partial_max_by"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("partitioned ORC layout: lang filter prunes partitions, not rows") {
    val path = "/tmp/graft_plan_orc"
    val src = spark.read.parquet(s"$sfSmall/documents.parquet")
      .select(col("doc_id"), col("n_chars"), col("lang"))
    graft.io.Formats.writePartitioned(src, path, "orc", "lang")
    val pruned = graft.io.Formats.read(spark, path, "orc")
      .where(col("lang") === "en").select(col("doc_id"))
    val plan = executed(pruned)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.contains("lang"), s"lang filter not pruning partitions:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      .split("ReadSchema:").last
    assert(!read.contains("lang"),
      s"partition column must not be read from data files:\n$plan")
    // and pruning kept the right rows
    assert(pruned.count() == src.where(col("lang") === "en").count())
  }
}
