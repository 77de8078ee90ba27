package graft.link

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{Edge, LinkConfig, RunScope}
import graft.expr.dicePre

/** Candidate generation + scoring: the reference's
  * `create_comparison_jobs` / `compute_filter_similarity` stages
  * (`backend/entityservice/tasks/comparing.py:44-99,265-413`).
  *
  * The semantics are one declarative Spark plan, [[scoreCandidatesJoin]]:
  *
  *   blocked ⋈ blocked on block key  →  dice  →  sim >= t  →  dedup
  *
  * Blocking-as-partition-pruning: only records sharing a block key meet in
  * the hash join (the reference intersects block sets per provider pair,
  * `comparing.py:173-187` — the equi-join does this implicitly).
  *
  * The hot path, [[scoreCandidatesChunked]], computes the same edges from
  * the reference's square-chunk work packages (`comparing.py:102-170`):
  * the no-blocking default puts EVERYTHING in one block, so a plain join
  * would make one partition. Blocks are split by the shared two-sided
  * salting generator (graft.link.Salting); k=1 for normal blocks, so
  * replication cost is paid only where skew exists.
  */
object Linker {

  /** Comparisons per task when decomposing blocks (reference
    * CHUNK_SIZE_AIM=3e8, `settings.py:103`, sized for its C++ kernel).
    * 2.56e8 (~16k 128-byte records per side): before the kernel was
    * L2-tiled, big chunks thrashed the shared L3 and 6.4e7 measured 2-3x
    * faster at 32 threads; WITH tiling the cache-active set is one tile
    * regardless of chunk size, so bigger chunks win back the task-count
    * and shuffle-replication overhead (shuffle is 2k·chunkBytes per
    * block, k ~ 1/sqrt(aim)) — re-measured r2: 256M beat 64M in every
    * round at local[32]. The adaptive aim (Salting.adaptiveAim) still
    * splits small jobs across all cores. */
  val ChunkSizeAim: Long = 256000000L

  /** Input: columns (dp int, entity_id long, clk binary, popcount int,
    * block_key string), `(dp, entity_id)` unique per provider as the
    * reference's row indices are. Output: scored edges with dp0 < dp1,
    * each pair once.
    *
    * Default = the chunked kernel (`scoreCandidatesChunked`): the
    * row-at-a-time join form is kept as the declarative semantic spec
    * (and equality-tested against the kernel), but a hash/sort-merge
    * join emitting one row per COMPARISON tops out around ~5M rows/s/core
    * — 10-20x below the bit-parallel kernel — so the physical shape of the
    * hot path is chunk-pair nested loops, exactly the reference's work
    * packages (`tasks/comparing.py:102-170`).
    */
  def scoreCandidates(blocked: DataFrame, cfg: LinkConfig): Dataset[Edge] =
    scoreCandidatesCounted(blocked, cfg)._1

  /** [[scoreCandidates]]'s edges together with the blocked pair space
    * (the A5 count [[totalComparisons]] returns), read from the kernel's
    * own block-stats round-trip: a caller that records both pays no
    * Spark job for the count. */
  def scoreCandidatesCounted(blocked: DataFrame, cfg: LinkConfig): (Dataset[Edge], Long) = {
    val (scored, pairs) = chunked(blocked, cfg, ChunkSizeAim, Salting.MaxSaltFanout)
    (cfg.topKPerRecord.fold(scored)(k => capTopKPerRecord(scored, k)), pairs)
  }

  /** Optional anonlink-`k` parity: keep the k best candidates per left
    * record (sim desc, ids as tie-break). A per-key window — hash
    * partitioned by (dp0, rec0), never a global sort. */
  def capTopKPerRecord(edges: Dataset[Edge], k: Int): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"dp0", $"rec0")
      .orderBy(desc("sim"), $"dp1", $"rec1")
    edges.toDF()
      .withColumn("__r", row_number().over(w))
      .where($"__r" <= k).drop("__r")
      .as[Edge]
  }

  /** Declarative join formulation — the semantic spec the chunked kernel
    * is equality-tested against. No salting: it shares no pair-generation
    * logic with the code it checks. */
  def scoreCandidatesJoin(blocked: DataFrame, cfg: LinkConfig): Dataset[Edge] = {
    val spark = blocked.sparkSession
    import spark.implicits._
    def side(sfx: String) = blocked.select($"block_key",
      $"dp".as(s"dp$sfx"), $"entity_id".as(s"rec$sfx"),
      $"clk".as(s"clk$sfx"), $"popcount".as(s"pc$sfx"))
    side("0").join(side("1"), "block_key")
      .where($"dp0" < $"dp1")
      .select(
        dicePre($"clk0", $"clk1", $"pc0" + $"pc1").as("sim"),
        $"dp0", $"rec0", $"dp1", $"rec1")
      .where($"sim" >= cfg.threshold)
      // A pair can co-occur in multiple shared blocks -> collapse
      // (reference dedups during merge, comparing.py:475-483).
      .dropDuplicates("dp0", "rec0", "dp1", "rec1")
      .as[Edge]
  }

  /** Broadcast cap for the cross-block keep-list (8-byte hashed keys +
    * overhead; 8M longs ≈ 64 MB — safe at default driver memory). */
  private val MaxCrossBlockBroadcast = 8000000L

  /** The hot path. Physical design = the reference's square-chunk work
    * packages re-expressed in Spark:
    *
    *  1. per-block fan-out from block stats (Salting.assignSalt);
    *  2. records grouped into chunks keyed (block, dp, salt) — chunk byte
    *     size is bounded by the comparison aim, so no task sees more than
    *     ~2 chunks of data;
    *  3. the two-sided meet (Salting.meet): each chunk PAIR meets exactly
    *     once per orientation, and the sort-merge join buffers only one
    *     chunk per key;
    *  4. a tight array nested loop scores each chunk pair with the
    *     popcount kernel, emitting only >= threshold edges (nothing below
    *     threshold is ever materialized — parity with the reference
    *     kernel's in-loop threshold, `tasks/comparing.py:340-343`);
    *  5. a pair shared by several blocks is deduplicated, a shuffle of
    *     every edge that runs only when more than one block is kept: in
    *     one block no pair can repeat.
    *
    * Shuffle volume is 2·k²·chunkBytes per block — for a 10^6-record
    * block at the 3e8 aim that is ~16 GB for 10^12 comparisons, i.e. the
    * kernel, not the shuffle, is the bottleneck at cluster scale.
    */
  def scoreCandidatesChunked(blocked: DataFrame, cfg: LinkConfig,
      chunkSizeAim: Long = ChunkSizeAim, maxK: Int = Salting.MaxSaltFanout): Dataset[Edge] =
    chunked(blocked, cfg, chunkSizeAim, maxK)._1

  /** Per-block statistics, the one aggregate behind the kernel's plan and
    * the A5 count: rows are counted per (block, provider) (B3, m = n_dp)
    * and reduced per block to its size `n` and its cross-provider
    * comparisons `pairs` = Σ_{dp<dp'} n_dp·n_dp' = (n² − Σ n_dp²) / 2.
    * A block spans more than one provider iff pairs > 0. Blocks are keyed
    * by `bkh`, a 64-bit hash of the block key (see [[chunked]]); the
    * per-block products are Longs, exact below ~3·10^9 rows per block.
    *
    * One exchange: rows are partitioned by block, so both levels run in
    * the same tasks. There is no map-side combine, so a block's n rows
    * meet in one task; that is O(n) work next to its O(n²) comparisons,
    * and LSH blocks, mostly one row per (block, provider), combine to
    * nothing anyway. */
  private def blockStats(blocked: DataFrame): DataFrame =
    blocked.select(xxhash64(col("block_key")).as("bkh"), col("dp"))
      .repartition(col("bkh"))
      .groupBy("bkh", "dp").agg(count(lit(1)).as("m"))
      .groupBy("bkh").agg(sum("m").as("n"), sum(col("m") * col("m")).as("sq"))
      .select(col("bkh"), col("n"), expr("(n * n - sq) div 2").as("pairs"))

  /** Σ of a stats column as decimal (Σ n² over 10^12-row blocks exceeds a
    * Long), saturated to Long on the driver. */
  private def decSum(c: Column): Column = coalesce(sum(c.cast("decimal(38,0)")), lit(0))
  private def sat(d: java.math.BigDecimal): Long = d.toBigInteger.min(
    java.math.BigInteger.valueOf(Long.MaxValue)).longValue()

  private def chunked(blocked: DataFrame, cfg: LinkConfig,
      chunkSizeAim: Long, maxK: Int): (Dataset[Edge], Long) = {
    val spark = blocked.sparkSession
    import spark.implicits._

    // Stats ride a 64-bit hash of the block key: the string key (an LSH
    // band value, often ~50 bytes) would dominate this — the widest —
    // shuffle's bytes. Every kernel consumer of stats is a heuristic
    // (keep-list, salt fan-out, chunk aim) where a hash collision merely
    // keeps or over-salts one extra block, and the only exact consumer,
    // the pair count, can only over-count by a collided block's cross
    // products. Chunk packing and the chunk-pair join below stay on the
    // TRUE key, so a collision can never cause a cross-block comparison.
    val withH = blocked.withColumn("bkh", xxhash64($"block_key"))
    val statsRaw = RunScope.persist("link_stats", blockStats(blocked))

    // A block confined to ONE provider can never emit a dp0<dp1 pair.
    // With LSH banding most band values are unique to one document, so at
    // the reference's 100Kx1M shape ~98% of the exploded rows are
    // pair-less; dropping them BEFORE the packing shuffle turns a
    // multi-GB groupByKey + chunk-pair join into megabytes (measured
    // round 4: the kernel does 124k comparisons while the shuffles moved
    // 7+ GB). The keep-list comes out of the SAME stats aggregate the
    // fan-out already needs, so the filter is one broadcast hash join —
    // no extra shuffle. When most blocks are cross-provider (or the list
    // would be too big to broadcast) the filter buys nothing; skip it.
    // ONE driver round-trip for every block-stat scalar this call needs
    // (count, cross count, the n² sums both with and without the
    // single-provider blocks — the prefilter decision picks which sum
    // applies —, the pair space Σ pairs the caller may record, and the
    // largest block, which decides whether salting splits anything).
    val cross = $"pairs" > 0
    val nSq = $"n".cast("decimal(38,0)") * $"n"
    val r = statsRaw.agg(count(lit(1)), count(when(cross, 1)),
      decSum(nSq), decSum(when(cross, nSq)), decSum($"pairs"),
      coalesce(max($"n"), lit(0L)), coalesce(max(when(cross, $"n")), lit(0L))).head()
    val (totalBlocks, crossBlocks) = (r.getLong(0), r.getLong(1))
    val Seq(pairsUbAll, pairsUbCross, pairSpace) = (2 to 4).map(i => sat(r.getDecimal(i)))
    val prefilter = crossBlocks <= MaxCrossBlockBroadcast &&
      crossBlocks * 2 <= totalBlocks
    val keptBlocks = if (prefilter) crossBlocks else totalBlocks
    val maxBlock = r.getLong(if (prefilter) 6 else 5)
    val statsBase =
      if (prefilter) statsRaw.where(cross) else statsRaw
    val kept =
      if (prefilter)
        withH.join(broadcast(statsBase.select($"bkh")), Seq("bkh"))
      else withH

    // decimal agg + saturating cap: at 10^12-row blocks n^2 exceeds Long.
    // Sized over the KEPT blocks so dropped single-provider volume can't
    // inflate the aim (which would under-split what remains).
    val totalPairsUb = if (prefilter) pairsUbCross else pairsUbAll

    val aim = Salting.adaptiveAimValue(totalPairsUb, chunkSizeAim,
      spark.sparkContext.defaultParallelism)
    // Salting splits a block only when it has more than sqrt(aim) rows.
    // Then the chunk-pair join gets one partition per chunk pair, about
    // Σ k² ≈ Σ n² / aim + blocks, so the pairs spread over every core
    // instead of hashing into spark.sql.shuffle.partitions tasks.
    val chunkPairs =
      if (maxBlock <= math.sqrt(aim)) 0
      else math.min(math.ceil(totalPairsUb / aim) + keptBlocks, Int.MaxValue.toDouble).toInt

    // Chunks are packed ONCE at aggregation time into primitive arrays
    // (ids, popcounts, one contiguous zero-padded clk buffer, sorted by
    // popcount). Boxed per-record structs (collect_list of tuples) were
    // measured to generate enough garbage to send later rounds into GC
    // collapse; primitive arrays deserialize with zero boxing and the
    // popcount sort is paid once per chunk instead of once per chunk pair.
    // When no block is big enough to split, every block has fan-out 1:
    // no stats join. Grouping on the key columns (not a key function)
    // plans no AppendColumns stage.
    val salted =
      if (chunkPairs == 0) Salting.assignSalt(kept, 1, 1, $"dp", $"entity_id")
      else Salting.assignSalt(kept, statsBase, "bkh", lit(aim), maxK, $"dp", $"entity_id")
    val packed = salted
      .select($"block_key", $"k1", $"k2", $"dp", $"salt", $"entity_id", $"clk", $"popcount")
      .groupBy($"block_key", $"k1", $"k2", $"dp", $"salt")
      .as[(String, Int, Int, Int, Int), (String, Int, Int, Int, Int, Long, Array[Byte], Int)]
      .mapGroups { (key: (String, Int, Int, Int, Int), it: Iterator[(String, Int, Int, Int, Int, Long, Array[Byte], Int)]) =>
        val (bk, k1, k2, dp, salt) = key
        val recs = it.toArray.sortBy(_._8)
        val n = recs.length
        var maxLen = 0
        recs.foreach(r => if (r._7.length > maxLen) maxLen = r._7.length)
        val stride = math.max(((maxLen + 7) / 8) * 8, 8)
        val ids = new Array[Long](n)
        val pcs = new Array[Int](n)
        val pch = new Array[Int](n) // popcount of the first stride/2 bytes
        val flat = new Array[Byte](n * stride)
        val half = stride / 2
        var i = 0
        while (i < n) {
          val r = recs(i); ids(i) = r._6; pcs(i) = r._8
          System.arraycopy(r._7, 0, flat, i * stride, r._7.length)
          pch(i) = graft.core.BitOps.popcount(
            java.util.Arrays.copyOfRange(flat, i * stride, i * stride + half))
          i += 1
        }
        (bk, k1, k2, dp, salt, stride, ids, pcs, pch, flat)
      }
      .toDF("block_key", "k1", "k2", "dp", "salt", "stride", "ids", "pcs", "pch", "flat")
    // both join branches derive from this subtree and AQE compiles them
    // as separate query stages (no exchange reuse) — without caching, the
    // whole scan+encode+pack pipeline runs twice. The returned edges are
    // lazy, so the chunk and stats frames stay cached until the caller's
    // run ends (RunScope).
    val chunks = RunScope.persist("link_chunks", packed)

    val threshold = cfg.threshold
    val pairsDs = Salting.meet(chunks, "block_key", chunkPairs)
      .where($"dp0" < $"dp1")
      .select($"dp0", $"stride0", $"ids0", $"pcs0", $"pch0", $"flat0",
        $"dp1", $"stride1", $"ids1", $"pcs1", $"pch1", $"flat1")
      .as[(Int, Int, Array[Long], Array[Int], Array[Int], Array[Byte],
           Int, Int, Array[Long], Array[Int], Array[Int], Array[Byte])]

    val scored = pairsDs.flatMap {
      case (dp0, stride0, id0, pc0, pch0, flat0, dp1, stride1, id1, pc1, pch1, flat1) =>
      val n0 = id0.length
      val n1 = id1.length
      // AND over the common prefix (same semantics as BitOps.andPopcount's
      // min-length rule; strides are equal when encodings are uniform,
      // which ingest validates)
      val len = math.min(stride0, stride1)
      // the half-popcount upper bound is only sound when both sides were
      // packed with the same stride (uniform encodings — the normal case)
      val halves = stride0 == stride1
      val ratio = threshold / (2.0 - threshold) // in (0,1] for t in (0,1]
      // Tiled scan: the y side is processed in ~256 KB tiles so the tile
      // stays L2-resident while every x row passes over it (without
      // tiling, each x-pass streams the whole chunk from L3/DRAM and the
      // kernel stops scaling past ~8 cores — measured). Within a tile the
      // popcount window [px*ratio, px/ratio] bounds y via monotone
      // pointers over the popcount-sorted order. Lazy: buffers at most
      // one (x, tile) row of survivors.
      new Iterator[Edge] {
        private val tileRows = math.max(512, (256 * 1024) / math.max(stride1, 1))
        private var ts = 0
        private var te = math.min(tileRows, n1)
        private var x = 0
        private var lo = 0 // first in-tile y with pc1(y) >= px*ratio
        private val buf = new scala.collection.mutable.ArrayBuffer[Edge](32)
        private var bi = 0
        fill()
        private def fill(): Unit = {
          buf.clear(); bi = 0
          while (buf.isEmpty && ts < n1 && n0 > 0) {
            if (x >= n0) { // next tile
              ts = te; te = math.min(ts + tileRows, n1); x = 0; lo = ts
            } else {
              val px = pc0(x)
              val minPc = px * ratio
              val maxPc = px / ratio
              while (lo < te && pc1(lo) < minPc) lo += 1
              var y = lo
              val xOff = x * stride0
              val phx = if (halves) pch0(x) else 0
              val ptx = if (halves) px - phx else 0
              while (y < te && pc1(y) <= maxPc) {
                val py = pc1(y)
                // second-level prune: inter <= min(heads) + min(tails)
                val skip = halves && {
                  val phy = pch1(y)
                  val upper = math.min(phx, phy) + math.min(ptx, py - phy)
                  2.0 * upper < threshold * (px + py)
                }
                if (!skip) {
                  val s = graft.core.BitOps.dicePreOff(
                    flat0, xOff, flat1, y * stride1, len, px + py)
                  if (s >= threshold) buf += Edge(s, dp0, id0(x), dp1, id1(y))
                }
                y += 1
              }
              x += 1
            }
          }
        }
        override def hasNext: Boolean = bi < buf.length
        override def next(): Edge = {
          val e = buf(bi); bi += 1
          if (bi >= buf.length) fill()
          e
        }
      }
    }

    // A pair shared by several blocks is scored once per block; collapse
    // it (the reference dedups during merge, comparing.py:475-483). With
    // one kept block no pair can repeat: a record sits in exactly one
    // (dp, salt) chunk of it, and the meet pairs each chunk pair once per
    // orientation, of which dp0 < dp1 keeps one. So the dedup aggregate (a
    // shuffle of every edge) runs only on multi-block inputs. This needs
    // (dp, entity_id) to be unique per provider, as the reference's row
    // indices are.
    val edges =
      if (keptBlocks <= 1) scored
      else scored.dropDuplicates("dp0", "rec0", "dp1", "rec1").as[Edge]
    (edges, pairSpace)
  }

  /** A5: total comparison estimate = sum over (block, dp-pair) of the
    * product of per-dp block sizes (`database/selections.py:231-261`):
    * Σ pairs of [[blockStats]], the aggregate the kernel plans from. */
  def totalComparisons(blocked: DataFrame): Long =
    sat(blockStats(blocked).agg(decSum(col("pairs"))).head().getDecimal(0))

  /** A4 guardrail: fail the run when scored candidates exceed the cap
    * (`settings.py:112`, enforced `comparing.py:363-372`). Returns count. */
  def enforceScoredPairsCap(edges: Dataset[Edge], cfg: LinkConfig): Long = {
    val n = edges.count()
    requireScoredPairsCap(n, cfg)
    n
  }

  /** The A4 rule on a known count `n` (`q_guardrail` parses the count
    * back out of this message). */
  private[graft] def requireScoredPairsCap(n: Long, cfg: LinkConfig): Unit =
    require(n <= cfg.maxScoredPairs,
      s"run aborted: $n candidate pairs exceeds cap ${cfg.maxScoredPairs}")
}
