package graft.core

/** Core typed rows of the linkage pipeline (schemas per FIXTURES.md §C,
  * mirroring the reference's storage model in
  * `backend/entityservice/database/models/models.py`).
  */

/** One uploaded encoding: provider id, 0-based row index within the
  * provider (reference assigns ids by position, `encoding_storage.py:216`),
  * the fixed-width CLK bitvector, and its precomputed popcount
  * (`cache/encodings.py:42-45`). */
case class Record(dp: Int, entityId: Long, clk: Array[Byte], popcount: Int)

/** Record-to-block membership, one row per (record, block); block keys are
  * hashed strings (`encoding_storage.py:238-242`). A record may be in many
  * blocks; default single block "1" when blocking is off
  * (`encoding_storage.py:21`). */
case class BlockMember(dp: Int, blockKey: String, entityId: Long)

/** A scored candidate pair (cross-provider). Tuple layout parity with the
  * reference's packed similarity record `(sim, dp0, dp1, rec0, rec1)`
  * (`serialization.py:105-113`); dp0 < dp1 always. */
case class Edge(sim: Double, dp0: Int, rec0: Long, dp1: Int, rec1: Long)

/** Cluster membership: one row per matched record; singletons omitted on
  * export (groups schema per `api_def/openapi.yaml:737-754`). */
case class ClusterMember(clusterId: Long, dp: Int, entityId: Long)

object NodeId {
  /** Globally unique node id `dp << 40 | entityId` (reference uses
    * `dp_id << 32 | entity_id`, `database/util.py:167-173`; 40 bits here
    * leaves room for 10^12-row providers). */
  def apply(dp: Int, entityId: Long): Long = (dp.toLong << 40) | entityId
  def dp(node: Long): Int = (node >>> 40).toInt
  def entity(node: Long): Long = node & ((1L << 40) - 1)
}

/** Run configuration (analogue of the reference's project+run rows,
  * `database/models/models.py:33-93`). */
case class LinkConfig(
    threshold: Double,
    maxScoredPairs: Long = 500000000L, // settings.py:112
    maxSolverPairs: Long = 100000000L, // settings.py:111
    // candidate cap per left record (anonlink's `k`; the reference passes
    // k=min(|A|,|B|) — i.e. uncapped — `tasks/comparing.py:343`). None =
    // pure threshold (the reference-test-accepted superset, SURVEY §7.0).
    topKPerRecord: Option[Int] = None
) {
  require(threshold > 0 && threshold <= 1.0, s"threshold must be in (0,1]: $threshold")
}
