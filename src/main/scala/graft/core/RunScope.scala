package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of cached intermediate frames. A stage whose subtree is
  * read by several branches of one plan (AQE compiles each branch as its
  * own query stage, with no exchange reuse) persists it here under a
  * named slot instead of calling `persist` itself.
  *
  * A slot holds ONE `MEMORY_AND_DISK` frame per table: [[persist]]
  * unpersists the slot's previous frame BEFORE it persists the new one
  * (unless both are the same object), so a new frame whose plan equals
  * the old one's gets its own cache entry instead of losing it to the
  * old frame's release.
  *
  * Tables:
  *  - [[run]] gives its body a fresh table and releases every frame in
  *    it in `finally`, once the body's actions are done — the release
  *    point of a run. Frames returned out of the body stay lazy and
  *    recompute from their sources, so a run should end in an action or
  *    in a write whose result is read back from storage.
  *  - The current run is thread-local and is NOT inherited by threads
  *    Spark (or anyone) starts, so two runs on two threads never release
  *    each other's table.
  *  - Code outside any run falls back to one shared root table, which
  *    keeps the one-frame-per-slot bound but is never released as a
  *    whole: the previous frame of a slot is released by the next
  *    persist on that slot.
  *
  * Caveat: Spark's CacheManager keys cache entries by plan. Equal-plan
  * frames persisted by two concurrent runs share one entry, so the first
  * run's release drops it for both; the other run then recomputes that
  * subtree (never a wrong result, only a slower one).
  */
object RunScope {

  private type Table = scala.collection.mutable.Map[String, DataFrame]

  private val root: Table = scala.collection.mutable.Map.empty
  private val current = new ThreadLocal[Table]

  // a frame may belong to an already-stopped session
  private def release(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)
    catch { case _: Throwable => () }

  /** Persist `df` in `slot` of the current run's table (the root table
    * outside any run), releasing the slot's previous frame first. */
  def persist(slot: String, df: DataFrame): DataFrame = {
    val table = Option(current.get).getOrElse(root)
    table.synchronized {
      table.get(slot).filterNot(_ eq df).foreach(release)
      table(slot) = df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Run `body` with a fresh table and release every frame it persisted
    * when it ends, normally or by an exception. */
  def run[A](body: => A): A = {
    val outer = current.get
    val table: Table = scala.collection.mutable.Map.empty
    current.set(table)
    try body
    finally {
      current.set(outer)
      table.synchronized { table.values.foreach(release); table.clear() }
    }
  }
}
