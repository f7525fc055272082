package graft.operators

import org.apache.spark.sql.DataFrame

/** The absolute-row-count broadcast gate: an operator broadcasts a
  * data-dependent relation only after a bounded count proves it under a
  * fixed row cap — never a corpus fraction, which scales with the data
  * and is a guaranteed executor OOM at 100×. What happens past the cap
  * (throw, LSH route, plain shuffle joins) stays with each caller.
  */
private[graft] object Broadcasts {

  /** Default absolute row cap of a broadcast query side. */
  val MaxRows: Long = 100000L

  /** `maxRows` clamped so that `cap + 1` fits an Int `limit`. */
  def cap(maxRows: Long): Long = math.min(maxRows, Int.MaxValue - 1L)

  /** Rows of `df` counted up to `cap(maxRows) + 1` in one bounded
    * `limit(cap+1).count()` job, or `known` (no job) clamped the same
    * way, so both decide identically. Compare against `cap(maxRows)`.
    */
  def boundedCount(df: => DataFrame, maxRows: Long, known: Option[Long] = None): Long = {
    val c = cap(maxRows)
    known.fold(df.limit((c + 1).toInt).count())(n => math.min(n, c + 1))
  }
}
