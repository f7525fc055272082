package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}

/** The absolute-row-count broadcast gate: an operator broadcasts a
  * data-dependent relation only after a bounded count proves it under a
  * fixed row cap — never a corpus fraction, which scales with the data
  * and is a guaranteed executor OOM at 100×. What happens past the cap
  * (throw, LSH route, plain shuffle joins) stays with each caller.
  */
private[graft] object Broadcasts {

  /** Default absolute row cap of a broadcast query side, and of the
    * pair graph `Dedup.connectedComponents` folds on the driver.
    */
  val MaxRows: Long = 100000L

  /** `maxRows` clamped so that `cap + 1` fits an Int. */
  def cap(maxRows: Long): Long = math.min(maxRows, Int.MaxValue - 1L)

  /** Rows of `df` counted up to `cap(maxRows) + 1` in one Spark job, or
    * `known` (no job) clamped the same way, so both decide identically.
    * Compare against `cap(maxRows)`.
    *
    * Each partition stops reading at `cap + 1` rows, the bound a
    * `limit(cap + 1).count()` puts on it, but no row leaves its task:
    * under AQE that count paid two more jobs, one per exchange of the
    * global limit and of the final aggregate (and a persisted `df`
    * one more to build its cache first); here the job that counts
    * also builds the cache. Jobs of exchanges inside `df`'s own plan
    * run either way. The count projects every column away first, so
    * the scan still prunes columns (a vector query side is counted
    * without reading its embeddings) while a persisted `df` still
    * builds its whole cache. It runs as a Dataset action, inside a SQL
    * execution: the same job over `df.queryExecution.toRdd`, outside
    * one, took about 1.5 s longer to build d7's sf1 edge cache
    * (4 vCPUs).
    */
  def boundedCount(df: => DataFrame, maxRows: Long, known: Option[Long] = None): Long = {
    val c = cap(maxRows)
    known.fold {
      df.select().mapPartitions { rows =>
        var n = 0L
        while (n <= c && rows.hasNext) { rows.next(); n += 1 }
        Iterator.single(n)
      }(Encoders.scalaLong).collect().sum.min(c + 1)
    }(n => math.min(n, c + 1))
  }
}
