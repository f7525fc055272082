package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for the 100 TB design goal.
  *
  * AQE's skew-join splitting (enabled in GraftSession) covers joins;
  * these cover the aggregation side: a hot grouping key (one entity with
  * 10⁹ mentions, one document id with millions of rows) funnels into a
  * single reducer under a plain groupBy. Salting splits each key into
  * `salts` sub-keys for the partial aggregate and re-combines — classic
  * two-phase aggregation with an explicit fan-out, for aggregates that
  * are associative monoids.
  */
object Skew {

  /** Salted sum over a long column (exact, associative): groupBy (key,
    * salt) then re-aggregate by key. Deterministic salt from a row-id
    * column (not rand() — results must be reproducible).
    */
  def saltedSum(df: DataFrame, key: Column, value: Column, rowId: Column, salts: Int): DataFrame =
    df.withColumn("_salt", pmod(rowId.cast("long"), lit(salts)))
      .groupBy(key.as("k"), col("_salt"))
      .agg(sum(value).as("_s"))
      .groupBy(col("k"))
      .agg(sum("_s").cast("long").as("total"))

  /** Salted equi-join — the manual fallback when a hot fact key
    * overwhelms one reducer, the dimension is too large to broadcast,
    * and AQE's skew splitting doesn't apply (it only splits sort-merge
    * join partitions, not e.g. stream-static joins or shuffled hash
    * joins fed by an aggregation). The fact side gets a deterministic
    * salt in `[0, salts)` from a row-id column (never rand() —
    * reproducibility); the dimension replicates `salts` times; the
    * join key becomes (key, salt), fanning each hot key across `salts`
    * reducers at the cost of a `salts`× dimension replication. The
    * salt never changes which rows pair, so the result is exactly the
    * unsalted join's.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: Column, dimKey: Column,
                 rowId: Column, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive: $salts")
    val reserved = (fact.columns ++ dim.columns).toSet.intersect(Set("_salt", "_dsalt"))
    require(reserved.isEmpty,
      s"reserved temp columns already present: ${reserved.mkString(", ")}")
    fact.withColumn("_salt", pmod(rowId.cast("long"), lit(salts.toLong)))
      .join(dim.withColumn("_dsalt",
        explode(sequence(lit(0L), lit((salts - 1).toLong)))),
        factKey === dimKey && col("_salt") === col("_dsalt"))
      .drop("_salt", "_dsalt")
  }
}
