package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The counted fan-out for stages whose cost grows per key or per pair
  * rather than per input byte (the keyed cluster folds, the exact ANN
  * scans). AQE may coalesce a column-only `repartition(col)` by shuffle
  * bytes, so a few hundred KB of input can collapse such a stage into
  * one task; an exchange with an explicit partition count is never
  * coalesced.
  */
private[graft] object Fanout {

  /** `df` hash-partitioned on `key` into the session's
    * `spark.sql.shuffle.partitions` partitions, read at call time.
    */
  def byKey(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, key)
}
