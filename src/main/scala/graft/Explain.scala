package graft

/** Plan-inspection tool: prints the formatted physical plan of selected
  * queries (all, when no names given). Used to keep pushdown, pruning
  * and broadcast decisions honest — `PushedFilters`, `ReadSchema` and
  * `BroadcastHashJoin` should appear where the catalog docs claim.
  * The session is [[GraftSession]]'s, the same one Bench and Verify
  * run, so the printed plan is the plan they time: plan evidence is
  * regenerated on demand, never committed as text.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1)
    val spark = GraftSession.getOrCreate("graft-explain")
    val targets =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else names.toSeq
    targets.foreach { name =>
      println(s"\n===================== $name =====================")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
