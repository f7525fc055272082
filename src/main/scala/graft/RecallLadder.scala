package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executed recall/cost ladders for BOTH approximate-NN routes:
  * the multi-table Hamming LSH (v14b/v14c — VERDICT r11 #2) over a
  * (prefixBits, nTables) grid, and the multi-table cosine RHP LSH
  * (v2/v7 — round 14) over a (nBits, nTables) grid. For each operating
  * point: recall@3 against the exact brute ranking (Hamming
  * route=Exact / cosine broadcast path) AND wall time AND the deduped
  * candidate-pair count on one or more sf dirs — so the operator
  * defaults are justified by a cost/recall table at 10× data
  * (target/sf1), not only by a recall number without cost alongside.
  *
  * The query set is the driver's v14 family config (vec_id % 10 == 0,
  * k = 3); "recall@3" is |returned ∩ brute top-3| / |brute top-3|
  * summed over queries — the same definition VectorSpec pins. Brute
  * truth is [[operators.Similarity.binaryHammingTopK]]'s exact
  * broadcast path (the query side is 10% of the corpus, far under the
  * cap at every tested sf). Wall is the min over iters of a full
  * materialization of the multi-table plan (toRdd.count, same
  * convention as [[ScaleSmoke]]); the candidate count and the recall
  * collect run OUTSIDE the timed region.
  *
  * Usage: runMain graft.RecallLadder <sfDir> [<sfDir> ...]
  * Env: SPARK_GRAFT_RECALL_ITERS (default 2),
  *      SPARK_GRAFT_RECALL_OUT (optional: write ONE JSON object
  *      "<dirBase> p=<p> L=<n>" / "... rhp b=<b> L=<n>" /
  *      "... auto occ=<o> L=<n> [probe=1] (p=<p>)" → {recall3, wall,
  *      cands, queries} — the round artifacts RECALL_r{N}.json; a
  *      non-default qmod is part of the key: "<dirBase> qmod=<m> …"),
  *      SPARK_GRAFT_RECALL_FAMILIES (comma subset of
  *      hamming,cosine,auto,ivf; default all — run auto/ivf ONLY at
  *      sf10+, the fixed grids are quadratic there; the ivf family's
  *      fixed-16 config self-limits to corpora ≤ 50k),
  *      SPARK_GRAFT_RECALL_QMOD (query modulus, default 10; 100 keeps
  *      the sf10 brute truth tractable),
  *      SPARK_GRAFT_RECALL_PROBES (comma subset of 0,1,2 for the auto
  *      family's probe radii; default "0,1" — probe=2 is a targeted
  *      run, its probe set is ~p/2 times probe=1's).
  */
object RecallLadder {
  // the Hamming ladder: the driver widths (6 = v14/v14b/v14c) bracketed
  // by a wider-bucket (p=4) and a narrower-bucket (p=8) width; L capped
  // at each width's 32/gcd(p,32) distinct rotation offsets
  private val Configs: Seq[(Int, Seq[Int])] = Seq(
    4 -> Seq(1, 2, 4, 8),
    6 -> Seq(1, 2, 4, 6, 8, 12, 16),
    8 -> Seq(1, 2, 4))
  // the cosine RHP ladder (v2/v7's route): the driver width (8 bits =
  // AnnBits) bracketed by a coarser and a finer signature; tables are
  // INDEPENDENT hyperplane sets (seed offsets), so L is uncapped — the
  // grid stops where the recall curve flattens
  private val CosineConfigs: Seq[(Int, Seq[Int])] = Seq(
    6 -> Seq(1, 2, 3),
    8 -> Seq(1, 2, 3, 4, 6),
    10 -> Seq(1, 2, 4, 8))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallLadder <sfDir> [<sfDir> ...]")
    // SPARK_GRAFT_RECALL_FAMILIES: comma subset of
    // hamming,cosine,auto,ivf,adc (default all). The fixed-width grids
    // are QUADRATIC in corpus size (the 100× lesson) — at sf10 run
    // families=auto,ivf,adc only.
    val families = sys.env.getOrElse("SPARK_GRAFT_RECALL_FAMILIES",
        "hamming,cosine,auto,ivf,adc")
      .split(",").map(_.trim).toSet
    // a typo'd family name would silently skip that family and write a
    // partial artifact with no error — fail loudly instead
    require(families.subsetOf(Set("hamming", "cosine", "auto", "ivf", "adc")),
      s"SPARK_GRAFT_RECALL_FAMILIES must be a comma subset of " +
        s"hamming,cosine,auto,ivf,adc; got ${families.mkString(",")}")
    // SPARK_GRAFT_RECALL_QMOD: query-side modulus (default 10 = the v14
    // family config). At sf10 the exact brute truth over a %10 query
    // side costs ~4G popcount pairs — %100 keeps the truth set tractable
    // (the artifact row records the query count).
    val qmod = sys.env.getOrElse("SPARK_GRAFT_RECALL_QMOD", "10").toInt
    // artifact rows are keyed by the dir's basename — two dirs sharing a
    // final path segment would silently overwrite each other's rows
    val bases = args.map(_.stripSuffix("/").split("/").last)
    require(bases.distinct.length == bases.length,
      s"sf dirs must have distinct basenames (artifact rows are keyed by " +
        s"them); got ${bases.mkString(", ")}")
    val iters = sys.env.getOrElse("SPARK_GRAFT_RECALL_ITERS", "2").toInt.max(1)
    val spark = GraftSession.builder("graft-recall-ladder")
      // local[n] is ONE JVM: a long full-GC pause during the sf10
      // brute-truth sorts can exceed the default 120 s heartbeat and
      // kill the context mid-ladder — at these single-box sizes the
      // honest fix is a wider timeout, not a smaller truth set
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      v => v % qmod === 0
    def topSets(d: DataFrame): Map[Long, Set[Long]] =
      d.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // artifact rows carry the non-default query modulus in their key so
    // qmod=100 rows can't be confused with qmod=10 rows of the same dir
    // when artifacts from different runs are compared side by side
    val qtag = if (qmod == 10) "" else s" qmod=$qmod"
    args.foreach { dir =>
      val base = dir.stripSuffix("/").split("/").last
      val emb = Tables.load(spark, dir, "embeddings")
      // route=Exact so an over-cap query side fails loudly rather than
      // silently downgrading the truth set to the single-table LSH
      // route; lazy — only computed when a family that needs it runs
      lazy val brute = {
        val b = topSets(operators.Similarity.binaryHammingTopK(
          emb, col("vec_id"), col("embedding"), k = 3, isQuery = isQ,
          route = operators.Similarity.HammingRoute.Exact))
        // a qmod past the id range selects zero queries → recall would
        // be 0/0 = NaN, which fmt renders as invalid JSON in the artifact
        require(b.nonEmpty, s"no queries at qmod=$qmod for $base")
        b
      }
      lazy val denom = brute.values.map(_.size).sum
      // one Hamming operating point: time the plan, replay recall vs
      // brute, and count the deduped candidate pairs with the SAME
      // multiTableBuckets + probedBuckets builders the timed operator
      // uses (probe expands only the query side, mirroring the plan)
      def hammingPoint(key: String, tag: String, p: Int, l: Int,
                       plan: () => DataFrame, probe: Int = 0): Unit = {
        System.gc(); Thread.sleep(50)
        val wall = (0 until iters).map { _ =>
          val t0 = System.nanoTime()
          plan().queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        val got = topSets(plan())
        val hits = got.iterator.map { case (q, ns) =>
          (ns & brute.getOrElse(q, Set.empty)).size
        }.sum
        val recall = hits.toDouble / denom
        val codes = emb.select(col("vec_id"),
            functions.VectorFunctions.signCode(col("embedding")).as("c"))
          .select(col("vec_id"), col("c.hi").as("hi"))
        val tb = codes.select(col("vec_id"),
          posexplode(operators.Similarity.multiTableBuckets(col("hi"), p, l))
            .as(Seq("tbl", "bucket")))
        val qb =
          if (probe == 0) col("bucket")
          else explode(operators.Similarity.probedBuckets(col("bucket"), p, probe))
        val q = tb.where(isQ(col("vec_id")))
          .select(col("vec_id").as("qid"), col("tbl"), qb.as("bucket"))
        val c = tb.select(col("vec_id").as("cid"), col("tbl"), col("bucket"))
        val cands = q.join(c, Seq("tbl", "bucket"))
          .where(col("qid") =!= col("cid"))
          .select("qid", "cid").distinct().count()
        println(s"""{"recall":{"sf":"$base",$tag,""" +
          s""""recall3":${fmt(recall)},"wall":${fmt(wall)},""" +
          s""""cands":$cands,"queries":${brute.size}}}""")
        out.update(s"$base$qtag $key",
          s"""{"recall3": ${fmt(recall)}, "wall": ${fmt(wall)}, """ +
            s""""cands": $cands, "queries": ${brute.size}}""")
      }
      if (families("hamming")) Configs.foreach { case (p, ls) =>
        ls.foreach { l =>
          hammingPoint(s"p=$p L=$l", s""""p":$p,"L":$l""", p, l,
            () => operators.Similarity.binaryHammingTopKMultiTable(
              emb, col("vec_id"), col("embedding"), k = 3, isQuery = isQ,
              prefixBits = p, nTables = l))
        }
      }
      // ---- auto-width rows (targetOccupancy=32, the 100×-safe route):
      // the derived width is recomputed here with the operator's own
      // integer formula so the candidate counter uses the same tables
      if (families("auto")) {
        val occ = 32
        val n = emb.count()
        val b = (n + occ - 1) / occ
        val cl2 = if (b <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(b - 1L)
        val p = math.min(32, math.max(4, cl2))
        val cap = 32 / BigInt(p).gcd(BigInt(32)).toInt
        // probe=0 (the v14d rows) AND probe=1 (round 15: each query
        // also probes the p buckets at prefix Hamming distance 1 —
        // the recall lever that does NOT add tables, aimed at the
        // sf10 recall ceiling at the 32-table cap). probe=2 (the
        // p(p-1)/2 two-bit masks) is opt-in via
        // SPARK_GRAFT_RECALL_PROBES — its candidate set is ~p/2 times
        // probe=1's, so it is a targeted run, not a default row.
        val probes = sys.env.getOrElse("SPARK_GRAFT_RECALL_PROBES", "0,1")
          .split(",").map(_.trim.toInt).toSeq
        require(probes.forall(pr => pr >= 0 && pr <= 2),
          s"SPARK_GRAFT_RECALL_PROBES must be a comma subset of 0,1,2; got $probes")
        probes.foreach { pr =>
          Seq(8, 16, 32).filter(_ <= cap).foreach { l =>
            val prKey = if (pr == 0) "" else s" probe=$pr"
            hammingPoint(s"auto occ=$occ L=$l$prKey (p=$p)",
              s""""auto":true,"occ":$occ,"p":$p,"L":$l,"probe":$pr""", p, l,
              () => operators.Similarity.binaryHammingTopKMultiTable(
                emb, col("vec_id"), col("embedding"), k = 3, isQuery = isQ,
                nTables = l, targetOccupancy = occ, probe = pr),
              probe = pr)
          }
        }
      }
      // ---- the cosine RHP family (v2/v7's route): same protocol —
      // recall@3 vs the exact brute cosine ranking (broadcast path, the
      // %10 query side is far under the cap at every tested sf), wall =
      // min-of-iters full materialization, cands = deduped union of the
      // per-table bucket joins (the SAME signature expression the timed
      // plan evaluates: rhpSignature at seed + t·7919)
      // exact brute cosine truth, shared by the cosine AND ivf
      // families (lazy — only computed when one of them runs)
      lazy val bruteCos = {
        // exactOnly: past the broadcast cap cosineTopK would silently
        // route to LSH — truth must fail loudly instead (the Hamming
        // truth pins the same hazard with route=Exact)
        val b = topSets(operators.Similarity.cosineTopK(
          emb, emb.where(isQ(col("vec_id"))), col("vec_id"), col("embedding"),
          k = 3, exactOnly = true))
        require(b.nonEmpty, s"no queries at qmod=$qmod for $base (cosine truth)")
        b
      }
      lazy val denomCos = bruteCos.values.map(_.size).sum
      if (families("cosine")) {
      CosineConfigs.foreach { case (b, ls) =>
        ls.foreach { l =>
          val plan = () => operators.Similarity.rhpAnnTopKMulti(
            emb, col("vec_id"), col("embedding"), nBits = b, dim = 64, k = 3,
            nTables = l, isQuery = isQ)
          System.gc(); Thread.sleep(50)
          val wall = (0 until iters).map { _ =>
            val t0 = System.nanoTime()
            plan().queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }.min
          val got = topSets(plan())
          val hits = got.iterator.map { case (q, ns) =>
            (ns & bruteCos.getOrElse(q, Set.empty)).size
          }.sum
          val recall = hits.toDouble / denomCos
          val sigs = (0 until l).map { t =>
            emb.select(col("vec_id"), lit(t).as("tbl"),
              functions.VectorFunctions.rhpSignature(col("embedding"), b, 64,
                42L + t * 7919L).as("bucket"))
          }.reduce(_ unionByName _)
          val q = sigs.where(isQ(col("vec_id")))
            .select(col("vec_id").as("qid"), col("tbl"), col("bucket"))
          val c = sigs.select(col("vec_id").as("cid"), col("tbl"), col("bucket"))
          val cands = q.join(c, Seq("tbl", "bucket"))
            .where(col("qid") =!= col("cid"))
            .select("qid", "cid").distinct().count()
          println(s"""{"recall":{"sf":"$base","family":"rhp","bits":$b,"L":$l,""" +
            s""""recall3":${fmt(recall)},"wall":${fmt(wall)},""" +
            s""""cands":$cands,"queries":${bruteCos.size}}}""")
          out.update(s"$base$qtag rhp b=$b L=$l",
            s"""{"recall3": ${fmt(recall)}, "wall": ${fmt(wall)}, """ +
              s""""cands": $cands, "queries": ${bruteCos.size}}""")
        }
      }
      }
      // ---- the integer-IVF family (v11/v11b's route, round 15;
      // probe sweep round 16): recall@3 of the IVF-candidates +
      // exact-float-rerank recipe vs the same brute cosine truth,
      // swept over nProbe in {1, 2, 4} — probe=1 is the own-cell
      // bound (recall limited by how often true neighbors share the
      // quantizer cell), higher probes trade ~linear candidate growth
      // for recall (the v11c lever; RECALL_r16.json's frontier). The
      // fixed-16 config (the v11 oracle tier) runs only at bounded
      // corpora: its per-cell occupancy grows linearly with the
      // corpus (193× wall at 100×).
      if (families("ivf")) {
        val n = emb.count()
        val cfgs = for {
          c <- (if (n <= 50000L) Seq(16) else Seq.empty) :+ 0
          pr <- Seq(1, 2, 4)
        } yield (c, pr)
        cfgs.foreach { case (c, pr) =>
          val wall = (0 until iters).map { _ =>
            // each timed run starts cache-cold (ADVICE r16) by
            // building a FRESH index inside the timed region and
            // RELEASING it after (VERDICT r17 #6: explicit handles,
            // not clearCache — the ladder now leaks nothing)
            System.gc(); Thread.sleep(50)
            val t0 = System.nanoTime()
            val ixT = operators.Similarity.intIvfIndex(
              emb, col("vec_id"), col("embedding"), c)
            operators.Similarity.intIvfRerankFromBuild(
              emb, col("vec_id"), col("embedding"), ixT.fin, ixT.cents,
              k = 3, isQuery = isQ, nProbe = pr)
              .queryExecution.toRdd.count()
            val w = (System.nanoTime() - t0) / 1e9
            ixT.release()
            w
          }.min
          // ONE untimed build serves BOTH the recall collect and the
          // candidate count (ADVICE r16: previously each pass re-ran
          // and re-persisted its own build)
          val ix = operators.Similarity.intIvfIndex(
            emb, col("vec_id"), col("embedding"), c)
          val (fin, cents) = (ix.fin, ix.cents)
          val got = topSets(operators.Similarity.intIvfRerankFromBuild(
            emb, col("vec_id"), col("embedding"), fin, cents, k = 3,
            isQuery = isQ, nProbe = pr))
          val hits = got.iterator.map { case (q, ns) =>
            (ns & bruteCos.getOrElse(q, Set.empty)).size
          }.sum
          val recall = hits.toDouble / denomCos
          // candidate pairs from the SAME build + probe the timed plan
          // uses: probed query cells joined to corpus rows sharing one
          val qc = operators.Similarity.intIvfProbe(fin, cents, isQ, pr)
            .select(col("vid").as("qid"), col("cell"))
          val cc = fin.select(col("vid").as("cid"), col("cell"))
          val cands = qc.join(cc, Seq("cell"))
            .where(col("qid") =!= col("cid"))
            .select("qid", "cid").distinct().count()
          val cells = if (c > 0) c else operators.Similarity.autoIvfCells(n)
          val lbl = s"ivf cells=$cells probe=$pr" + (if (c <= 0) " (auto)" else "")
          println(s"""{"recall":{"sf":"$base","family":"ivf","cells":$cells,"probe":$pr,""" +
            s""""auto":${c <= 0},"recall3":${fmt(recall)},"wall":${fmt(wall)},""" +
            s""""cands":$cands,"queries":${bruteCos.size}}}""")
          out.update(s"$base$qtag $lbl",
            s"""{"recall3": ${fmt(recall)}, "wall": ${fmt(wall)}, """ +
              s""""cands": $cands, "queries": ${bruteCos.size}}""")
          ix.release()
        }
      }
      // ---- IVFADC (v16's route; 8-bit codebooks + the v16b serving
      // composition since round 18): recall@3 of the coarse-cells +
      // stride-trained residual-PQ + asymmetric-distance recipe vs the
      // same brute cosine truth, over the probe knob — this quantifies
      // what the M-byte residual code costs ON TOP of the candidate
      // generation (compare each probe row to the ivf family's: same
      // candidate pool, exact-rerank vs ADC ranking). Two rows per
      // probe: the pure ADC ranking (v16, k*=256) and the ADC top-32
      // shortlist finished by the exact float rerank (v16b) — the
      // serving pattern whose recall ceiling is P(true top-3 ∈ ADC
      // top-32).
      if (families("adc")) {
        val adcCfgs: Seq[(String, Int, operators.Similarity.IvfIndex => DataFrame)] =
          Seq(1, 2, 4).flatMap { pr =>
            Seq(
              (s"ivfadc k=256 probe=$pr", pr,
                (ix: operators.Similarity.IvfIndex) =>
                  operators.Similarity.ivfAdcFromIndex(ix,
                    m = 8, subDim = 8, kCodes = 256, topK = 3,
                    isQuery = isQ, nProbe = pr,
                    trainTarget = operators.Similarity.AdcTrainTarget)),
              (s"ivfadc+rerank k=256 R=32 probe=$pr", pr,
                (ix: operators.Similarity.IvfIndex) =>
                  operators.Similarity.ivfAdcRerankFromIndex(ix, emb,
                    col("vec_id"), col("embedding"),
                    m = 8, subDim = 8, kCodes = 256, shortlist = 32, topK = 3,
                    isQuery = isQ, nProbe = pr,
                    trainTarget = operators.Similarity.AdcTrainTarget,
                    shortlistFrac = 0)),
              // the catalog's v16b composition since round 19: R
              // derived per query as max(32, ceil(pool/frac)) — the
              // row that must recover the semb10 collapse (RECALL_r18:
              // fixed R=32 fell to 0.165 at 200k where probed IVF held
              // 0.874; the fraction, not the constant, is the lever)
              (s"ivfadc+rerank k=256 R=auto(frac=${operators.Similarity.AdcShortlistFrac}) probe=$pr", pr,
                (ix: operators.Similarity.IvfIndex) =>
                  operators.Similarity.ivfAdcRerankFromIndex(ix, emb,
                    col("vec_id"), col("embedding"),
                    m = 8, subDim = 8, kCodes = 256, shortlist = 32, topK = 3,
                    isQuery = isQ, nProbe = pr,
                    trainTarget = operators.Similarity.AdcTrainTarget,
                    shortlistFrac = operators.Similarity.AdcShortlistFrac)))
          } :+
          // the shortlist knob at the default probe: R fixes the ADC
          // filter's pass-through, so its recall ceiling is
          // P(true top-3 ∈ ADC top-R) — one wider-R row locates the
          // serving frontier beyond the fixed R=32 tier
          ((s"ivfadc+rerank k=256 R=128 probe=${operators.Similarity.IvfAutoProbe}",
            operators.Similarity.IvfAutoProbe,
            (ix: operators.Similarity.IvfIndex) =>
              operators.Similarity.ivfAdcRerankFromIndex(ix, emb,
                col("vec_id"), col("embedding"),
                m = 8, subDim = 8, kCodes = 256, shortlist = 128, topK = 3,
                isQuery = isQ, nProbe = operators.Similarity.IvfAutoProbe,
                trainTarget = operators.Similarity.AdcTrainTarget,
                shortlistFrac = 0)))
        adcCfgs.foreach { case (lbl0, pr, mk) =>
          val wall = (0 until iters).map { _ =>
            // cache-cold per iteration via build-and-release (the ivf
            // family's protocol — no clearCache anywhere in the ladder)
            System.gc(); Thread.sleep(50)
            val t0 = System.nanoTime()
            val ixT = operators.Similarity.intIvfIndex(
              emb, col("vec_id"), col("embedding"), 0)
            mk(ixT).queryExecution.toRdd.count()
            val w = (System.nanoTime() - t0) / 1e9
            ixT.release()
            w
          }.min
          val ix = operators.Similarity.intIvfIndex(
            emb, col("vec_id"), col("embedding"), 0)
          val got = topSets(mk(ix))
          ix.release()
          val hits = got.iterator.map { case (q, ns) =>
            (ns & bruteCos.getOrElse(q, Set.empty)).size
          }.sum
          val recall = hits.toDouble / denomCos
          val cells = operators.Similarity.autoIvfCells(emb.count())
          val lbl = s"$lbl0 cells=$cells (auto)"
          val rr = lbl0.contains("rerank")
          println(s"""{"recall":{"sf":"$base","family":"ivfadc","kCodes":256,""" +
            s""""rerank":$rr,"cells":$cells,"probe":$pr,""" +
            s""""recall3":${fmt(recall)},"wall":${fmt(wall)},"queries":${bruteCos.size}}}""")
          out.update(s"$base$qtag $lbl",
            s"""{"recall3": ${fmt(recall)}, "wall": ${fmt(wall)}, """ +
              s""""queries": ${bruteCos.size}}""")
        }
      }
    }
    sys.env.get("SPARK_GRAFT_RECALL_OUT").foreach { path =>
      val body = out.map { case (k, v) => s"""  "$k": $v""" }
        .mkString("{\n", ",\n", "\n}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body + "\n")
      println(s"[recall] wrote $path")
    }
    spark.stop()
  }
}
