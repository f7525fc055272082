package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.TextFunctions
import graft.operators._
import graft.operators.GreedyClustering.Params
import graft.sources.Sources

/** Command-line surface mirroring the reference's entry points, so a
  * streaming-cdc user can run the same workflows on the same file
  * formats (SURVEY §3 E1-E3 lifecycles):
  *
  *   preprocess-pubtator  ≙ scripts/preprocess_medmentions.py (flatten)
  *   preprocess-kilt      ≙ scripts/preprocess_kilt.py
  *   preprocess-zeshel    ≙ scripts/preprocess_zeshel.py
  *   preprocess-aida      ≙ scripts/preprocess_aida_yago2.py
  *   preprocess-ecbplus   ≙ scripts/preprocess_ecbplus.py
  *   embed                ≙ meercat/embed.py (deterministic hash encoder
  *                          standing in for the transformer)
  *   pretokenize          ≙ scripts/pretokenize_jsonl.py (P2 window +
  *                          S9 vocab labels; sub-word tokenizer
  *                          pluggable at the F4 boundary)
  *   nn-thresh            ≙ meercat/nn_thresh.py
  *   combo                ≙ meercat/combo.py
  *   string-match         ≙ meercat/string_match.py
  *   oracle-wd            ≙ meercat/oracle_wd.py
  *   grinch               ≙ meercat/cluster_w_grinch.py (pairs via
  *                          --threshold or bisection to the entity
  *                          count, `:21-34,57-65`; + write_tree)
  *   cut-tree             ≙ meercat/cut_tree.py
  *   dendrogram-purity    ≙ meercat/dendrogram_purity.py
  *   eval-clusters        ≙ meercat/eval_clusters.py (incl. --choice
  *                          seen|unseen with --train/--test)
  *   error-analysis       ≙ meercat/error_analysis.py
  *   max-active           ≙ meercat/max_active.py
  *
  * Usage: runMain graft.cli.Cli <command> [--flag value ...]
  */
object Cli {

  /** `--flag value` pairs plus bare boolean `--flag` (→ "true"); a
    * non-flag token with no preceding flag is rejected rather than
    * silently shifting the pairing.
    */
  def parseFlags(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
        go(tail, acc + (k.stripPrefix("--") -> v))
      case k :: tail if k.startsWith("--") =>
        go(tail, acc + (k.stripPrefix("--") -> "true"))
      case other :: _ =>
        throw new IllegalArgumentException(s"unexpected argument: $other")
      case Nil => acc
    }
    go(args.toList, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: <command> [--flag value ...]")
    val cmd = args.head
    val flags = parseFlags(args.tail)
    val spark = GraftSession.getOrCreate(s"graft-$cmd")
    try run(spark, cmd, flags)
    finally spark.stop()
  }

  /** Separated for tests (shared session). */
  def run(spark: SparkSession, cmd: String, flags: Map[String, String]): Unit = {
    def in = flags("input")
    def out = flags("output")
    cmd match {
      case "preprocess-pubtator" =>
        import spark.implicits._
        val flat = Sources.readPubTator(spark, in)
          .flatMap { d =>
            val text = d.title + " " + d.abstract_
            d.mentions.zipWithIndex.map { case (m, i) =>
              // mention from the text slice, not the annotation column
              // (preprocess_medmentions.py:126: text[start:end])
              (text.take(m.start), text.slice(m.start, m.end), text.drop(m.end),
                m.entityId, m.semanticTypes, d.pmid, i.toLong)
            }
          }
          .toDF("left_context", "mention", "right_context", "entity_id", "type",
            "document_id", "_doc_pos")
        // mention_index/document_index are GLOBAL stream counters
        // (preprocess_medmentions.py:118-137) — downstream commands use
        // mention_index as the unique uid and the stream sort key, so a
        // per-document index would collide across documents. Stream
        // order here is pmid order (the reference's is its date sort,
        // which needs the out-of-scope network enrichment). `type`
        // stays a JSON list, matching Sources.mentionSchema. Both
        // counters assign DISTRIBUTED (parallel sort + zipWithIndex /
        // first-seen dict ranks) — no partitionless window funnels the
        // stream through one task, the same fix as preprocess-aida.
        graft.operators.Relational.dictEncodeDistributed(
            graft.operators.Relational.globalRowIndex(
              flat, Seq(col("document_id"), col("_doc_pos")), "mention_index"),
            col("document_id"), col("document_id"), "document_index")
          .drop("_doc_pos")
          .coalesce(1).write.mode("overwrite").json(out)

      case "preprocess-kilt" =>
        Sources.projectKilt(spark.read.json(in))
          .coalesce(1).write.mode("overwrite").json(out)

      case "preprocess-zeshel" =>
        // scripts/preprocess_zeshel.py: the documents/mentions two-file
        // join; zeshelMentions reproduces the instance rows, the
        // entity rows and the category-sorted global mention_index.
        Sources.zeshelMentions(
          spark.read.json(flags("documents")), spark.read.json(flags("mentions")))
          .coalesce(1).write.mode("overwrite").json(out)

      case "preprocess-aida" =>
        // scripts/preprocess_aida_yago2.py: CoNLL chunks in file order,
        // '--NME--' mentions dropped (:90-91), global mention_index
        // (the reference resets it per train/dev/test section and
        // writes three files; this single-file contract numbers the
        // whole stream).
        import spark.implicits._
        // Distributed chunking (no driver materialize): lineSep splits
        // the file into records AT each -DOCSTART- marker — the same
        // boundaries as aidaChunks' lookahead split, with the marker
        // consumed (re-prepended below so parseAidaChunk sees the
        // byte-identical header line). RDD zipWithIndex numbers records
        // in byte-offset order = file order, the same technique as
        // eval-clusters' mid; the ordinal only feeds the sort keys, so
        // the dropped empty pre-marker record shifting it by one is
        // immaterial.
        val aidaMentions = spark.read.option("lineSep", "-DOCSTART-").textFile(in)
          .rdd.zipWithIndex()
          .flatMap { case (c, ord) =>
            Sources.parseAidaChunk("-DOCSTART-" + c).toSeq.flatMap { d =>
              d.mentions.zipWithIndex.collect {
                case (m, i) if m.entityId != "--NME--" =>
                  (d.text.take(m.start), d.text.slice(m.start, m.end), d.text.drop(m.end),
                    m.entityId, d.docId, ord, i.toLong)
              }
            }
          }
          .toDF("left_context", "mention", "right_context", "entity_id",
            "document_id", "_doc_ord", "_m_ord")
        // global mention numbering WITHOUT the partitionless window
        // (Exchange SinglePartition): parallel range sort + per-
        // partition zipWithIndex offsets, reused from eval-clusters.
        graft.operators.Relational
          .globalRowIndex(aidaMentions, Seq(col("_doc_ord"), col("_m_ord")), "mention_index")
          .drop("_doc_ord", "_m_ord")
          .coalesce(1).write.mode("overwrite").json(out)

      case "preprocess-ecbplus" =>
        // scripts/preprocess_ecbplus.py: XML corpus scan with the
        // optional gold-sentence CSV restriction ('{Topic}_{File}.xml'
        // keys, :135-143); files absent from a provided CSV are skipped
        // like the reference's gold-driven iteration.
        import spark.implicits._
        val gold: Map[String, Set[String]] = flags.get("gold-csv").map { path =>
          spark.read.option("header", "true").csv(path).collect()
            .groupBy(r => s"${r.getAs[String]("Topic")}_${r.getAs[String]("File")}.xml")
            .view.mapValues(_.map(_.getAs[String]("Sentence Number")).toSet).toMap
        }.getOrElse(Map.empty)
        val goldB = spark.sparkContext.broadcast(gold)
        spark.read.option("wholetext", "true").text(in)
          .select(input_file_name().as("fname"), col("value"))
          .as[(String, String)]
          .flatMap { case (fname, xml) =>
            val base = fname.split("/").last
            val g = goldB.value
            if (g.nonEmpty && !g.contains(base)) Nil
            else Sources.parseEcbPlusXml(xml, g.get(base))
              .map(m => (m.leftContext, m.mention, m.rightContext, m.entityId, base))
          }
          .toDF("left_context", "mention", "right_context", "entity_id", "document_id")
          .coalesce(1).write.mode("overwrite").json(out)

      case "embed" =>
        val dim = flags.getOrElse("dim", "64").toInt
        val mentions = spark.read.json(in)
        val df = mentions.select(
          col("mention_index").cast("long").as("uid"),
          col("entity_id"),
          TextFunctions.hashEmbed(TextFunctions.tokens(col("mention")), dim).as("embedding"))
        Sources.writeEmbeddingsTsv(df, "uid", "entity_id", "embedding", dim, out)

      case "pretokenize" =>
        // scripts/pretokenize_jsonl.py:8-14: JSONL mention rows →
        // fixed-length token windows + entity-vocab labels
        // (utils.ELDataset.from_jsonl → _encode_mention, utils.py:80-106).
        // The sub-word tokenizer is the F4 model boundary (a HF
        // WordPiece there) — the pluggable stand-in is the same
        // whitespace tokenizer `embed` uses; everything around it is
        // the reference's exact accounting: P2 centered window with
        // slack redistribution, [E_START]/[E_END] mention wrapping
        // (utils.py:18-19), [CLS]/[SEP] specials + max-length padding
        // with attention mask (encode_plus), and the S9 entity-vocab
        // label lookup (EntityTokenizer, utils.py:37-75).
        val maxLen = flags.getOrElse("max-len", "128").toInt
        val mentions = spark.read.json(in)
        // EntityTokenizer: label = vocab file-row position ([PAD] is
        // row 0). zipWithIndex preserves text-split order, so the idx
        // is the file order without a driver-side dictionary.
        val vocabRaw = Sources.readVocabCsv(spark, flags("entity-vocab"))
        val vocab = spark.createDataFrame(
          vocabRaw.select(col("entity")).rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row(r.getString(0), i)
          },
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_entity",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("label",
              org.apache.spark.sql.types.LongType, nullable = false))))
        // whitespace stand-in; tokenize("") must be [] (HF), not [""]
        def ws(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(length(trim(c)) === 0, array().cast("array<string>"))
            .otherwise(split(trim(c), "\\s+"))
        val (lt, mt, rt) = (ws(col("left_context")), ws(col("mention")),
          ws(col("right_context")))
        // contextWindow budgets maxLen − (|mention|+2 markers) − 2
        // specials — the same context_size line as _encode_mention:88
        val (lk, rk) = Projections.contextWindow(lt, mt, rt, maxLen)
        val body = concat(lk, array(lit("[E_START]")), mt, array(lit("[E_END]")), rk)
        val withSpecials = concat(array(lit("[CLS]")), body, array(lit("[SEP]")))
        val kept = least(size(withSpecials), lit(maxLen))
        val padN = greatest(lit(maxLen) - size(withSpecials), lit(0))
        val padded = concat(slice(withSpecials, 1, maxLen),
          array_repeat(lit("[PAD]"), padN))
        val mask = concat(array_repeat(lit(1), kept), array_repeat(lit(0), padN))
        mentions
          .join(broadcast(vocab), col("entity_id") === col("_entity"), "left")
          .select(
            col("mention_index").cast("long").as("mention_index"),
            padded.as("input_tokens"),
            mask.as("attention_mask"),
            // the reference warns-and-appends on an unknown entity — a
            // driver-side vocab mutation with no distributed twin; the
            // engine fails loudly instead of silently renumbering
            when(col("label").isNull,
              raise_error(concat(lit("pretokenize: entity not in vocab: "),
                col("entity_id"))))
              .otherwise(col("label")).as("label"))
          .coalesce(1).write.mode("overwrite").json(out)

      case "nn-thresh" =>
        val emb = Sources.readEmbeddingsTsv(spark, in)
        val p = Params(
          strategy = flags.getOrElse("strategy", "backwards"),
          limit = flags.getOrElse("limit", "-1").toInt,
          threshold = flags.getOrElse("threshold", "0.76").toDouble,
          cosine = !flags.contains("dot-prod"))
        val clusters = GreedyClustering.clusterSorted(emb, col("uid"), col("embedding"), col("uid"), p)
        writePairs(spark, emb.select(col("uid"), col("entity_id")), clusters, out)

      case "string-match" =>
        val mentions = spark.read.json(in)
        val clustered = Relational.stringMatchCluster(mentions, col("mention"), col("mention_index"))
        Sources.writeClusterPairs(
          Relational.dictEncode(clustered, col("entity_id"), col("mention_index"), "true_id")
            .select(col("mention_index"), col("true_id"), col("pred_cluster")),
          "true_id", "pred_cluster", "mention_index", out)

      case "oracle-wd" =>
        val mentions = spark.read.json(in)
        val clustered = Relational.oracleWithinDoc(mentions, col("entity_id"), col("document_id"), col("mention_index"))
        Sources.writeClusterPairs(
          Relational.dictEncode(clustered, col("entity_id"), col("mention_index"), "true_id")
            .select(col("mention_index"), col("true_id"), col("pred_cluster")),
          "true_id", "pred_cluster", "mention_index", out)

      case "grinch" =>
        val emb = Sources.readEmbeddingsTsv(spark, in)
        val p = Grinch.Params(
          rotateCap = flags.getOrElse("rotate-cap", "100").toInt,
          graftCap = flags.getOrElse("graft-cap", "100").toInt,
          activeLeafLimit = flags.getOrElse("active-leaf-limit", "-1").toInt,
          // the reference CLI's default (`cluster_w_grinch.py:74`) —
          // only read when --active-leaf-limit makes pruning live.
          // NOTE: this default changed from "least_recent" to
          // "similarity" to match the reference; an invocation that
          // passes --active-leaf-limit without --pruning-strategy now
          // prunes by similarity where it previously pruned by recency
          pruningStrategy = flags.getOrElse("pruning-strategy", "similarity"),
          pruningThreshold = flags.get("pruning-threshold").map(_.toDouble)
            .getOrElse(Double.NaN))
        require(flags.contains("tree") || flags.contains("output"),
          "grinch requires --tree and/or --output")
        // `cluster_w_grinch.py:57-65`: flat clusters as "true, pred"
        // pairs — cut at --threshold, else bisect to the entity count
        // (only aggregated when the bisection actually needs it). One
        // automaton build serves both outputs.
        val cut = flags.get("output").map { _ =>
          val threshold = flags.get("threshold").map(_.toDouble)
          val target = if (threshold.isDefined) 0L
            else emb.agg(countDistinct(col("entity_id"))).collect()(0).getLong(0)
          (threshold, target)
        }
        val both = Grinch.dendrogramAndClusters(emb, col("uid"), col("embedding"),
          col("uid"), col("entity_id"), p, cut).persist()
        try {
          flags.get("tree").foreach { treePath =>
            Sources.writeDendrogramTsv(
              both.where(col("kind") === "node")
                .select(col("node_uid").as("uid"), col("parent_uid"), col("label")), treePath)
          }
          flags.get("output").foreach { outPath =>
            val pairs = both.where(col("kind") === "pair")
              .select(col("point_id").as("id"), col("pred_cluster"))
            val withTrue = Relational.dictEncode(
              emb.join(pairs, emb("uid") === pairs("id")),
              col("entity_id"), emb("uid"), "true_id")
            Sources.writeClusterPairs(withTrue, "true_id", "pred_cluster", "uid", outPath)
          }
        } finally both.unpersist()

      case "cut-tree" =>
        val nodes = Sources.readDendrogramTsv(spark, flags("dendrogram")).collect()
          .map(r => Trees.TreeNode(r.getString(0), Option(r.getString(1)), Option(r.getString(2)))).toSeq
        val emb = Sources.readEmbeddingsTsv(spark, flags("embeddings")).collect()
          .map(r => r.getLong(0).toString -> r.getSeq[Float](2).toArray).toMap
        val cut = Trees.cutTree(nodes, emb, flags("threshold").toDouble,
          dotProd = flags.contains("dot-prod"))
        import spark.implicits._
        val labels = nodes.collect { case t if t.label.isDefined => t.uid -> t.label.get }.toMap
        cut.toSeq.sortBy(_._1.toLong)
          .map { case (uid, c) => (labels.getOrElse(uid, uid), c.toLong) }
          .toDF("true_id", "pred_id")
          .coalesce(1)
          .select(concat_ws(", ", col("true_id"), col("pred_id")).as("value"))
          .write.mode("overwrite").text(out)

      case "dendrogram-purity" =>
        import spark.implicits._
        // --medmentions + --cluster-by: the reference's metadata joiner
        // (`dendrogram_purity.py:34-45,86-96`) — leaf labels come from
        // the chosen PubTator mention field, keyed on the mention uid
        // "<pmid>_<mentionIndex>". Routed through purityAuto so big
        // trees take the distributed roll-up instead of a driver fold.
        if (flags.contains("medmentions") != flags.contains("cluster-by"))
          throw new IllegalArgumentException(
            "--medmentions and --cluster-by must be given together")
        val tree = Sources.readDendrogramTsv(spark, flags("dendrogram"))
        val labeled = flags.get("medmentions") match {
          case Some(metaPath) =>
            val field = flags("cluster-by")
            require(field == "semantic_type" || field == "entity_id",
              s"--cluster-by must be semantic_type|entity_id, got: $field")
            val bySemType = field == "semantic_type"
            val meta = Sources.readPubTator(spark, metaPath)
              .flatMap(d => d.mentions.zipWithIndex.map { case (m, i) =>
                (s"${d.pmid}_$i", if (bySemType) m.semanticTypes.head else m.entityId)
              }).toDF("uid", "meta_label")
            // mention uids only ever name leaves, so a left join +
            // coalesce relabels exactly the reference's childless nodes
            tree.join(meta, Seq("uid"), "left")
              .select(col("uid"), col("parent_uid"),
                coalesce(col("meta_label"), col("label")).as("label"))
          case None => tree
        }
        println(f"Dendrogram Purity: ${Trees.purityAuto(labeled)}%.4f")

      case "eval-clusters" =>
        import spark.implicits._
        // --choice seen|unseen with --train/--test replays
        // eval_clusters.py:10-25,177-195: keep only pair lines whose
        // test mention's entity does (not) appear in the train set.
        // mid = LINE number of the pairs/test files (the reference's
        // enumerate), not mention_index — split files renumber.
        // fail fast on a typo'd invocation: --choice without both
        // --train and --test would otherwise silently score ALL mentions
        // while appearing to have filtered
        if (flags.contains("choice") && !(flags.contains("train") && flags.contains("test")))
          throw new IllegalArgumentException(
            "--choice requires both --train and --test")
        val pairs = (flags.get("train"), flags.get("test"), flags.get("choice")) match {
          case (Some(train), Some(test), Some(choice)) =>
            val trainEnts = spark.read.json(train).select(col("entity_id"))
            // mid assigned DISTRIBUTED: RDD zipWithIndex numbers rows in
            // partition order, which for a splittable text file is
            // byte-offset order = file line order — the same ids as the
            // reference's enumerate, without collecting the file to the
            // driver (the reference contract is one file per path; a
            // multi-file glob would concatenate in listing order)
            val testMids = spark.read.textFile(test).rdd.zipWithIndex()
              .map { case (l, i) => (i, l) }.toDF("mid", "line")
              .select(col("mid"), get_json_object(col("line"), "$.entity_id").as("entity_id"))
            val allowed = (choice match {
              case "seen" => Relational.seen(testMids, trainEnts, "entity_id")
              case "unseen" => Relational.unseen(testMids, trainEnts, "entity_id")
              case other =>
                throw new IllegalArgumentException(s"--choice must be seen|unseen, got: $other")
            }).select(col("mid"))
            spark.read.textFile(in).rdd.zipWithIndex()
              .map { case (l, i) =>
                val p = l.split(","); (i, p(0).trim, p(1).trim)
              }.toDF("mid", "true_id", "pred_id")
              .join(broadcast(allowed), "mid")
              .select("true_id", "pred_id")
          case _ => Sources.readClusterPairs(spark, in)
        }
        val summary = Metrics.evalSummary(pairs, col("true_id"), col("pred_id")).collect().head
        Seq("muc_p", "muc_r", "muc_f1", "b3_p", "b3_r", "b3_f1",
          "ceafe_p", "ceafe_r", "ceafe_f1", "mean_f1").foreach { m =>
          println(f"$m%-10s ${summary.getAs[Double](m)}%.6f")
        }
        println(s"n_true_clusters ${summary.getAs[Long]("n_true_clusters")}")
        println(s"n_pred_clusters ${summary.getAs[Long]("n_pred_clusters")}")
        println(f"median_true_size ${summary.getAs[Double]("median_true_size")}%.1f")

      case "baseline" =>
        // E1 (meercat/baseline.py): char-bigram mention similarity
        // blended 0.8/0.2 with context similarity, greedy threshold
        // clustering. The blend is folded into ONE vector per mention:
        // concat(√w·m̂, √(1−w)·ĉ) of L2-normalized sub-embeddings, so a
        // raw dot product equals w·cos_mention + (1−w)·cos_context —
        // exactly the reference's score (baseline.py:40) without a
        // custom pair scorer.
        val w = flags.getOrElse("mention-weight", "0.8").toDouble
        val dim = flags.getOrElse("dim", "32").toInt
        val mentions = spark.read.json(in)
        val mEmb = graft.functions.VectorFunctions.l2Normalize(
          TextFunctions.hashEmbed(TextFunctions.charNgramHashesAsTokens(col("mention")), dim))
        val cEmb = graft.functions.VectorFunctions.l2Normalize(
          TextFunctions.hashEmbed(
            TextFunctions.tokens(concat_ws(" ", col("left_context"), col("right_context"))), dim, seed = 7L))
        val scaled = concat(
          transform(mEmb, x => (x * math.sqrt(w)).cast("float")),
          transform(cEmb, x => (x * math.sqrt(1 - w)).cast("float")))
        val encoded = mentions.select(
          col("mention_index").cast("long").as("uid"), col("entity_id"), scaled.as("embedding"))
        val p = Params(
          strategy = "backwards", limit = -1,
          threshold = flags.getOrElse("threshold", "0.76").toDouble,
          cosine = false) // dot of the concat IS the blended cosine
        // baseline.py:64-69 clusters with the UNMASKED scalar loop
        // (later rows relabel earlier ones), not the nn_thresh fold
        val clusters = GreedyClustering.clusterScalarSorted(
          encoded, col("uid"), col("embedding"), col("uid"), p)
        writePairs(spark, encoded.select(col("uid"), col("entity_id")), clusters, out)

      case "combo" =>
        // meercat/combo.py: w·(fitted char-bigram TF cosine) +
        // (1−w)·(precomputed embedding dot) greedy clustering. The
        // blend folds into one vector per mention — concat(√w·m,
        // √(1−w)·c) — so a raw dot reproduces combo's score matrix
        // row-for-row. --threshold clusters directly; otherwise the
        // reference's bisection targets #distinct entities.
        import org.apache.spark.ml.functions.vector_to_array
        val w = flags.getOrElse("weight", "0.5").toDouble
        val mentions = spark.read.json(in)
        val emb = Sources.readEmbeddingsTsv(spark, flags("embeddings"))
        val model = FeaturePipelines.charBigramTf("mention", "__mvec").fit(mentions)
        val mv = model.transform(mentions)
          .select(col("mention_index").cast("long").as("uid"), col("entity_id"),
            vector_to_array(col("__mvec")).cast("array<float>").as("mvec"))
        val joined = mv.join(emb.select(col("uid"), col("embedding").as("cvec")), "uid")
        val scaled = concat(
          transform(col("mvec"), x => (x * math.sqrt(w)).cast("float")),
          transform(col("cvec"), x => (x * math.sqrt(1 - w)).cast("float")))
        val encoded = joined.select(col("uid"), col("entity_id"), scaled.as("embedding")).persist()
        val p = Params(strategy = "backwards", limit = -1, cosine = false)
        // combo.py clusters with the UNMASKED scalar loop; its
        // find_threshold (combo.py:43-59) bisects over that same
        // clusterer (iteration-capped here — the reference's copy can
        // loop forever, SURVEY §7.4)
        def scalarAt(th: Double) = GreedyClustering.clusterScalarSorted(
          encoded, col("uid"), col("embedding"), col("uid"), p.copy(threshold = th))
        val theta = flags.get("threshold").map(_.toDouble).getOrElse {
          val target = encoded.agg(countDistinct(col("entity_id"))).collect().head.getLong(0)
          ClusterFold.bisect(encoded.count(), target, maxIters = 12) { th =>
            scalarAt(th).agg(countDistinct(col("pred_cluster"))).collect().head.getLong(0)
          }._1
        }
        writePairs(spark, encoded.select(col("uid"), col("entity_id")), scalarAt(theta), out)
        encoded.unpersist()

      case "split-unseen" =>
        // scripts/split_unseen.py: route test mentions by whether their
        // entity appears in train; prints the overlap percentage.
        val train = spark.read.json(flags("train"))
        val test = spark.read.json(flags("test"))
        val seen = Relational.seen(test, train.select(col("entity_id")), "entity_id")
        val unseen = Relational.unseen(test, train.select(col("entity_id")), "entity_id")
        seen.coalesce(1).write.mode("overwrite").json(flags("seen-output"))
        unseen.coalesce(1).write.mode("overwrite").json(flags("unseen-output"))
        val nSeen = seen.count(); val nTotal = test.count()
        println(f"Seen-entity mentions: $nSeen/$nTotal (${100.0 * nSeen / nTotal}%.1f%%)")

      case "max-active" =>
        val mentions = spark.read.json(in)
        val m = Relational.maxActive(mentions, col("entity_id"), col("mention_index"))
          .collect().head.getLong(0)
        println(s"Max active entities: $m")

      case "error-analysis" =>
        // meercat/error_analysis.py:41-126 — conflated/divided counts
        // plus the two worst clusters rendered as LaTeX example rows
        // (A5/a5b/a5c operators + the P5 escape/ellipsis helpers).
        import spark.implicits._
        val k = flags.getOrElse("examples", "5").toInt
        // pairs CSV line order IS the mention stream order (mid = line
        // number, error_analysis.py:27-31); driver-side line read is
        // the reference file contract, like cut-tree above
        val pairs = spark.read.textFile(flags("clusters")).collect().toSeq.zipWithIndex
          .map { case (l, i) =>
            val p = l.split(","); (i.toLong, p(0).trim, p(1).trim)
          }.toDF("mid", "true_id", "pred_id")
        val mentions = spark.read.json(flags("dataset"))
          .select(col("mention_index").cast("long").as("mid"),
            col("left_context"), col("mention"), col("right_context"), col("entity_id"))
        val df = pairs.join(mentions, "mid").persist()
        // pretty(mention) — error_analysis.py:34-39: escaped last-10 /
        // first-10 context tokens around an \emph'd mention
        val prettyCol = concat_ws(" ",
          concat(lit("\\ldots "),
            Projections.ellipsisLeft(Projections.latexEscape(col("left_context")), 10)),
          concat(lit("\\emph{"), Projections.latexEscape(col("mention")), lit("}")),
          concat(Projections.ellipsisRight(Projections.latexEscape(col("right_context")), 10),
            lit(" \\ldots")))
        val cd = Relational.conflatedDivided(df, col("true_id"), col("pred_id"))
          .collect().head
        val nConf = cd.getAs[Long]("conflated")
        val nDiv = cd.getAs[Long]("divided")
        println(s"Num Entities: ${df.select(col("true_id")).distinct().count()}")
        println(s"Conflated Entities: $nConf")
        println(s"Split Entities: $nDiv")
        if (nDiv > 0) {
          println("Most Split")
          Relational.mostDividedExamples(df, col("true_id"), col("pred_id"), col("mid"), k)
            .select(prettyCol.as("line")).as[String].collect().foreach(println)
        }
        println()
        if (nConf > 0) {
          println("Most Conflated")
          // one example per distinct entity, first occurrence in stream
          // order, underscores to spaces (error_analysis.py:112-126)
          val rows = Relational.mostConflatedExamples(
              df, col("true_id"), col("pred_id"), col("mid"), Int.MaxValue)
            .select(regexp_replace(col("entity_id"), "_", " ").as("ent"), prettyCol.as("pr"))
            .collect()
          val seenEnts = scala.collection.mutable.Set.empty[String]
          rows.iterator.filter(r => seenEnts.add(r.getString(0))).take(k).foreach { r =>
            println(s"${r.getString(0)} & ${r.getString(1)} \\\\")
          }
        }
        df.unpersist()

      case other =>
        throw new IllegalArgumentException(s"unknown command: $other")
    }
  }

  /** Reference pairs contract: `true, pred` per mention in stream order,
    * true = dict-encoded gold entity (`meercat/nn_thresh.py:176-194`).
    */
  private def writePairs(spark: SparkSession, gold: DataFrame, clusters: DataFrame, out: String): Unit = {
    val joined = gold.join(clusters, gold("uid") === clusters("id"))
    val encoded = Relational.dictEncode(joined, col("entity_id"), col("uid"), "true_id")
      .select(col("uid"), col("true_id"), col("pred_cluster"))
    Sources.writeClusterPairs(encoded, "true_id", "pred_cluster", "uid", out)
  }
}
