package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources & sinks (SURVEY.md §2.1, S1-S12): the reference's file
  * contracts re-expressed as Spark readers/writers. Parsers are pure
  * functions over document chunks, so the same code path serves
  * `spark.read`-based scans, embedded fixtures, and streaming sources.
  */
object Sources {

  // ------------------------------------------------------------ S1
  /** Canonical mention record (FIXTURES.md §1; producer union of the
    * five preprocessors, e.g. `scripts/preprocess_medmentions.py:124-133`).
    */
  val mentionSchema: StructType = StructType(Seq(
    StructField("left_context", StringType),
    StructField("mention", StringType),
    StructField("right_context", StringType),
    StructField("entity_id", StringType),
    StructField("type", ArrayType(StringType)),
    StructField("category", StringType),
    StructField("document_id", StringType),
    StructField("document_index", LongType),
    StructField("mention_index", LongType),
    StructField("date", StringType)))

  /** S1 — JSONL mention reader; line order is stream order
    * (`meercat/baseline.py:76-83`). `date` parses dd/MM/yyyy.
    */
  def readMentionsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(mentionSchema).json(path)
      .withColumn("date", to_date(col("date"), "dd/MM/yyyy"))

  // ------------------------------------------------------------ S2
  /** One PubTator mention: character offsets into title+abstract
    * (`meercat/medmentions.py:9-15`).
    */
  final case class PubMention(start: Int, end: Int, text: String,
                              semanticTypes: Seq[String], entityId: String)
  final case class PubDocument(pmid: String, title: String, abstract_ : String,
                               mentions: Seq[PubMention])

  /** Parse one blank-line-separated PubTator chunk
    * (`meercat/medmentions.py:26-53`): `pmid|t|title`, `pmid|a|abstract`,
    * then TSV mention rows.
    */
  def parsePubTatorChunk(chunk: String): Option[PubDocument] = {
    val lines = chunk.split("\n").filter(_.nonEmpty)
    if (lines.length < 2) return None
    val Array(pmid, _, title) = lines(0).split("\\|", 3)
    val abstractText = lines(1).split("\\|", 3).last
    val mentions = lines.drop(2).toSeq.map { l =>
      val f = l.split("\t")
      PubMention(f(1).toInt, f(2).toInt, f(3), f(4).split(",").toSeq, f(5))
    }
    Some(PubDocument(pmid, title, abstractText, mentions))
  }

  /** S2 — PubTator file scan: blank-line record separator handled by the
    * line-sep option, parsing distributed via flatMap.
    */
  def readPubTator(spark: SparkSession, path: String): Dataset[PubDocument] = {
    import spark.implicits._
    spark.read.option("lineSep", "\n\n").text(path)
      .as[String].flatMap(parsePubTatorChunk _)
  }

  /** Fixture entry point: parse PubTator documents from one string. */
  def pubTatorFromString(spark: SparkSession, content: String): Dataset[PubDocument] = {
    import spark.implicits._
    spark.createDataset(content.split("\n\n").toSeq).flatMap(parsePubTatorChunk _)
  }

  // ------------------------------------------------------------ S3
  final case class AidaMention(entityId: String, start: Int, end: Int)
  final case class AidaDocument(docId: String, text: String, mentions: Seq[AidaMention])

  /** Parse one `-DOCSTART- (docid)`-headed CoNLL-TSV chunk
    * (`scripts/preprocess_aida_yago2.py:25-64`): rebuild text from
    * tokens (space-joined), BIO tags → char spans.
    */
  def parseAidaChunk(chunk: String): Option[AidaDocument] = {
    // reproduce Python file-line iteration: every "\n"-terminated
    // segment is a line; a trailing segment without newline is one too
    val rawLines = chunk.split("\n", -1).toIndexedSeq
    val lines = if (chunk.endsWith("\n")) rawLines.dropRight(1) else rawLines
    if (lines.isEmpty) return None
    val header = lines.head
    val docId = "\\(([^)]*)\\)".r.findFirstMatchIn(header).map(_.group(1)).getOrElse(return None)
    val sb = new StringBuilder
    val mentions = scala.collection.mutable.ArrayBuffer.empty[AidaMention]
    // Blank lines STAY in the body (`preprocess_aida_yago2.py:36-41`):
    // each is an empty token that appends nothing but still counts
    // toward the remaining-line space rule below, so sentence breaks
    // become double spaces exactly like the reference.
    val body = lines.tail.map(_.trim)
    body.zipWithIndex.foreach { case (line, i) =>
      val split = line.split("\t")
      val token = split(0)
      val bio = if (split.length > 1) Some(split(1)) else None
      val entity = if (split.length > 3) Some(split(3)) else None
      if (bio.contains("B")) mentions += AidaMention(entity.getOrElse(""), sb.length, -1)
      sb.append(token)
      if (bio.exists(b => b == "B" || b == "I") && mentions.nonEmpty) {
        val last = mentions.remove(mentions.length - 1)
        mentions += last.copy(end = sb.length)
      }
      // Reference quirk (`preprocess_aida_yago2.py:45-46`): the space is
      // appended only while MORE THAN ONE line remains (blank lines
      // included in the count), so the last two tokens of a document
      // with no trailing blank line are glued together. Mirrored.
      if (i < body.length - 2) sb.append(' ')
    }
    Some(AidaDocument(docId, sb.toString, mentions.toSeq))
  }

  /** S3 — AIDA CoNLL scan: whole-file read, split on -DOCSTART-. */
  def readAida(spark: SparkSession, path: String): Dataset[AidaDocument] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path).as[String]
      .flatMap(aidaChunks _).flatMap(parseAidaChunk _)
  }

  def aidaChunks(content: String): Seq[String] =
    content.split("(?=-DOCSTART-)").toSeq.filter(_.contains("-DOCSTART-"))

  def aidaFromString(spark: SparkSession, content: String): Dataset[AidaDocument] = {
    import spark.implicits._
    spark.createDataset(aidaChunks(content)).flatMap(parseAidaChunk _)
  }

  // ------------------------------------------------------------ S5
  final case class EcbMention(leftContext: String, mention: String,
                              rightContext: String, entityId: String)

  /** Parse one ECB+ XML document (`scripts/preprocess_ecbplus.py:83-123`):
    * tokens by t_id, markables (ACT/NEG and empty mentions dropped,
    * `:73-80`), relations as entity ids; mentions restricted to gold
    * sentences when provided. Token indices are 1-based.
    */
  def parseEcbPlusXml(xml: String, goldSentences: Option[Set[String]] = None): Seq[EcbMention] = {
    val root = scala.xml.XML.loadString(xml)
    val tokens = (root \ "token").map { t =>
      ((t \@ "t_id"), ((t \@ "sentence"), t.text))
    }
    val tokenById = tokens.toMap
    val fullText = tokens.map(_._2._2)
    val markables = (root \ "Markables").flatMap(_.child).collect {
      case m: scala.xml.Elem =>
        (m \@ "m_id") -> ((m.label, (m \ "token_anchor").map(_ \@ "t_id")))
    }.toMap
    val relations = (root \ "Relations").flatMap(_.child).collect {
      case r: scala.xml.Elem => (r \@ "r_id", r.child.collect { case c: scala.xml.Elem => c \@ "m_id" })
    }
    relations.flatMap { case (rId, mIds) =>
      mIds.flatMap { mId =>
        markables.get(mId).toSeq.collect {
          case (tag, tids) if !tag.contains("ACT") && !tag.contains("NEG") && tids.nonEmpty =>
            val sentStart = tokenById(tids.head)._1
            val sentEnd = tokenById(tids.last)._1
            if (goldSentences.forall(g => g.contains(sentStart) && g.contains(sentEnd))) {
              val startIdx = tids.head.toInt - 1
              val endIdx = tids.last.toInt
              Some(EcbMention(
                fullText.take(startIdx).mkString(" "),
                fullText.slice(startIdx, endIdx).mkString(" "),
                fullText.drop(endIdx).mkString(" "),
                rId))
            } else None
        }.flatten
      }
    }
  }

  def ecbPlusFromString(spark: SparkSession, xml: String,
                        goldSentences: Option[Set[String]] = None): Dataset[EcbMention] = {
    import spark.implicits._
    spark.createDataset(Seq(xml)).flatMap(x => parseEcbPlusXml(x, goldSentences))
  }

  // ------------------------------------------------------------ S4/J1
  /** S4 — Zeshel two-file reader as the equi-join it really is
    * (`scripts/preprocess_zeshel.py:15-76`): mentions resolve their
    * context document (tokens + category) and their label document
    * (title = entity id); every distinct label document additionally
    * yields one "entity row" whose mention is the title and whose right
    * context is the text minus the first title occurrence. Instances are
    * sorted by category and numbered (`:72-75`); ties are broken by
    * (document_id, start) for determinism — the reference relies on
    * Python's stable sort and input order.
    *
    * `documents`: (document_id, title, text, category);
    * `mentions`: (context_document_id, label_document_id, start_index,
    * end_index) — token indices, end inclusive.
    */
  def zeshelMentions(documents: DataFrame, mentions: DataFrame): DataFrame = {
    val ctx = documents.select(
      col("document_id").as("cdoc"), split(col("text"), " ").as("ctoks"), col("category").as("ccat"))
    val lbl = documents.select(col("document_id").as("ldoc"), col("title").as("ltitle"))
    val mentionRows = mentions
      .join(broadcast(ctx), col("context_document_id") === col("cdoc"))
      .join(broadcast(lbl), col("label_document_id") === col("ldoc"))
      .select(
        concat_ws(" ", slice(col("ctoks"), lit(1), col("start_index"))).as("left_context"),
        concat_ws(" ", slice(col("ctoks"), col("start_index") + 1,
          col("end_index") - col("start_index") + 1)).as("mention"),
        concat_ws(" ", slice(col("ctoks"), col("end_index") + 2,
          greatest(size(col("ctoks")) - col("end_index") - 1, lit(0)))).as("right_context"),
        col("ltitle").as("entity_id"),
        col("ccat").as("category"),
        col("context_document_id").as("document_id"),
        col("start_index").as("_ord"))
    val entityRows = mentions.select(col("label_document_id").as("document_id")).distinct()
      .join(documents, "document_id")
      .select(
        lit("").as("left_context"),
        col("title").as("mention"),
        // text.replace(title, '', 1).strip()
        trim(when(locate_title > 0,
          concat(expr("substring(text, 1, locate(title, text) - 1)"),
            expr("substring(text, locate(title, text) + length(title))")))
          .otherwise(col("text"))).as("right_context"),
        col("title").as("entity_id"),
        col("category"),
        col("document_id"),
        lit(-1).as("_ord"))
    import org.apache.spark.sql.expressions.Window
    mentionRows.unionByName(entityRows)
      .withColumn("mention_index",
        row_number().over(Window.orderBy(col("category"), col("document_id"), col("_ord"))) - 1)
      .drop("_ord")
  }

  private def locate_title = expr("locate(title, text)")

  // ------------------------------------------------------------ S6
  /** S6 — KILT/BLINK projector (`scripts/preprocess_kilt.py:19-46`):
    * pure nested projection meta.{left_context,mention,right_context} +
    * output[0].answer.
    */
  def projectKilt(df: DataFrame): DataFrame =
    df.select(
      col("meta.left_context").as("left_context"),
      col("meta.mention").as("mention"),
      col("meta.right_context").as("right_context"),
      col("output")(0)("answer").as("entity_id"))

  // ------------------------------------------------------------ S7/S8
  /** S7 — embedding TSV reader (`uid \t entity \t v0 … v_{d-1}`,
    * `meercat/nn_thresh.py:159-174`). The width comes from the first
    * line; a line of any other width fails the read instead of being
    * truncated or padded with nulls.
    */
  def readEmbeddingsTsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("sep", "\t").option("mode", "FAILFAST").csv(path)
    val vecCols = raw.columns.drop(2)
    raw.select(
      col(raw.columns(0)).cast("long").as("uid"),
      col(raw.columns(1)).as("entity_id"),
      array(vecCols.toIndexedSeq.map(c => col(c).cast("float")): _*).as("embedding"))
  }

  /** S8 — embedding TSV writer (`meercat/embed.py:119-124`). */
  def writeEmbeddingsTsv(df: DataFrame, uid: String, entity: String, vec: String,
                         dim: Int, path: String): Unit = {
    val cols = col(uid) +: col(entity) +:
      (0 until dim).map(i => element_at(col(vec), i + 1).cast("string"))
    df.select(concat_ws("\t", cols: _*).as("value"))
      .write.mode("overwrite").text(path)
  }

  // ------------------------------------------------------------ S9
  /** S9 — entity-vocab CSV: `entity,count` descending with a [PAD] first
    * row (`scripts/preprocess_medmentions.py:69-75`, `utils.py:53-75`).
    */
  def writeVocabCsv(vocab: DataFrame, path: String): Unit = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val pad = Seq(("[PAD]", 0L)).toDF("entity", "cnt")
    pad.unionAll(vocab.select(col("entity").cast("string"), col("cnt").cast("long")))
      .coalesce(1)
      .select(concat_ws(",", col("entity"), col("cnt")).as("value"))
      .write.mode("overwrite").text(path)
  }

  def readVocabCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", ",").csv(path)
      .toDF("entity", "cnt")
      .select(col("entity"), col("cnt").cast("long"))

  // ------------------------------------------------------------ S10
  /** S10 — cluster-pairs CSV sink: `true, pred` per row in stream order
    * (`meercat/nn_thresh.py:192-194`), one file.
    *
    * One exchange into one partition, then a local sort: a global
    * `orderBy` would first run a range-sampling job over `df`, which
    * evaluates the whole upstream plan (a clustering fold) once more
    * before the write evaluates it again.
    */
  def writeClusterPairs(df: DataFrame, trueCol: String, predCol: String,
                        order: String, path: String): Unit =
    df.repartition(1).sortWithinPartitions(col(order))
      .select(concat_ws(", ", col(trueCol), col(predCol)).as("value"))
      .write.mode("overwrite").text(path)

  // declared schema: no inference job; a line without two fields fails the read
  def readClusterPairs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("true_id string, pred_id string").option("mode", "FAILFAST").csv(path)
      .select(trim(col("true_id")).as("true_id"), trim(col("pred_id")).as("pred_id"))

  // ------------------------------------------------------------ S11
  /** S11 — dendrogram TSV (`uid \t parent \t label`, parent/label 'None'
    * for null — `meercat/grinch_alg.py:597-610`).
    */
  def writeDendrogramTsv(tree: DataFrame, path: String): Unit =
    tree.coalesce(1)
      .select(concat_ws("\t",
        col("uid"),
        coalesce(col("parent_uid"), lit("None")),
        coalesce(col("label"), lit("None"))).as("value"))
      .write.mode("overwrite").text(path)

  def readDendrogramTsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").csv(path)
      .toDF("uid", "parent_uid", "label")
      .select(col("uid"),
        when(col("parent_uid") === "None", lit(null)).otherwise(col("parent_uid")).as("parent_uid"),
        when(col("label") === "None", lit(null)).otherwise(col("label")).as("label"))

  // ------------------------------------------------------------ S12
  /** S12 — per-document enrichment boundary (the reference's PubMed
    * esummary HTTP call, `scripts/preprocess_medmentions.py:81-97`).
    * Network is out of scope here: the fetch is a pluggable pure
    * function applied per partition (rate limiting, batching and retry
    * live in the caller-supplied closure); the default is a
    * deterministic stub.
    */
  def enrichDates(df: DataFrame, idCol: String,
                  fetch: String => String = pmid => f"01/01/${2000 + (pmid.hashCode & 15)}%d"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val enriched = df.select(col(idCol).cast("string")).distinct().as[String]
      .mapPartitions(_.map(id => (id, fetch(id))))
      .toDF(idCol, "date")
    df.join(enriched, idCol)
  }
}
