package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Streaming ANN lookup — v14's sign-prefix bucketed Hamming search as
  * an INGEST-TIME operator and the catalog's stream-STATIC join shape:
  * query vectors stream in, sign-encode map-side (the same SignCode
  * expression as the batch path), join the static pre-bucketed corpus
  * on the prefix bucket (stateless — Spark re-broadcasts/rescans the
  * static side per micro-batch), and each query's candidates rank to
  * top-k the moment they arrive.
  *
  * State is ONE boolean per query (a seen-guard): because the static
  * side is complete, a query's candidate set is whole within its own
  * micro-batch, so top-k emits immediately and never needs revision —
  * append mode without retraction. A query id re-delivered in a later
  * batch fails loudly (the guard), the same at-least-once contract
  * stance as StreamingPacking.
  *
  * Scale: corpus side carries 8 packed bytes + bucket per vector; the
  * join is bucket-keyed (linear in bucket occupancy, never n²); per-key
  * state is constant-size and the sort inside a group is one bucket's
  * candidates, not the corpus.
  */
object StreamingAnn {

  /** One query vector arriving on the stream. */
  final case class QueryEvent(qid: Long, vec: Array[Float])

  final case class AnnOut(queryId: Long, neighborId: Long, rank: Long, hamming: Long)

  implicit private val outEnc: Encoder[AnnOut] = Encoders.product[AnnOut]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong
  implicit private val candEnc: Encoder[(Long, Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
  implicit private val stateEnc: Encoder[Boolean] = Encoders.scalaBoolean

  /** Sign-code + prefix-bucket a corpus relation (id, vec) into the
    * static join side (cid, hi, lo, bucket).
    */
  def bucketCorpus(corpus: DataFrame, id: org.apache.spark.sql.Column,
                   vec: org.apache.spark.sql.Column, prefixBits: Int): DataFrame = {
    require(prefixBits >= 1 && prefixBits <= 32,
      s"prefixBits=$prefixBits must be in [1, 32]")
    corpus.select(id.cast("long").as("cid"),
      graft.functions.VectorFunctions.signCode(vec).as("code"))
      .select(col("cid"), col("code.hi").as("hi"), col("code.lo").as("lo"),
        shiftright(col("code.hi"), 32 - prefixBits).as("bucket"))
  }

  /** Per-query top-k by exact Hamming over the same-prefix-bucket
    * candidates. A query whose bucket holds no corpus neighbor emits NO
    * rows — consistent with v14's SQL (an empty candidate set ranks
    * nothing), but it makes "no output row" indistinguishable from "no
    * neighbors found" downstream; a consumer that must tell them apart
    * should left-join its query stream against this output (or raise
    * recall with the v14b multi-table route before streaming).
    */
  def hammingTopK(queries: Dataset[QueryEvent], corpus: DataFrame, k: Int,
                  prefixBits: Int): Dataset[AnnOut] = {
    require(k > 0, s"k=$k must be positive")
    val qcodes = queries.select(col("qid"),
      graft.functions.VectorFunctions.signCode(col("vec")).as("code"))
      .select(col("qid"), col("code.hi").as("qhi"), col("code.lo").as("qlo"),
        shiftright(col("code.hi"), 32 - prefixBits).as("bucket"))
    val cand = qcodes.join(corpus, Seq("bucket")).where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        expr("bit_count(qhi ^ hi) + bit_count(qlo ^ lo)").cast("long").as("hamming"))
      .as[(Long, Long, Long)]
    KeyedFold(cand)(_._1, Some(Ordering.by(t => (t._3, t._2)))) {
      (qid: Long, seen: Option[Boolean], rows: Iterator[(Long, Long, Long)]) =>
        require(seen.isEmpty,
          s"ann: query $qid arrived in more than one micro-batch — its candidate " +
            "set is complete within one batch against a static corpus, so a " +
            "re-delivery would emit a second, conflicting top-k")
        (Some(true), rows.take(k).zipWithIndex.map {
          case ((_, cid, h), i) => AnnOut(qid, cid, i + 1L, h)
        })
    }
  }
}
