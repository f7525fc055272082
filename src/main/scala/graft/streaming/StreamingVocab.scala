package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming twin of `Relational.dictEncode` — the reference's dynamic
  * entity vocabulary (`meercat/utils.py:46-51`): `EntityTokenizer`
  * APPENDS a fresh dense code the first time an unseen entity id is
  * looked up, so the vocabulary grows with the stream instead of being
  * derived per-run.
  *
  * One vocabulary per key: the keyed state is the entity→code map;
  * within a batch rows are ordered by `order`, so codes are assigned in
  * exact arrival order — identical to the batch dictEncode's
  * first-occurrence ranking on the same stream (pinned by
  * StreamingSpec). A single global vocabulary is key=const, the same
  * per-stream sequentiality as the reference's in-memory tokenizer;
  * scale-out = many independent vocabularies (shards) in parallel.
  * State is vocabulary-sized (dimension-sized in practice), not
  * stream-sized.
  */
object StreamingVocab {

  /** One lookup of a keyed entity stream. */
  final case class TokenEvent(key: Long, order: Long, entity: String)

  /** Keyed state: the grown vocabulary. */
  final case class VocabState(codes: Map[String, Long])

  /** One encoded row; `code` is stable once assigned. */
  final case class Encoded(key: Long, order: Long, entity: String, code: Long)

  implicit private val stateEnc: Encoder[VocabState] = Encoders.product[VocabState]
  implicit private val outEnc: Encoder[Encoded] = Encoders.product[Encoded]

  /** Apply to a streaming (or batch) Dataset[TokenEvent]; emits one
    * Encoded row per event in Append mode, growing each key's
    * vocabulary across micro-batches.
    */
  def dictEncode(events: Dataset[TokenEvent]): Dataset[Encoded] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.key, Some(Ordering.by(_.order))) {
      (key: Long, prior: Option[VocabState], rows: Iterator[TokenEvent]) =>
        val codes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        prior.foreach(s => codes ++= s.codes)
        val out = rows.map { e =>
          val code = codes.getOrElseUpdate(e.entity, codes.size.toLong)
          Encoded(key, e.order, e.entity, code)
        }.toList
        (Some(VocabState(codes.toMap)), out.iterator)
    }
  }
}
