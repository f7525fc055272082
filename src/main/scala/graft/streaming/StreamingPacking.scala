package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming sequence packing — p14's concat-and-chunk as an INGEST-TIME
  * operator: documents stream in and each is assigned its [tok_start,
  * tok_end) interval of its shard's concatenated token stream, plus the
  * seqLen-chunks it spans, the moment it arrives.
  *
  * Offsets are PREFIX-STABLE: a document's interval depends only on the
  * tokens packed before it in its shard, so append mode needs no
  * retraction and the streamed assignment equals the batch window
  * recompute row for row (st23 hash-matches p14's SQL oracle). Keyed
  * state per shard is ONE long (the running token offset) — constant
  * size, unlike the batch window which must sort the shard's rows.
  *
  * Order contract: documents must arrive in (hash, doc_id) order per
  * shard — the same total order the batch window's ORDER BY encodes
  * (the deterministic shuffled pack order). Within a micro-batch the
  * fold re-sorts; across batches the feed must be ascending, exactly
  * like st9's ts-ordered contract.
  */
object StreamingPacking {

  /** One document routed to `shard`; `h` is its seeded pack-order hash. */
  final case class PackEvent(shard: Long, docId: Long, h: Long, nTok: Long)

  /** Per-shard state: the running end-of-stream token offset plus the
    * last packed (h, docId) — the contract watermark that lets an
    * out-of-order arrival fail loudly instead of silently assigning an
    * offset that contradicts the batch order.
    */
  final case class PackState(tokEnd: Long, lastH: Long, lastId: Long)

  final case class PackOut(docId: Long, shard: Long, tokStart: Long,
                           tokEnd: Long, firstSeq: Long, lastSeq: Long)

  implicit private val stateEnc: Encoder[PackState] = Encoders.product[PackState]
  implicit private val outEnc: Encoder[PackOut] = Encoders.product[PackOut]

  def pack(events: Dataset[PackEvent], seqLen: Int): Dataset[PackOut] = {
    require(seqLen > 0, s"seqLen=$seqLen must be positive")
    import events.sparkSession.implicits._
    KeyedFold(events)(_.shard, Some(Ordering.by(e => (e.h, e.docId)))) {
      (shard: Long, prior: Option[PackState], rows: Iterator[PackEvent]) =>
        var cur = prior.getOrElse(PackState(0L, Long.MinValue, Long.MinValue))
        // fail fast on a contract violation across batches: an event
        // ordered BEFORE the last packed one would need an offset
        // that is already assigned. STRICTLY after — an exact
        // duplicate (same h, same docId, e.g. an at-least-once
        // redelivery in a later micro-batch) must fail loudly too,
        // or it would silently re-pack with a second, different
        // [tok_start, tok_end) interval and diverge from batch p14.
        val out = rows.map { e =>
          require(e.h > cur.lastH || (e.h == cur.lastH && e.docId > cur.lastId),
            s"pack: document ${e.docId} (h=${e.h}) for shard $shard arrived at-or-before " +
              s"(h=${cur.lastH}, id=${cur.lastId}) — the strictly-(hash, id)-ascending " +
              "ingest contract is violated (out-of-order arrival or duplicate redelivery)")
          val start = cur.tokEnd
          cur = PackState(start + e.nTok, e.h, e.docId)
          PackOut(e.docId, shard, start, cur.tokEnd,
            start / seqLen, math.max(start, cur.tokEnd - 1) / seqLen)
        }.toList
        (Some(cur), out.iterator)
    }
  }
}
