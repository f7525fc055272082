package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming sessionization — the w2 gap-based session assignment as an
  * INGEST-TIME operator. Session ids are PREFIX-STABLE: an event's id is
  * the count of gap-starts before it in its user's timeline, so once
  * emitted it never changes — append-mode streaming needs no retraction
  * and the streamed assignment equals the batch window recompute row for
  * row (st9 hash-matches w2's SQL oracle).
  *
  * Keyed state per user is two longs (last event time, current session
  * index) — constant size, unlike the batch window which must sort the
  * partition. Events must arrive in (ts, event_id) order per user, the
  * same contract the batch window's ORDER BY encodes; an event earlier
  * than its user's stored last event time fails the query.
  */
object StreamingSessions {

  /** One event; `order` is the (ts, id)-rank used to sort within a batch. */
  final case class SessionEvent(userId: Long, eventId: Long, ts: Long)

  /** Per-user state: time of the user's previous event + running index. */
  final case class SessionState(lastTs: Long, sessionIdx: Long)

  final case class SessionOut(eventId: Long, userId: Long, sessionId: Long)

  implicit private val stateEnc: Encoder[SessionState] = Encoders.product[SessionState]
  implicit private val outEnc: Encoder[SessionOut] = Encoders.product[SessionOut]

  def sessionize(events: Dataset[SessionEvent], gapNs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.userId, Some(Ordering.by(e => (e.ts, e.eventId)))) {
      (user: Long, prior: Option[SessionState], rows: Iterator[SessionEvent]) =>
        var cur = prior.getOrElse(SessionState(Long.MinValue, -1L))
        val out = rows.map { e =>
          // rows are ts-sorted, so only a batch's first row can fail this
          require(e.ts >= cur.lastTs,
            s"sessionize: ts ${e.ts} for user $user arrived after ts ${cur.lastTs} " +
              "— the ts-ascending ingest contract is violated")
          if (cur.sessionIdx < 0 || e.ts - cur.lastTs > gapNs)
            cur = SessionState(e.ts, cur.sessionIdx + 1)
          else
            cur = SessionState(e.ts, cur.sessionIdx)
          SessionOut(e.eventId, user, cur.sessionIdx)
        }.toList
        (Some(cur), out.iterator)
    }
  }
}
