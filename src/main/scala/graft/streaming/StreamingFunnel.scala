package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming ordered-funnel — the w4 per-user step-prefix analysis as
  * an INGEST-TIME fold. Per user the state is one timestamp per step
  * (earliest QUALIFYING completion, -1 = not reached) plus an event
  * counter: constant-size, funnel-depth-bounded — the batch twin's
  * user-partition sort never happens.
  *
  * The fold is greedy and still exact because events arrive in
  * ascending-ts order per user (the same contract the batch RANGE
  * frame encodes): step-0 times only shrink, and a step-i event at
  * `ts` qualifies iff `mins(i-1) != -1 && mins(i-1) < ts` — the
  * strict `<` reproduces the batch operator's strictly-earlier frame,
  * so same-timestamp events can never qualify on each other no matter
  * how a tie is ordered inside a batch.
  *
  * Each batch emits one snapshot row per TOUCHED user (output ∝
  * activity, not ∝ users — the st8 delta-emission rule); `nSeen` is
  * monotone per user, so readers take the max-nSeen row per user and
  * the final snapshot equals the batch recompute (st20 hash-matches
  * w4's SQL oracle).
  */
object StreamingFunnel {

  /** One event; `step` is the funnel-step index, -1 = not a step (the
    * event still counts toward `nSeen` so every user surfaces).
    */
  final case class FunnelEvent(userId: Long, tsUs: Long, step: Int)

  final case class FunnelState(mins: Seq[Long], nSeen: Long)

  final case class FunnelOut(userId: Long, nSeen: Long, mins: Seq[Long])

  implicit private val stateEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
  implicit private val outEnc: Encoder[FunnelOut] = Encoders.product[FunnelOut]

  def funnel(events: Dataset[FunnelEvent], nSteps: Int): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.userId, Some(Ordering.by(e => (e.tsUs, e.step)))) {
      (user: Long, prior: Option[FunnelState], rows: Iterator[FunnelEvent]) =>
        val cur = prior.getOrElse(FunnelState(Seq.fill(nSteps)(-1L), 0L))
        val mins = cur.mins.toArray
        var seen = cur.nSeen
        rows.foreach { e =>
          seen += 1
          if (e.step == 0) {
            if (mins(0) < 0 || e.tsUs < mins(0)) mins(0) = e.tsUs
          } else if (e.step > 0 && e.step < nSteps &&
            mins(e.step - 1) >= 0 && mins(e.step - 1) < e.tsUs) {
            if (mins(e.step) < 0 || e.tsUs < mins(e.step)) mins(e.step) = e.tsUs
          }
        }
        val next = FunnelState(mins.toSeq, seen)
        (Some(next), Iterator.single(FunnelOut(user, seen, next.mins)))
    }
  }
}
