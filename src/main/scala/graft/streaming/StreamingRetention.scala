package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming cohort retention — the w5 activation/retention matrix as
  * an INGEST-TIME operator: per-user state is TWO longs (the cohort
  * day and a bitmask of day offsets already counted), and each batch
  * emits one (cohort_day, day_offset) hit per NEWLY seen offset per
  * user — emission ∝ changes (the st8 delta-emission discipline), and
  * a plain count over the sink equals the batch w5 matrix, so st22
  * hash-matches the same SQL oracle.
  *
  * Preconditions (the harness's contract, same as st9/st20): events
  * arrive ts-ascending, so a user's first-ever event fixes the cohort
  * day, and an event dated before its user's cohort day fails the
  * query. The bitmask bounds the tracked window at 63 offsets — ample
  * for the 30-day retention matrices pipelines report, and an offset
  * past it fails too rather than going uncounted (batch w5 counts every
  * offset); a longer horizon would swap the mask for a bounded sorted
  * Seq without changing the operator shape.
  */
object StreamingRetention {

  /** One observation: user was active on `day` (integer day number). */
  final case class DayEvent(userId: Long, day: Long)

  /** Keyed state: cohort day + bitmask of already-emitted offsets. */
  final case class UserDays(cohortDay: Long, mask: Long)

  /** One newly-counted (cohort, offset) cell hit. */
  final case class OffsetHit(cohortDay: Long, dayOffset: Long)

  implicit private val stEnc: Encoder[UserDays] = Encoders.product[UserDays]
  implicit private val outEnc: Encoder[OffsetHit] = Encoders.product[OffsetHit]

  def cohortOffsets(events: Dataset[DayEvent]): Dataset[OffsetHit] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.userId) { (user: Long, prior: Option[UserDays], rows: Iterator[DayEvent]) =>
      val evs = rows.toArray
      val st0 = prior.getOrElse(UserDays(evs.iterator.map(_.day).min, 0L))
      var mask = st0.mask
      val fresh = Array.newBuilder[OffsetHit]
      evs.foreach { e =>
        val off = e.day - st0.cohortDay
        require(off >= 0,
          s"cohortOffsets: day ${e.day} for user $user precedes its cohort day ${st0.cohortDay} " +
            "— the ts-ascending ingest contract is violated")
        require(off < 63,
          s"cohortOffsets: day ${e.day} for user $user is $off days past its cohort day " +
            s"${st0.cohortDay} — beyond the 63-offset bitmask")
        val bit = 1L << off
        if ((mask & bit) == 0L) { mask |= bit; fresh += OffsetHit(st0.cohortDay, off) }
      }
      (Some(UserDays(st0.cohortDay, mask)), fresh.result().iterator)
    }
  }
}
