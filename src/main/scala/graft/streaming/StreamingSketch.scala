package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming deterministic HyperLogLog — the k2 sketch as an
  * INGEST-TIME operator: per-key state is exactly the 64 registers
  * (BOUNDED, the whole point of sketching a stream — counting distinct
  * users exactly would need unbounded per-key state), merged by
  * max-per-register, which is order- and batching-independent, so the
  * final streamed estimate equals the batch k2 computation bit-for-bit
  * and st10 hash-matches the same SQL oracle.
  *
  * Events carry the pre-mixed mod-p hash (the k2 affine+quadratic
  * rounds, computed relationally upstream); the register math here
  * replays the batch formulas exactly: rho = 25 − bitlength(v), the
  * 2^−reg fold runs in bucket order, and the linear-counting branch
  * uses the same `math.log` values the batch side embeds as literals.
  */
object StreamingSketch {

  /** One observation: `hv` is the k2 mod-p mixed hash of the member. */
  final case class HashEvent(key: String, hv: Long)

  /** Keyed state: the m registers + a batch step counter. */
  final case class Registers(regs: Seq[Long], step: Long)

  /** Per-batch estimate snapshot for `key` (readers take max step). */
  final case class Estimate(step: Long, key: String, hllEst: Double)

  implicit private val stateEnc: Encoder[Registers] = Encoders.product[Registers]
  implicit private val outEnc: Encoder[Estimate] = Encoders.product[Estimate]

  /** One keyed increment (a Count-Min cell id `d*w + c`, or a plain
    * entity id for exact running counts).
    */
  final case class IncEvent(cell: Long)

  /** Keyed running count + batch step. */
  final case class CellCount(count: Long, step: Long)

  /** Per-batch snapshot of a TOUCHED cell (readers take max step per
    * cell — untouched cells never re-emit, so output volume per batch
    * is bounded by the increments in the batch, not the key space).
    */
  final case class CellSnapshot(step: Long, cell: Long, count: Long)

  implicit private val ccEnc: Encoder[CellCount] = Encoders.product[CellCount]
  implicit private val csEnc: Encoder[CellSnapshot] = Encoders.product[CellSnapshot]

  /** Streaming keyed increment counters — the Count-Min grid as an
    * ingest-time operator (st17): per-cell state is ONE long (the grid
    * is bounded by d×w regardless of stream length — the point of the
    * sketch), and counter addition is order- and batching-independent,
    * so the final streamed grid equals the batch k3 build cell-for-cell
    * and the twin hash-matches the same SQL oracle. The same operator
    * keyed by entity id gives exact per-key running counts (st9-style
    * bounded-per-key state), which st17 uses for k3's calibration
    * column.
    */
  def runningCounts(events: Dataset[IncEvent]): Dataset[CellSnapshot] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.cell) { (cell: Long, prior: Option[CellCount], rows: Iterator[IncEvent]) =>
      val n = prior.map(_.count).getOrElse(0L) + rows.size
      val step = prior.map(_.step).getOrElse(0L) + 1
      (Some(CellCount(n, step)), Iterator(CellSnapshot(step, cell, n)))
    }
  }

  def hllDistinct(events: Dataset[HashEvent], m: Int = 64): Dataset[Estimate] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.key) { (key: String, prior: Option[Registers], rows: Iterator[HashEvent]) =>
      val regs = prior.map(_.regs.toArray).getOrElse(Array.fill(m)(0L))
      rows.foreach { e =>
        // floorMod: hv is non-negative by the feed's mod-P contract,
        // but a stray negative hash must not index regs out of bounds
        val b = java.lang.Math.floorMod(e.hv, m.toLong).toInt
        val v = e.hv / m
        // = the batch side's 25 - length(bin(v)) (bin has no leading zeros)
        val rho = if (v > 0) 25L - (64 - java.lang.Long.numberOfLeadingZeros(v)) else 25L
        if (rho > regs(b)) regs(b) = rho
      }
      val step = prior.map(_.step).getOrElse(0L) + 1
      // bucket-order fold of exact powers of two — same order as the
      // batch aggregate over the bucket-sorted register array
      val sInv = regs.foldLeft(0.0)((acc, r) => acc + math.pow(2.0, -r.toDouble))
      val raw = 0.709 * (m * m).toDouble / sInv
      val zeroes = regs.count(_ == 0L)
      val est =
        if (raw <= 2.5 * m && zeroes > 0) m.toDouble * math.log(m.toDouble / zeroes)
        else raw
      (Some(Registers(regs.toSeq, step)), Iterator(Estimate(step, key, est)))
    }
  }

  /** One observation for the sliding-window sketch (w6's streaming
    * twin): HLL bucket + event day + rho contribution.
    */
  final case class DayRhoEvent(bucket: Long, day: Long, rho: Long)

  /** Per-bucket state: the CURRENT day and its running register —
    * two longs, constant per bucket (the trailing-window union stays a
    * relational window over the bounded days × buckets relation, the
    * same build/assemble split the batch w6 uses at scale).
    */
  final case class DayReg(day: Long, reg: Long)

  final case class DayRegOut(day: Long, bucket: Long, reg: Long)

  /** st24 — per-(day, bucket) register maintenance as an ingest-time
    * fold under the day-ascending contract: register values per
    * (day, bucket) are emitted monotonically (max-merge downstream),
    * at most one row per (bucket, day) per micro-batch — delta
    * emission, not state dumps.
    */
  def dailyRegisters(events: Dataset[DayRhoEvent]): Dataset[DayRegOut] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.bucket, Some(Ordering.by(_.day))) {
      (bucket: Long, prior: Option[DayReg], rows: Iterator[DayRhoEvent]) =>
        var cur = prior.getOrElse(DayReg(Long.MinValue, 0L))
        val perDay = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        rows.foreach { e =>
          // fail fast on a day regression across batches (rows are
          // day-sorted, so only a batch's first row can fail): silently
          // max-merging a late old-day rho into the NEWER day's register
          // would inflate that day's estimate and drop the old day's —
          // the ingest contract (day-ascending) must hold loudly
          require(e.day >= cur.day,
            s"dailyRegisters: day ${e.day} for bucket $bucket arrived after day ${cur.day} " +
              "— the day-ascending ingest contract is violated")
          if (e.day > cur.day) cur = DayReg(e.day, e.rho)
          else cur = DayReg(cur.day, math.max(cur.reg, e.rho))
          perDay.update(cur.day, cur.reg)
        }
        (Some(cur), perDay.iterator.map { case (d, r) => DayRegOut(d, bucket, r) })
    }
  }
}
