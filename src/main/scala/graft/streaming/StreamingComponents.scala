package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.operators.MinRootUnionFind

/** Streaming connected components — duplicate-group assembly (d7) as an
  * INGEST-TIME operator: verified near-dup pair events fold into a keyed
  * union-find, so the canonical-document map stays current as a corpus
  * lands instead of re-running the batch label propagation.
  *
  * Union by MIN ROOT ([[MinRootUnionFind]], shared with the batch
  * operator's small-graph route): merging always reparents the larger
  * root onto the smaller, so a component's representative is its
  * minimum node id — exactly the batch operator's
  * (`Dedup.connectedComponents`) canonical choice, and
  * ORDER-INDEPENDENT: whatever order edges arrive in, the final
  * assignment equals the batch result, which is why st8 hash-matches
  * d7's recursive-CTE oracle.
  *
  * Each micro-batch emits a DELTA stamped with a step counter: only
  * first-seen nodes and nodes whose root changed in the batch (append
  * mode can't retract: a later edge may merge two existing components
  * and relabel nodes, so readers take the max-step row per node — the
  * same convention as the streaming GRINCH query, and it is exactly
  * delta-compatible: a node's newest row is the last time its root
  * changed). Emission volume is therefore ∝ changes, not ∝ graph —
  * at a billion-node duplicate graph over thousands of micro-batches,
  * re-emitting the full assignment per batch would be the scale
  * bottleneck, not the state. Changed nodes are found without any
  * full-graph scan: state keeps a per-root member index, and a
  * min-root union moves exactly the absorbed root's members (their
  * root is what changed; the surviving root's members keep theirs).
  * State is one parent pointer per node of the PAIR GRAPH (duplicate
  * docs only, not the corpus) plus the member index (each node appears
  * in exactly one root's list — still O(nodes)). Min-root union cannot
  * union by size, so an adversarial merge order moves a big member
  * list repeatedly — but every move IS an emission the old shape would
  * have made anyway (plus re-emitting the whole unchanged rest), so
  * delta emission is never worse and is ∝ changes on the typical
  * small-duplicate-group graph. The `key` field partitions independent
  * graphs (shards/datasets); one key = one global graph.
  */
object StreamingComponents {

  /** One undirected pair event; `seq` orders arrivals within a batch. */
  final case class EdgeEvent(key: Long, seq: Long, a: Long, b: Long)

  /** Keyed state: parent pointers (roots map to themselves), members
    * per current root (the delta-emission index), and a batch step
    * counter.
    */
  final case class UfState(parent: Map[Long, Long], members: Map[Long, Seq[Long]],
                           step: Long)

  /** One node's assignment as of `step`. */
  final case class NodeComp(step: Long, node: Long, comp: Long)

  implicit private val stateEnc: Encoder[UfState] = Encoders.product[UfState]
  implicit private val outEnc: Encoder[NodeComp] = Encoders.product[NodeComp]

  /** One micro-batch fold: prior state + edge events → (new state,
    * delta rows). Pulled out of the stream closure so the delta
    * contract is property-testable without a streaming harness.
    */
  private[graft] def applyBatch(prior: Option[UfState], batch: Seq[EdgeEvent])
    : (UfState, Seq[NodeComp]) = {
    val uf = new MinRootUnionFind(prior.fold(Map.empty[Long, Long])(_.parent))
    val members = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    prior.foreach { s =>
      s.members.foreach { case (r, ms) =>
        members(r) = mutable.ArrayBuffer.from(ms)
      }
    }
    // nodes whose assignment is new or changed this batch
    val touched = mutable.HashSet.empty[Long]
    def add(x: Long): Unit = if (uf.add(x)) {
      members(x) = mutable.ArrayBuffer(x)
      touched += x
    }
    batch.sortBy(_.seq).foreach { e =>
      add(e.a)
      add(e.b)
      uf.union(e.a, e.b).foreach { case (winner, loser) =>
        // the absorbed root's members are EXACTLY the nodes whose
        // root changes — no scan over the surviving component
        val moved = members.remove(loser).get
        touched ++= moved
        members(winner) ++= moved
      }
    }
    val step = prior.map(_.step).getOrElse(0L) + 1
    val next = UfState(uf.parents, members.view.mapValues(_.toSeq).toMap, step)
    (next, touched.toSeq.sorted.map(n => NodeComp(step, n, uf.find(n))))
  }

  def connectedComponents(events: Dataset[EdgeEvent]): Dataset[NodeComp] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.key) { (_: Long, prior: Option[UfState], rows: Iterator[EdgeEvent]) =>
      val (next, out) = applyBatch(prior, rows.toSeq)
      (Some(next), out.iterator)
    }
  }
}
