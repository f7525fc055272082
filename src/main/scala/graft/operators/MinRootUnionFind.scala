package graft.operators

import scala.collection.mutable

/** Union-find over long node ids whose root is always the set's MIN
  * id: a union reparents the larger root onto the smaller, so every
  * node's root is its component's minimum whatever order the edges
  * arrive in. That is the canonical label of the batch label
  * propagation ([[Dedup.connectedComponents]]), which runs on this
  * structure below its edge cap, and of the streaming operator
  * ([[graft.streaming.StreamingComponents]]). Min-root union cannot
  * union by size; path compression keeps the finds short.
  *
  * Driver-side and single-threaded: one instance per call or per
  * micro-batch fold.
  */
private[graft] final class MinRootUnionFind(initial: collection.Map[Long, Long] = Map.empty) {
  private val parent = mutable.HashMap.from(initial)

  /** Every node seen so far. */
  def nodes: collection.Set[Long] = parent.keySet

  /** Parent pointers (roots map to themselves), as a snapshot. */
  def parents: Map[Long, Long] = parent.toMap

  /** Adds `x` as a singleton set; false if it was already present. */
  def add(x: Long): Boolean =
    if (parent.contains(x)) false else { parent(x) = x; true }

  /** The root (min id) of `x`'s set; `x` must have been added. */
  def find(x: Long): Long = {
    var r = x
    while (parent(r) != r) r = parent(r)
    // path compression: re-walk and point everything at the root
    var c = x
    while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
    r
  }

  /** Adds both nodes and merges their sets. Returns the (surviving,
    * absorbed) roots, or None when they were already one set.
    */
  def union(a: Long, b: Long): Option[(Long, Long)] = {
    add(a)
    add(b)
    val ra = find(a)
    val rb = find(b)
    if (ra == rb) None
    else {
      val (winner, loser) = if (ra < rb) (ra, rb) else (rb, ra)
      parent(loser) = winner
      Some((winner, loser))
    }
  }
}
