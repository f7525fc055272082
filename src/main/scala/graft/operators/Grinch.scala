package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C11-C19 — GRINCH online hierarchical clustering
  * (`/root/reference/meercat/grinch_alg.py`, itself adapted from
  * github.com/iesl/grinch, Apache 2.0).
  *
  * Semantics re-expressed in Scala, behavior-equivalent to the
  * reference's tree automaton:
  *  - insert = 1-NN over active leaves (cknn, `grinch_alg.py:213-237`) →
  *    rotate walk (`:239-257`) → splice a new parent (`:259-306`) →
  *    ancestor invalidation (`:188-191`) → graft (`:308-387`) → prune
  *    when over the active-leaf budget (`:389-413`)
  *  - incremental maintenance: per-node sums/centroids/descendant counts
  *    with dirty flags and memoized linkage scores, recomputed lazily
  *    top-down (`:472-509`, `:553-560`)
  *  - memory bound: `activeLeafLimit` + pruning strategy (most-similar /
  *    least-recent / combined, `:128-158`) — the paper's contribution
  *  - quirks preserved: the rotate loop's comparison score is computed
  *    against the original NN each iteration (`:252` recomputes
  *    e_score(gnode, sib) with an unchanged sib); pruned nodes keep
  *    their subtree sums while their descendant count resets to 1
  *    (`:399-404`); graft's argmax runs over the score matrix with
  *    disallowed cells zeroed (`:366-369`).
  *
  * One instance = one stream. Scale-out = many independent streams in
  * parallel partitions (the reference is likewise single-threaded per
  * stream, `scripts/run_grinch.sh:24`).
  */
final class Grinch(
    points: Array[Array[Float]],
    rotateCap: Int = 100,
    graftCap: Int = 100,
    sim: String = "dot",
    norm: String = "l2",
    activeLeafLimit: Int = -1,
    pruningStrategy: String = "least_recent",
    pruningThreshold: Double = Double.NaN) {

  val n: Int = points.length
  val dim: Int = if (n > 0) points(0).length else 0
  val maxNodes: Int = math.max(3 * n, 1) // 3n absorbs lazily-deleted graft parents
  private val leafLimit = if (activeLeafLimit < 0) n else activeLeafLimit

  private val sums = Array.ofDim[Float](maxNodes, dim)
  private val centroids = Array.ofDim[Float](maxNodes, dim)
  private val children = Array.fill(maxNodes)(mutable.ArrayBuffer.empty[Int])
  private val descendants = Array.fill(maxNodes)(mutable.ArrayBuffer.empty[Int])
  private val scores = Array.fill(maxNodes)(Double.NegativeInfinity)
  private val needsUpdateModel = new Array[Boolean](maxNodes)
  private val needsUpdateDesc = new Array[Boolean](maxNodes)
  private val parents = Array.fill(maxNodes)(-1)
  private val numDescendants = Array.fill(maxNodes)(-1.0)
  private val activeLeaves = new Array[Boolean](maxNodes)
  // sorted mirror of activeLeaves: cknn / prune / the budget check scan
  // O(active) ≤ leafLimit entries instead of every allocated node slot —
  // the difference between O(n·limit) and O(n²) per stream. Ascending
  // iteration preserves the reference's first-max (lowest id) tie-break.
  private val activeSet = mutable.TreeSet.empty[Int]
  private val firstUsed = new Array[Int](maxNodes)
  private var nextNodeId = n
  private var currentStep = 0
  /** Number of inserts whose rotate walk moved past the 1-NN leaf —
    * observability for specs that must prove a config actually
    * exercises the rotate path (`grinch_alg.py:239-257`).
    */
  private var rotateEvents = 0
  def rotations: Int = rotateEvents
  /** Number of performed grafts (`grinch_alg.py:373-381` branch taken)
    * — same observability role as [[rotations]].
    */
  private var graftEvents = 0
  def grafts: Int = graftEvents
  /** Number of performed prunes (`grinch_alg.py:389-413` collapses) —
    * same observability role as [[rotations]]: oracle configs (h8)
    * must prove the memory-bound path actually fired on their data.
    */
  private var pruneEvents = 0
  def prunes: Int = pruneEvents
  /** Raw parent codes for all allocated node slots (-1 root, -2 lazily
    * deleted) — lets specs compare full tree identity, including graft
    * detach codes, against a reference execution.
    */
  def rawParents: Array[Int] = parents.slice(0, nextNodeId)
  /** Stored descendant counts per allocated slot — specs assert these
    * stay conserved through rotate/graft surgery (the
    * `updatedFromChildren` ancestor chains, `grinch_alg.py:472-479`).
    */
  def rawNumDescendants: Array[Double] = numDescendants.slice(0, nextNodeId)
  /** Active-leaf mask per allocated slot — specs assert the final
    * memory-bounded frontier matches a reference execution
    * (`grinch_alg.py:402-407` flips these at every prune).
    */
  def rawActiveLeaves: Array[Boolean] = activeLeaves.slice(0, nextNodeId)

  // ---- similarity / centroid kernels (csim_* `:79-92`, centroids `:95-125`)

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var k = 0
    while (k < a.length) { s += a(k).toDouble * b(k).toDouble; k += 1 }
    s
  }

  private def csim(a: Array[Float], b: Array[Float]): Double = sim match {
    case "dot" => dot(a, b)
    case "l2" =>
      var s = 0.0; var k = 0
      while (k < a.length) { val d = a(k).toDouble - b(k).toDouble; s += d * d; k += 1 }
      1.0 / (1.0 + math.sqrt(s))
    case "sql2" =>
      var s = 0.0; var k = 0
      while (k < a.length) { val d = a(k).toDouble - b(k).toDouble; s += d * d; k += 1 }
      1.0 / (1.0 + s)
    case other => throw new IllegalArgumentException(s"unknown sim: $other")
  }

  private def computeCentroid(i: Int): Unit = {
    val c = centroids(i); val s = sums(i); val nd = numDescendants(i)
    var k = 0
    while (k < dim) { c(k) = (s(k) / nd).toFloat; k += 1 }
    norm match {
      case "l2" =>
        val nn = math.sqrt(dot(c, c))
        val divisor = if (nn > 0) nn else 1.0
        k = 0
        while (k < dim) { c(k) = (c(k) / divisor).toFloat; k += 1 }
      case "l_inf" =>
        var m = 0.0
        k = 0
        while (k < dim) { m = math.max(m, math.abs(c(k).toDouble)); k += 1 }
        if (m != 0) { k = 0; while (k < dim) { c(k) = (c(k) / m).toFloat; k += 1 } }
      case "none" => ()
      case other => throw new IllegalArgumentException(s"unknown norm: $other")
    }
  }

  // ---- core operations

  def buildDendrogram(): Unit = {
    var i = 0
    while (i < n) { insert(i); i += 1 }
  }

  /** `grinch_alg.py:166-202` */
  def insert(i: Int): Unit = {
    if (currentStep == 0) {
      addPt(i)
    } else {
      val nn = cknn(points(i), Set.empty, Set.empty) // before adding, to avoid self
      addPt(i)
      val sib = nn.map(findRotate(i, _)).getOrElse(i)
      if (sib != i) {
        val parent = nodeFromNodes(sib, i)
        makeSibling(sib, i, parent)
        var cur = parent
        while (cur != -1) { updatedFromChildren(cur); cur = parents(cur) }
        graft(parent)
      }
    }
    if (activeSet.size > leafLimit) prune()
    currentStep += 1
  }

  /** `grinch_alg.py:204-211` */
  private def addPt(i: Int): Unit = {
    Array.copy(points(i), 0, sums(i), 0, dim)
    numDescendants(i) = 1
    descendants(i) += i
    computeCentroid(i)
    firstUsed(i) = currentStep
    activeLeaves(i) = true
    activeSet += i
  }

  /** 1-NN among active leaves with off-limits masks (`:213-237`);
    * first-max (lowest id) on ties, None when everything is masked.
    */
  private def cknn(vec: Array[Float], off1: Set[Int], off2: Set[Int]): Option[Int] = {
    var best = -1
    var bestSim = Double.NegativeInfinity
    activeSet.foreach { k =>
      if (!off1.contains(k) && !off2.contains(k)) {
        val s = csim(vec, centroids(k))
        if (s > bestSim) { bestSim = s; best = k }
      }
    }
    if (best >= 0) Some(best) else None
  }

  /** `grinch_alg.py:239-257`; the comparison score is (quirk preserved)
    * the gnode↔original-NN score, constant through the walk.
    */
  private def findRotate(gnode: Int, sib: Int): Int = {
    var curr = sib
    val score = eScore(gnode, sib)
    var currParent = parents(curr)
    var currParentScore = if (currParent == -1) Double.NegativeInfinity else getScore(currParent)
    while (currParent != -1 && score < currParentScore && numDescendants(currParent) < rotateCap) {
      curr = currParent
      currParent = parents(curr)
      currParentScore = if (currParent == -1) Double.NegativeInfinity else getScore(currParent)
    }
    if (curr != sib) rotateEvents += 1
    curr
  }

  /** `grinch_alg.py:259-276` */
  private def nodeFromNodes(n1: Int, n2: Int): Int = {
    val id = nextNodeId
    require(id < maxNodes, "node budget exceeded")
    nextNodeId += 1
    needsUpdateModel(id) = true
    needsUpdateDesc(id) = true
    numDescendants(id) = numDescendants(n1) + numDescendants(n2)
    firstUsed(id) = currentStep
    id
  }

  /** `grinch_alg.py:278-306` — splice `parent` above `node`, adopting
    * `newSib`; a non-root newSib means this is a graft detach (its old
    * parent is lazily deleted with code -2).
    */
  private def makeSibling(node: Int, newSib: Int, parent: Int): Unit = {
    val sibParent = parents(newSib)
    if (sibParent != -1) {
      val sibGp = parents(sibParent)
      val oldSib = getSibling(newSib)
      parents(oldSib) = sibGp
      if (sibGp != -1) {
        children(sibGp) -= sibParent
        children(sibGp) += oldSib
      }
      children(sibParent).clear()
      parents(sibParent) = -2 // lazy deletion
    }
    val grandparent = parents(node)
    parents(parent) = grandparent
    if (grandparent != -1) {
      children(grandparent) -= node
      children(grandparent) += parent
    }
    children(parent) += node
    children(parent) += newSib
    parents(node) = parent
    parents(newSib) = parent
  }

  /** `grinch_alg.py:308-387` */
  private def graft(gnode: Int): Unit = {
    val off1 = getDescendants(gnode).toSet
    val off2: Set[Int] =
      if (parents(gnode) != -1) {
        val sib = getSibling(gnode)
        if (activeLeaves(sib)) Set(sib) else Set.empty
      } else Set.empty
    update(gnode)
    val nnOpt = cknn(centroids(gnode), off1, off2)
    if (nnOpt.isEmpty) return
    val oneNN = nnOpt.get
    val (_, this2anc, other2anc) = lcaAndAncestors(gnode, oneNN)
    if (this2anc.nonEmpty && other2anc.nonEmpty) {
      val m = this2anc.length
      val nn2 = other2anc.length
      val grafted = Array.ofDim[Double](m, nn2)
      val notILikeYou = Array.ofDim[Boolean](m, nn2)
      val notYouLikeMe = Array.ofDim[Boolean](m, nn2)
      val currParentScore = this2anc.map(x => getScore(parents(x)))
      val nnParentScore = other2anc.map(x => getScore(parents(x)))
      var r = 0
      while (r < m) {
        var c = 0
        while (c < nn2) {
          val s = eScore(this2anc(r), other2anc(c))
          grafted(r)(c) = s
          notILikeYou(r)(c) = s <= currParentScore(r)
          notYouLikeMe(r)(c) = s <= nnParentScore(c)
          if (notILikeYou(r)(c) || notYouLikeMe(r)(c)) grafted(r)(c) = 0.0 // masked, as `:366`
          c += 1
        }
        r += 1
      }
      // row-major first-max argmax, mirroring np.argmax on the flat array
      var bestR = 0; var bestC = 0; var bestV = Double.NegativeInfinity
      r = 0
      while (r < m) {
        var c = 0
        while (c < nn2) {
          if (grafted(r)(c) > bestV) { bestV = grafted(r)(c); bestR = r; bestC = c }
          c += 1
        }
        r += 1
      }
      if (!notILikeYou(bestR)(bestC) && !notYouLikeMe(bestR)(bestC)) {
        graftEvents += 1
        val best1 = this2anc(bestR)
        val best2 = other2anc(bestC)
        val bestPair2gp = parents(parents(best2))
        val parent = nodeFromNodes(best1, best2)
        makeSibling(best1, best2, parent)
        Seq(bestPair2gp, parents(gnode)).foreach { start =>
          var cur = start
          while (cur != -1 && cur != -2) { updatedFromChildren(cur); cur = parents(cur) }
        }
      }
    }
  }

  /** C16 — memory-bound prune (`grinch_alg.py:389-413`): among internal
    * nodes whose two children are both active leaves (candidates in
    * ascending id order, as np.unique sorts), collapse the victim's
    * children into it. The victim keeps its subtree sums but counts as a
    * single descendant afterwards (reference behavior).
    */
  private def prune(): Unit = {
    val counts = mutable.SortedMap.empty[Int, Int]
    activeSet.foreach { k =>
      if (parents(k) >= 0)
        counts.update(parents(k), counts.getOrElse(parents(k), 0) + 1)
    }
    val candidates = counts.iterator.collect { case (p, 2) => p }.toArray
    if (candidates.isEmpty) return // reference assumes non-empty; guard instead of crash
    val pruned = pruningStrategy match {
      case "least_recent" => candidates.minBy(firstUsed) // first min on ties
      case "similarity" =>
        var best = candidates(0); var bestS = Double.NegativeInfinity
        candidates.foreach { c => val s = getScore(c); if (s > bestS) { bestS = s; best = c } }
        best
      case "combined" =>
        require(!pruningThreshold.isNaN, "combined pruning needs a threshold")
        var best = candidates(0); var bestS = Double.NegativeInfinity
        candidates.foreach { c => val s = getScore(c); if (s > bestS) { bestS = s; best = c } }
        if (bestS > pruningThreshold) best else candidates.minBy(firstUsed)
      case other => throw new IllegalArgumentException(s"unknown pruning strategy: $other")
    }
    pruneEvents += 1
    if (needsUpdateModel(pruned)) singleUpdate(pruned)
    activeLeaves(pruned) = true
    activeSet += pruned
    numDescendants(pruned) = 1
    descendants(pruned).clear()
    descendants(pruned) += pruned
    children(pruned).foreach { c =>
      activeLeaves(c) = false; activeSet -= c; numDescendants(c) = -1
    }
    var cur = parents(pruned)
    while (cur != -1) { updatedFromChildren(cur); cur = parents(cur) }
  }

  // ---- lazy maintenance (`grinch_alg.py:415-509`)

  private def updateDesc(i: Int): Unit = {
    val needs = mutable.ArrayBuffer.empty[Int]
    val toCheck = mutable.Queue(i)
    while (toCheck.nonEmpty) {
      val cur = toCheck.dequeue()
      if (needsUpdateDesc(cur)) { needs += cur; children(cur).foreach(toCheck.enqueue) }
    }
    needs.reverseIterator.foreach(singleUpdateDesc)
  }

  private def singleUpdateDesc(i: Int): Unit = {
    descendants(i).clear()
    if (!activeLeaves(i)) {
      val kids = children(i)
      descendants(i) ++= descendants(kids(0))
      if (kids.length > 1) descendants(i) ++= descendants(kids(1))
    } else descendants(i) += i
    needsUpdateDesc(i) = false
  }

  private def getDescendants(i: Int): Seq[Int] = {
    if (needsUpdateDesc(i)) updateDesc(i)
    descendants(i).toSeq
  }

  /** `grinch_alg.py:455-470` */
  private def lcaAndAncestors(i: Int, j: Int): (Int, Array[Int], Array[Int]) = {
    if (i == j || parents(i) == -1) return (i, Array.empty, Array.empty)
    val thisAncList = getAncsWithSelf(i)
    val thisAnc = thisAncList.zipWithIndex.toMap
    val other2lca = mutable.ArrayBuffer.empty[Int]
    var cur = j
    while (!thisAnc.contains(cur)) { other2lca += cur; cur = parents(cur) }
    val this2lca = thisAncList.take(thisAnc(cur))
    (cur,
      this2lca.filter(numDescendants(_) < graftCap).toArray,
      other2lca.filter(numDescendants(_) < graftCap).toArray)
  }

  private def updatedFromChildren(i: Int): Unit = {
    val kids = children(i)
    numDescendants(i) = numDescendants(kids(0)) + numDescendants(kids(1))
    scores(i) = Double.NegativeInfinity
    needsUpdateModel(i) = true
    needsUpdateDesc(i) = true
  }

  private def update(i: Int): Unit = {
    val needs = mutable.ArrayBuffer.empty[Int]
    val toCheck = mutable.Queue(i)
    while (toCheck.nonEmpty) {
      val cur = toCheck.dequeue()
      if (needsUpdateModel(cur)) { needs += cur; children(cur).foreach(toCheck.enqueue) }
    }
    needs.reverseIterator.foreach(singleUpdate)
  }

  private def singleUpdate(i: Int): Unit = {
    val kids = children(i)
    numDescendants(i) = numDescendants(kids(0)) + numDescendants(kids(1))
    val s = sums(i); val a = sums(kids(0)); val b = sums(kids(1))
    var k = 0
    while (k < dim) { s(k) = a(k) + b(k); k += 1 }
    computeCentroid(i)
    needsUpdateModel(i) = false
  }

  private def eScore(i: Int, j: Int): Double = {
    if (needsUpdateModel(i)) update(i)
    if (needsUpdateModel(j)) update(j)
    csim(centroids(i), centroids(j))
  }

  /** memoized linkage score of an internal node (`:553-560`) */
  private def getScore(i: Int): Double = {
    if (i < 0) return Double.NegativeInfinity
    if (scores(i).isNegInfinity) {
      val kids = children(i)
      scores(i) = eScore(kids(0), kids(1))
    }
    scores(i)
  }

  private def getSibling(i: Int): Int = {
    val p = parents(i)
    children(p).find(_ != i).get
  }

  private def getAncsWithSelf(i: Int): List[Int] = {
    val out = mutable.ListBuffer(i)
    var cur = parents(i)
    while (cur != -1) { out += cur; cur = parents(cur) }
    out.toList
  }

  // ---- outputs

  def root(): Int = {
    var r = 0
    while (parents(r) != -1) r = parents(r)
    r
  }

  /** Leaves (original points) under `node`, including through pruned
    * subtrees (`grinch_alg.py:585-595`).
    */
  def clusterElements(node: Int): Seq[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    val frontier = mutable.Queue(node)
    while (frontier.nonEmpty) {
      val x = frontier.dequeue()
      if (children(x).isEmpty) out += x else children(x).foreach(frontier.enqueue)
    }
    out.toSeq
  }

  /** C18 — flat clustering by threshold cut (`grinch_alg.py:618-631`).
    * Returns a cluster index per point.
    */
  def flatClustering(threshold: Double): Array[Int] = {
    val frontier = mutable.Queue(root())
    val clusters = mutable.ArrayBuffer.empty[Int]
    while (frontier.nonEmpty) {
      val x = frontier.dequeue()
      if (children(x).nonEmpty && getScore(x) < threshold) children(x).foreach(frontier.enqueue)
      else clusters += x
    }
    val assign = Array.fill(n)(-1)
    clusters.zipWithIndex.foreach { case (c, idx) =>
      clusterElements(c).foreach(d => assign(d) = idx)
    }
    assign
  }

  /** S11 — the dendrogram as a parent-pointer relation
    * (`grinch_alg.py:597-610`): every point row plus non-deleted
    * internal nodes; parent -1 ⇒ None (root).
    */
  def treeNodes(labels: Int => Option[String]): Seq[Trees.TreeNode] = {
    val pts = (0 until n).map { i =>
      Trees.TreeNode(i.toString, if (parents(i) == -1) None else Some(parents(i).toString), labels(i))
    }
    val internal = (n until nextNodeId).collect {
      case j if parents(j) != -2 =>
        Trees.TreeNode(j.toString, if (parents(j) == -1) None else Some(parents(j).toString), None)
    }
    pts ++ internal
  }
}

/** Spark-facing GRINCH operators: single sorted stream per partition
  * (SURVEY §7.1 layer 6).
  */
object Grinch {

  final case class Params(
      rotateCap: Int = 100,
      graftCap: Int = 100,
      sim: String = "dot",
      norm: String = "l2",
      activeLeafLimit: Int = -1,
      pruningStrategy: String = "least_recent",
      pruningThreshold: Double = Double.NaN,
      /** Fail the build unless at least this many inserts rotated past
        * their 1-NN leaf — lets oracle configs (h7) prove the rotate
        * path was actually exercised on the data they ran over.
        */
      minRotations: Int = 0,
      /** Same contract for the memory-bound path: fail the build unless
        * at least this many prunes fired (h8's oracle row is only
        * meaningful if the data actually collapses leaves).
        */
      minPrunes: Int = 0,
      /** And for the graft path: h9's oracle row must prove the graft
        * search actually restructured the tree on its data.
        */
      minGrafts: Int = 0)

  /** Build a tree by inserting `points` in order — the automaton's only
    * construction path (also the streaming operator's replay restore).
    */
  def buildFrom(points: Array[Array[Float]], p: Params): Grinch = {
    val g = new Grinch(points, p.rotateCap, p.graftCap, p.sim, p.norm,
      p.activeLeafLimit, p.pruningStrategy, p.pruningThreshold)
    g.buildDendrogram()
    require(g.rotations >= p.minRotations,
      s"expected >= ${p.minRotations} rotate events on this data, saw ${g.rotations}")
    require(g.prunes >= p.minPrunes,
      s"expected >= ${p.minPrunes} prune events on this data, saw ${g.prunes}")
    require(g.grafts >= p.minGrafts,
      s"expected >= ${p.minGrafts} graft events on this data, saw ${g.grafts}")
    g
  }

  /** Flat clustering of one stream at `threshold`: (id, pred_cluster). */
  def flatCluster(df: DataFrame, id: Column, vec: Column, order: Column,
                  p: Params, threshold: Double): DataFrame =
    flatClusterAuto(df, id, vec, order, p, Some(threshold), target = 0L)

  /** The reference's bisection (`cluster_w_grinch.py:21-34`): cut the
    * already-built tree toward `target` clusters ([[ClusterFold.bisect]],
    * ≤ `maxIters` cuts) and return the last cut. Runs where the tree
    * lives. When no cut runs (n ≥ 1000·(target+1) satisfies the
    * tolerance up front, where the reference would crash on an unbound
    * variable), the tree is cut once at the returned θ = 0.5.
    */
  private def bisectCut(g: Grinch, n: Int, target: Long, maxIters: Int): Array[Int] = {
    val (t, _) = ClusterFold.bisect(n, target, maxIters)(t => g.flatClustering(t).distinct.length.toLong)
    g.flatClustering(t)
  }

  /** Flat clustering with the reference CLI's threshold handling
    * (`meercat/cluster_w_grinch.py:21-34,57-61`): build the tree ONCE,
    * then cut at `threshold` — or, when absent, bisect toward `target`
    * clusters. Only the cheap tree cut re-runs per bisection step,
    * never the build, and the whole search happens inside the
    * partition holding the tree — no extra jobs per iteration.
    */
  def flatClusterAuto(df: DataFrame, id: Column, vec: Column, order: Column,
                      p: Params, threshold: Option[Double], target: Long,
                      maxIters: Int = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ClusterFold.single[(Long, Array[Float], Long)](df, id, vec, order)
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val g = buildFrom(rows.map(_._2), p)
          val assign = threshold match {
            case Some(t) => g.flatClustering(t)
            case None => bisectCut(g, rows.length, target, maxIters)
          }
          rows.iterator.zipWithIndex.map { case ((rid, _, _), i) => (rid, assign(i).toLong) }
        }
      }
      .toDF("id", "pred_cluster")
  }

  /** Scale-out flat clustering: one independent GRINCH tree per key,
    * built in parallel partitions (key-partitioned sort, one automaton
    * per contiguous key run) — the same parallelism-across-streams story
    * as GreedyClustering.clusterByKey. Cluster ids are per-key indices.
    * Tree builds cost per key, not per byte, so the keyed prep keeps
    * one task per shuffle partition under AQE ([[ClusterFold.keyed]]).
    */
  def flatClusterByKey(df: DataFrame, key: Column, id: Column, vec: Column, order: Column,
                       p: Params, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ClusterFold.keyed[(Long, Long, Array[Float], Long)](df, key, id, vec, order)
      .mapPartitions { it =>
        ClusterFold.keyRuns(it)(_._1).flatMap { rows =>
          val assign = buildFrom(rows.map(_._3), p).flatClustering(threshold)
          rows.iterator.zipWithIndex.map { case ((k, rid, _, _), i) => (k, rid, assign(i).toLong) }
        }
      }
      .toDF("key", "id", "pred_cluster")
  }

  /** The dendrogram relation of one stream: (uid, parent_uid, label);
    * leaf uids are stream positions, labels joined from `label`.
    */
  def dendrogram(df: DataFrame, id: Column, vec: Column, order: Column, label: Column,
                 p: Params): DataFrame =
    dendrogramAndClusters(df, id, vec, order, label, p, clusters = None)
      .select(col("node_uid").as("uid"), col("parent_uid"), col("label"))

  /** One build, optionally two relations — the CLI's --tree + --output
    * path (`cluster_w_grinch.py` builds once; a naive twin would run
    * the O(n·limit) automaton twice). Rows tagged kind ∈ {node, pair},
    * with the two id spaces in two COLUMNS so no consumer can join the
    * wrong one: node → (node_uid, parent_uid, label) in automaton slot
    * indices (leaf slots = stream positions, internals above n), with
    * point_id/pred_cluster null; pair → (point_id, pred_cluster) in
    * the caller's original point ids, with the node columns null. The
    * cut comes from `clusters = Some((threshold, target))` — explicit
    * θ, or bisection toward `target` when None. With `clusters = None`
    * only node rows are emitted.
    */
  def dendrogramAndClusters(df: DataFrame, id: Column, vec: Column, order: Column,
                            label: Column, p: Params,
                            clusters: Option[(Option[Double], Long)],
                            maxIters: Int = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ClusterFold.single[(Long, Array[Float], Long, String)](df, id, vec, order, label.cast("string"))
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val g = buildFrom(rows.map(_._2), p)
          val nodes = g.treeNodes(i => Option(rows(i)._4)).iterator
            .map(t => ("node", t.uid, t.parentUid.orNull, t.label.orNull,
              null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]))
          val pairs = clusters.iterator.flatMap { case (threshold, target) =>
            val assign = threshold match {
              case Some(t) => g.flatClustering(t)
              case None => bisectCut(g, rows.length, target, maxIters)
            }
            rows.iterator.zipWithIndex.map { case ((rid, _, _, _), i) =>
              ("pair", null.asInstanceOf[String], null.asInstanceOf[String],
                null.asInstanceOf[String], java.lang.Long.valueOf(rid),
                java.lang.Long.valueOf(assign(i).toLong))
            }
          }
          nodes ++ pairs
        }
      }
      .toDF("kind", "node_uid", "parent_uid", "label", "point_id", "pred_cluster")
  }
}
