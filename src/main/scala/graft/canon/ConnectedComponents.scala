package graft.canon

import graft.link.SkewJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Stage 3 — canonicalization: connected components over the link
  * graph via alternating large-star / small-star DataFrame self-joins
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014) — O(log n) rounds, each round a groupBy-min plus a join,
  * both shuffle-bounded.
  *
  * Skew: hub entities give some nodes enormous degree; every
  * neighbor-min join goes through SkewJoin.joinUniqueRight (hot keys
  * broadcast, cold keys shuffle) and the groupBy-mins are map-side
  * combined. Lineage is cut by persisting each round and
  * checkpointing every [[CheckpointEvery]] rounds — an iterative plan
  * would otherwise grow exponentially in the optimizer.
  */
object ConnectedComponents {

  final case class Result(assignments: DataFrame, iterations: Int)

  /** Link graphs below this edge count are solved with a driver-side
    * union-find instead of the iterative star joins: the alternating
    * algorithm costs a handful of shuffle rounds regardless of size,
    * which is pure overhead when the edge set fits comfortably on the
    * driver (the same small-side reasoning AQE applies to broadcast
    * joins). Edges are collected as packed primitive long arrays
    * (16 bytes/edge + LongMap entries), so 2M edges is ~100 MB of
    * driver heap — bounded well below driver memory. Both paths
    * produce identical assignments (comp = min node id of the
    * component).
    */
  val LocalEdgeThreshold = 2000000L

  /** Neighbor-min join keys above this count take SkewJoin's broadcast
    * hot slice.
    */
  private val HotThreshold = 100000L
  /** Round bound of the star fixpoint (O(log n) rounds in practice). */
  private val MaxIter = 50
  /** Rounds between lineage-cutting checkpoints. */
  private val CheckpointEvery = 3

  /** edges: (src: Long, dst: Long). Returns (id, comp) for every node
    * whose canonical id DIFFERS from itself — comp = min node id of
    * the component; roots (the mins) and untouched nodes are ABSENT,
    * and callers resolve them by identity (`coalesce(comp, id)` after
    * a left join — what every consumer in this engine does). Shipping
    * only the non-identity DELTA mirrors the edges-stage rewrite: the
    * driver fast path uploads merged-members rows instead of every
    * edge-touched node (≈2× fewer here, unboundedly fewer on graphs
    * of many small components), and downstream joins build against
    * the smaller side.
    */
  /** `edgeCountHint`: an exact-or-upper bound on the RAW edge count,
    * when the caller already knows it (the Pipeline reads it off the
    * link_edges snapshot manifests for free). With a hint the path
    * decision costs NO job at all: a small graph goes straight to the
    * driver union-find (which collects the raw edges once — it is
    * duplicate-tolerant, so no distinct exchange either), and a large
    * graph goes straight to the iterative path without the
    * persist+count detour. Without a hint, the raw set is cached and
    * counted (one evaluation of the upstream, often a full
    * banding+scoring subtree, shared between the count and whichever
    * path consumes it). Raw ≥ distinct count, so the threshold
    * decision is conservative either way: a duplicate-heavy edge set
    * falls to the distributed path, never the reverse.
    */
  def run(edges0: DataFrame,
          localThreshold: Long = LocalEdgeThreshold,
          edgeCountHint: Option[Long] = None): Result = {
    val spark = edges0.sparkSession

    val raw0 = edges0.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val raw = edgeCountHint match {
      case Some(n) =>
        if (n <= localThreshold) return runLocal(raw0)
        raw0 // large by hint: no cache, the distinct below evaluates once
      case None =>
        val cached = raw0.persist(StorageLevel.MEMORY_AND_DISK)
        if (cached.count() <= localThreshold) {
          val result = runLocal(cached)
          cached.unpersist(false)
          return result
        }
        cached
    }

    var e = raw.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    var prevSig = signature(e)
    var edgeCount = prevSig._1
    // e is materialized by the signature scan; a raw cache (hint-less
    // path) has no further consumer
    raw.unpersist(false)
    var iter = 0
    var converged = false
    val retained = scala.collection.mutable.Buffer[DataFrame](e)

    while (!converged && iter < MaxIter) {
      iter += 1
      // the symmetric view is at most 2x the edge set — a safe upper
      // bound for the skew-detection skip decision
      val ls = largeStar(e, Some(2L * edgeCount))
      // largeStar emits at most one row per symmetric edge, so the
      // same bound holds for smallStar's input
      var next = smallStar(ls, Some(2L * edgeCount))
      if (iter % CheckpointEvery == 0) next = next.checkpoint()
      else next = next.persist(StorageLevel.MEMORY_AND_DISK)
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      edgeCount = sig._1
      retained += next
      e = next
      // free all but the current iteration's cache
      if (retained.size > 2) retained.remove(0).unpersist(false)
    }
    require(converged, s"connected components did not converge in $MaxIter rounds")

    // at the fixpoint every edge is (child -> component root), and
    // only non-roots appear as src — exactly the non-identity delta
    val assignments = e.select(col("src").as("id"), col("dst").as("comp"))
      .distinct()
    Result(assignments, iter)
  }

  /** Small-graph fast path: union-find on the driver with min-id
    * roots — semantically identical to the distributed fixpoint.
    */
  private def runLocal(e: DataFrame): Result = {
    val spark = e.sparkSession
    import spark.implicits._
    val packed = collectPairs(e)
    val uf = new UnionFind
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    packed.foreach { arr =>
      var i = 0
      while (i < arr.length) {
        uf.union(arr(i), arr(i + 1))
        nodes(arr(i)) = (); nodes(arr(i + 1)) = ()
        i += 2
      }
    }
    // non-identity delta only (roots resolve by coalesce downstream):
    // halves-or-better the driver→cluster upload of the fast path
    val assigns = nodes.keysIterator
      .map(v => (v, uf.find(v))).filter { case (v, r) => v != r }.toSeq
    Result(assigns.toDF("id", "comp"), 0)
  }

  /** A (src, dst) long frame on the driver as one packed Array[Long]
    * per partition — no boxed Tuple2/Row per edge. Callers bound it.
    */
  private def collectPairs(e: DataFrame): Array[Array[Long]] = {
    import e.sparkSession.implicits._
    e.as[(Long, Long)]
      .mapPartitions { it =>
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        it.foreach { case (a, b) => buf += a; buf += b }
        Iterator.single(buf.result())
      }.collect()
  }

  /** Driver union-find with min-id roots (the semantics of both CC
    * paths).
    */
  private final class UnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    /** false when `a` and `b` already were one component. */
    def union(a: Long, b: Long): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ra != rb
    }
  }

  /** Cheap order-insensitive fixpoint signature of an edge set. */
  private def signature(e: DataFrame): (Long, Long) = {
    // bit_xor: order-insensitive and overflow-free under ANSI mode
    // (edge sets are distinct, so xor cancellation cannot collide)
    val row = e.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")
    ).head()
    (row.getLong(0), row.getLong(1))
  }

  /** large-star: every node connects its strictly-larger neighbors to
    * the minimum of its neighborhood (including itself).
    */
  private[canon] def largeStar(e: DataFrame,
                               countHint: Option[Long] = None): DataFrame = {
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src")
      .agg(min("dst").as("m"))
      .select(col("src"), least(col("m"), col("src")).as("m"))
    SkewJoin.joinUniqueRight(sym.filter(col("dst") > col("src")), mins,
        "src", HotThreshold, countHint)
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star: orient edges big→small; every node connects its
    * smaller-or-equal neighbors (and itself) to the neighborhood min.
    */
  private[canon] def smallStar(e: DataFrame,
                               countHint: Option[Long] = None): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst")
    ).filter(col("src") =!= col("dst")).distinct()
    val mins = oriented.groupBy("src").agg(min("dst").as("m"))
    val relinked = SkewJoin.joinUniqueRight(oriented, mins, "src",
      HotThreshold, countHint)
    relinked.select(col("dst").as("v"), col("m"))
      .unionByName(mins.select(col("src").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }
}
