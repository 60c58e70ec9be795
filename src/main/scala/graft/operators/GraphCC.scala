package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Min-id connected components over an undirected edge list — the
  * propagation core shared by [[DistributedLabel]] (pixel-component reps)
  * and the corpus dedup-cluster query (LSH candidate-pair graph).
  *
  * Scale shape: vertices and edges are hash-partitioned ONCE, so the
  * per-round joins are narrow; only the per-component min (O(components))
  * and the pointer-doubling hop (O(vertices)) shuffle. Each round relaxes
  * labels over edges AND follows the relaxed label one extra hop
  * (label(label(v))), collapsing chain-shaped components in
  * O(log diameter) rounds. Rounds are localCheckpoint'ed (O(1) lineage)
  * and superseded label RDDs unpersisted eagerly; the returned RDD is
  * itself persisted, so one `unpersist` releases it on every route.
  */
object GraphCC {

  /** Edge bound under which the round loop hands the CONTRACTED residual
    * graph (one node per current label, one edge per unresolved label
    * adjacency) to a driver-local union-find — the KCore shrink-then-
    * finish rule (r9 verdict item 4): pointer doubling pays one extra
    * round per data decade, and near convergence those rounds each
    * shuffle O(V) to move a handful of labels. When per-round churn drops
    * below [[minLabels]]' churn trigger, the residual component structure
    * is tiny by definition — finish it in one task-free pass instead of
    * log(diameter) more rounds. 500k edges ≈ the KCore local tail bound;
    * the merge map broadcast is ≤ 2·bound longs. */
  val LocalFinishEdges: Long = 500000L

  /** Vertex bound for the single-task union-find path: O(V) task memory
    * (a 1M-entry long→long map ≈ 50 MB) and O(E·α) streaming time in ONE
    * narrow stage. Raised from the old 50k partition-sizing threshold
    * (r10): the x100 soak showed the 50k→distributed transition IS the
    * semdedup shuffle superlinearity — a 200k-vertex pair graph paid
    * ~6 shuffle stages per propagation round for work one task absorbs in
    * milliseconds. Graphs past this bound (the 100 TB case) run the
    * partitioned fixpoint with the contraction finish. */
  val LocalVertexCutoff: Long = 1000000L

  /** Edge bound companion to [[LocalVertexCutoff]] (ADVICE r10): routing
    * on vertex count alone sent a dense pair graph — 1M vertices but
    * 100M+ LSH candidate edges — through the single-task union-find,
    * streaming the whole edge list through one task. The union-find's
    * memory is O(V), but its wall time and the one-task edge scan are
    * O(E); past this bound the partitioned fixpoint (whose contraction
    * finish absorbs the small-residual case anyway) is the right shape. */
  val LocalEdgeCutoff: Long = 5000000L

  /** Returns (vertex, component-min-id). `edges` may be directed input;
    * it is symmetrized here. Isolated vertices map to themselves.
    * `localCutoff` overrides [[LocalVertexCutoff]] (tests force the
    * distributed path with it). */
  def minLabels(vertices: RDD[Long], edges0: RDD[(Long, Long)],
                localCutoff: Long = LocalVertexCutoff,
                edgeCutoff: Long = LocalEdgeCutoff)
               (implicit spark: SparkSession): RDD[(Long, Long)] = {
    // the one count() is a narrow job over the (usually cached) vertex
    // source; small graphs take the single-task union-find, large ones
    // size the partitioner at ~50k vertices/partition capped at the
    // session's parallelism (every propagation round pays per-partition
    // task overhead across several stages)
    val n = vertices.count()
    var edgeIn = edges0
    var edgeCnt = -1L
    if (n <= localCutoff) {
      // the edge gate needs a count, and the union-find needs the same
      // edges — persist so candidate-pair generation runs exactly once
      val e = edges0.persist(StorageLevel.MEMORY_AND_DISK)
      edgeCnt = e.count()
      if (edgeCnt <= edgeCutoff) {
        val res = localMinLabels(vertices, e)
          .persist(StorageLevel.MEMORY_AND_DISK)
        res.count()
        e.unpersist(blocking = false)
        return res
      }
      edgeIn = e // dense small-vertex graph: fall through to the fixpoint
    }
    // sized by vertices AND (when counted) edges; floor 2 — the local
    // union-find already owns every case where one partition is right
    val parts = math.max(2, math.min(
      spark.sparkContext.defaultParallelism,
      math.max(n / 50000L, math.max(0L, edgeCnt) / 500000L).toInt + 1))
    val part = new HashPartitioner(parts)
    val edges = edgeIn.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .distinct(part.numPartitions)
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var labels = vertices.distinct(part.numPartitions)
      .map(v => (v, v)).partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    // contraction trigger: churn below a 20th of the graph (floor 50k)
    // means the residual merge structure is small — try the local finish;
    // re-try only after churn halves again so a failed probe (residual
    // still over LocalFinishEdges) can't re-pay its edge pass every round
    val churnTrigger = math.max(50000L, n / 20)
    var lastProbe = Long.MaxValue
    var finished = false
    // `labels` is always the persisted RDD itself (never a view of one), so
    // the caller's unpersist reaches it whichever way the loop ends
    while (changed > 0 && !finished) {
      val nbrMin = edges.join(labels)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      val relaxed = labels.leftOuterJoin(nbrMin, part)
        .mapValues { case (old, nm) => math.min(old, nm.getOrElse(old)) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer doubling: valid because label values are always existing
      // vertex ids with label(x) <= x (identity init, monotone min updates)
      val hopped = relaxed.map { case (r, l) => (l, r) }
        .join(relaxed, part)
        .map { case (_, (r, l2)) => (r, l2) }
      val updated = relaxed.join(hopped, part)
        .mapValues(_._2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      updated.localCheckpoint()
      // both sides share `part`, so this join is narrow: the count job
      // materializes `updated` and compares it with last round's labels
      changed = labels.join(updated, part).filter { case (_, (old, nl)) => old != nl }.count()
      relaxed.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      labels = updated
      // shrink-then-finish: hand the contracted residual graph to a
      // driver-local union-find once churn is low AND the residual is
      // provably small — one edge pass + one broadcast map replaces the
      // remaining log(diameter) O(V)-shuffle rounds
      if (changed > 0 && changed <= churnTrigger && changed < lastProbe / 2) {
        lastProbe = changed
        val contracted = edges.join(labels)
          .map { case (_, (dst, lsrc)) => (dst, lsrc) }
          .join(labels, part)
          .map { case (_, (la, lb)) => if (la < lb) (la, lb) else (lb, la) }
          .filter(p => p._1 != p._2)
          .distinct(part.numPartitions)
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (contracted.count() <= LocalFinishEdges) {
          val merge = {
            val uf = new MinUnionFind
            contracted.collect().foreach { case (a, b) => uf.union(a, b) }
            uf.roots.toMap
          }
          contracted.unpersist(blocking = false)
          val bc = spark.sparkContext.broadcast(merge)
          val fin = labels.mapValues(l => bc.value.getOrElse(l, l))
            .persist(StorageLevel.MEMORY_AND_DISK)
          fin.localCheckpoint()
          fin.count()
          labels.unpersist(blocking = false)
          labels = fin
          finished = true
        } else contracted.unpersist(blocking = false)
      }
    }
    edges.unpersist(blocking = false)
    if (edgeCnt >= 0) edgeIn.unpersist(blocking = false)
    labels
  }

  /** Single-partition fast path: when the sized partitioner collapses to
    * one partition (≤ ~50k vertices), the multi-stage propagation loop
    * spends far more time on scheduling than computing — a partition-local
    * union-find in ONE task (no driver collect) replaces 6 stages × rounds
    * with one narrow stage. The iterative path remains the 100 TB shape. */
  private def localMinLabels(vertices: RDD[Long], edges: RDD[(Long, Long)]): RDD[(Long, Long)] = {
    val combined: RDD[Either[Long, (Long, Long)]] =
      vertices.map(v => Left(v): Either[Long, (Long, Long)]) ++
        edges.map(e => Right(e): Either[Long, (Long, Long)])
    // shuffle=true (ADVICE r10): a shuffle-free coalesce(1) would also
    // collapse upstream vertex/edge GENERATION into the single task;
    // the bounded input (≤1M vertices + ≤5M edges) is cheap to exchange
    combined.coalesce(1, shuffle = true).mapPartitions { it =>
      val uf = new MinUnionFind
      it.foreach {
        case Left(v) => uf.add(v)
        case Right((a, b)) => uf.union(a, b)
      }
      uf.roots.toSeq.iterator
    }
  }
}

/** Union-find over long ids with path compression, united by minimum id so
  * every root IS its component's minimum member. Shared by GraphCC's
  * single-task and contraction finishes and DistributedLabel's driver
  * route. */
private[operators] final class MinUnionFind {
  private val parent = scala.collection.mutable.LongMap.empty[Long]

  def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x

  private def find(x: Long): Long = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  def union(a: Long, b: Long): Unit = {
    add(a); add(b)
    val ra = find(a); val rb = find(b)
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
  }

  /** (member, component minimum) for every id added so far. */
  def roots: Iterator[(Long, Long)] = parent.keysIterator.map(v => (v, find(v)))
}
