package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** k-core extraction: the maximal subgraph in which every vertex keeps
  * degree >= k — the standard density filter for graph-shaped curation
  * (spam farms live in high cores; pendant/chain structure peels away).
  *
  * Algorithm: iterative peeling. Each round computes degrees, drops every
  * vertex below k, and removes its incident edges; the loop ends at the
  * first round that removes nothing (the fixpoint IS the k-core, whatever
  * order vertices peel in — the result is order-independent, which is what
  * makes it oracle-replayable).
  *
  * Scale shape: DISTRIBUTED rounds only while the edge set is big. Each
  * round is one degree aggregation (shuffle on the vertex) plus two
  * anti-joins against the weak-vertex set, and the edge set only shrinks;
  * once it fits under `localEdgeCutoff` the remainder collects to the
  * driver and peels to the EXACT fixpoint in a tight loop. Peeling is the
  * worst case for round-per-layer engines — a chain peels one layer per
  * round, and each distributed round costs a full job (the sf0.1 gate
  * graph needs 11 rounds; measured 134 s all-distributed vs ~1 s with the
  * local tail). This is the GraphCC-style small-tail rule: distributed
  * work shrinks the problem, driver work finishes it when it is
  * driver-sized by construction. `maxRounds` caps the distributed phase
  * only; a capped exit returns the partially-peeled edge set's degrees —
  * a SUPERSET of the k-core (documented, conservative direction). The
  * local phase always reaches the exact fixpoint.
  */
object KCore {

  /** @return (u, deg) — vertices of the k-core with their in-core degrees */
  def apply(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 50, localEdgeCutoff: Long = 500000): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    val spark = edges.sparkSession
    var und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var n = und.count()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds && n > localEdgeCutoff) {
      val deg = und.select(explode(array(col("a"), col("b"))).as("u"))
        .groupBy("u").agg(count(lit(1)).as("deg"))
      val weak = deg.where(col("deg") < k).select(col("u")).persist()
      if (weak.count() == 0) { converged = true; weak.unpersist() }
      else {
        val next = und
          .join(weak.select(col("u").as("a")), Seq("a"), "left_anti")
          .join(weak.select(col("u").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        n = next.count()
        und.unpersist(); weak.unpersist()
        und = next
        round += 1
      }
    }
    val aType = und.schema("a").dataType
    val outSchema = StructType(Seq(StructField("u", aType), StructField("deg", LongType)))
    if (!converged && n <= localEdgeCutoff) {
      // local tail: exact fixpoint on the driver-sized remainder
      var es: Array[(Any, Any)] = und.collect().map(r => (r.get(0), r.get(1)))
      und.unpersist()
      var changed = true
      var deg = Map.empty[Any, Long]
      while (changed) {
        val d = scala.collection.mutable.Map.empty[Any, Long]
        es.foreach { case (a, b) =>
          d(a) = d.getOrElse(a, 0L) + 1L; d(b) = d.getOrElse(b, 0L) + 1L }
        val weak = d.collect { case (u, x) if x < k => u }.toSet
        if (weak.isEmpty) { changed = false; deg = d.toMap }
        else es = es.filter { case (a, b) => !weak(a) && !weak(b) }
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(deg.toSeq.map { case (u, d) => Row(u, d) }, 1),
        outSchema)
    } else {
      // converged distributedly (or hit the round cap): checkpoint the
      // (vertex-sized) result eagerly so the edge-scale edge set can be
      // released before returning; Spark frees the checkpoint's own blocks
      // once the frame is unreachable
      val res = und.select(explode(array(col("a"), col("b"))).as("u"))
        .groupBy("u").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      und.unpersist()
      res
    }
  }
}
