package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-vertex triangle counting over an undirected edge list — the third
  * graph primitive next to the connected-components fixpoint (GraphCC) and
  * fixed-point PageRank (IterativeRank). Triangle counts drive community /
  * spam signals in web-graph curation (a page whose link neighborhood
  * closes no triangles is a very different object from one inside a dense
  * clique).
  *
  * Algorithm: degree-ordered edge orientation (the classic compact-forward
  * scheme). Every undirected edge {u, v} is oriented from its
  * lower-(degree, id) endpoint to the higher one; each triangle then has
  * exactly ONE vertex with two outgoing oriented edges (its minimum-rank
  * corner), so counting wedges (u→v, u→w) with rank(v) < rank(w) whose
  * closing edge v→w exists counts every triangle exactly once.
  *
  * Scale shape: orientation bounds every out-degree by O(√m) regardless of
  * how skewed the raw degree distribution is (a celebrity vertex with 10⁸
  * followers has huge IN-rank but its out-edges go only to higher-rank
  * vertices, of which there are few) — so the wedge self-join, the only
  * super-linear step, generates Σ outdeg(u)² = O(m^1.5) candidates worst
  * case instead of the Σ deg(u)² blow-up of the unoriented join. All three
  * steps are plain shuffled equi-joins (degrees on the vertex, wedges on
  * the pivot, closure on the (v, w) edge key) that AQE can re-plan; nothing
  * is collected to the driver.
  */
object TriangleCount {

  /** @param edges edge list, any direction/duplication; self-loops dropped
    * @return (u, n_tri) — vertices participating in >= 1 triangle
    */
  def apply(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // `und` fans into the degree aggregation AND the orientation join, and
    // `o` below is consumed THREE times (both wedge arms + the closure
    // probe). Left as pure lineage every consumer re-derives the whole
    // upstream edge pipeline (r11 baseline: a 2,136-line physical plan
    // with 36 scans of the source for one triangle query). Materializing
    // both — the adjacency-list build every distributed triangle counter
    // performs — makes each pass run once; MEMORY_AND_DISK so a 100 TB
    // edge list degrades to disk instead of OOM (same policy as GraphCC's
    // internal edge persist).
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("a"), col("b"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("u").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("db")), Seq("b"))
    // orient toward the higher (deg, id) endpoint; carry the head's rank
    // key so the wedge join can order its two arms without re-joining deg
    val o = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = o.as("x").join(o.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("p"), col("x.v").as("v"), col("y.v").as("w"))
    val tri = wedges.join(o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("p"), col("v"), col("w"))
    // checkpoint the (small, O(triangle-vertices)) result eagerly so the
    // two edge-scale persists can be released HERE: the checkpoint cuts
    // the lineage to them, and Spark frees its own blocks once the frame
    // is unreachable — the caller has nothing to unpersist.
    val res = tri.select(explode(array(col("p"), col("v"), col("w"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("n_tri"))
      .localCheckpoint()
    und.unpersist(blocking = false)
    o.unpersist(blocking = false)
    res
  }
}
