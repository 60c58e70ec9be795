package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity / approximate-nearest-neighbor operators over an
  * embedding column (`array<float>`), beyond-reference surface for
  * training-data pipelines.
  *
  * Design for scale: dot products are index-wise fold expressions
  * (codegen'd, no UDF); top-k uses a window over candidates produced either
  * by a broadcast cross join (brute force, small query set) or an LSH
  * sign-bucket equi-join (the 100 TB path: candidates shrink by ~2^bits and
  * the join is a plain shuffled equi-join that AQE can re-plan).
  */
object SimilarityFunctions {

  /** Σ a[k]*b[k] — ascending-index left-fold (oracle-stable), compiled to a
    * primitive loop by the custom codegen Expression. */
  def dot(a: Column, b: Column): Column = graft.exprs.DotProduct.dot(a, b)

  /** Interpreted reference path for `dot` (the Scipy-fallback analog);
    * bit-identical fold order — used by the backend-agreement tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Random-hyperplane LSH bucket for one band: the signs of components
    * [band*bits, (band+1)*bits) (a deterministic, data-independent
    * hyperplane family). `bits` sizes the bucket space (2^bits per band):
    * at 100 TB the round-1 fixed 8-bit scheme capped the space at 256
    * buckets — O(N^2/256) candidate pairs and heavy skew on hot buckets —
    * so the default surface is now >=16 bits across multiple bands. */
  def signBucket(e: Column, bits: Int, band: Int = 0): Column =
    (0 until bits).map(k => when(get(e, lit(band * bits + k)) > 0f, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** All `bands` band buckets of an embedding as array<struct<band,bucket>>
    * — explode to get one (band, bucket) key pair per row. Component index
    * band*bits+k must stay below the embedding dimension (components past
    * the end hash as sign-negative). */
  def lshBands(e: Column, bands: Int, bits: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), signBucket(e, bits, b).as("bucket"))): _*)

  /** Multi-probe probe set of an embedding (Lv et al., VLDB 2007): every
    * band's own bucket plus its `extra` single-bit perturbations flipping
    * the sign bits whose components sit closest to their hyperplane — the
    * bits most likely misclassified. Selection is pure (|margin|, k)
    * tuple-rank comparisons on the exact float components (no arithmetic,
    * no rounding), so it is engine-reproducible; q_ann_multiprobe measures
    * what the extra probes buy (0.065 → 0.175 recall@10 at gate scale).
    * Returns array<struct<band,bucket>> of length bands·(1+extra) —
    * corpus rows keep [[lshBands]]; only QUERY rows fan out wider. */
  def multiProbeBands(e: Column, bands: Int, bits: Int, extra: Int): Column = {
    val cols = (0 until bands).flatMap { b =>
      val bucket = signBucket(e, bits, b)
      val margins = array((0 until bits).map(k =>
        struct(abs(get(e, lit(b * bits + k))).as("m"), lit(k).as("k"))): _*)
      val own = struct(lit(b).as("band"), bucket.as("bucket"))
      val flips = (0 until bits).map { k =>
        val mk = struct(abs(get(e, lit(b * bits + k))).as("m"), lit(k).as("k"))
        when(size(filter(margins, x => x < mk)) < extra,
          struct(lit(b).as("band"),
            bucket.bitwiseXOR(lit(1L << k)).as("bucket")))
      }
      own +: flips
    }
    filter(array(cols: _*), x => x.isNotNull)
  }

  /** [[lshTopK]] with multi-probe queries: candidates = corpus rows
    * sharing ANY probed (band, bucket) key — ~(1+extra)× the single-probe
    * candidate set at fixed tables/storage, the multi-probe trade. */
  def lshMultiProbeTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        bands: Int = 4, bits: Int = 16, extra: Int = 2,
                        idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qe"))
      .select(col("qid"), col("qe"),
        explode(multiProbeBands(col("qe"), bands, bits, extra)).as("bb"))
      .select(col("qid"), col("qe"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce"),
      explode(lshBands(col(embCol), bands, bits)).as("bb"))
      .select(col("vec_id"), col("ce"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = c.join(broadcast(q), Seq("band", "bucket"))
      .where(col("qid") =!= col("vec_id"))
      .dropDuplicates("qid", "vec_id")
    val scored = cand.withColumn("cos", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Brute-force cosine top-k: every row of `queries` against every row of
    * `corpus` (broadcast the query side — it is the small one). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qe"))
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce"))
    val scored = c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Multi-band LSH ANN top-k: candidates = pairs sharing any band's
    * bucket (equi-join on (band, bucket), deduped), then rank by cosine.
    * Same output columns as brute force; recall < 1 by design — more bands
    * raise recall, more bits shrink buckets (skew resistance). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bands: Int = 4, bits: Int = 16,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qe"),
      explode(lshBands(col(embCol), bands, bits)).as("bb"))
      .select(col("qid"), col("qe"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce"),
      explode(lshBands(col(embCol), bands, bits)).as("bb"))
      .select(col("vec_id"), col("ce"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = c.join(broadcast(q), Seq("band", "bucket"))
      .where(col("qid") =!= col("vec_id"))
      .dropDuplicates("qid", "vec_id") // a pair can collide in several bands
    val scored = cand.withColumn("cos", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
  }

  /** IVF-style ANN top-k: the corpus is coarse-quantized into cells (each
    * vector assigned to its max-cosine centroid), queries probe their
    * `nprobe` nearest cells, and ranking runs only within probed cells —
    * the inverted-file structure that bounds per-query work to
    * O(corpus/cells * nprobe) at 100 TB, with the cell assignment
    * precomputable and the probe join a broadcast equi-join on cell id.
    *
    * `centroids` is caller-supplied (real deployments train k-means
    * offline; the gate query uses a deterministic id-sample so the DuckDB
    * oracle can replicate it exactly). Assignment ties break to the lower
    * centroid id on a cosine rounded to 6 places — deterministic across
    * engines. Recall < 1 by design: more probes raise it. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    // CORPUS side (the 100 TB side): row-local codegen argmax — zero
    // shuffle, zero sort. The crossJoin(broadcast)+row_number shape this
    // replaces materializes N·k rows and sorts every partition (9.4 GB
    // spill at the x30 soak — see assignBest's scaladoc); keep = 1 is
    // exactly the fold's semantics (max 6-place cosine, min-cid ties).
    val cenArr = centroids
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val cells = assignBest(
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce")), cenArr)
      .drop("ccos")
    // QUERY side needs keep = nprobe ranks, and is small by contract —
    // the windowed form stays (it never sees corpus-scale rows)
    val cen = centroids.select(col(idCol).as("cid"), col(embCol).as("cemb"))
    val probes = {
      val scored = queries.select(col(idCol).as("qid"), col(embCol).as("qe"))
        .crossJoin(broadcast(cen))
        .withColumn("ccos", round(cosine(col("qe"), col("cemb")), 6))
      val w = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
      scored.withColumn("cr", row_number().over(w)).where(col("cr") <= nprobe)
        .drop("cemb", "ccos", "cr")
    }
    val scored = cells.join(broadcast(probes), Seq("cid"))
      .where(col("qid") =!= col("vec_id"))
      // rank on the 6-place-rounded cosine (like the assignment) so result
      // order is identical across engines/accumulation orders
      .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Lloyd refinement of a coarse quantizer over the embedding column —
    * the trainer for the centroids [[ivfTopK]] and [[semDedup]] take as
    * input. Classic distributed k-means shape: centroids are DRIVER state
    * (O(cells·dim) doubles — the only thing ever collected), broadcast
    * into a map-only assignment pass; the refit is one groupBy over
    * (cell, component) — two shuffle-light jobs per iteration no matter
    * the corpus size. Spherical (cosine) k-means, the metric the IVF
    * probe itself uses. Assignment cosines and refit centroid components
    * round to 6 places every iteration, so the trained quantizer is
    * reproducible across engines and partition orders; cells that lose
    * all members keep their previous centroid. `iters` assignment passes
    * run with `iters - 1` refits between them; returns the final
    * assignment (vec_id, cell, ccos). */
  def kmeansAssign(corpus: DataFrame, init: DataFrame, iters: Int = 2,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val v = corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce"))
    var cen: Map[Long, Seq[Double]] = init
      .select(col(idCol).cast("long").as("cid"),
        transform(col(embCol), x => round(x.cast("double"), 6)).as("cemb"))
      .as[(Long, Seq[Double])].collect().toMap
    var out: DataFrame = v.sparkSession.emptyDataFrame
    for (it <- 1 to iters) {
      val asn = assignBest(v, cen.toSeq.sortBy(_._1))
      out = asn.select(col("vec_id"), col("cid").as("cell"), col("ccos"))
      if (it < iters) {
        val refit = asn
          .select(col("cid"), posexplode(col("ce")).as(Seq("k", "x")))
          .groupBy("cid", "k").agg(round(avg(col("x").cast("double")), 6).as("m"))
          .as[(Long, Int, Double)].collect()
          .groupBy(_._1).map { case (cid, rs) =>
            cid -> rs.sortBy(_._2).map(_._3).toSeq }
        cen = cen.map { case (cid, old) => cid -> refit.getOrElse(cid, old) }
      }
    }
    out
  }

  /** Row-local max-cosine centroid assignment: the centroid set rides into
    * every task as driver state (the kmeansAssign O(cells·dim) convention
    * — a coarse quantizer is small by definition) and each row argmaxes
    * over it in the codegen'd [[graft.exprs.NearestCentroid]] primitive
    * pass — max rounded cosine first, min cid on ties, exactly the old
    * window's ORDER BY ccos DESC, cid rule.
    *
    * Why row-local and not a join+argmax: the corpus × centroid crossJoin
    * materializes N·k rows, and EVERY argmax shape over them sorts —
    * row_number windows sort each partition (9.4 GB spill at the x30
    * soak), and max(struct) falls back to SortAggregate because struct
    * buffers aren't hash-aggregable. Row-local assignment is map-only:
    * zero shuffle, zero spill, and cost scales embarrassingly with
    * executors at 100 TB. Why a native Expression and not the interpreted
    * `aggregate` fold ([[assignBestHof]], the spec-pinned reference
    * backend): per-centroid lambda evaluation is ~2 orders slower, and
    * Catalyst pushes `isnotnull(<fold>)` null guards from downstream
    * equi-joins INTO join conditions, re-evaluating the whole fold per
    * joined pair (measured 40 s of a 43 s IVF-PQ soak point).
    * Input `v` must carry (vec_id, ce); returns (vec_id, ce, cid, ccos). */
  private def assignBest(v: DataFrame, cenArr: Seq[(Long, Seq[Double])]): DataFrame =
    v.withColumn("b", graft.exprs.NearestCentroid.best(col("ce"), cenArr))
      .select(col("vec_id"), col("ce"),
        col("b.cid").as("cid"), col("b.ccos").as("ccos"))

  /** The interpreted expression-tree form of [[assignBest]] (aggregate
    * fold keeping the best (ccos, -cid, cid) struct under `greatest`) —
    * the reference backend the agreement spec pins the codegen expression
    * against. */
  private[graft] def assignBestHof(v: DataFrame, cenArr: Seq[(Long, Seq[Double])]): DataFrame = {
    val cenLit = typedlit(cenArr)
    val zero = struct(lit(-2.0).as("ccos"),
      lit(Long.MinValue).as("ncid"), lit(-1L).as("cid"))
    val best = aggregate(cenLit, zero, (acc, c) =>
      greatest(acc, struct(
        round(cosine(col("ce"), c.getField("_2")), 6).as("ccos"),
        (-c.getField("_1")).as("ncid"),
        c.getField("_1").as("cid"))))
    v.withColumn("b", best)
      .select(col("vec_id"), col("ce"),
        col("b.cid").as("cid"), col("b.ccos").as("ccos"))
  }

  /** The codegen assignment on (vec_id, ce) frames — test hook mirroring
    * [[assignBestHof]]'s signature. */
  private[graft] def assignBestExpr(v: DataFrame, cenArr: Seq[(Long, Seq[Double])]): DataFrame =
    assignBest(v, cenArr)

  /** SemDeDup-style semantic deduplication scoped to coarse-quantizer
    * cells (Abbas et al. 2023, arXiv:2303.09540): every vector joins its
    * max-cosine centroid cell (the [[ivfTopK]] assignment rule); within a
    * cell, pairs at cosine ≥ `tau` form a similarity graph whose connected
    * components are semantic-duplicate groups; each group keeps ONE
    * member — the paper's rule: the vector LEAST similar to its centroid
    * survives (low-ccos = the most informative exemplar; ties to min id).
    *
    * Scale shape: centroids broadcast (k-means trains offline at real
    * scale), cell assignment is map-only over the corpus, pair generation
    * is a per-cell self-join — O(B²) per cell with B bounded by quantizer
    * granularity, never corpus-wide all-pairs — and components run through
    * GraphCC's partitioned min-label fixpoint. Cosines round to 6 places
    * before every comparison so assignment, edges, and the keep ordering
    * are engine-deterministic. Returns (vec_id, cell, cluster, keep).
    *
    * `cellCap` hard-bounds the quadratic: cells wider than it are EXCLUDED
    * from pair generation (their members come back as singleton clusters,
    * keep = true) — the [[graft.operators.LshBlocking.cappedBands]] rule.
    * Without it a quantizer whose cell count doesn't scale with the corpus
    * turns the per-cell self-join quadratic (the x30 scale soak measured a
    * 14.8× shuffle tail for 3× data before the cap). The cap is explicit,
    * deterministic semantics — replayable by the oracle — and the dropped
    * cells are reportable via [[semDedupDroppedCells]] (no silent caps);
    * size the quantizer so expected cell width stays under it. */
  def semDedup(corpus: DataFrame, centroids: DataFrame, tau: Double,
               idCol: String = "vec_id", embCol: String = "embedding",
               cellCap: Int = 2048): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val cenArr = centroids
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // the assignment feeds BOTH self-join sides, the component vertex set,
    // and the final label join — checkpoint it or the row-local fold
    // re-executes four times (an 8× shuffle tail in the scale soak before
    // this); lazily, so its first reader materializes it, and locally, so
    // Spark frees it with the returned frame. Assignment itself is
    // assignBest's map-only fold: no N·k row expansion, no sort, no spill
    // (see assignBest's scaladoc for the two argmax shapes this replaced
    // and their measured spill).
    val cells = assignBest(
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce")), cenArr)
      .localCheckpoint(eager = false)
    semDedupFinish(cells, tau, cellCap)
  }

  /** [[semDedup]] with the two-level (coarse → fine) quantizer assignment
    * of [[ivf2Assign]] — the deployment shape once the cell count rides
    * corpus size. SemDeDup's own scale rule (k ∝ N, constant expected cell
    * width so per-cell pair work stays bounded) makes a FLAT assignment
    * argmax O(N·k) = quadratic in corpus size — the r11 x1000 soak
    * measured exactly that: assignment pinned every executor thread for
    * the better part of an hour while pairs/CC stayed linear. Routing
    * assignment through the coarse→fine tree cuts it to
    * O(N·(k₁ + k/k₁)) = O(N·√k) dot products at k₁ ≈ √k, still map-only
    * and shuffle-free. Cells are the FINE centroid ids; pair generation,
    * the cellCap guard, components, and the keep rule are identical to
    * [[semDedup]]. Coarse-routing divergence (a member whose flat-argmax
    * fine centroid lives under a different coarse cell) can split a flat
    * cell — deployment semantics, pinned by its own oracle
    * (q_semdedup_ivf2). Rows landing in an EMPTY coarse cell (fid -1)
    * are excluded from pair generation and come back as singleton
    * clusters, keep = true. Returns (vec_id, cell, cluster, keep). */
  def semDedup2(corpus: DataFrame, coarse: DataFrame, fine: DataFrame,
                tau: Double, idCol: String = "vec_id",
                embCol: String = "embedding", cellCap: Int = 2048): DataFrame = {
    val idx = Ivf2Index.build(coarse, fine, idCol, embCol)
    val cells = SimilarityFunctions.assignBest(
        corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce")), idx.coarseArr)
      .withColumn("fb",
        graft.exprs.NearestCentroidByCell.best(col("ce"), col("cid"), idx.fineByCell))
      .select(col("vec_id"), col("ce"),
        col("fb.fid").as("cid"), col("fb.fcos").as("ccos"))
      .localCheckpoint(eager = false)
    semDedupFinish(cells, tau, cellCap)
  }

  /** Shared [[semDedup]]/[[semDedup2]] tail on an assigned `cells` frame
    * (vec_id, ce, cid, ccos): per-cell pair generation under the cap,
    * GraphCC components over ALL vectors, and the keep window. Cells with
    * cid < 0 (the two-level form's empty-cell marker) never join pairs. */
  private def semDedupFinish(cells: DataFrame, tau: Double, cellCap: Int): DataFrame = {
    val s = cells.sparkSession
    import s.implicits._
    // one tiny agg shuffle buys the hard per-cell bound on the self-join;
    // members of over-cap cells stay in the vertex set (→ singletons)
    val joinable = cells.where(col("cid") >= 0).join(
      cells.groupBy("cid").agg(count(lit(1)).as("cell_n"))
        .where(col("cell_n") <= cellCap).select("cid"),
      Seq("cid"), "left_semi")
    val a = joinable.select(col("cid"), col("vec_id").as("id1"), col("ce").as("ea"))
    val b = joinable.select(col("cid"), col("vec_id").as("id2"), col("ce").as("eb"))
    val edges = a.join(b, Seq("cid")).where(col("id1") < col("id2"))
      .where(round(cosine(col("ea"), col("eb")), 6) >= tau)
      .select(col("id1"), col("id2"))
    val labels = graft.operators.GraphCC.minLabels(
      cells.select(col("vec_id")).as[Long].rdd,
      edges.as[(Long, Long)].rdd)(s)
    val keepW = Window.partitionBy("cluster").orderBy(col("ccos").asc, col("vec_id"))
    cells.join(labels.toDF("vec_id", "cluster"), Seq("vec_id"))
      .withColumn("rn", row_number().over(keepW))
      .select(col("vec_id"), col("cid").as("cell"), col("cluster"),
        (col("rn") === 1).as("keep"))
  }

  /** The cells a given `cellCap` would exclude from [[semDedup]]'s pair
    * generation, with their widths — count or collect this and log it next
    * to the capped run (no silent caps). Mirrors
    * [[graft.operators.LshBlocking.droppedBuckets]]. */
  def semDedupDroppedCells(corpus: DataFrame, centroids: DataFrame,
                           cellCap: Int, idCol: String = "vec_id",
                           embCol: String = "embedding"): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val cenArr = centroids
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assignBest(corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce")), cenArr)
      .groupBy("cid").agg(count(lit(1)).as("cell_n"))
      .where(col("cell_n") > cellCap)
  }

  /** Two-level (coarse → fine) IVF quantizer assignment — the standard
    * hierarchical shape once cell counts pass ~10⁵: a flat fold is O(N·k)
    * dot products per vector, a coarse-√k → fine-√k tree cuts it to
    * O(N·√k). Fine centroids are first assigned to their max-cosine coarse
    * cell (quantizer-sized work, the kmeansAssign driver-state
    * convention); each corpus vector then folds over the k₁ coarse
    * centroids, and over ONLY its own coarse cell's fine centroids —
    * shipped as one map literal keyed by coarse id, so both levels stay
    * map-only: zero shuffle, zero spill, embarrassingly parallel at
    * 100 TB (the [[assignBest]] argmax-fold rationale).
    *
    * Both argmaxes use the 6-place-rounded cosine with min-id ties —
    * engine-deterministic, oracle-replayable. A coarse cell with no fine
    * centroid yields the fold's zero: fid -1, fcos -2.0 (explicit,
    * deterministic semantics; size the fine set so it stays rare).
    * Returns (vec_id, cid, ccos, fid, fcos). */
  def ivf2Assign(corpus: DataFrame, coarse: DataFrame, fine: DataFrame,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    Ivf2Index.build(coarse, fine, idCol, embCol).assign(corpus, idCol, embCol)

  private[functions] def assignBestFor(v: DataFrame,
                                       cenArr: Seq[(Long, Seq[Double])]): DataFrame =
    assignBest(v, cenArr)

  // ---------------------------------------------------------------- PQ ----

  /** Quantized squared L2 between two equal-length double arrays: the
    * ascending-index fold (engine-identical IEEE order), then the repo's
    * exact-integer convention — ×1e6, half-up, BIGINT — so every
    * comparison/sum built on it is order- and engine-deterministic. */
  private[graft] def d2q(a: Column, b: Column): Column =
    floor(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x) * 1e6 + lit(0.5)).cast("long")

  /** Per-subspace PQ codebooks from a deterministic sample: entry j of
    * subspace s is the s-th subvector of the j-th sample (ascending id
    * rank — replayable as `row_number() OVER (ORDER BY id) - 1`). Real
    * deployments train per-subspace k-means offline; the codebook is
    * driver state by definition (m·ks·dsub doubles). */
  private def pqBooks(sample: DataFrame, m: Int, idCol: String,
                      embCol: String): (Int, IndexedSeq[Seq[(Long, Seq[Double])]]) = {
    val s = sample.sparkSession
    import s.implicits._
    val vecs = sample
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    require(vecs.nonEmpty, "PQ sample is empty")
    val dim = vecs.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val books = (0 until m).map { sub =>
      vecs.zipWithIndex.map { case ((_, e), j) =>
        (j.toLong, e.slice(sub * dsub, (sub + 1) * dsub).toSeq) }.toSeq
    }
    (dsub, books)
  }

  /** Product-quantization encoding (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the embedding splits into
    * `m` contiguous subspaces and each subvector is replaced by the index
    * of its nearest codebook entry — m small ints per vector (one byte
    * each at ks ≤ 256), a 32× compression of a 64-float embedding. That is
    * the 100 TB story: the ADC scan ([[ivfPqTopK]]) touches ONLY codes.
    *
    * Scale shape: map-only (the [[assignBest]] rationale), zero shuffle,
    * embarrassingly parallel — and the hot path is the codegen'd
    * [[graft.exprs.PqCodes]] expression: all m argmins in one primitive
    * pass with the codebook as a constant `double[][][]` (the interpreted
    * per-subspace HOF folds, kept as [[pqEncodeHof]] for the backend-
    * agreement spec, pay ~m·ks lambda calls + allocations per row; the
    * codegen pass + the NearestCentroid expression + the single-projection
    * corpus pass took the x30 IVF-PQ soak point from 43 s to 3.8 s).
    * Argmin compares the quantized integer distance with min-code ties —
    * engine-deterministic, both paths bit-identical. Returns
    * (vec_id, codes array<long>). */
  def pqEncode(corpus: DataFrame, sample: DataFrame, m: Int,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val (_, books) = pqBooks(sample, m, idCol, embCol)
    corpus.select(col(idCol).as("vec_id"),
      graft.exprs.PqCodes.codes(col(embCol).cast("array<double>"), books).as("codes"))
  }

  /** Per-subspace Lloyd refinement of PQ codebooks — the trainer that
    * turns an id-sample initialization into real codebooks (the
    * q_pq_recall harness measures what that buys). Classic [[kmeansAssign]]
    * shape per subspace, all m subspaces in each pass: encode the corpus
    * with the current books (one codegen'd map pass), refit every
    * (subspace, code) entry to the mean of its assigned subvectors — ONE
    * groupBy over (subspace, code, component), O(m·ks·dsub) driver state —
    * with means rounded to 6 places (engine-reproducible) and empty codes
    * keeping their previous entry. `iters` encode passes run with
    * `iters - 1` refits between them.
    *
    * Returns the trained codebook as a DataFrame shaped exactly like a
    * sample table (vec_id = codebook rank, embedding = the concatenated
    * subvectors) — pass it straight as the `sample` of [[pqEncode]] /
    * [[ivfPqTopK]] / [[pqCells]]. */
  def pqTrain(corpus: DataFrame, sample: DataFrame, m: Int, iters: Int = 2,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    var (dsub, books) = pqBooks(sample, m, idCol, embCol)
    val v = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("ce"))
    for (_ <- 1 until math.max(1, iters)) {
      // PqCodes yields null for embeddings whose length != m*dsub; a null
      // code row would NPE the typed collect below — malformed vectors
      // are excluded from the refit (and from search, see PqIndex.search)
      val enc = v.select(col("ce"),
        graft.exprs.PqCodes.codes(col("ce"), books).as("codes"))
        .where(col("codes").isNotNull)
      val refit = enc
        .select(col("codes"), posexplode(col("ce")).as(Seq("k", "x")))
        .select((col("k") / dsub).cast("int").as("s"),
          pmod(col("k"), lit(dsub)).as("kk"), col("codes"), col("x"))
        .select(col("s"), col("kk"),
          element_at(col("codes"), col("s") + 1).as("j"), col("x"))
        .groupBy("s", "j", "kk")
        .agg(round(avg(col("x")), 6).as("mu"))
        .as[(Int, Long, Int, Double)].collect()
        .groupBy(r => (r._1, r._2))
        .map { case ((sub, j), rs) => (sub, j) -> rs.sortBy(_._3).map(_._4).toSeq }
      books = books.zipWithIndex.map { case (book, sub) =>
        book.map { case (j, old) => (j, refit.getOrElse((sub, j), old)) }
      }
    }
    val ks = books.head.length
    (0 until ks).map { j =>
      (j.toLong, (0 until m).flatMap(sub => books(sub)(j.toInt)._2))
    }.toDF(idCol, embCol)
  }

  /** The interpreted expression-tree form of [[pqEncode]] (per-subspace
    * `aggregate` argmin folds over codebook literals, subvector slices
    * pre-projected per the HOF-lambda hoisting rule) — the reference
    * backend the PqCodesSpec agreement test pins against the codegen
    * path. */
  def pqEncodeHof(corpus: DataFrame, sample: DataFrame, m: Int,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val (dsub, books) = pqBooks(sample, m, idCol, embCol)
    var df = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("ce"))
    for (sub <- 0 until m)
      df = df.withColumn(s"sub_$sub", slice(col("ce"), sub * dsub + 1, dsub))
    val codeCols = (0 until m).map { sub =>
      val bl = typedlit(books(sub))
      val zero = struct(lit(Long.MaxValue).as("dq"), lit(Long.MaxValue).as("j"))
      aggregate(bl, zero, (acc, e) => least(acc, struct(
        d2q(col(s"sub_$sub"), e.getField("_2")).as("dq"),
        e.getField("_1").as("j"))))
        .getField("j").as(s"c_$sub")
    }
    df.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** The compressed-index build pass: IVF cell + PQ codes of every corpus
    * vector in ONE map-only projection (both are codegen'd row-local
    * expressions — see [[assignBest]] / [[pqEncode]]). This is the pass
    * that runs over the full 100 TB corpus, and being stateless it
    * composes unchanged onto a streaming source (a continuously-ingesting
    * index build). Returns (vec_id, cid, codes). */
  def pqCells(corpus: DataFrame, centroids: DataFrame, sample: DataFrame,
              m: Int = 8, idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    val s = centroids.sparkSession
    import s.implicits._
    val cenArr = centroids
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val (_, books) = pqBooks(sample, m, idCol, embCol)
    corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce"))
      .select(col("vec_id"),
        graft.exprs.NearestCentroid.best(col("ce"), cenArr).getField("cid").as("cid"),
        graft.exprs.PqCodes.codes(col("ce").cast("array<double>"), books).as("codes"))
  }

  /** [[pqBooks]] for the sibling [[PqIndex]] builder. */
  private[graft] def pqBooksFor(sample: DataFrame, m: Int, idCol: String,
                                embCol: String): (Int, IndexedSeq[Seq[(Long, Seq[Double])]]) =
    pqBooks(sample, m, idCol, embCol)

  /** IVF-PQ top-k: the inverted-file probe bounds WHICH vectors are
    * scored ([[ivfTopK]]'s cell assignment — max-cosine centroid, queries
    * probe `nprobe` cells) and PQ asymmetric distance computation bounds
    * WHAT is read per vector — the query precomputes one m×ks table of
    * quantized subspace distances to every codebook entry, and each
    * corpus vector scores as an exact BIGINT sum of m table lookups on
    * its codes. Codes + the small probe join are the only data touched:
    * at 100 TB the float embeddings never leave the encode pass.
    *
    * Determinism: table entries are [[d2q]] integers, the per-vector sum
    * is exact integer arithmetic, ranking orders by (adistq, vec_id) —
    * no FP anywhere past the table build. `adist` = adistq/1e6 is the
    * same division of the same integer on any engine. Recall < 1 by
    * design (quantization + probe set); measure it like [[q_ann_recall]]
    * before trusting a parameterization. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                sample: DataFrame, k: Int, nprobe: Int = 2, m: Int = 8,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val idx = PqIndex.build(centroids, sample, m, idCol, embCol)
    // corpus side: [[pqCells]] — IVF cell + PQ codes in ONE projection;
    // a vec_id self-join between the two row-local columns would be a
    // pure shuffle tax (and was: the original two-pass form paid a
    // SortMergeJoin plus double expression evaluation)
    idx.search(queries, idx.encode(corpus, idCol, embCol), k, nprobe, idCol, embCol)
  }

  /** IVF residuals — the encode-side half of IVFADC proper (Jégou, Douze,
    * Schmid 2011 §V: quantize the residual r(x) = x − q1(x), not x):
    * every vector is assigned its max-cosine coarse cell (the
    * [[assignBest]] codegen fold) and re-expressed as the residual
    * against that centroid. Residuals concentrate around the origin even
    * when the raw corpus does not — exactly the structure a product
    * quantizer can exploit; q_pq_recall_residual measures what that buys
    * over raw-vector codes. Map-only: the centroid table rides in as two
    * literals (the argmax array + a cid-keyed map for the subtraction);
    * zero shuffle, and like [[pqCells]] it composes onto a streaming
    * source unchanged. Returns (vec_id, cid, re: array<double>).
    *
    * Dimension-mismatched vectors are EXCLUDED deterministically (the
    * PqCodes quarantine convention): zip_with would null-pad a short
    * embedding to centroid length, silently defeating the downstream
    * short-vector null-codes guard and corrupting ADC ranks. */
  def ivfResiduals(corpus: DataFrame, centroids: DataFrame,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val s = centroids.sparkSession
    import s.implicits._
    val cenArr = centroids
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    require(cenArr.nonEmpty, "centroid set is empty")
    val cenMap = typedlit(cenArr.toMap)
    corpus.select(col(idCol).as("vec_id"), col(embCol).cast("array<double>").as("ce"))
      .where(size(col("ce")) === lit(cenArr.head._2.length))
      .withColumn("cid", graft.exprs.NearestCentroid.best(col("ce"), cenArr).getField("cid"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("ce"), element_at(cenMap, col("cid")), (x, c) => x - c).as("re"))
  }

  /** Residual IVF-PQ ADC top-k — IVFADC as published: corpus codes
    * quantize the residual x − c(cell) ([[ivfResiduals]]), and each query
    * builds per-PROBED-CELL distance tables from its own residual against
    * that cell's centroid — nprobe table builds per query instead of one,
    * the paper's accuracy/cost trade, with each table still O(m·ks)
    * integers. Distances remain exact BIGINT sums of m lookups and
    * ranking orders by (adistq, vec_id): nothing past the table build is
    * FP, so the whole pipeline replays bit-exactly in oracle SQL.
    *
    * `sample` must be a RESIDUAL-space codebook table with (idCol, embCol)
    * columns — an id-sample of [[ivfResiduals]] rows, or [[pqTrain]] run
    * over them (the trained gate path). */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                        sample: DataFrame, k: Int, nprobe: Int = 2, m: Int = 8,
                        idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val idx = PqIndex.build(centroids, sample, m, idCol, embCol)
    idx.searchResidual(queries,
      idx.encodeResidual(corpus, idCol, embCol), k, nprobe, idCol, embCol)
  }
}

/** A built IVF-PQ index: quantizer and codebooks collected ONCE and
  * reusable across encode and search calls — the deployment shape where
  * the coded table is computed once ([[encode]]), PERSISTED (it is plain
  * (vec_id, cid, codes) columns — parquet round-trips it), and searched
  * many times ([[search]]) without re-collecting the quantizer tables the
  * way each [[SimilarityFunctions.ivfPqTopK]] call does. Semantics are
  * identical to ivfPqTopK by construction (it routes through here). */
final class PqIndex private (val cenArr: Seq[(Long, Seq[Double])],
                             val books: IndexedSeq[Seq[(Long, Seq[Double])]],
                             val m: Int, val dsub: Int) extends Serializable {
  import SimilarityFunctions.{cosine, d2q}

  /** The compressed-index build pass over a corpus: (vec_id, cid, codes).
    * Map-only codegen'd expressions; composes onto streams unchanged. */
  def encode(corpus: DataFrame, idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce"))
      .select(col("vec_id"),
        graft.exprs.NearestCentroid.best(col("ce"), cenArr).getField("cid").as("cid"),
        graft.exprs.PqCodes.codes(col("ce").cast("array<double>"), books).as("codes"))

  /** ADC top-k of `queries` against a PREVIOUSLY ENCODED (vec_id, cid,
    * codes) table — e.g. [[encode]]'s output read back from parquet.
    *
    * Malformed rows are excluded deterministically, not ranked: a corpus
    * vector whose embedding length != m·dsub encodes to null codes
    * ([[graft.exprs.PqCodes]]'s quarantine convention) and a null adistq
    * would sort FIRST under the ascending rank window (Spark nulls-first),
    * displacing real neighbors — so null-coded rows are filtered before
    * scoring. Dimension-mismatched queries are dropped the same way. */
  def search(queries: DataFrame, coded: DataFrame, k: Int, nprobe: Int = 2,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cen = typedlit(cenArr)
    var q = queries.select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
      .where(size(col("qe")) === lit(m * dsub))
    for (sub <- 0 until m)
      q = q.withColumn(s"qsub_$sub", slice(col("qe"), sub * dsub + 1, dsub))
    // query side (small by contract): nprobe cells via the windowed argmax
    // (broadcast-sized, unlike the corpus fold), plus the ADC tables —
    // per subspace an array<long> indexed by code (books are j-ascending)
    val probes = q
      .select(Seq(col("qid"), col("qe"), explode(cen).as("c")) ++
        (0 until m).map(i => col(s"qsub_$i")): _*)
    val probed = probes
      .withColumn("ccos", round(cosine(col("qe"), col("c._2")), 6))
      .withColumn("cr", row_number().over(
        Window.partitionBy("qid").orderBy(col("ccos").desc, col("c._1"))))
      .where(col("cr") <= nprobe)
      .select(col("qid") +: col("c._1").as("cid") +:
        (0 until m).map { sub =>
          transform(typedlit(books(sub)),
            e => d2q(col(s"qsub_$sub"), e.getField("_2"))).as(s"dtab_$sub")
        }: _*)
    val adistq = (0 until m).map(sub =>
      element_at(col(s"dtab_$sub"), element_at(col("codes"), sub + 1).cast("int") + 1))
      .reduce(_ + _)
    val scored = coded.where(col("codes").isNotNull)
      .join(broadcast(probed), Seq("cid"))
      .where(col("qid") =!= col("vec_id"))
      .withColumn("adistq", adistq)
    val w = Window.partitionBy("qid").orderBy(col("adistq").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("vec_id"),
        (col("adistq") / 1e6).as("adist"), col("rank"))
  }

  /** Residual-IVFADC encode against THIS index's quantizer: codes
    * quantize x − c(cell). Only meaningful when the index was built with
    * RESIDUAL-space codebooks (an id-sample of
    * [[SimilarityFunctions.ivfResiduals]] rows or pqTrain over them) —
    * the raw-vector twin is [[encode]]. Map-only like encode.
    * Dimension-mismatched vectors are excluded like [[SimilarityFunctions
    * .ivfResiduals]] — zip_with null-padding would defeat the PqCodes
    * short-vector quarantine. */
  def encodeResidual(corpus: DataFrame, idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
    val cenMap = typedlit(cenArr.toMap)
    corpus.select(col(idCol).as("vec_id"), col(embCol).cast("array<double>").as("ce"))
      .where(size(col("ce")) === lit(cenArr.headOption.map(_._2.length).getOrElse(m * dsub)))
      .withColumn("cid",
        graft.exprs.NearestCentroid.best(col("ce"), cenArr).getField("cid"))
      .select(col("vec_id"), col("cid"),
        graft.exprs.PqCodes.codes(
          zip_with(col("ce"), element_at(cenMap, col("cid")), (x, c) => x - c),
          books).as("codes"))
  }

  /** Residual ADC top-k over a previously [[encodeResidual]]-coded table:
    * per-probed-cell integer distance tables from each query's own
    * residual (the [[SimilarityFunctions.ivfPqResidualTopK]] semantics,
    * planned from cached driver state — zero additional collect jobs, the
    * build-once contract). */
  def searchResidual(queries: DataFrame, coded: DataFrame, k: Int, nprobe: Int = 2,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    var pr = queries
      .select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
      .where(size(col("qe")) === lit(m * dsub))
      .select(col("qid"), col("qe"), explode(typedlit(cenArr)).as("c"))
      .withColumn("ccos", round(cosine(col("qe"), col("c._2")), 6))
      .withColumn("cr", row_number().over(
        Window.partitionBy("qid").orderBy(col("ccos").desc, col("c._1"))))
      .where(col("cr") <= nprobe)
      .withColumn("qre", zip_with(col("qe"), col("c._2"), (x, c) => x - c))
    for (sub <- 0 until m)
      pr = pr.withColumn(s"rsub_$sub", slice(col("qre"), sub * dsub + 1, dsub))
    val probed = pr.select(col("qid") +: col("c._1").as("cid") +:
      (0 until m).map { sub =>
        transform(typedlit(books(sub)),
          e => d2q(col(s"rsub_$sub"), e.getField("_2"))).as(s"dtab_$sub")
      }: _*)
    val adistq = (0 until m).map(sub =>
      element_at(col(s"dtab_$sub"), element_at(col("codes"), sub + 1).cast("int") + 1))
      .reduce(_ + _)
    val scored = coded.where(col("codes").isNotNull)
      .join(broadcast(probed), Seq("cid"))
      .where(col("qid") =!= col("vec_id"))
      .withColumn("adistq", adistq)
    val w = Window.partitionBy("qid").orderBy(col("adistq").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("vec_id"),
        (col("adistq") / 1e6).as("adist"), col("rank"))
  }
}

/** A built two-level IVF quantizer: BOTH levels collected once (the
  * coarse array and the per-coarse-cell fine map) and reusable across
  * assignment passes — [[SimilarityFunctions.ivf2Assign]] is the one-shot
  * convenience that builds-and-assigns in one call; hold this object when
  * assigning repeatedly (a continuously-ingesting index build, per-batch
  * streaming assignment). `assign` plans from cached driver state with
  * ZERO Spark jobs — the [[PqIndex]] contract. */
final class Ivf2Index private (val coarseArr: Seq[(Long, Seq[Double])],
                               val fineByCell: Map[Long, Seq[(Long, Seq[Double])]])
    extends Serializable {

  /** Two-level max-cosine assignment of `corpus`: map-only, zero shuffle
    * (both argmaxes are codegen'd row-local folds — see
    * [[SimilarityFunctions.ivf2Assign]]'s scaladoc for the scale story).
    * Returns (vec_id, cid, ccos, fid, fcos). */
  def assign(corpus: DataFrame, idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame =
    SimilarityFunctions.assignBestFor(
        corpus.select(col(idCol).as("vec_id"), col(embCol).as("ce")), coarseArr)
      .withColumn("fb",
        graft.exprs.NearestCentroidByCell.best(col("ce"), col("cid"), fineByCell))
      .select(col("vec_id"), col("cid"), col("ccos"),
        col("fb.fid").as("fid"), col("fb.fcos").as("fcos"))
}

object Ivf2Index {
  /** Collect both quantizer levels once: the coarse centroids, and the
    * fine centroids grouped by their max-cosine coarse cell (the fine →
    * coarse assignment itself runs the codegen fold — quantizer-sized
    * work). */
  def build(coarse: DataFrame, fine: DataFrame, idCol: String = "vec_id",
            embCol: String = "embedding"): Ivf2Index = {
    val s = coarse.sparkSession
    import s.implicits._
    val coarseArr = coarse
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val fineByCell: Map[Long, Seq[(Long, Seq[Double])]] =
      SimilarityFunctions.assignBestFor(
        fine.select(col(idCol).as("vec_id"), col(embCol).cast("array<double>").as("ce")),
        coarseArr)
      .select(col("cid"), col("vec_id"), col("ce"))
      .as[(Long, Long, Seq[Double])].collect()
      .groupBy(_._1).map { case (c, rs) =>
        c -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq }
    new Ivf2Index(coarseArr, fineByCell)
  }
}

object PqIndex {
  /** Collect the quantizer + codebooks once. `sample` may be a raw
    * id-sample or a [[SimilarityFunctions.pqTrain]]-ed codebook table. */
  def build(centroids: DataFrame, sample: DataFrame, m: Int = 8,
            idCol: String = "vec_id", embCol: String = "embedding"): PqIndex = {
    val s = centroids.sparkSession
    import s.implicits._
    val cenArr = centroids
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val (dsub, books) = SimilarityFunctions.pqBooksFor(sample, m, idCol, embCol)
    new PqIndex(cenArr, books, m, dsub)
  }
}
