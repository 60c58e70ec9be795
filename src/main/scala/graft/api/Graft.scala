package graft.api

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Backend, NdTensor}
import graft.functions.{TensorFunctions, TextFunctions}

/** User-facing facade with the reference's call shapes: scalar-or-sequence
  * parameters broadcast against an `axis` argument
  * (/root/reference/imops/utils.py:117-154), order/fill_value keywords, and
  * backend dispatch via `spark.graft.backend` (the `set_backend` analog).
  *
  * Each function returns a Column over tensor rows (`data` + `shape`), so
  * calls compose inside one Spark projection exactly like chained reference
  * calls compose in memory — and WholeStageCodegen fuses the builtin path.
  */
object Graft {

  /** zoom(x, scale_factor, axis, order, fill_value)
    * (/root/reference/imops/zoom.py:72-126). `scaleFactor` broadcasts over
    * `axis`; unlisted axes keep scale 1 — resolved at plan time like the
    * reference's frontend normalization. */
  def zoom(data: Column, shape: Column, rank: Int,
           scaleFactor: Either[Double, Seq[Double]], axis: Seq[Int] = Seq(),
           order: Int = 1, fillValue: Double = 0.0): Column = {
    val scales = NdTensor.broadcastParam(rank, scaleFactor, axis, default = 1.0)
    graft.exprs.Kernels.zoom(data, shape, array(scales.map(lit): _*), lit(order), lit(fillValue))
  }

  /** zoom_to_shape (/root/reference/imops/zoom.py:129-188). */
  def zoomToShape(data: Column, shape: Column, target: Seq[Int], order: Int = 1): Column =
    graft.exprs.Kernels.zoomToShape(data, shape, array(target.map(lit): _*), lit(order))

  /** pointwise_add with scalar or same-shape array summand
    * (/root/reference/imops/numeric.py:99-192). */
  def pointwiseAdd(data: Column, summand: Double): Column =
    TensorFunctions.pointwiseAdd(data, summand)
  def pointwiseAdd(a: Column, b: Column): Column =
    TensorFunctions.pointwiseAddArray(a, b)

  def fill(data: Column, value: Double): Column = TensorFunctions.fillArray(data, value)
  def full(size: Column, value: Double): Column = TensorFunctions.fullArray(size, value)

  def padToShape(data: Column, target: Int, ratio: Double = 0.5, value: Double = 0.0): Column =
    TensorFunctions.padToShape(data, target, ratio, value)
  def padToDivisible(data: Column, divisor: Int, value: Double = 0.0): Column =
    TensorFunctions.padToDivisible(data, divisor, value)
  def cropToShape(data: Column, target: Int, ratio: Double = 0.5): Column =
    TensorFunctions.cropToShape(data, target, ratio)

  /** Default-cross morphology; closing and opening run both passes in one
    * kernel call per row. */
  def binaryErosion(mask: Column, shape: Column): Column = morph(mask, shape, dilation = false, thenDual = false)
  def binaryDilation(mask: Column, shape: Column): Column = morph(mask, shape, dilation = true, thenDual = false)
  def binaryClosing(mask: Column, shape: Column): Column = morph(mask, shape, dilation = true, thenDual = true)
  def binaryOpening(mask: Column, shape: Column): Column = morph(mask, shape, dilation = false, thenDual = true)
  private def morph(mask: Column, shape: Column, dilation: Boolean, thenDual: Boolean) =
    graft.exprs.Kernels.morph(mask, shape, lit(dilation), lit(thenDual))
  def distanceTransformEdt(mask: Column, shape: Column, sampling: Seq[Double]): Column =
    graft.exprs.Kernels.edt(mask, shape, array(sampling.map(lit): _*))
  def convexHullImage(mask: Column, shape: Column): Column = graft.exprs.Kernels.hull(mask, shape)
  def label(data: Column, shape: Column, background: Double = 0.0, connectivity: Int = -1): Column =
    graft.exprs.Kernels.label(data, shape, lit(background), lit(connectivity))
  def radon(data: Column, size: Int, thetaDeg: Seq[Double]): Column =
    graft.exprs.Kernels.radon(data, lit(size), array(thetaDeg.map(lit): _*))
  /** `radon(..., return_fill=True)` (/root/reference/imops/radon.py:16-102):
    * struct of (sinogram, outside-circle fill) from one validation pass. */
  def radonWithFill(data: Column, size: Int, thetaDeg: Seq[Double]): Column =
    graft.exprs.Kernels.radonWithFill(data, lit(size), array(thetaDeg.map(lit): _*))
  def inverseRadon(sino: Column, size: Int, thetaDeg: Seq[Double], fillValue: Double = 0.0): Column =
    inverseRadonFiltered(sino, size, thetaDeg, fillValue, a = 0.0, b = 1.0)

  /** Filtered backprojection with the smooth/sharpen filter family
    * `ramp*(1 + a*ramp^b)` (/root/reference/imops/radon.py:235-237). */
  def inverseRadonFiltered(sino: Column, size: Int, thetaDeg: Seq[Double],
                           fillValue: Double, a: Double, b: Double): Column =
    graft.exprs.Kernels.inverseRadon(sino, lit(size), array(thetaDeg.map(lit): _*),
      lit(fillValue), lit(a), lit(b))

  /** Slice-distributed 3-D zoom — the cluster path for the reference's
    * headline trilinear volume zoom (/root/reference/README.md:25) when
    * the volume is stored as axis-0 slice rows rather than one array.
    * Bit-identical to the in-row kernel (VolumeZoomSpec). Returns the
    * serialized (id, sid, data) frame: VolumeZoom reuses one output buffer
    * per stripe group, which only a serialization boundary makes safe for
    * every consumer (`.rdd`, `collect`, typed operators alike). */
  def zoomVolume(slices: org.apache.spark.sql.Dataset[graft.operators.VolumeZoom.ZSlice],
                 dims: Array[Int], scale: Array[Double], order: Int = 1)
                : org.apache.spark.sql.DataFrame =
    graft.operators.VolumeZoom(slices, dims, scale, order)(slices.sparkSession).toDF()

  /** Distributed 3-D connected-components over tiled boolean volumes — the
    * cluster path for the reference's `label` on volumes too large for one
    * row (/root/reference/imops/measure.py:33-137). `connectivity` 1..3
    * maps to cc3d 6/18/26 like the reference. Returns (global flat index,
    * label) with the kernel's scan-order label numbering.
    *
    * The kernel runs twice per tile: once to find the cross-tile merges,
    * once to write the labels. Only the O(surface) border and component
    * rows are cached, never one row per voxel. While the merge graph fits
    * the driver, the call is three single-stage jobs with no shuffle. The
    * result is materialized before this returns (a local checkpoint that
    * Spark frees once the frame is unreachable); there is nothing to
    * unpersist, and a persisted `tiles` keeps its cache. */
  def labelVolume(tiles: org.apache.spark.sql.Dataset[graft.operators.TiledStencil.Tile3],
                  tileSize: Int, grid: Array[Int], connectivity: Int = 1)
                 : org.apache.spark.sql.DataFrame =
    graft.operators.DistributedLabel.apply3(tiles, tileSize, grid, connectivity)(
      tiles.sparkSession)

  /** 2-D counterpart of [[labelVolume]]: distributed connected components
    * over tiled boolean masks. `connectivity` 1 (cross, skimage conn-1) or
    * 2 (8-adjacency; corner cells of four tiles can meet diagonally).
    *
    * The same code as [[labelVolume]]: the kernel runs twice per tile, only
    * O(perimeter) rows are cached, the driver route is three single-stage
    * jobs with no shuffle, and the result is materialized before this
    * returns; there is nothing to unpersist. */
  def labelImage(tiles: org.apache.spark.sql.Dataset[graft.operators.TiledStencil.Tile],
                 tileSize: Int, gridRows: Int, gridCols: Int, connectivity: Int = 1)
                : org.apache.spark.sql.DataFrame =
    graft.operators.DistributedLabel(tiles, tileSize, gridRows, gridCols, connectivity)(
      tiles.sparkSession)

  /** Whole-volume center of mass `(com_s, com_i, com_j)` over a DataFrame
    * of (sliceIdx, rows×cols row-major array) slices — the facade analog of
    * the reference's `center_of_mass` on a 3-D volume
    * (imops/measure.py, src/_measure.pyx:73-91).
    *
    * Every call runs the single-pass codegen'd ComPartialSums plan over
    * `df` as it stands, cached or not: one scan, no state kept between
    * calls and nothing left persisted. Per-slice partials share VolumeCom's
    * layout, so they are bit-identical to it; the final merge order is
    * scheduler-dependent (see ROUND_NOTES r3 lesson 6). */
  def centerOfMass(df: org.apache.spark.sql.DataFrame, sliceIdxCol: String, dataCol: String,
                   rows: Int, cols: Int): Array[Double] = {
    val row = graft.exprs.ComPartialSums.centerOfMassVolume(
      df, col(dataCol), lit(rows), lit(cols), col(sliceIdxCol)).collect()(0)
    if (row.isNullAt(0)) null
    else Array(row.getDouble(0), row.getDouble(1), row.getDouble(2))
  }

  /** Scattered 2-D linear interpolation — the facade analog of the
    * reference's `Linear2DInterpolator` call shape
    * (imops/interp2d.py:12-121), with automatic scale
    * routing: sample sets within the driver cap take
    * the broadcast-triangulation path (one build, zero-shuffle query side —
    * fastest when the surface fits one machine, which is the reference's
    * only mode); larger sets take the tiled per-executor triangulation
    * (no driver collect; `tileSize`/`halo` bound replication and seam
    * error — see TiledScatteredInterp's seam contract). */
  def interp2d(points: org.apache.spark.sql.DataFrame, pxCol: String, pyCol: String, pvCol: String,
               queries: org.apache.spark.sql.DataFrame, qIdCol: String, qxCol: String, qyCol: String,
               outCol: String, fill: Double,
               tileSize: Double = 64.0, halo: Double = 16.0): org.apache.spark.sql.DataFrame = {
    val cap = graft.operators.ScatteredInterp.MaxDriverPoints
    val small = points.limit(cap + 1).count() <= cap
    if (small)
      graft.operators.ScatteredInterp(points, pxCol, pyCol, pvCol,
        queries, qxCol, qyCol, outCol, fill)
    else
      graft.operators.TiledScatteredInterp(points, pxCol, pyCol, pvCol,
        queries, qIdCol, qxCol, qyCol, outCol, fill, tileSize, halo)(points.sparkSession)
  }

  /** Near-duplicate candidate pairs over a document DataFrame — the
    * reusable form of the q_lsh_pairs pipeline: exact dups collapse to one
    * representative, minhash signatures band via posexplode, buckets wider
    * than `bucketCap` are dropped (LshBlocking), and the banded self-join
    * emits distinct `(id1, id2)` candidates with `id1 < id2`. */
  def nearDupCandidates(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                        bands: Int = 4, shingle: Int = 3,
                        bucketCap: Int = 64): org.apache.spark.sql.DataFrame = {
    val reps = graft.operators.LshBlocking.collapseExact(docs, idCol, textCol)
    val banded = reps
      .select(col(idCol), TextFunctions.minhashSigUdf.asNondeterministic()(
        col(textCol), lit(bands), lit(shingle)).as("sig"))
      .select(col(idCol), posexplode(col("sig")).as(Seq("band", "h")))
    graft.operators.LshBlocking.candidatePairs(banded, "band", "h", idCol, bucketCap)
      .distinct()
  }

  /** Full near-dup clustering: every document mapped to its cluster's min
    * id plus the cluster size — the "drop all but one per cluster"
    * primitive, as API (the q_dedup_clusters pipeline): candidates from
    * [[nearDupCandidates]], connected components via GraphCC's min-label
    * fixpoint over the representatives, exact-dup members re-attached
    * through the content-hash rep mapping. */
  def dedupClusters(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    bands: Int = 4, shingle: Int = 3,
                    bucketCap: Int = 64): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val reps = graft.operators.LshBlocking.collapseExact(docs, idCol, textCol)
    val pairs = nearDupCandidates(docs, idCol, textCol, bands, shingle, bucketCap)
    val labels = graft.operators.GraphCC.minLabels(
      reps.select(col(idCol).cast("long")).as[Long].rdd,
      pairs.select(col("id1").cast("long"), col("id2").cast("long")).as[(Long, Long)].rdd)(s)
    val comp = labels.toDF("rep_id", "cluster")
    val docComp = graft.operators.LshBlocking.repMapping(docs, idCol, textCol)
      .join(comp, Seq("rep_id"))
      .select(col(idCol), col("cluster"))
    docComp.join(docComp.groupBy("cluster").agg(count(lit(1)).as("cluster_size")), Seq("cluster"))
      .select(col(idCol), col("cluster"), col("cluster_size"))
  }

  /** Leakage-safe train/eval split: the split decision hashes the near-dup
    * CLUSTER label, not the document id, so a document and its near
    * duplicates always land on the same side — the guard against
    * train/eval contamination through paraphrase-level duplicates that a
    * per-document split cannot give. Deterministic (md5-prefix percentage
    * like [[graft.functions.SketchFunctions.bernoulliSample]]) and
    * re-run-stable. Returns (idCol, cluster, split) with split ∈
    * {"train", "eval"}; expected eval mass ≈ evalPct% of CLUSTERS (use
    * cluster-size weighting downstream if you need doc-mass balance). */
  def leakageSafeSplit(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       evalPct: Int, bands: Int = 4, shingle: Int = 3,
                       bucketCap: Int = 64): org.apache.spark.sql.DataFrame =
    dedupClusters(docs, idCol, textCol, bands, shingle, bucketCap)
      .select(col(idCol), col("cluster"),
        when(graft.functions.SketchFunctions.hashPct(col("cluster")) < evalPct, "eval")
          .otherwise("train").as("split"))

  /** Per-cluster representative selection with a caller-supplied policy:
    * one row per near-dup cluster, the kept doc chosen by `orderBy` (the
    * first row of each cluster under that ordering; default longest text,
    * ties to min id — "best of cluster" instead of the min-id default the
    * cluster label itself encodes). One window over the cluster key on top
    * of [[dedupClusters]]'s assignment (the q_cluster_rep pipeline as
    * API). */
  def clusterRepresentatives(docs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String,
                             orderBy: Seq[Column] = Nil,
                             bands: Int = 4, shingle: Int = 3,
                             bucketCap: Int = 64): org.apache.spark.sql.DataFrame = {
    val ord = if (orderBy.nonEmpty) orderBy
      else Seq(length(col(textCol)).desc, col(idCol).asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(ord: _*)
    dedupClusters(docs, idCol, textCol, bands, shingle, bucketCap)
      .join(docs, Seq(idCol))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** Bloom-filter decontamination: the fixed-memory variant of
    * [[decontaminate]] for many/large eval benchmarks. The eval side
    * builds an `mbits`-bit bitset (distributed bitwise-or; mergeable), the
    * training side tests each gram with builtin bit arithmetic against the
    * filter shipped in the plan — map-only, no shuffle of the corpus, and
    * executor memory is mbits/8 bytes no matter how many eval grams.
    * Counts include the filter's (deterministic) false positives; size
    * mbits ≈ 10× expected distinct eval grams for ~1% FP at k=3. */
  def bloomDecontaminate(train: org.apache.spark.sql.DataFrame,
                         eval: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String, n: Int = 5,
                         mbits: Int = 1 << 20, k: Int = 3): org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
        .select(col(idCol), explode(TextFunctions.wordGrams(col("toks"), n)).as("g"))
        .select(col(idCol), md5(col("g")).as("gram_h")).distinct()
    val bits = graft.functions.SketchFunctions.bloomBuild(
      grams(eval).select("gram_h"), col("gram_h"), mbits, k)
    grams(train)
      .where(graft.functions.SketchFunctions.bloomContains(bits, col("gram_h"), mbits, k))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_bloom_hits"))
  }

  /** Mergeable approximate distinct count per group (deterministic
    * HyperLogLog, p=4): see SketchFunctions.hllEstimate. */
  def approxDistinct(df: org.apache.spark.sql.DataFrame, key: Column,
                     groupCols: Seq[Column]): org.apache.spark.sql.DataFrame =
    graft.functions.SketchFunctions.hllEstimate(df, key, groupCols)

  /** Approximate quantiles per group from a deterministic k-row min-hash
    * sample (O(k) state per group): see SketchFunctions.sampledQuantiles. */
  def approxQuantiles(df: org.apache.spark.sql.DataFrame, key: Column, value: Column,
                      k: Int, groupCols: Seq[Column],
                      ps: Seq[Double]): org.apache.spark.sql.DataFrame =
    graft.functions.SketchFunctions.sampledQuantiles(df, key, value, k, groupCols, ps)

  /** At most k rows per group, the k smallest (ord, tie) — the
    * bounded-heap exprs.TopKAgg: works in streaming groupBys (state
    * bounded at groups·k; window functions are unsupported there) and
    * composes with sibling aggregates in one pass. See
    * SketchFunctions.topKPerGroup for the determinism contract. */
  def topKPerGroup(df: org.apache.spark.sql.DataFrame, groupCols: Seq[Column],
                   ord: Column, tie: Column, k: Int): org.apache.spark.sql.DataFrame =
    graft.functions.SketchFunctions.topKPerGroup(df, groupCols, ord, tie, k)

  /** Sequence packing: assign documents to fixed token-budget training
    * chunks (seq_id = floor(tokens-before / maxTokens) in id order) via the
    * distributed two-phase prefix scan (operators.PrefixSum) — never a
    * single-partition global window. The document-level sharding step of a
    * tokenize-and-concat training pipeline. */
  def packSequences(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, maxTokens: Int,
                    numParts: Int = 0): org.apache.spark.sql.DataFrame = {
    implicit val s: SparkSession = docs.sparkSession
    val parts = if (numParts > 0) numParts else s.sparkContext.defaultParallelism
    val toks = docs.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.exclusive(toks, idCol, "n_tokens", parts)
      .select(col(idCol), col("n_tokens"),
        (col("cum") / maxTokens).cast("long").as("seq_id"))
  }

  /** [[packSequences]] over a DETERMINISTIC corpus shuffle: the training
    * order is a total order on an md5-derived key composed with the id
    * into a unique long ((h << 32) | id — collision-free), so re-running
    * the pipeline yields byte-identical batch assignments on any engine
    * or cluster layout, while documents land in hash-pseudo-random order
    * (the reproducible-shuffle step before LM training). Same two-phase
    * scan shape — one range-partitioned sort shuffle, O(partitions)
    * driver partials. Requires ids in [0, 2^32). */
  def packShuffled(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, maxTokens: Int,
                   numParts: Int = 0): org.apache.spark.sql.DataFrame = {
    implicit val s: SparkSession = docs.sparkSession
    val parts = if (numParts > 0) numParts else s.sparkContext.defaultParallelism
    val lens = docs.select(
      (conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10).cast("long") *
        lit(4294967296L) + col(idCol)).as("ord"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.exclusive(lens, "ord", "n_tokens", parts)
      .select((col("ord") % 4294967296L).as(idCol), col("n_tokens"),
        (col("cum") / maxTokens).cast("long").as("seq_id"))
  }

  /** One-call corpus summary (volume, exact-dup rate, language spread) as
    * a single declarative plan — the q_corpus_report pipeline as API. */
  def corpusReport(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, langCol: String): org.apache.spark.sql.DataFrame = {
    val overall = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
      countDistinct(md5(col(textCol))).as("n_distinct_texts"),
      countDistinct(col(langCol)).as("n_langs"))
    val top = docs.groupBy(langCol).agg(count(lit(1)).as("c"))
      .agg(max(struct(col("c"), col(langCol).as("lang"))).as("m"))
      .select(col("m.lang").as("top_lang"), col("m.c").as("top_lang_docs"))
    overall.crossJoin(broadcast(top))
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs"), 4))
  }

  /** Overlapping token-window chunking (RAG / long-document training
    * prep): windows of `size` tokens advancing by `stride`. Pure builtin
    * array ops — stateless map, no shuffle. Returns (id, chunk_id,
    * chunk). */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                size: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride >= 1 && size >= stride, s"need size >= stride >= 1, got $size/$stride")
    docs
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), col("toks"),
        org.apache.spark.sql.functions.size(col("toks")).as("n"))
      .select(col(idCol), col("toks"),
        explode(sequence(lit(1),
          greatest(col("n") - (size - stride), lit(1)), lit(stride))).as("start"))
      .select(col(idCol), ((col("start") - 1) / stride).cast("long").as("chunk_id"),
        array_join(slice(col("toks"), col("start"), lit(size)), " ").as("chunk"))
  }

  /** Content-defined chunks per document (FastCDC-style, token
    * granularity): boundaries follow the local gram hash, so chunk
    * identity survives token insertions that re-align every fixed-stride
    * window (contrast [[chunkDocs]]). Returns (id, k, chunk) with k the
    * 1-based chunk index. See TextFunctions.cdcChunks for the boundary
    * rule and scale shape. */
  def cdcChunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, modulus: Int = 4): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol),
        posexplode(TextFunctions.cdcChunks(col("toks"), modulus)).as(Seq("k0", "chunk")))
      .select(col(idCol), (col("k0") + 1).cast("long").as("k"), col("chunk"))

  /** Chunk-granularity corpus dedup over [[cdcChunkDocs]] segments: each
    * distinct chunk text keeps its first (id, k) occurrence corpus-wide
    * and documents are rebuilt from surviving chunks — paragraph-style
    * dedup for corpora without paragraph marks. One shuffle on the chunk
    * text. Returns (id, n_chunks, n_kept, deduped_text). */
  def cdcDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, modulus: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = cdcChunkDocs(docs, idCol, textCol, modulus)
    val w = Window.partitionBy(col("chunk")).orderBy(col(idCol), col("k"))
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("rn") === 1, struct(col("k"), col("chunk"))))),
          r => r.getField("chunk")), " ").as("deduped_text"))
  }

  /** All-pairs sparse cosine over bag-of-terms vectors with rare-term
    * candidate blocking — the similarity join for token-level (rather than
    * embedding) representations. `termGrams` controls the vocabulary
    * granularity (word n-grams); see operators.SparseSimJoin for the
    * blocking contract and the df² per-term scale bound. */
  def sparseCosinePairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, termGrams: Int = 3, maxDf: Int = 8,
                        minCosine: Double = 0.05): org.apache.spark.sql.DataFrame = {
    val posts = docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), explode(TextFunctions.wordGrams(col("toks"), termGrams)).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    graft.operators.SparseSimJoin(posts, idCol, "term", "tf", maxDf, minCosine)
  }

  /** Exact edit-distance pairs (Levenshtein <= d) between two string
    * tables — record-linkage / near-identical-key matching. PassJoin
    * partition blocking keeps it one equi-join + residual verify, never
    * all-pairs; see operators.FuzzyJoin for the pigeonhole contract and
    * the low-entropy-corpus caveat. Returns (id1, id2, dist). */
  def fuzzyPairs(left: org.apache.spark.sql.DataFrame, leftId: String, leftStr: String,
                 right: org.apache.spark.sql.DataFrame, rightId: String, rightStr: String,
                 maxDist: Int = 1): org.apache.spark.sql.DataFrame =
    graft.operators.FuzzyJoin.edJoin(left, right, maxDist,
      leftId, leftStr, rightId, rightStr)

  /** Fuzzy-key dedup clusters: connected components of the Levenshtein-
    * <= maxDist pair graph (the [[fuzzyPairs]] × GraphCC composition —
    * record linkage's transitive-closure step). Cluster label = min id of
    * the component. Returns (id, cluster, cluster_size). */
  def fuzzyDedupClusters(df: org.apache.spark.sql.DataFrame, idCol: String,
                         strCol: String, maxDist: Int = 1): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("nm"))
    val pairs = graft.operators.FuzzyJoin.edJoin(
        base.select(col("id").as("id1"), col("nm").as("s1")),
        base.select(col("id").as("id2"), col("nm").as("s2")), maxDist)
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val labels = graft.operators.GraphCC.minLabels(
      base.select(col("id")).as[Long].rdd,
      pairs.as[(Long, Long)].rdd)(s)
    val comp = base.select(col("id")).join(labels.toDF("id", "cluster"), Seq("id"))
    comp.join(comp.groupBy("cluster").agg(count(lit(1)).as("cluster_size")), Seq("cluster"))
      .select(col("id"), col("cluster"), col("cluster_size"))
  }

  /** Product-quantization codes for an embedding column — m codebook
    * indices per vector (one byte each at <= 256 entries; 32× compression
    * of a 64-float embedding). `sample` is the codebook source (train
    * per-subspace k-means offline at real scale); encode is a map-only
    * fold. Returns (vec_id, codes). */
  def pqCompress(corpus: org.apache.spark.sql.DataFrame,
                 sample: org.apache.spark.sql.DataFrame, m: Int = 8,
                 idCol: String = "vec_id", embCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    graft.functions.SimilarityFunctions.pqEncode(corpus, sample, m, idCol, embCol)
      .select(col("vec_id"), col("codes"))

  /** Per-subspace Lloyd training of PQ codebooks — returns a codebook
    * table shaped like a sample (rank id + concatenated subvectors),
    * passed straight as the `sample` of [[pqCompress]] / [[ivfPqSearch]].
    * Measure what training buys with the q_pq_recall harness. */
  def pqTrainCodebooks(corpus: org.apache.spark.sql.DataFrame,
                       init: org.apache.spark.sql.DataFrame, m: Int = 8,
                       iters: Int = 2, idCol: String = "vec_id",
                       embCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    graft.functions.SimilarityFunctions.pqTrain(corpus, init, m, iters, idCol, embCol)

  /** IVF-PQ approximate top-k — the compressed-index ANN search: IVF
    * probe bounds the candidate cells, PQ asymmetric-distance tables make
    * each candidate m integer lookups. See SimilarityFunctions.ivfPqTopK;
    * measure recall (q_ann_recall pattern) before trusting parameters. */
  def ivfPqSearch(queries: org.apache.spark.sql.DataFrame,
                  corpus: org.apache.spark.sql.DataFrame,
                  centroids: org.apache.spark.sql.DataFrame,
                  sample: org.apache.spark.sql.DataFrame, k: Int,
                  nprobe: Int = 2, m: Int = 8,
                  idCol: String = "vec_id", embCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    graft.functions.SimilarityFunctions.ivfPqTopK(
      queries, corpus, centroids, sample, k, nprobe, m, idCol, embCol)

  /** Residual IVF-PQ search (IVFADC as published): corpus codes quantize
    * x − c(cell) and queries build per-probed-cell distance tables from
    * their own residuals. `sample` must be a RESIDUAL-space codebook —
    * an id-sample of [[ivfResiduals]] rows or [[pqTrainCodebooks]] run
    * over them. Whether residuals beat raw codes is corpus-dependent:
    * measure with the q_pq_recall_residual harness (on the structure-free
    * synthetic corpus they LOSE — see the gate's notes). */
  def ivfPqResidualSearch(queries: org.apache.spark.sql.DataFrame,
                          corpus: org.apache.spark.sql.DataFrame,
                          centroids: org.apache.spark.sql.DataFrame,
                          sample: org.apache.spark.sql.DataFrame, k: Int,
                          nprobe: Int = 2, m: Int = 8,
                          idCol: String = "vec_id", embCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    graft.functions.SimilarityFunctions.ivfPqResidualTopK(
      queries, corpus, centroids, sample, k, nprobe, m, idCol, embCol)

  /** Residual pass of IVFADC — (vec_id, cid, re): each vector minus its
    * max-cosine coarse centroid, map-only (composes onto streams). */
  def ivfResiduals(corpus: org.apache.spark.sql.DataFrame,
                   centroids: org.apache.spark.sql.DataFrame,
                   idCol: String = "vec_id", embCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    graft.functions.SimilarityFunctions.ivfResiduals(corpus, centroids, idCol, embCol)

  /** Fixed-point EWMA (alpha = 1/2) per key over a non-negative value
    * series: values scale to 1e-6 BIGINTs and fold through
    * s := (s + x) >> 1 in event-time order — bit-exact, re-run-stable
    * state per key is one long. Returns (key, n, ewma_fp). */
  def ewmaFixedPoint(events: org.apache.spark.sql.DataFrame, keyCol: String,
                     tsCol: String, valueCol: String): org.apache.spark.sql.DataFrame =
    events
      .select(col(keyCol), col(tsCol).as("ts"),
        floor(col(valueCol) * 1000000 + 0.5).cast("long").as("x"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("ts"), col("x")))).as("arr"))
      .select(col(keyCol), col("n"),
        aggregate(expr("slice(arr, 2, size(arr) - 1)"),
          get(col("arr"), lit(0)).getField("x"),
          (acc, r) => shiftright(acc + r.getField("x"), 1)).as("ewma_fp"))

  /** Per-vertex triangle counts over an undirected edge list — community /
    * spam-density signal for graph-shaped curation (link graphs, citation
    * graphs, the co-activity graph the PageRank facade consumes). See
    * operators.TriangleCount for the degree-ordered O(m^1.5) bound. The
    * result is materialized before this returns; there is nothing to
    * unpersist. */
  def triangleCounts(edges: org.apache.spark.sql.DataFrame, srcCol: String,
                     dstCol: String): org.apache.spark.sql.DataFrame =
    graft.operators.TriangleCount(edges, srcCol, dstCol)

  /** k-core of an undirected edge list: iterative peel to the maximal
    * subgraph of min-degree k (density filter — see operators.KCore for
    * the per-round shuffle shape and the maxRounds cap semantics). The
    * result is materialized before this returns; there is nothing to
    * unpersist. */
  def kCore(edges: org.apache.spark.sql.DataFrame, srcCol: String,
            dstCol: String, k: Int): org.apache.spark.sql.DataFrame =
    graft.operators.KCore(edges, srcCol, dstCol, k)

  /** Deterministic negative sampling for contrastive training: k negatives
    * per anchor with ids drawn by md5 parity over (anchor, j) — re-run-
    * stable, engine-replayable, and collision-corrected away from the
    * anchor itself. CONTRACT: ids must be dense 0..n-1 (the usual
    * post-shuffle sequence id — compose with packShuffled / zipWithIndex
    * layouts for arbitrary keys). Shape: stateless map + one equi-join on
    * the sampled id — no cross join at any scale. Returns
    * (anchor_id, j, neg_id). */
  def negativeSamples(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      k: Int = 3): org.apache.spark.sql.DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col(idCol).cast("long").as("anchor_id"))
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), explode(sequence(lit(0), lit(k - 1))).as("j"), col("n_docs"))
      .withColumn("h", conv(substring(md5(concat(col("anchor_id").cast("string"),
        lit("_"), col("j").cast("string"))), 1, 7), 16, 10).cast("long"))
      .withColumn("neg0", col("h") % col("n_docs"))
      .select(col("anchor_id"), col("j").cast("long").as("j"),
        when(col("neg0") === col("anchor_id"), (col("neg0") + 1) % col("n_docs"))
          .otherwise(col("neg0")).as("neg_id"))
  }

  /** Winnowing fingerprints (the MOSS local-similarity scheme): per-window
    * minimum of char k-gram hashes, rightmost-min ties — any shared run of
    * >= k+w-1 chars guarantees a shared fingerprint. See
    * TextFunctions.winnowFingerprints. */
  def winnow(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): org.apache.spark.sql.DataFrame =
    TextFunctions.winnowFingerprints(docs, idCol, textCol, k, w)

  /** Duplicated word-n-gram inventory — the distributable form of exact
    * substring dedup (the q_dup_ngrams pipeline as API): every gram
    * occurrence keyed by its md5, reduced to (distinct-doc, total) counts,
    * kept where the gram appears in at least `minDocs` documents. One
    * shuffle on the gram hash with map-side partial aggregation; the gram
    * text itself never shuffles. */
  def dupNgramStats(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    n: Int = 5, minDocs: Int = 2): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(TextFunctions.wordGrams(col("toks"), n)).as("g"))
      .groupBy(md5(col("g")).as("gram_h"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_total"))
      .where(col("n_docs") >= minDocs)

  /** Per-document duplicated-span fraction: the share of a document's
    * n-gram occurrences that also occur in another document — the score
    * that drives drop/trim decisions in substring-level dedup (the
    * q_doc_dup_fraction pipeline as API). */
  def docDupFraction(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                     n: Int = 5): org.apache.spark.sql.DataFrame = {
    val g = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(TextFunctions.wordGrams(col("toks"), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gram_h"))
    // one shuffle on the gram hash: a gram crosses documents iff
    // min(id) != max(id) over its partition (measured 5x over the
    // count-distinct + join-back form)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram_h")
    g.select(col(idCol),
        (min(col(idCol)).over(w) =!= max(col(idCol)).over(w)).as("dup"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        (sum(when(col("dup"), 1).otherwise(0)).cast("double") /
          count(lit(1))).as("dup_frac"))
  }

  /** ExactSubstr-style rewrite (Lee et al. 2022; the q_remove_dup_spans
    * pipeline as API): remove every token covered by a word-n-gram that
    * occurs in at least `minDocs` distinct documents, reassembling the
    * text, with the removed-token count alongside. Aggressive both-copies
    * scrub — the keep-one policy is [[cleanCorpus]]. One shuffle on the
    * gram hash; only per-doc duplicated start positions flow back to the
    * text on a co-partitioned id join. */
  def removeDuplicatedSpans(docs: org.apache.spark.sql.DataFrame, idCol: String,
                            textCol: String, n: Int = 5, minDocs: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(n >= 1 && minDocs >= 2, "removeDuplicatedSpans needs n >= 1, minDocs >= 2")
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
    val g = toks.select(col(idCol),
      posexplode(TextFunctions.wordGrams(col("toks"), n)).as(Seq("pos", "g")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("g")))
    // minDocs == 2 is the one-shuffle min/max window; above that it needs
    // the real distinct count
    val dupStarts =
      (if (minDocs == 2)
         g.select(col(idCol), col("pos"),
             (min(col(idCol)).over(w) =!= max(col(idCol)).over(w)).as("dup"))
           .where(col("dup"))
       else {
         val nd = g.groupBy(md5(col("g")).as("gh"))
           .agg(countDistinct(col(idCol)).as("nd")).where(col("nd") >= minDocs)
         g.select(col(idCol), col("pos"), md5(col("g")).as("gh"))
           .join(nd, Seq("gh"), "left_semi")
       })
        .groupBy(col(idCol)).agg(sort_array(collect_list(col("pos"))).as("starts"))
    toks.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col(idCol), col("toks"),
        filter(col("toks"), (_, i) =>
          !exists(col("starts"), p => p <= i && i <= p + (n - 1))).as("kept"))
      .select(col(idCol), array_join(col("kept"), " ").as("clean_text"),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"))
  }

    /** Ordered funnel: per-stage user counts where each stage's first
    * completion is at-or-after the previous stage's and inside `windowNs`
    * of the first stage. Returns (stage, n_users, conv_e4) — e4 integer
    * conversion from stage 1. Stage frames are per-user minima: broadcast
    * -sized next to the event stream at any scale. */
  def funnel(events: org.apache.spark.sql.DataFrame, userCol: String,
             tsCol: String, typeCol: String, stages: Seq[String],
             windowNs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(stages.nonEmpty, "funnel needs at least one stage")
    val first = events.where(col(typeCol) === stages.head)
      .groupBy(col(userCol).as("u")).agg(min(col(tsCol)).as("t0"))
      .withColumn("tp", col("t0"))
    val frames = stages.tail.scanLeft(first) { (prev, st) =>
      events.where(col(typeCol) === st)
        .select(col(userCol).as("u"), col(tsCol).as("t"))
        .join(prev.select(col("u"), col("t0"), col("tp")), Seq("u"))
        .where(col("t") >= col("tp") && col("t") <= col("t0") + windowNs)
        .groupBy("u").agg(min(col("t")).as("tp"), min(col("t0")).as("t0"))
        .select(col("u"), col("t0"), col("tp"))
    }
    val counts = frames.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("n")).select(lit(i + 1).as("stage"), col("n"))
    }.reduce(_ unionByName _)
    counts.join(first.agg(count(lit(1)).as("n_first")), expr("true"))
      .select(col("stage"), col("n").as("n_users"),
        // empty stage 1: integer div-by-zero would null conv_e4 for every
        // stage (ADVICE r8); an empty funnel converts 0, not null
        expr("CASE WHEN n_first > 0 THEN n * 10000 div n_first ELSE 0L END").as("conv_e4"))
  }

  /** Weekly-style retention cohorts: users cohorted by the `bucketNs`
    * bucket of their first event; (cohort, offset) distinct-active counts
    * for offsets 0..maxOffset with e4 retention quotients. All integer. */
  def retentionCohorts(events: org.apache.spark.sql.DataFrame, userCol: String,
                       tsCol: String, bucketNs: Long,
                       maxOffset: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val e = events.select(col(userCol).as("u"),
      expr(s"$tsCol div ${bucketNs}L").as("wk")).distinct()
    val first = e.groupBy("u").agg(min(col("wk")).as("cohort"))
    val coh = first.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    e.join(first, Seq("u"))
      .select(col("cohort"), (col("wk") - col("cohort")).as("offset"))
      .where(col("offset") <= maxOffset)
      .groupBy("cohort", "offset")
      .agg(count(lit(1)).as("n_active"))
      .join(coh, Seq("cohort"))
      .select(col("cohort"), col("offset"), col("n_active"), col("n_cohort"),
        expr("n_active * 10000 div n_cohort").as("retention_e4"))
  }

  /** Deterministic Poisson bootstrap of a mean: `replicas` hash-derived
    * Poisson(1) weights per (row, replica) — the at-scale resampling
    * trick (no global coordination) — with exact integer replica means
    * over the 1e6-quantized value. Returns (b, n_eff, mean_e4); the
    * spread of mean_e4 IS the standard-error estimate. */
  def poissonBootstrap(df: org.apache.spark.sql.DataFrame, idCol: String,
                       valueCol: String, replicas: Int = 32): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col(idCol).as("rid"),
        floor(col(valueCol) * 1e6 + lit(0.5)).cast("long").as("vq"))
      .select(col("rid"), col("vq"),
        explode(sequence(lit(0), lit(replicas - 1))).as("b"))
      // 8 hex chars = 32 uniform bits before the mod: a 16-bit slice mod
      // 1e4 is visibly non-uniform (low residues occur 7/65536 vs 6/65536,
      // biasing P(w=0) to ~0.393 vs Poisson(1)'s 0.368 and shrinking the
      // mean replica weight ~6%); 32 bits cut the bias to ~2e-6 (ADVICE r8)
      .withColumn("u", expr(
        "conv(substring(md5(concat(cast(rid AS string), '|', cast(b AS string))), 1, 8), 16, 10) % 10000"))
      .withColumn("w",
        when(col("u") < 3679, 0L).when(col("u") < 7358, 1L)
          .when(col("u") < 9197, 2L).when(col("u") < 9810, 3L)
          .when(col("u") < 9963, 4L).otherwise(5L))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("vq")).as("wsum_e6"))
      .where(col("n_eff") > 0)
      .select(col("b"), col("n_eff"),
        expr("(wsum_e6 div 100) div n_eff").as("mean_e4"))
  }

  /** Per-key time-series resample + forward fill (the q_gap_fill pipeline
    * as API; QuestDB/Timescale `SAMPLE BY ... FILL(PREV)`): bucket `tsCol`
    * (ns-epoch long) into `bucketNs`-wide buckets per key, emit the dense
    * per-key grid from first to last observation, and carry the last
    * observed aggregate across the gaps. Integer bucket arithmetic; the
    * decimal-path sum is order-independent.
    *
    * Scale shape (r9 verdict item 5): gap rows are generated LAZILY after
    * the shuffle — only the observed (key, bucket) aggregate rows shuffle
    * (repartition on key + in-partition sort, the same exchange the
    * window form paid), and a stateful per-partition iterator streams the
    * missing buckets out with the carried value. The previous
    * explode(sequence(lo, hi)) + window form materialized EVERY missing
    * bucket as a pre-window row (a per-key array allocation of the whole
    * span plus the window's buffered partition) — measured 123 s GC at
    * the x100 soak point on one JVM. GapFillSpec pins bit-equality to
    * the window form, including null-value carry and leading-null keys. */
  def gapFill(events: org.apache.spark.sql.DataFrame, keyCol: String, tsCol: String,
              valueCol: String, bucketNs: Long): org.apache.spark.sql.DataFrame = {
    require(bucketNs > 0, "gapFill needs bucketNs > 0")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val agg = events
      .select(col(keyCol), expr(s"$tsCol DIV $bucketNs").as("bucket"), col(valueCol))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
    val sorted = agg.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col("bucket"))
    val outSchema = StructType(Seq(
      sorted.schema.head.copy(name = keyCol),
      StructField("bucket", LongType, nullable = false),
      StructField("n_events", LongType, nullable = false),
      StructField("filled_value", DoubleType, nullable = true)))
    sorted.mapPartitions { it =>
      var curKey: Any = null
      var haveKey = false
      var prevBucket = 0L
      var carried: java.lang.Double = null
      it.flatMap { r =>
        val key = r.get(0)
        val bucket = r.getLong(1)
        val n = r.getLong(2)
        val sv: java.lang.Double = if (r.isNullAt(3)) null else r.getDouble(3)
        // deepEquals (ADVICE r10): a BinaryType key surfaces as Array[Byte],
        // whose == is reference equality — every row would look like a new
        // key and gaps would silently never fill
        val newKey = !haveKey || !java.util.Objects.deepEquals(key, curKey)
        if (newKey) { curKey = key; haveKey = true; carried = null }
        // capture pre-update state for the gap rows: the iterator below is
        // consumed lazily, after `carried`/`prevBucket` have advanced
        val gapFillVal = carried
        val gapStart = if (newKey) bucket else prevBucket + 1
        prevBucket = bucket
        if (sv != null) carried = sv
        val filledHere = carried
        val gaps: Iterator[Row] = new Iterator[Row] {
          private var b = gapStart
          def hasNext: Boolean = b < bucket
          def next(): Row = { val row = Row(key, b, 0L, gapFillVal); b += 1; row }
        }
        gaps ++ Iterator.single(Row(key, bucket, n, filledHere))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** The r9 window form of [[gapFill]], kept as the differential-test
    * reference (explode the dense grid, forward-fill via a running
    * window) — semantically identical, but it materializes every missing
    * bucket before the window. */
  private[graft] def gapFillWindow(events: org.apache.spark.sql.DataFrame, keyCol: String,
                                   tsCol: String, valueCol: String,
                                   bucketNs: Long): org.apache.spark.sql.DataFrame = {
    require(bucketNs > 0, "gapFill needs bucketNs > 0")
    val agg = events
      .select(col(keyCol), expr(s"$tsCol DIV $bucketNs").as("bucket"), col(valueCol))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
    val grid = agg.groupBy(col(keyCol))
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
      .select(col(keyCol), explode(sequence(col("lo"), col("hi"))).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol).orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(agg, Seq(keyCol, "bucket"), "left")
      .withColumn("filled_value", last(col("sum_value"), ignoreNulls = true).over(w))
      .select(col(keyCol), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n_events"), col("filled_value"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis 2006; the q_weighted_sample pipeline as API): top-k per
    * group by the u^(1/w) exponential-clock key, with u a re-run-stable
    * md5-uniform of the id. Ranking uses the equivalent ln(u)/w form
    * scaled to integer microunits so FP ulp noise cannot reorder the
    * boundary; ties break on the id. */
  def weightedSample(df: org.apache.spark.sql.DataFrame, groupCols: Seq[Column],
                     id: Column, weight: Column, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "weightedSample needs k >= 1")
    val u = (graft.functions.SketchFunctions.hash60(id) + 1)
      .cast("double") / lit(1.152921504606846976e18)
    val key = round(log(u) / weight * lit(1e6), 0).cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols: _*)
      .orderBy(key.desc, id)
    df.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** KMV set-operation estimates between two key sets (Beyer et al. 2007;
    * the q_kmv_jaccard pipeline as API): union cardinality, Jaccard, and
    * intersection size from one k-min sketch over the union, per-side
    * membership carried as mergeable max-flags through a single hash
    * groupBy. Returns one row: k_actual, kth, n_both, est_union, jaccard,
    * est_intersection. */
  def kmvSetOps(a: org.apache.spark.sql.DataFrame, aKey: Column,
                b: org.apache.spark.sql.DataFrame, bKey: Column,
                k: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(k >= 2, "kmvSetOps needs k >= 2")
    val tagged = a.select(aKey.as("k"), lit(0).as("side"))
      .unionByName(b.select(bKey.as("k"), lit(1).as("side")))
    val m = tagged
      .select(col("side"), graft.functions.SketchFunctions.hash60(col("k")).as("h"))
      .groupBy("h")
      .agg(max(when(col("side") === 0, 1).otherwise(0)).as("ina"),
        max(when(col("side") === 1, 1).otherwise(0)).as("inb"))
    val est = when(col("k_actual") === k,
      lit((k - 1).toDouble) * lit(1.152921504606846976e18) / col("kth").cast("double"))
      .otherwise(col("k_actual").cast("double"))
    m.orderBy("h").limit(k)
      .agg(count(lit(1)).as("k_actual"), max("h").as("kth"),
        sum(col("ina") * col("inb")).as("n_both"))
      .select(col("k_actual"), col("kth"), col("n_both"), est.as("est_union"),
        (col("n_both").cast("double") / col("k_actual")).as("jaccard"),
        (est * col("n_both") / col("k_actual")).as("est_intersection"))
  }

  /** Per-document character-level Shannon entropy in bits/char (the
    * q_entropy pipeline as API) — the gibberish/boilerplate quality
    * signal. */
  def charEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"))
      .select(col(idCol), col("n").as("n_chars"),
        ((log(col("n").cast("double")) - col("slc") / col("n").cast("double"))
          / log(lit(2.0))).as("char_entropy"))

  /** Exact hamming-distance self-pairs over an integer fingerprint
    * column (SimHash, pHash, any <= 64-bit signature): pigeonhole
    * (r+1)-band blocking, one equi-join plus the popcount residual —
    * complete for any r, never all-pairs. The optimizer-rule twin
    * (plans.HammingJoinRewrite) catches the naive bit_count(xor) join a
    * SQL user writes; this is the library-call form. Returns
    * (id1, id2, hamming) with id1 < id2. */
  def hammingPairs(df: org.apache.spark.sql.DataFrame, idCol: String,
                   fpCol: String, maxHamming: Int): org.apache.spark.sql.DataFrame =
    graft.operators.LshBlocking.hammingPairs(df, idCol, fpCol, maxHamming)

  /** Image near-dup pairs by 64-bit average hash (the q_image_phash
    * pipeline as API): decode -> aHash -> 4x16-bit pigeonhole band join
    * (finds every pair at hamming <= 3; `maxHamming` above 3 widens the
    * report but band recall is only guaranteed to 3) -> capped-bucket
    * candidate join -> popcount filter. Only (band, key) pairs shuffle,
    * never pixels. */
  def imageNearDupPairs(payloads: org.apache.spark.sql.DataFrame, idCol: String,
                        payloadCol: String, maxHamming: Int = 3, bucketCap: Int = 64)
                       (implicit spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val hashes = graft.multimodal.Multimodal.decode(payloads, idCol, payloadCol)
      .map { d =>
        val (lo, hi) = graft.multimodal.Multimodal.averageHash64(d.pixels)
        (d.id, lo, hi)
      }.toDF("id", "h_lo", "h_hi")
    val bands = hashes.select(col("id"), col("h_lo"), col("h_hi"),
      posexplode(array(
        col("h_lo").bitwiseAND(lit(65535L)),
        shiftright(col("h_lo"), 16).bitwiseAND(lit(65535L)),
        col("h_hi").bitwiseAND(lit(65535L)),
        shiftright(col("h_hi"), 16).bitwiseAND(lit(65535L)))).as(Seq("band", "bh")))
    graft.operators.LshBlocking
      .candidatePairs(bands, "band", "bh", "id", cap = bucketCap,
        carry = Seq("h_lo", "h_hi"))
      .distinct()
      .select(col("id1"), col("id2"),
        (bit_count(col("h_lo_1").bitwiseXOR(col("h_lo_2"))) +
          bit_count(col("h_hi_1").bitwiseXOR(col("h_hi_2")))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Benchmark decontamination: training documents that share at least one
    * word-n-gram with the (small) eval corpus, with the count of distinct
    * overlapping grams. The eval gram set broadcasts, so the training side
    * is a map-only semi-join — no shuffle of the big corpus (the
    * q_decontaminate pipeline as API, generalized to two frames). */
  def decontaminate(train: org.apache.spark.sql.DataFrame,
                    eval: org.apache.spark.sql.DataFrame,
                    idCol: String, textCol: String, n: Int = 5): org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
        .select(col(idCol), explode(TextFunctions.wordGrams(col("toks"), n)).as("g"))
        .select(col(idCol), md5(col("g")).as("gram_h")).distinct()
    val evalGrams = grams(eval).select("gram_h").distinct()
    grams(train)
      .join(broadcast(evalGrams), Seq("gram_h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_eval_grams"))
  }

  /** Gopher-style repetition quality metrics per document: duplicate-word
    * fraction (1 - distinct/total) and top-bigram fraction (most frequent
    * bigram / all bigrams). The bigram mode reduces through an explode so a
    * pathologically long document spreads across tasks (the q_repetition
    * pipeline as API). */
  def repetitionMetrics(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
    val uni = base.select(col(idCol), size(col("toks")).as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct"))
    val bg = base.select(col(idCol), explode(TextFunctions.wordGrams(col("toks"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max("c").as("top_c"), sum("c").as("n_bigrams"))
    uni.join(bg, Seq(idCol))
      .select(col(idCol), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_word_frac"),
        (col("top_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** Gopher-style quality rule battery (Rae et al. 2021 §A1.1): the
    * word-level keep/drop rules — token count in [minTokens, maxTokens],
    * mean word length in [3, 10], ≥ 80% of words containing an alphabetic
    * character, and at least `minStopwords` of the stopword list present —
    * as per-document metrics plus one folded `keep` boolean. Every rule
    * compares a 4-place-rounded metric, so the decision boundary is
    * engine-exact. Stateless map; no shuffle. */
  def gopherRules(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 50, maxTokens: Int = 100000,
                  stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
                  minStopwords: Int = 2): org.apache.spark.sql.DataFrame = {
    // token array pre-projected to a bound attribute: an outer expression
    // referenced from inside an HOF lambda re-evaluates per element (the
    // round-5 wordGrams lesson), so the stopword filter below must see a
    // column, not the split expression
    val base = docs.select(col(idCol), col(textCol),
      split(col(textCol), " ").as("toks"))
    val nTok = size(col("toks"))
    val awl = round(TextFunctions.avgWordLen(col(textCol)), 4)
    val alpha = round(size(filter(col("toks"), w => w.rlike("[a-z]"))).cast("double") / nTok, 4)
    val nStop = size(filter(array(stopwords.map(lit): _*),
      sw => array_contains(col("toks"), sw)))
    base.select(col(idCol), nTok.as("n_tokens"), awl.as("avg_word_len"),
      alpha.as("alpha_frac"), nStop.as("n_stopwords"),
      (nTok.between(minTokens, maxTokens) &&
        awl.between(3.0, 10.0) && alpha >= 0.8 && nStop >= minStopwords).as("keep"))
  }

  /** BPE tokenizer training — the first `merges` merge rules learned from
    * the corpus (Sennrich et al. 2016). The only corpus-scale work is ONE
    * shuffle into the (word, count) vocabulary; every merge round then
    * runs on that O(vocab) table: adjacent symbol pairs weighted by word
    * count, the arg-max pair (ties count-desc then lexicographic — fully
    * deterministic), and a row-local greedy left-to-right re-segmentation
    * ([[TextFunctions.bpeMergePair]]). The driver holds only the learned
    * rules (`merges` rows). Returns (round, pair_a, pair_b, pair_count). */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               merges: Int = 3): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val vocab0 = docs
      .select(explode(filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= "")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("wc"))
      .withColumn("syms",
        expr("transform(sequence(0, length(term)-1), i -> substr(term, i+1, 1))"))
      .persist()
    var vocab: org.apache.spark.sql.DataFrame = vocab0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to merges) {
      val top = vocab.where(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .as[(String, String, Long)].collect()(0)
      out += ((r.toLong, top._1, top._2, top._3))
      vocab = vocab.withColumn("syms",
        TextFunctions.bpeMergeUdf(col("syms"), lit(top._1), lit(top._2)))
    }
    // the returned frame is built from the collected rules, not the vocab
    // plan — safe to release the iteration cache here (bpeEncodeCounts'
    // output still reads its vocab, which it checkpoints instead)
    vocab0.unpersist()
    out.toSeq.toDF("round", "pair_a", "pair_b", "pair_count")
  }

  /** BPE encoding with rules trained by the same procedure as
    * [[bpeTrain]]: learns `merges` rules, applies them in order to the
    * O(vocab) word table, then joins the final segmentation back onto the
    * corpus occurrences — the 100 TB side touches only a broadcast-sized
    * (word → symbol count) map, one narrow join, one per-doc agg. Returns
    * (doc id, total BPE symbol count) — the post-tokenizer length used
    * for packing/budgeting. */
  def bpeEncodeCounts(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                      merges: Int = 3): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val occurrences = docs.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= "")).as("term"))
    // the returned plan still reads the vocab, so it is checkpointed (its
    // first merge round materializes it), not cached: Spark frees it with
    // the returned frame
    var vocab = occurrences
      .groupBy("term").agg(count(lit(1)).as("wc"))
      .withColumn("syms",
        expr("transform(sequence(0, length(term)-1), i -> substr(term, i+1, 1))"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to merges) {
      val top = vocab.where(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .as[(String, String, Long)].collect()(0)
      vocab = vocab.withColumn("syms",
        TextFunctions.bpeMergeUdf(col("syms"), lit(top._1), lit(top._2)))
    }
    occurrences
      .join(broadcast(vocab.select(col("term"), size(col("syms")).cast("long").as("n_syms"))),
        Seq("term"))
      .groupBy(col(idCol)).agg(sum(col("n_syms")).as("n_bpe_symbols"))
  }

  /** DSIR importance weights (Xie et al. 2023): per-doc mean token
    * log-likelihood ratio of the unigram model fit on `target` docs over
    * the model fit on the whole `docs` corpus — the published
    * data-selection rule is resampling ∝ exp(weight). One corpus shuffle
    * (the tf agg); both models broadcast as O(vocab) count tables. */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame, target: org.apache.spark.sql.DataFrame,
                  idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    TextFunctions.dsirLogRatio(
      docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term")),
      target.select(col(idCol)), idCol, "term")
      .select(col(idCol), col("dsir_logratio"))

  /** Temperature-scaled domain mixing weights: per-`groupCol` token mass
    * raised to `alpha` (alpha < 1 upweights small domains, the standard
    * multilingual/multi-source resampling dial), normalized over the tiny
    * grouped frame via a 1-row broadcast (the q_domain_mix pipeline as
    * API, generalized from sqrt to any alpha). */
  def domainMixWeights(docs: org.apache.spark.sql.DataFrame, groupCol: String,
                       textCol: String, alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val agg = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("w", pow(col("n_tokens").cast("double"), alpha))
    val tot = agg.agg(sum(col("w")).as("tot"))
    agg.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        (col("w") / col("tot")).as("mix_weight"))
  }

  /** End-to-end corpus cleaning — the full training-data scrub as one
    * declarative plan (the q_pipeline_clean shape, plus decontamination and
    * redaction): exact-dedup to the min-id representative, quality gate
    * (token count + stopword ratio), optional eval-benchmark
    * decontamination (docs sharing any word-n-gram with `evalDocs` drop),
    * and PII-style redaction of the surviving text. Each stage is a narrow
    * filter over the corpus — the only big-data shuffles are the dedup
    * content-hash group and (if enabled) the per-doc gram distinct; the
    * eval gram set broadcasts. Returns the input schema with `textCol`
    * replaced by its redacted form. */
  def cleanCorpus(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  evalDocs: Option[org.apache.spark.sql.DataFrame] = None,
                  minTokens: Int = 20, maxStopRatio: Double = 0.5,
                  stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
                  ngram: Int = 5,
                  nearDedup: Boolean = false,
                  repOrderBy: Seq[Column] = Nil): org.apache.spark.sql.DataFrame = {
    // nearDedup keeps one doc per LSH near-dup CLUSTER (exact dups collapse
    // inside dedupClusters, so this strictly subsumes the content-hash
    // group); the cluster label is the member min id, so "keep the doc
    // whose id equals its cluster" is the drop-all-but-one rule — unless a
    // repOrderBy policy says which member is "best" (clusterRepresentatives)
    val deduped =
      if (nearDedup && repOrderBy.nonEmpty) {
        val keepIds = clusterRepresentatives(docs, idCol, textCol, repOrderBy)
          .select(col(idCol))
        docs.join(keepIds, Seq(idCol), "left_semi")
      } else if (nearDedup) {
        val keepIds = dedupClusters(docs, idCol, textCol)
          .where(col(idCol) === col("cluster")).select(col(idCol))
        docs.join(keepIds, Seq(idCol), "left_semi")
      } else {
        val kept = docs.groupBy(md5(col(textCol)).as("content_h"))
          .agg(min(col(idCol)).as(idCol))
        docs.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
      }
    val qualified = deduped.where(
      TextFunctions.tokenCount(col(textCol)) >= minTokens &&
        TextFunctions.stopwordRatio(col(textCol), stopwords) <= maxStopRatio)
    val surviving = evalDocs match {
      case Some(ev) =>
        val contaminated = decontaminate(qualified, ev, idCol, textCol, ngram)
        qualified.join(contaminated.select(col(idCol)), Seq(idCol), "left_anti")
      case None => qualified
    }
    surviving.withColumn(textCol, TextFunctions.redact(col(textCol)))
  }

  /** MinHash signature with backend dispatch: `builtin` uses the codegen'd
    * expression chain, `kernel` the single-pass JVM implementation — the
    * two-backends-one-semantics pattern of the reference (they agree
    * byte-for-byte; the backend matrix test mirrors
    * /root/reference/imops/_configs.py parametrization). */
  def minhashSignature(spark: SparkSession, text: Column, k: Int,
                       backend: Option[String] = None): Seq[Column] =
    Backend.resolve(backend, spark, default = Backend.Kernel) match {
      case Backend.Builtin => (0 until k).map(i => TextFunctions.minhashShingle(text, 3, i))
      case Backend.Kernel =>
        val sig = TextFunctions.minhashSigUdf(text, lit(k), lit(3))
        (0 until k).map(i => sig.getItem(i))
    }
}
