package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak: runs the 100 TB-path pipelines (16 as of r9 — LSH near-dup,
  * prefix-scan packing, halo-exchange erosion, striped volume zoom,
  * SemDeDup, k-means, span dedup, gap fill, sparse cosine, interval join,
  * PassJoin, IVF-PQ, hamming join, distributed 3-D EDT, distributed
  * label-CC, bounded-heap per-group top-k) at 1×/10×/30× the sf input
  * (scales overridable via SPARK_GRAFT_SOAK_SCALES), recording wall time and total
  * shuffle read/write bytes per run. The claim under test is SUB-QUADRATIC
  * growth: banded/capped candidate joins, O(surface) halo exchanges, and
  * O(partials) scans should all scale ~linearly in input size; an
  * all-pairs or O(volume²) regression would show up as a blown-out
  * x30/x10 tail ratio (linear = 3.0).
  *
  * The 10× corpus is the sf documents table replicated with re-keyed ids
  * and a per-copy text suffix (so minhash/banding work is genuinely 10×
  * distinct content, not exact-dup-collapsed back to 1×); the 10× volume is
  * 10× more 64³ tiles along axis 0. Emits ONE JSON line; also written to
  * SOAK_r6.json for the round artifact.
  */
object ScaleSoak {

  final class ShuffleListener extends SparkListener {
    val read = new java.util.concurrent.atomic.AtomicLong
    val write = new java.util.concurrent.atomic.AtomicLong
    // GC time and spill separate "plan went quadratic" from "heap went
    // tight": a linear-shuffle run whose time tail is superlinear with
    // rising gc_ms is memory pressure, not a plan defect (the r6
    // volume_zoom3d question).
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      gcMs.addAndGet(m.jvmGCTime)
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // same RAM-backed shuffle-dir policy as Bench (see Bench.shmLocalDir):
    // ext4 writeback contention between scale points otherwise rides into
    // the x10/x30 tail ratios as phantom superlinearity
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // x1000 points on the heap-bound pipelines can stall the whole JVM
      // in GC for minutes at a time; at the default 120 s heartbeat
      // timeout the local executor gets "removed" mid-pause and the run
      // dies in an RPC storm (measured: a 175 s pause killed the r11
      // gap_fill x1000 sweep). The pause still lands in the rep wall time
      // and gc_ms — these only keep a single-JVM soak alive through it.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
    val spark = Bench.shmLocalDir().fold(builder0)(d => builder0.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    docs0.persist().count()

    /** Replicate ×n with re-keyed ids and EVERY token salted by the copy
      * index: a one-token suffix would leave the copies near-duplicates of
      * each other (shingle overlap ~1), quadratically inflating the TRUE
      * near-dup pairs within each clone family — measuring the data, not
      * the operator. Per-token salting disjoins the copies' shingle sets
      * entirely, so the ×n corpus has n× the original's near-dup structure
      * and a linear operator should scale ~n×. */
    def corpus(n: Int): DataFrame =
      if (n == 1) docs0
      else spark.range(n).select(col("id").as("copy")).crossJoin(docs0)
        .select((col("doc_id") + col("copy") * 10000000L).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_"), col("copy"))), " ").as("text"))

    def timed(f: => Long): (Double, Long, Long, Long, Long, Long) = {
      val l = new ShuffleListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted async (the bus drain API is
      // private[spark]); poll until the counters go quiet
      var prev = -1L
      var tries = 0
      while (prev != l.read.get + l.write.get && tries < 20) {
        prev = l.read.get + l.write.get
        Thread.sleep(250)
        tries += 1
      }
      spark.sparkContext.removeSparkListener(l)
      (sec, l.read.get, l.write.get, rows, l.gcMs.get,
        l.spillMem.get + l.spillDisk.get)
    }

    def lshRun(n: Int): Long = {
      val c = corpus(n)
      graft.api.Graft.nearDupCandidates(c, "doc_id", "text").count()
    }

    def packRun(n: Int): Long = {
      implicit val sp: SparkSession = spark
      val toks = corpus(n)
        .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      graft.operators.PrefixSum.exclusive(toks, "doc_id", "n_tokens", cpus.toInt)
        .select(col("doc_id"), (col("cum") / 512).cast("long").as("seq_id"))
        .groupBy("seq_id").count().count()
    }

    val tileGen = udf { (id: Long) =>
      val m = 64 * 64 * 64
      val a = new Array[Boolean](m)
      var i = 0
      while (i < m) { a(i) = ((id * 31 + i * 7) % 5) != 0; i += 1 }
      a
    }
    def erodeRun(n: Int): Long = {
      import spark.implicits._
      val tiles = spark.range(64L * n).select(
          lit(0L).as("id"),
          (col("id") / 16).cast("int").as("ti"),
          ((col("id") / 4) % 4).cast("int").as("tj"),
          (col("id") % 4).cast("int").as("tk"),
          tileGen(col("id")).as("data"))
        .as[graft.operators.TiledStencil.Tile3]
      graft.operators.TiledStencil.erode3(tiles, 64, Array(4 * n, 4, 4))(spark)
        .toDF().count()
    }

    /** Distributed 3-D EDT at slab scale: per-voxel rows, axis 0 is the
      * scale axis (lines grow n×, the (j,k) group count stays 64² — the
      * reference's 100 TB slab shape). ~1/19 of voxels are background
      * seeds, so every separable line still runs a full envelope scan.
      * Three O(volume) shuffles (one per axis) — linear by design. */
    def edtRun(n: Int): Long = {
      val d = 64
      val vox = spark.range(d.toLong * n * d * d).select(
        (col("id") / (d * d)).as("i"),
        ((col("id") / d) % d).as("j"),
        (col("id") % d).as("k"),
        (((col("id") * 2654435761L) % 19) =!= 0).as("mask"))
      graft.operators.DistributedEdt.apply3(vox).count()
    }

    /** Distributed connected-components labeling over 64³ tiles, scale
      * axis 0. The 80%-density tileGen mask makes one volume-spanning
      * giant component — worst case for cross-tile merging: border-graph
      * diameter grows with n, so pointer doubling pays its log(n) rounds
      * while the per-pixel work stays O(volume). Shuffle should stay
      * ~linear (localize + densify joins dominate; the face exchange is
      * O(surface)). */
    def labelRun(n: Int): Long = {
      import spark.implicits._
      val tiles = spark.range(8L * n).select(
          lit(0L).as("id"),
          (col("id") / 4).cast("int").as("ti"),
          ((col("id") / 2) % 2).cast("int").as("tj"),
          (col("id") % 2).cast("int").as("tk"),
          tileGen(col("id")).as("data"))
        .as[graft.operators.TiledStencil.Tile3]
      graft.operators.DistributedLabel.apply3(tiles, 64, Array(2 * n, 2, 2))(spark).count()
    }

    val sliceGen = udf { (id: Long) =>
      val m = 65536
      val a = new Array[Double](m)
      var i = 0
      while (i < m) { a(i) = ((id * 1315423911L + i * 2654435761L) & 0xffff) * 1.5e-5; i += 1 }
      a
    }
    def zoomRun(n: Int): Long = {
      import spark.implicits._
      val slices = spark.range(256L * n).select(
          lit(0L).as("id"), col("id").cast("int").as("sid"), sliceGen(col("id")).as("data"))
        .as[graft.operators.VolumeZoom.ZSlice]
      // striped emission (r8 verdict item 2): the full-slice form's 2 MB
      // output rows are humongous at G1's default region size and drove
      // the x30 tail to 7.4x with 6.6 s GC; ≤1 MiB strips keep the same
      // shuffle plan with allocation G1 can handle
      graft.operators.VolumeZoom.strips(slices, Array(256 * n, 256, 256),
          Array(2.0, 2.0, 2.0), order = 1)(spark)
        .toDF().count()
    }

    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    emb0.persist().count()

    /** Replicate ×n with re-keyed DENSE ids and a deterministic
      * per-(copy, component) SIGN FLIP: within a copy every dot product is
      * bit-exact to the base (the signs cancel), so each copy carries the
      * base corpus's full similarity structure, while cross-copy cosines
      * are near zero (≈ a random ±1 mask) — the corpus grows with n× the
      * base's near-dup structure instead of n²-collinear clones. A small
      * additive offset was measured useless here: components are
      * ~N(0, 0.125), so ±0.018 left all copies collinear and inflated
      * true pairs quadratically — the embedding analog of the per-token
      * salting lesson above. */
    def vecs(n: Int): DataFrame =
      if (n == 1) emb0
      else spark.range(n).select(col("id").as("copy")).crossJoin(emb0)
        // re-key stride safely above ANY sf's base cardinality — a stride
        // below it makes copies collide on vec_id and the assignment
        // window silently dedupes the corpus back down
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(col("copy") === 0, x).otherwise(
              (x * (lit(1) - lit(2) * pmod(hash(col("copy"), i), lit(2)))).cast("float")))
            .as("embedding"))

    /** SemDeDup at scale: quantizer granularity grows k ∝ N — constant
      * expected cell width (~100 here), the deployment rule for this op:
      * cluster COUNT rides corpus size so the per-cell O(B²) pair term
      * stays constant per cell and total pairs grow ∝ N. (The previous
      * k ∝ √N shape put pairs at n^1.5 and measured a 14.8× shuffle tail
      * at ×3 data — the round-6 scale-killer.) k ∝ N in turn makes a FLAT
      * assignment argmax O(N·k) = quadratic — the r11 x1000 run measured
      * exactly that (every executor thread pinned in the assignment fold
      * for ~an hour while pairs/CC stayed linear) — so assignment routes
      * through the two-level coarse→fine tree ([[graft.functions
      * .SimilarityFunctions.semDedup2]]): coarse k₁ ≈ √k, per-vector work
      * O(√k), total O(N^1.5) dots with a tiny constant instead of O(N²).
      * `cellCap` is the hard guard against skewed cells when the
      * quantizer under-fits; over-cap cells are counted from the result
      * frame itself (one pass, never silent). */
    def semdedupRun(n: Int): Long = {
      // auto-broadcast off for THIS pipeline's measurement: at 1×/10× the
      // pair join's build side fits the broadcast threshold (14 KB shuffle)
      // and at 30× it doesn't (46 MB), so the tail ratio reads a plan
      // transition instead of growth. At 100 TB nothing broadcasts —
      // forcing the shuffle join at every point measures the real shape.
      val sq = spark.conf
      val saved = (sq.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
        sq.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"))
      sq.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sq.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val v = vecs(n)
        val fine = v.where(col("vec_id") % 100 === 0)
        // coarse ≈ √k of the fine set, deterministically id-sampled
        val coarseMod = 100L * math.max(1, math.round(math.sqrt(n.toDouble)))
        val coarse = v.where(col("vec_id") % coarseMod === 0)
        val r = graft.functions.SimilarityFunctions.semDedup2(
          v, coarse, fine, tau = 0.3, cellCap = 256)
        val agg = r.groupBy("cell").agg(count(lit(1)).as("cn"))
          .agg(sum(when(col("cn") > 256, 1L).otherwise(0L)).as("dropped"),
            sum(col("cn")).as("rows")).collect()(0)
        if (agg.getLong(0) > 0)
          println(s"""{"semdedup_dropped_cells": ${agg.getLong(0)}, "scale": $n}""")
        agg.getLong(1)
      } finally {
        sq.set("spark.sql.autoBroadcastJoinThreshold", saved._1)
        sq.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved._2)
      }
    }

    /** k-means at scale: k FIXED (a deployment constant as the corpus
      * grows) — assignment is a map-only broadcast pass so time scales
      * O(N·k) = linearly in n, and the refit shuffle is bounded by
      * partitions × cells × dim (map-side combine), ~flat in n. */
    def kmeansRun(n: Int): Long = {
      val v = vecs(n)
      graft.functions.SimilarityFunctions.kmeansAssign(
        v, emb0.where(col("vec_id") % 100 === 0), iters = 2).count()
    }

    /** ExactSubstr span removal at scale: the dup decision is one shuffle
      * on the gram hash and the rewrite joins only per-doc start positions
      * back on doc_id — both linear in corpus size. The salted ×n corpus
      * keeps copies' gram sets disjoint, so the dup structure (and the
      * expected shuffle) grows n×, not n². */
    /** Per-group cap at scale (the exprs.TopKAgg bounded-heap aggregate):
      * shuffle should be O(groups·k) — FLAT in n, not linear — because
      * map-side partials emit at most k entries per group per task.
      * The row_number window form (`capPerGroupWindow`) is flat too, as
      * r9 measured (Spark 4 plans the rank filter as a partial
      * WindowGroupLimit below the exchange): at x30 agg 526 KB / window
      * 512 KB — the aggregate's edge is streaming support and aggregate
      * composability, not bytes. */
    def capRun(n: Int): Long = {
      // the payload carries the TEXT column — the capPerGroup use case is
      // "cap each domain's share of the corpus", and the body riding along
      // is what makes the window form's full-input shuffle expensive
      val c = corpus(n).select(col("doc_id"),
        (col("doc_id") % 37).cast("string").as("grp"), col("text"))
      val out = graft.functions.SketchFunctions.capPerGroup(c, Seq(col("grp")), col("doc_id"), 64)
      // consume the text column ABOVE the cap with an aggregate: a bare
      // count() prunes text through the window, and a pushable predicate
      // (length(text) >= 0) gets pushed BELOW it and pruned again — only a
      // post-cap aggregate forces the document bodies through the
      // exchange, which is what a real "cap each domain's share" keeps
      out.select(sum(length(col("text"))).as("s")).head().getLong(0)
    }

    def spanRun(n: Int): Long =
      // a bare count() lets Catalyst DROP the whole pipeline: the left join
      // on the grouped key preserves cardinality, so count folds to
      // count(documents) and nothing shuffles (measured: 59 bytes at every
      // scale). Filtering on the computed column forces the rewrite.
      graft.api.Graft.removeDuplicatedSpans(corpus(n), "doc_id", "text")
        .where(col("n_removed") >= 0).count()

    /** Sparse-cosine all-pairs at scale: candidate generation shuffles on
      * the trigram term and is bounded per term by df² <= maxDf²; per-token
      * salting keeps each copy's trigram vocabulary disjoint, so rare terms
      * stay exactly as rare at ×n and both candidates and the exact-dot
      * join should grow n× (an unblocked all-pairs would grow n²). */
    def sparseRun(n: Int): Long = {
      val c = corpus(n)
      val posts = c.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordGrams(col("toks"), 3)).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      graft.operators.SparseSimJoin(posts, "doc_id", "term", "tf",
        maxDf = 8, minCosine = 0.05).count()
    }

    val ev0 = graft.relational.T.normTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id").cast("long").as("user_id"), col("event_id"),
        col("ts"), col("value"))
    ev0.persist().count()
    def events(n: Int): DataFrame =
      if (n == 1) ev0
      else spark.range(n).select(col("id").as("copy")).crossJoin(ev0)
        .select((col("user_id") + col("copy") * 1000000000L).as("user_id"),
          col("event_id"), col("ts"), col("value"))

    /** Interval-overlap join at scale: replication multiplies USERS while
      * each user's event density (and so their pairs) stays constant —
      * total (user, cell) shuffle and output pairs both grow n×. A
      * cartesian/unbounded-fanout regression would grow pairs n² within
      * merged keys; the grid-cell plan keeps it linear. */
    def intervalRun(n: Int): Long = {
      val iv = events(n).select(col("user_id"), col("event_id"),
        col("ts").as("s_ns"),
        (col("ts") + (pmod(col("event_id"), lit(7)) + 1) * lit(600000000000L)).as("e_ns"))
      graft.operators.IntervalJoin(
          iv.withColumnRenamed("event_id", "id1"),
          iv.withColumnRenamed("event_id", "id2"),
          Seq("user_id"), "s_ns", "e_ns", bucket = 1800000000000L)
        .where(col("l_id1") < col("r_id2")).count()
    }

    /** FuzzyJoin at scale: 50k·n 12-char strings in (dist-1 twin) pairs —
      * the md5-derived bases keep segment keys high-entropy, so blocking
      * keys stay narrow and candidates/matches grow n×, not n². (A
      * low-entropy corpus — shared long prefixes — degenerates PassJoin
      * blocking to a hot key; that is a property of the data, not the
      * plan, and the gate's Customer# corpus bounds it with a small probe
      * side.) Probe fan-out is the constant (d+1)(2d+1)² per row; one
      * equi-join shuffle + residual levenshtein. */
    def fuzzyNames(n: Int): DataFrame =
      spark.range(50000L * n).select(col("id"),
        md5(concat(lit("fz"), floor(col("id") / 2).cast("string"))).substr(1, 12).as("base"))
        .select(col("id"),
          when(pmod(col("id"), lit(2)) === 0, col("base"))
            .otherwise(concat(col("base").substr(1, 5), lit("z"), col("base").substr(7, 6)))
            .as("s"))
    def fuzzyRun(n: Int): Long = {
      val d = fuzzyNames(n)
      graft.operators.FuzzyJoin.edJoin(
          d.select(col("id").as("id1"), col("s").as("s1")),
          d.select(col("id").as("id2"), col("s").as("s2")), 1)
        .where(col("id1") < col("id2")).count()
    }

    /** IVF-PQ at scale: quantizer + codebooks FIXED (offline-trained
      * deployment constants) while the corpus grows n× — encode and cell
      * assignment are map-only folds (linear), and the probed-cell ADC
      * scan grows with cell width (∝ n at fixed cells) under one
      * broadcast join. Anything superlinear here would mean the encode
      * or probe shape regressed to a shuffle/sort. */
    def ivfpqRun(n: Int): Long = {
      val v = vecs(n)
      graft.functions.SimilarityFunctions.ivfPqTopK(
        emb0.where(col("vec_id") < 5), v,
        emb0.where(col("vec_id") % 100 === 0),
        emb0.where(col("vec_id") % 100 === 0), k = 10, nprobe = 2, m = 8).count()
    }

    /** Hamming join at scale through the OPTIMIZER RULE: 60-bit
      * fingerprints in twin families (odd ids = even twin with two bits
      * flipped), joined with the naive key-less bit_count(xor) <= 2 the
      * HammingJoinRewrite re-plans to the 3-band equi-join. True pairs
      * grow n×; random cross-family band collisions are C(n,2)/2^20-ish —
      * quadratic in principle but second-order at these n (the fuzzy_join
      * caveat), so the time tail stays the linearity measurement. */
    def hammingRows(n: Int): DataFrame =
      spark.range(50000L * n).select(col("id"),
        conv(md5(concat(lit("hm"), floor(col("id") / 2).cast("string"))).substr(1, 15),
          16, 10).cast("long").as("base"))
        .select(col("id"),
          when(pmod(col("id"), lit(2)) === 0, col("base"))
            .otherwise(col("base").bitwiseXOR(lit(0x8001L))).as("h"))
    def hammingRun(n: Int): Long = {
      val d = hammingRows(n)
      graft.plans.JoinRewrites.setup(spark)
      val l = d.select(col("id").as("id1"), col("h").as("h1"))
      val r = d.select(col("id").as("id2"), col("h").as("h2"))
      val j = l.join(r, bit_count(col("h1").bitwiseXOR(col("h2"))) <= 2)
        .where(col("id1") < col("id2"))
      require(!j.queryExecution.executedPlan.toString.contains("NestedLoop"),
        "soak must exercise the rewritten plan, not the product")
      j.count()
    }

    /** Gap fill at scale: users replicate ×n over the same time range, so
      * the (user, bucket) agg shuffle grows n× and the dense grid grows
      * n× (users × fixed bucket range) — linear end to end. */
    def gapRun(n: Int): Long =
      // same count-pruning trap as spanRun: predicate on the windowed
      // column keeps the forward-fill in the plan
      graft.api.Graft.gapFill(events(n), "user_id", "ts", "value",
        3600L * 1000000000L).where(col("filled_value").isNotNull).count()


    // three scale points: 1× → 10× may cross a plan transition (e.g. a
    // build side outgrowing the broadcast threshold, switching the banded
    // self-join to shuffle — a one-time step in shuffle bytes); the
    // 10× → 30× tail ratio is the clean linearity measurement past it.
    // Quadratic behavior would show tail ratios near 9, linear near 3.
    val out = new StringBuilder
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // SPARK_GRAFT_SOAK_SCALES=1,10,100 overrides the default sweep (e.g.
    // an x100 linearity point on the dedup pipelines); the tail ratio is
    // always computed from the LAST TWO points, with "linear" = the ratio
    // of those scale factors (3.0 for the default 10→30).
    val scales = sys.env.get("SPARK_GRAFT_SOAK_SCALES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10, 30))
    require(scales.size >= 2 && scales == scales.sorted && scales.distinct == scales,
      s"SPARK_GRAFT_SOAK_SCALES must be >=2 strictly increasing ints, got $scales")
    // SPARK_GRAFT_SOAK_ONLY=name1,name2 runs a subset (local iteration on
    // one pipeline without paying for the other eight)
    val onlySoak = sys.env.get("SPARK_GRAFT_SOAK_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val pipelines = Seq[(String, Int => Long)](
      ("lsh_dedup", lshRun), ("pack_sequences", packRun), ("tiled_erosion3d", erodeRun),
      ("volume_zoom3d", zoomRun), ("semdedup", semdedupRun), ("kmeans_train", kmeansRun),
      ("remove_dup_spans", spanRun), ("gap_fill", gapRun),
      ("sparse_cosine", sparseRun), ("interval_join", intervalRun),
      ("fuzzy_join", fuzzyRun), ("ivfpq", ivfpqRun), ("hamming_join", hammingRun),
      ("edt3d", edtRun), ("label3d_cc", labelRun), ("topk_per_group", capRun))
      .filter { case (name, _) => onlySoak.isEmpty || onlySoak(name) }
    // warmup: absorb codegen/JIT on the 1× shapes outside any timed run
    pipelines.foreach { case (_, run) => run(1) }
    // host-weather honesty (the Bench eff_cores convention, extended to
    // the soak after an r9 session recorded the SAME zoom x30 at 16 s /
    // 27 s / 160 s across three runs — loadavg 13+ from outside the
    // container, zero local processes): probe effective cores BEFORE each
    // pipeline's sweep and stamp it next to the tail ratios, so a
    // superlinear tail can be read against the load it actually ran
    // under. quiet-wait like Bench, bounded.
    val quietTarget = cpus.toInt * 0.62
    val maxWaits = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAITS", "4").toInt
    val parts = pipelines.map { case (name, run) =>
      // Inter-pipeline hygiene (the Bench op-section convention): the
      // pipelines persist corpus replicas and operator state that nothing
      // unpersists, and at 16 pipelines × x100 the accumulated storage
      // blocks crowd the unified pool until a late pipeline's join
      // starves ("Unable to acquire 65536 bytes, got 0" — first seen
      // ~49 min into the 16-pipeline x100 sweep). Clear everything and
      // re-mark the three tiny base frames; each pipeline re-caches what
      // it needs on first touch.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      docs0.persist(); emb0.persist(); ev0.persist()
      var eff = graft.core.HostProbe.effectiveCores(cpus.toInt)._1
      var waits = 0
      while (eff < quietTarget && waits < maxWaits) {
        Thread.sleep(20000)
        eff = graft.core.HostProbe.effectiveCores(cpus.toInt)._1
        waits += 1
      }
      // best-of-2 per scale point, BOTH reps recorded: an r9 session
      // measured the SAME x30 zoom at 68 / 18.6 / 15.8 / 4.5 s on
      // consecutive in-session reps (codegen/JIT/heap-growth warm-up
      // cliff, GC 6.6 s -> 0.1 s) — a single sample conflates the warm-up
      // mode with the scaling behavior the tail ratio is supposed to
      // measure. Min-of-2 is the same repeat-best convention the op bench
      // uses; the rep pair makes any residual slow mode visible.
      // per-scale-point weather (r9 verdict item 8): the pipeline-level
      // pre/post pair can't say WHICH scale point a steal hit — a stolen
      // x30 with a quiet x10 reads as a superlinear tail. The short probe
      // (a third of the calibration iterations) runs after each point and
      // rides in that point's record.
      val pts = scales.map { n =>
        // scale-aware exchange width (r11): a fixed 32-partition exchange
        // at x1000 forces ~8M-row hash-agg/sort partitions that spill and
        // GC-stall the JVM (edt3d x1000: 31 GB spill, 191 s GC, time tail
        // 23 over a linear shuffle tail). A real cluster sizes the
        // exchange to the data — the soak mirrors that above x100 and
        // keeps the session default below it so r10 points stay
        // comparable. Shuffle BYTES are partition-count independent, so
        // the tail ratios still measure the plan, not the conf.
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(512, cpus.toInt * math.max(1, n / 100)).toString)
        val a = timed(run(n)); val b = timed(run(n))
        val effPt = graft.core.HostProbe.effectiveCores(cpus.toInt, 10000000L)._1
        n -> ((if (b._1 < a._1) (b, a._1) else (a, b._1)), effPt)
      }
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      val effPost = graft.core.HostProbe.effectiveCores(cpus.toInt)._1
      val ptJson = pts.map { case (n, (((sec, r, w, rows, gc, spill), other), effPt)) =>
        s""""x$n":{"sec":${fmt(sec)},"sec_other_rep":${fmt(other)},"shuffle_read":$r,"shuffle_write":$w,"rows":$rows,"gc_ms":$gc,"spill_bytes":$spill,"eff":${fmt(effPt)}}"""
      }
      val (_, (((sA, rA, wA, _, _, _), _), _)) = pts(pts.size - 2)
      val (_, (((sB, rB, wB, _, _, _), _), _)) = pts(pts.size - 1)
      val tail =
        s""""tail_time_ratio":${fmt(sB / sA)},"tail_shuffle_ratio":${fmt((rB + wB).toDouble / math.max(1L, rA + wA))},""" +
        s""""eff_pre":${fmt(eff)},"eff_post":${fmt(effPost)},"quiet_waits":$waits"""
      val frag = s""""$name":{${(ptJson :+ tail).mkString(",")}}"""
      // incremental durability: a sweep this long (the x100 shape runs
      // ~1 h) must not lose every completed pipeline to one late failure
      // — the per-pipeline record lands on stderr the moment it exists
      System.err.println(s"[soak] $frag")
      frag
    }
    // heap in the header (r10 verdict item 5): the heap-bound pipelines'
    // x1000 points are only comparable across rounds when the JVM size
    // they ran under is in the artifact, not in a side note
    val heapG = Runtime.getRuntime.maxMemory >> 30
    out ++= s"""{"sf":"$sfDir","scales":[${scales.mkString(",")}],"cores":$cpus,"heap_g":$heapG,${parts.mkString(",")}}"""
    try {
      val soakOut = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_r8.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(soakOut),
        (out.toString + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(out.toString)
    spark.stop()
  }
}
