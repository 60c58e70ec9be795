package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TensorFunctions

/** Benchmark main: emits ONE JSON line with
  *  - `queries`: wall-time per declared query on SPARK_GRAFT_SF_DIR
  *  - `ops`: matched-work kernel benchmarks mirroring BASELINE.md's
  *    workloads (2^24-cell zoom, 512^3 erosion/dilation, 512^3
  *    center-of-mass, 2^24 pointwise, 2^24-cell interp1d), reported as
  *    cells/voxels per second so the reference numbers normalize directly.
  *    Work is framed the Spark-native way: the batch axis is rows
  *    (/root/reference/imops/radon.py:213-216), so an N^3 volume runs as N
  *    slice rows fanned across executor threads — the cluster analog of the
  *    reference's OpenMP prange over slices.
  */
object Bench {
  import graft.core.Harness
  import graft.core.Harness.num
  import org.json4s._

  /** Synthetic op and soak inputs, deterministic in the row id: `n`
    * doubles in [0, 0.98] and a mask of `n` cells with 4 in 5 set. */
  private[graft] def sliceData(id: Long, n: Int): Array[Double] = {
    val a = new Array[Double](n)
    var i = 0
    while (i < n) { a(i) = ((id * 1315423911L + i * 2654435761L) & 0xffff) * 1.5e-5; i += 1 }
    a
  }
  private[graft] def maskData(id: Long, n: Int): Array[Boolean] = {
    val a = new Array[Boolean](n)
    var i = 0
    while (i < n) { a(i) = ((id * 31 + i * 7) % 5) != 0; i += 1 }
    a
  }

  /** One timed rep of a declared query. A rep that throws has no time:
    * `sec` is NaN (written as null) and `error` carries its message. */
  private[graft] final case class Rep(sec: Double, gcMs: Long, error: Option[String])

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** Wall seconds and collector milliseconds of one run of `body`. */
  private def measure(body: => Any): (Double, Long) = {
    val g0 = gcMillis()
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
  }

  private[graft] def timeRep(body: => Any): Rep = {
    var error: Option[String] = None
    val (sec, gcMs) = measure {
      try body catch { case e: Throwable => error = Some(String.valueOf(e.getMessage)) }
    }
    Rep(if (error.isEmpty) sec else Double.NaN, gcMs, error)
  }

  /** A query's published time: its fastest successful rep, NaN (null)
    * when no rep succeeded. */
  private[graft] def bestRep(reps: Seq[Rep]): Double =
    reps.map(_.sec).filterNot(_.isNaN).minOption.getOrElse(Double.NaN)

  /** A query's `query_reps` entry: every rep (null when it failed), per-rep
    * GC, the failed reps' errors and, when probed, the host's eff cores. */
  private[graft] def repsJson(reps: Seq[Rep], eff: Option[Double]): JObject = {
    val errors = reps.flatMap(_.error)
    JObject(
      "reps" -> JArray(reps.map(r => num(r.sec, 3)).toList),
      "gc_ms" -> JArray(reps.map(r => JLong(r.gcMs)).toList),
      "errors" -> (if (errors.isEmpty) JNothing else JArray(errors.map(JString(_)).toList)),
      "eff" -> eff.fold[JValue](JNothing)(num(_, 2)))
  }

  /** One op bench's published attempt. */
  private[graft] final case class OpRec(sec: Double, thr: Double, reps: Array[Double], gcReps: Array[Long],
                                        effPre: Double, effPost: Double, attempts: Int, route: String)

  /** An op's entry in the full record: every rep, per-rep GC and the
    * attempt's probes. The compact form for the final stdout line (r8
    * verdict item 3: the artifact of record must distinguish a slow op
    * from a slow mode) must stay inside the driver's 2000-char tail window
    * (ADVICE r9: 17 ops x 5 full-precision reps sat right at the limit), so
    * it carries reps at %.2f and ONLY for ops whose spread exceeds 1.5x (a
    * tight-rep op's min already tells the whole story). */
  private[graft] def opJson(rec: OpRec, full: Boolean): JObject = {
    val head = List("sec" -> num(rec.sec, 4), "cells_per_s" -> num(rec.thr, 0))
    if (full) JObject(head ++ List(
      "reps" -> JArray(rec.reps.map(num(_, 4)).toList),
      "gc_ms_reps" -> JArray(rec.gcReps.map(JLong(_)).toList),
      "eff_pre" -> num(rec.effPre, 3), "eff_post" -> num(rec.effPost, 3),
      "attempts" -> JInt(rec.attempts),
      "route" -> (if (rec.route.nonEmpty) JString(rec.route) else JNothing)))
    else {
      val spread = rec.reps.max / math.max(rec.reps.min, 1e-9)
      JObject(head ++ List(
        "reps" -> (if (spread > 1.5) JArray(rec.reps.map(num(_, 2)).toList) else JNothing),
        "att" -> (if (rec.attempts > 1) JInt(rec.attempts) else JNothing)))
    }
  }

  /** The full record (bench_full.json and the earlier stdout line) and the
    * final stdout line, which is the driver contract: metric/value/unit,
    * the PER-QUERY seconds map, ops, sf. r11 shipped "ops" but no "queries"
    * in the final line and the driver's per-query and scaling comparison
    * came back structurally empty (PERF_r11: n_common 0, per_query {}, both
    * bench_ok flags false) — r11 verdict item 2. The 244-entry map at
    * 2-decimal seconds (~5.5 KB) cannot fit a ~2 KB display tail TOGETHER
    * with the per-query reps, so the final line carries queries + compact
    * ops and the query_reps diagnostics stay in the full record. `host` is
    * the run's weather and settings, written into both. */
  private[graft] def records(queries: Seq[(String, Double)], queryReps: Seq[(String, JValue)],
                             ops: Seq[(String, OpRec)], host: List[JField], sf: String): (JObject, JObject) = {
    def line(full: Boolean): JObject = JObject(
      List("metric" -> JString("total"), "value" -> num(queries.map(_._2).sum, 4), "unit" -> JString("sec"),
        "queries" -> JObject(queries.map { case (k, v) => k -> num(v, if (full) 4 else 2) }.toList),
        "query_reps" -> (if (full) JObject(queryReps.toList) else JNothing),
        "ops" -> JObject(ops.map { case (k, rec) => k -> opJson(rec, full) }.toList)) ++
        host :+ ("sf" -> JString(sf)))
    (line(full = true), line(full = false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cores()
    // RAM-backed shuffle dir when the box has headroom (see ScratchDir.shm);
    // the choice is stamped into the artifact either way
    val localDir = graft.core.ScratchDir.shm("graft-shuffle")
    val spark = Harness.session("graft-bench", cpus,
      localDir.map("spark.local.dir" -> _).toSeq ++ Seq(
        // with shuffle on shm, lean on the ContextCleaner to reap dead
        // shuffle files promptly so a long sweep can't fill the tmpfs
        "spark.cleaner.periodicGC.interval" -> "5min"): _*)
    import spark.implicits._

    val quietWaits = Harness.quietWaits(6)
    // mis-set env (0 / negative) must not crash the suite after warmup:
    // attempts.minBy on an empty buffer threw (ADVICE r10) — clamp to >= 1
    val maxOpAttempts = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_OP_ATTEMPTS", "3").toInt)

    // dev hook: SPARK_GRAFT_BENCH_ONLY=op1,op2 runs just those kernel
    // benches and skips the query sweep (fast iteration on one op)
    val onlyOps = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    // absorb session/codegen warmup outside any timed query, and run the
    // inventory in declaration order (Map order is hash-arbitrary)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // best-of-2 per query: the box runs other load and single-shot wall
    // times recorded 3-8x phantom regressions in past rounds that identical
    // -build re-runs did not reproduce; min of two runs is load-robust
    // dev hook: SPARK_GRAFT_BENCH_QUERIES=q_a,q_b times just those declared
    // queries (ops still run unless SPARK_GRAFT_BENCH_ONLY also filters)
    val onlyQueries = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val queryList = onlyQueries match {
      case Some(sel) => SparkEntry.all.filter(q => sel(q.name))
      case None => SparkEntry.all
    }
    val sweepFloor = cpus * 0.45
    // per-query steal defense (r10 verdict item 2): the op benches got
    // eff probes + re-queues in r9/r10 while the query sweep stayed
    // best-of-2 with no weather instrument — and q_lsh_recall promptly
    // published 21.1 s (4.2 s in r9, code unchanged) from a mid-sweep
    // steal the suite-level probes bracketing the sweep never saw. Any
    // query whose best-of-2 still exceeds a 2 s heaviness bar gets an
    // eff probe; if the host reads stolen, wait (bounded) and run one
    // more rep. All reps + per-rep GC + the probe ride in bench_full's
    // `query_reps` so a slow QUERY stays distinguishable from a slow HOST.
    val qdetail = scala.collection.mutable.ArrayBuffer[(String, JValue)]()
    // explicit BENCH_QUERIES wins over BENCH_ONLY's query-sweep skip, so
    // "just these queries, no ops" is expressible for local iteration
    val results = if (onlyOps.isDefined && onlyQueries.isEmpty) Seq.empty[(String, Double)]
      else queryList.map { q =>
      def once(): Rep = timeRep(q.run(spark, sfDir).count())
      val reps = scala.collection.mutable.ArrayBuffer(once(), once())
      var eff: Option[Double] = None
      if (bestRep(reps.toSeq) > 2.0) {
        eff = Some(Harness.awaitQuiet(cpus, sweepFloor, 2, 15000, 10000000L)._1._1)
        reps += once()
      }
      qdetail += q.name -> repsJson(reps.toSeq, eff)
      q.name -> bestRep(reps.toSeq)
    }

    // ---- matched-work kernel benches (force full evaluation via an agg
    // over the produced arrays; count() alone would prune the projection).
    // AQE off for this section: at op-bench row counts (256-65536 rows,
    // one global agg over cached input) adaptive re-planning only adds a
    // per-pass stage-materialization floor that dwarfs several ops' actual
    // work; the query sweep above keeps it on. ----
    //
    // Heap hygiene between sections: the 216-query sweep leaves hundreds
    // of persisted Dataset AND raw-RDD blocks (SharedInputs, semDedup's
    // internal cache, GraphCC state, ...) that nothing unpersists; the op
    // benches then time kernels against an old-gen full of dead cache.
    // Measured on volume_zoom_o1_512 (8 MB humongous output slices, the
    // allocation G1 handles worst): 11.6 s inside the polluted suite vs
    // 1.9 s with the op section's own inputs only — a 6x phantom
    // regression of suite STATE, not the operator. The ops pin their own
    // inputs explicitly, so clearing here changes nothing they measure.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // settle the teardown before the first timed op (the vz512 precedent,
    // applied at the section boundary): the sweep's dropped caches
    // otherwise collect DURING the opening zoom attempts — this round's
    // baseline published zoom_o0 at 0.44 s with 330 ms GC in every rep,
    // 6x its steady state, purely from sweep garbage.
    System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(400)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sliceGen = udf((id: Long, n: Int) => sliceData(id, n))
    val maskGen = udf((id: Long, n: Int) => maskData(id, n))
    def slices(rows: Int, cells: Int): DataFrame =
      spark.range(rows).select(col("id"), sliceGen(col("id"), lit(cells)).as("data"))
    def masks(rows: Int, cells: Int): DataFrame =
      spark.range(rows).select(col("id"), maskGen(col("id"), lit(cells)).as("mask"))

    final case class Attempt(reps: Array[Double], gcReps: Array[Long],
                             effPre: Double, effPost: Double) {
      // GC-fraction rep guard (r10 verdict item 1a): a rep that spent >30%
      // of its wall inside the collector measures the collector, not the
      // op — vz512's r10 published attempt carried reps with 12-37 s GC
      // (up to 82% of wall) because only eff_cores gated publishability.
      // Such reps never reach min(); an attempt whose reps are ALL
      // GC-crushed is unpublishable regardless of eff probes.
      def validIdx: Seq[Int] = reps.indices.filter(i => gcReps(i) <= 300.0 * reps(i))
      def best: Double = { val v = validIdx; if (v.nonEmpty) v.map(reps).min else reps.min }
      // rep-steadiness guard (r10 verdict item 3): pointwise_add published
      // reps [0.198, 5.24, 7.56, 8.82, 3.66] with ZERO GC and quiet-reading
      // bracketing probes — a mid-attempt steal wave the pre/post probes
      // straddled (the rise-then-recover shape rules out a persistent
      // deopt; isolated and prefix-chain re-runs are flat). A >4x max/min
      // spread re-queues the attempt; sub-0.2 s ops bounce ±2x on this box
      // (memory: bench hygiene), so the ratio bar carries an absolute
      // jitter floor — half a second of spread on a 0.1 s op is scheduler
      // noise, not a mode.
      def steady: Boolean =
        reps.max / math.max(reps.min, 1e-9) <= 4.0 || reps.max - reps.min <= 0.5
      def quiet(floor: Double): Boolean =
        math.min(effPre, effPost) >= floor && validIdx.nonEmpty && steady
    }
    val ops = scala.collection.mutable.LinkedHashMap[String, OpRec]()
    // inputs are cached and forced before timing; one untimed warmup run
    // absorbs JIT/codegen compilation, then the best of five timed runs is
    // reported (the reference's asv harness also reports repeat-best).
    // Bench honesty (r8 verdict item 3): ALL rep times plus per-rep GC ms
    // ride in the artifact so a bimodal op (slow MODE) is distinguishable
    // from a slow OP — r8's artifact recorded dilation at 7.5 s best-of-5
    // while other sessions measured 0.07 s, and the min alone hid which.
    //
    // Steal survival (r9 verdict item 1b): recording the weather is not the
    // same as surviving it — r9's artifact published interp1d 0.414 s and
    // volume_zoom 1.86 s from a run whose own probes read eff_cores 5.96/32
    // (the host stole ~80% of the cores mid-suite). Each op now probes
    // effective cores BEFORE and AFTER its timed reps; when either side of
    // an attempt reads below its floor (`floorMult` x conf, 0.45 by
    // default: well under the ~0.65 idle ceiling; r9's stolen run read
    // 0.19) the attempt is re-queued (bounded) instead of published. If no
    // attempt ever ran on a quiet host, the best-min attempt is published
    // and the per-op eff probes in the artifact say exactly under what
    // weather it was measured.
    // `floorMult`/`extraAttempts` (r10 verdict item 1b/1c): the volume-zoom
    // ops raise their publishability floor to ~0.58×conf (vz512's stolen
    // r10 attempt passed the shared 0.45 floor by 0.375 cores) and get
    // more re-queues — their reps are 1-10 s each, so a stolen attempt is
    // cheap to retry relative to publishing it. `route` names the code
    // path a router-dispatched row actually ran (ADVICE r10: radon_sharded
    // and tiled_erosion_3d publish router-selected paths under old names).
    def bench(name: String, work: Double, input: Option[DataFrame] = None,
              route: String = "", floorMult: Double = 0.45,
              extraAttempts: Int = 0)(f: => Unit): Unit = {
      if (onlyOps.exists(!_.contains(name))) return
      val floor = cpus * floorMult
      input.foreach { df => df.persist(); df.count() }
      f // warmup
      val attempts = scala.collection.mutable.ArrayBuffer[Attempt]()
      var a = 0
      var done = false
      while (a < maxOpAttempts + extraAttempts && !done) {
        // pre-probe with a bounded wait-for-quiet (suite-level probe logic,
        // applied per op — minute-3 weather is what the suite probe misses).
        // The ~0.3 s short probe: 17 ops x 2 probes must not dominate the
        // suite, and a steal big enough to poison a rep reads far below the
        // floor even at a third of the calibration iterations
        val pre = Harness.awaitQuiet(cpus, floor, 2, 15000, 10000000L)._1._1
        // best-of-5: the box runs other load and per-run swings of 3-4x were
        // observed between identical builds; min over 5 reps is the
        // steadiest estimator of the op's actual cost. Wall-time bound on
        // hopeless attempts (a GC-crushed vz512 rep runs 50-100 s): an
        // attempt that can never publish — host read stolen after the
        // bounded wait, or both opening reps GC-crushed — stops at 2 reps;
        // the fallback publish only needs a min, not five of them.
        val nReps = if (pre < floor) 2 else 5
        val repsB = scala.collection.mutable.ArrayBuffer[Double]()
        val gcB = scala.collection.mutable.ArrayBuffer[Long]()
        var r = 0
        var bail = false
        while (r < nReps && !bail) {
          val (sec, gcMs) = measure(f)
          repsB += sec
          gcB += gcMs
          r += 1
          if (r == 2 && repsB.indices.forall(i => gcB(i) > 300.0 * repsB(i)))
            bail = true
        }
        val post = graft.core.HostProbe.effectiveCores(cpus, 10000000L)._1
        val att = Attempt(repsB.toArray, gcB.toArray, pre, post)
        attempts += att
        done = att.quiet(floor)
        a += 1
      }
      // publish the first quiet attempt, else the best GC-valid min across
      // attempts — an unquiet run stays visible via its eff/gc fields
      val pub = attempts.find(_.quiet(floor)).getOrElse(attempts.minBy(_.best))
      input.foreach(_.unpersist())
      ops(name) = OpRec(pub.best, work / pub.best, pub.reps, pub.gcReps,
        pub.effPre, pub.effPost, attempts.length, route)
    }

    // quiet-host gate (r5 verdict: kernel dips were host-load artifacts,
    // eff_cores 19.5/32): probe before the op benches and, when the host is
    // visibly loaded, wait-and-reprobe a bounded number of times so the
    // recorded per-op numbers mean something round-over-round. The probe
    // history rides in the artifact either way — a run that never reached a
    // quiet host is visible as eff_cores below target with max waits spent.
    // The target is calibrated to the measured idle ceiling of the turbo-
    // biased ratio (see HostProbe: r6 read 20.7-22.5/32 idle), not to `cpus`.
    val quietTarget = cpus * 0.62
    val ((effCores, singleRate, aggRate), waits) =
      Harness.awaitQuiet(cpus, quietTarget, quietWaits, 20000, 30000000L)

    val c24 = 1 << 24 // BASELINE zoom/pointwise/interp1d workload: 2^24 f64 cells
    val slices256 = slices(256, 65536) // 256 slices of 256x256
    bench("zoom_o1", c24, Some(slices256)) {
      slices256
        .select(graft.exprs.Kernels.zoom(col("data"), array(lit(256), lit(256)),
          array(lit(2.0), lit(2.0)), lit(1), lit(0.0)).getField("_1").as("z"))
        .agg(sum(get(col("z"), lit(0)))).collect()
    }
    bench("zoom_o0", c24, Some(slices256)) {
      slices256
        .select(graft.exprs.Kernels.zoom(col("data"), array(lit(256), lit(256)),
          array(lit(2.0), lit(2.0)), lit(0), lit(0.0)).getField("_1").as("z"))
        .agg(sum(get(col("z"), lit(0)))).collect()
    }
    val v512 = 512L * 512 * 512 // BASELINE morphology/center-of-mass: 512^3
    val masks512 = masks(512, 262144) // 512 slices of 512x512
    // warm blocks run only when an op they serve is selected (ADVICE r10:
    // a SPARK_GRAFT_BENCH_ONLY run for an unrelated op paid every C2 loop)
    def opWanted(names: String*): Boolean =
      onlyOps.forall(sel => names.exists(sel.contains))
    // warm BOTH morphology ops (and thereby the closing / opening
    // compositions, which are dilate∘erode) to steady JIT state before ANY
    // timed morphology section — the r8 bench artifact recorded
    // dilation/closing 25-30x over budget while erosion through the same
    // bridge ran 0.1 s; this loop pushes the kernel's AND and OR run
    // combiners (StencilKernel.scala) past the C2 compile threshold in the
    // Spark driver JVM (local mode: the executor threads share its code
    // cache)
    if (opWanted("binary_erosion", "binary_dilation", "binary_closing",
                 "binary_opening", "tiled_erosion_3d")) {
      val wShape = Array(64, 64)
      val wMask = Array.tabulate(64 * 64)(i => (i % 5) != 0)
      var w = 0
      while (w < 64) {
        graft.kernels.StencilKernel.erodeDefault(wMask, wShape)
        graft.kernels.StencilKernel.dilateDefault(wMask, wShape)
        w += 1
      }
    }
    bench("binary_erosion", v512.toDouble, Some(masks512)) {
      masks512
        .select(graft.api.Graft.binaryErosion(col("mask"), array(lit(512), lit(512))).as("e"))
        .agg(sum(when(get(col("e"), lit(0)), 1).otherwise(0))).collect()
    }
    bench("binary_dilation", v512.toDouble, Some(masks512)) {
      masks512
        .select(graft.api.Graft.binaryDilation(col("mask"), array(lit(512), lit(512))).as("e"))
        .agg(sum(when(get(col("e"), lit(0)), 1).otherwise(0))).collect()
    }
    // closing/opening at the same 512^3 matched-work shape
    // (imops README.md:31-32: 469/522 ms) through the facade: one
    // Kernels.morph per row runs both passes in a single kernel call
    bench("binary_closing", v512.toDouble, Some(masks512)) {
      masks512
        .select(graft.api.Graft.binaryClosing(col("mask"), array(lit(512), lit(512))).as("e"))
        .agg(sum(when(get(col("e"), lit(0)), 1).otherwise(0))).collect()
    }
    bench("binary_opening", v512.toDouble, Some(masks512)) {
      masks512
        .select(graft.api.Graft.binaryOpening(col("mask"), array(lit(512), lit(512))).as("e"))
        .agg(sum(when(get(col("e"), lit(0)), 1).otherwise(0))).collect()
    }
    // center_of_mass is pure memory bandwidth (one read + 3 FMAs per cell):
    // measured scan-only cost of the columnar cache (~0.16 s/pass on 512^3,
    // arrays are row-materialized — the vectorized cache reader covers
    // atomic types only) caps any DataFrame path at ~0.85 G cells/s, so the
    // matched-work analog of the reference's numpy-in-RAM input is
    // MEMORY_ONLY object storage + the VolumeCom kernel (see VolumeCom's
    // scaladoc). The SQL-facing paths (ComPartialSums / CenterOfMassAgg)
    // share its math and are gated by q_com_vectorized / q_com_tensor.
    if (opWanted("center_of_mass")) {
      val comRdd = spark.sparkContext.range(0, 512, numSlices = 32).map(id => (id, sliceData(id, 262144)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      comRdd.count()
      bench("center_of_mass", v512.toDouble) {
        graft.operators.VolumeCom.centerOfMass(comRdd, 512, 512)
      }
      comRdd.unpersist()
    }
    // the SQL/DataFrame-facing path through the facade: every call runs the
    // single-pass ComPartialSums plan over comDf's columnar cache, so each
    // rep pays the cache's ARRAY re-materialization; the matched-work
    // VolumeCom row above is the memory-bandwidth ceiling
    val comDf = slices(512, 262144)
    bench("center_of_mass_sql", v512.toDouble, Some(comDf)) {
      graft.api.Graft.centerOfMass(comDf, "id", "data", 512, 512)
    }
    bench("pointwise_add", c24, Some(slices256)) {
      slices256
        .select(graft.api.Graft.pointwiseAdd(col("data"), 1.0).as("d"))
        .agg(sum(get(col("d"), lit(0)))).collect()
    }
    // pointwise through the object-storage path (the center_of_mass
    // precedent): the DataFrame number above is ~70% columnar-cache ARRAY
    // re-materialization floor (r7 measured scan-only 0.12 s of a 0.17 s
    // min, with 0.17-0.51 s spread across reps in ONE session — the
    // r5→r6 "regression" was this floor plus host noise, not the op).
    // MEMORY_ONLY arrays + a tight loop is the matched-work analog of the
    // reference's numpy-in-RAM pointwise and measures the op itself.
    if (opWanted("pointwise_add_mem")) {
      val pwRdd = spark.sparkContext.range(0, 256, numSlices = 32).map(sliceData(_, 65536))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      pwRdd.count()
      bench("pointwise_add_mem", c24) {
        pwRdd.map { a =>
          val out = new Array[Double](a.length)
          var i = 0
          while (i < a.length) { out(i) = a(i) + 1.0; i += 1 }
          out(0)
        }.sum()
      }
      pwRdd.unpersist()
    }
    val interpInput = slices(65536, 256)
    // push Interp1dKernel's searchsorted + lerp loops past the C2 compile
    // threshold BEFORE any timed rep — the morphology warm-loop precedent
    // (r8 verdict item 1) applied to the r9 red row: the driver's r9
    // artifact recorded first reps of 20.6/18.7 s against a 0.06 s steady
    // state, the profile-poisoned/cold-compile mode the single untimed
    // warmup run did not reliably clear
    if (opWanted("interp1d")) {
      val wxs = Array.tabulate(256)(_.toDouble)
      val wys = Array.tabulate(256)(i => i * 1.5)
      val wxq = Array.tabulate(256)(_ + 0.37)
      var w = 0
      while (w < 256) {
        graft.kernels.Interp1dKernel.interp(wxs, wys, wxq, extrapolate = true, fillValue = 0.0)
        w += 1
      }
    }
    bench("interp1d", c24, Some(interpInput)) {
      // 65536 rows of 256-point y-grids, 256 queries each (= 2^24 y cells)
      // typedlit -> a single constant ArrayData, not a 256-child CreateArray
      // re-evaluated per row
      val xs = typedlit((0 until 256).map(_.toDouble).toArray)
      val xq = typedlit((0 until 256).map(_ + 0.37).toArray)
      interpInput
        .select(graft.exprs.Kernels.interp1d(
          xs, col("data"), xq, lit(true), lit(0.0)).as("y"))
        .agg(sum(get(col("y"), lit(0)))).collect()
    }

    // radon: reference workload is a 256-slice 256x256 CT volume at 180
    // angles (BASELINE.md); we run a 32-slice batch (1/8 of the volume) and
    // report per-output-cell throughput, which normalizes linearly
    val radonInput = slices(32, 65536)
    val theta180 = array(graft.kernels.RadonKernel.thetaLinspace(180).map(lit): _*)
    val circleMask = udf { (data: Array[Double], n: Int) =>
      val r = n / 2
      val out = data.clone()
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          val di = i - r; val dj = j - r
          if (di * di + dj * dj > r * r) out(i * n + j) = 0.0
          j += 1
        }
        i += 1
      }
      out
    }
    val radonReady = radonInput.select(col("id"), circleMask(col("data"), lit(256)).as("data"))
    bench("radon", 32.0 * 256 * 180, Some(radonReady)) {
      radonReady
        .select(graft.exprs.Kernels.radon(col("data"), lit(256), theta180).as("s"))
        .agg(sum(get(col("s"), lit(0)))).collect()
    }
    // angle-sharded variant THROUGH THE ROUTER (r9 verdict item 2): the
    // θ-chunk + stitch path exists for batches smaller than the cluster;
    // at this 32-row/32-core shape the router correctly sends the batch
    // through the plain per-row kernel (stitch measured ~2× the whole
    // wall here), so this row records what a user of the one-call-shape
    // API gets. The sharded path itself stays correctness-gated by
    // q_radon_batch and ShardedRadonSpec (stitched output bit-identical),
    // and routes in whenever rows under-fill the cores.
    bench("radon_sharded", 32.0 * 256 * 180, Some(radonReady),
          route = "router:per-row-kernel") {
      implicit val sp: SparkSession = spark
      graft.operators.ShardedRadon.auto(radonReady, col("id"), col("data"), 256,
          (0 until 180).map(_.toDouble), 6, rowsHint = Some(32L))
        .agg(sum(get(col("sino"), lit(0)))).collect()
    }
    val sinoInput = radonReady
      .select(graft.exprs.Kernels.radon(col("data"), lit(256), theta180).as("s"))
    bench("inverse_radon", 32.0 * 256 * 256, Some(sinoInput)) {
      sinoInput
        .select(graft.exprs.Kernels.inverseRadon(col("s"), lit(256), theta180, lit(0.0), lit(0.0), lit(1.0)).as("r"))
        .agg(sum(get(col("r"), lit(0)))).collect()
    }

    // tiled/distributed path: 256^3 volume as 4x4x4 tiles of 64^3 — the
    // halo-exchange erosion (one shuffle of O(surface) strips)
    // slice-distributed trilinear zoom at the reference's true bench shape
    // (256³ ndim=3 scale 2 — BASELINE.md:15-22): the 100 TB path, paying
    // its real O(scale·volume) slice exchange; the matched-work in-RAM
    // comparison against the baseline stays zoom_o1 above
    val volSlices = spark.range(256).select(
        lit(0L).as("id"), col("id").cast("int").as("sid"),
        sliceGen(col("id"), lit(65536)).as("data"))
    // warm BOTH volume-zoom code paths (full-slice emitter and striped
    // emitter) on a toy 32-cube before any timed rep — r9's artifact
    // recorded volume_zoom_o1 first reps of 45/51 s against a 0.3 s
    // steady state (C2 cold + steal); the bench()'s own warmup run is one
    // pass, which r9 showed is not always enough to reach steady state
    if (opWanted("volume_zoom_o1", "volume_zoom_o1_512")) {
      import spark.implicits._
      val warmSlices = spark.range(32).select(
          lit(0L).as("id"), col("id").cast("int").as("sid"),
          sliceGen(col("id"), lit(1024)).as("data"))
        .as[graft.operators.VolumeZoom.ZSlice]
      var w = 0
      while (w < 3) {
        graft.operators.VolumeZoom(warmSlices, Array(32, 32, 32),
          Array(2.0, 2.0, 2.0), order = 1)(spark).toDF().count()
        graft.operators.VolumeZoom.strips(warmSlices, Array(32, 32, 32),
          Array(2.0, 2.0, 2.0), order = 1)(spark).toDF().count()
        w += 1
      }
    }
    bench("volume_zoom_o1", c24, Some(volSlices), route = "slices",
          floorMult = 0.58, extraAttempts = 2) {
      import spark.implicits._
      graft.operators.VolumeZoom(
          volSlices.as[graft.operators.VolumeZoom.ZSlice],
          Array(256, 256, 256), Array(2.0, 2.0, 2.0), order = 1)(spark)
        .toDF().agg(sum(get(col("data"), lit(0)))).collect()
    }
    // the reference's TRUE morphology-bench shape — a single 512³ tensor
    // (/root/reference/benchmarks/benchmark_morphology.py:22) — through the
    // distributed slice-exchange path: 1 GiB in, 8.6 GiB of output slices,
    // the r6 verdict's missing volume-scale data point. Reported per INPUT
    // cell like zoom_o1 so the baseline normalizes directly. Heap-gated:
    // at the default 8g forked heap the 2× volume in flight OOMs the JVM
    // and would zero the WHOLE bench artifact — skip loudly instead
    // (SPARK_DRIVER_MEM=24g+ enables it).
    val heapG = Runtime.getRuntime.maxMemory >> 30
    if (heapG < 16 && opWanted("volume_zoom_o1_512")) System.err.println(
      s"[bench] volume_zoom_o1_512 skipped: heap ${heapG}g < 16g")
    if (heapG >= 16 && opWanted("volume_zoom_o1_512")) {
      // r8 fix, moved INTO the operator: the full-slice path emits 8 MB
      // output rows — humongous at G1's default region size — and after
      // ~200 queries fragment the old gen into an intermittent full-GC
      // death spiral (measured 1.5 s → 18.5 s on identical code, bimodal;
      // the build.sbt G1HeapRegionSize flag does not reach the driver's
      // invocation). VolumeZoom.strips emits ≤1 MiB row strips — never
      // humongous at any heap ≥ 4 GiB — same shuffle plan, same per-cell
      // math (VolumeZoomSpec pins stitched bit-equality). Two settle GCs
      // stay as inter-section hygiene; the reps array records any
      // remaining slow mode instead of hiding it.
      System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(400)
      val volSlices512 = spark.range(512).select(
          lit(0L).as("id"), col("id").cast("int").as("sid"),
          sliceGen(col("id"), lit(262144)).as("data"))
      bench("volume_zoom_o1_512", 512.0 * 512 * 512, Some(volSlices512),
            route = "strips", floorMult = 0.58, extraAttempts = 2) {
        import spark.implicits._
        graft.operators.VolumeZoom.strips(
            volSlices512.as[graft.operators.VolumeZoom.ZSlice],
            Array(512, 512, 512), Array(2.0, 2.0, 2.0), order = 1)(spark)
          .toDF().agg(sum(get(col("data"), lit(0)))).collect()
      }
    }

    import graft.operators.TiledStencil.Tile3
    // matched-FRAMING batch (r10 verdict item 4): the r10 row ran ONE 256³
    // volume through the router's assembled path — one task, one core, and
    // the published 52 M cells/s was simply single-thread kernel speed on
    // a 32-core box. Every other bench row frames the batch axis as rows
    // fanned across executor threads (radon runs 32 slices; zoom 256), so
    // this row now does too: 32 independent 256³ volumes, one assembly
    // task each — the shape the assembled route exists for (per-volume
    // parallelism across the batch, the reference's OpenMP-batch analog).
    // Throughput is per cell over all 32 volumes. The 3-D kernel gets the
    // same C2 warm pass as morphology/interp1d (r10 reps 1.46 → 0.32 were
    // the cold-compile curve inside the timed attempt).
    if (opWanted("tiled_erosion_3d")) {
      val (wfp, wfs) = graft.kernels.StencilKernel.crossFootprint(3)
      val wMask = Array.tabulate(32 * 32 * 32)(i => (i % 5) != 0)
      var w = 0
      while (w < 32) {
        graft.kernels.StencilKernel.erode(wMask, Array(32, 32, 32), wfp, wfs)
        w += 1
      }
    }
    val tiles3 = spark.range(64L * 32).select(
        floor(col("id") / 64).as("id"),
        ((col("id") % 64) / 16).cast("int").as("ti"),
        (((col("id") % 64) / 4) % 4).cast("int").as("tj"),
        ((col("id") % 64) % 4).cast("int").as("tk"),
        maskGen(col("id"), lit(64 * 64 * 64)).as("data"))
      .as[Tile3]
    val tiles3Df = tiles3.toDF()
    // 32 volume keys into the default 32 shuffle partitions would load
    // the max bin 3-4 volumes deep (balls-in-bins); widen the exchange so
    // each assembly task owns ~1 volume, then restore
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    bench("tiled_erosion_3d", 32.0 * 256 * 256 * 256, Some(tiles3Df),
          route = "router:assembled,batch=32") {
      graft.operators.TiledStencil.erode3Auto(tiles3Df.as[Tile3], 64, Array(4, 4, 4))(spark)
        .toDF().agg(count(lit(1))).collect()
    }
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)

    // per-section honesty (r6 verdict item 8): a probe that was quiet at
    // the section start says nothing about minute 3 — re-probe AFTER the
    // op benches and record both, so a round-over-round kernel-rate delta
    // can be read against the load the section actually ran under.
    val effCoresPost = graft.core.HostProbe.effectiveCores(cpus)._1
    // G1 region size honesty (r8 verdict item 2): the build.sbt fork flag
    // demonstrably does not reach the driver's own bench invocation, so the
    // effective region size rides in the artifact — an 8 MB output slice is
    // humongous below 16m and that mode is now visible, not inferred
    val g1Region = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-XX:G1HeapRegionSize="))
        .map(_.stripPrefix("-XX:G1HeapRegionSize=")).getOrElse("default")
    }
    val host = List(
      "eff_cores" -> num(effCores, 4), "eff_cores_post" -> num(effCoresPost, 4),
      "conf_cores" -> JInt(cpus), "quiet_waits" -> JInt(waits), "g1_region" -> JString(g1Region),
      "local_dir" -> JString(localDir.fold("default")(_ => "shm")),
      // agg_rate in iters/µs: the frequency-honest all-core throughput probe
      "agg_rate" -> num(aggRate * 1000, 4), "single_rate" -> num(singleRate * 1000, 4))
    val (full, last) = records(results, qdetail.toSeq, ops.toSeq, host, sfDir)
    val fullLine = Harness.json(full)
    try {
      // stamped per core count (r11 verdict item 3: the 8-core scaling run
      // used to overwrite the 32-core record); plain bench_full.json stays
      // as the latest-run convenience pointer
      for (p <- Seq("bench_full.json", s"bench_full_c$cpus.json"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p), (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(fullLine)
    println(Harness.json(last))
    spark.stop()
  }
}
