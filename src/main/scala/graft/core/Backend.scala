package graft.core

import org.apache.spark.sql.SparkSession

/** Execution-backend dispatch, the Spark mapping of the reference's Backend
  * registry (/root/reference/imops/backend.py:7-95):
  *
  *  - `Builtin` — compositions of codegen'd Catalyst expressions (the
  *    analog of the reference's default `Cython` fast path)
  *  - `Kernel`  — single-pass JVM kernels behind UDFs (the analog of the
  *    always-correct `Scipy` reference path; for md5/array-heavy ops it is
  *    also the faster one because higher-order functions are interpreted)
  *
  * Selection: explicit argument > session conf `spark.graft.backend` >
  * default. Unknown names are rejected like `resolve_backend`
  * (backend.py:29-48). `withBackend` scopes a setting like the
  * `imops_backend` context manager (backend.py:51-64).
  */
object Backend {
  sealed trait Kind { def name: String }
  case object Builtin extends Kind { val name = "builtin" }
  case object Kernel extends Kind { val name = "kernel" }

  val ConfKey = "spark.graft.backend"

  private val registry = Map(Builtin.name -> Builtin, Kernel.name -> Kernel)

  /** Per-backend variant knobs, the conf mapping of the reference's
    * backend dataclass parameters (`Cython(fast=...)` at
    * /root/reference/imops/backend.py:41-48, `Numba(parallel, nogil,
    * cache)` at backend.py:69-92). On Spark every one of them is a
    * documented NO-OP — codegen'd expressions are always "fast", executor
    * threads always run without a GIL, and codegen caching is Catalyst's
    * own — mirroring the reference's own `fast=True` warn-but-no-effect
    * behavior (backend.py:45-46): setting `fast=true` logs one warning and
    * changes nothing. The knobs still round-trip through the conf so a
    * reference user's `Cython(fast=True)` call site maps 1:1, and
    * non-boolean values are rejected like `resolve_backend` rejects
    * unknown backend names. */
  final case class Variant(fast: Boolean, parallel: Boolean, nogil: Boolean, cache: Boolean)

  val FastKey = s"$ConfKey.builtin.fast"        // Cython(fast=...) analog
  val ParallelKey = s"$ConfKey.kernel.parallel" // Numba(parallel=...) analog
  val NogilKey = s"$ConfKey.kernel.nogil"       // Numba(nogil=...) analog
  val CacheKey = s"$ConfKey.kernel.cache"       // Numba(cache=...) analog

  private val warnedFast = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def boolConf(spark: SparkSession, key: String, default: Boolean): Boolean =
    spark.conf.getOption(key).map { v =>
      v.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"$key must be true/false, got '$other'")
      }
    }.getOrElse(default)

  /** Resolve the variant knobs from the session conf. Defaults mirror the
    * reference's dataclass defaults (fast=False, parallel=True,
    * nogil=True, cache=True — backend.py:41-92). */
  def variant(spark: SparkSession): Variant = {
    val fast = boolConf(spark, FastKey, default = false)
    if (fast && warnedFast.compareAndSet(false, true))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$FastKey=true has no effect: codegen'd expressions already run " +
          "the fast path (the reference's fast=True warns identically, " +
          "backend.py:45-46)")
    Variant(fast,
      parallel = boolConf(spark, ParallelKey, default = true),
      nogil = boolConf(spark, NogilKey, default = true),
      cache = boolConf(spark, CacheKey, default = true))
  }

  /** Scoped variant override, the parameterized-backend analog of
    * [[withBackend]]: `withBackendVariant(s, Kernel, ParallelKey -> "true")
    * { ... }` is `imops_backend(Numba(parallel=True))`. */
  def withBackendVariant[A](spark: SparkSession, kind: Kind, knobs: (String, String)*)(body: => A): A =
    withBackend(spark, kind) {
      val prevs = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      try { variant(spark); body } // validate knob values up front
      finally prevs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  def resolve(explicit: Option[String], spark: SparkSession, default: Kind = Builtin): Kind = {
    val name = explicit.orElse(spark.conf.getOption(ConfKey)).getOrElse(default.name)
    registry.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"Unknown backend '$name'; available: ${registry.keys.mkString(", ")}"))
  }

  /** Scoped backend override, like the `imops_backend` context manager. */
  def withBackend[A](spark: SparkSession, kind: Kind)(body: => A): A = {
    val prev = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, kind.name)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }

  /** The `normalize_num_threads` analog (/root/reference/imops/utils.py:40-92):
    * clamp a requested parallelism to the session's capability; negative n
    * means "all cores + n + 1" like the reference's negative num_threads. */
  def normalizeParallelism(requested: Int, spark: SparkSession): Int =
    clampParallelism(requested, spark.sparkContext.defaultParallelism)

  /** The pure clamp rule behind [[normalizeParallelism]], exposed so the
    * mapping itself is driver-gateable over a fixed (requested, avail)
    * grid (`q_num_threads`) — the live-session form depends on the host's
    * core count and cannot be replayed by an engine-independent oracle.
    *
    * DELIBERATE DELTA vs the reference (documented, not an analog): the
    * reference's `normalize_num_threads` (/root/reference/imops/utils.py)
    * can return 0 for requested=0 (`min(0, max)`) and a non-positive
    * value for deep negatives (e.g. -64 on 32 cores) — values a pthread
    * pool tolerates but a Spark parallelism hint must not (0-partition
    * repartition/parallelize is an error). This rule therefore clamps to
    * [1, avail]: requested=0 → 1, and negatives that underflow past
    * -avail → 1 instead of going non-positive. The `q_num_threads` oracle
    * encodes THIS rule, so the gate verifies the repo's contract, not
    * reference-edge-case fidelity. */
  def clampParallelism(requested: Int, avail: Int): Int = {
    val n = if (requested < 0) avail + requested + 1 else requested
    math.max(1, math.min(n, avail))
  }
}
