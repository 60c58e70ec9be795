package graft.core

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What every harness main (Bench, ScaleSoak, Verify, Explain) and the test
  * session share: one session recipe, one core-count rule, one quiet-host
  * wait and one JSON writer. Each caller adds only its own settings. */
object Harness {

  /** Executor threads: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees. A value that is not a positive integer is rejected here rather
    * than reaching Spark as `local[0]`. */
  def cores(env: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    intSetting("SPARK_GRAFT_CPUS", env, min = 1, Runtime.getRuntime.availableProcessors)

  /** A local session on `cores` threads with the confs the oracle gate, the
    * bench and the tests share; `extra` confs are the caller's own. AQE is
    * left at Spark's default (on). */
  def session(appName: String, cores: Int, extra: (String, String)*): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      // Compatibility shim for NANOS-era testdata only: surfaces
      // TIMESTAMP(NANOS) parquet as ns-longs. The current testdata writes
      // TIMESTAMP(MICROS); T.normTs handles that era, so nothing relies on
      // this conf — it just keeps both encodings readable.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // op benches time compute over cached in-RAM inputs (the baseline's
      // numpy-array-in-RAM framing); compressed columnar cache would charge
      // every timed run a decompression pass that is not part of the op
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false")
    val spark = (shared ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cores]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The cap on a suite-level quiet wait: `SPARK_GRAFT_QUIET_WAITS` when
    * set, else the harness's own `default`. Harnesses read it before their
    * first timed run, so a malformed value fails at start, not after a
    * sweep whose timings it would discard. */
  def quietWaits(default: Int, env: Option[String] = sys.env.get("SPARK_GRAFT_QUIET_WAITS")): Int =
    intSetting("SPARK_GRAFT_QUIET_WAITS", env, min = 0, default)

  private def intSetting(name: String, value: Option[String], min: Int, default: => Int): Int =
    value.fold(default)(s => s.trim.toIntOption.filter(_ >= min).getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer >= $min, got '$s'")))

  /** Probes the host with [[HostProbe.effectiveCores]] and, while the
    * reading is under `target`, sleeps `sleepMs` and probes again, at most
    * `maxWaits` times. Returns the last (eff, single rate, aggregate rate)
    * reading and the number of waits taken. */
  def awaitQuiet(threads: Int, target: Double, maxWaits: Int, sleepMs: Long,
                 iters: Long): ((Double, Double, Double), Int) = {
    var probe = HostProbe.effectiveCores(threads, iters)
    var waits = 0
    while (probe._1 < target && waits < maxWaits) {
      Thread.sleep(sleepMs)
      probe = HostProbe.effectiveCores(threads, iters)
      waits += 1
    }
    (probe, waits)
  }

  /** `v` as a JSON number with `decimals` places. Locale.ROOT because the
    * harness lines are parsed as JSON, and a comma-decimal default locale
    * would print "0,1234"; JSON has no NaN or Infinity, so a non-finite
    * value is written as null. */
  def num(v: Double, decimals: Int): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))))

  /** `v` rendered as one compact line; fields whose value is JNothing are
    * left out. */
  def json(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
}
