package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared verification query: a Spark DataFrame program plus (usually)
  * an equivalent ANSI/DuckDB SQL oracle over the same parquet tables.
  * Column names are aligned on both sides (the driver sorts columns by name
  * before hashing). Doubles that accumulate FP noise are rounded identically
  * on both sides; integer-valued doubles and strings are left exact.
  */
final case class Q(name: String,
                   body: (SparkSession, String) => DataFrame,
                   oracle: Option[String]) {
  /** The query's DataFrame on `s`, planned with the session's join
    * rewrites installed: every caller (Verify, Bench, Explain, the
    * benchmark) reaches the body through here. */
  def run(s: SparkSession, dir: String): DataFrame = {
    graft.plans.JoinRewrites.setup(s)
    body(s, dir)
  }
}

object T {
  import org.apache.spark.sql.functions.{col, expr, unix_micros}
  import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

  /** Schema-robust ns-epoch normalization. The driver's `events.ts` has
    * shipped both as TIMESTAMP(NANOS) (which the nanosAsLong conf surfaces
    * as an ns-since-epoch long) and as timestamp[us] parquet (which arrives
    * as TIMESTAMP_NTZ, or TIMESTAMP if the file says adjusted-to-UTC).
    * Every declared query does integer ns arithmetic on `ts`, so normalize
    * at the read to ns-since-epoch long; LongType passes through. The NTZ
    * branch uses `timestampdiff` from the epoch so the value is independent
    * of the session timezone. The DuckDB oracles' `epoch_ns(ts)` matches
    * every encoding.
    */
  def normTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case Some(TimestampNTZType) =>
        df.withColumn("ts", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * 1000L)
      case _ => df
    }

  def apply(s: SparkSession, dir: String, name: String): DataFrame =
    normTs(s.read.parquet(s"$dir/$name.parquet"))

  /** Raw on-disk schema for streaming sources — `readStream.schema(...)`
    * must declare the file schema exactly as written (declaring the
    * normalized long would misread a TIMESTAMP file); apply [[normTs]] to
    * the stream DataFrame instead.
    */
  def rawSchema(s: SparkSession, dir: String, name: String) =
    s.read.parquet(s"$dir/$name.parquet").schema
}

/** Memoized, persisted shared derived inputs. The declared-query suite
  * reuses the same derived tables (per-order quantity arrays, the 16x16
  * event grids) across dozens of queries; building each once per session
  * mirrors how a real pipeline materializes its feature table instead of
  * re-shuffling the source per query (the round-1 review measured the
  * repeated collect_list groupBy at ~3x the sibling query cost). Keyed by
  * (session, dir, name) so Verify/Bench/test sessions stay independent;
  * persist() is lazy, so the first query that runs materializes the frame.
  */
object SharedInputs {
  private val memo =
    scala.collection.mutable.Map[(SparkSession, String, String), DataFrame]()
  def apply(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame =
    memo.synchronized {
      // evict entries of stopped sessions so test suites that create/stop
      // many sessions don't retain dead cached plans for the JVM lifetime
      memo.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
      val df = memo.getOrElseUpdate((s, dir, key), build.persist())
      // self-heal after an external clearCache (Verify's periodic heap
      // hygiene): a memoized frame whose cache marker was dropped would
      // otherwise recompute on EVERY downstream action, silently
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
      df
    }
}
