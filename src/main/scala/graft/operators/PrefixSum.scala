package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed exclusive prefix sum — the scan primitive behind
  * sequence/token packing. A global-order running sum is usually written as
  * `sum().over(Window.orderBy(...))` with no partition key, which Spark
  * executes by moving EVERYTHING to one partition — correct at test scale,
  * a non-starter at 100 TB. This is the classic two-phase scan instead:
  *
  *   1. range-repartition by the order key and sort within partitions
  *      (one shuffle — the same shuffle a global sort pays);
  *   2. per-partition partial sums (narrow), collected to the driver —
  *      O(num partitions) longs, not rows;
  *   3. exclusive scan of the P partials on the driver, broadcast back,
  *      partition-local running sum (narrow).
  *
  * Output values are independent of where range boundaries land, so the
  * result is deterministic even though boundary sampling is internal to
  * Spark. Keys must be unique (docs have unique ids) for a well-defined
  * global order.
  */
object PrefixSum {

  /** Returns (key, value, cum) where cum = sum of `value` over all rows
    * with key strictly before this row's key in ascending order. */
  def exclusive(df: DataFrame, keyCol: String, valueCol: String,
                numParts: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sorted = df.select(col(keyCol).cast("long"), col(valueCol).cast("long"))
      .repartitionByRange(numParts, col(keyCol))
      .sortWithinPartitions(keyCol)
      .as[(Long, Long)]
      // two passes over the same sorted layout, the second one in the
      // returned plan: checkpointed (by the partials job), so the offsets
      // and the running sums read the same partitions
      .localCheckpoint(eager = false)
    val partials = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(s += _._2); Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partials.scanLeft(0L)(_ + _) // offsets(p) = sum of parts < p
    val bc = spark.sparkContext.broadcast(offsets)
    sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var run = bc.value(pid)
        it.map { case (k, v) => val c = run; run += v; (k, v, c) }
      }
      .toDF(keyCol, valueCol, "cum")
  }
}
