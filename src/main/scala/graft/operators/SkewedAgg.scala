package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted two-phase aggregation for skewed keys — the standard 100 TB
  * mitigation when one group holds a disproportionate share of rows (e.g.
  * one background label owning 90% of the voxels in a labeled volume, or
  * one document cluster dominating an LSH bucket).
  *
  * Phase 1 groups by (key, salt) so the hot key spreads over `salts`
  * reducers; phase 2 merges the partials. Only algebraic aggregates
  * (sum/count/min/max) compose this way — which is exactly what the
  * engine's measurement ops are (center-of-mass is sums of weighted
  * coordinates; mask_to_box is min/max; label sizes are counts).
  */
object SkewedAgg {

  /** Salted sum+count per key: returns (key, sum, cnt). */
  def sumCount(df: DataFrame, key: String, value: String, salts: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    salted.groupBy(col(key), col("__salt"))
      .agg(sum(col(value)).as("__s"), count(lit(1)).as("__c"))
      .groupBy(col(key))
      .agg(sum(col("__s")).as("sum"), sum(col("__c")).as("cnt"))
  }
}
