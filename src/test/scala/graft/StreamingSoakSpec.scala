package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Unbounded-source soak: the declared `q_stream_*` gates all drain a FILE
  * source with Trigger.AvailableNow (bounded by construction), so they prove
  * correctness but not that state stays flat on a stream that never ends.
  * This soak runs the two stateful shapes against Spark's `rate` source —
  * an unbounded generator clocked by wall time — for 100+ micro-batches and
  * asserts the state-store row counts reported by the progress API stay
  * bounded: the watermark purges dedup state, and the windowed agg's live
  * set stays at (live windows × keys). A leak (no purge) would grow
  * monotonically with batch count and fail both bounds.
  */
class StreamingSoakSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  private def batches(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  test("rate-source soak: dedup + windowed state stays bounded over 100+ micro-batches") {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", 5000).option("numPartitions", 2).load()

    // bounded-state dedup within a 5 s watermark horizon. Every rate value
    // is distinct, so WITHOUT purge the state would grow by ~5000 rows/s
    // forever; with purge it plateaus near watermark×rate. (The soak's
    // first run, against exact `deduped`, measured exactly that unbounded
    // growth — 290k rows and climbing at batch ~110 — which is why the
    // unbounded-stream path is dropDuplicatesWithinWatermark.)
    val dedup = StreamingOps.dedupedWithinWatermark(
      rate.select(col("timestamp").as("ts"), col("value").cast("string").as("text")),
      "ts", "text", "5 seconds")

    // q_stream_window shape: watermarked tumbling counts over 8 keys —
    // bounded live-window set regardless of stream length.
    val windowed = StreamingOps.windowedCounts(
      rate.select(col("timestamp").as("ts"), (col("value") % 8).as("k"),
        lit(1.0).as("value")),
      "ts", "k", "1 second", "2 seconds")

    val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds")
    TempDirs.withTempDir("graft_soak_dedup") { dedupCkpt =>
    TempDirs.withTempDir("graft_soak_window") { windowCkpt =>
      val q1 = dedup.writeStream.format("noop").outputMode("append").trigger(trigger)
        .option("checkpointLocation", dedupCkpt)
        .start()
      val q2 = windowed.writeStream.format("noop").outputMode("update").trigger(trigger)
        .option("checkpointLocation", windowCkpt)
        .start()
      try {
        val deadline = System.nanoTime() + 240L * 1000L * 1000L * 1000L
        while ((batches(q1) < 110 || batches(q2) < 110) && System.nanoTime() < deadline)
          Thread.sleep(500)
        assert(batches(q1) >= 100, s"dedup stream only reached batch ${batches(q1)}")
        assert(batches(q2) >= 100, s"windowed stream only reached batch ${batches(q2)}")

        def stateRows(q: StreamingQuery): Array[Long] =
          q.recentProgress.filter(_.stateOperators.nonEmpty)
            .map(_.stateOperators.apply(0).numRowsTotal)
        val r1 = stateRows(q1)
        val r2 = stateRows(q2)
        assert(r1.length >= 50 && r2.length >= 50, "not enough progress history retained")

        // dedup: plateau bound = watermark(5 s) × 5000 rows/s plus commit lag;
        // a leak over ~100 batches (tens of seconds) would exceed this multiply
        val mid1 = r1.slice(r1.length / 3, 2 * r1.length / 3).max
        val late1 = r1.takeRight(10).max
        assert(late1 < 150000L, s"dedup state grew to $late1 rows — watermark purge not bounding it")
        assert(late1 < 2 * mid1 + 5000,
          s"dedup state still growing late in the soak: mid-third max $mid1 vs final $late1")

        // windowed agg: live windows × 8 keys — two orders below any leak
        assert(r2.takeRight(10).max < 1000L,
          s"windowed state ${r2.takeRight(10).max} rows — closed windows not evicted")

        info(s"dedup state rows (first/mid/late): ${r1.head}/$mid1/$late1 over ${batches(q1)} batches")
        info(s"windowed state rows late max: ${r2.takeRight(10).max} over ${batches(q2)} batches")
      } finally {
        q1.stop(); q2.stop()
        // stop() cancels the running micro-batch, but its tasks may still be
        // committing state deltas, and the state-store maintenance thread
        // snapshots the stopped queries' stores until it unloads them; let
        // the tasks end and unload the stores before the checkpoint dirs go
        val settled = System.nanoTime() + 60L * 1000L * 1000L * 1000L
        while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
            System.nanoTime() < settled)
          Thread.sleep(100)
        StateStore.stop()
        prev match {
          case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
          case None => spark.conf.unset("spark.sql.shuffle.partitions")
        }
      }
    }}
  }
}
