package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import graft.core.Harness

/** Plan inspection harness: prints the formatted physical plan and timed
  * execution for one or more declared queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName...]
  * The timed pass materializes the full result (every row and column)
  * through the noop sink: `count()` would prune every column it does not
  * need. The row count is observed in the same pass.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = Harness.session("graft-explain", Harness.cores())
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      val rows = Observation()
      val t0 = System.nanoTime()
      df.observe(rows, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"===== $name: ${rows.get("rows")} rows in $sec%.2f s")
    }
    spark.stop()
  }
}
