package graft
import java.nio.file.{Files, Paths}
import org.json4s._
import graft.core.Harness
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** oracle_sql.json: query name to oracle SQL. Builder-authored SQL may
    * hold tabs, CRs and quotes; each is escaped so the driver's json.load
    * never fails and silently zeroes the round's correctness. */
  private[graft] def oracleJson(sql: Iterable[(String, String)]): String =
    Harness.json(JObject(sql.map { case (k, v) => k -> JString(v) }.toList))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: run only the named queries (local iteration)
    val only = args.drop(2).toSet
    val spark = Harness.session("graft-verify", Harness.cores())
    new java.io.File(outDir).mkdirs()
    // A query that throws must STILL surface in the driver's artifact — a
    // gate you can silently fall out of is not a gate. On failure we write a
    // one-row sentinel frame (schema/hash can never match an oracle, so the
    // query shows up as a loud FAIL row instead of vanishing from the
    // correctness file) plus an err sidecar with the real message.
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    var sinceClear = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        // heap hygiene on long sweeps: many gates persist shared inputs /
        // operator state and a 200-query session accumulates cached blocks
        // until a mid-alphabet query OOMs (first seen: q_kcore at sf0.1).
        // Periodic clearCache bounds the peak; SharedInputs re-persists
        // evicted frames on next access, so later shared gates stay fast.
        sinceClear += 1
        if (sinceClear >= 50) { spark.catalog.clearCache(); sinceClear = 0 }
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // a rerun into the same outDir must not leave a stale marker
          Files.deleteIfExists(Paths.get(s"$outDir/$name.err.txt"))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name
          try {
            import spark.implicits._
            Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
              .toDF("__verify_error")
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            Files.writeString(Paths.get(s"$outDir/$name.err.txt"),
              s"$name\n${e}\n")
          } catch { case _: Throwable => () }
        }
      }
    }
    if (failed.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
        Harness.json(JArray(failed.sorted.map(JString(_)).toList)))
    else Files.deleteIfExists(Paths.get(s"$outDir/verify_errors.json"))
    // subset runs dump only the selected oracles too — otherwise
    // check_oracle.py over a partial output dir reports every skipped
    // query as "spark output missing"
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    spark.stop()
  }
}
