package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.relational._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared-operator inventory (SURVEY.md §2): imops-parity
  * ops (pointwise, pad/crop/box, isin, center-of-mass, interp1d, zoom,
  * morphology, label, EDT, radon), the relational layer, and the
  * beyond-reference training-data-pipeline ops (dedup, minhash/simhash,
  * ANN similarity, text analysis). `oracleSql` carries a DuckDB oracle for
  * every SQL-expressible entry; the few iterative/FFT ops are declared
  * without an oracle (rows-only check) and verified in the ScalaTest suites.
  */
object SparkEntry {

  val all: Seq[Q] =
    QueriesRelational.queries ++ QueriesTensor.queries ++
      QueriesGrid.queries ++ QueriesText.queries ++ QueriesStreaming.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> (q.run _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
