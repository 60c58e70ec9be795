package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.SparkEntry

/** Declared queries from `SparkEntry.all`, each materialized in full and
  * hashed, in an order the seed permutes. Many short plans: planning,
  * scheduling, plan rewrites, text functions and shared-input caching
  * dominate; tensor kernels barely run. */
object QueryMix {
  val Queries: Seq[String] = Seq(
    "q_minhash_builtin", "q1_agg", "q_window_funcs",
    "q_interp1d_unsorted", "q_hamming_rewrite", "q_band_rewrite",
    "q_stream_session")

  def readExpected(path: String): Map[String, Digest] = {
    implicit val formats: Formats = DefaultFormats
    Json.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .extract[Map[String, String]].map { case (k, v) => k -> Digest.parse(v) }
  }
}

final class QueryMix(spark: SparkSession, seed: Long, fixtures: String,
                     expected: Map[String, Digest]) extends Workload {
  val name = "query_mix"
  def passes(seconds: Int): Int = math.max(1, math.round(seconds / 4.0).toInt)

  private val byName = SparkEntry.all.map(q => q.name -> q).toMap
  QueryMix.Queries.foreach(n => require(byName.contains(n), s"declared query $n not found"))

  def prepare(): Unit = ()
  def reference(): Unit = ()

  def digest(q: String): Digest = ResultHash.of(byName(q).run(spark, fixtures))

  def pass(index: Int): Seq[Call] =
    new scala.util.Random(seed * 1000003L + index).shuffle(QueryMix.Queries).map { q =>
      Call(q, "relational", () => {
        val got = digest(q)
        val want = expected.getOrElse(q, throw WrongOutput(s"$q has no recorded digest"))
        if (got != want) throw WrongOutput(s"$q digest $got, expected $want")
      })
    }

  def sizes: Seq[(String, JValue)] = Seq(
    "fixtures" -> Json.str("sf0.001 (lineitem ~6,000 rows; documents and embeddings as shipped)"),
    "queries" -> Json.num(QueryMix.Queries.length.toLong))
}
