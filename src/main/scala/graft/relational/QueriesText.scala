package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.SimilarityFunctions._

/** Beyond-reference surface for large-scale training-data pipelines
  * (BASELINE.json north star): deduplication (exact, MinHash+LSH, n-gram
  * Jaccard, SimHash), similarity search (brute-force cosine top-k + LSH
  * ANN), and text analysis (lang-id, quality, token counts, fingerprints)
  * over the `documents` / `embeddings` tables.
  *
  * Everything is pure `functions._` expressions (no UDFs) so the oracles can
  * recompute them in DuckDB: hashes are md5 hex strings (identical in both
  * engines), minhash components are string-min over md5 digests, and dot
  * products are left-folds with a fixed evaluation order.
  */
object QueriesText {

  /** Deterministic CLUSTERED embedding corpus for the q_pq_recall_clustered
    * harness (and its spec): 1200 vectors of dim 64 = 25 well-separated
    * cluster centers (components ±500), 100 near-duplicate groups of 12
    * (group offset ±60/dim), per-vector jitter ±3/dim — the shape of a
    * real embedding corpus with near-dup documents, vs the i.i.d. uniform
    * worst case the other recall gates deliberately measure. All-integer
    * hash construction, so the DuckDB oracle regenerates it bit-exactly. */
  private[graft] def clusteredEmbeddings(s: org.apache.spark.sql.SparkSession) =
    s.range(1200).select(col("id").as("vec_id"))
      .select(col("vec_id"), transform(sequence(lit(0L), lit(63L)), k => {
        val g = expr("vec_id DIV 12")
        val center = ((g % 25) * lit(1315423911L) + k * lit(2654435761L)) % 1001 - 500
        val groupOff = (g * lit(2654435761L) + k * lit(40503L)) % 121 - 60
        val jitter = (col("vec_id") * 97 + k * 131) % 7 - 3
        (center + groupOff + jitter).cast("double")
      }).as("embedding"))

  /** The 25 true cluster centers of [[clusteredEmbeddings]] — the
    * deployment-grade coarse quantizer (k-means would recover these). */
  private[graft] def clusteredCenters(s: org.apache.spark.sql.SparkSession) =
    s.range(25).select(col("id").as("vec_id"))
      .select(col("vec_id"), transform(sequence(lit(0L), lit(63L)), k =>
        (((col("vec_id") % 25) * lit(1315423911L) + k * lit(2654435761L)) % 1001 - 500)
          .cast("double")).as("embedding"))

  // (doc_id, term) token stream shared by the relevance-scoring queries —
  // tokenization is the dominant cost and both tf-idf and BM25 fan the
  // same stream into several aggregation branches, so it is persisted
  // once per session like the grid inputs
  // guide §2.5 unsplittable input (r12): the documents fixture is ONE
  // parquet row group, so a scan-stage explode runs in a single task at
  // any core count — and a table cached straight off it persists as ONE
  // partition, serializing every consumer's read too. Spreading the docs
  // across the session's cores BEFORE the heavy per-row work fixes both;
  // at production scale the source splits natively and this exchange is
  // O(input) against an explode that is strictly larger.
  private def spreadDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    T(s, dir, "documents").repartition(
      s.sparkContext.defaultParallelism, col("doc_id"))

  private def docTokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedInputs(s, dir, "docTokens") {
      spreadDocs(s, dir).select(col("doc_id"),
        explode(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")).as("term"))
    }

  // distinct-content representatives with their 4-band minhash signatures,
  // shared by every LSH query (q_lsh_pairs, q_dedup_clusters,
  // q_edit_distance, q_ngram_jaccard): the signature pass is the dominant
  // cost and identical in all four, so it is materialized once per session
  // like docTokens — the pipeline's "compute the feature table once" shape.
  // The UDF is fenced nondeterministic so the optimizer cannot duplicate it
  // into inferred Generate filters before the persist materializes it.
  private def repSig(s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedInputs(s, dir, "repSig4") {
      graft.operators.LshBlocking.collapseExact(T(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("text"),
          minhashSigUdf.asNondeterministic()(col("text"), lit(4), lit(3)).as("sig"))
    }

  // (doc_id, cluster) assignment via LSH candidate pairs + GraphCC min-label
  // fixpoint — shared by q_dedup_clusters (adds sizes) and q_cluster_rep
  // (adds a representative-selection policy on top). Memoized per session:
  // the CC fixpoint executes eagerly once (minLabels runs its rounds at
  // build time), so the second consumer reads the persisted assignment
  // instead of re-running the propagation.
  private def docClusters(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame =
    SharedInputs(s, dir, "docClusters") { docClustersBuild(s, dir) }

  // Distinct capped candidate-pair set over the rep signatures — the LSH
  // blocking output every near-dup verifier consumes. Four declared
  // queries (cluster CC build, n-gram Jaccard, containment, edit
  // distance) previously each re-ran the identical banded self-join +
  // distinct (r11 baseline plans: 24-44 Exchange nodes apiece, zero
  // runtime reuse); one materialized pair table is the "compute the
  // candidate table once" pipeline shape, same SharedInputs contract as
  // repSig/docTokens (guide §2.4: two operations keyed the same way share
  // one exchange — here they share the whole blocking pass).
  private def candPairs64(s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedInputs(s, dir, "candPairs64") {
      val bands = repSig(s, dir)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "h")))
      graft.operators.LshBlocking
        .candidatePairs(bands, "band", "h", "doc_id", cap = 64)
        .distinct()
    }

  // (doc_id, sh) distinct 3-gram shingle arrays of the reps — shared by
  // the Jaccard/containment verifiers and the recall harness; the shingle
  // UDF over every rep's full text is their dominant projection cost and
  // byte-identical in all three. No nondeterminism fence (r11 verdict
  // item 5): the table is persisted, so consumers read the materialized
  // column and no filter can be pushed below it — a fence here would only
  // block legitimate optimization of future consumers.
  private def repShingles3(s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedInputs(s, dir, "repShingles3") {
      repSig(s, dir).select(col("doc_id"),
        shinglesUdf(col("text"), lit(3)).as("sh"))
    }

  private def docClustersBuild(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // exact dups collapse to their representative before banding (their
    // cluster membership is recovered through the rep mapping below —
    // identical text implies identical signature, so nothing is lost);
    // hot buckets are capped at 64 like every LSH band join here
    val docs = T(s, dir, "documents")
    val reps = repSig(s, dir)
    val docRep = graft.operators.LshBlocking.repMapping(docs, "doc_id", "text")
    val pairs = candPairs64(s, dir)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val labels = graft.operators.GraphCC.minLabels(
      reps.select(col("doc_id")).as[Long].rdd,
      pairs.as[(Long, Long)].rdd)(s)
    val comp = labels.toDF("rep_id", "cluster")
    // every doc inherits its representative's cluster (cluster label =
    // min rep id = min doc id in the cluster)
    docRep.join(comp, Seq("rep_id")).select(col("doc_id"), col("cluster"))
  }

  // DuckDB twin: recursive-CTE closure of the identical pair graph, ending
  // at `dc` = (doc_id, cluster). Lazy: mhSql initializes further down the
  // object body, so a strict val here would read null at <clinit>.
  private lazy val clusterCte: String =
    s"""WITH RECURSIVE rep AS (SELECT min(doc_id) AS doc_id, text
       |  FROM documents GROUP BY text),
       |sig AS (SELECT doc_id,
       |${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")} FROM rep),
       |bands AS (${(0 until 4).map(k =>
          s"SELECT doc_id, $k AS band, mh$k AS h FROM sig").mkString(" UNION ALL ")}),
       |keptb AS (SELECT band, h FROM bands GROUP BY band, h HAVING count(*) <= 64),
       |kb AS (SELECT b.doc_id, b.band, b.h FROM bands b
       |  JOIN keptb ON keptb.band = b.band AND keptb.h = b.h),
       |e AS (SELECT DISTINCT x.doc_id AS s, y.doc_id AS t
       |  FROM kb x JOIN kb y
       |  ON x.h = y.h AND x.band = y.band AND x.doc_id <> y.doc_id),
       |reach(s, t) AS (SELECT doc_id, doc_id FROM rep
       |  UNION SELECT r.s, e.t FROM reach r JOIN e ON e.s = r.t),
       |comp AS (SELECT s AS rep_id, min(t) AS cluster FROM reach GROUP BY s),
       |dmap AS (SELECT d.doc_id, r.doc_id AS rep_id
       |  FROM documents d JOIN rep r ON r.text = d.text),
       |dc AS (SELECT dmap.doc_id, comp.cluster
       |  FROM dmap JOIN comp ON comp.rep_id = dmap.rep_id)""".stripMargin

  // (doc_id, g) word-5-gram occurrence stream shared by the corpus-level
  // dedup and decontamination gates (q_dup_ngrams, q_doc_dup_fraction,
  // q_decontaminate): the explode is the dominant cost and identical in all
  // three, so it materializes once per session like docTokens
  private def grams5(s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedInputs(s, dir, "grams5") {
      // tokens materialize as a column first — wordGrams' lambda references
      // the array from inside `transform`, where an inline split would
      // re-evaluate per element (see TextFunctions.wordGrams); spreadDocs
      // parallelizes the explode and the cached table's partitioning
      spreadDocs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(wordGrams(col("toks"), 5)).as("g"))
    }

  // distinct (doc_id, gh) hashed 5-gram incidence — the deduped gram table
  // all three decontamination gates (semi-join, Bloom, contamination
  // report) derive identically from grams5 (r11: each previously re-ran
  // the md5 + distinct shuffle over the full gram stream; one materialized
  // table per session, the SharedInputs contract).
  private[relational] def grams5h(s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedInputs(s, dir, "grams5h") {
      grams5(s, dir).select(col("doc_id"), md5(col("g")).as("gh")).distinct()
    }

  // DuckDB twin of the 5-gram stream: CTE `g` = (doc_id, g)
  private def gramSql(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $parts)) AS g FROM t)""".stripMargin
  }

  // 16-bit simhash as SQL: per-bit majority vote over word md5 digests
  private val simhashSql: String = (0 until 16).map { b =>
    s"""CASE WHEN list_sum(list_transform(string_split(text, ' '),
       |w -> CASE WHEN substring(md5(w), ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0
       |THEN ${1 << b} ELSE 0 END""".stripMargin
  }.mkString(" + ")

  // shingle-based minhash: min md5 over distinct word 3-grams (seed-prefixed);
  // package-visible so the streaming LSH gate reuses the same oracle form
  private[relational] val mhSql = (k: Int) =>
    "list_min(list_transform(list_distinct(list_transform(" +
      "range(1, len(string_split(text, ' ')) - 1), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])), " +
      s"s -> md5('$k|' || s)))"

  val queries: Seq[Q] = Seq(

    // ---- deduplication ----

    Q("q_dedup_exact",
      (s, dir) => T(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n")),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    Q("q_fingerprint",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
             |string_split(text, ' '))), ' ')) AS fp FROM documents""".stripMargin)),

    // Rabin-Karp-style polynomial content fingerprint: fold
    // h = (h*31 + codepoint) mod 1e9+7 over the document's characters —
    // exact integer math, identical fold order on both engines (the
    // windowed/rolling variant reuses the same recurrence per window).
    // The fold input is constrained to ASCII by construction (non-ASCII
    // stripped on BOTH sides): per-character split + ascii() have
    // codepoint-vs-byte and surrogate-pair differences between Spark and
    // DuckDB above U+007F, so the hash is only engine-independent on an
    // ASCII sequence (ADVICE r3)
    Q("q_rolling_hash",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"),
          aggregate(
            transform(split(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""), ""),
              c => ascii(c).cast("long")),
            lit(0L), (h, c) => (h * 31 + c) % 1000000007L).as("rh")),
      Some("""SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
             |list_transform(string_split(regexp_replace(text, '[^\x00-\x7F]', '', 'g'), ''),
             |c -> ascii(c)::BIGINT)),
             |(h, c) -> (h * 31 + c) % 1000000007) AS rh FROM documents""".stripMargin)),

    Q("q_minhash",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), minhashSigUdf(col("text"), lit(4), lit(3)).as("sig"))
        .select(col("doc_id") +: (0 until 4).map(k => col("sig").getItem(k).as(s"mh$k")): _*),
      Some(s"""SELECT doc_id, ${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")}
              |FROM documents""".stripMargin)),

    // the BUILTIN (pure-expression) minhash backend against the SAME oracle
    // as the kernel-UDF path above — the two-backends-one-semantics matrix,
    // both sides oracle-gated (the expression path's shingle array binds as
    // a lambda variable, see TextFunctions.shingles; its higher-order
    // functions are CodegenFallback, so the lambdas are evaluated
    // interpreted, one call per element)
    Q("q_minhash_builtin",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id") +:
          (0 until 4).map(k => minhashShingle(col("text"), 3, k).as(s"mh$k")): _*),
      Some(s"""SELECT doc_id, ${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")}
              |FROM documents""".stripMargin)),

    // LSH candidate pairs over distinct content: byte-identical docs are
    // collapsed to one representative BEFORE banding (exact dups are the
    // classic hot-bucket quadratic on a boilerplate-heavy corpus) and
    // buckets wider than 64 are dropped (LshBlocking cap — the
    // recall-vs-blowup dial, mirrored in the oracle's HAVING).
    // One signature pass, bands by posexplode (single scan per side); the
    // signature UDF is marked nondeterministic purely as an anti-CSE fence
    // so the optimizer cannot duplicate it into inferred Generate filters.
    Q("q_lsh_pairs",
      (s, dir) => {
        val bands = repSig(s, dir)
          .select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "h")))
        graft.operators.LshBlocking.candidatePairs(bands, "band", "h", "doc_id", cap = 64)
          .groupBy("id1", "id2")
          .agg(count(lit(1)).as("n_shared"))
      },
      Some(s"""WITH rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
              |sig AS (SELECT doc_id,
              |${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")} FROM rep),
              |bands AS (${(0 until 4).map(k =>
                 s"SELECT doc_id, $k AS band, mh$k AS h FROM sig").mkString(" UNION ALL ")}),
              |keptb AS (SELECT band, h FROM bands GROUP BY band, h HAVING count(*) <= 64),
              |kb AS (SELECT b.doc_id, b.band, b.h FROM bands b
              |  JOIN keptb ON keptb.band = b.band AND keptb.h = b.h)
              |SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS n_shared
              |FROM kb x JOIN kb y
              |ON x.h = y.h AND x.band = y.band AND x.doc_id < y.doc_id
              |GROUP BY x.doc_id, y.doc_id""".stripMargin)),

    // full corpus dedup-clustering: connected components over the LSH
    // candidate-pair graph (GraphCC min-label fixpoint — the same engine
    // as the distributed pixel labeling), each doc mapped to its cluster's
    // min doc_id plus the cluster size; the oracle closes the identical
    // pair graph with a recursive CTE. This is the "drop all but one per
    // near-dup cluster" primitive of a training-data pipeline.
    Q("q_dedup_clusters",
      (s, dir) => {
        val docComp = docClusters(s, dir)
        docComp.join(docComp.groupBy("cluster").agg(count(lit(1)).as("cluster_size")),
            Seq("cluster"))
          .select(col("doc_id"), col("cluster"), col("cluster_size"))
      },
      Some(s"""$clusterCte,
              |sz AS (SELECT cluster, count(*) AS cluster_size FROM dc GROUP BY cluster)
              |SELECT dc.doc_id, dc.cluster, sz.cluster_size
              |FROM dc JOIN sz ON sz.cluster = dc.cluster""".stripMargin)),

    // leakage-safe train/eval split: the split hashes the near-dup CLUSTER
    // label (md5-prefix % 100, the q_sample_bernoulli rule), so paraphrase
    // duplicates can never straddle the split — the per-document split's
    // contamination failure mode, made structurally impossible. Both
    // engines hash the identical cluster id, so the gate pins per-doc
    // side assignment exactly.
    Q("q_leakage_safe_split",
      (s, dir) => docClusters(s, dir)
        .select(col("doc_id"), col("cluster"),
          when(graft.functions.SketchFunctions.hashPct(col("cluster")) < 20, "eval")
            .otherwise("train").as("split")),
      Some(s"""$clusterCte
              |SELECT doc_id, cluster,
              |CASE WHEN ('0x'||substr(md5(cluster::VARCHAR),1,4))::BIGINT % 100 < 20
              |THEN 'eval' ELSE 'train' END AS split
              |FROM dc""".stripMargin)),

    // per-cluster representative selection: instead of the min-id default,
    // keep the "best" doc of each near-dup cluster — here longest text,
    // ties broken by min doc_id (a quality-policy stand-in; the facade
    // exposes the ordering as a parameter). One window over the cluster
    // key on top of the shared cluster assignment — the doc texts never
    // join into the component fixpoint, only their lengths do at the end.
    Q("q_cluster_rep",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docComp = docClusters(s, dir)
        val withLen = docComp.join(
          T(s, dir, "documents").select(col("doc_id"), length(col("text")).as("rep_len")),
          Seq("doc_id"))
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("rep_len").desc, col("doc_id"))
        withLen
          .withColumn("rn", row_number().over(w))
          .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster"))))
          .where(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("rep_doc"),
            col("rep_len"), col("cluster_size"))
      },
      Some(s"""$clusterCte,
              |ln AS (SELECT dc.doc_id, dc.cluster, length(d.text) AS rep_len
              |  FROM dc JOIN documents d ON d.doc_id = dc.doc_id),
              |r AS (SELECT cluster, doc_id, rep_len,
              |  row_number() OVER (PARTITION BY cluster ORDER BY rep_len DESC, doc_id) AS rn,
              |  count(*) OVER (PARTITION BY cluster) AS cluster_size FROM ln)
              |SELECT cluster, doc_id AS rep_doc, rep_len, cluster_size
              |FROM r WHERE rn = 1""".stripMargin)),

    Q("q_ngram_jaccard",
      (s, dir) => {
        // 4-band LSH blocking (same posexplode pattern as q_lsh_pairs —
        // single-band blocking made the most common shingle-min the hottest
        // bucket with worse recall), exact dups collapsed and buckets
        // capped; the exact Jaccard via hash-set array_intersect —
        // O(|A|+|B|) per candidate — runs only on the deduped candidate
        // set, with the (heavy) shingle arrays joined back AFTER candidate
        // dedup so they move once per pair, not once per band match.
        // Candidates and shingle arrays come from the shared session
        // tables (candPairs64 / repShingles3) — this query, containment
        // and edit distance verify the SAME blocking output.
        val d = repShingles3(s, dir)
        val cand = candPairs64(s, dir)
        val inter = size(array_intersect(col("sa"), col("sb")))
        cand
          .join(d.select(col("doc_id").as("id1"), col("sh").as("sa")), Seq("id1"))
          .join(d.select(col("doc_id").as("id2"), col("sh").as("sb")), Seq("id2"))
          .withColumn("inter", inter)
          .withColumn("jacc", col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
          .where(col("jacc") >= 0.5)
          .select(col("id1"), col("id2"), round(col("jacc"), 4).as("jacc"))
      },
      Some(s"""WITH rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
              |d AS (SELECT doc_id,
              |  ${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")},
              |  list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
              |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
              |         || ' ' || string_split(text, ' ')[i+2])) AS sh
              |  FROM rep),
              |bands AS (${(0 until 4).map(k =>
                 s"SELECT doc_id, $k AS band, mh$k AS h FROM d").mkString(" UNION ALL ")}),
              |keptb AS (SELECT band, h FROM bands GROUP BY band, h HAVING count(*) <= 64),
              |kb AS (SELECT b.doc_id, b.band, b.h FROM bands b
              |  JOIN keptb ON keptb.band = b.band AND keptb.h = b.h),
              |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
              |  FROM kb x JOIN kb y
              |  ON x.h = y.h AND x.band = y.band AND x.doc_id < y.doc_id),
              |p AS (SELECT c.id1, c.id2, a.sh AS sa, b.sh AS sb FROM cand c
              |  JOIN d a ON a.doc_id = c.id1 JOIN d b ON b.doc_id = c.id2),
              |j AS (SELECT id1, id2, len(list_intersect(sa, sb)) AS inter,
              |  len(sa) AS la, len(sb) AS lb FROM p)
              |SELECT id1, id2, round(cast(inter AS DOUBLE) / (la + lb - inter), 4) AS jacc
              |FROM j WHERE cast(inter AS DOUBLE) / (la + lb - inter) >= 0.5""".stripMargin)),

    // Recall harness for the banded-MinHash candidate generator — the
    // q_pq_recall philosophy applied to the dedup path: never trust a
    // blocking scheme you have not measured. Ground truth = ALL
    // distinct-content pairs whose EXACT 3-gram Jaccard reaches tau
    // (all-pairs is the harness side, deliberate at gate scale; the
    // production path stays banded + capped), measured = the same 4-band
    // cap-64 candidate set every LSH gate here uses. The Jaccard
    // threshold test is an integer cross-multiplication and recall is an
    // e4 integer quotient, so the measured curve (recall falling as tau
    // drops below the banding scheme's operating point) replays
    // bit-exactly in the oracle — no FP anywhere. The whole harness is
    // bounded to the doc_id < 600 slice (a no-op at the <= 500-doc gate
    // scales) so the all-pairs truth side stays fixed-size at ANY corpus
    // scale — the q_pq_recall rule: evaluation samples a slice,
    // production never goes all-pairs.
    Q("q_lsh_recall",
      (s, dir) => {
        import s.implicits._
        val reps = repSig(s, dir).where(col("doc_id") < 600)
        // shingles compare as 60-bit md5 BIGINTs, not strings: primitive
        // keys cut the string-hash/allocation churn several-fold. The
        // oracle hashes identically, so a (cosmically unlikely) collision
        // shifts BOTH engines the same way — the sparse_cosine convention.
        // Truth pairs via explode + ONE equi-join on the shingle hash
        // (r11: the previous BroadcastNestedLoopJoin evaluated
        // array_intersect for all 600·599/2 pairs; a pair with zero shared
        // shingles — the overwhelming majority — was filtered AFTER paying
        // the intersect. grouping the exploded equi-join counts exactly
        // the `inter >= 1` pairs and never materializes the rest —
        // guide §3.1/§2.3: equi-join over nested-loop, shuffle keys not
        // payloads). Sizes join back from the tiny per-doc table.
        val d = repShingles3(s, dir).where(col("doc_id") < 600)
          .select(col("doc_id"),
            array_distinct(transform(col("sh"),
              g => graft.functions.SketchFunctions.hash60(g))).as("sh"))
        val sizes = d.select(col("doc_id"), size(col("sh")).as("sz"))
        val ex = d.select(col("doc_id"), explode(col("sh")).as("hsh"))
        val pairs = ex.as("x").join(ex.as("y"),
            col("x.hsh") === col("y.hsh") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
          .agg(count(lit(1)).as("inter"))
          .join(broadcast(sizes.select(col("doc_id").as("id1"), col("sz").as("s1"))), Seq("id1"))
          .join(broadcast(sizes.select(col("doc_id").as("id2"), col("sz").as("s2"))), Seq("id2"))
          .select(col("id1"), col("id2"), col("inter"),
            (col("s1") + col("s2") - col("inter")).cast("long").as("un"))
        val bands = reps
          .select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "h")))
        val cand = graft.operators.LshBlocking
          .candidatePairs(bands, "band", "h", "doc_id", cap = 64)
          .distinct().withColumn("hit", lit(1L))
        val taus = Seq(1000, 2000, 3000, 5000).toDF("tau_e4")
        pairs.crossJoin(broadcast(taus))
          .where(col("inter") * lit(10000L) >= col("tau_e4") * col("un"))
          .join(cand, Seq("id1", "id2"), "left")
          .groupBy("tau_e4")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .withColumn("recall_e4", expr("n_hit * 10000 div n_truth"))
      },
      Some(s"""WITH rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
              |d AS (SELECT doc_id,
              |  ${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")},
              |  list_distinct(list_transform(
              |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
              |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
              |           || ' ' || string_split(text, ' ')[i+2])),
              |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS sh
              |  FROM rep WHERE doc_id < 600),
              |p0 AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
              |  (len(a.sh) + len(b.sh))::BIGINT AS lab
              |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
              |pairs AS (SELECT id1, id2, inter, lab - inter AS un FROM p0 WHERE inter >= 1),
              |bands AS (${(0 until 4).map(k =>
                 s"SELECT doc_id, $k AS band, mh$k AS h FROM d").mkString(" UNION ALL ")}),
              |keptb AS (SELECT band, h FROM bands GROUP BY band, h HAVING count(*) <= 64),
              |kb AS (SELECT b.doc_id, b.band, b.h FROM bands b
              |  JOIN keptb ON keptb.band = b.band AND keptb.h = b.h),
              |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
              |  FROM kb x JOIN kb y
              |  ON x.h = y.h AND x.band = y.band AND x.doc_id < y.doc_id),
              |taus(tau_e4) AS (VALUES (1000), (2000), (3000), (5000))
              |SELECT t.tau_e4, count(*)::BIGINT AS n_truth,
              |  sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
              |  (sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT * 10000)
              |    // count(*) AS recall_e4
              |FROM taus t JOIN pairs p ON p.inter * 10000 >= t.tau_e4 * p.un
              |LEFT JOIN cand c ON c.id1 = p.id1 AND c.id2 = p.id2
              |GROUP BY t.tau_e4""".stripMargin)),

    // All-pairs SPARSE cosine over trigram tf vectors via an inverted-index
    // self-join blocked on RARE terms (df <= 8) — the similarity-join
    // complement of the dense-embedding cosine paths. Dot products are
    // integer tf sums (order-independent, bit-exact cross-engine); the
    // recall contract is explicit: pairs sharing only df>8 terms are
    // excluded by definition, so the capped plan replays in SQL. See
    // operators.SparseSimJoin for the 100 TB shape (df² per-term bound).
    Q("q_sparse_cosine",
      (s, dir) => {
        // spreadDocs ATTEMPTED AND REVERTED (r12): repartitioning the docs
        // before the trigram explode — the §2.5 fix that pays off for
        // q_simhash_pairs — measured a 3-4x LOSS here (2.6 → 7.5/10.2 s,
        // two runs): the extra exchange under SparseSimJoin's three-branch
        // fan-out defeats the runtime shuffle-stage reuse that currently
        // deduplicates the explode+groupBy subtree across branches.
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        // ATTEMPTED AND REVERTED (r11): an eager localCheckpoint on
        // `posts` — SparseSimJoin fans it into three branches (df
        // aggregation, rare-term join, vector packing) and the textual
        // plan shows 12 parquet scans — was A/B'd under matched
        // conditions and measured indistinguishable (2.9/4.4 s with LC vs
        // 5.2/3.2 s without, inside this host's ±40% weather): AQE reuses
        // materialized shuffle stages with identical canonical plans at
        // runtime even though explain shows no ReusedExchange. Kept the
        // simpler lazy form (no executor-storage footprint at soak scale).
        val posts = toks
          .select(col("doc_id"), explode(wordGrams(col("toks"), 3)).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        graft.operators.SparseSimJoin(posts, "doc_id", "term", "tf",
          maxDf = 8, minCosine = 0.05)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |g AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS term
             |  FROM t, unnest(range(1, len(ts) - 1)) AS u(i)),
             |p AS (SELECT doc_id AS id, term, count(*)::BIGINT AS tf FROM g GROUP BY 1, 2),
             |rare AS (SELECT term FROM (SELECT term, count(*) AS df FROM p GROUP BY 1)
             |  WHERE df <= 8 AND df >= 2),
             |rp AS (SELECT p.id, p.term FROM p JOIN rare USING (term)),
             |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2 FROM rp a
             |  JOIN rp b ON b.term = a.term AND a.id < b.id),
             |n AS (SELECT id, sum(tf * tf) AS n2 FROM p GROUP BY 1),
             |dots AS (SELECT c.id1, c.id2, sum(x.tf * y.tf) AS dot FROM cand c
             |  JOIN p x ON x.id = c.id1 JOIN p y ON y.id = c.id2
             |  AND ('0x' || substr(md5(y.term), 1, 15))::BIGINT
             |    = ('0x' || substr(md5(x.term), 1, 15))::BIGINT
             |  GROUP BY 1, 2),
             |cos AS (SELECT d.id1, d.id2, d.dot::BIGINT AS dot,
             |  round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
             |  FROM dots d JOIN n na ON na.id = d.id1 JOIN n nb ON nb.id = d.id2)
             |SELECT id1, id2, dot, cosine FROM cos WHERE cosine >= 0.05""".stripMargin)),

    // ASYMMETRIC containment (the subset-detection counterpart of
    // q_ngram_jaccard): C(A in B) = |S(A) n S(B)| / |S(A)| over 3-gram
    // shingles — high containment at low Jaccard flags a short doc
    // embedded inside a longer one (quote/boilerplate inclusion), which
    // symmetric Jaccard misses. Same collapsed/banded/capped candidate
    // generation; both directions come from one intersection.
    Q("q_containment",
      (s, dir) => {
        // shared blocking output (candPairs64) + shared shingle table
        // (repShingles3) — one banded self-join and one shingle pass per
        // session across the three pair verifiers
        val d = repShingles3(s, dir)
        val cand = candPairs64(s, dir)
        cand
          .join(d.select(col("doc_id").as("id1"), col("sh").as("sa")), Seq("id1"))
          .join(d.select(col("doc_id").as("id2"), col("sh").as("sb")), Seq("id2"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("c12", col("inter").cast("double") / size(col("sa")))
          .withColumn("c21", col("inter").cast("double") / size(col("sb")))
          .where(greatest(col("c12"), col("c21")) >= 0.7)
          .select(col("id1"), col("id2"),
            round(col("c12"), 4).as("c12"), round(col("c21"), 4).as("c21"))
      },
      Some(s"""WITH rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
              |d AS (SELECT doc_id,
              |  ${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")},
              |  list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
              |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
              |         || ' ' || string_split(text, ' ')[i+2])) AS sh
              |  FROM rep),
              |bands AS (${(0 until 4).map(k =>
                 s"SELECT doc_id, $k AS band, mh$k AS h FROM d").mkString(" UNION ALL ")}),
              |keptb AS (SELECT band, h FROM bands GROUP BY band, h HAVING count(*) <= 64),
              |kb AS (SELECT b.doc_id, b.band, b.h FROM bands b
              |  JOIN keptb ON keptb.band = b.band AND keptb.h = b.h),
              |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
              |  FROM kb x JOIN kb y
              |  ON x.h = y.h AND x.band = y.band AND x.doc_id < y.doc_id),
              |p AS (SELECT c.id1, c.id2, a.sh AS sa, b.sh AS sb FROM cand c
              |  JOIN d a ON a.doc_id = c.id1 JOIN d b ON b.doc_id = c.id2),
              |j AS (SELECT id1, id2, len(list_intersect(sa, sb)) AS inter,
              |  len(sa) AS la, len(sb) AS lb FROM p)
              |SELECT id1, id2, round(cast(inter AS DOUBLE) / la, 4) AS c12,
              |  round(cast(inter AS DOUBLE) / lb, 4) AS c21
              |FROM j WHERE greatest(cast(inter AS DOUBLE) / la,
              |  cast(inter AS DOUBLE) / lb) >= 0.7""".stripMargin)),

    Q("q_simhash",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), simhash16Udf(col("text")).as("sh")),
      Some(s"SELECT doc_id, $simhashSql AS sh FROM documents")),

    // SimHash hamming-distance near-dup: pigeonhole band blocking — with
    // the 16-bit signature split into two 8-bit bands, any pair at hamming
    // distance <= 1 shares at least one band verbatim, so the candidate
    // set is two equi-joins (never all-pairs); the exact popcount(xor)
    // filter then keeps true near-dups. Integer-exact on both engines.
    Q("q_simhash_pairs",
      (s, dir) => {
        // spreadDocs (§2.5): one md5 per token per doc otherwise runs in
        // the single scan task of the one-row-group fixture
        val sh = spreadDocs(s, dir)
          .select(col("doc_id"), simhash16Udf(col("text")).as("sh"))
        val bands = sh.select(col("doc_id"), col("sh"),
          explode(array(
            struct(lit(0).as("band"), (col("sh") % 256).as("key")),
            struct(lit(1).as("band"), expr("sh div 256").as("key")))).as("bk"))
          .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.key"))
        bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
            bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("int").as("hamming"))
          .distinct()
          .where(col("hamming") <= 1)
      },
      Some(s"""WITH sig AS (SELECT doc_id, $simhashSql AS sh FROM documents),
              |bands AS (SELECT doc_id, sh, 0 AS band, sh % 256 AS key FROM sig
              |  UNION ALL SELECT doc_id, sh, 1 AS band, sh // 256 AS key FROM sig),
              |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
              |  cast(bit_count(xor(x.sh::BIGINT, y.sh::BIGINT)) AS INT) AS hamming
              |  FROM bands x JOIN bands y
              |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
              |SELECT id1, id2, hamming FROM cand WHERE hamming <= 1""".stripMargin)),

    // Recall harness for the SimHash band blocking (q_lsh_recall's twin on
    // the hamming side): truth = ALL pairs at exact hamming <= r over the
    // 16-bit signatures, measured = the two-8-bit-band candidate set of
    // q_simhash_pairs. Pigeonhole makes r <= 1 lossless — the r=1 row is
    // a PROVEN 10000 — while r = 2..4 measure the real decay a user
    // accepts when stretching a banding scheme past its design distance.
    // Everything is integer (xor popcounts, e4 integer quotient): the
    // curve replays bit-exactly in the oracle. Bounded to the doc_id <
    // 600 slice like q_lsh_recall (no-op at gate scales), and truth
    // pre-filters hamming <= max(r) before the threshold fan-out.
    Q("q_simhash_recall",
      (s, dir) => {
        import s.implicits._
        val sh = T(s, dir, "documents").where(col("doc_id") < 600)
          .select(col("doc_id"), simhash16Udf(col("text")).as("sh"))
        val pairs = sh.select(col("doc_id").as("id1"), col("sh").as("s1"))
          .join(sh.select(col("doc_id").as("id2"), col("sh").as("s2")),
            col("id1") < col("id2"))
          .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int"))
          .where(col("hamming") <= 4)
          .select(col("id1"), col("id2"), col("hamming"))
        val bands = sh.select(col("doc_id"), explode(array(
            struct(lit(0).as("band"), (col("sh") % 256).as("key")),
            struct(lit(1).as("band"), expr("sh div 256").as("key")))).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
          .distinct().withColumn("hit", lit(1L))
        val rs = Seq(1, 2, 3, 4).toDF("r")
        pairs.crossJoin(broadcast(rs))
          .where(col("hamming") <= col("r"))
          .join(cand, Seq("id1", "id2"), "left")
          .groupBy("r")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .withColumn("recall_e4", expr("n_hit * 10000 div n_truth"))
      },
      Some(s"""WITH sig AS (SELECT doc_id, $simhashSql AS sh FROM documents
              |  WHERE doc_id < 600),
              |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  cast(bit_count(xor(a.sh::BIGINT, b.sh::BIGINT)) AS INT) AS hamming
              |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
              |bands AS (SELECT doc_id, 0 AS band, sh % 256 AS key FROM sig
              |  UNION ALL SELECT doc_id, 1 AS band, sh // 256 AS key FROM sig),
              |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
              |  FROM bands x JOIN bands y
              |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
              |rs(r) AS (VALUES (1), (2), (3), (4))
              |SELECT rs.r, count(*)::BIGINT AS n_truth,
              |  sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
              |  (sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT * 10000)
              |    // count(*) AS recall_e4
              |FROM rs JOIN pairs p ON p.hamming <= rs.r
              |LEFT JOIN cand c ON c.id1 = p.id1 AND c.id2 = p.id2
              |GROUP BY rs.r""".stripMargin)),

    // The HammingJoinRewrite optimizer rule under the driver gate: the
    // NAIVE form of the SimHash near-dup join — a key-less
    // bit_count(s1 ^ s2) <= r inner join, which Spark plans as a
    // nested-loop product — re-planned to the pigeonhole (r+1)-band
    // equi-join with a first-equal-band exactly-once witness, and
    // compared against DuckDB's naive evaluation. The gate throws if the
    // rewrite stops firing (no silent regression to the product plan);
    // the rule is one of the session's join rewrites (plans.JoinRewrites),
    // installed by Q.run before this body plans.
    Q("q_hamming_rewrite",
      (s, dir) => {
        val d = T(s, dir, "documents").where(col("doc_id") < 600)
          .select(col("doc_id"), simhash16Udf(col("text")).as("sh"))
        val l = d.select(col("doc_id").as("id1"), col("sh").as("s1"))
        val r = d.select(col("doc_id").as("id2"), col("sh").as("s2"))
        val joined = l.join(r, bit_count(col("s1").bitwiseXOR(col("s2"))) <= 2)
          .where(col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int").as("hamming"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          "HammingJoinRewrite did not fire; hamming join planned as a product")
        joined
      },
      Some(s"""WITH sig AS (SELECT doc_id, $simhashSql AS sh FROM documents
              |  WHERE doc_id < 600)
              |SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  cast(bit_count(xor(a.sh::BIGINT, b.sh::BIGINT)) AS INT) AS hamming
              |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.sh::BIGINT, b.sh::BIGINT)) <= 2""".stripMargin)),

    // composed training-data pipeline: exact-dedup (keep min doc_id) ->
    // quality gate (length + stopword ratio) -> language-ID rollup per
    // source — the end-to-end shape of a corpus-cleaning job, in one plan
    Q("q_pipeline_clean",
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val kept = docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
        docs.join(kept, Seq("doc_id"), "left_semi")
          .where(tokenCount(col("text")) >= 20 &&
            stopwordRatio(col("text"), Seq("the", "a", "of", "and", "to")) <= 0.5)
          .select(col("source"), langId(col("text")).as("pred_lang"))
          .groupBy("source", "pred_lang")
          .agg(count(lit(1)).as("n"))
      },
      Some {
        val langs = langMarkers.map(_._1)
        val score = langMarkers.map { case (lang, ws) =>
          s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$lang"
        }.mkString(", ")
        val pick = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1)
          s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
        }.mkString(" ")
        s"""WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |q AS (SELECT d.source, d.text FROM documents d
           |  WHERE d.doc_id IN (SELECT doc_id FROM kept)
           |  AND len(string_split(d.text, ' ')) >= 20
           |  AND cast(len(list_filter(string_split(d.text, ' '),
           |    w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
           |    / len(string_split(d.text, ' ')) <= 0.5),
           |sc AS (SELECT source, $score FROM q)
           |SELECT source, CASE $pick ELSE '${langs.last}' END AS pred_lang, count(*) AS n
           |FROM sc GROUP BY source, CASE $pick ELSE '${langs.last}' END""".stripMargin
      }),

    // ---- text analysis ----

    Q("q_token_count",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"), col("n_chars")),
      Some("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars FROM documents")),

    // BPE-ish pre-tokenization count: alphanumeric runs and punctuation runs
    // as separate tokens (regex subset with identical Java/RE2 semantics)
    Q("q_token_bpe",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9 ]+"), lit(0)))
            .as("n_bpe_tokens")),
      Some("""SELECT doc_id, len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]+'))
             |AS n_bpe_tokens FROM documents""".stripMargin)),

    Q("q_quality",
      (s, dir) => T(s, dir, "documents").select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        round(avgWordLen(col("text")), 4).as("avg_word_len"),
        round(stopwordRatio(col("text"), Seq("the", "a", "of", "and", "to")), 4).as("stop_ratio")),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             |round(cast(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             |  / len(string_split(text, ' ')), 4) AS avg_word_len,
             |round(cast(len(list_filter(string_split(text, ' '),
             |  w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
             |  / len(string_split(text, ' ')), 4) AS stop_ratio
             |FROM documents""".stripMargin)),

    // BPE tokenizer training, first 3 merges (Sennrich et al. 2016): the
    // corpus collapses once into the (word, count) vocab; each round finds
    // the max-count adjacent symbol pair (ties count-desc, then
    // lexicographic) and re-segments greedily left-to-right. The oracle
    // unrolls all three rounds; merge APPLICATION — inherently sequential
    // per word — is a recursive CTE walking each word's symbol list with
    // an accumulator, consuming 2 symbols on a match and 1 otherwise,
    // exactly the kernel's scan rule (TextFunctions.bpeMergePair).
    Q("q_bpe_train",
      (s, dir) => graft.api.Graft.bpeTrain(
        T(s, dir, "documents"), "doc_id", "text", merges = 3),
      Some("""WITH RECURSIVE toks AS (SELECT
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |words AS (SELECT term, count(*) AS wc,
             |  list_transform(range(1, length(term) + 1), i -> substr(term, i, 1)) AS syms
             |  FROM toks GROUP BY term),
             |p1 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM words w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
             |s1(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM words
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s1 s JOIN words w ON w.term = s.term CROSS JOIN t1 t
             |  WHERE s.i <= len(w.syms)),
             |w1 AS (SELECT s.term, w.wc, s.acc AS syms FROM s1 s JOIN words w USING (term)
             |  WHERE s.i > len(w.syms)),
             |p2 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM w1 w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
             |s2(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM w1
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s2 s JOIN w1 w ON w.term = s.term CROSS JOIN t2 t
             |  WHERE s.i <= len(w.syms)),
             |w2 AS (SELECT s.term, w.wc, s.acc AS syms FROM s2 s JOIN w1 w USING (term)
             |  WHERE s.i > len(w.syms)),
             |p3 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM w2 w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
             |SELECT CAST(1 AS BIGINT) AS round, a AS pair_a, b AS pair_b,
             |  CAST(cnt AS BIGINT) AS pair_count FROM t1
             |UNION ALL SELECT CAST(2 AS BIGINT), a, b, CAST(cnt AS BIGINT) FROM t2
             |UNION ALL SELECT CAST(3 AS BIGINT), a, b, CAST(cnt AS BIGINT) FROM t3""".stripMargin)),

    // BPE ENCODE with the trained rules: the 3 learned merges apply to the
    // O(vocab) word table and the final per-word symbol count joins back
    // onto corpus occurrences (broadcast map + per-doc agg — the corpus
    // never re-shuffles beyond the occurrence agg). Gates the downstream
    // half of the tokenizer: post-BPE sequence length per document.
    Q("q_bpe_encode",
      (s, dir) => graft.api.Graft.bpeEncodeCounts(
        T(s, dir, "documents"), "doc_id", "text", merges = 3),
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |words AS (SELECT term, count(*) AS wc,
             |  list_transform(range(1, length(term) + 1), i -> substr(term, i, 1)) AS syms
             |  FROM toks GROUP BY term),
             |p1 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM words w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
             |s1(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM words
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s1 s JOIN words w ON w.term = s.term CROSS JOIN t1 t
             |  WHERE s.i <= len(w.syms)),
             |w1 AS (SELECT s.term, w.wc, s.acc AS syms FROM s1 s JOIN words w USING (term)
             |  WHERE s.i > len(w.syms)),
             |p2 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM w1 w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
             |s2(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM w1
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s2 s JOIN w1 w ON w.term = s.term CROSS JOIN t2 t
             |  WHERE s.i <= len(w.syms)),
             |w2 AS (SELECT s.term, w.wc, s.acc AS syms FROM s2 s JOIN w1 w USING (term)
             |  WHERE s.i > len(w.syms)),
             |p3 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM w2 w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
             |s3(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM w2
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s3 s JOIN w2 w ON w.term = s.term CROSS JOIN t3 t
             |  WHERE s.i <= len(w.syms)),
             |w3 AS (SELECT s.term, len(s.acc) AS n_syms FROM s3 s JOIN w2 w USING (term)
             |  WHERE s.i > len(w.syms))
             |SELECT t.doc_id, CAST(sum(w.n_syms) AS BIGINT) AS n_bpe_symbols
             |FROM toks t JOIN w3 w USING (term) GROUP BY t.doc_id""".stripMargin)),

    // Composition gate: pack documents into fixed 256-symbol training
    // sequences by their BPE-ENCODED length — bpeEncodeCounts feeding the
    // same two-phase distributed prefix scan as q_pack_sequences (the
    // oracle's global window is correctness-only; the engine collects
    // O(partitions) partials, never rows). Pins that the tokenizer and
    // packing stages compose end-to-end.
    Q("q_pack_bpe",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val lens = graft.api.Graft.bpeEncodeCounts(
          T(s, dir, "documents"), "doc_id", "text", merges = 3)
        graft.operators.PrefixSum.exclusive(lens, "doc_id", "n_bpe_symbols", 8)
          .select(col("doc_id"), col("n_bpe_symbols"),
            (col("cum") / 256).cast("long").as("seq_id"))
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |words AS (SELECT term, count(*) AS wc,
             |  list_transform(range(1, length(term) + 1), i -> substr(term, i, 1)) AS syms
             |  FROM toks GROUP BY term),
             |p1 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM words w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
             |s1(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM words
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s1 s JOIN words w ON w.term = s.term CROSS JOIN t1 t
             |  WHERE s.i <= len(w.syms)),
             |w1 AS (SELECT s.term, w.wc, s.acc AS syms FROM s1 s JOIN words w USING (term)
             |  WHERE s.i > len(w.syms)),
             |p2 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM w1 w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
             |s2(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM w1
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s2 s JOIN w1 w ON w.term = s.term CROSS JOIN t2 t
             |  WHERE s.i <= len(w.syms)),
             |w2 AS (SELECT s.term, w.wc, s.acc AS syms FROM s2 s JOIN w1 w USING (term)
             |  WHERE s.i > len(w.syms)),
             |p3 AS (SELECT w.syms[t.i] AS a, w.syms[t.i+1] AS b, sum(w.wc) AS cnt
             |  FROM w2 w, range(1, 64) t(i) WHERE t.i <= len(w.syms) - 1 GROUP BY 1, 2),
             |t3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
             |s3(term, i, acc) AS (
             |  SELECT term, 1, CAST([] AS VARCHAR[]) FROM w2
             |  UNION ALL
             |  SELECT s.term,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN s.i + 2 ELSE s.i + 1 END,
             |    CASE WHEN s.i < len(w.syms) AND w.syms[s.i] = t.a AND w.syms[s.i+1] = t.b
             |      THEN list_append(s.acc, t.a || t.b) ELSE list_append(s.acc, w.syms[s.i]) END
             |  FROM s3 s JOIN w2 w ON w.term = s.term CROSS JOIN t3 t
             |  WHERE s.i <= len(w.syms)),
             |w3 AS (SELECT s.term, len(s.acc) AS n_syms FROM s3 s JOIN w2 w USING (term)
             |  WHERE s.i > len(w.syms)),
             |enc AS (SELECT t.doc_id, CAST(sum(w.n_syms) AS BIGINT) AS n_bpe_symbols
             |  FROM toks t JOIN w3 w USING (term) GROUP BY t.doc_id)
             |SELECT doc_id, n_bpe_symbols,
             |((sum(n_bpe_symbols) OVER (ORDER BY doc_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |  - n_bpe_symbols) // 256)::BIGINT AS seq_id
             |FROM enc""".stripMargin)),

    // Tokenizer vocabulary selection by mass coverage: rank terms by
    // count (ties lexicographic) and admit the smallest prefix covering
    // 95% of token mass — the vocab-building step of an LM pipeline. The
    // threshold compares in EXACT integer arithmetic ((cum-cnt)*100 <
    // total*95), so the boundary term is engine-exact with no FP at all.
    // The window runs over the POST-AGG O(vocab) table (the corpus itself
    // shuffles once into the count); a web-scale vocab would route the
    // cumsum through operators.PrefixSum instead of one window partition.
    Q("q_vocab_coverage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cnts = docTokens(s, dir).groupBy("term").agg(count(lit(1)).as("cnt"))
        val tot = cnts.agg(sum("cnt").as("total"))
        val w = Window.orderBy(col("cnt").desc, col("term"))
        cnts.withColumn("rank", row_number().over(w))
          .withColumn("cum", sum("cnt").over(w))
          .crossJoin(broadcast(tot))
          .select(col("term"), col("cnt"), col("rank").cast("long").as("rank"),
            ((col("cum") - col("cnt")) * 100 < col("total") * 95).as("in_vocab"))
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |cnt AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
             |tot AS (SELECT sum(cnt) AS total FROM cnt),
             |r AS (SELECT term, cnt,
             |  row_number() OVER (ORDER BY cnt DESC, term) AS rank,
             |  sum(cnt) OVER (ORDER BY cnt DESC, term) AS cum FROM cnt)
             |SELECT term, cnt, CAST(rank AS BIGINT) AS rank,
             |(cum - cnt) * 100 < total * 95 AS in_vocab FROM r, tot""".stripMargin)),

    // Gopher-style quality rule battery (Rae et al. 2021 §A1.1): the
    // published keep/drop word-level rules that complement q_quality's raw
    // metrics and q_repetition's duplicate fractions — token-count window,
    // mean-word-length window, alphabetic-word fraction, minimum distinct
    // stopword hits — folded into one boolean `keep` per document. All
    // rules compare ROUNDED metrics on both engines so the boundary
    // behavior is engine-exact. Stateless map over the corpus.
    Q("q_gopher_rules",
      (s, dir) => graft.api.Graft.gopherRules(
        T(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH m AS (SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  round(cast(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             |    / len(string_split(text, ' ')), 4) AS avg_word_len,
             |  round(cast(len(list_filter(string_split(text, ' '),
             |      w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             |    / len(string_split(text, ' ')), 4) AS alpha_frac,
             |  len(list_filter(['the', 'a', 'of', 'and', 'to'],
             |    sw -> list_contains(string_split(text, ' '), sw))) AS n_stopwords
             |  FROM documents)
             |SELECT doc_id, n_tokens, avg_word_len, alpha_frac, n_stopwords,
             |(n_tokens BETWEEN 50 AND 100000 AND avg_word_len BETWEEN 3.0 AND 10.0
             | AND alpha_frac >= 0.8 AND n_stopwords >= 2) AS keep
             |FROM m""".stripMargin)),

    // PII-style redaction — the scrub step of a corpus-cleaning pipeline:
    // email-shaped spans then digit runs become typed placeholders; the
    // oracle recomputes the redacted text (DuckDB regexp_replace needs the
    // 'g' flag — Spark replaces all matches by default) and both engines
    // hash it; the span counts gate the match sets themselves
    Q("q_redact",
      (s, dir) => T(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-z0-9._%+-]+@[a-z0-9.-]+"), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_nums"),
        substring(md5(redact(col("text"))), 1, 8).as("redacted_sig")),
      Some("""SELECT doc_id,
             |len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS n_emails,
             |len(regexp_extract_all(text, '[0-9]+')) AS n_nums,
             |substring(md5(regexp_replace(regexp_replace(text,
             |  '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
             |  '[0-9]+', '<num>', 'g')), 1, 8) AS redacted_sig
             |FROM documents""".stripMargin)),

    Q("q_lang_id",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), langId(col("text")).as("pred_lang")),
      Some {
        val score = langMarkers.map { case (lang, ws) =>
          s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$lang"
        }.mkString(", ")
        val langs = langMarkers.map(_._1)
        // first max wins, in declaration (alphabetical) order
        val pick = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1)
          s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
        }.mkString(" ")
        s"""WITH sc AS (SELECT doc_id, lang, $score FROM documents)
           |SELECT doc_id, lang, CASE $pick ELSE '${langs.last}' END AS pred_lang FROM sc""".stripMargin
      }),

    // ---- similarity search ----

    // rank on the ROUNDED cosine on both sides so FP fold-order noise in the
    // last bits cannot flip the ordering between engines
    Q("q_cosine_topk",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"))
        val scored = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
      },
      Some(cosineSql(withBucket = false))),

    // embedding-cosine near-dup: candidate pairs share any of 4 LSH bands
    // of 16 sign bits (the round-1 single 8-bit band capped the bucket
    // space at 256 — an O(N^2/256) pair bomb at 100 TB; 2^16 buckets per
    // band bound the blocks, multiple bands keep recall), kept above a
    // similarity threshold (synthetic embeddings are near-orthogonal, so
    // the demo threshold is 0.3)
    Q("q_embed_dedup",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val b = e.select(col("vec_id"), col("embedding"),
          explode(lshBands(col("embedding"), Bands, Bits)).as("bb"))
          .select(col("vec_id"), col("embedding"),
            col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val x = b.select(col("vec_id").as("id1"), col("embedding").as("ea"),
          col("band"), col("bucket"))
        val y = b.select(col("vec_id").as("id2"), col("embedding").as("eb"),
          col("band"), col("bucket"))
        x.join(y, Seq("band", "bucket")).where(col("id1") < col("id2"))
          .dropDuplicates("id1", "id2")
          .withColumn("cos", round(cosine(col("ea"), col("eb")), 6))
          .where(col("cos") >= 0.3)
          .select(col("id1"), col("id2"), col("cos"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        s"""WITH v AS (SELECT vec_id, embedding, ${bandCols("embedding")} FROM embeddings),
           |p AS (SELECT x.vec_id AS id1, y.vec_id AS id2,
           |  round(${dot("x.embedding", "y.embedding")} /
           |    (sqrt(${dot("x.embedding", "x.embedding")}) * sqrt(${dot("y.embedding", "y.embedding")})), 6) AS cos
           |  FROM v x JOIN v y ON x.vec_id < y.vec_id AND (${bandMatch("x", "y")}))
           |SELECT id1, id2, cos FROM p WHERE cos >= 0.3""".stripMargin
      }),

    Q("q_ann_lsh",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 5).select(col("vec_id").as("qid"),
          col("embedding").as("qe"), explode(lshBands(col("embedding"), Bands, Bits)).as("bb"))
          .select(col("qid"), col("qe"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"),
          explode(lshBands(col("embedding"), Bands, Bits)).as("bb"))
          .select(col("vec_id"), col("ce"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val scored = c.join(broadcast(q), Seq("band", "bucket"))
          .where(col("qid") =!= col("vec_id"))
          .dropDuplicates("qid", "vec_id")
          .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
      },
      Some(cosineSql(withBucket = true))),

    // IVF-style ANN (the second named scale path next to LSH): corpus
    // coarse-quantized to its max-cosine centroid cell, queries probe their
    // 2 nearest cells, ranking runs only inside probed cells. Centroids are
    // a deterministic id-sample (vec_id % 100 = 0) so the oracle replicates
    // the quantizer exactly; real deployments would train k-means offline
    // and pass the centroid table to SimilarityFunctions.ivfTopK unchanged.
    Q("q_ann_ivf",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.ivfTopK(
          e.where(col("vec_id") < 5), e,
          e.where(col("vec_id") % 100 === 0), k = 3, nprobe = 2)
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
           |  FROM casn WHERE vec_id < 5) WHERE cr <= 2),
           |scored AS (SELECT p.qid, c.vec_id,
           |  ${cos("q.embedding", "t.embedding")} AS cos
           |  FROM probes p JOIN cells c ON c.cid = p.cid
           |  JOIN v q ON q.vec_id = p.qid JOIN v t ON t.vec_id = c.vec_id
           |  WHERE p.qid != c.vec_id),
           |ranked AS (SELECT qid, vec_id, cos,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored)
           |SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= 3""".stripMargin
      }),

    // ANN EVALUATION: per-query recall@10 of the banded-LSH path against
    // the exact brute-force top-10 — the measurement that justifies an
    // approximate index before pointing it at 100 TB. Both sides rank on
    // the 6-place-rounded cosine with vec_id tie-break (engine-stable),
    // so recall is an exact integer count over a deterministic pair of
    // sets; n_hit/10.0 is one IEEE division. Scale shape: exact side is a
    // broadcast of the (small) query sample against the corpus — recall
    // evaluation always samples queries, never all-pairs.
    Q("q_ann_recall",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val exact = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"))
        val qb = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"),
          col("embedding").as("qe"),
          explode(lshBands(col("embedding"), Bands, Bits)).as("bb"))
          .select(col("qid"), col("qe"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val cb = e.select(col("vec_id"), col("embedding").as("ce"),
          explode(lshBands(col("embedding"), Bands, Bits)).as("bb"))
          .select(col("vec_id"), col("ce"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val approx = cb.join(broadcast(qb), Seq("band", "bucket"))
          .where(col("qid") =!= col("vec_id"))
          .dropDuplicates("qid", "vec_id")
          .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            round(col("n_hit") / 10.0, 4).as("recall"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH v AS (SELECT vec_id, embedding, ${bandCols("embedding")} FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 20),
           |ex AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM q JOIN v c ON q.vec_id != c.vec_id),
           |ek AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ex)
           |  WHERE rk <= 10),
           |ax AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM q JOIN v c ON q.vec_id != c.vec_id AND (${bandMatch("q", "c")})),
           |ak AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ax)
           |  WHERE rk <= 10)
           |SELECT ek.qid, count(ak.vid)::BIGINT AS n_hit,
           |  round(count(ak.vid) / 10.0, 4) AS recall
           |FROM ek LEFT JOIN ak ON ak.qid = ek.qid AND ak.vid = ek.vid
           |GROUP BY ek.qid""".stripMargin
      }),

    // MULTI-PROBE LSH (Lv et al., VLDB 2007): each query probes its own
    // bucket PLUS, per band, the `Extra` buckets reached by flipping the
    // sign bits whose components sit closest to their hyperplane — the
    // bits most likely misclassified. Candidates grow ~(1+Extra)× while
    // tables/bands stay fixed, buying recall without more storage — the
    // paper's trade, measured against q_ann_recall's single-probe figure
    // on the same 4×8-bit scheme (0.065 → see CORRECTNESS). Probe
    // selection is pure comparisons on exact float components (rank of
    // (|margin|, k) tuples — no arithmetic, no rounding), so both engines
    // pick identical probe sets.
    Q("q_ann_multiprobe",
      (s, dir) => {
        val Extra = 2
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val exact = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"))
        // the measured probe generator IS the library call — the gate and
        // multiProbeBands cannot drift apart
        val qb = q.select(col("qid"), col("qe"),
            explode(graft.functions.SimilarityFunctions.multiProbeBands(
              col("qe"), Bands, Bits, Extra)).as("bb"))
          .select(col("qid"), col("qe"),
            col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val cb = e.select(col("vec_id"), col("embedding").as("ce"),
            explode(lshBands(col("embedding"), Bands, Bits)).as("bb"))
          .select(col("vec_id"), col("ce"),
            col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        val approx = cb.join(broadcast(qb), Seq("band", "bucket"))
          .where(col("qid") =!= col("vec_id"))
          .dropDuplicates("qid", "vec_id")
          .withColumn("cos", round(cosine(col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            round(col("n_hit") / 10.0, 4).as("recall"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        def probeList(b: Int): String =
          s"""list_transform(list_filter(range(0, $Bits), k -> len(list_filter(range(0, $Bits),
             |    j -> (abs(embedding[${b * Bits} + j + 1]), j) < (abs(embedding[${b * Bits} + k + 1]), k))) < 2),
             |    k -> xor(b$b::BIGINT, (1::BIGINT << k)))""".stripMargin
        s"""WITH v AS (SELECT vec_id, embedding, ${bandCols("embedding")} FROM embeddings),
           |q AS (SELECT vec_id, embedding, ${(0 until Bands).map(b => s"b$b").mkString(", ")},
           |  ${(0 until Bands).map(b => probeList(b) + s" AS p$b").mkString(", ")}
           |  FROM v WHERE vec_id < 20),
           |ex AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM q JOIN v c ON q.vec_id != c.vec_id),
           |ek AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ex)
           |  WHERE rk <= 10),
           |ax AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM q JOIN v c ON q.vec_id != c.vec_id AND (${(0 until Bands).map(b =>
                s"c.b$b = q.b$b OR list_contains(q.p$b, c.b$b::BIGINT)").mkString(" OR ")})),
           |ak AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ax)
           |  WHERE rk <= 10)
           |SELECT ek.qid, count(ak.vid)::BIGINT AS n_hit,
           |  round(count(ak.vid) / 10.0, 4) AS recall
           |FROM ek LEFT JOIN ak ON ak.qid = ek.qid AND ak.vid = ek.vid
           |GROUP BY ek.qid""".stripMargin
      }),

    // SemDeDup (Abbas et al. 2023): semantic dedup scoped to IVF cells —
    // within each max-cosine centroid cell, pairs at cosine >= 0.3 form
    // groups (connected components) and each group keeps only the member
    // LEAST similar to its centroid (the paper's keep rule; ties min id).
    // Per-cell self-join bounds candidate pairs (never corpus all-pairs);
    // the oracle replays assignment, edges, closure, and the keep window.
    Q("q_semdedup",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.semDedup(
          e, e.where(col("vec_id") % 100 === 0), tau = 0.3)
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid, ccos FROM (SELECT vec_id, cid, ccos,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |e AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM cells a
           |  JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  JOIN v x ON x.vec_id = a.vec_id JOIN v y ON y.vec_id = b.vec_id
           |  WHERE ${cos("x.embedding", "y.embedding")} >= 0.3),
           |sym AS (SELECT id1, id2 FROM e UNION SELECT id2, id1 FROM e),
           |reach(s, t) AS (SELECT vec_id, vec_id FROM cells
           |  UNION SELECT r.s, e2.id2 FROM reach r JOIN sym e2 ON e2.id1 = r.t),
           |comp AS (SELECT s AS vec_id, min(t) AS cluster FROM reach GROUP BY s),
           |r AS (SELECT c.vec_id, c.cid AS cell, p.cluster, c.ccos,
           |  row_number() OVER (PARTITION BY p.cluster ORDER BY c.ccos ASC, c.vec_id) AS rn
           |  FROM cells c JOIN comp p ON p.vec_id = c.vec_id)
           |SELECT vec_id, cell, cluster, rn = 1 AS keep FROM r""".stripMargin
      }),

    // The semDedup cellCap BOUND, oracle-asserted (the q_lsh_bucket_cap
    // pattern): with cap=100 at gate scale two of five cells exceed the cap
    // and are excluded from pair generation — their members must come back
    // as cell_n singleton clusters, all kept, while under-cap cells replay
    // the full edge/component/keep pipeline. This is the knob that keeps
    // the per-cell self-join's O(B²) from going quadratic when the corpus
    // outgrows a fixed quantizer (the x30 soak's 14.8× shuffle tail).
    Q("q_semdedup_cap",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val cen = e.where(col("vec_id") % 100 === 0)
        val r = graft.functions.SimilarityFunctions.semDedup(
          e, cen, tau = 0.3, cellCap = 100)
        val dropped = graft.functions.SimilarityFunctions
          .semDedupDroppedCells(e, cen, cellCap = 100)
        r.groupBy("cell").agg(count(lit(1)).as("cell_n"),
            countDistinct("cluster").as("n_clusters"),
            sum(col("keep").cast("long")).as("n_kept"))
          .join(dropped.select(col("cid").as("cell"), lit(true).as("dropped")),
            Seq("cell"), "left")
          .select(col("cell"), col("cell_n"), col("n_clusters"), col("n_kept"),
            coalesce(col("dropped"), lit(false)).as("dropped"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid, ccos FROM (SELECT vec_id, cid, ccos,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |w AS (SELECT cid, count(*) AS cn FROM cells GROUP BY 1),
           |jo AS (SELECT c.vec_id, c.cid FROM cells c JOIN w ON w.cid = c.cid AND w.cn <= 100),
           |e AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM jo a
           |  JOIN jo b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  JOIN v x ON x.vec_id = a.vec_id JOIN v y ON y.vec_id = b.vec_id
           |  WHERE ${cos("x.embedding", "y.embedding")} >= 0.3),
           |sym AS (SELECT id1, id2 FROM e UNION SELECT id2, id1 FROM e),
           |reach(s, t) AS (SELECT vec_id, vec_id FROM cells
           |  UNION SELECT r.s, e2.id2 FROM reach r JOIN sym e2 ON e2.id1 = r.t),
           |comp AS (SELECT s AS vec_id, min(t) AS cluster FROM reach GROUP BY s),
           |r AS (SELECT c.vec_id, c.cid AS cell, p.cluster, c.ccos,
           |  row_number() OVER (PARTITION BY p.cluster ORDER BY c.ccos ASC, c.vec_id) AS rn
           |  FROM cells c JOIN comp p ON p.vec_id = c.vec_id)
           |SELECT cell, count(*) AS cell_n,
           |  count(DISTINCT cluster) AS n_clusters,
           |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           |  count(*) > 100 AS dropped
           |FROM r GROUP BY cell""".stripMargin
      }),

    // SemDeDup through the TWO-LEVEL (coarse → fine) quantizer assignment
    // — the deployment shape once cell count rides corpus size: k ∝ N
    // keeps per-cell pair work constant but makes the flat assignment
    // argmax O(N·k) = quadratic (the r11 x1000 soak measured exactly
    // that); the coarse→fine tree cuts it to O(N·√k), map-only. Cells
    // are the fine ids; pairs/components/keep replay q_semdedup's rules.
    // The oracle composes q_ann_ivf2's two-level argmax CTEs with
    // q_semdedup's closure + keep window.
    Q("q_semdedup_ivf2",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.semDedup2(
          e, e.where(col("vec_id") % 100 === 0), e.where(col("vec_id") % 10 === 0),
          tau = 0.3)
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings),
           |co AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |fi AS (SELECT vec_id AS fid, embedding AS femb FROM v WHERE vec_id % 10 = 0),
           |fa AS (SELECT fid, cid FROM (SELECT f.fid, c.cid,
           |  row_number() OVER (PARTITION BY f.fid
           |    ORDER BY ${cos("f.femb", "c.cemb")} DESC, c.cid) AS rn
           |  FROM fi f CROSS JOIN co c) WHERE rn = 1),
           |va AS (SELECT vec_id, cid FROM (SELECT v.vec_id, c.cid,
           |  row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY ${cos("v.embedding", "c.cemb")} DESC, c.cid) AS rn
           |  FROM v CROSS JOIN co c) WHERE rn = 1),
           |vf AS (SELECT vec_id, fid, fcos FROM (SELECT va.vec_id, fa.fid,
           |  ${cos("v.embedding", "fi.femb")} AS fcos,
           |  row_number() OVER (PARTITION BY va.vec_id
           |    ORDER BY ${cos("v.embedding", "fi.femb")} DESC, fa.fid) AS rn
           |  FROM va JOIN fa ON fa.cid = va.cid
           |  JOIN v ON v.vec_id = va.vec_id
           |  JOIN fi ON fi.fid = fa.fid) WHERE rn = 1),
           |cells AS (SELECT va.vec_id, coalesce(vf.fid, -1) AS cid,
           |  coalesce(vf.fcos, -2.0) AS ccos
           |  FROM va LEFT JOIN vf ON vf.vec_id = va.vec_id),
           |w AS (SELECT cid, count(*) AS cn FROM cells GROUP BY 1),
           |jo AS (SELECT c.vec_id, c.cid FROM cells c
           |  JOIN w ON w.cid = c.cid AND w.cn <= 2048 WHERE c.cid >= 0),
           |e AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM jo a
           |  JOIN jo b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  JOIN v x ON x.vec_id = a.vec_id JOIN v y ON y.vec_id = b.vec_id
           |  WHERE ${cos("x.embedding", "y.embedding")} >= 0.3),
           |sym AS (SELECT id1, id2 FROM e UNION SELECT id2, id1 FROM e),
           |reach(s, t) AS (SELECT vec_id, vec_id FROM cells
           |  UNION SELECT r.s, e2.id2 FROM reach r JOIN sym e2 ON e2.id1 = r.t),
           |comp AS (SELECT s AS vec_id, min(t) AS cluster FROM reach GROUP BY s),
           |r AS (SELECT c.vec_id, c.cid AS cell, p.cluster, c.ccos,
           |  row_number() OVER (PARTITION BY p.cluster ORDER BY c.ccos ASC, c.vec_id) AS rn
           |  FROM cells c JOIN comp p ON p.vec_id = c.vec_id)
           |SELECT vec_id, cell, cluster, rn = 1 AS keep FROM r""".stripMargin
      }),

    // Lloyd k-means refinement (2 assignment passes, 1 refit) — the
    // quantizer trainer behind q_ann_ivf/q_semdedup's centroids. The
    // oracle unrolls both iterations with centroids as (cid, k, val)
    // rows; every cosine and every refit component rounds to 6 places on
    // both engines, which is what makes iterated FP averaging gateable.
    Q("q_kmeans",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.kmeansAssign(
          e, e.where(col("vec_id") % 100 === 0), iters = 2)
      },
      Some("""WITH v AS (SELECT vec_id, embedding FROM embeddings),
             |dims AS (SELECT k FROM range(64) t(k)),
             |nv AS (SELECT v.vec_id, sqrt(sum(pow(cast(v.embedding[d.k+1] AS DOUBLE), 2))) AS nrm
             |  FROM v CROSS JOIN dims d GROUP BY v.vec_id),
             |cen0 AS (SELECT c.vec_id AS cid, d.k, round(cast(c.embedding[d.k+1] AS DOUBLE), 6) AS val
             |  FROM v c CROSS JOIN dims d WHERE c.vec_id % 100 = 0),
             |nc0 AS (SELECT cid, sqrt(sum(val * val)) AS nrm FROM cen0 GROUP BY cid),
             |dp0 AS (SELECT v.vec_id, c.cid, sum(cast(v.embedding[c.k+1] AS DOUBLE) * c.val) AS dp
             |  FROM v JOIN cen0 c ON true GROUP BY 1, 2),
             |asn1 AS (SELECT vec_id, cid FROM (SELECT d.vec_id, d.cid,
             |  row_number() OVER (PARTITION BY d.vec_id
             |    ORDER BY round(d.dp / (nv.nrm * n.nrm), 6) DESC, d.cid) AS cr
             |  FROM dp0 d JOIN nv ON nv.vec_id = d.vec_id JOIN nc0 n ON n.cid = d.cid) WHERE cr = 1),
             |cen1 AS (SELECT c0.cid, c0.k, coalesce(r.val, c0.val) AS val FROM cen0 c0
             |  LEFT JOIN (SELECT a.cid, d.k, round(avg(cast(v.embedding[d.k+1] AS DOUBLE)), 6) AS val
             |    FROM asn1 a JOIN v USING (vec_id) CROSS JOIN dims d GROUP BY 1, 2) r
             |  ON r.cid = c0.cid AND r.k = c0.k),
             |nc1 AS (SELECT cid, sqrt(sum(val * val)) AS nrm FROM cen1 GROUP BY cid),
             |dp1 AS (SELECT v.vec_id, c.cid, sum(cast(v.embedding[c.k+1] AS DOUBLE) * c.val) AS dp
             |  FROM v JOIN cen1 c ON true GROUP BY 1, 2)
             |SELECT vec_id, cid AS cell, ccos FROM (SELECT d.vec_id, d.cid,
             |  round(d.dp / (nv.nrm * n.nrm), 6) AS ccos,
             |  row_number() OVER (PARTITION BY d.vec_id
             |    ORDER BY round(d.dp / (nv.nrm * n.nrm), 6) DESC, d.cid) AS cr
             |  FROM dp1 d JOIN nv ON nv.vec_id = d.vec_id JOIN nc1 n ON n.cid = d.cid)
             |WHERE cr = 1""".stripMargin)),

    // Two-level (coarse → fine) IVF assignment — the hierarchical
    // quantizer shape that keeps per-vector assignment O(√k) once cell
    // counts pass ~10⁵ (flat fold is O(k)). Both levels are deterministic
    // id-samples (coarse %100, fine %10) so the oracle replays the whole
    // tree: fine centroids argmax into coarse cells, the corpus argmaxes
    // over coarse then over ONLY its own cell's fine centroids. The Spark
    // side is two map-only folds (assignBest + a map-literal keyed by
    // coarse id) — zero shuffle; the oracle's LEFT JOIN + coalesce pins
    // the explicit empty-cell rule (fid -1, fcos -2.0).
    Q("q_ann_ivf2",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.ivf2Assign(
          e, e.where(col("vec_id") % 100 === 0), e.where(col("vec_id") % 10 === 0))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |co AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |fi AS (SELECT vec_id AS fid, embedding AS femb FROM v WHERE vec_id % 10 = 0),
           |fa AS (SELECT fid, cid FROM (SELECT f.fid, c.cid,
           |  row_number() OVER (PARTITION BY f.fid
           |    ORDER BY ${cos("f.femb", "c.cemb")} DESC, c.cid) AS rn
           |  FROM fi f CROSS JOIN co c) WHERE rn = 1),
           |va AS (SELECT vec_id, cid, ccos FROM (SELECT v.vec_id, c.cid,
           |  ${cos("v.embedding", "c.cemb")} AS ccos,
           |  row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY ${cos("v.embedding", "c.cemb")} DESC, c.cid) AS rn
           |  FROM v CROSS JOIN co c) WHERE rn = 1),
           |vf AS (SELECT vec_id, fid, fcos FROM (SELECT va.vec_id, fa.fid,
           |  ${cos("v.embedding", "fi.femb")} AS fcos,
           |  row_number() OVER (PARTITION BY va.vec_id
           |    ORDER BY ${cos("v.embedding", "fi.femb")} DESC, fa.fid) AS rn
           |  FROM va JOIN fa ON fa.cid = va.cid
           |  JOIN v ON v.vec_id = va.vec_id
           |  JOIN fi ON fi.fid = fa.fid) WHERE rn = 1)
           |SELECT va.vec_id, va.cid, va.ccos,
           |  coalesce(vf.fid, -1) AS fid, coalesce(vf.fcos, -2.0) AS fcos
           |FROM va LEFT JOIN vf ON vf.vec_id = va.vec_id""".stripMargin
      }),

    // PRODUCT QUANTIZATION encode (Jégou et al. 2011): the 64-dim
    // embedding splits into 8 subspaces and each subvector becomes the
    // index of its nearest codebook entry — 8 small ints per vector, the
    // 32× compression that makes a 100 TB ANN index fit storage. Codebook
    // entry j of subspace s = the s-th subvector of the j-th sampled
    // vector (ascending-id rank — real deployments train per-subspace
    // k-means offline and pass the table unchanged). Argmin compares the
    // exact-integer quantized L2 (×1e6 BIGINT) with min-code ties, so the
    // oracle replays every code bit-for-bit.
    Q("q_pq_encode",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.pqEncode(
            e, e.where(col("vec_id") % 100 === 0), m = 8)
          .select(col("vec_id") +:
            (0 until 8).map(i => element_at(col("codes"), i + 1).as(s"c$i")): _*)
      },
      Some {
        val diff = "(CAST(v.embedding[s.s*8+k] AS DOUBLE) - CAST(cb.cemb[s.s*8+k] AS DOUBLE))"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |  embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |d AS (SELECT v.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> $diff * $diff)) * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |best AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d)
           |  WHERE r = 1)
           |SELECT vec_id,
           |${(0 until 8).map(i => s"  max(CASE WHEN s = $i THEN j END) AS c$i").mkString(",\n")}
           |FROM best GROUP BY vec_id""".stripMargin
      }),

    // PQ codes under a TRAINED codebook — one Lloyd refit between the
    // id-sample initialization and the encode, replayed end-to-end in
    // SQL: assign codes under books0, refit every (subspace, code,
    // component) to the 6-place-rounded mean of its assigned subvectors
    // (codes that captured nothing keep their initial entry — the
    // coalesce), rebuild per-entry lists ORDERED BY component (list_sum
    // keeps the ascending IEEE fold the BIGINT quantization needs), and
    // argmin again. The refit mean is round(avg(...), 6) on both engines
    // — the q_kmeans precedent. This makes the TRAINER cross-engine
    // verified, not just spec-verified.
    Q("q_pq_encode_trained",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val trained = graft.functions.SimilarityFunctions.pqTrain(
          e, e.where(col("vec_id") % 100 === 0), m = 8, iters = 2)
        graft.functions.SimilarityFunctions.pqEncode(e, trained, m = 8)
          .select(col("vec_id") +:
            (0 until 8).map(i => element_at(col("codes"), i + 1).as(s"c$i")): _*)
      },
      Some {
        val diff = "(CAST(v.embedding[s.s*8+k] AS DOUBLE) - CAST(cb.cemb[s.s*8+k] AS DOUBLE))"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |  embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |d0 AS (SELECT v.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> $diff * $diff)) * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |b0 AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d0)
           |  WHERE r = 1),
           |rf AS (SELECT b0.s, b0.j, t.kk,
           |  round(avg(CAST(v.embedding[b0.s * 8 + t.kk] AS DOUBLE)), 6) AS mu
           |  FROM b0 JOIN v USING (vec_id) CROSS JOIN range(1, 9) t(kk)
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT s.s, cb.j, t.kk,
           |  CAST(cb.cemb[s.s * 8 + t.kk] AS DOUBLE) AS c0
           |  FROM cb CROSS JOIN range(0, 8) s(s) CROSS JOIN range(1, 9) t(kk)),
           |cb1 AS (SELECT g.s, g.j,
           |  list(coalesce(rf.mu, g.c0) ORDER BY g.kk) AS sub
           |  FROM grid g LEFT JOIN rf ON rf.s = g.s AND rf.j = g.j AND rf.kk = g.kk
           |  GROUP BY 1, 2),
           |d1 AS (SELECT v.vec_id, cb1.s, cb1.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> (CAST(v.embedding[cb1.s*8+k] AS DOUBLE) - cb1.sub[k])
           |       * (CAST(v.embedding[cb1.s*8+k] AS DOUBLE) - cb1.sub[k])))
           |    * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN cb1),
           |b1 AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d1)
           |  WHERE r = 1)
           |SELECT vec_id,
           |${(0 until 8).map(i => s"  max(CASE WHEN s = $i THEN j END) AS c$i").mkString(",\n")}
           |FROM b1 GROUP BY vec_id""".stripMargin
      }),

    // IVF-PQ ADC top-k — the composed 100 TB ANN shape: the IVF probe
    // bounds WHICH vectors are scored (nprobe max-cosine cells), PQ
    // asymmetric distance computation bounds WHAT is read per vector (m
    // code lookups into the query's precomputed distance table; the float
    // embeddings never leave the encode pass). Table entries are ×1e6
    // BIGINT, the per-vector ADC sum is exact integer arithmetic, ranking
    // orders by (adistq, vec_id) — no FP past the table build, so both
    // engines agree bit-for-bit. Recall < 1 by design; parameterize via
    // the q_ann_recall pattern before trusting it.
    Q("q_ann_ivfpq",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        graft.functions.SimilarityFunctions.ivfPqTopK(
          e.where(col("vec_id") < 5), e,
          e.where(col("vec_id") % 100 === 0),
          e.where(col("vec_id") % 100 === 0), k = 3, nprobe = 2, m = 8)
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        val diff = "(CAST(v.embedding[s.s*8+k] AS DOUBLE) - CAST(cb.cemb[s.s*8+k] AS DOUBLE))"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
           |  FROM casn WHERE vec_id < 5) WHERE cr <= 2),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |  embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |d AS (SELECT v.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> $diff * $diff)) * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |best AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d)
           |  WHERE r = 1),
           |adist AS (SELECT p.qid, c.vec_id, SUM(qd.d2q)::BIGINT AS adq
           |  FROM probes p JOIN cells c ON c.cid = p.cid AND c.vec_id != p.qid
           |  JOIN best b ON b.vec_id = c.vec_id
           |  JOIN d qd ON qd.vec_id = p.qid AND qd.s = b.s AND qd.j = b.j
           |  GROUP BY 1, 2),
           |ranked AS (SELECT qid, vec_id, adq,
           |  row_number() OVER (PARTITION BY qid ORDER BY adq, vec_id) AS rank FROM adist)
           |SELECT qid, vec_id, adq / 1000000.0 AS adist, rank
           |FROM ranked WHERE rank <= 3""".stripMargin
      }),

    // IVF-PQ recall@10 against the exact cosine top-10 — the measurement
    // the ivfPqTopK scaladoc demands before trusting a parameterization
    // (the q_ann_recall pattern: both sides rank engine-deterministically,
    // recall is an exact integer count over deterministic sets). The
    // metric mismatch is intentional and realistic: the index ranks by
    // quantized L2 while ground truth is cosine — recall measures probe
    // loss AND quantization/metric loss together, and at the gate's
    // deliberately UNTRAINED id-sample codebooks it reads ~0.11: exactly
    // the number this harness exists to surface before deployment
    // (trained per-subspace k-means codebooks and more probes raise it).
    Q("q_pq_recall",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val exact = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cos", round(graft.functions.SimilarityFunctions.cosine(
            col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"))
        val approx = graft.functions.SimilarityFunctions.ivfPqTopK(
            e.where(col("vec_id") < 20), e,
            e.where(col("vec_id") % 100 === 0),
            e.where(col("vec_id") % 100 === 0), k = 10, nprobe = 2, m = 8)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            round(col("n_hit") / 10.0, 4).as("recall"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        val diff = "(CAST(v.embedding[s.s*8+k] AS DOUBLE) - CAST(cb.cemb[s.s*8+k] AS DOUBLE))"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |qs AS (SELECT vec_id, embedding FROM v WHERE vec_id < 20),
           |ex AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM qs q JOIN v c ON q.vec_id != c.vec_id),
           |ek AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ex)
           |  WHERE rk <= 10),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
           |  FROM casn WHERE vec_id < 20) WHERE cr <= 2),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |  embedding AS cemb FROM v WHERE vec_id % 100 = 0),
           |d AS (SELECT v.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> $diff * $diff)) * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |best AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d)
           |  WHERE r = 1),
           |adist AS (SELECT p.qid, c.vec_id AS vid, SUM(qd.d2q)::BIGINT AS adq
           |  FROM probes p JOIN cells c ON c.cid = p.cid AND c.vec_id != p.qid
           |  JOIN best b ON b.vec_id = c.vec_id
           |  JOIN d qd ON qd.vec_id = p.qid AND qd.s = b.s AND qd.j = b.j
           |  GROUP BY 1, 2),
           |ak AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY adq, vid) AS rk FROM adist)
           |  WHERE rk <= 10)
           |SELECT ek.qid, count(ak.vid)::BIGINT AS n_hit,
           |  round(count(ak.vid) / 10.0, 4) AS recall
           |FROM ek LEFT JOIN ak ON ak.qid = ek.qid AND ak.vid = ek.vid
           |GROUP BY ek.qid""".stripMargin
      }),

    // The SAME recall@10 harness with TRAINED codebooks (one Lloyd refit,
    // the q_pq_encode_trained replay) at a deployment-shaped
    // parameterization: 25 IVF cells / nprobe 8 / ~125 codebook entries
    // per subspace — the swept optimum at gate scale. The oracle composes
    // the full refit (d0 → b0 → rf → cb1) into the recall pipeline:
    // corpus codes AND query ADC tables both come from the trained books,
    // so the recall delta vs q_pq_recall (~0.11 → ~0.39 at sf0.01) is
    // cross-engine verified, not spec-asserted. Context for the absolute
    // number: the synthetic embeddings are i.i.d. uniform unit vectors —
    // the known worst case for vector quantization (no cluster structure
    // to exploit; measured ceiling 0.43 even with HALF the corpus as
    // codebook) — so 0.40 here is the harness working correctly on
    // adversarial data, not a weak index; see ROUND_NOTES r8 for the
    // probe-loss/quantization-loss decomposition.
    Q("q_pq_recall_trained",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val exact = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cos", round(graft.functions.SimilarityFunctions.cosine(
            col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"))
        val trained = graft.functions.SimilarityFunctions.pqTrain(
          e, e.where(col("vec_id") % 4 === 0), m = 8, iters = 2)
        val approx = graft.functions.SimilarityFunctions.ivfPqTopK(
            e.where(col("vec_id") < 20), e,
            e.where(col("vec_id") % 20 === 0),
            trained, k = 10, nprobe = 8, m = 8)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            round(col("n_hit") / 10.0, 4).as("recall"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        val diff = "(CAST(v.embedding[s.s*8+k] AS DOUBLE) - CAST(cb.cemb[s.s*8+k] AS DOUBLE))"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |qs AS (SELECT vec_id, embedding FROM v WHERE vec_id < 20),
           |ex AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM qs q JOIN v c ON q.vec_id != c.vec_id),
           |ek AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ex)
           |  WHERE rk <= 10),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 20 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
           |  FROM casn WHERE vec_id < 20) WHERE cr <= 8),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |  embedding AS cemb FROM v WHERE vec_id % 4 = 0),
           |d0 AS (SELECT v.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> $diff * $diff)) * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |b0 AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d0)
           |  WHERE r = 1),
           |rf AS (SELECT b0.s, b0.j, t.kk,
           |  round(avg(CAST(v.embedding[b0.s * 8 + t.kk] AS DOUBLE)), 6) AS mu
           |  FROM b0 JOIN v USING (vec_id) CROSS JOIN range(1, 9) t(kk)
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT s.s, cb.j, t.kk,
           |  CAST(cb.cemb[s.s * 8 + t.kk] AS DOUBLE) AS c0
           |  FROM cb CROSS JOIN range(0, 8) s(s) CROSS JOIN range(1, 9) t(kk)),
           |cb1 AS (SELECT g.s, g.j,
           |  list(coalesce(rf.mu, g.c0) ORDER BY g.kk) AS sub
           |  FROM grid g LEFT JOIN rf ON rf.s = g.s AND rf.j = g.j AND rf.kk = g.kk
           |  GROUP BY 1, 2),
           |d1 AS (SELECT v.vec_id, cb1.s, cb1.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> (CAST(v.embedding[cb1.s*8+k] AS DOUBLE) - cb1.sub[k])
           |       * (CAST(v.embedding[cb1.s*8+k] AS DOUBLE) - cb1.sub[k])))
           |    * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN cb1),
           |best AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d1)
           |  WHERE r = 1),
           |adist AS (SELECT p.qid, c.vec_id AS vid, SUM(qd.d2q)::BIGINT AS adq
           |  FROM probes p JOIN cells c ON c.cid = p.cid AND c.vec_id != p.qid
           |  JOIN best b ON b.vec_id = c.vec_id
           |  JOIN d1 qd ON qd.vec_id = p.qid AND qd.s = b.s AND qd.j = b.j
           |  GROUP BY 1, 2),
           |ak AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY adq, vid) AS rk FROM adist)
           |  WHERE rk <= 10)
           |SELECT ek.qid, count(ak.vid)::BIGINT AS n_hit,
           |  round(count(ak.vid) / 10.0, 4) AS recall
           |FROM ek LEFT JOIN ak ON ak.qid = ek.qid AND ak.vid = ek.vid
           |GROUP BY ek.qid""".stripMargin
      }),

    // The recall@10 harness a third time, now with RESIDUAL encoding —
    // IVFADC as published (Jégou et al. 2011 §V): codes quantize
    // x − c(cell) instead of x, codebooks are Lloyd-trained in residual
    // space, and each query builds per-probed-cell distance tables from
    // its own residual. Same parameterization as q_pq_recall_trained
    // (25 cells / nprobe 8 / ~125 entries, 2 Lloyd iters) so the recall
    // delta is attributable to residual encoding alone; the oracle
    // replays the full residual pipeline (cells → residuals → init books
    // → refit → corpus codes → per-cell query tables → ADC rank).
    // Measured at sf0.01: 0.32 vs raw-trained 0.385 — residuals DON'T pay
    // on this corpus, because i.i.d. uniform unit vectors have no cluster
    // structure for the coarse quantizer to remove (residual ≈ the vector
    // itself minus a nearly-orthogonal centroid), so the residual rotation
    // only costs codebook efficiency. On clustered real embeddings the
    // sign flips — which is exactly why the harness measures instead of
    // assuming (the q_pq_recall philosophy, third data point).
    Q("q_pq_recall_residual",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val exact = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cos", round(graft.functions.SimilarityFunctions.cosine(
            col("qe"), col("ce")), 6))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"))
        val cen = e.where(col("vec_id") % 20 === 0)
        val res = graft.functions.SimilarityFunctions.ivfResiduals(e, cen)
        val trained = graft.functions.SimilarityFunctions.pqTrain(
            res, res.where(col("vec_id") % 4 === 0), m = 8, iters = 2,
            idCol = "vec_id", embCol = "re")
          .select(col("vec_id"), col("re").as("embedding"))
        val approx = graft.functions.SimilarityFunctions.ivfPqResidualTopK(
            e.where(col("vec_id") < 20), e, cen, trained, k = 10, nprobe = 8, m = 8)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            round(col("n_hit") / 10.0, 4).as("recall"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |qs AS (SELECT vec_id, embedding FROM v WHERE vec_id < 20),
           |ex AS (SELECT q.vec_id AS qid, c.vec_id AS vid, ${cos("q.embedding", "c.embedding")} AS cos
           |  FROM qs q JOIN v c ON q.vec_id != c.vec_id),
           |ek AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM ex)
           |  WHERE rk <= 10),
           |cen AS (SELECT vec_id AS cid, embedding AS cemb FROM v WHERE vec_id % 20 = 0),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
           |  FROM casn WHERE vec_id < 20) WHERE cr <= 8),
           |resid AS (SELECT c.vec_id, c.cid, list_transform(range(1, 65),
           |  k -> CAST(v.embedding[k] AS DOUBLE) - CAST(n.cemb[k] AS DOUBLE)) AS re
           |  FROM cells c JOIN v ON v.vec_id = c.vec_id JOIN cen n ON n.cid = c.cid),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, re AS cemb
           |  FROM resid WHERE vec_id % 4 = 0),
           |d0 AS (SELECT r.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> (r.re[s.s*8+k] - cb.cemb[s.s*8+k]) * (r.re[s.s*8+k] - cb.cemb[s.s*8+k])))
           |    * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM resid r CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |b0 AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d0)
           |  WHERE r = 1),
           |rf AS (SELECT b0.s, b0.j, t.kk,
           |  round(avg(r.re[b0.s * 8 + t.kk]), 6) AS mu
           |  FROM b0 JOIN resid r USING (vec_id) CROSS JOIN range(1, 9) t(kk)
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT s.s, cb.j, t.kk, cb.cemb[s.s * 8 + t.kk] AS c0
           |  FROM cb CROSS JOIN range(0, 8) s(s) CROSS JOIN range(1, 9) t(kk)),
           |cb1 AS (SELECT g.s, g.j,
           |  list(coalesce(rf.mu, g.c0) ORDER BY g.kk) AS sub
           |  FROM grid g LEFT JOIN rf ON rf.s = g.s AND rf.j = g.j AND rf.kk = g.kk
           |  GROUP BY 1, 2),
           |d1 AS (SELECT r.vec_id, cb1.s, cb1.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> (r.re[cb1.s*8+k] - cb1.sub[k]) * (r.re[cb1.s*8+k] - cb1.sub[k])))
           |    * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM resid r CROSS JOIN cb1),
           |best AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d1)
           |  WHERE r = 1),
           |qres AS (SELECT p.qid, p.cid, list_transform(range(1, 65),
           |  k -> CAST(q.embedding[k] AS DOUBLE) - CAST(n.cemb[k] AS DOUBLE)) AS re
           |  FROM probes p JOIN qs q ON q.vec_id = p.qid JOIN cen n ON n.cid = p.cid),
           |qd AS (SELECT qr.qid, qr.cid, cb1.s, cb1.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> (qr.re[cb1.s*8+k] - cb1.sub[k]) * (qr.re[cb1.s*8+k] - cb1.sub[k])))
           |    * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM qres qr CROSS JOIN cb1),
           |adist AS (SELECT p.qid, c.vec_id AS vid, SUM(qd.d2q)::BIGINT AS adq
           |  FROM probes p JOIN cells c ON c.cid = p.cid AND c.vec_id != p.qid
           |  JOIN best b ON b.vec_id = c.vec_id
           |  JOIN qd ON qd.qid = p.qid AND qd.cid = p.cid AND qd.s = b.s AND qd.j = b.j
           |  GROUP BY 1, 2),
           |ak AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY adq, vid) AS rk FROM adist)
           |  WHERE rk <= 10)
           |SELECT ek.qid, count(ak.vid)::BIGINT AS n_hit,
           |  round(count(ak.vid) / 10.0, 4) AS recall
           |FROM ek LEFT JOIN ak ON ak.qid = ek.qid AND ak.vid = ek.vid
           |GROUP BY ek.qid""".stripMargin
      }),

    // The recall@10 harness on a CLUSTERED corpus (r9 verdict item 6):
    // the three existing recall gates measure i.i.d. uniform unit vectors
    // — PQ's known worst case (no structure for the quantizer to exploit;
    // recall 0.39 even trained). Real embedding corpora are clustered and
    // carry near-duplicate groups; this gate generates that shape
    // DETERMINISTICALLY in both engines (all-integer construction: 25
    // well-separated cluster centers (+/-500/dim), 100 near-dup groups of
    // 12 at +/-60/dim, per-vector jitter +/-3/dim), ground-truths by EXACT
    // integer squared-L2, and runs the production trained-PQ pipeline
    // (true centers as the coarse quantizer, one Lloyd refit, nprobe 3).
    // On this deployment-shaped corpus the same index that scores 0.39 on
    // uniform data reaches >= 0.7 (PqRecallClusteredSpec pins the floor;
    // this gate pins cross-engine agreement of every recall value).
    Q("q_pq_recall_clustered",
      (s, _) => {
        val v = clusteredEmbeddings(s)
        val cen = clusteredCenters(s)
        val q = v.where(col("vec_id") % 61 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = v.select(col("vec_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))
        val exact = c.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("d2", aggregate(
            zip_with(col("qe"), col("ce"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, t) => acc + t).cast("long"))
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("qid"), col("vec_id"))
        val trained = graft.functions.SimilarityFunctions.pqTrain(
          v, v.where(col("vec_id") % 8 === 0), m = 8, iters = 2)
        val approx = graft.functions.SimilarityFunctions.ivfPqTopK(
            v.where(col("vec_id") % 61 === 0), v, cen, trained,
            k = 10, nprobe = 3, m = 8)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            round(col("n_hit") / 10.0, 4).as("recall"))
      },
      Some {
        def cos(a: String, b: String) = {
          val dot = (x: String, y: String) =>
            s"list_sum(list_transform(range(1, 65), k -> $x[k] * $y[k]))"
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        }
        val diff = "(v.embedding[s.s*8+k] - cb.cemb[s.s*8+k])"
        s"""WITH v AS (SELECT i AS vec_id, list_transform(range(1, 65), k ->
           |  CAST((((i // 12) % 25) * 1315423911 + (k-1) * 2654435761) % 1001 - 500
           |     + ((i // 12) * 2654435761 + (k-1) * 40503) % 121 - 60
           |     + (i * 97 + (k-1) * 131) % 7 - 3 AS DOUBLE)) AS embedding
           |  FROM range(1200) t(i)),
           |cen AS (SELECT c AS cid, list_transform(range(1, 65), k ->
           |  CAST(((c % 25) * 1315423911 + (k-1) * 2654435761) % 1001 - 500 AS DOUBLE)) AS cemb
           |  FROM range(25) t(c)),
           |qs AS (SELECT vec_id, embedding FROM v WHERE vec_id % 61 = 0),
           |ex AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
           |  CAST(list_sum(list_transform(range(1, 65), k ->
           |    (q.embedding[k] - c.embedding[k]) * (q.embedding[k] - c.embedding[k]))) AS BIGINT) AS d2
           |  FROM qs q JOIN v c ON q.vec_id != c.vec_id),
           |ek AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS rk FROM ex)
           |  WHERE rk <= 10),
           |casn AS (SELECT v.vec_id, cen.cid, ${cos("v.embedding", "cen.cemb")} AS ccos
           |  FROM v CROSS JOIN cen),
           |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr FROM casn)
           |  WHERE cr = 1),
           |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
           |  FROM casn WHERE vec_id % 61 = 0) WHERE cr <= 3),
           |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |  embedding AS cemb FROM v WHERE vec_id % 8 = 0),
           |d0 AS (SELECT v.vec_id, s.s, cb.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> $diff * $diff)) * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN cb),
           |b0 AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d0)
           |  WHERE r = 1),
           |rf AS (SELECT b0.s, b0.j, t.kk,
           |  round(avg(v.embedding[b0.s * 8 + t.kk]), 6) AS mu
           |  FROM b0 JOIN v USING (vec_id) CROSS JOIN range(1, 9) t(kk)
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT s.s, cb.j, t.kk, cb.cemb[s.s * 8 + t.kk] AS c0
           |  FROM cb CROSS JOIN range(0, 8) s(s) CROSS JOIN range(1, 9) t(kk)),
           |cb1 AS (SELECT g.s, g.j,
           |  list(coalesce(rf.mu, g.c0) ORDER BY g.kk) AS sub
           |  FROM grid g LEFT JOIN rf ON rf.s = g.s AND rf.j = g.j AND rf.kk = g.kk
           |  GROUP BY 1, 2),
           |d1 AS (SELECT v.vec_id, cb1.s, cb1.j,
           |  CAST(floor(list_sum(list_transform(range(1, 9),
           |    k -> (v.embedding[cb1.s*8+k] - cb1.sub[k])
           |       * (v.embedding[cb1.s*8+k] - cb1.sub[k])))
           |    * 1e6 + 0.5) AS BIGINT) AS d2q
           |  FROM v CROSS JOIN cb1),
           |best AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
           |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, j) AS r FROM d1)
           |  WHERE r = 1),
           |adist AS (SELECT p.qid, c.vec_id AS vid, SUM(qd.d2q)::BIGINT AS adq
           |  FROM probes p JOIN cells c ON c.cid = p.cid AND c.vec_id != p.qid
           |  JOIN best b ON b.vec_id = c.vec_id
           |  JOIN d1 qd ON qd.vec_id = p.qid AND qd.s = b.s AND qd.j = b.j
           |  GROUP BY 1, 2),
           |ak AS (SELECT qid, vid FROM (SELECT qid, vid,
           |  row_number() OVER (PARTITION BY qid ORDER BY adq, vid) AS rk FROM adist)
           |  WHERE rk <= 10)
           |SELECT ek.qid, count(ak.vid)::BIGINT AS n_hit,
           |  round(count(ak.vid) / 10.0, 4) AS recall
           |FROM ek LEFT JOIN ak ON ak.qid = ek.qid AND ak.vid = ek.vid
           |GROUP BY ek.qid""".stripMargin
      }),

    // Embedding-space decontamination (the semantic counterpart of
    // q_decontaminate's n-gram scrub): drop training vectors whose cosine
    // to ANY eval vector reaches tau. The eval side is small by contract
    // and broadcasts — the 100 TB side is one map-scored semi-join, no
    // shuffle. Survivor ids hash under the oracle.
    Q("q_embed_decontaminate",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val eval0 = e.where(col("vec_id") % 40 === 0)
          .select(col("vec_id").as("eid"), col("embedding").as("ee"))
        val train = e.where(col("vec_id") % 40 =!= 0)
          .select(col("vec_id"), col("embedding").as("ce"))
        val hits = train.join(broadcast(eval0),
          round(graft.functions.SimilarityFunctions.cosine(col("ce"), col("ee")), 6) >= 0.35,
          "left_semi")
        train.join(hits.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .select(col("vec_id"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
        def cos(a: String, b: String) =
          s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
        // an uncorrelated NOT IN: DuckDB list lambdas cannot capture a
        // correlated outer column, so the cosine must live in a JOIN
        // condition, not inside NOT EXISTS
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
           |ev AS (SELECT vec_id, embedding FROM v WHERE vec_id % 40 = 0),
           |tr AS (SELECT vec_id, embedding FROM v WHERE vec_id % 40 != 0),
           |hit AS (SELECT DISTINCT a.vec_id FROM tr a JOIN ev e
           |  ON ${cos("a.embedding", "e.embedding")} >= 0.35)
           |SELECT vec_id FROM tr WHERE vec_id NOT IN (SELECT vec_id FROM hit)""".stripMargin
      }),

    // ---- backend dispatch (/root/reference/imops/backend.py:7-95) ----
    // The same minhash signature computed through BOTH execution backends
    // via the facade's conf-scoped dispatch (`withBackend` = the
    // imops_backend context manager): `builtin` is the codegen'd expression
    // chain, `kernel` the single-pass JVM implementation. The gate hashes
    // both columns against one oracle, so the two backends agreeing
    // byte-for-byte IS the verified property. The third column set runs
    // the kernel backend under a PARAMETERIZED variant
    // (`Numba(parallel=True, nogil=True)` mapped onto conf sub-keys,
    // backend.py:69-92) — the knobs are documented no-ops on Spark, and
    // this gate makes "no-op" a verified property rather than a claim.
    Q("q_backend_dispatch",
      (s, dir) => {
        val b = graft.core.Backend.withBackend(s, graft.core.Backend.Builtin)(
          graft.api.Graft.minhashSignature(s, col("text"), 2))
        val k = graft.core.Backend.withBackend(s, graft.core.Backend.Kernel)(
          graft.api.Graft.minhashSignature(s, col("text"), 2))
        val v = graft.core.Backend.withBackendVariant(s, graft.core.Backend.Kernel,
          graft.core.Backend.ParallelKey -> "true", graft.core.Backend.NogilKey -> "true")(
          graft.api.Graft.minhashSignature(s, col("text"), 2))
        T(s, dir, "documents").select(
          col("doc_id") +:
            (b.zipWithIndex.map { case (c, i) => c.as(s"builtin_mh$i") } ++
             k.zipWithIndex.map { case (c, i) => c.as(s"kernel_mh$i") } ++
             v.zipWithIndex.map { case (c, i) => c.as(s"variant_mh$i") }): _*)
      },
      Some(s"""SELECT doc_id,
              |${(0 until 2).map(k => s"${mhSql(k)} AS builtin_mh$k").mkString(", ")},
              |${(0 until 2).map(k => s"${mhSql(k)} AS kernel_mh$k").mkString(", ")},
              |${(0 until 2).map(k => s"${mhSql(k)} AS variant_mh$k").mkString(", ")}
              |FROM documents""".stripMargin)),

    // ---- normalize_num_threads (/root/reference/imops/utils.py:40-92) ----
    // The clamp rule behind Backend.normalizeParallelism, gated over a
    // fixed (requested, avail) grid: negative n means "all cores + n + 1"
    // (the reference's negative num_threads convention), then clamp to
    // [1, avail]. The Spark side evaluates the ACTUAL JVM function per grid
    // cell; the oracle re-derives the rule independently in SQL — a
    // cross-engine differential of the mapping itself. The live-session
    // form (defaultParallelism feed) is pinned by ModulesSpec; it can't be
    // driver-gated because the oracle can't observe the host's core count.
    Q("q_num_threads",
      (s, _) => {
        import s.implicits._
        val reqs = Seq(-64, -33, -32, -31, -8, -1, 0, 1, 2, 7, 8, 31, 32, 33, 64, 1000)
        val avails = Seq(1, 2, 4, 8, 16, 32, 64, 96)
        (for (r <- reqs; a <- avails)
          yield (r, a, graft.core.Backend.clampParallelism(r, a)))
          .toDF("req", "avail", "n_threads")
      },
      Some("""WITH r(req) AS (VALUES (-64),(-33),(-32),(-31),(-8),(-1),(0),(1),(2),(7),(8),(31),(32),(33),(64),(1000)),
             |a(avail) AS (VALUES (1),(2),(4),(8),(16),(32),(64),(96))
             |SELECT req, avail,
             |GREATEST(1, LEAST(CASE WHEN req < 0 THEN avail + req + 1 ELSE req END, avail)) AS n_threads
             |FROM r CROSS JOIN a""".stripMargin)),

    // ---- sketches & deterministic sampling (beyond-reference) ----

    // KMV distinct-count sketch per order status: k smallest distinct
    // md5-derived 60-bit key hashes; estimate = (k-1)/kth-min normalized.
    Q("q_kmv_distinct",
      (s, dir) => graft.functions.SketchFunctions.kmvEstimate(
        T(s, dir, "orders"), col("o_custkey"), 64, Seq(col("o_orderstatus"))),
      Some("""WITH h AS (SELECT DISTINCT o_orderstatus,
             |  ('0x'||substr(md5(o_custkey::VARCHAR),1,15))::BIGINT AS h FROM orders),
             |r AS (SELECT o_orderstatus, h,
             |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS r FROM h),
             |k AS (SELECT * FROM r WHERE r <= 64)
             |SELECT o_orderstatus, max(h) AS kth, count(*) AS k_actual,
             |CASE WHEN count(*) = 64
             |     THEN round(63.0 * 1152921504606846976 / max(h), 4)
             |     ELSE count(*)::DOUBLE END AS est_distinct
             |FROM k GROUP BY o_orderstatus""".stripMargin)),

    // KMV set-operation estimates BETWEEN two corpus slices (even vs odd
    // doc_id): union cardinality, Jaccard, and intersection size of their
    // word-3-gram sets from one k-min sketch over the union. Estimator:
    // J ~= |{h in U_k : h in A and h in B}| / |U_k| (Beyer et al. 2007).
    // Scale shape: gram hashes reduce by ONE groupBy(h) carrying per-side
    // membership flags as max-flags (mergeable — partial agg on 100 TB),
    // the k-min selection is a global TakeOrdered (no full sort), and the
    // final row is an O(k) aggregate. The gram text never shuffles.
    Q("q_kmv_jaccard",
      (s, dir) => {
        val k = 128
        val t = T(s, dir, "documents").select((col("doc_id") % 2).as("side"),
          explode(shingles(col("text"), 3)).as("g"))
        val m = t.select(col("side"), graft.functions.SketchFunctions.hash60(col("g")).as("h"))
          .groupBy("h")
          .agg(max(when(col("side") === 0, 1).otherwise(0)).as("ina"),
            max(when(col("side") === 1, 1).otherwise(0)).as("inb"))
        val uk = m.orderBy("h").limit(k)
        val est = when(col("k_actual") === k,
          lit((k - 1).toDouble) * lit(1.152921504606846976e18) / col("kth").cast("double"))
          .otherwise(col("k_actual").cast("double"))
        uk.agg(count(lit(1)).as("k_actual"), max("h").as("kth"),
            sum(col("ina") * col("inb")).as("n_both"))
          .select(col("k_actual"), col("kth"), col("n_both"),
            round(est, 4).as("est_union"),
            round(col("n_both").cast("double") / col("k_actual"), 4).as("jaccard"),
            round(est * col("n_both") / col("k_actual"), 4).as("est_intersection"))
      },
      Some("""WITH t AS (SELECT doc_id % 2 AS side, string_split(text, ' ') AS toks FROM documents),
             |g AS (SELECT side, unnest(list_transform(range(1, len(toks) - 1), i ->
             |  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM t),
             |m AS (SELECT ('0x'||substr(md5(g),1,15))::BIGINT AS h,
             |  max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ina,
             |  max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS inb FROM g GROUP BY 1),
             |uk AS (SELECT * FROM (SELECT m.*, row_number() OVER (ORDER BY h) AS r FROM m)
             |  WHERE r <= 128),
             |ag AS (SELECT count(*) AS k_actual, max(h) AS kth,
             |  cast(sum(ina * inb) AS BIGINT) AS n_both FROM uk),
             |e AS (SELECT *, CASE WHEN k_actual = 128
             |  THEN 127.0 * 1152921504606846976 / kth ELSE k_actual::DOUBLE END AS est FROM ag)
             |SELECT k_actual, kth, n_both, round(est, 4) AS est_union,
             |  round(n_both::DOUBLE / k_actual, 4) AS jaccard,
             |  round(est * n_both / k_actual, 4) AS est_intersection
             |FROM e""".stripMargin)),

    // HyperLogLog distinct estimate per group (p=4, 16 registers): the
    // mergeable counterpart to KMV above — registers combine by max, so
    // per-partition partial aggregation (and cross-day sketch union) is
    // free. rho comes from the exact bit-string length, not floating log2,
    // and the estimator folds register terms in sorted order, so the DuckDB
    // twin is bit-identical.
    Q("q_hll_distinct",
      (s, dir) => graft.functions.SketchFunctions.hllEstimate(
        T(s, dir, "orders"), col("o_custkey"), Seq(col("o_orderstatus"))),
      Some("""WITH h AS (SELECT o_orderstatus, md5(o_custkey::VARCHAR) AS d FROM orders),
             |b AS (SELECT o_orderstatus, ('0x'||substr(d,1,1))::BIGINT AS bucket,
             |  ('0x'||substr(d,2,13))::BIGINT AS w FROM h),
             |r AS (SELECT o_orderstatus, bucket,
             |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
             |  FROM b GROUP BY o_orderstatus, bucket),
             |a AS (SELECT o_orderstatus,
             |  list_reduce(list_prepend(0.0, list_sort(list(pow(2.0, -reg::DOUBLE)))),
             |    (x, y) -> x + y) AS ssum,
             |  count(*) AS nb FROM r GROUP BY o_orderstatus)
             |SELECT o_orderstatus,
             |  round(0.673::DOUBLE * 256 / (ssum + (16 - nb)::DOUBLE), 4) AS hll_est
             |FROM a""".stripMargin)),

    // Sketch MERGEABILITY under the gate: per-source HLL register sets
    // max-merge to the global sketch — the property that makes sketches
    // the 100 TB distinct-count currency (build per shard/day/source,
    // merge at read time, never recount). The gate emits every per-source
    // estimate, the register-MERGED global, and an independently-built
    // DIRECT global: merged == direct is enforced by the hash compare
    // itself (max over (source,bucket) then bucket ≡ max over bucket),
    // and the oracle replays both constructions separately.
    Q("q_hll_merge",
      (s, dir) => {
        val d = T(s, dir, "documents")
        val regs = graft.functions.SketchFunctions.hllRegisters(
          d, col("text"), Seq(col("source")))
        val perSource = graft.functions.SketchFunctions.hllFinalize(
          regs, Seq(col("source")))
        val merged = graft.functions.SketchFunctions.hllFinalize(
            regs.groupBy(col("bucket")).agg(max(col("reg")).as("reg")), Seq())
          .select(lit("zz_merged").as("source"), col("hll_est"))
        val direct = graft.functions.SketchFunctions.hllEstimate(
            d, col("text"), Seq())
          .select(lit("zz_direct").as("source"), col("hll_est"))
        perSource.unionByName(merged).unionByName(direct)
      },
      Some {
        val fin = (src: String, from: String) =>
          s"""SELECT $src AS source,
             |  round(0.673::DOUBLE * 256 / (
             |    list_reduce(list_prepend(0.0, list_sort(list(pow(2.0, -reg::DOUBLE)))),
             |      (x, y) -> x + y) + (16 - count(*))::DOUBLE), 4) AS hll_est
             |FROM $from""".stripMargin
        s"""WITH h AS (SELECT source, md5(text) AS d FROM documents),
           |b AS (SELECT source, ('0x'||substr(d,1,1))::BIGINT AS bucket,
           |  ('0x'||substr(d,2,13))::BIGINT AS w FROM h),
           |r AS (SELECT source, bucket,
           |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
           |  FROM b GROUP BY 1, 2),
           |mr AS (SELECT bucket, max(reg) AS reg FROM r GROUP BY 1),
           |dr AS (SELECT bucket,
           |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
           |  FROM b GROUP BY 1)
           |${fin("source", "r GROUP BY source")}
           |UNION ALL ${fin("'zz_merged'", "mr")}
           |UNION ALL ${fin("'zz_direct'", "dr")}""".stripMargin
      }),

    // Bloom-filter decontamination: the broadcast-bitset variant of
    // q_decontaminate. The eval side builds a fixed-size bitset
    // (treeAggregate bitwise-or — mergeable, no driver row loop) that ships
    // to every executor; the corpus side is then a map-only scan whose
    // membership test is pure builtin bit arithmetic inside codegen. Unlike
    // the broadcast hash-set semi-join, memory is mbits/8 bytes regardless
    // of eval cardinality — the knob that keeps a many-benchmark scrub
    // broadcastable at 100 TB. Hits include the filter's deterministic
    // false positives, which the oracle reproduces exactly (membership =
    // all k md5-derived positions present in the eval position set).
    Q("q_bloom_decontaminate",
      (s, dir) => {
        val mbits = 65536; val k = 3
        val gd = grams5h(s, dir)
        val ev = gd.where(col("doc_id") % 7 === 0).select(col("gh"))
        val bits = graft.functions.SketchFunctions.bloomBuild(ev, col("gh"), mbits, k)
        gd.where(col("doc_id") % 7 =!= 0)
          .where(graft.functions.SketchFunctions.bloomContains(bits, col("gh"), mbits, k))
          .groupBy("doc_id").agg(count(lit(1)).as("n_bloom_hits"))
      },
      Some(s"""${gramSql(5)},
              |gd AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g),
              |evp AS (SELECT DISTINCT
              |    ('0x'||substr(md5(i.i::VARCHAR || '|' || gh),1,13))::BIGINT % 65536 AS p
              |  FROM gd, range(3) i(i) WHERE doc_id % 7 = 0),
              |tp AS (SELECT doc_id, gh,
              |    ('0x'||substr(md5(i.i::VARCHAR || '|' || gh),1,13))::BIGINT % 65536 AS p
              |  FROM gd, range(3) i(i) WHERE doc_id % 7 <> 0),
              |hit AS (SELECT doc_id, gh FROM tp GROUP BY doc_id, gh
              |  HAVING count(*) = sum(CASE WHEN p IN (SELECT p FROM evp) THEN 1 ELSE 0 END))
              |SELECT doc_id, count(*) AS n_bloom_hits FROM hit GROUP BY doc_id""".stripMargin)),

    // Approximate quantiles from a deterministic bounded sample: the k
    // smallest row-hashes per group (KMV selection applied to rows — a
    // uniform, re-run-stable subset) then EXACT interpolated quantiles of
    // the sample. O(k) state per group at any input size; dyadic
    // percentiles over integer-valued doubles keep the interpolation
    // FP-exact on both engines. The bounded-memory answer to "length/score
    // distribution per corpus slice" where exact percentile would need the
    // whole group sorted in one place.
    Q("q_approx_quantile",
      (s, dir) => graft.functions.SketchFunctions.sampledQuantiles(
        T(s, dir, "lineitem"),
        concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        col("l_quantity"), 128, Seq(col("l_returnflag")), Seq(0.25, 0.5, 0.75)),
      Some("""WITH h AS (SELECT l_returnflag,
             |  ('0x'||substr(md5(l_orderkey::VARCHAR||'|'||l_linenumber::VARCHAR||'|'||l_quantity::VARCHAR),1,15))::BIGINT AS qh,
             |  l_quantity AS v FROM lineitem),
             |r AS (SELECT l_returnflag, qh, v,
             |  row_number() OVER (PARTITION BY l_returnflag ORDER BY qh) AS r FROM h),
             |k AS (SELECT * FROM r WHERE r <= 128)
             |SELECT l_returnflag, count(*) AS n_sample,
             |  quantile_cont(v, 0.25) AS q25, quantile_cont(v, 0.5) AS q50,
             |  quantile_cont(v, 0.75) AS q75
             |FROM k GROUP BY l_returnflag""".stripMargin)),

    // Deterministic 10% Bernoulli sample keyed on (orderkey, linenumber):
    // re-runs (and the oracle) select the identical sample.
    // fixed-width histogram of document lengths: 16 buckets over [0, 4000),
    // clamped at both ends; floor-arithmetic bucket rule identical on both
    // engines (integer-valued doubles — hash-exact), empty buckets emitted
    Q("q_histogram",
      (s, dir) => graft.functions.SketchFunctions.histogram(
        T(s, dir, "documents").select(length(col("text")).cast("double").as("v")),
        col("v"), 0.0, 4000.0, 16),
      Some("""WITH h AS (SELECT least(15, greatest(0,
             |  CAST(floor(length(text)::DOUBLE / 4000.0 * 16) AS INT))) AS bucket,
             |  count(*) AS cnt FROM documents GROUP BY 1)
             |SELECT t.b::BIGINT AS bucket, coalesce(h.cnt, 0)::BIGINT AS cnt
             |FROM range(16) t(b) LEFT JOIN h ON h.bucket = t.b""".stripMargin)),

    // deterministic per-group cap: at most 50 docs per language, survivors
    // = the 50 smallest doc-id hashes (md5-prefix, the q_sample_bernoulli
    // hash) — the "cap each domain's share" curation rule, re-run-stable;
    // the oracle ranks by the identical hash
    Q("q_cap_per_group",
      (s, dir) => graft.functions.SketchFunctions.capPerGroup(
          T(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq(col("lang")), col("doc_id"), 50)
        .select(col("doc_id"), col("lang")),
      Some("""WITH r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             |  ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id::VARCHAR) AS rn
             |FROM documents)
             |SELECT doc_id, lang FROM r WHERE rn <= 50""".stripMargin)),

    // bounded-heap per-group top-k (exprs.TopKAgg): the 5 highest-price
    // orders per order status through the O(groups·k)-shuffle aggregate
    // (map-side partials emit <= k entries/group), oracle = the naive
    // row_number window. Money ordered through the DECIMAL-cents
    // convention (exact integer on both engines); descending = negated
    // cents, ties broken by the orderkey string so the order is total.
    Q("q_topk_group",
      (s, dir) => {
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.functions.SketchFunctions.topKPerGroup(
          o, Seq(col("o_orderstatus")),
          (col("o_totalprice").cast("decimal(12,2)") * -100).cast("long"),
          col("o_orderkey").cast("string"), 5)
      },
      Some("""WITH r AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
             |  row_number() OVER (PARTITION BY o_orderstatus
             |    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * -100 AS BIGINT),
             |             CAST(o_orderkey AS VARCHAR)) AS rn
             |FROM orders)
             |SELECT o_orderkey, o_orderstatus, o_totalprice FROM r WHERE rn <= 5""".stripMargin)),

    // the single-pass composability TopKAgg exists for: per-group COUNT,
    // money SUM, and top-3 order ids by price all in ONE hash aggregation
    // (one shuffle; the window form needs a second exchange plus a join to
    // attach the scalars). The oracle replays it as agg JOIN ranked rows.
    Q("q_topk_composed",
      (s, dir) => {
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        o.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            // exact-integer cents (the hashed-value convention): the
            // DECIMAL sum scaled to BIGINT never takes the engine-dependent
            // DECIMAL->DOUBLE conversion past 2^53
            (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("sum_cents"),
            graft.exprs.TopKAgg.topK(
              (col("o_totalprice").cast("decimal(12,2)") * -100).cast("long"),
              col("o_orderkey").cast("string"), struct(col("o_orderkey")), 3).as("tk"))
          .select(col("o_orderstatus"), col("n_orders"), col("sum_cents"),
            explode(col("tk")).as("e"))
          .select(col("o_orderstatus"), col("n_orders"), col("sum_cents"),
            col("e.o_orderkey").as("top_orderkey"))
      },
      Some("""WITH a AS (SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
             |  (SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)::BIGINT AS sum_cents
             |  FROM orders GROUP BY o_orderstatus),
             |r AS (SELECT o_orderstatus, o_orderkey,
             |  row_number() OVER (PARTITION BY o_orderstatus
             |    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * -100 AS BIGINT),
             |             CAST(o_orderkey AS VARCHAR)) AS rn
             |  FROM orders)
             |SELECT a.o_orderstatus, a.n_orders, a.sum_cents,
             |       r.o_orderkey AS top_orderkey
             |FROM a JOIN r ON a.o_orderstatus = r.o_orderstatus
             |WHERE r.rn <= 3""".stripMargin)),

    Q("q_sample_bernoulli",
      (s, dir) => graft.functions.SketchFunctions.bernoulliSample(
          T(s, dir, "lineitem"),
          concat_ws("|", col("l_orderkey"), col("l_linenumber")), 10)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE ('0x'||substr(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR),1,4))::BIGINT % 100 < 10""".stripMargin)),

    // Deterministic stratified sample: mixture weighting by language
    // (keep 10% of English, 50% of everything else).
    Q("q_sample_stratified",
      (s, dir) => graft.functions.SketchFunctions.stratifiedSample(
          T(s, dir, "documents"), col("doc_id"),
          when(col("lang") === "en", 10).otherwise(50))
        .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,4))::BIGINT % 100 <
             |  CASE WHEN lang = 'en' THEN 10 ELSE 50 END""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis-Spirakis 2006):
    // top-5 per source by key u^(1/w) with u a deterministic md5-uniform
    // and w = n_chars — longer documents proportionally likelier, yet
    // re-run-stable. Ranking uses the equivalent ln(u)/w form with
    // ln(u) = lnPoly(h+1) − lnPoly(2⁶⁰) (bit-exact cross-engine — no
    // libm anywhere near the rank key), half-up-quantized to a 1e-6
    // integer; ties break on doc_id. One window shuffle on the group key;
    // no global sort.
    Q("q_weighted_sample",
      (s, dir) => {
        val lnU = graft.functions.TextFunctions.lnPoly(
            graft.functions.SketchFunctions.hash60(col("doc_id")) + 1) -
          graft.functions.TextFunctions.lnPoly(lit(1152921504606846976L))
        val key = floor(lnU / col("n_chars") * lit(1000000.0) + lit(0.5)).cast("long")
        val w = Window.partitionBy("source").orderBy(col("key").desc, col("doc_id"))
        T(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"), key.as("key"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 5)
          .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
      },
      Some {
        val lnU = s"(${graft.functions.TextFunctions.lnPolySql(
            "('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT + 1")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("1152921504606846976")})"
        s"""WITH b AS (SELECT doc_id, source, n_chars,
           |  CAST(floor($lnU / n_chars * 1000000.0 + 0.5) AS BIGINT) AS key
           |  FROM documents),
           |r AS (SELECT doc_id, source, n_chars,
           |  row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rk FROM b)
           |SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 5""".stripMargin
      }),

    // Per-document character-level Shannon entropy (bits/char): the
    // classic gibberish/boilerplate quality signal — low entropy flags
    // repeated filler, high entropy flags random noise. H = log2(n) -
    // sum(c*ln c)/(n*ln 2) from the per-doc char histogram. Hash path is
    // the repo's integer convention: per-class c*ln(c) quantizes via
    // lnPoly (no libm) to 1e-6 BIGINT and sums exactly (the raw double
    // sum this replaces was partial-agg ORDER-dependent on top of libm);
    // `entropy_e4` = bits/char half-up at 1e-4.
    Q("q_entropy",
      (s, dir) => {
        val q = floor(graft.functions.TextFunctions.lnPoly(col("c")) *
          lit(1000000.0) + lit(0.5)).cast("long")
        T(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
          .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").as("n"), sum(col("c") * q).as("slcq"))
          .select(col("doc_id"), col("n").as("n_chars_tot"),
            floor(((graft.functions.TextFunctions.lnPoly(col("n")) -
              (col("slcq").cast("double") / lit(1000000.0)) / col("n").cast("double"))
              / lit(0.6931471805599453)) * lit(10000.0) + lit(0.5)).cast("long")
              .as("entropy_e4"))
      },
      Some {
        val q = s"CAST(floor(${graft.functions.TextFunctions.lnPolySql("c")} * 1000000.0 + 0.5) AS BIGINT)"
        val lnN = graft.functions.TextFunctions.lnPolySql("n")
        s"""WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
           |cc AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
           |ag AS (SELECT doc_id, sum(c) AS n, sum(c * $q) AS slcq
           |  FROM cc GROUP BY doc_id)
           |SELECT doc_id, cast(n AS BIGINT) AS n_chars_tot,
           |CAST(floor((($lnN - (CAST(slcq AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)) / 0.6931471805599453) * 10000.0 + 0.5) AS BIGINT) AS entropy_e4
           |FROM ag""".stripMargin
      }),

    // Edit-distance fuzzy dedup: LSH-blocked candidate pairs scored with
    // levenshtein on the 64-char prefix (O(n·m) per pair is only paid on
    // candidates, never all-pairs — the same blocking that makes n-gram
    // Jaccard scale). Integer-exact on both engines.
    Q("q_edit_distance",
      (s, dir) => {
        // exact dups collapsed + 64-cap like every LSH band join (the DP is
        // the expensive verifier — the cap bounds how many times it runs
        // per bucket); candidates come from the shared candPairs64 table
        // (one blocking pass per session) with the 64-char prefixes joined
        // back from the cached rep table — identical pair set and prefix
        // values as the previous carry-through-the-band-join form
        val pref = repSig(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, 64).as("prefix"))
        candPairs64(s, dir)
          .join(pref.select(col("doc_id").as("id1"), col("prefix").as("prefix_1")), Seq("id1"))
          .join(pref.select(col("doc_id").as("id2"), col("prefix").as("prefix_2")), Seq("id2"))
          // equal-prefix short-circuit (distinct docs can still share the
          // first 64 chars) + bounded DP via the threshold form (O(k·n),
          // -1 when above) — both value-preserving vs plain levenshtein<=20
          .select(col("id1"), col("id2"),
            when(col("prefix_1") === col("prefix_2"), 0)
              .otherwise(levenshtein(col("prefix_1"), col("prefix_2"), 20)).as("dist"))
          .where(col("dist") >= 0)
      },
      Some(s"""WITH rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
              |sig AS (SELECT doc_id, substr(text, 1, 64) AS prefix,
              |${(0 until 4).map(k => s"${mhSql(k)} AS mh$k").mkString(", ")} FROM rep),
              |bands AS (${(0 until 4).map(k =>
                 s"SELECT doc_id, prefix, $k AS band, mh$k AS h FROM sig").mkString(" UNION ALL ")}),
              |keptb AS (SELECT band, h FROM bands GROUP BY band, h HAVING count(*) <= 64),
              |kb AS (SELECT b.doc_id, b.prefix, b.band, b.h FROM bands b
              |  JOIN keptb ON keptb.band = b.band AND keptb.h = b.h),
              |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
              |  x.prefix AS p1, y.prefix AS p2
              |  FROM kb x JOIN kb y
              |  ON x.h = y.h AND x.band = y.band AND x.doc_id < y.doc_id)
              |SELECT id1, id2, cast(levenshtein(p1, p2) AS INT) AS dist
              |FROM cand WHERE levenshtein(p1, p2) <= 20""".stripMargin)),

    // The cap gate itself: quantized doc length is a deliberately
    // pathological blocking key (hundreds of docs per bucket at any SF).
    // The capped join must (a) drop every bucket wider than 16 and
    // (b) produce exactly bucket_n·(bucket_n-1)/2 pairs for the kept ones —
    // the oracle asserts the closed form against the join's actual output,
    // proving the candidate count is bounded by cap²/2 per bucket.
    Q("q_lsh_bucket_cap",
      (s, dir) => {
        val bands = T(s, dir, "documents")
          .select(col("doc_id"), lit(0).as("band"),
            expr("n_chars div 10").cast("long").as("h"))
        val kept = graft.operators.LshBlocking.cappedBands(bands, "band", "h", cap = 16)
        val pairs = graft.operators.LshBlocking
          .candidatePairs(bands, "band", "h", "doc_id", cap = 16)
          .join(kept.select(col("doc_id").as("id1"), col("h")), Seq("id1"))
          .groupBy("h").agg(count(lit(1)).as("n_pairs"))
        kept.groupBy("h").agg(count(lit(1)).as("bucket_n"))
          .join(pairs, Seq("h"), "left")
          .select(col("h"), col("bucket_n"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      },
      Some("""SELECT (n_chars // 10)::BIGINT AS h, count(*) AS bucket_n,
             |CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
             |FROM documents GROUP BY (n_chars // 10)::BIGINT
             |HAVING count(*) <= 16""".stripMargin)),

    // Count-min sketch over the corpus token stream (depth 4 × width 256),
    // point-queried for four terms. The sketch is O(d·w) state however
    // large the corpus; estimates are integer-exact on both engines.
    Q("q_cms_freq",
      (s, dir) => {
        val sketch = graft.functions.SketchFunctions.cmsBuild(
          docTokens(s, dir), col("term"), 4, 256)
        graft.functions.SketchFunctions.cmsEstimate(
          sketch, Seq("join", "hash", "scan", "vector"), 4, 256)
      },
      Some("""WITH toks AS (SELECT
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS i),
             |cells AS (SELECT i,
             |  ('0x'||substr(md5(i::VARCHAR || '|' || term), 1, 4))::BIGINT % 256 AS c,
             |  count(*) AS cnt FROM toks, rows_ GROUP BY 1, 2),
             |probes AS (SELECT t AS term, i,
             |  ('0x'||substr(md5(i::VARCHAR || '|' || t), 1, 4))::BIGINT % 256 AS c
             |  FROM (SELECT unnest(['join', 'hash', 'scan', 'vector']) AS t), rows_)
             |SELECT term, min(coalesce(cnt, 0)) AS est
             |FROM probes LEFT JOIN cells USING (i, c) GROUP BY term""".stripMargin)),

    // ---- relevance scoring (beyond-reference text analysis) ----

    // TF-IDF per (doc, term) with +1-smoothed idf. ln() may differ by an
    // ulp between engines, so scores are rounded to 6 places on both sides;
    // tf/df are exact integers.
    // corpus-LM quality signal (CCNet-style): per-doc mean token
    // log-probability under an add-one-smoothed unigram model trained on
    // the corpus itself. Hash path is all-integer via lnPoly (no libm —
    // the quantized-libm-ln form this replaces is the exact convention
    // that hash-failed q_dsir_weights in r6/r7; `lm_e4` = mean log-prob
    // half-up at 1e-4 as BIGINT).
    Q("q_lm_score",
      (s, dir) => graft.functions.TextFunctions.unigramLogProb(
          docTokens(s, dir), "doc_id", "term")
        .select(col("doc_id"), col("lm_e4")),
      Some {
        val lp = s"(${graft.functions.TextFunctions.lnPolySql("c.cnt + 1")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("total + vocab")})"
        val q = s"CAST(floor($lp * 1000000.0 + 0.5) AS BIGINT)"
        s"""WITH toks AS (SELECT doc_id,
           |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |cnt AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
           |tot AS (SELECT count(*) AS total FROM toks),
           |voc AS (SELECT count(*) AS vocab FROM cnt)
           |SELECT t.doc_id,
           |CAST(floor(((CAST(sum(t.tf * $q) AS DOUBLE) / 1000000.0) / CAST(sum(t.tf) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS lm_e4
           |FROM tf t JOIN cnt c USING (term), tot, voc
           |GROUP BY t.doc_id""".stripMargin
      }),

    // Bigram-LM quality score: per-doc mean ln P(w2|w1), add-one smoothed —
    // the conditional upgrade of q_lm_score and the signal CCNet buckets
    // perplexity on. The corpus bigram count is a window sum over the same
    // bg shuffle as the per-doc tf (no second shuffle, no broadcast of the
    // unbounded bigram table); only the O(vocab) unigram model broadcasts.
    Q("q_bigram_lm",
      (s, dir) => graft.functions.TextFunctions.bigramLogProb(
          T(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("bigram_e4")),
      Some {
        val lp = s"(${graft.functions.TextFunctions.lnPolySql("c2 + 1")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("c1 + vocab")})"
        val q = s"CAST(floor($lp * 1000000.0 + 0.5) AS BIGINT)"
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |uni AS (SELECT doc_id, unnest(toks) AS w FROM t),
           |c1 AS (SELECT w AS w1, count(*) AS c1 FROM uni GROUP BY 1),
           |voc AS (SELECT count(*) AS vocab FROM c1),
           |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |  i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
           |btf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY 1, 2),
           |c2 AS (SELECT bg, sum(tf) AS c2 FROM btf GROUP BY 1)
           |SELECT btf.doc_id,
           |CAST(floor(((CAST(sum(tf * $q) AS DOUBLE) / 1000000.0) / CAST(sum(tf) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS bigram_e4
           |FROM btf JOIN c2 USING (bg)
           |JOIN c1 ON c1.w1 = string_split(bg, ' ')[1], voc
           |GROUP BY btf.doc_id""".stripMargin
      }),

    // CCNet-style perplexity bucketing: documents ntile'd into
    // head/middle/tail by the bigram-LM score. The ntile runs over the
    // ROUNDED score (ties broken by doc_id) so a sub-ulp libm divergence
    // cannot migrate a boundary doc between buckets. The global ntile is
    // the verification form; the 100 TB path thresholds against
    // approxQuantiles cutpoints instead of a global sort (documented in
    // Graft.approxQuantiles).
    Q("q_perplexity_buckets",
      (s, dir) => {
        val scored = graft.functions.TextFunctions.bigramLogProb(
            T(s, dir, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("bigram_e4").as("lp_e4"))
        val w = Window.orderBy(col("lp_e4").desc, col("doc_id"))
        scored.withColumn("b", ntile(3).over(w))
          .select(col("doc_id"), col("lp_e4"),
            when(col("b") === 1, "head").when(col("b") === 2, "middle")
              .otherwise("tail").as("bucket"))
      },
      Some {
        val lp = s"(${graft.functions.TextFunctions.lnPolySql("c2 + 1")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("c1 + vocab")})"
        val q = s"CAST(floor($lp * 1000000.0 + 0.5) AS BIGINT)"
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |uni AS (SELECT doc_id, unnest(toks) AS w FROM t),
           |c1 AS (SELECT w AS w1, count(*) AS c1 FROM uni GROUP BY 1),
           |voc AS (SELECT count(*) AS vocab FROM c1),
           |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |  i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
           |btf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY 1, 2),
           |c2 AS (SELECT bg, sum(tf) AS c2 FROM btf GROUP BY 1),
           |sc AS (SELECT btf.doc_id,
           |CAST(floor(((CAST(sum(tf * $q) AS DOUBLE) / 1000000.0) / CAST(sum(tf) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS lp_e4
           |  FROM btf JOIN c2 USING (bg)
           |  JOIN c1 ON c1.w1 = string_split(bg, ' ')[1], voc
           |  GROUP BY btf.doc_id),
           |nt AS (SELECT doc_id, lp_e4, ntile(3) OVER (ORDER BY lp_e4 DESC, doc_id) AS b FROM sc)
           |SELECT doc_id, lp_e4,
           |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
           |FROM nt""".stripMargin
      }),

    // Zipf slope of the corpus frequency spectrum: OLS fit of ln(freq) on
    // ln(rank) — the sanity statistic for whether a corpus has a natural
    // long tail (natural text ~ -1; synthetic/templated corpora flatten).
    // Per-term ln products are cast to DECIMAL(28,10) before summing, so
    // the four regression sums are order-independent EXACT decimals and
    // the closed-form slope is computed once from identical values on both
    // engines.
    Q("q_zipf_slope",
      (s, dir) => {
        val c = T(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val r = c.select(col("c"),
          row_number().over(Window.orderBy(col("c").desc, col("w"))).as("rank"))
        val lx = graft.functions.TextFunctions.lnPoly(col("rank"))
        val ly = graft.functions.TextFunctions.lnPoly(col("c"))
        val sums = r.agg(count(lit(1)).as("n"),
          sum(lx.cast("decimal(28,10)")).as("sx"), sum(ly.cast("decimal(28,10)")).as("sy"),
          sum((lx * lx).cast("decimal(28,10)")).as("sxx"),
          sum((lx * ly).cast("decimal(28,10)")).as("sxy"))
        val n = col("n").cast("double")
        val slope = (n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
          (n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
        sums.select(col("n").as("n_terms"), round(slope, 4).as("slope"),
          round((col("sy").cast("double") - slope * col("sx").cast("double")) / n, 4).as("intercept"))
      },
      Some {
        val lr = graft.functions.TextFunctions.lnPolySql("rank")
        val lc = graft.functions.TextFunctions.lnPolySql("c")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |uni AS (SELECT unnest(toks) AS w FROM t),
             |c AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
             |r AS (SELECT row_number() OVER (ORDER BY c DESC, w) AS rank, c FROM c),
           |s AS (SELECT count(*) AS n,
           |  sum(cast($lr AS DECIMAL(28,10))) AS sx,
           |  sum(cast($lc AS DECIMAL(28,10))) AS sy,
           |  sum(cast($lr * $lr AS DECIMAL(28,10))) AS sxx,
           |  sum(cast($lr * $lc AS DECIMAL(28,10))) AS sxy
           |  FROM r)
             |SELECT cast(n AS BIGINT) AS n_terms,
             |  round((n * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / (n * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 4) AS slope,
             |  round((sy::DOUBLE - (n * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / (n * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sx::DOUBLE) / n, 4) AS intercept
             |FROM s""".stripMargin
      }),

    // Collocation extraction by PMI LIFT: top-20 bigrams ranked by
    // p(w1 w2) / (p(w1) p(w2)), min count 5 — the phrase-mining signal
    // (NPMI/PMI) behind tokenizer-vocabulary and stop-phrase curation.
    // The gate ranks on the lift RATIO rather than its log: log is
    // monotonic (identical top-k) and the ratio is pure IEEE
    // integer-quotient arithmetic, so no libm call can perturb a boundary.
    // All four counts (bigram, two unigrams, totals) are exact BIGINTs;
    // numerator c_ab*U*U stays < 2^63 through sf0.1 (documented: the
    // 100 TB path divides in DOUBLE, where top-k by lift is equally
    // stable). Two shuffles total (unigram + bigram aggs; the unigram
    // model joins back broadcast); the top-20 is a TakeOrdered, never a
    // global sort.
    Q("q_collocations",
      (s, dir) => {
        val t = T(s, dir, "documents").select(tokens(col("text")).as("toks"))
        val uni = t.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val bg = t.select(explode(wordGrams(col("toks"), 2)).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c2"))
          .where(col("c2") >= 5)
        val tot = uni.agg(sum(col("c1")).as("u"))
        // bigram total counts ALL bigrams, not just the kept (c2 >= 5) ones
        val btot = t.select(explode(wordGrams(col("toks"), 2)).as("term"))
          .agg(count(lit(1)).as("btot"))
        bg.withColumn("w1", split(col("term"), " ").getItem(0))
          .withColumn("w2", split(col("term"), " ").getItem(1))
          .join(broadcast(uni.select(col("w").as("w1"), col("c1").as("ca"))), Seq("w1"))
          .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("cb"))), Seq("w2"))
          .crossJoin(broadcast(tot))
          .crossJoin(broadcast(btot))
          .select(col("term"), col("c2").as("n_pair"),
            round((col("c2") * col("u") * col("u")).cast("double") /
              (col("btot") * col("ca") * col("cb")).cast("double"), 6).as("lift"))
          .orderBy(col("lift").desc, col("term")).limit(20)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
             |uni AS (SELECT unnest(toks) AS w FROM t),
             |c1 AS (SELECT w, count(*)::BIGINT AS c1 FROM uni GROUP BY 1),
             |u AS (SELECT sum(c1)::BIGINT AS u FROM c1),
             |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
             |  i -> toks[i] || ' ' || toks[i+1])) AS term FROM t),
             |bt AS (SELECT count(*)::BIGINT AS btot FROM bg),
             |c2 AS (SELECT term, count(*)::BIGINT AS c2 FROM bg GROUP BY 1
             |  HAVING count(*) >= 5)
             |SELECT term, c2 AS n_pair,
             |  round((c2 * u.u * u.u)::DOUBLE /
             |    (bt.btot * ca.c1 * cb.c1)::DOUBLE, 6) AS lift
             |FROM c2 JOIN c1 ca ON ca.w = string_split(c2.term, ' ')[1]
             |JOIN c1 cb ON cb.w = string_split(c2.term, ' ')[2], u, bt
             |ORDER BY lift DESC, term LIMIT 20""".stripMargin)),

    // Embedding int8 scale-quantization: per-vector min/max affine map to
    // 0..255 — the storage/serving compression step of an embedding
    // pipeline. Pure IEEE arithmetic (no libm), so quantized codes match
    // the oracle EXACTLY; the gate carries scalar digests (sum + md5 of
    // the code string) because the driver's compare cannot hash list
    // columns. Row-local map — zero shuffle at any scale.
    Q("q_embed_quantize",
      (s, dir) => {
        val b = T(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("e"),
          array_min(col("embedding")).cast("double").as("mn"),
          array_max(col("embedding")).cast("double").as("mx"))
        val qv = when(col("mx") > col("mn"),
          transform(col("e"), x =>
            round((x.cast("double") - col("mn")) / ((col("mx") - col("mn")) / lit(255.0)), 0)
              .cast("int")))
          .otherwise(transform(col("e"), _ => lit(0)))
        // qv gets its own projection: a sibling `round(mn,6).as("mn")` in
        // the same select CAPTURES the lambda's col("mn") reference (lambda
        // bodies resolve late, against the projection's aliases), silently
        // quantizing against the rounded bounds — measured as +-1 code
        // flips on 4/500 vectors
        b.select(col("vec_id"), col("e"), col("mn"), col("mx"), qv.as("qv"))
          .select(col("vec_id"), size(col("e")).as("n_dims"),
            round(col("mn"), 6).as("mn"), round(col("mx"), 6).as("mx"),
            aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
            md5(array_join(transform(col("qv"), _.cast("string")), ",")).as("q_md5"))
      },
      Some("""WITH b AS (SELECT vec_id, embedding AS e,
             |  list_min(embedding)::DOUBLE AS mn, list_max(embedding)::DOUBLE AS mx
             |  FROM embeddings),
             |q AS (SELECT vec_id, mn, mx, len(e) AS n_dims,
             |  CASE WHEN mx > mn THEN
             |    list_transform(e, x -> cast(round((x::DOUBLE - mn) / ((mx - mn) / 255.0), 0) AS INT))
             |  ELSE list_transform(e, x -> 0) END AS qv
             |  FROM b)
             |SELECT vec_id, n_dims, round(mn, 6) AS mn, round(mx, 6) AS mx,
             |  cast(list_sum(qv) AS BIGINT) AS q_sum,
             |  md5(array_to_string(qv, ',')) AS q_md5
             |FROM q""".stripMargin)),

    // Deterministic NEGATIVE SAMPLING (contrastive-pair mining): 3
    // negatives per anchor doc, ids drawn from md5(anchor_j) mod n with a
    // +1 collision bump off the anchor — re-run-stable, no RNG state, and
    // the sampled ids join back for the negative's metadata through a
    // plain equi-join (never a cross join). Relies on the documents
    // table's dense 0..n-1 ids (the facade documents the contract).
    Q("q_negative_samples",
      (s, dir) => {
        val negs = graft.api.Graft.negativeSamples(
          T(s, dir, "documents"), "doc_id", k = 3)
        negs.join(T(s, dir, "documents").select(col("doc_id").as("neg_id"),
            col("source").as("neg_source")), Seq("neg_id"))
          .select(col("anchor_id"), col("j"), col("neg_id"), col("neg_source"))
      },
      Some("""WITH n AS (SELECT count(*) AS n_docs FROM documents),
             |c AS (SELECT d.doc_id AS anchor_id, j, n_docs,
             |  ('0x' || substr(md5(d.doc_id::VARCHAR || '_' || j::VARCHAR), 1, 7))::BIGINT
             |    % n_docs AS neg0
             |  FROM documents d, n, unnest(range(0, 3)) u(j)),
             |sm AS (SELECT anchor_id, j::BIGINT AS j,
             |  CASE WHEN neg0 = anchor_id THEN (neg0 + 1) % n_docs ELSE neg0 END AS neg_id
             |  FROM c)
             |SELECT sm.anchor_id, sm.j, sm.neg_id, d.source AS neg_source
             |FROM sm JOIN documents d ON d.doc_id = sm.neg_id""".stripMargin)),

    // Signed random projection (Johnson–Lindenstrauss / Achlioptas ±1
    // family): the 64-dim embedding, int8-quantized and centered exactly as
    // q_embed_quantize, projects to 8 dims through a DETERMINISTIC ±1 sign
    // matrix derived from md5("j_i") parity — the dimensionality-reduction
    // step that shrinks ANN index footprints 8x while preserving pairwise
    // distances to (1±eps). Everything after quantization is exact BIGINT
    // arithmetic (signed sums of int codes), so the projection is
    // bit-identical across engines, partition orders, and fold orders.
    // Row-local map, zero shuffle; the sign matrix is a compile-time
    // literal on the Spark side and 512 md5 calls amortized over the scan
    // on the oracle side.
    Q("q_random_projection",
      (s, dir) => {
        val R = 8; val D = 64
        val md = java.security.MessageDigest.getInstance("MD5")
        def sign(j: Int, i: Int): Long = {
          val hex = md.digest(s"${j}_${i}".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString.take(7)
          if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
        }
        val signs = typedLit((0 until R).map(j => (0 until D).map(i => sign(j, i))))
        val b = T(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("e"),
          array_min(col("embedding")).cast("double").as("mn"),
          array_max(col("embedding")).cast("double").as("mx"))
        val qv = when(col("mx") > col("mn"),
          transform(col("e"), x =>
            round((x.cast("double") - col("mn")) / ((col("mx") - col("mn")) / lit(255.0)), 0)
              .cast("long")))
          .otherwise(transform(col("e"), _ => lit(0L)))
        // qv in its own projection (the q_embed_quantize alias-capture note)
        val proj = transform(sequence(lit(0), lit(R - 1)), j =>
          aggregate(sequence(lit(0), lit(D - 1)), lit(0L), (acc, i) =>
            acc + (element_at(col("qv"), i + 1) - 128L) *
              element_at(element_at(signs, j + 1), i + 1)))
        b.select(col("vec_id"), qv.as("qv"))
          .select(col("vec_id"), proj.as("p"))
          .select(col("vec_id"),
            element_at(col("p"), 1).as("p0"), element_at(col("p"), 2).as("p1"),
            aggregate(col("p"), lit(0L), (a, x) => a + x).as("p_sum"),
            md5(array_join(transform(col("p"), _.cast("string")), ",")).as("p_md5"))
      },
      Some("""WITH b AS (SELECT vec_id, embedding AS e,
             |  list_min(embedding)::DOUBLE AS mn, list_max(embedding)::DOUBLE AS mx
             |  FROM embeddings),
             |q AS (SELECT vec_id,
             |  CASE WHEN mx > mn THEN
             |    list_transform(e, x -> cast(round((x::DOUBLE - mn) / ((mx - mn) / 255.0), 0) AS BIGINT))
             |  ELSE list_transform(e, x -> 0::BIGINT) END AS qv
             |  FROM b),
             |p AS (SELECT vec_id, list_transform(range(0, 8), j ->
             |  list_sum(list_transform(range(1, 65), i -> (qv[i] - 128) *
             |    (CASE WHEN ('0x' || substr(md5(j::VARCHAR || '_' || (i - 1)::VARCHAR), 1, 7))::BIGINT % 2 = 0
             |      THEN 1 ELSE -1 END)))) AS p
             |  FROM q)
             |SELECT vec_id, p[1]::BIGINT AS p0, p[2]::BIGINT AS p1,
             |  list_sum(p)::BIGINT AS p_sum,
             |  md5(array_to_string(p, ',')) AS p_md5
             |FROM p""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): per-doc mean token
    // log-likelihood ratio of a TARGET unigram model (here: lang='en'
    // docs — select multilingual raw data that reads like the English
    // target) over the raw-corpus model, both add-one smoothed on the raw
    // vocabulary. The corpus shuffles once (the shared tf agg); both
    // models are O(vocab) broadcast tables.
    Q("q_dsir_weights",
      (s, dir) => graft.functions.TextFunctions.dsirLogRatio(
          docTokens(s, dir),
          T(s, dir, "documents").where(col("lang") === "en").select(col("doc_id")),
          "doc_id", "term")
        .select(col("doc_id"), col("dsir_e4")),
      Some {
        // Per-term log-ratio via the engine-portable lnPoly (bit-exact
        // IEEE-only arithmetic — no libm; see TextFunctions.lnPoly) then
        // exact-integer quantize/sum; the declared output `dsir_e4` is an
        // all-integer column (mean ratio half-up at 1e-4), so no
        // cross-engine FP can reach the hash. The ln SQL is generated by
        // lnPolySql to mirror the Spark expression character-for-op.
        val lnA = graft.functions.TextFunctions.lnPolySql("coalesce(g.tcnt, 0) + 1")
        val lnB = graft.functions.TextFunctions.lnPolySql("ttot + vocab")
        val lnC = graft.functions.TextFunctions.lnPolySql("r.rcnt + 1")
        val lnD = graft.functions.TextFunctions.lnPolySql("rtot + vocab")
        val ratio = s"(($lnA - $lnB) - ($lnC - $lnD))"
        val q = s"CAST(floor($ratio * 1000000.0 + 0.5) AS BIGINT)"
        s"""WITH toks AS (SELECT doc_id,
           |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |raw AS (SELECT term, sum(tf) AS rcnt FROM tf GROUP BY 1),
           |tgt AS (SELECT t.term, sum(t.tf) AS tcnt FROM tf t
           |  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
           |rt AS (SELECT count(*) AS rtot FROM toks),
           |tt AS (SELECT sum(t.tf) AS ttot FROM tf t
           |  JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
           |voc AS (SELECT count(*) AS vocab FROM raw)
           |SELECT t.doc_id,
           |CAST(floor(((CAST(sum(t.tf * $q) AS DOUBLE) / 1000000.0) / CAST(sum(t.tf) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS dsir_e4
           |FROM tf t JOIN raw r USING (term) LEFT JOIN tgt g USING (term), rt, tt, voc
           |GROUP BY t.doc_id""".stripMargin
      }),

    Q("q_tfidf",
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val toks = docTokens(s, dir)
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.where(col("doc_id") < 25)
          .join(broadcast(dfc), "term")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            round(col("tf").cast("double") *
              (graft.functions.TextFunctions.lnPoly(col("n_docs") + 1) -
               graft.functions.TextFunctions.lnPoly(col("df") + 1)), 6)
              .as("tfidf"))
      },
      Some {
        val lnr = s"(${graft.functions.TextFunctions.lnPolySql("n_docs + 1")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("d.df + 1")})"
        s"""WITH toks AS (SELECT doc_id,
           |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT t.doc_id, t.term, t.tf, d.df,
           |round(t.tf::DOUBLE * $lnr, 6) AS tfidf
           |FROM tf t JOIN df d USING (term), n WHERE t.doc_id < 25""".stripMargin
      }),

    // BM25 top-20 for the fixed query {join, hash, scan}, k1=1.2 b=0.75.
    // Per-term contributions are summed in a FIXED order (one conditional
    // agg per term, then a literal 3-term add) because FP aggregation
    // merge order is scheduler-dependent; both engines evaluate the exact
    // same expression tree, so only the final ln/÷ rounding needs the
    // 6-place guard.
    Q("q_bm25",
      (s, dir) => {
        val toks = docTokens(s, dir)
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(sum("dl").as("sum_dl"), count(lit(1)).as("n_docs"))
        val qterms = Seq("join", "hash", "scan")
        val tf = toks.where(col("term").isin(qterms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
        // ln((n - df + 0.5)/(df + 0.5) + 1) == ln(2(n+1)) - ln(2df+1):
        // an integer-ratio identity, so the idf rides lnPoly (no libm)
        val idf = graft.functions.TextFunctions.lnPoly((col("n_docs") + 1) * 2) -
          graft.functions.TextFunctions.lnPoly(col("df") * 2 + 1)
        val contrib = idf * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        val perTerm = tf.join(broadcast(dfc), "term").join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("term"), contrib.as("c"))
        val termCol = (t: String) =>
          coalesce(sum(when(col("term") === t, col("c"))), lit(0.0))
        val scored = perTerm.groupBy("doc_id")
          .agg(termCol("join").as("c_join"), termCol("hash").as("c_hash"),
               termCol("scan").as("c_scan"))
          .select(col("doc_id"),
            round(col("c_join") + col("c_hash") + col("c_scan"), 6).as("score"))
        val top = scored.orderBy(col("score").desc, col("doc_id")).limit(20)
        top.withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      },
      Some {
        val idf = s"(${graft.functions.TextFunctions.lnPolySql("(n_docs + 1) * 2")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("d.df * 2 + 1")})"
        s"""WITH toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT sum(dl)::BIGINT AS sum_dl, count(*) AS n_docs FROM dl),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE term IN ('join', 'hash', 'scan') GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |per AS (SELECT t.doc_id, t.term,
             |  $idf *
             |  (t.tf::DOUBLE * 2.2) /
             |  (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 * (l.dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))) AS c
             |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id), stats),
             |scored AS (SELECT doc_id,
             |  round(coalesce(sum(CASE WHEN term = 'join' THEN c END), 0.0)
             |      + coalesce(sum(CASE WHEN term = 'hash' THEN c END), 0.0)
             |      + coalesce(sum(CASE WHEN term = 'scan' THEN c END), 0.0), 6) AS score
             |  FROM per GROUP BY doc_id),
             |ranked AS (SELECT doc_id, score,
             |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM scored)
             |SELECT doc_id, score, rank FROM ranked WHERE rank <= 20""".stripMargin
      }),

    // RECIPROCAL RANK FUSION (Cormack et al. 2009): the standard
    // score-free combiner for hybrid retrieval — here fusing the BM25
    // ranking (q_bm25's exact pipeline) with a raw term-frequency ranking
    // of the same query, rrf = sum over lists of 1/(60 + rank). Ranks are
    // exact integers from deterministic (rounded score, doc_id) orderings,
    // so the fusion adds two IEEE divisions per doc — engine-stable.
    // Scale shape: fusion always runs over top-k LISTS (k·#lists rows),
    // never corpora; both inputs end in a TakeOrdered.
    Q("q_rrf_fusion",
      (s, dir) => {
        val toks = docTokens(s, dir)
        val qterms = Seq("join", "hash", "scan")
        // list A: BM25 (identical pipeline to q_bm25)
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(sum("dl").as("sum_dl"), count(lit(1)).as("n_docs"))
        val tf = toks.where(col("term").isin(qterms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
        // ln((n - df + 0.5)/(df + 0.5) + 1) == ln(2(n+1)) - ln(2df+1):
        // an integer-ratio identity, so the idf rides lnPoly (no libm)
        val idf = graft.functions.TextFunctions.lnPoly((col("n_docs") + 1) * 2) -
          graft.functions.TextFunctions.lnPoly(col("df") * 2 + 1)
        val contrib = idf * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        val termCol = (t: String) =>
          coalesce(sum(when(col("term") === t, col("c"))), lit(0.0))
        val bm = tf.join(broadcast(dfc), "term").join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("term"), contrib.as("c"))
          .groupBy("doc_id")
          .agg(termCol("join").as("cj"), termCol("hash").as("ch"), termCol("scan").as("cs"))
          .select(col("doc_id"), round(col("cj") + col("ch") + col("cs"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .withColumn("ra", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("ra"))
        // list B: raw query-term frequency
        val tfr = tf.groupBy("doc_id").agg(sum(col("tf")).as("qtf"))
          .orderBy(col("qtf").desc, col("doc_id")).limit(20)
          .withColumn("rb", row_number().over(Window.orderBy(col("qtf").desc, col("doc_id"))))
          .select(col("doc_id"), col("rb"))
        bm.join(tfr, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            round(coalesce(lit(1.0) / (lit(60.0) + col("ra")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .withColumn("rank", row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      },
      Some {
        val idf = s"(${graft.functions.TextFunctions.lnPolySql("(n_docs + 1) * 2")} - " +
          s"${graft.functions.TextFunctions.lnPolySql("d.df * 2 + 1")})"
        s"""WITH toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
             |  FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT sum(dl)::BIGINT AS sum_dl, count(*) AS n_docs FROM dl),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE term IN ('join', 'hash', 'scan') GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |per AS (SELECT t.doc_id, t.term,
             |  $idf *
             |  (t.tf::DOUBLE * 2.2) /
             |  (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 * (l.dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))) AS c
             |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id), stats),
             |scored AS (SELECT doc_id,
             |  round(coalesce(sum(CASE WHEN term = 'join' THEN c END), 0.0)
             |      + coalesce(sum(CASE WHEN term = 'hash' THEN c END), 0.0)
             |      + coalesce(sum(CASE WHEN term = 'scan' THEN c END), 0.0), 6) AS score
             |  FROM per GROUP BY doc_id),
             |ra AS (SELECT doc_id, rank FROM (SELECT doc_id, score,
             |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM scored)
             |  WHERE rank <= 20),
             |qt AS (SELECT doc_id, sum(tf) AS qtf FROM tf GROUP BY 1),
             |rb AS (SELECT doc_id, rank FROM (SELECT doc_id, qtf,
             |  row_number() OVER (ORDER BY qtf DESC, doc_id) AS rank FROM qt)
             |  WHERE rank <= 20),
             |fused AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             |  round(coalesce(1.0 / (60.0 + ra.rank), 0.0)
             |      + coalesce(1.0 / (60.0 + rb.rank), 0.0), 6) AS rrf
             |  FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id)
             |SELECT doc_id, rrf, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
             |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
      }),

    // ---- corpus-level n-gram dedup, decontamination, repetition, mixing ----

    // duplicated word-5-gram inventory: the distributable shape of exact
    // substring dedup (what suffix-array dedup becomes in map-reduce form) —
    // every gram occurrence keyed by content hash, reduced to (distinct-doc,
    // total) counts, kept where the gram crosses document boundaries. At
    // 100 TB this is ONE shuffle on the gram hash with map-side partial
    // aggregation; no all-pairs anywhere, and the gram text itself never
    // shuffles (only its md5).
    Q("q_dup_ngrams",
      (s, dir) => grams5(s, dir)
        .groupBy(md5(col("g")).as("gh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_total"))
        .where(col("n_docs") >= 2),
      Some(s"""${gramSql(5)}
              |SELECT md5(g) AS gh, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
              |FROM g GROUP BY md5(g) HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    // per-document duplicated-span fraction: share of a doc's 5-gram
    // occurrences that also occur in ANOTHER document — the per-doc score
    // that drives drop/trim decisions in substring-level dedup. Gram hashes
    // join back to occurrences (two shuffles on the same key; AQE can keep
    // the second co-partitioned), then one per-doc reduction.
    Q("q_doc_dup_fraction",
      (s, dir) => {
        // "gram appears in another doc" == min(doc_id) != max(doc_id) over
        // the gram's partition: ONE shuffle on the gram hash (window)
        // instead of a count-distinct aggregate + join-back (three) —
        // measured 1.11 -> 0.21 s at sf0.1
        val g = grams5(s, dir).select(col("doc_id"), md5(col("g")).as("gh"))
        val w = Window.partitionBy("gh")
        g.select(col("doc_id"),
            (min(col("doc_id")).over(w) =!= max(col("doc_id")).over(w)).as("dup"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            round(sum(when(col("dup"), 1).otherwise(0)).cast("double") /
              count(lit(1)), 4).as("dup_frac"))
      },
      Some(s"""${gramSql(5)},
              |gh AS (SELECT doc_id, md5(g) AS gh FROM g),
              |nd AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM gh GROUP BY gh)
              |SELECT doc_id, count(*) AS n_grams,
              |  round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_frac
              |FROM gh JOIN nd USING (gh) GROUP BY doc_id""".stripMargin)),

    // ExactSubstr-style REWRITE (the removal counterpart of the
    // q_doc_dup_fraction score — cf. Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): drop every token
    // covered by a word-5-gram that also occurs in ANOTHER document, then
    // reassemble the text. This is the aggressive both-copies scrub; the
    // keep-one-copy policy is cleanCorpus's exact/near dedup. Scale shape:
    // the dup decision is ONE shuffle on the gram hash (same window as
    // q_doc_dup_fraction); what flows back to the text is only the per-doc
    // duplicated START POSITIONS — O(dup grams), not O(text) — on a
    // doc_id-co-partitioned join, so the 100 TB of text shuffles at most
    // once, on its own key. The position→token mask is a row-local
    // indexed-lambda filter (a gram at start p covers tokens [p, p+4]).
    Q("q_remove_dup_spans",
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        val g = toks.select(col("doc_id"),
          posexplode(wordGrams(col("toks"), 5)).as(Seq("pos", "g")))
        val w = Window.partitionBy(md5(col("g")))
        val starts = g
          .select(col("doc_id"), col("pos"),
            (min(col("doc_id")).over(w) =!= max(col("doc_id")).over(w)).as("dup"))
          .where(col("dup"))
          .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("starts"))
        toks.join(starts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("toks"),
            coalesce(col("starts"), array().cast("array<int>")).as("starts"))
          .select(col("doc_id"), col("toks"),
            filter(col("toks"), (_, i) =>
              !exists(col("starts"), p => p <= i && i <= p + 4)).as("kept"))
          .select(col("doc_id"),
            array_join(col("kept"), " ").as("clean_text"),
            size(col("toks")).as("n_tokens"),
            (size(col("toks")) - size(col("kept"))).as("n_removed"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos FROM t),
             |gh AS (SELECT doc_id, pos,
             |  md5(toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2] || ' ' ||
             |      toks[pos+3] || ' ' || toks[pos+4]) AS gh FROM g),
             |ndc AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM gh GROUP BY gh),
             |dup AS (SELECT h.doc_id, h.pos FROM gh h JOIN ndc USING (gh) WHERE ndc.nd >= 2),
             |sa AS (SELECT doc_id, list_sort(list(pos)) AS starts FROM dup GROUP BY doc_id),
             |j AS (SELECT t.doc_id, t.toks, coalesce(sa.starts, []) AS starts
             |  FROM t LEFT JOIN sa USING (doc_id)),
             |k AS (SELECT doc_id, toks,
             |  list_filter(toks, (x, i) -> len(list_filter(starts, p -> p <= i AND i <= p + 4)) = 0) AS kept
             |  FROM j)
             |-- DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
             |SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
             |  len(toks) AS n_tokens, len(toks) - len(kept) AS n_removed
             |FROM k""".stripMargin)),

    // benchmark decontamination: flag training docs sharing any 5-gram with
    // the held-out eval slice (doc_id % 7 == 0 stands in for the benchmark
    // set). The eval gram set is tiny next to the corpus, so it broadcasts:
    // the 100 TB side sees a map-only semi-join — no shuffle of the corpus,
    // which is exactly how train/test-overlap scrubs run in production.
    Q("q_decontaminate",
      (s, dir) => {
        val gd = grams5h(s, dir)
        val ev = gd.where(col("doc_id") % 7 === 0).select("gh").distinct()
        gd.where(col("doc_id") % 7 =!= 0)
          .join(broadcast(ev), Seq("gh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_eval_grams"))
      },
      Some(s"""${gramSql(5)},
              |gd AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g),
              |ev AS (SELECT DISTINCT gh FROM gd WHERE doc_id % 7 = 0)
              |SELECT doc_id, count(*) AS n_eval_grams FROM gd
              |WHERE doc_id % 7 <> 0 AND gh IN (SELECT gh FROM ev)
              |GROUP BY doc_id""".stripMargin)),

    // Contamination REPORT — the measurement counterpart of the
    // q_decontaminate scrub: for each EVAL document, the fraction of its
    // distinct 5-grams that appear anywhere in the training slice (the
    // number a benchmark card reports). Scale shape: both joins broadcast
    // the SMALL side — train grams semi-join the broadcast eval gram set
    // (map-only over the 100 TB side) down to the hit set, which is ≤ the
    // eval set and broadcasts back for the per-doc count.
    Q("q_contamination",
      (s, dir) => {
        val gd = grams5h(s, dir)
        val ev = gd.where(col("doc_id") % 7 === 0)
        val evGh = ev.select("gh").distinct()
        val hitGh = gd.where(col("doc_id") % 7 =!= 0).select("gh")
          .join(broadcast(evGh), Seq("gh"), "left_semi").distinct()
        val hits = ev.join(broadcast(hitGh), Seq("gh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        ev.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
          .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_grams"), 4).as("contaminated_frac"))
      },
      Some(s"""${gramSql(5)},
              |gd AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g),
              |ev AS (SELECT doc_id, gh FROM gd WHERE doc_id % 7 = 0),
              |tr AS (SELECT DISTINCT gh FROM gd WHERE doc_id % 7 <> 0),
              |hit AS (SELECT e.doc_id, count(*) AS n_hit FROM ev e
              |  WHERE e.gh IN (SELECT gh FROM tr) GROUP BY e.doc_id),
              |tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id)
              |SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
              |round(coalesce(h.n_hit, 0)::DOUBLE / t.n_grams, 4) AS contaminated_frac
              |FROM tot t LEFT JOIN hit h USING (doc_id)""".stripMargin)),

    // Gopher-style repetition quality metrics: duplicate-unigram fraction
    // and top-bigram fraction per document. The bigram mode goes through an
    // explode + two-level reduction rather than a per-row array histogram,
    // so a pathologically long document is spread across tasks instead of
    // needing to fit one executor as a single array.
    Q("q_repetition",
      (s, dir) => {
        val base = T(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val uni = base.select(col("doc_id"), size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"))
        val bg = base
          .select(col("doc_id"), explode(wordGrams(col("toks"), 2)).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("n_bigrams"))
        uni.join(bg, Seq("doc_id"))
          .select(col("doc_id"), col("n_tokens"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4)
              .as("dup_word_frac"),
            round(col("top_c").cast("double") / col("n_bigrams"), 4)
              .as("top_bigram_frac"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |uni AS (SELECT doc_id, len(toks) AS n_tokens,
             |  len(list_distinct(toks)) AS n_distinct FROM t),
             |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |  i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
             |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
             |bm AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams FROM bc GROUP BY doc_id)
             |SELECT uni.doc_id AS doc_id, n_tokens,
             |  round(1.0 - n_distinct::DOUBLE / n_tokens, 4) AS dup_word_frac,
             |  round(top_c::DOUBLE / n_bigrams, 4) AS top_bigram_frac
             |FROM uni JOIN bm ON uni.doc_id = bm.doc_id""".stripMargin)),

    // Winnowing fingerprints (MOSS): per-window minimum of char-5-gram
    // hashes with the rightmost-min tie rule — position-robust substring
    // fingerprints (any shared run >= k+w-1 chars guarantees a shared
    // selection), the local-similarity primitive bag-of-shingles minhash
    // lacks. The selection runs as a row-local JVM kernel (no shuffle —
    // see TextFunctions.winnowFingerprints for the O(L²) relational form
    // it replaced); the oracle replays it with an order-preserving
    // hash||reversed-pos string key under min(). Output: per-doc
    // fingerprint count + count of fingerprints shared with another doc
    // (the plagiarism signal).
    Q("q_winnow",
      (s, dir) => {
        // the fingerprint set feeds BOTH the share count and the join —
        // persist it once (SharedInputs) or the whole explode+min pipeline
        // runs twice (measured 10.6 -> 5.9 s at sf0.1)
        val fps = SharedInputs(s, dir, "winnowFps") {
          winnowFingerprints(T(s, dir, "documents"), "doc_id", "text", 5, 4)
        }
        val shared = fps.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
        fps.join(shared, Seq("h"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fp"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      },
      Some("""WITH g0 AS (SELECT doc_id, text, length(text) - 4 AS ng,
             |  unnest(range(1, length(text) - 3)) AS pos
             |  FROM documents WHERE length(text) - 4 >= 4),
             |g AS (SELECT doc_id, pos, ng,
             |  ('0x'||substr(md5(substr(text, pos::INT, 5)),1,15))::BIGINT AS h FROM g0),
             |wins AS (SELECT doc_id, pos, h,
             |  unnest(range(greatest(1, pos - 3), least(pos, ng - 3) + 1)) AS win FROM g),
             |sel AS (SELECT doc_id, win,
             |  min(lpad(h::VARCHAR, 19, '0') || lpad((999999 - pos)::VARCHAR, 6, '0')) AS s
             |  FROM wins GROUP BY doc_id, win),
             |fp AS (SELECT DISTINCT doc_id,
             |  (999999 - substr(s, 20, 6)::BIGINT) AS pos,
             |  substr(s, 1, 19)::BIGINT AS h FROM sel),
             |sh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM fp GROUP BY h)
             |SELECT doc_id, count(*) AS n_fp,
             |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared
             |FROM fp JOIN sh USING (h) GROUP BY doc_id""".stripMargin)),

    // overlapping token-window chunking (RAG / long-doc training prep):
    // each doc splits into windows of `size` tokens advancing by `stride`,
    // the final partial window kept iff it adds tokens. Pure builtin array
    // ops (sequence + slice + array_join) — stateless map, no shuffle, and
    // the chunk text is re-derivable so the oracle hashes it exactly.
    Q("q_chunk_docs",
      (s, dir) => {
        val size = 32; val stride = 24
        val base = T(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"), org.apache.spark.sql.functions.size(col("toks")).as("n"))
        base
          // chunk starts: 1, 1+stride, ... while start <= n (at least one)
          .select(col("doc_id"), col("toks"), col("n"),
            explode(sequence(lit(1),
              greatest(col("n") - (size - stride), lit(1)), lit(stride))).as("start"))
          .select(col("doc_id"), ((col("start") - 1) / stride).cast("long").as("chunk_id"),
            array_join(slice(col("toks"), col("start"), lit(size)), " ").as("chunk"))
          .select(col("doc_id"), col("chunk_id"),
            org.apache.spark.sql.functions.size(split(col("chunk"), " ")).cast("long").as("n_tokens"),
            md5(col("chunk")).as("chunk_h"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             |  len(string_split(text, ' ')) AS n FROM documents),
             |st AS (SELECT doc_id, toks,
             |  unnest(range(1, greatest(n - 8, 1) + 1, 24)) AS start FROM t),
             |c AS (SELECT doc_id, ((start - 1) // 24)::BIGINT AS chunk_id,
             |  list_aggregate(toks[start:start+31], 'string_agg', ' ') AS chunk FROM st)
             |SELECT doc_id, chunk_id,
             |  len(string_split(chunk, ' '))::BIGINT AS n_tokens, md5(chunk) AS chunk_h
             |FROM c""".stripMargin)),

    // CONTENT-DEFINED chunking (CDC): boundaries where the rolling 3-gram
    // polynomial hash ≡ 0 (mod 4), so chunk identity survives token
    // insertions that would re-align every fixed-stride window — see
    // TextFunctions.cdcChunks. Stateless row-local map, no shuffle. The
    // oracle derives the same cuts relationally (gram-hash filter →
    // windowed cut count → ordered string_agg per chunk).
    Q("q_cdc_chunks",
      (s, dir) => {
        val toksDf = T(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        toksDf
          .select(col("doc_id"), posexplode(cdcChunksKernel(col("toks"))).as(Seq("k0", "chunk")))
          .select(col("doc_id"), (col("k0") + 1).cast("long").as("k"),
            col("chunk"), md5(col("chunk")).as("chunk_h"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |tok AS (SELECT doc_id, i AS pos, ts[i] AS tk FROM t,
             |  unnest(range(1, len(ts) + 1)) u(i)),
             |cut AS (SELECT doc_id, j + 3 AS pos FROM t,
             |  unnest(range(1, greatest(len(ts) - 2, 1))) u(j)
             |  WHERE j <= len(ts) - 3 AND list_reduce(list_prepend(0::BIGINT,
             |    list_transform(string_split(ts[j] || ' ' || ts[j+1] || ' ' || ts[j+2], ''),
             |      c -> ascii(c)::BIGINT)),
             |    (h, c) -> (h * 31 + c) % 1000000007) % 4 = 0),
             |ck AS (SELECT tok.doc_id, tok.pos, tok.tk,
             |  (1 + count(cut.pos) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos))::BIGINT AS k
             |  FROM tok LEFT JOIN cut ON cut.doc_id = tok.doc_id AND cut.pos = tok.pos),
             |c AS (SELECT doc_id, k, string_agg(tk, ' ' ORDER BY pos) AS chunk
             |  FROM ck GROUP BY doc_id, k)
             |SELECT doc_id, k, chunk, md5(chunk) AS chunk_h FROM c""".stripMargin)),

    // CDC chunk-level corpus dedup + reassembly (the paragraph-dedup shape
    // for a corpus without paragraph marks): each distinct chunk text keeps
    // only its first (doc_id, k) occurrence corpus-wide, and documents are
    // rebuilt from their surviving chunks — the CCNet-style
    // segment-granularity dedup between exact-doc dedup (too coarse) and
    // 5-gram span removal (q_remove_dup_spans, finer but not
    // shift-stable). ONE shuffle on the chunk text; reassembly is a
    // per-doc agg.
    Q("q_cdc_dedup",
      (s, dir) => {
        val toksDf = T(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        val chunks = toksDf
          .select(col("doc_id"), posexplode(cdcChunksKernel(col("toks"))).as(Seq("k0", "chunk")))
          .select(col("doc_id"), (col("k0") + 1).cast("long").as("k"), col("chunk"))
        val w = Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("k"))
        chunks
          .withColumn("rn", row_number().over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            count(when(col("rn") === 1, 1)).as("n_kept"),
            array_join(transform(
              sort_array(collect_list(when(col("rn") === 1, struct(col("k"), col("chunk"))))),
              r => r.getField("chunk")), " ").as("deduped_text"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |tok AS (SELECT doc_id, i AS pos, ts[i] AS tk FROM t,
             |  unnest(range(1, len(ts) + 1)) u(i)),
             |cut AS (SELECT doc_id, j + 3 AS pos FROM t,
             |  unnest(range(1, greatest(len(ts) - 2, 1))) u(j)
             |  WHERE j <= len(ts) - 3 AND list_reduce(list_prepend(0::BIGINT,
             |    list_transform(string_split(ts[j] || ' ' || ts[j+1] || ' ' || ts[j+2], ''),
             |      c -> ascii(c)::BIGINT)),
             |    (h, c) -> (h * 31 + c) % 1000000007) % 4 = 0),
             |ck AS (SELECT tok.doc_id, tok.pos, tok.tk,
             |  (1 + count(cut.pos) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos))::BIGINT AS k
             |  FROM tok LEFT JOIN cut ON cut.doc_id = tok.doc_id AND cut.pos = tok.pos),
             |c AS (SELECT doc_id, k, string_agg(tk, ' ' ORDER BY pos) AS chunk
             |  FROM ck GROUP BY doc_id, k),
             |r AS (SELECT doc_id, k, chunk,
             |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, k) AS rn FROM c)
             |SELECT doc_id, count(*)::BIGINT AS n_chunks,
             |  count(CASE WHEN rn = 1 THEN 1 END)::BIGINT AS n_kept,
             |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY k), '')
             |    AS deduped_text
             |FROM r GROUP BY doc_id""".stripMargin)),

    // sequence packing: assign docs to fixed token-budget training chunks
    // by exclusive prefix sum of token counts in doc_id order — through the
    // DISTRIBUTED two-phase scan (operators.PrefixSum), not the
    // single-partition Window.orderBy everyone writes first (which moves
    // the whole corpus to one task). seq_id = floor(cum_before / budget):
    // the document-level sharding that feeds tokenize-and-concat training
    // pipelines. The oracle is the window form — same answer, different
    // (non-scalable) plan.
    Q("q_pack_sequences",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.operators.PrefixSum.exclusive(toks, "doc_id", "n_tokens", 8)
          .select(col("doc_id"), col("n_tokens"),
            (col("cum") / 512).cast("long").as("seq_id"))
      },
      Some("""SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
             |((sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |  - len(string_split(text, ' '))) // 512)::BIGINT AS seq_id
             |FROM documents""".stripMargin)),

    // Deterministic corpus shuffle + packing: training order must be
    // reproducible across runs and engines, so the "shuffle" is a total
    // order on a hash key — md5-prefix composed with the id into a unique
    // long ((h << 32) | doc_id, collision-free by construction) — and the
    // running token sum packs over THAT order through the same two-phase
    // PrefixSum scan (range-partitioned sort, O(partitions) driver
    // partials). Re-running the pipeline yields byte-identical batches.
    Q("q_pack_shuffled",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val lens = T(s, dir, "documents").select(
          (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10).cast("long") *
            lit(4294967296L) + col("doc_id")).as("ord"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.operators.PrefixSum.exclusive(lens, "ord", "n_tokens", 8)
          .select((col("ord") % 4294967296L).as("doc_id"), col("ord"), col("n_tokens"),
            (col("cum") / 512).cast("long").as("seq_id"))
      },
      Some("""WITH lens AS (SELECT doc_id,
             |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT * 4294967296 + doc_id AS ord,
             |  len(string_split(text, ' '))::BIGINT AS n_tokens
             |  FROM documents)
             |SELECT doc_id, ord, n_tokens,
             |((sum(n_tokens) OVER (ORDER BY ord
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |  - n_tokens) // 512)::BIGINT AS seq_id
             |FROM lens""".stripMargin)),

    // Unicode normalization (the canonicalize-before-dedup step): NFC +
    // accent fold + casefold. The gate builds text with BOTH composed
    // (chr(233) = é) and decomposed (e + chr(769) combining acute)
    // spellings in-query, so it exercises the actual mark-stripping path —
    // JVM java.text.Normalizer and DuckDB's utf8proc implement the same
    // Unicode tables, and the length delta pins the removed-mark count.
    Q("q_normalize_text",
      (s, dir) => {
        // composed e-acute (U+00E9) AND a decomposed e + combining acute
        // (U+0301) below — byte-identical to the oracle chr() construction
        val raw = concat(lit("CAFé é "), substring(col("text"), 1, 24))
        T(s, dir, "documents").select(col("doc_id"),
          length(raw).as("n_raw"),
          length(normalizeUdf(raw)).as("n_norm"),
          substring(md5(normalizeUdf(raw)), 1, 8).as("norm_sig"))
      },
      Some("""SELECT doc_id,
             |length('CAF' || chr(233) || ' e' || chr(769) || ' ' || substr(text, 1, 24)) AS n_raw,
             |length(lower(strip_accents('CAF' || chr(233) || ' e' || chr(769) || ' ' || substr(text, 1, 24)))) AS n_norm,
             |substring(md5(lower(strip_accents('CAF' || chr(233) || ' e' || chr(769) || ' ' || substr(text, 1, 24)))), 1, 8) AS norm_sig
             |FROM documents""".stripMargin)),

    // end-to-end gate for the cleanCorpus FACADE itself (exact dedup
    // keep-min -> quality gate -> PII redaction composed in one plan):
    // the pieces are individually gated (q_dedup_exact, q_stream_quality's
    // filter rule, q_redact), this pins their composition — the oracle
    // rebuilds the whole pipeline in SQL and hashes the redacted survivors.
    Q("q_clean_corpus",
      (s, dir) => graft.api.Graft.cleanCorpus(T(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), substring(md5(col("text")), 1, 8).as("clean_sig")),
      Some("""WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
             |q AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)
             |  WHERE len(string_split(d.text, ' ')) >= 20
             |  AND len(list_filter(string_split(d.text, ' '),
             |    w -> w IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
             |    / len(string_split(d.text, ' ')) <= 0.5)
             |SELECT doc_id, substring(md5(regexp_replace(regexp_replace(text,
             |  '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
             |  '[0-9]+', '<num>', 'g')), 1, 8) AS clean_sig
             |FROM q""".stripMargin)),

    // one-call corpus summary: the numbers a pipeline owner looks at before
    // anything else (volume, exact-dup rate, language spread), as ONE
    // declarative plan — a single scan feeding count/countDistinct plus a
    // tiny per-lang agg for the top language (ties to the lexicographically-
    // greatest lang, same rule both engines). Every aggregate is integer-exact except dup_frac's final
    // division (rounded identically on both engines).
    Q("q_corpus_report",
      (s, dir) => {
        val d = T(s, dir, "documents")
        val overall = d.agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          countDistinct(col("lang")).as("n_langs"))
        val top = d.groupBy("lang").agg(count(lit(1)).as("c"))
          .agg(max(struct(col("c"), col("lang"))).as("m"))
          .select(col("m.lang").as("top_lang"), col("m.c").as("top_lang_docs"))
        overall.crossJoin(broadcast(top))
          .select(col("n_docs"), col("n_tokens"), col("n_distinct_texts"),
            round(lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs"), 4)
              .as("dup_frac"),
            col("n_langs"), col("top_lang"), col("top_lang_docs"))
      },
      Some("""WITH o AS (SELECT count(*) AS n_docs,
             |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
             |  count(DISTINCT md5(text)) AS n_distinct_texts,
             |  count(DISTINCT lang) AS n_langs FROM documents),
             |t AS (SELECT lang AS top_lang, count(*) AS top_lang_docs FROM documents
             |  GROUP BY lang ORDER BY count(*) DESC, lang DESC LIMIT 1)
             |SELECT n_docs, n_tokens, n_distinct_texts,
             |  round(1.0 - n_distinct_texts::DOUBLE / n_docs, 4) AS dup_frac,
             |  n_langs, top_lang, top_lang_docs
             |FROM o, t""".stripMargin)),

    // temperature-scaled source-mixing weights (alpha = 0.5 via sqrt, which
    // is IEEE-correctly-rounded, so both engines agree bit-for-bit): per-
    // source token mass -> w_s proportional to sqrt(tokens), normalized. The
    // normalizer folds the per-source terms in ascending-sorted order on
    // both engines so the FP sum is order-identical; the grouped frame is
    // one row per source, so the normalizer is a 1-row broadcast.
    Q("q_domain_mix",
      (s, dir) => {
        val agg = T(s, dir, "documents").groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
          .withColumn("w", sqrt(col("n_tokens").cast("double")))
        val tot = agg.agg(
          aggregate(sort_array(collect_list(col("w"))), lit(0.0), _ + _).as("tot"))
        agg.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("w") / col("tot"), 4).as("mix_weight"))
      },
      Some("""WITH a AS (SELECT source, count(*) AS n_docs,
             |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
             |  FROM documents GROUP BY source),
             |w AS (SELECT source, n_docs, n_tokens, sqrt(n_tokens::DOUBLE) AS w FROM a),
             |t AS (SELECT list_reduce(list_prepend(0.0, list_sort(list(w))),
             |  (x, y) -> x + y) AS tot FROM w)
             |SELECT source, n_docs, n_tokens, round(w / tot, 4) AS mix_weight
             |FROM w, t""".stripMargin))
  )

  // LSH geometry for the DECLARED demo queries: 4 bands x 8 sign bits.
  // Multi-band is the structural fix (the round-1 single fixed band had no
  // recall lever and one hot bucket killed it); the per-band bucket space is
  // the parameter — the library default (SimilarityFunctions.lshTopK) is
  // 16 bits for 100 TB skew resistance, while the 500-vector near-orthogonal
  // test corpus needs 8 bits to produce any collisions at all (P ~ 2^-bits).
  // `final val` so they are compile-time constants — `queries` above
  // initializes first and would otherwise read 0.
  private final val Bands = 4
  private final val Bits = 8

  /** SQL for the per-band sign buckets b0..b{Bands-1}. */
  private def bandCols(e: String): String =
    (0 until Bands).map { b =>
      val bits = (0 until Bits)
        .map(k => s"CASE WHEN $e[${b * Bits + k + 1}] > 0 THEN ${1L << k} ELSE 0 END")
        .mkString(" + ")
      s"$bits AS b$b"
    }.mkString(", ")

  /** SQL: rows match when any band's buckets agree. */
  private def bandMatch(x: String, y: String): String =
    (0 until Bands).map(b => s"$x.b$b = $y.b$b").mkString(" OR ")

  /** Shared cosine-top-k oracle; dot product as an index fold with the same
    * left-to-right order as the Spark `aggregate` fold. */
  private def cosineSql(withBucket: Boolean): String = {
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 65), k -> cast($a[k] AS DOUBLE) * cast($b[k] AS DOUBLE)))"
    val bucketCol = if (withBucket) s", ${bandCols("embedding")}" else ""
    val bucketCond = if (withBucket) s"AND (${bandMatch("q", "c")})" else ""
    s"""WITH v AS (SELECT vec_id, embedding$bucketCol FROM embeddings),
       |q AS (SELECT * FROM v WHERE vec_id < 5),
       |scored AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
       |  round(${dot("q.embedding", "c.embedding")} /
       |    (sqrt(${dot("q.embedding", "q.embedding")}) * sqrt(${dot("c.embedding", "c.embedding")})), 6) AS cos
       |  FROM q JOIN v c ON q.vec_id != c.vec_id $bucketCond),
       |ranked AS (SELECT qid, vec_id, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored)
       |SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= 3""".stripMargin
  }
}
