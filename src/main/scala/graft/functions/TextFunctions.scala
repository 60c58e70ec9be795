package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: language
  * ID, quality scoring, token counting, fingerprinting, minhash/simhash.
  *
  * These have no counterpart in the reference (it is purely numeric); they
  * are the beyond-reference surface required by BASELINE.json's north star.
  * Everything here is built from `functions._` expressions — no UDFs — and
  * scales as narrow per-row maps (no shuffle). The plain expressions are
  * codegen'd; the lambda paths (`transform`, `aggregate`, `filter`, ...)
  * are not: every Spark 4.1.2 higher-order function is `CodegenFallback`,
  * so a lambda is evaluated interpreted, one call per element.
  */
object TextFunctions {

  /** Whitespace tokenization — the shared convention for every op below. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram occurrences of a token array, in document order and
    * NON-distinct — the occurrence-level stream corpus dedup and
    * decontamination reduce over ([[shingles]] is the distinct,
    * signature-oriented variant). `transform`'s index lambda walks start
    * positions; `get` (0-based) pulls the following tokens; the
    * `greatest(_, 0)` guard makes short docs yield an empty array.
    *
    * IMPORTANT: pass a MATERIALIZED token-array column (project
    * `tokens(text).as("toks")` first), not an inline `tokens(text)`:
    * `toks` is referenced from inside the lambda, where codegen does not
    * hoist outer subexpressions — an inline split re-tokenizes the text
    * per gram element, turning the explode O(n²) (measured 4-5x on the
    * streaming decontamination drain). */
  def wordGrams(toks: Column, n: Int): Column =
    transform(slice(toks, lit(1), greatest(size(toks) - (n - 1), lit(0))),
      (t, i) => concat_ws(" ", t +: (1 until n).map(j => get(toks, i + lit(j))): _*))

  /** Distinct word shingles of width `n`, joined by spaces.
    *
    * The token array binds as a LAMBDA VARIABLE of a 1-element outer
    * `transform` (evaluated once per row) rather than as an outer
    * subexpression referenced from inside the inner lambda — codegen does
    * not hoist the latter, so the plain form re-splits the text per shingle
    * element (the wordGrams O(n²) trap, kept fixable here without changing
    * the text-in/Column-out signature). */
  def shingles(text: Column, n: Int): Column =
    element_at(transform(array(tokens(text)), t =>
      array_distinct(transform(
        sequence(lit(0), size(t) - lit(n)),
        i => concat_ws(" ", (0 until n).map(k => get(t, i + lit(k))): _*)))), 1)

  /** MinHash component for one seed: the minimum md5 digest over distinct
    * tokens of `seed|token`. String-min over lowercase hex is a total order
    * identical across engines, making signatures oracle-checkable.
    *
    * NOTE: token-level minhash degenerates on small vocabularies (every doc
    * contains nearly every word, so buckets collapse); use the shingle
    * variant for LSH blocking at scale. */
  def minhash(text: Column, seed: Int): Column =
    array_min(transform(array_distinct(tokens(text)),
      w => md5(concat(lit(s"$seed|"), w))))

  /** MinHash over distinct word n-gram shingles — the standard near-dup
    * signature. Shingle space is large, so LSH buckets stay small and the
    * candidate-pair self-join scales linearly with true near-dups. */
  def minhashShingle(text: Column, n: Int, seed: Int): Column =
    array_min(transform(shingles(text, n),
      s => md5(concat(lit(s"$seed|"), s))))

  /** k-component shingle-MinHash signature as columns mh0..mh{k-1}. */
  def minhashSignature(text: Column, k: Int, shingleWidth: Int = 3): Seq[(String, Column)] =
    (0 until k).map(i => s"mh$i" -> minhashShingle(text, shingleWidth, i))

  /** 16-bit SimHash from per-token md5 digests: bit b is set when the
    * majority of tokens have hex digit b of md5(token) >= '8' (top bit of
    * the nibble). Pure expression, so portable; its `transform`/`aggregate`
    * lambdas are evaluated interpreted, one call per token. */
  def simhash16(text: Column): Column = {
    val t = tokens(text)
    (0 until 16).map { b =>
      val votes = aggregate(
        transform(t, w => when(substring(md5(w), b + 1, 1) >= "8", 1).otherwise(-1)),
        lit(0), (acc, x) => acc + x)
      when(votes > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Document fingerprint: md5 of the sorted distinct token set — an
    * order-insensitive content hash (bag-of-words identity). */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  // ---------- single-pass JVM kernels for the hot signature ops ----------
  // Spark's higher-order array functions (transform/filter/aggregate) are
  // interpreted, not codegen'd; for md5-per-shingle workloads a tight JVM
  // loop is ~10x faster while producing byte-identical results (same UTF-8
  // md5, same shingle strings). These are the "fast backend" of the
  // expression variants above, mirroring the reference's Cython-vs-Scipy
  // dispatch (/root/reference/imops/backend.py).

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue() = java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  private def md5Hex(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def shingleSet(text: String, width: Int): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < width) Array.empty
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + width <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var k = 1
        while (k < width) { sb.append(' ').append(toks(i + k)); k += 1 }
        seen.add(sb.toString); i += 1
      }
      val out = new Array[String](seen.size)
      seen.toArray(out)
    }
  }

  /** k shingle-minhash components in one pass; null-safe empty -> nulls. */
  val minhashSigUdf = org.apache.spark.sql.functions.udf {
    (text: String, k: Int, width: Int) =>
      val sh = shingleSet(text, width)
      (0 until k).map { seed =>
        if (sh.isEmpty) null
        else {
          var min: String = null
          var i = 0
          while (i < sh.length) {
            val h = md5Hex(s"$seed|${sh(i)}")
            if (min == null || h < min) min = h
            i += 1
          }
          min
        }
      }
  }

  /** Distinct width-gram shingles (first-occurrence order). */
  val shinglesUdf = org.apache.spark.sql.functions.udf {
    (text: String, width: Int) => shingleSet(text, width).toSeq
  }

  /** 16-bit simhash over (non-distinct) tokens, one md5 per token. */
  val simhash16Udf = org.apache.spark.sql.functions.udf { (text: String) =>
    val toks = text.split(" ", -1)
    val votes = new Array[Int](16)
    toks.foreach { w =>
      val h = md5Hex(w)
      var b = 0
      while (b < 16) { if (h.charAt(b) >= '8') votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var v = 0
    var b = 0
    while (b < 16) { if (votes(b) > 0) v |= 1 << b; b += 1 }
    v
  }

  /** PII-style redaction for corpus cleaning: email-shaped spans then digit
    * runs are replaced with typed placeholders. The patterns use only
    * character classes + greedy `+` — the regex subset where Java
    * (Spark) and RE2 (DuckDB) semantics coincide, so the redacted text is
    * engine-independent and oracle-able. */
  /** Per-document unigram LM log-probability — the corpus-LM quality
    * signal (CCNet-style filtering: documents whose tokens are improbable
    * under a language model trained on the corpus itself score low).
    * Model: add-one-smoothed unigram over the corpus token stream,
    * p(term) = (count+1)/(total+vocab); score(doc) = Σ tf·ln p / Σ tf
    * (token-mass-weighted mean). Takes the shared (doc, term) occurrence
    * frame; two one-shuffle aggs plus broadcast joins of the O(vocab)
    * count table — no per-doc state beyond the hash agg. */
  def unigramLogProb(toks: org.apache.spark.sql.DataFrame,
                     docIdCol: String, termCol: String): org.apache.spark.sql.DataFrame = {
    val tf = toks.groupBy(col(docIdCol), col(termCol)).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col(termCol)).agg(sum(col("tf")).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("total"))
    val voc = cnt.agg(count(lit(1)).as("vocab"))
    // the dsirLogRatio determinism convention, r8 form: the per-term
    // log-prob comes from [[lnPoly]] (bit-exact cross-engine, no libm —
    // the quantize-a-libm-ln form this replaces is exactly what
    // hash-failed q_dsir_weights two rounds running), quantizes to 1e-6
    // exact BIGINT, and the tf-weighted per-doc sum runs in exact
    // integers (order-independent under any partitioning). `lm_e4` is
    // the all-integer reporting column (mean half-up at 1e-4).
    val lp = lnPoly(col("cnt") + 1) - lnPoly(col("total") + col("vocab"))
    val q = floor(lp * lit(1000000.0) + lit(0.5)).cast("long")
    tf.join(broadcast(cnt), termCol)
      .crossJoin(broadcast(tot)).crossJoin(broadcast(voc))
      .groupBy(col(docIdCol))
      .agg(sum(col("tf") * q).as("sum_tfq"), sum(col("tf")).as("sum_tf"))
      .select(col(docIdCol),
        floor(((col("sum_tfq").cast("double") / lit(1000000.0)) /
          col("sum_tf").cast("double")) * lit(10000.0) + lit(0.5)).cast("long")
          .as("lm_e4"))
      .withColumn("lm_logprob", col("lm_e4").cast("double") / lit(10000.0))
  }

  /** Bigram-LM quality score (the conditional counterpart of
    * [[unigramLogProb]], the CCNet perplexity-bucketing signal): per-doc
    * mean ln P(w2|w1) with P = (c(w1 w2)+1) / (c(w1)+V), bigram counts
    * add-one smoothed over the unigram vocabulary. Scale shape: the corpus
    * shuffles once into the per-doc bigram tf agg; the corpus bigram count
    * is a WINDOW sum over the same bg partition (no second shuffle, no
    * broadcast of the huge bigram table); the unigram model is an O(vocab)
    * broadcast. */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame,
                    idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val c1 = base.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val voc = c1.agg(count(lit(1)).as("vocab"))
    val btf = base.select(col(idCol), explode(wordGrams(col("toks"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bg")
    // same lnPoly + 1e-6 quantize + exact-integer tf-weighted sum as
    // [[unigramLogProb]]/[[dsirLogRatio]] (order-independent per-doc
    // score, zero libm in the hash path); `bigram_e4` is the all-integer
    // reporting column
    val lp = lnPoly(col("c2") + 1) - lnPoly(col("c1") + col("vocab"))
    val q = floor(lp * lit(1000000.0) + lit(0.5)).cast("long")
    btf.withColumn("c2", sum(col("tf")).over(w))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(broadcast(c1), "w1")
      .crossJoin(broadcast(voc))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * q).as("sum_tfq"), sum(col("tf")).as("sum_tf"))
      .select(col(idCol),
        floor(((col("sum_tfq").cast("double") / lit(1000000.0)) /
          col("sum_tf").cast("double")) * lit(10000.0) + lit(0.5)).cast("long")
          .as("bigram_e4"))
      .withColumn("bigram_logprob", col("bigram_e4").cast("double") / lit(10000.0))
  }

  /** Engine-portable natural log of a POSITIVE integral column
    * (1 ≤ n < 2⁵³), built ONLY from operations that are bit-exact across
    * engines — no libm anywhere:
    *   - the exponent e = ⌊log₂ n⌋ comes from the binary-string length
    *     (`bin()` has identical unpadded semantics in Spark and DuckDB —
    *     an exact integer computation),
    *   - the mantissa m = n / 2ᵉ ∈ [1,2) is an exact power-of-two
    *     division,
    *   - ln(m) is the explicit atanh series 2z(1 + z²/3 + z⁴/5 + …) in
    *     z = (m−1)/(m+1) (|z| < 1/3, truncation < 1e-8), Horner-nested
    *     with literal coefficients,
    *   - ln n = e·ln2 + ln(m) with the ln2 literal.
    * IEEE-754 +,−,×,÷ are correctly rounded, so any engine evaluating the
    * SAME expression tree over the SAME integers produces the SAME double
    * bit pattern — unlike libm `ln`, whose last ULP differs across libm /
    * DuckDB builds (the r6/r7 `q_dsir_weights` hash failures: a 1-ULP ln
    * difference flips a 1e-6 quantization boundary). [[lnPolySql]] is the
    * character-for-character DuckDB replay; association and literals must
    * stay identical in both. */
  def lnPoly(n: Column): Column = {
    val e = (length(bin(n.cast("long"))) - 1).cast("int")
    val p2 = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.catalyst.expressions.Literal(1L),
        org.apache.spark.sql.GraftColumnBridge.expression(e)))
    val m = n.cast("double") / p2.cast("double")
    val z = (m - lit(1.0)) / (m + lit(1.0))
    val z2 = z * z
    val poly = lit(1.0) + z2 * (lit(0.3333333333333333) + z2 * (lit(0.2) + z2 *
      (lit(0.14285714285714285) + z2 * (lit(0.1111111111111111) + z2 *
      (lit(0.09090909090909091) + z2 * lit(0.07692307692307693))))))
    e.cast("double") * lit(0.6931471805599453) + lit(2.0) * z * poly
  }

  /** The DuckDB SQL mirror of [[lnPoly]] — same sub-expressions, same
    * association, same literals, so both engines produce bit-identical
    * doubles. `n` is an SQL expression string for a positive BIGINT. */
  def lnPolySql(n: String): String = {
    val e = s"(length(bin(CAST(($n) AS BIGINT))) - 1)"
    val m = s"(CAST(($n) AS DOUBLE) / CAST((1::BIGINT << $e) AS DOUBLE))"
    val z = s"(($m - 1.0) / ($m + 1.0))"
    val z2 = s"($z * $z)"
    val poly = s"(1.0 + $z2 * (0.3333333333333333 + $z2 * (0.2 + $z2 * " +
      s"(0.14285714285714285 + $z2 * (0.1111111111111111 + $z2 * " +
      s"(0.09090909090909091 + $z2 * 0.07692307692307693))))))"
    s"(CAST($e AS DOUBLE) * 0.6931471805599453 + 2.0 * $z * $poly)"
  }

  /** DSIR-style importance log-ratio (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * token-mass-weighted mean log-likelihood ratio between a TARGET unigram
    * model (docs in `targetIds`) and the RAW-corpus unigram model, both
    * add-one smoothed over the raw vocabulary. Positive = reads more like
    * the target than the corpus average; resampling ∝ exp(weight) (or
    * thresholding the ratio) is the published selection rule. Scale shape:
    * the corpus shuffles once into the (doc, term) tf agg (shared with
    * [[unigramLogProb]]); both models are O(vocab) count tables that join
    * back by broadcast, so the 100 TB side never re-shuffles.
    *
    * Determinism: every per-term log-ratio is computed with [[lnPoly]]
    * (bit-exact cross-engine — no libm), quantized to 1e-6 as an exact
    * BIGINT, and accumulated tf-weighted in exact integer arithmetic
    * (order-independent under any partitioning). The reported weight is
    * `dsir_e4` = the mean ratio half-up-rounded at 1e-4 as a BIGINT —
    * an all-integer output column that cannot drift across engines —
    * plus the `dsir_logratio` double convenience (= dsir_e4 / 1e4). */
  def dsirLogRatio(toks: org.apache.spark.sql.DataFrame,
                   targetIds: org.apache.spark.sql.DataFrame,
                   docIdCol: String, termCol: String): org.apache.spark.sql.DataFrame = {
    val tf = toks.groupBy(col(docIdCol), col(termCol)).agg(count(lit(1)).as("tf"))
    val tgtTf = tf.join(targetIds.select(col(docIdCol)), Seq(docIdCol), "left_semi")
    val rawCnt = tf.groupBy(col(termCol)).agg(sum(col("tf")).as("rcnt"))
    val tgtCnt = tgtTf.groupBy(col(termCol)).agg(sum(col("tf")).as("tcnt"))
    val rawTot = toks.agg(count(lit(1)).as("rtot"))
    val tgtTot = tgtTf.agg(sum(col("tf")).as("ttot"))
    val voc = rawCnt.agg(count(lit(1)).as("vocab"))
    val stats = rawCnt.join(tgtCnt, Seq(termCol), "left").na.fill(0L, Seq("tcnt"))
    val ratio =
      (lnPoly(col("tcnt") + 1) - lnPoly(col("ttot") + col("vocab"))) -
      (lnPoly(col("rcnt") + 1) - lnPoly(col("rtot") + col("vocab")))
    val qRatio = floor(ratio * lit(1000000.0) + lit(0.5)).cast("long")
    tf.join(broadcast(stats), termCol)
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot)).crossJoin(broadcast(voc))
      .groupBy(col(docIdCol))
      .agg(sum(col("tf") * qRatio).as("sum_tfq"), sum(col("tf")).as("sum_tf"))
      .select(col(docIdCol),
        floor(((col("sum_tfq").cast("double") / lit(1000000.0)) /
          col("sum_tf").cast("double")) * lit(10000.0) + lit(0.5)).cast("long")
          .as("dsir_e4"))
      .withColumn("dsir_logratio", col("dsir_e4").cast("double") / lit(10000.0))
  }

  /** One BPE merge applied greedily left-to-right: every non-overlapping
    * adjacent occurrence of (a, b) becomes the fused symbol a+b, scanning
    * from the left and consuming two symbols per match — the classic
    * byte-pair-encoding application rule. Row-local, O(|word|). */
  def bpeMergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toSeq
  }
  val bpeMergeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(bpeMergePair _)

  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>"),
      "[0-9]+", "<num>")

  /** Fraction of tokens found in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isin(stopwords: _*))).cast("double") / size(t)
  }

  /** Mean token length (chars), derived without re-tokenizing:
    * (chars - separators) / tokens. */
  def avgWordLen(text: Column): Column = {
    val n = tokenCount(text)
    (length(text) - (n - lit(1))).cast("double") / n
  }

  /** Language-ID by stopword voting over per-language marker lists; returns
    * the language with the most marker hits (ties broken by language code
    * order). Lists are tiny and inlined into the codegen'd expression. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "un", "est"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo", "you", "he"))

  def langId(text: Column): Column = {
    val t = tokens(text)
    val scored = langMarkers.zipWithIndex.map { case ((lang, ws), idx) =>
      struct(size(filter(t, w => w.isin(ws: _*))).as("score"),
             lit(-idx).as("tb"), lit(lang).as("lang"))
    }
    // greatest(struct(score, tiebreak, lang)) — max score wins; stable tie-break
    greatest(scored: _*).getField("lang")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS local-
    * similarity scheme): hash every character k-gram, slide a w-wide
    * window, select each window's minimum hash (rightmost on ties). The
    * selected set is position-robust — any match of length >= k+w-1
    * guarantees a shared fingerprint — which is what substring-level
    * plagiarism/duplication detection needs and bag-of-shingles minhash
    * can't give. Returns distinct (id, pos, h) selections.
    *
    * Plan shape: the per-document selection is row-local, so it runs as a
    * single-pass JVM kernel (same fast-backend idiom as minhashSigUdf —
    * the first cut computed gram hashes relationally with `substr(t, pos,
    * k)`, whose per-call codepoint scan made the gram pass O(L²)/doc and
    * cost ~9 s at sf0.1; the kernel is one O(L·w) pass, ~0.5 s) followed by
    * an explode — NO shuffle at all: a stateless map over the corpus, the
    * ideal 100 TB shape. Grams are codepoint-based (matching SQL substr
    * semantics); a position is selected iff it is the rightmost minimum of
    * some window, so selections are distinct by construction. */
  def winnowFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        explode(winnowUdf(col(textCol), lit(k), lit(w))).as("fp"))
      .select(col(idCol), col("fp.pos").as("pos"), col("fp.h").as("h"))

  /** Unicode normalization for the cleaning stack: NFC compose, strip
    * combining marks (accent fold), lowercase — the canonicalization that
    * runs BEFORE any hash-based dedup so that composed and decomposed
    * spellings of the same word collide. JVM `java.text.Normalizer`
    * implements the same Unicode NFC/NFD tables DuckDB's
    * `nfc_normalize`/`strip_accents` use, so results are engine-identical. */
  val normalizeUdf = org.apache.spark.sql.functions.udf { (text: String) =>
    if (text == null) null
    else {
      val decomposed = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFD)
      val stripped = decomposed.replaceAll("\\p{M}+", "")
      java.text.Normalizer.normalize(stripped, java.text.Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT)
    }
  }

  /** Polynomial content hash of one string: the q_rolling_hash recurrence
    * `h = (h*31 + codepoint) mod 1e9+7` applied to a single value — exact
    * integer math, identical fold order on both engines (ASCII inputs; see
    * that gate's note on codepoint semantics). Safe to call on a lambda
    * variable (the fold's input IS the lambda-bound string). */
  def polyHash31(s0: Column): Column =
    aggregate(transform(split(s0, ""), c => ascii(c).cast("long")),
      lit(0L), (h, c) => (h * 31 + c) % 1000000007L)

  /** Content-defined chunking at token granularity (the FastCDC idea
    * re-expressed declaratively): a chunk boundary opens before token `i`
    * whenever the polynomial hash of the preceding 3-token gram is ≡ 0
    * (mod `modulus`), so boundaries depend only on LOCAL content — insert
    * one token into a document and every chunk outside the edited
    * neighborhood keeps its exact text (and therefore its dedup hash),
    * which is what makes CDC dedup robust to shifts where fixed-stride
    * chunking (q_chunk_docs) re-aligns the whole tail. Returns the array
    * of chunk strings in document order; expected chunk length is
    * `modulus` tokens + the 3-token window. Stateless row-local map — the
    * ideal 100 TB shape; every intermediate (gram hashes, cut positions)
    * binds as a lambda variable so nothing re-evaluates per element (the
    * wordGrams O(n²) trap).
    *
    * Callers pass a PRE-PROJECTED token-array column (the wordGrams
    * contract). */
  def cdcChunks(toks: Column, modulus: Int = 4): Column =
    element_at(transform(array(struct(toks.as("t"),
        transform(wordGrams(toks, 3), g => polyHash31(g)).as("h"))), r => {
      val t = r.getField("t")
      val h = r.getField("h")
      val n = size(t)
      val cp = concat(array(lit(1)),
        transform(filter(sequence(lit(1), greatest(n - 3, lit(1))),
            j => (j <= n - 3) && (get(h, j - 1) % modulus === 0)),
          j => j + 3))
      element_at(transform(array(cp), cps =>
        transform(cps, (st, k) =>
          array_join(slice(t, st, coalesce(get(cps, k + 1), n + 1) - st), " "))), 1)
    }), 1)

  /** Kernel twin of [[cdcChunks]] — byte-identical output, one tight JVM
    * pass. The declarative form evaluates `polyHash31` by SPLITTING every
    * 3-token gram into single-character strings and folding boxed longs
    * over them; each token sits in three grams, so every character costs
    * three 1-char String allocations plus a boxed-fold step (r11 measured
    * the two CDC gates at 1.4–1.9 s apiece, dominated by this projection).
    * Here the same `(h·31 + codepoint) mod 1e9+7` recurrence runs over
    * `charAt` with primitive longs. Equality with the declarative form is
    * pinned by CdcChunksSpec (`kernel == declarative` on random docs);
    * both CDC gates stay oracle-gated. Same 100 TB shape: a stateless,
    * deterministic row-local map.
    *
    * ASCII precondition (ADVICE r11): byte-identity holds for ASCII
    * tokens — this kernel folds UTF-16 code units via `charAt`, while the
    * declarative form folds `ascii()` (the first UTF-8 BYTE) per split
    * character, so the two diverge on any non-ASCII text (the
    * q_rolling_hash convention). The gate corpus is ASCII by contract;
    * strip or normalize non-ASCII identically in both forms before
    * widening that contract. */
  val cdcChunksUdf = org.apache.spark.sql.functions.udf {
    (toks: Seq[String], modulus: Int) =>
      if (toks == null) null
      else {
        val n = toks.length
        val cuts = scala.collection.mutable.ArrayBuffer[Int](1)
        var j = 1 // 1-based gram start; cuts only consider j <= n-3
        while (j <= n - 3) {
          var h = 0L
          var t = j - 1
          while (t <= j + 1) {
            val s = toks(t)
            var i = 0
            while (i < s.length) { h = (h * 31 + s.charAt(i)) % 1000000007L; i += 1 }
            if (t < j + 1) h = (h * 31 + 32) % 1000000007L // the joining space
            t += 1
          }
          if (h % modulus == 0) cuts += j + 3
          j += 1
        }
        val out = new Array[String](cuts.length)
        var k = 0
        while (k < cuts.length) {
          val st = cuts(k)
          val end = if (k + 1 < cuts.length) cuts(k + 1) else n + 1
          out(k) = toks.slice(st - 1, end - 1).mkString(" ")
          k += 1
        }
        out: Seq[String]
      }
  }

  /** [[cdcChunksUdf]] with the [[cdcChunks]] call shape. */
  def cdcChunksKernel(toks: Column, modulus: Int = 4): Column =
    cdcChunksUdf(toks, org.apache.spark.sql.functions.lit(modulus))

  final case class WinnowFp(pos: Long, h: Long)

  /** Winnow selection kernel: (1-based pos, 60-bit md5 hash) of each
    * window's rightmost-minimum k-gram hash. */
  val winnowUdf = org.apache.spark.sql.functions.udf {
    (text: String, k: Int, w: Int) =>
      if (text == null) Array.empty[WinnowFp]
      else {
        val cps = text.codePoints().toArray
        val ng = cps.length - (k - 1)
        if (ng < w) Array.empty[WinnowFp]
        else {
          val hs = new Array[Long](ng)
          var i = 0
          while (i < ng) {
            hs(i) = java.lang.Long.parseLong(
              md5Hex(new String(cps, i, k)).substring(0, 15), 16)
            i += 1
          }
          // rightmost min of each w-window; a position has one hash, so
          // "selected positions" is already the distinct fingerprint set
          val picked = new Array[Boolean](ng)
          var j = 0
          while (j + w <= ng) {
            var best = j
            var b = j + 1
            while (b < j + w) { if (hs(b) <= hs(best)) best = b; b += 1 }
            picked(best) = true
            j += 1
          }
          val out = Array.newBuilder[WinnowFp]
          i = 0
          while (i < ng) { if (picked(i)) out += WinnowFp((i + 1).toLong, hs(i)); i += 1 }
          out.result()
        }
      }
  }
}
