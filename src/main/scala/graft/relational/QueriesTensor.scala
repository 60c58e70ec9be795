package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TensorFunctions._
import graft.api.Graft
import graft.exprs.Kernels
import graft.operators.Interp1dJoin

/** imops-parity operators over array columns built in-query from the
  * testdata (SURVEY.md §2.9 contract): pointwise numerics, pad/crop/box
  * algebra, isin, center-of-mass, mask_to_box, interp1d, 1-D zoom,
  * morphology, run-length label, 1-D EDT. Arrays are per-order
  * `l_quantity` sequences ordered by `l_linenumber` (integer-valued
  * doubles — hash-exact). The n-d kernel forms are exercised by
  * QueriesGrid and the ScalaTest suites.
  *
  * Every declared query outputs SCALAR columns only: array results are
  * exploded to (id, pos, v) rows on both sides, because the driver's
  * pandas-based compare cannot sort/hash list columns.
  */
object QueriesTensor {

  // NOTE: (l_orderkey, l_linenumber) is NOT unique in the testdata, so the
  // sort key includes l_quantity to make the array build order well-defined
  // on both sides.

  /** Per-order quantity arrays: WITH arr AS (...) on the oracle side. */
  private def arrDf(s: SparkSession, dir: String): DataFrame =
    SharedInputs(s, dir, "arr") {
      T(s, dir, "lineitem").groupBy(col("l_orderkey").as("id"))
        .agg(transform(array_sort(collect_list(struct(col("l_linenumber"), col("l_quantity")))),
          x => x.getField("l_quantity")).as("data"))
    }

  private val arrCte =
    "WITH arr AS (SELECT l_orderkey AS id, list(l_quantity ORDER BY l_linenumber, l_quantity) AS data FROM lineitem GROUP BY l_orderkey)"

  /** Per-order boolean masks (quantity >= 25). */
  private def maskDf(s: SparkSession, dir: String): DataFrame =
    SharedInputs(s, dir, "mask") {
      T(s, dir, "lineitem").groupBy(col("l_orderkey").as("id"))
        .agg(transform(array_sort(collect_list(struct(col("l_linenumber"), col("l_quantity")))),
          x => x.getField("l_quantity") >= 25.0).as("mask"))
    }

  private val maskCte =
    "WITH m AS (SELECT l_orderkey AS id, list(l_quantity >= 25.0 ORDER BY l_linenumber, l_quantity) AS mask FROM lineitem GROUP BY l_orderkey)"

  /** Explode an (id, data: array) frame into scalar (id, pos, v) rows.
    * pos is LONG on both sides (DuckDB range() yields BIGINT); booleans
    * and other non-doubles go through asLong. */
  private def explodePos(df: DataFrame, asLong: Boolean = false): DataFrame =
    df.select(col("id"), posexplode(col("data")).as(Seq("pos", "v0")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        (if (asLong) col("v0").cast("long") else col("v0")).as("v"))

  /** Wrap an oracle select producing (id, data: list) into the exploded
    * (id, pos, v) form via DuckDB's zip-unnest. `castTo` forces a
    * per-element CAST (use "BIGINT" for boolean/int lists so pandas
    * fetches int64, matching Spark's long). */
  private def explodeSql(ctes: String, inner: String, castTo: String = ""): String = {
    val u =
      if (castTo.isEmpty) "unnest(data)"
      else s"unnest(list_transform(data, x -> CAST(x AS $castTo)))"
    s"$ctes, __o AS ($inner) SELECT id, unnest(range(len(data))) AS pos, $u AS v FROM __o"
  }

  // SQL fragment: zoom 1-D source coordinate for output index i at scale 2 (len n)
  private def coord(i: String, n: String) = s"($i * (($n - 1.0) / (2*$n - 1.0)))"

  val queries: Seq[Q] = Seq(

    // ---- pointwise numerics (/root/reference/imops/numeric.py) ----

    Q("q_pointwise_add",
      (s, dir) => explodePos(
        arrDf(s, dir).select(col("id"), pointwiseAdd(col("data"), 5.0).as("data"))),
      Some(explodeSql(arrCte,
        "SELECT id, list_transform(data, x -> x + 5.0) AS data FROM arr"))),

    Q("q_pointwise_add_arrays",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"),
        pointwiseAddArray(col("data"), reverse(col("data"))).as("data"))),
      Some(explodeSql(arrCte,
        """SELECT id, list_transform(range(1, len(data)+1),
          |i -> data[i] + data[len(data)+1-i]) AS data FROM arr""".stripMargin))),

    Q("q_fill",
      (s, dir) => explodePos(
        arrDf(s, dir).select(col("id"), fillArray(col("data"), 7.5).as("data"))),
      Some(explodeSql(arrCte,
        "SELECT id, list_transform(data, x -> 7.5::DOUBLE) AS data FROM arr"))),

    Q("q_full",
      (s, dir) => explodePos(T(s, dir, "nation").select(col("n_nationkey").as("id"),
        fullArray(lit(4), 2.5).as("data"))),
      Some("SELECT n_nationkey AS id, unnest(range(4)) AS pos, 2.5::DOUBLE AS v FROM nation")),

    Q("q_copy",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"), col("data"))),
      Some(explodeSql(arrCte, "SELECT id, data FROM arr"))),

    Q("q_isin",
      (s, dir) => T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "part").where(col("p_size") <= 5).select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
             |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)""".stripMargin)),

    Q("q_isin_mask",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"),
        isinArray(col("data"), Seq(5.0, 10.0, 15.0, 20.0, 25.0)).as("data")), asLong = true),
      Some(explodeSql(arrCte,
        """SELECT id, list_transform(data,
          |x -> list_contains([5.0, 10.0, 15.0, 20.0, 25.0], x)) AS data FROM arr""".stripMargin,
        castTo = "BIGINT"))),

    // ---- aggregations (/root/reference/imops/measure.py) ----

    // weighted sums go through DECIMAL so they are exact (order-independent);
    // only the final division runs in double — deterministic on both sides
    Q("q_center_of_mass",
      (s, dir) => T(s, dir, "events").agg(
        round(sum((col("value") * col("user_id")).cast("decimal(28,2)")).cast("double") /
              sum(col("value").cast("decimal(18,2)")).cast("double"), 4).as("com_i"),
        round(sum((col("value") * (col("event_id") % 100)).cast("decimal(28,2)")).cast("double") /
              sum(col("value").cast("decimal(18,2)")).cast("double"), 4).as("com_j")),
      Some("""SELECT
             |round(cast(sum(cast(value*user_id AS DECIMAL(28,2))) AS DOUBLE)
             |  / cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS com_i,
             |round(cast(sum(cast(value*(event_id % 100) AS DECIMAL(28,2))) AS DOUBLE)
             |  / cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS com_j
             |FROM events""".stripMargin)),

    Q("q_center_of_mass_labeled",
      (s, dir) => T(s, dir, "events")
        .where(col("event_type").isin("click", "view", "purchase"))
        .groupBy("event_type")
        .agg(round(sum((col("value") * col("user_id")).cast("decimal(28,2)")).cast("double") /
                   sum(col("value").cast("decimal(18,2)")).cast("double"), 4).as("com_i"),
             round(sum((col("value") * (col("event_id") % 100)).cast("decimal(28,2)")).cast("double") /
                   sum(col("value").cast("decimal(18,2)")).cast("double"), 4).as("com_j")),
      Some("""SELECT event_type,
             |round(cast(sum(cast(value*user_id AS DECIMAL(28,2))) AS DOUBLE)
             |  / cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS com_i,
             |round(cast(sum(cast(value*(event_id % 100) AS DECIMAL(28,2))) AS DOUBLE)
             |  / cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS com_j
             |FROM events WHERE event_type IN ('click','view','purchase')
             |GROUP BY event_type""".stripMargin)),

    Q("q_mask_to_box",
      (s, dir) => T(s, dir, "lineitem").where(col("l_quantity") >= 25)
        .groupBy("l_returnflag")
        .agg(min("l_linenumber").as("i0"), (max("l_linenumber") + 1).as("i1"),
             min(col("l_partkey") % 20).as("j0"), (max(col("l_partkey") % 20) + 1).as("j1")),
      Some("""SELECT l_returnflag, min(l_linenumber) AS i0, max(l_linenumber)+1 AS i1,
             |min(l_partkey % 20) AS j0, max(l_partkey % 20)+1 AS j1
             |FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag""".stripMargin)),

    Q("q_box_algebra",
      (s, dir) => T(s, dir, "lineitem").where(col("l_quantity") >= 25)
        .groupBy("l_returnflag")
        .agg(min("l_linenumber").as("i0"), (max("l_linenumber") + 1).as("i1"),
             min(col("l_partkey") % 20).as("j0"), (max(col("l_partkey") % 20) + 1).as("j1"))
        .select(col("l_returnflag"),
          greatest(col("i0") - 2, lit(0)).as("m_i0"), least(col("i1") + 2, lit(8)).as("m_i1"),
          greatest(col("j0") - 2, lit(0)).as("m_j0"), least(col("j1") + 2, lit(25)).as("m_j1"))
        .withColumn("shape_i", col("m_i1") - col("m_i0"))
        .withColumn("shape_j", col("m_j1") - col("m_j0")),
      Some("""WITH b AS (SELECT l_returnflag, min(l_linenumber) AS i0, max(l_linenumber)+1 AS i1,
             |  min(l_partkey % 20) AS j0, max(l_partkey % 20)+1 AS j1
             |  FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag)
             |SELECT l_returnflag, greatest(i0-2, 0) AS m_i0, least(i1+2, 8) AS m_i1,
             |greatest(j0-2, 0) AS m_j0, least(j1+2, 25) AS m_j1,
             |least(i1+2, 8) - greatest(i0-2, 0) AS shape_i,
             |least(j1+2, 25) - greatest(j0-2, 0) AS shape_j FROM b""".stripMargin)),

    // ---- pad / crop (/root/reference/imops/pad.py, crop.py) ----

    Q("q_pad",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"),
        padArray(col("data"), lit(2), lit(1), 0.0).as("data"))),
      Some(explodeSql(arrCte,
        "SELECT id, [0.0::DOUBLE, 0.0::DOUBLE] || data || [0.0::DOUBLE] AS data FROM arr"))),

    // callable padding_values (pad.py:33-35, 63-64): pad with the array's
    // OWN minimum — the reference's `padding_values=numpy.min` idiom; the
    // padded value is copied exactly on both engines, no rounding
    Q("q_pad_min",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"),
        padArrayWith(col("data"), lit(2), lit(1), array_min(col("data"))).as("data"))),
      Some(explodeSql(arrCte,
        "SELECT id, [list_min(data), list_min(data)] || data || [list_min(data)] AS data FROM arr"))),

    Q("q_pad_to_shape",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) <= 8)
        .select(col("id"), padToShape(col("data"), 8, 0.5, 0.0).as("data"))),
      Some(explodeSql(arrCte,
        """SELECT id, list_concat(list_concat(
          |list_transform(range(cast(floor((8 - len(data)) * 0.5) AS INT)), x -> 0.0::DOUBLE),
          |data),
          |list_transform(range(8 - len(data) - cast(floor((8 - len(data)) * 0.5) AS INT)), x -> 0.0::DOUBLE)) AS data
          |FROM arr WHERE len(data) <= 8""".stripMargin))),

    Q("q_pad_to_divisible",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"),
        padToDivisible(col("data"), 4, 0.0).as("data"))),
      Some(explodeSql(arrCte,
        """SELECT id,
          |data || list_transform(range((4 - len(data) % 4) % 4), x -> 0.0::DOUBLE) AS data
          |FROM arr""".stripMargin))),

    Q("q_crop_to_shape",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) >= 3)
        .select(col("id"), cropToShape(col("data"), 3, 0.5).as("data"))),
      Some(explodeSql(arrCte,
        """SELECT id,
          |list_slice(data, cast(floor((len(data)-3) * 0.5) AS INT) + 1,
          |                 cast(floor((len(data)-3) * 0.5) AS INT) + 3) AS data
          |FROM arr WHERE len(data) >= 3""".stripMargin))),

    Q("q_crop_to_box",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) >= 4)
        .select(col("id"), cropToBox(col("data"), lit(1), lit(4)).as("data"))),
      Some(explodeSql(arrCte,
        "SELECT id, list_slice(data, 2, 4) AS data FROM arr WHERE len(data) >= 4"))),

    Q("q_restore_crop",
      (s, dir) => explodePos(arrDf(s, dir).select(col("id"),
        restoreCrop(col("data"), lit(2), size(col("data")) + 5, 1.0).as("data"))),
      Some(explodeSql(arrCte,
        "SELECT id, [1.0::DOUBLE, 1.0::DOUBLE] || data || [1.0::DOUBLE, 1.0::DOUBLE, 1.0::DOUBLE] AS data FROM arr"))),

    // ---- interp1d (/root/reference/imops/interp1d.py) ----

    Q("q_interp1d",
      (s, dir) => {
        val grid = T(s, dir, "lineitem").groupBy(col("l_quantity").as("x"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
                count(lit(1))).as("y"))
        val q = T(s, dir, "part").where(col("p_size") < 50)
          .select((col("p_size") + 0.5).as("xq")).distinct()
        Interp1dJoin(grid, "x", "y", q, "xq", "yq")
          .select(col("xq"), round(col("yq"), 4).as("yq"))
      },
      Some("""WITH f AS (SELECT l_quantity AS x,
             |  cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS y
             |  FROM lineitem GROUP BY 1),
             |seg AS (SELECT x AS x0, y AS y0, lead(x) OVER (ORDER BY x) AS x1,
             |        lead(y) OVER (ORDER BY x) AS y1 FROM f),
             |q AS (SELECT DISTINCT p_size + 0.5 AS xq FROM part WHERE p_size < 50)
             |SELECT xq, round(y0 * (1 - ((xq-x0)/(x1-x0))) + y1 * ((xq-x0)/(x1-x0)), 4) AS yq
             |FROM q JOIN seg ON xq >= x0 AND xq < x1""".stripMargin)),

    Q("q_interp1d_extrap",
      (s, dir) => {
        val grid = T(s, dir, "lineitem").groupBy(col("l_quantity").as("x"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
                count(lit(1))).as("y"))
        import s.implicits._
        val q = Seq(-5.0, 0.0, 55.0, 60.0).toDF("xq")
        Interp1dJoin(grid, "x", "y", q, "xq", "yq", extrapolate = true)
          .select(col("xq"), round(col("yq"), 4).as("yq"))
      },
      Some("""WITH f AS (SELECT l_quantity AS x,
             |  cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS y
             |  FROM lineitem GROUP BY 1),
             |ord AS (SELECT x, y, row_number() OVER (ORDER BY x) AS rn, count(*) OVER () AS n FROM f),
             |par AS (SELECT
             |  max(CASE WHEN rn = 1 THEN x END) AS xa, max(CASE WHEN rn = 1 THEN y END) AS ya,
             |  max(CASE WHEN rn = 2 THEN x END) AS xb, max(CASE WHEN rn = 2 THEN y END) AS yb,
             |  max(CASE WHEN rn = n-1 THEN x END) AS xc, max(CASE WHEN rn = n-1 THEN y END) AS yc,
             |  max(CASE WHEN rn = n THEN x END) AS xd, max(CASE WHEN rn = n THEN y END) AS yd FROM ord),
             |q(xq) AS (VALUES (-5.0), (0.0), (55.0), (60.0))
             |SELECT xq, round(CASE WHEN xq < xa
             |  THEN ((yb-ya)/(xb-xa)) * xq + (ya - ((yb-ya)/(xb-xa)) * xa)
             |  ELSE ((yc-yd)/(xc-xd)) * xq + (yd - ((yc-yd)/(xc-xd)) * xd) END, 4) AS yq
             |FROM q, par""".stripMargin)),

    // the whole-array interp1d hot path (codegen Kernels.interp1d — the same
    // kernel the UDF wraps, minus the per-element boxing): per-order ys on
    // the integer grid 0..len-1, queried at half-points; out-of-range
    // queries take the fill value. dd is exactly 0.5 so the lerp is
    // ys[m]*0.5 + ys[m+1]*0.5 bit-for-bit on both sides
    Q("q_interp1d_arr",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) >= 2)
        .select(col("id"), Kernels.interp1d(
            transform(sequence(lit(0), size(col("data")) - 1), x => x.cast("double")),
            col("data"),
            array(lit(0.5), lit(1.5), lit(2.5)),
            lit(false), lit(-1.0)).as("raw"))
        .select(col("id"), transform(col("raw"), x => round(x, 4)).as("data"))),
      Some(explodeSql(arrCte,
        """SELECT id, list_transform(range(0, 3), m ->
          |CASE WHEN m + 1 <= len(data) - 1
          |  THEN round(data[m + 1] * 0.5 + data[m + 2] * 0.5, 4)
          |  ELSE -1.0 END) AS data
          |FROM arr WHERE len(data) >= 2""".stripMargin))),

    // interp1d with UNSORTED abscissae (`assume_sorted=False`, the
    // reference's argsort-permutation path —
    // /root/reference/imops/src/_zoom.pyx:41-42): the same grid as
    // q_interp1d_arr is fed to the kernel REVERSED (descending xs defeats
    // the already-sorted fast path, forcing the internal argsort), with ys
    // permuted identically; the oracle is the sorted-grid answer, so a green
    // row proves the kernel's internal sort reproduces it exactly
    Q("q_interp1d_unsorted",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) >= 2)
        .select(col("id"), Kernels.interp1d(
            reverse(transform(sequence(lit(0), size(col("data")) - 1), x => x.cast("double"))),
            reverse(col("data")),
            array(lit(0.5), lit(1.5), lit(2.5)),
            lit(false), lit(-1.0)).as("raw"))
        .select(col("id"), transform(col("raw"), x => round(x, 4)).as("data"))),
      Some(explodeSql(arrCte,
        """SELECT id, list_transform(range(0, 3), m ->
          |CASE WHEN m + 1 <= len(data) - 1
          |  THEN round(data[m + 1] * 0.5 + data[m + 2] * 0.5, 4)
          |  ELSE -1.0 END) AS data
          |FROM arr WHERE len(data) >= 2""".stripMargin))),

    // ---- zoom, 1-D oracle forms (/root/reference/imops/src/_zoom.pyx) ----

    Q("q_zoom1d_linear",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) >= 2)
        .withColumn("z", Kernels.zoom(col("data"), array(size(col("data"))),
          array(lit(2.0)), lit(1), lit(0.0)))
        .select(col("id"), transform(col("z").getField("_1"), x => round(x, 4)).as("data"))),
      Some {
        val c = coord("i", "len(data)")
        val fi = s"cast(floor($c) AS INT)"
        explodeSql(arrCte,
          s"""SELECT id, list_transform(range(0, 2*len(data)), i ->
             |round(data[$fi + 1] * (1 - ($c - floor($c)))
             |    + coalesce(data[$fi + 2], 0.0) * ($c - floor($c)), 4)) AS data
             |FROM arr WHERE len(data) >= 2""".stripMargin)
      }),

    Q("q_zoom1d_nearest",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")) >= 2)
        .withColumn("z", Kernels.zoom(col("data"), array(size(col("data"))),
          array(lit(2.0)), lit(0), lit(0.0)))
        .select(col("id"), col("z").getField("_1").as("data"))),
      Some {
        val c = coord("i", "len(data)")
        explodeSql(arrCte,
          s"""SELECT id, list_transform(range(0, 2*len(data)), i ->
             |data[CASE WHEN ($c - floor($c)) >= 0.5 AND cast(floor($c) AS INT) + 1 <= len(data) - 1
             |          THEN cast(floor($c) AS INT) + 2 ELSE cast(floor($c) AS INT) + 1 END]) AS data
             |FROM arr WHERE len(data) >= 2""".stripMargin)
      }),

    Q("q_zoom_to_shape",
      (s, dir) => explodePos(arrDf(s, dir).where(size(col("data")).between(2, 13))
        .withColumn("z", Kernels.zoomToShape(col("data"), array(size(col("data"))),
          array(lit(4)), lit(1)))
        .select(col("id"), transform(col("z").getField("_1"), x => round(x, 4)).as("data"))),
      Some {
        val c = "(i * ((len(data) - 1.0) / 3.0))"
        val fi = s"cast(floor($c) AS INT)"
        explodeSql(arrCte,
          s"""SELECT id, list_transform(range(0, 4), i ->
             |round(data[$fi + 1] * (1 - ($c - floor($c)))
             |    + coalesce(data[$fi + 2], 0.0) * ($c - floor($c)), 4)) AS data
             |FROM arr WHERE len(data) BETWEEN 2 AND 13""".stripMargin)
      }),

    // ---- 1-D morphology (/root/reference/imops/src/_morphology.pyx) ----

    Q("q_erosion1d",
      (s, dir) => explodePos(maskDf(s, dir).select(col("id"),
        Graft.binaryErosion(col("mask"), array(size(col("mask")))).as("data")), asLong = true),
      Some(explodeSql(maskCte,
        """SELECT id, list_transform(range(1, len(mask)+1), i ->
          |(CASE WHEN i = 1 THEN true ELSE mask[i-1] END)
          |AND mask[i]
          |AND (CASE WHEN i = len(mask) THEN true ELSE mask[i+1] END)) AS data FROM m""".stripMargin,
        castTo = "BIGINT"))),

    Q("q_dilation1d",
      (s, dir) => explodePos(maskDf(s, dir).select(col("id"),
        Graft.binaryDilation(col("mask"), array(size(col("mask")))).as("data")), asLong = true),
      Some(explodeSql(maskCte,
        """SELECT id, list_transform(range(1, len(mask)+1), i ->
          |(CASE WHEN i = 1 THEN false ELSE mask[i-1] END)
          |OR mask[i]
          |OR (CASE WHEN i = len(mask) THEN false ELSE mask[i+1] END)) AS data FROM m""".stripMargin,
        castTo = "BIGINT"))),

    Q("q_closing1d",
      (s, dir) => explodePos(maskDf(s, dir).select(col("id"),
        Graft.binaryClosing(col("mask"), array(size(col("mask")))).as("data")), asLong = true),
      Some(explodeSql(
        s"""$maskCte, d AS (SELECT id, list_transform(range(1, len(mask)+1), i ->
           |(CASE WHEN i = 1 THEN false ELSE mask[i-1] END) OR mask[i]
           |OR (CASE WHEN i = len(mask) THEN false ELSE mask[i+1] END)) AS mask FROM m)""".stripMargin,
        """SELECT id, list_transform(range(1, len(mask)+1), i ->
          |(CASE WHEN i = 1 THEN true ELSE mask[i-1] END) AND mask[i]
          |AND (CASE WHEN i = len(mask) THEN true ELSE mask[i+1] END)) AS data FROM d""".stripMargin,
        castTo = "BIGINT"))),

    Q("q_opening1d",
      (s, dir) => explodePos(maskDf(s, dir).select(col("id"),
        Graft.binaryOpening(col("mask"), array(size(col("mask")))).as("data")), asLong = true),
      Some(explodeSql(
        s"""$maskCte, e AS (SELECT id, list_transform(range(1, len(mask)+1), i ->
           |(CASE WHEN i = 1 THEN true ELSE mask[i-1] END) AND mask[i]
           |AND (CASE WHEN i = len(mask) THEN true ELSE mask[i+1] END)) AS mask FROM m)""".stripMargin,
        """SELECT id, list_transform(range(1, len(mask)+1), i ->
          |(CASE WHEN i = 1 THEN false ELSE mask[i-1] END) OR mask[i]
          |OR (CASE WHEN i = len(mask) THEN false ELSE mask[i+1] END)) AS data FROM e""".stripMargin,
        castTo = "BIGINT"))),

    // ---- label as 1-D run-length components (/root/reference/imops/measure.py:33-137) ----

    // scalar roll-up per user: component count + size aggregates (the
    // per-component size list is covered by q_label_run_sizes below)
    Q("q_label_runs",
      (s, dir) => {
        val perUser = T(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(transform(array_sort(collect_list(struct(col("event_id"), (col("value") > 100.0).as("m")))),
            x => when(x.getField("m"), 1.0).otherwise(0.0)).as("data"))
        perUser
          .withColumn("lab", Kernels.label(col("data"), array(size(col("data"))), lit(0.0), lit(1)))
          .select(col("user_id"), col("lab").getField("_2").cast("long").as("n_components"),
                  coalesce(array_max(col("lab").getField("_3")), lit(0L)).as("max_size"),
                  coalesce(aggregate(col("lab").getField("_3"), lit(0L), (acc, x) => acc + x),
                    lit(0L)).as("total_size"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, (value > 100.0) AS m,
             |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events),
             |r AS (SELECT user_id, rn, m, CASE WHEN m AND NOT coalesce(
             |  lag(m) OVER (PARTITION BY user_id ORDER BY rn), false) THEN 1 ELSE 0 END AS st FROM e),
             |l AS (SELECT user_id, rn, m, sum(st) OVER (PARTITION BY user_id ORDER BY rn
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lbl FROM r),
             |sz AS (SELECT user_id, lbl, count(*) AS c FROM l WHERE m GROUP BY user_id, lbl),
             |agg AS (SELECT user_id, count(*) AS n_components, max(c) AS max_size,
             |  sum(c) AS total_size FROM sz GROUP BY user_id)
             |SELECT u.user_id, cast(coalesce(a.n_components, 0) AS BIGINT) AS n_components,
             |cast(coalesce(a.max_size, 0) AS BIGINT) AS max_size,
             |cast(coalesce(a.total_size, 0) AS BIGINT) AS total_size
             |FROM (SELECT DISTINCT user_id FROM events) u LEFT JOIN agg a ON u.user_id = a.user_id""".stripMargin)),

    // per-component sizes in scan order — the exploded form of the
    // reference's `sizes` extra (measure.py:120-132)
    Q("q_label_run_sizes",
      (s, dir) => {
        val perUser = T(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(transform(array_sort(collect_list(struct(col("event_id"), (col("value") > 100.0).as("m")))),
            x => when(x.getField("m"), 1.0).otherwise(0.0)).as("data"))
        perUser
          .withColumn("lab", Kernels.label(col("data"), array(size(col("data"))), lit(0.0), lit(1)))
          .select(col("user_id"), posexplode(col("lab").getField("_3")).as(Seq("idx", "sz")))
          .select(col("user_id"), (col("idx") + 1).cast("long").as("label"),
                  col("sz").cast("long").as("size"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, (value > 100.0) AS m,
             |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events),
             |r AS (SELECT user_id, rn, m, CASE WHEN m AND NOT coalesce(
             |  lag(m) OVER (PARTITION BY user_id ORDER BY rn), false) THEN 1 ELSE 0 END AS st FROM e),
             |l AS (SELECT user_id, rn, m, sum(st) OVER (PARTITION BY user_id ORDER BY rn
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lbl FROM r)
             |SELECT user_id, cast(lbl AS BIGINT) AS label, cast(count(*) AS BIGINT) AS size
             |FROM l WHERE m GROUP BY user_id, lbl""".stripMargin)),

    // ---- 1-D EDT (/root/reference/imops/morphology.py:372-521) ----

    // distances stay DOUBLE: a LONG cast would be re-evaluated by Catalyst's
    // inferred Generate filter on pre-filter rows (where the all-true
    // sentinel 1e50 lives) and trip the ANSI overflow check; 1-D distances
    // at sampling 1.0 are exact integers in double, so the hash is stable
    Q("q_edt1d",
      (s, dir) => explodePos(maskDf(s, dir)
        .where(array_contains(col("mask"), false))
        .select(col("id"),
          Kernels.edt(col("mask"), array(size(col("mask"))), array(lit(1.0))).as("data"))),
      Some(explodeSql(
        s"""$maskCte, f AS (SELECT id, mask,
           |  list_filter(range(0, len(mask)), j -> NOT mask[j+1]) AS zpos
           |  FROM m WHERE list_contains(mask, false))""".stripMargin,
        """SELECT id, list_transform(range(0, len(mask)), i ->
          |CASE WHEN mask[i+1] THEN list_min(list_transform(zpos, j -> abs(i - j)))
          |     ELSE 0 END) AS data FROM f""".stripMargin,
        castTo = "DOUBLE"))),

    // ---- build_slices (/root/reference/imops/utils.py:172-199) ----
    // Routes each aggregated bounding box through the Box smart constructor
    // and Box.buildSlices in a typed Dataset map — the gate entry for the
    // slice-construction component (previously ScalaTest-only).
    Q("q_build_slices",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "lineitem").where(col("l_quantity") >= 25)
          .groupBy("l_returnflag")
          .agg(min("l_linenumber").cast("int").as("i0"),
               (max("l_linenumber") + 1).cast("int").as("i1"),
               min(col("l_partkey") % 20).cast("int").as("j0"),
               (max(col("l_partkey") % 20) + 1).cast("int").as("j1"))
          .as[(String, Int, Int, Int, Int)]
          .flatMap { case (flag, i0, i1, j0, j1) =>
            graft.core.Box(Seq(i0, j0), Seq(i1, j1)).buildSlices(Seq(2, 3))
              .zipWithIndex.map { case ((a, b, st), ax) =>
                (flag, ax.toLong, a.toLong, b.toLong, st.toLong)
              }
          }
          .toDF("l_returnflag", "axis", "s_start", "s_stop", "s_step")
      },
      Some("""WITH b AS (SELECT l_returnflag,
             |  min(l_linenumber) AS i0, max(l_linenumber)+1 AS i1,
             |  min(l_partkey % 20) AS j0, max(l_partkey % 20)+1 AS j1
             |  FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag)
             |SELECT l_returnflag, 0::BIGINT AS axis, i0::BIGINT AS s_start,
             |  i1::BIGINT AS s_stop, 2::BIGINT AS s_step FROM b
             |UNION ALL
             |SELECT l_returnflag, 1::BIGINT, j0::BIGINT, j1::BIGINT, 3::BIGINT FROM b""".stripMargin)),

    // ---- dtype-tag cast-back (/root/reference/imops/numeric.py:41-42,
    // 182-187; SURVEY §1.4) ----
    // The sink-side castToDtype path under the oracle: uint8/int8 saturation
    // (quantity*10-120 spans [-110, 380] — clamps both ends), uint16
    // truncate+saturate on prices (max ~104950 > 65535), and the IEEE-half
    // round-trip on price/4 (< fp16 max 65504, so always finite). The fp16
    // oracle emulates round-to-nearest-even at the half's 10-bit significand:
    // step = 2^(floor(log2 x)-10); x/step and x+0.5 are exact power-of-two
    // scalings of the same double, so the half-point test and the tie pick
    // are bit-identical to the JVM bit-twiddling kernel. Integer truncation
    // is toward zero on both engines (Scala toLong, DuckDB trunc — memory
    // rule: never bare CAST(DOUBLE AS INT), DuckDB rounds).
    Q("q_dtype_cast",
      (s, dir) => {
        import graft.functions.TensorFunctions.castDtype
        val spread = col("l_quantity") * 10.0 - 120.0
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            castDtype(spread, "uint8").as("u8"),
            castDtype(spread, "int8").as("i8"),
            castDtype(col("l_extendedprice"), "uint16").as("u16"),
            castDtype(col("l_extendedprice") / 4.0, "float16").as("h16"))
      },
      Some("""WITH h AS (SELECT *,
             |  pow(2.0, floor(log2(l_extendedprice / 4.0)) - 10) AS step,
             |  (l_extendedprice / 4.0) / pow(2.0, floor(log2(l_extendedprice / 4.0)) - 10) AS q
             |  FROM lineitem)
             |SELECT l_orderkey, l_linenumber,
             |  least(greatest(CAST(trunc(l_quantity * 10.0 - 120.0) AS BIGINT), 0), 255)::DOUBLE AS u8,
             |  least(greatest(CAST(trunc(l_quantity * 10.0 - 120.0) AS BIGINT), -128), 127)::DOUBLE AS i8,
             |  least(greatest(CAST(trunc(l_extendedprice) AS BIGINT), 0), 65535)::DOUBLE AS u16,
             |  (CASE WHEN q - floor(q) = 0.5
             |        THEN floor(q) + (CAST(floor(q) AS BIGINT) % 2)
             |        ELSE floor(q + 0.5) END) * step AS h16
             |FROM h""".stripMargin))
  )
}
