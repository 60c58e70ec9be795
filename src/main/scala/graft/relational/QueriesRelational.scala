package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** Core relational surface: scans, projections/filters, joins (broadcast /
  * semi / anti / as-of), aggregations (hash, rollup, distinct), windows,
  * sort/limit, set ops. The reference has no relational engine (SURVEY.md
  * §2.8) — this is the stock-Spark capability layer our tensor ops compose
  * with, declared and oracle-checked like everything else.
  */
object QueriesRelational {

  val queries: Seq[Q] = Seq(

    Q("q1_agg",
      (s, dir) => T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
             sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
               .cast("decimal(28,4)")).cast("double").as("revenue"),
             round(avg("l_quantity"), 4).as("avg_qty"),
             count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |cast(sum(cast(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
             |round(avg(l_quantity), 4) AS avg_qty, count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q_join_agg",
      (s, dir) => T(s, dir, "orders")
        .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"), count(lit(1)).as("n_orders")),
      Some("""SELECT n_name, cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin)),

    // Bucketed co-located join: both fact tables written bucketed+sorted on
    // the join key (8 buckets), so the sort-merge join needs NO Exchange
    // and NO per-task Sort — the "pre-shuffle once, join forever" layout a
    // 100 TB star schema lives on (BucketedJoinSpec pins the
    // exchange-free plan; write once per session via SharedInputs). The
    // oracle computes the same join-aggregate from the raw parquet.
    Q("q_bucketed_join",
      (s, dir) => {
        val joined = SharedInputs(s, dir, "bucketedJoin") {
          // tag carries the JVM name too: the table CATALOG is per-session,
          // but the tmpdir PATH is host-shared — two concurrent harness JVMs
          // (Verify + test suite) racing one path corrupts both scans
          val jvmTag = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
            .replaceAll("[^A-Za-z0-9]", "_")
          val tag = "b" + math.abs(dir.hashCode).toString + "_" + jvmTag
          val (to, tl) = (s"g_orders_$tag", s"g_lineitem_$tag")
          T(s, dir, "orders").select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"${System.getProperty("java.io.tmpdir")}/graft_bkt/$to")
            .saveAsTable(to)
          T(s, dir, "lineitem").select("l_orderkey", "l_quantity")
            .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"${System.getProperty("java.io.tmpdir")}/graft_bkt/$tl")
            .saveAsTable(tl)
          // merge hint: at gate SF the planner would broadcast the small
          // side; the point is the exchange-free bucketed SMJ path
          s.table(to).hint("merge")
            .join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
        }
        joined.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority""".stripMargin)),

    Q("q_window_running",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("running"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |cast(sum(cast(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
             |FROM orders""".stripMargin)),

    Q("q_topk",
      (s, dir) => T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("q_setops",
      (s, dir) => {
        val o = T(s, dir, "orders")
        o.where(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")).distinct()
          .except(o.where(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")).distinct())
      },
      Some("""SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
             |EXCEPT
             |SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin)),

    Q("q_distinct_agg",
      (s, dir) => T(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(countDistinct("c_nationkey").as("n_nations"), count(lit(1)).as("n_cust"),
             sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal")),
      Some("""SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
             |count(*) AS n_cust, cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    Q("q_semi_anti",
      (s, dir) => {
        val o = T(s, dir, "orders")
        T(s, dir, "customer")
          .join(o.where(col("o_totalprice") > 300000), col("c_custkey") === col("o_custkey"), "left_semi")
          .join(o.where(col("o_orderstatus") === "P"), col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin)),

    Q("q_rollup",
      (s, dir) => T(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin)),

    // Semi-structured parsing: extract a typed field from the JSON props
    // column and aggregate on it.
    Q("q_json_extract",
      (s, dir) => T(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").cast("long").as("sum_k"),
             count(when(col("k") > 50, 1)).as("n_high")),
      Some("""SELECT event_type,
             |cast(sum(cast(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
             |count(CASE WHEN cast(props->>'k' AS BIGINT) > 50 THEN 1 END) AS n_high
             |FROM events GROUP BY event_type""".stripMargin)),

    // Grouping sets beyond rollup: full CUBE over two dimensions.
    Q("q_cube",
      (s, dir) => T(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)),

    // Arbitrary GROUPING SETS (neither rollup nor cube): the (status,
    // priority) detail plus each one-dimension margin, without the grand
    // total — one shuffle, Expand feeding a single hash aggregate.
    Q("q_grouping_sets",
      (s, dir) => T(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |(o_orderstatus), (o_orderpriority))""".stripMargin)),

    Q("q_pivot_events",
      (s, dir) => T(s, dir, "events")
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
             sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
             sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
             sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"),
             sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")),
      // DuckDB sums over INTEGER as HUGEINT, which pandas fetches as
      // float64 while Spark writes int64 (identical values, different
      // hash) — cast back to BIGINT so both sides fetch as int64.
      Some("""SELECT user_id,
             |cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
             |cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             |cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY user_id""".stripMargin)),

    // Window-function spread: offset (lag/lead), ranking (rank/dense_rank)
    // and distribution (ntile) functions in one frame.
    Q("q_window_funcs",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        T(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |lag(o_totalprice, 1) OVER w AS prev_price,
             |lead(o_totalprice, 1) OVER w AS next_price,
             |rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
             |cast(ntile(4) OVER w AS INT) AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    Q("q_sessionize",
      (s, dir) => {
        // ts normalizes to ns-since-epoch long (T.normTs)
        val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts").as("t"))
          .withColumn("gap", col("t") - lag("t", 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               (lit(1) + sum(when(col("gap") > 1800000000000L, 1).otherwise(0))).as("n_sessions"))
      },
      // HUGEINT→float64 fetch quirk: cast the integer sum to BIGINT.
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
             |g AS (SELECT user_id, t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap FROM e)
             |SELECT user_id, count(*) AS n_events,
             |cast(1 + sum(CASE WHEN gap > 1800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
             |FROM g GROUP BY user_id""".stripMargin)),

    // Poisson bootstrap — the at-scale uncertainty-quantification trick
    // (resampling a distributed dataset multinomially is impossible
    // without global coordination; giving each row an independent
    // Poisson(1) weight per replica is free): 32 replicas, each row's
    // weight drawn DETERMINISTICALLY by inverting the Poisson(1) CDF at a
    // md5-uniform e4 value of (event_id, replica) — re-run-stable, engine
    // -exact, and the replica means are exact integer quotients. The
    // spread of mean_e4 across replicas IS the standard error estimate.
    Q("q_bootstrap",
      (s, dir) => graft.api.Graft.poissonBootstrap(
        T(s, dir, "events").where(col("event_type") === "purchase"),
        "event_id", "value", replicas = 32),
      Some("""WITH e AS (SELECT event_id, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT event_id, vq, b.b,
             |  ('0x' || substring(md5(event_id || '|' || b.b), 1, 8))::BIGINT % 10000 AS u
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b),
             |w AS (SELECT b, vq, CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
             |  WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3 WHEN u < 9963 THEN 4
             |  ELSE 5 END AS w FROM r),
             |a AS (SELECT b, sum(w)::BIGINT AS n_eff,
             |  sum(w * vq)::BIGINT AS wsum_e6 FROM w GROUP BY 1)
             |SELECT b, n_eff, (wsum_e6 // 100) // n_eff AS mean_e4
             |FROM a WHERE n_eff > 0""".stripMargin)),

    // Winsorized mean per group — the robust-mean preprocessing transform:
    // clamp each quantized value to its group's exact [p10, p90] ORDER
    // STATISTICS (k-th smallest at k = (n-1) div 10 + 1 and n - that + 1 —
    // pure rank arithmetic, no interpolation), then an exact integer sum
    // and an e4 integer mean. Everything rank- or integer-valued: no FP.
    Q("q_winsorized",
      (s, dir) => {
        val e = T(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vq"))
        val w = Window.partitionBy("event_type").orderBy(col("vq"), col("event_id"))
        val ranked = e.withColumn("r", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .withColumn("klo", expr("(n - 1) div 10 + 1"))
        val bounds = ranked
          .withColumn("lo", when(col("r") === col("klo"), col("vq")))
          .withColumn("hi", when(col("r") === col("n") - col("klo") + 1, col("vq")))
          .groupBy("event_type")
          .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
            count(lit(1)).as("n"))
        e.join(bounds, Seq("event_type"))
          .select(col("event_type"), col("n"), col("lo"), col("hi"),
            greatest(col("lo"), least(col("hi"), col("vq"))).as("wv"))
          .groupBy("event_type")
          .agg(min(col("n")).as("n"), min(col("lo")).as("lo_e6"),
            min(col("hi")).as("hi_e6"), sum(col("wv")).as("wsum_e6"))
          .withColumn("wmean_e4", expr("(wsum_e6 div 100) div n"))
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |  CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
             |  FROM events),
             |r AS (SELECT event_type, vq,
             |  row_number() OVER (PARTITION BY event_type ORDER BY vq, event_id) AS r,
             |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
             |b AS (SELECT event_type,
             |  max(CASE WHEN r = (n - 1) // 10 + 1 THEN vq END) AS lo,
             |  max(CASE WHEN r = n - ((n - 1) // 10 + 1) + 1 THEN vq END) AS hi,
             |  count(*) AS n FROM r GROUP BY 1)
             |SELECT e.event_type, min(b.n)::BIGINT AS n,
             |  min(b.lo)::BIGINT AS lo_e6, min(b.hi)::BIGINT AS hi_e6,
             |  sum(greatest(b.lo, least(b.hi, e.vq)))::BIGINT AS wsum_e6,
             |  ((sum(greatest(b.lo, least(b.hi, e.vq)))::BIGINT // 100) // min(b.n))
             |    AS wmean_e4
             |FROM e JOIN b ON b.event_type = e.event_type
             |GROUP BY 1""".stripMargin)),

    // Deterministic per-group mode — most frequent quantized value per
    // user with (count DESC, value ASC) tie-break: two narrow aggs + one
    // rank window, all integer.
    Q("q_mode",
      (s, dir) => {
        val e = T(s, dir, "events")
          .select(col("user_id"), col("event_type"))
        val cnt = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("user_id").orderBy(col("c").desc, col("event_type"))
        cnt.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"), col("c").as("n_mode"))
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT user_id, event_type, c,
             |  row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type) AS rk
             |  FROM c)
             |SELECT user_id, event_type AS mode_type, c::BIGINT AS n_mode
             |FROM r WHERE rk = 1""".stripMargin)),

    // Ordered funnel analysis: view -> click -> purchase, each later stage
    // at-or-after the user's FIRST completion of the previous one and
    // inside a 7-day window from the first view — the product-analytics
    // query shape (sequential min-ts chaining, one narrow per-user agg per
    // stage, broadcast-sized intermediate). All ns-integer comparisons and
    // e4 integer-quotient conversions: nothing FP anywhere.
    Q("q_funnel",
      (s, dir) => graft.api.Graft.funnel(T(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowNs = 7L * 24 * 3600 * 1000000000L),
      Some("""WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2, min(v.t1) AS t1
             |  FROM events e JOIN v ON v.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= v.t1
             |    AND epoch_ns(e.ts) <= v.t1 + 604800000000000 GROUP BY 1),
             |p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
             |  FROM events e JOIN c ON c.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= c.t2
             |    AND epoch_ns(e.ts) <= c.t1 + 604800000000000 GROUP BY 1),
             |n AS (SELECT 1 AS stage, count(*)::BIGINT AS n_users FROM v
             |  UNION ALL SELECT 2, count(*)::BIGINT FROM c
             |  UNION ALL SELECT 3, count(*)::BIGINT FROM p)
             |SELECT stage, n_users,
             |  (n_users * 10000) // (SELECT count(*) FROM v) AS conv_e4
             |FROM n""".stripMargin)),

    // Weekly retention cohorts: users cohorted by the ISO week bucket of
    // their FIRST event (exact integer division of the ns epoch), then a
    // (cohort, offset) matrix of distinct active users for offsets 0..3 —
    // the classic retention triangle, as two narrow aggs + one distinct
    // (user, week) projection. All integer; retention is an e4 quotient.
    Q("q_retention",
      (s, dir) => graft.api.Graft.retentionCohorts(T(s, dir, "events"),
        "user_id", "ts", bucketNs = 7L * 24 * 3600 * 1000000000L, maxOffset = 3),
      Some("""WITH e AS (SELECT DISTINCT user_id,
             |  epoch_ns(ts) // 604800000000000 AS wk FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1),
             |coh AS (SELECT cohort, count(*)::BIGINT AS n_cohort FROM f GROUP BY 1),
             |a AS (SELECT f.cohort, e.wk - f.cohort AS "offset",
             |  count(*)::BIGINT AS n_active
             |  FROM e JOIN f ON f.user_id = e.user_id
             |  WHERE e.wk - f.cohort <= 3 GROUP BY 1, 2)
             |SELECT a.cohort, a."offset", a.n_active, coh.n_cohort,
             |  (a.n_active * 10000) // coh.n_cohort AS retention_e4
             |FROM a JOIN coh ON coh.cohort = a.cohort""".stripMargin)),

    // Time-series resample + gap fill: per-user 1-hour buckets from the
    // user's first to last event, missing buckets materialized with
    // n_events=0 and the value forward-filled from the last observed
    // bucket (the QuestDB/Timescale `SAMPLE BY ... FILL(PREV)` shape).
    // Bucketing is exact INTEGER division of the ns epoch (a double divide
    // would lose precision above 2^53); the sum goes through decimal(18,2)
    // so it is order-independent. Scale: one (user,bucket) shuffle with
    // map-side partials; the dense grid is bounded by users x time-range /
    // granularity — independent of input row count — and the forward fill
    // is a per-user running window, partitioned on the same key as the
    // join so AQE keeps it co-located.
    Q("q_gap_fill",
      (s, dir) => {
        val agg = T(s, dir, "events")
          .select(col("user_id"), expr("ts DIV 3600000000000").as("b"), col("value"))
          .groupBy("user_id", "b")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        val grid = agg.groupBy("user_id")
          .agg(min("b").as("lo"), max("b").as("hi"))
          .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("b"))
        val w = Window.partitionBy("user_id").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(agg, Seq("user_id", "b"), "left")
          .withColumn("filled_value", last(col("sum_value"), ignoreNulls = true).over(w))
          .select(col("user_id"), col("b"),
            coalesce(col("n"), lit(0L)).as("n_events"), col("filled_value"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS b, value FROM events),
             |agg AS (SELECT user_id, b, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |  FROM e GROUP BY user_id, b),
             |bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM agg GROUP BY user_id),
             |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM bounds),
             |j AS (SELECT g.user_id, g.b, coalesce(a.n, 0) AS n_events, a.sum_value
             |  FROM grid g LEFT JOIN agg a USING (user_id, b))
             |SELECT user_id, b, n_events,
             |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
             |FROM j""".stripMargin)),

    // Gap fill, LINEAR interpolation variant (`FILL(LINEAR)`): missing
    // buckets get the straight line between the previous and next observed
    // values (edges extend the nearest observation). Same one-shuffle
    // (user, bucket) agg as q_gap_fill; the prev/next lookups are two
    // passes of the same per-user window, and the interpolation is pure
    // IEEE arithmetic on exact integer bucket distances.
    Q("q_gap_interp",
      (s, dir) => {
        val agg = T(s, dir, "events")
          .select(col("user_id"), expr("ts DIV 3600000000000").as("b"), col("value"))
          .groupBy("user_id", "b")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        val grid = agg.groupBy("user_id")
          .agg(min("b").as("lo"), max("b").as("hi"))
          .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("b"))
        val base = Window.partitionBy("user_id").orderBy("b")
        val wp = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        grid.join(agg, Seq("user_id", "b"), "left")
          .withColumn("pb", last(when(col("sum_value").isNotNull, col("b")), ignoreNulls = true).over(wp))
          .withColumn("pv", last(col("sum_value"), ignoreNulls = true).over(wp))
          .withColumn("nb", first(when(col("sum_value").isNotNull, col("b")), ignoreNulls = true).over(wn))
          .withColumn("nv", first(col("sum_value"), ignoreNulls = true).over(wn))
          // NO rounding: the interpolation is pure IEEE arithmetic in the
          // same association on both engines (bit-identical doubles), while
          // round() itself DIVERGES on half-boundary values (Spark rounds
          // the exact decimal of the double, DuckDB multiplies by 1e6 in
          // FP first — 9/105k rows flipped at the 6th decimal)
          .select(col("user_id"), col("b"), coalesce(col("n"), lit(0L)).as("n_events"),
            when(col("sum_value").isNotNull, col("sum_value"))
              .when(col("pb").isNull, col("nv"))
              .when(col("nb").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                (col("b") - col("pb")).cast("double") /
                (col("nb") - col("pb")).cast("double")).as("interp_value"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS b, value FROM events),
             |agg AS (SELECT user_id, b, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |  FROM e GROUP BY user_id, b),
             |bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM agg GROUP BY user_id),
             |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM bounds),
             |j AS (SELECT g.user_id, g.b, coalesce(a.n, 0) AS n_events, a.sum_value
             |  FROM grid g LEFT JOIN agg a USING (user_id, b)),
             |f AS (SELECT user_id, b, n_events, sum_value,
             |  last_value(CASE WHEN sum_value IS NOT NULL THEN b END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             |  last_value(sum_value IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |  first_value(CASE WHEN sum_value IS NOT NULL THEN b END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
             |  first_value(sum_value IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
             |  FROM j)
             |SELECT user_id, b, n_events,
             |  CASE
             |    WHEN sum_value IS NOT NULL THEN sum_value
             |    WHEN pb IS NULL THEN nv
             |    WHEN nb IS NULL THEN pv
             |    ELSE pv + (nv - pv) * (b - pb)::DOUBLE / (nb - pb)::DOUBLE
             |  END AS interp_value
             |FROM f""".stripMargin)),

    // 3-sigma outlier monitoring per event type: the data-quality screen a
    // pipeline runs before ingesting a day's events. Moments come from
    // DECIMAL-exact sum/sum-of-squares (order-independent), so mean/sd are
    // identical doubles on both engines; sqrt is IEEE-correctly-rounded
    // (unlike ln), so the threshold compare is deterministic. Two passes
    // over events; the 5-row moment table broadcasts back.
    Q("q_outliers",
      (s, dir) => {
        val v = T(s, dir, "events")
          .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"))
        val m = v.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("s1"),
            sum(col("v") * col("v")).cast("double").as("s2"))
        val t = m.select(col("event_type"), col("n"), (col("s1") / col("n")).as("mean"),
          sqrt(greatest(col("s2") / col("n") -
            (col("s1") / col("n")) * (col("s1") / col("n")), lit(0.0))).as("sd"))
        T(s, dir, "events").join(broadcast(t), Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("n")).as("n"),
            round(max(col("mean") + lit(3) * col("sd")), 6).as("threshold"),
            sum(when(col("value") > col("mean") + lit(3) * col("sd"), 1)
              .otherwise(0)).cast("long").as("n_outliers"))
      },
      Some("""WITH v AS (SELECT event_type, cast(value AS DECIMAL(18,6)) AS v FROM events),
             |m AS (SELECT event_type, count(*) AS n,
             |  cast(sum(v) AS DOUBLE) AS s1, cast(sum(v * v) AS DOUBLE) AS s2
             |  FROM v GROUP BY event_type),
             |t AS (SELECT event_type, n, s1 / n AS mean,
             |  sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd FROM m)
             |SELECT e.event_type, max(t.n) AS n,
             |  round(max(t.mean + 3 * t.sd), 6) AS threshold,
             |  cast(sum(CASE WHEN e.value > t.mean + 3 * t.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM events e JOIN t USING (event_type)
             |GROUP BY e.event_type""".stripMargin)),

    // Iterative graph rank over a co-activity graph: users purchasing in
    // the same hour link into a per-bucket PATH over the 20 smallest ids
    // (bounded degree by construction — a clique would grow quadratically
    // in hot buckets), then 3 rounds of fixed-point integer PageRank
    // (operators.IterativeRank: 1e-9-scaled BIGINT ranks, integer
    // division) — bit-exact, so the oracle unrolls the same 3 rounds in
    // exact arithmetic. The iterative-numeric-fixpoint operator class
    // beyond GraphCC's label propagation.
    Q("q_pagerank",
      (s, dir) => {
        val p = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), expr("ts DIV 3600000000000").as("b")).distinct()
        val w = Window.partitionBy("b").orderBy("user_id")
        val cap = p.withColumn("r", row_number().over(w)).where(col("r") <= 20)
        val e0 = cap.as("a").join(cap.as("c"),
            col("a.b") === col("c.b") && col("c.r") === col("a.r") + 1)
          .select(col("a.user_id").as("src"), col("c.user_id").as("dst"))
        val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        graft.operators.IterativeRank(e, iters = 3)
          .select(col("u").as("user_id"), col("r").as("rank_fp"))
      },
      Some("""WITH p AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS b FROM events
             |  WHERE event_type = 'purchase'),
             |rk AS (SELECT DISTINCT user_id, b FROM p),
             |w AS (SELECT user_id, b, row_number() OVER (PARTITION BY b ORDER BY user_id) AS r FROM rk),
             |cap AS (SELECT * FROM w WHERE r <= 20),
             |e0 AS (SELECT a.user_id AS src, c.user_id AS dst FROM cap a JOIN cap c
             |  ON a.b = c.b AND c.r = a.r + 1),
             |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
             |n AS (SELECT DISTINCT src AS u FROM e),
             |d AS (SELECT src AS u, count(*) AS deg FROM e GROUP BY 1),
             |r0 AS (SELECT u, 1000000000::BIGINT AS r FROM n),
             |r1 AS (SELECT n.u, 150000000 + (85 * coalesce(sum(r0.r // d.deg), 0)) // 100 AS r
             |  FROM n LEFT JOIN e ON e.dst = n.u LEFT JOIN r0 ON r0.u = e.src
             |  LEFT JOIN d ON d.u = e.src GROUP BY n.u),
             |r2 AS (SELECT n.u, 150000000 + (85 * coalesce(sum(r1.r // d.deg), 0)) // 100 AS r
             |  FROM n LEFT JOIN e ON e.dst = n.u LEFT JOIN r1 ON r1.u = e.src
             |  LEFT JOIN d ON d.u = e.src GROUP BY n.u),
             |r3 AS (SELECT n.u, 150000000 + (85 * coalesce(sum(r2.r // d.deg), 0)) // 100 AS r
             |  FROM n LEFT JOIN e ON e.dst = n.u LEFT JOIN r2 ON r2.u = e.src
             |  LEFT JOIN d ON d.u = e.src GROUP BY n.u)
             |SELECT u AS user_id, cast(r AS BIGINT) AS rank_fp FROM r3""".stripMargin)),

    // Fixed-point exponential smoothing (EWMA, alpha = 1/2) over each
    // user's purchase series: values scale to 1e-6 BIGINTs and the
    // recurrence s := (s + x) >> 1 runs in integer arithmetic, so the
    // inherently-sequential fold is bit-exact and oracle-replayable
    // (list_reduce with no init uses the first element, matching the
    // Spark fold's head-element seed). Per-user state is one long; the
    // fold is row-local over the user's sorted series — the same
    // bounded-by-user-activity shape as q_sessionize. Inputs are
    // non-negative by table contract, so >> 1 and DuckDB's floor-div
    // agree.
    Q("q_ewma",
      (s, dir) => {
        val e = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            floor(col("value") * 1000000 + 0.5).cast("long").as("x"))
        e.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("ts"), col("x")))).as("arr"))
          .select(col("user_id"), col("n"),
            aggregate(expr("slice(arr, 2, size(arr) - 1)"),
              get(col("arr"), lit(0)).getField("x"),
              (acc, r) => shiftright(acc + r.getField("x"), 1)).as("ewma_fp"))
      },
      Some("""SELECT user_id, count(*)::BIGINT AS n,
             |  list_reduce(list(floor(value * 1000000 + 0.5)::BIGINT ORDER BY ts),
             |    (a, b) -> (a + b) // 2) AS ewma_fp
             |FROM events WHERE event_type = 'purchase' GROUP BY user_id""".stripMargin)),

    // Holt linear-trend smoothing (double exponential, alpha = beta = 1/2)
    // per key, entirely in the exact-integer convention: values quantize
    // to 1e-6 BIGINTs, the (level, trend) state folds through
    //   l' = (l + b + x) div 2 ;  b' = (b + l' - l) div 2
    // in event-time order, init l = x2, b = x2 - x1, and the one-step
    // forecast is l + b. Trends go NEGATIVE, so the integer division must
    // truncate toward zero on both engines — Spark `div` and DuckDB `//`
    // both do (the q_acf lesson, re-verified for this gate); a shift
    // (>>1) would FLOOR and diverge on negative trends. The oracle
    // replays the fold with a recursive CTE (DuckDB's list_reduce takes
    // no initial accumulator, and the state is a 2-field struct).
    Q("q_holt",
      (s, dir) => {
        val e = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            floor(col("value") * 1000000 + 0.5).cast("long").as("x"))
        e.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("ts"), col("x")))).as("arr"))
          .where(col("n") >= 2)
          .select(col("user_id"), col("n"),
            expr("""aggregate(
              slice(arr, 3, size(arr) - 2),
              named_struct('l', arr[1].x, 'b', arr[1].x - arr[0].x),
              (acc, r) -> named_struct(
                'l', (acc.l + acc.b + r.x) div 2,
                'b', (acc.b + ((acc.l + acc.b + r.x) div 2) - acc.l) div 2))""").as("st"))
          .select(col("user_id"), col("n"), col("st.l").as("level_fp"),
            col("st.b").as("trend_fp"),
            (col("st.l") + col("st.b")).as("forecast_fp"))
      },
      Some("""WITH RECURSIVE s AS (SELECT user_id,
             |  list(floor(value * 1000000 + 0.5)::BIGINT ORDER BY ts) AS xs
             |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
             |rec AS (
             |  SELECT user_id, xs, 2 AS i, xs[2] AS l, xs[2] - xs[1] AS b
             |  FROM s WHERE len(xs) >= 2
             |  UNION ALL
             |  SELECT user_id, xs, i + 1,
             |    (l + b + xs[i + 1]) // 2,
             |    (b + ((l + b + xs[i + 1]) // 2) - l) // 2
             |  FROM rec WHERE i < len(xs))
             |SELECT user_id, len(xs)::BIGINT AS n, l AS level_fp, b AS trend_fp,
             |  l + b AS forecast_fp
             |FROM rec WHERE i = len(xs)""".stripMargin)),

    // Per-vertex triangle counts on the SAME bounded co-activity graph as
    // q_pagerank, via degree-ordered orientation (operators.TriangleCount):
    // each triangle is found exactly once at its minimum-(deg,id) corner,
    // and orientation bounds every out-degree by O(sqrt(m)), so the wedge
    // join is O(m^1.5) worst case instead of the unoriented sum-of-deg²
    // blow-up. The oracle replays orientation, wedge and closure joins
    // relationally; counts are exact integers.
    Q("q_triangle_count",
      (s, dir) => {
        val p = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), expr("ts DIV 3600000000000").as("b")).distinct()
        val w = Window.partitionBy("b").orderBy("user_id")
        val cap = p.withColumn("r", row_number().over(w)).where(col("r") <= 20)
        val e0 = cap.as("a").join(cap.as("c"),
            col("a.b") === col("c.b") && col("c.r") === col("a.r") + 1)
          .select(col("a.user_id").as("src"), col("c.user_id").as("dst"))
        graft.operators.TriangleCount(e0, "src", "dst")
          .select(col("u").as("user_id"), col("n_tri"))
      },
      Some("""WITH p AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS b FROM events
             |  WHERE event_type = 'purchase'),
             |rk AS (SELECT DISTINCT user_id, b FROM p),
             |w AS (SELECT user_id, b, row_number() OVER (PARTITION BY b ORDER BY user_id) AS r FROM rk),
             |cap AS (SELECT * FROM w WHERE r <= 20),
             |e0 AS (SELECT a.user_id AS src, c.user_id AS dst FROM cap a JOIN cap c
             |  ON a.b = c.b AND c.r = a.r + 1),
             |ud AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |  FROM e0 WHERE src != dst),
             |dg AS (SELECT u, count(*) AS deg FROM
             |  (SELECT a AS u FROM ud UNION ALL SELECT b FROM ud) GROUP BY 1),
             |o AS (SELECT CASE WHEN (da.deg, ud.a) < (db.deg, ud.b) THEN ud.a ELSE ud.b END AS u,
             |  CASE WHEN (da.deg, ud.a) < (db.deg, ud.b) THEN ud.b ELSE ud.a END AS v,
             |  CASE WHEN (da.deg, ud.a) < (db.deg, ud.b) THEN db.deg ELSE da.deg END AS dv
             |  FROM ud JOIN dg da ON da.u = ud.a JOIN dg db ON db.u = ud.b),
             |tri AS (SELECT x.u AS p, x.v AS v, y.v AS w FROM o x JOIN o y
             |  ON y.u = x.u AND (x.dv, x.v) < (y.dv, y.v)
             |  JOIN o z ON z.u = x.v AND z.v = y.v)
             |SELECT u AS user_id, count(*)::BIGINT AS n_tri FROM
             |  (SELECT p AS u FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri)
             |GROUP BY 1""".stripMargin)),

    // Z-ORDER layout key (Morton interleave) over two filter dimensions —
    // the space-filling-curve clustering that makes file-level min/max
    // zone maps prune on BOTH columns of a 2-D range predicate. The key is
    // pure exact integer arithmetic (bit i of x lands at 2^(2i), of y at
    // 2^(2i+1)), row-local, zero shuffle; production use range-partitions
    // by zval before the write (the shuffle a 1-column sort pays anyway).
    // zbucket is the 4096-wide range a file would cover.
    Q("q_zorder",
      (s, dir) => {
        val e = T(s, dir, "events")
          .select(col("event_id"), (col("user_id") % 1024).as("x"),
            (floor(col("value")).cast("long") % 1024).as("y"))
        e.select(col("event_id"), col("x"), col("y"),
            graft.functions.LayoutFunctions.zValue(col("x"), col("y"), bits = 10).as("zval"))
          .withColumn("zbucket", expr("zval DIV 4096"))
      },
      Some("""WITH e AS (SELECT event_id, user_id % 1024 AS x,
             |  floor(value)::BIGINT % 1024 AS y FROM events)
             |SELECT event_id, x, y,
             |  list_sum(list_transform(range(0, 10), i ->
             |    ((x // (1 << i)) % 2) * (1 << (2 * i)) +
             |    ((y // (1 << i)) % 2) * (1 << (2 * i + 1))))::BIGINT AS zval,
             |  (list_sum(list_transform(range(0, 10), i ->
             |    ((x // (1 << i)) % 2) * (1 << (2 * i)) +
             |    ((y // (1 << i)) % 2) * (1 << (2 * i + 1))))::BIGINT // 4096) AS zbucket
             |FROM e""".stripMargin)),

    // k-core of the co-activity graph (k=10): iterative peeling to the
    // maximal subgraph of min-degree 10 — the density filter that separates
    // clique-ish engagement cores from chain/pendant structure. The Spark
    // side peels to the FIXPOINT (operators.KCore, driver state = one
    // Boolean per round); the oracle unrolls 14 peel rounds — the measured
    // fixpoint depth is 11 at sf0.1 (2 at sf0.01, 1 at sf0.001), and extra
    // rounds are exact no-ops once converged, so the unroll equals the
    // fixpoint at every gate scale. (The original 6-round unroll was
    // sf0.01-calibrated and would have diverged at sf0.1 — caught when
    // the sf0.1 sweep's q_kcore first ran to completion.)
    Q("q_kcore",
      (s, dir) => {
        val p = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), expr("ts DIV 3600000000000").as("b")).distinct()
        val w = Window.partitionBy("b").orderBy("user_id")
        val cap = p.withColumn("r", row_number().over(w)).where(col("r") <= 20)
        val e0 = cap.as("a").join(cap.as("c"),
            col("a.b") === col("c.b") && col("c.r") === col("a.r") + 1)
          .select(col("a.user_id").as("src"), col("c.user_id").as("dst"))
        graft.operators.KCore(e0, "src", "dst", k = 10)
          .select(col("u").as("user_id"), col("deg"))
      },
      Some {
        // every unrolled CTE is MATERIALIZED: DuckDB inlines plain CTEs,
        // and e_i references e_{i-1} three times (scan + two NOT IN
        // probes) — inlined, the 6-round unroll expands 3^6 copies of the
        // base scan and dies on open file handles
        val rounds = (1 to 14).map { i =>
          s"""d$i AS MATERIALIZED (SELECT u, count(*) AS deg FROM
             |  (SELECT a AS u FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
             |w$i AS MATERIALIZED (SELECT u FROM d$i WHERE deg < 10),
             |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
             |  WHERE a NOT IN (SELECT u FROM w$i) AND b NOT IN (SELECT u FROM w$i))""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS b FROM events
           |  WHERE event_type = 'purchase'),
           |rk AS (SELECT DISTINCT user_id, b FROM p),
           |w AS (SELECT user_id, b, row_number() OVER (PARTITION BY b ORDER BY user_id) AS r FROM rk),
           |cap AS (SELECT * FROM w WHERE r <= 20),
           |ed AS (SELECT a.user_id AS src, c.user_id AS dst FROM cap a JOIN cap c
           |  ON a.b = c.b AND c.r = a.r + 1),
           |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM ed WHERE src != dst),
           |$rounds
           |SELECT u AS user_id, count(*)::BIGINT AS deg FROM
           |  (SELECT a AS u FROM e14 UNION ALL SELECT b FROM e14) GROUP BY 1""".stripMargin
      }),

    // Time-series RESAMPLING to regular bars (the OHLC downsample): each
    // user's purchase stream folds into 1-hour buckets with open/close by
    // (ts, event_id) order and high/low as extrema — selection aggregates
    // only (min_by/max_by/min/max pick EXISTING doubles, no FP
    // accumulation), so every output is bit-exact regardless of partition
    // or fold order. One shuffle on (user, bar); bars per user are bounded
    // by activity span, never corpus size.
    Q("q_ohlc_bars",
      (s, dir) => {
        val e = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("t"), col("event_id"), col("value"))
          .withColumn("bar", expr("t DIV 3600000000000"))
        e.groupBy("user_id", "bar")
          .agg(count(lit(1)).as("n"),
            min_by(col("value"), struct(col("t"), col("event_id"))).as("open"),
            max(col("value")).as("high"), min(col("value")).as("low"),
            max_by(col("value"), struct(col("t"), col("event_id"))).as("close"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value FROM events
             |  WHERE event_type = 'purchase')
             |SELECT user_id, t // 3600000000000 AS bar, count(*)::BIGINT AS n,
             |  first(value ORDER BY t, event_id) AS open,
             |  max(value) AS high, min(value) AS low,
             |  last(value ORDER BY t, event_id) AS close
             |FROM e GROUP BY 1, 2""".stripMargin)),

    // Trailing 1-hour rolling mean per user via a RANGE window frame over
    // the ns timestamp — the time-proximity window that ROWS frames get
    // wrong under irregular sampling. The frame sum runs in DECIMAL(18,6)
    // (exact, order-independent); one double division at the end. RANGE
    // frames include timestamp peers identically on both engines. Same
    // per-user shuffle/sort as q_sessionize — at 100 TB the window
    // parallelizes over users, the only serial dimension is one user's own
    // history.
    Q("q_rolling_mean",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("t"))
          .rangeBetween(-3600000000000L, 0L)
        T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts").as("t"), col("value"))
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("n_1h"),
            round(sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
              count(lit(1)).over(w), 6).as("mean_1h"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t, value FROM events
             |  WHERE event_type = 'purchase')
             |SELECT user_id, event_id,
             |  count(*) OVER w AS n_1h,
             |  round((sum(value::DECIMAL(18,6)) OVER w)::DOUBLE / (count(*) OVER w), 6) AS mean_1h
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY t
             |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Autocorrelation of each event-type's value series at lags 1..3 —
    // r_k = Σ dev_t·dev_{t+k} / Σ dev_t² over the (ts, event_id)-ordered
    // series. Entirely in the exact-integer convention: values quantize to
    // 1e-6 BIGINT, the mean quantizes through integer floor-division
    // ((2S+n) div 2n — round-half-up, exact for the non-negative value
    // domain), deviations stay BIGINT (products ≤ ~3e17, inside long; the
    // wider-corpus escape is a coarser quantization), and the sums run in
    // decimal(38,0)/HUGEINT — the final acf is the same division of the
    // same integers on both engines, no FP accumulation anywhere. One
    // window pass + one aggregation; lags fan out row-locally.
    Q("q_acf",
      (s, dir) => {
        val ev = T(s, dir, "events").select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vq"))
        val st = ev.groupBy("event_type").agg(count(lit(1)).as("n"), sum("vq").as("sv"))
        val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        val dev = ev.join(broadcast(st), "event_type")
          .withColumn("dev", col("vq") - expr("(2 * sv + n) div (2 * n)"))
          .withColumn("d1", lead("dev", 1).over(w))
          .withColumn("d2", lead("dev", 2).over(w))
          .withColumn("d3", lead("dev", 3).over(w))
        def p(a: String, b: String) =
          sum((col(a).cast("decimal(19,0)") * col(b).cast("decimal(19,0)")))
        val agg = dev.groupBy("event_type").agg(
          p("dev", "dev").as("den"),
          p("dev", "d1").as("n1"), p("dev", "d2").as("n2"), p("dev", "d3").as("n3"))
        // the quotient truncates to 1e-9 units in EXACT integer arithmetic
        // (Spark div == DuckDB // : both toward zero) — a double division
        // of two >2^53 integers is 1-ulp engine-dependent, measured here
        agg.select(col("event_type"), explode(array((1 to 3).map(k =>
            struct(lit(k).as("lag"),
              (expr(s"(n$k * 1000000000) div den").cast("double") / 1e9).as("acf"))): _*)).as("x"))
          .select(col("event_type"), col("x.lag").as("lag"), col("x.acf").as("acf"))
      },
      Some("""WITH ev AS (SELECT event_type, epoch_ns(ts) AS tns, event_id,
             |  CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq FROM events),
             |st AS (SELECT event_type, count(*) AS n, CAST(sum(vq) AS BIGINT) AS sv
             |  FROM ev GROUP BY 1),
             |d AS (SELECT e.event_type, e.tns, e.event_id,
             |  e.vq - ((2 * st.sv + st.n) // (2 * st.n)) AS dev
             |  FROM ev e JOIN st USING (event_type)),
             |l AS (SELECT event_type, dev,
             |  lead(dev, 1) OVER w AS d1, lead(dev, 2) OVER w AS d2,
             |  lead(dev, 3) OVER w AS d3
             |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY tns, event_id)),
             |a AS (SELECT event_type, sum(dev::HUGEINT * dev) AS den,
             |  sum(dev::HUGEINT * d1) AS n1, sum(dev::HUGEINT * d2) AS n2,
             |  sum(dev::HUGEINT * d3) AS n3
             |  FROM l GROUP BY 1)
             |SELECT event_type, lag, acf FROM (
             |  SELECT event_type, 1 AS lag, ((n1 * 1000000000) // den)::DOUBLE / 1e9 AS acf FROM a
             |  UNION ALL SELECT event_type, 2, ((n2 * 1000000000) // den)::DOUBLE / 1e9 FROM a
             |  UNION ALL SELECT event_type, 3, ((n3 * 1000000000) // den)::DOUBLE / 1e9 FROM a)""".stripMargin)),

    // Per-group rank/quantile normalization — the feature-preprocessing
    // transform (map each value to its within-group percent rank): rank by
    // (quantized value, event_id) for total determinism, pr_e4 =
    // (r-1)*10000 div (n-1) in exact integers. Partitioned by user, so
    // the window never needs a global sort — the 100 TB shape.
    Q("q_rank_norm",
      (s, dir) => {
        val e = T(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vq"))
        val w = Window.partitionBy("user_id").orderBy(col("vq"), col("event_id"))
        e.withColumn("r", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
          .select(col("event_id"), col("user_id"),
            when(col("n") > 1, expr("(r - 1) * 10000 div (n - 1)"))
              .otherwise(lit(0L)).as("pr_e4"))
      },
      Some("""WITH e AS (SELECT event_id, user_id,
             |  CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT event_id, user_id,
             |  row_number() OVER (PARTITION BY user_id ORDER BY vq, event_id) AS r,
             |  count(*) OVER (PARTITION BY user_id) AS n FROM e)
             |SELECT event_id, user_id,
             |  CASE WHEN n > 1 THEN ((r - 1) * 10000) // (n - 1) ELSE 0 END AS pr_e4
             |FROM r""".stripMargin)),

    // Cross-correlation between two event-type series (the ACF's
    // cross-series sibling): hourly click counts vs purchase counts on the
    // DENSE global hour grid (missing hours are real zeros — skipping them
    // would bias every deviation), integer-rounded means via the ACF's
    // (2s+n) div (2n) trick, and lags 0..2 of y against x. Numerators and
    // both denominators are emitted as EXACT integers — the sqrt(den_x *
    // den_y) normalization is the caller's one FP step, kept out of the
    // hashed value entirely (more conservative than q_acf's 1e-9
    // truncated quotient). The lag window is a SINGLE-partition sort by
    // design and bounded by design: the dense grid has one row per hour
    // of the time range — O(span), independent of corpus row count.
    Q("q_ccf",
      (s, dir) => {
        val HR = 3600L * 1000000000L
        val ev = T(s, dir, "events")
          .select(col("event_type"), expr(s"ts div ${HR}L").as("h"))
        def series(t: String) = ev.where(col("event_type") === t)
          .groupBy("h").agg(count(lit(1)).as("c"))
        val span = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val grid = span.select(explode(sequence(col("h0"), col("h1"))).as("h"))
        val xy = grid
          .join(series("click").withColumnRenamed("c", "x"), Seq("h"), "left")
          .join(series("purchase").withColumnRenamed("c", "y"), Seq("h"), "left")
          .select(col("h"), coalesce(col("x"), lit(0L)).as("x"),
            coalesce(col("y"), lit(0L)).as("y"))
        val st = xy.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"))
        val w = Window.orderBy(col("h"))
        val dev = xy.join(broadcast(st), expr("true"))
          .withColumn("dx", col("x") - expr("(2 * sx + n) div (2 * n)"))
          .withColumn("dy", col("y") - expr("(2 * sy + n) div (2 * n)"))
          .withColumn("y1", lead("dy", 1).over(w))
          .withColumn("y2", lead("dy", 2).over(w))
        def p(a: String, b: String) =
          sum(col(a).cast("decimal(19,0)") * col(b).cast("decimal(19,0)")).cast("long")
        val agg = dev.agg(
          p("dx", "dx").as("den_x"), p("dy", "dy").as("den_y"),
          p("dx", "dy").as("n0"), p("dx", "y1").as("n1"), p("dx", "y2").as("n2"))
        agg.select(explode(array((0 to 2).map(k =>
            struct(lit(k).as("lag"), col(s"n$k").as("num"),
              col("den_x"), col("den_y"))): _*)).as("s"))
          .select(col("s.lag"), col("s.num"), col("s.den_x"), col("s.den_y"))
      },
      Some("""WITH ev AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS h FROM events),
             |grid AS (SELECT unnest(range((SELECT min(h) FROM ev),
             |  (SELECT max(h) FROM ev) + 1)) AS h),
             |cs AS (SELECT h, count(*)::BIGINT AS c FROM ev WHERE event_type = 'click' GROUP BY 1),
             |ps AS (SELECT h, count(*)::BIGINT AS c FROM ev WHERE event_type = 'purchase' GROUP BY 1),
             |xy AS (SELECT g.h, coalesce(cs.c, 0) AS x, coalesce(ps.c, 0) AS y
             |  FROM grid g LEFT JOIN cs ON cs.h = g.h LEFT JOIN ps ON ps.h = g.h),
             |st AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy FROM xy),
             |d AS (SELECT xy.h,
             |  xy.x - ((2 * st.sx + st.n) // (2 * st.n)) AS dx,
             |  xy.y - ((2 * st.sy + st.n) // (2 * st.n)) AS dy
             |  FROM xy, st),
             |l AS (SELECT h, dx, dy,
             |  lead(dy, 1) OVER (ORDER BY h) AS y1,
             |  lead(dy, 2) OVER (ORDER BY h) AS y2 FROM d),
             |a AS (SELECT sum(dx::HUGEINT * dx)::BIGINT AS den_x,
             |  sum(dy::HUGEINT * dy)::BIGINT AS den_y,
             |  sum(dx::HUGEINT * dy)::BIGINT AS n0,
             |  sum(dx::HUGEINT * y1)::BIGINT AS n1,
             |  sum(dx::HUGEINT * y2)::BIGINT AS n2 FROM l)
             |SELECT lag, num, den_x, den_y FROM (
             |  SELECT 0 AS lag, n0 AS num, den_x, den_y FROM a
             |  UNION ALL SELECT 1, n1, den_x, den_y FROM a
             |  UNION ALL SELECT 2, n2, den_x, den_y FROM a)""".stripMargin)),

    // Banded range join (time-proximity self-join): pairs of events by the
    // same user within 5 minutes, via RangeJoin's bucketed equi-join (the
    // naive inequality join is a nested loop — see RangeJoin scaladoc).
    Q("q_range_join",
      (s, dir) => {
        val e = T(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"))
        graft.operators.RangeJoin(e, e, Seq("user_id"), "ts", 300000000000L)
          .where(col("l_event_id") < col("r_event_id"))
          .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      },
      Some("""SELECT a.user_id, count(*) AS n_pairs
             |FROM events a JOIN events b
             |ON a.user_id = b.user_id AND a.event_id < b.event_id
             |AND abs(epoch_ns(a.ts) - epoch_ns(b.ts)) <= 300000000000
             |GROUP BY a.user_id""".stripMargin)),

    // interval-OVERLAP join (variable-length intervals — the fixed-band
    // case is q_range_join): per-event intervals of 10–70 min (length a
    // deterministic function of event_id) pair when they intersect.
    // IntervalJoin explodes each interval onto 30-min grid cells, joins
    // (user_id, cell), and keeps each pair only in its canonical cell —
    // exactly-once pairs without a distinct-shuffle; the oracle is the
    // direct inequality self-join.
    Q("q_interval_join",
      (s, dir) => {
        val iv = T(s, dir, "events").where(col("user_id") % 5 === 0)
          .select(col("user_id"), col("event_id"), col("ts").as("s_ns"),
            (col("ts") + (col("event_id") % 7 + 1) * lit(600000000000L)).as("e_ns"))
        graft.operators.IntervalJoin(
            iv.withColumnRenamed("event_id", "id1"),
            iv.withColumnRenamed("event_id", "id2"),
            Seq("user_id"), "s_ns", "e_ns", bucket = 1800000000000L)
          .where(col("l_id1") < col("r_id2"))
          .select(col("user_id"), col("l_id1").as("id1"), col("r_id2").as("id2"),
            (least(col("l_e_ns"), col("r_e_ns"))
              - greatest(col("l_s_ns"), col("r_s_ns"))).as("overlap_ns"))
      },
      Some("""WITH iv AS (SELECT event_id, user_id, epoch_ns(ts) AS s,
             |  epoch_ns(ts) + (event_id % 7 + 1) * 600000000000 AS e
             |  FROM events WHERE user_id % 5 = 0)
             |SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
             |  least(a.e, b.e) - greatest(a.s, b.s) AS overlap_ns
             |FROM iv a JOIN iv b
             |ON a.user_id = b.user_id AND a.event_id < b.event_id
             |AND a.s <= b.e AND b.s <= a.e""".stripMargin)),

    // EXACT edit-distance similarity join via PassJoin partition blocking
    // (Li et al., PVLDB 2011): the indexed side emits its d+1 segments,
    // the probe side every ±d-shifted substring that could contain one,
    // and a residual levenshtein verifies candidates. The pigeonhole makes
    // blocking complete (no false negatives), so the oracle is the naive
    // all-pairs filter while the Spark plan is one equi-join on
    // (length, segment-index, segment) — all-pairs never materializes.
    Q("q_fuzzy_join",
      (s, dir) => {
        val c = T(s, dir, "customer")
        graft.operators.FuzzyJoin.edJoin(
            c.where(col("c_custkey") < 200)
              .select(col("c_custkey").as("id1"), col("c_name").as("s1")),
            c.select(col("c_custkey").as("id2"), col("c_name").as("s2")),
            d = 1)
          .where(col("id1") < col("id2"))
          .select(col("id1"), col("id2"), col("dist"))
      },
      Some("""SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             |  levenshtein(a.c_name, b.c_name) AS dist
             |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |WHERE a.c_custkey < 200
             |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin)),

    // Fuzzy-key dedup clusters: transitive closure over the Levenshtein-1
    // pair graph (FuzzyJoin × GraphCC — record linkage's dedup step). The
    // mod-37 id slice keeps the graph NON-degenerate: zero-padded decimal
    // names chain into one giant component under any contiguous or
    // single-digit-aligned slice (every ±1-digit neighbor is distance 1),
    // while 37k/37k+1 twins sit ≥2 digits from other groups — many small
    // clusters, including size-1 singletons where the twin crosses a
    // carry (…59 → …60 is TWO substitutions). The oracle replays the
    // closure as a recursive CTE.
    Q("q_fuzzy_clusters",
      (s, dir) => graft.api.Graft.fuzzyDedupClusters(
        T(s, dir, "customer").where(col("c_custkey") % 37 <= 1),
        "c_custkey", "c_name", maxDist = 1),
      Some("""WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS nm
             |  FROM customer WHERE c_custkey % 37 <= 1),
             |e AS (SELECT a.id AS s, b.id AS t FROM c a JOIN c b
             |  ON a.id <> b.id AND levenshtein(a.nm, b.nm) <= 1),
             |reach(s, t) AS (SELECT id, id FROM c
             |  UNION SELECT r.s, e.t FROM reach r JOIN e ON e.s = r.t),
             |comp AS (SELECT s AS id, min(t) AS cluster FROM reach GROUP BY s),
             |sz AS (SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY 1)
             |SELECT comp.id, comp.cluster, sz.cluster_size
             |FROM comp JOIN sz USING (cluster)""".stripMargin)),

    // The FuzzyJoinRewrite optimizer rule under the driver gate (the
    // q_band_rewrite pattern): a deliberately NAIVE key-less
    // levenshtein(n1, n2) <= 1 join — the shape Spark plans as a
    // nested-loop product — must re-plan through the PassJoin blocked
    // equi-join (with the canonical-witness exactly-once predicate) and
    // match DuckDB's naive evaluation. The gate throws if the rewrite
    // stopped firing, so it can't silently regress to the product plan
    // and still pass. The rule is one of the session's join rewrites
    // (plans.JoinRewrites), installed by Q.run before this body plans.
    Q("q_fuzzy_rewrite",
      (s, dir) => {
        val c = T(s, dir, "customer")
        val l = c.where(col("c_custkey") < 150)
          .select(col("c_custkey").as("id1"), col("c_name").as("n1"))
        val r = c.select(col("c_custkey").as("id2"), col("c_name").as("n2"))
        val joined = l.join(r, levenshtein(col("n1"), col("n2")) <= 1)
          .where(col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            levenshtein(col("n1"), col("n2")).as("dist"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          "FuzzyJoinRewrite did not fire; levenshtein join planned as a product")
        joined
      },
      Some("""SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             |  levenshtein(a.c_name, b.c_name) AS dist
             |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |WHERE a.c_custkey < 150
             |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin)),

    // the BandJoinRewrite optimizer rule under the driver gate: a
    // deliberately KEY-LESS |t1 - t2| <= 10min self-join (the shape Spark
    // plans as a nested-loop product) runs through the rewritten bucketed
    // hash join and must match DuckDB's naive evaluation. The gate throws
    // if the rewrite stopped firing, so it can't silently regress to the
    // nested-loop plan and still pass. The rule is one of the session's
    // join rewrites (plans.JoinRewrites), installed by Q.run before this
    // body plans.
    Q("q_band_rewrite",
      (s, dir) => {
        val e = T(s, dir, "events").where(col("user_id") % 7 === 0)
        val l = e.select(col("event_id").as("id1"), col("ts").as("t1"))
        val r = e.select(col("event_id").as("id2"), col("ts").as("t2"))
        val joined = l.join(r, abs(col("t1") - col("t2")) <= 3600000000000L)
          .where(col("id1") < col("id2"))
          .select(col("id1"), col("id2"), (col("t2") - col("t1")).as("dt_ns"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          s"BandJoinRewrite did not fire; band join planned as a product")
        joined
      },
      Some("""WITH e AS (SELECT event_id, epoch_ns(ts) AS t FROM events
             |  WHERE user_id % 7 = 0)
             |SELECT a.event_id AS id1, b.event_id AS id2, b.t - a.t AS dt_ns
             |FROM e a JOIN e b
             |ON a.event_id < b.event_id AND abs(a.t - b.t) <= 3600000000000""".stripMargin)),

    // distribution drift between two corpus snapshots: PSI per event_type
    // over 10 fixed 50-wide value buckets (clamped tails), Laplace-smoothed
    // so empty buckets stay defined, each bucket term quantized to 1e-8 and
    // summed in exact BIGINT (the DSIR/BM25 determinism convention). The
    // "snapshots" are the deterministic event_id parity split.
    Q("q_psi_drift",
      (s, dir) => {
        val e = T(s, dir, "events")
        graft.functions.ProfileFunctions.psi(
          e.where(col("event_id") % 2 === 0), e.where(col("event_id") % 2 === 1),
          "value", Seq("event_type"))
      },
      Some {
        // sum form ln(a)+ln(b)-ln(c)-ln(d), mirroring psiFromCounts: no
        // count product that could wrap BIGINT or leave lnPoly's exact
        // integer domain (ADVICE r8)
        val lnA = graft.functions.TextFunctions.lnPolySql("ccnt+1")
        val lnB = graft.functions.TextFunctions.lnPolySql("nr+10")
        val lnC = graft.functions.TextFunctions.lnPolySql("rcnt+1")
        val lnD = graft.functions.TextFunctions.lnPolySql("nc+10")
        s"""WITH r AS (SELECT event_type,
           |  CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS b,
           |  count(*) AS cnt FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
           |c AS (SELECT event_type,
           |  CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS b,
           |  count(*) AS cnt FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2),
           |grid AS (SELECT g.event_type, t.b
           |  FROM (SELECT DISTINCT event_type FROM events) g
           |  CROSS JOIN (SELECT unnest(range(10)) AS b) t),
           |j AS (SELECT grid.event_type, grid.b,
           |  coalesce(r.cnt, 0) AS rcnt, coalesce(c.cnt, 0) AS ccnt
           |  FROM grid LEFT JOIN r USING (event_type, b)
           |  LEFT JOIN c USING (event_type, b)),
           |t AS (SELECT *, sum(rcnt) OVER (PARTITION BY event_type) AS nr,
           |  sum(ccnt) OVER (PARTITION BY event_type) AS nc FROM j),
           |q AS (SELECT event_type, nr, nc,
           |  CAST(floor((((ccnt+1.0)/(nc+10)) - ((rcnt+1.0)/(nr+10)))
           |    * ($lnA + $lnB - $lnC - $lnD) * 100000000.0 + 0.5) AS BIGINT) AS q8
           |  FROM t)
           |SELECT event_type, CAST(max(nr) AS BIGINT) AS n_ref,
           |  CAST(max(nc) AS BIGINT) AS n_cur,
           |  CAST(CAST(floor(CAST(sum(q8) AS DOUBLE) / 100.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS psi
           |FROM q GROUP BY event_type""".stripMargin
      }),

    // one-pass column profile (the deequ-style constraint metrics): row
    // count, completeness, exact distinctness, typed min/max per column —
    // numerics compared in native order, never lexicographically. One
    // aggregation over the table, pivoted to a row per column.
    Q("q_profile",
      (s, dir) => graft.functions.ProfileFunctions.profile(
        T(s, dir, "orders"),
        numCols = Seq("o_custkey", "o_totalprice"),
        strCols = Seq("o_orderstatus", "o_orderpriority")),
      Some {
        def num(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
             |count(DISTINCT $c) AS n_distinct, round(count($c) / count(*), 6) AS completeness,
             |CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
             |CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
             |FROM orders""".stripMargin
        def str(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
             |count(DISTINCT $c) AS n_distinct, round(count($c) / count(*), 6) AS completeness,
             |CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
             |min($c) AS min_str, max($c) AS max_str
             |FROM orders""".stripMargin
        Seq(num("o_custkey"), num("o_totalprice"),
            str("o_orderstatus"), str("o_orderpriority")).mkString("\nUNION ALL\n")
      }),

    Q("q_asof_join",
      (s, dir) => AsOfJoin(
          // ts arrives as ns-long (T.normTs); values are us-aligned
          T(s, dir, "events").withColumn("ts_t",
            timestamp_micros((col("ts") / 1000).cast("long"))),
          T(s, dir, "orders"),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts_t", rightTime = "o_orderdate",
          payload = "o_orderdate", payloadOut = "matched")
        .where(col("matched").isNotNull)
        .select(col("event_id"), col("user_id"),
                date_format(col("matched"), "yyyy-MM-dd").as("order_date")),
      Some("""SELECT e.event_id, e.user_id, strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
             |FROM events e ASOF JOIN orders o
             |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin)),

    // as-of, forward direction: least rightTime >= leftTime (inclusive) —
    // the same one-shuffle union+window plan with the tie ordering
    // reversed. Each order attaches the FIRST event of its customer at or
    // after the order date (orders are 1995–2001, events 2024, so forward
    // genuinely scans ahead; the reverse pairing would be vacuously
    // empty). Both sides normalize to ns-long via T.normTs, so the union
    // never mixes timestamp flavors and distances stay exact integers.
    Q("q_asof_forward",
      (s, dir) => {
        val ord = T.normTs(T(s, dir, "orders").withColumn("ts", col("o_orderdate")))
          .select(col("o_orderkey"), col("o_custkey"), col("ts").as("od_ns"))
        val ev = T(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"))
        AsOfJoin(ord, ev, leftKey = "o_custkey", rightKey = "user_id",
            leftTime = "od_ns", rightTime = "ts",
            payload = "event_id", payloadOut = "matched_event",
            direction = "forward")
          .where(col("matched_event").isNotNull)
          .select(col("o_orderkey"), col("o_custkey"), col("matched_event"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_ns(ts) AS t, max(event_id) AS pay
             |  FROM events GROUP BY 1, 2),
             |f AS (SELECT o.o_orderkey, o.o_custkey, min(ev.t) AS mt
             |  FROM orders o JOIN ev ON ev.user_id = o.o_custkey
             |  AND ev.t >= epoch_ns(o.o_orderdate)
             |  GROUP BY 1, 2)
             |SELECT f.o_orderkey, f.o_custkey, ev.pay AS matched_event
             |FROM f JOIN ev ON ev.user_id = f.o_custkey AND ev.t = f.mt""".stripMargin)),

    // as-of, nearest direction: smaller absolute time distance wins, ties
    // to the backward match — distances compared in exact integer ns on
    // both engines, never doubles, so the tie rule cannot flip at an FP
    // boundary. Every event snaps to its user's nearest REFERENCE event
    // (the event_id % 20 sample), so both directions are live and the
    // choice is a real distance comparison per row.
    Q("q_asof_nearest",
      (s, dir) => {
        val ev = T(s, dir, "events")
        AsOfJoin(
            ev.select(col("event_id"), col("user_id"), col("ts")),
            ev.where(col("event_id") % 20 === 0)
              .select(col("user_id"), col("ts"), col("event_id")),
            leftKey = "user_id", rightKey = "user_id",
            leftTime = "ts", rightTime = "ts",
            payload = "event_id", payloadOut = "matched_ref",
            direction = "nearest")
          .where(col("matched_ref").isNotNull)
          .select(col("event_id"), col("user_id"), col("matched_ref"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_ns(ts) AS t, event_id FROM events),
             |ref AS (SELECT user_id, epoch_ns(ts) AS t, max(event_id) AS pay
             |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2),
             |b AS (SELECT e.event_id, max(r.t) AS bt FROM ev e
             |  JOIN ref r ON r.user_id = e.user_id AND r.t <= e.t GROUP BY 1),
             |f AS (SELECT e.event_id, min(r.t) AS ft FROM ev e
             |  JOIN ref r ON r.user_id = e.user_id AND r.t >= e.t GROUP BY 1),
             |sel AS (SELECT e.event_id, e.user_id, CASE
             |  WHEN b.bt IS NULL THEN f.ft
             |  WHEN f.ft IS NULL THEN b.bt
             |  WHEN e.t - b.bt <= f.ft - e.t THEN b.bt
             |  ELSE f.ft END AS mt
             |  FROM ev e
             |  LEFT JOIN b ON b.event_id = e.event_id
             |  LEFT JOIN f ON f.event_id = e.event_id
             |  WHERE b.bt IS NOT NULL OR f.ft IS NOT NULL)
             |SELECT sel.event_id, sel.user_id, r.pay AS matched_ref
             |FROM sel JOIN ref r ON r.user_id = sel.user_id AND r.t = sel.mt""".stripMargin)),

    Q("q_multimodal_meta",
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
                substring(md5(col("text")), 1, 8).as("checksum")),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |substring(md5(text), 1, 8) AS checksum FROM documents""".stripMargin)),

    // Multimodal decode, fallback backend: text bytes are not a
    // recognizable image, so Multimodal.decode routes them through the
    // deterministic stub codec (the quarantine path for corrupt payloads);
    // the stub's pixels are a deterministic function of the payload bytes
    // (byte i%len cycled into an 8x8 gray frame), so the DuckDB oracle
    // recomputes them from the same ASCII text payload.
    // mean = integer-sum / 2^6 — exact.
    Q("q_multimodal_decode",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        graft.multimodal.Multimodal.decode(payload, "doc_id", "payload")
          .map { d =>
            var acc = 0.0; var i = 0
            while (i < d.pixels.length) { acc += d.pixels(i); i += 1 }
            (d.id, d.meta.width, d.meta.height, acc / 64.0)
          }
          .toDF("doc_id", "width", "height", "mean_px")
      },
      Some("""SELECT doc_id, 8 AS width, 8 AS height,
             |list_sum(list_transform(range(0, 64),
             |  i -> ascii(substr(text, (i % len(text))::INT + 1, 1))))::DOUBLE / 64.0 AS mean_px
             |FROM documents""".stripMargin)),

    // Multimodal decode, REAL codec path: each doc's text bytes are drawn
    // into an 8x8 gray image, PNG-encoded in-query, and decoded back through
    // javax.imageio (the JDK's PNG codec — no external deps). PNG gray8 is
    // lossless, so decoded pixels equal the source bytes exactly and the
    // oracle recomputes the mean from the same ASCII payload; the fmt/ch
    // columns prove the imageio path ran (the stub would report
    // 'stub-gray8'). mean = integer-sum / 2^6 — exact.
    Q("q_multimodal_decode_png",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, text) =>
            val bytes = text.getBytes("UTF-8")
            val px = Array.tabulate(64)(i =>
              if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff)
            (id, graft.multimodal.Multimodal.encodeGrayPng(8, 8, px))
          }.toDF("doc_id", "payload")
        graft.multimodal.Multimodal.decode(payload, "doc_id", "payload")
          .map { d =>
            var acc = 0.0; var i = 0
            while (i < d.pixels.length) { acc += d.pixels(i); i += 1 }
            (d.id, d.meta.format, d.meta.width, d.meta.height, d.meta.channels, acc / 64.0)
          }
          .toDF("doc_id", "fmt", "width", "height", "channels", "mean_px")
      },
      Some("""SELECT doc_id, 'png' AS fmt, 8 AS width, 8 AS height, 1 AS channels,
             |list_sum(list_transform(range(0, 64),
             |  i -> ascii(substr(text, (i % len(text))::INT + 1, 1))))::DOUBLE / 64.0 AS mean_px
             |FROM documents""".stripMargin)),

    // decode -> resize pipeline end-to-end: stub-decoded 8x8 byte frames
    // resized to 4x4 through the real order-1 zoom kernel; the oracle
    // recomputes the bilinear resample from the ASCII payload with the
    // kernel's exact corner association (adjusted_coef 7/3; clamped
    // corners carry weight exactly 0, so the coalesced 0 reads are inert).
    // Per-pixel rows, so no cross-row FP sum order is involved.
    Q("q_multimodal_resize",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        graft.multimodal.Multimodal.resize(
            graft.multimodal.Multimodal.decode(payload, "doc_id", "payload"), 4, 4)
          .flatMap(d => d.pixels.zipWithIndex.map { case (v, p) => (d.id, p.toLong, v) })
          .toDF("doc_id", "pos", "v")
          .select(col("doc_id"), col("pos"), round(col("v"), 4).as("v"))
      },
      Some {
        def c(x: String) = s"($x * (7.0 / 3.0))"
        def f(x: String) = s"floor(${c(x)})"
        def pix(ri: String, ci: String) =
          s"(CASE WHEN $ri <= 7 AND $ci <= 7 THEN " +
            s"ascii(substr(text, ((($ri) * 8 + ($ci)) % len(text))::INT + 1, 1)) " +
            "ELSE 0.0 END)"
        val (fa, fb) = (s"cast(${f("ra.a")} AS INT)", s"cast(${f("rb.b")} AS INT)")
        val (da, db) = (s"(${c("ra.a")} - ${f("ra.a")})", s"(${c("rb.b")} - ${f("rb.b")})")
        s"""SELECT doc_id, (ra.a * 4 + rb.b)::BIGINT AS pos, round(
           |  (1.0 * (1 - $da) * (1 - $db)) * ${pix(fa, fb)}
           |+ (1.0 * $da * (1 - $db)) * ${pix(s"($fa + 1)", fb)}
           |+ (1.0 * (1 - $da) * $db) * ${pix(fa, s"($fb + 1)")}
           |+ (1.0 * $da * $db) * ${pix(s"($fa + 1)", s"($fb + 1)")}, 4) AS v
           |FROM documents CROSS JOIN range(4) ra(a) CROSS JOIN range(4) rb(b)""".stripMargin
      }),

    // JPEG codec path: same in-query image, JPEG-encoded via imageio's JDK
    // JPEG writer and decoded back through the JPEG reader. JPEG is lossy
    // and decoder-implementation-specific, so the gate holds the decode
    // METADATA (format sniffed from the payload, dimensions, band count,
    // all deterministic) plus a payload sanity floor — pixel values are
    // spec'd in MultimodalSpec, not hashed here.
    Q("q_multimodal_decode_jpeg",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, text) =>
            val bytes = text.getBytes("UTF-8")
            val img = new java.awt.image.BufferedImage(8, 8,
              java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val r = img.getRaster
            var i = 0
            while (i < 64) {
              r.setSample(i % 8, i / 8, 0,
                if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff)
              i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            (id, bos.toByteArray)
          }.toDF("doc_id", "payload")
        graft.multimodal.Multimodal.decode(payload, "doc_id", "payload")
          .map(d => (d.id, d.meta.format, d.meta.width, d.meta.height,
            d.meta.channels, d.pixels.length >= 64))
          .toDF("doc_id", "fmt", "width", "height", "channels", "full_frame")
      },
      Some("""SELECT doc_id, 'jpeg' AS fmt, 8 AS width, 8 AS height,
             |1 AS channels, true AS full_frame FROM documents""".stripMargin)),

    // Image near-dup detection: 64-bit average hash (aHash) of each decoded
    // frame, hamming-<=3 pairs found by 4x16-bit pigeonhole band blocking
    // (<=3 differing bits over 4 bands leave at least one band identical —
    // never all-pairs) with the standard per-bucket 64-cap. The hash bit
    // rule is the cross-multiplied integer-exact px*n > sum, and the stub
    // codec's pixels are a deterministic function of the payload, so the
    // oracle replays the whole hash in exact arithmetic. At 100 TB only
    // (band, 16-bit key) pairs shuffle — two longs per image, not pixels.
    Q("q_image_phash",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        val hashes = graft.multimodal.Multimodal.decode(payload, "doc_id", "payload")
          .map { d =>
            val (lo, hi) = graft.multimodal.Multimodal.averageHash64(d.pixels)
            (d.id, lo, hi)
          }.toDF("doc_id", "h_lo", "h_hi")
        val bands = hashes.select(col("doc_id"), col("h_lo"), col("h_hi"),
          posexplode(array(
            col("h_lo").bitwiseAND(lit(65535L)),
            shiftright(col("h_lo"), 16).bitwiseAND(lit(65535L)),
            col("h_hi").bitwiseAND(lit(65535L)),
            shiftright(col("h_hi"), 16).bitwiseAND(lit(65535L)))).as(Seq("band", "bh")))
        graft.operators.LshBlocking
          .candidatePairs(bands, "band", "bh", "doc_id", cap = 64,
            carry = Seq("h_lo", "h_hi"))
          .distinct()
          .select(col("id1"), col("id2"),
            (bit_count(col("h_lo_1").bitwiseXOR(col("h_lo_2"))) +
              bit_count(col("h_hi_1").bitwiseXOR(col("h_hi_2")))).cast("int").as("hamming"))
          .where(col("hamming") <= 3)
      },
      Some("""WITH p AS (SELECT doc_id,
             |  list_transform(range(0, 64), i -> ascii(substr(text, (i % len(text))::INT + 1, 1))) AS px
             |  FROM documents),
             |h AS (SELECT doc_id, px, list_sum(px)::BIGINT AS s FROM p),
             |hh AS (SELECT doc_id,
             |  cast(list_sum(list_transform(range(0, 32), i ->
             |    CASE WHEN px[i + 1] * 64 > s THEN (1::BIGINT << i::INT) ELSE 0 END)) AS BIGINT) AS h_lo,
             |  cast(list_sum(list_transform(range(0, 32), i ->
             |    CASE WHEN px[i + 33] * 64 > s THEN (1::BIGINT << i::INT) ELSE 0 END)) AS BIGINT) AS h_hi
             |  FROM h),
             |bands AS (
             |  SELECT doc_id, h_lo, h_hi, 0 AS band, h_lo & 65535 AS bh FROM hh
             |  UNION ALL SELECT doc_id, h_lo, h_hi, 1, (h_lo >> 16) & 65535 FROM hh
             |  UNION ALL SELECT doc_id, h_lo, h_hi, 2, h_hi & 65535 FROM hh
             |  UNION ALL SELECT doc_id, h_lo, h_hi, 3, (h_hi >> 16) & 65535 FROM hh),
             |keptb AS (SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 64),
             |kb AS (SELECT b.* FROM bands b JOIN keptb USING (band, bh)),
             |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
             |  cast(bit_count(xor(x.h_lo, y.h_lo)) + bit_count(xor(x.h_hi, y.h_hi)) AS INT) AS hamming
             |  FROM kb x JOIN kb y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
             |SELECT id1, id2, hamming FROM cand WHERE hamming <= 3""".stripMargin)),

    // Audio columns, REAL container path: deterministic 16-bit PCM samples
    // (derived from doc_id) are packed into a genuine RIFF/WAVE payload
    // in-query, then parsed back by the engine's WAV decoder (format
    // itself, no codec library — fully deterministic). PCM is lossless, so
    // decoded samples equal the source formula exactly and the oracle
    // recomputes rate/count/mean from the same formula; fmt proves the
    // parser ran (the stub path would report 'stub-pcm').
    // mean = integer-sum / 2^6 — exact.
    Q("q_multimodal_audio",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val samples = Array.tabulate(64)(i =>
              ((id * 31 + i * 7) % 4096 - 2048).toShort)
            (id, graft.multimodal.Multimodal.encodeWavPcm16(8000, samples))
          }.toDF("doc_id", "payload")
        graft.multimodal.Multimodal.decodeAudio(payload, "doc_id", "payload")
          .map { d =>
            var acc = 0.0; var i = 0
            while (i < d.samples.length) { acc += d.samples(i); i += 1 }
            (d.id, d.meta.format, d.meta.sampleRate, d.meta.nSamples, acc / 64.0)
          }
          .toDF("doc_id", "fmt", "sample_rate", "n_samples", "mean_amp")
      },
      Some("""SELECT doc_id, 'wav-pcm16' AS fmt, 8000 AS sample_rate, 64 AS n_samples,
             |list_sum(list_transform(range(0, 64),
             |  i -> (doc_id * 31 + i * 7) % 4096 - 2048))::DOUBLE / 64.0 AS mean_amp
             |FROM documents""".stripMargin)),

    // decode -> resample pipeline for audio: the 64-sample WAV stream
    // resampled to 16 through the real order-1 zoom kernel (the audio
    // analog of q_multimodal_resize). adjusted_coef = 63/15; the clamped
    // right neighbor at the last output sample carries weight exactly 0,
    // so the CASE 0 read is inert. Per-sample rows — no cross-row FP sums.
    Q("q_multimodal_audio_resample",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val payload = T(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val samples = Array.tabulate(64)(i =>
              ((id * 31 + i * 7) % 4096 - 2048).toShort)
            (id, graft.multimodal.Multimodal.encodeWavPcm16(8000, samples))
          }.toDF("doc_id", "payload")
        graft.multimodal.Multimodal.resampleAudio(
            graft.multimodal.Multimodal.decodeAudio(payload, "doc_id", "payload"), 16)
          .flatMap(d => d.samples.zipWithIndex.map { case (v, p) => (d.id, p.toLong, v) })
          .toDF("doc_id", "pos", "v")
          .select(col("doc_id"), col("pos"), round(col("v"), 4).as("v"))
      },
      Some {
        val c = "(r.j * (63.0 / 15.0))"
        val f = s"cast(floor($c) AS INT)"
        def samp(i: String) =
          s"(CASE WHEN $i <= 63 THEN ((doc_id * 31 + ($i) * 7) % 4096 - 2048)::DOUBLE ELSE 0.0 END)"
        s"""SELECT doc_id, r.j::BIGINT AS pos, round(
           |  ${samp(f)} * (1 - ($c - floor($c)))
           |+ ${samp(s"($f + 1)")} * ($c - floor($c)), 4) AS v
           |FROM documents CROSS JOIN range(16) r(j)""".stripMargin
      }),

    // Frame-sampling plumbing: payload split into 16-byte "frames", every
    // 3rd kept; the kept-count is pure integer arithmetic on byte length.
    Q("q_multimodal_frames",
      (s, dir) => graft.multimodal.Multimodal.sampleFrames(
          T(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "payload", 16, 3)
        .select(col("doc_id"), octet_length(col("payload")).as("n_bytes"), col("n_frames")),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |((ceil(octet_length(encode(text)) / 16.0)::INT + 2) // 3) AS n_frames
             |FROM documents""".stripMargin)),

    // Ordered aggregation: exact linearly-interpolated quantiles (Spark
    // `percentile` == DuckDB `quantile_cont`), rounded to absorb the
    // interpolation's division.
    Q("q_quantiles",
      (s, dir) => T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
             round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
             round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price")),
      Some("""SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50,
             |round(quantile_cont(l_quantity, 0.9), 4) AS p90,
             |round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Source/sink round-trip beyond parquet: nation is written to CSV, JSON
    // and ORC under java.io.tmpdir, read back through those sources (schema
    // re-inferred for CSV), and aggregated; the oracle runs the same rollup
    // on the parquet original — header/type round-trip is the verified
    // property.
    Q("q_source_roundtrip",
      (s, dir) => {
        // a fresh dir per call, so concurrent harness JVMs (or calls) never
        // share a path; its name carries the JVM's name, so a check can tell
        // this JVM's dirs from another's. The joined rows (one per region)
        // are materialized by an eager localCheckpoint before the dir is
        // deleted, since the returned frame must not read files that are gone
        val jvmTag = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
          .replaceAll("[^A-Za-z0-9]", "_")
        val base = java.nio.file.Files.createTempDirectory(s"graft_roundtrip_${jvmTag}_")
        try {
          val nation = T(s, dir, "nation")
          nation.coalesce(1).write.option("header", "true").csv(s"$base/csv")
          nation.coalesce(1).write.json(s"$base/json")
          nation.coalesce(1).write.orc(s"$base/orc")
          val fromCsv = s.read.option("header", "true").option("inferSchema", "true").csv(s"$base/csv")
          val fromJson = s.read.json(s"$base/json")
          val fromOrc = s.read.orc(s"$base/orc")
          fromCsv.groupBy("n_regionkey").agg(count(lit(1)).as("n_csv"))
            .join(fromJson.groupBy("n_regionkey").agg(count(lit(1)).as("n_json")), "n_regionkey")
            .join(fromOrc.groupBy("n_regionkey").agg(count(lit(1)).as("n_orc")), "n_regionkey")
            .select(col("n_regionkey").cast("long"), col("n_csv"), col("n_json"), col("n_orc"))
            .localCheckpoint()
        } finally graft.core.ScratchDir.delete(base)
      },
      Some("""SELECT n_regionkey, count(*) AS n_csv, count(*) AS n_json, count(*) AS n_orc
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // Skew-aware aggregation through the gate: the salted two-phase
    // sum/count (operators.SkewedAgg) over the 5-value event_type key —
    // the 100 TB answer to a hot grouping key. DECIMAL sums make the
    // two-phase merge order-insensitive, so the result hash-matches the
    // plain GROUP BY oracle.
    Q("q_skewed_agg",
      (s, dir) => graft.operators.SkewedAgg.sumCount(
          T(s, dir, "events").withColumn("v", col("value").cast("decimal(18,2)")),
          "event_type", "v", salts = 16)
        .select(col("event_type"), col("sum").cast("double").as("total_value"),
                col("cnt").as("n")),
      Some("""SELECT event_type, cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
             |count(*) AS n FROM events GROUP BY event_type""".stripMargin))
  )
}
