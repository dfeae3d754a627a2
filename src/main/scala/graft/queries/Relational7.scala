package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import QueryDef.moneySum
import graft.functions.TextFns

/** Eighth coverage batch: correlated EXISTS decorrelation, the NOT IN /
  * NOT EXISTS null-semantics trap, IGNORE NULLS window navigation,
  * EXCEPT ALL multiset difference, positional explode, array set algebra,
  * percentile_disc WITHIN GROUP, incremental aggregate maintenance
  * (q93 — `core.IncrementalAgg`), two-phase dynamic pivot, and the
  * recursive CTE — each oracle-gated against DuckDB — plus the
  * approximate-quantile sketch (rows-only, envelope-gated by spec like
  * the HLL d30).
  */
object Relational7 {

  def defs: Seq[QueryDef] =
    Seq(q58, q86, q87, q88, q89, q90, q91, q92, q93, q94, q95, q96, q97, q98,
      q99, q100, q101, d34, d39, d40)

  /** Ordered conversion funnel (view → click-after-view →
    * purchase-after-click): each step is a per-user aggregate joined to
    * the previous step's first-event time, so ordering is enforced by a
    * plain predicate, not a sequence scan. All three stages shuffle on
    * user_id — Spark reuses the exchange, so the staged funnel costs ONE
    * partitioning of the events table regardless of funnel depth. */
  val q58 = QueryDef("q58_funnel_steps",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      def step(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n_users")).select(lit(label).as("step"), col("n_users"))
      step(v, "1_view").union(step(c, "2_click")).union(step(p, "3_purchase"))
        .orderBy("step")
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
      SELECT '1_view' AS step, count(*) AS n_users FROM v
      UNION ALL SELECT '2_click', count(*) FROM c
      UNION ALL SELECT '3_purchase', count(*) FROM p
      ORDER BY step"""))

  /** Weekly retention cohorts: users bucketed by first-signup week, then
    * distinct-active counts per (cohort week, week offset). Both weeks
    * come from date_trunc, so the offset is exact integral arithmetic —
    * one equi-join on user_id + one distinct-count shuffle; the classic
    * cohort triangle without a self-join. No broadcast hint: the cohort
    * side is one row PER SIGNED-UP USER — dimension-sized only at toy
    * scale — so the join strategy is left to AQE, which broadcasts when
    * the measured size allows and hash-joins when it doesn't. */
  val d39 = QueryDef("d39_retention_cohort",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      // cast to DATE: DuckDB's date_trunc('week', ts) is a DATE, Spark's a
      // TIMESTAMP — the judged dtype must agree
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("su_ts"))
        .select(col("user_id"),
          date_trunc("week", col("su_ts")).cast(DateType).as("cohort_wk"))
      ev.join(cohort, Seq("user_id"))
        .withColumn("wk", date_trunc("week", col("ts")).cast(DateType))
        .filter(col("wk") >= col("cohort_wk"))
        .withColumn("wk_offset", expr("datediff(wk, cohort_wk) div 7"))
        .groupBy("cohort_wk", "wk_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_wk", "wk_offset")
    },
    Some("""WITH cohort AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk
        FROM events WHERE event_type = 'signup' GROUP BY 1)
      SELECT cohort_wk, date_diff('day', cohort_wk, date_trunc('week', e.ts)) // 7 AS wk_offset,
             count(DISTINCT e.user_id) AS n_active
      FROM events e JOIN cohort USING (user_id)
      WHERE date_trunc('week', e.ts) >= cohort_wk
      GROUP BY 1, 2 ORDER BY cohort_wk, wk_offset"""))

  /** Correlated EXISTS: customers having at least one high-value 1997
    * order. Catalyst decorrelates the per-row subquery probe into ONE
    * left-semi hash join — |customer| probes become one shuffle. */
  val q86 = QueryDef("q86_exists_subquery",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("cust_v")
      Tables.orders(s, dir).createOrReplaceTempView("ord_v")
      s.sql("""SELECT c_custkey, c_name, c_acctbal FROM cust_v
        WHERE EXISTS (SELECT 1 FROM ord_v
          WHERE o_custkey = c_custkey AND o_totalprice > 300000
            AND year(o_orderdate) = 1997)
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 300000
          AND year(o_orderdate) = 1997)
      ORDER BY c_custkey"""))

  /** The NOT IN vs NOT EXISTS null trap, pinned on BOTH engines: a NOT IN
    * whose subquery can yield NULL returns an EMPTY set (three-valued
    * logic — x <> NULL is unknown), while NOT EXISTS does the intended
    * anti-join. The query emits both counts so the semantic difference
    * is itself the oracle-gated result; the null is injected to make the
    * trap fire deterministically. Scale note: Spark plans NOT IN as a
    * null-aware anti join (broadcast required for correctness) — a known
    * scale hazard, which is WHY the anti-join form (q20) is the
    * recommended surface. */
  val q87 = QueryDef("q87_not_in_trap",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("cust87_v")
      Tables.orders(s, dir)
        .filter(col("o_totalprice") > 250000)
        .select(when(col("o_orderkey") % 1000 === 0, lit(null).cast(LongType))
          .otherwise(col("o_custkey")).as("k"))
        .createOrReplaceTempView("okeys87_v")
      s.sql("""SELECT
          (SELECT COUNT(*) FROM cust87_v WHERE c_custkey NOT IN (SELECT k FROM okeys87_v)) AS n_not_in,
          (SELECT COUNT(*) FROM cust87_v c WHERE NOT EXISTS (
             SELECT 1 FROM okeys87_v o WHERE o.k = c.c_custkey)) AS n_not_exists""")
    },
    Some("""WITH okeys AS (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
            ELSE o_custkey END AS k FROM orders WHERE o_totalprice > 250000)
      SELECT
        (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM okeys)) AS n_not_in,
        (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS (
           SELECT 1 FROM okeys o WHERE o.k = c.c_custkey)) AS n_not_exists"""))

  /** IGNORE NULLS window navigation: per customer's order sequence, the
    * previous non-null "big order" price and the first/last non-null over
    * the whole partition. The sparse carry (lag ignore nulls) is the
    * same primitive the gap-fill (q70) uses frame-wide. */
  val q88 = QueryDef("q88_ignore_nulls_nav",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 200)
        .withColumn("big", when(col("o_totalprice") > 150000, col("o_totalprice")))
        .select(col("o_custkey"), col("o_orderkey"), col("big"),
          lag(col("big"), 1, null, ignoreNulls = true).over(w).as("prev_big"),
          first(col("big"), ignoreNulls = true).over(wFull).as("first_big"),
          last(col("big"), ignoreNulls = true).over(wFull).as("last_big"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
        CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big,
        lag(CASE WHEN o_totalprice > 150000 THEN o_totalprice END IGNORE NULLS)
          OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_big,
        first_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END IGNORE NULLS)
          OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_big,
        last_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END IGNORE NULLS)
          OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_big
      FROM orders WHERE o_custkey < 200
      ORDER BY o_custkey, o_orderkey"""))

  /** EXCEPT ALL: multiset difference keeps surplus duplicates (set EXCEPT
    * would collapse them — q54 covers that form). 1997's (custkey,
    * priority) bag minus 1996's: a customer with three 1997 URGENT orders
    * and one 1996 URGENT order keeps TWO rows. One shuffle per side. */
  val q89 = QueryDef("q89_except_all",
    (s, dir) => {
      def bag(y: Int) = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey"), col("o_orderpriority"))
      bag(1997).exceptAll(bag(1996))
        .groupBy("o_custkey", "o_orderpriority")
        .agg(count(lit(1)).as("surplus"))
        .orderBy("o_custkey", "o_orderpriority")
    },
    Some("""WITH d AS (
        SELECT o_custkey, o_orderpriority FROM orders WHERE year(o_orderdate) = 1997
        EXCEPT ALL
        SELECT o_custkey, o_orderpriority FROM orders WHERE year(o_orderdate) = 1996)
      SELECT o_custkey, o_orderpriority, COUNT(*) AS surplus
      FROM d GROUP BY o_custkey, o_orderpriority
      ORDER BY o_custkey, o_orderpriority"""))

  /** Positional explode: tokens with their 1-based ordinal. posexplode
    * carries the index through the flatten — no window, no join-back-on-
    * self; the per-row lateral runs inside the scan stage. */
  val q90 = QueryDef("q90_posexplode",
    (s, dir) => {
      Tables.documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(slice(graft.functions.TextFns.tokens(col("text")), 1, 5)))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
          col("col").as("token"))
        .orderBy("doc_id", "pos")
    },
    Some(s"""WITH tok AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
        FROM documents WHERE doc_id < 100)
      SELECT doc_id, i AS pos, toks[i] AS token
      FROM tok, UNNEST(generate_series(1, least(len(toks), 5))) AS t(i)
      ORDER BY doc_id, pos"""))

  /** Array set algebra on collected per-year distinct quantity sets:
    * intersect / except / union, all sorted so the array VALUES are the
    * judged surface (set-op output order is engine-specific). The arrays
    * stay per-group small (≤50 distinct quantities) — build cost is one
    * shuffle, the set ops are per-row lambdas. */
  val q91 = QueryDef("q91_array_set_ops",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def yearSet(y: Int) = li.filter(year(col("l_shipdate")) === y)
        .groupBy("l_returnflag")
        .agg(array_sort(collect_set(col("l_quantity"))).as(s"qs_$y"))
      def csv(c: Column) = concat_ws(",",
        transform(array_sort(c), x => x.cast(LongType).cast(StringType)))
      yearSet(1996).join(yearSet(1997), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          csv(array_intersect(col("qs_1996"), col("qs_1997"))).as("both"),
          csv(array_except(col("qs_1996"), col("qs_1997"))).as("only_1996"),
          csv(array_union(col("qs_1996"), col("qs_1997"))).as("either"))
        .orderBy("l_returnflag")
    },
    Some("""WITH a AS (SELECT l_returnflag, list_sort(list_distinct(list(l_quantity))) AS qs
        FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY l_returnflag),
      b AS (SELECT l_returnflag, list_sort(list_distinct(list(l_quantity))) AS qs
        FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY l_returnflag)
      SELECT a.l_returnflag,
        COALESCE(array_to_string(list_transform(list_sort(list_intersect(a.qs, b.qs)), x -> (x::BIGINT)::VARCHAR), ','), '') AS both,
        COALESCE(array_to_string(list_transform(list_sort(list_filter(a.qs, x -> NOT list_contains(b.qs, x))), x -> (x::BIGINT)::VARCHAR), ','), '') AS only_1996,
        COALESCE(array_to_string(list_transform(list_sort(list_distinct(list_concat(a.qs, b.qs))), x -> (x::BIGINT)::VARCHAR), ','), '') AS either
      FROM a JOIN b USING (l_returnflag)
      ORDER BY a.l_returnflag"""))

  /** Discrete percentiles (`percentile_disc` WITHIN GROUP semantics): the
    * cut is an ACTUAL data value — the order statistic at
    * max(ceil(p·n)−1, 0), the smallest value whose cume_dist ≥ p — so
    * unlike interpolated quantiles it's exact-comparable without rounding.
    *
    * Computed via [[graft.core.Indexing.groupQuantiles]]'s discrete mode
    * (the distributed order-statistic SELECT), not the ordered-set
    * aggregate: `percentile_disc`'s buffer holds EVERY group member and
    * merges single-threaded per group — the same corpus-scale bomb the
    * continuous family hit at 23×/decade on the sf10 tiling (d34). The
    * select's state is a driver-bounded histogram + a bucket-filtered
    * pick; Coverage7Spec pins rule equality on ties / tiny / constant /
    * null-keyed groups. l_extendedprice is double, so the select's
    * double-cast path returns the input value bit-for-bit. */
  val q92 = QueryDef("q92_percentile_disc",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_returnflag", "l_extendedprice")
      def q(p: Double) = max(when(col("__q") === p, col("__quantile")))
      val cuts = graft.core.Indexing
        .groupQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
          Seq(0.25, 0.5, 0.75), discrete = true)
        .groupBy("l_returnflag")
        .agg(q(0.25).as("p25"), q(0.5).as("p50"), q(0.75).as("p75"))
      // LEFT join from the group list: an all-NULL group is absent from the
      // select's output but keeps its row (NULL cuts) under the aggregate
      // form this replaces — same restore as d34/d53
      li.select("l_returnflag").distinct()
        .join(broadcast(cuts), Seq("l_returnflag"), "left")
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
        percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Incremental aggregate maintenance (`core.IncrementalAgg`): the rollup
    * is assembled from PER-YEAR partial states merged algebraically — the
    * pattern that folds one new partition into stored state instead of
    * re-scanning 100 TB. The oracle is the plain one-shot GROUP BY: the
    * incremental path must be invisible in the result. */
  val q93 = QueryDef("q93_incremental_agg",
    (s, dir) => {
      import graft.core.IncrementalAgg._
      val o = Tables.orders(s, dir).withColumn("yr", year(col("o_orderdate")))
      // one partial state per ingest partition (year), merged pairwise in
      // arbitrary order — associativity makes the shape irrelevant
      val states = Seq(
        partialize(o.filter(col("yr") <= 1996), Seq("o_custkey"), "o_totalprice"),
        partialize(o.filter(col("yr") === 1997), Seq("o_custkey"), "o_totalprice"),
        partialize(o.filter(col("yr") >= 1998), Seq("o_custkey"), "o_totalprice"))
      finalizeState(merge(states, Seq("o_custkey"), "o_totalprice"), "o_totalprice")
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total,
        COUNT(o_totalprice) AS n,
        MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(o_totalprice) AS mean
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  /** DYNAMIC pivot — the two-phase pattern: phase 1 discovers the pivot
    * domain (a distinct scan of ONE low-cardinality column, collected to
    * the driver — bounded by assertion, never by hope), phase 2 plans the
    * pivot with the explicit value list so the output schema is fixed
    * before execution. Spark's value-less pivot() does the same discovery
    * implicitly; doing it explicitly caps the domain and makes the
    * sanitized column names deterministic. q55 is the static cousin. */
  val q94 = QueryDef("q94_dynamic_pivot",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val vals = o.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted
      require(vals.length <= 50, s"pivot domain too wide: ${vals.length}")
      def sanitize(v: String) = v.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      require(vals.map(sanitize).distinct.length == vals.length,
        s"sanitized pivot columns collide: ${vals.mkString(", ")}")
      val piv = o.groupBy(year(col("o_orderdate")).cast(LongType).as("yr"))
        .pivot("o_orderpriority", vals)
        .agg(moneySum(col("o_totalprice")))
      vals.foldLeft(piv)((df, v) => df.withColumnRenamed(v, sanitize(v)))
        .orderBy("yr")
    },
    Some("""SELECT year(o_orderdate) AS yr,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS "1_urgent",
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS "2_high",
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS "3_medium",
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) AS "4_not_specified",
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS "5_low"
      FROM orders GROUP BY 1 ORDER BY yr"""))

  /** RECURSIVE CTE (Spark 4's WITH RECURSIVE): the implicit binary tree
    * over customer keys (parent = child DIV 2) walked from the root, per-
    * depth rollup. Each recursion step is an EQUI-join of the previous
    * level against the table (never an OR-expansion nested loop), so every
    * iteration is one hash join — the same shape `Dedup.
    * connectedComponents` hand-rolls where iteration count needs a
    * convergence guard instead of a fixed-point union. */
  val q95 = QueryDef("q95_recursive_cte",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("cust95_v")
      s.sql("""WITH RECURSIVE tree(k, depth) AS (
          SELECT CAST(1 AS BIGINT) AS k, 1 AS depth
          UNION ALL
          SELECT c.c_custkey, t.depth + 1
          FROM tree t JOIN cust95_v c ON c.c_custkey DIV 2 = t.k)
        SELECT depth, COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi
        FROM tree GROUP BY depth ORDER BY depth""")
    },
    Some("""WITH RECURSIVE tree(k, depth) AS (
        SELECT CAST(1 AS BIGINT) AS k, 1 AS depth
        UNION ALL
        SELECT c.c_custkey, t.depth + 1
        FROM tree t JOIN customer c ON c.c_custkey // 2 = t.k)
      SELECT depth, COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi
      FROM tree GROUP BY depth ORDER BY depth"""))

  /** Temporal SCD2 dimension lookup: each lineitem resolves the customer
    * state version VALID AT its ship date. The naive plan — equi-join on
    * the key then filter valid_from <= t < valid_to — materializes
    * |facts| × |versions-per-key| rows before filtering; because SCD2
    * intervals partition time, the lookup is EXACTLY an as-of backward
    * join on valid_from (`core.AsOf.joinBackward`, one shuffle, no
    * blowup). The oracle is the naive interval join — the as-of rewrite
    * must be invisible in the result. */
  val q96 = QueryDef("q96_scd2_lookup",
    (s, dir) => {
      val dim = graft.core.SeriesOps.buildScd2(
          Tables.orders(s, dir)
            .select(col("o_custkey"), col("o_orderdate").cast(DateType).as("change_d"),
              col("o_totalprice").as("state_price"), col("o_orderkey")),
          Seq("o_custkey"), "change_d", tieBreak = Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("valid_from").as("ship_d"), col("state_price"))
      val facts = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 5000)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_returnflag"),
          col("l_shipdate").cast(DateType).as("ship_d"))
      graft.core.AsOf.joinBackward(facts, dim, Seq("o_custkey"), "ship_d",
          valueCols = Seq("state_price"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          count(col("state_price")).as("n_matched"),
          moneySum(col("state_price")).as("sum_state"))
        .orderBy("l_returnflag")
    },
    Some("""WITH dedup AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS change_d,
        o_totalprice AS state_price
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
          ORDER BY o_orderkey DESC) = 1),
      dim AS (SELECT o_custkey, change_d AS valid_from,
          lead(change_d) OVER (PARTITION BY o_custkey ORDER BY change_d) AS valid_to,
          state_price
        FROM dedup),
      facts AS (SELECT o.o_custkey, l.l_returnflag, CAST(l.l_shipdate AS DATE) AS ship_d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey < 5000)
      SELECT f.l_returnflag, COUNT(*) AS n, COUNT(d.state_price) AS n_matched,
        CAST(SUM(CAST(d.state_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_state
      FROM facts f LEFT JOIN dim d
        ON f.o_custkey = d.o_custkey AND f.ship_d >= d.valid_from
          AND (d.valid_to IS NULL OR f.ship_d < d.valid_to)
      GROUP BY f.l_returnflag ORDER BY f.l_returnflag"""))

  /** Typed JSON parsing: from_json with an explicit schema (vs q64's
    * per-path get_json_object string extraction) — the parse happens once
    * per row into a struct, every field access after is free; malformed
    * documents surface as NULL structs, not errors. */
  val q97 = QueryDef("q97_from_json",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("p", from_json(col("props"), StructType(Seq(
          StructField("k", LongType)))))
        .groupBy(floor(col("p.k") / 10).cast(LongType).as("k_decade"))
        .agg(count(lit(1)).as("n"),
          sum(col("p.k")).as("k_sum"))
        .orderBy("k_decade")
    },
    Some("""SELECT CAST(FLOOR(CAST(json_extract(props, '$.k') AS BIGINT) / 10.0) AS BIGINT) AS k_decade,
        COUNT(*) AS n,
        CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
      FROM events GROUP BY 1 ORDER BY k_decade"""))

  /** Distribution drift via PSI (population stability index): order-value
    * distributions of 1996 vs 1997 over FIXED bins (fixed cutpoints, not
    * data-dependent quantiles, so both engines bin identically and a
    * production monitor compares periods against a frozen baseline).
    * PSI = Σ (p−q)·ln(p/q); the standard alert threshold is 0.2. One
    * scan, one shuffle on the tiny bin key; proportions divide ONCE per
    * bin. Laplace-style +1 smoothing keeps empty bins finite. */
  val q98 = QueryDef("q98_psi_drift",
    (s, dir) => {
      val bin = least(floor(col("o_totalprice") / 50000.0).cast(LongType), lit(9L))
      val o = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .select(year(col("o_orderdate")).as("yr"), bin.as("bin"))
      val counts = o.groupBy("bin")
        .agg(count_if(col("yr") === 1996).as("n_ref"),
          count_if(col("yr") === 1997).as("n_cur"))
      val totals = counts.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
      counts.crossJoin(broadcast(totals))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(((col("n_ref") + 1) / (col("t_ref") + 10) -
                 (col("n_cur") + 1) / (col("t_cur") + 10)) *
            log(((col("n_ref") + 1) / (col("t_ref") + 10)) /
                ((col("n_cur") + 1) / (col("t_cur") + 10))), 9).as("psi_term"))
        .orderBy("bin")
    },
    Some("""WITH o AS (SELECT year(o_orderdate) AS yr,
          least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9) AS bin
        FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
      c AS (SELECT bin,
          COUNT(*) FILTER (WHERE yr = 1996) AS n_ref,
          COUNT(*) FILTER (WHERE yr = 1997) AS n_cur
        FROM o GROUP BY bin),
      t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref, CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM c)
      SELECT bin, n_ref, n_cur,
        round(((n_ref + 1)::DOUBLE / (t_ref + 10)::DOUBLE - (n_cur + 1)::DOUBLE / (t_cur + 10)::DOUBLE) *
          ln(((n_ref + 1)::DOUBLE / (t_ref + 10)::DOUBLE) / ((n_cur + 1)::DOUBLE / (t_cur + 10)::DOUBLE)), 9) AS psi_term
      FROM c CROSS JOIN t ORDER BY bin"""))

  /** GROUP BY ALL / ORDER BY ALL — the modern SQL ergonomics both engines
    * resolve identically: every non-aggregate select item becomes a group
    * key, the full select list the sort key. Semantically q1's shape;
    * the judged point is that the sugar resolves the same way. */
  val q99 = QueryDef("q99_group_by_all",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("ord99_v")
      s.sql("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM ord99_v GROUP BY ALL ORDER BY ALL""")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY ALL ORDER BY ALL"""))

  /** Approximate percentile sketch — constant-memory mergeable state per
    * group vs the exact form's full sort, the 100 TB path when ±1% rank
    * error is acceptable. The sketch VALUES are engine-specific, but the
    * accuracy claim is not: the judged surface carries the exact
    * interpolated quantiles (q60's oracle-proven shape) plus `ok_pXX`
    * RANK-ERROR verdicts — the fraction of rows at or below each approx
    * quantile must sit within 2% of its target rank — computed against
    * the same lineitem scan; DuckDB recomputes the exact side and asserts
    * the verdicts TRUE. accuracy=10000 bounds the sketch's rank error at
    * 1e-4, so the 2% envelope holds deterministically. */
  val d34 = QueryDef("d34_approx_quantile",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_returnflag", "l_extendedprice")
      // exact quantiles via the distributed order-statistic select
      // (Indexing.groupQuantiles) — the aggregate-buffer form
      // (percentile(col, q)) holds a group-sized value map merged
      // single-threaded per group and measured 23x/decade on the sf10
      // tiling; selection is two narrow scans + a bucket-filtered pick
      def q(p: Double) = round(max(when(col("__q") === p, col("__quantile"))), 6)
      val exact = graft.core.Indexing
        .groupQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
          Seq(0.25, 0.5, 0.75))
        .groupBy("l_returnflag")
        .agg(q(0.25).as("p25_exact"), q(0.5).as("p50_exact"),
          q(0.75).as("p75_exact"))
      val ap = li.groupBy("l_returnflag")
        .agg(approx_percentile(col("l_extendedprice"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("ap"),
          count(lit(1)).as("n"))
        // LEFT join: a group whose values are all NULL is absent from the
        // select's output but must keep its row (NULL exact quantiles),
        // matching the old aggregate form and the oracle
        .join(exact, Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), col("n"),
          col("p25_exact"), col("p50_exact"), col("p75_exact"),
          element_at(col("ap"), 1).as("a25"),
          element_at(col("ap"), 2).as("a50"),
          element_at(col("ap"), 3).as("a75"))
      def rankOk(le: String, target: Double): Column =
        abs(col(le).cast(DoubleType) / col("n").cast(DoubleType) - target) <= 0.02
      li.join(broadcast(ap), Seq("l_returnflag"))
        // the approx quantiles are per-group constants (broadcast back from
        // the aggregate), so they ride the groupBy key instead of nesting
        // an aggregate inside the count filter
        .groupBy(col("l_returnflag"), col("n"),
          col("p25_exact"), col("p50_exact"), col("p75_exact"),
          col("a25"), col("a50"), col("a75"))
        .agg(count(when(col("l_extendedprice") <= col("a25"), 1)).as("le25"),
          count(when(col("l_extendedprice") <= col("a50"), 1)).as("le50"),
          count(when(col("l_extendedprice") <= col("a75"), 1)).as("le75"))
        .select(col("l_returnflag"), col("n"),
          col("p25_exact"), col("p50_exact"), col("p75_exact"),
          rankOk("le25", 0.25).as("ok_p25"),
          rankOk("le50", 0.5).as("ok_p50"),
          rankOk("le75", 0.75).as("ok_p75"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
        ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_exact,
        ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75_exact,
        TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** The SKEW-RESISTANT bucketed as-of join (core.AsOf.joinBackwardBucketed)
    * on q6's exact shape — the hot-key form of the same semantics, gated
    * by the same DuckDB ASOF oracle. Daily buckets over
    * the event timestamps: a hot user's history splits across day buckets
    * instead of forming one window sort task (windows have no AQE skew
    * mitigation, so at 100 TB this form is the difference between a
    * bounded task and a straggler). Equivalence across bucket widths is
    * property-spec'd in CoreOpsSpec; skew timings in BENCH_deep.json. */
  val q100 = QueryDef("q100_asof_bucketed",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.core.AsOf.joinBackwardBucketed(purchases, clicks,
        Seq("user_id"), "ts", Seq("click_id", "click_value"),
        c => floor(unix_micros(c).cast(DoubleType) / lit(86400e6)).cast("long"))
        .select("event_id", "user_id", "click_id", "click_value")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id"""))

  /** The bucketed FORWARD as-of (core.AsOf.joinForwardBucketed) on q56's
    * exact shape — the skew-resistant mirror, gated by the same DuckDB
    * forward-ASOF oracle. Tie-dedup on views mirrors q56 (DuckDB's ASOF
    * picks arbitrarily among equal-ts matches, so ties must not exist by
    * the time either engine runs its as-of). */
  val q101 = QueryDef("q101_asof_forward_bucketed",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val wv = Window.partitionBy("user_id", "ts").orderBy("event_id")
      val views = ev.filter(col("event_type") === "view")
        .withColumn("__rn", row_number().over(wv)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      graft.core.AsOf.joinForwardBucketed(purchases, views, Seq("user_id"),
        "ts", Seq("view_id", "view_value"),
        c => floor(unix_micros(c).cast(DoubleType) / lit(86400e6)).cast("long"))
        .select("event_id", "user_id", "view_id", "view_value")
        .orderBy("event_id")
    },
    Some("""WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        event_id, value FROM events WHERE event_type = 'view'
        QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
          ORDER BY event_id) = 1)
      SELECT p.event_id, p.user_id, v.event_id AS view_id,
        v.value AS view_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
      ORDER BY p.event_id"""))

  /** STAR-reduced LSH near-dup edges (operators/Dedup.scala
    * minHashNearDuplicatesMd5Star), ORACLE-GATED end to end: per
    * (band, signature) bucket, edges run only to the bucket's min-id hub
    * — B−1 edges instead of B(B−1)/2 for a B-doc true-dup bucket, the
    * linear contract for cluster consumption at corpus scale (the pair
    * contract is quadratic in near-dup cluster size BY DEFINITION; see
    * the scale-boundary note on minHashNearDuplicates). DuckDB replays
    * shingling, the md5-seeded AFFINE minhash matrix (one md5 per
    * shingle, (a·x + b) mod p rehash per seed — constants inlined from
    * the same derivation), ordered band signatures, hub election, and the
    * exact-Jaccard verify. Jaccard ships unrounded: both engines divide
    * the same two integers. */
  val d40 = QueryDef("d40_lsh_star",
    (s, dir) => graft.operators.Dedup.minHashNearDuplicatesMd5Star(
      Tables.documents(s, dir), "doc_id", "text",
      shingleK = 3, numHashes = 16, numBands = 4, jaccardThreshold = 0.5)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH ${graft.operators.Dedup.affineSignatureSql("documents", "doc_id", "text", 16)},
      banded AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
        string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bkey
        FROM sig GROUP BY 1, 2),
      hubs AS (SELECT band, bkey, MIN(doc_id) AS id_a FROM banded GROUP BY 1, 2),
      edges AS (SELECT DISTINCT h.id_a, b.doc_id AS id_b
        FROM banded b JOIN hubs h USING (band, bkey) WHERE b.doc_id <> h.id_a),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (SELECT e.id_a, e.id_b, COUNT(*) AS i
        FROM edges e
        JOIN sh a ON a.doc_id = e.id_a
        JOIN sh b ON b.doc_id = e.id_b AND b.shingle = a.shingle
        GROUP BY 1, 2),
      jac AS (SELECT e.id_a, e.id_b,
        CAST(COALESCE(i.i, 0) AS DOUBLE)
          / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
        FROM edges e
        LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        JOIN sizes sa ON sa.doc_id = e.id_a
        JOIN sizes sb ON sb.doc_id = e.id_b)
      SELECT id_a, id_b, jaccard FROM jac
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))
}
