package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.core.{Tables, SchemaOps}
import graft.features.Encoding
import graft.pipeline.MacroPipeline
import graft.sources.Sources
import QueryDef.{dec, moneySum, ONE}

/** Second coverage batch: the SURVEY §2 operator rows not exercised by the
  * first batch — prefix projection (P2), last-row access (O5), boolean any
  * (A10), column-wise outer join (J3), history-static join (J5), ticker-set
  * union (U5), replace-partition (U6), EBITDA/net-debt arithmetic (F5/F6),
  * percent->proportion (F8), schema-drift global merge (B7/U2/U3),
  * correlation matrix (A11), coverage assertion (S2), top-k source (S5).
  */
object Relational2 {

  def defs: Seq[QueryDef] = Seq(q31, q32, q33, q34, q35, q36, q37, q38,
    q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50)

  /** P2: prefix-based projection over a dynamically-widened frame (the
    * reference selects `sector_*` columns by introspection). */
  val q31 = {
    val vocab = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
    QueryDef("q31_prefix_projection",
      (s, dir) => {
        val wide = Encoding.oneHot(Tables.customer(s, dir), "c_mktsegment", vocab, "seg")
        // schema introspection: keep key + every seg_-prefixed column except other
        val segCols = wide.columns.filter(c => c.startsWith("seg_") && c != "seg_other")
        wide.select((col("c_custkey") +: segCols.sorted.map(col)): _*)
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey,
        ${vocab.sortBy(v => s"seg_${Encoding.slugify(v)}").map(v =>
          s"CASE WHEN c_mktsegment = '$v' THEN 1 ELSE 0 END AS seg_${Encoding.slugify(v)}")
          .mkString(",\n        ")}
        FROM customer ORDER BY c_custkey"""))
  }

  /** O5: last-row access per entity (`df[-1, col]` idiom) — deterministic
    * tie-break via a rank window (DuckDB arg_max can't order by struct). */
  val q32 = QueryDef("q32_last_row",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_price"),
          col("o_orderdate").cast(DateType).as("last_date"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, o_orderkey AS last_orderkey,
      o_totalprice AS last_price, CAST(o_orderdate AS DATE) AS last_date
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
      WHERE rn = 1 ORDER BY o_custkey"""))

  /** A10: boolean any / all reductions per group. */
  val q33 = QueryDef("q33_bool_any",
    (s, dir) => Tables.events(s, dir)
      .groupBy("event_type")
      .agg(bool_or(col("value") > 190).as("any_high"),
        bool_and(col("value") >= 0).as("all_nonneg"),
        sum(when(col("value") > 190, 1).otherwise(0)).as("n_high"))
      .orderBy("event_type"),
    Some("""SELECT event_type,
      bool_or(value > 190) AS any_high,
      bool_and(value >= 0) AS all_nonneg,
      CAST(SUM(CASE WHEN value > 190 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** J3: column-wise outer join on a date index (the macro source pattern:
    * per-indicator frames full-outer joined into a wide table). */
  val q34 = QueryDef("q34_colwise_outer_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      def series(t: String) = ev.filter(col("event_type") === t)
        .groupBy("day").agg(sum(dec(col("value"))).cast(DoubleType).as(s"${t}_value"))
      val joined = Seq("click", "view", "purchase").map(series)
        .reduce((a, b) => a.join(b, Seq("day"), "full_outer"))
      joined.orderBy("day")
    },
    Some("""WITH c AS (SELECT CAST(ts AS DATE) AS day, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1),
      v AS (SELECT CAST(ts AS DATE) AS day, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY 1),
      p AS (SELECT CAST(ts AS DATE) AS day, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT COALESCE(c.day, v.day, p.day) AS day, click_value, view_value, purchase_value
      FROM c FULL OUTER JOIN v ON c.day = v.day
      FULL OUTER JOIN p ON COALESCE(c.day, v.day) = p.day
      ORDER BY day"""))

  /** J5: history ⨝ static-OHE on the entity key (the notebooks' df_merged). */
  val q35 = QueryDef("q35_history_static_join",
    (s, dir) => {
      val vocab = Seq("AUTOMOBILE", "BUILDING")
      val static = Encoding.oneHot(Tables.customer(s, dir), "c_mktsegment", vocab, "seg")
        .select("c_custkey", "seg_automobile", "seg_building", "seg_other")
      Tables.orders(s, dir)
        .join(broadcast(static), col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "o_custkey", "seg_automobile", "seg_building", "seg_other")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
      CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS seg_automobile,
      CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS seg_building,
      CASE WHEN c_mktsegment IS NULL OR c_mktsegment NOT IN ('AUTOMOBILE','BUILDING') THEN 1 ELSE 0 END AS seg_other
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey"""))

  /** U5: set union + distinct + sort of entity keys from two sources. */
  val q36 = QueryDef("q36_key_set_union",
    (s, dir) => Tables.orders(s, dir).select(col("o_custkey").as("key"))
      .unionByName(Tables.customer(s, dir).select(col("c_custkey").as("key")))
      .distinct()
      .orderBy("key"),
    Some("""SELECT DISTINCT key FROM (
        SELECT o_custkey AS key FROM orders
        UNION ALL SELECT c_custkey AS key FROM customer) t
      ORDER BY key"""))

  /** U6: replace-partition semantics — recompute one year and swap it into
    * the store (delete matching keys, append, sort; `MacroPipeline.replaceYears`). */
  val q37 = QueryDef("q37_replace_partition",
    (s, dir) => {
      val yearly = Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(moneySum(col("o_totalprice")).as("rev"))
      val fresh = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1998)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg((sum(dec(col("o_totalprice"))) * 2).cast(DoubleType).as("rev"))
      MacroPipeline.replaceYears(yearly, fresh, Seq("yr"))
    },
    Some("""WITH yearly AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev FROM orders GROUP BY 1),
      fresh AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 2 AS DOUBLE) AS rev
        FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)
      SELECT yr, rev FROM (
        SELECT * FROM yearly WHERE yr NOT IN (SELECT yr FROM fresh)
        UNION ALL SELECT * FROM fresh) t
      ORDER BY yr"""))

  /** F5/F6: EBITDA-style arithmetic with finiteness null-out — yearly
    * "fundamentals" from lineitem, ratio nulled when denominator is 0. */
  val q38 = QueryDef("q38_ebitda_arithmetic",
    (s, dir) => Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"), year(col("l_shipdate")).as("yr"))
      .agg(
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("income"),
        sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast(DoubleType).as("interest"),
        sum(dec(col("l_extendedprice")) * dec(col("l_tax")))
          .cast(DoubleType).as("dand"),
        (sum(dec(col("l_quantity"))) - lit(1000)).cast(DoubleType).as("net_debt"))
      .withColumn("ebitda", col("income") + col("interest") + col("dand"))
      .withColumn("nde", when(col("ebitda") =!= 0, col("net_debt") / col("ebitda")))
      .select("l_suppkey", "yr", "ebitda", "net_debt", "nde")
      .orderBy("l_suppkey", "yr"),
    Some("""SELECT l_suppkey, CAST(year(l_shipdate) AS INT) AS yr,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS ebitda,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) - 1000 AS DOUBLE) AS net_debt,
      CASE WHEN (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)) <> 0
        THEN CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) - 1000 AS DOUBLE)
          / (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
          + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)) END AS nde
      FROM lineitem GROUP BY l_suppkey, year(l_shipdate)
      ORDER BY l_suppkey, yr"""))

  /** F8: percent -> proportion with null/NaN guards. */
  val q39 = QueryDef("q39_pct_to_prop",
    (s, dir) => Tables.events(s, dir)
      .select(col("event_id"),
        when(col("value").isNotNull && !isnan(col("value")), col("value") / 100.0)
          .as("value_prop"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
      CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value / 100.0 END AS value_prop
      FROM events ORDER BY event_id"""))

  /** B7/U2/U3: schema-drift global merge — two stores with different column
    * sets and dtypes unioned into the harmonized sorted superset. */
  val q40 = QueryDef("q40_global_merge",
    (s, dir) => {
      val storeA = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val storeB = Tables.orders(s, dir)
        .select(col("o_orderkey") + 10000000L as "o_orderkey",
          col("o_custkey").cast(DoubleType).as("o_custkey"), // dtype drift
          col("o_orderstatus")) // column drift
      SchemaOps.unionHarmonized(Seq(storeA, storeB))
        .orderBy("o_orderkey")
    },
    Some("""SELECT * FROM (
        SELECT o_custkey::DOUBLE AS o_custkey, o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_custkey::DOUBLE, o_orderkey + 10000000, o_orderstatus, CAST(NULL AS DOUBLE) FROM orders) t
      ORDER BY o_orderkey"""))

  /** B5: merge-with-existing through the ACTUAL pipeline operator
    * (`TickerFeaturePipeline.merge`) — store ∪ fresh with schema drift
    * (fresh carries an extra n_orders column), keep-last per
    * (ticker, as_of) with fresh winning, sorted superset columns. The
    * overlap window (1996) makes the fresh-wins rule observable: its
    * spend is deliberately 1.5× the store's. Money sums go through
    * DECIMAL so the doubles are order-independent on both engines. */
  val q42 = QueryDef("q42_merge_with_existing",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      def daily(df: DataFrame) = df.groupBy(
        col("o_custkey").cast(StringType).as("ticker"),
        col("o_orderdate").as("as_of"))
      val store = daily(o.filter(col("o_orderdate") < to_date(lit("1997-01-01"))))
        .agg(moneySum(col("o_totalprice")).as("spend"))
      val fresh = daily(o.filter(col("o_orderdate") >= to_date(lit("1996-01-01"))))
        .agg((moneySum(col("o_totalprice")) * lit(1.5)).as("spend"),
          count(lit(1)).as("n_orders"))
      graft.pipeline.TickerFeaturePipeline.merge(store, fresh)
    },
    Some("""WITH store AS (
        SELECT o_custkey::VARCHAR AS ticker, o_orderdate AS as_of,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1, 2),
      fresh AS (
        SELECT o_custkey::VARCHAR AS ticker, o_orderdate AS as_of,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 1.5::DOUBLE AS spend,
               COUNT(*) AS n_orders
        FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1, 2),
      u AS (
        SELECT ticker, as_of, spend, NULL::BIGINT AS n_orders, 0 AS gen FROM store
        UNION ALL
        SELECT ticker, as_of, spend, n_orders, 1 AS gen FROM fresh)
      SELECT as_of, n_orders, spend, ticker FROM u
      QUALIFY row_number() OVER (PARTITION BY ticker, as_of ORDER BY gen DESC) = 1
      ORDER BY ticker, as_of"""))

  /** B6: static-store upsert through `TickerFeaturePipeline.mergeStatic` —
    * keep-last per ticker with fresh winning, plus dtype drift (nation is
    * INT in the store, BIGINT in fresh → harmonized to the static path's
    * Int target; integral-only so no rounding-vs-truncation hazard) and
    * column drift (seg only in fresh). */
  val q43 = QueryDef("q43_static_upsert",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val store = c.filter(col("c_custkey") <= 1000)
        .select(col("c_custkey").cast(StringType).as("ticker"),
          col("c_nationkey").cast(IntegerType).as("nation"))
      val fresh = c.filter(col("c_custkey").between(500, 1500))
        .select(col("c_custkey").cast(StringType).as("ticker"),
          (col("c_nationkey") + 100).cast(LongType).as("nation"),
          col("c_mktsegment").as("seg"))
      graft.pipeline.TickerFeaturePipeline.mergeStatic(store, fresh)
    },
    Some("""WITH store AS (
        SELECT c_custkey::VARCHAR AS ticker, c_nationkey::INTEGER AS nation,
               NULL::VARCHAR AS seg, 0 AS gen
        FROM customer WHERE c_custkey <= 1000),
      fresh AS (
        SELECT c_custkey::VARCHAR AS ticker, (c_nationkey + 100)::INTEGER AS nation,
               c_mktsegment AS seg, 1 AS gen
        FROM customer WHERE c_custkey BETWEEN 500 AND 1500),
      u AS (SELECT * FROM store UNION ALL SELECT * FROM fresh)
      SELECT nation, seg, ticker FROM u
      QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY gen DESC) = 1
      ORDER BY ticker"""))

  /** A11: full pairwise Pearson correlation matrix in long form. */
  val q41 = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    QueryDef("q41_correlation_matrix",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
        val aggs = pairs.map { case (a, b) =>
          round(nanvl(corr(col(a), col(b)), lit(null).cast(DoubleType)), 6)
            .as(s"corr_${a}_${b}")
        }
        val wide = li.agg(aggs.head, aggs.tail: _*)
        // long form: one row per pair
        val rows = pairs.map { case (a, b) =>
          s"SELECT '$a' AS col_a, '$b' AS col_b, corr_${a}_${b} AS corr FROM __w"
        }.mkString(" UNION ALL ")
        wide.createOrReplaceTempView("__w")
        s.sql(rows).orderBy("col_a", "col_b")
      },
      Some {
        val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
        pairs.map { case (a, b) =>
          s"SELECT '$a' AS col_a, '$b' AS col_b, ROUND(corr($a, $b), 6) AS corr FROM lineitem"
        }.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")
      })
  }

  /** RANGE window frame over event time: trailing 90-day spend per
    * customer at each order (date-valued range, not row counts). */
  val q46 = QueryDef("q46_trailing_90d_spend",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_timestamp(col("o_orderdate")))
        .rangeBetween(-90L * 86400, 0)
      Tables.orders(s, dir)
        .withColumn("spend_90d",
          sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
        .select("o_custkey", "o_orderkey", "spend_90d")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
      FROM orders ORDER BY o_custkey, o_orderkey"""))

  /** Post-aggregation filter (HAVING). */
  val q47 = QueryDef("q47_having",
    (s, dir) => Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_items"), moneySum(col("l_extendedprice")).as("spend"))
      .filter(col("n_items") >= 30)
      .orderBy("l_partkey"),
    Some("""SELECT l_partkey, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 30
      ORDER BY l_partkey"""))

  /** Wide -> long reshape (UNPIVOT / stack). */
  val q48 = QueryDef("q48_unpivot",
    (s, dir) => Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(moneySum(col("l_quantity")).as("qty"),
        moneySum(col("l_extendedprice")).as("price"),
        moneySum(col("l_discount")).as("disc"))
      .select(col("l_returnflag"),
        expr("stack(3, 'qty', qty, 'price', price, 'disc', disc) AS (measure, value)"))
      .orderBy("l_returnflag", "measure"),
    Some("""WITH w AS (SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
      FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, measure, value FROM (
        SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
        UNION ALL SELECT l_returnflag, 'price', price FROM w
        UNION ALL SELECT l_returnflag, 'disc', disc FROM w) t
      ORDER BY l_returnflag, measure"""))

  /** Correlated scalar subquery (Catalyst decorrelates it into a join):
    * orders above their customer's average. Single-customer averages are
    * exact on both engines, so the > boundary is deterministic. */
  val q49 = QueryDef("q49_scalar_subquery",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
        WHERE o_totalprice > (SELECT AVG(i.o_totalprice) FROM orders_v i
                              WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      WHERE o_totalprice > (SELECT AVG(i.o_totalprice) FROM orders i
                            WHERE i.o_custkey = o.o_custkey)
      ORDER BY o_orderkey"""))

  /** ntile decile bucketing over customer lifetime spend — through the
    * scale-safe `Indexing.globalNtile` (bucketed global row ids + exact
    * ntile arithmetic) rather than `ntile(10).over(Window.orderBy(...))`,
    * whose empty-partition window moves every customer to ONE task. The
    * oracle stays the exact single-partition ntile: globalNtile is
    * row-identical to it by construction (Coverage7Spec). */
  val q50 = QueryDef("q50_spend_deciles",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(moneySum(col("o_totalprice")).as("ltv"))
        // globalNtile's three passes (count, histogram, pick) would each
        // re-run the orders scan+aggregate; customer-sized, cheap to hold
        .localCheckpoint(false)
      graft.core.Indexing.globalNtile(spend, 10, "ltv", "decile",
        descending = true, tieBreak = Seq("o_custkey"))
        .select("o_custkey", "ltv", "decile")
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, ltv, CAST(decile AS INT) AS decile FROM (
        SELECT o_custkey, ltv,
          ntile(10) OVER (ORDER BY ltv DESC, o_custkey ASC) AS decile
        FROM (SELECT o_custkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ltv
          FROM orders GROUP BY o_custkey) t) u
      ORDER BY o_custkey"""))

  /** S2: source coverage assertion — actual min/max dates vs a requested
    * range with grace days, as a per-entity flag (`Sources.coverage`). */
  val q44 = QueryDef("q44_coverage_check",
    (s, dir) => Sources.coverage(Tables.lineitem(s, dir), Seq("l_suppkey"),
        "l_shipdate", "1995-01-01", "2001-06-30", 7)
      .withColumn("covered", when(col("covered"), 1).otherwise(0))
      .orderBy("l_suppkey"),
    Some("""SELECT l_suppkey,
      CAST(MIN(l_shipdate) AS DATE) AS actual_start,
      CAST(MAX(l_shipdate) AS DATE) AS actual_end,
      CASE WHEN CAST(MIN(l_shipdate) AS DATE) <= DATE '1995-01-01' + 7
             AND CAST(MAX(l_shipdate) AS DATE) >= DATE '2001-06-30' - 7
           THEN 1 ELSE 0 END AS covered
      FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"""))

  /** S5: top-k-most-recent source semantics — sort desc, head(k), re-sort
    * asc (the reference's fundamentals/ratios fetch; `Sources.topKMostRecent`). */
  val q45 = QueryDef("q45_topk_recent_asc",
    (s, dir) =>
      Sources.topKMostRecent(Tables.orders(s, dir), 5, Seq("o_custkey"),
          "o_orderdate", Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("o_date"))
        .orderBy(col("o_custkey"), col("o_date"), col("o_orderkey")),
    Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
      WHERE rn <= 5 ORDER BY o_custkey, o_date, o_orderkey"""))
}
