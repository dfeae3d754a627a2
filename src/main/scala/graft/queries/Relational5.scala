package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import QueryDef.{dec, moneySum, ONE}

/** Fifth coverage batch: the deep star-join topology (TPC-H Q5 shape), time-
  * series resampling with forward fill, gaps-and-islands streaks, sweep-line
  * interval concurrency, and exact linear-regression aggregates — each
  * oracle-gated against DuckDB.
  */
object Relational5 {

  def defs: Seq[QueryDef] = Seq(q69, q70, q71, q72, q73, q74, q75)

  /** TPC-H Q5 shape: 6-table star join with the "local supplier" condition
    * (customer and supplier in the SAME nation — a second equi-constraint
    * that shrinks the join, not a new shuffle key). Scale plan: region and
    * nation are tiny and customer/supplier are small dims → all broadcast;
    * the only shuffle is lineitem⨝orders on orderkey, and the order-date
    * filter is pushed into the orders scan BEFORE that shuffle. */
  val q69 = QueryDef("q69_local_supplier_revenue",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val c = Tables.customer(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(dec(col("l_extendedprice")) * (ONE - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  /** Time-series resample + forward fill: each customer's sparse order days
    * become a dense daily calendar (their own min..max), gap days carry the
    * last observed daily spend. The spine is generated per key from a
    * 1-row-per-key bounds aggregate (`sequence` + `explode`) — no driver
    * loop, no global calendar cross join; the forward fill is one
    * `last(ignoreNulls)` running window per key. Scale: spine size is
    * O(keys × span), partitioned by key; nothing global. */
  val q70 = QueryDef("q70_gap_fill_forward",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .filter(col("o_custkey") < 20)
        .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
        .agg(moneySum(col("o_totalprice")).as("spend"))
      val spine = daily.groupBy("o_custkey")
        .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(col("o_custkey"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
      val w = Window.partitionBy("o_custkey").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(daily, Seq("o_custkey", "d"), "left")
        .withColumn("filled_spend", last(col("spend"), ignoreNulls = true).over(w))
        .orderBy("o_custkey", "d")
    },
    Some("""WITH daily AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders WHERE o_custkey < 20 GROUP BY 1, 2),
      spine AS (
        SELECT o_custkey, CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
        FROM (SELECT o_custkey, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1))
      SELECT s.o_custkey AS o_custkey, s.d AS d, dl.spend,
        LAST_VALUE(dl.spend IGNORE NULLS)
          OVER (PARTITION BY s.o_custkey ORDER BY s.d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_spend
      FROM spine s LEFT JOIN daily dl ON s.o_custkey = dl.o_custkey AND s.d = dl.d
      ORDER BY s.o_custkey, s.d"""))

  /** Gaps-and-islands: longest consecutive-active-day streak per user. The
    * island anchor is `day − row_number` (constant within a run of
    * consecutive days) — two windowed passes, both partitioned by user, no
    * self-join. */
  val q71 = QueryDef("q71_active_streaks",
    (s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val w = Window.partitionBy("user_id").orderBy("d")
      days
        .withColumn("anchor", date_sub(col("d"), row_number().over(w)))
        .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("max_streak"),
          sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      runs AS (
        SELECT user_id,
          d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
        FROM days),
      islands AS (SELECT user_id, anchor, COUNT(*) AS len FROM runs GROUP BY 1, 2)
      SELECT user_id, MAX(len) AS max_streak,
        CAST(SUM(len) AS BIGINT) AS n_active_days,
        COUNT(*) AS n_streaks
      FROM islands GROUP BY user_id ORDER BY user_id"""))

  /** Sweep-line interval concurrency: treating each order as an open
    * interval [orderdate, orderdate+30d), how many are open on each
    * boundary day? Intervals → ±1 delta events → per-day net (the shuffle
    * reduces 100 TB of intervals to one row per distinct day) → running
    * sum over the aggregate via the distributed
    * [[graft.core.Indexing.globalPrefixSum]] (the day axis is
    * time-bounded, but PlanLint check 3 does not exempt grouped
    * aggregates, and the bucketed prefix sum costs the same here while
    * surviving a key axis that DOES grow). Inclusive running sum =
    * exclusive prefix + own net; day keys bucket by days-since-epoch.
    * The reduced relation is checkpointed first so the prefix machinery's
    * extra scans (bounds + histogram) re-read #days rows, not the corpus. */
  val q72 = QueryDef("q72_interval_sweep",
    (s, dir) => {
      val d0 = Tables.orders(s, dir).select(to_date(col("o_orderdate")).as("d"))
      val deltas = d0.select(col("d"), lit(1L).as("delta"))
        .unionByName(d0.select(date_add(col("d"), 30).as("d"), lit(-1L).as("delta")))
      val byDay = deltas.groupBy("d").agg(sum(col("delta")).as("net"))
        .withColumn("__dk", datediff(col("d"), lit("1970-01-01").cast(DateType)))
        .localCheckpoint(false)
      graft.core.Indexing.globalPrefixSum(byDay, "__dk", "net", "__ps")
        .select(col("d"), col("net"), (col("__ps") + col("net")).as("open_orders"))
        .orderBy("d")
    },
    Some("""WITH deltas AS (
        SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
        UNION ALL
        SELECT CAST(o_orderdate AS DATE) + 30 AS d, -1 AS delta FROM orders),
      by_day AS (SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY d)
      SELECT d, net,
        CAST(SUM(net) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
      FROM by_day ORDER BY d"""))

  /** Linear-regression aggregates (slope / intercept / r²) of extendedprice
    * on quantity per return flag, built from EXACT decimal co-sums so both
    * engines hash-compare bit-for-bit: raw double sums differ with shuffle
    * arrival order, and native regr_* maintains running co-moments whose
    * float error is engine-specific. Here each co-sum is an exact decimal,
    * cast to double ONCE, and the closed-form slope arithmetic is the same
    * IEEE expression on both engines. Spark's native regr_slope/corr are
    * pinned ≈ this form by Coverage5Spec. */
  val q73 = QueryDef("q73_regression_agg",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
        dec(col("l_quantity")).as("x"), dec(col("l_extendedprice")).as("y"))
      val g = li.groupBy("l_returnflag").agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
        sum(col("x") * col("y")).cast(DoubleType).as("sxy"),
        sum(col("y") * col("y")).cast(DoubleType).as("syy"))
      val covn = col("n") * col("sxy") - col("sx") * col("sy")
      val varxn = col("n") * col("sxx") - col("sx") * col("sx")
      val varyn = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("l_returnflag"),
        col("n").cast(LongType).as("n"),
        (covn / varxn).as("slope"),
        ((col("sy") - (covn / varxn) * col("sx")) / col("n")).as("intercept"),
        (covn * covn / (varxn * varyn)).as("r2"))
        .orderBy("l_returnflag")
    },
    Some("""WITH s AS (
        SELECT l_returnflag,
          CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
        ((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2
      FROM s ORDER BY l_returnflag"""))

  /** An alias of q6 (same body, same oracle), kept so the registry keeps
    * its 236 names. */
  val q74 = Relational.q6.copy(name = "q74_asof_exec")

  /** VALUE-based RANGE window frame (vs q46's date-range): for each
    * lineitem ordered by quantity within its supplier, how many rows (and
    * how much price) sit within 5 quantity units below it — a density
    * profile. RANGE frames are peer-inclusive by VALUE, so ties are
    * deterministic even though the row order under them is not; the
    * judged output aggregates to one row per supplier (testdata lineitem
    * has full-row duplicates — the q68 lesson — so no per-row unique
    * ORDER BY exists). */
  val q75 = QueryDef("q75_value_range_frame",
    (s, dir) => {
      val w = Window.partitionBy("l_suppkey").orderBy("l_quantity")
        .rangeBetween(-5, 0)
      Tables.lineitem(s, dir)
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("win_price", sum(dec(col("l_extendedprice"))).over(w)
          .cast(DoubleType))
        .groupBy("l_suppkey")
        .agg(max(col("win_n")).as("peak_density"),
          moneySum(col("win_price")).as("sum_win_price"),
          count(lit(1)).as("n"))
        .orderBy("l_suppkey")
    },
    Some("""WITH w AS (
        SELECT l_suppkey,
          COUNT(*) OVER fr AS win_n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER fr AS DOUBLE)
            AS win_price
        FROM lineitem
        WINDOW fr AS (PARTITION BY l_suppkey ORDER BY l_quantity
          RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
      SELECT l_suppkey, MAX(win_n) AS peak_density,
        CAST(SUM(CAST(win_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_win_price,
        COUNT(*) AS n
      FROM w GROUP BY l_suppkey ORDER BY l_suppkey"""))
}
