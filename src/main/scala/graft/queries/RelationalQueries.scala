package graft
package queries

import graft.ext.TextAnalysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** The relational SQL surface: joins, subqueries, windows, grouping,
  * set operations, sketches and the composition-stress shapes. */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    // §2B hash aggregate + scalar arithmetic + sort (TPC-H Q1 shape; covers
    // SURVEY §2B "Hash aggregate w/ GROUP BY", SUM/AVG/COUNT, ORDER BY).
    Query("q01_pricing_summary", Family.Relational, (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsumd(col("l_quantity")).as("sum_qty"),
          dsumd(col("l_extendedprice")).as("sum_base_price"),
          dsumd(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          // scale 6: price(2dp)·(1-disc)(2dp)·(1+tax)(2dp) has ≤6 exact
          // decimals — the cast snaps to the exact product instead of
          // genuinely rounding (midpoint rounding differs across engines).
          dsumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          (sum(dec(col("l_quantity"), 2)).cast(DoubleType) / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracleSql =
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2B multi-way equi-join (5 tables) + agg; Catalyst broadcasts the dims.
    Query("q02_revenue_by_nation", Family.Relational, (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
                col("o_orderdate") < lit("1998-01-01"))
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      // Per-order partial aggregate BELOW the join: lineitem is clustered
      // by orderkey so the map-side combine collapses ~4:1 pre-shuffle,
      // and every join above consumes |orders|-sized input. Decimal sums
      // re-associate exactly, so the two-level total is bit-identical.
      val perOrder = l.groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("__rev"),
          count(lit(1)).as("__n"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("__rev")).cast(DecimalType(18, 4)).cast(DoubleType)
            .as("revenue"),
          sum(col("__n")).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }, oracleSql =
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // §2B ORDER BY + LIMIT → TakeOrderedAndProject (top-k without full sort).
    Query("q03_topk_orders", Family.Relational, (s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast(DateType).as("o_date"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }, oracleSql =
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin),

    // §2B semi-join via IN-subquery (q14a/q23/q95 shape) → LEFT_SEMI.
    Query("q04_semijoin_priority", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val big = Tables.load(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // §2B anti-join via NOT EXISTS (q16/q69/q94 shape) → LEFT_ANTI.
    Query("q05_customers_without_orders", Family.Relational, (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }, oracleSql =
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // Composition stress (reference sql/q64.sql shape): an 8-relation
    // sales CTE aggregated per (year, nation, customer), self-joined at
    // two anchor years — 16 scans / 14 joins before the final rollup into
    // per-nation revenue pairs. Exact-decimal revenue, DOUBLE at the edge.
    Query("q50_multiway_cte_selfjoin", Family.Relational, (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val su = Tables.load(s, dir, "supplier")
      val ns = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("ns_nationkey"), col("n_name").as("ns_name"))
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      // The reference's engines materialize the shared `cross_sales` CTE
      // once; Spark would execute a DataFrame subtree once per consumer.
      // Instead of persisting the 8-relation join (cache churn at scale),
      // fold the two anchor-year branches into ONE pass: filter both
      // years up front (pushed to the orders scan), pivot per year with
      // conditional aggregation, and keep customers present in both.
      // Identical result, single execution, zero cached state.
      val yr = year(col("o_orderdate"))
      val sales = c
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(o.filter(year(col("o_orderdate")).isin(1995, 2000)),
          col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(p, col("p_partkey") === col("l_partkey"))
        .join(su, col("s_suppkey") === col("l_suppkey"))
        .join(ns, col("s_nationkey") === col("ns_nationkey"))
        .filter(col("p_size") <= 25 && col("s_acctbal") > 0)
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(when(yr === 1995, rev)).as("rev_a"),
          count(when(yr === 1995, lit(1))).as("n_a"),
          sum(when(yr === 2000, rev)).as("rev_b"),
          count(when(yr === 2000, lit(1))).as("n_b"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
      sales
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("rev_a")).cast("double").as("rev_1995"),
          sum(col("rev_b")).cast("double").as("rev_2000"))
        .orderBy(col("n_name"))
    }, oracleSql =
      """WITH sales AS (
        |  SELECT year(o_orderdate) AS yr, n.n_name, c.c_custkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |  WHERE p.p_size <= 25 AND s.s_acctbal > 0
        |  GROUP BY 1, 2, 3)
        |SELECT a.n_name, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(SUM(a.rev) AS DOUBLE) AS rev_1995, CAST(SUM(b.rev) AS DOUBLE) AS rev_2000
        |FROM sales a JOIN sales b ON a.c_custkey = b.c_custkey AND a.n_name = b.n_name
        |WHERE a.yr = 1995 AND b.yr = 2000
        |GROUP BY a.n_name ORDER BY a.n_name""".stripMargin),

    // Composition stress (reference sql/q67.sql:32 shape): 8-column ROLLUP
    // over a 6-relation join, grouping-id derived per column so both
    // engines pack it identically; rolled-up columns surfaced as 'ALL' to
    // keep ordering engine-agnostic.
    Query("q51_rollup_8col", Family.Relational, (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      val p = Tables.load(s, dir, "part")
      val cols = Seq("r_name", "n_name", "c_mktsegment", "o_orderstatus",
        "o_orderpriority", "l_returnflag", "l_linestatus", "p_brand")
      val gid = cols.zipWithIndex.map { case (cn, i) =>
        grouping(col(cn)).cast("long") * (1L << (cols.size - 1 - i))
      }.reduce(_ + _)
      val out = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") > 45)
        .rollup(cols.map(col): _*)
        .agg(gid.as("gid"), count(lit(1)).as("n"),
          dsumd(col("l_quantity")).as("sum_qty"))
        .select(col("gid") +:
          cols.map(cn => coalesce(col(cn), lit("ALL")).as(cn)) :+
          col("n") :+ col("sum_qty"): _*)
      out.orderBy(col("gid") +: cols.map(col): _*)
    }, oracleSql =
      """SELECT
        |  CAST(grouping(r_name)*128 + grouping(n_name)*64 + grouping(c_mktsegment)*32 +
        |       grouping(o_orderstatus)*16 + grouping(o_orderpriority)*8 + grouping(l_returnflag)*4 +
        |       grouping(l_linestatus)*2 + grouping(p_brand) AS BIGINT) AS gid,
        |  COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
        |  COALESCE(c_mktsegment, 'ALL') AS c_mktsegment,
        |  COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |  COALESCE(p_brand, 'ALL') AS p_brand,
        |  count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l_quantity > 45
        |GROUP BY ROLLUP(r2.r_name, n2.n_name, c.c_mktsegment, o.o_orderstatus,
        |  o.o_orderpriority, l.l_returnflag, l.l_linestatus, p.p_brand)
        |ORDER BY gid, r_name, n_name, c_mktsegment, o_orderstatus,
        |  o_orderpriority, l_returnflag, l_linestatus, p_brand""".stripMargin),

    // Composition stress (reference sql/q14a.sql shape): customers present
    // in all three return-flag channels via a 3-way INTERSECT stack, then
    // joined back for an exact-decimal balance sum.
    Query("q52_intersect_channels", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      val c = Tables.load(s, dir, "customer")
      // INTERSECT of three single-column channels ≡ "customer has all
      // three flags". The naive 3-way intersect executes the orders ⋈
      // lineitem distinct once per channel; one conditional aggregate
      // computes set membership in a single pass — same rows, 3× less work,
      // and the gap grows linearly with data. Flags fold per orderkey
      // BELOW the join (lineitem is clustered by orderkey, so map-side
      // combine collapses ~4:1 before the shuffle) and the join consumes
      // |orders|-sized input instead of |lineitem|.
      val perOrder = l.filter(col("l_returnflag").isin("R", "A", "N"))
        .groupBy(col("l_orderkey"))
        .agg(
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("fR"),
          max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("fA"),
          max(when(col("l_returnflag") === "N", 1).otherwise(0)).as("fN"))
      val flagged = o.join(perOrder, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(max(col("fR")).as("fR"), max(col("fA")).as("fA"),
          max(col("fN")).as("fN"))
        .filter(col("fR") === 1 && col("fA") === 1 && col("fN") === 1)
        .select(col("o_custkey"))
      flagged
        .join(c, col("c_custkey") === col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
    }, oracleSql =
      """WITH ch AS (
        |  SELECT DISTINCT o_custkey, l_returnflag
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM (
        |  SELECT o_custkey FROM ch WHERE l_returnflag = 'R'
        |  INTERSECT SELECT o_custkey FROM ch WHERE l_returnflag = 'A'
        |  INTERSECT SELECT o_custkey FROM ch WHERE l_returnflag = 'N') t
        |JOIN customer ON c_custkey = o_custkey""".stripMargin),

    // ROUND + ABS over exact decimals (both engines round decimals
    // HALF_UP, so the sums are bit-stable).
    Query("q53_round_abs", Family.Relational, (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      l.groupBy(col("l_returnflag"))
        .agg(sum(round(rev, 0)).cast("double").as("rounded_rev"),
          sum(abs(col("l_quantity").cast("decimal(18,2)") - 25)).cast("double")
            .as("abs_qty_dev"))
        .orderBy(col("l_returnflag"))
    }, oracleSql =
      """SELECT l_returnflag,
        |  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 0)) AS DOUBLE) AS rounded_rev,
        |  CAST(SUM(ABS(CAST(l_quantity AS DECIMAL(18,2)) - 25)) AS DOUBLE) AS abs_qty_dev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2B correlated scalar subquery in predicate (TPC-DS q1 shape) —
    // through spark.sql so Catalyst's subquery decorrelation is exercised.
    Query("q06_corr_scalar_subquery", Family.Relational, (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.corrScalarSubquery)
    }, oracleSql =
      SharedSql.corrScalarSubquery),

    // §2B uncorrelated scalar subqueries cross-joined into one row (q88).
    Query("q07_scalar_subqueries", Family.Relational, (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.scalarSubqueries)
    }, oracleSql =
      SharedSql.scalarSubqueries),

    // §2B RANK() over partition + rank-based top-k (q67 shape).
    Query("q08_window_rank", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      // Aggregate below the join: p_partkey is part's key, so grouping by
      // (p_brand, p_partkey) ≡ grouping lineitem by l_partkey and
      // attaching the brand afterwards — the join consumes |part|-sized
      // input and the |lineitem|-sized join result is never re-shuffled
      // (Catalyst has no aggregate-pushdown rule to find this itself).
      val rev = li.groupBy(col("l_partkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .join(p.select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("revenue").desc, col("p_partkey"))
      // rank over the exact decimal; only the OUTPUT column is double.
      rev.withColumn("rk", rank().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("p_partkey"),
          col("revenue").cast(DoubleType).as("revenue"), col("rk"))
        .orderBy(col("p_brand"), col("rk"), col("p_partkey"))
    }, oracleSql =
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey)
        |SELECT p_brand, p_partkey, CAST(revenue AS DOUBLE) AS revenue, rk FROM (
        |  SELECT p_brand, p_partkey, revenue,
        |    CAST(rank() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS BIGINT) AS rk
        |  FROM rev) t
        |WHERE rk <= 3
        |ORDER BY p_brand, rk, p_partkey""".stripMargin),

    // §2B cumulative frame ROWS UNBOUNDED PRECEDING..CURRENT ROW (q51).
    Query("q09_window_cumulative", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val daily = li
        .groupBy(col("l_returnflag"), col("l_shipdate").cast(DateType).as("ship_day"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("day_rev"))
      // the cumulative window sum runs over the exact decimal (DuckDB's
      // segment-tree window agg doesn't sum doubles left-to-right); only
      // the final projection converts to double.
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("ship_day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cume_rev", sum(col("day_rev")).over(w).cast(DecimalType(18, 4)))
        .select(col("l_returnflag"), col("ship_day"),
          col("day_rev").cast(DoubleType).as("day_rev"),
          col("cume_rev").cast(DoubleType).as("cume_rev"))
        .orderBy(col("l_returnflag"), col("ship_day"))
    }, oracleSql =
      """WITH daily AS (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS ship_day,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS day_rev
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, ship_day, CAST(day_rev AS DOUBLE) AS day_rev,
        |  CAST(CAST(SUM(day_rev) OVER (PARTITION BY l_returnflag ORDER BY ship_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS cume_rev
        |FROM daily
        |ORDER BY l_returnflag, ship_day""".stripMargin),

    // §2B analytic AVG over partition + deviation filter (q47/q53/q89
    // shape). The partition average is exact-sum::double / count so it is
    // bit-identical across engines.
    Query("q10_window_avg_deviation", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val monthly = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("rev"))
      val w = Window.partitionBy(col("p_brand"))
      monthly
        .withColumn("brand_avg",
          sum(col("rev")).over(w).cast(DoubleType) / count(col("rev")).over(w))
        .filter(col("rev").cast(DoubleType) > lit(1.3) * col("brand_avg"))
        .select(col("p_brand"), col("ship_month"),
          col("rev").cast(DoubleType).as("rev"))
        .orderBy(col("p_brand"), col("ship_month"))
    }, oracleSql =
      """WITH monthly AS (
        |  SELECT p_brand, CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, ship_month, CAST(rev AS DOUBLE) AS rev FROM (
        |  SELECT p_brand, ship_month, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY p_brand) AS DOUBLE)
        |      / COUNT(rev) OVER (PARTITION BY p_brand) AS brand_avg
        |  FROM monthly) t
        |WHERE CAST(rev AS DOUBLE) > 1.3 * brand_avg
        |ORDER BY p_brand, ship_month""".stripMargin),

    // §2B ROLLUP + GROUPING() flags (q5/q27/q67 shape).
    Query("q11_rollup_grouping", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(dsumd(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).as("g_s"),
          grouping(col("o_orderpriority")).as("g_p"))
        .select(
          when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus"))
            .as("order_status"),
          when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority"))
            .as("order_priority"),
          col("total"), col("n_orders"))
        .orderBy(col("order_status"), col("order_priority"))
    }, oracleSql =
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS order_status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS order_priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY order_status, order_priority""".stripMargin),

    // §2B COUNT(DISTINCT) (q16/q28/q94 shape).
    Query("q12_count_distinct", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // §2B STDDEV_SAMP (q17/q39 shape) — computed from exact decimal sums
    // (sqrt((Σx² − (Σx)²/n)/(n−1))) so the value is deterministic across
    // engines, unlike a streaming double accumulation.
    Query("q13_stats_stddev", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"), 2)).as("s1"),
          sum(dec(col("l_quantity") * col("l_quantity"), 2)).as("s2"))
        .select(col("l_returnflag"), col("n_items"),
          (col("s1").cast(DoubleType) / col("n_items")).as("mean_qty"),
          sqrt((col("s2").cast(DoubleType)
            - col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("n_items"))
            / (col("n_items") - 1)).as("stddev_qty"))
        .orderBy(col("l_returnflag"))
    }, oracleSql =
      """SELECT l_returnflag, n_items,
        |  CAST(s1 AS DOUBLE) / n_items AS mean_qty,
        |  sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n_items)
        |       / (n_items - 1)) AS stddev_qty
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n_items,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,2))) AS s2
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin),

    // §2B INTERSECT + EXCEPT (q8/q14/q38/q87 shape).
    Query("q14_setops", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def custs(from: String, until: String) =
        o.filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select(col("o_custkey"))
      val flagged = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      custs("1996-01-01", "1997-01-01")
        .intersect(custs("1997-01-01", "1998-01-01"))
        .except(flagged)
        .orderBy(col("o_custkey"))
    }, oracleSql =
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |) t ORDER BY o_custkey""".stripMargin),

    // §2B CASE WHEN conditional-agg bucketing (q50/q62/q99 shape).
    Query("q15_case_buckets", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val d = datediff(col("l_shipdate").cast(DateType), col("o_orderdate").cast(DateType))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(d <= 30, 1).otherwise(0)).as("d30"),
          sum(when(d > 30 && d <= 60, 1).otherwise(0)).as("d60"),
          sum(when(d > 60 && d <= 90, 1).otherwise(0)).as("d90"),
          sum(when(d > 90, 1).otherwise(0)).as("d_over"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN d <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN d > 30 AND d <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN d > 60 AND d <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN d > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d_over,
        |  COUNT(*) AS n_items
        |FROM (
        |  SELECT o_orderpriority,
        |    datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // §2B FULL OUTER JOIN + COALESCE null handling (q51/q97 shape).
    Query("q16_full_outer_join", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      def monthly(flag: String, out: String) =
        li.filter(col("l_returnflag") === flag)
          .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
          .agg(dsum(col("l_extendedprice"), 2).as(out))
      val zero = lit(0).cast(DecimalType(18, 2))
      monthly("A", "rev_a").join(monthly("R", "rev_r"), Seq("ship_month"), "full_outer")
        .select(col("ship_month"),
          coalesce(col("rev_a"), zero).cast(DoubleType).as("rev_a"),
          coalesce(col("rev_r"), zero).cast(DoubleType).as("rev_r"))
        .orderBy(col("ship_month"))
    }, oracleSql =
      """WITH a AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev_a
        |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
        |r AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev_r
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT coalesce(a.ship_month, r.ship_month) AS ship_month,
        |  CAST(coalesce(rev_a, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rev_a,
        |  CAST(coalesce(rev_r, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rev_r
        |FROM a FULL OUTER JOIN r ON a.ship_month = r.ship_month
        |ORDER BY ship_month""".stripMargin),

    // §2B LEFT OUTER JOIN + agg over nullable side (q93 shape).
    Query("q17_left_join_returns", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val ret = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val zero = lit(0).cast(DecimalType(18, 2))
      o.join(ret, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("l_extendedprice")), zero).cast(DoubleType)
            .as("returned_value"))
        .orderBy(col("o_orderstatus"))
    }, oracleSql =
      """SELECT o_orderstatus, COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(coalesce(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)),
        |           CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS returned_value
        |FROM orders LEFT OUTER JOIN (SELECT * FROM lineitem WHERE l_returnflag = 'R') r
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // §2B HAVING vs uncorrelated scalar subquery (q23a/q44 shape).
    Query("q18_having_scalar", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val counts = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_items"))
      val thr = counts.agg(
        (lit(1.5) * sum(col("n_items")).cast(DoubleType) / count(lit(1))).as("thr"))
      counts.crossJoin(thr).filter(col("n_items") > col("thr"))
        .select(col("l_partkey"), col("n_items"))
        .orderBy(col("l_partkey"))
    }, oracleSql =
      """WITH counts AS (
        |  SELECT l_partkey, COUNT(*) AS n_items FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, n_items FROM counts
        |WHERE n_items > (SELECT 1.5 * CAST(SUM(n_items) AS DOUBLE) / COUNT(*) FROM counts)
        |ORDER BY l_partkey""".stripMargin),

    // §2B cross join of ascending × descending rank tables (q44 shape).
    Query("q19_crossjoin_rank", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val rev = li.groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("rev"))
      val asc = rev.select(col("l_suppkey").as("supp_worst"),
        rank().over(Window.orderBy(col("rev").asc, col("l_suppkey").asc))
          .cast(LongType).as("rnk"))
      val desc = rev.select(col("l_suppkey").as("supp_best"),
        rank().over(Window.orderBy(col("rev").desc, col("l_suppkey").desc))
          .cast(LongType).as("rnk"))
      asc.join(desc, Seq("rnk")).filter(col("rnk") <= 5)
        .select(col("rnk"), col("supp_best"), col("supp_worst"))
        .orderBy(col("rnk"))
    }, oracleSql =
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem GROUP BY l_suppkey),
        |asc_r AS (SELECT l_suppkey AS supp_worst,
        |    CAST(rank() OVER (ORDER BY rev ASC, l_suppkey ASC) AS BIGINT) AS rnk FROM rev),
        |desc_r AS (SELECT l_suppkey AS supp_best,
        |    CAST(rank() OVER (ORDER BY rev DESC, l_suppkey DESC) AS BIGINT) AS rnk FROM rev)
        |SELECT asc_r.rnk AS rnk, supp_best, supp_worst
        |FROM asc_r JOIN desc_r ON asc_r.rnk = desc_r.rnk
        |WHERE asc_r.rnk <= 5 ORDER BY asc_r.rnk""".stripMargin),

    // §2B string expressions: SUBSTR, ||, LIKE, UPPER, IN-list (q8/q23/
    // q84/q91 shape) over the documents table.
    Query("q24_string_funcs", Family.Relational, (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.filter(col("lang").isin("en", "de", "fr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("text").like("%the%"), 1).otherwise(0)).as("n_like_the"),
          min(substring(col("text"), 1, 12)).as("min_prefix"),
          max(upper(col("source"))).as("max_source"))
        .withColumn("label", concat(col("lang"), lit(":"), col("max_source")))
        .orderBy(col("lang"))
    }, oracleSql =
      """SELECT lang, n_docs, total_chars, n_like_the, min_prefix, max_source,
        |  lang || ':' || max_source AS label
        |FROM (
        |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(SUM(CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like_the,
        |    MIN(substring(text, 1, 12)) AS min_prefix,
        |    MAX(upper(source)) AS max_source
        |  FROM documents WHERE lang IN ('en', 'de', 'fr')
        |  GROUP BY lang) t
        |ORDER BY lang""".stripMargin),

    // §2B date ± INTERVAL join predicate (q32/q94 shape).
    Query("q25_date_interval", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_shipped_30d"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
      """SELECT o_orderpriority, COUNT(*) AS n_shipped_30d
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // §2B manual lag via rn self-join of a CTE (q47/q57 shape).
    Query("q26_selfjoin_lag", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val monthly = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
        .agg(dsum(col("l_extendedprice"), 2).as("rev"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("p_brand")).orderBy(col("ship_month"))).cast(LongType))
      val lagged = monthly.select(col("p_brand").as("b2"), col("rn").as("rn2"),
        col("rev").as("prev_rev"))
      monthly.join(lagged,
          col("p_brand") === col("b2") && col("rn") === col("rn2") + 1)
        .select(col("p_brand"), col("ship_month"),
          col("rev").cast(DoubleType).as("rev"),
          col("prev_rev").cast(DoubleType).as("prev_rev"))
        .orderBy(col("p_brand"), col("ship_month"))
    }, oracleSql =
      """WITH monthly AS (
        |  SELECT p_brand, CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(date_trunc('month', l_shipdate) AS DATE)) AS BIGINT) AS rn
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, CAST(date_trunc('month', l_shipdate) AS DATE))
        |SELECT v1.p_brand, v1.ship_month, CAST(v1.rev AS DOUBLE) AS rev,
        |  CAST(v2.rev AS DOUBLE) AS prev_rev
        |FROM monthly v1 JOIN monthly v2
        |  ON v1.p_brand = v2.p_brand AND v1.rn = v2.rn + 1
        |ORDER BY v1.p_brand, v1.ship_month""".stripMargin),

    // §2B UNION ALL channel combination (q5/q71/q75/q76 shape).
    Query("q27_union_all_channels", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def channel(status: String, name: String) =
        o.filter(col("o_orderstatus") === status)
          .select(lit(name).as("channel"),
            date_trunc("year", col("o_orderdate")).cast(DateType).as("order_year"),
            col("o_totalprice"))
      channel("F", "fulfilled").unionAll(channel("O", "open"))
        .groupBy(col("channel"), col("order_year"))
        .agg(dsumd(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
        .orderBy(col("channel"), col("order_year"))
    }, oracleSql =
      """SELECT channel, order_year,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n_orders
        |FROM (
        |  SELECT 'fulfilled' AS channel, CAST(date_trunc('year', o_orderdate) AS DATE) AS order_year,
        |    o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'open' AS channel, CAST(date_trunc('year', o_orderdate) AS DATE) AS order_year,
        |    o_totalprice FROM orders WHERE o_orderstatus = 'O'
        |) t
        |GROUP BY channel, order_year
        |ORDER BY channel, order_year""".stripMargin),

    // §2B correlated EXISTS ×2 (q10/q35 shape) through Catalyst's
    // RewritePredicateSubquery.
    Query("q29_correlated_exists", Family.Relational, (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.correlatedExists)
    }, oracleSql =
      SharedSql.correlatedExists),

    // §2B UNION (distinct) — q38-style wrapper.
    Query("q43_union_distinct", Family.Relational, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def keys(from: String, until: String) =
        o.filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select(col("o_custkey"))
      keys("1996-01-01", "1997-06-01").union(keys("1997-01-01", "1998-01-01"))
        .distinct()
        .orderBy(col("o_custkey"))
    }, oracleSql =
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-06-01'
        |  UNION
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |) t ORDER BY o_custkey""".stripMargin),

    // custom operator: gap-based batch sessionization (two windows, one
    // shuffle) — batch twin of the streaming flatMapGroupsWithState path.
    Query("q45_batch_sessions", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      graft.operators.AsOfJoin.sessionizeBatch(ev, "user_id", "ts", 1800)
        .groupBy(col("user_id"))
        .agg(max(col("session_seq")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    // custom operator: backward AS-OF JOIN (point-in-time lookup) via the
    // union + last_value-window plan — checked against DuckDB's native
    // ASOF JOIN.
    Query("q46_asof_join", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asOfBackward(
          ev.select(col("event_id"), col("user_id"), col("ts")), purchases,
          "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          col("value").as("last_purchase_value"))
        .orderBy(col("event_id"))
    }, oracleSql =
      """SELECT e.event_id, e.user_id, p.value AS last_purchase_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin),

    // streaming-shaped tumbling-window aggregate run in batch mode (the
    // same expression CdcStream.windowedEventCounts uses on streams).
    Query("q47_windowed_counts", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dsumd(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    }, oracleSql =
      SharedSql.windowedCounts),

    // NOT IN subquery → null-aware anti join (distinct plan + null
    // semantics vs the NOT EXISTS anti join of q05).
    Query("q60_not_in_subquery", Family.Relational, (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.notInSubquery)
    }, oracleSql =
      SharedSql.notInSubquery),

    // Interval-bounded RANGE window frame (30-day moving revenue) —
    // value-based frame, distinct from q09's ROWS frame.
    Query("q61_range_frame", Family.Relational, (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.rangeFrameMovingSum)
    }, oracleSql =
      SharedSql.rangeFrameMovingSum),

    // Composition stress (reference sql/q88.sql shape): eight single-row
    // COUNT subqueries over the same 3-relation join with different time
    // slices and a disjunctive segment/quantity predicate, cross-joined
    // into one row. Identical SQL runs on both engines.
    Query("q55_eight_subqueries", Family.Relational, (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.eightSubqueries)
    }, oracleSql =
      SharedSql.eightSubqueries),

    // Engine-portable cardinality sketch: KMV (k minimum md5-prefix
    // hashes) — the deterministic alternative to HLL, so the DuckDB
    // oracle replays the SKETCH itself bit-for-bit, not just a tolerance
    // band. within_10pct doubles as an accuracy gate against the exact
    // COUNT(DISTINCT) (same pattern as q56's ANN recall gate).
    Query("q120_kmv_distinct", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val approx = graft.ext.Sketches.kmvDistinct(
        ev, Seq("event_type"), "user_id", k = 64)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      approx.join(exact, "event_type")
        .withColumn("within_10pct",
          abs(col("approx_distinct") - col("exact_distinct")) * 10 <=
            col("exact_distinct"))
        .select(col("event_type"), col("approx_distinct"),
          col("exact_distinct"), col("within_10pct"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Bit-identical KMV replay: same 48-bit md5-prefix hashes, same
      // (k-1)·2^48 // h_k floor estimate (k = 64).
      """WITH pairs AS (SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM events),
        |topk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM pairs),
        |a AS (SELECT event_type,
        |    CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        |      ELSE (63 * 281474976710656) // greatest(MAX(h), 1) END
        |      AS BIGINT) AS approx_distinct
        |  FROM topk WHERE rn <= 64 GROUP BY event_type),
        |e AS (SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT a.event_type, approx_distinct, exact_distinct,
        |  abs(approx_distinct - exact_distinct) * 10 <= exact_distinct
        |    AS within_10pct
        |FROM a JOIN e USING (event_type)
        |ORDER BY event_type""".stripMargin),

    // Semi-structured extraction: the events fixture's `props` column is
    // a JSON string — `get_json_object` pulls fields inside the codegen'd
    // projection (no UDF, no pre-parse pass), the standard lakehouse
    // answer for raw event payloads before a schema is declared.
    Query("q122_json_extract", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Same JSON path on both engines (DuckDB's ->> returns text like
      // Spark's get_json_object; CAST to BIGINT each side).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(SUM(CASE WHEN CAST(props->>'$.k' AS BIGINT) > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ext: exact grouped quantiles with no global sort and no sketch —
    // corpus compressed to (group, value, count) by one hash agg, the
    // per-group cumulative window runs over the COMPRESSED frame
    // (bounded by the value domain, never row count), quantile picked by
    // integer cross-multiplication (engine-exact).
    Query("q126_exact_quantiles", Family.Relational, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.Quantiles.exactQuantiles(docs, "source", "n_chars",
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .orderBy(col("source"))
    }, oracleSql =
      // Same compressed-frame cumulative-count quantiles, integer
      // cross-multiplication (no floats, no interpolation).
      """WITH c AS (SELECT source, n_chars, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT source, n_chars,
        |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM c)
        |SELECT source,
        |  CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN n_chars END) AS BIGINT) AS p90,
        |  CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN n_chars END) AS BIGINT) AS p99,
        |  CAST(MAX(n) AS BIGINT) AS n_rows
        |FROM w GROUP BY source ORDER BY source""".stripMargin),

    // ext: count-min sketch heavy hitters — frequency estimation whose
    // state is MERGEABLE (cell sums are associative: per-batch sketches
    // sum cell-wise into the union's sketch) and bounded (depth·width
    // rows at any corpus size). Build = one partial-aggregated shuffle;
    // estimates = min over depth cells, an overestimate by construction
    // (never_under must hold on every row). Deterministic md5 hashing —
    // the oracle replays the cells bit-for-bit.
    Query("q129_countmin_heavyhitters", Family.Relational, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val cells = graft.ext.Sketches.countMinCells(toks, "tok",
        depth = 4, width = 512)
      val est = graft.ext.Sketches.countMinEstimate(toks, "tok", cells,
        depth = 4, width = 512)
      val exact = toks.groupBy(col("tok").as("value"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, "value")
        .withColumn("overcount", col("est") - col("exact"))
        .withColumn("never_under", col("est") >= col("exact"))
        .orderBy(col("exact").desc, col("value")).limit(15)
        .select(col("value"), col("exact"), col("est"), col("overcount"),
          col("never_under"))
    }, oracleSql =
      // Cell-exact count-min replay: same md5("<r>|<token>") % width cells,
      // min-over-depth estimates, exact counts joined for the overcount.
      raw"""WITH tk AS (SELECT unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS tok
           |  FROM documents),
           |rr AS (SELECT unnest(range(0, 4)) AS r),
           |cells AS (SELECT rr.r,
           |    CAST((('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '|' || tok),
           |      1, 12))::BIGINT % 512) AS INT) AS c, COUNT(*) AS cnt
           |  FROM tk, rr GROUP BY 1, 2),
           |v AS (SELECT DISTINCT tok FROM tk),
           |probe AS (SELECT v.tok AS value, rr.r,
           |    CAST((('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '|' || v.tok),
           |      1, 12))::BIGINT % 512) AS INT) AS c
           |  FROM v, rr),
           |es AS (SELECT value, MIN(cnt) AS est
           |  FROM probe JOIN cells USING (r, c) GROUP BY value),
           |ex AS (SELECT tok AS value, COUNT(*) AS exact FROM tk GROUP BY tok)
           |SELECT value, CAST(exact AS BIGINT) AS exact,
           |  CAST(est AS BIGINT) AS est,
           |  CAST(est - exact AS BIGINT) AS overcount,
           |  est >= exact AS never_under
           |FROM es JOIN ex USING (value)
           |ORDER BY exact DESC, value LIMIT 15""".stripMargin),

    // operators: bucketed interval join (q148) — `BETWEEN` joins plan as
    // BroadcastNestedLoopJoin in stock Spark (O(N·M), broadcast-bound);
    // binning recovers a hash equi-join on the bucket key. Overlapping
    // $500-stride/$1000-wide price bands over lineitem, exact BETWEEN
    // residual filter inside the join, each pair produced exactly once.
    Query("q148_range_join", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"), col("l_quantity"))
      val bands = s.range(0, 210).select(
        col("id").as("band_id"),
        (col("id") * 50000L).as("lo"),
        (col("id") * 50000L + 99999L).as("hi"))
      graft.operators.RangeJoin
        .pointInRange(li, "cents", bands, "lo", "hi", bucketWidth = 100000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
        .orderBy(col("band_id"))
    }, oracleSql =
      // Plain BETWEEN join over the same band table — the binned equi-join
      // must produce the identical pair set.
      """WITH b AS (SELECT CAST(range AS BIGINT) AS band_id,
        |    range * 50000 AS lo, range * 50000 + 99999 AS hi
        |  FROM range(210)),
        |p AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS cents, l_quantity FROM lineitem)
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM p JOIN b ON p.cents BETWEEN b.lo AND b.hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin),

    // ext: mergeable sample-quantile sketch (q152) — exact rational
    // quantiles of a deterministic bottom-k md5 row sample, the
    // continuous-domain path where exactQuantiles' discrete contract
    // doesn't hold. One group shuffle over the data; O(1/√k) rank error;
    // per-batch sketches merge (bottom-k of union = bottom-k of merged
    // bottom-ks).
    Query("q152_sample_quantiles", Family.Relational, (s, dir) => {
      val ev = Tables.loadSpread(s, dir, "events")
      graft.ext.Quantiles.sampleQuantiles(ev, "event_type", "event_id",
          "value", k = 200,
          pcts = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Bottom-k md5 sample, then the integer cross-multiplied discrete
      // quantile over the sample — replays sampleQuantiles bit-for-bit.
      """WITH s AS (SELECT event_type, value FROM (
        |    SELECT event_type, value, row_number() OVER (
        |      PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |    FROM events) t WHERE rn <= 200),
        |c AS (SELECT event_type, value, COUNT(*) AS cnt
        |  FROM s GROUP BY event_type, value),
        |cc AS (SELECT event_type, value,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n FROM c)
        |SELECT event_type,
        |  MIN(CASE WHEN cum * 2 >= n * 1 THEN value END) AS p50,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN value END) AS p90,
        |  MIN(CASE WHEN cum * 100 >= n * 99 THEN value END) AS p99,
        |  CAST(MAX(n) AS BIGINT) AS sample_rows
        |FROM cc GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ext: grouped top-k as a bounded-state aggregate (q154) — top-5
    // exemplar docs per (source, lang) by length. ObjectHashAggregate
    // partial-aggregates the k-bounded buffer map-side, so the shuffle
    // carries ≤ k rows per group per input partition instead of every
    // row — the window-rank formulation (the oracle) shuffles the corpus.
    Query("q154_grouped_topk", Family.Relational, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.TopK.topKPerGroup(docs, Seq("source", "lang"),
          scoreCol = "n_chars", idCol = "doc_id", k = 5)
        .orderBy(col("source"), col("lang"), col("rank"))
    }, oracleSql =
      // The window-rank formulation the aggregator replaces — identical
      // rows, (score DESC, id ASC) total order.
      """SELECT source, lang, rank, doc_id, n_chars FROM (
        |  SELECT source, lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(row_number() OVER (PARTITION BY source, lang
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rank
        |  FROM documents) t
        |WHERE rank <= 5 ORDER BY source, lang, rank""".stripMargin),

    // ext: deterministic HyperLogLog (q155) — per-event-type distinct
    // users from TWO register sketches built on disjoint halves and
    // merged by element-wise max, proving the persist-per-batch /
    // fold-across-batches shape; integer-only estimation replays on any
    // engine (registers from md5 bits, harmonic sum scaled 2^44,
    // fixed-point alpha, table-driven linear counting).
    Query("q155_hll_distinct", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val g = Seq("event_type")
      val r1 = graft.ext.Sketches.hllRegisters(
        ev.filter(col("event_id") % 2 === 0), g, "user_id")
      val r2 = graft.ext.Sketches.hllRegisters(
        ev.filter(col("event_id") % 2 === 1), g, "user_id")
      val merged = r1.unionByName(r2)
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("reg")).as("reg"))
      val est = graft.ext.Sketches.hllEstimate(merged, g)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("event_type"))
        .withColumn("within_20pct",
          abs(col("approx_distinct") - col("exact_distinct")) * 5
            <= col("exact_distinct"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Register-exact HLL replay: same md5 bits, same integer harmonic
      // sum, same fixed-point alpha and linear-counting table.
      s"""WITH src AS (SELECT event_type, user_id AS v FROM events),
         |${graft.ext.Sketches.hllOracleSql(Seq("event_type"))},
         |e AS (SELECT event_type,
         |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |  FROM events GROUP BY event_type)
         |SELECT h.event_type, approx_distinct, exact_distinct,
         |  abs(approx_distinct - exact_distinct) * 5 <= exact_distinct
         |    AS within_20pct
         |FROM hll h JOIN e USING (event_type)
         |ORDER BY event_type""".stripMargin),

    // Time-series gap-fill + LOCF (q161) — densify each user's hourly
    // series onto its own [first, last] grid (per-key sequence/explode,
    // no global calendar cross join) and carry the last observed sum
    // into empty hours; integer value proxy keeps the fill replayable.
    Query("q161_gapfill_locf", Family.Relational, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 50 === 0)
      graft.operators.GapFill
        .locf(ev, "user_id", "ts", "hour", col("event_id") % 1000)
        .orderBy(col("user_id"), col("bucket"))
    }, oracleSql =
      // Per-key generate_series grid + IGNORE NULLS running last — the
      // SQL statement of the gap-fill contract.
      """WITH ev AS (SELECT * FROM events WHERE user_id % 50 = 0),
        |obs AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    COUNT(*) AS n, SUM(event_id % 1000) AS s
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(date_trunc('hour', ts)) AS lo,
        |    MAX(date_trunc('hour', ts)) AS hi FROM ev GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM bounds)
        |SELECT g.user_id, g.bucket, COALESCE(o.n, 0) AS n_events,
        |  CAST(last_value(o.s IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS v_locf
        |FROM grid g LEFT JOIN obs o USING (user_id, bucket)
        |ORDER BY user_id, bucket""".stripMargin),

    // PIVOT (q163) — source × lang token matrix via the native pivot
    // operator (one hash agg on (source, lang) then a map-side
    // transpose; the explicit value list keeps the plan static — no
    // distinct-values pre-query).
    Query("q163_pivot", Family.Relational, (s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("n_chars")))
        .orderBy(col("source"))
    }, oracleSql =
      // The pivot matrix as conditional aggregation.
      """SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // GROUPING SETS (q164) — the native multi-granularity aggregate
    // (detail, per-flag, grand total in ONE pass over the scan) with
    // per-column GROUPING flags disambiguating the null group keys.
    Query("q164_grouping_sets", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
          col("l_linestatus"))
    }, oracleSql =
      // Standard GROUPING SETS + GROUPING flags.
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin),

    // UNPIVOT (q167) — melt the q163 matrix back to long form with the
    // native unpivot operator; null cells drop so the roundtrip equals
    // the plain GROUP BY.
    Query("q167_unpivot", Family.Relational, (s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val piv = Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(sum(col("n_chars")))
      piv.unpivot(Array(col("source")), langs.map(col).toArray,
          "lang", "sum_chars")
        .filter(col("sum_chars").isNotNull)
        .orderBy(col("source"), col("lang"))
    }, oracleSql =
      // The melt roundtrip equals the plain long-form GROUP BY.
      """SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin),

    // CUBE (q170) — all 2^n grouping combinations in one pass, the last
    // member of the multi-dimensional family (ROLLUP q11/q51, GROUPING
    // SETS q164, PIVOT q163, UNPIVOT q167). Spark plans one Expand +
    // one hash aggregate — no per-combination rescans.
    Query("q170_cube", Family.Relational, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
          col("l_linestatus"))
    }, oracleSql =
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin),

    // Interval-overlap join (q172) — interval×interval ranges, the other
    // nested-loop shape [[graft.operators.RangeJoin]] rescues: price
    // intervals [cents, cents+25000] from lineitem against overlapping
    // $500-stride/$1000-wide bands; each qualifying pair produced exactly
    // once via the intersection-left-edge bucket rule, exact overlap
    // residual inside the hash equi-join.
    Query("q172_interval_overlap_join", Family.Relational, (s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("llo"), col("l_quantity"))
        .withColumn("lhi", col("llo") + 25000L)
      val bands = s.range(0, 210).select(
        col("id").as("band_id"),
        (col("id") * 50000L).as("lo"),
        (col("id") * 50000L + 99999L).as("hi"))
      graft.operators.RangeJoin
        .intervalOverlap(li, "llo", "lhi", bands, "lo", "hi",
          bucketWidth = 100000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
        .orderBy(col("band_id"))
    }, oracleSql =
      // Plain inclusive-overlap join over the same band table — the binned
      // equi-join must produce the identical pair set.
      """WITH b AS (SELECT CAST(range AS BIGINT) AS band_id,
        |    range * 50000 AS lo, range * 50000 + 99999 AS hi
        |  FROM range(210)),
        |l AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS llo,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    + 25000 AS lhi,
        |  l_quantity FROM lineitem)
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM l JOIN b ON l.llo <= b.hi AND b.lo <= l.lhi
        |GROUP BY band_id ORDER BY band_id""".stripMargin)
  )
}
