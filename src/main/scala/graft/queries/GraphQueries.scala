package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** Graph fixpoints: link authority, label propagation, recursive
  * descent. */
object GraphQueries {

  val all: Seq[Query] = Seq(
    // ext: link-graph authority (q151) — fixed-point integer PageRank
    // (SCALE 10^12, damping 85/100, 5 rounds) over the bidirectional
    // customer↔supplier trade graph (edge weight = lineitem count).
    // Join-per-round distributed propagation with lineage cut each round;
    // bit-replayable: every step is int64 multiply + floor division.
    Query("q151_link_authority", Family.Graph, (s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.ext.LinkAnalysis.pageRank(edges, "src", "dst", "w",
          iterations = 5)
        .orderBy(col("node"))
    }, oracleSql =
      // Unrolled 5-round fixed-point PageRank over the bidirectional
      // customer↔supplier graph — every round a join + floor-division
      // aggregate, identical to the engine's iteration.
      graft.ext.LinkAnalysis.pageRankOracleSql(
      """SELECT src, dst, COUNT(*) AS w FROM (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
        |         'c' || CAST(o_custkey AS VARCHAR)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u
        |GROUP BY src, dst""".stripMargin, iterations = 5)),

    // Personalized PageRank (q165) — teleport restricted to a trusted
    // seed set (every 100th customer): the quality-prior variant where
    // authority flows FROM seeds and unreachable spam starves to zero.
    // Same int64 fixed-point grid as q151.
    Query("q165_personalized_pagerank", Family.Graph, (s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      val seeds = ord.filter(col("o_custkey") % 100 === 0)
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("node"))
      graft.ext.LinkAnalysis.personalizedPageRank(edges, "src", "dst", "w",
          seeds, iterations = 3)
        .orderBy(col("node"))
    }, oracleSql =
      graft.ext.LinkAnalysis.personalizedPageRankOracleSql(
        """SELECT src, dst, COUNT(*) AS w FROM (
          |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |         's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  UNION ALL
          |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
          |         'c' || CAST(o_custkey AS VARCHAR)
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u
          |GROUP BY src, dst""".stripMargin,
        """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
          |FROM orders WHERE o_custkey % 100 = 0""".stripMargin,
        iterations = 3)),

    // Label-propagation communities (q166) — synchronous LPA with the
    // (weight DESC, label ASC) deterministic tie-break over the same
    // bidirectional trade graph; a pure function of the graph, so the
    // community assignment replays bit-for-bit on any engine.
    Query("q166_label_propagation", Family.Graph, (s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.ext.LinkAnalysis.labelPropagation(edges, "src", "dst", "w",
          iterations = 3)
        .orderBy(col("node"))
    }, oracleSql =
      graft.ext.LinkAnalysis.labelPropagationOracleSql(
        """SELECT src, dst, COUNT(*) AS w FROM (
          |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |         's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  UNION ALL
          |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
          |         'c' || CAST(o_custkey AS VARCHAR)
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u
          |GROUP BY src, dst""".stripMargin,
        iterations = 3)),

    // Recursive CTE (q180) — Spark 4's WITH RECURSIVE (UnionLoop):
    // iterative transitive descent of a synthesized reporting hierarchy
    // (mgr = c_custkey div 10; roots are custkeys below 10), carrying
    // each node's root and depth down the chain. Each recursion step is
    // ONE distributed equi-join of the frontier against the base
    // relation — the fixpoint lives in the plan (UnionLoop), not in a
    // driver loop, and terminates in O(log10 |customer|) rounds because
    // the synthetic hierarchy's depth is the custkey's digit count.
    // DuckDB replays the identical fixpoint (integer division `//`).
    Query("q180_recursive_cte", Family.Graph, (s, dir) => {
      val view = s"q180_c_${System.nanoTime()}"
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .createOrReplaceTempView(view)
      s.sql(
        s"""WITH RECURSIVE chain (id, root, depth, bal) AS (
           |  SELECT c_custkey, c_custkey, 0,
           |         CAST(c_acctbal AS DECIMAL(18,2))
           |  FROM $view WHERE c_custkey < 10
           |  UNION ALL
           |  SELECT e.c_custkey, ch.root, ch.depth + 1,
           |         CAST(e.c_acctbal AS DECIMAL(18,2))
           |  FROM $view e JOIN chain ch ON e.c_custkey DIV 10 = ch.id
           |  WHERE e.c_custkey >= 10
           |)
           |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           |  CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
           |  CAST(SUM(bal) AS DOUBLE) AS total_bal
           |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    }, oracleSql =
      // The identical recursive fixpoint, DuckDB dialect (`//` = DIV).
      """WITH RECURSIVE chain (id, root, depth, bal) AS (
        |  SELECT c_custkey, c_custkey, 0, CAST(c_acctbal AS DECIMAL(18,2))
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT e.c_custkey, ch.root, ch.depth + 1,
        |         CAST(e.c_acctbal AS DECIMAL(18,2))
        |  FROM customer e JOIN chain ch ON e.c_custkey // 10 = ch.id
        |  WHERE e.c_custkey >= 10
        |)
        |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
        |  CAST(SUM(bal) AS DOUBLE) AS total_bal
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
  )
}
