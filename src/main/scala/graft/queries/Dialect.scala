package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sql.GraftDatabase

/** The reference-dialect engine (graft.sql: parse → analyze → lower) run
  * end-to-end inside the driver's correctness gate: each query here goes
  * through the full parser/analyzer/lowering path over the fixture tables,
  * then gets a presentation ORDER BY (the dialect, like the reference, has
  * no ORDER BY — reference README.md:51).
  */
object Dialect {

  // One database instance per (session, fixture dir), shared across gate
  // queries and bench repetitions — the normal library shape (a database
  // outlives its queries), and it means the lazy external-table statistics
  // (rowcount + sketches + sample, built on first multi-table query) are
  // paid once per fixture instead of once per query invocation.
  private val dbCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), GraftDatabase]()

  private def db(s: SparkSession, d: String, names: String*): GraftDatabase = {
    val g = dbCache.computeIfAbsent((s, d), _ =>
      new GraftDatabase(s, Files.createTempDirectory("graft-gate-wh").toString))
    names.foreach(n =>
      if (!g.tableNames.contains(n)) g.registerParquet(n, s"$d/$n.parquet"))
    g
  }

  private def run(g: GraftDatabase, sql: String): DataFrame =
    g.select(sql).fold(e => sys.error(e.msg), identity)

  def defs: Map[String, QueryDef] = QueryDef.gate(

    // Tablescan + Selection + Projection through the dialect front-end.
    "q_dialect_select" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice >= 450000 AND o_orderstatus <> 'P'")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_totalprice >= 450000 AND o_orderstatus <> 'P'
             |ORDER BY o_orderkey""".stripMargin)),

    // The reference's canonical shape: comma-join + WHERE equi-predicate
    // (lowered as crossJoin+filter, rewritten by Catalyst to a hash join).
    "q_dialect_join" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation"),
        "SELECT c_custkey, c_name, n_name FROM customer c, nation n " +
          "WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal >= 9000 AND n.n_name = 'NATION_7'")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, n_name FROM customer c, nation n
             |WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal >= 9000 AND n.n_name = 'NATION_7'
             |ORDER BY c_custkey""".stripMargin)),

    // Multi-way comma-join — the DPccp workload (reference
    // optimizer/optimizer.rs); join order is Catalyst's problem here.
    "q_dialect_multijoin" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer", "nation"),
        "SELECT o_orderkey, c_name, n_name FROM orders o, customer c, nation n " +
          "WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey " +
          "AND o.o_totalprice > 490000")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name, n_name FROM orders o, customer c, nation n
             |WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
             |  AND o.o_totalprice > 490000
             |ORDER BY o_orderkey""".stripMargin)),

    // GROUP BY + aggregates through the dialect (the reference's top TODO,
    // README.md:51): partial-aggregate shuffle on the group key.
    "q_dialect_groupby" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT c_mktsegment, count(*), sum(o_totalprice), avg(o_totalprice), max(o_orderkey) " +
          "FROM orders o, customer c WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000 " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment")
        .selectExpr("c_mktsegment", "count_star",
          "round(sum_o_totalprice, 2) AS sum_price", "round(avg_o_totalprice, 2) AS avg_price",
          "max_o_orderkey"),
      Some("""SELECT c_mktsegment, cast(count(*) AS bigint) AS count_star,
             |  round(sum(o_totalprice), 2) AS sum_price,
             |  round(avg(o_totalprice), 2) AS avg_price,
             |  max(o_orderkey) AS max_o_orderkey
             |FROM orders o, customer c
             |WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // HAVING through the dialect: post-aggregation filter with aggregate
    // operands (computed as hidden agg columns and dropped on projection).
    "q_dialect_having" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_suppkey, count(*), sum(l_quantity) FROM lineitem " +
          "GROUP BY l_suppkey HAVING count(*) > 550 AND min(l_quantity) <= 2 " +
          "ORDER BY l_suppkey")
        .selectExpr("l_suppkey", "count_star", "round(sum_l_quantity, 2) AS sum_qty"),
      Some("""SELECT l_suppkey, cast(count(*) AS bigint) AS count_star,
             |  round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_suppkey
             |HAVING count(*) > 550 AND min(l_quantity) <= 2
             |ORDER BY l_suppkey""".stripMargin)),

    // ORDER BY + LIMIT through the dialect (top-k plans as
    // TakeOrderedAndProject; the sort key is not projected).
    "q_dialect_topk" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin)),

    // SELECT DISTINCT through the dialect: projection → distinct → sort
    // (one partial-aggregate shuffle on the projected columns).
    "q_dialect_distinct" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders " +
          "ORDER BY o_orderstatus, o_orderpriority"),
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // Widened predicate surface in one shot: LIKE, BETWEEN (desugared to
    // >=/<= in the parser), IN (desugared to an OR chain), NOT, plus an
    // AS output alias. All predicates reach the parquet scan as pushed
    // filters.
    "q_dialect_predicates" -> QueryDef(
      (s, d) => run(db(s, d, "part"),
        "SELECT p_partkey, p_name AS part_name, p_size FROM part " +
          "WHERE p_name LIKE '%widget%' AND p_size BETWEEN 5 AND 30 " +
          "AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') " +
          "AND NOT p_size = 17 ORDER BY p_partkey"),
      Some("""SELECT p_partkey, p_name AS part_name, p_size FROM part
             |WHERE p_name LIKE '%widget%' AND p_size BETWEEN 5 AND 30
             |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
             |  AND NOT p_size = 17 ORDER BY p_partkey""".stripMargin)),

    // Explicit JOIN … ON syntax (desugars to the comma-join conjunction,
    // then the stats-driven DP picks the join order like any other join).
    "q_dialect_join_on" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation"),
        "SELECT c_custkey, c_name AS customer, n_name AS nation_name " +
          "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey " +
          "WHERE c.c_acctbal >= 9500 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name AS customer, n_name AS nation_name
             |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE c.c_acctbal >= 9500 ORDER BY c_custkey""".stripMargin)),

    // Bucketed warehouse path end-to-end under the driver's oracle: the
    // fixture is bulk-imported into CLUSTERED BY tables (a distributed
    // bucketed write), then joined on the bucket key — a co-located join
    // whose results the oracle checks against the plain fixture join.
    "q_dialect_bucketed" -> QueryDef(
      (s, d) => {
        val g = db(s, d)
        if (!g.tableNames.contains("customer_b")) {
          g.importParquet("customer_b", s"$d/customer.parquet", Some(("c_nationkey", 8)))
          g.importParquet("nation_b", s"$d/nation.parquet", Some(("n_nationkey", 8)))
        }
        run(g, "SELECT c_custkey, c_name, n_name FROM customer_b c " +
          "JOIN nation_b n ON c.c_nationkey = n.n_nationkey " +
          "WHERE c.c_acctbal >= 9500")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, n_name FROM customer c
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE c.c_acctbal >= 9500 ORDER BY c_custkey""".stripMargin)),

    // Arithmetic surface: expressions with the usual precedence and
    // parentheses in BOTH the projection (computed column, mandatory AS)
    // and the WHERE — the TPC-H net-price shape end-to-end.
    "q_dialect_arith" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net " +
          "FROM lineitem " +
          "WHERE l_extendedprice * (1 - l_discount) > 90000 AND l_quantity - 5 >= 40 " +
          "ORDER BY l_orderkey, l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net
             |FROM lineitem
             |WHERE l_extendedprice * (1 - l_discount) > 90000 AND l_quantity - 5 >= 40
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Aggregates over expressions + expressions over aggregates — the
    // full TPC-H Q1 revenue shape through the dialect front-end. Float
    // sums round on both sides (oracle-parity rule).
    "q_dialect_agg_expr" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, sum(l_extendedprice * (1 - l_discount)) AS revenue, " +
          "count(*) * 2 AS n2 " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
        .selectExpr("l_returnflag", "round(revenue, 2) AS revenue", "n2"),
      Some("""SELECT l_returnflag,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  cast(count(*) * 2 AS bigint) AS n2
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Uncorrelated IN (SELECT …) membership — lowered as a left-semi join
    // (hash join at execution; no row multiplication).
    "q_dialect_in_subquery" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN " +
          "(SELECT o_custkey FROM orders WHERE o_totalprice > 400000) " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer WHERE c_custkey IN
             |(SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // Scalar comparison subquery (group-less aggregate = one row by
    // construction): broadcast join of the 1-row frame + filter. max() is
    // exact, so the threshold is bit-identical across engines.
    "q_dialect_scalar_sub" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_totalprice FROM orders " +
          "WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders) " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),

    // Star expansion + OR (which the reference analyzer rejects,
    // analyzer/mod.rs:183 — supported here).
    "q_dialect_star_or" -> QueryDef(
      (s, d) => run(db(s, d, "region"),
        "SELECT * FROM region WHERE r_name = 'ASIA' OR r_regionkey < 1")
        .orderBy("r_regionkey"),
      Some("""SELECT * FROM region WHERE r_name = 'ASIA' OR r_regionkey < 1
             |ORDER BY r_regionkey""".stripMargin)),

    // Correlated EXISTS: the equality conjunct decorrelates into a
    // left-semi join condition; the price filter stays inside the
    // subquery. One hash semi-join — no per-outer-row re-execution.
    "q_dialect_exists" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
          "(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey " +
          "AND o.o_totalprice > 400000) ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c WHERE EXISTS
             |(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
             | AND o.o_totalprice > 400000) ORDER BY c_custkey""".stripMargin)),

    // Correlated NOT EXISTS → left-anti join (customers with no
    // high-value order).
    "q_dialect_not_exists" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
          "(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey " +
          "AND o.o_totalprice > 300000) ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS
             |(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
             | AND o.o_totalprice > 300000) ORDER BY c_custkey""".stripMargin)),

    // General scalar subquery: ORDER BY + LIMIT 1 is statically one row
    // (no aggregate needed) — the sort+limit sub broadcast-joins.
    "q_dialect_scalar_limit" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_totalprice FROM orders " +
          "WHERE o_totalprice >= (SELECT o_totalprice FROM orders " +
          "ORDER BY o_totalprice DESC LIMIT 1) ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice >= (SELECT o_totalprice FROM orders
             |ORDER BY o_totalprice DESC LIMIT 1) ORDER BY o_orderkey""".stripMargin)),

    // LEFT OUTER JOIN through the dialect front-end, with a compound ON
    // (the acctbal conjunct nulls out non-matches instead of filtering).
    "q_dialect_left_join" -> QueryDef(
      (s, d) => run(db(s, d, "nation", "customer"),
        "SELECT n_nationkey, n_name, c_custkey, c_name " +
          "FROM nation n LEFT JOIN customer c " +
          "ON n.n_nationkey = c.c_nationkey AND c.c_acctbal >= 9900 " +
          "ORDER BY n_nationkey, c_custkey"),
      Some("""SELECT n_nationkey, n_name, c_custkey, c_name
             |FROM nation n LEFT JOIN customer c
             |ON n.n_nationkey = c.c_nationkey AND c.c_acctbal >= 9900
             |ORDER BY n_nationkey, c_custkey""".stripMargin)),

    // FULL OUTER JOIN: the restrictive ON leaves dangling rows on both
    // sides (nations ≥ 10 lose their region, regions keep nations < 10).
    "q_dialect_full_join" -> QueryDef(
      (s, d) => run(db(s, d, "region", "nation"),
        "SELECT r_regionkey, r_name, n_nationkey, n_name " +
          "FROM region r FULL OUTER JOIN nation n " +
          "ON r.r_regionkey = n.n_regionkey AND n.n_nationkey < 10 " +
          "ORDER BY r_regionkey, n_nationkey"),
      Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
             |FROM region r FULL OUTER JOIN nation n
             |ON r.r_regionkey = n.n_regionkey AND n.n_nationkey < 10
             |ORDER BY r_regionkey, n_nationkey""".stripMargin)),

    // WHERE on the null-extended (left) side of a RIGHT JOIN: must
    // evaluate AFTER the join — pushing it below would let nations whose
    // only high-balance customers were filtered out reappear
    // null-extended. The oracle pins the SQL evaluation order.
    "q_dialect_right_join_where" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation"),
        "SELECT c_custkey, c_name, n_name FROM customer c " +
          "RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey " +
          "WHERE c.c_acctbal > 9900 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name, n_name FROM customer c
             |RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE c.c_acctbal > 9900 ORDER BY c_custkey""".stripMargin)),

    // INNER JOIN after a LEFT JOIN in the FROM list (the join-tree shape
    // the round-3 steps model rejected): the region inner step applies to
    // the left join's RESULT, so nations whose customer side null-extended
    // still join their region and survive — hoisting the region ON ahead
    // of the outer step could not express this ordering.
    "q_dialect_mixed_join" -> QueryDef(
      (s, d) => run(db(s, d, "nation", "customer", "region"),
        "SELECT n_nationkey, n_name, c_custkey, r_name " +
          "FROM nation n LEFT JOIN customer c " +
          "ON n.n_nationkey = c.c_nationkey AND c.c_acctbal >= 9900 " +
          "JOIN region r ON n.n_regionkey = r.r_regionkey " +
          "ORDER BY n_nationkey, c_custkey"),
      Some("""SELECT n_nationkey, n_name, c_custkey, r_name
             |FROM nation n LEFT JOIN customer c
             |ON n.n_nationkey = c.c_nationkey AND c.c_acctbal >= 9900
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |ORDER BY n_nationkey, c_custkey""".stripMargin)),

    // Correlated scalar subquery: per-customer min aggregated once
    // (GROUP BY the decorrelated key) and joined — orders strictly above
    // their own customer's cheapest order. min() is exact, so the filter
    // threshold is bit-identical across engines; DuckDB decorrelates
    // natively, making this an independent-implementation check.
    "q_dialect_corr_scalar" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_totalprice FROM orders o " +
          "WHERE o_totalprice > (SELECT min(o2.o_totalprice) FROM orders o2 " +
          "WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders o
             |WHERE o_totalprice > (SELECT min(o2.o_totalprice) FROM orders o2
             |WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey""".stripMargin)),

    // The COUNT decorrelation trap under the oracle: a correlated
    // count(*) over an empty set is 0, not NULL, so customers with no
    // orders still evaluate the comparison — only a left join + coalesce
    // reproduces DuckDB's native correlated semantics.
    "q_dialect_corr_count" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_custkey, c_name FROM customer c " +
          "WHERE 5 <= (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE 5 <= (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // Scalar function surface through the dialect: string functions,
    // abs/round over arithmetic, concat — in both projection and WHERE
    // (all codegen'd Catalyst expressions; the WHERE functions stay
    // data filters over the scan).
    "q_dialect_funcs" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, upper(substr(c_name, 1, 10)) AS pfx, " +
          "length(c_mktsegment) AS clen, round(abs(c_acctbal) / 100, 1) AS hb, " +
          "concat(c_mktsegment, '_', c_custkey) AS seg FROM customer " +
          "WHERE length(c_name) > 12 AND c_acctbal > 9000 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, upper(substr(c_name, 1, 10)) AS pfx,
             |  length(c_mktsegment) AS clen, round(abs(c_acctbal) / 100, 1) AS hb,
             |  concat(c_mktsegment, '_', c_custkey) AS seg FROM customer
             |WHERE length(c_name) > 12 AND c_acctbal > 9000
             |ORDER BY c_custkey""".stripMargin)),

    // An explicit ROWS frame: the 3-row moving SUM — the windowed
    // smoothing shape. A moving sum of 2-decimal prices is an exact
    // 2-decimal value, so round(…, 2) sits a half-cent away from any
    // boundary and absorbs the engines' in-frame accumulation noise
    // (a moving AVERAGE would land exactly ON half-cent boundaries
    // whenever the frame sum divides evenly — unroundable).
    "q_dialect_window_frame" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, sum(o_totalprice) OVER " +
          "(PARTITION BY o_custkey ORDER BY o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ms3 " +
          "FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey")
        .selectExpr("o_orderkey", "o_custkey", "round(ms3, 2) AS ms3"),
      Some("""SELECT o_orderkey, o_custkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ms3
             |FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // RANGE frame: the moving sum covers every order whose KEY lies within
    // 3 of the current row's key (value distance, not row count — gaps in
    // o_orderkey make the two visibly different), peers included.
    "q_dialect_range_frame" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, sum(o_totalprice) OVER " +
          "(PARTITION BY o_custkey ORDER BY o_orderkey " +
          "RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS rs " +
          "FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey")
        .selectExpr("o_orderkey", "o_custkey", "round(rs, 2) AS rs"),
      Some("""SELECT o_orderkey, o_custkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS rs
             |FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Distribution ranking: ntile buckets, percent_rank and cume_dist —
    // exact rational doubles from identical rank arithmetic on both
    // engines (round absorbs representation noise only).
    "q_dialect_ntile" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, ntile(4) OVER " +
          "(PARTITION BY o_orderstatus ORDER BY o_orderkey) AS qt, " +
          "percent_rank() OVER " +
          "(PARTITION BY o_orderstatus ORDER BY o_orderkey) AS pr, " +
          "cume_dist() OVER " +
          "(PARTITION BY o_orderstatus ORDER BY o_orderkey) AS cd " +
          "FROM orders WHERE o_custkey < 100 ORDER BY o_orderkey")
        .selectExpr("o_orderkey", "qt", "round(pr, 6) AS pr", "round(cd, 6) AS cd"),
      Some("""SELECT o_orderkey,
             |  ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS qt,
             |  round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey), 6) AS pr,
             |  round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey), 6) AS cd
             |FROM orders WHERE o_custkey < 100 ORDER BY o_orderkey""".stripMargin)),

    // Scalar subqueries as projection items: the uncorrelated form is a
    // one-row broadcast join (every row sees the global max), the
    // correlated form decorrelates to a per-key aggregate left join with
    // the COUNT-over-empty-set coalesce (customers with no orders get 0).
    "q_dialect_scalar_proj" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_totalprice, " +
          "(SELECT max(o_totalprice) FROM orders) AS mx " +
          "FROM orders WHERE o_custkey < 20 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice,
             |  (SELECT max(o_totalprice) FROM orders) AS mx
             |FROM orders WHERE o_custkey < 20 ORDER BY o_orderkey""".stripMargin)),

    "q_dialect_corr_proj" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_custkey, c.c_name, " +
          "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n " +
          "FROM customer c WHERE c.c_custkey < 100 ORDER BY c.c_custkey"),
      Some("""SELECT c.c_custkey, c.c_name,
             |  cast((SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS bigint) AS n
             |FROM customer c WHERE c.c_custkey < 100 ORDER BY c.c_custkey""".stripMargin)),

    // A derived table in the FROM list: per-customer aggregates computed
    // in a subquery, joined back to the dimension — the
    // aggregate-then-join shape that avoids re-aggregating after the
    // join. The derived frame lowers in place of a scan.
    "q_dialect_from_sub" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_name, t.n, t.tp FROM customer c JOIN " +
          "(SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS tp " +
          "FROM orders GROUP BY o_custkey) t ON c.c_custkey = t.o_custkey " +
          "WHERE t.n > 12 ORDER BY c.c_custkey")
        .selectExpr("c_name", "n", "round(tp, 2) AS tp"),
      Some("""SELECT c.c_name, cast(t.n AS bigint) AS n, round(t.tp, 2) AS tp
             |FROM customer c JOIN
             |  (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS tp
             |   FROM orders GROUP BY o_custkey) t ON c.c_custkey = t.o_custkey
             |WHERE t.n > 12 ORDER BY c.c_custkey""".stripMargin)),

    // A derived table on the RIGHT side of an outer-join step: the
    // per-nation aggregate computes in the subquery, then LEFT-joins the
    // dimension so nations with no qualifying customers null-extend —
    // aggregate-before-outer-join, which no WHERE-desugar can express.
    "q_dialect_derived_step" -> QueryDef(
      (s, d) => run(db(s, d, "nation", "customer"),
        "SELECT n_nationkey, n_name, t.n FROM nation n LEFT JOIN " +
          "(SELECT c_nationkey, count(*) AS n FROM customer WHERE c_acctbal > 9000 " +
          "GROUP BY c_nationkey) t ON n.n_nationkey = t.c_nationkey " +
          "ORDER BY n_nationkey"),
      Some("""SELECT n_nationkey, n_name, cast(t.n AS bigint) AS n
             |FROM nation n LEFT JOIN
             |  (SELECT c_nationkey, count(*) AS n FROM customer WHERE c_acctbal > 9000
             |   GROUP BY c_nationkey) t ON n.n_nationkey = t.c_nationkey
             |ORDER BY n_nationkey""".stripMargin)),

    // LATERAL top-N per key: each customer's two biggest orders via a
    // per-key row_number window over the body's rows (NULL keys dropped),
    // joined fused after the plain FROM group on the hidden key — one
    // shuffle on the key, no per-row re-execution; customers with no
    // orders drop (CROSS JOIN LATERAL semantics). DuckDB's native LATERAL
    // is the independent oracle.
    "q_dialect_lateral" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c, " +
          "LATERAL (SELECT o.o_orderkey, o.o_totalprice FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey " +
          "ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t " +
          "WHERE c.c_custkey < 200 " +
          "ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"),
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c,
             |LATERAL (SELECT o.o_orderkey, o.o_totalprice FROM orders o
             |  WHERE o.o_custkey = c.c_custkey
             |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
             |WHERE c.c_custkey < 200
             |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)),

    // LEFT JOIN LATERAL: the latest order per customer, PRESERVING
    // customers with no orders (the fused join runs inside the join-step
    // fold as a left outer join on the hidden key AND the step's ON, so
    // empty lateral sets null-extend instead of dropping).
    "q_dialect_lateral_left" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c " +
          "LEFT JOIN LATERAL (SELECT o.o_orderkey, o.o_totalprice FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey " +
          "ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) t ON 1 = 1 " +
          "WHERE c.c_custkey < 300 ORDER BY c.c_custkey"),
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c
             |LEFT JOIN LATERAL (SELECT o.o_orderkey, o.o_totalprice FROM orders o
             |  WHERE o.o_custkey = c.c_custkey
             |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) t ON 1 = 1
             |WHERE c.c_custkey < 300 ORDER BY c.c_custkey""".stripMargin)),

    // Stored views: a view over a view, queried joined with a base
    // table — the registry substitutes both at query time (self-contained
    // bodies, validated at CREATE). The oracle inlines the equivalent SQL.
    "q_dialect_view" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (g.query("SELECT n FROM cust_orders LIMIT 1").isLeft) {
          g.query("CREATE VIEW cust_orders AS SELECT o_custkey, count(*) AS n, " +
            "sum(o_totalprice) AS tp FROM orders GROUP BY o_custkey")
            .fold(e => sys.error(e.msg), identity)
          g.query("CREATE VIEW big_cust AS SELECT o_custkey, n FROM cust_orders " +
            "WHERE n > 15").fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c.c_name, b.n FROM big_cust b " +
          "JOIN customer c ON c.c_custkey = b.o_custkey ORDER BY c.c_custkey")
      },
      Some("""WITH cust_orders AS (SELECT o_custkey, count(*) AS n,
             |    sum(o_totalprice) AS tp FROM orders GROUP BY o_custkey),
             |big_cust AS (SELECT o_custkey, n FROM cust_orders WHERE n > 15)
             |SELECT c.c_name, cast(b.n AS bigint) AS n FROM big_cust b
             |JOIN customer c ON c.c_custkey = b.o_custkey
             |ORDER BY c.c_custkey""".stripMargin)),

    // Common table expressions: the second CTE references the first, the
    // main query joins a CTE against a base table — desugared at parse
    // time onto derived tables, so the per-customer aggregate still
    // computes once, pre-join, and Catalyst sees one plan.
    "q_dialect_cte" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "WITH big AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS tp " +
          "FROM orders GROUP BY o_custkey), " +
          "hi AS (SELECT o_custkey, n FROM big WHERE n > 12) " +
          "SELECT c.c_mktsegment, count(*) AS nc, sum(h.n) AS total_orders " +
          "FROM hi h JOIN customer c ON h.o_custkey = c.c_custkey " +
          "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"),
      Some("""WITH big AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS tp
             |  FROM orders GROUP BY o_custkey),
             |hi AS (SELECT o_custkey, n FROM big WHERE n > 12)
             |SELECT c.c_mktsegment, cast(count(*) AS bigint) AS nc,
             |  cast(sum(h.n) AS bigint) AS total_orders
             |FROM hi h JOIN customer c ON h.o_custkey = c.c_custkey
             |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // GROUP BY a computed expression via its output alias — the
    // year/month reporting rollup every warehouse query starts from.
    // The grouped expression computes once, pre-shuffle, and the key
    // column keeps the alias.
    "q_dialect_group_expr" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
          "count(*) AS n, sum(o_totalprice) AS tp FROM orders " +
          // inline expression keys — structurally matched to the
          // projection items, which adopt them as yr/mo
          "GROUP BY year(o_orderdate), month(o_orderdate) ORDER BY yr, mo")
        .selectExpr("yr", "mo", "n", "round(tp, 2) AS tp"),
      Some("""SELECT cast(year(o_orderdate) AS int) AS yr,
             |  cast(month(o_orderdate) AS int) AS mo,
             |  cast(count(*) AS bigint) AS n,
             |  round(sum(o_totalprice), 2) AS tp
             |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin)),

    // Window functions through the dialect: per-customer ranking (one
    // shuffle on the partition key, no self-join).
    "q_dialect_window" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, row_number() OVER " +
          "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
          "FROM orders WHERE o_totalprice > 450000 ORDER BY o_custkey, rk"),
      Some("""SELECT o_orderkey, o_custkey, row_number() OVER
             |  (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
             |FROM orders WHERE o_totalprice > 450000 ORDER BY o_custkey, rk""".stripMargin)),

    // lag/lead through the dialect: previous order value per customer —
    // raw column values shift untouched, so the hash needs no rounding.
    "q_dialect_lag" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, o_totalprice, " +
          "lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev, " +
          "lead(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nxt2, " +
          "first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS fk " +
          "FROM orders WHERE o_custkey < 30 ORDER BY o_custkey, o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev,
             |  lead(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nxt2,
             |  first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS fk
             |FROM orders WHERE o_custkey < 30 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Windowed running aggregate (SQL's default RANGE UNBOUNDED PRECEDING
    // frame on both engines); the sum rounds on both sides since the
    // in-frame accumulation order is engine-internal.
    "q_dialect_window_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, sum(o_totalprice) OVER " +
          "(PARTITION BY o_custkey ORDER BY o_orderkey) AS running " +
          "FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey")
        .selectExpr("o_orderkey", "o_custkey", "round(running, 2) AS running"),
      Some("""SELECT o_orderkey, o_custkey,
             |  round(sum(o_totalprice) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS running
             |FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // The distributed write paths end-to-end: CREATE TABLE AS SELECT
    // materializes one band of orders, INSERT INTO … SELECT appends a
    // second, and the oracle reproduces the union from the raw fixture —
    // so the round-trip through the warehouse write path must be exact.
    "q_dialect_ctas" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        if (!g.tableNames.contains("band_orders")) {
          g.query("CREATE TABLE band_orders AS SELECT o_orderkey, o_custkey, " +
            "o_totalprice FROM orders WHERE o_totalprice > 400000")
            .fold(e => sys.error(e.msg), identity)
          g.query("INSERT INTO band_orders SELECT o_orderkey, o_custkey, " +
            "o_totalprice FROM orders WHERE o_totalprice <= 100000")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT o_custkey, count(*) AS n FROM band_orders " +
          "GROUP BY o_custkey ORDER BY o_custkey")
      },
      Some("""SELECT o_custkey, cast(count(*) AS bigint) AS n FROM orders
             |WHERE o_totalprice > 400000 OR o_totalprice <= 100000
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Expression UPDATE through the copy-on-write path: the doubled-price
    // rewrite applies to even customers only, and the oracle reproduces
    // the final image from the raw fixture with a CASE — so the
    // distributed rewrite (and its pre-update-row semantics) must be
    // value-exact.
    "q_dialect_update_expr" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        if (!g.tableNames.contains("upd_orders")) {
          g.query("CREATE TABLE upd_orders AS SELECT o_orderkey, o_custkey, " +
            "o_totalprice FROM orders WHERE o_orderkey < 3000")
            .fold(e => sys.error(e.msg), identity)
          g.query("UPDATE upd_orders SET o_totalprice = o_totalprice * 2 + o_custkey " +
            "WHERE o_custkey % 2 = 0")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT o_orderkey, round(o_totalprice, 2) AS tp FROM upd_orders " +
          "ORDER BY o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  round(CASE WHEN o_custkey % 2 = 0
             |    THEN o_totalprice * 2 + o_custkey ELSE o_totalprice END, 2) AS tp
             |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin)),

    // LIMIT OFFSET pagination over a total order (Spark Dataset.offset +
    // limit — the global-sort prefix survives both).
    "q_dialect_offset" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_totalprice FROM orders " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 20"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 20""".stripMargin)),

    // CASE WHEN: searched banding + the simple (subject) form, both
    // pure codegen'd conditionals in the projection.
    "q_dialect_case" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, CASE WHEN o_totalprice > 400000 THEN 'high' " +
          "WHEN o_totalprice > 200000 THEN 'mid' ELSE 'low' END AS band, " +
          "CASE o_orderstatus WHEN 'F' THEN 1 ELSE 0 END AS isf " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, CASE WHEN o_totalprice > 400000 THEN 'high'
             |  WHEN o_totalprice > 200000 THEN 'mid' ELSE 'low' END AS band,
             |  CASE o_orderstatus WHEN 'F' THEN 1 ELSE 0 END AS isf
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Conditional aggregation — sum(CASE WHEN …) — the pivot-by-hand
    // shape every reporting query uses.
    "q_dialect_case_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS nhigh, " +
          "count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  cast(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS bigint) AS nhigh,
             |  cast(count(*) AS bigint) AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Aggregate FILTER clauses (desugared onto NULL-skipping aggregates)
    // + a case-insensitive ILIKE scan filter.
    "q_dialect_filter_ilike" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, count(*) FILTER (WHERE o_totalprice > 300000) AS nhigh, " +
          "round(sum(o_totalprice) FILTER (WHERE o_totalprice > 300000), 2) AS shigh, " +
          "count(*) AS n FROM orders WHERE o_orderpriority ILIKE '%urgent%' " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  cast(count(*) FILTER (WHERE o_totalprice > 300000) AS bigint) AS nhigh,
             |  round(sum(o_totalprice) FILTER (WHERE o_totalprice > 300000), 2) AS shigh,
             |  cast(count(*) AS bigint) AS n
             |FROM orders WHERE o_orderpriority ILIKE '%urgent%'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ORDER BY an aggregate with LIMIT — the canonical top-k-groups
    // reporting shape (sorts by a hidden aggregate column before the
    // final projection; Catalyst plans TakeOrderedAndProject).
    "q_dialect_orderby_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS tp FROM orders " +
          "GROUP BY o_custkey ORDER BY count(*) DESC, o_custkey LIMIT 25")
        .selectExpr("o_custkey", "n", "round(tp, 2) AS tp"),
      Some("""SELECT o_custkey, cast(count(*) AS bigint) AS n,
             |  round(sum(o_totalprice), 2) AS tp
             |FROM orders GROUP BY o_custkey
             |ORDER BY count(*) DESC, o_custkey LIMIT 25""".stripMargin)),

    // COUNT/SUM(DISTINCT …) through the dialect — two-phase distinct
    // aggregation (expand + partial) on the engine side.
    "q_dialect_count_distinct" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS nc, " +
          "sum(DISTINCT o_custkey) AS sc, count(*) AS n FROM orders " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus, cast(count(DISTINCT o_custkey) AS bigint) AS nc,
             |  cast(sum(DISTINCT o_custkey) AS bigint) AS sc,
             |  cast(count(*) AS bigint) AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Null-aware NOT IN end-to-end: the first branch's subquery contains
    // a NULL, so SQL 3VL makes NOT IN non-TRUE for every probe (zero
    // rows); the second branch is the plain anti-join path. Both engines
    // see identical data — the dialect warehouse table is mirrored into
    // the oracle as an inline VALUES list.
    "q_dialect_not_in_null" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer")
        if (!g.tableNames.contains("nin_null")) {
          g.query("CREATE TABLE nin_null (k BIGINT)")
          g.query("INSERT INTO nin_null VALUES (1), (2), (NULL)")
          g.query("CREATE TABLE nin_vals (k BIGINT)")
          g.query("INSERT INTO nin_vals VALUES " +
            (1 to 20).map(i => s"($i)").mkString(", "))
        }
        val a = run(g, "SELECT 'with_null' AS tag, c_custkey FROM customer " +
          "WHERE c_custkey NOT IN (SELECT k FROM nin_null)")
        val b = run(g, "SELECT 'no_null' AS tag, c_custkey FROM customer " +
          "WHERE c_custkey NOT IN (SELECT k FROM nin_vals)")
        a.union(b).orderBy("tag", "c_custkey")
      },
      Some("""SELECT 'with_null' AS tag, c_custkey FROM customer
             |WHERE c_custkey NOT IN (SELECT k FROM (VALUES (1), (2), (NULL)) t(k))
             |UNION ALL
             |SELECT 'no_null' AS tag, c_custkey FROM customer
             |WHERE c_custkey NOT IN (SELECT k FROM (VALUES (1), (2), (3), (4), (5),
             |  (6), (7), (8), (9), (10), (11), (12), (13), (14), (15), (16), (17),
             |  (18), (19), (20)) t(k))
             |ORDER BY tag, c_custkey""".stripMargin)),

    // Subqueries under OR: each disjunct joins a boolean-marker frame
    // (distinct keys + TRUE, left outer) and the disjunction filters in
    // one pass — no per-row re-execution, no semi-join restriction.
    "q_dialect_or_subquery" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders", "supplier"),
        "SELECT c_custkey, c_name FROM customer c " +
          "WHERE c.c_acctbal > 9900 OR " +
          "EXISTS (SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey " +
          "AND o.o_totalprice > 450000) OR " +
          "c_custkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9500) " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE c.c_acctbal > 9900 OR
             |  EXISTS (SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
             |          AND o.o_totalprice > 450000) OR
             |  c_custkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9500)
             |ORDER BY c_custkey""".stripMargin)),

    // Subqueries under NOT — the three-valued marker path. Branch 1:
    // NOT over (IN-subquery OR plain predicate) — De Morgan territory
    // where FALSE and NULL must stay distinct under the negation.
    // Branch 2: null-bearing NOT IN under OR (the round-5 advice case):
    // the subquery contains a NULL, so NOT IN is never TRUE and only the
    // plain disjunct may keep a row. Branch 3: (NOT EXISTS(..)) OR plain,
    // with the NOT as an enclosing operator rather than NOT EXISTS syntax.
    "q_dialect_not_or_subquery" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer", "supplier", "orders")
        if (!g.tableNames.contains("nor_null")) {
          g.query("CREATE TABLE nor_null (k BIGINT)")
          g.query("INSERT INTO nor_null VALUES (1), (2), (NULL)")
        }
        val a = run(g, "SELECT 'not_or' AS tag, c_custkey FROM customer c " +
          "WHERE NOT (c_custkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9500) " +
          "OR c.c_acctbal > 9900)")
        val b = run(g, "SELECT 'notin_or' AS tag, c_custkey FROM customer " +
          "WHERE c_custkey NOT IN (SELECT k FROM nor_null) OR c_acctbal > 9900")
        val c = run(g, "SELECT 'not_exists_or' AS tag, c_custkey FROM customer c " +
          "WHERE NOT (EXISTS (SELECT o_orderkey FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)) " +
          "OR c.c_acctbal > 9900")
        a.union(b).union(c).orderBy("tag", "c_custkey")
      },
      Some("""SELECT 'not_or' AS tag, c_custkey FROM customer c
             |WHERE NOT (c_custkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9500)
             |  OR c.c_acctbal > 9900)
             |UNION ALL
             |SELECT 'notin_or' AS tag, c_custkey FROM customer
             |WHERE c_custkey NOT IN (SELECT k FROM (VALUES (1), (2), (NULL)) t(k))
             |  OR c_acctbal > 9900
             |UNION ALL
             |SELECT 'not_exists_or' AS tag, c_custkey FROM customer c
             |WHERE NOT (EXISTS (SELECT o_orderkey FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000))
             |  OR c.c_acctbal > 9900
             |ORDER BY tag, c_custkey""".stripMargin)),

    // Subqueries inside CASE: a correlated EXISTS deciding a projection
    // label, and a null-bearing NOT IN whose UNKNOWN outcome must take
    // the ELSE branch (never TRUE) — markers join the core before the
    // projection, CASE evaluates columnar over them.
    "q_dialect_case_exists" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer", "orders")
        if (!g.tableNames.contains("case_null")) {
          g.query("CREATE TABLE case_null (k BIGINT)")
          g.query("INSERT INTO case_null VALUES (1), (2), (NULL)")
        }
        run(g, "SELECT c_custkey, " +
          "CASE WHEN EXISTS (SELECT o_orderkey FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) THEN 'big' " +
          "WHEN c.c_acctbal < 0 THEN 'neg' ELSE 'none' END AS cls, " +
          "CASE WHEN c_custkey NOT IN (SELECT k FROM case_null) THEN 1 ELSE 0 END AS nin " +
          "FROM customer c ORDER BY c_custkey")
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN EXISTS (SELECT o_orderkey FROM orders o
             |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) THEN 'big'
             |  WHEN c.c_acctbal < 0 THEN 'neg' ELSE 'none' END AS cls,
             |  CASE WHEN c_custkey NOT IN (SELECT k FROM (VALUES (1), (2), (NULL)) t(k))
             |    THEN 1 ELSE 0 END AS nin
             |FROM customer c ORDER BY c_custkey""".stripMargin)),

    // CREATE MATERIALIZED VIEW: CTAS + stored definition; the gate reads
    // the materialized image, which must equal DuckDB recomputing the
    // defining aggregate directly.
    "q_dialect_matview" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        if (!g.tableNames.contains("mv_status"))
          g.query("CREATE MATERIALIZED VIEW mv_status AS " +
            "SELECT o_orderstatus AS st, count(*) AS n, " +
            "sum(o_totalprice) AS tot FROM orders GROUP BY o_orderstatus")
            .left.foreach(e => sys.error(e.msg))
        run(g, "SELECT st, n, round(tot / 1000, 2) AS tot_k FROM mv_status " +
          "ORDER BY st")
      },
      Some("""SELECT o_orderstatus AS st, cast(count(*) AS bigint) AS n,
             |  round(sum(o_totalprice) / 1000, 2) AS tot_k
             |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin)),

    // A set-operation body inside LATERAL: without correlation LATERAL
    // is an ordinary derived table — the chain lowers once and
    // cross-joins (broadcast; both branches are tiny dimension scans).
    "q_dialect_lateral_setop" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation", "region"),
        "SELECT c.c_custkey, t.k FROM customer c, " +
          "LATERAL (SELECT n_name AS k FROM nation WHERE n_nationkey < 2 " +
          "UNION SELECT r_name AS k FROM region WHERE r_regionkey < 1) t " +
          "WHERE c.c_custkey < 20 ORDER BY c_custkey, k"),
      Some("""SELECT c.c_custkey, t.k FROM customer c,
             |LATERAL (SELECT n_name AS k FROM nation WHERE n_nationkey < 2
             |  UNION SELECT r_name AS k FROM region WHERE r_regionkey < 1) t
             |WHERE c.c_custkey < 20 ORDER BY c_custkey, k""".stripMargin)),

    // CORRELATED set-operation LATERAL: branch-wise decorrelation — each
    // branch's frame carries the correlation key as a hidden column, so
    // the set ops fold over (row, key) tuples (per-key set semantics);
    // the uncorrelated default branch completes over the distinct outer
    // keys. One key-bounded join, never per-outer-row re-execution.
    "q_dialect_lateral_set_corr" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_custkey, t.val FROM customer c, " +
          "LATERAL (SELECT o.o_totalprice AS val FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000 " +
          "UNION ALL SELECT c2.c_acctbal AS val FROM customer c2 " +
          "WHERE c2.c_custkey = c.c_custkey) t " +
          "WHERE c.c_custkey < 300 ORDER BY c_custkey, val"),
      Some("""SELECT c.c_custkey, t.val FROM customer c,
             |LATERAL (SELECT o.o_totalprice AS val FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
             |  UNION ALL SELECT c2.c_acctbal AS val FROM customer c2
             |  WHERE c2.c_custkey = c.c_custkey) t
             |WHERE c.c_custkey < 300 ORDER BY c_custkey, val""".stripMargin)),

    // Set-op LATERAL with an EXCEPT over a correlated and an uncorrelated
    // branch: per-key difference; outer rows whose lateral set is empty
    // drop (CROSS JOIN LATERAL semantics).
    "q_dialect_lateral_set_except" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation"),
        "SELECT n.n_nationkey, t.k FROM nation n, " +
          "LATERAL (SELECT mod(c.c_custkey, 10) AS k FROM customer c " +
          "WHERE c.c_nationkey = n.n_nationkey " +
          "EXCEPT SELECT cast(n2.n_nationkey AS BIGINT) AS k FROM nation n2 " +
          "WHERE n2.n_nationkey < 5) t " +
          "ORDER BY n_nationkey, k"),
      Some("""SELECT n.n_nationkey, t.k FROM nation n,
             |LATERAL (SELECT mod(c.c_custkey, 10) AS k FROM customer c
             |  WHERE c.c_nationkey = n.n_nationkey
             |  EXCEPT SELECT cast(n2.n_nationkey AS BIGINT) AS k FROM nation n2
             |  WHERE n2.n_nationkey < 5) t
             |ORDER BY n_nationkey, k""".stripMargin)),

    // A WITH body inside LATERAL, correlated: the CTE desugars into the
    // body, whose top-level WHERE correlation decorrelates as usual —
    // per-customer top-2 order prices via a window, one key-bounded join.
    "q_dialect_lateral_with" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_custkey, t.tot FROM customer c, " +
          "LATERAL (WITH co AS (SELECT o_custkey, o_totalprice FROM orders) " +
          "SELECT o_totalprice AS tot FROM co WHERE co.o_custkey = c.c_custkey " +
          "ORDER BY o_totalprice DESC LIMIT 2) t " +
          "ORDER BY c_custkey, tot"),
      Some("""SELECT c.c_custkey, t.tot FROM customer c,
             |LATERAL (WITH co AS (SELECT o_custkey, o_totalprice FROM orders)
             |  SELECT o_totalprice AS tot FROM co WHERE co.o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC LIMIT 2) t
             |ORDER BY c_custkey, tot""".stripMargin)),

    // GROUP BY an EXPRESSION used as the correlation key of a HAVING
    // subquery: the inner column equi-joins the grouped expression's
    // post-aggregation alias column (per-key aggregate, count-coalesce).
    "q_dialect_having_gkexpr" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier", "nation"),
        "SELECT concat('NATION_', c_nationkey) AS nname, count(*) AS n " +
          "FROM customer GROUP BY concat('NATION_', c_nationkey) " +
          "HAVING count(*) / 15 < (SELECT count(*) FROM supplier s, nation nt " +
          "WHERE nt.n_nationkey = s.s_nationkey " +
          "AND nt.n_name = concat('NATION_', c_nationkey)) " +
          "ORDER BY nname"),
      // DuckDB's binder will not match a grouped expression through the
      // subquery boundary, so the oracle states the same query as an
      // aggregate CTE + correlated WHERE (identical semantics)
      Some("""WITH g AS (SELECT concat('NATION_', c_nationkey) AS nname,
             |  cast(count(*) AS bigint) AS n FROM customer
             |  GROUP BY concat('NATION_', c_nationkey))
             |SELECT nname, n FROM g
             |WHERE n / 15 < (SELECT count(*) FROM supplier s, nation nt
             |  WHERE nt.n_nationkey = s.s_nationkey AND nt.n_name = g.nname)
             |ORDER BY nname""".stripMargin)),

    // A recursive CTE referenced twice: the fixpoint memoizes per query
    // scope (one execution, localCheckpoint shared by both references) —
    // asserted by DialectSpec; here the VALUES must agree with
    // DuckDB's native recursive CTE self-join.
    "q_dialect_recursive_twice" -> QueryDef(
      (s, d) => run(db(s, d, "nation"),
        "WITH RECURSIVE seq AS (SELECT 1 AS n UNION ALL " +
          "SELECT n + 1 AS n FROM seq WHERE n < 40) " +
          "SELECT a.n AS an, b.n AS bn FROM seq a, seq b " +
          "WHERE b.n = a.n + 1 ORDER BY an"),
      Some("""WITH RECURSIVE seq AS (SELECT 1 AS n UNION ALL
             |  SELECT n + 1 AS n FROM seq WHERE n < 40)
             |SELECT cast(a.n AS bigint) AS an, cast(b.n AS bigint) AS bn
             |FROM seq a, seq b WHERE b.n = a.n + 1 ORDER BY an""".stripMargin)),

    // Correlated aggregate LATERAL: per-customer order stats, empty
    // groups included (count 0 / NULL aggregates) — the fused join's
    // aggregate branch: a per-key aggregate left-joined onto the distinct
    // outer keys and completed, then joined back null-safely; never
    // per-row re-execution.
    "q_dialect_lateral_agg" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c.c_custkey, t.n, round(t.total / 1000, 2) AS tot_k, t.mx " +
          "FROM customer c, LATERAL (SELECT count(*) AS n, " +
          "sum(o_totalprice) AS total, max(o_totalprice) AS mx " +
          "FROM orders o WHERE o.o_custkey = c.c_custkey) t " +
          "ORDER BY c.c_custkey"),
      Some("""SELECT c.c_custkey, cast(t.n AS bigint) AS n,
             |  round(t.total / 1000, 2) AS tot_k, t.mx
             |FROM customer c, LATERAL (SELECT count(*) AS n,
             |  sum(o_totalprice) AS total, max(o_totalprice) AS mx
             |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
             |ORDER BY c.c_custkey""".stripMargin)),

    // A CASE carrying an IN-subquery used inside a WHERE comparison —
    // the marker registers from an operand position of the conjunct.
    "q_dialect_case_in_where" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_custkey, c_name FROM customer c " +
          "WHERE CASE WHEN c_custkey IN (SELECT s_suppkey FROM supplier " +
          "WHERE s_acctbal > 9000) THEN 1 ELSE 0 END = 1 AND c.c_acctbal >= 0 " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE CASE WHEN c_custkey IN (SELECT s_suppkey FROM supplier
             |  WHERE s_acctbal > 9000) THEN 1 ELSE 0 END = 1 AND c.c_acctbal >= 0
             |ORDER BY c_custkey""".stripMargin)),

    // Correlation depth 2: the innermost subquery's l_suppkey equality
    // reaches past the orders scope to the OUTERMOST customer binding.
    // Lowered by existential flattening (orders ⋈ lineitem inside one
    // semi join); DuckDB unnests natively — two independent strategies
    // that must agree. Only customers whose custkey doubles as a supplier
    // key on their own orders' lineitems qualify.
    "q_dialect_nested_corr" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders", "lineitem"),
        "SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
          "(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey " +
          "AND EXISTS (SELECT l.l_orderkey FROM lineitem l " +
          "WHERE l.l_orderkey = o.o_orderkey AND l.l_suppkey = c.c_custkey)) " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c WHERE EXISTS
             |(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
             | AND EXISTS (SELECT l.l_orderkey FROM lineitem l
             | WHERE l.l_orderkey = o.o_orderkey AND l.l_suppkey = c.c_custkey))
             |ORDER BY c_custkey""".stripMargin)),

    // Uncorrelated scalar subquery in HAVING: the threshold (mean lines
    // per supplier) computes once and broadcast-joins the aggregated
    // frame — integer count vs exact double division on both engines.
    "q_dialect_having_sub" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey " +
          "HAVING count(*) > (SELECT count(*) / 100 AS thr FROM lineitem) " +
          "ORDER BY l_suppkey"),
      Some("""SELECT l_suppkey, cast(count(*) AS bigint) AS n
             |FROM lineitem GROUP BY l_suppkey
             |HAVING count(*) > (SELECT count(*) / 100 FROM lineitem)
             |ORDER BY l_suppkey""".stripMargin)),

    // CAST + the round-5 scalar functions (floor/ceil/sqrt/power/mod/
    // instr/replace) in projection and WHERE. Spark floor/ceil return
    // BIGINT where DuckDB keeps DOUBLE, and instr's width differs — the
    // oracle casts to the engine's types; sqrt/power round on both sides.
    "q_dialect_funcs2" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, cast(c_custkey AS double) AS ckd, " +
          "floor(c_acctbal) AS fb, ceil(c_acctbal) AS cb, " +
          "round(sqrt(c_custkey), 4) AS sq, round(power(c_custkey, 2), 1) AS p2, " +
          "mod(c_custkey, 7) AS m7, instr(c_name, '#') AS pos, " +
          "replace(c_mktsegment, 'A', 'x') AS seg " +
          "FROM customer WHERE mod(c_custkey, 3) = 1 AND c_custkey < 600 " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, cast(c_custkey AS double) AS ckd,
             |  cast(floor(c_acctbal) AS bigint) AS fb,
             |  cast(ceil(c_acctbal) AS bigint) AS cb,
             |  round(sqrt(c_custkey), 4) AS sq, round(power(c_custkey, 2), 1) AS p2,
             |  mod(c_custkey, 7) AS m7, cast(instr(c_name, '#') AS int) AS pos,
             |  replace(c_mktsegment, 'A', 'x') AS seg
             |FROM customer WHERE mod(c_custkey, 3) = 1 AND c_custkey < 600
             |ORDER BY c_custkey""".stripMargin)),

    // Explicit NULLS FIRST under DESC: the null-extended outer-join rows
    // sort ahead of every real count on BOTH engines only because the
    // query says so (Spark's DESC default is NULLS LAST, DuckDB's differs).
    "q_dialect_nulls_order" -> QueryDef(
      (s, d) => run(db(s, d, "nation", "customer"),
        "SELECT n_nationkey, t.n FROM nation n LEFT JOIN " +
          "(SELECT c_nationkey, count(*) AS n FROM customer " +
          "WHERE c_acctbal > 9700 GROUP BY c_nationkey) t " +
          "ON n.n_nationkey = t.c_nationkey " +
          "ORDER BY t.n DESC NULLS FIRST, n_nationkey"),
      Some("""SELECT n_nationkey, cast(t.n AS bigint) AS n
             |FROM nation n LEFT JOIN
             |  (SELECT c_nationkey, count(*) AS n FROM customer
             |   WHERE c_acctbal > 9700 GROUP BY c_nationkey) t
             |ON n.n_nationkey = t.c_nationkey
             |ORDER BY n DESC NULLS FIRST, n_nationkey""".stripMargin)),

    // The TPC-H Q3 shape end-to-end THROUGH THE DIALECT: DATE literals in
    // the predicates, expression aggregate, CAST in the projection,
    // ORDER BY the aggregate alias with LIMIT. The join order is the
    // stats-driven DP's; both date filters reach the parquet scans.
    "q_dialect_tpch_q3" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders", "lineitem"),
        "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
          "cast(o_orderdate AS date) AS odate " +
          "FROM customer c, orders o, lineitem l " +
          "WHERE c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey " +
          "AND l.l_orderkey = o.o_orderkey " +
          "AND o_orderdate < DATE '1997-06-30' AND l_shipdate > DATE '1997-06-30' " +
          "GROUP BY l_orderkey, o_orderdate " +
          "ORDER BY revenue DESC, l_orderkey LIMIT 10"),
      Some("""SELECT l_orderkey,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  cast(o_orderdate AS date) AS odate
             |FROM customer c, orders o, lineitem l
             |WHERE c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
             |  AND l.l_orderkey = o.o_orderkey
             |  AND o_orderdate < DATE '1997-06-30' AND l_shipdate > DATE '1997-06-30'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Window functions OVER an aggregated query — rank groups by their
    // count, and a grand-total windowed sum of the per-group counts; the
    // window computes post-aggregation over hidden aggregate columns,
    // before the final ORDER BY so its exchange cannot disturb the sort.
    "q_dialect_window_over_agg" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_nationkey, count(*) AS n, " +
          "rank() OVER (ORDER BY count(*) DESC, c_nationkey) AS rk, " +
          "sum(count(*)) OVER () AS total " +
          "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),
      Some("""SELECT c_nationkey, cast(count(*) AS bigint) AS n,
             |  rank() OVER (ORDER BY count(*) DESC, c_nationkey) AS rk,
             |  cast(sum(count(*)) OVER () AS bigint) AS total
             |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // Windows NESTED IN EXPRESSIONS over an aggregated query — the
    // percent-of-total reporting idiom. The hidden inline-OVER windows
    // attach between aggregation and the final projection; the
    // expression evaluates over the attached columns. One aggregate
    // shuffle + one (empty-partition) window exchange — the same plan a
    // hand-written two-level query produces.
    "q_dialect_win_pct" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_mktsegment, count(*) AS n, " +
          "round(100.0 * count(*) / sum(count(*)) OVER (), 3) AS pct, " +
          "rank() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS rk0 " +
          "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
      Some("""SELECT c_mktsegment, cast(count(*) AS bigint) AS n,
             |  round(100.0 * count(*) / sum(count(*)) OVER (), 3) AS pct,
             |  cast(rank() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS bigint) AS rk0
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Expression PARTITION BY keys — the window partitions on a
    // computed bucket, not a stored column; the expression lowers
    // inline into the window's partitioning (one shuffle on the
    // computed key, same plan as a precomputed column).
    "q_dialect_win_part_expr" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, c_acctbal, " +
          "rank() OVER (PARTITION BY (c_custkey % 10) " +
          "ORDER BY c_acctbal DESC, c_custkey) AS rk " +
          "FROM customer WHERE c_acctbal > 9000 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_acctbal,
             |  rank() OVER (PARTITION BY (c_custkey % 10)
             |    ORDER BY c_acctbal DESC, c_custkey) AS rk
             |FROM customer WHERE c_acctbal > 9000
             |ORDER BY c_custkey""".stripMargin)),

    // Unpartitioned ORDERED windows — global ranks, running aggregates
    // and distribution stats over a TOTAL order. These lower as a
    // distributed prefix scan (range buckets + in-bucket windows +
    // broadcast per-bucket offsets) instead of Spark's single-partition
    // window exchange: exact at any scale, parallel at any scale. Three
    // distinct ORDER specs → three bucketings, values hash-checked.
    "q_dialect_win_global_prefix" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "rank() OVER (ORDER BY o_totalprice DESC) AS rk, " +
          "row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn, " +
          "dense_rank() OVER (ORDER BY o_orderpriority) AS dr, " +
          "round(sum(o_totalprice) OVER (ORDER BY o_orderkey), 2) AS rs, " +
          "round(percent_rank() OVER (ORDER BY o_totalprice DESC), 6) AS pr, " +
          "round(cume_dist() OVER (ORDER BY o_orderpriority), 6) AS cd, " +
          "lag(o_orderkey, 2, -1) OVER (ORDER BY o_orderkey) AS lg, " +
          "lead(o_orderkey) OVER (ORDER BY o_orderkey) AS ld " +
          "FROM orders WHERE o_custkey < 100 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  cast(rank() OVER (ORDER BY o_totalprice DESC) AS bigint) AS rk,
             |  cast(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS bigint) AS rn,
             |  cast(dense_rank() OVER (ORDER BY o_orderpriority) AS bigint) AS dr,
             |  round(sum(o_totalprice) OVER (ORDER BY o_orderkey), 2) AS rs,
             |  round(percent_rank() OVER (ORDER BY o_totalprice DESC), 6) AS pr,
             |  round(cume_dist() OVER (ORDER BY o_orderpriority), 6) AS cd,
             |  lag(o_orderkey, 2, -1) OVER (ORDER BY o_orderkey) AS lg,
             |  lead(o_orderkey) OVER (ORDER BY o_orderkey) AS ld
             |FROM orders WHERE o_custkey < 100 ORDER BY o_orderkey""".stripMargin)),

    // Unpartitioned DISTINCT running windows + bounded ROWS global
    // frames — the two window classes that still took Spark's
    // single-partition plan after round 14. DISTINCT running composes
    // the first-occurrence mask (value-partitioned — distributed at any
    // NDV) with the distributed prefix scan; bounded ROWS frames ride
    // the ghost-row replication (the frame reaches ≤ max(|lo|,hi) rows,
    // so the per-bucket edge-row halo makes in-bucket frames exact).
    // Three ORDER specs, no PARTITION BY anywhere, no Exchange
    // SinglePartition in the plan (pinned in DialectSpec).
    "q_dialect_win_global_distinct" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "count(DISTINCT o_orderpriority) OVER (ORDER BY o_orderkey) AS dc, " +
          "CAST(sum(DISTINCT o_custkey % 7) OVER (ORDER BY o_orderkey) AS DOUBLE) AS ds, " +
          "CAST(avg(DISTINCT o_custkey % 100) OVER " +
          "(ORDER BY o_totalprice, o_orderkey) AS DOUBLE) AS da, " +
          "round(sum(o_totalprice) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS sw, " +
          "count(*) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING) AS cw, " +
          "max(o_totalprice) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 10 PRECEDING AND 2 PRECEDING) AS mw " +
          "FROM orders WHERE o_custkey < 200 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  count(DISTINCT o_orderpriority) OVER (ORDER BY o_orderkey) AS dc,
             |  CAST(sum(DISTINCT o_custkey % 7) OVER (ORDER BY o_orderkey) AS DOUBLE) AS ds,
             |  CAST(avg(DISTINCT o_custkey % 100) OVER
             |    (ORDER BY o_totalprice, o_orderkey) AS DOUBLE) AS da,
             |  round(sum(o_totalprice) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS sw,
             |  count(*) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING) AS cw,
             |  max(o_totalprice) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 10 PRECEDING AND 2 PRECEDING) AS mw
             |FROM orders WHERE o_custkey < 200 ORDER BY o_orderkey""".stripMargin)),

    // Unpartitioned lag/lead IGNORE NULLS — unbounded lookback (a NULL
    // run can span range buckets), so ghosts can't cover it: each
    // bucket summarizes its last-k/first-k NON-NULL values, the ≤P-row
    // totals frame concatenates them into per-bucket carry arrays, and
    // rows whose own bucket lacks k non-nulls index the carry. The
    // o_orderkey % 3 nulls give ~33% NULL density with multi-null runs
    // at bucket boundaries; l9's offset crosses whole buckets.
    "q_dialect_win_global_ignorenulls" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, k, " +
          "lag(k IGNORE NULLS) OVER (ORDER BY o_orderkey) AS l1, " +
          "lag(k, 3 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS l3, " +
          "lag(k, 9, -1 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS l9, " +
          "lead(k, 2 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS d2, " +
          "lead(k, 1, 0 IGNORE NULLS) OVER (ORDER BY o_totalprice, o_orderkey) AS d1 " +
          "FROM (SELECT o_orderkey, o_totalprice, " +
          "CASE WHEN o_orderkey % 3 = 0 THEN NULL " +
          "ELSE round(o_totalprice, 0) END AS k " +
          "FROM orders WHERE o_custkey < 200) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, k,
             |  lag(k IGNORE NULLS) OVER (ORDER BY o_orderkey) AS l1,
             |  lag(k, 3 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS l3,
             |  lag(k, 9, -1 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS l9,
             |  lead(k, 2 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS d2,
             |  lead(k, 1, 0 IGNORE NULLS) OVER (ORDER BY o_totalprice, o_orderkey) AS d1
             |FROM (SELECT o_orderkey, o_totalprice,
             |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
             |  ELSE round(o_totalprice, 0) END AS k
             |  FROM orders WHERE o_custkey < 200) t
             |ORDER BY o_orderkey""".stripMargin)),

    // Unpartitioned ntile — needs only the global row_number and the
    // broadcast grand total the prefix scan already computes: r = N%n
    // oversized tiles of q+1 rows, then tiles of q rows, by pure
    // column arithmetic. 7 does not divide the row count, so both tile
    // sizes appear; ntile(1000) exercises N < n (every tile ≤ 1 row).
    "q_dialect_win_global_ntile" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "ntile(7) OVER (ORDER BY o_totalprice, o_orderkey) AS nt7, " +
          "ntile(3) OVER (ORDER BY o_orderkey) AS nt3, " +
          "ntile(1000) OVER (ORDER BY o_orderkey) AS ntb " +
          "FROM orders WHERE o_custkey < 300 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  ntile(7) OVER (ORDER BY o_totalprice, o_orderkey) AS nt7,
             |  ntile(3) OVER (ORDER BY o_orderkey) AS nt3,
             |  ntile(1000) OVER (ORDER BY o_orderkey) AS ntb
             |FROM orders WHERE o_custkey < 300 ORDER BY o_orderkey""".stripMargin)),

    // Unpartitioned first_value/last_value/nth_value over bounded ROWS
    // frames — positional picks ride the same ghost-row replication as
    // the bounded aggregates (the frame reaches ≤ max(|lo|,hi) rows, so
    // the per-bucket edge halo makes in-bucket frames exact), including
    // IGNORE NULLS (unlike lag/lead, the lookback stays INSIDE the
    // bounded frame — a NULL run can't extend it). Frames that sit
    // entirely in the past (5..2 PRECEDING) are empty for the first
    // rows → NULL on both engines; nth_value returns NULL when the
    // frame holds fewer than n rows. One shared bucketing per ORDER
    // spec; no all-rows single-partition exchange (pinned in
    // DialectSpec).
    "q_dialect_win_global_value" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "first_value(o_totalprice) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING) AS fv, " +
          "last_value(k IGNORE NULLS) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS lvi, " +
          "first_value(k IGNORE NULLS) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS fvi, " +
          "nth_value(o_totalprice, 2) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS nv, " +
          "last_value(o_totalprice) OVER (ORDER BY o_totalprice, o_orderkey " +
          "ROWS BETWEEN 1 PRECEDING AND 3 FOLLOWING) AS lv2, " +
          "round(sum(o_totalprice) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 2) AS sw " +
          "FROM (SELECT o_orderkey, o_totalprice, " +
          "CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS k " +
          "FROM orders WHERE o_custkey < 200) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  first_value(o_totalprice) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING) AS fv,
             |  last_value(k IGNORE NULLS) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS lvi,
             |  first_value(k IGNORE NULLS) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS fvi,
             |  nth_value(o_totalprice, 2) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS nv,
             |  last_value(o_totalprice) OVER (ORDER BY o_totalprice, o_orderkey
             |    ROWS BETWEEN 1 PRECEDING AND 3 FOLLOWING) AS lv2,
             |  round(sum(o_totalprice) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 2) AS sw
             |FROM (SELECT o_orderkey, o_totalprice,
             |  CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS k
             |  FROM orders WHERE o_custkey < 200) t
             |ORDER BY o_orderkey""".stripMargin)),

    // Unpartitioned WHOLE-INPUT frames (UNBOUNDED..UNBOUNDED, no
    // PARTITION BY) — without EXCLUDE the order is immaterial and the
    // window takes the broadcast global-aggregate rewrite; WITH EXCLUDE
    // the result varies per row but still decomposes: count/sum/avg as
    // broadcast totals minus the row/peer contribution, min/max as a
    // before-peers/after-peers split over the shared range bucketing
    // (in-bucket windows + prefix AND suffix offsets over the ≤P-row
    // per-bucket totals). p = round(o_totalprice): integral doubles, so
    // subtraction is exact on both engines. Two ORDER specs → two
    // bucketings; all three EXCLUDE modes the analyzer admits.
    "q_dialect_win_global_exclude" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "sum(p) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS sx, " +
          "count(*) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS cx, " +
          "min(p) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mx, " +
          "sum(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS sg, " +
          "max(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS xg, " +
          "count(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS ctt, " +
          "min(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mcr, " +
          "avg(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS ag, " +
          "min(p) OVER (ORDER BY kn RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mn, " +
          "sum(p) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING) AS st " +
          "FROM (SELECT o_orderkey, o_custkey, round(o_totalprice) AS p, " +
          "CAST(CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS INT) AS kn " +
          "FROM orders WHERE o_custkey < 150) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  sum(p) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS sx,
             |  count(*) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS cx,
             |  min(p) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mx,
             |  sum(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS sg,
             |  max(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS xg,
             |  count(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS ctt,
             |  min(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mcr,
             |  avg(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS ag,
             |  min(p) OVER (ORDER BY kn RANGE BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mn,
             |  sum(p) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING) AS st
             |FROM (SELECT o_orderkey, o_custkey, round(o_totalprice) AS p,
             |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS INT) AS kn
             |  FROM orders WHERE o_custkey < 150) t
             |ORDER BY o_orderkey""".stripMargin)),

    // The LAST unpartitioned single-partition window classes, closed:
    // lag/lead offsets past the ghost halo cap (> 1000) run as a
    // distributed equi-join on the prefix-scan row number; DISTINCT
    // runnings whose prefix frame looks AHEAD ride the first-occurrence
    // mask over a lead-ghost hybrid (earlier buckets via exclusive
    // prefix totals, the in-bucket frame extended h rows by ghosts);
    // DISTINCT over `OVER ()` / whole-input frames is the broadcast
    // global aggregate in its distinct form; DISTINCT over fully
    // bounded frames reuses the per-frame collect_set fold over plain
    // ghosts. ~3000 rows at sf0.01, so the 1200/1500 shifts cross many
    // range buckets.
    "q_dialect_win_global_rest" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "lag(p, 1200, -1) OVER (ORDER BY o_orderkey) AS lg, " +
          "lead(p, 1500) OVER (ORDER BY o_orderkey) AS ld, " +
          "lag(pn, 1100, -2 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS lgi, " +
          "lead(pn, 1300 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS ldi, " +
          "count(DISTINCT o_orderpriority) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 3 FOLLOWING) AS dcf, " +
          "CAST(sum(DISTINCT o_custkey % 7) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 5 FOLLOWING) AS BIGINT) AS dsf, " +
          "count(DISTINCT o_orderpriority) OVER () AS dct, " +
          "CAST(sum(DISTINCT o_custkey % 7) OVER (ORDER BY o_totalprice " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
          "AS BIGINT) AS dsw, " +
          "sum(DISTINCT p) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING) AS dsb " +
          "FROM (SELECT o_orderkey, o_custkey, o_totalprice, " +
          "o_orderpriority, round(o_totalprice) AS p, " +
          "CASE WHEN o_orderkey % 4 = 0 THEN NULL " +
          "ELSE round(o_totalprice) END AS pn " +
          "FROM orders WHERE o_custkey < 300) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  lag(p, 1200, -1) OVER (ORDER BY o_orderkey) AS lg,
             |  lead(p, 1500) OVER (ORDER BY o_orderkey) AS ld,
             |  lag(pn, 1100, -2 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS lgi,
             |  lead(pn, 1300 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS ldi,
             |  count(DISTINCT o_orderpriority) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 3 FOLLOWING) AS dcf,
             |  CAST(sum(DISTINCT o_custkey % 7) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 5 FOLLOWING) AS BIGINT) AS dsf,
             |  count(DISTINCT o_orderpriority) OVER () AS dct,
             |  CAST(sum(DISTINCT o_custkey % 7) OVER (ORDER BY o_totalprice
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |    AS BIGINT) AS dsw,
             |  sum(DISTINCT p) OVER (ORDER BY o_orderkey
             |    ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING) AS dsb
             |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
             |  o_orderpriority, round(o_totalprice) AS p,
             |  CASE WHEN o_orderkey % 4 = 0 THEN NULL
             |  ELSE round(o_totalprice) END AS pn
             |  FROM orders WHERE o_custkey < 300) t
             |ORDER BY o_orderkey""".stripMargin)),

    // NULLS FIRST composed with RANGE frames — the null order binds
    // natively on the sort expression (SortDir → asc_nulls_first at
    // lowering; round 13's 0/1 marker-key desugar added an ORDER key
    // and had to reject this). The running frame makes the null order
    // OBSERVABLE: with NULLS FIRST the null-key peer group anchors the
    // partition, so every non-null row's running sum includes it; the
    // value-offset frame pins that null-key rows stay a self-contained
    // peer group under value distance on both engines.
    "q_dialect_win_nulls_range" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, k, round(sum(o_totalprice) OVER " +
          "(PARTITION BY o_custkey ORDER BY k ASC NULLS FIRST " +
          "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run, " +
          "round(sum(o_totalprice) OVER " +
          "(PARTITION BY o_custkey ORDER BY k DESC NULLS FIRST " +
          "RANGE BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS nearby " +
          "FROM (SELECT o_orderkey, o_custkey, o_totalprice, " +
          "CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey END AS k " +
          "FROM orders WHERE o_custkey < 50) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, k,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY k ASC NULLS FIRST
             |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY k DESC NULLS FIRST
             |    RANGE BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS nearby
             |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
             |  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey END AS k
             |  FROM orders WHERE o_custkey < 50) t
             |ORDER BY o_orderkey""".stripMargin)),

    // Inequality-correlated scalar-subquery ITEMS over an aggregated
    // query — the running-aggregate form evaluates post-aggregation:
    // the union-merge running window's tag side is one row per distinct
    // (group key, outer expression) value (group-cardinality-bounded),
    // never a per-row candidate fan-out. Mixed form: decorrelated
    // equality (o_custkey = c_nationkey) + the inequality on an outer
    // group-key expression.
    "q_dialect_corr_item_ineq" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_nationkey, count(*) AS n, " +
          "(SELECT count(*) FROM orders WHERE o_custkey < c_nationkey * 10) AS oc, " +
          "(SELECT round(sum(o_totalprice), 2) AS r FROM orders " +
          "WHERE o_custkey = c_nationkey AND o_orderkey < c_nationkey * 200) AS sp " +
          "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),
      Some("""SELECT c_nationkey, cast(count(*) AS bigint) AS n,
             |  cast((SELECT count(*) FROM orders
             |        WHERE o_custkey < c_nationkey * 10) AS bigint) AS oc,
             |  (SELECT round(sum(o_totalprice), 2) FROM orders
             |   WHERE o_custkey = c_nationkey
             |     AND o_orderkey < c_nationkey * 200) AS sp
             |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // DISTINCT ON over an aggregated query — per market segment, the
    // nation with the most customers: the first-row-per-key filter
    // runs AFTER aggregation (row_number → WindowGroupLimit over the
    // grouped frame), one row of state per ON key.
    "q_dialect_distinct_on_agg" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_nationkey, " +
          "count(*) AS n FROM customer GROUP BY c_mktsegment, c_nationkey " +
          "ORDER BY c_mktsegment, n DESC, c_nationkey"),
      Some("""SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_nationkey,
             |  cast(count(*) AS bigint) AS n
             |FROM customer GROUP BY c_mktsegment, c_nationkey
             |ORDER BY c_mktsegment, n DESC, c_nationkey""".stripMargin)),

    // An uncorrelated scalar-subquery ITEM over an aggregated query:
    // the subquery lowers once as a broadcast 1-row frame joined after
    // aggregation (the BSubVal operand machinery) — not once per group.
    "q_dialect_scalar_item_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_orderstatus, count(*) AS n, " +
          "(SELECT max(c_acctbal) FROM customer) AS mx " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus, cast(count(*) AS bigint) AS n,
             |  (SELECT max(c_acctbal) FROM customer) AS mx
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // A CORRELATED scalar-subquery item over an aggregated query — the
    // correlation key is the GROUP BY key, so the decorrelated per-key
    // aggregate joins the grouped frame (marker machinery), never a
    // per-group rerun.
    "q_dialect_corr_item_agg" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_nationkey, count(*) AS n, " +
          "(SELECT count(*) FROM supplier WHERE s_nationkey = c_nationkey) AS ns " +
          "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),
      Some("""SELECT c_nationkey, cast(count(*) AS bigint) AS n,
             |  cast((SELECT count(*) FROM supplier
             |        WHERE s_nationkey = c_nationkey) AS bigint) AS ns
             |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // A set-operation CTE body: the union-all of two dimension scans
    // aggregated in the main query — the derived chain lowers each branch
    // independently and combines by position with the first branch's
    // names.
    "q_dialect_union_cte" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "WITH parties AS (SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000 " +
          "UNION ALL SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000) " +
          "SELECT k, count(*) AS n FROM parties GROUP BY k ORDER BY k"),
      Some("""WITH parties AS (SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
             |  UNION ALL SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000)
             |SELECT k, cast(count(*) AS bigint) AS n FROM parties
             |GROUP BY k ORDER BY k""".stripMargin)),

    // date_trunc as a GROUP BY key (the month-bucket reporting shape —
    // the key computes once, pre-shuffle) and datediff inside an
    // aggregate argument.
    "q_dialect_temporal" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n, " +
          "min(datediff(o_orderdate, DATE '1995-01-01')) AS mindd " +
          "FROM orders GROUP BY date_trunc('month', o_orderdate) ORDER BY mo"),
      // DuckDB's date_trunc('month', ts) narrows to DATE where Spark
      // keeps TIMESTAMP — the oracle casts back up for value parity
      Some("""SELECT cast(date_trunc('month', o_orderdate) AS timestamp) AS mo,
             |  cast(count(*) AS bigint) AS n,
             |  cast(min(date_diff('day', DATE '1995-01-01', o_orderdate)) AS int) AS mindd
             |FROM orders GROUP BY date_trunc('month', o_orderdate)
             |ORDER BY mo""".stripMargin)),

    // The TPC-H Q1 pricing-summary shape with its INTERVAL predicate —
    // DATE '…' - INTERVAL '90' DAY constant-folds and reaches the scan
    // as a pushed filter on both engines.
    "q_dialect_tpch_q1" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
          "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
          "round(avg(l_quantity), 4) AS avg_qty, count(*) AS n " +
          "FROM lineitem WHERE l_shipdate <= DATE '2000-12-01' - INTERVAL '90' DAY " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  cast(count(*) AS bigint) AS n
             |FROM lineitem WHERE l_shipdate <= DATE '2000-12-01' - INTERVAL '90' DAY
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // WITH RECURSIVE: semi-naive fixpoint — each round joins only the
    // FRONTIER against the nation table, UNION keeps never-seen keys, and
    // localCheckpoint truncates the growing lineage (the connected-
    // components pattern, surfaced as SQL). DuckDB's native recursive CTE
    // is the independent oracle.
    "q_dialect_recursive" -> QueryDef(
      (s, d) => run(db(s, d, "nation"),
        "WITH RECURSIVE r AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 2 " +
          "UNION SELECT n.n_nationkey AS k FROM r JOIN nation n ON n.n_nationkey = r.k + 3) " +
          "SELECT k FROM r ORDER BY k"),
      Some("""WITH RECURSIVE r AS (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 2
             |  UNION SELECT n.n_nationkey AS k FROM r JOIN nation n ON n.n_nationkey = r.k + 3)
             |SELECT k FROM r ORDER BY k""".stripMargin)),

    // ROLLUP through the dialect: one Expand pass emits the (rf, ls),
    // (rf), () levels; subtotal NULLs coalesce to 'ALL' so the total
    // ORDER BY is engine-independent.
    "q_dialect_rollup" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
          "coalesce(l_linestatus, 'ALL') AS ls, count(*) AS cnt, " +
          "round(sum(l_quantity), 2) AS qty FROM lineitem " +
          "GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |  coalesce(l_linestatus, 'ALL') AS ls,
             |  cast(count(*) AS bigint) AS cnt,
             |  round(sum(l_quantity), 2) AS qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // grouping() distinguishes a real NULL key from a subtotal row —
    // the only reliable marker once ROLLUP mixes both into one column.
    "q_dialect_rollup_grouping" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT coalesce(l_returnflag, 'ALL') AS rf, grouping(l_returnflag) AS grf, " +
          "coalesce(l_linestatus, 'ALL') AS ls, grouping(l_linestatus) AS gls, " +
          "count(*) AS cnt FROM lineitem " +
          "GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |  cast(grouping(l_returnflag) AS int) AS grf,
             |  coalesce(l_linestatus, 'ALL') AS ls,
             |  cast(grouping(l_linestatus) AS int) AS gls,
             |  cast(count(*) AS bigint) AS cnt
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // grouping_id() — the bitmask form of grouping() (first key = most
    // significant bit, the Postgres/DuckDB/Spark convention): one value
    // identifies the grouping level, and ORDERING by it separates the
    // detail / subtotal / grand-total strata. Desugars at parse onto
    // the single-key grouping() machinery. CUBE gives all 4 levels.
    "q_dialect_grouping_id" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT coalesce(o_orderstatus, 'ALL') AS st, " +
          "coalesce(o_orderpriority, 'ALL') AS pr, " +
          "grouping_id(o_orderstatus, o_orderpriority) AS gid, " +
          "count(*) AS cnt FROM orders " +
          "GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
          "ORDER BY gid, st, pr"),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st,
             |  coalesce(o_orderpriority, 'ALL') AS pr,
             |  cast(grouping_id(o_orderstatus, o_orderpriority) AS int) AS gid,
             |  cast(count(*) AS bigint) AS cnt
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY gid, st, pr""".stripMargin)),

    // Statistical aggregates: sample stddev/variance (Welford vs two-pass
    // accumulation noise absorbed by rounding at margins far above the
    // doubles' ulp level) and exact interpolated median.
    "q_dialect_stats_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, round(stddev(o_totalprice), 4) AS sd, " +
          "round(variance(o_totalprice), -1) AS vr, " +
          "round(median(o_totalprice), 4) AS md, count(*) AS n " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus, round(stddev(o_totalprice), 4) AS sd,
             |  round(variance(o_totalprice), -1) AS vr,
             |  round(median(o_totalprice), 4) AS md,
             |  cast(count(*) AS bigint) AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // CUBE: the full power set of the two keys (4 grouping levels).
    "q_dialect_cube" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT coalesce(o_orderstatus, 'ALL') AS st, " +
          "coalesce(o_orderpriority, 'ALL') AS prio, count(*) AS cnt " +
          "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
          "ORDER BY st, prio"),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st,
             |  coalesce(o_orderpriority, 'ALL') AS prio,
             |  cast(count(*) AS bigint) AS cnt
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY st, prio""".stripMargin)),

    // Explicit GROUPING SETS — detail, one-key subtotal, grand total —
    // the exact level list no ROLLUP/CUBE shorthand generates.
    "q_dialect_grouping_sets" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT coalesce(o_orderstatus, 'ALL') AS st, " +
          "coalesce(o_orderpriority, 'ALL') AS prio, count(*) AS cnt " +
          "FROM orders GROUP BY GROUPING SETS " +
          "((o_orderstatus, o_orderpriority), (o_orderpriority), ()) " +
          "ORDER BY st, prio"),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st,
             |  coalesce(o_orderpriority, 'ALL') AS prio,
             |  cast(count(*) AS bigint) AS cnt
             |FROM orders GROUP BY GROUPING SETS
             |  ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
             |ORDER BY st, prio""".stripMargin)),

    // Correlated scalar subquery in HAVING: the per-nation supplier count
    // aggregates once (GROUP BY the decorrelated key) and left-joins the
    // aggregated frame on the GROUP BY key's output column; nations with
    // no qualifying supplier hit the COUNT-over-empty-set coalesce (0),
    // so count(*)/20 < 0 correctly drops them.
    "q_dialect_having_corr" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_nationkey, count(*) AS nc FROM customer c GROUP BY c_nationkey " +
          "HAVING count(*) / 20 < (SELECT count(*) FROM supplier s " +
          "WHERE s.s_nationkey = c.c_nationkey AND s.s_acctbal > 5000) " +
          "ORDER BY c_nationkey"),
      Some("""SELECT c_nationkey, cast(count(*) AS bigint) AS nc
             |FROM customer c GROUP BY c_nationkey
             |HAVING count(*) / 20 < (SELECT count(*) FROM supplier s
             |  WHERE s.s_nationkey = c.c_nationkey AND s.s_acctbal > 5000)
             |ORDER BY c_nationkey""".stripMargin)),

    // Correlated EXISTS in HAVING: groups keep or drop on a semi join of
    // the subquery's decorrelated keys against the grouped output — the
    // last subquery position (WHERE/projection/FROM/HAVING now all take
    // scalar AND existential forms).
    "q_dialect_having_exists" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_nationkey, count(*) AS nc FROM customer c GROUP BY c_nationkey " +
          "HAVING EXISTS (SELECT s.s_suppkey FROM supplier s " +
          "WHERE s.s_nationkey = c.c_nationkey AND s.s_acctbal > 9000) " +
          "ORDER BY c_nationkey"),
      Some("""SELECT c_nationkey, cast(count(*) AS bigint) AS nc
             |FROM customer c GROUP BY c_nationkey
             |HAVING EXISTS (SELECT s.s_suppkey FROM supplier s
             |  WHERE s.s_nationkey = c.c_nationkey AND s.s_acctbal > 9000)
             |ORDER BY c_nationkey""".stripMargin)),

    // INTERSECT binding tighter than UNION (standard precedence): the
    // nation keys shared by customers AND suppliers, unioned with the
    // low-key nations — a ∪ (b ∩ c), not (a ∪ b) ∩ c.
    "q_dialect_intersect" -> QueryDef(
      (s, d) => run(db(s, d, "nation", "customer", "supplier"),
        "SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 3 " +
          "UNION SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000 " +
          "INTERSECT SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000 " +
          "ORDER BY k"),
      Some("""SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 3
             |UNION SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
             |INTERSECT SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000
             |ORDER BY k""".stripMargin)),

    // EXCEPT: nation keys with customers but no high-balance supplier.
    "q_dialect_except" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_nationkey AS k FROM customer " +
          "EXCEPT SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9500 " +
          "ORDER BY k"),
      Some("""SELECT c_nationkey AS k FROM customer
             |EXCEPT SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9500
             |ORDER BY k""".stripMargin)),

    // EXCEPT ALL: bag difference — each supplier occurrence cancels ONE
    // customer occurrence of the same nation key (multiset semantics the
    // distinct-set EXCEPT cannot express).
    "q_dialect_except_all" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_nationkey AS k FROM customer " +
          "EXCEPT ALL SELECT s_nationkey AS k FROM supplier " +
          "ORDER BY k"),
      Some("""SELECT c_nationkey AS k FROM customer
             |EXCEPT ALL SELECT s_nationkey AS k FROM supplier
             |ORDER BY k""".stripMargin)),

    // UNION chain, left-associative with per-connector dedup: the first
    // two branches append (UNION ALL), the final UNION dedups the rows
    // the third branch re-selects.
    "q_dialect_union" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal >= 9950 " +
          "UNION ALL SELECT s_name AS name, s_acctbal AS bal FROM supplier WHERE s_acctbal >= 9950 " +
          "UNION SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal >= 9990 " +
          "ORDER BY name"),
      Some("""SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal >= 9950
             |UNION ALL SELECT s_name AS name, s_acctbal AS bal FROM supplier WHERE s_acctbal >= 9950
             |UNION SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal >= 9990
             |ORDER BY name""".stripMargin)),

    // QUALIFY over a window alias (the DuckDB/Snowflake top-N-per-group
    // clause): windows compute post-WHERE, the filter applies before
    // ORDER BY. One window shuffle on the partition key — no self-join.
    "q_dialect_qualify" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
          "FROM orders WHERE o_custkey <= 300 QUALIFY rn <= 2 ORDER BY o_custkey, rn"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |FROM orders WHERE o_custkey <= 300
             |QUALIFY rn <= 2 ORDER BY o_custkey, rn""".stripMargin)),

    // Subqueries in QUALIFY: the WHERE marker machinery applied to the
    // windowed frame — a membership semi-filter and a NOT-wrapped scalar
    // comparison (3VL) conjoin with the ranking predicate; marker frames
    // left-join once, never per-row re-execution.
    "q_dialect_qualify_sub" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
          "FROM orders WHERE o_custkey <= 500 " +
          "QUALIFY rn <= 2 AND o_custkey IN " +
          "(SELECT c_custkey FROM customer WHERE c_acctbal > 5000) " +
          "AND NOT (o_totalprice < (SELECT avg(o2.o_totalprice) AS a FROM orders o2)) " +
          "ORDER BY o_custkey, rn"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |FROM orders WHERE o_custkey <= 500
             |QUALIFY rn <= 2 AND o_custkey IN
             |  (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
             |AND NOT (o_totalprice < (SELECT avg(o2.o_totalprice) FROM orders o2))
             |ORDER BY o_custkey, rn""".stripMargin)),

    // QUALIFY with inline OVER calls (desugared to hidden window items
    // and dropped from the output): a windowed aggregate conjoined with
    // a ranking filter — both windows share one partition shuffle.
    "q_dialect_qualify_inline" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
          "WHERE l_orderkey <= 1000 " +
          "QUALIFY sum(l_quantity) OVER (PARTITION BY l_orderkey) > 100 " +
          "AND row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) = 1 " +
          "ORDER BY l_orderkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey <= 1000
             |QUALIFY sum(l_quantity) OVER (PARTITION BY l_orderkey) > 100
             |  AND row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) = 1
             |ORDER BY l_orderkey""".stripMargin)),

    // DISTINCT ON (Postgres/DuckDB): first row per key under the ORDER
    // BY, lowered as a row_number window + rn=1 filter that Catalyst
    // plans as WindowGroupLimit (per-key state = one row).
    "q_dialect_distinct_on" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice " +
          "FROM orders WHERE o_custkey <= 300 " +
          "ORDER BY o_custkey, o_totalprice DESC, o_orderkey"),
      Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
             |FROM orders WHERE o_custkey <= 300
             |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)),

    // GROUP BY ALL + ORDER BY ALL (DuckDB sugar): both desugar at parse
    // time — the analyzer and lowering see an ordinary key list, so the
    // plan is the same partial-aggregate shuffle as explicit keys.
    "q_dialect_group_by_all" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
          "round(sum(o_totalprice), 2) AS total " +
          "FROM orders GROUP BY ALL ORDER BY ALL"),
      Some("""SELECT o_orderstatus, o_orderpriority, cast(count(*) AS bigint) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin)),

    // Ordered string aggregation: the group collects once, sorts its own
    // array by the ORDER BY key, and joins — per-group cost identical to
    // any engine's ordered string_agg (the group must buffer either way).
    "q_dialect_string_agg" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation"),
        "SELECT n_name, count(*) AS n, string_agg(c_name, ',' ORDER BY c_name) AS names " +
          "FROM customer c, nation n " +
          "WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal >= 9900 " +
          "GROUP BY n_name ORDER BY n_name"),
      Some("""SELECT n_name, cast(count(*) AS bigint) AS n,
             |  string_agg(c_name, ',' ORDER BY c_name) AS names
             |FROM customer c, nation n
             |WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal >= 9900
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // count_if sugar (desugars to count(CASE WHEN p THEN 1 END), so the
    // plan is the same partial-count aggregate as FILTER).
    "q_dialect_count_if" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, count(*) AS n, " +
          "count_if(o_totalprice > 200000) AS big " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus, cast(count(*) AS bigint) AS n,
             |  cast(count_if(o_totalprice > 200000) AS bigint) AS big
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // nth_value over a full frame (deterministic: total ORDER BY inside
    // the partition, UNBOUNDED..UNBOUNDED frame).
    "q_dialect_nth_value" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_best " +
          "FROM orders WHERE o_custkey <= 100 ORDER BY o_custkey, o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_best
             |FROM orders WHERE o_custkey <= 100
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Star modifiers (DuckDB): EXCLUDE prunes the expansion — and the
    // pruning reaches the parquet scan's ReadSchema, it is not a
    // post-projection — REPLACE substitutes in place keeping the name.
    "q_dialect_star_exclude" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT * EXCLUDE (c_name, c_acctbal) REPLACE (lower(c_mktsegment) AS c_mktsegment) " +
          "FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey"),
      Some("""SELECT * EXCLUDE (c_name, c_acctbal) REPLACE (lower(c_mktsegment) AS c_mktsegment)
             |FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey""".stripMargin)),

    // arg_max (max_by): the value at the key's extremum — one (value,
    // key) pair of aggregate state per group, map-side combinable.
    // Deterministic on this fixture (no per-nation acctbal ties).
    "q_dialect_arg_max" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation"),
        "SELECT n_name, arg_max(c_name, c_acctbal) AS top_customer, " +
          "arg_min(c_name, c_acctbal) AS low_customer, " +
          "round(max(c_acctbal), 2) AS top_bal " +
          "FROM customer c, nation n WHERE c.c_nationkey = n.n_nationkey " +
          "GROUP BY n_name ORDER BY n_name"),
      Some("""SELECT n_name, arg_max(c_name, c_acctbal) AS top_customer,
             |  arg_min(c_name, c_acctbal) AS low_customer,
             |  round(max(c_acctbal), 2) AS top_bal
             |FROM customer c, nation n WHERE c.c_nationkey = n.n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // count(DISTINCT a, b): multi-column distinct count — ONE
    // distinct-aggregate over the tuple (one shuffle on (group, a, b)
    // then a partial count), not a distinct subquery materialization.
    // The oracle reproduces SQL's all-components-non-null tuple
    // semantics with an explicit DISTINCT subquery.
    "q_dialect_count_distinct_multi" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, count(DISTINCT o_custkey, o_orderpriority) AS n, " +
          "count(*) AS total FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT t.o_orderstatus, d.n, t.total FROM
             |  (SELECT o_orderstatus, cast(count(*) AS bigint) AS total
             |   FROM orders GROUP BY o_orderstatus) t
             |  JOIN
             |  (SELECT o_orderstatus, cast(count(*) AS bigint) AS n FROM
             |    (SELECT DISTINCT o_orderstatus, o_custkey, o_orderpriority
             |     FROM orders
             |     WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL) u
             |   GROUP BY o_orderstatus) d
             |  ON t.o_orderstatus = d.o_orderstatus
             |ORDER BY t.o_orderstatus""".stripMargin)),

    // Quantified comparisons: > ALL and <= ANY against uncorrelated
    // subqueries, under an OR — each subquery collapses to ONE bounded
    // facts aggregate (count / non-null count / min / max) broadcast to
    // every row; no per-row re-execution, no join explosion.
    "q_dialect_quant_any" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_orderkey, round(o_totalprice, 2) AS tp FROM orders " +
          "WHERE o_totalprice > ALL (SELECT c_acctbal FROM customer) " +
          "OR (o_orderkey < 50 AND o_totalprice <= ANY " +
          "(SELECT c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING')) " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS tp FROM orders
             |WHERE o_totalprice > ALL (SELECT c_acctbal FROM customer)
             |OR (o_orderkey < 50 AND o_totalprice <= ANY
             |  (SELECT c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'))
             |ORDER BY o_orderkey""".stripMargin)),

    // Correlated ALL: per-customer facts (count/min/max of their order
    // prices) computed as ONE hash aggregate on the correlation key and
    // left-joined — customers with no orders read the empty-set TRUE.
    "q_dialect_quant_corr" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT c.c_custkey FROM customer c " +
          "WHERE c.c_acctbal >= ALL (SELECT o.o_totalprice / 40 AS v FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey) AND c.c_custkey < 500 " +
          "ORDER BY c_custkey"),
      Some("""SELECT c.c_custkey FROM customer c
             |WHERE c.c_acctbal >= ALL (SELECT o.o_totalprice / 40 AS v FROM orders o
             |  WHERE o.o_custkey = c.c_custkey) AND c.c_custkey < 500
             |ORDER BY c_custkey""".stripMargin)),

    // Quantified comparison under NOT plus = ALL / <> ANY forms — the
    // three-valued facts predicate is exact under negation (NOT of the
    // marker, never a rewritten join), and the Eq/Neq quantifiers read
    // off min = max = probe.
    "q_dialect_quant_not" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer", "nation"),
        "SELECT c_custkey FROM customer " +
          "WHERE NOT (c_acctbal < ANY (SELECT o_totalprice / 100 AS v FROM orders " +
          "WHERE o_orderkey < 1000)) " +
          "AND c_nationkey = ALL (SELECT min(n_nationkey) + 3 AS v FROM nation) " +
          "OR c_custkey <= 20 AND c_mktsegment <> ANY " +
          "(SELECT DISTINCT c2.c_mktsegment FROM customer c2) " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT (c_acctbal < ANY (SELECT o_totalprice / 100 AS v FROM orders
             |  WHERE o_orderkey < 1000))
             |AND c_nationkey = ALL (SELECT min(n_nationkey) + 3 AS v FROM nation)
             |OR c_custkey <= 20 AND c_mktsegment <> ANY
             |  (SELECT DISTINCT c2.c_mktsegment FROM customer c2)
             |ORDER BY c_custkey""".stripMargin)),

    // UPDATE SET col = (SELECT …): a correlated scalar-aggregate value —
    // ONE per-key aggregate over the source joined back on the row id of
    // the pre-update image (no per-row re-execution); customers with no
    // orders read the aggregate's NULL. The oracle reproduces the final
    // image from the raw fixture with the same correlated subquery.
    "q_dialect_update_scalar_sub" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.contains("updsub_cust")) {
          g.query("CREATE TABLE updsub_cust AS SELECT c_custkey, c_acctbal " +
            "FROM customer WHERE c_custkey < 300")
            .fold(e => sys.error(e.msg), identity)
          g.query("UPDATE updsub_cust SET c_acctbal = " +
            "(SELECT avg(o.o_totalprice) AS v FROM orders o " +
            "WHERE o.o_custkey = updsub_cust.c_custkey) WHERE c_custkey % 3 = 0")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal FROM updsub_cust " +
          "ORDER BY c_custkey")
      },
      Some("""SELECT c_custkey, round(CASE WHEN c_custkey % 3 = 0
             |  THEN (SELECT avg(o.o_totalprice) FROM orders o
             |        WHERE o.o_custkey = c.c_custkey)
             |  ELSE c_acctbal END, 2) AS bal
             |FROM customer c WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin)),

    // QUALIFY over an aggregated query: the window computes over the
    // AGGREGATED frame (rank by sum), mixed with a plain aggregate
    // predicate — one aggregation pass, one window shuffle, then the
    // filter; no re-aggregation.
    "q_dialect_qualify_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total " +
          "FROM orders GROUP BY o_custkey " +
          "QUALIFY rank() OVER (ORDER BY sum(o_totalprice) DESC) <= 10 AND count(*) > 1 " +
          "ORDER BY total DESC, o_custkey"),
      Some("""SELECT o_custkey, cast(count(*) AS bigint) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY o_custkey
             |QUALIFY rank() OVER (ORDER BY sum(o_totalprice) DESC) <= 10 AND count(*) > 1
             |ORDER BY total DESC, o_custkey""".stripMargin)),

    // DISTINCT ON ordered by a window alias: the window column
    // pre-attaches (like QUALIFY) so the first-row-per-key filter can
    // sort on it; the inner window's tiebreak keeps it deterministic.
    "q_dialect_distinct_on_win" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, " +
          "row_number() OVER (PARTITION BY o_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
          "FROM orders WHERE o_custkey < 200 ORDER BY o_custkey, rn"),
      Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
             |  cast(row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS int) AS rn
             |FROM orders WHERE o_custkey < 200 ORDER BY o_custkey, rn""".stripMargin)),

    // Scalar-function batch: string (pad/trim/reverse/repeat/split_part/
    // md5), conditional (nullif/greatest/least), math (sign/exp/ln/log)
    // and temporal (quarter/last_day) — all codegen'd column expressions,
    // zero UDFs.
    "q_dialect_functions" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, " +
          "lpad(c_mktsegment, 12, '.') AS seg_l, rpad(c_mktsegment, 12, '.') AS seg_r, " +
          "ltrim(rtrim(concat('  ', c_mktsegment, '  '))) AS seg_t, " +
          "reverse(c_mktsegment) AS seg_rev, repeat(substr(c_mktsegment, 1, 2), 3) AS seg_rep, " +
          "split_part(c_name, '#', 2) AS name_id, md5(c_mktsegment) AS seg_md5, " +
          "split_part(c_name, '#', -1) AS name_last, split_part(c_name, '#', -2) AS name_first, " +
          "split_part(c_name, '#', -9) AS name_oor, split_part(c_name, '#', 0) AS name_zero, " +
          "nullif(c_nationkey, 3) AS nk_nn, greatest(c_acctbal, 0.0) AS bal_pos, " +
          "least(c_nationkey, 10) AS nk_cap, sign(c_acctbal) AS bal_sign, " +
          "round(exp(c_nationkey / 10), 6) AS e10, round(ln(c_custkey), 6) AS lnck, " +
          "round(log10(c_custkey), 6) AS lgck, round(log2(c_custkey), 6) AS lg2ck " +
          "FROM customer WHERE c_custkey BETWEEN 1 AND 100 ORDER BY c_custkey"),
      Some("""SELECT c_custkey,
             |  lpad(c_mktsegment, 12, '.') AS seg_l, rpad(c_mktsegment, 12, '.') AS seg_r,
             |  ltrim(rtrim(concat('  ', c_mktsegment, '  '))) AS seg_t,
             |  reverse(c_mktsegment) AS seg_rev, repeat(substr(c_mktsegment, 1, 2), 3) AS seg_rep,
             |  split_part(c_name, '#', 2) AS name_id, md5(c_mktsegment) AS seg_md5,
             |  split_part(c_name, '#', -1) AS name_last, split_part(c_name, '#', -2) AS name_first,
             |  split_part(c_name, '#', -9) AS name_oor, split_part(c_name, '#', 0) AS name_zero,
             |  nullif(c_nationkey, 3) AS nk_nn, greatest(c_acctbal, 0.0) AS bal_pos,
             |  least(c_nationkey, 10) AS nk_cap, cast(sign(c_acctbal) AS int) AS bal_sign,
             |  round(exp(c_nationkey / 10), 6) AS e10, round(ln(c_custkey), 6) AS lnck,
             |  round(log10(c_custkey), 6) AS lgck, round(log2(c_custkey), 6) AS lg2ck
             |FROM customer WHERE c_custkey BETWEEN 1 AND 100 ORDER BY c_custkey""".stripMargin)),

    // Temporal extraction batch over real timestamps: quarter/hour/
    // minute/second plus last_day — pushdown-friendly month bucketing.
    "q_dialect_time_parts" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, quarter(o_orderdate) AS q, last_day(o_orderdate) AS eom " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, cast(quarter(o_orderdate) AS int) AS q,
             |  last_day(o_orderdate) AS eom
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // MERGE INTO: conditional DELETE + UPDATE + INSERT in one statement,
    // first-match-wins — ONE left join computes every matched clause,
    // one anti-join-shaped left join computes the inserts; the standard's
    // multi-match error is a bounded key-count probe. The oracle
    // reconstructs the merged image from the raw fixtures.
    "q_dialect_merge" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.contains("merge_cust")) {
          g.query("CREATE TABLE merge_cust AS SELECT c_custkey, c_acctbal, " +
            "c_mktsegment FROM customer WHERE c_custkey < 400")
            .fold(e => sys.error(e.msg), identity)
          g.query("CREATE TABLE merge_src AS SELECT o_custkey AS k, " +
            "round(sum(o_totalprice), 2) AS spend, count(*) AS n " +
            "FROM orders WHERE o_custkey < 600 GROUP BY o_custkey")
            .fold(e => sys.error(e.msg), identity)
          g.query("MERGE INTO merge_cust c USING merge_src s ON c.c_custkey = s.k " +
            "WHEN MATCHED AND s.n > 20 THEN DELETE " +
            "WHEN MATCHED THEN UPDATE SET c_acctbal = c.c_acctbal + s.spend / 1000 " +
            "WHEN NOT MATCHED AND s.k < 500 THEN INSERT (c_custkey, c_acctbal) " +
            "VALUES (s.k, s.spend / 100)")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal, c_mktsegment " +
          "FROM merge_cust ORDER BY c_custkey")
      },
      Some("""WITH src AS (SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS spend,
             |              count(*) AS n
             |            FROM orders WHERE o_custkey < 600 GROUP BY o_custkey),
             |     tgt AS (SELECT c_custkey, c_acctbal, c_mktsegment
             |            FROM customer WHERE c_custkey < 400)
             |SELECT c_custkey, round(bal, 2) AS bal, c_mktsegment FROM (
             |  SELECT t.c_custkey,
             |    CASE WHEN s.k IS NOT NULL THEN t.c_acctbal + s.spend / 1000
             |         ELSE t.c_acctbal END AS bal,
             |    t.c_mktsegment
             |  FROM tgt t LEFT JOIN src s ON t.c_custkey = s.k
             |  WHERE s.k IS NULL OR s.n <= 20
             |  UNION ALL
             |  SELECT s.k AS c_custkey, s.spend / 100 AS bal,
             |    cast(NULL AS varchar) AS c_mktsegment
             |  FROM src s LEFT JOIN tgt t ON t.c_custkey = s.k
             |  WHERE t.c_custkey IS NULL AND s.k < 500
             |) ORDER BY c_custkey""".stripMargin)),

    // IS [NOT] DISTINCT FROM — null-safe comparison (two-valued even
    // over NULLs, exact under NOT); nullif manufactures the NULLs the
    // fixture lacks.
    "q_dialect_is_distinct" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_orderstatus FROM orders " +
          "WHERE nullif(o_orderstatus, 'O') IS DISTINCT FROM 'F' " +
          "AND NOT (nullif(o_orderstatus, 'P') IS DISTINCT FROM o_orderstatus) " +
          "AND o_orderkey < 3000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE nullif(o_orderstatus, 'O') IS DISTINCT FROM 'F'
             |AND NOT (nullif(o_orderstatus, 'P') IS DISTINCT FROM o_orderstatus)
             |AND o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin)),

    // ALTER TABLE end-to-end: ADD COLUMN (catalog-only — old files read
    // NULL through the explicit schema), UPDATE into it, DROP COLUMN
    // (schema pruning), RENAME COLUMN (copy-on-write rewrite — parquet
    // binds by name), RENAME TO. The oracle rebuilds the final image
    // from the raw fixture.
    "q_dialect_alter" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "nation")
        if (!g.tableNames.contains("alt_nation2")) {
          g.query("CREATE TABLE alt_nation AS SELECT n_nationkey, n_name, " +
            "n_regionkey FROM nation").fold(e => sys.error(e.msg), identity)
          g.query("ALTER TABLE alt_nation ADD COLUMN pop BIGINT")
            .fold(e => sys.error(e.msg), identity)
          g.query("UPDATE alt_nation SET pop = n_nationkey * 1000 " +
            "WHERE n_regionkey < 3").fold(e => sys.error(e.msg), identity)
          g.query("ALTER TABLE alt_nation DROP COLUMN n_regionkey")
            .fold(e => sys.error(e.msg), identity)
          g.query("ALTER TABLE alt_nation RENAME COLUMN n_name TO nation_name")
            .fold(e => sys.error(e.msg), identity)
          g.query("ALTER TABLE alt_nation RENAME TO alt_nation2")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT n_nationkey, nation_name, pop FROM alt_nation2 " +
          "ORDER BY n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name AS nation_name,
             |  CASE WHEN n_regionkey < 3 THEN cast(n_nationkey * 1000 AS bigint)
             |       ELSE NULL END AS pop
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // MERGE WHEN NOT MATCHED BY SOURCE: clauses over TARGET rows with no
    // source match — same single left-join pass, complement-gated; the
    // oracle reconstructs with IN/NOT IN over the source key set.
    "q_dialect_merge_by_source" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.contains("mbs_cust")) {
          g.query("CREATE TABLE mbs_cust AS SELECT c_custkey, c_acctbal " +
            "FROM customer WHERE c_custkey < 300")
            .fold(e => sys.error(e.msg), identity)
          g.query("CREATE TABLE mbs_src AS SELECT DISTINCT o_custkey AS k " +
            "FROM orders WHERE o_custkey < 200")
            .fold(e => sys.error(e.msg), identity)
          g.query("MERGE INTO mbs_cust c USING mbs_src s ON c.c_custkey = s.k " +
            "WHEN MATCHED THEN UPDATE SET c_acctbal = c.c_acctbal + 1000 " +
            "WHEN NOT MATCHED BY SOURCE AND c.c_acctbal < 0 THEN DELETE " +
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_acctbal = 0")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal FROM mbs_cust " +
          "ORDER BY c_custkey")
      },
      Some("""WITH src AS (SELECT DISTINCT o_custkey AS k FROM orders
             |             WHERE o_custkey < 200)
             |SELECT c_custkey,
             |  round(CASE WHEN c_custkey IN (SELECT k FROM src)
             |        THEN c_acctbal + 1000 ELSE 0 END, 2) AS bal
             |FROM customer
             |WHERE c_custkey < 300
             |  AND NOT (c_custkey NOT IN (SELECT k FROM src) AND c_acctbal < 0)
             |ORDER BY c_custkey""".stripMargin)),

    // MERGE with scalar-subquery SET values: a correlated form (per-key
    // aggregate frame left-joined on the decorrelated equality — never
    // per-row re-execution) and an uncorrelated form (one broadcast
    // 1-row frame), both evaluated over the pre-merge snapshot like
    // every MERGE value. Conditions still reject subqueries (no marker
    // path through the synthetic CASE helpers). The oracle reconstructs
    // the merged image with the same subqueries inlined.
    "q_dialect_merge_scalar_set" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.contains("msv_cust")) {
          g.query("CREATE TABLE msv_cust AS SELECT c_custkey, c_acctbal " +
            "FROM customer WHERE c_custkey < 300")
            .fold(e => sys.error(e.msg), identity)
          g.query("CREATE TABLE msv_src AS SELECT DISTINCT o_custkey AS k " +
            "FROM orders WHERE o_custkey < 250")
            .fold(e => sys.error(e.msg), identity)
          g.query("MERGE INTO msv_cust c USING msv_src s ON c.c_custkey = s.k " +
            "WHEN MATCHED THEN UPDATE SET c_acctbal = " +
            "(SELECT round(sum(o.o_totalprice), 2) AS v FROM orders o " +
            "WHERE o.o_custkey = c.c_custkey) " +
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_acctbal = " +
            "(SELECT round(min(c2.c_acctbal), 2) AS v FROM customer c2)")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal FROM msv_cust " +
          "ORDER BY c_custkey")
      },
      Some("""WITH src AS (SELECT DISTINCT o_custkey AS k FROM orders
             |             WHERE o_custkey < 250)
             |SELECT c_custkey,
             |  round(CASE WHEN c_custkey IN (SELECT k FROM src)
             |    THEN (SELECT round(sum(o.o_totalprice), 2) FROM orders o
             |          WHERE o.o_custkey = c_custkey)
             |    ELSE (SELECT round(min(c_acctbal), 2) FROM customer) END, 2) AS bal
             |FROM customer WHERE c_custkey < 300
             |ORDER BY c_custkey""".stripMargin)),

    // MERGE WHEN conditions carrying subqueries (uncorrelated scalar,
    // correlated EXISTS, scalar-in-arithmetic): the marker machinery in
    // the pre-bound selects' CASE helpers, evaluated over the pre-merge
    // snapshot; first-match-wins across the three clauses. (ON-side
    // subqueries: source-column conjuncts pre-evaluate in the source
    // body — q_dialect_merge_on_sub; target-side ones still reject.)
    // Oracle reconstructs the final image from the raw fixture.
    // MERGE ON subqueries (r8 VERDICT item 3): subquery conjuncts that
    // reference only SOURCE columns pre-evaluate as boolean helpers
    // inside the source body (the SELECT subquery machinery over the
    // pre-merge snapshot); the join sees __moncnd_i = 1. A failed
    // conjunct makes the pair UNMATCHED on both sides — matched rows
    // here flip sign, unmatched source rows insert. Exact-integer
    // comparisons keep the qual set engine-independent. Oracle
    // reconstructs the merged image (DuckDB 1.0 has no MERGE).
    "q_dialect_merge_on_sub" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.contains("mos_cust")) {
          g.query("CREATE TABLE mos_cust AS SELECT c_custkey, c_acctbal " +
            "FROM customer WHERE c_custkey < 300")
            .fold(e => sys.error(e.msg), identity)
          g.query("MERGE INTO mos_cust c USING " +
            "(SELECT o_custkey AS k, count(*) AS n FROM orders " +
            "WHERE o_custkey < 400 GROUP BY o_custkey) s " +
            "ON c.c_custkey = s.k " +
            "AND s.n * 30 > (SELECT count(*) AS c FROM orders WHERE o_custkey < 400) " +
            "AND s.k IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000) " +
            "WHEN MATCHED THEN UPDATE SET c_acctbal = 0 - c.c_acctbal " +
            "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 0 - 1)")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal FROM mos_cust " +
          "ORDER BY c_custkey, bal")
      },
      Some("""WITH src AS (SELECT o_custkey AS k, count(*) AS n FROM orders
             |             WHERE o_custkey < 400 GROUP BY o_custkey),
             |qual AS (SELECT k FROM src
             |         WHERE n * 30 > (SELECT count(*) FROM orders WHERE o_custkey < 400)
             |           AND k IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000))
             |SELECT c_custkey, round(bal, 2) AS bal FROM (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey IN (SELECT k FROM qual)
             |         THEN 0 - c_acctbal ELSE c_acctbal END AS bal
             |  FROM customer WHERE c_custkey < 300
             |  UNION ALL
             |  SELECT k AS c_custkey, -1 AS bal FROM src
             |  WHERE k >= 300 OR k NOT IN (SELECT k FROM qual)
             |) t ORDER BY c_custkey, bal""".stripMargin)),

    "q_dialect_merge_sub_cond" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer", "region")
        if (!g.tableNames.contains("msc_cust")) {
          g.query("CREATE TABLE msc_cust AS SELECT c_custkey, c_acctbal " +
            "FROM customer WHERE c_custkey < 300")
            .fold(e => sys.error(e.msg), identity)
          g.query("MERGE INTO msc_cust c USING " +
            "(SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey < 400) s " +
            "ON c.c_custkey = s.k " +
            "WHEN MATCHED AND c.c_acctbal < " +
            "(SELECT avg(c2.c_acctbal) AS m FROM customer c2) THEN DELETE " +
            "WHEN MATCHED AND EXISTS (SELECT 1 AS x FROM orders o " +
            "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000) " +
            "THEN UPDATE SET c_acctbal = 0 - c.c_acctbal " +
            "WHEN NOT MATCHED AND s.k < 350 AND s.k % 2 = " +
            "(SELECT count(*) AS c FROM region) % 2 " +
            "THEN INSERT VALUES (s.k, 0)")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal FROM msc_cust " +
          "ORDER BY c_custkey")
      },
      Some("""WITH src AS (SELECT DISTINCT o_custkey AS k FROM orders
             |             WHERE o_custkey < 400)
             |SELECT c_custkey, round(bal, 2) AS bal FROM (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey IN (SELECT k FROM src)
             |           AND EXISTS (SELECT 1 FROM orders o
             |             WHERE o.o_custkey = c_custkey
             |               AND o.o_totalprice > 300000)
             |         THEN 0 - c_acctbal ELSE c_acctbal END AS bal
             |  FROM customer
             |  WHERE c_custkey < 300
             |    AND NOT (c_custkey IN (SELECT k FROM src)
             |             AND c_acctbal < (SELECT avg(c_acctbal) FROM customer))
             |  UNION ALL
             |  SELECT k AS c_custkey, 0 AS bal FROM src
             |  WHERE k >= 300 AND k < 350
             |    AND k % 2 = (SELECT count(*) FROM region) % 2
             |) t ORDER BY c_custkey""".stripMargin)),

    // COPY t FROM '<path>': the loading path — parquet binds target
    // columns BY NAME (missing NULL-fill), appended with checked casts;
    // a partition-parallel read + append, no driver-side rows.
    "q_dialect_copy_from" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "nation")
        g.query("CREATE OR REPLACE TABLE cfn " +
          "(n_nationkey BIGINT, n_name VARCHAR(32), extra INT)")
          .fold(e => sys.error(e.msg), identity)
        g.query(s"COPY cfn FROM '$d/nation.parquet'")
          .fold(e => sys.error(e.msg), identity)
        run(g, "SELECT n_nationkey, n_name, extra FROM cfn ORDER BY n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, CAST(NULL AS INT) AS extra
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // INSERT INTO … BY NAME: the select's OUTPUT NAMES map onto target
    // columns (order-free; unlisted columns NULL-fill) — DuckDB's
    // name-wise insert.
    "q_dialect_insert_by_name" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "nation")
        g.query("CREATE OR REPLACE TABLE ibn " +
          "(n_nationkey BIGINT, n_name VARCHAR(32), extra INT)")
          .fold(e => sys.error(e.msg), identity)
        g.query("INSERT INTO ibn BY NAME SELECT n_name, n_nationkey FROM nation")
          .fold(e => sys.error(e.msg), identity)
        run(g, "SELECT n_nationkey, n_name, extra FROM ibn ORDER BY n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, CAST(NULL AS INT) AS extra
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // RETURNING column lists: the affected frame projects through a
    // row-level synthetic select (computed items need AS; aggregates/
    // windows/subqueries reject). UPDATE post-image shown here.
    "q_dialect_returning_list" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer")
        g.query("CREATE OR REPLACE TABLE rlc AS SELECT c_custkey, " +
          "c_acctbal FROM customer WHERE c_custkey < 200")
          .fold(e => sys.error(e.msg), identity)
        run(g, "UPDATE rlc SET c_acctbal = c_acctbal + 100 " +
          "WHERE c_custkey % 7 = 0 " +
          "RETURNING c_custkey, round(c_acctbal, 2) AS bal")
      },
      Some("""SELECT c_custkey, round(c_acctbal + 100, 2) AS bal
             |FROM customer WHERE c_custkey < 200 AND c_custkey % 7 = 0""".stripMargin)),

    // INSERT … ON CONFLICT … RETURNING: inserted + updated rows
    // (post-image) for DO UPDATE — the affected set is the post-merge
    // rows whose conflict keys appear in the VALUES source.
    "q_dialect_upsert_returning" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer")
        g.query("CREATE OR REPLACE TABLE urc AS SELECT c_custkey AS k, " +
          "c_acctbal AS v FROM customer WHERE c_custkey < 100")
          .fold(e => sys.error(e.msg), identity)
        run(g, "INSERT INTO urc VALUES (50, 10.5), (1000, 20.25), (60, 1.0) " +
          "ON CONFLICT (k) DO UPDATE SET v = urc.v + excluded.v " +
          "RETURNING k, round(v, 2) AS v2")
      },
      Some("""SELECT k, round(v, 2) AS v2 FROM (
             |  SELECT c_custkey AS k, c_acctbal + 10.5 AS v FROM customer
             |  WHERE c_custkey = 50
             |  UNION ALL
             |  SELECT c_custkey, c_acctbal + 1.0 FROM customer
             |  WHERE c_custkey = 60
             |  UNION ALL
             |  SELECT CAST(1000 AS BIGINT), 20.25
             |) t""".stripMargin)),

    // INSERT … ON CONFLICT (upsert): desugars onto the MERGE machinery —
    // VALUES rows become the `excluded` source, conflict columns the ON
    // equalities, DO UPDATE the WHEN MATCHED clause; one left-join pass,
    // first-match-wins and the multi-match error inherited. The oracle
    // reconstructs the upserted image from the raw fixture.
    "q_dialect_upsert" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer")
        if (!g.tableNames.contains("ups_cust")) {
          g.query("CREATE TABLE ups_cust AS SELECT c_custkey, c_acctbal " +
            "FROM customer WHERE c_custkey < 200")
            .fold(e => sys.error(e.msg), identity)
          g.query("INSERT INTO ups_cust VALUES (1, 1000.5), (100000, 42.25), " +
            "(150, 7.75) ON CONFLICT (c_custkey) DO UPDATE SET " +
            "c_acctbal = ups_cust.c_acctbal + excluded.c_acctbal")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c_custkey, round(c_acctbal, 2) AS bal FROM ups_cust " +
          "ORDER BY c_custkey")
      },
      Some("""SELECT c_custkey, round(CASE WHEN c_custkey = 1 THEN c_acctbal + 1000.5
             |  WHEN c_custkey = 150 THEN c_acctbal + 7.75
             |  ELSE c_acctbal END, 2) AS bal
             |FROM customer WHERE c_custkey < 200
             |UNION ALL SELECT 100000 AS c_custkey, 42.25 AS bal
             |ORDER BY c_custkey""".stripMargin)),

    // Subqueries inside HAVING CASE conditions: the post-aggregation
    // marker machinery (frames joined on group-output columns) now
    // reaches CASE-nested positions — a correlated EXISTS keyed on the
    // GROUP BY column and an uncorrelated scalar threshold in the ELSE.
    "q_dialect_having_case" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, count(*) AS n FROM orders o GROUP BY o_custkey " +
          "HAVING CASE WHEN EXISTS (SELECT 1 AS x FROM orders o2 " +
          "WHERE o2.o_custkey = o.o_custkey AND o2.o_totalprice > 550000) " +
          "THEN TRUE ELSE CASE WHEN count(*) > " +
          "(SELECT count(*) AS c FROM orders) / 1000 THEN TRUE ELSE FALSE END END " +
          "ORDER BY o_custkey"),
      Some("""SELECT o_custkey, cast(count(*) AS bigint) AS n
             |FROM orders o GROUP BY o_custkey
             |HAVING CASE WHEN EXISTS (SELECT 1 FROM orders o2
             |  WHERE o2.o_custkey = o.o_custkey AND o2.o_totalprice > 550000)
             |  THEN TRUE ELSE CASE WHEN count(*) >
             |  (SELECT count(*) FROM orders) / 1000 THEN TRUE ELSE FALSE END END
             |ORDER BY o_custkey""".stripMargin)),

    // Inequality-correlated scalar subqueries (running-total bodies):
    // lowered as a union-merge running window aggregate — one sort
    // shuffle over distinct outer tuples + inner rows, no per-outer-row
    // re-execution and no candidate fan-out. Oracled against DuckDB's
    // native unnesting of the same correlated subqueries.
    "q_dialect_corr_ineq" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "(SELECT count(*) AS c FROM orders o2 " +
          "WHERE o2.o_custkey = o.o_custkey " +
          "AND o2.o_orderkey < o.o_orderkey) AS prior_n, " +
          "(SELECT CAST(sum(round(o2.o_totalprice * 100)) AS BIGINT) AS s " +
          "FROM orders o2 WHERE o2.o_custkey = o.o_custkey " +
          "AND o2.o_orderkey <= o.o_orderkey) AS run_cents " +
          "FROM orders o WHERE o_orderkey < 5000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  (SELECT cast(count(*) AS bigint) FROM orders o2
             |    WHERE o2.o_custkey = o.o_custkey
             |      AND o2.o_orderkey < o.o_orderkey) AS prior_n,
             |  (SELECT CAST(sum(round(o2.o_totalprice * 100)) AS BIGINT)
             |    FROM orders o2 WHERE o2.o_custkey = o.o_custkey
             |      AND o2.o_orderkey <= o.o_orderkey) AS run_cents
             |FROM orders o WHERE o_orderkey < 5000 ORDER BY o_orderkey""".stripMargin)),

    // USING SAMPLE: deterministic md5-threshold sampling (the
    // Corpus.split machinery surfaced in the dialect) — rerun-stable,
    // content-keyed, engine-reproducible; at 100 TB this is a map-only
    // filter that pushes to the scan, with no RNG state to coordinate
    // across executors. The oracle replicates the identical md5 prefix
    // comparison.
    "q_dialect_sample" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey FROM orders " +
          "USING SAMPLE 25 PERCENT (KEY o_orderkey) ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey FROM orders
             |WHERE substr(md5(coalesce(cast(o_orderkey AS varchar), '')), 1, 8)
             |  < '40000000'
             |ORDER BY o_orderkey""".stripMargin)),

    // Correlated scalar-subquery OPERANDS in aggregate-scope
    // projections: the per-key aggregate frame joins the GROUPED result
    // on the GROUP BY key (one bounded left join, never a per-group
    // re-execution) — non-'F' cents per customer as group total minus
    // the correlated 'F' total.
    "q_dialect_corr_scalar_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, " +
          "CAST(sum(round(o_totalprice * 100)) AS BIGINT) - " +
          "coalesce((SELECT CAST(sum(round(o2.o_totalprice * 100)) AS BIGINT) AS s " +
          "FROM orders o2 WHERE o2.o_custkey = o.o_custkey " +
          "AND o2.o_orderstatus = 'F'), 0) AS nf_cents " +
          "FROM orders o GROUP BY o_custkey ORDER BY o_custkey"),
      Some("""SELECT o_custkey,
             |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) -
             |  coalesce((SELECT CAST(sum(round(o2.o_totalprice * 100)) AS BIGINT)
             |    FROM orders o2 WHERE o2.o_custkey = o.o_custkey
             |    AND o2.o_orderstatus = 'F'), 0) AS nf_cents
             |FROM orders o GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // QUALIFY subqueries over an AGGREGATED query: post-aggregation
    // markers on the windowed aggregated frame — correlated EXISTS
    // keyed on the GROUP BY column next to a ranking window.
    "q_dialect_qualify_agg_sub" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey " +
          "QUALIFY rank() OVER (ORDER BY count(*) DESC, o_custkey) <= 50 " +
          "AND EXISTS (SELECT 1 AS x FROM customer " +
          "WHERE c_custkey = o_custkey AND c_acctbal > 0) " +
          "ORDER BY o_custkey"),
      Some("""SELECT o_custkey, cast(count(*) AS bigint) AS n
             |FROM orders GROUP BY o_custkey
             |QUALIFY rank() OVER (ORDER BY count(*) DESC, o_custkey) <= 50
             |  AND EXISTS (SELECT 1 FROM customer
             |    WHERE c_custkey = o_custkey AND c_acctbal > 0)
             |ORDER BY o_custkey""".stripMargin)),

    // Row-value IN in HAVING: the post-aggregation marker machinery over
    // (group key, aggregate) probes — correlated body keyed on the GROUP
    // BY column, per-key frames grouped on the decorrelated keys, 1:1
    // left joins. Oracled via a derived-table EXISTS reformulation
    // (DuckDB's binder rejects row-IN).
    "q_dialect_row_in_having" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey " +
          "HAVING (o_custkey, count(*) % 5) IN " +
          "(SELECT c_custkey, 2 AS b FROM customer " +
          "WHERE c_custkey = o_custkey AND c_acctbal > 0) " +
          "ORDER BY o_custkey"),
      Some("""SELECT o_custkey, n FROM (
             |  SELECT o_custkey, cast(count(*) AS bigint) AS n
             |  FROM orders GROUP BY o_custkey) t
             |WHERE EXISTS (SELECT 1 FROM customer
             |  WHERE c_custkey = t.o_custkey AND c_acctbal > 0
             |    AND t.n % 5 = 2)
             |ORDER BY o_custkey""".stripMargin)),

    // Subqueries in the projection CASE of an AGGREGATED query: the
    // post-aggregation MarkerScope keyed on GROUP BY output columns —
    // an uncorrelated IN marker and a correlated (on the group key)
    // EXISTS marker, with aggregate probes in the branches.
    "q_dialect_agg_case_sub" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_custkey, " +
          "CASE WHEN o_custkey IN (SELECT c_custkey FROM customer " +
          "WHERE c_acctbal > 9000) THEN count(*) ELSE 0 - count(*) END AS n, " +
          "CASE WHEN EXISTS (SELECT 1 AS x FROM customer " +
          "WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING') " +
          "THEN max(o_totalprice) ELSE 0 END AS mx " +
          "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
      Some("""SELECT o_custkey,
             |  CASE WHEN o_custkey IN (SELECT c_custkey FROM customer
             |    WHERE c_acctbal > 9000) THEN cast(count(*) AS bigint)
             |    ELSE cast(0 - count(*) AS bigint) END AS n,
             |  CASE WHEN EXISTS (SELECT 1 FROM customer
             |    WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
             |    THEN max(o_totalprice) ELSE 0 END AS mx
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // DELETE … RETURNING *: the removed rows' pre-image comes back as
    // the statement's result, materialized BEFORE the rewrite. CREATE
    // OR REPLACE keeps the gate idempotent across bench repetitions.
    // Constraint machinery end-to-end: NOT NULL + CHECK + GENERATED +
    // DEFAULT through CREATE, VALUES-arity-excluding-generated inserts,
    // column-list inserts, and an UPDATE that must RECOMPUTE the
    // generated column. The oracle reconstructs the final image
    // arithmetically from the inserted literals — a materialization or
    // recompute bug hash-mismatches. Idempotent via CREATE OR REPLACE.
    "q_dialect_constraints" -> QueryDef(
      (s, d) => {
        val g = db(s, d)
        def exec(sql: String): Unit =
          g.query(sql).fold(e => sys.error(e.msg), _ => ())
        exec("CREATE OR REPLACE TABLE conq (" +
          "a INT NOT NULL CHECK (a > 0), " +
          "b INT GENERATED ALWAYS AS (a * 10), " +
          "t VARCHAR(10) DEFAULT 'x')")
        exec("INSERT INTO conq (a) VALUES (1), (2)")
        exec("INSERT INTO conq VALUES (5, 'y')")
        exec("UPDATE conq SET a = a + 1 WHERE a = 2")
        run(g, "SELECT a, b, t FROM conq ORDER BY a")
      },
      Some("""SELECT a, a * 10 AS b, t
             |FROM (VALUES (1, 'x'), (3, 'x'), (5, 'y')) v(a, t)
             |ORDER BY a""".stripMargin)),

    "q_dialect_returning" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "customer")
        g.query("CREATE OR REPLACE TABLE ret_cust AS SELECT c_custkey, " +
          "c_acctbal FROM customer WHERE c_custkey < 250")
          .fold(e => sys.error(e.msg), identity)
        run(g, "DELETE FROM ret_cust WHERE c_acctbal < 0 RETURNING *")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |WHERE c_custkey < 250 AND c_acctbal < 0
             |ORDER BY c_custkey""".stripMargin)),

    // SUMMARIZE (DuckDB's profiling statement): per-column count/nulls/
    // exact ndv/min/max/avg/std in ONE aggregate pass + one bounded
    // driver row. The oracle hand-computes the same profile per column.
    "q_dialect_summarize" -> QueryDef(
      (s, d) => run(db(s, d, "nation"), "SUMMARIZE nation")
        .orderBy("column_name"),
      Some("""SELECT 'n_nationkey' AS column_name, 'INT' AS column_type,
             |  cast(count(*) AS bigint) AS count,
             |  cast(count(*) - count(n_nationkey) AS bigint) AS nulls,
             |  cast(count(DISTINCT n_nationkey) AS bigint) AS ndv,
             |  cast(min(n_nationkey) AS varchar) AS min,
             |  cast(max(n_nationkey) AS varchar) AS max,
             |  round(avg(n_nationkey), 4) AS avg,
             |  round(stddev_samp(n_nationkey), 4) AS std
             |FROM nation
             |UNION ALL
             |SELECT 'n_name', 'VARCHAR(65535)', cast(count(*) AS bigint),
             |  cast(count(*) - count(n_name) AS bigint),
             |  cast(count(DISTINCT n_name) AS bigint), min(n_name), max(n_name),
             |  cast(NULL AS double), cast(NULL AS double)
             |FROM nation
             |UNION ALL
             |SELECT 'n_regionkey', 'INT', cast(count(*) AS bigint),
             |  cast(count(*) - count(n_regionkey) AS bigint),
             |  cast(count(DISTINCT n_regionkey) AS bigint),
             |  cast(min(n_regionkey) AS varchar), cast(max(n_regionkey) AS varchar),
             |  round(avg(n_regionkey), 4), round(stddev_samp(n_regionkey), 4)
             |FROM nation
             |ORDER BY column_name""".stripMargin)),

    // TPC-H Q4 shape: date-windowed orders with a correlated EXISTS over
    // lineitem — decorrelates to one semi join on l_orderkey; date
    // predicate pushes to the orders scan.
    "q_dialect_tpch_q4" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "lineitem"),
        "SELECT o_orderpriority, count(*) AS order_count FROM orders o " +
          "WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01' " +
          "AND EXISTS (SELECT l.l_orderkey FROM lineitem l " +
          "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      Some("""SELECT o_orderpriority, cast(count(*) AS bigint) AS order_count
             |FROM orders o
             |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
             |AND EXISTS (SELECT l.l_orderkey FROM lineitem l
             |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q6 shape: the forecast-revenue scan-aggregate — every
    // predicate in PushedFilters, one partial-aggregate, one row out.
    "q_dialect_tpch_q6" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue " +
          "FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' " +
          "AND l_shipdate < DATE '1997-01-01' " +
          "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"),
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
             |FROM lineitem WHERE l_shipdate >= DATE '1996-01-01'
             |AND l_shipdate < DATE '1997-01-01'
             |AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer — a 4-table
    // join (DPccp-ordered), date window, group on customer attrs, top-20
    // by revenue → TakeOrderedAndProject.
    "q_dialect_tpch_q10" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders", "lineitem", "nation"),
        "SELECT c.c_custkey, c.c_name, " +
          "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue, " +
          "round(c.c_acctbal, 2) AS acctbal, n.n_name " +
          "FROM customer c, orders o, lineitem l, nation n " +
          "WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey " +
          "AND o.o_orderdate >= DATE '1996-10-01' AND o.o_orderdate < DATE '1997-01-01' " +
          "AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey " +
          "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name " +
          "ORDER BY revenue DESC, c_custkey LIMIT 20"),
      Some("""SELECT c.c_custkey, c.c_name,
             |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             |  round(c.c_acctbal, 2) AS acctbal, n.n_name
             |FROM customer c, orders o, lineitem l, nation n
             |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
             |AND o.o_orderdate >= DATE '1996-10-01' AND o.o_orderdate < DATE '1997-01-01'
             |AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
             |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q13 shape: customer order-count distribution — LEFT JOIN so
    // order-less customers count as 0, aggregate of an aggregate through
    // a derived table.
    "q_dialect_tpch_q13" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_count, count(*) AS custdist FROM " +
          "(SELECT c.c_custkey, count(o.o_orderkey) AS c_count " +
          "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey " +
          "GROUP BY c.c_custkey) t " +
          "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
      Some("""SELECT c_count, cast(count(*) AS bigint) AS custdist FROM
             |  (SELECT c.c_custkey, cast(count(o.o_orderkey) AS bigint) AS c_count
             |   FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             |   GROUP BY c.c_custkey) t
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q14 shape: promo-revenue share — conditional aggregation
    // over a lineitem×part join inside one date window.
    "q_dialect_tpch_q14" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part"),
        "SELECT round(100 * sum(CASE WHEN p_type = 'ECONOMY' " +
          "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / " +
          "sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share " +
          "FROM lineitem l, part p WHERE l.l_partkey = p.p_partkey " +
          "AND l.l_shipdate >= DATE '1996-03-01' AND l.l_shipdate < DATE '1996-04-01'"),
      Some("""SELECT round(100 * sum(CASE WHEN p_type = 'ECONOMY'
             |  THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
             |  sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
             |FROM lineitem l, part p WHERE l.l_partkey = p.p_partkey
             |AND l.l_shipdate >= DATE '1996-03-01' AND l.l_shipdate < DATE '1996-04-01'""".stripMargin)),

    // Named WINDOW clause: one spec shared by two window items — Spark
    // merges same-spec windows into ONE Window operator (one shuffle).
    "q_dialect_window_clause" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, o_orderkey, row_number() OVER w AS rn, " +
          "sum(o_orderkey) OVER w AS run_key " +
          "FROM orders WHERE o_custkey < 100 " +
          "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey) " +
          "ORDER BY o_custkey, rn"),
      Some("""SELECT o_custkey, o_orderkey, cast(row_number() OVER w AS int) AS rn,
             |  cast(sum(o_orderkey) OVER w AS bigint) AS run_key
             |FROM orders WHERE o_custkey < 100
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
             |ORDER BY o_custkey, rn""".stripMargin)),

    // PIVOT statement (DuckDB form): the ON column's distinct values
    // become aggregate columns — two-phase (bounded distinct-value
    // collect, then ONE groupBy.pivot aggregation pass).
    "q_dialect_pivot_stmt" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "PIVOT orders ON o_orderpriority USING count(*) GROUP BY o_orderstatus " +
          "ORDER BY o_orderstatus"),
      Some("""PIVOT orders ON o_orderpriority USING count(*) GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // UNPIVOT statement: columns to (name, value) rows, NULL values
    // excluded — a narrow map over the scan, no shuffle.
    "q_dialect_unpivot_stmt" -> QueryDef(
      (s, d) => run(db(s, d, "supplier"),
        "UNPIVOT supplier ON s_suppkey, s_nationkey INTO NAME metric VALUE val " +
          "ORDER BY s_name, metric"),
      Some("""UNPIVOT supplier ON s_suppkey, s_nationkey INTO NAME metric VALUE val
             |ORDER BY s_name, metric""".stripMargin)),

    // Regex functions + boolean string predicates: regexp_replace runs
    // DuckDB semantics — FIRST match only by default ('g' makes it
    // global, 'i' case-insensitive; RegexpReplaceDuck with \1-style
    // backrefs); contains/starts_with/ends_with desugar at parse onto
    // instr comparisons — all codegen'd. The IDENTICAL SQL runs on both
    // engines, with first-only exercised on multi-match digit strings.
    "q_dialect_regex" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, regexp_replace(c_name, '[0-9]+', '#') AS masked, " +
          "regexp_replace(c_name, '0', '*') AS first_zero, " +
          "regexp_replace(c_name, '0', '*', 'g') AS all_zeros, " +
          "regexp_replace(c_name, 'CUSTOMER#', '', 'i') AS bare_id, " +
          "regexp_replace(c_name, '([0-9])([0-9])$', '\\2\\1', 'g') AS swapped, " +
          "regexp_extract(c_name, '([0-9]+)', 1) AS digits " +
          "FROM customer WHERE c_custkey <= 50 " +
          "AND contains(c_name, '0') AND starts_with(c_name, 'Customer') " +
          "AND NOT ends_with(c_name, 'X') ORDER BY c_custkey"),
      Some("""SELECT c_custkey, regexp_replace(c_name, '[0-9]+', '#') AS masked,
             |  regexp_replace(c_name, '0', '*') AS first_zero,
             |  regexp_replace(c_name, '0', '*', 'g') AS all_zeros,
             |  regexp_replace(c_name, 'CUSTOMER#', '', 'i') AS bare_id,
             |  regexp_replace(c_name, '([0-9])([0-9])$', '\2\1', 'g') AS swapped,
             |  regexp_extract(c_name, '([0-9]+)', 1) AS digits
             |FROM customer WHERE c_custkey <= 50
             |AND contains(c_name, '0') AND starts_with(c_name, 'Customer')
             |AND NOT ends_with(c_name, 'X') ORDER BY c_custkey""".stripMargin)),

    // FROM-position file scans: `FROM '<path>.parquet'` and
    // read_parquet('<path>') — no prior registration; the schema comes
    // from the parquet footer at analysis, the scan is a native
    // datasource scan (pushdown + pruning), and file scans compose with
    // catalog machinery (joins, aggregates). The oracle reads the SAME
    // files through the registered views — identical rows either way.
    "q_dialect_read_files" -> QueryDef(
      (s, d) => run(db(s, d),
        s"SELECT c_mktsegment, count(*) AS n, " +
          "count(DISTINCT o.o_custkey) AS nc, " +
          "max(o.o_totalprice) AS top_price " +
          s"FROM '$d/orders.parquet' o " +
          s"JOIN read_parquet('$d/customer.parquet') c " +
          "ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > 100000 " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*)::BIGINT AS n,
             |  count(DISTINCT o.o_custkey)::BIGINT AS nc,
             |  max(o.o_totalprice) AS top_price
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |WHERE o.o_totalprice > 100000
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // GROUP BY / ORDER BY ordinals: bare integer keys resolve to
    // SELECT-list positions (incl. an aggregate item in ORDER BY 3).
    "q_dialect_ordinals" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
          "round(sum(o_totalprice), 2) AS tot FROM orders " +
          "GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2"),
      Some("""SELECT o_orderstatus, o_orderpriority, cast(count(*) AS bigint) AS n,
             |  round(sum(o_totalprice), 2) AS tot FROM orders
             |GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2""".stripMargin)),

    // '||' string concatenation: desugars at parse onto concat()
    // (NULL-propagating on both engines, unlike DuckDB's concat()
    // function which skips NULLs); numeric operands cast implicitly.
    "q_dialect_concat" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, c_name || '/' || c_mktsegment AS tag, " +
          "'c' || c_custkey AS ck FROM customer " +
          "WHERE c_custkey < 50 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name || '/' || c_mktsegment AS tag,
             |  'c' || c_custkey AS ck FROM customer
             |WHERE c_custkey < 50 ORDER BY c_custkey""".stripMargin)),

    // TPC-H Q5 shape: local-supplier volume — a 6-way comma join
    // (DPccp-ordered; region/nation broadcast), c↔s nation colocation
    // predicate, date window pushed to the orders scan.
    "q_dialect_tpch_q5" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders", "lineitem", "supplier",
        "nation", "region"),
        "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
          "FROM customer c, orders o, lineitem l, supplier s, nation n, region r " +
          "WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey " +
          "AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey " +
          "AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey " +
          "AND r.r_name = 'ASIA' AND o.o_orderdate >= DATE '1996-01-01' " +
          "AND o.o_orderdate < DATE '1997-01-01' " +
          "GROUP BY n_name ORDER BY revenue DESC, n_name"),
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer c, orders o, lineitem l, supplier s, nation n, region r
             |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
             |AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
             |AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
             |AND r.r_name = 'ASIA' AND o.o_orderdate >= DATE '1996-01-01'
             |AND o.o_orderdate < DATE '1997-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q7 shape: volume shipping between two nations — the same
    // table under two aliases (nation n1/n2), an OR of alias-pair
    // conjunctions, and an expression group key (year of shipdate).
    "q_dialect_tpch_q7" -> QueryDef(
      (s, d) => run(db(s, d, "supplier", "lineitem", "orders", "customer",
        "nation"),
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
          "year(l.l_shipdate) AS l_year, " +
          "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue " +
          "FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2 " +
          "WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey " +
          "AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey " +
          "AND c.c_nationkey = n2.n_nationkey " +
          "AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8') " +
          "OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')) " +
          "AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate <= DATE '1997-12-31' " +
          "GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate) " +
          "ORDER BY supp_nation, cust_nation, l_year"),
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  cast(year(l.l_shipdate) AS int) AS l_year,
             |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
             |FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
             |WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
             |AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
             |AND c.c_nationkey = n2.n_nationkey
             |AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
             |  OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
             |AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate <= DATE '1997-12-31'
             |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q8 shape: national market share — an 8-way join inside a
    // derived table (the largest DPccp instance in the gate), then a
    // conditional-aggregate ratio per order year.
    "q_dialect_tpch_q8" -> QueryDef(
      (s, d) => run(db(s, d, "part", "supplier", "lineitem", "orders",
        "customer", "nation", "region"),
        "SELECT o_year, round(sum(CASE WHEN nation = 'NATION_5' THEN volume " +
          "ELSE 0.0 END) / sum(volume), 4) AS mkt_share FROM " +
          "(SELECT year(o.o_orderdate) AS o_year, " +
          "l.l_extendedprice * (1 - l.l_discount) AS volume, n2.n_name AS nation " +
          "FROM part p, supplier s, lineitem l, orders o, customer c, " +
          "nation n1, nation n2, region r " +
          "WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey " +
          "AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey " +
          "AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey " +
          "AND r.r_name = 'EUROPE' AND s.s_nationkey = n2.n_nationkey " +
          "AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate <= DATE '1997-12-31' " +
          "AND p.p_type = 'ECONOMY') t " +
          "GROUP BY o_year ORDER BY o_year"),
      Some("""SELECT o_year, round(sum(CASE WHEN nation = 'NATION_5' THEN volume
             |  ELSE 0.0 END) / sum(volume), 4) AS mkt_share FROM
             |  (SELECT cast(year(o.o_orderdate) AS int) AS o_year,
             |   l.l_extendedprice * (1 - l.l_discount) AS volume, n2.n_name AS nation
             |   FROM part p, supplier s, lineitem l, orders o, customer c,
             |     nation n1, nation n2, region r
             |   WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
             |   AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
             |   AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
             |   AND r.r_name = 'EUROPE' AND s.s_nationkey = n2.n_nationkey
             |   AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate <= DATE '1997-12-31'
             |   AND p.p_type = 'ECONOMY') t
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q12 shape (adapted: the fixture has no l_shipmode/commitdate/
    // receiptdate, so "late" = shipped >60 days after order): priority
    // split via conditional aggregation, interval arithmetic on a column.
    "q_dialect_tpch_q12" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "lineitem"),
        "SELECT l.l_linestatus, " +
          "sum(CASE WHEN o.o_orderpriority = '1-URGENT' OR o.o_orderpriority = '2-HIGH' " +
          "THEN 1 ELSE 0 END) AS high_line_count, " +
          "sum(CASE WHEN o.o_orderpriority <> '1-URGENT' AND o.o_orderpriority <> '2-HIGH' " +
          "THEN 1 ELSE 0 END) AS low_line_count " +
          "FROM orders o, lineitem l WHERE o.o_orderkey = l.l_orderkey " +
          "AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY " +
          "AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01' " +
          "GROUP BY l.l_linestatus ORDER BY l.l_linestatus"),
      Some("""SELECT l.l_linestatus,
             |  cast(sum(CASE WHEN o.o_orderpriority = '1-URGENT' OR o.o_orderpriority = '2-HIGH'
             |    THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
             |  cast(sum(CASE WHEN o.o_orderpriority <> '1-URGENT' AND o.o_orderpriority <> '2-HIGH'
             |    THEN 1 ELSE 0 END) AS bigint) AS low_line_count
             |FROM orders o, lineitem l WHERE o.o_orderkey = l.l_orderkey
             |AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
             |AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
             |GROUP BY l.l_linestatus ORDER BY l.l_linestatus""".stripMargin)),

    // TPC-H Q15 shape: top supplier — a stored view used twice (joined
    // and max-aggregated under a scalar subquery); the view body (one
    // grouped aggregate) lowers once per reference.
    "q_dialect_tpch_q15" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "lineitem", "supplier")
        if (g.query("SELECT total_revenue FROM revenue_v LIMIT 1").isLeft)
          g.query("CREATE VIEW revenue_v AS SELECT l_suppkey AS supplier_no, " +
            "sum(l_extendedprice * (1 - l_discount)) AS total_revenue " +
            "FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' " +
            "AND l_shipdate < DATE '1996-04-01' GROUP BY l_suppkey")
            .left.foreach(e => sys.error(e.msg))
        run(g, "SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 2) AS total_revenue " +
          "FROM supplier s, revenue_v r WHERE s.s_suppkey = r.supplier_no " +
          "AND r.total_revenue = (SELECT max(total_revenue) FROM revenue_v) " +
          "ORDER BY s.s_suppkey")
      },
      Some("""WITH revenue_v AS (SELECT l_suppkey AS supplier_no,
             |    sum(l_extendedprice * (1 - l_discount)) AS total_revenue
             |  FROM lineitem WHERE l_shipdate >= DATE '1996-01-01'
             |  AND l_shipdate < DATE '1996-04-01' GROUP BY l_suppkey)
             |SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 2) AS total_revenue
             |FROM supplier s, revenue_v r WHERE s.s_suppkey = r.supplier_no
             |AND r.total_revenue = (SELECT max(total_revenue) FROM revenue_v)
             |ORDER BY s.s_suppkey""".stripMargin)),

    // TPC-H Q17 shape: small-quantity-order revenue — a correlated scalar
    // AVG with an expression around the aggregate, correlated on the
    // PART side of the join; decorrelates to one per-partkey aggregate.
    "q_dialect_tpch_q17" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part"),
        "SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly " +
          "FROM lineitem l, part p WHERE p.p_partkey = l.l_partkey " +
          "AND p.p_brand = 'Brand#23' AND p.p_size < 15 " +
          "AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) AS threshold " +
          "FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)"),
      Some("""SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
             |FROM lineitem l, part p WHERE p.p_partkey = l.l_partkey
             |AND p.p_brand = 'Brand#23' AND p.p_size < 15
             |AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
             |  FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin)),

    // TPC-H Q18 shape: large-volume customers — IN over an aggregated
    // HAVING subquery (semi join on l_orderkey), then a 3-way join
    // re-aggregated per order, top-100.
    "q_dialect_tpch_q18" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders", "lineitem"),
        "SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, " +
          "round(o.o_totalprice, 2) AS o_totalprice, sum(l.l_quantity) AS total_qty " +
          "FROM customer c, orders o, lineitem l " +
          "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem " +
          "GROUP BY l_orderkey HAVING sum(l_quantity) > 250) " +
          "AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey " +
          "GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice " +
          "ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100"),
      Some("""SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             |  round(o.o_totalprice, 2) AS o_totalprice, sum(l.l_quantity) AS total_qty
             |FROM customer c, orders o, lineitem l
             |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
             |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
             |AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
             |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
             |ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin)),

    // TPC-H Q19 shape (adapted to the fixture's columns): the join
    // predicate lives INSIDE an OR of conjunct groups — Catalyst's
    // common-factor extraction must recover p_partkey = l_partkey so the
    // plan is a hash join, not a cartesian filter.
    "q_dialect_tpch_q19" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part"),
        "SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue " +
          "FROM lineitem l, part p WHERE " +
          "(p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12' " +
          "AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5) " +
          "OR (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23' " +
          "AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10) " +
          "OR (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#34' " +
          "AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)"),
      Some("""SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
             |FROM lineitem l, part p WHERE
             |(p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12'
             |  AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
             |OR (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
             |  AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
             |OR (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#34'
             |  AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)""".stripMargin)),

    // TPC-H Q21 shape (adapted: "late" = returnflag R): suppliers alone
    // at fault on a multi-supplier order — EXISTS and NOT EXISTS over the
    // same lineitem with an ANTI-equi correlated conjunct
    // (l2.l_suppkey <> l1.l_suppkey) riding the l_orderkey equi key.
    "q_dialect_tpch_q21" -> QueryDef(
      (s, d) => run(db(s, d, "supplier", "lineitem", "orders", "nation"),
        "SELECT s.s_name, count(*) AS numwait " +
          "FROM supplier s, lineitem l1, orders o, nation n " +
          "WHERE s.s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey " +
          "AND o.o_orderstatus = 'F' AND l1.l_returnflag = 'R' " +
          "AND EXISTS (SELECT l2.l_orderkey FROM lineitem l2 " +
          "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
          "AND NOT EXISTS (SELECT l3.l_orderkey FROM lineitem l3 " +
          "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
          "AND l3.l_returnflag = 'R') " +
          "AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_4' " +
          "GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 100"),
      Some("""SELECT s.s_name, cast(count(*) AS bigint) AS numwait
             |FROM supplier s, lineitem l1, orders o, nation n
             |WHERE s.s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
             |AND o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
             |AND EXISTS (SELECT l2.l_orderkey FROM lineitem l2
             |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT l3.l_orderkey FROM lineitem l3
             |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |  AND l3.l_returnflag = 'R')
             |AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_4'
             |GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 100""".stripMargin)),

    // TPC-H Q22 shape (adapted: country code = last-2 name digits, the
    // fixture has no c_phone): an IN-list over a computed substring, an
    // uncorrelated scalar AVG with its own filter, and NOT EXISTS —
    // all inside a derived table, re-aggregated per code.
    "q_dialect_tpch_q22" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal " +
          "FROM (SELECT substr(c.c_name, 17, 2) AS cntrycode, c.c_acctbal " +
          "FROM customer c WHERE substr(c.c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17') " +
          "AND c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2 " +
          "WHERE c2.c_acctbal > 0.0 " +
          "AND substr(c2.c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')) " +
          "AND NOT EXISTS (SELECT o.o_orderkey FROM orders o " +
          "WHERE o.o_custkey = c.c_custkey " +
          "AND o.o_orderdate >= DATE '2000-01-01')) t " +
          "GROUP BY cntrycode ORDER BY cntrycode"),
      Some("""SELECT cntrycode, cast(count(*) AS bigint) AS numcust,
             |  round(sum(c_acctbal), 2) AS totacctbal
             |FROM (SELECT substr(c.c_name, 17, 2) AS cntrycode, c.c_acctbal
             |  FROM customer c WHERE substr(c.c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')
             |  AND c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
             |    WHERE c2.c_acctbal > 0.0
             |    AND substr(c2.c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
             |  AND NOT EXISTS (SELECT o.o_orderkey FROM orders o
             |    WHERE o.o_custkey = c.c_custkey
             |    AND o.o_orderdate >= DATE '2000-01-01')) t
             |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),

    // TPC-H Q2 shape (the fixture has no partsupp, so the part-supplier
    // bridge is distilled FROM lineitem as a CTE: min extendedprice per
    // (partkey, suppkey) stands in for ps_supplycost). The CTE is
    // referenced TWICE — once in the outer 5-way join and once inside the
    // correlated min-cost scalar subquery — so CTE memoization pays; the
    // subquery decorrelates to one per-partkey min aggregate.
    "q_dialect_tpch_q2" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part", "supplier", "nation", "region"),
        "WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
          "min(l_extendedprice) AS ps_supplycost FROM lineitem GROUP BY l_partkey, l_suppkey) " +
          "SELECT round(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type " +
          "FROM part p, ps, supplier s, nation n, region r " +
          "WHERE p.p_partkey = ps.ps_partkey AND s.s_suppkey = ps.ps_suppkey " +
          "AND p.p_size < 10 AND p.p_type = 'LARGE' " +
          "AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE' " +
          "AND ps.ps_supplycost = (SELECT min(ps2.ps_supplycost) " +
          "FROM ps ps2, supplier s2, nation n2, region r2 " +
          "WHERE p.p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey " +
          "AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey " +
          "AND r2.r_name = 'EUROPE') " +
          "ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey LIMIT 100"),
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             |  min(l_extendedprice) AS ps_supplycost FROM lineitem GROUP BY l_partkey, l_suppkey)
             |SELECT round(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type
             |FROM part p, ps, supplier s, nation n, region r
             |WHERE p.p_partkey = ps.ps_partkey AND s.s_suppkey = ps.ps_suppkey
             |AND p.p_size < 10 AND p.p_type = 'LARGE'
             |AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
             |AND ps.ps_supplycost = (SELECT min(ps2.ps_supplycost)
             |  FROM ps ps2, supplier s2, nation n2, region r2
             |  WHERE p.p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
             |  AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
             |  AND r2.r_name = 'EUROPE')
             |ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey LIMIT 100""".stripMargin)),

    // TPC-H Q9 shape (product-type profit; 0.4*l_quantity stands in for
    // the missing ps_supplycost term): a 5-way join filtered by a
    // substring LIKE on part names, re-aggregated per (nation, year) from
    // a derived table — year() as a derived-table projection column.
    "q_dialect_tpch_q9" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part", "supplier", "nation", "orders"),
        "SELECT nation, o_year, round(sum(amount), 2) AS sum_profit FROM (" +
          "SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year, " +
          "l.l_extendedprice * (1 - l.l_discount) - 0.4 * l.l_quantity AS amount " +
          "FROM part p, supplier s, lineitem l, orders o, nation n " +
          "WHERE s.s_suppkey = l.l_suppkey AND p.p_partkey = l.l_partkey " +
          "AND o.o_orderkey = l.l_orderkey AND s.s_nationkey = n.n_nationkey " +
          "AND p.p_name LIKE '%gear%') profit " +
          "GROUP BY nation, o_year ORDER BY nation, o_year DESC"),
      Some("""SELECT nation, cast(o_year AS int) AS o_year, round(sum(amount), 2) AS sum_profit FROM (
             |  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             |  l.l_extendedprice * (1 - l.l_discount) - 0.4 * l.l_quantity AS amount
             |  FROM part p, supplier s, lineitem l, orders o, nation n
             |  WHERE s.s_suppkey = l.l_suppkey AND p.p_partkey = l.l_partkey
             |  AND o.o_orderkey = l.l_orderkey AND s.s_nationkey = n.n_nationkey
             |  AND p.p_name LIKE '%gear%') profit
             |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q11 shape (important-stock identification; lineitem value per
    // part stands in for partsupp value): an uncorrelated scalar subquery
    // in HAVING whose body repeats the outer 3-way join — the grand-total
    // threshold computes once and broadcasts against the grouped output.
    "q_dialect_tpch_q11" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "supplier", "nation"),
        "SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS val " +
          "FROM lineitem, supplier, nation " +
          "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3' " +
          "GROUP BY l_partkey " +
          "HAVING sum(l_extendedprice * l_quantity) > (" +
          "SELECT sum(l_extendedprice * l_quantity) * 0.001 AS threshold " +
          "FROM lineitem, supplier, nation " +
          "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3') " +
          "ORDER BY val DESC, l_partkey"),
      Some("""SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS val
             |FROM lineitem, supplier, nation
             |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
             |GROUP BY l_partkey
             |HAVING sum(l_extendedprice * l_quantity) > (
             |  SELECT sum(l_extendedprice * l_quantity) * 0.001
             |  FROM lineitem, supplier, nation
             |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3')
             |ORDER BY val DESC, l_partkey""".stripMargin)),

    // TPC-H Q16 shape (parts/supplier relationship via lineitem): NOT IN
    // over an uncorrelated subquery (null-aware anti join), NOT LIKE, an
    // IN value list, and count(DISTINCT) re-aggregated per part attribute
    // triple.
    "q_dialect_tpch_q16" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part", "supplier"),
        "SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt " +
          "FROM lineitem, part " +
          "WHERE p_partkey = l_partkey AND p_brand <> 'Brand#45' " +
          "AND p_type NOT LIKE 'MEDIUM%' AND p_size IN (1, 4, 7, 9, 14, 19, 23, 36) " +
          "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
          "GROUP BY p_brand, p_type, p_size " +
          "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
      Some("""SELECT p_brand, p_type, p_size, cast(count(DISTINCT l_suppkey) AS bigint) AS supplier_cnt
             |FROM lineitem, part
             |WHERE p_partkey = l_partkey AND p_brand <> 'Brand#45'
             |AND p_type NOT LIKE 'MEDIUM%' AND p_size IN (1, 4, 7, 9, 14, 19, 23, 36)
             |AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q20 shape (potential part promotion): an IN subquery over a
    // CTE whose body nests BOTH another IN subquery and a correlated
    // scalar aggregate keyed on the CTE's own columns — the half-shipped
    // threshold decorrelates to a per-(partkey, suppkey) aggregate joined
    // back inside the semi-join branch.
    "q_dialect_tpch_q20" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem", "part", "supplier", "nation"),
        "WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
          "sum(l_quantity) AS ps_availqty FROM lineitem GROUP BY l_partkey, l_suppkey) " +
          "SELECT s_name, round(s_acctbal, 2) AS s_acctbal " +
          "FROM supplier, nation " +
          "WHERE s_suppkey IN (" +
          "SELECT ps_suppkey FROM ps " +
          "WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') " +
          "AND ps_availqty > (SELECT 0.5 * sum(l_quantity) AS half_shipped FROM lineitem " +
          "WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey " +
          "AND l_shipdate >= DATE '1997-01-01')) " +
          "AND s_nationkey = n_nationkey AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3') " +
          "ORDER BY s_name"),
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             |  sum(l_quantity) AS ps_availqty FROM lineitem GROUP BY l_partkey, l_suppkey)
             |SELECT s_name, round(s_acctbal, 2) AS s_acctbal
             |FROM supplier, nation
             |WHERE s_suppkey IN (
             |  SELECT ps_suppkey FROM ps
             |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
             |  AND ps_availqty > (SELECT 0.5 * sum(l_quantity) FROM lineitem
             |    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
             |    AND l_shipdate >= DATE '1997-01-01'))
             |AND s_nationkey = n_nationkey AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
             |ORDER BY s_name""".stripMargin)),

    // Standard-SQL syntax sugar in one shape: postfix :: casts (chained),
    // EXTRACT(unit FROM ts), SUBSTRING(x FROM i [FOR n]),
    // TRIM(chars FROM x) / TRIM(LEADING|TRAILING ...), POSITION(a IN b).
    // All desugar at parse time onto the existing function algebra, so
    // they cost nothing at plan level.
    "q_dialect_std_syntax" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_custkey, o_orderkey, " +
          "substring(c_name FROM 10 FOR 6) AS sub6, " +
          "substring(c_name FROM 12) AS tail7, " +
          "position('#' IN c_name) AS hashpos, " +
          "trim('Cu' FROM substring(c_name FROM 1 FOR 8)) AS ctrim, " +
          "trim(TRAILING '0123456789' FROM c_name) AS notail, " +
          "c_custkey::varchar AS keystr, " +
          "(c_custkey + 1)::bigint::double AS keydd, " +
          "extract(year FROM o_orderdate) AS oy, " +
          "extract(month FROM o_orderdate) AS om " +
          "FROM customer c, orders o " +
          "WHERE c.c_custkey = o.o_custkey AND c_custkey < 150 " +
          "ORDER BY c_custkey, o_orderkey"),
      Some("""SELECT c_custkey, o_orderkey,
             |  substring(c_name FROM 10 FOR 6) AS sub6,
             |  substring(c_name FROM 12) AS tail7,
             |  cast(position('#' IN c_name) AS int) AS hashpos,
             |  trim('Cu' FROM substring(c_name FROM 1 FOR 8)) AS ctrim,
             |  trim(TRAILING '0123456789' FROM c_name) AS notail,
             |  c_custkey::varchar AS keystr,
             |  (c_custkey + 1)::bigint::double AS keydd,
             |  cast(extract(year FROM o_orderdate) AS int) AS oy,
             |  cast(extract(month FROM o_orderdate) AS int) AS om
             |FROM customer c, orders o
             |WHERE c.c_custkey = o.o_custkey AND c_custkey < 150
             |ORDER BY c_custkey, o_orderkey""".stripMargin)),

    // Row-value membership — the group-wise-max shape: each customer's
    // most expensive order via (key, val) IN (SELECT key, max(val) …).
    // Lowers to ONE left-semi join on both component equalities. DuckDB
    // 1.0's binder rejects row-value IN, so the oracle states the
    // equivalent join against the grouped frame — two formulations that
    // must agree.
    "q_dialect_row_in" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price " +
          "FROM orders WHERE (o_custkey, o_totalprice) IN " +
          "(SELECT o_custkey, max(o_totalprice) AS mt FROM orders GROUP BY o_custkey) " +
          "ORDER BY o_custkey, o_orderkey"),
      Some("""SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
             |FROM orders o JOIN (SELECT o_custkey, max(o_totalprice) AS mt
             |  FROM orders GROUP BY o_custkey) m
             |ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.mt
             |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin)),

    // JOIN ... USING: merged join columns appear ONCE under *, the bare
    // name resolves to the left survivor, and chained USING on the same
    // name stays unambiguous. LEFT JOIN USING null-extends the right
    // side. (Fixture columns are prefix-named, so the USING surface
    // shows up over renamed derived tables — exactly how users hit it.)
    "q_dialect_join_using" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "nation", "orders"),
        "SELECT * FROM " +
          "(SELECT c_custkey AS custkey, c_nationkey AS nationkey, c_acctbal FROM customer) c " +
          "JOIN (SELECT n_nationkey AS nationkey, n_name FROM nation) n USING (nationkey) " +
          "LEFT JOIN (SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS total " +
          "FROM orders GROUP BY o_custkey) o USING (custkey) " +
          "WHERE c_acctbal > 9500 AND nationkey >= 0 " +
          "ORDER BY custkey"),
      Some("""SELECT * FROM
             |  (SELECT c_custkey AS custkey, c_nationkey AS nationkey, c_acctbal FROM customer) c
             |  JOIN (SELECT n_nationkey AS nationkey, n_name FROM nation) n USING (nationkey)
             |  LEFT JOIN (SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS total
             |    FROM orders GROUP BY o_custkey) o USING (custkey)
             |WHERE c_acctbal > 9500 AND nationkey >= 0
             |ORDER BY custkey""".stripMargin)),

    // NATURAL JOIN — USING over every common column, derived from the
    // schemas.
    "q_dialect_natural_join" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT custkey, count(*) AS n FROM " +
          "(SELECT c_custkey AS custkey, c_mktsegment AS seg FROM customer) c " +
          "NATURAL JOIN (SELECT o_custkey AS custkey, o_orderstatus FROM orders) o " +
          "WHERE seg = 'BUILDING' GROUP BY custkey ORDER BY custkey"),
      Some("""SELECT custkey, cast(count(*) AS bigint) AS n FROM
             |  (SELECT c_custkey AS custkey, c_mktsegment AS seg FROM customer) c
             |  NATURAL JOIN (SELECT o_custkey AS custkey, o_orderstatus FROM orders) o
             |WHERE seg = 'BUILDING' GROUP BY custkey ORDER BY custkey""".stripMargin)),

    // SEMI JOIN (DuckDB's binary form): keep customers with at least one
    // qualifying order; the right side's columns exist only in the ON —
    // lowered as one left-semi hash join (no row duplication, no
    // projection of the probe side, shuffle on the key only).
    "q_dialect_semi_join" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "orders"),
        "SELECT c_custkey, c_name FROM customer c " +
          "SEMI JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000 " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |SEMI JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
             |ORDER BY c_custkey""".stripMargin)),

    // ANTI JOIN: nations with no near-max-balance customer — one
    // left-anti hash join.
    "q_dialect_anti_join" -> QueryDef(
      (s, d) => run(db(s, d, "nation", "customer"),
        "SELECT n_nationkey, n_name FROM nation n " +
          "ANTI JOIN customer c ON n.n_nationkey = c.c_nationkey AND c.c_acctbal > 9900 " +
          "ORDER BY n_nationkey"),
      Some("""SELECT n_nationkey, n_name FROM nation n
             |ANTI JOIN customer c ON n.n_nationkey = c.c_nationkey AND c.c_acctbal > 9900
             |ORDER BY n_nationkey""".stripMargin)),

    // ASOF JOIN (DuckDB's nearest-match join): each purchase pairs with
    // the same user's most recent earlier click. Equality keys hash-
    // partition the join; the per-left-row nearest pick is one
    // row_number window. Oracled against DuckDB's native ASOF JOIN
    // (deterministic: the fixture has no duplicate (user_id, ts) click).
    "q_dialect_asof_join" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT a.event_id, b.ts AS prev_click_ts " +
          "FROM (SELECT * FROM events WHERE event_type = 'purchase') a " +
          "ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b " +
          "ON a.user_id = b.user_id AND a.ts >= b.ts " +
          "ORDER BY a.event_id"),
      Some("""SELECT a.event_id, b.ts AS prev_click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
             |  ON a.user_id = b.user_id AND a.ts >= b.ts
             |ORDER BY a.event_id""".stripMargin)),

    // ASOF LEFT JOIN: purchases with no earlier click survive
    // null-extended; the inequality may also face the other way
    // (earliest LATER error event per purchase).
    "q_dialect_asof_left" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT a.event_id, b.ts AS next_error_ts " +
          "FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id <= 200) a " +
          "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b " +
          "ON a.user_id = b.user_id AND a.ts < b.ts " +
          "ORDER BY a.event_id"),
      Some("""SELECT a.event_id, b.ts AS next_error_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id <= 200) a
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
             |  ON a.user_id = b.user_id AND a.ts < b.ts
             |ORDER BY a.event_id""".stripMargin)),

    // RIGHT/FULL JOIN USING: the merged column is COALESCE(left, right)
    // — either side can null-extend — surfacing once under *, readable
    // by its bare name in WHERE/GROUP BY, while qualified refs still
    // address each side.
    "q_dialect_full_using" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT * FROM " +
          "(SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS total " +
          "FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 1400000) o " +
          "FULL JOIN (SELECT c_custkey AS custkey, c_acctbal FROM customer " +
          "WHERE c_acctbal > 9980) c USING (custkey) " +
          "ORDER BY custkey"),
      Some("""SELECT * FROM
             |  (SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS total
             |     FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 1400000) o
             |  FULL JOIN (SELECT c_custkey AS custkey, c_acctbal FROM customer
             |     WHERE c_acctbal > 9980) c USING (custkey)
             |ORDER BY custkey""".stripMargin)),

    "q_dialect_right_using" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT custkey, count(*) AS n FROM " +
          "(SELECT o_custkey AS custkey FROM orders) o " +
          "RIGHT JOIN (SELECT c_custkey AS custkey FROM customer WHERE c_custkey < 300) c " +
          "USING (custkey) GROUP BY custkey ORDER BY custkey"),
      Some("""SELECT custkey, cast(count(*) AS bigint) AS n FROM
             |  (SELECT o_custkey AS custkey FROM orders) o
             |  RIGHT JOIN (SELECT c_custkey AS custkey FROM customer WHERE c_custkey < 300) c
             |  USING (custkey) GROUP BY custkey ORDER BY custkey""".stripMargin)),

    // TRIM with a NON-literal trim-set (an expression / column): the
    // functions API only takes literal trim sets, so these build the
    // Catalyst StringTrim* nodes directly (graft.functions.TrimExprs).
    "q_dialect_trim_expr" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, trim(c_name, substr(c_name, 1, 1)) AS t1, " +
          "ltrim(c_name, 'Cust' || 'omer#0') AS t2, " +
          "rtrim(c_name, substr(c_name, length(c_name), 1)) AS t3, " +
          "trim(BOTH substr(c_name, 1, 1) FROM c_name) AS t4 " +
          "FROM customer WHERE c_custkey < 500 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, trim(c_name, substr(c_name, 1, 1)) AS t1,
             |  ltrim(c_name, 'Cust' || 'omer#0') AS t2,
             |  rtrim(c_name, substr(c_name, length(c_name), 1)) AS t3,
             |  trim(BOTH substr(c_name, 1, 1) FROM c_name) AS t4
             |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin)),

    // unnest + string_split: word frequency as pure dialect SQL — the
    // explode is Spark's Generate (codegen'd), the count one hash
    // aggregate; at 100 TB this is the canonical token-count shape
    // (narrow generate → partial agg → one shuffle on the word).
    "q_dialect_words" -> QueryDef(
      (s, d) => run(db(s, d, "documents"),
        "SELECT w, count(*) AS n FROM " +
          "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t " +
          "GROUP BY w HAVING count(*) >= 500 ORDER BY n DESC, w LIMIT 100"),
      Some("""SELECT w, cast(count(*) AS bigint) AS n FROM
             |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
             |GROUP BY w HAVING count(*) >= 500 ORDER BY n DESC, w LIMIT 100""".stripMargin)),

    // list literals, subscripts (1-based / negative-from-end), len,
    // list_contains over a split column
    "q_dialect_list_funcs" -> QueryDef(
      (s, d) => run(db(s, d, "documents"),
        "SELECT doc_id, len(string_split(text, ' ')) AS nw, " +
          "string_split(text, ' ')[1] AS first_w, " +
          "string_split(text, ' ')[-1] AS last_w, " +
          "list_contains(['en', 'de'], lang) AS western, " +
          "list_sort([n_chars % 7, n_chars % 3, 5])[1] AS mn " +
          "FROM documents WHERE doc_id < 500 ORDER BY doc_id"),
      Some("""SELECT doc_id, cast(len(string_split(text, ' ')) AS int) AS nw,
             |  string_split(text, ' ')[1] AS first_w,
             |  string_split(text, ' ')[-1] AS last_w,
             |  list_contains(['en', 'de'], lang) AS western,
             |  list_sort([n_chars % 7, n_chars % 3, 5])[1] AS mn
             |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin)),

    // Math batch 5: trig/atan2/degrees/cbrt/log-base/bit_count — libm
    // last-ulp differences between the engines are absorbed by the
    // query-side round() contract (FIXTURES.md).
    "q_dialect_math5" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "round(sin(o_totalprice / 100000), 8) AS sn, " +
          "round(cos(o_totalprice / 100000), 8) AS cs, " +
          "round(atan2(o_totalprice, 100000.0), 8) AS at, " +
          "round(degrees(o_totalprice / 100000), 4) AS dg, " +
          "round(radians(o_totalprice / 10000), 6) AS rd, " +
          "round(cbrt(o_totalprice), 6) AS cb, " +
          "round(log(2.0, o_totalprice), 6) AS lg, " +
          "bit_count(o_orderkey) AS bc, " +
          "isfinite(o_totalprice) AS fin " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  round(sin(o_totalprice / 100000), 8) AS sn,
             |  round(cos(o_totalprice / 100000), 8) AS cs,
             |  round(atan2(o_totalprice, 100000.0), 8) AS at,
             |  round(degrees(o_totalprice / 100000), 4) AS dg,
             |  round(radians(o_totalprice / 10000), 6) AS rd,
             |  round(cbrt(o_totalprice), 6) AS cb,
             |  round(log(2.0, o_totalprice), 6) AS lg,
             |  cast(bit_count(o_orderkey) AS int) AS bc,
             |  isfinite(o_totalprice) AS fin
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // String/format batch 5: starts_with/ends_with/contains, C-style
    // printf, strftime (literal C format mapped token-by-token onto the
    // Java pattern) and TRY_CAST (NULL on failed conversion).
    "q_dialect_funcs5" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "starts_with(o_orderstatus, 'O') AS so, " +
          "ends_with(o_orderpriority, 'URGENT') AS eu, " +
          "contains(o_orderpriority, '-') AS cd, " +
          "printf('%s|%05d', o_orderstatus, o_orderkey % 10000) AS tag, " +
          "strftime(o_orderdate, '%Y/%m/%d') AS od, " +
          "try_cast(substr(o_orderpriority, 1, 1) AS INT) AS pri, " +
          "try_cast(o_orderstatus AS INT) AS bad " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  starts_with(o_orderstatus, 'O') AS so,
             |  ends_with(o_orderpriority, 'URGENT') AS eu,
             |  contains(o_orderpriority, '-') AS cd,
             |  printf('%s|%05d', o_orderstatus, o_orderkey % 10000) AS tag,
             |  strftime(o_orderdate, '%Y/%m/%d') AS od,
             |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri,
             |  TRY_CAST(o_orderstatus AS INT) AS bad
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Batch 6: strptime/strftime round trip (epoch_ms pins the parsed
    // instant engine-independently), regexp_matches, to_timestamp
    // (epoch seconds), and list_min/list_max/list_sum (NULL-skipping,
    // empty reads NULL).
    "q_dialect_funcs6" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "epoch_ms(strptime(strftime(o_orderdate, '%Y/%m/%d'), '%Y/%m/%d')) AS rt, " +
          "regexp_matches(o_orderpriority, '^[12]-') AS hot, " +
          "list_min([o_orderkey % 7, o_orderkey % 5, 3]) AS mn, " +
          "list_max([o_orderkey % 7, o_orderkey % 5, 3]) AS mx, " +
          "list_sum([o_orderkey % 7, o_orderkey % 5, 3]) AS sm, " +
          "epoch_ms(to_timestamp(o_orderkey)) AS tt " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  epoch_ms(strptime(strftime(o_orderdate, '%Y/%m/%d'), '%Y/%m/%d')) AS rt,
             |  regexp_matches(o_orderpriority, '^[12]-') AS hot,
             |  list_min([o_orderkey % 7, o_orderkey % 5, 3]) AS mn,
             |  list_max([o_orderkey % 7, o_orderkey % 5, 3]) AS mx,
             |  cast(list_sum([o_orderkey % 7, o_orderkey % 5, 3]) AS bigint) AS sm,
             |  epoch_ms(to_timestamp(o_orderkey)) AS tt
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Batch 7: gcd/lcm — Spark has no builtin, so these are the codegen'd
    // Catalyst Euclid expressions (functions/NumericExpressions.scala).
    // Pins sign handling (non-negative results for negative inputs) and
    // the zero identities gcd(x,0)=|x|, lcm(x,0)=0.
    "q_dialect_funcs7" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "gcd(o_orderkey, o_custkey) AS g, " +
          "lcm(o_orderkey % 12, 18) AS l, " +
          "gcd(0 - (o_orderkey % 30), 24) AS gn, " +
          "gcd(o_orderkey, 0) AS gz, " +
          "lcm(o_orderkey % 7, 0) AS lz " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  gcd(o_orderkey, o_custkey) AS g,
             |  lcm(o_orderkey % 12, 18) AS l,
             |  gcd(0 - (o_orderkey % 30), 24) AS gn,
             |  gcd(o_orderkey, 0) AS gz,
             |  lcm(o_orderkey % 7, 0) AS lz
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // List batch 2: reverse/flatten/unique/append/prepend/intersect/
    // has_any/has_all onto Spark's codegen'd array natives (top-level
    // array outputs serialized for the pandas gate harness; DuckDB's
    // unspecified list_intersect order pinned by sorting on BOTH sides).
    "q_dialect_list_funcs2" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(list_reverse([o_orderkey % 5, 2, o_orderkey % 3]), ',') AS lr, " +
          "array_to_string(flatten([[o_orderkey % 5], [7, o_orderkey % 2]]), ',') AS fl, " +
          "list_unique([o_orderkey % 4, o_orderkey % 2, 2]) AS lu, " +
          "array_to_string(list_append([1, o_orderkey % 3], 9), ',') AS la, " +
          "array_to_string(list_prepend(0, [o_orderkey % 3, 5]), ',') AS lp, " +
          "array_to_string(list_intersect([o_orderkey % 7, 2, 4], [2, 4, 6]), ',') AS li, " +
          "list_has_any([o_orderkey % 5], [0, 1]) AS ha, " +
          "list_has_all([1, 2, 3, o_orderkey % 4], [2, o_orderkey % 4]) AS hl " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(list_reverse([o_orderkey % 5, 2, o_orderkey % 3]), ',') AS lr,
             |  array_to_string(flatten([[o_orderkey % 5], [7, o_orderkey % 2]]), ',') AS fl,
             |  cast(list_unique([o_orderkey % 4, o_orderkey % 2, 2]) AS bigint) AS lu,
             |  array_to_string(list_append([1, o_orderkey % 3], 9), ',') AS la,
             |  array_to_string(list_prepend(0, [o_orderkey % 3, 5]), ',') AS lp,
             |  array_to_string(list_sort(list_intersect([o_orderkey % 7, 2, 4], [2, 4, 6])), ',') AS li,
             |  list_has_any([o_orderkey % 5], [0, 1]) AS ha,
             |  list_has_all([1, 2, 3, o_orderkey % 4], [2, o_orderkey % 4]) AS hl
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // String subscript/slice via the bracket postfix (1-based inclusive,
    // negatives from the end) — the VARCHAR rebind of list_extract/
    // list_slice onto substr.
    "q_dialect_str_subscript" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_orderpriority[1] AS p1, " +
          "o_orderpriority[3:8] AS mid, o_orderstatus[-1] AS st " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_orderpriority[1] AS p1,
             |  o_orderpriority[3:8] AS mid, o_orderstatus[-1] AS st
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // DECIMAL(p,s): exact fixed-point aggregation — the sum computes in
    // decimal on BOTH engines (no accumulation-order drift by
    // construction) and casts to DOUBLE only at the final projection
    // (the result schema stays pandas-harness-friendly; Python Decimal
    // cells would hash differently from DuckDB's float64 narrowing).
    "q_dialect_decimal" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, " +
          "CAST(sum(CAST(l_extendedprice AS DECIMAL(14, 2))) AS DOUBLE) AS rev, " +
          "CAST(min(CAST(l_extendedprice AS DECIMAL(14, 2))) AS DOUBLE) AS mn, " +
          "CAST(max(CAST(l_discount AS DECIMAL(5, 2))) AS DOUBLE) AS mxd " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14, 2))) AS DOUBLE) AS rev,
             |  CAST(min(CAST(l_extendedprice AS DECIMAL(14, 2))) AS DOUBLE) AS mn,
             |  CAST(max(CAST(l_discount AS DECIMAL(5, 2))) AS DOUBLE) AS mxd
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // list_zip: zip-to-longest with NULL padding (Spark's arrays_zip has
    // identical pad semantics); elements are DuckDB-1.0 UNNAMED tuple
    // structs addressed by 1-based NUMERIC struct_extract (its binder
    // rejects string keys on zip structs), lowered as ordinal
    // GetStructField. Serialized per-field for the gate (Spark's to_json
    // omits null struct fields where DuckDB keeps them — raw struct
    // outputs are spec-pinned instead, DialectSpec "list_zip").
    "q_dialect_list_zip" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(list_transform(" +
          "list_zip(string_split(o_orderpriority, '-'), [o_orderstatus], string_split(o_orderpriority, 'E')), " +
          "p -> coalesce(struct_extract(p, 1), '~') || '=' || coalesce(struct_extract(p, 2), '~') || '=' || coalesce(struct_extract(p, 3), '~')), ',') AS z " +
          "FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(list_transform(
             |    list_zip(string_split(o_orderpriority, '-'), [o_orderstatus], string_split(o_orderpriority, 'E')),
             |    p -> coalesce(struct_extract(p, 1), '~') || '=' || coalesce(struct_extract(p, 2), '~') || '=' || coalesce(struct_extract(p, 3), '~')), ',') AS z
             |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin)),

    // FROM-position unnest: `FROM unnest([…]) t(x)` desugars to a
    // derived table over the projection generator — composes with
    // comma-joins (the classic enumerate-and-cross shape).
    "q_dialect_from_unnest" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, t.x, o_orderkey * t.x AS scaled " +
          "FROM orders, unnest([1, 2, 3]) t(x) " +
          "WHERE o_orderkey < 50 ORDER BY o_orderkey, x"),
      Some("""SELECT o_orderkey, t.x, o_orderkey * t.x AS scaled
             |FROM orders, unnest([1, 2, 3]) t(x)
             |WHERE o_orderkey < 50 ORDER BY o_orderkey, x""".stripMargin)),

    // Scalar batch 11: weekday/month strftime names (%a %A %b %B + %%
    // literal — English at both engines' default locale), the epoch
    // family (epoch = fractional-seconds DOUBLE, epoch_us exact micros),
    // make_timestamp (fractional seconds), date_add (sugar for
    // + INTERVAL). IDENTICAL SQL on both engines.
    "q_dialect_funcs11" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT event_id, strftime(ts, '%a %A %b %B') AS names, " +
          "strftime(ts, '100%%') AS pct, " +
          "epoch(ts) AS ep, epoch_us(ts) AS epus, " +
          "make_timestamp(2024, 3, 5, 14, 30, 1.25) AS mts, " +
          "date_add(ts, INTERVAL 3 DAY) AS plus3 " +
          "FROM events WHERE event_id < 500 ORDER BY event_id"),
      Some("""SELECT event_id, strftime(ts, '%a %A %b %B') AS names,
             |  strftime(ts, '100%%') AS pct,
             |  epoch(ts) AS ep, epoch_us(ts) AS epus,
             |  make_timestamp(2024, 3, 5, 14, 30, 1.25) AS mts,
             |  date_add(ts, INTERVAL 3 DAY) AS plus3
             |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin)),

    // Temporal series: generate_series/range over TIMESTAMP/DATE bounds
    // with a fixed-length INTERVAL step — epoch-micros spark.range under
    // a timestamp column (lazy, parallelized; never materialized rows).
    // generate_series is end-INCLUSIVE like the integer form.
    "q_dialect_series_ts" -> QueryDef(
      (s, d) => run(db(s, d),
        "SELECT g AS ts, year(g) AS y, hour(g) AS h " +
          "FROM generate_series(TIMESTAMP '2024-03-01 00:00:00', " +
          "TIMESTAMP '2024-03-03 00:00:00', INTERVAL 7 HOUR) s(g) " +
          "ORDER BY ts"),
      Some("""SELECT g AS ts, cast(year(g) AS int) AS y,
             |  cast(hour(g) AS int) AS h
             |FROM generate_series(TIMESTAMP '2024-03-01 00:00:00',
             |  TIMESTAMP '2024-03-03 00:00:00', INTERVAL 7 HOUR) s(g)
             |ORDER BY ts""".stripMargin)),

    // LIST-of-fractions percentiles (quantile_cont/disc(x, [q…]) — one
    // sort state, a list result) and DISTINCT ordered aggregates
    // (string_agg/array_agg DISTINCT — dedup before the one sort; the
    // analyzer pins ORDER BY to the value so dedup-then-sort is
    // well-defined). IDENTICAL SQL on both engines; interpolated values
    // round away the engines' different interpolation formulas.
    "q_dialect_quantile_list" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, " +
          "array_to_string(list_transform(quantile_cont(l_quantity, " +
          "[0.25, 0.5, 0.75]), q -> round(q, 4)), ',') AS qc, " +
          "array_to_string(quantile_disc(l_quantity, [0.1, 0.9]), ',') AS qd, " +
          "string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS st, " +
          "array_to_string(array_agg(DISTINCT l_linenumber " +
          "ORDER BY l_linenumber), ',') AS lines " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      Some("""SELECT l_returnflag,
             |  array_to_string(list_transform(quantile_cont(l_quantity,
             |    [0.25, 0.5, 0.75]), q -> round(q, 4)), ',') AS qc,
             |  array_to_string(quantile_disc(l_quantity, [0.1, 0.9]), ',') AS qd,
             |  string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS st,
             |  array_to_string(array_agg(DISTINCT l_linenumber
             |    ORDER BY l_linenumber), ',') AS lines
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // MAP type surface: MAP {k: v} literals, the list-returning
    // subscript ([] when absent — DuckDB), map()/map_keys/map_values/
    // cardinality, to_json. IDENTICAL SQL on both engines; arrays
    // serialize via array_to_string (driver-harness ndarray rule).
    "q_dialect_map" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(MAP {'s': o_orderstatus, 'p': o_orderpriority}['p'], ',') AS p_val, " +
          "coalesce(array_to_string(MAP {'s': o_orderstatus}['z'], ','), '') AS missing, " +
          "cast(cardinality(MAP {'s': o_orderstatus, 'p': o_orderpriority}) AS BIGINT) AS n, " +
          "array_to_string(map_keys(MAP {'s': o_orderstatus, 'p': o_orderpriority}), ',') AS ks, " +
          "to_json(map(['k1', 'k2'], [o_orderkey, o_orderkey + 1])) AS mj " +
          "FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(MAP {'s': o_orderstatus, 'p': o_orderpriority}['p'], ',') AS p_val,
             |  coalesce(array_to_string(MAP {'s': o_orderstatus}['z'], ','), '') AS missing,
             |  cast(cardinality(MAP {'s': o_orderstatus, 'p': o_orderpriority}) AS BIGINT) AS n,
             |  array_to_string(map_keys(MAP {'s': o_orderstatus, 'p': o_orderpriority}), ',') AS ks,
             |  to_json(map(['k1', 'k2'], [o_orderkey, o_orderkey + 1])) AS mj
             |FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""".stripMargin)),

    // Scalar batch 14: calendar names, parity/sign helpers, Lanczos
    // gamma/lgamma (≈15 significant digits — far inside the 6-decimal
    // gate rounding), trunc (toward zero), round_even = banker's
    // (exact-.5 fixtures only: a .xx5 double literal is never exactly
    // representable), prefix/suffix, anchored regexp_full_match, and
    // the // (integer division), ** and ^ (power) operators.
    "q_dialect_funcs14" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "dayname(o_orderdate) AS dn, monthname(o_orderdate) AS mn, " +
          "even(o_totalprice / 1000) AS ev, even(-(o_totalprice / 1000)) AS evn, " +
          "signbit(o_totalprice - 150000) AS sb, " +
          "round(gamma((o_orderkey % 10) + 0.5), 6) AS gm, " +
          "round(lgamma(o_totalprice / 100), 4) AS lg, " +
          "trunc(o_totalprice / 1000) AS tr, trunc(-(o_totalprice / 1000)) AS trn, " +
          "round_even(o_orderkey + 0.5, 0) AS re1, round_even(o_orderkey + 2.5, 0) AS re2, " +
          "prefix(o_orderpriority, '1-') AS pf, suffix(o_orderpriority, 'URGENT') AS sf, " +
          "regexp_full_match(o_orderstatus, '[OF]') AS rfm, " +
          "o_orderkey // 7 AS idiv, (0 - o_orderkey) // 7 AS idivn, " +
          "o_custkey // 2.0 AS fdiv, " +
          "2 ** (o_orderkey % 8) AS p1, (o_orderkey % 4) ^ 2 AS p2 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  dayname(o_orderdate) AS dn, monthname(o_orderdate) AS mn,
             |  even(o_totalprice / 1000) AS ev, even(-(o_totalprice / 1000)) AS evn,
             |  signbit(o_totalprice - 150000) AS sb,
             |  round(gamma((o_orderkey % 10) + 0.5), 6) AS gm,
             |  round(lgamma(o_totalprice / 100), 4) AS lg,
             |  trunc(o_totalprice / 1000) AS tr, trunc(-(o_totalprice / 1000)) AS trn,
             |  round_even(o_orderkey + 0.5, 0) AS re1, round_even(o_orderkey + 2.5, 0) AS re2,
             |  prefix(o_orderpriority, '1-') AS pf, suffix(o_orderpriority, 'URGENT') AS sf,
             |  regexp_full_match(o_orderstatus, '[OF]') AS rfm,
             |  o_orderkey // 7 AS idiv, (0 - o_orderkey) // 7 AS idivn,
             |  o_custkey // 2.0 AS fdiv,
             |  2 ** (o_orderkey % 8) AS p1, (o_orderkey % 4) ^ 2 AS p2
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Wave 9 scalars: typeof folds to the analyzed DuckDB type name;
    // encode/decode round UTF-8 bytes; nextafter is IEEE-exact on both
    // md5_number: the FULL 128-bit HUGEINT (signed little-endian read
    // of the digest — md5_number of some inputs is negative), carried
    // as its decimal TEXT on both sides (no Spark integer type holds
    // 2^128; DECIMAL(38,0) is too narrow — round-12 verdict #5)
    "q_dialect_md5_number" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "md5_number(o_orderstatus) AS mn, " +
          "md5_number(o_orderpriority || cast(o_orderkey AS VARCHAR)) AS mn2 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  md5_number(o_orderstatus)::VARCHAR AS mn,
             |  md5_number(o_orderpriority || cast(o_orderkey AS VARCHAR))::VARCHAR AS mn2
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // engines; md5_number_lower/upper read the digest's last/first 8
    // bytes little-endian (DECIMAL(20,0) carries DuckDB's UBIGINT);
    // bar pads with spaces to WIDTH BYTES (3 per block char — probed
    // quirk); formatReadableDecimalSize uses DuckDB's lowercase 'kB';
    // bare list-function names alias their list_ forms; environment
    // and nondeterministic functions pin through stable predicates.
    // (Renamed from q_dialect_funcs15 in round 11: a duplicate Map key
    // at the Wave-8 bin/unbin batch silently shadowed this definition.)
    "q_dialect_funcs19" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "typeof(o_orderkey) AS t1, typeof(o_totalprice) AS t2, " +
          "typeof(o_orderstatus) AS t3, typeof(o_orderdate) AS t4, " +
          "decode(encode(o_orderpriority)) AS dec, " +
          "epoch_ns(TIMESTAMP '2024-01-02 03:04:05.123456') AS ens, " +
          "nextafter(cast(o_totalprice AS DOUBLE), 0.0) AS na, " +
          "like_escape(o_orderpriority, '%!-%', '!') AS le, " +
          "not_ilike_escape(o_orderpriority, '%!-urgent', '!') AS nle, " +
          "json_quote(o_orderstatus) AS jq, json_quote(o_orderkey) AS jq2, " +
          "cast(md5_number_lower(o_orderstatus) AS VARCHAR) AS ml, " +
          "cast(md5_number_upper(o_orderstatus) AS VARCHAR) AS mu, " +
          "formatReadableSize(o_orderkey * 12345) AS frs, " +
          "formatReadableDecimalSize(o_orderkey * 12345) AS frd, " +
          "bar(o_orderkey % 10, 0, 10, 10) AS br, " +
          "bar(o_orderkey % 15, 0, 10, 10) AS br2, " +
          "array_to_string(grade_up([o_orderkey % 7, 3, 5]), ',') AS gu, " +
          "reduce([o_orderkey % 7, 3, 5], (a, b) -> a + b) AS rd, " +
          "array_to_string(apply([1, 2], x -> x + o_orderkey % 3), ',') AS ap, " +
          "array_to_string(filter([1, 2, 3], x -> x > o_orderkey % 3), ',') AS fl, " +
          "cast(aggregate([o_orderkey % 7, 3], 'sum') AS BIGINT) AS agg2, " +
          "(current_date() >= DATE '2026-01-01') AS cd, " +
          "(now() >= TIMESTAMP '2026-01-01') AS nw, " +
          "regexp_full_match(uuid(), '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}') AS uu, " +
          "(random() >= 0 AND random() < 1) AS rnd, " +
          "current_schema() AS cs, current_database() AS cdb " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  typeof(o_orderkey) AS t1, typeof(o_totalprice) AS t2,
             |  typeof(o_orderstatus) AS t3, typeof(o_orderdate) AS t4,
             |  decode(encode(o_orderpriority)) AS dec,
             |  epoch_ns(TIMESTAMP '2024-01-02 03:04:05.123456') AS ens,
             |  nextafter(cast(o_totalprice AS DOUBLE), 0.0) AS na,
             |  like_escape(o_orderpriority, '%!-%', '!') AS le,
             |  not_ilike_escape(o_orderpriority, '%!-urgent', '!') AS nle,
             |  json_quote(o_orderstatus) AS jq, json_quote(o_orderkey) AS jq2,
             |  md5_number_lower(o_orderstatus)::VARCHAR AS ml,
             |  md5_number_upper(o_orderstatus)::VARCHAR AS mu,
             |  formatReadableSize(o_orderkey * 12345) AS frs,
             |  formatReadableDecimalSize(o_orderkey * 12345) AS frd,
             |  bar(o_orderkey % 10, 0, 10, 10) AS br,
             |  bar(o_orderkey % 15, 0, 10, 10) AS br2,
             |  array_to_string(grade_up([o_orderkey % 7, 3, 5]), ',') AS gu,
             |  reduce([o_orderkey % 7, 3, 5], (a, b) -> a + b) AS rd,
             |  array_to_string(apply([1, 2], x -> x + o_orderkey % 3), ',') AS ap,
             |  array_to_string(filter([1, 2, 3], x -> x > o_orderkey % 3), ',') AS fl,
             |  cast(aggregate([o_orderkey % 7, 3], 'sum') AS BIGINT) AS agg2,
             |  (current_date() >= DATE '2026-01-01') AS cd,
             |  (now() >= TIMESTAMP '2026-01-01') AS nw,
             |  regexp_full_match(uuid()::VARCHAR, '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}') AS uu,
             |  (random() >= 0 AND random() < 1) AS rnd,
             |  current_schema() AS cs, current_database() AS cdb
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Column-capable INTERVAL constructors (to_days(n)-family — the
    // literal INTERVAL syntax is parse-time-fixed, these take any
    // expression), struct_insert / map_from_entries composition, and
    // sem (stddev_pop/√n — the population form, probed). DuckDB's to_* require INTEGER args for the
    // calendar units (oracle casts); temporal + INTERVAL reads
    // TIMESTAMP on DuckDB, so date-valued results pin through ::DATE.
    "q_dialect_funcs16" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "cast(o_orderdate + to_days(o_orderkey % 30) AS DATE) AS d1, " +
          "cast(o_orderdate + to_months(2) AS DATE) AS d2, " +
          "cast(o_orderdate + to_years(o_orderkey % 3) AS DATE) AS d3, " +
          "cast(o_orderdate + to_weeks(1) AS DATE) AS d4, " +
          "cast(o_orderdate + to_quarters(1) AS DATE) AS d5, " +
          "TIMESTAMP '2024-01-01 00:00:00' + to_minutes(o_orderkey % 500) AS t5, " +
          "TIMESTAMP '2024-01-01 00:00:00' + to_microseconds(o_orderkey * 1001) AS t6, " +
          "TIMESTAMP '2024-01-01 00:00:00' + to_hours(o_orderkey % 30) AS t7, " +
          "TIMESTAMP '2024-01-01 00:00:00' + to_seconds(o_orderkey % 90) AS t8, " +
          "TIMESTAMP '2024-01-01 00:00:00' + to_milliseconds(o_orderkey % 2500) AS t9, " +
          "struct_extract(struct_insert({'a': o_orderkey}, b := o_custkey), 'b') AS si, " +
          "map_from_entries([{'k': 'x', 'v': o_orderkey}])['x'][1] AS mfe " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  (o_orderdate + to_days((o_orderkey % 30)::INT))::DATE AS d1,
             |  (o_orderdate + to_months(2))::DATE AS d2,
             |  (o_orderdate + to_years((o_orderkey % 3)::INT))::DATE AS d3,
             |  (o_orderdate + to_weeks(1))::DATE AS d4,
             |  (o_orderdate + to_quarters(1))::DATE AS d5,
             |  TIMESTAMP '2024-01-01 00:00:00' + to_minutes((o_orderkey % 500)::INT) AS t5,
             |  TIMESTAMP '2024-01-01 00:00:00' + to_microseconds(o_orderkey * 1001) AS t6,
             |  TIMESTAMP '2024-01-01 00:00:00' + to_hours((o_orderkey % 30)::INT) AS t7,
             |  TIMESTAMP '2024-01-01 00:00:00' + to_seconds((o_orderkey % 90)::INT) AS t8,
             |  TIMESTAMP '2024-01-01 00:00:00' + to_milliseconds(o_orderkey % 2500) AS t9,
             |  struct_extract(struct_insert({'a': o_orderkey}, b := o_custkey), 'b') AS si,
             |  map_from_entries([{'k': 'x', 'v': o_orderkey}])['x'][1] AS mfe
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // age(a, b): Postgres/DuckDB symbolic interval — full months by
    // field subtraction with day/time borrowing (months_between's
    // month-end fractions deliberately NOT used), day count + time
    // remainder against the month-shifted anchor. age lowers to the
    // RENDERED text (what CAST(… AS VARCHAR) reads on DuckDB — typeof
    // is the one documented divergence), and date_part(unit, age(…))
    // fuses into a direct field computation. Mixed signs and
    // time-of-day borrows exercised.
    "q_dialect_age" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "cast(age(o_orderdate + to_minutes(o_orderkey % 1500), " +
          "TIMESTAMP '1995-06-17 04:30:00') AS VARCHAR) AS ag, " +
          "date_part('year', age(o_orderdate, TIMESTAMP '1995-06-17 04:30:00')) AS ay, " +
          "date_part('month', age(o_orderdate, TIMESTAMP '1995-06-17 04:30:00')) AS amo, " +
          "date_part('day', age(o_orderdate, TIMESTAMP '1995-06-17 04:30:00')) AS ad, " +
          "date_part('hour', age(o_orderdate + to_minutes(o_orderkey % 1500), " +
          "TIMESTAMP '1995-06-17 04:30:00')) AS ah, " +
          "date_part('minute', age(o_orderdate + to_minutes(o_orderkey % 1500), " +
          "TIMESTAMP '1995-06-17 04:30:00')) AS ami " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  cast(age(o_orderdate + to_minutes((o_orderkey % 1500)::INT),
             |    TIMESTAMP '1995-06-17 04:30:00') AS VARCHAR) AS ag,
             |  date_part('year', age(o_orderdate, TIMESTAMP '1995-06-17 04:30:00')) AS ay,
             |  date_part('month', age(o_orderdate, TIMESTAMP '1995-06-17 04:30:00')) AS amo,
             |  date_part('day', age(o_orderdate, TIMESTAMP '1995-06-17 04:30:00')) AS ad,
             |  date_part('hour', age(o_orderdate + to_minutes((o_orderkey % 1500)::INT),
             |    TIMESTAMP '1995-06-17 04:30:00')) AS ah,
             |  date_part('minute', age(o_orderdate + to_minutes((o_orderkey % 1500)::INT),
             |    TIMESTAMP '1995-06-17 04:30:00')) AS ami
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // arg_min/arg_max NULL handling (DuckDB SKIPS rows whose VALUE is
    // NULL; the _null variants keep them — a real divergence vs
    // Spark's min_by/max_by, closed here and pinned with injected
    // NULLs at the extreme keys), plus catalog closures:
    // array_cross_product, to_binary/from_binary (bin/unbin aliases),
    // unpivot_list (list_value), timezone parts of naive timestamps.
    "q_dialect_argnull" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderpriority, " +
          "arg_max(CASE WHEN o_orderkey % 3 = 0 THEN NULL " +
          "ELSE o_orderstatus END, o_orderkey) AS am, " +
          "arg_min(CASE WHEN o_orderkey % 3 = 0 THEN NULL " +
          "ELSE o_orderstatus END, o_orderkey) AS an, " +
          "count(*) AS n " +
          "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  arg_max(CASE WHEN o_orderkey % 3 = 0 THEN NULL
             |    ELSE o_orderstatus END, o_orderkey) AS am,
             |  arg_min(CASE WHEN o_orderkey % 3 = 0 THEN NULL
             |    ELSE o_orderstatus END, o_orderkey) AS an,
             |  count(*) AS n
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "q_dialect_funcs18" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(array_cross_product(" +
          "[cast(o_orderkey % 5 AS DOUBLE), 2.0, 3.0], [4.0, 5.0, 6.0]), ',') AS cp, " +
          "to_binary(o_orderkey % 100) AS tb, " +
          "hex(from_binary('0101')) AS fb, " +
          "array_to_string(unpivot_list(o_orderkey, o_custkey), ',') AS ul, " +
          "timezone(o_orderdate) AS tz, timezone_hour(o_orderdate) AS tzh, " +
          "timezone_minute(o_orderdate) AS tzm " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(array_cross_product(
             |    [cast(o_orderkey % 5 AS DOUBLE), 2.0, 3.0], [4.0, 5.0, 6.0]), ',') AS cp,
             |  to_binary(o_orderkey % 100) AS tb,
             |  hex(from_binary('0101')) AS fb,
             |  array_to_string(unpivot_list(o_orderkey, o_custkey), ',') AS ul,
             |  cast(0 AS INT) AS tz, cast(0 AS INT) AS tzh,
             |  cast(0 AS INT) AS tzm
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // from_json / json_transform: JSON text → TYPED values under a
    // structure literal ('{"k":"BIGINT"}' leaves are type names).
    // DuckDB casts eagerly ("1" → 1, 1.9 → INTEGER 2, bad text → NULL
    // on the lax forms) — the lowering parses with string leaves and
    // applies DuckDB's JSON cast per leaf; missing keys read NULL.
    "q_dialect_from_json" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "struct_extract(from_json(json_object('k', o_orderkey, 's', o_orderstatus), " +
          "'{\"k\":\"BIGINT\",\"s\":\"VARCHAR\",\"m\":\"VARCHAR\"}'), 'k') AS k, " +
          "struct_extract(from_json(json_object('k', o_orderkey, 's', o_orderstatus), " +
          "'{\"k\":\"BIGINT\",\"s\":\"VARCHAR\",\"m\":\"VARCHAR\"}'), 'm') AS m, " +
          "struct_extract(json_transform('{\"a\":1.9}', '{\"a\":\"INTEGER\"}'), 'a') AS a, " +
          "struct_extract(json_transform('{\"a\":\"7\"}', '{\"a\":\"BIGINT\"}'), 'a') AS a2, " +
          "struct_extract(json_transform('{\"a\":\"xx\"}', '{\"a\":\"BIGINT\"}'), 'a') AS a3, " +
          "from_json(json_array(o_orderkey, 2), '[\"BIGINT\"]')[1] AS l1, " +
          "struct_extract(struct_extract(from_json('{\"a\":{\"b\":2}}', " +
          "'{\"a\":{\"b\":\"BIGINT\"}}'), 'a'), 'b') AS nb, " +
          "struct_extract(from_json('{\"d\":\"2024-01-02\"}', '{\"d\":\"DATE\"}'), 'd') AS dd, " +
          "struct_extract(from_json('{\"b\":true}', '{\"b\":\"BOOLEAN\"}'), 'b') AS bb, " +
          "struct_extract(from_json(json_object('x', o_totalprice), '{\"x\":\"DOUBLE\"}'), 'x') AS xx " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  struct_extract(from_json(json_object('k', o_orderkey, 's', o_orderstatus),
             |    '{"k":"BIGINT","s":"VARCHAR","m":"VARCHAR"}'), 'k') AS k,
             |  struct_extract(from_json(json_object('k', o_orderkey, 's', o_orderstatus),
             |    '{"k":"BIGINT","s":"VARCHAR","m":"VARCHAR"}'), 'm') AS m,
             |  struct_extract(json_transform('{"a":1.9}', '{"a":"INTEGER"}'), 'a') AS a,
             |  struct_extract(json_transform('{"a":"7"}', '{"a":"BIGINT"}'), 'a') AS a2,
             |  struct_extract(json_transform('{"a":"xx"}', '{"a":"BIGINT"}'), 'a') AS a3,
             |  from_json(json_array(o_orderkey, 2), '["BIGINT"]')[1] AS l1,
             |  struct_extract(struct_extract(from_json('{"a":{"b":2}}',
             |    '{"a":{"b":"BIGINT"}}'), 'a'), 'b') AS nb,
             |  struct_extract(from_json('{"d":"2024-01-02"}', '{"d":"DATE"}'), 'd') AS dd,
             |  struct_extract(from_json('{"b":true}', '{"b":"BOOLEAN"}'), 'b') AS bb,
             |  struct_extract(from_json(json_object('x', o_totalprice), '{"x":"DOUBLE"}'), 'x') AS xx
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // WHERE COLUMNS(…) (DuckDB): a conjunct containing a COLUMNS
    // operand expands into the AND of the predicate per matched column
    // — regex (partial match), star, and star-EXCLUDE forms, composed
    // with ordinary conjuncts and expression context (arith/CAST).
    "q_dialect_columns_where" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey FROM orders " +
          "WHERE COLUMNS('key$') % 3 = 0 " +
          "AND COLUMNS(*) IS NOT NULL " +
          "AND cast(COLUMNS(* EXCLUDE (o_orderstatus, o_totalprice, " +
          "o_orderdate, o_orderpriority)) AS BIGINT) >= 0 " +
          "AND o_orderkey < 5000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey FROM orders
             |WHERE COLUMNS('key$') % 3 = 0
             |AND COLUMNS(*) IS NOT NULL
             |AND cast(COLUMNS(* EXCLUDE (o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority)) AS BIGINT) >= 0
             |AND o_orderkey < 5000 ORDER BY o_orderkey""".stripMargin)),

    // Operator function-forms (add/subtract/multiply desugar to the
    // binder's arithmetic — date+int included; divide IS integer
    // division like //), floor division/modulo doubles (fdiv/fmod),
    // and the BIT-string family (BIT carried as VARCHAR of 0/1 —
    // DuckDB renders BIT as the bitstring text, so values hash-equal;
    // get_bit/set_bit are 0-based from the left, bitstring left-pads).
    "q_dialect_funcs17" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "add(o_orderkey, 5) AS ad, subtract(o_orderkey, 3) AS sb, " +
          "multiply(o_orderkey % 100, 3) AS ml, " +
          "divide(o_orderkey, 7) AS dv, divide(0 - o_orderkey, 7) AS dvn, " +
          "fdiv(0 - o_orderkey, 7) AS fd, fmod(0 - o_orderkey, 7) AS fm, " +
          "round(fmod(o_totalprice, 2.5), 6) AS fm2, " +
          "add(cast(o_orderdate AS DATE), 5) AS dt, " +
          "bitstring('0110', 8) AS bs, " +
          "get_bit(bitstring('0110', 8), cast(o_orderkey % 8 AS INT)) AS gb, " +
          "set_bit(bitstring('0110', 8), cast(o_orderkey % 8 AS INT), 1) AS sb2, " +
          "cast(bit_position('011'::BIT, bitstring('0110', 8)) AS INT) AS bp, " +
          "list_cosine_similarity([0.0, 0.0], [1.0, 2.0]) AS zc " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  add(o_orderkey, 5) AS ad, subtract(o_orderkey, 3) AS sb,
             |  multiply(o_orderkey % 100, 3) AS ml,
             |  divide(o_orderkey, 7) AS dv, divide(0 - o_orderkey, 7) AS dvn,
             |  fdiv(0 - o_orderkey, 7) AS fd, fmod(0 - o_orderkey, 7) AS fm,
             |  round(fmod(o_totalprice, 2.5), 6) AS fm2,
             |  add(cast(o_orderdate AS DATE), 5) AS dt,
             |  bitstring('0110', 8)::VARCHAR AS bs,
             |  get_bit(bitstring('0110', 8), cast(o_orderkey % 8 AS INT)) AS gb,
             |  set_bit(bitstring('0110', 8), cast(o_orderkey % 8 AS INT), 1)::VARCHAR AS sb2,
             |  cast(bit_position('011'::BIT, bitstring('0110', 8)) AS INT) AS bp,
             |  list_cosine_similarity([0.0, 0.0], [1.0, 2.0]) AS zc
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Sequences: CREATE SEQUENCE options (START/INCREMENT/MAXVALUE/
    // descending defaults), nextval allocating in textual row order
    // through INSERT … VALUES, currval in FROM-less positions. The
    // oracle reconstructs the DuckDB-probed allocation arithmetic
    // (100,103,106 then 109; descending 50,48). Rerun-stable via
    // CREATE OR REPLACE (resets the counter each rep).
    "q_dialect_seq" -> QueryDef(
      (s, d) => {
        val g = db(s, d)
        def exec(sql: String): Unit =
          g.query(sql).fold(e => sys.error(e.msg), _ => ())
        exec("CREATE OR REPLACE SEQUENCE gseq START 100 INCREMENT 3")
        exec("CREATE OR REPLACE SEQUENCE gdesc INCREMENT BY -2 MAXVALUE 50")
        exec("CREATE OR REPLACE TABLE seqt (id BIGINT, v VARCHAR(20))")
        exec("INSERT INTO seqt VALUES (nextval('gseq'), 'a'), " +
          "(nextval('gseq'), 'b'), (nextval('gseq'), 'c')")
        exec("SELECT nextval('gseq') AS bump")
        exec("SELECT nextval('gdesc') AS d1, nextval('gdesc') AS d2")
        run(g, "SELECT id, v FROM seqt " +
          "UNION ALL SELECT currval('gseq') AS id, 'cur' AS v " +
          "UNION ALL SELECT currval('gdesc') AS id, 'desc' AS v " +
          "ORDER BY id")
      },
      Some("""SELECT * FROM (VALUES (48, 'desc'), (100, 'a'), (103, 'b'),
             |  (106, 'c'), (109, 'cur')) v(id, v) ORDER BY id""".stripMargin)),

    // JSON document algebra: merge_patch is RFC 7386 (recursive, null
    // deletes, non-object patch replaces); structure unifies array
    // elements (numeric ranks widen, incompatible reads "JSON");
    // contains matches the needle against EVERY haystack node with
    // MySQL-style structural rules (scalars strict: 1.0 ≠ 1). All
    // probed on DuckDB 1.0; Jackson tree-walk expressions.
    "q_dialect_json2" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "json_merge_patch(json_object('k', o_orderkey, 's', o_orderstatus), " +
          "json_object('s', o_orderpriority, 'n', 1)) AS mp, " +
          "json_merge_patch(json_object('k', o_orderkey), '{\"k\":null}') AS mp2, " +
          "json_merge_patch('{\"a\":{\"x\":1,\"y\":2}}', '{\"a\":{\"y\":3}}') AS mp3, " +
          "json_structure(json_object('k', o_orderkey, 's', o_orderstatus)) AS st, " +
          "json_structure(json_array(o_orderkey, o_custkey)) AS st2, " +
          "json_structure('[1,2.5]') AS st3, " +
          "json_structure('[1,\"a\"]') AS st4, " +
          "json_contains(json_object('a', json_array(o_orderkey, 2)), " +
          "cast(o_orderkey AS VARCHAR)) AS jc, " +
          "json_contains('[1,2]', '[2,1]') AS jc2, " +
          "json_contains('{\"a\":1}', '{\"a\":2}') AS jc3, " +
          "json_contains('[1.0]', '1') AS jc4 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  json_merge_patch(json_object('k', o_orderkey, 's', o_orderstatus),
             |    json_object('s', o_orderpriority, 'n', 1))::VARCHAR AS mp,
             |  json_merge_patch(json_object('k', o_orderkey), '{"k":null}')::VARCHAR AS mp2,
             |  json_merge_patch('{"a":{"x":1,"y":2}}', '{"a":{"y":3}}')::VARCHAR AS mp3,
             |  json_structure(json_object('k', o_orderkey, 's', o_orderstatus))::VARCHAR AS st,
             |  json_structure(json_array(o_orderkey, o_custkey))::VARCHAR AS st2,
             |  json_structure('[1,2.5]')::VARCHAR AS st3,
             |  json_structure('[1,"a"]')::VARCHAR AS st4,
             |  json_contains(json_object('a', json_array(o_orderkey, 2)),
             |    cast(o_orderkey AS VARCHAR)) AS jc,
             |  json_contains('[1,2]', '[2,1]') AS jc2,
             |  json_contains('{"a":1}', '{"a":2}') AS jc3,
             |  json_contains('[1.0]', '1') AS jc4
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Grapheme-cluster string functions: Java's \X regex matches
    // extended grapheme clusters (UTS #29) — the same segmentation
    // DuckDB's utf8proc applies. The ZWJ-emoji column pins the hard
    // case (facepalm + skin tone + ZWJ + male + VS16 = ONE cluster);
    // negative counts drop from the opposite end, substring follows
    // the substr window rule — except a negative start that UNDERFLOWS
    // the string, which clamps to position 1 keeping the full length
    // (the su column: mktsegment is 8-10 clusters, start -9..-12).
    "q_dialect_grapheme" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, " +
          "length_grapheme(concat('🤦🏼‍♂️', c_name)) AS lg, " +
          "length(concat('🤦🏼‍♂️', c_name)) AS lc, " +
          "left_grapheme(concat('🤦🏼‍♂️', c_mktsegment), 3) AS l3, " +
          "left_grapheme(c_name, 0 - (c_custkey % 4)) AS ln, " +
          "right_grapheme(concat('é', c_mktsegment), 4) AS r4, " +
          "substring_grapheme(concat('🤦🏼‍♂️x', c_name), 2, 3) AS sg, " +
          "substring_grapheme(c_name, 0 - (c_custkey % 5), 4) AS sn, " +
          "substring_grapheme(c_mktsegment, 0 - (c_custkey % 4) - 9, 3) AS su " +
          "FROM customer WHERE c_custkey < 2000 ORDER BY c_custkey"),
      Some("""SELECT c_custkey,
             |  length_grapheme(concat('🤦🏼‍♂️', c_name)) AS lg,
             |  length(concat('🤦🏼‍♂️', c_name)) AS lc,
             |  left_grapheme(concat('🤦🏼‍♂️', c_mktsegment), 3) AS l3,
             |  left_grapheme(c_name, 0 - (c_custkey % 4)) AS ln,
             |  right_grapheme(concat('é', c_mktsegment), 4) AS r4,
             |  substring_grapheme(concat('🤦🏼‍♂️x', c_name), 2, 3) AS sg,
             |  substring_grapheme(c_name, 0 - (c_custkey % 5), 4) AS sn,
             |  substring_grapheme(c_mktsegment, 0 - (c_custkey % 4) - 9, 3) AS su
             |FROM customer WHERE c_custkey < 2000 ORDER BY c_custkey""".stripMargin)),

    // sem: standard error of the mean = stddev_pop/√n — the POPULATION
    // form, probed against both variants (rounded like
    // the other second-moment gates — cross-engine float accumulation
    // order differs at the margins).
    "q_dialect_sem" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderpriority, round(sem(o_totalprice), 2) AS se, " +
          "count(*) AS n FROM orders GROUP BY o_orderpriority " +
          "ORDER BY o_orderpriority"),
      Some("""SELECT o_orderpriority, round(sem(o_totalprice), 2) AS se,
             |  count(*) AS n FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Temporal extraction batch 2: century (ceil-of-year/100), ISO
    // weekday (Monday = 1), ISO week + year (the year of the week's
    // Thursday — pinned by early-January dates that belong to the
    // PREVIOUS iso year).
    "q_dialect_time_parts2" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "century(o_orderdate) AS c, isodow(o_orderdate) AS idw, " +
          "week(o_orderdate) AS w, weekofyear(o_orderdate) AS woy, " +
          "dayofmonth(o_orderdate) AS dom, isoyear(o_orderdate) AS iy " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  cast(century(o_orderdate) AS int) AS c, cast(isodow(o_orderdate) AS int) AS idw,
             |  cast(week(o_orderdate) AS int) AS w, cast(weekofyear(o_orderdate) AS int) AS woy,
             |  cast(dayofmonth(o_orderdate) AS int) AS dom, cast(isoyear(o_orderdate) AS int) AS iy
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // JSON family: json_extract returns JSON TEXT (strings stay quoted —
    // the Spark-4 variant route to_json(variant_get(parse_json(…)))
    // expresses this exactly where get_json_object would unquote);
    // $-paths, /-pointers and bare keys all accepted; json_object/
    // json_array serialize via named_struct/array (field order kept);
    // json_type maps schema_of_variant classes onto DuckDB's names
    // (non-negative integers read UBIGINT).
    // (Renamed from q_dialect_json in round 11: a duplicate Map key at
    // the older json_extract_string gate silently shadowed this one.)
    "q_dialect_json3" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "json_extract(json_object('k', o_orderkey, 's', o_orderstatus), '$.s') AS je, " +
          "json_extract(json_object('a', o_orderkey), 'a') AS jb, " +
          "json_extract(json_array(o_orderkey, o_custkey, 7), '/1') AS jp, " +
          "json_extract_path_text(json_object('s', o_orderstatus), '$.s') AS jt, " +
          "cast(json_array_length(json_array(o_orderkey, o_custkey)) AS BIGINT) AS jal, " +
          "array_to_string(json_keys(json_object('k', o_orderkey, 's', o_orderstatus)), ',') AS jk, " +
          "json_valid(json_object('k', o_orderkey)) AS jv, " +
          "json_valid(o_orderpriority) AS jnv, " +
          "json_type(json_object('k', o_orderkey)) AS t1, " +
          "json_type(json_array(o_orderkey)) AS t2, " +
          "json_type(cast(o_orderkey AS VARCHAR)) AS t3, " +
          "json_type(cast(0 - o_orderkey AS VARCHAR)) AS t4, " +
          "row_to_json({'a': o_orderkey}) AS rj " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  json_extract(json_object('k', o_orderkey, 's', o_orderstatus), '$.s')::VARCHAR AS je,
             |  json_extract(json_object('a', o_orderkey), 'a')::VARCHAR AS jb,
             |  json_extract(json_array(o_orderkey, o_custkey, 7), '/1')::VARCHAR AS jp,
             |  json_extract_path_text(json_object('s', o_orderstatus), '$.s') AS jt,
             |  cast(json_array_length(json_array(o_orderkey, o_custkey)) AS BIGINT) AS jal,
             |  array_to_string(json_keys(json_object('k', o_orderkey, 's', o_orderstatus)), ',') AS jk,
             |  json_valid(json_object('k', o_orderkey)) AS jv,
             |  json_valid(o_orderpriority) AS jnv,
             |  json_type(json_object('k', o_orderkey)) AS t1,
             |  json_type(json_array(o_orderkey)) AS t2,
             |  json_type(cast(o_orderkey AS VARCHAR)) AS t3,
             |  json_type(cast(0 - o_orderkey AS VARCHAR)) AS t4,
             |  row_to_json({'a': o_orderkey})::VARCHAR AS rj
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Variance/stddev family with explicit population/sample forms —
    // Spark natives share DuckDB's formulas; kurtosis_pop is the
    // population g2 (the dialect's plain kurtosis applies the sample
    // correction); mean/arbitrary/kahan_sum are canonical-name aliases.
    "q_dialect_agg_var" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderpriority AS pri, " +
          "round(stddev_pop(o_totalprice), 4) AS sp, " +
          "round(stddev_samp(o_totalprice), 4) AS ss, " +
          "round(var_pop(o_totalprice) / 1000000, 4) AS vp, " +
          "round(var_samp(o_totalprice) / 1000000, 4) AS vs, " +
          "round(kurtosis_pop(o_totalprice), 6) AS kp, " +
          "round(mean(o_totalprice) * count(*), 2) AS mt, " +
          "arbitrary(o_orderpriority) AS ar, " +
          "round(kahan_sum(o_totalprice), 2) AS ks " +
          "FROM orders WHERE o_orderkey < 2000 " +
          "GROUP BY o_orderpriority ORDER BY pri"),
      Some("""SELECT o_orderpriority AS pri,
             |  round(stddev_pop(o_totalprice), 4) AS sp,
             |  round(stddev_samp(o_totalprice), 4) AS ss,
             |  round(var_pop(o_totalprice) / 1000000, 4) AS vp,
             |  round(var_samp(o_totalprice) / 1000000, 4) AS vs,
             |  round(kurtosis_pop(o_totalprice), 6) AS kp,
             |  round(mean(o_totalprice) * count(*), 2) AS mt,
             |  arbitrary(o_orderpriority) AS ar,
             |  round(kahan_sum(o_totalprice), 2) AS ks
             |FROM orders WHERE o_orderkey < 2000
             |GROUP BY o_orderpriority ORDER BY pri""".stripMargin)),

    // Scalar batch 15: binary/base64 codecs (bin numeric-only — DuckDB's
    // string form expands bytes and is not taken; unbin packs bits into
    // a whole-byte BLOB), xor, regexp_escape (RE2 QuoteMeta: every char
    // outside [A-Za-z0-9_] backslashed), try_strptime (NULL on parse
    // failure where strptime raises).
    "q_dialect_funcs15" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "bin(o_orderkey % 1000) AS b, " +
          "hex(unbin(bin(o_orderkey % 1000))) AS ub, " +
          "to_base64(unhex('4142' || substr(md5(o_orderstatus), 1, 2))) AS b64, " +
          "hex(from_base64('aGVsbG8=')) AS fb64, " +
          "xor(o_orderkey, 255) AS x1, xor(o_orderkey % 8, o_custkey % 8) AS x2, " +
          "regexp_escape(concat(o_orderpriority, ' (', o_orderstatus, ').*')) AS re, " +
          "try_strptime(concat('2024-01-', lpad(cast((o_orderkey % 28) + 1 AS VARCHAR), 2, '0')), '%Y-%m-%d') AS ts1, " +
          "try_strptime(o_orderstatus, '%Y-%m-%d') AS ts2 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  bin(o_orderkey % 1000) AS b,
             |  hex(unbin(bin(o_orderkey % 1000))) AS ub,
             |  to_base64(unhex('4142' || substr(md5(o_orderstatus), 1, 2))) AS b64,
             |  hex(from_base64('aGVsbG8=')) AS fb64,
             |  xor(o_orderkey, 255) AS x1, xor(o_orderkey % 8, o_custkey % 8) AS x2,
             |  regexp_escape(concat(o_orderpriority, ' (', o_orderstatus, ').*')) AS re,
             |  try_strptime(concat('2024-01-', lpad(cast((o_orderkey % 28) + 1 AS VARCHAR), 2, '0')), '%Y-%m-%d') AS ts1,
             |  try_strptime(o_orderstatus, '%Y-%m-%d') AS ts2
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Temporal extraction batch 3: sub-second parts INCLUDE the seconds
    // component (DuckDB probed: …:45.123456 → ms 45123), decade floors,
    // millennium ceils, weekday is Sunday = 0, yearweek = ISO year·100 +
    // ISO week, julian day as a double, era (AD = 1).
    "q_dialect_time_parts3" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT event_id, " +
          "millisecond(ts) AS ms, microsecond(ts) AS us, " +
          "decade(ts) AS dec, millennium(ts) AS mil, " +
          "weekday(ts) AS wd, yearweek(ts) AS yw, " +
          "julian(cast(ts AS DATE)) AS jd, era(ts) AS er " +
          "FROM events WHERE event_id < 3000 ORDER BY event_id"),
      Some("""SELECT event_id,
             |  cast(millisecond(ts) AS int) AS ms, cast(microsecond(ts) AS int) AS us,
             |  cast(decade(ts) AS int) AS dec, cast(millennium(ts) AS int) AS mil,
             |  cast(weekday(ts) AS int) AS wd, cast(yearweek(ts) AS int) AS yw,
             |  julian(cast(ts AS DATE)) AS jd, cast(era(ts) AS int) AS er
             |FROM events WHERE event_id < 3000 ORDER BY event_id""".stripMargin)),

    // TIME + TIMESTAMPTZ surface: make_time (fractional seconds), TIME
    // literals/arithmetic/parts, AT TIME ZONE in BOTH directions (naive
    // interpreted as tz wall time -> TIMESTAMPTZ; TIMESTAMPTZ -> the tz
    // wall time, naive), the timezone() function form, offset-bearing
    // TIMESTAMPTZ literals, and TIMESTAMP::TIME. TIMESTAMPTZ renders
    // with its +00 offset under the pinned UTC session on both engines;
    // everything pins through ::VARCHAR for the pandas gate channel.
    "q_dialect_time_tz" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "cast(make_time(cast(o_orderkey % 24 AS INT), 30, 31.5) AS VARCHAR) AS mt, " +
          "cast(TIME '08:15:00' + to_minutes(cast(o_orderkey % 300 AS INT)) AS VARCHAR) AS tplus, " +
          "hour(make_time(cast(o_orderkey % 24 AS INT), 5, 0)) AS th, " +
          "minute(TIME '08:45:30') AS tm, " +
          "cast(cast(o_orderdate AS TIMESTAMP) AT TIME ZONE 'America/New_York' AS VARCHAR) AS tz1, " +
          "cast(TIMESTAMPTZ '2024-06-01 10:00:00+02' AT TIME ZONE 'Asia/Tokyo' AS VARCHAR) AS tz2, " +
          "cast(timezone('Europe/Berlin', cast(o_orderdate AS TIMESTAMP)) AS VARCHAR) AS tz3, " +
          "cast(cast(cast(o_orderdate AS TIMESTAMP) AS TIMESTAMPTZ) AS VARCHAR) AS tz4, " +
          "cast(cast(TIMESTAMPTZ '2024-06-01 10:00:00+02' AS TIMESTAMP) AS VARCHAR) AS tz5, " +
          "cast(cast(cast(o_orderdate AS TIMESTAMP) + to_minutes(cast(o_orderkey % 1440 AS INT)) AS TIME) AS VARCHAR) AS t2t " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  make_time((o_orderkey % 24)::INT, 30, 31.5)::VARCHAR AS mt,
             |  (TIME '08:15:00' + to_minutes((o_orderkey % 300)::INT))::VARCHAR AS tplus,
             |  cast(hour(make_time((o_orderkey % 24)::INT, 5, 0)) AS int) AS th,
             |  cast(minute(TIME '08:45:30') AS int) AS tm,
             |  (o_orderdate::TIMESTAMP AT TIME ZONE 'America/New_York')::VARCHAR AS tz1,
             |  (TIMESTAMPTZ '2024-06-01 10:00:00+02' AT TIME ZONE 'Asia/Tokyo')::VARCHAR AS tz2,
             |  timezone('Europe/Berlin', o_orderdate::TIMESTAMP)::VARCHAR AS tz3,
             |  (o_orderdate::TIMESTAMP::TIMESTAMPTZ)::VARCHAR AS tz4,
             |  (TIMESTAMPTZ '2024-06-01 10:00:00+02')::TIMESTAMP::VARCHAR AS tz5,
             |  ((o_orderdate + to_minutes((o_orderkey % 1440)::INT))::TIME)::VARCHAR AS t2t
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // ENUM type surface: anonymous inline ENUM('…') casts with DuckDB's
    // POSITIONAL ordering — min/max aggregate the definition index
    // ('P' < 'O' < 'F' here, where text order would read 'F' first),
    // ordering comparisons rewrite onto the index, enum_code is the
    // 0-based index, enum_range/first/last fold from the static domain.
    "q_dialect_enum" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderpriority AS pri, " +
          "cast(min(cast(o_orderstatus AS ENUM('P','O','F'))) AS VARCHAR) AS emin, " +
          "cast(max(cast(o_orderstatus AS ENUM('P','O','F'))) AS VARCHAR) AS emax, " +
          "count(*) AS n, " +
          "cast(sum(CASE WHEN cast(o_orderstatus AS ENUM('P','O','F')) > cast('P' AS ENUM('P','O','F')) THEN 1 ELSE 0 END) AS BIGINT) AS gtp, " +
          "max(enum_code(cast(o_orderstatus AS ENUM('P','O','F')))) AS mcode, " +
          "enum_first(cast(NULL AS ENUM('sad','ok','happy'))) AS ef, " +
          "enum_last(cast(NULL AS ENUM('sad','ok','happy'))) AS el, " +
          "array_to_string(enum_range(cast(NULL AS ENUM('sad','ok','happy'))), ',') AS rng " +
          "FROM orders WHERE o_orderkey < 2000 " +
          "GROUP BY o_orderpriority ORDER BY pri"),
      Some("""SELECT o_orderpriority AS pri,
             |  min(o_orderstatus::ENUM('P','O','F'))::VARCHAR AS emin,
             |  max(o_orderstatus::ENUM('P','O','F'))::VARCHAR AS emax,
             |  count(*) AS n,
             |  sum(CASE WHEN o_orderstatus::ENUM('P','O','F') > 'P'::ENUM('P','O','F') THEN 1 ELSE 0 END)::BIGINT AS gtp,
             |  cast(max(enum_code(o_orderstatus::ENUM('P','O','F'))) AS int) AS mcode,
             |  enum_first(NULL::ENUM('sad','ok','happy')) AS ef,
             |  enum_last(NULL::ENUM('sad','ok','happy')) AS el,
             |  array_to_string(enum_range(NULL::ENUM('sad','ok','happy')), ',') AS rng
             |FROM orders WHERE o_orderkey < 2000
             |GROUP BY o_orderpriority ORDER BY pri""".stripMargin)),

    // UNION (tagged sum) type: union_value members widen into a declared
    // UNION(num, str) via cast — the inactive member reads NULL from
    // union_extract, union_tag names the active member, and ::VARCHAR
    // renders the ACTIVE value's text (DuckDB probed: '7', 'hi').
    "q_dialect_union_type" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "union_tag(cast(CASE WHEN o_orderkey % 2 = 0 " +
          "THEN cast(union_value(num := o_orderkey) AS UNION(num BIGINT, str VARCHAR(100))) " +
          "ELSE cast(union_value(str := o_orderstatus) AS UNION(num BIGINT, str VARCHAR(100))) END AS UNION(num BIGINT, str VARCHAR(100)))) AS tag, " +
          "union_extract(cast(union_value(num := o_orderkey) AS UNION(num BIGINT, str VARCHAR(100))), 'num') AS n1, " +
          "union_extract(cast(union_value(num := o_orderkey) AS UNION(num BIGINT, str VARCHAR(100))), 'str') AS s1, " +
          "cast(cast(union_value(num := o_orderkey * 3) AS UNION(num BIGINT, str VARCHAR(100))) AS VARCHAR) AS tx1, " +
          "cast(cast(union_value(str := o_orderpriority) AS UNION(num BIGINT, str VARCHAR(100))) AS VARCHAR) AS tx2 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  union_tag(CASE WHEN o_orderkey % 2 = 0
             |    THEN union_value(num := o_orderkey)::UNION(num BIGINT, str VARCHAR)
             |    ELSE union_value(str := o_orderstatus)::UNION(num BIGINT, str VARCHAR) END)::VARCHAR AS tag,
             |  union_extract(union_value(num := o_orderkey)::UNION(num BIGINT, str VARCHAR), 'num') AS n1,
             |  union_extract(union_value(num := o_orderkey)::UNION(num BIGINT, str VARCHAR), 'str') AS s1,
             |  (union_value(num := o_orderkey * 3)::UNION(num BIGINT, str VARCHAR))::VARCHAR AS tx1,
             |  (union_value(str := o_orderpriority)::UNION(num BIGINT, str VARCHAR))::VARCHAR AS tx2
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Boolean expressions as select items — unparenthesized comparisons,
    // LIKE/IN/BETWEEN/IS NULL and AND/OR combos used as VALUES, with SQL
    // 3VL (a NULL operand reads NULL, not false — pinned via the VARCHAR
    // carrier: a nullable BOOLEAN reaches pandas as NaN on the DuckDB
    // side but None on the Spark side). Identical SQL on both engines.
    "q_dialect_bool_items" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "o_orderkey % 2 = 0 AS even, " +
          "o_totalprice > 100000 AND o_orderkey % 3 = 0 AS both_c, " +
          "o_orderstatus = 'O' OR o_orderstatus = 'F' AS of_status, " +
          "o_orderpriority LIKE '1-%' AS urgent, " +
          "o_orderstatus IN ('O', 'P') AS in_set, " +
          "o_orderkey BETWEEN 100 AND 200 AS mid, " +
          "nullif(o_orderstatus, 'O') IS NULL AS was_o, " +
          "cast(nullif(o_orderkey, o_orderkey) > 5 AS VARCHAR) AS null_cmp " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  o_orderkey % 2 = 0 AS even,
             |  o_totalprice > 100000 AND o_orderkey % 3 = 0 AS both_c,
             |  o_orderstatus = 'O' OR o_orderstatus = 'F' AS of_status,
             |  o_orderpriority LIKE '1-%' AS urgent,
             |  o_orderstatus IN ('O', 'P') AS in_set,
             |  o_orderkey BETWEEN 100 AND 200 AS mid,
             |  nullif(o_orderstatus, 'O') IS NULL AS was_o,
             |  (nullif(o_orderkey, o_orderkey) > 5)::VARCHAR AS null_cmp
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // CREATE MACRO (scalar SQL macros): expanded TEXTUALLY at the token
    // level before parse — arguments parenthesize at the splice so
    // precedence can't leak, defaults fill missing trailing arguments.
    // The oracle inlines the same expressions (the driver channel is
    // single-statement); OR REPLACE keeps the gate idempotent across
    // bench repetitions.
    "q_dialect_macro" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        g.query("CREATE OR REPLACE MACRO disc(p, pct := 10) AS " +
          "cast(p * (100 - pct) AS BIGINT)")
        g.query("CREATE OR REPLACE MACRO keybucket(k) AS k % 7")
        run(g, "SELECT o_orderkey, " +
          "disc(o_totalprice) AS d10, " +
          "disc(o_totalprice, 25) AS d25, " +
          "keybucket(o_orderkey + 3) AS kb, " +
          "disc(keybucket(o_orderkey) * 100.0, 50) AS nested " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  cast(o_totalprice * (100 - 10) AS BIGINT) AS d10,
             |  cast(o_totalprice * (100 - 25) AS BIGINT) AS d25,
             |  (o_orderkey + 3) % 7 AS kb,
             |  cast((o_orderkey % 7) * 100.0 * (100 - 50) AS BIGINT) AS nested
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // FROM-first statements (DuckDB sugar): `FROM t` reads SELECT *,
    // and an optional SELECT follows the FROM group directly with the
    // remaining clauses in their usual order. Identical SQL both engines.
    "q_dialect_from_first" -> QueryDef(
      (s, d) => run(db(s, d, "nation"),
        "FROM nation SELECT n_nationkey, upper(n_name) AS nm " +
          "WHERE n_regionkey > 1 ORDER BY n_nationkey LIMIT 15"),
      Some("""FROM nation SELECT n_nationkey, upper(n_name) AS nm
             |WHERE n_regionkey > 1 ORDER BY n_nationkey LIMIT 15""".stripMargin)),

    // TABLE macros (CREATE MACRO … AS TABLE SELECT …): the same textual
    // expansion in FROM position — the call splices to a derived table
    // (alias-less derived tables read DuckDB's unnamed_subquery), takes
    // an alias, and joins like any relation.
    "q_dialect_table_macro" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        g.query("CREATE OR REPLACE MACRO big_orders(lim) AS TABLE " +
          "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
          "WHERE o_orderkey < lim")
        run(g, "SELECT c.c_mktsegment AS seg, count(*) AS n, " +
          "cast(sum(b.o_custkey) AS BIGINT) AS sc " +
          "FROM big_orders(2000) b JOIN customer c ON b.o_custkey = c.c_custkey " +
          "GROUP BY c.c_mktsegment ORDER BY seg")
      },
      Some("""SELECT c.c_mktsegment AS seg, count(*) AS n,
             |  cast(sum(b.o_custkey) AS BIGINT) AS sc
             |FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |      WHERE o_orderkey < 2000) b
             |JOIN customer c ON b.o_custkey = c.c_custkey
             |GROUP BY c.c_mktsegment ORDER BY seg""".stripMargin)),

    // List comprehensions `[expr FOR v IN list [IF pred]]` (DuckDB) —
    // parse-time sugar onto list_transform(list_filter(…)), so the body
    // captures enclosing columns like any lambda. Identical SQL on both
    // engines; arrays serialized for the pandas gate channel.
    "q_dialect_list_comp" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string([x * 2 FOR x IN [o_orderkey % 5, 3, 7] IF x > 2], ',') AS c1, " +
          "array_to_string([upper(s) FOR s IN [o_orderstatus, 'x']], ',') AS c2, " +
          "array_to_string([x + o_custkey % 3 FOR x IN [1, 2]], ',') AS c3 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string([x * 2 FOR x IN [o_orderkey % 5, 3, 7] IF x > 2], ',') AS c1,
             |  array_to_string([upper(s) FOR s IN [o_orderstatus, 'x']], ',') AS c2,
             |  array_to_string([x + o_custkey % 3 FOR x IN [1, 2]], ',') AS c3
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // COLUMNS(c -> predicate): star expansion filtered by a LAMBDA over
    // the column NAME (the last COLUMNS position from the r10 verdict) —
    // LIKE/boolean-combo/function-of-name forms, evaluated statically at
    // analysis. Identical SQL on both engines.
    "q_dialect_columns_lambda" -> QueryDef(
      (s, d) => run(db(s, d, "nation"),
        "SELECT COLUMNS(c -> c LIKE 'n_%key' OR c = 'n_name') " +
          "FROM nation ORDER BY n_nationkey"),
      Some("""SELECT COLUMNS(c -> c LIKE 'n_%key' OR c = 'n_name')
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // Alias blitz: DuckDB synonyms rebound onto canonical names at
    // analysis — array_*/list_* pairs, editdist3, datepart/datetrunc,
    // gcd/lcm long names, str_split, argmax/argmin.
    "q_dialect_aliases" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(array_cat(array_value(o_orderkey), array_value(o_custkey)), ',') AS ac, " +
          "array_has(array_value(1, 2, 3), cast(o_orderkey % 4 AS BIGINT)) AS ah, " +
          "array_indexof(array_value(9, 8, 7), cast((o_orderkey % 3) + 7 AS BIGINT)) AS ai, " +
          "array_to_string(array_slice(array_value(1, 2, 3, 4), 2, 3), ',') AS asl, " +
          "editdist3(o_orderpriority, o_orderstatus) AS ed, " +
          "greatest_common_divisor(o_orderkey, 12) AS g, " +
          "least_common_multiple(o_orderkey % 6 + 1, 4) AS l, " +
          "datepart('year', o_orderdate) AS dy, " +
          "cast(datetrunc('month', o_orderdate) AS DATE) AS dm, " +
          "array_to_string(str_split(o_orderpriority, '-'), '|') AS sp " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(array_cat(array_value(o_orderkey), array_value(o_custkey)), ',') AS ac,
             |  array_has(array_value(1, 2, 3), cast(o_orderkey % 4 AS BIGINT)) AS ah,
             |  array_indexof(array_value(9, 8, 7), cast((o_orderkey % 3) + 7 AS BIGINT)) AS ai,
             |  array_to_string(array_slice(array_value(1, 2, 3, 4), 2, 3), ',') AS asl,
             |  editdist3(o_orderpriority, o_orderstatus) AS ed,
             |  greatest_common_divisor(o_orderkey, 12) AS g,
             |  least_common_multiple(o_orderkey % 6 + 1, 4) AS l,
             |  datepart('year', o_orderdate) AS dy,
             |  cast(datetrunc('month', o_orderdate) AS DATE) AS dm,
             |  array_to_string(str_split(o_orderpriority, '-'), '|') AS sp
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Map surface batch 2: map_entries (native struct{key,value} shape),
    // map_concat (LAST map wins on duplicate keys, first-appearance key
    // order — composed deterministically instead of relying on Spark's
    // mapKeyDedupPolicy), element_at (the map-subscript alias: a LIST,
    // [] when absent).
    "q_dialect_map2" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "to_json(map_concat(map(['a','b'], [o_orderkey, 2]), map(['b','c'], [9, o_custkey]))) AS mc, " +
          "to_json(map_entries(map(['a','b'], [o_orderkey, o_custkey]))) AS me, " +
          "array_to_string(element_at(map(['a','b'], [o_orderkey, o_custkey]), 'b'), ',') AS eb, " +
          "coalesce(array_to_string(element_at(map(['a'], [o_orderkey]), 'z'), ','), '') AS ez " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  to_json(map_concat(map(['a','b'], [o_orderkey, 2]), map(['b','c'], [9, o_custkey]))) AS mc,
             |  to_json(map_entries(map(['a','b'], [o_orderkey, o_custkey]))) AS me,
             |  array_to_string(element_at(map(['a','b'], [o_orderkey, o_custkey]), 'b'), ',') AS eb,
             |  coalesce(array_to_string(element_at(map(['a'], [o_orderkey]), 'z'), ','), '') AS ez
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // format(): fmt-style placeholders — sequential {}, positional {n},
    // {{ }} escapes, NULL argument → NULL result (concat-desugared, so
    // Spark's NULL-propagating concat IS the DuckDB rule); {:spec}
    // rejects at analysis.
    "q_dialect_format" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "format('{}-{}', o_orderstatus, o_orderkey) AS f1, " +
          "format('{1}/{0}', o_orderstatus, o_orderpriority) AS f2, " +
          "format('{{k}} {} {{v}}', o_orderkey) AS f3, " +
          "format('{0}={0}', o_orderstatus) AS f4, " +
          "coalesce(format('{}', nullif(o_orderstatus, o_orderstatus)), 'NULLED') AS f5 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  format('{}-{}', o_orderstatus, o_orderkey) AS f1,
             |  format('{1}/{0}', o_orderstatus, o_orderpriority) AS f2,
             |  format('{{k}} {} {{v}}', o_orderkey) AS f3,
             |  format('{0}={0}', o_orderstatus) AS f4,
             |  coalesce(format('{}', nullif(o_orderstatus, o_orderstatus)), 'NULLED') AS f5
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Path helpers + the hex family (Spark natives are parity-exact:
    // uppercase digits, string-byte hex, probed).
    "q_dialect_path_hex" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(parse_path(concat('/data/', o_orderpriority, '/f', cast(o_orderkey AS VARCHAR), '.parquet')), '|') AS pp, " +
          "parse_dirname(concat('/data/', o_orderpriority, '/x.csv')) AS pd, " +
          "parse_filename(concat('/data/', o_orderpriority, '/f', cast(o_orderkey AS VARCHAR), '.parquet'), true) AS pf, " +
          "parse_dirpath(concat('/data/', o_orderpriority, '/x.csv')) AS pdp, " +
          "array_to_string(parse_path(concat('rel/', o_orderstatus, '.json')), '|') AS ppr, " +
          "hex(o_orderkey) AS hx, hex(o_orderstatus) AS hs, " +
          "hex(unhex('4142')) AS hu, hex(from_hex('ff00')) AS hf " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(parse_path(concat('/data/', o_orderpriority, '/f', cast(o_orderkey AS VARCHAR), '.parquet')), '|') AS pp,
             |  parse_dirname(concat('/data/', o_orderpriority, '/x.csv')) AS pd,
             |  parse_filename(concat('/data/', o_orderpriority, '/f', cast(o_orderkey AS VARCHAR), '.parquet'), true) AS pf,
             |  parse_dirpath(concat('/data/', o_orderpriority, '/x.csv')) AS pdp,
             |  array_to_string(parse_path(concat('rel/', o_orderstatus, '.json')), '|') AS ppr,
             |  hex(o_orderkey) AS hx, hex(o_orderstatus) AS hs,
             |  hex(unhex('4142')) AS hu, hex(from_hex('ff00')) AS hf
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Aggregate batch: any_value (gate-checkable only over group-constant
    // values — DuckDB reads scan order, Spark plan order), fsum/favg
    // (DuckDB 1.0's compensated spellings matched its own sum/avg
    // bit-for-bit on a cancellation fixture, so the alias is
    // value-exact), bitstring_agg (membership fold over literal bounds).
    "q_dialect_agg_misc" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderpriority AS pri, " +
          "any_value(upper(o_orderpriority)) AS av, " +
          "round(fsum(o_totalprice), 2) AS fs, " +
          "favg(o_orderkey % 10) AS fa, " +
          "bitstring_agg(o_orderkey % 16, 0, 15) AS bits, " +
          "group_concat(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS gc " +
          "FROM orders WHERE o_orderkey < 2000 " +
          "GROUP BY o_orderpriority ORDER BY pri"),
      Some("""SELECT o_orderpriority AS pri,
             |  any_value(upper(o_orderpriority)) AS av,
             |  round(fsum(o_totalprice), 2) AS fs,
             |  favg(o_orderkey % 10) AS fa,
             |  bitstring_agg(o_orderkey % 16, 0, 15)::VARCHAR AS bits,
             |  group_concat(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS gc
             |FROM orders WHERE o_orderkey < 2000
             |GROUP BY o_orderpriority ORDER BY pri""".stripMargin)),

    // histogram(): per-group value→count MAP with keys sorted ascending
    // (DuckDB probed) — one collect_list aggregate state + a codegen'd
    // count-per-distinct fold; to_json on both engines for the compare.
    "q_dialect_histogram" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderpriority AS pri, " +
          "to_json(histogram(o_orderstatus)) AS hs, " +
          "to_json(histogram(o_custkey % 7)) AS hp " +
          "FROM orders GROUP BY o_orderpriority ORDER BY pri"),
      Some("""SELECT o_orderpriority AS pri,
             |  to_json(histogram(o_orderstatus)) AS hs,
             |  to_json(histogram(o_custkey % 7)) AS hp
             |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin)),

    // `* RENAME (old AS new)`: star expansion with renamed outputs —
    // position and value keep, the name changes; composes with EXCLUDE/
    // REPLACE. The DuckDB 1.0 oracle has no RENAME (added later), so it
    // writes the expansion with explicit aliases — same result set.
    "q_dialect_star_rename" -> QueryDef(
      (s, d) => run(db(s, d, "nation"),
        "SELECT * RENAME (n_name AS nation, n_regionkey AS region) " +
          "FROM nation ORDER BY n_nationkey"),
      Some("""SELECT n_nationkey, n_name AS nation, n_regionkey AS region
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // Lateral column aliases: SELECT items reference earlier items'
    // aliases (`count(*) AS n, n*10 AS n10`), incl. HAVING over the
    // alias — bound by substituting the alias's expression at the
    // reference AFTER normal resolution fails, so real columns shadow
    // aliases (DuckDB's precedence, probed). Identical SQL both engines.
    "q_dialect_lateral_alias" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_custkey, count(*) AS n, n * 10 AS n10, " +
          "max(o_totalprice) AS top, top / 2 AS half_top " +
          "FROM orders GROUP BY o_custkey HAVING n >= 3 " +
          "ORDER BY o_custkey"),
      Some("""SELECT o_custkey, count(*)::BIGINT AS n, n * 10 AS n10,
             |  max(o_totalprice) AS top, top / 2 AS half_top
             |FROM orders GROUP BY o_custkey HAVING n >= 3
             |ORDER BY o_custkey""".stripMargin)),

    // Distribution aggregates with no Spark native — typed Aggregator
    // udafs (still partial-aggregate + one shuffle): entropy (Shannon
    // base 2 over value counts; works on ANY type) and mad (median
    // absolute deviation, both medians interpolated). mad needs no
    // rounding — medians are selections, not sums, so both engines pick
    // IEEE-identical values; entropy rounds away summation-order ulps.
    "q_dialect_entropy_mad" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, " +
          "round(entropy(l_linestatus), 4) AS ent_status, " +
          "round(entropy(l_quantity), 4) AS ent_qty, " +
          "mad(l_quantity) AS mad_qty, " +
          "mad(l_extendedprice) AS mad_price, " +
          "count(*) AS n " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(entropy(l_linestatus), 4) AS ent_status,
             |  round(entropy(l_quantity), 4) AS ent_qty,
             |  mad(l_quantity) AS mad_qty,
             |  mad(l_extendedprice) AS mad_price,
             |  count(*)::BIGINT AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // product(): DOUBLE multiply, NULLs skipped (typed Aggregator —
    // partial products merge across partitions; exact here because
    // integer-valued doubles multiply exactly in any order).
    "q_dialect_product" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_orderkey, product(l_linenumber) AS p, count(*) AS n " +
          "FROM lineitem WHERE l_orderkey <= 1000 " +
          "GROUP BY l_orderkey ORDER BY l_orderkey"),
      Some("""SELECT l_orderkey, product(l_linenumber) AS p,
             |  count(*)::BIGINT AS n
             |FROM lineitem WHERE l_orderkey <= 1000
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // Linear-regression aggregate family: Spark's natives match
    // DuckDB's standard definitions exactly (probed); slope/intercept/
    // r2 + the moment components in one grouped pass.
    "q_dialect_regr" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, " +
          "round(regr_slope(l_extendedprice, l_quantity), 4) AS slope, " +
          "round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept, " +
          "round(regr_r2(l_extendedprice, l_quantity), 6) AS r2, " +
          "regr_count(l_extendedprice, l_quantity) AS n, " +
          "round(regr_avgx(l_extendedprice, l_quantity), 4) AS ax, " +
          "round(regr_avgy(l_extendedprice, l_quantity), 4) AS ay " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
             |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             |  cast(regr_count(l_extendedprice, l_quantity) AS bigint) AS n,
             |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS ax,
             |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS ay
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // skewness/kurtosis: DuckDB's SAMPLE-corrected G1/G2 composed from
    // Spark's population g1/g2 + count (probed correction factors);
    // degenerate groups (n below the cutoff, constant input) read NULL
    // on both engines (spec-pinned).
    "q_dialect_stats_agg3" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, round(skewness(l_extendedprice), 4) AS sk, " +
          "round(kurtosis(l_extendedprice), 4) AS ku, " +
          "round(skewness(l_quantity), 4) AS skq " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      Some("""SELECT l_returnflag, round(skewness(l_extendedprice), 4) AS sk,
             |  round(kurtosis(l_extendedprice), 4) AS ku,
             |  round(skewness(l_quantity), 4) AS skq
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // DEFAULT column values: declared per-column literals fill omitted
    // columns and the bare DEFAULT keyword in VALUES rows (INSERT …
    // VALUES and INSERT … SELECT column lists alike); defaults persist
    // in the catalog. Oracle reconstructs the final image from the
    // replayed inserts.
    "q_dialect_default" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        if (!g.tableNames.contains("dflt_t")) {
          g.query("CREATE TABLE dflt_t (id INT, v INT DEFAULT 7, " +
            "tag VARCHAR(8) DEFAULT 'none', w DOUBLE)")
            .fold(e => sys.error(e.msg), identity)
          g.query("INSERT INTO dflt_t (id) VALUES (1)")
            .fold(e => sys.error(e.msg), identity)
          g.query("INSERT INTO dflt_t VALUES (2, DEFAULT, 'x', 1.5), " +
            "(3, 30, DEFAULT, DEFAULT)")
            .fold(e => sys.error(e.msg), identity)
          g.query("INSERT INTO dflt_t (id, w) SELECT o_orderkey AS id, " +
            "o_totalprice AS w FROM orders WHERE o_orderkey > 3 AND o_orderkey < 500")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT id, v, tag, round(w, 4) AS w FROM dflt_t ORDER BY id")
      },
      Some("""SELECT id, v, tag, round(w, 4) AS w FROM (
             |  SELECT * FROM (VALUES (1, 7, 'none', CAST(NULL AS DOUBLE)),
             |    (2, 7, 'x', 1.5), (3, 30, 'none', CAST(NULL AS DOUBLE))) t0(id, v, tag, w)
             |  UNION ALL
             |  SELECT o_orderkey, 7, 'none', o_totalprice FROM orders
             |  WHERE o_orderkey > 3 AND o_orderkey < 500
             |) t ORDER BY id""".stripMargin)),

    // DATE arithmetic: date ± integer = day offsets, date - date = day
    // count (DuckDB-probed types; timestamps reject like its binder) —
    // analyzer rebinds onto date_add/date_sub/datediff.
    "q_dialect_date_arith" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) + 30 AS plus30, " +
          "CAST(o_orderdate AS DATE) - 7 AS minus7, " +
          "CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS since " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) + 30 AS plus30,
             |  CAST(o_orderdate AS DATE) - 7 AS minus7,
             |  cast(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS int) AS since
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Batch 10: concat_ws (NULL-skipping, both engines), list_aggregate
    // sugar (sum/min/max/avg/count over existing list folds), GLOB
    // (glob→anchored-regex at parse), strlen/lcase/ucase aliases.
    "q_dialect_funcs10" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "concat_ws('|', o_orderstatus, o_orderpriority, CAST(o_orderkey AS VARCHAR)) AS cw, " +
          "list_aggregate([o_orderkey, o_orderkey + 2, NULL], 'sum') AS ls, " +
          "list_aggregate([o_totalprice, 0 - o_totalprice], 'avg') AS la, " +
          "list_aggregate([o_orderkey, NULL], 'count') AS lc, " +
          "strlen(o_orderpriority) AS sl, lcase(o_orderstatus) AS lo, " +
          "ucase(o_orderpriority) AS up, " +
          "CASE WHEN o_orderpriority GLOB '[0-9]-*' THEN 1 ELSE 0 END AS g " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  concat_ws('|', o_orderstatus, o_orderpriority, CAST(o_orderkey AS VARCHAR)) AS cw,
             |  cast(list_aggregate([o_orderkey, o_orderkey + 2, NULL], 'sum') AS bigint) AS ls,
             |  list_aggregate([o_totalprice, 0 - o_totalprice], 'avg') AS la,
             |  cast(list_aggregate([o_orderkey, NULL], 'count') AS bigint) AS lc,
             |  cast(strlen(o_orderpriority) AS int) AS sl, lcase(o_orderstatus) AS lo,
             |  ucase(o_orderpriority) AS up,
             |  CASE WHEN o_orderpriority GLOB '[0-9]-*' THEN 1 ELSE 0 END AS g
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // SIMILAR TO: DuckDB's full-string regex match (no LIKE-wildcard
    // translation), desugared at parse onto anchored regexp_matches —
    // 3VL preserved under NOT.
    "q_dialect_similar" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_orderpriority, " +
          "CASE WHEN o_orderpriority NOT SIMILAR TO '[0-9]-(L.*|M.*)' " +
          "THEN 1 ELSE 0 END AS hot " +
          "FROM orders WHERE o_orderpriority SIMILAR TO '[0-9]-[A-Z ]+' " +
          "AND o_orderkey < 3000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_orderpriority,
             |  CASE WHEN o_orderpriority NOT SIMILAR TO '[0-9]-(L.*|M.*)'
             |       THEN 1 ELSE 0 END AS hot
             |FROM orders WHERE o_orderpriority SIMILAR TO '[0-9]-[A-Z ]+'
             |AND o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin)),

    // Named structs: {'k': v} literals / struct_pack(k := v), dot
    // access on struct-typed columns (s.field resolves via the
    // binding-fallback walk) and case-insensitive string-key
    // struct_extract — all DuckDB-probed semantics. (DuckDB splits
    // numeric keys = unnamed tuples / string keys = named structs; this
    // engine accepts either form on any struct — gates stay inside the
    // DuckDB-legal subset.) Struct columns serialize per-field for the
    // gate; raw struct outputs are spec-pinned.
    "q_dialect_struct" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, s.stat AS st, struct_extract(s, 'TOT') AS tt, " +
          "s.pri AS pr, to_json(s) AS js, " +
          "to_json({'k': [o_orderkey, o_orderkey + 1], 'n': {'c': o_orderkey}}) AS jn " +
          "FROM (SELECT o_orderkey, {'stat': o_orderstatus, " +
          "'tot': o_totalprice, 'pri': o_orderpriority} AS s " +
          "FROM orders WHERE o_orderkey < 2000) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, s.stat AS st, struct_extract(s, 'TOT') AS tt,
             |  s.pri AS pr, to_json(s) AS js,
             |  to_json({'k': [o_orderkey, o_orderkey + 1], 'n': {'c': o_orderkey}}) AS jn
             |FROM (SELECT o_orderkey, {'stat': o_orderstatus,
             |  'tot': o_totalprice, 'pri': o_orderpriority} AS s
             |  FROM orders WHERE o_orderkey < 2000) t
             |ORDER BY o_orderkey""".stripMargin)),

    // DECIMAL division parity: DuckDB's `/` on decimal operands returns
    // DOUBLE (probed: typeof(dec/dec) == typeof(dec/int) == DOUBLE), so
    // the analyzer casts decimal legs to double before dividing — the
    // two engines then run the SAME IEEE division on the SAME
    // decimal→double values (deterministic, no rounding needed); +,-,*
    // stay exact decimal arithmetic.
    "q_dialect_decimal_div" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_orderkey, l_linenumber, " +
          "CAST(l_extendedprice AS DECIMAL(14, 2)) / CAST(l_quantity AS DECIMAL(9, 2)) AS unit_price, " +
          "CAST(l_extendedprice AS DECIMAL(14, 2)) / 7 AS sevenths, " +
          "CAST(l_extendedprice AS DECIMAL(14, 2)) / CAST(0 AS DECIMAL(5, 2)) AS div0 " +
          "FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(l_extendedprice AS DECIMAL(14, 2)) / CAST(l_quantity AS DECIMAL(9, 2)) AS unit_price,
             |  CAST(l_extendedprice AS DECIMAL(14, 2)) / 7 AS sevenths,
             |  CAST(l_extendedprice AS DECIMAL(14, 2)) / CAST(0 AS DECIMAL(5, 2)) AS div0
             |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // round(DECIMAL) type parity: DuckDB returns DECIMAL(p, clamp(n,0,s))
    // — not DOUBLE — for decimal inputs (probed: round(dec(10,4)) →
    // DECIMAL(10,0), round(dec(10,4),2) → DECIMAL(10,2), negative n →
    // scale 0, n>s capped at s). Values round half-away-from-zero on
    // both engines (Spark HALF_UP == DuckDB for decimals); exact .5
    // halves exercised via integral l_quantity + 0.5 in both signs.
    "q_dialect_round_dec" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_orderkey, l_linenumber, " +
          "cast(round(CAST(l_extendedprice AS DECIMAL(14, 4))) AS DOUBLE) AS r0, " +
          "cast(round(CAST(l_extendedprice AS DECIMAL(14, 4)), 2) AS DOUBLE) AS r2, " +
          "cast(round(CAST(l_extendedprice AS DECIMAL(14, 4)), -1) AS DOUBLE) AS rneg, " +
          "cast(round(CAST(l_extendedprice AS DECIMAL(14, 4)), 9) AS DOUBLE) AS rcap, " +
          "cast(round(CAST(l_quantity + 0.5 AS DECIMAL(9, 2))) AS DOUBLE) AS rhalf_up, " +
          "cast(round(CAST(-(l_quantity + 0.5) AS DECIMAL(9, 2))) AS DOUBLE) AS rhalf_dn " +
          "FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(CAST(l_extendedprice AS DECIMAL(14, 4)))::DOUBLE AS r0,
             |  round(CAST(l_extendedprice AS DECIMAL(14, 4)), 2)::DOUBLE AS r2,
             |  round(CAST(l_extendedprice AS DECIMAL(14, 4)), -1)::DOUBLE AS rneg,
             |  round(CAST(l_extendedprice AS DECIMAL(14, 4)), 9)::DOUBLE AS rcap,
             |  round(CAST(l_quantity + 0.5 AS DECIMAL(9, 2)))::DOUBLE AS rhalf_up,
             |  round(CAST(-(l_quantity + 0.5) AS DECIMAL(9, 2)))::DOUBLE AS rhalf_dn
             |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Literal-arithmetic DECIMAL typing (round-12 verdict #3): DuckDB
    // types +,-,*,% over decimal literals and integers as DECIMAL, so
    // exact-half integer casts round half-AWAY there, while division
    // yields DOUBLE and rounds half-EVEN. The engine carries decimal
    // literals on DOUBLE but classifies the expression TREE
    // (Analyzer.duckDecimalTyped) to pick the matching rounding mode.
    // e-notation literals (0.5e0 — DOUBLE in DuckDB) lex as their own
    // token and desugar to CAST(.. AS DOUBLE), so they keep half-even.
    "q_dialect_decimal_typing" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "CAST(o_orderkey + 0.5 AS BIGINT) AS lit_add, " +
          "CAST(o_orderkey - 2.5 AS BIGINT) AS lit_sub, " +
          "CAST(o_orderkey * 0.5 AS BIGINT) AS lit_mul, " +
          "CAST((o_orderkey % 7) + 0.5 AS BIGINT) AS lit_mod, " +
          "CAST(0.5 - o_orderkey AS BIGINT) AS lit_neg, " +
          "CAST(o_orderkey / 2 AS BIGINT) AS div_even, " +
          "CAST(o_orderkey * 0.5e0 AS BIGINT) AS sci_mul, " +
          "typeof(o_orderkey * 0.5e0) AS sci_t " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(o_orderkey + 0.5 AS BIGINT) AS lit_add,
             |  CAST(o_orderkey - 2.5 AS BIGINT) AS lit_sub,
             |  CAST(o_orderkey * 0.5 AS BIGINT) AS lit_mul,
             |  CAST((o_orderkey % 7) + 0.5 AS BIGINT) AS lit_mod,
             |  CAST(0.5 - o_orderkey AS BIGINT) AS lit_neg,
             |  CAST(o_orderkey / 2 AS BIGINT) AS div_even,
             |  CAST(o_orderkey * 0.5e0 AS BIGINT) AS sci_mul,
             |  typeof(o_orderkey * 0.5e0) AS sci_t
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Postfix field access on COMPUTED operands (round-12 parser
    // extension): ({'k': v}).k, list-of-structs [..][i].f, and
    // struct_pack(..).f all parse as struct_extract chains; identical
    // SQL runs on DuckDB.
    "q_dialect_postfix" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "({'a': o_orderkey % 5, 'b': o_orderstatus}).b AS f1, " +
          "([{'v': o_orderkey % 3}, {'v': 7}])[2].v AS f2, " +
          "struct_pack(x := o_orderkey % 9).x AS f3, " +
          "CAST(1.5e2 AS BIGINT) AS f4 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  ({'a': o_orderkey % 5, 'b': o_orderstatus}).b AS f1,
             |  ([{'v': o_orderkey % 3}, {'v': 7}])[2].v AS f2,
             |  struct_pack(x := o_orderkey % 9).x AS f3,
             |  CAST(1.5e2 AS BIGINT) AS f4
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // regexp_extract_all — group 0 (whole match) default like DuckDB
    // (Spark's own default is 1, so the index always passes explicitly);
    // array outputs serialized for the pandas gate harness.
    "q_dialect_regexp_extract_all" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(regexp_extract_all(o_orderpriority || '-' || cast(o_orderkey AS VARCHAR), '[0-9]+'), ',') AS nums, " +
          "array_to_string(regexp_extract_all(o_orderpriority, '([A-Z]+)', 1), ',') AS words " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(regexp_extract_all(o_orderpriority || '-' || cast(o_orderkey AS VARCHAR), '[0-9]+'), ',') AS nums,
             |  array_to_string(regexp_extract_all(o_orderpriority, '([A-Z]+)', 1), ',') AS words
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Batch 8: byte/bit lengths, sha256, unicode, ifnull, the
    // string-similarity Catalyst expressions (hamming/jaccard —
    // functions/StringExpressions.scala), and date_diff boundary
    // crossings (day/month/year via calendar components — exact integer
    // arithmetic on both engines).
    "q_dialect_funcs8" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "octet_length(o_orderpriority) AS ol, " +
          "bit_length(o_orderstatus) AS bl, " +
          "sha256(o_orderpriority) AS h, " +
          "unicode(o_orderstatus) AS u, " +
          "ifnull(nullif(o_orderstatus, 'O'), 'X') AS if2, " +
          "hamming(o_orderstatus, 'O') AS hm, " +
          "round(jaccard(o_orderpriority, '1-URGENT'), 6) AS jc, " +
          "date_diff('day', DATE '1995-01-01', o_orderdate) AS dd, " +
          "date_diff('month', DATE '1995-01-01', o_orderdate) AS dm, " +
          "date_diff('year', DATE '1995-01-01', o_orderdate) AS dy " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  cast(strlen(o_orderpriority) AS int) AS ol,
             |  cast(strlen(o_orderstatus) * 8 AS int) AS bl,
             |  sha256(o_orderpriority) AS h,
             |  unicode(o_orderstatus) AS u,
             |  ifnull(nullif(o_orderstatus, 'O'), 'X') AS if2,
             |  hamming(o_orderstatus, 'O') AS hm,
             |  round(jaccard(o_orderpriority, '1-URGENT'), 6) AS jc,
             |  date_diff('day', DATE '1995-01-01', o_orderdate) AS dd,
             |  date_diff('month', DATE '1995-01-01', o_orderdate) AS dm,
             |  date_diff('year', DATE '1995-01-01', o_orderdate) AS dy
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Interpolated quantiles: DuckDB's quantile_cont(x, q) call form and
    // the standard percentile_cont(q) WITHIN GROUP — both onto Spark's
    // exact interpolated percentile (linear on both engines).
    "q_dialect_quantile" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, " +
          "round(quantile_cont(o_totalprice, 0.5), 4) AS med, " +
          "round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90 " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  round(quantile_cont(o_totalprice, 0.5), 4) AS med,
             |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // quantile_disc / percentile_disc WITHIN GROUP: the DISCRETE
    // percentile — smallest input value whose cume_dist ≥ p — onto
    // Catalyst's native PercentileDisc (result cast back to the input
    // type, DuckDB parity; exact, since the result IS an input value —
    // no float-accumulation concerns, unlike the interpolated family).
    // The DESC form pins the reverse flag (not expressible as 1-p).
    "q_dialect_quantile_disc" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderstatus, " +
          "quantile_disc(o_totalprice, 0.5) AS med, " +
          "quantile_disc(o_custkey, 0.9) AS k90, " +
          "percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25, " +
          "percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice DESC) AS p25d " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  quantile_disc(o_totalprice, 0.5) AS med,
             |  quantile_disc(o_custkey, 0.9) AS k90,
             |  percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
             |  percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice DESC) AS p25d
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // json_extract_string over JSON built from row values — DuckDB's
    // extractor onto Spark's get_json_object (same $.path subset, NULL
    // on a miss on both engines).
    "q_dialect_json" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "json_extract_string('{\"id\": ' || CAST(o_orderkey AS VARCHAR) || " +
          "', \"s\": {\"p\": \"' || o_orderpriority || '\"}}', '$.s.p') AS pri, " +
          "json_extract_string('{\"id\": ' || CAST(o_orderkey AS VARCHAR) || '}', " +
          "'$.id') AS idtxt, " +
          "json_extract_string('{\"id\": 1}', '$.missing') AS miss " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  json_extract_string('{"id": ' || CAST(o_orderkey AS VARCHAR) ||
             |    ', "s": {"p": "' || o_orderpriority || '"}}', '$.s.p') AS pri,
             |  json_extract_string('{"id": ' || CAST(o_orderkey AS VARCHAR) || '}',
             |    '$.id') AS idtxt,
             |  json_extract_string('{"id": 1}', '$.missing') AS miss
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // Time-windowed RANGE frames: INTERVAL bounds (normalized to epoch
    // MICROS, so sub-second timestamps stay exact) — trailing-hour and
    // centered 30-minute event counts per user in one window shuffle.
    "q_dialect_win_interval" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT event_id, " +
          "count(*) OVER (PARTITION BY user_id ORDER BY ts " +
          "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_1h, " +
          "count(*) OVER (PARTITION BY user_id ORDER BY ts " +
          "RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING " +
          "AND INTERVAL 30 MINUTE FOLLOWING) AS n_win " +
          "FROM events WHERE user_id <= 100 ORDER BY event_id"),
      Some("""SELECT event_id,
             |  cast(count(*) OVER (PARTITION BY user_id ORDER BY ts
             |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
             |    AND CURRENT ROW) AS bigint) AS n_1h,
             |  cast(count(*) OVER (PARTITION BY user_id ORDER BY ts
             |    RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
             |    AND INTERVAL 30 MINUTE FOLLOWING) AS bigint) AS n_win
             |FROM events WHERE user_id <= 100 ORDER BY event_id""".stripMargin)),

    // Windowed ordered aggregates: string_agg/array_agg OVER — a
    // running collect over the frame, within-frame order = the OVER
    // clause's sort order (required; an unordered distributed collect
    // would be nondeterministic). The array_agg rides NESTED inside
    // array_to_string — inline-OVER calls in projection expressions
    // desugar to hidden window items. IDENTICAL SQL both engines.
    "q_dialect_win_agg" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "string_agg(o_orderstatus, '|') OVER (PARTITION BY o_custkey " +
          "ORDER BY o_orderkey) AS run_status, " +
          "array_to_string(array_agg(o_orderkey) OVER (PARTITION BY " +
          "o_custkey ORDER BY o_orderkey), ',') AS run_keys " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  string_agg(o_orderstatus, '|') OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderkey) AS run_status,
             |  array_to_string(array_agg(o_orderkey) OVER (PARTITION BY
             |    o_custkey ORDER BY o_orderkey), ',') AS run_keys
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // GROUPS window frames: offsets count peer GROUPS (distinct order-
    // key values). Spark has no GROUPS mode; the lowering pre-attaches
    // dense_rank of the order keys and ranges over it (rank distance IS
    // group distance — exact, incl. CURRENT ROW = whole peer group).
    // DuckDB 1.0 has no GROUPS mode either, so the oracle applies the
    // standard's definition through the same identity with ITS OWN
    // dense_rank/RANGE machinery. l_quantity has heavy ties per flag —
    // the frames genuinely span multi-row peer groups.
    "q_dialect_win_groups" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_orderkey, l_linenumber, " +
          "sum(l_quantity) OVER (PARTITION BY l_returnflag " +
          "ORDER BY l_quantity " +
          "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS gsum, " +
          "count(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity " +
          "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcnt " +
          "FROM lineitem WHERE l_orderkey <= 400 " +
          "ORDER BY l_orderkey, l_linenumber"),
      Some("""WITH r AS (
             |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             |    dense_rank() OVER (PARTITION BY l_returnflag
             |      ORDER BY l_quantity) AS dr
             |  FROM lineitem WHERE l_orderkey <= 400)
             |SELECT l_orderkey, l_linenumber,
             |  sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY dr
             |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS gsum,
             |  cast(count(*) OVER (PARTITION BY l_returnflag ORDER BY dr
             |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS bigint) AS gcnt
             |FROM r ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // COLUMNS('regex'): regex-filtered star expansion (DuckDB's partial
    // match over column names) — pure analysis, the plan reads only the
    // matched columns.
    "q_dialect_columns" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT COLUMNS('order') FROM orders WHERE o_orderkey < 2000 " +
          "ORDER BY o_orderkey"),
      Some("""SELECT COLUMNS('order') FROM orders WHERE o_orderkey < 2000
             |ORDER BY o_orderkey""".stripMargin)),

    // fn(COLUMNS(…)): per-column function application — the aggregate
    // form (min over every kept column), the scalar form with an extra
    // argument (round(COLUMNS('re'), 1)), and the name propagation
    // through a derived table. Output names are the BARE column names
    // (DuckDB 1.0 probed: min(COLUMNS(*)) outputs are a, b, … not
    // "min(a)").
    "q_dialect_columns_fn" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT min(COLUMNS(*)) FROM (" +
          "SELECT l_orderkey, round(COLUMNS('^l_(quantity|discount|tax)$'), 1) " +
          "FROM lineitem WHERE l_orderkey < 1000) t"),
      Some("""SELECT min(COLUMNS(*)) FROM (
             |  SELECT l_orderkey, round(COLUMNS('^l_(quantity|discount|tax)$'), 1)
             |  FROM lineitem WHERE l_orderkey < 1000) t""".stripMargin)),

    // …and the EXCLUDE form straight over a table: max of every
    // non-excluded column, names checked by the gate's schema compare.
    "q_dialect_columns_fn2" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT max(COLUMNS(* EXCLUDE (l_returnflag, l_linestatus, l_shipdate))) " +
          "FROM lineitem WHERE l_orderkey < 1000"),
      Some("""SELECT max(COLUMNS(* EXCLUDE (l_returnflag, l_linestatus, l_shipdate)))
             |FROM lineitem WHERE l_orderkey < 1000""".stripMargin)),

    // Vector list functions over the embeddings fixture: cosine /
    // euclidean / dot, all fused-loop codegen'd expressions (the ANN
    // operators' DotProduct/L2Distance) — index-order accumulation
    // matches DuckDB's loop to the gate's rounding; unequal dims raise.
    "q_dialect_list_vec" -> QueryDef(
      (s, d) => run(db(s, d, "embeddings"),
        "SELECT a.vec_id AS id1, b.vec_id AS id2, " +
          "round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cossim, " +
          "round(list_distance(a.embedding, b.embedding), 6) AS dist, " +
          "round(list_dot_product(a.embedding, b.embedding), 6) AS dot, " +
          "round(list_inner_product(a.embedding, b.embedding), 6) AS ip " +
          "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 " +
          "WHERE a.vec_id < 200 ORDER BY a.vec_id"),
      Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cossim,
             |  round(list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS dist,
             |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS dot,
             |  round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS ip
             |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
             |WHERE a.vec_id < 200 ORDER BY a.vec_id""".stripMargin)),

    // String-similarity batch: full Damerau-Levenshtein (alphabet table —
    // 'CA'/'ABC' reads 2 where the OSA shortcut says 3), classic Jaro,
    // Jaro-Winkler (unconditional 0.1 prefix boost, cap 4), and
    // mismatches (the hamming alias). All codegen'd expressions.
    "q_dialect_strsim" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, " +
          "damerau_levenshtein(c_name, reverse(c_name)) AS dl, " +
          "damerau_levenshtein(c_mktsegment, 'MACHINERY') AS dl2, " +
          "round(jaro_similarity(c_name, c_mktsegment), 6) AS js, " +
          "round(jaro_winkler_similarity(c_name, c_mktsegment), 6) AS jw, " +
          "round(jaro_winkler_similarity(c_name, concat(substr(c_name, 1, 8), 'X')), 6) AS jwp, " +
          "mismatches(c_name, reverse(c_name)) AS mm " +
          "FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey"),
      Some("""SELECT c_custkey,
             |  damerau_levenshtein(c_name, reverse(c_name)) AS dl,
             |  damerau_levenshtein(c_mktsegment, 'MACHINERY') AS dl2,
             |  round(jaro_similarity(c_name, c_mktsegment), 6) AS js,
             |  round(jaro_winkler_similarity(c_name, c_mktsegment), 6) AS jw,
             |  round(jaro_winkler_similarity(c_name, concat(substr(c_name, 1, 8), 'X')), 6) AS jwp,
             |  mismatches(c_name, reverse(c_name)) AS mm
             |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin)),

    // Scalar batch 12: unicode normalizers (strip_accents keeps
    // non-decomposable ø — probed), ord (the unicode() alias: '' reads
    // -1), and format_bytes (binary units, value TRUNCATED to one
    // decimal: 1945 → '1.8 KiB').
    "q_dialect_funcs12" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "strip_accents(concat(o_orderpriority, '-Àéøñü')) AS sa, " +
          "nfc_normalize(concat(o_orderstatus, 'e', chr(769))) AS nfc, " +
          "ord(o_orderstatus) AS oc, " +
          "format_bytes(CAST(o_totalprice AS BIGINT)) AS fb, " +
          "format_bytes(o_orderkey * 1048576) AS fb2, " +
          "format_bytes(o_orderkey % 1000) AS fb3 " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  strip_accents(concat(o_orderpriority, '-Àéøñü')) AS sa,
             |  nfc_normalize(concat(o_orderstatus, 'e', chr(769))) AS nfc,
             |  ord(o_orderstatus) AS oc,
             |  format_bytes(CAST(o_totalprice AS BIGINT)) AS fb,
             |  format_bytes(o_orderkey * 1048576) AS fb2,
             |  format_bytes(o_orderkey % 1000) AS fb3
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // List utility batch 2: positional select (1-based, 0/out-of-range
    // read NULL — and a longer mask NULL-pads on both engines), mask
    // (list outputs serialized via array_to_string for the pandas gate
    // harness; NULL-bearing lists keep their NULLs visible through a
    // coalescing transform so the pad/out-of-range semantics stay pinned),
    // filter, resize (truncate / NULL-pad), grade_up (stable ascending
    // indexes, NULLs last), reverse_sort, any_value (first non-NULL).
    "q_dialect_list_fns2" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "array_to_string(list_transform(list_select(list_value(10, 20, 30), list_value(3, 1, 7)), x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',') AS sel, " +
          "array_to_string(list_where(list_value(o_orderkey, o_custkey, 0), list_value(true, false, true)), ',') AS wh, " +
          "array_to_string(list_transform(list_resize(list_value(o_orderkey, o_custkey), 4), x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',') AS rz, " +
          "array_to_string(list_resize(list_value(o_orderkey, o_custkey, 1, 2), 2), ',') AS rz2, " +
          "array_to_string(list_grade_up(list_value(o_custkey, o_orderkey, o_custkey)), ',') AS gu, " +
          "array_to_string(list_grade_up(list_select(list_value(5, 2, 8), list_value(2, 9, 1, 3))), ',') AS gu2, " +
          "array_to_string(list_reverse_sort(list_value(o_orderkey % 7, o_custkey % 7, 3)), ',') AS rs, " +
          "list_any_value(list_select(list_value(o_orderkey, o_custkey), list_value(9, 1))) AS av " +
          "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  array_to_string(list_transform(list_select(list_value(10, 20, 30), list_value(3, 1, 7)), x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',') AS sel,
             |  array_to_string(list_where(list_value(o_orderkey, o_custkey, 0), list_value(true, false, true)), ',') AS wh,
             |  array_to_string(list_transform(list_resize(list_value(o_orderkey, o_custkey), 4), x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',') AS rz,
             |  array_to_string(list_resize(list_value(o_orderkey, o_custkey, 1, 2), 2), ',') AS rz2,
             |  array_to_string(list_grade_up(list_value(o_custkey, o_orderkey, o_custkey)), ',') AS gu,
             |  array_to_string(list_grade_up(list_select(list_value(5, 2, 8), list_value(2, 9, 1, 3))), ',') AS gu2,
             |  array_to_string(list_reverse_sort(list_value(o_orderkey % 7, o_custkey % 7, 3)), ',') AS rs,
             |  list_any_value(list_select(list_value(o_orderkey, o_custkey), list_value(9, 1))) AS av
             |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // time_bucket: epoch-aligned fixed-width buckets (every non-month
    // width aligns to TimescaleDB's Monday 2000-01-03 origin, DuckDB
    // parity) — the classic downsampling aggregate, one hash-aggregate
    // shuffle on the bucket. The odd widths (3 DAY, 7 HOUR) do NOT
    // divide the 2000-01-01→-03 offset, so they pin the origin choice.
    "q_dialect_time_bucket" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS bucket, " +
          "time_bucket(INTERVAL 3 DAY, ts) AS b3d, " +
          "time_bucket(INTERVAL 7 HOUR, ts) AS b7h, " +
          "count(*) AS n, count(DISTINCT user_id) AS users " +
          "FROM events WHERE event_type = 'click' " +
          "GROUP BY 1, 2, 3 " +
          "ORDER BY bucket LIMIT 500"),
      Some("""SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS bucket,
             |  time_bucket(INTERVAL 3 DAY, ts) AS b3d,
             |  time_bucket(INTERVAL 7 HOUR, ts) AS b7h,
             |  cast(count(*) AS bigint) AS n,
             |  cast(count(DISTINCT user_id) AS bigint) AS users
             |FROM events WHERE event_type = 'click'
             |GROUP BY 1, 2, 3
             |ORDER BY bucket LIMIT 500""".stripMargin)),

    // Batch 9: 12-hour strftime tokens (%I %p), %f microseconds
    // (6-digit zero-padded fraction on both engines), printf hex/octal
    // (%x %X %o + width flags — Java's format == C's for the integer
    // conversions), and to_base radix conversion (Spark's conv —
    // uppercase digits on both engines).
    "q_dialect_funcs9" -> QueryDef(
      (s, d) => run(db(s, d, "events"),
        "SELECT event_id, strftime(ts, '%Y-%m-%d %I:%M %p') AS twelve, " +
          "strftime(ts, '%H:%M:%S.%f') AS micros, " +
          "printf('%x|%X|%o|%05x', event_id, event_id, event_id, event_id) AS hexes, " +
          "to_base(event_id, 16) AS hex16, to_base(event_id % 64, 2) AS bin2 " +
          "FROM events WHERE event_id < 3000 ORDER BY event_id"),
      Some("""SELECT event_id, strftime(ts, '%Y-%m-%d %I:%M %p') AS twelve,
             |  strftime(ts, '%H:%M:%S.%f') AS micros,
             |  printf('%x|%X|%o|%05x', event_id, event_id, event_id, event_id) AS hexes,
             |  to_base(event_id, 16) AS hex16, to_base(event_id % 64, 2) AS bin2
             |FROM events WHERE event_id < 3000 ORDER BY event_id""".stripMargin)),

    // Lambda list functions: list_transform / list_filter / list_reduce
    // with `x -> expr` bodies — Spark's codegen'd higher-order functions
    // (transform/filter/aggregate), never a UDF. The reduce folds
    // left-to-right on both engines with the cast-to-double inside the
    // transform, so the accumulation is IEEE-identical; the lambda
    // captures the enclosing row's n_chars (a correlated lambda body).
    // (array output serialized with array_to_string for the same
    // pandas-harness reason as q_dialect_array_agg above; the lambda
    // machinery itself still produces the array, the serialization is a
    // final scalar step on both engines.)
    "q_dialect_lambda" -> QueryDef(
      (s, d) => run(db(s, d, "documents"),
        "SELECT doc_id, " +
          "len(list_filter(string_split(text, ' '), w -> length(w) > 6)) AS long_words, " +
          "array_to_string(list_transform(list_sort([n_chars % 7, n_chars % 5, n_chars % 3]), " +
          "m -> m * 10 + n_chars % 2), ',') AS mods " +
          "FROM documents WHERE doc_id < 400 ORDER BY doc_id"),
      Some("""SELECT doc_id,
             |  cast(len(list_filter(string_split(text, ' '), w -> length(w) > 6)) AS int) AS long_words,
             |  array_to_string(list_transform(list_sort([n_chars % 7, n_chars % 5, n_chars % 3]),
             |    m -> m * 10 + n_chars % 2), ',') AS mods
             |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin)),

    // list_reduce over the embedding vectors: sum of cubes via a
    // transform (cast to double INSIDE the lambda, so both engines fold
    // doubles in the same left-to-right order — bit-identical).
    "q_dialect_lambda_reduce" -> QueryDef(
      (s, d) => run(db(s, d, "embeddings"),
        "SELECT vec_id, " +
          "round(list_reduce(list_transform(embedding, x -> x::DOUBLE * x * x), " +
          "(a, b) -> a + b), 6) AS cube_sum, " +
          "len(list_filter(embedding, x -> x > 0)) AS n_pos " +
          "FROM embeddings WHERE vec_id < 300 ORDER BY vec_id"),
      Some("""SELECT vec_id,
             |  round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x * x),
             |    (a, b) -> a + b), 6) AS cube_sum,
             |  cast(len(list_filter(embedding, x -> x > 0)) AS int) AS n_pos
             |FROM embeddings WHERE vec_id < 300 ORDER BY vec_id""".stripMargin)),

    // the embeddings fixture (list<float>) through the dialect: external
    // registration keeps REAL[] exact, subscript + cast widen per IEEE
    "q_dialect_embedding" -> QueryDef(
      (s, d) => run(db(s, d, "embeddings"),
        "SELECT vec_id, round(embedding[1]::double, 5) AS e1, " +
          "len(embedding) AS d, label " +
          "FROM embeddings WHERE vec_id < 300 ORDER BY vec_id"),
      Some("""SELECT vec_id, round(CAST(embedding[1] AS DOUBLE), 5) AS e1,
             |  cast(len(embedding) AS int) AS d, label
             |FROM embeddings WHERE vec_id < 300 ORDER BY vec_id""".stripMargin)),

    // array_agg with intra-group ORDER BY (required by the engine — an
    // unordered distributed collect is nondeterministic): one collect +
    // one sort per group. The gate projection serializes the array with
    // array_to_string because the driver's pandas-based oracle harness
    // cannot sort/hash array-typed result cells (CORRECTNESS_r07: both
    // array-output queries crashed its sort_values with "unhashable
    // type: numpy.ndarray"); the serialization is applied identically on
    // both engines so the comparison stays exact, and DialectSpec pins
    // the raw array-typed output separately.
    "q_dialect_array_agg" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_nationkey, " +
          "array_to_string(array_agg(c_custkey ORDER BY c_acctbal DESC, c_custkey DESC), ',') AS top " +
          "FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey " +
          "ORDER BY c_nationkey"),
      Some("""SELECT c_nationkey,
             |  array_to_string(array_agg(c_custkey ORDER BY c_acctbal DESC, c_custkey DESC), ',') AS top
             |FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    // Row-value IN under OR — the three-valued multi-column marker
    // lowering (exact-match join + per-null-mask compatibility frames),
    // never a nested loop. Oracled via DuckDB's EXISTS reformulation
    // (its 1.0 binder rejects row-IN).
    "q_dialect_row_in_or" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_orderkey, o_custkey FROM orders " +
          "WHERE (o_custkey, o_orderstatus) IN " +
          "(SELECT c_custkey, 'O' AS st FROM customer WHERE c_acctbal > 9000) " +
          "OR o_totalprice > 500000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey FROM orders
             |WHERE EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o_custkey AND 'O' = o_orderstatus AND c.c_acctbal > 9000)
             |   OR o_totalprice > 500000
             |ORDER BY o_orderkey""".stripMargin)),

    // Row-value NOT IN inside CASE — UNKNOWN takes the ELSE branch.
    "q_dialect_row_in_case" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT o_orderkey, CASE WHEN (o_custkey, o_orderstatus) NOT IN " +
          "(SELECT c_custkey, 'F' AS st FROM customer WHERE c_acctbal < -900) " +
          "THEN 'clean' ELSE 'flagged' END AS tag " +
          "FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o_custkey AND 'F' = o_orderstatus AND c.c_acctbal < -900)
             |  THEN 'clean' ELSE 'flagged' END AS tag
             |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin)),

    // range / generate_series table functions in FROM: lazily
    // parallelized spark.range (never materialized rows), here driving
    // a histogram via a non-equi LEFT JOIN so empty buckets survive.
    "q_dialect_range" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT bucket, count(o_orderkey) AS n " +
          "FROM generate_series(0, 6) g(bucket) " +
          "LEFT JOIN orders ON o_totalprice >= bucket * 100000 " +
          "AND o_totalprice < (bucket + 1) * 100000 " +
          "GROUP BY bucket ORDER BY bucket"),
      Some("""SELECT bucket, cast(count(o_orderkey) AS bigint) AS n
             |FROM generate_series(0, 6) g(bucket)
             |LEFT JOIN orders ON o_totalprice >= bucket * 100000
             |  AND o_totalprice < (bucket + 1) * 100000
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Scalar subqueries as general OPERANDS — inside arithmetic, on
    // either side of predicates, in WHERE: each an uncorrelated
    // broadcast 1-row frame (or one bounded guarded job), never a
    // per-row re-execution.
    "q_dialect_scalar_operand" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "round(o_totalprice / (SELECT max(o_totalprice) FROM orders), 6) AS frac, " +
          "round((SELECT avg(o_totalprice) FROM orders) - o_totalprice, 2) AS below_avg " +
          "FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.8 " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  round(o_totalprice / (SELECT max(o_totalprice) FROM orders), 6) AS frac,
             |  round((SELECT avg(o_totalprice) FROM orders) - o_totalprice, 2) AS below_avg
             |FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.8
             |ORDER BY o_orderkey""".stripMargin)),

    // CORRELATED scalar-subquery operands: the per-customer deviation
    // and best-order flag — each subquery is ONE per-key aggregate
    // frame left-joined on the decorrelated equality, shared across the
    // expression; never per-row re-execution.
    "q_dialect_corr_operand" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "round(o_totalprice * 100 - (SELECT avg(round(o2.o_totalprice * 100)) FROM orders o2 " +
          "WHERE o2.o_custkey = o.o_custkey)) / 100 AS dev, " +
          "CASE WHEN o_totalprice >= (SELECT max(o2.o_totalprice) FROM orders o2 " +
          "WHERE o2.o_custkey = o.o_custkey) THEN 'top' ELSE 'rest' END AS tag " +
          "FROM orders o WHERE o_orderkey < 3000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  round(o_totalprice * 100 - (SELECT avg(round(o2.o_totalprice * 100)) FROM orders o2
             |    WHERE o2.o_custkey = o.o_custkey)) / 100 AS dev,
             |  CASE WHEN o_totalprice >= (SELECT max(o2.o_totalprice) FROM orders o2
             |    WHERE o2.o_custkey = o.o_custkey) THEN 'top' ELSE 'rest' END AS tag
             |FROM orders o WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin)),

    // ... and in AGGREGATE scope (share-of-total): the subquery frame
    // broadcast-joins the aggregated result.
    "q_dialect_scalar_share" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "customer"),
        "SELECT c_mktsegment, " +
          "round(sum(o_totalprice) / (SELECT sum(o_totalprice) FROM orders), 6) AS share " +
          "FROM orders o, customer c WHERE o.o_custkey = c.c_custkey " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
      Some("""SELECT c_mktsegment,
             |  round(sum(o_totalprice) / (SELECT sum(o_totalprice) FROM orders), 6) AS share
             |FROM orders o, customer c WHERE o.o_custkey = c.c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Aggregate batch 4: mode / bool_and / bool_or / bit_and / bit_or /
    // bit_xor / avg(DISTINCT) — all native single-state Spark aggregates
    // (avg DISTINCT composes sum_distinct/count_distinct).
    "q_dialect_agg4" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT mode(l_returnflag) AS flag_mode, " +
          "bool_and(CASE WHEN l_quantity > 0 THEN true ELSE false END) AS all_pos, " +
          "bool_or(CASE WHEN l_discount > 0.09 THEN true ELSE false END) AS any_disc, " +
          "bit_and(l_orderkey) AS band, bit_or(l_linenumber) AS bor, " +
          "bit_xor(l_orderkey) AS bxor, " +
          "round(avg(DISTINCT l_linenumber), 4) AS ad FROM lineitem"),
      Some("""SELECT mode(l_returnflag) AS flag_mode,
             |  bool_and(CASE WHEN l_quantity > 0 THEN true ELSE false END) AS all_pos,
             |  bool_or(CASE WHEN l_discount > 0.09 THEN true ELSE false END) AS any_disc,
             |  bit_and(l_orderkey) AS band, cast(bit_or(l_linenumber) AS int) AS bor,
             |  bit_xor(l_orderkey) AS bxor,
             |  round(avg(DISTINCT l_linenumber), 4) AS ad FROM lineitem""".stripMargin)),

    // Scalar batch 4: levenshtein / chr / ascii / to_hex / epoch_ms.
    "q_dialect_funcs4" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, levenshtein(c_name, 'Customer#000000000') AS lev, " +
          "chr(65 + c_nationkey % 26) AS ch, ascii(c_mktsegment) AS a, " +
          "to_hex(c_custkey) AS h, " +
          "epoch_ms(TIMESTAMP '2024-01-01 00:00:01') + c_custkey AS e, " +
          "len(regexp_split_to_array(c_name, '[#0]+')) AS seg " +
          "FROM customer WHERE c_custkey < 400 ORDER BY c_custkey"),
      Some("""SELECT c_custkey, levenshtein(c_name, 'Customer#000000000') AS lev,
             |  chr(65 + c_nationkey % 26) AS ch, ascii(c_mktsegment) AS a,
             |  to_hex(c_custkey) AS h,
             |  epoch_ms(TIMESTAMP '2024-01-01 00:00:01') + c_custkey AS e,
             |  cast(len(regexp_split_to_array(c_name, '[#0]+')) AS int) AS seg
             |FROM customer WHERE c_custkey < 400 ORDER BY c_custkey""".stripMargin)),

    // Window frame EXCLUDE CURRENT ROW: the current row's contribution
    // subtracts columnar from the frame aggregate (one window pass) —
    // the leave-one-out shape (peer average without self).
    // EXCLUDE GROUP / TIES over RANGE frames: the peer-group aggregate
    // subtracts columnar via ONE extra window over (partition + order
    // key) — peers are sort-adjacent, so both windows share one
    // shuffle. Integer-cent sums keep the subtraction exact.
    "q_dialect_win_exclude_group" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, cast(sg AS BIGINT) AS sg, cast(st AS BIGINT) AS st, " +
          "cast(cg AS BIGINT) AS cg FROM (" +
          "SELECT o_orderkey, " +
          "sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey " +
          "ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING " +
          "AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS sg, " +
          "sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey " +
          "ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING " +
          "AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS st, " +
          "count(*) OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate) " +
          "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS cg " +
          "FROM orders WHERE o_orderkey < 5000) t ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, cast(sg AS bigint) AS sg, cast(st AS bigint) AS st,
             |  cast(cg AS bigint) AS cg FROM (
             |  SELECT o_orderkey,
             |    sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey
             |      ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING
             |      AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS sg,
             |    sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey
             |      ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING
             |      AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS st,
             |    count(*) OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate)
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS cg
             |  FROM orders WHERE o_orderkey < 5000) t ORDER BY o_orderkey""".stripMargin)),

    // min/max frame exclusion — not subtractable like sum/count/avg, so
    // the lowering decomposes into prefix [lo,-1] / suffix [1,hi]
    // sub-frame aggregates combined with least/greatest (RANGE frames
    // analyzer-restricted to an integral order key so the ±1 boundary is
    // exact); EXCLUDE CURRENT ROW additionally takes the peer group minus
    // self via the same row-position split within the peer window. All
    // five columns ride the one partition-key shuffle.
    "q_dialect_win_exclude_minmax" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "min(o_orderkey) OVER (PARTITION BY o_custkey " +
          "ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING " +
          "AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mn_c, " +
          "min(o_orderkey) OVER (PARTITION BY o_custkey " +
          "ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING " +
          "AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mn_g, " +
          "max(o_orderkey) OVER (PARTITION BY o_custkey " +
          "ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING " +
          "AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS mx_t, " +
          "min(o_orderkey) OVER (PARTITION BY o_custkey " +
          "ORDER BY year(o_orderdate) RANGE BETWEEN 1 PRECEDING " +
          "AND 1 FOLLOWING EXCLUDE GROUP) AS mn_b, " +
          "max(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mx_r " +
          "FROM orders WHERE o_orderkey < 5000 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  min(o_orderkey) OVER (PARTITION BY o_custkey
             |    ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING
             |    AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mn_c,
             |  min(o_orderkey) OVER (PARTITION BY o_custkey
             |    ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING
             |    AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mn_g,
             |  max(o_orderkey) OVER (PARTITION BY o_custkey
             |    ORDER BY year(o_orderdate) RANGE BETWEEN UNBOUNDED PRECEDING
             |    AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS mx_t,
             |  min(o_orderkey) OVER (PARTITION BY o_custkey
             |    ORDER BY year(o_orderdate) RANGE BETWEEN 1 PRECEDING
             |    AND 1 FOLLOWING EXCLUDE GROUP) AS mn_b,
             |  max(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mx_r
             |FROM orders WHERE o_orderkey < 5000 ORDER BY o_orderkey""".stripMargin)),

    "q_dialect_win_exclude" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, round(pa) / 100 AS peer_avg, n_peers, " +
          "ns AS nbr_sum FROM (" +
          "SELECT o_orderkey, " +
          "avg(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS pa, " +
          "count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS n_peers, " +
          "sum(o_custkey) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS ns " +
          "FROM orders WHERE o_orderkey < 5000) t ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, round(pa) / 100 AS peer_avg, n_peers,
             |  cast(ns AS bigint) AS nbr_sum FROM (
             |  SELECT o_orderkey,
             |    avg(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS pa,
             |    count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS n_peers,
             |    sum(o_custkey) OVER (ORDER BY o_orderkey
             |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS ns
             |  FROM orders WHERE o_orderkey < 5000) t ORDER BY o_orderkey""".stripMargin)),

    // IGNORE NULLS window variants (the DuckDB in-paren placement):
    // last-observation-carried-forward via lag/first_value over a
    // NULL-bearing measure — Spark's native ignoreNulls flags, one
    // window shuffle.
    "q_dialect_ignore_nulls" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, px, " +
          "lag(px IGNORE NULLS) OVER (ORDER BY o_orderkey) AS prev_px, " +
          "lead(px IGNORE NULLS) OVER (ORDER BY o_orderkey) AS next_px, " +
          "first_value(px IGNORE NULLS) OVER (PARTITION BY seg ORDER BY o_orderkey) AS seg_first, " +
          "last_value(px IGNORE NULLS) OVER (PARTITION BY seg ORDER BY o_orderkey) AS seg_locf " +
          "FROM (SELECT o_orderkey, o_orderpriority AS seg, " +
          "CASE WHEN o_orderstatus = 'O' THEN round(o_totalprice, 2) END AS px " +
          "FROM orders WHERE o_orderkey <= 3000) t " +
          "ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey, px,
             |  lag(px IGNORE NULLS) OVER (ORDER BY o_orderkey) AS prev_px,
             |  lead(px IGNORE NULLS) OVER (ORDER BY o_orderkey) AS next_px,
             |  first_value(px IGNORE NULLS) OVER (PARTITION BY seg ORDER BY o_orderkey) AS seg_first,
             |  last_value(px IGNORE NULLS) OVER (PARTITION BY seg ORDER BY o_orderkey) AS seg_locf
             |FROM (SELECT o_orderkey, o_orderpriority AS seg,
             |  CASE WHEN o_orderstatus = 'O' THEN round(o_totalprice, 2) END AS px
             |  FROM orders WHERE o_orderkey <= 3000) t
             |ORDER BY o_orderkey""".stripMargin)),

    // Two-argument statistical aggregates + the standard ordered-set
    // percentile_cont WITHIN GROUP (DESC folds to 1-p at parse). Both
    // engines run one-pass covariance updates, so the oracle rounds
    // above ulp accumulation noise.
    "q_dialect_stats_agg2" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "SELECT l_returnflag, " +
          "round(corr(l_extendedprice, l_quantity), 5) AS c, " +
          "round(covar_pop(l_extendedprice, l_quantity), 2) AS cp, " +
          "round(covar_samp(l_extendedprice, l_quantity), 2) AS cs, " +
          "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50, " +
          "round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity DESC), 4) AS p25d " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(corr(l_extendedprice, l_quantity), 5) AS c,
             |  round(covar_pop(l_extendedprice, l_quantity), 2) AS cp,
             |  round(covar_samp(l_extendedprice, l_quantity), 2) AS cs,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50,
             |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity DESC), 4) AS p25d
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Row-value NOT IN — the complement of q_dialect_row_in (orders NOT
    // at their customer's maximum price), exercising the null-aware
    // masked-anti-join decomposition (here with non-null components, so
    // the exact-match anti join carries all the work; the NULL paths are
    // spec-pinned in DialectSpec). DuckDB oracles via NOT EXISTS.
    "q_dialect_row_not_in" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price " +
          "FROM orders WHERE (o_custkey, o_totalprice) NOT IN " +
          "(SELECT o_custkey, max(o_totalprice) AS mt FROM orders GROUP BY o_custkey) " +
          "AND o_orderkey <= 2000 ORDER BY o_custkey, o_orderkey"),
      Some("""SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
             |FROM orders o WHERE NOT EXISTS (
             |  SELECT 1 FROM (SELECT o_custkey, max(o_totalprice) AS mt
             |    FROM orders GROUP BY o_custkey) m
             |  WHERE m.o_custkey = o.o_custkey AND m.mt = o.o_totalprice)
             |AND o.o_orderkey <= 2000
             |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin)),

    // CORRELATED row-value IN under NOT: the marker frames gain the
    // decorrelated key as an extra grouping/join column — per-outer-key
    // set semantics from 1:1 grouped left joins, never a nested loop.
    // Orders whose (status, 'N') pair never shows up among their own
    // lineitems' (linestatus, returnflag) pairs; DuckDB oracles via
    // NOT EXISTS (its binder rejects row-IN subqueries).
    "q_dialect_row_in_corr" -> QueryDef(
      (s, d) => run(db(s, d, "orders", "lineitem"),
        "SELECT o.o_orderkey, o.o_orderstatus FROM orders o " +
          "WHERE NOT ((o.o_orderstatus, 'N') IN " +
          "(SELECT l.l_linestatus, l.l_returnflag FROM lineitem l " +
          "WHERE l.l_orderkey = o.o_orderkey)) " +
          "AND o.o_orderkey < 2000 ORDER BY o_orderkey"),
      Some("""SELECT o.o_orderkey, o.o_orderstatus FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
             |  WHERE l.l_orderkey = o.o_orderkey
             |  AND l.l_linestatus = o.o_orderstatus AND l.l_returnflag = 'N')
             |AND o.o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // An inline VALUES derived table as a join-side lookup (the
    // enum-decode shape). Desugars to FROM-less SELECTs UNION ALL'd;
    // Catalyst folds it to a LocalRelation and broadcasts the join.
    "q_dialect_values_table" -> QueryDef(
      (s, d) => run(db(s, d, "customer"),
        "SELECT c_custkey, c_mktsegment, m.pri " +
          "FROM customer c, (VALUES ('BUILDING', 1), ('AUTOMOBILE', 2), " +
          "('MACHINERY', 3), ('HOUSEHOLD', 4), ('FURNITURE', 5)) m(seg, pri) " +
          "WHERE c.c_mktsegment = m.seg AND c_custkey <= 100 " +
          "ORDER BY c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment, cast(m.pri AS bigint) AS pri
             |FROM customer c, (VALUES ('BUILDING', 1), ('AUTOMOBILE', 2),
             |  ('MACHINERY', 3), ('HOUSEHOLD', 4), ('FURNITURE', 5)) m(seg, pri)
             |WHERE c.c_mktsegment = m.seg AND c_custkey <= 100
             |ORDER BY c_custkey""".stripMargin)),

    // UNION BY NAME: branches align on column NAMES (any order), the
    // DuckDB extension. The aggregate branches keep their own projection
    // order; the combine is name-keyed, then deduped like plain UNION.
    "q_dialect_union_byname" -> QueryDef(
      (s, d) => run(db(s, d, "customer", "supplier"),
        "SELECT c_nationkey AS k, count(*) AS n FROM customer GROUP BY c_nationkey " +
          "UNION BY NAME " +
          "SELECT count(*) AS n, s_nationkey AS k FROM supplier GROUP BY s_nationkey " +
          "ORDER BY k, n"),
      Some("""SELECT cast(k AS bigint) AS k, cast(n AS bigint) AS n FROM (
             |SELECT c_nationkey AS k, count(*) AS n FROM customer GROUP BY c_nationkey
             |UNION BY NAME
             |SELECT count(*) AS n, s_nationkey AS k FROM supplier GROUP BY s_nationkey) u
             |ORDER BY k, n""".stripMargin)),

    // Scalar-function batch 3: left/right (incl. DuckDB's negative-length
    // drop-from-the-other-end, which Spark's own left/right lack — these
    // lower as substr algebra), translate, strpos, ifnull, date_part,
    // make_date.
    "q_dialect_funcs3" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "left(o_orderpriority, 4) AS l4, left(o_orderpriority, -3) AS lm3, " +
          "right(o_orderpriority, 4) AS r4, right(o_orderpriority, -3) AS rm3, " +
          "translate(o_orderstatus, 'FOP', 'fop') AS st, " +
          "strpos(o_orderpriority, '-') AS dash, " +
          "ifnull(NULL, o_orderkey) AS ifn, " +
          "date_part('year', o_orderdate) AS oy, " +
          "date_part('month', o_orderdate) AS om, " +
          "extract(week FROM o_orderdate) AS ow, " +
          "extract(dow FROM o_orderdate) AS odw, " +
          "extract(doy FROM o_orderdate) AS ody, " +
          "date_part('epoch', o_orderdate) AS oep, " +
          "make_date(2024, 2, 29) AS md " +
          "FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  left(o_orderpriority, 4) AS l4, left(o_orderpriority, -3) AS lm3,
             |  right(o_orderpriority, 4) AS r4, right(o_orderpriority, -3) AS rm3,
             |  translate(o_orderstatus, 'FOP', 'fop') AS st,
             |  cast(strpos(o_orderpriority, '-') AS int) AS dash,
             |  ifnull(NULL, o_orderkey) AS ifn,
             |  cast(date_part('year', o_orderdate) AS int) AS oy,
             |  cast(date_part('month', o_orderdate) AS int) AS om,
             |  cast(extract(week FROM o_orderdate) AS int) AS ow,
             |  cast(extract(dow FROM o_orderdate) AS int) AS odw,
             |  cast(extract(doy FROM o_orderdate) AS int) AS ody,
             |  date_part('epoch', o_orderdate) AS oep,
             |  make_date(2024, 2, 29) AS md
             |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin)),

    // COLLATE (DuckDB): NOCASE / NOACCENT / NFC postfix collations and
    // the NOCASE.NOACCENT combo. Pins (a) a collated ORDER BY key
    // (accent- and case-insensitive sort with binary tiebreaks), (b) a
    // collated comparison in WHERE (uppercased rows would fail the
    // binary >= 'a' but pass under NOCASE), and (c) one-sided collation
    // PROPAGATING to the whole comparison (s COLLATE … = plain lowers/
    // strips BOTH sides — DuckDB semantics, probed). Identical SQL runs
    // on both engines.
    "q_dialect_collate" -> QueryDef(
      (s, d) => run(db(s, d, "part"),
        "WITH src AS (" +
          "SELECT p_partkey AS k, p_name AS plain, " +
          "CASE WHEN p_partkey % 3 = 0 THEN upper(p_name) " +
          "WHEN p_partkey % 3 = 1 THEN translate(p_name, 'ao', 'äö') " +
          "ELSE p_name || 'X' END AS s " +
          "FROM part WHERE p_partkey <= 120) " +
          "SELECT k, s, CAST(s COLLATE NOCASE.NOACCENT = plain AS VARCHAR) AS eq " +
          "FROM src WHERE s COLLATE NOCASE >= 'a' " +
          "ORDER BY s COLLATE NOCASE.NOACCENT, s, k"),
      Some("""WITH src AS (
             |  SELECT p_partkey AS k, p_name AS plain,
             |    CASE WHEN p_partkey % 3 = 0 THEN upper(p_name)
             |         WHEN p_partkey % 3 = 1 THEN translate(p_name, 'ao', 'äö')
             |         ELSE p_name || 'X' END AS s
             |  FROM part WHERE p_partkey <= 120)
             |SELECT k, s, CAST(s COLLATE NOCASE.NOACCENT = plain AS VARCHAR) AS eq
             |FROM src WHERE s COLLATE NOCASE >= 'a'
             |ORDER BY s COLLATE NOCASE.NOACCENT, s, k""".stripMargin)),

    // DESCRIBE <query> in DuckDB's EXACT output shape: six VARCHAR
    // columns (column_name, column_type, null, key, default, extra),
    // DuckDB type spellings (INTEGER/VARCHAR/DOUBLE/BIGINT), null
    // always 'YES' over a query. IDENTICAL statement runs on both
    // engines — the analyzer's output typing is what's being pinned
    // (BIGINT arithmetic, DOUBLE division, CASE/cast results).
    "q_dialect_describe" -> QueryDef(
      (s, d) => run(db(s, d, "lineitem"),
        "DESCRIBE SELECT l_orderkey, l_returnflag, l_quantity, " +
          "l_extendedprice * 0.9 AS disc, l_orderkey::VARCHAR AS ok_s, " +
          "CASE WHEN l_quantity > 25 THEN 'hi' ELSE 'lo' END AS band, " +
          "l_orderkey + l_linenumber AS ksum, l_quantity / 2 AS qh " +
          "FROM lineitem"),
      Some("""DESCRIBE SELECT l_orderkey, l_returnflag, l_quantity,
             |  l_extendedprice * 0.9 AS disc, l_orderkey::VARCHAR AS ok_s,
             |  CASE WHEN l_quantity > 25 THEN 'hi' ELSE 'lo' END AS band,
             |  l_orderkey + l_linenumber AS ksum, l_quantity / 2 AS qh
             |FROM lineitem""".stripMargin)),

    // PREPARE / EXECUTE (session-scoped prepared statements): $1/$2
    // positional placeholders splice argument text at EXECUTE — the
    // oracle inlines the same constants. Re-preparing the same name
    // overwrites (idempotent across bench reps, like DuckDB).
    "q_dialect_prepare" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        g.query("PREPARE gate_prep AS SELECT o_orderpriority, " +
          "count(*) AS n, sum(o_totalprice) AS tot FROM orders " +
          "WHERE o_totalprice > $1 AND o_orderdate < $2 " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority")
          .fold(e => sys.error(e.msg), identity)
        run(g, "EXECUTE gate_prep(150000, DATE '1997-01-01')")
      },
      Some("""SELECT o_orderpriority, cast(count(*) AS bigint) AS n,
             |  sum(o_totalprice) AS tot FROM orders
             |WHERE o_totalprice > (150000) AND o_orderdate < (DATE '1997-01-01')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // UPDATE … FROM (DuckDB/Postgres): set values read SOURCE columns;
    // only matched rows rewrite. Desugars onto the MERGE machinery
    // (WHEN MATCHED THEN UPDATE) — the oracle reproduces the final
    // image from the raw fixture with the same 1:1 join (count-based
    // extra: integer-exact, no float-order sensitivity). Validated
    // against DuckDB's actual UPDATE…FROM on this fixture.
    "q_dialect_update_from" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        if (!g.tableNames.contains("uf_orders")) {
          g.query("CREATE TABLE uf_orders AS SELECT o_orderkey, o_custkey, " +
            "o_totalprice FROM orders WHERE o_orderkey < 2000")
            .fold(e => sys.error(e.msg), identity)
          g.query("UPDATE uf_orders SET o_totalprice = o_totalprice + s.extra " +
            "FROM (SELECT o_custkey AS ck, count(*)*100 AS extra FROM orders " +
            "WHERE o_orderkey < 2000 GROUP BY o_custkey) s " +
            "WHERE uf_orders.o_custkey = s.ck AND uf_orders.o_orderkey % 2 = 0")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT o_orderkey, o_totalprice FROM uf_orders " +
          "ORDER BY o_orderkey")
      },
      Some("""SELECT o.o_orderkey,
             |  o.o_totalprice + CASE WHEN o.o_orderkey % 2 = 0 THEN s.extra
             |                        ELSE 0 END AS o_totalprice
             |FROM orders o JOIN (SELECT o_custkey AS ck, count(*)*100 AS extra
             |  FROM orders WHERE o_orderkey < 2000 GROUP BY o_custkey) s
             |  ON o.o_custkey = s.ck
             |WHERE o.o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)),

    // DELETE … USING (DuckDB/Postgres): matched target rows delete —
    // MERGE WHEN MATCHED THEN DELETE underneath. Oracle is the
    // equivalent NOT EXISTS anti-join on the raw fixture (validated
    // against DuckDB's actual DELETE…USING).
    "q_dialect_delete_using" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.contains("du_orders")) {
          g.query("CREATE TABLE du_orders AS SELECT o_orderkey, o_custkey " +
            "FROM orders WHERE o_orderkey < 2000")
            .fold(e => sys.error(e.msg), identity)
          g.query("DELETE FROM du_orders USING customer c " +
            "WHERE du_orders.o_custkey = c.c_custkey AND c.c_acctbal < 0")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT o_orderkey, o_custkey FROM du_orders ORDER BY o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders o
             |WHERE o_orderkey < 2000 AND NOT EXISTS (SELECT 1 FROM customer c
             |  WHERE o.o_custkey = c.c_custkey AND c.c_acctbal < 0)
             |ORDER BY o_orderkey""".stripMargin)),

    // CREATE SCHEMA + schema-qualified names: CTAS into analytics.*,
    // cross-schema join back to a main-schema fixture table, binding by
    // last segment (big.o_custkey after FROM analytics.big). The oracle
    // reproduces the result from the raw fixtures in one SELECT.
    "q_dialect_schema" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.exists(_.startsWith("analytics."))) {
          g.query("CREATE SCHEMA IF NOT EXISTS analytics")
            .fold(e => sys.error(e.msg), identity)
          g.query("CREATE TABLE analytics.big AS SELECT o_orderkey, " +
            "o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000")
            .fold(e => sys.error(e.msg), identity)
        }
        run(g, "SELECT c.c_mktsegment, count(*) AS n, " +
          "sum(big.o_totalprice) AS tot FROM analytics.big, " +
          "main.customer c WHERE big.o_custkey = c.c_custkey " +
          "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")
      },
      Some("""SELECT c.c_mktsegment, cast(count(*) AS bigint) AS n,
             |  sum(o.o_totalprice) AS tot
             |FROM orders o, customer c
             |WHERE o.o_totalprice > 400000 AND o.o_custkey = c.c_custkey
             |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // DISTINCT window aggregates (count/sum/avg(DISTINCT …) OVER) and
    // FILTER on a window aggregate — Spark has no native DISTINCT
    // windows. Prefix frames (these partition-only windows included)
    // lower as an ordinary aggregate over a pre-attached first-
    // occurrence mask — exact in the native type at any cardinality,
    // no per-frame set materialization; only bounded-lo frames still
    // collect a (frame-bounded) set. IDENTICAL SQL runs on both engines.
    "q_dialect_win_distinct" -> QueryDef(
      (s, d) => run(db(s, d, "orders"),
        "SELECT o_orderkey, " +
          "count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey) AS ndp, " +
          "CAST(sum(DISTINCT o_custkey % 7) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS sd, " +
          "CAST(avg(DISTINCT o_custkey % 100) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS ad, " +
          "count(*) FILTER (WHERE o_totalprice > 100000) OVER (PARTITION BY o_custkey) AS nf " +
          "FROM orders WHERE o_orderkey <= 400 ORDER BY o_orderkey"),
      Some("""SELECT o_orderkey,
             |  count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey) AS ndp,
             |  CAST(sum(DISTINCT o_custkey % 7) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS sd,
             |  CAST(avg(DISTINCT o_custkey % 100) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS ad,
             |  count(*) FILTER (WHERE o_totalprice > 100000) OVER (PARTITION BY o_custkey) AS nf
             |FROM orders WHERE o_orderkey <= 400 ORDER BY o_orderkey""".stripMargin)),

    // USE <schema>: unqualified names resolve current-schema-first
    // (stage.top shadows nothing here, but the CTAS lands in `stage`
    // and the final query reads it UNQUALIFIED under USE while joining
    // main.customer explicitly). Oracle reproduces from raw fixtures.
    "q_dialect_use" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders", "customer")
        if (!g.tableNames.exists(_.startsWith("stage."))) {
          g.query("CREATE SCHEMA IF NOT EXISTS stage")
            .fold(e => sys.error(e.msg), identity)
          g.query("USE stage").fold(e => sys.error(e.msg), identity)
          g.query("CREATE TABLE top AS SELECT o_orderkey, o_custkey, " +
            "o_totalprice FROM main.orders WHERE o_totalprice > 450000")
            .fold(e => sys.error(e.msg), identity)
        } else g.query("USE stage").fold(e => sys.error(e.msg), identity)
        // the shared db instance outlives this gate: USE main must run
        // even when the gated query throws, or later gates would
        // resolve unqualified names against `stage`
        try run(g, "SELECT c.c_mktsegment, count(*) AS n " +
          "FROM top, main.customer c WHERE top.o_custkey = c.c_custkey " +
          "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")
        finally g.query("USE main").fold(e => sys.error(e.msg), identity)
      },
      Some("""SELECT c.c_mktsegment, cast(count(*) AS bigint) AS n
             |FROM orders o, customer c
             |WHERE o.o_totalprice > 450000 AND o.o_custkey = c.c_custkey
             |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // SET VARIABLE / getvariable (DuckDB session variables): the
    // variable value — itself computed through an expression over
    // another variable — splices into the query textually. The oracle
    // inlines the resolved constant (the driver's one-statement oracle
    // cannot carry session state).
    "q_dialect_setvar" -> QueryDef(
      (s, d) => {
        val g = db(s, d, "orders")
        g.query("SET VARIABLE sv_base = 100000")
          .fold(e => sys.error(e.msg), identity)
        g.query("SET VARIABLE sv_min = getvariable('sv_base') * 3 / 2")
          .fold(e => sys.error(e.msg), identity)
        run(g, "SELECT o_orderpriority, count(*) AS n FROM orders " +
          "WHERE o_totalprice > getvariable('sv_min') " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority")
      },
      Some("""SELECT o_orderpriority, cast(count(*) AS bigint) AS n
             |FROM orders WHERE o_totalprice > 150000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
  )
}
