package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import util._

/** Full relational surface: every join type the reference plans
  * (`gensrc/thrift/PlanNodes.thrift:825-845` — INNER, LEFT/RIGHT/FULL
  * OUTER, CROSS, SEMI, ANTI, NULL_AWARE_LEFT_ANTI), set operations
  * (`be/src/exec/{union,intersect,except}_node.cpp`), subqueries
  * (FE Apply→Join decorrelation rules), sorts/limit/offset
  * (`be/src/exec/topn_node.cpp`), and literal VALUES relations
  * (`be/src/exec/raw_values_node.cpp`).
  *
  * Spark notes: small dims are broadcast (no shuffle); semi/anti joins
  * map to Catalyst's LeftSemi/LeftAnti; NOT IN null-awareness comes
  * from RewritePredicateSubquery (null-aware anti join).
  */
object Relational extends graft.QueryArea {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_inner_dims" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val n = t(spark, dir, "nation")
      val r = t(spark, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))
    }),
    "join_left_outer" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val o = t(spark, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
        .orderBy(col("c_custkey"))
    }),
    "join_right_outer" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val o = t(spark, dir, "orders")
      o.join(c, col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),
    "join_full_outer" -> ((spark, dir) => {
      val s = t(spark, dir, "supplier").groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      val c = t(spark, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      s.join(c, col("s_nationkey") === col("c_nationkey"), "full")
        .select(coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy(col("nationkey"))
    }),
    "join_left_semi" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val li = t(spark, dir, "lineitem").filter(col("l_quantity") >= 50)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),
    "join_left_anti" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val o = t(spark, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    // LATERAL correlated subquery (top-2 orders per customer) —
    // Catalyst decorrelates to a ranked window, not a per-row loop
    "join_lateral_topn" -> ((spark, dir) => {
      sqlq(spark, dir)(
        """SELECT c_custkey, o_orderkey, o_totalprice
          |FROM customer,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
          |         WHERE o_custkey = c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
          |WHERE c_custkey < 500
          |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),
    // NOT IN over a subquery that contains NULLs: null-aware anti join
    // (reference NULL_AWARE_LEFT_ANTI_JOIN) — must return 0 rows, where
    // a plain anti join would return many.
    "join_null_aware_anti" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 1) FROM orders)
        |ORDER BY c_custkey""".stripMargin)),
    "join_cross" -> ((spark, dir) => {
      val r = t(spark, dir, "region")
      val n = t(spark, dir, "nation")
      r.crossJoin(n).select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }),
    // Salted join for planned skew (operators.Colocate.saltedJoin):
    // hot keys split salt-ways, build side replicated — result must
    // equal the plain join (the oracle IS the plain join)
    "join_salted" -> ((spark, dir) => {
      val li = t(spark, dir, "lineitem")
      val p = t(spark, dir, "part").withColumnRenamed("p_partkey", "l_partkey")
      graft.operators.Colocate.saltedJoin(li, p, Seq("l_partkey"), salt = 4)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("p_brand"))
    }),
    // Non-equi (theta) join against a literal VALUES band table →
    // BroadcastNestedLoopJoin (reference NESTLOOP_JOIN + RawValuesNode).
    "join_nonequi_bands" -> ((spark, dir) => {
      val bands = spark.createDataFrame(Seq(
        (0.0, 20000.0, "low"), (20000.0, 45000.0, "mid"), (45000.0, 1e9, "high")))
        .toDF("lo", "hi", "band")
      val li = t(spark, dir, "lineitem")
      li.join(broadcast(bands),
          col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("band"))
    }),
    // binned range join: the interval side (one ±500 acctbal band per
    // supplier) is TABLE-sized, where a nested-loop band join would be
    // O(customers x suppliers); RangeJoin bins the axis (bin = 250) so
    // candidates meet on an equi key and containment is residual-only
    "join_range_binned" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val bands = t(spark, dir, "supplier").select(col("s_suppkey"),
        (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
      graft.operators.RangeJoin.pointInInterval(cust, "c_acctbal", bands, "lo", "hi", 250.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("bal_sum"))
        .orderBy(col("s_suppkey"))
    }),
    // Calendar dimension generated from a date spine (sequence TVF →
    // derived attributes) — the standard warehouse date dimension,
    // built engine-side with zero input tables
    "dim_calendar" -> ((spark, dir) => {
      val spine = spark.range(1).select(explode(expr(
        "sequence(DATE'2024-01-01', DATE'2024-03-31', INTERVAL 1 DAY)")).as("d"))
      spine.select(
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          year(col("d")).as("yr"), quarter(col("d")).as("qtr"),
          month(col("d")).as("mo"), dayofmonth(col("d")).as("dom"),
          dayofweek(col("d")).as("dow"),
          weekofyear(col("d")).as("iso_week"),
          (dayofweek(col("d")) === 1 || dayofweek(col("d")) === 7).as("is_weekend"),
          (last_day(col("d")) === col("d")).as("is_month_end"))
        .orderBy("day")
    }),
    // Parameterized SQL (prepared-statement surface): named parameters
    // bound at execution — the reference's PREPARE/EXECUTE path
    "sql_parameterized" -> ((spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      spark.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
          |FROM orders WHERE o_totalprice > :minPrice AND o_orderstatus = :status
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
        Map("minPrice" -> 150000, "status" -> "F"))
    }),
    // interval-OVERLAP join (RangeJoin.intervalOverlap): all pairs of
    // same-user events whose [ts, ts + value minutes] occupations
    // overlap — both sides bin-replicated (1 h bins), pairs meet on the
    // (bin, user) equi key, emitted exactly once via the canonical-bin
    // rule; a nested-loop overlap join would be O(n²) per user
    "join_interval_overlap" -> ((spark, dir) => {
      val iv = t(spark, dir, "events").select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          round(col("value") * 60000000d).cast("long")).as("e"))
      val a = iv.select(col("user_id"), col("event_id").as("id_a"),
        col("s").as("s_a"), col("e").as("e_a"))
      val b = iv.select(col("user_id"), col("event_id").as("id_b"),
        col("s").as("s_b"), col("e").as("e_b"))
      graft.operators.RangeJoin.intervalOverlap(
          a, "s_a", "e_a", b, "s_b", "e_b", 3600e6, Seq("user_id"))
        .filter(col("id_a") < col("id_b"))
        .select(col("user_id"), col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Automatic range-join derivation (plans/RangeJoinRewrite): the
    // SAME band join as join_range_binned but written as a plain
    // non-equi join — the optimizer rule bins it behind the scenes
    // (RangeJoinRewriteSpec asserts the nested loop is gone); results
    // must match the hand-binned operator's oracle exactly.
    "join_range_auto" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val bands = t(spark, dir, "supplier").select(col("s_suppkey"),
        (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
      graft.Engine.withConf(spark, graft.plans.RangeJoinRewrite.EnabledKey -> "true",
          graft.plans.RangeJoinRewrite.BinKey -> "250") {
        val df = cust.join(bands,
            col("c_acctbal") >= col("lo") && col("c_acctbal") <= col("hi"))
          .groupBy(col("s_suppkey"))
          .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("bal_sum"))
          .orderBy(col("s_suppkey"))
        df.queryExecution.executedPlan // plan under the pinned conf
        df
      }
    }),
    "subq_scalar" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT count(*) AS n_above FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin)),
    "subq_scalar_correlated" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT s_nationkey, count(*) AS n_rich FROM supplier s1
        |WHERE s_acctbal > (SELECT avg(s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = s1.s_nationkey)
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),
    "subq_exists" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin)),
    "set_union_all" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 150000).select(col("o_orderkey"), lit("hi").as("src"))
      val lo = o.filter(col("o_totalprice") < 5000).select(col("o_orderkey"), lit("lo").as("src"))
      hi.unionByName(lo).orderBy(col("o_orderkey"), col("src"))
    }),
    "set_union_distinct" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val a = o.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      a.union(b).distinct().orderBy(col("o_custkey"))
    }),
    "set_intersect" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val o = t(spark, dir, "orders")
      c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
        .intersect(o.select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))
    }),
    "set_except" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val o = t(spark, dir, "orders")
      c.select(col("c_custkey"))
        .except(o.select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))
    }),
    "set_intersect_all" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val a = c.filter(col("c_nationkey") < 12).select(col("c_mktsegment"))
      val b = c.filter(col("c_nationkey") >= 12).select(col("c_mktsegment"))
      a.intersectAll(b).orderBy(col("c_mktsegment"))
    }),
    "set_except_all" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val a = c.filter(col("c_nationkey") < 12).select(col("c_mktsegment"))
      val b = c.filter(col("c_nationkey") >= 12).select(col("c_mktsegment"))
      a.exceptAll(b).orderBy(col("c_mktsegment"))
    }),
    "sort_offset_limit" -> ((spark, dir) => {
      t(spark, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),
    "sort_nulls_mixed" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      o.withColumn("maybe", when(col("o_totalprice") > 150000, col("o_totalprice")))
        .orderBy(col("maybe").desc_nulls_last, col("o_orderkey").asc)
        .limit(50)
        .select(col("o_orderkey"), col("maybe"))
    }),
    "values_literal" -> ((spark, dir) => {
      spark.createDataFrame(Seq((1, "a"), (2, "b"), (3, "c"))).toDF("id", "tag")
        .orderBy(col("id"))
    }),
    // recursive CTE (Spark 4 WITH RECURSIVE): shortest reach depth
    // over a literal DAG with a diamond — the UNION ALL recursion
    // revisits node 4 on two paths, the outer MIN collapses them
    "sql_recursive_cte" -> ((spark, dir) => sqlq(spark, dir)(
      """WITH RECURSIVE reach(node, depth) AS (
        |  SELECT 1, 0
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN (VALUES (1, 2), (1, 3), (2, 4), (3, 4),
        |    (4, 5), (5, 6), (2, 7)) AS e(src, dst) ON e.src = r.node)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST(MIN(depth) AS BIGINT) AS depth
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)))

  def oracles: Map[String, String] = Map(
    "join_inner_dims" ->
      """SELECT c_custkey, n_name, r_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey ORDER BY c_custkey""".stripMargin,
    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_right_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_full_outer" ->
      """WITH s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey),
        |     c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey)
        |SELECT COALESCE(s_nationkey, c_nationkey) AS nationkey,
        |       COALESCE(n_supp, 0) AS n_supp, COALESCE(n_cust, 0) AS n_cust
        |FROM s FULL OUTER JOIN c ON s_nationkey = c_nationkey ORDER BY nationkey""".stripMargin,
    "join_left_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 50)
        |ORDER BY o_orderkey""".stripMargin,
    "join_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
        |ORDER BY c_custkey""".stripMargin,
    "join_lateral_topn" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS l
        |WHERE c_custkey < 500
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "join_null_aware_anti" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 1) FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    "join_salted" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_nonequi_bands" ->
      """SELECT band, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem
        |JOIN (VALUES (0.0, 20000.0, 'low'), (20000.0, 45000.0, 'mid'), (45000.0, 1e9, 'high'))
        |  AS bands(lo, hi, band)
        |ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "join_range_binned" ->
      """SELECT s_suppkey, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal_sum
        |FROM supplier JOIN customer
        |  ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "dim_calendar" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31',
        |                                INTERVAL 1 DAY)) AS d)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  CAST(year(d) AS INT) AS yr, CAST(quarter(d) AS INT) AS qtr,
        |  CAST(month(d) AS INT) AS mo, CAST(day(d) AS INT) AS dom,
        |  CAST(dayofweek(d) + 1 AS INT) AS dow,
        |  CAST(weekofyear(d) AS INT) AS iso_week,
        |  dayofweek(d) IN (0, 6) AS is_weekend,
        |  d = last_day(d) AS is_month_end
        |FROM spine ORDER BY day""".stripMargin,
    "sql_parameterized" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM orders WHERE o_totalprice > 150000 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_interval_overlap" ->
      """WITH iv AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS e
        |  FROM events)
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin,
    "join_range_auto" ->
      """SELECT s_suppkey, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal_sum
        |FROM supplier JOIN customer
        |  ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "subq_scalar" ->
      """SELECT count(*) AS n_above FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin,
    "subq_scalar_correlated" ->
      """SELECT s_nationkey, count(*) AS n_rich FROM supplier s1
        |WHERE s_acctbal > (SELECT avg(s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = s1.s_nationkey)
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "subq_exists" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "set_union_all" ->
      """SELECT o_orderkey, 'hi' AS src FROM orders WHERE o_totalprice > 150000
        |UNION ALL
        |SELECT o_orderkey, 'lo' AS src FROM orders WHERE o_totalprice < 5000
        |ORDER BY o_orderkey, src""".stripMargin,
    "set_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT SELECT o_custkey FROM orders ORDER BY c_custkey""".stripMargin,
    "set_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders ORDER BY c_custkey""".stripMargin,
    "set_intersect_all" ->
      """SELECT c_mktsegment FROM customer WHERE c_nationkey < 12
        |INTERSECT ALL
        |SELECT c_mktsegment FROM customer WHERE c_nationkey >= 12
        |ORDER BY c_mktsegment""".stripMargin,
    "set_except_all" ->
      """SELECT c_mktsegment FROM customer WHERE c_nationkey < 12
        |EXCEPT ALL
        |SELECT c_mktsegment FROM customer WHERE c_nationkey >= 12
        |ORDER BY c_mktsegment""".stripMargin,
    "sort_offset_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10""".stripMargin,
    "sort_nulls_mixed" ->
      """SELECT o_orderkey, CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS maybe
        |FROM orders ORDER BY maybe DESC NULLS LAST, o_orderkey ASC LIMIT 50""".stripMargin,
    "values_literal" ->
      "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS t(id, tag) ORDER BY id",
    "sql_recursive_cte" ->
      """WITH RECURSIVE reach(node, depth) AS (
        |  SELECT 1, 0
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN (VALUES (1, 2), (1, 3), (2, 4), (3, 4),
        |    (4, 5), (5, 6), (2, 7)) AS e(src, dst) ON e.src = r.node)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST(MIN(depth) AS BIGINT) AS depth
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
}
