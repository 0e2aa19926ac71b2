package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AiQuery, Dictionary, MaterializedViews, QueryCache}
import util._

/** MV refresh, ai_query batch inference, geo functions, HLL sketches —
  * the remaining SURVEY.md §2 surfaces, each oracle-checked.
  */
object Advanced extends graft.QueryArea {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SYNC MV: define → full refresh (parquet write) → read back. The
    // oracle recomputes the definition directly; matching results
    // prove the materialization round-trip is lossless.
    "mv_full_refresh" -> ((spark, dir) => {
      val mv = MaterializedViews.MvDef("daily_revenue", o =>
        o.groupBy(date_trunc("day", col("o_orderdate")).as("d"), col("o_orderpriority"))
          .agg(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("revenue"),
            count(lit(1)).as("n_orders")))
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_mv_${dir.replaceAll("[^0-9a-z]", "_")}"
      MaterializedViews.refreshFull(t(spark, dir, "orders"), mv, base)
      MaterializedViews.read(spark, base, "daily_revenue")
        .orderBy(col("d"), col("o_orderpriority"))
    }),
    // Cardinality-preserving join pruning (reference
    // accelerate-cardinality-preserving-joins.md): with unique keys +
    // integral FKs declared, a 3-table FK chain whose dim columns are
    // unused optimizes to a single-table scan (asserted: no Join in
    // the optimized plan). Equality with the joined oracle proves the
    // prune preserves cardinality and duplication factor exactly.
    "prune_cardinality_joins" -> ((spark, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_prune_${dir.replaceAll("[^0-9a-z]", "_")}"
      graft.Engine.withConf(spark, graft.plans.TablePrune.EnabledKey -> "true") {
        val df = t(spark, dir, "lineitem")
          .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("l_quantity").cast("bigint")).cast("bigint").as("qty"))
        require(!df.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]),
          "table pruning failed: a join survived the optimized plan")
        df.write.mode("overwrite").parquet(root) // materialize WITH pruning on
      }
      spark.read.parquet(root).orderBy(col("l_returnflag"))
    }),
    // ANALYZE-driven CBO (reference FE statistic/ ANALYZE jobs +
    // StatisticsCalculator + Histogram feeding join reorder and
    // distribution choice): testdata tables registered in the session
    // catalog, ANALYZE FOR COLUMNS with equi-height histograms, then a
    // join chain planned under cost-based join reorder. The oracle is
    // the same SQL over the raw tables — equal results prove the
    // stats-driven replan is semantics-preserving; CboSpec asserts the
    // plan flips themselves.
    "opt_cbo_stats_join" -> ((spark, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_cbo_${dir.replaceAll("[^0-9a-z]", "_")}"
      graft.plans.CboStats.register(spark, "cbo_orders", s"$dir/orders.parquet")
      graft.plans.CboStats.register(spark, "cbo_customer", s"$dir/customer.parquet")
      graft.plans.CboStats.register(spark, "cbo_nation", s"$dir/nation.parquet")
      graft.plans.CboStats.analyze(spark, "cbo_orders",
        Seq("o_custkey", "o_totalprice"), histogram = true)
      graft.plans.CboStats.analyze(spark, "cbo_customer",
        Seq("c_custkey", "c_nationkey"), histogram = false)
      graft.plans.CboStats.analyze(spark, "cbo_nation",
        Seq("n_nationkey", "n_name"), histogram = false)
      require(graft.plans.CboStats.columnStats(spark, "cbo_orders")
        .filter(col("histogram_bins") > 0).count() >= 1,
        "ANALYZE did not persist histograms")
      graft.Engine.withConf(spark, "spark.sql.cbo.joinReorder.enabled" -> "true") {
        spark.sql(
          """SELECT n_name, count(*) AS n_orders,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
            |FROM cbo_orders JOIN cbo_customer ON o_custkey = c_custkey
            |JOIN cbo_nation ON c_nationkey = n_nationkey
            |WHERE o_totalprice > 150000
            |GROUP BY n_name""".stripMargin)
          .write.mode("overwrite").parquet(root) // plan + run INSIDE the conf window
      }
      spark.read.parquet(root).orderBy(col("n_name"))
    }),
    // Query cache (reference be/src/exec/query_cache/): per-partition
    // partial-agg reuse with predicate-based splitting. A first query
    // over [01-05, 01-15] populates per-day partials; the gate's
    // query over [01-10, 01-25] merges the 6 cached overlap days and
    // computes only the 10 new ones. Equality with the direct oracle
    // over the same range proves cache-served partials merge to the
    // exact uncached answer.
    "cache_agg_reuse" -> ((spark, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_qc_${dir.replaceAll("[^0-9a-z]", "_")}"
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true) // re-runnable
      t(spark, dir, "events")
        .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
        // co-locate each day before the partitioned write: one file per
        // day instead of tasks x days tiny files — the cache passes
        // re-open these per-day files twice, so file count dominates
        .repartition(col("d"))
        .write.partitionBy("d").parquet(s"$root/base")
      val specs = Seq(
        QueryCache.AggSpec("count", "*", "n"),
        QueryCache.AggSpec("sum", "value", "total"),
        QueryCache.AggSpec("avg", "value", "avg_value"))
      // warm pass (populates 01-05..01-15 partials; result unused)
      QueryCache.aggregate(spark, s"$root/base", "d", Seq("event_type"), specs,
        Some("2024-01-05"), Some("2024-01-15"), s"$root/cache")
      QueryCache.aggregate(spark, s"$root/base", "d", Seq("event_type"), specs,
        Some("2024-01-10"), Some("2024-01-25"), s"$root/cache")
        .select(col("event_type"), col("n"), col("total").cast("double").as("total"),
          col("avg_value"))
        .orderBy(col("event_type"))
    }),
    // Global dictionary: encode a low-cardinality string column to
    // dense int codes, aggregate on the codes, decode back — the
    // reference's low-cardinality dict rewrite made explicit. The
    // oracle reproduces the deterministic dict with dense_rank.
    "dict_encode_agg" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val dict = Dictionary.build(o, "o_orderpriority")
      val encoded = Dictionary.encode(o, "o_orderpriority", dict)
      val aggd = encoded.groupBy(col("o_orderpriority")) // int codes
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("rev"))
      Dictionary.decode(aggd, "o_orderpriority", dict)
        .select(col("o_orderpriority"), col("n"), round(col("rev"), 2).as("rev"))
        .orderBy(col("o_orderpriority"))
    }),
    // PERSISTED incremental global dictionary (the reference's
    // AUTO_INCREMENT global-dict acceleration): two loads — the
    // second repeating half the first's keys — must keep every
    // already-assigned id stable, assign unique fresh ids to the new
    // keys, and make COUNT(DISTINCT id) agree with COUNT(DISTINCT
    // key). Ids themselves are nondeterministic (monotonic with
    // gaps), so the gate emits id-INDEPENDENT invariants.
    "dict_global_incremental" -> ((spark, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_gdict_${dir.replaceAll("[^0-9a-z]", "_")}"
      graft.sources.Formats.deleteDir(spark, root)
      val o = t(spark, dir, "orders")
        .select(concat(lit("c"), col("o_custkey")).as("cust"), col("o_orderpriority"))
      graft.operators.Dictionary.upsertGlobalDict(spark, root,
        o.filter(col("o_custkey") % 2 === 0), "cust")
      val ids1 = graft.sources.Lake.read(spark, root)
        .select(col("value"), col("id").as("id1"))
      graft.operators.Dictionary.upsertGlobalDict(spark, root, o, "cust")
      val dict2 = graft.sources.Lake.read(spark, root)
      val changed = ids1.join(dict2, Seq("value"))
        .filter(col("id") =!= col("id1")).count()
      val enc = graft.operators.Dictionary.encodeGlobal(spark, o, "cust", root)
      enc.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("cust")).as("n_values"),
          countDistinct(col("cust_id")).as("n_ids"),
          count(when(col("cust_id").isNull, 1)).as("n_unmapped"))
        .withColumn("n_changed", lit(changed))
        .orderBy(col("o_orderpriority"))
    }),
    // PCT refresh: partition-change-tracking — mutate one base
    // partition between refreshes; only it recomputes (asserted), and
    // the final MV equals the oracle's recompute of the mutated base.
    "mv_pct_refresh" -> ((spark, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pct_${dir.replaceAll("[^0-9a-z]", "_")}"
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true) // re-runnable
      val o = t(spark, dir, "orders").withColumn("o_year", year(col("o_orderdate")))
      o.write.partitionBy("o_year").parquet(s"$root/base")
      val mv = MaterializedViews.MvDef("rev_by_year", df =>
        df.groupBy(col("o_year"), col("o_orderpriority"))
          .agg(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("revenue"),
            count(lit(1)).as("n_orders")))
      MaterializedViews.refreshPartitioned(spark, s"$root/base", "o_year", mv, root)
      // mutate exactly one partition: re-append the 1995 orders with
      // orderkey <= 300 (deterministic, oracle-reproducible)
      o.filter(col("o_year") === 1995 && col("o_orderkey") <= 300)
        .write.mode("append").partitionBy("o_year").parquet(s"$root/base")
      val report = MaterializedViews.refreshPartitioned(spark, s"$root/base", "o_year", mv, root)
      assert(report.refreshed == Seq("1995"), s"PCT refreshed wrong set: $report")
      MaterializedViews.read(spark, root, "rev_by_year")
        .select(col("o_year").cast("int").as("o_year"), col("o_orderpriority"),
          round(col("revenue"), 2).as("revenue"), col("n_orders"))
        .orderBy(col("o_year"), col("o_orderpriority"))
    }),
    // Transparent MV rewrite: register the MV, then run the SAME
    // definition — the optimizer substitutes the materialized scan
    // (plans.MvRewrite); matching the oracle proves the rewrite is
    // semantics-preserving end to end.
    "mv_auto_rewrite" -> ((spark, dir) => {
      import graft.plans.MvRewrite
      val definition = t(spark, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mvrw_${dir.replaceAll("[^0-9a-z]", "_")}/prio_revenue"
      MvRewrite.register(spark, "prio_revenue", definition, path)
      MvRewrite.install(spark)
      val q = t(spark, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
      assert(scans.exists(_.contains("prio_revenue")), "MV rewrite did not engage")
      q
    }),
    // ai_query: batched inference over documents (deterministic stub —
    // the oracle mirrors the stub's arithmetic on text length).
    "ai_query_labels" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      AiQuery.aiQuery(docs, "text", "ai_response")
        .groupBy(col("ai_response"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("ai_response"))
    }),
    // geo scalar surface: synthetic lon/lat from custkey; distance to a
    // fixed point + box containment.
    "geo_functions" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
        .withColumn("lon", (col("c_custkey") % 360 - 180).cast("double") + 0.5)
        .withColumn("lat", (col("c_custkey") % 170 - 85).cast("double") + 0.25)
      c.select(col("c_custkey"),
          round(expr("st_distance_sphere(lon, lat, 2.35, 48.85)"), 3).as("dist_m"),
          expr("st_within_box(lon, lat, -10.0, 35.0, 30.0, 60.0)").as("in_europe_box"),
          expr("st_x(st_point(lon, lat))").as("px"))
        .orderBy(col("c_custkey"))
    }),
    // polygon containment (st_polygon WKT + even-odd st_contains). The
    // diamond (0,-40),(60,0),(0,40),(-60,0) has a closed-form oracle:
    // inside ⇔ 2|x| + 3|y| < 120; point coords (offset .5/.25) can
    // never land exactly on the boundary.
    "geo_polygon_contains" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
        .withColumn("lon", (col("c_custkey") % 360 - 180).cast("double") + 0.5)
        .withColumn("lat", (col("c_custkey") % 170 - 85).cast("double") + 0.25)
      c.select(col("c_custkey"),
          expr("st_contains(st_polygon('POLYGON ((0 -40, 60 0, 0 40, -60 0, 0 -40))'), " +
            "st_point(lon, lat))").as("in_diamond"))
        .orderBy(col("c_custkey"))
    }),
    // HLL sketch lifecycle: per-nation customer sketches (partial agg
    // state), merged up to regions via hll_union_agg, estimated with
    // hll_cardinality. Cardinalities stay far below the sketch's exact
    // regime so the DuckDB exact count matches.
    // Radius join (ST_DWithin): customers within 500 km of each
    // supplier site. Latitude banding turns the spatial predicate into
    // a 1D binned range join (lat distance lower-bounds great-circle
    // distance, so the bands are a conservative prune — no false
    // drops), then exact haversine as the residual filter. Reuses
    // RangeJoin.pointInInterval — no cartesian, no geo index needed.
    "geo_radius_join" -> ((spark, dir) => {
      val pts = t(spark, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") % 360 - 180).cast("double").plus(0.5).as("lon"),
        (col("c_custkey") % 170 - 85).cast("double").plus(0.25).as("lat"))
      val centers = t(spark, dir, "supplier").select(col("s_suppkey"),
        (col("s_suppkey") % 360 - 180).cast("double").plus(0.75).as("clon"),
        (col("s_suppkey") % 160 - 80).cast("double").plus(0.5).as("clat"))
        .withColumn("lat_lo", col("clat") - 4.6)
        .withColumn("lat_hi", col("clat") + 4.6)
      graft.operators.RangeJoin.pointInInterval(
          pts, "lat", centers, "lat_lo", "lat_hi", 5.0)
        .withColumn("dist_m",
          expr("st_distance_sphere(lon, lat, clon, clat)"))
        .where(col("dist_m") <= 500000d)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_within"),
          round(min("dist_m"), 3).as("nearest_m"))
        .orderBy(col("s_suppkey"))
    }),
    "hll_sketch_union" -> ((spark, dir) => {
      val nation = t(spark, dir, "nation")
      val region = t(spark, dir, "region")
      val perNation = t(spark, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(expr("hll_raw_agg(c_custkey % 300)").as("sk"))
      perNation
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(expr("hll_cardinality(hll_union_agg(sk))").as("approx_keys"))
        .orderBy(col("r_name"))
    }))

  def oracles: Map[String, String] = Map(
    "dict_global_incremental" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_values,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_ids,
        |  CAST(0 AS BIGINT) AS n_unmapped,
        |  CAST(0 AS BIGINT) AS n_changed
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "opt_cbo_stats_join" ->
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_totalprice > 150000
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "prune_cardinality_joins" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "cache_agg_reuse" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(value) AS DOUBLE) AS avg_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-25'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dict_encode_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS rev
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "mv_pct_refresh" ->
      """WITH base AS (
        |  SELECT * FROM orders
        |  UNION ALL
        |  SELECT * FROM orders WHERE year(o_orderdate) = 1995 AND o_orderkey <= 300)
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM base GROUP BY 1, 2 ORDER BY o_year, o_orderpriority""".stripMargin,
    "mv_full_refresh" ->
      """SELECT date_trunc('day', o_orderdate) AS d, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY d, o_orderpriority""".stripMargin,
    "mv_auto_rewrite" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "ai_query_labels" ->
      """SELECT 'label_' || CAST((length(text) * 31) % 5 AS VARCHAR) AS ai_response,
        |  count(*) AS n, min(doc_id) AS min_doc
        |FROM documents GROUP BY 1 ORDER BY ai_response""".stripMargin,
    "geo_functions" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |    CAST(c_custkey % 170 - 85 AS DOUBLE) + 0.25 AS lat
        |  FROM customer)
        |SELECT c_custkey,
        |  round(2 * 6371000 * asin(sqrt(
        |    sin(radians(48.85 - lat) / 2) * sin(radians(48.85 - lat) / 2) +
        |    cos(radians(lat)) * cos(radians(48.85)) *
        |    sin(radians(2.35 - lon) / 2) * sin(radians(2.35 - lon) / 2))), 3) AS dist_m,
        |  (lon BETWEEN -10.0 AND 30.0) AND (lat BETWEEN 35.0 AND 60.0) AS in_europe_box,
        |  lon AS px
        |FROM pts ORDER BY c_custkey""".stripMargin,
    "geo_polygon_contains" ->
      """SELECT c_custkey,
        |  (2 * abs(CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.5)
        |   + 3 * abs(CAST(c_custkey % 170 - 85 AS DOUBLE) + 0.25)) < 120 AS in_diamond
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "geo_radius_join" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |    CAST(c_custkey % 170 - 85 AS DOUBLE) + 0.25 AS lat
        |  FROM customer),
        |centers AS (
        |  SELECT s_suppkey,
        |    CAST(s_suppkey % 360 - 180 AS DOUBLE) + 0.75 AS clon,
        |    CAST(s_suppkey % 160 - 80 AS DOUBLE) + 0.5 AS clat
        |  FROM supplier),
        |d AS (
        |  SELECT s_suppkey,
        |    2 * 6371000 * asin(sqrt(
        |      sin(radians(clat - lat) / 2) * sin(radians(clat - lat) / 2) +
        |      cos(radians(lat)) * cos(radians(clat)) *
        |      sin(radians(clon - lon) / 2) * sin(radians(clon - lon) / 2))) AS dist_m
        |  FROM centers CROSS JOIN pts)
        |SELECT s_suppkey, count(*) AS n_within,
        |  round(min(dist_m), 3) AS nearest_m
        |FROM d WHERE dist_m <= 500000
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "hll_sketch_union" ->
      """SELECT r_name, count(DISTINCT c_custkey % 300) AS approx_keys
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
}
