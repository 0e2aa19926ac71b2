package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions — the analogue of the reference's FE
  * golden-plan tests (`fe/fe-core/src/test/resources/sql/tpch/`,
  * SURVEY.md §5 layer 2): the plan SHAPE is the scale contract.
  * These catch regressions like a filter not reaching the parquet
  * scan, a broadcast turning into a shuffle, or partial aggregation
  * disappearing — all invisible to value-correctness tests at small
  * SF but fatal at 100 TB.
  */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plan string AFTER execution — with AQE on, codegen spans (the
    * `*(n)` markers on WholeStageCodegenExec) only appear in the
    * finalized adaptive plan. */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filters are pushed into the parquet scan (Q6)") {
    val plan = planOf(SparkEntry.queries("q6_forecast_revenue")(spark, sf))
    assert(plan.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(plan.contains("l_shipdate"), "shipdate filter not pushed")
  }

  test("column pruning reaches the scan: Q6 reads only needed columns") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("ReadSchema"), "no ReadSchema in scan")
    // only 4 referenced columns may be read — never the full lineitem
    assert(!scans.contains("l_returnflag"), "unreferenced column read from parquet")
    assert(!scans.contains("l_orderkey"), "unreferenced column read from parquet")
  }

  test("dimension joins broadcast (Q5 has no shuffle join on dims)") {
    val plan = planOf(SparkEntry.queries("q5_local_supplier_volume")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims not broadcast")
  }

  test("aggregation is two-phase (partial + final hash agg)") {
    val plan = planOf(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(plan.contains("HashAggregate"), "no hash aggregate")
    assert(plan.contains("partial_"), "no partial (map-side) aggregation phase")
  }

  test("order by + limit plans TakeOrderedAndProject, not global sort") {
    val plan = planOf(SparkEntry.queries("q3_shipping_priority")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"limit not fused into sort")
  }

  test("ranking window + filter plans WindowGroupLimit (partition topn pushdown)") {
    val plan = planOf(SparkEntry.queries("win_partition_topn")(spark, sf))
    assert(plan.contains("WindowGroupLimit"), "rank filter not pushed into window")
  }

  test("QUALIFY with a ranking predicate plans WindowGroupLimit") {
    val plan = planOf(SparkEntry.queries("win_qualify")(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      "qualify(rn <= k) must plan the same partition-topn pushdown as an explicit filter")
  }

  test("k-means assignment is scan-side: no exchange in the assign stage") {
    val cents = Array.tabulate(4)(i => Array.tabulate(8)(j => (i * 8 + j + 1).toDouble))
    val df = graft.operators.Similarity.kMeansAssign(
      table("embeddings"), "vec_id", "embedding", cents)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment must not shuffle the corpus:\n$plan")
  }

  test("whole-stage codegen covers the Q1 pipeline") {
    val plan = finalPlanOf(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(plan.contains("*("), s"no whole-stage codegen spans:\n$plan")
  }

  test("vector distance expressions stay inside codegen (no fallback)") {
    val df = table("embeddings").limit(10)
      .select(graft.functions.VectorFunctions.cosine_similarity($"embedding", $"embedding").as("c"))
    val plan = finalPlanOf(df)
    assert(plan.contains("*("), s"cosine expr broke codegen:\n$plan")
  }

  test("asof join is one shuffle + window, not a nested loop") {
    val e = table("events")
    val l = e.filter($"event_type" === "purchase").select($"user_id", $"ts", $"event_id")
    val r = e.filter($"event_type" === "signup").select($"user_id", $"ts".as("sts"), $"event_id".as("sid"))
    val plan = planOf(graft.operators.AsofJoin.asof(l, r, Seq("user_id"), "ts", "sts"))
    assert(!plan.contains("NestedLoopJoin"), "asof degraded to nested loop")
    assert(plan.contains("Window"), "asof missing window")
    // exactly one exchange keyed by the join keys feeds the window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"asof join shuffles too much: $exchanges exchanges\n")
  }

  test("minhash LSH pairs: signatures computed scan-side, join is hash-based") {
    val plan = planOf(graft.operators.Dedup.minhashLshPairs(
      table("documents"), "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), "LSH pair generation went quadratic")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "LSH pair generation went quadratic")
  }

  test("AQE is enabled and coalesces shuffle partitions") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") === "true")
  }

  test("semi join planned for Q18 big-orders filter") {
    val plan = planOf(SparkEntry.queries("q18_large_volume_customer")(spark, sf))
    assert(plan.contains("LeftSemi"), "IN-subquery not planned as semi join")
  }

  test("null-aware anti join planned for NOT IN") {
    val plan = planOf(SparkEntry.queries("join_null_aware_anti")(spark, sf))
    assert(plan.toLowerCase.contains("anti"), "NOT IN not planned as anti join")
  }

  test("Q21 double correlation plans one semi + one anti join, no nested loop") {
    val plan = planOf(SparkEntry.queries("q21_waiting_supplier")(spark, sf))
    assert(plan.contains("LeftSemi"), "EXISTS not a semi join")
    assert(plan.contains("LeftAnti"), "NOT EXISTS not an anti join")
    assert(!plan.contains("CartesianProduct"), "Q21 went quadratic")
  }

  test("Q2 correlated max subquery stays broadcast, no cartesian") {
    val plan = planOf(SparkEntry.queries("q2_best_supplier")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "Q2 dims/best not broadcast")
    assert(!plan.contains("CartesianProduct"), "Q2 went quadratic")
  }

  test("Q17 per-part avg guard is a hash join, not a per-row subquery") {
    val plan = planOf(SparkEntry.queries("q17_small_quantity_revenue")(spark, sf))
    assert(plan.contains("HashJoin"), "correlated avg not decorrelated to a join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("partition pruning: year-partitioned table reads only matching partitions") {
    // the reference's RANGE partitioning + partition prune
    // (PartitionPruneRule) ≡ write partitionBy + scan-time pruning
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/orders_by_year"
    table("orders").withColumn("o_year", year($"o_orderdate"))
      .write.partitionBy("o_year").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter($"o_year" === 1997)
      .agg(count(lit(1)))
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters: [isnotnull(o_year"), s"no partition filter:\n$scan")
    // only the 1997 partition's files are selected (7 year partitions
    // exist; the scan metric must show a strict subset). AQE wraps
    // subtrees in query stages whose children are hidden — unwrap
    // recursively to reach the scan node.
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val numFiles = scans(q.queryExecution.executedPlan).map(_.metrics("numFiles").value)
    val totalFiles = spark.read.parquet(dir).inputFiles.length
    assert(numFiles.nonEmpty && numFiles.head > 0 && numFiles.head < totalFiles,
      s"partition pruning ineffective: read ${numFiles.headOption} of $totalFiles files")
  }

  test("multi-probe LSH corpus side has no explode (bucketed once)") {
    val emb = table("embeddings")
    val q = emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val plan = planOf(graft.operators.Similarity.lshTopK(
      emb, "vec_id", "embedding", q, "qid", "qvec", 5, planes = 6, tables = 2, probes = 1))
    // explode (probe expansion) must appear exactly once per table —
    // on the broadcast query side — never on the corpus scan side
    val generates = "Generate explode".r.findAllIn(plan).length
    assert(generates == 2, s"expected 2 probe explodes (1/table), got $generates")
  }

  test("ssb star: all dims broadcast, exactly one fact-fact join shuffles") {
    val plan = planOf(SparkEntry.queries("ssb_q4_1")(spark, sf))
    // cust/supp/part dims must all ride broadcast joins
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3,
      s"SSB dims not broadcast:\n$plan")
    // the only non-broadcast join is lineitem⋈orders
    val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(shuffleJoins <= 1, s"more than one shuffled join in SSB star:\n$plan")
  }

  test("clickbench shape: single scan, join-free, top-n fused into sort") {
    // cb_top_users is the canonical ClickBench group-by-top-N: the plan
    // must be scan → partial agg → one exchange → final agg →
    // TakeOrderedAndProject. At 100 TB the whole cost is scan bandwidth
    // plus ONE shuffle of the (already aggregated) group keys.
    val plan = planOf(SparkEntry.queries("cb_top_users")(spark, sf))
    assert(!plan.contains("Join"), s"ClickBench query must be join-free:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N not fused into sort:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"no map-side partial aggregation:\n$plan")
    // prune: only user_id + value may be read from the events scan
    val scans = SparkEntry.queries("cb_top_users")(spark, sf)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scans.contains("props"), "unreferenced props column read from parquet")
  }

  test("global sort uses range partitioning (merge-sort exchange)") {
    // the reference's merge-sort exchange ≡ Spark rangepartitioning:
    // sorted output without funneling rows through one task
    // (limit-less global orderBy — limited sorts fuse into
    // TakeOrderedAndProject instead, asserted elsewhere)
    val plan = planOf(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(plan.contains("rangepartitioning"),
      s"global sort not range-partitioned:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"global sort funnels through one partition:\n$plan")
  }

  test("salted join: no single hot partition — join key carries the salt") {
    val li = graft.Tables.load(spark, sf, "lineitem")
    val p = graft.Tables.load(spark, sf, "part").withColumnRenamed("p_partkey", "l_partkey")
    val plan = planOf(graft.operators.Colocate.saltedJoin(li, p, Seq("l_partkey"), 4))
    assert(plan.contains("__salt"), s"salt column absent from join plan:\n$plan")
  }

  test("chunking is scan-side: no shuffle below the Generate") {
    // the chunk explode must ride the scan — an Exchange underneath it
    // would shuffle the full corpus before expansion
    val plan = planOf(SparkEntry.queries("chunk_documents")(spark, sf))
    val gen = plan.indexOf("Generate")
    assert(gen >= 0, s"no Generate in chunk plan:\n$plan")
    assert(!plan.substring(gen).contains("Exchange"),
      s"shuffle below the chunk Generate:\n$plan")
  }

  test("exact percentile runs as distributed selection, not value buffering") {
    val df = SparkEntry.queries("agg_percentiles")(spark, sf)
    val plan = planOf(df)
    // no builtin percentile aggregate (the per-group value-buffer state)
    assert(!plan.contains("percentile("), s"value-buffering percentile in plan:\n$plan")
    // windows only over (keys, bucket) — never an empty partition spec
    // (which would funnel the fact through one task)
    val windowSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan.toLowerCase).map(_.group(1)).toSeq
    assert(windowSpecs.forall(s => s.contains("__b") || s.contains("l_linestatus")),
      s"window with suspicious partitioning:\n$plan")
  }

  test("AQE splits a skewed join partition (skew=true in final plan)") {
    // one hot key holding ~all rows vs a tiny advisory partition size —
    // the runtime re-plan the engine relies on instead of manual salting
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    Engine.withConf(spark, conf: _*) {
      import spark.implicits._
      val left = spark.range(200000)
        .select((when($"id" % 100 === 0, $"id").otherwise(lit(7L))).as("k"),
          concat(lit("padpadpadpadpadpadpadpad-"), $"id").as("payload"))
      val right = spark.range(5000).select($"id".as("k"), ($"id" * 2).as("v"))
      // aggregate on payload so the (incompressible) column rides the
      // shuffle — all-constant keys alone compress below the threshold
      val j = left.join(right, "k").agg(max(length($"payload")))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark/split the skewed join:\n$plan")
    }
  }

  test("query profile exposes per-operator runtime metrics (EXPLAIN ANALYZE parity)") {
    val q = table("lineitem").groupBy($"l_returnflag").count()
    val ops = graft.plans.QueryProfile.profile(q)
    val agg = ops.filter(_.node.contains("HashAggregate"))
    assert(agg.nonEmpty, s"no HashAggregate in profile:\n${ops.map(_.node)}")
    assert(agg.exists(_.rows.exists(_ > 0)), "aggregate reported no output rows")
    val scan = ops.filter(_.node.toLowerCase.contains("scan"))
    assert(scan.exists(_.rows.exists(_ > 0)), "scan reported no output rows")
    assert(graft.plans.QueryProfile.profileString(q).contains("rows="))
  }

  test("colocate join: same-key same-count bucketed tables join with no exchange") {
    val o = table("orders").select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val c = table("customer").select($"c_custkey", $"c_mktsegment")
    val base = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    graft.operators.Colocate.saveBucketed(o, "orders_colo", s"$base/o", Seq("o_custkey"), 8)
    graft.operators.Colocate.saveBucketed(c, "cust_colo", s"$base/c", Seq("c_custkey"), 8)
    // force non-broadcast
    try Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("orders_colo")
        .join(spark.table("cust_colo"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment").count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a keyed join:\n$plan")
      // the colocation contract: neither join input re-shuffles
      assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
        !plan.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join still exchanges:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_colo")
      spark.sql("DROP TABLE IF EXISTS cust_colo")
    }
  }

  test("bucketed aggregation: groupBy on the bucket key needs no exchange") {
    // bucketing satisfies the aggregation's required distribution too —
    // a recurring per-key rollup on a bucketed fact is exchange-free
    val o = table("orders").select($"o_custkey", $"o_totalprice")
    val base = java.nio.file.Files.createTempDirectory("graft-bucket-agg").toString
    graft.operators.Colocate.saveBucketed(o, "orders_ba", s"$base/o", Seq("o_custkey"), 8)
    try {
      val agg = spark.table("orders_ba").groupBy($"o_custkey")
        .agg(sum($"o_totalprice").as("t"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
        s"bucketed aggregation still exchanges:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS orders_ba")
  }

  test("bucket pruning: equality on the bucket key scans 1 of 8 buckets") {
    val o = table("orders").select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val base = java.nio.file.Files.createTempDirectory("graft-bucket-prune").toString
    graft.operators.Colocate.saveBucketed(o, "orders_bp", s"$base/o", Seq("o_custkey"), 8)
    try {
      val q = graft.operators.Colocate.pointLookup(
        spark.table("orders_bp"), $"o_custkey" === 37L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"point predicate on the bucket key did not prune buckets:\n$plan")
      // correctness unaffected by pruning
      assert(q.count() === o.filter($"o_custkey" === 37L).count())
      // an aggregate on the bucket key keeps the bucketed scan by
      // itself (no conf pin) and still prunes — the gate's shape
      val aggPlan = spark.table("orders_bp").filter($"o_custkey" === 37L)
        .groupBy($"o_custkey").count()
        .queryExecution.executedPlan.toString
      assert(aggPlan.contains("SelectedBucketsCount: 1 out of 8"),
        s"agg-on-bucket-key lookup did not prune:\n$aggPlan")
    } finally spark.sql("DROP TABLE IF EXISTS orders_bp")
  }

  test("jdbc connector scan: filter pushed to the external DB, range-split read") {
    val n = table("nation")
    graft.sources.Jdbc.loadTable(n, "NATION_PLAN")
    val ext = graft.sources.Jdbc.readPartitioned(spark, "NATION_PLAN",
        "n_nationkey", 0L, 24L, 4)
      .filter($"n_regionkey" >= 2)
      .select($"n_nationkey", $"n_name")
    val plan = planOf(ext)
    // RowDataSourceScan advertises the filters shipped into the remote
    // SQL — absence means Spark fetched the whole table and filtered
    // locally, the exact failure ConnectorScanNode pushdown prevents
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"filter not pushed into jdbc scan:\n$plan")
    assert(ext.rdd.getNumPartitions === 4, "range split did not produce 4 parallel reads")
  }

  test("piiScrub is a scan-side projection inside whole-stage codegen") {
    val df = table("documents").select($"doc_id",
      graft.operators.TextAnalysis.piiScrub($"text").as("s"))
    val plan = finalPlanOf(df)
    assert(!plan.contains("Exchange"), s"pii scrub must not shuffle:\n$plan")
    assert(plan.contains("*("), "pii scrub projection fell out of codegen")
  }

  test("gopher repetition metrics aggregate with map-side partials, one doc-keyed shuffle chain") {
    val df = graft.operators.TextAnalysis.repetitionMetrics(
      table("documents"), "doc_id", "text")
    val plan = planOf(df)
    assert(plan.contains("partial_"), "bigram counts lack map-side partial aggregation")
    // no join, no window, no cartesian anywhere in the metric pipeline
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"unexpected join in repetition metrics:\n$plan")
  }

  test("stratifiedSample adds no shuffle and no join") {
    val df = graft.operators.TextAnalysis.stratifiedSample(
      table("documents"), "source", "doc_id", Map("src0" -> 0.5), 0.1)
    val plan = planOf(df)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"sampling must stay scan-side:\n$plan")
  }

  test("frequencyCapKeep plans WindowGroupLimit; shuffleKey prefix plans TakeOrderedAndProject") {
    val capped = graft.operators.TextAnalysis.frequencyCapKeep(
      table("documents"), "lang", "doc_id", col("n_chars"), 10)
    val cappedPlan = planOf(capped)
    assert(cappedPlan.contains("WindowGroupLimit"),
      s"cap filter not pushed into window:\n$cappedPlan")
    // the flag form feeds accounting aggs (needs dropped rows too) and
    // by construction cannot take the group-limit path
    val flagged = graft.operators.TextAnalysis.frequencyCap(
      table("documents"), "lang", "doc_id", col("n_chars"), 10)
    assert(!planOf(flagged).contains("WindowGroupLimit"))
    val prefix = table("documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.shuffleKey(col("doc_id"), "s").as("k"))
      .orderBy(col("k")).limit(64)
    val prefixPlan = planOf(prefix)
    assert(prefixPlan.contains("TakeOrderedAndProject"),
      s"shuffle-order prefix must not global-sort:\n$prefixPlan")
  }

  test("lake scan prunes partitions from the manifest, not the filesystem") {
    val dir = java.nio.file.Files.createTempDirectory("lake_plan").toString
    val df = table("orders").select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    graft.sources.Lake.write(df, dir, Seq("o_orderpriority"))
    val (lake, index) = graft.sources.Lake.readIndexed(spark, dir)
    val n = lake.filter($"o_orderpriority" === "1-URGENT").count()
    assert(n > 0, "pruned read returned nothing")
    assert(index.totalFileCount >= 5, "expected one file group per priority")
    assert(index.lastSelectedFileCount > 0 &&
      index.lastSelectedFileCount < index.totalFileCount,
      s"manifest pruning did not reduce the file set: " +
        s"${index.lastSelectedFileCount}/${index.totalFileCount}")
    // and the filter should ALSO reach the parquet scan for row groups
    val plan = lake.filter($"o_orderpriority" === "1-URGENT").queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters: [") || plan.contains("isnotnull"),
      s"no partition filter evidence in plan:\n$plan")
  }

  test("lake time travel reads a frozen snapshot while new commits land") {
    val dir = java.nio.file.Files.createTempDirectory("lake_tt_plan").toString
    val df = table("orders").select($"o_orderkey")
    graft.sources.Lake.write(df.limit(100), dir, Nil)
    val v1Count = graft.sources.Lake.read(spark, dir).count()
    graft.sources.Lake.write(df.limit(300), dir, Nil)
    assert(graft.sources.Lake.read(spark, dir, Some(1)).count() === v1Count)
    assert(graft.sources.Lake.read(spark, dir).count() === 300)
    assert(graft.sources.Lake.history(spark, dir).count() === 2)
  }

  test("lake schema evolution: new column appends; old files read NULL; v1 keeps the old schema") {
    val dir = java.nio.file.Files.createTempDirectory("lake_evo_plan").toString
    val df = table("orders").select($"o_orderkey", $"o_totalprice")
    graft.sources.Lake.write(df.limit(50), dir, Nil)
    graft.sources.Lake.write(df.limit(80).withColumn("o_band", lit("b")),
      dir, Nil, mode = "append")
    val cur = graft.sources.Lake.read(spark, dir)
    assert(cur.columns.toSeq === Seq("o_orderkey", "o_totalprice", "o_band"))
    // pre-evolution files surface the new column as NULL, not an error
    assert(cur.filter($"o_band".isNull).count() === 50)
    assert(cur.filter($"o_band" === "b").count() === 80)
    // time travel to v1 serves the ORIGINAL two-column schema
    assert(graft.sources.Lake.read(spark, dir, Some(1)).columns.toSeq
      === Seq("o_orderkey", "o_totalprice"))
  }

  test("lake DELETE is copy-on-write: untouched files carry by reference, old snapshot intact") {
    import graft.sources.Lake
    val dir = java.nio.file.Files.createTempDirectory("lake_del_plan").toString
    val o = table("orders").select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    Lake.write(o, dir, Seq("o_orderpriority"))
    val v1 = Lake.readSnapshot(spark, dir, 1)
    val v1Count = Lake.read(spark, dir).count()
    val hit = Lake.read(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT" && $"o_orderkey" % 10 === 0).count()
    assert(hit > 0, "fixture must delete something")

    val v2n = Lake.delete(spark, dir,
      $"o_orderpriority" === "1-URGENT" && $"o_orderkey" % 10 === 0)
    assert(v2n === 2)
    val v2 = Lake.readSnapshot(spark, dir, 2)
    // files outside the touched partition carry over by reference
    val untouchedV1 = v1.files.filter(_.partitionValues("o_orderpriority") != "1-URGENT")
    assert(untouchedV1.map(_.path).toSet.subsetOf(v2.files.map(_.path).toSet))
    // the touched partition's files were all replaced
    val urgentV1 = v1.files.filter(_.partitionValues("o_orderpriority") == "1-URGENT")
    assert(urgentV1.map(_.path).toSet.intersect(v2.files.map(_.path).toSet).isEmpty)
    // row accounting + old snapshot still intact
    assert(Lake.read(spark, dir).count() === v1Count - hit)
    assert(Lake.read(spark, dir, Some(1)).count() === v1Count)
    // no-match delete is a no-op that returns the current version
    assert(Lake.delete(spark, dir, $"o_totalprice" < -1) === 2)

    // CoW UPDATE: only the touched partition's files are replaced; the
    // SET applies to matching rows, others in the file rewrite verbatim
    val before = Lake.read(spark, dir)
      .filter($"o_orderpriority" === "2-HIGH").agg(sum($"o_totalprice")).head.getDouble(0)
    val v3 = Lake.update(spark, dir,
      $"o_orderpriority" === "2-HIGH" && $"o_orderkey" % 2 === 0,
      Map("o_totalprice" -> lit(0.0)))
    assert(v3 === 3)
    val v2Files = Lake.readSnapshot(spark, dir, 2).files
    val v3Files = Lake.readSnapshot(spark, dir, 3).files
    assert(v2Files.filter(_.partitionValues("o_orderpriority") != "2-HIGH")
      .map(_.path).toSet.subsetOf(v3Files.map(_.path).toSet))
    val after = Lake.read(spark, dir)
      .filter($"o_orderpriority" === "2-HIGH").agg(sum($"o_totalprice")).head.getDouble(0)
    assert(after < before)
    assert(Lake.read(spark, dir).count() === Lake.read(spark, dir, Some(2)).count(),
      "UPDATE must not change row counts")
    // partition columns cannot be assigned
    intercept[IllegalArgumentException] {
      Lake.update(spark, dir, lit(true), Map("o_orderpriority" -> lit("x")))
    }
  }

  test("lake MERGE INTO is copy-on-write: matched rows replaced, inserts appended, untouched files carried") {
    import graft.sources.Lake
    val dir = java.nio.file.Files.createTempDirectory("lake_mrg_plan").toString
    val o = table("orders").select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    Lake.write(o.filter($"o_orderkey" % 4 =!= 3), dir, Seq("o_orderpriority"))
    val v1 = Lake.readSnapshot(spark, dir, 1)
    val matched = o.filter($"o_orderkey" % 8 === 1)
      .select($"o_orderkey", lit(0.0).as("o_totalprice"), $"o_orderpriority")
    val inserts = o.filter($"o_orderkey" % 4 === 3)
    val v2n = Lake.merge(spark, dir, matched.unionByName(inserts), Seq("o_orderkey"))
    assert(v2n === 2)
    val v2 = Lake.readSnapshot(spark, dir, 2)
    // every partition with a matched key was rewritten; matched rows
    // now carry the source's totalprice, inserts landed, counts add up
    val touchedParts = Lake.read(spark, dir, Some(1))
      .filter($"o_orderkey" % 8 === 1).select($"o_orderpriority")
      .distinct().collect().map(_.getString(0)).toSet
    val v1Untouched = v1.files.filterNot(f =>
      touchedParts.contains(f.partitionValues("o_orderpriority")))
    assert(v1Untouched.map(_.path).toSet.subsetOf(v2.files.map(_.path).toSet))
    val read2 = Lake.read(spark, dir)
    assert(read2.count() === o.count())
    assert(read2.filter($"o_orderkey" % 8 === 1 && $"o_totalprice" =!= 0.0).count() === 0)
    assert(read2.filter($"o_orderkey" % 4 === 3).count() === inserts.count())
    // old snapshot unchanged
    assert(Lake.read(spark, dir, Some(1)).count() ===
      o.filter($"o_orderkey" % 4 =!= 3).count())
  }

  test("lake compaction merges small files per partition, data byte-identical, then no-ops") {
    import graft.sources.Lake
    val dir = java.nio.file.Files.createTempDirectory("lake_cmp_plan").toString
    val o = table("orders").select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    Lake.write(o.filter($"o_orderkey" % 3 === 0), dir, Seq("o_orderpriority"))
    Lake.write(o.filter($"o_orderkey" % 3 === 1), dir, Seq("o_orderpriority"), mode = "append")
    Lake.write(o.filter($"o_orderkey" % 3 === 2), dir, Seq("o_orderpriority"), mode = "append")
    val v3 = Lake.readSnapshot(spark, dir, 3)
    val before = Lake.read(spark, dir).orderBy($"o_orderkey")
      .collect().map(_.toSeq).toSeq

    assert(Lake.compact(spark, dir) === 4)
    val v4 = Lake.readSnapshot(spark, dir, 4)
    assert(v4.files.size < v3.files.size, s"${v4.files.size} !< ${v3.files.size}")
    // one output file per partition at default target size
    assert(v4.files.groupBy(_.partitionValues).forall(_._2.size === 1))
    assert(Lake.read(spark, dir).orderBy($"o_orderkey")
      .collect().map(_.toSeq).toSeq === before, "compaction must not change data")
    assert(Lake.read(spark, dir, Some(3)).count() === before.size.toLong)
    // already-compacted table: no-op, same version
    assert(Lake.compact(spark, dir) === 4)
  }

  test("geo radius join is a binned equi join, not a nested loop") {
    val plan = planOf(SparkEntry.queries("geo_radius_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "radius join degenerated to a nested loop:\n" + plan)
  }

  test("interval overlap join meets on an equi key, not a nested loop") {
    val plan = planOf(SparkEntry.queries("join_interval_overlap")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "overlap join degenerated to a nested loop:\n" + plan)
  }

  test("count-min build is one partial+final aggregation over the explode") {
    val sk = graft.operators.CountMin.build(table("events"), "user_id", 5, 4096)
    val plan = sk.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), "no hash aggregation in sketch build")
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      "sketch build missing map-side combine:\n" + plan)
  }

  test("rolling 7-day actives: bounded explode, single distinct-count shuffle") {
    val plan = planOf(SparkEntry.queries("evt_rolling_wau")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "rolling WAU planned a day-range nested loop:\n" + plan)
  }

  test("YoY CTE stack: the dead UNION arm is pruned per self-join instance") {
    // the year_total CTE unions two channel arms; each of the 4 self-
    // join instances filters sale_type to ONE literal, so Catalyst
    // must fold the impossible arm away — 4 orders scans, not 8
    val plan = planOf(SparkEntry.queries("tpcds_yoy_cte_stack")(spark, sf))
    val orderScans = "orders\\.parquet".r.findAllIn(plan).size
    assert(orderScans === 4,
      s"expected 4 pruned orders scans (one per CTE instance), got $orderScans:\n" + plan)
    // and the per-instance year filter reaches the scan
    assert(plan.contains("PushedFilters"), "no pushdown info in scans")
  }

  test("six-instance YoY stack prunes to 6 orders scans with pushed year filters") {
    val plan = planOf(SparkEntry.queries("tpcds_yoy_six_join")(spark, sf))
    val orderScans = "orders\\.parquet".r.findAllIn(plan).size
    assert(orderScans === 6,
      s"expected 6 pruned orders scans (one per CTE instance), got $orderScans")
  }

  test("IN-list OR IN-subquery plans one ExistenceJoin, no second orders scan") {
    // Q45 shape: the disjunction of a local predicate with an
    // IN-subquery must NOT rewrite to a union of two fact scans —
    // Spark evaluates the subquery arm as an ExistenceJoin flag and
    // filters on the OR of (flag, local predicate) in one pass
    val plan = planOf(SparkEntry.queries("tpcds_in_or_subquery")(spark, sf))
    assert(plan.contains("ExistenceJoin"),
      "expected the IN-subquery arm as an ExistenceJoin:\n" + plan)
    val orderScans = "orders\\.parquet".r.findAllIn(plan).size
    assert(orderScans === 1,
      s"fact must be scanned once, got $orderScans scans:\n" + plan)
  }

  test("share-within-class window runs over grouped rows, not the fact") {
    // Q12/Q20/Q98 shape: one fact-side agg shuffle; the class-share
    // window partitions the ALREADY-AGGREGATED rows (150 groups), so
    // the Window operator must sit above the final HashAggregate and
    // add at most one more (tiny) exchange
    val df = SparkEntry.queries("tpcds_class_rev_share")(spark, sf)
    val plan = planOf(df)
    val winAt = plan.indexOf("Window")
    val aggAt = plan.indexOf("HashAggregate")
    assert(winAt >= 0 && aggAt > winAt,
      "Window must be above the aggregation (operate on grouped rows):\n" + plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"expected <=3 hash exchanges (agg, window, at most one more), got $exchanges:\n" + plan)
  }
}
