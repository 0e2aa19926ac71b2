package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import graft.plans.CboStats

/** Statistics-driven planning (`plans/CboStats`): ANALYZE populates
  * catalog stats + equi-height histograms; Catalyst's estimation flips
  * physical join strategy based on them (SURVEY §4.2 — the reference's
  * StatisticsCalculator / Histogram / CostModel path).
  */
class CboSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def countJoins[T](plan: org.apache.spark.sql.execution.SparkPlan,
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Int =
    plan.collect(pf).size

  test("ANALYZE computes row count, NDV, min/max and histogram bins") {
    val dir = tmp("cbo_stats")
    spark.range(0, 10000)
      .select($"id".as("k"), ($"id" % 13).as("m"))
      .write.mode("overwrite").parquet(dir)
    CboStats.register(spark, "cbo_stats_t", dir)
    CboStats.analyze(spark, "cbo_stats_t", histogram = true)
    val st = CboStats.columnStats(spark, "cbo_stats_t").collect()
      .map(r => r.getString(2) -> r).toMap
    assert(st("k").getLong(1) === 10000L)       // row count
    val kNdv = st("k").getLong(3)
    assert(kNdv > 9000 && kNdv <= 11000, s"k ndv=$kNdv") // sketch-approx
    assert(st("m").getLong(3) === 13L)
    assert(st("k").getString(5) === "0" && st("k").getString(6) === "9999")
    assert(st("k").getInt(7) > 0, "histogram bins expected")
  }

  test("histogram corrects a skew mis-estimate: uniform assumption broadcasts, histogram does not") {
    val dir = tmp("cbo_skew")
    // 99% of dim rows have x <= 10, but x spans [0, 10000]: under the
    // uniform (no-histogram) assumption `x <= 10` keeps ~0.1% of rows;
    // the equi-height histogram knows it keeps ~99%.
    val dim = spark.range(0, 200000).select($"id".as("dk"),
      when($"id" % 100 < 99, ($"id" % 11)).otherwise(($"id" % 10000)).as("x"),
      concat(lit("pad-"), lpad($"id".cast("string"), 64, "x")).as("pad"))
    dim.write.mode("overwrite").parquet(dir)
    val factDir = tmp("cbo_fact")
    spark.range(0, 200000).select(($"id" % 200000).as("dk"), ($"id" * 3).as("v"))
      .write.mode("overwrite").parquet(factDir)
    CboStats.register(spark, "cbo_dim", dir)
    CboStats.register(spark, "cbo_fact", factDir)

    def planFor(): org.apache.spark.sql.execution.SparkPlan =
      spark.sql(
        """SELECT f.dk, sum(f.v) FROM cbo_fact f
          |JOIN cbo_dim d ON f.dk = d.dk WHERE d.x <= 10
          |GROUP BY f.dk""".stripMargin).queryExecution.executedPlan

    val threshold = "1048576" // 1 MiB: raw dim ≫, truly-filtered dim ≫, mis-estimate ≪
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> threshold,
      "spark.sql.adaptive.enabled" -> "false") {
      // stats WITHOUT histogram: uniform selectivity ~0.1% -> tiny
      // estimate -> broadcasts (the mis-plan)
      CboStats.analyze(spark, "cbo_dim", histogram = false)
      CboStats.analyze(spark, "cbo_fact", histogram = false)
      val p1 = planFor()
      assert(countJoins(p1, { case b: BroadcastHashJoinExec => b }) === 1,
        s"expected uniform-assumption broadcast:\n$p1")
      // stats WITH histogram: estimated ~99% of 200k rows -> too big to
      // broadcast -> sort-merge (the correct plan)
      CboStats.analyze(spark, "cbo_dim", histogram = true)
      val p2 = planFor()
      assert(countJoins(p2, { case s: SortMergeJoinExec => s }) === 1,
        s"expected histogram-corrected sort-merge:\n$p2")
    }
  }

  test("cost-based join reorder moves the selective dimension first") {
    val a = tmp("cbo_ra"); val b = tmp("cbo_rb"); val c = tmp("cbo_rc")
    spark.range(0, 100000).select($"id".as("k1"), ($"id" % 1000).as("k2"))
      .write.mode("overwrite").parquet(a)
    spark.range(0, 100000).select($"id".as("k1"), ($"id" * 7).as("w"))
      .write.mode("overwrite").parquet(b)
    spark.range(0, 1000).select($"id".as("k2"), ($"id" % 5).as("tag"))
      .write.mode("overwrite").parquet(c)
    CboStats.register(spark, "cbo_r_a", a)
    CboStats.register(spark, "cbo_r_b", b)
    CboStats.register(spark, "cbo_r_c", c)
    Seq("cbo_r_a", "cbo_r_b", "cbo_r_c").foreach(t =>
      CboStats.analyze(spark, t, histogram = false))
    // written fact-fact first, tiny selective dim last
    val q =
      """SELECT count(*) FROM cbo_r_a a
        |JOIN cbo_r_b b ON a.k1 = b.k1
        |JOIN cbo_r_c c ON a.k2 = c.k2 AND c.tag = 0""".stripMargin
    Engine.withConf(spark, "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val opt = spark.sql(q).queryExecution.optimizedPlan
      val order = opt.collectLeaves().flatMap(
        _.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.catalogTable.map(_.identifier.table) }.flatten)
      // the reordered plan must not leave the two facts joined first:
      // the selective c-join belongs below the top join
      val joins = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.nonEmpty)
      val bottom = joins.last // innermost join
      val bottomTables = bottom.collectLeaves().flatMap(
        _.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.catalogTable.map(_.identifier.table) }.flatten).toSet
      assert(bottomTables.contains("cbo_r_c"),
        s"selective dim not pushed down in join order: $order\n$opt")
      // and the result is still right
      val n = spark.sql(q).collect()(0).getLong(0)
      assert(n === (0 until 100000).count(_ % 1000 % 5 == 0).toLong)
    }
  }
}
