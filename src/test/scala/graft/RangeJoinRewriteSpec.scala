package graft

import org.apache.spark.sql.functions._
import graft.plans.RangeJoinRewrite

/** The automatic range-join derivation: plain `p BETWEEN lo AND hi`
  * join syntax must keep its results bit-identical while the plan
  * switches from BroadcastNestedLoopJoin to the binned equi join. */
class RangeJoinRewriteSpec extends SparkSuite {
  import spark.implicits._

  private val points = (1 to 400).map(i => (i.toLong, (i * 7 % 1000).toDouble))
    .toDF("pid", "p")
  private val intervals = (1 to 50).map(i =>
      (i.toLong, (i * 19 % 900).toDouble, (i * 19 % 900 + 80).toDouble))
    .toDF("iid", "lo", "hi")

  private def joined = points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
    .select($"pid", $"iid").orderBy($"pid", $"iid")

  test("rewrite preserves results exactly and removes the nested loop") {
    Session.prepare(spark)
    val naive = joined.collect().toSeq
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), "baseline should nested-loop")
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true",
        RangeJoinRewrite.BinKey -> "100") {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "rewrite did not remove the nested loop:\n" + plan)
      assert(joined.collect().toSeq === naive)
    }
  }

  test("strict and mixed-spelling bounds rewrite too, same results") {
    Session.prepare(spark)
    // def, not val: a val's QueryExecution is memoized under the
    // conf active at first use, hiding the rewrite
    def q = points.join(intervals, $"lo" < $"p" && $"hi" > $"p")
      .select($"pid", $"iid").orderBy($"pid", $"iid")
    val naive = q.collect().toSeq
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true",
        RangeJoinRewrite.BinKey -> "37") {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(q.collect().toSeq === naive)
    }
  }

  test("date-axis BETWEEN joins rewrite too (binSize in days)") {
    Session.prepare(spark)
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val evts = (1 to 120).map(i => (i.toLong, d(f"2024-${i % 12 + 1}%02d-${i % 27 + 1}%02d")))
      .toDF("eid", "ed")
    val spans = (1 to 12).map(i =>
      (i.toLong, d(f"2024-$i%02d-01"), d(f"2024-$i%02d-20"))).toDF("sid", "lo", "hi")
    def q = evts.join(spans, $"ed" >= $"lo" && $"ed" <= $"hi")
      .select($"eid", $"sid").orderBy($"eid", $"sid")
    val naive = q.collect().toSeq
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true",
        RangeJoinRewrite.BinKey -> "15") { // 15-day bins
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(q.collect().toSeq === naive)
    }
  }

  test("joins with an equi key are left alone") {
    Session.prepare(spark)
    val l = Seq((1L, 5.0), (2L, 6.0)).toDF("k", "v")
    val r = Seq((1L, 0.0, 10.0)).toDF("k", "lo", "hi")
    val q = l.join(r, l("k") === r("k") && $"v" >= $"lo" && $"v" <= $"hi")
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true") {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__p_bin"), "equi join was needlessly rewritten")
      assert(q.count() === 1) // only k=1 matches the single interval row
    }
  }

  test("the join_range_auto gate plans the binned join, not a nested loop") {
    val df = SparkEntry.queries("join_range_auto")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "gate did not get the rewrite:\n" + plan)
  }

  test("empty intervals and boundary points behave identically") {
    Session.prepare(spark)
    val pts = Seq((1L, 100.0), (2L, 0.0), (3L, 250.0)).toDF("pid", "p")
    val ivs = Seq((10L, 100.0, 100.0),   // degenerate single point
      (11L, 300.0, 200.0),               // empty (lo > hi)
      (12L, 0.0, 250.0)).toDF("iid", "lo", "hi")
    def q = pts.join(ivs, $"p" >= $"lo" && $"p" <= $"hi")
      .select($"pid", $"iid").orderBy($"pid", $"iid")
    val naive = q.collect().toSeq
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true",
        RangeJoinRewrite.BinKey -> "64") {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(q.collect().toSeq === naive)
      assert(naive.map(r => (r.getLong(0), r.getLong(1))) ===
        Seq((1L, 10L), (1L, 12L), (2L, 12L), (3L, 12L)))
    }
  }

  test("per-interval bin cap fails fast with a clear message") {
    Session.prepare(spark)
    val pts = Seq((1L, 5.0)).toDF("pid", "p")
    // one open-ended interval encoded with a sentinel hi: at binSize=1
    // it would replicate into 10M bin rows without the cap
    val ivs = Seq((10L, 0.0, 1.0e7)).toDF("iid", "lo", "hi")
    def q = pts.join(ivs, $"p" >= $"lo" && $"p" <= $"hi").select($"pid", $"iid")
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true",
        RangeJoinRewrite.BinKey -> "1",
        RangeJoinRewrite.MaxBinsKey -> "1000") {
      val e = intercept[Exception] { q.collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("rangeJoin")),
        s"expected the cap message naming the confs, got: $e")
    }
    // under the cap the same query runs and matches the nested loop
    Engine.withConf(spark, RangeJoinRewrite.EnabledKey -> "true",
        RangeJoinRewrite.BinKey -> "100000") {
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 10L)))
    }
  }
}
