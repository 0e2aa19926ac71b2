package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.plans.TablePrune

/** Cardinality-preserving join pruning: declared-constraint table
  * elimination must fire exactly when it is safe — and produce
  * bit-identical results to the unpruned plan when it does.
  */
class TablePruneSpec extends SparkSuite {

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def withPrune[T](body: => T): T = Engine.withConf(spark, TablePrune.EnabledKey -> "true")(body)

  private def chainAgg = {
    val li = table("lineitem")
    li.join(table("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(table("part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("bigint")).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  test("inner FK chain: both unused dims pruned, results unchanged") {
    val unpruned = chainAgg.collect().toSeq
    assert(joins(chainAgg) === 2)
    withPrune {
      val df = chainAgg
      assert(joins(df) === 0)
      assert(df.collect().toSeq === unpruned)
    }
  }

  test("left join prunes on unique key alone, even with a dim filter") {
    withPrune {
      val df = table("orders")
        .join(table("customer").filter(col("c_acctbal") > 0),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_totalprice"))
      assert(joins(df) === 0)
      assert(df.count() === table("orders").count())
    }
  }

  test("inner join does NOT prune a filtered dim (integrity broken)") {
    withPrune {
      val df = table("orders")
        .join(table("customer").filter(col("c_acctbal") > 0),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      assert(joins(df) === 1)
    }
  }

  test("no prune when a dim column is referenced") {
    withPrune {
      val df = table("orders")
        .join(table("customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
      assert(joins(df) === 1)
    }
  }

  test("no prune without the declared constraint or with the flag off") {
    withPrune {
      // events->user_id has no declared unique key on any side
      val e = table("events")
      val df = e.as("a").join(e.as("b"), col("a.event_id") === col("b.event_id"))
        .select(col("a.user_id"))
      assert(joins(df) === 1)
    }
    assert(joins(chainAgg) === 2) // flag off outside withPrune
  }

  test("dim side of the join order does not matter (inner symmetric)") {
    withPrune {
      val df = table("part")
        .join(table("lineitem"), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(joins(df) === 0)
    }
  }
}
