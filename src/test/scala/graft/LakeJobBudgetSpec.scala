package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MaterializedViews
import graft.sources.Lake

/** Job budget of one merge-on-read ingest round: a mergeMor, a
  * deleteMor and an append, each followed by the maintenance policy
  * (`maybeCompact`), one min/max MV poll and a masked read-after-write
  * aggregate. Delete-vector planning is answered from the manifest
  * record, so the round's Spark jobs are the writes, the MV refresh and
  * the reads themselves; a plan-time job brought back into any of these
  * paths (a sidecar scan, a schema inference) pushes the count over the
  * budget. Inputs have fixed partition counts, so the file layout —
  * and with it the compaction decisions — does not depend on the core
  * count.
  */
class LakeJobBudgetSpec extends SparkSuite {
  import spark.implicits._

  /** Spark jobs of the round below, measured with the record in place.
    * Raise it only for work a change adds on purpose. */
  private val Budget = 39

  test("a merge/delete/append round with maintenance, MV poll and read stays within its job budget") {
    val root = java.nio.file.Files.createTempDirectory("lake_budget").toString
    val table = s"$root/t"
    val mvDir = s"$root/mv"
    val ledger = s"$mvDir/cursor"
    def rows(from: Long, to: Long, parts: Int, grp: Int): DataFrame =
      spark.range(from, to, 1, parts).select($"id".as("k"),
        lit(grp).as("grp"), ($"id" % 100).cast("double").as("price"))
    val gv = (_: DataFrame) => (($"k" % 5).cast("int"), $"price")
    Lake.write(rows(0, 2000, 2, 0), table, Nil)
    MaterializedViews.maintainMinMaxMv(spark, table, mvDir, ledger, gv)

    val loads: Seq[(String, () => Unit)] = Seq(
      "merge" -> (() => Lake.mergeMor(spark, table, rows(1900, 2100, 1, 1), Seq("k"))),
      "delete" -> (() => Lake.deleteMor(spark, table, $"k" < 100)),
      "append" -> (() => Lake.write(rows(3000, 3100, 1, 2), table, Nil, "append")))
    val perLoad = loads.map { case (name, load) =>
      name -> jobsDuring {
        load()
        Lake.maybeCompact(spark, table)
        MaterializedViews.maintainMinMaxMv(spark, table, mvDir, ledger, gv)
        Lake.read(spark, table).groupBy(($"k" % 5).as("g"))
          .agg(count(lit(1)), sum($"price")).collect()
      }._2.size
    }
    val total = perLoad.map(_._2).sum
    assert(total <= Budget, s"round ran $total Spark jobs (budget $Budget): $perLoad")

    // the round's results: the table and the MV match a fold of the loads
    val keys = (100L until 2100L) ++ (3000L until 3100L)
    assert(Lake.read(spark, table).select($"k").as[Long].collect().sorted.toSeq === keys)
    val mv = MaterializedViews.readMinMaxMv(spark, mvDir)
      .select($"g", $"n", $"mn", $"mx").as[(Int, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val expect = keys.groupBy(k => (k % 5).toInt).toSeq.sortBy(_._1).map {
      case (g, ks) => (g, ks.size.toLong, ks.map(_ % 100).min.toDouble,
        ks.map(_ % 100).max.toDouble) }
    assert(mv === expect)
  }
}
