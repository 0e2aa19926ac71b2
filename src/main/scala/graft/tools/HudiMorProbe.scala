package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.HudiRead

/** Dev tool: the Hudi merge-on-read READ cost story at growing base
  * scale — a fixed-size delta batch (upserts + deletes in log files)
  * against bases a decade apart. The claim under test: [[HudiRead
  * .readMor]]'s wall follows the BASE SCAN (a plain parquet read +
  * one broadcast anti-join on the touched keys), while the log fold
  * is driver-side metadata work bounded by the BATCH — so the
  * merge-on-read premium over a clean base read stays flat as the
  * table grows, which is what makes log-file ingest viable at 100 TB
  * (the alternative, rewriting the file group per batch, scales with
  * the group).
  *
  * args: rowCounts...  (default 1000000 4000000 16000000);
  * `deep` appends the DEEP-BACKLOG section: 100 uncompacted
  * deltacommits against one base, driver fold vs the distributed fold
  * (`inlineLogBytesCap = 0`) — the guard that
  * keeps a compaction-lagging table from accumulating every pending
  * record in driver memory.
  */
object HudiMorProbe {
  def main(args: Array[String]): Unit = {
    val numeric = args.toSeq.filter(_.forall(_.isDigit)).map(_.toLong)
    val deep = args.contains("deep")
    val sizes = if (numeric.nonEmpty) numeric
      else if (deep) Nil
      else Seq(1000000L, 4000000L, 16000000L)

    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println("| base rows | clean read s | MoR read s (20k-row delta) | premium | fold-side rows |")
    println("|---|---|---|---|---|")
    for (n <- sizes) {
      val table = s"${System.getProperty("java.io.tmpdir")}/graft_hmor_probe_$n"
      graft.sources.Formats.deleteDir(spark, table)
      val base = spark.range(0, n).select($"id".as("k"),
        ($"id" % 997).as("grp"), ($"id" * 31 % 100000).cast("double").as("price"))
      // 4 file groups so the dirty/clean split exercises both sides
      HudiRead.commit(table, (0 until 4).map(g =>
        s"g$g" -> base.filter($"k" % 4 === g)).toMap)
      val clean = time(HudiRead.read(spark, table)
        .agg(count(lit(1)), sum($"price")).collect())
      // one load-batch-scale delta: 15k upserts + 5k deletes on g0
      HudiRead.deltaCommit(table, "g0", "k",
        Some(spark.range(0, 60000).filter($"id" % 4 === 0)
          .select($"id".as("k"), ($"id" % 997).as("grp"), lit(-1.0).as("price"))),
        (60000L until 80000L).filter(_ % 4 == 0).map(_.toString))
      val mor = time(HudiRead.read(spark, table)
        .agg(count(lit(1)), sum($"price")).collect())
      println(f"| $n | $clean%.2f | $mor%.2f | ${mor / clean}%.1f× | 20k |")
      graft.sources.Formats.deleteDir(spark, table)
    }

    if (deep) {
      val n = 4000000L
      val batches = 100
      val perBatch = 2000L
      val table = s"${System.getProperty("java.io.tmpdir")}/graft_hmor_deep"
      graft.sources.Formats.deleteDir(spark, table)
      val base = spark.range(0, n).select($"id".as("k"),
        ($"id" % 997).as("grp"), ($"id" * 31 % 100000).cast("double").as("price"))
      HudiRead.commit(table, Map("g0" -> base))
      val t0 = System.nanoTime()
      (0 until batches).foreach { i =>
        HudiRead.deltaCommit(table, "g0", "k",
          Some(spark.range(i * perBatch, (i + 1) * perBatch)
            .select($"id".as("k"), ($"id" % 997).as("grp"),
              lit(-i.toDouble).as("price"))))
      }
      val ingest = (System.nanoTime() - t0) / 1e9
      def readWall(): Double = time(HudiRead.read(spark, table)
        .agg(count(lit(1)), sum($"price")).collect())
      val driver = readWall()
      val dist = time(HudiRead.readMor(spark, table, inlineLogBytesCap = 0L)
        .agg(count(lit(1)), sum($"price")).collect())
      println(s"\nDEEP BACKLOG: $batches uncompacted deltacommits × $perBatch rows on a $n-row base")
      println("| ingest s | driver-fold read s | distributed-fold read s |")
      println(f"| $ingest%.1f | $driver%.2f | $dist%.2f |")
      graft.sources.Formats.deleteDir(spark, table)
    }
    spark.stop()
  }
}
