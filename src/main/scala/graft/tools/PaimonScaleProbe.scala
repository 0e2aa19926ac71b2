package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.PaimonRead

/** Dev tool: Paimon primary-key MERGE-ON-READ cost across a decade of
  * base sizes. The claim under test: the LSM merge is ONE
  * hash-partitioned window keyed by the primary key over live-run rows
  * — wall follows the data volume (≤ linear per decade), and
  * compaction returns the read to plain-scan shape. A fixed-size
  * upsert+delete batch rides on each base so the merge always has
  * multi-run keys to resolve.
  *
  * args: rowCounts...  (default 1000000 4000000 16000000)
  */
object PaimonScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(1000000L, 4000000L, 16000000L)

    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println("| base rows | ingest s (3 commits) | MoR read s | chg full s | chg 1-key s | compact s | post-compact read s | dv delete s | post-dv read s | branch s | gc s | post-gc read s |")
    println("|---|---|---|---|---|---|---|---|---|---|---|---|")
    for (n <- sizes) {
      val table = s"${System.getProperty("java.io.tmpdir")}/graft_paimon_probe_$n"
      graft.sources.Formats.deleteDir(spark, table)
      val base = spark.range(0, n).select($"id".as("k"),
        ($"id" % 7).cast("string").as("p"),
        ($"id" * 31 % 100000).cast("double").as("price"))
      val ingest = time {
        PaimonRead.commitPk(base, table, Seq("k"), Seq("p"), numBuckets = 4)
        // fixed-size delta: 20k upserts + 5k deletes
        PaimonRead.commitPk(spark.range(0, 20000).select($"id".as("k"),
          ($"id" % 7).cast("string").as("p"), lit(-1.0).as("price")),
          table, Seq("k"))
        PaimonRead.commitPk(spark.range(20000, 25000).select($"id".as("k"),
          ($"id" % 7).cast("string").as("p")), table, Seq("k"), deletes = true)
      }
      def readWall(): Double = time(PaimonRead.read(spark, table)
        .agg(count(lit(1)), sum($"price")).collect())
      val mor = readWall()
      // CDC feed cost: full multi-bucket window vs a single-key commit
      // whose prior scan prunes to the ONE touched bucket's files
      val chgFull = time(PaimonRead.changes(spark, table, 1, 3)
        .agg(count(lit(1))).collect())
      PaimonRead.commitPk(Seq((42L, "0", -9.0)).toDF("k", "p", "price"),
        table, Seq("k"), assumeKeyUnique = true)
      val chgOne = time(PaimonRead.changes(spark, table, 3, 4)
        .agg(count(lit(1))).collect())
      val comp = time(PaimonRead.compact(spark, table))
      val post = readWall()
      // deletion vectors on the compacted table: mask a FIXED 10k-key
      // band (k in [30k, 40k)) — cost must track the touched rows +
      // one table scan, not grow super-linearly with base size
      val dvDel = time(PaimonRead.deleteWhereDv(spark, table,
        $"k" >= 30000L && $"k" < 40000L))
      val postDv = readWall()
      // BRANCH lifecycle (r12: branches are the newest metadata tree
      // and their GC interaction the likeliest regression site): fork
      // at the current snapshot, commit a FIXED 5k-row delta to the
      // branch, read it back — then leave the branch in place so the
      // GC below must treat its tree as retention roots. Wall must
      // track the delta, not the base size.
      val br = PaimonRead.branchRoot(table, "probe")
      val mainCount = PaimonRead.read(spark, table).count()
      val branch = time {
        PaimonRead.createBranch(spark, table, "probe")
        PaimonRead.commitPk(spark.range(n, n + 5000).select($"id".as("k"),
          ($"id" % 7).cast("string").as("p"), lit(7.5).as("price")),
          br, Seq("k"), assumeKeyUnique = true)
        PaimonRead.read(spark, br).agg(count(lit(1))).collect()
      }
      // GC: expire everything but the latest snapshot, then the orphan
      // sweep (r11: reachability roots on the driver, per-file listing
      // + deletes as ONE Spark job over the leaf dirs) — wall must be
      // ≤ linear per decade, not driver-RPC-serial
      val gc = time {
        PaimonRead.expireSnapshots(spark, table, retainLast = 1)
        PaimonRead.removeOrphanFiles(spark, table, olderThanMillis = 0L)
      }
      val postGc = readWall()
      // the GC must have kept every branch-reachable file: the branch
      // still resolves to fork-point rows + its own 5k delta
      val brCount = PaimonRead.read(spark, br).count()
      require(brCount == mainCount + 5000,
        s"branch lost rows after GC: $brCount vs ${mainCount + 5000}")
      println(f"| $n | $ingest%.1f | $mor%.2f | $chgFull%.2f | $chgOne%.2f | $comp%.1f | $post%.2f | $dvDel%.2f | $postDv%.2f | $branch%.2f | $gc%.1f | $postGc%.2f |")
      graft.sources.Formats.deleteDir(spark, table)
    }
    spark.stop()
  }
}
