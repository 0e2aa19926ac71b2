package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.{PaimonHashIndex, PaimonRead, PaimonWrite}

/** Dev tool: DYNAMIC-BUCKET ('bucket' = '-1') paimon commit cost
  * across a decade of base sizes. Claims under test:
  *  - the base ingest (all-new keys) assigns distributed + one
  *    batch-bounded driver collect — ≤ linear per decade;
  *  - a FIXED-SIZE follow-up upsert's assignment is a distributed
  *    join of 20k key hashes against the index files (read on
  *    executors) — its wall must grow far slower than the base
  *    (index scan is linear but parallel and 4 bytes/key);
  *  - the single-key CDC poll stays bucket-pruned (flat), since
  *    sticky assignment keeps old images in the touched bucket.
  *
  * args: rowCounts...  (default 1000000 4000000 16000000)
  */
object DynBucketScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(1000000L, 4000000L, 16000000L)

    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println("| base rows | buckets | ingest s | fixed 20k upsert s | read s | chg 1-key s |")
    println("|---|---|---|---|---|---|")
    for (n <- sizes) {
      val table = s"${System.getProperty("java.io.tmpdir")}/graft_dynb_probe_$n"
      graft.sources.Formats.deleteDir(spark, table)
      val base = spark.range(0, n).select($"id".as("k"),
        ($"id" * 31 % 100000).cast("double").as("price"))
      // target sized for ~8 buckets at the smallest decade, growing
      // bucket count with the data (the paimon deal)
      val ingest = time(PaimonWrite.commitPk(base, table, Seq("k"),
        numBuckets = -1, assumeKeyUnique = true,
        options = Map("dynamic-bucket.target-row-num" -> "125000")))
      val buckets = PaimonHashIndex.entriesAt(spark, table,
        PaimonRead.snapshotIndexManifest(spark, table, 1L)).size
      // fixed-size upsert: 15k existing + 5k new keys — the
      // assignment join's wall is the decade claim
      val up = time(PaimonWrite.commitPk(
        spark.range(0, 20000).select(
          when($"id" < 15000, $"id").otherwise($"id" + n).as("k"),
          lit(-1.0).as("price")),
        table, Seq("k"), assumeKeyUnique = true))
      val rd = time(PaimonRead.read(spark, table)
        .agg(count(lit(1)), sum($"price")).collect())
      PaimonWrite.commitPk(Seq((42L, -9.0)).toDF("k", "price"),
        table, Seq("k"), assumeKeyUnique = true)
      val chgOne = time(PaimonRead.changes(spark, table, 2, 3)
        .agg(count(lit(1))).collect())
      println(f"| $n | $buckets | $ingest%.1f | $up%.1f | $rd%.2f | $chgOne%.2f |")
      graft.sources.Formats.deleteDir(spark, table)
    }
    spark.stop()
  }
}
