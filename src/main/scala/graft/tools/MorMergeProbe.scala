package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.Lake

/** Dev tool: merge-on-read vs copy-on-write UPSERT cost at growing
  * table scale — the sustained-ingest story. One load batch updates
  * ~0.1% of rows spread across EVERY file (CoW's worst case) and
  * inserts ~0.05% new keys, applied via `merge` (rewrite every
  * touched file) and `mergeMor` (append the batch + one positional
  * sidecar). At 100 TB the "bytes written" column is the whole
  * story: CoW rewrites the touched slice of the table per batch, MoR
  * writes O(batch).
  *
  * args: rowCounts...  (default 1000000 4000000 16000000)
  */
object MorMergeProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(1000000L, 4000000L, 16000000L)

    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def mk(n: Long) = spark.range(0, n)
      .select($"id".as("k"), ($"id" % 997).as("grp"),
        ($"id" * 31 % 100000).cast("double").as("price"),
        concat(lit("pad-"), lpad(($"id" % 100000).cast("string"), 48, "x")).as("pad"))

    def commitBytes(table: String, v: Int): Long = {
      val snap = Lake.readSnapshot(spark, table, v)
      val prevPaths = Lake.readSnapshot(spark, table, v - 1).files.map(_.path).toSet
      snap.files.filterNot(f => prevPaths.contains(f.path)).map(_.sizeBytes).sum
    }

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    println("| rows | files | CoW merge s | CoW MB written | MoR merge s | MoR MB written | MoR sidecar KB | masked read s | fold s |")
    println("|---|---|---|---|---|---|---|---|---|")
    for (n <- sizes) {
      val nFiles = math.max(8, (n / 500000L).toInt)
      val base = mk(n).repartitionByRange(nFiles, $"k").sortWithinPartitions($"k")
      // the batch: ~0.1% updates hitting every file + ~0.05% inserts
      def batch = mk(n).filter($"k" % 1000 === 7)
        .withColumn("price", $"price" * 2)
        .unionByName(mk(n + n / 2000L).filter($"k" >= n))

      val cowDir = java.nio.file.Files.createTempDirectory("mrg_cow").toString
      Lake.write(base, cowDir, Nil)
      val (vCow, tCow) = time(Lake.merge(spark, cowDir, batch, Seq("k")))
      val cowMb = commitBytes(cowDir, vCow) / 1e6

      val morDir = java.nio.file.Files.createTempDirectory("mrg_mor").toString
      Lake.write(base, morDir, Nil)
      val (vMor, tMor) = time(Lake.mergeMor(spark, morDir, batch, Seq("k")))
      val morMb = commitBytes(morDir, vMor) / 1e6
      val sidecarKb = {
        val snap = Lake.readSnapshot(spark, morDir, vMor)
        val f = new org.apache.hadoop.fs.Path(morDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        snap.dvFiles.map(d => f.getContentSummary(
          new org.apache.hadoop.fs.Path(d)).getLength).sum / 1e3
      }

      def readAgg(dir: String) = Lake.read(spark, dir)
        .groupBy($"grp").agg(sum($"price")).write.format("noop")
        .mode("overwrite").save()
      readAgg(morDir) // warm
      val (_, tMasked) = time(readAgg(morDir))
      val (_, tFold) = time(Lake.foldDeletes(spark, morDir))

      println(f"| ${n}%d | $nFiles%d | $tCow%.1f | $cowMb%.1f | $tMor%.1f | $morMb%.1f | $sidecarKb%.1f | $tMasked%.2f | $tFold%.1f |")

      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cowDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(morDir))
    }
    spark.stop()
  }
}
