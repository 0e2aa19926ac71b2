package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.Lake

/** Dev tool: merge-on-read vs copy-on-write delete cost at growing
  * table scale — the DelVec story in one table. A small predicate
  * delete (~0.1% of rows, spread across EVERY file, the worst case for
  * CoW) is applied to the same Lake table via `delete` (CoW rewrite of
  * every touched file) and `deleteMor` (one positional sidecar), then
  * the masked read and the post-fold read are timed.
  *
  * Columns: delete wall (s), bytes written by the delete commit, and
  * the read-side cost of the mask. At 100 TB the "bytes written"
  * column is the whole story: CoW rewrites the table, MoR writes
  * kilobytes.
  *
  * args: rowCounts...  (default 1000000 4000000 16000000)
  */
object MorScaleProbe {
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

    println("| rows | files | shape | CoW delete s | CoW MB written | MoR delete s | MoR KB written | masked read s | fold s | folded read s |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    for (n <- sizes) {
      val nFiles = math.max(8, (n / 500000L).toInt)
      val base = mk(n).repartitionByRange(nFiles, $"k").sortWithinPartitions($"k")
      // two delete shapes over the k-range-clustered layout:
      // scattered — ~0.1% of rows in EVERY file (CoW's worst case:
      //   rewrite everything; MoR's read-side worst case: no clean
      //   fast-path subset);
      // clustered — the same row count from ONE file's k-range (the
      //   common erase-by-key case: one dirty file, the split read
      //   keeps every other file on the unmasked fast path)
      val shapes = Seq(
        "scattered" -> (col("k") % 1000 === 7),
        "clustered" -> (col("k") < n / 1000L))

      for ((shape, pred) <- shapes) {
        val cowDir = java.nio.file.Files.createTempDirectory("mor_cow").toString
        Lake.write(base, cowDir, Nil)
        val (vCow, tCow) = time(Lake.delete(spark, cowDir, pred))
        val cowMb = commitBytes(cowDir, vCow) / 1e6

        val morDir = java.nio.file.Files.createTempDirectory("mor_dv").toString
        Lake.write(base, morDir, Nil)
        val (vMor, tMor) = time(Lake.deleteMor(spark, morDir, pred))
        val morKb = {
          val snap = Lake.readSnapshot(spark, morDir, vMor)
          val f = new org.apache.hadoop.fs.Path(snap.dvFiles.head)
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
        readAgg(morDir)
        val (_, tFolded) = time(readAgg(morDir))

        println(f"| ${n}%d | $nFiles%d | $shape | $tCow%.1f | $cowMb%.1f | $tMor%.1f | $morKb%.1f | $tMasked%.2f | $tFold%.1f | $tFolded%.2f |")

        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cowDir))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(morDir))
      }
    }
    spark.stop()
  }
}
