package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.Lake

/** Dev tool: row-level CDC-out cost at growing table scale —
  * manifest-derived [[Lake.changes]] (reads only the files a commit
  * added or delete-vectored) vs the keyed [[Lake.snapshotDiff]]
  * (full-outer join of two table reads). The same ~0.1%-update +
  * 0.05%-insert mergeMor batch is extracted both ways; at 100 TB the
  * difference is "read the batch" vs "read the table twice and
  * shuffle it on the key".
  *
  * args: rowCounts...  (default 1000000 4000000 16000000)
  */
object CdcScaleProbe {
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

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    println("| rows | files | changed rows | changes() s | snapshotDiff s | stream drain s |")
    println("|---|---|---|---|---|---|")
    for (n <- sizes) {
      val nFiles = math.max(8, (n / 500000L).toInt)
      val dir = java.nio.file.Files.createTempDirectory("cdc_probe").toString
      Lake.write(mk(n).repartitionByRange(nFiles, $"k").sortWithinPartitions($"k"),
        dir, Nil)
      val batch = mk(n).filter($"k" % 1000 === 7)
        .withColumn("price", $"price" * 2)
        .unionByName(mk(n + n / 2000L).filter($"k" >= n))
      Lake.mergeMor(spark, dir, batch, Seq("k"))

      val (c1, tChanges) = time(Lake.changes(spark, dir, 1, 2)
        .groupBy($"__change_type").count().collect().map(_.getLong(1)).sum)
      val (_, tDiff) = time(Lake.snapshotDiff(spark, dir, "k", 1, 2)
        .filter($"status" =!= "unchanged").count())
      // STREAMING source drain of the same commit delta: one
      // micro-batch over (1, 2] via graft-lake-cdc — its wall must
      // track the COMMIT DELTA (changes() above), not the base size;
      // the gap over tChanges is the fixed micro-batch + checkpoint
      // machinery cost per poll
      val (_, tStream) = time {
        val q = spark.readStream.format("graft-lake-cdc")
          .option("table", dir).option("startingVersion", "1").load()
          .writeStream.format("noop")
          .option("checkpointLocation", s"$dir/_probe_ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }

      println(f"| ${n}%d | $nFiles%d | $c1%d | $tChanges%.1f | $tDiff%.1f | $tStream%.1f |")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    spark.stop()
  }
}
