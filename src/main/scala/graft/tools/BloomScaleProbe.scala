package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.{BloomIndex, Lake}

/** Dev tool: the n-gram bloom skipping story in one table — a
  * substring scan (`LIKE '%needle%'`) over a Lake documents table
  * with and without the manifest blooms, at growing corpus scale.
  *
  * The table is written RANGE-CLUSTERED on doc_id (MakeScale replicas
  * occupy disjoint id ranges, so each file holds a contiguous slice
  * of one replica) — the realistic layout where rare needles
  * concentrate in few files: time-clustered logs, source-clustered
  * corpora. A needle unique to one replica (`zrepK`) then prunes to
  * that replica's files; an absent needle prunes everything. On a
  * hash-scattered layout the same blooms prune nothing — clustering
  * is what converts the index into I/O skipping, same as the
  * id-pushdown note in [[graft.operators.VectorIndex.topK]].
  *
  * args: dir...  (default /root/testdata/sf0.1 /tmp/graft_docs_10x)
  */
object BloomScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_docs_10x")

    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    def time(df: => DataFrame): Double = {
      def run(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm
      (run() + run()) / 2
    }

    println("| corpus | docs | files | full LIKE s | pruned LIKE s | files kept | absent-needle kept |")
    println("|---|---|---|---|---|---|---|")
    for (dir <- dirs) {
      val docs = graft.queries.util.t(spark, dir, "documents")
      val n = docs.count()
      val files = math.max(8, (n / 4000).toInt)
      // table path carries a SOURCE CONTENT tag (same scheme as
      // VectorIndex.ensureBuilt): regenerating the source dir in
      // place changes the key and forces a rebuild — stale tables
      // and blooms are never silently reused against new documents
      val srcPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val f = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tag =
        if (!f.exists(srcPath)) "nosrc"
        else Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
          f.listStatus(srcPath)
            .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
            .sorted.mkString("|")))
      val table = System.getProperty("java.io.tmpdir") +
        s"/graft_bloomscale_${dir.replaceAll("[^0-9a-zA-Z]", "_")}_$tag"
      if (!f.exists(new org.apache.hadoop.fs.Path(table)) ||
          Lake.currentVersion(spark, table) == 0) {
        f.delete(new org.apache.hadoop.fs.Path(table), true)
        Lake.write(docs.repartitionByRange(files, col("doc_id")), table, Nil)
        BloomIndex.buildIndex(spark, table, ngramCols = Seq("text"))
      }
      // needle matching ONE replica family when the dir is MakeScale-
      // grown ("zrep3" hits replica 3, and 30-39 where they exist —
      // still a small clustered slice); on the base dir it is absent
      // and prunes everything — both ends of the story
      val needle = "zrep3"
      // the NO-INDEX baseline reads the same data files directly
      // (plain parquet scan — the Lake read path would consult the
      // blooms automatically, measuring the same pruned plan twice)
      val snap = Lake.readSnapshot(spark, table, Lake.currentVersion(spark, table))
      val full = time(spark.read.schema(snap.schema)
        .parquet(snap.files.map(_.path): _*)
        .filter(col("text").contains(needle)).select(col("doc_id")))
      val pruned = BloomIndex.readWhereContains(spark, table, "text", needle)
      val prunedS = time(pruned.df.select(col("doc_id")))
      val absent = BloomIndex.readWhereContains(spark, table, "text", "zq9xv7kq9zzz")
      println(f"| $dir | $n | ${pruned.totalFiles} | $full%.3f | $prunedS%.3f | " +
        f"${pruned.keptFiles}/${pruned.totalFiles} | ${absent.keptFiles} |")
    }
    spark.stop()
  }
}
