package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The shared OCC commit primitive: atomically publish `bytes` at
  * `path` with EXCLUSIVE-create semantics, or throw
  * `ConcurrentModificationException` when a racing committer won.
  *
  * On a LOCAL filesystem a plain exclusive `create()` makes the file
  * visible BEFORE its bytes land, so a concurrent reader can parse a
  * torn commit record (found by the Lake OCC stress spec as
  * checksum/EOF errors). The publish is therefore a hard link from a
  * fully-written private temp file — `Files.createLink` is atomic and
  * fails with EEXIST on a race, i.e. the local equivalent of the
  * atomic exclusive PUT object-store commit protocols rely on. HDFS-
  * style filesystems keep the stream path (create is exclusive and
  * readers cannot open an un-completed file).
  *
  * Used by Lake manifests, LakeTx catalog versions, every Delta log
  * version and V2 checkpoint manifest ([[DeltaWrite]]), every Hudi
  * instant and `hoodie.properties` ([[HudiWrite]]), every Iceberg
  * metadata version ([[IcebergWrite]]), every Paimon snapshot
  * ([[PaimonRead]]), and the VectorIndex model publish. */
object AtomicPublish {

  def publish(spark: SparkSession, path: Path, bytes: Array[Byte]): Unit = {
    val f = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        val dest = java.nio.file.Paths.get(path.toUri.getPath)
        java.nio.file.Files.createDirectories(dest.getParent)
        val tmp = java.nio.file.Files.createTempFile(dest.getParent, ".publish", ".tmp")
        try {
          java.nio.file.Files.write(tmp, bytes)
          try java.nio.file.Files.createLink(dest, tmp)
          catch { case e: java.nio.file.FileAlreadyExistsException =>
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit detected at $path — reread and retry", e)
          }
        } finally { val _ = java.nio.file.Files.deleteIfExists(tmp) }
      case _ =>
        // HDFS-style: write the FULL content to a private temp in the
        // same directory, then rename — HDFS rename is atomic and
        // FAILS when the destination exists, so the record appears
        // complete-or-not-at-all and racers conflict loudly. (A plain
        // exclusive create() would make the path visible before its
        // bytes land: readers deriving the current version from the
        // file listing would parse a torn record, and a writer crash
        // between create and write would brick the version forever.)
        // True object stores need a conditional-PUT implementation
        // here; rename-as-copy stores are out of scope.
        val tmp = new Path(path.getParent,
          s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        try {
          val out = f.create(tmp, false)
          try out.write(bytes) finally out.close()
          val renamed =
            try f.rename(tmp, path)
            catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
          if (!renamed)
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit detected at $path — reread and retry")
        } finally { val _ = f.delete(tmp, false) }
    }
  }

  /** [[publish]], or — when a racing committer won — delete `staged`
    * (the files this commit wrote, which nothing references yet) and
    * rethrow the `ConcurrentModificationException`. */
  def publishOrDiscard(spark: SparkSession, path: Path, bytes: Array[Byte],
      staged: Seq[Path]): Unit =
    try publish(spark, path, bytes)
    catch { case e: java.util.ConcurrentModificationException =>
      val f = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      staged.foreach(p => f.delete(p, false))
      throw e
    }
}
