package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** How graft makes a metadata file visible. Both entry points first
  * write the COMPLETE bytes to a private temp file beside the target,
  * so a reader sees a whole file or none, never a torn one.
  *
  * [[publish]] is for create-once commit records: EXCLUSIVE — when a
  * racing committer already published the path it throws
  * `ConcurrentModificationException`, which makes the record the OCC
  * commit point. On a LOCAL filesystem the temp is hard-linked in
  * (`Files.createLink` is atomic and fails with EEXIST on a race, the
  * local equivalent of an atomic exclusive PUT); elsewhere it is
  * renamed in (HDFS rename is atomic and fails when the destination
  * exists). A plain exclusive `create()` would make the path visible
  * before its bytes land. Used by Lake manifests, LakeTx catalog
  * versions, every Delta log version and V2 checkpoint manifest
  * ([[DeltaWrite]]), every Hudi instant, instant claim and
  * `hoodie.properties` ([[HudiWrite]]), every Iceberg metadata version
  * ([[IcebergWrite]]), every Paimon snapshot, schema file, tag and
  * branch copy ([[PaimonWrite]]) and the VectorIndex model publish.
  *
  * [[replace]] is for mutable pointers: the temp atomically replaces
  * the target, so a reader sees the old complete bytes or the new ones,
  * never a torn or missing file. Used by Lake `VERSION`, the MV
  * `_current` pointer and the PCT manifest ([[graft.operators.MaterializedViews]]),
  * the change-feed cursor and routine-load ledger ([[graft.streaming]]),
  * Paimon `snapshot/LATEST`, Iceberg `version-hint.text` and Delta
  * `_last_checkpoint`. [[read]] reads such a pointer back.
  *
  * True object stores need a conditional-PUT implementation of both;
  * rename-as-copy stores are out of scope. */
object AtomicPublish {

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `bytes` to a private temp file in `path`'s directory, hand
    * it to the install step — `local(temp, target)` on a local
    * filesystem (NIO paths), `other(fs, temp)` elsewhere — and delete
    * the temp whatever happened. */
  private def viaTemp(spark: SparkSession, path: Path, bytes: Array[Byte])(
      local: (java.nio.file.Path, java.nio.file.Path) => Unit)(
      other: (FileSystem, Path) => Unit): Unit =
    fs(spark, path) match {
      case _: LocalFileSystem =>
        val dest = Paths.get(path.toUri.getPath)
        Files.createDirectories(dest.getParent)
        val tmp = Files.createTempFile(dest.getParent, ".publish", ".tmp")
        try { Files.write(tmp, bytes); local(tmp, dest) }
        finally { val _ = Files.deleteIfExists(tmp) }
      case f =>
        val tmp = new Path(path.getParent,
          s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        try {
          val out = f.create(tmp, false)
          try out.write(bytes) finally out.close()
          other(f, tmp)
        } finally { val _ = f.delete(tmp, false) }
    }

  /** Exclusive create of a complete commit record at `path`, or
    * `ConcurrentModificationException` when a racing committer won. */
  def publish(spark: SparkSession, path: Path, bytes: Array[Byte]): Unit = {
    def lost(cause: Throwable) = new java.util.ConcurrentModificationException(
      s"concurrent commit detected at $path — reread and retry", cause)
    viaTemp(spark, path, bytes) { (tmp, dest) =>
      try Files.createLink(dest, tmp)
      catch { case e: java.nio.file.FileAlreadyExistsException => throw lost(e) }
    } { (f, tmp) =>
      val renamed =
        try f.rename(tmp, path)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (!renamed) throw lost(null)
    }
  }

  /** [[publish]], or — when a racing committer won — delete `staged`
    * (the files and per-commit directories this commit wrote, which
    * nothing references yet) and rethrow the
    * `ConcurrentModificationException`. */
  def publishOrDiscard(spark: SparkSession, path: Path, bytes: Array[Byte],
      staged: Seq[Path]): Unit =
    try publish(spark, path, bytes)
    catch { case e: java.util.ConcurrentModificationException =>
      val f = fs(spark, path)
      staged.foreach(p => f.delete(p, true))
      throw e
    }

  /** Atomically replace the pointer at `path` with `bytes` (creating it
    * when absent). Locally an NIO atomic move; it first drops a stale
    * `.<name>.crc` sibling, which a file once written through Hadoop
    * carries and which would fail the next checksummed open. Elsewhere
    * an overwriting `FileContext.rename`, which HDFS performs
    * atomically. */
  def replace(spark: SparkSession, path: Path, bytes: Array[Byte]): Unit =
    viaTemp(spark, path, bytes) { (tmp, dest) =>
      Files.deleteIfExists(dest.resolveSibling(s".${dest.getFileName}.crc"))
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } { (f, tmp) =>
      FileContext.getFileContext(f.getUri, f.getConf)
        .rename(tmp, path, Options.Rename.OVERWRITE)
    }

  /** The bytes at `path`, or None when no file is there. */
  def read(spark: SparkSession, path: Path): Option[Array[Byte]] =
    try {
      val in = fs(spark, path).open(path)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
}
