package graft.sources

import java.nio.ByteBuffer
import java.util.zip.CRC32

import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.RoaringBitmap

/** Apache Paimon DELETION VECTORS — the position-delete sidecar of
  * `deletion-vectors.enabled` tables.
  *
  * The `.dv` index-file byte layout is pinned from the reference's BE
  * reader (`be/src/formats/paimon/paimon_delete_file_builder.h:40`):
  * one version byte (1), then per deletion vector
  * `{4-byte BE length | 4-byte BE magic 1581511376 |
  * (length-4) bytes RoaringBitmap32 portable | 4-byte BE CRC32}`,
  * where the recorded (offset, length) of a vector points at its
  * LENGTH field and spans magic+bitmap (the reference validates
  * exactly that: size-at-offset == length, magic at offset+4,
  * `roaring_bitmap_portable_deserialize_safe` over the rest —
  * `paimon_delete_file_builder.cpp:27-66`).
  *
  * The snapshot names an `indexManifest` — a FULL-state Avro manifest
  * (real paimon rewrites it complete on every commit): one entry per
  * (partition, bucket) index file with `_DELETIONS_VECTORS_RANGES`
  * mapping each data-file name to its vector's (offset, length).
  * Unknown range-record fields (newer paimon adds cardinality) are
  * tolerated positionally: first string field = data file, first two
  * numeric fields = offset, length.
  *
  * 100 TB stance: the driver holds only DESCRIPTORS (file name →
  * (index path, offset, length)) — never bitmap bytes; executors
  * lazily read and cache exactly the vectors for the data files their
  * tasks scan (the reference's planner ships the same descriptor
  * triple per scan range, `PaimonScanNode.java:162-171`). New bitmaps
  * are BUILT on executors (groupByKey over (file, position)) and the
  * driver collects one serialized bitmap per TOUCHED file only. */
object PaimonDv {

  val Magic: Int = 1581511376
  val IndexType = "DELETION_VECTORS"

  /** Where a data file's deletion vector lives: `length` spans
    * magic+bitmap, `offset` points at the length field. */
  final case class Desc(indexPath: String, offset: Long, length: Long)

  // ---- .dv file io ----------------------------------------------------

  /** Write one deletion-vector index file; returns each data file's
    * (offset, length) range within it. */
  def writeDvFile(f: FileSystem, path: Path,
      bitmaps: Seq[(String, Array[Byte])]): Seq[(String, Long, Long)] = {
    val out = f.create(path, true)
    val ranges = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    try {
      out.write(1) // version byte
      var offset = 1L
      bitmaps.foreach { case (dataFile, bytes) =>
        val len = bytes.length + 4 // magic + bitmap
        out.writeInt(len)
        out.writeInt(Magic)
        out.write(bytes)
        // paimon's DeletionVectorsIndexFile checksums the FULL vector
        // payload — the 4 magic bytes then the bitmap (the reference
        // BE skips CRC entirely, so only real-paimon interop sees it)
        val crc = new CRC32()
        crc.update(ByteBuffer.allocate(4).putInt(Magic).array())
        crc.update(bytes)
        out.writeInt(crc.getValue.toInt)
        ranges += ((dataFile, offset, len.toLong))
        offset += 4L + len + 4L // length field + payload + crc
      }
    } finally out.close()
    ranges.toSeq
  }

  /** Read one vector per the reference's contract: size-at-offset must
    * equal the recorded length, magic must match; CRC (unchecked by
    * the reference) is validated here since we also write. */
  def readBitmap(conf: Configuration, desc: Desc): RoaringBitmap = {
    val p = new Path(desc.indexPath)
    val in = p.getFileSystem(conf).open(p)
    try {
      in.seek(desc.offset)
      val len = in.readInt()
      require(len.toLong == desc.length,
        s"deletion vector at ${desc.indexPath}:${desc.offset} declares " +
          s"$len bytes, manifest says ${desc.length}")
      val magic = in.readInt()
      require(magic == Magic,
        s"bad deletion-vector magic $magic at ${desc.indexPath}:${desc.offset}")
      val bytes = new Array[Byte](len - 4)
      in.readFully(bytes)
      val crcRead = in.readInt()
      val crc = new CRC32()
      crc.update(ByteBuffer.allocate(4).putInt(Magic).array())
      crc.update(bytes)
      require(crcRead == crc.getValue.toInt,
        s"deletion-vector CRC mismatch at ${desc.indexPath}:${desc.offset}")
      val rb = new RoaringBitmap()
      rb.deserialize(ByteBuffer.wrap(bytes))
      rb
    } finally in.close()
  }

  def serialize(rb: RoaringBitmap): Array[Byte] = {
    rb.runOptimize()
    val buf = new Array[Byte](rb.serializedSizeInBytes())
    rb.serialize(ByteBuffer.wrap(buf))
    buf
  }

  // ---- executor-side lazy vector cache --------------------------------

  // per-JVM: each executor caches only the vectors its tasks consult;
  // bounded — a full clear past the cap beats an unbounded map. Keyed
  // by (path, offset): index files are written once under per-commit
  // uuid names, so a path never names two contents (a table recreated
  // at the same path writes new names).
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), RoaringBitmap]()
  private val CacheCap = 1024

  private def cached(conf: Configuration, d: Desc): RoaringBitmap = {
    val k = (d.indexPath, d.offset)
    val hit = cache.get(k)
    if (hit != null) return hit
    val rb = readBitmap(conf, d)
    if (cache.size >= CacheCap) cache.clear()
    cache.putIfAbsent(k, rb)
    rb
  }

  /** `deleted(fileName, rowIndex)` predicate Column over a descriptor
    * map — the scan-side mask. Only files PRESENT in `dv` pay the
    * lookup; callers route DV-free files around it entirely so the
    * clean path stays whole-stage-codegen. */
  def deletedColumn(spark: SparkSession, dv: Map[String, Desc])(
      fileNameCol: Column, posCol: Column): Column = {
    val confB: Broadcast[SerializableConfiguration] =
      spark.sparkContext.broadcast(
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val f = org.apache.spark.sql.functions.udf {
      (fname: String, pos: Long) =>
        dv.get(fname) match {
          case None => false
          case Some(d) =>
            pos <= Int.MaxValue && cached(confB.value.value, d).contains(pos.toInt)
        }
    }
    f(fileNameCol, posCol)
  }

  // ---- index manifest (Avro, real-paimon-shaped) -----------------------

  private[sources] val rangeSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse("""
      {"type":"record","name":"record__DELETIONS_VECTORS_RANGES",
       "fields":[{"name":"f0","type":"string"},
                 {"name":"f1","type":"int"},{"name":"f2","type":"int"}]}""")

  private[sources] val indexEntrySchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(s"""
      {"type":"record","name":"record","namespace":"org.apache.paimon.avro.generated","fields":[
        {"name":"_VERSION","type":"int"},
        {"name":"_KIND","type":"int"},
        {"name":"_PARTITION","type":"bytes"},
        {"name":"_BUCKET","type":"int"},
        {"name":"_INDEX_TYPE","type":"string"},
        {"name":"_FILE_NAME","type":"string"},
        {"name":"_FILE_SIZE","type":"long"},
        {"name":"_ROW_COUNT","type":"long"},
        {"name":"_DELETIONS_VECTORS_RANGES","type":["null",{"type":"array","items":${rangeSchema.toString}}],"default":null}
      ]}""")

  /** One index manifest entry: an index FILE in a (partition, bucket)
    * group plus its per-data-file vector ranges. */
  final case class IndexEntry(kind: Int, partitionBytes: Array[Byte],
      bucket: Int, indexType: String, fileName: String, fileSize: Long,
      rowCount: Long, ranges: Seq[(String, Long, Long)])

  def writeIndexManifest(spark: SparkSession, table: String, name: String,
      entries: Seq[IndexEntry]): Unit = {
    val recs = entries.map { e =>
      val r = new GenericData.Record(indexEntrySchema)
      r.put("_VERSION", 1)
      r.put("_KIND", e.kind)
      r.put("_PARTITION", ByteBuffer.wrap(e.partitionBytes))
      r.put("_BUCKET", e.bucket)
      r.put("_INDEX_TYPE", e.indexType)
      r.put("_FILE_NAME", e.fileName)
      r.put("_FILE_SIZE", e.fileSize)
      r.put("_ROW_COUNT", e.rowCount)
      val arr = new java.util.ArrayList[GenericRecord]()
      e.ranges.foreach { case (df, off, len) =>
        val rr = new GenericData.Record(rangeSchema)
        rr.put("f0", df); rr.put("f1", off.toInt); rr.put("f2", len.toInt)
        arr.add(rr)
      }
      r.put("_DELETIONS_VECTORS_RANGES", arr)
      r: GenericRecord
    }
    PaimonWrite.writeAvroFile(spark, s"$table/manifest/$name",
      indexEntrySchema, recs)
  }

  /** Tolerant read: fields by name where pinned, ranges positionally
    * (first string = data file; first two numerics = offset, length —
    * newer paimon appends cardinality, which is ignored). */
  def readIndexManifest(spark: SparkSession, table: String,
      name: String): Seq[IndexEntry] =
    parseIndexRecords(PaimonRead.readAvro(spark,
      PaimonRead.manifestPath(spark, table, name)), name)

  /** SparkSession-free twin over a RESOLVED path — callable from
    * executor tasks (the distributed GC root walk). */
  def readIndexManifestWithConf(conf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[IndexEntry] =
    parseIndexRecords(PaimonRead.readAvroWithConf(conf, path), path)

  private def parseIndexRecords(records: Seq[GenericRecord],
      name: String): Seq[IndexEntry] = {
    import scala.jdk.CollectionConverters._
    records.map { r =>
      def num(v: Any, dflt: Long): Long = v match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case _ => dflt
      }
      val part = r.get("_PARTITION") match {
        case bb: ByteBuffer =>
          val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
        case _ => Array.emptyByteArray
      }
      val ranges = r.get("_DELETIONS_VECTORS_RANGES") match {
        case null => Nil
        case xs: java.util.Collection[_] => xs.asScala.toSeq.map { item =>
          val rec = item.asInstanceOf[GenericRecord]
          val vals = rec.getSchema.getFields.asScala.map(f => rec.get(f.name))
          val file = vals.collectFirst {
            case s: CharSequence => s.toString }.getOrElse(
            throw new IllegalArgumentException(
              s"deletion-vector range in $name lacks a data-file field"))
          val nums = vals.collect {
            case i: java.lang.Integer => i.longValue()
            case l: java.lang.Long => l.longValue() }
          require(nums.size >= 2,
            s"deletion-vector range for $file lacks offset/length")
          (file, nums(0), nums(1))
        }
        case other => throw new IllegalArgumentException(
          s"unreadable _DELETIONS_VECTORS_RANGES rendering: ${other.getClass}")
      }
      IndexEntry(num(r.get("_KIND"), 0L).toInt, part,
        num(r.get("_BUCKET"), 0L).toInt,
        Option(r.get("_INDEX_TYPE")).map(_.toString).getOrElse(""),
        r.get("_FILE_NAME").toString, num(r.get("_FILE_SIZE"), 0L),
        num(r.get("_ROW_COUNT"), 0L), ranges)
    }
  }

  /** The snapshot's deletion-vector state: data-file name → descriptor.
    * Empty when the snapshot carries no index manifest. _KIND 1 entries
    * retract an index file (full-state manifests normally carry only
    * adds; folding both keeps foreign writers readable). */
  def index(spark: SparkSession, table: String,
      indexManifest: Option[String]): Map[String, Desc] =
    indexManifest match {
      case None => Map.empty
      case Some(name) =>
        // entry identity = (index file, bucket, partition) — a shared
        // physical index file may appear once per (partition, bucket)
        val live = scala.collection.mutable.LinkedHashMap[
          (String, Int, Seq[Byte]), IndexEntry]()
        readIndexManifest(spark, table, name)
          .filter(_.indexType == IndexType)
          .foreach { e =>
            val k = (e.fileName, e.bucket, e.partitionBytes.toSeq)
            if (e.kind == 0) live(k) = e else live.remove(k)
          }
        live.values.flatMap { e =>
          e.ranges.map { case (df, off, len) =>
            df -> Desc(s"${PaimonRead.dataRoot(table)}/index/${e.fileName}", off, len)
          }
        }.toMap
    }
}
