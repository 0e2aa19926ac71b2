package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.roaringbitmap.RoaringBitmap

/** Delta Lake DELETION VECTOR codec, per the public protocol
  * (delta.io PROTOCOL.md §"Deletion Vectors" + the open-source
  * `RoaringBitmapArray` serialization): how modern Delta writers mark
  * rows deleted without rewriting files. A descriptor on the `add`
  * action names the storage (`u` = relative file with z85-encoded
  * UUID name, `p` = absolute path, `i` = inline z85 bytes), and the
  * payload is a 64-bit roaring bitmap of deleted row indexes in the
  * "portable" RoaringBitmapArray format:
  *
  *   [magic 1681511377 (4B LE)] [#bitmaps (8B LE)]
  *   [bitmap 0 .. bitmap n-1, each standard portable RoaringBitmap]
  *
  * where row index i lives in bitmap (i >>> 32) at value (i & 0xFFFFFFFF)
  * — the dense array includes empty intermediate bitmaps. On disk a DV
  * file starts with a 1-byte format version (1) and each vector is
  * framed [dataSize (4B BE)] [data] [CRC-32 of data (4B BE)], with the
  * descriptor's `offset` pointing at the size field and `sizeInBytes`
  * equal to dataSize. Validated by write→read round-trip specs (no
  * foreign writer exists in this sandbox). */
object DeltaDv {

  /** The portable RoaringBitmapArray magic (delta-io constant). */
  val PortableMagic: Int = 1681511377

  private val Z85 =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Inv: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** ZeroMQ base85: 4 bytes → 5 chars, big-endian groups. Inputs not a
    * multiple of 4 are zero-padded (the protocol's inline encoding —
    * the descriptor's `sizeInBytes` disambiguates; the bitmap decoder
    * ignores trailing pad bytes). */
  def z85Encode(raw: Array[Byte]): String = {
    val bytes = if (raw.length % 4 == 0) raw
      else java.util.Arrays.copyOf(raw, raw.length + (4 - raw.length % 4))
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div > 0) { sb.append(Z85((v / div % 85).toInt)); div /= 85 }
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 needs 5-char groups, got ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val d = if (s(i + j) < 128) Z85Inv(s(i + j).toInt) else -1
        require(d >= 0, s"bad z85 char '${s(i + j)}'")
        v = v * 85 + d; j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  /** Serialize sorted-or-not 64-bit row indexes as a portable
    * RoaringBitmapArray. */
  def serialize(positions: Array[Long]): Array[Byte] = {
    val maxKey = if (positions.isEmpty) -1
      else positions.map(p => (p >>> 32).toInt).max
    val bitmaps = Array.fill(maxKey + 1)(new RoaringBitmap())
    positions.foreach { p =>
      require(p >= 0, s"negative row index $p")
      bitmaps((p >>> 32).toInt).add((p & 0xffffffffL).toInt)
    }
    val size = 12 + bitmaps.map(b => { b.runOptimize(); b.serializedSizeInBytes() }).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(PortableMagic)
    buf.putLong(bitmaps.length.toLong)
    bitmaps.foreach(_.serialize(buf))
    buf.array()
  }

  /** Inverse of [[serialize]]. */
  def deserialize(data: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt
    require(magic == PortableMagic, s"bad RoaringBitmapArray magic $magic")
    val n = buf.getLong
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var k = 0L
    while (k < n) {
      val rb = new RoaringBitmap()
      rb.deserialize(buf)
      buf.position(buf.position() + rb.serializedSizeInBytes())
      val hi = k << 32
      rb.forEach(new org.roaringbitmap.IntConsumer {
        override def accept(v: Int): Unit = out += (hi | (v & 0xffffffffL))
      })
      k += 1
    }
    out.toArray
  }

  /** Write one DV payload into a fresh `.bin` file (format version 1,
    * size/CRC framing). Returns (offset, sizeInBytes) for the
    * descriptor. */
  def writeDvFile(spark: SparkSession, path: String,
      data: Array[Byte]): (Int, Int) = {
    val f = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    val buf = ByteBuffer.allocate(1 + 4 + data.length + 4) // BIG-endian default
    buf.put(1.toByte)
    buf.putInt(data.length)
    buf.put(data)
    buf.putInt(crc.getValue.toInt)
    val out = f.create(new Path(path), true)
    try out.write(buf.array()) finally out.close()
    (1, data.length)
  }

  /** Read one DV payload from a `.bin` file at `offset`, verifying the
    * size against the descriptor and the CRC against the data. */
  def readDvFile(spark: SparkSession, path: String, offset: Int,
      sizeInBytes: Int): Array[Byte] = {
    val f = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(new Path(path))
    try {
      in.seek(offset.toLong)
      val size = in.readInt()
      require(size == sizeInBytes,
        s"DV size mismatch at $path+$offset: file says $size, descriptor $sizeInBytes")
      val data = new Array[Byte](size)
      in.readFully(data)
      val stored = in.readInt()
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      require(stored == crc.getValue.toInt, s"DV checksum mismatch at $path+$offset")
      data
    } finally in.close()
  }

  /** A descriptor as the `add` action carries it. */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Int, sizeInBytes: Int, cardinality: Long)

  /** Resolve a descriptor to deleted row indexes. */
  def resolve(spark: SparkSession, table: String, d: Descriptor): Array[Long] =
    d.storageType match {
      case "i" => deserialize(z85Decode(d.pathOrInlineDv))
      case "p" => deserialize(readDvFile(spark, d.pathOrInlineDv, d.offset, d.sizeInBytes))
      case "u" => deserialize(readDvFile(spark, uuidPath(table, d), d.offset, d.sizeInBytes))
      case other => throw new IllegalArgumentException(s"unknown DV storageType $other")
    }

  /** The file a `u`-stored descriptor names: `deletion_vector_<uuid>.bin`
    * under the table root (or the descriptor's relative prefix). */
  def uuidPath(table: String, d: Descriptor): String = {
    require(d.pathOrInlineDv.length >= 20, s"bad uuid dv ${d.pathOrInlineDv}")
    val prefix = d.pathOrInlineDv.dropRight(20)
    val bb = ByteBuffer.wrap(z85Decode(d.pathOrInlineDv.takeRight(20)))
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val dir = if (prefix.isEmpty) table else s"$table/$prefix"
    s"$dir/deletion_vector_$uuid.bin"
  }

  /** Write positions as a `u`-stored deletion vector under the table
    * root; returns the descriptor for the `add` action. */
  def writeUuidDv(spark: SparkSession, table: String,
      positions: Array[Long]): Descriptor = {
    val data = serialize(positions)
    val uuid = java.util.UUID.randomUUID()
    val (off, size) = writeDvFile(spark,
      s"$table/deletion_vector_$uuid.bin", data)
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    Descriptor("u", z85Encode(bb.array()), off, size, positions.length.toLong)
  }
}
