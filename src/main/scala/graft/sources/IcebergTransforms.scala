package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg partition TRANSFORMS (iceberg.apache.org/spec — "Partition
  * Transforms" + Appendix B "32-bit Hash Requirements"): the
  * ecosystem's default table layouts partition by `days(ts)`,
  * `bucket(N, id)`, `truncate(W, s)` rather than raw column values,
  * and both sides of the interop need the SAME definition —
  * [[IcebergWrite.append]] computes the transform
  * per row at write time (a Spark Column), and [[IcebergRead]]'s
  * transform-aware pruning computes it for predicate LITERALS at plan
  * time (driver-side Scala) to decide which files can match. The
  * reference implements the same pair in its Iceberg connector
  * (`fe/fe-core/src/main/java/com/starrocks/connector/iceberg/`,
  * `connector/PartitionUtil.java`).
  *
  * Spec semantics implemented here:
  *  - `year`/`month`/`day`/`hour`: ordinals since 1970 of the UTC
  *    instant (timestamps) or local date (dates). Order-preserving,
  *    so range predicates on the source column prune.
  *  - `bucket[N]`: `(murmur3_x86_32(encode(v)) & Int.MaxValue) % N`
  *    with seed 0; int/long/date/timestamp hash the LONG little-endian
  *    encoding, strings hash UTF-8 bytes. Equality/IN predicates
  *    prune; ranges cannot (the hash is order-destroying).
  *  - `truncate[W]`: floor-to-multiple for integers, code-point prefix
  *    for strings. Order-preserving.
  */
object IcebergTransforms {

  /** Parsed transform: `identity`, `year`, `month`, `day`, `hour`,
    * `bucket[n]`, `truncate[w]`. */
  final case class Transform(kind: String, n: Int = 0)

  private val Arg = "^(bucket|truncate)\\[(\\d+)\\]$".r

  def parse(s: String): Transform = s match {
    case Arg(k, n) => Transform(k, n.toInt)
    case "identity" | "year" | "month" | "day" | "hour" => Transform(s)
    case other => throw new IllegalArgumentException(
      s"unsupported partition transform: $other")
  }

  def render(t: Transform): String = t.kind match {
    case "bucket" | "truncate" => s"${t.kind}[${t.n}]"
    case k => k
  }

  /** Iceberg's default spec-field name for a transformed source. */
  def fieldName(src: String, t: Transform): String = t.kind match {
    case "identity" => src
    case "bucket" => s"${src}_bucket"
    case "truncate" => s"${src}_trunc"
    case k => s"${src}_$k"
  }

  /** Order-preserving transforms admit range pruning; bucket does not. */
  def isMonotonic(t: Transform): Boolean = t.kind != "bucket"

  // ---- murmur3_x86_32, standard algorithm, seed 0 (spec App. B) ----
  // Independent implementation of the published MurmurHash3 function;
  // Spark's internal variant handles unaligned tails differently, so
  // it cannot be reused for spec-conformant bucket values.

  def murmur3(bytes: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h1 = seed
    val nBlocks = bytes.length / 4
    var i = 0
    while (i < nBlocks) {
      val base = i * 4
      var k1 = (bytes(base) & 0xff) | ((bytes(base + 1) & 0xff) << 8) |
        ((bytes(base + 2) & 0xff) << 16) | ((bytes(base + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    // tail (standard: accumulate into ONE k1, mix once)
    var k1 = 0
    val tail = nBlocks * 4
    (bytes.length & 3) match {
      case 3 =>
        k1 ^= (bytes(tail + 2) & 0xff) << 16
        k1 ^= (bytes(tail + 1) & 0xff) << 8
        k1 ^= bytes(tail) & 0xff
      case 2 =>
        k1 ^= (bytes(tail + 1) & 0xff) << 8
        k1 ^= bytes(tail) & 0xff
      case 1 =>
        k1 ^= bytes(tail) & 0xff
      case _ =>
    }
    if ((bytes.length & 3) != 0) {
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
    }
    // fmix
    h1 ^= bytes.length
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b; h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35; h1 ^= h1 >>> 16
    h1
  }

  /** Spec: int/long/date/time/timestamp bucket-hash the 8-byte
    * LITTLE-ENDIAN encoding of the (upcast) long value. */
  def hashLong(v: Long): Int = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    murmur3(b)
  }

  def hashString(s: String): Int = murmur3(s.getBytes("UTF-8"))

  def bucketOf(hash: Int, n: Int): Int = (hash & Integer.MAX_VALUE) % n

  // ---- write-side: transform as a Spark Column ----

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  /** Exact floorDiv as a Column over longs (`div` truncates toward
    * zero — wrong for pre-1970 instants). */
  private def floorDiv(c: Column, d: Long): Column =
    ((c - pmod(c, lit(d))) / lit(d)).cast(LongType)

  private def epochDay(dt: DataType, c: Column): Column = dt match {
    case TimestampType => floorDiv(unix_micros(c), MicrosPerDay)
    case DateType => datediff(c, lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType)
    case other => throw new IllegalArgumentException(
      s"temporal transform over non-temporal type $other")
  }

  /** The date a source value falls on (TZ-free reconstruction from the
    * epoch-day ordinal, so session timezone never skews year/month). */
  private def dayDate(dt: DataType, c: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1970-01-01")), epochDay(dt, c).cast(IntegerType))

  /** Spec bucketing: int/long hash the upcast long; date hashes the
    * epoch-day ordinal; timestamp hashes the UTC micros; strings hash
    * UTF-8 bytes. Temporal columns pre-convert to their long encoding
    * in [[applyColumn]], so the UDF sees a Long. */
  private def bucketUdf(dt: DataType, n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    dt match {
      case LongType => udf((v: java.lang.Long) =>
        if (v == null) null else Int.box(bucketOf(hashLong(v), n)))
      case IntegerType => udf((v: java.lang.Integer) =>
        if (v == null) null else Int.box(bucketOf(hashLong(v.longValue()), n)))
      case StringType => udf((v: String) =>
        if (v == null) null else Int.box(bucketOf(hashString(v), n)))
      case other => throw new IllegalArgumentException(
        s"bucket transform unsupported over $other")
    }

  /** The spec's long encoding of a temporal column for bucket hashing:
    * timestamps → UTC micros, dates → epoch days. */
  private def bucketSource(dt: DataType, c: Column): (DataType, Column) = dt match {
    case TimestampType => (LongType, unix_micros(c))
    case DateType => (LongType, epochDay(DateType, c))
    case other => (other, c)
  }

  /** Code-point prefix of length w (spec: strings truncate to at most
    * W code points — the BloomIndex lesson: never slice UTF-16). */
  def truncateString(s: String, w: Int): String =
    if (s == null) null
    else if (s.codePointCount(0, s.length) <= w) s
    else s.substring(0, s.offsetByCodePoints(0, w))

  /** The transform of a source column, for the write path. */
  def applyColumn(t: Transform, dt: DataType, c: Column): Column = t.kind match {
    case "identity" => c
    case "day" => epochDay(dt, c)
    case "hour" => dt match {
      case TimestampType => floorDiv(unix_micros(c), MicrosPerHour)
      case other => throw new IllegalArgumentException(s"hour() over $other")
    }
    case "year" => (year(dayDate(dt, c)) - lit(1970)).cast(LongType)
    case "month" =>
      ((year(dayDate(dt, c)) - lit(1970)) * 12 + month(dayDate(dt, c)) - 1).cast(LongType)
    case "bucket" =>
      val (bdt, bc) = bucketSource(dt, c)
      bucketUdf(bdt, t.n)(bc).cast(LongType)
    case "truncate" => dt match {
      case LongType | IntegerType =>
        (c.cast(LongType) - pmod(c.cast(LongType), lit(t.n.toLong))).cast(LongType)
      case StringType =>
        val w = t.n
        udf((s: String) => truncateString(s, w)).apply(c)
      case other => throw new IllegalArgumentException(s"truncate() over $other")
    }
  }

  // ---- read-side: transform of a predicate literal, driver-side ----
  // Input is the CATALYST internal value from a resolved, constant-
  // folded Literal: Long micros for timestamps, Int days for dates,
  // UTF8String for strings. Output matches the manifest's partition
  // struct rendering (Long for ordinals/buckets/numeric truncate,
  // String for string truncate/identity).

  def applyLiteral(t: Transform, dt: DataType, value: Any): Any = {
    def asLong: Long = value match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalArgumentException(
        s"unexpected literal $other for $dt")
    }
    def epochDayOf: Long = dt match {
      case TimestampType => Math.floorDiv(asLong, MicrosPerDay)
      case DateType => asLong
      case other => throw new IllegalArgumentException(s"temporal over $other")
    }
    t.kind match {
      case "identity" => value match {
        case null => null
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      }
      case "day" => epochDayOf
      case "hour" => Math.floorDiv(asLong, MicrosPerHour)
      case "year" =>
        java.time.LocalDate.ofEpochDay(epochDayOf).getYear.toLong - 1970L
      case "month" =>
        val ld = java.time.LocalDate.ofEpochDay(epochDayOf)
        (ld.getYear - 1970).toLong * 12 + (ld.getMonthValue - 1)
      case "bucket" => dt match {
        case StringType => bucketOf(hashString(value.toString), t.n).toLong
        case LongType | IntegerType | ShortType | ByteType |
             DateType | TimestampType => bucketOf(hashLong(asLong), t.n).toLong
        case other => throw new IllegalArgumentException(s"bucket over $other")
      }
      case "truncate" => dt match {
        case StringType => truncateString(value.toString, t.n)
        case LongType | IntegerType | ShortType | ByteType =>
          asLong - Math.floorMod(asLong, t.n.toLong)
        case other => throw new IllegalArgumentException(s"truncate over $other")
      }
    }
  }
}
