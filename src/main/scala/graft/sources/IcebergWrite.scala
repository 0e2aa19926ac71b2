package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, date_from_unix_date}
import org.apache.spark.sql.types._

import IcebergTransforms.Transform

/** The Iceberg format-v2 writer (reference ICEBERG_TABLE_SINK,
  * `gensrc/thrift/DataSinks.thrift:45-65`): every table graft writes
  * in Iceberg form goes through ONE commit core and comes out in the
  * exact shape the Apache Iceberg Java implementation writes (spec:
  * iceberg.apache.org/spec — "Manifests" and "Manifest Lists"), so
  * [[IcebergRead]] and any real Iceberg reader see the same table. The
  * reference consumes such tables through its iceberg connector
  * (`fe/fe-core/.../connector/iceberg/IcebergMetadata.java`); its
  * metadata scanner reads the same field names
  * (`java-extensions/iceberg-metadata-reader/.../IcebergManifestsTableScanner.java:88`).
  *
  * The shape:
  *  - every Avro field carries its spec `field-id` (manifest_file
  *    500-519, manifest_entry 0-4, data_file 100-142, partition
  *    fields 1000+); optional fields are `["null", T]` unions;
  *  - `data_file` is the full v2 struct: content / file_path /
  *    file_format / typed `r102` partition record (dates as
  *    `{"type":"int","logicalType":"date"}` day ordinals) /
  *    record_count / file_size_in_bytes / split_offsets / bounds maps
  *    in the avro key-value (`k126_v127`, logicalType map) rendering;
  *  - the manifest list carries all 15 v2 `manifest_file` fields
  *    including min/sequence numbers, add/exist/delete counts and the
  *    `r508` partition-summary array with typed bound bytes
  *    (single-value serialization, little-endian);
  *  - file-level Avro metadata (`schema`, `partition-spec`,
  *    `partition-spec-id`, `format-version`, `content`) matches the
  *    Java writer's keys;
  *  - metadata.json is the full v2 document: table-uuid, location,
  *    last-sequence-number, schemas (with field ids), partition-specs,
  *    sort-orders, refs, snapshot summaries with cumulative totals,
  *    snapshot-log, metadata-log, plus HadoopCatalog's
  *    `version-hint.text`.
  *
  * A commit stages its rows with one `partitionBy` write (identity is
  * one more transform), installs the files, writes one manifest per
  * content kind (data, deletes), a manifest list carrying the prior
  * snapshot's manifests forward, and publishes `v<N>.metadata.json`
  * through [[AtomicPublish]]: a racing commit at the same version
  * throws `ConcurrentModificationException` instead of replacing the
  * winner. Snapshot id = sequence number = metadata version. Data
  * files keep every source column (the Iceberg norm); the Lake export
  * lists the Lake's own files, which do not. Cost: one staging job +
  * O(files) driver metadata per commit. */
object IcebergWrite {

  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def icebergType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType | ShortType | ByteType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case _ => "string"
  }

  /** Avro type JSON for a partition-struct field of the given value
    * type — the typed rendering real manifests carry. */
  private def avroPartitionType(dt: DataType): String = dt match {
    case LongType => "\"long\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case BooleanType => "\"boolean\""
    case _ => "\"string\""
  }

  /** The typed Avro value for a partition dir-name string; null for
    * the hive null-partition sentinel. */
  private def partitionValue(dt: DataType, s: String): AnyRef =
    if (s == null || s == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case LongType => java.lang.Long.valueOf(s)
      case IntegerType | ShortType | ByteType => Integer.valueOf(s)
      case DateType => Integer.valueOf(java.time.LocalDate.parse(s)
        .toEpochDay.toInt)
      case DoubleType => java.lang.Double.valueOf(s)
      case FloatType => java.lang.Float.valueOf(s)
      case BooleanType => java.lang.Boolean.valueOf(s)
      case _ => s
    }

  /** Natural ordering of a typed partition value — bounds must sort by
    * VALUE, not by toString (lexicographic "10" < "9" would invert
    * numeric and date bounds and mislead a pruning reader). */
  private def boundOrder(v: AnyRef): (Double, String) = v match {
    case n: java.lang.Number => (n.doubleValue(), "")
    case b: java.lang.Boolean => (if (b) 1.0 else 0.0, "")
    case s => (0.0, s.toString)
  }

  /** Single-value serialization (spec Appendix D) of a partition bound
    * for the field summaries: little-endian fixed width for numerics /
    * date, UTF-8 for strings. */
  private def boundBytes(v: AnyRef): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    v match {
      case i: Integer => bb.putInt(i); java.util.Arrays.copyOf(bb.array(), 4)
      case l: java.lang.Long => bb.putLong(l); bb.array()
      case d: java.lang.Double => bb.putDouble(d); bb.array()
      case f: java.lang.Float => bb.putFloat(f); java.util.Arrays.copyOf(bb.array(), 4)
      case b: java.lang.Boolean => Array[Byte](if (b) 1 else 0)
      case s => s.toString.getBytes("UTF-8")
    }
  }

  private def kvMapSchema(name: String, kId: Int, vId: Int,
      vType: String): String =
    s"""["null",{"type":"array","items":{"type":"record","name":"$name","fields":[
       {"name":"key","type":"int","field-id":$kId},
       {"name":"value","type":"$vType","field-id":$vId}]},
       "logicalType":"map"}]"""

  /** The v2 `manifest_entry` Avro schema for a table whose partition
    * record has the given (field name, value type) fields. */
  private[sources] def manifestEntrySchema(
      partition: Seq[(String, DataType)]): Schema = {
    val pFields = partition.zipWithIndex.map { case ((n, dt), i) =>
      s"""{"name":"$n","type":["null",${avroPartitionType(dt)}],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    new Schema.Parser().parse(s"""
      {"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int","field-id":0},
        {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int","field-id":134},
          {"name":"file_path","type":"string","field-id":100},
          {"name":"file_format","type":"string","field-id":101},
          {"name":"partition","type":{"type":"record","name":"r102","fields":[$pFields]},"field-id":102},
          {"name":"record_count","type":"long","field-id":103},
          {"name":"file_size_in_bytes","type":"long","field-id":104},
          {"name":"column_sizes","type":${kvMapSchema("k117_v118", 117, 118, "long")},"default":null,"field-id":108},
          {"name":"value_counts","type":${kvMapSchema("k119_v120", 119, 120, "long")},"default":null,"field-id":109},
          {"name":"null_value_counts","type":${kvMapSchema("k121_v122", 121, 122, "long")},"default":null,"field-id":110},
          {"name":"nan_value_counts","type":${kvMapSchema("k138_v139", 138, 139, "long")},"default":null,"field-id":137},
          {"name":"lower_bounds","type":${kvMapSchema("k126_v127", 126, 127, "bytes")},"default":null,"field-id":125},
          {"name":"upper_bounds","type":${kvMapSchema("k129_v130", 129, 130, "bytes")},"default":null,"field-id":128},
          {"name":"key_metadata","type":["null","bytes"],"default":null,"field-id":131},
          {"name":"split_offsets","type":["null",{"type":"array","items":"long","element-id":133}],"default":null,"field-id":132},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135},
          {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}
        ]},"field-id":2}
      ]}""")
  }

  /** The v2 `manifest_file` (manifest-list entry) Avro schema. */
  private[sources] val manifestFileSchema: Schema = new Schema.Parser().parse("""
    {"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_data_files_count","type":"int","field-id":504},
      {"name":"existing_data_files_count","type":"int","field-id":505},
      {"name":"deleted_data_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},
      {"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[
        {"name":"contains_null","type":"boolean","field-id":509},
        {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
        {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
        {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      ]},"element-id":508}],"default":null,"field-id":507},
      {"name":"key_metadata","type":["null","bytes"],"default":null,"field-id":519}
    ]}""")

  private def writeAvro(spark: SparkSession, path: String, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord]): Long = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
    f.getFileStatus(new Path(path)).getLen
  }

  /** Footer row counts for a commit's files in ONE bounded-pool pass —
    * each footer open is an independent metadata round-trip (minutes
    * of driver wall at 100k-file commits on an object store if read
    * serially; same shape as Lake.listCommitFiles). */
  private def footerRowCounts(spark: SparkSession, paths: Seq[String]): Map[String, Long] = {
    if (paths.isEmpty) return Map.empty
    val conf = spark.sparkContext.hadoopConfiguration
    def rows(p: String): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf))
      try r.getRecordCount finally r.close()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, paths.size))
    try {
      val tasks = paths.map(p =>
        (() => p -> rows(p)): java.util.concurrent.Callable[(String, Long)])
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  /** Iceberg schema JSON (the `schemas` entry / manifest `schema`
    * metadata) with field ids 1..n in dataframe order. */
  private def schemaJson(schema: StructType): String = {
    val fields = schema.fields.zipWithIndex.map { case (fl, i) =>
      s"""{"id":${i + 1},"name":${mapper.writeValueAsString(fl.name)},"required":false,"type":"${icebergType(fl.dataType)}"}"""
    }.mkString(",")
    s"""{"type":"struct","schema-id":0,"fields":[$fields]}"""
  }

  private def fieldId(id: Long): Metadata =
    new MetadataBuilder().putLong("parquet.field.id", id).build()

  /** One partition-spec field: its spec name, transform, source column
    * and the type of its partition value — the source type for
    * identity/truncate, a date for `day`, int for year/month/hour/
    * bucket (the spec's result types). */
  private final case class Part(name: String, transform: Transform,
      source: String, dt: DataType)

  private def partsOf(schema: StructType, spec: Seq[(String, Transform)]): Seq[Part] =
    spec.map { case (src, t) =>
      require(schema.fieldNames.contains(src), s"unknown partition column $src")
      val dt = t.kind match {
        case "identity" | "truncate" => schema(src).dataType
        case "day" => DateType
        case _ => IntegerType
      }
      Part(IcebergTransforms.fieldName(src, t), t, src, dt)
    }

  /** The table's current partition spec over its data `schema`. */
  private def specOf(spark: SparkSession, table: String,
      schema: StructType): Seq[Part] =
    partsOf(schema, IcebergRead.partitionSpecFull(spark, table)
      .map(s => s.sourceName.getOrElse(s.name) -> s.transform))

  /** The staged `__pt<i>` partition-value columns over `schema`'s
    * source columns. */
  private def ptCols(parts: Seq[Part], schema: StructType): Seq[Column] =
    parts.zipWithIndex.map { case (p, i) =>
      val v = IcebergTransforms.applyColumn(p.transform,
        schema(p.source).dataType, col(p.source))
      (if (p.transform.kind == "day") date_from_unix_date(v.cast(IntegerType))
       else v.cast(p.dt)).as(s"__pt$i")
    }

  /** A file one manifest lists: `partition` holds each spec field's
    * hive-rendered value; `content` 0 data, 1 position deletes, 2
    * equality deletes. */
  private final case class FileEntry(path: String, partition: Seq[String],
      size: Long, rows: Long, content: Int, equalityIds: Seq[Int] = Nil)

  /** Write `df` — its columns plus the trailing `__pt<i>` partition
    * values, which become directories — as parquet under `dir`, one
    * sub-directory per partition tuple, and return the installed
    * files. */
  private def stage(df: DataFrame, parts: Seq[Part], dir: String,
      content: Int, suffix: String, equalityIds: Seq[Int] = Nil): Seq[FileEntry] = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val staging = s"$dir/_staging-${java.util.UUID.randomUUID()}"
    val pt = parts.indices.map(i => s"__pt$i")
    (if (pt.isEmpty) df.write else df.write.partitionBy(pt: _*))
      .mode("overwrite").parquet(staging)
    val found = scala.collection.mutable.ArrayBuffer[(String, Seq[String], Long)]()
    def walk(p: Path, vals: Vector[String]): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("="))
          walk(st.getPath, vals :+ PathNames.unescapePathName(
            name.substring(name.indexOf('=') + 1)))
        else if (st.isFile && name.endsWith(".parquet")) {
          // re-ESCAPE the destination dir: `vals` are unescaped for
          // the typed partition record, but a raw '/', '=' or ':' in a
          // string value would break the path
          val sub = parts.zip(vals).map { case (pa, x) =>
            s"${pa.name}=${PathNames.escapePathName(x)}/" }.mkString
          val dest = s"$dir/$sub${java.util.UUID.randomUUID()}$suffix.parquet"
          f.mkdirs(new Path(dest).getParent)
          require(f.rename(st.getPath, new Path(dest)),
            s"failed to install $dest")
          found += ((dest, vals, st.getLen)) // rename preserves length — no re-stat
        }
      }
    walk(new Path(staging), Vector.empty)
    f.delete(new Path(staging), true)
    val rows = footerRowCounts(spark, found.map(_._1).toSeq)
    found.toSeq.map { case (p, vals, len) =>
      FileEntry(p, vals, len, rows(p), content, equalityIds) }
  }

  /** Position-delete rows laid out as the spec wants them: sorted by
    * (file_path, pos), one file per partition tuple. */
  private def positionLayout(df: DataFrame, parts: Seq[Part]): DataFrame = {
    val pt = parts.indices.map(i => col(s"__pt$i"))
    (if (pt.isEmpty) df.repartition(1) else df.repartition(pt: _*))
      .sortWithinPartitions("file_path", "pos")
  }

  /** The spec's reserved field ids ride the position-delete parquet
    * schema. */
  private def positionColumns(file: Column, pos: Column): Seq[Column] =
    Seq(file.as("file_path", fieldId(2147483546L)),
      pos.as("pos", fieldId(2147483545L)))

  /** The snapshot a commit builds on: the latest metadata document
    * and its version. */
  private final case class Prior(version: Long, path: Path, node: JsonNode) {
    val current: JsonNode = {
      val id = node.get("current-snapshot-id").asLong
      node.get("snapshots").asScala.find(_.get("snapshot-id").asLong == id)
        .getOrElse(throw new IllegalStateException(
          s"current snapshot $id missing from $path"))
    }
    def total(key: String): Long =
      Option(current.get("summary")).flatMap(s => Option(s.get(key)))
        .map(_.asText.toLong).getOrElse(0L)
    def joined(field: String): String =
      Option(node.get(field)).fold("")(_.asScala.map(_.toString + ",").mkString)
  }

  /** None only when the table has no metadata.json yet (first commit);
    * a metadata file that cannot be read fails the commit instead of
    * turning an append into an overwrite. */
  private def prior(spark: SparkSession, table: String): Option[Prior] =
    IcebergRead.latestMetadataOpt(spark, table).map { p =>
      val in = fs(spark, table).open(p)
      val node = try mapper.readTree(in) finally in.close()
      Prior(IcebergRead.metadataVersion(p).getOrElse(0L), p, node)
    }

  /** The commit core: write one manifest per content kind listing
    * `files`, a manifest list carrying the prior snapshot's manifests
    * forward (none when `overwrite`), and publish `v<N>.metadata.json`
    * with every prior snapshot, the snapshot- and metadata-logs and
    * cumulative summary totals. `lakeVersion` pins N for the Lake
    * export, whose data files are the Lake's own: a commit that loses
    * the race deletes its manifests, its manifest list and the files it
    * installed, never those. Returns the snapshot id. */
  private def commit(spark: SparkSession, table: String, schema: StructType,
      parts: Seq[Part], files: Seq[FileEntry], overwrite: Boolean,
      lakeVersion: Option[Long] = None): Long = {
    val pr = prior(spark, table)
    val v = pr.fold(1L)(_.version + 1)
    lakeVersion.foreach(l => require(l == v,
      s"$table: Iceberg metadata is at v${v - 1}, cannot export Lake v$l"))
    val nowMs = System.currentTimeMillis()
    val sj = schemaJson(schema)
    val specJson = parts.zipWithIndex.map { case (p, i) =>
      s"""{"name":${mapper.writeValueAsString(p.name)},"transform":"${IcebergTransforms.render(p.transform)}","source-id":${schema.fieldIndex(p.source) + 1},"field-id":${1000 + i}}"""
    }.mkString(",")
    val entrySchema = manifestEntrySchema(parts.map(p => p.name -> p.dt))
    val dfSchema = entrySchema.getField("data_file").schema()
    val sumSchema = manifestFileSchema.getField("partitions").schema()
      .getTypes.get(1).getElementType

    def manifest(content: Int, es: Seq[FileEntry]): GenericRecord = {
      val records = es.map { e =>
        val p = new GenericData.Record(dfSchema.getField("partition").schema())
        parts.zip(e.partition).foreach { case (pa, s) =>
          p.put(pa.name, partitionValue(pa.dt, s)) }
        val d = new GenericData.Record(dfSchema)
        d.put("content", Int.box(e.content))
        d.put("file_path", e.path)
        d.put("file_format", "PARQUET")
        d.put("partition", p)
        d.put("record_count", Long.box(e.rows))
        d.put("file_size_in_bytes", Long.box(e.size))
        if (e.content == 0) d.put("split_offsets", Seq(Long.box(4L)).asJava)
        if (e.equalityIds.nonEmpty)
          d.put("equality_ids", e.equalityIds.map(Int.box).asJava)
        val r = new GenericData.Record(entrySchema)
        r.put("status", Int.box(1)) // ADDED
        r.put("snapshot_id", Long.box(v))
        r.put("sequence_number", Long.box(v))
        r.put("file_sequence_number", Long.box(v))
        r.put("data_file", d)
        r: GenericRecord
      }
      val path = s"$table/metadata/${java.util.UUID.randomUUID()}-m$content.avro"
      val len = writeAvro(spark, path, entrySchema, Seq(
        "schema" -> sj,
        "partition-spec" -> s"[$specJson]",
        "partition-spec-id" -> "0",
        "format-version" -> "2",
        "content" -> (if (content == 0) "data" else "deletes")), records)
      val mf = new GenericData.Record(manifestFileSchema)
      mf.put("manifest_path", path)
      mf.put("manifest_length", Long.box(len))
      mf.put("partition_spec_id", Int.box(0))
      mf.put("content", Int.box(content))
      mf.put("sequence_number", Long.box(v))
      mf.put("min_sequence_number", Long.box(v))
      mf.put("added_snapshot_id", Long.box(v))
      mf.put("added_data_files_count", Int.box(es.size))
      mf.put("existing_data_files_count", Int.box(0))
      mf.put("deleted_data_files_count", Int.box(0))
      mf.put("added_rows_count", Long.box(es.map(_.rows).sum))
      mf.put("existing_rows_count", Long.box(0L))
      mf.put("deleted_rows_count", Long.box(0L))
      if (parts.nonEmpty)
        mf.put("partitions", parts.zipWithIndex.map { case (pa, i) =>
          val typed = es.map(e => partitionValue(pa.dt, e.partition(i)))
          val r = new GenericData.Record(sumSchema)
          r.put("contains_null", java.lang.Boolean.valueOf(typed.contains(null)))
          r.put("contains_nan", java.lang.Boolean.FALSE)
          val present = typed.filter(_ != null).sortBy(boundOrder)
          if (present.nonEmpty) {
            r.put("lower_bound", java.nio.ByteBuffer.wrap(boundBytes(present.head)))
            r.put("upper_bound", java.nio.ByteBuffer.wrap(boundBytes(present.last)))
          }
          r: GenericRecord
        }.asJava)
      mf
    }

    val byContent = files.groupBy(e => math.min(e.content, 1))
    val listed = Seq(0, 1).flatMap(c => byContent.get(c).map(manifest(c, _)))
    val carried = if (overwrite) Nil else pr.toSeq.flatMap(p =>
      IcebergRead.readAvroRecords(spark, p.current.get("manifest-list").asText))
    val listPath =
      s"$table/metadata/snap-$v-1-${java.util.UUID.randomUUID()}.avro"
    writeAvro(spark, listPath, manifestFileSchema, Seq(
      "format-version" -> "2",
      "snapshot-id" -> v.toString,
      "sequence-number" -> v.toString,
      "parent-snapshot-id" -> pr.fold("null")(_.version.toString)),
      listed ++ carried)

    // summary: total-records counts DATA rows (the Java writer's
    // semantic — deletes accrue in their own totals, never shrinking it)
    def ofContent(c: Int) = files.filter(_.content == c)
    def rows(c: Int) = ofContent(c).map(_.rows).sum
    def base(key: String) = if (overwrite) 0L else pr.fold(0L)(_.total(key))
    val nData = ofContent(0).size
    val nDel = files.size - nData
    val op = if (overwrite || (nData > 0 && nDel > 0)) "overwrite"
      else if (nDel > 0) "delete" else "append"
    val added = Seq(
      (nData > 0, "added-data-files", nData.toLong),
      (nData > 0, "added-records", rows(0)),
      (nDel > 0, "added-delete-files", nDel.toLong),
      (ofContent(1).nonEmpty, "added-position-deletes", rows(1)),
      (ofContent(2).nonEmpty, "added-equality-deletes", rows(2)))
      .collect { case (true, k, n) => k -> n.toString }
    val totals = Seq("total-records" -> 0, "total-position-deletes" -> 1,
      "total-equality-deletes" -> 2).map { case (k, c) => k -> (base(k) + rows(c)).toString }
    val summary = (("operation" -> op) +: (added ++ totals)).map { case (k, x) =>
      s""""$k":"$x"""" }.mkString("{", ",", "}")

    // the PREVIOUS metadata file becomes a metadata-log entry, rendered
    // under the caller's table location like every other path here
    val metadataLog = pr.fold("")(p => p.joined("metadata-log") +
      s"""{"timestamp-ms":${p.node.get("last-updated-ms").asLong},"metadata-file":${mapper.writeValueAsString(s"$table/metadata/${p.path.getName}")}}""")
    val json =
      s"""{"format-version":2,"table-uuid":"${java.util.UUID.nameUUIDFromBytes(table.getBytes("UTF-8"))}","location":${mapper.writeValueAsString(table)},
         |"last-sequence-number":$v,"last-updated-ms":$nowMs,"last-column-id":${schema.size},
         |"current-schema-id":0,"schemas":[$sj],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[$specJson]}],
         |"last-partition-id":${999 + parts.size},
         |"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{"write.format.default":"parquet"},
         |"current-snapshot-id":$v,
         |"refs":{"main":{"snapshot-id":$v,"type":"branch"}},
         |"snapshots":[${pr.fold("")(_.joined("snapshots"))}{"sequence-number":$v,"snapshot-id":$v,"timestamp-ms":$nowMs,"summary":$summary,"manifest-list":${mapper.writeValueAsString(listPath)},"schema-id":0}],
         |"snapshot-log":[${pr.fold("")(_.joined("snapshot-log"))}{"timestamp-ms":$nowMs,"snapshot-id":$v}],
         |"metadata-log":[$metadataLog]}""".stripMargin.replace("\n", "")
    val installed = if (lakeVersion.isDefined) files.filter(_.content != 0) else files
    AtomicPublish.publishOrDiscard(spark, new Path(s"$table/metadata/v$v.metadata.json"),
      json.getBytes("UTF-8"), (installed.map(_.path) ++
        listed.map(_.get("manifest_path").toString) :+ listPath).map(new Path(_)))
    AtomicPublish.replace(spark, new Path(s"$table/metadata/version-hint.text"),
      v.toString.getBytes("UTF-8"))
    v
  }

  /** APPEND `df` as one snapshot — or, with `overwrite`, replace the
    * table's live files with it — partitioned by `(source column,
    * transform)` pairs in [[IcebergTransforms.parse]] syntax
    * (`identity`, `day`, `bucket[16]`, `truncate[4]`, ...). Source
    * columns stay in the data files. Returns the snapshot id. */
  def append(df: DataFrame, table: String,
      partitionBy: Seq[(String, String)] = Nil,
      overwrite: Boolean = false): Long = {
    val parts = partsOf(df.schema,
      partitionBy.map { case (c, t) => c -> IcebergTransforms.parse(t) })
    val files = stage(df.select(col("*") +: ptCols(parts, df.schema): _*),
      parts, s"$table/data", 0, "")
    require(files.nonEmpty, "append produced no data files")
    commit(df.sparkSession, table, df.schema, parts, files, overwrite)
  }

  /** MERGE-ON-READ delete: mark every row matching `predicate` deleted
    * through POSITION-delete files — (`file_path`, `pos`) parquet
    * carrying the spec's reserved field ids, sorted, one file per
    * touched partition, written by ONE staging job — listed by a
    * `content=1` manifest at this commit's sequence number (position
    * deletes apply to data files sequenced at or below it). Returns
    * the snapshot id. */
  def positionDeletes(spark: SparkSession, table: String,
      predicate: Column): Long = {
    val entries = IcebergRead.dataFileEntries(spark, table)
    require(entries.nonEmpty, s"$table has no data files")
    val schema = spark.read.parquet(entries.head.path).schema
    val parts = specOf(spark, table, schema)
    import spark.implicits._
    // _metadata rendering → manifest path, driver-bounded by #files
    val trans = entries.map(e => (IcebergRead.metaRendering(spark, e.path), e.path))
      .toDF("__if", "__raw")
    val doomed = spark.read.parquet(entries.map(_.path): _*)
      .withColumn("__if", col("_metadata.file_path"))
      .withColumn("__ip", col("_metadata.row_index"))
      .filter(predicate)
      .join(broadcast(trans), Seq("__if"))
    val files = stage(positionLayout(doomed.select(
      positionColumns(col("__raw"), col("__ip")) ++ ptCols(parts, schema): _*), parts),
      parts, s"$table/data", 1, "-deletes")
    require(files.nonEmpty, s"$table: delete predicate matched no rows")
    commit(spark, table, schema, parts, files, overwrite = false)
  }

  /** Equality-delete files for `keys`: exactly the equality columns,
    * typed as the table `schema` and carrying its field ids in the
    * parquet footer (the spec's binding of delete rows to data
    * columns), `equality_ids` naming those ids. */
  private def equalityFiles(keys: DataFrame, cols: Seq[String],
      schema: StructType, parts: Seq[Part], table: String): Seq[FileEntry] = {
    require(cols.nonEmpty, "equality delete without key columns")
    cols.foreach(c => require(
      schema.fieldNames.contains(c) && keys.columns.contains(c),
      s"equality column $c missing from table or batch"))
    parts.foreach(p => require(cols.contains(p.source),
      s"partitioned equality deletes must include partition column ${p.source} " +
        "in the equality key (global unpartitioned-spec deletes are " +
        "not supported)"))
    val ids = cols.map(c => schema.fieldIndex(c) + 1)
    val typed = cols.zip(ids).map { case (c, id) =>
      col(c).cast(schema(c).dataType).as(c, fieldId(id.toLong)) }
    val files = stage(keys.select(typed ++ ptCols(parts, schema): _*),
      parts, s"$table/data", 2, "-eq-deletes", ids)
    require(files.nonEmpty, s"$table: equality-delete batch is empty")
    files
  }

  /** MERGE-ON-READ equality delete (the Flink-CDC encoding): a
    * `content=1` manifest of `content=2` delete files. The spec's
    * scoping is STRICT — an equality delete applies to data files
    * sequenced strictly BELOW it, so a later re-insert survives
    * ([[IcebergRead]]'s masked scan implements that residual).
    * Partitioned tables need the partition sources among the equality
    * columns. Returns the snapshot id. */
  def equalityDeletes(spark: SparkSession, table: String,
      keys: DataFrame, equalityCols: Seq[String]): Long = {
    val entries = IcebergRead.dataFileEntries(spark, table)
    require(entries.nonEmpty, s"$table has no data files")
    val schema = spark.read.parquet(entries.head.path).schema
    val parts = specOf(spark, table, schema)
    commit(spark, table, schema, parts,
      equalityFiles(keys, equalityCols, schema, parts, table), overwrite = false)
  }

  /** Commit a CDC upsert batch into an unpartitioned table in the shape
    * a Flink/Iceberg upsert sink produces: the batch's rows as a data
    * file and its KEY VALUES (plus optional `deleteKeys` tombstones) as
    * an equality-delete file, both at one sequence number — older
    * images of each key are erased, the batch's own rows survive. The
    * batch should be key-distinct. Returns the snapshot id. */
  def cdcBatch(upserts: DataFrame, table: String, keyCols: Seq[String],
      deleteKeys: Option[DataFrame] = None): Long = {
    keyCols.foreach(k => require(upserts.columns.contains(k),
      s"upsert batch missing key column $k"))
    val keys = upserts.select(keyCols.map(col): _*)
    val allKeys = deleteKeys.fold(keys)(d =>
      keys.unionByName(d.select(keyCols.map(col): _*))).distinct()
    val data = stage(upserts.coalesce(1), Nil, s"$table/data", 0, "")
    commit(upserts.sparkSession, table, upserts.schema, Nil, data ++
      equalityFiles(allKeys.coalesce(1), keyCols, upserts.schema, Nil, table),
      overwrite = false)
  }

  /** Export every not-yet-exported Lake snapshot v as Iceberg snapshot
    * v over the Lake's OWN data files (manifests store absolute paths:
    * no data is copied). Pending delete vectors become position-delete
    * files under `metadata/deletes` (one per touched partition), so a
    * v2 reader masks exactly the rows [[Lake.read]] masks. Lake data
    * files do not store their partition columns; the identity spec
    * and the typed partition records carry them. Idempotent and
    * incremental; returns the latest exported snapshot id. */
  def exportLake(spark: SparkSession, table: String): Long = {
    val cur = Lake.currentVersion(spark, table)
    require(cur > 0, s"no committed Lake version at $table")
    val f = fs(spark, table)
    (1 to cur).filterNot(v =>
      f.exists(new Path(s"$table/metadata/v$v.metadata.json"))).foreach { v =>
      val snap = Lake.readSnapshot(spark, table, v)
      val parts = partsOf(snap.schema,
        snap.partitionCols.map(_ -> IcebergTransforms.parse("identity")))
      def pvals(lf: Lake.LakeFile) =
        snap.partitionCols.map(c => lf.partitionValues.getOrElse(c, null))
      val data = snap.files.map(lf =>
        FileEntry(lf.path, pvals(lf), lf.sizeBytes, lf.rowCount, 0))
      val deletes = if (snap.dvFiles.isEmpty) Nil else {
        val dv = spark.read.schema(StructType(Seq(
          StructField("__graft_dv_file", StringType),
          StructField("__graft_dv_pos", LongType)))).parquet(snap.dvFiles: _*)
        // sidecar path rendering → manifest path + partition strings,
        // through a driver-built table bounded by #files
        val byNorm = snap.files.map(lf => IcebergRead.normPath(lf.path) -> lf).toMap
        val rows = dv.select("__graft_dv_file").distinct().collect()
          .map(_.getString(0)).toSeq.flatMap(t => byNorm.get(IcebergRead.normPath(t))
            .map(lf => Row.fromSeq(Seq(t, lf.path) ++ pvals(lf))))
        val trans = spark.createDataFrame(rows.asJava, StructType(
          (Seq("__graft_dv_file", "__raw") ++ parts.indices.map(i => s"__pt$i"))
            .map(StructField(_, StringType))))
        stage(positionLayout(dv.join(broadcast(trans), Seq("__graft_dv_file"))
          .select(positionColumns(col("__raw"), col("__graft_dv_pos")) ++
            parts.indices.map(i => col(s"__pt$i")): _*), parts),
          parts, s"$table/metadata/deletes", 1, "-deletes")
      }
      commit(spark, table, snap.schema, parts, data ++ deletes,
        overwrite = true, lakeVersion = Some(v.toLong))
    }
    cur.toLong
  }
}
