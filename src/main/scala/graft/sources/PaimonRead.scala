package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Reader + minimal layout writer for APACHE PAIMON tables (public
  * format: paimon.apache.org/docs/master/concepts/spec/ — a
  * `schema/schema-<id>` JSON chain, `snapshot/snapshot-<id>` JSON
  * commits pointing at Avro `manifest-list-*` files, which name Avro
  * `manifest-*` files, whose entries add/delete the LSM data files
  * under `<partition>/bucket-<n>/`). The reference ships a Paimon
  * connector (`fe/fe-core/src/main/java/com/starrocks/connector/paimon/`,
  * `ConnectorType.java` lists PAIMON beside HUDI/DELTALAKE/ICEBERG);
  * this is the Spark-native equivalent over the open layout, no
  * paimon-bundle jar required — the same stance as [[DeltaRead]],
  * [[HudiRead]], [[IcebergRead]].
  *
  * Table kinds:
  *  - APPEND-ONLY (no primaryKeys in the schema): live data files scan
  *    as plain parquet/orc; partition columns attach per manifest
  *    partition tuple as typed literals, so a partition filter
  *    constant-folds non-matching branches away (static pruning).
  *  - PRIMARY-KEY (LSM): data files are sorted runs carrying the
  *    spec's system fields (`_KEY_<pk>` duplicated key columns,
  *    `_SEQUENCE_NUMBER`, `_VALUE_KIND` row kind: 0 +I, 1 -U, 2 +U,
  *    3 -D) ahead of the value row; the snapshot read resolves the
  *    LATEST image per key — one window over `_SEQUENCE_NUMBER` —
  *    and drops keys whose winning kind retracts (-U/-D). That is
  *    exactly the merge a Paimon compaction materializes, and
  *    [[compact]] persists it (commitKind COMPACT, delete entries
  *    retire the absorbed runs).
  *
  * Replay: live set at snapshot N = fold of the snapshot's
  * baseManifestList then deltaManifestList entries in order (_KIND 0
  * adds a file, 1 deletes it). Time travel = read `snapshot-<id>`
  * directly; `snapshot/LATEST` is the hint file.
  *
  * ONE manifest format, read and written: real Paimon manifests
  * (`org.apache.paimon.avro.generated.record`, BinaryRow partition
  * tuples through [[RowCodec]], the full `_FILE` struct with unknown
  * fields tolerated on read, hive-escaped partition dirs). Every table
  * this writer produces is replayable by a real paimon reader: data
  * files carry `_KEY_` columns for the TRIMMED key (primary key minus
  * partition columns) and manifest entries carry its BinaryRow
  * bounds. Commits name their files uniquely (`data-<id>-<uuid>-<n>`,
  * `manifest-<uuid>-<n>`) and publish the snapshot through
  * [[AtomicPublish]]: a writer that loses the race for an id deletes
  * what it wrote and throws `ConcurrentModificationException`.
  *
  * 100 TB: manifests are O(files) driver metadata; the PK merge is one
  * hash-partitioned window keyed by the primary key (the LSM
  * merge-on-read cost, amortized by [[compact]]); append scans are
  * plain pruned parquet reads. Nothing row-scale ever sits on the
  * driver. */
object PaimonRead {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- branches (paimon's branch/branch-<name>/ metadata trees) ------
  // A branch is a full METADATA root (snapshot/schema/manifest/tag)
  // forked from a snapshot or tag; DATA files (and the DV / hash index
  // files beside them) are SHARED under the MAIN table root — branch
  // manifests reference them by the same partition/bucket paths, and
  // branch commits stage new data there too (data file names are
  // unique per commit; DV and hash index files carry a branch prefix
  // so their id-derived names stay collision-free across main and
  // branches). Manifest names resolve branch-first with
  // main fallback, so a fresh branch reads its fork point without
  // copying manifests. (The reference routes `table$branch_xxx`
  // identifiers — fe/.../connector/paimon/PaimonMetadata.java:610-616.)
  def branchRoot(table: String, name: String): String =
    s"$table/branch/branch-$name"
  private[sources] def dataRoot(table: String): String = {
    val i = table.indexOf("/branch/branch-")
    if (i < 0) table else table.substring(0, i)
  }
  private[sources] def branchNameOf(table: String): Option[String] = {
    val i = table.indexOf("/branch/branch-")
    if (i < 0) None
    else Some(table.substring(i + "/branch/branch-".length)
      .takeWhile(_ != '/'))
  }
  /** Resolve a manifest FILE name: branch-local when present, else the
    * main tree (the fork point's manifests are never copied). */
  private[sources] def manifestPath(spark: SparkSession, table: String,
      name: String): String =
    manifestPathWithConf(spark.sparkContext.hadoopConfiguration, table, name)

  private val SeqCol = "_SEQUENCE_NUMBER"
  private val KindCol = "_VALUE_KIND"
  private val KeyPrefix = "_KEY_"
  private val PosFileCol = "__graft_dv_fn"
  private val PosIdxCol = "__graft_dv_pos"

  // ---- schema (schema/schema-<id> JSON) -----------------------------

  final case class TableSchema(id: Long, fields: Seq[StructField],
      partitionKeys: Seq[String], primaryKeys: Seq[String],
      options: Map[String, String], rawTypes: Seq[String] = Nil) {
    def struct: StructType = StructType(fields)
    /** Paimon type string of a field (BinaryRow decode needs e.g. the
      * timestamp precision that the Spark type erases). */
    def rawTypeOf(name: String): Option[String] =
      fields.zipWithIndex.find(_._1.name == name)
        .flatMap { case (_, i) => rawTypes.lift(i) }
  }

  /** Spark type → Paimon SQL type string (spec's DataType rendering). */
  private[graft] def paimonType(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INT"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "STRING"
    case BinaryType => "BYTES"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP(6)"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"unsupported paimon type mapping for $other")
  }

  private val DecimalRe = "DECIMAL\\((\\d+),\\s*(\\d+)\\)".r
  private val TimestampRe = "TIMESTAMP\\((\\d+)\\)".r
  private val VarcharRe = "(?:VARCHAR|CHAR)\\((\\d+)\\)".r

  /** Paimon SQL type string → Spark type; `NOT NULL` suffixes strip. */
  private[graft] def sparkType(s: String): DataType =
    s.trim.stripSuffix(" NOT NULL").toUpperCase match {
      case "BOOLEAN" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case "FLOAT" => FloatType
      case "DOUBLE" => DoubleType
      case "STRING" | "VARCHAR" | "CHAR" => StringType
      case VarcharRe(_) => StringType
      case "BYTES" | "BINARY" | "VARBINARY" => BinaryType
      case "DATE" => DateType
      case TimestampRe(_) => TimestampType
      case "TIMESTAMP" => TimestampType
      case DecimalRe(p, sc) => DecimalType(p.toInt, sc.toInt)
      case other => throw new IllegalArgumentException(
        s"unsupported paimon type $other")
    }

  private[graft] def schemaById(spark: SparkSession, table: String, id: Long): TableSchema = {
    val f = fs(spark, table)
    val in = f.open(new Path(s"$table/schema/schema-$id"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val node = new ObjectMapper().readTree(text)
    val fields = scala.collection.mutable.ArrayBuffer[StructField]()
    val raws = scala.collection.mutable.ArrayBuffer[String]()
    node.get("fields").forEach { fn =>
      fields += StructField(fn.get("name").asText(),
        sparkType(fn.get("type").asText()))
      raws += fn.get("type").asText()
    }
    def strSeq(k: String): Seq[String] = {
      val n = node.get(k)
      if (n == null) Nil
      else { val b = scala.collection.mutable.ArrayBuffer[String]()
        n.forEach(x => b += x.asText()); b.toSeq }
    }
    val opts = scala.collection.mutable.Map[String, String]()
    val on = node.get("options")
    if (on != null) on.fields().forEachRemaining(e =>
      opts += e.getKey -> e.getValue.asText())
    TableSchema(id, fields.toSeq, strSeq("partitionKeys"),
      strSeq("primaryKeys"), opts.toMap, raws.toSeq)
  }

  // ---- snapshots (snapshot/snapshot-<id> JSON + LATEST hint) --------

  /** Ids of the `<prefix><id>` files in `dir`, unsorted (empty when the
    * directory is absent). */
  private def idsIn(f: org.apache.hadoop.fs.FileSystem, dir: String,
      prefix: String): Seq[Long] =
    if (!f.exists(new Path(dir))) Nil
    else f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)

  private def snapshotIds(f: org.apache.hadoop.fs.FileSystem,
      table: String): Seq[Long] = {
    if (!f.exists(new Path(s"$table/snapshot"))) throw new IllegalArgumentException(
      s"not a paimon table (no snapshot/): $table")
    idsIn(f, s"$table/snapshot", "snapshot-").sorted
  }

  final case class Snap(id: Long, schemaId: Long, baseManifestList: String,
      deltaManifestList: String, commitKind: String, timeMillis: Long,
      changelogManifestList: Option[String] = None,
      indexManifest: Option[String] = None,
      totalRecordCount: Option[Long] = None)

  /** Latest snapshot id: the LATEST hint when present and valid, walked
    * forward over any newer consecutive snapshots (a racing writer may
    * land its hint after a later commit's), else max over snapshot-<id>
    * names (hints are advisory per the spec). */
  def latestSnapshotId(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    val ids = snapshotIds(f, table)
    require(ids.nonEmpty, s"no snapshots under $table/snapshot")
    val hinted = AtomicPublish.read(spark, new Path(s"$table/snapshot/LATEST"))
      .flatMap(b => new String(b, "UTF-8").trim.toLongOption)
    val idSet = ids.toSet
    hinted.filter(idSet).map(h =>
      Iterator.iterate(h)(_ + 1).takeWhile(idSet).toSeq.last)
      .getOrElse(ids.max)
  }

  private def snapshotOf(spark: SparkSession, table: String, id: Long): Snap = {
    val f = fs(spark, table)
    val p = new Path(s"$table/snapshot/snapshot-$id")
    require(f.exists(p), s"$table has no snapshot $id")
    snapFromFile(f, p)
  }

  private def snapFromFile(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Snap = {
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val n = new ObjectMapper().readTree(text)
    Snap(n.get("id").asLong, n.get("schemaId").asLong,
      n.get("baseManifestList").asText(), n.get("deltaManifestList").asText(),
      Option(n.get("commitKind")).map(_.asText()).getOrElse("APPEND"),
      Option(n.get("timeMillis")).map(_.asLong).getOrElse(0L),
      Option(n.get("changelogManifestList")).filterNot(_.isNull).map(_.asText()),
      Option(n.get("indexManifest")).filterNot(_.isNull).map(_.asText()),
      Option(n.get("totalRecordCount")).filterNot(_.isNull).map(_.asLong))
  }

  /** The snapshot JSONs under `<root>/<sub>` named `<prefix>…`: a
    * table's or branch's snapshots, or its tags. */
  private def snapsIn(f: org.apache.hadoop.fs.FileSystem, root: String,
      sub: String, prefix: String): Seq[Snap] = {
    val dir = new Path(s"$root/$sub")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(prefix)).map(snapFromFile(f, _))
  }

  /** Newest snapshot committed at or before `epochMillis` — the
    * reference's timestamp time travel (`PaimonMetadata`'s
    * `earlierOrEqualTimeMills`). None when every snapshot is newer. */
  def snapshotAsOfTime(spark: SparkSession, table: String,
      epochMillis: Long): Option[Long] = {
    snapshotIds(fs(spark, table), table)
      .map(id => snapshotOf(spark, table, id))
      .filter(_.timeMillis <= epochMillis)
      .sortBy(_.id).lastOption.map(_.id)
  }

  // ---- manifests (Avro) ---------------------------------------------

  /** One manifest entry: _KIND 0 add / 1 delete of `fileName` in
    * (`partition`, `bucket`); stats + LSM metadata from _FILE.
    * `minKey`/`maxKey` are the file's trimmed-key bounds as serialized
    * BinaryRows (empty when the manifest did not record them). */
  final case class FileEntry(kind: Int, partition: Map[String, String],
      bucket: Int, fileName: String, sizeBytes: Long, rowCount: Long,
      minSeq: Long, maxSeq: Long, level: Int,
      minKey: Array[Byte] = Array.emptyByteArray,
      maxKey: Array[Byte] = Array.emptyByteArray)

  // ---- manifest schemas: the published rendering a paimon-0.4+
  // reader/writer produces, field-for-field the schema a real fixture
  // carries ------------------------------------------------------------

  private val simpleStatsJson = (name: String) => s"""
    {"type":"record","name":"$name","fields":[
      {"name":"_MIN_VALUES","type":"bytes"},
      {"name":"_MAX_VALUES","type":"bytes"},
      {"name":"_NULL_COUNTS","type":["null",{"type":"array","items":["null","long"]}],"default":null}]}"""

  private[sources] val manifestEntrySchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(s"""
    {"type":"record","name":"record","namespace":"org.apache.paimon.avro.generated","fields":[
      {"name":"_VERSION","type":"int"},
      {"name":"_KIND","type":"int"},
      {"name":"_PARTITION","type":"bytes"},
      {"name":"_BUCKET","type":"int"},
      {"name":"_TOTAL_BUCKETS","type":"int"},
      {"name":"_FILE","type":["null",{"type":"record","name":"record__FILE","fields":[
        {"name":"_FILE_NAME","type":"string"},
        {"name":"_FILE_SIZE","type":"long"},
        {"name":"_ROW_COUNT","type":"long"},
        {"name":"_MIN_KEY","type":"bytes"},
        {"name":"_MAX_KEY","type":"bytes"},
        {"name":"_KEY_STATS","type":["null",${simpleStatsJson("record__FILE__KEY_STATS")}],"default":null},
        {"name":"_VALUE_STATS","type":["null",${simpleStatsJson("record__FILE__VALUE_STATS")}],"default":null},
        {"name":"_MIN_SEQUENCE_NUMBER","type":"long"},
        {"name":"_MAX_SEQUENCE_NUMBER","type":"long"},
        {"name":"_SCHEMA_ID","type":"long"},
        {"name":"_LEVEL","type":"int"},
        {"name":"_EXTRA_FILES","type":{"type":"array","items":"string"}},
        {"name":"_CREATION_TIME","type":["null",{"type":"long","logicalType":"timestamp-millis"}],"default":null}
      ]}],"default":null}]}""")

  private[sources] val manifestListSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(s"""
    {"type":"record","name":"record","namespace":"org.apache.paimon.avro.generated","fields":[
      {"name":"_VERSION","type":"int"},
      {"name":"_FILE_NAME","type":"string"},
      {"name":"_FILE_SIZE","type":"long"},
      {"name":"_NUM_ADDED_FILES","type":"long"},
      {"name":"_NUM_DELETED_FILES","type":"long"},
      {"name":"_PARTITION_STATS","type":["null",${simpleStatsJson("record__PARTITION_STATS")}],"default":null},
      {"name":"_SCHEMA_ID","type":"long"}]}""")

  // real paimon wraps the manifest record in a NULLABLE UNION as the
  // avro FILE schema — byte-pinned against the fixture's header
  private def nullableUnion(s: org.apache.avro.Schema): org.apache.avro.Schema =
    org.apache.avro.Schema.createUnion(
      org.apache.avro.Schema.create(org.apache.avro.Schema.Type.NULL), s)
  private[sources] val manifestEntryFileSchema = nullableUnion(manifestEntrySchema)
  private[sources] val manifestListFileSchema = nullableUnion(manifestListSchema)

  private[graft] def readAvroFile(spark: SparkSession,
      path: String): Seq[GenericRecord] = readAvro(spark, path)
  private[graft] def writeAvroFile(spark: SparkSession, path: String,
      schema: org.apache.avro.Schema, records: Seq[GenericRecord]): Unit =
    writeAvro(spark, path, schema, records)

  private def readAvro(spark: SparkSession, path: String): Seq[GenericRecord] =
    readAvroWithConf(spark.sparkContext.hadoopConfiguration, path)

  /** SparkSession-free Avro read — callable from EXECUTOR tasks (the
    * distributed GC root walk) with a broadcast Configuration. */
  private[sources] def readAvroWithConf(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[GenericRecord] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val stream = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer[GenericRecord]()
      while (stream.hasNext) buf += stream.next()
      buf.toSeq
    } finally stream.close()
  }

  /** [[manifestPath]] without a SparkSession (executor-side twin). */
  private[sources] def manifestPathWithConf(
      conf: org.apache.hadoop.conf.Configuration,
      table: String, name: String): String = {
    val local = s"$table/manifest/$name"
    if (dataRoot(table) == table) local
    else {
      val p = new Path(local)
      if (p.getFileSystem(conf).exists(p)) local
      else s"${dataRoot(table)}/manifest/$name"
    }
  }

  private def writeAvro(spark: SparkSession, path: String,
      schema: org.apache.avro.Schema, records: Seq[GenericRecord]): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
  }

  /** The BinaryRow codec of some of a table's columns (its partition
    * tuple, or its trimmed key): types and timestamp precisions come
    * from the schema, so encode and decode agree for every table. */
  private[sources] final case class RowCodec(names: Seq[String],
      types: Seq[DataType], precisions: Seq[Int]) {
    private def precision(i: Int): Int = precisions(i)
    def encodeValues(values: Seq[Any]): Array[Byte] =
      PaimonBinaryRow.encode(values, types, precision)
    /** Rendered strings (the partition-map form) → BinaryRow. */
    def encode(rendered: Map[String, String]): Array[Byte] =
      encodeValues(names.zip(types).map { case (k, dt) =>
        coerce(rendered.getOrElse(k, null), dt) })
    def decode(bytes: Array[Byte]): Map[String, String] =
      if (names.isEmpty) Map.empty
      else names.zip(PaimonBinaryRow.decode(bytes, types, precision)).toMap
    /** The rendering a manifest round-trip yields: staged entries use
      * it too, so a file's directory is the same whether its entry was
      * just staged or decoded from a manifest. */
    def canonical(rendered: Map[String, String]): Map[String, String] =
      if (names.isEmpty) Map.empty else decode(encode(rendered))
  }

  private[sources] def rowCodec(sch: TableSchema,
      names: Seq[String]): RowCodec = RowCodec(names,
    names.map(k => sch.fields.find(_.name == k).map(_.dataType)
      .getOrElse(StringType)),
    names.map(k => sch.rawTypeOf(k)
      .collect { case TimestampRe(p) => p.toInt }.getOrElse(6)))

  private[sources] def partitionCodec(sch: TableSchema): RowCodec =
    rowCodec(sch, sch.partitionKeys)

  /** Real Paimon keys a data file by the primary key minus the
    * partition columns: the `_KEY_` columns and the manifest bounds
    * cover these only. Merges keep full-key semantics through
    * [[keyColsOf]], whose fallback for a partition column is the
    * literal [[partitionScans]] attaches. */
  private def trimmedKey(sch: TableSchema): Seq[String] =
    sch.primaryKeys.filterNot(sch.partitionKeys.contains)

  private def withKeyCols(df: DataFrame, sch: TableSchema): DataFrame =
    trimmedKey(sch).foldLeft(df)((d, k) =>
      d.withColumn(s"$KeyPrefix$k", org.apache.spark.sql.functions.col(k)))

  /** Parse one manifest entry (`org.apache.paimon.avro.generated
    * .record`): a serialized BinaryRow partition plus the full ~15-field
    * `_FILE` struct — the known metadata fields are read, unknown ones
    * (stats, extra files, creation time, …) are tolerated and ignored.
    * `schemaOf` resolves the entry's own `_SCHEMA_ID` so the partition
    * tuple decodes against the schema it was written under. */
  private def parseEntry(e: GenericRecord,
      schemaOf: Long => TableSchema): FileEntry = {
    val fileRec = e.get("_FILE").asInstanceOf[GenericRecord]
    def fld(name: String, dflt: Long): Long =
      if (fileRec.getSchema.getField(name) == null) dflt
      else fileRec.get(name) match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case _ => dflt
      }
    def bytesOf(v: Any): Array[Byte] = v match {
      case bb: java.nio.ByteBuffer =>
        val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
      case _ => Array.emptyByteArray
    }
    def keyBound(name: String): Array[Byte] =
      if (fileRec.getSchema.getField(name) == null) Array.emptyByteArray
      else bytesOf(fileRec.get(name))
    val sch = schemaOf(fld("_SCHEMA_ID", 0L))
    FileEntry(e.get("_KIND").asInstanceOf[Int],
      partitionCodec(sch).decode(bytesOf(e.get("_PARTITION"))),
      e.get("_BUCKET").asInstanceOf[Int],
      fileRec.get("_FILE_NAME").toString, fld("_FILE_SIZE", 0L),
      fld("_ROW_COUNT", 0L), fld("_MIN_SEQUENCE_NUMBER", 0L),
      fld("_MAX_SEQUENCE_NUMBER", 0L), fld("_LEVEL", 0L).toInt,
      keyBound("_MIN_KEY"), keyBound("_MAX_KEY"))
  }

  private def entriesOf(spark: SparkSession, table: String,
      manifestList: String): Seq[FileEntry] = {
    val schemaCache = scala.collection.mutable.Map[Long, TableSchema]()
    def schemaOf(sid: Long): TableSchema =
      schemaCache.getOrElseUpdate(sid, schemaById(spark, table, sid))
    readAvro(spark, manifestPath(spark, table, manifestList)).flatMap { lm =>
      val mf = lm.get("_FILE_NAME").toString
      readAvro(spark, manifestPath(spark, table, mf)).map(parseEntry(_, schemaOf))
    }
  }

  /** Live data files at a snapshot: base-list then delta-list entries
    * folded in order — _KIND 1 retires the (partition, bucket, name)
    * key an earlier add introduced (the compaction shape). */
  def liveFiles(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): Seq[FileEntry] =
    liveFilesOf(spark, table, snapshotOf(spark, table,
      snapshotId.getOrElse(latestSnapshotId(spark, table))))

  private def liveFilesOf(spark: SparkSession, table: String,
      snap: Snap): Seq[FileEntry] =
    foldLive(entriesOf(spark, table, snap.baseManifestList) ++
      entriesOf(spark, table, snap.deltaManifestList))

  /** Entries folded in order: an add installs its (partition, bucket,
    * name) key, a delete retires it. */
  private def foldLive(entries: Seq[FileEntry]): Seq[FileEntry] = {
    val live = scala.collection.mutable.LinkedHashMap[(String, Int, String), FileEntry]()
    entries.foreach { e =>
      val key = (e.partition.toSeq.sorted.mkString(","), e.bucket, e.fileName)
      if (e.kind == 0) live(key) = e else live.remove(key)
    }
    live.values.toSeq
  }

  /** Row count and trimmed-key bounds from ONE open of a staged
    * file's parquet FOOTER — a driver-side metadata read; a
    * `spark.read.parquet(file).count()` per staged file would spend a
    * full Spark job on each (measured ~80 s/commit of pure overhead in
    * PaimonScaleProbe before this). Per-column min/max across row
    * groups (picked by the column's own parquet comparator) is a sound
    * — possibly loose — lexicographic bound. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      path: String, key: RowCodec): (Long, Array[Byte], Array[Byte]) = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val footer = r.getFooter
      val bounds = key.names.map { k =>
        val c = s"$KeyPrefix$k"
        val chunks = footer.getBlocks.asScala.toSeq
          .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == c))
        val stats = chunks.map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
        if (stats.isEmpty) {
          require(r.getRecordCount == 0,
            s"no footer statistics for key column $k in $path")
          (null, null)
        } else {
          val cmp = stats.head.comparator()
            .asInstanceOf[java.util.Comparator[Any]]
          def pick(xs: Seq[Any], takeMin: Boolean): Any = xs.reduce((a, b) =>
            if ((cmp.compare(a, b) <= 0) == takeMin) a else b)
          val t = chunks.head.getPrimitiveType
          (statValue(pick(stats.map(_.genericGetMin: Any), takeMin = true), t),
            statValue(pick(stats.map(_.genericGetMax: Any), takeMin = false), t))
        }
      }
      (r.getRecordCount, key.encodeValues(bounds.map(_._1)),
        key.encodeValues(bounds.map(_._2)))
    } finally r.close()
  }

  /** A parquet statistic → the JVM value [[PaimonBinaryRow.encode]]
    * takes, by the column's logical type (decimals arrive unscaled,
    * timestamps as epoch units, narrow ints widened). */
  private def statValue(v: Any,
      t: org.apache.parquet.schema.PrimitiveType): Any = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.io.api.Binary
    (t.getLogicalTypeAnnotation, v) match {
      case (d: DecimalLogicalTypeAnnotation, n: java.lang.Number) =>
        java.math.BigDecimal.valueOf(n.longValue, d.getScale)
      case (d: DecimalLogicalTypeAnnotation, b: Binary) =>
        new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.getScale)
      case (ts: TimestampLogicalTypeAnnotation, n: java.lang.Long) =>
        ts.getUnit match {
          case TimeUnit.MILLIS => java.time.Instant.ofEpochMilli(n)
          case TimeUnit.MICROS => java.time.Instant.EPOCH
            .plus(n, java.time.temporal.ChronoUnit.MICROS)
          case TimeUnit.NANOS => java.time.Instant.EPOCH.plusNanos(n)
        }
      case (_: DateLogicalTypeAnnotation, n: java.lang.Integer) =>
        java.time.LocalDate.ofEpochDay(n.longValue)
      case (i: IntLogicalTypeAnnotation, n: java.lang.Integer) if i.getBitWidth == 8 =>
        n.byteValue
      case (i: IntLogicalTypeAnnotation, n: java.lang.Integer) if i.getBitWidth == 16 =>
        n.shortValue
      case (_: StringLogicalTypeAnnotation, b: Binary) => b.toStringUsingUTF8
      case (_, b: Binary) => b.getBytes
      case (_, other) => other
    }
  }

  private def partitionDir(partition: Map[String, String],
      partitionKeys: Seq[String]): String =
    partitionKeys.map { k =>
      val v = partition.getOrElse(k, null)
      s"$k=${if (v == null) "__DEFAULT__" else hiveEscapePathName(v)}"
    }.mkString("/")

  /** Hive's partition-dir escaping (what real paimon uses): only the
    * chars hive's `FileUtils.escapePathName` names get `%XX`-escaped —
    * notably NOT '+', ',', or space beyond the listed set. */
  private val HiveEscaped: Set[Char] =
    (0.toChar to 31.toChar).toSet + 127.toChar ++ Set('"', '#', '%',
      '\'', '*', '/', ':', '=', '?', '\\', '{', '[', ']', '^')
  private def hiveEscapePathName(s: String): String =
    s.flatMap(c => if (HiveEscaped(c)) f"%%${c.toInt}%02X" else c.toString)

  private def dataPath(table: String, e: FileEntry,
      partitionKeys: Seq[String]): String = {
    val root = dataRoot(table) // branch data lives in the shared tree
    val pd = partitionDir(e.partition, partitionKeys)
    val prefix = if (pd.isEmpty) root else s"$root/$pd"
    s"$prefix/bucket-${e.bucket}/${e.fileName}"
  }

  // ---- read -----------------------------------------------------------

  /** Scan a file group (parquet/orc by extension) with the
    * partition-tuple literals attached, typed by the schema. Files
    * present in `dv` (the snapshot's deletion-vector state) scan with
    * their masked positions dropped; DV-free files keep the plain
    * whole-stage-codegen path. */
  private def partitionScans(spark: SparkSession, table: String,
      schema: TableSchema, files: Seq[FileEntry],
      dv: Map[String, PaimonDv.Desc] = Map.empty,
      withPos: Boolean = false,
      // evolved tables: one group may mix files written under several
      // schemas — parquet must union their footers or the first file's
      // schema silently drops later-added columns
      mergeSchemas: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, lit, split}
    lazy val deleted = PaimonDv.deletedColumn(spark, dv) _
    def posCols(df: DataFrame): DataFrame = df
      .withColumn(PosFileCol,
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn(PosIdxCol, col("_metadata.row_index"))
    def mask(df: DataFrame): DataFrame = {
      val t = posCols(df).filter(!deleted(col(PosFileCol), col(PosIdxCol)))
      if (withPos) t else t.drop(PosFileCol, PosIdxCol)
    }
    def scanGroup(group: Seq[FileEntry]): DataFrame = {
      def scan(es: Seq[FileEntry], read: Seq[String] => DataFrame)
          : Option[DataFrame] = {
        if (es.isEmpty) return None
        val (dvd, clean) = es.partition(e => dv.contains(e.fileName))
        def paths(xs: Seq[FileEntry]) =
          xs.map(e => dataPath(table, e, schema.partitionKeys))
        val parts = Seq(
          if (clean.nonEmpty) Some(
            if (withPos) posCols(read(paths(clean))) else read(paths(clean)))
          else None,
          if (dvd.nonEmpty) Some(mask(read(paths(dvd)))) else None).flatten
        Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
      val (orc, parq) = group.partition(_.fileName.endsWith(".orc"))
      val reader =
        if (mergeSchemas) spark.read.option("mergeSchema", "true")
        else spark.read
      val dfs = Seq(
        scan(parq, ps => reader.parquet(ps: _*)),
        scan(orc, ps => reader.orc(ps: _*))).flatten
      dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    files.groupBy(_.partition).toSeq.map { case (pvals, group) =>
      val base = scanGroup(group)
      schema.partitionKeys.foldLeft(base) { (df, k) =>
        val dt = schema.fields.find(_.name == k).map(_.dataType)
          .getOrElse(StringType)
        df.withColumn(k, lit(pvals.getOrElse(k, null)).cast(dt))
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The _KEY_-prefixed column when the scan carries it (the spec's
    * PK file shape), else the value column. */
  private def keyColsOf(schema: TableSchema, df: DataFrame): Seq[String] =
    schema.primaryKeys.map { k =>
      if (df.columns.contains(s"$KeyPrefix$k")) s"$KeyPrefix$k" else k
    }

  /** LSM merge: newest sequence per key wins. `keepRetractions` keeps
    * the winning -U/-D rows (compaction needs them); the read path
    * drops them. `restrictTo(df)` filters BELOW the window (e.g. a
    * broadcast semi-join on touched keys) so the merge shuffle is
    * bounded by the matched rows, not the table. */
  private def mergedImages(spark: SparkSession, table: String,
      schema: TableSchema, all0: DataFrame,
      restrictTo: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.functions.{col, last, max_by, min_by, row_number, sum, max, min, when, lit}
    val all = restrictTo(all0)
    val keyCols = keyColsOf(schema, all)
    require(all.columns.contains(SeqCol) && all.columns.contains(KindCol),
      s"$table: primary-key table data files lack $SeqCol/$KindCol")
    val fieldCols = schema.fields.map(f => col(f.name)).toIndexedSeq
    val valueFields = schema.fields.map(_.name)
      .filterNot(schema.primaryKeys.contains)
      .filterNot(schema.partitionKeys.contains)
    // partition columns outside the key resolve like values; one inside
    // it is a grouping column already
    val partitionOnly = schema.partitionKeys.filterNot(schema.primaryKeys.contains)
    schema.options.getOrElse("merge-engine", "deduplicate") match {
      case "deduplicate" =>
        // newest image per key wins; winning -U/-D retracts the key
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).desc)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 &&
            (col(KindCol) === 0 || col(KindCol) === 2))
          .select(fieldCols: _*)
      case "first-row" =>
        // the FIRST image per key wins, later writes ignored (paimon's
        // dedup-by-arrival engine; deletes are refused at write)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).asc)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(fieldCols: _*)
      case engine @ ("partial-update" | "aggregation") =>
        // per key, each value column folds by its aggregate function in
        // one key-grouped hash aggregation, no window. partial-update
        // resolves every column to its LAST NON-NULL write in sequence
        // order (null = "no update"; deletes are refused at write);
        // aggregation reads `fields.<name>.aggregate-function` (same
        // default). max_by skips rows whose ordering value is null, so
        // gating the seq on non-nullness IS the last-non-null fold.
        val valAgg = valueFields.map { v =>
          (if (engine == "partial-update") "last_non_null_value"
           else schema.options.getOrElse(s"fields.$v.aggregate-function",
             "last_non_null_value")) match {
            case "sum" => sum(col(v)).as(v)
            case "max" => max(col(v)).as(v)
            case "min" => min(col(v)).as(v)
            case "count" => sum(when(col(v).isNotNull, lit(1L))).as(v)
            case "last_value" => max_by(col(v), col(SeqCol)).as(v)
            case "first_value" => min_by(col(v), col(SeqCol)).as(v)
            case "first_non_null_value" =>
              min_by(col(v), when(col(v).isNotNull, col(SeqCol))).as(v)
            case "last_non_null_value" =>
              max_by(col(v), when(col(v).isNotNull, col(SeqCol))).as(v)
            case "listagg" => org.apache.spark.sql.functions
              .concat_ws(",", org.apache.spark.sql.functions
                .array_sort(org.apache.spark.sql.functions
                  .collect_list(col(v)))).as(v)
            case other => throw new IllegalArgumentException(
              s"unsupported paimon aggregate-function $other for field $v")
          }
        }
        val partAgg = partitionOnly.map(p =>
          max_by(col(p), col(SeqCol)).as(p))
        val keyAgg = keyCols.zip(schema.primaryKeys)
        val aggs = partAgg ++ valAgg
        if (aggs.isEmpty) // key-only table: the image is the key set
          all.select(keyAgg.map { case (kc, pk) => col(kc).as(pk) }: _*)
            .distinct()
            .select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        else all.groupBy(keyCols.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .select(keyAgg.map { case (kc, pk) => col(kc).as(pk) } ++
            schema.fields.filterNot(f => schema.primaryKeys.contains(f.name))
              .map(f => col(f.name)): _*)
          .select(schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      case other => throw new IllegalArgumentException(
        s"unsupported paimon merge-engine $other")
    }
  }

  /** Snapshot scan (default latest). Append tables scan plain; PK
    * tables resolve the newest image per key and drop retractions.
    * Partition columns attach per manifest tuple as literals CAST to
    * the schema type, so `read(..).filter($"p" === x)` constant-folds
    * the other partitions' branches away at optimization time. */
  /** Null-fill columns the scan lacks (files written under an earlier
    * schema don't carry later-added columns — the paimon ALTER TABLE
    * ADD COLUMN read contract). */
  private def conform(df: DataFrame, schema: TableSchema): DataFrame = {
    import org.apache.spark.sql.functions.lit
    schema.fields.foldLeft(df) { (d, fd) =>
      if (d.columns.contains(fd.name)) d
      else d.withColumn(fd.name, lit(null).cast(fd.dataType))
    }
  }

  def read(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.getOrElse(latestSnapshotId(spark, table))
    val snap = snapshotOf(spark, table, id)
    // the LATEST read serves the CURRENT table schema (an ALTER that
    // added a column shows it null-filled before any new commit);
    // explicit time travel serves the snapshot's recorded schema
    val schema = schemaById(spark, table,
      if (snapshotId.isDefined) snap.schemaId
      else latestSchemaId(fs(spark, table), table).getOrElse(snap.schemaId))
    readFrom(spark, table, snap, schema)
  }

  private def readFrom(spark: SparkSession, table: String, snap: Snap,
      schema: TableSchema): DataFrame = {
    import org.apache.spark.sql.functions.col
    val files = liveFilesOf(spark, table, snap)
    if (files.isEmpty) {
      // an empty table still answers with the schema
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.struct)
    }
    val all = conform(partitionScans(spark, table, schema, files,
      PaimonDv.index(spark, table, snap.indexManifest),
      mergeSchemas = schema.id > 0), schema)
    if (schema.primaryKeys.isEmpty)
      all.select(schema.fields.map(f => col(f.name)).toIndexedSeq: _*)
    else mergedImages(spark, table, schema, all)
  }

  // ---- tags (tag/tag-<name> — a full snapshot JSON copy, the paimon
  // tag contract: a named, expiration-proof snapshot reference) -------

  def createTag(spark: SparkSession, table: String, name: String,
      snapshotId: Option[Long] = None): Long = {
    require(name.nonEmpty && !name.contains('/'), s"bad tag name $name")
    val f = fs(spark, table)
    val id = snapshotId.getOrElse(latestSnapshotId(spark, table))
    val src = new Path(s"$table/snapshot/snapshot-$id")
    require(f.exists(src), s"$table has no snapshot $id")
    val dst = new Path(s"$table/tag/tag-$name")
    require(!f.exists(dst), s"tag $name already exists")
    f.mkdirs(new Path(s"$table/tag"))
    org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false,
      spark.sparkContext.hadoopConfiguration)
    id
  }

  /** CREATE BRANCH (paimon's `create_branch`): fork the table's
    * metadata at a snapshot (default: latest) or a tag into
    * `branch/branch-<name>/` — its own snapshot/schema/manifest tree.
    * Copies the fork snapshot JSON and every schema file; manifests
    * are NOT copied (branch reads resolve them branch-first with main
    * fallback), and data files are shared. Branch commits go through
    * the normal writers with `branchRoot(table, name)` as the table;
    * [[readBranch]] reads it. Returns the fork snapshot id. */
  def createBranch(spark: SparkSession, table: String, name: String,
      snapshotId: Option[Long] = None,
      fromTag: Option[String] = None): Long = {
    require(name.nonEmpty && !name.contains('/'), s"bad branch name $name")
    require(dataRoot(table) == table, "branches fork from the MAIN table")
    val f = fs(spark, table)
    val br = branchRoot(table, name)
    require(!f.exists(new Path(br)), s"branch $name already exists")
    val src = fromTag match {
      case Some(t) =>
        val p = new Path(s"$table/tag/tag-$t")
        require(f.exists(p), s"$table has no tag $t"); p
      case None =>
        val id = snapshotId.getOrElse(latestSnapshotId(spark, table))
        val p = new Path(s"$table/snapshot/snapshot-$id")
        require(f.exists(p), s"$table has no snapshot $id"); p
    }
    val snap = snapFromFile(f, src)
    f.mkdirs(new Path(s"$br/snapshot"))
    f.mkdirs(new Path(s"$br/schema"))
    f.mkdirs(new Path(s"$br/manifest"))
    val conf = spark.sparkContext.hadoopConfiguration
    org.apache.hadoop.fs.FileUtil.copy(f, src, f,
      new Path(s"$br/snapshot/snapshot-${snap.id}"), false, conf)
    val schemaDir = new Path(s"$table/schema")
    f.listStatus(schemaDir).map(_.getPath)
      .filter(_.getName.startsWith("schema-"))
      .foreach(p => org.apache.hadoop.fs.FileUtil.copy(f, p, f,
        new Path(s"$br/schema/${p.getName}"), false, conf))
    AtomicPublish.replace(spark, new Path(s"$br/snapshot/LATEST"),
      snap.id.toString.getBytes("UTF-8"))
    snap.id
  }

  /** Branch names of a table (empty when none). */
  def branches(spark: SparkSession, table: String): Seq[String] = {
    val f = fs(spark, table)
    val dir = new Path(s"${dataRoot(table)}/branch")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("branch-"))
      .map(_.stripPrefix("branch-")).sorted.toSeq
  }

  /** Read a branch's current snapshot (time travel via the id arg of
    * [[read]] against [[branchRoot]] works the same way). */
  def readBranch(spark: SparkSession, table: String, name: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val f = fs(spark, table)
    require(f.exists(new Path(branchRoot(table, name))),
      s"$table has no branch $name")
    read(spark, branchRoot(table, name), snapshotId)
  }

  /** DROP BRANCH: deletes the branch metadata tree. Data files the
    * branch added stay until [[removeOrphanFiles]] (they are now
    * unreachable debris — the same lifecycle as a dropped tag). */
  def deleteBranch(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(new Path(branchRoot(table, name)), true),
      s"$table has no branch $name")
  }

  def deleteTag(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(new Path(s"$table/tag/tag-$name"), false),
      s"$table has no tag $name")
  }

  def tags(spark: SparkSession, table: String): Seq[(String, Long)] = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/tag")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("tag-"))
      .map(p => p.getName.stripPrefix("tag-") -> snapFromFile(f, p).id)
      .sortBy(_._1).toSeq
  }

  /** Read a TAGGED snapshot — served from the tag's own JSON copy, so
    * it survives [[expireSnapshots]] dropping the snapshot file. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val f = fs(spark, table)
    val p = new Path(s"$table/tag/tag-$name")
    require(f.exists(p), s"$table has no tag $name")
    val snap = snapFromFile(f, p)
    readFrom(spark, table, snap, schemaById(spark, table, snap.schemaId))
  }

  /** ALTER TABLE ADD COLUMN: a new schema file (id+1) with the field
    * appended — no data rewrite; files written earlier read as null
    * for the new column, compaction rewrites under the new schema. */
  def addColumn(spark: SparkSession, table: String,
      field: StructField): Long = {
    val f = fs(spark, table)
    val sid = latestSchemaId(f, table).getOrElse(
      throw new IllegalArgumentException(s"no schema under $table"))
    val sch = schemaById(spark, table, sid)
    require(!sch.fields.exists(_.name == field.name),
      s"column ${field.name} already exists")
    val next = sid + 1
    writeSchemaFile(spark, table, next, sch.fields :+ field,
      sch.partitionKeys, sch.primaryKeys, sch.options)
    next
  }

  /** Row-level change feed between two snapshots — the
    * [[graft.sources.Lake.changes]] retraction contract
    * (`__change_type` insert/delete + `__commit_version`; an update is
    * delete(old) + insert(new), consumers fold by key). Per snapshot:
    * COMPACT commits are physical rewrites and emit nothing; append
    * tables emit the delta files' rows as inserts; PK tables emit the
    * batch's final images (kinds +I/+U) as inserts, and one delete per
    * touched key that held a LIVE image at the PRIOR snapshot — found
    * by merging the prior live runs RESTRICTED to the touched keys
    * (broadcast semi-join below the window: scan I/O is the prior
    * file set, but the merge shuffle is O(touched keys)). */
  private[graft] def snapshotIndexManifest(spark: SparkSession,
      table: String, id: Long): Option[String] =
    snapshotOf(spark, table, id).indexManifest

  /** Prune a prior live set to the buckets a commit's ADD entries
    * touched — zero extra Spark jobs (the staged batch's entries name
    * the buckets). Valid for FIXED-bucket PK tables (a key's bucket is
    * a pure hash, partition-independent, so bucket-NUMBER pruning
    * holds across partitions) AND for DYNAMIC-bucket tables
    * ('bucket' = '-1'): there the bucket is no longer hash-derivable,
    * but the HASH index ([[PaimonHashIndex]]) makes assignment STICKY
    * *per (partition, key)* — within a touched partition every older
    * image of a touched key still lives in a touched bucket. Across
    * partitions stickiness does NOT hold for dynamic tables (this
    * writer allows pk ⊉ partition keys, so a key re-committed under a
    * NEW partition value is assigned a fresh bucket there while its
    * old image sits in the old partition under an unrelated bucket
    * number) — so for dynamic+partitioned tables the prune keeps
    * every entry of an UNTOUCHED partition and prunes touched
    * partitions to their touched (partition, bucket) pairs. Entries
    * with bucket < 0 (a foreign layout that records no bucket) keep
    * the full set — nothing to key on. */
  private[graft] def prunePriorToTouchedBuckets(prior: Seq[FileEntry],
      adds: Seq[FileEntry], sch: TableSchema): Seq[FileEntry] = {
    if (adds.exists(_.bucket < 0) || prior.exists(_.bucket < 0)) return prior
    val dynamic = sch.options.get("bucket").contains("-1")
    if (dynamic && sch.partitionKeys.nonEmpty) {
      val touchedPB = adds.map(e => (e.partition, e.bucket)).toSet
      val touchedP = adds.map(_.partition).toSet
      prior.filter(e => !touchedP.contains(e.partition) ||
        touchedPB.contains((e.partition, e.bucket)))
    } else {
      val touched = adds.map(_.bucket).toSet
      prior.filter(e => touched.contains(e.bucket))
    }
  }

  def changes(spark: SparkSession, table: String,
      fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
    require(fromSnapshot >= 0 && toSnapshot > fromSnapshot,
      s"bad change range $fromSnapshot..$toSnapshot")
    // one Avro read per DISTINCT index manifest across the whole walk
    // (step v's prev state is step v-1's cur state; carried-forward
    // manifests share the name across many snapshots)
    val dvCache =
      scala.collection.mutable.Map[Option[String], Map[String, PaimonDv.Desc]]()
    def dvOf(im: Option[String]): Map[String, PaimonDv.Desc] =
      dvCache.getOrElseUpdate(im, PaimonDv.index(spark, table, im))
    val steps = ((fromSnapshot + 1) to toSnapshot).flatMap { v =>
      val snap = snapshotOf(spark, table, v)
      val schema = schemaById(spark, table, snap.schemaId)
      val fieldCols = schema.fields.map(f => col(f.name)).toIndexedSeq
      if (snap.commitKind == "COMPACT") None
      else if (snap.changelogManifestList.nonEmpty) {
        // ready-made change files (changelog-producer tables): rows
        // carry their _VALUE_KIND, so the feed is a pure O(changelog)
        // scan — no prior-snapshot derivation at all
        import org.apache.spark.sql.functions.when
        val clAdds = entriesOf(spark, table, snap.changelogManifestList.get)
          .filter(_.kind == 0)
        if (clAdds.isEmpty) None
        else {
          val raw = partitionScans(spark, table, schema, clAdds)
          Some(raw.select((fieldCols :+
            when(col(KindCol) === 0 || col(KindCol) === 2, lit("insert"))
              .otherwise(lit("delete")).as("__change_type")): _*)
            .withColumn("__commit_version", lit(v)))
        }
      }
      else {
        val adds = entriesOf(spark, table, snap.deltaManifestList)
          .filter(_.kind == 0)
        val prevDv: Map[String, PaimonDv.Desc] =
          if (v == 1) Map.empty
          else dvOf(snapshotOf(spark, table, v - 1).indexManifest)
        val curDv = dvOf(snap.indexManifest)
        // a deletion-vector commit: vectors whose DESCRIPTOR changed
        // (carried-forward entries keep identical (path, offset,
        // length), so descriptor inequality finds the touched files
        // with zero byte reads); the newly masked rows retract
        val dvChanged = curDv.filter { case (df, d) =>
          !prevDv.get(df).contains(d) }
        val dvDeletes: Option[DataFrame] =
          if (dvChanged.isEmpty || v == 1) None
          else {
            val prevSnap = snapshotOf(spark, table, v - 1)
            val prevSchema = schemaById(spark, table, prevSnap.schemaId)
            val prevLive = liveFiles(spark, table, Some(v - 1))
            val changed = prevLive.filter(e => dvChanged.contains(e.fileName))
            if (changed.isEmpty) None else {
              val deletedCur = PaimonDv.deletedColumn(spark, dvChanged) _
              val deletedPrev = PaimonDv.deletedColumn(spark, prevDv) _
              val newly = partitionScans(spark, table, prevSchema, changed,
                  withPos = true)
                .filter(deletedCur(col(PosFileCol), col(PosIdxCol)) &&
                  !deletedPrev(col(PosFileCol), col(PosIdxCol)))
              if (prevSchema.primaryKeys.isEmpty)
                Some(newly.select(prevSchema.fields.map(f =>
                    col(f.name)).toIndexedSeq: _*)
                  .withColumn("__change_type", lit("delete")))
              else {
                // every image of a deleted key is masked together; the
                // retraction row is the key's prior WINNING image
                val kcN = keyColsOf(prevSchema, newly)
                val touchedK = newly.select(kcN.zip(prevSchema.primaryKeys)
                  .map { case (kc, pk) => col(kc).as(pk) }: _*).distinct()
                val prior =
                  prunePriorToTouchedBuckets(prevLive, changed, prevSchema)
                val all0 = partitionScans(spark, table, prevSchema, prior,
                  prevDv)
                val pkc = keyColsOf(prevSchema, all0)
                val images = mergedImages(spark, table, prevSchema, all0,
                  restrictTo = d => d.join(broadcast(touchedK),
                    pkc.zip(prevSchema.primaryKeys).map { case (kc, pk) =>
                      d(kc) === touchedK(pk) }.reduce(_ && _), "left_semi"))
                Some(images.withColumn("__change_type", lit("delete")))
              }
            }
          }
        val addStep: Option[DataFrame] = if (adds.isEmpty) None
        else {
          val raw = partitionScans(spark, table, schema, adds, curDv)
          if (schema.primaryKeys.isEmpty)
            Some(raw.select(fieldCols: _*)
              .withColumn("__change_type", lit("insert")))
          else {
            // the derivation below assumes deduplicate semantics (the
            // batch row IS the new image); other engines need
            // ready-made changelog files for correct old/new images
            require(schema.options.getOrElse("merge-engine", "deduplicate")
                == "deduplicate",
              s"changes() on a ${schema.options("merge-engine")} table " +
                "requires changelog files — the derived feed cannot " +
                "reconstruct resolved images")
            val keyCols = keyColsOf(schema, raw)
            // the batch's final image per key (several rows of one key
            // in one commit resolve by sequence, then write order)
            val wb = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).desc)
            val finals = raw.withColumn("__rn", row_number().over(wb))
              .filter(col("__rn") === 1)
            val inserts = finals
              .filter(col(KindCol) === 0 || col(KindCol) === 2)
              .select(fieldCols: _*)
              .withColumn("__change_type", lit("insert"))
            // touched keys under the VALUE column names (semi-join key)
            val touched = finals.select(keyCols.zip(schema.primaryKeys)
              .map { case (kc, pk) => col(kc).as(pk) }: _*).distinct()
            val deletes =
              if (v == 1) None
              else {
                val prior = prunePriorToTouchedBuckets(
                  liveFiles(spark, table, Some(v - 1)), adds, schema)
                if (prior.isEmpty) None
                else {
                  val prevSchema = schemaById(spark, table,
                    snapshotOf(spark, table, v - 1).schemaId)
                  val all0 = partitionScans(spark, table, prevSchema, prior,
                    prevDv)
                  val pkc = keyColsOf(prevSchema, all0)
                  val images = mergedImages(spark, table, prevSchema, all0,
                    restrictTo = df => df.join(broadcast(touched),
                      pkc.zip(prevSchema.primaryKeys).map { case (kc, pk) =>
                        df(kc) === touched(pk) }.reduce(_ && _), "left_semi"))
                  Some(images.withColumn("__change_type", lit("delete")))
                }
              }
            Some((deletes.toSeq :+ inserts)
              .reduce(_.unionByName(_, allowMissingColumns = true)))
          }
        }
        (dvDeletes.toSeq ++ addStep.toSeq)
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(_.withColumn("__commit_version", lit(v)))
      }
    }
    steps.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val schema = schemaById(spark, table,
          snapshotOf(spark, table, toSnapshot).schemaId)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.struct)
          .withColumn("__change_type", lit("insert"))
          .withColumn("__commit_version", lit(toSnapshot))
      }
  }

  // ---- minimal spec-shaped layout writer (tests + gates) -------------

  private def nextSnapshotId(f: org.apache.hadoop.fs.FileSystem,
      table: String): Long =
    idsIn(f, s"$table/snapshot", "snapshot-").foldLeft(0L)(math.max) + 1

  private def latestSchemaId(f: org.apache.hadoop.fs.FileSystem,
      table: String): Option[Long] =
    idsIn(f, s"$table/schema", "schema-").maxOption

  private def writeSchemaFile(spark: SparkSession, table: String, id: Long,
      fields: Seq[StructField], partitionKeys: Seq[String],
      primaryKeys: Seq[String], options: Map[String, String]): Unit = {
    val mapper = graft.functions.JsonKernel.mapper
    val fjson = fields.zipWithIndex.map { case (fd, i) =>
      s"""{"id":$i,"name":${mapper.writeValueAsString(fd.name)},"type":${mapper.writeValueAsString(paimonType(fd.dataType))}}"""
    }.mkString(",")
    def arr(xs: Seq[String]) =
      xs.map(mapper.writeValueAsString).mkString("[", ",", "]")
    val opts = options.map { case (k, v) =>
      s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(v)}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"version":3,"id":$id,"fields":[$fjson],"highestFieldId":${fields.size - 1},"partitionKeys":${arr(partitionKeys)},"primaryKeys":${arr(primaryKeys)},"options":$opts}"""
    val f = fs(spark, table)
    f.mkdirs(new Path(s"$table/schema"))
    val out = f.create(new Path(s"$table/schema/schema-$id"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Rendered string → the JVM value [[PaimonBinaryRow.encode]] takes. */
  private def coerce(s: String, dt: DataType): Any =
    if (s == null) null else dt match {
      case StringType => s
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case BooleanType => s.toBoolean
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case DateType => java.time.LocalDate.parse(s)
      case TimestampType =>
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)
      case _: DecimalType => new java.math.BigDecimal(s)
      case other => throw new IllegalArgumentException(
        s"cannot coerce partition value to $other")
    }

  /** One manifest entry record: BinaryRow partition tuple, the file's
    * trimmed-key bounds (read from its footer at staging, or carried
    * from the manifest a retired entry was parsed from), _KEY_STATS
    * carrying the same bounds, _VALUE_STATS honestly null. */
  private def entryRecord(sch: TableSchema, partitions: RowCodec,
      e: FileEntry, totalBuckets: Int): GenericRecord = {
    val fileSchema = manifestEntrySchema.getField("_FILE").schema()
      .getTypes.get(1)
    val statsSchema = fileSchema.getField("_KEY_STATS").schema().getTypes.get(1)
    val keyStats = new GenericData.Record(statsSchema)
    keyStats.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(e.minKey))
    keyStats.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(e.maxKey))
    keyStats.put("_NULL_COUNTS", java.util.Arrays.asList(
      trimmedKey(sch).map(_ => java.lang.Long.valueOf(0L)): _*))
    val fileRec = new GenericData.Record(fileSchema)
    fileRec.put("_FILE_NAME", e.fileName)
    fileRec.put("_FILE_SIZE", e.sizeBytes)
    fileRec.put("_ROW_COUNT", e.rowCount)
    fileRec.put("_MIN_KEY", java.nio.ByteBuffer.wrap(e.minKey))
    fileRec.put("_MAX_KEY", java.nio.ByteBuffer.wrap(e.maxKey))
    fileRec.put("_KEY_STATS", keyStats)
    fileRec.put("_VALUE_STATS", null)
    fileRec.put("_MIN_SEQUENCE_NUMBER", e.minSeq)
    fileRec.put("_MAX_SEQUENCE_NUMBER", e.maxSeq)
    fileRec.put("_SCHEMA_ID", sch.id)
    fileRec.put("_LEVEL", e.level)
    fileRec.put("_EXTRA_FILES", java.util.Collections.emptyList[String]())
    fileRec.put("_CREATION_TIME", System.currentTimeMillis())
    val r = new GenericData.Record(manifestEntrySchema)
    r.put("_VERSION", 2)
    r.put("_KIND", e.kind)
    r.put("_PARTITION", java.nio.ByteBuffer.wrap(partitions.encode(e.partition)))
    r.put("_BUCKET", e.bucket)
    r.put("_TOTAL_BUCKETS", totalBuckets)
    r.put("_FILE", fileRec)
    r
  }

  /** Commit `entries` as snapshot `id`: one delta manifest, a base
    * list carrying every PRIOR manifest's list record forward verbatim
    * (the spec's reuse — base state is the fold of earlier manifests,
    * never rewritten) and the full real snapshot field set, published
    * through [[AtomicPublish]]. Manifests and lists are named by a
    * per-commit uuid, so a racing writer of the same id never touches
    * them; the loser deletes them and the data files it installed
    * (every ADD entry of a commit was staged by it) and rethrows. */
  private def commitEntries(spark: SparkSession, table: String, id: Long,
      schemaId: Long, entries: Seq[FileEntry], commitKind: String,
      changelogEntries: Seq[FileEntry] = Nil,
      // None = inherit the prior snapshot's indexManifest (deletion
      // vectors survive unrelated commits); Some(x) sets it (a DV
      // commit names its new manifest, compaction clears with Some(None))
      indexManifest: Option[Option[String]] = None): Long = {
    val f = fs(spark, table)
    f.mkdirs(new Path(s"$table/manifest"))
    f.mkdirs(new Path(s"$table/snapshot"))
    val sch = schemaById(spark, table, schemaId)
    val partitions = partitionCodec(sch)
    val totalBuckets = sch.options.get("bucket").map(_.toInt).getOrElse(1)
    val uid = java.util.UUID.randomUUID().toString
    val written = scala.collection.mutable.ArrayBuffer[Path]()
    def write(name: String, schema: org.apache.avro.Schema,
        records: Seq[GenericRecord]): Long = {
      val p = new Path(s"$table/manifest/$name")
      written += p
      writeAvro(spark, p.toString, schema, records)
      f.getFileStatus(p).getLen
    }
    def manifest(n: Int, es: Seq[FileEntry]): GenericRecord = {
      val name = s"manifest-$uid-$n"
      val size = write(name, manifestEntryFileSchema,
        es.map(entryRecord(sch, partitions, _, totalBuckets)))
      val r = new GenericData.Record(manifestListSchema)
      r.put("_VERSION", 2)
      r.put("_FILE_NAME", name)
      r.put("_FILE_SIZE", size)
      r.put("_NUM_ADDED_FILES", es.count(_.kind == 0).toLong)
      r.put("_NUM_DELETED_FILES", es.count(_.kind == 1).toLong)
      r.put("_PARTITION_STATS", null)
      r.put("_SCHEMA_ID", schemaId)
      r
    }
    val prevSnap = if (id == 1) None else Some(snapshotOf(spark, table, id - 1))
    val baseList = s"manifest-list-$uid-0"
    val deltaList = s"manifest-list-$uid-1"
    write(baseList, manifestListFileSchema, prevSnap.toSeq.flatMap(s =>
      Seq(s.baseManifestList, s.deltaManifestList))
      .flatMap(l => readAvro(spark, manifestPath(spark, table, l))))
    write(deltaList, manifestListFileSchema, Seq(manifest(0, entries)))
    // the spec's changelog chain: a separate manifest + list, named in
    // the snapshot, NEVER folded into the live data state
    val changelogJson = if (changelogEntries.isEmpty) "null" else {
      val clList = s"manifest-list-$uid-2"
      write(clList, manifestListFileSchema, Seq(manifest(1, changelogEntries)))
      "\"" + clList + "\""
    }
    val rows = entries.filter(_.kind == 0).map(_.rowCount).sum
    // totalRecordCount is INCREMENTAL — prior total + this commit's
    // adds − retires — so commit cost stays O(this commit), not a full
    // live-fold per commit (O(table files), quadratic over the table's
    // life). A prior snapshot without the field (a foreign table) pays
    // the fold once.
    val total = prevSnap.fold(Option(0L))(_.totalRecordCount) match {
      case Some(prevTotal) =>
        prevTotal + rows - entries.filter(_.kind == 1).map(_.rowCount).sum
      case None =>
        foldLive(liveFiles(spark, table, Some(id - 1)) ++ entries)
          .map(_.rowCount).sum
    }
    val clRows = changelogEntries.filter(_.kind == 0).map(_.rowCount).sum
    val effIndex: Option[String] =
      indexManifest.getOrElse(prevSnap.flatMap(_.indexManifest))
    val indexJson = effIndex.map("\"" + _ + "\"").getOrElse("null")
    val json =
      s"""{"version":3,"id":$id,"schemaId":$schemaId,"baseManifestList":"$baseList","deltaManifestList":"$deltaList","changelogManifestList":$changelogJson,"indexManifest":$indexJson,"commitKind":"$commitKind","timeMillis":${System.currentTimeMillis()},"deltaRecordCount":$rows,"commitUser":"$uid","commitIdentifier":9223372036854775807,"logOffsets":{},"totalRecordCount":$total,"changelogRecordCount":$clRows,"watermark":null}"""
    val installed = (entries ++ changelogEntries).filter(_.kind == 0)
      .map(e => new Path(dataPath(table, e, sch.partitionKeys)))
    AtomicPublish.publishOrDiscard(spark,
      new Path(s"$table/snapshot/snapshot-$id"), json.getBytes("UTF-8"),
      installed ++ written)
    AtomicPublish.replace(spark, new Path(s"$table/snapshot/LATEST"),
      id.toString.getBytes("UTF-8"))
    id
  }

  /** Stage `df` partitioned by (partition dirs, bucket), walk the hive
    * layout, move each part under `<p=v>/bucket-<n>/` as
    * `<namePrefix>-<id>-<uuid>-<i>.parquet` and return its manifest
    * entries: row count and trimmed-key bounds come from one footer
    * open per file, and partition values take the rendering a
    * manifest round-trip yields. Timestamps stage as TIMESTAMP_MICROS
    * (the shape real Paimon writes; Spark's default INT96 carries no
    * footer statistics). `seqRangeOf` overrides the recorded
    * (minSeq, maxSeq) per (partition, bucket) group — compaction
    * stamps each rewritten run with the seq range it absorbed. */
  private def stageDataFiles(df: DataFrame, table: String, sch: TableSchema,
      id: Long, bucketCol: Option[String], seq: Long, level: Int,
      seqRangeOf: Option[(Map[String, String], Int) => (Long, Long)] = None,
      namePrefix: String = "data"): Seq[FileEntry] = {
    val spark = df.sparkSession
    val f = fs(spark, table)
    val uid = java.util.UUID.randomUUID().toString
    val staging = s"$table/_staging_$uid"
    val partitionKeys = sch.partitionKeys
    val layoutCols = partitionKeys ++ bucketCol.toSeq
    graft.Engine.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      if (layoutCols.isEmpty) df.coalesce(1).write.parquet(staging)
      else df.write.partitionBy(layoutCols: _*).parquet(staging)
    }
    // %XX-only decode: Spark's dir-name escaping leaves '+' literal,
    // URLDecoder would turn it into a space
    def unescape(s: String) = PathNames.unescapePathName(s)
    val found = scala.collection.mutable.ArrayBuffer[(Path, Long, Map[String, String])]()
    def walk(p: Path, vals: Map[String, String]): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("="))
          walk(st.getPath, vals + (name.substring(0, name.indexOf('=')) ->
            unescape(name.substring(name.indexOf('=') + 1))))
        else if (name.endsWith(".parquet")) found += ((st.getPath, st.getLen, vals))
      }
    walk(new Path(staging), Map.empty)
    val partitions = partitionCodec(sch)
    val root = dataRoot(table)
    val installed = found.toSeq.zipWithIndex.map { case ((part, len, vals), i) =>
      val partition = partitions.canonical(partitionKeys.map(k => k ->
        vals.get(k).filter(_ != "__HIVE_DEFAULT_PARTITION__").orNull).toMap)
      val bucket = bucketCol.flatMap(vals.get).map(_.toInt).getOrElse(0)
      val fileName = f"$namePrefix-$id%05d-$uid-$i.parquet"
      val pd = partitionDir(partition, partitionKeys)
      val destDir = (if (pd.isEmpty) root else s"$root/$pd") + s"/bucket-$bucket"
      f.mkdirs(new Path(destDir))
      val dest = s"$destDir/$fileName"
      require(f.rename(part, new Path(dest)), s"staging rename $part -> $dest failed")
      // rename preserves length — the staging stat is the file's stat
      (dest, len, partition, bucket, fileName)
    }
    // footer stats in ONE bounded-pool pass (each open is an
    // independent metadata round-trip; serial per-file reads are
    // minutes of driver wall at 100k-file commits on an object store)
    val key = rowCodec(sch, trimmedKey(sch))
    val conf = spark.sparkContext.hadoopConfiguration
    val stats: Seq[(Long, Array[Byte], Array[Byte])] =
      if (installed.isEmpty) Nil
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, installed.size))
        try {
          import scala.jdk.CollectionConverters._
          val tasks = installed.map { case (dest, _, _, _, _) =>
            (() => footerStats(conf, dest, key)): java.util.concurrent.Callable[(Long, Array[Byte], Array[Byte])]
          }
          pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
        } finally pool.shutdown()
      }
    val entries = installed.zip(stats).map {
      case ((_, len, partition, bucket, fileName), (rows, minKey, maxKey)) =>
        val (mn, mx) = seqRangeOf.map(_(partition, bucket)).getOrElse((seq, seq))
        FileEntry(0, partition, bucket, fileName, len, rows, mn, mx, level,
          minKey, maxKey)
    }
    f.delete(new Path(staging), true)
    entries
  }

  /** First commit of an APPEND-ONLY table (schema-0 + snapshot-1);
    * later calls append a snapshot. */
  def commitAppend(df: DataFrame, table: String,
      partitionKeys: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val f = fs(spark, table)
    partitionKeys.foreach(k => require(df.columns.contains(k),
      s"unknown partition column $k"))
    val schemaId = latestSchemaId(f, table).getOrElse {
      writeSchemaFile(spark, table, 0, df.schema.fields.toSeq, partitionKeys,
        Nil, Map("file.format" -> "parquet") ++ options)
      0L
    }
    // the SCHEMA governs the layout on later commits: a caller passing
    // different keys would stage files the read path cannot locate
    val sch = schemaById(spark, table, schemaId)
    val schKeys = sch.partitionKeys
    require(partitionKeys.isEmpty || partitionKeys == schKeys,
      s"table partition keys are $schKeys, not $partitionKeys")
    val id = nextSnapshotId(f, table)
    val entries = stageDataFiles(df, table, sch, id, None, id, 0)
    commitEntries(spark, table, id, schemaId, entries, "APPEND")
  }

  /** Upsert commit of a PRIMARY-KEY table. The first call creates the
    * schema (pk + optional partition keys + fixed `numBuckets`); every
    * call writes one sorted run per (partition, bucket) carrying the
    * spec's system columns, at sequence = snapshot id (this writer
    * commits key-unique batches, enforced below — pass
    * `assumeKeyUnique = true` to skip the check's extra Spark job when
    * the caller guarantees uniqueness, e.g. the batch keys on a source
    * table's primary key). `deletes` rows need only the key columns —
    * they land as -D retractions. */
  def commitPk(df: DataFrame, table: String, primaryKeys: Seq[String],
      partitionKeys: Seq[String] = Nil, numBuckets: Int = 2,
      deletes: Boolean = false, assumeKeyUnique: Boolean = false,
      options: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.{abs => fabs, col, hash, lit, pmod}
    val spark = df.sparkSession
    val f = fs(spark, table)
    require(primaryKeys.nonEmpty, "primary-key commit without keys")
    val schemaId = latestSchemaId(f, table) match {
      case Some(sid) =>
        val sch = schemaById(spark, table, sid)
        require(sch.primaryKeys == primaryKeys,
          s"table primary keys are ${sch.primaryKeys}, not $primaryKeys")
        require(partitionKeys.isEmpty || partitionKeys == sch.partitionKeys,
          s"table partition keys are ${sch.partitionKeys}, not $partitionKeys")
        sid
      case None =>
        require(!deletes, "cannot open a table with a delete batch")
        writeSchemaFile(spark, table, 0, df.schema.fields.toSeq,
          partitionKeys, primaryKeys,
          Map("file.format" -> "parquet",
            "bucket" -> numBuckets.toString) ++ options)
        0L
    }
    val sch = schemaById(spark, table, schemaId)
    val buckets = sch.options.get("bucket").map(_.toInt).getOrElse(numBuckets)
    val engine = sch.options.getOrElse("merge-engine", "deduplicate")
    // paimon's own contract: these engines accept no delete records
    require(!deletes || engine == "deduplicate",
      s"merge-engine $engine does not accept delete records")
    require(engine == "deduplicate" ||
        !sch.options.contains("changelog-producer"),
      s"changelog-producer is supported for the deduplicate engine " +
        s"(a $engine changelog needs old/new RESOLVED images, not batch rows)")
    primaryKeys.foreach(k => require(df.columns.contains(k),
      s"batch missing key column $k"))
    require(assumeKeyUnique || df.groupBy(primaryKeys.map(col): _*).count()
      .filter(col("count") > 1).isEmpty,
      "paimon PK batch must be key-unique (sequence ties are undefined)")
    val id = nextSnapshotId(f, table)
    // partial updates land in the key's partition — the batch must
    // say which one (null partition cols would mis-stage the row)
    if (engine == "partial-update") sch.partitionKeys.foreach(k =>
      require(df.columns.contains(k),
        s"partial-update batch must carry partition column $k"))
    // delete batches must carry the PARTITION columns too: the
    // tombstone has to land in the same (partition, bucket) group as
    // the rows it kills, or a per-group compaction would drop the
    // tombstone in one group while the base image survives in another
    if (deletes) sch.partitionKeys.foreach(k =>
      require(df.columns.contains(k),
        s"delete batch must carry partition column $k — the tombstone " +
          "lands in the key's partition"))
    // value row per schema (deletes carry nulls), system cols ahead
    val valued = sch.fields.foldLeft(df) { (d, fd) =>
      if (d.columns.contains(fd.name)) d
      else {
        // partial-update batches may omit columns — null = "no update"
        require(deletes || engine == "partial-update",
          s"upsert batch missing column ${fd.name}")
        d.withColumn(fd.name, lit(null).cast(fd.dataType))
      }
    }
    val sys = withKeyCols(valued, sch)
      .withColumn(SeqCol, lit(id))
      .withColumn(KindCol, lit(if (deletes) 3 else 2).cast("tinyint"))
    // bucket routing: fixed tables hash-mod; DYNAMIC tables
    // ('bucket' = '-1') route through the sticky HASH index
    // ([[PaimonHashIndex]]) — existing keys keep their bucket, new
    // keys fill toward dynamic-bucket.target-row-num
    val dynamic = buckets == -1
    val (sysB, idxDelta, lookupCache) =
      if (!dynamic)
        (sys.withColumn("__bucket",
          pmod(fabs(hash(primaryKeys.map(col): _*)), lit(buckets))),
          Map.empty[(String, Int), Seq[Int]],
          None: Option[DataFrame])
      else {
        val target = sch.options.get("dynamic-bucket.target-row-num")
          .map(_.toLong).getOrElse(2000000L)
        val (assigned, delta, cache) = PaimonHashIndex.assignBuckets(spark,
          table, partitionCodec(sch), sys, primaryKeys, target,
          if (id == 1) None else Some(id - 1))
        (assigned.drop("__pj", "__khash"), delta, Some(cache))
      }
    val entries = stageDataFiles(sysB, table, sch, id, Some("__bucket"), id, 0)
    // dynamic commits with NEW keys publish a rewritten full-state
    // index manifest (changed buckets' hash files rewritten, unchanged
    // HASH + all DV entries carried forward); otherwise inherit
    val idxManifest: Option[Option[String]] =
      if (!dynamic || idxDelta.isEmpty) None
      else Some(Some(PaimonHashIndex.writeIndex(spark, table, id,
        if (id == 1) None else snapshotIndexManifest(spark, table, id - 1),
        idxDelta)))
    // changelog-producer = lookup: derive the retraction rows for THIS
    // commit at WRITE time (the paimon lookup producer's deal: the
    // writer pays one touched-key-restricted merge so every subscriber
    // reads ready-made change files at O(changelog) — no prior-set
    // scan per poll)
    val clEntries = sch.options.get("changelog-producer") match {
      case Some("lookup") =>
        // dynamic tables stage changelog files in one group (bucket
        // layout of changelog files is cosmetic — changes() scans the
        // changelog manifest wholesale)
        changelogEntriesFor(spark, table, sch, df, primaryKeys,
          math.max(buckets, 1), deletes, id, entries)
      case Some("input") =>
        // INPUT producer (paimon's cheap config for append-heavy CDC):
        // the batch rows ARE the changelog — copied verbatim with
        // their own row kinds, NO pre-image derivation. Correct when
        // the input stream already carries complete change semantics
        // (disjoint-key appends, or upstream CDC with retractions);
        // an update emits only its new image (+U) here, where lookup
        // would also emit the -U pre-image.
        stageDataFiles(sysB, table, sch, id, Some("__bucket"), id, 0,
          namePrefix = "changelog")
      case _ => Nil
    }
    // after BOTH consumers of sysB (data staging and an input-producer
    // changelog staging) — unpersisting between them would re-run the
    // whole index join for the second
    lookupCache.foreach(_.unpersist())
    commitEntries(spark, table, id, schemaId, entries, "APPEND", clEntries,
      indexManifest = idxManifest)
  }

  /** Lookup-producer changelog for one [[commitPk]] batch: pre-images
    * of touched keys (kind 1 -U for upserts, 3 -D for deletes, full
    * prior values via the bucket-pruned, key-restricted merge) plus
    * the batch's new images (kind 0 +I when no prior existed, 2 +U
    * otherwise), staged as `changelog-*` files in the same
    * (partition, bucket) layout and listed in the snapshot's
    * changelogManifestList. */
  private def changelogEntriesFor(spark: SparkSession, table: String,
      sch: TableSchema, batch: DataFrame, primaryKeys: Seq[String],
      buckets: Int, deletes: Boolean, id: Long,
      stagedAdds: Seq[FileEntry]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{abs => fabs, broadcast, col, hash, lit, pmod, when}
    val fieldCols = sch.fields.map(f => col(f.name))
    val touched = batch.select(primaryKeys.map(col): _*).distinct()
    val priorFiles =
      if (id == 1) Nil
      else prunePriorToTouchedBuckets(
        liveFiles(spark, table, Some(id - 1)), stagedAdds, sch)
    val pre: Option[DataFrame] =
      if (priorFiles.isEmpty) None
      else {
        val priorDv = PaimonDv.index(spark, table,
          snapshotOf(spark, table, id - 1).indexManifest)
        val all0 = partitionScans(spark, table, sch, priorFiles, priorDv)
        val pkc = keyColsOf(sch, all0)
        val images = mergedImages(spark, table, sch, all0,
          restrictTo = d => d.join(broadcast(touched),
            pkc.zip(primaryKeys).map { case (kc, pk) =>
              d(kc) === touched(pk) }.reduce(_ && _), "left_semi"))
        Some(images.withColumn(KindCol,
          lit(if (deletes) 3 else 1).cast("tinyint")))
      }
    val post: Option[DataFrame] =
      if (deletes) None
      else pre match {
        case None =>
          Some(batch.withColumn(KindCol, lit(0).cast("tinyint"))
            .select((fieldCols :+ col(KindCol)): _*))
        case Some(p) =>
          val priorKeys = p.select(primaryKeys.map(col): _*)
            .withColumn("__had", lit(1))
          Some(batch.join(broadcast(priorKeys), primaryKeys, "left")
            .withColumn(KindCol, when(col("__had").isNull, lit(0))
              .otherwise(lit(2)).cast("tinyint"))
            .select((fieldCols :+ col(KindCol)): _*))
      }
    (pre.toSeq ++ post.toSeq)
      .reduceOption(_ unionByName _)
      .map { rows =>
        val sys = withKeyCols(rows, sch)
          .withColumn(SeqCol, lit(id))
          .withColumn("__bucket",
            pmod(fabs(hash(primaryKeys.map(col): _*)), lit(buckets)))
        stageDataFiles(sys, table, sch, id, Some("__bucket"), id, 0,
          namePrefix = "changelog")
      }.getOrElse(Nil)
  }

  /** Paimon SYSTEM TABLES (`tbl$snapshots`, `tbl$schemas`, `tbl$files`,
    * `tbl$manifests`, `tbl$options`) — the metadata relations the
    * reference exposes through the paimon connector
    * (`PaimonMetadata.java:90` imports `system.SnapshotsTable`; `:613`
    * routes system-table identifiers). All driver-side metadata reads
    * rendered as DataFrames; columns follow the published system-table
    * schemas (subset: fields this layout records — absent real-paimon
    * extras render null). */
  def systemTable(spark: SparkSession, table: String,
      name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val f = fs(spark, table)
    def df(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    val mapper = graft.functions.JsonKernel.mapper
    name match {
      case "snapshots" =>
        val rows = snapshotIds(f, table).map { id =>
          val in = f.open(new Path(s"$table/snapshot/snapshot-$id"))
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val n = new ObjectMapper().readTree(text)
          def optLong(k: String): Any = Option(n.get(k))
            .filterNot(_.isNull).map(v => java.lang.Long.valueOf(v.asLong))
            .orNull
          Row(id, n.get("schemaId").asLong,
            Option(n.get("commitUser")).filterNot(_.isNull)
              .map(_.asText()).orNull,
            optLong("commitIdentifier"),
            Option(n.get("commitKind")).map(_.asText()).getOrElse("APPEND"),
            new java.sql.Timestamp(
              Option(n.get("timeMillis")).map(_.asLong).getOrElse(0L)),
            optLong("totalRecordCount"), optLong("deltaRecordCount"),
            optLong("changelogRecordCount"), optLong("watermark"))
        }
        df(StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("schema_id", LongType, nullable = false),
          StructField("commit_user", StringType),
          StructField("commit_identifier", LongType),
          StructField("commit_kind", StringType, nullable = false),
          StructField("commit_time", org.apache.spark.sql.types.TimestampType),
          StructField("total_record_count", LongType),
          StructField("delta_record_count", LongType),
          StructField("changelog_record_count", LongType),
          StructField("watermark", LongType))), rows)
      case "schemas" =>
        require(f.exists(new Path(s"$table/schema")), s"no schema/ under $table")
        val rows = idsIn(f, s"$table/schema", "schema-").sorted.map { id =>
          val sch = schemaById(spark, table, id)
          Row(id,
            mapper.writeValueAsString(sch.fields.map(fd => Map(
              "name" -> fd.name, "type" -> paimonType(fd.dataType)).asJava).asJava),
            mapper.writeValueAsString(sch.partitionKeys.asJava),
            mapper.writeValueAsString(sch.primaryKeys.asJava),
            mapper.writeValueAsString(
              sch.options.toSeq.sortBy(_._1).toMap.asJava))
        }
        df(StructType(Seq(
          StructField("schema_id", LongType, nullable = false),
          StructField("fields", StringType, nullable = false),
          StructField("partition_keys", StringType, nullable = false),
          StructField("primary_keys", StringType, nullable = false),
          StructField("options", StringType, nullable = false))), rows)
      case "files" =>
        val rows = liveFiles(spark, table).map { e =>
          Row(mapper.writeValueAsString(
              e.partition.toSeq.sortBy(_._1).toMap.asJava),
            e.bucket, e.fileName, e.sizeBytes, e.rowCount,
            e.minSeq, e.maxSeq, e.level)
        }
        df(StructType(Seq(
          StructField("partition", StringType, nullable = false),
          StructField("bucket", IntegerType, nullable = false),
          StructField("file_name", StringType, nullable = false),
          StructField("file_size_in_bytes", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("min_sequence_number", LongType, nullable = false),
          StructField("max_sequence_number", LongType, nullable = false),
          StructField("level", IntegerType, nullable = false))), rows)
      case "manifests" =>
        val snap = snapshotOf(spark, table, latestSnapshotId(spark, table))
        val rows = Seq(snap.baseManifestList, snap.deltaManifestList)
          .flatMap(l => readAvro(spark, manifestPath(spark, table, l))).map { r =>
            def num(k: String): Long =
              if (r.getSchema.getField(k) == null) 0L
              else r.get(k) match {
                case l: java.lang.Long => l.longValue(); case _ => 0L }
            Row(r.get("_FILE_NAME").toString, num("_FILE_SIZE"),
              num("_NUM_ADDED_FILES"), num("_NUM_DELETED_FILES"))
          }
        df(StructType(Seq(
          StructField("file_name", StringType, nullable = false),
          StructField("file_size", LongType, nullable = false),
          StructField("num_added_files", LongType, nullable = false),
          StructField("num_deleted_files", LongType, nullable = false))), rows)
      case "options" =>
        val sid = latestSchemaId(f, table).getOrElse(
          throw new IllegalArgumentException(s"no schema under $table"))
        val sch = schemaById(spark, table, sid)
        df(StructType(Seq(
          StructField("key", StringType, nullable = false),
          StructField("value", StringType, nullable = false))),
          sch.options.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) })
      case "tags" =>
        val rows = tags(spark, table).map { case (tagName, id) =>
          val snap = snapFromFile(f, new Path(s"$table/tag/tag-$tagName"))
          Row(tagName, id, snap.schemaId,
            new java.sql.Timestamp(snap.timeMillis))
        }
        df(StructType(Seq(
          StructField("tag_name", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false),
          StructField("schema_id", LongType, nullable = false),
          StructField("commit_time",
            org.apache.spark.sql.types.TimestampType))), rows)
      case other => throw new IllegalArgumentException(
        s"unknown paimon system table $other — supported: snapshots, " +
          "schemas, files, manifests, options, tags")
    }
  }

  /** DELETE via DELETION VECTORS — the `deletion-vectors.enabled`
    * write path: no data file is rewritten; the matched rows' positions
    * are masked by per-file RoaringBitmap32 vectors in a `.dv` index
    * file (format pinned from the reference BE,
    * `be/src/formats/paimon/paimon_delete_file_builder.h:40`), named by
    * a FULL-state index manifest on the new snapshot.
    *
    * PK tables delete by KEY: every live image of a key whose CURRENT
    * (merged) image matches `predicate` is masked together — masking
    * only the winning row would resurrect an older image. Append
    * tables mask exactly the matching positions.
    *
    * Scale shape: one scan to find targets, one shuffle keyed by file
    * name to build bitmaps ON EXECUTORS; the driver collects one
    * serialized bitmap per TOUCHED file (never row-scale), unions it
    * with that file's existing vector, and writes one `.dv` per
    * touched (partition, bucket) group. Untouched files' manifest
    * entries carry forward verbatim (their ranges still point into the
    * old index files). Returns the new snapshot id, or the current one
    * when nothing matched. */
  def deleteWhereDv(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val f = fs(spark, table)
    val cur = latestSnapshotId(spark, table)
    val snap = snapshotOf(spark, table, cur)
    // the predicate evaluates against the CURRENT table schema (it may
    // reference a column added after the latest commit)
    val sch = schemaById(spark, table,
      latestSchemaId(f, table).getOrElse(snap.schemaId))
    val files = liveFiles(spark, table, Some(cur))
    if (files.isEmpty) return cur
    val oldDv = PaimonDv.index(spark, table, snap.indexManifest)
    val evolved = sch.id > 0
    val pairs: DataFrame =
      if (sch.primaryKeys.isEmpty)
        conform(partitionScans(spark, table, sch, files, oldDv,
            withPos = true, mergeSchemas = evolved), sch)
          .filter(predicate)
          .select(col(PosFileCol), col(PosIdxCol))
      else {
        val visible = read(spark, table)
        val targetKeys = visible.filter(predicate)
          .select(sch.primaryKeys.map(col): _*).distinct()
        val allRows = partitionScans(spark, table, sch, files, oldDv,
          withPos = true, mergeSchemas = evolved)
        val kc = keyColsOf(sch, allRows)
        allRows.join(broadcast(targetKeys),
            kc.zip(sch.primaryKeys).map { case (k, pk) =>
              allRows(k) === targetKeys(pk) }.reduce(_ && _), "left_semi")
          .select(col(PosFileCol), col(PosIdxCol))
      }
    // one serialized bitmap + cardinality per touched file, built on
    // executors; the driver never holds positions row-by-row
    import spark.implicits._
    val newBitmaps: Array[(String, Array[Byte])] = pairs
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fn, it) =>
        val rb = new org.roaringbitmap.RoaringBitmap()
        it.foreach { case (_, pos) =>
          require(pos <= Int.MaxValue, s"row index $pos in $fn exceeds " +
            "the 32-bit deletion-vector position space")
          rb.add(pos.toInt)
        }
        (fn, PaimonDv.serialize(rb))
      }.collect()
    if (newBitmaps.isEmpty) return cur
    val conf = spark.sparkContext.hadoopConfiguration
    val merged: Seq[(String, Array[Byte], Long)] =
      newBitmaps.toSeq.map { case (fn, bytes) =>
        val rb = new org.roaringbitmap.RoaringBitmap()
        rb.deserialize(java.nio.ByteBuffer.wrap(bytes))
        oldDv.get(fn).foreach(d => rb.or(PaimonDv.readBitmap(conf, d)))
        (fn, PaimonDv.serialize(rb), rb.getLongCardinality)
      }
    val id = nextSnapshotId(f, table)
    val byFile = files.map(e => e.fileName -> e).toMap
    val partitions = partitionCodec(sch)
    f.mkdirs(new Path(s"${dataRoot(table)}/index"))
    val newEntries = merged
      .groupBy { case (fn, _, _) =>
        val e = byFile(fn); (e.partition, e.bucket) }
      .toSeq.sortBy(_._1.toString).zipWithIndex
      .map { case (((part, bucket), bms), i) =>
        val name = f"index-${branchNameOf(table).map(b => s"b$b-").getOrElse("")}$id%05d-$i.dv"
        val ranges = PaimonDv.writeDvFile(f,
          new Path(s"${dataRoot(table)}/index/$name"),
          bms.sortBy(_._1).map { case (fn, bytes, _) => (fn, bytes) })
        PaimonDv.IndexEntry(0, partitions.encode(part), bucket, PaimonDv.IndexType,
          name, f.getFileStatus(new Path(s"${dataRoot(table)}/index/$name")).getLen,
          bms.map(_._3).sum, ranges)
      }
    val touched = merged.map(_._1).toSet
    val oldEntries = snap.indexManifest
      .map(n => PaimonDv.readIndexManifest(spark, table, n)).getOrElse(Nil)
    val carried = oldEntries.filter(_.indexType == PaimonDv.IndexType)
      .flatMap { e =>
        val keep = e.ranges.filterNot { case (df, _, _) => touched(df) }
        if (keep.isEmpty) None else Some(e.copy(kind = 0, ranges = keep))
      }
    val carriedOther = oldEntries.filterNot(_.indexType == PaimonDv.IndexType)
    val manifestName = f"index-manifest-$id%05d"
    PaimonDv.writeIndexManifest(spark, table, manifestName,
      carriedOther ++ carried ++ newEntries)
    commitEntries(spark, table, id, snap.schemaId, Nil, "APPEND",
      indexManifest = Some(Some(manifestName)))
  }

  /** ROLLBACK to an earlier snapshot (paimon's `rollback_to`): delete
    * every newer snapshot file, restore the LATEST hint, and reclaim
    * the files ONLY the rolled-back commits added. Tags at or before
    * the target stay retention roots; a tag PAST the target REFUSES
    * the rollback — the next commit reuses the rolled snapshot ids,
    * and the id-derived DV and hash index names (`index-<id>-<i>`,
    * `index-manifest-<id>`) would silently overwrite the tag's retained
    * files. Delete such tags first. The next commit continues from the
    * target. */
  def rollbackTo(spark: SparkSession, table: String,
      snapshotId: Long): Seq[Long] = {
    val f = fs(spark, table)
    require(f.exists(new Path(s"$table/snapshot/snapshot-$snapshotId")),
      s"$table has no snapshot $snapshotId")
    val blocking = tags(spark, table).filter(_._2 > snapshotId)
    require(blocking.isEmpty,
      s"cannot roll back past tagged snapshots ${blocking.map(t =>
        s"${t._1}@${t._2}").mkString(", ")} — reused snapshot ids would " +
        "overwrite the tags' retained files; delete those tags first")
    // branches are retention roots too: one forked PAST the target
    // references rolled-back data files this reclaim would delete
    // (and reused main ids would overwrite). Branches forked at or
    // before the target only reference surviving snapshots' files —
    // and their own files are untouchable by main names.
    val blockingBranches = branches(spark, table).filter(b =>
      idsIn(f, s"${branchRoot(table, b)}/snapshot", "snapshot-")
        .foldLeft(Long.MaxValue)(math.min) > snapshotId)
    require(blockingBranches.isEmpty,
      s"cannot roll back past branches forked after snapshot " +
        s"$snapshotId: ${blockingBranches.mkString(", ")} — their fork " +
        "points reference files this rollback would reclaim; delete " +
        "those branches first")
    val rolled = snapshotIds(f, table).filter(_ > snapshotId)
    if (rolled.isEmpty) return Nil
    // reachable from the target view and from tags
    val roots: Seq[Snap] = snapshotOf(spark, table, snapshotId) +:
      snapsIn(f, table, "tag", "tag-")
    val keepData = scala.collection.mutable.Set[String]()
    val keepIndex = scala.collection.mutable.Set[String]()
    roots.foreach { s =>
      val pKeys = schemaById(spark, table, s.schemaId).partitionKeys
      liveFilesOf(spark, table, s).foreach(e =>
        keepData += dataPath(table, e, pKeys))
      s.changelogManifestList.foreach(cl =>
        entriesOf(spark, table, cl).filter(_.kind == 0).foreach(e =>
          keepData += dataPath(table, e, pKeys)))
      s.indexManifest.foreach(im =>
        PaimonDv.readIndexManifest(spark, table, im)
          .foreach(e => keepIndex += e.fileName))
    }
    rolled.foreach { id =>
      val s = snapshotOf(spark, table, id)
      val pKeys = schemaById(spark, table, s.schemaId).partitionKeys
      (Seq(s.deltaManifestList) ++ s.changelogManifestList).foreach { l =>
        entriesOf(spark, table, l).filter(_.kind == 0).foreach { e =>
          val p = dataPath(table, e, pKeys)
          if (!keepData.contains(p)) f.delete(new Path(p), false)
        }
      }
      s.indexManifest.foreach(im =>
        PaimonDv.readIndexManifest(spark, table, im).foreach { e =>
          if (!keepIndex.contains(e.fileName))
            f.delete(new Path(s"${dataRoot(table)}/index/${e.fileName}"), false)
        })
      f.delete(new Path(s"$table/snapshot/snapshot-$id"), false)
    }
    AtomicPublish.replace(spark, new Path(s"$table/snapshot/LATEST"),
      snapshotId.toString.getBytes("UTF-8"))
    rolled
  }

  /** EXPIRE old snapshots (paimon's `expire_snapshots` maintenance):
    * keep the newest `retainLast`, delete the expired snapshot files,
    * and garbage-collect every manifest list / manifest / data file /
    * changelog file / index file no RETAINED snapshot references.
    * Manifests a retained snapshot's base list still names survive
    * (the spec's manifest reuse — base state is the fold of earlier
    * manifests), so only truly unreachable metadata dies. Time travel
    * to an expired id refuses with "has no snapshot"; the latest read
    * is untouched. Driver-side metadata walk, O(snapshots + files);
    * returns the expired ids. */
  def expireSnapshots(spark: SparkSession, table: String,
      retainLast: Int): Seq[Long] = {
    require(retainLast >= 1, "must retain at least the latest snapshot")
    require(dataRoot(table) == table,
      "maintenance runs on the MAIN table (a branch-root expiry would " +
        "sweep shared data files without counting main's snapshots as " +
        "retention roots)")
    val f = fs(spark, table)
    val ids = snapshotIds(f, table)
    val expire = ids.dropRight(retainLast)
    if (expire.isEmpty) return Nil
    val keep = ids.takeRight(retainLast)
    def listsOf(s: Snap): Seq[String] =
      Seq(s.baseManifestList, s.deltaManifestList) ++ s.changelogManifestList
    val keepManifests = scala.collection.mutable.Set[String]()
    val keepData = scala.collection.mutable.Set[String]()
    val keepIndex = scala.collection.mutable.Set[String]()
    // retention roots: the newest `retainLast` snapshots, every TAGGED
    // snapshot (tags carry their own JSON copy; their files must
    // survive expiry — the paimon tag contract) and EVERY branch's
    // snapshots and tags (branch metadata is its own tree; the data
    // files it references live in the shared tree expiry collects)
    val roots: Seq[(String, Snap)] =
      keep.map(id => table -> snapshotOf(spark, table, id)) ++
        snapsIn(f, table, "tag", "tag-").map(table -> _) ++
        branches(spark, table).flatMap { b =>
          val br = branchRoot(table, b)
          (snapsIn(f, br, "snapshot", "snapshot-") ++
            snapsIn(f, br, "tag", "tag-")).map(br -> _)
        }
    roots.foreach { case (root, s) =>
      val pKeys = schemaById(spark, root, s.schemaId).partitionKeys
      listsOf(s).foreach { l =>
        keepManifests += l
        readAvro(spark, manifestPath(spark, root, l)).foreach(lm =>
          keepManifests += lm.get("_FILE_NAME").toString)
      }
      s.indexManifest.foreach { im =>
        keepManifests += im
        PaimonDv.readIndexManifest(spark, root, im)
          .foreach(e => keepIndex += e.fileName)
      }
      // every file this snapshot's view can touch: its live fold plus
      // its changelog files
      liveFilesOf(spark, root, s).foreach(e =>
        keepData += dataPath(table, e, pKeys))
      s.changelogManifestList.foreach { cl =>
        entriesOf(spark, root, cl).filter(_.kind == 0).foreach(e =>
          keepData += dataPath(table, e, pKeys))
      }
    }
    // candidate data files = everything any EXPIRED snapshot's
    // manifests ever added (adds later retired by compaction included)
    val candidates = scala.collection.mutable.Set[String]()
    expire.foreach { id =>
      val s = snapshotOf(spark, table, id)
      val pKeys = schemaById(spark, table, s.schemaId).partitionKeys
      listsOf(s).foreach { l =>
        entriesOf(spark, table, l).filter(_.kind == 0).foreach(e =>
          candidates += dataPath(table, e, pKeys))
      }
    }
    deletePaths(spark, (candidates -- keepData).toSeq)
    val mDir = new Path(s"$table/manifest")
    if (f.exists(mDir)) deletePaths(spark,
      f.listStatus(mDir).map(_.getPath)
        .filterNot(p => keepManifests.contains(p.getName))
        .map(_.toString).toSeq)
    val iDir = new Path(s"$table/index")
    if (f.exists(iDir)) deletePaths(spark,
      f.listStatus(iDir).map(_.getPath)
        .filterNot(p => keepIndex.contains(p.getName))
        .map(_.toString).toSeq)
    expire.foreach(id =>
      f.delete(new Path(s"$table/snapshot/snapshot-$id"), false))
    expire
  }

  /** Delete a known file set: driver-serial under the threshold, ONE
    * Spark job past it — a real table's expiry can retire millions of
    * files, hours of serial driver delete RPCs otherwise. */
  private def deletePaths(spark: SparkSession, paths: Seq[String],
      distributeOver: Int = 1024): Unit =
    if (paths.isEmpty) ()
    else if (paths.size <= distributeOver) {
      val f = fs(spark, paths.head)
      paths.foreach(p => f.delete(new Path(p), false))
    } else {
      val confB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      spark.sparkContext.parallelize(paths, 64).foreachPartition { it =>
        var lf: org.apache.hadoop.fs.FileSystem = null
        it.foreach { p =>
          val hp = new Path(p)
          if (lf == null) lf = hp.getFileSystem(confB.value.value)
          lf.delete(hp, false)
        }
      }
    }

  /** REMOVE ORPHAN FILES (paimon's `remove_orphan_files`): delete every
    * data / changelog / index / manifest file that NO existing snapshot
    * or tag reaches — the debris a deleted tag or an interrupted commit
    * leaves behind ([[expireSnapshots]] only collects what expired
    * snapshots referenced).
    *
    * Files younger than `olderThanMillis` are NEVER swept: a concurrent
    * writer's staged-but-not-yet-committed data or manifest files
    * (between the staging rename and the snapshot publish) must
    * survive the sweep — real paimon gates `remove_orphan_files` on an
    * `older_than` timestamp for exactly this race. Pass 0 only when the
    * table provably has a single writer (the specs do).
    *
    * 100 TB: the reachability roots are driver metadata (O(snapshots +
    * manifests)); the per-FILE listing and deletes run as ONE Spark job
    * over the leaf directories (`manifest/`, `index/`, every
    * `bucket-*`), so a million-file table pays parallel executor I/O,
    * not hours of serial driver delete RPCs. Data files are keyed by
    * NAME (paimon file names are table-unique UUIDs — the same identity
    * [[compact]] relies on), keeping the broadcast keep-set compact.
    * Returns the deleted paths. */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanMillis: Long = 3600L * 1000L): Seq[String] = {
    require(dataRoot(table) == table,
      "maintenance runs on the MAIN table (branches share its data " +
        "tree and are counted as retention roots here)")
    val f = fs(spark, table)
    val snapDir = new Path(s"$table/snapshot")
    require(f.exists(snapDir), s"not a paimon table (no snapshot/): $table")
    def rootsOf(root: String): Seq[(String, Snap)] =
      (snapsIn(f, root, "snapshot", "snapshot-") ++
        snapsIn(f, root, "tag", "tag-")).map(root -> _)
    // BRANCHES are retention roots too: their metadata lives in their
    // own trees (never swept here), but the DATA files they reference
    // live in the shared tree this sweep covers
    val roots: Seq[(String, Snap)] =
      rootsOf(table) ++ branches(spark, table)
        .flatMap(b => rootsOf(branchRoot(table, b)))
    val keepManifests = scala.collection.mutable.Set[String]()
    val keepData = scala.collection.mutable.Set[String]()
    val keepIndex = scala.collection.mutable.Set[String]()
    // DISTINCT (root, name) tasks: carried-forward manifest lists
    // share their name across many snapshots/tags/branches, so the
    // walk is O(distinct lists), not O(roots × lists)
    val listTasks: Seq[(String, String)] = roots.flatMap { case (root, s) =>
      (Seq(s.baseManifestList, s.deltaManifestList) ++
        s.changelogManifestList).map(root -> _) }.distinct
    val idxTasks: Seq[(String, String)] = roots
      .flatMap { case (root, s) => s.indexManifest.map(root -> _) }.distinct
    keepManifests ++= listTasks.map(_._2)
    keepManifests ++= idxTasks.map(_._2)
    // the walk only needs FILE NAMES (no partition/schema decode), so
    // both paths extract _FILE_NAME fields; past the threshold the
    // reads run as ONE Spark job (a long-retention table with many
    // tags/branches would otherwise serialize O(lists) metadata RPCs
    // through the driver), collecting names bounded by the live file
    // count — the same names the driver must hold for the sweep anyway
    val rootWalkThreshold = spark.conf
      .getOption("spark.graft.paimon.gc.distributedRootWalkThreshold")
      .map(_.toInt).getOrElse(64)
    if (listTasks.size + idxTasks.size <= rootWalkThreshold) {
      listTasks.foreach { case (root, l) =>
        readAvro(spark, manifestPath(spark, root, l)).foreach { lm =>
          val mf = lm.get("_FILE_NAME").toString
          keepManifests += mf
          // every file any root's manifests mention — adds AND deletes
          // (a file a later snapshot retires is still read by this one)
          readAvro(spark, manifestPath(spark, root, mf)).foreach(e =>
            keepData += e.get("_FILE").asInstanceOf[GenericRecord]
              .get("_FILE_NAME").toString)
        }
      }
      idxTasks.foreach { case (root, im) =>
        PaimonDv.readIndexManifest(spark, root, im)
          .foreach(e => keepIndex += e.fileName)
      }
    } else {
      val walkConfB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      val tasks = listTasks.map { case (r, n) => (r, n, "list") } ++
        idxTasks.map { case (r, n) => (r, n, "index") }
      val names = spark.sparkContext
        .parallelize(tasks, math.min(tasks.size, 64))
        .flatMap { case (root, name, kind) =>
          val conf = walkConfB.value.value
          kind match {
            case "list" =>
              readAvroWithConf(conf,
                  manifestPathWithConf(conf, root, name)).iterator.flatMap { lm =>
                val mf = lm.get("_FILE_NAME").toString
                Iterator(("manifest", mf)) ++
                  readAvroWithConf(conf,
                      manifestPathWithConf(conf, root, mf)).iterator.map(e =>
                    ("data", e.get("_FILE").asInstanceOf[GenericRecord]
                      .get("_FILE_NAME").toString))
              }
            case _ =>
              PaimonDv.readIndexManifestWithConf(conf,
                  manifestPathWithConf(conf, root, name)).iterator
                .map(e => ("index", e.fileName))
          }
        }.distinct().collect()
      names.foreach {
        case ("manifest", n) => keepManifests += n
        case ("index", n) => keepIndex += n
        case (_, n) => keepData += n
      }
    }
    // leaf dirs to sweep — the driver walks DIRECTORIES only,
    // O(partitions × buckets) RPCs
    val leaves = scala.collection.mutable.ArrayBuffer[(String, String)]()
    if (f.exists(new Path(s"$table/manifest")))
      leaves += (("manifest", s"$table/manifest"))
    if (f.exists(new Path(s"$table/index")))
      leaves += (("index", s"$table/index"))
    def walkDirs(p: Path): Unit =
      f.listStatus(p).filter(_.isDirectory).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("bucket-"))
          leaves += (("data", st.getPath.toString))
        else if (!Set("snapshot", "schema", "manifest", "index", "tag",
            "branch").contains(name) && !name.startsWith("_") &&
            !name.startsWith("."))
          walkDirs(st.getPath)
      }
    walkDirs(new Path(table))
    if (leaves.isEmpty) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val keepB = spark.sparkContext.broadcast(
      (keepManifests.toSet, keepIndex.toSet, keepData.toSet))
    spark.sparkContext
      .parallelize(leaves.toSeq, math.min(leaves.size, 64))
      .flatMap { case (kind, dirStr) =>
        val p = new Path(dirStr)
        val lf = p.getFileSystem(confB.value.value)
        val (km, ki, kd) = keepB.value
        lf.listStatus(p).iterator.filter(_.isFile).flatMap { st =>
          val name = st.getPath.getName
          val kept = name.startsWith(".") ||
            st.getModificationTime > cutoff ||
            (kind match {
              case "manifest" => km.contains(name)
              case "index" => ki.contains(name)
              case _ => kd.contains(name)
            })
          if (kept) None
          else { lf.delete(st.getPath, false); Some(st.getPath.toString) }
        }
      }.collect().toSeq.sorted
  }

  /** Materialize the merged PK state: rewrite every (partition, bucket)
    * group's live runs into one max-level file each and RETIRE the
    * absorbed runs with delete entries — commitKind COMPACT, the LSM
    * compaction shape. Readers at older snapshots still see the
    * original runs.
    *
    * ONE Spark job for the whole table (a thousand-partition table
    * must not dispatch a thousand sequential driver jobs): a single
    * parquet scan over every live run, each row's (partition, bucket)
    * re-attached through a broadcast fileName → group join (file names
    * are snapshot-unique, so the name is the key regardless of URI
    * rendering), one window keyed by (partition, bucket, pk), a
    * repartition on the group columns so each group lands in one task,
    * and one `partitionBy` staging write; the rename + manifest walk
    * is driver metadata, O(groups). */
  def compact(spark: SparkSession, table: String): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, element_at, row_number, split}
    val f = fs(spark, table)
    val cur = latestSnapshotId(spark, table)
    // rewrite under the CURRENT table schema — an evolved table's
    // compaction materializes the added columns (null-filled for rows
    // whose runs predate the ALTER)
    val sch = schemaById(spark, table,
      latestSchemaId(f, table).getOrElse(
        snapshotOf(spark, table, cur).schemaId))
    require(sch.primaryKeys.nonEmpty, "compact targets primary-key tables")
    val files = liveFiles(spark, table, Some(cur))
    val id = nextSnapshotId(f, table)
    val maxLevel = files.map(_.level).foldLeft(0)(math.max) + 1
    val dv = PaimonDv.index(spark, table,
      snapshotOf(spark, table, cur).indexManifest)
    val adds: Seq[FileEntry] = if (files.isEmpty) Nil else {
      val reader =
        if (sch.id > 0) spark.read.option("mergeSchema", "true")
        else spark.read
      val all0 = conform(reader.parquet(
          files.map(e => dataPath(table, e, sch.partitionKeys)): _*), sch)
        .withColumn("__fname",
          element_at(split(col("_metadata.file_path"), "/"), -1))
      // compaction APPLIES the deletion vectors (masked rows die with
      // their runs) and the COMPACT snapshot clears the index manifest
      val all =
        if (dv.isEmpty) all0
        else {
          val deleted = PaimonDv.deletedColumn(spark, dv) _
          all0.withColumn("__fpos", col("_metadata.row_index"))
            .filter(!deleted(col("__fname"), col("__fpos")))
            .drop("__fpos")
        }
      // fileName → (partition values, bucket): driver metadata the
      // manifests already hold, broadcast back onto the scan
      val groupRows = files.map { e =>
        org.apache.spark.sql.Row.fromSeq(
          e.fileName +: e.bucket +: sch.partitionKeys.map(e.partition.getOrElse(_, null)))
      }
      val groupSchema = StructType(
        StructField("__fname", StringType) ::
          StructField("__bucket", IntegerType) ::
          sch.partitionKeys.map(k => StructField(s"__p_$k", StringType)).toList)
      val groupDf = spark.createDataFrame(
        java.util.Arrays.asList(groupRows: _*), groupSchema)
      val typed = sch.partitionKeys.foldLeft(
          all.join(broadcast(groupDf), Seq("__fname"))) { (df, k) =>
        val dt = sch.fields.find(_.name == k).map(_.dataType).getOrElse(StringType)
        df.withColumn(k, col(s"__p_$k").cast(dt)).drop(s"__p_$k")
      }
      val keyCols = keyColsOf(sch, all)
      val groupCols = sch.partitionKeys ++ Seq("__bucket")
      val engine = sch.options.getOrElse("merge-engine", "deduplicate")
      val merged0 =
        if (engine == "deduplicate") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy((groupCols ++ keyCols).map(col): _*).orderBy(col(SeqCol).desc)
          // winning TOMBSTONES are KEPT as rows (read() filters kinds):
          // the group-local merge cannot prove no other group holds an
          // older image of the key, so dropping a -D here could resurrect
          // one — retention is O(deleted keys), reclaimed when a later
          // compaction's group holds only the tombstone... which is this
          // same rule, so they persist; correctness over bytes
          typed.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .drop("__rn", "__fname")
        } else {
          // non-deduplicate engines accept no deletes, so compaction =
          // the engine's RESOLVED image per key (partial-update
          // overlay / per-field aggregates / first row), re-stamped
          // with fresh system columns at the absorbed seq ceiling.
          // FIXED tables re-derive the bucket (hash mod — the same
          // routing commitPk uses); DYNAMIC tables ('bucket' = '-1')
          // must NOT: pmod(h, -1) collapses every key into bucket 0
          // while the carried-forward HASH index (keptIdx below) still
          // asserts the old sticky assignments — so each resolved key
          // keeps its RECORDED bucket (max-seq group, matching
          // mergedImages' partition resolution) via a key-join on the
          // pre-merge rows.
          import org.apache.spark.sql.functions.{abs => fabs, hash, lit, max_by, pmod}
          val buckets = sch.options.get("bucket").map(_.toInt).getOrElse(1)
          val resolved = mergedImages(spark, table, sch,
            typed.drop("__fname", "__bucket"))
          val imaged = withKeyCols(resolved, sch)
            .withColumn(SeqCol, lit(files.map(_.maxSeq).foldLeft(0L)(math.max)))
            .withColumn(KindCol, lit(2).cast("tinyint"))
          if (buckets != -1)
            imaged.withColumn("__bucket",
              pmod(fabs(hash(sch.primaryKeys.map(col): _*)), lit(buckets)))
          else {
            val recorded = typed.groupBy(keyCols.map(col): _*)
              .agg(max_by(col("__bucket"), col(SeqCol)).as("__bucket"))
              .select(keyCols.zip(sch.primaryKeys).map { case (kc, pk) =>
                col(kc).as(pk) } :+ col("__bucket"): _*)
            imaged.join(recorded, sch.primaryKeys)
          }
        }
      val merged = merged0
        .repartition(groupCols.map(col): _*) // one file per group
      val groupMaxSeq = files.groupBy(e => (e.partition, e.bucket))
        .map { case (g, es) => g -> es.map(_.maxSeq).foldLeft(0L)(math.max) }
      val tableMaxSeq = files.map(_.maxSeq).foldLeft(0L)(math.max)
      // a typed→dir→string round-trip that renders differently than the
      // manifest keeps the table-wide bound rather than throwing
      stageDataFiles(merged, table, sch, id, Some("__bucket"), 0L, maxLevel,
        seqRangeOf = Some((p, b) => (0L, groupMaxSeq.getOrElse((p, b), tableMaxSeq))))
    }
    val retires = files.map(_.copy(kind = 1))
    // the COMPACT snapshot clears the DELETION VECTORS (it applied
    // them) but must KEEP the dynamic-bucket HASH index — bucket
    // assignments survive compaction (groups are rewritten in place),
    // and dropping them would let later commits re-route keys
    val keptIdx: Option[String] = snapshotOf(spark, table, cur).indexManifest
      .flatMap { im =>
        val hash = PaimonDv.readIndexManifest(spark, table, im)
          .filter(_.indexType == PaimonHashIndex.IndexType)
        if (hash.isEmpty) None
        else {
          val name = f"index-manifest-$id%05d"
          PaimonDv.writeIndexManifest(spark, table, name, hash)
          Some(name)
        }
      }
    commitEntries(spark, table, id, sch.id, retires ++ adds, "COMPACT",
      indexManifest = Some(keptIdx))
  }
}
