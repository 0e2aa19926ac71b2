package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Reader for APACHE PAIMON tables (public
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
  *    [[PaimonWrite.compact]] persists it (commitKind COMPACT, delete
  *    entries retire the absorbed runs).
  *
  * Replay: live set at snapshot N = fold of the snapshot's
  * baseManifestList then deltaManifestList entries in order (_KIND 0
  * adds a file, 1 deletes it). Time travel = read `snapshot-<id>`
  * directly; `snapshot/LATEST` is the hint file.
  *
  * ONE manifest format: real Paimon manifests
  * (`org.apache.paimon.avro.generated.record`, BinaryRow partition
  * tuples through [[RowCodec]], the full `_FILE` struct with unknown
  * fields tolerated on read, hive-escaped partition dirs). This object
  * only reads; [[PaimonWrite]] writes every file of a table, in the
  * shape a real paimon reader replays: data files carry `_KEY_`
  * columns for the TRIMMED key (primary key minus partition columns)
  * and manifest entries carry its BinaryRow bounds.
  *
  * 100 TB: manifests are O(files) driver metadata; the PK merge is one
  * hash-partitioned window keyed by the primary key (the LSM
  * merge-on-read cost, amortized by [[PaimonWrite.compact]]); append
  * scans are plain pruned parquet reads. Nothing row-scale ever sits on the
  * driver. */
object PaimonRead {

  private[sources] def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- branches (paimon's branch/branch-<name>/ metadata trees) ------
  // A branch is a full METADATA root (snapshot/schema/manifest/tag)
  // forked from a snapshot or tag; DATA files (and the DV / hash index
  // files beside them) are SHARED under the MAIN table root — branch
  // manifests reference them by the same partition/bucket paths, and
  // branch commits stage new data there too (every file a commit
  // writes carries a per-commit uuid, so main and branch commits never
  // collide). Manifest names resolve branch-first with main fallback,
  // so a fresh branch reads its fork point without copying manifests. (The reference routes `table$branch_xxx`
  // identifiers — fe/.../connector/paimon/PaimonMetadata.java:610-616.)
  def branchRoot(table: String, name: String): String =
    s"$table/branch/branch-$name"
  private[sources] def dataRoot(table: String): String = {
    val i = table.indexOf("/branch/branch-")
    if (i < 0) table else table.substring(0, i)
  }
  /** Resolve a manifest FILE name: branch-local when present, else the
    * main tree (the fork point's manifests are never copied). */
  private[sources] def manifestPath(spark: SparkSession, table: String,
      name: String): String =
    manifestPathWithConf(spark.sparkContext.hadoopConfiguration, table, name)

  private[sources] val SeqCol = "_SEQUENCE_NUMBER"
  private[sources] val KindCol = "_VALUE_KIND"
  private[sources] val KeyPrefix = "_KEY_"
  private[sources] val PosFileCol = "__graft_dv_fn"
  private[sources] val PosIdxCol = "__graft_dv_pos"

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
  private[sources] def idsIn(f: org.apache.hadoop.fs.FileSystem, dir: String,
      prefix: String): Seq[Long] =
    if (!f.exists(new Path(dir))) Nil
    else f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)

  private[sources] def snapshotIds(f: org.apache.hadoop.fs.FileSystem,
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

  private[sources] def snapshotOf(spark: SparkSession, table: String, id: Long): Snap = {
    val f = fs(spark, table)
    val p = new Path(s"$table/snapshot/snapshot-$id")
    require(f.exists(p), s"$table has no snapshot $id")
    snapFromFile(f, p)
  }

  private[sources] def snapFromFile(f: org.apache.hadoop.fs.FileSystem,
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
  private[sources] def snapsIn(f: org.apache.hadoop.fs.FileSystem, root: String,
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

  private[sources] def readAvro(spark: SparkSession, path: String): Seq[GenericRecord] =
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

  private[sources] def entriesOf(spark: SparkSession, table: String,
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

  private[sources] def liveFilesOf(spark: SparkSession, table: String,
      snap: Snap): Seq[FileEntry] =
    foldLive(entriesOf(spark, table, snap.baseManifestList) ++
      entriesOf(spark, table, snap.deltaManifestList))

  /** Entries folded in order: an add installs its (partition, bucket,
    * name) key, a delete retires it. */
  private[sources] def foldLive(entries: Seq[FileEntry]): Seq[FileEntry] = {
    val live = scala.collection.mutable.LinkedHashMap[(String, Int, String), FileEntry]()
    entries.foreach { e =>
      val key = (e.partition.toSeq.sorted.mkString(","), e.bucket, e.fileName)
      if (e.kind == 0) live(key) = e else live.remove(key)
    }
    live.values.toSeq
  }

  private[sources] def partitionDir(partition: Map[String, String],
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

  private[sources] def dataPath(table: String, e: FileEntry,
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
  private[sources] def partitionScans(spark: SparkSession, table: String,
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
  private[sources] def keyColsOf(schema: TableSchema, df: DataFrame): Seq[String] =
    schema.primaryKeys.map { k =>
      if (df.columns.contains(s"$KeyPrefix$k")) s"$KeyPrefix$k" else k
    }

  /** LSM merge: newest sequence per key wins. `keepRetractions` keeps
    * the winning -U/-D rows (compaction needs them); the read path
    * drops them. `restrictTo(df)` filters BELOW the window (e.g. a
    * broadcast semi-join on touched keys) so the merge shuffle is
    * bounded by the matched rows, not the table. */
  private[sources] def mergedImages(spark: SparkSession, table: String,
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
  private[sources] def conform(df: DataFrame, schema: TableSchema): DataFrame = {
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

  def tags(spark: SparkSession, table: String): Seq[(String, Long)] = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/tag")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("tag-"))
      .map(p => p.getName.stripPrefix("tag-") -> snapFromFile(f, p).id)
      .sortBy(_._1).toSeq
  }

  /** Read a TAGGED snapshot — served from the tag's own JSON copy, so
    * it survives [[PaimonWrite.expireSnapshots]] dropping the snapshot file. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val f = fs(spark, table)
    val p = new Path(s"$table/tag/tag-$name")
    require(f.exists(p), s"$table has no tag $name")
    val snap = snapFromFile(f, p)
    readFrom(spark, table, snap, schemaById(spark, table, snap.schemaId))
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

  private[sources] def latestSchemaId(f: org.apache.hadoop.fs.FileSystem,
      table: String): Option[Long] =
    idsIn(f, s"$table/schema", "schema-").maxOption

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
}
