package graft.sources

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import PaimonRead._

/** The Apache Paimon writer: every file a Paimon commit or maintenance
  * action writes ([[PaimonRead]] reads them). ONE commit core,
  * [[commitEntries]], owns every file of a commit — data and changelog
  * files, manifests and lists, DV or hash index files and the index
  * manifest — all named by a per-commit uuid, so main and branch
  * commits never collide in the shared `index/` directory. It
  * publishes the snapshot through [[AtomicPublish.publishOrDiscard]]: a
  * writer that loses the race for a snapshot id deletes every file it
  * wrote and throws `ConcurrentModificationException`. Schema files,
  * tags and branch copies publish create-once through
  * [[AtomicPublish.publish]]; `snapshot/LATEST` is replaced through
  * [[AtomicPublish.replace]]. */
object PaimonWrite {

  /** A commit's full index state: entries carried from its base
    * snapshot and those of the index files it wrote (and deletes). */
  private[sources] final case class IndexState(
      carried: Seq[PaimonDv.IndexEntry], written: Seq[PaimonDv.IndexEntry])

  // real paimon wraps the manifest record in a NULLABLE UNION as the
  // avro FILE schema — byte-pinned against the fixture's header
  private def nullableUnion(s: org.apache.avro.Schema): org.apache.avro.Schema =
    org.apache.avro.Schema.createUnion(
      org.apache.avro.Schema.create(org.apache.avro.Schema.Type.NULL), s)
  private val manifestEntryFileSchema = nullableUnion(manifestEntrySchema)
  private val manifestListFileSchema = nullableUnion(manifestListSchema)

  private[graft] def writeAvroFile(spark: SparkSession, path: String,
      schema: org.apache.avro.Schema, records: Seq[GenericRecord]): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
  }

  /** Real Paimon keys a data file by the primary key minus the
    * partition columns: the `_KEY_` columns and the manifest bounds
    * cover these only. Merges keep full-key semantics through
    * [[PaimonRead.keyColsOf]], whose fallback for a partition column is
    * the literal [[PaimonRead.partitionScans]] attaches. */
  private def trimmedKey(sch: TableSchema): Seq[String] =
    sch.primaryKeys.filterNot(sch.partitionKeys.contains)

  private def withKeyCols(df: DataFrame, sch: TableSchema): DataFrame =
    trimmedKey(sch).foldLeft(df)((d, k) =>
      d.withColumn(s"$KeyPrefix$k", org.apache.spark.sql.functions.col(k)))

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

  // ---- tags (tag/tag-<name> — the tagged snapshot's JSON bytes, the
  // paimon tag contract: a named, expiration-proof snapshot reference) -

  /** Tag a snapshot (default: latest) with its bytes, published
    * create-once: an existing tag refuses, a racing loser throws
    * `ConcurrentModificationException`. Returns the tagged id. */
  def createTag(spark: SparkSession, table: String, name: String,
      snapshotId: Option[Long] = None): Long = {
    require(name.nonEmpty && !name.contains('/'), s"bad tag name $name")
    val id = snapshotId.getOrElse(latestSnapshotId(spark, table))
    val bytes = AtomicPublish.read(spark, new Path(s"$table/snapshot/snapshot-$id"))
    require(bytes.isDefined, s"$table has no snapshot $id")
    val dst = new Path(s"$table/tag/tag-$name")
    require(!fs(spark, table).exists(dst), s"tag $name already exists")
    AtomicPublish.publish(spark, dst, bytes.get)
    id
  }

  def deleteTag(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(new Path(s"$table/tag/tag-$name"), false),
      s"$table has no tag $name")
  }

  /** CREATE BRANCH (paimon's `create_branch`): fork the table's
    * metadata at a snapshot (default: latest) or a tag into
    * `branch/branch-<name>/` — its own snapshot/schema/manifest tree.
    * Publishes a copy of every schema file (in id order, so the first
    * is the commit point a racing fork of the same name loses) and of
    * the fork snapshot JSON. Manifests are NOT copied
    * (branch reads resolve them branch-first with main fallback), and
    * data files are shared. Branch commits go through the normal
    * writers with `branchRoot(table, name)` as the table;
    * [[PaimonRead.readBranch]] reads it. Returns the fork snapshot id. */
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
    def copy(from: Path, to: Path): Unit =
      AtomicPublish.publish(spark, to, AtomicPublish.read(spark, from).get)
    idsIn(f, s"$table/schema", "schema-").sorted.foreach(id =>
      copy(new Path(s"$table/schema/schema-$id"), new Path(s"$br/schema/schema-$id")))
    copy(src, new Path(s"$br/snapshot/snapshot-${snap.id}"))
    AtomicPublish.replace(spark, new Path(s"$br/snapshot/LATEST"),
      snap.id.toString.getBytes("UTF-8"))
    snap.id
  }

  /** DROP BRANCH: deletes the branch metadata tree. Data files the
    * branch added stay until [[removeOrphanFiles]] (they are now
    * unreachable debris — the same lifecycle as a dropped tag). */
  def deleteBranch(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(new Path(branchRoot(table, name)), true),
      s"$table has no branch $name")
  }

  /** ALTER TABLE ADD COLUMN: a new schema file (id+1) with the field
    * appended — no data rewrite; files written earlier read as null
    * for the new column, compaction rewrites under the new schema. A
    * racing loser throws `ConcurrentModificationException`. */
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

  private def nextSnapshotId(f: org.apache.hadoop.fs.FileSystem,
      table: String): Long =
    idsIn(f, s"$table/snapshot", "snapshot-").foldLeft(0L)(math.max) + 1

  /** Publish `schema/schema-<id>` create-once. A racing loser throws
    * `ConcurrentModificationException`, except a new table's first
    * commit whose schema 0 the winner published with the same bytes. */
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
    val path = new Path(s"$table/schema/schema-$id")
    val bytes = json.getBytes("UTF-8")
    try AtomicPublish.publish(spark, path, bytes)
    catch { case _: java.util.ConcurrentModificationException if id == 0 &&
      AtomicPublish.read(spark, path).exists(_.sameElements(bytes)) => }
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
    * through [[AtomicPublish]]. `index` is the commit's full index
    * state, written as `index-manifest-<uuid>` (None inherits the
    * prior snapshot's index manifest: deletion vectors and hash
    * assignments survive unrelated commits; an empty state clears it).
    * Manifests and lists are named by a per-commit uuid, so a racing
    * writer of the same id never touches them; the loser deletes them,
    * the data files it installed (every ADD entry of a commit was
    * staged by it) and the index files it wrote, and rethrows. */
  private def commitEntries(spark: SparkSession, table: String, id: Long,
      schemaId: Long, entries: Seq[FileEntry], commitKind: String,
      changelogEntries: Seq[FileEntry] = Nil,
      index: Option[IndexState] = None): Long = {
    val f = fs(spark, table)
    val sch = schemaById(spark, table, schemaId)
    val partitions = partitionCodec(sch)
    val totalBuckets = sch.options.get("bucket").map(_.toInt).getOrElse(1)
    val uid = java.util.UUID.randomUUID().toString
    val written = scala.collection.mutable.ArrayBuffer[Path]()
    def write(name: String, schema: org.apache.avro.Schema,
        records: Seq[GenericRecord]): Long = {
      val p = new Path(s"$table/manifest/$name")
      written += p
      writeAvroFile(spark, p.toString, schema, records)
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
    val indexName = index.fold(prevSnap.flatMap(_.indexManifest)) { st =>
      Option.when(st.carried.nonEmpty || st.written.nonEmpty) {
        written += new Path(s"$table/manifest/index-manifest-$uid")
        written ++= st.written.map(e => new Path(s"${dataRoot(table)}/index/${e.fileName}"))
        PaimonDv.writeIndexManifest(spark, table, s"index-manifest-$uid",
          st.carried ++ st.written)
        s"index-manifest-$uid"
      }
    }
    val indexJson = indexName.map("\"" + _ + "\"").getOrElse("null")
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
    // dynamic commits with NEW keys commit a full index state (changed
    // buckets' hash files rewritten, unchanged HASH + all DV entries
    // carried forward); otherwise inherit
    val index: Option[IndexState] =
      if (!dynamic || idxDelta.isEmpty) None
      else Some(PaimonHashIndex.writeIndex(spark, table,
        if (id == 1) None else snapshotIndexManifest(spark, table, id - 1),
        idxDelta))
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
      index = index)
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

  /** DELETE via DELETION VECTORS — the `deletion-vectors.enabled`
    * write path: no data file is rewritten; the matched rows' positions
    * are masked by per-file RoaringBitmap32 vectors in a `.dv` index
    * file (format pinned from the reference BE,
    * `be/src/formats/paimon/paimon_delete_file_builder.h:40`), named by
    * the new snapshot's FULL-state index manifest.
    *
    * PK tables delete by KEY: every live image of a key whose CURRENT
    * (merged) image matches `predicate` is masked together — masking
    * only the winning row would resurrect an older image. Append
    * tables mask exactly the matching positions.
    *
    * Scale shape: one scan to find targets, one shuffle keyed by file
    * name to build bitmaps ON EXECUTORS; the driver collects one
    * serialized bitmap per TOUCHED file (never row-scale), unions it
    * with that file's existing vector, and writes one
    * `index-<uuid>-<i>.dv` per touched (partition, bucket) group.
    * Untouched files' index entries carry forward verbatim (their
    * ranges still point into the old index files). Committing the id
    * after the snapshot read makes a race throw rather than drop the
    * racer's vectors. Returns the new snapshot id, or the current one
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
    val byFile = files.map(e => e.fileName -> e).toMap
    val partitions = partitionCodec(sch)
    val uid = java.util.UUID.randomUUID().toString
    val newEntries = merged
      .groupBy { case (fn, _, _) =>
        val e = byFile(fn); (e.partition, e.bucket) }
      .toSeq.sortBy(_._1.toString).zipWithIndex
      .map { case (((part, bucket), bms), i) =>
        val name = s"index-$uid-$i.dv"
        val path = new Path(s"${dataRoot(table)}/index/$name")
        val ranges = PaimonDv.writeDvFile(f, path,
          bms.sortBy(_._1).map { case (fn, bytes, _) => (fn, bytes) })
        PaimonDv.IndexEntry(0, partitions.encode(part), bucket, PaimonDv.IndexType,
          name, f.getFileStatus(path).getLen, bms.map(_._3).sum, ranges)
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
    commitEntries(spark, table, cur + 1, snap.schemaId, Nil, "APPEND",
      index = Some(IndexState(carriedOther ++ carried, newEntries)))
  }

  /** ROLLBACK to an earlier snapshot (paimon's `rollback_to`): delete
    * every newer snapshot file, restore the LATEST hint, and reclaim
    * the files ONLY the rolled-back commits added. Tags at or before
    * the target stay retention roots; a tag PAST the target REFUSES
    * the rollback — a tag records its snapshot's id, and the next
    * commit reuses the rolled ids, so that id would name a different
    * snapshot. Delete such tags first. The next commit continues from
    * the target. */
  def rollbackTo(spark: SparkSession, table: String,
      snapshotId: Long): Seq[Long] = {
    val f = fs(spark, table)
    require(f.exists(new Path(s"$table/snapshot/snapshot-$snapshotId")),
      s"$table has no snapshot $snapshotId")
    val blocking = tags(spark, table).filter(_._2 > snapshotId)
    require(blocking.isEmpty,
      s"cannot roll back past tagged snapshots ${blocking.map(t =>
        s"${t._1}@${t._2}").mkString(", ")} — the next commit would reuse " +
        "the tagged ids for different snapshots; delete those tags first")
    // branches are retention roots too: one forked PAST the target
    // references rolled-back data files this reclaim would delete.
    // Branches forked at or before the target only reference surviving
    // snapshots' files.
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
    val id = cur + 1 // a race throws rather than drop the racer's commit
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
    val keptHash = snapshotOf(spark, table, cur).indexManifest.toSeq
      .flatMap(PaimonDv.readIndexManifest(spark, table, _))
      .filter(_.indexType == PaimonHashIndex.IndexType)
    commitEntries(spark, table, id, sch.id, retires ++ adds, "COMPACT",
      index = Some(IndexState(keptHash, Nil)))
  }
}
