package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Contains, EndsWith, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Predicate, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Minimal lake-format table: versioned snapshot manifests over
  * immutable parquet data files — the connector shape of the
  * reference's lake scans (Iceberg/Delta/Hudi readers,
  * `be/src/connector/iceberg/`, `fe/.../connector/ConnectorType.java:40-48`)
  * re-expressed Spark-first.
  *
  * Layout:
  * {{{
  *   table/
  *     data/commit-N/part=...   immutable; never rewritten or deleted
  *     deletes/dv-N-...          merge-on-read delete-vector sidecars:
  *                               (data file, row position) parquet
  *     metadata/vN.json          snapshot manifest: schema, partition
  *                               cols, file list with partition values
  *                               + per-file stats (rows, bytes), pending
  *                               sidecars + their row/target-file record
  *     metadata/VERSION          cache of the current version
  * }}}
  *
  * Every commit writes a NEW data directory and a NEW manifest; the
  * exclusive publish of the manifest IS the commit, and the VERSION
  * cache is then replaced atomically (both in [[publishSnapshot]]) —
  * readers see either the old or the new snapshot, never a mix, and
  * old snapshots stay readable forever (time travel) because data
  * files are immutable.
  *
  * Read path is the Delta/Iceberg integration shape: a custom
  * [[FileIndex]] whose file listing comes from the MANIFEST (no
  * recursive directory listing — at 100 TB / 100k files the O(1)
  * manifest read replaces the object-store LIST storm), with partition
  * pruning evaluated inside the index against the manifest's partition
  * values, wrapped in a [[HadoopFsRelation]] + [[ParquetFileFormat]]
  * so scans get Spark's vectorized parquet reader, pushdown, and
  * whole-stage codegen unchanged.
  *
  * Concurrency: optimistic — the version-numbered manifest is created
  * with an EXCLUSIVE create, so racing writers conflict (the second
  * committer deletes what it staged and gets
  * ConcurrentModificationException) instead of losing updates; see
  * [[publishSnapshot]]. Row-level deletes/updates come
  * in two shapes: copy-on-write rewrites of the touched files
  * ([[delete]]/[[update]]/[[merge]]) and merge-on-read delete vectors
  * that mask positions at read time until a fold
  * ([[deleteMor]]/[[updateMor]]/[[mergeMor]], [[foldDeletes]]). Schema
  * evolution is metadata-only ([[addColumn]]/[[dropColumn]]/
  * [[renameColumn]]).
  */
object Lake {

  /** `stats`: per-column (min, max) of the non-null values, string
    * encoded in the column's PARQUET primitive representation (dates
    * as epoch days, timestamps as micros) — collected from the file
    * footer at commit time and served to the data-skipping pruner
    * without reopening files. Empty for columns whose type has no
    * supported stats (nested, decimal). */
  /** `blooms`: optional per-file bloom filters for secondary-index
    * file skipping (the reference's BITMAP/BLOOMFILTER/NGRAMBF index
    * family applied at manifest granularity instead of per segment) —
    * key = "`ng<N>:<col>`" (n-gram bloom, serves `LIKE '%s%'`) or
    * "`val:<col>`" (whole-value bloom, serves point equality), value =
    * base64 bit array. Built/backfilled by [[BloomIndex.buildIndex]];
    * CoW rewrites DROP a rewritten file's blooms (conservative: a file
    * without a bloom is always kept by the pruner) until the next
    * backfill. */
  final case class LakeFile(path: String, sizeBytes: Long, modifiedMs: Long,
      rowCount: Long, partitionValues: Map[String, String],
      stats: Map[String, (String, String)] = Map.empty,
      blooms: Map[String, String] = Map.empty)

  /** `props`: free-form table properties carried snapshot-to-snapshot
    * (appends inherit, CoW rewrites inherit; an overwrite write resets
    * them — re-attach with [[setProps]]). Used for generated-column
    * specs (`generated.<col>` -> expr SQL); absent in older manifests.
    *
    * `dvFiles`: merge-on-read positional delete-vector sidecars (see
    * [[deleteMor]]) — parquet files of (`__file`, `__pos`) pairs naming
    * rows of THIS snapshot's data files that are logically deleted.
    * Readers mask them out ([[read]]); [[foldDeletes]] rewrites the
    * affected data files and clears the list. Appends inherit the
    * sidecars (the kept files' deletes still apply); an overwrite
    * resets them with everything else.
    *
    * `dvRecords`: per-sidecar record written at commit time — the
    * sidecar's row count and the decoded paths of the data files it
    * names (the tablet-metadata delete vector of the reference, which
    * tells a reader which segments carry deletes without a scan).
    * Readers plan the clean/dirty split ([[read]], [[changes]],
    * [[foldDeletes]]) and score compaction debt from it instead of
    * running a Spark job over the sidecars. A sidecar in `dvFiles`
    * without an entry (a manifest written before the record existed)
    * falls back to the old sidecar scan / footer read. Only entries of
    * sidecars still in `dvFiles` are serialized. */
  final case class Snapshot(version: Int, createdAtMs: Long, schemaJson: String,
      partitionCols: Seq[String], files: Seq[LakeFile],
      props: Map[String, String] = Map.empty,
      dvFiles: Seq[String] = Nil,
      dvRecords: Map[String, DvRecord] = Map.empty) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** A delete-vector sidecar's manifest record: how many positions it
    * masks and which data files (decoded filesystem paths, the
    * [[dvPathKey]] form) those positions fall in. */
  final case class DvRecord(rows: Long, files: Set[String])

  /** Merge properties into the current snapshot as a metadata-only
    * commit (null value removes a key). OCC via [[commitAmended]];
    * pass `expectVersion` to PIN the amendment to a specific data
    * commit — a concurrent commit landing in between then fails the
    * amend loudly instead of stamping the props onto someone else's
    * snapshot. */
  def setProps(spark: SparkSession, table: String,
      add: Map[String, String], expectVersion: Option[Int] = None): Int = {
    val v = expectVersion.getOrElse(currentVersion(spark, table))
    val snap = readSnapshot(spark, table, v)
    val merged = (snap.props ++ add).filter(_._2 != null)
    commitAmended(spark, table, snap.copy(props = merged))
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionFile(table: String) = new Path(s"$table/metadata/VERSION")
  private def manifestFile(table: String, v: Int) = new Path(s"$table/metadata/v$v.json")

  /** Unique data staging dir for version v: racing committers must not
    * collide on the DATA path — the manifest publish is the only
    * arbiter, and a loser deletes its own directory. */
  private def stagingDir(table: String, v: Int): String =
    s"$table/data/commit-$v-${java.util.UUID.randomUUID().toString.take(8)}"

  private val ManifestName = """v(\d+)\.json""".r

  /** Current committed version, 0 if the table does not exist yet.
    *
    * The MANIFEST CHAIN is authoritative — the exclusive create of
    * `vN.json` is the commit point, so the highest N IS the current
    * version. The VERSION file is only a cache: racing committers
    * replace it in any order, so trusting it alone would let a slow
    * older committer regress the table. Probing forward from it
    * closes that; a missing or unparsable cache falls back to the
    * manifest listing. */
  def currentVersion(spark: SparkSession, table: String): Int = {
    val f = fs(spark, table)
    val hint = AtomicPublish.read(spark, versionFile(table))
      .flatMap(b => new String(b, "UTF-8").trim.toIntOption).getOrElse(0)
    // O(lag) probe forward from a valid hint (the common case is lag
    // 0-1: two existence checks); the full O(#versions) listing runs
    // only when the hint file is missing or garbage — keeping every
    // read/write from paying a directory LIST proportional to table
    // age on an object store.
    if (hint > 0 && f.exists(manifestFile(table, hint))) {
      var v = hint
      while (f.exists(manifestFile(table, v + 1))) v += 1
      v
    } else {
      val metaDir = new Path(s"$table/metadata")
      val listed =
        if (!f.exists(metaDir)) 0
        else f.listStatus(metaDir).iterator.map(_.getPath.getName).collect {
          case ManifestName(n) => n.toInt
        }.foldLeft(0)(math.max)
      math.max(hint, listed)
    }
  }

  /** Commit a new snapshot. `mode` = "overwrite" (new snapshot contains
    * only this write's files) or "append" (previous snapshot's files
    * plus this write's). Returns the committed version. */
  def write(df: DataFrame, table: String, partitionCols: Seq[String],
      mode: String = "overwrite"): Int = {
    require(Seq("overwrite", "append").contains(mode), s"bad mode $mode")
    val spark = df.sparkSession
    val f = fs(spark, table)
    val prev = currentVersion(spark, table)
    val v = prev + 1
    val commitDir = stagingDir(table, v)

    val prevSnap = if (mode == "append" && prev > 0)
      Some(readSnapshot(spark, table, prev)) else None
    // appends address columns by their LOGICAL names; files keep the
    // stable PHYSICAL names, so map pending renames back before writing
    val dfPhys = prevSnap.map { ps =>
      renameMap(ps).foldLeft(df) { case (d, (phys, logical)) =>
        if (d.columns.contains(logical)) d.withColumnRenamed(logical, phys) else d }
    }.getOrElse(df)

    val writer = if (partitionCols.nonEmpty)
      dfPhys.write.partitionBy(partitionCols: _*) else dfPhys.write
    writer.mode("errorifexists").parquet(commitDir)

    // Manifest entries for the files just written: partition values are
    // parsed from the col=value path segments partitionBy produced;
    // per-file row counts come from the parquet footers (stats the
    // planner can serve without touching data pages).
    val newFiles = listCommitFiles(spark, commitDir)

    val files = prevSnap.map(_.files ++ newFiles).getOrElse(newFiles)
    // Snapshot schema: all fields nullable (Spark writes parquet fields
    // as optional, and add-column evolution surfaces pre-evolution files
    // as NULL — the vectorized reader REFUSES a missing column that the
    // requested schema marks required). Appends union-merge the previous
    // schema: old columns keep their position, new columns go last, and
    // a type change for an existing name is rejected (that would need a
    // rewrite, not a manifest update).
    val newSchema = StructType(dfPhys.schema.fields.map(_.copy(nullable = true)))
    val schema = prevSnap.map { ps =>
      val old = ps.schema
      for (of <- old.fields; nf <- newSchema.fields.find(_.name == of.name))
        require(nf.dataType == of.dataType,
          s"schema evolution cannot change ${of.name}: ${of.dataType} -> ${nf.dataType}")
      StructType(old.fields.map(_.copy(nullable = true)) ++
        newSchema.fields.filterNot(f => old.fieldNames.contains(f.name)))
    }.getOrElse(newSchema)
    // appends inherit table properties; a fresh overwrite starts
    // clean. EXCEPTION: a `generated.<c>` spec whose column `c` is
    // absent from this append's input is DROPPED — the appended files
    // surface NULL for it, so the spec's promise (column == expr) no
    // longer holds table-wide and a registered rewrite against it
    // would silently lose the appended rows. Append through
    // GeneratedColumns.append to keep specs materialized.
    val inherited = prevSnap.map(_.props).getOrElse(Map.empty).filter {
      case (k, _) if k.startsWith("generated.") =>
        dfPhys.schema.fieldNames.contains(k.stripPrefix("generated."))
      case _ => true
    }
    // appends also inherit pending delete vectors — the carried-over
    // files' deleted rows must stay deleted; a fresh overwrite resets.
    val snap = Snapshot(v, System.currentTimeMillis(), schema.json,
      partitionCols, files, inherited,
      prevSnap.map(_.dvFiles).getOrElse(Nil),
      prevSnap.map(_.dvRecords).getOrElse(Map.empty))
    publishSnapshot(spark, table, snap, Seq(commitDir))
  }

  /** Sort-key clustered write — the reference's table sort key /
    * prefix index (`docs/en/table_design/indexes/
    * Prefix_index_sort_key.md`: rows ordered by the key, a sparse
    * prefix index serves leading-column lookups). Spark-native form:
    * range-partition + sort on `sortCols`, so every file covers a
    * tight [min,max] box on the LEADING columns and the manifest
    * stats pruner answers a leading-key point/range predicate with
    * O(matching files) I/O. Works for any orderable type (strings
    * included — unlike [[zorderWrite]]'s numeric quantization), at
    * the cost of tight boxes only for the sort prefix; cluster on
    * the z-curve instead when several independent dimensions need
    * skipping at once. */
  def sortKeyWrite(df: DataFrame, table: String, sortCols: Seq[String],
      nFiles: Int, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty, "sortKeyWrite needs at least one sort column")
    val sc = sortCols.map(col)
    write(df.repartitionByRange(nFiles, sc: _*).sortWithinPartitions(sc: _*),
      table, partitionCols, mode)
  }

  /** Z-order clustered write (the Delta OPTIMIZE ZORDER / Iceberg
    * rewrite shape): rows are laid out along a Morton curve over
    * `zCols`, so every output file covers a tight hyper-rectangle in
    * ALL clustering dimensions at once and the stats pruner can skip
    * files for a predicate on ANY of them — linear sort order gives
    * tight min/max boxes only for its leading column.
    *
    * Mechanics: each column is linearly quantized to `bits` buckets
    * against its global [min,max] (one tiny agg — 2·|zCols| scalars to
    * the driver), bucket bits are interleaved into the Morton value,
    * and the data is range-partitioned + sorted on it; the z value is
    * dropped before writing. All scan-side codegen'd expressions — no
    * UDF, no extra shuffle beyond the one clustering exchange.
    * Numeric/date z-columns only. */
  def zorderWrite(df: DataFrame, table: String, zCols: Seq[String],
      nFiles: Int, bits: Int = 12, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.{col, floor, greatest, least, lit, max, min, shiftleft, shiftright}
    require(zCols.nonEmpty, "zorderWrite needs at least one z column")
    require(bits * zCols.size <= 62, s"bits=$bits x ${zCols.size} cols overflows long")
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val hi = (1L << bits) - 1
    val qs = zCols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
      if (mx > mn)
        least(greatest(
          floor((col(c).cast("double") - mn) / (mx - mn) * hi).cast("long"),
          lit(0L)), lit(hi))
      else lit(0L)
    }
    val z = (0 until bits).flatMap { b =>
      qs.zipWithIndex.map { case (q, i) =>
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * zCols.size + i)
      }
    }.reduce(_ bitwiseOR _)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    write(clustered, table, partitionCols, mode)
  }

  /** Manifest entries for the files under a commit dir: partition
    * values parsed from the col=value path segments partitionBy
    * produced; per-file row counts from the parquet footers (stats the
    * planner serves without touching data pages). */
  private def listCommitFiles(spark: SparkSession, commitDir: String): Seq[LakeFile] = {
    val f = fs(spark, commitDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = walkFiles(f, new Path(commitDir)).filter { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    // Footer reads are independent metadata round-trips; at 100k-file
    // commits a serial loop is minutes of driver wall on an object
    // store, so open them on a bounded pool (ordering restored by the
    // original listing index).
    val qualified = f.makeQualified(new Path(commitDir)).toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, statuses.size)))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[LakeFile]] =
        statuses.toSeq.map { st =>
          (() => {
            val rel = st.getPath.toString.stripPrefix(qualified).stripPrefix("/")
            // partitionBy writes Hive-ESCAPED dir segments ('%' -> %25,
            // ':' -> %3A, ...): store the LOGICAL value in the manifest
            // so pruning comparisons, CoW partition re-attachment, and
            // readers all see the user's value, and a re-write
            // re-escapes through partitionBy symmetrically.
            val pvals = rel.split("/").dropRight(1).flatMap { seg =>
              seg.split("=", 2) match {
                case Array(k, vl) => Some(k -> org.apache.spark.sql.catalyst
                  .catalog.ExternalCatalogUtils.unescapePathName(vl))
                case _ => None
              }
            }.toMap
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
            val (rows, stats) = try {
              (reader.getRecordCount, footerStats(reader.getFooter))
            } finally reader.close()
            LakeFile(st.getPath.toString, st.getLen,
              st.getModificationTime, rows, pvals, stats)
          }): java.util.concurrent.Callable[LakeFile]
        }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  /** Regular files under `dir`, recursively. Walks with `listStatus`
    * rather than `listFiles`: the latter builds a `LocatedFileStatus`,
    * which loads permissions — on the local FS without native Hadoop
    * that forks an `ls -ld` per file; `listStatus` never asks. */
  private def walkFiles(f: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[FileStatus] =
    f.listStatus(dir).toSeq.flatMap(st =>
      if (st.isDirectory) walkFiles(f, st.getPath) else Seq(st))

  /** Per-column (min, max) over all row groups of a file footer,
    * string-encoded. Supported primitives: INT32/INT64/FLOAT/DOUBLE/
    * BOOLEAN and UTF8-annotated BINARY; top-level (non-nested) columns
    * only. Columns without usable stats are omitted (pruner keeps the
    * file — conservative). */
  private def footerStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata
  ): Map[String, (String, String)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val acc = scala.collection.mutable.Map.empty[String, (String, String, Boolean)]
    var bad = Set.empty[String]
    footer.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { c =>
        val path = c.getPath.toArray
        if (path.length == 1) {
          val name = path(0)
          val pt = c.getPrimitiveType
          val s = c.getStatistics
          val enc: Option[(String, String)] =
            if (s == null || s.isEmpty || !s.hasNonNullValue) None
            else pt.getPrimitiveTypeName match {
              case INT32 | INT64 | FLOAT | DOUBLE | BOOLEAN =>
                Some((String.valueOf(s.genericGetMin), String.valueOf(s.genericGetMax)))
              case BINARY
                  if pt.getLogicalTypeAnnotation ==
                    LogicalTypeAnnotation.stringType() =>
                Some((
                  s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8,
                  s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8))
              case _ => None
            }
          enc match {
            case None => bad += name // one statless row group poisons the column
            case Some((mn, mx)) =>
              val merged = acc.get(name) match {
                case None => (mn, mx, true)
                case Some((pmn, pmx, _)) =>
                  val dt = pt.getPrimitiveTypeName
                  def less(a: String, b: String): Boolean = dt match {
                    case INT32 | INT64 => a.toLong < b.toLong
                    case FLOAT | DOUBLE => a.toDouble < b.toDouble
                    case BOOLEAN => a < b // "false" < "true"
                    case _ => a < b
                  }
                  (if (less(mn, pmn)) mn else pmn,
                    if (less(pmx, mx)) mx else pmx, true)
              }
              acc(name) = merged
          }
        }
      }
    }
    acc.view.filterKeys(!bad.contains(_))
      .map { case (k, (mn, mx, _)) => k -> (mn, mx) }.toMap
  }

  /** Copy-on-write UPDATE: SET-style column assignments applied to
    * rows matching `predicate`, by rewriting only the files that
    * contain at least one such row (same CoW shape and path handling
    * as [[delete]]; reference analog: UPDATE on a PRIMARY table,
    * `KeysModels.update`). Rows where the predicate is NULL are left
    * unmodified (SQL UPDATE semantics); assignments are cast to the
    * column's snapshot type so the schema never drifts. */
  def update(spark: SparkSession, table: String, predicate: Column,
      assignments: Map[String, Column]): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = foldIfPending(spark, table, readSnapshot(spark, table, prev))
    val schema = snap.schema
    assignments.keys.foreach { c =>
      require(schema.fieldNames.contains(c), s"unknown column $c")
      require(!snap.partitionCols.contains(c),
        s"cannot UPDATE partition column $c (that is a repartitioning rewrite)")
    }
    rewriteTouched(spark, table, snap, predicate,
      Some(invalidateGeneratedSpecs(snap.props, assignments.keySet))) { df =>
      df.select(schema.fields.toSeq.map { fd =>
        assignments.get(fd.name) match {
          case Some(a) => when(coalesce(predicate, lit(false)),
            a.cast(fd.dataType)).otherwise(col(fd.name)).as(fd.name)
          case None => col(fd.name)
        }
      }: _*)
    }
  }

  /** Copy-on-write DELETE: rows matching `predicate` are removed by
    * rewriting ONLY the data files that contain at least one matching
    * row — untouched files carry over into the new snapshot by manifest
    * reference (the Delta/Iceberg CoW shape; reference analog:
    * DELETE on a PRIMARY table, `KeysModels.delete` for the in-memory
    * form). SQL DELETE semantics: rows where the predicate is NULL are
    * kept. Old snapshots remain readable (data files are immutable).
    *
    * Scale: the touched-file discovery is one predicate scan projecting
    * only input_file_name() (collected file PATHS are manifest-scale,
    * driver-resident by design, never data rows); the rewrite reads and
    * writes only touched files, grouped by their manifest partition
    * values so partition columns re-attach as literals. Returns the new
    * version (or the current one when nothing matched). */
  def delete(spark: SparkSession, table: String, predicate: Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = foldIfPending(spark, table, readSnapshot(spark, table, prev))
    rewriteTouched(spark, table, snap, predicate)(
      _.filter(not(coalesce(predicate, lit(false)))))
  }

  /** Merge-on-read DELETE — the reference primary-key table's delete
    * vector path (`be/src/storage/del_vector.cpp`: deletes recorded as
    * positional bitmaps beside immutable segments, applied at read
    * time, folded in by compaction) re-expressed Spark-first. Where
    * copy-on-write [[delete]] rewrites every touched file — at 100 TB
    * a 0.01% GDPR-erasure delete can rewrite terabytes — this writes
    * ONE tiny sidecar of (file, row-position) pairs and commits a
    * manifest that lists it: write cost is O(matched rows), not
    * O(touched bytes). Readers mask the positions with a broadcast
    * anti-join ([[maskDeletes]]); [[foldDeletes]] (or any subsequent
    * CoW operation, which auto-folds) rewrites the affected files and
    * clears the vectors.
    *
    * SQL DELETE semantics ([[delete]] parity): NULL-predicate rows are
    * kept. Re-deleting already-masked rows finds no new positions and
    * commits nothing. Returns the new version (or the current one when
    * nothing matched). */
  def deleteMor(spark: SparkSession, table: String, predicate: Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = readSnapshot(spark, table, prev)
    val (raw, _) = indexedDataFrame(spark, table, snap)
    // tag positions FIRST, then mask pending deletes, so stacked calls
    // never record the same position twice
    val tagged = applyRenames(raw
      .withColumn("__graft_dv_file", col("_metadata.file_path"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index")), snap)
    val alive = if (snap.dvFiles.isEmpty) tagged
      else tagged.join(
        org.apache.spark.sql.functions.broadcast(dvReader(spark, snap)),
        Seq("__graft_dv_file", "__graft_dv_pos"), "left_anti")
    val v = prev + 1
    val sidecar =
      s"$table/deletes/dv-$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val (matched, rec) = writeSidecar(spark,
      alive.filter(coalesce(predicate, lit(false))), sidecar)
    if (matched == 0) { fs(spark, table).delete(new Path(sidecar), true); return prev }
    val snapNew = snap.copy(version = v,
      createdAtMs = System.currentTimeMillis(),
      dvFiles = snap.dvFiles :+ sidecar,
      dvRecords = snap.dvRecords ++ rec.map(sidecar -> _))
    publishSnapshot(spark, table, snapNew, Seq(sidecar))
  }

  /** Merge-on-read MERGE INTO (upsert) — the reference PRIMARY-KEY
    * table's write path (`be/src/storage/` primary index + DelVec:
    * a load appends new segments and marks replaced positions
    * deleted, no segment rewrite): source rows REPLACE key-matched
    * target rows and the rest INSERT, committed as ONE snapshot that
    * appends the source as new data files and records the replaced
    * positions in a delete-vector sidecar. Cost is O(matched + new
    * rows) regardless of how many files the matches touch — where
    * copy-on-write [[merge]] rewrites every touched file, this
    * rewrites none; reads mask the replaced positions until
    * [[foldDeletes]]/compaction. Source must be key-distinct.
    *
    * The three reference primary-key LOAD modes
    * (`docs/en/loading/Load_to_Primary_Key_tables.md`) ride the same
    * commit:
    *  - `opCol` — the `__op` field (doc §"UPSERT and DELETE", lines
    *    40-46): 0/NULL = UPSERT, 1 = DELETE; the column never lands in
    *    the table. A key must carry ONE op per batch.
    *  - `mergeCondition` — conditional update (doc §"Conditional
    *    updates"): a matched source row lands only when its value in
    *    that non-key column is >= the target row's (out-of-order
    *    protection; a NULL source value never wins; DELETEs are
    *    unconditional per the doc).
    *  - `partialUpdate` — row-mode partial update (doc §"Partial
    *    updates"): the source carries the keys plus a SUBSET of
    *    columns; matched rows keep their current values for the
    *    unprovided columns (fetched from the one masked target scan),
    *    inserts get NULL there. Provided-NULL wins, matching
    *    `KeysModels` partial-upsert semantics. Partition columns must
    *    be provided.
    *  - `autoEvolve` — load-triggered schema change: source columns
    *    the table lacks ADD COLUMN (metadata-only) before the load;
    *    off by default (extra columns are ignored).
    *
    * Scale: the target is scanned ONCE, semi-joined down to the
    * touched-key slice (O(batch) rows, pinned), which then serves the
    * condition lookup, the partial-column fill, and the delete-vector
    * positions; the batch side is broadcast-bound (a load batch, not a
    * table). Returns the committed version (or the current one when
    * the batch lands nothing). */
  def mergeMor(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], opCol: Option[String] = None,
      mergeCondition: Option[String] = None,
      partialUpdate: Boolean = false,
      autoEvolve: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    // schema evolution on load (the reference's load-triggered schema
    // change): source columns the table lacks become metadata-only
    // ADD COLUMNs first — old files read them as NULL, this load's
    // files carry them. Without the flag extra source columns are
    // ignored (the safe default: a typo must not mutate the schema).
    if (autoEvolve) {
      val known = logicalNames(currentSnap(spark, table)).toSet ++ opCol
      source.schema.fields.filterNot(f => known.contains(f.name))
        .foreach(f => addColumn(spark, table, f.name, f.dataType))
    }
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = readSnapshot(spark, table, prev)
    val logical = logicalNames(snap)
    keys.foreach(k => require(logical.contains(k), s"unknown key $k"))
    val ren = renameMap(snap) // physical -> logical
    val phys = snap.schema
    val logicalOf = (p: String) => ren.getOrElse(p, p)

    // __op split: 0/NULL upserts, 1 deletes; anything else is an error
    val (upsSrc, delKeys) = opCol match {
      case None => (source, None)
      case Some(c) =>
        require(source.columns.contains(c), s"missing op column $c")
        require(!logical.contains(c),
          s"op column $c collides with a table column")
        // 0/NULL = upsert, 1 = delete; anything else — including a
        // value that fails the int cast ('delete', 'd') — is an error,
        // never a silent drop or a delete applied as an upsert
        val rawOp = col(c).cast("int")
        require(source.filter((col(c).isNotNull && rawOp.isNull) ||
            (rawOp.isNotNull && rawOp =!= 0 && rawOp =!= 1)).isEmpty,
          s"op column $c must be 0 (upsert), 1 (delete), or NULL")
        val op = coalesce(rawOp, lit(0))
        val ups = source.filter(op === 0).drop(c)
        val dels = source.filter(op === 1)
          .select(keys.map(col): _*).distinct().localCheckpoint(true)
        (ups, Some(dels))
    }
    mergeCondition.foreach(c => require(
      logical.contains(c) && !keys.contains(c),
      s"merge condition must be a non-key table column, got $c"))

    // the logical columns the batch provides; full mode = all of them
    val allLogical = phys.fields.toSeq.map(fd => logicalOf(fd.name))
    val provided: Seq[String] =
      if (!partialUpdate) allLogical
      else {
        val p = allLogical.filter(upsSrc.columns.contains)
        keys.foreach(k => require(p.contains(k), s"source missing key $k"))
        snap.partitionCols.foreach(pc => require(p.contains(logicalOf(pc)),
          s"partial update must provide partition column ${logicalOf(pc)}"))
        p
      }
    mergeCondition.foreach(c => require(provided.contains(c),
      s"source must provide the merge-condition column $c"))
    val typeOf = phys.fields.toSeq
      .map(fd => (logicalOf(fd.name), fd.dataType)).toMap
    // source arrives under logical names: cast to the table's types
    val srcTyped = upsSrc.select(provided.map(lg =>
      col(lg).cast(typeOf(lg)).as(lg)): _*)
    val upsKeys = srcTyped.select(keys.map(col): _*).distinct()
      .localCheckpoint(true)
    delKeys.foreach(dk => require(
      upsKeys.join(dk, keys, "left_semi").isEmpty,
      "a key carries both UPSERT and DELETE in one batch"))
    val touchKeys = delKeys.fold(upsKeys)(dk => upsKeys.unionByName(dk))

    // ONE masked target scan, shrunk to the touched-key slice
    val (raw, _) = indexedDataFrame(spark, table, snap)
    val tagged = applyRenames(raw
      .withColumn("__graft_dv_file", col("_metadata.file_path"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index")), snap)
    val alive = if (snap.dvFiles.isEmpty) tagged
      else tagged.join(broadcast(dvReader(spark, snap)),
        Seq("__graft_dv_file", "__graft_dv_pos"), "left_anti")
    val needOld = mergeCondition.isDefined || partialUpdate
    val touchedRaw = alive.join(broadcast(touchKeys), keys, "left_semi")
    // featured paths reuse the slice three ways — pin it (O(batch) rows)
    val touched = if (needOld) touchedRaw.localCheckpoint(true) else touchedRaw

    // conditional update: matched rows lose unless src.cond >= tgt.cond
    val accepted = mergeCondition match {
      case None => srcTyped
      case Some(c) =>
        val tgtCond = touched.select(
          (keys.map(col) :+ col(c).as("__graft_tgt_cond")): _*)
        srcTyped.join(broadcast(tgtCond), keys, "left")
          .filter(col("__graft_tgt_cond").isNull ||
            col(c) >= col("__graft_tgt_cond"))
          .drop("__graft_tgt_cond")
    }
    // partial update: carry unprovided columns from the matched row
    val unprovided = allLogical.filterNot(provided.contains)
    val upsFull =
      if (unprovided.isEmpty) accepted.select(allLogical.map(col): _*)
      else {
        val oldVals = touched.select((keys ++ unprovided).map(col): _*)
        accepted.join(broadcast(oldVals), keys, "left")
          .select(allLogical.map(col): _*)
      }
    val srcPhys = ren.foldLeft(upsFull) { case (d, (p, lg)) =>
      if (d.columns.contains(lg)) d.withColumnRenamed(lg, p) else d }

    // replaced/deleted positions: accepted upsert keys + delete keys
    val acceptedKeys =
      if (mergeCondition.isEmpty) upsKeys
      else accepted.select(keys.map(col): _*).distinct()
    val dvKeys = delKeys.fold(acceptedKeys)(dk =>
      acceptedKeys.unionByName(dk))
    val v = prev + 1
    val sidecar =
      s"$table/deletes/dv-$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val (matched, rec) = writeSidecar(spark,
      touched.join(broadcast(dvKeys), keys, "left_semi"), sidecar)
    if (matched == 0) fs(spark, table).delete(new Path(sidecar), true)

    // append the accepted rows as new data files (physical names)
    val commitDir = stagingDir(table, v)
    val writer = if (snap.partitionCols.nonEmpty)
      srcPhys.write.partitionBy(snap.partitionCols: _*) else srcPhys.write
    writer.mode("errorifexists").parquet(commitDir)
    val newFiles = listCommitFiles(spark, commitDir).filter(_.rowCount > 0)
    if (newFiles.isEmpty) fs(spark, table).delete(new Path(commitDir), true)
    if (matched == 0 && newFiles.isEmpty) return prev

    val snapNew = snap.copy(version = v,
      createdAtMs = System.currentTimeMillis(),
      files = snap.files ++ newFiles,
      dvFiles = if (matched == 0) snap.dvFiles else snap.dvFiles :+ sidecar,
      dvRecords = if (matched == 0) snap.dvRecords
        else snap.dvRecords ++ rec.map(sidecar -> _),
      // load-provided columns carry arbitrary values (upserted and
      // inserted rows alike) — specs over them are no longer promises
      props = invalidateGeneratedSpecs(snap.props, provided.toSet))
    publishSnapshot(spark, table, snapNew, Seq(sidecar, commitDir))
  }

  /** Merge-on-read UPDATE: rows matching `predicate` get their
    * positions delete-vectored and their re-computed images appended
    * as new files — the reference primary-key UPDATE landing through
    * the DelVec path (an UPDATE is a load of the new row versions;
    * `be/src/storage/del_vector.cpp`). Where copy-on-write [[update]]
    * rewrites every touched file, this writes O(matched rows): at
    * 100 TB a point update costs KBs, not the touched gigabytes.
    * NULL-predicate rows are untouched (SQL UPDATE semantics);
    * assignments cast to the snapshot type so the schema never
    * drifts. Partition-column assignment is allowed (the new image
    * just lands in its new partition — no repartitioning rewrite
    * exists in MoR). Returns the new version (or the current one when
    * nothing matched). */
  def updateMor(spark: SparkSession, table: String, predicate: Column,
      assignments: Map[String, Column]): Int = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = readSnapshot(spark, table, prev)
    val ren = renameMap(snap)
    val logicalOf = (p: String) => ren.getOrElse(p, p)
    val logical = logicalNames(snap)
    assignments.keys.foreach(c =>
      require(logical.contains(c), s"unknown column $c"))
    val (raw, _) = indexedDataFrame(spark, table, snap)
    val tagged = applyRenames(raw
      .withColumn("__graft_dv_file", col("_metadata.file_path"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index")), snap)
    val alive = if (snap.dvFiles.isEmpty) tagged
      else tagged.join(broadcast(dvReader(spark, snap)),
        Seq("__graft_dv_file", "__graft_dv_pos"), "left_anti")
    // pin the matched slice so positions and new images agree by
    // construction (one scan; O(matched) rows resident)
    val matchedRows = alive.filter(coalesce(predicate, lit(false)))
      .localCheckpoint(true)
    val v = prev + 1
    val sidecar =
      s"$table/deletes/dv-$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val (matched, rec) = writeSidecar(spark, matchedRows, sidecar)
    if (matched == 0) { fs(spark, table).delete(new Path(sidecar), true); return prev }
    val images = matchedRows.select(snap.schema.fields.toSeq.map { fd =>
      val lg = logicalOf(fd.name)
      assignments.get(lg) match {
        case Some(a) => a.cast(fd.dataType).as(fd.name)
        case None => col(lg).as(fd.name)
      }
    }: _*)
    val commitDir = stagingDir(table, v)
    val writer = if (snap.partitionCols.nonEmpty)
      images.write.partitionBy(snap.partitionCols: _*) else images.write
    writer.mode("errorifexists").parquet(commitDir)
    val snapNew = snap.copy(version = v,
      createdAtMs = System.currentTimeMillis(),
      files = snap.files ++ listCommitFiles(spark, commitDir),
      dvFiles = snap.dvFiles :+ sidecar,
      dvRecords = snap.dvRecords ++ rec.map(sidecar -> _),
      props = invalidateGeneratedSpecs(snap.props, assignments.keySet))
    publishSnapshot(spark, table, snapNew, Seq(sidecar, commitDir))
  }

  /** Fold pending delete vectors into the data: rewrite ONLY the files
    * that actually carry deleted positions (masked through the same
    * manifest-backed index the vectors were recorded against, so the
    * file-path representation matches by construction), carry every
    * clean file into the new snapshot by reference, and clear
    * `dvFiles`. The reference's compaction applying accumulated
    * DelVecs to produce clean segments. Old snapshots keep their
    * sidecars and stay readable; [[vacuum]] GCs unreferenced sidecars.
    * Returns the new version (or the current one when no vectors are
    * pending). */
  def foldDeletes(spark: SparkSession, table: String): Int = {
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = readSnapshot(spark, table, prev)
    if (snap.dvFiles.isEmpty) return prev
    val dvPaths = dvDirtyPaths(spark, snap)
    val (rewrite, keep) = snap.files.partition(fl =>
      dvPaths.contains(new Path(fl.path).toUri.getPath))
    val v = prev + 1
    if (rewrite.isEmpty) {
      // every entry references an expired file — metadata-only clear
      val snapNew = snap.copy(version = v,
        createdAtMs = System.currentTimeMillis(), dvFiles = Nil,
        dvRecords = Map.empty,
        props = snap.props + (s"commit.op.v$v" -> "fold"))
      return publishSnapshot(spark, table, snapNew)
    }
    val commitDir = stagingDir(table, v)
    // read the dirty files through the SAME LakeFileIndex machinery the
    // mask uses (partition values re-attached from the manifest), apply
    // the mask, write clean replacements
    val sub = snap.copy(files = rewrite)
    val (dirty, _) = indexedDataFrame(spark, table, sub)
    val cleaned = maskDeletes(spark, dirty, sub)
      .select(snap.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    val writer = if (snap.partitionCols.nonEmpty)
      cleaned.write.partitionBy(snap.partitionCols: _*) else cleaned.write
    writer.mode("errorifexists").parquet(commitDir)
    // the commit.op marker says "logical no-op, files rewritten" — the
    // change feed ([[changes]]) walks past it instead of failing
    val snapNew = Snapshot(v, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, keep ++ listCommitFiles(spark, commitDir),
      snap.props + (s"commit.op.v$v" -> "fold"))
    publishSnapshot(spark, table, snapNew, Seq(commitDir))
  }

  /** CoW operations and compaction read data files RAW (their file
    * rewrites bypass the mask), so a table with pending delete vectors
    * folds them first — one bounded rewrite of the dirty files, after
    * which the raw reads are correct. Pending column renames
    * materialize too ([[renameColumn]]): the CoW machinery binds
    * predicates and schemas by name, and one explicit rewrite is
    * cheaper to reason about than threading a name map through every
    * rewrite path. */
  private def foldIfPending(spark: SparkSession, table: String,
      snap: Snapshot): Snapshot = {
    val s1 = if (snap.dvFiles.isEmpty) snap
      else readSnapshot(spark, table, foldDeletes(spark, table))
    if (!s1.props.keys.exists(_.startsWith("rename."))) s1
    else readSnapshot(spark, table, materializeRenames(spark, table, s1))
  }

  // ---------------------------------------------------------------------
  // Fast schema evolution — metadata-only ALTER TABLE (the reference's
  // fast schema evolution: ADD/DROP/RENAME COLUMN are FE catalog
  // operations, no data rewrite; docs/en/sql-reference ALTER_TABLE).
  // ---------------------------------------------------------------------

  /** ADD COLUMN: metadata-only — the new nullable field joins the
    * snapshot schema; every existing file simply surfaces NULL for it
    * (the same mechanism append-evolution uses). */
  def addColumn(spark: SparkSession, table: String, name: String,
      dt: DataType): Int = {
    val snap = currentSnap(spark, table)
    require(!snap.schema.fieldNames.contains(name), s"column $name exists")
    val schema = StructType(snap.schema.fields :+
      org.apache.spark.sql.types.StructField(name, dt, nullable = true))
    commitAmended(spark, table, snap.copy(schemaJson = schema.json))
  }

  /** DROP COLUMN: metadata-only — the field leaves the snapshot
    * schema; data files keep the physical column, the parquet scan
    * just never projects it, and the next rewrite of each file sheds
    * it physically. Time travel to pre-drop versions still sees it. */
  def dropColumn(spark: SparkSession, table: String, name: String): Int = {
    val snap = currentSnap(spark, table)
    require(snap.schema.fieldNames.contains(name), s"unknown column $name")
    require(!snap.partitionCols.contains(name),
      s"cannot drop partition column $name")
    val schema = StructType(snap.schema.fields.filterNot(_.name == name))
    require(schema.fields.nonEmpty, "cannot drop the last column")
    // a generated-column spec for (or defined over) the dropped column
    // no longer holds — drop those specs with it
    val props = snap.props.filterNot { case (k, v) =>
      (k.startsWith("generated.") &&
        (k.stripPrefix("generated.") == name || referencesColumn(v, name))) ||
      (k.startsWith("rename.") && k.stripPrefix("rename.") == name)
    }
    commitAmended(spark, table,
      snap.copy(schemaJson = schema.json, props = props))
  }

  /** RENAME COLUMN: metadata-only — the manifest schema keeps the
    * PHYSICAL (on-file) name; a `rename.<physical> = <logical>` table
    * property renders it under the new name at the read boundary
    * ([[applyRenames]]) and appends map it back ([[write]]). Pruning,
    * stats, and blooms keep working untouched: pushed filters resolve
    * through the projection to the physical attribute. CoW operations
    * materialize pending renames first (one rewrite, [[foldIfPending]])
    * so their name-bound machinery stays simple. */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Int = {
    val snap = currentSnap(spark, table)
    val logical = logicalNames(snap)
    require(logical.contains(from), s"unknown column $from")
    require(!logical.contains(to), s"column $to exists")
    require(!snap.partitionCols.contains(from),
      s"cannot rename partition column $from")
    // physical name behind `from` (it may itself be a pending rename)
    val phys = snap.props.find { case (k, v) =>
      k.startsWith("rename.") && v == from }
      .map(_._1.stripPrefix("rename.")).getOrElse(from)
    commitAmended(spark, table,
      snap.copy(props = snap.props + (s"rename.$phys" -> to)))
  }

  private def currentSnap(spark: SparkSession, table: String): Snapshot = {
    val v = currentVersion(spark, table)
    require(v > 0, s"no committed version at $table")
    readSnapshot(spark, table, v)
  }

  /** The table's user-visible column names (renames applied). */
  private def logicalNames(snap: Snapshot): Seq[String] = {
    val ren = renameMap(snap)
    snap.schema.fieldNames.toSeq.map(n => ren.getOrElse(n, n))
  }

  /** physical -> logical pending renames. */
  private def renameMap(snap: Snapshot): Map[String, String] =
    snap.props.collect { case (k, v) if k.startsWith("rename.") =>
      k.stripPrefix("rename.") -> v }

  /** Render a physical-schema DataFrame under the logical names. */
  private def applyRenames(df: DataFrame, snap: Snapshot): DataFrame = {
    val ren = renameMap(snap)
    if (ren.isEmpty) df
    else ren.foldLeft(df) { case (d, (phys, logical)) =>
      d.withColumnRenamed(phys, logical) }
  }

  /** One-time rewrite that bakes pending renames into the files and
    * clears the `rename.*` props — called lazily by CoW operations. */
  private def materializeRenames(spark: SparkSession, table: String,
      snap: Snapshot): Int = {
    val ren = renameMap(snap)
    if (ren.isEmpty) return snap.version
    val (raw, _) = indexedDataFrame(spark, table, snap)
    val renamed = applyRenames(raw, snap)
    val newSchema = StructType(snap.schema.fields.map(f =>
      f.copy(name = ren.getOrElse(f.name, f.name))))
    val v = snap.version + 1
    val commitDir = stagingDir(table, v)
    val writer = if (snap.partitionCols.nonEmpty)
      renamed.write.partitionBy(snap.partitionCols: _*) else renamed.write
    writer.mode("errorifexists").parquet(commitDir)
    val snapNew = Snapshot(v, System.currentTimeMillis(), newSchema.json,
      snap.partitionCols, listCommitFiles(spark, commitDir),
      snap.props.filterNot(_._1.startsWith("rename.")), snap.dvFiles,
      snap.dvRecords)
    publishSnapshot(spark, table, snapNew, Seq(commitDir))
  }

  /** Copy-on-write MERGE INTO (full-row upsert semantics, the lake
    * form of `KeysModels.mergeInto` / the reference's primary-key
    * load into a lake table): source rows whose `keys` match an
    * existing target row REPLACE that row; the rest are INSERTED.
    * Only data files containing a matched key are rewritten — touched
    * files are found with one broadcast semi-join of the source keys
    * against the target scan (no driver-side key collection, so the
    * source can be arbitrarily large; file PATHS are manifest-scale
    * and driver-resident by design). Untouched files carry into the
    * new snapshot by reference; an insert-only merge rewrites nothing
    * and just appends. A matched row whose source partition value
    * differs simply moves partitions (full-row replace; unlike
    * [[update]] there is no fixed-column constraint). Source must be
    * key-distinct — duplicate source keys would both survive.
    * Returns the committed new version. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lit}
    val prev0 = currentVersion(spark, table)
    require(prev0 > 0, s"no committed version at $table")
    val snap = foldIfPending(spark, table, readSnapshot(spark, table, prev0))
    val prev = snap.version
    val schema = snap.schema
    keys.foreach(k => require(schema.fieldNames.contains(k), s"unknown key $k"))
    val src = source.select(schema.fieldNames.toSeq.map(n =>
      col(n).cast(schema.fields.find(_.name == n).get.dataType).as(n)): _*)
    val dataSchema = StructType(
      schema.fields.filterNot(fd => snap.partitionCols.contains(fd.name)))

    // input_file_name() rejects plans with two FILE sources: pin the
    // (small, broadcast-bound) distinct source keys as an in-memory
    // relation so the target scan stays the only file source — and
    // stays streaming; the key set is the same size as the broadcast
    val srcKeys = src.select(keys.map(col): _*).distinct().localCheckpoint(true)
    val touched = read(spark, table)
      .join(broadcast(srcKeys), keys, "left_semi")
      .select(input_file_name().as("__f")).distinct()
      .collect().map(r => java.net.URLDecoder.decode(
        new Path(r.getString(0)).toUri.getPath, "UTF-8")).toSet
    val (rewrite, keep) = snap.files.partition(fl =>
      touched.contains(new Path(fl.path).toUri.getPath))

    val v = prev + 1
    val commitDir = stagingDir(table, v)
    // surviving target rows from touched files (matched keys dropped,
    // replaced by their source row below) + every source row
    val survivors = rewrite.groupBy(_.partitionValues).map { case (pvals, fls) =>
      var df = spark.read.schema(dataSchema).parquet(fls.map(_.path): _*)
      for (c <- snap.partitionCols) {
        val dt = schema.fields.find(_.name == c).get.dataType
        df = df.withColumn(c, lit(pvals(c)).cast(dt))
      }
      df.select(schema.fieldNames.map(col).toSeq: _*)
    }.reduceOption(_ unionByName _)
      .map(_.join(broadcast(srcKeys), keys, "left_anti"))
    val out = survivors.map(_.unionByName(src)).getOrElse(src)
    val writer = if (snap.partitionCols.nonEmpty)
      out.write.partitionBy(snap.partitionCols: _*) else out.write
    writer.mode("errorifexists").parquet(commitDir)

    val snapNew = Snapshot(v, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, keep ++ listCommitFiles(spark, commitDir),
      // whole-row replacement from the source: every column is
      // effectively assigned, so no generated spec survives
      invalidateGeneratedSpecs(snap.props, schema.fieldNames.toSet))
    publishSnapshot(spark, table, snapNew, Seq(commitDir))
  }

  /** Small-file compaction (the reference's background compaction job,
    * `be/src/storage/compaction_task.cpp`, for a lake table): within
    * each partition, files under `smallFileBytes` are rewritten into
    * ~`targetFileBytes` outputs; files already large enough — and
    * partitions with only one small file — carry into the new snapshot
    * by reference. Pure manifest surgery + bounded rewrite: row data is
    * byte-identical, old snapshots stay readable, and readers flip at
    * the manifest publish like any commit. Returns the new version (or
    * the current one when nothing needed compacting). */
  def compact(spark: SparkSession, table: String,
      smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val prev0 = currentVersion(spark, table)
    require(prev0 > 0, s"no committed version at $table")
    val snap = foldIfPending(spark, table, readSnapshot(spark, table, prev0))
    val prev = snap.version
    val schema = snap.schema
    val dataSchema = StructType(
      schema.fields.filterNot(fd => snap.partitionCols.contains(fd.name)))
    val (small, big) = snap.files.partition(_.sizeBytes < smallFileBytes)
    val groups = small.groupBy(_.partitionValues).filter(_._2.size >= 2)
    if (groups.isEmpty) return prev
    val keep = big ++ small.filterNot(fl => groups.contains(fl.partitionValues))

    val v = prev + 1
    val commitDir = stagingDir(table, v)
    val rebuilt = groups.map { case (pvals, fls) =>
      val nOut = math.max(1,
        math.ceil(fls.map(_.sizeBytes).sum.toDouble / targetFileBytes).toInt)
      var df = spark.read.schema(dataSchema)
        .parquet(fls.map(_.path): _*).coalesce(nOut)
      for (c <- snap.partitionCols) {
        val dt = schema.fields.find(_.name == c).get.dataType
        df = df.withColumn(c, lit(pvals(c)).cast(dt))
      }
      df.select(schema.fieldNames.map(col).toSeq: _*)
    }.reduce(_ unionByName _)
    val writer = if (snap.partitionCols.nonEmpty)
      rebuilt.write.partitionBy(snap.partitionCols: _*) else rebuilt.write
    writer.mode("errorifexists").parquet(commitDir)

    // logical no-op marker: the change feed walks past this commit
    val snapNew = Snapshot(v, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, keep ++ listCommitFiles(spark, commitDir),
      snap.props + (s"commit.op.v$v" -> "compact"))
    publishSnapshot(spark, table, snapNew, Seq(commitDir))
  }

  /** A table's compaction debt, manifest/footer reads only (no data
    * scan): file counts, small-file count, and merge-on-read
    * delete-vector rows vs total rows. */
  final case class CompactionScore(files: Int, smallFiles: Int,
      dvRows: Long, totalRows: Long) {
    /** Fraction of stored rows that are delete-vector-masked. */
    def dvRatio: Double =
      if (totalRows == 0L) 0.0 else dvRows.toDouble / totalRows
  }

  /** Score the current snapshot's compaction debt — the
    * manifest-side analog of the reference's compaction scheduling
    * (`be/src/storage/compaction_manager.cpp` picks tablets by
    * compaction score — segment count — in descending order;
    * `compaction_candidate.h:62-64`): small-file count drives the
    * rewrite-worthiness, delete-vector rows the fold-worthiness. */
  def compactionScore(spark: SparkSession, table: String,
      smallFileBytes: Long = 32L << 20): CompactionScore = {
    val snap = currentSnap(spark, table)
    // recorded sidecars answer from the manifest; footers only for
    // sidecars committed before the record existed
    val dvRows = snap.dvFiles.map(d => snap.dvRecords.get(d).map(_.rows)
      .getOrElse(listCommitFiles(spark, d).map(_.rowCount).sum)).sum
    CompactionScore(snap.files.size,
      snap.files.count(_.sizeBytes < smallFileBytes),
      dvRows, snap.files.map(_.rowCount).sum)
  }

  /** Policy-driven maintenance — the reference's BACKGROUND
    * compaction loop expressed as one idempotent call a scheduler
    * (or a streaming sink's batch hook) invokes after loads: when
    * the small-file count reaches `minSmallFiles`, [[compact]] (which
    * also folds pending delete vectors); otherwise, when the
    * delete-vector row ratio exceeds `maxDvRatio`, [[foldDeletes]]
    * alone (the bounded dirty-file rewrite). Below both thresholds
    * nothing runs — sustained MoR ingest pays compaction only when
    * the debt is real. Returns the new version, or None when no
    * action was warranted. */
  def maybeCompact(spark: SparkSession, table: String,
      smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20,
      minSmallFiles: Int = 4,
      maxDvRatio: Double = 0.05): Option[Int] = {
    val score = compactionScore(spark, table, smallFileBytes)
    val before = currentVersion(spark, table)
    // compact can be a structural no-op (small files spread one per
    // partition) — only report an action when a version actually
    // committed, falling through to the fold check otherwise
    if (score.smallFiles >= minSmallFiles) {
      val v = compact(spark, table, smallFileBytes, targetFileBytes)
      if (v != before) return Some(v)
    }
    if (score.dvRatio > maxDvRatio) {
      val b2 = currentVersion(spark, table)
      val v = foldDeletes(spark, table)
      if (v != b2) Some(v) else None
    } else None
  }

  /** Partition retention (TTL enforcement — the reference's dynamic
    * partition DROP): commit a new snapshot WITHOUT the files whose
    * `partCol` value fails `keep`. A pure manifest operation — no data
    * file is read, rewritten, or deleted, so the commit is O(#files)
    * metadata regardless of table size, expired partitions stay
    * reachable through time travel, and a later vacuum can GC the
    * unreferenced files. */
  def expirePartitions(spark: SparkSession, table: String, partCol: String,
      keep: String => Boolean): Int = {
    val prev = currentVersion(spark, table)
    require(prev > 0, s"no committed version at $table")
    val snap = readSnapshot(spark, table, prev)
    require(snap.partitionCols.contains(partCol),
      s"$partCol is not a partition column of $table")
    val kept = snap.files.filter(f => keep(f.partitionValues(partCol)))
    if (kept.size == snap.files.size) return prev
    require(kept.nonEmpty, "retention would drop every partition")
    val v = prev + 1
    // delete-vector entries for expired files go dead but stay listed:
    // the mask anti-join simply never matches them, and foldDeletes
    // ignores entries whose file left the snapshot.
    val snapNew = Snapshot(v, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, kept, snap.props, snap.dvFiles, snap.dvRecords)
    publishSnapshot(spark, table, snapNew)
  }

  /** Vacuum: physically delete data files referenced by NO retained
    * snapshot, then drop the expired manifests — the GC step after
    * retention/compaction/CoW rewrites. `retainLast` snapshots keep
    * their time-travel guarantee; older versions become unreadable by
    * design. Listing + deletes are metadata-rate operations. */
  def vacuum(spark: SparkSession, table: String, retainLast: Int = 1): Int = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val current = currentVersion(spark, table)
    require(current > 0, s"no committed version at $table")
    val f = fs(spark, table)
    val keepVersions = (math.max(1, current - retainLast + 1) to current).toSeq
    val referenced = keepVersions
      .flatMap(v => readSnapshot(spark, table, v).files.map(_.path)).toSet
    val dataDir = new Path(s"$table/data")
    var removed = 0
    if (f.exists(dataDir)) {
      val toDelete = walkFiles(f, dataDir).map(_.getPath).filter(p =>
        p.getName.endsWith(".parquet") &&
          !referenced.contains(p.toString) &&
          !referenced.contains(p.toUri.getPath))
      toDelete.foreach { p => if (f.delete(p, false)) removed += 1 }
    }
    // delete-vector sidecar GC: a sidecar dir referenced by no retained
    // snapshot (folded away, or its snapshot expired) is dead weight.
    // Sidecar names are uuid-unique, so name-match is exact.
    val refDvNames = keepVersions
      .flatMap(v => readSnapshot(spark, table, v).dvFiles)
      .map(p => new Path(p).getName).toSet
    val delDir = new Path(s"$table/deletes")
    if (f.exists(delDir)) {
      f.listStatus(delDir).foreach { st =>
        if (!refDvNames.contains(st.getPath.getName) &&
            f.delete(st.getPath, true)) removed += 1
      }
    }
    (1 until keepVersions.head).foreach { v =>
      f.delete(manifestFile(table, v), false)
    }
    removed
  }

  /** Rollback: make `toVersion`'s file set the CURRENT snapshot by
    * committing it as a new version — history stays append-only (the
    * bad version remains inspectable), readers flip atomically, and
    * no data moves: a manifest copy, O(#files) metadata. */
  def rollback(spark: SparkSession, table: String, toVersion: Int): Int = {
    val current = currentVersion(spark, table)
    require(toVersion >= 1 && toVersion <= current,
      s"rollback target $toVersion outside [1, $current]")
    val snap = readSnapshot(spark, table, toVersion)
    val v = current + 1
    val snapNew = Snapshot(v, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, snap.files, snap.props, snap.dvFiles, snap.dvRecords)
    publishSnapshot(spark, table, snapNew)
  }

  /** Table clone (backup/restore): copy the CURRENT snapshot's data
    * files and commit them as version 1 of `dst` — a full physical
    * backup whose history starts fresh. File copies are the only data
    * IO; a same-filesystem deployment could hard-link instead. */
  def clone(spark: SparkSession, src: String, dst: String): Int = {
    val prev = currentVersion(spark, src)
    require(prev > 0, s"no committed version at $src")
    val snap = readSnapshot(spark, src, prev)
    val f = fs(spark, dst)
    val conf = spark.sparkContext.hadoopConfiguration
    // Manifest paths are fully qualified (e.g. "file:/tmp/src/data/..."),
    // so relativize against the QUALIFIED source root the way
    // listCommitFiles does; a plain stripPrefix(s"$src/") would never
    // match and the clone would embed the absolute source path (and an
    // illegal ':' path segment on HDFS).
    val qualifiedSrc = fs(spark, src).makeQualified(new Path(src)).toString
    val copied = snap.files.map { fl =>
      val srcPath = new Path(fl.path)
      val rel = fl.path.stripPrefix(s"$qualifiedSrc/").stripPrefix(s"$src/")
      require(!rel.contains(":"),
        s"clone could not relativize ${fl.path} against $qualifiedSrc")
      val dstPath = new Path(s"$dst/$rel")
      f.mkdirs(dstPath.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        srcPath.getFileSystem(conf), srcPath, f, dstPath, false, conf)
      // store the QUALIFIED path (like listCommitFiles does) so
      // _metadata.file_path at read time matches the rewritten
      // delete-vector entries
      fl.copy(path = f.makeQualified(dstPath).toString)
    }
    // pending delete vectors travel with the clone: copy each sidecar,
    // rewriting its file references from the source root to the
    // destination root. Sidecar __graft_dv_file values are the
    // PERCENT-ENCODED _metadata.file_path rendering (a space is %20,
    // a literal '%' is %25) — so the prefix being replaced must be
    // the metaRendering form of the roots, not the raw qualified
    // path, or a root containing URI-encodable characters would
    // never match and the cloned mask would silently drop nothing.
    val metaSrc = IcebergRead.metaRendering(spark, src)
    val metaDst = IcebergRead.metaRendering(spark, dst)
    // recorded target paths are the decoded form of the same
    // renderings: the same root substitution, applied decoded
    val (keySrc, keyDst) = (dvPathKey(metaSrc), dvPathKey(metaDst))
    val dvCopied = snap.dvFiles.zipWithIndex.map { case (d, i) =>
      val out = s"$dst/deletes/dv-clone-1-$i"
      spark.read.schema(DvSchema).parquet(d)
        .withColumn("__graft_dv_file", org.apache.spark.sql.functions
          .regexp_replace(org.apache.spark.sql.functions.col("__graft_dv_file"),
            "^" + java.util.regex.Pattern.quote(metaSrc),
            java.util.regex.Matcher.quoteReplacement(metaDst)))
        .repartition(1).write.mode("errorifexists").parquet(out)
      val rec = snap.dvRecords.get(d).map(r => r.copy(files = r.files.map(p =>
        if (p.startsWith(keySrc)) keyDst + p.stripPrefix(keySrc) else p)))
      (out, rec)
    }
    val snapNew = Snapshot(1, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, copied, snap.props, dvCopied.map(_._1),
      dvCopied.collect { case (out, Some(r)) => out -> r }.toMap)
    publishSnapshot(spark, dst, snapNew)
  }

  /** Identifier-boundary column-reference check for generated-spec
    * expressions: `a` matches the IDENTIFIER a (bare or backquoted),
    * never the letter inside `abc`, and single-quoted STRING LITERAL
    * spans (with the SQL `''` escape) are lexed and skipped, so
    * `concat(x, 'a')` does not read as a reference to column a.
    * Substring matching would let a one-char column name invalidate
    * every spec table-wide; pathological quoting that defeats this
    * lexer can only OVER-invalidate (a dropped spec, never wrong
    * rows). */
  private[graft] def referencesColumn(expr: String, c: String): Boolean =
    "`([^`]+)`|'(?:''|[^'])*'|[A-Za-z_][A-Za-z0-9_]*".r
      .findAllMatchIn(expr).exists { m =>
        !m.matched.startsWith("'") &&
          (if (m.group(1) != null) m.group(1) else m.matched) == c
      }

  /** `generated.<c>` specs invalidated by a DML writing `assigned`
    * columns are dropped from the committed props: once the target
    * column or any column its expression references can carry
    * arbitrary assigned values, the spec's table-wide promise
    * (stored column == expr) no longer holds and a registered
    * [[graft.plans.GeneratedColumns]] rewrite against it would return
    * wrong rows. Mirrors the dropColumn / plain-append invalidation
    * (same identifier-boundary reference check as [[dropColumn]]'s). */
  private def invalidateGeneratedSpecs(props: Map[String, String],
      assigned: Set[String]): Map[String, String] =
    props.filterNot { case (k, v) =>
      k.startsWith("generated.") && {
        assigned.contains(k.stripPrefix("generated.")) ||
          assigned.exists(referencesColumn(v, _))
      }
    }

  /** Shared CoW machinery: find the files with rows matching
    * `predicate`, rebuild ONLY those through `transform` (partition
    * columns re-attached from manifest values first), commit untouched
    * files + rewritten output as the next snapshot. Returns the new
    * version, or the current one when no file matched. */
  private def rewriteTouched(spark: SparkSession, table: String,
      snap: Snapshot, predicate: Column,
      propsOut: Option[Map[String, String]] = None)(
      transform: DataFrame => DataFrame): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val schema = snap.schema
    val dataSchema = StructType(
      schema.fields.filterNot(fd => snap.partitionCols.contains(fd.name)))

    // input_file_name() returns a URL-ENCODED URI (a space in a
    // partition value reads back as %20, a literal % in the on-disk
    // Hive-escaped dir name as %25); manifest paths are raw filesystem
    // paths from FileStatus. Decode ONLY the input_file_name side —
    // decoding both would corrupt manifest paths that legitimately
    // contain '%' from Hive escaping.
    val touched = read(spark, table).filter(predicate)
      .select(input_file_name().as("__f")).distinct()
      .collect().map(r => java.net.URLDecoder.decode(
        new Path(r.getString(0)).toUri.getPath, "UTF-8")).toSet
    val (rewrite, keep) = snap.files.partition(fl =>
      touched.contains(new Path(fl.path).toUri.getPath))
    if (rewrite.isEmpty) return snap.version

    val v = snap.version + 1
    val commitDir = stagingDir(table, v)
    val rebuilt = rewrite.groupBy(_.partitionValues).map { case (pvals, fls) =>
      var df = spark.read.schema(dataSchema).parquet(fls.map(_.path): _*)
      for (c <- snap.partitionCols) {
        val dt = schema.fields.find(_.name == c).get.dataType
        df = df.withColumn(c, lit(pvals(c)).cast(dt))
      }
      df.select(schema.fieldNames.map(col).toSeq: _*)
    }.reduce(_ unionByName _)
    val out = transform(rebuilt)
    val writer = if (snap.partitionCols.nonEmpty)
      out.write.partitionBy(snap.partitionCols: _*) else out.write
    writer.mode("errorifexists").parquet(commitDir)

    val snapNew = Snapshot(v, System.currentTimeMillis(), snap.schemaJson,
      snap.partitionCols, keep ++ listCommitFiles(spark, commitDir),
      propsOut.getOrElse(snap.props))
    publishSnapshot(spark, table, snapNew, Seq(commitDir))
  }

  private def snapshotToJava(s: Snapshot): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("version", Int.box(s.version))
    m.put("createdAtMs", Long.box(s.createdAtMs))
    m.put("schemaJson", s.schemaJson)
    m.put("partitionCols", s.partitionCols.asJava)
    if (s.props.nonEmpty) {
      val pm = new java.util.LinkedHashMap[String, Object]()
      s.props.foreach { case (k2, v2) => pm.put(k2, v2) }
      m.put("props", pm)
    }
    if (s.dvFiles.nonEmpty) m.put("dvFiles", s.dvFiles.asJava)
    val recs = s.dvFiles.flatMap(d => s.dvRecords.get(d).map(d -> _))
    if (recs.nonEmpty) {
      val rm = new java.util.LinkedHashMap[String, Object]()
      recs.foreach { case (d, r) =>
        rm.put(d, java.util.Map.of("rows", Long.box(r.rows),
          "files", r.files.toSeq.sorted.asJava))
      }
      m.put("dvRecords", rm)
    }
    m.put("files", s.files.map { lf =>
      val fm = new java.util.LinkedHashMap[String, Object]()
      fm.put("path", lf.path)
      fm.put("sizeBytes", Long.box(lf.sizeBytes))
      fm.put("modifiedMs", Long.box(lf.modifiedMs))
      fm.put("rowCount", Long.box(lf.rowCount))
      fm.put("partitionValues", lf.partitionValues.asJava)
      if (lf.stats.nonEmpty) {
        val sm = new java.util.LinkedHashMap[String, Object]()
        lf.stats.foreach { case (cn, (mn, mx)) =>
          sm.put(cn, java.util.List.of(mn, mx))
        }
        fm.put("stats", sm)
      }
      if (lf.blooms.nonEmpty) {
        val bm = new java.util.LinkedHashMap[String, Object]()
        lf.blooms.foreach { case (k2, v2) => bm.put(k2, v2) }
        fm.put("blooms", bm)
      }
      fm
    }.asJava)
    m
  }

  /** The one commit point. Publishes `snap` as `v<N>.json` through
    * [[AtomicPublish.publishOrDiscard]]: the version-numbered manifest
    * is the optimistic-concurrency lock — two writers racing for the
    * same N both compute N = current + 1, the second publish fails
    * instead of overwriting the first (a lost update), and the loser
    * deletes `staged` (the uuid-named data directory and delete-vector
    * sidecar it wrote for this commit) and throws
    * `ConcurrentModificationException`. Then refreshes the VERSION
    * cache ([[currentVersion]]) through [[AtomicPublish.replace]];
    * that refresh is best-effort, because the commit has already
    * happened and readers probe past a stale hint. Returns N. */
  private def publishSnapshot(spark: SparkSession, table: String,
      snap: Snapshot, staged: Seq[String] = Nil): Int = {
    AtomicPublish.publishOrDiscard(spark, manifestFile(table, snap.version),
      graft.functions.JsonKernel.mapper.writeValueAsBytes(snapshotToJava(snap)),
      staged.map(new Path(_)))
    try AtomicPublish.replace(spark, versionFile(table),
      snap.version.toString.getBytes("UTF-8"))
    catch { case _: java.io.IOException => }
    snap.version
  }

  def readSnapshot(spark: SparkSession, table: String, version: Int): Snapshot = {
    val f = fs(spark, table)
    val in = f.open(manifestFile(table, version))
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val m = graft.functions.JsonKernel.mapper
      .readValue(bytes, classOf[java.util.Map[String, Object]])
    Snapshot(
      m.get("version").asInstanceOf[Number].intValue(),
      m.get("createdAtMs").asInstanceOf[Number].longValue(),
      m.get("schemaJson").asInstanceOf[String],
      m.get("partitionCols").asInstanceOf[java.util.List[String]].asScala.toSeq,
      m.get("files").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
        .asScala.toSeq.map { fm =>
          LakeFile(fm.get("path").asInstanceOf[String],
            fm.get("sizeBytes").asInstanceOf[Number].longValue(),
            fm.get("modifiedMs").asInstanceOf[Number].longValue(),
            fm.get("rowCount").asInstanceOf[Number].longValue(),
            fm.get("partitionValues").asInstanceOf[java.util.Map[String, String]]
              .asScala.toMap,
            Option(fm.get("stats"))
              .map(_.asInstanceOf[java.util.Map[String, java.util.List[String]]]
                .asScala.map { case (k, v) => k -> (v.get(0), v.get(1)) }.toMap)
              .getOrElse(Map.empty),
            Option(fm.get("blooms"))
              .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
              .getOrElse(Map.empty))
        },
      Option(m.get("props"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty),
      Option(m.get("dvFiles"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Nil),
      Option(m.get("dvRecords"))
        .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String, Object]]]
          .asScala.map { case (d, r) =>
            d -> DvRecord(r.get("rows").asInstanceOf[Number].longValue(),
              r.get("files").asInstanceOf[java.util.List[String]].asScala.toSet)
          }.toMap)
        .getOrElse(Map.empty))
  }

  /** Commit a METADATA-ONLY amendment — the given snapshot's files
    * (same data, e.g. with bloom-index entries attached) as the next
    * version. OCC: amending a version that is no longer current fails
    * loudly rather than silently dropping a concurrent commit's files;
    * the exclusive manifest create guards the version race itself. */
  private[sources] def commitAmended(spark: SparkSession, table: String,
      amended: Snapshot): Int = {
    val prev = currentVersion(spark, table)
    require(prev == amended.version,
      s"concurrent commit: amending v${amended.version} but $table is at v$prev")
    val v = prev + 1
    val snap = amended.copy(version = v, createdAtMs = System.currentTimeMillis())
    publishSnapshot(spark, table, snap)
  }

  /** Snapshot read with time travel; returns the DataFrame plus the
    * manifest-backed FileIndex (exposed so tests can assert the
    * pruned file selection). When the snapshot carries merge-on-read
    * delete vectors ([[deleteMor]]) the DataFrame is MASKED — deleted
    * positions anti-joined away — while the index still describes the
    * raw file set. */
  def readIndexed(spark: SparkSession, table: String,
      versionAsOf: Option[Int] = None): (DataFrame, LakeFileIndex) = {
    val v = versionAsOf.getOrElse(currentVersion(spark, table))
    require(v > 0, s"no committed version at $table")
    val snap = readSnapshot(spark, table, v)
    if (snap.dvFiles.isEmpty) {
      val (df, index) = indexedDataFrame(spark, table, snap)
      (applyRenames(df, snap), index)
    } else {
      // Split the scan at PLAN time using the vectors' distinct-file
      // set (the manifest's dvRecords, a driver-resident manifest-scale
      // set): files without deletes scan at full speed — no metadata
      // column, no anti-join — and only the dirty subset pays the mask.
      // At 100 TB with a 0.1% delete this keeps ~99.9% of the scan on
      // the untouched fast path.
      val dirtySet = dvDirtyPaths(spark, snap)
      val (dirty, clean) = snap.files.partition(fl =>
        dirtySet.contains(new Path(fl.path).toUri.getPath))
      val index = new LakeFileIndex(table, snap, StructType(
        snap.partitionCols.flatMap(c => snap.schema.fields.find(_.name == c))))
      val cleanDf = if (clean.isEmpty) None
        else Some(indexedDataFrame(spark, table, snap.copy(files = clean))._1)
      val dirtyDf = if (dirty.isEmpty) None
        else Some(maskDeletes(spark,
          indexedDataFrame(spark, table, snap.copy(files = dirty))._1, snap))
      val merged = (cleanDf, dirtyDf) match {
        case (Some(c), Some(d)) => c.unionByName(d)
        case (Some(c), None) => c
        case (None, Some(d)) => d
        case (None, None) => indexedDataFrame(spark, table, snap)._1
      }
      (applyRenames(merged, snap), index)
    }
  }

  /** Decoded filesystem paths of every data file named by a pending
    * delete vector, from the manifest's [[DvRecord]]s. Only sidecars
    * without a record (manifests written before it existed) pay a
    * distinct scan of their entries. */
  private def dvDirtyPaths(spark: SparkSession, snap: Snapshot): Set[String] = {
    val (recorded, legacy) = snap.dvFiles.partition(snap.dvRecords.contains)
    val fromRecords = recorded.flatMap(snap.dvRecords(_).files).toSet
    if (legacy.isEmpty) fromRecords
    else fromRecords ++ dvReader(spark, snap.copy(dvFiles = legacy))
      .select("__graft_dv_file").distinct()
      .collect().map(r => dvPathKey(r.getString(0)))
  }

  /** A DV entry's target file as the manifest compares it: entries
    * render as `_metadata.file_path` (URL-encoded URI), manifest paths
    * as raw FileStatus strings — decode the DV side only (the
    * rewriteTouched convention) and match on `toUri.getPath`. */
  private def dvPathKey(metaPath: String): String =
    java.net.URLDecoder.decode(new Path(metaPath).toUri.getPath, "UTF-8")

  /** Write the (`__graft_dv_file`, `__graft_dv_pos`) columns of
    * `positions` as one sidecar and return its row count plus its
    * [[DvRecord]]. Both come from one `observe` on the write's own
    * result stage (above the `repartition(1)`, so only the matched
    * pairs shuffle and the metrics are applied once per task) — no
    * extra job, no footer read. Should the observation come back
    * without metrics, the count falls back to the sidecar footers and
    * the sidecar is committed without a record (readers then scan it,
    * as for a pre-record manifest). */
  private def writeSidecar(spark: SparkSession, positions: DataFrame,
      sidecar: String): (Long, Option[DvRecord]) = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit}
    val obs = org.apache.spark.sql.Observation()
    positions.select(col("__graft_dv_file"), col("__graft_dv_pos"))
      .repartition(1)
      .observe(obs, count(lit(1)).as("rows"),
        collect_set(col("__graft_dv_file")).as("files"))
      .write.mode("errorifexists").parquet(sidecar)
    val observed = scala.util.Try(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s"))).toOption.filter(_.length == 2)
    observed match {
      case Some(row) =>
        val rec = DvRecord(row.getLong(0),
          row.getSeq[String](1).map(dvPathKey).toSet)
        (rec.rows, Some(rec))
      case None => (listCommitFiles(spark, sidecar).map(_.rowCount).sum, None)
    }
  }

  /** Parquet schema of a delete-vector sidecar: the target data file
    * (as `_metadata.file_path` renders it) and the 0-based row position
    * within that file (`_metadata.row_index`). */
  private val DvSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("__graft_dv_file", StringType),
    org.apache.spark.sql.types.StructField("__graft_dv_pos", LongType)))

  private def dvReader(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.schema(DvSchema).parquet(snap.dvFiles: _*)

  /** Apply a snapshot's delete vectors to its scan: tag each row with
    * (file, position) from the parquet reader's metadata column and
    * anti-join the DV sidecars. The DV side is broadcast BY CONTRACT —
    * [[deleteMor]] is the small-delete path (GDPR erasure, dedup
    * fixes); bulk deletes belong to copy-on-write [[delete]]. At 100 TB
    * the masked scan therefore costs one broadcast hash lookup per row,
    * no shuffle, and files without deletes pass through the same plan
    * untouched. */
  private def maskDeletes(spark: SparkSession, df: DataFrame,
      snap: Snapshot): DataFrame = {
    if (snap.dvFiles.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{broadcast, col}
      df.withColumn("__graft_dv_file", col("_metadata.file_path"))
        .withColumn("__graft_dv_pos", col("_metadata.row_index"))
        .join(broadcast(dvReader(spark, snap)),
          Seq("__graft_dv_file", "__graft_dv_pos"), "left_anti")
        .drop("__graft_dv_file", "__graft_dv_pos")
    }
  }

  /** Manifest-backed relation for an arbitrary Snapshot — also the
    * entry point other table-format readers (e.g. [[IcebergRead]] for
    * partitioned tables) use to get partition pruning answered from
    * THEIR manifests through the same FileIndex. */
  private[sources] def indexedDataFrame(spark: SparkSession, table: String,
      snap: Snapshot): (DataFrame, LakeFileIndex) = {
    val schema = snap.schema
    val partitionSchema = StructType(
      snap.partitionCols.flatMap(c => schema.fields.find(_.name == c)))
    val dataSchema = StructType(
      schema.fields.filterNot(fd => snap.partitionCols.contains(fd.name)))
    val index = new LakeFileIndex(table, snap, partitionSchema)
    val rel = HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new ParquetFileFormat(), Map.empty)(spark)
    (spark.baseRelationToDataFrame(rel), index)
  }

  def read(spark: SparkSession, table: String,
      versionAsOf: Option[Int] = None): DataFrame =
    readIndexed(spark, table, versionAsOf)._1

  /** Newest version committed at-or-before `tsMs` — AS OF TIMESTAMP
    * resolution (the Delta/Iceberg timestamp-travel contract: each
    * snapshot's commit time is its manifest's `createdAtMs`). Manifest
    * reads only, O(#versions). */
  def versionAt(spark: SparkSession, table: String, tsMs: Long): Int = {
    val current = currentVersion(spark, table)
    require(current > 0, s"no committed version at $table")
    val v = (1 to current).takeWhile(v =>
      readSnapshot(spark, table, v).createdAtMs <= tsMs).lastOption
    require(v.nonEmpty,
      s"no snapshot of $table at or before $tsMs (earliest is v1)")
    v.get
  }

  /** Time travel by wall clock: read the snapshot current at `tsMs`. */
  def readAsOfTimestamp(spark: SparkSession, table: String,
      tsMs: Long): DataFrame =
    read(spark, table, Some(versionAt(spark, table, tsMs)))

  /** Row-level change feed between two versions at O(changed-rows)
    * cost — the Delta CDF / Iceberg changelog shape, derived purely
    * from manifests: a version that only ADDS data files and delete
    * vectors (append, [[mergeMor]], [[deleteMor]], [[updateMor]] —
    * the sustained-ingest commits) yields its added files' rows as
    * `insert` and its new delete vectors' old row images as `delete`
    * (an upsert therefore appears as delete(old) + insert(new), the
    * retraction model an incremental consumer folds by key). Nothing
    * table-sized is read: inserts scan only the added files, deletes
    * scan only the files the new vectors name.
    *
    * Commits that change no logical rows are transparent: metadata-only
    * amendments (setProps, ADD/DROP/RENAME COLUMN) yield nothing, and
    * [[foldDeletes]]/[[compact]] rewrites — logical no-ops that DO
    * remove files — stamp a `commit.op.v<N>` marker the walk skips, so
    * background maintenance never wedges a consumer. A version that
    * removed files WITHOUT such a marker (copy-on-write DML) emits a
    * FILE-LEVEL retraction: every surviving row of each removed file
    * (the pre-image, masked by the prior delete vectors) as `delete`
    * plus every row of the commit's added files as `insert`. Rows the
    * rewrite carried through unchanged emit a self-cancelling
    * delete+insert pair — net-correct under the retraction model a
    * consumer folds by key, at O(touched files) cost, never
    * table-sized — so a feed subscription survives an occasional CoW
    * UPDATE interleaved with MoR loads instead of wedging
    * mid-subscription. ([[snapshotDiff]] remains the keyed,
    * minimal-delta alternative when a primary key is known.)
    * Columns: the table's columns plus `__change_type` and
    * `__commit_version`. A window with no row changes returns an EMPTY
    * frame (a poll must be able to advance over quiet commits). The
    * version range is walked one commit at a time (poll-sized by
    * contract — a CDC consumer tails the log). */
  def changes(spark: SparkSession, table: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    require(fromVersion >= 1 && toVersion > fromVersion &&
      toVersion <= currentVersion(spark, table),
      s"bad change range v$fromVersion..v$toVersion")
    val latest = readSnapshot(spark, table, toVersion)
    val steps = ((fromVersion + 1) to toVersion).map { v =>
      val prev = readSnapshot(spark, table, v - 1)
      val cur = readSnapshot(spark, table, v)
      val maintenance = cur.props.contains(s"commit.op.v$v")
      val prevPaths = prev.files.map(_.path).toSet
      val removed = prevPaths -- cur.files.map(_.path).toSet
      if (maintenance) None else {
      val added = cur.files.filterNot(f => prevPaths.contains(f.path))
      val newDvs = cur.dvFiles.filterNot(prev.dvFiles.toSet)
      val cols = logicalNames(cur).map(col)
      val ins = if (added.isEmpty) None else Some(
        applyRenames(indexedDataFrame(spark, table,
          cur.copy(files = added))._1, cur)
          .select(cols: _*)
          .withColumn("__change_type", lit("insert")))
      val del = if (newDvs.isEmpty) None else {
        val dv = spark.read.schema(DvSchema).parquet(newDvs: _*)
        // the new vectors' record lives in `cur`, which committed them
        val dirtyNorm = dvDirtyPaths(spark, cur.copy(dvFiles = newDvs))
        val dirty = prev.files.filter(f =>
          dirtyNorm.contains(new Path(f.path).toUri.getPath))
        val tagged = applyRenames(indexedDataFrame(spark, table,
          prev.copy(files = dirty))._1
          .withColumn("__graft_dv_file", col("_metadata.file_path"))
          .withColumn("__graft_dv_pos", col("_metadata.row_index")), prev)
        Some(tagged.join(broadcast(dv),
            Seq("__graft_dv_file", "__graft_dv_pos"), "left_semi")
          .select(cols: _*)
          .withColumn("__change_type", lit("delete")))
      }
      // a CoW rewrite (files removed, no maintenance marker): the
      // removed files' PRE-IMAGES retract — their rows as they were
      // visible at v-1, so the prior delete vectors mask here exactly
      // as a v-1 read would
      val cowDel = if (removed.isEmpty) None else {
        val removedFiles = prev.files.filter(f => removed.contains(f.path))
        val sub = prev.copy(files = removedFiles)
        Some(applyRenames(
            maskDeletes(spark, indexedDataFrame(spark, table, sub)._1, sub),
            prev)
          .select(cols: _*)
          .withColumn("__change_type", lit("delete")))
      }
      (ins ++ del ++ cowDel).reduceOption(_ unionByName _)
        .map(_.withColumn("__commit_version", lit(v)))
      }
    }
    val parts = steps.flatten
    if (parts.isEmpty) {
      // quiet window (metadata-only / maintenance commits): an EMPTY
      // change frame with the table's schema, so consumers advance
      val cols = logicalNames(latest).map(col)
      applyRenames(indexedDataFrame(spark, table, latest)._1, latest)
        .select(cols: _*)
        .withColumn("__change_type", lit("insert"))
        .withColumn("__commit_version", lit(toVersion))
        .filter(lit(false))
    } else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Snapshot diff — the CDC-out surface between two table versions
    * (what an incremental consumer replays): full outer join on the
    * primary key between the two manifest-backed reads, each row
    * classified inserted / deleted / changed / unchanged. Both sides
    * are plain pruned scans; the join shuffles on the PK like any
    * merge — no per-file bookkeeping beyond the manifests. */
  def snapshotDiff(spark: SparkSession, table: String, pk: String,
      fromVersion: Int, toVersion: Int,
      withValues: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val before = read(spark, table, Some(fromVersion))
    val after = read(spark, table, Some(toVersion))
    val valueCols = before.columns.filterNot(_ == pk).toSeq
    val b = before.select(col(pk), struct(valueCols.map(col): _*).as("__b"))
    val a = after.select(col(pk), struct(valueCols.map(col): _*).as("__a"))
    val classified = b.join(a, Seq(pk), "full_outer")
      .withColumn("status",
        when(col("__b").isNull, lit("inserted"))
          .when(col("__a").isNull, lit("deleted"))
          .when(col("__a") =!= col("__b"), lit("changed"))
          .otherwise(lit("unchanged")))
    if (withValues)
      classified.select(col(pk), col("status"),
        col("__b").as("old"), col("__a").as("new"))
    else classified.select(col(pk), col("status"))
  }

  /** Table history (one row per snapshot) — the audit surface. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    (1 to currentVersion(spark, table)).map { v =>
      val s = readSnapshot(spark, table, v)
      (s.version, s.files.size, s.files.map(_.rowCount).sum, s.files.map(_.sizeBytes).sum)
    }.toDF("version", "n_files", "n_rows", "n_bytes")
  }

  /** Manifest-backed FileIndex: listing and partition pruning are
    * answered from the snapshot alone — planning never lists or stats
    * the filesystem. Data filters are left to the parquet scan
    * (row-group pruning + predicate pushdown). */
  final class LakeFileIndex(table: String, snap: Snapshot,
      override val partitionSchema: StructType) extends FileIndex {

    /** The Lake table path this index serves — lets plan rules (e.g.
      * [[graft.plans.GeneratedColumns]]) identify the table behind a
      * LogicalRelation. */
    def tablePath: String = table

    /** files surviving partition pruning in the last listFiles call —
      * asserted by PlanSpec. */
    @volatile var lastSelectedFileCount: Int = -1
    val totalFileCount: Int = snap.files.size

    override def rootPaths: Seq[Path] = Seq(new Path(table))

    private def castPartitionValue(raw: String, dt: DataType): Any = dt match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case DoubleType => raw.toDouble
      case FloatType => raw.toFloat
      case BooleanType => raw.toBoolean
      case ShortType => raw.toShort
      case ByteType => raw.toByte
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case TimestampType =>
        // hive renders `yyyy-MM-dd HH:mm:ss[.S…]`; session TZ is UTC
        val ldt = java.time.LocalDateTime.parse(
          raw.replace(' ', 'T').stripSuffix("Z"))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      case other => throw new IllegalArgumentException(
        s"unsupported lake partition type $other")
    }

    /** files removed by per-file min/max stats in the last listFiles
      * call (data skipping — the Delta/Iceberg stats-pruning shape);
      * asserted by LakeSpec. */
    @volatile var lastStatsSkippedFileCount: Int = -1

    // ---- per-file min/max data skipping -------------------------------
    // A conjunct can DROP a file only when it provably matches no row
    // given the file's [min,max]; anything unrecognized keeps the file.
    private def parseStat(dt: DataType, s: String): Option[Any] =
      try dt match {
        case IntegerType | DateType => Some(s.toInt.toLong)
        case LongType | TimestampType => Some(s.toLong)
        case ShortType => Some(s.toInt.toLong)
        case ByteType => Some(s.toInt.toLong)
        case FloatType | DoubleType => Some(s.toDouble)
        case StringType => Some(UTF8String.fromString(s))
        case BooleanType => Some(s.toBoolean)
        case _ => None
      } catch { case _: Exception => None }

    private def litKey(dt: DataType, v: Any): Option[Any] = dt match {
      case IntegerType | DateType => Some(v.asInstanceOf[Int].toLong)
      case LongType | TimestampType => Some(v.asInstanceOf[Long])
      case ShortType => Some(v.asInstanceOf[Short].toLong)
      case ByteType => Some(v.asInstanceOf[Byte].toLong)
      case FloatType => Some(v.asInstanceOf[Float].toDouble)
      case DoubleType => Some(v.asInstanceOf[Double])
      case StringType => Some(v.asInstanceOf[UTF8String])
      case BooleanType => Some(v.asInstanceOf[Boolean])
      case _ => None
    }

    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: UTF8String, y: UTF8String) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case _ => 0
    }

    private def bounds(lf: LakeFile, a: AttributeReference): Option[(Any, Any)] =
      for {
        (mns, mxs) <- lf.stats.get(a.name)
        mn <- parseStat(a.dataType, mns)
        mx <- parseStat(a.dataType, mxs)
      } yield (mn, mx)

    private def mayMatch(lf: LakeFile, e: Expression): Boolean = e match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) if v != null =>
        val inBounds = litKey(dt, v).forall(k => bounds(lf, a).forall { case (mn, mx) =>
          cmp(mn, k) <= 0 && cmp(k, mx) <= 0 })
        // string equality also consults the file's value bloom and —
        // since equality implies containment — its n-gram bloom
        val bloomOk = dt match {
          case StringType =>
            BloomIndex.mayContainValue(lf.blooms, a.name, v.toString) &&
            BloomIndex.mayContainSubstring(lf.blooms, a.name, v.toString)
          case _ => true
        }
        // exact low-cardinality value sets (BitmapIndex) prune any
        // renderable-type equality — In delegates here per element
        val bitmapOk = !BitmapIndex.renderable(dt) ||
          BitmapIndex.mayContainValue(lf.blooms, a.name, v.toString)
        inBounds && bloomOk && bitmapOk
      // substring-shaped predicates prune through the n-gram blooms
      // (BloomIndex.buildIndex) — a prefix/suffix is also a substring
      case Contains(a: AttributeReference, Literal(v, StringType)) if v != null =>
        BloomIndex.mayContainSubstring(lf.blooms, a.name, v.toString)
      case StartsWith(a: AttributeReference, Literal(v, StringType)) if v != null =>
        BloomIndex.mayContainSubstring(lf.blooms, a.name, v.toString)
      case EndsWith(a: AttributeReference, Literal(v, StringType)) if v != null =>
        BloomIndex.mayContainSubstring(lf.blooms, a.name, v.toString)
      case EqualTo(Literal(v, dt), a: AttributeReference) if v != null =>
        mayMatch(lf, EqualTo(a, Literal(v, dt)))
      case LessThan(a: AttributeReference, Literal(v, dt)) if v != null =>
        litKey(dt, v).forall(k => bounds(lf, a).forall { case (mn, _) => cmp(mn, k) < 0 })
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) if v != null =>
        litKey(dt, v).forall(k => bounds(lf, a).forall { case (mn, _) => cmp(mn, k) <= 0 })
      case GreaterThan(a: AttributeReference, Literal(v, dt)) if v != null =>
        litKey(dt, v).forall(k => bounds(lf, a).forall { case (_, mx) => cmp(mx, k) > 0 })
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) if v != null =>
        litKey(dt, v).forall(k => bounds(lf, a).forall { case (_, mx) => cmp(mx, k) >= 0 })
      // literal-first comparisons: flip
      case LessThan(Literal(v, dt), a: AttributeReference) if v != null =>
        mayMatch(lf, GreaterThan(a, Literal(v, dt)))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) if v != null =>
        mayMatch(lf, GreaterThanOrEqual(a, Literal(v, dt)))
      case GreaterThan(Literal(v, dt), a: AttributeReference) if v != null =>
        mayMatch(lf, LessThan(a, Literal(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) if v != null =>
        mayMatch(lf, LessThanOrEqual(a, Literal(v, dt)))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists {
          case Literal(v, dt) if v != null => mayMatch(lf, EqualTo(a, Literal(v, dt)))
          case _ => false // null literal matches no row
        }
      case _ => true
    }

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val statPruned =
        if (dataFilters.isEmpty) snap.files
        else snap.files.filter(lf => dataFilters.forall(f => mayMatch(lf, f)))
      lastStatsSkippedFileCount = snap.files.size - statPruned.size
      val groups = statPruned.groupBy(_.partitionValues)
      val dirs = groups.toSeq.map { case (pvals, files) =>
        val row = InternalRow.fromSeq(partitionSchema.fields.toSeq.map(fd =>
          castPartitionValue(pvals(fd.name), fd.dataType)))
        val statuses = files.map(lf => new FileStatus(
          lf.sizeBytes, false, 1, 128L * 1024 * 1024, lf.modifiedMs,
          new Path(lf.path))).toArray
        PartitionDirectory(row, statuses)
      }
      val pruned = if (partitionFilters.isEmpty) dirs else {
        // same binding PartitioningAwareFileIndex uses: name-match the
        // partition columns, evaluate interpreted per manifest group
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
          })
        dirs.filter(d => bound.eval(d.values))
      }
      lastSelectedFileCount = pruned.map(_.files.size).sum
      pruned
    }

    override def inputFiles: Array[String] = snap.files.map(_.path).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = snap.files.map(_.sizeBytes).sum
  }
}
