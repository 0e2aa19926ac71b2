package graft.sources

import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types._

/** The Delta Lake writer (reference ICEBERG/HIVE table sinks,
  * `gensrc/thrift/DataSinks.thrift:45-65` — the engine's tables must be
  * consumable by the open ecosystem, not only by its own reader). Every
  * Delta commit graft writes goes through ONE commit core: the next
  * version comes from one `_delta_log` listing, the actions render
  * through one renderer each (protocol / metaData / add / remove /
  * cdc), and `<v>.json` publishes through
  * [[AtomicPublish.publishOrDiscard]] — PROTOCOL.md's rule that a log
  * record is created atomically and only once. Data, change-data and
  * deletion-vector files are uuid-named per commit, so a commit that
  * loses the race deletes exactly the files it staged and throws
  * `ConcurrentModificationException`.
  *
  * Entry points: [[append]] (parquet files + one commit),
  * [[exportLake]] (a `_delta_log` beside a native Lake table, one Delta
  * commit per Lake snapshot) and [[checkpoint]] (classic or V2).
  * [[DeltaRead]] reads what these write. */
object DeltaWrite {

  private val mapper = new ObjectMapper()

  private def js(s: String): String = mapper.writeValueAsString(s)

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Percent-encode a relative path per the Delta spec (real writers
    * encode anything a URI requires; '/' separators stay). Absolute
    * URIs (shallow clones) stay verbatim, as the log stores them. */
  private def encodePath(p: String): String =
    if (p.contains(":/")) p else new java.net.URI(null, null, p, null).toASCIIString

  private def partitionValues(pvals: Seq[(String, String)]): String = {
    val m = new java.util.LinkedHashMap[String, String]()
    pvals.foreach { case (k, v) => m.put(k, v) }
    mapper.writeValueAsString(m)
  }

  // ---- the action renderers, one per action kind ----

  /** The legacy {1,2} protocol without table features, else 3/7
    * declaring them as reader and writer features. */
  private def protocol(features: Seq[String]): String =
    if (features.isEmpty) """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    else {
      val list = features.map(js).mkString("[", ",", "]")
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$list,"writerFeatures":$list}}"""
    }

  /** The id derives from the table path, so every writer of a table
    * names the same id; `enabled` lists table properties set "true". */
  private def metaData(table: String, schemaJson: String, partCols: Seq[String],
      enabled: Seq[String], createdTime: Option[Long]): String = {
    val conf = enabled.map(k => s"""${js(k)}:"true"""").mkString("{", ",", "}")
    val created = createdTime.fold("")(t => s""","createdTime":$t""")
    s"""{"metaData":{"id":"graft-${Integer.toHexString(table.hashCode)}","format":{"provider":"parquet","options":{}},"schemaString":${js(schemaJson)},"partitionColumns":${partCols.map(js).mkString("[", ",", "]")},"configuration":$conf$created}}"""
  }

  private def add(path: String, pvals: Seq[(String, String)], size: Long, modTime: Long,
      stats: Option[String], dv: Option[DeltaDv.Descriptor]): String = {
    val st = stats.fold("")(s => s""","stats":${js(s)}""")
    val d = dv.fold("")(d => s""","deletionVector":{"storageType":${js(d.storageType)},"pathOrInlineDv":${js(d.pathOrInlineDv)},"offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
    s"""{"add":{"path":${js(encodePath(path))},"partitionValues":${partitionValues(pvals)},"size":$size,"modificationTime":$modTime,"dataChange":true$st$d}}"""
  }

  private def remove(path: String, timestamp: Long): String =
    s"""{"remove":{"path":${js(encodePath(path))},"deletionTimestamp":$timestamp,"dataChange":true}}"""

  private def cdc(path: String, pvals: Seq[(String, String)], size: Long): String =
    s"""{"cdc":{"path":${js(encodePath(path))},"partitionValues":${partitionValues(pvals)},"size":$size,"dataChange":false}}"""

  // ---- the commit core ----

  private val LogEntry = "(\\d{20})\\..+".r

  /** The next version, from one listing of `_delta_log`: past the
    * newest commit or checkpoint (a vacuumed log may keep only the
    * checkpoint). */
  private def nextVersion(spark: SparkSession, table: String): Long = {
    val log = new Path(s"$table/_delta_log")
    val f = fs(spark, table)
    if (!f.exists(log)) 0L
    else f.listStatus(log).map(_.getPath.getName)
      .collect { case LogEntry(v) => v.toLong + 1 }.maxOption.getOrElse(0L)
  }

  /** Publish `actions` as `<version>.json`; when a racing commit won,
    * delete `staged` (the files only this commit references) and throw
    * `ConcurrentModificationException`. */
  private def commit(spark: SparkSession, table: String, version: Long,
      actions: Seq[String], staged: Seq[Path]): Unit =
    AtomicPublish.publishOrDiscard(spark, new Path(f"$table/_delta_log/$version%020d.json"),
      actions.map(_ + "\n").mkString.getBytes("UTF-8"), staged)

  /** Write `df` as parquet under a uuid-named staging directory and
    * hand its part files — each with the partition values of its
    * `col=value` directories — to `use`; the staging directory is
    * deleted either way. */
  private def staged[T](spark: SparkSession, table: String, df: DataFrame,
      partitionBy: Seq[String] = Nil)(
      use: Seq[(FileStatus, Map[String, String])] => T): T = {
    val f = fs(spark, table)
    val staging = new Path(s"$table/_staging_${UUID.randomUUID()}")
    try {
      df.write.partitionBy(partitionBy: _*).parquet(staging.toString)
      val parts = scala.collection.mutable.ArrayBuffer[(FileStatus, Map[String, String])]()
      val it = f.listFiles(staging, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          // %XX-only decode: Spark's dir-name escaping leaves '+'
          // literal, URLDecoder would turn it into a space
          val dirs = Iterator.iterate(st.getPath.getParent)(_.getParent)
            .takeWhile(d => d != null && d.getName.contains("="))
            .map { d =>
              val n = d.getName
              n.take(n.indexOf('=')) -> PathNames.unescapePathName(n.drop(n.indexOf('=') + 1))
            }.toMap
          parts += ((st, dirs))
        }
      }
      use(parts.sortBy(_._1.getPath.toString).toSeq)
    } finally f.delete(staging, true)
  }

  /** Move a staged file into place (a rename keeps length and mtime). */
  private def install(spark: SparkSession, from: Path, to: Path): Unit = {
    val f = fs(spark, to.toString)
    f.mkdirs(to.getParent)
    require(f.rename(from, to), s"failed to install $from -> $to")
  }

  // ---- entry points ----

  /** Write `df` (unpartitioned) as parquet files and commit one version
    * adding them, plus `removePaths` tombstones. Returns the version; a
    * racing commit at the same version makes this one throw
    * `ConcurrentModificationException` with its files deleted. */
  def append(df: DataFrame, table: String, removePaths: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val version = nextVersion(spark, table)
    val id = UUID.randomUUID()
    val files = staged(spark, table, df) { parts =>
      parts.zipWithIndex.map { case ((st, _), i) =>
        val name = s"part-$id-$i.snappy.parquet"
        install(spark, st.getPath, new Path(s"$table/$name"))
        (name, st.getLen, st.getModificationTime)
      }
    }
    val now = System.currentTimeMillis()
    val head =
      if (version == 0L) Seq(protocol(Nil), metaData(table, df.schema.json, Nil, Nil, Some(now)))
      else Nil
    commit(spark, table, version,
      head ++ removePaths.map(remove(_, now)) ++
        files.map { case (name, len, mtime) => add(name, Nil, len, mtime, None, None) },
      files.map { case (name, _, _) => new Path(s"$table/$name") })
    version
  }

  /** Export every not-yet-exported Lake snapshot as one Delta commit
    * (Lake snapshot v → Delta version v-1) beside the Lake table, over
    * the SAME data files — no copies, full time travel. Returns the
    * latest Delta version.
    *
    * A commit's actions are the FILE DIFF between consecutive snapshots
    * (add for new files, remove for files dropped by CoW
    * delete/update/compact), so the log replays to exactly the
    * snapshot's live set; adds carry `numRecords` stats from the
    * manifest and paths relative to the table root. Commit 0 carries
    * protocol {1,2} + metaData; merge-on-read delete vectors export as
    * Delta DELETION VECTORS (a file whose masked-position set changed is
    * removed and re-added with a descriptor), and the first DV-carrying
    * commit upgrades the protocol in-commit to 3/7 + the
    * deletionVectors feature, so DV-free exports stay readable by every
    * Delta reader.
    *
    * `withCdf` also writes the CHANGE DATA FEED (PROTOCOL.md §Change
    * Data Files): a commit that is not a pure append gets its row-level
    * changes ([[Lake.changes]] for the one-version window) as
    * `_change_data/` parquet with `_change_type`, referenced by `cdc`
    * actions; maintenance rewrites emit an EMPTY cdc file ("files
    * moved, no logical change"). Cost: O(changed rows) per commit.
    *
    * Incremental and idempotent: export resumes after the log's newest
    * version, and losing a race to another exporter is not an error —
    * the winner published the same Lake version. Every 10 versions a
    * classic [[checkpoint]] is written. */
  def exportLake(spark: SparkSession, table: String, withCdf: Boolean = false): Long = {
    val cur = Lake.currentVersion(spark, table)
    require(cur > 0, s"no committed Lake version at $table")
    val f = fs(spark, table)
    val qualified = f.makeQualified(new Path(table)).toString
    def rel(p: String): String = {
      val r = p.stripPrefix(s"$qualified/").stripPrefix(s"$table/")
      require(!r.contains(":"), s"cannot relativize $p against $qualified")
      r
    }
    // one manifest read per version per call (memoized): the DV state
    // and the per-version diffs would otherwise re-read each JSON
    val snapCache = scala.collection.mutable.Map[Int, Lake.Snapshot]()
    def snapOf(v: Int) = snapCache.getOrElseUpdate(v, Lake.readSnapshot(spark, table, v))
    // per version, the cumulative (relative data file → masked
    // positions) map; sidecar rows are batch-scale by the MoR contract,
    // so the driver-side collect is bounded
    val dvSchema = StructType(Seq(StructField("__graft_dv_file", StringType),
      StructField("__graft_dv_pos", LongType)))
    def normPath(s: String): String =
      java.net.URLDecoder.decode(new Path(s).toUri.getPath, "UTF-8")
    val dvCache = scala.collection.mutable.Map[Int, Map[String, Array[Long]]]()
    def dvStateOf(v: Int): Map[String, Array[Long]] = dvCache.getOrElseUpdate(v, {
      val snap = snapOf(v)
      if (snap.dvFiles.isEmpty) Map.empty
      else {
        val byNorm = snap.files.map(lf => normPath(lf.path) -> rel(lf.path)).toMap
        spark.read.schema(dvSchema).parquet(snap.dvFiles: _*).collect()
          .groupBy(r => normPath(r.getString(0)))
          .flatMap { case (n, rows) => byNorm.get(n).map(_ -> rows.map(_.getLong(1)).sorted) }
      }
    })
    lazy val firstDvVersion: Option[Int] =
      (1 to cur).find(v => dvStateOf(v).values.exists(_.nonEmpty))
    ((nextVersion(spark, table) + 1).toInt to cur).foreach { v =>
      val snap = snapOf(v)
      val prev: Map[String, Lake.LakeFile] =
        if (v == 1) Map.empty else snapOf(v - 1).files.map(x => rel(x.path) -> x).toMap
      val nowFiles = snap.files.map(x => rel(x.path) -> x).toMap
      val dvNow = dvStateOf(v)
      val dvPrev = if (v == 1) Map.empty[String, Array[Long]] else dvStateOf(v - 1)
      // carried files whose vector grew (or appeared) re-add upgraded
      val dvChanged = (nowFiles.keySet & prev.keySet).filter(r =>
        !java.util.Arrays.equals(dvNow.getOrElse(r, Array.emptyLongArray),
          dvPrev.getOrElse(r, Array.emptyLongArray)))
      val removed = prev.keySet -- nowFiles.keySet
      val upgrade = firstDvVersion.contains(v)
      val head =
        if (v == 1 || upgrade) Seq(
          protocol(if (upgrade) Seq("deletionVectors") else Nil),
          metaData(table, snap.schemaJson, snap.partitionCols,
            (if (upgrade) Seq("delta.enableDeletionVectors") else Nil) ++
              (if (withCdf) Seq("delta.enableChangeDataFeed") else Nil),
            Some(snap.createdAtMs)))
        else Nil
      val stagedFiles = scala.collection.mutable.ArrayBuffer[Path]()
      val cdcs =
        if (!withCdf || v == 1 || (removed.isEmpty && dvChanged.isEmpty)) Nil
        else {
          val changed = Lake.changes(spark, table, v - 1, v)
            .withColumnRenamed("__change_type", "_change_type")
            .drop("__commit_version")
          val partCols = snap.partitionCols
          val id = UUID.randomUUID()
          // change files must NOT store partition columns in-file — a
          // CDF reader derives them from each cdc action's
          // partitionValues (the add-action treatment)
          def write(df: DataFrame, by: Seq[String]): Seq[String] =
            staged(spark, table, df, by) { parts =>
              parts.zipWithIndex.map { case ((st, dirs), i) =>
                val relCdc = s"_change_data/cdc-$id-$i.parquet"
                val dest = new Path(s"$table/$relCdc")
                install(spark, st.getPath, dest)
                stagedFiles += dest
                cdc(relCdc, partCols.map(c =>
                  c -> dirs.get(c).filter(_ != "__HIVE_DEFAULT_PARTITION__").orNull), st.getLen)
              }
            }
          val written = write(if (partCols.isEmpty) changed.coalesce(1) else changed, partCols)
          // a maintenance rewrite's feed is empty and partitionBy writes
          // no file for it, but the EMPTY cdc marker must exist — without
          // it readers re-derive spurious remove/add churn
          if (written.nonEmpty) written else write(changed.limit(0).coalesce(1), Nil)
        }
      val removes = (removed ++ dvChanged).toSeq.sorted.map(remove(_, snap.createdAtMs))
      val adds = ((nowFiles.keySet -- prev.keySet) ++ dvChanged).toSeq.sorted.map { r =>
        val lf = nowFiles(r)
        val dv = dvNow.get(r).filter(_.nonEmpty).map { positions =>
          val d = DeltaDv.writeUuidDv(spark, table, positions)
          stagedFiles += new Path(DeltaDv.uuidPath(table, d))
          d
        }
        add(r, lf.partitionValues.toSeq, lf.sizeBytes, lf.modifiedMs,
          Some(s"""{"numRecords":${lf.rowCount}}"""), dv)
      }
      try commit(spark, table, v - 1L, head ++ cdcs ++ removes ++ adds, stagedFiles.toSeq)
      catch { case _: java.util.ConcurrentModificationException =>
        // another exporter already published this Lake version
      }
    }
    // protocol checkpoints every 10 Delta versions: once written, the
    // JSON commits they cover can be cleaned and readers still enter at
    // the checkpoint (delete-vector descriptors included)
    val last = cur - 1L
    val have = DeltaRead.checkpointVersions(spark, table).toSet
    (10L to last by 10L).filterNot(have).foreach(v => checkpoint(spark, table, Some(v)))
    last
  }

  private lazy val addT = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("deletionVector", StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType))))))

  private lazy val classicT = StructType(Seq(
    StructField("add", addT),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType))))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType)))))))

  /** Write a protocol checkpoint at `version` (default: the latest
    * commit) and point `_last_checkpoint` at it. After this, the JSON
    * commits up to `version` are no longer needed: a reader enters at
    * the checkpoint and replays only the tail, which is how real Delta
    * tables survive log cleanup. Add actions keep their stats and
    * deletion-vector descriptors (PROTOCOL.md §Checkpoints), so a
    * DV-live version checkpoints losslessly.
    *
    * Classic: one `<v>.checkpoint.parquet` of every action. `v2`
    * (PROTOCOL.md §V2 Spec, how large tables checkpoint incrementally):
    * the adds go to one parquet SIDECAR under `_delta_log/_sidecars/`,
    * and a uuid-named `<v>.checkpoint.<uuid>.json` manifest carries
    * `checkpointMetadata`, a protocol with the `v2Checkpoint` feature,
    * `metaData` and one `sidecar` action. Both parquet shapes are the
    * rendered JSON actions parsed with the checkpoint schema. */
  def checkpoint(spark: SparkSession, table: String, version: Option[Long] = None,
      v2: Boolean = false): Long = {
    val f = fs(spark, table)
    val v = version.getOrElse(DeltaRead.versions(spark, table).last)
    val (live, partCols, schemaJson) = DeltaRead.replay(spark, table, Some(v))
    val dvFeature =
      if (live.exists(_.dv.exists(_.cardinality > 0))) Seq("deletionVectors") else Nil
    val adds = live.map(a => add(a.path, a.pvals.toSeq, a.size, a.modTime, a.stats,
      a.dv.filter(_.cardinality > 0)))
    val meta = metaData(table, schemaJson, partCols, Nil, None)
    val log = s"$table/_delta_log"
    def parquet(actions: Seq[String], schema: StructType, dest: Path): Long = {
      val df = spark.read.schema(schema)
        .json(spark.createDataset(actions)(Encoders.STRING)).coalesce(1)
      staged(spark, table, df) { parts =>
        f.delete(dest, false)
        install(spark, parts.head._1.getPath, dest)
        parts.head._1.getLen
      }
    }
    val size =
      if (!v2) {
        val actions = Seq(meta, protocol(dvFeature)) ++ adds
        parquet(actions, classicT, new Path(f"$log/$v%020d.checkpoint.parquet"))
        actions.size
      } else {
        val uuid = UUID.randomUUID()
        val sidecar = new Path(s"$log/_sidecars/$uuid.parquet")
        val len = parquet(adds, StructType(Seq(StructField("add", addT))), sidecar)
        val manifest = Seq(s"""{"checkpointMetadata":{"version":$v}}""",
          protocol("v2Checkpoint" +: dvFeature), meta,
          s"""{"sidecar":{"path":${js(sidecar.getName)},"sizeInBytes":$len,"modificationTime":${System.currentTimeMillis()}}}""")
        AtomicPublish.publish(spark, new Path(f"$log/$v%020d.checkpoint.$uuid.json"),
          manifest.map(_ + "\n").mkString.getBytes("UTF-8"))
        manifest.size + adds.size
      }
    // `_last_checkpoint` is a hint that each checkpoint replaces, not
    // a commit record; readers list the log instead of trusting it
    AtomicPublish.replace(spark, new Path(s"$log/_last_checkpoint"),
      s"""{"version":$v,"size":$size}""".getBytes("UTF-8"))
    v
  }
}
