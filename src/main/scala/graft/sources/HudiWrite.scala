package graft.sources

import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Hudi timeline writer (reference HUDI connector + table-sink
  * family, `DataSinks.thrift:45-65`). Every instant graft writes goes
  * through ONE commit core: the write stats render through one
  * `partitionToWriteStats` renderer (grouped by partitionPath, the
  * HoodieCommitMetadata model), and `<instant>.<action>` publishes
  * through [[AtomicPublish.publishOrDiscard]]. Base and log files carry
  * a per-commit write token in their names, so a commit that loses the
  * race for its instant deletes exactly the files it staged and throws
  * `ConcurrentModificationException`.
  *
  * One instant rule: a new instant is the largest existing instant of
  * any kind (commit, deltacommit, replacecommit) or claim, plus 1 — a
  * timeline with gaps never reuses one. Each instant is claimed once,
  * whatever its action, before its action file publishes, so a racing
  * `commit` and `deltaCommit` cannot both take one instant.
  * [[exportLake]] records in each instant it writes the Lake version
  * that instant mirrors, and numbers it no lower than that version, so
  * instant-as-of time travel replays the Lake's history.
  *
  * Entry points: [[commit]] (copy-on-write file groups),
  * [[deltaCommit]] (a merge-on-read log batch) and [[exportLake]] (a COW
  * timeline beside a native Lake table). [[HudiRead]] reads what these
  * write. */
object HudiWrite {

  private val mapper = new ObjectMapper()

  private def js(s: String): String = mapper.writeValueAsString(s)

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One write stat: a file group's table-relative file and its size,
    * under the partitionPath it was written to. */
  private final case class WriteStat(partitionPath: String, fileId: String,
      path: String, size: Long)

  /** An instant's commit metadata: `partitionToReplaceFileIds` (the
    * file groups a replacecommit retires, as (partitionPath, fileId))
    * and `partitionToWriteStats`, both keyed by partitionPath, and in
    * `extraMetadata` the Lake version an exported instant mirrors. */
  private def instantJson(stats: Seq[WriteStat],
      replaced: Seq[(String, String)] = Nil, lakeVersion: Option[Int] = None): String = {
    def byPartition[A](xs: Seq[A])(pp: A => String)(render: A => String) =
      xs.groupBy(pp).toSeq.sortBy(_._1).map { case (p, g) =>
        s"${js(p)}:${g.map(render).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    val replace =
      if (replaced.isEmpty) ""
      else s""""partitionToReplaceFileIds":${byPartition(replaced)(_._1)(r => js(r._2))},"""
    val writes = byPartition(stats)(_.partitionPath)(s =>
      s"""{"fileId":${js(s.fileId)},"path":${js(s.path)},"fileSizeInBytes":${s.size}}""")
    val extra = lakeVersion.fold("")(v => s"${js(LakeVersionKey)}:${js(v.toString)}")
    s"""{$replace"partitionToWriteStats":$writes,"extraMetadata":{$extra}}"""
  }

  private def timeline(spark: SparkSession, table: String): Seq[(String, String)] =
    try HudiRead.timeline(spark, table) catch { case _: IllegalArgumentException => Nil }

  /** Where an instant's claim lives: `.hoodie/.aux/<instant>.claim`,
    * which the timeline listing ignores. */
  private def claimDir(table: String) = new Path(s"$table/.hoodie/.aux")

  private val Claim = "(\\d+)\\.claim".r

  /** The largest instant completed or claimed, plus 1 — a claim a
    * crashed writer left behind is a gap, which the timeline allows. */
  private def nextInstant(spark: SparkSession, table: String): String = {
    val f = fs(spark, table)
    val claimed = if (!f.exists(claimDir(table))) Nil
      else f.listStatus(claimDir(table)).toSeq.map(_.getPath.getName)
        .collect { case Claim(i) => i }
    f"${(timeline(spark, table).map(_._1) ++ claimed).map(_.toLong).maxOption.getOrElse(0L) + 1}%014d"
  }

  /** The commit core: claim the instant, whatever the action, with an
    * empty create-once `<instant>.claim`, then publish
    * `<instant>.<action>`. When a racing writer took the instant —
    * for any action — delete `staged` and throw
    * `ConcurrentModificationException`. */
  private def publish(spark: SparkSession, table: String, instant: String,
      action: String, json: String, staged: Seq[Path]): Unit = {
    AtomicPublish.publishOrDiscard(spark, new Path(claimDir(table), s"$instant.claim"),
      Array.emptyByteArray, staged)
    AtomicPublish.publishOrDiscard(spark, new Path(s"$table/.hoodie/$instant.$action"),
      json.getBytes("UTF-8"), staged)
  }

  /** One copy-on-write commit: each DataFrame of `groups` becomes (or
    * replaces) the base file of its file group. Returns the instant. */
  def commit(table: String, groups: Map[String, DataFrame]): String = {
    require(groups.nonEmpty, "commit needs at least one file group")
    val spark = groups.head._2.sparkSession
    val f = fs(spark, table)
    val instant = nextInstant(spark, table)
    val token = UUID.randomUUID()
    val stats = groups.toSeq.map { case (fileId, df) =>
      val staging = new Path(s"$table/_staging_${UUID.randomUUID()}")
      try {
        df.coalesce(1).write.parquet(staging.toString)
        val part = f.listStatus(staging).filter(_.getPath.getName.endsWith(".parquet")).head
        val dest = s"${fileId}_${token}_$instant.parquet"
        require(f.rename(part.getPath, new Path(s"$table/$dest")),
          s"failed to install $table/$dest")
        WriteStat("", fileId, dest, part.getLen)
      } finally f.delete(staging, true)
    }
    publish(spark, table, instant, "commit", instantJson(stats),
      stats.map(s => new Path(s"$table/${s.path}")))
    instant
  }

  /** Stamp `keyField` as the table's record key in
    * `hoodie.properties` on first use, and refuse a conflicting one.
    * The file publishes atomically; a racing first batch that loses
    * re-reads the winner's file and applies the same check. */
  private def stampRecordKey(spark: SparkSession, table: String, keyField: String): Unit = {
    def check(k: String): Unit = require(k == keyField, s"table record key is $k, not $keyField")
    HudiRead.recordKeyField(spark, table) match {
      case Some(k) => check(k)
      case None =>
        val props = new java.util.Properties()
        props.setProperty("hoodie.table.recordkey.fields", keyField)
        props.setProperty("hoodie.table.type", "MERGE_ON_READ")
        val bytes = new java.io.ByteArrayOutputStream()
        props.store(bytes, null)
        try AtomicPublish.publish(spark, new Path(s"$table/.hoodie/hoodie.properties"),
          bytes.toByteArray)
        catch { case e: java.util.ConcurrentModificationException =>
          check(HudiRead.recordKeyField(spark, table).getOrElse(throw e))
        }
    }
  }

  /** MoR WRITE: append an upsert/delete batch to a file group as a log
    * file + `.deltacommit` instant (the streaming-ingest shape a Hudi
    * upsert sink produces), stamping the record key on first use.
    * Returns the instant. */
  def deltaCommit(table: String, fileId: String, keyField: String,
      upserts: Option[DataFrame], deleteKeys: Seq[String] = Nil): String = {
    require(upserts.nonEmpty || deleteKeys.nonEmpty, "empty delta batch")
    val spark = upserts.map(_.sparkSession).getOrElse(SparkSession.active)
    val f = fs(spark, table)
    val g = HudiRead.liveGroups(spark, table, None).getOrElse(fileId,
      throw new IllegalArgumentException(s"unknown file group $fileId at $table"))
    stampRecordKey(spark, table, keyField)
    val instant = nextInstant(spark, table)
    val blocks = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    upserts.foreach { df =>
      require(df.columns.contains(keyField), s"batch missing key $keyField")
      val dataSchema = spark.read.parquet(s"$table/${g.base.path}").schema
      val avro = HudiLog.avroSchemaFor(dataSchema)
      val rows = df.select(dataSchema.fieldNames.map(
        org.apache.spark.sql.functions.col).toIndexedSeq: _*).collect()
      blocks += HudiLog.dataBlockBytes(instant, avro,
        rows.toSeq.map(HudiLog.rowToAvro(avro, dataSchema, _)))
    }
    if (deleteKeys.nonEmpty)
      blocks += HudiLog.deleteBlockBytes(instant, deleteKeys)
    val dir = Option(new Path(g.base.path).getParent)
      .map(_.toString).filterNot(_ == "").map(_ + "/").getOrElse("")
    val rel = s"$dir.${fileId}_$instant.log.${g.logs.size + 1}_${UUID.randomUUID()}"
    val log = new Path(s"$table/$rel")
    HudiLog.writeLogFile(spark, log.toString, blocks.toSeq)
    publish(spark, table, instant, "deltacommit",
      instantJson(Seq(WriteStat(g.base.partitionPath, fileId, rel, f.getFileStatus(log).getLen))),
      Seq(log))
    instant
  }

  /** Hudi-style partitionPath for a file: `col=value/...` in partition
    * column order, values percent-encoded; "" for unpartitioned. */
  private def partitionPathOf(cols: Seq[String], values: Map[String, String]): String =
    cols.map { c =>
      // hive path escaping is PERCENT-encoding: URLEncoder's '+' for
      // space would be read back literally by real Hudi/Hive consumers
      val enc = java.net.URLEncoder.encode(
        values.getOrElse(c, "__HIVE_DEFAULT_PARTITION__"), "UTF-8")
        .replace("+", "%20")
      c + "=" + enc
    }.mkString("/")

  private val LakeVersionKey = "graft.lake.version"

  /** The last exported Lake version and its instant: the newest
    * instant that records a version (exports number ascending). */
  private def lastExport(spark: SparkSession, table: String): Option[(Int, String)] =
    timeline(spark, table).reverseIterator.flatMap { case (instant, name) =>
      mapper.readTree(AtomicPublish.read(spark, new Path(s"$table/.hoodie/$name")).get)
        .path("extraMetadata").path(LakeVersionKey).asText("").toIntOption
        .map(_ -> instant)
    }.nextOption()

  /** Export every not-yet-exported Lake snapshot as a timeline instant
    * over the SAME data files (each Lake data file is its own file
    * group, fileId = table-relative path): a `.commit` when files were
    * only added, a `.replacecommit` (Hudi's insert_overwrite/clustering
    * action) when CoW delete/update/compact retired files. Hudi CoW
    * readers take every listed base file whole, so only DV-free
    * snapshots export (diffed clean-to-clean) and the CURRENT snapshot
    * must be clean — fold first. Incremental: the versions after the
    * last one recorded ([[LakeVersionKey]]) export, each at the next
    * free instant no lower than its version (a `deltaCommit` may have
    * taken that number) and diffed against the version exported before
    * it. O(changed files) metadata, no data copies. Returns the
    * instant of the current Lake version. */
  def exportLake(spark: SparkSession, table: String): String = {
    val cur = Lake.currentVersion(spark, table)
    require(cur > 0, s"no committed Lake version at $table")
    val f = fs(spark, table)
    val qualified = f.makeQualified(new Path(table)).toString
    def rel(p: String): String = {
      val r = p.stripPrefix(s"$qualified/").stripPrefix(s"$table/")
      require(!r.contains(":"), s"cannot relativize $p against $qualified")
      r
    }
    // one manifest read per version per call
    val snapCache = scala.collection.mutable.Map[Int, Lake.Snapshot]()
    def snapOf(v: Int) = snapCache.getOrElseUpdate(v, Lake.readSnapshot(spark, table, v))
    require(snapOf(cur).dvFiles.isEmpty,
      s"current Lake snapshot v$cur carries pending delete vectors — " +
        s"run Lake.foldDeletes before Hudi export (or export via " +
        s"IcebergWrite.exportLake, which emits format v2 position deletes)")
    val exported = lastExport(spark, table)
    val todo = (exported.fold(0)(_._1) + 1 to cur).filter(v => snapOf(v).dvFiles.isEmpty)
    // each new version diffs against the one exported before it
    val bases: Seq[Option[Int]] = exported.map(_._1) +: todo.map(Some(_))
    val published = todo.zip(bases).map { case (v, base) =>
      val partCols = snapOf(v).partitionCols
      def statsOf(ver: Int): Map[String, WriteStat] = snapOf(ver).files.map { x =>
        val r = rel(x.path)
        r -> WriteStat(partitionPathOf(partCols, x.partitionValues), r, r, x.sizeBytes)
      }.toMap
      val now = statsOf(v)
      val prev = base.fold(Map.empty[String, WriteStat])(statsOf)
      val added = (now.keySet -- prev.keySet).toSeq.sorted.map(now)
      val removed = (prev.keySet -- now.keySet).toSeq.sorted.map(r => prev(r).partitionPath -> r)
      val instant = Seq(nextInstant(spark, table), f"$v%014d").max
      publish(spark, table, instant, if (removed.isEmpty) "commit" else "replacecommit",
        instantJson(added, removed, Some(v)), Nil)
      v -> instant
    }
    (exported.toSeq ++ published).last._2
  }
}
