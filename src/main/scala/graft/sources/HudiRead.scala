package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reader for Apache Hudi COPY-ON-WRITE table layouts (public format:
  * hudi.apache.org/docs/concepts — a `.hoodie/` timeline of
  * `<instant>.commit` JSON files whose write stats name the base
  * parquet files, and file groups where the LATEST base file per
  * fileId is the live slice). The reference ships a Hudi external
  * connector (`fe/fe-core/.../connector/hudi/`, ConnectorType HUDI);
  * this is the Spark-native equivalent over the open timeline format,
  * no hudi-spark bundle required.
  *
  * Replay: commits in instant order; each write stat maps fileId →
  * base file path; later commits REPLACE a file group's slice
  * (copy-on-write semantics). Snapshot read = latest slice per group,
  * scanned as plain parquet (pushdown/pruning as usual).
  *
  * MERGE-ON-READ: `.deltacommit` instants append LOG FILES to a file
  * group ([[HudiLog]] blocks — Avro upsert records + delete keys);
  * the snapshot read resolves base + logs per group by RECORD KEY
  * (`hoodie.table.recordkey.fields` from `.hoodie/hoodie.properties`),
  * folding blocks in timeline order so upsert→delete→re-insert lands
  * on the final image, exactly the resolution a compaction would
  * materialize. A base-file rewrite (compaction) retires the group's
  * earlier logs. [[read]] detects pending logs and DELEGATES to the
  * merge — a streaming-ingest MoR table can never serve stale
  * base-only rows silently. Log deltas are load-batch scale by the
  * MoR contract (the Delta-DV / Iceberg-position-delete bound), so
  * the per-group fold is driver-resident metadata work, and the base
  * scan stays a plain pruned parquet read at any table size.
  * [[HudiWrite]] writes the timelines this reads; this object only
  * reads. */
object HudiRead {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Completed commit/replacecommit instants, ascending.
    * (replacecommit = Hudi's insert_overwrite/clustering action: its
    * partitionToReplaceFileIds retires whole file groups — the only
    * way a group disappears in the timeline format.) */
  def instants(spark: SparkSession, table: String): Seq[String] =
    timeline(spark, table).map(_._1)

  private val Completed = "(.+)\\.(commit|deltacommit|replacecommit)".r

  /** (instant, timeline file name) per completed instant, ascending. */
  private[sources] def timeline(spark: SparkSession, table: String): Seq[(String, String)] = {
    val dir = new Path(s"$table/.hoodie")
    val f = fs(spark, table)
    if (!f.exists(dir)) throw new IllegalArgumentException(
      s"not a hudi table (no .hoodie): $table")
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case n @ Completed(i, _) => i -> n }.sorted.toSeq
  }

  /** A live file slice: table-relative path, the timeline's
    * partitionPath key it was written under, and the recorded size. */
  final case class Slice(path: String, partitionPath: String,
      sizeBytes: Option[Long])

  /** fileId → live base-file path at `instantAsOf` (default latest). */
  def liveSlices(spark: SparkSession, table: String,
      instantAsOf: Option[String] = None): Map[String, String] =
    liveSliceDetails(spark, table, instantAsOf).map { case (k, s) => k -> s.path }

  /** A file group's state: the live base [[Slice]] plus its pending
    * MoR log files (table-relative, timeline order). A base rewrite
    * retires the logs it absorbed. */
  final case class GroupState(base: Slice, logs: Seq[String])

  /** fileId → live [[Slice]] at `instantAsOf` (default latest). */
  def liveSliceDetails(spark: SparkSession, table: String,
      instantAsOf: Option[String] = None): Map[String, Slice] =
    liveGroups(spark, table, instantAsOf).map { case (k, g) => k -> g.base }

  /** fileId → [[GroupState]] at `instantAsOf`: the COW base replay
    * plus per-group log files appended by `.deltacommit` instants
    * (write stats whose path is a `.log.` file append rather than
    * replace). */
  def liveGroups(spark: SparkSession, table: String,
      instantAsOf: Option[String] = None): Map[String, GroupState] = {
    val f = fs(spark, table)
    val mapper = new ObjectMapper()
    val instantFiles = timeline(spark, table)
    val upTo = instantAsOf.getOrElse(instantFiles.last._1)
    val live = scala.collection.mutable.LinkedHashMap[String, GroupState]()
    instantFiles.filter(_._1 <= upTo).foreach { case (i, name) =>
      val in = f.open(new Path(s"$table/.hoodie/$name"))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val node = mapper.readTree(text)
      // replacecommit retires file groups BEFORE its own writes apply
      val replaced = node.get("partitionToReplaceFileIds")
      if (replaced != null) {
        val parts = replaced.fields()
        while (parts.hasNext) parts.next().getValue.forEach(id => live.remove(id.asText()))
      }
      val stats = node.get("partitionToWriteStats")
      if (stats != null) {
        val parts = stats.fields()
        while (parts.hasNext) {
          val entry = parts.next()
          val partitionPath = entry.getKey
          entry.getValue.forEach { ws =>
            val fileId = ws.get("fileId").asText()
            val path = ws.get("path").asText()
            if (path.contains(".log.")) {
              val g = live.getOrElse(fileId, throw new IllegalArgumentException(
                s"deltacommit $i logs to unknown file group $fileId"))
              // real hudi APPENDS blocks to an open log file, so later
              // deltacommits re-list the same path — fold it once (the
              // per-block instant headers carry the commit attribution)
              if (!g.logs.contains(path))
                live(fileId) = g.copy(logs = g.logs :+ path)
            } else
              // a fresh base slice absorbs/retires the group's logs
              live(fileId) = GroupState(Slice(path, partitionPath,
                Option(ws.get("fileSizeInBytes")).map(_.asLong)), Nil)
          }
        }
      }
    }
    live.toMap
  }

  /** Snapshot scan at an instant: latest slice per file group. A
    * table with PENDING MoR LOGS delegates to [[readMor]] — base-only
    * rows would be silently stale, the one failure mode a lakehouse
    * reader must never have. */
  def read(spark: SparkSession, table: String,
      instantAsOf: Option[String] = None): DataFrame = {
    val groups = liveGroups(spark, table, instantAsOf)
    if (groups.values.exists(_.logs.nonEmpty)) readMor(spark, table, instantAsOf)
    else readIndexed(spark, table, instantAsOf)._1
  }

  /** As [[read]]; when the timeline is partitioned, the scan goes
    * through the manifest-backed LakeFileIndex — partition columns are
    * restored (as strings — hive path encoding is untyped) FROM THE
    * TIMELINE's partitionPath keys, partition filters prune files
    * before the scan, and the index is returned for test assertions.
    * Unpartitioned timelines keep the plain basePath read. */
  /** Hive-style `col=val/col2=val2` partitionPath → ordered pairs;
    * None for values-only or otherwise unparseable layouts. */
  private def parseHivePath(pp: String): Option[Seq[(String, String)]] = {
    val segs = pp.split('/').toSeq.filter(_.nonEmpty).map { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) return None
      seg.substring(0, i) ->
        PathNames.unescapePathName(seg.substring(i + 1))
    }
    Some(segs)
  }

  /** Partition fields declared in `hoodie.properties`
    * (`hoodie.table.partition.fields`) — how real Hudi tables name
    * the columns of a VALUES-ONLY partitionPath layout
    * (`americas/brazil/sao_paulo`). */
  def partitionFields(spark: SparkSession, table: String): Seq[String] =
    hoodieProps(spark, table)
      .flatMap(p => Option(p.getProperty("hoodie.table.partition.fields")))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  private def hoodieProps(spark: SparkSession, table: String): Option[java.util.Properties] = {
    val p = new Path(s"$table/.hoodie/hoodie.properties")
    val f = fs(spark, table)
    if (!f.exists(p)) None
    else {
      val props = new java.util.Properties()
      val in = f.open(p)
      try props.load(in) finally in.close()
      Some(props)
    }
  }

  /** [[parseHivePath]] with the VALUES-ONLY fallback: when no segment
    * carries `=` and the segment count matches the table's declared
    * partition fields, segments map positionally onto those names —
    * the most common foreign Hudi layout. */
  private def parsePartitionPath(pp: String,
      fields: Seq[String]): Option[Seq[(String, String)]] =
    parseHivePath(pp).orElse {
      val segs = pp.split('/').toSeq.filter(_.nonEmpty)
      if (fields.nonEmpty && segs.length == fields.length &&
          !segs.exists(_.contains('=')))
        Some(fields.zip(segs.map(PathNames.unescapePathName)))
      else None
    }

  def readIndexed(spark: SparkSession, table: String,
      instantAsOf: Option[String] = None): (DataFrame, Option[Lake.LakeFileIndex]) = {
    val slices = liveSliceDetails(spark, table, instantAsOf).values.toSeq
    if (slices.isEmpty)
      throw new IllegalArgumentException(s"no live slices at $table")
    val pFields = partitionFields(spark, table)
    def parsePath(pp: String): Option[Seq[(String, String)]] =
      parsePartitionPath(pp, pFields)
    // the timeline-indexed path needs EVERY slice to carry a
    // partitionPath naming its columns — hive `col=val` segments, or
    // values-only segments mapped onto hoodie.properties' declared
    // partition fields — over one consistent column set; layouts that
    // mix partitioned and unpartitioned stats keep the plain basePath
    // read, which handles any directory shape
    val parsed = slices.map(s => parsePath(s.partitionPath))
    val colSets = parsed.map(_.map(_.map(_._1)))
    val uniform = colSets.forall(_.isDefined) &&
      colSets.flatten.map(_.toSet).distinct.size == 1 &&
      colSets.flatten.headOption.exists(_.nonEmpty)
    if (!uniform) {
      // basePath: slices under hive-style partition dirs (a Lake
      // export's data/commit-N/p=x/…) recover their partition columns
      return (spark.read.option("basePath", table)
        .parquet(slices.map(s => s"$table/${s.path}"): _*), None)
    }
    val partCols = parsed.head.get.map(_._1)
    val f = fs(spark, table)
    val dataSchema = spark.read.parquet(s"$table/${slices.head.path}").schema
    val fullSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields.toSeq ++ partCols.map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
    val lakeFiles = slices.map { s =>
      val abs = s"$table/${s.path}"
      val (size, mod) = s.sizeBytes match {
        case Some(b) => (b, 0L)
        case None =>
          val st = f.getFileStatus(new Path(abs)); (st.getLen, st.getModificationTime)
      }
      Lake.LakeFile(abs, size, mod, 0L,
        parsePath(s.partitionPath).getOrElse(Nil).toMap)
    }
    val snap = Lake.Snapshot(1, 0L, fullSchema.json, partCols, lakeFiles)
    val (df, index) = Lake.indexedDataFrame(spark, table, snap)
    (df, Some(index))
  }

  /** The table's record-key field from `.hoodie/hoodie.properties`
    * (`hoodie.table.recordkey.fields`) — how real Hudi tables declare
    * the merge key; required for any MoR read. */
  def recordKeyField(spark: SparkSession, table: String): Option[String] =
    hoodieProps(spark, table)
      .flatMap(p => Option(p.getProperty("hoodie.table.recordkey.fields")))
      .map(_.trim).filter(_.nonEmpty)

  /** Pending-log volume cap for the DRIVER-side MoR fold: dirty
    * groups whose total log bytes exceed this switch to the
    * DISTRIBUTED fold (log paths shipped to executors, per-key window
    * over timeline order) — a table whose compaction lags thousands of
    * deltacommits must never accumulate every pending record in
    * driver memory. This is only the DEFAULT — callers (specs, the
    * probe) thread an override through [[readMor]]'s parameter, so
    * nothing mutates shared state under a concurrent read. */
  private[graft] val morInlineLogBytesCap: Long = 64L << 20

  /** MERGE-ON-READ snapshot: per file group, fold the pending log
    * blocks in timeline order onto a key → final-image map (upsert
    * replaces, delete tombstones, re-insert revives — the resolution
    * compaction would materialize), then assemble
    * `base ⟕ anti(touched keys) ∪ final upsert images` as one Spark
    * plan: the base stays a full-speed parquet scan; the log side is
    * a broadcast-scale local relation while pending bytes fit
    * [[morInlineLogBytesCap]], and a DISTRIBUTED decode + per-(group,
    * key) window past it — either way nothing table-sized ever sits
    * on the driver. Groups without logs scan clean.
    *
    * PARTITIONED tables: each group's directory-encoded partition
    * columns are restored from the timeline's `partitionPath` (hive
    * `col=val` segments, attached as string literals before the union
    * — the [[readIndexed]] typing). Only groups whose partitionPath
    * is UNPARSEABLE (values-only layouts) still refuse. */
  def readMor(spark: SparkSession, table: String,
      instantAsOf: Option[String] = None,
      inlineLogBytesCap: Long = morInlineLogBytesCap): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val groups = liveGroups(spark, table, instantAsOf)
    if (groups.isEmpty)
      throw new IllegalArgumentException(s"no live slices at $table")
    val pairs = groups.toSeq
    val (dirtyP, cleanP) = pairs.partition(_._2.logs.nonEmpty)
    if (dirtyP.isEmpty) return readIndexed(spark, table, instantAsOf)._1
    val dirty = dirtyP.map(_._2); val clean = cleanP.map(_._2)
    val keyField = recordKeyField(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"$table has MoR log files but no hoodie.table.recordkey.fields — " +
          "cannot merge without the record key"))
    // partition columns live in DIRECTORY names; restore them from the
    // timeline's partitionPath per group — hive `col=val` segments, or
    // values-only segments mapped onto hoodie.properties' declared
    // partition fields. Only layouts naming columns NEITHER way refuse
    // loudly; compaction restores the timeline-indexed CoW path.
    val pFields = partitionFields(spark, table)
    def parsePP(pp: String): Option[Seq[(String, String)]] =
      parsePartitionPath(pp, pFields)
    val allG = dirty ++ clean
    val unpartitioned = allG.forall(_.base.partitionPath.isEmpty)
    val partCols: Seq[String] =
      if (unpartitioned) Nil
      else {
        val parsed = allG.map(g => parsePP(g.base.partitionPath))
        require(parsed.forall(_.exists(_.nonEmpty)) &&
            parsed.flatten.map(_.map(_._1).toSet).distinct.size == 1,
          s"$table has pending logs under a partitionPath layout that " +
            "names no columns (neither hive col=val nor " +
            "hoodie.table.partition.fields) — the merge cannot restore " +
            "the directory-encoded partition columns; compact (rewrite " +
            "the base) and use the timeline-indexed read")
        parsed.head.get.map(_._1)
      }
    def withParts(df: DataFrame, pp: String): DataFrame =
      if (partCols.isEmpty) df
      else parsePP(pp).get.foldLeft(df) { case (d, (k, v)) =>
        d.withColumn(k, lit(v)) }
    val f = fs(spark, table)
    val dataSchema = spark.read.parquet(s"$table/${dirty.head.base.path}").schema
    require(dataSchema.fieldNames.contains(keyField),
      s"record key $keyField missing from the base schema")
    val totalLogBytes = dirty.flatMap(_.logs)
      .map(rel => f.getFileStatus(new Path(s"$table/$rel")).getLen).sum
    // (touched keys, final upsert images w/ partition cols, broadcastable?)
    val (touchedDf, upsertDf, logSideSmall) =
      if (totalLogBytes <= inlineLogBytesCap)
        driverFold(spark, table, dirtyP, keyField, dataSchema, withParts,
          instantAsOf)
      else
        distributedFold(spark, table, dirtyP, keyField, dataSchema, partCols,
          parsePP, instantAsOf)
    // dirty bases per partition tuple, partition columns attached
    val dirtyBase = dirty.groupBy(_.base.partitionPath).map { case (pp, gs) =>
      withParts(spark.read.parquet(gs.map(g => s"$table/${g.base.path}"): _*), pp)
    }.reduce(_ unionByName _)
    val survivors = dirtyBase
      .withColumn("__hk", col(keyField).cast("string"))
      .join(if (logSideSmall) broadcast(touchedDf) else touchedDf,
        Seq("__hk"), "left_anti")
      .drop("__hk")
    val merged = survivors.unionByName(upsertDf)
    if (clean.isEmpty) merged
    else merged.unionByName(
      clean.groupBy(_.base.partitionPath).map { case (pp, gs) =>
        withParts(spark.read.parquet(gs.map(g => s"$table/${g.base.path}"): _*), pp)
      }.reduce(_ unionByName _))
  }

  /** In-memory fold (pending bytes ≤ [[morInlineLogBytesCap]]): per
    * group, key → final image in timeline order; returns broadcastable
    * touched keys + a LocalRelation of upsert images. */
  private def driverFold(spark: SparkSession, table: String,
      dirtyP: Seq[(String, GroupState)], keyField: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      withParts: (DataFrame, String) => DataFrame,
      instantAsOf: Option[String]): (DataFrame, DataFrame, Boolean) = {
    import spark.implicits._
    // (partitionPath, final image) per surviving key
    val upserts = scala.collection.mutable.ArrayBuffer[(String, org.apache.spark.sql.Row)]()
    val touched = scala.collection.mutable.ArrayBuffer[String]()
    dirtyP.foreach { case (_, g) =>
      val state = scala.collection.mutable.LinkedHashMap[String, Option[org.apache.spark.sql.Row]]()
      g.logs.foreach { rel =>
        // blocks NEWER than the as-of instant don't apply (real hudi
        // appends blocks for several commits into one log file)
        HudiLog.readLogFile(spark, s"$table/$rel")
          .filter(b => instantAsOf.forall(b.instantTime <= _)).foreach {
          case HudiLog.Data(_, _, recs) => recs.foreach { r =>
            val k = Option(r.get(keyField)).map(_.toString).getOrElse(
              throw new IllegalArgumentException(s"log record with NULL key in $rel"))
            state(k) = Some(HudiLog.avroToRow(dataSchema, r))
          }
          case HudiLog.Delete(_, keys) => keys.foreach(k => state(k) = None)
        }
      }
      state.foreach { case (k, img) =>
        touched += k
        img.foreach(r => upserts += ((g.base.partitionPath, r)))
      }
    }
    val upsertDf = upserts.groupBy(_._1).map { case (pp, rows) =>
      withParts(spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(_._2).toSeq, 1), dataSchema), pp)
    }.reduceOption(_ unionByName _).getOrElse {
      withParts(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema),
        dirtyP.head._2.base.partitionPath)
    }
    (touched.toSeq.toDF("__hk"), upsertDf, true)
  }

  /** Distributed fold for deep log backlogs: ship (group, ord, path)
    * triples to executors, decode there ([[HudiLog.readLogFile]] with
    * the task-local Hadoop conf), resolve the final image per (group,
    * key) with one window over the timeline order, and re-attach each
    * group's partition values through a broadcast gid→tuple map. The
    * driver holds only file PATHS; shuffle is O(pending log records). */
  private def distributedFold(spark: SparkSession, table: String,
      dirtyP: Seq[(String, GroupState)], keyField: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      parsePP: String => Option[Seq[(String, String)]],
      instantAsOf: Option[String]): (DataFrame, DataFrame, Boolean) = {
    import org.apache.spark.sql.functions.{broadcast, col, row_number}
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val logMeta: Seq[(String, Int, String)] = dirtyP.flatMap { case (gid, g) =>
      g.logs.zipWithIndex.map { case (rel, i) => (gid, i, s"$table/$rel") }
    }
    val foldSchema = StructType(
      Seq(StructField("__gid", StringType), StructField("__ord", LongType),
        StructField("__hk", StringType), StructField("__del", BooleanType)) ++
      dataSchema.fields)
    val nData = dataSchema.size
    val schemaB = dataSchema // serialized into the closure
    // the SESSION's Hadoop configuration must ride to the executors —
    // a bare `new Configuration()` would drop s3a credentials / custom
    // fs impls exactly on the production-scale (over-cap) path
    val confB = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext
      .parallelize(logMeta, math.max(1, math.min(logMeta.size, 256)))
      .flatMap { case (gid, ord, path) =>
        val conf = confB.value
        val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        var seq = ord.toLong << 32 // per-group timeline order
        HudiLog.readLogFile(conf, path)
          .filter(b => instantAsOf.forall(b.instantTime <= _)).foreach {
          case HudiLog.Data(_, _, recs) => recs.foreach { r =>
            seq += 1
            val k = Option(r.get(keyField)).map(_.toString).getOrElse(
              throw new IllegalArgumentException(s"log record with NULL key in $path"))
            out += org.apache.spark.sql.Row.fromSeq(
              Seq(gid, seq, k, false) ++ HudiLog.avroToRow(schemaB, r).toSeq)
          }
          case HudiLog.Delete(_, keys) => keys.foreach { k =>
            seq += 1
            out += org.apache.spark.sql.Row.fromSeq(
              Seq(gid, seq, k, true) ++ Seq.fill(nData)(null))
          }
        }
        out
      }
    val foldDf = spark.createDataFrame(rdd, foldSchema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__gid", "__hk").orderBy(col("__ord").desc)
    val latest = foldDf.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val ups0 = latest.filter(!col("__del"))
      .select((Seq(col("__gid")) ++ dataSchema.fieldNames.map(col)): _*)
    val upsertDf =
      if (partCols.isEmpty) ups0.drop("__gid")
      else {
        // gid → partition tuple: #dirty groups rows, broadcast-scale
        val gidRows = dirtyP.map { case (gid, g) =>
          org.apache.spark.sql.Row.fromSeq(
            gid +: partCols.map(c => parsePP(g.base.partitionPath)
              .flatMap(_.find(_._1 == c)).map(_._2).orNull))
        }
        val gidSchema = StructType(StructField("__gid", StringType) +:
          partCols.map(c => StructField(c, StringType)))
        val gidDf = spark.createDataFrame(
          java.util.Arrays.asList(gidRows: _*), gidSchema)
        ups0.join(broadcast(gidDf), Seq("__gid")).drop("__gid")
      }
    (foldDf.select(col("__hk")).distinct(), upsertDf, false)
  }
}
