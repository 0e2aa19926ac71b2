package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Hudi-timeline WRITE-path interop (reference HUDI connector +
  * table-sink family, `DataSinks.thrift:45-65`): materialize a
  * `.hoodie/` COW timeline beside a native Lake table over the SAME
  * data files. Each Lake data file is its own file group (fileId =
  * table-relative path); a Lake snapshot's file DIFF exports as one
  * instant — a plain `.commit` when files were only added, a
  * `.replacecommit` (Hudi's insert_overwrite/clustering action) when
  * CoW delete/update/compact retired files. Instant i = Lake version
  * i zero-padded, so instant-asOf time travel through [[HudiRead]]
  * replays the same history [[Lake.read]] serves.
  *
  * Idempotent + incremental like [[DeltaExport]]/[[IcebergWrite.exportLake]]:
  * existing instants are skipped; O(changed files) metadata, no data
  * copies. */
object HudiExport {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Export all not-yet-exported Lake snapshots as timeline instants.
    * Returns the latest instant string. */
  /** Hudi-style partitionPath for a file: `col=value/...` in partition
    * column order, values URL-encoded; "" for unpartitioned. */
  private def partitionPathOf(cols: Seq[String], values: Map[String, String]): String =
    cols.map { c =>
      // hive path escaping is PERCENT-encoding: URLEncoder's '+' for
      // space would be read back literally by real Hudi/Hive consumers
      val enc = java.net.URLEncoder.encode(
        values.getOrElse(c, "__HIVE_DEFAULT_PARTITION__"), "UTF-8")
        .replace("+", "%20")
      c + "=" + enc
    }.mkString("/")

  def exportHudiTimeline(spark: SparkSession, table: String): String = {
    val cur = Lake.currentVersion(spark, table)
    require(cur > 0, s"no committed Lake version at $table")
    val f = fs(spark, table)
    val qualified = f.makeQualified(new Path(table)).toString
    val mapper = new ObjectMapper()
    def rel(p: String): String = {
      val r = p.stripPrefix(s"$qualified/").stripPrefix(s"$table/")
      require(!r.contains(":"), s"cannot relativize $p against $qualified")
      r
    }
    f.mkdirs(new Path(s"$table/.hoodie"))
    // Hudi CoW readers take every listed base file whole — a snapshot
    // with pending delete vectors would export deleted rows as live.
    // Export the DV-free snapshots only (timeline instants keep their
    // Lake version stamps; gaps are legal in a Hudi timeline), diffing
    // clean-to-clean; the CURRENT snapshot must be clean — fold first.
    // one manifest read per version per call (the DeltaExport memo)
    val snapCache = scala.collection.mutable.Map[Int, Lake.Snapshot]()
    def snapOf(v: Int) = snapCache.getOrElseUpdate(v,
      Lake.readSnapshot(spark, table, v))
    require(snapOf(cur).dvFiles.isEmpty,
      s"current Lake snapshot v$cur carries pending delete vectors — " +
        s"run Lake.foldDeletes before Hudi export (or export via " +
        s"IcebergWrite.exportLake, which emits format v2 position deletes)")
    val cleanVs = (1 to cur).filter(v => snapOf(v).dvFiles.isEmpty)
    var last = ""
    cleanVs.zipWithIndex.foreach { case (v, i) =>
      val instant = f"$v%014d"
      last = instant
      val commitP = new Path(s"$table/.hoodie/$instant.commit")
      val replaceP = new Path(s"$table/.hoodie/$instant.replacecommit")
      if (!f.exists(commitP) && !f.exists(replaceP)) {
        val snap = snapOf(v)
        val partCols = snap.partitionCols
        // (relative path → (partitionPath, sizeBytes)) for this + prior
        def fileMap(ver: Int): Map[String, (String, Long)] =
          snapOf(ver).files.map(x =>
            rel(x.path) -> (partitionPathOf(partCols, x.partitionValues), x.sizeBytes)).toMap
        val now = fileMap(v)
        val prev: Map[String, (String, Long)] =
          if (i == 0) Map.empty else fileMap(cleanVs(i - 1))
        val added = (now.keySet -- prev.keySet).toSeq.sorted
        val removed = (prev.keySet -- now.keySet).toSeq.sorted
        // both maps keyed by partitionPath — the Hudi timeline model
        // (HoodieCommitMetadata.partitionToWriteStats); a partitioned
        // reader recovers each file's partition FROM THE TIMELINE
        def grouped(keys: Seq[String], src: Map[String, (String, Long)]) =
          keys.groupBy(k => src(k)._1).toSeq.sortBy(_._1)
        val body = new StringBuilder("{")
        if (removed.nonEmpty) {
          val parts = grouped(removed, prev).map { case (pp, ks) =>
            s"""${mapper.writeValueAsString(pp)}:[${ks.map(mapper.writeValueAsString).mkString(",")}]"""
          }
          body.append(s""""partitionToReplaceFileIds":{${parts.mkString(",")}},""")
        }
        val statParts = grouped(added, now).map { case (pp, ks) =>
          val stats = ks.map { r =>
            s"""{"fileId":${mapper.writeValueAsString(r)},"path":${mapper.writeValueAsString(r)},"fileSizeInBytes":${now(r)._2}}"""
          }
          s"""${mapper.writeValueAsString(pp)}:[${stats.mkString(",")}]"""
        }
        body.append(s""""partitionToWriteStats":{${statParts.mkString(",")}}}""")
        val target = if (removed.nonEmpty) replaceP else commitP
        AtomicPublish.publish(spark, target, body.toString.getBytes("UTF-8"))
      }
    }
    last
  }
}
