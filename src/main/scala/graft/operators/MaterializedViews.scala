package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.sources.AtomicPublish

/** Materialized views: precomputed results with full or incremental
  * refresh.
  *
  * Reference: SYNC/ASYNC/INCREMENTAL MVs
  * (`fe/fe-core/src/main/java/com/starrocks/catalog/MaterializedView.java:140,199-212`,
  * stream plan nodes `gensrc/thrift/PlanNodes.thrift:83-85`). The
  * Spark-native shape (SURVEY.md §1.1): an MV is a parquet table plus
  * the definition that produced it —
  *  - SYNC/full refresh ≡ recompute + atomic directory overwrite;
  *  - INCREMENTAL refresh ≡ the same definition applied to a
  *    Structured Streaming source with a checkpoint, so each refresh
  *    processes only new files (Trigger.AvailableNow micro-batch).
  *
  * Scale notes: full refresh is a plain batch job (AQE-planned);
  * incremental refresh state is bounded by the aggregation keys ×
  * watermark window, not input size — the property that makes an MV
  * on a 100 TB fact table refreshable in O(new data).
  */
object MaterializedViews {

  /** Definition: name + the view as a function of the session. The
    * definition runs identically over a batch or streaming source —
    * keep transforms to Column expressions for that to hold. */
  final case class MvDef(name: String, define: DataFrame => DataFrame)

  private def path(baseDir: String, name: String) = s"$baseDir/$name"

  /** Incremental maintenance of an aggregate MV carrying
    * NON-DECOMPOSABLE aggregates (MIN/MAX) from a row-level change
    * feed — the reference keeps retractable min/max state for its
    * stream MVs (`be/src/exprs/agg/stream/retract_maxmin.h`); the
    * Spark-native shape is change-feed-driven re-aggregation of ONLY
    * the groups whose standing extreme a delete might have retracted.
    *
    * Inputs are projected to fixed column names: `mv` = the standing
    * aggregate `(g, n, s, mn, mx)`; `changes` = the feed
    * `(g, v, __change_type)` ([[graft.sources.Lake.changes]] /
    * DeltaRead.changes contract: updates arrive as delete(old) +
    * insert(new)); `base` = the CURRENT base table projected to
    * `(g, v)`. Maintenance:
    *  - count/sum apply as retraction deltas (never rescan);
    *  - an INSERT can only extend an extreme: `mn' = least(mn, ins)`;
    *  - a DELETE at or beyond a group's standing extreme forces that
    *    group onto the rescan list; deletes strictly inside
    *    `(mn, mx)` cannot move either extreme and stay delta-only.
    * The rescan re-aggregates `base` filtered to the affected groups
    * (an IN filter on `g` — partition/file-prunable when the base is
    * partitioned or clustered by the group), so the recompute cost is
    * O(affected groups' data), not O(table). The affected-group key
    * list is collected driver-side — bounded by the CHANGED group
    * count, load-batch scale by the feed contract, never table scale.
    * Groups whose count reaches zero drop out. Returns the maintained
    * `(g, n, s, mn, mx)`. */
  def applyDeltaMinMax(mv: DataFrame, changes: DataFrame,
      base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val ct = col("__change_type")
    val ins = ct === "insert"
    val deltas = changes.groupBy(col("g")).agg(
      sum(when(ins, 1L).otherwise(-1L)).as("dn"),
      sum(when(ins, col("v")).otherwise(-col("v"))).as("ds"),
      min(when(ins, col("v"))).as("ins_mn"),
      max(when(ins, col("v"))).as("ins_mx"),
      min(when(!ins, col("v"))).as("del_mn"),
      max(when(!ins, col("v"))).as("del_mx"))
    // pinned: the rescan-key collect AND the delta-only maintenance
    // both consume this join — unpinned, the MV read + change-feed
    // aggregation + full-outer join executed twice per poll. Bounded
    // by (MV groups + changed groups), the MV's own scale contract.
    val joined = mv.join(deltas, Seq("g"), "full_outer").localCheckpoint(true)
    // a delete at/below the standing min or at/beyond the standing
    // max may retract it; a group with deletes but NO standing row
    // (feed ahead of the MV) also rescans rather than guessing
    val needsRescan = (col("del_mn").isNotNull || col("del_mx").isNotNull) &&
      (col("mn").isNull || col("del_mn") <= col("mn") ||
        col("del_mx") >= col("mx"))
    val rescanKeys = joined.filter(needsRescan).select(col("g"))
      .collect().map(_.get(0))
    val deltaOnly = joined.filter(!coalesce(needsRescan, lit(false)))
      .select(col("g"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0).cast(mv.schema("s").dataType)) +
          coalesce(col("ds"), lit(0).cast(mv.schema("s").dataType)))
          .cast(mv.schema("s").dataType).as("s"),
        least(col("mn"), col("ins_mn")).as("mn"),
        greatest(col("mx"), col("ins_mx")).as("mx"))
      .filter(col("n") > 0)
    if (rescanKeys.isEmpty) deltaOnly
    else {
      val rescanned = base.filter(col("g").isin(rescanKeys.toIndexedSeq: _*))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast(mv.schema("s").dataType).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      deltaOnly.unionByName(rescanned)
    }
  }

  /** Full (SYNC-style) refresh: recompute and atomically replace.
    * If the MV is registered for auto-rewrite, refresh THROUGH
    * [[graft.plans.MvRewrite.register]]: it deregisters first (so the
    * refresh write is not itself rewritten to read the path it
    * overwrites) and re-registers with a fresh scan of the new files —
    * otherwise rewrites would silently serve stale data. */
  def refreshFull(source: DataFrame, mv: MvDef, baseDir: String): Unit = {
    val out = mv.define(source)
    if (graft.plans.MvRewrite.registered.contains(mv.name))
      graft.plans.MvRewrite.register(out.sparkSession, mv.name, out, path(baseDir, mv.name))
    else
      out.write.mode("overwrite").parquet(path(baseDir, mv.name))
  }

  /** Incremental (ASYNC-style) refresh: apply the same definition to a
    * streaming source; only new files since the checkpoint are read.
    * Caller's `streamSource` must be a readStream DataFrame. */
  def refreshIncremental(streamSource: DataFrame, mv: MvDef, baseDir: String,
      checkpointDir: String): StreamingQuery =
    mv.define(streamSource).writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", path(baseDir, mv.name))
      .option("checkpointLocation", s"$checkpointDir/${mv.name}")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Read the materialized result (the MV "scan" the optimizer would
    * rewrite a matching query to). */
  def read(spark: SparkSession, baseDir: String, name: String): DataFrame =
    spark.read.parquet(path(baseDir, name))

  /** The state version a [[maintainMinMaxMv]] MV's `_current` pointer
    * names, or None before the first poll. */
  private def mvPointer(spark: SparkSession, mvDir: String): Option[Int] =
    AtomicPublish.read(spark, new Path(s"$mvDir/_current"))
      .map(b => new String(b, "UTF-8").trim.toInt)

  /** Current state of a [[maintainMinMaxMv]] MV (pointer-resolved). */
  def readMinMaxMv(spark: SparkSession, mvDir: String): DataFrame = {
    val v = mvPointer(spark, mvDir)
    require(v.isDefined, s"no maintained MV at $mvDir")
    spark.read.parquet(s"$mvDir/state-v${v.get}")
  }

  /** STANDING min/max MV maintained from the Lake change-feed
    * subscription — [[applyDeltaMinMax]] composed with
    * [[graft.streaming.ChangeFeed.poll]]'s exactly-once ledger: one
    * poll applies the (cursor, current] retraction window to the MV
    * state and publishes the new state KEYED BY the `to` version: it
    * writes the state-v<N> directory, then replaces the `_current`
    * pointer through [[AtomicPublish.replace]] (a reader sees the old
    * or the new state, never a torn or missing pointer). A crash
    * between apply and cursor commit replays into the same versioned
    * directory — idempotent, the exactly-once recipe the
    * stream_lake_cdc_poll gate proves for counts, now carrying
    * non-decomposable aggregates. First poll bootstraps the state
    * from a full aggregate at the table's current version.
    *
    * `gv` produces the (group, value) Columns over any frame carrying
    * the table's columns — applied to base reads and feed windows
    * alike. Returns the applied window (None = nothing new). Cost per
    * poll: O(changed rows) + a bounded rescan of extreme-retracting
    * groups ([[applyDeltaMinMax]]'s contract). */
  def maintainMinMaxMv(spark: SparkSession, table: String,
      mvDir: String, ledgerPath: String,
      gv: DataFrame => (org.apache.spark.sql.Column, org.apache.spark.sql.Column),
      failBeforeCommit: Boolean = false): Option[(Int, Int)] = {
    import org.apache.spark.sql.functions._
    def statePath(v: Int) = s"$mvDir/state-v$v"
    def swapPointer(v: Int): Unit = AtomicPublish.replace(spark,
      new Path(s"$mvDir/_current"), v.toString.getBytes("UTF-8"))
    def projGv(df: DataFrame): DataFrame = {
      val (g, v) = gv(df); df.select(g.as("g"), v.as("v"))
    }
    def aggAll(df: DataFrame): DataFrame = df.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    mvPointer(spark, mvDir) match {
      case None =>
        // bootstrap: full aggregate at the CURRENT version; the
        // ledger seeds there so the first real poll starts after it
        val cur = graft.sources.Lake.currentVersion(spark, table)
        aggAll(projGv(graft.sources.Lake.read(spark, table)))
          .write.mode("overwrite").parquet(statePath(cur))
        swapPointer(cur)
        graft.streaming.ChangeFeed.commitCursor(spark, ledgerPath, cur)
        Some((0, cur))
      case Some(stateV) =>
        graft.streaming.ChangeFeed.poll(spark, table, ledgerPath,
          initialVersion = stateV, failBeforeCommit = failBeforeCommit) { (changes, from, to) =>
          val base = projGv(graft.sources.Lake.read(spark, table))
          // the state's schema is the aggregate's: reading with it
          // skips parquet schema inference (a Spark job per poll)
          val mv = spark.read.schema(aggAll(base).schema).parquet(statePath(from))
          val (g, v) = gv(changes)
          val feed = changes.select(g.as("g"), v.as("v"), col("__change_type"))
          val updated = applyDeltaMinMax(mv, feed, base)
          // versioned state + pointer swap: a replayed window rewrites
          // state-v<to> identically, never corrupts state-v<from>
          updated.write.mode("overwrite").parquet(statePath(to))
          swapPointer(to)
        }
    }
  }

  final case class PctReport(refreshed: Seq[String], removed: Seq[String], unchanged: Int)

  /** Partition-change-tracking (PCT) refresh — the reference's
    * partitioned async-MV refresh (`MaterializedView.java`
    * partition-based refresh; only base partitions whose version
    * changed are recomputed). Spark-native shape:
    *
    *  - base table is directory-partitioned parquet
    *    (`basePath/partCol=v/…`);
    *  - a manifest under the MV path records a fingerprint (file
    *    name+length+mtime set) per base partition;
    *  - refresh recomputes ONLY stale/new partitions — the source is
    *    filtered on partCol (partition-pruned scan, nothing else is
    *    read) and written with dynamic partition overwrite, so
    *    untouched MV partitions keep their files byte-for-byte;
    *  - base partitions that disappeared are dropped from the MV.
    *
    * Requirement: `mv.define` must be partition-local on partCol
    * (e.g. group by partCol + others) so recomputing a partition's
    * slice yields exactly that partition's MV rows — same contract
    * the reference imposes on partitioned-MV definitions.
    *
    * Scale: refresh cost is O(changed partitions), not O(table); the
    * manifest is KB-sized metadata (one line per partition). */
  def refreshPartitioned(spark: SparkSession, basePath: String, partCol: String,
      mv: MvDef, baseDir: String): PctReport = {
    import scala.jdk.CollectionConverters._
    val mvPath = path(baseDir, mv.name)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(basePath).getFileSystem(conf)

    def fingerprint(dir: org.apache.hadoop.fs.Path): String = {
      val it = fs.listFiles(dir, true)
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          parts += s"$n:${f.getLen}:${f.getModificationTime}"
      }
      java.util.Arrays.hashCode(parts.sorted.toArray[AnyRef]).toString
    }

    val current: Map[String, String] = fs.listStatus(new org.apache.hadoop.fs.Path(basePath))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(s => s.getPath.getName.stripPrefix(s"$partCol=") -> fingerprint(s.getPath))
      .toMap

    val manifestPath = new org.apache.hadoop.fs.Path(s"$mvPath/_pct_manifest.json")
    val previous: Map[String, String] =
      if (fs.exists(manifestPath)) {
        val in = fs.open(manifestPath)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        graft.functions.JsonKernel.mapper.readValue(bytes, classOf[java.util.Map[String, String]])
          .asScala.toMap
      } else Map.empty

    val stale = current.filter { case (p, fp) => previous.get(p) != Some(fp) }.keys.toSeq.sorted
    val removed = (previous.keySet -- current.keySet).toSeq.sorted

    if (stale.nonEmpty) {
      val src = spark.read.parquet(basePath)
        .where(col(partCol).cast("string").isin(stale: _*))
      // pinned: the live-partition distinct AND the overwrite both
      // consume the recompute — unpinned, the stale-partition
      // re-aggregation ran twice per refresh (MV output rows, bounded)
      val recomputed = mv.define(src).localCheckpoint(true)
      // Dynamic partition overwrite only rewrites partitions PRESENT in
      // the output: a stale partition whose recompute now yields zero MV
      // rows would keep its old files while the manifest marks it fresh.
      // Those are deleted AFTER the write succeeds (not before — a
      // failure between a pre-delete and the overwrite would leave live
      // partitions missing until the retry; readers must never see a
      // gap). The extra distinct() is a pruned scan of only the stale
      // partitions and collects partition VALUES (low-cardinality
      // metadata), not rows.
      val live = recomputed.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      graft.Engine.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        recomputed.write.mode("overwrite").partitionBy(partCol).parquet(mvPath)
      }
      stale.filterNot(live).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$mvPath/$partCol=$p"), true)
      }
    }
    removed.foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$mvPath/$partCol=$p"), true)
    }
    AtomicPublish.replace(spark, manifestPath,
      graft.functions.JsonKernel.mapper.writeValueAsBytes(current.asJava))
    PctReport(stale, removed, current.size - stale.size)
  }
}
