package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.KeysModels
import graft.sources.{Formats, InformationSchema}
import util._

/** Format ingestion round-trips, information_schema, and the
  * remaining keys-model DML (AGG fold, UPDATE/DELETE rewrite).
  */
object SourcesQ extends graft.QueryArea {

  private val relTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private def tmpDir(dir: String, tag: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${dir.replaceAll("[^0-9a-z]", "_")}"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Lake-format snapshot read (sources.Lake): write orders as a
    // partitioned lake table, read it back through the manifest-backed
    // FileIndex with a partition filter — equality with the direct
    // oracle proves the manifest listing, partition-value typing, and
    // pruning path end to end.
    "src_lake_snapshot" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_snap")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.read(spark, table)
        .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Schema evolution: v2 appends files with a NEW column; the current
    // snapshot's schema governs the read and v1's files (written before
    // the column existed) surface it as NULL — Iceberg/Delta add-column
    // semantics from the manifest schema, no rewrite of old files.
    "src_lake_schema_evolution" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_evo")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 0), table, Nil)
      graft.sources.Lake.write(
        o.filter(col("o_orderkey") % 2 === 1).withColumn("o_band",
          when(col("o_totalprice") > 150000, "high").otherwise("low")),
        table, Nil, mode = "append")
      graft.sources.Lake.read(spark, table)
        .groupBy(coalesce(col("o_band"), lit("absent")).as("band"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("band"))
    }),
    // Copy-on-write DELETE: only files containing matching rows are
    // rewritten; the rest carry into the new snapshot by manifest
    // reference (CoW asserted in PlanSpec; this gate checks the
    // surviving-row semantics incl. NULL-predicate rows kept)
    "src_lake_delete" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_del")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.delete(spark, table,
        col("o_totalprice") > 200000 && col("o_orderkey") % 2 === 0)
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Fast schema evolution DDL: ADD COLUMN (old files surface NULL),
    // append fills it, RENAME COLUMN (metadata-only logical mapping),
    // DROP COLUMN — all without rewriting a data file; oracle rebuilds
    // the same logical table relationally
    "src_lake_alter_columns" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_alter")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 0), table, Nil)
      graft.sources.Lake.addColumn(spark, table, "flag",
        org.apache.spark.sql.types.StringType)
      graft.sources.Lake.write(
        o.filter(col("o_orderkey") % 2 === 1).withColumn("flag", lit("late")),
        table, Nil, mode = "append")
      graft.sources.Lake.renameColumn(spark, table, "o_totalprice", "price")
      graft.sources.Lake.dropColumn(spark, table, "o_orderpriority")
      graft.sources.Lake.read(spark, table)
        .groupBy(coalesce(col("flag"), lit("none")).as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("flag"))
    }),
    // Merge-on-read DELETE: two stacked positional delete vectors —
    // no data file rewritten, read masks via broadcast anti-join on
    // (file, row_index); oracle = plain NOT-predicate filter
    "src_lake_delete_mor" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_mor")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.deleteMor(spark, table, col("o_totalprice") > 250000)
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 7 === 0)
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Compaction: three append commits leave 3 small files per
    // partition; compact() rewrites them into ~one per partition with
    // byte-identical rows (oracle = the plain table aggregate)
    "src_lake_compact" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_cmp")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 0),
        table, Seq("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 1),
        table, Seq("o_orderpriority"), mode = "append")
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 2),
        table, Seq("o_orderpriority"), mode = "append")
      graft.sources.Lake.compact(spark, table)
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Copy-on-write UPDATE: SET applied to matching rows of touched
    // files only; non-matching rows of those files rewritten verbatim
    "src_lake_update" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_upd")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.update(spark, table,
        col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 3 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 1.1)))
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    }),
    // Copy-on-write MERGE INTO: base table holds keys % 4 != 3; the
    // source doubles totalprice for keys % 8 == 1 (matched → replace,
    // only their files rewritten) and supplies keys % 4 == 3 (not
    // matched → insert). Readback must equal the SQL merge of the two
    // row sets, including min/max keys proving the inserts landed.
    "src_lake_merge" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_mrg")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 4 =!= 3),
        table, Seq("o_orderpriority"))
      val src = o.filter(col("o_orderkey") % 8 === 1 || col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 8 === 1, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderpriority"))
      graft.sources.Lake.merge(spark, table, src, Seq("o_orderkey"))
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Merge-on-read MERGE INTO: same upsert semantics as
    // src_lake_merge but the commit appends the source as new files
    // and delete-vectors the replaced positions — no target file
    // rewritten (the reference primary-key load path); matched keys
    // use a DIFFERENT modulus so both gates stay independent
    "src_lake_merge_mor" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_mrgmor")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 4 =!= 1),
        table, Seq("o_orderpriority"))
      val src = o.filter(col("o_orderkey") % 6 === 2 || col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 6 === 2, col("o_totalprice") * 3)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderpriority"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"))
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Primary-key __op load (reference Load_to_Primary_Key_tables.md
    // §"UPSERT and DELETE"): one batch deletes keys %10==3, doubles
    // totalprice for keys %10==7, and inserts the %5==0 keys the base
    // excluded — committed as one MoR snapshot
    "src_lake_op_load" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_opload")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 5 =!= 0), table, Nil)
      val src = o.filter(col("o_orderkey") % 10 === 3 ||
          col("o_orderkey") % 10 === 7 || col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 7, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderpriority"),
          when(col("o_orderkey") % 10 === 3, 1).otherwise(0).as("__op"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"),
        opCol = Some("__op"))
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Conditional update (reference Load_to_Primary_Key_tables.md
    // §"Conditional updates"): ver = o_orderkey % 7 on the target; the
    // source writes ver=3, so only keys with %7 <= 3 accept the update
    // — out-of-order protection, rejected rows keep value AND position
    "src_lake_merge_condition" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_mrgcond")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
      val base = o.select(col("o_orderkey"),
        (col("o_orderkey") % 7).cast("int").as("ver"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(base, table, Nil)
      val src = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit(3).cast("int").as("ver"),
          (col("o_totalprice") * 10).as("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"),
        mergeCondition = Some("ver"))
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          sum(col("ver").cast("long")).as("sum_ver"))
        .orderBy(col("o_orderpriority"))
    }),
    // Row-mode partial update (reference Load_to_Primary_Key_tables.md
    // §"Partial updates"): the source carries (key, totalprice) only —
    // matched rows keep their priority/status from the target, inserted
    // rows get NULL there
    "src_lake_partial_update" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_partupd")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"), col("o_orderstatus"))
      graft.sources.Lake.write(o, table, Nil)
      val src = o.filter(col("o_orderkey") % 4 === 2)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("o_totalprice"))
        .unionByName(o.filter(col("o_orderkey") % 4 === 1)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit(5.0).as("o_totalprice")))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"),
        partialUpdate = true)
      graft.sources.Lake.read(spark, table)
        .groupBy(coalesce(col("o_orderpriority"), lit("none")).as("prio"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          count(col("o_orderstatus")).as("n_status"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("prio"))
    }),
    // Merge-on-read UPDATE: same SET semantics as src_lake_update but
    // the commit appends new row images + delete-vectors the old
    // positions — no file rewritten (different modulus keeps the two
    // gates independent)
    "src_lake_update_mor" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_updmor")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.updateMor(spark, table,
        col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 5 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 1.2)))
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    }),
    // Load-triggered schema evolution: an evolving MoR load carrying
    // a column the table lacks ADD-COLUMNs it (metadata-only) and
    // lands — pre-existing rows read the new column as NULL, the
    // load's rows carry it
    "src_lake_evolve_load" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_evo")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o, table, Nil)
      val src = t(spark, dir, "orders").filter(col("o_orderkey") % 6 === 1)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderpriority").as("tag"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"),
        autoEvolve = true)
      graft.sources.Lake.read(spark, table)
        .groupBy(coalesce(col("tag"), lit("none")).as("tag"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("tag"))
    }),
    // Row-level change feed (Delta-CDF shape) at O(delta) cost: a
    // mergeMor (upsert %12==1 doubled + insert the %3==0 keys the
    // base excluded) then a deleteMor (%12==5) — changes(1,3) must
    // emit the inserts, the upserts' OLD images as deletes, and the
    // deleted rows, all derived from manifests without a table scan
    "src_lake_changes" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_chg")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 =!= 0), table, Nil)
      val src = o.filter(col("o_orderkey") % 12 === 1 || col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 12 === 1, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"))
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 12 === 5)
      graft.sources.Lake.changes(spark, table, 1, 3)
        .groupBy(col("__change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .select(col("change_type"), col("n"), col("total"),
          col("min_key"), col("max_key"))
        .orderBy(col("change_type"))
    }),
    // Policy-driven maintenance (the reference's background
    // compaction loop): five tiny appends build small-file debt that
    // maybeCompact pays with a compact; a MoR delete then builds
    // delete-vector debt that a second maybeCompact pays with a fold;
    // below thresholds it does nothing. Readback must equal the
    // post-delete state — maintenance never changes query results.
    "src_lake_auto_compact" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_autoc")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 5 === 0), table, Nil)
      (1 to 4).foreach(i => graft.sources.Lake.write(
        o.filter(col("o_orderkey") % 5 === i), table, Nil, mode = "append"))
      val before = graft.sources.Lake.compactionScore(spark, table,
        smallFileBytes = 512L << 20)
      require(before.smallFiles >= 4, "fixture must build small-file debt")
      val v1 = graft.sources.Lake.maybeCompact(spark, table,
        smallFileBytes = 512L << 20)
      require(v1.nonEmpty, "small-file debt must trigger compaction")
      require(graft.sources.Lake.compactionScore(spark, table,
        smallFileBytes = 512L << 20).files < before.files,
        "compaction must shrink the file count")
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 7 === 1)
      val v2 = graft.sources.Lake.maybeCompact(spark, table,
        smallFileBytes = 1L, maxDvRatio = 0.01)
      require(v2.nonEmpty &&
        graft.sources.Lake.readSnapshot(spark, table, v2.get).dvFiles.isEmpty,
        "DV debt must trigger a fold")
      require(graft.sources.Lake.maybeCompact(spark, table,
        smallFileBytes = 1L).isEmpty, "no debt -> no action")
      graft.sources.Lake.read(spark, table)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    }),
    // Time travel: three commits (overwrite, append, overwrite) — each
    // snapshot version stays readable because data files are immutable
    // and manifests are per-version. The output reads all three
    // versions; the oracle recomputes each version's expected content
    // from the commit definitions.
    // Delta Lake protocol interop (sources/DeltaRead.scala): build a
    // REAL _delta_log layout (protocol/metaData/add/remove JSON
    // actions), then time-travel-read it back without any delta jar —
    // v1 holds keys %3∈{0,1}; commit 2 tombstones the %3==0 files and
    // adds %3==2, so latest = {1,2}. Oracle from the base table.
    "src_delta_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_ext")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.DeltaRead.commit(o.filter(col("o_orderkey") % 3 === 0).coalesce(1), table)
      graft.sources.DeltaRead.commit(o.filter(col("o_orderkey") % 3 === 1).coalesce(1), table)
      val v0 = graft.sources.DeltaRead.liveFiles(spark, table, Some(0L))
      graft.sources.DeltaRead.commit(o.filter(col("o_orderkey") % 3 === 2).coalesce(1),
        table, removePaths = v0)
      val reads = Seq(1L -> Some(1L), 2L -> None).map { case (tag, v) =>
        graft.sources.DeltaRead.read(spark, table, v)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("version"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("version"))
    }),
    // Delta COLUMN MAPPING (mode=name — how real writers implement
    // RENAME/DROP COLUMN without rewrites): the data files carry
    // opaque physical names (col-xxxx) and the log schema maps them
    // to logical names via field metadata; the reader must serve the
    // logical schema with dropped physical columns never leaking
    "src_delta_colmap" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_cmap")
      graft.sources.Formats.deleteDir(spark, table)
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey").as("col-k1"), col("o_totalprice").as("col-p2"),
          col("o_orderpriority").as("col-x3"), lit("legacy").as("col-gone"))
      val staging = s"$table/_stage"
      o.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      require(f.rename(part,
        new org.apache.hadoop.fs.Path(s"$table/d1.parquet")),
        s"failed to install $table/d1.parquet")
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
      import org.apache.spark.sql.types._
      def mapped(lg: String, ph: String, dt: DataType) =
        StructField(lg, dt, nullable = true, new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", ph).build())
      val schema = StructType(Seq(
        mapped("o_orderkey", "col-k1", LongType),
        mapped("o_totalprice", "col-p2", DoubleType),
        mapped("o_orderpriority", "col-x3", StringType)))
      val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(schema.json)
      val out = f.create(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/${0L}%020d.json"), true)
      try out.write((
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
        s"""{"metaData":{"id":"cm","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""" + "\n" +
        """{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n"
        ).getBytes("UTF-8")) finally out.close()
      graft.sources.DeltaRead.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Delta CDF (table_changes shape) derived from log actions alone:
    // a MoR lake history (mergeMor upsert %10==2 tripled + insert the
    // %4==3 keys the base excluded, then deleteMor %10==6) exports as
    // DV-upgraded re-adds, and DeltaRead.changes must emit the same
    // retraction rows Lake.changes derives from the manifests —
    // inserts, the upserts' OLD images, and the newly-masked deletes
    "src_delta_cdf_changes" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_cdf")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 4 =!= 3), table, Nil)
      val src = o.filter(col("o_orderkey") % 10 === 2 || col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 2, col("o_totalprice") * 3)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"))
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 10 === 6)
      graft.sources.DeltaExport.exportDeltaLog(spark, table)
      graft.sources.DeltaRead.changes(spark, table, 0L, 2L)
        .groupBy(col("__change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .select(col("change_type"), col("n"), col("total"),
          col("min_key"), col("max_key"))
        .orderBy(col("change_type"))
    }),
    // Delta CDF WRITE side: the export materializes each non-append
    // commit's row-level changes as _change_data parquet + cdc
    // actions (PROTOCOL.md §Change Data Files); changesCdf replays
    // the feed FROM THOSE FILES — an independent reader path that
    // must agree with the oracle's recomputation (and, per
    // DeltaReadSpec, row-for-row with Lake.changes).
    "src_delta_cdf_write" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_cdfw")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 5 =!= 4), table, Nil)
      val src = o.filter(col("o_orderkey") % 10 === 1 || col("o_orderkey") % 5 === 4)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 1, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"))
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 10 === 7)
      graft.sources.DeltaExport.exportDeltaLog(spark, table, withCdf = true)
      graft.sources.DeltaRead.changesCdf(spark, table, 0L, 2L)
        .groupBy(col("__change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .select(col("change_type"), col("n"), col("total"),
          col("min_key"), col("max_key"))
        .orderBy(col("change_type"))
    }),
    // Delta CHECKPOINT of a DV-LIVE version (PROTOCOL.md §Checkpoints:
    // deletionVector descriptors ride in the checkpoint's add struct):
    // export a MoR-deleted table, checkpoint the last version, then
    // DELETE every covered JSON commit — the read must bootstrap from
    // the checkpoint parquet alone and still mask the deleted rows.
    "src_delta_checkpoint_dv" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_ckdv")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o, table, Nil)
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 7 === 0)
      graft.sources.DeltaExport.exportDeltaLog(spark, table)
      val ck = graft.sources.DeltaRead.writeCheckpoint(spark, table)
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      (0L to ck).foreach(v => f.delete(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/$v%020d.json"), false))
      graft.sources.DeltaRead.read(spark, table)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
    }),
    // V2 CHECKPOINT (PROTOCOL.md §V2 Spec — how large real tables
    // checkpoint): add actions live in a parquet SIDECAR under
    // _delta_log/_sidecars/, a UUID-named JSON manifest carries
    // checkpointMetadata + metaData + protocol(v2Checkpoint) + sidecar
    // actions. Covered JSON commits are deleted, so the read MUST
    // bootstrap manifest → sidecar → DV mask.
    // FOREIGN-log interop: a REAL Delta-Lake 3.1.0 `_delta_log`
    // (classic checkpoint parquet at v30 + JSON commit v31 +
    // `_last_checkpoint`, from the reference's fe test resources —
    // vendored, metadata-only). The read bootstraps from the real
    // checkpoint's add rows (map-typed partitionValues, stats JSON)
    // and replays the JSON tail on top; oracle is the log's literal
    // per-partition file inventory.
    "src_delta_foreign_read" -> ((spark, dir) => {
      val table = graft.sources.Fixtures.dir(spark, "delta_foreign")
      graft.sources.DeltaRead.inventory(spark, table)
        .groupBy(col("col_date"))
        .agg(count(lit(1)).as("n"), sum(col("size")).as("bytes"),
          sum(col("num_records")).as("records"))
        .orderBy(col("col_date"))
    }),
    "src_delta_checkpoint_v2" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_ck2")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o, table, Nil)
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 9 === 2)
      graft.sources.DeltaExport.exportDeltaLog(spark, table)
      val ck = graft.sources.DeltaRead.writeCheckpointV2(spark, table)
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      (0L to ck).foreach(v => f.delete(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/$v%020d.json"), false))
      graft.sources.DeltaRead.read(spark, table)
        .groupBy((col("o_orderkey") % 3).cast("int").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("g"))
    }),
    // Delta DELETION VECTORS (how modern writers delete without
    // rewriting): a foreign-shaped table whose add carries a u-stored
    // roaring-bitmap descriptor; the read must mask exactly the
    // vector's row positions — here every rank%10==3 position of the
    // orderkey-sorted single file, which the oracle reproduces with
    // row_number
    "src_delta_dv_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_dv")
      graft.sources.Formats.deleteDir(spark, table)
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
      val staging = s"$table/_stage"
      o.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      require(f.rename(part,
        new org.apache.hadoop.fs.Path(s"$table/d1.parquet")),
        s"failed to install $table/d1.parquet")
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
      val n = o.count()
      val positions = (3L until n by 10L).toArray
      val d = graft.sources.DeltaDv.writeUuidDv(spark, table, positions)
      val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(o.schema.json)
      val out = f.create(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/${0L}%020d.json"), true)
      try out.write((
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""" + "\n" +
        s"""{"metaData":{"id":"dv","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[]}}""" + "\n" +
        s"""{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}}}""" + "\n"
        ).getBytes("UTF-8")) finally out.close()
      graft.sources.DeltaRead.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Delta WRITE-path interop (sources/DeltaExport.scala; reference
    // ICEBERG/HIVE_TABLE_SINK, DataSinks.thrift:45-65): native Lake
    // commits (append + CoW delete) export an incremental _delta_log,
    // and the protocol reader replays it — latest AND time travel —
    // to the same rows the Lake manifest serves. Oracle recomputes
    // both versions straight from the parquet source.
    "src_delta_write_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "delta_exp")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 0), table, Nil)
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 1), table, Nil, mode = "append")
      graft.sources.Lake.delete(spark, table, col("o_orderkey") % 6 === 1)
      graft.sources.DeltaExport.exportDeltaLog(spark, table)
      val reads = Seq(1L -> Some(1L), 2L -> None).map { case (tag, v) =>
        graft.sources.DeltaRead.read(spark, table, v)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("version"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("version"))
    }),
    // Iceberg WRITE-path interop (sources/IcebergExport.scala;
    // reference ICEBERG_TABLE_SINK): Lake commits export spec-shaped
    // Iceberg metadata over the SAME data files (no copies); the
    // protocol reader replays latest + snapshot-id time travel.
    // REAL-SPEC Iceberg v2 interop (IcebergReal): manifests with the
    // Java implementation's exact Avro schemas — field-ids 500-519 /
    // 0-4 / 100-142, ["null",T] optionals, typed r102 partition
    // records (date = logicalType-date day ordinals), k*_v* bounds
    // maps, full 15-field manifest_file list entries, and the complete
    // v2 metadata.json (table-uuid, refs, sort-orders, snapshot-log).
    // Two commits, carried-forward manifest list; IcebergRead serves
    // it through the transform index (identity sources live IN the
    // data files — the ecosystem norm). Oracle is plain orders.
    "src_iceberg_foreign_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_real")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          trunc(to_date(col("o_orderdate")), "year").as("o_year"))
      graft.sources.IcebergReal.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), table, Seq("o_year"))
      graft.sources.IcebergReal.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), table, Seq("o_year"))
      graft.sources.IcebergRead.read(spark, table)
        .groupBy(year(col("o_year")).cast("int").as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("y"))
    }),
    // REAL-SPEC Iceberg v2 MERGE-ON-READ (IcebergReal
    // .commitPositionDeletes): content=1 DELETE manifests whose
    // entries are full v2 data_file structs (content=1, typed
    // partition records), position-delete parquet with the spec's
    // reserved field-ids, sequence-number scoping — a LATER append's
    // rows survive a predicate the earlier delete matched (commit 4
    // re-adds the %5=2 odd keys AFTER the %3 delete; path-targeted
    // deletes never reach them). IcebergRead's clean/dirty split
    // masks only touched files.
    "src_iceberg_foreign_mor" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_real_mor")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          trunc(to_date(col("o_orderdate")), "year").as("o_year"))
      val late = col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 2
      graft.sources.IcebergReal.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), table, Seq("o_year"))
      graft.sources.IcebergReal.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1 && !late), table, Seq("o_year"))
      graft.sources.IcebergReal.commitPositionDeletes(spark, table,
        col("o_orderkey") % 3 === 0)
      graft.sources.IcebergReal.commitAppend(
        o.filter(late), table, Seq("o_year"))
      graft.sources.IcebergRead.read(spark, table)
        .groupBy(year(col("o_year")).cast("int").as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("y"))
    }),
    // REAL-SPEC Iceberg v2 EQUALITY deletes (the Flink-CDC encoding;
    // IcebergReal.commitEqualityDeletes): content=1 DELETE manifest
    // whose data_file is content=2 with equality_ids naming the
    // TABLE field-ids; the delete parquet carries exactly the
    // equality columns under those footer ids. Scoping is STRICT
    // (dataSeq < deleteSeq): commit 4 RE-INSERTS the %7=3 odd keys —
    // their %5=0 members were equality-deleted in commit 3 but the
    // re-inserted images survive their own delete (the CDC upsert
    // pattern IcebergRead.maskEqualityDeletes exists for).
    "src_iceberg_foreign_eq" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_real_eq")
      graft.sources.Formats.deleteDir(spark, table)
      // two order-years keep the 4-commit gate inside the 4 s budget —
      // the masked-read shape is identical at any slice
      val o = t(spark, dir, "orders")
        .filter(year(to_date(col("o_orderdate"))).isin(1994, 1995))
        .select(col("o_orderkey"), col("o_totalprice"),
          trunc(to_date(col("o_orderdate")), "year").as("o_year"))
      val upsert = col("o_orderkey") % 2 === 1 && col("o_orderkey") % 7 === 3
      graft.sources.IcebergReal.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), table, Seq("o_year"))
      graft.sources.IcebergReal.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1 && !upsert), table, Seq("o_year"))
      graft.sources.IcebergReal.commitEqualityDeletes(spark, table,
        o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_year")),
        Seq("o_orderkey", "o_year"))
      graft.sources.IcebergReal.commitAppend(
        o.filter(upsert), table, Seq("o_year"))
      graft.sources.IcebergRead.read(spark, table)
        .groupBy(year(col("o_year")).cast("int").as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("y"))
    }),
    "src_iceberg_write_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_exp")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 0), table, Nil)
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 1), table, Nil, mode = "append")
      graft.sources.Lake.delete(spark, table, col("o_orderkey") % 6 === 1)
      graft.sources.IcebergExport.exportIcebergMeta(spark, table)
      val reads = Seq(1L -> Some(2L), 2L -> None).map { case (tag, v) =>
        graft.sources.IcebergRead.read(spark, table, v)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("version"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("version"))
    }),
    // PARTITIONED Iceberg export: the Lake manifest's per-file
    // partition values map into the manifest partition struct + a
    // partition-specs entry; the reader restores the typed partition
    // column from the manifest through the same FileIndex the native
    // Lake uses (pruning asserted in IcebergReadSpec).
    "src_iceberg_write_read_part" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_part")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 0),
        table, Seq("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 1),
        table, Seq("o_orderpriority"), mode = "append")
      graft.sources.IcebergExport.exportIcebergMeta(spark, table)
      graft.sources.IcebergRead.read(spark, table)
        .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // BITMAP index (the reference's low-cardinality per-value index,
    // at file granularity): exact per-file distinct-value sets in the
    // manifest serve =/IN pruning on a sort-key-clustered column with
    // zero false positives — consulted automatically by the pushed
    // filter through the FileIndex (skip counts asserted in
    // BitmapIndexSpec; here correctness vs the oracle).
    "src_lake_bitmap_index" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_bmi")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.sortKeyWrite(o, table, Seq("o_orderpriority"), nFiles = 10)
      graft.sources.BitmapIndex.buildIndex(spark, table, Seq("o_orderpriority"))
      graft.sources.Lake.read(spark, table)
        .filter(col("o_orderpriority").isin("1-URGENT", "4-NOT SPECIFIED"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // TRANSFORM-partitioned Iceberg: the ecosystem-default layouts
    // (`days(ts)` + `bucket(N, key)`) written spec-shaped
    // (partition-specs with non-identity transforms, schemas section
    // for source-id) and read back with TRANSFORM-AWARE file pruning
    // — a date range prunes through the monotonic day transform, a
    // key equality prunes through the murmur3 bucket (skip counts
    // asserted in IcebergReadSpec; here correctness vs the oracle)
    "src_iceberg_write_read_transform" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_transform")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
        .filter(col("o_orderdate") >= lit("1996-03-01") &&
          col("o_orderdate") < lit("1996-03-16"))
      graft.sources.IcebergExport.commitTransformSnapshot(o.coalesce(1),
        table, Seq("o_orderdate" -> "day", "o_custkey" -> "bucket[4]"))
      val minKey = o.agg(min(col("o_custkey"))).head.getLong(0)
      val rangeProbe = graft.sources.IcebergRead.readPruned(spark, table,
        col("o_orderdate") >= lit("1996-03-05") &&
          col("o_orderdate") < lit("1996-03-11"))
      val bucketProbe = graft.sources.IcebergRead.readPruned(spark, table,
        col("o_custkey") === lit(minKey))
      Seq(1 -> rangeProbe, 2 -> bucketProbe).map { case (tag, pr) =>
        pr.df.agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"))
          .select(lit(tag).as("probe"), col("n"), col("total"), col("min_key"))
      }.reduce(_ unionByName _).orderBy(col("probe"))
    }),
    // MoR Iceberg export: a Lake table carrying live delete vectors
    // (deleteMor + mergeMor, unfolded) exports as format v2 POSITION
    // DELETES — content=1 delete manifest listing a (file_path, pos)
    // parquet — and the Iceberg read masks exactly what Lake.read
    // masks, no fold required
    "src_iceberg_mor_roundtrip" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_mor")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 9 =!= 5), table, Nil)
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 9 === 2)
      val src = o.filter(col("o_orderkey") % 9 === 5 || col("o_orderkey") % 9 === 7)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 9 === 7, col("o_totalprice") * 4)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderpriority"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"))
      graft.sources.IcebergExport.exportIcebergMeta(spark, table)
      graft.sources.IcebergRead.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Iceberg v2 CDC upserts: three commitCdcBatch batches (the
    // Flink-upsert-sink shape — per batch one data file + one
    // equality-delete file of the batch's keys at the same sequence
    // number), read back with sequence-aware equality-delete masking:
    // older images erased, tombstoned keys gone unless re-inserted
    "src_iceberg_cdc_upserts" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_cdc")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.IcebergRead.commitCdcBatch(o, table, Seq("o_orderkey"))
      graft.sources.IcebergRead.commitCdcBatch(
        o.filter(col("o_orderkey") % 7 === 3)
          .select(col("o_orderkey"), (col("o_totalprice") * 10).as("o_totalprice"),
            col("o_orderpriority")),
        table, Seq("o_orderkey"),
        deleteKeys = Some(o.filter(col("o_orderkey") % 7 === 5)
          .select(col("o_orderkey"))))
      graft.sources.IcebergRead.commitCdcBatch(
        o.filter(col("o_orderkey") % 14 === 5)
          .select(col("o_orderkey"), lit(1.0).as("o_totalprice"),
            col("o_orderpriority")),
        table, Seq("o_orderkey"))
      graft.sources.IcebergRead.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // PARTITIONED Hudi export: timeline stats keyed by hive-style
    // partitionPath (the HoodieCommitMetadata model); the reader
    // restores partition columns from the TIMELINE keys through the
    // manifest-backed FileIndex (pruning asserted in HudiReadSpec).
    "src_hudi_write_read_part" -> ((spark, dir) => {
      val table = tmpDir(dir, "hudi_part")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 0),
        table, Seq("o_orderpriority"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 1),
        table, Seq("o_orderpriority"), mode = "append")
      graft.sources.HudiExport.exportHudiTimeline(spark, table)
      graft.sources.HudiRead.read(spark, table)
        .filter(col("o_orderpriority").isin("2-HIGH", "5-LOW"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Hudi WRITE-path interop (sources/HudiExport.scala): Lake
    // commits export a .hoodie COW timeline over the SAME data files;
    // CoW deletes become replacecommit instants retiring file groups.
    "src_hudi_write_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "hudi_exp")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 0), table, Nil)
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 1), table, Nil, mode = "append")
      graft.sources.Lake.delete(spark, table, col("o_orderkey") % 6 === 1)
      graft.sources.HudiExport.exportHudiTimeline(spark, table)
      val reads = Seq(1L -> Some(f"${2}%014d"), 2L -> None).map { case (tag, v) =>
        graft.sources.HudiRead.read(spark, table, v)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("version"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("version"))
    }),
    // Iceberg snapshot interop (sources/IcebergRead.scala): metadata
    // JSON → manifest-list Avro → manifest Avro → data files, read
    // with avro-core by field name (accepts real Iceberg layouts).
    // Snapshot 1 appends %3∈{0}; snapshot 2 appends %3∈{1}; snapshot 3
    // OVERWRITES with %3∈{2}. Time travel to snapshot 2 = {0,1}.
    "src_iceberg_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "iceberg_ext")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.IcebergRead.commitSnapshot(
        o.filter(col("o_orderkey") % 3 === 0).coalesce(1), table)
      val s2 = graft.sources.IcebergRead.commitSnapshot(
        o.filter(col("o_orderkey") % 3 === 1).coalesce(1), table)
      graft.sources.IcebergRead.commitSnapshot(
        o.filter(col("o_orderkey") % 3 === 2).coalesce(1), table,
        carryForward = false)
      val reads = Seq(1 -> Some(s2), 2 -> None).map { case (tag, snap) =>
        graft.sources.IcebergRead.read(spark, table, snap)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("snap"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("snap"))
    }),
    // Hudi COW timeline interop (sources/HudiRead.scala): two file
    // groups; commit 2 REWRITES group g0 (copy-on-write slice
    // replacement: %3==0 rows swap to %3==2). Snapshot at commit 1 =
    // {0,1}; latest = {2,1}. Oracle from the base table.
    // Hudi MERGE-ON-READ: base file groups + HoodieLog-format delta
    // log files (Avro upsert blocks, delete-key blocks) resolve per
    // record key in timeline order — update + delete + re-insert land
    // on the final image, the same rows compaction would materialize.
    // The plain read() delegates to the merge automatically, so a
    // streaming-ingest table can never serve stale base rows.
    "src_hudi_mor_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "hudi_mor")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.HudiRead.commit(table, Map(
        "g0" -> o.filter(col("o_orderkey") % 2 === 0),
        "g1" -> o.filter(col("o_orderkey") % 2 === 1)))
      // delta 1: zero out the price of keys % 10 == 0, delete % 10 == 4
      graft.sources.HudiRead.deltaCommit(table, "g0", "o_orderkey",
        Some(o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", lit(0.0))),
        o.filter(col("o_orderkey") % 10 === 4)
          .select(col("o_orderkey")).collect().map(_.getLong(0).toString).toSeq)
      // delta 2: re-insert half the deleted keys at price -1
      graft.sources.HudiRead.deltaCommit(table, "g0", "o_orderkey",
        Some(o.filter(col("o_orderkey") % 20 === 4)
          .withColumn("o_totalprice", lit(-1.0))))
      graft.sources.HudiRead.read(spark, table)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          sum(when(col("o_totalprice") === -1.0, 1).otherwise(0)).as("reinserted"))
    }),
    // Hudi MERGE-ON-READ over a PARTITIONED timeline: partition values
    // live only in directory names + the timeline's partitionPath; the
    // merge restores them per dirty group (string literals, the
    // readIndexed typing) — pre-r9 this read refused outright. Logs
    // land on TWO partitions; a third stays clean and scans full-speed.
    "src_hudi_mor_read_part" -> ((spark, dir) => {
      val table = tmpDir(dir, "hudi_mor_part")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 3).cast("string").as("p"))
      graft.sources.Lake.write(o.coalesce(1), table, Seq("p"))
      graft.sources.HudiExport.exportHudiTimeline(spark, table)
      val byPart = graft.sources.HudiRead.liveGroups(spark, table).toSeq
        .groupBy(_._2.base.partitionPath)
      val g0 = byPart("p=0").head._1
      val g1 = byPart("p=1").head._1
      val base = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      // p=0 group: zero out %30==0, delete %30==6; p=1 group: %30==1 -> -1
      graft.sources.HudiRead.deltaCommit(table, g0, "o_orderkey",
        Some(base.filter(col("o_orderkey") % 30 === 0)
          .withColumn("o_totalprice", lit(0.0))),
        base.filter(col("o_orderkey") % 30 === 6)
          .select(col("o_orderkey")).collect().map(_.getLong(0).toString).toSeq)
      graft.sources.HudiRead.deltaCommit(table, g1, "o_orderkey",
        Some(base.filter(col("o_orderkey") % 30 === 1)
          .withColumn("o_totalprice", lit(-1.0))))
      graft.sources.HudiRead.read(spark, table)
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("p"))
    }),
    // Paimon append-only interop (sources/PaimonRead.scala): snapshot
    // chain + time travel over the schema/snapshot/manifest layout —
    // the last lake family the reference reads (connector/paimon/,
    // ConnectorType PAIMON) that this repo previously could not.
    "src_paimon_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_app")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val s1 = graft.sources.PaimonRead.commitAppend(
        o.filter(col("o_orderkey") % 3 <= 1), table)
      graft.sources.PaimonRead.commitAppend(
        o.filter(col("o_orderkey") % 3 === 2), table)
      val reads = Seq(1 -> Some(s1), 2 -> None).map { case (tag, snap) =>
        graft.sources.PaimonRead.read(spark, table, snap)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("snap"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("snap"))
    }),
    // Paimon PRIMARY-KEY table: LSM sorted runs (system columns
    // _KEY_*/_SEQUENCE_NUMBER/_VALUE_KIND) merge to the newest image
    // per key — upsert, delete, re-insert land exactly as a Paimon
    // compaction would materialize them; the gate also compacts and
    // re-reads, so both the merge-on-read and the compacted paths
    // produce the oracle's rows.
    "src_paimon_pk_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_pk")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 3).cast("string").as("p"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"), Seq("p"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey"), col("p")),
        table, Seq("o_orderkey"), deletes = true, assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 20 === 4).withColumn("o_totalprice", lit(-1.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy(col("p")).agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("p"))
    }),
    // Same construction, COMPACTED: the persisted merge (delete
    // entries retire the runs, winning tombstones kept) must serve
    // the identical oracle rows the merge-on-read phase does.
    "src_paimon_pk_compact" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_pkc")
      graft.sources.Formats.deleteDir(spark, table)
      // half the key space: the gate proves the compaction CONTRACT
      // (absorbed runs retired, tombstones kept, identical oracle rows
      // as the merge-on-read twin) — pk_read carries the full-size
      // merge; doubling the data here only doubled the staging wall
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 3).cast("string").as("p"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"), Seq("p"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey"), col("p")),
        table, Seq("o_orderkey"), deletes = true, assumeKeyUnique = true)
      graft.sources.PaimonRead.compact(spark, table)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy(col("p")).agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("p"))
    }),
    // Paimon row-level CHANGE FEED: the Lake.changes retraction
    // contract derived from the snapshot chain's delta manifests — an
    // update emits delete(old)+insert(new), deletes emit prior images
    // only (found by a touched-key-bounded merge of the prior runs),
    // a re-insert of a tombstoned key emits insert only.
    // MERGE-ENGINE partial-update: per key each column resolves to its
    // last NON-NULL write (null = "no update"); one hash aggregation.
    "src_paimon_partial_update" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_pu")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 2)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true,
        options = Map("merge-engine" -> "partial-update"))
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), lit(1.0).as("o_totalprice")),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), lit("0-RUSH").as("o_orderpriority")),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    }),
    // MERGE-ENGINE aggregation: per-field aggregate functions fold
    // every write of a key (sum here) — the reference's paimon catalog
    // reads such tables via the paimon API; this resolves them with
    // one key-grouped hash aggregation.
    "src_paimon_agg_engine" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_ae")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"), col("o_totalprice").as("total"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true,
        options = Map("merge-engine" -> "aggregation",
          "fields.total.aggregate-function" -> "sum"))
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 2 === 1), table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.compact(spark, table)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 6 === 3), table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy((col("o_orderkey") % 3).cast("int").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("total").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("g"))
    }),
    // FOREIGN-table interop: read a REAL paimon-written table (the
    // reference's pinned paimon-0.4 fixture — BinaryRow partition
    // tuples, the full ~15-field _FILE manifest struct, hive-escaped
    // partition dirs, ORC data files with the PK system columns).
    // Oracle is the fixture's literal content.
    "src_paimon_foreign_read" -> ((spark, dir) => {
      val fixture = graft.sources.Fixtures.dir(spark,
        "test_paimon_reader/paimon_test.db/" +
          "spark_sql_created_hive_catalog_paimon_partitioned")
      graft.sources.PaimonRead.read(spark, fixture)
        .select(col("uuid"), col("name"), col("price"))
        .orderBy(col("uuid"))
    }),
    // WRITE interop: manifest.flavor=paimon emits the REAL paimon
    // manifest schemas (BinaryRow partitions, footer key bounds, full
    // snapshot JSON) — the layout a real paimon reader replays; our
    // read of it goes through the same real-flavor parse path as the
    // foreign fixture.
    "src_paimon_write_real" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_wrl")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 3).cast("string").as("p"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"), Seq("p"),
        assumeKeyUnique = true, options = Map("manifest.flavor" -> "paimon"))
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 7 === 1).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy(col("p")).agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("p"))
    }),
    "src_paimon_changes" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_chg")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")),
        table, Seq("o_orderkey"), deletes = true, assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 20 === 4).withColumn("o_totalprice", lit(-1.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.changes(spark, table, 1L, 4L)
        .groupBy(col("__change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // Same construction with changelog-producer = lookup: the writer
    // emits ready-made change files per commit (pre-images derived at
    // write time via the bucket-pruned lookup merge), and changes()
    // serves THEM — a pure O(changelog) scan, no prior-snapshot
    // derivation. The oracle is identical to src_paimon_changes on a
    // half-size slice, so the feed equivalence is oracle-proven.
    // changelog-producer = input: the batch rows land directly as
    // change files (no lookup derivation — the cheap config when the
    // input already carries complete change semantics). Three
    // key-disjoint commits, so the input feed equals the derived one;
    // changes() serves a pure changelog scan.
    "src_paimon_changelog_input" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_cli")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      (0 to 2).foreach(m => graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 3 === m), table, Seq("o_orderkey"),
        assumeKeyUnique = true,
        options = Map("changelog-producer" -> "input")))
      graft.sources.PaimonRead.changes(spark, table, 0L, 3L)
        .groupBy(col("__commit_version").as("v"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("v"))
    }),
    // DYNAMIC-BUCKET ('bucket' = '-1') PK table: sticky HASH-index
    // routing (PaimonHashIndex), buckets filling to the target row
    // count, CDC derivation still bucket-pruned (stickiness keeps a
    // touched key's older images in the touched bucket).
    "src_paimon_dynamic_bucket" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_dyn")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 6 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        numBuckets = -1, assumeKeyUnique = true,
        options = Map("dynamic-bucket.target-row-num" -> "16000"))
      // two commits (budget): create + sticky update; the delete-batch
      // and CDC paths are PaimonDynamicBucketSpec's job
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 5 === 2).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy((col("o_orderkey") % 4).cast("int").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("g"))
    }),
    // BRANCHES (the reference routes `tbl$branch_xxx` identifiers —
    // PaimonMetadata.java:610-616): fork metadata at snapshot 1,
    // commit divergent data to the branch, read both sides — the
    // branch resolves fork-point manifests from the main tree (no
    // copies) and stages its own data in the shared tree.
    "src_paimon_branch" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_br")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 2)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.createBranch(spark, table, "dev", Some(1L))
      // main moves on; the branch zeroes a slice instead
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 8 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 1000),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 8 === 6).withColumn("o_totalprice", lit(0.0)),
        graft.sources.PaimonRead.branchRoot(table, "dev"), Seq("o_orderkey"),
        assumeKeyUnique = true)
      val main = graft.sources.PaimonRead.read(spark, table)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .select(lit("main").as("side"), col("n"), col("total"))
      val branch = graft.sources.PaimonRead.readBranch(spark, table, "dev")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .select(lit("branch").as("side"), col("n"), col("total"))
      branch.unionByName(main).orderBy(col("side"))
    }),
    "src_paimon_changelog" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_clg")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true,
        options = Map("changelog-producer" -> "lookup"))
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 5 === 0).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 9 === 4).select(col("o_orderkey")),
        table, Seq("o_orderkey"), deletes = true, assumeKeyUnique = true)
      graft.sources.PaimonRead.changes(spark, table, 1L, 3L)
        .groupBy(col("__change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // DELETION VECTORS (`deletion-vectors.enabled`): deletes mask
    // positions in per-file RoaringBitmap sidecars (the `.dv` format
    // the reference BE reads) instead of rewriting data files. The
    // boost in v2 makes the value-predicate delete key on the CURRENT
    // image — a reader that masked only winning rows (or resolved
    // against unmasked runs) would resurrect the pre-boost images and
    // hash-mismatch. Second delete unions into the existing vectors.
    "src_paimon_dv_delete" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_dvd")
      graft.sources.Formats.deleteDir(spark, table)
      // half key space (budget pattern): %6==2 and %11==1 classes stay
      // populated within the even slice; DV masking machinery is fully
      // exercised, decade throughput is PaimonScaleProbe's job
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 11 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 10000000),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.deleteWhereDv(spark, table,
        col("o_totalprice") > 5000000)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy((col("o_orderkey") % 4).cast("int").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("g"))
    }),
    // SYSTEM TABLES (tbl$snapshots & co — the reference routes paimon
    // system-table identifiers, PaimonMetadata.java:613): snapshot ids,
    // commit kinds and delta row counts are fully determined by the
    // gate's own commits, so the oracle recomputes them from orders.
    "src_paimon_sys_tables" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_sys")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 15 === 0).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.compact(spark, table)
      val snaps = graft.sources.PaimonRead.systemTable(spark, table, "snapshots")
        .select(col("snapshot_id"), col("commit_kind"),
          col("delta_record_count").as("delta_rows"))
      val filesRows = graft.sources.PaimonRead.systemTable(spark, table, "files")
        .agg(sum(col("row_count")).as("delta_rows"))
        .select(lit(99L).as("snapshot_id"), lit("FILES_TOTAL").as("commit_kind"),
          col("delta_rows"))
      snaps.unionByName(filesRows).orderBy(col("snapshot_id"))
    }),
    // SCHEMA EVOLUTION (ALTER TABLE ADD COLUMN): the evolved read must
    // merge MIXED-schema runs — rows from pre-ALTER files null-fill the
    // added column through the PK merge, post-ALTER upserts carry it.
    "src_paimon_add_column" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_evo")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.addColumn(spark, table,
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType))
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 6 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("tag", lit("boost")),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.read(spark, table)
        .groupBy(coalesce(col("tag"), lit("none")).as("tag"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("tag"))
    }),
    // SNAPSHOT EXPIRATION (paimon expire_snapshots): after compaction,
    // expiring all but the last two snapshots must physically drop the
    // retired runs + old manifests while the retained read serves the
    // identical oracle rows; expired ids must refuse.
    "src_paimon_expire" -> ((spark, dir) => {
      val table = tmpDir(dir, "paimon_exp")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.PaimonRead.commitPk(o, table, Seq("o_orderkey"),
        assumeKeyUnique = true)
      graft.sources.PaimonRead.commitPk(
        o.filter(col("o_orderkey") % 7 === 2).withColumn("o_totalprice", lit(0.0)),
        table, Seq("o_orderkey"), assumeKeyUnique = true)
      graft.sources.PaimonRead.compact(spark, table)
      val expired = graft.sources.PaimonRead.expireSnapshots(spark, table, 2)
      require(expired == Seq(1L), s"expected to expire snapshot 1, got $expired")
      try { graft.sources.PaimonRead.read(spark, table, Some(1L)); require(false) }
      catch { case _: IllegalArgumentException => }
      graft.sources.PaimonRead.read(spark, table)
        .groupBy((col("o_orderkey") % 4).cast("int").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("g"))
    }),
    // VALUES-ONLY foreign partition layout: data dirs carry bare
    // values ('0/', '1/', '2/'), the column name lives only in
    // hoodie.properties' hoodie.table.partition.fields — the most
    // common real-Hudi layout. The read must restore the column and
    // prune on it.
    "src_hudi_values_only" -> ((spark, dir) => {
      val table = tmpDir(dir, "hudi_vo")
      graft.sources.Formats.deleteDir(spark, table)
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      def hp(x: String) = new org.apache.hadoop.fs.Path(x)
      f.mkdirs(hp(s"$table/.hoodie"))
      val props = new java.util.Properties()
      props.setProperty("hoodie.table.recordkey.fields", "o_orderkey")
      props.setProperty("hoodie.table.partition.fields", "p")
      val pout = f.create(hp(s"$table/.hoodie/hoodie.properties"), false)
      try props.store(pout, null) finally pout.close()
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val stats = (0 to 2).map { m =>
        val staging = s"$table/_st_$m"
        o.filter(col("o_orderkey") % 3 === m).coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = f.listStatus(hp(staging))
          .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
        f.mkdirs(hp(s"$table/$m"))
        val rel = s"$m/g${m}_0-0-0_001.parquet"
        require(f.rename(part, hp(s"$table/$rel")),
          s"failed to install $table/$rel")
        f.delete(hp(staging), true)
        s"""{"fileId":"g$m","path":"$rel"}"""
      }
      val json = s"""{"partitionToWriteStats":{${
        stats.zipWithIndex.map { case (st, m) => s""""$m":[$st]""" }.mkString(",")}}}"""
      val oc = f.create(hp(s"$table/.hoodie/00000000000001.commit"), false)
      try oc.write(json.getBytes("UTF-8")) finally oc.close()
      graft.sources.HudiRead.read(spark, table)
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("p"))
    }),
    // FOREIGN MoR interop: a REAL hudi-0.12-written table (real log
    // framing with 8-byte block sizes, three AVRO blocks appended to
    // one log file across three commits, overwrite-with-latest
    // payload). Oracle is the fixture's literal merged content.
    "src_hudi_foreign_mor" -> ((spark, dir) => {
      val table = graft.sources.Fixtures.dir(spark, "test_hudi_mor")
      graft.sources.HudiRead.read(spark, table)
        .select(col("uuid"), col("ts"), col("a"), col("b"),
          element_at(col("c"), 2).as("c2"),
          element_at(col("d"), "key1").as("d1"),
          col("e.b").as("eb"))
        .orderBy(col("uuid"))
    }),
    "src_hudi_read" -> ((spark, dir) => {
      val table = tmpDir(dir, "hudi_ext")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val i1 = graft.sources.HudiRead.commit(table, Map(
        "g0" -> o.filter(col("o_orderkey") % 3 === 0),
        "g1" -> o.filter(col("o_orderkey") % 3 === 1)))
      graft.sources.HudiRead.commit(table, Map(
        "g0" -> o.filter(col("o_orderkey") % 3 === 2)))
      val reads = Seq(1 -> Some(i1), 2 -> None).map { case (tag, inst) =>
        graft.sources.HudiRead.read(spark, table, inst)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(tag).as("snap"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("snap"))
    }),
    // Atomic multi-table transaction (sources/LakeTx.scala): orders
    // and lineitem slices publish through ONE catalog swap; a second
    // transaction updates both; reads resolve through the pinned
    // catalog — the join of the two tables must reflect tx-2 exactly.
    "src_lake_tx" -> ((spark, dir) => {
      val root = tmpDir(dir, "lake_tx")
      graft.sources.Formats.deleteDir(spark, root)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val l = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      graft.sources.LakeTx.commit(spark, root, Map(
        "orders" -> (o.filter(col("o_orderkey") % 2 === 0), Nil),
        "lineitem" -> (l.filter(col("l_orderkey") % 2 === 0), Nil)))
      graft.sources.LakeTx.commit(spark, root, Map(
        "orders" -> (o.filter(col("o_orderkey") % 3 === 0), Nil),
        "lineitem" -> (l.filter(col("l_orderkey") % 3 === 0), Nil)))
      graft.sources.LakeTx.read(spark, root, "orders")
        .join(graft.sources.LakeTx.read(spark, root, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"))
    }),
    // Rollback (Lake.rollback): a bad overwrite is undone by
    // committing the prior file set as the new current version —
    // append-only history, no data movement. Readback must equal v1.
    "src_lake_rollback" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_rb")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 2 === 0), table, Nil)
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 5 === 0), table, Nil)
      graft.sources.Lake.rollback(spark, table, 1)
      graft.sources.Lake.read(spark, table)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    }),
    // Partition retention (Lake.expirePartitions): TTL-style drop of
    // the 1-URGENT / 2-HIGH partitions as a manifest-only commit —
    // no data IO; the expired partitions stay time-travel-reachable.
    "src_lake_retention" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_ttl")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.expirePartitions(spark, table, "o_orderpriority",
        keep = _ >= "3")
      graft.sources.Lake.read(spark, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    }),
    // Table clone (Lake.clone): physical backup of the current
    // snapshot into a fresh table; the copy must read bit-identically.
    "src_lake_clone" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_src")
      val backup = tmpDir(dir, "lake_bak")
      graft.sources.Formats.deleteDir(spark, table)
      graft.sources.Formats.deleteDir(spark, backup)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sources.Lake.write(o, table, Seq("o_orderpriority"))
      graft.sources.Lake.clone(spark, table, backup)
      graft.sources.Lake.read(spark, backup)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),
    // Incremental aggregate maintenance (IVM, batch side): the v1
    // aggregate is brought to v2 by APPLYING the snapshot diff's
    // retraction deltas (+new for inserts, −old for deletes, both for
    // changes) — no rescan of v2. The gate's output must equal a full
    // recompute at v2, which the oracle derives from the base table.
    "mv_delta_apply" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_ivm")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 < 2), table, Nil)
      val v2 = o.filter(col("o_orderkey") % 3 > 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 1, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.sources.Lake.write(v2, table, Nil)
      val bucket = (c: Column) => (c % 5).cast("int")
      val baseAgg = graft.sources.Lake.read(spark, table, Some(1))
        .groupBy(bucket(col("o_orderkey")).as("b"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).as("s"))
      val diff = graft.sources.Lake.snapshotDiff(spark, table, "o_orderkey",
        1, 2, withValues = true)
      val deltas = diff.where(col("status") =!= "unchanged")
        .groupBy(bucket(col("o_orderkey")).as("b"))
        .agg(
          sum(when(col("status") === "inserted", 1L)
            .when(col("status") === "deleted", -1L).otherwise(0L)).as("dn"),
          sum(coalesce(col("new.o_totalprice").cast("decimal(18,6)"), lit(0)) -
            coalesce(col("old.o_totalprice").cast("decimal(18,6)"), lit(0))).as("ds"))
      baseAgg.join(deltas, Seq("b"), "full_outer")
        .select(col("b"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)")) +
            coalesce(col("ds"), lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)")))
            .cast("double").as("total"))
        .orderBy(col("b"))
    }),
    // IVM powered by the MANIFEST change feed: same retraction
    // application as mv_delta_apply, but the deltas come from
    // Lake.changes — O(changed rows), no table rescan and no keyed
    // full-outer join. This is the maintenance path that holds at
    // 100 TB: the MV update cost follows the LOAD size, not the
    // table size. Output must equal a full recompute at v3.
    "mv_delta_apply_cdc" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_ivmcdc")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 4 =!= 2), table, Nil)
      val src = o.filter(col("o_orderkey") % 8 === 1 || col("o_orderkey") % 4 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 8 === 1, col("o_totalprice") + 5)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.sources.Lake.mergeMor(spark, table, src, Seq("o_orderkey"))
      graft.sources.Lake.deleteMor(spark, table, col("o_orderkey") % 8 === 3)
      val bucket = (c: Column) => (c % 5).cast("int")
      val baseAgg = graft.sources.Lake.read(spark, table, Some(1))
        .groupBy(bucket(col("o_orderkey")).as("b"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).as("s"))
      val deltas = graft.sources.Lake.changes(spark, table, 1, 3)
        .groupBy(bucket(col("o_orderkey")).as("b"))
        .agg(
          sum(when(col("__change_type") === "insert", 1L).otherwise(-1L)).as("dn"),
          sum(when(col("__change_type") === "insert",
              col("o_totalprice").cast("decimal(18,6)"))
            .otherwise(-col("o_totalprice").cast("decimal(18,6)"))).as("ds"))
      baseAgg.join(deltas, Seq("b"), "full_outer")
        .select(col("b"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)")) +
            coalesce(col("ds"), lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)")))
            .cast("double").as("total"))
        .orderBy(col("b"))
    }),
    // IVM with NON-decomposable aggregates: min/max cannot apply a
    // delete as a retraction delta — a delete that removes the
    // standing extreme forces that GROUP (only) to re-aggregate from
    // the base; inserts extend extremes delta-only
    // (MaterializedViews.applyDeltaMinMax; the bounded-rescan plan is
    // asserted in MvRewriteSpec). Output must equal a full recompute.
    "mv_delta_apply_minmax" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_ivmmx")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o, table, Nil)                       // v1
      graft.sources.Lake.deleteMor(spark, table,
        col("o_orderkey") % 7 === 0)                                // v2
      graft.sources.Lake.mergeMor(spark, table,
        o.filter(col("o_orderkey") % 9 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 100000),
        Seq("o_orderkey"))                                          // v3
      val bucket = (c: Column) => (c % 5).cast("int")
      def proj(df: org.apache.spark.sql.DataFrame) = df.select(
        bucket(col("o_orderkey")).as("g"),
        col("o_totalprice").cast("decimal(18,6)").as("v"))
      val mvV1 = proj(graft.sources.Lake.read(spark, table, Some(1)))
        .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      val feed = graft.sources.Lake.changes(spark, table, 1, 3)
        .select(bucket(col("o_orderkey")).as("g"),
          col("o_totalprice").cast("decimal(18,6)").as("v"),
          col("__change_type"))
      graft.operators.MaterializedViews
        .applyDeltaMinMax(mvV1, feed, proj(graft.sources.Lake.read(spark, table)))
        .select(col("g"), col("n"), col("s").cast("double").as("total"),
          col("mn").cast("double").as("mn"), col("mx").cast("double").as("mx"))
        .orderBy(col("g"))
    }),
    // STANDING min/max MV maintained through the exactly-once
    // change-feed subscription (maintainMinMaxMv = applyDeltaMinMax ∘
    // ChangeFeed.poll, versioned state + pointer swap): bootstrap at
    // v1, then ONE poll applies a mixed (1,4] window — a delete wave
    // (extreme retraction → group-bounded rescan), an upsert wave, and
    // a MoR update — and the final state must equal a full recompute.
    // (Window-by-window chaining + crash replay are spec'd in
    // StreamingSpec/LakeMorLoadSpec; this gate proves the mixed-feed
    // apply against the oracle.)
    "mv_minmax_poll" -> ((spark, dir) => {
      val table = tmpDir(dir, "mv_mxp_t")
      val mvDir = tmpDir(dir, "mv_mxp_s")
      graft.sources.Formats.deleteDir(spark, table)
      graft.sources.Formats.deleteDir(spark, mvDir)
      val ledger = s"$mvDir/cursor"
      // deterministic half-slice (the established budget pattern):
      // every %5/%6/%10/%11 class stays populated, the gate proves the
      // bootstrap/delta/extreme-retraction machinery; full-SF change
      // throughput is CdcScaleProbe's job
      val o = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o, table, Nil)                     // v1
      val gv = (df: org.apache.spark.sql.DataFrame) =>
        ((col("o_orderkey") % 5).cast("int"),
          col("o_totalprice").cast("decimal(18,6)"))
      def poll() = graft.operators.MaterializedViews
        .maintainMinMaxMv(spark, table, mvDir, ledger, gv)
      poll()                                                      // bootstrap @ v1
      // %6==3 — an ODD residue class, so the half-slice still
      // exercises the extreme-retraction path (%6==0 would be empty)
      graft.sources.Lake.deleteMor(spark, table,
        col("o_orderkey") % 6 === 3)                              // v2
      graft.sources.Lake.mergeMor(spark, table,
        o.filter(col("o_orderkey") % 11 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 50000),
        Seq("o_orderkey"))                                        // v3
      poll()                                                      // applies (1,3]
      graft.operators.MaterializedViews.readMinMaxMv(spark, mvDir)
        .select(col("g"), col("n"), col("s").cast("double").as("total"),
          col("mn").cast("double").as("mn"), col("mx").cast("double").as("mx"))
        .orderBy(col("g"))
    }),
    // Snapshot diff (Lake.snapshotDiff): CDC-out between two versions
    // — v1 holds keys %3∈{0,1}; v2 overwrites with %3∈{1,2} and bumps
    // the %3==1 prices, so every key classifies deterministically:
    // %3==0 deleted, %3==1 changed, %3==2 inserted. The oracle
    // recomputes the classification straight from the base table.
    "src_lake_snapshot_diff" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_diff")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 < 2), table, Nil)
      val v2 = o.filter(col("o_orderkey") % 3 > 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 1, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.sources.Lake.write(v2, table, Nil)
      graft.sources.Lake.snapshotDiff(spark, table, "o_orderkey", 1, 2)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("status"))
    }),
    "src_lake_time_travel" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_tt")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 0), table, Nil)
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 1), table, Nil, mode = "append")
      graft.sources.Lake.write(o.filter(col("o_orderkey") % 3 === 2), table, Nil)
      val reads = (1 to 3).map { v =>
        graft.sources.Lake.read(spark, table, versionAsOf = Some(v))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
          .select(lit(v).as("version"), col("n"), col("total"))
      }
      reads.reduce(_ unionByName _).orderBy(col("version"))
    }),
    // Z-order clustered lake write + stats-skipping read: lineitem is
    // laid out along a Morton curve over (l_orderkey, l_suppkey), the
    // manifest carries per-file min/max for both, and the 2-D box
    // query prunes files on BOTH dimensions before the scan (skip
    // counts asserted in LakeZorderSpec; this gate proves the
    // clustered write + skipping read returns exactly the right rows)
    // Manifest-level NGRAM bloom file skipping (reference
    // Ngram_Bloom_Filter_Index.md — LIKE '%s%' acceleration; also
    // Bloomfilter_index.md's point-equality form, spec-covered): one
    // 3-gram bloom per (file, column) in the Lake snapshot, probed at
    // plan time with the SAME xxhash64 the build ran, so a substring
    // scan reads only files whose bloom admits every gram. Pruning
    // drops FILES, never rows — the predicate is re-applied, and
    // BloomIndexSpec proves result equality with the unpruned filter.
    "src_lake_ngram_like" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_ngram")
      graft.sources.Formats.deleteDir(spark, table)
      val docs = t(spark, dir, "documents").repartition(8, col("doc_id"))
      graft.sources.Lake.write(docs, table, Nil)
      graft.sources.BloomIndex.buildIndex(spark, table, ngramCols = Seq("text"))
      graft.sources.BloomIndex
        .readWhereContains(spark, table, "text", "table value")
        .df.select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Generated columns (reference generated_columns.md: `col AS expr`
    // materialized at load + transparent query rewrite): the filter
    // below is written as month(o_orderdate) but the optimizer
    // substitutes the STORED o_month column (GeneratedColumnsSpec
    // asserts the plan + the file pruning via the month sort key) —
    // correctness pinned here against the recompute-everything oracle.
    "src_lake_generated_col" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_gen")
      graft.sources.Formats.deleteDir(spark, table)
      val o = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"))
      graft.plans.GeneratedColumns.write(o, table,
        Seq("o_month" -> "month(o_orderdate)"),
        sortBy = Seq("o_month"), nFiles = 8)
      graft.plans.GeneratedColumns.register(spark, table)
      // opt-in conf scoping (the RangeJoinRewrite convention): the
      // rule must be inert for every OTHER gate in this session, so
      // enable only around THIS gate's planning + execution — the
      // result is pinned as collected rows, and the gate FAILS LOUDLY
      // if the substitution did not actually fire
      graft.Engine.withConf(spark, graft.plans.GeneratedColumns.EnabledKey -> "true") {
        val q = graft.sources.Lake.read(spark, table)
          .filter(month(col("o_orderdate")) === 3)
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        require(!q.queryExecution.optimizedPlan.toString.contains("month("),
          "generated-column rewrite did not fire")
        val rows = q.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
      }
    }),
    // Sort-key clustered write (reference Prefix_index_sort_key.md —
    // rows ordered by the key; the sparse prefix index serves leading-
    // column lookups): range-partition + in-file sort means manifest
    // min/max boxes are tight on the leading column, so the range
    // predicate below reads O(matching files). LakeZorderSpec asserts
    // the actual file-skip counts; this gate pins result correctness.
    "src_lake_sortkey_prune" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_sk")
      graft.sources.Formats.deleteDir(spark, table)
      val l = t(spark, dir, "lineitem").select(col("l_orderkey"),
        col("l_quantity"), col("l_extendedprice"))
      graft.sources.Lake.sortKeyWrite(l, table, Seq("l_orderkey"), nFiles = 8)
      graft.sources.Lake.read(spark, table)
        .filter(col("l_orderkey").between(1000, 3000))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("price"))
    }),
    "src_lake_zorder" -> ((spark, dir) => {
      val table = tmpDir(dir, "lake_z")
      graft.sources.Formats.deleteDir(spark, table)
      val l = t(spark, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      graft.sources.Lake.zorderWrite(l, table,
        Seq("l_orderkey", "l_suppkey"), nFiles = 8)
      graft.sources.Lake.read(spark, table)
        .filter(col("l_orderkey") < 1000 && col("l_suppkey") < 50)
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("price"))
    }),
    // CSV round trip: parquet → csv → read with schema → aggregate;
    // equality with the direct-parquet oracle proves the parse layer
    // (header, timestamps, quoting) is lossless for these types.
    "src_csv_roundtrip" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val out = tmpDir(dir, "csv")
      Formats.writeCsv(e, out)
      Formats.readCsv(spark, out, e.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),
    // Avro container-file round trip (hand-rolled codec over avro-core;
    // the spark-avro DSv2 jar is absent offline — see sources.Avro):
    // write per-partition .avro files, stream them back one task per
    // file, aggregate; equality with the direct-parquet oracle proves
    // the schema mapping (incl. timestamp-micros) is lossless.
    "src_avro_roundtrip" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val out = tmpDir(dir, "avro")
      graft.sources.Avro.writeAvro(e, out)
      graft.sources.Avro.readAvro(spark, out, e.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),
    // Arrow result-surface round trip (reference
    // arrow_flight_batch_reader.cpp): serialize the result to Arrow
    // record batches ON THE EXECUTORS, rebuild a DataFrame from the
    // batch bytes, and aggregate; equality with the direct-parquet
    // oracle proves the Arrow encode/decode (incl. timestamp-micros
    // with session TZ) is lossless. The collect here moves only
    // opaque batch blobs (the result surface's unit of delivery).
    "res_arrow_roundtrip" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val batches = graft.sources.ArrowResults.resultBatches(e).collect()
      graft.sources.ArrowResults.fromBatches(spark, e.schema, batches.iterator)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),
    "src_json_roundtrip" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val out = tmpDir(dir, "json")
      Formats.writeJson(e, out)
      Formats.readJson(spark, out, e.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),
    // tolerant load under max_filter_ratio (reference LoadStmt
    // MAX_FILTER_RATIO): planted malformed rows are dropped because
    // they stay under the declared tolerance; the clean-row aggregate
    // must equal the direct-parquet oracle exactly
    "src_csv_tolerant" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val out = tmpDir(dir, "csvtol")
      Formats.writeCsv(e, out)
      // fixed bad-line count: well under the 5% ratio at every SF
      // (events has >=6k rows at sf0.001), and NOT derived from an
      // e.count() — that was a full extra scan inside the timed gate
      val nBad = 40
      // header=true consumes the first line per file — pad with one extra
      val badLines = (0 to nBad).map(i => s"not_a_long_$i,junk,,bad,").mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/zz-bad.csv"), badLines)
      Formats.readCsvTolerant(spark, out, e.schema, maxFilterRatio = 0.05)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),
    "src_orc_roundtrip" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val out = tmpDir(dir, "orc")
      Formats.writeOrc(e, out)
      Formats.readOrc(spark, out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),
    // External JDBC connector scan (reference ConnectorScanNode +
    // be/src/connector/jdbc/): seed an in-process Derby table from
    // parquet, read it back as a PARTITIONED range-split jdbc scan
    // with a pushed filter, and join to a parquet dim — the mixed
    // internal/external-table query shape.
    "src_jdbc_roundtrip" -> ((spark, dir) => {
      val n = t(spark, dir, "nation")
      graft.sources.Jdbc.loadTable(n, "NATION_EXT")
      val ext = graft.sources.Jdbc.readPartitioned(spark, "NATION_EXT",
          "n_nationkey", 0L, 24L, 4)
        .filter(col("n_regionkey") >= 2)
      val r = t(spark, dir, "region")
      ext.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }),
    "src_info_schema" -> ((spark, dir) => {
      InformationSchema.columns(spark, dir, relTables)
        .orderBy(col("table_name"), col("column_name"))
    }),
    // information_schema.statistics: the catalog stats view over the
    // Profile operator — one ANALYZE scan per table, numeric columns
    "src_info_stats" -> ((spark, dir) => {
      InformationSchema.statistics(spark, dir, Seq("region", "nation", "supplier"))
        .orderBy(col("table_name"), col("col_name"))
    }),
    // AGG KEYS table: fold at ingest — one row per key with aggregated
    // value columns (the reference's third table model).
    "keys_agg_fold" -> ((spark, dir) => {
      val li = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)").as("rev"))
      KeysModels.aggFold(li, Seq("l_orderkey"),
          Map("l_quantity" -> "sum", "rev" -> "sum"))
        .select(col("l_orderkey"),
          col("sum(l_quantity)").as("sum_qty"),
          col("sum(rev)").cast("double").as("sum_rev"))
        .orderBy(col("l_orderkey"))
    }),
    // AGG-keys table with a mergeable sketch column (the reference's
    // agg-state combinator pattern, be/src/exprs/agg/combinator/):
    // ingest folds events into per-(day, type) HLL state; reads merge
    // state further (here: to per-type uniques) without re-scanning
    // raw data.
    "keys_agg_sketch_table" -> ((spark, dir) => {
      val e = t(spark, dir, "events")
      val aggTable = e.groupBy(date_trunc("day", col("ts")).as("d"), col("event_type"))
        .agg(expr("hll_raw_agg(user_id % 256)").as("users_state"),
          count(lit(1)).as("n"))
      aggTable.groupBy(col("event_type"))
        .agg(expr("hll_cardinality(hll_union_agg(users_state))").as("approx_users"),
          sum(col("n")).as("n_events"))
        .orderBy(col("event_type"))
    }),
    // GENERIC agg-state combinators (reference be/src/exprs/agg/
    // combinator/ + agg_state_desc.h): ANY registered aggregate —
    // declarative (sum), declarative two-buffer (count), and typed
    // imperative (min_n) — lifts into a storable partial state; the
    // AGG table here keeps day-level states, a second level unions
    // them per type, and the read finalizes — raw rows scanned once.
    "keys_agg_state_generic" -> ((spark, dir) => {
      t(spark, dir, "events").createOrReplaceTempView("ev_aggstate_g")
      spark.sql(
        """SELECT event_type, date_trunc('day', ts) AS d,
          |  agg_state('sum', CAST(value AS DECIMAL(18,6))) AS sum_s,
          |  agg_state('count', value) AS cnt_s,
          |  agg_state('min_n', event_id, 5) AS mn_s
          |FROM ev_aggstate_g GROUP BY 1, 2""".stripMargin)
        .createOrReplaceTempView("ev_aggstate_states")
      spark.sql(
        """SELECT event_type,
          |  CAST(agg_state_merge('sum', u_sum, CAST(NULL AS DECIMAL(18,6))) AS DOUBLE) AS total,
          |  agg_state_merge('count', u_cnt, CAST(NULL AS DOUBLE)) AS n,
          |  array_join(CAST(agg_state_merge('min_n', u_mn, CAST(NULL AS BIGINT), 5) AS array<string>), ',') AS low5
          |FROM (
          |  SELECT event_type,
          |    agg_state_union('sum', sum_s, CAST(NULL AS DECIMAL(18,6))) AS u_sum,
          |    agg_state_union('count', cnt_s, CAST(NULL AS DOUBLE)) AS u_cnt,
          |    agg_state_union('min_n', mn_s, CAST(NULL AS BIGINT), 5) AS u_mn
          |  FROM ev_aggstate_states GROUP BY event_type)
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // Colocate join (reference bucket-shuffle/colocate,
    // Partitions.thrift TABLET_BUCKET_SHUFFLE): both sides bucketed on
    // the join key with equal bucket counts ⇒ the join plans with no
    // Exchange on either input (asserted in PlanSpec).
    "join_colocated" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val base = tmpDir(dir, "bucket")
      graft.operators.Colocate.saveBucketed(o, "orders_colo_q", s"$base/o", Seq("o_custkey"), 8)
      graft.operators.Colocate.saveBucketed(c, "cust_colo_q", s"$base/c", Seq("c_custkey"), 8)
      spark.table("orders_colo_q")
        .join(spark.table("cust_colo_q"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    }),
    // Bucket-local aggregation (reference sorted/streaming agg,
    // docs sorted_aggregate.md + colocate distribution): a GROUP BY
    // on the bucket key of a bucketed table satisfies the agg's
    // required distribution from the layout — the plan has NO
    // Exchange (asserted in PlanSpec). At 100 TB this turns the
    // aggregation's dominant shuffle into a free property of the
    // write-time layout, the reference's DISTRIBUTED BY trade.
    "agg_bucket_local" -> ((spark, dir) => {
      val o = t(spark, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val base = tmpDir(dir, "bucketagg")
      graft.operators.Colocate.saveBucketed(o, "orders_bagg_q", s"$base/o", Seq("o_custkey"), 8)
      spark.table("orders_bagg_q")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_custkey"))
    }),
    // Bucket pruning (reference tablet pruning on the distribution
    // key — a point query touches one tablet): an equality predicate
    // on the bucket key prunes the scan to 1 of 8 buckets
    // ("SelectedBucketsCount: 1 out of 8", asserted in PlanSpec). At
    // 100 TB a point lookup opens 1/N of the files before any row
    // filtering happens.
    "src_bucket_prune" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val base = tmpDir(dir, "bucketprune")
      graft.operators.Colocate.saveBucketed(o, "orders_bprune_q",
        s"$base/o", Seq("o_custkey"), 8)
      spark.table("orders_bprune_q").filter(col("o_custkey") === 37L)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_custkey"))
    }),
    // UPDATE + DELETE rewrite on a PRIMARY-key table image.
    "keys_update_delete" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val updated = KeysModels.update(c, col("c_mktsegment") === "BUILDING",
        Map("c_acctbal" -> (col("c_acctbal") + 100)))
      KeysModels.delete(updated, col("c_acctbal") < 0)
        .orderBy(col("c_custkey"))
    }))

  def oracles: Map[String, String] = Map(
    "src_lake_snapshot" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_compact" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_generated_col" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE month(o_orderdate) = 3""".stripMargin,
    "src_lake_sortkey_prune" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS price
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    "src_lake_ngram_like" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE text LIKE '%table value%'
        |ORDER BY doc_id""".stripMargin,
    "src_lake_zorder" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS price
        |FROM lineitem WHERE l_orderkey < 1000 AND l_suppkey < 50""".stripMargin,
    "src_lake_update" ->
      """WITH upd AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
        |      THEN o_totalprice * CAST(1.1 AS DOUBLE) ELSE o_totalprice END AS p
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM upd GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey % 4 <> 3),
        |src AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 8 = 1 OR o_orderkey % 4 = 3),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_merge_mor" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey % 4 <> 1),
        |src AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 6 = 2 THEN o_totalprice * 3
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 6 = 2 OR o_orderkey % 4 = 1),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_delta_cdf_write" ->
      """WITH ins2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 1 OR o_orderkey % 5 = 4),
        |del2 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 1),
        |del3 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 7),
        |changes AS (
        |  SELECT 'insert' AS change_type, * FROM ins2
        |  UNION ALL SELECT 'delete', * FROM del2
        |  UNION ALL SELECT 'delete', * FROM del3)
        |SELECT change_type, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM changes GROUP BY change_type ORDER BY change_type""".stripMargin,
    "src_delta_cdf_changes" ->
      """WITH ins2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice * 3
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 2 OR o_orderkey % 4 = 3),
        |del2 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 2),
        |del3 AS (
        |  -- %10=6 is even, so disjoint from both the %4=3 inserts and
        |  -- the %10=2 upserts: all base-original rows
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 6),
        |changes AS (
        |  SELECT 'insert' AS change_type, * FROM ins2
        |  UNION ALL SELECT 'delete', * FROM del2
        |  UNION ALL SELECT 'delete', * FROM del3)
        |SELECT change_type, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM changes GROUP BY change_type ORDER BY change_type""".stripMargin,
    "src_delta_checkpoint_dv" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,
    "src_delta_foreign_read" ->
      """SELECT col_date, CAST(n AS BIGINT) AS n,
        |  CAST(bytes AS BIGINT) AS bytes,
        |  CAST(records AS BIGINT) AS records FROM (VALUES
        |  ('2023-01-01', 1, 724, 1),  ('2023-01-02', 1, 724, 1),
        |  ('2023-01-03', 1, 724, 1),  ('2023-01-04', 1, 724, 1),
        |  ('2023-01-05', 1, 724, 1),  ('2023-01-06', 1, 724, 1),
        |  ('2023-01-07', 1, 724, 1),  ('2023-01-08', 1, 724, 1),
        |  ('2023-01-09', 1, 724, 1),  ('2023-01-10', 1, 724, 1),
        |  ('2023-01-11', 1, 724, 1),  ('2023-01-12', 1, 724, 1),
        |  ('2024-01-01', 1, 724, 1),  ('2024-01-02', 1, 724, 1),
        |  ('2024-01-03', 4, 2896, 4), ('2024-01-04', 1, 724, 1),
        |  ('2024-01-05', 4, 2896, 4), ('2024-01-06', 8, 5792, 8))
        |  t(col_date, n, bytes, records)
        |ORDER BY col_date""".stripMargin,
    "src_delta_checkpoint_v2" ->
      """SELECT CAST(o_orderkey % 3 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 9 <> 2
        |GROUP BY 1 ORDER BY g""".stripMargin,
    "src_delta_dv_read" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM r WHERE pos % 10 <> 3
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_delta_colmap" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_evolve_load" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS tag FROM orders
        |  WHERE o_orderkey % 6 <> 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, o_orderpriority
        |  FROM orders WHERE o_orderkey % 6 = 1)
        |SELECT coalesce(tag, 'none') AS tag, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY coalesce(tag, 'none') ORDER BY tag""".stripMargin,
    "mv_minmax_poll" ->
      """WITH final AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 1 THEN o_totalprice + 50000
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderkey % 2 = 1
        |    AND (o_orderkey % 6 <> 3 OR o_orderkey % 11 = 1))
        |SELECT CAST(o_orderkey % 5 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(MIN(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS mn,
        |  CAST(MAX(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS mx
        |FROM final GROUP BY 1 ORDER BY g""".stripMargin,
    "mv_delta_apply_minmax" ->
      """WITH final AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 9 = 1 THEN o_totalprice + 100000
        |         ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 7 <> 0 OR o_orderkey % 9 = 1)
        |SELECT CAST(o_orderkey % 5 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(MIN(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS mn,
        |  CAST(MAX(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS mx
        |FROM final GROUP BY 1 ORDER BY g""".stripMargin,
    "mv_delta_apply_cdc" ->
      """WITH final AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice + 5
        |      ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 4 <> 2 AND o_orderkey % 8 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 2)
        |SELECT CAST(o_orderkey % 5 AS INT) AS b, count(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM final GROUP BY b ORDER BY b""".stripMargin,
    "src_lake_changes" ->
      """WITH ins2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 12 = 1 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 12 = 1 OR o_orderkey % 3 = 0),
        |del2 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 12 = 1),
        |del3 AS (
        |  -- %12=5 implies %3=2, so these rows are all base-original
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 12 = 5),
        |changes AS (
        |  SELECT 'insert' AS change_type, * FROM ins2
        |  UNION ALL SELECT 'delete', * FROM del2
        |  UNION ALL SELECT 'delete', * FROM del3)
        |SELECT change_type, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM changes GROUP BY change_type ORDER BY change_type""".stripMargin,
    "src_lake_auto_compact" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 7 <> 1""".stripMargin,
    "src_iceberg_cdc_upserts" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice * 10
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 <> 5
        |  UNION ALL
        |  SELECT o_orderkey, CAST(1.0 AS DOUBLE), o_orderpriority
        |  FROM orders WHERE o_orderkey % 14 = 5)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_iceberg_mor_roundtrip" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey % 9 <> 5 AND o_orderkey % 9 <> 2),
        |src AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 9 = 7 THEN o_totalprice * 4
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 9 = 5 OR o_orderkey % 9 = 7),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_op_load" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey % 5 <> 0),
        |ups AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 7 OR o_orderkey % 5 = 0),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 10 <> 3
        |    AND o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        |  UNION ALL SELECT * FROM ups)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_merge_condition" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 <= 3
        |      THEN 3 ELSE CAST(o_orderkey % 7 AS INT) END AS ver,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 <= 3
        |      THEN o_totalprice * 10 ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(SUM(ver) AS BIGINT) AS sum_ver
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_partial_update" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 4 = 2 THEN o_totalprice + 1000
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority, o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, CAST(5.0 AS DOUBLE), NULL, NULL
        |  FROM orders WHERE o_orderkey % 4 = 1)
        |SELECT coalesce(o_orderpriority, 'none') AS prio, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(count(o_orderstatus) AS BIGINT) AS n_status,
        |  max(o_orderkey) AS max_key
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin,
    "src_lake_update_mor" ->
      """WITH upd AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderpriority = '2-HIGH' AND o_orderkey % 5 = 0
        |      THEN o_totalprice * CAST(1.2 AS DOUBLE) ELSE o_totalprice END AS p
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM upd GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_alter_columns" ->
      """WITH ev AS (
        |  SELECT o_orderkey, o_totalprice AS price, NULL AS flag
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'late'
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT coalesce(flag, 'none') AS flag, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  max(o_orderkey) AS max_key
        |FROM ev GROUP BY coalesce(flag, 'none') ORDER BY flag""".stripMargin,
    "src_lake_delete_mor" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_totalprice > 250000) AND NOT (o_orderkey % 7 = 0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_delete" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_totalprice > 200000 AND o_orderkey % 2 = 0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_schema_evolution" ->
      """WITH ev AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_band
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_totalprice > 150000 THEN 'high' ELSE 'low' END
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT coalesce(o_band, 'absent') AS band, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_info_stats" ->
      """SELECT table_name, col_name, n, n_null, ndv, min_v, max_v, mean FROM (
        |  SELECT 'region' AS table_name, 'r_regionkey' AS col_name,
        |    count(r_regionkey) AS n, count(*) - count(r_regionkey) AS n_null,
        |    count(DISTINCT r_regionkey) AS ndv,
        |    CAST(min(r_regionkey) AS DOUBLE) AS min_v,
        |    CAST(max(r_regionkey) AS DOUBLE) AS max_v,
        |    CAST(sum(CAST(r_regionkey AS DECIMAL(28,6))) AS DOUBLE) / count(r_regionkey) AS mean
        |  FROM region
        |  UNION ALL
        |  SELECT 'nation', 'n_nationkey', count(n_nationkey),
        |    count(*) - count(n_nationkey), count(DISTINCT n_nationkey),
        |    CAST(min(n_nationkey) AS DOUBLE), CAST(max(n_nationkey) AS DOUBLE),
        |    CAST(sum(CAST(n_nationkey AS DECIMAL(28,6))) AS DOUBLE) / count(n_nationkey)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'nation', 'n_regionkey', count(n_regionkey),
        |    count(*) - count(n_regionkey), count(DISTINCT n_regionkey),
        |    CAST(min(n_regionkey) AS DOUBLE), CAST(max(n_regionkey) AS DOUBLE),
        |    CAST(sum(CAST(n_regionkey AS DECIMAL(28,6))) AS DOUBLE) / count(n_regionkey)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'supplier', 's_suppkey', count(s_suppkey),
        |    count(*) - count(s_suppkey), count(DISTINCT s_suppkey),
        |    CAST(min(s_suppkey) AS DOUBLE), CAST(max(s_suppkey) AS DOUBLE),
        |    CAST(sum(CAST(s_suppkey AS DECIMAL(28,6))) AS DOUBLE) / count(s_suppkey)
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'supplier', 's_nationkey', count(s_nationkey),
        |    count(*) - count(s_nationkey), count(DISTINCT s_nationkey),
        |    CAST(min(s_nationkey) AS DOUBLE), CAST(max(s_nationkey) AS DOUBLE),
        |    CAST(sum(CAST(s_nationkey AS DECIMAL(28,6))) AS DOUBLE) / count(s_nationkey)
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'supplier', 's_acctbal', count(s_acctbal),
        |    count(*) - count(s_acctbal), count(DISTINCT s_acctbal),
        |    CAST(min(s_acctbal) AS DOUBLE), CAST(max(s_acctbal) AS DOUBLE),
        |    CAST(sum(CAST(s_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(s_acctbal)
        |  FROM supplier)
        |ORDER BY table_name, col_name""".stripMargin,
    "src_iceberg_read" ->
      """SELECT 1 AS snap, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY snap""".stripMargin,
    "src_hudi_mor_read" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 0.0 ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 10 <> 4
        |  UNION ALL
        |  SELECT o_orderkey, -1.0 FROM orders WHERE o_orderkey % 20 = 4)
        |SELECT count(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN p = -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS reinserted
        |FROM merged""".stripMargin,
    "src_hudi_mor_read_part" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 30 = 0 THEN 0.0
        |         WHEN o_orderkey % 30 = 1 THEN -1.0
        |         ELSE o_totalprice END AS price,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS p
        |  FROM orders WHERE o_orderkey % 30 <> 6)
        |SELECT p, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY p ORDER BY p""".stripMargin,
    "src_paimon_read" ->
      """SELECT 1 AS snap, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 <= 1
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders
        |ORDER BY snap""".stripMargin,
    "src_paimon_pk_read" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 20 = 4 THEN -1.0
        |         WHEN o_orderkey % 10 = 0 THEN 0.0
        |         ELSE o_totalprice END AS price,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS p
        |  FROM orders
        |  WHERE o_orderkey % 10 <> 4 OR o_orderkey % 20 = 4)
        |SELECT p, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY p ORDER BY p""".stripMargin,
    "src_paimon_pk_compact" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 0.0
        |         ELSE o_totalprice END AS price,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS p
        |  FROM orders
        |  WHERE o_orderkey % 4 = 0 AND o_orderkey % 10 <> 4)
        |SELECT p, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY p ORDER BY p""".stripMargin,
    "src_paimon_partial_update" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 5 = 0 THEN '0-RUSH' ELSE o_orderpriority END AS prio
        |  FROM orders WHERE o_orderkey % 4 = 2)
        |SELECT prio AS o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM base GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "src_paimon_agg_engine" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice *
        |    (1 + CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END
        |       + CASE WHEN o_orderkey % 6 = 3 THEN 1 ELSE 0 END) AS total
        |  FROM orders WHERE o_orderkey % 4 = 3)
        |SELECT CAST(o_orderkey % 3 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(total AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM base GROUP BY 1 ORDER BY g""".stripMargin,
    "src_paimon_foreign_read" ->
      """SELECT uuid, name, price FROM (VALUES
        |  (CAST(1 AS INTEGER), 'apple',  CAST(3.5 AS DOUBLE)),
        |  (2, 'banana', 4.0),
        |  (3, 'cherry', 20.5)) t(uuid, name, price)
        |ORDER BY uuid""".stripMargin,
    "src_paimon_changelog_input" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) + 1 AS v, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY v""".stripMargin,
    "src_paimon_dynamic_bucket" ->
      """SELECT CAST(o_orderkey % 4 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 2 THEN 0.0
        |    ELSE o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 6 = 0
        |GROUP BY 1 ORDER BY g""".stripMargin,
    "src_paimon_branch" ->
      """WITH s AS (SELECT o_orderkey, o_totalprice FROM orders
        |           WHERE o_orderkey % 4 = 2)
        |SELECT 'branch' AS side, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 8 = 6 THEN 0.0
        |    ELSE o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM s
        |UNION ALL
        |SELECT 'main', count(*),
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 8 = 2
        |    THEN o_totalprice + 1000
        |    ELSE o_totalprice END AS DECIMAL(18,6))) AS DOUBLE)
        |FROM s
        |ORDER BY side""".stripMargin,
    "src_paimon_changelog" ->
      """WITH odd AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 1),
        |del AS (
        |  SELECT o_totalprice AS price FROM odd WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN 0.0 ELSE o_totalprice END
        |  FROM odd WHERE o_orderkey % 9 = 4),
        |ins AS (
        |  SELECT 0.0 AS price FROM odd WHERE o_orderkey % 5 = 0)
        |SELECT 'delete' AS change_type, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total FROM del
        |UNION ALL
        |SELECT 'insert', count(*),
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) FROM ins
        |ORDER BY change_type""".stripMargin,
    "src_paimon_dv_delete" ->
      """SELECT CAST(o_orderkey % 4 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 11 <> 1
        |GROUP BY 1 ORDER BY g""".stripMargin,
    "src_paimon_sys_tables" ->
      """WITH n1 AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 3 = 0),
        |n2 AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 15 = 0)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS snapshot_id, 'APPEND' AS commit_kind,
        |    (SELECT c FROM n1) AS delta_rows
        |  UNION ALL SELECT 2, 'APPEND', (SELECT c FROM n2)
        |  UNION ALL SELECT 3, 'COMPACT', (SELECT c FROM n1)
        |  UNION ALL SELECT 99, 'FILES_TOTAL', (SELECT c FROM n1))
        |ORDER BY snapshot_id""".stripMargin,
    "src_paimon_add_column" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS tag FROM orders
        |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 6 <> 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, 'boost' FROM orders
        |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 6 = 1)
        |SELECT coalesce(tag, 'none') AS tag, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY coalesce(tag, 'none') ORDER BY tag""".stripMargin,
    "src_paimon_expire" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 2 THEN 0.0 ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 3 = 1)
        |SELECT CAST(o_orderkey % 4 AS INT) AS g, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY g""".stripMargin,
    "src_paimon_write_real" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 1 THEN 0.0 ELSE o_totalprice END AS price,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS p
        |  FROM orders WHERE o_orderkey % 4 = 1)
        |SELECT p, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY p ORDER BY p""".stripMargin,
    "src_paimon_changes" ->
      """WITH del AS (
        |  SELECT o_totalprice AS price FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 10 = 4),
        |ins AS (
        |  SELECT 0.0 AS price FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT -1.0 FROM orders WHERE o_orderkey % 20 = 4)
        |SELECT 'delete' AS change_type, count(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total FROM del
        |UNION ALL
        |SELECT 'insert', count(*),
        |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) FROM ins
        |ORDER BY change_type""".stripMargin,
    "src_hudi_values_only" ->
      """SELECT CAST(o_orderkey % 3 AS VARCHAR) AS p, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY p""".stripMargin,
    "src_hudi_foreign_mor" ->
      """SELECT * FROM (VALUES ('AA0', CAST(20 AS INTEGER),
        |  CAST(1 AS INTEGER), 'hello', CAST(20 AS INTEGER),
        |  CAST(1 AS INTEGER), 'world'))
        |  t(uuid, ts, a, b, c2, d1, eb)
        |ORDER BY uuid""".stripMargin,
    "src_hudi_read" ->
      """SELECT 1 AS snap, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |ORDER BY snap""".stripMargin,
    "src_delta_read" ->
      """SELECT 1 AS version, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |ORDER BY version""".stripMargin,
    "src_hudi_write_read" ->
      """SELECT 1 AS version, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 6 <> 1
        |ORDER BY version""".stripMargin,
    "src_iceberg_foreign_read" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin,
    "src_iceberg_foreign_mor" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey % 3 <> 0
        |   OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 2)
        |GROUP BY 1 ORDER BY y""".stripMargin,
    "src_iceberg_foreign_eq" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE year(o_orderdate) IN (1994, 1995)
        |  AND (o_orderkey % 5 <> 0
        |   OR (o_orderkey % 2 = 1 AND o_orderkey % 7 = 3))
        |GROUP BY 1 ORDER BY y""".stripMargin,
    "src_iceberg_write_read" ->
      """SELECT 1 AS version, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 6 <> 1
        |ORDER BY version""".stripMargin,
    "src_lake_bitmap_index" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '4-NOT SPECIFIED')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_iceberg_write_read_transform" ->
      """WITH slice AS (
        |  SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-03-01'
        |    AND o_orderdate < TIMESTAMP '1996-03-16')
        |SELECT 1 AS probe, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key
        |FROM slice
        |WHERE o_orderdate >= TIMESTAMP '1996-03-05'
        |  AND o_orderdate < TIMESTAMP '1996-03-11'
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE),
        |  min(o_orderkey)
        |FROM slice WHERE o_custkey = (SELECT min(o_custkey) FROM slice)
        |ORDER BY probe""".stripMargin,
    "src_iceberg_write_read_part" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_hudi_write_read_part" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority IN ('2-HIGH', '5-LOW')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_delta_write_read" ->
      """SELECT 1 AS version, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 6 <> 1
        |ORDER BY version""".stripMargin,
    "src_lake_tx" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey % 3 = 0 AND l_orderkey % 3 = 0""".stripMargin,
    "src_lake_rollback" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin,
    "src_lake_retention" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority >= '3'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_lake_clone" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "mv_delta_apply" ->
      """SELECT CAST(o_orderkey % 5 AS INT) AS b, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice + 1
        |    ELSE o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 > 0
        |GROUP BY 1 ORDER BY b""".stripMargin,
    "src_lake_snapshot_diff" ->
      """SELECT CASE o_orderkey % 3 WHEN 0 THEN 'deleted'
        |    WHEN 1 THEN 'changed' ELSE 'inserted' END AS status,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "src_lake_time_travel" ->
      """WITH v1 AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |v2 AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1)),
        |v3 AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 = 2)
        |SELECT 1 AS version, n, total FROM v1
        |UNION ALL SELECT 2, n, total FROM v2
        |UNION ALL SELECT 3, n, total FROM v3
        |ORDER BY version""".stripMargin) ++ oraclesRest

  private def oraclesRest: Map[String, String] = {
    val eventsAgg =
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  max(ts) AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    Map(
    "src_csv_roundtrip" -> eventsAgg,
    "src_json_roundtrip" -> eventsAgg,
    "src_orc_roundtrip" -> eventsAgg,
    "src_avro_roundtrip" -> eventsAgg,
    "res_arrow_roundtrip" -> eventsAgg,
    "agg_bucket_local" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "src_bucket_prune" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_custkey = 37
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "src_csv_tolerant" -> eventsAgg,
    "src_jdbc_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_regionkey >= 2 ORDER BY n_nationkey""".stripMargin,
    "src_info_schema" ->
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, column_name, lower(column_type) AS data_type FROM (DESCRIBE SELECT * FROM region)
        |  UNION ALL SELECT 'nation', column_name, lower(column_type) FROM (DESCRIBE SELECT * FROM nation)
        |  UNION ALL SELECT 'customer', column_name, lower(column_type) FROM (DESCRIBE SELECT * FROM customer)
        |  UNION ALL SELECT 'supplier', column_name, lower(column_type) FROM (DESCRIBE SELECT * FROM supplier)
        |  UNION ALL SELECT 'part', column_name, lower(column_type) FROM (DESCRIBE SELECT * FROM part)
        |  UNION ALL SELECT 'orders', column_name, lower(column_type) FROM (DESCRIBE SELECT * FROM orders)
        |  UNION ALL SELECT 'lineitem', column_name, lower(column_type) FROM (DESCRIBE SELECT * FROM lineitem)
        |) ORDER BY table_name, column_name""".stripMargin,
    "join_colocated" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "keys_agg_fold" ->
      """SELECT l_orderkey, SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_rev
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "keys_agg_sketch_table" ->
      """SELECT event_type,
        |  count(DISTINCT user_id % 256) AS approx_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "keys_agg_state_generic" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(count(value) AS BIGINT) AS n,
        |  array_to_string(list_sort(list(event_id))[1:5], ',') AS low5
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "keys_update_delete" ->
      """SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |WHERE (CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100 ELSE c_acctbal END) >= 0
        |ORDER BY c_custkey""".stripMargin)
  }
}
