package graft

import graft.sources.{IcebergRead, IcebergWrite}
import org.apache.spark.sql.functions.{lit, sum}

/** Iceberg metadata→manifest-list→manifest→files replay: appends,
  * overwrite snapshots, snapshot-id time travel. */
class IcebergReadSpec extends SparkSuite {
  import spark.implicits._

  test("snapshot chain: append, append, overwrite; time travel by id") {
    val table = java.nio.file.Files.createTempDirectory("graft-ice").toString
    val a = Seq((1L, "a")).toDF("id", "v")
    val b = Seq((2L, "b")).toDF("id", "v")
    val c = Seq((3L, "c")).toDF("id", "v")
    val s1 = IcebergWrite.append(a.coalesce(1), table)
    val s2 = IcebergWrite.append(b.coalesce(1), table)
    IcebergWrite.append(c.coalesce(1), table, overwrite = true)
    def ids(snap: Option[Long]) = IcebergRead.read(spark, table, snap)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(ids(None) === Set(3L))          // overwrite replaced the table
    assert(ids(Some(s2)) === Set(1L, 2L))  // append chain at snapshot 2
    assert(ids(Some(s1)) === Set(1L))
    intercept[IllegalArgumentException] {
      IcebergRead.dataFiles(spark,
        java.nio.file.Files.createTempDirectory("ni").toString)
    }
  }

  test("Lake write -> Iceberg metadata export -> Iceberg read round trip") {
    import graft.sources.Lake
    val table = java.nio.file.Files.createTempDirectory("graft-iexp").toString
    Lake.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), table, Nil)
    Lake.write(Seq((3L, 30.0)).toDF("id", "v"), table, Nil, mode = "append")
    Lake.delete(spark, table, $"id" === 2L)
    assert(IcebergWrite.exportLake(spark, table) === 3L)
    def ids(snap: Option[Long]) = IcebergRead.read(spark, table, snap)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(ids(None) === Set(1L, 3L))
    assert(ids(Some(1L)) === Set(1L, 2L))
    assert(ids(Some(2L)) === Set(1L, 2L, 3L))
    // incremental + idempotent: another Lake commit, re-export
    Lake.write(Seq((4L, 40.0)).toDF("id", "v"), table, Nil, mode = "append")
    assert(IcebergWrite.exportLake(spark, table) === 4L)
    assert(ids(None) === Set(1L, 3L, 4L))
    // same files, zero data copies: lake read agrees
    assert(Lake.read(spark, table).select($"id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L, 4L))
  }

  test("partitioned export: typed partition column restored from manifest, pruning from the manifest") {
    import graft.sources.Lake
    val table = java.nio.file.Files.createTempDirectory("graft-icepart").toString + "/t"
    val df = Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"),
      (4L, 40.0, "b"), (5L, 50.0, "c")).toDF("id", "v", "p")
    Lake.write(df, table, Seq("p"))
    Lake.write(Seq((6L, 60.0, "c")).toDF("id", "v", "p"), table, Seq("p"), mode = "append")
    IcebergWrite.exportLake(spark, table)
    // spec fields recorded with identity transform + source type
    assert(IcebergRead.partitionSpecFields(spark, table) === Seq("p" -> "string"))
    // full read restores the typed partition column from the manifest
    val all = IcebergRead.read(spark, table)
    assert(all.schema("p").dataType === org.apache.spark.sql.types.StringType)
    assert(all.select($"id", $"p").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"), (6L, "c")))
    // a partition filter prunes FILES via the manifest-backed index —
    // never touching directory names or non-matching files
    val (pruned, Some(index)) = IcebergRead.readIndexed(spark, table): @unchecked
    val got = pruned.filter($"p" === "c").select($"id").collect().map(_.getLong(0)).toSet
    assert(got === Set(5L, 6L))
    assert(index.lastSelectedFileCount < index.totalFileCount,
      s"partition filter selected ${index.lastSelectedFileCount} of ${index.totalFileCount} files — no pruning happened")
    // snapshot-id time travel still works on the partitioned table
    val v1 = IcebergRead.read(spark, table, Some(1L))
    assert(v1.count() === 5)
    // the sf-typed case: a LONG partition column round-trips typed
    val t2 = java.nio.file.Files.createTempDirectory("graft-icepart2").toString + "/t"
    Lake.write(Seq((1L, "x", 7L), (2L, "y", 8L)).toDF("id", "s", "k"), t2, Seq("k"))
    IcebergWrite.exportLake(spark, t2)
    assert(IcebergRead.partitionSpecFields(spark, t2) === Seq("k" -> "long"))
    val r2 = IcebergRead.read(spark, t2)
    assert(r2.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(r2.filter($"k" === 8L).select($"id").head.getLong(0) === 2L)
  }

  test("MoR export: delete vectors land as format v2 position deletes") {
    import graft.sources.Lake
    // a path WITH SPACES: the delete-row translation must bridge the
    // percent-encoded _metadata rendering and the raw manifest form
    val table = java.nio.file.Files.createTempDirectory("graft-ice mor").toString + "/t 1"
    val df = spark.range(0, 1000).select($"id".as("k"),
      ($"id" % 5).cast("int").as("g"), ($"id" * 3).cast("double").as("x"))
    Lake.write(df.repartition(4), table, Nil)
    Lake.deleteMor(spark, table, $"k" % 10 === 3)
    Lake.mergeMor(spark, table,
      spark.range(0, 50).select($"id".as("k"), lit(9).cast("int").as("g"),
        lit(-1.0).as("x")), Seq("k"))
    IcebergWrite.exportLake(spark, table)
    assert(IcebergRead.positionDeleteFiles(spark, table).size === 1)
    // current snapshot: Iceberg read equals the masked Lake read
    val ice = IcebergRead.read(spark, table)
    val lake = Lake.read(spark, table)
    assert(ice.count() === lake.count())
    assert(ice.agg(sum($"k"), sum($"x")).collect()(0) ===
      lake.agg(sum($"k"), sum($"x")).collect()(0))
    assert(ice.filter($"g" === 9).count() === 50L)
    assert(ice.filter($"k" % 10 === 3 && $"g" =!= 9).count() === 0L)
    // time travel: v1 has no delete manifest and reads unmasked
    assert(IcebergRead.positionDeleteFiles(spark, table, Some(1L)).isEmpty)
    assert(IcebergRead.read(spark, table, Some(1L)).count() === 1000L)
    // v2 (deleteMor only) masks the deletes but not the merge
    assert(IcebergRead.read(spark, table, Some(2L)).count() === 900L)
  }

  test("MoR export: partitioned table masks through the manifest index") {
    import graft.sources.Lake
    val table = java.nio.file.Files.createTempDirectory("graft-icemp").toString + "/t"
    val df = spark.range(0, 600).select($"id".as("k"),
      ($"id" % 3).cast("string").as("p"), ($"id" * 2).cast("double").as("x"))
    Lake.write(df, table, Seq("p"))
    Lake.deleteMor(spark, table, $"k" < 100)
    IcebergWrite.exportLake(spark, table)
    val ice = IcebergRead.read(spark, table)
    assert(ice.count() === 500L)
    assert(ice.filter($"k" < 100).count() === 0L)
    assert(ice.filter($"p" === "1").count() ===
      (100 until 600).count(_ % 3 == 1).toLong)
    assert(ice.schema("p").dataType === org.apache.spark.sql.types.StringType)
  }

  test("Delta export emits deletion vectors for MoR snapshots; Hudi refuses dirty") {
    import graft.sources.{DeltaRead, DeltaWrite, HudiWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dmor").toString + "/t"
    Lake.write(spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), table, Nil)
    Lake.deleteMor(spark, table, $"k" < 10)          // v2 dirty
    // Delta expresses the MoR state as a DV-upgraded re-add — no fold
    DeltaWrite.exportLake(spark, table)
    assert(DeltaRead.read(spark, table).count() === 90L)
    assert(DeltaRead.read(spark, table).filter($"k" < 10).count() === 0L)
    // Delta time travel: v0 (pre-delete) unmasked
    assert(DeltaRead.read(spark, table, Some(0L)).count() === 100L)
    // Hudi has no row-level encoding — dirty current still refuses
    intercept[IllegalArgumentException] {
      HudiWrite.exportLake(spark, table)
    }
    // stacked MoR commits upgrade the vector again
    Lake.deleteMor(spark, table, $"k" >= 95)          // v3
    DeltaWrite.exportLake(spark, table)
    assert(DeltaRead.read(spark, table).count() === 85L)
    // after a fold, the export returns to plain adds and Hudi works
    Lake.foldDeletes(spark, table)                    // v4
    DeltaWrite.exportLake(spark, table)
    assert(DeltaRead.read(spark, table).count() === 85L)
    HudiWrite.exportLake(spark, table)
    assert(graft.sources.HudiRead.read(spark, table).count() === 85L)
  }

  test("equality deletes (CDC shape): sequence-aware key masking + re-insert survival") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val table = java.nio.file.Files.createTempDirectory("graft-iceeq").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/data"))
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/metadata"))
    def onefile(df: org.apache.spark.sql.DataFrame, dest: String): String = {
      val staging = s"$table/_stage_${dest.hashCode.abs}"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      f.rename(part, new org.apache.hadoop.fs.Path(dest))
      f.delete(new org.apache.hadoop.fs.Path(staging), true); dest
    }
    // seq 1: keys 1..10 "old"; seq 2: key 3 re-inserted as "new"
    val pA = onefile(spark.range(1, 11).select($"id", lit("old").as("v")),
      s"$table/data/a.parquet")
    val pB = onefile(Seq((3L, "new")).toDF("id", "v"), s"$table/data/b.parquet")
    // equality delete at seq 2: keys 3 and 5 (erases seq-1 rows only)
    val pD = onefile(Seq(3L, 5L).toDF("id"), s"$table/data/eqdel.parquet")
    // position delete: (file A, pos 0) — erases key 1
    val pP = onefile(Seq((pA, 0L)).toDF("file_path", "pos"),
      s"$table/data/posdel.parquet")
    // foreign-writer manifests: per-entry sequence numbers for data,
    // list-level inheritance for the deletes
    val dfSchema = SchemaBuilder.record("data_file").fields()
      .requiredString("file_path").optionalInt("content").endRecord()
    val entrySchema = SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status").optionalLong("sequence_number")
      .name("data_file").`type`(dfSchema).noDefault().endRecord()
    val listSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").optionalInt("content")
      .optionalLong("sequence_number").endRecord()
    def avro(path: String, schema: org.apache.avro.Schema,
        recs: Seq[GenericRecord]): String = {
      val out = f.create(new org.apache.hadoop.fs.Path(path), true)
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, out); try recs.foreach(w.append) finally w.close(); path
    }
    def entry(file: String, seq: java.lang.Long, content: java.lang.Integer) = {
      val d = new GenericData.Record(dfSchema)
      d.put("file_path", file); if (content != null) d.put("content", content)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); if (seq != null) e.put("sequence_number", seq)
      e.put("data_file", d); e
    }
    val mA = avro(s"$table/metadata/mA.avro", entrySchema, Seq(entry(pA, 1L, 0)))
    val mB = avro(s"$table/metadata/mB.avro", entrySchema, Seq(entry(pB, 2L, 0)))
    val mD = avro(s"$table/metadata/mD.avro", entrySchema, Seq(entry(pD, null, 2)))
    val mP = avro(s"$table/metadata/mP.avro", entrySchema, Seq(entry(pP, null, 1)))
    def listEntry(m: String, content: Int, seq: Long) = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", m); r.put("content", Int.box(content))
      r.put("sequence_number", Long.box(seq)); r
    }
    val list = avro(s"$table/metadata/snap-1.avro", listSchema, Seq(
      listEntry(mA, 0, 1L), listEntry(mB, 0, 2L),
      listEntry(mD, 1, 2L), listEntry(mP, 1, 2L)))
    val json = s"""{"format-version":2,"current-snapshot-id":1,"snapshots":[{"snapshot-id":1,"manifest-list":"$list"}]}"""
    val out = f.create(new org.apache.hadoop.fs.Path(s"$table/metadata/v1.metadata.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()

    assert(IcebergRead.equalityDeleteFiles(spark, table) === Seq((pD, 2L)))
    assert(IcebergRead.positionDeleteFiles(spark, table) === Seq(pP))
    val got = IcebergRead.read(spark, table)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // 1 position-deleted; 3 "old" and 5 equality-deleted; 3 "new"
    // survives its own delete (seq 2 is not < 2)
    assert(got === (Set(2L, 4L, 6L, 7L, 8L, 9L, 10L).map(_ -> "old") + (3L -> "new")))
  }

  test("commitCdcBatch: upsert stream converges to latest image per key") {
    val table = java.nio.file.Files.createTempDirectory("graft-icecdc").toString + "/t"
    // batch 1: keys 1..5 v=10x; batch 2: upsert 2,3 v=99, tombstone 5
    IcebergWrite.cdcBatch(
      spark.range(1, 6).select($"id", ($"id" * 10).as("v")), table, Seq("id"))
    assert(IcebergRead.read(spark, table).count() === 5L)
    IcebergWrite.cdcBatch(
      Seq((2L, 99L), (3L, 99L)).toDF("id", "v"), table, Seq("id"),
      deleteKeys = Some(Seq(5L).toDF("id")))
    val got = IcebergRead.read(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set(1L -> 10L, 2L -> 99L, 3L -> 99L, 4L -> 40L))
    // time travel: snapshot 1 shows the pre-upsert images
    val v1 = IcebergRead.read(spark, table, Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1 === Set(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L, 5L -> 50L))
    // batch 3 re-inserts a tombstoned key
    IcebergWrite.cdcBatch(Seq((5L, 7L)).toDF("id", "v"), table, Seq("id"))
    assert(IcebergRead.read(spark, table).filter($"id" === 5L)
      .select($"v").head.getLong(0) === 7L)
  }

  test("commitSnapshot append preserves a CDC table's delete manifests") {
    val table = java.nio.file.Files.createTempDirectory("graft-icemix").toString + "/t"
    IcebergWrite.cdcBatch(
      spark.range(1, 6).select($"id", ($"id" * 10).as("v")), table, Seq("id"))
    IcebergWrite.cdcBatch(
      Seq((2L, 99L)).toDF("id", "v"), table, Seq("id"),
      deleteKeys = Some(Seq(5L).toDF("id")))
    // a plain append by the OTHER writer must not resurrect the
    // erased images (old id=2 at v=20, tombstoned id=5)
    IcebergWrite.append(Seq((9L, 90L)).toDF("id", "v").coalesce(1), table)
    val got = IcebergRead.read(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set(1L -> 10L, 2L -> 99L, 3L -> 30L, 4L -> 40L, 9L -> 90L))
  }

  test("unpadded HadoopCatalog metadata names: v10 beats v9 numerically") {
    val table = java.nio.file.Files.createTempDirectory("graft-ice10").toString
    IcebergWrite.append(Seq((1L, "old")).toDF("id", "v").coalesce(1), table)
    IcebergWrite.append(Seq((2L, "new")).toDF("id", "v").coalesce(1), table)
    // rename the padded writer names to real HadoopCatalog unpadded
    // names where lexicographic order inverts ("v9" > "v10")
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$table/metadata")
    val metas = f.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json")).sortBy(_.getName)
    assert(metas.length === 2)
    f.rename(metas(0), new org.apache.hadoop.fs.Path(s"$table/metadata/v9.metadata.json"))
    f.rename(metas(1), new org.apache.hadoop.fs.Path(s"$table/metadata/v10.metadata.json"))
    val ids = IcebergRead.read(spark, table)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L), "reader served the stale v9 snapshot")
  }

  test("partition transforms: murmur3 + bucket/temporal/truncate match the spec's test vectors") {
    import graft.sources.IcebergTransforms
    import org.apache.spark.sql.types._
    // Appendix B 32-bit hash requirements (published reference values)
    assert(IcebergTransforms.hashLong(34L) === 2017239379)
    assert(IcebergTransforms.hashString("iceberg") === 1210000089)
    assert(IcebergTransforms.hashLong(
      java.time.LocalDate.of(2017, 11, 16).toEpochDay) === -653330422)
    assert(IcebergTransforms.hashLong(1510871468000000L) === -2047944441)
    // transform literal semantics (ordinals since 1970)
    val d = IcebergTransforms.parse("day")
    val epochDay = java.time.LocalDate.of(2017, 11, 16).toEpochDay.toInt
    assert(IcebergTransforms.applyLiteral(d, DateType, epochDay) ===
      epochDay.toLong)
    assert(IcebergTransforms.applyLiteral(
      IcebergTransforms.parse("year"), DateType, epochDay) === 47L)
    assert(IcebergTransforms.applyLiteral(
      IcebergTransforms.parse("month"), DateType, epochDay) === 47L * 12 + 10)
    assert(IcebergTransforms.applyLiteral(
      IcebergTransforms.parse("hour"), TimestampType, 1510871468000000L) ===
      1510871468000000L / 3600000000L)
    // negative (pre-1970) instants FLOOR, never truncate toward zero
    assert(IcebergTransforms.applyLiteral(d, TimestampType, -1L) === -1L)
    assert(IcebergTransforms.applyLiteral(
      IcebergTransforms.parse("truncate[10]"), LongType, -7L) === -10L)
    assert(IcebergTransforms.applyLiteral(
      IcebergTransforms.parse("truncate[2]"), StringType, "x🌍y🌍z") === "x🌍")
    // write-side Column and read-side literal agree row by row
    val df = spark.range(-5, 5).select(
      org.apache.spark.sql.functions.expr(
        "timestamp_micros(id * 86400000000 + id * 1234567)").as("ts"),
      $"id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("s"), $"id").as("s"))
    for (t <- Seq("day", "hour", "year", "month", "bucket[7]"))
      df.select($"ts", IcebergTransforms.applyColumn(
          IcebergTransforms.parse(t), TimestampType, $"ts").as("got"))
        .collect().foreach { r =>
          val t0 = r.getTimestamp(0)
          val micros = Math.floorDiv(t0.getTime, 1000L) * 1000000L +
            t0.getNanos / 1000
          assert(r.getLong(1) === IcebergTransforms.applyLiteral(
            IcebergTransforms.parse(t), TimestampType, micros),
            s"transform $t drifted between Column and literal at $micros")
        }
    df.select($"id", IcebergTransforms.applyColumn(
        IcebergTransforms.parse("bucket[16]"), LongType, $"id").as("b"))
      .collect().foreach(r => assert(r.getLong(1) ===
        IcebergTransforms.applyLiteral(
          IcebergTransforms.parse("bucket[16]"), LongType, r.getLong(0))))
  }

  test("transform-partitioned write -> pruned read: days + bucket skip files, lose no rows") {
    val table = java.nio.file.Files.createTempDirectory("graft-icetr").toString + "/t"
    val df = spark.range(0, 3000).select(
      $"id".as("k"),
      org.apache.spark.sql.functions.expr(
        "timestamp_micros(86400000000 * cast(id % 30 as long) + 1500000000000000)").as("ts"),
      ($"id" % 100).as("cust"),
      ($"id" * 2).cast("double").as("x"))
    val snap = IcebergWrite.append(df.coalesce(1), table,
      Seq("ts" -> "day", "cust" -> "bucket[8]"))
    assert(snap === 1L)
    // unpruned read sees everything, source columns intact
    val all = IcebergRead.read(spark, table)
    assert(all.count() === 3000)
    assert(all.columns.toSet === Set("k", "ts", "cust", "x"))
    // a one-day + one-customer probe prunes most of the 30*8 files
    val day0 = new java.sql.Timestamp(1500000000000L)
    val pr = IcebergRead.readPruned(spark, table,
      $"ts" === day0 && $"cust" === 40L)
    val want = all.filter($"ts" === org.apache.spark.sql.functions.lit(day0) &&
      $"cust" === 40L).select($"k").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty, "fixture probe matched nothing — vacuous")
    assert(pr.df.select($"k").collect().map(_.getLong(0)).toSet === want)
    assert(pr.totalFiles > 100 && pr.keptFiles === 1,
      s"expected 1 of ${pr.totalFiles} files kept, got ${pr.keptFiles}")
    // a date RANGE prunes through the monotonic day transform
    val lo = new java.sql.Timestamp(1500000000000L + 5L * 86400000L)
    val hi = new java.sql.Timestamp(1500000000000L + 9L * 86400000L)
    val rg = IcebergRead.readPruned(spark, table, $"ts" >= lo && $"ts" < hi)
    val wantRg = all.filter($"ts" >= org.apache.spark.sql.functions.lit(lo) &&
      $"ts" < org.apache.spark.sql.functions.lit(hi)).count()
    assert(rg.df.count() === wantRg && wantRg > 0)
    assert(rg.keptFiles <= 5 * 8 && rg.keptFiles < rg.totalFiles,
      s"range kept ${rg.keptFiles}/${rg.totalFiles}")
    // bucket must NOT range-prune (hash is order-destroying)
    val bad = IcebergRead.readPruned(spark, table, $"cust" > 90L)
    assert(bad.keptFiles === bad.totalFiles)
    assert(bad.df.count() === all.filter($"cust" > 90L).count())
    // IN-list prunes per element
    val in3 = IcebergRead.readPruned(spark, table,
      $"cust".isin(1L, 2L, 3L) && $"ts" === day0)
    assert(in3.keptFiles <= 3)
    assert(in3.df.count() ===
      all.filter($"cust".isin(1L, 2L, 3L) &&
        $"ts" === org.apache.spark.sql.functions.lit(day0)).count())
    // AUTOMATIC path: a pushed filter on a plain read() prunes through
    // the TransformFileIndex — no dedicated API
    val (auto, tfi) = IcebergRead.readTransformIndexed(spark, table)
    assert(auto.filter($"ts" === day0 && $"cust" === 40L)
      .select($"k").collect().map(_.getLong(0)).toSet === want)
    assert(tfi.lastSelectedFileCount === 1,
      s"automatic prune kept ${tfi.lastSelectedFileCount}/${tfi.totalFileCount}")
    // plain read() takes the same indexed route on transform tables
    assert(IcebergRead.read(spark, table)
      .filter($"cust" === 40L && $"ts" === day0).count() === want.size.toLong)
  }

  test("transform-partitioned append carries prior snapshots; truncate prunes strings by code points") {
    val table = java.nio.file.Files.createTempDirectory("graft-icetr2").toString + "/t"
    def batch(tag: String, lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("k"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit(tag), $"id" % 5).as("name"))
    val s1 = IcebergWrite.append(
      batch("alpha", 0, 100), table, Seq("name" -> "truncate[3]"))
    val s2 = IcebergWrite.append(
      batch("beta", 100, 200), table, Seq("name" -> "truncate[3]"))
    assert((s1, s2) === ((1L, 2L)))
    assert(IcebergRead.read(spark, table).count() === 200)
    assert(IcebergRead.read(spark, table, Some(1L)).count() === 100)
    // equality on a string prunes through truncate[3]
    val pr = IcebergRead.readPruned(spark, table, $"name" === "beta3")
    assert(pr.df.count() === 20 && pr.keptFiles < pr.totalFiles)
    // the alpha-prefixed files are all skipped
    assert(pr.keptFiles <= pr.totalFiles / 2,
      s"kept ${pr.keptFiles}/${pr.totalFiles}")
    // a predicate no transform serves keeps everything, stays correct
    val none = IcebergRead.readPruned(spark, table, $"k" % 7 === 0)
    assert(none.keptFiles === none.totalFiles)
    assert(none.df.count() ===
      IcebergRead.read(spark, table).filter($"k" % 7 === 0).count())
  }

  test("string RANGE predicates prune lexicographically through truncate, losing no rows") {
    val table = java.nio.file.Files.createTempDirectory("graft-icesr").toString + "/t"
    def batch(tag: String, lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("k"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit(tag), $"id" % 5).as("name"))
    IcebergWrite.append(
      batch("alpha", 0, 100), table, Seq("name" -> "truncate[3]"))
    IcebergWrite.append(
      batch("beta", 100, 200), table, Seq("name" -> "truncate[3]"))
    val all = IcebergRead.read(spark, table)
    // >= "beta" must keep every beta file (alp < bet prunes) — the
    // pre-fix cmp returned false for ALL string ranges, silently
    // pruning every file and returning an empty result
    val ge = IcebergRead.readPruned(spark, table, $"name" >= "beta")
    val wantGe = all.filter($"name" >= "beta").count()
    assert(wantGe === 100L)
    assert(ge.df.count() === wantGe)
    assert(ge.keptFiles > 0 && ge.keptFiles < ge.totalFiles,
      s"range kept ${ge.keptFiles}/${ge.totalFiles}")
    // the other direction prunes beta files
    val lt = IcebergRead.readPruned(spark, table, $"name" < "b")
    assert(lt.df.count() === all.filter($"name" < "b").count())
    assert(lt.df.count() === 100L)
    assert(lt.keptFiles < lt.totalFiles)
    // the AUTOMATIC TransformFileIndex path (plain read().filter)
    // takes the same predicates — assert no row loss there either
    assert(IcebergRead.read(spark, table)
      .filter($"name" >= "beta").count() === wantGe)
  }

  test("identity date/timestamp partitions prune eq + ranges via render-aware parsing") {
    import org.apache.spark.sql.functions.expr
    val table = java.nio.file.Files.createTempDirectory("graft-iceid").toString + "/t"
    val df = spark.range(0, 300).select(
      $"id".as("k"),
      expr("date_add(date '2024-01-01', cast(id % 10 as int))").as("d"),
      expr("timestamp_micros(1700000000000000 + 3600000000 * cast(id % 6 as long))").as("ts"))
    IcebergWrite.append(df.coalesce(1), table,
      Seq("d" -> "identity"))
    val all = IcebergRead.read(spark, table)
    assert(all.count() === 300)
    // equality on the identity date prunes to one of ten day-files —
    // the entry renders `2024-01-03`, the literal is epoch DAYS; the
    // pre-fix comparable() refused DateType so nothing pruned
    val one = java.sql.Date.valueOf("2024-01-03")
    val pr = IcebergRead.readPruned(spark, table, $"d" === one)
    assert(pr.totalFiles === 10 && pr.keptFiles === 1,
      s"kept ${pr.keptFiles}/${pr.totalFiles}")
    assert(pr.df.count() === all.filter($"d" === one).count())
    assert(pr.df.count() === 30L)
    // identity is monotonic: a date RANGE prunes too (Jan 8/9/10)
    val lo = java.sql.Date.valueOf("2024-01-08")
    val rg = IcebergRead.readPruned(spark, table, $"d" >= lo)
    assert(rg.keptFiles === 3, s"kept ${rg.keptFiles}/${rg.totalFiles}")
    assert(rg.df.count() === all.filter($"d" >= lo).count())
    // identity TIMESTAMP partitions (hive-rendered `yyyy-MM-dd HH:mm:ss`)
    val t2 = java.nio.file.Files.createTempDirectory("graft-iceidts").toString + "/t"
    IcebergWrite.append(df.coalesce(1), t2,
      Seq("ts" -> "identity"))
    val allTs = IcebergRead.read(spark, t2)
    val oneTs = new java.sql.Timestamp(1700000000000L + 2L * 3600000L)
    val prTs = IcebergRead.readPruned(spark, t2, $"ts" === oneTs)
    assert(prTs.totalFiles === 6 && prTs.keptFiles === 1,
      s"kept ${prTs.keptFiles}/${prTs.totalFiles}")
    assert(prTs.df.count() === allTs.filter($"ts" === oneTs).count())
    assert(prTs.df.count() === 50L)
  }

  test("appending to a table with UUID-style metadata names commits instead of crashing") {
    val table = java.nio.file.Files.createTempDirectory("graft-iceuuid").toString
    IcebergWrite.append(Seq((1L, "a")).toDF("id", "v").coalesce(1), table)
    // a foreign writer's metadata name: no v-prefix, not numeric
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"$table/metadata/v1.metadata.json")
    val alien = new org.apache.hadoop.fs.Path(
      s"$table/metadata/00000-8a9f1c2e-dead-beef-cafe-123456789abc.metadata.json")
    org.apache.hadoop.fs.FileUtil.copy(f, src, f, alien, false,
      spark.sparkContext.hadoopConfiguration)
    // pre-fix: NumberFormatException on the UUID stem
    val s2 = IcebergWrite.append(
      Seq((2L, "b")).toDF("id", "v").coalesce(1), table)
    assert(s2 === 2L)
    assert(IcebergRead.read(spark, table).count() === 2)
  }

  test("REAL-SPEC pinned fixture: full-schema manifests replay; identity prune through the transform index") {
    import org.apache.spark.sql.functions.col
    val table = graft.sources.Fixtures.dir(spark, "iceberg_foreign")
    // replay: 6 rows across 2 commits, 3 date partitions
    val df = IcebergRead.read(spark, table)
    val got = df.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[String]("category"), r.getAs[Double]("price"),
      r.getAs[java.sql.Date]("event_date").toString)).toSet
    assert(got === Set(
      (1L, "fruit", 3.5, "2024-01-01"), (2L, "fruit", 4.0, "2024-01-01"),
      (3L, "tool", 20.5, "2024-01-02"), (4L, "tool", 9.25, "2024-01-02"),
      (5L, "book", 12.0, "2024-01-03"), (6L, "book", 7.75, "2024-01-03")))
    // time travel: snapshot 1 sees only the first commit
    assert(IcebergRead.read(spark, table, Some(1L)).count() === 3)
    // identity prune: a date equality keeps only that partition's file
    val (pruned, idx) = IcebergRead.readTransformIndexed(spark, table)
    assert(pruned.filter(col("event_date") === "2024-01-03")
      .collect().map(_.getAs[Long]("id")).toSet === Set(5L, 6L))
    assert(idx.lastSelectedFileCount === 1 && idx.totalFileCount === 4)
    // the on-disk Avro carries the spec's REAL field-ids and names —
    // pin the contract so writer/reader drift breaks loudly
    val lists = IcebergRead.readAvroRecords(spark,
      s"$table/metadata/snap-2-1-d7e155ca-13fe-4ada-a063-ef3e173b1f96.avro")
    assert(lists.size === 2) // new manifest + carried-forward prior
    val listSchema = lists.head.getSchema
    assert(listSchema.getName === "manifest_file")
    assert(listSchema.getField("manifest_path").getObjectProp("field-id") === 500)
    assert(listSchema.getField("min_sequence_number").getObjectProp("field-id") === 516)
    assert(listSchema.getField("added_data_files_count").getObjectProp("field-id") === 504)
    assert(lists.map(_.get("sequence_number").asInstanceOf[Long]).toSet === Set(1L, 2L))
    val manifest = lists.find(_.get("sequence_number") == 2L).get
      .get("manifest_path").toString
    val entries = IcebergRead.readAvroRecords(spark, manifest)
    val entrySchema = entries.head.getSchema
    assert(entrySchema.getName === "manifest_entry")
    assert(entrySchema.getField("status").getObjectProp("field-id") === 0)
    val dfSchema = entrySchema.getField("data_file").schema()
    assert(dfSchema.getName === "r2")
    assert(dfSchema.getField("file_path").getObjectProp("field-id") === 100)
    assert(dfSchema.getField("content").getObjectProp("field-id") === 134)
    val pSchema = dfSchema.getField("partition").schema()
    assert(pSchema.getName === "r102")
    assert(pSchema.getField("event_date").getObjectProp("field-id") === 1000)
    // the partition value is a TYPED day ordinal, not a string
    val part = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(part.get("event_date").isInstanceOf[Integer])
  }

  test("REAL-SPEC MoR pinned fixture: content=1 delete manifests mask; later appends survive; raw field-ids pinned") {
    import org.apache.spark.sql.functions.col
    val table = graft.sources.Fixtures.dir(spark, "iceberg_foreign_mor")
    // replay: v3 position-deleted ids 1/2/6 (price < 8) across two
    // partitions; v4 appended id 7 (price 2.0 — would match the
    // delete predicate, but deletes are path-targeted and
    // sequence-scoped, so a LATER file never loses rows) and id 8;
    // v5 EQUALITY-deleted (id, event_date) keys 3 and 4; v6
    // re-inserted id 3 with a new price (survives its own delete —
    // equality deletes scope STRICTLY below their sequence) + id 9
    val latest = IcebergRead.read(spark, table)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("price"))
      .toMap
    assert(latest.keySet === Set(3L, 5L, 7L, 8L, 9L))
    assert(latest(3L) === 99.0) // the RE-INSERTED image, not the original
    // time travel: pre-delete snapshot sees all 6; the position-delete
    // snapshot masks to 3; the pre-equality snapshot still has 3/4
    assert(IcebergRead.read(spark, table, Some(2L)).count() === 6)
    assert(IcebergRead.read(spark, table, Some(3L))
      .collect().map(_.getAs[Long]("id")).toSet === Set(3L, 4L, 5L))
    assert(IcebergRead.read(spark, table, Some(4L))
      .collect().map(_.getAs[Long]("id")).toSet === Set(3L, 4L, 5L, 7L, 8L))
    assert(IcebergRead.read(spark, table, Some(5L))
      .collect().map(_.getAs[Long]("id")).toSet === Set(5L, 7L, 8L))
    // the v4 manifest list carries the delete manifest FORWARD:
    // content=1 entry with the delete commit's sequence number
    val metaDir = new java.io.File(s"$table/metadata")
    val v4list = metaDir.listFiles.map(_.getName)
      .filter(n => n.startsWith("snap-4-1-") && n.endsWith(".avro")).head
    val lists = IcebergRead.readAvroRecords(spark, s"$table/metadata/$v4list")
    assert(lists.size === 4) // 3 append manifests + 1 delete manifest
    val listSchema = lists.head.getSchema
    assert(listSchema.getField("content").getObjectProp("field-id") === 517)
    assert(listSchema.getField("sequence_number").getObjectProp("field-id") === 515)
    val delLists = lists.filter(_.get("content") == 1)
    assert(delLists.size === 1)
    val delList = delLists.head
    assert(delList.get("sequence_number") === 3L &&
      delList.get("min_sequence_number") === 3L)
    assert(delList.get("added_rows_count") === 3L)
    // the delete MANIFEST's entries: full v2 data_file struct with
    // content=1 (POSITION_DELETES) and typed partition records
    val delEntries = IcebergRead.readAvroRecords(spark,
      delList.get("manifest_path").toString)
    assert(delEntries.size === 2) // one per touched partition
    val entrySchema = delEntries.head.getSchema
    assert(entrySchema.getName === "manifest_entry")
    assert(entrySchema.getField("sequence_number").getObjectProp("field-id") === 3)
    val dfSchema = entrySchema.getField("data_file").schema()
    assert(dfSchema.getField("content").getObjectProp("field-id") === 134)
    assert(dfSchema.getField("file_path").getObjectProp("field-id") === 100)
    assert(dfSchema.getField("record_count").getObjectProp("field-id") === 103)
    delEntries.foreach { e =>
      val d = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      assert(d.get("content") === 1)
      assert(d.get("file_path").toString.endsWith("-deletes.parquet"))
      val p = d.get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
      assert(p.get("event_date").isInstanceOf[Integer])
    }
    // the delete PARQUET carries the spec's reserved field-ids
    // (2147483546 file_path / 2147483545 pos) and sorted positions
    val delPq = delEntries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(delPq),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val pqSchema = r.getFileMetaData.getSchema
      def idOf(n: String) =
        pqSchema.getFields.get(pqSchema.getFieldIndex(n)).getId.intValue
      assert(idOf("file_path") === 2147483546)
      assert(idOf("pos") === 2147483545)
    } finally r.close()
    val delRows = spark.read.parquet(delPq)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(delRows === delRows.sorted)
    // the v6 list carries BOTH delete manifests forward; the equality
    // one's entries are content=2 with equality_ids naming the TABLE
    // field-ids, and the delete parquet carries exactly those columns
    // with those footer ids (the spec's delete-row ↔ data-column bind)
    val v6list = metaDir.listFiles.map(_.getName)
      .filter(n => n.startsWith("snap-6-1-") && n.endsWith(".avro")).head
    val lists6 = IcebergRead.readAvroRecords(spark, s"$table/metadata/$v6list")
    val dels6 = lists6.filter(_.get("content") == 1)
    assert(dels6.map(_.get("sequence_number")).toSet === Set(3L, 5L))
    val eqList = dels6.find(_.get("sequence_number") == 5L).get
    val eqEntries = IcebergRead.readAvroRecords(spark,
      eqList.get("manifest_path").toString)
    assert(eqEntries.size === 1) // one touched partition
    val eqD = eqEntries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(eqD.get("content") === 2)
    import scala.jdk.CollectionConverters._
    assert(eqD.get("equality_ids").asInstanceOf[java.util.List[Integer]]
      .asScala.map(_.intValue).toSeq === Seq(1, 4)) // id=1, event_date=4
    val eqPq = eqD.get("file_path").toString
    assert(eqPq.endsWith("-eq-deletes.parquet"))
    val eqIn = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(eqPq),
      spark.sparkContext.hadoopConfiguration)
    val eqR = org.apache.parquet.hadoop.ParquetFileReader.open(eqIn)
    try {
      val s6 = eqR.getFileMetaData.getSchema
      assert(s6.getFieldCount === 2)
      def idOf6(n: String) =
        s6.getFields.get(s6.getFieldIndex(n)).getId.intValue
      assert(idOf6("id") === 1 && idOf6("event_date") === 4)
    } finally eqR.close()
    // metadata.json fidelity: snapshot-log carries EVERY snapshot,
    // metadata-log every prior metadata file, and summary totals are
    // cumulative (total-records = data rows; deletes accrue in
    // total-position-deletes / total-equality-deletes, never
    // shrinking total-records)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(
      new java.io.File(s"$table/metadata/v6.metadata.json"))
    assert(meta.get("snapshot-log").size === 6)
    assert(meta.get("metadata-log").size === 5)
    val sums = (1 to 6).map { i =>
      var s: com.fasterxml.jackson.databind.JsonNode = null
      meta.get("snapshots").forEach(n =>
        if (n.get("snapshot-id").asInt == i) s = n.get("summary"))
      (s.get("total-records").asText, s.get("total-position-deletes").asText,
        s.get("total-equality-deletes").asText)
    }
    assert(sums === Seq(("3", "0", "0"), ("6", "0", "0"), ("6", "3", "0"),
      ("8", "3", "0"), ("8", "3", "2"), ("10", "3", "2")))
  }
}
