package graft

import graft.sources.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions.{count, lit, sum, when}

/** Delta-protocol log replay: adds, tombstones, time travel, and
  * rejection of non-delta directories. */
class DeltaReadSpec extends SparkSuite {
  import spark.implicits._

  test("log replay: adds, tombstones, time travel") {
    val table = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    assert(DeltaWrite.append(a.coalesce(1), table) === 0L)
    assert(DeltaWrite.append(b.coalesce(1), table) === 1L)
    assert(DeltaRead.read(spark, table).count() === 3)
    assert(DeltaRead.read(spark, table, Some(0L)).count() === 2)
    // tombstone commit 0's files; only commit 1's rows survive
    val v0 = DeltaRead.liveFiles(spark, table, Some(0L))
    DeltaWrite.append(a.limit(0).coalesce(1), table, removePaths = v0)
    val latest = DeltaRead.read(spark, table).select($"id").collect().map(_.getLong(0))
    assert(latest.toSet === Set(3L))
    assert(DeltaRead.versions(spark, table) === Seq(0L, 1L, 2L))
    intercept[IllegalArgumentException] {
      DeltaRead.versions(spark, java.nio.file.Files.createTempDirectory("nd").toString)
    }
  }

  test("Lake write -> _delta_log export -> Delta read round trip") {
    import graft.sources.{DeltaWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dexp").toString
    Lake.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "v"), table, Seq("p"))
    Lake.write(Seq((3L, "a", 30.0)).toDF("id", "p", "v"), table, Seq("p"), mode = "append")
    Lake.delete(spark, table, $"id" === 2L) // CoW rewrite drops a file
    assert(DeltaWrite.exportLake(spark, table) === 2L)
    // latest: ids 1,3 with partition col recovered
    val latest = DeltaRead.read(spark, table).select($"id", $"p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest === Set((1L, "a"), (3L, "a")))
    // time travel: Delta version v == Lake snapshot v+1
    assert(DeltaRead.read(spark, table, Some(0L)).count() === 2)
    assert(DeltaRead.read(spark, table, Some(1L)).count() === 3)
    // idempotent + incremental: re-export after another commit
    Lake.write(Seq((4L, "c", 40.0)).toDF("id", "p", "v"), table, Seq("p"), mode = "append")
    assert(DeltaWrite.exportLake(spark, table) === 3L)
    assert(DeltaRead.read(spark, table).count() === 3)
    assert(DeltaRead.versions(spark, table) === Seq(0L, 1L, 2L, 3L))
  }

  test("column mapping (mode=name): physical columns read under logical names") {
    import org.apache.spark.sql.types._
    val table = java.nio.file.Files.createTempDirectory("graft-dcm").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
    def onefile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val staging = s"$table/_stage_${dest.hashCode.abs}"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      f.rename(part, new org.apache.hadoop.fs.Path(s"$table/$dest"))
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    // data files carry the PHYSICAL names a mapped writer uses
    onefile(Seq((1L, "a", 5.0), (2L, "b", 6.0))
      .toDF("col-a1", "col-b2", "col-dropped"), "d1.parquet")
    onefile(Seq((3L, "c")).toDF("col-a1", "col-b2"), "d2.parquet")
    def mapped(logical: String, phys: String, dt: DataType) =
      StructField(logical, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", phys.hashCode.toLong).build())
    val schema = StructType(Seq(
      mapped("id", "col-a1", LongType), mapped("v", "col-b2", StringType)))
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    val out = f.create(new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/${0L}%020d.json"), false)
    try out.write((
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""" + "\n" +
      """{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n" +
      """{"add":{"path":"d2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n"
      ).getBytes("UTF-8")) finally out.close()
    val got = DeltaRead.read(spark, table)
    assert(got.columns.toSeq === Seq("id", "v"),
      "logical names only — dropped physical columns must not leak")
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("column mapping: swapped logical/physical names bind correctly") {
    import org.apache.spark.sql.types._
    val table = java.nio.file.Files.createTempDirectory("graft-dcms").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
    val staging = s"$table/_stage"
    // physical columns literally named "a" and "b" — but logical "a"
    // maps to physical "b" and vice versa (two RENAMEs swapped them)
    Seq((1L, 100L)).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    f.rename(part, new org.apache.hadoop.fs.Path(s"$table/d1.parquet"))
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    def mapped(lg: String, ph: String) =
      StructField(lg, LongType, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", ph).build())
    val schema = StructType(Seq(mapped("a", "b"), mapped("b", "a")))
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    val out = f.create(new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/${0L}%020d.json"), false)
    try out.write((
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""" + "\n" +
      """{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n"
      ).getBytes("UTF-8")) finally out.close()
    val r = DeltaRead.read(spark, table).head
    // logical a reads physical b's value and vice versa
    assert((r.getLong(0), r.getLong(1)) === ((100L, 1L)))
  }

  test("column mapping: partitionValues keyed by physical name") {
    import org.apache.spark.sql.types._
    val table = java.nio.file.Files.createTempDirectory("graft-dcmp").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
    val staging = s"$table/_stage"
    Seq((1L, 2L)).toDF("col-k7", "col-x8").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    f.rename(part, new org.apache.hadoop.fs.Path(s"$table/d1.parquet"))
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    def mapped(logical: String, phys: String, dt: DataType) =
      StructField(logical, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys).build())
    val schema = StructType(Seq(
      mapped("k", "col-k7", LongType), mapped("x", "col-x8", LongType),
      mapped("p", "col-p9", StringType)))
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    val out = f.create(new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/${0L}%020d.json"), false)
    try out.write((
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name"}}}""" + "\n" +
      """{"add":{"path":"d1.parquet","partitionValues":{"col-p9":"west"},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n"
      ).getBytes("UTF-8")) finally out.close()
    val got = DeltaRead.read(spark, table)
    assert(got.columns.toSeq === Seq("k", "x", "p"))
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getString(2)) === ((1L, 2L, "west")))
  }

  test("deletion vectors: u/i storage masked on read; upgrade; checkpoint guard") {
    import graft.sources.DeltaDv
    // codec round trip incl. a multi-bitmap (>2^32) index
    val big = Array(1L, 99L, (5L << 32) | 7L)
    assert(DeltaDv.deserialize(DeltaDv.serialize(big)).sorted === big.sorted)
    assert(DeltaDv.z85Decode(DeltaDv.z85Encode(Array[Byte](1, 2, 3, 4)))
      .toSeq === Seq[Byte](1, 2, 3, 4))

    val table = java.nio.file.Files.createTempDirectory("graft-ddv").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
    def onefile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val staging = s"$table/_stage_${dest.hashCode.abs}"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      f.rename(part, new org.apache.hadoop.fs.Path(s"$table/$dest"))
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    onefile(spark.range(0, 100).orderBy($"id").select($"id"), "d1.parquet")
    onefile(spark.range(100, 200).orderBy($"id").select($"id"), "d2.parquet")
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(spark.range(0, 1).select($"id").schema.json)
    // d1: u-stored DV masking rows 3 and 7; d2: inline DV masking row 0
    val du = DeltaDv.writeUuidDv(spark, table, Array(3L, 7L))
    val inlineData = DeltaDv.serialize(Array(0L))
    def dvJson(d: DeltaDv.Descriptor) =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    val di = DeltaDv.Descriptor("i", DeltaDv.z85Encode(inlineData), 0,
      inlineData.length, 1)
    def log(v: Long, body: String): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/$v%020d.json"), false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    log(0L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""" + "\n" +
      s"""{"metaData":{"id":"dv","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[]}}""" + "\n" +
      s"""{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":${dvJson(du)}}}""" + "\n" +
      s"""{"add":{"path":"d2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":${dvJson(di)}}}""" + "\n")
    val got = DeltaRead.read(spark, table).collect().map(_.getLong(0)).toSet
    assert(got === ((0L until 200L).toSet -- Set(3L, 7L, 100L)))
    // DV upgrade: a later add of d1 with a wider vector replaces it
    val du2 = DeltaDv.writeUuidDv(spark, table, Array(3L, 7L, 9L))
    log(1L,
      s"""{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":false,"deletionVector":${dvJson(du2)}}}""" + "\n")
    assert(DeltaRead.read(spark, table).count() === 196L)
    // time travel to v0 re-serves row 9
    assert(DeltaRead.read(spark, table, Some(0L)).count() === 197L)
    // checkpoint of the DV-LIVE version: descriptors ride in the add
    // struct (PROTOCOL.md §Checkpoints) — bootstrap from the parquet
    // alone equals the full JSON replay
    val ck = DeltaWrite.checkpoint(spark, table)
    assert(ck === 1L)
    val viaLog = DeltaRead.read(spark, table).collect().map(_.getLong(0)).toSet
    // delete the JSON commits the checkpoint covers: replay must enter
    // at the checkpoint and still mask 3/7/9/100
    (0L to 1L).foreach(v => f.delete(new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/$v%020d.json"), false))
    val viaCkpt = DeltaRead.read(spark, table).collect().map(_.getLong(0)).toSet
    assert(viaCkpt === viaLog, "checkpoint bootstrap != full-log replay")
    assert(viaCkpt.size === 196 && !viaCkpt.contains(9L))
    // CRC tamper detection
    // tamper every vector file (only the CURRENT add's is read)
    f.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath).filter(_.getName.startsWith("deletion_vector_"))
      .foreach { victim =>
        val bytes = {
          val in = f.open(victim)
          try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        }
        bytes(6) = (bytes(6) ^ 0x7f).toByte
        val out = f.create(victim, true)
        try out.write(bytes) finally out.close()
      }
    intercept[IllegalArgumentException] {
      DeltaRead.read(spark, table).count()
    }
  }

  test("changes: Delta CDF over an exported MoR table equals Lake.changes") {
    import graft.sources.{DeltaWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dcdf").toString + "/t"
    Lake.write(spark.range(0, 500).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")).repartition(3), table, Nil) // v1
    Lake.mergeMor(spark, table, spark.range(0, 30).select(
      when($"id" < 20, $"id").otherwise($"id" + 970).as("k"),
      lit(-1.0).as("x")), Seq("k"))                                   // v2
    Lake.deleteMor(spark, table, $"k" >= 400 && $"k" < 450)           // v3
    DeltaWrite.exportLake(spark, table)
    val viaDelta = DeltaRead.changes(spark, table, 0L, 2L)
    val viaLake = Lake.changes(spark, table, 1, 3)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"__change_type").agg(
        count(lit(1)).as("n"), sum($"k").as("sk"), sum($"x").as("sx"))
      .orderBy($"__change_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(agg(viaDelta) === agg(viaLake))
    // inserts: 20 upserts + 10 inserts; deletes: 20 old images + 50
    assert(viaDelta.filter($"__change_type" === "insert").count() === 30L)
    assert(viaDelta.filter($"__change_type" === "delete").count() === 70L)
    // version attribution survives the export (Delta v = Lake v - 1)
    assert(viaDelta.filter($"__commit_version" === 1).count() === 50L)
    assert(viaDelta.filter($"__commit_version" === 2).count() === 50L)
    // quiet window on a fresh export is empty, not an error
    assert(DeltaRead.changes(spark, table, 0L, 2L)
      .filter(lit(false)).count() === 0L)
  }

  test("changes: partitioned table attaches partition columns, typed from the log") {
    import graft.sources.{DeltaWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dcdfp").toString + "/t"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select($"id".as("k"),
      when($"id" % 2 === 0, "even").otherwise("odd").as("p"),
      ($"id" * 3).cast("double").as("x"))
    Lake.write(mk(0, 200), table, Seq("p"))          // v1 -> Delta commit 0
    Lake.write(mk(200, 240), table, Seq("p"), mode = "append") // v2 -> commit 1
    Lake.deleteMor(spark, table, $"k" < 20)          // v3 -> commit 2
    DeltaWrite.exportLake(spark, table)
    val viaDelta = DeltaRead.changes(spark, table, 0L, 2L)
    assert(viaDelta.columns.contains("p"),
      "partition column missing from the CDF rows")
    val viaLake = Lake.changes(spark, table, 1, 3)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"__change_type", $"p").agg(
        count(lit(1)).as("n"), sum($"k").as("sk"), sum($"x").as("sx"))
      .orderBy($"__change_type", $"p")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(agg(viaDelta) === agg(viaLake))
    // inserts of commit 1 land in both partitions with real values
    assert(viaDelta.filter($"__change_type" === "insert" && $"p" === "even")
      .count() === 20L)
    assert(viaDelta.filter($"p".isNull).count() === 0L,
      "partition values must never surface as NULL")
  }

  test("changes: column-mapped table emits logical names") {
    import org.apache.spark.sql.types._
    val table = java.nio.file.Files.createTempDirectory("graft-dcdfm").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
    def onefile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val staging = s"$table/_stage_${dest.hashCode.abs}"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      f.rename(part, new org.apache.hadoop.fs.Path(s"$table/$dest"))
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    onefile(Seq((1L, "a"), (2L, "b")).toDF("col-a1", "col-b2"), "d1.parquet")
    onefile(Seq((3L, "c")).toDF("col-a1", "col-b2"), "d2.parquet")
    def mapped(lg: String, ph: String, dt: DataType) =
      StructField(lg, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", ph).build())
    val schema = StructType(Seq(
      mapped("id", "col-a1", LongType), mapped("v", "col-b2", StringType)))
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    def log(v: Long, body: String): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/$v%020d.json"), false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    log(0L,
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""" + "\n" +
      """{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
    log(1L,
      """{"add":{"path":"d2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n" +
      """{"remove":{"path":"d1.parquet","deletionTimestamp":1,"dataChange":true}}""" + "\n")
    val ch = DeltaRead.changes(spark, table, 0L, 1L)
    assert(ch.columns.toSeq.sorted ===
      Seq("__change_type", "__commit_version", "id", "v"),
      s"physical names leaked: ${ch.columns.mkString(",")}")
    val got = ch.collect().map(r => (r.getAs[String]("__change_type"),
      r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(got === Set(("insert", 3L, "c"),
      ("delete", 1L, "a"), ("delete", 2L, "b")))
  }

  test("CDF write side: cdc files replay row-for-row with Lake.changes; fold is an empty cdc; appends derive") {
    import graft.sources.{DeltaWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dcdfw").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Lake.write(spark.range(0, 300).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")).repartition(2), table, Nil)  // v1
    Lake.mergeMor(spark, table, spark.range(0, 20).select($"id".as("k"),
      lit(-5.0).as("x")), Seq("k"))                                    // v2
    Lake.deleteMor(spark, table, $"k" >= 250)                          // v3
    Lake.foldDeletes(spark, table)                                     // v4 (maintenance)
    Lake.write(spark.range(300, 320).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), table, Nil, mode = "append") // v5
    DeltaWrite.exportLake(spark, table, withCdf = true)
    def logText(v: Long): String = {
      val in = f.open(new org.apache.hadoop.fs.Path(f"$table/_delta_log/$v%020d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    // MoR commits carry cdc actions; the fold's cdc is an EMPTY file;
    // the pure append carries none (derivable from its adds)
    assert(logText(1L).contains("\"cdc\"") && logText(2L).contains("\"cdc\""))
    assert(logText(3L).contains("\"cdc\""), "fold should write an empty cdc")
    assert(!logText(4L).contains("\"cdc\""), "pure append must not write cdc")
    assert(logText(0L).contains("delta.enableChangeDataFeed"))
    // row-for-row equality with the native feed (Delta v = Lake v - 1)
    val viaCdf = DeltaRead.changesCdf(spark, table, 0L, 4L)
      .withColumn("__commit_version", $"__commit_version" + 1)
    val viaLake = Lake.changes(spark, table, 1, 5)
    assert(viaCdf.exceptAll(viaLake).isEmpty && viaLake.exceptAll(viaCdf).isEmpty,
      "CDF file replay != manifest-derived feed")
    // fold contributed nothing; append derived as inserts
    assert(viaCdf.filter($"__commit_version" === 4).count() === 0L)
    assert(viaCdf.filter($"__commit_version" === 5 &&
      $"__change_type" === "insert").count() === 20L)
  }

  test("CDF write side, PARTITIONED: change files drop partition columns; cdc actions carry real partitionValues") {
    import graft.sources.{DeltaWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dcdfpw").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Lake.write(spark.range(0, 300).select($"id".as("k"),
      ($"id" % 3).cast("string").as("p"),
      ($"id" * 2).cast("double").as("x")).repartition(2),
      table, Seq("p"))                                               // v1
    Lake.deleteMor(spark, table, $"k" >= 250)                        // v2
    Lake.mergeMor(spark, table, spark.range(0, 10).select($"id".as("k"),
      ($"id" % 3).cast("string").as("p"), lit(-7.0).as("x")), Seq("k")) // v3
    DeltaWrite.exportLake(spark, table, withCdf = true)
    // every cdc parquet: NO partition column in-file (protocol: change
    // files store data + _change_type only; partition comes from the
    // action), and its action records the real partition tuple
    val logTxt = {
      val in = f.open(new org.apache.hadoop.fs.Path(f"$table/_delta_log/${1L}%020d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cdcActs = logTxt.linesIterator.filter(_.nonEmpty)
      .map(mapper.readTree).filter(_.has("cdc")).toSeq
    assert(cdcActs.nonEmpty, "MoR delete commit must carry cdc actions")
    cdcActs.foreach { n =>
      val pv = n.get("cdc").get("partitionValues")
      assert(pv.has("p") && !pv.get("p").isNull,
        s"cdc action missing real partitionValues: $n")
      val file = spark.read.parquet(s"$table/" + n.get("cdc").get("path").asText())
      assert(!file.columns.contains("p"),
        "change file must not embed the partition column")
      assert(file.columns.contains("_change_type"))
    }
    // roundtrip: cdc replay == manifest-derived feed, partition column
    // restored as a typed literal from the action
    val viaCdf = DeltaRead.changesCdf(spark, table, 0L, 2L)
      .withColumn("__commit_version", $"__commit_version" + 1)
    val viaLake = Lake.changes(spark, table, 1, 3)
    assert(viaCdf.columns.toSet === viaLake.columns.toSet)
    val a = viaCdf.select(viaLake.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
    assert(a.exceptAll(viaLake).isEmpty && viaLake.exceptAll(a).isEmpty,
      "partitioned CDF replay != manifest-derived feed")
  }

  test("foreign CDF commits: update_preimage/postimage map onto the retraction contract") {
    val table = java.nio.file.Files.createTempDirectory("graft-dcdffx").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
    def onefile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val staging = s"$table/_stage_${dest.hashCode.abs}"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      f.rename(part, new org.apache.hadoop.fs.Path(s"$table/$dest"))
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    onefile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "d1.parquet")
    onefile(Seq((1L, "a2"), (2L, "b")).toDF("id", "v"), "d2.parquet")
    // a Spark+Delta-style update commit: cdc file with pre/postimage
    onefile(Seq((1L, "a", "update_preimage"), (1L, "a2", "update_postimage"))
      .toDF("id", "v", "_change_type"), "_change_data/c1.parquet")
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Seq((1L, "a")).toDF("id", "v").schema.json)
    def log(v: Long, body: String): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(
        f"$table/_delta_log/$v%020d.json"), false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    log(0L,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"}}}""" + "\n" +
      """{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
    log(1L,
      """{"cdc":{"path":"_change_data/c1.parquet","partitionValues":{},"size":1,"dataChange":false}}""" + "\n" +
      """{"add":{"path":"d2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n" +
      """{"remove":{"path":"d1.parquet","deletionTimestamp":1,"dataChange":true}}""" + "\n")
    val ch = DeltaRead.changesCdf(spark, table, 0L, 1L)
      .collect().map(r => (r.getAs[String]("__change_type"),
        r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    // the cdc file is authoritative (no d1/d2-derived rows), and the
    // update pair arrives as delete(old) + insert(new)
    assert(ch === Set(("delete", 1L, "a"), ("insert", 1L, "a2")))
  }

  test("Delta-side CDC subscription: pollDelta windows chain over CDF, crash replays") {
    import graft.sources.{DeltaWrite, Lake}
    import graft.streaming.ChangeFeed
    val table = java.nio.file.Files.createTempDirectory("graft-dpoll").toString + "/t"
    val ledger = table + "/../cursor"
    Lake.write(spark.range(0, 200).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), table, Nil)            // v1 -> Delta 0
    Lake.deleteMor(spark, table, $"k" < 20)                       // v2 -> Delta 1
    DeltaWrite.exportLake(spark, table, withCdf = true)
    var seen = scala.collection.mutable.ArrayBuffer[(Int, Int, Long)]()
    def poll(fail: Boolean = false) =
      ChangeFeed.pollDelta(spark, table, ledger, failBeforeCommit = fail) {
        (c, from, to) => seen += ((from, to, c.count()))
      }
    assert(poll().contains((0, 1)))
    assert(seen.last === ((0, 1, 20L)), s"got ${seen.last}")
    // new commit, crash between apply and cursor, then replay
    Lake.mergeMor(spark, table, spark.range(0, 5).select($"id".as("k"),
      lit(-1.0).as("x")), Seq("k"))                               // v3 -> Delta 2
    DeltaWrite.exportLake(spark, table, withCdf = true)
    intercept[IllegalStateException] { poll(fail = true) }
    assert(poll().contains((1, 2)))
    // the replayed window saw the same rows twice (at-least-once
    // apply; idempotence is the consumer's versioned-state job)
    assert(seen.count(w => w._1 == 1 && w._2 == 2) === 2)
    assert(seen.filter(w => w._1 == 1).forall(_._3 === 5L),
      "upsert of 5 fresh keys should emit 5 inserts")
    assert(poll() === None, "quiet table must no-op")
  }

  test("export protocol: DV-free log is {1,2}; first DV commit upgrades in-place") {
    import graft.sources.{DeltaWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-dproto").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def logText(v: Long): String = {
      val in = f.open(new org.apache.hadoop.fs.Path(f"$table/_delta_log/$v%020d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    Lake.write(spark.range(0, 100).select($"id".as("k")), table, Nil) // v1
    Lake.write(spark.range(100, 120).select($"id".as("k")), table, Nil,
      mode = "append")                                               // v2
    DeltaWrite.exportLake(spark, table)
    // no deletion vectors anywhere: spec-baseline protocol, no features
    assert(logText(0L).contains(""""minReaderVersion":1"""))
    assert(!logText(0L).contains("deletionVectors"))
    assert(!logText(1L).contains("protocol"))
    // a MoR delete introduces DVs: the NEW commit upgrades the protocol
    Lake.deleteMor(spark, table, $"k" < 10)                          // v3
    DeltaWrite.exportLake(spark, table)
    assert(logText(0L).contains(""""minReaderVersion":1"""),
      "already-exported commits must not be rewritten")
    assert(logText(2L).contains(""""minReaderVersion":3""") &&
      logText(2L).contains("deletionVectors") &&
      logText(2L).contains("metaData"),
      "the first DV commit must carry the protocol upgrade + metaData")
    // the upgraded log still reads correctly, masked
    assert(DeltaRead.read(spark, table).count() === 110L)
  }

  test("url-encoded paths decode for membership and scan resolution") {
    val table = java.nio.file.Files.createTempDirectory("graft-denc").toString
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // plant a data file whose name needs percent-encoding in the log
    val staging = s"$table/_stage"
    Seq((7L, "enc")).toDF("id", "v").coalesce(1).write.parquet(staging)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    f.rename(part, new org.apache.hadoop.fs.Path(s"$table/part 0.snappy.parquet"))
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Seq((7L, "enc")).toDF("id", "v").schema.json)
    def log(v: Long, body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(f"$table/_delta_log/$v%020d.json")
      val out = f.create(p, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // real writers percent-encode the space in the add path
    log(0L,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[]}}""" + "\n" +
      """{"add":{"path":"part%200.snappy.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
    assert(DeltaRead.read(spark, table).select($"id").head.getLong(0) === 7L)
    // an UNencoded remove must still cancel the encoded add
    log(1L,
      """{"remove":{"path":"part 0.snappy.parquet","deletionTimestamp":0,"dataChange":true}}""" + "\n")
    assert(DeltaRead.liveFiles(spark, table).isEmpty)
  }

  test("V2 checkpoint: sidecar parquet + json manifest bootstrap; parquet-flavor manifest too") {
    import graft.sources.{DeltaWrite, Lake}
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("graft-dck2").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Lake.write(spark.range(0, 200).select($"id".as("k"),
      ($"id" * 2).cast("double").as("v")), table, Nil)
    Lake.deleteMor(spark, table, col("k") % 10 === 0) // DV-live version
    DeltaWrite.exportLake(spark, table)
    val viaLog = DeltaRead.read(spark, table).collect()
      .map(_.getAs[Long]("k")).toSet
    val ck = DeltaWrite.checkpoint(spark, table, v2 = true)
    // layout: UUID-named json manifest + one sidecar parquet
    val names = f.listStatus(new org.apache.hadoop.fs.Path(s"$table/_delta_log"))
      .map(_.getPath.getName)
    val manifestName = names.find(n =>
      n.contains(".checkpoint.") && n.endsWith(".json")).get
    assert(manifestName.startsWith(f"$ck%020d.checkpoint."))
    assert(f.listStatus(new org.apache.hadoop.fs.Path(
      s"$table/_delta_log/_sidecars")).length === 1)
    // covered JSON commits deleted: replay must enter at the manifest,
    // read the sidecar, and still mask the delete vectors
    (0L to ck).foreach(v => f.delete(new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/$v%020d.json"), false))
    val viaCkpt = DeltaRead.read(spark, table).collect()
      .map(_.getAs[Long]("k")).toSet
    assert(viaCkpt === viaLog)
    assert(viaCkpt.size === 180 && !viaCkpt.contains(10L))
    // PARQUET-flavor manifest (what real writers emit): metaData +
    // sidecar as parquet rows — replace the json manifest with it
    val in = f.open(new org.apache.hadoop.fs.Path(
      s"$table/_delta_log/$manifestName"))
    val mtext = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    var schemaString: String = null; var sidecarPath: String = null
    mtext.linesIterator.filter(_.nonEmpty).foreach { l =>
      val n = om.readTree(l)
      if (n.has("metaData")) schemaString = n.get("metaData").get("schemaString").asText()
      if (n.has("sidecar")) sidecarPath = n.get("sidecar").get("path").asText()
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mdT = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType))))
    val scT = StructType(Seq(StructField("path", StringType),
      StructField("sizeInBytes", LongType)))
    val pm = StructType(Seq(StructField("metaData", mdT),
      StructField("sidecar", scT)))
    val rows = Seq(
      Row(Row("t2", schemaString, Seq.empty[String]), null),
      Row(null, Row(sidecarPath, 1L)))
    val staging = s"$table/_delta_log/.pqm_stage"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), pm)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    f.rename(part, new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/$ck%020d.checkpoint.aaaa0000-pq.parquet"))
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    f.delete(new org.apache.hadoop.fs.Path(
      s"$table/_delta_log/$manifestName"), false)
    val viaPq = DeltaRead.read(spark, table).collect()
      .map(_.getAs[Long]("k")).toSet
    assert(viaPq === viaLog)
  }

  test("FOREIGN interop: a real Delta-Lake 3.1.0 checkpoint bootstraps (map partitionValues, stats, tail replay)") {
    // vendored real-engine fixture (metadata-only _delta_log): classic
    // checkpoint parquet at v30 + JSON commit v31 + _last_checkpoint;
    // every covered JSON commit is absent, so this IS the
    // checkpoint-bootstrap path against bytes this repo never wrote
    val table = graft.sources.Fixtures.dir(spark, "delta_foreign")
    val inv = DeltaRead.inventory(spark, table).collect()
    assert(inv.length === 31) // 30 checkpoint adds + 1 from the v31 tail
    assert(inv.forall(_.getAs[Long]("num_records") === 1L))
    val v31 = inv.filter(_.getAs[String]("path").contains("3c9a556a"))
    assert(v31.length === 1 &&
      v31.head.getAs[String]("col_date") === "2024-01-06")
    // time travel to the checkpoint version excludes the tail add
    assert(DeltaRead.inventory(spark, table, Some(30L)).count() === 30)
    // the checkpoint-only version list resolves (ADVICE r10: a
    // vacuumed log must still report a current version)
    assert(DeltaRead.versions(spark, table) === Seq(31L))
    assert(DeltaRead.checkpointVersions(spark, table) === Seq(30L))
  }

  test("racing appends: winners are visible, losers conflicted, no file is left unreferenced") {
    val table = java.nio.file.Files.createTempDirectory("graft-drace").toString
    DeltaWrite.append(Seq((0L, "seed")).toDF("id", "v").coalesce(1), table)
    val results = race()(i => DeltaWrite.append(
      Seq((i, s"r$i")).toDF("id", "v").coalesce(1), table))
    val won = results.collect { case (i, scala.util.Success(_)) => i }.toSet
    results.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(won.nonEmpty)
    info(s"${won.size} of 4 racing appends committed")
    assert(results.collect { case (_, scala.util.Success(v)) => v }.distinct.size === won.size)
    assert(DeltaRead.read(spark, table).select($"id").as[Long].collect().toSet === won + 0L)
    // the losers deleted their data files, and no staging dir survives
    val names = new java.io.File(table).list().toSet
    assert(!names.exists(_.startsWith("_staging")))
    assert(names.filter(n => n.endsWith(".parquet") && !n.startsWith(".")) ===
      DeltaRead.liveFiles(spark, table).toSet)
  }

  test("export checkpoints a DV-live version; it reads the same without the JSON commits it covers") {
    import graft.sources.Lake
    val table = java.nio.file.Files.createTempDirectory("graft-dckdv").toString + "/t"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Lake.write(spark.range(0, 100).select($"id".as("k")), table, Nil)  // v1 -> Delta 0
    (1L to 9L).foreach(i =>                                           // v2..v10
      Lake.write(Seq(100L + i).toDF("k"), table, Nil, mode = "append"))
    Lake.deleteMor(spark, table, $"k" % 10 === 3)                      // v11 -> Delta 10
    assert(DeltaWrite.exportLake(spark, table) === 10L)
    assert(DeltaRead.checkpointVersions(spark, table) === Seq(10L))
    val viaLog = DeltaRead.read(spark, table).select($"k").as[Long].collect().toSet
    assert(viaLog === ((0L until 100L) ++ (101L to 109L)).filterNot(_ % 10 == 3).toSet)
    (0L to 10L).foreach(v => f.delete(new org.apache.hadoop.fs.Path(
      f"$table/_delta_log/$v%020d.json"), false))
    assert(DeltaRead.read(spark, table).select($"k").as[Long].collect().toSet === viaLog)
  }
}
