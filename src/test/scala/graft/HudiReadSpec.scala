package graft

import graft.sources.{HudiRead, HudiWrite}

/** Hudi COW timeline replay: slice replacement, snapshot isolation. */
class HudiReadSpec extends SparkSuite {
  import spark.implicits._

  test("copy-on-write slice replacement and instant-as-of reads") {
    val table = java.nio.file.Files.createTempDirectory("graft-hudi").toString
    val g0a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val g1 = Seq((10L, "x")).toDF("id", "v")
    val g0b = Seq((3L, "c")).toDF("id", "v")
    val i1 = HudiWrite.commit(table, Map("g0" -> g0a, "g1" -> g1))
    val i2 = HudiWrite.commit(table, Map("g0" -> g0b))
    assert(HudiRead.instants(spark, table) === Seq(i1, i2))
    // latest: g0 replaced, g1 untouched
    assert(HudiRead.read(spark, table).select($"id").collect()
      .map(_.getLong(0)).toSet === Set(3L, 10L))
    // as-of first instant: original slices
    assert(HudiRead.read(spark, table, Some(i1)).select($"id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 10L))
    intercept[IllegalArgumentException] {
      HudiRead.instants(spark, java.nio.file.Files.createTempDirectory("nh").toString)
    }
  }

  test("Lake write -> Hudi timeline export -> Hudi read round trip") {
    import graft.sources.{HudiWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-hexp").toString
    Lake.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), table, Nil)
    Lake.write(Seq((3L, 30.0)).toDF("id", "v"), table, Nil, mode = "append")
    Lake.delete(spark, table, $"id" === 2L) // CoW: retires a file group
    val last = HudiWrite.exportLake(spark, table)
    assert(last === f"${3}%014d")
    def ids(asOf: Option[String]) = HudiRead.read(spark, table, asOf)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(ids(None) === Set(1L, 3L))
    assert(ids(Some(f"${1}%014d")) === Set(1L, 2L))
    assert(ids(Some(f"${2}%014d")) === Set(1L, 2L, 3L))
    // the delete instant is a replacecommit (file groups retired)
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$table/.hoodie/${f"${3}%014d"}.replacecommit")))
    // incremental + idempotent re-export after another commit
    Lake.write(Seq((4L, 40.0)).toDF("id", "v"), table, Nil, mode = "append")
    assert(HudiWrite.exportLake(spark, table) === f"${4}%014d")
    assert(ids(None) === Set(1L, 3L, 4L))
  }

  test("export after a deltaCommit: a later Lake version reaches the timeline and reads once") {
    import graft.sources.Lake
    val table = java.nio.file.Files.createTempDirectory("graft-hexpdc").toString
    Lake.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), table, Nil)
    Lake.write(Seq((3L, 30.0)).toDF("id", "v"), table, Nil, mode = "append")
    HudiWrite.exportLake(spark, table)
    // the deltacommit takes the next instant, the number Lake v3 has
    val group = HudiRead.liveGroups(spark, table).keys.min
    HudiWrite.deltaCommit(table, group, "id", Some(Seq((9L, 90.0)).toDF("id", "v")))
    Lake.write(Seq((4L, 40.0)).toDF("id", "v"), table, Nil, mode = "append")
    val last = HudiWrite.exportLake(spark, table)
    assert(last === HudiRead.instants(spark, table).last)
    assert(HudiRead.read(spark, table).select($"id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("partitioned export: timeline-keyed partition restore + file pruning") {
    import graft.sources.{HudiRead, HudiWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-hudipart").toString + "/t"
    Lake.write(Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"),
      (4L, 40.0, "b b")).toDF("id", "v", "p"), table, Seq("p"))
    Lake.write(Seq((5L, 50.0, "c")).toDF("id", "v", "p"), table, Seq("p"), mode = "append")
    HudiWrite.exportLake(spark, table)
    // partitionPath keys carry the values (URL-encoded: "b b" round-trips)
    val slices = HudiRead.liveSliceDetails(spark, table)
    assert(slices.values.map(_.partitionPath).toSet
      .forall(pp => pp.startsWith("p=")))
    val all = HudiRead.read(spark, table)
    assert(all.schema("p").dataType === org.apache.spark.sql.types.StringType)
    assert(all.select($"id", $"p").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b b"), (5L, "c")))
    // a partition filter prunes files via the timeline-backed index
    val (df, Some(index)) = HudiRead.readIndexed(spark, table): @unchecked
    assert(df.filter($"p" === "c").select($"id").collect().map(_.getLong(0)).toSet === Set(5L))
    assert(index.lastSelectedFileCount < index.totalFileCount,
      s"selected ${index.lastSelectedFileCount}/${index.totalFileCount} — no pruning")
    // CoW delete on a partitioned table still replays (replacecommit
    // retires the partition's file group; re-export is incremental)
    Lake.delete(spark, table, $"id" === 3L)
    HudiWrite.exportLake(spark, table)
    assert(HudiRead.read(spark, table).select($"id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 4L, 5L))
  }

  test("log codec: data/delete blocks round-trip; unknown block types skip by length") {
    import graft.sources.HudiLog
    import org.apache.spark.sql.types._
    val st = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("x", DoubleType),
      StructField("ts", TimestampType)))
    val avro = HudiLog.avroSchemaFor(st)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "a", 1.5, java.sql.Timestamp.valueOf("2020-01-02 03:04:05.123456")),
      org.apache.spark.sql.Row(2L, null, null, null))
    val path = java.nio.file.Files.createTempDirectory("graft-hlog").toString + "/l.log.1"
    HudiLog.writeLogFile(spark, path, Seq(
      HudiLog.dataBlockBytes("001", avro, rows.map(HudiLog.rowToAvro(avro, st, _))),
      // an unknown block type must be skipped, not fail the read
      {
        val b = HudiLog.deleteBlockBytes("001", Seq("zz"))
        // patch the block-type int (offset: 6B magic + 4B version)
        val bb = java.nio.ByteBuffer.wrap(b, 10, 4); bb.putInt(99); b
      },
      HudiLog.deleteBlockBytes("002", Seq("1"))))
    val blocks = HudiLog.readLogFile(spark, path)
    assert(blocks.size === 2)
    val HudiLog.Data(i1, _, recs) = blocks(0): @unchecked
    assert(i1 === "001" && recs.size === 2)
    assert(HudiLog.avroToRow(st, recs(0)) === rows(0))
    assert(HudiLog.avroToRow(st, recs(1)) === rows(1))
    val HudiLog.Delete(i2, keys) = blocks(1): @unchecked
    assert(i2 === "002" && keys === Seq("1"))
  }

  test("merge-on-read: upserts/deletes/re-inserts resolve to the final image") {
    val table = java.nio.file.Files.createTempDirectory("graft-hmor").toString
    val g0 = spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x"))
    val g1 = spark.range(100, 200).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x"))
    HudiWrite.commit(table, Map("g0" -> g0, "g1" -> g1))
    // delta 1: update k in [0,10), delete [90,95)
    HudiWrite.deltaCommit(table, "g0", "k",
      Some(spark.range(0, 10).select($"id".as("k"), org.apache.spark.sql
        .functions.lit(-1.0).as("x"))),
      (90L until 95L).map(_.toString))
    // delta 2 on the same group: re-insert a deleted key, delete an
    // updated one — block ORDER must win, not block type
    HudiWrite.deltaCommit(table, "g0", "k",
      Some(Seq((92L, 555.0)).toDF("k", "x")), Seq("3"))
    val got = HudiRead.read(spark, table) // auto-delegates to readMor
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // survivors: 100 + 100 - 5 deleted + 1 re-insert - 1 delete = 195
    assert(got.size === 195)
    // the DISTRIBUTED fold resolves the same block order (delete vs
    // re-insert of the same key across deltacommits)
    assert(HudiRead.readMor(spark, table, inlineLogBytesCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap === got,
      "distributed fold != driver fold")
    assert((0L until 10L).filterNot(_ == 3L).forall(k => got(k) === -1.0),
      "delta-1 upserts lost")
    assert(!got.contains(3L), "delta-2 delete of an updated key lost")
    assert(got(92L) === 555.0, "re-insert after delete lost")
    assert(Seq(90L, 91L, 93L, 94L).forall(!got.contains(_)))
    assert(got(150L) === 300.0, "clean group g1 disturbed")
    // as-of BEFORE the deltas reads the clean base
    val i1 = HudiRead.instants(spark, table).head
    assert(HudiRead.read(spark, table, Some(i1)).count() === 200L)
    // a base rewrite (compaction shape) retires the group's logs
    val folded = HudiRead.read(spark, table).filter($"k" < 100 || $"k" >= 100)
    HudiWrite.commit(table, Map("g0" ->
      HudiRead.read(spark, table).filter($"k" < 100)))
    val groups = HudiRead.liveGroups(spark, table)
    assert(groups("g0").logs.isEmpty, "base rewrite must retire logs")
    assert(HudiRead.read(spark, table).count() === 195L)
  }

  test("merge-on-read over a PARTITIONED table: partition columns restored from the timeline") {
    import graft.sources.{HudiWrite, Lake}
    val table = java.nio.file.Files.createTempDirectory("graft-hmorp").toString + "/t"
    Lake.write(spark.range(0, 300).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x"),
      ($"id" % 3).cast("string").as("p")).coalesce(1), table, Seq("p"))
    graft.sources.HudiWrite.exportLake(spark, table)
    val byPart = HudiRead.liveGroups(spark, table).toSeq
      .groupBy(_._2.base.partitionPath)
    assert(byPart.keySet === Set("p=0", "p=1", "p=2"))
    // one file group per partition so the delta batches target the
    // group holding the keys (Hudi logs are per-group)
    assert(byPart.values.forall(_.size === 1))
    val gA = byPart("p=0").head._1
    val gB = byPart("p=1").head._1
    // logs on TWO partitions: upserts + a delete on p=0, upsert on p=1
    HudiWrite.deltaCommit(table, gA, "k",
      Some(Seq((0L, -1.0), (3L, -1.0), (6L, -1.0)).toDF("k", "x")), Seq("9"))
    HudiWrite.deltaCommit(table, gB, "k", Some(Seq((1L, -2.0)).toDF("k", "x")))
    def readAll() = HudiRead.read(spark, table)
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("x"), r.getAs[String]("p")))).toMap
    val got = readAll()
    // pre-fix this whole read REFUSED ("cannot restore directory-
    // encoded partition columns"); now every row carries p
    assert(got.size === 299, s"expected 299 rows, got ${got.size}")
    assert(got(0L) === ((-1.0, "0")) && got(3L) === ((-1.0, "0")))
    assert(got(1L) === ((-2.0, "1")), "upsert on second partition lost")
    assert(!got.contains(9L), "delete lost")
    assert(got(2L) === ((4.0, "2")), "clean partition disturbed")
    assert(got(12L) === ((24.0, "0")), "untouched key in dirty group disturbed")
    // partition filters stay correct through the merge
    assert(HudiRead.read(spark, table).filter($"p" === "2").count() === 100L)
    // deep-backlog path: force the DISTRIBUTED fold, bit-equal result
    assert(HudiRead.readMor(spark, table, inlineLogBytesCap = 0L)
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("x"), r.getAs[String]("p")))).toMap === got,
      "distributed fold != driver fold")
  }

  test("VALUES-ONLY partitionPath maps onto hoodie.table.partition.fields (indexed + MoR)") {
    // hand-authored foreign layout: data under americas/brazil etc.
    // (no col=val anywhere), columns declared only in hoodie.properties
    val table = java.nio.file.Files.createTempDirectory("graft-hvo").toString
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    f.mkdirs(hp(s"$table/.hoodie"))
    val props = new java.util.Properties()
    props.setProperty("hoodie.table.recordkey.fields", "k")
    props.setProperty("hoodie.table.partition.fields", "region,country")
    props.setProperty("hoodie.table.type", "MERGE_ON_READ")
    val out = f.create(hp(s"$table/.hoodie/hoodie.properties"), false)
    try props.store(out, null) finally out.close()
    def writeGroup(rel: String, fileId: String, df: org.apache.spark.sql.DataFrame): String = {
      val staging = s"$table/_st_$fileId"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = f.listStatus(hp(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      f.mkdirs(hp(s"$table/$rel"))
      val dest = s"$rel/${fileId}_0-0-0_001.parquet"
      f.rename(part, hp(s"$table/$dest"))
      f.delete(hp(staging), true)
      dest
    }
    val pA = writeGroup("americas/brazil", "gA",
      spark.range(0, 50).select($"id".as("k"), ($"id" * 2.0).as("x")))
    val pB = writeGroup("asia/india", "gB",
      spark.range(50, 80).select($"id".as("k"), ($"id" * 2.0).as("x")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = s"""{"partitionToWriteStats":{
      "americas/brazil":[{"fileId":"gA","path":${mapper.writeValueAsString(pA)}}],
      "asia/india":[{"fileId":"gB","path":${mapper.writeValueAsString(pB)}}]}}"""
    val oc = f.create(hp(s"$table/.hoodie/00000000000001.commit"), false)
    try oc.write(json.getBytes("UTF-8")) finally oc.close()
    // indexed (CoW) read: partition columns restored + prunable
    val (df, idx) = HudiRead.readIndexed(spark, table)
    assert(df.columns.toSet === Set("k", "x", "region", "country"))
    assert(idx.nonEmpty, "values-only layout must take the indexed path")
    assert(df.count() === 80L)
    assert(df.filter($"country" === "india").count() === 30L)
    // MoR: pending logs on one group — merge restores the same columns
    HudiWrite.deltaCommit(table, "gA", "k",
      Some(Seq((0L, -1.0), (99L, 5.0)).toDF("k", "x")), Seq("3"))
    val got = HudiRead.read(spark, table)
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("x"), r.getAs[String]("region"), r.getAs[String]("country")))).toMap
    assert(got.size === 80) // 80 - 1 delete + 1 fresh insert
    assert(got(0L) === ((-1.0, "americas", "brazil")))
    assert(got(99L) === ((5.0, "americas", "brazil")))
    assert(!got.contains(3L))
    assert(got(60L) === ((120.0, "asia", "india")), "clean group disturbed")
    // distributed fold path, bit-equal
    assert(HudiRead.readMor(spark, table, inlineLogBytesCap = 0L)
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("x"), r.getAs[String]("region"), r.getAs[String]("country")))).toMap === got)
  }

  test("FOREIGN interop: a real hudi-0.12 MoR table reads (real log framing, appended blocks, nested types)") {
    // pinned real-table fixture from the reference's hudi-reader tests:
    // one base parquet committed by a deltacommit, then THREE real
    // AVRO log blocks appended to ONE log file across three commits
    val table = graft.sources.Fixtures.dir(spark, "test_hudi_mor")
    assert(HudiRead.instants(spark, table).size === 4)
    val groups = HudiRead.liveGroups(spark, table)
    assert(groups.size === 1)
    // the re-listed appended log file folds ONCE
    assert(groups.head._2.logs.size === 1)
    val got = HudiRead.read(spark, table).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[String]("uuid") === "AA0")
    // overwrite-with-latest across the three appended blocks
    assert(r.getAs[Int]("ts") === 20 && r.getAs[Int]("a") === 1)
    assert(r.getAs[String]("b") === "hello")
    // nested columns convert: array / map / struct
    assert(r.getAs[Seq[Int]]("c") === Seq(10, 20, 30))
    assert(r.getAs[Map[String, Int]]("d") === Map("key1" -> 1, "key2" -> 2))
    val e = r.getAs[org.apache.spark.sql.Row]("e")
    assert(e.getAs[Int]("a") === 10 && e.getAs[String]("b") === "world")
    // as-of the FIRST instant: later blocks in the shared log file
    // must NOT apply (per-block instant headers gate the fold)
    val first = HudiRead.instants(spark, table).head
    val asOf = HudiRead.read(spark, table, Some(first)).collect().head
    assert(asOf.getAs[Int]("ts") === 10 && asOf.getAs[Int]("a") === 0)
    // the distributed fold decodes the real framing identically
    val dist = HudiRead.readMor(spark, table, inlineLogBytesCap = 0L)
      .collect().head
    assert(dist.getAs[Int]("ts") === 20 && dist.getAs[Int]("a") === 1)
    // second fixture: base-only MoR table reads clean
    val t2 = graft.sources.Fixtures.dir(spark, "test_hudi_mor2")
    assert(HudiRead.read(spark, t2).count() >= 1)
  }

  test("merge-on-read guards: stale-silent reads impossible, key required") {
    val table = java.nio.file.Files.createTempDirectory("graft-hmorg").toString
    HudiWrite.commit(table, Map("g0" ->
      spark.range(0, 10).select($"id".as("k"), $"id".cast("double").as("x"))))
    HudiWrite.deltaCommit(table, "g0", "k",
      Some(Seq((0L, 9.9)).toDF("k", "x")))
    // plain read() reflects the log — never base-only
    assert(HudiRead.read(spark, table).filter($"k" === 0L)
      .head.getDouble(1) === 9.9)
    // conflicting key field refused
    intercept[IllegalArgumentException] {
      HudiWrite.deltaCommit(table, "g0", "x", Some(Seq((1L, 2.0)).toDF("k", "x")))
    }
    // unknown file group refused
    intercept[IllegalArgumentException] {
      HudiWrite.deltaCommit(table, "nope", "k", Some(Seq((1L, 2.0)).toDF("k", "x")))
    }
  }

  test("deltaCommit after an export with an instant gap takes the next free instant") {
    import graft.sources.Lake
    val table = java.nio.file.Files.createTempDirectory("graft-hgap").toString + "/t"
    Lake.write(spark.range(0, 10).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")).coalesce(1), table, Nil) // v1
    Lake.deleteMor(spark, table, $"k" === 5L) // v2: pending delete vectors, not exported
    Lake.foldDeletes(spark, table)            // v3
    HudiWrite.exportLake(spark, table)
    assert(HudiRead.instants(spark, table) === Seq(f"${1}%014d", f"${3}%014d"))
    val groups = HudiRead.liveGroups(spark, table)
    assert(groups.size === 1)
    val instant = HudiWrite.deltaCommit(table, groups.head._1, "k",
      Some(Seq((1L, -1.0)).toDF("k", "x")))
    assert(instant === f"${4}%014d")
    val all = HudiRead.instants(spark, table)
    assert(all.distinct === all)
    val got = HudiRead.read(spark, table).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("x")).toMap
    assert(got.size === 9 && got(1L) === -1.0 && !got.contains(5L))
  }

  test("racing commits and first delta batches: winners visible, losers conflicted, nothing unreferenced") {
    import scala.jdk.CollectionConverters._
    val table = java.nio.file.Files.createTempDirectory("graft-hrace").toString
    HudiWrite.commit(table, Map("g0" -> Seq((0L, "seed")).toDF("id", "v")))
    val results = race()(i => HudiWrite.commit(table,
      Map(s"g$i" -> Seq((i, s"r$i")).toDF("id", "v"))))
    val won = results.collect { case (i, scala.util.Success(_)) => i }.toSet
    results.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(won.nonEmpty)
    info(s"${won.size} of 4 racing commits published")
    assert(results.collect { case (_, scala.util.Success(v)) => v }.distinct.size === won.size)
    assert(HudiRead.read(spark, table).select($"id").as[Long].collect().toSet === won + 0L)
    // racing FIRST delta batches also race to create hoodie.properties:
    // a loser of that race re-reads the winner's key and carries on, so
    // only the race for the instant may fail
    val deltas = race()(i => HudiWrite.deltaCommit(table, "g0", "id",
      Some(Seq((0L, s"d$i")).toDF("id", "v"))))
    val wonD = deltas.collect { case (i, scala.util.Success(inst)) => inst -> i }
    deltas.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(wonD.nonEmpty)
    info(s"${wonD.size} of 4 racing delta batches published")
    assert(HudiRead.recordKeyField(spark, table) === Some("id"))
    val all = HudiRead.instants(spark, table)
    assert(all.distinct === all && all.size === 1 + won.size + wonD.size)
    // the newest winning batch is key 0's visible image
    assert(HudiRead.read(spark, table).filter($"id" === 0L).select($"v").as[String]
      .collect().toSeq === Seq(s"d${wonD.max._2}"))
    // no staging dir survives, and the base and log files on disk are
    // exactly those the timeline references
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val referenced = new java.io.File(s"$table/.hoodie").listFiles().toSeq
      .filter(_.getName.matches(".*\\.(commit|deltacommit|replacecommit)"))
      .flatMap(f => mapper.readTree(f).get("partitionToWriteStats").elements().asScala
        .flatMap(_.elements().asScala).map(_.get("path").asText()))
      .toSet
    val names = new java.io.File(table).list().toSet
    assert(!names.exists(_.startsWith("_staging")))
    assert(names.filter(n => !n.endsWith(".crc") &&
      (n.endsWith(".parquet") || n.contains(".log."))) === referenced)
  }

  test("a racing commit and first delta batch never share an instant") {
    (1 to 10).foreach { round =>
      val table = java.nio.file.Files.createTempDirectory("graft-hclaim").toString
      HudiWrite.commit(table, Map("g0" -> Seq((0L, "seed")).toDF("id", "v")))
      val results = race(2) {
        case 1L => HudiWrite.commit(table, Map("g1" -> Seq((1L, "c")).toDF("id", "v")))
        case _ => HudiWrite.deltaCommit(table, "g0", "id", Some(Seq((0L, "d")).toDF("id", "v")))
      }
      results.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
        assert(e.isInstanceOf[java.util.ConcurrentModificationException], s"round $round: $e"))
      val won = results.collect { case (i, scala.util.Success(_)) => i }.toSet
      val all = HudiRead.instants(spark, table)
      assert(all.distinct === all, s"round $round: duplicate instant in $all")
      assert(all.size === 1 + won.size, s"round $round")
      val rows = HudiRead.read(spark, table).select($"id", $"v").as[(Long, String)]
        .collect().toSet
      assert(rows === Set(0L -> (if (won(2L)) "d" else "seed")) ++
        (if (won(1L)) Set(1L -> "c") else Set.empty), s"round $round")
    }
  }
}
