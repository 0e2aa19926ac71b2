package graft

import org.apache.spark.sql.functions._

import graft.sources.{PaimonRead, PaimonWrite}

/** Paimon layout replay: snapshot chain, manifest add/delete fold,
  * append scans, primary-key LSM merge, compaction. */
class PaimonReadSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_pai_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  test("append-only: snapshot chain, time travel, LATEST hint") {
    val dir = freshTable("append")
    val s1 = PaimonWrite.commitAppend(
      spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v")), dir)
    val s2 = PaimonWrite.commitAppend(
      spark.range(100, 150).select($"id".as("k"), ($"id" * 2).as("v")), dir)
    assert((s1, s2) === ((1L, 2L)))
    assert(PaimonRead.latestSnapshotId(spark, dir) === 2L)
    assert(PaimonRead.read(spark, dir).count() === 150)
    assert(PaimonRead.read(spark, dir, Some(1L)).count() === 100)
    assert(PaimonRead.read(spark, dir).agg(sum($"v")).head.getLong(0) ===
      (0L until 150L).map(_ * 2).sum)
    intercept[IllegalArgumentException] {
      PaimonRead.read(spark,
        java.nio.file.Files.createTempDirectory("np").toString)
    }
    // timestamp time travel: earlier-or-equal snapshot resolution
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def tOf(id: Long): Long = {
      val in = f.open(new org.apache.hadoop.fs.Path(s"$dir/snapshot/snapshot-$id"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt).get("timeMillis").asLong
    }
    // same-millisecond commits collapse to the newer id — tolerate
    val atFirst = if (tOf(2) <= tOf(1)) 2L else 1L
    assert(PaimonRead.snapshotAsOfTime(spark, dir, tOf(1)) === Some(atFirst))
    assert(PaimonRead.snapshotAsOfTime(spark, dir, tOf(2) + 10) === Some(2L))
    assert(PaimonRead.snapshotAsOfTime(spark, dir, tOf(1) - 1) === None)
  }

  test("append-only partitioned: typed partition restore + static branch pruning") {
    val dir = freshTable("appart")
    PaimonWrite.commitAppend(
      spark.range(0, 300).select($"id".as("k"),
        ($"id" % 3).cast("int").as("p"), ($"id" * 2).as("v")), dir, Seq("p"))
    val df = PaimonRead.read(spark, dir)
    assert(df.schema("p").dataType === org.apache.spark.sql.types.IntegerType)
    assert(df.count() === 300)
    assert(df.filter($"p" === 1).count() === 100)
    assert(df.filter($"p" === 1).select($"k").collect()
      .forall(_.getLong(0) % 3 === 1))
    // partition filter constant-folds the other partitions' branches
    // out of the plan — no scan of their files
    val plan = df.filter($"p" === 1).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union") || plan.split("Relation").length <= 3,
      s"partition filter left sibling branches in the plan:\n$plan")
  }

  test("primary-key LSM: upsert, delete, re-insert resolve to the newest image") {
    val dir = freshTable("pk")
    PaimonWrite.commitPk(spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), dir, Seq("k"))
    // overwrite k<10, delete 90..94, then re-insert 92
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      lit(-1.0).as("x")), dir, Seq("k"))
    PaimonWrite.commitPk((90L until 95L).toDF("k"), dir, Seq("k"),
      deletes = true)
    PaimonWrite.commitPk(Seq((92L, 555.0)).toDF("k", "x"), dir, Seq("k"))
    val got = PaimonRead.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 96, s"expected 96 live keys, got ${got.size}")
    assert((0L until 10L).forall(k => got(k) === -1.0))
    assert(got(92L) === 555.0 && !got.contains(90L) && !got.contains(94L))
    assert(got(50L) === 100.0)
    // time travel reads the pre-delete state
    assert(PaimonRead.read(spark, dir, Some(1L)).count() === 100)
    assert(PaimonRead.read(spark, dir, Some(2L))
      .filter($"k" === 0L).head.getDouble(1) === -1.0)
    // key-unique batches enforced (sequence ties are undefined)
    intercept[IllegalArgumentException] {
      PaimonWrite.commitPk(Seq((1L, 1.0), (1L, 2.0)).toDF("k", "x"),
        dir, Seq("k"))
    }
  }

  test("primary-key partitioned + compaction retires absorbed runs") {
    val dir = freshTable("pkpart")
    PaimonWrite.commitPk(spark.range(0, 200).select($"id".as("k"),
      ($"id" % 2).cast("string").as("p"), ($"id" * 2).cast("double").as("x")),
      dir, Seq("k"), Seq("p"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 5).select($"id".as("k"),
      ($"id" % 2).cast("string").as("p"), lit(-9.0).as("x")),
      dir, Seq("k"), Seq("p"))
    // deletes carry the partition column (the tombstone lands in the
    // key's partition — enforced, or compaction could resurrect rows)
    PaimonWrite.commitPk(spark.range(190, 200).select($"id".as("k"),
      ($"id" % 2).cast("string").as("p")), dir, Seq("k"), deletes = true)
    intercept[IllegalArgumentException] {
      PaimonWrite.commitPk(Seq(5L).toDF("k"), dir, Seq("k"), deletes = true)
    }
    def state() = PaimonRead.read(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"),
        (r.getAs[Double]("x"), r.getAs[String]("p")))).toMap
    val before = state()
    assert(before.size === 190)
    assert(!before.contains(195L), "partitioned delete lost")
    assert(before(3L) === ((-9.0, "1")) && before(100L) === ((200.0, "0")))
    val preFiles = PaimonRead.liveFiles(spark, dir).size
    val cid = PaimonWrite.compact(spark, dir)
    assert(state() === before, "compaction changed the table's content")
    val postFiles = PaimonRead.liveFiles(spark, dir)
    assert(postFiles.size < preFiles,
      s"compact kept $postFiles of $preFiles files")
    assert(postFiles.forall(_.level > 0), "compacted files must move levels")
    // the pre-compact snapshot still reads the original runs
    assert(PaimonRead.read(spark, dir, Some(cid - 1))
      .collect().map(r => (r.getAs[Long]("k"),
        (r.getAs[Double]("x"), r.getAs[String]("p")))).toMap === before)
    // further upserts after compaction keep merging
    PaimonWrite.commitPk(Seq((100L, "0", 1.5)).toDF("k", "p", "x"),
      dir, Seq("k"))
    assert(state()(100L) === ((1.5, "0")))
  }

  test("type mapping round-trips date/timestamp/decimal/boolean through schema JSON") {
    import org.apache.spark.sql.types._
    // mapping is bijective for every supported type
    Seq(BooleanType, ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, StringType, BinaryType, DateType,
      TimestampType, DecimalType(12, 3)).foreach { dt =>
      assert(PaimonRead.sparkType(PaimonRead.paimonType(dt)) === dt, s"$dt")
    }
    // foreign spellings tolerated
    assert(PaimonRead.sparkType("VARCHAR(32)") ===
      org.apache.spark.sql.types.StringType)
    assert(PaimonRead.sparkType("INT NOT NULL") ===
      org.apache.spark.sql.types.IntegerType)
    assert(PaimonRead.sparkType("TIMESTAMP") ===
      org.apache.spark.sql.types.TimestampType)
    // data round-trip: temporal/decimal columns survive commit + read
    val dir = freshTable("types")
    val df = spark.range(0, 40).selectExpr("id AS k",
      "date_add(date '2024-03-01', cast(id % 5 as int)) AS d",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
      "cast(id AS decimal(12,3)) / 7 AS dec",
      "id % 2 = 0 AS flag")
    PaimonWrite.commitAppend(df, dir)
    val back = PaimonRead.read(spark, dir)
    assert(back.schema("d").dataType === org.apache.spark.sql.types.DateType)
    assert(back.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(back.schema("dec").dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // and as a PARTITION column: date literals restore typed
    val dir2 = freshTable("typespart")
    PaimonWrite.commitAppend(df, dir2, Seq("d"))
    val back2 = PaimonRead.read(spark, dir2)
    assert(back2.schema("d").dataType === org.apache.spark.sql.types.DateType)
    assert(back2.select("k", "d").exceptAll(df.select("k", "d")).isEmpty)
    assert(back2.filter($"d" === java.sql.Date.valueOf("2024-03-03")).count() === 8)
    // a TIMESTAMP partition: the staged directory and the manifest's
    // decoded value name the same file
    val dir3 = freshTable("typespartts")
    PaimonWrite.commitAppend(df, dir3, Seq("ts"))
    val back3 = PaimonRead.read(spark, dir3)
    assert(back3.count() === 40)
    assert(back3.select("k", "ts").exceptAll(df.select("k", "ts")).isEmpty)
  }

  test("FOREIGN interop: a real paimon-written table reads (BinaryRow partitions, full _FILE struct)") {
    // pinned real-table fixture: written by paimon 0.4 via Spark SQL
    // (vendored from the reference's paimon-reader tests — read-only)
    val fixture = graft.sources.Fixtures.dir(spark,
      "test_paimon_reader/paimon_test.db/" +
        "spark_sql_created_hive_catalog_paimon_partitioned")
    val df = PaimonRead.read(spark, fixture)
    assert(df.columns.toSeq === Seq("uuid", "name", "price"))
    val got = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1, "apple", 3.5), (2, "banana", 4.0), (3, "cherry", 20.5)))
    // partition filter constant-folds the other branches away
    assert(df.filter($"name" === "banana").count() === 1)
    // manifest metadata decoded: 3 live orc files, one per partition
    val files = PaimonRead.liveFiles(spark, fixture)
    assert(files.size === 3 && files.forall(_.rowCount === 1L))
    assert(files.map(_.partition("name")).toSet === Set("apple", "banana", "cherry"))
  }

  test("BinaryRow decode: nulls, compact + variable strings, fixed widths") {
    import org.apache.spark.sql.types._
    // hand-built arity-3 row: (int 7, NULL, "hello world!") — field 1's
    // null bit is bit 9 (byte 1, bit 1) after the row-kind header byte
    val varData = "hello world!".getBytes("UTF-8")
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 24 + varData.length)
    bb.putInt(3) // BIG-endian arity prefix
    bb.put(Array[Byte](0, 2, 0, 0, 0, 0, 0, 0)) // null bits
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(7L) // int 7 (low 4 bytes of the slot)
    bb.putLong(0L) // null slot
    bb.putLong((32L << 32) | varData.length) // offset 32 from row start
    bb.put(varData)
    val got = graft.sources.PaimonBinaryRow.decode(bb.array(),
      Seq(IntegerType, StringType, StringType))
    assert(got === Seq("7", null, "hello world!"))
    // compact string (≤ 7 bytes): data inline, high byte 0x80 | len
    val bc = java.nio.ByteBuffer.allocate(4 + 8 + 16)
    bc.putInt(2)
    bc.put(Array.fill[Byte](8)(0))
    bc.put("abc".getBytes("UTF-8")); bc.put(Array[Byte](0, 0, 0, 0, 0x83.toByte))
    bc.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bc.putLong(java.lang.Double.doubleToLongBits(2.5))
    assert(graft.sources.PaimonBinaryRow.decode(bc.array(),
      Seq(StringType, DoubleType)) === Seq("abc", "2.5"))
    // date renders ISO (castable back to DATE)
    val bd = java.nio.ByteBuffer.allocate(4 + 8 + 8)
    bd.putInt(1); bd.put(Array.fill[Byte](8)(0))
    bd.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bd.putLong(19874L) // 2024-06-01 ... epoch day
    assert(graft.sources.PaimonBinaryRow.decode(bd.array(), Seq(DateType))
      === Seq(java.time.LocalDate.ofEpochDay(19874L).toString))
  }

  test("BinaryRow encode: byte-pinned against the real fixture's rows; decode round-trips") {
    import org.apache.spark.sql.types._
    import graft.sources.PaimonBinaryRow.{decode, encode}
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString(" ")
    // the fixture's partition rows, byte for byte
    assert(hex(encode(Seq("banana"), Seq(StringType)))
      === "00 00 00 01 00 00 00 00 00 00 00 00 62 61 6e 61 6e 61 00 86")
    assert(hex(encode(Seq("apple"), Seq(StringType)))
      === "00 00 00 01 00 00 00 00 00 00 00 00 61 70 70 6c 65 00 00 85")
    // the fixture's banana VALUE_STATS row: (uuid 2, 'banana', 4.0)
    assert(hex(encode(Seq(2, "banana", 4.0), Seq(IntegerType, StringType, DoubleType)))
      === "00 00 00 03 00 00 00 00 00 00 00 00 " +
        "02 00 00 00 00 00 00 00 62 61 6e 61 6e 61 00 86 " +
        "00 00 00 00 00 00 10 40")
    // decode ∘ encode round-trips long strings, nulls, temporal, decimal
    val types = Seq(StringType, LongType, StringType, DateType,
      DecimalType(20, 2), BooleanType)
    val vals = Seq("a long string past the compact slot", 42L, null,
      java.time.LocalDate.parse("2024-06-01"),
      new java.math.BigDecimal("123456789012345678.90"), true)
    assert(decode(encode(vals, types), types) === Seq(
      "a long string past the compact slot", "42", null, "2024-06-01",
      "123456789012345678.90", "true"))
  }

  test("manifest schemas match the real fixture; state and feed match the batches") {
    val fixtureManifest = graft.sources.Fixtures.dir(spark,
      "test_paimon_reader/paimon_test.db/" +
        "spark_sql_created_hive_catalog_paimon_partitioned/manifest/" +
        "manifest-4e7bd2da-30b4-4003-9818-dd61d15c3157-0")
    val dReal = freshTable("realfl")
    val base = spark.range(0, 60).select($"id".as("k"),
      ($"id" % 3).cast("string").as("p"), ($"id" * 2.0).as("x"))
    PaimonWrite.commitPk(base, dReal, Seq("k"), Seq("p"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" % 3).cast("string").as("p"), lit(-1.0).as("x")), dReal, Seq("k"))
    PaimonWrite.commitPk(spark.range(50, 55).select($"id".as("k"),
      ($"id" % 3).cast("string").as("p")), dReal, Seq("k"), deletes = true)
    PaimonWrite.compact(spark, dReal)
    // batch 1 writes k*2.0, batch 2 rewrites k < 10 to -1.0, batch 3
    // deletes 50..54
    def x(k: Long) = if (k < 10) -1.0 else k * 2.0
    val expected = ((0L until 50L) ++ (55L until 60L))
      .map(k => (k, (k % 3).toString, x(k))).toSet
    val state = PaimonRead.read(spark, dReal).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"), r.getAs[Double]("x"))).toSet
    assert(state === expected)
    assert(state.size === 55)
    // the written manifest's embedded avro schema EQUALS the schema a
    // real paimon wrote (field-for-field, fixture-pinned)
    if (new java.io.File(fixtureManifest).isFile) {
      def schemaOf(path: String): org.apache.avro.Schema = {
        val in = new java.io.FileInputStream(path)
        val s = new org.apache.avro.file.DataFileStream(in,
          new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
        try s.getSchema finally s.close()
      }
      val mine = new java.io.File(s"$dReal/manifest").listFiles()
        .filter(f => f.getName.startsWith("manifest-") && !f.getName.contains("list"))
        .minBy(_.getName)
      assert(schemaOf(mine.getPath) === schemaOf(fixtureManifest),
        "written manifest schema differs from the real fixture's")
    }
    // the snapshot JSON carries the full real field set
    val snapText = {
      val src = scala.io.Source.fromFile(s"$dReal/snapshot/snapshot-1")
      try src.mkString finally src.close()
    }
    for (field <- Seq("commitUser", "totalRecordCount", "logOffsets", "watermark"))
      assert(snapText.contains(field), s"snapshot missing $field")
    // the change feed: batch 2 retracts and re-inserts 0..9, batch 3
    // retracts 50..54's prior images
    val feed = PaimonRead.changes(spark, dReal, 1, 3).collect()
      .map(r => (r.getAs[Long]("__commit_version"), r.getAs[String]("__change_type"),
        r.getAs[Long]("k"), r.getAs[Double]("x"))).toSet
    assert(feed === (0L until 10L).flatMap(k =>
      Seq((2L, "delete", k, k * 2.0), (2L, "insert", k, -1.0))).toSet ++
      (50L until 55L).map(k => (3L, "delete", k, k * 2.0)))
    // every live file sits in its hive-escaped partition dir
    val files = PaimonRead.liveFiles(spark, dReal)
    assert(files.nonEmpty && files.forall(e => new java.io.File(
      s"$dReal/p=${e.partition("p")}/bucket-${e.bucket}/${e.fileName}").isFile))
  }

  test("pk (p, k) partitioned by p: upsert, delete, compact and change feed keep full-key semantics") {
    import org.apache.spark.sql.types.LongType
    val dir = freshTable("overlap")
    // the same k lives in both partitions: (p, k) is the key
    PaimonWrite.commitPk(spark.range(0, 40).select(($"id" % 20).as("k"),
      floor($"id" / 20).cast("string").as("p"), $"id".cast("double").as("x")),
      dir, Seq("p", "k"), Seq("p"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 5).select($"id".as("k"), lit("1").as("p"),
      lit(-1.0).as("x")), dir, Seq("p", "k"))
    PaimonWrite.commitPk(spark.range(15, 20).select($"id".as("k"), lit("0").as("p")),
      dir, Seq("p", "k"), deletes = true)
    val expected = ((0L until 15L).map(k => ("0", k, k.toDouble)) ++
      (0L until 20L).map(k => ("1", k, if (k < 5) -1.0 else 20.0 + k))).toSet
    def state() = PaimonRead.read(spark, dir).collect()
      .map(r => (r.getAs[String]("p"), r.getAs[Long]("k"), r.getAs[Double]("x"))).toSet
    assert(state() === expected)
    // data files key by the TRIMMED key: _KEY_k only; its bounds are
    // arity-1 rows holding the file's true min and max
    def checkBounds(): Unit = PaimonRead.liveFiles(spark, dir).foreach { e =>
      val path = s"$dir/p=${e.partition("p")}/bucket-${e.bucket}/${e.fileName}"
      val data = spark.read.parquet(path)
      assert(data.columns.contains("_KEY_k") && !data.columns.contains("_KEY_p"))
      val mm = data.agg(min($"_KEY_k"), max($"_KEY_k")).head()
      def dec(b: Array[Byte]) =
        graft.sources.PaimonBinaryRow.decode(b, Seq(LongType)).head.toLong
      assert((dec(e.minKey), dec(e.maxKey)) === ((mm.getLong(0), mm.getLong(1))))
    }
    checkBounds()
    val feed = Set(
      (0L until 5L).flatMap(k => Seq((2L, "delete", "1", k, 20.0 + k),
        (2L, "insert", "1", k, -1.0))),
      (15L until 20L).map(k => (3L, "delete", "0", k, k.toDouble))).flatten
    def feedOf(to: Long) = PaimonRead.changes(spark, dir, 1, to).collect()
      .map(r => (r.getAs[Long]("__commit_version"), r.getAs[String]("__change_type"),
        r.getAs[String]("p"), r.getAs[Long]("k"), r.getAs[Double]("x"))).toSet
    assert(feedOf(3) === feed)
    PaimonWrite.compact(spark, dir)
    assert(state() === expected)
    checkBounds()
    assert(feedOf(4) === feed, "COMPACT emits nothing")
    PaimonWrite.commitPk(Seq((3L, "0", 9.5)).toDF("k", "p", "x"), dir, Seq("p", "k"))
    assert(state() === expected - (("0", 3L, 3.0)) + (("0", 3L, 9.5)))
    // partial-update resolves per (p, k) too
    val dir2 = freshTable("overlappu")
    PaimonWrite.commitPk(Seq((1L, "a", 1.0, "x"), (1L, "b", 2.0, "y")).toDF("k", "p", "x", "s"),
      dir2, Seq("p", "k"), Seq("p"),
      options = Map("merge-engine" -> "partial-update"))
    PaimonWrite.commitPk(Seq((1L, "a", 5.0)).toDF("k", "p", "x"), dir2, Seq("p", "k"))
    assert(PaimonRead.read(spark, dir2).collect()
      .map(r => (r.getAs[String]("p"), r.getAs[Double]("x"), r.getAs[String]("s"))).toSet ===
      Set(("a", 5.0, "x"), ("b", 2.0, "y")))
  }

  test("DECIMAL and TIMESTAMP keys: manifest bounds decode to the true min and max") {
    import org.apache.spark.sql.types._
    val dir = freshTable("typedkey")
    // decimals of every parquet shape (INT32, INT64, FIXED_LEN_BYTE_ARRAY)
    // and a microsecond timestamp, negatives included
    val df = spark.range(0, 50).selectExpr(
      "cast(id - 25 AS decimal(5,2)) AS s",
      "cast(id * 1.25 - 20 AS decimal(12,2)) AS d",
      "cast(id * 3.5 - 7 AS decimal(25,4)) AS w",
      "timestamp_micros(1700000000000000 + id * 1500000 + 7) AS ts",
      "cast(id * 2 AS double) AS x")
    val keys = Seq("s", "d", "w", "ts")
    PaimonWrite.commitPk(df, dir, keys, numBuckets = 1)
    val types = Seq(DecimalType(5, 2), DecimalType(12, 2), DecimalType(25, 4), TimestampType)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def render(v: Any): String = v match {
      case b: java.math.BigDecimal => b.toPlainString
      case t: java.sql.Timestamp => render(t.toInstant)
      case i: java.time.Instant =>
        java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC).format(fmt)
    }
    import graft.sources.PaimonBinaryRow.decode
    val files = PaimonRead.liveFiles(spark, dir)
    assert(files.nonEmpty)
    files.foreach { e =>
      val data = spark.read.parquet(s"$dir/bucket-${e.bucket}/${e.fileName}")
      val agg = data.agg(min($"_KEY_s"), min($"_KEY_d"), min($"_KEY_w"), min($"_KEY_ts"),
        max($"_KEY_s"), max($"_KEY_d"), max($"_KEY_w"), max($"_KEY_ts")).head()
      val (mins, maxs) = (0 until 8).map(i => render(agg.get(i))).splitAt(4)
      assert(decode(e.minKey, types) === mins)
      assert(decode(e.maxKey, types) === maxs)
    }
    // the keys still merge: an upsert and a delete by key resolve
    PaimonWrite.commitPk(df.filter($"x" < 10).withColumn("x", lit(-1.0)), dir, keys,
      assumeKeyUnique = true)
    PaimonWrite.commitPk(df.filter($"x" >= 90).select(keys.map(col): _*), dir, keys,
      deletes = true)
    val back = PaimonRead.read(spark, dir)
    assert(back.count() === 45)
    assert(back.filter($"x" === -1.0).count() === 5)
    assert(back.select(keys.map(col): _*).exceptAll(df.filter($"x" < 90)
      .select(keys.map(col): _*)).isEmpty)
  }

  test("racing commits: every commit that returned is visible, the others conflicted, nothing is left unreferenced") {
    val dir = freshTable("race")
    PaimonWrite.commitPk(Seq((0L, "seed")).toDF("k", "v"), dir, Seq("k"), numBuckets = 2)
    val results = race()(i => PaimonWrite.commitPk(Seq((i, s"r$i")).toDF("k", "v"), dir,
      Seq("k"), assumeKeyUnique = true))
    val won = results.collect { case (i, scala.util.Success(_)) => i }.toSet
    results.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(won.nonEmpty)
    info(s"${won.size} of 4 racing commits published")
    assert(results.collect { case (_, scala.util.Success(v)) => v }.distinct.size === won.size)
    assert(PaimonRead.read(spark, dir).select($"k").as[Long].collect().toSet === won + 0L)
    // the losers deleted their data files, manifests and lists: an
    // orphan sweep without an age grace finds nothing, and no staging
    // directory survives
    assert(PaimonWrite.removeOrphanFiles(spark, dir, olderThanMillis = 0) === Nil)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_staging")))
  }

  test("partition values with '+' and '%' round-trip; later commits validate keys") {
    val dir = freshTable("pluspart")
    val df = Seq((1L, "a+b"), (2L, "c d"), (3L, "50%"), (4L, "a+b"))
      .toDF("k", "p")
    PaimonWrite.commitAppend(df, dir, Seq("p"))
    // second commit: default Nil inherits the schema's partition keys
    PaimonWrite.commitAppend(Seq((5L, "a+b")).toDF("k", "p"), dir)
    val back = PaimonRead.read(spark, dir)
    assert(back.filter($"p" === "a+b").select("k").as[Long].collect().sorted
      === Array(1L, 4L, 5L), "literal '+' must survive the dir round-trip")
    assert(back.filter($"p" === "c d").count() === 1)
    assert(back.filter($"p" === "50%").count() === 1)
    // hive path escaping: '%' escapes, '+' and ' ' stay literal
    assert(Seq("p=a+b", "p=c d", "p=50%25").forall(d =>
      new java.io.File(s"$dir/$d").isDirectory))
    // mismatched keys on a later commit refuse instead of mis-staging
    intercept[IllegalArgumentException] {
      PaimonWrite.commitAppend(Seq((6L, "x")).toDF("k", "p"), dir, Seq("k"))
    }
  }

  test("merge-engine partial-update: last non-null per column; compaction resolves") {
    val dir = freshTable("mepu")
    val opts = Map("merge-engine" -> "partial-update")
    PaimonWrite.commitPk(spark.range(0, 20).select($"id".as("k"),
      ($"id" % 2).cast("string").as("p"), ($"id" * 1.0).as("a"), lit("init").as("b")),
      dir, Seq("k"), Seq("p"), options = opts)
    // update a ONLY for 0-9 (b omitted -> null -> "no update")
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" % 2).cast("string").as("p"), lit(-1.0).as("a")), dir, Seq("k"))
    // update b ONLY for 5-14
    PaimonWrite.commitPk(spark.range(5, 15).select($"id".as("k"),
      ($"id" % 2).cast("string").as("p"), lit("upd").as("b")), dir, Seq("k"))
    def state() = PaimonRead.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("a"), r.getAs[String]("b"), r.getAs[String]("p")))).toMap
    val got = state()
    assert(got.size === 20)
    assert(got(3L) === ((-1.0, "init", "1")), "a updated, b kept")
    assert(got(7L) === ((-1.0, "upd", "1")), "both updated")
    assert(got(12L) === ((12.0, "upd", "0")), "b updated, a kept")
    assert(got(17L) === ((17.0, "init", "1")), "untouched")
    // deletes refuse on this engine
    intercept[IllegalArgumentException] {
      PaimonWrite.commitPk(Seq((1L, "1")).toDF("k", "p"), dir, Seq("k"),
        deletes = true)
    }
    // compaction materializes the SAME resolution
    PaimonWrite.compact(spark, dir)
    assert(state() === got, "post-compact read differs")
    // a later partial update overlays the compacted image
    PaimonWrite.commitPk(Seq((3L, "1", 9.5)).toDF("k", "p", "a"), dir, Seq("k"))
    assert(state()(3L) === ((9.5, "init", "1")))
  }

  test("merge-engine aggregation: per-field functions; compaction accumulates") {
    val dir = freshTable("meagg")
    val opts = Map("merge-engine" -> "aggregation",
      "fields.total.aggregate-function" -> "sum",
      "fields.hi.aggregate-function" -> "max",
      "fields.tag.aggregate-function" -> "last_non_null_value")
    def batch(n: Int, tag: Option[String]) =
      spark.range(0, 10).select($"id".as("k"),
        lit(n * 1.0).as("total"), lit(n).as("hi"),
        tag.map(lit(_)).getOrElse(lit(null).cast("string")).as("tag"))
    PaimonWrite.commitPk(batch(1, Some("t1")), dir, Seq("k"), options = opts)
    PaimonWrite.commitPk(batch(5, None), dir, Seq("k"))
    PaimonWrite.commitPk(batch(3, Some("t3")), dir, Seq("k"))
    def state() = PaimonRead.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("total"), r.getAs[Int]("hi"), r.getAs[String]("tag")))).toMap
    val got = state()
    assert(got(4L) === ((9.0, 5, "t3")), "sum/max/last_non_null")
    PaimonWrite.compact(spark, dir)
    assert(state() === got, "post-compact read differs")
    // accumulation continues on top of the compacted value
    PaimonWrite.commitPk(batch(2, None), dir, Seq("k"))
    assert(state()(4L) === ((11.0, 5, "t3")))
    // changes() without changelog files refuses (derived feed would
    // emit batch deltas, not resolved images)
    intercept[IllegalArgumentException] {
      PaimonRead.changes(spark, dir, 1, 3).collect()
    }
  }

  test("merge-engine first-row: first image per key wins") {
    val dir = freshTable("mefr")
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"), lit("v1").as("v")),
      dir, Seq("k"), options = Map("merge-engine" -> "first-row"))
    PaimonWrite.commitPk(spark.range(5, 15).select($"id".as("k"), lit("v2").as("v")),
      dir, Seq("k"))
    val got = PaimonRead.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got.size === 15)
    assert((0L to 9L).forall(got(_) == "v1"), "first write must win")
    assert((10L to 14L).forall(got(_) == "v2"))
  }

  test("changes: append-only snapshots emit pure inserts per window") {
    val dir = freshTable("achg")
    PaimonWrite.commitAppend(spark.range(0, 50).select($"id".as("k")), dir)
    PaimonWrite.commitAppend(spark.range(50, 70).select($"id".as("k")), dir)
    val w = PaimonRead.changes(spark, dir, 1, 2)
      .collect().map(r => (r.getAs[String]("__change_type"), r.getAs[Long]("k")))
    assert(w.forall(_._1 == "insert") && w.map(_._2).toSet === (50L until 70L).toSet)
    assert(PaimonRead.changes(spark, dir, 0, 2).count() === 70)
  }

  test("changes: prior-image scan prunes to the commit's touched buckets") {
    import graft.sources.PaimonRead.{FileEntry, TableSchema}
    // unit: only buckets the adds touched survive; a bucket-less
    // foreign entry (-1) keeps all
    def e(b: Int, name: String) =
      FileEntry(0, Map.empty, b, name, 1L, 1L, 0L, 0L, 0)
    val fixedSch = TableSchema(0, Nil, Nil, Seq("k"), Map.empty)
    val prior = Seq(e(0, "a"), e(1, "b"), e(2, "c"), e(1, "d"))
    assert(PaimonRead.prunePriorToTouchedBuckets(prior, Seq(e(1, "x")),
      fixedSch).map(_.fileName) === Seq("b", "d"))
    assert(PaimonRead.prunePriorToTouchedBuckets(prior, Seq(e(-1, "x")),
      fixedSch) === prior)
    // dynamic + partitioned: untouched partitions survive whole;
    // touched partitions prune to their touched (partition, bucket)
    def ep(p: String, b: Int, name: String) =
      FileEntry(0, Map("p" -> p), b, name, 1L, 1L, 0L, 0L, 0)
    val dynSch = TableSchema(0, Nil, Seq("p"), Seq("k"),
      Map("bucket" -> "-1"))
    val prior2 = Seq(ep("a", 0, "a0"), ep("a", 1, "a1"), ep("b", 0, "b0"))
    assert(PaimonRead.prunePriorToTouchedBuckets(prior2,
      Seq(ep("a", 0, "x")), dynSch).map(_.fileName) === Seq("a0", "b0"))
    // same shape on a FIXED table prunes by bucket number alone
    assert(PaimonRead.prunePriorToTouchedBuckets(prior2,
      Seq(ep("a", 0, "x")), fixedSch).map(_.fileName) === Seq("a0", "b0"))
    // end-to-end: an 8-bucket table where commit 2 touches ONE key —
    // the touched bucket holds 1/8 of the prior files, and the feed is
    // bit-equal to what the full derivation produced before pruning
    val dir = freshTable("bprune")
    PaimonWrite.commitPk(spark.range(0, 64).select($"id".as("k"), ($"id" * 2).as("v")),
      dir, Seq("k"), numBuckets = 8)
    PaimonWrite.commitPk(Seq((5L, -1L)).toDF("k", "v"), dir, Seq("k"))
    val w = PaimonRead.changes(spark, dir, 1, 2).collect()
      .map(r => (r.getAs[String]("__change_type"), r.getAs[Long]("k"), r.getAs[Long]("v")))
      .toSet
    assert(w === Set(("delete", 5L, 10L), ("insert", 5L, -1L)))
  }

  test("changelog-producer=lookup: ready-made change files match the derived feed row-for-row") {
    val (dcl, ddr) = (freshTable("clog"), freshTable("clogref"))
    def build(dir: String, opts: Map[String, String]): Unit = {
      val base = spark.range(0, 40).select($"id".as("k"), ($"id" * 2.0).as("x"))
      PaimonWrite.commitPk(base, dir, Seq("k"), numBuckets = 2, options = opts) // s1
      PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"), lit(-1.0).as("x")),
        dir, Seq("k"))                                                         // s2 update
      PaimonWrite.commitPk(spark.range(35, 45).select($"id".as("k")), dir, Seq("k"),
        deletes = true)                                                        // s3 delete (5 exist)
      PaimonWrite.commitPk(Seq((36L, 9.0), (100L, 1.0)).toDF("k", "x"),
        dir, Seq("k"))                                                         // s4 re-insert + fresh
    }
    build(dcl, Map("changelog-producer" -> "lookup"))
    build(ddr, Map.empty)
    // the changelog table actually wrote change files
    assert(PaimonRead.snapshotAsOfTime(spark, dcl, Long.MaxValue).contains(4L))
    def feed(dir: String) = PaimonRead.changes(spark, dir, 1, 4).collect()
      .map(r => (r.getAs[Long]("__commit_version"), r.getAs[String]("__change_type"),
        r.getAs[Long]("k"), Option(r.getAs[java.lang.Double]("x")).map(_.doubleValue)))
      .toSet
    val (got, ref) = (feed(dcl), feed(ddr))
    assert(got === ref, s"changelog feed != derived feed\nonly-cl=${got -- ref}\nonly-dr=${ref -- got}")
    // and the changelog path really engaged (snapshot names a list)
    val snapText = {
      val src = scala.io.Source.fromFile(s"$dcl/snapshot/snapshot-2")
      try src.mkString finally src.close()
    }
    assert(snapText.contains("\"changelogManifestList\":\"manifest-list-"))
    // snapshot READS are unaffected by changelog files
    assert(PaimonRead.read(spark, dcl).count() === PaimonRead.read(spark, ddr).count())
  }

  test("changelog-producer=input: batch rows ARE the changelog; equals derived feed on disjoint appends; updates emit post-image only") {
    val (din, ddr) = (freshTable("clin"), freshTable("clinref"))
    def build(dir: String, opts: Map[String, String]): Unit = {
      PaimonWrite.commitPk(spark.range(0, 20).select($"id".as("k"),
        ($"id" * 2.0).as("x")), dir, Seq("k"), numBuckets = 2,
        options = opts)                                            // s1
      PaimonWrite.commitPk(spark.range(20, 30).select($"id".as("k"),
        ($"id" * 3.0).as("x")), dir, Seq("k"), assumeKeyUnique = true) // s2
      PaimonWrite.commitPk(spark.range(30, 35).select($"id".as("k"),
        lit(0.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)  // s3
    }
    build(din, Map("changelog-producer" -> "input"))
    build(ddr, Map.empty)
    def feed(dir: String) = PaimonRead.changes(spark, dir, 0, 3).collect()
      .map(r => (r.getAs[Long]("__commit_version"),
        r.getAs[String]("__change_type"), r.getAs[Long]("k"),
        r.getAs[Double]("x"))).toSet
    // disjoint-key appends: the input changelog IS the derived feed
    assert(feed(din) === feed(ddr))
    // the input path wrote real change files (no derivation window)
    val snapText = {
      val src = scala.io.Source.fromFile(s"$din/snapshot/snapshot-2")
      try src.mkString finally src.close()
    }
    assert(snapText.contains("\"changelogManifestList\":\"manifest-list-"))
    // an UPDATE emits only its post-image under input (the documented
    // cheap-config contract), where derivation emits delete+insert
    PaimonWrite.commitPk(Seq((3L, -9.0)).toDF("k", "x"), din, Seq("k"),
      assumeKeyUnique = true)                                      // s4
    val upd = PaimonRead.changes(spark, din, 3, 4).collect()
      .map(r => (r.getAs[String]("__change_type"), r.getAs[Long]("k")))
    assert(upd.toSeq === Seq(("insert", 3L)))
    // snapshot reads unaffected
    assert(PaimonRead.read(spark, din).count() === 35)
    assert(PaimonRead.read(spark, din).filter($"k" === 3L)
      .head().getDouble(1) === -9.0)
  }

  test("changes: retraction contract over PK snapshots; COMPACT emits nothing; poll subscribes") {
    import graft.streaming.ChangeFeed
    val dir = freshTable("chg")
    PaimonWrite.commitPk(spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), dir, Seq("k"))          // s1
    PaimonWrite.commitPk(spark.range(0, 5).select($"id".as("k"),
      lit(-1.0).as("x")), dir, Seq("k"))                           // s2: update 0..4
    PaimonWrite.commitPk((90L until 95L).toDF("k"), dir, Seq("k"),
      deletes = true)                                              // s3: delete 90..94
    PaimonWrite.compact(spark, dir)                                 // s4: physical only
    PaimonWrite.commitPk(Seq((92L, 7.0)).toDF("k", "x"), dir, Seq("k")) // s5: re-insert
    def rows(from: Long, to: Long) = PaimonRead.changes(spark, dir, from, to)
      .collect().map(r => (r.getAs[String]("__change_type"),
        r.getAs[Long]("__commit_version"), r.getAs[Long]("k"),
        Option(r.getAs[java.lang.Double]("x")).map(_.toDouble).getOrElse(-999.0)))
      .toSet
    val w2 = rows(1, 2)
    // update = delete(old) + insert(new) per key
    assert(w2 === (0L until 5L).flatMap(k => Seq(
      ("delete", 2L, k, k * 2.0), ("insert", 2L, k, -1.0))).toSet)
    // deletes emit only the prior images; tombstones insert nothing
    val w3 = rows(2, 3)
    assert(w3 === (90L until 95L).map(k => ("delete", 3L, k, k * 2.0)).toSet)
    // COMPACT is a physical rewrite: no logical change
    assert(rows(3, 4).isEmpty)
    // re-insert of a tombstoned key: insert only (no live prior image)
    assert(rows(4, 5) === Set(("insert", 5L, 92L, 7.0)))
    // exactly-once subscription with crash replay
    val ledger = dir + "_cursor"
    var seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    def poll(fail: Boolean = false) =
      ChangeFeed.pollPaimon(spark, dir, ledger, failBeforeCommit = fail) {
        (c, from, to) => seen += ((from, to, c.count()))
      }
    assert(poll().contains((1, 5)))
    assert(seen.last === ((1, 5, 16L)), s"got ${seen.last}") // 10 + 5 + 0 + 1
    PaimonWrite.commitPk(Seq((1L, 9.0)).toDF("k", "x"), dir, Seq("k")) // s6
    intercept[IllegalStateException] { poll(fail = true) }
    assert(poll().contains((5, 6)))
    assert(seen.count(w => w._1 == 5 && w._2 == 6) === 2, "crash must replay")
    assert(poll() === None, "quiet table must no-op")
  }
}
