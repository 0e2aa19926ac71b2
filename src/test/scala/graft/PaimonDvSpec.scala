package graft

import org.apache.spark.sql.functions._

import graft.sources.{PaimonDv, PaimonRead, PaimonWrite}

/** Paimon deletion vectors: the `.dv` byte layout pinned from the
  * reference BE (`be/src/formats/paimon/paimon_delete_file_builder.h`),
  * index-manifest replay, masked reads, key-level deletes on PK
  * tables, bitmap union across commits, DV-aware change feed, and
  * compaction applying + clearing vectors. */
class PaimonDvSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_dv_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  private def hadoopFs =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  test(".dv file byte layout: version, BE length, magic, portable bitmap, CRC") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dvfile")
    val p = new org.apache.hadoop.fs.Path(s"$dir/test.dv")
    val rb1 = org.roaringbitmap.RoaringBitmap.bitmapOf(1, 5, 1000000)
    val rb2 = org.roaringbitmap.RoaringBitmap.bitmapOf(0, 2, 3)
    val ranges = PaimonDv.writeDvFile(hadoopFs, p,
      Seq("a.parquet" -> PaimonDv.serialize(rb1),
          "b.parquet" -> PaimonDv.serialize(rb2)))
    // raw bytes: version byte 1, then first vector's BE length + magic
    val in = hadoopFs.open(p)
    val head = new Array[Byte](9)
    try in.readFully(head) finally in.close()
    assert(head(0) === 1.toByte)
    val b1len = PaimonDv.serialize(rb1).length
    val beInt = (off: Int) => ((head(off) & 0xff) << 24) |
      ((head(off + 1) & 0xff) << 16) | ((head(off + 2) & 0xff) << 8) |
      (head(off + 3) & 0xff)
    assert(beInt(1) === b1len + 4, "length spans magic+bitmap")
    assert(beInt(5) === PaimonDv.Magic)
    // offsets point at each vector's length field; round-trip both
    val conf = spark.sparkContext.hadoopConfiguration
    val Seq(("a.parquet", o1, l1), ("b.parquet", o2, l2)) = ranges
    assert(o1 === 1L)
    assert(o2 === 1L + 4 + l1 + 4)
    val back1 = PaimonDv.readBitmap(conf, PaimonDv.Desc(p.toString, o1, l1))
    val back2 = PaimonDv.readBitmap(conf, PaimonDv.Desc(p.toString, o2, l2))
    assert(back1 === rb1)
    assert(back2 === rb2)
    // CRC validation trips on corruption
    val bytes = {
      val s = hadoopFs.open(p)
      val all = new Array[Byte](hadoopFs.getFileStatus(p).getLen.toInt)
      try s.readFully(all) finally s.close(); all
    }
    bytes(9) = (bytes(9) ^ 0x7f).toByte // flip a bitmap byte
    val out = hadoopFs.create(p, true)
    try out.write(bytes) finally out.close()
    intercept[IllegalArgumentException] {
      PaimonDv.readBitmap(conf, PaimonDv.Desc(p.toString, o1, l1))
    }
  }

  test("append table: DV delete masks rows; time travel sees them; vectors union across commits") {
    val dir = freshTable("app")
    PaimonWrite.commitAppend(
      spark.range(0, 1000).select($"id".as("k"), ($"id" % 7).as("m")), dir)
    val s2 = PaimonWrite.deleteWhereDv(spark, dir, col("m") === 3)
    assert(s2 === 2L)
    val afterOne = PaimonRead.read(spark, dir)
    assert(afterOne.count() === (0L until 1000L).count(_ % 7 != 3))
    assert(afterOne.filter($"m" === 3).count() === 0)
    // snapshot 1 still sees every row (vectors are snapshot-scoped)
    assert(PaimonRead.read(spark, dir, Some(1L)).count() === 1000)
    // second delete UNIONS with the first file's existing vector
    val s3 = PaimonWrite.deleteWhereDv(spark, dir, col("m") === 5)
    assert(s3 === 3L)
    val afterTwo = PaimonRead.read(spark, dir)
    assert(afterTwo.count() ===
      (0L until 1000L).count(i => i % 7 != 3 && i % 7 != 5))
    assert(PaimonRead.read(spark, dir, Some(2L)).count() ===
      (0L until 1000L).count(_ % 7 != 3))
    // nothing matched → no commit
    assert(PaimonWrite.deleteWhereDv(spark, dir, col("m") === 99) === 3L)
  }

  test("PK table: delete by CURRENT image — no resurrection of older images") {
    val dir = freshTable("pk")
    // v1: k in 0..99, x = k
    PaimonWrite.commitPk(spark.range(0, 100).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), numBuckets = 4)
    // v2: keys 0..49 overwritten with x = k + 1000
    PaimonWrite.commitPk(spark.range(0, 50).select($"id".as("k"),
      ($"id" + 1000).cast("double").as("x")), dir, Seq("k"), numBuckets = 4)
    // delete where x < 100: matches CURRENT images of keys 50..99 only.
    // Keys 0..49 have OLD images with x < 100 — those keys must survive
    // with their new images intact (masking only winning rows would
    // have resurrected the old ones; masking old rows of non-matching
    // keys would be harmless but these keys must not be deleted).
    val s3 = PaimonWrite.deleteWhereDv(spark, dir, col("x") < 100)
    assert(s3 === 3L)
    val out = PaimonRead.read(spark, dir).orderBy($"k")
    assert(out.count() === 50)
    assert(out.select($"k").as[Long].collect().toSeq === (0L until 50L))
    assert(out.select($"x").as[Double].collect().forall(_ >= 1000))
    // upsert a deleted key back — new image wins over the masked runs
    PaimonWrite.commitPk(Seq((75L, 7.5)).toDF("k", "x"), dir, Seq("k"),
      numBuckets = 4)
    val back = PaimonRead.read(spark, dir)
    assert(back.count() === 51)
    assert(back.filter($"k" === 75).select($"x").head.getDouble(0) === 7.5)
  }

  test("change feed: DV commit emits the prior winning images as deletes") {
    val dir = freshTable("cdc")
    PaimonWrite.commitPk(spark.range(0, 40).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" + 500).cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
    PaimonWrite.deleteWhereDv(spark, dir, col("k") < 5) // v3: keys 0..4
    val feed = PaimonRead.changes(spark, dir, 2, 3)
      .orderBy($"k").collect()
    assert(feed.length === 5)
    assert(feed.forall(_.getAs[String]("__change_type") === "delete"))
    // the retraction carries the key's prior WINNING image (v2's +500)
    assert(feed.map(r => (r.getAs[Long]("k"), r.getAs[Double]("x"))).toSeq ===
      (0L until 5L).map(i => (i, i + 500.0)))
    // folding the whole feed reproduces the final state
    val folded = PaimonRead.changes(spark, dir, 0, 3)
      .withColumn("__n", monotonically_increasing_id())
    val insertsMinusDeletes = folded.groupBy($"k").agg(
      sum(when($"__change_type" === "insert", 1).otherwise(-1)).as("live"))
    assert(insertsMinusDeletes.filter($"live" === 1).count() ===
      PaimonRead.read(spark, dir).count())
    // append table DV deletes emit the masked rows themselves
    val adir = freshTable("cdcapp")
    PaimonWrite.commitAppend(
      spark.range(0, 30).select($"id".as("k")), adir)
    PaimonWrite.deleteWhereDv(spark, adir, col("k") % 10 === 0)
    val afeed = PaimonRead.changes(spark, adir, 1, 2).collect()
    assert(afeed.length === 3)
    assert(afeed.map(_.getAs[Long]("k")).toSet === Set(0L, 10L, 20L))
    assert(afeed.forall(_.getAs[String]("__change_type") === "delete"))
  }

  test("compaction applies vectors and clears the index manifest") {
    val dir = freshTable("cmp")
    PaimonWrite.commitPk(spark.range(0, 200).select($"id".as("k"),
      ($"id" % 4).cast("int").as("p"), ($"id" * 3).cast("double").as("x")),
      dir, Seq("k"), partitionKeys = Seq("p"), numBuckets = 2)
    PaimonWrite.deleteWhereDv(spark, dir, col("k") % 5 === 0)
    val pre = PaimonRead.read(spark, dir).orderBy($"k").collect()
    val cid = PaimonWrite.compact(spark, dir)
    // COMPACT snapshot carries no index manifest
    val snapTxt = {
      val in = hadoopFs.open(new org.apache.hadoop.fs.Path(
        s"$dir/snapshot/snapshot-$cid"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
    }
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(snapTxt)
    assert(node.get("indexManifest").isNull)
    val post = PaimonRead.read(spark, dir).orderBy($"k").collect()
    assert(post.toSeq === pre.toSeq)
    assert(post.length === (0L until 200L).count(_ % 5 != 0))
    // an unrelated later commit INHERITS the manifest (pre-compact path)
    val dir2 = freshTable("inherit")
    PaimonWrite.commitPk(spark.range(0, 50).select($"id".as("k"),
      $"id".cast("double").as("x")), dir2, Seq("k"))
    PaimonWrite.deleteWhereDv(spark, dir2, col("k") < 10)
    PaimonWrite.commitPk(Seq((100L, 1.0)).toDF("k", "x"), dir2, Seq("k"))
    assert(PaimonRead.read(spark, dir2).count() === 41)
  }

  test("index manifest: real-shaped Avro round-trips; unknown range fields tolerated") {
    val dir = freshTable("mani")
    hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/manifest"))
    val e = PaimonDv.IndexEntry(0, Array[Byte](0, 0, 0, 0), 3,
      PaimonDv.IndexType, "index-x.dv", 123L, 7L,
      Seq(("data-1.parquet", 1L, 40L), ("data-2.parquet", 49L, 52L)))
    PaimonDv.writeIndexManifest(spark, dir, "index-manifest-1", Seq(e))
    val back = PaimonDv.readIndexManifest(spark, dir, "index-manifest-1")
    assert(back.size === 1)
    assert(back.head.bucket === 3)
    assert(back.head.ranges === e.ranges)
    val idx = PaimonDv.index(spark, dir, Some("index-manifest-1"))
    assert(idx("data-1.parquet") ===
      PaimonDv.Desc(s"$dir/index/index-x.dv", 1L, 40L))
    // a FOREIGN manifest whose range record appends a cardinality field
    // (newer paimon) parses positionally: first string + first two ints
    val rangeExt = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"rr","fields":[
         {"name":"f0","type":"string"},{"name":"f1","type":"int"},
         {"name":"f2","type":"int"},{"name":"_CARDINALITY","type":"long"}]}""")
    val entryExt = new org.apache.avro.Schema.Parser().parse(s"""
      {"type":"record","name":"record","namespace":"org.apache.paimon.avro.generated","fields":[
        {"name":"_VERSION","type":"int"},{"name":"_KIND","type":"int"},
        {"name":"_PARTITION","type":"bytes"},{"name":"_BUCKET","type":"int"},
        {"name":"_INDEX_TYPE","type":"string"},{"name":"_FILE_NAME","type":"string"},
        {"name":"_FILE_SIZE","type":"long"},{"name":"_ROW_COUNT","type":"long"},
        {"name":"_DELETIONS_VECTORS_RANGES","type":["null",{"type":"array","items":${rangeExt.toString}}],"default":null}]}""")
    val rec = new org.apache.avro.generic.GenericData.Record(entryExt)
    rec.put("_VERSION", 1); rec.put("_KIND", 0)
    rec.put("_PARTITION", java.nio.ByteBuffer.wrap(Array[Byte]()))
    rec.put("_BUCKET", 0); rec.put("_INDEX_TYPE", "DELETION_VECTORS")
    rec.put("_FILE_NAME", "index-f.dv"); rec.put("_FILE_SIZE", 9L)
    rec.put("_ROW_COUNT", 2L)
    val rr = new org.apache.avro.generic.GenericData.Record(rangeExt)
    rr.put("f0", "d.parquet"); rr.put("f1", 1); rr.put("f2", 64)
    rr.put("_CARDINALITY", 2L)
    rec.put("_DELETIONS_VECTORS_RANGES", java.util.Arrays.asList(rr))
    graft.sources.PaimonWrite.writeAvroFile(spark,
      s"$dir/manifest/index-manifest-2", entryExt, Seq(rec))
    val ext = PaimonDv.readIndexManifest(spark, dir, "index-manifest-2")
    assert(ext.head.ranges === Seq(("d.parquet", 1L, 64L)))
  }

  test("real-flavor table: BinaryRow partition bytes in the index manifest") {
    val dir = freshTable("real")
    PaimonWrite.commitPk(spark.range(0, 120).select($"id".as("k"),
      ($"id" % 3).cast("int").as("p"), $"id".cast("double").as("x")),
      dir, Seq("k"), partitionKeys = Seq("p"), numBuckets = 2)
    PaimonWrite.deleteWhereDv(spark, dir, col("k") % 4 === 1)
    assert(PaimonRead.read(spark, dir).count() ===
      (0L until 120L).count(_ % 4 != 1))
    // the index manifest's partition field decodes as a BinaryRow
    val snapTxt = {
      val in = hadoopFs.open(new org.apache.hadoop.fs.Path(
        s"$dir/snapshot/snapshot-2"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
    }
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(snapTxt).get("indexManifest").asText()
    val entries = PaimonDv.readIndexManifest(spark, dir, manifest)
    assert(entries.nonEmpty)
    val parts = entries.map(e => graft.sources.PaimonBinaryRow.decode(
      e.partitionBytes, Seq(org.apache.spark.sql.types.IntegerType),
      _ => 6).head).toSet
    assert(parts.subsetOf(Set("0", "1", "2")))
  }
}
