package graft

import scala.jdk.CollectionConverters._

import graft.sources.{Fixtures, IcebergRead, IcebergWrite, Lake}
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

/** The one-writer contract of [[IcebergWrite]]: it reproduces the
  * pinned real-spec fixtures' shape, every metadata version is an
  * exclusive publish, a failed prior-metadata read fails the commit,
  * and the Lake export's typed partition records read back typed. */
class IcebergWriteSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  /** (schema, file metadata) of an Avro container file. */
  private def avroShape(path: String) = {
    val s = new DataFileStream(new java.io.FileInputStream(path),
      new GenericDatumReader[GenericRecord]())
    try (s.getSchema, s.getMetaKeys.asScala.map(k => k -> s.getMetaString(k)).toMap)
    finally s.close()
  }

  private def metaJson(table: String, v: Int) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$table/metadata/v$v.metadata.json"))

  test("the writer reproduces the pinned fixtures' Avro schemas and file metadata") {
    for ((name, mor, versions) <- Seq(("iceberg_foreign", false, 2),
        ("iceberg_foreign_mor", true, 6))) {
      val pinned = Fixtures.dir(spark, name)
      val fresh = tmp("graft-icefix")
      graft.tools.IcebergFixtureGen.write(spark, fresh, mor)
      for (v <- 1 to versions) {
        val (pm, fm) = (metaJson(pinned, v), metaJson(fresh, v))
        assert(fm.fieldNames.asScala.toSet === pm.fieldNames.asScala.toSet,
          s"$name v$v metadata.json keys")
        assert(fm.get("partition-specs") === pm.get("partition-specs"))
        assert(fm.get("schemas") === pm.get("schemas"))
        def list(m: com.fasterxml.jackson.databind.JsonNode) = {
          var l = ""
          m.get("snapshots").forEach(s =>
            if (s.get("snapshot-id").asInt == v) l = s.get("manifest-list").asText)
          l
        }
        val (pList, fList) = (list(pm), list(fm))
        assert(avroShape(fList) === avroShape(pList), s"$name v$v manifest list")
        // manifests pair up by (content, sequence number)
        def manifests(l: String) = IcebergRead.readAvroRecords(spark, l).map(r =>
          (r.get("content"), r.get("sequence_number")) -> r.get("manifest_path").toString).toMap
        val (pMan, fMan) = (manifests(pList), manifests(fList))
        assert(fMan.keySet === pMan.keySet)
        for (k <- pMan.keySet)
          assert(avroShape(fMan(k)) === avroShape(pMan(k)), s"$name v$v manifest $k")
      }
      // and the regenerated table reads like the pinned one
      def rows(t: String) = IcebergRead.read(spark, t).collect().map(_.toString).toSet
      assert(rows(fresh) === rows(pinned))
    }
  }

  test("the real fixture's identity spec field resolves its source type") {
    val t = Fixtures.dir(spark, "iceberg_foreign")
    assert(IcebergRead.partitionSpecFields(spark, t) === Seq("event_date" -> "date"))
  }

  test("racing appends: every append that returned is visible, the others conflicted") {
    val table = tmp("graft-icerace")
    IcebergWrite.append(Seq((0L, "seed")).toDF("id", "v").coalesce(1), table)
    val results = race()(i => IcebergWrite.append(
      Seq((i, s"r$i")).toDF("id", "v").coalesce(1), table))
    val won = results.collect { case (i, scala.util.Success(_)) => i }.toSet
    results.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(won.nonEmpty)
    info(s"${won.size} of 4 racing appends committed")
    // distinct versions, and the latest carries every winner
    assert(results.collect { case (_, scala.util.Success(v)) => v }.distinct.size === won.size)
    assert(IcebergRead.read(spark, table).select($"id").collect().map(_.getLong(0)).toSet
      === won + 0L)
    // a losing append leaves nothing behind: the data files, manifests
    // and manifest lists on disk are exactly those the final metadata
    // references
    def names(dir: String, keep: String => Boolean) =
      Option(new java.io.File(s"$table/$dir").list()).toSeq.flatten.filter(keep).toSet
    def base(p: String) = new java.io.File(new java.net.URI(p).getPath).getName
    val meta = metaJson(table, won.size + 1)
    val lists = meta.get("snapshots").elements().asScala
      .map(_.get("manifest-list").asText()).toSeq
    val current = lists.last
    val manifests = new DataFileStream(new java.io.FileInputStream(
        new java.net.URI(current).getPath),
      new GenericDatumReader[GenericRecord]())
    val manifestPaths = try manifests.iterator().asScala
      .map(_.get("manifest_path").toString).toSeq finally manifests.close()
    assert(names("data", _.endsWith(".parquet")) ===
      IcebergRead.dataFileEntries(spark, table).map(e => base(e.path)).toSet)
    assert(names("metadata", _.endsWith(".avro")) ===
      (lists ++ manifestPaths).map(base).toSet)
  }

  test("an append whose prior metadata cannot be read throws instead of overwriting") {
    val table = tmp("graft-icebad")
    IcebergWrite.append(Seq((1L, "a")).toDF("id", "v").coalesce(1), table)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$table/metadata/v1.metadata.json"),
      "{not json".getBytes("UTF-8"))
    intercept[Exception] {
      IcebergWrite.append(Seq((2L, "b")).toDF("id", "v").coalesce(1), table)
    }
    assert(!new java.io.File(s"$table/metadata/v2.metadata.json").exists)
  }

  test("date-partitioned Lake export round-trips typed and prunes") {
    import org.apache.spark.sql.functions.expr
    val table = tmp("graft-icedate")
    val df = spark.range(0, 60).select($"id".as("k"),
      expr("date_add(date '2024-01-01', cast(id % 3 as int))").as("d"),
      ($"id" * 2).cast("double").as("x"))
    Lake.write(df, table, Seq("d"))
    Lake.deleteMor(spark, table, $"k" < 6)
    IcebergWrite.exportLake(spark, table)
    assert(IcebergRead.partitionSpecFields(spark, table) === Seq("d" -> "date"))
    val all = IcebergRead.read(spark, table)
    assert(all.schema("d").dataType === org.apache.spark.sql.types.DateType)
    assert(all.collect().map(r => (r.getAs[Long]("k"), r.getAs[java.sql.Date]("d").toString)).toSet
      === (6L until 60L).map(k => k -> s"2024-01-0${1 + k % 3}").toSet)
    // v1 has no delete vectors: the manifest-backed index prunes
    val (v1, Some(index)) = IcebergRead.readIndexed(spark, table, Some(1L)): @unchecked
    val one = java.sql.Date.valueOf("2024-01-02")
    assert(v1.filter($"d" === one).select($"k").collect().map(_.getLong(0)).toSet
      === (0L until 60L).filter(_ % 3 == 1).toSet)
    assert(index.lastSelectedFileCount < index.totalFileCount,
      s"kept ${index.lastSelectedFileCount}/${index.totalFileCount}")
  }
}
