package graft

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Structured Streaming over the native-Lake change feed: the
  * `graft-lake-cdc` v1 source — offsets are lake versions, the
  * checkpointed offset log gives exactly-once across restarts. */
class LakeCdcStreamSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_cdcs_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  private var qn = 0
  private def runToEnd(table: String, ckpt: String,
      startingVersion: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    qn += 1
    val name = s"cdc_mem_$qn"
    val reader = spark.readStream.format("graft-lake-cdc")
      .option("table", table)
    val sdf = startingVersion.fold(reader)(v =>
      reader.option("startingVersion", v.toString)).load()
    val q = sdf.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Parquet-sink run (file sinks recover from a checkpoint — the
    * memory sink refuses); returns the sink dir's current rows. */
  private def runToSink(table: String, ckpt: String,
      out: String): org.apache.spark.sql.DataFrame = {
    val sdf = spark.readStream.format("graft-lake-cdc")
      .option("table", table).load()
    val q = sdf.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out)
  }

  test("tails the change feed from the initial snapshot; restart resumes exactly-once") {
    val table = fresh("tail")
    val ckpt = fresh("ckpt")
    val out = fresh("out")
    Lake.write(spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2).cast("double").as("v")), table, Nil)      // v1
    Lake.deleteMor(spark, table, col("k") % 10 === 0)        // v2
    val first = runToSink(table, ckpt, out).collect()
    // v1 snapshot as inserts + v2's 10 deletes
    assert(first.count(_.getAs[String]("__change_type") == "insert") === 100)
    val dels = first.filter(_.getAs[String]("__change_type") == "delete")
    assert(dels.length === 10)
    assert(dels.forall(_.getAs[Long]("k") % 10 === 0))
    assert(first.filter(_.getAs[Int]("__commit_version") == 1).length === 100)

    // two more commits; a restarted query on the SAME checkpoint must
    // append ONLY them (offset log replay, no side ledger)
    Lake.updateMor(spark, table, col("k") % 7 === 1,
      Map("v" -> (col("v") + 1000)))                         // v3
    Lake.write(spark.range(100, 110).select($"id".as("k"),
      ($"id" * 2).cast("double").as("v")), table, Nil, mode = "append") // v4
    val total = runToSink(table, ckpt, out).collect()
    assert(total.length === first.length +
      total.count(r => r.getAs[Int]("__commit_version") >= 3),
      "restart replayed already-committed versions")
    val second = total.filter(_.getAs[Int]("__commit_version") >= 3)
    val upd = second.filter(_.getAs[Int]("__commit_version") == 3)
    // MoR update = delete(old) + insert(new) per touched key
    assert(upd.count(_.getAs[String]("__change_type") == "insert") ===
      upd.count(_.getAs[String]("__change_type") == "delete"))
    assert(upd.filter(r => r.getAs[String]("__change_type") == "insert")
      .forall(_.getAs[Double]("v") >= 1000))
    assert(second.count(_.getAs[Int]("__commit_version") == 4) === 10)

    // folding the full feed by key reproduces the table (fresh
    // checkpoint → memory sink fine, no recovery involved)
    val all = runToEnd(table, fresh("ckpt2")).groupBy($"k")
      .agg(sum(when($"__change_type" === "insert", 1).otherwise(-1)).as("live"))
    assert(all.filter($"live" > 0).count() === Lake.read(spark, table).count())
  }

  test("startingVersion tails only commits past it; streaming aggregation works downstream") {
    val table = fresh("sv")
    Lake.write(spark.range(0, 50).select($"id".as("k"),
      $"id".cast("double").as("v")), table, Nil)             // v1
    Lake.deleteMor(spark, table, col("k") < 5)               // v2
    // start AT the current version: nothing yet; then a new commit
    val start = Lake.currentVersion(spark, table).toLong
    Lake.deleteMor(spark, table, col("k") === 40)            // v3
    val rows = runToEnd(table, fresh("c"), Some(start)).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("k") === 40)
    assert(rows.head.getAs[String]("__change_type") === "delete")

    // a stateful streaming aggregation over the feed (update mode)
    qn += 1
    val name = s"cdc_mem_$qn"
    val agg = spark.readStream.format("graft-lake-cdc")
      .option("table", table).load()
      .groupBy($"__change_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val counts = spark.table(name).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("insert") === 50)
    assert(counts("delete") === 6)
  }

  test("graft-paimon-cdc: snapshot-id offsets, LSM retraction feed, restart resumes") {
    import graft.sources.{PaimonRead, PaimonWrite}
    val table = fresh("pai")
    val ckpt = fresh("pckpt")
    val out = fresh("pout")
    PaimonWrite.commitPk(spark.range(0, 60).select($"id".as("k"),
      ($"id" * 2).cast("double").as("x")), table, Seq("k"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" + 900).cast("double").as("x")), table, Seq("k"), numBuckets = 2)
    def run(): org.apache.spark.sql.DataFrame = {
      val q = spark.readStream.format("graft-paimon-cdc")
        .option("table", table).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out)
    }
    val first = run().collect()
    // s1: 60 inserts; s2: 10 upserts = 10 deletes (old images) + 10 inserts
    assert(first.count(_.getAs[String]("__change_type") == "insert") === 70)
    assert(first.count(_.getAs[String]("__change_type") == "delete") === 10)
    // a DV delete commits s3; restart emits ONLY its retractions
    PaimonWrite.deleteWhereDv(spark, table, col("k") >= 55)
    val total = run().collect()
    val s3 = total.filter(_.getAs[Long]("__commit_version") == 3L)
    assert(total.length === first.length + s3.length,
      "restart replayed already-committed snapshots")
    assert(s3.length === 5)
    assert(s3.forall(_.getAs[String]("__change_type") == "delete"))
  }

  test("graft-delta-cdc: version offsets from the v0 snapshot, CDF tail, restart resumes") {
    import graft.sources.{DeltaWrite, Lake}
    val table = fresh("del")
    val ckpt = fresh("dckpt")
    val out = fresh("dout")
    Lake.write(spark.range(0, 80).select($"id".as("k"),
      ($"id" * 3).cast("double").as("v")), table, Nil)
    Lake.deleteMor(spark, table, col("k") % 8 === 0)
    DeltaWrite.exportLake(spark, table)
    def run(): org.apache.spark.sql.DataFrame = {
      val q = spark.readStream.format("graft-delta-cdc")
        .option("table", table).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out)
    }
    val first = run().collect()
    assert(first.count(_.getAs[String]("__change_type") == "insert") === 80)
    assert(first.count(_.getAs[String]("__change_type") == "delete") === 10)
    // another delta commit directly on the exported log; restart tails it
    val lastV = graft.sources.DeltaRead.versions(spark, table).last
    graft.sources.Lake.deleteMor(spark, table, col("k") === 33)
    DeltaWrite.exportLake(spark, table)
    val total = run().collect()
    val tail = total.filter(_.getAs[Long]("__commit_version") > lastV)
    assert(total.length === first.length + tail.length,
      "restart replayed already-committed versions")
    assert(tail.map(r => (r.getAs[Long]("k"),
      r.getAs[String]("__change_type"))).toSeq === Seq((33L, "delete")))
  }
}
