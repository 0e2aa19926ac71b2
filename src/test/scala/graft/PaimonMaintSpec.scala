package graft

import org.apache.spark.sql.functions._

import graft.sources.{PaimonRead, PaimonWrite}

/** Paimon system tables (the reference reads them through the paimon
  * connector: PaimonMetadata.java:90 SnapshotsTable, :613 system-table
  * routing) and snapshot expiration maintenance. */
class PaimonMaintSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_pm_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  test("system tables: snapshots, schemas, files, manifests, options") {
    val dir = fresh("sys")
    PaimonWrite.commitPk(spark.range(0, 90).select($"id".as("k"),
      ($"id" % 3).cast("int").as("p"), $"id".cast("double").as("x")),
      dir, Seq("k"), partitionKeys = Seq("p"), numBuckets = 2,
      options = Map("custom.opt" -> "7"))
    PaimonWrite.commitPk(spark.range(0, 30).select($"id".as("k"),
      ($"id" % 3).cast("int").as("p"), lit(-1.0).as("x")), dir, Seq("k"),
      assumeKeyUnique = true)
    PaimonWrite.compact(spark, dir)

    val snaps = PaimonRead.systemTable(spark, dir, "snapshots")
      .orderBy($"snapshot_id").collect()
    assert(snaps.map(r => (r.getAs[Long]("snapshot_id"),
      r.getAs[String]("commit_kind"), r.getAs[Long]("delta_record_count")))
      .toSeq === Seq((1L, "APPEND", 90L), (2L, "APPEND", 30L),
        (3L, "COMPACT", 90L)))

    val schemas = PaimonRead.systemTable(spark, dir, "schemas").collect()
    assert(schemas.length === 1)
    assert(schemas.head.getAs[String]("primary_keys").contains("\"k\""))
    assert(schemas.head.getAs[String]("options").contains("\"custom.opt\":\"7\""))

    val files = PaimonRead.systemTable(spark, dir, "files")
    assert(files.agg(sum($"row_count")).head.getLong(0) === 90L)
    // post-compact: one max-level file per (partition, bucket)
    assert(files.select($"level").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(1))
    assert(files.count() === 6) // 3 partitions x 2 buckets

    val manifests = PaimonRead.systemTable(spark, dir, "manifests")
    assert(manifests.count() >= 3)

    val opts = PaimonRead.systemTable(spark, dir, "options").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(opts("custom.opt") === "7")
    assert(opts("bucket") === "2")

    intercept[IllegalArgumentException] {
      PaimonRead.systemTable(spark, dir, "nope")
    }
  }

  test("rollbackTo: newer snapshots die, their exclusive files reclaimed, next commit continues") {
    val dir = fresh("rb")
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    PaimonWrite.commitPk(spark.range(0, 50).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      lit(-1.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.deleteWhereDv(spark, dir, $"k" >= 45)         // s3 (DV)
    PaimonWrite.commitPk(spark.range(200, 220).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), assumeKeyUnique = true) // s4
    val rolled = PaimonWrite.rollbackTo(spark, dir, 2L)
    assert(rolled === Seq(3L, 4L))
    assert(PaimonRead.latestSnapshotId(spark, dir) === 2L)
    val back = PaimonRead.read(spark, dir)
    assert(back.count() === 50)                 // DV delete undone
    assert(back.filter($"k" >= 200).count() === 0)
    assert(back.filter($"x" < 0).count() === 10)
    // s3's .dv and s4's data files are gone
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/index")) ||
      f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/index")).isEmpty)
    // the next commit continues from the target
    PaimonWrite.commitPk(spark.range(300, 305).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), assumeKeyUnique = true)
    assert(PaimonRead.latestSnapshotId(spark, dir) === 3L)
    assert(PaimonRead.read(spark, dir).count() === 55)
  }

  test("rollback refuses past a tag; key-only merge engines read; real-flavor totals stay incremental") {
    // rollback past a tag would reuse snapshot ids and overwrite the
    // tag's retained deterministically-named files — must refuse
    val dir = fresh("rbtag")
    PaimonWrite.commitPk(spark.range(0, 20).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"))
    PaimonWrite.commitPk(spark.range(0, 5).select($"id".as("k"),
      lit(9.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.createTag(spark, dir, "keepme", Some(2L))
    intercept[IllegalArgumentException] {
      PaimonWrite.rollbackTo(spark, dir, 1L)
    }
    PaimonWrite.deleteTag(spark, dir, "keepme")
    assert(PaimonWrite.rollbackTo(spark, dir, 1L) === Seq(2L))
    assert(PaimonRead.read(spark, dir).count() === 20)

    // a key-only partial-update table (no value columns) reads as the
    // key set instead of crashing on an empty aggregate list
    val dir2 = fresh("keyonly")
    PaimonWrite.commitPk(spark.range(0, 30).select($"id".as("k")),
      dir2, Seq("k"), options = Map("merge-engine" -> "partial-update"))
    PaimonWrite.commitPk(spark.range(25, 40).select($"id".as("k")),
      dir2, Seq("k"), assumeKeyUnique = true)
    assert(PaimonRead.read(spark, dir2).count() === 40)

    // real-flavor totalRecordCount is computed incrementally per
    // commit — adds minus retires must still equal the live row count
    val dir3 = fresh("totals")
    PaimonWrite.commitPk(spark.range(0, 60).select($"id".as("k"),
      $"id".cast("double").as("x")), dir3, Seq("k"))
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      lit(1.5).as("x")), dir3, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.compact(spark, dir3)
    val totals = PaimonRead.systemTable(spark, dir3, "snapshots")
      .orderBy($"snapshot_id")
      .select($"total_record_count").collect().map(_.getLong(0)).toSeq
    assert(totals === Seq(60L, 70L, 60L),
      "incremental totals diverged from adds-minus-retires")
    assert(PaimonRead.read(spark, dir3).count() === 60)
  }

  test("tags: named snapshots survive expiry and read from their own copy") {
    val dir = fresh("tag")
    PaimonWrite.commitPk(spark.range(0, 60).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 20).select($"id".as("k"),
      lit(-5.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)
    val tagged = PaimonWrite.createTag(spark, dir, "v1-release", Some(1L))
    assert(tagged === 1L)
    intercept[IllegalArgumentException] { // duplicate refuses
      PaimonWrite.createTag(spark, dir, "v1-release")
    }
    PaimonWrite.compact(spark, dir)
    PaimonWrite.commitPk(spark.range(100, 110).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), assumeKeyUnique = true)
    // expire everything but the last snapshot — the tagged s1 must
    // still read from its own copy, with its ORIGINAL rows (untouched
    // by s2's overwrite), even though snapshot-1 is gone
    val expired = PaimonWrite.expireSnapshots(spark, dir, retainLast = 1)
    assert(expired === Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      PaimonRead.read(spark, dir, Some(1L))
    }
    val atTag = PaimonRead.readTag(spark, dir, "v1-release")
    assert(atTag.count() === 60)
    assert(atTag.filter($"x" < 0).count() === 0)
    assert(PaimonRead.read(spark, dir).count() === 70)
    // tbl$tags lists it
    val sys = PaimonRead.systemTable(spark, dir, "tags").collect()
    assert(sys.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("v1-release", 1L)))
    // delete the tag: its exclusive files are now true orphans (no
    // snapshot reaches them) — remove_orphan_files reclaims them
    PaimonWrite.deleteTag(spark, dir, "v1-release")
    assert(PaimonWrite.expireSnapshots(spark, dir, retainLast = 1) === Nil)
    intercept[IllegalArgumentException] {
      PaimonRead.readTag(spark, dir, "v1-release")
    }
    val before = PaimonRead.read(spark, dir).orderBy($"k").collect()
    // the default 1h olderThan guard protects fresh files — a
    // concurrent writer's staged-not-yet-committed output looks
    // exactly like these seconds-old orphans
    assert(PaimonWrite.removeOrphanFiles(spark, dir) === Nil)
    // olderThanMillis = 0: this spec is the single writer, so the
    // concurrent-commit guard may be disabled to sweep fresh debris
    val orphans = PaimonWrite.removeOrphanFiles(spark, dir, olderThanMillis = 0L)
    assert(orphans.nonEmpty, "the dropped tag's exclusive runs were orphans")
    assert(PaimonRead.read(spark, dir).orderBy($"k").collect().toSeq ===
      before.toSeq)
    // a second sweep finds nothing
    assert(PaimonWrite.removeOrphanFiles(spark, dir, olderThanMillis = 0L) === Nil)
  }

  test("distributed GC root walk (threshold 0) sweeps the same orphans as the serial walk, branches included") {
    // twin tables, identical commit history (file names are
    // deterministic: data-<id>-<i>), one swept serially, one through
    // the Spark-job root walk — the orphan RELATIVE paths must match
    def build(dir: String): Unit = {
      PaimonWrite.commitPk(spark.range(0, 40).select($"id".as("k"),
        $"id".cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
      PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
        lit(-1.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)
      PaimonWrite.createTag(spark, dir, "keepme", Some(1L))
      PaimonWrite.createBranch(spark, dir, "dev", Some(2L))
      PaimonWrite.commitPk(spark.range(200, 210).select($"id".as("k"),
        $"id".cast("double").as("x")),
        PaimonRead.branchRoot(dir, "dev"), Seq("k"), assumeKeyUnique = true)
      PaimonWrite.compact(spark, dir)
      // drop the tag so its exclusive copies become orphans
      PaimonWrite.deleteTag(spark, dir, "keepme")
      PaimonWrite.expireSnapshots(spark, dir, retainLast = 1)
    }
    val a = fresh("gc-serial"); val b = fresh("gc-dist")
    build(a); build(b)
    def rel(root: String)(p: String): String =
      p.substring(p.indexOf(root) + root.length)
    val serial = PaimonWrite.removeOrphanFiles(spark, a, olderThanMillis = 0L)
      .map(rel(a)).sorted
    val dist = Engine.withConf(spark, "spark.graft.paimon.gc.distributedRootWalkThreshold" -> "0") {
      PaimonWrite.removeOrphanFiles(spark, b, olderThanMillis = 0L).map(rel(b)).sorted
    }
    assert(dist === serial, "distributed and serial sweeps diverged")
    // branch + main still read after the distributed sweep
    assert(PaimonRead.read(spark, b).count() === 40)
    assert(PaimonRead.read(spark,
      PaimonRead.branchRoot(b, "dev")).count() === 50)
    assert(PaimonWrite.removeOrphanFiles(spark, b, olderThanMillis = 0L) === Nil)
  }

  test("addColumn: ALTER TABLE ADD COLUMN — null-fill on old runs, evolved compaction, time travel keeps the old shape") {
    val dir = fresh("evo")
    PaimonWrite.commitPk(spark.range(0, 50).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
    val sid = PaimonWrite.addColumn(spark, dir,
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType))
    assert(sid === 1L)
    // ALTER-then-SELECT: new column visible, null-filled, BEFORE any commit
    val altered = PaimonRead.read(spark, dir)
    assert(altered.columns.toSeq === Seq("k", "x", "tag"))
    assert(altered.filter($"tag".isNotNull).count() === 0)
    // new-schema upsert: 10 keys get a tag; merge resolves across
    // mixed-schema runs (old file lacks the column entirely)
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" + 100).cast("double").as("x"), lit("hot").as("tag")),
      dir, Seq("k"), assumeKeyUnique = true)
    val merged = PaimonRead.read(spark, dir).orderBy($"k")
    assert(merged.count() === 50)
    assert(merged.filter($"tag" === "hot").count() === 10)
    assert(merged.filter($"k" >= 10 && $"tag".isNotNull).count() === 0)
    // a DV delete with a predicate over the ADDED column
    PaimonWrite.deleteWhereDv(spark, dir, $"tag" === "hot" && $"k" < 5)
    assert(PaimonRead.read(spark, dir).count() === 45)
    // compaction rewrites under the evolved schema
    PaimonWrite.compact(spark, dir)
    val post = PaimonRead.read(spark, dir)
    assert(post.columns.toSeq === Seq("k", "x", "tag"))
    assert(post.count() === 45)
    assert(post.filter($"tag" === "hot").count() === 5)
    // time travel to snapshot 1 serves the PRE-ALTER shape
    assert(PaimonRead.read(spark, dir, Some(1L)).columns.toSeq === Seq("k", "x"))
    // duplicate column refuses
    intercept[IllegalArgumentException] {
      PaimonWrite.addColumn(spark, dir,
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.StringType))
    }
  }

  test("expireSnapshots: old metadata and unreachable files die, retained reads unchanged") {
    val dir = fresh("exp")
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def countFiles(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (f.exists(p)) f.listStatus(p).length else 0
    }
    PaimonWrite.commitPk(spark.range(0, 100).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), numBuckets = 2)
    PaimonWrite.commitPk(spark.range(0, 40).select($"id".as("k"),
      lit(0.5).as("x")), dir, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.commitPk(spark.range(100, 120).select($"id".as("k"),
      $"id".cast("double").as("x")), dir, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.compact(spark, dir) // s4 retires the s1-s3 runs
    PaimonWrite.deleteWhereDv(spark, dir, $"k" >= 110) // s5 with DVs
    val before = PaimonRead.read(spark, dir).orderBy($"k").collect()
    val manifestsBefore = countFiles("manifest")

    val expired = PaimonWrite.expireSnapshots(spark, dir, retainLast = 2)
    assert(expired === Seq(1L, 2L, 3L))
    // expired ids refuse; retained read is bit-identical
    intercept[IllegalArgumentException] {
      PaimonRead.read(spark, dir, Some(2L))
    }
    assert(PaimonRead.read(spark, dir, Some(4L)).count() === 120)
    assert(PaimonRead.read(spark, dir).orderBy($"k").collect().toSeq ===
      before.toSeq)
    // the pre-compaction runs (retired at s4, unreachable from s4/s5)
    // are physically gone: every surviving bucket file is a compacted
    // data-* run, and manifest/ shrank
    assert(countFiles("manifest") < manifestsBefore)
    val buckets = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bucket-"))
    val dataFiles = buckets.flatMap(b =>
      f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$b"))
        .map(_.getPath.getName))
    assert(dataFiles.forall(_.startsWith("data-00004")),
      s"pre-compaction runs survived expire: ${dataFiles.mkString(",")}")
    // idempotent; retaining more than exist is a no-op
    assert(PaimonWrite.expireSnapshots(spark, dir, retainLast = 2) === Nil)
    // the DV index files survive (s5 references them — one per
    // touched bucket, and keys >= 110 hash into both buckets)
    assert(countFiles("index") === 2)
    assert(PaimonRead.read(spark, dir).count() === 110)
  }
}
