package graft

import graft.sources.{PaimonDv, PaimonHashIndex, PaimonRead, PaimonWrite}
import org.apache.spark.sql.functions.{col, hash, lit}

/** Dynamic-bucket ('bucket' = '-1') PK tables: sticky HASH-index
  * routing, target-row bucket fill, index survival across compaction,
  * CDC feed equality with a fixed-bucket twin, and the touched-bucket
  * prior pruning staying valid. */
class PaimonDynamicBucketSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-dyn-$tag").toString + "/t"

  private def batch(ids: Seq[Long], x: Double) =
    ids.toDF("k").withColumn("x", lit(x) + col("k"))

  test("sticky assignment: buckets fill to target, existing keys keep their bucket, index manifest is full-state") {
    val dir = fresh("sticky")
    PaimonWrite.commitPk(batch(0L until 20L, 0.0), dir, Seq("k"),
      numBuckets = -1,
      options = Map("dynamic-bucket.target-row-num" -> "8"))
    // 20 new keys at target 8 -> buckets 0 (8), 1 (8), 2 (4)
    val im1 = PaimonRead.snapshotIndexManifest(spark, dir, 1L)
    assert(im1.nonEmpty)
    val idx1 = PaimonHashIndex.entriesAt(spark, dir, im1)
    assert(idx1.map(e => e.bucket -> e.rowCount).sortBy(_._1) ===
      Seq(0 -> 8L, 1 -> 8L, 2 -> 4L))
    assert(PaimonRead.read(spark, dir).count() === 20)
    // key -> hash -> bucket, through the same Spark murmur the writer used
    val keyHash = (0L until 20L).toDF("k")
      .select(col("k"), hash(col("k")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def bucketOf(im: Option[String]): Map[Int, Int] =
      PaimonHashIndex.entriesAt(spark, dir, im).flatMap { e =>
        PaimonHashIndex.readHashFile(f,
            new org.apache.hadoop.fs.Path(s"$dir/index/${e.fileName}"))
          .map(_ -> e.bucket)
      }.toMap
    val assign1 = bucketOf(im1)
    assert(assign1.size === 20)
    // commit 2: update 5 existing keys + 3 new -> existing keys stay
    // in their buckets, new keys continue filling bucket 2
    PaimonWrite.commitPk(batch(Seq(0L, 3L, 7L, 11L, 19L) ++ (20L until 23L),
      100.0), dir, Seq("k"), assumeKeyUnique = true)
    val im2 = PaimonRead.snapshotIndexManifest(spark, dir, 2L)
    val assign2 = bucketOf(im2)
    assert(assign2.size === 23)
    assign1.foreach { case (h, b) => assert(assign2(h) === b) }
    val idx2 = PaimonHashIndex.entriesAt(spark, dir, im2)
    assert(idx2.map(e => e.bucket -> e.rowCount).sortBy(_._1) ===
      Seq(0 -> 8L, 1 -> 8L, 2 -> 7L))
    // the commit's data files landed in the keys' assigned buckets
    val adds2 = PaimonRead.liveFiles(spark, dir, Some(2L))
      .filter(_.minSeq == 2L)
    val expectedBuckets = (Seq(0L, 3L, 7L, 11L, 19L) ++ (20L until 23L))
      .map(k => assign2(keyHash.getOrElse(k,
        Seq(k).toDF("k").select(hash(col("k"))).head().getInt(0)))).toSet
    assert(adds2.map(_.bucket).toSet === expectedBuckets)
    // merged read resolves to the latest images
    val got = PaimonRead.read(spark, dir).orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === 23)
    assert(got.filter(x => Seq(0L, 3L, 7L, 11L, 19L).contains(x._1))
      .forall { case (k, x) => x === 100.0 + k })
    assert(got.find(_._1 === 1L).get._2 === 1.0)
  }

  test("partitioned dynamic table: the hash-index manifest's partitions are BinaryRows") {
    import org.apache.spark.sql.types.IntegerType
    val dir = fresh("binrow")
    def rows(from: Long, until: Long, x: Double) = spark.range(from, until)
      .select($"id".as("k"), ($"id" % 3).cast("int").as("p"), (lit(x) + $"id").as("x"))
    PaimonWrite.commitPk(rows(0, 30, 0.0), dir, Seq("k"), Seq("p"), numBuckets = -1,
      options = Map("dynamic-bucket.target-row-num" -> "4"))
    PaimonWrite.commitPk(rows(25, 35, 100.0), dir, Seq("k"), assumeKeyUnique = true)
    val im = PaimonRead.snapshotIndexManifest(spark, dir, 2L)
    val hashEntries = PaimonDv.readIndexManifest(spark, dir, im.get)
      .filter(_.indexType == PaimonHashIndex.IndexType)
    // the same bytes the data manifests carry for the partition
    val byPartition = hashEntries.groupBy(e =>
      graft.sources.PaimonBinaryRow.decode(e.partitionBytes, Seq(IntegerType)).head)
    assert(byPartition.keySet === Set("0", "1", "2"))
    byPartition.foreach { case (p, es) => es.foreach(e => assert(e.partitionBytes.toSeq ===
      graft.sources.PaimonBinaryRow.encode(Seq(p.toInt), Seq(IntegerType)).toSeq)) }
    // each partition's buckets hold exactly its distinct keys
    assert(byPartition.map { case (p, es) => p -> es.map(_.rowCount).sum } ===
      Map("0" -> 12L, "1" -> 12L, "2" -> 11L))
    val back = PaimonRead.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("x")).toMap
    assert(back.size === 35 && back(26L) === 126.0 && back(24L) === 24.0)
  }

  test("CDC: feed bit-equal to a fixed-bucket twin; prior set pruned to touched buckets") {
    val dirD = fresh("cdc-dyn"); val dirF = fresh("cdc-fix")
    def feed(dir: String, buckets: Int) = {
      PaimonWrite.commitPk(batch(0L until 16L, 0.0), dir, Seq("k"),
        numBuckets = buckets,
        options = Map("dynamic-bucket.target-row-num" -> "6"))
      PaimonWrite.commitPk(batch(Seq(2L, 9L), 50.0), dir, Seq("k"),
        assumeKeyUnique = true)
      PaimonWrite.commitPk(Seq(4L).toDF("k"), dir, Seq("k"),
        deletes = true, assumeKeyUnique = true)
      PaimonRead.changes(spark, dir, 1L, 3L)
        .select($"k", $"x", $"__change_type", $"__commit_version")
        .orderBy($"__commit_version", $"__change_type", $"k")
        .collect().toSeq
    }
    val dyn = feed(dirD, -1)
    val fix = feed(dirF, 4)
    assert(dyn === fix) // rows identical, bucketing invisible to the feed
    // pruning: commit 2 touched keys 2 and 9 — the prior live set
    // restricts to THEIR buckets, not all three
    val prior = PaimonRead.liveFiles(spark, dirD, Some(1L))
    assert(prior.map(_.bucket).toSet === Set(0, 1, 2)) // 16 keys / target 6
    val adds2 = PaimonRead.liveFiles(spark, dirD, Some(2L))
      .filter(_.minSeq == 2L)
    val sch = PaimonRead.schemaById(spark, dirD, 0L)
    val pruned = PaimonRead.prunePriorToTouchedBuckets(prior, adds2, sch)
    assert(pruned.size < prior.size,
      s"expected pruning, got ${pruned.size}/${prior.size}")
    assert(pruned.map(_.bucket).toSet === adds2.map(_.bucket).toSet)
  }

  test("compaction keeps the HASH index; assignments stay sticky after it") {
    val dir = fresh("compact")
    PaimonWrite.commitPk(batch(0L until 12L, 0.0), dir, Seq("k"),
      numBuckets = -1,
      options = Map("dynamic-bucket.target-row-num" -> "5"))
    PaimonWrite.commitPk(batch(Seq(1L, 6L), 10.0), dir, Seq("k"),
      assumeKeyUnique = true)
    val before = PaimonRead.snapshotIndexManifest(spark, dir, 2L)
    val assignBefore = PaimonHashIndex.entriesAt(spark, dir, before)
      .map(e => e.bucket -> e.rowCount).sortBy(_._1)
    val cid = PaimonWrite.compact(spark, dir)
    val after = PaimonRead.snapshotIndexManifest(spark, dir, cid)
    assert(after.nonEmpty, "compaction dropped the hash index")
    assert(PaimonHashIndex.entriesAt(spark, dir, after)
      .map(e => e.bucket -> e.rowCount).sortBy(_._1) === assignBefore)
    // post-compaction update stays in the key's bucket and merges
    PaimonWrite.commitPk(batch(Seq(6L), 99.0), dir, Seq("k"),
      assumeKeyUnique = true)
    val got = PaimonRead.read(spark, dir).filter($"k" === 6L).collect()
    assert(got.length === 1 && got.head.getDouble(1) === 105.0)
    assert(PaimonRead.read(spark, dir).count() === 12)
    // the one-key commit touched ONE bucket; prior prunes to it
    val prior = PaimonRead.liveFiles(spark, dir, Some(cid))
    val adds = PaimonRead.liveFiles(spark, dir, Some(cid + 1))
      .filter(_.minSeq == cid + 1)
    assert(adds.map(_.bucket).toSet.size === 1)
    val pruned = PaimonRead.prunePriorToTouchedBuckets(prior, adds,
      PaimonRead.schemaById(spark, dir, 0L))
    assert(pruned.map(_.bucket).toSet === adds.map(_.bucket).toSet)
  }

  private def assignmentOf(dir: String, id: Long): Map[Int, Int] = {
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    PaimonHashIndex.entriesAt(spark, dir,
        PaimonRead.snapshotIndexManifest(spark, dir, id)).flatMap { e =>
      PaimonHashIndex.readHashFile(f,
          new org.apache.hadoop.fs.Path(s"$dir/index/${e.fileName}"))
        .map(_ -> e.bucket)
    }.toMap
  }

  test("cross-partition recommit: the old partition's image is NOT pruned and its retraction survives") {
    val dir = fresh("xpart")
    // pk does NOT contain the partition key — the hazard case: a key
    // re-committed under a new partition gets a FRESH bucket there,
    // its old image lives in the old partition under an unrelated
    // bucket number
    val b1 = (0L until 8L).toDF("k")
      .withColumn("p", lit("a")).withColumn("x", col("k") * 1.0)
    PaimonWrite.commitPk(b1, dir, Seq("k"), partitionKeys = Seq("p"),
      numBuckets = -1,
      options = Map("dynamic-bucket.target-row-num" -> "4"))
    // pick a key assigned OUTSIDE bucket 0 of partition a, so the new
    // partition's bucket-0 write would have pruned it pre-fix
    val keyHash = (0L until 8L).toDF("k")
      .select(col("k"), hash(col("k")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val assign1 = assignmentOf(dir, 1L)
    val moved = (0L until 8L).find(k => assign1(keyHash(k)) != 0).get
    val b2 = Seq(moved).toDF("k")
      .withColumn("p", lit("b")).withColumn("x", lit(500.0))
    PaimonWrite.commitPk(b2, dir, Seq("k"), assumeKeyUnique = true)
    val adds2 = PaimonRead.liveFiles(spark, dir, Some(2L))
      .filter(_.minSeq == 2L)
    assert(adds2.map(e => (e.partition("p"), e.bucket)).toSet ===
      Set(("b", 0))) // fresh bucket in the new partition
    // prune keeps EVERY old-partition entry (untouched partition)
    val prior = PaimonRead.liveFiles(spark, dir, Some(1L))
    val pruned = PaimonRead.prunePriorToTouchedBuckets(prior, adds2,
      PaimonRead.schemaById(spark, dir, 0L))
    assert(pruned.toSet === prior.toSet,
      "dynamic+partitioned prune must keep untouched partitions whole")
    // and the feed emits the old image's retraction + the new insert
    val ch = PaimonRead.changes(spark, dir, 1L, 2L)
      .select($"k", $"p", $"x", $"__change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(ch === Set(
      (moved, "a", moved * 1.0, "delete"),
      (moved, "b", 500.0, "insert")))
  }

  test("compact on dynamic + non-deduplicate keeps each key's RECORDED bucket (no collapse into bucket 0)") {
    val dir = fresh("pu-compact")
    PaimonWrite.commitPk(batch(0L until 10L, 0.0), dir, Seq("k"),
      numBuckets = -1,
      options = Map("dynamic-bucket.target-row-num" -> "4",
        "merge-engine" -> "partial-update"))
    PaimonWrite.commitPk(batch(Seq(2L, 7L), 30.0), dir, Seq("k"),
      assumeKeyUnique = true)
    val assignBefore = assignmentOf(dir, 2L)
    val cid = PaimonWrite.compact(spark, dir)
    // the rewritten data files live in the index's buckets, not all-0
    val files = PaimonRead.liveFiles(spark, dir, Some(cid))
    assert(files.map(_.bucket).toSet === assignBefore.values.toSet)
    assert(files.map(_.bucket).toSet.size > 1,
      "compaction collapsed the dynamic buckets")
    assert(assignmentOf(dir, cid) === assignBefore)
    // observable consequence: a post-compact update's changelog-free
    // feed derives the retraction from the PRUNED prior — only correct
    // when rows actually live where the index says
    val probe = assignBefore.collect {
      case (h, b) if b == assignBefore.values.max => h }.head
    val probeKey = (0L until 10L).find(k =>
      Seq(k).toDF("k").select(hash(col("k"))).head().getInt(0) == probe).get
    PaimonWrite.commitPk(batch(Seq(probeKey), 900.0), dir, Seq("k"),
      assumeKeyUnique = true)
    val merged = PaimonRead.read(spark, dir)
      .filter($"k" === probeKey).collect()
    assert(merged.length === 1 && merged.head.getDouble(1) === 900.0 + probeKey)
    assert(PaimonRead.read(spark, dir).count() === 10)
  }

  test("forced paths: empty-prior skip and over-threshold shuffle join assign bit-identically to the broadcast path") {
    val dirA = fresh("force-a"); val dirB = fresh("force-b")
    def ingest(dir: String) = {
      PaimonWrite.commitPk(batch(0L until 15L, 0.0), dir, Seq("k"),
        numBuckets = -1,
        options = Map("dynamic-bucket.target-row-num" -> "6"))
      PaimonWrite.commitPk(batch(Seq(3L, 8L) ++ (15L until 19L), 70.0), dir,
        Seq("k"), assumeKeyUnique = true)
    }
    ingest(dirA) // default: empty-prior skip on c1, broadcast join on c2
    // forced: shuffle join on c2
    Engine.withConf(spark, "spark.graft.paimon.dynamicBucket.broadcastKeyLimit" -> "0")(ingest(dirB))
    assert(assignmentOf(dirA, 2L) === assignmentOf(dirB, 2L))
    val a = PaimonRead.read(spark, dirA).orderBy($"k").collect().toSeq
    val b = PaimonRead.read(spark, dirB).orderBy($"k").collect().toSeq
    assert(a === b)
  }
}
