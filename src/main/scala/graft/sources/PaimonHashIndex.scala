package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Apache Paimon DYNAMIC-BUCKET index (`'bucket' = '-1'` PK tables):
  * the writer assigns each NEW key to a bucket (filling the last
  * bucket to `dynamic-bucket.target-row-num`, then opening the next)
  * and records the assignment in per-(partition, bucket) HASH index
  * files under `index/` — a raw sequence of 4-byte big-endian ints,
  * one murmur key-hash per key (paimon's `HashIndexFile` layout). The
  * snapshot's index manifest lists them with `_INDEX_TYPE = "HASH"`,
  * beside any deletion-vector entries. Stickiness is the contract: a
  * key, once assigned, always routes to its bucket, which is what
  * keeps [[PaimonRead.changes]]'s touched-bucket pruning VALID on
  * dynamic tables — bucket(key) is no longer a pure hash, but every
  * older image of a touched key still lives in the bucket the new
  * write touched.
  *
  * 100 TB stance: the existing-key lookup is a distributed join of the
  * batch's distinct key hashes against the index files (read on
  * executors, O(index) scan but no driver materialization); only NEW
  * keys (batch-bounded) and the CHANGED buckets' hash lists (≤
  * target-row-num ints each, 4 bytes apiece) pass through the driver
  * for the sequential fill decision — the same shape as paimon's
  * HashBucketAssigner state. */
object PaimonHashIndex {

  val IndexType = "HASH"

  /** `partition` is the hex of the entry's BinaryRow partition tuple —
    * the same bytes the data manifests carry — so it can key a Spark
    * join. */
  final case class HashEntry(partition: String, bucket: Int,
      fileName: String, rowCount: Long)

  private val hex = java.util.HexFormat.of()

  // ---- hash index file io ---------------------------------------------

  def writeHashFile(f: FileSystem, path: Path, hashes: Seq[Int]): Unit = {
    val out = f.create(path, true)
    try hashes.foreach(out.writeInt) finally out.close()
  }

  def readHashFile(f: FileSystem, path: Path): Array[Int] = {
    val len = f.getFileStatus(path).getLen
    require(len % 4 == 0, s"hash index $path length $len not 4-aligned")
    val in = f.open(path)
    try {
      val out = new Array[Int]((len / 4).toInt)
      var i = 0
      while (i < out.length) { out(i) = in.readInt(); i += 1 }
      out
    } finally in.close()
  }

  /** HASH index entries at a snapshot (empty when none). */
  def entriesAt(spark: SparkSession, table: String,
      indexManifest: Option[String]): Seq[HashEntry] =
    indexManifest.map(n => PaimonDv.readIndexManifest(spark, table, n))
      .getOrElse(Nil)
      .filter(_.indexType == IndexType)
      .map(e => HashEntry(hex.formatHex(e.partitionBytes), e.bucket,
        e.fileName, e.rowCount))

  /** Assign a bucket to every row of `sys` (the system-column-staged
    * batch) per the dynamic-bucket contract. Returns (bucketed rows,
    * index delta — per changed (partition, bucket), the NEW key hashes,
    * for [[writeIndex]] once the data files stage — and the cached
    * lookup frame). The caller MUST unpersist the third element once
    * the bucketed rows are materialized — the lookup (one distributed
    * index join) is consumed by three downstream branches and would
    * otherwise re-read and re-join the whole index per branch. */
  def assignBuckets(spark: SparkSession, table: String,
      partitions: PaimonRead.RowCodec, sys: DataFrame, primaryKeys: Seq[String],
      targetRows: Long, snapshotIdPrior: Option[Long]):
      (DataFrame, Map[(String, Int), Seq[Int]], DataFrame) = {
    import org.apache.spark.sql.functions.{col, hash, lit, array, udf}
    val pjCol =
      if (partitions.names.isEmpty) lit(hex.formatHex(partitions.encode(Map.empty)))
      else udf((vals: Seq[String]) =>
          hex.formatHex(partitions.encode(partitions.names.zip(vals).toMap)))
        .apply(array(partitions.names.map(k => col(k).cast("string")): _*))
    val khash = hash(primaryKeys.map(col): _*)
    val withKey = sys.withColumn("__pj", pjCol).withColumn("__khash", khash)
    val prior: Seq[HashEntry] = snapshotIdPrior
      .map(v => entriesAt(spark, table,
        PaimonRead.snapshotIndexManifest(spark, table, v)))
      .getOrElse(Nil)
    import spark.implicits._
    // (pj, khash) -> bucket from the index, read on executors
    val priorAssign: DataFrame =
      if (prior.isEmpty)
        Seq.empty[(String, Int, Int)].toDF("__pj", "__khash", "__bucket")
      else {
        val confB = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        spark.sparkContext.parallelize(
            prior.map(e => (e.partition, e.bucket, e.fileName)),
            math.min(prior.size, 32))
          .flatMap { case (pj, b, file) =>
            val p = new Path(s"${PaimonRead.dataRoot(table)}/index/$file")
            readHashFile(p.getFileSystem(confB.value.value), p)
              .iterator.map(h => (pj, h, b))
          }.toDF("__pj", "__khash", "__bucket")
      }
    val batchKeys = withKey.select(col("__pj"), col("__khash")).distinct()
    // join SHAPE matters at scale: the steady-state upsert has a batch
    // ≪ index, so broadcast the batch keys and stream the index ONCE
    // through a broadcast-hash join (no index shuffle), leaving
    // batch-scale frames for everything downstream. Two guards keep
    // the INITIAL-ingest shape sane: an EMPTY prior index means every
    // key is new — skip the lookup join entirely (the "batch" there is
    // the whole table, and broadcasting it buys nothing); past
    // `broadcastKeyLimit` distinct keys (a bulk backfill, not an
    // upsert) fall back to a shuffle join — a billion-key batch must
    // never ride the driver as a broadcast.
    // dropDuplicates is defensive (the full-state manifest holds one
    // bucket per hash; a duplicate would fan out the data join).
    import org.apache.spark.sql.functions.broadcast
    val broadcastKeyLimit = spark.conf
      .getOption("spark.graft.paimon.dynamicBucket.broadcastKeyLimit")
      .map(_.toLong).getOrElse(1000000L)
    val looked =
      if (prior.isEmpty)
        // no extra count/cache of the key set: the initial ingest is
        // the LARGEST batch this method ever sees, and its "lookup"
        // is a constant null column
        batchKeys.withColumn("__bucket", lit(null).cast("integer"))
          .persist()
      else {
        val bk = batchKeys.persist()
        val probe =
          if (bk.count() <= broadcastKeyLimit) broadcast(bk)
          else bk
        val hit = priorAssign
          .join(probe, Seq("__pj", "__khash"), "left_semi")
          .dropDuplicates("__pj", "__khash")
        val lk = bk.join(hit, Seq("__pj", "__khash"), "left").persist()
        lk.count() // materialize before releasing the key cache
        bk.unpersist()
        lk
      }
    looked.count() // ONE index read, shared by every branch below
    // NEW keys assign DISTRIBUTED: rank within partition by hash (one
    // window shuffle — deterministic), ranks fill the partition's tail
    // bucket to target, then open `target`-sized buckets. The driver
    // holds only O(partitions) tail state; a 16M-key base ingest never
    // materializes keys driver-side.
    val tailState: Map[String, (Int, Long)] = prior
      .groupBy(_.partition).map { case (pj, es) =>
        val counts = es.groupBy(_.bucket).view
          .mapValues(_.map(_.rowCount).sum).toMap
        val mb = counts.keys.max
        pj -> (mb, counts(mb))
      }
    val stB = spark.sparkContext.broadcast(tailState)
    val tgt = targetRows
    val assignNew = udf((pj: String, r: Long) => {
      val (mb, tc) = stB.value.getOrElse(pj, (-1, 0L))
      val cap = if (mb >= 0 && tc < tgt) tgt - tc else 0L
      if (mb >= 0 && r < cap) mb
      else (mb + 1 + (r - cap) / tgt).toInt
    })
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pj")).orderBy(col("__khash"))
    val newAssigned = looked.filter(col("__bucket").isNull)
      .select(col("__pj"), col("__khash"))
      .withColumn("__r",
        org.apache.spark.sql.functions.row_number().over(wnd)
          .cast("long") - 1)
      .withColumn("__bucket", assignNew(col("__pj"), col("__r")))
      .drop("__r")
    val assigned = looked.filter(col("__bucket").isNotNull)
      .unionByName(newAssigned)
    val out = withKey.join(assigned, Seq("__pj", "__khash"))
    // index delta: the new hashes per changed bucket — O(new keys)
    // ints through the driver, the same order as the manifest write
    import org.apache.spark.sql.functions.collect_list
    val delta: Map[(String, Int), Seq[Int]] = newAssigned
      .groupBy(col("__pj"), col("__bucket"))
      .agg(collect_list(col("__khash")).as("hs"))
      .as[(String, Int, Seq[Int])].collect()
      .map { case (pj, b, hs) => (pj, b) -> hs }.toMap
    (out, delta, looked)
  }

  /** Write the post-commit hash files and return the commit's FULL
    * index state: changed (partition, bucket) groups get a rewritten
    * hash file `index-<uuid>-<i>` (old ∪ new hashes); unchanged HASH
    * entries and all non-HASH (deletion-vector) entries carry forward. */
  def writeIndex(spark: SparkSession, table: String,
      priorManifest: Option[String],
      delta: Map[(String, Int), Seq[Int]]): PaimonWrite.IndexState = {
    val f = PaimonRead.fs(spark, table)
    val old = priorManifest
      .map(n => PaimonDv.readIndexManifest(spark, table, n)).getOrElse(Nil)
    val oldHash = old.filter(_.indexType == IndexType)
    val others = old.filterNot(_.indexType == IndexType)
    val oldByKey = oldHash.map(e =>
      (hex.formatHex(e.partitionBytes), e.bucket) -> e).toMap
    val changedKeys = delta.keySet
    val kept = oldHash.filterNot(e => changedKeys.contains(
      (hex.formatHex(e.partitionBytes), e.bucket)))
    val uid = java.util.UUID.randomUUID().toString
    val rewritten = delta.toSeq.sortBy(_._1.toString).zipWithIndex.map {
      case (((pj, bucket), newHashes), i) =>
        val oldHashes: Seq[Int] = oldByKey.get((pj, bucket))
          .map(e => readHashFile(f,
            new Path(s"${PaimonRead.dataRoot(table)}/index/${e.fileName}")).toSeq)
          .getOrElse(Nil)
        val all = oldHashes ++ newHashes
        val name = s"index-$uid-$i"
        val path = new Path(s"${PaimonRead.dataRoot(table)}/index/$name")
        writeHashFile(f, path, all)
        PaimonDv.IndexEntry(0, hex.parseHex(pj), bucket, IndexType,
          name, f.getFileStatus(path).getLen, all.size.toLong, Nil)
    }
    PaimonWrite.IndexState(others ++ kept, rewritten)
  }
}
