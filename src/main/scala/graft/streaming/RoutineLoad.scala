package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.AtomicPublish

/** Routine load with a seekable-offset ledger — the reference's Kafka
  * routine-load contract (`fe/.../load/routineload/KafkaRoutineLoadJob.java`,
  * `KafkaProgress.java`: per-partition committed offsets, consume from
  * the stored offset, exactly-once into the target table) demonstrated
  * against a seekable log the sandbox can host (no Kafka broker /
  * spark-sql-kafka jar offline — the SOURCE is file-shaped, the
  * OFFSET SEMANTICS are Kafka's).
  *
  * The log is any table with (partition INT, offset BIGINT, payload…)
  * where offsets are dense and strictly increasing per partition —
  * exactly a topic. Each `step`:
  *
  *  1. reads the LEDGER (per-partition committed offset; missing = -1);
  *  2. scans the log for `offset > committed`, capped at
  *     `maxPerPartition` rows per partition (the batch);
  *  3. writes the transformed batch to a target directory named BY THE
  *     BATCH'S START OFFSETS — deterministic, so a replay after a
  *     crash overwrites the same directory instead of duplicating
  *     (idempotent sink = exactly-once effect);
  *  4. commits the advanced ledger ONLY after the sink write succeeds,
  *     replacing it through [[AtomicPublish.replace]] (a reader sees the
  *     old or the new offsets, never a torn or missing ledger). A crash
  *     between 3 and 4 re-runs the batch from the same offsets on
  *     restart.
  *
  * Scale notes: the ledger is O(partitions) KBs; the log scan pushes
  * `offset > committed` into the source (seek, not replay); the batch
  * cap is a per-partition window over only the un-consumed tail.
  */
object RoutineLoad {

  /** Per-partition committed offsets; empty at first start. */
  def readLedger(spark: SparkSession, ledgerPath: String): Map[Int, Long] =
    AtomicPublish.read(spark, new Path(ledgerPath)).fold(Map.empty[Int, Long])(bytes =>
      graft.functions.JsonKernel.mapper
        .readValue(bytes, classOf[java.util.Map[String, Number]])
        .asScala.map { case (k, v) => k.toInt -> v.longValue() }.toMap)

  def commitLedger(spark: SparkSession, ledgerPath: String,
      offsets: Map[Int, Long]): Unit =
    AtomicPublish.replace(spark, new Path(ledgerPath),
      graft.functions.JsonKernel.mapper.writeValueAsBytes(
        offsets.map { case (k, v) => k.toString -> Long.box(v) }.asJava))

  /** One micro-batch. Returns the advanced offsets, or None when the
    * log is fully consumed. `failBeforeCommit` simulates a crash after
    * the sink write but before the ledger commit (test hook for the
    * resume proof). */
  def step(log: DataFrame, targetDir: String, ledgerPath: String,
      maxPerPartition: Int,
      transform: DataFrame => DataFrame = identity,
      failBeforeCommit: Boolean = false): Option[Map[Int, Long]] = {
    val spark = log.sparkSession
    val committed = readLedger(spark, ledgerPath)
    // seek: the ledger is O(partitions) KBs by contract, so the
    // committed offsets inline as a literal map evaluated IN the scan
    // filter — one log scan per step. (The old shape ran a separate
    // distinct() scan of the log plus a broadcast join per step, i.e.
    // two extra jobs per micro-batch just to attach a per-partition
    // scalar; partitions absent from the ledger default to -1.)
    val tail =
      if (committed.isEmpty) log
      else {
        val committedMap = map(committed.toSeq.flatMap {
          case (p, o) => Seq(lit(p), lit(o)) }: _*)
        log.filter(col("offset") >
          coalesce(element_at(committedMap, col("partition")), lit(-1L)))
      }
    val w = Window.partitionBy(col("partition")).orderBy(col("offset"))
    val batch = tail.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerPartition)
      .drop("__rn").localCheckpoint(true)

    val ends = batch.groupBy(col("partition")).agg(max(col("offset")).as("end"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (ends.isEmpty) return None

    // deterministic batch directory from the START offsets: a replayed
    // batch (crash between write and ledger commit) overwrites itself
    val startTag = committed.toSeq.sortBy(_._1)
      .map { case (p, o) => s"p$p-$o" }.mkString("_")
    val dirTag = if (startTag.isEmpty) "start" else startTag
    transform(batch)
      .write.mode("overwrite").parquet(s"$targetDir/batch-$dirTag")

    if (failBeforeCommit)
      throw new IllegalStateException("simulated crash before ledger commit")
    val advanced = committed ++ ends.map { case (p, e) =>
      p -> math.max(e, committed.getOrElse(p, -1L))
    }
    commitLedger(spark, ledgerPath, advanced)
    Some(advanced)
  }

  /** Drain the log: step until caught up. Returns committed offsets. */
  def runToCompletion(log: DataFrame, targetDir: String, ledgerPath: String,
      maxPerPartition: Int,
      transform: DataFrame => DataFrame = identity): Map[Int, Long] = {
    var last = readLedger(log.sparkSession, ledgerPath)
    var advanced = step(log, targetDir, ledgerPath, maxPerPartition, transform)
    while (advanced.isDefined) { last = advanced.get
      advanced = step(log, targetDir, ledgerPath, maxPerPartition, transform) }
    last
  }

  /** The loaded table: union of all committed batch directories. */
  def readTarget(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(s"$targetDir/batch-*")
}
