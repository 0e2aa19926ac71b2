package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.sources.{DeltaRead, Lake, PaimonRead}

/** STRUCTURED STREAMING sources over table-format change feeds —
  * `spark.readStream.format("graft-lake-cdc" | "graft-paimon-cdc" |
  * "graft-delta-cdc").option("table", path).load()` yields the
  * table's columns plus `__change_type` (insert/delete) and
  * `__commit_version`, in the [[graft.sources.Lake.changes]]
  * retraction contract.
  *
  * This is the engine-native equivalent of the reference's
  * incremental-MV/routine-load ingestion: offsets are TABLE VERSIONS
  * (lake versions / paimon snapshot ids / delta versions), a
  * micro-batch covers `(startOffset, endOffset]` commits, and the
  * checkpoint's offset log makes the subscription exactly-once across
  * restarts with NO side ledger — unlike [[ChangeFeed.poll]] (the
  * poll-style consumer), the streaming runtime itself replays and
  * advances versions.
  *
  * Options: `table`/`path`; `startingVersion` (default: emit the
  * initial snapshot as inserts, then tail; set to the current version
  * to tail only).
  *
  * Scale shape: each micro-batch plans the manifest/log-derived
  * change feed for its version window — O(touched files) per commit,
  * never table-sized; the derived batch plan rides to the runtime as
  * its (lazy, distributed) planned RDD via [[StreamBridge]], the
  * v1-source contract for plans with batch leaves. */
private[streaming] abstract class VersionedCdcSource(
    spark: SparkSession) extends Source {

  protected def startingVersion: Long
  protected def currentVersion(): Long
  /** The feed for `(from, to]`, already in this source's schema's
    * column order. */
  protected def batchDf(from: Long, to: Long): DataFrame

  private def ver(o: OffsetV1): Long = o.json.trim.toLong

  override def getOffset: Option[OffsetV1] = {
    val v = currentVersion()
    if (v <= startingVersion) None else Some(LongOffset(v))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val df = batchDf(start.map(ver).getOrElse(startingVersion), ver(end))
    StreamBridge.streamingDataFrame(spark, df.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

private[streaming] abstract class CdcProvider
    extends StreamSourceProvider with DataSourceRegister {
  protected def cdcSchema(spark: SparkSession, table: String): StructType
  protected def source(spark: SparkSession, table: String,
      startingVersion: Option[Long]): Source

  protected def tableOf(parameters: Map[String, String]): String =
    parameters.get("table").orElse(parameters.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"${shortName()} needs .option(\"table\", <table path>)"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), schema.getOrElse(
      cdcSchema(ctx.sparkSession, tableOf(parameters))))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    source(ctx.sparkSession, tableOf(parameters),
      parameters.get("startingVersion").map(_.toLong))
}

// ---- native lake ------------------------------------------------------

class LakeCdcSource(spark: SparkSession, table: String,
    val startingVersion: Long) extends VersionedCdcSource(spark) {

  override val schema: StructType = LakeCdcSource.cdcSchema(spark, table)

  override protected def currentVersion(): Long =
    Lake.currentVersion(spark, table).toLong

  override protected def batchDf(from: Long, to: Long): DataFrame =
    LakeCdcSource.changesFrom(spark, table, from, to, schema)
}

object LakeCdcSource {
  /** The feed's schema: the table's CURRENT logical columns + the
    * retraction-contract markers. */
  def cdcSchema(spark: SparkSession, table: String): StructType =
    StructType(Lake.read(spark, table).schema.fields.toSeq :+
      StructField("__change_type", StringType, nullable = false) :+
      StructField("__commit_version", IntegerType, nullable = false))

  /** Changes in `(from, to]`; `from = 0` prepends the v1 snapshot as
    * inserts (Lake.changes walks from v1 forward, so the initial
    * image needs one snapshot read). Column order pinned to `schema`. */
  private[streaming] def changesFrom(spark: SparkSession, table: String,
      from: Long, to: Long, schema: StructType): DataFrame = {
    val cols = schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq
    val initial =
      if (from > 0) None
      else Some(Lake.read(spark, table, versionAsOf = Some(1))
        .withColumn("__change_type", lit("insert"))
        .withColumn("__commit_version", lit(1)))
    val tail =
      if (to <= math.max(from, 1L)) None
      else Some(Lake.changes(spark, table, math.max(from, 1L).toInt, to.toInt))
    (initial.toSeq ++ tail.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(_.select(cols: _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }
}

/** `format("graft-lake-cdc")` registration (META-INF services) —
  * also reachable by full class name. */
class LakeCdcSourceProvider extends CdcProvider {
  override def shortName(): String = "graft-lake-cdc"
  override protected def cdcSchema(spark: SparkSession, table: String) =
    LakeCdcSource.cdcSchema(spark, table)
  override protected def source(spark: SparkSession, table: String,
      startingVersion: Option[Long]): Source =
    new LakeCdcSource(spark, table, startingVersion.getOrElse(0L))
}

// ---- paimon -----------------------------------------------------------

/** Paimon feed: offsets are SNAPSHOT ids. `PaimonRead.changes(0, to)`
  * already includes snapshot 1's rows as inserts, so no separate
  * initial-image read; changelog-producer tables serve ready-made
  * change files, others derive (COMPACT commits contribute nothing). */
class PaimonCdcSource(spark: SparkSession, table: String,
    val startingVersion: Long) extends VersionedCdcSource(spark) {

  override val schema: StructType = PaimonCdcSource.cdcSchema(spark, table)

  override protected def currentVersion(): Long =
    PaimonRead.latestSnapshotId(spark, table)

  override protected def batchDf(from: Long, to: Long): DataFrame = {
    val cols = schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq
    if (to <= from) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else PaimonRead.changes(spark, table, from, to).select(cols: _*)
  }
}

object PaimonCdcSource {
  def cdcSchema(spark: SparkSession, table: String): StructType =
    StructType(PaimonRead.read(spark, table).schema.fields.toSeq :+
      StructField("__change_type", StringType, nullable = false) :+
      StructField("__commit_version", LongType, nullable = false))
}

class PaimonCdcSourceProvider extends CdcProvider {
  override def shortName(): String = "graft-paimon-cdc"
  override protected def cdcSchema(spark: SparkSession, table: String) =
    PaimonCdcSource.cdcSchema(spark, table)
  override protected def source(spark: SparkSession, table: String,
      startingVersion: Option[Long]): Source =
    new PaimonCdcSource(spark, table, startingVersion.getOrElse(0L))
}

// ---- delta ------------------------------------------------------------

/** Delta feed: offsets are DELTA VERSIONS (first commit is version 0,
  * so "from the beginning" is startingVersion = -1: the v0 snapshot
  * prepends as inserts, then `changesCdf` — CDF files when present,
  * derivation otherwise — covers (0, to]). */
class DeltaCdcSource(spark: SparkSession, table: String,
    val startingVersion: Long) extends VersionedCdcSource(spark) {

  override val schema: StructType = DeltaCdcSource.cdcSchema(spark, table)

  override protected def currentVersion(): Long = {
    // a checkpoint-only log (all covered JSON commits vacuumed —
    // exactly what a V2 DeltaWrite.checkpoint leaves behind) has no JSON
    // versions; the newest checkpoint IS the table version then,
    // mirroring replay()'s upTo resolution.
    val vs = DeltaRead.versions(spark, table) ++
      DeltaRead.checkpointVersions(spark, table)
    require(vs.nonEmpty, s"no delta commits or checkpoints under $table")
    vs.max
  }

  override protected def batchDf(from: Long, to: Long): DataFrame = {
    val cols = schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq
    val initial =
      if (from >= 0) None
      else Some(DeltaRead.read(spark, table, versionAsOf = Some(0L))
        .withColumn("__change_type", lit("insert"))
        .withColumn("__commit_version", lit(0L)))
    val tail =
      if (to <= math.max(from, 0L)) None
      else Some(DeltaRead.changesCdf(spark, table, math.max(from, 0L), to))
    (initial.toSeq ++ tail.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(_.select(cols: _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }
}

object DeltaCdcSource {
  def cdcSchema(spark: SparkSession, table: String): StructType =
    StructType(DeltaRead.read(spark, table).schema.fields.toSeq :+
      StructField("__change_type", StringType, nullable = false) :+
      StructField("__commit_version", LongType, nullable = false))
}

class DeltaCdcSourceProvider extends CdcProvider {
  override def shortName(): String = "graft-delta-cdc"
  override protected def cdcSchema(spark: SparkSession, table: String) =
    DeltaCdcSource.cdcSchema(spark, table)
  override protected def source(spark: SparkSession, table: String,
      startingVersion: Option[Long]): Source =
    new DeltaCdcSource(spark, table, startingVersion.getOrElse(-1L))
}
