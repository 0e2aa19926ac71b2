package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

/** Streaming ingest + incremental computation.
  *
  * Reference surface (SURVEY.md §2.10): Routine Load (continuous
  * Kafka → table micro-batches, `load/routineload/KafkaRoutineLoadJob
  * .java`), Stream Load (batch HTTP ingest), incremental MV refresh
  * (`catalog/MaterializedView.java:199-212`, STREAM_AGG plan nodes).
  *
  * Spark mapping: Structured Streaming end to end —
  *  - routine load ≡ `readStream` (kafka/file source) → `writeStream`
  *    into a parquet table with checkpointing (exactly-once to files);
  *  - incremental MV ≡ a streaming agg writing an AGG-keys table in
  *    update mode;
  *  - event-time windows + late data ≡ `window()`/`session_window()`
  *    with `withWatermark`.
  * These helpers keep the transforms identical between batch and
  * stream (same Column exprs), which is what makes the batch oracles
  * in `queries.Streaming` meaningful for the streaming path (tested in
  * StreamingSpec with Trigger.AvailableNow).
  */
object Streams {

  /** File-based routine-load: watch a directory of parquet drops. */
  def readTableStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    spark.readStream.schema(schema).parquet(s"$dir/${table}_stream/")
  }

  /** Tumbling-window event counts + value sums (event time, 1h). */
  def tumblingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total"))

  /** Session windows per user with a 30-minute gap. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("session_value"))
      .select(col("session_window.start").as("sstart"),
        col("session_window.end").as("send"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming dedup on the key alone with watermark-bounded state
    * (PRIMARY-key-table ingest semantics: first write wins within the
    * watermark). dropDuplicatesWithinWatermark keys on the PK only —
    * the same key at two different event times is still one row —
    * and evicts state once the watermark passes. */
  def streamingDedup(df: DataFrame, keys: Seq[String], watermark: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

  /** Retractable per-key min/max/count via explicit state — the
    * Structured-Streaming form of the reference's IVM retractable agg
    * states (`be/src/exprs/agg/stream/retract_maxmin.h`, STREAM_AGG
    * plan nodes): each micro-batch emits an UPDATED row per changed
    * key, so a downstream MV can overwrite by key rather than append.
    * State is bounded by key cardinality, not input size. */
  def retractableMinMax(events: DataFrame, keyCol: String, valueCol: String):
      org.apache.spark.sql.Dataset[(Long, Double, Double, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col(keyCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Double, Long), (Long, Double, Double, Long)](
        OM.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Double, Double, Long)]) =>
          val (mn0, mx0, n0) = state.getOption.getOrElse((Double.MaxValue, Double.MinValue, 0L))
          var (mn, mx, n) = (mn0, mx0, n0)
          rows.foreach { case (_, v) => mn = math.min(mn, v); mx = math.max(mx, v); n += 1 }
          if (n != n0) { state.update((mn, mx, n)); Iterator((key, mn, mx, n)) }
          else Iterator.empty
      }
  }

  /** Streaming double-bounded running balance — the streaming twin of
    * the `BoundedAccumulate` physical operator (plans/): identical
    * `clamp(b + x, lo, hi)` recurrence, carried across micro-batches
    * as 8 bytes of per-key state. Rows are applied in (ts, event_id)
    * order WITHIN each micro-batch, so with chronological ingestion
    * (a log tail — the routine-load contract) the emitted per-event
    * balances equal the batch operator exactly
    * (StreamingSpec proves streaming ≡ batch). */
  def clampedBalance(events: DataFrame, deltaCol: Column,
      lo: Double, hi: Double): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"),
        col("event_id").cast("long"), unix_micros(col("ts")),
        deltaCol.cast("double")).as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Long, Double)](
        OM.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Double]) =>
          var bal = state.getOption.getOrElse(0.0)
          val out = rows.toSeq.sortBy(r => (r._3, r._2)).map { r =>
            bal = math.min(hi, math.max(lo, bal + r._4)); (key, r._2, bal)
          }
          state.update(bal)
          out.iterator
      }
  }

  /** Routine-load → PRIMARY-keys table: continuous upsert sink with
    * exactly-once EFFECTIVE semantics across restarts.
    *
    * Reference: `load/routineload/KafkaRoutineLoadJob.java` — offsets
    * commit atomically with data so a replayed batch cannot double
    * apply. Spark shape: `foreachBatch` + checkpoint gives
    * at-least-once batch delivery with STABLE batch ids; the merge is
    * keyed (latest version per key wins), so re-applying the same
    * batch is a no-op — idempotent merge ⇒ exactly-once table state,
    * the same end guarantee as offsets-in-transaction. Batch rows are
    * deduped to one per key by versionCol before the merge.
    *
    * Scale: each micro-batch rewrites via copy-on-write merge (one
    * shuffle keyed on the PK); a real deployment partitions the table
    * so only touched partitions rewrite. */
  def upsertSink(stream: DataFrame, keys: Seq[String], versionCol: String,
      tableDir: String, checkpoint: String): StreamingQuery = {
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
        val deduped = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val existing = fs.exists(new org.apache.hadoop.fs.Path(tableDir))
        val merged =
          if (existing)
            graft.operators.KeysModels.mergeIntoVersioned(
              spark.read.parquet(tableDir), deduped, keys, versionCol)
          else deduped
        graft.operators.KeysModels.atomicOverwrite(merged, tableDir)
        ()
      }
      .start()
  }

  /** Streaming micro-batches into an ACID Lake table (the reference's
    * routine load landing in a PRIMARY-keys OLAP table): each batch
    * upserts via [[graft.sources.Lake.merge]] (copy-on-write, keyed),
    * so the sink inherits the lake's snapshot isolation, time travel,
    * and OCC. Exactly-once table state comes from the same argument as
    * [[upsertSink]]: checkpointed batch replay is at-least-once, but
    * the merge is version-aware per key (a source row only lands if
    * its versionCol is >= the key's current version), so re-applying a
    * batch — or applying an out-of-order late batch — converges to
    * the same state.
    *
    * Scale: per batch, one broadcast-keyed semi-join finds touched
    * files and only those rewrite; a partitioned table bounds the
    * rewrite to touched partitions. */
  def lakeUpsertSink(stream: DataFrame, keys: Seq[String], versionCol: String,
      table: String, checkpoint: String): StreamingQuery = {
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
        val deduped = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        if (graft.sources.Lake.currentVersion(spark, table) == 0) {
          graft.sources.Lake.write(deduped, table, Nil)
        } else {
          val cur = graft.sources.Lake.read(spark, table)
            .select((keys.map(col) :+ col(versionCol).as("__curv")): _*)
          // localCheckpoint: the guarded batch (O(batch rows)) is
          // consumed three times downstream (emptiness probe, merge's
          // key-set distinct, merge's union into the rewrite) — without
          // pinning, each consumer re-executes the read+join, tripling
          // the per-micro-batch work (guide §1/§5: don't recompute what
          // an action already materialized)
          val newer = deduped.join(cur, keys, "left")
            .filter(col("__curv").isNull || col(versionCol) >= col("__curv"))
            .drop("__curv")
            .localCheckpoint(true)
          if (!newer.isEmpty)
            graft.sources.Lake.merge(spark, table, newer, keys)
        }
        ()
      }
      .start()
  }

  /** Streaming micro-batches into an ACID Lake table through the
    * MERGE-ON-READ path — the reference's routine load landing in a
    * PRIMARY-key table exactly as the BE does it (append new
    * segments, delete-vector the replaced positions; no rewrite,
    * `be/src/storage/del_vector.cpp`): each batch is deduped to one
    * row per key (highest versionCol wins) and applied via
    * [[graft.sources.Lake.mergeMor]] with `mergeCondition =
    * versionCol`, so a replayed or out-of-order batch converges — an
    * older row than the key's current version is rejected WITHOUT
    * touching the target row's position.
    *
    * Scale: this is the sink shape that survives sustained ingest at
    * 100 TB — per batch the write cost is O(batch rows) (new files +
    * one position sidecar), where [[lakeUpsertSink]]'s copy-on-write
    * merge rewrites every touched file every batch. Compaction debt
    * is deferred to [[graft.sources.Lake.foldDeletes]] on the user's
    * schedule, exactly like the reference's background compaction
    * applying accumulated DelVecs. */
  def lakeMorUpsertSink(stream: DataFrame, keys: Seq[String],
      versionCol: String, table: String, checkpoint: String,
      maintain: Boolean = false): StreamingQuery = {
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
        val deduped = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        if (graft.sources.Lake.currentVersion(spark, table) == 0)
          graft.sources.Lake.write(deduped, table, Nil)
        else
          graft.sources.Lake.mergeMor(spark, table, deduped, keys,
            mergeCondition = Some(versionCol))
        // the reference's background compaction hook: pay small-file /
        // delete-vector debt only when the policy says it is real
        if (maintain) { graft.sources.Lake.maybeCompact(spark, table); () }
        ()
      }
      .start()
  }

  /** Incremental-MV writer: stream an aggregation into a parquet dir
    * in append mode per completed window (the Structured-Streaming
    * equivalent of an ASYNC incremental MV refresh). */
  def mvWriter(agg: DataFrame, outDir: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Start a query with `conf` set on the session and run it to its
    * end: throws when it has not terminated within `timeoutMs` (a
    * partial sink must not pass for a result), and always stops it
    * before the conf is restored. */
  def runToEnd(spark: SparkSession, timeoutMs: Long, conf: (String, String)*)(
      start: => StreamingQuery): Unit =
    graft.Engine.withConf(spark, conf: _*) {
      val q = start
      try {
        if (!q.awaitTermination(timeoutMs))
          throw new java.util.concurrent.TimeoutException(
            s"streaming query ${q.name} did not finish within $timeoutMs ms")
      } finally q.stop()
    }
}
