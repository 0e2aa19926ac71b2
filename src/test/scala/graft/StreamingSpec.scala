package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams

/** Structured Streaming behaves like batch on the same transforms —
  * the incremental-MV / routine-load story (SURVEY.md §2.10): file
  * drops consumed with AvailableNow, watermarked windows, streaming
  * dedup, and an incremental-MV parquet writer. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  /** Copy the events table into a stream-watch dir as two "drops". */
  private def stage(dir: String): Unit = {
    val e = Tables.load(spark, sf, "events")
    e.filter($"event_id" % 2 === 0).write.parquet(s"$dir/drop1")
    e.filter($"event_id" % 2 === 1).write.parquet(s"$dir/drop2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // flatten parquet part files into the watch dir
    Seq("drop1", "drop2").foreach { d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$d"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(s"$dir/$d-$i.parquet"))
        }
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$d"), true)
    }
  }

  private def runStream(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      outputMode: String = "append"): org.apache.spark.sql.DataFrame = {
    val dir = tmp()
    stage(dir)
    val schema = Tables.load(spark, sf, "events").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = transform(stream).writeStream
      .format("memory")
      .queryName("stream_out_" + System.nanoTime())
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    Streams.runToEnd(spark, 120000)(q)
    spark.table(q.name)
  }

  test("streaming tumbling agg equals batch tumbling agg") {
    val streamed = runStream(df => Streams.tumblingAgg(df), "append")
      .orderBy($"wstart", $"event_type")
    val batch = Streams.tumblingAgg(Tables.load(spark, sf, "events"))
      .orderBy($"wstart", $"event_type")
    // append mode with watermark emits only windows closed by the
    // final watermark; every emitted row must match batch exactly
    val b = batch.collect().map(_.toString).toSet
    val s = streamed.collect().map(_.toString).toSet
    assert(s.nonEmpty, "stream emitted nothing")
    assert(s.subsetOf(b), s"stream rows not in batch: ${s -- b}")
    // and it must cover all but the last watermark-open hour(s)
    assert(s.size >= b.size - 25, s"stream emitted ${s.size} of ${b.size} windows")
  }

  test("streaming session windows emit closed sessions matching batch") {
    val streamed = runStream(df => Streams.sessionAgg(df), "append")
    val batch = Streams.sessionAgg(Tables.load(spark, sf, "events"))
    val b = batch.collect().map(_.toString).toSet
    val s = streamed.collect().map(_.toString).toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b), s"stream session rows not in batch: ${(s -- b).take(3)}")
  }

  test("streaming dedup drops duplicate keys") {
    val dir = tmp()
    stage(dir)
    // duplicate the drops → every event appears twice
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
        new org.apache.hadoop.fs.Path(dir + "/copy-" + f.getPath.getName),
        false, spark.sparkContext.hadoopConfiguration)
    }
    val schema = Tables.load(spark, sf, "events").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.streamingDedup(stream, Seq("event_id")).writeStream
      .format("memory").queryName("dedup_out_" + System.nanoTime())
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.runToEnd(spark, 120000)(q)
    val n = spark.table(q.name).count()
    assert(n === Tables.load(spark, sf, "events").count())
  }

  test("retractable min/max state: final updates match batch min/max per key") {
    val dir = tmp()
    stage(dir)
    val schema = Tables.load(spark, sf, "events").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.retractableMinMax(stream, "user_id", "value")
      .toDF("user_id", "mn", "mx", "n")
      .writeStream.format("memory").queryName("retract_out_" + System.nanoTime())
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    Streams.runToEnd(spark, 120000)(q)
    // latest update per key (state evolves across micro-batches; the
    // memory sink keeps every update — last one wins)
    val latest = spark.table(q.name)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"n".desc)))
      .filter($"rn" === 1)
      .select($"user_id", $"mn", $"mx", $"n")
    val batch = Tables.load(spark, sf, "events")
      .groupBy($"user_id".cast("long").as("user_id"))
      .agg(min($"value").as("mn"), max($"value").as("mx"), count(lit(1)).as("n"))
    val l = latest.collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    val b = batch.collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(l.keySet === b.keySet)
    assert(l === b, "stateful min/max diverged from batch")
  }

  test("incremental MV writer produces a queryable parquet table") {
    val dir = tmp()
    stage(dir)
    val out = tmp() + "/mv"
    val ckpt = tmp() + "/ckpt"
    val schema = Tables.load(spark, sf, "events").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.mvWriter(Streams.tumblingAgg(stream), out, ckpt).start()
    Streams.runToEnd(spark, 120000)(q)
    val mv = spark.read.parquet(out)
    assert(mv.count() > 0)
    assert(mv.columns.toSet === Set("wstart", "event_type", "n", "total"))
  }

  test("stream-stream join: watermarked purchase⋈signup equals batch join") {
    // reference STREAM_JOIN node (PlanNodes.thrift STREAM_JOIN_NODE):
    // two event streams joined on key within a time bound
    val dir = tmp()
    stage(dir)
    val schema = Tables.load(spark, sf, "events").schema
    def side(df: org.apache.spark.sql.DataFrame, kind: String, idAs: String) =
      df.filter($"event_type" === kind)
        .select($"user_id".as(s"${idAs}_uid"), $"ts".as(s"${idAs}_ts"), $"event_id".as(idAs))
        .withWatermark(s"${idAs}_ts", "1 hour")
    val stream = spark.readStream.schema(schema).parquet(dir)
    val joined = side(stream, "purchase", "p")
      .join(side(stream, "signup", "s"),
        expr("p_uid = s_uid AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 1 DAY"))
    val q = joined.select($"p", $"s").writeStream
      .format("memory").queryName("ssj_out_" + System.nanoTime())
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.runToEnd(spark, 120000)(q)
    val got = spark.table(q.name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = Tables.load(spark, sf, "events")
    val batch = side(e, "purchase", "p").join(side(e, "signup", "s"),
      expr("p_uid = s_uid AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 1 DAY"))
      .select($"p", $"s").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "stream-stream join emitted nothing")
    // append-mode stream join may hold back pairs near the final
    // watermark; everything it DID emit must be correct, and coverage
    // must be essentially complete
    assert(got.subsetOf(batch), s"stream join produced wrong pairs: ${(got -- batch).take(3)}")
    assert(got.size >= (batch.size * 0.9).toInt, s"stream join too incomplete: ${got.size}/${batch.size}")
  }

  test("streaming corpus chunking equals batch chunking (stateless transform)") {
    // TextAnalysis.chunk is pure narrow Column work (split + explode),
    // so the SAME operator runs over a stream — corpus prep as
    // continuous ingest, the round-2 pipeline meeting routine load
    import graft.operators.TextAnalysis
    val dir = tmp()
    val docs = Tables.load(spark, sf, "documents").filter($"doc_id" < 200)
    docs.coalesce(1).write.parquet(s"$dir/stage")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage"))
      .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        fs.rename(f.getPath, new org.apache.hadoop.fs.Path(s"$dir/docs-$i.parquet"))
      }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stage"), true)

    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val sinkName = "chunks_" + System.nanoTime()
    val q = TextAnalysis.chunk(stream, "doc_id", "text", 40, 8).writeStream
      .format("memory").queryName(sinkName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.runToEnd(spark, 120000)(q)
    val streamed = spark.table(sinkName)
      .collect().map(_.toString).sorted
    val batch = TextAnalysis.chunk(docs, "doc_id", "text", 40, 8)
      .collect().map(_.toString).sorted
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming PII scrub + quality filter equals the batch pipeline") {
    // piiScrub and the scalar quality metrics are stateless Column
    // work, so the release-gate (scrub → filter) runs unchanged over a
    // stream — continuous corpus cleaning at ingest
    import graft.operators.TextAnalysis
    val dir = tmp()
    val docs = Tables.load(spark, sf, "documents").filter($"doc_id" < 200)
      .withColumn("text", when($"doc_id" % 4 === 0,
        concat($"text", lit(" leak bob@example.com now"))).otherwise($"text"))
    docs.coalesce(1).write.parquet(s"$dir/stage")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage"))
      .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        fs.rename(f.getPath, new org.apache.hadoop.fs.Path(s"$dir/docs-$i.parquet"))
      }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stage"), true)

    def clean(df: org.apache.spark.sql.DataFrame) = df.select(
        $"doc_id", TextAnalysis.piiScrub($"text").as("text"))
      .filter(TextAnalysis.qualityScore($"text") >= 0.3)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val sinkName = "scrubbed_" + System.nanoTime()
    val q = clean(stream).writeStream
      .format("memory").queryName(sinkName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.runToEnd(spark, 120000)(q)
    val streamed = spark.table(sinkName).collect().map(_.toString).sorted
    val batch = clean(docs).collect().map(_.toString).sorted
    assert(streamed.toSeq === batch.toSeq)
    assert(!streamed.mkString.contains("bob@example.com"), "PII leaked through the stream")
  }

  test("tolerant CSV load fails above max_filter_ratio") {
    val e = Tables.load(spark, sf, "events").limit(100)
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
    val out = tmp() + "/csv"
    graft.sources.Formats.writeCsv(e, out)
    // 30+ malformed rows on ~100 good ones >> 5% tolerance
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/zz-bad.csv"),
      (0 to 30).map(i => s"bad_$i,x,,,").mkString("\n"))
    val ex = intercept[IllegalStateException] {
      graft.sources.Formats.readCsvTolerant(spark, out, e.schema, maxFilterRatio = 0.05).count()
    }
    assert(ex.getMessage.contains("max_filter_ratio"))
  }

  test("upsert sink: routine load into a PRIMARY table, exactly-once across restart") {
    val watch = tmp()
    val tableDir = tmp() + "/pk_table"
    val ckpt = tmp() + "/ckpt"
    val e = Tables.load(spark, sf, "events")
      .select($"user_id", $"event_id".as("v"), $"value")
    val schema = e.schema

    // drop 1: first half of events
    e.filter($"v" % 2 === 0).coalesce(1).write.parquet(s"$watch/d1")
    def flatten(): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(watch))
        .filter(_.isDirectory).foreach { d =>
          fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
            .zipWithIndex.foreach { case (f, i) =>
              fs.rename(f.getPath, new org.apache.hadoop.fs.Path(
                s"$watch/${d.getPath.getName}-$i.parquet"))
            }
          fs.delete(d.getPath, true)
        }
    }
    flatten()
    def runOnce(): Unit = {
      val q = Streams.upsertSink(
        spark.readStream.schema(schema).parquet(watch),
        Seq("user_id"), "v", tableDir, ckpt)
      Streams.runToEnd(spark, 120000)(q)
    }
    runOnce()
    val afterFirst = spark.read.parquet(tableDir).count()
    assert(afterFirst > 0)

    // RESTART with the same checkpoint and no new files → no change
    runOnce()
    assert(spark.read.parquet(tableDir).count() === afterFirst, "replay was not idempotent")

    // drop 2: the other half (overlapping keys — upsert, latest v wins)
    e.filter($"v" % 2 === 1).coalesce(1).write.parquet(s"$watch/d2")
    flatten()
    runOnce()

    val got = spark.read.parquet(tableDir)
      .select($"user_id", $"v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = e.groupBy($"user_id").agg(max($"v").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected, "upsert table diverged from batch latest-version-per-key")
  }

  test("lake upsert sink: redelivery and out-of-order batches converge") {
    val watch = tmp()
    val tableDir = tmp() + "/lake_table"
    val e = Tables.load(spark, sf, "events")
      .select($"user_id", $"event_id".as("v"), $"value").limit(2000)
    val schema = e.schema
    e.filter($"v" % 2 === 1).coalesce(1).write.parquet(s"$watch/in") // NEWER half first
    def runOnce(ckpt: String): Unit = {
      val q = Streams.lakeUpsertSink(
        spark.readStream.schema(schema).parquet(s"$watch/in"),
        Seq("user_id"), "v", tableDir, ckpt)
      Streams.runToEnd(spark, 120000)(q)
    }
    runOnce(tmp() + "/c1")
    val v1 = graft.sources.Lake.currentVersion(spark, tableDir)
    assert(v1 >= 1)
    // FULL REDELIVERY (fresh checkpoint, same input): table state and
    // row count unchanged — the version guard makes replay a no-op
    val before = graft.sources.Lake.read(spark, tableDir)
      .select($"user_id", $"v").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    runOnce(tmp() + "/c2")
    val after = graft.sources.Lake.read(spark, tableDir)
      .select($"user_id", $"v").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === before, "redelivered batch changed the table")
    // LATE batch with OLDER versions: must not clobber newer rows
    e.filter($"v" % 2 === 0).coalesce(1).write.parquet(s"$watch/in2")
    val q2 = Streams.lakeUpsertSink(
      spark.readStream.schema(schema).parquet(s"$watch/in2"),
      Seq("user_id"), "v", tableDir, tmp() + "/c3")
    Streams.runToEnd(spark, 120000)(q2)
    val got = graft.sources.Lake.read(spark, tableDir)
      .select($"user_id", $"v").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = e.groupBy($"user_id").agg(max($"v").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected, "out-of-order apply diverged from latest-version-per-key")
  }

  test("routine load resumes from the offset ledger exactly-once after a mid-stream kill") {
    import graft.streaming.RoutineLoad
    val base = tmp()
    val e = Tables.load(spark, sf, "events")
      .select($"event_id", $"user_id", $"value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"partition").orderBy($"event_id")
    e.withColumn("partition", pmod($"user_id", lit(3)).cast("int"))
      .withColumn("offset", row_number().over(w).cast("long"))
      .write.parquet(s"$base/log")
    val log = spark.read.parquet(s"$base/log")
    val total = log.count()
    val ledger = s"$base/ledger.json"
    val target = s"$base/target"
    val per = math.max(10L, total / 9).toInt
    val strip = (df: org.apache.spark.sql.DataFrame) => df.drop("partition", "offset")

    // batch 1 commits
    val after1 = RoutineLoad.step(log, target, ledger, per, strip).get
    assert(RoutineLoad.readLedger(spark, ledger) === after1)
    // batch 2 crashes AFTER the sink write, BEFORE the ledger commit
    intercept[IllegalStateException] {
      RoutineLoad.step(log, target, ledger, per, strip, failBeforeCommit = true)
    }
    assert(RoutineLoad.readLedger(spark, ledger) === after1,
      "crash must not advance the ledger")
    // restart: the replayed batch overwrites its own deterministic dir,
    // then the drain completes
    val finalOffsets = RoutineLoad.runToCompletion(log, target, ledger, per, strip)
    val maxOffsets = log.groupBy($"partition").agg(max($"offset").as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(finalOffsets === maxOffsets, "ledger must land on the log's max offsets")

    val loaded = RoutineLoad.readTarget(spark, target)
    assert(loaded.count() === total, "row count drifted (lost or duplicated batch)")
    assert(loaded.select($"event_id").distinct().count() === total,
      "duplicate event_ids — replay was not idempotent")
  }

  test("streaming clamped balance equals the batch recurrence operator") {
    // chronological drops: balances must carry state ACROSS micro-batches
    val dir = tmp()
    val e = Tables.load(spark, sf, "events")
      .filter($"event_type".isin("purchase", "error"))
    val cut = e.selectExpr("percentile(unix_micros(ts), 0.5)").head.getDouble(0)
    e.filter(unix_micros($"ts") <= cut).coalesce(1).write.parquet(s"$dir/d1")
    e.filter(unix_micros($"ts") > cut).coalesce(1).write.parquet(s"$dir/d2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("d1", "d2").foreach { d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$d"))
        .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, i) =>
            fs.rename(f.getPath, new org.apache.hadoop.fs.Path(s"$dir/$d-$i.parquet"))
        }
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$d"), true)
    }
    val schema = e.schema
    val delta = when($"event_type" === "purchase", $"value").otherwise(-$"value")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // force one drop per micro-batch
      .parquet(dir)
    val q = Streams.clampedBalance(stream, delta, 0.0, 300.0)
      .toDF("user_id", "event_id", "balance")
      .writeStream.format("memory").queryName("clamp_out_" + System.nanoTime())
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.runToEnd(spark, 120000)(q)
    val got = spark.table(q.name).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val batch = graft.plans.BoundedAccumulate.boundedRunningSum(
        e.select($"user_id", $"ts", $"event_id", delta.as("delta")),
        Seq("user_id"), Seq("ts", "event_id"), "delta", 0.0, 300.0)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(got.size === batch.size)
    assert(got === batch, "streaming state diverged from the batch recurrence")
  }
}
