package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MaterializedViews
import graft.sources.Lake

/** One benchmark run of graft, driven through its public functions only.
  *
  * Usage: `Harness <plan.json> <result.json>`. The plan (written by
  * `run.py` from the workload seed) names the mode and every input:
  *  - `queries`: untimed warm-up passes (the first one's results are
  *    kept for the DuckDB check), then timed passes in the planned order;
  *  - `ingest`: a fresh primary-key Lake table and its min/max MV, then
  *    load batches, each followed by the table's maintenance policy,
  *    one MV poll and one read-after-write aggregate.
  *
  * One client, closed loop: the next operation starts when the previous
  * one returns, until `seconds` have elapsed (the operation in progress
  * then completes). Every call into a layer is a span; with `trace` on,
  * listener counters are charged to the spans as well.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val spans = new Spans
    val counters = if (plan.get("trace").asBoolean) Some(new Counters) else None
    val spark = setup(plan, spans, counters)
    val body = plan.get("mode").asText match {
      case "queries" => queries(spark, plan, spans)
      case "ingest" => ingest(spark, plan, spans)
      case m => sys.error(s"unknown mode $m")
    }
    counters.foreach(_ => org.apache.spark.graftbench.Bus.drain(spark.sparkContext))
    val attributed = counters.map(_.attribute(spans.list)).getOrElse(Map.empty)
    val spanOut = spans.list.map { s =>
      val m = Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ms" -> s.ms)
      m.putAll(s.attrs)
      attributed.get(s.id).foreach(c => m.put("counters", c))
      m
    }
    body.put("spans", Json.list(spanOut))
    body.put("env", Json.obj(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "conf" -> {
        val m = new java.util.TreeMap[String, Any]()
        spark.conf.getAll.foreach { case (k, v) => m.put(k, v) }
        m
      }))
    body.put("peak_rss_kb", peakRssKb())
    Json.write(args(1), body)
    spark.stop()
  }

  private def setup(plan: JsonNode, spans: Spans, counters: Option[Counters]): SparkSession = {
    val dir = plan.get("run_dir").asText
    val spark = spans("session.configure") { _ =>
      graft.Engine.configure(SparkSession.builder().appName("graftbench"),
          plan.get("cores").asText)
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.hadoop.javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    spans.sc = Some(spark.sparkContext)
    counters.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
    }
    spans("session.prepare") { _ => graft.Session.prepare(spark) }
    spark
  }

  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  /** Timed window: `op(i)` for i = 0, 1, ... while it returns true and
    * `seconds` have not elapsed (the operation in progress completes). */
  private def timedLoop(plan: JsonNode)(op: Int => Boolean): Unit = {
    val deadline = System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline && op(i)) i += 1
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  private def queries(spark: SparkSession, plan: JsonNode, spans: Spans) = {
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val dir = plan.get("data_dir").asText
    val outDir = plan.get("run_dir").asText

    // one query through the gate body (building the DataFrame, which may
    // itself run jobs) and the final execution
    def run(name: String, timed: Boolean): Either[String, (Array[String], Array[Row])] =
      spans("op", "kind" -> "query", "label" -> name, "timed" -> timed) { op =>
        try {
          val df = spans("queries.body") { _ => all(name)(spark, dir) }
          Right((df.columns, spans("exec.run") { _ => df.collect() }))
        } catch {
          case e: Throwable =>
            op.attrs.put("error", errorText(e))
            Left(errorText(e))
        }
      }

    // every execution after the first must reproduce the first result
    val expected = scala.collection.mutable.Map[String, String]()
    val ops = new java.util.ArrayList[Any]()
    def rerun(name: String, timed: Boolean): Unit = {
      val res = run(name, timed)
      val same = res.exists(r => expected.get(name).contains(Json.fingerprint(r._2)))
      ops.add(Json.obj("name" -> name, "timed" -> timed, "same_result" -> same,
        "error" -> res.left.toOption.orNull))
    }

    // warm-up: the first execution of every query, whose results are
    // checked against DuckDB, then untimed passes until the JIT settles
    val first = spans("session.warmup") { _ =>
      val first = strings(plan.get("check_order")).map(n => n -> run(n, false))
      for ((n, Right((_, rows))) <- first) expected(n) = Json.fingerprint(rows)
      strings(plan.get("warm_order")).foreach(rerun(_, false))
      first
    }
    val readyMs = System.currentTimeMillis()
    val checks = Json.obj()
    for ((name, res) <- first) {
      val c = Json.obj("oracle" -> oracle.getOrElse(name, null))
      res match {
        case Right((cols, rows)) =>
          val f = s"$outDir/check_$name.json"
          Json.write(f, Json.obj("columns" -> Json.list(cols), "rows" -> Json.rows(rows)))
          c.put("rows_file", f)
        case Left(err) => c.put("error", err)
      }
      checks.put(name, c)
    }

    val order = strings(plan.get("timed_order")).toIndexedSeq
    timedLoop(plan) { i => rerun(order(i % order.size), true); true }
    Json.obj("ready_ms" -> readyMs, "checks" -> checks, "ops" -> ops)
  }

  private def ingest(spark: SparkSession, plan: JsonNode, spans: Spans) = {
    val in = plan.get("ingest")
    val outDir = plan.get("run_dir").asText
    val table = s"$outDir/lake/orders_pk"
    val mvDir = s"$outDir/lake/orders_mv"
    val ledger = s"$mvDir/cursor"
    val key = "o_orderkey"
    val group = (col(key) % 5).cast("int")
    val price = col("o_totalprice").cast("decimal(18,6)")
    val gv = (_: DataFrame) => (group, price)

    // fixture: the base table and the MV bootstrap (not part of set-up)
    spans("fixture") { _ =>
      Lake.write(spark.read.parquet(in.get("base").asText), table, Nil)
      MaterializedViews.maintainMinMaxMv(spark, table, mvDir, ledger, gv)
    }

    val dirs = Seq(Paths.get(table), Paths.get(mvDir))
    var known = listFiles(dirs)
    val batches = in.get("batches").elements.asScala.toSeq
    val ops = new java.util.ArrayList[Any]()

    def batch(i: Int, timed: Boolean): Unit = {
      val b = batches(i)
      val kind = b.get("op").asText
      val rec = Json.obj("batch" -> i, "op" -> kind, "rows" -> b.get("rows").asLong,
        "timed" -> timed)
      spans("op", "kind" -> "batch", "label" -> kind, "timed" -> timed) { op =>
        try {
          spans(s"lake.$kind") { _ =>
            kind match {
              case "merge_mor" =>
                Lake.mergeMor(spark, table, spark.read.parquet(b.get("path").asText), Seq(key))
              case "delete_mor" =>
                val keys = b.get("keys").elements.asScala.map(_.asLong).toSeq
                Lake.deleteMor(spark, table, col(key).isin(keys: _*))
              case "append" =>
                Lake.write(spark.read.parquet(b.get("path").asText), table, Nil, "append")
            }
          }
          val compacted = spans("lake.maybe_compact") { _ => Lake.maybeCompact(spark, table) }
          rec.put("compacted", compacted.isDefined)
          spans("mv.maintain") { _ =>
            MaterializedViews.maintainMinMaxMv(spark, table, mvDir, ledger, gv)
          }
          val agg = spans("lake.read") { _ =>
            val df = spans("queries.body") { _ =>
              Lake.read(spark, table).groupBy(group.as("g"))
                .agg(count(lit(1)).as("n"), sum(price).as("s"))
            }
            spans("exec.run") { _ => df.collect() }
          }
          rec.put("read", Json.rows(agg.sortBy(_.getInt(0))))
        } catch {
          case e: Throwable =>
            op.attrs.put("error", errorText(e))
            rec.put("error", errorText(e))
        }
      }
      // files the batch created under the table and MV directories
      val now = listFiles(dirs)
      val created = now.filter { case (p, _) => !known.contains(p) }
      rec.put("files_written", created.size)
      rec.put("bytes_written", created.values.sum)
      known = now
      ops.add(rec)
    }

    val warm = in.get("warm_batches").asInt
    spans("session.warmup") { _ => (0 until warm).foreach(batch(_, false)) }
    val readyMs = System.currentTimeMillis()
    timedLoop(plan) { i =>
      val more = warm + i < batches.size
      if (more) batch(warm + i, true)
      more
    }

    val finalDir = s"$outDir/final_table"
    Lake.read(spark, table).write.parquet(finalDir)
    val snap = Lake.readSnapshot(spark, table, Lake.currentVersion(spark, table))
    val mv = MaterializedViews.readMinMaxMv(spark, mvDir)
      .select(col("g"), col("n"), col("s").cast("string"), col("mn").cast("string"),
        col("mx").cast("string")).collect().sortBy(_.getInt(0))
    Json.obj("ready_ms" -> readyMs, "ops" -> ops, "final_table" -> finalDir,
      "mv" -> Json.rows(mv), "live_files" -> snap.files.size,
      "pending_dv_files" -> snap.dvFiles.size)
  }

  /** Regular files under the given directories, path -> bytes. */
  private def listFiles(dirs: Seq[Path]): Map[String, Long] =
    dirs.filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  private def peakRssKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}
