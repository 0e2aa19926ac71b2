package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{AiQuery, MaterializedViews}

/** MV incremental-refresh semantics and ai_query batching invariants
  * (the parts the DuckDB oracle can't see). */
class AdvancedSpec extends SparkSuite {

  test("column lineage traces unions and generators to their leaves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = table("lineitem").select(col("l_orderkey").as("k"),
      col("l_quantity").as("v"))
    val or = table("orders").select(col("o_orderkey").as("k"),
      col("o_totalprice").as("v"))
    val unioned = li.unionByName(or)
      .select(col("k"), explode(array(col("v"), col("v") * 2)).as("vv"))
    val lin = graft.plans.Lineage.columnLineage(unioned)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(lin === Set(
      ("k", "lineitem", "l_orderkey"), ("k", "orders", "o_orderkey"),
      ("vv", "lineitem", "l_quantity"), ("vv", "orders", "o_totalprice")))
  }
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-adv").toString

  test("incremental MV refresh processes only new drops via checkpoint") {
    val watch = tmp(); val base = tmp(); val ckpt = tmp()
    val e = Tables.load(spark, sf, "events")
    // append-safe (map-only) definition: purchases with derived column
    val mv = MaterializedViews.MvDef("purchases", df =>
      df.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", ($"value" * 2).as("v2")))

    e.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$watch/d1")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def flatten(d: String): Unit = {
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$watch/$d"))
        .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(s"$watch/$d-$i.parquet")) }
      fs.delete(new org.apache.hadoop.fs.Path(s"$watch/$d"), true)
    }
    flatten("d1")
    def stream = spark.readStream.schema(e.schema).parquet(watch)
    graft.streaming.Streams.runToEnd(spark, 120000)(
      MaterializedViews.refreshIncremental(stream, mv, base, ckpt))
    val afterFirst = MaterializedViews.read(spark, base, "purchases").count()

    e.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$watch/d2")
    flatten("d2")
    graft.streaming.Streams.runToEnd(spark, 120000)(
      MaterializedViews.refreshIncremental(stream, mv, base, ckpt))
    val mvDf = MaterializedViews.read(spark, base, "purchases")

    val expected = mv.define(e)
    assert(mvDf.count() === expected.count(), "incremental MV missed or duplicated rows")
    assert(afterFirst < mvDf.count(), "second refresh added nothing")
    // spot-check content equality
    def total(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum($"v2".cast("decimal(18,6)"))).head.getDecimal(0)
    assert(total(mvDf) === total(expected))
  }

  test("saltedJoin equals plain join on planted skew; left_outer keeps unmatched once") {
    import graft.operators.Colocate
    // 90% of fact rows share one key
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "payload")
    val build = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty"), (999999L, "none"))
      .toDF("k", "name")
    val plain = fact.join(build, Seq("k")).groupBy($"name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Colocate.saltedJoin(fact, build, Seq("k"), salt = 8)
      .groupBy($"name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
    val lo = Colocate.saltedJoin(fact, build, Seq("k"), salt = 8, joinType = "left_outer")
    assert(lo.count() === fact.count(), "left_outer must keep every fact row exactly once")
    assert(lo.filter($"name".isNull).count() === fact.join(build, Seq("k"), "left_anti").count())
  }

  test("PCT refresh recomputes only stale partitions, drops removed ones") {
    val basePath = tmp(); val mvDir = tmp()
    val o = Tables.load(spark, sf, "orders")
      .withColumn("o_year", year($"o_orderdate"))
    o.write.partitionBy("o_year").parquet(s"$basePath/t")
    val mv = MaterializedViews.MvDef("rev_by_year", df =>
      df.groupBy($"o_year", $"o_orderpriority")
        .agg(sum($"o_totalprice".cast("decimal(18,6)")).cast("double").as("rev"),
          count(lit(1)).as("n")))

    val r1 = MaterializedViews.refreshPartitioned(spark, s"$basePath/t", "o_year", mv, mvDir)
    assert(r1.refreshed.nonEmpty && r1.unchanged === 0, s"first refresh must do all: $r1")

    // no change → all partitions skipped
    val r2 = MaterializedViews.refreshPartitioned(spark, s"$basePath/t", "o_year", mv, mvDir)
    assert(r2.refreshed.isEmpty && r2.removed.isEmpty && r2.unchanged === r1.refreshed.size, s"$r2")

    // files of an untouched MV partition must stay byte-identical
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val untouched = r1.refreshed.filterNot(_ == "1995").head
    def fileSnapshot(year: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$mvDir/rev_by_year/o_year=$year"))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1).toSeq
    val before = fileSnapshot(untouched)

    // append rows into ONE base partition → only it refreshes
    o.filter($"o_year" === 1995).limit(50)
      .write.mode("append").partitionBy("o_year").parquet(s"$basePath/t")
    val r3 = MaterializedViews.refreshPartitioned(spark, s"$basePath/t", "o_year", mv, mvDir)
    assert(r3.refreshed === Seq("1995"), s"expected only 1995 stale: $r3")
    assert(fileSnapshot(untouched) === before, "untouched MV partition was rewritten")

    // MV content equals a full recompute of the mutated base
    // partition column comes back last on read — normalize the order
    val cols = Seq("o_year", "o_orderpriority", "rev", "n").map(col)
    val got = MaterializedViews.read(spark, mvDir, "rev_by_year")
      .select(cols: _*).orderBy($"o_year", $"o_orderpriority").collect().map(_.toString)
    val want = mv.define(spark.read.parquet(s"$basePath/t"))
      .select(cols: _*).orderBy($"o_year", $"o_orderpriority").collect().map(_.toString)
    assert(got.toSeq === want.toSeq)

    // drop a base partition → refresh removes it from the MV
    fs.delete(new org.apache.hadoop.fs.Path(s"$basePath/t/o_year=$untouched"), true)
    val r4 = MaterializedViews.refreshPartitioned(spark, s"$basePath/t", "o_year", mv, mvDir)
    assert(r4.removed === Seq(untouched), s"$r4")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$mvDir/rev_by_year/o_year=$untouched")))
  }

  test("PCT refresh clears a stale partition whose recompute yields zero MV rows") {
    val basePath = tmp(); val mvDir = tmp()
    Seq((1, 10.0, "a"), (1, 20.0, "b"), (2, 30.0, "c")).toDF("y", "v", "tag")
      .write.partitionBy("y").parquet(s"$basePath/t")
    val mv = MaterializedViews.MvDef("small_v", d =>
      d.filter($"v" < 100).groupBy($"y").agg(sum($"v").as("sv")))
    MaterializedViews.refreshPartitioned(spark, s"$basePath/t", "y", mv, mvDir)
    assert(MaterializedViews.read(spark, mvDir, "small_v")
      .where($"y" === 2).count() === 1)

    // overwrite base partition y=2 with rows the define filters out
    // entirely: dynamic partition overwrite alone would leave the old
    // MV files in place while the manifest records the partition fresh
    Seq((500.0, "d")).toDF("v", "tag")
      .write.mode("overwrite").parquet(s"$basePath/t/y=2")
    val r = MaterializedViews.refreshPartitioned(spark, s"$basePath/t", "y", mv, mvDir)
    assert(r.refreshed === Seq("2"), s"$r")
    val after = MaterializedViews.read(spark, mvDir, "small_v")
    assert(after.where($"y" === 2).count() === 0,
      "stale partition with empty recompute must disappear from the MV")
    assert(after.where($"y" === 1).count() === 1, "sibling partition untouched")
  }

  test("ai_query output is independent of batch size and covers every row") {
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val r1 = AiQuery.aiQuery(docs, "text", batchSize = 1)
      .select($"doc_id", $"ai_response").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val r32 = AiQuery.aiQuery(docs, "text", batchSize = 32)
      .select($"doc_id", $"ai_response").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r1 === r32, "batch size changed responses")
    assert(r1.size === docs.count(), "missing rows")
    assert(r1.values.forall(_.startsWith("label_")))
  }

  test("RangeJoin equals the naive non-equi join and plans an equi join, not a nested loop") {
    import graft.operators.RangeJoin
    // deterministic pseudo-random points/intervals incl. negatives,
    // bin-boundary values, empty and inverted intervals
    val points = (1 to 400).map(i => (i.toLong, (i * 37 % 200) - 50.0)).toDF("pid", "v")
    val intervals = (1 to 60).map { i =>
      val lo = (i * 53 % 180) - 60.0
      val width = i % 7 match { case 0 => -5.0; case w => w * 9.0 } // some inverted
      (i.toLong, lo, lo + width)
    }.toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", 10.0)
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture produced no matches — test is vacuous")
    val plan = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join fell back to all-pairs:\n$plan")
  }
}
