package graft

import org.apache.spark.sql.functions._

import graft.plans.GeneratedColumns
import graft.sources.Lake

/** Generated columns: materialize-on-write, spec persistence in table
  * properties, and the transparent rewrite that turns a matching
  * expression into the stored column — which is what converts a
  * row-level predicate into file skipping. */
class GeneratedColumnsSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_gen_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  private def mkOrders = table("orders")
    .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")


  test("write materializes the column, records the spec, and append/CoW inherit it") {
    val dir = freshTable("basic")
    GeneratedColumns.write(mkOrders, dir,
      Seq("o_month" -> "month(o_orderdate)"))
    val snap = Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir))
    assert(snap.props("generated.o_month") === "month(o_orderdate)")
    val read = Lake.read(spark, dir)
    assert(read.columns.contains("o_month"))
    assert(read.filter($"o_month" =!= month($"o_orderdate")).isEmpty)
    // append through plain Lake.write keeps the specs (props inherit)
    Lake.write(read.limit(5), dir, Nil, mode = "append")
    val snap2 = Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir))
    assert(snap2.props("generated.o_month") === "month(o_orderdate)")
    // CoW delete keeps them too
    val k = read.select($"o_orderkey").head().getLong(0)
    Lake.delete(spark, dir, col("o_orderkey") === k)
    val snap3 = Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir))
    assert(snap3.props("generated.o_month") === "month(o_orderdate)")
  }

  test("rewrite: a filter on the defining expression reads the stored column and prunes files") {
    val dir = freshTable("rewrite")
    GeneratedColumns.write(mkOrders, dir,
      Seq("o_month" -> "month(o_orderdate)"),
      sortBy = Seq("o_month"), nFiles = 8)
    GeneratedColumns.register(spark, dir)
    Engine.withConf(spark, GeneratedColumns.EnabledKey -> "true") {
      // the query writes the EXPRESSION; the optimized plan must carry
      // the stored attribute instead (no month() call over o_orderdate)
      val (df, idx) = Lake.readIndexed(spark, dir)
      val q = df.filter(month($"o_orderdate") === 3)
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(18,6)")).cast("double").as("total"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("month("),
        s"month() survived the rewrite:\n$optimized")
      // result identical to the un-rewritten computation
      val want = mkOrders.filter(month($"o_orderdate") === 3)
        .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(18,6)")).cast("double"))
        .head()
      val got = q.head()
      assert(got.getLong(0) === want.getLong(0) && got.getDouble(1) === want.getDouble(1))
      // the month predicate, now an attribute on the sort key, PRUNES:
      // one month ~ 1/12 of the data over 8 month-clustered files
      assert(idx.lastStatsSkippedFileCount >= 5,
        s"expected most files skipped via the generated sort key, got ${idx.lastStatsSkippedFileCount}")
    }
    // the rule is OPT-IN: with the conf unset the same query keeps
    // its expression (inert outside its users, the sibling-rule
    // convention)
    val off = Lake.read(spark, dir).filter(month($"o_orderdate") === 3)
    assert(off.queryExecution.optimizedPlan.toString.contains("month("))
  }

  test("rewrite leaves non-matching expressions and unregistered tables alone") {
    val dir = freshTable("nomatch")
    GeneratedColumns.write(mkOrders, dir,
      Seq("o_month" -> "month(o_orderdate)"))
    GeneratedColumns.register(spark, dir)
    Engine.withConf(spark, GeneratedColumns.EnabledKey -> "true") {
      val df = Lake.read(spark, dir)
      // a DIFFERENT expression is untouched
      val q1 = df.filter(year($"o_orderdate") === 1996)
      assert(q1.queryExecution.optimizedPlan.toString.contains("year("))
      assert(q1.count() === mkOrders.filter(year($"o_orderdate") === 1996).count())
      // same expression over a NON-registered table is untouched
      val plain = freshTable("plain")
      Lake.write(mkOrders, plain, Nil)
      val q2 = Lake.read(spark, plain).filter(month($"o_orderdate") === 3)
      assert(q2.queryExecution.optimizedPlan.toString.contains("month("))
    }
  }

  test("projection and grouping sites rewrite too") {
    val dir = freshTable("agg")
    GeneratedColumns.write(mkOrders, dir,
      Seq("o_month" -> "month(o_orderdate)"))
    GeneratedColumns.register(spark, dir)
    Engine.withConf(spark, GeneratedColumns.EnabledKey -> "true") {
      val df = Lake.read(spark, dir)
      val q = df.groupBy(month($"o_orderdate").as("m"))
        .agg(count(lit(1)).as("n")).orderBy($"m")
      assert(!q.queryExecution.optimizedPlan.toString.contains("month("))
      val want = mkOrders.groupBy(month($"o_orderdate").as("m"))
        .agg(count(lit(1)).as("n")).orderBy($"m")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(got === want)
    }
  }

  test("plain append lacking the column drops the spec; re-register evicts; changed spec is honored") {
    val dir = freshTable("drop")
    GeneratedColumns.write(mkOrders, dir, Seq("o_month" -> "month(o_orderdate)"))
    GeneratedColumns.register(spark, dir)
    Engine.withConf(spark, GeneratedColumns.EnabledKey -> "true") {
      // GeneratedColumns.append keeps the spec materialized
      GeneratedColumns.append(mkOrders.limit(3), dir)
      assert(Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir))
        .props.contains("generated.o_month"))
      // a PLAIN append without the column DROPS the spec — inherited
      // metadata must not promise a column the new files don't carry
      Lake.write(mkOrders.limit(2), dir, Nil, mode = "append")
      val snap = Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir))
      assert(!snap.props.contains("generated.o_month"))
      // re-register notices and EVICTS: the query keeps its expression
      // and counts every row, including the spec-less appended ones
      GeneratedColumns.register(spark, dir)
      val q = Lake.read(spark, dir).filter(month($"o_orderdate") === 3)
      assert(q.queryExecution.optimizedPlan.toString.contains("month("))
      assert(q.count() ===
        Lake.read(spark, dir).collect()
          .count(r => r.getTimestamp(r.fieldIndex("o_orderdate"))
            .toLocalDateTime.getMonthValue == 3))
      // a CHANGED spec on rebuild must serve the NEW definition, not a
      // cached template of the old one
      val dir2 = freshTable("respec")
      GeneratedColumns.write(mkOrders, dir2, Seq("o_g" -> "month(o_orderdate)"))
      GeneratedColumns.register(spark, dir2)
      Lake.read(spark, dir2).filter(month($"o_orderdate") === 3).count()
      GeneratedColumns.write(mkOrders, dir2, Seq("o_g" -> "year(o_orderdate)"))
      GeneratedColumns.register(spark, dir2)
      val qy = Lake.read(spark, dir2).filter(year($"o_orderdate") === 1996)
      assert(!qy.queryExecution.optimizedPlan.toString.contains("year("),
        "changed spec not honored — stale cache")
      val qm = Lake.read(spark, dir2).filter(month($"o_orderdate") === 3)
      assert(qm.queryExecution.optimizedPlan.toString.contains("month("),
        "old spec still rewriting after the definition changed")
      assert(qy.count() === mkOrders.filter(year($"o_orderdate") === 1996).count())
    }
  }

  test("DML writing a spec's target or source column invalidates the spec") {
    def specKeys(d: String): Set[String] =
      Lake.readSnapshot(spark, d, Lake.currentVersion(spark, d))
        .props.keys.filter(_.startsWith("generated.")).toSet

    // CoW UPDATE of an UNRELATED column keeps the spec
    val dir = freshTable("dml_cow")
    GeneratedColumns.write(mkOrders, dir, Seq("o_month" -> "month(o_orderdate)"))
    val k = Lake.read(spark, dir).select($"o_orderkey").head().getLong(0)
    Lake.update(spark, dir, col("o_orderkey") === k,
      Map("o_totalprice" -> lit(0)))
    assert(specKeys(dir) === Set("generated.o_month"))
    // CoW UPDATE of the SOURCE column drops it — the stored o_month no
    // longer equals month(o_orderdate) for the reassigned row
    Lake.update(spark, dir, col("o_orderkey") === k,
      Map("o_orderdate" -> lit("1997-01-15").cast("timestamp")))
    assert(specKeys(dir) === Set.empty[String])

    // MoR UPDATE assigning the generated TARGET column drops it
    val dir2 = freshTable("dml_mor")
    GeneratedColumns.write(mkOrders, dir2, Seq("o_month" -> "month(o_orderdate)"))
    Lake.updateMor(spark, dir2, col("o_orderkey") === k,
      Map("o_month" -> lit(99)))
    assert(specKeys(dir2) === Set.empty[String])

    // whole-row CoW MERGE replaces every column — no spec survives
    val dir3 = freshTable("dml_merge")
    GeneratedColumns.write(mkOrders, dir3, Seq("o_month" -> "month(o_orderdate)"))
    val src = Lake.read(spark, dir3).limit(2).withColumn("o_month", lit(77))
    Lake.merge(spark, dir3, src, Seq("o_orderkey"))
    assert(specKeys(dir3) === Set.empty[String])

    // MoR partial-update load touching only an unrelated column keeps
    // the spec; a full-row load drops it
    val dir4 = freshTable("dml_mormerge")
    GeneratedColumns.write(mkOrders, dir4, Seq("o_month" -> "month(o_orderdate)"))
    val partial = Lake.read(spark, dir4).limit(2)
      .select($"o_orderkey", lit(1.0).as("o_totalprice"))
    Lake.mergeMor(spark, dir4, partial, Seq("o_orderkey"), partialUpdate = true)
    assert(specKeys(dir4) === Set("generated.o_month"))
    val full = Lake.read(spark, dir4).limit(2).withColumn("o_month", lit(55))
    Lake.mergeMor(spark, dir4, full, Seq("o_orderkey"))
    assert(specKeys(dir4) === Set.empty[String])
  }

  test("invalidation matches identifiers, not substrings: assigning `a` keeps a spec over `abc`") {
    def specKeys(d: String): Set[String] =
      Lake.readSnapshot(spark, d, Lake.currentVersion(spark, d))
        .props.keys.filter(_.startsWith("generated.")).toSet
    val dir = freshTable("dml_onechar")
    val df = spark.range(0, 50).select($"id".as("k"),
      ($"id" % 7).as("a"), ($"id" % 11).as("abc"))
    GeneratedColumns.write(df, dir,
      Seq("g_abc" -> "abc * 2", "g_a" -> "a + 1"))
    assert(specKeys(dir) === Set("generated.g_abc", "generated.g_a"))
    // assigning `a` must drop ONLY the spec referencing the identifier
    // a — a substring check would also kill g_abc (and did, pre-fix)
    Lake.update(spark, dir, col("k") === 3L, Map("a" -> lit(0)))
    assert(specKeys(dir) === Set("generated.g_abc"))
  }
}
