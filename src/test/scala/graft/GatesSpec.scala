package graft

import java.nio.file.Files

import graft.tools.Gates

/** Every `Gates` mode on one sf0.001 gate, through `Gates.run` on the
  * shared session. */
class GatesSpec extends SparkSuite {

  private val gate = "q6_forecast_revenue"

  /** `Gates.run`'s stdout through a stream of the given charset, read
    * back as UTF-8. */
  private def outAs(charset: String)(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, charset))(Gates.run(spark, args.toArray))
    buf.toString("UTF-8")
  }

  private def out(args: String*): String = outAs("UTF-8")(args: _*)

  test("time reports cold, min and median for a gate and for SQL") {
    assert(out("time", sf, gate).matches(s"(?s)\\s*[0-9.]+ s median +[0-9.]+ s min +[0-9.]+ s cold \\| $gate\\s*"))
    assert(out("time", sf, "--sql", "SELECT count(*) FROM lineitem").contains("| SELECT count(*) FROM lineitem"))
  }

  test("jobs breaks the warm run down per Spark job") {
    val o = out("jobs", sf, gate)
    assert(o.contains(s"==== $gate  cold="), o)
    assert("(?m)^  job +\\d+ gap=".r.findFirstIn(o).nonEmpty, o)
    assert(o.contains("  SUM jobs="), o)
  }

  test("plan writes each gate's formatted plan") {
    val dir = Files.createTempDirectory("graft-gates-plan").toString
    assert(out("plan", sf, dir, "before", gate).contains(s"wrote $dir/${gate}_before.txt"))
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/${gate}_before.txt")), "UTF-8")
      .contains("== Physical Plan =="))
  }

  test("profile prints the operator profile") {
    val o = out("profile", sf, gate)
    assert(o.contains(s"==== $gate ====") && o.contains("rows="), o)
  }

  test("show prints a gate's rows and a SQL statement's rows") {
    assert(out("show", sf, gate).contains(s"==== $gate ===="))
    assert(out("show", sf, "--sql", "SELECT count(*) AS n FROM nation").contains("|25 |"))
  }

  test("scale times a set on every dir and totals it") {
    val o = out("scale", s"only:$gate", sf, sf).linesIterator.toSeq
    assert(o.head === "| gate | what | sf0.001 s | sf0.001 s | last/first × |", o)
    assert(o.exists(_.startsWith(s"| $gate |")) && o.last.startsWith("| **total** |"), o)
    intercept[IllegalArgumentException](Gates.run(spark, Array("scale", "no_such_set", sf)))
    // a stdout that cannot encode '×' still receives it as UTF-8
    assert(outAs("US-ASCII")("scale", s"only:$gate", sf).linesIterator.next()
      === "| gate | what | sf0.001 s | last/first × |")
  }

  test("count agrees with the gate and oracle maps") {
    assert(out("count").linesIterator.next() === s"gates=${SparkEntry.queries.size} " +
      s"oracles=${SparkEntry.oracleSql.size} benchOnly=${graft.queries.Pipeline.benchOnly.size}")
  }

  test("README's oracle count is the one Gates count reports") {
    val readme = new String(Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val counted = " oracles=(\\d+) ".r.findFirstMatchIn(out("count")).get.group(1).toInt
    val claimed = "(\\d+) oracles total".r.findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    assert(claimed.nonEmpty, "README names no oracle count")
    assert(claimed.toSet === Set(counted), s"README says ${claimed.mkString(", ")}")
  }

  test("fns lists only the names that do not resolve") {
    val f = Files.createTempFile("graft-fns", ".txt")
    Files.write(f, "abs\ntime_slice\nno_such_function_xyz\n".getBytes("UTF-8"))
    assert(out("fns", f.toString).linesIterator.toSeq ===
      Seq("MISSING_START", "no_such_function_xyz", "MISSING_END"))
  }

  test("an unknown mode fails with the usage") {
    val e = intercept[IllegalArgumentException](Gates.run(spark, Array("nope")))
    assert(e.getMessage.contains("usage: Gates"))
  }
}
