package graft

/** The one settings list: `Engine.session` builds with all of it,
  * `Session.prepare` re-pins only the result-defining part, and scoped
  * overrides (`Engine.withConf`, `Streams.runToEnd`) leave the session
  * as they found it. */
class SessionConfSpec extends SparkSuite {

  test("a session from Engine.session has every listed setting") {
    Engine.settings.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    val line = Engine.confLine(spark)
    assert(line.startsWith("[graft-conf] spark.master=local["))
    Engine.settings.foreach { case (k, v) => assert(line.contains(s" $k=$v"), k) }
  }

  test("Session.prepare restores result-defining settings and leaves performance ones alone") {
    val other = spark.newSession()
    other.conf.set("spark.sql.ansi.enabled", "true")
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    other.conf.set("spark.sql.adaptive.enabled", "false")
    Session.prepare(other)
    Engine.resultSettings.foreach { case (k, v) => assert(other.conf.get(k) === v, k) }
    assert(other.conf.get("spark.sql.adaptive.enabled") === "false")
    // graft's functions resolve on the prepared session
    assert(other.sql("SELECT time_slice(TIMESTAMP '2024-01-01 10:17:00', 15, 'minute')")
      .head().get(0) != null)
  }

  test("withConf restores a prior value and unsets a key that had none") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val fresh = "spark.graft.test.unsetBefore"
    Engine.withConf(spark, "spark.sql.shuffle.partitions" -> "3", fresh -> "x") {
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(spark.conf.get(fresh) === "x")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
    assert(spark.conf.getOption(fresh).isEmpty)
    // a caller's own setting survives a body that fails
    Engine.withConf(spark, fresh -> "caller") {
      intercept[IllegalStateException] {
        Engine.withConf(spark, fresh -> "inner")(throw new IllegalStateException("boom"))
      }
      assert(spark.conf.get(fresh) === "caller")
    }
  }

  test("runToEnd fails a stream that does not finish, stops it and restores the conf") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val e = intercept[java.util.concurrent.TimeoutException] {
      graft.streaming.Streams.runToEnd(spark, 1500, "spark.sql.shuffle.partitions" -> "4") {
        assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
          .writeStream.format("noop").start()
      }
    }
    assert(e.getMessage.contains("did not finish"))
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
  }
}
