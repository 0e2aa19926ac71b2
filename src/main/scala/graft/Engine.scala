package graft

import org.apache.spark.sql.SparkSession

/** Session facade for the graft engine.
  *
  * Plays the role of the reference FE's session/coordinator setup
  * (StarRocks `qe/ConnectProcessor` + `qe/SessionVariable`): one list
  * of execution-relevant settings, applied by [[configure]] and read by
  * `Session.prepare`. Everything else (optimizer, shuffle, spill) is
  * Catalyst/AQE — see SURVEY.md §4.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime partition coalescing, skew-join splitting and
  *    dynamic join-strategy switch replace the reference's CBO
  *    re-planning + skew rules (`SkewJoinOptimizeRule.java`).
  *  - runtime bloom filters ≈ the reference's global runtime filters
  *    (`be/src/exec_primitive/runtime_filter/`).
  *  - ANSI off: the reference is MySQL-flavored (lenient casts,
  *    NULL on bad input, `be/src/exprs/cast_expr.cpp`); Spark ANSI
  *    mode would raise instead.
  */
object Engine {

  /** Settings that define query RESULTS, not just their speed: a
    * session built anywhere gets these from `Session.prepare`. */
  val resultSettings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // testdata parquet carries naive timestamp[us] (no UTC
    // adjustment flag); read it as session-TZ TIMESTAMP (UTC
    // session above) rather than TIMESTAMP_NTZ so event-time
    // streaming (watermarks require LTZ) and epoch arithmetic keep
    // working and values match the DuckDB oracle's naive reading
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** Every setting graft's own sessions are built with. */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled" -> "true",
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost") ++ resultSettings

  /** Apply graft's standard configuration to a builder. */
  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    settings.foldLeft(b.master(s"local[$cores]")) { case (acc, (k, v)) => acc.config(k, v) }

  /** Build (or reuse) a configured session and register graft functions. */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")): SparkSession = {
    val spark = configure(SparkSession.builder().appName("graft"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Session.prepare(spark)
  }

  /** The effective value of the master and of every listed setting, as
    * one `[graft-conf]` line: Verify and Bench print it, so a reader can
    * see that the oracle checked the configuration the bench timed. */
  def confLine(spark: SparkSession): String =
    ("spark.master" +: settings.map(_._1))
      .map(k => s"$k=${spark.conf.getOption(k).getOrElse("<unset>")}")
      .mkString("[graft-conf] ", " ", "")

  /** Run `body` with `kvs` set on the session, then restore each key's
    * prior value, or unset it when it had none. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
