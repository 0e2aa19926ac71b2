package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-area objects under `graft.queries`;
  * this object merges them and guarantees the session is prepared
  * (graft functions registered, MySQL-flavored settings applied) no
  * matter who created the SparkSession.
  */
object SparkEntry {

  private def areas: Seq[QueryArea] = Seq(
    _root_.graft.queries.Tpch,
    _root_.graft.queries.Tpch2,
    _root_.graft.queries.Ssb,
    _root_.graft.queries.ClickBench,
    _root_.graft.queries.TpcdsFlavor,
    _root_.graft.queries.CompatKernels,
    _root_.graft.queries.Reports,
    _root_.graft.queries.Relational,
    _root_.graft.queries.Windows,
    _root_.graft.queries.Aggregates,
    _root_.graft.queries.Scalars,
    _root_.graft.queries.Nested,
    _root_.graft.queries.Sketches,
    _root_.graft.queries.Pipeline,
    _root_.graft.queries.StreamingQ,
    _root_.graft.queries.MultimodalQ,
    _root_.graft.queries.Advanced,
    _root_.graft.queries.Behavior,
    _root_.graft.queries.SourcesQ)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    areas.flatMap(_.queries).map { case (name, fn) =>
      name -> ((spark: SparkSession, dir: String) => { Session.prepare(spark); fn(spark, dir) })
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = areas.flatMap(_.oracles).toMap
}

/** A contributable group of queries + DuckDB oracles. */
trait QueryArea {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Runtime session normalization for externally created sessions
  * (perfbench, spark-shell, any caller's own builder). */
object Session {
  // prepare() runs on EVERY gate invocation (the SparkEntry.queries
  // wrapper): re-registering ~200 compat functions and re-installing
  // the rewrite rules each call cost a near-uniform ~50-100 ms per
  // query at the bench — the round-3 "uniform TPC-H floor regression".
  // One identity-keyed sentinel per session makes repeat calls free.
  private val prepared =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Pin the result-defining settings (`Engine.resultSettings`) and
    * install graft's functions and rules. Performance settings stay as
    * whoever built the session chose them. */
  def prepare(spark: SparkSession): SparkSession = {
    if (prepared.containsKey(spark)) return spark
    prepared.put(spark, java.lang.Boolean.TRUE)
    Engine.resultSettings.foreach { case (k, v) => spark.conf.set(k, v) }
    functions.Compat.register(spark)
    plans.MvRewrite.install(spark) // no-op until an MV registers
    plans.TablePrune.install(spark) // no-op until conf-enabled
    plans.RangeJoinRewrite.install(spark) // no-op until conf-enabled
    plans.BoundedAccumulate.install(spark) // strategy for the custom exec node
    spark
  }
}
