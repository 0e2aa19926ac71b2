package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** ANALYZE-driven cost-based optimization — the reference's statistics
  * subsystem (FE `statistic/` ANALYZE jobs, `statistics/
  * StatisticsCalculator.java`, equi-height `statistics/Histogram.java`)
  * re-expressed through Spark's native catalog statistics: `ANALYZE
  * TABLE ... COMPUTE STATISTICS FOR COLUMNS` populates row counts,
  * per-column NDV/null/min/max and (when enabled) equi-height
  * histograms in the session catalog, and Catalyst's `FilterEstimation`
  * / `JoinEstimation` / `CostBasedJoinReorder` consume them — no custom
  * memo needed (SURVEY §4.2).
  *
  * The 100 TB story: statistics turn planning decisions that AQE can
  * only fix AFTER a wasted shuffle into decisions made before any
  * exchange — a filtered dimension joined against a fact table
  * broadcasts immediately when the histogram says the filter keeps
  * kilobytes, and a join chain written dim-last reorders to prune
  * early. ANALYZE itself is one pass over the table (sketch-based NDV),
  * amortized across every subsequent query.
  */
object CboStats {

  /** Register a parquet directory as a session-catalog table so ANALYZE
    * can attach statistics to it (idempotent; re-registering the same
    * name points it at the new location). */
  def register(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(s"CREATE TABLE `$name` USING parquet LOCATION '$path'")
  }

  /** Run ANALYZE for the given columns (all columns when empty);
    * `histogram = true` additionally builds equi-height histograms —
    * the reference's `ANALYZE TABLE ... WITH ... BUCKETS`. */
  def analyze(spark: SparkSession, name: String, cols: Seq[String] = Nil,
      histogram: Boolean = true): Unit = {
    graft.Engine.withConf(spark, "spark.sql.statistics.histogram.enabled" -> histogram.toString) {
      val forCols =
        if (cols.isEmpty) "FOR ALL COLUMNS"
        else cols.mkString("FOR COLUMNS ", ", ", "")
      spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS $forCols")
    }
  }

  /** The catalog's view of a table's statistics as a DataFrame — the
    * reference's `information_schema` statistics surface for ANALYZE
    * output: one row per analyzed column with NDV, null count, min/max
    * (string-rendered) and the histogram bucket count (0 = none). */
  def columnStats(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name))
    val rowCount = meta.stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
    meta.stats.map(_.colStats).getOrElse(Map.empty).toSeq.sortBy(_._1).map {
      case (c, st) =>
        (name, rowCount, c,
          st.distinctCount.map(_.toLong).getOrElse(-1L),
          st.nullCount.map(_.toLong).getOrElse(-1L),
          st.min.orNull, st.max.orNull,
          st.histogram.map(_.bins.length).getOrElse(0))
    }.toDF("table_name", "row_count", "column_name", "ndv", "n_null",
      "min_v", "max_v", "histogram_bins")
  }
}
