package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Colocated (bucketed) tables — shuffle-free keyed joins.
  *
  * Reference: bucket-shuffle / colocate join
  * (`gensrc/thrift/Partitions.thrift:57` TABLET_BUCKET_SHUFFLE,
  * FE colocate group logic): tables hash-distributed on the same key
  * into the same bucket count join tablet-to-tablet with no exchange.
  *
  * Spark mapping: `bucketBy(n, key)` tables. A join of two tables
  * bucketed on the join key with the same bucket count satisfies both
  * sides' required distribution — the plan has NO Exchange on either
  * side (asserted in PlanSpec). On a 100 TB fact⋈fact join this
  * removes the dominant shuffle entirely at the cost of bucketing at
  * write time — exactly the reference's colocation-group trade.
  */
object Colocate {

  /** Persist as an external bucketed table (sorted within buckets so
    * sort-merge joins skip the per-partition sort too). */
  def saveBucketed(df: DataFrame, name: String, path: String,
      bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(name)

  /** Point lookup on a bucketed table with bucket pruning guaranteed —
    * the reference's tablet prune (a point query on the distribution
    * key opens one tablet). Spark's auto-bucketed-scan rule disables
    * bucketed reads for plans with no exchange-eliminating operator
    * (bare filters qualify), which also forfeits bucket PRUNING; this
    * pins bucketing on while the query is planned, forces planning,
    * then restores the conf. Queries that aggregate or join on the
    * bucket key keep the bucketed scan anyway and prune without help. */
  def pointLookup(bucketed: DataFrame, predicate: org.apache.spark.sql.Column): DataFrame = {
    graft.Engine.withConf(bucketed.sparkSession,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val df = bucketed.filter(predicate)
      df.queryExecution.executedPlan // plan under the pinned conf
      df
    }
  }

  /** Salted equi-join for DELIBERATE skew: when one join key holds a
    * disproportionate share of the left (fact) side, a plain shuffle
    * sends the whole hot key to one reducer. Salting splits it
    * `salt`-ways: the fact side gets a row-local salt (round-robin
    * within each scan partition — splits even exact-duplicate rows of
    * a hot key, which a row-hash salt cannot), the build side is
    * replicated `salt`× — join key becomes (key, salt). The build
    * side must be the small one (replication is salt×build).
    *
    * The salt expression is nondeterministic (partition-local
    * counter), so the salted side is localCheckpoint'ed before the
    * join: a shuffle-fetch failure or executor loss then replays the
    * materialized blocks instead of re-evaluating the salt with
    * different values (the SPARK-23207 retry hazard: recomputed rows
    * landing in different reduce partitions lose/duplicate rows).
    * Cost: one extra materialization of the fact side — the same
    * order as the join's own shuffle write, the price of planned
    * skew-splitting being replay-safe on exactly the large jobs
    * where retries happen.
    *
    * AQE's runtime skew split (asserted in PlanSpec) is the first
    * line of defense; explicit salting is the reference-style planned
    * answer when the skew is KNOWN (the reference distributes via
    * bucketing hints similarly) and works for aggregations AQE can't
    * re-split. Inner and left-outer joins only (other types change
    * semantics under replication). */
  def saltedJoin(fact: DataFrame, build: DataFrame, keys: Seq[String],
      salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt > 1, "salt must be > 1")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"salted join supports inner/left_outer, got $joinType")
    require(!fact.columns.contains("__salt") && !build.columns.contains("__salt"),
      "input already has a __salt column")
    // Row-local salt: a whole-row hash would send exact-duplicate rows of
    // a hot key to ONE bucket (skew persists on duplicate-heavy data) and
    // fails analysis on unhashable columns (maps).
    // monotonically_increasing_id is partition-local state and NOT stable
    // under partial recompute — localCheckpoint pins the assignment (see
    // scaladoc).
    val salted = fact.withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(salt.toLong)).cast("int"))
      .localCheckpoint(true)
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}
