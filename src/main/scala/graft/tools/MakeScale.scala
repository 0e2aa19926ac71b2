package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine

/** Dev tool: synthesize a larger scale factor from an existing one by
  * key-offset replication (the TPC-H scaling model: fact/dim key
  * spaces grow, nation/region stay fixed). Replica i shifts every
  * entity key by i x (max+1) so primary keys stay unique, foreign
  * keys stay consistent within a replica, and join selectivities
  * match a genuinely bigger SF — naive row duplication would instead
  * square self-join outputs and break PK semantics.
  *
  * `documents.text` gets a per-replica suffix token (and n_chars is
  * recomputed): without it every replica is an exact duplicate of the
  * corpus and the dedup probes would measure planted cross-replica
  * duplication (hash buckets 10x deeper, pairs 100x) instead of the
  * operator's real growth.
  *
  * `embeddings` replicas get a small deterministic per-replica jitter:
  * exact-duplicate vectors would make every ANN neighborhood a stack
  * of `replicas` identical points — cells and shortlists degenerate —
  * while the jitter keeps replicas as near-duplicates (realistic
  * neighborhood growth) without changing the value distribution.
  *
  * args: srcDir dstDir replicas [tables]   (tables = comma-separated
  * subset to grow, e.g. `embeddings` for an ANN-only scale dir;
  * default grows everything)
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] = args.lift(3).map(_.split(",").toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("WARN")

    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def off(df: DataFrame, col0: String): Long =
      df.agg(max(col(col0))).head.getLong(0) + 1L

    lazy val maxOrd = off(rd("orders"), "o_orderkey")
    lazy val maxCust = off(rd("customer"), "c_custkey")
    lazy val maxPart = off(rd("part"), "p_partkey")
    lazy val maxSupp = off(rd("supplier"), "s_suppkey")
    lazy val maxEvent = off(rd("events"), "event_id")
    lazy val maxUser = off(rd("events"), "user_id")
    lazy val maxDoc = off(rd("documents"), "doc_id")
    lazy val maxVec = off(rd("embeddings"), "vec_id")

    /** One plan per table: base × broadcast replica ids, transform
      * parameterized by the `__r` COLUMN. The naive alternative — a
      * `replicas`-arm union with per-replica literal plans — is
      * O(replicas) in plan size and grinds Catalyst to a halt by
      * ~10000 arms (and would do the same on a real cluster); the
      * cross join is one constant-size plan whose row generation is
      * scan-side and parallel (the base is repartitioned so each task
      * emits its slice of every replica). */
    def grow(name: String)(tx: (DataFrame, Column) => DataFrame): Unit =
      if (wanted(name)) {
        val reps = spark.range(replicas).select(col("id").cast("int").as("__r"))
        val base = rd(name).repartition(32)
        val out = tx(base.crossJoin(broadcast(reps)), col("__r")).drop("__r")
        out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
        println(s"[makescale] $name x$replicas -> $dst")
      }
    def shift(c: String, step: Long, r: Column) = col(c) + lit(step) * r

    grow("lineitem") { (d, r) => d
      .withColumn("l_orderkey", shift("l_orderkey", maxOrd, r))
      .withColumn("l_partkey", shift("l_partkey", maxPart, r))
      .withColumn("l_suppkey", shift("l_suppkey", maxSupp, r)) }
    grow("orders") { (d, r) => d
      .withColumn("o_orderkey", shift("o_orderkey", maxOrd, r))
      .withColumn("o_custkey", shift("o_custkey", maxCust, r)) }
    grow("customer") { (d, r) => d
      .withColumn("c_custkey", shift("c_custkey", maxCust, r)) }
    grow("part") { (d, r) => d
      .withColumn("p_partkey", shift("p_partkey", maxPart, r)) }
    grow("supplier") { (d, r) => d
      .withColumn("s_suppkey", shift("s_suppkey", maxSupp, r)) }
    grow("events") { (d, r) => d
      .withColumn("event_id", shift("event_id", maxEvent, r))
      .withColumn("user_id", shift("user_id", maxUser, r)) }
    grow("documents") { (d, r) => d
      .withColumn("doc_id", shift("doc_id", maxDoc, r))
      .withColumn("text",
        when(r === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zrep"), r.cast("string"))))
      .withColumn("n_chars", length(col("text"))) }
    grow("embeddings") { (d, r) => d
      .withColumn("vec_id", shift("vec_id", maxVec, r))
      // per-replica jitter (see scaladoc): deterministic in (replica,
      // position), amplitude ~±0.04 on the unit-ish component scale.
      // Modulus 251 (prime, > any realistic replica count) keeps the
      // offset pattern distinct per replica — a small modulus would
      // make replicas i and i+period byte-identical, reintroducing the
      // exact-duplicate degeneracy this jitter exists to prevent.
      .withColumn("embedding",
        when(r === 0, col("embedding")).otherwise(
          expr("transform(embedding, (x, j) -> " +
            "cast(x + 0.0003 * (pmod(__r * 53 + j * 17, 251) - 125) as float))"))) }
    // fixed dimensions: copy as-is (nation/region don't scale with SF)
    Seq("nation", "region").filter(wanted).foreach { n =>
      rd(n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[makescale] $n copied")
    }
    spark.stop()
  }
}
