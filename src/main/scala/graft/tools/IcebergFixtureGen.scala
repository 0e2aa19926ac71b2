package graft.tools

import graft.Engine
import org.apache.spark.sql.SparkSession

/** One-shot generator for the PINNED real-spec Iceberg fixtures under
  * `src/test/resources/fixtures/iceberg_foreign{,_mor}` (no real-engine
  * iceberg fixture exists in the reference, so this repo pins its own
  * spec-conformant bytes — the [[graft.sources.IcebergWrite]] layout:
  * real field-ids, typed r102 partition records, full v2
  * metadata.json). Run once, commit the output; IcebergReadSpec
  * replays it against literal expectations and re-runs [[write]] to
  * check the writer still produces the pinned Avro schemas and
  * metadata keys, so any reader or writer drift breaks loudly.
  *
  * Usage: `IcebergFixtureGen [mor] [outDir]`. */
object IcebergFixtureGen {
  def main(args: Array[String]): Unit = {
    val mor = args.contains("mor")
    val out = args.filterNot(_ == "mor").headOption.getOrElse(
      if (mor) "src/test/resources/fixtures/iceberg_foreign_mor"
      else "src/test/resources/fixtures/iceberg_foreign")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    write(spark, out, mor)
    println(s"wrote $out")
    spark.stop()
  }

  /** The fixture's commits: two partitioned appends; with `mor` also
    * a position delete, a later append, an equality delete and a CDC
    * re-insert. */
  def write(spark: SparkSession, out: String, mor: Boolean): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    import graft.sources.IcebergWrite
    graft.sources.Formats.deleteDir(spark, out)
    def batch(rows: Seq[(Long, String, Double, String)]) =
      rows.toDF("id", "category", "price", "d")
        .withColumn("event_date", to_date(col("d"))).drop("d")
        .coalesce(1)
    val byDate = Seq("event_date" -> "identity")
    IcebergWrite.append(batch(Seq(
      (1L, "fruit", 3.5, "2024-01-01"), (2L, "fruit", 4.0, "2024-01-01"),
      (3L, "tool", 20.5, "2024-01-02"))), out, byDate)
    IcebergWrite.append(batch(Seq(
      (4L, "tool", 9.25, "2024-01-02"), (5L, "book", 12.0, "2024-01-03"),
      (6L, "book", 7.75, "2024-01-03"))), out, byDate)
    if (mor) {
      // v3: position deletes (price < 8.0 kills ids 1, 2, 6 across two
      // partitions); v4: a later append whose id-7 row would ALSO
      // match the delete predicate but must survive (path-targeted,
      // sequence-scoped deletes never reach future files)
      IcebergWrite.positionDeletes(spark, out, col("price") < 8.0)
      IcebergWrite.append(batch(Seq(
        (7L, "fruit", 2.0, "2024-01-01"),
        (8L, "tool", 15.0, "2024-01-04"))), out, byDate)
      // v5: EQUALITY deletes (Flink-CDC shape) on (id, event_date) —
      // kills ids 3 and 4; v6: re-insert id 3 with a new price (the
      // CDC upsert pattern — survives its own delete: equality deletes
      // scope STRICTLY below their sequence number) + a fresh id 9
      IcebergWrite.equalityDeletes(spark, out,
        batch(Seq((3L, "tool", 0.0, "2024-01-02"),
          (4L, "tool", 0.0, "2024-01-02"))).select(col("id"), col("event_date")),
        Seq("id", "event_date"))
      IcebergWrite.append(batch(Seq(
        (3L, "tool", 99.0, "2024-01-02"),
        (9L, "book", 6.5, "2024-01-03"))), out, byDate)
    }
  }
}
