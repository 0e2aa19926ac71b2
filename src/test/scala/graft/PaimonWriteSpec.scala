package graft

import java.util.ConcurrentModificationException

import scala.util.{Failure, Success}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StructField}

import graft.sources.{PaimonDv, PaimonRead, PaimonWrite}

/** Racing Paimon writers: schema files, tags, branches and
  * deletion-vector commits each have one winner; a loser throws
  * `ConcurrentModificationException` and leaves no index file behind. */
class PaimonWriteSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_pw_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  /** Every call of a race that did not return threw one of `allowed`. */
  private def lostWith(results: Seq[(Long, scala.util.Try[_])],
      allowed: Class[_]*): Unit =
    results.collect { case (_, Failure(e)) => e }.foreach(e =>
      assert(allowed.exists(_.isInstance(e)), e.toString))

  test("racing addColumn: one schema per schema id, the loser conflicts, every returned column is kept") {
    val dir = fresh("addcol")
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" * 1.0).as("x")), dir, Seq("k"), numBuckets = 2)
    var raced = 0
    val kept = (1 to 10).flatMap { round =>
      val results = race(2)(i =>
        PaimonWrite.addColumn(spark, dir, StructField(s"c${round}_$i", LongType)))
      lostWith(results, classOf[ConcurrentModificationException])
      val won = results.collect { case (i, Success(id)) => i -> id }
      // two calls that both returned published two distinct schemas
      // (the second read the first's); a shared id is a lost column
      assert(won.map(_._2).distinct.size === won.size, s"round $round: $won")
      if (won.size == 1) raced += 1
      won.map { case (i, _) => s"c${round}_$i" }
    }
    info(s"$raced of 10 rounds raced for one schema id")
    val cols = PaimonRead.read(spark, dir).columns.filter(_.startsWith("c")).toSet
    assert(cols === kept.toSet)
    assert(PaimonRead.systemTable(spark, dir, "schemas").count() === kept.size + 1)
  }

  test("racing createTag of one name: one winner, and the tag is the winner's snapshot") {
    val dir = fresh("tag")
    (1 to 4).foreach(i => PaimonWrite.commitPk(
      spark.range(0, i * 10L).select($"id".as("k"), ($"id" * 1.0).as("x")),
      dir, Seq("k"), numBuckets = 2, assumeKeyUnique = true))
    val results = race(4)(i => PaimonWrite.createTag(spark, dir, "t", Some(i)))
    lostWith(results, classOf[ConcurrentModificationException],
      classOf[IllegalArgumentException])
    val won = results.collect { case (_, Success(id)) => id }
    assert(won.size === 1, results.toString)
    assert(PaimonRead.tags(spark, dir) === Seq("t" -> won.head))
    assert(PaimonRead.readTag(spark, dir, "t").count() === won.head * 10L)
  }

  test("racing createBranch of one name: one winner") {
    val dir = fresh("branch")
    (1 to 4).foreach(i => PaimonWrite.commitPk(
      spark.range(0, i * 10L).select($"id".as("k"), ($"id" * 1.0).as("x")),
      dir, Seq("k"), numBuckets = 2, assumeKeyUnique = true))
    val results = race(4)(i => PaimonWrite.createBranch(spark, dir, "b", Some(i)))
    lostWith(results, classOf[ConcurrentModificationException],
      classOf[IllegalArgumentException])
    val won = results.collect { case (_, Success(id)) => id }
    assert(won.size === 1, results.toString)
    assert(PaimonRead.branches(spark, dir) === Seq("b"))
    assert(PaimonRead.readBranch(spark, dir, "b").count() === won.head * 10L)
  }

  test("racing deleteWhereDv: every returned delete is visible, losers conflict, no unreferenced index file") {
    val dir = fresh("dv")
    PaimonWrite.commitAppend(spark.range(0, 40).select($"id".as("k"),
      ($"id" * 1.0).as("x")).coalesce(1), dir)
    val deleted = (0 until 10).flatMap { round =>
      val results = race(2)(i => PaimonWrite.deleteWhereDv(spark, dir,
        $"k" === round * 2 + i - 1))
      lostWith(results, classOf[ConcurrentModificationException])
      results.collect { case (i, Success(_)) => round * 2L + i - 1 }
    }
    info(s"${deleted.size} of 20 racing deletes published")
    assert(PaimonRead.read(spark, dir).select($"k").as[Long].collect().toSet ===
      (0L until 40L).toSet -- deleted)
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(sub: String, prefix: String): Set[String] =
      f.listStatus(new Path(s"$dir/$sub")).map(_.getPath.getName)
        .filter(_.startsWith(prefix)).toSet
    val referenced = names("manifest", "index-manifest-")
      .flatMap(PaimonDv.readIndexManifest(spark, dir, _).map(_.fileName))
    assert(names("index", "index-") === referenced)
  }
}
