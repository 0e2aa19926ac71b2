package graft

import graft.sources.{PaimonRead, PaimonWrite}
import org.apache.spark.sql.functions.{col, lit}

/** Paimon BRANCHES: `branch/branch-<name>/` metadata trees forked from
  * a snapshot or tag — shared data files, branch-first manifest
  * resolution, independent commits, GC keeping branch-reachable files,
  * drop-branch debris reclaimed as orphans. */
class PaimonBranchSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-br-$tag").toString + "/t"

  test("create from snapshot: fork reads the fork point; branch and main commit independently") {
    val dir = fresh("fork")
    PaimonWrite.commitPk(spark.range(0, 40).select($"id".as("k"),
      ($"id" * 2.0).as("x")), dir, Seq("k"), numBuckets = 2)          // s1
    PaimonWrite.commitPk(spark.range(40, 60).select($"id".as("k"),
      ($"id" * 2.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)  // s2
    val forked = PaimonWrite.createBranch(spark, dir, "dev", Some(1L))
    assert(forked === 1L)
    assert(PaimonRead.branches(spark, dir) === Seq("dev"))
    intercept[IllegalArgumentException] { // duplicate refuses
      PaimonWrite.createBranch(spark, dir, "dev")
    }
    // the branch sees the fork point, not main's s2 — WITHOUT any
    // manifest copies (resolution falls back to main's manifest dir)
    assert(PaimonRead.readBranch(spark, dir, "dev").count() === 40)
    assert(PaimonRead.read(spark, dir).count() === 60)
    // commit to the BRANCH: main unchanged, branch diverges
    val br = PaimonRead.branchRoot(dir, "dev")
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      lit(-1.0).as("x")), br, Seq("k"), assumeKeyUnique = true)       // branch s2
    val b = PaimonRead.readBranch(spark, dir, "dev").orderBy($"k").collect()
    assert(b.length === 40)
    assert(b.take(10).forall(_.getDouble(1) === -1.0))
    assert(b.drop(10).forall(r => r.getDouble(1) === r.getLong(0) * 2.0))
    val m = PaimonRead.read(spark, dir)
    assert(m.count() === 60 && m.filter($"x" < 0).count() === 0)
    // branch CDC derives over the branch chain
    val chg = PaimonRead.changes(spark, br, 1L, 2L).collect()
      .map(r => (r.getAs[String]("__change_type"), r.getAs[Long]("k"))).toSet
    assert(chg === (0L until 10L).flatMap(k =>
      Seq(("delete", k), ("insert", k))).toSet)
    // time travel on the branch: the fork point is still readable
    assert(PaimonRead.readBranch(spark, dir, "dev", Some(1L))
      .filter($"x" < 0).count() === 0)
  }

  test("dynamic-bucket branch: index files branch-tagged (no shared-dir collision); rollback refuses branches forked past the target") {
    val dir = fresh("dynbr")
    val opts = Map("dynamic-bucket.target-row-num" -> "16")
    PaimonWrite.commitPk(spark.range(0, 20).select($"id".as("k"),
      ($"id" * 2.0).as("x")), dir, Seq("k"), numBuckets = -1,
      options = opts)                                                 // s1
    PaimonWrite.createBranch(spark, dir, "dev", Some(1L))
    val br = PaimonRead.branchRoot(dir, "dev")
    // branch commit id 2 and main commit id 2 BOTH write new index
    // files into the shared index/ dir — per-commit uuid names keep
    // them apart (an id-derived name would let one overwrite the other)
    PaimonWrite.commitPk(spark.range(100, 110).select($"id".as("k"),
      lit(-1.0).as("x")), br, Seq("k"), assumeKeyUnique = true)       // branch s2
    PaimonWrite.commitPk(spark.range(200, 230).select($"id".as("k"),
      lit(7.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)       // main s2
    def indexFiles(root: String, id: Long): Set[String] =
      PaimonRead.snapshotIndexManifest(spark, root, id).toSeq
        .flatMap(graft.sources.PaimonDv.readIndexManifest(spark, root, _))
        .map(_.fileName).toSet
    val fork = indexFiles(dir, 1L)
    val branchNew = indexFiles(br, 2L) -- fork
    val mainNew = indexFiles(dir, 2L) -- fork
    assert(branchNew.nonEmpty && mainNew.nonEmpty && (branchNew & mainNew).isEmpty,
      s"branch $branchNew and main $mainNew must name disjoint index files")
    // both sides read their own state through their own indexes
    assert(PaimonRead.read(spark, dir).count() === 50)
    assert(PaimonRead.readBranch(spark, dir, "dev").count() === 30)
    // sticky follow-ups on both sides stay correct
    PaimonWrite.commitPk(spark.range(0, 5).select($"id".as("k"),
      lit(99.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.commitPk(spark.range(100, 105).select($"id".as("k"),
      lit(50.0).as("x")), br, Seq("k"), assumeKeyUnique = true)
    assert(PaimonRead.read(spark, dir).filter($"x" === 99.0).count() === 5)
    assert(PaimonRead.readBranch(spark, dir, "dev")
      .filter($"x" === 50.0).count() === 5)
    // rollback guard: a branch forked at s1 allows rolling to 1... but
    // main is AT-or-past its own commits; forked-past-target refusal:
    val dir2 = fresh("rbguard")
    PaimonWrite.commitPk(spark.range(0, 10).select($"id".as("k"),
      ($"id" * 1.0).as("x")), dir2, Seq("k"), numBuckets = 2)         // s1
    PaimonWrite.commitPk(spark.range(10, 20).select($"id".as("k"),
      ($"id" * 1.0).as("x")), dir2, Seq("k"), assumeKeyUnique = true) // s2
    PaimonWrite.createBranch(spark, dir2, "late") // forks at s2
    intercept[IllegalArgumentException] {
      PaimonWrite.rollbackTo(spark, dir2, 1L) // would reclaim s2's files
    }
    PaimonWrite.deleteBranch(spark, dir2, "late")
    assert(PaimonWrite.rollbackTo(spark, dir2, 1L) === Seq(2L))
    assert(PaimonRead.read(spark, dir2).count() === 10)
  }

  test("create from tag; branch survives main expiry; drop-branch debris becomes orphans") {
    val dir = fresh("tag")
    PaimonWrite.commitPk(spark.range(0, 30).select($"id".as("k"),
      ($"id" * 1.0).as("x")), dir, Seq("k"), numBuckets = 2)          // s1
    PaimonWrite.createTag(spark, dir, "v1", Some(1L))
    PaimonWrite.commitPk(spark.range(0, 30).select($"id".as("k"),
      lit(9.0).as("x")), dir, Seq("k"), assumeKeyUnique = true)       // s2
    PaimonWrite.createBranch(spark, dir, "fix", fromTag = Some("v1"))
    val br = PaimonRead.branchRoot(dir, "fix")
    PaimonWrite.commitPk(spark.range(100, 110).select($"id".as("k"),
      ($"id" * 1.0).as("x")), br, Seq("k"), assumeKeyUnique = true)
    PaimonWrite.compact(spark, dir)                                    // s3 main
    // expire main down to the latest: the branch still reads both its
    // fork-point rows (main s1 files) and its own commit
    PaimonWrite.expireSnapshots(spark, dir, retainLast = 1)
    assert(PaimonRead.read(spark, dir).count() === 30)
    val b = PaimonRead.readBranch(spark, dir, "fix")
    assert(b.count() === 40)
    assert(b.filter($"k" >= 100).count() === 10)
    // orphan sweep keeps branch-reachable files
    assert(PaimonWrite.removeOrphanFiles(spark, dir, olderThanMillis = 0L)
      === Nil)
    assert(PaimonRead.readBranch(spark, dir, "fix").count() === 40)
    // drop the branch: its exclusive data files become orphans
    PaimonWrite.deleteBranch(spark, dir, "fix")
    assert(PaimonRead.branches(spark, dir) === Nil)
    val orphans = PaimonWrite.removeOrphanFiles(spark, dir,
      olderThanMillis = 0L)
    assert(orphans.nonEmpty, "the dropped branch's exclusive runs were orphans")
    assert(PaimonRead.read(spark, dir).orderBy($"k").collect()
      .forall(_.getDouble(1) === 9.0))
  }
}
