package graft

import org.apache.spark.sql.functions._
import graft.sources.Lake

/** Merge-on-read delete vectors (`Lake.deleteMor` / `Lake.foldDeletes`)
  * — the reference primary-key table's DelVec path
  * (`be/src/storage/del_vector.cpp`): positional deletes recorded
  * beside immutable files, masked at read time, folded by compaction.
  */
class LakeDeletesSpec extends SparkSuite {
  import spark.implicits._

  private def mkOrders = spark.range(0, 2000)
    .select($"id".as("k"), ($"id" % 7).cast("int").as("grp"),
      ($"id" * 31 % 1000).cast("double").as("price"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("deleteMor masks rows without rewriting any data file") {
    val dir = tmp("mor_basic")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    val before = Lake.readSnapshot(spark, dir, 1)
    val v = Lake.deleteMor(spark, dir, $"k" % 10 === 3)
    assert(v === 2)
    val after = Lake.readSnapshot(spark, dir, 2)
    // data files untouched — only a sidecar was added
    assert(after.files.map(_.path) === before.files.map(_.path))
    assert(after.dvFiles.size === 1)
    val got = Lake.read(spark, dir).agg(count(lit(1)), sum($"k")).collect()(0)
    val expect = (0 until 2000).filterNot(_ % 10 == 3)
    assert(got.getLong(0) === expect.size.toLong)
    assert(got.getLong(1) === expect.map(_.toLong).sum)
  }

  test("stacked deletes apply together; re-delete of masked rows is a no-op") {
    val dir = tmp("mor_stack")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    Lake.deleteMor(spark, dir, $"k" < 100)
    val v2 = Lake.deleteMor(spark, dir, $"k" >= 1900)
    assert(v2 === 3)
    assert(Lake.readSnapshot(spark, dir, 3).dvFiles.size === 2)
    assert(Lake.read(spark, dir).count() === 1800L)
    // same predicate again: every match already masked -> no commit
    val v3 = Lake.deleteMor(spark, dir, $"k" < 100)
    assert(v3 === 3)
    // NULL predicate rows are kept (SQL DELETE semantics)
    val v4 = Lake.deleteMor(spark, dir,
      when($"k" % 2 === 0, lit(null).cast("boolean")).otherwise($"k" === 101))
    assert(Lake.read(spark, dir, Some(v4)).count() === 1799L)
  }

  test("time travel shows pre-delete snapshots unmasked") {
    val dir = tmp("mor_tt")
    Lake.write(mkOrders, dir, Nil)
    Lake.deleteMor(spark, dir, $"grp" === 2)
    assert(Lake.read(spark, dir, Some(1)).count() === 2000L)
    assert(Lake.read(spark, dir, Some(2)).count() ===
      (0 until 2000).count(_ % 7 != 2).toLong)
  }

  test("foldDeletes rewrites only dirty files and clears the vectors") {
    val dir = tmp("mor_fold")
    // cluster by k so deletes land in a subset of files
    Lake.write(mkOrders.repartitionByRange(8, $"k").sortWithinPartitions($"k"),
      dir, Nil)
    Lake.deleteMor(spark, dir, $"k" < 250) // hits ~1 of 8 range files
    val snapDv = Lake.readSnapshot(spark, dir, 2)
    val vFold = Lake.foldDeletes(spark, dir)
    val folded = Lake.readSnapshot(spark, dir, vFold)
    assert(folded.dvFiles.isEmpty)
    // clean files carried by reference
    val keptPaths = folded.files.map(_.path).toSet
    val carried = snapDv.files.map(_.path).count(keptPaths.contains)
    assert(carried >= 6, s"expected most files carried by reference, got $carried")
    assert(carried < snapDv.files.size, "at least one file must be rewritten")
    // contents identical to the masked read
    val rows = Lake.read(spark, dir).orderBy($"k").select($"k").as[Long].collect()
    assert(rows.toSeq === (250L until 2000L))
    // folding again is a no-op
    assert(Lake.foldDeletes(spark, dir) === vFold)
  }

  test("partitioned table with encoded partition values round-trips the mask and fold") {
    val dir = tmp("mor_part")
    val df = spark.range(0, 600)
      .select($"id".as("k"),
        when($"id" % 3 === 0, "north region").when($"id" % 3 === 1, "s%uth")
          .otherwise("east").as("reg"))
    Lake.write(df, dir, Seq("reg"))
    Lake.deleteMor(spark, dir, $"k" % 5 === 0 && $"reg" === "north region")
    val expect = (0 until 600).filterNot(i => i % 5 == 0 && i % 3 == 0)
    assert(Lake.read(spark, dir).count() === expect.size.toLong)
    val byReg = Lake.read(spark, dir).groupBy($"reg").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byReg("north region") === (0 until 600).count(i => i % 3 == 0 && i % 5 != 0).toLong)
    assert(byReg("s%uth") === (0 until 600).count(_ % 3 == 1).toLong)
    Lake.foldDeletes(spark, dir)
    assert(Lake.read(spark, dir).count() === expect.size.toLong)
    assert(Lake.read(spark, dir).groupBy($"reg").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === byReg)
  }

  test("CoW update on a table with pending vectors auto-folds; deletes stay deleted") {
    val dir = tmp("mor_autofold")
    Lake.write(mkOrders.repartition(3), dir, Nil)
    Lake.deleteMor(spark, dir, $"k" < 500)
    Lake.update(spark, dir, $"k" >= 1500, Map("price" -> lit(-1.0)))
    val out = Lake.read(spark, dir)
    assert(out.count() === 1500L)
    assert(out.filter($"k" < 500).count() === 0L, "deleted rows resurrected by CoW rewrite")
    assert(out.filter($"price" === -1.0).count() === 500L)
    assert(Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir)).dvFiles.isEmpty)
  }

  test("append after deleteMor keeps the mask on carried files") {
    val dir = tmp("mor_append")
    Lake.write(mkOrders, dir, Nil)
    Lake.deleteMor(spark, dir, $"k" < 1000)
    Lake.write(spark.range(5000, 5100).select($"id".as("k"),
      lit(0).as("grp"), lit(9.9).as("price")), dir, Nil, mode = "append")
    val ks = Lake.read(spark, dir).select($"k").as[Long].collect().sorted
    assert(ks.toSeq === ((1000L until 2000L) ++ (5000L until 5100L)))
  }

  test("clone carries the mask to the copied table") {
    val src = tmp("mor_clone_src"); val dst = tmp("mor_clone_dst") + "/t"
    Lake.write(mkOrders, src, Nil)
    Lake.deleteMor(spark, src, $"grp" === 0)
    Lake.clone(spark, src, dst)
    val expect = (0 until 2000).count(_ % 7 != 0).toLong
    assert(Lake.read(spark, dst).count() === expect)
    // clone is independent: folding the source does not disturb the clone
    Lake.foldDeletes(spark, src)
    assert(Lake.read(spark, dst).count() === expect)
  }

  test("clone from a source root with URI-encodable characters keeps the mask") {
    // sidecar __graft_dv_file values store the PERCENT-ENCODED
    // _metadata.file_path rendering; the clone's prefix rewrite must
    // therefore match against the encoded source root — a raw-path
    // match silently keeps the source references and resurrects
    // deleted rows in the clone
    val src = tmp("mor clone enc") + "/a b"
    val dst = tmp("mor_clone_enc_dst") + "/t"
    Lake.write(mkOrders, src, Nil)
    Lake.deleteMor(spark, src, $"grp" === 0)
    Lake.clone(spark, src, dst)
    val expect = (0 until 2000).count(_ % 7 != 0).toLong
    assert(Lake.read(spark, dst).count() === expect,
      "deleted rows reappeared in the clone — DV path rewrite missed")
    val dvEntries = Lake.readSnapshot(spark, dst, 1).dvFiles
      .flatMap(d => spark.read.parquet(d).select("__graft_dv_file")
        .collect().map(_.getString(0)))
    assert(dvEntries.nonEmpty && dvEntries.forall(!_.contains("a%20b")),
      s"cloned sidecars still reference the source root: ${dvEntries.head}")
  }

  test("vacuum GCs sidecars no retained snapshot references") {
    val dir = tmp("mor_vacuum")
    Lake.write(mkOrders, dir, Nil)          // v1
    Lake.deleteMor(spark, dir, $"k" < 100)  // v2 + sidecar
    Lake.foldDeletes(spark, dir)            // v3, sidecar unreferenced by v3
    val f = new java.io.File(s"$dir/deletes")
    assert(f.listFiles().nonEmpty)
    Lake.vacuum(spark, dir, retainLast = 1)
    assert(!f.exists() || f.listFiles().isEmpty, "folded sidecar should be GC'd")
    assert(Lake.read(spark, dir).count() === 1900L)
    // sidecar still referenced by a retained snapshot survives vacuum
    val dir2 = tmp("mor_vacuum2")
    Lake.write(mkOrders, dir2, Nil)
    Lake.deleteMor(spark, dir2, $"k" < 100)
    Lake.vacuum(spark, dir2, retainLast = 1)
    assert(Lake.read(spark, dir2).count() === 1900L)
  }

  test("masked read plans a broadcast anti-join, no shuffle of the data side") {
    val dir = tmp("mor_plan")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    Lake.deleteMor(spark, dir, $"k" === 7)
    val plan = Lake.read(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"data side must not shuffle:\n$plan")
  }

  test("rollback to a vectored version carries its mask") {
    val dir = tmp("mor_rollback")
    Lake.write(mkOrders, dir, Nil)          // v1
    Lake.deleteMor(spark, dir, $"k" < 100)  // v2
    Lake.foldDeletes(spark, dir)            // v3
    Lake.rollback(spark, dir, 2)            // v4 == v2's files + dv
    assert(Lake.readSnapshot(spark, dir, 4).dvFiles.nonEmpty)
    assert(Lake.read(spark, dir).count() === 1900L)
  }

  test("mergeMor upserts without rewriting any data file") {
    val dir = tmp("mor_merge")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    val before = Lake.readSnapshot(spark, dir, 1)
    // replace k in [0,50), insert k in [5000,5050)
    val src = spark.range(0, 100).select(
      when($"id" < 50, $"id").otherwise($"id" + 4950).as("k"),
      lit(99).cast("int").as("grp"), lit(-5.0).as("price"))
    val v = Lake.mergeMor(spark, dir, src, Seq("k"))
    val after = Lake.readSnapshot(spark, dir, v)
    assert(before.files.map(_.path).forall(after.files.map(_.path).contains),
      "original data files must carry by reference")
    assert(after.dvFiles.size === 1)
    val out = Lake.read(spark, dir)
    assert(out.count() === 2050L)
    assert(out.filter($"grp" === 99).count() === 100L)
    assert(out.filter($"k" < 50 && $"grp" =!= 99).count() === 0L,
      "replaced rows still visible")
    // fold keeps the merged state
    Lake.foldDeletes(spark, dir)
    assert(Lake.read(spark, dir).filter($"grp" === 99).count() === 100L)
    assert(Lake.read(spark, dir).count() === 2050L)
  }

  test("mergeMor insert-only commits no delete vector; stacks on prior deleteMor") {
    val dir = tmp("mor_merge2")
    Lake.write(mkOrders, dir, Nil)
    Lake.deleteMor(spark, dir, $"k" < 100)
    // insert-only merge: keys all new
    val ins = spark.range(9000, 9010).select($"id".as("k"),
      lit(1).cast("int").as("grp"), lit(0.0).as("price"))
    val v = Lake.mergeMor(spark, dir, ins, Seq("k"))
    assert(Lake.readSnapshot(spark, dir, v).dvFiles.size === 1, "no new DV expected")
    assert(Lake.read(spark, dir).count() === 1910L)
    // upsert over still-masked rows: k<100 are deleted, so a source
    // row with k=50 INSERTS (no position match)
    Lake.mergeMor(spark, dir, spark.range(50, 51).select($"id".as("k"),
      lit(7).cast("int").as("grp"), lit(1.0).as("price")), Seq("k"))
    val out = Lake.read(spark, dir)
    assert(out.filter($"k" === 50).count() === 1L)
    assert(out.filter($"k" === 50).select($"grp").as[Int].head() === 7)
  }

  test("timestamp time travel resolves the snapshot current at a wall clock") {
    val dir = tmp("mor_ts")
    Lake.write(mkOrders, dir, Nil)
    Thread.sleep(15)
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    Lake.deleteMor(spark, dir, $"k" < 1000)
    assert(Lake.versionAt(spark, dir, t1) === 1)
    assert(Lake.readAsOfTimestamp(spark, dir, t1).count() === 2000L)
    assert(Lake.readAsOfTimestamp(spark, dir, System.currentTimeMillis())
      .count() === 1000L)
    intercept[IllegalArgumentException] { Lake.versionAt(spark, dir, 1000L) }
  }

  test("manifest JSON round-trips dvFiles; old manifests read as empty") {
    val dir = tmp("mor_json")
    Lake.write(mkOrders, dir, Nil)
    assert(Lake.readSnapshot(spark, dir, 1).dvFiles === Nil)
    Lake.deleteMor(spark, dir, $"k" === 1)
    val s = Lake.readSnapshot(spark, dir, 2)
    assert(s.dvFiles.size === 1 && s.dvFiles.head.contains("/deletes/dv-2-"))
  }

  test("recorded vectors plan a masked read, a change feed and a score with no Spark job") {
    val dir = tmp("mor_nojob")
    Lake.write(mkOrders.repartitionByRange(4, $"k"), dir, Nil) // v1
    Lake.deleteMor(spark, dir, $"k" < 100)                     // v2
    Lake.mergeMor(spark, dir, spark.range(1900, 2100).select($"id".as("k"),
      lit(1).as("grp"), lit(0.0).as("price")), Seq("k"))       // v3
    val snap = Lake.readSnapshot(spark, dir, 3)
    assert(snap.dvRecords.keySet === snap.dvFiles.toSet)
    assert(snap.dvRecords.values.map(_.rows).sum === 200L)
    val (read, readJobs) = jobsDuring(Lake.read(spark, dir))
    val (feed, feedJobs) = jobsDuring(Lake.changes(spark, dir, 1, 3))
    val (score, scoreJobs) = jobsDuring(Lake.compactionScore(spark, dir))
    assert(readJobs.isEmpty && feedJobs.isEmpty && scoreJobs.isEmpty,
      s"planning ran jobs: read $readJobs, changes $feedJobs, score $scoreJobs")
    assert(score.dvRows === 200L)
    assert(read.count() === 2000L)
    assert(feed.groupBy($"__change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("delete" -> 200L, "insert" -> 200L))
    val before = read.orderBy($"k").collect().toSeq
    // the fold plans from the record: its only SQL execution is the
    // rewrite of the dirty files
    val (_, foldJobs) = jobsDuring(Lake.foldDeletes(spark, dir))
    assert(foldJobs.nonEmpty && foldJobs.distinct.size === 1,
      s"fold ran jobs outside its rewrite: $foldJobs")
    assert(Lake.read(spark, dir).orderBy($"k").collect().toSeq === before)
  }

  /** Rewrite every manifest of `dir` without its `dvRecords` — the
    * shape of a table committed before the record existed. */
  private def stripRecords(dir: String): Unit = {
    val mapper = graft.functions.JsonKernel.mapper
    new java.io.File(s"$dir/metadata").listFiles()
      .filter(_.getName.matches("""v\d+\.json""")).foreach { f =>
        val m = mapper.readValue(f, classOf[java.util.Map[String, Object]])
        m.remove("dvRecords")
        java.nio.file.Files.write(f.toPath, mapper.writeValueAsBytes(m))
      }
  }

  test("a manifest without the record reads, folds and feeds changes like one with it") {
    def build(tag: String): String = {
      val dir = tmp(tag)
      Lake.write(mkOrders.repartitionByRange(4, $"k"), dir, Nil)
      Lake.deleteMor(spark, dir, $"k" % 10 === 3)
      Lake.mergeMor(spark, dir, spark.range(1950, 2050).select($"id".as("k"),
        lit(2).as("grp"), lit(5.0).as("price")), Seq("k"))
      Lake.updateMor(spark, dir, $"k" >= 1500 && $"k" < 1600,
        Map("price" -> lit(-1.0)))
      dir
    }
    val recorded = build("mor_rec")
    val legacy = build("mor_norec")
    stripRecords(legacy)
    assert(Lake.readSnapshot(spark, recorded, 4).dvRecords.size === 3)
    assert(Lake.readSnapshot(spark, legacy, 4).dvRecords.isEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def same(what: String): Unit = {
      assert(rows(Lake.read(spark, legacy)) === rows(Lake.read(spark, recorded)),
        s"$what: reads differ")
      val to = Lake.currentVersion(spark, recorded)
      assert(rows(Lake.changes(spark, legacy, 1, to)) ===
        rows(Lake.changes(spark, recorded, 1, to)), s"$what: change feeds differ")
      assert(Lake.compactionScore(spark, legacy) ===
        Lake.compactionScore(spark, recorded), s"$what: scores differ")
    }
    same("pre-record vectors")
    // a recorded vector stacked on the legacy ones
    Seq(legacy, recorded).foreach(d => Lake.deleteMor(spark, d, $"k" === 1))
    assert(Lake.readSnapshot(spark, legacy, 5).dvRecords.size === 1)
    same("mixed vectors")
    val folded = Seq(legacy, recorded).map { d =>
      Lake.readSnapshot(spark, d, Lake.foldDeletes(spark, d)) }
    assert(folded.map(_.files.size).distinct.size === 1,
      "both folds must rewrite the same dirty files")
    assert(folded.forall(s => s.dvFiles.isEmpty && s.dvRecords.isEmpty))
    same("folded")
  }
}
