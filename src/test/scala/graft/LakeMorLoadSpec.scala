package graft

import org.apache.spark.sql.functions._
import graft.sources.Lake

/** The reference primary-key LOAD modes riding the merge-on-read
  * commit (`docs/en/loading/Load_to_Primary_Key_tables.md`): the
  * `__op` upsert/delete field, conditional updates
  * (`merge_condition`), row-mode partial updates — plus the MoR
  * flavor of UPDATE (new row images appended, old positions
  * delete-vectored).
  */
class LakeMorLoadSpec extends SparkSuite {
  import spark.implicits._

  private def mkOrders = spark.range(0, 2000)
    .select($"id".as("k"), ($"id" % 7).cast("int").as("grp"),
      ($"id" * 31 % 1000).cast("double").as("price"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("__op load mixes upserts, deletes, and inserts in one commit") {
    val dir = tmp("mor_op")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    val before = Lake.readSnapshot(spark, dir, 1)
    // delete k in [0,100), upsert k in [100,200) to grp 50, insert
    // k in [9000,9100)
    val src = spark.range(0, 300).select(
      when($"id" < 200, $"id").otherwise($"id" + 8800).as("k"),
      lit(50).cast("int").as("grp"), lit(1.0).as("price"),
      when($"id" < 100, 1).otherwise(0).as("__op"))
    val v = Lake.mergeMor(spark, dir, src, Seq("k"), opCol = Some("__op"))
    val after = Lake.readSnapshot(spark, dir, v)
    assert(before.files.map(_.path).forall(after.files.map(_.path).contains),
      "no target file may be rewritten")
    assert(after.dvFiles.size === 1)
    val out = Lake.read(spark, dir)
    assert(out.count() === 2000L) // -100 deleted +100 inserted
    assert(out.filter($"k" < 100).count() === 0L, "deletes applied")
    assert(out.filter($"k" >= 100 && $"k" < 200 && $"grp" === 50)
      .count() === 100L, "upserts applied")
    assert(out.filter($"k" >= 9000).count() === 100L, "inserts applied")
    // the op column never lands in the table
    assert(!out.columns.contains("__op"))
  }

  test("__op load rejects a key carrying both ops; op column name clash") {
    val dir = tmp("mor_op2")
    Lake.write(mkOrders, dir, Nil)
    val both = Seq((5L, 0), (5L, 1)).toDF("k", "__op")
      .withColumn("grp", lit(1)).withColumn("price", lit(0.0))
    intercept[IllegalArgumentException] {
      Lake.mergeMor(spark, dir, both, Seq("k"), opCol = Some("__op"))
    }
    intercept[IllegalArgumentException] {
      Lake.mergeMor(spark, dir, mkOrders, Seq("k"), opCol = Some("grp"))
    }
  }

  test("merge condition: only source rows with cond >= target land") {
    val dir = tmp("mor_cond")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    // target grp = k % 7; source grp = 3 for k < 700 → accepted only
    // where k % 7 <= 3 (k%7 in 0..3 = 400 of the 700 keys)
    val src = spark.range(0, 700).select($"id".as("k"),
      lit(3).cast("int").as("grp"), lit(-1.0).as("price"))
    val v = Lake.mergeMor(spark, dir, src, Seq("k"),
      mergeCondition = Some("grp"))
    val out = Lake.read(spark, dir)
    assert(out.count() === 2000L)
    assert(out.filter($"price" === -1.0).count() === 400L)
    // rejected rows keep their original values AND positions (no DV)
    assert(out.filter($"k" < 700 && $"grp" > 3 && $"price" === -1.0)
      .count() === 0L)
    assert(out.filter($"k" === 6).select($"grp").as[Int].head() === 6)
    // a NULL source condition never wins
    val nullSrc = Seq((0L, null.asInstanceOf[Integer], 7.0))
      .toDF("k", "grp", "price")
    Lake.mergeMor(spark, dir, nullSrc, Seq("k"), mergeCondition = Some("grp"))
    assert(Lake.read(spark, dir).filter($"k" === 0)
      .select($"price").as[Double].head() === -1.0)
    // unmatched (insert) rows land regardless of condition
    val ins = Seq((5000L, 0, 9.0)).toDF("k", "grp", "price")
    Lake.mergeMor(spark, dir, ins, Seq("k"), mergeCondition = Some("grp"))
    assert(Lake.read(spark, dir).filter($"k" === 5000L).count() === 1L)
    assert(v === 2)
  }

  test("merge condition rejecting every row commits nothing") {
    val dir = tmp("mor_cond2")
    Lake.write(mkOrders, dir, Nil)
    val src = spark.range(0, 50).select($"id".as("k"),
      lit(-1).cast("int").as("grp"), lit(0.0).as("price"))
    val v = Lake.mergeMor(spark, dir, src, Seq("k"),
      mergeCondition = Some("grp"))
    assert(v === 1, "no-op load must not advance the version")
    assert(Lake.read(spark, dir).count() === 2000L)
  }

  test("partial update carries unprovided columns on match, NULL on insert") {
    val dir = tmp("mor_part")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    // update price for k < 100 (grp carried), insert k in [8000,8010)
    val src = spark.range(0, 110).select(
      when($"id" < 100, $"id").otherwise($"id" + 7900).as("k"),
      lit(123.5).as("price"))
    val v = Lake.mergeMor(spark, dir, src, Seq("k"), partialUpdate = true)
    val out = Lake.read(spark, dir)
    assert(out.count() === 2010L)
    val upd = out.filter($"k" < 100)
    assert(upd.filter($"price" === 123.5).count() === 100L)
    // grp carried from the pre-update rows: k % 7
    assert(upd.filter($"grp" =!= ($"k" % 7).cast("int")).count() === 0L)
    val ins = out.filter($"k" >= 8000)
    assert(ins.count() === 10L)
    assert(ins.filter($"grp".isNull).count() === 10L, "insert gets NULL")
    // provided-NULL wins: explicit NULL price lands as NULL
    val nullPrice = Seq((0L, null.asInstanceOf[java.lang.Double]))
      .toDF("k", "price")
    Lake.mergeMor(spark, dir, nullPrice, Seq("k"), partialUpdate = true)
    val r0 = Lake.read(spark, dir).filter($"k" === 0)
    assert(r0.filter($"price".isNull).count() === 1L)
    assert(r0.select($"grp").as[Int].head() === 0, "grp still carried")
    assert(v === 2)
  }

  test("partial update must provide keys and partition columns") {
    val dir = tmp("mor_part2")
    Lake.write(mkOrders, dir, Seq("grp"))
    val noPart = spark.range(0, 5).select($"id".as("k"), lit(1.0).as("price"))
    intercept[IllegalArgumentException] {
      Lake.mergeMor(spark, dir, noPart, Seq("k"), partialUpdate = true)
    }
    val noKey = spark.range(0, 5).select(lit(1.0).as("price"))
    intercept[IllegalArgumentException] {
      Lake.mergeMor(spark, dir, noKey, Seq("k"), partialUpdate = true)
    }
  }

  test("op + condition + partial compose in one load") {
    val dir = tmp("mor_all")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    // source provides k, grp (condition col), __op — price unprovided.
    // deletes k in [0,10) unconditionally; upserts k in [10,30) with
    // grp=3 (accepted only where k%7<=3, price carried)
    val src = spark.range(0, 30).select($"id".as("k"),
      lit(3).cast("int").as("grp"),
      when($"id" < 10, 1).otherwise(0).as("__op"))
    Lake.mergeMor(spark, dir, src, Seq("k"), opCol = Some("__op"),
      mergeCondition = Some("grp"), partialUpdate = true)
    val out = Lake.read(spark, dir)
    assert(out.filter($"k" < 10).count() === 0L, "deletes unconditional")
    val accepted = (10 until 30).count(_ % 7 <= 3)
    assert(out.filter($"k" >= 10 && $"k" < 30 && $"grp" === 3).count() ===
      accepted.toLong)
    // accepted rows carried their price: k*31 % 1000
    assert(out.filter($"k" >= 10 && $"k" < 30 && $"grp" === 3 &&
      $"price" =!= ($"k" * 31 % 1000).cast("double")).count() === 0L)
    assert(out.count() === 1990L)
  }

  test("autoEvolve: a load carrying a new column ADD-COLUMNs first") {
    val dir = tmp("mor_evolve")
    Lake.write(mkOrders, dir, Nil)
    val src = spark.range(0, 10).select($"id".as("k"),
      lit(1).cast("int").as("grp"), lit(2.0).as("price"),
      lit("tagged").as("note"))
    // default: the unknown column is ignored, schema unchanged
    Lake.mergeMor(spark, dir, src, Seq("k"))
    assert(!Lake.read(spark, dir).columns.contains("note"))
    // autoEvolve: column added, old rows read NULL, load rows carry it
    Lake.mergeMor(spark, dir, src, Seq("k"), autoEvolve = true)
    val out = Lake.read(spark, dir)
    assert(out.columns.contains("note"))
    assert(out.filter($"note" === "tagged").count() === 10L)
    assert(out.filter($"note".isNull).count() === 1990L)
    // a second evolving load with the same column is a plain load
    Lake.mergeMor(spark, dir, src.withColumn("note", lit("again")),
      Seq("k"), autoEvolve = true)
    assert(Lake.read(spark, dir).filter($"note" === "again").count() === 10L)
  }

  test("updateMor rewrites no file; new images appended, positions masked") {
    val dir = tmp("mor_upd")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    val before = Lake.readSnapshot(spark, dir, 1)
    val v = Lake.updateMor(spark, dir, $"k" % 10 === 3,
      Map("price" -> ($"price" * 2), "grp" -> lit(99)))
    val after = Lake.readSnapshot(spark, dir, v)
    assert(before.files.map(_.path).forall(after.files.map(_.path).contains))
    assert(after.dvFiles.size === 1)
    val out = Lake.read(spark, dir)
    assert(out.count() === 2000L)
    assert(out.filter($"grp" === 99).count() === 200L)
    assert(out.filter($"k" % 10 === 3 &&
      $"price" =!= ($"k" * 31 % 1000).cast("double") * 2).count() === 0L)
    // NULL predicate rows kept; nothing-matched returns current version
    assert(Lake.updateMor(spark, dir,
      when($"k" === -1, lit(true)), Map("grp" -> lit(0))) === v)
    // fold keeps the state
    Lake.foldDeletes(spark, dir)
    assert(Lake.read(spark, dir).filter($"grp" === 99).count() === 200L)
  }

  test("changes: MoR commits replay as insert/delete rows at O(delta)") {
    val dir = tmp("mor_chg")
    Lake.write(mkOrders.repartition(4), dir, Nil)               // v1
    // v2: upsert k in [0,50) (delete old + insert new), insert [5000,5010)
    Lake.mergeMor(spark, dir, spark.range(0, 60).select(
      when($"id" < 50, $"id").otherwise($"id" + 4950).as("k"),
      lit(77).cast("int").as("grp"), lit(0.5).as("price")), Seq("k"))
    // v3: delete k in [100,150)
    Lake.deleteMor(spark, dir, $"k" >= 100 && $"k" < 150)
    val ch = Lake.changes(spark, dir, 1, 3)
    val ins = ch.filter($"__change_type" === "insert")
    val del = ch.filter($"__change_type" === "delete")
    assert(ins.count() === 60L)
    assert(ins.filter($"grp" === 77).count() === 60L)
    assert(del.count() === 100L) // 50 replaced + 50 deleted
    // the delete rows carry the OLD images (grp = k % 7, not 77)
    assert(del.filter($"grp" === 77).count() === 0L)
    assert(del.filter($"__commit_version" === 2 && $"k" >= 50).count() === 0L)
    // replay: v1 minus deletes plus inserts equals the live read
    val v1 = Lake.read(spark, dir, Some(1))
    val replayed = v1.join(del.select($"k", $"grp", $"price"),
        Seq("k", "grp", "price"), "left_anti")
      .unionByName(ins.select($"k", $"grp", $"price"))
    val live = Lake.read(spark, dir)
    assert(replayed.count() === live.count())
    assert(replayed.agg(sum($"k"), sum($"price")).collect()(0) ===
      live.agg(sum($"k"), sum($"price")).collect()(0))
    // an updateMor shows as a delete/insert pair for the same key
    Lake.updateMor(spark, dir, $"k" === 200, Map("price" -> lit(9.9)))
    val ch4 = Lake.changes(spark, dir, 3, 4)
    assert(ch4.filter($"k" === 200).count() === 2L)
  }

  test("changes: a CoW rewrite emits file-level retractions, net-equal to snapshotDiff; poll survives") {
    val dir = tmp("mor_chgcow")
    Lake.write(mkOrders.repartition(4), dir, Nil)                // v1
    // MoR load, then an interleaved CoW UPDATE, then another MoR load
    Lake.mergeMor(spark, dir, spark.range(0, 20).select($"id".as("k"),
      lit(50).cast("int").as("grp"), lit(2.0).as("price")), Seq("k")) // v2
    Lake.update(spark, dir, $"k" >= 500 && $"k" < 520,
      Map("price" -> lit(111.0)))                                // v3+ (auto-fold first)
    val v3 = Lake.currentVersion(spark, dir)
    Lake.deleteMor(spark, dir, $"k" >= 900 && $"k" < 910)        // v4
    val v4 = Lake.currentVersion(spark, dir)
    val ch = Lake.changes(spark, dir, 1, v4)
    // carried rows of rewritten files appear as self-cancelling
    // delete+insert pairs: folding the feed by full row value must
    // equal the keyed snapshotDiff's net effect
    val net = ch.groupBy($"k", $"grp", $"price")
      .agg(sum(when($"__change_type" === "insert", 1).otherwise(-1)).as("d"))
      .filter($"d" =!= 0)
    val sd = Lake.snapshotDiff(spark, dir, "k", 1, v4, withValues = true)
      .filter($"status" =!= "unchanged")
    // every net change matches the keyed diff
    val netIns = net.filter($"d" > 0).count()
    val netDel = net.filter($"d" < 0).count()
    assert(netIns === sd.filter($"status" === "inserted").count() +
      sd.filter($"status" === "changed").count(),
      "net inserts != keyed diff inserts+changed")
    assert(netDel === sd.filter($"status" === "deleted").count() +
      sd.filter($"status" === "changed").count(),
      "net deletes != keyed diff deleted+changed")
    // replay closure (multiset): v1 + feed inserts - feed deletes == live
    val v1r = Lake.read(spark, dir, Some(1))
    val del = ch.filter($"__change_type" === "delete").select($"k", $"grp", $"price")
    val ins = ch.filter($"__change_type" === "insert").select($"k", $"grp", $"price")
    val replayed = v1r.unionByName(ins).exceptAll(del)
    val live = Lake.read(spark, dir).select($"k", $"grp", $"price")
    assert(replayed.exceptAll(live).isEmpty && live.exceptAll(replayed).isEmpty,
      "replayed state != live state")
    // ChangeFeed.poll spans the CoW step without wedging, cursor advances
    import graft.streaming.ChangeFeed
    val ledger = s"$dir/../cow_cur_${System.nanoTime()}"
    ChangeFeed.commitCursor(spark, ledger, 1)
    var polledRows = -1L
    val win = ChangeFeed.poll(spark, dir, ledger) { (c, _, _) =>
      polledRows = c.count() }
    assert(win.contains((1, v4)))
    assert(polledRows === ch.count())
    assert(ChangeFeed.readCursor(spark, ledger) === Some(v4))
    assert(v3 >= 3, "update should have committed after the merge")
  }

  test("changes: metadata-only and fold/compact commits are transparent") {
    val dir = tmp("mor_chgmeta")
    Lake.write(mkOrders.repartition(4), dir, Nil)
    Lake.setProps(spark, dir, Map("note" -> "x"))          // v2 metadata-only
    // quiet window: EMPTY frame, not an error (a poll must advance)
    val quiet = Lake.changes(spark, dir, 1, 2)
    assert(quiet.count() === 0L)
    assert(quiet.columns.contains("__change_type"))
    Lake.deleteMor(spark, dir, $"k" < 100)                  // v3
    Lake.foldDeletes(spark, dir)                            // v4 (marked)
    Lake.mergeMor(spark, dir, spark.range(0, 10).select($"id".as("k"),
      lit(9).cast("int").as("grp"), lit(1.0).as("price")), Seq("k")) // v5
    // the fold removed files but is a logical no-op — the walk skips it
    val ch = Lake.changes(spark, dir, 2, 5)
    assert(ch.filter($"__change_type" === "delete" &&
      $"__commit_version" === 3).count() === 100L)
    assert(ch.filter($"__commit_version" === 4).count() === 0L)
    assert(ch.filter($"__change_type" === "insert").count() === 10L)
    // ChangeFeed.poll advances over a trailing metadata-only commit
    import graft.streaming.ChangeFeed
    val ledger = s"$dir/../cur_${System.nanoTime()}"
    ChangeFeed.commitCursor(spark, ledger, 5)
    Lake.setProps(spark, dir, Map("note" -> "y"))           // v6
    var polled = -1L
    assert(ChangeFeed.poll(spark, dir, ledger) { (c, _, _) =>
      polled = c.count() }.contains((5, 6)))
    assert(polled === 0L)
    assert(ChangeFeed.readCursor(spark, ledger) === Some(6))
  }

  test("__op values outside 0/1/NULL fail loudly") {
    val dir = tmp("mor_opbad")
    Lake.write(mkOrders, dir, Nil)
    val bad = Seq((1L, 2), (2L, 0)).toDF("k", "__op")
      .withColumn("grp", lit(1)).withColumn("price", lit(0.0))
    intercept[IllegalArgumentException] {
      Lake.mergeMor(spark, dir, bad, Seq("k"), opCol = Some("__op"))
    }
    val stringy = Seq((1L, "delete")).toDF("k", "__op")
      .withColumn("grp", lit(1)).withColumn("price", lit(0.0))
    intercept[IllegalArgumentException] {
      Lake.mergeMor(spark, dir, stringy, Seq("k"), opCol = Some("__op"))
    }
  }

  test("changes on a partitioned table carries partition columns") {
    val dir = tmp("mor_chgpart")
    Lake.write(mkOrders, dir, Seq("grp"))
    Lake.mergeMor(spark, dir, spark.range(0, 20).select($"id".as("k"),
      lit(3).cast("int").as("grp"), lit(1.5).as("price")), Seq("k"))
    Lake.deleteMor(spark, dir, $"k" >= 1900 && $"grp" === 2)
    val ch = Lake.changes(spark, dir, 1, 3)
    assert(ch.columns.contains("grp"))
    val ins = ch.filter($"__change_type" === "insert")
    assert(ins.count() === 20L && ins.filter($"grp" === 3).count() === 20L)
    val del = ch.filter($"__change_type" === "delete")
    // 20 replaced old images (grp = k % 7) + the grp-2 range deletes
    val grp2Deleted = (1900 until 2000).count(_ % 7 == 2)
    assert(del.filter($"__commit_version" === 3).count() === grp2Deleted.toLong)
    assert(del.filter($"__commit_version" === 2).count() === 20L)
    assert(del.filter($"__commit_version" === 2 && $"grp" === ($"k" % 7).cast("int"))
      .count() === 20L, "old images carry their original partition value")
  }

  test("ChangeFeed cursor: initialVersion seeds the first poll; windows chain") {
    import graft.streaming.ChangeFeed
    val dir = tmp("mor_cf")
    val ledger = s"$dir/../cursor_${System.nanoTime()}"
    Lake.write(mkOrders, dir, Nil)                            // v1
    Lake.mergeMor(spark, dir, spark.range(0, 5).select($"id".as("k"),
      lit(1).cast("int").as("grp"), lit(0.0).as("price")), Seq("k")) // v2
    // consumer whose baseline was built at v2: first poll sees nothing
    assert(ChangeFeed.poll(spark, dir, ledger, initialVersion = 2)(
      (_, _, _) => ()).isEmpty)
    Lake.deleteMor(spark, dir, $"k" >= 1990)                  // v3
    var seen: Option[(Int, Int)] = None
    var rows = -1L
    ChangeFeed.poll(spark, dir, ledger, initialVersion = 2) { (ch, f, t) =>
      seen = Some((f, t)); rows = ch.count() }
    assert(seen === Some((2, 3)))
    assert(rows === 10L)
    assert(ChangeFeed.readCursor(spark, ledger) === Some(3))
  }

  test("updateMor can move rows across partitions") {
    val dir = tmp("mor_updpart")
    Lake.write(mkOrders, dir, Seq("grp"))
    Lake.updateMor(spark, dir, $"k" < 70, Map("grp" -> lit(42)))
    val out = Lake.read(spark, dir)
    assert(out.filter($"grp" === 42).count() === 70L)
    assert(out.filter($"k" < 70 && $"grp" =!= 42).count() === 0L)
    assert(out.count() === 2000L)
    // partition pruning still works on the new partition value
    assert(out.filter($"grp" === 42).select(sum($"k")).as[Long].head() ===
      (0 until 70).map(_.toLong).sum)
  }

  test("updateMor, expirePartitions, rollback and clone carry the vector record") {
    val dir = tmp("mor_record")
    Lake.write(mkOrders.withColumn("reg", ($"k" % 3).cast("string")),
      dir, Seq("reg"))                                            // v1
    Lake.deleteMor(spark, dir, $"k" < 300)                        // v2
    Lake.updateMor(spark, dir, $"k" >= 1800, Map("price" -> lit(-1.0))) // v3
    // every pending vector keeps its record, the record names files
    // under this table's root, and the masked read plans from it alone
    def check(d: String, keys: Seq[Long], updated: Long): Unit = {
      val s = Lake.readSnapshot(spark, d, Lake.currentVersion(spark, d))
      assert(s.dvFiles.nonEmpty && s.dvRecords.keySet === s.dvFiles.toSet)
      val root = new org.apache.hadoop.fs.Path(d).toUri.getPath
      assert(s.dvRecords.values.flatMap(_.files).forall(_.startsWith(s"$root/")),
        s"record names files outside $root: ${s.dvRecords}")
      val (out, jobs) = jobsDuring(Lake.read(spark, d))
      assert(jobs.isEmpty, s"masked read planning ran jobs: $jobs")
      assert(out.select($"k").as[Long].collect().sorted.toSeq === keys)
      assert(out.filter($"price" === -1.0).count() === updated)
    }
    val alive = 300L until 2000L
    check(dir, alive, 200L)
    Lake.expirePartitions(spark, dir, "reg", _ != "0")            // v4
    check(dir, alive.filter(_ % 3 != 0), (1800 until 2000).count(_ % 3 != 0).toLong)
    Lake.rollback(spark, dir, 3)                                  // v5
    check(dir, alive, 200L)
    val dst = tmp("mor_record_clone") + "/t"
    Lake.clone(spark, dir, dst)
    check(dst, alive, 200L)
    // the clone's fold rewrites the clone's own dirty files
    Lake.foldDeletes(spark, dst)
    assert(Lake.read(spark, dst).select($"k").as[Long].collect().sorted.toSeq === alive)
    check(dir, alive, 200L)
  }
}
