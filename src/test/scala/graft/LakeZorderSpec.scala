package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.Lake

class LakeZorderSpec extends SparkSuite {
  import spark.implicits._

  private def mkData = spark.range(0, 10000)
    .select($"id".as("x"), (($"id" * 37) % 10000).as("y"),
      concat(lit("row-"), lpad($"id".cast("string"), 6, "0")).as("tag"))

  test("manifest carries per-file min/max stats that match the data") {
    val dir = java.nio.file.Files.createTempDirectory("lake_stats").toString
    Lake.write(mkData.repartitionByRange(4, $"x").sortWithinPartitions($"x"), dir, Nil)
    val snap = Lake.readSnapshot(spark, dir, 1)
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      assert(f.stats.contains("x") && f.stats.contains("y") && f.stats.contains("tag"),
        s"missing stats in ${f.stats.keySet}")
    }
    // global min/max across files must equal the data's
    val xs = snap.files.map(_.stats("x")).map { case (a, b) => (a.toLong, b.toLong) }
    assert(xs.map(_._1).min === 0L && xs.map(_._2).max === 9999L)
    val tags = snap.files.map(_.stats("tag"))
    assert(tags.map(_._1).min === "row-000000" && tags.map(_._2).max === "row-009999")
    // range-clustered on x → per-file x ranges must be disjoint-ish (tight)
    val sorted = xs.sortBy(_._1)
    sorted.sliding(2).foreach { case Seq((_, aMax), (bMin, _)) =>
      assert(aMax <= bMin, s"x ranges overlap: $sorted")
    case _ => }
  }

  test("point query on the clustered column skips files via stats") {
    val dir = java.nio.file.Files.createTempDirectory("lake_skip").toString
    Lake.write(mkData.repartitionByRange(8, $"x").sortWithinPartitions($"x"), dir, Nil)
    val (lake, index) = Lake.readIndexed(spark, dir)
    val got = lake.filter($"x" === 4321L).select($"y").collect().map(_.getLong(0))
    assert(got.toSeq === Seq((4321L * 37) % 10000))
    assert(index.lastStatsSkippedFileCount >= 6,
      s"expected most of 8 files skipped, got ${index.lastStatsSkippedFileCount}")
    // string predicate skips too
    val n = lake.filter($"tag" === "row-001234").count()
    assert(n === 1L)
    assert(index.lastStatsSkippedFileCount >= 6)
    // a predicate matching nothing skips everything
    assert(lake.filter($"x" > 100000L).count() === 0L)
    assert(index.lastStatsSkippedFileCount === index.totalFileCount)
  }

  test("sortKeyWrite: leading-key predicates prune to the matching slice (string keys too)") {
    val dir = java.nio.file.Files.createTempDirectory("lake_sortkey").toString
    Lake.sortKeyWrite(mkData, dir, Seq("tag"), nFiles = 8)
    val (lake, index) = Lake.readIndexed(spark, dir)
    // a 10% range on the string sort key touches ~1 of 8 files
    val n = lake.filter($"tag" >= "row-001000" && $"tag" < "row-002000").count()
    assert(n === 1000L)
    assert(index.lastStatsSkippedFileCount >= 6,
      s"expected most of 8 files skipped, got ${index.lastStatsSkippedFileCount}")
    // point lookup on the key: one file survives
    assert(lake.filter($"tag" === "row-004321").count() === 1L)
    assert(index.lastStatsSkippedFileCount === index.totalFileCount - 1)
  }

  test("z-order clustering skips files on the NON-leading dimension where linear order cannot") {
    val linDir = java.nio.file.Files.createTempDirectory("lake_lin").toString
    val zDir = java.nio.file.Files.createTempDirectory("lake_z").toString
    Lake.write(mkData.repartitionByRange(16, $"x").sortWithinPartitions($"x"), linDir, Nil)
    Lake.zorderWrite(mkData, zDir, Seq("x", "y"), nFiles = 16)

    def skipped(dir: String): (Long, Int, Int) = {
      val (lake, index) = Lake.readIndexed(spark, dir)
      val n = lake.filter($"y" >= 100L && $"y" < 400L).count()
      (n, index.lastStatsSkippedFileCount, index.totalFileCount)
    }
    val (nLin, skLin, totLin) = skipped(linDir)
    val (nZ, skZ, totZ) = skipped(zDir)
    assert(nLin === nZ, "layout must not change query results")
    assert(nZ > 0)
    // y = (x*37)%10000 is spread uniformly across x-ranged files → a
    // y-box prunes nothing under linear order, but z-order gives every
    // file a bounded y extent
    assert(skLin === 0, s"linear layout unexpectedly skipped $skLin/$totLin")
    assert(skZ >= totZ / 4, s"z-order skipped only $skZ/$totZ files")
    // both dimensions prune on a 2-D box
    val (lakeZ, indexZ) = Lake.readIndexed(spark, zDir)
    val box = lakeZ.filter($"x" >= 1000L && $"x" < 2000L &&
      $"y" >= 1000L && $"y" < 2000L).count()
    val direct = mkData.filter($"x" >= 1000L && $"x" < 2000L &&
      $"y" >= 1000L && $"y" < 2000L).count()
    assert(box === direct)
    assert(indexZ.lastStatsSkippedFileCount > 0)
  }

  test("partition retention is manifest-only and time-travel-safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("id", "p")
    Lake.write(df, dir, Seq("p"))
    val before = Lake.read(spark, dir).count()
    val v2 = Lake.expirePartitions(spark, dir, "p", keep = _ != "a")
    assert(v2 === 2)
    assert(Lake.read(spark, dir).select($"id").collect()
      .map(_.getLong(0)).toSet === Set(3L, 4L))
    // expired partitions remain readable at the prior version
    assert(Lake.read(spark, dir, Some(1)).count() === before)
    // no-op retention returns the same version; dropping all is refused
    assert(Lake.expirePartitions(spark, dir, "p", keep = _ => true) === 2)
    intercept[IllegalArgumentException] {
      Lake.expirePartitions(spark, dir, "p", keep = _ => false)
    }
  }

  test("vacuum deletes only unreferenced files, keeps retained history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vac").toString
    val d1 = Seq((1L, "a")).toDF("id", "p")
    val d2 = Seq((2L, "b")).toDF("id", "p")
    Lake.write(d1, dir, Nil)            // v1
    Lake.write(d2, dir, Nil)            // v2 overwrite — v1 files orphaned
    assert(Lake.read(spark, dir, Some(1)).count() === 1)
    val removed = Lake.vacuum(spark, dir, retainLast = 1)
    assert(removed >= 1, "vacuum found nothing to delete")
    // current snapshot intact; expired version no longer readable
    assert(Lake.read(spark, dir).select($"id").head.getLong(0) === 2L)
    intercept[Exception] { Lake.read(spark, dir, Some(1)).count() }
    // idempotent: second vacuum removes nothing
    assert(Lake.vacuum(spark, dir, retainLast = 1) === 0)
  }

  test("a racing writer's committed manifest is never clobbered or lost") {
    val dir = java.nio.file.Files.createTempDirectory("graft-occ").toString
    Lake.write(Seq((1L, "a")).toDF("id", "p"), dir, Nil) // v1
    // a racing writer already published v2's manifest (the manifest
    // chain IS the commit record, VERSION is only a cache — it still
    // says 1 here): the next committer must base on v2 and land as
    // v3, leaving the racer's manifest byte-identical
    val planted = java.nio.file.Paths.get(s"$dir/metadata/v2.json")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/metadata/v1.json"), planted)
    val plantedBytes = java.nio.file.Files.readAllBytes(planted)
    assert(Lake.currentVersion(spark, dir) === 2,
      "manifest chain must outrank the stale VERSION cache")
    val v = Lake.write(Seq((2L, "b")).toDF("id", "p"), dir, Nil)
    assert(v === 3, "commit must base on the racer's v2, not overwrite it")
    assert(java.nio.file.Files.readAllBytes(planted).toSeq === plantedBytes.toSeq,
      "racing writer's manifest was modified")
    assert(Lake.read(spark, dir, Some(1)).count() === 1)
    assert(Lake.read(spark, dir).select($"id").head.getLong(0) === 2L)
  }

  test("OCC stress: 8 racing appenders with retry all land exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-occ-stress").toString
    Lake.write(Seq((0L, -1)).toDF("id", "w"), dir, Nil) // v1 base
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val tasks = (1 to 8).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            (0 until 3).foreach { i =>
              // commit with OCC retry: a loser re-reads and re-commits
              var attempts = 0
              var done = false
              while (!done) {
                attempts += 1
                require(attempts <= 60, s"writer $w gave up after $attempts attempts")
                try {
                  Lake.write(Seq((w * 10L + i, w)).toDF("id", "w"), dir,
                    Nil, mode = "append")
                  done = true
                } catch {
                  case _: java.util.ConcurrentModificationException => // retry
                }
              }
            }
          } catch { case t: Throwable => errors.add(t) }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(errors.isEmpty, s"writer failures: ${errors.toArray.mkString(";")}")
    // every committed row visible exactly once, version chain contiguous
    val rows = Lake.read(spark, dir).select($"id").collect().map(_.getLong(0)).toSeq
    assert(rows.length === 25, s"expected 25 rows, got ${rows.length}")
    assert(rows.distinct.length === 25, "duplicate rows — a lost-update merged twice")
    assert(Lake.currentVersion(spark, dir) === 25,
      "one version per commit: 1 base + 24 appends")
    // every intermediate version still time-travels (no torn manifests)
    (1 to 25).foreach { v => assert(Lake.read(spark, dir, Some(v)).count() === v) }
    // losers delete their own staging dirs; vacuum keeping all
    // versions must still delete ONLY unreferenced files
    Lake.vacuum(spark, dir, retainLast = 25)
    assert(Lake.read(spark, dir).count() === 25)
    (1 to 25).foreach { v => assert(Lake.read(spark, dir, Some(v)).count() === v) }
  }

  test("racing appends: winners visible, losers conflicted, no file left unreferenced") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lake-race").toString
    Lake.write(Seq((0L, 0)).toDF("id", "w"), dir, Nil)
    val results = race(4)(i =>
      Lake.write(Seq((i, i.toInt)).toDF("id", "w"), dir, Nil, mode = "append"))
    val won = results.collect { case (i, scala.util.Success(_)) => i }.toSet
    results.collect { case (_, scala.util.Failure(e)) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(won.nonEmpty)
    info(s"${won.size} of 4 racing appends committed")
    assert(results.collect { case (_, scala.util.Success(v)) => v }.distinct.size === won.size)
    assert(Lake.read(spark, dir).select($"id").as[Long].collect().toSet === won + 0L)
    // without vacuum: the parquet files under data/ are exactly the
    // current snapshot's — every loser deleted its commit directory
    val live = Lake.readSnapshot(spark, dir, Lake.currentVersion(spark, dir)).files
      .map(fl => new org.apache.hadoop.fs.Path(fl.path).toUri.getPath).toSet
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/data"))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    assert(onDisk === live)
  }

  test("multi-table tx: half-committed snapshots stay invisible") {
    import graft.sources.LakeTx
    val root = java.nio.file.Files.createTempDirectory("graft-tx").toString
    val t1 = Seq((1L, 10.0)).toDF("k", "v")
    val t2 = Seq((1L, 99.0)).toDF("k", "w")
    LakeTx.commit(spark, root, Map("a" -> (t1, Nil), "b" -> (t2, Nil)))
    // simulate a crashed tx: new snapshots exist on BOTH tables but the
    // catalog swap never happened — readers must still see version 1
    Lake.write(Seq((2L, 20.0)).toDF("k", "v"), s"$root/a", Nil)
    Lake.write(Seq((2L, 88.0)).toDF("k", "w"), s"$root/b", Nil)
    assert(LakeTx.read(spark, root, "a").select($"k").head.getLong(0) === 1L)
    assert(LakeTx.read(spark, root, "b").select($"k").head.getLong(0) === 1L)
    // a real commit flips both atomically
    LakeTx.commit(spark, root, Map(
      "a" -> (Seq((3L, 30.0)).toDF("k", "v"), Nil),
      "b" -> (Seq((3L, 77.0)).toDF("k", "w"), Nil)))
    assert(LakeTx.read(spark, root, "a").select($"k").head.getLong(0) === 3L)
    assert(LakeTx.read(spark, root, "b").select($"k").head.getLong(0) === 3L)
    intercept[IllegalArgumentException] { LakeTx.read(spark, root, "missing") }
    // the catalog is a monotone chain of immutable versioned files —
    // no moment exists where no catalog file is visible
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val cats = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.matches("_catalog-v\\d+\\.json")).sorted
    assert(cats.length === 2, s"expected 2 catalog versions, got ${cats.toSeq}")
    // a racing committer conflicts on the exclusive create instead of
    // clobbering: both transactions base on catalog v2; the first
    // publishes v3, the second's create(v3) must fail — not silently
    // roll back the first one's table pointers
    LakeTx.commit(spark, root,
      Map("a" -> (Seq((4L, 4.0)).toDF("k", "v"), Nil)), expectedVersion = Some(2L))
    intercept[IllegalStateException] {
      LakeTx.commit(spark, root,
        Map("b" -> (Seq((5L, 5.0)).toDF("k", "w"), Nil)), expectedVersion = Some(2L))
    }
    // the winner's publish is intact
    assert(LakeTx.read(spark, root, "a").select($"k").head.getLong(0) === 4L)
  }

  test("AtomicPublish: racing publishers — exactly one wins, content never torn") {
    import graft.sources.AtomicPublish
    val dir = java.nio.file.Files.createTempDirectory("graft-pub").toString
    (0 until 10).foreach { round =>
      val target = new org.apache.hadoop.fs.Path(s"$dir/commit-$round.json")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      try {
        val barrier = new java.util.concurrent.CyclicBarrier(6)
        (1 to 6).map { w =>
          pool.submit(new Runnable { def run(): Unit = {
            barrier.await()
            // each writer publishes a complete, writer-tagged payload
            val payload = s"""{"writer":$w,"pad":"${"x" * 4096}"}"""
            try { AtomicPublish.publish(spark, target, payload.getBytes("UTF-8")); wins.incrementAndGet() }
            catch { case _: java.util.ConcurrentModificationException => }
          }})
        }.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      assert(wins.get() === 1, s"round $round: ${wins.get()} writers claimed the publish")
      // whoever won, the visible file is one writer's COMPLETE payload
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/commit-$round.json")), "UTF-8")
      assert(text.matches("""\{"writer":\d,"pad":"x{4096}"\}"""),
        s"round $round: torn or mixed content (${text.length} bytes)")
    }
  }

  test("AtomicPublish.replace: racing pointer swaps — every read is one writer's complete payload") {
    import graft.sources.AtomicPublish
    val dir = java.nio.file.Files.createTempDirectory("graft-replace").toString
    val target = new org.apache.hadoop.fs.Path(s"$dir/pointer")
    def payload(w: Int) = s"""{"writer":$w,"pad":"${"x" * 4096}"}"""
    AtomicPublish.replace(spark, target, payload(0).getBytes("UTF-8"))
    val writing = new java.util.concurrent.atomic.AtomicInteger(6)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    // threads 1-6 each replace 50 times; threads 7-8 read until they stop
    race(8) { i =>
      if (i <= 6)
        try (1 to 50).foreach(_ =>
          AtomicPublish.replace(spark, target, payload(i.toInt).getBytes("UTF-8")))
        finally { val _ = writing.decrementAndGet() }
      else while (writing.get() > 0) {
        AtomicPublish.read(spark, target).map(new String(_, "UTF-8")) match {
          case Some(t) if t.matches("""\{"writer":\d,"pad":"x{4096}"\}""") =>
          case other => bad.add(other.fold("missing")(t => s"${t.length} bytes"))
        }
        reads.incrementAndGet()
      }
    }.foreach { case (i, outcome) => assert(outcome.isSuccess, s"thread $i: $outcome") }
    info(s"${reads.get()} reads during 300 replaces")
    assert(bad.isEmpty, s"torn or missing reads: ${bad.asScala.take(5).mkString(", ")}")
    // a pointer first written through Hadoop carries a .crc sibling;
    // after a replace it must still open (no stale checksum mismatch)
    val hadoopWritten = new org.apache.hadoop.fs.Path(s"$dir/hinted")
    val fs = hadoopWritten.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hadoopWritten, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(s"$dir/.hinted.crc").exists())
    AtomicPublish.replace(spark, hadoopWritten, "12345".getBytes("UTF-8"))
    assert(AtomicPublish.read(spark, hadoopWritten).map(new String(_, "UTF-8")) === Some("12345"))
  }

  test("LakeTx stress: racing multi-table transactions retry to a consistent catalog") {
    import graft.sources.LakeTx
    val root = java.nio.file.Files.createTempDirectory("graft-txstress").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      (1 to 4).map { w =>
        pool.submit(new Runnable { def run(): Unit = try {
          (0 until 3).foreach { i =>
            var attempts = 0
            var done = false
            while (!done) {
              attempts += 1
              require(attempts <= 60, s"tx writer $w gave up")
              try {
                // each tx updates its own table AND a shared table
                LakeTx.commit(spark, root, Map(
                  s"t$w" -> (Seq((i.toLong, w)).toDF("seq", "w"), Seq.empty[String]),
                  "shared" -> (Seq((w * 10L + i, w)).toDF("seq", "w"), Seq.empty[String])))
                done = true
              } catch { case _: IllegalStateException => /* catalog race: retry */ }
            }
          }
        } catch { case t: Throwable => errors.add(t) } })
      }.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(errors.isEmpty, s"tx failures: ${errors.toArray.mkString(";")}")
    // 12 transactions → exactly 12 catalog versions, all tables pinned
    val cat = LakeTx.catalog(spark, root)
    assert(cat.keySet === Set("t1", "t2", "t3", "t4", "shared"))
    // every per-writer table shows ITS latest committed write
    (1 to 4).foreach { w =>
      assert(LakeTx.read(spark, root, s"t$w").select($"seq").head.getLong(0) === 2L,
        s"t$w lost its final write")
    }
    // the shared table's pinned version is one writer's real commit
    assert(LakeTx.read(spark, root, "shared").count() === 1)
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val cats = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).count(_.matches("_catalog-v\\d+\\.json"))
    assert(cats === 12, s"expected 12 catalog versions, got $cats")
  }

  test("vacuumCatalog GCs old versions, keeps retained + latest readable, survives legacy migration") {
    import graft.sources.LakeTx
    val root = java.nio.file.Files.createTempDirectory("graft-txvac").toString
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def catFiles(): Seq[String] = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.matches("_catalog-v\\d+\\.json")).sorted.toSeq
    // 5 commits -> catalog versions v1..v5
    (1 to 5).foreach { i =>
      LakeTx.commit(spark, root, Map("a" -> (Seq((i.toLong, i * 10.0)).toDF("k", "v"), Seq.empty[String])))
    }
    assert(catFiles().length === 5)
    val dropped = LakeTx.vacuumCatalog(spark, root, keepLast = 2)
    assert(dropped === Seq(1L, 2L, 3L), s"expected v1-v3 dropped, got $dropped")
    assert(catFiles() === Seq("_catalog-v000004.json", "_catalog-v000005.json"))
    // the latest is intact and the retained penultimate version parses
    assert(LakeTx.read(spark, root, "a").select($"k").head.getLong(0) === 5L)
    val v4 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      scala.io.Source.fromFile(s"$root/_catalog-v000004.json").mkString)
    assert(v4.get("a").asInt() === 4)
    // keepLast larger than history is a no-op; the latest is never GC'd
    assert(LakeTx.vacuumCatalog(spark, root, keepLast = 10) === Nil)
    assert(LakeTx.vacuumCatalog(spark, root, keepLast = 1) === Seq(4L))
    assert(LakeTx.read(spark, root, "a").select($"k").head.getLong(0) === 5L)

    // legacy migration path: a root with ONLY the pre-versioned
    // _catalog.json must survive vacuum untouched (nothing versioned
    // supersedes it yet), and still migrate on the next commit
    val legacyRoot = java.nio.file.Files.createTempDirectory("graft-txleg").toString
    val va = Lake.write(Seq((1L, 1.0)).toDF("k", "v"), s"$legacyRoot/a", Nil)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$legacyRoot/_catalog.json"),
      s"""{"a":$va}""".getBytes("UTF-8"))
    assert(LakeTx.vacuumCatalog(spark, legacyRoot, keepLast = 1) === Nil)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$legacyRoot/_catalog.json")),
      "un-superseded legacy catalog must not be GC'd")
    assert(LakeTx.read(spark, legacyRoot, "a").select($"k").head.getLong(0) === 1L)
    // next commit publishes v1 carrying the legacy pin for table a;
    // vacuum then deletes the superseded legacy file and reads hold
    LakeTx.commit(spark, legacyRoot, Map("b" -> (Seq((2L, 2.0)).toDF("k", "w"), Seq.empty[String])))
    LakeTx.vacuumCatalog(spark, legacyRoot, keepLast = 1)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$legacyRoot/_catalog.json")),
      "superseded legacy catalog should be GC'd")
    assert(LakeTx.read(spark, legacyRoot, "a").select($"k").head.getLong(0) === 1L)
    assert(LakeTx.read(spark, legacyRoot, "b").select($"k").head.getLong(0) === 2L)
  }

  test("clone is a physically independent backup") {
    val src = java.nio.file.Files.createTempDirectory("graft-cl-src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-cl-dst").toString + "/bak"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
    Lake.write(df, src, Seq("p"))
    Lake.clone(spark, src, dst)
    assert(Lake.read(spark, dst).count() === 2)
    // mutating the source must not affect the backup
    Lake.delete(spark, src, $"id" === 1L)
    assert(Lake.read(spark, src).count() === 1)
    assert(Lake.read(spark, dst).count() === 2)
    // cloned files must land under dst's own data/ layout, properly
    // relativized from the QUALIFIED source paths (no "file:" path
    // segments — those made vacuum see an empty data dir and are
    // illegal on HDFS)
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "clone did not produce a data/ dir at the destination")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dst/file:")),
      "clone embedded the absolute source path")
  }
}
