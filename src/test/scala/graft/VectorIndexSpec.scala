package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, VectorIndex}

/** The persisted IVF-PQ index: build-once/query-many semantics, frozen-
  * model append maintenance, spill dedup, and the zero-training-jobs
  * claim the whole component exists for. */
class VectorIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = table("embeddings")
  private lazy val corpus = emb.filter($"vec_id" >= 10)
    .select($"vec_id", $"embedding")
  private lazy val queries = emb.filter($"vec_id" < 10)
    .select($"vec_id".as("qid"), $"embedding".as("qvec"))

  /** A path that does NOT exist yet (build refuses to clobber). */
  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_vix_$tag").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Exact job count for `body`. */
  private def countJobs(body: => Unit): Int = jobsDuring(body)._2.size

  test("build → full-probe topK equals brute-force L2 exactly (model round-trip + spill dedup)") {
    val path = freshPath("exact")
    val n = VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 16, m = 8, ks = 64, spill = 2)
    assert(n === corpus.count(), "build must return corpus rows indexed, not spill-multiplied codes rows")
    // nprobe = c probes every cell and rerank >= corpus keeps the whole
    // shortlist, so the persisted path (model JSON round-trip, codes
    // table, ADC, exact rerank) must reproduce brute force bit-exactly
    val got = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 16, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopKL2(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("spill=2 leaves no duplicate (qid, vec_id) pairs and exactly k rows per query") {
    val path = freshPath("dedup")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 2)
    val r = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nprobe = 4, rerank = 100)
    assert(r.groupBy($"qid", $"vec_id").count().filter($"count" > 1).isEmpty)
    val perQ = r.groupBy($"qid").count().collect()
    assert(perQ.length === 10 && perQ.forall(_.getLong(1) === 5))
  }

  test("partial-probe recall@5 >= 0.85 vs L2 ground truth (spill=2 recall lever)") {
    val path = freshPath("recall")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 16, m = 8, ks = 64, spill = 2)
    val truth = Similarity.bruteForceTopKL2(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 200)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.85, s"recall@5 $recall below 0.85")
  }

  test("append: frozen-model encode, returns input rows, appended vectors queryable") {
    val path = freshPath("append")
    val partA = corpus.filter($"vec_id" < 400)
    val partB = corpus.filter($"vec_id" >= 400)
    VectorIndex.build(partA, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 2)
    val modelBefore = VectorIndex.load(spark, path)
    val appended = VectorIndex.append(partB, "vec_id", "embedding", path)
    assert(appended === partB.count(), "append must return the input rows appended")
    // the model is FROZEN by append — byte-identical centroids/codebooks
    val modelAfter = VectorIndex.load(spark, path)
    assert(modelAfter.centroids.map(_.toSeq).toSeq === modelBefore.centroids.map(_.toSeq).toSeq)
    // a query equal to an appended vector must now find it at rank 1, l2=0
    val probe = partB.limit(1).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val probeId = probe.head().getLong(0)
    val hit = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        probe, "qid", "qvec", k = 1, nprobe = 8, rerank = 50)
      .head()
    assert(hit.getLong(1) === probeId && hit.getDouble(2) === 0.0)
  }

  test("load runs ZERO Spark jobs — repeat queries pay no training work") {
    val path = freshPath("zerojobs")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 1)
    val jobs = countJobs { VectorIndex.load(spark, path) }
    assert(jobs === 0, s"load launched $jobs Spark jobs; must be driver-only")
  }

  test("repeat topK job count is flat (no per-query retraining), below the retraining path's") {
    val path = freshPath("flat")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 1)
    def q() = countJobs {
      VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 4, rerank = 100).collect()
    }
    val first = q(); val second = q()
    assert(second === first, s"second query ran $second jobs vs first $first — training leaked into query")
    // the whole point of persistence: the per-call job count must be
    // strictly below the train-per-query path on the same parameters
    val retrain = countJobs {
      Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, c = 8, nprobe = 4, m = 8, ks = 16,
        rerank = 100).collect()
    }
    assert(second < retrain,
      s"persisted query ($second jobs) should launch fewer jobs than per-query retraining ($retrain)")
  }

  test("delete masks ids at read without touching codes files; exact result = brute force over survivors") {
    val path = freshPath("delete")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 2)
    val victims = corpus.limit(40).select($"vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    val codesFilesBefore = graft.sources.Lake.readSnapshot(spark, s"$path/codes",
      graft.sources.Lake.currentVersion(spark, s"$path/codes")).files.map(_.path).toSet
    val deleted = VectorIndex.delete(victims, "vec_id", path)
    assert(deleted === victimIds.size.toLong)
    // cheap delete: the codes table's file set is untouched (tombstones only)
    val codesFilesAfter = graft.sources.Lake.readSnapshot(spark, s"$path/codes",
      graft.sources.Lake.currentVersion(spark, s"$path/codes")).files.map(_.path).toSet
    assert(codesFilesAfter === codesFilesBefore)
    // full probe + full rerank = exact over the surviving corpus
    val got = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got.forall(t => !victimIds(t._2)), "a deleted id surfaced in topK")
    val want = Similarity.bruteForceTopKL2(
        corpus.filter(!$"vec_id".isin(victimIds.toSeq: _*)), "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("compactDeletes folds tombstones into codes (touched files only) and clears the set") {
    val path = freshPath("compact")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 2)
    val victims = corpus.limit(25).select($"vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    VectorIndex.delete(victims, "vec_id", path)
    val masked = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(VectorIndex.compactDeletes(spark, path) === victimIds.size.toLong)
    // tombstone debt cleared; the physical codes rows are gone
    import graft.sources.Lake
    assert(Lake.read(spark, s"$path/tombstones").isEmpty)
    assert(Lake.read(spark, s"$path/codes")
      .filter($"id".isin(victimIds.toSeq: _*)).isEmpty)
    // same answer before and after folding — compaction is invisible
    val after = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(after === masked)
    // a second compaction with no standing tombstones is a no-op
    assert(VectorIndex.compactDeletes(spark, path) === 0L)
  }

  test("newer load wins: appending a tombstoned id revives it; other tombstones keep masking") {
    val path = freshPath("revive")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 2)
    val someIds = corpus.select($"vec_id").orderBy($"vec_id")
      .limit(2).collect().map(_.getLong(0))
    val (reviveId, stayDeadId) = (someIds(0), someIds(1))
    VectorIndex.delete(Seq(reviveId, stayDeadId).toDF("vec_id"), "vec_id", path)
    // re-append one of the two deleted ids: the append clears ITS
    // tombstone (reference primary-key version order — newer load
    // wins); the other id stays dead. The revived id's stale codes
    // rows are benign: codes decide candidacy only, the exact rerank
    // distance comes from the current corpus floats.
    VectorIndex.append(corpus.filter($"vec_id" === reviveId),
      "vec_id", "embedding", path)
    val probe = corpus.filter($"vec_id" === reviveId)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val revived = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      probe, "qid", "qvec", k = 1, nprobe = 8, rerank = 50).head()
    assert(revived.getLong(1) === reviveId && revived.getDouble(2) === 0.0)
    val all = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 1000)
      .collect().map(_.getLong(1)).toSet
    assert(!all(stayDeadId), "a still-tombstoned id surfaced after an unrelated append")
    // compaction folds the remaining tombstone; the revived id survives
    assert(VectorIndex.compactDeletes(spark, path) === 1L)
    val afterCompact = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      probe, "qid", "qvec", k = 1, nprobe = 8, rerank = 50).head()
    assert(afterCompact.getLong(1) === reviveId && afterCompact.getDouble(2) === 0.0)
  }

  test("crash-mid-first-delete (staged tombstones, no manifest) does not brick queries") {
    val path = freshPath("tombcrash")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 1)
    // simulate a delete() that died after staging parquet but before
    // the manifest publish: a tombstones DIRECTORY with no committed
    // version — queries must treat it as "no tombstones", not throw
    val dir = new java.io.File(s"$path/tombstones/data/commit-00001-stale")
    assert(dir.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, "orphan.parquet"), "not a commit")
    val r = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nprobe = 4, rerank = 100)
    assert(r.count() === 50)
  }

  test("version order: delete -> append revives -> delete again kills (newest op wins)") {
    val path = freshPath("versionorder")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 2)
    val x = corpus.select($"vec_id").orderBy($"vec_id").head().getLong(0)
    val xDf = corpus.filter($"vec_id" === x)
    val probe = xDf.select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def topId() = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      probe, "qid", "qvec", k = 1, nprobe = 8, rerank = 50).head().getLong(1)
    VectorIndex.delete(xDf.select($"vec_id"), "vec_id", path)
    assert(topId() !== x)
    VectorIndex.append(xDf, "vec_id", "embedding", path) // revives
    assert(topId() === x)
    VectorIndex.delete(xDf.select($"vec_id"), "vec_id", path) // newer delete wins
    assert(topId() !== x)
    // and a later append revives again — the cycle is stable
    VectorIndex.append(xDf, "vec_id", "embedding", path)
    assert(topId() === x)
  }

  test("cosine metric: full-probe topK equals brute-force cosine exactly on non-unit vectors") {
    val path = freshPath("cosine")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 16, m = 8, ks = 64, spill = 2, metric = "cosine")
    assert(VectorIndex.load(spark, path).metric === "cosine")
    // corpus embeddings are NOT unit-norm, so this exercises the
    // normalize-at-encode + normalize-at-probe path end to end; the
    // exact rerank ranks by true cosine desc against the raw floats
    val got = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 16, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("cosine metric: partial-probe recall@5 >= 0.85 vs cosine truth; append normalizes too") {
    val path = freshPath("cosrecall")
    val partA = corpus.filter($"vec_id" < 400)
    val partB = corpus.filter($"vec_id" >= 400)
    VectorIndex.build(partA, "vec_id", "embedding", path,
      c = 16, m = 8, ks = 64, spill = 2, metric = "cosine")
    VectorIndex.append(partB, "vec_id", "embedding", path)
    val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 200)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.85, s"cosine recall@5 $recall below 0.85")
    // a query equal to an APPENDED vector scores cosine 1.0 at rank 1
    val probe = partB.limit(1).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val probeId = probe.head().getLong(0)
    val hit = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      probe, "qid", "qvec", k = 1, nprobe = 8, rerank = 50).head()
    assert(hit.getLong(1) === probeId && math.abs(hit.getDouble(2) - 1.0) < 1e-6)
  }

  test("OCC stress: racing deleters + concurrent compaction loop lose no delete batch") {
    val path = freshPath("delstress")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 1)
    val victimIds = corpus.select($"vec_id").orderBy($"vec_id")
      .limit(24).collect().map(_.getLong(0))
    val batches = victimIds.grouped(4).toSeq // 6 deleters × 4 ids
    val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val deletersDone = new java.util.concurrent.atomic.AtomicInteger(0)
    def retrying(what: String)(body: => Unit): Unit = {
      var attempts = 0; var done = false
      while (!done) {
        attempts += 1
        require(attempts <= 60, s"$what gave up after $attempts attempts")
        try { body; done = true }
        catch { case _: java.util.ConcurrentModificationException => }
      }
    }
    try {
      val deleters = batches.map { ids =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            retrying(s"delete ${ids.head}") {
              VectorIndex.delete(ids.toSeq.toDF("vec_id"), "vec_id", path)
            }
            deletersDone.incrementAndGet()
          } catch { case t: Throwable => errors.add(t) }
        })
      }
      // a compactor folding whatever it sees WHILE deletes land: the
      // collected-batch clear (not a blanket truncate) is what keeps a
      // batch committing mid-fold alive until the next pass
      val compactor = pool.submit(new Runnable {
        def run(): Unit = try {
          while (deletersDone.get() < batches.size)
            retrying("compact")(VectorIndex.compactDeletes(spark, path))
        } catch { case t: Throwable => errors.add(t) }
      })
      (deleters :+ compactor).foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(errors.isEmpty, s"worker failures: ${errors.toArray.mkString(";")}")
    // quiesce: fold any residue, then EVERY deleted id must be gone —
    // from the query, the codes table, and the tombstone ledger
    retrying("final compact")(VectorIndex.compactDeletes(spark, path))
    assert(VectorIndex.compactDeletes(spark, path) === 0L)
    val got = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8, rerank = 1000)
      .collect().map(_.getLong(1)).toSet
    val lost = victimIds.filter(got)
    assert(lost.isEmpty, s"deleted ids resurfaced after racing compaction: ${lost.mkString(",")}")
    import graft.sources.Lake
    assert(Lake.read(spark, s"$path/codes")
      .filter($"id".isin(victimIds.toSeq: _*)).isEmpty)
    assert(Lake.read(spark, s"$path/tombstones").isEmpty)
  }

  test("build refuses to clobber; crash-mid-build (no model) leaves no readable index") {
    val path = freshPath("occ")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 1)
    intercept[IllegalArgumentException] {
      VectorIndex.build(corpus, "vec_id", "embedding", path,
        c = 8, m = 8, ks = 16, spill = 1)
    }
    // simulate a crash between codes write and model publish: the model
    // file is the commit record — without it the index must be unreadable
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_model.json"), false)
    intercept[java.io.FileNotFoundException] { VectorIndex.load(spark, path) }
    // recovery = rebuild: overwrite-mode codes write + fresh model publish
    val n = VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 8, m = 8, ks = 16, spill = 1)
    assert(n === corpus.count())
  }

  test("large query batch past the inline cap: range + semi-join path, identical results") {
    val path = freshPath("bigbatch")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 16, m = 8, ks = 64, spill = 2)
    def run() = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nprobe = 16, rerank = 1000)
    val want = run().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prevCap = VectorIndex.inlineIdCap
    try {
      // force the over-cap fallback: the plan must carry NO giant
      // In-list, keep a pushable id range, and return the same rows
      VectorIndex.inlineIdCap = 5
      val df = run()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi") || plan.contains("left_semi"),
        s"expected a broadcast semi-join on the corpus side:\n${plan.take(2000)}")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, "over-cap path changed the results")
    } finally VectorIndex.inlineIdCap = prevCap
  }

  test("over-cap tombstone verdict memoizes (no re-collect per query)") {
    val path = freshPath("tombcap")
    VectorIndex.build(corpus, "vec_id", "embedding", path,
      c = 16, m = 8, ks = 64, spill = 1)
    val dead = corpus.select($"vec_id").limit(20)
    VectorIndex.delete(dead, "vec_id", path)
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    val prevCap = VectorIndex.tombInlineCap
    try {
      VectorIndex.tombInlineCap = 5 // 20 tombstones => over cap
      def run() = VectorIndex.topK(spark, path, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 16, rerank = 1000)
        .collect()
      val r1 = run()
      val memoAfter1 = VectorIndex.tombMemoCount(path)
      assert(memoAfter1 === 1,
        s"over-cap verdict not memoized (memo entries: $memoAfter1)")
      val r2 = run()
      assert(VectorIndex.tombMemoCount(path) === 1,
        "second query re-derived the tombstone verdict")
      // masking still correct through the anti-join fallback
      assert(r1.map(r => (r.getLong(0), r.getLong(1))).toSet ===
        r2.map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(!r1.exists(r => deadIds.contains(r.getLong(1))),
        "a tombstoned id surfaced through the over-cap path")
    } finally VectorIndex.tombInlineCap = prevCap
  }
}
