package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Engine
import graft.operators.{Similarity, VectorIndex}

/** Dev tool: the ANN scale story in one table — brute-force L2 top-k
  * vs the persisted IVF-PQ index's QUERY path (partition-pruned codes
  * scan + broadcast ADC + bounded rerank) across corpus scale dirs
  * (see [[MakeScale]] with the `embeddings` tables filter for
  * synthesizing 100x/1000x ANN corpora). Brute force is linear in
  * corpus rows by construction; the standing index scans a constant
  * 1/8 cell fraction of the m-byte codes plus a bounded rerank, so
  * its wall grows with codes bytes, not vector bytes — the property
  * that matters at 100 TB, where "scan the corpus floats per query"
  * is not an option.
  *
  * The cell count follows the corpus (c ~ sqrt(n) rounded to a power
  * of two, nprobe = c/8) — the production sizing rule: more cells =
  * finer pruning, balanced against per-cell shortlist quality.
  *
  * args: dir...  (default /root/testdata/sf0.1 /tmp/graft_sf1)
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")

    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    def time(df: => DataFrame): Double = {
      def run(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm
      (run() + run()) / 2
    }

    println("| corpus | rows | c/nprobe | brute L2 s | index query s | brute/index | 100-query batch s | masked query s (1% tombstoned) |")
    println("|---|---|---|---|---|---|---|---|")
    for (dir <- dirs) {
      val emb = graft.queries.util.t(spark, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") >= 20)
      val n = corpus.count()

      // c ~ sqrt(n) rounded to a power of two, floor 16, capped at 256
      // (the encode pass costs c distance evals per row; past 256 the
      // single-node build wall dominates the probe for no extra pruning
      // signal — the probed fraction stays 1/8 regardless); probe 1/8
      val c = math.min(256, math.max(16,
        Integer.highestOneBit(math.sqrt(n.toDouble).toInt)))
      val nprobe = math.max(2, c / 8)

      val brute = time(Similarity.bruteForceTopKL2(
        corpus, "vec_id", "embedding", qs, "qid", "qvec", k = 5))

      // same standing-index scheme as xb_ivfpersist_recall_fullsf:
      // keyed on (format version, params, dir, source content tag) so
      // a REGENERATED corpus dir forces a rebuild; built once, untimed
      val path = VectorIndex.ensureBuilt(corpus, "vec_id", "embedding",
        dir, c = c, m = 8, ks = 64, spill = 2)
      val indexed = time(VectorIndex.topK(spark, path,
        corpus, "vec_id", "embedding", qs, "qid", "qvec",
        k = 5, nprobe = nprobe, rerank = 200))

      // LARGE batch: 100 queries × rerank 200 drives the distinct
      // shortlist past the 10k inline cap, exercising the range +
      // broadcast-semi-join fallback (pre-fix this silently reverted
      // to an unpruned corpus join — brute-shaped float I/O)
      val qsBig = emb.filter(col("vec_id") >= 20 && col("vec_id") < 120)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val bigBatch = time(VectorIndex.topK(spark, path,
        corpus, "vec_id", "embedding", qsBig, "qid", "qvec",
        k = 5, nprobe = nprobe, rerank = 200))

      // tombstone overhead: mask ~1% of the corpus and re-time — the
      // per-query cost of the broadcast anti-join against a standing
      // delete set. Restored afterwards by dropping the tombstones
      // table wholesale (a separate Lake table under the index path),
      // so the shared standing index is byte-identical for later runs.
      // The batch is CAPPED at 10% of the corpus: a fixed floor on a
      // tiny dir would tombstone most of the index and time a near-
      // empty query instead of the masking overhead.
      val batch = math.max(1L, n / 100).min(n / 10).max(1L).toInt
      VectorIndex.delete(corpus.select(col("vec_id")).limit(batch),
        "vec_id", path)
      val masked = time(VectorIndex.topK(spark, path,
        corpus, "vec_id", "embedding", qs, "qid", "qvec",
        k = 5, nprobe = nprobe, rerank = 200))
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)

      println(f"| $dir | $n | $c/$nprobe | $brute%.3f | $indexed%.3f | " +
        f"${brute / indexed}%.1f× | $bigBatch%.3f | $masked%.3f (${batch} dead) |")
    }
    spark.stop()
  }
}
