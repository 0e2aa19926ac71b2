package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, KeysModels, LanguageModel, Similarity, TextAnalysis}
import util._

/** Training-data pipeline surface: dedup family, similarity search,
  * text analysis, keys-model upsert/merge (operators under
  * `graft.operators`; reference anchors cited there).
  *
  * Near-dup queries plant duplicates by unioning mutated copies of
  * `documents`, so the operators have real work at every SF.
  */
object Pipeline extends graft.QueryArea {

  /** documents ∪ mutated copies (id+100000, first word swapped) ∪
    * exact copies (id+200000). */
  private def plantedDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val near = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("zzz "), col("text")).as("text"))
    val exact = d.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    d.unionByName(near).unionByName(exact)
  }

  /** Deterministic in-query fixtures for the hash-dependent gates
    * (simhash banding, LSH/IVF ANN): pure Scala literals — identical
    * at every SF and in every environment — so the expected output is
    * ONE fixed row set, pinned as a literal VALUES oracle (the
    * planted-fixture pattern from the round-3 verdict). The same
    * operators also run against the full-SF tables in [[benchOnly]]
    * so the benchmark keeps measuring them at scale.
    * repartition(1) pins float accumulation order (IVF centroid
    * averaging) across local[4] (Verify) and local[32] (Bench). */
  private def simhashFixtureDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def doc(seed: Int, n: Int): String =
      (0 until n).map(j => s"w${(seed * 7 + j * 3) % 29}").mkString(" ")
    val base = (0 until 20).map(i => (i.toLong, doc(i, 12)))
    val near = (0 until 20 by 4).map(i =>
      (i + 100L, doc(i, 12).split(" ").updated(5, s"q$i").mkString(" ")))
    val exact = (0 until 20 by 5).map(i => (i + 200L, doc(i, 12)))
    (base ++ near ++ exact).toDF("doc_id", "text").repartition(1)
  }

  /** Deterministic fixture corpus for the BPE-training gates: a small
    * closed word list with shared substrings (th/at/ca/do...) so the
    * first dozen merges are non-trivial, composed into docs by a
    * seeded formula — SF-independent, so the learned merge table is
    * ONE fixed answer, pinned as a literal oracle (and independently
    * re-derived by a reference BPE implementation in
    * TextAnalysisSpec). */
  private[graft] def bpeFixtureDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val lex = Vector("the", "theme", "then", "there", "cat", "cats",
      "catalog", "dog", "dogma", "mat", "math", "that")
    (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(j => lex((i * 7 + j * 3) % lex.size)).mkString(" "))
    }.toDF("doc_id", "text").repartition(1)
  }

  private val annDim = 12
  private def annVec(i: Int): Array[Float] =
    Array.tabulate(annDim)(j => ((i * 31 + j * 17) % 97) / 97.0f - 0.5f)
  /** The persisted-index gates' tmp paths, one per tag — shared with
    * `Gates plan` (which dumps the persisted gate's phase-1 shortlist
    * plan against the index that gate built), so path construction
    * lives in exactly one place and cannot drift. */
  private[graft] def vixGatePath(dir: String, tag: String = "gate"): String =
    System.getProperty("java.io.tmpdir") +
      s"/graft_vix_${tag}_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"

  private[graft] def annFixtureCorpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 200).map(i => (100L + i, annVec(i))).toDF("vec_id", "embedding")
      .repartition(1)
  }
  private[graft] def annFixtureQueries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // queries are exact copies of corpus vectors 100/140/180/220/260 —
    // each has a planted cosine-1.0 true nearest neighbor
    (0 until 5).map(q => (q.toLong, annVec(q * 40))).toDF("qid", "qvec")
      .repartition(1)
  }

  /** Full-SF timing variants of the fixture-gated operators — run by
    * Bench only (no oracle contract), so the 100 TB-shaped cost of
    * simhash/LSH/IVF over the real tables stays measured. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "xb_simhash_pairs_fullsf" -> ((spark, dir) => {
      val docs = plantedDocs(spark, dir)
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "xb_lsh_topk_fullsf" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          queriesDf, "qid", "qvec", k = 5, planes = 8, tables = 4)
        .orderBy(col("qid"), col("rk"))
    }),
    "xb_ivf_topk_fullsf" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          queriesDf, "qid", "qvec", k = 5, c = 16, nprobe = 8)
        .orderBy(col("qid"), col("rk"))
    }),
    "xb_pq_topk_fullsf" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          queriesDf, "qid", "qvec", k = 5, m = 4, ks = 16)
        .orderBy(col("qid"), col("rk"))
    }),
    "xb_kmeans_fullsf" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      Similarity.kMeans(emb, "vec_id", "embedding", k = 32, iters = 3)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
        .orderBy(col("cell"))
    }),
    "xb_bpe_train_fullsf" -> ((spark, dir) => {
      import spark.implicits._
      TextAnalysis.bpeTrain(t(spark, dir, "documents"), "text", merges = 8)
        .toDF("rank", "left", "right", "merged", "freq")
        .orderBy(col("rank"))
    }),
    // Full-SF index QUALITY tracking (not just fixture exactness):
    // recall@5 of the approximate index vs the brute-force ground
    // truth over the whole embeddings table. One row (recall,
    // meets_floor); Bench extracts the value into BENCH_FULL.json and
    // assert_true fails the run loudly if quality regresses past the
    // pinned floor.
    // Ground truth is METRIC-MATCHED per index: ivf ranks by cosine →
    // cosine truth; pq/ivf-pq rank + rerank by L2 → L2 truth (cosine
    // truth on non-unit-norm embeddings would score cross-metric
    // agreement, not index quality). The IVF-family gates run with
    // spill = 2 (multi-assignment), the recall lever the floors below
    // are pinned against — measured full-SF values in SCALING.md.
    "xb_ivf_recall_fullsf" -> ((spark, dir) =>
      annRecall(spark, dir, floor = 0.90) { (corpus, qs) =>
        graft.operators.Similarity.ivfTopK(
          corpus, "vec_id", "embedding", qs, "qid", "qvec",
          k = 5, c = 16, nprobe = 8, spill = 2)
      }),
    "xb_pq_recall_fullsf" -> ((spark, dir) =>
      annRecall(spark, dir, floor = 0.85, metric = "l2") { (corpus, qs) =>
        graft.operators.Similarity.pqTopK(
          corpus, "vec_id", "embedding", qs, "qid", "qvec",
          k = 5, m = 8, ks = 64, rerank = 200)
      }),
    "xb_ivfpq_recall_fullsf" -> ((spark, dir) =>
      annRecall(spark, dir, floor = 0.85, metric = "l2") { (corpus, qs) =>
        graft.operators.Similarity.ivfPqTopK(
          corpus, "vec_id", "embedding", qs, "qid", "qvec",
          k = 5, c = 16, nprobe = 8, m = 8, ks = 64, rerank = 200,
          spill = 2)
      }),
    // The PERSISTED index path (frozen model + cell-partitioned codes
    // table) measured on the same footing: build once per run into a
    // temp path, recall of the partition-pruned query vs L2 truth.
    "xb_ivfpersist_recall_fullsf" -> ((spark, dir) =>
      annRecall(spark, dir, floor = 0.85, metric = "l2") { (corpus, qs) =>
        // build-if-absent: the persisted index exists to amortize
        // training across queries, so the timed run measures the
        // QUERY path (pruned scan + ADC + rerank) after the first
        // invocation built the standing index. ensureBuilt keys the
        // path on (format version, index params, data dir, source
        // CONTENT tag): a param, layout, or DATA change must REBUILD,
        // not silently measure a stale standing index against the
        // pinned floor.
        val path = graft.operators.VectorIndex.ensureBuilt(
          corpus, "vec_id", "embedding", dir, c = 16, m = 8, ks = 64,
          spill = 2)
        graft.operators.VectorIndex.topK(spark, path,
          corpus, "vec_id", "embedding", qs, "qid", "qvec",
          k = 5, nprobe = 8, rerank = 200)
      }),
    // MinHash-LSH candidate recall at full SF: of the TRUE >=0.8
    // Jaccard pairs (exact all-pairs ground truth over a bounded,
    // deterministic id slice — all-pairs over the whole corpus would
    // be O(n^2)), what fraction do the banded signatures surface as
    // candidates? Precision needs no tracking: minhashDedup verifies
    // every candidate with exact Jaccard, so it's 1.0 by construction.
    "xb_minhash_cand_recall_fullsf" -> ((spark, dir) => {
      // % 100000 keeps each original AND its planted twins (+100000
      // exact, +200000 near) inside the ground-truth slice
      val docs = plantedDocs(spark, dir).filter(col("doc_id") % 100000 < 150)
      val sh = docs.select(col("doc_id"),
        graft.operators.Dedup.wordShingles(col("text"), 3).as("sh"))
      val l = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val r = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
        .filter(graft.operators.Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.8)
        .select(col("id_a"), col("id_b"))
      val cand = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", 3, 16, 4).select(col("id_a"), col("id_b"))
      val nTruth = truth.count().toDouble
      truth.join(cand, Seq("id_a", "id_b"))
        .agg((count(lit(1)).cast("double") / lit(math.max(nTruth, 1.0))).as("recall"))
        .withColumn("meets_floor", expr(
          "assert_true(recall >= 0.90, 'minhash LSH candidate recall below pinned 0.90 floor') is null"))
    }))

  /** recall@5 over 20 full-SF queries: |approx ∩ truth| / 100.
    * `metric` picks the ground truth — "cos" for cosine-ranked
    * indexes, "l2" for the PQ family (which ranks and reranks by
    * Euclidean distance). */
  private def annRecall(spark: org.apache.spark.sql.SparkSession, dir: String,
      floor: Double, metric: String = "cos")(
      index: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 20)
    val truth = (if (metric == "l2")
        graft.operators.Similarity.bruteForceTopKL2(
          corpus, "vec_id", "embedding", qs, "qid", "qvec", k = 5)
      else graft.operators.Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", qs, "qid", "qvec", k = 5))
      .select(col("qid"), col("vec_id"))
    val approx = index(corpus, qs).select(col("qid"), col("vec_id"))
    truth.join(approx, Seq("qid", "vec_id"))
      .agg((count(lit(1)).cast("double") / lit(100.0)).as("recall"))
      .withColumn("meets_floor", expr(
        s"assert_true(recall >= $floor, 'ANN recall@5 below pinned $floor floor') is null"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((spark, dir) => {
      val docs = plantedDocs(spark, dir)
      Dedup.exact(docs, Seq("text"), "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "dedup_fingerprint_pairs" -> ((spark, dir) => {
      // equal-fingerprint pairs == equal normalized-text pairs
      // pin the fingerprints: both self-join sides consume them, so
      // unpinned the normalize+hash pipeline runs twice
      val docs = plantedDocs(spark, dir)
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .select(col("fp"), col("doc_id"))
        .localCheckpoint(true)
      val l = docs.select(col("fp"), col("doc_id").as("id_a"))
      val r = docs.select(col("fp"), col("doc_id").as("id_b"))
      l.join(r, Seq("fp")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Full minhash→LSH→verify pipeline with an INDEPENDENT oracle:
    // DuckDB recomputes the ground truth directly — all pairs with
    // exact 3-gram Jaccard >= 0.8 (trigram construction is proven
    // engine-equal by the dedup_ngram_jaccard gate), survivors = docs
    // with no smaller such partner. The gate therefore asserts the LSH
    // stage catches EVERY >= 0.8 pair on this corpus: at 32 hashes x
    // 16 bands of 2, P(miss) <= (1-0.8^2)^16 ~ 1e-8 per boundary pair,
    // and the data + seeds are fixed, so the equality is a verified
    // deterministic property (checked at sf0.001/0.01), not a flake.
    "dedup_minhash" -> ((spark, dir) => {
      // deterministic half-slice (the established budget pattern):
      // the gate proves the LSH-catches-every->=0.8-pair property;
      // full-SF minhash timing + recall floor continue as
      // xb_minhash_cand_recall_fullsf in Bench
      val d = t(spark, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val near = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("zzz "), col("text")).as("text"))
      val exact = d.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      Dedup.minhashDedup(d.unionByName(near).unionByName(exact),
          "doc_id", "text", threshold = 0.8, numHashes = 32, bands = 16)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // Planted-fixture gate (see simhashFixtureDocs): deterministic
    // corpus with exact copies (expected hamming 0), one-word
    // mutations (small nonzero hamming), and unrelated docs; the
    // expected pair set is pinned as a literal oracle. Full-SF timing
    // continues as xb_simhash_pairs_fullsf in Bench.
    "dedup_simhash_pairs" -> ((spark, dir) => {
      Dedup.simhashPairs(simhashFixtureDocs(spark), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Exact-substring duplicate spans (Lee et al. 2022): every maximal
    // run of duplicated 8-token windows per doc. Planted exact and
    // prefixed copies guarantee long spans; the oracle recomputes the
    // spans in DuckDB comparing window TEXT directly, so the gate also
    // vouches for the engine's 64-bit window-hash grouping on this
    // corpus (a collision would split/merge a span and mismatch).
    "dedup_substring_spans" -> ((spark, dir) => {
      Dedup.duplicateSpans(plantedDocs(spark, dir), "doc_id", "text", width = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),
    // candidate pairs from a SQL-expressible blocking key, verified by
    // exact 3-gram Jaccard — fully oracle-checked
    "dedup_ngram_jaccard" -> ((spark, dir) => {
      // fan out the single-split scan before the HOF shingling, and
      // pin the shingle arrays — both self-join sides consume them
      val d = graft.operators.Ops.fanOut(
          t(spark, dir, "documents")
            .select(col("doc_id"), col("lang"), col("source"), col("text")))
        .withColumn("sh", Dedup.wordShingles(col("text"), 3))
        .select(col("doc_id"), col("lang"), col("source"), col("sh"))
        .localCheckpoint(true)
      val l = d.select(col("lang"), col("source"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val r = d.select(col("lang"), col("source"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
      l.join(r, Seq("lang", "source"))
        .filter(col("id_a") < col("id_b") && col("id_b") - col("id_a") < 40)
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("jac"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "sim_bruteforce_topk" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          queriesDf, "qid", "qvec", k = 5)
        .orderBy(col("qid"), col("rk"))
    }),
    // Planted-fixture ANN gate: deterministic corpus + query vectors
    // (each query is an exact copy of a corpus vector → planted
    // cosine-1.0 top-1); output pinned as a literal oracle. Recall vs
    // brute force on real embeddings stays asserted in SimilaritySpec;
    // full-SF timing continues as xb_lsh_topk_fullsf in Bench.
    "sim_lsh_topk" -> ((spark, dir) => {
      Similarity.lshTopK(
          annFixtureCorpus(spark), "vec_id", "embedding",
          annFixtureQueries(spark), "qid", "qvec",
          k = 5, planes = 8, tables = 4)
        .orderBy(col("qid"), col("rk"))
    }),
    // Embedding near-dup pairs, FULLY oracle-checked: planted dups are
    // scaled copies (x2 — exact same direction ⇒ cosine 1.0 and the
    // identical LSH bucket, so recall is deterministically 1), and the
    // corpus has no real pair near the 0.95 threshold (max ~0.5), so
    // the bucketed result equals the brute-force oracle.
    "dedup_embedding" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Dedup.embeddingDupPairs(emb.unionByName(planted), "vec_id", "embedding",
          threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Planted-fixture IVF gate: same fixture; centroid training is
    // bit-deterministic on the repartition(1) fixture, so the learned
    // cells and the probed top-k are one fixed answer, pinned as a
    // literal oracle. Full-SF timing continues as xb_ivf_topk_fullsf.
    "sim_ivf_topk" -> ((spark, dir) => {
      Similarity.ivfTopK(
          annFixtureCorpus(spark), "vec_id", "embedding",
          annFixtureQueries(spark), "qid", "qvec",
          k = 5, c = 8, nprobe = 4)
        .orderBy(col("qid"), col("rk"))
    }),
    // Planted-fixture PQ gate: product-quantization ADC top-k on the
    // deterministic ANN fixture (driver-local codebook training over
    // the hash-ordered sample is bit-deterministic; encoding and the
    // per-query LUT are pure expressions), so the approximate ranking
    // is one fixed answer, pinned as a literal oracle. Recall vs
    // exact L2 stays asserted in SimilaritySpec; full-SF timing runs
    // as xb_pq_topk_fullsf in Bench.
    "sim_pq_topk" -> ((spark, dir) => {
      Similarity.pqTopK(
          annFixtureCorpus(spark), "vec_id", "embedding",
          annFixtureQueries(spark), "qid", "qvec",
          k = 5, m = 3, ks = 8)
        .orderBy(col("qid"), col("rk"))
    }),
    // PERSISTED-index gate (reference: docs/en/table_design/indexes/
    // vector_index.md — the IVFPQ index is TABLE STATE built once and
    // maintained on write, not a per-query training job): build into a
    // temp Lake path, then query through the frozen model + cell-
    // partitioned codes table. nprobe = c probes every cell and
    // rerank >= corpus keeps the whole shortlist, so the answer is
    // EXACTLY brute-force L2 top-5 over the deterministic fixture —
    // pinned as a literal oracle. Zero-jobs model load, frozen-model
    // append, spill dedup, and crash-mid-build are VectorIndexSpec's.
    "sim_ivf_persisted" -> ((spark, dir) => {
      val path = vixGatePath(dir)
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.operators.VectorIndex.build(
        annFixtureCorpus(spark), "vec_id", "embedding", path,
        c = 8, m = 3, ks = 8, spill = 2)
      graft.operators.VectorIndex.topK(spark, path,
          annFixtureCorpus(spark), "vec_id", "embedding",
          annFixtureQueries(spark), "qid", "qvec",
          k = 5, nprobe = 8, rerank = 400)
        .orderBy(col("qid"), col("rk"))
    }),
    // Cosine-metric persisted index (reference metric_type =
    // cosine_similarity, vector_index.md): codes are built over unit-
    // normalized vectors (argmax cosine == argmin L2 on the sphere),
    // the exact rerank ranks by TRUE cosine desc against the raw
    // floats. Full probe + full rerank ⇒ exactly brute-force cosine
    // top-5 — the SAME pinned oracle as the ad-hoc LSH/IVF gates.
    "sim_ivf_cosine" -> ((spark, dir) => {
      val path = vixGatePath(dir, "cosgate")
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.operators.VectorIndex.build(
        annFixtureCorpus(spark), "vec_id", "embedding", path,
        c = 8, m = 3, ks = 8, spill = 2, metric = "cosine")
      graft.operators.VectorIndex.topK(spark, path,
          annFixtureCorpus(spark), "vec_id", "embedding",
          annFixtureQueries(spark), "qid", "qvec",
          k = 5, nprobe = 8, rerank = 400)
        .orderBy(col("qid"), col("rk"))
    }),
    // Index DELETE gate (reference: primary-key deletes land as
    // delete vectors applied at read — be/src/storage/del_vector.h —
    // and the vector index inherits them): tombstone three ids, two of
    // them query 0/1's planted exact matches, then full-probe + full-
    // rerank query ⇒ EXACTLY brute-force L2 top-5 over the SURVIVING
    // corpus (VectorIndexSpec proves that identity independently; the
    // oracle pins the literals). The codes files are untouched by the
    // delete — masking happens in the shortlist anti-join.
    "sim_ivf_delete" -> ((spark, dir) => {
      import spark.implicits._
      val path = vixGatePath(dir, "delgate")
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.operators.VectorIndex.build(
        annFixtureCorpus(spark), "vec_id", "embedding", path,
        c = 8, m = 3, ks = 8, spill = 2)
      graft.operators.VectorIndex.delete(
        Seq(100L, 197L, 140L).toDF("vec_id"), "vec_id", path)
      graft.operators.VectorIndex.topK(spark, path,
          annFixtureCorpus(spark), "vec_id", "embedding",
          annFixtureQueries(spark), "qid", "qvec",
          k = 5, nprobe = 8, rerank = 400)
        .orderBy(col("qid"), col("rk"))
    }),
    // Planted-fixture k-means gate: full-corpus Lloyd on the
    // deterministic ANN fixture (repartition(1) pins accumulation
    // order, seeded hash-ordered init pins the seeds), so the learned
    // cells and every row's assignment are one fixed answer; pinned
    // per-cell as (n, id_sum, min/max member) — any single
    // assignment flip changes id_sum. Full-SF timing continues as
    // xb_kmeans_fullsf in Bench.
    "sim_kmeans_assign" -> ((spark, dir) => {
      Similarity.kMeans(annFixtureCorpus(spark), "vec_id", "embedding",
          k = 8, iters = 3)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"),
          min(col("vec_id")).as("id_min"), max(col("vec_id")).as("id_max"))
        .orderBy(col("cell"))
    }),
    // SemDeDup over real embeddings + planted scaled copies (x2 —
    // same direction ⇒ cosine exactly 1.0 AND an identical
    // nearest-centroid cell whatever the learned centroids are, since
    // cosine argmax is norm-invariant), with no real pair near the
    // 0.95 threshold (corpus max ~0.5). Survivors are therefore
    // exactly the original ids — independently recomputed by the
    // oracle from the all-pairs cosine graph, so the gate checks the
    // cluster-blocked path finds every planted pair and invents none.
    // Class-balance report for a labeled training set: share, Shannon
    // entropy and Gini impurity of the label distribution — the skew
    // check before sampling weights are chosen. Per-class terms route
    // through DECIMAL so the scalars are merge-order stable.
    "corpus_class_balance" -> ((spark, dir) => {
      val byLabel = t(spark, dir, "embeddings")
        .groupBy("label").agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      byLabel.agg(
        count(lit(1)).cast("int").as("n_classes"),
        round(sum((-col("p") * log(col("p"))).cast("decimal(28,12)"))
          .cast("double"), 6).as("entropy"),
        round(lit(1.0) - sum((col("p") * col("p")).cast("decimal(28,12)"))
          .cast("double"), 6).as("gini"),
        round(max("p"), 6).as("max_share"))
    }),
    // Deterministic negative sampling for contrastive pairs: each
    // anchor doc draws 5 modular-stride candidates, drops same-source
    // collisions, keeps the first 3 — reproducible on any engine (the
    // production variant swaps the stride for a seeded xxhash64).
    "corpus_negative_sample" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("source"))
      val cands = docs
        .withColumn("k", explode(sequence(lit(0), lit(4))))
        .withColumn("neg_id", (col("doc_id") * 37 + col("k") * 101 + 13) % 100)
        .where(col("neg_id") =!= col("doc_id"))
      val negSrc = docs.select(col("doc_id").as("neg_id"), col("source").as("neg_source"))
      val valid = cands.join(negSrc, "neg_id")
        .where(col("source") =!= col("neg_source"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("k")
      valid.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("doc_id"), col("neg_id"), col("k"))
        .orderBy("doc_id", "k")
    }),
    // Per-label embedding centroids + intra-class spread: position-
    // exploded decimal sums give order-independent centroids; each
    // vector's L2 distance to its centroid sums (x−c)² per position
    // through DECIMAL, so the spread is bit-stable too. The label
    // centroid table (10 × 64) broadcasts back onto the vectors.
    "sim_label_centroids" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      val el = emb.select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", col("x").cast("double"))
      val cent = el.groupBy("label", "pos")
        .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("c"))
      val d2 = el.join(broadcast(cent), Seq("label", "pos"))
        .groupBy("label", "vec_id")
        .agg(sum(((col("x") - col("c")) * (col("x") - col("c")))
          .cast("decimal(28,12)")).as("d2"))
        .select(col("label"), sqrt(col("d2").cast("double")).as("d"))
      val spread = d2.groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(sum(col("d").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_dist"))
      val c03 = cent.filter(col("pos") < 4)
        .groupBy("label").pivot("pos", Seq(0, 1, 2, 3)).agg(first("c"))
        .select(col("label"), round(col("0"), 6).as("c0"), round(col("1"), 6).as("c1"),
          round(col("2"), 6).as("c2"), round(col("3"), 6).as("c3"))
      spread.join(c03, "label").orderBy("label")
    }),
    "dedup_semantic" -> ((spark, dir) => {
      // deterministic half-slice (budget pattern) — the gate proves
      // SemDeDup catches every >=0.95 pair vs an all-pairs oracle;
      // full-SF clustering timing continues as xb_kmeans_fullsf
      val emb = t(spark, dir, "embeddings")
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Dedup.semanticDedup(emb.unionByName(planted), "vec_id", "embedding",
          k = 16, threshold = 0.95, iters = 2)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    // int8 quantization roundtrip: codes recomputed bit-for-bit by
    // the oracle; reconstruction error bounded by scale/2
    "sim_quantize_int8" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      emb.select(col("vec_id"), col("embedding"),
          Similarity.int8Scale(col("embedding")).as("__scale"))
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding"), col("__scale")).as("q"),
          col("embedding"))
        .select(col("vec_id"),
          aggregate(col("q.codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
          round(col("q.scale"), 8).as("scale"),
          round(aggregate(
            zip_with(Similarity.dequantizeInt8(col("q")), col("embedding"),
              (a, b) => abs(a - b.cast("double"))),
            lit(0.0), (acc, e) => greatest(acc, e)), 6).as("max_err"))
        .orderBy(col("vec_id"))
    }),
    "sim_l2_pairs" -> ((spark, dir) => {
      val emb = t(spark, dir, "embeddings")
      val a = emb.filter(col("vec_id") < 20).select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb.filter(col("vec_id").between(20, 39)).select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.crossJoin(b)
        .select(col("id_a"), col("id_b"),
          round(graft.functions.VectorFunctions.l2_distance(col("va"), col("vb")), 5).as("l2"),
          round(graft.functions.VectorFunctions.dot_product(col("va"), col("vb")), 5).as("dot"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "text_profile" -> ((spark, dir) => {
      TextAnalysis.profile(t(spark, dir, "documents"), "doc_id", "text")
        .drop("fp")
        .orderBy(col("doc_id"))
    }),
    // Full-text MATCH over the inverted index (operators.InvertedIndex):
    // postings built by the standard tokenizer, match_all semantics
    // (every query term present), ranked by total term frequency.
    // The oracle retokenizes and recounts in DuckDB — fully
    // independent of the postings/semi-join machinery under test.
    "text_match_topk" -> ((spark, dir) => {
      val postings = graft.operators.InvertedIndex.build(
        t(spark, dir, "documents"), "doc_id", "text")
      graft.operators.InvertedIndex.matchTopK(
        postings, Seq("window", "scan", "merge"), k = 20)
    }),
    // BM25 relevance ranking over the same postings; the oracle
    // rebuilds postings, lengths, df and the full BM25 formula in
    // DuckDB independently (scores rounded to 4 dp on both sides)
    "text_match_bm25" -> ((spark, dir) => {
      val postings = graft.operators.InvertedIndex.build(
        t(spark, dir, "documents"), "doc_id", "text")
      graft.operators.InvertedIndex.bm25TopK(
        postings, Seq("window", "scan", "merge"), k = 15)
    }),
    // SQL MATCH predicate surface (match_any / match_all registered
    // scalar forms — the unindexed fallback path, callable from SQL)
    "text_match_predicates" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT doc_id,
        |  match_any(text, 'window scan') AS any_ws,
        |  match_all(text, 'window scan') AS all_ws
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // Phrase MATCH over positional postings: "stream table hash" must
    // appear consecutively in order; n_hits counts phrase starts. The
    // oracle rescans token windows in DuckDB — independent of the
    // position-anchor machinery under test.
    "text_match_phrase" -> ((spark, dir) => {
      val pos = graft.operators.InvertedIndex.buildPositional(
        t(spark, dir, "documents"), "doc_id", "text")
      graft.operators.InvertedIndex.phraseHits(
          pos, Seq("stream", "table", "hash"))
        .orderBy(col("doc_id"))
    }),
    // Proximity (NEAR) match: 'spark' within 3 tokens of 'join',
    // either order, off the same positional postings — the slop
    // operator completing the MATCH surface (exact-phrase gate above).
    "text_match_proximity" -> ((spark, dir) => {
      val pos = graft.operators.InvertedIndex.buildPositional(
        t(spark, dir, "documents"), "doc_id", "text")
      graft.operators.InvertedIndex.proximityHits(pos, "spark", "join", slop = 3)
        .orderBy(col("doc_id"))
    }),
    // Sparse TF-IDF all-pairs similarity: cosine of L2-normalized
    // tf-idf vectors as a term-keyed sparse dot product (inverted-
    // index similarity join), df-pruned at 30%; the oracle rebuilds
    // vectors and the pair join independently in DuckDB
    "text_tfidf_sim" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 200)
      val postings = graft.operators.InvertedIndex.build(docs, "doc_id", "text")
      graft.operators.InvertedIndex.similarDocsTopK(postings, k = 3,
          maxDfRatio = 0.3)
        .orderBy(col("id_a"), col("rk"))
    }),
    // Hybrid retrieval: BM25 top-20 (terms "window scan") fused with
    // vector-cosine top-20 (query = embedding 0) by reciprocal-rank
    // fusion over the shared 1..499 id space; the oracle recomputes
    // both retrievers and the fusion independently in DuckDB
    "text_hybrid_rrf" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
        .filter(col("doc_id") > 0 && col("doc_id") < 500)
      val emb = t(spark, dir, "embeddings")
      val postings = graft.operators.InvertedIndex.build(docs, "doc_id", "text")
      val bm = graft.operators.InvertedIndex
        .bm25TopK(postings, Seq("window", "scan"), k = 20)
        .select(col("doc_id"), col("rk"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val vec = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") > 0 && col("vec_id") < 500),
          "vec_id", "embedding", qv, "qid", "qvec", k = 20)
        .select(col("vec_id").as("doc_id"), col("rk"))
      graft.operators.InvertedIndex.rrfFuse(Seq(bm, vec), "doc_id",
        k0 = 60, topK = 10)
    }),
    // CCNet-shape LM quality filter: add-k bigram LM trained on the
    // even-doc_id slice, perplexity scored over the odd slice — the
    // oracle retrains and rescores independently in DuckDB (same
    // tokenizer, same smoothing formula, ppl rounded to 4 dp)
    "text_perplexity_lm" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val lm = LanguageModel.train(docs.filter(col("doc_id") % 2 === 0), "text")
      LanguageModel.perplexity(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", lm, k = 0.5)
        .orderBy(col("doc_id"))
    }),
    // connected components over a chain-structured pair graph (runs of
    // 5 consecutive doc_ids; diameter 4 forces multi-round label
    // propagation) — the pairs→clusters step of corpus dedup
    "dedup_cluster_reps" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
      val edges = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      Dedup.connectedComponents(edges, "src", "dst")
        .select(col("id"), col("comp"))
        .orderBy(col("id"))
    }),
    // PageRank web-quality prior over a deterministic link graph
    // (two formula-derived out-edges per doc) — the oracle unrolls
    // the same 5 power iterations as chained CTEs in DuckDB.
    // damping=0.75 so both sides compute 1-d exactly in binary.
    "corpus_pagerank" -> ((spark, dir) => {
      val ids = t(spark, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"))
      val edges = ids.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % 60).as("dst"))
        .union(ids.select(col("doc_id").as("src"),
          ((col("doc_id") * col("doc_id") + 1) % 60).as("dst")))
      Graph.pageRank(edges, "src", "dst", damping = 0.75, iters = 5)
        .orderBy(col("id"))
    }),
    // token-distribution drift between the even/odd corpus halves:
    // add-k smoothed unigram KL both ways + Jensen-Shannon; oracle
    // recomputes distributions and divergences in DuckDB
    "corpus_js_divergence" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      LanguageModel.distributionDivergence(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", k = 0.5)
    }),
    // Efraimidis-Spirakis weighted sampling without replacement, 5
    // docs per stratum; u is a formula-derived uniform so DuckDB can
    // replay the exact sample (production default: xxhash64 of id)
    "corpus_weighted_sample" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
        .withColumn("stratum", col("doc_id") % 3)
        .withColumn("wt", (col("doc_id") % 7 + 1).cast("double"))
      TextAnalysis.weightedSample(docs, "stratum", "doc_id", "wt", 5,
          uCol = Some((((col("doc_id") * 2654435761L) % 1000003L)
            .cast("double") + 0.5) / 1000003.0))
        .orderBy(col("stratum"), col("rk"))
    }),
    // per-node triangle counts via degree-ordered orientation; the
    // oracle counts the same triangles with the naive canonical
    // triple join — an independent algorithm, same answer
    "graph_triangles" -> ((spark, dir) => {
      val ids = t(spark, dir, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id"))
      val edges = Seq((3, 1), (7, 2), (13, 5)).map { case (m, c) =>
        ids.select(col("doc_id").as("src"),
          ((col("doc_id") * m + c) % 80).as("dst"))
      }.reduce(_ unionByName _)
      Graph.triangleCounts(edges, "src", "dst").orderBy(col("id"))
    }),
    // deterministic corpus split (hashCol = modulo so DuckDB can
    // recompute; production default is a stable xxhash64 of the id)
    // k-core extraction (Graph.kCore): iterative peel of the planted
    // deterministic graph until every surviving node has in-core
    // degree >= 3; expected core computed once from the edge formulas
    // and pinned. Non-trivial peel: 156 planted edges, 62 survivors.
    "graph_kcore" -> ((spark, dir) => {
      val ids = t(spark, dir, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id"))
      val e1 = ids.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 1) % 80).as("dst"))
      val e2 = ids.filter(col("doc_id") < 40).select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 2) % 80).as("dst"))
      val e3 = ids.filter(col("doc_id") < 40).select(col("doc_id").as("src"),
        ((col("doc_id") * 13 + 5) % 80).as("dst"))
      Graph.kCore(e1.unionByName(e2).unionByName(e3), "src", "dst", k = 3)
        .orderBy(col("id"))
    }),
    // Single-source BFS levels (Graph.bfsLevels) on the same planted
    // graph as graph_kcore; expected hop distances computed once
    // outside the engine and pinned (all 80 nodes reachable, 5 hops).
    "graph_bfs_levels" -> ((spark, dir) => {
      val ids = t(spark, dir, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id"))
      val e1 = ids.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 1) % 80).as("dst"))
      val e2 = ids.filter(col("doc_id") < 40).select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 2) % 80).as("dst"))
      val e3 = ids.filter(col("doc_id") < 40).select(col("doc_id").as("src"),
        ((col("doc_id") * 13 + 5) % 80).as("dst"))
      Graph.bfsLevels(e1.unionByName(e2).unionByName(e3), "src", "dst", source = 0L)
        .orderBy(col("id"))
    }),
    // Entity resolution end-to-end: prefix-blocked candidate pairs
    // (levenshtein <= 2) → connected components over the match graph →
    // canonical representative (lexicographic min name) per entity.
    // The oracle closes the SAME edge set with a recursive min-label
    // CTE — transitive chains must agree, not just direct pairs.
    "er_entities" -> ((spark, dir) => {
      val names = t(spark, dir, "part").select(col("p_name")).distinct()
        .withColumn("id", xxhash64(col("p_name")))
        .withColumn("blk", substring(col("p_name"), 1, 4))
      val a = names.select(col("blk"), col("p_name").as("name_a"), col("id").as("id_a"))
      val b = names.select(col("blk"), col("p_name").as("name_b"), col("id").as("id_b"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val labeled = names.join(comp, Seq("id"), "left")
        .withColumn("comp", coalesce(col("comp"), col("id")))
      val reps = labeled.groupBy("comp")
        .agg(min("p_name").as("entity_rep"), count(lit(1)).as("entity_size"))
      labeled.join(reps, "comp")
        .select(col("p_name"), col("entity_rep"), col("entity_size"))
        .orderBy(col("p_name"))
    }),
    "corpus_split" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      TextAnalysis.assignSplit(docs, "doc_id",
        Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
        hashCol = Some(pmod(col("doc_id") * 7919L, lit(1000000L))))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"))
    }),
    // flagship end-to-end corpus prep: length filter → exact dedup on
    // normalized fingerprint → chunk → pack → per-lang sequence stats
    "pipeline_end_to_end" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("n_chars") >= 200)
      val withFp = docs.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      val kept = Dedup.exact(withFp, Seq("__fp"), "doc_id").drop("__fp")
      val chunks = TextAnalysis.chunk(kept, "doc_id", "text", 40, 8)
        .join(kept.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.packSequences(chunks, Seq("lang"), Seq("doc_id", "chunk_idx"),
        "n_tokens", maxTokens = 512)
        .groupBy(col("lang"))
        .agg(countDistinct(col("seq_id")).as("n_sequences"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang"))
    }),
    // context-window chunking: overlapping token windows per document
    "chunk_documents" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 300)
      TextAnalysis.chunk(docs, "doc_id", "text", chunkTokens = 40, overlapTokens = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    // sequence packing: chunks → ~512-token training sequences,
    // partition-parallel by lang shard
    "pack_sequences" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 300)
      val chunks = TextAnalysis.chunk(docs, "doc_id", "text", 40, 8)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.packSequences(chunks, Seq("lang"), Seq("doc_id", "chunk_idx"),
        "n_tokens", maxTokens = 512)
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang"), col("seq_id"))
    }),
    // full pipeline step: cluster the pair graph, keep one
    // representative per component, profile what survives
    "dedup_corpus_clean" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
      val edges = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      Dedup.dedupByPairs(docs, "doc_id", edges, "src", "dst")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),
    // PII scrub: documents carry no PII, so the gate plants synthetic
    // email/IP/phone strings deterministically; the oracle replants and
    // Corpus-prep funnel observability: docs surviving each pipeline
    // stage (raw → text-dedup → length floor → language filter) with
    // retention ratios — the run report every data pipeline publishes.
    "corpus_funnel_report" -> ((spark, dir) => sqlq(spark, dir)(
      """WITH raw AS (SELECT count(*) AS n FROM documents),
        |dedup AS (SELECT count(DISTINCT text) AS n FROM documents),
        |len AS (
        |  SELECT count(DISTINCT text) AS n FROM documents WHERE n_chars >= 200),
        |lang AS (
        |  SELECT count(DISTINCT text) AS n FROM documents
        |  WHERE n_chars >= 200 AND lang = 'en')
        |SELECT stage, n,
        |  round(CAST(n AS DOUBLE) / max(n) OVER (), 6) AS retained
        |FROM (
        |  SELECT 1 AS ord, 'raw' AS stage, n FROM raw
        |  UNION ALL SELECT 2, 'text_dedup', n FROM dedup
        |  UNION ALL SELECT 3, 'len_ge_200', n FROM len
        |  UNION ALL SELECT 4, 'lang_en', n FROM lang)
        |ORDER BY ord""".stripMargin)),
    // Lexical diversity (corpus quality signal alongside the Gopher
    // gate): per-doc type-token ratio and hapax fraction — low TTR
    // flags template/boilerplate docs, high hapax flags noise. One
    // explode + two keyed aggregations, map-side combined.
    "text_lexical_diversity" -> ((spark, dir) => {
      val words = t(spark, dir, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .where(col("w") =!= "")
      val perWord = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      perWord.groupBy("doc_id").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(col("n_hapax").cast("double") /
            greatest(col("n_types"), lit(1L)), 6).as("hapax_frac"))
        .orderBy("doc_id")
    }),
    // Unicode canonicalization (normalize_text kernel): NFKC fold +
    // accent strip + casefold + whitespace collapse over a fixture
    // covering ligatures, fullwidth forms, combining marks, sharp-s
    // and compatibility symbols; expected outputs computed once from
    // the Unicode tables and pinned as a literal oracle.
    "text_normalize_unicode" -> ((spark, dir) => {
      import spark.implicits._
      Seq((0L, "Héllò  Wörld"), (1L, "ﬁne ﬂow"),
        (2L, "ＦＵＬＬｗｉｄｔｈ　１２３"),
        (3L, "Å Ångström™"), (4L, "straße CAFÉ café"),
        (5L, "№5 …done\tnow")).toDF("id", "raw")
        .select(col("id"), expr("normalize_text(raw)").as("norm"))
        .orderBy("id")
    }),
    // Within-doc repeated-line removal (intra-doc C4 cleanup): build
    // multi-line fixture docs from the corpus (10 docs per group, the
    // group's first line replanted at the end as a guaranteed dup),
    // keep first occurrences in order, report dup-line stats. The
    // oracle reconstructs the same fixture and recomputes in SQL.
    "text_dedup_lines" -> ((spark, dir) => {
      val g = t(spark, dir, "documents").filter(col("doc_id") < 100)
        .select(expr("CAST(doc_id DIV 10 AS BIGINT)").as("gid"),
          col("doc_id"), col("text"))
      val multi = g.groupBy("gid").agg(
        concat(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          s => s.getField("text")), "\n"),
          lit("\n"), expr("min_by(text, doc_id)")).as("text"))
      TextAnalysis.dedupLines(multi, "gid", "text").orderBy("gid")
    }),
    // rescrubs with the SAME regex text (RE2-safe patterns)
    "text_pii_scrub" -> ((spark, dir) => {
      val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact alice@example.com now")))
          .when(col("doc_id") % 5 === 1,
            concat(col("text"), lit(" server at 192.168.10.1 port")))
          .when(col("doc_id") % 5 === 2,
            concat(col("text"), lit(" call 555-867-5309 today")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
        regexp_count(col("text"), lit(TextAnalysis.piiEmailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(TextAnalysis.piiPhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("text"), lit(TextAnalysis.piiIpRe)).cast("long").as("n_ip"),
        TextAnalysis.piiScrub(col("text")).as("scrubbed"))
        .orderBy(col("doc_id"))
    }),
    // Gopher-style quality gate: scalar metrics + bigram repetition
    "text_quality_gopher" -> ((spark, dir) => {
      TextAnalysis.gopherQuality(t(spark, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("stop_frac"), 6).as("stop_frac"),
          col("n_bigrams"), col("max_bigram_n"),
          round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"),
          col("keep"))
        .orderBy(col("doc_id"))
    }),
    // boilerplate-line removal: ' ||| '-separated lines planted so
    // 'INTRO' (100% of docs) and 'SUBSCRIBE NOW' (33%) exceed the 5%
    // document-frequency threshold while each doc's real text survives
    "text_strip_boilerplate" -> ((spark, dir) => {
      val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(lit("INTRO ||| "), col("text"), lit(" ||| SUBSCRIBE NOW")))
          .otherwise(concat(lit("INTRO ||| "), col("text"))))
      TextAnalysis.stripBoilerplate(planted, "doc_id", "text",
          sepRegex = " \\|\\|\\| ", sepOut = " ||| ", maxDocFrac = 0.05)
        .orderBy(col("doc_id"))
    }),
    // benchmark decontamination: docs with doc_id % 7 == 0 play the
    // eval set; corpus docs sharing >= 1 distinct word 5-gram with any
    // eval doc are reported, flagged at >= 10% distinct-gram overlap
    // (the GPT-3/PaLM-style n-gram collision scrub). Eval grams are
    // broadcast — the corpus side never shuffles rows, only counts.
    "text_decontaminate" -> ((spark, dir) => {
      val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      TextAnalysis.decontaminate(
          d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", n = 5, flagFrac = 0.1)
        .orderBy(col("doc_id"))
    }),
    // DSIR importance weights: docs scored by unigram log-ratio of the
    // 'src0' target domain vs the whole corpus; top-50 by rounded score
    // (round-then-rank keeps the order engine-independent; the raw
    // double differs at 1e-15 with token order). TakeOrderedAndProject
    // handles the top-k distributed; the 50-row rank window is trivial.
    "corpus_importance_weights" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(spark, dir, "documents")
      val scored = TextAnalysis.importanceWeights(
          d, d.filter(col("source") === "src0"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("score"), 6).as("score"))
      scored.orderBy(col("score").desc, col("doc_id")).limit(50)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .orderBy(col("rk"))
    }),
    // stratified corpus mixing: per-source keep rates off a stable hash
    "corpus_sample_mix" -> ((spark, dir) => {
      TextAnalysis.stratifiedSample(t(spark, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1,
        hashCol = Some(pmod(col("doc_id") * 7919L, lit(1000000L))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy(col("source"))
    }),
    // incremental ingestion dedup: a new batch against the standing
    // corpus by normalized-text fingerprint — batch-internal dups
    // collapse to the first id, corpus-known texts drop entirely
    "dedup_incremental" -> ((spark, dir) => {
      val corpus = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("zzz "), col("text")).as("text"))          // novel
        .unionByName(corpus.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))  // corpus dup
        .unionByName(corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            concat(lit("zzz "), col("text")).as("text")))       // batch-internal dup
      Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // adjacent-word pair counts — the counting step of BPE/vocab
    // induction. The word array is projected to an ATTRIBUTE before
    // the pair lambda (interpreted HOFs re-evaluate closed-over
    // subtrees per element); top-50 with a total order so the limit
    // boundary is deterministic under ties
    "corpus_bpe_pairs" -> ((spark, dir) => {
      val ws = t(spark, dir, "documents")
        .select(TextAnalysis.normWords(col("text")).as("ws"))
      ws.filter(size(col("ws")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(50)
    }),
    // Full BPE merge-loop training (Sennrich 2016) on the
    // deterministic fixture corpus: 12 learned merge rules pinned as
    // a literal oracle; TextAnalysisSpec re-derives the same table
    // with an independent local reference implementation. Full-SF
    // word-table timing continues as xb_bpe_train_fullsf in Bench.
    "corpus_bpe_train" -> ((spark, dir) => {
      import spark.implicits._
      TextAnalysis.bpeTrain(bpeFixtureDocs(spark), "text", merges = 12)
        .toDF("rank", "left", "right", "merged", "freq")
        .select(col("rank").cast("int").as("rank"), col("left"),
          col("right"), col("merged"), col("freq"))
        .orderBy(col("rank"))
    }),
    // Encoding with the learned rules: the merge rewrites applied in
    // rank order as a scan-side regexp chain; includes a word with
    // characters never merged (pure char fallback)
    "corpus_bpe_encode" -> ((spark, dir) => {
      import spark.implicits._
      val merges = TextAnalysis.bpeTrain(bpeFixtureDocs(spark), "text", merges = 12)
        .map(m => (m._2, m._3))
      Seq("the", "theme", "catalog", "dogma", "math", "that", "unseen")
        .toDF("word")
        .select(col("word"),
          concat_ws("|", TextAnalysis.bpeSegmentWord(col("word"), merges)).as("tokens"))
        .orderBy(col("word"))
    }),
    // reproducible training-order shuffle: a distributed sort on a
    // seeded md5 key (TakeOrderedAndProject for the prefix here; a
    // range-exchange sort for a full corpus rewrite — never a global
    // row_number window). Gate pins the first 64 global positions.
    "corpus_shuffle_order" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val keyed = t(spark, dir, "documents").select(col("doc_id"),
        TextAnalysis.shuffleKey(col("doc_id"), "epoch7").as("skey"))
      keyed.orderBy(col("skey")).limit(64)
        .withColumn("pos",
          row_number().over(Window.orderBy(col("skey"))).cast("long"))
    }),
    // temperature-flattened mixture weights per language (mT5-style):
    // p^0.7 renormalized, document budget 1M
    "corpus_temperature_mix" -> ((spark, dir) => {
      TextAnalysis.temperatureMix(t(spark, dir, "documents"), "lang", 0.7,
          1000000L)
        .orderBy(col("lang"))
    }),
    // per-domain frequency cap: keep <=70 docs per lang preferring
    // longer docs; binds for en/zh/es at sf0.01, boundary-exact for de
    "corpus_domain_cap" -> ((spark, dir) => {
      TextAnalysis.frequencyCap(t(spark, dir, "documents"), "lang", "doc_id",
          col("n_chars"), 70)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("lang"))
    }),
    // partial-column upsert: source provides only c_acctbal (incl. an
    // explicit NULL for key 7 — provided-NULL wins) plus a brand-new
    // key whose unprovided columns land NULL
    "keys_partial_update" -> ((spark, dir) => {
      val target = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      val updates = t(spark, dir, "customer")
        .filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 500).as("c_acctbal"))
        .unionByName(spark.createDataFrame(
            Seq((8888888L, Option(1.5)), (7L, Option.empty[Double])))
          .toDF("c_custkey", "c_acctbal"))
      KeysModels.partialUpdate(target, updates, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
    "keys_primary_upsert" -> ((spark, dir) => {
      // simulate a PRIMARY KEY table: base orders (v1) + price updates
      // (v2) for odd keys + delete markers (v3) for keys % 100 == 0
      val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val base = o.withColumn("v", lit(1)).withColumn("del", lit(false))
      val updates = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
        .withColumn("v", lit(2)).withColumn("del", lit(false))
      val deletes = o.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("v", lit(3)).withColumn("del", lit(true))
      KeysModels.upsertView(base.unionByName(updates).unionByName(deletes),
          Seq("o_orderkey"), "v", deleteCol = Some("del"))
        .select(col("o_orderkey"), col("o_totalprice"), col("v"))
        .orderBy(col("o_orderkey"))
    }),
    "keys_merge_into" -> ((spark, dir) => {
      val target = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val source = t(spark, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 1000).as("c_acctbal"))
        .unionByName(spark.createDataFrame(Seq((9999999L, 42.0))).toDF("c_custkey", "c_acctbal"))
      KeysModels.mergeInto(target, source, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }))

  private val annFixtureTopkOracle: String =
    """SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
      |  CAST(cos AS DOUBLE) AS cos, CAST(rk AS BIGINT) AS rk
      |FROM (VALUES
      |  (0, 100, 1.0, 1), (0, 197, 1.0, 2), (0, 294, 1.0, 3),
      |  (0, 172, 0.999424, 4), (0, 269, 0.999424, 5),
      |  (1, 140, 1.0, 1), (1, 237, 1.0, 2), (1, 165, 0.999365, 3),
      |  (1, 262, 0.999365, 4), (1, 115, 0.999365, 5),
      |  (2, 180, 1.0, 1), (2, 277, 1.0, 2), (2, 155, 0.999336, 3),
      |  (2, 252, 0.999336, 4), (2, 108, 0.999325, 5),
      |  (3, 123, 1.0, 1), (3, 220, 1.0, 2), (3, 148, 0.999336, 3),
      |  (3, 245, 0.999336, 4), (3, 195, 0.999329, 5),
      |  (4, 163, 1.0, 1), (4, 260, 1.0, 2), (4, 188, 0.999437, 3),
      |  (4, 285, 0.999437, 4), (4, 138, 0.999419, 5)
      |) t(qid, vec_id, cos, rk)
      |ORDER BY qid, rk""".stripMargin

  // pinned from the deterministic PQ fixture run (see sim_pq_topk
  // comment); regenerate with:
  //   Pipeline.queries("sim_pq_topk")(spark, dir).show(30, false)
  // PageRank oracle: the same 5 power iterations unrolled as chained
  // CTEs (r0..r5), same deterministic formula-derived edges, same
  // damping 0.75 (1-d = 0.25 is exact in binary on both sides)
  private val pagerankOracle: String = {
    val base =
      """WITH e AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % 60 AS dst
        |  FROM documents WHERE doc_id < 60
        |  UNION ALL
        |  SELECT doc_id, (doc_id * doc_id + 1) % 60
        |  FROM documents WHERE doc_id < 60),
        |nodes AS (SELECT DISTINCT id
        |          FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)""".stripMargin
    val iters = (1 to 5).map { i =>
      s""",
         |r$i AS (
         |  SELECT nodes.id, 0.25 / nn.n + 0.75 * coalesce(c.inflow, 0) AS rank
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.rank / deg.deg) AS inflow
         |             FROM e JOIN r${i - 1} p ON e.src = p.id
         |             JOIN deg ON e.src = deg.id GROUP BY e.dst) c
         |    ON nodes.id = c.id)""".stripMargin
    }.mkString
    base + iters + "\nSELECT id, round(rank, 6) AS rank FROM r5 ORDER BY id"
  }

  private val simPqTopkOracle: String =
    """SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
      |  CAST(approx_l2 AS DOUBLE) AS approx_l2, CAST(rk AS BIGINT) AS rk
      |FROM (VALUES
      |  (0, 100, 0.202582, 1), (0, 122, 0.202582, 2), (0, 144, 0.202582, 3),
      |  (0, 147, 0.202582, 4), (0, 169, 0.202582, 5),
      |  (1, 115, 0.217406, 1), (1, 140, 0.217406, 2), (1, 162, 0.217406, 3),
      |  (1, 165, 0.217406, 4), (1, 187, 0.217406, 5),
      |  (2, 108, 0.177972, 1), (2, 130, 0.177972, 2), (2, 155, 0.177972, 3),
      |  (2, 180, 0.177972, 4), (2, 205, 0.177972, 5),
      |  (3, 120, 0.157011, 1), (3, 123, 0.157011, 2), (3, 145, 0.157011, 3),
      |  (3, 148, 0.157011, 4), (3, 167, 0.157011, 5),
      |  (4, 113, 0.130953, 1), (4, 138, 0.130953, 2), (4, 163, 0.130953, 3),
      |  (4, 188, 0.130953, 4), (4, 210, 0.130953, 5)
      |) t(qid, vec_id, approx_l2, rk)
      |ORDER BY qid, rk""".stripMargin

  // pinned from the deterministic fixture run (see sim_kmeans_assign
  // comment); regenerate with:
  //   Pipeline.queries("sim_kmeans_assign")(spark, dir).show(false)
  private val simKmeansAssignOracle: String =
    """SELECT CAST(cell AS INT) AS cell, CAST(n AS BIGINT) AS n,
      |  CAST(id_sum AS BIGINT) AS id_sum,
      |  CAST(id_min AS BIGINT) AS id_min, CAST(id_max AS BIGINT) AS id_max
      |FROM (VALUES
      |  (0, 45, 8922, 104, 298), (1, 24, 4950, 118, 293),
      |  (2, 10, 1987, 117, 286), (3, 26, 5213, 100, 297),
      |  (4, 24, 4674, 108, 283), (5, 25, 5081, 101, 295),
      |  (6, 12, 2406, 102, 299), (7, 34, 6667, 106, 284)
      |) t(cell, n, id_sum, id_min, id_max)
      |ORDER BY cell""".stripMargin

  // pinned from the deterministic BPE fixture run; independently
  // re-derived by TextAnalysisSpec's reference implementation
  private val bpeTrainOracle: String =
    """SELECT CAST(rank AS INT) AS rank, left_s AS "left", right_s AS "right",
      |  merged, CAST(freq AS BIGINT) AS freq
      |FROM (VALUES
      |  (0, 'a', 't', 'at', 160),
      |  (1, 't', 'h', 'th', 134),
      |  (2, 'th', 'e', 'the', 108),
      |  (3, 'at', '</w>', 'at</w>', 80),
      |  (4, 'o', 'g', 'og', 80),
      |  (5, 'c', 'at', 'cat', 54),
      |  (6, 'e', '</w>', 'e</w>', 54),
      |  (7, 'og', '</w>', 'og</w>', 54),
      |  (8, 'a', 'l', 'al', 28),
      |  (9, 'al', 'og</w>', 'alog</w>', 28),
      |  (10, 'cat', 'alog</w>', 'catalog</w>', 28),
      |  (11, 'm', 'at</w>', 'mat</w>', 28)
      |) t(rank, left_s, right_s, merged, freq)
      |ORDER BY rank""".stripMargin

  private val bpeEncodeOracle: String =
    """SELECT word, tokens FROM (VALUES
      |  ('catalog', 'catalog</w>'),
      |  ('dogma', 'd|og|m|a|</w>'),
      |  ('math', 'm|at|h|</w>'),
      |  ('that', 'th|at</w>'),
      |  ('the', 'the|</w>'),
      |  ('theme', 'the|m|e</w>'),
      |  ('unseen', 'u|n|s|e|e|n|</w>')
      |) t(word, tokens)
      |ORDER BY word""".stripMargin

  def oracles: Map[String, String] = {
    val planted =
      """planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, concat('zzz ', text) FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 1)""".stripMargin
    Map(
    "dedup_exact" ->
      s"""WITH $planted
        |SELECT min(doc_id) AS doc_id FROM planted GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH $planted,
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
        |  FROM planted),
        |wins AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    array_to_string(ws[u.i:u.i+7], ' ') AS win
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 7)) AS u(i)
        |  WHERE len(ws) >= 8),
        |dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) > 1),
        |dpos AS (SELECT doc_id, pos FROM wins WHERE win IN (SELECT win FROM dup)),
        |grp AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM dpos)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM grp GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin,
    // Independent ground-truth oracle for the minhash pipeline: DuckDB
    // recomputes exact 3-gram Jaccard for ALL pairs (the trigram
    // construction is engine-equal per the dedup_ngram_jaccard gate) —
    // survivors are docs with no smaller >= 0.8 partner. The
    // `5*min >= 4*max` size band is an exact-integer NECESSARY
    // condition for Jaccard >= 0.8 (i <= min(|A|,|B|) and
    // i >= 0.8*u >= 0.8*max), pruning the quadratic pair space; the
    // final compare uses the same double division as the Spark verify
    // stage so boundary pairs agree bit-for-bit.
    "dedup_minhash" ->
      s"""WITH planted AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, concat('zzz ', text) FROM documents WHERE doc_id % 30 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 30 = 6),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        |      i -> concat(string_split(text, ' ')[i], ' ',
        |                  string_split(text, ' ')[i+1], ' ',
        |                  string_split(text, ' ')[i+2]))) AS g
        |  FROM planted),
        |sz AS (SELECT doc_id, g, len(g) AS ng FROM sh),
        |losers AS (
        |  SELECT x.doc_id FROM sz x JOIN sz a
        |    ON a.doc_id < x.doc_id AND a.ng > 0 AND x.ng > 0
        |   AND 5 * least(a.ng, x.ng) >= 4 * greatest(a.ng, x.ng)
        |   AND CAST(len(list_intersect(a.g, x.g)) AS DOUBLE)
        |     / CAST(len(list_distinct(list_concat(a.g, x.g))) AS DOUBLE) >= 0.8)
        |SELECT doc_id FROM sz
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    // Pinned expected rows for the deterministic simhash fixture
    // (simhashFixtureDocs): exact copies pair at hamming 0; the
    // one-word mutations of docs 4/16 land at hamming 3 (mutations of
    // 0/8/12 move the signature further than 3 bits — correctly
    // absent). Values verified once against the fixture by hand and
    // pinned; any signature/banding regression breaks the match.
    "dedup_simhash_pairs" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(hamming AS INTEGER) AS hamming
        |FROM (VALUES (0, 200, 0), (4, 116, 3), (5, 205, 0), (10, 210, 0),
        |             (15, 215, 0), (16, 116, 3)) t(id_a, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin,
    // Pinned expected top-5 for the deterministic ANN fixture: the
    // mod-97 period of the generator makes vec(i), vec(i+97),
    // vec(i+194) identical, so each query (a copy of corpus vector
    // q*40) has 2-3 exact cosine-1.0 matches — ties broken by vec_id,
    // exercising the deterministic tie order. LSH (8 planes x 4
    // tables, multi-probe) and IVF (8 cells, 4 probes) both achieve
    // exact recall on this fixture, so both pin the same rows.
    "sim_lsh_topk" -> annFixtureTopkOracle,
    "sim_ivf_topk" -> annFixtureTopkOracle,
    // the cosine persisted index at full probe + full rerank is exact
    // brute-force cosine — same pinned fixture literals
    "sim_ivf_cosine" -> annFixtureTopkOracle,
    // Pinned from the deterministic full-probe run (nprobe = c,
    // rerank >= corpus ⇒ exact brute-force L2 over the fixture; the
    // same mod-97 duplicates give each query 2-3 exact l2=0 matches,
    // then the 0.035712 shell, ties by vec_id). Regenerate with:
    //   Pipeline.queries("sim_ivf_persisted")(spark, dir).show(30, false)
    "sim_ivf_persisted" ->
      """SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
        |  CAST(l2 AS DOUBLE) AS l2, CAST(rk AS BIGINT) AS rk
        |FROM (VALUES
        |  (0, 100, 0.0, 1), (0, 197, 0.0, 2), (0, 294, 0.0, 3),
        |  (0, 172, 0.035712, 4), (0, 269, 0.035712, 5),
        |  (1, 140, 0.0, 1), (1, 237, 0.0, 2), (1, 115, 0.035712, 3),
        |  (1, 165, 0.035712, 4), (1, 212, 0.035712, 5),
        |  (2, 180, 0.0, 1), (2, 277, 0.0, 2), (2, 155, 0.035712, 3),
        |  (2, 252, 0.035712, 4), (2, 108, 0.035712, 5),
        |  (3, 123, 0.0, 1), (3, 220, 0.0, 2), (3, 148, 0.035712, 3),
        |  (3, 195, 0.035712, 4), (3, 245, 0.035712, 5),
        |  (4, 163, 0.0, 1), (4, 260, 0.0, 2), (4, 138, 0.035712, 3),
        |  (4, 188, 0.035712, 4), (4, 235, 0.035712, 5)
        |) t(qid, vec_id, l2, rk)
        |ORDER BY qid, rk""".stripMargin,
    // Pinned from the deterministic full-probe run AFTER tombstoning
    // ids 100/197/140: query 0 loses both its l2=0 twins (294 stays,
    // the 0.071425 shell backfills ranks 4-5), query 1 loses its rank-1
    // (262 backfills), queries 2-4 are untouched. VectorIndexSpec
    // proves the masked full-probe result == brute-force L2 over the
    // surviving corpus; these literals pin it for the driver. Regen:
    //   Pipeline.queries("sim_ivf_delete")(spark, dir).show(30, false)
    "sim_ivf_delete" ->
      """SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
        |  CAST(l2 AS DOUBLE) AS l2, CAST(rk AS BIGINT) AS rk
        |FROM (VALUES
        |  (0, 294, 0.0, 1), (0, 172, 0.035712, 2), (0, 269, 0.035712, 3),
        |  (0, 147, 0.071425, 4), (0, 244, 0.071425, 5),
        |  (1, 237, 0.0, 1), (1, 115, 0.035712, 2), (1, 165, 0.035712, 3),
        |  (1, 212, 0.035712, 4), (1, 262, 0.035712, 5),
        |  (2, 180, 0.0, 1), (2, 277, 0.0, 2), (2, 155, 0.035712, 3),
        |  (2, 252, 0.035712, 4), (2, 108, 0.035712, 5),
        |  (3, 123, 0.0, 1), (3, 220, 0.0, 2), (3, 148, 0.035712, 3),
        |  (3, 195, 0.035712, 4), (3, 245, 0.035712, 5),
        |  (4, 163, 0.0, 1), (4, 260, 0.0, 2), (4, 138, 0.035712, 3),
        |  (4, 188, 0.035712, 4), (4, 235, 0.035712, 5)
        |) t(qid, vec_id, l2, rk)
        |ORDER BY qid, rk""".stripMargin,
    "sim_pq_topk" -> simPqTopkOracle,
    "sim_kmeans_assign" -> simKmeansAssignOracle,
    "corpus_bpe_train" -> bpeTrainOracle,
    "corpus_bpe_encode" -> bpeEncodeOracle,
    // survivors = ids with no smaller >= 0.95-cosine partner in the
    // ALL-pairs graph (components here are exactly {orig, x2-copy}
    // pairs, so min-id-per-component ≡ "no smaller partner")
    "corpus_class_balance" ->
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        |p AS (SELECT label, CAST(n AS DOUBLE) / sum(n) OVER () AS p FROM c)
        |SELECT CAST(count(*) AS INT) AS n_classes,
        |  round(CAST(sum(CAST(-p * ln(p) AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy,
        |  round(1.0 - CAST(sum(CAST(p * p AS DECIMAL(28,12))) AS DOUBLE), 6) AS gini,
        |  round(max(p), 6) AS max_share
        |FROM p""".stripMargin,
    "corpus_negative_sample" ->
      """WITH docs AS (
        |  SELECT doc_id, source FROM documents WHERE doc_id < 100),
        |cands AS (
        |  SELECT d.doc_id, d.source, k,
        |    (d.doc_id * 37 + k * 101 + 13) % 100 AS neg_id
        |  FROM docs d, (SELECT unnest(generate_series(0, 4)) AS k)
        |  WHERE (d.doc_id * 37 + k * 101 + 13) % 100 <> d.doc_id),
        |valid AS (
        |  SELECT c.doc_id, c.neg_id, c.k,
        |    row_number() OVER (PARTITION BY c.doc_id ORDER BY c.k) AS rk
        |  FROM cands c JOIN docs n ON c.neg_id = n.doc_id
        |  WHERE c.source <> n.source)
        |SELECT doc_id, neg_id, CAST(k AS INT) AS k FROM valid
        |WHERE rk <= 3 ORDER BY doc_id, k""".stripMargin,
    "sim_label_centroids" ->
      """WITH sp AS (SELECT label, vec_id, embedding AS e FROM embeddings),
        |p AS (SELECT label, vec_id, unnest(generate_series(1, len(e))) AS i, e FROM sp),
        |el AS (SELECT label, vec_id, i - 1 AS pos, CAST(e[i] AS DOUBLE) AS x FROM p),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS c
        |  FROM el GROUP BY label, pos),
        |d2 AS (
        |  SELECT el.label, el.vec_id,
        |    sqrt(CAST(sum(CAST((el.x - c.c) * (el.x - c.c) AS DECIMAL(28,12))) AS DOUBLE)) AS d
        |  FROM el JOIN cent c ON el.label = c.label AND el.pos = c.pos
        |  GROUP BY el.label, el.vec_id),
        |spread AS (
        |  SELECT label, count(*) AS n,
        |    round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_dist
        |  FROM d2 GROUP BY label)
        |SELECT s.label, s.n, s.mean_dist,
        |  round(max(CASE WHEN pos = 0 THEN c END), 6) AS c0,
        |  round(max(CASE WHEN pos = 1 THEN c END), 6) AS c1,
        |  round(max(CASE WHEN pos = 2 THEN c END), 6) AS c2,
        |  round(max(CASE WHEN pos = 3 THEN c END), 6) AS c3
        |FROM spread s JOIN cent ON s.label = cent.label
        |GROUP BY s.label, s.n, s.mean_dist ORDER BY s.label""".stripMargin,
    "dedup_semantic" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> x * CAST(2 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c
        |  FROM planted a JOIN planted b ON a.vec_id < b.vec_id)
        |SELECT vec_id FROM planted
        |WHERE vec_id NOT IN (SELECT id_b FROM pairs WHERE c >= 0.95)
        |ORDER BY vec_id""".stripMargin,
    "text_match_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(list_filter(ts, x -> x = 'window')) AS c1,
        |    len(list_filter(ts, x -> x = 'scan')) AS c2,
        |    len(list_filter(ts, x -> x = 'merge')) AS c3
        |  FROM tok)
        |SELECT doc_id, CAST(c1 + c2 + c3 AS BIGINT) AS score,
        |  CAST(row_number() OVER (ORDER BY c1 + c2 + c3 DESC, doc_id) AS BIGINT) AS rk
        |FROM m WHERE c1 > 0 AND c2 > 0 AND c3 > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "corpus_pagerank" -> pagerankOracle,
    "corpus_js_divergence" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents),
        |uw AS (SELECT doc_id, t.w AS w FROM tok, unnest(ts) t(w)),
        |ca AS (SELECT w, count(*) AS ca FROM uw WHERE doc_id % 2 = 0 GROUP BY w),
        |cb AS (SELECT w, count(*) AS cb FROM uw WHERE doc_id % 2 = 1 GROUP BY w),
        |j AS (SELECT coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0) AS cb
        |      FROM ca a FULL JOIN cb b USING (w)),
        |t AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
        |             CAST(sum(cb) AS DOUBLE) AS nb,
        |             CAST(count(*) AS DOUBLE) AS v FROM j),
        |pq AS (SELECT (CAST(ca AS DOUBLE) + 0.5) / (t.na + 0.5 * t.v) AS p,
        |              (CAST(cb AS DOUBLE) + 0.5) / (t.nb + 0.5 * t.v) AS q
        |       FROM j CROSS JOIN t)
        |SELECT round(sum(p * ln(p / q)), 6) AS kl_pq,
        |  round(sum(q * ln(q / p)), 6) AS kl_qp,
        |  round(sum(p * ln(p / ((p + q) / 2)) / 2
        |          + q * ln(q / ((p + q) / 2)) / 2), 6) AS js
        |FROM pq""".stripMargin,
    "corpus_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id % 3 AS stratum, doc_id AS id,
        |    CAST(doc_id % 7 + 1 AS DOUBLE) AS w,
        |    (CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) + 0.5)
        |      / 1000003.0 AS u
        |  FROM documents),
        |k AS (SELECT stratum, id, w, round(pow(u, 1.0 / w), 6) AS key FROM t),
        |r AS (SELECT stratum, id, w, key,
        |    CAST(row_number() OVER (PARTITION BY stratum
        |      ORDER BY key DESC, id) AS BIGINT) AS rk FROM k)
        |SELECT stratum, id, w, key, rk FROM r WHERE rk <= 5
        |ORDER BY stratum, rk""".stripMargin,
    // Pinned BFS hop distances from node 0 on the planted graph,
    // computed once outside the engine (frontier replay)
    "graph_bfs_levels" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(level AS INT) AS level
        |FROM (VALUES
        |  (0, 0), (1, 1), (2, 1), (3, 3), (4, 2), (5, 1), (6, 3), (7, 2),
        |  (8, 3), (9, 2), (10, 3), (11, 2), (12, 2), (13, 3), (14, 3),
        |  (15, 3), (16, 2), (17, 4), (18, 2), (19, 3), (20, 3), (21, 3),
        |  (22, 3), (23, 2), (24, 4), (25, 4), (26, 3), (27, 2), (28, 2),
        |  (29, 4), (30, 3), (31, 2), (32, 3), (33, 2), (34, 1), (35, 3),
        |  (36, 3), (37, 2), (38, 3), (39, 4), (40, 4), (41, 3), (42, 3),
        |  (43, 4), (44, 2), (45, 4), (46, 4), (47, 2), (48, 3), (49, 3),
        |  (50, 5), (51, 3), (52, 4), (53, 1), (54, 4), (55, 3), (56, 3),
        |  (57, 3), (58, 4), (59, 3), (60, 4), (61, 4), (62, 3), (63, 4),
        |  (64, 3), (65, 3), (66, 4), (67, 4), (68, 3), (69, 4), (70, 2),
        |  (71, 5), (72, 4), (73, 3), (74, 4), (75, 4), (76, 4), (77, 5),
        |  (78, 4), (79, 3)) t(id, level)
        |ORDER BY id""".stripMargin,
    // Pinned 3-core of the planted 156-edge graph, computed once by
    // peeling the same edge formulas outside the engine (62 survivors;
    // a wrong degree-recount or a missed peel round breaks the match)
    "graph_kcore" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(deg AS BIGINT) AS deg
        |FROM (VALUES
        |  (0, 5), (1, 5), (2, 5), (3, 4), (4, 4), (5, 5), (6, 6), (7, 5),
        |  (8, 4), (9, 3), (10, 6), (11, 3), (12, 5), (13, 3), (14, 5),
        |  (15, 3), (16, 5), (17, 5), (18, 4), (19, 5), (20, 4), (21, 6),
        |  (22, 3), (23, 5), (24, 4), (25, 5), (26, 4), (27, 6), (28, 3),
        |  (29, 3), (30, 3), (31, 5), (32, 5), (33, 4), (34, 5), (35, 5),
        |  (36, 5), (37, 5), (38, 5), (39, 4), (40, 3), (41, 3), (44, 4),
        |  (48, 3), (51, 3), (52, 3), (53, 3), (55, 4), (57, 3), (58, 3),
        |  (60, 3), (62, 3), (64, 3), (65, 3), (66, 3), (69, 3), (70, 3),
        |  (72, 3), (73, 4), (76, 3), (77, 3), (79, 3)) t(id, deg)
        |ORDER BY id""".stripMargin,
    "er_entities" ->
      """WITH RECURSIVE t AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name, substring(p_name, 1, 4) AS blk FROM t),
        |e AS (
        |  SELECT a.p_name AS na, c.p_name AS nb
        |  FROM b a JOIN b c ON a.blk = c.blk AND a.p_name <> c.p_name
        |  WHERE levenshtein(a.p_name, c.p_name) <= 2),
        |walk(name, lbl) AS (
        |  SELECT p_name, p_name FROM t
        |  UNION
        |  SELECT e.na, walk.lbl FROM e JOIN walk ON walk.name = e.nb),
        |ent AS (SELECT name, min(lbl) AS entity_rep FROM walk GROUP BY name)
        |SELECT name AS p_name, entity_rep,
        |  count(*) OVER (PARTITION BY entity_rep) AS entity_size
        |FROM ent ORDER BY p_name""".stripMargin,
    "graph_triangles" ->
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id * 3 + 1) % 80 AS d
        |  FROM documents WHERE doc_id < 80
        |  UNION ALL SELECT doc_id, (doc_id * 7 + 2) % 80
        |  FROM documents WHERE doc_id < 80
        |  UNION ALL SELECT doc_id, (doc_id * 13 + 5) % 80
        |  FROM documents WHERE doc_id < 80),
        |e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |      FROM raw WHERE s <> d),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY id ORDER BY id""".stripMargin,
    "text_tfidf_sim" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents WHERE doc_id < 200),
        |post AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(ts) AS t(term) GROUP BY doc_id, t.term),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM post),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY term),
        |pruned AS (
        |  SELECT post.doc_id, post.term,
        |    post.tf * ln(CAST(nn.n AS DOUBLE) / dft.df) AS w0
        |  FROM post JOIN dft USING (term) CROSS JOIN nn
        |  WHERE dft.df <= nn.n * 0.3),
        |norms AS (SELECT doc_id, sqrt(sum(w0 * w0)) AS nrm
        |          FROM pruned GROUP BY doc_id),
        |v AS (SELECT pruned.doc_id, term, w0 / nrm AS w
        |      FROM pruned JOIN norms USING (doc_id)),
        |sims AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(sum(a.w * b.w), 6) AS sim
        |  FROM v a JOIN v b ON a.term = b.term AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |ranked AS (
        |  SELECT id_a, id_b, sim,
        |    row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rk
        |  FROM sims)
        |SELECT id_a, id_b, sim, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY id_a, rk""".stripMargin,
    "text_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents WHERE doc_id > 0 AND doc_id < 500),
        |post AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(ts) AS t(term) GROUP BY doc_id, t.term),
        |len AS (SELECT doc_id, sum(tf) AS len FROM post GROUP BY doc_id),
        |g AS (SELECT count(*) AS n, avg(len) AS avg_len FROM len),
        |pr AS (SELECT * FROM post WHERE term IN ('window', 'scan')),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM pr GROUP BY term),
        |sc AS (
        |  SELECT pr.doc_id,
        |    round(SUM(ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
        |      * pr.tf * (1.2 + 1) / (pr.tf + 1.2 * (1 - 0.75 + 0.75 * len.len / g.avg_len))), 4)
        |      AS score
        |  FROM pr JOIN dft USING (term) JOIN len USING (doc_id) CROSS JOIN g
        |  GROUP BY pr.doc_id),
        |bm AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        |       FROM sc ORDER BY score DESC, doc_id LIMIT 20),
        |vs AS (SELECT vec_id AS doc_id,
        |         list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |           CAST((SELECT embedding FROM embeddings WHERE vec_id = 0)
        |                AS DOUBLE[])) AS cos
        |       FROM embeddings WHERE vec_id > 0 AND vec_id < 500),
        |vec AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY cos DESC, doc_id) AS rk
        |        FROM vs ORDER BY cos DESC, doc_id LIMIT 20),
        |u AS (SELECT doc_id, rk FROM bm UNION ALL SELECT doc_id, rk FROM vec),
        |f AS (SELECT doc_id,
        |        round(sum(CAST(1 AS DOUBLE) / (60 + rk)), 6) AS rrf,
        |        CAST(count(*) AS BIGINT) AS n_lists
        |      FROM u GROUP BY doc_id)
        |SELECT doc_id, rrf, n_lists,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "text_perplexity_lm" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents),
        |trainb AS (
        |  SELECT u[1] AS w1, u[2] AS w2 FROM (
        |    SELECT unnest(list_zip(ts[:len(ts) - 1], ts[2:])) AS u
        |    FROM tok WHERE len(ts) >= 2 AND doc_id % 2 = 0)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM trainb GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM trainb GROUP BY w1),
        |v AS (SELECT count(DISTINCT t.w) AS v
        |      FROM tok, unnest(ts) t(w) WHERE doc_id % 2 = 0),
        |score AS (
        |  SELECT doc_id, u[1] AS w1, u[2] AS w2 FROM (
        |    SELECT doc_id, unnest(list_zip(ts[:len(ts) - 1], ts[2:])) AS u
        |    FROM tok WHERE len(ts) >= 2 AND doc_id % 2 = 1)),
        |lp AS (
        |  SELECT doc_id,
        |    ln((coalesce(c12.c12, 0) + 0.5) / (coalesce(c1.c1, 0) + 0.5 * v.v))
        |      AS logp
        |  FROM score LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(exp(-avg(logp)), 4) AS ppl
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_match_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents),
        |post AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(ts) AS t(term) GROUP BY doc_id, t.term),
        |len AS (SELECT doc_id, sum(tf) AS len FROM post GROUP BY doc_id),
        |g AS (SELECT count(*) AS n, avg(len) AS avg_len FROM len),
        |pr AS (SELECT * FROM post WHERE term IN ('window', 'scan', 'merge')),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM pr GROUP BY term),
        |sc AS (
        |  SELECT pr.doc_id,
        |    round(SUM(ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
        |      * pr.tf * (1.2 + 1) / (pr.tf + 1.2 * (1 - 0.75 + 0.75 * len.len / g.avg_len))), 4)
        |      AS score
        |  FROM pr JOIN dft USING (term) JOIN len USING (doc_id) CROSS JOIN g
        |  GROUP BY pr.doc_id)
        |SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
        |FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "text_match_predicates" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ts
        |  FROM documents)
        |SELECT doc_id,
        |  len(list_intersect(ts, ['window', 'scan'])) > 0 AS any_ws,
        |  len(list_filter(['window', 'scan'],
        |      t -> NOT list_contains(ts, t))) = 0 AS all_ws
        |FROM tok ORDER BY doc_id""".stripMargin,
    "text_match_phrase" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |      generate_series(1, greatest(len(w) - 2, 0)),
        |      i -> w[i] = 'stream' AND w[i+1] = 'table' AND w[i+2] = 'hash'))
        |    AS BIGINT) AS n_hits
        |  FROM tok)
        |SELECT doc_id, n_hits FROM hits WHERE n_hits > 0
        |ORDER BY doc_id""".stripMargin,
    "text_match_proximity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS i, w FROM tok),
        |words AS (SELECT doc_id, i - 1 AS pos, w[i] AS term FROM p),
        |pa AS (SELECT doc_id, pos FROM words WHERE term = 'spark'),
        |pb AS (SELECT doc_id, pos FROM words WHERE term = 'join')
        |SELECT a.doc_id, count(*) AS n_pairs,
        |  CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
        |FROM pa a JOIN pb b ON a.doc_id = b.doc_id
        |WHERE abs(a.pos - b.pos) <= 3
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "dedup_fingerprint_pairs" ->
      s"""WITH $planted,
        |norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM planted)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM norm a JOIN norm b ON a.nt = b.nt AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        |      i -> concat(string_split(text, ' ')[i], ' ',
        |                  string_split(text, ' ')[i+1], ' ',
        |                  string_split(text, ' ')[i+2]))) AS g
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE), 6) AS jac
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
        |  AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id < 40
        |ORDER BY id_a, id_b""".stripMargin,
    "sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
        |scored AS (
        |  SELECT q.qid, c.vec_id,
        |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos
        |  FROM c CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, round(cos, 6) AS cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "dedup_embedding" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> x * CAST(2 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c
        |  FROM planted a JOIN planted b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 4) AS cos FROM pairs
        |WHERE c >= 0.95 ORDER BY id_a, id_b""".stripMargin,
    "sim_quantize_int8" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0) / 127.0 AS scale
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, scale, embedding,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        |      ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
        |    END AS codes
        |  FROM q)
        |SELECT vec_id, CAST(list_sum(codes) AS BIGINT) AS code_sum, round(scale, 8) AS scale,
        |  round(list_max(list_transform(list_zip(codes, embedding),
        |    z -> abs(CAST(z[1] AS DOUBLE) * scale - CAST(z[2] AS DOUBLE)))), 6) AS max_err
        |FROM c ORDER BY vec_id""".stripMargin,
    "sim_l2_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS l2,
        |  round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS dot
        |FROM embeddings a CROSS JOIN embeddings b
        |WHERE a.vec_id < 20 AND b.vec_id BETWEEN 20 AND 39
        |ORDER BY id_a, id_b""".stripMargin,
    "corpus_split" ->
      """SELECT CASE WHEN (doc_id * 7919) % 1000000 < 980000 THEN 'train'
        |  WHEN (doc_id * 7919) % 1000000 < 990000 THEN 'val'
        |  ELSE 'test' END AS split, count(*) AS n
        |FROM documents GROUP BY split ORDER BY split""".stripMargin,
    "pipeline_end_to_end" ->
      """WITH filtered AS (
        |  SELECT * FROM documents WHERE n_chars >= 200),
        |kept AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY doc_id) AS rn
        |    FROM filtered) WHERE rn = 1),
        |toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM kept),
        |sized AS (
        |  SELECT doc_id, lang, t,
        |    CASE WHEN len(t) <= 0 THEN 0
        |      ELSE greatest(CAST(ceil((len(t) - 8) / 32.0) AS INT), 1) END AS nc
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, lang, CAST(i AS INT) AS chunk_idx,
        |    len(t[i * 32 + 1 : i * 32 + 40]) AS n_tokens
        |  FROM sized, range(0, 64) r(i) WHERE i < nc),
        |packed AS (
        |  SELECT lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS seq_id
        |  FROM chunks)
        |SELECT lang, count(DISTINCT seq_id) AS n_sequences,
        |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM packed GROUP BY lang ORDER BY lang""".stripMargin,
    "chunk_documents" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 300),
        |sized AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) <= 0 THEN 0
        |      ELSE greatest(CAST(ceil((len(t) - 8) / 32.0) AS INT), 1) END AS nc
        |  FROM toks)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  array_to_string(t[i * 32 + 1 : i * 32 + 40], ' ') AS chunk_text,
        |  len(t[i * 32 + 1 : i * 32 + 40]) AS n_tokens
        |FROM sized, range(0, 64) r(i) WHERE i < nc
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 300),
        |sized AS (
        |  SELECT doc_id, lang, t,
        |    CASE WHEN len(t) <= 0 THEN 0
        |      ELSE greatest(CAST(ceil((len(t) - 8) / 32.0) AS INT), 1) END AS nc
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, lang, CAST(i AS INT) AS chunk_idx,
        |    len(t[i * 32 + 1 : i * 32 + 40]) AS n_tokens
        |  FROM sized, range(0, 64) r(i) WHERE i < nc),
        |packed AS (
        |  SELECT lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS seq_id
        |  FROM chunks)
        |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_chunks,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM packed GROUP BY seq_id, lang ORDER BY lang, seq_id""".stripMargin,
    "dedup_cluster_reps" ->
      """SELECT doc_id AS id, doc_id - (doc_id % 5) AS comp
        |FROM documents WHERE doc_id < 1000 ORDER BY id""".stripMargin,
    "dedup_corpus_clean" ->
      """SELECT lang, count(*) AS n
        |FROM documents WHERE doc_id < 1000 AND doc_id % 5 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_profile" ->
      s"""WITH w AS (
        |  SELECT doc_id, text,
        |    string_split(lower(trim(text)), ' ') AS lw,
        |    string_split(trim(text), ' ') AS tw
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, text, tw,
        |    list_sort([
        |      struct_pack(h := len(list_intersect(lw, ${sqlList(TextAnalysis.stopwords("de"))})), l := 'de'),
        |      struct_pack(h := len(list_intersect(lw, ${sqlList(TextAnalysis.stopwords("en"))})), l := 'en'),
        |      struct_pack(h := len(list_intersect(lw, ${sqlList(TextAnalysis.stopwords("es"))})), l := 'es'),
        |      struct_pack(h := len(list_intersect(lw, ${sqlList(TextAnalysis.stopwords("fr"))})), l := 'fr')
        |    ])[-1] AS best,
        |    len(list_intersect(lw, ${sqlList(TextAnalysis.stopwords("en"))})) AS en_hits
        |  FROM w)
        |SELECT doc_id,
        |  CASE WHEN best.h > 0 THEN best.l ELSE 'und' END AS lang_detected,
        |  round(least(greatest(
        |    least(len(tw) / 64.0, 1.0) * 0.3
        |    + (CASE WHEN length(text) * 1.0 / greatest(len(tw), 1) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) * 1.0 / greatest(length(text), 1) * 0.3
        |    + least(en_hits * 1.0 / greatest(len(tw), 1) * 5.0, 1.0) * 0.2,
        |    0.0), 1.0), 6) AS quality,
        |  CAST(len(tw) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9'']+'), p -> p != ''))
        |    + length(regexp_replace(text, '[A-Za-z0-9''\\s]', '', 'g'))
        |    + list_sum(list_transform(tw, x -> CAST(greatest(ceil((length(x) - 6) / 6.0), 0) AS BIGINT)))
        |    AS BIGINT) AS n_tokens_bpe
        |FROM scored ORDER BY doc_id""".stripMargin,
    "corpus_funnel_report" ->
      """WITH raw AS (SELECT count(*) AS n FROM documents),
        |dedup AS (SELECT count(DISTINCT text) AS n FROM documents),
        |len AS (
        |  SELECT count(DISTINCT text) AS n FROM documents WHERE n_chars >= 200),
        |lang AS (
        |  SELECT count(DISTINCT text) AS n FROM documents
        |  WHERE n_chars >= 200 AND lang = 'en')
        |SELECT stage, n,
        |  round(CAST(n AS DOUBLE) / max(n) OVER (), 6) AS retained
        |FROM (
        |  SELECT 1 AS ord, 'raw' AS stage, n FROM raw
        |  UNION ALL SELECT 2, 'text_dedup', n FROM dedup
        |  UNION ALL SELECT 3, 'len_ge_200', n FROM len
        |  UNION ALL SELECT 4, 'lang_en', n FROM lang)
        |ORDER BY ord""".stripMargin,
    "text_lexical_diversity" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |pw AS (
        |  SELECT doc_id, w, count(*) AS c FROM w WHERE w <> ''
        |  GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
        |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / greatest(count(*), 1), 6) AS hapax_frac
        |FROM pw GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Pinned from the Unicode tables for the normalize_text fixture
    // (NFKC fold, NFD accent strip, ROOT-locale lower, space collapse)
    "text_normalize_unicode" ->
      """SELECT CAST(id AS BIGINT) AS id, norm FROM (VALUES
        |  (0, 'hello world'), (1, 'fine flow'), (2, 'fullwidth 123'),
        |  (3, 'a angstromtm'), (4, 'straße cafe cafe'),
        |  (5, 'no5 ...done now')) t(id, norm) ORDER BY id""".stripMargin,
    "text_dedup_lines" ->
      """WITH g AS (
        |  SELECT CAST(doc_id // 10 AS BIGINT) AS gid, doc_id, text
        |  FROM documents WHERE doc_id < 100),
        |m AS (
        |  SELECT gid, string_agg(text, chr(10) ORDER BY doc_id)
        |    || chr(10) || min_by(text, doc_id) AS text
        |  FROM g GROUP BY gid),
        |sp AS (SELECT gid, string_split(text, chr(10)) AS ls FROM m),
        |pos AS (SELECT gid, unnest(generate_series(1, len(ls))) AS p, ls FROM sp),
        |ln AS (SELECT gid, p, ls[p] AS line FROM pos),
        |firsts AS (
        |  SELECT gid, line, min(p) AS fp, count(*) AS n
        |  FROM ln GROUP BY gid, line)
        |SELECT gid, string_agg(line, chr(10) ORDER BY fp) AS clean_text,
        |  CAST(sum(n) AS BIGINT) AS n_lines,
        |  count(*) AS n_uniq_lines,
        |  1.0 - CAST(count(*) AS DOUBLE) / sum(n) AS dup_line_frac
        |FROM firsts GROUP BY gid ORDER BY gid""".stripMargin,
    "text_pii_scrub" ->
      s"""WITH planted AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 5 = 0 THEN concat(text, ' contact alice@example.com now')
        |    WHEN doc_id % 5 = 1 THEN concat(text, ' server at 192.168.10.1 port')
        |    WHEN doc_id % 5 = 2 THEN concat(text, ' call 555-867-5309 today')
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.piiEmailRe}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.piiPhoneRe}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.piiIpRe}')) AS BIGINT) AS n_ip,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '${TextAnalysis.piiEmailRe}', '[EMAIL]', 'g'),
        |    '${TextAnalysis.piiPhoneRe}', '[PHONE]', 'g'),
        |    '${TextAnalysis.piiIpRe}', '[IP]', 'g') AS scrubbed
        |FROM planted ORDER BY doc_id""".stripMargin,
    "text_quality_gopher" ->
      s"""WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS lt
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(lt) - 1),
        |    i -> concat(lt[i], ' ', lt[i+1]))) AS bg
        |  FROM w WHERE len(lt) >= 2),
        |perbg AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg),
        |rep AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(max(c) AS BIGINT) AS max_bigram_n,
        |    1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_bigram_frac
        |  FROM perbg GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
        |      / greatest(len(t), 1) AS mean_word_len,
        |    CAST(len(list_filter(t, x -> list_contains(${sqlList(TextAnalysis.stopwords("en"))}, lower(x)))) AS DOUBLE)
        |      / greatest(len(t), 1) AS stop_frac
        |  FROM w)
        |SELECT b.doc_id, b.n_words,
        |  round(b.mean_word_len, 6) AS mean_word_len,
        |  round(b.stop_frac, 6) AS stop_frac,
        |  coalesce(r.n_bigrams, 0) AS n_bigrams,
        |  coalesce(r.max_bigram_n, 0) AS max_bigram_n,
        |  round(coalesce(r.dup_bigram_frac, 0.0), 6) AS dup_bigram_frac,
        |  (b.n_words >= 5 AND b.mean_word_len BETWEEN 2.0 AND 12.0
        |    AND b.stop_frac >= 0.01 AND coalesce(r.dup_bigram_frac, 0.0) <= 0.6) AS keep
        |FROM base b LEFT JOIN rep r USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    "text_strip_boilerplate" ->
      """WITH planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN concat('INTRO ||| ', text, ' ||| SUBSCRIBE NOW')
        |    ELSE concat('INTRO ||| ', text) END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(text, ' ||| ')) AS line FROM planted),
        |freq AS (
        |  SELECT lower(trim(line)) AS norm, count(DISTINCT doc_id) AS df
        |  FROM lines GROUP BY 1),
        |boiler AS (
        |  SELECT coalesce(list(norm), []) AS bl
        |  FROM freq, (SELECT count(*) AS n FROM planted) t
        |  WHERE df > 0.05 * n)
        |SELECT doc_id,
        |  array_to_string(list_filter(string_split(text, ' ||| '),
        |    x -> NOT list_contains(b.bl, lower(trim(x)))), ' ||| ') AS clean_text
        |FROM planted, boiler b ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(trim(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 4, 0)),
        |      i -> array_to_string(w[i:i+4], ' ')))) AS g
        |  FROM tok),
        |eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0),
        |hits AS (
        |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS hit_grams
        |  FROM grams c JOIN eval_grams e ON c.g = e.g
        |  WHERE c.doc_id % 7 <> 0 GROUP BY c.doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_grams
        |  FROM grams WHERE doc_id % 7 <> 0 GROUP BY doc_id)
        |SELECT h.doc_id, h.hit_grams, t.total_grams,
        |  round(CAST(h.hit_grams AS DOUBLE) / t.total_grams, 6) AS contamination,
        |  CAST(h.hit_grams AS DOUBLE) / t.total_grams >= 0.1 AS flagged
        |FROM hits h JOIN tot t ON h.doc_id = t.doc_id
        |ORDER BY h.doc_id""".stripMargin,
    "corpus_importance_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(trim(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |tcnt AS (
        |  SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok
        |  WHERE source = 'src0' GROUP BY w),
        |rcnt AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY w),
        |tn AS (SELECT SUM(c) AS n FROM tcnt),
        |rn AS (SELECT SUM(c) AS n FROM rcnt),
        |lr AS (
        |  SELECT r.w,
        |    ln(((coalesce(t.c, 0) + 1) / (tn.n + 1))
        |      / ((r.c + 1) / (rn.n + 1))) AS logratio
        |  FROM rcnt r LEFT JOIN tcnt t ON r.w = t.w, tn, rn),
        |scored AS (
        |  SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    round(SUM(lr.logratio) / COUNT(*), 6) AS score
        |  FROM tok k JOIN lr ON k.w = lr.w GROUP BY k.doc_id)
        |SELECT doc_id, n_tokens, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
        |FROM scored QUALIFY rk <= 50 ORDER BY rk""".stripMargin,
    "corpus_sample_mix" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN (doc_id * 7919) % 1000000 <
        |    CASE source WHEN 'src0' THEN 800000 WHEN 'src1' THEN 500000
        |      WHEN 'src2' THEN 250000 ELSE 100000 END
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dedup_incremental" ->
      """WITH corpus AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 100000 AS doc_id, concat('zzz ', text) AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 300000, concat('zzz ', text)
        |  FROM documents WHERE doc_id % 10 = 0),
        |bn AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM batch),
        |first AS (
        |  SELECT doc_id, nt,
        |    row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn FROM bn)
        |SELECT f.doc_id FROM first f
        |WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.nt = f.nt)
        |ORDER BY doc_id""".stripMargin,
    "corpus_bpe_pairs" ->
      """WITH docs AS (
        |  SELECT string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |  FROM documents),
        |pairs AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS pair
        |  FROM docs, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "corpus_shuffle_order" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |top AS (SELECT * FROM keyed ORDER BY skey LIMIT 64)
        |SELECT doc_id, skey,
        |  CAST(row_number() OVER (ORDER BY skey) AS BIGINT) AS pos
        |FROM top ORDER BY pos""".stripMargin,
    "corpus_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
        |    SUM(POWER(n_docs, 0.7)) AS pow_total FROM counts)
        |SELECT lang, n_docs,
        |  ROUND(n_docs / total, 6) AS raw_share,
        |  ROUND(POWER(n_docs, 0.7) / pow_total, 6) AS temp_share,
        |  CAST(FLOOR(ROUND(POWER(n_docs, 0.7) / pow_total, 6) * 1000000 + 0.5)
        |    AS BIGINT) AS target_docs
        |FROM counts, tot ORDER BY lang""".stripMargin,
    "corpus_domain_cap" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn <= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin,
    "keys_partial_update" ->
      """WITH src AS (
        |  SELECT c_custkey, c_acctbal + 500 AS s_acctbal FROM customer
        |  WHERE c_custkey % 5 = 0
        |  UNION ALL SELECT CAST(8888888 AS BIGINT), CAST(1.5 AS DOUBLE)
        |  UNION ALL SELECT CAST(7 AS BIGINT), CAST(NULL AS DOUBLE))
        |SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey, t.c_name,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.s_acctbal
        |       ELSE t.c_acctbal END AS c_acctbal,
        |  t.c_mktsegment
        |FROM customer t FULL JOIN src s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "keys_primary_upsert" ->
      """WITH versions AS (
        |  SELECT o_orderkey, o_totalprice, 1 AS v, false AS del FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, 2, false FROM orders WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 3, true FROM orders WHERE o_orderkey % 100 = 0),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC) AS rn
        |  FROM versions)
        |SELECT o_orderkey, o_totalprice, v FROM latest WHERE rn = 1 AND NOT del
        |ORDER BY o_orderkey""".stripMargin,
    "keys_merge_into" ->
      """WITH source AS (
        |  SELECT c_custkey, c_acctbal + 1000 AS c_acctbal FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL SELECT 9999999, 42.0),
        |merged AS (
        |  SELECT c_custkey, c_acctbal, 0 AS src FROM customer
        |  UNION ALL SELECT c_custkey, c_acctbal, 1 FROM source),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY src DESC) AS rn FROM merged)
        |SELECT c_custkey, c_acctbal FROM ranked WHERE rn = 1 ORDER BY c_custkey""".stripMargin)
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")
}
