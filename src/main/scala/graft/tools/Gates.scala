package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Engine, SparkEntry, Tables}

/** The dev runner over graft's gates. `main` builds the session, runs
  * one mode and stops it; tests call [[run]] on their own session.
  *
  * {{{
  * time    <sfDir> [--sql] <item>...  cold run, then median and min of 3 warm runs
  * jobs    <sfDir> [--sql] <item>...  per-Spark-job breakdown of a warm run
  * profile <sfDir> [--sql] <item>...  operator profile (EXPLAIN ANALYZE view)
  * show    <sfDir> [--sql] <item>...  the rows (regenerates planted-fixture oracles)
  * plan    <sfDir> <outDir> <suffix> <gate>...  formatted plans to <outDir>/<gate>_<suffix>.txt
  * plan    <sfDir> [outFile]          the flagship plan document (default PLANS.md)
  * scale   <set> <dir>...             markdown table per gate: warm 1x, mean of 2, per dir
  * count                              gate and oracle counts, gates without oracle and back
  * fns     <namesFile>                the listed function names that do not resolve
  * }}}
  *
  * An item is a gate name or, after `--sql`, a SQL statement over the
  * tables of `<sfDir>`. A `scale` set is `scaling`, `worst`, `tpcds`,
  * `tail`, `cb`, `flights` or `only:<gate>,<gate>...`.
  */
object Gates {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args) finally spark.stop()
  }

  /** Every gate: the oracle-checked queries plus the bench-only
    * full-SF variants of fixture-gated operators. */
  lazy val all: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ graft.queries.Pipeline.benchOnly

  /** Execute a gate's frame once, as Bench times it: `_recall_` gates
    * emit one (recall, …) row, which is collected and returned; every
    * other frame is fully materialized through the noop sink (a bare
    * count() would let Catalyst prune the projections being measured). */
  def execute(name: String, df: DataFrame): Array[Row] =
    if (name.contains("_recall_")) df.collect()
    else { df.write.format("noop").mode("overwrite").save(); Array.empty }

  private val usage = "usage: Gates time|jobs|profile|show <sfDir> [--sql] <item>... | " +
    "plan <sfDir> [<outDir> <suffix> <gate>... | outFile] | scale <set> <dir>... | count | fns <namesFile>"

  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "count" :: Nil => count()
    case "fns" :: file :: Nil =>
      val names = Files.readAllLines(Paths.get(file)).asScala.map(_.trim).filter(_.nonEmpty)
      println("MISSING_START")
      names.filterNot(spark.catalog.functionExists).foreach(println)
      println("MISSING_END")
    case "scale" :: set :: dirs if dirs.nonEmpty => scale(spark, set, dirs)
    case "plan" :: dir :: outDir :: suffix :: names if names.nonEmpty =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val plan = planString(all(name)(spark, dir))
        val out = s"$outDir/${name}_$suffix.txt"
        Files.write(Paths.get(out), plan.getBytes(StandardCharsets.UTF_8))
        println(s"wrote $out (${plan.linesIterator.size} lines)")
      }
    case "plan" :: dir :: out if out.size <= 1 =>
      planDoc(spark, dir, out.headOption.getOrElse("PLANS.md"))
    case mode :: dir :: rest if Set("time", "jobs", "profile", "show")(mode) =>
      val sql = rest.headOption.contains("--sql")
      val items = if (sql) rest.tail else rest
      require(items.nonEmpty, usage)
      if (sql) Tables.registerAll(spark, dir)
      val frame: String => DataFrame =
        if (sql) (q: String) => spark.sql(q) else all(_)(spark, dir)
      def once(item: String): Double = seconds(execute(item, frame(item)))
      mode match {
        case "time" => items.foreach { item =>
          val cold = once(item)
          val warm = Seq.fill(3)(once(item)).sorted
          println(f"${warm(1)}%8.3f s median ${warm.head}%8.3f s min " +
            f"${cold}%8.3f s cold | ${label(item)}")
        }
        case "jobs" => jobs(spark, items, once)
        case "profile" => items.foreach { item =>
          println(s"==== ${label(item)} ====")
          println(graft.plans.QueryProfile.profileString(frame(item)))
        }
        case "show" => items.foreach { item =>
          println(s"==== ${label(item)} ====")
          frame(item).show(1000, truncate = false)
        }
      }
    case _ => throw new IllegalArgumentException(usage)
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def label(item: String): String = item.replaceAll("\\s+", " ").take(110)

  private def planString(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def count(): Unit = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    println(s"gates=${q.size} oracles=${o.size} benchOnly=${graft.queries.Pipeline.benchOnly.size}")
    val missing = q -- o
    if (missing.nonEmpty) println(s"gates without oracle: ${missing.toSeq.sorted.mkString(",")}")
    val orphan = o -- q
    if (orphan.nonEmpty) println(s"oracles without gate: ${orphan.toSeq.sorted.mkString(",")}")
  }

  /** Each gate runs twice (cold, then warm); the warm run is broken
    * down per Spark job: its seconds, stages, tasks, and the driver-side
    * gap before it (fixture FS work, planning). Where a gate's seconds
    * go decides whether to optimize the plan, the job count, or the
    * driver path. */
  private def jobs(spark: SparkSession, items: Seq[String], once: String => Double): Unit = {
    case class Job(id: Int, desc: String, start: Long, stageIds: Set[Int],
        var end: Long = 0L, var tasks: Int = 0, var stages: Int = 0)
    val seen = new scala.collection.mutable.ArrayBuffer[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        val d = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        seen += Job(e.jobId, d, System.nanoTime(), e.stageIds.toSet)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.synchronized {
        seen.find(_.id == e.jobId).foreach(_.end = System.nanoTime())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = seen.synchronized {
        // attribute by stage id (jobs declare their stage ids at start) —
        // attribution by "most recent job" miscounts when jobs overlap
        // or a stage completes after its job ends
        val tgt = seen.reverseIterator.find(_.stageIds.contains(e.stageInfo.stageId))
        tgt.foreach { j => j.stages += 1; j.tasks += e.stageInfo.numTasks }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try items.foreach { name =>
      val cold = once(name)
      seen.synchronized(seen.clear())
      val g0 = System.nanoTime()
      val warm = once(name)
      val gEnd = System.nanoTime()
      Thread.sleep(200) // let listener events drain
      seen.synchronized {
        println(f"==== ${label(name)}  cold=${cold}%.2fs warm=${warm}%.2fs jobs=${seen.size} ====")
        var prevEnd = g0
        var jobSum = 0.0; var gapSum = 0.0
        seen.sortBy(_.start).foreach { j =>
          val gap = (j.start - prevEnd) / 1e9
          val dur = if (j.end > 0) (j.end - j.start) / 1e9 else -1.0
          if (dur >= 0) { jobSum += dur; gapSum += math.max(0, gap) }
          println(f"  job ${j.id}%4d gap=${gap}%6.3f dur=${dur}%6.3f stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(60)}")
          prevEnd = math.max(prevEnd, j.end)
        }
        val tail = (gEnd - prevEnd) / 1e9
        println(f"  SUM jobs=${jobSum}%.2fs gaps=${gapSum}%.2fs tail=${tail}%.2fs of warm=${warm}%.2fs")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Times each gate of a set on every dir (warm 1x, mean of 2) and
    * prints a markdown table whose last column is the last dir's time
    * over the first's. Over testdata sf0.001/sf0.01/sf0.1 this separates
    * Spark's fixed per-statement floor (flat across scale factors) from
    * the data-linear term; over sf0.1 and a `MakeScale` sf1 it checks
    * one more decade, where a row well above 10x is a scale bug. */
  private def scale(spark: SparkSession, set: String, dirs: Seq[String]): Unit = {
    val gates: Seq[(String, String)] = set match {
      case "scaling" => scaling
      // every ClickBench-mechanics gate; full TPC-H 22 + SSB 13, the
      // per-row competitiveness flight with the statement floor amortized
      case "cb" | "flights" =>
        val family = (if (set == "cb") "cb_" else "(q\\d+|ssb)_").r
        SparkEntry.queries.keys.filter(family.findPrefixOf(_).nonEmpty).toSeq.sorted.map(_ -> "")
      case s if s.startsWith("only:") => s.stripPrefix("only:").split(",").toSeq.map(_ -> "")
      case s => sets.getOrElse(s, throw new IllegalArgumentException(
        s"unknown set $s; one of scaling, cb, flights, only:<gates>, ${sets.keys.mkString(", ")}")).map(_ -> "")
    }
    def time(name: String, dir: String): Double = {
      def once() = seconds(execute(name, all(name)(spark, dir)))
      once() // warm
      (once() + once()) / 2
    }
    // the table carries '×': encode it as UTF-8 whatever stdout's charset
    val out = new java.io.PrintStream(Console.out, true, "UTF-8")
    out.println(dirs.map(d => s" ${d.split('/').last} s |").mkString("| gate | what |", "", " last/first × |"))
    out.println("|---|---|" + "---|" * dirs.size + "---|")
    val sums = Array.fill(dirs.size)(0.0)
    for ((name, what) <- gates) {
      val ts = dirs.map(time(name, _))
      ts.indices.foreach(i => sums(i) += ts(i))
      out.println(ts.map(t => f" $t%.3f |").mkString(s"| $name | $what |", "", f" ${ts.last / ts.head}%.1f× |"))
    }
    out.println(sums.map(t => f" $t%.3f |").mkString("| **total** | |", "", f" ${sums.last / sums.head}%.1f× |"))
  }

  /** SCALING.md's flagship table, with what each gate stresses. */
  private val scaling = Seq(
    "q6_forecast_revenue" -> "scan + filter + global agg (the floor case)",
    "q1_pricing_summary" -> "scan-heavy 8-kernel aggregation",
    "ssb_q4_1" -> "star join: broadcast dims + fact-fact shuffle",
    "cb_top_users" -> "single-shuffle group-by top-N",
    "win_partition_topn" -> "window rank with WindowGroupLimit",
    "dedup_minhash" -> "CPU-bound: shingle + minhash + LSH + verify",
    "text_quality_gopher" -> "bigram explode + 2 map-side aggs + doc-key join",
    "tpcds_returns_net" -> "two agg branches + FULL OUTER + broadcast dim",
    "join_range_binned" -> "binned range join: interval explode + equi join + residual",
    "text_decontaminate" -> "n-gram explode + broadcast probe + doc-key agg",
    "corpus_importance_weights" -> "word-keyed count aggs + token⋈logratio join + top-k",
    "tpcds_inventory_lag" -> "equi key + date-band residual self-join",
    "dedup_incremental" -> "batch fp window + anti-join vs corpus fp set",
    "corpus_bpe_pairs" -> "word-pair explode + count + total-order top-k",
    "ts_islands" -> "distinct days + ladder window + two user-keyed aggs",
    "xb_kmeans_fullsf" -> "k-means: driver-local maximin init + 3 Lloyd iters (codebook-bounded shuffle)",
    "dedup_semantic" -> "SemDeDup: k-means cells + within-cell cosine pairs + CC",
    "dedup_substring_spans" -> "window-hash groupBy + dup-position islands",
    "xb_bpe_train_fullsf" -> "BPE: corpus word-count pass + 8 vocab-table merge rounds",
    "tpcds_resale_chain" -> "composite-key self-join chain (part, customer)",
    "src_lake_merge" -> "CoW MERGE: semi-join file discovery + touched-file rewrite",
    "text_perplexity_lm" -> "bigram LM train (2 aggs) + scoring joins on (w1,w2)",
    "corpus_pagerank" -> "5 power iterations: edge⋈rank shuffle loop",
    "text_tfidf_sim" -> "sparse cosine: term-keyed self-join, df-pruned",
    "graph_triangles" -> "degree-oriented wedge build + closure semi-join",
    "corpus_js_divergence" -> "two unigram aggs + full-outer vocab join + global agg",
    "xb_pq_topk_fullsf" -> "PQ: encode scan + broadcast ADC LUT + group-limit",
    "src_lake_zorder" -> "Morton clustering: range exchange + stats collection write",
    "ts_capped_balance" -> "custom exec: one key shuffle + sorted per-partition recurrence scan",
    "evt_rolling_wau" -> "bounded 7x explode + distinct-count (the distinct-over-frame rewrite)",
    "geo_radius_join" -> "lat-banded range join + haversine residual + per-center agg",
    "join_interval_overlap" -> "both-sides bin explode + canonical-bin equi join",
    "er_entities" -> "blocked pair gen + edit-distance + CC label propagation",
    "evt_peak_concurrency" -> "2x delta explode + per-type running-sum window")

  /** The decade-probe sets behind SCALING.md's sf1/sf10 tables. */
  private val sets: Map[String, Seq[String]] = Map(
    // the 10 worst 100x growers of the scaling table plus the two
    // custom operator paths worth a decade check
    "worst" -> Seq(
      "join_range_binned", "dedup_substring_spans", "join_interval_overlap",
      "q1_pricing_summary", "corpus_bpe_pairs", "evt_peak_concurrency",
      "text_quality_gopher", "tpcds_resale_chain", "win_partition_topn",
      "text_decontaminate", "evt_rolling_wau", "dedup_minhash"),
    // one representative per TPC-DS-mechanics family, weighted toward
    // the CTE-stack / self-join shapes whose scaling is least like TPC-H
    "tpcds" -> Seq(
      "tpcds_yoy_cte_stack", "tpcds_three_channel_ratio",
      "tpcds_q64_sales_chain", "tpcds_rollup_rank_topn",
      "tpcds_wide_month_pivot", "tpcds_channel_union",
      "tpcds_moving_dev", "tpcds_cume_crossover", "tpcds_exists_stack",
      "tpcds_store_item_floor", "tpcds_class_rev_share",
      "tpcds_rollup_avg_bands", "tpcds_dim_copy_mismatch",
      "tpcds_inventory_lag", "tpcds_decline_pairs"),
    // the sf1 decade's tail growers (q14 8.3x, q4/q18 4.4x, ssb_q3_3
    // 2.9x) + the dedup/percentile family: one more decade (sf10 over
    // sf1) tells amortizing fixed costs from super-linear terms
    "tail" -> Seq(
      "q4_order_priority", "q14_promo_revenue", "q18_large_volume_customer",
      "ssb_q3_3", "dedup_minhash", "dedup_semantic", "dedup_substring_spans",
      "agg_percentiles", "agg_weighted_percentile", "percentile_tdigest",
      "text_decontaminate", "evt_rolling_wau"))

  /** PLANS.md: `explain("formatted")` of the flagship gates — the
    * physical-plan evidence (pushdown, pruning, broadcast choices,
    * partial aggregation, top-n fusion) behind the PlanSpec assertions. */
  private def planDoc(spark: SparkSession, sfDir: String, outFile: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.tools.Gates plan` over `$sfDir`. These are\n")
    sb.append("the plans PlanSpec asserts on — regenerate after plan-affecting\nchanges.\n")
    for ((name, what) <- flagship)
      sb.append(s"\n## $name — $what\n\n```\n${planString(all(name)(spark, sfDir))}```\n")

    // the persisted-index query is two plans since the shortlist ids
    // are pushed into the rerank scan — dump phase 1 explicitly (the
    // gate above already built the standing index into the tmp path)
    val phase1 = graft.operators.VectorIndex.shortlistPlan(spark,
      graft.queries.Pipeline.vixGatePath(sfDir), "vec_id",
      graft.queries.Pipeline.annFixtureQueries(spark), "qid", "qvec", nprobe = 8, rerank = 400)
    sb.append("\n## sim_ivf_persisted, phase 1 of 2 — scored shortlist: " +
      "probe -> partition-pruned codes scan -> broadcast ADC LUT join -> " +
      "per-query top-(spill×rerank) window (partial WindowGroupLimit " +
      "below the exchange keeps ≤ spill×rerank per query per partition " +
      "map-side) -> late spill dedup of the survivors -> final rank — " +
      "no near-unique-key dedup shuffle of the full scored feed\n\n" +
      s"```\n${planString(phase1)}```\n")
    sb.append(
      """
        |## CTE note — inline-always vs the reference's reuse decision
        |
        |`tpcds_q64_sales_chain` references its `cross_sales` CTE twice
        |(1995 side and 1996 side). The reference decides inline-vs-reuse by
        |cost (`QueryOptimizer.java` INLINE_CTE_RULES + CTEContext); Catalyst
        |INLINES deterministic multi-reference CTEs and then optimizes each
        |copy independently. The plan above shows the consequence: the
        |mega-join pipeline appears twice (6 lineitem scans, 0
        |ReusedExchange), BUT each copy's year predicate is pushed into its
        |own orders scan (`year(o_orderdate) = 1995` vs `= 1996`) — each
        |branch reads ~1/7 of the fact instead of sharing one full-table
        |materialization. At 100 TB that is usually the right trade when the
        |per-reference residual predicates are selective (they are here);
        |when the two references are IDENTICAL, AQE's ReusedExchange
        |recovers the sharing automatically (asserted for self-joins in
        |PlanSpec), so the uncovered case is only "expensive CTE, multiple
        |references, divergent predicates, low selectivity" — the
        |spill-the-CTE call the reference's cost model makes. An engine user
        |can force that explicitly with `df.persist()` on the CTE body; we
        |document rather than auto-decide it.
        |""".stripMargin)
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote $outFile")
  }

  private val flagship = Seq(
    "q1_pricing_summary" -> "TPC-H Q1: scan-heavy two-phase aggregation",
    "q3_shipping_priority" -> "TPC-H Q3: broadcast dims + TakeOrderedAndProject",
    "ssb_q4_1" -> "SSB Q4.1: star join — all dims broadcast, one fact-fact shuffle",
    "cb_top_users" -> "ClickBench top-N: join-free single-shuffle group-by",
    "agg_percentiles" -> "ExactPercentile: distributed selection (no value buffering)",
    "agg_weighted_percentile" -> "Weighted quantiles: bucket weight sums + threshold-bucket re-scan",
    "dedup_minhash" -> "MinHash-LSH dedup: codegen signatures, banded candidates",
    "chunk_documents" -> "Corpus chunking: scan-side explode, no shuffle below Generate",
    "join_salted" -> "Salted skew join: salt in the join keys",
    "win_partition_topn" -> "Partition top-n: WindowGroupLimit pushdown",
    "text_quality_gopher" -> "Gopher quality: scan-side stats + map-side bigram partials",
    "tpcds_returns_net" -> "TPC-DS Q80 mechanics: agg branches FULL OUTER + broadcast dim",
    "ts_capped_balance" -> "Custom exec: key-clustered exchange + sort + BoundedAccumulate scan",
    "join_range_auto" -> "RangeJoinRewrite: plain BETWEEN join auto-binned to an equi join",
    "geo_radius_join" -> "Lat-banded radius join: interval explode + equi join + haversine residual",
    "evt_rolling_wau" -> "Rolling distinct rewrite: bounded explode + one distinct-count shuffle",
    "sketch_count_min" -> "Count-min build: explode + partial/final agg, output bounded by the grid",
    "tpcds_q64_sales_chain" -> "TPC-DS Q64 composition: aux HAVING CTE + mega dim join + cross-year CTE self-join (see CTE note)",
    "tpcds_yoy_cte_stack" -> "TPC-DS Q11 mechanics: one year_total CTE self-joined 4x, per-instance (sale_type, year) filters pushed into each scan",
    "tpcds_three_channel_ratio" -> "TPC-DS Q78 mechanics: three anti-return channel CTEs, store LEFT JOINs the others, COALESCE'd ratio report",
    "sim_ivf_persisted" -> "Persisted IVF-PQ query, phase 2 of 2: id-pruned exact rerank (broadcast shortlist LocalRelation + filtered corpus scan). Phase 1 — the scored shortlist — is COLLECTED by topK (bounded at rerank rows/query) so its plan is dumped separately below; zero training jobs in either phase",
    "tpcds_class_rev_share" -> "TPC-DS Q12/Q20/Q98 mechanics: one fact-side agg shuffle, share-of-class window over the grouped rows only",
    "tpcds_in_or_subquery" -> "TPC-DS Q45 mechanics: IN-list OR IN-subquery — subquery joined once, disjunction evaluated post-join (no double scan)",
    "tpcds_band_multi_distinct" -> "TPC-DS Q28 mechanics: per-band scalar aggregates with count-distinct, assembled by a broadcast nested-loop cross of single-row results",
    "src_lake_bitmap_index" -> "Bitmap index: sort-key-clustered scan with =/IN pruned by exact per-file value sets (the FileIndex consult — file counts in BitmapIndexSpec)",
    "src_iceberg_write_read_transform" -> "Iceberg transform pruning: days()+bucket() probes through readPruned — the kept-file scan, id-range + partition-struct constraints applied at plan time",
    "mv_minmax_poll" -> "Maintained min/max MV: the final poll's plan — delta-only groups unioned with the group-bounded rescan of extreme-retracting groups",
    "src_hudi_mor_read" -> "Hudi MoR read: dirty-group base anti-join on touched keys ∪ upsert LocalRelation ∪ clean-group full-speed scan",
    "src_hudi_mor_read_part" -> "Hudi MoR read, PARTITIONED: per-partition dirty base scans with timeline-restored partition literals, one anti-join, clean partition full-speed",
    "src_paimon_pk_read" -> "Paimon primary-key read: live LSM runs per partition, ONE window keyed by _KEY_* over _SEQUENCE_NUMBER (partial+final WindowGroupLimit around the exchange), retractions filtered",
    "src_delta_checkpoint_dv" -> "Delta checkpoint bootstrap with live DVs: add set + descriptors from ONE parquet read, dirty files anti-joined on (file, row_index)",
    "src_paimon_foreign_read" -> "FOREIGN paimon table (real manifests, BinaryRow partitions, ORC + PK system columns): per-partition scans with decoded literals, one merge window — same shape as own-layout reads",
    "src_paimon_changelog" -> "Paimon changelog-producer feed: ready-made changelog files scanned per version — NO prior-snapshot derivation, no merge window on the read path",
    "src_hudi_values_only" -> "Hudi values-only partitionPath: positional columns from hoodie.properties through the manifest-backed index — partition filters prune files before the scan",
    "src_paimon_dv_delete" -> "Paimon deletion-vector read: DV'd files masked by a (file, row_index) filter BELOW the merge window, DV-free files kept on the clean whole-stage-codegen scan",
    "src_delta_checkpoint_v2" -> "Delta V2 checkpoint bootstrap: UUID manifest → one sidecar add-parquet scan → DV mask — no JSON commit replay",
    "src_paimon_add_column" -> "Paimon evolved read: mixed-schema runs union under mergeSchema, the added column null-fills below the PK merge window",
    "src_delta_foreign_read" -> "FOREIGN Delta 3.1.0 log (real classic checkpoint + JSON tail, metadata-only): inventory is a LocalRelation of the replayed adds — stats parse + per-partition rollup, no data scan by construction",
    "src_iceberg_foreign_read" -> "REAL-SPEC Iceberg v2 read (full-schema Avro manifests, typed r102 partition values): identity sources live IN the data files, scan routes through the transform FileIndex — no column re-attachment, prune at listFiles",
    "src_paimon_dynamic_bucket" -> "Paimon dynamic-bucket read: sticky HASH-index routed buckets scan exactly like fixed ones — live runs per bucket, ONE merge window; CDC derivation still prunes prior files to touched buckets",
    "src_paimon_changelog_input" -> "Paimon changelog-producer=input feed: batch rows ARE the change files — pure changelog scan per version, no lookup derivation, no merge window",
    "src_iceberg_foreign_mor" -> "REAL-SPEC Iceberg v2 MoR read (content=1 delete manifests, reserved-field-id position-delete parquet): clean/dirty split — untouched files scan at full speed, only DELETE-touched files pay the broadcast anti-join on (_metadata.file_path, row_index)",
    "src_iceberg_foreign_eq" -> "REAL-SPEC Iceberg v2 EQUALITY deletes (content=2 data_file, equality_ids = table field-ids): sequence-tagged scan null-safe anti-joins the key columns with the STRICT dataSeq < deleteSeq residual — re-inserted CDC rows survive their own delete")
}
