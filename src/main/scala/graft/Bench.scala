package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints a SHORT total-first JSON line (the driver's
  * captured tail truncated round 1's single 4 KB line, leaving the gate
  * unparseable), then the full per-query map as a second line, and also
  * writes it to target/bench_queries.json. Failed queries are recorded
  * with time -1 and listed under "errors" instead of masquerading as a
  * fast timing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Rung-scaled shuffle width (VERDICT r12 task 8): cpus-many shuffle
    // partitions is right for the sf0.1 driver rung, but a big-rung run
    // (60 M-row shuffles through a shared heap) wants partitions sized
    // so each fits comfortably in memory — the ladder runbook sets
    // SPARK_GRAFT_SHUFFLE_PARTITIONS (e.g. 128 at sf10); AQE coalesces
    // small ones back, so oversizing costs little.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Late-run inflation guards (VERDICT r7 task 5): shuffle files and
      // broadcast blocks are only reclaimed when a GC collects their dead
      // Shuffle/Broadcast references — Spark's own backstop fires every
      // 30 min by default, which a ~10 min 500-query run never reaches.
      // 2 min + the explicit GC every 64 queries below keep the
      // accumulated state of early queries from taxing late ones.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.ui.retainedExecutions", "50")
      // see Verify.session: keep typed top-k aggregations hash-based
      // past 128 distinct group keys
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Single-JVM big-heap runs (the sf10 rung at 64 g) can pause >2 min
      // in full GC while materializing a checkpoint; the default 120 s
      // network timeout then REMOVES the local executor, which in local
      // mode is unrecoverable (every later query fails on the lost
      // scheduler endpoint — measured in the r12 sf10 dedup batch).
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=q1,q2 benches a subset (repeats allowed via
    // SPARK_GRAFT_REPEAT) — for isolating noisy measurements.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    // Cold/warm attribution (PERF.md "Bench semantics"): the MF family
    // shares three memos (ratings view, ALS model, baseline scalars).
    // Warm mode (default) materializes each memo UP FRONT as its own
    // timed `warm:` line, so no query's number silently includes a
    // shared build and per-query times are reproducible across runs.
    // SPARK_GRAFT_COLD=1 instead clears all memos before every query —
    // each number then bills the full cost of computing from parquet.
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    def clearMemos(): Unit = {
      ml.Ratings.clearCache(); ml.AlsEngine.clearCache()
      ml.Baseline.clearCache(); llm.ShingleStore.clearCache()
      ApproxGate.clearCache(); Tables.clearCache()
      operators.LlmQueries.clearCountCache()
      operators.MfQueries.clearSweepCache()
      operators.MfQueries.clearCoCache()
      operators.PairStore.clearCache()
      operators.TradeGraph.clearCache()
      operators.LlmQueries.clearSimhashCache()
      streaming.StreamOps.clearSliceCache()
      llm.SimSearch.clearIndexCache()
    }
    val mfSelected = only.forall(_.exists(n => n.startsWith("q_mf") ||
      n.startsWith("q_antidote") || n.startsWith("q_metric") ||
      n.startsWith("q_ratings")))
    // Shared input-table cache: a 400+-query batch over the SAME inputs
    // re-scans each parquet file hundreds of times; a production batch
    // job caches the hot tables once. Billed as its own warm: line (the
    // warm:als_model precedent), so no query's number hides the load.
    // Correctness-neutral: CacheManager substitutes the identical
    // logical plan, Verify never caches. SPARK_GRAFT_CACHE_TABLES=0
    // restores cold scans per query.
    val cacheTables = !cold &&
      !sys.env.get("SPARK_GRAFT_CACHE_TABLES").contains("0")
    val tableWarm: Seq[(String, () => Unit)] =
      if (!cacheTables) Seq.empty
      else Seq("warm:tables" -> (() => {
        // Independent scans as concurrent jobs (guide §2.6): each table's
        // cache+count is its own job; running them sequentially leaves
        // the cores idle through every scan's tail. 4 in flight fills
        // the tail without the jobs fighting for executors. CacheManager
        // registration is thread-safe; per-table results are unchanged.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        try {
          val futs = Tables.all.map { n =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                Tables.load(spark, sfDir, n).cache().count(); ()
              }
            })
          }
          // Fail fast with the ORIGINAL cause (ADVICE r14): .get() wraps
          // it in ExecutionException and plain shutdown() would let the
          // remaining scans keep running after the first failure.
          try futs.foreach(_.get())
          catch { case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow(); throw Option(e.getCause).getOrElse(e)
          }
        } finally pool.shutdown()
      }))
    // Shared shingle store (ShingleStore.scala): the raw-document
    // shingle consumers split two explode configs; each config's
    // bucketed-table WRITE is billed as its own warm line so no
    // consumer's number hides the corpus explode. Cold mode clears the
    // memo per query, billing the full explode to every consumer.
    val shingleSelected = only.forall(_.exists(Set(
      "q_tfidf_cosine_pairs", "q_boilerplate", "q_shingle_df_profile",
      "q_text_repetition", "q_decontaminate",
      "q_dedup_ngram", "q_dedup_containment")))
    val shingleWarm: Seq[(String, () => Unit)] =
      if (cold || !shingleSelected) Seq.empty
      else Seq(
        "warm:shingles_k5" ->
          (() => { llm.ShingleStore.counted(spark, sfDir, 5, 2000).count(); () }),
        "warm:shingles_k20" ->
          (() => { llm.ShingleStore.counted(spark, sfDir, 20, 2000).count(); () }))
    // The optimized-antidote sweep memo (≈4 ALS retrains + GD steps,
    // the paper's Alg. 1 cost) feeds exactly two registered readouts;
    // gate its warm line on those so a subset run selecting any other
    // query (even another q_antidote_*) doesn't pay retrains no
    // selected query consumes.
    val sweepSelected = only.forall(o =>
      o.contains("q_antidote_sweep_als") || o.contains("q_antidote_figure"))
    // Shared ordered-slice store (StreamOps.scala): all 17 incremental
    // maintainers replay the same events table; the store slices it once
    // and this warm line bills that one-time IO instead of whichever
    // q_stream_* query the registry order runs first.
    val streamSelected = only.forall(_.exists(_.startsWith("q_stream")))
    val sliceWarm: Seq[(String, () => Unit)] =
      if (cold || !streamSelected) Seq.empty
      else Seq("warm:stream_slices" ->
        (() => { streaming.StreamOps.warmSlices(spark, sfDir); () }))
    // Shared item co-occurrence memo (MfQueries.coPairs): the candidate
    // backbone of the two CF-recommender queries, built once per run.
    val coSelected = only.forall(o =>
      o.contains("q_user_recs_cf") || o.contains("q_rec_gini") ||
      o.contains("q_pop_bias") || o.contains("q_novelty_recs"))
    val coWarm: Seq[(String, () => Unit)] =
      if (cold || !coSelected) Seq.empty
      else Seq("warm:cooccur" ->
        (() => { operators.MfQueries.warmCoPairs(spark, sfDir); () }))
    // Shared co-purchase pair store (PairStore): the part-graph family's
    // edge backbone — one blocked fact self-join serves ~16 queries that
    // each re-ran it privately before r14. Billed up front like every
    // shared build; coPairs derives from it, so this warm line precedes
    // warm:cooccur in the ledger.
    val pairSelected = only.forall(_.exists(Set(
      "q_item_cooccur", "q_assoc_rules", "q_cc_labelprop",
      "q_triangle_count", "q_degree_hist", "q_graph_2hop",
      "q_clustering_coeff", "q_kcore", "q_assortativity", "q_rich_club",
      "q_jaccard_neighbors", "q_adamic_adar", "q_pref_attach",
      "q_avg_nbr_degree", "q_user_recs_cf", "q_rec_gini",
      "q_pop_bias", "q_novelty_recs")))
    val pairWarm: Seq[(String, () => Unit)] =
      if (cold || !pairSelected) Seq.empty
      else Seq("warm:basket_pairs" ->
        (() => { operators.PairStore.warm(spark, sfDir); () }))
    // Shared banded-simhash store (LlmQueries.simhashCands): five
    // near-dup queries read one thr-cutoff pair frame built from one
    // shared signature pass; this line bills the signature pass + banded
    // self-join they all used to re-run. The threshold sweep shares the
    // SIGNATURE memo (built transitively here) but aggregates its own
    // gridMax stream, so it does not gate the store build.
    val simhashSelected = only.forall(_.exists(Set(
      "q_dedup_simhash_pairs", "q_dedup_detector_overlap",
      "q_dedup_clusters_det", "q_dedup_rate_by_source",
      "q_near_dup_eval")))
    val simhashWarm: Seq[(String, () => Unit)] =
      if (cold || !simhashSelected) Seq.empty
      else Seq("warm:simhash_cand" ->
        (() => { operators.LlmQueries.warmSimhashCands(spark, sfDir); () }))
    // Shared nation-trade edge list (TradeGraph): ≤625-row local
    // relation consumed by q_pagerank/q_ppr and the five centralities.
    val tradeSelected = only.forall(_.exists(Set(
      "q_pagerank", "q_ppr", "q_closeness_centrality",
      "q_eigenvector_centrality", "q_katz_centrality",
      "q_modularity_regions", "q_reciprocity")))
    val tradeWarm: Seq[(String, () => Unit)] =
      if (cold || !tradeSelected) Seq.empty
      else Seq("warm:trade_edges" ->
        (() => { operators.TradeGraph.warm(spark, sfDir); () }))
    // Shared ANN index memos (SimSearch.ivfIndexCached/pqIndexCached):
    // three registered ANN queries train the same Lloyd coarse quantizer
    // and PQ codebooks; one build serves all of them per run, billed here
    // so no query's number hides (or double-pays) the training.
    val annSelected = only.forall(o => o.contains("q_sim_trained_ivf") ||
      o.contains("q_sim_pq") || o.contains("q_sim_ivfpq") ||
      o.contains("q_map_at_k_ann"))
    val annWarm: Seq[(String, () => Unit)] =
      if (cold || !annSelected) Seq.empty
      else Seq("warm:ann_indexes" -> (() => {
        val embs = Tables.load(spark, sfDir, "embeddings")
        // q_map_at_k_ann's corpus-adaptive gemm index (= 8 lists at
        // every driver scale; bigger corpora size it ~250 vectors/list)
        val nl = math.max(8,
          math.min(4096, math.round(embs.count() / 250.0).toInt))
        // Three independent index builds (disjoint memo keys) as
        // concurrent jobs (guide §2.6): each build is a chain of small
        // Lloyd/assignment jobs that leaves most cores idle, so
        // overlapping them cuts the warm line's wall without touching
        // any build's math.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try {
          Seq[() => Unit](
            () => { llm.SimSearch.ivfIndexCached(embs, sfDir, nLists = 8,
              lloydIters = 2); () },
            () => { llm.SimSearch.pqIndexCached(embs, sfDir, dims = 64,
              m = 16, codebookSize = 32, lloydIters = 2); () },
            () => { llm.SimSearch.ivfIndexGemmCached(embs, sfDir, nl,
              lloydIters = 2); () })
            .map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = f()
            })) match { case futs =>
              try futs.foreach(_.get())
              catch { case e: java.util.concurrent.ExecutionException =>
                pool.shutdownNow(); throw Option(e.getCause).getOrElse(e)
              }
            }
        } finally pool.shutdown()
      }))
    val warmups: Seq[(String, () => Unit)] =
      tableWarm ++ shingleWarm ++ sliceWarm ++ simhashWarm ++ pairWarm ++
      coWarm ++ tradeWarm ++ annWarm ++
      (if (cold || !mfSelected) Seq.empty
      else Seq(
        "warm:ratings_view" ->
          (() => { ml.Ratings.viewCached(spark, sfDir); () }),
        "warm:als_model" ->
          (() => { ml.AlsEngine.trainCachedOnRatingsView(spark, sfDir); () }),
        "warm:baseline_pol_rmse" ->
          (() => { ml.Baseline.polRmseCached(spark, sfDir); () }))) ++
      // Trained-IVF index over the ALS item factors — the ANN recs
      // query's "build once, serve many" half. Placed after warm:als_model
      // so this line bills the Lloyd build, not the ALS training.
      (if (cold || !only.forall(_.contains("q_mf_topk_recs_ann"))) Seq.empty
      else Seq("warm:item_ivf" ->
        (() => { operators.MfQueries.warmItemIvf(spark, sfDir); () }))) ++
      (if (cold || !sweepSelected) Seq.empty
      else Seq(
        "warm:antidote_sweep" ->
          (() => { operators.MfQueries.warmSweep(spark, sfDir); () })))
    // A failed line keeps its -1 and its cause: "<class>: <first message
    // line>", reported on stderr and in the full map's error_causes.
    val causes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def failed(name: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).flatMap(_.linesIterator.toSeq.headOption)
      val cause = e.getClass.getName + msg.fold("")(": " + _)
      causes(name) = cause
      System.err.println(s"[bench] $name failed: $cause")
    }
    val warmResults = warmups.map { case (name, f) =>
      val t0 = System.nanoTime()
      val ok = try { f(); true }
      catch { case e: Throwable => failed(name, e); false }
      (name, if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // Storage hygiene across a 267-query single-JVM run: queries pin
    // blocks (localCheckpoint lineage barriers, Antidote/GraphX internal
    // caches) that a multi-job cluster would drop with the app — but here
    // they accumulate and squeeze execution memory for every later query
    // (round 6: 9× driver-run inflation on the iterative tail). After each
    // query's terminal action its result is never touched again, so every
    // persistent RDD created by the query is released. The keep-set is
    // snapshotted AFTER warmup so the three shared memos survive; cached
    // (non-checkpointed) frames that do get evicted recompute from
    // lineage, so this is a perf lever, never a correctness one.
    // SPARK_GRAFT_RELEASE=0 restores the round-6 accumulate-forever mode.
    val release = !sys.env.get("SPARK_GRAFT_RELEASE").contains("0")
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def releaseNew(): Unit = if (release)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) =>
          // MemoKeep entries are memoized localCheckpoints whose lineage
          // is truncated — releasing them would break, not slow, every
          // later consumer (a memo built mid-run misses the keep-set)
          keep.contains(id) || MemoKeep.isProtected(id) }
        .values.foreach(r => try r.unpersist(blocking = false)
          catch { case _: Throwable => () })
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    var sinceGc = 0
    val best2Sec = sys.env.get("SPARK_GRAFT_BEST2")
      .map(_.toDouble).getOrElse(2.5)
    val results = warmResults ++
      (1 to repeat).flatMap(i => selected.map {
        case (n, f) => (if (repeat > 1) s"$n#$i" else n) -> f
      }).map { case (name, fn) =>
        if (cold) clearMemos()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => failed(name, e); false }
        val dt1 = (System.nanoTime() - t0) / 1e9
        // Small queries report best-of-2 (VERDICT r8 task 6): the
        // single-JVM co-tenant noise floor swings small queries >2×
        // between runs, swallowing real regressions; min-of-2 estimates
        // the intrinsic cost (noise only ever ADDS time). Disabled in
        // cold mode — the second run would be memo-warm — and for
        // queries big enough that noise is relatively small.
        // SPARK_GRAFT_BEST2 sets the threshold in seconds (0 = off;
        // default 2.5 keeps the full-registry wall time inside any
        // driver capture window; 5 is the stability-snapshot setting).
        val dt =
          if (ok && !cold && dt1 < best2Sec) {
            val t1 = System.nanoTime()
            val dt2 = try { fn(spark, sfDir).count()
              (System.nanoTime() - t1) / 1e9
            } catch { case _: Throwable => dt1 }
            math.min(dt1, dt2)
          } else dt1
        releaseNew()
        // Deterministic GC cadence (billed OUTSIDE the per-query timer,
        // like releaseNew): lets ContextCleaner reclaim the shuffle files
        // dead queries left behind before they tax the late-run tail.
        // Skip the cadence at ≤8 cores (VERDICT r14 task 7): a full GC
        // pause is ~4× of the 8-core run's per-query floor and distorts
        // the driver's 8-vs-32-core scaling control; the 2-min periodic
        // ContextCleaner GC (which the longer low-core run reaches more
        // often) keeps reclaiming shuffle files there.
        sinceGc += 1
        if (sinceGc >= 64) {
          sinceGc = 0
          if (scala.util.Try(cpus.toInt).getOrElse(32) > 8) System.gc()
        }
        (name, if (ok) dt else -1.0)
      }
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // The full 145-entry map is a >4 KB single line; both prior rounds the
    // driver's bounded stdout-tail capture truncated it mid-line and the
    // gate went unevaluated ("parsed": null). So the LAST line printed is a
    // contract-complete JSON line whose "queries" map holds a fixed headline
    // subset (one per operator family, all the expensive ones) and stays
    // well under 2 KB; the complete map goes to target/bench_queries.json
    // and is printed once, earlier, for human eyes.
    val headline = Seq(
      "q_scan_project", "q_filter_range", "q_join_inner", "q_join_broadcast",
      "q_join_asof", "q_lateral_topn", "q_agg_groupby", "q_agg_rollup",
      "q_agg_stats", "q_window_rank", "q_window_running", "q_topk_per_group",
      "q_window_ntile", "q_orderby_limit", "q_union_all", "q_string_funcs",
      "q_json_funcs", "q_array_hof", "q_stream_tumbling", "q_stream_stateful",
      "q_mf_als_train", "q_antidote_step", "q_antidote_sweep_als",
      "q_metric_polarization", "q_mf_compact_train", "q_dedup_exact",
      "q_dedup_minhash", "q_dedup_ngram", "q_dedup_embed_lsh", "q_sim_search",
      "q_sim_search_ivf", "q_sim_trained_ivf", "q_kmeans_assign",
      "q_tfidf_topterms", "q_pack_sequences", "q_heavy_hitters",
      "q_decontaminate", "q_metric_rmse_holdout", "q_join_bloom",
      // round 7: the expensive/new-family representatives
      "q_sim_pq", "q_cc_labelprop", "q_dedup_minhash_det", "q_bpe_train",
      "q_stream_checksum", "q_rec_coverage", "q_interval_overlap",
      "q_dedup_clusters_det", "q_table_checksum",
      "q_item_cooccur", "q_triangle_count", "q_kmv_distinct",
      "q_embed_outlier", "q_dedup_containment", "q_join_bucketed",
      "q_mf_foldin", "q_sim_ivfpq",
      // round 7 (cont.): basket-pair joins, GlobalRank scoring, explodes
      "q_assoc_rules", "q_rfm", "q_autocorr", "q_pmi_bigrams",
      "q_negative_sample", "q_degree_hist", "q_spearman", "q_mannwhitney",
      "q_pareto", "q_target_encode", "q_attribution",
      "q_zipf", "q_bm25", "q_graph_2hop", "q_cuped",
      "q_auc", "q_lift_deciles", "q_doc_entropy", "q_skew_audit",
      // round 8: eval/imputation/divergence + graph/robust-stats batch
      "q_perplexity", "q_mrr", "q_calibration", "q_js_divergence",
      "q_jaccard_neighbors", "q_theil_sen", "q_churn_label",
      "q_t_closeness", "q_locf_impute",
      // round 7 (cont. 4): corpus-explode collocations, cluster-blocked
      // decontamination, GlobalRank CDF argmax, 12th stream maintainer
      "q_llr_bigrams", "q_decontaminate_embed", "q_ks_model",
      "q_stream_watermark", "q_hapax_ratio",
      // round 9: the Alg-1 multi-iteration trace (4 ALS refits) and the
      // reworked single-fact-pass antidote evaluation
      "q_antidote_trace", "q_antidote_eval",
      // round 12: the ANN escapes for the registry's one cartesian and
      // the panel×corpus evaluation cross
      "q_mf_topk_recs_ann", "q_map_at_k_ann")
    // In repeat mode every headline query matches `repeat` keys; keep only
    // the last repeat (warm steady-state) so the short line stays bounded.
    val headQs = results.filter { case (k, _) => headline.contains(k.takeWhile(_ != '#')) }
      .groupBy(_._1.takeWhile(_ != '#')).map { case (base, reps) => base -> reps.last._2 }
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val short = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$headQs,"sf":"$sfDir","n_queries":${results.size},"queries_full":"target/bench_queries.json","errors":[${errors.mkString(",")}]}"""
    // Stamp the timing regime into the emitted JSON so ratio tooling can
    // refuse to compare maps produced under different regimes (best-of-2
    // threshold, cold vs warm memos, table caching, repeat count) —
    // cross-regime diffs report spurious speedups/regressions.
    val regime = s"""{"best2_sec":${r3(best2Sec)},"cold":$cold,""" +
      s""""cache_tables":$cacheTables,"repeat":$repeat}"""
    def jsonStr(v: String): String = "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errorCauses = causes.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","regime":$regime,"errors":[${errors.mkString(",")}],"error_causes":$errorCauses}"""
    try {
      // Subset runs (SPARK_GRAFT_ONLY) go to a separate file so they can
      // never clobber the last full-registry map — round 6's full map was
      // superseded by a 6-query subset run and its numbers became
      // unauditable (ADVICE.md).
      val fname = if (only.isEmpty) "bench_queries.json"
                  else "bench_queries_subset.json"
      val p = java.nio.file.Paths.get(s"target/$fname")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // stop() can throw on a wedged executor pool; the JSON lines below are
    // the whole point of the run, so never let shutdown suppress them.
    try spark.stop() catch { case _: Throwable => () }
    // Short line both first and last, full map in between: whatever window
    // of stdout the driver keeps, a complete parseable line survives.
    // Printed after spark.stop() so no executor/log noise can interleave.
    println(short)
    println(full)
    println(short)
    Console.out.flush()
  }
}
