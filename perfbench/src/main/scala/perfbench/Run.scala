package perfbench

import graft.Tables
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A shared store: one build function `graft.Bench` also calls. */
final case class Store(name: String, build: (SparkSession, String) => Unit)

/** A workload: a data rung, the stores it builds, the ops it loops over. */
final case class Workload(name: String, rung: String, stores: Seq[String],
    ops: Seq[String])

object Workloads {
  val stores: Seq[Store] = Seq(
    Store("Ratings.view", (s, d) => { graft.ml.Ratings.viewCached(s, d); () }),
    Store("AlsEngine.model",
      (s, d) => { graft.ml.AlsEngine.trainCachedOnRatingsView(s, d); () }),
    Store("Baseline.pol_rmse",
      (s, d) => { graft.ml.Baseline.polRmseCached(s, d); () }),
    Store("PairStore", graft.operators.PairStore.warm),
    Store("SimhashStore", graft.operators.LlmQueries.warmSimhashCands),
    Store("ShingleStore.k5", (s, d) => {
      graft.llm.ShingleStore.counted(s, d, 5, 2000).count(); () }),
    Store("ShingleStore.k20", (s, d) => {
      graft.llm.ShingleStore.counted(s, d, 20, 2000).count(); () }),
    Store("TradeGraph", graft.operators.TradeGraph.warm),
    Store("SimSearch.ann", (s, d) => {
      // the three ANN index memos graft.Bench warms, built in turn
      val embs = Tables.load(s, d, "embeddings")
      val nl = math.max(8,
        math.min(4096, math.round(embs.count() / 250.0).toInt))
      graft.llm.SimSearch.ivfIndexCached(embs, d, nLists = 8, lloydIters = 2)
      graft.llm.SimSearch.pqIndexCached(embs, d, dims = 64, m = 16,
        codebookSize = 32, lloydIters = 2)
      graft.llm.SimSearch.ivfIndexGemmCached(embs, d, nl, lloydIters = 2)
      ()
    }),
    Store("StreamOps.slices", graft.streaming.StreamOps.warmSlices))

  val all: Seq[Workload] = Seq(
    Workload("tail_sf001", "sf001", Nil, Seq(
      "q_scan_project", "q_filter_range", "q_join_inner", "q_join_asof",
      "q_agg_groupby", "q_agg_stats", "q_window_rank", "q_topk_per_group",
      "q_string_funcs", "q_json_funcs", "q_dedup_exact",
      "q_table_checksum")),
    Workload("alg1_sf001", "sf001",
      Seq("Ratings.view", "AlsEngine.model", "Baseline.pol_rmse"),
      Seq("q_metric_polarization", "q_metric_grp_unfairness",
        "q_metric_ind_unfairness", "q_metric_rmse", "q_antidote_init",
        "q_antidote_step")),
    Workload("stores_sf001", "sf001",
      Seq("PairStore", "SimhashStore", "ShingleStore.k5", "ShingleStore.k20",
        "TradeGraph", "SimSearch.ann", "StreamOps.slices"),
      Seq("q_item_cooccur", "q_dedup_rate_by_source", "q_text_repetition",
        "q_reciprocity", "q_sim_pq", "q_stream_minmax")))

  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(sys.error(s"unknown workload $n; known: " +
      all.map(_.name).mkString(", ")))
}

/** One execution of one op. */
final case class Exec(op: String, span: Span, construct: Double,
    cpu: Double, rows: Long, error: Option[String]) {
  def seconds: Double = span.seconds
  def ok: Boolean = error.isEmpty
}

/** One run of one workload, in three phases:
  *   1. setup: session start, then every input table cached (repeated,
  *      `setup_s` is the median);
  *   2. build: each shared store the workload reads, one span each;
  *   3. ops: one client in a closed loop over seeded permutations of the
  *      workload's ops, in whole passes, until `--seconds` have passed (so
  *      at least one pass); each op's result is consumed by
  *      [[Checksum.of]] and checked against the pinned value.
  * Latency metrics are over each op's median execution, so every op of
  * the workload weighs the same whatever the pass count and order.
  */
object Run {
  private val Setups = 3
  private lazy val queries = graft.SparkEntry.queries

  def main(o: Map[String, String]): Int = {
    val w = Workloads.byName(o("workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val tracing = o.getOrElse("trace", "0") == "1"
    val expected = Expected.load(o("expected"))
    val dir = s"${o("data")}/${w.rung}"
    val missing = w.ops.filterNot(queries.contains)
    require(missing.isEmpty, s"unregistered ops: ${missing.mkString(", ")}")

    val spark = Main.session()
    val sessionS = (System.currentTimeMillis() - Main.jvmStartMs) / 1e3
    val trace = new Trace(spark, tracing)
    val root = trace.begin("workload", w.name)

    // 1. setup
    val setupSpan = trace.begin("phase", "setup")
    val cacheS = (1 to Setups).map { i =>
      if (i > 1) spark.catalog.clearCache()
      val t0 = System.nanoTime()
      cacheTables(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    trace.finish(setupSpan)
    val setupS = sessionS + median(cacheS)
    val cachedMb = Main.storedMb(spark, persisted(spark))

    // 2. build
    val cwd = new java.io.File(".")
    val cpu0 = Main.cpuSeconds()
    val builds = trace.span("phase", "build") { _ =>
      w.stores.map { n =>
        val store = Workloads.stores.find(_.name == n).get
        val (rdds0, disk0) = (persisted(spark), Main.dirMb(cwd))
        val s = trace.span("store", n)(s => { store.build(spark, dir); s })
        // what the build added: RDDs it persisted and files it wrote
        s.add("stored_mb", Main.storedMb(spark, persisted(spark) -- rdds0) +
          Main.dirMb(cwd) - disk0)
        s
      }
    }
    val buildCpu = Main.cpuSeconds() - cpu0
    val keep = persisted(spark)

    // 3. ops
    val rng = new scala.util.Random(seed)
    val execs = mutable.ArrayBuffer.empty[Exec]
    var passes = 0
    trace.span("phase", "ops") { _ =>
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do {
        execs ++= rng.shuffle(w.ops)
          .map(op => runOp(spark, trace, w, dir, op, expected, keep))
        passes += 1
      } while (System.nanoTime() < deadline)
    }
    trace.finish(root)
    trace.drain()
    trace.attribute()

    val failures = execs.filterNot(_.ok).map(e => e.op -> e.error.get)
    val okExecs = execs.filter(_.ok).toSeq

    /** Each op's median over its executions (one per pass). */
    def perOp(g: Exec => Double): Seq[Double] = w.ops.map(op =>
      median(okExecs.filter(_.op == op).map(g))).filterNot(_.isNaN)
    /** Per-pass value: the builds once plus each op's median. */
    def pass(f: Span => Double, g: Exec => Double): Double =
      builds.map(f).sum + perOp(g).sum
    val lat = perOp(_.seconds).sorted
    val totalS = pass(_.seconds, _.seconds)
    val peakRss = Main.peakRssMb()
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "total_s" -> (totalS, "s"),
      "cpu_s" -> (buildCpu + perOp(_.cpu).sum, "s"),
      "retained_mb" -> (Main.retainedMb(), "MB"))

    val layers: Seq[(String, (Double, String))] = if (!tracing) Nil else {
      def counter(k: String) = pass(_.counters.getOrElse(k, 0.0),
        _.span.counters.getOrElse(k, 0.0))
      val self = trace.selfSeconds
      val trig = trace.triggerSeconds.sorted
      val counted = Seq(
        "operators.plan_s" -> "s", "operators.driver_gap_s" -> "s",
        "operators.jobs" -> "count", "operators.stages" -> "count",
        "operators.tasks" -> "count", "stages.task_cpu_s" -> "s",
        "stages.gc_s" -> "s", "stages.shuffle_read_mb" -> "MB",
        "stages.shuffle_write_mb" -> "MB", "stages.shuffle_records" -> "count",
        "stages.spill_mb" -> "MB", "stages.output_mb" -> "MB",
        "AlsEngine.fit_s" -> "s", "AlsEngine.fits" -> "count",
        "Antidote.s" -> "s", "Antidote.driver_jobs" -> "count",
        "Baseline.s" -> "s", "StreamOps.triggers" -> "count",
        "StreamOps.add_batch_s" -> "s", "StreamOps.wal_commit_s" -> "s",
        "StreamOps.commit_offsets_s" -> "s",
        "StreamOps.latest_offset_s" -> "s",
        "StreamOps.query_planning_s" -> "s")
        .map { case (k, u) => k -> (counter(k), u) }
      val peakExec = (builds ++ okExecs.map(_.span))
        .map(_.counters.getOrElse("stages.peak_exec_mem_mb", 0.0))
        .maxOption.getOrElse(0.0)
      val rows = perOp(_.rows.toDouble).sum
      val storeMetrics = Workloads.stores.flatMap { st =>
        val b = builds.find(_.name == st.name)
        Seq(s"${st.name}.build_s" -> (b.map(_.seconds).getOrElse(0.0), "s"),
          s"${st.name}.stored_mb" ->
            (b.map(_.counters("stored_mb")).getOrElse(0.0), "MB"))
      }
      Seq("Tables.cache_s" -> (cacheS.head, "s"),
        "Tables.cached_mb" -> (cachedMb, "MB"),
        "operators.construct_s" -> (pass(_ => 0.0, _.construct), "s")) ++
        counted ++ Seq(
        "stages.peak_exec_mem_mb" -> (peakExec, "MB"),
        "stages.useful_ratio" ->
          (rows / math.max(1.0, counter("stages.shuffle_records")), "ratio"),
        "stores.consumer_s" ->
          (if (w.stores.isEmpty) 0.0 else totalS - builds.map(_.seconds).sum,
            "s"),
        "StreamOps.trigger_p50_s" ->
          (if (trig.isEmpty) 0.0 else quantile(trig, 0.5), "s"),
        "jvm.gc_s" -> (Main.gcSeconds(), "s"),
        "jvm.heap_peak_mb" -> (Main.heapPeakMb(), "MB"),
        "ops.p50_s" -> (quantile(lat, 0.5), "s"),
        "ops.p90_s" -> (quantile(lat, 0.9), "s"),
        "jvm.peak_rss_mb" -> (peakRss, "MB"),
        "trace.total_s" -> (totalS, "s")) ++
        storeMetrics ++
        Seq("workload", "phase", "store", "op", "action").map(k =>
          s"self.${k}_s" -> (self.getOrElse(k, 0.0), "s"))
    }

    // a metric with no sample (every op failed) reads 0; `correct` is false
    val metrics = Json.obj((if (tracing) layers else e2e).map {
      case (k, (v, u)) => k -> Json.obj(Seq(
        "value" -> Json.num(if (v.isNaN) 0.0 else v),
        "unit" -> Json.str(u)))
    })
    val line = Json.obj(Seq("correct" -> failures.isEmpty.toString,
      "attempted" -> execs.size.toString, "failed" -> failures.size.toString,
      "metrics" -> metrics))
    val stamp = Json.obj(Seq(
      "workload" -> Json.str(w.name), "rung" -> Json.str(w.rung),
      "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> tracing.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_conf" -> Json.obj(spark.conf.getAll.toSeq.sorted
        .map { case (k, v) => k -> Json.str(v) }),
      "ops_done" -> execs.size.toString, "passes" -> passes.toString,
      "phases" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "cache_s" -> Json.arr(cacheS.map(Json.num))) ++
        trace.spans.filter(_.kind == "phase").map(p =>
          s"${p.name}_phase_s" -> Json.num(p.seconds))),
      "ops" -> Json.arr(execs.map(e => Json.obj(Seq("op" -> Json.str(e.op),
        "s" -> Json.num(e.seconds), "ok" -> e.ok.toString)))),
      "failures" -> Json.arr(failures.map { case (op, err) =>
        Json.obj(Seq("op" -> Json.str(op), "error" -> Json.str(err))) }),
      "e2e" -> Json.obj(e2e.map { case (k, (v, _)) => k -> Json.num(v) }),
      "result" -> line))
    writeFile(o("out"), stamp + "\n")
    o.get("spans").foreach(p => writeFile(p, trace.toJson + "\n"))
    try spark.stop() catch { case _: Throwable => () }
    0
  }

  private def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Caches every input table: independent scans as concurrent jobs, four
    * in flight, as `graft.Bench` does. */
  private def cacheTables(spark: SparkSession, dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = Tables.all.map(n => pool.submit(
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { Tables.load(spark, dir, n).cache().count(); () }
        }))
      try futs.foreach(_.get())
      catch { case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e) }
    } finally pool.shutdownNow()
  }

  private def runOp(spark: SparkSession, trace: Trace, w: Workload,
      dir: String, op: String, expected: Expected, keep: Set[Int]): Exec = {
    val cpu0 = Main.cpuSeconds()
    var construct = 0.0
    var rows = 0L
    var error: Option[String] = None
    val span = trace.span("op", op) { s =>
      try {
        val df = queries(op)(spark, dir)
        construct = (trace.now() - s.start) / 1e9
        val sum = trace.span("action", "checksum")(_ => Checksum.of(df))
        rows = sum.rows
        if (!expected.nondeterministic.contains(op))
          expected.op(w.rung, op) match {
            case Some(want) if want.matches(sum) =>
            case Some(want) => error = Some(
              s"checksum mismatch: got ${sum.toJson}, pinned ${want.toJson}")
            case None => error = Some(s"no pinned checksum for ${w.rung}/$op")
          }
      } catch { case e: Throwable =>
        error = Some(s"${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.nextOption()
            .getOrElse("").take(500))
      }
      s
    }
    Main.releaseNew(spark, keep)
    Exec(op, span, construct, Main.cpuSeconds() - cpu0, rows, error)
  }

  /** Runs each op of a workload once, in listed order, and prints its
    * latency and checksum: the source of the pinned op checksums. */
  def record(o: Map[String, String]): Int = {
    val w = Workloads.byName(o("workload"))
    val ops = o.get("ops").map(_.split(",").toSeq).getOrElse(w.ops)
    val dir = s"${o("data")}/${w.rung}"
    val spark = Main.session()
    cacheTables(spark, dir)
    w.stores.foreach { n =>
      val t0 = System.nanoTime()
      Workloads.stores.find(_.name == n).get.build(spark, dir)
      println(Json.obj(Seq("store" -> Json.str(n),
        "s" -> Json.num((System.nanoTime() - t0) / 1e9))))
    }
    val keep = persisted(spark)
    var failed = 0
    for (op <- ops) {
      val t0 = System.nanoTime()
      val r = try Right(Checksum.of(queries(op)(spark, dir)))
        catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      Main.releaseNew(spark, keep)
      if (r.isLeft) failed += 1
      println(Json.obj(Seq("rung" -> Json.str(w.rung), "op" -> Json.str(op),
        "s" -> Json.num(dt)) ++ r.fold(
        e => Seq("error" -> Json.str(e)), c => Seq("checksum" -> c.toJson))))
      System.out.flush()
    }
    try spark.stop() catch { case _: Throwable => () }
    if (failed == 0) 0 else 1
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values; NaN when empty. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def writeFile(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, s.getBytes("UTF-8"))
  }
}
