package graft.ml

import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Antidote-data generation (paper §4, Alg. 1): append a small budget of
  * synthetic users whose ratings are optimized by projected gradient
  * descent to reduce a societal metric (polarization here) of the
  * re-factorized matrix.
  *
  * Division of labor mirrors the paper and is the 100 TB-safe split:
  *  - Spark (distributed): ratings assembly, ALS re-training, factor
  *    moment aggregates (ū, S — k and k×k reductions over n users).
  *  - Driver ([[LinAlg]], column-major arrays): everything sized by the
  *    antidote budget —
  *    X is k̃×m with k̃ = ⌈α·n⌉ (tens to hundreds of rows), and the
  *    gradient needs V (m×k) which is item-dimension-sized, not
  *    data-sized. For very large m, the V·(…) products block over item
  *    ranges; the fixtures never need that path.
  */
object Antidote {

  /** Deterministic hash-pseudo-random init in [1,5] (no rand(): the same
    * arithmetic formula runs in the DuckDB oracle — SURVEY §7.4.4). */
  def ratingFormula(userId: Column, itemId: Column): Column =
    round(lit(1) + lit(4) *
      ((userId * lit(2654435761L) + itemId * lit(40503L)) % 1000) / lit(999.0), 6)

  /** (n_users, max_user_id) — computed once and shared across budgets. */
  def userStats(ratings: DataFrame): (Long, Long) = {
    val row = ratings.agg(
      countDistinct(col("user_id")).as("n"), max(col("user_id")).as("mx")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Item-support cap (paper §4.3 / SCALE.md sf10 forecast): restrict
    * each synthetic user's support to the `m` MOST-RATED items (ties
    * broken by item_id for determinism). The paper's X is dense k̃×m —
    * α·n·m cells, QUADRATIC in the catalog (306 M augmented rows at sf1
    * α = 0.05, 30 B at sf10 α = 0.01) — and the ONLY data-sized consumer
    * of X is the ALS re-train (the gradient/metric algebra is
    * closed-form over k-dim moments). Capping the support to the
    * highest-support items keeps the antidote rows where they touch the
    * most real users' ridge solves, which is where the per-item
    * linearization ∂v_j/∂X_aj = M_j⁻¹ u_a has the most leverage per
    * cell. TakeOrderedAndProject top-M — no global sort. */
  def topSupportItems(ratings: DataFrame, m: Int): DataFrame =
    ratings.groupBy("item_id").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("item_id"))
      .limit(m).select("item_id")

  /** Auto-size the cap so the antidote block contributes at most
    * `maxCells` rows to the ALS train input: None (dense X, the paper's
    * exact form) while k̃·m fits, top-⌊maxCells/k̃⌋ items beyond. The
    * default keeps the fixture scales exactly dense (sf0.1: k̃·m ≈ 55 k)
    * and bounds sf1 α = 0.05 (k̃ ≈ 7.5 k) to ~2 M antidote cells. */
  def autoCap(ratings: DataFrame, alpha: Double,
      maxCells: Long = 2000000L): Option[Int] = {
    val row = ratings.agg(countDistinct(col("user_id")),
      countDistinct(col("item_id"))).head()
    val kTilde = math.ceil(alpha * row.getLong(0)).toLong
    val m = row.getLong(1)
    if (kTilde <= 0 || kTilde * m <= maxCells) None
    else Some(math.max(1L, maxCells / kTilde).toInt)
  }

  /** k̃ = ⌈α·n_users⌉ synthetic users (ids above max real id) × all items. */
  def init(spark: SparkSession, ratings: DataFrame, alpha: Double): DataFrame =
    init(spark, ratings, alpha, userStats(ratings))

  def init(spark: SparkSession, ratings: DataFrame, alpha: Double,
      stats: (Long, Long)): DataFrame =
    initCapped(spark, ratings, alpha, stats, None)

  /** [[init]] with the §4.3 item-support cap: synthetic users rate only
    * the top-`itemCap` items by support (None = dense, the paper's exact
    * X). */
  def initCapped(spark: SparkSession, ratings: DataFrame, alpha: Double,
      stats: (Long, Long), itemCap: Option[Int]): DataFrame = {
    val (n, mx) = stats
    val k = math.ceil(alpha * n).toLong
    val items = itemCap.map(topSupportItems(ratings, _))
      .getOrElse(ratings.select("item_id").distinct())
    spark.range(1, k + 1)
      .select((lit(mx) + col("id")).as("user_id"))
      .crossJoin(broadcast(items))
      .select(col("user_id"), col("item_id"),
        ratingFormula(col("user_id"), col("item_id")).as("rating"))
  }

  /** Heuristic antidote initializer (paper §4.3's cheap alternative to
    * gradient search): each of the k̃ synthetic users rates every item at
    * the item's MEAN observed rating (clipped to [1,5], rounded 6 dp so
    * the frame is reproducible across engines and partitionings). Rating
    * at the consensus pulls the re-factorization toward the mean
    * prediction, which shrinks prediction variance — i.e. it descends
    * polarization before any ALS-in-the-loop gradient step, at the cost
    * of ONE item-mean aggregate. Use it as the warm start for
    * [[optimize]] via `initFn = Antidote.initHeuristic`. */
  def initHeuristic(spark: SparkSession, ratings: DataFrame,
      alpha: Double): DataFrame =
    initHeuristicCapped(spark, ratings, alpha, None)

  /** [[initHeuristic]] with the §4.3 item-support cap (see
    * [[topSupportItems]] / [[autoCap]]): the synthetic users rate only
    * the top-`itemCap` items by support, at those items' mean rating —
    * X becomes k̃×M instead of k̃×m, bounding the ALS re-train input
    * (the only data-sized consumer of X) at any scale. */
  def initHeuristicCapped(spark: SparkSession, ratings: DataFrame,
      alpha: Double, itemCap: Option[Int]): DataFrame = {
    val (n, mx) = userStats(ratings)
    val k = math.ceil(alpha * n).toLong
    val means = ratings.groupBy("item_id")
      .agg(round(least(lit(5.0), greatest(lit(1.0), avg(col("rating")))), 6)
        .as("rating"))
    val itemMeans = itemCap
      .map(m => means.join(topSupportItems(ratings, m), "item_id"))
      .getOrElse(means)
    spark.range(1, k + 1)
      .select((lit(mx) + col("id")).as("user_id"))
      .crossJoin(broadcast(itemMeans))
      .select(col("user_id"), col("item_id"), col("rating"))
  }

  /** Per-model memo of [[factorMoments]] (optimization r14): one Alg-1
    * polarization iteration computes the SAME model's moments twice —
    * the trace point's `polarization(model)` and the next
    * `polarizationStep(model)` — and the baseline/metric queries re-read
    * the memoized base model's moments per query. The moments are one
    * deterministic k+k² reduction per model; keying weakly on the model
    * instance (models are themselves memoized) dedupes the recomputation
    * without pinning models the trainers have dropped. */
  private val momentsCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[ALSModel, Moments]())

  /** User count n, mean user factor ū (k) and mean outer-product second
    * moment S = E[u uᵀ] (k×k, column-major). */
  final case class Moments(n: Double, uBar: Array[Double], s: Array[Double])

  /** [[Moments]] computed distributedly (k and k² cells — constant-size
    * reductions), memoized per model instance. */
  def factorMoments(model: ALSModel): Moments = {
    val hit = momentsCache.get(model)
    if (hit != null) hit
    else {
      val computed = factorMomentsUncached(model)
      momentsCache.put(model, computed)
      computed
    }
  }

  private def factorMomentsUncached(model: ALSModel): Moments = {
    val k = model.rank
    val uf = model.userFactors // (id INT, features ARRAY<FLOAT>)
    val sums = uf.select(
      (Seq(count(lit(1)).cast(DoubleType).as("n")) ++
        (0 until k).map(i =>
          sum(element_at(col("features"), i + 1).cast(DoubleType)).as(s"m$i")) ++
        (for (i <- 0 until k; j <- i until k) yield
          sum(element_at(col("features"), i + 1).cast(DoubleType) *
            element_at(col("features"), j + 1).cast(DoubleType)).as(s"s${i}_$j"))): _*)
      .head()
    val n = sums.getDouble(0)
    val uBar = Array.tabulate(k)(i => sums.getDouble(1 + i) / n)
    val s = new Array[Double](k * k)
    var idx = 1 + k
    for (i <- 0 until k; j <- i until k) {
      val v = sums.getDouble(idx) / n
      s(i + j * k) = v; s(j + i * k) = v
      idx += 1
    }
    Moments(n, uBar, s)
  }

  /** Polarization of the model's predictions over ALL (user,item) pairs in
    * closed form: (1/m) Σ_i [v_iᵀ S v_i − (ūᵀ v_i)²] — no n×m
    * materialization (SURVEY §2.J / D4). Fully distributed: S and ū are
    * k×k / k driver broadcasts and the per-item quadratic form is a
    * codegen'd column over itemFactors (no m×k collect — at large m the
    * old driver-side loop was the bottleneck of the Alg-1 trace). */
  def polarization(model: ALSModel): Double = {
    val Moments(_, uBar, s) = factorMoments(model)
    val k = model.rank
    def e(i: Int): Column =
      element_at(col("features"), i + 1).cast(DoubleType)
    // v'Sv over the symmetric S: diagonal terms once, off-diagonal twice.
    val quad = (for (i <- 0 until k; j <- i until k) yield
      e(i) * e(j) * lit(if (i == j) s(i + j * k) else 2.0 * s(i + j * k)))
      .reduce(_ + _)
    val mean = (0 until k).map(i => e(i) * lit(uBar(i))).reduce(_ + _)
    model.itemFactors
      .agg(avg(quad - mean * mean).as("polarization"))
      .head().getDouble(0)
  }

  /** One point of the Alg-1 trace: the optimized societal metric plus the
    * accuracy cost (RMSE on the real known cells) — the paper's
    * metric-vs-budget deliverable needs both. */
  final case class TracePoint(objective: Double, rmse: Double)

  /** The chosen metric evaluated on the ALS model, plus RMSE over the real
    * ratings — all distributed (driver sees two scalars). */
  def evaluate(model: ALSModel, ratings: DataFrame, metric: Metric): TracePoint = {
    val pred = AlsEngine.predictKnown(model, ratings)
    evaluateOn(pred, lossesOf(pred), model, metric)
  }

  /** [[evaluate]] over a precomputed (typically cached) predictKnown
    * frame and its per-user loss frame — the optimize loop shares ONE
    * cached prediction pass and ONE per-user-loss pass per model between
    * the trace evaluation's rmse + metric reads and the next gradient
    * step, instead of re-deriving predictKnown up to four times and
    * lossesOf up to three times per iteration (r14; expressions are
    * identical, only the source frames are reused, so every scalar is
    * unchanged). */
  private def evaluateOn(pred: DataFrame, lu: DataFrame, model: ALSModel,
      metric: Metric): TracePoint = {
    val rmse = pred.agg(round(sqrt(avg((col("rating") - col("p")) *
      (col("rating") - col("p")))), 6).as("rmse")).head().getDouble(0)
    val obj = metric match {
      case Metric.Polarization => polarization(model)
      case Metric.IndividualUnfairness =>
        lu.agg(var_pop(col("l_u"))).head().getDouble(0)
      case Metric.GroupUnfairness(groups, a, b) =>
        lu.join(groups, Seq("user_id"), "left")
          .agg(abs(avg(when(col("grp") === a, col("l_u"))) -
            avg(when(col("grp") === b, col("l_u"))))).head().getDouble(0)
    }
    TracePoint(obj, rmse)
  }

  /** All three societal metrics + RMSE from ONE cached pass over the known
    * cells (plus polarization's constant-size factor-moment reduction) —
    * what a metric-vs-budget sweep should call instead of three separate
    * `evaluate`s re-deriving predictions each time. */
  def evaluateAll(model: ALSModel, ratings: DataFrame, groups: DataFrame,
      a: String, b: String): Map[String, TracePoint] = {
    val pred = AlsEngine.predictKnown(model, ratings).cache()
    val rmse = pred.agg(sqrt(avg((col("rating") - col("p")) *
      (col("rating") - col("p"))))).head().getDouble(0)
    val lu = pred.groupBy("user_id")
      .agg(avg((col("p") - col("rating")) * (col("p") - col("rating")))
        .as("l_u"))
      .cache()
    val ind = lu.agg(var_pop(col("l_u"))).head().getDouble(0)
    val grp = lu.join(groups, Seq("user_id"), "left")
      .agg(abs(avg(when(col("grp") === a, col("l_u"))) -
        avg(when(col("grp") === b, col("l_u"))))).head().getDouble(0)
    val pol = polarization(model)
    pred.unpersist()
    lu.unpersist()
    Map(
      "polarization" -> TracePoint(pol, rmse),
      "ind_unfairness" -> TracePoint(ind, rmse),
      "grp_unfairness" -> TracePoint(grp, rmse))
  }

  /** [[lossesOf]] for callers that manage their own cache lifecycle (the
    * sweep shares one cached loss pass between its step's weight and
    * gradient consumers, like the optimize loop). */
  def lossesWithCounts(pred: DataFrame): DataFrame = lossesOf(pred)

  /** Per-user ALS loss ℓ_u = mean squared error over the user's known
    * cells, with the cell count (needed by the gradient chain rule). */
  private def lossesOf(pred: DataFrame): DataFrame =
    pred.groupBy("user_id")
      .agg(avg((col("p") - col("rating")) * (col("p") - col("rating")))
        .as("l_u"), count(lit(1)).as("n_u"))

  /** Full Alg. 1 loop: init X, then `steps` projected-GD iterations, each
    * re-factorizing [R; X] and descending the chosen metric. Returns the
    * final X and the (objective, rmse) trace — one point per model, so
    * metric-vs-budget AND rmse-vs-budget curves fall out of one run.
    *
    * Each iteration trains ONE ALS model on [R; X_t] and shares it between
    * the trace evaluation and the gradient linearization of the next step
    * (ALS is seeded, so the step's model would be bit-identical anyway) —
    * halving the loop's dominant cost vs the naive train-per-call shape. */
  def optimize(spark: SparkSession, ratings: DataFrame, alpha: Double,
      steps: Int, cfg: AlsEngine.Config = AlsEngine.Config(),
      eta: Double = 1e4, metric: Metric = Metric.Polarization,
      initFn: (SparkSession, DataFrame, Double) => DataFrame = init)
      : (DataFrame, Seq[TracePoint]) = {
    var x = initFn(spark, ratings, alpha).cache()
    var model = AlsEngine.train(ratings.unionByName(x), cfg)
    // One cached prediction pass and one cached per-user-loss pass per
    // model, shared by this iteration's trace point (rmse + metric) and
    // the next step's loss/cell frames — the same rows were previously
    // re-derived up to four (pred) / three (losses) times per iteration
    // (r14). The loss cache is lazy: the polarization trace never touches
    // it, so it costs nothing there. Unpersisted only after the step
    // consuming them has materialized its output.
    var pred = AlsEngine.predictKnown(model, ratings).cache()
    var lu = lossesOf(pred).cache()
    val trace = Seq.newBuilder[TracePoint]
    trace += evaluateOn(pred, lu, model, metric)
    for (_ <- 1 to steps) {
      val next = step(spark, ratings, x, cfg, eta, metric, Some(model),
          Some(pred), Some(lu))
        .cache()
      next.count() // materialize before unpersisting the predecessor
      x.unpersist()
      x = next
      pred.unpersist()
      lu.unpersist()
      model = AlsEngine.train(ratings.unionByName(x), cfg)
      pred = AlsEngine.predictKnown(model, ratings).cache()
      lu = lossesOf(pred).cache()
      trace += evaluateOn(pred, lu, model, metric)
    }
    pred.unpersist()
    lu.unpersist()
    (x, trace.result())
  }

  /** One projected-GD step on X (Alg. 1) for the chosen metric, then
    * box-project into [1,5]. Returns the updated antidote rows. Pass
    * `model` when [R; X] is already factorized (the optimize loop): the
    * step linearizes around exactly that model instead of retraining. */
  def step(spark: SparkSession, ratings: DataFrame, x: DataFrame,
      cfg: AlsEngine.Config = AlsEngine.Config(), eta: Double = 1.0,
      metric: Metric = Metric.Polarization,
      model: Option[ALSModel] = None,
      pred: Option[DataFrame] = None,
      lu: Option[DataFrame] = None): DataFrame = metric match {
    case Metric.Polarization =>
      polarizationStep(spark, ratings, x, cfg, eta, model)
    case m => unfairnessStep(spark, ratings, x, cfg, eta, m, model, pred, lu)
  }

  /** Polarization step: descend through the ridge closed form
    * u_a = (VᵀV + λ·m·I)⁻¹ Vᵀ x_a (V fixed), then box-project into
    * [1,5].
    *
    * The m-dimensional chain ∂U/∂x_a = V A⁻¹ Vᵀ · (2/(m·n))(V u_a − V ū)
    * collapses to V·w_a with w_a = (2/(m·n)) A⁻¹ B (u_a − ū), B = VᵀV —
    * so the driver only ever touches k-dim/k×k quantities; X itself and
    * every item-dimension product stay DISTRIBUTED (Vᵀx_a is a broadcast
    * join + groupBy, the update x−η·v_i·w_a a zip_with). This is what
    * makes the step valid at 100 TB (and ~3× faster than a driver
    * round-trip of X even at sf0.1). */
  private def polarizationStep(spark: SparkSession, ratings: DataFrame,
      x: DataFrame, cfg: AlsEngine.Config, eta: Double,
      pretrained: Option[ALSModel] = None): DataFrame = {
    import spark.implicits._

    val aug =
      if (pretrained.isEmpty) Some(ratings.unionByName(x).cache()) else None
    val model = pretrained.getOrElse(AlsEngine.train(aug.get, cfg))
    val k = cfg.rank

    // n (user count) rides on the memoized moment pass
    val Moments(nTot, uBar, _) = factorMoments(model)

    // B = VᵀV — k×k reduction over item factors via the typed Gram
    // aggregator (partial-aggregates map-side; merges associatively),
    // with the item count m from the same pass.
    val f = col("features")
    val gram = udaf(new graft.functions.GramAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val gRow = model.itemFactors
      .select(gram(f).as("g"), count(lit(1)).as("m")).head()
    val tri = gRow.getSeq[Double](0)
    val m = gRow.getLong(1).toDouble
    val b = new Array[Double](k * k)
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      b(i + j * k) = tri(idx); b(j + i * k) = tri(idx)
      idx += 1
    }
    // A = B + λ·m·I, cell by cell as B + (I·λm) (adding 0.0 off the
    // diagonal keeps even a -0.0 cell bit-identical to that form)
    val a = Array.tabulate(k * k)(p =>
      b(p) + (if (p % k == p / k) cfg.regParam * m else 0.0))

    // t_a = Vᵀ x_a per antidote user: broadcast-join X with item factors,
    // aggregate k weighted sums — result is k̃×k, tiny on the driver.
    val vdf = model.itemFactors
      .select(col("id").as("item_idx"), col("features"))
    val xi = x.select(col("user_id"), col("item_id"),
      col("item_id").cast(IntegerType).as("item_idx"),
      col("rating").cast(DoubleType).as("rating"))
    val tRows = xi.join(broadcast(vdf), "item_idx")
      .groupBy("user_id")
      .agg(sum(col("rating") * element_at(f, 1).cast(DoubleType)).as("t0"),
        (1 until k).map(i => sum(col("rating") *
          element_at(f, i + 1).cast(DoubleType)).as(s"t$i")): _*)
      .collect()

    val c = 2.0 / (m * nTot)
    val wRows = tRows.map { r =>
      val t = Array.tabulate(k)(i => r.getDouble(1 + i))
      val ua = LinAlg.solve(a, t) // ridge closed form
      // gradient coefficients w_a = c·A⁻¹ B (u_a − ū)
      val d = Array.tabulate(k)(i => ua(i) - uBar(i))
      val wa = LinAlg.solve(a, LinAlg.mulVec(b, k, d)).map(_ * c)
      (r.getLong(0), wa.toSeq)
    }.toSeq
    val wdf = wRows.toDF("user_id", "w")

    // Distributed update + box projection: x ← clip(x − η·(v_i·w_a), 1, 5).
    val dot = aggregate(
      zip_with(col("features"), col("w"), (p, q) => p.cast(DoubleType) * q),
      lit(0.0), (acc, v) => acc + v)
    val out = xi.join(broadcast(vdf), "item_idx")
      .join(broadcast(wdf), "user_id")
      .select(col("user_id"), col("item_id"),
        round(least(lit(5.0), greatest(lit(1.0),
          col("rating") - lit(eta) * dot)), 6).as("rating"))
    aug.foreach(_.unpersist())
    out
  }

  /** Unfairness step (paper Alg. 1 for U_ind / U_grp): the antidote data
    * reaches the REAL users' losses through the item factors, so the
    * linearization goes through ALS's item-side ridge stage with user
    * factors fixed:
    *
    *   v_j = M_j⁻¹ (Σ_{i∈Ω_j} R_ij u_i + Σ_a X_aj u_a),
    *   M_j = Σ_{i∈Ω_j} u_i u_iᵀ + Σ_a u_a u_aᵀ + λ(n_j + k̃)I
    *   ⇒ ∂v_j/∂X_aj = M_j⁻¹ u_a.
    *
    * With per-user loss ℓ_i and metric-specific ∂U/∂ℓ_i =: d_i, the chain
    * collapses to ∂U/∂X_aj = g_jᵀ M_j⁻¹ u_a with
    * g_j = Σ_{i∈Ω_j} (2 d_i/|Ω_i|)(p_ij − R_ij) u_i.
    *
    * Distribution of labor: per-item B_j/g_j/n_j are ONE groupBy(item) of
    * codegen'd factor products; the k×k solve M_j⁻¹ g_j runs per item
    * INSIDE the cluster (typed map — genuine per-row linear algebra, the
    * documented mapPartitions-class exception); the only driver-held state
    * is the k̃×k antidote factor block and its k×k Gram — budget-sized,
    * independent of n, m, and |ratings|. */
  private def unfairnessStep(spark: SparkSession, ratings: DataFrame,
      x: DataFrame, cfg: AlsEngine.Config, eta: Double,
      metric: Metric, pretrained: Option[ALSModel] = None,
      predIn: Option[DataFrame] = None,
      luIn: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val aug =
      if (pretrained.isEmpty) Some(ratings.unionByName(x).cache()) else None
    val model = pretrained.getOrElse(AlsEngine.train(aug.get, cfg))
    // Known-cell predictions feed BOTH the per-user loss weights and the
    // per-item gradient cells; when the optimize loop supplies its cached
    // pass, neither is re-derived (standalone calls keep the lazy
    // two-pass shape — the caller controls no cache lifecycle here).
    val pred = predIn.getOrElse(AlsEngine.predictKnown(model, ratings))
    val k = cfg.rank

    // Antidote factor block U_a (k̃×k — budget-sized driver state).
    val mx = ratings.agg(max(col("user_id"))).head().getLong(0)
    val uaRows = model.userFactors.filter(col("id") > mx).collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).map(_.toDouble).toArray))
    val kTilde = uaRows.length
    val sa = new Array[Double](k * k) // column-major
    uaRows.foreach { case (_, u) =>
      for (i <- 0 until k; j <- 0 until k) sa(i + j * k) += u(i) * u(j)
    }

    // Per-user metric weight d_i = ∂U/∂ℓ_i (constant-size driver scalars).
    // The optimize loop / sweep pass their cached per-user loss frame;
    // standalone calls derive it lazily (same expressions either way).
    val lu = luIn.getOrElse(lossesOf(pred))
    val dDf = metric match {
      case Metric.IndividualUnfairness =>
        val g = lu.agg(avg(col("l_u")), count(lit(1))).head()
        val (lBar, n) = (g.getDouble(0), g.getLong(1).toDouble)
        lu.select(col("user_id"), col("n_u"),
          ((col("l_u") - lBar) * (2.0 / n)).as("d_u"))
      case Metric.GroupUnfairness(groups, a, b) =>
        val withG = lu.join(groups, Seq("user_id"), "left")
        val g = withG.agg(
          avg(when(col("grp") === a, col("l_u"))),
          avg(when(col("grp") === b, col("l_u"))),
          count(when(col("grp") === a, lit(1))),
          count(when(col("grp") === b, lit(1)))).head()
        // Descend (ℓ̄_A − ℓ̄_B)² rather than |ℓ̄_A − ℓ̄_B|: identical descent
        // direction, but the magnitude is ∝ the current gap, so steps
        // self-damp near Δ = 0 instead of oscillating across the zero
        // crossing the way the constant-magnitude sign(Δ) weight does.
        val delta = g.getDouble(0) - g.getDouble(1)
        val (na, nb) = (g.getLong(2).toDouble, g.getLong(3).toDouble)
        withG.select(col("user_id"), col("n_u"),
          when(col("grp") === a, 2.0 * delta / na)
            .when(col("grp") === b, -2.0 * delta / nb)
            .otherwise(0.0).as("d_u"))
      case Metric.Polarization =>
        throw new IllegalArgumentException("use polarizationStep")
    }

    // Cells with error, weight, and the rating user's factor vector.
    val uf = model.userFactors
      .select(col("id").cast(LongType).as("user_id"), col("features").as("u"))
    val cells = pred
      .join(dDf, "user_id")
      .join(uf, "user_id")
      .select(col("item_id"),
        ((col("p") - col("rating")) * col("d_u") * lit(2.0) / col("n_u"))
          .as("wgt"),
        col("u"))

    // One shuffle on item_id: upper-tri of B_j, the k-vector g_j, and n_j.
    def e(i: Int): Column = element_at(col("u"), i + 1).cast(DoubleType)
    val triNames = for (i <- 0 until k; j <- i until k) yield s"b${i}_$j"
    val aggCols =
      (for (i <- 0 until k; j <- i until k)
        yield sum(e(i) * e(j)).as(s"b${i}_$j")) ++
      (0 until k).map(i => sum(col("wgt") * e(i)).as(s"g$i")) :+
      count(lit(1)).as("nj")
    val itemAgg = cells.groupBy("item_id")
      .agg(aggCols.head, aggCols.tail: _*)

    // Per-item ridge solve w_j = M_j⁻¹ g_j — distributed typed map.
    val lam = cfg.regParam
    val solved = itemAgg.select(col("item_id"),
        array(triNames.map(col): _*).as("btri"),
        array((0 until k).map(i => col(s"g$i")): _*).as("g"),
        col("nj"))
      .as[(Long, Seq[Double], Seq[Double], Long)]
      .map { case (item, bTri, gv, nj) =>
        val m = sa.clone()
        var idx = 0
        for (i <- 0 until k; j <- i until k) {
          m(i + j * k) += bTri(idx); if (i != j) m(j + i * k) += bTri(idx)
          idx += 1
        }
        for (i <- 0 until k) m(i + i * k) += lam * (nj + kTilde)
        (item, LinAlg.solve(m, gv.toArray).toSeq)
      }.toDF("item_id", "w")

    // grad_aj = u_aᵀ w_j; projected update stays fully distributed (items
    // without real cells keep their rating: left join + zero gradient).
    val uaDf = uaRows.toSeq.map { case (id, u) => (id, u.toSeq) }
      .toDF("user_id", "ua")
    val dot = coalesce(aggregate(
      zip_with(col("ua"), col("w"), (p, q) => p * q),
      lit(0.0), (acc, v) => acc + v), lit(0.0))
    val out = x.select(col("user_id"), col("item_id"),
        col("rating").cast(DoubleType).as("rating"))
      .join(solved, Seq("item_id"), "left")
      .join(broadcast(uaDf), "user_id")
      .select(col("user_id"), col("item_id"),
        round(least(lit(5.0), greatest(lit(1.0),
          col("rating") - lit(eta) * dot)), 6).as("rating"))
    aug.foreach(_.unpersist())
    out
  }
}
