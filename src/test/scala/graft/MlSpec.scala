package graft

import graft.models.{ArEnsemble, AutoOrder, Cluster1D, Nnls, TwresModel, TwresRelational}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Driver-fit model coverage: NNLS KKT/golden checks, TWRES decision
  * branches, 1-D 2-means optimality. */
class MlSpec extends SparkSpec {

  import spark.implicits._

  test("NNLS recovers exact non-negative solutions") {
    // y generated from known non-negative coefficients over the TWRES basis
    val truth = Array(100.0, 5.0, 0.0, 40.0)
    val xs = (2 to 24).map(_.toDouble)
    val a = xs.map(TwresModel.features).toArray
    val b = a.map(row => row.zip(truth).map { case (f, c) => f * c }.sum)
    val sol = Nnls.solve(a, b)
    truth.zip(sol).foreach { case (t, s) => assert(math.abs(t - s) < 1e-6, s"$t vs $s") }
  }

  test("NNLS clamps negatively-correlated coefficients at zero (KKT)") {
    // y decreasing in x → the +x coefficient must be inactive, not negative
    val xs = (1 to 20).map(_.toDouble)
    val a = xs.map(TwresModel.features).toArray
    val b = xs.map(x => 1000.0 / x).toArray
    val sol = Nnls.solve(a, b)
    assert(sol.forall(_ >= 0.0))
    // residual gradient must be <= 0 on inactive coords (KKT optimality)
    val r = a.zip(b).map { case (row, y) => y - row.zip(sol).map(p => p._1 * p._2).sum }
    for (j <- sol.indices if sol(j) == 0.0) {
      val w = a.indices.map(i => a(i)(j) * r(i)).sum
      assert(w <= 1e-6, s"coef $j inactive but gradient $w > 0")
    }
  }

  test("TWRES decision branches: overload -> min_opt, latency breach -> +1") {
    val coeffs = Array(1000.0, 100.0, 0.0, 0.0) // mst = 1000 + 100x
    // mstw(x) = (1000 + 100x) * 10; current=4 -> 14000
    val overload = TwresModel.decide(spark, coeffs, 2, 8, interval = 10.0,
      predLoad = 20000.0, currentScaleOut = 4, avgLat = 1.0, maxLat = 10.0)
    val o = overload.filter(col("is_min_opt")).head
    // first scaleout with mstw > 20000: x=2 ->12000, 3->13000 ... 9? within 2..8: none? 8->18000; argmax slack = 8
    assert(o.getLong(0) == 8 && o.getString(4) == "min_opt")
    val breach = TwresModel.decide(spark, coeffs, 2, 8, interval = 10.0,
      predLoad = 13500.0, currentScaleOut = 4, avgLat = 11.0, maxLat = 10.0)
    val b = breach.head
    assert(b.getString(4) == "scale_up_one" && b.getLong(5) == 5)
    val calm = TwresModel.decide(spark, coeffs, 2, 8, interval = 10.0,
      predLoad = 13500.0, currentScaleOut = 4, avgLat = 1.0, maxLat = 10.0)
    // min-opt = first with mstw > 13500 -> x=4 (14000)
    assert(calm.head.getString(4) == "min_opt" && calm.head.getLong(5) == 4)
  }

  test("relational TWRES subset-enumeration matches Lawson-Hanson NNLS") {
    // same quantized-feature problem fed to both solvers: the 16-subset
    // Cramer enumeration must land on the Lawson-Hanson optimum (the
    // active-set structure forces one coefficient to clamp at 0 here)
    val rnd = new Random(7)
    val rows = (2 to 24).flatMap(x =>
      Seq.fill(3)((x, 500.0 + 20.0 * x + rnd.nextInt(10000) / 100.0)))
    val df = rows.toDF("scaleout", "y")
    val one = TwresRelational.fitCoeffs(df)
      .select("c0", "c1", "c2", "c3").head
    val feats = rows.map { case (x, _) =>
      TwresRelational.feats(x).map(_.toDouble / 1e6).toArray }.toArray
    val sol = Nnls.solve(feats, rows.map(_._2).toArray)
    assert(sol.exists(_ == 0.0), "expected an active zero constraint")
    (0 to 3).foreach { i =>
      assert(math.abs(one.getDouble(i) - sol(i)) < 1e-3 * (1 + math.abs(sol(i))),
        s"c$i: relational ${one.getDouble(i)} vs LH ${sol(i)}")
    }
  }

  test("M1 incremental state: one batch update == chained batch updates") {
    // the moments are additive and the position bookkeeping global, so
    // consuming the tail in one update() or in two (with an awkward split
    // that strands unaligned points between ticks) must be bit-identical
    val vals = (0 until 150).map(i => (1704067200L + i * 60L,
      math.rint((100 + 10 * math.sin(i / 7.0) + i * 0.25) * 10000) / 10000))
    def df(s: Seq[(Long, Double)]) = s.toDF("ts", "value")
    val (a, rest) = vals.splitAt(100)
    val (b, c) = rest.splitAt(27)
    def out(st: org.apache.spark.sql.DataFrame) =
      ArEnsemble.forecastFromState(st, 6).orderBy("model_id").collect().toSeq
    val one = out(ArEnsemble.updateState(ArEnsemble.fitState(df(a), 5), df(rest), 5))
    val two = out(ArEnsemble.updateState(
      ArEnsemble.updateState(ArEnsemble.fitState(df(a), 5), df(b), 5), df(c), 5))
    assert(one == two)
    // every model consumed some of the 50 new points
    assert(one.forall(_.getAs[Long]("n_upd") > 0))
  }

  test("M1 state: under-filled models keep their rows and fill incrementally") {
    // 4 points, 8 models: strides >= 2 have < 3 grid points and would
    // previously vanish from the state (inner join) — permanently
    // %5 wiggle keeps the AR(2) design nonsingular (a perfectly linear
    // series satisfies y = 2y1 - y2 exactly -> det 0 -> null forecasts)
    val mk = (r: Range) => r.map(i => (1704067200L + i * 60L, 100.0 + i + (i % 5)))
      .toDF("ts", "value")
    val st0 = ArEnsemble.fitState(mk(0 until 4), models = 8)
    val rows0 = st0.orderBy("model_id").collect()
    assert(rows0.length == 8, "no model may be dropped at fit time")
    assert(rows0.forall(_.getAs[Long]("seen_ts") == 1704067200L + 3 * 60L))
    // consuming the tail in one update or two stays bit-identical even
    // across the under-filled -> filled transition
    def out(st: org.apache.spark.sql.DataFrame) =
      ArEnsemble.forecastFromState(st, 4).orderBy("model_id").collect().toSeq
    val one = out(ArEnsemble.updateState(st0, mk(4 until 40), 8))
    val two = out(ArEnsemble.updateState(
      ArEnsemble.updateState(st0, mk(4 until 11), 8), mk(11 until 40), 8))
    assert(one == two)
    assert(one.length == 8)
    // stride-2's grid now has enough complete rows for a real fit
    assert(one.filter(_.getAs[Int]("model_id") == 2)
      .forall(!_.isNullAt(one.head.fieldIndex("f1"))))
  }

  test("M1 durable cursor + crash recovery: restart never double-counts") {
    import graft.streaming.OptimizeLoop
    import org.apache.hadoop.fs.{FileSystem, Path}
    val dir = "target/graft-tmp/m1_cursor_test"
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir), true)
    assert(OptimizeLoop.seedCursor(spark, dir) == Long.MinValue)
    val mk = (r: Range) => r.map(i => (1704067200L + i * 60L,
      math.rint((100 + 10 * math.sin(i / 7.0)) * 10000) / 10000)).toDF("ts", "value")
    OptimizeLoop.forecastTick(spark, dir, mk(0 until 60), models = 3)
    // the cursor is the max CONSUMED ts — what a restarted attach() seeds
    assert(OptimizeLoop.seedCursor(spark, dir) == 1704067200L + 59 * 60L)
    OptimizeLoop.forecastTick(spark, dir, mk(60 until 90), models = 3)
    assert(OptimizeLoop.seedCursor(spark, dir) == 1704067200L + 89 * 60L)
    val nTot = spark.read.parquet(s"$dir/m1_state").agg(max("n_tot")).head.getLong(0)
    assert(nTot == 90, s"each observation consumed exactly once, got $nTot")
    // simulate a crash between delete(cur) and rename(nxt, cur): only the
    // next-state dir survives; the following tick must promote it, not
    // silently refit from one batch
    fs.rename(new Path(s"$dir/m1_state"), new Path(s"$dir/m1_state_next"))
    assert(OptimizeLoop.seedCursor(spark, dir) == 1704067200L + 89 * 60L)
    OptimizeLoop.forecastTick(spark, dir, mk(90 until 100), models = 3)
    val nTot2 = spark.read.parquet(s"$dir/m1_state").agg(max("n_tot")).head.getLong(0)
    assert(nTot2 == 100, s"state recovered across the crash window, got $nTot2")
  }

  test("M1 update: three chained updates give the pinned decimal state rows") {
    // 8 fitted points over 9 models, then updates over 8 models: model 9
    // is a state row outside the update, strides 8 and 9 start from one
    // grid point (a null lag context) and 4..7 from two. The first batch
    // lands on no grid point of strides 7 and 8 and ends on a null value,
    // the second is empty, the third carries a null and 5-decimal values
    // (one an exact half at the 5th) so dec15 rounds, and its products'
    // 8th decimals meet the (38,7) rounding of `state + delta`
    val t0 = 1704067200L
    val rnd = new Random(41)
    val vals = (0 until 36).map { i =>
      val v = math.rint((100 + 12 * math.sin(i / 3.0) + rnd.nextGaussian()) * 1e5) / 1e5
      (t0 + i * 60L, java.lang.Double.valueOf(if (i == 20) 98.76545 else v))
    }
    def df(s: Seq[(Long, java.lang.Double)]) = s.toDF("ts", "value")
    val nulled = (i: Int) => (vals(i)._1, null.asInstanceOf[java.lang.Double])
    val fit = ArEnsemble.fitState(df(vals.take(8)), models = 9)
    val st1 = ArEnsemble.updateState(fit, df(Seq(vals(8), vals(9), nulled(10))), 8)
    val st2 = ArEnsemble.updateState(st1, df(Nil), 8)
    val st3 = ArEnsemble.updateState(st2,
      df(vals.slice(11, 36).zipWithIndex.map { case (p, i) => if (i == 6) nulled(11 + i) else p }), 8)
    def rows(st: org.apache.spark.sql.DataFrame) =
      st.orderBy("model_id").collect().toSeq.map(_.mkString(","))
    // the fit leaves 8th decimals that the first update rounds away
    assert(fit.collect().exists(r => Seq("s11", "s12", "s1y").exists(c =>
      r.getAs[java.math.BigDecimal](c).unscaledValue.mod(java.math.BigInteger.TEN).signum != 0)))
    // recorded from the distributed update plan this fold replaced
    assert(rows(st1) == Seq(
      "1,9,868.8826,971.9775,970.4487,105095.23025540,104785.25779980,104906.47401300,94533.75591080,93993.84130090,108.16843,102.14208,1704067800,7,11,3,1704067800",
      "2,3,323.3981,331.3978,326.3243,36620.42413960,35548.57978700,36043.23443030,35736.72410320,35123.62204030,102.14208,108.16843,1704067740,7,11,1,1704067800",
      "3,2,108.1684,220.5403,215.4668,24327.84666820,23256.00231560,23740.05842130,12155.08862800,11151.61038120,108.16843,108.16843,1704067800,7,11,1,1704067800",
      "4,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,110.14178,1704067620,7,11,0,1704067800",
      "5,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,107.24937,1704067620,7,11,0,1704067800",
      "6,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,103.09494,1704067620,7,11,0,1704067800",
      "7,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,100.61326,1704067620,7,11,0,1704067800",
      "8,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,null,1704067620,7,11,0,1704067800",
      "9,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,null,1704067620,7,11,0,1704067800"))
    assert(rows(st2) == rows(st1))
    assert(rows(st3) == Seq(
      "1,33,3114.5717,3237.2753,3346.6562,330038.86181750,341793.84465920,331621.69835840,308535.18076330,318589.61122830,91.11023,88.68312,1704069300,7,36,27,1704069300",
      "2,15,1392.0088,1417.8341,1533.6377,144791.43794650,157800.25579770,147150.49750340,133069.05862630,143980.24154930,91.11023,87.29251,1704069300,7,36,13,1704069300",
      "3,10,892.0303,1023.8875,1034.7154,105603.94634480,107719.30546180,106219.77945390,91116.93048970,91090.94652970,88.68312,92.26696,1704069240,7,36,9,1704069300",
      "4,7,682.7841,699.8423,717.7171,70425.29576960,74043.31258790,71879.64687830,68372.24942250,69625.83587570,91.11023,92.26696,1704069300,7,36,7,1704069300",
      "5,4,289.2606,304.3259,415.9926,31057.39900070,43513.72444090,33031.88816700,19157.49300960,29425.85405640,88.68579,105.76362,1704069120,7,36,4,1704069300",
      "6,4,393.7251,409.6265,400.3354,42264.88098280,40262.82639280,40932.19886900,40150.10754980,39236.85821830,92.26696,112.38603,1704069060,7,36,4,1704069300",
      "7,4,388.3991,405.4573,404.7094,41324.30232590,41173.24559730,40868.31972380,39220.17924840,39284.49087270,91.11023,101.36118,1704069300,7,36,4,1704069300",
      "8,2,203.5662,199.8691,196.7383,20232.13910670,19545.02994460,19438.22338520,20127.00230050,20211.13534860,92.26696,111.29919,1704069060,7,36,2,1704069300",
      "9,0,0.0000,0.0000,0.0000,0E-8,0E-8,0E-8,0E-8,0E-8,108.16843,null,1704067620,7,36,0,1704069300"))
  }

  test("M1 chunked (bucket-carry) ranking == single-partition ranking") {
    // a long series across many ts-buckets, deliberately NOT bucket-aligned
    val vals = (0 until 1200).map(i => (7L + i * 60L,
      math.rint((500 + 40 * math.sin(i / 11.0) + (i % 13)) * 10000) / 10000))
    val df = vals.toDF("ts", "value")
    val global = ArEnsemble.fitForecast(df, 8, 4).orderBy("model_id").collect().toSeq
    for (span <- Seq(601L, 3600L, 1000000L)) {
      val chunked = ArEnsemble.fitForecast(df, 8, 4, posBucketSpan = Some(span))
        .orderBy("model_id").collect().toSeq
      assert(chunked == global, s"span $span diverged")
    }
  }

  test("auto-order on a trending series selects d=1 and beats the fixed AR(2)") {
    // linear trend + deterministic bounded wiggle: the un-differenced
    // AR(2) flattens toward the sample mean over the horizon, while a
    // d=1 fit models the (stationary) differenced series — the exact
    // failure mode of the fixed-order ensemble the order search closes
    def v(t: Int): Double =
      BigDecimal(2.5 * t + ((t * 2654435761L) % 1000) / 250.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val series = (1 to 150).map(t => (t.toLong * 60, v(t))).toDF("ts", "value")
    val auto = AutoOrder.selectAndForecast(series, models = 1, horizon = 6)
      .collect()(0)
    assert(auto.getLong(auto.fieldIndex("d")) === 1L,
      s"trending series should select a differenced config, got $auto")
    val ar2 = ArEnsemble.fitForecast(series, models = 1, horizon = 6)
      .collect()(0)
    def mae(row: org.apache.spark.sql.Row): Double =
      (1 to 6).map(k =>
        math.abs(row.getDouble(row.fieldIndex(s"f$k")) - v(150 + k))).sum / 6
    val (am, rm) = (mae(auto), mae(ar2))
    assert(am < rm, s"auto-order MAE $am should beat fixed AR(2) MAE $rm")
  }

  test("auto-order degenerate inputs: constant and short series never throw") {
    // constant series: every design is collinear -> all fits singular ->
    // no config has a non-null holdout MAE -> the member drops from the
    // output (mirrored by the oracle's WHERE mae IS NOT NULL)
    val const = (1 to 40).map(t => (t.toLong * 60, 7.5)).toDF("ts", "value")
    assert(AutoOrder.selectAndForecast(const, models = 1, horizon = 6).count() === 0L)
    // short-but-varying series: the small-p configs still fit; output is
    // at most one row per member and any emitted forecast is finite
    val tiny = (1 to 9).map(t => (t.toLong * 60, (t % 4) * 1.5 + t)).toDF("ts", "value")
    val rows = AutoOrder.selectAndForecast(tiny, models = 2, horizon = 6).collect()
    assert(rows.length <= 2)
    rows.foreach { r =>
      val f1 = r.fieldIndex("f1")
      if (!r.isNullAt(f1)) assert(!r.getDouble(f1).isNaN)
    }
  }

  test("M3 GBT config matches the reference (depth 10, 3n trees, capped)") {
    import graft.models.LatencyGbt
    import org.apache.spark.ml.regression.GBTRegressor
    assert(LatencyGbt.numTrees(5) == 15)
    assert(LatencyGbt.numTrees(2) == 10)    // floor
    assert(LatencyGbt.numTrees(1000) == 60) // documented cap
    val gbt = LatencyGbt.pipeline(15).getStages.last.asInstanceOf[GBTRegressor]
    assert(gbt.getMaxDepth == 10 && gbt.getMaxIter == 45)
  }

  test("GbtLocal: boosted squared-loss fit drives train residuals to ~0") {
    import graft.models.GbtLocal
    // y = a non-linear surface over 2 features, 60 points
    val xs = (0 until 60).map(i =>
      Array((i % 6).toDouble, (i / 6).toDouble)).toArray
    val ys = xs.map(x => x(0) * x(0) - 3 * x(1) + (if (x(0) > 2) 5.0 else 0.0))
    val m = GbtLocal.fit(xs, ys, nTrees = 60)
    // depth-10 trees on 60 points isolate every residual: lr 0.1 over 60
    // stages contracts the train error geometrically (0.9^60 ≈ 0.002)
    val maxErr = xs.zip(ys).map { case (x, y) => math.abs(m.predict(x) - y) }.max
    val span = ys.max - ys.min
    assert(maxErr < 0.01 * span, s"maxErr $maxErr vs span $span")
    // deterministic refit
    val m2 = GbtLocal.fit(xs, ys, nTrees = 60)
    assert(xs.forall(x => m.predict(x) == m2.predict(x)))
    // single-leaf degenerate case: constant prediction = mean
    val flat = GbtLocal.fit(Array(Array(1.0), Array(1.0)), Array(2.0, 4.0), 5)
    assert(math.abs(flat.predict(Array(9.0)) - 3.0) < 1e-12)
  }

  test("GbtLocal.modelSql: rendered CASE trees == Model.predict, bit-exact") {
    import graft.models.GbtLocal
    val m = graft.queries.MlQueries.gbtFixtureModel
    // evaluate the EXACT SQL text the DuckDB oracle uses through Spark's
    // own ANSI parser over an adversarial grid (training points, split
    // boundaries, far extrapolations) and pin it to the Scala traversal
    val sql = GbtLocal.modelSql(m, Seq("so", "thr"))
    val pts = for {
      so <- Seq(1.0, 2.0, 3.0, 4.0, 7.99999, 8.0, 16.0, 64.0)
      thr <- Seq(0.0, 50.0, 75.0, 100.0, 300.0, 400.0, 1e4)
    } yield (so, thr)
    val got = pts.toDF("so", "thr")
      .select(col("so"), col("thr"), expr(sql).as("p"))
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    pts.foreach { case (so, thr) =>
      assert(got((so, thr)) == m.predict(Array(so, thr)),
        s"SQL/Scala mismatch at ($so, $thr)")
    }
    // negative-leaf literals parenthesize: a fit on descending targets
    // (all-negative second-stage residual leaves) still parses and agrees
    val neg = GbtLocal.fit(Array(Array(1.0), Array(2.0), Array(3.0)),
      Array(0.0, -5.0, -50.0), nTrees = 4, maxDepth = 2)
    val negSql = GbtLocal.modelSql(neg, Seq("so"))
    val negGot = Seq(1.0, 2.5, 9.0).toDF("so").select(expr(negSql)).collect()
    Seq(1.0, 2.5, 9.0).zip(negGot).foreach { case (x, r) =>
      assert(r.getDouble(0) == neg.predict(Array(x))) }
  }

  test("M3 prediction grid: deterministic, finite, inside the training span") {
    // the rows-only driver check can't see values; pin what a GBT latency
    // surface must satisfy regardless of the fitted trees
    val run = () => graft.queries.MlQueries.queries("m3_latency_gbt")(
      spark, "/root/testdata/sf0.001")
      .orderBy("scaleout", "avgthr").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    val a = run()
    assert(a.nonEmpty)
    // refit from the identical subsample is bit-identical (seeded MLlib)
    assert(a == run())
    // every (scaleout, lo/mid/hi) grid point scored exactly once
    assert(a.map(g => (g._1, g._2)).distinct.length == a.length)
    assert(a.groupBy(_._1).forall(_._2.length == 3))
    // squared-loss GBT leaves are residual means: predictions stay within
    // the training latency span (no extrapolated blow-ups on the grid)
    val lat = Tables.profiles(spark, "/root/testdata/sf0.001")
      .filter(col("isbckpres") === 0).agg(min("avglat"), max("avglat")).head
    val (lo, hi) = (lat.getDouble(0), lat.getDouble(1))
    assert(a.forall { case (_, _, p) =>
      !p.isNaN && !p.isInfinite && p >= lo - (hi - lo) && p <= hi + (hi - lo) })
  }

  test("M4 robust-log transform is monotone and clamps the low end to 0") {
    val ys = (1 to 200).map(_.toDouble) ++ Seq(1e6, 2e6)
    val df = ys.map(("g", _)).toDF("g", "y")
    val got = Cluster1D.robustLogTransform(df, Seq("g"))
      .orderBy("y").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    // monotone nondecreasing in y
    assert(got.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    // values at/below the scaled clamp map to ln(1) = 0 exactly
    assert(got.head._2 == 0.0)
    // far outliers survive the clamp with a large positive log
    assert(got.last._2 > 5.0)
  }

  test("1-D 2-means finds the optimal split on well-separated clusters") {
    val rnd = new Random(3)
    val lo = Seq.fill(50)(10.0 + rnd.nextInt(100) / 100.0)
    val hi = Seq.fill(30)(500.0 + rnd.nextInt(100) / 100.0)
    val df = rnd.shuffle(lo ++ hi).map(("g", _)).toDF("g", "y")
    val labeled = Cluster1D.twoMeans(df, Seq("g"))
    val stats = Cluster1D.clusterStats(labeled, Seq("g"))
      .orderBy("label").collect()
    assert(stats(0).getInt(1) == 0 && stats(0).getLong(2) == 50)
    assert(stats(1).getInt(1) == 1 && stats(1).getLong(2) == 30)
    assert(stats(0).getDouble(4) < stats(1).getDouble(3)) // max(c0) < min(c1)
  }
}
