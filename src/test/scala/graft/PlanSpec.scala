package graft

import graft.pipeline.VectorOps

/** Physical-plan guardrails over the ENTIRE query surface.
  *
  * The two join shapes that melt at 100 TB are an un-broadcast
  * CartesianProduct (O(n·m) rows through one task pair) and an accidental
  * BroadcastNestedLoopJoin (non-equi or keyless join that re-scans the
  * broadcast side per row). Some plans here use a nested-loop join ON
  * PURPOSE — always with a provably tiny broadcast side (a 1-row
  * aggregate, an O(candidates) interval list, a fixed query set); those
  * are whitelisted BY NAME with the bound that keeps them safe, and
  * everything else is asserted clean. A new query that accidentally
  * introduces a cartesian shape fails this spec, not the 100 TB run.
  */
class PlanSpec extends SparkSpec {

  /** name -> why its nested-loop join cannot blow up. */
  private val allowedNestedLoop: Map[String, String] = Map(
    "ann_cosine_topk" -> "brute-force baseline BY DESIGN: broadcast side is the fixed query set (vec_id < 10)",
    "ann_recall" -> "contains the same brute-force exact baseline as ann_cosine_topk (fixed query set)",
    "ann_multiprobe_recall" -> "contains the same brute-force exact baseline as ann_cosine_topk (fixed query set)",
    "ann_kmeans_recall" -> "contains the same brute-force exact baseline as ann_cosine_topk (fixed query set)",
    "ann_graph_recall" -> "contains the same brute-force exact baseline as ann_cosine_topk (fixed query set)",
    "m2_capacity" -> "broadcasts a 1-row stats aggregate x 3 alphas back over the training rows",
    "j6_cluster_validity" -> "pairwise validity over the <= 23-row candidate set, both sides bounded",
    "j8_candidate_response_join" -> "non-equi ts join against the <= 23-row candidate set (broadcast side bounded)",
    "m10_backpressure_rule" -> "broadcasts 1-row slope-fit aggregates over the series",
    "m6_twres_decision" -> "subset-enumeration NNLS: 15 candidate subsets x 1-row moment aggregates, all bounded",
    "s11_model_persistence" -> "persists/reloads the <= 23-row model frame; broadcast side is that frame",
    "text_bm25" -> "broadcasts the 1-row corpus-stats aggregate (N, sum_dl, per-term dfs) over the docs",
    "dsir_weights" -> "broadcasts the 1-row (tt, tr) totals aggregate over the 64-row bucket table",
    "hybrid_rrf" -> "contains the bm25 1-row stats broadcast and the brute-force fixed-query-set baseline; fusion itself joins two <= 20-row legs",
    "curation_pipeline" -> "contains the dsir_weights 1-row totals broadcast over the 64-row bucket table",
    "curation_pipeline_html" -> "same curationGates body as curation_pipeline (shared def) over extracted text: the dsir_weights 1-row totals broadcast",
    "ann_pq_recall" -> "contains the exact-L2 brute-force baseline (fixed query set, broadcast side bounded)",
    "isotonic_calibrate" -> "minimax triangle over the B distinct score bins (B = classifier score cardinality, tens): all non-equi joins are bin-frame self-joins, never data-scale",
    "orders_zorder" -> "broadcasts the 1-row min/max stats aggregate back over the rows (the scaling bounds)",
    "priority_sample" -> "broadcasts the 1-row tau threshold aggregate over the <= k-row sample",
    "bloom_prune" -> "broadcasts the 1-row collapsed bit-position array (<= m entries) over the probe scan — the whole point of the filter",
    "ann_rp_recall" -> "contains the exact brute-force baseline AND the RP-sketch full scan, both over the broadcast fixed query set (<= 10 rows)",
    "emb_hard_negatives" -> "same broadcast-anchors/stream-corpus shape as ann_cosine_topk: broadcast side is the fixed anchor set (vec_id < 10)",
    "events_hotkeys" -> "broadcasts the 1-row grand-total aggregate over the k-row (<= 10) top-key frame",
    "mixture_token_budget" -> "broadcasts the 1-row token-total aggregate over the per-source frame (<= |sources| rows)",
    "decontam_semantic_recall" -> "exact leg is the brute-force train×eval baseline BY DESIGN; broadcast side is the benchmark set, bounded by eval-suite size and the sample gate",
    "ann_matryoshka_recall" -> "both legs are the brute-force fixed-query-set baseline (vec_id < 10) — the truncation eval IS a baseline comparison",
    "vocab_coverage_curve" -> "broadcasts the 1-row total-token-count aggregate over the <= 13-row checkpoint frame",
    "mixture_temperature" -> "broadcasts the 1-row temperature-normalizer aggregate over the per-source frame (<= |sources| rows)",
    "quality_ref_ppl" -> "broadcasts the 1-row vocabulary-size aggregate (V) over the transition stream — the text_bm25 corpus-stats shape",
    "dedup_lsh_precision" -> "crossJoin of two 1-row count aggregates (candidates x verified) — both sides single rows by construction",
    "pack_efficiency" -> "crossJoin of two 1-row aggregates (per-doc totals x pack totals)",
    "dedup_cluster_sizes" -> "singleton row = crossJoin of the 1-row corpus total with the 1-row clustered-mass aggregate",
    "m1_acf" -> "broadcasts the 1-row mean and 1-row denominator aggregates over the (bounded, series-sized) centered frame",
    "text_chi2_shift" -> "broadcasts the 16-row top-token frame and the 1-row corpus total over the |sources|-row per-source frame — all sides bounded",
    "dedup_triangles" -> "crossJoin of three 1-row aggregates (edge / triangle / wedge counts)",
    "text_tfidf_terms" -> "broadcasts the 1-row corpus doc-count over the (source, term) score frame — the bm25/chi2 stats-broadcast shape",
    "bpe_fertility" -> "broadcasts the 1-row corpus token/word totals over the |langs|-row per-language frame",
    "quality_ppl_buckets" -> "inherits quality_ref_ppl's 1-row vocabulary-size (V) broadcast — the bucket window adds no new join",
    "quality_sb_score" -> "broadcasts the 1-row train-token-total (N) aggregate over the transition stream — the quality_ref_ppl stats shape",
    "quality_ppl_loo" -> "broadcasts the 1-row vocabulary-size (V) aggregate over the transition stream — the quality_ref_ppl stats shape; all other model tables join by key",
    "ann_sq8_recall" -> "both legs are the brute-force fixed-query-set baseline (vec_id < 10): exact cosine and decoded-SQ8 cosine each crossJoin the <= 10-row broadcast query set",
    "ts_similarity_search" -> "broadcasts the 24-row query window (the offset explode side), its 1-row moment aggregate, and the 1-row series-length aggregate — all query-pattern-sized, never corpus-sized",
    "ann_multiprobe_mrr" -> "contains the brute-force exact top-1 baseline (fixed query set, the ann_cosine_topk shape)",
    "bitext_banded_recall" -> "brute leg is the exhaustive langA x langB semantics reference BY DESIGN (the decontam_semantic_recall honesty-diagnostic convention); broadcast side is the langB slice, language-pair bounded, with the md5 half-sample gate as the at-scale escape hatch; the tail crossJoins are 1-row count aggregates",
    "bitext_cell_recall" -> "same brute-reference leg and 1-row count tail as bitext_banded_recall; the cells-mode leg itself is a bounded kprobes x kcells equi-join",
    "ann_serve_mode" -> "contains the brute-force fixed-query-set baseline (vec_id < 10, the ann_kmeans_recall shape) every mode's recall is measured against, the |Q| x ncells(<= 512) broadcast beam seed, the SQ8 decoded scan over the same broadcast query set (the ann_sq8_recall shape), and 1-row aggregate crossJoins (cell stats / best-recall / pick)",
    // bitext_auto needs no entry: its router diagnostic (which inherits
    // bitext_banded_recall's whitelisted brute reference) executes during
    // the driver-side pick, and the RETURNED plan is only the picked
    // mode's bounded banded/cells equi-join mining
    "ann_index_staleness" -> "two beam serves plus the same brute baseline and 1-row aggregate crossJoins (counts x two recall legs) — a periodic diagnostic, every non-equi side query-sample- or single-row-bounded",
    "dedup_substr_k_sweep" -> "crossJoin of the 4-row per-k trim-mass frame with the 1-row corpus-totals aggregate (n_docs, tot_tokens) — both sides grid/single-row bounded",
    "ann_serve_pick_roundtrip" -> "the RETURNED plan is the cached picked-mode serve; when the pick is a full-scan compressed mode (sq8/matryoshka — the bytes-cheapest eligible on this fixture) it crossJoins the <= 10-row broadcast query set, the ann_sq8_recall shape; the diagnostic with its whitelisted brute leg runs during the driver-side persist, not in the returned plan")

  /** Every query of the surface built ONCE for both whole-surface guards:
    * (name, the executed plan's text or "PLANNING FAILED: …", the
    * window expressions of each unpartitioned window in the optimized
    * plan). Building a query runs real jobs wherever it checkpoints or
    * collects eagerly, so this build is most of the spec's time. */
  private lazy val surface: Seq[(String, String, Seq[String])] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe =
        try Right(fn(spark, sf).queryExecution)
        catch { case e: Throwable => Left(e) }
      val plan = qe.flatMap { q =>
        try Right(q.executedPlan.toString) catch { case e: Throwable => Left(e) }
      }.fold(e => s"PLANNING FAILED: ${e.getMessage}", identity)
      // planning failures are asserted empty by the join guard
      val wins = qe.toOption.toSeq.flatMap { q =>
        try q.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w.windowExpressions.mkString(",") }
        catch { case _: Throwable => Nil }
      }
      (name, plan, wins)
    }
  }

  /** The join-shape gate over (name, executed plan) pairs: no planning
    * failure, no CartesianProduct, no BroadcastNestedLoopJoin outside
    * the whitelist, and no whitelist entry whose plan no longer needs it. */
  private def assertJoinShapes(results: Seq[(String, String)]): Unit = {
    val planningFailures = results.collect {
      case (n, p) if p.startsWith("PLANNING FAILED") => s"$n: $p" }
    assert(planningFailures.isEmpty, planningFailures.mkString("\n"))
    // CartesianProduct (non-broadcast O(n*m)) is never acceptable
    val cartesian = results.collect {
      case (n, p) if p.contains("CartesianProduct") => n }
    assert(cartesian.isEmpty, s"CartesianProduct in: $cartesian")
    // nested-loop joins only where the broadcast side is proven tiny
    val nlj = results.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !allowedNestedLoop.contains(n) => n }
    assert(nlj.isEmpty,
      s"unvetted BroadcastNestedLoopJoin in: $nlj — broadcast side must be bounded; add a justified whitelist entry")
    // keep the whitelist honest: drop entries whose plans no longer need them
    val stale = allowedNestedLoop.keySet.filter { n =>
      results.find(_._1 == n).exists(r => !r._2.contains("BroadcastNestedLoopJoin")) }
    assert(stale.isEmpty, s"whitelist entries no longer needed: $stale")
  }

  test("no query plan contains an unbounded cartesian or accidental nested-loop join") {
    assertJoinShapes(surface.map { case (n, p, _) => (n, p) })
  }

  test("the join gate fails a planted un-whitelisted crossJoin of two table scans") {
    val dir = "target/graft-tmp/planspec_planted"
    for (t <- Seq("a", "b")) spark.range(1000).write.mode("overwrite").parquet(s"$dir/$t")
    val planted = spark.read.parquet(s"$dir/a").crossJoin(spark.read.parquet(s"$dir/b"))
    val e = intercept[org.scalatest.exceptions.TestFailedException](
      assertJoinShapes(Seq("planted_scan_cross_join" -> planted.queryExecution.executedPlan.toString)))
    assert(e.getMessage.contains("planted_scan_cross_join"), e.getMessage)
  }

  /** name -> the bound that keeps its empty-partition-spec window safe.
    * An EMPTY partitionSpec means Spark moves the window's entire input
    * through ONE task with a full sort — the exact shape that melted
    * vocab_coverage_curve before round 11 (a 10^8-row type table through
    * one partition at 100 TB). The repo's idiom for deliberately-bounded
    * single-partition windows is a non-foldable `col % 1` key
    * (TimeSeriesOps.scala chunk carry, EventOps.hotKeys) — it keeps the
    * spec NON-empty so intent is machine-checkable here: every empty
    * spec must be justified BY NAME with the bound, and anything else
    * fails the spec, not the 100 TB run. */
  private val allowedGlobalWindow: Map[String, String] = Map.empty

  test("no query plans an unpartitioned window over an unbounded relation") {
    val hits = surface.collect {
      case (name, _, wins) if wins.nonEmpty => name -> wins.mkString("; ") }
    val unvetted = hits.filterNot { case (n, _) => allowedGlobalWindow.contains(n) }
    assert(unvetted.isEmpty,
      s"unpartitioned (single-task, full-sort) window in: ${unvetted.map(_._1)} — " +
        "bound the input first (top-k limit / % 1 idiom) or add a justified whitelist entry")
    // keep the whitelist honest: drop entries whose plans no longer need them
    val stale = allowedGlobalWindow.keySet -- hits.map(_._1).toSet
    assert(stale.isEmpty, s"global-window whitelist entries no longer needed: $stale")
  }

  test("rank-filter top-k queries get map-side WindowGroupLimit pruning") {
    // Spark's InferWindowGroupLimit turns `row_number() <= k` filters
    // into partial (pre-shuffle) + final group limits — the built-in
    // half of the repo's skew story: each map task forwards at most k
    // rows per key it sees, so a hot key's reduce input is bounded by
    // maps x k even BEFORE the hand-bucketed two-phase bounds it by
    // fanout x k. Pin that the optimization actually fires on the
    // representative top-k surfaces (a conf/threshold regression or a
    // rank-expression rewrite that breaks the pattern fails here, not
    // at 100 TB).
    val sf = "/root/testdata/sf0.001"
    val expectGroupLimit = Seq("text_topk_per_source", "text_tfidf_terms",
      "sample_cluster_balanced")
    val missing = expectGroupLimit.filter { name =>
      !SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString.contains("WindowGroupLimit")
    }
    assert(missing.isEmpty,
      s"no WindowGroupLimit in: $missing — rank-limit filter no longer " +
        "recognized; check the filter sits directly on the row_number " +
        "column and spark.sql.optimizer.windowGroupLimitThreshold")
  }

  test("IVF search construction with a threaded count runs zero jobs") {
    // Building a search plan must not execute anything: with knownN
    // supplied, cellBits needs no count() action, so the only job is the
    // caller's terminal action. A regression re-introducing a per-call
    // count() (or any other eager action) fails this guard.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = 500L
      VectorOps.ivfMultiprobeTopK(emb, k = 3, knownN = n)
      VectorOps.ivfTopK(emb, k = 3, knownN = n)
      // drain the async listener bus DETERMINISTICALLY before asserting:
      // a fixed sleep can let a leaked job's JobStart arrive after the
      // assertion on a loaded box (false negative). listenerBus is
      // private[spark], so reach it reflectively; fall back to a sleep
      // only if the internals ever move.
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .map(_.invoke(bus))
          .getOrElse {
            val m = bus.getClass.getMethods
              .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1).get
            m.invoke(bus, java.lang.Long.valueOf(10000L))
          }
      } catch { case _: Throwable => Thread.sleep(1000) }
      assert(jobs.get() == 0,
        s"plan construction launched ${jobs.get()} jobs — an eager action leaked in")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("events_mad_outliers medians never sort a full group through one window") {
    // The scale-safe median is histogram + refine: every window in the
    // plan must operate on the bin relation or the median-bin-joined
    // subset (both carry the __bin column). A regression back to
    // `row_number() over (partition by event_type order by value)` on the
    // raw rows would plan a Window whose subtree never mentions __bin.
    // (Logical plan, not executedPlan: AQE wraps the physical tree and
    // hides WindowExec from collect until execution.)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = SparkEntry.queries("events_mad_outliers")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected histogram/refine windows in the plan")
    val fullSort = windows.filterNot(_.child.toString.contains("__bin"))
    assert(fullSort.isEmpty,
      s"window over non-binned input (full per-key sort): ${fullSort.map(_.windowExpressions).mkString("; ")}")
  }
}
