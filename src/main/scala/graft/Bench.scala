package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()
    // Warm up the JVM/codegen/parquet-footer paths once so the first timed
    // query doesn't absorb session startup costs. A failed warm-up must not
    // kill the run — per-query failures degrade to -1 sentinels below.
    try {
      SparkEntry.noop(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count())
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    // Pre-fit the session-lifetime model fixtures (BPE full-corpus +
    // train-split tokenizers, PCA) HERE so their one-time fit cost lands
    // in warm-up instead of on whichever fixture-consuming query the
    // queries map's hash order happens to run first — the r11 committed
    // bench charged the full-corpus BPE fit to bpe_vocab_roundtrip purely
    // by run order, a 3x phantom "regression" on an unchanged query.
    // The fit cost does NOT vanish into warm-up silently: it is timed and
    // reported as its own fixture_warmup_sec line in both JSON outputs,
    // so cross-round totals stay comparable (the r12 headline drop was
    // partly this accounting move — now the moved cost stays visible).
    val tFix0 = System.nanoTime()
    // SPARK_GRAFT_SKIP_FIXTURES=1 skips the BPE/PCA fixture fits: scale
    // probes of non-fixture queries (e.g. the URL funnel on a 100x /tmp
    // corpus) would otherwise pay a corpus-sized tokenizer fit they
    // never read. fixture_warmup_sec then reports ~0 honestly.
    val skipFixtures = sys.env.get("SPARK_GRAFT_SKIP_FIXTURES").contains("1")
    try if (!skipFixtures) {
      val docs = Tables.documents(spark, sfDir)
      graft.pipeline.BpeFixture.learnedState(docs, sfDir, nMerges = 20)
      val sp = graft.pipeline.TextOps.splitCol(valFrac = 0.1, testFrac = 0.05)
      graft.pipeline.BpeFixture.learnedState(
        docs.filter(sp === "train"), s"train@$sfDir", nMerges = 20)
      val emb = Tables.embeddings(spark, sfDir)
      graft.pipeline.PcaFixture.fitted(emb, sfDir, 8)
    } catch { case e: Throwable => System.err.println(s"[bench] fixture warmup failed: $e") }
    val fixtureSec = (System.nanoTime() - tFix0) / 1e9
    // optional trailing args: bench only these queries (local iteration)
    val only = args.toSet
    // Each query runs REPS times and reports the per-query MIN: single-run
    // timings in this shared sandbox move by up to ±26 s on identical code
    // (GC, page cache, codegen jitter), which makes real 2x regressions
    // undetectable. The min of two runs is stable enough to trend.
    // a malformed env value falls back to the default instead of killing
    // the whole run with a NumberFormatException before any query runs
    val repsEnv = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
    val reps = repsEnv.getOrElse(2).max(1)
    // DIAGNOSTIC TIER: recall/honesty/router legs run once per corpus in
    // production (per index build or compaction cycle, never hot-path),
    // so the default bench bills them at reps=1 while operator queries
    // keep the min-of-2 trend protocol. An EXPLICIT SPARK_GRAFT_BENCH_REPS
    // overrides the tier for every query — the FLOOR protocol's
    // min-of-6/12 isolated runs must hit diagnostics too. The tier ships
    // per query in bench.json so cross-round trend readers can tell a
    // one-rep diagnostic reading from a min-of-2 operator reading.
    val diagQueries: Set[String] = Set(
      "ann_recall", "ann_kmeans_recall", "ann_multiprobe_recall",
      "ann_multiprobe_mrr", "ann_pq_recall", "ann_rp_recall",
      "ann_sq8_recall", "ann_matryoshka_recall", "ann_graph_recall",
      "ann_serve_mode", "ann_serve_pick_roundtrip", "ann_index_staleness",
      "bitext_banded_recall", "bitext_cell_recall", "bitext_auto",
      "dedup_lsh_recall", "dedup_lsh_recall_sampled", "dedup_lsh_precision",
      "dedup_threshold_sweep", "dedup_substr_k_sweep",
      "decontam_semantic_recall", "lsh_planner",
      // per-refresh-cycle maintenance folds (graph + gram-index
      // compaction), not hot-path queries — the ann_index_staleness
      // cadence
      "refresh_compact_graph", "refresh_compact_grams",
      // bitext router honesty legs (the sampled variant gates the brute
      // leg but still measures both chains)
      "bitext_auto_sampled")
    def repsOf(name: String): Int =
      repsEnv.map(_.max(1))
        .getOrElse(if (diagQueries(name)) 1 else reps)
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val times = (1 to repsOf(name)).map { _ =>
        // -1 marks a failed query so consumers can't mistake it for a timing
        SparkEntry.runQuery(spark, "bench", name, fn(spark, sfDir))(SparkEntry.noop)
          .getOrElse(-1.0)
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def qmap(rs: Iterable[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // total sums ONLY successful timings — summing the -1 sentinels would
    // make a round with broken queries look FASTER than a clean one
    val okTimes = results.values.filter(_ >= 0)
    val total = if (okTimes.nonEmpty) okTimes.sum else 0.0
    val nFailed = results.values.count(_ < 0)
    // stdout gets a COMPACT line: the driver captures only the last
    // ~2000 bytes of output (r2's and r3's full per-query maps were
    // front-truncated there and parsed as null), so print the total plus
    // the slowest 12 queries and point at bench.json for the full map.
    val slowest = results.toSeq.sortBy(-_._2).take(12)
    val tiers = results.keys.map { n =>
      s"\"" + n + "\":\"" + (if (repsOf(n) == 1) "diag" else "op") + "\""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$nFailed,"n":${results.size},"reps":$reps,"fixture_warmup_sec":${r3(fixtureSec)},"slowest":${qmap(slowest)},"full":"bench.json","sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$nFailed,"reps":$reps,"fixture_warmup_sec":${r3(fixtureSec)},"tier":$tiers,"queries":${qmap(results)},"sf":"$sfDir"}"""
    println(line)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // The compact line also lands verbatim in a fixed side-file so the
      // driver can read it even if log interleaving mangles stdout.
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_line.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    spark.stop()
    // Repeat the compact line AFTER spark.stop(): Spark's shutdown logging
    // goes to stderr, so this print is the final stdout line of the run
    // (build.sbt's StdoutOutput + showSuccess=false keep sbt from
    // prefixing it or appending a "[success]" line after it).
    println(line)
    System.out.flush()
  }
}
