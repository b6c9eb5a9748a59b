package graft

import graft.pipeline.VectorOps
import graft.pipeline.CurationStreams
import org.apache.spark.sql.functions._

/** Graph-ANN serving (graphBeamTopK): the HNSW-shape beam search over
  * the same-cell kNN graph with a per-cell entry layer. Pins the
  * properties the oracle replay depends on — determinism, bounded
  * output shape — and the quality property that justifies the operator:
  * on clustered data the beam reaches the true neighborhood.
  */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  /** Same clustered fixture family as KmeansIvfSpec: 8 separated
    * direction clusters × 30 members, dim 64. */
  private lazy val clustered = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f))
    val rows = for {
      c <- centers.indices
      m <- 0 until 30
    } yield {
      val v = centers(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.4f)
      ((c * 30 + m).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("beam search is deterministic and returns at most k ranked rows per query") {
    val r1 = VectorOps.graphBeamTopK(clustered, queryMaxId = 5, k = 3)
      .collect().map(_.toSeq).toSet
    val r2 = VectorOps.graphBeamTopK(clustered, queryMaxId = 5, k = 3)
      .collect().map(_.toSeq).toSet
    assert(r1 == r2, "two runs must be bit-identical")
    val byQ = r1.groupBy(_.head)
    assert(byQ.forall(_._2.size <= 3))
    assert(r1.forall(r => r.last.asInstanceOf[Int] <= 3))
    // a result never returns the query itself
    assert(r1.forall(r => r.head != r(1)))
  }

  test("per-cell entries reach every graph component: recall is high on clustered data") {
    val rec = VectorOps.graphBeamRecall(clustered, queryMaxId = 10, k = 3)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(rec >= 0.8,
      s"beam from per-cell entries should find same-cluster neighbors, got $rec")
  }

  test("persisted-index round-trip serves exactly the direct beam search") {
    val direct = VectorOps.graphBeamTopK(clustered, queryMaxId = 5, k = 3)
      .collect().map(_.toSeq).toSet
    val served = VectorOps.graphBeamServe(clustered, queryMaxId = 5, k = 3,
        indexDir = "target/graft-tmp/graph_index_spec")
      .collect().map(_.toSeq).toSet
    assert(served === direct)
    // steady state: the index is found on disk (no rebuild) and still
    // serves the identical result
    val steady = VectorOps.graphBeamServe(clustered, queryMaxId = 5, k = 3,
        indexDir = "target/graft-tmp/graph_index_spec", rebuildBase = false)
      .collect().map(_.toSeq).toSet
    assert(steady === direct)
  }

  test("incremental append: new nodes are reachable, steady-state equals the rebuild") {
    val dir = "target/graft-tmp/graph_append_spec"
    val split = 200L // base = first 200 vectors, batch = last 40
    val appended = VectorOps.graphBeamAppend(clustered, split,
        queryMaxId = 10, k = 3, indexDir = dir)
      .collect().map(_.toSeq).toSet
    // queries 0..9 live in cluster 0 (vectors 0..29); the appended
    // batch (200..239) is clusters 6-7 — far away — so top-3 stays
    // same-cluster, but the serve must STILL be deterministic and the
    // steady-state no-rebuild call identical
    val steady = VectorOps.graphBeamAppend(clustered, split,
        queryMaxId = 10, k = 3, indexDir = dir, rebuildBase = false)
      .collect().map(_.toSeq).toSet
    assert(steady === appended)
    // reachability of appended nodes: query FROM the new batch finds
    // its own same-cluster neighbors (all of which are also new) via
    // the recomputed entry layer + its appended edges
    val fromNew = VectorOps.graphBeamAppend(clustered, split,
        queryMaxId = 240, k = 3, indexDir = dir, rebuildBase = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 >= 210L)
    assert(fromNew.nonEmpty)
    assert(fromNew.exists(_._2 >= split),
      "appended nodes must be reachable as results")
    // same-cluster neighbors ARE found, but append-only adjacency
    // degrades appended-region recall by design: the frozen 4-cell
    // quantizer merges the 8 clusters AND base nodes' edge lists never
    // point at new nodes (only the back-links route in), so purity sits
    // well below a fresh rebuild's — the measured reason production
    // graph serves rebuild periodically (documented on graphBeamAppend)
    val sameFrac = fromNew.count { case (q, v) => v / 30 == q / 30 }
      .toDouble / fromNew.size
    assert(sameFrac >= 0.2,
      s"new-batch queries must find same-cluster neighbors, got $sameFrac")
  }

  test("streaming graph append: one-trigger stream equals graphBeamAppend, " +
    "stateless, per-node edge budget holds across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = "target/graft-tmp/graph_ingest_spec"
    val split = 200L
    // a STALE CHECKPOINT makes a MemoryStream skip the already-committed
    // batch ids, leaving last run's artifacts in place — unlike the
    // idempotent-overwrite batch dirs, the streaming fixture must start
    // clean (this is a spec-reuse concern only: a production stream
    // WANTS the checkpoint to dedupe replays)
    def clean(d: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(d))
    }
    clean(dir)
    // batch append writes the base artifacts (centroids/cells/edges)
    // AND is the expected serve result
    val expected = VectorOps.graphBeamAppend(clustered, split,
        queryMaxId = 10, k = 3, indexDir = dir)
      .collect().map(_.toSeq).toSet
    // stream the same 40-vector tail in ONE trigger
    val tail = clustered.filter(col("vec_id") >= split)
      .as[(Long, Seq[Float])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float])]
    val q = CurationStreams.graphIngestStream(
        in.toDS().toDF("vec_id", "embedding"), clustered, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(tail)
      q.processAllAvailable()
      // stateless by construction: the index state lives in the
      // artifact dirs, not a state store
      assert(q.lastProgress.stateOperators.isEmpty,
        "graph ingest must not book keyed state")
    } finally q.stop()
    val served = VectorOps.graphBeamServeStreamed(clustered, dir,
        queryMaxId = 10, k = 3)
      .collect().map(_.toSeq).toSet
    assert(served === expected,
      "one-trigger streamed append must serve exactly the batch append")
    // two-trigger variant into a fresh dir: each trigger's edges see
    // the membership as of that trigger; every streamed node still gets
    // exactly graphK outgoing edges and stays reachable
    val dir2 = "target/graft-tmp/graph_ingest_spec2"
    clean(dir2)
    VectorOps.graphBeamAppend(clustered, split, queryMaxId = 10, k = 3,
      indexDir = dir2).collect()
    val in2 = MemoryStream[(Long, Seq[Float])]
    val q2 = CurationStreams.graphIngestStream(
        in2.toDS().toDF("vec_id", "embedding"), clustered, dir2)
      .option("checkpointLocation", s"$dir2/ckpt").start()
    try {
      val (t1, t2) = tail.partition(_._1 < 220L)
      in2.addData(t1); q2.processAllAvailable()
      in2.addData(t2); q2.processAllAvailable()
    } finally q2.stop()
    val perNode = spark.read.parquet(s"$dir2/edges_stream/*")
      .groupBy(col("src")).count().as[(Long, Long)].collect().toMap
    assert((200L until 240L).forall(v => perNode.get(v).contains(3L)),
      s"every streamed node gets exactly graphK=3 edges, got $perNode")
    val fromNew = VectorOps.graphBeamServeStreamed(clustered, dir2,
        queryMaxId = 240, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 >= 210L)
    assert(fromNew.exists(_._2 >= split),
      "streamed nodes must be reachable as results across triggers")
  }

  private def cleanDir(d: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(d))
  }

  test("count-triggered fold bounds the streamed-dir scan: dirs collapse, serve identical before/after") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val split = 200L
    val tail = clustered.filter(col("vec_id") >= split)
      .as[(Long, Seq[Float])].collect().toSeq
    val (t1, t2) = tail.partition(_._1 < 220L)
    def ingest(dir: String, foldEvery: Int): Unit = {
      cleanDir(dir)
      graft.pipeline.VectorOps.graphBeamAppend(clustered, split,
        queryMaxId = 10, k = 3, indexDir = dir).collect()
      val in = MemoryStream[(Long, Seq[Float])]
      val q = CurationStreams.graphIngestStream(
          in.toDS().toDF("vec_id", "embedding"), clustered, dir,
          foldEvery = foldEvery)
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        in.addData(t1); q.processAllAvailable()
        in.addData(t2); q.processAllAvailable()
      } finally q.stop()
    }
    val dirNo = "target/graft-tmp/graph_fold_none_spec"
    val dirFold = "target/graft-tmp/graph_fold_spec"
    ingest(dirNo, foldEvery = 100) // never folds: 2 batch dirs stay
    ingest(dirFold, foldEvery = 2) // trigger 2 folds both into fold_1
    def subdirs(d: String): Seq[String] =
      new java.io.File(d).listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(subdirs(s"$dirNo/cells_stream").sorted == Seq("batch_0", "batch_1"))
    assert(subdirs(s"$dirFold/cells_stream") == Seq("fold_1"),
      "the fold must leave exactly one compacted dir")
    assert(subdirs(s"$dirFold/edges_stream") == Seq("fold_1"))
    val servedNo = VectorOps.graphBeamServeStreamed(clustered, dirNo,
      queryMaxId = 10, k = 3).collect().map(_.toSeq).toSet
    val servedFold = VectorOps.graphBeamServeStreamed(clustered, dirFold,
      queryMaxId = 10, k = 3).collect().map(_.toSeq).toSet
    assert(servedFold === servedNo,
      "folding the streamed dirs must not change the served result")
  }

  test("streamed serve falls back to base-only when no streamed batch has landed") {
    val dir = "target/graft-tmp/graph_fallback_spec"
    cleanDir(dir)
    val expected = VectorOps.graphBeamAppend(clustered, 200L,
        queryMaxId = 10, k = 3, indexDir = dir)
      .collect().map(_.toSeq).toSet
    // no *_stream dirs exist: the serve must not throw, and must serve
    // the base artifacts (which here include the appended cells_new only
    // through the base build, so compare against a base-only search)
    val served = VectorOps.graphBeamServeStreamed(clustered, dir,
      queryMaxId = 10, k = 3).collect().map(_.toSeq).toSet
    assert(served.nonEmpty)
    assert(expected.nonEmpty) // appended serve ran; base dirs are in place
  }

  test("refresh-fate graph compaction over the persisted dirs: dirs fold == frame fold, streamed dirs drop, serve excludes evicted docs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.RefreshOps
    val dir = "target/graft-tmp/graph_compact_dirs_spec"
    cleanDir(dir)
    val split = 200L
    VectorOps.graphBeamAppend(clustered, split, queryMaxId = 10, k = 3,
      indexDir = dir).collect()
    val tail = clustered.filter(col("vec_id") >= split)
      .as[(Long, Seq[Float])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float])]
    val q = CurationStreams.graphIngestStream(
        in.toDS().toDF("vec_id", "embedding"), clustered, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try { in.addData(tail); q.processAllAvailable() } finally q.stop()
    // fates: evict base nodes 0..2 and streamed nodes 210/215
    val evicted = Seq(0L, 1L, 2L, 210L, 215L)
    val fates = evicted.toDF("doc_id")
      .withColumn("action", lit("evicted"))
      .withColumn("cid", lit(null).cast("long"))
    val embLive = CacheScope.persist(
      clustered.filter(!col("vec_id").isin(evicted: _*)))
    // expected = the FRAME-level fold over the same assembled artifacts,
    // materialized before the dirs are overwritten
    val cellsPre = spark.read.parquet(s"$dir/cells")
      .unionByName(spark.read.parquet(s"$dir/cells_stream/*"))
    val streamedE = spark.read.parquet(s"$dir/edges_stream/*")
    val edgesPre = spark.read.parquet(s"$dir/edges")
      .unionByName(streamedE)
      .unionByName(streamedE.select(col("dst").as("src"), col("src").as("dst")))
    val (expCells, expEdges, expEntries) =
      RefreshOps.compactGraphIndex(embLive, edgesPre, cellsPre, fates)
    val expC = expCells.collect().map(_.toSeq).toSet
    val expE = expEdges.collect().map(_.toSeq).toSet
    val expN = expEntries.collect().map(_.toSeq).toSet
    RefreshOps.compactGraphIndexDirs(embLive, dir, fates)
    assert(!new java.io.File(s"$dir/cells_stream").exists(),
      "the compaction must absorb the streamed cell dirs")
    assert(!new java.io.File(s"$dir/edges_stream").exists())
    assert(spark.read.parquet(s"$dir/cells").collect().map(_.toSeq).toSet === expC)
    assert(spark.read.parquet(s"$dir/edges").collect().map(_.toSeq).toSet === expE)
    assert(spark.read.parquet(s"$dir/entries").collect().map(_.toSeq).toSet === expN)
    // the base-only fallback now serves the compacted index: no evicted
    // doc can appear as a result
    val served = VectorOps.graphBeamServeStreamed(embLive, dir,
      queryMaxId = 10, k = 3).collect()
    assert(served.nonEmpty)
    val evictedSet = evicted.toSet
    assert(served.forall(r => !evictedSet(r.getLong(1))),
      "an evicted doc must stop answering after the graph compaction")
  }

  test("fused router beam legs equal solo beam searches at every budget") {
    // the router runs its three (beam, rounds) budgets as legs of ONE
    // fused search (graphBeamSearchLegs); this pins each leg's measured
    // recall to a from-scratch solo graphBeamTopK at the same budget —
    // the fusion must be invisible in the evidence rows
    val diag = VectorOps.serveModeDiagnostic(clustered, queryMaxId = 5, k = 3)
      .filter(col("mode").startsWith("beam_"))
      .select(col("mode"), col("mean_recall")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = VectorOps.bruteForceTopK(clustered, queryMaxId = 5, k = 3)
      .select(col("q_id"), col("vec_id"))
    VectorOps.AnnServeBudgets.foreach { case (b, r) =>
      val solo = VectorOps.graphBeamTopK(clustered, queryMaxId = 5, k = 3,
        beam = b, rounds = r).select(col("q_id"), col("vec_id"))
      val hits = solo.join(exact, Seq("q_id", "vec_id")).count()
      val nq = exact.select(col("q_id")).distinct().count()
      val rec = BigDecimal(hits.toDouble / (nq * 3) + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(diag(s"beam_${b}x$r") == rec,
        s"budget ($b,$r): fused leg ${diag(s"beam_${b}x$r")} != solo $rec")
    }
  }

  test("fused beam search rejects duplicate leg names, naming the leg") {
    // every join and window of the fused search keys on the leg name,
    // so two same-named legs would merge their frontiers silently
    val none = clustered.limit(0) // rejected before any frame is read
    val legs = Seq(VectorOps.BeamLeg("beam_8x3", none, none, 8, 3),
      VectorOps.BeamLeg("beam_16x4", none, none, 16, 4),
      VectorOps.BeamLeg("beam_8x3", none, none, 32, 6))
    val e = intercept[IllegalArgumentException](
      VectorOps.graphBeamSearchLegs(clustered, legs, queryMaxId = 5, k = 3))
    assert(e.getMessage.contains("duplicate leg name(s) 'beam_8x3'"), e.getMessage)
    assert(!e.getMessage.contains("beam_16x4"), e.getMessage)
  }

  test("annServeAuto serves exactly what the router picked, on both corpus shapes") {
    def directOf(emb: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val pick = VectorOps.serveModeDiagnostic(emb, queryMaxId = 5, k = 3)
        .filter(col("picked"))
        .select(col("mode"), col("beam"), col("rounds")).head()
      val direct = pick.getString(0) match {
        case "ivf_scan" =>
          VectorOps.ivfKmeansTopK(emb, k = 3).filter(col("q_id") < 5)
        case "ivf_pq" => VectorOps.ivfPqTopK(emb, queryMaxId = 5, k = 3)
        case "sq8_scan" => VectorOps.sq8TopK(emb, queryMaxId = 5, k = 3)
        case m if m.startsWith("mat") =>
          VectorOps.matryoshkaTopK(emb, queryMaxId = 5, k = 3,
            m.stripPrefix("mat").stripSuffix("_scan").toInt)
        case _ => VectorOps.graphBeamTopK(emb, queryMaxId = 5, k = 3,
          beam = pick.getLong(1).toInt, rounds = pick.getLong(2).toInt)
      }
      direct.collect().map(_.toSeq).toSet
    }
    // clustered fixture
    val autoC = VectorOps.annServeAuto(clustered, queryMaxId = 5, k = 3)
      .collect().map(_.toSeq).toSet
    assert(autoC.nonEmpty)
    assert(autoC === directOf(clustered))
    // the weakly-clustered real corpus
    val noise = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val autoN = VectorOps.annServeAuto(noise, queryMaxId = 5, k = 3)
      .collect().map(_.toSeq).toSet
    assert(autoN.nonEmpty)
    assert(autoN === directOf(noise))
  }

  test("persisted pick: cached serve == fresh diagnostic serve, no pick artifact → rebuild, staleness fire invalidates") {
    val dir = "target/graft-tmp/serve_pick_spec"
    cleanDir(dir)
    val noise = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // persist writes artifacts + pick and serves the picked mode
    val persisted = VectorOps.annServePersist(noise, queryMaxId = 5, k = 3,
      indexDir = dir).collect().map(_.toSeq).toSet
    val fresh = VectorOps.annServeAuto(noise, queryMaxId = 5, k = 3)
      .collect().map(_.toSeq).toSet
    assert(persisted === fresh, "persist path serves what the router picks")
    assert(new java.io.File(s"$dir/pick").exists, "pick artifact written")
    // steady state: cached serve reads the pick, never re-runs the
    // diagnostic, and equals the fresh-diagnostic serve
    val cached = VectorOps.annServeCached(noise, queryMaxId = 5, k = 3,
      indexDir = dir).collect().map(_.toSeq).toSet
    assert(cached === fresh, "cached-pick serve == fresh-diagnostic serve")
    // the pick evidence frame carries every measured mode + one winner
    val evidence = spark.read.parquet(s"$dir/pick")
    assert(evidence.count() >= 5)
    assert(evidence.filter(col("picked")).count() === 1)
    // staleness fire: a tiny base split makes appended_frac cross the
    // rebuild trigger, which must delete the pick; the next cached call
    // falls back to a full re-persist (pick reappears, serve unchanged
    // because the corpus itself didn't change)
    val fired = VectorOps.annServeInvalidateIfStale(noise, splitId = 5,
      queryMaxId = 5, k = 3, indexDir = dir, stalenessDir = s"$dir/stale")
    assert(fired, "appended_frac far over the trigger must fire")
    assert(!new java.io.File(s"$dir/pick").exists, "fired staleness deletes the pick")
    val rebuilt = VectorOps.annServeCached(noise, queryMaxId = 5, k = 3,
      indexDir = dir).collect().map(_.toSeq).toSet
    assert(rebuilt === fresh)
    assert(new java.io.File(s"$dir/pick").exists, "fallback re-persists the pick")
  }

  test("the beam never fabricates candidates: results ⊆ entries ∪ graph targets") {
    import org.apache.spark.sql.expressions.Window
    val cents = VectorOps.kmeansCentroids(clustered)
    val cells = VectorOps.kmeansRanked(clustered, cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
    val entries = cells.withColumn("dr", VectorOps.vecDraw("gent"))
      .withColumn("re", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("dr"), col("vec_id"))))
      .filter(col("re") === 1).select(col("vec_id")).as[Long].collect().toSet
    val dsts = VectorOps.knnGraph(clustered, k = 3)
      .select(col("dst")).as[Long].collect().toSet
    val res = VectorOps.graphBeamTopK(clustered, queryMaxId = 5, k = 3)
      .select(col("vec_id")).as[Long].collect()
    assert(res.nonEmpty)
    assert(res.forall(v => entries.contains(v) || dsts.contains(v)),
      "every result must be an entry point or a graph edge target")
  }
}
