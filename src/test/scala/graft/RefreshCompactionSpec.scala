package graft

import graft.pipeline.{DedupOps, RefreshOps, VectorOps}
import graft.queries.CurationQueries
import org.apache.spark.sql.functions._

/** The refresh → compact → refresh roundtrip: `incremental_refresh`'s
  * fates applied to the persisted probe artifacts (MinHash band index +
  * frozen-centroid cell assignment) leave exactly the artifacts a fresh
  * build over the live corpus would produce, and the NEXT refresh
  * probing them sees indexed docs while evicted docs stop answering.
  */
class RefreshCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private lazy val (oldSnap, newSnap) = {
    val (a, b) = CurationQueries.refreshSnapshots(spark, sf)
    (CacheScope.persist(a.select(col("doc_id"), col("text"))),
     CacheScope.persist(b.select(col("doc_id"), col("text"))))
  }
  private lazy val fates =
    CacheScope.persist(SparkEntry.queries("incremental_refresh")(spark, sf))
  // the live indexed corpus after the refresh: unchanged docs (= old
  // minus every fated doc) plus the docs the refresh indexed, at their
  // NEW text
  private lazy val live = CacheScope.persist(
    oldSnap.join(fates.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(newSnap.join(
        fates.filter(col("action") === "indexed").select(col("doc_id")),
        Seq("doc_id"))))

  test("compacted band index equals a fresh build over the live corpus") {
    val initial = DedupOps.minhashBandsRelational(oldSnap)
    val compacted = RefreshOps.compactBandIndex(initial, fates, newSnap)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fresh = DedupOps.minhashBandsRelational(live)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(compacted.nonEmpty)
    assert(compacted === fresh,
      "compaction must leave exactly the live corpus's band index")
  }

  test("compacted cell assignment holds exactly the live ids, indexed at the fates' cells") {
    val emb = Tables.embeddings(spark, sf)
    val oldPred = graft.pipeline.TextOps.mdDraw6On("snapold", col("vec_id")) < 900000L
    val cents = VectorOps.kmeansCentroids(emb.filter(oldPred), targetCellSize = 50)
    val initial = VectorOps.kmeansRanked(emb.filter(oldPred), cents, maxRank = 1)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
    val compacted = RefreshOps.compactCellAssignment(initial, fates)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val liveIds = live.select(col("doc_id")).as[Long].collect().toSet
    // the artifact's id set is exactly the live ids that HAVE a vector
    // under this id space (every doc id here does)
    assert(compacted.keySet === liveIds)
    // indexed docs sit at the cell the refresh assigned (frozen fit)
    val assigned = fates.filter(col("action") === "indexed")
      .select(col("doc_id"), col("cid")).as[(Long, Long)].collect()
    assert(assigned.nonEmpty)
    assigned.foreach { case (id, cid) =>
      assert(compacted.get(id).contains(cid), s"doc $id must sit at cell $cid") }
    // unchanged docs kept their original assignment untouched
    val initialMap = initial.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val touched = fates.select(col("doc_id")).as[Long].collect().toSet
    (compacted.keySet -- touched).foreach { id =>
      assert(compacted(id) == initialMap(id)) }
  }

  test("compacted graph index equals a fresh build over the live corpus; churn keeps edge cardinality tracking the live corpus") {
    // localCheckpoint throughout: the fates/live plans embed the whole
    // incremental_refresh query, and composing them through the graph
    // fold explodes the EXPLAIN tree (observed driver OOM formatting it)
    val emb = Tables.embeddings(spark, sf)
    val fatesL = fates.localCheckpoint()
    val embOld = emb.join(oldSnap.select(col("doc_id").as("vec_id")),
      Seq("vec_id")).localCheckpoint()
    val cents = VectorOps.kmeansCentroids(embOld, targetCellSize = 50)
    val cells0 = VectorOps.kmeansRanked(embOld, cents, maxRank = 1)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .localCheckpoint()
    val edges0 = VectorOps.knnGraphFromCells(embOld, cells0, 3)
      .select(col("src"), col("dst")).localCheckpoint()
    val embLive = emb.join(live.select(col("doc_id").as("vec_id")),
      Seq("vec_id")).localCheckpoint()
    val (cells1, edges1, entries1) =
      RefreshOps.compactGraphIndex(embLive, edges0, cells0, fatesL)
    val got1 = edges1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh1 = VectorOps.knnGraphFromCells(embLive, cells1, 3)
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1.nonEmpty)
    assert(got1 === fresh1,
      "compacted edges must equal a fresh same-cell kNN build over the live corpus")
    // no evicted doc survives in either direction
    val evicted = fatesL.filter(col("action") =!= "indexed")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(evicted.nonEmpty)
    assert(!got1.exists(e => evicted(e._1) || evicted(e._2)),
      "an evicted doc's edge rows must leave the artifact, both directions")
    // the recomputed entry layer draws only from live members
    val liveIds = embLive.select(col("vec_id")).as[Long].collect().toSet
    val ents = entries1.as[Long].collect()
    assert(ents.nonEmpty && ents.forall(liveIds))
    // CHURN: a second eviction round — cardinality keeps tracking the
    // live corpus because compact == fresh holds again over the shrunk set
    val cells1p = cells1.localCheckpoint()
    val edges1p = edges1.localCheckpoint()
    val evict2 = embLive.select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(3L)) === 0L)
    val fates2 = evict2.select(col("vec_id").as("doc_id"))
      .withColumn("action", lit("evicted"))
      .withColumn("cid", lit(null).cast("long"))
      .localCheckpoint()
    val embLive2 = embLive.join(evict2, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val (cells2, edges2, _) =
      RefreshOps.compactGraphIndex(embLive2, edges1p, cells1p, fates2)
    val got2 = edges2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh2 = VectorOps.knnGraphFromCells(embLive2, cells2, 3)
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === fresh2, "round-2 compaction must still equal the fresh build")
    assert(got2.size < got1.size,
      "evicting a third of the corpus must shrink the edge artifact")
  }

  test("the second refresh sees the compacted artifacts: indexed docs answer, evicted ghosts don't") {
    // probes = exact copies of (a) every doc this refresh INDEXED and
    // (b) every doc it EVICTED, under a disjoint id space
    val removedIds = fates.filter(col("status") === "removed")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(removedIds.nonEmpty, "fixture must remove some docs")
    val indexedIds = fates.filter(col("action") === "indexed")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(indexedIds.nonEmpty, "fixture must index some docs")
    val probes = CacheScope.persist(
      oldSnap.filter(col("doc_id").isin(removedIds.toSeq: _*))
        .unionByName(newSnap.filter(col("doc_id").isin(indexedIds.toSeq: _*)))
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    // against the STALE artifacts (the old snapshot) the evicted docs
    // still answer — the ghost the compaction exists to remove
    val stale = DedupOps.probeDupHits(oldSnap, probes)
      .select(col("old_id")).as[Long].collect().toSet
    assert(stale.exists(removedIds), "stale artifacts answer for evicted docs")
    // against the LIVE corpus (whose band index the compacted artifact
    // equals, pinned above): every indexed probe hits, no hit names an
    // evicted doc
    val hits = CacheScope.persist(DedupOps.probeDupHits(live, probes))
    val hitNew = hits.select(col("new_id")).as[Long].collect().toSet
    indexedIds.foreach { id =>
      assert(hitNew.contains(id + 10000000L),
        s"probe of indexed doc $id must hit the refreshed index") }
    val hitOld = hits.select(col("old_id")).as[Long].collect().toSet
    assert(!hitOld.exists(removedIds),
      "no probe may be answered by an evicted doc's stale membership")
  }

  test("compacted gram index equals a fresh build over the live corpus") {
    import graft.pipeline.TextOps
    val initial = TextOps.substrGramIndex(oldSnap)
    val compacted = RefreshOps.compactGramIndex(initial, fates, newSnap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = TextOps.substrGramIndex(live)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted.nonEmpty)
    assert(compacted === fresh,
      "compaction must leave exactly the live corpus's gram index")
  }

  test("gram-index artifact lifecycle: probe sees indexed grams after the fold, evicted ghosts stop covering; serve + stream read the artifact") {
    import graft.pipeline.TextOps
    import spark.implicits._
    // micro-fixture: doc 2 will be evicted, doc 5 arrives indexed
    val run = (i: String) => s"${i}0 ${i}1 ${i}2 ${i}3"
    val old = Seq((1L, s"${run("c")} x0 x1 x2 x3"),
                  (2L, s"${run("e")} x4 x5 x6 x7")).toDF("doc_id", "text")
    val newDocs = Seq((5L, s"${run("n")} x8 x9 xa xb")).toDF("doc_id", "text")
    val microFates = Seq((2L, "evicted"), (5L, "indexed"))
      .toDF("doc_id", "action")
    val index0 = TextOps.substrGramIndex(old, k = 4).localCheckpoint()
    val folded = RefreshOps.compactGramIndex(index0, microFates, newDocs,
      k = 4).localCheckpoint()
    // probes: the evicted doc's run (a ghost after the fold) and the
    // indexed doc's run (covered only after the fold)
    val probes = Seq((10L, run("e")), (11L, run("n"))).toDF("doc_id", "text")
    def dupToks(index: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextOps.exactSubstrProbeWith(index, probes, k = 4)
        .select(col("doc_id"), col("dup_tokens")).as[(Long, Long)]
        .collect().toMap
    val before = dupToks(index0)
    assert(before === Map(10L -> 4L, 11L -> 0L),
      "stale artifact: ghost still covers, indexed doc's grams unknown")
    val after = dupToks(folded)
    assert(after === Map(10L -> 0L, 11L -> 4L),
      "folded artifact: ghost gone, indexed doc's grams cover")
    // serve path: build-if-absent writes the artifact, the fold lands as
    // an overwrite, and the indexed stream picks it up between triggers
    val dir = "target/graft-tmp/gram_index_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    val served = TextOps.exactSubstrServe(old, probes, s"$dir/index", k = 4)
      .select(col("doc_id"), col("dup_tokens")).as[(Long, Long)]
      .collect().toMap
    assert(served === before, "first serve builds and probes the artifact")
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val q = graft.pipeline.CurationStreams.exactSubstrIndexedStream(
        in.toDS().toDF("doc_id", "text"), s"$dir/index", s"$dir/out", k = 4)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(Seq((10L, run("e")), (11L, run("n"))))
      q.processAllAvailable()
      // the compaction fold lands between triggers — same artifact path
      folded.write.mode("overwrite").parquet(s"$dir/index/grams")
      in.addData(Seq((20L, run("e")), (21L, run("n"))))
      q.processAllAvailable()
    } finally q.stop()
    def streamed(batch: Int): Map[Long, Long] =
      spark.read.parquet(s"$dir/out/batch_$batch")
        .select(col("doc_id"), col("dup_tokens")).as[(Long, Long)]
        .collect().toMap
    assert(streamed(0) === Map(10L -> 4L, 11L -> 0L),
      "trigger 0 probes the pre-fold artifact")
    assert(streamed(1) === Map(20L -> 0L, 21L -> 4L),
      "trigger 1 must see the compaction that landed between triggers")
  }
}
