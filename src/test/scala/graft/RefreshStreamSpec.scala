package graft

import graft.pipeline.VectorOps
import graft.pipeline.CurationStreams
import org.apache.spark.sql.functions._

/** The streaming incremental-refresh twin: gates, band-state near-dup
  * probe, frozen-centroid assignment — and the behaviors the
  * append-only twins can't express: DELETION evicts a doc from its
  * bands' member sets, a RE-UPSERT with changed text evicts the stale
  * membership (no ghosts), and same-trigger multi-events resolve to
  * the max-seq state.
  */
class RefreshStreamSpec extends SparkSpec {
  import spark.implicits._

  // gate-passing texts: 24 words, 2 distinct en stopwords, mean word
  // length inside [4,5], all distinct
  private val textA =
    ("the" +: "of" +: (0 until 22).map(i => f"w$i%02dxy")).mkString(" ")
  private val textC =
    ("the" +: "of" +: (0 until 22).map(i => f"z$i%02dxy")).mkString(" ")
  // policy-failing text: 4 whole-word banned hits (> PolicyMaxHits = 3)
  private val textBad =
    ("slow slow slow slow " +
      (0 until 20).map(i => f"v$i%02dxy").mkString(" "))

  private val e1 = Seq(1f, 0f, 0f, 0f)

  private def mkCents = VectorOps.kmeansCentroids(
    Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(1f, 0.1f, 0f, 0f)), (3L, Seq(0f, 0.9f, 0f, 0f)))
      .toDF("vec_id", "embedding"), targetCellSize = 2)

  test("fates: indexed / near_dup / gated / evicted, and match-after-eviction") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cents = mkCents
    val expCid = VectorOps.kmeansRanked(
        Seq((1L, e1)).toDF("vec_id", "embedding"), cents, maxRank = 1)
      .select(col("cid").cast("long")).head.getLong(0)

    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q = CurationStreams.refreshStream(in.toDS(), cents)
      .writeStream.format("memory").queryName("refresh_stream")
      .outputMode("append").start()
    def fates() = spark.table("refresh_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    try {
      // batch 1: fresh doc, its near-dup, and a policy-gated doc
      in.addData(Seq((1L, 10L, "upsert", textA, e1),
        (2L, 11L, "upsert", textA, e1), (9L, 12L, "upsert", textBad, e1)))
      q.processAllAvailable()
      assert(fates() === Set(
        (1L, "upsert", "indexed", None, Some(expCid)),
        (2L, "upsert", "near_dup", Some(1L), None),
        (9L, "upsert", "gated", None, None)))
      // batch 2: CDC delete evicts doc 1 (the before-image text rides
      // along but eviction reads the doc's OWN band state, not the text)
      in.addData(Seq((1L, 20L, "delete", textA, e1)))
      q.processAllAvailable()
      assert(fates().contains((1L, "delete", "evicted", None, None)))
      // batch 3: a new arrival of the same content matches the SURVIVING
      // member (2), not the evicted ghost (1)
      in.addData(Seq((3L, 30L, "upsert", textA, e1)))
      q.processAllAvailable()
      assert(fates().contains((3L, "upsert", "near_dup", Some(2L), None)))
      // state sanity: doc store ≤ live docs, band store ≤ their bands
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 24L, s"state must stay live-corpus-bounded, got $stateRows")
    } finally q.stop()
  }

  test("state rows track the live corpus: fates stay 0, a changed-text rewrite " +
    "keeps docs and bands, deleting half the docs halves them") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q = CurationStreams.refreshStream(in.toDS(), mkCents)
      .writeStream.format("noop").outputMode("append").start()
    // distinct gate-passing texts per (doc, version): 24 words, 2
    // stopwords, every content word 5 chars
    def text(doc: Long, v: Int) =
      ("the" +: "of" +: (0 until 22).map(i => f"q$doc%02d$v" + Integer.toString(i, 36)))
        .mkString(" ")
    val n = 8L
    // (fates, docs, bands) state rows after the batch; progress lists
    // the operators sink-first: fates, bands, docs
    def send(events: Seq[(Long, Long, String, String, Seq[Float])]): (Long, Long, Long) = {
      in.addData(events); q.processAllAvailable()
      val Seq(fates, bands, docs) = q.lastProgress.stateOperators.map(_.numRowsTotal).toSeq
      (fates, docs, bands)
    }
    try {
      // one doc-store row per live doc, one band-store row per band key
      // (4 bands per doc, no shared bands between distinct texts)
      assert(send((0L until n).map(d => (d, 10L + d, "upsert", text(d, 1), e1))) === ((0L, 8L, 32L)))
      // every doc re-upserted with changed text: stream length doubles,
      // state does not move (stale bands evicted, new ones added)
      assert(send((0L until n).map(d => (d, 100L + d, "upsert", text(d, 2), e1))) === ((0L, 8L, 32L)))
      assert(send((0L until n / 2).map(d => (d, 200L + d, "delete", text(d, 2), e1))) === ((0L, 4L, 16L)))
    } finally q.stop()
  }

  test("re-upsert with CHANGED text evicts the stale membership (no ghosts)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q = CurationStreams.refreshStream(in.toDS(), mkCents)
      .writeStream.format("memory").queryName("refresh_ghost")
      .outputMode("append").start()
    try {
      in.addData(Seq((5L, 10L, "upsert", textA, e1)))
      q.processAllAvailable()
      // doc 5's content changes from textA to textC
      in.addData(Seq((5L, 20L, "upsert", textC, e1)))
      q.processAllAvailable()
      // a NEW doc with textA must index fresh — doc 5's textA bands are
      // stale and must have been evicted by the re-upsert
      in.addData(Seq((7L, 30L, "upsert", textA, e1)))
      q.processAllAvailable()
      val got = spark.table("refresh_ghost").collect()
        .map(r => (r.getLong(0), r.getString(2))).toList
      assert(got.count(_ == ((7L, "indexed"))) === 1,
        s"doc 7 must not near-dup doc 5's STALE textA membership: $got")
      // and a doc with textC still matches 5's CURRENT membership
      in.addData(Seq((8L, 40L, "upsert", textC, e1)))
      q.processAllAvailable()
      val eight = spark.table("refresh_ghost").collect()
        .map(r => (r.getLong(0), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(eight.contains((8L, "upsert", Some(5L))) ||
        eight.exists(t => t._1 == 8L && t._2 == "near_dup" && t._3 == Some(5L)))
    } finally q.stop()
  }

  test("same-trigger upsert-then-delete resolves to the max-seq state (deleted)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q = CurationStreams.refreshStream(in.toDS(), mkCents)
      .writeStream.format("memory").queryName("refresh_seq")
      .outputMode("append").start()
    try {
      // created and deleted within one polling interval: final state =
      // deleted, and the band state must NOT contain the doc
      in.addData(Seq((5L, 10L, "upsert", textA, e1),
        (5L, 11L, "delete", textA, e1)))
      q.processAllAvailable()
      val first = spark.table("refresh_seq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(first === Set((5L, "delete", "evicted")))
      in.addData(Seq((6L, 20L, "upsert", textA, e1)))
      q.processAllAvailable()
      val six = spark.table("refresh_seq").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(six.contains((6L, "indexed")),
        s"doc 6 must not match the never-registered doc 5: $six")
    } finally q.stop()
  }

  // textA plus 8 fresh tokens: shares 22 of 30 shingles with textA —
  // exact Jaccard 22/30 ≈ 0.733 (the sub-threshold probe for a raised
  // threshold), still gate-passing (32 words, mean len 155/32 ∈ [4,5]).
  // This particular suffix was searched offline to SHARE A BAND with
  // textA (one of the four band keys matches — band collision is
  // probabilistic in the suffix choice, ~75% per candidate).
  private val textExt =
    (("the" +: "of" +: (0 until 22).map(i => f"w$i%02dxy")) ++
      (0 until 8).map(i => f"e$i%02da0")).mkString(" ")

  test("band collision classifies near_dup ONLY when exact Jaccard passes " +
    "(batch probeDupHits verification parity)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // leg 1, threshold 0.5: the pair must band-collide AND verify
    // (J = 0.733 >= 0.5) -> near_dup. This leg also PROVES the band
    // collision exists, so leg 2 can't pass vacuously.
    val in1 = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q1 = CurationStreams.refreshStream(in1.toDS(), mkCents)
      .writeStream.format("memory").queryName("refresh_verify_lo")
      .outputMode("append").start()
    try {
      in1.addData(Seq((1L, 10L, "upsert", textA, e1)))
      q1.processAllAvailable()
      in1.addData(Seq((2L, 20L, "upsert", textExt, e1)))
      q1.processAllAvailable()
      val got = spark.table("refresh_verify_lo").collect()
        .map(r => (r.getLong(0), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(got.contains((2L, "near_dup", Some(1L))),
        s"textExt must band-collide with textA and verify at 0.5: $got")
    } finally q1.stop()
    // leg 2, threshold 0.8: same band collision, but 0.733 < 0.8 — the
    // verification screens it out and the doc indexes fresh (what batch
    // probeDupHits does; a collision alone must never classify)
    val in2 = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q2 = CurationStreams.refreshStream(in2.toDS(), mkCents, threshold = 0.8)
      .writeStream.format("memory").queryName("refresh_verify_hi")
      .outputMode("append").start()
    try {
      in2.addData(Seq((1L, 10L, "upsert", textA, e1)))
      q2.processAllAvailable()
      in2.addData(Seq((2L, 20L, "upsert", textExt, e1)))
      q2.processAllAvailable()
      val got = spark.table("refresh_verify_hi").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got.contains((2L, "indexed")),
        s"sub-threshold collision must index, not near_dup: $got")
    } finally q2.stop()
  }

  test("a band AT maxBandBucket stops emitting hits and stops growing " +
    "(the capBands boundary: count > maxBucket bands are batch-dropped)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q = CurationStreams.refreshStream(in.toDS(), mkCents, maxBandBucket = 2)
      .writeStream.format("memory").queryName("refresh_hotcap")
      .outputMode("append").start()
    try {
      in.addData(Seq((1L, 10L, "upsert", textA, e1)))
      q.processAllAvailable()
      in.addData(Seq((2L, 20L, "upsert", textA, e1)))
      q.processAllAvailable()
      // doc 3 would make every shared band 3 members > maxBucket = 2:
      // exactly the bucket batch capBands drops — the stream refuses
      // the insert and emits no hit (doc 2's pre-hot near_dup is the
      // documented unretractable emission)
      in.addData(Seq((3L, 30L, "upsert", textA, e1)))
      q.processAllAvailable()
      in.addData(Seq((4L, 40L, "upsert", textA, e1)))
      q.processAllAvailable()
      val got = spark.table("refresh_hotcap").collect()
        .map(r => (r.getLong(0), r.getString(2))).toList
      assert(got.contains((1L, "indexed")) && got.contains((2L, "near_dup")))
      assert(got.contains((3L, "indexed")) && got.contains((4L, "indexed")),
        s"at-capacity band must stop hitting AND stop growing: $got")
    } finally q.stop()
  }

  test("streamed fate compaction equals the batch folds over the aligned timeline, across a restart") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.{DedupOps, RefreshOps}
    val dir = "target/graft-tmp/refresh_compact_stream_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    val cents = mkCents
    val e2 = Seq(0f, 1f, 0f, 0f)
    def cidOf(e: Seq[Float]): Long = VectorOps.kmeansRanked(
        Seq((0L, e)).toDF("vec_id", "embedding"), cents, maxRank = 1)
      .select(col("cid").cast("long")).head.getLong(0)
    // initial artifacts: base doc 100 (textC) indexed — all THREE probe
    // artifacts seeded, so the stream folds the gram index too
    val baseDocs = Seq((100L, textC)).toDF("doc_id", "text")
    DedupOps.minhashBandsRelational(baseDocs)
      .write.parquet(s"$dir/artifacts/bands/initial")
    Seq((100L, cidOf(e2))).toDF("vec_id", "cid")
      .write.parquet(s"$dir/artifacts/cells/initial")
    graft.pipeline.TextOps.substrGramIndex(baseDocs)
      .write.parquet(s"$dir/artifacts/grams/initial")
    // the NEW snapshot lookup both engines read band keys from
    val newDocs = Seq((1L, textA), (3L, textC)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    def startQ() = CurationStreams.refreshCompactionStream(
        CurationStreams.refreshStream(in.toDS(), cents),
        newDocs, s"$dir/artifacts")
      .option("checkpointLocation", s"$dir/ckpt").start()
    // trigger 1: doc 1 arrives (indexed)
    val q1 = startQ()
    try { in.addData(Seq((1L, 10L, "upsert", textA, e1))); q1.processAllAvailable() }
    finally q1.stop()
    // RESTART, then trigger 2: doc 3 arrives (indexed), base doc 100 deleted
    val q2 = startQ()
    try {
      in.addData(Seq((3L, 20L, "upsert", textC, e2),
        (100L, 21L, "delete", textC, e2)))
      q2.processAllAvailable()
    } finally q2.stop()
    // batch equivalent over the SAME fate timeline
    val f1 = Seq((1L, "indexed", Option(cidOf(e1))))
      .toDF("doc_id", "action", "cid")
    val f2 = Seq((3L, "indexed", Option(cidOf(e2))),
        (100L, "evicted", Option.empty[Long]))
      .toDF("doc_id", "action", "cid")
    val expBands = RefreshOps.compactBandIndex(
        RefreshOps.compactBandIndex(
          spark.read.parquet(s"$dir/artifacts/bands/initial"), f1, newDocs),
        f2, newDocs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val gotBands = spark.read.parquet(s"$dir/artifacts/bands/batch_1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotBands.nonEmpty)
    assert(gotBands === expBands,
      "streamed band fold must equal the chained batch folds")
    val expCells = RefreshOps.compactCellAssignment(
        RefreshOps.compactCellAssignment(
          spark.read.parquet(s"$dir/artifacts/cells/initial"), f1), f2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotCells = spark.read.parquet(s"$dir/artifacts/cells/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotCells === expCells,
      "streamed cell fold must equal the chained batch folds")
    assert(gotCells === Set((1L, cidOf(e1)), (3L, cidOf(e2))),
      "base doc 100 evicted, docs 1 and 3 indexed at their frozen cells")
    val expGrams = RefreshOps.compactGramIndex(
        RefreshOps.compactGramIndex(
          spark.read.parquet(s"$dir/artifacts/grams/initial"), f1, newDocs),
        f2, newDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotGrams = spark.read.parquet(s"$dir/artifacts/grams/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGrams.nonEmpty, "24-token fixture docs must hold 8-grams")
    assert(gotGrams === expGrams,
      "streamed gram fold must equal the chained batch folds")
    assert(!gotGrams.exists(_._1 == 100L),
      "the evicted base doc's grams left the live index")
    // GC: only the last two store generations survive
    assert(!new java.io.File(s"$dir/artifacts/bands/batch_-1").exists())
  }

  test("re-upsert with the same text re-emits a fate without duplicate membership") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, String, String, Seq[Float])]
    val q = CurationStreams.refreshStream(in.toDS(), mkCents)
      .writeStream.format("memory").queryName("refresh_stream2")
      .outputMode("append").start()
    try {
      in.addData(Seq((5L, 10L, "upsert", textA, e1)))
      q.processAllAvailable()
      in.addData(Seq((5L, 20L, "upsert", textA, e1)))
      q.processAllAvailable()
      val got = spark.table("refresh_stream2").collect()
        .map(r => (r.getLong(0), r.getString(2))).toList
      // two fates emitted (it IS an update feed), both indexed — the
      // second probe sees only itself in every band (no self-match)
      assert(got.count(_ == ((5L, "indexed"))) === 2, s"got $got")
      in.addData(Seq((6L, 30L, "upsert", textA, e1)))
      q.processAllAvailable()
      val six = spark.table("refresh_stream2").collect()
        .map(r => (r.getLong(0), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(six.contains((6L, "near_dup", Some(5L))))
    } finally q.stop()
  }
}
