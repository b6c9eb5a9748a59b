package graft

import graft.pipeline.TextOps
import org.apache.spark.sql.functions._

/** Invariant tests for the round-13 learned-gate operators: the
  * fastText-shape fixed-point linear classifier (fit dynamics, split
  * hygiene, determinism, and the marker-injection fixture) and the
  * Stupid Backoff scorer's three scoring paths.
  */
class ClassifierSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("classifier: learns the injected language signal on the EVAL split") {
    val feats = TextOps.classifierFeatures(
      TextOps.injectLangMarkers(docs), col("lang") === "en").persist()
    val w = TextOps.classifierFit(feats)
    val scored = TextOps.classifierScore(feats, w)
    val evalRows = scored.filter(col("is_train") === 0L)
    val acc = evalRows.filter(col("pred") === col("y")).count().toDouble /
      evalRows.count()
    assert(acc >= 0.8, s"eval accuracy $acc under 0.8")
    feats.unpersist()
  }

  test("classifier: without the injection the corpus carries no signal (the fixture is not vacuous)") {
    val feats = TextOps.classifierFeatures(docs, col("lang") === "en").persist()
    val w = TextOps.classifierFit(feats)
    val scored = TextOps.classifierScore(feats, w)
    val evalRows = scored.filter(col("is_train") === 0L)
    val acc = evalRows.filter(col("pred") === col("y")).count().toDouble /
      evalRows.count()
    // bounded by roughly the majority class — far from the injected 0.8+
    assert(acc <= 0.75, s"label-signal-free corpus scored $acc — suspicious")
    feats.unpersist()
  }

  test("classifier: the fixed-point fit is bit-deterministic across runs") {
    val feats = TextOps.classifierFeatures(
      TextOps.injectLangMarkers(docs), col("lang") === "en").persist()
    val w1 = TextOps.classifierFit(feats)
    val w2 = TextOps.classifierFit(feats)
    assert(w1.toSeq === w2.toSeq)
    assert(w1.exists(_ != 0L), "fit left every weight at zero")
    feats.unpersist()
  }

  test("injectLangMarkers: adds exactly K tokens, all from the doc's own language") {
    val inj = TextOps.injectLangMarkers(docs)
      .select(col("doc_id"), col("lang"), col("text"))
      .join(docs.select(col("doc_id"), col("text").as("orig")), Seq("doc_id"))
      .collect()
    val byLang = graft.functions.TextCols.langMarkers.toMap
    inj.foreach { r =>
      val added = r.getString(2).split(" ").length -
        r.getString(3).split(" ").length
      assert(added === TextOps.MarkerInjectK)
      val pref = r.getString(2).split(" ").take(TextOps.MarkerInjectK)
      assert(pref.forall(byLang(r.getString(1)).contains(_)),
        s"doc ${r.getLong(0)}: prefix ${pref.mkString(",")} not all ${r.getString(1)} markers")
    }
  }

  test("unigramStats: likelihood can pick different boundaries than greedy (diffseg is not vacuous)") {
    // 'aaa'/'bbb' are frequent standalone words, 'aaabbb' occurs once:
    // greedy on it takes the LONGEST prefix 'aaab' then 'bb'; Viterbi
    // prefers p(aaa)·p(bbb) >> p(aaab)·p(bb) — same piece count (2 = 2),
    // different boundaries. The diffseg column must catch it.
    val rows = (0 until 50).flatMap(i =>
      Seq((i.toLong * 2, "aaa", "s"), (i.toLong * 2 + 1, "bbb", "s"))) :+
      (999L, "aaabbb", "s")
    val d = rows.toDF("doc_id", "text", "source")
    val out = TextOps.unigramStats(d).collect()(0)
    assert(out.getAs[Long]("n_words_diffseg") === 1L,
      s"expected exactly the planted word to diffseg, got $out")
    // and the piece counts agree (substring-closed vocab: greedy is
    // count-optimal, the disagreement is boundary choice only)
    assert(out.getAs[Long]("n_pieces_unigram") === out.getAs[Long]("n_pieces_greedy"))
  }

  test("gopherKeepCol/policyKeepCol equal their frame twins at default thresholds") {
    val g = TextOps.gopherRules(docs).select(col("doc_id"), col("keep"))
    val gc = docs.select(col("doc_id"), TextOps.gopherKeepCol.as("k"))
    assert(g.join(gc, "doc_id").filter(col("keep") =!= col("k")).count() === 0L)
    val p = TextOps.policyGate(docs).select(col("doc_id"), col("keep"))
    val pc = docs.select(col("doc_id"), TextOps.policyKeepCol.as("k"))
    assert(p.join(pc, "doc_id").filter(col("keep") =!= col("k")).count() === 0L)
  }

  test("stupidBackoffScore: bigram, backoff, and OOV paths score exactly") {
    // train doc (label t): transitions (x,y), (y,x), (x,z); unigrams
    // x:2 y:1 z:1, N = 4. eval doc: x->y seen (1/2), y->z backoff
    // (0.4 * 1/4 = 2/20), z->q OOV (0).
    val d = Seq(
      (1L, "x y x z", "t"),
      (2L, "x y z q", "e")).toDF("doc_id", "text", "source")
    val out = TextOps.stupidBackoffScore(d, col("source") === "t")
      .orderBy("doc_id").collect()
    val eva = out(1)
    assert(eva.getAs[Long]("n_trans") === 3L)
    assert(eva.getAs[Long]("n_backoff") === 1L)
    assert(eva.getAs[Long]("n_oov") === 1L)
    // mean of (0.5, 0.1, 0.0) = 0.2
    assert(math.abs(eva.getAs[Double]("avg_s") - 0.2) < 1e-6)
    assert(eva.getAs[Double]("min_s") === 0.0)
    // the train doc scores itself: (x,y)=1/2, (y,x)=1/1, (x,z)=1/2
    val trn = out(0)
    assert(trn.getAs[Long]("n_backoff") === 0L)
    assert(trn.getAs[Long]("n_oov") === 0L)
    assert(math.abs(trn.getAs[Double]("avg_s") - (0.5 + 1.0 + 0.5) / 3) < 1e-6)
  }

  test("classifierGateStream: frozen weights equal the batch gate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"target/graft-tmp/cls_gate_spec_${System.nanoTime()}"
    val feats = TextOps.classifierFeatures(
      TextOps.injectLangMarkers(docs), col("lang") === "en").persist()
    val w = TextOps.classifierFit(feats)
    feats.unpersist()
    val arriving = TextOps.injectLangMarkers(docs)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.pipeline.CurationStreams.classifierGateStream(
        in.toDF.toDF("doc_id", "text"), w, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(arriving.take(arriving.size / 2))
      q.processAllAvailable()
      in.addData(arriving.drop(arriving.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/batch_0", s"$dir/batch_1")
      .collect().map(_.toSeq).toSet
    import spark.implicits._
    val oneShot = TextOps.classifierGate(
        arriving.toDF("doc_id", "text"), w)
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot && streamed.size == arriving.size)
  }

  test("stupidBackoffScore: α is applied as one integer-folded division (2·cu)/(5·N)") {
    // single-token-vocab train: unigram q:1, N=1; eval transition
    // (a→q): a unseen as context → backoff to 0.4·(1/1) = 2/5 exactly
    val d = Seq(
      (1L, "q", "t"),
      (2L, "a q", "e")).toDF("doc_id", "text", "source")
    val out = TextOps.stupidBackoffScore(d, col("source") === "t")
      .filter(col("doc_id") === 2L).collect()(0)
    assert(out.getAs[Long]("n_backoff") === 1L)
    assert(out.getAs[Double]("avg_s") === 0.4)
  }
}
