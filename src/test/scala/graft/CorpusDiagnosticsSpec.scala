package graft

import graft.pipeline.{DedupOps, EventOps, TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** Invariant tests for the round-7 diagnostics/curation operators:
  * contrastive hard-negative mining, label-centroid outliers, pairwise
  * source-vocabulary Jaccard, hot-key skew stats, and incremental
  * near-dup screening — each pinned against a from-first-principles
  * driver recomputation on the sf0.001 fixtures.
  */
class CorpusDiagnosticsSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private def round6(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round4(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val qrows: Array[(Long, Int, Array[Long])] =
    emb.select(col("vec_id"), col("label"), VectorOps.quant.as("q")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))

  private def cosine(a: Array[Long], b: Array[Long]): Double = {
    var d = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d.toDouble / math.sqrt(na.toDouble * nb.toDouble)
  }

  test("hardNegatives matches the exhaustive different-label top-k with the ceiling applied") {
    val got = VectorOps.hardNegatives(emb, queryMaxId = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val expected = qrows.filter(_._1 < 10).flatMap { case (qid, qlab, qq) =>
      qrows.filter(v => v._1 != qid && v._2 != qlab)
        .map(v => (v._1, cosine(qq, v._3)))
        .filter(_._2 < 0.95)
        .sortBy { case (vid, c) => (-c, vid) }
        .take(5).zipWithIndex
        .map { case ((vid, c), i) => (qid, vid, round6(c), i + 1) }
    }
    assert(got.toSet === expected.toSet)
    assert(got.length === 50) // 10 anchors x full k: the ceiling never starves a query here
  }

  test("labelOutliers matches the exact-integer centroid z-score recomputation") {
    val got = VectorOps.labelOutliers(emb, perLabel = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    val expected = qrows.groupBy(_._2).toSeq.flatMap { case (lab, vs) =>
      val n = vs.length.toLong
      val dim = vs.head._3.length
      val s = Array.tabulate(dim)(i => vs.map(_._3(i)).sum)
      val s2 = s.map(x => x * x).sum
      val dists = vs.map { case (vid, _, q) =>
        val xx = q.map(x => x * x).sum
        val xs = q.zip(s).map { case (x, si) => x * si }.sum
        val num = n * n * xx - 2 * n * xs + s2
        (vid, math.sqrt(num.toDouble) / n)
      }
      // decSum replica: each addend cast to DECIMAL(30,6) before the sum
      def dec6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val mu = (dists.map(d => dec6(d._2)).sum.toDouble) / n
      val m2 = (dists.map(d => dec6(d._2 * d._2)).sum.toDouble) / n
      val sd = math.sqrt(m2 - mu * mu)
      dists.map { case (vid, d) => (vid, d, (d - mu) / sd) }
        .sortBy { case (vid, _, z) => (-z, vid) }.take(2).zipWithIndex
        .map { case ((vid, d, z), i) => (lab, vid, round4(d), round4(z), i + 1) }
    }
    assert(got.toSet === expected.toSet)
  }

  test("sourceVocabJaccard matches driver set arithmetic over every source pair") {
    val got = TextOps.sourceVocabJaccard(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val vocab = docs.select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, ts) => s -> ts.flatMap(_._2.split(" ")).toSet }
    val expected = for {
      a <- vocab.keys.toSeq; b <- vocab.keys.toSeq if a < b
      inter = (vocab(a) & vocab(b)).size.toLong if inter > 0
    } yield (a, b, inter,
      round6(inter.toDouble / (vocab(a).size + vocab(b).size - inter)))
    assert(got.toSet === expected.toSet)
  }

  test("hotKeys: exact counts, deterministic order, monotone cumulative share") {
    import spark.implicits._
    // one dominant key (40 rows), a mid tier, and a 13-key tail with ties
    val keys: Seq[Long] = Seq.fill(40)(99L) ++ Seq.fill(17)(7L) ++
      (1 to 200).map(i => (i % 13).toLong)
    val frame = keys.toDF("user_id")
    val got = EventOps.hotKeys(frame, "user_id", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    val counts = keys.groupBy(identity).map { case (u, xs) => (u, xs.length.toLong) }
    val tot = counts.values.sum
    val top = counts.toSeq.sortBy { case (u, n) => (-n, u) }.take(10)
    val expected = top.zipWithIndex.map { case ((u, n), i) =>
      val cum = top.take(i + 1).map(_._2).sum
      (u, n, i + 1, round6(n.toDouble / tot), round6(cum.toDouble / tot))
    }
    assert(got.toSet === expected.toSet)
    val byRk = got.sortBy(_._3)
    byRk.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 >= b._2, "counts must be non-increasing in rank")
        assert(a._5 <= b._5, "cumulative share must be monotone")
      case _ =>
    }
  }

  test("gateProjection is column-identical to langId + quality joined on doc_id") {
    val g = TextOps.gateProjection(docs)
      .select(col("doc_id"), col("pred_lang"), col("quality"))
    val ref = TextOps.langId(docs).select(col("doc_id"), col("pred_lang"))
      .join(TextOps.quality(docs).select(col("doc_id"), col("quality")), "doc_id")
    assert(g.except(ref).count() === 0L)
    assert(ref.except(g).count() === 0L)
    assert(g.count() === docs.count())
  }

  test("incrementalPairs equals the full minhashPairs restricted to boundary-crossing pairs") {
    val split = (docs.agg(max(col("doc_id"))).head.getLong(0) * 4) / 5
    val inc = DedupOps.incrementalPairs(docs, split).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = DedupOps.minhashPairs(docs)
      .filter(col("doc_a") < split && col("doc_b") >= split).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    assert(inc === full)
    assert(inc.nonEmpty, "the synthetic corpus has near-dups crossing the 4/5 boundary")
    // nothing from the already-indexed side pairs with itself
    inc.foreach { case (n, o, _) => assert(n >= split && o < split) }
  }

  test("ngramNovelty: exact duplicates score 0, the first document scores 1") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"), // exact dup of 0
      (2L, "zeta eta theta iota kappa"))     // all-new shingles
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    val out = TextOps.ngramNovelty(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L)._2 === 1.0)
    assert(out(1L) === ((0L, 0.0)))
    assert(out(2L)._2 === 1.0)
  }

  test("dauStickiness: dau never exceeds wau; a one-day corpus has ratio 1") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val out = EventOps.dauStickiness(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (day, dau, wau, s) =>
      assert(dau <= wau, s"day $day: dau $dau > wau $wau")
      assert(s > 0 && s <= 1.0 + 1e-9)
    }
    import spark.implicits._
    val oneDay = Seq((new java.sql.Timestamp(86400000L), 1L),
      (new java.sql.Timestamp(86400000L + 3600000L), 2L))
      .toDF("ts", "user_id")
    val od = EventOps.dauStickiness(oneDay).collect()
    assert(od.length == 1 && od.head.getDouble(3) === 1.0)
  }

  test("langConfusion: totals reconcile; the matrix exposes the heuristic honestly") {
    val cm = TextOps.langConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(cm.map(_._3).sum == docs.count())
    // per-label rows account for every document of that label
    val byLang = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cm.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.map(_._3).sum == byLang(lang)) }
    // the synthetic corpus reuses English-ish tokens under every lang
    // label, and the matrix must SAY so: 'en' is the only label whose
    // diagonal dominates; the others are predicted mostly 'en' — the
    // honest off-diagonal mass this audit exists to surface
    val en = cm.filter(_._1 == "en")
    assert(en.filter(_._2 == "en").map(_._3).sum >
      en.filter(_._2 != "en").map(_._3).sum)
    cm.groupBy(_._1).filter(_._1 != "en").foreach { case (lang, rows) =>
      val predEn = rows.filter(_._2 == "en").map(_._3).sum
      assert(predEn >= rows.filter(_._2 == lang).map(_._3).sum,
        s"$lang unexpectedly self-identifies on an English-token corpus")
    }
  }

  test("gopherRules: verdicts match a driver recomputation and every rule fires on the fixture") {
    val got = TextOps.gopherRules(docs).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        Option(r.getString(8)), r.getBoolean(9))).toMap
    val stop = TextOps.GopherStopWords.toSet
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      val (id, ws) = (r.getLong(0), r.getString(1).split(" ", -1).toSeq)
      val (n, sumLen) = (ws.length.toLong, ws.map(_.length.toLong).sum)
      val nd = ws.distinct.length.toLong
      val nsd = ws.filter(stop).distinct.length.toLong
      val rules = Seq(
        "word_count" -> (n >= 20 && n <= 80),
        "mean_word_len" -> (sumLen >= 4 * n && sumLen <= 5 * n),
        "distinct_ratio" -> (nd * 100 >= 45 * n),
        "stop_words" -> (nsd >= 2))
      val reason = rules.collectFirst { case (nm, ok) if !ok => nm }
      assert(got(id) === ((n, nd, nsd, rules(0)._2, rules(1)._2,
        rules(2)._2, rules(3)._2, reason, reason.isEmpty)), s"doc $id")
    }
    // the gate is non-vacuous: each rule is the FIRST failure somewhere,
    // and keepers exist
    val reasons = got.values.flatMap(_._8).toSet
    assert(reasons === Set("word_count", "mean_word_len",
      "distinct_ratio", "stop_words"))
    assert(got.values.exists(_._9))
  }

  test("gopherRepetition: constructed repeats hit exactly the right signals at the published cuts") {
    import spark.implicits._
    // 1: a doc whose top 2-gram ("a b" x4 = 8 of 20 chars... constructed
    //    below) exceeds the 20% cut; 2: a 6-gram repeated twice covering
    //    most positions (dup6 over 14%); 3: all-distinct tokens (clean)
    val clean = (0 until 24).map(i => f"w$i%02dxy").mkString(" ")
    val topHeavy = ("aa bb " * 4) + (0 until 12).map(i => f"u$i%02dq").mkString(" ")
    val six = "p0xx p1xx p2xx p3xx p4xx p5xx"
    val dupHeavy = s"$six $six " + (0 until 2).map(i => f"z$i%02d").mkString(" ")
    val fx = Seq((1L, topHeavy.trim), (2L, dupHeavy.trim), (3L, clean))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepetition(fx).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: "aa bb" occurs 4x (sliding windows also count "bb aa" 3x);
    //  top-2-gram mass = 4 * 4 chars = 16 of (16 + 12*4) = 64 chars = 25%
    assert(got(1L).getAs[Double]("top2_cf") === 0.25)
    assert(!got(1L).getAs[Boolean]("keep"), "25% top-2-gram must fail the 20% cut")
    // doc 2: the repeated 6-gram covers 12 of 14 token positions =
    //  48 of 54 chars = 0.8889 — far over the 14% cut
    assert(got(2L).getAs[Double]("dup6_cf") === 0.8889)
    assert(!got(2L).getAs[Boolean]("keep"))
    // doc 3: every token distinct — all signals small, keep
    assert(got(3L).getAs[Double]("top2_cf") <= 0.1)
    (5 to 10).foreach(n => assert(got(3L).getAs[Double](s"dup${n}_cf") === 0.0))
    assert(got(3L).getAs[Boolean]("keep"))
    // determinism
    val again = TextOps.gopherRepetition(fx).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(got.map { case (k, v) => k -> v.toSeq } === again)
  }

  test("exactSubstringDedup: canonical occurrence survives, repeats trim, within-doc self-repeats trim") {
    import spark.implicits._
    val run = "c0 c1 c2 c3"
    val fx = Seq(
      (1L, s"$run x0 x1 x2 x3"),          // canonical home of the run
      (2L, s"y0 y1 $run y2 y3"),          // cross-doc repeat: run leaves
      (3L, "z0 z1 z2 z3 z0 z1 z2 z3"),    // within-doc repeat: 2nd copy leaves
      (4L, "u0 u1 u2 u3 u4 u5")           // untouched
    ).toDF("doc_id", "text")
    val got = TextOps.exactSubstringDedup(fx, k = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4)))
      .toMap
    // doc 1 is the min-(doc,pos) occurrence of the shared run: kept whole
    assert(got(1L) === ((8L, 0L, s"$run x0 x1 x2 x3")))
    // doc 2 loses exactly the repeated run's 4 positions
    assert(got(2L) === ((8L, 4L, "y0 y1 y2 y3")))
    // doc 3's second copy of its own 4-gram leaves; the first stays
    assert(got(3L) === ((8L, 4L, "z0 z1 z2 z3")))
    assert(got(4L) === ((6L, 0L, "u0 u1 u2 u3 u4 u5")))
  }

  test("hashed gram keys equal the string-spelling semantics reference (ExactSubstr + Gopher repetition)") {
    // the 60-bit md5 shuffle keys (the band-store precedent) must not
    // change any verdict vs the full k-token string keys — equal up to
    // md5 collisions, which the fixture corpus has none of
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextOps.exactSubstringDedup(docs, hashed = true))
      === rows(TextOps.exactSubstringDedup(docs, hashed = false)))
    assert(rows(TextOps.gopherRepetition(docs, hashed = true))
      === rows(TextOps.gopherRepetition(docs, hashed = false)))
    val split = 400L
    val corpus = docs.filter(col("doc_id") < split)
    val batch = docs.filter(col("doc_id") >= split)
    assert(rows(TextOps.exactSubstrProbe(corpus, batch, hashed = true))
      === rows(TextOps.exactSubstrProbe(corpus, batch, hashed = false)))
  }

  test("exactSubstrProbe: arrivals trim against the corpus index; one-trigger stream equals the batch probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val run = "c0 c1 c2 c3"
    val corpus = Seq((1L, s"$run x0 x1 x2 x3")).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, s"y0 y1 $run y2 y3"),     // corpus run repeats: 4 tokens leave
      (11L, "f0 f1 f2 f3 f4 f5"))     // fresh text: untouched
    val expect = Map(
      10L -> ((8L, 4L, "y0 y1 y2 y3")),
      11L -> ((6L, 0L, "f0 f1 f2 f3 f4 f5")))
    val batch = graft.pipeline.TextOps.exactSubstrProbe(
        corpus, arrivals.toDF("doc_id", "text"), k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(batch === expect)
    // streaming twin, one trigger
    val dir = "target/graft-tmp/exact_substr_stream_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    val in = MemoryStream[(Long, String)]
    val q = graft.pipeline.CurationStreams.exactSubstrStream(
        in.toDS().toDF("doc_id", "text"), corpus, s"$dir/out", k = 4)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try { in.addData(arrivals); q.processAllAvailable() } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out/batch_0")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(streamed === expect, "one-trigger stream must equal the batch probe")
  }

  test("policyGate: verdicts match a driver recomputation, both rules fire, matching is whole-word") {
    val got = TextOps.policyGate(docs).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), Option(r.getString(6)),
        r.getBoolean(7))).toMap
    val banned = TextOps.PolicyBannedTerms.toSet
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      val (id, ws) = (r.getLong(0), r.getString(1).split(" ", -1).toSeq)
      val hits = ws.filter(banned)
      val (n, nh, nd) = (ws.length.toLong, hits.length.toLong,
        hits.distinct.length.toLong)
      val rHit = nh <= 3
      val rDen = nh * 1000 <= 60 * n
      val reason = if (!rHit) Some("hit_count")
        else if (!rDen) Some("density") else None
      assert(got(id) === ((n, nh, nd, rHit, rDen, reason, reason.isEmpty)),
        s"doc $id")
    }
    // non-vacuous on the fixture: both reasons occur AND keepers exist
    val reasons = got.values.flatMap(_._6).toSet
    assert(reasons === Set("hit_count", "density"))
    assert(got.values.exists(_._7))
    // whole-word only: a term absent from the corpus ("exploit",
    // "crash") never fires, and substring-adjacent words ("slower"
    // would be, if the corpus had it) can't count — pinned by an
    // explicit micro-fixture
    import spark.implicits._
    val micro = Seq((1L, "slow slower crashing exploit0 slow"),
      (2L, "crash exploit")).toDF("doc_id", "text")
    val m = TextOps.policyGate(micro).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m === Map(1L -> 2L, 2L -> 2L))
  }

  test("c4Rules: every line and page rule fires on a micro-fixture; corpus render is non-vacuous") {
    import spark.implicits._
    // one page per rule: line no-terminal, line too-short, line
    // javascript, page lorem, page brace, clean page
    val micro = Seq(
      (1L, "alpha beta gamma delta epsilon zeta.\nshort line here.\nno terminal punct at all\nclean words make a full line!"),
      (2L, "good long line with five words.\nmore good words fill this line.\nthird clean line of five words?\nlorem ipsum dolor sit amet."),
      (3L, "good long line with five words.\nplease enable javascript to view this.\nbrace free but only two clean { lines."),
      (4L, "first clean line of five words.\nsecond clean line of five words.\nthird clean line of five words \"")
    ).toDF("doc_id", "ltext")
    val got = TextOps.c4Rules(micro, col("ltext")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.getString(6)), r.getBoolean(7), r.getString(8))).toMap
    // page 1: 4 lines; "short line here." has 3 words (< 5) and the
    // no-terminal line both drop -> 2 kept -> too_few_lines
    assert(got(1L) === ((4L, 2L, Some("too_few_lines"), false,
      "alpha beta gamma delta epsilon zeta.\nclean words make a full line!")))
    // page 2: the lorem line is line-clean (counts as kept) but kills
    // the page; lorem wins first-failure attribution
    assert(got(2L)._2 === 4L)
    assert(got(2L)._3 === Some("lorem_ipsum"))
    // page 3: javascript line dropped at LINE level; '{' kills the page
    // (brace outranks too_few_lines)
    assert(got(3L)._3 === Some("brace"))
    // page 4: three clean lines (one ends in '"') -> keeps
    assert(got(4L) === ((3L, 3L, None, true,
      "first clean line of five words.\nsecond clean line of five words.\nthird clean line of five words \"")))

    // corpus render: every failure reason occurs AND keepers exist,
    // so the oracle check is non-vacuous on all branches
    val rendered = TextOps.c4Rules(TextOps.c4Inject(docs), col("ltext"))
      .select(col("fail_reason"), col("keep")).collect()
    val reasons = rendered.flatMap(r => Option(r.getString(0))).toSet
    assert(reasons === Set("lorem_ipsum", "brace", "too_few_lines"))
    assert(rendered.exists(_.getBoolean(1)))
  }

  test("pplBuckets: exact tercile sizes per source and head>=middle>=tail score ordering") {
    val rows = TextOps.pplBuckets(docs, col("source").isin("src0", "src1"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(4), r.getDouble(5))).toMap
    val perSrc = rows.keys.groupBy(_._1)
    assert(perSrc.nonEmpty)
    perSrc.foreach { case (src, _) =>
      val n = Seq("head", "middle", "tail")
        .map(b => rows.get((src, b)).map(_._1).getOrElse(0L)).sum
      // integer tercile rule: head = floor(n/3), middle = floor(2n/3) -
      // floor(n/3), tail = the rest
      assert(rows.get((src, "head")).map(_._1).getOrElse(0L) === n / 3, src)
      assert(rows.get((src, "middle")).map(_._1).getOrElse(0L)
        === 2 * n / 3 - n / 3, src)
      // buckets are score-ordered: min(head) >= max(middle) >= ... with
      // ties allowed at the boundary (rank tie-break on doc_id)
      for (Seq(hi, lo) <- Seq("head", "middle", "tail").sliding(2)) {
        (rows.get((src, hi)), rows.get((src, lo))) match {
          case (Some((_, minHi, _)), Some((_, _, maxLo))) =>
            assert(minHi >= maxLo, s"$src $hi vs $lo")
          case _ => ()
        }
      }
    }
  }

  test("clipGate: pair cosines match a driver recomputation and both verdicts occur") {
    val got = VectorOps.clipGate(emb, threshold = 0.20).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    val byId = qrows.map(t => t._1 -> t).toMap
    val expPairs = qrows.map(_._1 / 2).distinct
      .filter(p => byId.contains(2 * p) && byId.contains(2 * p + 1))
    assert(got.size === expPairs.length)
    expPairs.foreach { p =>
      val (_, label, qa) = byId(2 * p)
      val (_, _, qb) = byId(2 * p + 1)
      val sim = round6(cosine(qa, qb))
      assert(got(p) === ((label, sim, sim >= 0.20)), s"pair $p")
    }
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("winnowing: selection matches a driver recomputation and the shared-run guarantee holds") {
    import spark.implicits._
    val k = TextOps.WinnowK
    val w = TextOps.WinnowW
    // driver recomputation of the robust-winnowing selection
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def select(text: String): Set[(Long, Long)] = {
      val ts = text.split(" ", -1)
      val hs = (0 to ts.length - k).map(i =>
        java.lang.Long.parseLong(md5hex(ts.slice(i, i + k).mkString(" ")).take(15), 16))
      val m = hs.length
      (1 to math.max(m - w + 1, 1)).map { j =>
        val wl = math.min(w, m)
        (j until j + wl).map(p => (hs(p - 1), -p.toLong)).min
      }.toSet
    }
    val got = TextOps.winnowedFps(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(2), r.getLong(3))).toSet }
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.filter(_._2.split(" ", -1).length >= k).foreach { case (id, tx) =>
      assert(got(id) === select(tx), s"doc $id")
    }
    // the guarantee: two docs sharing a run of >= w+k-1 tokens share a
    // winnowed fingerprint — pinned on a planted fixture
    val shared = "alpha beta gamma delta epsilon zeta eta theta"  // w+k-1 = 8 tokens
    val fx = Seq(
      (1L, s"one two $shared three four five six seven eight"),
      (2L, s"red green blue $shared yellow purple orange pink brown")
    ).toDF("doc_id", "text")
    val fsets = TextOps.winnowedFps(fx).collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((fsets(1L) intersect fsets(2L)).nonEmpty)
    // and the pair miner surfaces overlap pairs on the real corpus
    assert(TextOps.winnowingPairs(docs).count() > 0)

    // incremental form: driver recomputation of the newest-fifth probe
    // against the older index (df cap applied to the INDEX postings)
    val split = texts.keys.max * 4 / 5
    val fsetsAll = texts.filter(_._2.split(" ", -1).length >= k)
      .map { case (id, tx) => id -> select(tx).map(_._1) }
    val oldF = fsetsAll.filter(_._1 < split)
    val dfh = oldF.toSeq.flatMap(_._2).groupBy(identity)
      .collect { case (h, os) if os.size <= TextOps.WinnowDfCap => h }.toSet
    val expInc = (for {
      (nid, nf) <- fsetsAll.toSeq if nid >= split
      (oid, of) <- oldF.toSeq
      shared = (nf intersect of intersect dfh).size
      if shared >= TextOps.WinnowMinShared
    } yield (nid, oid) -> shared.toLong).toMap
    val gotInc = TextOps.winnowingIncremental(docs, split).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotInc === expInc)
    assert(gotInc.nonEmpty)
  }

  test("sourcePairMatrix: pair counts reconcile with the verified pair set") {
    val m = DedupOps.sourcePairMatrix(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val src = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DedupOps.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, v) => k -> v.length.toLong }
    assert(m == expected)
  }

  test("unimaxAllocation: waterfill caps small languages at their epoch ceiling, " +
       "splits the remainder, and conserves the budget exactly") {
    import spark.implicits._
    // hand-solved: caps 400/800/4000, budget 3·1300 = 3900;
    // i=1: 400·3 ≤ 3900 capped; i=2: 800·2 ≤ 3500 capped;
    // i=3: 4000·1 ≤ 2700 fails → thr=2, c gets 3900−1200 = 2700
    def doc(lang: String, n: Int) = (lang, (1 to n).map(i => s"w$i").mkString(" "))
    val d = Seq(doc("a", 100), doc("b", 200), doc("c", 1000))
      .toDF("lang", "text")
    val got = TextOps.unimaxAllocation(d, maxEpochs = 4, budgetFactor = 3)
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("cap"), r.getAs[Boolean]("capped"),
          r.getAs[Double]("alloc"), r.getAs[Double]("epochs")))).toMap
    assert(got("a") === ((400L, true, 400.0, 4.0)))
    assert(got("b") === ((800L, true, 800.0, 4.0)))
    assert(got("c") === ((4000L, false, 2700.0, 2.7)))
    // budget conservation: allocations sum to exactly budgetFactor·total
    assert(got.values.map(_._3).sum === 3900.0)
    // degenerate guard: a budget at or above the epoch cap is a
    // contract violation (division by zero otherwise), not a result
    intercept[IllegalArgumentException] {
      TextOps.unimaxAllocation(d, maxEpochs = 4, budgetFactor = 4)
    }
  }
}
