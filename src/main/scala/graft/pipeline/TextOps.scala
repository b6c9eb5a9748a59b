package graft.pipeline

import graft.functions.TextCols.{langMarkers, markerCount, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: token statistics, quality scoring, n-gram-heuristic
  * language ID, and document fingerprinting.
  *
  * Everything is pure Column DSL (whole-stage codegen, no UDFs); per-doc
  * operators are embarrassingly parallel, so the plans scale linearly with
  * document count — no shuffles except where aggregation is the point.
  */
object TextOps {

  /** Token statistics: counts, distinct counts, char length, mean token
    * length. Integer arithmetic → engine-exact. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val ts = tokens
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(ts).as("n_tokens"),
      size(array_distinct(ts)).as("n_distinct"),
      round(aggregate(transform(ts, t => length(t)), lit(0), _ + _).cast("double") /
        size(ts) + lit(1e-9), 4).as("mean_tok_len"))
  }

  /** SEQUENCE PACKING for LLM pretraining: concatenate documents in
    * deterministic order and cut every `budget` tokens (GPT-style packing
    * — a document may straddle a pack boundary; `straddles` flags it so a
    * loader can mask or split). Docs are hashed into `groups` independent
    * streams — the parallel unit: each group's running sum is one window
    * partition, so parallelism (and the per-task row bound) scales by
    * raising `groups` with the corpus, never a global window. Output one
    * row per document: (grp, doc_id, n_tokens, pack_id, straddles). */
  def packAssignments(docs: DataFrame, budget: Int = 2048,
                      groups: Int = 32): DataFrame =
    packByCounts(docs.select(col("doc_id"),
      size(tokens).cast("long").as("n_tokens")), budget, groups)

  /** PACKING EFFICIENCY — the utilization numbers that justify (or
    * reject) sequence packing for a corpus: token slots consumed under
    * per-document PADDING (each doc padded up to whole `budget`-token
    * slots — the naive batching bill) vs under GPT-style PACKING
    * ([[packAssignments]]'s streams: only each group's final partial
    * pack wastes). All counts exact integers from two partial-agg
    * passes; the two utilization ratios are single divisions. Output:
    * 1 row (n_docs, tokens_total, padded_slots, n_packs, padded_util,
    * packed_util). */
  def packEfficiency(docs: DataFrame, budget: Int = 256,
                     groups: Int = 8): DataFrame = {
    val counts = docs.select(col("doc_id"), size(tokens).cast("long").as("n"))
      .withColumn("grp", pmod(col("doc_id"), lit(groups.toLong)))
    val per = counts.agg(
      count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_total"),
      sum(expr(s"(n + $budget - 1) div $budget")).as("padded_slots"))
    val packs = counts.groupBy(col("grp")).agg(sum(col("n")).as("gt"))
      .agg(sum(expr(s"(gt + $budget - 1) div $budget")).as("n_packs"))
    per.crossJoin(packs).select(
      col("n_docs"), col("tokens_total"), col("padded_slots"), col("n_packs"),
      round(col("tokens_total").cast("double")
        / (col("padded_slots") * budget).cast("double") + lit(1e-9), 6)
        .as("padded_util"),
      round(col("tokens_total").cast("double")
        / (col("n_packs") * budget).cast("double") + lit(1e-9), 6)
        .as("packed_util"))
  }

  /** [[packAssignments]] over a caller-supplied (doc_id, n_tokens)
    * frame — the budget-exact form: a production loader packs by the
    * tokens the model actually bills ([[bpeEncode]]'s `bpe_tokens`),
    * not a whitespace proxy. Same scale shape: `groups` independent
    * hash streams, one bounded window partition each. */
  def packByCounts(counts: DataFrame, budget: Int = 2048,
                   groups: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc_id"))
    counts.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("grp", pmod(col("doc_id"), lit(groups.toLong)))
      .withColumn("cum0", coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("grp"), col("doc_id"), col("n_tokens"),
        expr(s"cum0 div $budget").as("pack_id"),
        (expr(s"(cum0 + n_tokens - 1) div $budget") > expr(s"cum0 div $budget"))
          .as("straddles"))
  }

  /** Deterministic uniform INTEGER draw in [0, 1e6) from md5(salt:doc_id)
    * — the content-independent split/sampling primitive: stable under
    * corpus growth and reshuffling, and compared against integer
    * thresholds so no float-boundary value can diverge across engines. */
  val DrawMod = 1000000L
  def mdDraw6(salt: String): Column = mdDraw6On(salt, col("doc_id"))

  /** [[mdDraw6]] keyed on an arbitrary id column — e.g. a CLUSTER id, so a
    * whole near-dup component draws one fate ([[graft.pipeline.DedupOps
    * .leakproofSplit]]). */
  def mdDraw6On(salt: String, idCol: Column): Column =
    conv(substring(md5(concat(lit(salt + ":"), idCol.cast("string"))), 1, 15),
      16, 10).cast("long") % DrawMod

  /** Probability → integer draw threshold. */
  def drawThreshold(p: Double): Long = math.round(p * DrawMod)

  /** Deterministic train/val/test split (fractions `valFrac`/`testFrac`):
    * each document's fate depends only on (salt, doc_id), so the split is
    * stable as the corpus grows — adding documents never moves an
    * existing one across splits (the property a by-position random split
    * lacks). Per-row map, no shuffle. */
  def splitAssign(docs: DataFrame, valFrac: Double, testFrac: Double,
                  salt: String = "split"): DataFrame =
    docs.select(col("doc_id"), splitCol(valFrac, testFrac, salt).as("split"))

  /** The [[splitAssign]] verdict as a row-local Column — pipelines that
    * already hold the doc row project it in place instead of joining the
    * (doc_id, split) frame back on doc_id. */
  def splitCol(valFrac: Double, testFrac: Double,
               salt: String = "split"): Column = {
    val u = mdDraw6(salt)
    when(u < drawThreshold(valFrac), "val")
      .when(u < drawThreshold(valFrac + testFrac), "test")
      .otherwise("train")
  }

  /** MIXTURE SAMPLING: down/down-weight corpus slices to target rates (the
    * data-mixing step before pretraining). `rates` maps a slice key (the
    * `source` column) to a keep probability in [0, 1]; each doc keeps iff
    * its deterministic draw < its slice's threshold (unlisted slices keep
    * everything). Per-row map against a broadcast rate table — no
    * shuffle, linear at any corpus size. */
  def sampleMixture(docs: DataFrame, rates: Map[String, Double],
                    salt: String = "mix"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rateDf = rates.toSeq.map { case (k, p) => (k, drawThreshold(p)) }
      .toDF("source", "thr")
    docs.join(broadcast(rateDf), Seq("source"), "left")
      .filter(mdDraw6(salt) < coalesce(col("thr"), lit(DrawMod)))
      .select(col("doc_id"), col("source"))
  }

  /** MIXTURE TOKEN BUDGET — the question a pretraining run actually asks
    * of its mixture config: how many tokens does each slice contribute
    * AFTER down-sampling, in the tokens the model bills? Because the
    * mixture draw is deterministic ([[sampleMixture]]), the budget is
    * EXACT, not an expectation: per source, the kept docs, their summed
    * token counts, and the slice's share of the post-mixture total.
    * `tokenCounts` is any (doc_id, n_tokens) frame — [[bpeEncode]]'s
    * exact BPE counts in production. One per-row mixture gate, one
    * doc_id equi-join, one partial-agg shuffle; the 1-row total
    * broadcasts back over the handful of source rows (bounded). */
  def mixtureTokenBudget(docs: DataFrame, rates: Map[String, Double],
                         tokenCounts: DataFrame): DataFrame = {
    val per = sampleMixture(docs, rates)
      .join(tokenCounts, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot") + lit(1e-9), 6).as("share"))
  }

  /** UNIMAX MIXTURE ALLOCATION — the budget-constrained, epoch-capped
    * language-sampling allocator (UniMax, Chung et al. ICLR 2023; the
    * mT5/PaLM-era successor to temperature sampling): given a token
    * budget B = budgetFactor · Σ n_lang and a per-language cap of
    * maxEpochs · n_lang tokens, water-fill the budget uniformly across
    * languages, capping each language at its epoch ceiling and
    * redistributing the excess to the rest. Closed form via the ascending
    * cap order: language i (1-based, caps sorted ascending) is CAPPED iff
    * c_i · (L − i + 1) ≤ B − Σ_{j<i} c_j (the condition is prefix-
    * monotone), the rest split the remainder evenly.
    *
    * Shape: one lang groupBy (partial-agg shuffle over the corpus scan),
    * then the whole allocator runs as ARRAY expressions on the single
    * collected-to-a-row language list (languages are bounded — the m2/m10
    * bounded-frame pattern; deliberately NOT an unpartitioned window, so
    * the WarnProbe global-window gate stays clean). All the waterfill
    * arithmetic is BIGINT-exact — prefix sums via slice folds, the one
    * division at the end — so the DuckDB oracle replays it bit-for-bit.
    * Output: (lang, n_tokens, cap, capped, alloc, epochs). */
  def unimaxAllocation(docs: DataFrame, maxEpochs: Int = 4,
                       budgetFactor: Int = 3): DataFrame = {
    // Σ caps = maxEpochs·total > budget = budgetFactor·total ⇒ at least
    // one language stays uncapped, so the remainder division is safe
    require(budgetFactor < maxEpochs,
      s"budgetFactor ($budgetFactor) must be < maxEpochs ($maxEpochs)")
    val counts = docs.groupBy(col("lang"))
      .agg(sum(size(tokens)).cast("long").as("n"))
    val packed = counts.agg(
      sort_array(collect_list(struct((col("n") * maxEpochs).as("c"),
        col("lang"), col("n")))).as("xs"),
      sum(col("n")).as("tot"), count(lit(1)).as("nl"))
    val b = (col("tot") * budgetFactor).as("b")
    def cumBefore(i: Column): Column = // Σ c over the first i-1 entries
      aggregate(slice(col("xs"), lit(1), i - 1), lit(0L), (a, x) => a + x("c"))
    val withThr = packed.select(col("xs"), col("nl"), b)
      // thr = largest 1-based index whose prefix-monotone cap condition
      // holds (0 when the budget caps nobody)
      .withColumn("thr", coalesce(array_max(filter(
        transform(col("xs"), (x, i0) =>
          when(x("c") * (col("nl") - (i0 + 1) + 1) <= col("b") - cumBefore(i0 + 1),
            i0 + 1)),
        f => f.isNotNull)), lit(0)))
      .withColumn("sthr",
        aggregate(slice(col("xs"), lit(1), col("thr")), lit(0L), (a, x) => a + x("c")))
    withThr.select(explode(transform(col("xs"), (x, i0) => struct(
        x("lang").as("lang"), x("n").as("n_tokens"), x("c").as("cap"),
        (i0 + 1 <= col("thr")).as("capped"),
        when(i0 + 1 <= col("thr"), x("c").cast("double"))
          .otherwise((col("b") - col("sthr")).cast("double")
            / (col("nl") - col("thr")).cast("double")).as("alloc0"))))
        .as("r"))
      .select(col("r.lang").as("lang"), col("r.n_tokens").as("n_tokens"),
        col("r.cap").as("cap"), col("r.capped").as("capped"),
        round(col("r.alloc0") + lit(1e-9), 4).as("alloc"),
        round(col("r.alloc0") / col("r.n_tokens").cast("double") + lit(1e-9), 4)
          .as("epochs"))
  }

  /** Quality score: blend of length, stopword ratio, token length and
    * lexical diversity — the standard cheap pre-filter for web-scale corpus
    * cleaning (length/punct/stopword-ratio heuristics). */
  /** The [[quality]] score as a single reusable Column — row-local, so
    * queries needing (source, quality) or (quality, n_tokens) together
    * project it in the SAME scan instead of joining [[quality]]'s output
    * back on doc_id (a corpus-wide shuffle for an in-row value). */
  val qualityCol: Column = {
    val ts = tokens
    val n = size(ts).cast("double")
    val stopRatio = markerCount(ts, langMarkers.toMap.apply("en")).cast("double") / n
    val meanLen = aggregate(transform(ts, t => length(t)), lit(0), _ + _).cast("double") / n
    val distinctRatio = size(array_distinct(ts)).cast("double") / n
    round(
      lit(0.3) * least(lit(1.0), n / 100) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.2) * least(lit(1.0), meanLen / 8) +
      lit(0.2) * distinctRatio + lit(1e-9), 4)
  }

  def quality(docs: DataFrame): DataFrame = {
    val ts = tokens
    val n = size(ts).cast("double")
    val stopRatio = markerCount(ts, langMarkers.toMap.apply("en")).cast("double") / n
    val distinctRatio = size(array_distinct(ts)).cast("double") / n
    docs.select(
      col("doc_id"),
      round(stopRatio + lit(1e-9), 4).as("stop_ratio"),
      round(distinctRatio + lit(1e-9), 4).as("distinct_ratio"),
      qualityCol.as("quality"))
  }

  /** The stop-word set of the Gopher-rules gate's "contains at least K
    * distinct function words" rule — the corpus's English marker list
    * (Gopher's own 8-word set shares only "the"/"a"-class coverage with
    * this synthetic vocabulary, so the rule would be vacuously false). */
  val GopherStopWords: Seq[String] = langMarkers.toMap.apply("en")

  /** GOPHER-RULES QUALITY GATE — the published HARD-THRESHOLD rule set
    * (Rae et al. 2021, appendix A; the Dolma/RefinedWeb lineage) as a
    * gate with per-rule verdicts and a first-failure reason, distinct
    * from the soft [[qualityCol]] blend: (1) word count within
    * [minWords, maxWords]; (2) mean word length within [minMeanLen,
    * maxMeanLen]; (3) distinct-word ratio ≥ minDistinctPct% (the
    * repetition rule); (4) at least minStopDistinct distinct stop
    * words. Every ratio test is an INTEGER CROSS-MULTIPLICATION
    * (sum_len ≥ k·n_words, n_distinct·100 ≥ pct·n_words) — no division
    * anywhere, so any ANSI engine replays the verdicts bit-for-bit.
    * One per-row projection pass, no shuffle. Thresholds default to
    * values that bite on this corpus's 10-99-word regime; web-scale
    * deployments pass Gopher's own (50, 100000, 3, 10, …). Output:
    * (doc_id, n_words, n_distinct, n_stop_distinct, r_word_count,
    * r_mean_word_len, r_distinct_ratio, r_stop_words, fail_reason,
    * keep). */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 20, maxWords: Int = 80,
                  minMeanLen: Int = 4, maxMeanLen: Int = 5,
                  minDistinctPct: Int = 45,
                  minStopDistinct: Int = 2): DataFrame = {
    val ts = tokens
    docs.select(col("doc_id"),
        size(ts).cast("long").as("n_words"),
        length(replace(col("text"), lit(" "), lit(""))).cast("long")
          .as("__sum_len"),
        size(array_distinct(ts)).cast("long").as("n_distinct"),
        size(array_distinct(filter(ts, t => t.isInCollection(GopherStopWords))))
          .cast("long").as("n_stop_distinct"))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_word_len",
        col("__sum_len") >= lit(minMeanLen.toLong) * col("n_words") &&
          col("__sum_len") <= lit(maxMeanLen.toLong) * col("n_words"))
      .withColumn("r_distinct_ratio",
        col("n_distinct") * 100 >= lit(minDistinctPct.toLong) * col("n_words"))
      .withColumn("r_stop_words", col("n_stop_distinct") >= minStopDistinct)
      .withColumn("fail_reason",
        when(!col("r_word_count"), lit("word_count"))
          .when(!col("r_mean_word_len"), lit("mean_word_len"))
          .when(!col("r_distinct_ratio"), lit("distinct_ratio"))
          .when(!col("r_stop_words"), lit("stop_words"))
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("fail_reason").isNull)
      .drop("__sum_len")
  }

  /** Published Gopher repetition thresholds (Rae et al. 2021, Table A1),
    * as integer PERCENT cuts so the verdicts stay division-free: a doc
    * is dropped when the top-n-gram character fraction exceeds
    * 20/18/16 % (n = 2/3/4) or the duplicated-n-gram character fraction
    * exceeds 15/14/13/12/11/10 % (n = 5…10). Shared with the DuckDB
    * oracle so a retune can't desync the replay. */
  val GopherTopNgramPct: Seq[(Int, Int)] =
    Seq(2 -> 20, 3 -> 18, 4 -> 16)
  val GopherDupNgramPct: Seq[(Int, Int)] =
    Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)

  /** GOPHER REPETITION SIGNALS — the n-gram half of Rae et al. 2021's
    * Table A1 that [[gopherRules]]' word-level rules don't cover (the
    * signals RedPajama-v2 and Dolma ship as `frac_chars_top_ngram` /
    * `frac_chars_dup_ngrams`): per document,
    *
    *  - for n = 2..4, the TOP-n-gram character fraction — occurrences
    *    of the most frequent word n-gram (ties to the lexicographically
    *    smallest gram) × its character mass, over the document's total
    *    token characters; a top gram occurring ONCE bills zero — it is
    *    not repetition, and without the condition every all-distinct
    *    document under ~25 tokens fails the 16% 4-gram cut vacuously
    *    (the published cuts assume web-scale document lengths);
    *  - for n = 5..10, the DUPLICATED-n-gram character fraction — the
    *    character mass of token POSITIONS covered by at least one
    *    occurrence of any n-gram appearing more than once (positional
    *    coverage counts each character once, the published intent the
    *    per-occurrence sums over-bill on overlaps);
    *
    * and the keep verdict at the published [[GopherTopNgramPct]] /
    * [[GopherDupNgramPct]] cuts — every comparison an integer
    * cross-multiplication (num·100 ≤ pct·tot_chars), the [[gopherRules]]
    * exactness recipe, so any ANSI engine replays the verdicts
    * bit-for-bit; the reported fractions are single divisions of those
    * integers rounded at 4 dp.
    *
    * Scale shape: grams derive IN-ROW with one transform per n over the
    * CACHED token frame — nine passes with LITERAL n, deliberately NOT
    * one dynamic-n pass: the r18 decomposition probe measured the
    * exploded n-list + column-length `slice` at 13.6 s vs 4.3 s for
    * the literal-n passes on identical downstream (constant slice
    * lengths stay inside whole-stage codegen; the DuckDB oracle keeps
    * its CROSS JOIN spelling because a vectorized engine has the
    * opposite trade — SCALE.md r18). The per-(doc, n, gram) count is a
    * partial-aggregated shuffle keyed inside the document, the
    * top-gram rank window partitions by (doc, n) — never a global
    * window — and the coverage distinct/sum stays (doc, n)-local, so
    * every term is embarrassingly parallel across documents at any
    * corpus size. With `hashed` (the default) the shuffle key is the
    * gram's 60-bit md5 (the band-store precedent, [[DedupOps.hex60]]):
    * counts, ranks, and coverage keyed on the hash equal the string
    * spelling up to md5 collisions (~2⁻⁶⁰ per colliding pair) at 8
    * bytes per key instead of up to n tokens of text — measured 69 →
    * 42 MB shuffled at sf0.1; the winner's character mass rides along
    * in-row as `glen` = length(gram) − (n − 1) — one O(1) length, no
    * per-gram string rewrite — so the top-gram bill never needs the
    * string back. `hashed = false` keeps the string spelling as the
    * semantics reference (the bitext `banded = false` pattern),
    * pinned equal by spec on the fixture corpus.
    * Output: (doc_id, top2_cf, top3_cf, top4_cf, dup5_cf…dup10_cf,
    * keep). */
  def gopherRepetition(docs: DataFrame, hashed: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ns = GopherTopNgramPct.map(_._1) ++ GopherDupNgramPct.map(_._1)
    val toks = graft.CacheScope.persist(
      docs.select(col("doc_id"), tokens.as("ts"))
        .withColumn("tot", aggregate(
          transform(col("ts"), t => length(t).cast("long")),
          lit(0L), _ + _)))
    def gramKey(g: Column): Column =
      if (hashed) DedupOps.hex60(md5(g)) else g
    val gkType = if (hashed) "bigint" else "string"
    val grams = graft.CacheScope.persist(
      ns.map { n =>
        toks.select(col("doc_id"), lit(n).as("n"),
          posexplode(
            when(size(col("ts")) >= n,
              transform(sequence(lit(0), size(col("ts")) - n), i => {
                val g = concat_ws(" ", slice(col("ts"), i + 1, lit(n)))
                struct(gramKey(g).as("gk"),
                  (length(g) - (n - 1)).cast("long").as("glen"))
              }))
              .otherwise(
                array().cast(s"array<struct<gk:$gkType,glen:bigint>>")))
            .as(Seq("pos", "g")))
          .select(col("doc_id"), col("n"), col("pos"),
            col("g.gk").as("gk"), col("g.glen").as("glen"))
      }.reduce(_ unionByName _))
    val cnts = graft.CacheScope.persist(
      grams.groupBy(col("doc_id"), col("n"), col("gk"))
        .agg(count(lit(1)).as("cnt"), max(col("glen")).as("glen")))
    // top-n-gram mass: count x character mass of the winning gram
    // (a once-only top gram bills zero — see the scaladoc). Ties rank
    // by the gram's 60-bit HASH in BOTH spellings (under hashed=false
    // the hash is recomputed from the string key just for the rank),
    // so the winner — hence its glen and the whole bill — is one fixed
    // semantics, and the string spelling differs only in what the
    // shuffle carries.
    val rankKey = if (hashed) col("gk") else DedupOps.hex60(md5(col("gk")))
    val topNum = cnts.filter(col("n") <= 4)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"), col("n"))
          .orderBy(col("cnt").desc, rankKey)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("n"),
        when(col("cnt") >= 2, col("cnt") * col("glen"))
          .otherwise(lit(0L)).as("num"))
    // duplicated-n-gram mass: positions covered by any cnt>1 gram,
    // each position billed once
    val dupPos = grams.filter(col("n") >= 5)
      .join(cnts.filter(col("cnt") > 1)
        .select(col("doc_id"), col("n"), col("gk")),
        Seq("doc_id", "n", "gk"))
      .select(col("doc_id"), col("n"),
        explode(sequence(col("pos"), col("pos") + col("n") - 1)).as("p"))
      .distinct()
    val tokLens = toks.select(col("doc_id"),
        posexplode(col("ts")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p"), length(col("tok")).cast("long").as("len"))
    val dupNum = dupPos.join(tokLens, Seq("doc_id", "p"))
      .groupBy(col("doc_id"), col("n")).agg(sum(col("len")).as("num"))
    val numCols = ns.map(n =>
      max(when(col("n") === n, col("num"))).as(s"num$n"))
    val nums = topNum.unionByName(dupNum)
      .groupBy(col("doc_id"))
      .agg(numCols.head, numCols.tail: _*)
    val out = toks.select(col("doc_id"), col("tot"))
      .join(nums, Seq("doc_id"), "left")
    val thr = (GopherTopNgramPct ++ GopherDupNgramPct).toMap
    def cf(n: Int) = when(col("tot") > 0,
        round(coalesce(col(s"num$n"), lit(0L)).cast("double") / col("tot")
          + lit(1e-9), 4))
      .otherwise(lit(0.0))
    val keep = ns.map(n =>
      coalesce(col(s"num$n"), lit(0L)) * 100 <= lit(thr(n).toLong) * col("tot"))
      .reduce(_ && _)
    out.select(
      (col("doc_id") +:
        GopherTopNgramPct.map { case (n, _) => cf(n).as(s"top${n}_cf") }) ++
        GopherDupNgramPct.map { case (n, _) => cf(n).as(s"dup${n}_cf") } :+
        keep.as("keep"): _*)
  }

  /** EXACT-SUBSTRING DEDUPLICATION (Lee et al. 2021, arXiv 2107.06499 —
    * the ExactSubstr method of "Deduplicating Training Data Makes
    * Language Models Better"): remove every occurrence EXCEPT ONE of
    * any ≥ k-token run that repeats anywhere in the corpus (same doc or
    * across docs) — the dedup that catches boilerplate spans doc-level
    * and near-dup dedup both miss, because the containing documents
    * differ. The paper runs a suffix array at k = 50 web-scale tokens;
    * the Spark-native spelling needs NO suffix array and NO pairing:
    *
    *  1. k-gram occurrences derive IN-ROW ((doc, pos, gram), one
    *     transform over the token array);
    *  2. one partial-aggregated shuffle per gram yields its occurrence
    *     count and its CANONICAL occurrence (min (doc_id, pos) — the
    *     one the paper keeps);
    *  3. every NON-canonical occurrence of a duplicated gram marks its
    *     k token positions covered (positional union, so overlapping
    *     repeated runs merge exactly like the paper's span merge);
    *  4. the surviving text is the uncovered positions re-joined in
    *     order.
    *
    * Total work is O(corpus tokens) with two shuffles — gram counts and
    * the doc-local coverage — never an O(n²) pair pass; a hot gram
    * (corpus boilerplate) is one reduce key with a map-side combine.
    * With `hashed` (the default) the shuffle/join key is the gram's
    * 60-bit md5 ([[DedupOps.hex60]], the band-store precedent): at
    * k = 8 that is ~k× fewer shuffle bytes than the full k-token
    * string, with semantics preserved up to md5 collisions (~2⁻⁶⁰ per
    * colliding pair); `hashed = false` keeps the string spelling as
    * the semantics reference (the bitext `banded = false` pattern) and
    * CorpusDiagnosticsSpec pins the two equal on the fixture corpus.
    * Exactness: counts, canonical mins, and coverage are integer/string
    * operations any ANSI engine replays bit-for-bit; `dedup_frac` is
    * one division rounded at 4 dp. Output: (doc_id, n_tokens,
    * dup_tokens, dedup_frac, clean_text). */
  def exactSubstringDedup(docs: DataFrame, k: Int = 8,
                          hashed: Boolean = true): DataFrame = {
    val toks = graft.CacheScope.persist(
      docs.select(col("doc_id"), tokens.as("ts")))
    val grams = graft.CacheScope.persist(substrGrams(docs, k, hashed))
    // canonical occurrence = min (doc_id, pos) via TWO plain MINs (the
    // min doc first, then the min pos within it — a bounded join over
    // the duplicated grams only): portable across engines with no
    // struct-ordering dependence, and no encoded-key arithmetic that a
    // production id space overflows (the first cut packed doc_id·2³⁰ +
    // pos into one BIGINT and the 10× sweep's +rep·10¹¹ ids overflowed
    // Long immediately — SCALE.md r17)
    val gstats = graft.CacheScope.persist(grams
      .groupBy(col("gk"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("c_doc"))
      .filter(col("cnt") >= 2)
      .select(col("gk"), col("c_doc")))
    val dup = grams
      .join(gstats.withColumnRenamed("c_doc", "doc_id"), Seq("gk", "doc_id"))
      .groupBy(col("gk"))
      .agg(min(col("doc_id")).as("c_doc"), min(col("pos")).as("c_pos"))
    val covered = grams.join(dup, Seq("gk"))
      .filter(!(col("doc_id") === col("c_doc") && col("pos") === col("c_pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .distinct()
    val kept = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("p", "tok")))
      .join(covered.withColumn("cov", lit(true)), Seq("doc_id", "p"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov"), 1L).otherwise(0L)).as("dup_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!coalesce(col("cov"), lit(false)),
            struct(col("p"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
    kept.select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
      round(col("dup_tokens").cast("double") / col("n_tokens") + lit(1e-9), 4)
        .as("dedup_frac"),
      col("clean_text"))
  }

  /** In-row (doc_id, pos, gk) k-gram occurrence derivation shared by
    * the ExactSubstr family ([[exactSubstringDedup]] /
    * [[exactSubstrProbe]] / [[substrGramIndex]]): `gk` is the gram's
    * 60-bit md5 when `hashed` (8-byte shuffle keys — the band-store
    * precedent) or the k-token string itself as the semantics
    * reference. One transform per document, no shuffle. */
  private def substrGrams(docs: DataFrame, k: Int,
                          hashed: Boolean): DataFrame =
    docs.select(col("doc_id"), tokens.as("ts"))
      .select(col("doc_id"),
        posexplode(substrGramArray(k, hashed)).as(Seq("pos", "gk")))

  /** The in-row k-gram key array over a token column `ts` — shared by
    * [[substrGrams]] (positional occurrences) and [[substrGramIndex]]
    * (per-document distinct set). */
  private def substrGramArray(k: Int, hashed: Boolean): Column = {
    val gkType = if (hashed) "bigint" else "string"
    when(size(col("ts")) >= k,
      transform(sequence(lit(0), size(col("ts")) - k), i => {
        val g = concat_ws(" ", slice(col("ts"), i + 1, lit(k)))
        if (hashed) DedupOps.hex60(md5(g)) else g
      }))
      .otherwise(array().cast(s"array<$gkType>"))
  }

  /** The corpus k-gram index of the ExactSubstr family — the PERSISTED
    * refresh artifact ([[exactSubstrProbe]] probes it; the refresh loop
    * compacts it via [[RefreshOps.compactGramIndex]] exactly like the
    * MinHash band index). Rows are (doc_id, gk) — each document's
    * DISTINCT gram keys — the band-index shape: carrying the doc_id
    * makes eviction ONE anti-join on doc_id (no per-gram refcounts),
    * and a gram stays probed as long as ANY live document still holds
    * it. Size is ≤ corpus tokens rows at 8 bytes of key each (hashed —
    * the default; see [[exactSubstringDedup]] for the `hashed = false`
    * semantics reference). */
  def substrGramIndex(docs: DataFrame, k: Int = 8,
                      hashed: Boolean = true): DataFrame =
    // a document's DISTINCT gram set is doc-local, so derive it in-row
    // (array_distinct before the explode) instead of exploding every
    // occurrence and paying a corpus-wide distinct shuffle — the index
    // build is now exchange-free (§2.4); same (doc_id, gk) row set
    docs.select(col("doc_id"), tokens.as("ts"))
      .select(col("doc_id"),
        explode(array_distinct(substrGramArray(k, hashed))).as("gk"))

  /** INCREMENTAL ExactSubstr — the probe side of
    * [[exactSubstringDedup]], the `dedup_incremental` pattern applied to
    * substring dedup: arriving documents are trimmed against the
    * EXISTING corpus's k-gram index (every batch occurrence of a gram
    * the corpus already holds is covered — the corpus keeps the
    * canonical copy by definition, so there is no canonical exception
    * on the batch side). The corpus gram index is the PERSISTED
    * artifact of this family in production ([[substrGramIndex]] — a
    * parquet the refresh loop compacts via
    * [[RefreshOps.compactGramIndex]], served by [[exactSubstrServe]]);
    * it is re-derived here so the query is a pure function of its
    * inputs (the incremental_refresh convention) — pass the persisted
    * artifact to [[exactSubstrProbeWith]] to pay O(batch) per call.
    * Within-batch repeats are out of scope by design (run
    * [[exactSubstringDedup]] over the admitted batch for those).
    * Output: (doc_id, n_tokens, dup_tokens, dedup_frac, clean_text)
    * for the batch docs. */
  def exactSubstrProbe(corpus: DataFrame, batch: DataFrame, k: Int = 8,
                       hashed: Boolean = true): DataFrame =
    exactSubstrProbeWith(substrGramIndex(corpus, k, hashed), batch, k, hashed)

  /** [[exactSubstrProbe]] against an already-built gram index
    * ([[substrGramIndex]] rows, or the persisted parquet artifact):
    * O(batch tokens) probe joins against the index's distinct keys —
    * per-batch cost independent of corpus size, which is the bound the
    * probe's O(batch) claim actually needs (re-deriving the index per
    * call is a corpus-sized job). */
  def exactSubstrProbeWith(index: DataFrame, batch: DataFrame, k: Int = 8,
                           hashed: Boolean = true): DataFrame = {
    val covered = substrGrams(batch, k, hashed)
      .join(index.select(col("gk")).distinct(), Seq("gk"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .distinct()
    batch.select(col("doc_id"), posexplode(tokens).as(Seq("p", "tok")))
      .join(covered.withColumn("cov", lit(true)), Seq("doc_id", "p"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov"), 1L).otherwise(0L)).as("dup_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!coalesce(col("cov"), lit(false)),
            struct(col("p"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens") + lit(1e-9), 4)
          .as("dedup_frac"),
        col("clean_text"))
  }

  /** The k grid [[exactSubstrKSweep]] measures — the paper's k = 50
    * web-token setting at the top, the fixture-scale default at the
    * bottom (shared with the oracle so a regrid can't desync). */
  val SubstrSweepKs: Seq[Int] = Seq(8, 16, 32, 50)

  /** ExactSubstr K-SENSITIVITY SWEEP — the evidence a deploy picks k
    * from (the `dedup_threshold_sweep` convention): Lee et al. 2021
    * dedup at k = 50 web-scale tokens; a smaller corpus (or a
    * boilerplate-heavy one) trims meaningful mass at much smaller k.
    * One [[substrGrams]] pass per grid point — counts, the canonical
    * exception, and the positional-union coverage exactly as
    * [[exactSubstringDedup]] computes them, WITHOUT the per-doc text
    * reconstruction (the sweep reads mass, not output text). Output:
    * one row per k — (k, n_docs, tot_tokens, docs_trimmed, dup_tokens,
    * trim_frac). */
  def exactSubstrKSweep(docs: DataFrame,
                        ks: Seq[Int] = SubstrSweepKs): DataFrame = {
    val tot = docs.select(tokens.as("ts"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ts"))).cast("long").as("tot_tokens"))
    val rows = ks.map { k =>
      val grams = graft.CacheScope.persist(substrGrams(docs, k, hashed = true))
      val gstats = grams.groupBy(col("gk"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("c_doc"))
        .filter(col("cnt") >= 2)
        .select(col("gk"), col("c_doc"))
      val dup = grams
        .join(gstats.withColumnRenamed("c_doc", "doc_id"), Seq("gk", "doc_id"))
        .groupBy(col("gk"))
        .agg(min(col("doc_id")).as("c_doc"), min(col("pos")).as("c_pos"))
      grams.join(dup, Seq("gk"))
        .filter(!(col("doc_id") === col("c_doc") && col("pos") === col("c_pos")))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
        .distinct()
        .agg(countDistinct(col("doc_id")).as("docs_trimmed"),
          count(lit(1)).as("dup_tokens"))
        .select(lit(k.toLong).as("k"), col("docs_trimmed"), col("dup_tokens"))
    }.reduce(_ unionByName _)
    rows.crossJoin(broadcast(tot))
      .select(col("k"), col("n_docs"), col("tot_tokens"),
        col("docs_trimmed"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("tot_tokens")
          + lit(1e-9), 4).as("trim_frac"))
  }

  /** The probe against the PERSISTED gram-index artifact — the
    * steady-state entry point a deploy calls per batch (the
    * [[VectorOps.graphBeamServe]] `rebuildBase = false` pattern): build
    * and write `indexDir/grams` from the corpus only when absent (or
    * when `rebuildIndex` forces it), then probe the arriving batch
    * against the artifact — so the corpus-sized derivation is paid once
    * per index lifetime, not per batch, and
    * [[RefreshOps.compactGramIndex]] keeps the artifact tracking the
    * live corpus between rebuilds. */
  def exactSubstrServe(corpus: DataFrame, batch: DataFrame, indexDir: String,
                       k: Int = 8, rebuildIndex: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    val gramsPath = new org.apache.hadoop.fs.Path(s"$indexDir/grams")
    val fs = gramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rebuildIndex || !fs.exists(gramsPath))
      substrGramIndex(corpus, k).write.mode("overwrite")
        .parquet(s"$indexDir/grams")
    exactSubstrProbeWith(spark.read.parquet(s"$indexDir/grams"), batch, k)
  }

  /** Banned-term fixture of the content-policy gate: drawn from the
    * corpus vocabulary so the gate BITES on the test tables ("slow"
    * stands in for a policy term), plus terms absent from the corpus
    * ("crash", "exploit") pinning that whole-word matching never fires
    * on substrings or absent entries. A production deployment passes
    * its own wordlist (LDNOOBW-class, thousands of entries — still a
    * literal `isInCollection` set compiled into the predicate, or a
    * broadcast join at extreme list sizes, the urlBlocklistGate note). */
  val PolicyBannedTerms: Seq[String] = Seq("slow", "crash", "exploit")

  /** TOXICITY/NSFW WORDLIST GATE — the content-policy filter every
    * published web pipeline runs next to its quality rules (C4's banned
    * wordlist, RefinedWeb's URL/content term scoring, the
    * Gopher-lineage "sexually explicit word" thresholds): count
    * whole-word banned-term hits over the SAME token split the Gopher
    * gate reads, then verdict on (1) an absolute hit budget
    * (`n_banned_hits` ≤ maxHits — the C4-style hard rule, relaxed from
    * "any hit" so mild incidental usage survives) and (2) a density
    * bound spelled as an INTEGER CROSS-MULTIPLICATION
    * (n_banned_hits·1000 ≤ maxPerMille·n_words) — no division, so any
    * ANSI engine replays the verdicts bit-for-bit (the [[gopherRules]]
    * recipe). One per-row projection pass, no shuffle. First-failure
    * reason attribution: hit_count wins over density. Output: (doc_id,
    * n_words, n_banned_hits, n_banned_distinct, r_hit_count,
    * r_density, fail_reason, keep). */
  /** Default hit-budget / density thresholds for [[policyGate]] —
    * shared constants so the DuckDB verdict replay
    * (TextQueries.policyVerdictSql) cannot desync from the defaults. */
  val PolicyMaxHits = 3
  val PolicyMaxPerMille = 60

  def policyGate(docs: DataFrame,
                 banned: Seq[String] = PolicyBannedTerms,
                 maxHits: Int = PolicyMaxHits,
                 maxPerMille: Int = PolicyMaxPerMille): DataFrame = {
    val ts = tokens
    val hits = filter(ts, t => t.isInCollection(banned))
    docs.select(col("doc_id"),
        size(ts).cast("long").as("n_words"),
        size(hits).cast("long").as("n_banned_hits"),
        size(array_distinct(hits)).cast("long").as("n_banned_distinct"))
      .withColumn("r_hit_count", col("n_banned_hits") <= maxHits)
      .withColumn("r_density",
        col("n_banned_hits") * 1000 <= lit(maxPerMille.toLong) * col("n_words"))
      .withColumn("fail_reason",
        when(!col("r_hit_count"), lit("hit_count"))
          .when(!col("r_density"), lit("density"))
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("fail_reason").isNull)
  }

  /** C4 line-gate fixture geometry: the corpus has no line structure or
    * punctuation, so (like [[htmlInject]]/[[urlInject]]) a deterministic
    * renderer manufactures the artifacts the gate must catch. Tokens are
    * grouped into lines of [[C4LineTokens]]; line (doc_id + i) % 5
    * selects the terminal: 0–2 → '.', 3 → '?', 4 → none (a
    * no-terminal line the gate drops). Three artifact lines append on
    * doc_id moduli: a lorem-ipsum line (line-clean but page-fatal), a
    * "please enable javascript" line (the C4 javascript line rule), and
    * a code line whose '{' is page-fatal. All constants are shared with
    * the DuckDB inject replay so the two geometries cannot desync. */
  val C4LineTokens = 8
  val C4LoremLine = "lorem ipsum dolor sit amet consectetur."
  val C4JsLine = "please enable javascript to view this page."
  val C4BraceLine = "function init() { return 0; }"

  /** Render the corpus into newline-structured pages with deterministic
    * C4-violating artifacts: (all input columns, ltext). */
  def c4Inject(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("*"), tokens.as("__ts"))
      .withColumn("__nl",
        expr(s"(size(__ts) + ${C4LineTokens - 1}) div $C4LineTokens"))
    val lineArr = transform(sequence(lit(0L), col("__nl") - 1), i =>
      concat(
        array_join(slice(col("__ts"),
          (i * C4LineTokens + 1).cast("int"), lit(C4LineTokens)), " "),
        when(pmod(col("doc_id") + i, lit(5L)) === 4, lit(""))
          .when(pmod(col("doc_id") + i, lit(5L)) === 3, lit("?"))
          .otherwise(lit("."))))
    staged.select(docs.columns.map(col) :+ concat(
      array_join(lineArr, "\n"),
      when(pmod(col("doc_id"), lit(13L)) === 0, lit("\n" + C4LoremLine))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(19L)) === 0, lit("\n" + C4JsLine))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(17L)) === 0, lit("\n" + C4BraceLine))
        .otherwise(lit(""))).as("ltext"): _*)
  }

  /** Default line/page thresholds for [[c4Rules]] — shared with the
    * DuckDB verdict replay so the two cannot desync. */
  val C4MinLineWords = 5
  val C4MinLines = 3

  /** C4 LINE-LEVEL RULE SET (Raffel et al. 2020, the published cleanup
    * behind the C4 corpus — distinct from the doc-level [[gopherRules]]
    * thresholds): per LINE, keep only lines that end in a terminal
    * punctuation mark ('.', '!', '?', '"'), carry at least
    * `minLineWords` words, and do not mention javascript; per PAGE,
    * drop any page containing "lorem ipsum" or a curly brace, or
    * retaining fewer than `minLines` clean lines. The output is the
    * RECONSTRUCTED page (kept lines re-joined), so the gate composes
    * with downstream curation exactly like [[extractBlocks]]. Pure
    * per-row split/filter/join expressions — zero shuffle, whole-stage
    * codegen; the line array and the kept array are staged as aliases
    * in their own projections (multiply-referenced non-cheap aliases
    * survive CollapseProject — the extractBlocks lesson) so each lambda
    * chain evaluates once per row. First-failure attribution: lorem →
    * brace → too_few_lines. Output: (doc_id, n_lines, n_kept_lines,
    * r_min_lines, r_no_lorem, r_no_brace, fail_reason, keep,
    * clean_text). */
  def c4Rules(docs: DataFrame, raw: Column,
              minLineWords: Int = C4MinLineWords,
              minLines: Int = C4MinLines): DataFrame = {
    val lineKeep = (l: Column) =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) &&
        size(split(l, " ")) >= minLineWords &&
        !lower(l).contains("javascript")
    docs.select(col("doc_id"),
        split(raw, "\n").as("__lines"),
        (!lower(raw).contains("lorem ipsum")).as("r_no_lorem"),
        (!raw.contains("{")).as("r_no_brace"))
      .select(col("doc_id"),
        size(col("__lines")).cast("long").as("n_lines"),
        filter(col("__lines"), lineKeep).as("__kept"),
        col("r_no_lorem"), col("r_no_brace"))
      .select(col("doc_id"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept_lines"),
        (size(col("__kept")) >= minLines).as("r_min_lines"),
        col("r_no_lorem"), col("r_no_brace"),
        array_join(col("__kept"), "\n").as("clean_text"))
      .withColumn("fail_reason",
        when(!col("r_no_lorem"), lit("lorem_ipsum"))
          .when(!col("r_no_brace"), lit("brace"))
          .when(!col("r_min_lines"), lit("too_few_lines"))
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("fail_reason").isNull)
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("r_min_lines"), col("r_no_lorem"), col("r_no_brace"),
        col("fail_reason"), col("keep"), col("clean_text"))
  }

  /** One-scan GATE projection: every `docs` column plus `pred_lang` and
    * `quality` — the fused form [[graft.queries.TextQueries]]'s
    * corpus_pipeline gates on, so language-ID and quality-scoring never
    * cost a second corpus scan or a doc_id join-back (both are row-local
    * functions of the same token split; values are IDENTICAL to
    * [[langId]] / [[quality]], sub-expression for sub-expression). The
    * marker counts and ratio terms are materialized once in a first
    * projection and only REFERENCED by the argmax/weighted-sum in the
    * second — CollapseProject keeps non-cheap expressions used more than
    * once un-inlined, so the interpreted lambda amplification cliff
    * doesn't apply. */
  def gateProjection(docs: DataFrame): DataFrame = {
    val ts = tokens
    val n = size(ts).cast("double")
    val base = docs.select(col("*") +:
      (langMarkers.map { case (l, ws) => markerCount(ts, ws).as(s"__s_$l") } :+
        n.as("__n") :+
        (aggregate(transform(ts, t => length(t)), lit(0), _ + _).cast("double") / n)
          .as("__mean_len") :+
        (size(array_distinct(ts)).cast("double") / n).as("__distinct_ratio")): _*)
    val mx = greatest(langMarkers.map { case (l, _) => col(s"__s_$l") }: _*)
    val pred = langMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (l, _)) =>
        when(acc.isNull && col(s"__s_$l") === mx, lit(l)).otherwise(acc)
    }
    val stop = col("__s_en").cast("double") / col("__n")
    base.select(docs.columns.map(col) :+ pred.as("pred_lang") :+
      round(
        lit(0.3) * least(lit(1.0), col("__n") / 100) +
        lit(0.3) * (lit(1.0) - stop) +
        lit(0.2) * least(lit(1.0), col("__mean_len") / 8) +
        lit(0.2) * col("__distinct_ratio") + lit(1e-9), 4).as("quality"): _*)
  }

  /** Language ID: argmax of per-language marker hits, ties broken by
    * language code ascending (deterministic). */
  /** Argmax language over the `s_<lang>` score columns: greatest +
    * cascaded when (tie → first language asc) — the ONE spelling
    * [[langId]] and [[langConfusion]] share. */
  private def predLang: Column = {
    val best = langMarkers.map { case (l, _) => col(s"s_$l") }
    val maxScore = greatest(best: _*)
    langMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (l, _)) =>
        when(acc.isNull && col(s"s_$l") === maxScore, lit(l)).otherwise(acc)
    }
  }

  def langId(docs: DataFrame): DataFrame = {
    val ts = tokens
    val scored = docs.select(
      col("doc_id") +: langMarkers.map { case (l, ws) =>
        markerCount(ts, ws).as(s"s_$l") }: _*)
    scored.select(col("doc_id") +: langMarkers.map { case (l, _) => col(s"s_$l") }
      :+ predLang.as("pred_lang"): _*)
  }

  /** Language-ID CONFUSION MATRIX — the quality audit of the marker
    * heuristic against the labeled `lang` column: (actual, predicted,
    * count). The off-diagonal mass is the mislabeling bill a
    * lang-gated curation pipeline pays; per-language it tells which
    * marker lists need widening. One scoring pass + one keyed join. */
  def langConfusion(docs: DataFrame): DataFrame = {
    // lang rides the scoring select — scoring is row-local, so joining
    // langId's output back onto the corpus would shuffle for a column
    // a pass-through keeps for free
    val ts = tokens
    docs.select(col("lang") +: langMarkers.map { case (l, ws) =>
        markerCount(ts, ws).as(s"s_$l") }: _*)
      .select(col("lang"), predLang.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** Shingle-window width and the polynomial-hash constants of
    * `fp_shingle_min` (Rabin–Karp base 131 mod 1e9+7). The per-window
    * weights are pre-reduced mod P so every term fits a long:
    * code (< 2^16 BMP codepoint) × weight (< P ≈ 2^30) < 2^46, and the
    * 8-term sum stays far under 2^63. */
  val ShingleW = 8
  val HashP = 1000000007L
  val ShinglePows: IndexedSeq[Long] =
    (0 until ShingleW).scanLeft(1L)((a, _) => a * 131L % HashP)
      .take(ShingleW).reverse.toIndexedSeq

  /** Document fingerprints:
    *  - `fp64`: 60-bit content hash from md5 (engine-portable exact);
    *  - `fp_roll`: position-weighted rolling token hash mod 1e9+7 — tokens
    *    hashed by (first char, length, last char), weighted by position;
    *  - `fp_shingle_min`: min over all 8-char windows of a Rabin–Karp
    *    polynomial hash of the window's codepoints — the winnowing-style
    *    robust content fingerprint. Integer arithmetic only (a per-window
    *    md5 costs a digest per character position — ~10× the wall time of
    *    this whole query — and buys nothing over a polynomial hash for
    *    fingerprint purposes).
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val ts = tokens
    val tokVal = (t: Column) =>
      ascii(substring(t, 1, 1)) * 131 + length(t) * 31 +
        ascii(substring(t, -1, 1))
    val rolled = aggregate(
      zip_with(ts, sequence(lit(1), size(ts)),
        (t, i) => (tokVal(t) * ((i % 1000) + 1)).cast("long")),
      lit(0L), _ + _) % HashP
    // codepoint array once per doc; windows index into it (no per-window
    // string allocation). Out-of-range → null → 0: short docs zero-pad
    // (try_element_at, NOT element_at — under ANSI mode the latter throws
    // on the out-of-bounds tail instead of yielding null).
    val shingleMin = {
      val h = (i: Column) => (0 until ShingleW).map(j =>
        coalesce(try_element_at(col("cs"), i + lit(j)), lit(0L)) * lit(ShinglePows(j)))
        .reduce(_ + _) % HashP
      array_min(transform(
        sequence(lit(1), greatest(size(col("cs")) - (ShingleW - 1), lit(1))), h))
    }
    docs.select(
      col("doc_id"),
      col("text"),
      transform(split(col("text"), ""), c => ascii(c).cast("long")).as("cs"))
      .select(
        col("doc_id"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("fp64"),
        rolled.as("fp_roll"),
        shingleMin.as("fp_shingle_min"))
  }

  /** [[fingerprints]]' shingle-min column via the NATIVE
    * [[graft.functions.ShingleMinHash]] expression (O(n) rolling update,
    * codegen'd static call) instead of the portable Column-DSL window
    * re-sum. Requires the session to carry
    * `spark.sql.extensions=graft.GraftExtensions`; bit-equal to the DSL
    * form by construction (pinned by a property test and the shared
    * DuckDB oracle). */
  def fingerprintsNative(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("shingle_min_hash", col("text")).as("fp_shingle_min"))

  /** REPETITION SIGNALS (the Gopher-style repetitiousness filters used in
    * web-corpus cleaning): per document,
    *  - `dup_token_frac`: fraction of token occurrences that are repeats
    *    of an earlier token (1 − distinct/total);
    *  - `top_bigram_frac`: occurrences of the most frequent token bigram
    *    over all n−1 bigrams (0 for single-token docs; ties by count are
    *    frequency-only so the fraction is well-defined);
    *  - `max_run`: longest run of one repeated token.
    * Explode → per-(doc, bigram) count → per-doc max: linear work, one
    * shuffle keyed by doc_id with map-side combine — no collect, scales
    * with corpus size. The run length uses a token-change cumulative sum
    * inside a per-doc window (bounded by document length). */
  def repetition(docs: DataFrame): DataFrame = {
    val ts = tokens
    val base = docs.select(col("doc_id"), ts.as("ts"),
      size(ts).cast("long").as("n"))
    // (doc, position, token) rows; runs found by counting token changes
    val toks = base.select(col("doc_id"), col("n"),
      posexplode(col("ts")).as(Seq("i", "t")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = toks
      .withColumn("chg",
        when(lag(col("t"), 1).over(w).isNull ||
          lag(col("t"), 1).over(w) =!= col("t"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("run_id")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id")).agg(max(col("run_len")).as("max_run"))
    val bigrams = base
      .select(col("doc_id"), col("n"), posexplode(col("ts")).as(Seq("i", "t")))
      .withColumn("t2", lead(col("t"), 1).over(w))
      .filter(col("t2").isNotNull)
      .groupBy(col("doc_id"), col("n"), col("t"), col("t2"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n")).agg(max(col("c")).as("top_bg"))
      .select(col("doc_id"),
        round(col("top_bg").cast("double") / (col("n") - 1) + lit(1e-9), 4)
          .as("top_bigram_frac"))
    base.select(col("doc_id"), col("n"),
      round(lit(1.0) - size(array_distinct(col("ts"))).cast("double") / col("n")
        + lit(1e-9), 4).as("dup_token_frac"))
      .join(bigrams, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"), col("dup_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
  }

  /** DOCUMENT CHUNKING for embedding/retrieval pipelines: split each
    * document into overlapping token windows of `window` tokens every
    * `stride` tokens (stride < window ⇒ overlap). A document of n ≤
    * window tokens yields exactly one chunk; otherwise
    * ceil((n − window) / stride) + 1 chunks, the last one truncated —
    * every token is covered and chunk boundaries depend only on (n,
    * window, stride), never on content. Output one row per chunk:
    * (doc_id, chunk_id 0-based, start_tok 1-based, n_tokens,
    * chunk_text). Pure per-row array arithmetic — no shuffle at all;
    * the explode multiplies rows by ~n/stride, linear in corpus size. */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "positive window/stride")
    val ts = tokens
    docs.select(col("doc_id"), ts.as("ts"), size(ts).cast("long").as("n"))
      .withColumn("nc",
        when(col("n") <= window, lit(1L))
          .otherwise(expr(s"(n - $window + $stride - 1) div $stride") + 1L))
      .select(col("doc_id"), col("ts"),
        posexplode(sequence(lit(0L), col("nc") - 1)).as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("c") * stride + 1).as("start_tok"),
        size(slice(col("ts"), (col("c") * stride + 1).cast("int"), lit(window)))
          .cast("long").as("n_tokens"),
        array_join(
          slice(col("ts"), (col("c") * stride + 1).cast("int"), lit(window)), " ")
          .as("chunk_text"))
  }

  /** CDC rolling-hash window width (tokens). */
  val CdcW = 4

  /** CONTENT-DEFINED CHUNKING (the FastCDC/rsync family, token-level):
    * a chunk boundary falls after token j wherever the polynomial hash
    * of the last [[CdcW]] tokens lands on a zero residue mod
    * 2^`maskBits` — so boundaries depend only on LOCAL content, and an
    * insertion or deletion re-synchronizes within one window instead of
    * shifting every downstream chunk (the property fixed-stride
    * [[chunkDocs]] lacks, and the reason storage and corpus dedup
    * pipelines chunk this way). Expected chunk length is 2^maskBits
    * tokens; the document end always closes the final chunk. Output one
    * row per chunk: (doc_id, chunk_id, start_tok, n_tokens, chunk_md5)
    * — the md5 is the downstream dedup key. Shape: one explode over
    * token positions (w in-row element_at reads per position, no
    * shuffle), then a per-doc window over the ~n/2^maskBits boundary
    * rows. Integer hash arithmetic mirrors [[fingerprints]]' Rabin–Karp
    * constants, so the oracle replays it exactly. */
  def cdcChunks(docs: DataFrame, maskBits: Int = 4): DataFrame = {
    require(maskBits >= 1 && maskBits <= 20, "maskBits in [1, 20]")
    val mask = 1L << maskBits
    val pows = (0 until CdcW).scanLeft(1L)((a, _) => a * 131L % HashP)
      .take(CdcW).reverse
    val ts = tokens
    val base = docs.select(col("doc_id"), ts.as("ts"),
      size(ts).cast("long").as("n"))
    val tokVal = (t: Column) =>
      (ascii(substring(t, 1, 1)) * 131 + length(t) * 31 +
        ascii(substring(t, -1, 1))).cast("long")
    val bounds = base.filter(col("n") >= CdcW)
      .select(col("doc_id"),
        explode(sequence(lit(CdcW.toLong), col("n"))).as("j"), col("ts"))
      .withColumn("h", pows.zipWithIndex.map { case (p, i) =>
          tokVal(element_at(col("ts"), (col("j") - (CdcW - 1) + i).cast("int"))) * lit(p)
        }.reduce(_ + _) % HashP)
      .filter(col("h") % mask === 0)
      .select(col("doc_id"), col("j"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("j"))
    bounds.unionByName(base.select(col("doc_id"), col("n").as("j"))).distinct()
      .withColumn("start", coalesce(lag(col("j"), 1).over(w) + 1, lit(1L)))
      .withColumn("chunk_id", row_number().over(w).cast("long") - 1)
      .join(base.select(col("doc_id"), col("ts")), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_id"), col("start").as("start_tok"),
        (col("j") - col("start") + 1).as("n_tokens"),
        md5(array_join(slice(col("ts"), col("start").cast("int"),
          (col("j") - col("start") + 1).cast("int")), " ")).as("chunk_md5"))
  }

  /** CORPUS SNAPSHOT DIFF — the change-data-capture pass between two
    * crawl/ingest versions: per document, whether it was `added`,
    * `removed`, `changed` (same id, different content fingerprint) or
    * `unchanged`. ONE full-outer equi-join on the document id — the
    * id is the corpus' natural uniform key, so the join is skew-free
    * at any scale — comparing md5 CONTENT fingerprints computed
    * per-row on each side (at 100 TB the stored manifest fingerprint
    * replaces the re-hash; the join is identical). Downstream
    * consumers re-process exactly the `added`+`changed` slice instead
    * of the corpus: the incremental-ingest contract. Output: (doc_id,
    * source, status) — source from whichever side has the row. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val a = oldDocs.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("fp_a"))
    val b = newDocs.select(col("doc_id"), col("source").as("src_b"),
      md5(col("text")).as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("src_b"), col("src_a")).as("source"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") === col("fp_b"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** CDC STORAGE-DEDUP RATIO per source — what a content-addressed
    * chunk store would save: [[cdcChunks]]' content-defined chunks
    * grouped by hash WITHIN each source, then one source-level
    * summary. `dedup_ratio` = stored token mass / unique token mass —
    * the factor a chunked blob store shrinks that source by (1.0 = no
    * chunk ever repeats; a template-heavy source reads well above).
    * Two partial-agg groupBys — (source, chunk_md5) then source — all
    * counts exact BIGINT sums, the ratio one IEEE division rounded the
    * repo way. CDC (not fixed windows) is what makes the ratio
    * meaningful: an insertion early in a near-dup document shifts
    * fixed-window boundaries corpus-wide but re-synchronizes
    * content-defined ones, so shared tails still dedup. Output:
    * (source, n_chunks, n_distinct, total_tokens, unique_tokens,
    * dedup_ratio). */
  def cdcDedupRatio(docs: DataFrame, maskBits: Int = 4): DataFrame =
    cdcChunks(docs, maskBits)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("chunk_md5"))
      .agg(count(lit(1)).as("cnt"), max(col("n_tokens")).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * col("n_tok")).as("total_tokens"),
        sum(col("n_tok")).as("unique_tokens"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        col("total_tokens"), col("unique_tokens"),
        round(col("total_tokens").cast("double") / col("unique_tokens")
          + lit(1e-9), 4).as("dedup_ratio"))

  /** PII pattern table: (name, Java+RE2-portable regex, replacement tag).
    * Patterns deliberately avoid constructs the two engines treat
    * differently (backreferences, lookaround, lazy quantifiers) — plain
    * character classes and counted repeats only. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"))

  /** PII SCRUBBING: per document, count and redact e-mail addresses,
    * IPv4 literals and international phone numbers (the standard
    * pre-release pass over a web corpus). Counts come from
    * `regexp_count`; redaction applies the patterns in [[piiPatterns]]
    * order (email first, so its host part can't be half-eaten by the IP
    * rule). Pure per-row regex work — embarrassingly parallel, no
    * shuffle, and the patterns are portable so the DuckDB oracle
    * replays them with `regexp_extract_all`/`regexp_replace(…,'g')`. */
  def piiScrub(docs: DataFrame, textCol: Column): DataFrame = {
    val counts = piiPatterns.map { case (n, p, _) =>
      regexp_count(textCol, lit(p)).cast("long").as(s"n_$n") }
    val clean = piiPatterns.foldLeft(textCol) { case (c, (_, p, tag)) =>
      regexp_replace(c, lit(p), lit(tag)) }
    docs.select(col("doc_id") +: counts :+ clean.as("clean_text"): _*)
  }

  /** ENCODING-ARTIFACT GATE (mojibake detection): per document, counts
    * of the three classic encoding-damage signals a web corpus carries —
    * UTF-8-decoded-as-Latin-1 sequences (Ã© for é, Ã¯ for ï, …), the
    * U+FFFD replacement character a lossy decode leaves behind, and
    * stray C0 control characters (excluding tab/newline/CR). Documents
    * clean on all three pass the gate; the rest go to re-decode or
    * drop. Pure per-row regex/replace work — embarrassingly parallel,
    * no shuffle — and every pattern is RE2/Java-regex-portable so the
    * oracle replays it exactly. Output: (doc_id, n_mojibake,
    * n_replacement, n_ctrl, is_clean). */
  def mojibakeStats(docs: DataFrame, textCol: Column): DataFrame = {
    val nMoji = regexp_count(textCol, lit("Ã[©¯¼±]")).cast("long")
    val nRepl = (length(textCol)
      - length(regexp_replace(textCol, lit("�"), lit("")))).cast("long")
    val nCtrl = regexp_count(textCol,
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("long")
    docs.select(col("doc_id"), nMoji.as("n_mojibake"),
      nRepl.as("n_replacement"), nCtrl.as("n_ctrl"),
      (nMoji === 0 && nRepl === 0 && nCtrl === 0).as("is_clean"))
  }

  /** Deterministic synthetic HTML wrappers for the markup-extraction
    * gate (the corpus itself is already clean text): a full page with
    * head/script/style/nav/footer chrome on doc_id % 3 = 0, inline
    * markup with encoded entities on % 3 = 1, untouched text otherwise.
    * Shared constants — the Spark injection and the DuckDB oracle both
    * interpolate THESE strings, so the fixture geometry cannot desync
    * (the mm_scene_cuts lesson). No single quotes (SQL literals), no
    * pipe or dollar (stripMargin / interpolator safety). */
  val HtmlPagePrefix: String = "<html><head><title>Synthetic Page</title>" +
    "<script type=\"text/javascript\">var x = 1 < 2; track();</script>" +
    "<style>.nav { color: red; }</style></head><body>" +
    "<nav><a href=\"/\">Home</a> - <a href=\"/about\">About</a></nav>" +
    "<div id=\"main\"><p>"
  val HtmlPageSuffix: String =
    "</p></div><footer>&copy; 2026 Example Corp - " +
      "<a href=\"/tos\">Terms</a></footer></body></html>"
  val HtmlInlinePrefix: String = "<div><p>"
  val HtmlInlineSuffix: String = " &amp; more &lt;tags&gt;</p><br>" +
    "<b>see also</b> &quot;quoted&quot;</div>"

  /** Boilerplate block patterns, stripped WHOLE (tag and contents):
    * head (title and anything else non-content), script, style, nav,
    * footer — the chrome every main-text extractor drops before
    * lang-ID/quality. Spelled per-tag because RE2 (the oracle's engine)
    * has no backreferences; all patterns are RE2/Java-portable. */
  val HtmlBlockPatterns: Seq[String] = Seq(
    "(?s)<head>.*?</head>",
    "(?s)<script[^>]*>.*?</script>",
    "(?s)<style[^>]*>.*?</style>",
    "(?s)<nav[^>]*>.*?</nav>",
    "(?s)<footer[^>]*>.*?</footer>")

  /** Any remaining tag, replaced by a space so adjacent words never
    * concatenate. */
  val HtmlTagPattern: String = "<[^>]*>"

  /** Entity decode table, applied AFTER tag stripping (a decoded
    * literal &lt;tag&gt; must surface as text, not get re-stripped);
    * amp is decoded LAST so &amp;lt; cannot double-decode. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&quot;" -> "\"", "&#39;" -> "'",
    "&copy;" -> "(c)", "&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&")

  /** Whitespace-run collapse pattern (both engines' \s cover the
    * space/tab/newline set this corpus can contain). */
  val WsPattern: String = "\\s+"

  /** Wrap the corpus in the deterministic synthetic markup above:
    * (all input columns, atext). */
  def htmlInject(docs: DataFrame): DataFrame =
    docs.withColumn("atext",
      when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit(HtmlPagePrefix), col("text"), lit(HtmlPageSuffix)))
        .when(pmod(col("doc_id"), lit(3L)) === 1,
          concat(lit(HtmlInlinePrefix), col("text"), lit(HtmlInlineSuffix)))
        .otherwise(col("text")))

  /** HTML/MARKUP BOILERPLATE EXTRACTION — the gate upstream of lang-ID
    * and quality in every web pipeline (CCNet/RefinedWeb shape): strip
    * chrome blocks whole (head/script/style/nav/footer), strip remaining
    * tags, decode entities, collapse whitespace; report markup mass.
    * Pure per-row regex/replace work — embarrassingly parallel, no
    * shuffle, whole-stage-codegen'd — and every pattern is RE2/Java-
    * portable so the oracle replays the clean text byte-for-byte.
    * Output: all input columns + (clean_text, raw_len, clean_len,
    * n_tags, markup_ratio). */
  def extractHtml(docs: DataFrame, raw: Column): DataFrame = {
    val noBlocks = HtmlBlockPatterns.foldLeft(raw)((c, p) =>
      regexp_replace(c, lit(p), lit(" ")))
    val noTags = regexp_replace(noBlocks, lit(HtmlTagPattern), lit(" "))
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r)) }
    val clean = trim(regexp_replace(decoded, lit(WsPattern), lit(" ")))
    docs.select(col("*"),
      length(raw).cast("long").as("raw_len"),
      regexp_count(raw, lit(HtmlTagPattern)).cast("long").as("n_tags"),
      clean.as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")).cast("long"))
      .withColumn("markup_ratio",
        when(col("raw_len") > 0, round(lit(1.0)
          - col("clean_len").cast("double") / col("raw_len") + lit(1e-9), 4))
          .otherwise(lit(0.0)))
  }

  /** The hard-strip set for the block extractor: elements whose CONTENT
    * is never text (head/script/style), spelled explicitly rather than
    * positionally off [[HtmlBlockPatterns]] so reordering that list can
    * never silently change what gets hard-stripped. nav/footer are
    * absent deliberately — the block extractor drops them by SCORING,
    * not by name. */
  val HtmlHardStripPatterns: Seq[String] = Seq(
    "(?s)<head>.*?</head>",
    "(?s)<script[^>]*>.*?</script>",
    "(?s)<style[^>]*>.*?</style>")

  /** Block-boundary tags: splitting markup at these yields the candidate
    * text blocks a density-based extractor scores (the trafilatura/
    * jusText shape). RE2/Java-portable. */
  val HtmlBlockSplitPattern: String =
    "(?i)</?(?:p|div|section|article|main|li|ul|ol|h[1-6]|table|thead|" +
      "tbody|tr|td|th|br|nav|header|footer|aside|blockquote)[^>]*>"

  /** Anchor element with its visible text as group 1 (non-greedy — RE2
    * and Java agree on lazy quantifiers; no backreferences). The tag
    * name is boundary-anchored — `<a>` or `<a ...>`, never `<abbr>` /
    * `<address>` / `<audio>`, whose text is content, not link mass. */
  val HtmlAnchorPattern: String = "(?is)<a(?:\\s[^>]*)?>(.*?)</a>"

  /** Legal/attribution boilerplate dropped even when link-light: blocks
    * OPENING with a copyright marker (entity-decoded, so &copy; has
    * already become "(c)"). */
  val HtmlBoilerplatePattern: String =
    "(?i)^(\\(c\\)|copyright|all rights reserved)"

  /** Minimum visible characters for a block to count as content. */
  val BlockMinLen = 25

  /** Link-density keep rule as an integer cross-multiplication (the
    * gopherRules trick — no division, bit-exact in any engine): keep
    * iff link_len · X <= len, i.e. density <= 1/X. */
  val BlockLinkDensityX = 3

  /** DOM-AWARE BLOCK EXTRACTION — the production-shape upgrade of
    * [[extractHtml]] (trafilatura/jusText style): instead of stripping
    * chrome by tag NAME, split the page into candidate blocks at
    * block-level boundaries and SCORE each block — visible length and
    * link density — keeping only content-dense blocks. Navigation bars
    * and link farms die because they are short and link-saturated, not
    * because someone enumerated their tag; a copyright line dies by the
    * boilerplate opener rule. Everything is per-row string/array
    * expressions (split → transform → filter → array_join), no shuffle,
    * whole-stage codegen — and every pattern is RE2/Java-portable so
    * the DuckDB oracle replays clean_text byte-for-byte.
    *
    * Keep rule, integer-exact: len(t) >= [[BlockMinLen]] AND
    * link_len · [[BlockLinkDensityX]] <= len(t) AND t does not open
    * with a copyright marker. link_len is the visible anchor-text mass
    * of the block (anchors joined, tags stripped, whitespace collapsed
    * — the same normalization the block text gets).
    *
    * Output: all input columns + (n_blocks, n_kept, clean_text). */
  def extractBlocks(docs: DataFrame, raw: Column): DataFrame = {
    val pre = HtmlHardStripPatterns.foldLeft(raw)((c, p) =>
      regexp_replace(c, lit(p), lit(" ")))
    def btext(b: Column): Column = {
      val noTags = regexp_replace(b, lit(HtmlTagPattern), lit(" "))
      val decoded = HtmlEntities.foldLeft(noTags) { case (c, (e, r)) =>
        replace(c, lit(e), lit(r)) }
      trim(regexp_replace(decoded, lit(WsPattern), lit(" ")))
    }
    // the anchor mass gets EXACTLY the block-text normalization (tag
    // strip, entity decode, whitespace collapse) so the density compares
    // like with like — entity-heavy anchors must not overcount
    def linkLen(b: Column): Column =
      length(btext(
        array_join(regexp_extract_all(b, lit(HtmlAnchorPattern), lit(1)), " ")))
        .cast("long")
    val blocks = transform(split(pre, HtmlBlockSplitPattern),
      b => struct(btext(b).as("t"), linkLen(b).as("l")))
    // staged projections: the block array (the whole split+regex chain)
    // is NON-CHEAP and referenced by all three outputs — aliasing it in
    // its own Project keeps it single-evaluation (CollapseProject only
    // inlines multiply-referenced aliases when they are cheap), where a
    // single select would run the regex chain once PER output column
    // (measured 3x in the formatted plan)
    docs.withColumn("__blocks", blocks)
      .withColumn("__kept", filter(col("__blocks"), s =>
        length(s("t")) >= BlockMinLen &&
          s("l") * BlockLinkDensityX <= length(s("t")) &&
          !s("t").rlike(HtmlBoilerplatePattern)))
      .withColumn("n_blocks",
        size(filter(col("__blocks"), s => length(s("t")) > 0)).cast("long"))
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .withColumn("clean_text",
        array_join(transform(col("__kept"), s => s("t")), " "))
      .drop("__blocks", "__kept")
  }

  /** Deterministic synthetic URL fixture (the corpus carries `source`
    * but no URL column): every document gets a messy-but-realistic URL
    * whose noise axes — scheme case, www prefix, default vs explicit
    * port, trailing slash, tracking params, param order, fragment —
    * are all doc_id-modulus driven, so raw-distinct URLs collapse to
    * shared canonical forms. Shared constants: the Spark injection and
    * the DuckDB oracle both interpolate THESE pieces (the htmlInject
    * convention). */
  val UrlHostSuffix: String = ".Example.COM"
  val UrlPathPrefix: String = "/articles/item"

  /** A query param is TRACKING NOISE iff its name matches this (the
    * utm_* / click-id / referrer families every canonicalizer strips);
    * RE2/Java-portable, anchored. */
  val UrlTrackingPattern: String = "^(utm_[a-z]+|gclid|fbclid|ref)="

  /** URL component extraction patterns — group 1 is the component;
    * shared by the Spark expressions and the DuckDB oracle (all
    * RE2/Java-portable). */
  val UrlSchemePattern: String = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  val UrlHostPortPattern: String = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  val UrlPathPattern: String = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  val UrlQueryPattern: String = "\\?([^#]*)"
  val UrlBareHostPattern: String = "^([^:]*)"
  val UrlPortTailPattern: String = ":([0-9]+)$"
  val UrlWwwPattern: String = "^(www\\.)+"
  val UrlTrailSlashPattern: String = "/+$"

  /** Wrap the corpus in the deterministic URL fixture: all input
    * columns + `url`. */
  def urlInject(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val m2 = pmod(id, lit(2L))
    val m3 = pmod(id, lit(3L))
    val m4 = pmod(id, lit(4L))
    val m5 = pmod(id, lit(5L))
    val m7 = pmod(id, lit(7L))
    val scheme = when(m2 === 0, lit("https")).otherwise(lit("HTTP"))
    val wpre = when(m3 === 0, lit("WWW.")).when(m3 === 1, lit("www."))
      .otherwise(lit(""))
    val port = when(m4 === 0, when(m2 === 0, lit(":443")).otherwise(lit(":80")))
      .when(m4 === 1, lit(":8080")).otherwise(lit(""))
    val path = concat(lit(UrlPathPrefix), pmod(id, lit(40L)).cast("string"),
      when(m5 === 0, lit("/")).otherwise(lit("")))
    val query = concat(
      when(m2 === 0, lit("utm_source=news&")).otherwise(lit("")),
      lit("page="), m3.cast("string"),
      when(m7 === 3, concat(lit("&gclid=g"), id.cast("string")))
        .otherwise(lit("")),
      when(m5 === 1, lit("&ref=home")).otherwise(lit("")))
    val frag = when(m7 === 0, lit("#sec2")).otherwise(lit(""))
    docs.withColumn("url", concat(scheme, lit("://"), wpre, col("source"),
      lit(UrlHostSuffix), port, path, lit("?"), query, frag))
  }

  /** URL CANONICALIZATION — the cheapest first-pass dedup key in every
    * web pipeline, applied BEFORE any MinHash: lowercase scheme+host,
    * strip ALL leading `www.` prefixes in one anchored `(www\.)+` match
    * (a single-prefix strip would make `www.www.ex.com` canonicalize
    * differently on a second pass, breaking the idempotence contract
    * CurationSpec pins), drop the scheme's default port (keep
    * explicit non-default ports), strip trailing path slashes (empty →
    * "/"), drop tracking params, sort the surviving params, drop the
    * fragment. Pure per-row regex/array expressions — no shuffle,
    * RE2/Java-portable so the oracle replays the canonical string
    * byte-for-byte. Output: all input columns + (host, canon_path,
    * canon_url). */
  def urlCanonicalize(docs: DataFrame, url: Column): DataFrame = {
    val scheme = lower(regexp_extract(url, UrlSchemePattern, 1))
    val hostport = regexp_extract(url, UrlHostPortPattern, 1)
    val host = regexp_replace(
      lower(regexp_extract(hostport, UrlBareHostPattern, 1)),
      lit(UrlWwwPattern), lit(""))
    val port = regexp_extract(hostport, UrlPortTailPattern, 1)
    val defPort = when(scheme === "https", lit("443"))
      .when(scheme === "http", lit("80")).otherwise(lit(""))
    val portPart = when(port === "" || port === defPort, lit(""))
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_replace(regexp_extract(url, UrlPathPattern, 1),
      lit(UrlTrailSlashPattern), lit(""))
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val kept = array_join(array_sort(filter(
      split(regexp_extract(url, UrlQueryPattern, 1), "&"),
      x => length(x) > 0 && !x.rlike(UrlTrackingPattern))), "&")
    docs.withColumn("host", host)
      .withColumn("canon_path", path)
      .withColumn("canon_url", concat(scheme, lit("://"), host, portPart, path,
        when(kept === "", lit("")).otherwise(concat(lit("?"), kept))))
  }

  /** ROBOTS-STYLE BLOCKLIST GATE — the policy filter every crawler runs
    * next to canonicalization: drop documents whose canonical host is
    * on the banned-domain list or whose canonical path falls under a
    * banned prefix (the compiled form of robots.txt disallow rules /
    * domain blocklists). Host rules take precedence over path rules in
    * the reported reason. The rule set is policy-sized (thousands of
    * entries at crawl scale — a broadcast join there; a literal
    * expression here), the scan is one pass, per-row only. Output:
    * (doc_id, host, canon_path, block_reason ∈ {host, path, NULL},
    * keep). */
  def urlBlocklistGate(docs: DataFrame, url: Column,
                       blockedHosts: Seq[String],
                       blockedPathPrefixes: Seq[String]): DataFrame =
    urlBlocklistFlags(docs, url, blockedHosts, blockedPathPrefixes)
      .select(col("doc_id"), col("host"), col("canon_path"),
        col("block_reason"), col("keep"))

  /** Composable form of [[urlBlocklistGate]]: all input columns plus
    * (host, canon_path, canon_url, block_reason, keep) — the shape the
    * streaming web front-end filters on without dropping the payload. */
  def urlBlocklistFlags(docs: DataFrame, url: Column,
                        blockedHosts: Seq[String],
                        blockedPathPrefixes: Seq[String]): DataFrame = {
    val c = urlCanonicalize(docs, url)
    val pathHit = blockedPathPrefixes.foldLeft(lit(false))((acc, p) =>
      acc || col("canon_path").startsWith(p))
    c.withColumn("block_reason",
        when(col("host").isin(blockedHosts: _*), lit("host"))
          .when(pathHit, lit("path"))
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("block_reason").isNull)
  }

  /** CANONICAL-URL EXACT DEDUP + PER-HOST CAP — the pre-MinHash gate:
    * (1) collapse docs sharing a canonical URL (keeper = min doc_id);
    * (2) cap surviving docs per host at `maxPerHost` by the
    * content-independent ranked draw (the [[stratifiedSample]] shape),
    * so one mega-domain can't dominate the corpus. Two windows, each
    * partitioned by a data-scale key (canonical URL / host) — the host
    * window ranks only survivors (duplicates sort last and report
    * host_rank 0). Per-host survivor counts at web scale are bounded by
    * the crawl's own per-domain page counts; a genuinely degenerate
    * host (10⁸ pages) would take the [[vocabCoverage]] top-k-limit
    * treatment, not a bigger sort. Output: (doc_id, url, host,
    * canon_url, is_url_dup, host_rank, keep). */
  def urlCanonicalDedup(docs: DataFrame, url: Column, maxPerHost: Int,
                        salt: String = "urlcap"): DataFrame =
    urlCapWindows(urlCanonicalize(docs, url), maxPerHost, salt)

  /** The dedup + host-cap windows of [[urlCanonicalDedup]] over a frame
    * that ALREADY carries (doc_id, url, host, canon_url) — so a caller
    * that just canonicalized for the blocklist gate (the web_pipeline
    * funnel) does not pay the ~8-regex canonicalization chain a second
    * time. */
  def urlCapWindows(canon: DataFrame, maxPerHost: Int,
                    salt: String = "urlcap"): DataFrame = {
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_url")).orderBy(col("doc_id"))
    val wHost = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("is_url_dup"), col("draw"), col("doc_id"))
    canon
      .withColumn("is_url_dup", row_number().over(wDup) > 1)
      .withColumn("draw", mdDraw6(salt))
      .withColumn("host_rank",
        when(col("is_url_dup"), lit(0L))
          .otherwise(row_number().over(wHost).cast("long")))
      .withColumn("keep",
        !col("is_url_dup") && col("host_rank") <= maxPerHost)
      .select(col("doc_id"), col("url"), col("host"), col("canon_url"),
        col("is_url_dup"), col("host_rank"), col("keep"))
  }

  /** BM25 ranked retrieval over the corpus for a fixed query term set —
    * the lexical-search leg every retrieval pipeline keeps next to its
    * ANN index. One aggregation pass computes corpus stats (N, Σdl, per-
    * term document frequencies) in a single 1-row frame broadcast back
    * over the docs (the m2/m10 bounded nested-loop pattern); scoring is
    * then a per-row expression — no per-term join, no shuffle beyond
    * the stats aggregate, top-k via TakeOrdered.
    *
    * DEVIATION from textbook BM25, by design: the idf factor is the RAW
    * Robertson ratio (N − df + 0.5)/(df + 0.5), not its logarithm —
    * every other factor is rational, and keeping the score free of
    * transcendentals makes it bit-reproducible in any ANSI engine
    * (ln() is correctly-rounded in neither Java nor most libms, so a
    * log-based score could flake the oracle at rounding boundaries).
    * Ranking monotonicity per term is unaffected. */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = docs.select(col("doc_id"), tokens.as("ts"),
      size(tokens).cast("long").as("dl"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("ts"), t), 1L).otherwise(0L)).as(s"df_$i") }: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("ts"), x => x === t)).cast("double")
      val w = (col("n_docs").cast("double") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5))
      w * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), col("dl"),
        round(score + lit(1e-9), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(topK)
  }

  /** KMV (k-minimum-values) DISTINCT SKETCH per source: the
    * bounded-memory approximate-distinct estimator a 100 TB pipeline
    * uses where exact `COUNT(DISTINCT token)` would shuffle the full
    * vocabulary. Each distinct token hashes to a 60-bit md5 value; with
    * the k smallest hashes per source retained, the k-th smallest h_k
    * estimates D ≈ (k−1) · 2^60 / h_k (uniform order statistics).
    * Sources with fewer than k distinct tokens report exactly.
    *
    * Everything is integer/md5 arithmetic plus one exactly-rounded
    * int→double conversion and one IEEE division, so the DuckDB oracle
    * lands on the identical estimate bit-for-bit. The output keeps the
    * EXACT distinct count next to the estimate as the honesty
    * diagnostic (at production scale you'd drop that column and with it
    * the only expensive aggregation; the sketch itself needs just the
    * distinct-pair shuffle and a per-source sort for the k minima). */
  def kmvDistinct(docs: DataFrame, k: Int = 64): DataFrame = {
    val hashed = docs
      .select(col("source"), explode(array_distinct(tokens)).as("t"))
      .distinct()
      .select(col("source"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    val kth = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k).select(col("source"), col("h").as("hk"))
    // 63 · 2^60: a 6-bit mantissa times a power of two — exact in double
    val scale = lit((k - 1).toDouble) * lit(math.pow(2, 60))
    hashed.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      .join(kth, Seq("source"), "left")
      .select(col("source"), col("n_exact"),
        when(col("hk").isNotNull,
          round(scale / col("hk").cast("double") + lit(1e-9), 2))
          .otherwise(col("n_exact").cast("double")).as("est_distinct"))
  }

  /** Characters of `text` paired with their successors: one
    * (doc_id, a, b) row per adjacent character transition. */
  private def charTransitions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), "").as("cs"))
      .select(col("doc_id"), posexplode(zip_with(
        slice(col("cs"), lit(1), greatest(size(col("cs")) - 1, lit(0))),
        slice(col("cs"), lit(2), greatest(size(col("cs")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as(Seq("i", "p")))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))

  /** Corpus-trained character-bigram LM scoring — the CCNet-style
    * "perplexity" filter: fit transition probabilities p(b|a) =
    * count(a→b) / count(a→·) on the WHOLE corpus, then score every
    * document by its mean transition probability (low = character
    * patterns the corpus finds unusual — mojibake, binary spill,
    * boilerplate) and its single most surprising transition.
    *
    * The "model" is the (alphabet², ≲ a few thousand rows) probability
    * table, broadcast back onto the transition stream — fit-small,
    * score-distributed, the [[graft.models.GbtLocal]] split. Mean uses
    * the exact-decimal sum so the per-doc average is bit-identical
    * across engines; p itself is one exact BIGINT→DOUBLE division.
    * Scoring by arithmetic-mean probability rather than mean LOG
    * probability is deliberate: it keeps the score free of
    * transcendentals (bit-reproducible anywhere) at the cost of
    * weighting surprisal linearly — the ranking it induces serves the
    * same filtering purpose. */
  def charLmScore(docs: DataFrame): DataFrame = {
    // the per-character explode feeds three consumers (both count legs
    // and the scoring join); without the persist each leg re-runs the
    // n_chars-per-doc explode over the corpus
    val trans = graft.CacheScope.persist(charTransitions(docs))
    val c2 = trans.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = trans.groupBy(col("a")).agg(count(lit(1)).as("c1"))
    val probs = c2.join(c1, "a")
      .select(col("a"), col("b"),
        (col("c2").cast("double") / col("c1")).as("p"))
    trans.join(broadcast(probs), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        round(graft.queries.Sql.decAvg(col("p")) + lit(1e-9), 4).as("avg_p"),
        round(min(col("p")) + lit(1e-9), 6).as("min_p"))
  }

  /** REFERENCE-trained word-bigram LM scoring — the other half of the
    * CCNet recipe next to [[charLmScore]]: instead of fitting on the
    * corpus being scored, the model is trained on a curated REFERENCE
    * slice (`trainPred`, CCNet's Wikipedia) and FROZEN, then every
    * document — reference or not — is scored under it. Add-one
    * smoothing handles transitions the reference never saw:
    * p(b|a) = (c2(a,b)+1) / (c1(a)+V), V = distinct reference unigram
    * types, so unseen contexts score 1/V instead of dividing by zero.
    * Per doc: transition count, the count of reference-unseen
    * transitions (the OOV bill CCNet thresholds its head/middle/tail
    * split on), decimal-exact mean probability and min probability.
    *
    * All counts are exact integers, V rides the plan as a 1-row
    * broadcast (no driver action), and the model tables are
    * reference-sized — bounded by the curated slice, not the corpus —
    * so the broadcast-back is the standard fit-small/score-distributed
    * shape at any corpus scale. Mean-probability instead of mean-log
    * keeps the score transcendental-free (see [[charLmScore]]). */
  def refLmScore(docs: DataFrame, trainPred: Column): DataFrame =
    refLmScoreWith(docs, refLmFit(docs, trainPred))

  /** The (doc_id, a, b) adjacent-word-transition stream of a corpus. */
  private def wordTransitions(docs: DataFrame): DataFrame = {
    val ts = tokens
    docs.select(col("doc_id"),
        explode(zip_with(
          slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
          slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("ab"))
      .select(col("doc_id"), col("ab.a").as("a"), col("ab.b").as("b"))
  }

  /** Fit the reference bigram model on the `trainPred` slice of `docs`:
    * (c2(a, b), c1(a), 1-row V) — the frozen state [[refLmScoreWith]]
    * and the streaming scorer consume. */
  def refLmFit(docs: DataFrame, trainPred: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val train = wordTransitions(docs.filter(trainPred))
    val c2 = train.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy(col("a")).agg(count(lit(1)).as("c1"))
    val vdf = train.select(col("a")).union(train.select(col("b")))
      .distinct().agg(count(lit(1)).as("v"))
    (c2, c1, vdf)
  }

  /** [[refLmScore]] under an already-fitted (possibly persisted or
    * stream-frozen) model — scoring only, no fit scans over the scored
    * corpus. */
  def refLmScoreWith(docs: DataFrame,
                     model: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (c2, c1, vdf) = model
    wordTransitions(docs)
      .join(broadcast(c2), Seq("a", "b"), "left")
      .join(broadcast(c1), Seq("a"), "left")
      .crossJoin(broadcast(vdf))
      .withColumn("p",
        (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(when(col("c2").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"),
        round(graft.queries.Sql.decAvg(col("p")) + lit(1e-9), 6).as("avg_p"),
        round(min(col("p")) + lit(1e-9), 8).as("min_p"))
  }

  /** STUPID BACKOFF word-bigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the LM smoothing DESIGNED
    * for MapReduce-scale corpora: no discount normalization, no held-out
    * pass, just raw relative frequencies and a fixed backoff penalty, so
    * the whole frozen model is two count tables a distributed fit
    * produces in two partial-agg groupBys). Complements [[refLmScore]]
    * (add-one smoothing): where add-one flattens every unseen context to
    * 1/V, stupid backoff FALLS BACK to the unigram relative frequency
    * scaled by the published constant α = 0.4.
    *
    * Score per transition (a → b), model frozen on the `trainPred`
    * reference slice:
    *   - bigram seen:   S = c2(a,b) / c1(a)
    *   - else, b seen:  S = (2·cu(b)) / (5·N)     (α = 2/5 exactly)
    *   - else (OOV):    S = 0, billed in `n_oov`
    * Every score is ONE IEEE division of exact integers (the α scaling
    * is folded into integer numerator/denominator BEFORE the divide), so
    * both engines compute identical bits; the per-doc mean is
    * decimal-summed ([[graft.queries.Sql.decSum]]) — order-free.
    *
    * Scale shape: identical to [[refLmScoreWith]] — the model tables are
    * bounded by the reference slice and broadcast; the corpus pays one
    * transition explode + one partial-agg groupBy(doc_id). Output:
    * (doc_id, n_trans, n_backoff, n_oov, avg_s, min_s). */
  def stupidBackoffScore(docs: DataFrame, trainPred: Column): DataFrame = {
    // the train slice feeds FOUR consumers (bigram + context counts via
    // the transition stream, unigram counts, the token total) — scope-
    // persist it so the reference-slice scan runs once, not per table
    // (the refLmLooBySource convention)
    val trainDocs = graft.CacheScope.persist(docs.filter(trainPred))
    val train = graft.CacheScope.persist(wordTransitions(trainDocs))
    val c2 = train.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy(col("a")).agg(count(lit(1)).as("c1"))
    // unigram counts over EVERY train token (not just transition slots):
    // the final token of each reference doc still counts as evidence
    val cu = trainDocs
      .select(explode(tokens).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cu"))
    val ndf = trainDocs.agg(sum(size(tokens)).as("nn"))
    wordTransitions(docs)
      .join(broadcast(c2), Seq("a", "b"), "left")
      .join(broadcast(c1), Seq("a"), "left")
      .join(broadcast(cu), Seq("b"), "left")
      .crossJoin(broadcast(ndf))
      .withColumn("s",
        when(col("c2").isNotNull, col("c2").cast("double") / col("c1"))
          .when(col("cu").isNotNull,
            (col("cu") * 2L).cast("double") / (col("nn") * 5L))
          .otherwise(lit(0.0)))
      .withColumn("bko",
        when(col("c2").isNull && col("cu").isNotNull, 1L).otherwise(0L))
      .withColumn("oov",
        when(col("c2").isNull && col("cu").isNull, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(col("bko")).as("n_backoff"),
        sum(col("oov")).as("n_oov"),
        round(graft.queries.Sql.decAvg(col("s")) + lit(1e-9), 6).as("avg_s"),
        round(min(col("s")) + lit(1e-9), 8).as("min_s"))
  }

  /** LEAVE-ONE-SOURCE-OUT (jackknife) reference-LM scoring — the
    * self-preference audit for corpus quality scores: a document scored
    * under a model its own source helped fit gets an inflated score
    * (its own transitions are in the count tables), so a per-source
    * quality ranking built from [[refLmScore]]-style passes is biased
    * toward big sources. The fix needs NO per-source refit: add-one
    * bigram models are count tables, so the model excluding source s is
    * pure subtraction — c2_loo = c2_total − c2(s), c1_loo likewise, and
    * V_loo = V − (types appearing ONLY in s). One pass builds the total
    * and per-source tables; every transition is then scored under both
    * the full model and the model that never saw its own source.
    *
    * Scale shape: all model tables are vocabulary-bounded (c2 by bigram
    * types, the per-source splits by types × |sources|) and broadcast;
    * the corpus pays one transition explode and one partial-agg
    * groupBy(source). Exactness: integer count arithmetic + the shared
    * one-IEEE-division + decimal-mean recipe of [[refLmScoreWith]].
    * Output per source: n_docs, n_trans, avg_p_full, avg_p_loo — the
    * gap is the measured self-preference. */
  def refLmLooBySource(docs: DataFrame): DataFrame = {
    val ts = tokens
    // the [[wordTransitions]] spelling with `source` carried along; the
    // stream feeds SEVEN consumers (four count tables, the type/source
    // frame twice, the scoring join) — scope-persist it so the corpus
    // explode runs once, not per consumer
    val tr = graft.CacheScope.persist(
      docs.select(col("doc_id"), col("source"),
          explode(zip_with(
            slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
            slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b")))).as("ab"))
        .select(col("doc_id"), col("source"),
          col("ab.a").as("a"), col("ab.b").as("b")))
    val c2t = tr.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2t"))
    val c2s = tr.groupBy(col("a"), col("b"), col("source"))
      .agg(count(lit(1)).as("c2s"))
    val c1t = tr.groupBy(col("a")).agg(count(lit(1)).as("c1t"))
    val c1s = tr.groupBy(col("a"), col("source")).agg(count(lit(1)).as("c1s"))
    val tsrc = tr.select(col("a").as("t"), col("source"))
      .union(tr.select(col("b").as("t"), col("source"))).distinct()
    val vdf = tsrc.select(col("t")).distinct().agg(count(lit(1)).as("v"))
    val excl = tsrc.groupBy(col("t"))
      .agg(count(lit(1)).as("ns"), min(col("source")).as("source"))
      .filter(col("ns") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("vexcl"))
    // the count tables are NOT broadcast-hinted: they are bounded by
    // (bigram types × sources), which on a real corpus is far below the
    // transition stream (vocabulary grows sublinearly) — AQE broadcasts
    // them when they measure small — but on a vocabulary-degenerate
    // corpus (the 100× disjoint-suffix fixture: vocab ~ corpus) a FORCED
    // broadcast would OOM the driver where a shuffled equi-join just
    // scales; measured at 100× docs: 278 s forced → shuffled holds
    // linear. Only the 1-row V total and the |sources|-row exclusive
    // counts are unconditionally tiny.
    tr
      .join(c2t, Seq("a", "b"))
      .join(c2s, Seq("a", "b", "source"))
      .join(c1t, Seq("a"))
      .join(c1s, Seq("a", "source"))
      .crossJoin(broadcast(vdf))
      .join(broadcast(excl), Seq("source"), "left")
      .withColumn("p_full",
        (col("c2t") + lit(1L)).cast("double") / (col("c1t") + col("v")))
      // a source holding the corpus's ENTIRE vocabulary exclusively (a
      // single-source corpus) zeroes the LOO denominator — NULL, not
      // Infinity, in BOTH engines (the oracle's NULLIF), so the per-doc
      // mean goes NULL loudly instead of poisoning the decimal cast
      .withColumn("__dloo",
        col("c1t") - col("c1s") + col("v") - coalesce(col("vexcl"), lit(0L)))
      .withColumn("p_loo",
        when(col("__dloo") > 0,
          (col("c2t") - col("c2s") + lit(1L)).cast("double") / col("__dloo")))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_trans"),
        round(graft.queries.Sql.decAvg(col("p_full")) + lit(1e-9), 6).as("avg_p_full"),
        round(graft.queries.Sql.decAvg(col("p_loo")) + lit(1e-9), 6).as("avg_p_loo"))
  }

  /** CCNet HEAD/MIDDLE/TAIL PERPLEXITY BUCKETS (Wenzek et al. 2020 —
    * the published output shape of the CCNet pipeline): every document
    * scored under the frozen reference LM ([[refLmScore]], the
    * train-on-wiki/score-the-web split), then split PER SOURCE into
    * score terciles — head (most reference-like third), middle, tail.
    * The bucket rule is integer-exact on the per-source rank:
    * rk·3 ≤ n → head, rk·3 ≤ 2n → middle, else tail, ordered by the
    * ROUNDED score (6 dp — already cross-engine exact, quality_ref_ppl
    * is hash-green) descending with doc_id tie-break, so both engines
    * assign identical buckets. One window partitioned by `source` (a
    * data-scale key) over the fit-small/score-distributed refLM pass.
    * At extreme per-source sizes the exact rank's in-partition sort is
    * the cost; the sampled-boundary variant ([[sampledQuantiles]]'s
    * recipe: estimate tercile EDGES on a hash sample, bucket row-local)
    * drops the sort at the price of boundary error — CCNet itself ships
    * the sampled form. Output: (source, bucket, n_docs, n_trans,
    * min_avg_p, max_avg_p). */
  def pplBuckets(docs: DataFrame, trainPred: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val wo = w.orderBy(col("avg_p").desc, col("doc_id"))
    refLmScore(docs, trainPred)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("rk", row_number().over(wo))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("bucket",
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise("tail"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_trans")).as("n_trans"),
        min(col("avg_p")).as("min_avg_p"),
        max(col("avg_p")).as("max_avg_p"))
  }

  /** Row-local KEEP verdict of [[gopherRules]] at its default
    * thresholds, as a reusable Column (the [[qualityCol]] pattern) —
    * lets a composed pass evaluate several gates in ONE scan instead of
    * joining each gate's frame back on doc_id. Same integer
    * cross-multiplied rules, value-identical to `gopherRules(...).keep`
    * at the defaults (pinned in ClassifierSpec). */
  val gopherKeepCol: Column = {
    val ts = tokens
    val n = size(ts).cast("long")
    val sumLen = length(replace(col("text"), lit(" "), lit(""))).cast("long")
    val nd = size(array_distinct(ts)).cast("long")
    val nsd = size(array_distinct(filter(ts, t => t.isInCollection(GopherStopWords))))
      .cast("long")
    n >= 20 && n <= 80 &&
      sumLen >= lit(4L) * n && sumLen <= lit(5L) * n &&
      nd * 100 >= lit(45L) * n && nsd >= 2
  }

  /** Row-local KEEP verdict of [[policyGate]] at its default
    * thresholds ([[PolicyMaxHits]]/[[PolicyMaxPerMille]]), as a
    * reusable Column. */
  val policyKeepCol: Column = {
    val ts = tokens
    val nh = size(filter(ts, t => t.isInCollection(PolicyBannedTerms))).cast("long")
    nh <= PolicyMaxHits &&
      nh * 1000 <= lit(PolicyMaxPerMille.toLong) * size(ts).cast("long")
  }

  // ------------------------------------------------------------- wordpiece

  /** WordPiece parameters, shared with the DuckDB replay. */
  val WpMaxPiece = 4
  val WpTopV = 256

  /** WORDPIECE-STYLE GREEDY TOKENIZATION (the BERT runtime: longest-match
    * subword segmentation under a frequency-built vocabulary) — the
    * second tokenizer family next to BPE, with the opposite design
    * trade: BPE's vocabulary is LEARNED by iterative merges (sequential
    * by nature — see [[bpeLearn]]'s per-round argmax), WordPiece's
    * greedy RUNTIME needs only a ranked substring table, so the whole
    * fit is two partial-agg groupBys + one top-k — no sequential rounds
    * at all, the cheapest possible tokenizer to fit at corpus scale.
    *
    * Vocabulary: every single character of the corpus (the coverage
    * guarantee) + the top [[WpTopV]] multi-character substrings
    * (length 2..[[WpMaxPiece]]) of corpus words weighted by occurrence,
    * ranked (count desc, piece asc) — deterministic ties. Encoding:
    * greedy longest prefix match, one pass per DISTINCT word (the
    * corpus-frequency join-back pays per type, not per token). The
    * vocabulary is model-sized, broadcast; the oracle replays the fit
    * relationally and the greedy walk as a recursive CTE.
    *
    * Output per source: word/type/piece counts, characters that fell
    * outside the vocabulary (zero on the fit corpus by construction),
    * and the fertility pieces/word — comparable across tokenizers with
    * [[bpeFertility]]. */
  /** Shared SUBWORD FIT of the WordPiece and Unigram tokenizers:
    * (source, w, wc) word-occurrence counts (scope-persisted — both the
    * fit and the encode join-back read it) and the frequency vocabulary
    * as (piece, cnt) rows — every single corpus character (coverage) +
    * the top [[WpTopV]] multi-character substrings, ranked (cnt desc,
    * piece asc). */
  private def subwordFit(docs: DataFrame): (DataFrame, DataFrame) = {
    val words = graft.CacheScope.persist(
      docs.select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("wc")))
    val wtot = words.groupBy(col("w")).agg(sum(col("wc")).as("cnt"))
    val pieces = wtot
      // greatest(len, 1): sequence(1, 0) would DESCEND in Spark (DuckDB's
      // range(1, 1) is empty); the i + k − 1 ≤ len filter then drops the
      // lone i = 1 row for an empty word on both engines identically
      .select(col("w"), col("cnt"),
        explode(sequence(lit(1), greatest(length(col("w")), lit(1)))).as("i"))
      .select(col("w"), col("cnt"), col("i"),
        explode(sequence(lit(1), lit(WpMaxPiece))).as("k"))
      .filter(col("i") + col("k") - 1 <= length(col("w")))
      .select(col("w").substr(col("i"), col("k")).as("p"), col("cnt"), col("k"))
    val agg = pieces.groupBy(col("p"), col("k")).agg(sum(col("cnt")).as("cnt"))
    val chars = agg.filter(col("k") === 1).select(col("p"), col("cnt"))
    val multi = agg.filter(col("k") > 1)
      .orderBy(col("cnt").desc, col("p")).limit(WpTopV)
      .select(col("p"), col("cnt"))
    (words, chars.union(multi))
  }

  def wordpieceStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val (words, vocabCnt) = subwordFit(docs)
    val vocab = vocabCnt.select(col("p")).distinct()
      .collect().map(_.getString(0)).toSet
    val bc = spark.sparkContext.broadcast(vocab)
    val enc = udf((w: String) => {
      var pos = 0; var n = 0L; var oov = 0L
      while (pos < w.length) {
        var k = math.min(WpMaxPiece, w.length - pos)
        while (k > 1 && !bc.value.contains(w.substring(pos, pos + k))) k -= 1
        if (k == 1 && !bc.value.contains(w.substring(pos, pos + 1))) oov += 1
        n += 1; pos += k
      }
      Array(n, oov)
    })
    words
      .withColumn("e", enc(col("w")))
      .select(col("source"), col("wc"),
        element_at(col("e"), 1).as("np"), element_at(col("e"), 2).as("no"))
      .groupBy(col("source"))
      .agg(sum(col("wc")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("wc") * col("np")).as("n_pieces"),
        sum(col("wc") * col("no")).as("n_oov_chars"))
      .withColumn("fertility",
        round(col("n_pieces").cast("double") / col("n_words") + lit(1e-9), 6))
  }

  /** UNIGRAM-LM VITERBI SEGMENTATION (the SentencePiece/Kudo-2018
    * runtime — the third tokenizer family next to BPE's merge loop and
    * WordPiece's greedy match): under a piece-probability model
    * p(piece) = cnt/Σcnt over the SAME frequency vocabulary as
    * [[wordpieceStats]], each word takes the segmentation maximizing
    * Π p(pieceᵢ) — found by Viterbi DP over character positions.
    * A frequency vocabulary is SUBSTRING-CLOSED (every substring of a
    * kept piece is at least as frequent, so the top-V cut removes long
    * pieces first) — under closure greedy longest-match already matches
    * unigram on piece COUNT; where unigram differs is boundary CHOICE
    * (likelihood prefers frequent pieces over long ones: aaab+bb vs
    * aaa+bbb). Both segmenters run in one pass per DISTINCT word; the
    * output counts boundary disagreements per source
    * (`n_words_diffseg`, compared via the boundary BITMASK Σ 2^endpos —
    * exact and collision-free for words ≤ 62 chars, positions past 62
    * masked to 0 identically in both engines; non-vacuity pinned on a
    * constructed corpus in ClassifierSpec).
    *
    * Cross-engine exactness without logs: every Viterbi value is a
    * product of piece probabilities built by the SAME multiplication
    * sequence in both engines (induction over positions: identical
    * priors × identical one-division probabilities), so comparisons and
    * ties (largest piece wins equal likelihood) resolve identically;
    * probabilities stay ≥ ~1e-30 at word lengths here — no underflow.
    * Scale shape: the fit is [[subwordFit]] (two partial aggs + one
    * top-k); segmentation pays per distinct word under the broadcast
    * model-sized vocabulary. */
  def unigramStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val (words, vocabCnt) = subwordFit(docs)
    val rows = vocabCnt.collect().map(r => r.getString(0) -> r.getLong(1))
    val total = rows.map(_._2).sum
    val bc = spark.sparkContext.broadcast(rows.toMap)
    val seg = udf((w: String) => {
      val m = bc.value
      val n = w.length
      def bit(ii: Int): Long = if (ii <= 62) 1L << ii else 0L
      val best = Array.fill(n + 1)(0.0); best(0) = 1.0
      val np = Array.fill(n + 1)(0L)
      val mk = Array.fill(n + 1)(0L)
      var i = 1
      while (i <= n) {
        var bv = -1.0; var bk = 0
        var k = 1
        while (k <= math.min(WpMaxPiece, i)) {
          m.get(w.substring(i - k, i)).foreach { c =>
            val v = best(i - k) * (c.toDouble / total)
            if (v >= bv) { bv = v; bk = k } // ties: the LONGEST piece wins
          }
          k += 1
        }
        if (bk == 0) { best(i) = 0.0; np(i) = np(i - 1) + 1; mk(i) = mk(i - 1) | bit(i) }
        else { best(i) = bv; np(i) = np(i - bk) + 1; mk(i) = mk(i - bk) | bit(i) }
        i += 1
      }
      var pos = 0; var g = 0L; var gm = 0L
      while (pos < n) {
        var k2 = math.min(WpMaxPiece, n - pos)
        while (k2 > 1 && !m.contains(w.substring(pos, pos + k2))) k2 -= 1
        g += 1; pos += k2; gm |= bit(pos)
      }
      Array(np(n), mk(n), g, gm)
    })
    words.withColumn("e", seg(col("w")))
      .select(col("source"), col("wc"),
        element_at(col("e"), 1).as("nu"), element_at(col("e"), 2).as("mu"),
        element_at(col("e"), 3).as("ng"), element_at(col("e"), 4).as("mg"))
      .groupBy(col("source"))
      .agg(sum(col("wc")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("wc") * col("nu")).as("n_pieces_unigram"),
        sum(col("wc") * col("ng")).as("n_pieces_greedy"),
        sum(when(col("mu") =!= col("mg"), col("wc")).otherwise(0L))
          .as("n_words_diffseg"))
      .withColumn("fertility_unigram",
        round(col("n_pieces_unigram").cast("double") / col("n_words")
          + lit(1e-9), 6))
  }

  // ------------------------------------------------------- linear classifier

  /** Hashed-feature linear-classifier constants — shared with the DuckDB
    * replay so the two trainings cannot desync. `ClsScale` is the
    * fixed-point unit: probabilities live in [0, ClsScale] as integers. */
  val ClsBuckets = 4096
  val ClsIters = 16
  val ClsScale = 1000000L
  val ClsEtaNum = 1L
  val ClsEtaDen = 2L

  /** Markers injected per document by [[injectLangMarkers]]. */
  val MarkerInjectK = 3

  /** Deterministic LANGUAGE-MARKER INJECTION — the classifier twin of the
    * [[mojibake]]/C4/HTML injectors: the synthetic corpus draws every
    * document's tokens from ONE shared vocabulary regardless of `lang`
    * (measured: every candidate label's Bayes accuracy is the majority
    * class), so to exercise a LEARNED gate the fixture must plant the
    * signal real corpora carry — function words. Each document gets
    * [[MarkerInjectK]] of its own language's [[langMarkers]] prepended,
    * rotation-selected by doc_id (position (doc_id + i) mod |markers|),
    * so the planted evidence is deterministic, varies across documents,
    * and never includes another language's markers. Only 'the'/'a'
    * collide with the base vocabulary (measured) — at most 2 of en's 3
    * picks, never all, so every English document carries at least one
    * distinctive marker. */
  def injectLangMarkers(docs: DataFrame): DataFrame = {
    val m = typedlit(langMarkers.toMap)
    val arr = element_at(m, col("lang"))
    val pref = concat_ws(" ", (0 until MarkerInjectK).map(i =>
      element_at(arr,
        ((col("doc_id") + i) % size(arr)).cast("int") + 1)): _*)
    docs.withColumn("text", concat(pref, lit(" "), col("text")))
  }

  /** Per-document hashed bag-of-words feature row for the fastText-shape
    * classifier: (doc_id, lang, y, is_train, bs) where `bs` is the bias
    * feature −1 prepended to the SORTED DISTINCT md5-hash buckets of the
    * document's tokens (binary presence features — bounded magnitudes, so
    * every fixed-point quantity below has an auditable overflow bound).
    * The train split is the content-independent [[mdDraw6]] draw. */
  def classifierFeatures(docs: DataFrame, labelPred: Column,
                         trainSalt: String = "clsft",
                         trainFrac: Double = 0.5): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      when(labelPred, 1L).otherwise(0L).as("y"),
      when(mdDraw6(trainSalt) < drawThreshold(trainFrac), 1L).otherwise(0L)
        .as("is_train"),
      clsBucketArr.as("bs"))

  /** Bias feature −1 + sorted distinct hashed buckets of `text` — the
    * one feature spelling shared by the fit, the batch scorer, and the
    * streaming gate. */
  private def clsBucketArr: Column = {
    val bucket = (t: Column) =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long") % ClsBuckets
    concat(array(lit(-1L)), array_sort(array_distinct(transform(tokens, bucket))))
  }

  /** Margin/probability/verdict columns over a frame carrying `bs` —
    * the scoring core of [[classifierScore]] and [[classifierGate]]. */
  private def clsScoreOn(withBs: DataFrame, w: Array[Long]): DataFrame = {
    val wl = typedlit(w.toSeq)
    withBs
      .withColumn("margin", aggregate(col("bs"), lit(0L),
        (acc, b) => acc + element_at(wl, (b + lit(2L)).cast("int"))))
      .withColumn("p6", expr(clsProbExpr("margin")))
      .withColumn("prob",
        round(col("p6").cast("double") / ClsScale + lit(1e-9), 6))
      .withColumn("pred",
        when(col("p6") * 2L >= ClsScale, 1L).otherwise(0L))
  }

  /** SERVE-PATH classifier gate: score raw (doc_id, text) rows under
    * frozen weights — no label, no split, nothing but the text column;
    * the form an ingest stream applies per batch
    * ([[CurationStreams.classifierGateStream]]).
    * Row-local given the literal weight array: zero shuffles, zero
    * state. */
  def classifierGate(docs: DataFrame, w: Array[Long]): DataFrame =
    clsScoreOn(docs.select(col("doc_id"), clsBucketArr.as("bs")), w)
      .select(col("doc_id"), col("margin"), col("prob"), col("pred"))

  /** Fixed-point rational sigmoid over a materialized `m` margin column:
    * σ̃(m) = S/2 + m·S / (2·(S + |m|)) — the "fast sigmoid"
    * m/(1+|m|) shifted into [0, S]. Rational, so it is EXACT integer
    * arithmetic in both engines (`div` and DuckDB's `//` both truncate
    * toward zero — verified); no transcendental ever enters the fit. */
  private def clsProbExpr(m: String): String =
    s"${ClsScale / 2}L + ($m * ${ClsScale}L) div (2L * (${ClsScale}L + abs($m)))"

  /** FASTTEXT-SHAPE LINEAR CLASSIFIER FIT (Joulin et al. 2016, "Bag of
    * Tricks for Efficient Text Classification" — the hashed-feature
    * linear model every published web pipeline reaches for when it needs
    * a learned quality/language gate): logistic regression over
    * [[classifierFeatures]], trained by full-batch gradient descent kept
    * ENTIRELY IN FIXED-POINT INTEGERS — margins are integer sums of
    * integer weights, the sigmoid is rational ([[clsProbExpr]]), the
    * update divides integer gradient sums by the integer train count —
    * so the whole trajectory is bit-replayable in DuckDB, the same way
    * [[graft.queries.TextQueries]]'s DoReMi reweighting trajectory is.
    *
    * Scale shape: each of the [[ClsIters]] iterations is one pass over
    * the persisted feature relation — a row-local margin fold (the
    * weights ride the plan as a [[ClsBuckets]]+1 literal array, the
    * emb_pca_power pattern) and ONE partial-agg groupBy(bucket) whose
    * result is the (ClsBuckets+1)-row gradient collected to the driver.
    * Nothing driver-side ever scales with the corpus; the train count n
    * enters only as a divisor. Overflow bounds (long): |update| ≤ η·S →
    * |w| ≤ T·η·S ≈ 3.2e7, |margin| ≤ (D+1)·|w| ≈ 2.1e9, the sigmoid
    * numerator ≤ 2.1e15, a gradient sum ≤ n·S — safe past 1e12 train
    * docs. */
  def classifierFit(feats: DataFrame): Array[Long] = {
    val n = feats.filter(col("is_train") === 1L).count()
    require(n > 0, "classifierFit: empty train split")
    var w = Array.fill(ClsBuckets + 1)(0L)
    for (_ <- 1 to ClsIters) {
      val wl = typedlit(w.toSeq)
      val grads = feats.filter(col("is_train") === 1L)
        .withColumn("m", aggregate(col("bs"), lit(0L),
          (acc, b) => acc + element_at(wl, (b + lit(2L)).cast("int"))))
        .withColumn("e", expr(clsProbExpr("m")) - col("y") * ClsScale)
        .select(explode(col("bs")).as("b"), col("e"))
        .groupBy(col("b")).agg(sum(col("e")).as("g"))
        .collect()
      val nw = w.clone()
      grads.foreach { r =>
        val b = r.getLong(0); val g = r.getLong(1)
        nw((b + 1).toInt) = w((b + 1).toInt) - (g * ClsEtaNum) / (n * ClsEtaDen)
      }
      w = nw
    }
    w
  }

  /** Score every document under a fitted weight vector: margin (exact
    * integer), calibrated probability (ONE IEEE divide of the fixed-point
    * sigmoid by S, then the shared rounding), and the 0/1 verdict at
    * p ≥ 1/2 — compared in INTEGERS (2·p̃ ≥ S), so no float boundary can
    * flip a verdict across engines. Row-local given the literal weights:
    * zero shuffles, whole-stage codegen. */
  def classifierScore(feats: DataFrame, w: Array[Long]): DataFrame =
    clsScoreOn(feats, w)
      .select(col("doc_id"), col("lang"), col("y"), col("is_train"),
        col("margin"), col("prob"), col("pred"))

  /** Winnowing defaults — gram width, window width, posting-list df
    * cap, and the shared-fingerprint pair threshold; shared with the
    * DuckDB replay so the two selections cannot desync. */
  val WinnowK = 5
  val WinnowW = 4
  val WinnowDfCap = 50
  val WinnowMinShared = 2

  /** Per-document WINNOWED FINGERPRINT SELECTION (Schleimer et al.
    * 2003, the MOSS algorithm — the guarantee-bearing alternative to
    * MinHash for SUB-document overlap): hash every k-token gram, slide
    * a w-window over the hash sequence, select each window's minimum
    * (ties to the RIGHTMOST — robust winnowing, so a run of equal
    * hashes selects once), dedupe selections. Any shared substring of
    * ≥ w + k − 1 tokens is GUARANTEED to share a fingerprint — the
    * detection floor is a parameter, not a probability (the contrast
    * with the minhash family).
    *
    * Shape note (learned the hard way): the first cut did the whole
    * selection as ROW-LOCAL nested array lambdas — transform over
    * windows of element_at into a transform-built hash array. Nested
    * higher-order lambdas are interpreted, and single-referenced
    * aliases collapse INTO the lambda, so every element access
    * re-evaluated the gram-hash array and the token split underneath
    * it: O(grams²·w·k) string work per document — minutes on 500 docs.
    * This spelling is the [[repeatedSpans]] shape instead: explode
    * gram ROWS (the array becomes an attribute, evaluated once), then
    * one doc_id-partitioned sliding window whose min-struct —
    * struct(h, −pos), lexicographic in both engines — is the
    * rightmost-tie argmin. One data-scale-keyed shuffle, O(w) per row.
    * Output rows: (doc_id, n_grams, h, np) — distinct selections;
    * [[winnowingStats]] and [[winnowingPairs]] consume them. */
  def winnowedFps(docs: DataFrame, k: Int = WinnowK,
                  w: Int = WinnowW): DataFrame = {
    val ts = tokens
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p")).rowsBetween(0, w - 1)
    docs.select(col("doc_id"), ts.as("__ts"), size(ts).as("__n"))
      .filter(col("__n") >= k)
      .select(col("doc_id"), (col("__n") - (k - 1)).cast("long").as("n_grams"),
        explode(sequence(lit(1), col("__n") - (k - 1))).as("p"), col("__ts"))
      .select(col("doc_id"), col("n_grams"), col("p"),
        conv(substring(md5(concat_ws(" ",
          (0 until k).map(i => element_at(col("__ts"), col("p") + i)): _*)),
          1, 15), 16, 10).cast("long").as("h"))
      .withColumn("sel", min(struct(col("h"),
        (-col("p")).cast("long").as("np"))).over(wnd))
      .filter(col("p") <= greatest(col("n_grams") - (w - 1), lit(1L)))
      .select(col("doc_id"), col("n_grams"),
        col("sel.h").as("h"), col("sel.np").as("np"))
      .distinct()
  }

  /** Winnowing density diagnostic: selected-fingerprint count and the
    * selection density (expected ≈ 2/(w+1) — the paper's bound; a
    * density far above it flags degenerate/repetitive text).
    * Output: (doc_id, n_grams, n_fps, density). */
  def winnowingStats(docs: DataFrame, k: Int = WinnowK,
                     w: Int = WinnowW): DataFrame =
    winnowedFps(docs, k, w)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_fps"))
      .select(col("doc_id"), col("n_grams"), col("n_fps"),
        round(col("n_fps").cast("double") / col("n_grams") + lit(1e-9), 4)
          .as("density"))

  /** MOSS-style overlap pairs over the winnowed sets: explode the
    * per-doc fingerprints, df-cap the posting lists (a fingerprint in
    * more than `dfCap` docs is boilerplate, not evidence — the capped
    * posting-list recipe of the dedup family, so no hot hash ever
    * drives a quadratic bucket), equi-join postings, keep pairs sharing
    * ≥ `minShared` fingerprints. Candidate work is Σ df² over capped
    * lists — linear in corpus size at fixed cap. Output: (doc_a, doc_b,
    * shared_fps). */
  def winnowingPairs(docs: DataFrame, k: Int = WinnowK, w: Int = WinnowW,
                     dfCap: Int = WinnowDfCap,
                     minShared: Int = WinnowMinShared): DataFrame = {
    val fp = winnowedFps(docs, k, w)
      .select(col("doc_id"), col("h")).distinct()
    val fpp = graft.CacheScope.persist(fp)
    val kept = fpp.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select(col("h"))
    val fk = graft.CacheScope.persist(fpp.join(kept, Seq("h")))
    fk.select(col("h"), col("doc_id").as("doc_a"))
      .join(fk.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Incremental-ingest form of [[winnowingPairs]] (the
    * dedup_incremental shape for the guarantee-bearing family): the
    * arriving batch (doc_id ≥ splitId) is screened against the OLDER
    * corpus's fingerprint index only — never a corpus self-pair pass.
    * The df cap is applied to the INDEX postings before the probe join,
    * so a boilerplate fingerprint can't fan every arriving doc out by
    * its document frequency. In production the old index (fp + kept) is
    * the build-once/append-many persisted artifact ([[graft.pipeline
    * .VectorOps]] ivfKmeansAppend note) and per-batch cost is
    * O(|batch| · fps/doc); recomputing it here is the test-form of the
    * same plan. Output: (new_id, old_id, shared_fps). */
  def winnowingIncremental(docs: DataFrame, splitId: Long,
                           k: Int = WinnowK, w: Int = WinnowW,
                           dfCap: Int = WinnowDfCap,
                           minShared: Int = WinnowMinShared): DataFrame = {
    val fp = graft.CacheScope.persist(
      winnowedFps(docs, k, w).select(col("doc_id"), col("h")).distinct())
    val old = fp.filter(col("doc_id") < splitId)
    val kept = old.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select(col("h"))
    fp.filter(col("doc_id") >= splitId)
      .select(col("h"), col("doc_id").as("new_id"))
      .join(old.join(kept, Seq("h"))
        .select(col("h"), col("doc_id").as("old_id")), Seq("h"))
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Corpus-wide top-k token bigrams by occurrence count (vocabulary
    * statistics over the whole corpus): explode each document's adjacent
    * token pairs, count per bigram, keep the k most frequent (ties by
    * bigram text, fully deterministic). The groupBy's map-side partial
    * aggregation collapses the exploded rows before the single shuffle,
    * and the final top-k is a TakeOrdered over the (distinct-bigram-sized)
    * aggregate — no global sort materializes. */
  def topBigrams(docs: DataFrame, k: Int): DataFrame = {
    val ts = tokens
    docs
      .select(posexplode(zip_with(
        slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
        slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as(Seq("i", "bigram")))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** LINE-LEVEL DEDUP (CCNet-style boilerplate removal): split every
    * document into non-overlapping `window`-token "lines" (the synthetic
    * corpus has no newlines, so fixed token windows stand in for the
    * newline split a web corpus would use — boundary math shared with
    * [[chunkDocs]] at stride = window), keep only each line's globally
    * FIRST occurrence (lowest (doc_id, line index)), and report per
    * document how much survived. The dedup is aggregation-based — one
    * groupBy(line hash) with map-side partial aggregation taking
    * min(struct(doc_id, pos)) — NOT a row_number window over the hash:
    * a boilerplate line repeated 10M times would funnel one window
    * partition through one task, while min() stays mergeable at any
    * multiplicity. Output: (doc_id, n_lines, n_dup_lines, kept_tokens,
    * dup_line_frac). */
  def lineDedup(docs: DataFrame, window: Int = 10): DataFrame = {
    require(window > 0, "positive line window")
    // lines = non-overlapping chunkDocs windows (stride = window): the
    // boundary math lives in ONE place; the frame feeds both the
    // firsts aggregation and the join, so it is scope-persisted rather
    // than re-derived per consumer
    val lines = graft.CacheScope.persist(
      chunkDocs(docs, window, window)
        .select(col("doc_id"), col("chunk_id").as("pos"),
          md5(col("chunk_text")).as("h"),
          col("n_tokens").as("line_toks")))
    val firsts = lines.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    lines.join(firsts, Seq("h"))
      .withColumn("dup",
        struct(col("doc_id"), col("pos")) =!= col("first"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_lines"),
        sum(when(col("dup"), 0L).otherwise(col("line_toks"))).as("kept_tokens"))
      .withColumn("dup_line_frac",
        round(col("n_dup_lines").cast("double") / col("n_lines") + lit(1e-9), 4))
  }

  /** LINE-LEVEL CORPUS SCRUB — the REMOVAL form of [[lineDedup]] (the
    * CCNet line-dedup pass as production runs it): every line keeps its
    * corpus-wide FIRST occurrence (min (doc_id, pos) — the same keeper
    * rule lineDedup reports against) and later duplicates are DROPPED
    * from the reconstructed text, so the output is the scrubbed corpus
    * itself, not just the fraction report. Same plan shape as lineDedup
    * (line explode → first-occurrence partial agg on the line hash →
    * join back) plus one per-doc ordered re-join: the collect_list
    * payload is each document's own kept lines — bounded by the
    * document, never the corpus. A document made entirely of seen lines
    * reconstructs to the empty string (dropped by any downstream length
    * gate). Output: (doc_id, n_lines, n_dup_lines, kept_tokens,
    * clean_text). */
  def lineScrub(docs: DataFrame, window: Int = 10): DataFrame = {
    require(window > 0, "positive line window")
    val lines = graft.CacheScope.persist(
      chunkDocs(docs, window, window)
        .select(col("doc_id"), col("chunk_id").as("pos"), col("chunk_text"),
          md5(col("chunk_text")).as("h"),
          col("n_tokens").as("line_toks")))
    val firsts = lines.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    lines.join(firsts, Seq("h"))
      .withColumn("dup", struct(col("doc_id"), col("pos")) =!= col("first"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_lines"),
        sum(when(col("dup"), 0L).otherwise(col("line_toks"))).as("kept_tokens"),
        array_join(transform(
          sort_array(collect_list(when(!col("dup"),
            struct(col("pos"), col("chunk_text"))))),
          x => x("chunk_text")), " ").as("clean_text"))
  }

  /** REPEATED-SUBSTRING SPANS (the token-level flavor of suffix-array
    * substring dedup — Lee et al. 2021, arXiv 2107.06499): every sliding
    * `k`-token gram that occurs more than once in the corpus marks its
    * positions "repeated"; maximal runs of consecutive repeated positions
    * merge into spans, the units a substring-dedup pass would trim. The
    * gram index is the same explode → groupBy(hash) shape as the shingle
    * inverted index (equi-joins only, never all-pairs); the run merge is
    * a per-document window (bounded by document length) with the
    * gaps-and-islands cumulative-break pattern shared with
    * [[EventOps.sessionize]]. Output: one row per span — (doc_id,
    * span_start 1-based gram pos, n_grams, span_tokens). */
  def repeatedSpans(docs: DataFrame, k: Int = 5): DataFrame = {
    val ts = tokens
    val grams = docs
      .select(col("doc_id"), ts.as("ts"), size(ts).as("n"))
      .filter(col("n") >= k) // sub-k docs hold no full gram
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("p"),
        col("ts"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        md5(concat_ws(" ",
          (0 until k).map(i => element_at(col("ts"), col("p").cast("int") + i)): _*))
          .as("h"))
    val rep = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    grams.join(rep, Seq("h"))
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) === 1L, 0L).otherwise(1L))
      .withColumn("span", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span"))
      .agg(min(col("p")).as("span_start"), count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("n_grams"),
        (col("n_grams") + (k - 1)).as("span_tokens"))
  }

  /** REPEATED-SUBSTRING SCRUB — the REMOVAL form of [[repeatedSpans]]
    * (the trim an ExactSubstr dedup pass applies — Lee et al. 2021,
    * arXiv 2107.06499 §4.2): a token is DROPPED when every `k`-gram
    * covering it is a NON-FIRST occurrence of a corpus-repeated gram
    * (keeper = corpus-wide min (doc_id, p) per gram hash, the same
    * skew-safe min-struct keeper rule [[lineScrub]] uses — never a
    * window over the gram hash). Requiring ALL covering grams to be
    * dup occurrences keeps the k−1 boundary tokens on each side of a
    * removed region — conservative trimming, so the first occurrence
    * and its surrounding context always survive verbatim. Work is
    * n·k coverage rows (k constant) through partial-agg groupBys; the
    * reconstruction collect is each document's own kept tokens —
    * bounded by the document, never the corpus. Documents shorter than
    * `k` tokens hold no gram and pass through unchanged. Output:
    * (doc_id, n_tokens, n_dropped, clean_text). */
  def spanScrub(docs: DataFrame, k: Int = 5): DataFrame = {
    val ts = tokens
    val base = docs.select(col("doc_id"), ts.as("ts"), size(ts).as("n"))
    // gram frame feeds the keeper aggregation AND the join back: one
    // explode, scope-persisted
    val grams = graft.CacheScope.persist(base.filter(col("n") >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("p"), col("ts"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        md5(concat_ws(" ",
          (0 until k).map(i => element_at(col("ts"), col("p").cast("int") + i)): _*))
          .as("h")))
    val firsts = grams.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("p"))).as("first"),
        count(lit(1)).as("occ"))
    val dupg = grams.join(firsts, Seq("h"))
      .select(col("doc_id"), col("p"),
        (col("occ") >= 2 &&
          struct(col("doc_id"), col("p")) =!= col("first")).as("dup"))
    // token i is covered by grams p in [i-k+1, i]; min over the flag =
    // "all covering grams are dup occurrences" (bool_and as min-int,
    // mergeable at any multiplicity)
    val cov = dupg
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("i"),
        col("dup"))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(when(col("dup"), 1L).otherwise(0L)).as("alldup"))
    val toks = base
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("tok"))
    toks.join(cov, Seq("doc_id", "i"), "left")
      .withColumn("drop", coalesce(col("alldup"), lit(0L)) === 1L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          sort_array(collect_list(when(!col("drop"),
            struct(col("i"), col("tok"))))),
          x => x("tok")), " ").as("clean_text"))
  }

  /** PER-SOURCE TF-IDF KEYWORD EXTRACTION: the top-`topK` terms that
    * characterize each source — tf (term occurrences within the source)
    * times a RATIONAL idf (N+1)/(df+1), the same transcendental-free
    * trade [[bm25]] and [[dsirWeights]] make so both engines land the
    * identical double (int→double conversions, one division, one
    * multiplication — each correctly rounded IEEE). Terms appearing in
    * more than `maxDfPct`% of the corpus' documents are cut first (the
    * document-frequency stopword rule, integer cross-multiplied), which
    * is what keeps tf·idf keyword-shaped without a log; the production
    * default is 50%. The top-k is TWO-PHASE against
    * vocabulary-scale window skew: phase 1 ranks inside (source,
    * hash-bucket of the term) — `fanout` bounded partitions per source
    * — and phase 2 re-ranks the ≤ fanout·topK phase-1 survivors per
    * source (a superset of the global top-k by construction, so the
    * result is EXACTLY the single-window answer while no partition ever
    * holds a source's whole vocabulary). Output: (source, term, tf, df,
    * score, rk ≤ topK). */
  def tfidfTerms(docs: DataFrame, topK: Int = 10,
                 fanout: Int = 64, maxDfPct: Int = 50): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // one token explode feeds both the df and tf aggregations
    val tok = graft.CacheScope.persist(
      docs.select(col("doc_id"), col("source"), explode(tokens).as("t")))
    val n = docs.agg(count(lit(1)).as("n"))
    val dft = tok.select(col("t"), col("doc_id")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val tft = tok.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val sc = tft.join(dft, Seq("t")).crossJoin(broadcast(n))
      .filter(col("df") * 100 <= col("n") * maxDfPct)
      .select(col("source"), col("t").as("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          ((col("n") + 1).cast("double") / (col("df") + 1).cast("double")) +
          lit(1e-9), 6).as("score"))
    val bucket = conv(substring(md5(col("term")), 1, 15), 16, 10)
      .cast("long") % fanout
    val ord: Seq[Column] = Seq(col("score").desc, col("tf").desc, col("term"))
    val phase1 = sc
      .withColumn("rk1", row_number().over(
        W.partitionBy(col("source"), bucket).orderBy(ord: _*)))
      .filter(col("rk1") <= topK)
    phase1
      .withColumn("rk", row_number().over(
        W.partitionBy(col("source")).orderBy(ord: _*)).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("source"), col("term"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  /** DSIR-style IMPORTANCE WEIGHTS (Xie et al. 2023, arXiv 2302.03169):
    * score each document by how much its hashed-unigram profile looks
    * like a target slice (here the `lang = 'en'` documents) relative to
    * the raw corpus. Features are `buckets` hash buckets of token md5s;
    * both distributions are Laplace-smoothed counts.
    *
    * DEVIATION from the paper, by design: the per-feature log-ratio sum
    * becomes a count-weighted sum of RAW smoothed ratios (each ratio one
    * IEEE division of exact integers, each term one multiplication,
    * decimal-summed order-independently) — the same
    * transcendental-free trade [[bm25]] and [[charLmScore]] make so the
    * oracle lands bit-identically; ranking direction is preserved.
    * Shape: one token explode feeding two partial-aggregated groupBys
    * (the 64-row ratio table broadcasts back), linear at any corpus
    * size. Output: (doc_id, n_feat, dsir_weight). */
  def dsirWeights(docs: DataFrame, targetPred: Column,
                  buckets: Int = 64): DataFrame = {
    // the token explode + md5 bucketing feeds two groupBys with
    // different keys (bucket table and per-doc counts) whose exchanges
    // cannot be reused — scope-persist it so the dominant stage runs
    // once, not twice
    val feat = graft.CacheScope.persist(docs
      .select(col("doc_id"), targetPred.as("is_t"), explode(tokens).as("t"))
      .select(col("doc_id"), col("is_t"),
        (conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long") % buckets).as("b")))
    val table = feat.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tots = table.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    // ratio(b) = ((ct+1)·(tr+B)) / ((cr+1)·(tt+B)), each factor cast to
    // double BEFORE multiplying: int→double conversion and IEEE multiply
    // round identically in any engine, and unlike the BIGINT product
    // this form cannot overflow at web-corpus token counts (the m9/J6
    // overflow lesson applied proactively)
    val ratios = table.crossJoin(broadcast(tots))
      .select(col("b"),
        ((col("ct") + 1).cast("double") * (col("tr") + buckets).cast("double") /
          ((col("cr") + 1).cast("double") * (col("tt") + buckets).cast("double"))).as("r"))
    // weight = token-count-weighted MEAN ratio (not the raw sum, which
    // scales with document length and would rank long documents over
    // on-distribution ones)
    feat.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        round(graft.queries.Sql.decSum(round(col("cnt") * col("r"), 6)) /
          sum(col("cnt")) + lit(1e-9), 4).as("dsir_weight"))
  }

  /** PER-SOURCE LENGTH QUANTILE SKETCH: approximate p50/p90/p99 of
    * document token counts from a fixed-width histogram (`binWidth`
    * tokens per bin) — the mergeable bounded-memory form percentile
    * monitoring takes at 100 TB, where an exact per-source sort is a
    * full shuffle of every row. Bin counts are additive (combine across
    * partitions/days for free); the reported quantile is the LOWER EDGE
    * of the first bin whose cumulative count reaches ceil(q·n) — error
    * bounded by binWidth, all integer arithmetic. The exact p50 stays
    * next to the estimate as the honesty column (same contract as
    * [[kmvDistinct]]). */
  def lenQuantiles(docs: DataFrame, binWidth: Int = 16): DataFrame = {
    val base = docs.select(col("source"), size(tokens).cast("long").as("n"))
    val binned = base
      .groupBy(col("source"), expr(s"n div $binWidth").as("bin"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binned
      .withColumn("cumc", sum(col("c")).over(w))
      .withColumn("ntot", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
    def qEdge(q: Double, name: String) =
      min(when(col("cumc") * 100 >= col("ntot") * math.round(q * 100),
        col("bin") * binWidth)).as(name)
    val est = cum.groupBy(col("source")).agg(
      count(lit(1)).as("n_bins"),
      max(col("ntot")).as("n_docs"),
      qEdge(0.5, "p50_lo"), qEdge(0.9, "p90_lo"), qEdge(0.99, "p99_lo"))
    val exact = base.groupBy(col("source"))
      .agg(expr("percentile(n, 0.5)").as("p50_exact"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_bins"),
        col("p50_lo"), col("p90_lo"), col("p99_lo"),
        round(col("p50_exact") + lit(1e-9), 1).as("p50_exact"))
  }

  /** EXACT-k STRATIFIED SAMPLE: the deterministic "exactly k documents
    * per stratum" draw (the companion to the rate-based
    * [[sampleMixture]] — evaluation sets and ablation slices need exact
    * counts, not expected counts). Rank each stratum's documents by
    * their content-independent md5 draw (ties by doc_id) and keep rank
    * ≤ k: stable under reruns, and adding documents to a stratum
    * changes at most which k survive, never another stratum. The
    * per-stratum rank is one window whose partition is a stratum —
    * the same bounded-key shape as [[kmvDistinct]]'s k-minima. */
  def stratifiedSample(docs: DataFrame, k: Int,
                       salt: String = "strat"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("draw"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), mdDraw6(salt).as("draw"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION: fuse the lexical
    * ([[bm25]]) and semantic ([[VectorOps.bruteForceTopK]]) top-k lists
    * with the standard RRF score Σ 1/(rrfK + rank) — the fusion every
    * modern retrieval stack runs over its BM25 and ANN legs. A document
    * missing from one leg contributes only the other leg's term
    * (full-outer semantics). Each term is ONE IEEE division of exact
    * integers and the score is their sum — transcendental-free, so the
    * oracle reproduces it bit-for-bit. Both legs are top-k bounded, so
    * every join and the final rank window touch ≤ 2·topK rows — driver-
    * side-tiny by construction at any corpus size (the heavy lifting is
    * inside the legs, which carry their own scale designs).
    * `emb.vec_id` is the embedding id of document `doc_id` (the corpus
    * convention; rows without an embedding simply can't appear in the
    * semantic leg). */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                qId: Long, topK: Int = 20, rrfK: Int = 60): DataFrame = {
    // ≤ topK rows by construction: the single-partition window is the
    // intended plan; `% 1` keeps a non-empty partition spec (repo
    // convention) so WindowExec doesn't warn about it
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id") % 1).orderBy(col("bm25").desc, col("doc_id"))
    val lex = bm25(docs, terms, topK = topK)
      .select(col("doc_id"), row_number().over(wLex).cast("long").as("r_lex"))
    val sem = graft.pipeline.VectorOps.bruteForceTopK(emb, queryMaxId = qId + 1, k = topK)
      .filter(col("q_id") === qId)
      .select(col("vec_id").as("doc_id"), col("rk").cast("long").as("r_sem"))
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id") % 1).orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0)) + lit(1e-12), 6))
      .select(col("doc_id"), col("r_lex"), col("r_sem"), col("rrf_score"),
        row_number().over(wOut).cast("long").as("fused_rank"))
  }

  /** POSITIONAL PHRASE SEARCH — exact phrase match over the corpus the
    * way a search engine answers it: intersect POSTING LISTS
    * positionally instead of scanning text. One posexplode mines
    * (doc_id, position) postings for ONLY the phrase's terms (at
    * production scale this is a lookup into the prebuilt inverted
    * index; the plan from the postings on is identical), then the
    * terms intersect RAREST-FIRST: candidate starts begin as the
    * least-frequent term's postings and every further term is one
    * skew-safe equi-join on (doc_id, start) that can only SHRINK the
    * candidate set — the classic df-ordered AND-intersection, never a
    * per-document scan and never a window. The df ranking is a
    * phrase-length-sized collect (bounded by the query, not the
    * corpus). Repeated terms in the phrase join once per distinct
    * offset, which is exactly the positional constraint. Output: one
    * row per match — (doc_id, pos, snippet), snippet = the match with
    * `ctx` tokens of context each side, clipped at document edges. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
                   ctx: Int = 2): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val L = phrase.length
    val base = graft.CacheScope.persist(
      docs.select(col("doc_id"), tokens.as("ts"), size(tokens).as("n")))
    // postings restricted to the phrase's vocabulary before any shuffle
    val post = graft.CacheScope.persist(base
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("i0", "t")))
      .filter(col("t").isin(phrase.distinct: _*))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("p"), col("t")))
    val dfs = post.groupBy(col("t")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rarest term first; ties by phrase offset for determinism
    val order = phrase.zipWithIndex
      .sortBy { case (t, i) => (dfs.getOrElse(t, 0L), i) }
    val starts = order.map { case (t, off) =>
      post.filter(col("t") === t)
        .select(col("doc_id"), (col("p") - off).as("start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
    starts.join(base, Seq("doc_id"))
      .select(col("doc_id"), col("start").as("pos"),
        array_join(slice(col("ts"),
          greatest(col("start") - ctx, lit(1L)).cast("int"),
          (least(col("start") + (L - 1 + ctx), col("n").cast("long")) -
            greatest(col("start") - ctx, lit(1L)) + 1L).cast("int")), " ")
          .as("snippet"))
  }

  /** DETERMINISTIC SHARD + ORDER ASSIGNMENT (the "global shuffle" a
    * pretraining dataloader consumes): every document draws a 60-bit
    * md5 value; shard = draw mod `nShards`, position = rank of the draw
    * within the shard (ties by doc_id). Content-independent and stable
    * under reruns; the within-shard rank is the one genuine sort —
    * exactly the work a dataset shuffle IS — and its task size is
    * corpus/nShards rows: at production scale `nShards` rises with the
    * corpus (thousands), keeping every sort partition bounded. Output:
    * (doc_id, shard, pos). */
  def shuffleShards(docs: DataFrame, nShards: Int = 16,
                    salt: String = "shard"): DataFrame =
    withShuffleShards(docs.select(col("doc_id")), nShards, salt)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** [[shuffleShards]] appended IN PLACE: `docs` plus (shard, pos) —
    * callers that want the assignment next to their payload columns get
    * it without a doc_id join-back (the shard window is the only
    * shuffle either way). */
  def withShuffleShards(docs: DataFrame, nShards: Int = 16,
                        salt: String = "shard"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("draw"), col("doc_id"))
    docs.withColumn("draw", mdDraw6(salt))
      .withColumn("shard", pmod(col("draw"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("draw")
  }

  /** SHARD MANIFEST — the integrity artifact every published dataset
    * ships next to its shards: per shard, document and token counts,
    * the doc_id range, and an ORDER-INDEPENDENT content checksum (the
    * per-document 60-bit md5 integers summed exactly in decimal, then
    * reduced mod 2^60) that a consumer recomputes shard-locally to
    * detect corruption, truncation, or a re-shuffle that lost rows. At
    * 100 TB the recheck is embarrassingly parallel per shard — a
    * partial-agg groupBy on the shard key, no global sort, no driver
    * state; commutative addition makes the checksum independent of row
    * order and partitioning by construction. All integer arithmetic →
    * any ANSI engine replays it bit-for-bit. Output: (shard, n_docs,
    * n_tokens, content_sum, min_doc_id, max_doc_id). */
  def shardManifest(docs: DataFrame, nShards: Int = 16): DataFrame = {
    val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    // the [[withShuffleShards]] shard key WITHOUT its pos window: the
    // manifest needs no within-shard order, so the per-shard sort (16
    // partitions — fine for a dataloader, wrong for a 100 TB integrity
    // sweep) is skipped; this is per-row projection + partial agg only
    docs.select(pmod(mdDraw6("shard"), lit(nShards.toLong)).as("shard"),
        col("doc_id"), h.as("__h"),
        size(tokens).cast("long").as("__n"))
      .groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        (sum(col("__h").cast("decimal(38,0)")) % lit(1152921504606846976L))
          .cast("long").as("content_sum"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
  }

  /** BPE VOCABULARY LEARNING — the tokenizer-training step of an LLM
    * data pipeline, as a verified distributed computation: starting from
    * characters, repeatedly (1) count adjacent symbol pairs over the
    * corpus word-frequency table, (2) take the most frequent pair (ties:
    * lowest left then right symbol), (3) merge its left-to-right
    * non-overlapping occurrences in every word (Sennrich et al. 2016's
    * word-model BPE; no end-of-word marker — words are the merge
    * boundary here by construction).
    *
    * Scale shape: the corpus is scanned ONCE (the word-count groupBy);
    * every merge round then runs on the distinct-WORD frame — vocabulary-
    * sized, orders of magnitude below the corpus — as relational window
    * passes (no interpreted array lambdas in the loop), with a
    * localCheckpoint per round truncating lineage exactly like
    * [[GraphOps]]'s label-propagation loop. The per-round 1-row argmax
    * collect IS the algorithm's sequential dependency (each merge
    * depends on the last), not a scalability leak.
    *
    * The merge rule is replayed relationally so the DuckDB oracle can
    * unroll it per round: a position i merges iff (s_i, s_{i+1}) is the
    * chosen pair AND i sits at an EVEN offset from the start of its run
    * of consecutive matches (left-to-right non-overlap over runs like
    * "aaaa" with pair (a,a) → [aa, aa]).
    *
    * Returns the learned merge table (rank, lhs, rhs, merged, pair_n) —
    * ≤ `nMerges` rows, fewer iff the vocabulary merges to single
    * symbols first. */
  def bpeLearn(docs: DataFrame, nMerges: Int = 20): DataFrame =
    bpeLearnState(docs, nMerges)._1

  /** The learn loop with BOTH outputs: the merge table AND the final
    * word → symbol-sequence frame (w, cnt, syms) — the encoded
    * vocabulary. [[bpeEncode]] consumes the latter: applying a BPE
    * tokenizer to a corpus is a word-level lookup, so the expensive
    * merge replay runs once per DISTINCT word, never per occurrence. */
  /** The corpus word-frequency table with character-split symbol
    * sequences — round 0 of both the learn loop and the frozen-apply
    * path: (w, cnt, syms), checkpointed (ONE corpus scan). */
  private[graft] def charWords(docs: DataFrame): DataFrame =
    docs.select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), split(col("w"), "").as("syms"))
      .localCheckpoint()

  /** ONE BPE merge of the pair (a, b) applied to a word frame — the
    * machinery shared by the learn loop and [[applyMerges]]: words
    * CONTAINING the pair run the explode → window → regroup replay of
    * left-to-right non-overlapping merging (within each run of
    * consecutive matches, the even offsets from the run start merge);
    * every other word is provably a fixed point of the round and
    * passes through untouched. At web-scale vocabularies a pair
    * touches a shrinking fraction of words as ranks grow, so per-round
    * work tracks the touched subset, never the full vocabulary.
    * Returns (merged touched words, touched originals, untouched) —
    * the learner consumes all three (incremental pair-count deltas
    * need before/after of the touched subset); appliers fold only
    * merged ∪ untouched. */
  private def mergeTouched(words: DataFrame, a: String, b: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
    val pairHit = exists(zip_with(
      slice(col("syms"), lit(1), size(col("syms")) - 1),
      slice(col("syms"), lit(2), size(col("syms")) - 1),
      (x, y) => x === a && y === b), p => p)
    val wn = w.partitionBy("w").orderBy("i")
    val touched = words.filter(pairHit)
    // left-to-right non-overlap, JOIN-FREE: a match position merges iff it
    // sits at an even offset from the start of its run of consecutive
    // matches; the run start is (last preceding NON-match position) + 1 —
    // a running max over the same (w, i) window the match flag already
    // uses, so the whole rule is one exchange on w (the old spelling
    // re-joined a filtered positions frame on (w, i) and re-windowed by
    // (w, run) — two more shuffles per merge round for the same bits)
    val merged0 = touched
      .select(col("w"), col("cnt"), posexplode(col("syms")).as(Seq("i", "s")))
      .withColumn("m", col("s") === a && lead(col("s"), 1).over(wn) === b)
      .withColumn("rs",
        coalesce(max(when(!col("m"), col("i"))).over(
          wn.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(-1)) + 1)
      .withColumn("mrk", col("m") && ((col("i") - col("rs")) % 2) === 0)
      .withColumn("pm", lag(col("mrk"), 1, false).over(wn))
      .filter(!col("pm"))
      .withColumn("out_s", when(col("mrk"), lit(a + b)).otherwise(col("s")))
      .groupBy(col("w"), col("cnt"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("out_s")))),
        x => x.getField("out_s")).as("syms"))
    (merged0, touched, words.filter(!pairHit))
  }

  /** FROZEN-TOKENIZER APPLY: replay an already-learned merge list, in
    * rank order, over a (w, cnt, syms) word frame — encoding NEW text
    * with a FIXED vocabulary, the train-tokenizer/encode-everything
    * contract every production pipeline runs (the reference's fit-once
    * model registry: analytics/app/common/models.py:66-93). Sequential
    * replay in rank order is exactly the BPE encode algorithm: the
    * learner applied merge r to every word at round r, so replaying the
    * table reproduces its final word table bit-for-bit on the training
    * corpus, and extends it to unseen words (which start from
    * characters like any other). Per merge the work is one
    * touched-word-gated [[mergeTouched]] pass + one checkpoint —
    * vocabulary-sized, never corpus-sized. */
  def applyMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(words) { case (ws, (a, b)) =>
      // merged is consumed exactly once (the union) — the union's own
      // checkpoint materializes it, so no per-step merged checkpoint
      val (merged, _, untouched) = mergeTouched(ws, a, b)
      merged.unionByName(untouched).localCheckpoint()
    }

  private[graft] def bpeLearnState(docs: DataFrame,
                                   nMerges: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = charWords(docs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    // adjacent-pair occurrence rows of a word frame, count-weighted and
    // signed — the unit of the incremental pair-count maintenance below
    def pairRows(ws: DataFrame, sign: Int): DataFrame = ws
      .select((col("cnt") * sign).as("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"), col("cnt").as("n"))
    // INCREMENTAL pair counts (the classic BPE-trainer state): the full
    // vocabulary is pair-counted ONCE; each round then subtracts the
    // touched words' pre-merge pairs and adds their post-merge pairs —
    // exact integer deltas, so the table always equals a from-scratch
    // recount (which is what the unrolled oracle computes) while
    // per-round counting work tracks the touched subset, not the
    // vocabulary. Zero-count pairs drop so exhaustion (no pairs left)
    // reads as an empty argmax exactly like the recount's empty result.
    var counts = pairRows(words, 1)
      .groupBy(col("l"), col("r")).agg(sum(col("n")).as("n"))
      .localCheckpoint()
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val top = counts
        .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r.toLong, a, b, a + b, n))
        // merged is read twice (pair delta + new word table): instead of
        // checkpointing it separately (a third materialization job per
        // round), tag its rows and checkpoint the UNION once — the delta
        // then reads the touched subset back out of the same checkpoint
        // with a row-local filter. 2 materializations + 1 argmax collect
        // per round (was 3 + 1; together with the join-free merge rule,
        // measured 12.0 s → 6.2 s min-of-2 at sf0.1).
        val (merged, touched, untouched) = mergeTouched(words, a, b)
        val tagged = merged.withColumn("tch", lit(true))
          .unionByName(untouched.withColumn("tch", lit(false)))
          .localCheckpoint()
        counts = counts
          .unionByName(pairRows(touched, -1))
          .unionByName(pairRows(tagged.filter(col("tch")), 1))
          .groupBy(col("l"), col("r")).agg(sum(col("n")).as("n"))
          .filter(col("n") > 0)
          .localCheckpoint()
        words = tagged.drop("tch")
        r += 1
      }
    }
    (out.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_n"), words)
  }

  /** GROUPED BPE LEARNING — fit an independent tokenizer PER GROUP
    * (corpus half, source domain, language) in ONE merge loop: every
    * round picks each group's own most-frequent pair (same (n desc, l,
    * r) tie-break as [[bpeLearnState]]) and merges all groups in the
    * same two materialization jobs, so fitting G vocabularies costs the
    * rounds of ONE fit plus per-round work proportional to the union of
    * the groups' touched words — not G sequential loops. Groups exhaust
    * independently (a group with no pairs left simply stops producing
    * ranks). Per-group results are IDENTICAL to [[bpeLearn]] run on
    * that group alone (pinned by CorpusOpsSpec). Output: (grp,
    * merge_rank, lhs, rhs, merged, pair_n). */
  def bpeLearnGrouped(docs: DataFrame, grp: Column,
                      nMerges: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    var words = docs.select(grp.as("grp"), explode(tokens).as("w"))
      .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("grp"), col("w"), col("cnt"), split(col("w"), "").as("syms"))
      .localCheckpoint()
    def pairRows(ws: DataFrame, sign: Int): DataFrame = ws
      .select(col("grp"), (col("cnt") * sign).as("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .select(col("grp"), col("p.l").as("l"), col("p.r").as("r"), col("cnt").as("n"))
    var counts = pairRows(words, 1)
      .groupBy(col("grp"), col("l"), col("r")).agg(sum(col("n")).as("n"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String, String, String, Long)]
    val rank = scala.collection.mutable.Map.empty[String, Long]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      // per-group argmax — G rows, the grouped twin of the 1-row collect
      val top = counts.groupBy(col("grp"))
        .agg(min_by(struct(col("l"), col("r"), col("n")),
          struct((-col("n")).as("nn"), col("l"), col("r"))).as("t"))
        .select(col("grp"), col("t.l"), col("t.r"), col("t.n")).collect()
      if (top.isEmpty) exhausted = true
      else {
        val chosen = top.map(row => (row.getString(0), row.getString(1),
          row.getString(2), row.getLong(3)))
        chosen.foreach { case (g, a, b, n) =>
          val rk = rank.getOrElse(g, 0L) + 1
          rank(g) = rk
          out += ((g, rk, a, b, a + b, n))
        }
        val pairDf = chosen.toSeq.toDF("grp", "pa", "pb", "pn")
          .select(col("grp"), col("pa"), col("pb"))
        // per-group merge: the chosen pair rides a broadcast join instead
        // of plan literals; groups without a pair this round (exhausted)
        // fall through untouched via the left join's nulls
        val withPair = words.join(broadcast(pairDf), Seq("grp"), "left")
        val pairHit = col("pa").isNotNull && exists(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => x === col("pa") && y === col("pb")), p => p)
        val touched = withPair.filter(pairHit)
        val untouched = withPair.filter(!pairHit)
          .select(col("grp"), col("w"), col("cnt"), col("syms"))
        val wn = w.partitionBy("grp", "w").orderBy("i")
        val merged = touched
          .select(col("grp"), col("w"), col("cnt"), col("pa"), col("pb"),
            posexplode(col("syms")).as(Seq("i", "s")))
          .withColumn("m", col("s") === col("pa") && lead(col("s"), 1).over(wn) === col("pb"))
          .withColumn("rs",
            coalesce(max(when(!col("m"), col("i"))).over(
              wn.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
              lit(-1)) + 1)
          .withColumn("mrk", col("m") && ((col("i") - col("rs")) % 2) === 0)
          .withColumn("pm", lag(col("mrk"), 1, false).over(wn))
          .filter(!col("pm"))
          .withColumn("out_s", when(col("mrk"), concat(col("pa"), col("pb")))
            .otherwise(col("s")))
          .groupBy(col("grp"), col("w"), col("cnt"))
          .agg(transform(array_sort(collect_list(struct(col("i"), col("out_s")))),
            x => x.getField("out_s")).as("syms"))
        val tagged = merged.withColumn("tch", lit(true))
          .unionByName(untouched.withColumn("tch", lit(false)))
          .localCheckpoint()
        counts = counts
          .unionByName(pairRows(touched.select(col("grp"), col("cnt"), col("syms")), -1))
          .unionByName(pairRows(tagged.filter(col("tch")), 1))
          .groupBy(col("grp"), col("l"), col("r")).agg(sum(col("n")).as("n"))
          .filter(col("n") > 0)
          .localCheckpoint()
        words = tagged.drop("tch")
        r += 1
      }
    }
    out.toSeq.toDF("grp", "merge_rank", "lhs", "rhs", "merged", "pair_n")
  }

  /** BPE ENCODE — apply the learned merge table to the corpus: per
    * document, the merged symbol sequence (words joined by spaces,
    * symbol boundaries marked "|") and the EXACT BPE token count every
    * pretraining pipeline budgets with (whitespace/pretoken counts are
    * proxies; the model bills by BPE tokens).
    *
    * Scale shape: encoding happens on the DISTINCT-WORD table (the same
    * vocabulary-sized frame the learn loop iterates), then one equi-join
    * fans the per-word symbol sequences back onto the corpus token
    * stream and one groupBy(doc_id) reassembles documents — corpus work
    * is the explode + two shuffles, independent of merge count. The
    * vocabulary side of the join is ≪ corpus and broadcasts itself at
    * production scale; per-doc regroup state is bounded by document
    * length. Output: (doc_id, n_words, bpe_tokens, bpe_text). */
  def bpeEncode(docs: DataFrame, nMerges: Int = 20): DataFrame =
    bpeEncodeWith(docs, bpeLearnState(docs, nMerges)._2)

  /** [[bpeEncode]] with a caller-supplied word → symbol-sequence frame
    * (`wsyms`: (w, syms, …)) — the fit/encode split: one learned (or
    * frozen-applied, or parquet-reloaded) vocabulary serves every
    * consumer without refitting. Corpus-side work is exactly the
    * encode join + regroup. */
  def bpeEncodeWith(docs: DataFrame, wsyms: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens).as(Seq("pos", "w")))
      .join(wsyms.select(col("w"), col("syms")), Seq("w"))
      .select(col("doc_id"), col("pos"),
        size(col("syms")).cast("long").as("ntok"),
        array_join(col("syms"), "|").as("ws"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("ntok")).as("bpe_tokens"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("ws")))),
          x => x.getField("ws"))).as("bpe_text"))

  /** FROZEN-TOKENIZER ENCODE: apply an already-learned merge TABLE
    * ((merge_rank, lhs, rhs, …) — e.g. [[bpeLearn]]'s output, possibly
    * parquet-persisted and reloaded) to a corpus the table was NOT
    * necessarily learned on: the train-tokenizer/encode-val contract.
    * The ≤ nMerges-row table collects to the driver (it IS the model —
    * the same bounded collect every serving path makes) and replays in
    * rank order over the target corpus's distinct words via
    * [[applyMerges]]; unseen words start from characters like any
    * other. Output shape identical to [[bpeEncode]]. */
  def bpeEncodeFrozen(docs: DataFrame, merges: DataFrame): DataFrame = {
    val ms = merges.orderBy(col("merge_rank")).select(col("lhs"), col("rhs"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    bpeEncodeWith(docs, applyMerges(charWords(docs), ms))
  }

  /** TOKENIZER COMPRESSION / FERTILITY per source — the table every
    * tokenizer evaluation reports: characters, whitespace words and
    * exact BPE tokens per corpus slice, with chars-per-BPE-token (the
    * compression rate) and BPE-tokens-per-word (fertility). A slice
    * whose fertility is high is under-served by the learned vocabulary
    * — the signal that drives merge-budget and mixture decisions.
    * `bpe` is any (doc_id, bpe_tokens) frame ([[bpeEncodeWith]] on the
    * shared fit); the rest is one row-local projection + one
    * partial-aggregated groupBy. Ratios are single exact-BIGINT→double
    * divisions rounded at 4 — engine-exact. */
  def bpeCompressionStats(docs: DataFrame, bpe: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(tokens).cast("long").as("n_words"))
      .join(bpe.select(col("doc_id"), col("bpe_tokens")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("n_words")).as("words"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
      .select(col("source"), col("n_docs"), col("chars"), col("words"),
        col("bpe_tokens"),
        round(col("chars").cast("double") / col("bpe_tokens") + lit(1e-9), 4)
          .as("chars_per_token"),
        round(col("bpe_tokens").cast("double") / col("words") + lit(1e-9), 4)
          .as("fertility"))

  /** OUT-OF-VOCABULARY RATE of a frozen tokenizer per corpus split —
    * the deployment-health metric for a train-fitted vocabulary: what
    * fraction of each split's word occurrences (and distinct words)
    * never occurred in the training corpus the tokenizer was learned
    * on? OOV words still encode (from characters — [[applyMerges]]),
    * but at worse fertility; a rising val-OOV rate is the signal to
    * refit. `trainVocab` is any frame whose `w` column holds the
    * training words ([[bpeLearnState]]'s word table or its parquet
    * reload). One explode + one broadcast-sized vocab join + one
    * groupBy. */
  def bpeOovRate(docs: DataFrame, trainVocab: DataFrame,
                 valFrac: Double = 0.1, testFrac: Double = 0.05): DataFrame =
    docs.select(splitCol(valFrac, testFrac).as("split"), explode(tokens).as("w"))
      .join(trainVocab.select(col("w"), lit(1L).as("known")).distinct(), Seq("w"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"),
        count_distinct(col("w")).as("n_distinct"),
        count_distinct(when(col("known").isNull, col("w"))).as("n_distinct_oov"))
      .select(col("split"), col("n_words"), col("n_oov"),
        col("n_distinct"), col("n_distinct_oov"),
        round(col("n_oov").cast("double") / col("n_words") + lit(1e-9), 6)
          .as("oov_rate"))

  /** [[tokenStats]] extended with the exact BPE token count — the budget
    * column consumers plan token bills with, next to the cheap per-row
    * counts. Kept separate from the base [[tokenStats]] (a pure per-row
    * map) because the BPE column requires the sequential merge-table
    * learn; callers that already ran [[bpeEncode]] pass its output to
    * avoid refitting. */
  def tokenStatsBpe(docs: DataFrame, bpe: DataFrame): DataFrame =
    tokenStats(docs).join(
      bpe.select(col("doc_id"), col("bpe_tokens")), Seq("doc_id"))

  /** TOKENIZER FERTILITY BY LANGUAGE — the fairness diagnostic every
    * multilingual tokenizer report carries: per language, how many BPE
    * tokens the frozen vocabulary spends per whitespace word
    * (`fertility`) and, the verdict column, how that compares to the
    * whole corpus: `premium` = lang fertility / corpus fertility — a
    * language the vocabulary under-serves reads ≫ 1 and bills more
    * tokens for the same text, skewing both cost and the effective
    * mixture (the [[bpeCompressionStats]] axis is per-SOURCE
    * compression; this one is the cross-language equity ratio that
    * motivates vocabulary refits and UniMax-style reweighting). One
    * partial-agg groupBy on the (bounded) language key over exact
    * BIGINT sums, one 1-row corpus-total broadcast; the premium is
    * computed as a ratio of exact DECIMAL(38,0) cross-products
    * (overflow-safe at production token counts) converted once to
    * double — engine-identical. `bpe` is [[bpeEncodeWith]]'s output
    * (shared fitted vocabulary — no refit). Output: (lang, n_docs,
    * n_words, bpe_tokens, fertility, premium). */
  def bpeFertility(docs: DataFrame, bpe: DataFrame): DataFrame = {
    val perLang = docs.select(col("doc_id"), col("lang"))
      .join(bpe.select(col("doc_id"), col("n_words"), col("bpe_tokens")),
        Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
    val tot = perLang.agg(sum(col("n_words")).as("tot_words"),
      sum(col("bpe_tokens")).as("tot_tokens"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_words"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("n_words") + lit(1e-9), 4)
          .as("fertility"),
        round((col("bpe_tokens").cast("decimal(38,0)") * col("tot_words"))
            .cast("double") /
          (col("n_words").cast("decimal(38,0)") * col("tot_tokens"))
            .cast("double") + lit(1e-9), 4).as("premium"))
  }

  /** GPT-2-style pretokenizer: segment text into maximal runs of a single
    * character class — letters, digits, or other (punctuation/symbols).
    * This is the category-split every byte-pair-encoding tokenizer runs
    * BEFORE its merge table ("don't" → don, ', t; "x=3.14" → x, =, 3, .,
    * 14), and the unit whose count budgets a pretraining token bill far
    * better than whitespace words. The three alternatives are disjoint in
    * their first character, so the segmentation is unambiguous under both
    * leftmost-first (Java) and leftmost-longest (RE2) alternation —
    * the property that lets one pattern drive both engines bit-equally.
    * Pure per-row regexp (whole-stage codegen), no shuffle. */
  val PretokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  /** Per-document pretokenizer statistics. The corpus text is lowercase
    * words + single spaces only, so a deterministic tail of digits and
    * punctuation (doc_id arithmetic — both engines build the identical
    * string, the text_pii_scrub convention) is appended to exercise the
    * digit/punct classes. Output: whitespace-token count vs pretoken
    * count and the per-class breakdown. */
  def pretokenStats(docs: DataFrame): DataFrame = {
    val ptext = concat(col("text"),
      lit(" v"), (col("doc_id") % 9 + 1).cast("string"), lit("."),
      (col("doc_id") % 7).cast("string"),
      lit(" don't x="), (col("doc_id") % 100).cast("string"),
      lit("; #tag"), (col("doc_id") % 10).cast("string"), lit("!"))
    def n(pat: String) =
      size(expr(s"regexp_extract_all(ptext, '$pat', 0)")).cast("long")
    docs.select(col("doc_id"), ptext.as("ptext"))
      .select(col("doc_id"),
        size(split(col("ptext"), " ")).cast("long").as("n_ws"),
        n(PretokenPattern).as("n_pretok"),
        n("[a-z]+").as("n_word"),
        n("[0-9]+").as("n_num"),
        n("[^a-z0-9 ]+").as("n_punct"),
        size(array_distinct(expr(
          s"regexp_extract_all(ptext, '$PretokenPattern', 0)")))
          .cast("long").as("n_distinct_pretok"))
  }

  /** PRIORITY SAMPLING (Duffield–Lund–Thorup, integer variant): a
    * weight-proportional sample of k documents that supports UNBIASED
    * subset-sum estimates — the principled way to answer "how many
    * tokens does slice X hold" from a fixed-size sample of a 100 TB
    * corpus. Each document draws u ∈ [1, M] (md5, content-independent)
    * and gets priority q = (w·M) div u — the integer spelling of w/u,
    * exact in both engines; the top-k priorities are the sample, the
    * (k+1)-th is the threshold τ, and a sampled document's estimator is
    * est = max(w, τ/M): Σ est over any sampled subset estimates that
    * subset's true Σ w (exactly unbiased in the real-valued algorithm;
    * the integer floor perturbs it by ≤ 1 part in u ≤ M — documented,
    * deterministic). The top-(k+1) selection is Spark's TakeOrdered —
    * per-partition heaps, no global sort. Output: one row per sampled
    * doc (doc_id, source, w, priority, est). */
  def prioritySample(docs: DataFrame, k: Int,
                     salt: String = "prio"): DataFrame = {
    require(k > 0, "k must be positive")
    // assumes corpus size > k (otherwise τ degenerates and every doc is
    // kept with est possibly > w; a full census needs no estimator)
    val w = size(tokens).cast("long")
    val u = mdDraw6(salt) + lit(1L) // [1, M]
    val scored = docs.select(col("doc_id"), col("source"), w.as("w"), u.as("u"))
      .withColumn("priority", expr(s"(w * $DrawMod) div u"))
    val top = graft.CacheScope.persist(
      scored.orderBy(col("priority").desc, col("doc_id")).limit(k + 1))
    val tau = top.agg(min(col("priority")).as("tau"))
    val sample = top.orderBy(col("priority").desc, col("doc_id")).limit(k)
    sample.crossJoin(broadcast(tau))
      .select(col("doc_id"), col("source"), col("w"), col("priority"),
        round(greatest(col("w").cast("double"),
          col("tau").cast("double") / lit(DrawMod.toDouble)) + lit(1e-9), 4)
          .as("est"))
  }

  /** COUNT-MIN SKETCH token frequencies — the bounded-memory answer to
    * "how often does token X appear in 100 TB": d hash rows × w counters
    * (d·w cells TOTAL, vs a vocabulary-sized exact count), each token
    * incrementing one cell per row, estimate = min over its d cells
    * (Cormode–Muthukrishnan). Counters are sums → mergeable across
    * partitions/days for free, and the single shuffle carries ≤ d·w rows
    * per task after map-side partial aggregation — O(1) state no matter
    * the corpus. Estimates only ever OVERcount (cell collisions add).
    * Hashes are md5-derived (engine-portable exact). The exact counts of
    * the top-`topK` tokens ride along as the honesty diagnostic (same
    * contract as [[kmvDistinct]]): (t, exact_n, cms_n, overcount). */
  def cmsTokenCounts(docs: DataFrame, d: Int = 4, w: Int = 256,
                     topK: Int = 20): DataFrame = {
    require(d > 0 && w > 0 && topK > 0, "d, w, topK must be positive")
    def cell(r: Int, t: Column): Column =
      conv(substring(md5(concat(lit(s"cms$r:"), t)), 1, 15), 16, 10)
        .cast("long") % w
    val tok = docs.select(explode(tokens).as("t"))
    val counters = cmsCounters(docs, d, w)
    val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_n"))
    val top = exact.orderBy(col("exact_n").desc, col("t")).limit(topK)
    val probes = top.select(col("t"), col("exact_n"),
      posexplode(array((0 until d).map(r => cell(r, col("t"))): _*))
        .as(Seq("r", "c")))
    probes.join(counters, Seq("r", "c"))
      .groupBy(col("t"), col("exact_n"))
      .agg(min(col("cnt")).as("cms_n"))
      .withColumn("overcount", col("cms_n") - col("exact_n"))
  }

  /** The CMS counter frame (r, c, cnt) alone — the sketch STATE,
    * factored out so the streaming twin is the same code: counter
    * updates are SUMS, so on a stream this exact plan runs as a plain
    * update-mode aggregation whose store state IS the d·w counters
    * (see [[CurationStreams.cmsCounterStream]]). One
    * pass: each token emits its d (row, cell) pairs; partial agg
    * combines map-side so the exchange carries ≤ d·w rows per task. */
  def cmsCounters(docs: DataFrame, d: Int = 4, w: Int = 256): DataFrame = {
    require(d > 0 && w > 0, "d and w must be positive")
    def cell(r: Int, t: Column): Column =
      conv(substring(md5(concat(lit(s"cms$r:"), t)), 1, 15), 16, 10)
        .cast("long") % w
    docs.select(explode(tokens).as("t"))
      .select(posexplode(array((0 until d).map(r => cell(r, col("t"))): _*))
        .as(Seq("r", "c")))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
  }

  /** Pairwise SOURCE-VOCABULARY Jaccard — the corpus-composition
    * diagnostic run before choosing mixture weights: how much does each
    * source's token vocabulary overlap every other's? (Near-identical
    * vocabularies → the sources are redundant crawls; disjoint → each
    * contributes distribution coverage.) Relational shape: distinct
    * (source, token) rows self-join on the token, so per-token fan-out
    * is bounded by |sources|² regardless of corpus size and the only
    * corpus-sized shuffle is the distinct; the ≤ |sources|² result
    * never leaves the executors until the final tiny collect-free
    * output. Pairs sharing zero tokens are (correctly) absent. */
  def sourceVocabJaccard(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(col("source"), explode(array_distinct(tokens)).as("t"))
      .distinct()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    vocab.as("a").join(vocab.as("b"), Seq("t"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("nv").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("nv").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")) + lit(1e-9), 6).as("jaccard"))
  }

  /** Per-source ROC-AUC of the [[quality]] score against the binary
    * label `lang = 'en'` — the standard sanity check that a cheap
    * quality heuristic actually separates the slice you train it to keep
    * from the one it should drop, computed as the Mann–Whitney rank
    * statistic: AUC = (Σ ranks of positives − P(P+1)/2) / (P·N) with
    * AVERAGE ranks over score ties. All arithmetic stays integral until
    * the final division by doubling the rank sum: a tie group of size g
    * starting at min rank r contributes n_pos·(2r + g − 1) to 2·Σranks,
    * so engines can never drift. Scale shape: one groupBy collapses the
    * corpus to (source, score-bin) rows — the window then runs over
    * ≤ |sources| × |distinct scores| rows, never the corpus. */
  def qualityAuc(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val labeled = docs.select(col("doc_id"), col("source"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .join(quality(docs).select(col("doc_id"), col("quality")), Seq("doc_id"))
    val grouped = labeled.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("n_all"), sum(col("y")).as("n_pos"))
    val cumW = w.partitionBy("source").orderBy("quality")
    grouped
      .withColumn("cum", sum(col("n_all")).over(cumW))
      .withColumn("r2",
        col("n_pos") * (lit(2L) * (col("cum") - col("n_all") + 1L)
          + col("n_all") - 1L))
      .groupBy(col("source"))
      .agg(sum(col("r2")).as("sum2r"), sum(col("n_pos")).as("p"),
        sum(col("n_all") - col("n_pos")).as("n"))
      .filter(col("p") > 0 && col("n") > 0)
      .select(col("source"), col("p").as("n_pos"), col("n").as("n_neg"),
        round((col("sum2r") - col("p") * (col("p") + 1L)).cast("double")
          / (lit(2.0) * (col("p") * col("n")).cast("double")) + lit(1e-9), 4)
          .as("auc"))
  }

  /** Per-source adaptive quality cut: keep the top keepNum/keepDen
    * fraction of each source by [[quality]] (ties broken by doc_id), the
    * production alternative to one global threshold when sources have
    * incomparable score distributions (a global cut empties clean
    * sources and keeps noisy ones). Exact integer rank arithmetic:
    * keep rank ≤ ⌈n·keepNum/keepDen⌉. The rank window partitions by
    * source — per-source parallelism, with the usual salting escape if
    * one source dominates the corpus. */
  /** SAMPLE-BASED quantile estimation — how quantiles are actually
    * computed at 100 TB: a deterministic md5 Bernoulli sample (rate
    * sampleNum/DrawMod), exact lower-quantile ranks ⌈n·pct/100⌉ on the
    * sample, and the same exact ranks on the full corpus kept alongside
    * as the honesty diagnostic (sample_v, exact_v, err per source ×
    * percentile). Rank arithmetic is pure integer ((n·pct + 99) div
    * 100), so both engines agree bit-for-bit; at scale the exact leg is
    * dropped and only the sample (DrawMod-th of the data) ever sorts.
    * Percentiles are injected by explode — no join, no cross product. */
  def sampledQuantiles(docs: DataFrame, sampleNum: Long = 100000L,
                       pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(sampleNum > 0 && sampleNum <= DrawMod, "rate in (0, 1]")
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100), "pcts in [1,100]")
    val w = org.apache.spark.sql.expressions.Window
    def rankPick(df: DataFrame, valCol: String): DataFrame = {
      val ranked = df.withColumn("rn", row_number().over(
        w.partitionBy("source").orderBy(col(valCol), col("doc_id"))))
      // the picks frame is |sources| × |pcts| rows — broadcast equi-join,
      // no row amplification of the ranked side
      val picks = df.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .withColumn("pct", explode(array(pcts.map(p => lit(p.toLong)): _*)))
        .select(col("source"), col("pct"), expr("(n * pct + 99) div 100").as("rn"))
      ranked.join(broadcast(picks), Seq("source", "rn"))
        .select(col("source"), col("pct"), col(valCol))
    }
    val base = docs.select(col("doc_id"), col("source"), col("n_chars"))
    val samp = base.filter(mdDraw6("sq") < sampleNum)
    rankPick(samp, "n_chars").withColumnRenamed("n_chars", "sample_v")
      .join(rankPick(base, "n_chars").withColumnRenamed("n_chars", "exact_v"),
        Seq("source", "pct"))
      .withColumn("err", col("sample_v") - col("exact_v"))
  }

  def adaptiveQualityFilter(docs: DataFrame, keepNum: Int = 1,
                            keepDen: Int = 10): DataFrame = {
    require(keepNum >= 1 && keepDen >= keepNum, "keep fraction in (0, 1]")
    val w = org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), col("source"))
      .join(quality(docs).select(col("doc_id"), col("quality")), Seq("doc_id"))
      .withColumn("rn", row_number().over(
        w.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))))
      .withColumn("nn", count(lit(1)).over(w.partitionBy("source")))
      .filter(col("rn") <= expr(s"(nn * $keepNum + ${keepDen - 1}) div $keepDen"))
      .select(col("doc_id"), col("source"), col("quality"))
  }

  /** VOCABULARY COVERAGE CURVE — the sizing question every tokenizer
    * decision starts from: what fraction of the corpus' token mass do the
    * top-k word types cover? Words rank by (frequency desc, word asc —
    * total order, so the cumulative sum is engine-deterministic); the
    * curve is evaluated at the `ks` checkpoints. All arithmetic is exact
    * integers until the single coverage division. The curve only ever
    * reads ranks <= max(ks), so the type relation is truncated to the
    * top max(ks) types FIRST — a parallel partial top-k
    * (TakeOrderedAndProject, the [[EventOps.hotKeys]] shape) — and the
    * rank/cumsum window then runs over that bounded frame (non-foldable
    * `freq % 1` partition key, the repo's bounded-window idiom: a
    * 10^8-type vocabulary at 100 TB never sorts through one task). The
    * corpus-sized work is one explode + partial-agg word count. */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256,
                                       512, 1024, 2048, 4096)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "checkpoints must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("freq") % 1).orderBy(col("freq").desc, col("w").asc)
    val wc = docs.select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val top = wc.orderBy(col("freq").desc, col("w").asc).limit(ks.max)
    val curve = top
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("freq")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("k").isin(ks.map(_.toLong): _*))
    val tot = wc.agg(sum(col("freq")).as("tot"))
    curve.join(broadcast(tot))
      .select(col("k"), col("cum_tokens"),
        (col("cum_tokens").cast("double") / col("tot")).as("coverage"))
  }

  /** TOKEN-DISTRIBUTION SHIFT per source (χ² against the corpus) — the
    * domain-drift monitor a multi-crawl mixture runs before reweighting:
    * how far each source's token distribution sits from the corpus-wide
    * one, measured as Pearson's χ² over the top-`k` corpus token types
    * plus an OTHER bucket (a complete partition, so expectations sum to
    * the source's token count). χ² is chosen over KL deliberately:
    * it is division/multiplication-only, so the oracle replays it
    * exactly (ln/log2 are not correctly-rounded across engines').
    * Per-term contributions are rounded to 6 dp and decimal-summed —
    * the repo's order-free summation recipe — so engines can't drift on
    * addition order. The top-k frame is a parallel partial top-k
    * (TakeOrderedAndProject, the hotKeys shape); all joins against it
    * and the 1-row total broadcast. Output: (source, n_tokens, chi2). */
  def chi2Shift(docs: DataFrame, k: Int = 16): DataFrame = {
    require(k >= 1, "k must be positive")
    // (source, token) counts feed the per-source totals, the corpus
    // counts AND the observed leg — one explode, persisted
    val wc = graft.CacheScope.persist(
      docs.select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("o")))
    val st = wc.groupBy(col("source")).agg(sum(col("o")).as("ns"))
    val cw = wc.groupBy(col("w")).agg(sum(col("o")).as("c"))
    val top = cw.orderBy(col("c").desc, col("w")).limit(k)
    val tot = cw.agg(sum(col("c")).as("ctot"))
    val obs = st.crossJoin(broadcast(top))
      .join(wc, Seq("source", "w"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
    val terms = obs
      .withColumn("e", col("ns").cast("double") * col("c") / col("ctot"))
      .select(col("source"), col("ns"),
        round((col("o") - col("e")) * (col("o") - col("e")) / col("e")
          + lit(1e-9), 6).as("t"))
    val other = obs.groupBy(col("source"), col("ns"), col("ctot"))
      .agg(sum(col("o")).as("otop"), sum(col("c")).as("ctop"))
      .withColumn("ooth", col("ns") - col("otop"))
      .withColumn("eoth",
        col("ns").cast("double") * (col("ctot") - col("ctop")) / col("ctot"))
      .select(col("source"), col("ns"),
        when(col("eoth") > 0,
          round((col("ooth") - col("eoth")) * (col("ooth") - col("eoth"))
            / col("eoth") + lit(1e-9), 6)).otherwise(lit(0.0)).as("t"))
    terms.unionByName(other)
      .groupBy(col("source"), col("ns").as("n_tokens"))
      .agg(round(graft.queries.Sql.decSum(col("t")) + lit(1e-9), 4).as("chi2"))
  }

  /** N-GRAM NOVELTY per document — the memorization audit: what
    * fraction of a document's 3-gram shingles appears in NO
    * earlier-id document. Low-novelty documents are recombinations of
    * already-seen text (template spam, quote farms); the curve over
    * doc_id is also the marginal-value signal ingestion-ordered crawls
    * watch. Every shingle reduces to its first document (min-agg,
    * skew-safe), then one keyed join back — no pair enumeration
    * anywhere. Output: (doc_id, n_shingles, n_novel, novelty). */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val inv = graft.CacheScope.persist(DedupOps.shingleRows(docs))
    val firsts = inv.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    inv.join(firsts, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), lit(1L))
          .otherwise(lit(0L))).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles") + lit(1e-9), 4))
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law empirically): distinct token
    * types seen after consuming the first `c` documents, for each
    * checkpoint — the curve that forecasts vocabulary size (and
    * tokenizer OOV pressure) at the next 10× of corpus. One pass: every
    * token type reduces to its FIRST document (min-agg, skew-safe like
    * [[lineDedup]]), then an in-row explode of the checkpoints at or
    * after that first occurrence — no per-checkpoint re-scan.
    * Checkpoints beyond the corpus report the full vocabulary
    * (monotone tail). Output: (checkpoint, distinct_tokens). */
  def vocabGrowth(docs: DataFrame,
                  checkpoints: Seq[Long] = Seq(50, 100, 200, 500, 1000,
                                               2000, 5000)): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints.forall(_ >= 1),
      "checkpoints must be >= 1")
    require(checkpoints.distinct.size == checkpoints.size,
      "duplicate checkpoints would duplicate output rows")
    val spark = docs.sparkSession
    import spark.implicits._
    val cLit = typedlit(checkpoints)
    val firsts = docs.select(col("doc_id"), explode(tokens).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
    val counts = firsts
      .select(explode(filter(cLit, c => col("first_doc") < c)).as("checkpoint"))
      .groupBy(col("checkpoint")).agg(count(lit(1)).as("distinct_tokens"))
    checkpoints.toDF("checkpoint")
      .join(counts, Seq("checkpoint"), "left")
      .na.fill(0L, Seq("distinct_tokens"))
  }

  /** TEMPERATURE-SCALED MIXTURE WEIGHTS (α = 1/2): the multilingual /
    * multi-domain sampling rule w_d ∝ n_d^α that up-weights small slices
    * relative to proportional sampling without letting any slice dominate.
    * α = 1/2 is chosen deliberately: IEEE sqrt is correctly rounded, so
    * the weights are bit-identical in any engine (a general pow() is not).
    * Returns, per source: doc/token volume, the temperature weight, and
    * the slice's token allowance under `budgetTokens`. One corpus scan +
    * one partial-agg shuffle; everything after is |sources|-sized. */
  def temperatureWeights(docs: DataFrame,
                         budgetTokens: Long = 1000000L): DataFrame = {
    require(budgetTokens > 0, "budget must be positive")
    val per = docs.select(col("source"), size(tokens).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      // 6-decimal fixed-point sqrt: the decimal-cast sum is then exact,
      // so the normalizing total is order-independent across partitions
      .withColumn("s", round(sqrt(col("n_tokens").cast("double")) + lit(1e-9), 6))
    val tot = per.agg(graft.queries.Sql.decSum(col("s")).as("tot"))
    per.join(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("s") / col("tot") + lit(1e-9), 6).as("weight"),
        floor(col("s") / col("tot") * budgetTokens).cast("long").as("budget_tokens"))
  }

  /** DOMAIN REWEIGHTING by multiplicative weights (the DoReMi / Group-
    * DRO shape, Xie et al. 2023): up-weight the domains where the
    * reference LM finds the corpus hardest, iteratively — the
    * principled alternative to fixed temperature mixing when a
    * reference signal exists.
    *
    * Loss signal: per-source reference-LM OOV rate (the CCNet bill
    * [[refLmScore]] already computes), in exact micro-units
    * loss_micro = ⌊Σ n_oov · 10⁶ / Σ n_trans⌋. Update, `rounds` times
    * with η = 1/4:
    *   W'_d = ⌊W_d · (C + loss_d − Ā) / C⌋,  C = 4·10⁶,
    *   Ā = ⌊Σ W·loss / Σ W⌋ (the current weighted average loss) —
    * i.e. W ← W·(1 + η·excess), kept in FIXED-POINT INTEGERS so every
    * operation is order-independent and the DuckDB oracle replays the
    * trajectory bit-for-bit (a float exp() update would diverge across
    * engines; the linearized multiplicative update is standard MW).
    * All operands stay positive (loss, Ā ∈ [0, 10⁶] ⇒ factor ≥ 3·10⁶),
    * so floor and truncating division agree across engines, and the
    * magnitudes are overflow-safe: W ≤ 10⁹·1.25^rounds, W·factor ≤
    * 5·10¹⁶ at the default 10 rounds.
    *
    * Scale shape: the corpus-scale work is ONE [[refLmScore]] pass +
    * a per-source partial agg; the iteration then runs on the
    * |domains|-row table in the driver — bounded by design (DoReMi
    * mixes tens of domains, the same bounded-frame contract as the
    * ≤512-centroid collects in [[graft.pipeline.VectorOps]]). Output
    * per source: (source, n_docs, loss_micro, w_final, weight,
    * budget_tokens) under a 10⁶-token budget. */
  def domainReweight(docs: DataFrame, trainPred: Column,
                     rounds: Int = 10): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "1..20 rounds (overflow bound)")
    val spark = docs.sparkSession
    val scored = refLmScore(docs, trainPred)
    val perSrc = docs.select(col("doc_id"), col("source"))
      .join(scored, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        // decimal numerator: Σn_oov · 10⁶ stays exact even when a
        // source's transition count itself approaches 2⁶³/10⁶. The cast
        // is DECIMAL(28,0), NOT (38,0): Spark caps multiply results at
        // precision 38 and silently ROUNDS past it, so a (38,0)·10⁶
        // product loses its low digits (measured off-by-one vs the
        // oracle); 28+7 digits stay exact under the cap
        expr("(CAST(sum(n_oov) AS DECIMAL(28,0)) * 1000000) div sum(n_trans)")
          .as("loss_micro"))
      .orderBy(col("source"))
      .collect()
    val n = perSrc.length
    val srcs = perSrc.map(_.getString(0))
    val nd = perSrc.map(_.getLong(1))
    val loss = perSrc.map(_.getLong(2))
    val C = 4000000L
    val w = Array.fill(n)(1000000000L)
    for (_ <- 1 to rounds) {
      var swl = 0L; var sw = 0L
      var i = 0
      while (i < n) { swl += w(i) * loss(i); sw += w(i); i += 1 }
      val avg = swl / sw
      i = 0
      while (i < n) { w(i) = w(i) * (C + loss(i) - avg) / C; i += 1 }
    }
    val tw = w.sum
    import spark.implicits._
    srcs.indices.map { i =>
      (srcs(i), nd(i), loss(i), w(i),
        java.math.BigDecimal.valueOf(w(i).toDouble / tw + 1e-9)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(),
        w(i) * 1000000L / tw)
    }.toDF("source", "n_docs", "loss_micro", "w_final", "weight",
      "budget_tokens")
  }
}
