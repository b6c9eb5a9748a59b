package graft.queries

import graft.Tables
import graft.functions.TextCols
import graft.pipeline.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verifiable queries for the LLM-training-data pipeline operators over the
  * `documents` table: text analysis (token stats, quality, language ID,
  * fingerprints) and deduplication (exact, MinHash-LSH, inverted-index
  * Jaccard, SimHash). Every hash is md5-derived so the DuckDB oracles
  * reproduce values bit-exactly.
  */
object TextQueries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** The shared full-corpus BPE tokenizer state (fit once per session ×
    * sf dir via [[graft.pipeline.BpeFixture]]): every BPE consumer
    * below encodes against this ONE learned table instead of refitting
    * the identical 20 merges per query. */
  private def bpeState(s: SparkSession, d: String) =
    graft.pipeline.BpeFixture.learnedState(docs(s, d), d, nMerges = 20)

  /** DuckDB spelling of [[DedupOps.hex60]]. */
  private[queries] def hex60Sql(h: String) = s"CAST('0x' || substr($h, 1, 15) AS BIGINT)"

  /** DuckDB spelling of the distinct 3-token shingle set of `text`.
    * concat_ws (not ||) so out-of-range trailing tokens are SKIPPED like
    * Spark's concat_ws, keeping <3-token documents' partial shingle
    * identical instead of NULL-propagating. */
  private[queries] val shinglesSql =
    """list_distinct(list_transform(
      |  range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      |  i -> concat_ws(' ', string_split(text, ' ')[i],
      |       string_split(text, ' ')[i+1],
      |       string_split(text, ' ')[i+2])))""".stripMargin

  /** Shared oracle CTE chain doc_id → shingle set, MinHash signature,
    * band keys, parameterized on the corpus relation (a table or a prior
    * CTE name, e.g. a deterministic sample) — the sets/sigs/bands chain
    * is byte-identical for every consumer so the replays can't drift. */
  private[queries] def lshCteFor(base: String): String =
    s"""WITH sets AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM $base),
       |hashes AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> ${hex60Sql("md5(s)")} % 1000000007) AS hs
       |  FROM sets),
       |sigs AS (
       |  SELECT doc_id, sh, list_transform(range(0, 16), j ->
       |    list_min(list_transform(hs, h ->
       |      (h * (j * 2 + 1) + j * 7919) % 1000000007))) AS sig
       |  FROM hashes),
       |bands0 AS (
       |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
       |    md5(CAST(b AS VARCHAR) || '|' ||
       |        array_to_string(list_transform(list_slice(sig, b*4 + 1, b*4 + 4),
       |          x -> CAST(x AS VARCHAR)), ',')))) AS bkey
       |  FROM sigs),
       |bhot AS (SELECT bkey FROM bands0 GROUP BY bkey
       |  HAVING COUNT(*) > ${graft.pipeline.DedupOps.MaxBandBucket}),
       |bands AS (SELECT * FROM bands0
       |  WHERE bkey NOT IN (SELECT bkey FROM bhot))""".stripMargin

  /** [[lshCteFor]] over the full documents table — the common spelling. */
  private[queries] val lshCte = lshCteFor("documents")

  /** Shared oracle CTE chain from the LSH band frames to near-dup
    * components `comps(doc_id, comp_id)` — candidates, exact-Jaccard
    * verification at >= 0.5, transitive closure, min-reachable-label.
    * Requires an lshCte prefix with its WITH rewritten RECURSIVE; shared
    * verbatim by dedup_components and every cluster-consuming oracle
    * (canonical selection, leak-proof split) so the replays can't drift. */
  private[queries] val componentsCtes: String =
    s"""cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
       |  FROM cands
       |  JOIN sets sa ON sa.doc_id = doc_a
       |  JOIN sets sb ON sb.doc_id = doc_b),
       |e0 AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE jaccard >= 0.5),
       |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comps AS (SELECT a AS doc_id, MIN(b) AS comp_id FROM reach GROUP BY a)""".stripMargin

  /** The dedup_lsh_recall oracle body over any CTE prefix that provides
    * `sets(doc_id, sh)` and `bands(doc_id, bkey)` — shared by the
    * full-corpus and sampled variants so the two replays can't drift. */
  private def lshRecallOracle(pre: String): String =
      s"""$pre,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |lsh AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |inv0 AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets),
         |hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 100),
         |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
         |expairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
         |         MIN(a.n) AS na, MIN(b.n) AS nb
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ex AS (SELECT doc_a, doc_b FROM expairs
         |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
         |hits AS (SELECT e.doc_a, e.doc_b,
         |    CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM ex e LEFT JOIN lsh l USING (doc_a, doc_b))
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_caught,
         |  CASE WHEN COUNT(*) = 0 THEN 1.0
         |       ELSE ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*) + 1e-9, 4) END AS recall
         |FROM hits""".stripMargin

  /** DuckDB replay of [[TextOps.bpeLearn]]: every merge round unrolled
    * as a CTE block (rounds are FIXED, the kmeansCtes pattern), each
    * round = pair counts → 1-row argmax → relational left-to-right
    * non-overlapping merge (runs of consecutive matches, even offsets).
    * An exhausted round has an empty top CTE: it contributes no output
    * row and leaves the word table unchanged — same as the engine's
    * loop break. Every CTE is MATERIALIZED: each round reads the prior
    * word table twice, so default inlining would double the plan per
    * round (2^rounds scans of documents). */
  private def bpeOracle(rounds: Int): String = {
    val finals = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, l AS lhs, r AS rhs,
         |  l || r AS merged, CAST(n AS BIGINT) AS pair_n FROM top$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"${bpeCtes(rounds)}\n$finals"
  }

  /** The char-split word-frequency table of `src` as a CTE body — round
    * 0 of every merge chain ([[TextOps.charWords]]'s spelling). */
  private def charWordsSql(src: String): String =
    s"""SELECT w, COUNT(*) AS cnt, string_split(w, '') AS syms
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM $src)
       |  GROUP BY w""".stripMargin

  /** ONE relational merge-replay round: the g/mg/out CTE triple that
    * applies the pair held by the 1-row CTE `top` to word table `prev`
    * (left-to-right non-overlap over runs of consecutive matches, even
    * offsets) — shared verbatim by the learn chain (where `top` is that
    * round's argmax) and the frozen-apply chain (where `top` is the
    * LEARNED table's rank-r row replayed over a different corpus), so
    * the two replays cannot drift. An empty `top` (exhausted learn)
    * makes the round an identity: COALESCE(…, false) marks nothing. */
  private def mergeRoundCtes(top: String, prev: String, g: String,
                             mg: String, out: String): String =
    s"""$g AS MATERIALIZED (SELECT w, cnt, i, syms[i] AS s,
       |    COALESCE(syms[i] = (SELECT l FROM $top)
       |      AND syms[i + 1] = (SELECT r FROM $top), false) AS m
       |  FROM (SELECT w, cnt, syms, UNNEST(range(1, len(syms) + 1)) AS i
       |        FROM $prev)),
       |$mg AS MATERIALIZED (SELECT w, i FROM (
       |    SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
       |    FROM $g WHERE m)
       |  QUALIFY (i - MIN(i) OVER (PARTITION BY w, grp)) % 2 = 0),
       |$out AS MATERIALIZED (SELECT w, cnt, list(out_s ORDER BY i) AS syms FROM (
       |    SELECT g.w, g.cnt, g.i AS i,
       |      CASE WHEN mg.i IS NOT NULL
       |        THEN (SELECT l || r FROM $top) ELSE g.s END AS out_s,
       |      COALESCE(lag(mg.i IS NOT NULL) OVER (
       |        PARTITION BY g.w ORDER BY g.i), false) AS pm
       |    FROM $g g LEFT JOIN $mg mg ON g.w = mg.w AND g.i = mg.i)
       |  WHERE NOT pm GROUP BY w, cnt)""".stripMargin

  /** Just the unrolled merge-round CTE chain (w0 … w`rounds`) over the
    * corpus relation `src`, shared by the learn oracle and the encode
    * oracle — w`rounds` IS the encoded vocabulary (w, cnt, syms).
    * `p` prefixes every CTE name so two independent learn chains (e.g.
    * the vocab-drift oracle's two corpus halves) compose in one WITH. */
  private def bpeCtes(rounds: Int, src: String = "documents",
                      p: String = ""): String = {
    val head =
      s"""WITH ${p}w0 AS MATERIALIZED (
         |  ${charWordsSql(src)})""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""${p}pr$r AS MATERIALIZED (SELECT l, r, SUM(cnt) AS n FROM (
         |    SELECT cnt, syms[i] AS l, syms[i + 1] AS r FROM (
         |      SELECT cnt, syms, UNNEST(range(1, len(syms))) AS i FROM ${p}w${r - 1}))
         |  GROUP BY l, r),
         |${p}top$r AS MATERIALIZED (SELECT l, r, n FROM ${p}pr$r ORDER BY n DESC, l, r LIMIT 1),
         |${mergeRoundCtes(s"${p}top$r", s"${p}w${r - 1}", s"${p}g$r", s"${p}mg$r", s"${p}w$r")}""".stripMargin
    }.mkString(",\n")
    s"$head,\n$steps"
  }

  /** Positional (doc_id, pos, w) token stream — shared by every oracle
    * that joins the corpus back onto the BPE word table. */
  private val docWordCtes: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |wx AS (SELECT doc_id, UNNEST(range(1, len(ts) + 1)) AS pos, ts FROM tk),
      |wxx AS (SELECT doc_id, pos, ts[pos] AS w FROM wx)""".stripMargin

  /** Shared oracle chain `chunks(doc_id, chunk_id, start_tok, n_tokens,
    * chunk_md5)` — the [[TextOps.cdcChunks]] spelling (rolling-hash
    * boundaries → lag/row_number segmentation), factored for the chunk
    * consumers. */
  private lazy val cdcChunkCtes: String = {
    val pows = (0 until TextOps.CdcW)
      .scanLeft(1L)((a, _) => a * 131L % TextOps.HashP)
      .take(TextOps.CdcW).reverse
    val terms = pows.zipWithIndex.map { case (p, i) =>
      val off = TextOps.CdcW - 1 - i
      s"""(ascii(substr(ts[j - $off], 1, 1)) * 131 + length(ts[j - $off]) * 31
         | + ascii(right(ts[j - $off], 1))) * CAST($p AS BIGINT)""".stripMargin
    }.mkString("\n      + ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ts,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
       |pj AS (SELECT doc_id, CAST(j AS BIGINT) AS j, ts FROM (
       |    SELECT doc_id, ts, UNNEST(range(4, n + 1)) AS j FROM t WHERE n >= 4)),
       |bj AS (SELECT doc_id, j FROM pj
       |  WHERE (($terms) % ${TextOps.HashP}) % 16 = 0),
       |ends AS (SELECT doc_id, j FROM bj UNION SELECT doc_id, n AS j FROM t),
       |mk AS (SELECT doc_id, j,
       |    COALESCE(lag(j) OVER (PARTITION BY doc_id ORDER BY j) + 1, 1) AS start,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY j) - 1 AS BIGINT)
       |      AS chunk_id
       |  FROM ends),
       |chunks AS (SELECT mk.doc_id, chunk_id, CAST(start AS BIGINT) AS start_tok,
       |  j - start + 1 AS n_tokens,
       |  md5(array_to_string(list_slice(ts, start, j), ' ')) AS chunk_md5
       |FROM mk JOIN t ON mk.doc_id = t.doc_id)""".stripMargin
  }

  /** DuckDB replay of [[TextOps.bpeEncode]]: the learn chain's final
    * word table joined back onto the positional token stream, regrouped
    * per document. */
  private def bpeEncodeOracle(rounds: Int): String =
    s"""${bpeCtes(rounds)},
       |$docWordCtes,
       |enc AS (SELECT doc_id, pos, len(syms) AS ntok,
       |          array_to_string(syms, '|') AS ws
       |        FROM wxx JOIN w$rounds USING (w))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(ntok) AS BIGINT) AS bpe_tokens,
       |  string_agg(ws, ' ' ORDER BY pos) AS bpe_text
       |FROM enc GROUP BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_stats" -> ((s, d) => TextOps.tokenStats(docs(s, d))),
    // BPE encode: the 20-merge table applied back to the corpus — per
    // doc the merged symbol string and the exact BPE token count (the
    // number a pretraining token budget actually bills)
    "text_bpe_encode" -> ((s, d) =>
      TextOps.bpeEncodeWith(docs(s, d), bpeState(s, d)._2)),
    // token stats + the BPE budget column (base stats stay per-row; the
    // encode joins the SHARED fitted vocabulary — no refit)
    "text_token_stats_bpe" -> ((s, d) => {
      val dd = docs(s, d)
      TextOps.tokenStatsBpe(dd, TextOps.bpeEncodeWith(dd, bpeState(s, d)._2))
    }),
    // tokenizer fertility per language under the shared frozen vocab:
    // BPE tokens per word and chars per token, the fairness diagnostic
    "bpe_fertility" -> ((s, d) => {
      val dd = docs(s, d)
      TextOps.bpeFertility(dd, TextOps.bpeEncodeWith(dd, bpeState(s, d)._2))
    }),

    // WordPiece greedy longest-match encode (the BERT runtime) under a
    // frequency-built subword vocabulary — the second tokenizer family:
    // the fit is two partial aggs + one top-k (no sequential merge
    // rounds), the encode pays per distinct word
    "wordpiece_stats" -> ((s, d) => TextOps.wordpieceStats(docs(s, d))),

    // Unigram-LM Viterbi segmentation (SentencePiece runtime) under the
    // SAME frequency vocabulary — the third tokenizer family; per
    // source, the likelihood-optimal piece counts next to greedy's, and
    // how many word occurrences unigram segments SHORTER
    "unigram_stats" -> ((s, d) => TextOps.unigramStats(docs(s, d))),
    // the train-tokenizer/encode-val contract: merges learned ONLY on
    // the train split, frozen, replayed over the val split (val-only
    // words start from characters like any production encode of unseen
    // text). Oracle learns on the same train subset and unrolls the
    // same 20 apply rounds over the val word table.
    "text_bpe_encode_frozen" -> ((s, d) => {
      val dd = docs(s, d)
      val sp = TextOps.splitCol(valFrac = 0.1, testFrac = 0.05)
      val merges = graft.pipeline.BpeFixture.learnedState(
        dd.filter(sp === "train"), s"train@$d", nMerges = 20)._1
      TextOps.bpeEncodeFrozen(dd.filter(sp === "val"), merges)
    }),
    // TOKENIZER PERSISTENCE roundtrip (reference S11 semantics for the
    // tokenizer: common/models.py:53-57): the fitted merge table and the
    // encoded word table both land in parquet; the merge table alone is
    // then reloaded and frozen-replayed over the corpus — proving the
    // persisted artifact fully reconstructs the encode (result equals
    // text_bpe_encode, which is what the oracle states).
    "bpe_vocab_roundtrip" -> ((s, d) => {
      val dd = docs(s, d)
      val (merges, wsyms) = bpeState(s, d)
      val dir = s"target/graft-tmp/bpe_vocab_${new java.io.File(d).getName}"
      merges.write.mode("overwrite").parquet(s"$dir/merges")
      wsyms.write.mode("overwrite").parquet(s"$dir/wordsyms")
      TextOps.bpeEncodeFrozen(dd, s.read.parquet(s"$dir/merges"))
    }),
    // tokenizer compression/fertility per source (chars per BPE token,
    // BPE tokens per word) over the SHARED fitted vocabulary
    "bpe_compression_stats" -> ((s, d) => {
      val dd = docs(s, d)
      TextOps.bpeCompressionStats(dd, TextOps.bpeEncodeWith(dd, bpeState(s, d)._2))
    }),
    // per-split OOV rate of the train-fitted vocabulary — occurrences
    // and distinct words the frozen tokenizer never saw in training
    "bpe_oov_rate" -> ((s, d) => {
      val dd = docs(s, d)
      val sp = TextOps.splitCol(valFrac = 0.1, testFrac = 0.05)
      val trainWords = graft.pipeline.BpeFixture.learnedState(
        dd.filter(sp === "train"), s"train@$d", nMerges = 20)._2
      TextOps.bpeOovRate(dd, trainWords)
    }),
    // split-leakage screen: val documents sharing >= 3 shingles with a
    // TRAIN document (the decontam machinery turned inward — the check
    // that a random split didn't put near-copies on both sides of the
    // train/val boundary)
    "split_leakage" -> ((s, d) => {
      val dd = docs(s, d)
      val sp = TextOps.splitCol(valFrac = 0.1, testFrac = 0.05)
      DedupOps.contamination(dd.filter(sp =!= "test"), sp === "val")
    }),
    // winnowing (MOSS) fingerprint selection: window-min over k-gram
    // hashes with rightmost ties — guaranteed detection of any shared
    // run >= w+k-1 tokens (vs the minhash family's probabilistic catch)
    "text_winnowing" -> ((s, d) => TextOps.winnowingStats(docs(s, d))),
    // MOSS-style overlap pairs over the winnowed sets: df-capped
    // posting lists, >= minShared shared fingerprints
    "dedup_winnowing" -> ((s, d) => TextOps.winnowingPairs(docs(s, d))),
    // ingest form: newest fifth screened against the older index only
    // (O(batch) probes; the dedup_incremental shape)
    "dedup_winnowing_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      val split = (dd.agg(org.apache.spark.sql.functions.max("doc_id"))
        .head.getLong(0) * 4) / 5
      TextOps.winnowingIncremental(dd, split)
    }),
    "text_quality"     -> ((s, d) => TextOps.quality(docs(s, d))),
    "quality_gopher_rules" -> ((s, d) => TextOps.gopherRules(docs(s, d))),

    // the n-gram half of Gopher's Table A1 the word rules don't cover:
    // top-2/3/4-gram character fraction + duplicated-5..10-gram
    // character fraction (positional coverage, chars billed once), keep
    // at the published percent cuts via integer cross-multiplication
    "quality_gopher_repetition" -> ((s, d) =>
      TextOps.gopherRepetition(docs(s, d))),

    // ExactSubstr (Lee et al. 2021): every occurrence except the
    // canonical one of any repeated >= k-token run leaves the corpus —
    // no suffix array, no pairing: one gram-count shuffle + doc-local
    // positional coverage, O(corpus tokens)
    "dedup_exact_substring" -> ((s, d) =>
      TextOps.exactSubstringDedup(docs(s, d))),
    // k-sensitivity evidence for the ExactSubstr deploy (the paper runs
    // k = 50 web tokens; the right k for a given corpus is measured,
    // not assumed): trim mass at k = 8/16/32/50, one gram pass each
    "dedup_substr_k_sweep" -> ((s, d) =>
      TextOps.exactSubstrKSweep(docs(s, d))),
    // content-policy wordlist gate: whole-word banned-term counts +
    // integer-exact hit-budget/density verdicts with first-failure
    // reason (the gopherRules recipe; C4/RefinedWeb-lineage filter)
    "quality_policy_gate" -> ((s, d) => TextOps.policyGate(docs(s, d))),
    // C4 line-level rule set (Raffel et al. 2020) over the deterministic
    // line/artifact renderer: per-line terminal-punctuation + min-words
    // + javascript rules, page-level lorem/brace/min-clean-lines rules,
    // reconstructed page out — the published C4 cleanup, distinct from
    // the doc-level Gopher thresholds
    "quality_c4_rules" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.c4Rules(TextOps.c4Inject(docs(s, d)), col("ltext"))
    }),
    "text_lang_id"     -> ((s, d) => TextOps.langId(docs(s, d))),
    "text_fingerprints" -> ((s, d) => TextOps.fingerprints(docs(s, d))),
    "dedup_exact"       -> ((s, d) => DedupOps.dedupExact(docs(s, d))),
    "dedup_minhash_lsh" -> ((s, d) => DedupOps.minhashPairs(docs(s, d))),

    // b-bit minwise hashing (Li & König 2010): per verified pair, exact
    // Jaccard vs full-signature estimate vs the 1-bit collision-corrected
    // estimate — the 64× signature-compression accuracy trade measured
    // on this corpus's own pairs
    "dedup_bbit_minhash" -> ((s, d) => DedupOps.bbitMinhashEst(docs(s, d))),
    // steady-state ingest dedup: the newest fifth of the corpus (by
    // doc_id) screened against the older four-fifths' band index —
    // O(|batch|) work, never a corpus self-pair pass. The one-row max
    // collect is the batch-boundary lookup any ingest job does.
    "dedup_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      val split = (dd.agg(org.apache.spark.sql.functions.max("doc_id"))
        .head.getLong(0) * 4) / 5
      DedupOps.incrementalPairs(dd, split)
    }),
    "dedup_jaccard_ngram" -> ((s, d) => DedupOps.jaccardPairs(docs(s, d))),
    // candidate recall of the banding vs the exact pairs — the dedup
    // config's honesty metric (text twin of ann_recall)
    "dedup_lsh_recall"  -> ((s, d) => DedupOps.lshRecall(docs(s, d))),
    // production-scale form: both legs gated to the deterministic md5
    // half-sample (exact side cost scales with sampleFrac², not corpus²)
    "dedup_lsh_recall_sampled" -> ((s, d) =>
      DedupOps.lshRecall(docs(s, d), sampleFrac = 0.5)),
    // edit-distance near-dups: MinHash-band candidates, Levenshtein on
    // the 80-char title prefix (the DP runs per candidate, never all
    // pairs — see DedupOps.fuzzyPairs)
    "dedup_fuzzy_titles" -> ((s, d) => DedupOps.fuzzyPairs(docs(s, d))),
    // does the quality heuristic separate en from non-en? per-source
    // Mann-Whitney ROC-AUC, integer rank arithmetic end-to-end
    "quality_auc" -> ((s, d) => TextOps.qualityAuc(docs(s, d))),
    // per-source top-10% quality cut (rank-exact adaptive threshold)
    "quality_adaptive" -> ((s, d) => TextOps.adaptiveQualityFilter(docs(s, d))),
    // sample-based p50/p90/p99 of n_chars per source (10% md5 sample)
    // with the exact-corpus quantiles as the honesty diagnostic
    "corpus_sampled_quantiles" -> ((s, d) => TextOps.sampledQuantiles(docs(s, d))),
    // the per-source dashboard every dataset build starts from: doc and
    // token volume plus mean quality, one partial-aggregated shuffle
    "corpus_source_stats" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // quality and token count are row-local: ONE scan projects both
      // next to source (the old form joined quality and tokenStats back
      // on doc_id — two corpus shuffles for in-row values)
      docs(s, d)
        .select(col("source"), TextOps.qualityCol.as("quality"),
          size(TextCols.tokens).as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(Sql.decAvg(col("quality")) + lit(1e-9), 4).as("mean_quality"))
    }),
    "dedup_simhash"     -> ((s, d) => DedupOps.simhash(docs(s, d))),
    // near-dup CLUSTERS: connected components over the MinHash-LSH pair
    // graph (min-label propagation, see GraphOps) — the step that picks
    // one representative per duplicate cluster at corpus scale
    "dedup_components" -> ((s, d) =>
      graft.pipeline.GraphOps.connectedComponents(
        DedupOps.minhashPairs(docs(s, d))
          .select(org.apache.spark.sql.functions.col("doc_a").as("src"),
            org.apache.spark.sql.functions.col("doc_b").as("dst")))
        .withColumnRenamed("id", "doc_id")),
    // PageRank centrality over the same verified near-dup pair graph:
    // which documents are template HUBS of their duplicate neighborhood
    // (exact-integer recurrence — the oracle replays all 10 rounds)
    "dedup_pagerank" -> ((s, d) =>
      graft.pipeline.GraphOps.pagerank(
        DedupOps.minhashPairs(docs(s, d))
          .select(org.apache.spark.sql.functions.col("doc_a").as("src"),
            org.apache.spark.sql.functions.col("doc_b").as("dst")))),
    // eval set = source 'src0' (a stand-in benchmark); ≥3 shared 3-gram
    // shingles with any eval doc flags a training doc as contaminated
    "decontam_overlap" -> ((s, d) =>
      DedupOps.contamination(docs(s, d), org.apache.spark.sql.functions.col("source") === "src0")),
    // GPT-style packing: 8 parallel streams, 256-token packs (the
    // synthetic docs average ~50 tokens → ~5 docs per pack)
    "pack_sequences" -> ((s, d) =>
      TextOps.packAssignments(docs(s, d), budget = 256, groups = 8)),
    // budget-exact packing: pack boundaries cut by the BPE token bill
    // (bpeEncode), not the whitespace proxy — the production loader form
    "pack_bpe_sequences" -> ((s, d) =>
      TextOps.packByCounts(
        TextOps.bpeEncodeWith(docs(s, d), bpeState(s, d)._2)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("bpe_tokens").as("n_tokens")),
        budget = 512, groups = 8)),
    // padding-vs-packing utilization: the numbers that justify packing
    // for this corpus (naive per-doc padded slots vs GPT-pack bill)
    "pack_efficiency" -> ((s, d) =>
      TextOps.packEfficiency(docs(s, d), budget = 256, groups = 8)),

    "split_assign" -> ((s, d) =>
      TextOps.splitAssign(docs(s, d), valFrac = 0.1, testFrac = 0.05)),
    // Gopher-style repetitiousness filters over the documents table
    "text_repetition" -> ((s, d) => TextOps.repetition(docs(s, d))),
    // best-docs-per-domain selection: top 3 by quality score per source,
    // ties by doc_id — rank inside a (small-keyed) window after the
    // row-local quality projection; one shuffle on source
    "text_topk_per_source" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number}
      val w = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id"))
      // quality projected in the scan itself (row-local — no join-back)
      docs(s, d).select(col("doc_id"), col("source"),
          TextOps.qualityCol.as("quality"))
        .withColumn("rk", row_number().over(w)
          .cast("long")) // DuckDB row_number() is BIGINT
        .filter(col("rk") <= 3)
    }),
    // corpus vocabulary statistics: the 20 most frequent token bigrams
    // (explode -> count -> top-k; ties by bigram text). Map-side partial
    // aggregation absorbs the heavy explode before the single shuffle.
    "corpus_top_bigrams" -> ((s, d) => TextOps.topBigrams(docs(s, d), 20)),
    // source-overlap diagnostic: pairwise vocabulary Jaccard between
    // sources (per-token fan-out bounded by |sources|^2)
    "corpus_source_jaccard" -> ((s, d) => TextOps.sourceVocabJaccard(docs(s, d))),
    // the native ShingleMinHash expression against the same oracle as the
    // DSL fp_shingle_min (session carries graft.GraftExtensions)
    "text_fp_native" -> ((s, d) => TextOps.fingerprintsNative(docs(s, d))),
    // FLAGSHIP COMPOSITION — the full corpus-cleaning pipeline a 100 TB
    // pretraining run executes, as ONE verified query. Stage order is the
    // production order (cheap row-local gates first, pair-generating
    // stages on the shrunken survivor set):
    //   1. language gate (pred_lang = en) + quality gate (>= 0.6)
    //   2. exact dedup (keep min doc_id per md5)
    //   3. near-dup clusters (MinHash-LSH pairs -> connected components),
    //      keep only each cluster's representative
    //   4. benchmark decontamination (drop the src0 eval set and every
    //      train doc sharing >= 3 shingles with it)
    //   5. deterministic split + GPT-style packing of the train split
    // Output: (doc_id, source, split, pack_id?null for val/test).
    "corpus_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val all = docs(s, d)
      // BOTH gates in ONE row-local pass (TextOps.gateProjection): the
      // old two-scans-plus-two-doc_id-joins form shuffled the corpus
      // twice for predicates computable in-row. The quality score rides
      // along to the OUTPUT (a training-data pipeline keeps its cleaning
      // signals for downstream curriculum / mixing decisions).
      val gated = TextOps.gateProjection(all)
        .filter(col("pred_lang") === "en" && col("quality") >= 0.6)
        .select(all.columns.map(col) :+ col("quality"): _*)
      // exact dedup as ONE window pass (keep min doc_id per content
      // hash): same result as groupBy(fp).min + join-back, one corpus
      // shuffle instead of two
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      // d1 feeds BOTH the pair-graph materialization (inside the CC
      // loop's first checkpoint) and the final survivor anti-join — cache
      // it so the lang/quality/dedup subtree runs once, not per consumer
      val d1 = graft.CacheScope.persist(
        gated.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"))
      // one materialized shingle index feeds banding AND verification
      val inv = graft.CacheScope.persist(DedupOps.shingleRows(d1))
      val nonRep = graft.pipeline.GraphOps.connectedComponents(
        DedupOps.minhashPairs(d1, sharedInv = Some(inv))
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .filter(col("comp_id") =!= col("id")).select(col("id").as("doc_id"))
      val d2 = d1.join(nonRep, Seq("doc_id"), "left_anti")
      // decontam extends the SAME persisted shingle index instead of
      // re-scanning the corpus: only docs the lang/quality/exact gates
      // rejected (all \ d1) are re-shingled; identical results, one
      // corpus-wide shingle pass saved. inv stays cached until the
      // enclosing scope releases it (decontam consumes it lazily).
      val contam = DedupOps.contamination(all, col("source") === "src0",
          sharedShingles = Some(inv))
        .select(col("train_id").as("doc_id")).distinct()
      // the final select reads withSplit twice (pack input + output join)
      val d3 = graft.CacheScope.persist(d2.filter(col("source") =!= "src0")
        .join(contam, Seq("doc_id"), "left_anti"))
      // the split verdict is row-local (md5 draw of doc_id) — projected
      // in place, not joined back
      val withSplit = d3.withColumn("split",
        TextOps.splitCol(valFrac = 0.1, testFrac = 0.05))
      val packed = TextOps.packAssignments(
        withSplit.filter(col("split") === "train"), budget = 256, groups = 8)
        .select(col("doc_id"), col("pack_id"))
      withSplit.join(packed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("split"), col("pack_id"),
          col("quality"))
    }),

    // mixing weights: halve src0, keep 10% of src1, everything else full
    "sample_mixture" -> ((s, d) =>
      TextOps.sampleMixture(docs(s, d), Map("src0" -> 0.5, "src1" -> 0.1))),

    // exact post-mixture token bill per slice (BPE tokens of the docs
    // the deterministic mixture actually keeps) — the budget table a
    // pretraining run plans against
    "mixture_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dd = docs(s, d)
      TextOps.mixtureTokenBudget(dd, Map("src0" -> 0.5, "src1" -> 0.1),
        TextOps.bpeEncodeWith(dd, bpeState(s, d)._2)
          .select(col("doc_id"), col("bpe_tokens").as("n_tokens")))
    }),

    // UNIMAX ALLOCATION (r13) — the budget-constrained epoch-capped
    // language-sampling waterfill (UniMax, ICLR 2023): caps every
    // language at 4 epochs, splits a 3x-corpus token budget uniformly
    // over the rest; closed-form prefix-monotone allocator over the
    // bounded language list, BIGINT-exact until the one final division
    "mixture_unimax" -> ((s, d) => TextOps.unimaxAllocation(docs(s, d))),

    // GPT-2-style pretokenization (category-run segmentation): the token
    // unit a BPE tokenizer budgets with, vs whitespace words
    "text_pretokenize" -> ((s, d) => TextOps.pretokenStats(docs(s, d))),

    // BPE tokenizer TRAINING: 20 merge rounds learned from the corpus
    // word-frequency table (oracle replays every round as unrolled CTEs)
    "bpe_learn" -> ((s, d) => TextOps.bpeLearn(docs(s, d), nMerges = 20)),

    // count-min sketch token frequencies (d=4 x w=256 mergeable
    // counters) with exact top-20 counts as the honesty diagnostic
    "corpus_cms_tokens" -> ((s, d) => TextOps.cmsTokenCounts(docs(s, d))),

    // weight-proportional priority sample (50 docs by token count) with
    // the threshold-based unbiased subset-sum estimator
    "priority_sample" -> ((s, d) => TextOps.prioritySample(docs(s, d), k = 50)),

    // BM25 lexical retrieval (rational-idf variant, see TextOps.bm25)
    // for a fixed 3-term query; top 20 docs
    "text_bm25" -> ((s, d) =>
      TextOps.bm25(docs(s, d), Bm25Terms)),

    // positional phrase search: rarest-first posting-list intersection
    // for a fixed 3-token phrase, one row per match with a +-2-token
    // snippet
    "search_phrase" -> ((s, d) =>
      TextOps.phraseSearch(docs(s, d), PhraseTerms)),

    // per-source approximate-distinct vocabulary via the KMV sketch,
    // with the exact count kept as the honesty diagnostic
    "corpus_kmv_distinct" -> ((s, d) =>
      TextOps.kmvDistinct(docs(s, d), k = 64)),

    // corpus-trained char-bigram LM quality scoring (CCNet-style
    // perplexity filter; arithmetic-mean-probability variant)
    "text_charlm_score" -> ((s, d) => TextOps.charLmScore(docs(s, d))),

    // REFERENCE-trained word-bigram LM scoring: fit add-one-smoothed
    // transition probabilities on the curated src0/src1 slice only,
    // freeze, score every document — CCNet's train-on-wiki/score-the-web
    // shape, with the OOV-transition bill per doc
    "quality_ref_ppl" -> ((s, d) => TextOps.refLmScore(docs(s, d),
      org.apache.spark.sql.functions.col("source").isin("src0", "src1"))),

    // CCNet head/middle/tail buckets: per-source score terciles of the
    // frozen-reference-LM pass, integer-exact rank rule over the
    // rounded (cross-engine exact) score
    "quality_ppl_buckets" -> ((s, d) => TextOps.pplBuckets(docs(s, d),
      org.apache.spark.sql.functions.col("source").isin("src0", "src1"))),

    // GATE AGREEMENT MATRIX: the four raw-corpus keep verdicts (langID,
    // quality >= 0.6, Gopher rules, content policy) evaluated in ONE
    // row-local scan, histogrammed by verdict combination — the
    // redundancy/complementarity audit published web pipelines run
    // before stacking gates (which rule actually bites, which pair
    // always agrees). Zero shuffles except the 16-row groupBy.
    "quality_gate_matrix" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.gateProjection(docs(s, d))
        .select(
          when(col("pred_lang") === "en", 1L).otherwise(0L).as("g_lang"),
          when(col("quality") >= 0.6, 1L).otherwise(0L).as("g_quality"),
          when(TextOps.gopherKeepCol, 1L).otherwise(0L).as("g_gopher"),
          when(TextOps.policyKeepCol, 1L).otherwise(0L).as("g_policy"))
        .groupBy(col("g_lang"), col("g_quality"), col("g_gopher"), col("g_policy"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // leave-one-source-out jackknife refLM scoring: every transition
    // scored under the full model AND the model that never saw its own
    // source (pure count subtraction, no refit) — the measured
    // self-preference gap per source
    "quality_ppl_loo" -> ((s, d) => TextOps.refLmLooBySource(docs(s, d))),

    // Stupid Backoff scoring (Brants et al. 2007): the MapReduce-scale
    // smoothing — raw bigram relative frequency, α=0.4 unigram fallback,
    // zero for true OOV — frozen on the same curated slice as the refLM,
    // with per-doc backoff and OOV bills
    "quality_sb_score" -> ((s, d) => TextOps.stupidBackoffScore(docs(s, d),
      org.apache.spark.sql.functions.col("source").isin("src0", "src1"))),

    // fastText-shape hashed-feature logistic regression (Joulin et al.
    // 2016) predicting lang == 'en' over the marker-injected corpus
    // (see TextOps.injectLangMarkers — the corpus itself is
    // label-signal-free by construction), trained by fixed-point
    // full-batch GD on the md5 half-split, scored corpus-wide; the whole
    // gradient trajectory is integer-exact so the oracle replays the
    // TRAINING, not just the scoring. Eval-split accuracy 95.6% at
    // sf0.01 (train 99.6%) — pinned ≥ 0.8 (the sf0.001 floor) in
    // ClassifierSpec.
    "classifier_langid" -> ((s, d) => {
      val feats = graft.CacheScope.persist(
        TextOps.classifierFeatures(
          TextOps.injectLangMarkers(docs(s, d)),
          org.apache.spark.sql.functions.col("lang") === "en"))
      TextOps.classifierScore(feats, TextOps.classifierFit(feats))
    }),

    // overlapping token-window chunks (32-token windows every 24) — the
    // retrieval/embedding prep step; chunk boundaries are pure (n,
    // window, stride) arithmetic so the oracle replays them exactly
    "text_chunking" -> ((s, d) =>
      TextOps.chunkDocs(docs(s, d), window = 32, stride = 24)),

    // content-defined chunking: boundaries where the 4-token rolling
    // hash hits a zero residue mod 16 (edit-resilient, re-synchronizing
    // — the storage/corpus-dedup chunker; expected chunk ~16 tokens)
    "text_cdc_chunks" -> ((s, d) => TextOps.cdcChunks(docs(s, d))),

    // per-source content-addressed storage savings over the CDC chunks
    "cdc_dedup_ratio" -> ((s, d) => TextOps.cdcDedupRatio(docs(s, d))),

    // snapshot CDC: old = 90% draw of the corpus, new = 95% draw with
    // 10% of texts edited — every status occurs and the diff is the
    // added+changed re-process slice an incremental ingest consumes
    "corpus_snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dd = docs(s, d)
      val oldSnap = dd.filter(TextOps.mdDraw6("snapold") < 900000L)
      val newSnap = dd.filter(TextOps.mdDraw6("snapnew") < 950000L)
        .withColumn("text", when(TextOps.mdDraw6("snapedit") < 100000L,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      TextOps.snapshotDiff(oldSnap, newSnap)
    }),

    // tokenizer VOCABULARY DRIFT: merges learned independently on the
    // two deterministic corpus halves, compared rank by rank — the
    // distribution-shift monitor that tells a pipeline when yesterday's
    // tokenizer no longer fits today's crawl (rank-level disagreement
    // is the refit signal alongside bpe_oov_rate)
    "bpe_vocab_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, when}
      val dd = docs(s, d)
      val draw = TextOps.mdDraw6("half")
      // ONE grouped learn fits both halves' vocabularies round-by-round
      // (20 shared rounds instead of 2×20 sequential ones); per-half
      // results are pinned identical to independent bpeLearn runs. The
      // returned merge table is a driver-local frame — no persist needed
      val m = TextOps.bpeLearnGrouped(
        dd, when(draw < 500000, "a").otherwise("b"), nMerges = 20)
      val a = m.filter(col("grp") === "a")
        .select(col("merge_rank"), col("merged").as("merged_a"))
      val b = m.filter(col("grp") === "b")
        .select(col("merge_rank"), col("merged").as("merged_b"))
      a.join(b, Seq("merge_rank"), "full_outer")
        .select(col("merge_rank"), col("merged_a"), col("merged_b"),
          (col("merged_a") <=> col("merged_b")).as("same"))
    }),

    // token-distribution drift per source vs the corpus: Pearson χ² over
    // the top-16 corpus types + OTHER bucket (division-only, so the
    // oracle is exact where KL's log could drift) — the domain-shift
    // monitor that decides when a mixture needs reweighting
    "text_chi2_shift" -> ((s, d) => TextOps.chi2Shift(docs(s, d))),

    // near-dup threshold ablation: pairs/flagged-docs surviving each
    // candidate cutoff, from ONE banded scoring pass (in-row threshold
    // explode, zero rows kept explicit) — the curve that fixes the
    // production threshold
    "dedup_threshold_sweep" -> ((s, d) =>
      graft.pipeline.DedupOps.thresholdSweep(docs(s, d))),

    // triangle census of the >=0.5 near-dup graph: cliquish template
    // families (high clustering coeff) vs drift chains (low) — the
    // structure signal next to the cluster-size histogram
    "dedup_triangles" -> ((s, d) =>
      graft.pipeline.DedupOps.triangleStats(docs(s, d))),

    // banding precision: verified fraction of the surfaced candidates —
    // the honesty companion to dedup_lsh_recall (recall = what banding
    // misses; precision = what verification wastes)
    "dedup_lsh_precision" -> ((s, d) =>
      graft.pipeline.DedupOps.lshPrecision(docs(s, d))),

    // how is duplication distributed: cluster-size buckets (1/2/3-5/6+)
    // with cluster and document counts — scattered pairs vs template
    // families; the singleton row closes the accounting
    "dedup_cluster_sizes" -> ((s, d) =>
      graft.pipeline.DedupOps.clusterSizeHistogram(docs(s, d))),

    // Heaps-law vocabulary growth: distinct token types after the first
    // c documents per checkpoint — the OOV-pressure forecast curve
    "vocab_growth_curve" -> ((s, d) => TextOps.vocabGrowth(docs(s, d))),

    // which sources copy from which: verified near-dup pairs rolled up
    // by unordered source pair with count + mean similarity
    "dedup_source_matrix" -> ((s, d) =>
      graft.pipeline.DedupOps.sourcePairMatrix(docs(s, d))),

    // memorization audit: per doc, the fraction of its 3-gram shingles
    // seen in no earlier document (first-occurrence min-agg)
    "text_ngram_novelty" -> ((s, d) => TextOps.ngramNovelty(docs(s, d))),

    // lang-ID heuristic audited against the labeled lang column: the
    // (actual, predicted, n) confusion matrix
    "lang_confusion" -> ((s, d) => TextOps.langConfusion(docs(s, d))),

    // per-LANGUAGE tokenizer fits in ONE grouped merge loop (the
    // multilingual reality: one vocabulary per language family, fitted
    // together — 5 vocabularies for the rounds of one learn)
    "bpe_learn_by_lang" -> ((s, d) =>
      TextOps.bpeLearnGrouped(docs(s, d),
        org.apache.spark.sql.functions.col("lang"), nMerges = 10)),

    // PII scrub over text with deterministic synthetic contact info
    // appended (the corpus itself is PII-free): counts + redacted text.
    // Injection is doc_id arithmetic so both engines build the same
    // string, and redaction order (email before IP) is part of the op.
    "text_pii_scrub" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val withPii = docs(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com via 10."),
          pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(".0.7 or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
          .as("ptext"))
      TextOps.piiScrub(withPii, col("ptext"))
    }),

    // CCNet-style line-level boilerplate dedup: 10-token "lines", keep
    // each line's globally first occurrence, per-doc survival stats
    "line_dedup" -> ((s, d) => TextOps.lineDedup(docs(s, d), window = 10)),

    // the REMOVAL form (r13): corpus-wide first occurrence of every
    // line kept, later duplicates dropped from the RECONSTRUCTED text
    "text_line_scrub" -> ((s, d) => TextOps.lineScrub(docs(s, d), window = 10)),

    // encoding-artifact gate over text with deterministic synthetic
    // damage injected (the corpus itself is clean): mojibake sequences
    // on doc_id % 7, a U+FFFD on % 11, a C0 control char on % 13
    "text_mojibake" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val withArt = docs(s, d).select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(7L)) === 0, lit(" cafÃ© naÃ¯ve"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11L)) === 0, lit(" �data"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13L)) === 0, lit(" x\u0007z"))
            .otherwise(lit("")))
        .as("atext"))
      TextOps.mojibakeStats(withArt, col("atext"))
    }),

    // repeated-substring spans (token-level substring-dedup units):
    // 5-gram grams occurring >= 2x corpus-wide, merged into maximal runs
    "dedup_spans" -> ((s, d) => TextOps.repeatedSpans(docs(s, d), k = 5)),

    // the REMOVAL form of dedup_spans (ExactSubstr trim): tokens whose
    // every covering 5-gram is a non-first repeated occurrence are
    // dropped from the reconstructed text
    "text_span_scrub" -> ((s, d) => TextOps.spanScrub(docs(s, d), k = 5)),

    // per-source tf-idf keywords: rational idf, df-stopword cut,
    // two-phase top-k against vocabulary-scale window skew. The df cut
    // registers at 79% (not the 50% production default): the synthetic
    // corpus draws from a 31-word vocabulary whose dfs cluster at
    // 75-80% of N, so 50% would leave one survivor and never exercise
    // the ranking — 79% drops the 8 most common terms and ranks the rest
    "text_tfidf_terms" -> ((s, d) => TextOps.tfidfTerms(docs(s, d), maxDfPct = 79)),

    // DSIR-style importance weights against the lang='en' target slice
    // (hashed-unigram features, rational-ratio variant)
    "dsir_weights" -> ((s, d) =>
      TextOps.dsirWeights(docs(s, d),
        org.apache.spark.sql.functions.col("lang") === "en")),

    // per-source token-length quantile sketch (16-token histogram bins,
    // additive/mergeable; exact p50 kept as the honesty column)
    "corpus_len_quantiles" -> ((s, d) =>
      TextOps.lenQuantiles(docs(s, d), binWidth = 16)),

    // deterministic shard + within-shard order for the dataloader
    "corpus_shuffle_shards" -> ((s, d) =>
      TextOps.shuffleShards(docs(s, d), nShards = 16)),

    // per-shard integrity manifest: counts, doc_id range, and the
    // order-independent mod-2^60 content checksum a consumer re-derives
    // shard-locally to detect corruption or truncation
    "shard_manifest" -> ((s, d) => TextOps.shardManifest(docs(s, d))),

    // hybrid retrieval: BM25 top-20 + cosine top-20 for query vector 0,
    // fused with reciprocal-rank fusion (k = 60)
    "hybrid_rrf" -> ((s, d) =>
      TextOps.hybridRrf(docs(s, d), Tables.embeddings(s, d),
        Bm25Terms, qId = 0)),

    // exactly 10 docs per source, deterministic md5-draw ranking
    "stratified_sample" -> ((s, d) =>
      TextOps.stratifiedSample(docs(s, d), k = 10)),

    // ROUND-6 COMPOSITION FLAGSHIP — the modern data-curation pass over
    // a raw corpus, as ONE verified query:
    //   1. DSIR gate: keep docs scoring >= 1.0 against the en target
    //      distribution (importance-weighted selection)
    //   2. line-dedup gate: drop docs that are > 20% boilerplate lines
    //   3. repeated-span gate: drop docs with > 50% of tokens inside
    //      corpus-repeated 5-gram spans
    //   4. deterministic shard + order assignment of the survivors
    // Output: (doc_id, source, dsir_weight, dup_line_frac, span_frac,
    // shard, pos) — the curation signals ride along like
    // corpus_pipeline's quality column.
    "curation_pipeline" -> ((s, d) => curationGates(docs(s, d))),

    // MARKUP-EXTRACTION GATE — the step upstream of lang-ID in every
    // web pipeline (CCNet/RefinedWeb shape), over deterministic
    // synthetic page/inline-markup wrappers (the corpus itself is
    // clean): strip chrome blocks, strip tags, decode entities,
    // collapse whitespace; per-doc markup mass rides along
    "text_extract_html" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.extractHtml(TextOps.htmlInject(docs(s, d)), col("atext"))
        .select(col("doc_id"), col("clean_text"), col("raw_len"),
          col("clean_len"), col("n_tags"), col("markup_ratio"))
    }),

    // DOM-AWARE BLOCK EXTRACTION (r13) — the density-scored upgrade of
    // text_extract_html: split at block boundaries, score each block on
    // visible length + link density + boilerplate opener, keep only
    // content; nav/footer die by SCORE, not by tag name
    "text_extract_blocks" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.extractBlocks(TextOps.htmlInject(docs(s, d)), col("atext"))
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          col("clean_text"))
    }),

    // the curation flagship consuming EXTRACTED text: markup injected,
    // block-extracted back out (extractBlocks — the density-scored
    // production path since r13), then the same three gates + shard
    // assignment run over the clean text — the end-to-end raw-web shape
    "curation_pipeline_html" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cleaned = TextOps.extractBlocks(TextOps.htmlInject(docs(s, d)),
          col("atext"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("clean_text").as("text"))
      curationGates(cleaned)
    }),

    // THE SUBSTRING-TRIM CURATION STAGE, composed (Lee et al. 2021's
    // headline result is that ExactSubstr dedup matters MOST for
    // memorization — here it finally sits in a flagship chain instead
    // of standing alone): line-scrub (CCNet line dedup, removal form)
    // → ExactSubstr trim of the scrubbed text (corpus-repeated ≥
    // 8-token runs leave, canonical copies stay) → the BPE token bill
    // computed over the TRIMMED text with the frozen 20-merge state —
    // so every trimmed token is a token the loader never pays for —
    // → budget-exact packing of that bill (pack_bpe_sequences' shape).
    // Fully-trimmed/fully-scrubbed docs fall to the empty-text length
    // gate before billing. CurationSpec pins that the trim stage
    // CHANGES the downstream bill (stage order matters).
    "curation_pipeline_substr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val scrubbed = TextOps.lineScrub(docs(s, d), window = 10)
        .select(col("doc_id"), col("clean_text").as("text"))
      val trimmed = graft.CacheScope.persist(
        TextOps.exactSubstringDedup(scrubbed)
          .filter(col("clean_text") =!= "")
          .select(col("doc_id"), col("dup_tokens"), col("dedup_frac"),
            col("clean_text").as("text")))
      val bill = TextOps.bpeEncodeWith(trimmed, bpeState(s, d)._2)
        .select(col("doc_id"), col("bpe_tokens").as("n_tokens"))
      TextOps.packByCounts(bill, budget = 512, groups = 8)
        .join(trimmed.select(col("doc_id"), col("dup_tokens"),
          col("dedup_frac")), Seq("doc_id"))
        .select(col("grp"), col("doc_id"), col("dup_tokens"),
          col("dedup_frac"), col("n_tokens").as("bpe_tokens"),
          col("pack_id"), col("straddles"))
    }))

  /** The round-6 curation flagship body, parameterized on the corpus
    * frame (doc_id, source, lang, text) so the raw-text and the
    * extracted-HTML variants share one spelling:
    *   1. DSIR gate: keep docs scoring >= 1.0 against the en target
    *   2. line-dedup gate: drop docs > 20% boilerplate lines
    *   3. repeated-span gate: drop docs with > 50% repeated-span tokens
    *   4. deterministic shard + order assignment of the survivors */
  private def curationGates(all: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions._
      val w = TextOps.dsirWeights(all, col("lang") === "en")
        .select(col("doc_id"), col("dsir_weight"))
      val ld = TextOps.lineDedup(all, window = 10)
        .select(col("doc_id"), col("dup_line_frac"))
      val rep = TextOps.repeatedSpans(all, k = 5)
        .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("rep_toks"))
      val toks = all.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val gated = graft.CacheScope.persist(
        toks.join(w, "doc_id").join(ld, "doc_id")
          .join(rep, Seq("doc_id"), "left")
          .withColumn("span_frac", round(
            coalesce(col("rep_toks"), lit(0L)).cast("double") / col("n_tokens")
              + lit(1e-9), 4))
          .filter(col("dsir_weight") >= 1.0 && col("dup_line_frac") <= 0.2 &&
            col("span_frac") <= 0.5))
      // shard+pos appended in place — the shard window is the only
      // shuffle; the old form joined the assignment back on doc_id
      TextOps.withShuffleShards(gated, nShards = 8)
        .select(col("doc_id"), col("source"), col("dsir_weight"),
          col("dup_line_frac"), col("span_frac"), col("shard"), col("pos"))
  }

  /** Fixed lexical query for the BM25 demo (terms from the synthetic
    * vocabulary with distinct frequencies). */
  private val Bm25Terms = Seq("query", "join", "window")

  /** Fixed phrase for the positional-search demo: each term occurs
    * ~900× in the corpus, the exact phrase only a handful of times —
    * the posting-intersection shape the operator exists for. */
  private val PhraseTerms = Seq("stream", "table", "hash")

  /** Exact double literal in SQL: same contract as GbtLocal.dlit — the
    * shortest-round-trip decimal string parsed back as DOUBLE
    * reproduces the identical bits in Spark and DuckDB, and the cast
    * keeps DuckDB from treating it as DECIMAL. */
  private[queries] def dlit(v: Double): String = s"CAST('${v.toString}' AS DOUBLE)"

  /** Shared oracle CTE chain `qq(doc_id, quality)` — the text_quality
    * score spelling, factored for the AUC / adaptive-threshold oracles. */
  private[queries] val qualityCte = {
    val en = TextCols.langMarkers.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""qt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |qm AS (SELECT doc_id,
       |  CAST(len(list_filter(ts, t -> list_contains($en, t))) AS DOUBLE)
       |    / len(ts) AS stop_ratio,
       |  CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
       |    / len(ts) AS mean_len,
       |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio,
       |  CAST(len(ts) AS DOUBLE) AS n
       |  FROM qt),
       |qq AS (SELECT doc_id,
       |  ROUND(0.3 * least(1.0, n / 100) + 0.3 * (1.0 - stop_ratio)
       |      + 0.2 * least(1.0, mean_len / 8) + 0.2 * distinct_ratio
       |      + 1e-9, 4) AS quality
       |  FROM qm)""".stripMargin
  }

  /** DuckDB spelling of the full [[TextOps.bm25]] top-20 query — shared
    * by the text_bm25 oracle and the hybrid_rrf lexical leg. */
  private lazy val bm25Sql: String = {
    val (k1, b) = (1.2, 0.75)
    val dfs = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    }.mkString(",\n    ")
    val terms = Bm25Terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE)"
      s"""(CAST(n_docs AS DOUBLE) - df_$i + ${dlit(0.5)}) / (df_$i + ${dlit(0.5)})
         | * ($tf * ${dlit(k1 + 1)})
         | / ($tf + ${dlit(k1)} * (${dlit(1.0 - b)}
         |      + ${dlit(b)} * CAST(dl AS DOUBLE) / avgdl))""".stripMargin
    }.mkString("\n + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $dfs
       |  FROM t),
       |sc AS (SELECT doc_id, dl, ts, n_docs, df_0, df_1, df_2,
       |    CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
       |  FROM t CROSS JOIN st)
       |SELECT doc_id, dl, ROUND($terms
       |  + 1e-9, 4) AS bm25
       |FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "text_bm25" -> bm25Sql,

    // the oracle scans every start position; the engine's posting
    // intersection must produce the identical match set and snippets
    "search_phrase" -> {
      val L = PhraseTerms.length
      val eqs = PhraseTerms.zipWithIndex
        .map { case (t, i) => s"ts[p + $i] = '$t'" }.mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
         |pp AS (SELECT doc_id, CAST(unnest(range(1, n - $L + 2)) AS BIGINT) AS p,
         |    ts, n
         |  FROM t WHERE n >= $L),
         |m AS (SELECT doc_id, p AS pos, ts, n FROM pp WHERE $eqs)
         |SELECT doc_id, pos,
         |  array_to_string(ts[greatest(pos - 2, 1):least(pos + ${L - 1 + 2}, n)],
         |    ' ') AS snippet
         |FROM m""".stripMargin
    },

    // lexical + semantic legs ranked, full-outer fused with RRF; the
    // fused rank orders by the ROUNDED score (both engines identical)
    "hybrid_rrf" -> {
      val qv = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
      val cos =
        """CAST(list_sum(list_transform(range(1, len(qq) + 1), i -> qq[i] * qv[i])) AS DOUBLE)
          | / sqrt(CAST(list_sum(list_transform(qq, x -> x * x)) AS DOUBLE)
          |        * CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))""".stripMargin
      s"""WITH lex0 AS ($bm25Sql),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex FROM lex0),
         |q AS (SELECT vec_id, $qv AS qv FROM embeddings),
         |qs AS (SELECT vec_id AS q_id, qv AS qq FROM q WHERE vec_id < 1),
         |sc2 AS (SELECT q_id, vec_id, $cos AS c
         |  FROM qs CROSS JOIN q WHERE vec_id <> q_id),
         |r2 AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY c DESC, vec_id) AS rk FROM sc2),
         |sem AS (SELECT vec_id AS doc_id, CAST(rk AS BIGINT) AS r_sem
         |  FROM r2 WHERE rk <= 20),
         |f AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
         |    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + r_lex), 0)
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + r_sem), 0) + 1e-12, 6) AS rrf_score
         |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id, r_lex, r_sem, rrf_score,
         |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
         |    AS fused_rank
         |FROM f""".stripMargin
    },

    "text_pretokenize" -> {
      val pat = TextOps.PretokenPattern
      s"""WITH p AS (SELECT doc_id,
         |    text || ' v' || CAST(doc_id % 9 + 1 AS VARCHAR) || '.' ||
         |    CAST(doc_id % 7 AS VARCHAR) || ' don''t x=' ||
         |    CAST(doc_id % 100 AS VARCHAR) || '; #tag' ||
         |    CAST(doc_id % 10 AS VARCHAR) || '!' AS ptext
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(string_split(ptext, ' ')) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(ptext, '$pat')) AS BIGINT) AS n_pretok,
         |  CAST(len(regexp_extract_all(ptext, '[a-z]+')) AS BIGINT) AS n_word,
         |  CAST(len(regexp_extract_all(ptext, '[0-9]+')) AS BIGINT) AS n_num,
         |  CAST(len(regexp_extract_all(ptext, '[^a-z0-9 ]+')) AS BIGINT) AS n_punct,
         |  CAST(len(list_distinct(regexp_extract_all(ptext, '$pat'))) AS BIGINT)
         |    AS n_distinct_pretok
         |FROM p""".stripMargin
    },

    "corpus_cms_tokens" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |rows_ AS (SELECT unnest(range(0, 4)) AS r),
         |cells AS (SELECT t, r,
         |    ${hex60Sql("md5('cms' || CAST(r AS VARCHAR) || ':' || t)")} % 256 AS c
         |  FROM tok CROSS JOIN rows_),
         |counters AS (SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY r, c),
         |exact AS (SELECT t, COUNT(*) AS exact_n FROM tok GROUP BY t),
         |top AS (SELECT t, exact_n FROM exact ORDER BY exact_n DESC, t LIMIT 20),
         |probe AS (SELECT top.t, top.exact_n, rows_.r,
         |    ${hex60Sql("md5('cms' || CAST(rows_.r AS VARCHAR) || ':' || top.t)")} % 256 AS c
         |  FROM top CROSS JOIN rows_)
         |SELECT p.t, p.exact_n, MIN(cnt) AS cms_n,
         |  MIN(cnt) - p.exact_n AS overcount
         |FROM probe p JOIN counters USING (r, c)
         |GROUP BY p.t, p.exact_n""".stripMargin,

    "priority_sample" -> {
      val draw = s"${hex60Sql("md5('prio:' || CAST(doc_id AS VARCHAR))")} % ${TextOps.DrawMod}"
      s"""WITH sc AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |    $draw + 1 AS u
         |  FROM documents),
         |p AS (SELECT doc_id, source, w, (w * ${TextOps.DrawMod}) // u AS priority
         |      FROM sc),
         |top AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 51),
         |tau AS (SELECT MIN(priority) AS tau FROM top),
         |samp AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 50)
         |SELECT doc_id, source, w, priority,
         |  ROUND(GREATEST(CAST(w AS DOUBLE),
         |    CAST(tau AS DOUBLE) / ${TextOps.DrawMod}e0) + 1e-9, 4) AS est
         |FROM samp CROSS JOIN tau""".stripMargin
    },

    "corpus_kmv_distinct" ->
      s"""WITH d AS (SELECT DISTINCT source, t FROM (
         |    SELECT source, unnest(list_distinct(string_split(text, ' '))) AS t
         |    FROM documents)),
         |h AS (SELECT source, ${hex60Sql("md5(t)")} AS h FROM d),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
         |kth AS (SELECT source, h AS hk FROM r WHERE rn = 64),
         |n AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source)
         |SELECT n.source, n.n_exact,
         |  CASE WHEN hk IS NOT NULL
         |       THEN ROUND(CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
         |                  / CAST(hk AS DOUBLE) + 1e-9, 2)
         |       ELSE CAST(n_exact AS DOUBLE) END AS est_distinct
         |FROM n LEFT JOIN kth USING (source)""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  ROUND(CAST(list_sum(list_transform(string_split(text, ' '),
        |      t -> length(t))) AS DOUBLE)
        |    / len(string_split(text, ' ')) + 1e-9, 4) AS mean_tok_len
        |FROM documents""".stripMargin,

    "text_quality" -> {
      val en = TextCols.langMarkers.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ts, t -> list_contains($en, t))) AS DOUBLE)
         |    / len(ts) AS stop_ratio,
         |  CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
         |    / len(ts) AS mean_len,
         |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio,
         |  CAST(len(ts) AS DOUBLE) AS n
         |  FROM t)
         |SELECT doc_id,
         |  ROUND(stop_ratio + 1e-9, 4) AS stop_ratio,
         |  ROUND(distinct_ratio + 1e-9, 4) AS distinct_ratio,
         |  ROUND(0.3 * least(1.0, n / 100) + 0.3 * (1.0 - stop_ratio)
         |      + 0.2 * least(1.0, mean_len / 8) + 0.2 * distinct_ratio
         |      + 1e-9, 4) AS quality
         |FROM m""".stripMargin
    },

    // Gopher hard-threshold gate: every ratio test is integer
    // cross-multiplication, so the verdicts replay bit-for-bit; the
    // thresholds and stop-word list interpolate the SAME constants the
    // Spark registration reads (defaults of TextOps.gopherRules)
    "quality_gopher_rules" -> {
      s"""WITH ${gopherVerdictSql("documents")}
         |SELECT doc_id, n_words, n_distinct, n_stop_distinct,
         |  r_word_count, r_mean_word_len, r_distinct_ratio, r_stop_words,
         |  CASE WHEN NOT r_word_count THEN 'word_count'
         |       WHEN NOT r_mean_word_len THEN 'mean_word_len'
         |       WHEN NOT r_distinct_ratio THEN 'distinct_ratio'
         |       WHEN NOT r_stop_words THEN 'stop_words'
         |       ELSE NULL END AS fail_reason,
         |  (r_word_count AND r_mean_word_len AND r_distinct_ratio
         |    AND r_stop_words) AS keep
         |FROM gr""".stripMargin
    },

    // ExactSubstr replayed occurrence-for-occurrence: the same in-row
    // k-gram derivation keyed on the 60-bit md5 of the gram (the SAME
    // hex60 recipe the Spark shuffle keys use — ~k× fewer shuffle bytes
    // than the k-token string at equal semantics up to md5 collisions),
    // counts + the TWO-plain-MIN canonical selection (min doc over the
    // gram's occurrences, then min pos within that doc — NOT an encoded
    // doc·2³⁰+pos BIGINT, which overflowed on production-shaped ids in
    // the 10× sweep, commit d820a56), the non-canonical positional
    // coverage, and the ordered uncovered-token reconstruction
    "dedup_exact_substring" -> {
      val k = 8
      val gh = hex60Sql(
        s"md5(array_to_string(list_slice(ts, i + 1, i + $k), ' '))")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |g AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.gk AS gk
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(range(0, GREATEST(len(ts) - $k + 1, 0)),
         |        i -> {'pos': i, 'gk': $gh}))
         |        AS u
         |    FROM t)),
         |gs AS (SELECT gk, MIN(doc_id) AS c_doc
         |  FROM g GROUP BY gk HAVING COUNT(*) >= 2),
         |dup AS (SELECT g.gk, gs.c_doc, MIN(g.pos) AS c_pos
         |  FROM g JOIN gs ON g.gk = gs.gk AND g.doc_id = gs.c_doc
         |  GROUP BY g.gk, gs.c_doc),
         |cov AS (SELECT DISTINCT g.doc_id, UNNEST(range(g.pos, g.pos + $k)) AS p
         |  FROM g JOIN dup ON g.gk = dup.gk
         |  WHERE NOT (g.doc_id = dup.c_doc AND g.pos = dup.c_pos)),
         |tl AS (SELECT doc_id, u.p AS p, u.tok AS tok
         |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(ts)),
         |    i -> {'p': i, 'tok': ts[i + 1]})) AS u FROM t))
         |SELECT tl.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(SUM(CASE WHEN cov.p IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) AS dup_tokens,
         |  ROUND(CAST(COALESCE(SUM(CASE WHEN cov.p IS NOT NULL THEN 1 END), 0)
         |      AS DOUBLE) / COUNT(*) + 1e-9, 4) AS dedup_frac,
         |  COALESCE(array_to_string(list(CASE WHEN cov.p IS NULL THEN tl.tok END
         |    ORDER BY tl.p) FILTER (WHERE cov.p IS NULL), ' '), '') AS clean_text
         |FROM tl LEFT JOIN cov ON tl.doc_id = cov.doc_id AND tl.p = cov.p
         |GROUP BY tl.doc_id""".stripMargin
    },

    // the k-sweep replayed grid-point-for-grid-point: one gram chain
    // per k (same hex60 keys, canonical exception, positional-union
    // coverage as the dedup oracle), mass totals cross-joined once
    "dedup_substr_k_sweep" -> {
      def chain(k: Int) = {
        val gh = hex60Sql(
          s"md5(array_to_string(list_slice(ts, i + 1, i + $k), ' '))")
        s"""g$k AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.gk AS gk
           |  FROM (SELECT doc_id,
           |      unnest(list_transform(range(0, GREATEST(len(ts) - $k + 1, 0)),
           |        i -> {'pos': i, 'gk': $gh})) AS u
           |    FROM t)),
           |gs$k AS (SELECT gk, MIN(doc_id) AS c_doc
           |  FROM g$k GROUP BY gk HAVING COUNT(*) >= 2),
           |dup$k AS (SELECT g.gk, gs$k.c_doc, MIN(g.pos) AS c_pos
           |  FROM g$k g JOIN gs$k ON g.gk = gs$k.gk AND g.doc_id = gs$k.c_doc
           |  GROUP BY g.gk, gs$k.c_doc),
           |cov$k AS (SELECT DISTINCT g.doc_id,
           |    UNNEST(range(g.pos, g.pos + $k)) AS p
           |  FROM g$k g JOIN dup$k d ON g.gk = d.gk
           |  WHERE NOT (g.doc_id = d.c_doc AND g.pos = d.c_pos)),
           |r$k AS (SELECT CAST($k AS BIGINT) AS k,
           |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_trimmed,
           |    CAST(COUNT(*) AS BIGINT) AS dup_tokens FROM cov$k)""".stripMargin
      }
      val ks = TextOps.SubstrSweepKs
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len(ts)) AS BIGINT) AS tot_tokens FROM t),
         |${ks.map(chain).mkString(",\n")}
         |SELECT k, n_docs, tot_tokens, docs_trimmed, dup_tokens,
         |  ROUND(CAST(dup_tokens AS DOUBLE) / tot_tokens + 1e-9, 4)
         |    AS trim_frac
         |FROM (${ks.map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")})
         |CROSS JOIN tot""".stripMargin
    },

    // the repetition signals replayed gram-for-gram: in-row gram lists
    // per n keyed on the 60-bit md5 of the gram (the SAME hex60 recipe
    // the Spark shuffle keys use; the winner's character mass rides
    // along in-row as glen), per-(doc, n, gk) counts, the rank-1 top
    // gram (count desc, gk asc — the shared tie-break, replayed on the
    // same hash by both engines), positional coverage of cnt>1 grams
    // via DISTINCT covered positions, and the same integer
    // cross-multiplied keep; thresholds interpolate the VectorOps-style
    // shared constants
    "quality_gopher_repetition" -> {
      val ns = (TextOps.GopherTopNgramPct ++ TextOps.GopherDupNgramPct)
        .map(_._1)
      val thr = (TextOps.GopherTopNgramPct ++ TextOps.GopherDupNgramPct).toMap
      val topSel = TextOps.GopherTopNgramPct.map { case (n, _) =>
        s"""  CASE WHEN tot > 0 THEN ROUND(CAST(COALESCE(num$n, 0) AS DOUBLE)
           |    / tot + 1e-9, 4) ELSE 0.0 END AS top${n}_cf""".stripMargin
      }
      val dupSel = TextOps.GopherDupNgramPct.map { case (n, _) =>
        s"""  CASE WHEN tot > 0 THEN ROUND(CAST(COALESCE(num$n, 0) AS DOUBLE)
           |    / tot + 1e-9, 4) ELSE 0.0 END AS dup${n}_cf""".stripMargin
      }
      val keep = ns.map(n =>
        s"COALESCE(num$n, 0) * 100 <= ${thr(n)} * tot").mkString("\n    AND ")
      val numAgg = ns.map(n =>
        s"MAX(CASE WHEN n = $n THEN num END) AS num$n").mkString(",\n    ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tc AS (SELECT doc_id,
         |    CAST(COALESCE(list_sum(list_transform(ts, x -> length(x))), 0)
         |      AS BIGINT) AS tot FROM t),
         |g AS MATERIALIZED (SELECT doc_id, n, u.pos AS pos, u.gk AS gk,
         |    u.glen AS glen
         |  FROM (SELECT doc_id, n,
         |      unnest(list_transform(range(0, GREATEST(len(ts) - n + 1, 0)),
         |        i -> {'pos': i,
         |              'gk': ${hex60Sql(
                         "md5(array_to_string(list_slice(ts, i + 1, i + n), ' '))")},
         |              'glen': CAST(length(
         |                  array_to_string(list_slice(ts, i + 1, i + n), ' '))
         |                - (n - 1) AS BIGINT)}))
         |        AS u
         |    FROM t CROSS JOIN (SELECT UNNEST(${ns.mkString("[", ", ", "]")}) AS n) nn)),
         |c AS MATERIALIZED (SELECT doc_id, n, gk, COUNT(*) AS cnt,
         |    MAX(glen) AS glen
         |  FROM g GROUP BY doc_id, n, gk),
         |topn AS (SELECT doc_id, n,
         |    CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END AS num
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
         |      ORDER BY cnt DESC, gk) AS rk FROM c WHERE n <= 4)
         |  WHERE rk = 1),
         |dpos AS (SELECT DISTINCT doc_id, n, p FROM (
         |  SELECT g.doc_id, g.n, UNNEST(range(g.pos, g.pos + g.n)) AS p
         |  FROM g JOIN c ON g.doc_id = c.doc_id AND g.n = c.n AND g.gk = c.gk
         |  WHERE g.n >= 5 AND c.cnt > 1)),
         |tl AS (SELECT doc_id, u.p AS p, length(u.tok) AS len
         |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(ts)),
         |    i -> {'p': i, 'tok': ts[i + 1]})) AS u FROM t)),
         |dupn AS (SELECT dpos.doc_id, dpos.n, CAST(SUM(tl.len) AS BIGINT) AS num
         |  FROM dpos JOIN tl ON dpos.doc_id = tl.doc_id AND dpos.p = tl.p
         |  GROUP BY dpos.doc_id, dpos.n),
         |nums AS (SELECT doc_id,
         |    $numAgg
         |  FROM (SELECT doc_id, n, num FROM topn
         |        UNION ALL SELECT doc_id, n, num FROM dupn)
         |  GROUP BY doc_id)
         |SELECT tc.doc_id,
         |${topSel.mkString(",\n")},
         |${dupSel.mkString(",\n")},
         |  ($keep) AS keep
         |FROM tc LEFT JOIN nums ON tc.doc_id = nums.doc_id""".stripMargin
    },

    // content-policy gate: hit counts and both verdicts are integer
    // arithmetic over the shared token split; the banned list and
    // thresholds interpolate the SAME constants the Spark registration
    // reads (defaults of TextOps.policyGate)
    "quality_policy_gate" -> {
      s"""WITH ${policyVerdictSql("documents")}
         |SELECT doc_id, n_words, n_banned_hits, n_banned_distinct,
         |  r_hit_count, r_density,
         |  CASE WHEN NOT r_hit_count THEN 'hit_count'
         |       WHEN NOT r_density THEN 'density'
         |       ELSE NULL END AS fail_reason,
         |  (r_hit_count AND r_density) AS keep
         |FROM pv""".stripMargin
    },

    // C4 line gate replayed stage-for-stage: same inject geometry
    // (shared constants), same per-line keep lambda, same page verdict
    // order, exact reconstructed clean_text
    "quality_c4_rules" -> {
      val mw = TextOps.C4MinLineWords
      val ml = TextOps.C4MinLines
      s"""WITH inj AS MATERIALIZED ($c4InjectSql),
         |ln AS (SELECT doc_id, string_split(ltext, chr(10)) AS lines,
         |    NOT contains(lower(ltext), 'lorem ipsum') AS r_no_lorem,
         |    NOT contains(ltext, '{') AS r_no_brace
         |  FROM inj),
         |k AS (SELECT doc_id, len(lines) AS n_lines,
         |    list_filter(lines, l ->
         |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
         |        OR ends_with(l, '"'))
         |      AND len(string_split(l, ' ')) >= $mw
         |      AND NOT contains(lower(l), 'javascript')) AS kept,
         |    r_no_lorem, r_no_brace
         |  FROM ln)
         |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
         |  len(kept) >= $ml AS r_min_lines, r_no_lorem, r_no_brace,
         |  CASE WHEN NOT r_no_lorem THEN 'lorem_ipsum'
         |       WHEN NOT r_no_brace THEN 'brace'
         |       WHEN len(kept) < $ml THEN 'too_few_lines'
         |       ELSE NULL END AS fail_reason,
         |  (r_no_lorem AND r_no_brace AND len(kept) >= $ml) AS keep,
         |  COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
         |FROM k""".stripMargin
    },

    "corpus_source_stats" -> {
      val en = TextCols.langMarkers.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
         |m AS (SELECT doc_id, source, len(ts) AS n_tokens,
         |  CAST(len(list_filter(ts, t -> list_contains($en, t))) AS DOUBLE)
         |    / len(ts) AS stop_ratio,
         |  CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
         |    / len(ts) AS mean_len,
         |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio,
         |  CAST(len(ts) AS DOUBLE) AS n FROM t),
         |q AS (SELECT doc_id, source, n_tokens,
         |  ROUND(0.3 * least(1.0, n / 100) + 0.3 * (1.0 - stop_ratio)
         |      + 0.2 * least(1.0, mean_len / 8) + 0.2 * distinct_ratio
         |      + 1e-9, 4) AS quality FROM m)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  ROUND(${graft.queries.Sql.decAvgSql("quality")} + 1e-9, 4) AS mean_quality
         |FROM q GROUP BY source""".stripMargin
    },

    "text_lang_id" -> {
      val scores = TextCols.langMarkers.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))) AS s_$l"
      }.mkString(",\n  ")
      val langs = TextCols.langMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pred = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
      s"""WITH sc AS (SELECT doc_id, $scores FROM documents),
         |mm AS (SELECT *, $m AS m FROM sc)
         |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
         |  CASE $pred END AS pred_lang
         |FROM mm""".stripMargin
    },

    "lang_confusion" -> {
      val scores = TextCols.langMarkers.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))) AS s_$l"
      }.mkString(",\n  ")
      val langs = TextCols.langMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pred = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents),
         |mm AS (SELECT *, $m AS m FROM sc),
         |p AS (SELECT doc_id, lang, CASE $pred END AS pred_lang FROM mm)
         |SELECT lang, pred_lang, COUNT(*) AS n
         |FROM p GROUP BY 1, 2""".stripMargin
    },

    "text_fingerprints" -> {
      // the same pre-reduced Rabin–Karp weights the Spark side uses
      val terms = TextOps.ShinglePows.zipWithIndex.map { case (p, j) =>
        s"COALESCE(cs[i + $j], 0) * CAST($p AS BIGINT)" }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts,
         |             list_transform(string_split(text, ''), c -> ascii(c)) AS cs
         |           FROM documents)
         |SELECT doc_id,
         |  ${hex60Sql("md5(text)")} AS fp64,
         |  CAST(list_sum(list_transform(range(1, len(ts) + 1), i ->
         |      (ascii(substr(ts[i], 1, 1)) * 131 + length(ts[i]) * 31
         |       + ascii(right(ts[i], 1))) * ((i % 1000) + 1)))
         |    % 1000000007 AS BIGINT) AS fp_roll,
         |  CAST(list_min(list_transform(
         |      range(1, greatest(len(cs) - ${TextOps.ShingleW - 1}, 1) + 1),
         |      i -> ($terms) % ${TextOps.HashP})) AS BIGINT) AS fp_shingle_min
         |FROM t""".stripMargin
    },

    "dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, ROUND(jaccard + 1e-9, 4) AS jaccard
         |FROM scored WHERE jaccard >= 0.5""".stripMargin,

    // same sets/sigs chain + the verified-pair selection of the LSH
    // oracle; the two estimates read the sig lists positionally
    "dedup_bbit_minhash" ->
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |pairs AS (SELECT doc_a, doc_b, ROUND(jaccard + 1e-9, 4) AS jaccard
         |  FROM scored WHERE jaccard >= 0.5),
         |cmp AS (SELECT p.doc_a, p.doc_b, p.jaccard,
         |    CAST(len(list_filter(range(1, 17),
         |      j -> sa.sig[j] = sb.sig[j])) AS BIGINT) AS k_match,
         |    CAST(len(list_filter(range(1, 17),
         |      j -> sa.sig[j] % 2 = sb.sig[j] % 2)) AS BIGINT) AS b_match
         |  FROM pairs p
         |  JOIN sigs sa ON sa.doc_id = p.doc_a
         |  JOIN sigs sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, jaccard, k_match, b_match,
         |  ROUND(CAST(k_match AS DOUBLE) / 16 + 1e-9, 4) AS est_full,
         |  ROUND(GREATEST(CAST(b_match * 2 - 16 AS DOUBLE) / 16,
         |    CAST(0 AS DOUBLE)) + 1e-9, 4) AS est_b1
         |FROM cmp""".stripMargin,

    // the WordPiece fit replayed relationally (substring explode → two
    // partial aggs → top-V with the same (cnt desc, piece) tie-break)
    // and the greedy longest-match walk as a recursive CTE over DISTINCT
    // words — condition order mirrors the Scala loop exactly
    "wordpiece_stats" ->
      s"""WITH RECURSIVE
         |$subwordFitSql,
         |$greedyWalkSql
         |SELECT source, CAST(SUM(wc) AS BIGINT) AS n_words,
         |  COUNT(*) AS n_distinct_words,
         |  CAST(SUM(wc * np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(wc * no) AS BIGINT) AS n_oov_chars,
         |  ROUND(CAST(SUM(wc * np) AS DOUBLE) / SUM(wc) + 1e-9, 6) AS fertility
         |FROM wrd JOIN fin USING (w) GROUP BY source""".stripMargin,

    // same fit; the Viterbi DP as a recursive CTE whose state carries
    // the per-position best-likelihood and piece-count LISTS (candidate
    // products and the longest-piece tie-break mirror the Scala loop),
    // next to the greedy walk for the comparison columns
    "unigram_stats" ->
      s"""WITH RECURSIVE
         |$subwordFitSql,
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vvc),
         |vp AS MATERIALIZED (SELECT p,
         |    CAST(cnt AS DOUBLE) / (SELECT t FROM tot) AS pr FROM vvc),
         |uw AS (
         |  SELECT w, 0 AS i, [CAST(1 AS DOUBLE)] AS bests,
         |    [CAST(0 AS BIGINT)] AS nps, [CAST(0 AS BIGINT)] AS mks FROM dw
         |  UNION ALL
         |  SELECT w, i + 1,
         |    list_append(bests, CASE WHEN bk = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE bv END),
         |    list_append(nps, CASE WHEN bk = 0 THEN nps[i + 1] + 1
         |      ELSE nps[i - bk + 2] + 1 END),
         |    list_append(mks, (CASE WHEN bk = 0 THEN mks[i + 1]
         |      ELSE mks[i - bk + 2] END) |
         |      CASE WHEN i + 1 <= 62 THEN CAST(1 AS BIGINT) << (i + 1)
         |           ELSE 0 END)
         |  FROM (
         |    SELECT w, i, bests, nps, mks, bv,
         |      CASE WHEN v4 IS NOT NULL AND v4 = bv THEN 4
         |           WHEN v3 IS NOT NULL AND v3 = bv THEN 3
         |           WHEN v2 IS NOT NULL AND v2 = bv THEN 2
         |           WHEN v1 IS NOT NULL AND v1 = bv THEN 1
         |           ELSE 0 END AS bk
         |    FROM (
         |      SELECT *, GREATEST(COALESCE(v1, -1), COALESCE(v2, -1),
         |          COALESCE(v3, -1), COALESCE(v4, -1)) AS bv
         |      FROM (
         |        SELECT s.w, s.i, s.bests, s.nps, s.mks,
         |          bests[s.i + 1] * p1.pr AS v1,
         |          CASE WHEN s.i + 1 >= 2 THEN bests[s.i] * p2.pr END AS v2,
         |          CASE WHEN s.i + 1 >= 3 THEN bests[s.i - 1] * p3.pr END AS v3,
         |          CASE WHEN s.i + 1 >= 4 THEN bests[s.i - 2] * p4.pr END AS v4
         |        FROM (SELECT * FROM uw WHERE i < len(w)) s
         |        LEFT JOIN vp p1 ON p1.p = substr(s.w, s.i + 1, 1)
         |        LEFT JOIN vp p2 ON s.i + 1 >= 2 AND p2.p = substr(s.w, s.i, 2)
         |        LEFT JOIN vp p3 ON s.i + 1 >= 3 AND p3.p = substr(s.w, s.i - 1, 3)
         |        LEFT JOIN vp p4 ON s.i + 1 >= 4 AND p4.p = substr(s.w, s.i - 2, 4))))),
         |ufin AS (SELECT w, nps[len(w) + 1] AS nu, mks[len(w) + 1] AS mu
         |  FROM uw WHERE i = len(w)),
         |$greedyWalkSql
         |SELECT source, CAST(SUM(wc) AS BIGINT) AS n_words,
         |  COUNT(*) AS n_distinct_words,
         |  CAST(SUM(wc * nu) AS BIGINT) AS n_pieces_unigram,
         |  CAST(SUM(wc * np) AS BIGINT) AS n_pieces_greedy,
         |  CAST(SUM(CASE WHEN mu <> gm THEN wc ELSE 0 END) AS BIGINT)
         |    AS n_words_diffseg,
         |  ROUND(CAST(SUM(wc * nu) AS DOUBLE) / SUM(wc) + 1e-9, 6)
         |    AS fertility_unigram
         |FROM wrd JOIN ufin USING (w) JOIN fin USING (w)
         |GROUP BY source""".stripMargin,

    "bpe_learn" -> bpeOracle(20),

    "text_bpe_encode" -> bpeEncodeOracle(20),

    // persistence roundtrip: reload + frozen replay must equal the
    // direct encode, so the oracle IS the encode replay
    "bpe_vocab_roundtrip" -> bpeEncodeOracle(20),

    // two independent prefixed learn chains over the md5 halves, rank
    // rows unioned per chain, full-outer joined on rank
    "bpe_vocab_drift" -> {
      val draw = s"${hex60Sql("md5('half:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      def ranks(p: String) = (1 to 20).map { r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, l || r AS merged FROM ${p}top$r"
      }.mkString("\nUNION ALL\n")
      s"""WITH ha AS MATERIALIZED (SELECT * FROM documents WHERE $draw < 500000),
         |hb AS MATERIALIZED (SELECT * FROM documents WHERE $draw >= 500000),
         |${bpeCtes(20, "ha", "a").stripPrefix("WITH ")},
         |${bpeCtes(20, "hb", "b").stripPrefix("WITH ")},
         |ra AS (${ranks("a")}),
         |rb AS (${ranks("b")})
         |SELECT COALESCE(ra.merge_rank, rb.merge_rank) AS merge_rank,
         |  ra.merged AS merged_a, rb.merged AS merged_b,
         |  ra.merged IS NOT DISTINCT FROM rb.merged AS same
         |FROM ra FULL OUTER JOIN rb ON ra.merge_rank = rb.merge_rank""".stripMargin
    },

    "bpe_learn_by_lang" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val slices = langs.map(l =>
        s"l$l AS MATERIALIZED (SELECT * FROM documents WHERE lang = '$l')")
        .mkString(",\n")
      val chains = langs.map(l =>
        bpeCtes(10, s"l$l", l).stripPrefix("WITH ")).mkString(",\n")
      val ranks = langs.flatMap(l => (1 to 10).map { r =>
        s"""SELECT '$l' AS grp, CAST($r AS BIGINT) AS merge_rank, l AS lhs,
           |  r AS rhs, l || r AS merged, CAST(n AS BIGINT) AS pair_n
           |  FROM ${l}top$r""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH $slices,
         |$chains
         |$ranks""".stripMargin
    },

    "bpe_compression_stats" ->
      s"""${bpeCtes(20)},
         |$docWordCtes,
         |bt AS (SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS bpe_tokens
         |       FROM wxx JOIN w20 USING (w) GROUP BY doc_id),
         |m AS (SELECT d.doc_id, d.source,
         |    CAST(length(d.text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         |    bt.bpe_tokens
         |  FROM documents d JOIN bt ON d.doc_id = bt.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars,
         |  CAST(SUM(n_words) AS BIGINT) AS words,
         |  CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
         |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(bpe_tokens) AS BIGINT)
         |    + 1e-9, 4) AS chars_per_token,
         |  ROUND(CAST(SUM(bpe_tokens) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT)
         |    + 1e-9, 4) AS fertility
         |FROM m GROUP BY source""".stripMargin,

    "bpe_oov_rate" -> {
      val draw = s"${hex60Sql("md5('split:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""WITH tdocs AS (SELECT * FROM documents
         |  WHERE $draw >= ${TextOps.drawThreshold(0.15)}),
         |tv AS (SELECT DISTINCT w FROM (
         |  SELECT UNNEST(string_split(text, ' ')) AS w FROM tdocs)),
         |aw AS (SELECT
         |    CASE WHEN $draw < ${TextOps.drawThreshold(0.1)} THEN 'val'
         |         WHEN $draw < ${TextOps.drawThreshold(0.15)} THEN 'test'
         |         ELSE 'train' END AS split,
         |    UNNEST(string_split(text, ' ')) AS w
         |  FROM documents),
         |j AS (SELECT split, aw.w, tv.w IS NOT NULL AS known
         |      FROM aw LEFT JOIN tv ON aw.w = tv.w)
         |SELECT split, COUNT(*) AS n_words,
         |  CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         |  COUNT(DISTINCT w) AS n_distinct,
         |  COUNT(DISTINCT CASE WHEN known THEN NULL ELSE w END) AS n_distinct_oov,
         |  ROUND(CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS DOUBLE)
         |    / COUNT(*) + 1e-9, 6) AS oov_rate
         |FROM j GROUP BY split""".stripMargin
    },

    "split_leakage" -> {
      val draw = s"${hex60Sql("md5('split:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""WITH d2 AS (SELECT doc_id, text,
         |    CASE WHEN $draw < ${TextOps.drawThreshold(0.1)} THEN 'val'
         |         WHEN $draw < ${TextOps.drawThreshold(0.15)} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM documents),
         |dd AS (SELECT doc_id, text, split = 'val' AS is_eval
         |       FROM d2 WHERE split <> 'test'),
         |sets AS (SELECT doc_id, is_eval, $shinglesSql AS sh FROM dd),
         |inv0 AS (SELECT doc_id, is_eval, unnest(sh) AS s FROM sets),
         |hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 100),
         |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot))
         |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
         |  COUNT(*) AS shared
         |FROM inv a JOIN inv b ON a.s = b.s
         |WHERE NOT a.is_eval AND b.is_eval
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin
    },

    // learn chain over the train split only; av-chain replays each
    // round's top$r (the FROZEN table) over the val split's word table,
    // then the standard encode join-back over val docs
    "text_bpe_encode_frozen" -> {
      val draw = s"${hex60Sql("md5('split:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      val applySteps = (1 to 20).map { r =>
        mergeRoundCtes(s"top$r", s"av${r - 1}", s"ag$r", s"amg$r", s"av$r")
      }.mkString(",\n")
      s"""WITH tdocs AS MATERIALIZED (SELECT * FROM documents
         |  WHERE $draw >= ${TextOps.drawThreshold(0.15)}),
         |vdocs AS MATERIALIZED (SELECT * FROM documents
         |  WHERE $draw < ${TextOps.drawThreshold(0.1)}),
         |${bpeCtes(20, "tdocs").stripPrefix("WITH ")},
         |av0 AS MATERIALIZED (
         |  ${charWordsSql("vdocs")}),
         |$applySteps,
         |vtk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM vdocs),
         |vwx AS (SELECT doc_id, UNNEST(range(1, len(ts) + 1)) AS pos, ts FROM vtk),
         |vwxx AS (SELECT doc_id, pos, ts[pos] AS w FROM vwx),
         |venc AS (SELECT doc_id, pos, len(syms) AS ntok,
         |          array_to_string(syms, '|') AS ws
         |        FROM vwxx JOIN av20 USING (w))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(ntok) AS BIGINT) AS bpe_tokens,
         |  string_agg(ws, ' ' ORDER BY pos) AS bpe_text
         |FROM venc GROUP BY doc_id""".stripMargin
    },

    // BPE-budget packing: the pack_sequences shape with n_tokens = the
    // encode replay's exact per-doc BPE count, budget 512
    "pack_bpe_sequences" ->
      s"""${bpeCtes(20)},
         |$docWordCtes,
         |bt AS (SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n_tokens
         |       FROM wxx JOIN w20 USING (w) GROUP BY doc_id),
         |t AS (SELECT doc_id, n_tokens, doc_id % 8 AS grp FROM bt),
         |c AS (SELECT grp, doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum0
         |  FROM t)
         |SELECT grp, doc_id, n_tokens, cum0 // 512 AS pack_id,
         |  ((cum0 + n_tokens - 1) // 512) > (cum0 // 512) AS straddles
         |FROM c""".stripMargin,

    // per-lang exact sums over the same encode replay, the corpus
    // total as a 1-row cross join; the premium is a HUGEINT
    // cross-product ratio converted once to double
    "bpe_fertility" ->
      s"""${bpeCtes(20)},
         |$docWordCtes,
         |bt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(len(syms)) AS BIGINT) AS bpe_tokens
         |       FROM wxx JOIN w20 USING (w) GROUP BY doc_id),
         |pl AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(bt.n_words) AS BIGINT) AS n_words,
         |    CAST(SUM(bt.bpe_tokens) AS BIGINT) AS bpe_tokens
         |  FROM documents d JOIN bt ON d.doc_id = bt.doc_id
         |  GROUP BY d.lang),
         |tt AS (SELECT CAST(SUM(n_words) AS BIGINT) AS tot_words,
         |    CAST(SUM(bpe_tokens) AS BIGINT) AS tot_tokens FROM pl)
         |SELECT lang, n_docs, n_words, bpe_tokens,
         |  ROUND(CAST(bpe_tokens AS DOUBLE) / n_words + 1e-9, 4) AS fertility,
         |  ROUND(CAST(CAST(bpe_tokens AS HUGEINT) * tot_words AS DOUBLE)
         |    / CAST(CAST(n_words AS HUGEINT) * tot_tokens AS DOUBLE)
         |    + 1e-9, 4) AS premium
         |FROM pl CROSS JOIN tt""".stripMargin,

    // base per-row stats joined with the encode replay's budget column
    "text_token_stats_bpe" ->
      s"""${bpeCtes(20)},
         |$docWordCtes,
         |bt AS (SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS bpe_tokens
         |       FROM wxx JOIN w20 USING (w) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  length(d.text) AS n_chars,
         |  len(string_split(d.text, ' ')) AS n_tokens,
         |  len(list_distinct(string_split(d.text, ' '))) AS n_distinct,
         |  ROUND(CAST(list_sum(list_transform(string_split(d.text, ' '),
         |      t -> length(t))) AS DOUBLE)
         |    / len(string_split(d.text, ' ')) + 1e-9, 4) AS mean_tok_len,
         |  bt.bpe_tokens
         |FROM documents d JOIN bt ON d.doc_id = bt.doc_id""".stripMargin,

    "dedup_incremental" ->
      s"""$lshCte,
         |sp AS (SELECT (MAX(doc_id) * 4) // 5 AS split FROM documents),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bands a JOIN bands b ON a.bkey = b.bkey
         |  WHERE a.doc_id >= (SELECT split FROM sp)
         |    AND b.doc_id < (SELECT split FROM sp)),
         |scored AS (
         |  SELECT new_id, old_id,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = new_id
         |  JOIN sets sb ON sb.doc_id = old_id)
         |SELECT new_id, old_id, ROUND(jaccard + 1e-9, 4) AS jaccard
         |FROM scored WHERE jaccard >= 0.5""".stripMargin,

    "corpus_source_jaccard" ->
      """WITH v AS (SELECT DISTINCT source, t FROM (
        |       SELECT source, UNNEST(string_split(text, ' ')) AS t
        |       FROM documents)),
        |sz AS (SELECT source, COUNT(*) AS nv FROM v GROUP BY source),
        |it AS (SELECT a.source AS src_a, b.source AS src_b,
        |         COUNT(*) AS inter
        |       FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
        |       GROUP BY a.source, b.source)
        |SELECT src_a, src_b, inter,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.nv + sb.nv - inter) + 1e-9, 6)
        |    AS jaccard
        |FROM it
        |JOIN sz sa ON sa.source = it.src_a
        |JOIN sz sb ON sb.source = it.src_b""".stripMargin,

    "text_topk_per_source" -> {
      val en = TextCols.langMarkers.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ts, t -> list_contains($en, t))) AS DOUBLE)
         |    / len(ts) AS stop_ratio,
         |  CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
         |    / len(ts) AS mean_len,
         |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio,
         |  CAST(len(ts) AS DOUBLE) AS n FROM t),
         |q AS (SELECT doc_id,
         |  ROUND(0.3 * least(1.0, n / 100) + 0.3 * (1.0 - stop_ratio)
         |    + 0.2 * least(1.0, mean_len / 8) + 0.2 * distinct_ratio
         |    + 1e-9, 4) AS quality FROM m),
         |r AS (SELECT d.doc_id, d.source, q.quality,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY q.quality DESC, d.doc_id) AS rk
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, source, quality, rk FROM r WHERE rk <= 3""".stripMargin
    },

    "corpus_top_bigrams" ->
      """WITH s AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |b AS (SELECT unnest(list_transform(
        |    range(1, greatest(len(ts) - 1, 0) + 1),
        |    i -> ts[i] || ' ' || ts[i + 1])) AS bigram FROM s)
        |SELECT bigram, COUNT(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    // the five pipeline stages restated as one CTE chain, each stage
    // reusing the per-stage oracles' exact spellings over the previous
    // stage's survivor set
    "corpus_pipeline" -> {
      val en = TextCols.langMarkers.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val scores = TextCols.langMarkers.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))) AS s_$l"
      }.mkString(",\n  ")
      val langs = TextCols.langMarkers.map(_._1)
      val mx = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pred = langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ")
      val draw = s"${hex60Sql("md5('split:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""WITH RECURSIVE
         |sc AS (SELECT doc_id, $scores FROM documents),
         |mmx AS (SELECT *, $mx AS mx FROM sc),
         |lng AS (SELECT doc_id FROM mmx WHERE CASE $pred END = 'en'),
         |tq AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |mq AS (SELECT doc_id,
         |  CAST(len(list_filter(ts, t -> list_contains($en, t))) AS DOUBLE)
         |    / len(ts) AS stop_ratio,
         |  CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
         |    / len(ts) AS mean_len,
         |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio,
         |  CAST(len(ts) AS DOUBLE) AS n FROM tq),
         |qual AS (SELECT doc_id, q AS quality FROM (
         |  SELECT doc_id, ROUND(0.3 * least(1.0, n / 100)
         |    + 0.3 * (1.0 - stop_ratio) + 0.2 * least(1.0, mean_len / 8)
         |    + 0.2 * distinct_ratio + 1e-9, 4) AS q FROM mq)
         |  WHERE q >= 0.6),
         |gated AS (SELECT d.*, qual.quality FROM documents d
         |  JOIN lng USING (doc_id) JOIN qual USING (doc_id)),
         |keep1 AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         |d1 AS (SELECT g.* FROM gated g JOIN keep1 USING (doc_id)),
         |sets AS (SELECT doc_id, $shinglesSql AS sh FROM d1),
         |hashes AS (
         |  SELECT doc_id, sh,
         |    list_transform(sh, s -> ${hex60Sql("md5(s)")} % 1000000007) AS hs
         |  FROM sets),
         |sigs AS (
         |  SELECT doc_id, sh, list_transform(range(0, 16), j ->
         |    list_min(list_transform(hs, h ->
         |      (h * (j * 2 + 1) + j * 7919) % 1000000007))) AS sig
         |  FROM hashes),
         |bands0 AS (
         |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
         |    md5(CAST(b AS VARCHAR) || '|' ||
         |        array_to_string(list_transform(list_slice(sig, b*4 + 1, b*4 + 4),
         |          x -> CAST(x AS VARCHAR)), ',')))) AS bkey
         |  FROM sigs),
         |bhot AS (SELECT bkey FROM bands0 GROUP BY bkey
         |  HAVING COUNT(*) > ${graft.pipeline.DedupOps.MaxBandBucket}),
         |bands AS (SELECT * FROM bands0
         |  WHERE bkey NOT IN (SELECT bkey FROM bhot)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |e0 AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE jaccard >= 0.5),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comps AS (SELECT a AS doc_id, MIN(b) AS comp_id FROM reach GROUP BY a),
         |nonrep AS (SELECT doc_id FROM comps WHERE comp_id <> doc_id),
         |d2 AS (SELECT * FROM d1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)),
         |csets AS (SELECT doc_id, source = 'src0' AS is_eval, $shinglesSql AS sh
         |  FROM documents),
         |cinv0 AS (SELECT doc_id, is_eval, unnest(sh) AS s FROM csets),
         |chot AS (SELECT s FROM cinv0 GROUP BY s HAVING COUNT(*) > 100),
         |cinv AS (SELECT * FROM cinv0 WHERE s NOT IN (SELECT s FROM chot)),
         |contam AS (SELECT DISTINCT train_id AS doc_id FROM (
         |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id
         |  FROM cinv a JOIN cinv b ON a.s = b.s
         |  WHERE NOT a.is_eval AND b.is_eval
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)),
         |d3 AS (SELECT * FROM d2 WHERE source <> 'src0'
         |  AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |spl AS (SELECT doc_id,
         |  CASE WHEN $draw < ${TextOps.drawThreshold(0.1)} THEN 'val'
         |       WHEN $draw < ${TextOps.drawThreshold(0.15)} THEN 'test'
         |       ELSE 'train' END AS split FROM d3),
         |tr AS (SELECT d3.doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    d3.doc_id % 8 AS grp
         |  FROM d3 JOIN spl USING (doc_id) WHERE split = 'train'),
         |cpack AS (SELECT doc_id,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      // 256 AS pack_id
         |  FROM tr)
         |SELECT d3.doc_id, d3.source, spl.split, cpack.pack_id, d3.quality
         |FROM d3 JOIN spl USING (doc_id) LEFT JOIN cpack USING (doc_id)""".stripMargin
    },

    // transitive closure of the same >=0.5 pair graph; component label =
    // min reachable doc_id (recursive CTE's UNION dedup bounds the work)
    "dedup_components" ->
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$componentsCtes
         |SELECT doc_id, comp_id FROM comps""".stripMargin,

    // the engine's 10 integer PageRank rounds replayed CTE-for-CTE —
    // bit-exact because every operation is a long integer op
    "dedup_pagerank" -> {
      val u = graft.pipeline.GraphOps.RankUnit
      val chain = (1 to 10).map { i =>
        s"""c$i AS (SELECT e.b AS id, SUM(r.r // r.deg) AS inr
           |  FROM edges e JOIN r${i - 1} r ON e.a = r.id GROUP BY e.b),
           |r$i AS (SELECT d.id, d.deg,
           |    CAST(${u * 3 / 20} + (17 * COALESCE(c.inr, 0)) // 20 AS BIGINT) AS r
           |  FROM deg d LEFT JOIN c$i c ON d.id = c.id)""".stripMargin
      }.mkString(",\n")
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |e0 AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE jaccard >= 0.5),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |deg AS (SELECT a AS id, COUNT(*) AS deg FROM edges GROUP BY a),
         |r0 AS (SELECT id, deg, CAST($u AS BIGINT) AS r FROM deg),
         |$chain
         |SELECT id AS doc_id, r AS rank_nano,
         |  ROUND(CAST(r AS DOUBLE) / ${u}e0 + 1e-9, 6) AS rank
         |FROM r10""".stripMargin
    },

    "dedup_fuzzy_titles" ->
      s"""$lshCte,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |t AS (SELECT doc_id, substr(text, 1, 80) AS title FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(ta.title, tb.title) AS BIGINT) AS lev
         |FROM cand c
         |JOIN t ta ON c.doc_a = ta.doc_id
         |JOIN t tb ON c.doc_b = tb.doc_id
         |WHERE levenshtein(ta.title, tb.title) <= 25""".stripMargin,

    "quality_auc" ->
      s"""WITH $qualityCte,
         |l AS (SELECT d.source,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y, q.quality
         |      FROM documents d JOIN qq q ON d.doc_id = q.doc_id),
         |g AS (SELECT source, quality, COUNT(*) AS n_all, SUM(y) AS n_pos
         |      FROM l GROUP BY 1, 2),
         |r AS (SELECT source, n_all, n_pos,
         |        SUM(n_all) OVER (PARTITION BY source ORDER BY quality) AS cum
         |      FROM g),
         |s AS (SELECT source,
         |        CAST(SUM(n_pos * (2 * (cum - n_all + 1) + n_all - 1)) AS BIGINT) AS sum2r,
         |        CAST(SUM(n_pos) AS BIGINT) AS p,
         |        CAST(SUM(n_all - n_pos) AS BIGINT) AS n
         |      FROM r GROUP BY source)
         |SELECT source, p AS n_pos, n AS n_neg,
         |  ROUND(CAST(sum2r - p * (p + 1) AS DOUBLE)
         |    / (2.0 * CAST(p * n AS DOUBLE)) + 1e-9, 4) AS auc
         |FROM s WHERE p > 0 AND n > 0""".stripMargin,

    "corpus_sampled_quantiles" -> {
      val draw = s"${hex60Sql("md5('sq:' || CAST(doc_id AS VARCHAR))")} % ${TextOps.DrawMod}"
      s"""WITH base AS (SELECT doc_id, source, n_chars FROM documents),
         |samp AS (SELECT * FROM base WHERE $draw < 100000),
         |pct AS (SELECT unnest([CAST(50 AS BIGINT), 90, 99]) AS pct),
         |rs AS (SELECT source, n_chars,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY n_chars, doc_id) AS rn
         |       FROM samp),
         |ps AS (SELECT source, pct, (COUNT(*) * pct + 99) // 100 AS rn
         |       FROM samp CROSS JOIN pct GROUP BY source, pct),
         |sv AS (SELECT rs.source, ps.pct, rs.n_chars AS sample_v
         |       FROM rs JOIN ps ON rs.source = ps.source AND rs.rn = ps.rn),
         |re AS (SELECT source, n_chars,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY n_chars, doc_id) AS rn
         |       FROM base),
         |pe AS (SELECT source, pct, (COUNT(*) * pct + 99) // 100 AS rn
         |       FROM base CROSS JOIN pct GROUP BY source, pct),
         |ev AS (SELECT re.source, pe.pct, re.n_chars AS exact_v
         |       FROM re JOIN pe ON re.source = pe.source AND re.rn = pe.rn)
         |SELECT sv.source, sv.pct, sv.sample_v, ev.exact_v,
         |  sv.sample_v - ev.exact_v AS err
         |FROM sv JOIN ev ON sv.source = ev.source AND sv.pct = ev.pct""".stripMargin
    },

    "quality_adaptive" ->
      s"""WITH $qualityCte
         |SELECT d.doc_id, d.source, q.quality
         |FROM documents d JOIN qq q ON d.doc_id = q.doc_id
         |QUALIFY row_number() OVER (PARTITION BY d.source
         |    ORDER BY q.quality DESC, d.doc_id)
         |  <= (COUNT(*) OVER (PARTITION BY d.source) * 1 + 9) // 10""".stripMargin,

    "dedup_lsh_recall" -> lshRecallOracle(lshCte),

    // same replay over the deterministic md5 half-sample — the
    // production-scale gate on the exact leg (DedupOps.lshRecall
    // sampleFrac); both legs read the identical sampled doc set
    "dedup_lsh_recall_sampled" -> lshRecallOracle(
      s"""WITH dsamp AS (
         |  SELECT * FROM documents
         |  WHERE ${hex60Sql("md5('lshr:' || CAST(doc_id AS VARCHAR))")}
         |    % ${TextOps.DrawMod} < 500000),
         |${lshCteFor("dsamp").stripPrefix("WITH ")}""".stripMargin),

    "dedup_jaccard_ngram" ->
      s"""WITH sets AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents),
         |inv0 AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets),
         |hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 100),
         |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
         |         MIN(a.n) AS na, MIN(b.n) AS nb
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  ROUND(CAST(inter AS DOUBLE) / (na + nb - inter) + 1e-9, 4) AS jaccard
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5""".stripMargin,

    "decontam_overlap" ->
      s"""WITH sets AS (
         |  SELECT doc_id, source = 'src0' AS is_eval, $shinglesSql AS sh
         |  FROM documents),
         |inv0 AS (SELECT doc_id, is_eval, unnest(sh) AS s FROM sets),
         |hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 100),
         |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot))
         |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
         |  COUNT(*) AS shared
         |FROM inv a JOIN inv b ON a.s = b.s
         |WHERE NOT a.is_eval AND b.is_eval
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    "split_assign" -> {
      val draw = s"${hex60Sql("md5('split:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""SELECT doc_id,
         |  CASE WHEN $draw < ${TextOps.drawThreshold(0.1)} THEN 'val'
         |       WHEN $draw < ${TextOps.drawThreshold(0.15)} THEN 'test'
         |       ELSE 'train' END AS split
         |FROM documents""".stripMargin
    },

    "sample_mixture" -> {
      val draw = s"${hex60Sql("md5('mix:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""SELECT doc_id, source FROM documents
         |WHERE $draw < CASE source
         |  WHEN 'src0' THEN ${TextOps.drawThreshold(0.5)}
         |  WHEN 'src1' THEN ${TextOps.drawThreshold(0.1)}
         |  ELSE 1000000 END""".stripMargin
    },

    "mixture_token_budget" -> {
      val draw = s"${hex60Sql("md5('mix:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""${bpeCtes(20)},
         |$docWordCtes,
         |bt AS (SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n_tokens
         |       FROM wxx JOIN w20 USING (w) GROUP BY doc_id),
         |kept AS (SELECT doc_id, source FROM documents
         |  WHERE $draw < CASE source
         |    WHEN 'src0' THEN ${TextOps.drawThreshold(0.5)}
         |    WHEN 'src1' THEN ${TextOps.drawThreshold(0.1)}
         |    ELSE 1000000 END),
         |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM kept JOIN bt USING (doc_id) GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per)
         |SELECT source, n_docs, n_tokens,
         |  ROUND(CAST(n_tokens AS DOUBLE) / tot + 1e-9, 6) AS share
         |FROM per CROSS JOIN tot""".stripMargin
    },

    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS grp
        |  FROM documents),
        |c AS (SELECT grp, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum0
        |  FROM t)
        |SELECT grp, doc_id, n_tokens, cum0 // 256 AS pack_id,
        |  ((cum0 + n_tokens - 1) // 256) > (cum0 // 256) AS straddles
        |FROM c""".stripMargin,

    "pack_efficiency" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    doc_id % 8 AS grp
        |  FROM documents),
        |per AS (SELECT COUNT(*) AS n_docs, SUM(n) AS tokens_total,
        |    SUM((n + 255) // 256) AS padded_slots FROM t),
        |pk AS (SELECT SUM((gt + 255) // 256) AS n_packs FROM
        |    (SELECT grp, SUM(n) AS gt FROM t GROUP BY grp))
        |SELECT CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tokens_total AS BIGINT) AS tokens_total,
        |  CAST(padded_slots AS BIGINT) AS padded_slots,
        |  CAST(n_packs AS BIGINT) AS n_packs,
        |  ROUND(CAST(tokens_total AS DOUBLE)
        |    / CAST(padded_slots * 256 AS DOUBLE) + 1e-9, 6) AS padded_util,
        |  ROUND(CAST(tokens_total AS DOUBLE)
        |    / CAST(n_packs * 256 AS DOUBLE) + 1e-9, 6) AS packed_util
        |FROM per CROSS JOIN pk""".stripMargin,

    // the UniMax waterfill replayed over the same bounded language
    // list: BIGINT prefix sums (order-free because integer), the
    // prefix-monotone cap condition, one final double division
    "mixture_unimax" -> {
      val cumBefore = "COALESCE(list_sum(list_transform(xs[1:i-1], s -> s.c)), 0)"
      val alloc = """CASE WHEN i <= thr THEN CAST(xs[i].c AS DOUBLE)
        |      ELSE CAST(b - sthr AS DOUBLE) / CAST(nl - thr AS DOUBLE) END"""
        .stripMargin
      s"""WITH c AS (SELECT lang,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n
         |  FROM documents GROUP BY lang),
         |p AS (SELECT
         |    list({'c': n * 4, 'lang': lang, 'n': n} ORDER BY n * 4, lang) AS xs,
         |    CAST(SUM(n) AS BIGINT) * 3 AS b, COUNT(*) AS nl FROM c),
         |t1 AS (SELECT xs, b, nl,
         |    COALESCE(list_max(list_filter(list_transform(range(1, nl + 1),
         |      i -> CASE WHEN xs[i].c * (nl - i + 1) <= b - $cumBefore
         |           THEN i END), f -> f IS NOT NULL)), 0) AS thr
         |  FROM p),
         |t2 AS (SELECT xs, b, nl, thr,
         |    COALESCE(list_sum(list_transform(xs[1:thr], s -> s.c)), 0) AS sthr
         |  FROM t1),
         |rows_ AS (SELECT xs, b, nl, thr, sthr,
         |    UNNEST(range(1, nl + 1)) AS i FROM t2)
         |SELECT xs[i].lang AS lang, xs[i].n AS n_tokens, xs[i].c AS cap,
         |  i <= thr AS capped,
         |  ROUND($alloc + 1e-9, 4) AS alloc,
         |  ROUND(($alloc) / CAST(xs[i].n AS DOUBLE) + 1e-9, 4) AS epochs
         |FROM rows_""".stripMargin
    },

    // same shingle-min spelling as text_fingerprints — the native
    // expression must land on the identical value
    "text_fp_native" -> {
      val terms = TextOps.ShinglePows.zipWithIndex.map { case (p, j) =>
        s"COALESCE(cs[i + $j], 0) * CAST($p AS BIGINT)" }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id,
         |             list_transform(string_split(text, ''), c -> ascii(c)) AS cs
         |           FROM documents)
         |SELECT doc_id,
         |  CAST(list_min(list_transform(
         |      range(1, greatest(len(cs) - ${TextOps.ShingleW - 1}, 1) + 1),
         |      i -> ($terms) % ${TextOps.HashP})) AS BIGINT) AS fp_shingle_min
         |FROM t""".stripMargin
    },

    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |toks0 AS (SELECT doc_id, n, ts, UNNEST(range(1, n + 1)) AS i FROM t),
        |toks AS (SELECT doc_id, n, i, ts[i] AS tk FROM toks0),
        |chg AS (SELECT doc_id, i,
        |          CASE WHEN lag(tk) OVER w IS NULL OR lag(tk) OVER w <> tk
        |               THEN 1 ELSE 0 END AS c
        |        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |rid AS (SELECT doc_id, i, SUM(c) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |        FROM chg),
        |runs AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_run FROM (
        |           SELECT doc_id, run_id, COUNT(*) AS cnt FROM rid
        |           GROUP BY 1, 2) GROUP BY doc_id),
        |bgc AS (SELECT doc_id, n, ts[i] || ' ' || ts[i + 1] AS b, COUNT(*) AS c
        |        FROM toks0 WHERE i < n GROUP BY 1, 2, 3),
        |bgt AS (SELECT doc_id,
        |          ROUND(CAST(MAX(c) AS DOUBLE) / (MAX(n) - 1) + 1e-9, 4)
        |            AS top_bigram_frac
        |        FROM bgc GROUP BY doc_id)
        |SELECT t.doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  ROUND(1e0 - CAST(len(list_distinct(ts)) AS DOUBLE) / n + 1e-9, 4)
        |    AS dup_token_frac,
        |  COALESCE(bgt.top_bigram_frac, 0e0) AS top_bigram_frac,
        |  CAST(COALESCE(runs.max_run, 0) AS BIGINT) AS max_run
        |FROM t LEFT JOIN bgt USING (doc_id) LEFT JOIN runs USING (doc_id)""".stripMargin,

    "text_charlm_score" ->
      s"""WITH cc AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
         |tr AS (SELECT doc_id, cs[i] AS a, cs[i + 1] AS b
         |  FROM (SELECT doc_id, cs,
         |        UNNEST(range(1, greatest(len(cs) - 1, 0) + 1)) AS i FROM cc)),
         |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM tr GROUP BY a, b),
         |c1 AS (SELECT a, COUNT(*) AS c1 FROM tr GROUP BY a),
         |p AS (SELECT a, b, CAST(c2 AS DOUBLE) / c1 AS p
         |      FROM c2 JOIN c1 USING (a))
         |SELECT doc_id, COUNT(*) AS n_trans,
         |  ROUND(${Sql.decAvgSql("p")} + 1e-9, 4) AS avg_p,
         |  ROUND(MIN(p) + 1e-9, 6) AS min_p
         |FROM tr JOIN p USING (a, b) GROUP BY doc_id""".stripMargin,

    "dedup_source_matrix" ->
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |pr AS (SELECT doc_a, doc_b, ROUND(jaccard + 1e-9, 4) AS j
         |       FROM scored WHERE jaccard >= 0.5),
         |ds AS (SELECT doc_id, source FROM documents),
         |sp AS (SELECT least(a.source, b.source) AS source_lo,
         |    greatest(a.source, b.source) AS source_hi, j
         |  FROM pr JOIN ds a ON pr.doc_a = a.doc_id
         |          JOIN ds b ON pr.doc_b = b.doc_id)
         |SELECT source_lo, source_hi, COUNT(*) AS n_pairs,
         |  ROUND(${Sql.decAvgSql("j")} + 1e-9, 4) AS avg_jaccard
         |FROM sp GROUP BY 1, 2""".stripMargin,

    "text_ngram_novelty" ->
      s"""WITH sets AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
         |inv AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         |f AS (SELECT s, MIN(doc_id) AS first_doc FROM inv GROUP BY s)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) + 1e-9, 4) AS novelty
         |FROM inv JOIN f USING (s) GROUP BY doc_id""".stripMargin,

    "dedup_cluster_sizes" ->
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$componentsCtes,
         |sz AS (SELECT comp_id, COUNT(*) AS sz FROM comps GROUP BY comp_id),
         |bk AS (SELECT CASE WHEN sz = 2 THEN '2' WHEN sz <= 5 THEN '3-5'
         |    ELSE '6+' END AS bucket,
         |    COUNT(*) AS n_clusters, SUM(sz) AS n_docs
         |  FROM sz GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS total FROM documents),
         |cd AS (SELECT COALESCE(SUM(sz), 0) AS cd FROM sz)
         |SELECT bucket, CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(n_docs AS BIGINT) AS n_docs FROM bk
         |UNION ALL
         |SELECT '1', CAST(total - cd AS BIGINT), CAST(total - cd AS BIGINT)
         |FROM tot CROSS JOIN cd""".stripMargin,

    "vocab_growth_curve" ->
      """WITH f AS (SELECT w, MIN(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |cp AS (SELECT UNNEST([50, 100, 200, 500, 1000, 2000, 5000]) AS checkpoint),
        |c AS (SELECT checkpoint, COUNT(*) AS distinct_tokens
        |      FROM cp JOIN f ON f.first_doc < cp.checkpoint GROUP BY checkpoint)
        |SELECT CAST(cp.checkpoint AS BIGINT) AS checkpoint,
        |  CAST(COALESCE(c.distinct_tokens, 0) AS BIGINT) AS distinct_tokens
        |FROM cp LEFT JOIN c ON cp.checkpoint = c.checkpoint""".stripMargin,

    "dedup_lsh_precision" ->
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |nc AS (SELECT COUNT(*) AS n_candidates FROM cands),
         |nv AS (SELECT COUNT(*) AS n_verified FROM scored WHERE jaccard >= 0.5)
         |SELECT nc.n_candidates, nv.n_verified,
         |  ROUND(CASE WHEN nc.n_candidates > 0
         |    THEN CAST(nv.n_verified AS DOUBLE) / nc.n_candidates
         |    ELSE 1.0 END + 1e-9, 6) AS precision
         |FROM nc CROSS JOIN nv""".stripMargin,

    "text_chi2_shift" ->
      s"""WITH wc AS MATERIALIZED (SELECT source, w, COUNT(*) AS o FROM
         |    (SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY source, w),
         |st AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ns FROM wc GROUP BY source),
         |cw AS MATERIALIZED (SELECT w, CAST(SUM(o) AS BIGINT) AS c
         |  FROM wc GROUP BY w),
         |top AS (SELECT w, c FROM cw ORDER BY c DESC, w LIMIT 16),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS ctot FROM cw),
         |obs AS MATERIALIZED (SELECT st.source, st.ns, top.w, top.c, ctot,
         |    CAST(COALESCE(wc.o, 0) AS BIGINT) AS o
         |  FROM st CROSS JOIN top CROSS JOIN tot
         |  LEFT JOIN wc ON wc.source = st.source AND wc.w = top.w),
         |terms AS (SELECT source, ns,
         |    ROUND((o - e) * (o - e) / e + 1e-9, 6) AS t FROM (
         |    SELECT source, ns, o, CAST(ns AS DOUBLE) * c / ctot AS e FROM obs)),
         |oth AS (SELECT source, ns,
         |    CASE WHEN eoth > 0
         |      THEN ROUND((ooth - eoth) * (ooth - eoth) / eoth + 1e-9, 6)
         |      ELSE 0.0 END AS t FROM (
         |    SELECT source, ns, ns - SUM(o) AS ooth,
         |      CAST(ns AS DOUBLE) * (ctot - SUM(c)) / ctot AS eoth
         |    FROM obs GROUP BY source, ns, ctot)),
         |allt AS (SELECT * FROM terms UNION ALL SELECT * FROM oth)
         |SELECT source, ns AS n_tokens,
         |  ROUND(${Sql.decSumSql("t")} + 1e-9, 4) AS chi2
         |FROM allt GROUP BY source, ns""".stripMargin,

    // the component leg replays the threshold-parameterized transitive
    // closure (reach carries the threshold, so ONE recursive CTE covers
    // all 7 curve points); n_docs_removed = members minus min-labeled
    // representatives, the dedup_components removal semantics
    "dedup_threshold_sweep" ->
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS MATERIALIZED (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |pr AS MATERIALIZED (SELECT doc_a, doc_b, ROUND(jaccard + 1e-9, 4) AS j
         |       FROM scored WHERE jaccard >= 0.05),
         |th AS (SELECT UNNEST([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
         |cnt AS (SELECT threshold, COUNT(*) AS n_pairs,
         |          COUNT(DISTINCT doc_b) AS n_docs_flagged
         |        FROM th JOIN pr ON pr.j >= th.threshold GROUP BY threshold),
         |e0 AS MATERIALIZED (SELECT th.threshold, pr.doc_a AS a, pr.doc_b AS b
         |       FROM th JOIN pr ON pr.j >= th.threshold),
         |edges AS MATERIALIZED (SELECT threshold, a, b FROM e0
         |         UNION SELECT threshold, b, a FROM e0),
         |reach(threshold, a, b) AS (
         |  SELECT threshold, a, a FROM (SELECT DISTINCT threshold, a FROM edges) n
         |  UNION
         |  SELECT r.threshold, r.a, e.b FROM reach r
         |    JOIN edges e ON r.threshold = e.threshold AND r.b = e.a),
         |comps AS (SELECT threshold, a AS doc_id, MIN(b) AS comp_id
         |          FROM reach GROUP BY threshold, a),
         |rem AS (SELECT threshold, COUNT(*) AS n_docs_removed
         |        FROM comps WHERE doc_id <> comp_id GROUP BY threshold)
         |SELECT th.threshold,
         |  CAST(COALESCE(cnt.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(cnt.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
         |  CAST(COALESCE(rem.n_docs_removed, 0) AS BIGINT) AS n_docs_removed
         |FROM th LEFT JOIN cnt ON th.threshold = cnt.threshold
         |        LEFT JOIN rem ON th.threshold = rem.threshold""".stripMargin,

    "quality_ref_ppl" ->
      s"""WITH $refPplCtes
         |SELECT doc_id, n_trans, n_oov, avg_p, min_p FROM ppl""".stripMargin,

    // the four verdicts from their canonical shared CTEs (quality,
    // langID pred, gopher gr, policy pv) joined on doc_id, histogrammed
    "quality_gate_matrix" -> {
      val scores = TextCols.langMarkers.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))) AS s_$l"
      }.mkString(",\n  ")
      val langs = TextCols.langMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pred = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
      s"""WITH $qualityCte,
         |${gopherVerdictSql("documents")},
         |${policyVerdictSql("documents")},
         |lsc AS (SELECT doc_id, $scores FROM documents),
         |lmx AS (SELECT *, $m AS m FROM lsc),
         |lp AS (SELECT doc_id, CASE $pred END AS pred_lang FROM lmx),
         |bits AS (SELECT qq.doc_id,
         |    CASE WHEN lp.pred_lang = 'en' THEN 1 ELSE 0 END AS g_lang,
         |    CASE WHEN qq.quality >= 0.6 THEN 1 ELSE 0 END AS g_quality,
         |    CASE WHEN gr.r_word_count AND gr.r_mean_word_len
         |          AND gr.r_distinct_ratio AND gr.r_stop_words
         |         THEN 1 ELSE 0 END AS g_gopher,
         |    CASE WHEN pv.r_hit_count AND pv.r_density THEN 1 ELSE 0 END AS g_policy
         |  FROM qq JOIN lp USING (doc_id) JOIN gr USING (doc_id)
         |          JOIN pv USING (doc_id))
         |SELECT CAST(g_lang AS BIGINT) AS g_lang,
         |  CAST(g_quality AS BIGINT) AS g_quality,
         |  CAST(g_gopher AS BIGINT) AS g_gopher,
         |  CAST(g_policy AS BIGINT) AS g_policy,
         |  COUNT(*) AS n_docs
         |FROM bits GROUP BY g_lang, g_quality, g_gopher, g_policy""".stripMargin
    },

    // jackknife replay: total + per-source count tables, exclusive-type
    // counts for V_loo, both scores the shared one-division recipe
    "quality_ppl_loo" ->
      s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS ts
         |  FROM documents),
         |tr AS (SELECT doc_id, source, ts[i] AS a, ts[i + 1] AS b
         |  FROM (SELECT doc_id, source, ts,
         |        UNNEST(range(1, greatest(len(ts) - 1, 0) + 1)) AS i FROM s)),
         |c2t AS (SELECT a, b, COUNT(*) AS c2t FROM tr GROUP BY a, b),
         |c2s AS (SELECT a, b, source, COUNT(*) AS c2s FROM tr GROUP BY a, b, source),
         |c1t AS (SELECT a, COUNT(*) AS c1t FROM tr GROUP BY a),
         |c1s AS (SELECT a, source, COUNT(*) AS c1s FROM tr GROUP BY a, source),
         |tsrc AS (SELECT DISTINCT t, source FROM (
         |  SELECT a AS t, source FROM tr UNION ALL SELECT b, source FROM tr)),
         |vv AS (SELECT COUNT(DISTINCT t) AS v FROM tsrc),
         |excl AS (SELECT source, COUNT(*) AS vexcl FROM (
         |  SELECT t, MIN(source) AS source FROM tsrc
         |  GROUP BY t HAVING COUNT(*) = 1) GROUP BY source),
         |p AS (SELECT tr.doc_id, tr.source,
         |    CAST(c2t.c2t + 1 AS DOUBLE) / (c1t.c1t + (SELECT v FROM vv)) AS p_full,
         |    CAST(c2t.c2t - c2s.c2s + 1 AS DOUBLE) /
         |      NULLIF(c1t.c1t - c1s.c1s + (SELECT v FROM vv)
         |        - COALESCE(excl.vexcl, 0), 0) AS p_loo
         |  FROM tr JOIN c2t ON tr.a = c2t.a AND tr.b = c2t.b
         |    JOIN c2s ON tr.a = c2s.a AND tr.b = c2s.b AND tr.source = c2s.source
         |    JOIN c1t ON tr.a = c1t.a
         |    JOIN c1s ON tr.a = c1s.a AND tr.source = c1s.source
         |    LEFT JOIN excl ON tr.source = excl.source)
         |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_trans,
         |  ROUND(${Sql.decAvgSql("p_full")} + 1e-9, 6) AS avg_p_full,
         |  ROUND(${Sql.decAvgSql("p_loo")} + 1e-9, 6) AS avg_p_loo
         |FROM p GROUP BY source""".stripMargin,

    // the classifier TRAINING replayed end-to-end: 8 unrolled GD
    // iteration CTE groups (margin fold → fixed-point sigmoid error →
    // gradient groupBy → weight update), then the final scoring pass
    "classifier_langid" -> classifierOracle,

    // stupid backoff: same transition stream and train slice as the
    // refLM replay; every score one IEEE division of exact integers
    // (α = 2/5 folded into the integer numerator/denominator first)
    "quality_sb_score" ->
      s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS ts
         |  FROM documents),
         |tr AS (SELECT doc_id, source, ts[i] AS a, ts[i + 1] AS b
         |  FROM (SELECT doc_id, source, ts,
         |        UNNEST(range(1, greatest(len(ts) - 1, 0) + 1)) AS i FROM s)),
         |trn AS (SELECT * FROM tr WHERE source IN ('src0', 'src1')),
         |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM trn GROUP BY a, b),
         |c1 AS (SELECT a, COUNT(*) AS c1 FROM trn GROUP BY a),
         |cu AS (SELECT t AS b, COUNT(*) AS cu FROM (
         |  SELECT UNNEST(ts) AS t FROM s WHERE source IN ('src0', 'src1'))
         |  GROUP BY t),
         |nt AS (SELECT CAST(SUM(len(ts)) AS BIGINT) AS nn FROM s
         |  WHERE source IN ('src0', 'src1')),
         |p AS (SELECT tr.doc_id,
         |    CASE WHEN c2.c2 IS NOT NULL THEN CAST(c2.c2 AS DOUBLE) / c1.c1
         |         WHEN cu.cu IS NOT NULL
         |           THEN CAST(cu.cu * 2 AS DOUBLE) / ((SELECT nn FROM nt) * 5)
         |         ELSE CAST(0 AS DOUBLE) END AS sc,
         |    CASE WHEN c2.c2 IS NULL AND cu.cu IS NOT NULL THEN 1 ELSE 0 END AS bko,
         |    CASE WHEN c2.c2 IS NULL AND cu.cu IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tr LEFT JOIN c2 ON tr.a = c2.a AND tr.b = c2.b
         |          LEFT JOIN c1 ON tr.a = c1.a
         |          LEFT JOIN cu ON tr.b = cu.b)
         |SELECT doc_id, COUNT(*) AS n_trans,
         |  CAST(SUM(bko) AS BIGINT) AS n_backoff,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  ROUND(${Sql.decAvgSql("sc")} + 1e-9, 6) AS avg_s,
         |  ROUND(MIN(sc) + 1e-9, 8) AS min_s
         |FROM p GROUP BY doc_id""".stripMargin,

    // the refLM pass bucketed per source: same rank rule and tie-break
    // as the Spark window (rounded score desc, doc_id asc)
    "quality_ppl_buckets" ->
      s"""WITH $refPplCtes,
         |ps AS (SELECT ppl.*, d.source,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY avg_p DESC, doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY d.source) AS n
         |  FROM ppl JOIN (SELECT doc_id, source FROM documents) d
         |    USING (doc_id)),
         |bk AS (SELECT *, CASE WHEN rk * 3 <= n THEN 'head'
         |    WHEN rk * 3 <= n * 2 THEN 'middle' ELSE 'tail' END AS bucket
         |  FROM ps)
         |SELECT source, bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_trans) AS BIGINT) AS n_trans,
         |  MIN(avg_p) AS min_avg_p, MAX(avg_p) AS max_avg_p
         |FROM bk GROUP BY source, bucket""".stripMargin,

    "text_winnowing" ->
      s"""WITH $winnowCtes
         |SELECT doc_id, MAX(n_grams) AS n_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_fps,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_grams) + 1e-9, 4) AS density
         |FROM fps GROUP BY doc_id""".stripMargin,

    "dedup_winnowing_incremental" ->
      s"""WITH $winnowCtes,
         |fe AS (SELECT DISTINCT doc_id, h FROM fps),
         |sp AS (SELECT MAX(doc_id) * 4 // 5 AS s FROM documents),
         |old AS (SELECT * FROM fe WHERE doc_id < (SELECT s FROM sp)),
         |kept AS (SELECT h FROM old GROUP BY h
         |  HAVING COUNT(*) <= ${TextOps.WinnowDfCap}),
         |ok AS (SELECT old.* FROM old JOIN kept USING (h))
         |SELECT n.doc_id AS new_id, ok.doc_id AS old_id,
         |  COUNT(*) AS shared_fps
         |FROM (SELECT * FROM fe WHERE doc_id >= (SELECT s FROM sp)) n
         |JOIN ok ON n.h = ok.h
         |GROUP BY 1, 2 HAVING COUNT(*) >= ${TextOps.WinnowMinShared}""".stripMargin,

    "dedup_winnowing" ->
      s"""WITH $winnowCtes,
         |fe AS (SELECT DISTINCT doc_id, h FROM fps),
         |kept AS (SELECT h FROM fe GROUP BY h
         |  HAVING COUNT(*) <= ${TextOps.WinnowDfCap}),
         |fk AS (SELECT fe.* FROM fe JOIN kept USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS shared_fps
         |FROM fk a JOIN fk b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= ${TextOps.WinnowMinShared}""".stripMargin,

    "text_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |cc AS (SELECT doc_id, ts,
        |    CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 24 - 1) // 24 + 1 END AS nc
        |  FROM t),
        |u AS (SELECT doc_id, ts, UNNEST(range(0, nc)) AS c FROM cc)
        |SELECT doc_id, c AS chunk_id, c * 24 + 1 AS start_tok,
        |  CAST(len(list_slice(ts, c * 24 + 1, c * 24 + 32)) AS BIGINT)
        |    AS n_tokens,
        |  array_to_string(list_slice(ts, c * 24 + 1, c * 24 + 32), ' ')
        |    AS chunk_text
        |FROM u""".stripMargin,

    "text_cdc_chunks" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_id, start_tok, n_tokens, chunk_md5
         |FROM chunks""".stripMargin,

    // the same deterministic snapshot construction, full-outer joined
    // on doc_id with md5 content fingerprints
    "corpus_snapshot_diff" ->
      s"""WITH oldd AS (SELECT doc_id, source, md5(text) AS fp_a FROM documents
         |  WHERE ${hex60Sql("md5('snapold:' || CAST(doc_id AS VARCHAR))")}
         |    % 1000000 < 900000),
         |newd AS (SELECT doc_id, source,
         |    md5(CASE WHEN
         |      ${hex60Sql("md5('snapedit:' || CAST(doc_id AS VARCHAR))")}
         |        % 1000000 < 100000
         |      THEN text || ' v2' ELSE text END) AS fp_b
         |  FROM documents
         |  WHERE ${hex60Sql("md5('snapnew:' || CAST(doc_id AS VARCHAR))")}
         |    % 1000000 < 950000)
         |SELECT COALESCE(oldd.doc_id, newd.doc_id) AS doc_id,
         |  COALESCE(newd.source, oldd.source) AS source,
         |  CASE WHEN fp_a IS NULL THEN 'added'
         |       WHEN fp_b IS NULL THEN 'removed'
         |       WHEN fp_a = fp_b THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM oldd FULL OUTER JOIN newd ON oldd.doc_id = newd.doc_id""".stripMargin,

    // chunks keyed by (source, hash) then source — the content-
    // addressed store's savings factor per source
    "cdc_dedup_ratio" ->
      s"""WITH $cdcChunkCtes,
         |sc3 AS (SELECT d.source, c.chunk_md5,
         |    CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(MAX(c.n_tokens) AS BIGINT) AS n_tok
         |  FROM chunks c JOIN documents d ON c.doc_id = d.doc_id
         |  GROUP BY d.source, c.chunk_md5)
         |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(cnt * n_tok) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_tok) AS BIGINT) AS unique_tokens,
         |  ROUND(CAST(SUM(cnt * n_tok) AS DOUBLE) / SUM(n_tok) + 1e-9, 4)
         |    AS dedup_ratio
         |FROM sc3 GROUP BY source""".stripMargin,

    "text_pii_scrub" -> {
      // concat() instead of ||: stripMargin would eat a line-leading ||
      val inject =
        """concat(text, ' contact user', CAST(doc_id AS VARCHAR),
          |  '@mail.example.com via 10.', CAST(doc_id % 256 AS VARCHAR),
          |  '.0.7 or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"""
          .stripMargin
      val counts = TextOps.piiPatterns.map { case (n, p, _) =>
        s"CAST(len(regexp_extract_all(ptext, '$p')) AS BIGINT) AS n_$n"
      }.mkString(",\n  ")
      val clean = TextOps.piiPatterns.foldLeft("ptext") { case (e, (_, p, tag)) =>
        s"regexp_replace($e, '$p', '$tag', 'g')" }
      s"""WITH t AS (SELECT doc_id, $inject AS ptext FROM documents)
         |SELECT doc_id,
         |  $counts,
         |  $clean AS clean_text
         |FROM t""".stripMargin
    },

    "dedup_triangles" ->
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM scored
         |  WHERE jaccard >= 0.5),
         |deg AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM
         |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
         |o AS MATERIALIZED (
         |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |           THEN e.a ELSE e.b END AS src,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |           THEN e.b ELSE e.a END AS dst,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |           THEN db.d ELSE da.d END AS dd
         |  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
         |tri AS (SELECT COUNT(*) AS n_triangles
         |  FROM o x JOIN o y ON x.src = y.src
         |    AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))
         |  WHERE EXISTS (SELECT 1 FROM o z
         |    WHERE z.src = x.dst AND z.dst = y.dst)),
         |wed AS (SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT)
         |  AS n_wedges FROM deg),
         |ne AS (SELECT COUNT(*) AS n_edges FROM e)
         |SELECT n_edges, n_triangles, n_wedges,
         |  CASE WHEN n_wedges > 0
         |    THEN ROUND(CAST('3.0' AS DOUBLE) * n_triangles / n_wedges + 1e-9, 6)
         |  END AS clustering_coeff
         |FROM ne CROSS JOIN tri CROSS JOIN wed""".stripMargin,

    // same injection, detection via portable RE2 patterns + the
    // replace-length trick for the replacement-char count
    "text_mojibake" ->
      s"""WITH t AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' cafÃ© naÃ¯ve' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' ' || chr(65533) || 'data' ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0 THEN ' x' || chr(7) || 'z' ELSE '' END
         |      AS atext
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(atext, 'Ã[©¯¼±]')) AS BIGINT) AS n_mojibake,
         |    CAST(len(atext) - len(replace(atext, chr(65533), '')) AS BIGINT) AS n_replacement,
         |    CAST(len(regexp_extract_all(atext,
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS BIGINT) AS n_ctrl
         |  FROM t)
         |SELECT doc_id, n_mojibake, n_replacement, n_ctrl,
         |  (n_mojibake = 0 AND n_replacement = 0 AND n_ctrl = 0) AS is_clean
         |FROM c""".stripMargin,

    "dedup_simhash" -> {
      val bitSums = (0 until 16)
        .map(j => s"SUM(((h >> $j) % 2) * 2 - 1) AS s$j").mkString(",\n  ")
      val sig = (0 until 16)
        .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    ${hex60Sql("md5(t)")} % 65536 AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |bits AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id)
         |SELECT doc_id, CAST($sig AS BIGINT) AS simhash16 FROM bits""".stripMargin
    },

    // first-occurrence line dedup: the oracle ranks occurrences with a
    // window (fine for an oracle; the engine uses the skew-safe
    // min(struct) aggregation — dup iff rn > 1 <=> (doc_id,pos) > min)
    "line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |ln AS (SELECT doc_id, CAST(unnest(range(0,
        |    greatest((n + 9) // 10, 1))) AS BIGINT) AS pos, ts FROM t),
        |lh AS (SELECT doc_id, pos,
        |    md5(array_to_string(list_slice(ts, pos * 10 + 1, pos * 10 + 10), ' ')) AS h,
        |    CAST(len(list_slice(ts, pos * 10 + 1, pos * 10 + 10)) AS BIGINT) AS line_toks
        |  FROM ln),
        |mk AS (SELECT doc_id, pos, line_toks,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM lh)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 0 ELSE line_toks END) AS BIGINT) AS kept_tokens,
        |  ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) + 1e-9, 4) AS dup_line_frac
        |FROM mk GROUP BY doc_id""".stripMargin,

    "text_line_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |ln AS (SELECT doc_id, CAST(unnest(range(0,
        |    greatest((n + 9) // 10, 1))) AS BIGINT) AS pos, ts FROM t),
        |lh AS (SELECT doc_id, pos,
        |    array_to_string(list_slice(ts, pos * 10 + 1, pos * 10 + 10), ' ') AS lt,
        |    CAST(len(list_slice(ts, pos * 10 + 1, pos * 10 + 10)) AS BIGINT) AS line_toks
        |  FROM ln),
        |mk AS (SELECT doc_id, pos, lt, line_toks,
        |    row_number() OVER (PARTITION BY md5(lt) ORDER BY doc_id, pos) AS rn
        |  FROM lh)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 0 ELSE line_toks END) AS BIGINT) AS kept_tokens,
        |  COALESCE(array_to_string(
        |    list(lt ORDER BY pos) FILTER (WHERE rn = 1), ' '), '') AS clean_text
        |FROM mk GROUP BY doc_id""".stripMargin,

    "dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT doc_id, CAST(unnest(range(1, n - 4 + 1)) AS BIGINT) AS p, ts
        |  FROM t WHERE n >= 5),
        |gh AS (SELECT doc_id, p,
        |    md5(concat_ws(' ', ts[p], ts[p+1], ts[p+2], ts[p+3], ts[p+4])) AS h
        |  FROM g),
        |rep AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
        |rg AS (SELECT doc_id, p FROM gh JOIN rep USING (h)),
        |mk AS (SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
        |         THEN 0 ELSE 1 END AS brk FROM rg),
        |sp AS (SELECT doc_id, p, SUM(brk) OVER (
        |    PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS span
        |  FROM mk)
        |SELECT doc_id, MIN(p) AS span_start,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
        |FROM sp GROUP BY doc_id, span""".stripMargin,

    // removal form of dedup_spans: the oracle ranks occurrences with a
    // window over the gram hash (fine for an oracle; the engine uses
    // the skew-safe min(struct) keeper — dup iff rn > 1)
    "text_span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT doc_id, CAST(unnest(range(1, n - 4 + 1)) AS BIGINT) AS p, ts
        |  FROM t WHERE n >= 5),
        |gh AS (SELECT doc_id, p,
        |    md5(concat_ws(' ', ts[p], ts[p+1], ts[p+2], ts[p+3], ts[p+4])) AS h
        |  FROM g),
        |mk AS (SELECT doc_id, p,
        |    (row_number() OVER (PARTITION BY h ORDER BY doc_id, p)) > 1 AS dup
        |  FROM gh),
        |cov AS (SELECT doc_id, p + ii AS i, dup
        |  FROM mk CROSS JOIN (SELECT unnest(range(0, 5)) AS ii)),
        |ad AS (SELECT doc_id, i, MIN(CASE WHEN dup THEN 1 ELSE 0 END) AS alldup
        |  FROM cov GROUP BY 1, 2),
        |tk0 AS (SELECT doc_id, CAST(unnest(range(1, n + 1)) AS BIGINT) AS i, ts
        |  FROM t),
        |tk AS (SELECT doc_id, i, ts[i] AS tok FROM tk0),
        |j AS (SELECT tk.doc_id, tk.i, tk.tok, COALESCE(ad.alldup, 0) AS alldup
        |  FROM tk LEFT JOIN ad ON tk.doc_id = ad.doc_id AND tk.i = ad.i)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN alldup = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(array_to_string(
        |    list(tok ORDER BY i) FILTER (WHERE alldup = 0), ' '), '') AS clean_text
        |FROM j GROUP BY doc_id""".stripMargin,

    // the oracle's single per-source window IS the two-phase result:
    // phase-1 buckets only shed never-top-k terms
    "text_tfidf_terms" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |dft AS (SELECT t, COUNT(*) AS df
        |  FROM (SELECT DISTINCT t, doc_id FROM tok) GROUP BY t),
        |tft AS (SELECT source, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |sc AS (SELECT source, t AS term, tf, df,
        |    ROUND(CAST(tf AS DOUBLE) * (CAST((SELECT n FROM nn) + 1 AS DOUBLE)
        |      / (df + 1)) + 1e-9, 6) AS score
        |  FROM tft JOIN dft USING (t)
        |  WHERE df * 100 <= (SELECT n FROM nn) * 79),
        |rnk AS (SELECT source, term, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, tf DESC, term) AS BIGINT) AS rk FROM sc)
        |SELECT source, term, tf, df, score, rk FROM rnk WHERE rk <= 10""".stripMargin,

    "dsir_weights" ->
      s"""WITH f AS (SELECT doc_id, lang = 'en' AS is_t,
         |    ${hex60Sql("md5(t)")} % 64 AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |tb AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    COUNT(*) AS cr FROM f GROUP BY b),
         |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
         |    CAST(SUM(cr) AS BIGINT) AS tr FROM tb),
         |ra AS (SELECT b,
         |    CAST(ct + 1 AS DOUBLE) * CAST(tr + 64 AS DOUBLE)
         |      / (CAST(cr + 1 AS DOUBLE) * CAST(tt + 64 AS DOUBLE)) AS r
         |  FROM tb CROSS JOIN tt),
         |dc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM f GROUP BY doc_id, b)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
         |  ROUND(CAST(SUM(CAST(round(cnt * r, 6) AS DECIMAL(30,6))) AS DOUBLE)
         |    / SUM(cnt) + 1e-9, 4) AS dsir_weight
         |FROM dc JOIN ra USING (b) GROUP BY doc_id""".stripMargin,

    "corpus_len_quantiles" ->
      """WITH base AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |bi AS (SELECT source, n // 16 AS bin, COUNT(*) AS c
        |  FROM base GROUP BY source, bin),
        |cu AS (SELECT source, bin, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cumc,
        |    SUM(c) OVER (PARTITION BY source) AS ntot
        |  FROM bi),
        |est AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bins,
        |    CAST(MAX(ntot) AS BIGINT) AS n_docs,
        |    MIN(CASE WHEN cumc * 100 >= ntot * 50 THEN bin * 16 END) AS p50_lo,
        |    MIN(CASE WHEN cumc * 100 >= ntot * 90 THEN bin * 16 END) AS p90_lo,
        |    MIN(CASE WHEN cumc * 100 >= ntot * 99 THEN bin * 16 END) AS p99_lo
        |  FROM cu GROUP BY source),
        |ex AS (SELECT source, quantile_cont(n, 0.5) AS p50 FROM base GROUP BY source)
        |SELECT est.source, n_docs, n_bins, p50_lo, p90_lo, p99_lo,
        |  ROUND(p50 + 1e-9, 1) AS p50_exact
        |FROM est JOIN ex ON est.source = ex.source""".stripMargin,

    "corpus_shuffle_shards" ->
      s"""WITH d AS (SELECT doc_id,
         |    ${hex60Sql("md5('shard:' || CAST(doc_id AS VARCHAR))")} % 1000000 AS draw
         |  FROM documents)
         |SELECT doc_id, draw % 16 AS shard,
         |  CAST(row_number() OVER (PARTITION BY draw % 16
         |    ORDER BY draw, doc_id) AS BIGINT) AS pos
         |FROM d""".stripMargin,

    // same draw/shard assignment; the checksum sums the 60-bit md5
    // integers in HUGEINT (exact) before the mod-2^60 reduction, the
    // decimal-sum twin of the Spark side
    "shard_manifest" ->
      s"""WITH d AS (SELECT doc_id, text,
         |    ${hex60Sql("md5('shard:' || CAST(doc_id AS VARCHAR))")} % 1000000 AS draw
         |  FROM documents),
         |s AS (SELECT doc_id, draw % 16 AS shard,
         |    ${hex60Sql("md5(text)")} AS h,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM d)
         |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CAST(h AS HUGEINT)) % 1152921504606846976 AS BIGINT)
         |    AS content_sum,
         |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
         |FROM s GROUP BY shard""".stripMargin,

    "stratified_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    ${hex60Sql("md5('strat:' || CAST(doc_id AS VARCHAR))")} % 1000000 AS draw
         |  FROM documents)
         |SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source, CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY draw, doc_id) AS BIGINT) AS rk
         |  FROM d) WHERE rk <= 10""".stripMargin,

    // the round-6 flagship restated as one CTE chain: dsir weights,
    // line-dedup fractions, repeated-span token sums, three gates,
    // then shard/rank of the survivors
    "curation_pipeline" -> curationSqlFor("documents"),

    // same chain over EXTRACTED text: inject the shared markup
    // fixture, replay the block-split/score/keep extraction, then gate
    "curation_pipeline_html" -> curationSqlFor("dclean",
      s"""bsrc AS (SELECT doc_id, source, lang,
         |  ${blockStructsSql("atext")} AS bs
         |  FROM ($htmlInjectSql)),
         |dclean AS MATERIALIZED (SELECT doc_id, source, lang,
         |  COALESCE(array_to_string(list_transform($blocksKeptSql, s -> s.t), ' '), '') AS text
         |  FROM bsrc),
         |""".stripMargin),

    // the composed substring-trim stage replayed end-to-end in ONE
    // statement: the line-scrub chain (text_line_scrub's spelling) →
    // the ExactSubstr chain over the SCRUBBED text (hex60 gram keys,
    // two-plain-MIN canonical, positional coverage, ordered
    // reconstruction) → the empty-text length gate → the BPE bill of
    // the TRIMMED words against the w20 learn chain over the original
    // corpus (pack_bpe_sequences' join) → the same cumulative-budget
    // packing arithmetic
    "curation_pipeline_substr" -> {
      val k = 8
      val gh = hex60Sql(
        s"md5(array_to_string(list_slice(ts, i + 1, i + $k), ' '))")
      s"""${bpeCtes(20)},
         |ls0 AS (SELECT doc_id, string_split(text, ' ') AS ts,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
         |ls1 AS (SELECT doc_id, CAST(unnest(range(0,
         |    greatest((n + 9) // 10, 1))) AS BIGINT) AS pos, ts FROM ls0),
         |ls2 AS (SELECT doc_id, pos,
         |    array_to_string(list_slice(ts, pos * 10 + 1, pos * 10 + 10), ' ') AS lt
         |  FROM ls1),
         |ls3 AS (SELECT doc_id, pos, lt,
         |    row_number() OVER (PARTITION BY md5(lt) ORDER BY doc_id, pos) AS rn
         |  FROM ls2),
         |scr AS (SELECT doc_id, COALESCE(array_to_string(
         |    list(lt ORDER BY pos) FILTER (WHERE rn = 1), ' '), '') AS text
         |  FROM ls3 GROUP BY doc_id),
         |st AS (SELECT doc_id, string_split(text, ' ') AS ts FROM scr),
         |sg AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.gk AS gk
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(range(0, GREATEST(len(ts) - $k + 1, 0)),
         |        i -> {'pos': i, 'gk': $gh})) AS u
         |    FROM st)),
         |sgs AS (SELECT gk, MIN(doc_id) AS c_doc
         |  FROM sg GROUP BY gk HAVING COUNT(*) >= 2),
         |sdup AS (SELECT sg.gk, sgs.c_doc, MIN(sg.pos) AS c_pos
         |  FROM sg JOIN sgs ON sg.gk = sgs.gk AND sg.doc_id = sgs.c_doc
         |  GROUP BY sg.gk, sgs.c_doc),
         |scov AS (SELECT DISTINCT sg.doc_id,
         |    UNNEST(range(sg.pos, sg.pos + $k)) AS p
         |  FROM sg JOIN sdup ON sg.gk = sdup.gk
         |  WHERE NOT (sg.doc_id = sdup.c_doc AND sg.pos = sdup.c_pos)),
         |stl AS (SELECT doc_id, u.p AS p, u.tok AS tok
         |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(ts)),
         |    i -> {'p': i, 'tok': ts[i + 1]})) AS u FROM st)),
         |trm AS (SELECT stl.doc_id,
         |    CAST(COALESCE(SUM(CASE WHEN scov.p IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS dup_tokens,
         |    ROUND(CAST(COALESCE(SUM(CASE WHEN scov.p IS NOT NULL THEN 1 END), 0)
         |        AS DOUBLE) / COUNT(*) + 1e-9, 4) AS dedup_frac,
         |    COALESCE(array_to_string(list(CASE WHEN scov.p IS NULL
         |        THEN stl.tok END ORDER BY stl.p)
         |      FILTER (WHERE scov.p IS NULL), ' '), '') AS text
         |  FROM stl LEFT JOIN scov
         |    ON stl.doc_id = scov.doc_id AND stl.p = scov.p
         |  GROUP BY stl.doc_id),
         |trmne AS (SELECT * FROM trm WHERE text <> ''),
         |btk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM trmne),
         |bwx AS (SELECT doc_id, UNNEST(range(1, len(ts) + 1)) AS pos, ts FROM btk),
         |bwxx AS (SELECT doc_id, pos, ts[pos] AS w FROM bwx),
         |bt AS (SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n_tokens
         |       FROM bwxx JOIN w20 USING (w) GROUP BY doc_id),
         |pt AS (SELECT doc_id, n_tokens, doc_id % 8 AS grp FROM bt),
         |pc AS (SELECT grp, doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum0
         |  FROM pt)
         |SELECT pc.grp, pc.doc_id, t2.dup_tokens, t2.dedup_frac,
         |  pc.n_tokens AS bpe_tokens, cum0 // 512 AS pack_id,
         |  ((cum0 + n_tokens - 1) // 512) > (cum0 // 512) AS straddles
         |FROM pc JOIN trmne t2 ON pc.doc_id = t2.doc_id""".stripMargin
    },

    // the block extractor replayed stage-for-stage: same injected
    // fixture, same split/score/keep chain, exact clean text
    "text_extract_blocks" ->
      s"""WITH t AS MATERIALIZED ($htmlInjectSql),
         |b0 AS (SELECT doc_id, ${blockStructsSql("atext")} AS bs FROM t),
         |b1 AS (SELECT doc_id, bs, $blocksKeptSql AS kept FROM b0)
         |SELECT doc_id,
         |  CAST(len(list_filter(bs, s -> length(s.t) > 0)) AS BIGINT) AS n_blocks,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  COALESCE(array_to_string(list_transform(kept, s -> s.t), ' '), '') AS clean_text
         |FROM b1""".stripMargin,

    // markup extraction replayed stage-for-stage: same injected
    // fixture, same RE2-portable strip/decode chain, exact clean text
    "text_extract_html" ->
      s"""WITH t AS MATERIALIZED ($htmlInjectSql),
         |c AS (SELECT doc_id,
         |    CAST(length(atext) AS BIGINT) AS raw_len,
         |    CAST(len(regexp_extract_all(atext, '${TextOps.HtmlTagPattern}')) AS BIGINT) AS n_tags,
         |    ${extractCleanSql("atext")} AS clean_text
         |  FROM t)
         |SELECT doc_id, clean_text, raw_len,
         |  CAST(length(clean_text) AS BIGINT) AS clean_len, n_tags,
         |  CASE WHEN raw_len > 0
         |    THEN ROUND(CAST(1 AS DOUBLE)
         |      - CAST(length(clean_text) AS DOUBLE) / raw_len + 1e-9, 4)
         |    ELSE CAST(0 AS DOUBLE) END AS markup_ratio
         |FROM c""".stripMargin)

  /** DuckDB replay of [[TextOps.gopherRules]]'s verdict chain over the
    * relation `base(doc_id, text)`: two CTEs `gb` (integer counters)
    * and `gr` (the four cross-multiplied rule verdicts). The thresholds
    * and stop-word list interpolate the SAME constants the Spark
    * registration reads (the gopherRules defaults) — shared by the
    * quality_gopher_rules oracle and [[CurationQueries]]'s web_pipeline
    * funnel so the two replays cannot desync. */
  private[queries] def gopherVerdictSql(base: String): String = {
    val stop = TextOps.GopherStopWords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""gb AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS sum_len,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |      AS n_distinct,
       |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
       |      t -> list_contains($stop, t)))) AS BIGINT) AS n_stop_distinct
       |  FROM $base),
       |gr AS (SELECT doc_id, n_words, n_distinct, n_stop_distinct,
       |    (n_words >= 20 AND n_words <= 80) AS r_word_count,
       |    (sum_len >= 4 * n_words AND sum_len <= 5 * n_words)
       |      AS r_mean_word_len,
       |    (n_distinct * 100 >= 45 * n_words) AS r_distinct_ratio,
       |    (n_stop_distinct >= 2) AS r_stop_words
       |  FROM gb)""".stripMargin
  }

  /** DuckDB replay of [[TextOps.policyGate]]'s verdict chain over the
    * relation `base(doc_id, text)`: CTEs `pb` (integer counters) and
    * `pv` (the two cross-multiplied rule verdicts). Banned list and
    * thresholds interpolate the SAME constants the Spark registration
    * reads — shared by the quality_policy_gate oracle and
    * [[CurationQueries]]'s web_pipeline funnel. */
  private[queries] def policyVerdictSql(base: String): String = {
    val banned = TextOps.PolicyBannedTerms
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""pb AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> list_contains($banned, t))) AS BIGINT) AS n_banned_hits,
       |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
       |      t -> list_contains($banned, t)))) AS BIGINT)
       |      AS n_banned_distinct
       |  FROM $base),
       |pv AS (SELECT doc_id, n_words, n_banned_hits, n_banned_distinct,
       |    (n_banned_hits <= ${TextOps.PolicyMaxHits}) AS r_hit_count,
       |    (n_banned_hits * 1000 <= ${TextOps.PolicyMaxPerMille} * n_words) AS r_density
       |  FROM pb)""".stripMargin
  }

  /** DuckDB spelling of the synthetic markup injection — interpolates
    * the SAME [[TextOps]] fixture constants the Spark side wraps with,
    * so the geometry cannot desync. */
  /** DuckDB replay of the winnowed-fingerprint selection
    * ([[TextOps.winnowedFps]]): same gram hash (md5 → 60-bit int), same
    * rightmost-tie window argmin (explicit list_reduce ratchet — the
    * lexicographic struct-min twin), ending in
    * `fps(doc_id, n_grams, fps)`. Lines never open with '|' (the
    * c4InjectSql re-stripMargin note). */
  private[queries] def winnowCtes: String = {
    val k = TextOps.WinnowK
    val w = TextOps.WinnowW
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ts,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
       |g AS (SELECT doc_id, list_transform(range(1, n - ${k - 1} + 1), p ->
       |    ${hex60Sql(s"md5(array_to_string(ts[p:p+${k - 1}], ' '))")}) AS h
       |  FROM t WHERE n >= $k),
       |sel AS (SELECT doc_id, CAST(len(h) AS BIGINT) AS n_grams,
       |    list_transform(
       |      range(1, greatest(len(h) - ${w - 1}, 1) + 1), j ->
       |      list_reduce(list_transform(range(j, j + least($w, len(h))), p ->
       |        {'h': h[p], 'np': CAST(-p AS BIGINT)}),
       |        (a, b) -> CASE WHEN b.h < a.h OR (b.h = a.h AND b.np < a.np)
       |                  THEN b ELSE a END)) AS raw
       |  FROM g),
       |fps AS MATERIALIZED (SELECT doc_id, n_grams, u.h AS h, u.np AS np
       |  FROM (SELECT doc_id, n_grams, UNNEST(raw) AS u FROM sel)
       |  GROUP BY ALL)""".stripMargin
  }

  /** DuckDB replay of the frozen-reference-LM scoring pass
    * ([[TextOps.refLmScore]] with the src0/src1 train split): CTE chain
    * ending in `ppl(doc_id, n_trans, n_oov, avg_p, min_p)` — shared by
    * the quality_ref_ppl oracle and the CCNet bucket oracle so the two
    * replays cannot desync. Lines never open with '|' (this string is
    * re-stripMargin'd by its consumers — the c4InjectSql note). */
  private[queries] def refPplCtes: String =
    s"""s AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       |tr AS (SELECT doc_id, source, ts[i] AS a, ts[i + 1] AS b
       |  FROM (SELECT doc_id, source, ts,
       |        UNNEST(range(1, greatest(len(ts) - 1, 0) + 1)) AS i FROM s)),
       |trn AS (SELECT * FROM tr WHERE source IN ('src0', 'src1')),
       |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM trn GROUP BY a, b),
       |c1 AS (SELECT a, COUNT(*) AS c1 FROM trn GROUP BY a),
       |vv AS (SELECT COUNT(*) AS v FROM
       |  (SELECT a FROM trn UNION SELECT b FROM trn)),
       |p AS (SELECT tr.doc_id,
       |    CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
       |      / (COALESCE(c1.c1, 0) + (SELECT v FROM vv)) AS p,
       |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM tr LEFT JOIN c2 ON tr.a = c2.a AND tr.b = c2.b
       |          LEFT JOIN c1 ON tr.a = c1.a),
       |ppl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_trans,
       |  CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  ROUND(${Sql.decAvgSql("p")} + 1e-9, 6) AS avg_p,
       |  ROUND(MIN(p) + 1e-9, 8) AS min_p
       |FROM p GROUP BY doc_id)""".stripMargin

  /** Shared subword-fit CTEs of the WordPiece/Unigram oracle replays:
    * word counts (`wrd`), the (piece, cnt) frequency vocabulary `vvc`
    * (all chars + top-V multi-char substrings, (cnt desc, piece)
    * tie-break), its membership list `vv`, and the distinct-word frame
    * `dw` — mirrors [[TextOps]]'s `subwordFit` CTE for CTE. */
  private def subwordFitSql: String = {
    val mp = TextOps.WpMaxPiece
    s"""wrd AS MATERIALIZED (SELECT source, w, COUNT(*) AS wc FROM (
       |  SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY source, w),
       |wt AS (SELECT w, CAST(SUM(wc) AS BIGINT) AS cnt FROM wrd GROUP BY w),
       |pc AS (SELECT substr(w, i, k) AS p, k, cnt FROM (
       |  SELECT w, cnt, UNNEST(range(1, len(w) + 1)) AS i FROM wt),
       |  (SELECT UNNEST(range(1, $mp + 1)) AS k)
       |  WHERE i + k - 1 <= len(w)),
       |ag AS (SELECT p, k, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pc GROUP BY p, k),
       |vvc AS MATERIALIZED (SELECT p, cnt FROM ag WHERE k = 1
       |  UNION ALL
       |  SELECT p, cnt FROM (SELECT p, cnt, row_number() OVER (
       |      ORDER BY cnt DESC, p) AS rk FROM ag WHERE k > 1)
       |  WHERE rk <= ${TextOps.WpTopV}),
       |vv AS (SELECT list(DISTINCT p) AS vl FROM vvc),
       |dw AS (SELECT DISTINCT w FROM wrd)""".stripMargin
  }

  /** The greedy longest-match walk over `dw`/`vv` (condition order =
    * the Scala loop), ending in `fin(w, np, no)`. */
  private def greedyWalkSql: String = {
    val mp = TextOps.WpMaxPiece
    val contains = (k: Int) =>
      s"pos + ${k - 1} <= len(w) AND list_contains((SELECT vl FROM vv), substr(w, pos, $k))"
    val kstep = (2 to mp).reverse.map(k =>
      s"WHEN ${contains(k)} THEN $k").mkString(" ")
    s"""walk AS (
       |  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS np, CAST(0 AS BIGINT) AS no,
       |    CAST(0 AS BIGINT) AS gm
       |  FROM dw
       |  UNION ALL
       |  SELECT w, pos + ks, np + 1,
       |    no + CASE WHEN ks = 1 AND NOT
       |      list_contains((SELECT vl FROM vv), substr(w, pos, 1))
       |      THEN 1 ELSE 0 END,
       |    gm | CASE WHEN pos + ks - 1 <= 62
       |      THEN CAST(1 AS BIGINT) << (pos + ks - 1) ELSE 0 END
       |  FROM (SELECT *, CASE $kstep ELSE 1 END AS ks
       |        FROM walk WHERE pos <= len(w))),
       |fin AS (SELECT w, np, no, gm FROM walk WHERE pos = len(w) + 1)""".stripMargin
  }

  /** DuckDB replay of the WHOLE [[TextOps.classifierFit]] training run +
    * [[TextOps.classifierScore]]: features/split/label CTEs, then one CTE
    * group per GD iteration — margin = integer sum of the previous
    * iteration's weights over the doc's buckets, error = fixed-point
    * rational sigmoid minus the scaled label, gradient = per-bucket error
    * sum, update = truncating integer division by the train count (both
    * engines truncate toward zero) — then the final corpus-wide scoring
    * pass. Every intermediate is a BIGINT, so the trajectory is
    * bit-identical to the Spark fit by construction. */
  private def classifierOracle: String = {
    val d = TextOps.ClsBuckets
    val s = TextOps.ClsScale
    val thr = TextOps.drawThreshold(0.5)
    val prob = (m: String) => s"$s // 2 + ($m * $s) // (2 * ($s + abs($m)))"
    // the marker injection, interpolated from the SAME langMarkers /
    // MarkerInjectK constants the Spark side injects with
    val mcase = TextCols.langMarkers.map { case (l, ws) =>
      s"WHEN '$l' THEN [${ws.map(w => s"'$w'").mkString(", ")}]"
    }.mkString(" ")
    val iters = (1 to TextOps.ClsIters).map { i =>
      s"""mg$i AS (SELECT fx.doc_id, fx.y, CAST(SUM(w.w) AS BIGINT) AS m
         |  FROM fx JOIN w${i - 1} w USING (b) WHERE fx.is_train = 1
         |  GROUP BY fx.doc_id, fx.y),
         |er$i AS (SELECT doc_id, (${prob("m")}) - y * $s AS e FROM mg$i),
         |gr$i AS (SELECT fx.b, CAST(SUM(er.e) AS BIGINT) AS g
         |  FROM fx JOIN er$i er USING (doc_id) WHERE fx.is_train = 1
         |  GROUP BY fx.b),
         |w$i AS MATERIALIZED (SELECT w.b,
         |    w.w - (COALESCE(g.g, 0) * ${TextOps.ClsEtaNum}) //
         |      ((SELECT n FROM nt) * ${TextOps.ClsEtaDen}) AS w
         |  FROM w${i - 1} w LEFT JOIN gr$i g USING (b))""".stripMargin
    }.mkString(",\n")
    s"""WITH inj AS (SELECT doc_id, lang,
       |    array_to_string(list_transform(range(0, ${TextOps.MarkerInjectK}),
       |      i -> ml[CAST((doc_id + i) % len(ml) AS INT) + 1]), ' ')
       |      || ' ' || text AS text
       |  FROM (SELECT doc_id, lang, text,
       |        CASE lang $mcase END AS ml FROM documents)),
       |ft AS MATERIALIZED (SELECT doc_id, lang,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    CASE WHEN ${hex60Sql("md5('clsft:' || CAST(doc_id AS VARCHAR))")}
       |      % ${TextOps.DrawMod} < $thr THEN 1 ELSE 0 END AS is_train,
       |    list_prepend(CAST(-1 AS BIGINT), list_sort(list_distinct(
       |      list_transform(string_split(text, ' '),
       |        t -> ${hex60Sql("md5(t)")} % $d)))) AS bs
       |  FROM inj),
       |fx AS MATERIALIZED (SELECT doc_id, y, is_train, UNNEST(bs) AS b FROM ft),
       |nt AS (SELECT COUNT(*) AS n FROM ft WHERE is_train = 1),
       |w0 AS (SELECT UNNEST(range(-1, $d)) AS b, CAST(0 AS BIGINT) AS w),
       |$iters,
       |mfin AS (SELECT fx.doc_id, CAST(SUM(w.w) AS BIGINT) AS margin
       |  FROM fx JOIN w${TextOps.ClsIters} w USING (b) GROUP BY fx.doc_id),
       |pf AS (SELECT ft.doc_id, ft.lang, ft.y, ft.is_train, m.margin,
       |    ${prob("m.margin")} AS p6
       |  FROM ft JOIN mfin m USING (doc_id))
       |SELECT doc_id, lang, CAST(y AS BIGINT) AS y,
       |  CAST(is_train AS BIGINT) AS is_train, margin,
       |  ROUND(CAST(p6 AS DOUBLE) / $s + 1e-9, 6) AS prob,
       |  CAST(CASE WHEN p6 * 2 >= $s THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM pf""".stripMargin
  }

  /** DuckDB spelling of the C4 line/artifact renderer — interpolates
    * the SAME [[TextOps]] fixture constants (line width, terminal
    * cycle, artifact lines, moduli) the Spark side renders with, so
    * the geometry cannot desync. */
  private[queries] def c4InjectSql: String = {
    val w = TextOps.C4LineTokens
    // NOTE: this string is interpolated INSIDE other stripMargin
    // oracles, whose stripMargin runs AGAIN over these lines — so no
    // line here may open with '|' (a leading '||' concat would lose a
    // pipe); every concat operator sits at line END
    s"""SELECT doc_id, array_to_string(list_transform(range(0, nl), i ->
       |    array_to_string(toks[i*$w+1 : i*$w+$w], ' ') ||
       |    CASE WHEN (doc_id + i) % 5 = 4 THEN ''
       |         WHEN (doc_id + i) % 5 = 3 THEN '?' ELSE '.' END),
       |  chr(10)) ||
       |  CASE WHEN doc_id % 13 = 0
       |       THEN chr(10) || '${TextOps.C4LoremLine}' ELSE '' END ||
       |  CASE WHEN doc_id % 19 = 0
       |       THEN chr(10) || '${TextOps.C4JsLine}' ELSE '' END ||
       |  CASE WHEN doc_id % 17 = 0
       |       THEN chr(10) || '${TextOps.C4BraceLine}' ELSE '' END
       |  AS ltext
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks,
       |      (len(string_split(text, ' ')) + ${w - 1}) // $w AS nl
       |      FROM documents)""".stripMargin
  }

  private[queries] def htmlInjectSql: String =
    "SELECT doc_id, source, lang, CASE " +
      s"WHEN doc_id % 3 = 0 THEN '${TextOps.HtmlPagePrefix}' || text || " +
      s"'${TextOps.HtmlPageSuffix}' " +
      s"WHEN doc_id % 3 = 1 THEN '${TextOps.HtmlInlinePrefix}' || text || " +
      s"'${TextOps.HtmlInlineSuffix}' " +
      "ELSE text END AS atext FROM documents"

  /** DuckDB replay of [[TextOps.extractHtml]]'s clean-text chain over
    * raw column `raw`: block strips, tag strip, entity decode, collapse
    * — each stage interpolating the shared pattern constants. */
  /** DuckDB replay of [[TextOps.extractBlocks]]'s per-block struct list
    * over a raw-markup column: hard-strip head/script/style, split at
    * block boundaries, and for each block compute (t = visible text via
    * the shared tag-strip/entity-decode/ws-collapse chain, l = visible
    * anchor-text mass under the SAME normalization). Interpolates the
    * same TextOps constants the Spark expressions read. */
  private def blockStructsSql(raw: String): String = {
    val pre = TextOps.HtmlHardStripPatterns.foldLeft(raw)((acc, p) =>
      s"regexp_replace($acc, '$p', ' ', 'g')")
    // the shared block-text normalization: tag strip, entity decode
    // (chr(39) for the quote), whitespace collapse — applied to the
    // block AND to its anchor mass, exactly like the Spark btext
    def btChain(expr: String): String = {
      val noTags = s"regexp_replace($expr, '${TextOps.HtmlTagPattern}', ' ', 'g')"
      val decoded = TextOps.HtmlEntities.foldLeft(noTags) { case (acc, (e, r)) =>
        val rl = if (r == "'") "chr(39)" else s"'$r'"
        s"replace($acc, '$e', $rl)" }
      s"trim(regexp_replace($decoded, '${TextOps.WsPattern}', ' ', 'g'))"
    }
    val bt = btChain("b")
    // COALESCE: DuckDB's array_to_string([]) is NULL, Spark's array_join is ''
    val ll = "CAST(length(" + btChain(
      s"COALESCE(array_to_string(regexp_extract_all(b, '${TextOps.HtmlAnchorPattern}', 1), ' '), '')") +
      ") AS BIGINT)"
    s"list_transform(regexp_split_to_array($pre, '${TextOps.HtmlBlockSplitPattern}'), " +
      s"b -> {'t': $bt, 'l': $ll})"
  }

  /** The keep rule over a struct list named `bs` — integer-exact, the
    * same three conditions as the Spark filter. */
  private def blocksKeptSql: String =
    s"list_filter(bs, s -> length(s.t) >= ${TextOps.BlockMinLen} AND " +
      s"s.l * ${TextOps.BlockLinkDensityX} <= length(s.t) AND " +
      s"NOT regexp_matches(s.t, '${TextOps.HtmlBoilerplatePattern}'))"

  private[queries] def extractCleanSql(raw: String): String = {
    val noBlocks = TextOps.HtmlBlockPatterns.foldLeft(raw)((acc, p) =>
      s"regexp_replace($acc, '$p', ' ', 'g')")
    val noTags =
      s"regexp_replace($noBlocks, '${TextOps.HtmlTagPattern}', ' ', 'g')"
    val decoded = TextOps.HtmlEntities.foldLeft(noTags) { case (acc, (e, r)) =>
      val rl = if (r == "'") "chr(39)" else s"'$r'"
      s"replace($acc, '$e', $rl)" }
    s"trim(regexp_replace($decoded, '${TextOps.WsPattern}', ' ', 'g'))"
  }

  /** The curation flagship CTE chain parameterized on the corpus
    * relation (doc_id, source, lang, text) — shared by the raw and the
    * extracted-HTML variants; `prelude` injects extra leading CTEs. */
  private def curationSqlFor(base: String, prelude: String = ""): String =
      s"""WITH ${prelude}f AS (SELECT doc_id, lang = 'en' AS is_t,
         |    ${hex60Sql("md5(t)")} % 64 AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |        FROM $base)),
         |tb AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    COUNT(*) AS cr FROM f GROUP BY b),
         |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
         |    CAST(SUM(cr) AS BIGINT) AS tr FROM tb),
         |ra AS (SELECT b,
         |    CAST(ct + 1 AS DOUBLE) * CAST(tr + 64 AS DOUBLE)
         |      / (CAST(cr + 1 AS DOUBLE) * CAST(tt + 64 AS DOUBLE)) AS r
         |  FROM tb CROSS JOIN tt),
         |dc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM f GROUP BY doc_id, b),
         |dw AS (SELECT doc_id,
         |    ROUND(CAST(SUM(CAST(round(cnt * r, 6) AS DECIMAL(30,6))) AS DOUBLE)
         |      / SUM(cnt) + 1e-9, 4) AS dsir_weight
         |  FROM dc JOIN ra USING (b) GROUP BY doc_id),
         |t2 AS (SELECT doc_id, string_split(text, ' ') AS ts,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM $base),
         |ln AS (SELECT doc_id, CAST(unnest(range(0,
         |    greatest((n + 9) // 10, 1))) AS BIGINT) AS pos, ts FROM t2),
         |lh AS (SELECT doc_id, pos,
         |    md5(array_to_string(list_slice(ts, pos * 10 + 1, pos * 10 + 10), ' ')) AS h
         |  FROM ln),
         |mk AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM lh),
         |ld AS (SELECT doc_id,
         |    ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / COUNT(*) + 1e-9, 4) AS dup_line_frac
         |  FROM mk GROUP BY doc_id),
         |g AS (SELECT doc_id, CAST(unnest(range(1, n - 4 + 1)) AS BIGINT) AS p, ts
         |  FROM t2 WHERE n >= 5),
         |gh AS (SELECT doc_id, p,
         |    md5(concat_ws(' ', ts[p], ts[p+1], ts[p+2], ts[p+3], ts[p+4])) AS h
         |  FROM g),
         |rep AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         |rg AS (SELECT doc_id, p FROM gh JOIN rep USING (h)),
         |mk2 AS (SELECT doc_id, p,
         |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
         |         THEN 0 ELSE 1 END AS brk FROM rg),
         |sp2 AS (SELECT doc_id, p, SUM(brk) OVER (
         |    PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS span
         |  FROM mk2),
         |rt AS (SELECT doc_id, CAST(SUM(cnt + 4) AS BIGINT) AS rep_toks FROM (
         |    SELECT doc_id, span, COUNT(*) AS cnt FROM sp2
         |    GROUP BY doc_id, span) GROUP BY doc_id),
         |tok AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM $base),
         |gated AS (SELECT * FROM (
         |    SELECT tok.doc_id AS doc_id, source, dsir_weight, dup_line_frac,
         |      ROUND(CAST(COALESCE(rep_toks, 0) AS DOUBLE) / n_tokens + 1e-9, 4)
         |        AS span_frac
         |    FROM tok JOIN dw USING (doc_id) JOIN ld USING (doc_id)
         |    LEFT JOIN rt USING (doc_id))
         |  WHERE dsir_weight >= 1.0 AND dup_line_frac <= 0.2 AND span_frac <= 0.5),
         |sh AS (SELECT doc_id,
         |    ${hex60Sql("md5('shard:' || CAST(doc_id AS VARCHAR))")} % 1000000 AS draw
         |  FROM gated)
         |SELECT g2.doc_id, source, dsir_weight, dup_line_frac, span_frac,
         |  draw % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY draw % 8
         |    ORDER BY draw, g2.doc_id) AS BIGINT) AS pos
         |FROM gated g2 JOIN sh ON g2.doc_id = sh.doc_id""".stripMargin
}
