package graft.queries

import graft.Tables
import graft.pipeline.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-10 corpus-curation decision operators: the steps that turn pair
  * mining and scoring into an actually-shipped dataset — leakage-free
  * splits, survivor selection, containment screening, tokenizer sizing,
  * temperature mixing, and measured LSH parameter planning.
  *
  * Oracle plumbing (band keys, shingle sets, component closure, quality
  * score) is shared verbatim with [[TextQueries]] so the replays cannot
  * drift from the dedup family they extend.
  */
object CurationQueries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** The deterministic old/new snapshot pair of the refresh composition
    * — ONE spelling shared by the `incremental_refresh` query and the
    * compaction round-trip spec (RefreshCompactionSpec), so the fates
    * the compactor applies always describe the snapshots it reads. */
  private[graft] def refreshSnapshots(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val dd = docs(s, d)
    val oldSnap = dd.filter(TextOps.mdDraw6("snapold") < 900000L)
    val newSnap = dd.filter(TextOps.mdDraw6("snapnew") < 950000L)
      .withColumn("text", when(TextOps.mdDraw6("snapedit") < 100000L,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    (oldSnap, newSnap)
  }

  import TextQueries.{componentsCtes, dlit, gopherVerdictSql, hex60Sql,
    lshCte, lshCteFor, policyVerdictSql, qualityCte, shinglesSql}

  /** The `incremental_refresh` composition (see the query comment at its
    * map entry) — factored out so `refresh_compact_graph` folds the SAME
    * fates the refresh query reports. */
  private def refreshFates(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.pipeline.VectorOps
    // Single-scan snapshot diff: both snapshots are md5-draw filters of
    // the SAME documents table, so each row's membership in old/new (and
    // the new side's edit) is a per-row function of doc_id — one parquet
    // scan computes the full diff with no full-outer self-join (the join
    // spelling scanned documents twice and exchanged both sides; row-
    // identical by construction: same-source rows make coalesce(src_b,
    // src_a) = source, and text_a === text_b iff the edit draw missed).
    // refreshSnapshots stays the shared old/new spelling for consumers
    // that need the snapshot frames themselves.
    val diff = graft.CacheScope.persist(docs(s, d)
      .withColumn("in_old", TextOps.mdDraw6("snapold") < 900000L)
      .withColumn("in_new", TextOps.mdDraw6("snapnew") < 950000L)
      .filter(col("in_old") || col("in_new"))
      .select(col("doc_id"), col("source"),
        when(!col("in_old"), "added")
          .when(!col("in_new"), "removed")
          .when(TextOps.mdDraw6("snapedit") < 100000L, "changed")
          .otherwise("unchanged").as("status"),
        when(col("in_new"),
          when(TextOps.mdDraw6("snapedit") < 100000L,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
          .as("text")))
    val delta = diff.filter(col("status").isin("added", "changed"))
      .select(col("doc_id"), col("text"))
    val pol = TextOps.policyGate(delta)
      .select(col("doc_id"), col("keep").as("p_keep"))
    val gph = TextOps.gopherRules(
        delta.join(pol.filter(col("p_keep")).select("doc_id"), Seq("doc_id")))
      .select(col("doc_id"), col("keep").as("g_keep"))
    val sv = delta.join(pol, Seq("doc_id")).join(gph, Seq("doc_id"))
      .filter(col("p_keep") && col("g_keep"))
      .select(col("doc_id"), col("text"))
    val unchanged = diff.filter(col("status") === "unchanged")
      .select(col("doc_id"), col("text"))
    val dups = DedupOps.probeDupHits(unchanged, sv)
      .groupBy(col("new_id").as("doc_id"))
      .agg(count(lit(1)).as("hits_raw"), min(col("old_id")).as("dup_of"))
    val emb = Tables.embeddings(s, d)
    val oldPred = TextOps.mdDraw6On("snapold", col("vec_id")) < 900000L
    val cents = VectorOps.kmeansCentroids(emb.filter(oldPred),
      targetCellSize = 50)
    val fresh = sv.select(col("doc_id"))
      .join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
    val asg = VectorOps.kmeansRanked(
        emb.join(fresh.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id")),
        cents, maxRank = 1)
      .select(col("vec_id").as("doc_id"), col("cid").cast("long").as("cid"))
    diff.filter(col("status") =!= "unchanged")
      .join(pol, Seq("doc_id"), "left")
      .join(gph, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .join(asg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("status"),
        col("p_keep"), col("g_keep"),
        when(col("status") === "removed", lit(null).cast("long"))
          .when(!col("p_keep"), lit(null).cast("long"))
          .when(!col("g_keep"), lit(null).cast("long"))
          .otherwise(coalesce(col("hits_raw"), lit(0L))).as("n_dup_hits"),
        col("dup_of"), col("cid"),
        when(col("status") === "removed", lit("evicted"))
          .when(!col("p_keep"), lit("gated"))
          .when(!col("g_keep"), lit("gated"))
          .when(col("hits_raw").isNotNull, lit("near_dup"))
          .otherwise(lit("indexed")).as("action"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LEAKAGE-FREE split: the whole near-dup cluster draws ONE fate, so no
    // val/test doc has a near-duplicate in train (the failure mode
    // split_leakage measures; this prevents it by construction)
    "split_leakproof" -> ((s, d) =>
      DedupOps.leakproofSplit(docs(s, d), valFrac = 0.1, testFrac = 0.05)),

    // TRAINING MANIFEST — the artifact a trainer's dataloader actually
    // consumes, composed from the shipped decision operators: mixture
    // draw (src0 halved, src1 at 10%) → leakproof TRAIN split (cluster
    // fate, no near-dup leaks) → GPT-style packing (budget 256, 8
    // parallel groups) → per-PACK shard + in-shard order by md5 draw.
    // One row per pack: where it lives (shard, pos) and what it holds
    // (docs, tokens, boundary straddles). Every stage is the shared
    // operator, so the manifest inherits their scale shapes: per-row
    // gates, the pair-graph split, group-partitioned running sums, and
    // a shard-partitioned rank window.
    "training_manifest" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dd = docs(s, d)
      val sampled = TextOps.sampleMixture(dd, ManifestMix.toMap)
      val train = DedupOps.leakproofSplit(dd,
          valFrac = ManifestValFrac, testFrac = ManifestTestFrac)
        .filter(col("split") === "train").select(col("doc_id"))
      val counts = dd.select(col("doc_id"),
        size(graft.functions.TextCols.tokens).cast("long").as("n_tokens"))
      val kept = sampled.select(col("doc_id"))
        .join(train, Seq("doc_id")).join(counts, Seq("doc_id"))
      val packs = TextOps.packByCounts(kept,
        budget = ManifestBudget, groups = ManifestGroups)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("draw"), col("grp"), col("pack_id"))
      packs.groupBy(col("grp"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddles"))
        .withColumn("draw", TextOps.mdDraw6On("manifest",
          concat_ws("_", col("grp"), col("pack_id"))))
        .withColumn("shard", pmod(col("draw"), lit(ManifestShards)))
        .withColumn("pos", row_number().over(w).cast("long"))
        .drop("draw")
    }),
    // survivor selection: per near-dup cluster keep the best-quality doc
    // (ties to smallest doc_id); every clustered doc maps to its survivor
    "dedup_canonical" -> ((s, d) => DedupOps.canonicalDocs(docs(s, d))),
    // asymmetric containment |A∩B|/|A| over the banded candidates — flags
    // documents SUBSUMED in a bigger one, which symmetric Jaccard misses
    "text_containment" -> ((s, d) => DedupOps.containmentPairs(docs(s, d))),
    // SOFT dedup: keep every document, down-weight its loss by its
    // near-dup cluster size (1/dup_count) — the reweighting alternative
    // to dedup_canonical's removal
    "dedup_soft_weights" -> ((s, d) => DedupOps.softDedupWeights(docs(s, d))),
    // tokenizer sizing: cumulative token-mass coverage of the top-k word
    // types at power-of-two checkpoints
    "vocab_coverage_curve" -> ((s, d) => TextOps.vocabCoverage(docs(s, d))),
    // temperature-scaled (α = 1/2) mixture weights per source + the token
    // allowance each slice gets under a 1M-token budget
    "mixture_temperature" -> ((s, d) => TextOps.temperatureWeights(docs(s, d))),
    // measured LSH planning: integrate each (bands, rows) S-curve against
    // the corpus' own sampled pairwise-similarity histogram
    "lsh_planner" -> ((s, d) => DedupOps.lshPlan(docs(s, d), sampleFrac = 0.5)),
    // the cheapest first-pass web dedup, BEFORE any MinHash: canonicalize
    // the (injected deterministic) URL — case, www, default port,
    // trailing slash, tracking params, fragment — exact-dedup on the
    // canonical form, then cap surviving docs per host at 4 by a
    // deterministic ranked draw
    "url_canonical_dedup" -> ((s, d) => TextOps.urlCanonicalDedup(
      TextOps.urlInject(docs(s, d)),
      org.apache.spark.sql.functions.col("url"), maxPerHost = 4)),
    // DoReMi-shape domain reweighting: 10 fixed-point multiplicative-
    // weights rounds over the per-source reference-LM OOV loss (the
    // curated slice = src0/src1, the quality_ref_ppl reference)
    "mixture_domain_reweight" -> ((s, d) => TextOps.domainReweight(
      docs(s, d),
      org.apache.spark.sql.functions.col("source").isin("src0", "src1"))),
    // SNAPSHOT-SCOPED INCREMENTAL RE-PROCESSING — the daily crawl-refresh
    // composition: corpus_snapshot_diff's deterministic old/new snapshots
    // → the added+changed slice ONLY flows through the content gates
    // (policy → Gopher, production order) → gate survivors probe the
    // UNCHANGED corpus's MinHash band index (dedup_incremental's screen)
    // → fresh survivors' embeddings are assigned to the centroids fitted
    // on the OLD snapshot (ann_index_append's no-refit recipe; vec_id
    // and doc_id share one id space in this corpus) → removed docs
    // become index evictions. One row per non-unchanged doc with its
    // fate: evicted / gated / near_dup / indexed (+ the assigned cell).
    //
    // Cost shape: every per-doc stage (gates, band probe, centroid
    // assignment) touches ONLY the O(changed) delta; the corpus-sized
    // terms — the unchanged-side band index and the old-snapshot
    // centroid fit — are the PERSISTED artifacts of dedup_incremental /
    // ann_index_append in production (re-derived here so the query is a
    // pure function of its inputs, the ann_index_roundtrip convention).
    // A 1% daily delta therefore pays 1% of the gate/probe/assign work,
    // not a full re-pipeline.
    "incremental_refresh" -> ((s, d) => refreshFates(s, d)),

    // GRAPH COMPACTION, oracle-checked end-to-end: the refresh run's
    // fates folded into the persisted graph index
    // (RefreshOps.compactGraphIndex — affected cells rebuilt, evicted
    // docs' edges gone both directions) must equal a FRESH same-cell
    // kNN build over the live corpus at the live cell assignment —
    // that contract IS the oracle, so DuckDB replays the fates chain,
    // derives the live corpus, and builds the graph fresh, while the
    // Spark side exercises the incremental fold. Billed in the bench's
    // diagnostic tier: a per-refresh-cycle maintenance fold, not a
    // hot-path query. The fates frame is localCheckpoint-ed before the
    // fold composes over it (the refresh plan tree re-composed through
    // three joins was measured to OOM the EXPLAIN formatter).
    "refresh_compact_graph" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.pipeline.{RefreshOps, VectorOps}
      val (oldSnap, _) = refreshSnapshots(s, d)
      val fates = refreshFates(s, d).localCheckpoint()
      val emb = Tables.embeddings(s, d)
      val oldPred = TextOps.mdDraw6On("snapold", col("vec_id")) < 900000L
      val embOld = emb.filter(oldPred)
      val cents = VectorOps.kmeansCentroids(embOld, targetCellSize = 50)
      val cells0 = VectorOps.kmeansRanked(embOld, cents, maxRank = 1)
        .select(col("vec_id"), col("cid").cast("long").as("cid"))
      val edges0 = VectorOps.knnGraphFromCells(embOld, cells0, 3)
        .select(col("src"), col("dst"))
      val live = oldSnap.select(col("doc_id"))
        .join(fates.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(fates.filter(col("action") === "indexed")
          .select(col("doc_id")))
      val embLive = emb.join(
        live.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"))
      RefreshOps.compactGraphIndex(embLive, edges0, cells0, fates)._2
    }),

    // GRAM-INDEX COMPACTION, oracle-checked end-to-end (the
    // refresh_compact_graph convention): the refresh run's fates folded
    // into the persisted ExactSubstr gram index
    // (RefreshOps.compactGramIndex — fated docs' rows leave via one
    // anti-join, indexed docs' grams re-derive from the NEW text) must
    // equal a FRESH substrGramIndex over the live corpus — that
    // contract IS the oracle: DuckDB replays the fates chain, derives
    // the live corpus, and builds the gram set fresh, while the Spark
    // side exercises the incremental fold. Billed in the bench's
    // diagnostic tier: a per-refresh-cycle maintenance fold.
    "refresh_compact_grams" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.pipeline.RefreshOps
      val (oldSnap, newSnap) = refreshSnapshots(s, d)
      val fates = refreshFates(s, d).localCheckpoint()
      val index0 = TextOps.substrGramIndex(
        oldSnap.select(col("doc_id"), col("text")))
      RefreshOps.compactGramIndex(index0, fates,
        newSnap.select(col("doc_id"), col("text")))
    }),

    // incremental ExactSubstr: the refresh delta trimmed against the
    // UNCHANGED corpus's k-gram index — O(batch tokens) probe work, the
    // corpus-sized index is the persisted artifact (the
    // incremental_refresh convention re-derives it here;
    // exactSubstrServe / compactGramIndex are the production pair)
    "dedup_exact_substring_incr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val (oldSnap, _) = refreshSnapshots(s, d)
      // the added+changed delta is a per-row function of doc_id (both
      // snapshots draw from the same table), so derive it in ONE scan
      // instead of new-join-old: in_new && (not in_old || edited), with
      // the edit applied — row-identical to the join spelling
      val edited = TextOps.mdDraw6("snapedit") < 100000L
      val batch = docs(s, d)
        .filter(TextOps.mdDraw6("snapnew") < 950000L &&
          (TextOps.mdDraw6("snapold") >= 900000L || edited))
        .select(col("doc_id"),
          when(edited, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      TextOps.exactSubstrProbe(
        oldSnap.select(col("doc_id"), col("text")), batch)
    }),

    // robots-style policy gate on the canonical URL: banned domains +
    // banned path prefixes (host rules win the reported reason)
    "url_blocklist_gate" -> ((s, d) => TextOps.urlBlocklistGate(
      TextOps.urlInject(docs(s, d)),
      org.apache.spark.sql.functions.col("url"),
      BlockedHosts, BlockedPathPrefixes)),

    // END-TO-END WEB-INGEST FUNNEL FLAGSHIP — the batch twin of
    // CurationStreams.webCurationStream's stage order, reported as the
    // per-source funnel every crawl pipeline publishes: URL blocklist →
    // canonical-URL dedup + per-host cap → HTML extraction →
    // content-policy wordlist gate → Gopher rules, with each document
    // attributed to the FIRST gate that dropped it and the kept token
    // volume summed.
    //
    // EXTRACTION TIER CHOICE (deliberate): the funnel uses the cheap
    // pattern-strip extractHtml — at crawl volume the gates only need
    // text good enough for a keep/drop verdict, and extraction here runs
    // on every URL survivor. The density-scored TextOps.extractBlocks is
    // the CURATION-tier extractor (curation_pipeline_html), applied to
    // documents that already earned the deeper pass — the same two-tier
    // split production pipelines run (fast rule extraction at ingest,
    // quality extraction before the corpus store). Every stage is a per-row pass or a
    // data-scale-keyed window; extraction and tokenization run only on
    // URL survivors, and the Gopher counters only on policy survivors
    // (production order — a blocked, duplicate, or policy-banned URL
    // never pays the downstream stage).
    "web_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val injected = TextOps.urlInject(TextOps.htmlInject(docs(s, d)))
      // read twice (dedup leg + stage classification): one scan, cached —
      // host/canon_url ride along so the dedup leg reuses the blocklist
      // gate's canonicalization instead of running the regex chain twice
      val flags = graft.CacheScope.persist(
        TextOps.urlBlocklistFlags(injected, col("url"),
            BlockedHosts, BlockedPathPrefixes)
          .select(col("doc_id"), col("source"), col("url"), col("atext"),
            col("host"), col("canon_url"), col("block_reason")))
      val ded = TextOps.urlCapWindows(
          flags.filter(col("block_reason").isNull), maxPerHost = 4)
        .select(col("doc_id"), col("is_url_dup"), col("keep").as("url_keep"))
      val staged = flags.join(ded, Seq("doc_id"), "left")
      val surv = staged.filter(col("block_reason").isNull &&
        !col("is_url_dup") && col("url_keep"))
      // extracted text is read by BOTH content gates: one extraction, cached
      val ext = graft.CacheScope.persist(
        TextOps.extractHtml(surv.select(col("doc_id"), col("atext")),
            col("atext"))
          .select(col("doc_id"), col("clean_text").as("text")))
      val pol = TextOps.policyGate(ext)
        .select(col("doc_id"), col("keep").as("p_keep"))
      val gph = TextOps.gopherRules(
          ext.join(pol.filter(col("p_keep")).select("doc_id"), Seq("doc_id")))
        .select(col("doc_id"), col("n_words"), col("keep").as("g_keep"))
      staged.join(pol, Seq("doc_id"), "left")
        .join(gph, Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("block_reason").isNotNull, lit("url_blocked"))
            .when(col("is_url_dup"), lit("url_dup"))
            .when(!col("url_keep"), lit("host_capped"))
            .when(!col("p_keep"), lit("policy_blocked"))
            .when(!col("g_keep"), lit("gopher_failed"))
            .otherwise(lit("kept")))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_raw"),
          sum(when(col("stage") === "url_blocked", 1L).otherwise(0L))
            .as("n_url_blocked"),
          sum(when(col("stage") === "url_dup", 1L).otherwise(0L))
            .as("n_url_dup"),
          sum(when(col("stage") === "host_capped", 1L).otherwise(0L))
            .as("n_host_capped"),
          sum(when(col("stage") === "policy_blocked", 1L).otherwise(0L))
            .as("n_policy_blocked"),
          sum(when(col("stage") === "gopher_failed", 1L).otherwise(0L))
            .as("n_gopher_failed"),
          sum(when(col("stage") === "kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("stage") === "kept", col("n_words")).otherwise(0L))
            .as("tokens_kept"))
    }))

  /** Blocklist fixture, shared by the query registration and the
    * oracle interpolation (the htmlInject convention). */
  private val BlockedHosts = Seq("src3.example.com", "src7.example.com")
  private val BlockedPathPrefixes = Seq("/articles/item1")

  /** training_manifest composition constants — interpolated by BOTH the
    * Spark registration and the DuckDB oracle (the WpTopV / PolicyMaxHits
    * shared-constant convention) so an edit to either side cannot
    * silently desync. */
  private val ManifestMix = Seq("src0" -> 0.5, "src1" -> 0.1)
  private val ManifestValFrac = 0.1
  private val ManifestTestFrac = 0.05
  private val ManifestBudget = 256
  private val ManifestGroups = 8
  private val ManifestShards = 8L

  /** DuckDB replay of the URL fixture injection + canonicalization —
    * the u/p1/p2/c chain shared by the url_* oracles. Every literal
    * interpolates the SAME TextOps constants the Spark side reads, so
    * the two replays cannot desync. `c` exposes (doc_id, url, host,
    * canon_path, canon_url). */
  private def urlCanonCtes: String =
    s"""u AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END || '://' ||
       |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
       |         WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
       |    source || '${TextOps.UrlHostSuffix}' ||
       |    CASE WHEN doc_id % 4 = 0 THEN
       |           (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
       |         WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END ||
       |    '${TextOps.UrlPathPrefix}' || CAST(doc_id % 40 AS VARCHAR) ||
       |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || '?' ||
       |    CASE WHEN doc_id % 2 = 0 THEN 'utm_source=news&' ELSE '' END ||
       |    'page=' || CAST(doc_id % 3 AS VARCHAR) ||
       |    CASE WHEN doc_id % 7 = 3
       |      THEN '&gclid=g' || CAST(doc_id AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 1 THEN '&ref=home' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END AS url
       |  FROM documents),
       |p1 AS (SELECT doc_id, url,
       |    lower(regexp_extract(url, '${TextOps.UrlSchemePattern}', 1)) AS scheme,
       |    regexp_extract(url, '${TextOps.UrlHostPortPattern}', 1) AS hostport,
       |    regexp_replace(regexp_extract(url, '${TextOps.UrlPathPattern}', 1),
       |      '${TextOps.UrlTrailSlashPattern}', '') AS path0,
       |    regexp_extract(url, '${TextOps.UrlQueryPattern}', 1) AS q
       |  FROM u),
       |p2 AS (SELECT doc_id, url, scheme,
       |    regexp_replace(lower(regexp_extract(hostport,
       |      '${TextOps.UrlBareHostPattern}', 1)),
       |      '${TextOps.UrlWwwPattern}', '') AS host,
       |    regexp_extract(hostport, '${TextOps.UrlPortTailPattern}', 1) AS port,
       |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
       |    array_to_string(list_sort(list_filter(string_split(q, '&'),
       |      x -> len(x) > 0 AND NOT regexp_matches(x,
       |        '${TextOps.UrlTrackingPattern}'))), '&') AS kept
       |  FROM p1),
       |c AS MATERIALIZED (SELECT doc_id, url, host, path AS canon_path,
       |    scheme || '://' || host ||
       |    CASE WHEN port = '' OR port = (CASE WHEN scheme = 'https' THEN '443'
       |        WHEN scheme = 'http' THEN '80' ELSE '' END)
       |      THEN '' ELSE ':' || port END ||
       |    path || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon_url
       |  FROM p2)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the full dataloader-artifact composition: mixture gate + cluster
    // train split + group-partitioned pack cumsum + per-pack shard/rank
    "training_manifest" -> {
      val splitDraw = s"${hex60Sql("md5('split:' || CAST(comp_id AS VARCHAR))")} % 1000000"
      val mixDraw = s"${hex60Sql("md5('mix:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      val packDraw = s"${hex60Sql(
        "md5('manifest:' || CAST(grp AS VARCHAR) || '_' || CAST(pack_id AS VARCHAR))")} % 1000000"
      val mixCases = ManifestMix.map { case (src, p) =>
        s"WHEN '$src' THEN $mixDraw < ${TextOps.drawThreshold(p)}"
      }.mkString("\n    ")
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$componentsCtes,
         |alldocs AS (SELECT d.doc_id, COALESCE(c.comp_id, d.doc_id) AS comp_id
         |  FROM documents d LEFT JOIN comps c USING (doc_id)),
         |trn AS (SELECT doc_id FROM alldocs
         |  WHERE $splitDraw >= ${
        TextOps.drawThreshold(ManifestValFrac + ManifestTestFrac)}),
         |mixr AS (SELECT doc_id FROM documents WHERE CASE source
         |    $mixCases
         |    ELSE TRUE END),
         |cnt AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |kept AS (SELECT doc_id, n_tokens FROM mixr
         |  JOIN trn USING (doc_id) JOIN cnt USING (doc_id)),
         |pk AS (SELECT doc_id, n_tokens, doc_id % $ManifestGroups AS grp,
         |    COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY doc_id % $ManifestGroups ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
         |  FROM kept),
         |pp AS (SELECT grp, CAST(cum0 // $ManifestBudget AS BIGINT) AS pack_id,
         |    n_tokens,
         |    ((cum0 + n_tokens - 1) // $ManifestBudget > cum0 // $ManifestBudget)
         |      AS straddles FROM pk),
         |ag AS (SELECT grp, pack_id, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_straddles
         |  FROM pp GROUP BY grp, pack_id),
         |sh AS (SELECT *, $packDraw AS draw FROM ag)
         |SELECT grp, pack_id, n_docs, n_tokens, n_straddles,
         |  draw % $ManifestShards AS shard,
         |  CAST(row_number() OVER (PARTITION BY draw % $ManifestShards
         |    ORDER BY draw, grp, pack_id) AS BIGINT) AS pos
         |FROM sh""".stripMargin
    },

    "split_leakproof" -> {
      val draw = s"${hex60Sql("md5('split:' || CAST(comp_id AS VARCHAR))")} % 1000000"
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$componentsCtes,
         |alldocs AS (SELECT d.doc_id, COALESCE(c.comp_id, d.doc_id) AS comp_id
         |  FROM documents d LEFT JOIN comps c USING (doc_id))
         |SELECT doc_id, comp_id,
         |  CASE WHEN $draw < ${TextOps.drawThreshold(0.1)} THEN 'val'
         |       WHEN $draw < ${TextOps.drawThreshold(0.15)} THEN 'test'
         |       ELSE 'train' END AS split
         |FROM alldocs""".stripMargin
    },

    "dedup_canonical" ->
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$componentsCtes,
         |$qualityCte,
         |j AS (SELECT c.doc_id, c.comp_id, qq.quality
         |      FROM comps c JOIN qq ON qq.doc_id = c.doc_id),
         |k AS (SELECT doc_id, comp_id, quality,
         |    FIRST_VALUE(doc_id) OVER (
         |      PARTITION BY comp_id ORDER BY quality DESC, doc_id) AS canonical_id
         |  FROM j)
         |SELECT doc_id, comp_id, quality, canonical_id,
         |  doc_id = canonical_id AS is_canonical
         |FROM k""".stripMargin,

    // cluster sizes over the shared component closure; the unclustered
    // majority left-joins to dup_count 1 / weight 1.0
    "dedup_soft_weights" ->
      s"""${lshCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$componentsCtes,
         |sz AS (SELECT comp_id, COUNT(*) AS dup_count FROM comps GROUP BY comp_id),
         |jw AS (SELECT c.doc_id, c.comp_id, s.dup_count
         |       FROM comps c JOIN sz s USING (comp_id))
         |SELECT d.doc_id, COALESCE(jw.comp_id, d.doc_id) AS comp_id,
         |  COALESCE(jw.dup_count, 1) AS dup_count,
         |  ROUND(CAST(1 AS DOUBLE) / COALESCE(jw.dup_count, 1) + 1e-9, 6)
         |    AS soft_weight
         |FROM documents d LEFT JOIN jw USING (doc_id)""".stripMargin,

    "text_containment" ->
      s"""$lshCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh) AS ca,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh) AS cb
         |  FROM cands
         |  JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) > 0)
         |SELECT doc_a, doc_b,
         |  ROUND(ca + 1e-9, 4) AS cont_a_in_b,
         |  ROUND(cb + 1e-9, 4) AS cont_b_in_a
         |FROM scored
         |WHERE greatest(ca, cb) >= 0.6""".stripMargin,

    "vocab_coverage_curve" ->
      s"""WITH wc AS (
         |  SELECT w, COUNT(*) AS freq FROM (
         |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |r AS (SELECT w, freq,
         |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS BIGINT) AS k,
         |    CAST(SUM(freq) OVER (ORDER BY freq DESC, w
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM wc),
         |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS tot FROM wc)
         |SELECT k, cum_tokens, CAST(cum_tokens AS DOUBLE) / tot AS coverage
         |FROM r, t
         |WHERE k IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096)""".stripMargin,

    "mixture_temperature" ->
      s"""WITH per AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |sc AS (SELECT source, n_docs, n_tokens,
         |    ROUND(sqrt(CAST(n_tokens AS DOUBLE)) + 1e-9, 6) AS s FROM per),
         |t AS (SELECT ${Sql.decSumSql("s")} AS tot FROM sc)
         |SELECT source, n_docs, n_tokens,
         |  ROUND(s / tot + 1e-9, 6) AS weight,
         |  CAST(FLOOR(s / tot * 1000000) AS BIGINT) AS budget_tokens
         |FROM sc, t""".stripMargin,

    "lsh_planner" -> {
      val draw = s"${hex60Sql("md5('plan:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      val grid = DedupOps.lshPlanConfigs
        .map { case (b, r, bin, p) => s"($b, $r, $bin, ${dlit(p)})" }
        .mkString(", ")
      s"""WITH sd AS (SELECT doc_id, text FROM documents
         |  WHERE $draw < ${TextOps.drawThreshold(0.5)}),
         |sets AS (SELECT doc_id, $shinglesSql AS sh FROM sd),
         |inv0 AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets),
         |hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 100),
         |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
         |         MIN(a.n) AS na, MIN(b.n) AS nb
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |hist AS (
         |  SELECT LEAST((10 * inter) // (na + nb - inter), 9) AS bin,
         |         COUNT(*) AS n_pairs
         |  FROM pairs GROUP BY 1),
         |cfg AS (SELECT * FROM (VALUES $grid) t(bands, rows_, bin, p))
         |SELECT bands, rows_,
         |  ${Sql.decSumSql("ROUND(n_pairs * p + 1e-9, 6)")} AS exp_candidates,
         |  ${Sql.decSumSql("ROUND(CASE WHEN hist.bin < 5 THEN n_pairs * p ELSE 0.0 END + 1e-9, 6)")} AS exp_fp,
         |  ${Sql.decSumSql("ROUND(CASE WHEN hist.bin >= 5 THEN n_pairs * (1.0 - p) ELSE 0.0 END + 1e-9, 6)")} AS exp_fn,
         |  ROUND(CASE WHEN SUM(CASE WHEN hist.bin >= 5 THEN n_pairs ELSE 0 END) > 0
         |    THEN 1.0 - ${Sql.decSumSql("ROUND(CASE WHEN hist.bin >= 5 THEN n_pairs * (1.0 - p) ELSE 0.0 END + 1e-9, 6)")}
         |      / SUM(CASE WHEN hist.bin >= 5 THEN n_pairs ELSE 0 END)
         |    ELSE 1.0 END + 1e-9, 6) AS est_recall
         |FROM hist JOIN cfg ON hist.bin = cfg.bin
         |GROUP BY bands, rows_""".stripMargin
    },

    // fixture injection and every canonicalization regex interpolate the
    // SAME TextOps constants the Spark side uses, so the two replays
    // cannot desync (the htmlInject convention)
    "url_canonical_dedup" -> {
      val draw = s"${hex60Sql("md5('urlcap:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""WITH $urlCanonCtes,
         |r AS (SELECT doc_id, url, host, canon_url,
         |    row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) > 1
         |      AS is_url_dup,
         |    $draw AS draw
         |  FROM c),
         |h AS (SELECT doc_id, url, host, canon_url, is_url_dup,
         |    CAST(row_number() OVER (PARTITION BY host
         |      ORDER BY is_url_dup, draw, doc_id) AS BIGINT) AS rh
         |  FROM r)
         |SELECT doc_id, url, host, canon_url, is_url_dup,
         |  CASE WHEN is_url_dup THEN CAST(0 AS BIGINT) ELSE rh END AS host_rank,
         |  NOT is_url_dup AND rh <= 4 AS keep
         |FROM h""".stripMargin
    },

    // the funnel flagship: urlCanonCtes + the blocklist rules + the
    // dedup/cap windows (the url_canonical_dedup spelling over the
    // non-blocked subset) + the shared HTML-extraction and
    // Gopher-verdict CTE builders, classified to the FIRST failing gate
    // the incremental-refresh composition, CTE-for-CTE from the shared
    // builders: snapshot diff (corpus_snapshot_diff's spelling, text
    // carried), policy/gopher verdict chains over the delta only, the
    // lshCteFor band chain over unchanged ∪ survivors (id spaces
    // disjoint by construction), and the kmeansCtes assignment with the
    // Lloyd fit restricted to the old snapshot (ann_index_append's
    // fitPred recipe on the shared doc_id = vec_id id space)
    "incremental_refresh" ->
      s"""WITH $refreshFatesCtes
         |SELECT * FROM fates""".stripMargin,

    // the incremental ExactSubstr probe replayed: old-corpus distinct
    // gram index keyed on the 60-bit md5 of the gram (the SAME hex60
    // recipe the Spark shuffle keys and persisted artifact use),
    // delta-doc occurrences, positional coverage (no canonical
    // exception — the corpus holds the canonical copy), ordered
    // uncovered-token reconstruction
    "dedup_exact_substring_incr" -> {
      val k = 8
      val gh = hex60Sql(
        s"md5(array_to_string(list_slice(ts, i + 1, i + $k), ' '))")
      val snapOld =
        s"${hex60Sql("md5('snapold:' || CAST(doc_id AS VARCHAR))")} % 1000000 < 900000"
      val snapNew =
        s"${hex60Sql("md5('snapnew:' || CAST(doc_id AS VARCHAR))")} % 1000000 < 950000"
      val snapEdit =
        s"${hex60Sql("md5('snapedit:' || CAST(doc_id AS VARCHAR))")} % 1000000 < 100000"
      s"""WITH oldd AS (SELECT doc_id, text FROM documents WHERE $snapOld),
         |newd AS (SELECT doc_id,
         |    CASE WHEN $snapEdit THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE $snapNew),
         |batch AS (SELECT n.doc_id, n.text FROM newd n
         |  LEFT JOIN oldd o ON n.doc_id = o.doc_id
         |  WHERE o.doc_id IS NULL OR o.text <> n.text),
         |oto AS (SELECT doc_id, string_split(text, ' ') AS ts FROM oldd),
         |gi AS (SELECT DISTINCT u AS gk FROM (SELECT
         |    unnest(list_transform(range(0, GREATEST(len(ts) - $k + 1, 0)),
         |      i -> $gh)) AS u
         |  FROM oto)),
         |btk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM batch),
         |gb AS (SELECT doc_id, u.pos AS pos, u.gk AS gk
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(range(0, GREATEST(len(ts) - $k + 1, 0)),
         |        i -> {'pos': i, 'gk': $gh}))
         |        AS u
         |    FROM btk)),
         |cov AS (SELECT DISTINCT gb.doc_id, UNNEST(range(gb.pos, gb.pos + $k)) AS p
         |  FROM gb JOIN gi ON gb.gk = gi.gk),
         |tl AS (SELECT doc_id, u.p AS p, u.tok AS tok
         |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(ts)),
         |    i -> {'p': i, 'tok': ts[i + 1]})) AS u FROM btk))
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

    // the graph-compaction contract AS the oracle: compact(old graph,
    // fates) == a fresh same-cell kNN build over the live corpus at the
    // live assignment — so the replay derives the fates (the shared
    // chain), the live id set, restricts the frozen-fit kcells to it,
    // and builds the graph fresh; the Spark side runs the incremental
    // fold (affected cells only)
    "refresh_compact_graph" ->
      s"""WITH $refreshFatesCtes,
         |live AS (SELECT doc_id FROM oldd
         |    WHERE doc_id NOT IN (SELECT doc_id FROM fates)
         |  UNION ALL
         |  SELECT doc_id FROM fates WHERE action = 'indexed'),
         |lcell AS (SELECT k.vec_id, k.qv, k.cid
         |  FROM kcells k JOIN live ON k.vec_id = live.doc_id),
         |${VectorQueries.knnCtesAs("cg", cells = "lcell")}
         |SELECT src, dst FROM cg""".stripMargin,

    // the gram-index compaction contract AS the oracle (the
    // refresh_compact_graph convention): while the Spark side folds the
    // fates into the OLD snapshot's persisted gram index
    // (compactGramIndex — anti-join eviction + indexed-doc re-derive),
    // the replay derives the live corpus (unchanged docs at their old
    // text ∪ indexed fates at their NEW text) and builds the
    // distinct-(doc, gk) index FRESH with the same hex60 gram keys —
    // hash equality IS the compact == fresh pin, engine-independently
    "refresh_compact_grams" -> {
      val k = 8
      val gh = hex60Sql(
        s"md5(array_to_string(list_slice(ts, i + 1, i + $k), ' '))")
      s"""WITH $refreshFatesCtes,
         |livedocs AS (SELECT o.doc_id, o.text FROM oldd o
         |    WHERE o.doc_id NOT IN (SELECT doc_id FROM fates)
         |  UNION ALL
         |  SELECT n.doc_id, n.text FROM newd n
         |    JOIN fates f ON n.doc_id = f.doc_id AND f.action = 'indexed'),
         |t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM livedocs)
         |SELECT DISTINCT doc_id, u AS gk
         |FROM (SELECT doc_id,
         |    unnest(list_transform(range(0, GREATEST(len(ts) - $k + 1, 0)),
         |      i -> $gh)) AS u
         |  FROM t)""".stripMargin
    }) ++ oraclesTail

  /** The full incremental-refresh replay chain, ending in
    * `fates(doc_id, source, status, p_keep, g_keep, n_dup_hits, dup_of,
    * cid, action)` — shared by the refresh oracle and the
    * graph-compaction oracle (which also reads the chain's `oldd` and
    * `kcells`). Must be opened with `WITH `. */
  private def refreshFatesCtes: String = {
      val snapOld =
        s"${hex60Sql("md5('snapold:' || CAST(doc_id AS VARCHAR))")} % 1000000 < 900000"
      val snapNew =
        s"${hex60Sql("md5('snapnew:' || CAST(doc_id AS VARCHAR))")} % 1000000 < 950000"
      val snapEdit =
        s"${hex60Sql("md5('snapedit:' || CAST(doc_id AS VARCHAR))")} % 1000000 < 100000"
      val fitPred =
        s"${hex60Sql("md5('snapold:' || CAST(vec_id AS VARCHAR))")} % 1000000 < 900000"
      s"""oldd AS (SELECT doc_id, source, text FROM documents WHERE $snapOld),
         |newd AS (SELECT doc_id, source,
         |    CASE WHEN $snapEdit THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE $snapNew),
         |dd AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |    COALESCE(n.source, o.source) AS source,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.text = n.text THEN 'unchanged'
         |         ELSE 'changed' END AS status,
         |    n.text AS text
         |  FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id),
         |delta AS (SELECT doc_id, text FROM dd
         |  WHERE status IN ('added', 'changed')),
         |${policyVerdictSql("delta")},
         |pk AS (SELECT doc_id, (r_hit_count AND r_density) AS p_keep FROM pv),
         |px AS (SELECT delta.doc_id, delta.text FROM delta
         |  JOIN pk ON delta.doc_id = pk.doc_id WHERE pk.p_keep),
         |${gopherVerdictSql("px")},
         |gk AS (SELECT doc_id, (r_word_count AND r_mean_word_len
         |    AND r_distinct_ratio AND r_stop_words) AS g_keep FROM gr),
         |sv AS (SELECT delta.doc_id, delta.text FROM delta
         |  JOIN pk ON delta.doc_id = pk.doc_id
         |  JOIN gk ON delta.doc_id = gk.doc_id
         |  WHERE pk.p_keep AND gk.g_keep),
         |unch AS (SELECT doc_id, text FROM dd WHERE status = 'unchanged'),
         |allrel AS (SELECT doc_id, text FROM unch
         |  UNION ALL SELECT doc_id, text FROM sv),
         |${lshCteFor("allrel").replaceFirst("^WITH ", "")},
         |pcands AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bands a JOIN bands b ON a.bkey = b.bkey
         |  WHERE a.doc_id IN (SELECT doc_id FROM sv)
         |    AND b.doc_id IN (SELECT doc_id FROM unch)),
         |pscored AS (SELECT new_id, old_id,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         |  FROM pcands
         |  JOIN sets sa ON sa.doc_id = new_id
         |  JOIN sets sb ON sb.doc_id = old_id),
         |dups AS (SELECT new_id AS doc_id, COUNT(*) AS hits_raw,
         |    MIN(old_id) AS dup_of
         |  FROM pscored WHERE jaccard >= 0.5 GROUP BY new_id),
         |q AS (SELECT vec_id, ${VectorQueries.qvSql} AS qv FROM embeddings),
         |${VectorQueries.kmeansCtes(4, fitPred)},
         |fresh AS (SELECT doc_id FROM sv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
         |asg AS (SELECT kcells.vec_id AS doc_id, CAST(kcells.cid AS BIGINT) AS cid
         |  FROM kcells JOIN fresh ON kcells.vec_id = fresh.doc_id),
         |fates AS (SELECT d.doc_id, d.source, d.status, pk.p_keep, gk.g_keep,
         |  CASE WHEN d.status = 'removed' THEN NULL
         |       WHEN NOT pk.p_keep THEN NULL
         |       WHEN NOT gk.g_keep THEN NULL
         |       ELSE COALESCE(dups.hits_raw, 0) END AS n_dup_hits,
         |  dups.dup_of, asg.cid,
         |  CASE WHEN d.status = 'removed' THEN 'evicted'
         |       WHEN NOT pk.p_keep THEN 'gated'
         |       WHEN NOT gk.g_keep THEN 'gated'
         |       WHEN dups.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'indexed' END AS action
         |FROM dd d
         |LEFT JOIN pk ON d.doc_id = pk.doc_id
         |LEFT JOIN gk ON d.doc_id = gk.doc_id
         |LEFT JOIN dups ON d.doc_id = dups.doc_id
         |LEFT JOIN asg ON d.doc_id = asg.doc_id
         |WHERE d.status <> 'unchanged')""".stripMargin
  }

  private def oraclesTail: Map[String, String] = Map(
    "web_pipeline" -> {
      val hostIn = BlockedHosts.map(h => s"'$h'").mkString(", ")
      val pathHit = BlockedPathPrefixes
        .map(p => s"canon_path LIKE '$p%'").mkString(" OR ")
      val draw = s"${hex60Sql("md5('urlcap:' || CAST(doc_id AS VARCHAR))")} % 1000000"
      s"""WITH $urlCanonCtes,
         |fb AS (SELECT doc_id, host, canon_path, canon_url,
         |    CASE WHEN host IN ($hostIn) THEN 'host'
         |         WHEN $pathHit THEN 'path' ELSE NULL END AS block_reason
         |  FROM c),
         |nb AS (SELECT doc_id, host, canon_url FROM fb
         |  WHERE block_reason IS NULL),
         |rr AS (SELECT doc_id, host,
         |    row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) > 1
         |      AS is_url_dup,
         |    $draw AS draw
         |  FROM nb),
         |hh AS (SELECT doc_id, is_url_dup,
         |    CASE WHEN is_url_dup THEN 0
         |         ELSE row_number() OVER (PARTITION BY host
         |                ORDER BY is_url_dup, draw, doc_id) END AS host_rank
         |  FROM rr),
         |sv AS (SELECT doc_id FROM hh WHERE NOT is_url_dup AND host_rank <= 4),
         |gx AS MATERIALIZED (SELECT t.doc_id,
         |    ${TextQueries.extractCleanSql("atext")} AS text
         |  FROM (${TextQueries.htmlInjectSql}) t JOIN sv ON t.doc_id = sv.doc_id),
         |${TextQueries.policyVerdictSql("gx")},
         |pk AS (SELECT doc_id, (r_hit_count AND r_density) AS p_keep FROM pv),
         |px AS (SELECT gx.* FROM gx JOIN pk ON gx.doc_id = pk.doc_id
         |  WHERE pk.p_keep),
         |${TextQueries.gopherVerdictSql("px")},
         |gk AS (SELECT doc_id, n_words,
         |    (r_word_count AND r_mean_word_len AND r_distinct_ratio
         |      AND r_stop_words) AS g_keep
         |  FROM gr),
         |st AS (SELECT d.doc_id, d.source,
         |    CASE WHEN fb.block_reason IS NOT NULL THEN 'url_blocked'
         |         WHEN hh.is_url_dup THEN 'url_dup'
         |         WHEN hh.host_rank > 4 THEN 'host_capped'
         |         WHEN NOT pk.p_keep THEN 'policy_blocked'
         |         WHEN NOT gk.g_keep THEN 'gopher_failed'
         |         ELSE 'kept' END AS stage,
         |    gk.n_words
         |  FROM documents d
         |  JOIN fb ON d.doc_id = fb.doc_id
         |  LEFT JOIN hh ON d.doc_id = hh.doc_id
         |  LEFT JOIN pk ON d.doc_id = pk.doc_id
         |  LEFT JOIN gk ON d.doc_id = gk.doc_id)
         |SELECT source, COUNT(*) AS n_raw,
         |  CAST(SUM(CASE WHEN stage = 'url_blocked' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_url_blocked,
         |  CAST(SUM(CASE WHEN stage = 'url_dup' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_url_dup,
         |  CAST(SUM(CASE WHEN stage = 'host_capped' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_host_capped,
         |  CAST(SUM(CASE WHEN stage = 'policy_blocked' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_policy_blocked,
         |  CAST(SUM(CASE WHEN stage = 'gopher_failed' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gopher_failed,
         |  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN stage = 'kept' THEN n_words ELSE 0 END) AS BIGINT)
         |    AS tokens_kept
         |FROM st GROUP BY source""".stripMargin
    },

    // same canonicalization CTEs; rules interpolate the shared fixture
    "url_blocklist_gate" -> {
      val hostIn = BlockedHosts.map(h => s"'$h'").mkString(", ")
      val pathHit = BlockedPathPrefixes
        .map(p => s"canon_path LIKE '$p%'").mkString(" OR ")
      s"""WITH $urlCanonCtes
         |SELECT doc_id, host, canon_path,
         |  CASE WHEN host IN ($hostIn) THEN 'host'
         |       WHEN $pathHit THEN 'path'
         |       ELSE NULL END AS block_reason,
         |  (CASE WHEN host IN ($hostIn) THEN 'host'
         |        WHEN $pathHit THEN 'path'
         |        ELSE NULL END) IS NULL AS keep
         |FROM c""".stripMargin
    },

    // the refLm fit/score CTEs are the quality_ref_ppl spelling with
    // `source` carried through; the 10 multiplicative-weights rounds are
    // unrolled as integer CTE stages (all operands positive, so floor
    // and truncating division agree with the Spark driver's Long math)
    "mixture_domain_reweight" -> {
      val roundCtes = (1 to 10).map { r =>
        val p = r - 1
        s"""a$p AS (SELECT CAST(SUM(w * loss_micro) // SUM(w) AS BIGINT) AS ab FROM w$p),
           |w$r AS MATERIALIZED (SELECT source, n_docs, loss_micro,
           |  CAST((w * (4000000 + loss_micro - ab)) // 4000000 AS BIGINT) AS w
           |  FROM w$p, a$p)""".stripMargin
      }.mkString(",\n")
      s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
         |tr AS MATERIALIZED (SELECT doc_id, source, ts[i] AS a, ts[i + 1] AS b
         |  FROM (SELECT doc_id, source, ts,
         |        UNNEST(range(1, greatest(len(ts) - 1, 0) + 1)) AS i FROM s)),
         |trn AS (SELECT * FROM tr WHERE source IN ('src0', 'src1')),
         |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM trn GROUP BY a, b),
         |p AS (SELECT tr.doc_id, tr.source,
         |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tr LEFT JOIN c2 ON tr.a = c2.a AND tr.b = c2.b),
         |ls AS MATERIALIZED (SELECT source,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST((CAST(SUM(oov) AS HUGEINT) * 1000000)
         |      // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS loss_micro
         |  FROM p GROUP BY source),
         |w0 AS MATERIALIZED (SELECT source, n_docs, loss_micro,
         |  CAST(1000000000 AS BIGINT) AS w FROM ls),
         |$roundCtes,
         |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w10)
         |SELECT source, n_docs, loss_micro, w AS w_final,
         |  ROUND(CAST(w AS DOUBLE) / tw + 1e-9, 6) AS weight,
         |  CAST((w * 1000000) // tw AS BIGINT) AS budget_tokens
         |FROM w10, tw""".stripMargin
    })
}
