package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** The curation surface as Structured Streaming: the live twins of the
  * batch pipeline operators (dedup state, ANN ingest and serve, frozen
  * BPE billing, sketches, monitors, the composed curation jobs and the
  * incremental refresh). Each stream is source-agnostic and is pinned
  * equal to its batch operator by a spec. The paper's own managed jobs
  * are [[graft.streaming.StreamingJobs]].
  */
object CurationStreams {

  /** The stateless exactly-once sink: each micro-batch's `f(batch)`
    * lands in its own `dir/batch_<id>` parquet dir, which a replayed
    * batch overwrites. */
  private def batchDirs(in: DataFrame, dir: String)(f: DataFrame => DataFrame): DataStreamWriter[Row] =
    in.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, id: Long) =>
        f(batch).write.mode("overwrite").parquet(s"$dir/batch_$id")
        ()
    }

  /** One streaming near-dup candidate: `doc_id` collided with the band
    * representative `first_doc` on band key `bkey`. */
  final case class NearDupCandidate(bkey: String, doc_id: Long, first_doc: Long)

  /** STREAMING near-duplicate candidate detection — the online twin of
    * [[DedupOps.minhashPairs]]'s banding stage: each
    * document's MinHash band keys are computed statelessly per row (the
    * same md5/affine arithmetic as the batch DSL, so stream and batch
    * can never disagree on a key), and a `flatMapGroupsWithState` keyed
    * by band key emits a candidate the moment a document lands in a
    * band that already has a representative. State is ONE long per
    * distinct band key (the first-seen doc id); `stateTtl` ages out
    * cold bands (processing-time timeout, default 1 h) so TOTAL state
    * stays bounded by the band keys touched inside one TTL window on
    * an unbounded stream — pass `None` for the unbounded-retention
    * batch-parity mode.
    * Exact-Jaccard verification of the emitted candidates stays an
    * offline batch pass (it needs both documents' shingle sets), the
    * standard split for streaming dedup.
    *
    * Within a batch the group's documents are processed in doc_id order,
    * so the representative and the emitted set are deterministic under
    * shuffle; a document matching several bands of the same earlier doc
    * emits one candidate per band (downstream verification dedups
    * pairs). Input: (doc_id, text). */
  def nearDupCandidates(docs: DataFrame,
      stateTtl: Option[java.time.Duration] = Some(java.time.Duration.ofHours(1)))
      : Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    // the signature runs through the native MinhashSig kernel (values
    // pinned identical to the DSL chain by DedupEquivalenceSpec, so
    // stream and batch still can't disagree on a key)
    val bands = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(DedupOps.bandKeys(org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.MinhashSig(org.apache.spark.sql.GraftColumnBridge.expression(
            DedupOps.shingleHashes(DedupOps.shingles(split(col("text"), " ")))))))).as("bkey"))
      .as[(Long, String)]
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    bands.groupByKey(_._2).flatMapGroupsWithState(OutputMode.Append, timeout) {
      (key: String, it: Iterator[(Long, String)], state: GroupState[Long]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          var rep = state.getOption.getOrElse(Long.MaxValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupCandidate]
          it.map(_._1).toSeq.sorted.foreach { id =>
            if (rep == Long.MaxValue) rep = id
            else if (id != rep) out += NearDupCandidate(key, id, rep)
          }
          state.update(rep)
          stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
          out.iterator
        }
    }
  }

  /** One streaming soft-dedup weight update: `doc_id` just joined rep
    * `rep_id`'s cluster, which now holds `dup_count` members (rep
    * included). The training weight for EVERY member of that cluster
    * is 1/dup_count as of this update — the count is emitted instead
    * of the division so the append-only log stays integer-exact and a
    * consumer reads MAX(dup_count) per rep for the settled weight. */
  final case class SoftWeightUpdate(doc_id: Long, rep_id: Long, dup_count: Long)

  /** STREAMING SOFT-DEDUP WEIGHTS — the online twin of
    * [[DedupOps.softDedupWeights]]: as documents arrive,
    * each near-dup joins its first-seen representative's cluster and
    * the cluster's member count ticks up, so a downstream trainer can
    * weight every member at 1/dup_count without ever dropping a
    * document. THREE keyed-state stores chain under one checkpoint:
    * [[nearDupCandidates]]'s band representatives, then one long per
    * CLUSTERED doc (its assigned rep — first assignment wins, min rep
    * inside a batch, so multi-band collisions dedupe and the output is
    * deterministic under shuffle), then one long per rep (the member
    * count). Per-batch work is O(arrivals); total state is bands +
    * clustered docs + reps, the same bound the batch operator's
    * inverted index carries. The stream is the STAR approximation of
    * the batch transitive closure (a member joins the rep it banded
    * with first); on star-shaped corpora — every member bands with the
    * cluster's first document, the planted-duplicate shape — the
    * settled counts equal batch `softDedupWeights` exactly
    * (StreamingSpec pins this); chain-shaped drift families can split
    * across reps, the standard online-dedup trade. Unclustered docs
    * emit nothing: their weight is 1 by default, exactly as the batch
    * operator's left join fills. */
  def softWeightStream(docs: DataFrame): Dataset[SoftWeightUpdate] = {
    import docs.sparkSession.implicits._
    val cands = nearDupCandidates(docs, stateTtl = None)
    // store 2 (keyed by doc): first rep assignment wins; one emission
    // per doc ever
    val assigned = cands.groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (doc: Long, it: Iterator[NearDupCandidate], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val rep = it.map(_.first_doc).min
            state.update(rep)
            Iterator.single((doc, rep))
          }
      }
    // store 3 (keyed by rep): member count — the rep itself is member
    // #1, so the first joiner lands at dup_count 2
    assigned.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (rep: Long, it: Iterator[(Long, Long)], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(1L)
          val out = scala.collection.mutable.ArrayBuffer.empty[SoftWeightUpdate]
          it.map(_._1).toSeq.sorted.foreach { d =>
            n += 1
            out += SoftWeightUpdate(d, rep, n)
          }
          state.update(n)
          out.iterator
      }
  }

  /** One funnel-step completion: the user, the 1-based step, its name,
    * the completing event's epoch-second ts, and the gap since the
    * previous step (0 for step 1). */
  final case class FunnelHit(user_id: Long, step: Long, step_name: String,
                             ts: Long, gap: Long)

  /** STREAMING ORDERED FUNNEL — the live twin of
    * [[EventOps.funnelStages]]: per user, keyed state
    * tracks (next expected step, previous completion ts) — O(1) per
    * user, never the event history — and a row is emitted THE MOMENT a
    * step completes (an event of the expected type at-or-after the
    * previous completion), carrying the conversion gap
    * [[EventOps.funnelTiming]] aggregates offline. A
    * windowed aggregation cannot express this in append mode (the
    * completion predicate chains across arbitrary time spans); the
    * state is two scalars, so an unbounded stream holds exactly
    * |users| × O(1).
    *
    * Within a batch events are processed in (ts, step-index) order, so
    * equal-ts step chains complete deterministically under shuffle and,
    * when arrival order respects per-user event-time order (the kafka
    * key = user_id deployment), the hit set equals the batch
    * funnelStages chain exactly — the same first-arrival contract as
    * [[nearDupCandidates]]; an out-of-order earlier event cannot
    * retroactively improve an already-claimed completion (append-only
    * emission, documented deviation). Input: (user_id, ts, event_type). */
  def funnelStream(events: Dataset[(Long, Long, String)],
                   steps: Seq[String]): Dataset[FunnelHit] = {
    require(steps.nonEmpty && steps.size == steps.distinct.size, "distinct steps")
    import events.sparkSession.implicits._
    val idx = steps.zipWithIndex.toMap
    events.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (user: Long, it: Iterator[(Long, Long, String)], state: GroupState[(Int, Long)]) =>
        var (k, last) = state.getOption.getOrElse((0, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
        it.toSeq.filter(e => idx.contains(e._3))
          .sortBy(e => (e._2, idx(e._3))).foreach { case (_, ts, et) =>
            if (k < steps.length && et == steps(k) && (k == 0 || ts >= last)) {
              out += FunnelHit(user, k + 1L, et, ts, if (k == 0) 0L else ts - last)
              last = ts
              k += 1
            }
          }
        state.update((k, last))
        out.iterator
    }
  }

  /** One fired alarm: the key, its count at the crossing, and the
    * epoch-second event time of the event that crossed the threshold. */
  final case class Alarm(key: Long, n: Long, ts: Long)

  /** Stateful threshold alarm via `flatMapGroupsWithState` — the custom
    * keyed-state surface (SURVEY §2.7): emit EXACTLY ONE row per key, at
    * the moment its cumulative event count crosses `threshold`. A
    * windowed aggregation cannot express this in append mode (it either
    * re-emits the running count every trigger or waits for a watermark
    * to close a window); here the state is two scalars per key — running
    * count + fired flag — and emission happens mid-stream the instant
    * the crossing event is processed. State per key is O(1) and keys
    * whose alarm has fired keep a tombstone flag only.
    *
    * Within a batch, events are processed in event-time order so the
    * reported crossing ts is deterministic under shuffle (ties broken by
    * the smaller makes-no-difference rule: equal-ts events reach the
    * same cumulative count regardless of order).
    */
  def thresholdAlarms(events: Dataset[(Long, Long)],
                      threshold: Long): Dataset[Alarm] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: Long, it: Iterator[(Long, Long)], state: GroupState[(Long, Boolean)]) =>
        val (n0, fired0) = state.getOption.getOrElse((0L, false))
        var n = n0
        var fired = fired0
        val out = scala.collection.mutable.ArrayBuffer.empty[Alarm]
        it.toSeq.sortBy(_._2).foreach { case (_, ts) =>
          n += 1
          if (!fired && n >= threshold) { fired = true; out += Alarm(key, n, ts) }
        }
        state.update((n, fired))
        out.iterator
    }
  }

  /** STREAMING HyperLogLog: the per-(source, register) running MAX as a
    * plain update-mode streaming aggregation — no custom state code at
    * all, because HLL's register update IS max-merge (idempotent over
    * re-observed tokens, so the batch path's token distinct is simply
    * dropped). Store state is exactly the sketch: ≤ 2^p rows per source,
    * constant forever on an unbounded stream — the register frame any
    * tick can read off and feed to [[SketchOps]]'s
    * estimator, and the streaming twin of the SketchSpec shard-merge
    * property. */
  def hllRegisterStream(docs: DataFrame, p: Int = 8): DataFrame =
    SketchOps.hllRegisters(docs, p, dedupTokens = false)

  /** STREAMING count-min sketch: the batch counter plan
    * ([[TextOps.cmsCounters]]) run verbatim as an
    * update-mode streaming aggregation — counter updates are SUMS, so
    * no custom state code exists to drift from the batch form. Store
    * state is exactly the sketch: d·w counter rows, constant forever on
    * an unbounded stream; any tick can read the counters off and probe
    * them with the batch estimator. Mergeability (sums) is what makes
    * the same frame the day/shard rollup at rest and the live sketch in
    * motion. */
  def cmsCounterStream(docs: DataFrame, d: Int = 4, w: Int = 256): DataFrame =
    TextOps.cmsCounters(docs, d, w)

  /** STREAMING ANN INGEST — the live form of
    * [[VectorOps.ivfKmeansAppend]]: each arriving
    * micro-batch of (vec_id, embedding) vectors is assigned MAP-SIDE to
    * the frozen centroid matrix (the plan-embedded
    * [[graft.functions.KmeansRank]] literal — no refit, no shuffle) and
    * written to the index's cells store as its own parquet batch
    * directory. A replayed batch OVERWRITES its own directory, so the
    * job is exactly-once under restart (the repo's foreachBatch
    * idempotency convention); the serving path reads base cells ∪ batch
    * directories. State is zero — assignment is stateless per row — so
    * the stream scales with batch size alone at any corpus size. */
  def annIngest(vecs: DataFrame, cents: Array[Array[Long]], cellsDir: String): DataStreamWriter[Row] =
    batchDirs(vecs, cellsDir)(b =>
      VectorOps.kmeansRanked(b, cents, maxRank = 1).select(col("vec_id"), col("cid")))

  /** STREAMING GRAPH-INDEX APPEND — the live twin of
    * [[VectorOps.graphBeamAppend]] (the [[annIngest]]
    * convention, extended with the edge build): each arriving
    * micro-batch of (vec_id, embedding) vectors is assigned to the
    * FROZEN persisted centroids (no refit), and each new node's
    * `graphK` kNN edges are computed against its cell's FULL membership
    * as of this trigger — base cells ∪ every prior streamed batch ∪
    * this batch — then both land as the batch's own parquet dirs
    * (overwrite ⇒ exactly-once under replay). Base adjacency stays as
    * built; back-links materialize at SERVE time
    * ([[VectorOps.graphBeamServeStreamed]] reverses the
    * streamed edges), so the append path never rewrites an existing
    * artifact. Per-batch work is O(|batch| · cell) like the batch
    * append; the job is STATELESS (no keyed state store — the index
    * state lives in the artifact dirs), so state never grows with
    * stream length. `corpus` is the static vector side edges score
    * against (the [[annServeStream]] contract).
    *
    * Two artifact-hygiene rules bound the dir scan over an unbounded
    * stream:
    *  - BATCH-0 RESET: a stream starting at batch 0 (fresh checkpoint)
    *    clears both `*_stream` dirs first, so orphaned batch dirs from
    *    a prior run whose checkpoint was deleted can never silently
    *    pollute the served index (a CHECKPOINTED restart resumes past
    *    batch 0 and keeps its own committed dirs; a replay OF batch 0
    *    re-clears only what batch 0 itself wrote — idempotent);
    *  - COUNT-TRIGGERED FOLD: once a trigger leaves ≥ `foldEvery` dirs
    *    under a `*_stream` store, the trigger folds them into ONE
    *    `fold_$id` dir (distinct rows; the fold chain absorbs earlier
    *    folds too) and drops the sources — so the per-trigger artifact
    *    scan reads ≤ foldEvery dirs instead of one dir per trigger ever
    *    made (the staleness-trigger philosophy: pay an O(streamed)
    *    fold every foldEvery batches to keep every trigger's input
    *    bounded). A replayed fold overwrites its own `fold_$id`
    *    (exactly-once); a crash between the fold write and the source
    *    deletes is repaired by the replay folding the SURVIVING sources
    *    ∪ the crashed `fold_$id` itself (which holds the already-deleted
    *    batches' rows — excluding it would lose them), with distinct
    *    absorbing the overlap and the beam serve duplication-tolerant
    *    meanwhile (neighbor expansion is a distinct-set union).
    *    GraphAnnSpec pins serve-before-fold == serve-after-fold. */
  def graphIngestStream(vecs: DataFrame, corpus: DataFrame, indexDir: String,
                        graphK: Int = 3, foldEvery: Int = 8): DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val hconf = spark.sparkContext.hadoopConfiguration
        def fs(p: Path) = p.getFileSystem(hconf)
        if (id == 0L)
          Seq("cells_stream", "edges_stream").foreach { d =>
            val hp = new Path(s"$indexDir/$d")
            if (fs(hp).exists(hp)) { fs(hp).delete(hp, true); () }
          }
        val cents = spark.read.parquet(s"$indexDir/centroids")
          .orderBy("cid").select(col("cent"))
          .as[Seq[Long]].collect().map(_.toArray)
        VectorOps.kmeansRanked(batch, cents, maxRank = 1)
          .select(col("vec_id"), col("cid"))
          .write.mode("overwrite").parquet(s"$indexDir/cells_stream/batch_$id")
        val batchCells = spark.read.parquet(s"$indexDir/cells_stream/batch_$id")
        val allCells = spark.read.parquet(s"$indexDir/cells")
          .unionByName(spark.read.parquet(s"$indexDir/cells_stream/*"))
        VectorOps.knnGraphFromCells(corpus, batchCells, graphK, Some(allCells))
          .select(col("src"), col("dst"))
          .write.mode("overwrite").parquet(s"$indexDir/edges_stream/batch_$id")
        Seq("cells_stream", "edges_stream").foreach { d =>
          val root = new Path(s"$indexDir/$d")
          val f = fs(root)
          val all = f.listStatus(root).filter(_.isDirectory).map(_.getPath)
          val subs = all.filter(_.getName != s"fold_$id")
          if (subs.length >= foldEvery) {
            // a crash between the fold write and the source deletes
            // leaves a completed fold_$id next to the SURVIVING sources;
            // the replayed trigger must fold over sources ∪ that
            // fold_$id (which holds the already-deleted batches' rows)
            // or the deleted batches are lost from the served index.
            // localCheckpoint materializes BEFORE the overwrite, so the
            // refold never lazily reads the path it is writing; distinct
            // absorbs the duplication between fold_$id and survivors.
            spark.read.parquet(all.map(_.toString): _*).distinct()
              .localCheckpoint()
              .write.mode("overwrite").parquet(s"$indexDir/$d/fold_$id")
            subs.foreach(p => f.delete(p, true))
          }
        }
        ()
    }

  /** STREAMING ANN SERVING — the QUERY-side live path next to
    * [[annIngest]]'s index side: each arriving micro-batch of (vec_id,
    * embedding) query vectors is answered against the FROZEN persisted
    * index — the plan-embedded centroid literal ranks each query's
    * nprobe cells map-side (no shuffle), one equi-join on cell id pulls
    * the candidates from the cells dirs (base ∪ appended batches), and
    * the per-query top-k scores them against the corpus
    * ([[VectorOps.serveScore]]). Stateless; per-batch
    * work is O(|batch| · nprobe · cellSize) — independent of corpus
    * size, which is what makes the serving path live. Batch dirs
    * overwrite ⇒ exactly-once under replay. Output per batch: (q_id,
    * vec_id, cosine, rk). */
  def annServeStream(queries: DataFrame, cents: Array[Array[Long]],
                     cellsDirs: Seq[String], corpus: DataFrame, k: Int,
                     outDir: String): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val nprobe = VectorOps.defaultNprobe(cents.length)
        val probes = VectorOps.kmeansRanked(batch, cents, maxRank = nprobe)
          .select(col("vec_id").as("q_id"), col("cid"))
        val cells = cellsDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
        val cands = probes.join(cells, Seq("cid")).select(col("q_id"), col("vec_id"))
        VectorOps.serveScore(batch, corpus, cands, k)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
        ()
    }

  /** STREAMING BPE TOKEN BILLING — the live twin of the frozen-tokenizer
    * encode ([[TextOps.bpeEncodeFrozen]]): each arriving
    * micro-batch of (doc_id, text) documents is billed against a FROZEN
    * merge list (the driver-held ≤ nMerges-pair model, exactly like
    * [[annIngest]]'s frozen centroid matrix). Per batch, the batch's
    * DISTINCT words frozen-replay the merge list (batch-vocabulary-sized
    * work; a persistent word→tokens cache would further skip recurring
    * words between batches), the encode join-back yields each document's
    * exact (n_words, bpe_tokens) bill, and the bill lands in the billing
    * store as the batch's own parquet directory — overwrite ⇒
    * exactly-once under replay (the repo's foreachBatch idempotency
    * convention). Stateless: work scales with batch size alone on an
    * unbounded stream, and token accounting against the SAME vocabulary
    * the training run bills with goes live instead of nightly. */
  def tokenBillStream(docs: DataFrame, merges: Seq[(String, String)],
                      billDir: String): DataStreamWriter[Row] =
    batchDirs(docs, billDir)(b =>
      TextOps.bpeEncodeWith(b, TextOps.applyMerges(TextOps.charWords(b), merges))
        .select(col("doc_id"), col("n_words"), col("bpe_tokens")))

  /** STREAMING PCA SCORING — each arriving micro-batch of (vec_id,
    * embedding) rows is projected onto a FROZEN fitted axis (the
    * driver-held (μ, v) arrays, exactly like [[annIngest]]'s frozen
    * centroid matrix): stateless, map-side-only per batch, batch dirs
    * overwritten ⇒ exactly-once under replay. The live form of the
    * curriculum/outlier axis ([[VectorOps.pcaProjectWith]]). */
  def pcaScoreStream(vecs: DataFrame, fit: (Array[Long], Array[Long]),
                     scoreDir: String): DataStreamWriter[Row] =
    batchDirs(vecs, scoreDir)(VectorOps.pcaProjectWith(_, fit))

  /** STREAMING VOLUME-ANOMALY MONITOR — the live form of
    * [[EventOps.anomalyWindows]] over a COMPACTED hourly
    * store: batch `id` folds its hourly deltas into the previous
    * batch's compacted store (`store/batch_{id-1}` ∪ delta, re-summed)
    * and writes the merge as `store/batch_id`, then re-scores that
    * bounded type×hour frame against the trailing baseline, emitting
    * the current alert set as the batch's own output dir. Per-batch
    * work is therefore bounded by the store's type×hour keyspace at
    * EVERY batch — an earlier cut read every historical delta dir per
    * batch, O(N²) cumulative I/O over the stream's lifetime. Replay of
    * batch `id` re-reads `batch_{id-1}` (which never includes its own
    * delta) and overwrites, so the compaction stays exactly-once — and
    * because only `batch_{id-1}` is ever read, `batch_{id-2}` is
    * DELETED after each successful write (keeping one predecessor
    * preserves the replay contract); disk held is two compacted copies,
    * not O(batches).
    * Final alert output equals the batch monitor over the same events
    * (pinned in StreamingSpec). */
  def anomalyStream(events: DataFrame, storeDir: String,
                    zThresh: Double = 2.5,
                    minBaseline: Int = 12): DataStreamWriter[Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, id: Long) =>
        anomalyTick(EventOps.hourlyCounts(batch),
          storeDir, id, zThresh, minBaseline)
        ()
    }

  /** One monitor tick over an hourly-count DELTA frame: fold the delta
    * into the previous batch's compacted store, write the merge as this
    * batch's store, GC the grandparent (only `batch_{id-1}` is ever
    * read; keeping one predecessor preserves the replay/exactly-once
    * contract), and emit the current alert set. The shared machinery of
    * [[anomalyStream]] and [[curationStream]]'s monitor leg. */
  private[pipeline] def anomalyTick(delta: DataFrame, storeDir: String,
                                     id: Long, zThresh: Double,
                                     minBaseline: Int): Unit = {
    val spark = delta.sparkSession
    val prev = new Path(s"$storeDir/store/batch_${id - 1}")
    val fs = prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged = (if (id > 0 && fs.exists(prev))
        spark.read.parquet(prev.toString).unionByName(delta)
      else delta)
      .groupBy(col("event_type"), col("win_start"))
      .agg(sum(col("n")).as("n"))
    merged.write.mode("overwrite").parquet(s"$storeDir/store/batch_$id")
    if (id >= 2) {
      val old = new Path(s"$storeDir/store/batch_${id - 2}")
      if (fs.exists(old)) fs.delete(old, true)
    }
    EventOps.anomalyFromHourly(
        spark.read.parquet(s"$storeDir/store/batch_$id"),
        zThresh, minBaseline)
      .write.mode("overwrite").parquet(s"$storeDir/alerts/batch_$id")
  }

  /** COMPOSED STREAMING CURATION JOB — the end-to-end ingest loader a
    * production corpus actually runs, as ONE streaming query under ONE
    * checkpoint (the streaming twin of the batch `curation_pipeline` /
    * `corpus_pipeline` flagships, and the analogue of the reference's
    * resident optimize loop,
    * reference execution/phoebe/Graph.java:215-283 —
    * a standing composition of gates and models over a live stream, not
    * a chain of separate jobs). Input: (ts, doc_id, source, text).
    * Stages, in production order:
    *
    *  1. LANG + QUALITY GATE — [[TextOps.gateProjection]],
    *     row-local, stateless, runs INSIDE the streaming plan (cheap
    *     gates first: rejected documents never touch state or disk).
    *  2. EXACT DEDUP — `dropDuplicatesWithinWatermark` on the md5
    *     content fingerprint: the engine's keyed state store under THIS
    *     query's checkpoint, so survivors are exactly-once ACROSS
    *     batches and across stop/restart, and a fingerprint's state is
    *     EVICTED once the watermark passes its first arrival + lag
    *     (plain `dropDuplicates` on a non-event-time key never evicts —
    *     unbounded state on an unbounded stream). A duplicate arriving
    *     later than the lag re-admits — the standard bounded-state
    *     tradeoff; pass a large lag for replay-window dedup.
    *  3. FROZEN-BPE TOKEN BILLING — survivors are billed against the
    *     frozen merge list ([[tokenBillStream]]'s leg): batch-vocabulary
    *     frozen replay + encode join, written as the batch's own
    *     `bill/batch_id` dir (overwrite ⇒ exactly-once under replay).
    *  4. VOLUME-ANOMALY MONITOR — ACCEPTED volume per (source, hour)
    *     folds into the compacted store and is re-scored against the
    *     trailing baseline ([[anomalyTick]]): a stall or spike in what
    *     the gates ADMIT (not raw arrivals) is exactly the signal a
    *     curation loader pages on.
    *
    * Every stage's state is bounded: gate none, dedup one fingerprint
    * per in-watermark survivor, billing none (frozen model), monitor
    * the type×hour store. Batch-parity: with first-arrival order
    * matching min-doc_id order, the union of `bill` dirs equals the batch
    * gate→dedup→encode pass and the final alert set equals the batch
    * monitor (pinned across a stop/restart in StreamingSpec). */
  def curationStream(docs: DataFrame, merges: Seq[(String, String)],
                     outDir: String, lang: String = "en",
                     minQuality: Double = 0.6, watermark: String = "1 hour",
                     zThresh: Double = 2.5, minBaseline: Int = 12): DataStreamWriter[Row] = {
    val gated = TextOps.gateProjection(docs)
      .filter(col("pred_lang") === lang && col("quality") >= minQuality)
      .withColumn("__fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__fp")
    curationSink(gated, merges, outDir, zThresh, minBaseline)
  }

  /** The billing + monitor sink shared by [[curationStream]] and
    * [[webCurationStream]]: per batch, bill survivors against the
    * frozen merge list (idempotent `bill/batch_id` dir) and fold the
    * accepted volume into the compacted anomaly store. */
  private def curationSink(gated: DataFrame, merges: Seq[(String, String)],
                           outDir: String, zThresh: Double, minBaseline: Int)
      : DataStreamWriter[Row] = {
    gated.writeStream.outputMode("append").foreachBatch {
      (batch0: DataFrame, id: Long) =>
        // both legs consume the survivor set; persist so the gate+dedup
        // output isn't recomputed per leg
        val batch = batch0.persist()
        try {
          TextOps.bpeEncodeWith(batch,
              TextOps.applyMerges(TextOps.charWords(batch), merges))
            .join(batch.select(col("doc_id"), col("source"), col("quality")),
              Seq("doc_id"))
            .select(col("doc_id"), col("source"), col("quality"),
              col("n_words"), col("bpe_tokens"))
            .write.mode("overwrite").parquet(s"$outDir/bill/batch_$id")
          anomalyTick(
            EventOps.hourlyCounts(
              batch.select(col("source").as("event_type"), col("ts"))),
            outDir, id, zThresh, minBaseline)
        } finally { batch.unpersist(); () }
        ()
    }
  }

  /** One raw-web document between the URL front-end and extraction:
    * the payload [[hostCapStream]] carries through its keyed state. */
  final case class WebDoc(ts: java.sql.Timestamp, doc_id: Long,
                          source: String, host: String, atext: String,
                          draw: Long)

  /** STREAMING PER-HOST CAP — the live twin of
    * [[TextOps.urlCanonicalDedup]]'s host window: keyed
    * state holds ONE counter per host (O(1) — never the documents), and
    * a document is admitted iff its host's cumulative admission count is
    * still below `maxPerHost`, so a single mega-domain cannot dominate
    * the ingested corpus no matter how long the stream runs. Runs
    * BETWEEN canonical-URL dedup and extraction — a capped document
    * never pays extraction, the same production stage order as the
    * batch `web_pipeline`.
    *
    * Within a batch, documents are processed in (draw, doc_id) order —
    * the SAME content-independent ranked draw (salt `urlcap`) the batch
    * host window sorts by — so admission is deterministic under shuffle
    * and, when each host's globally lowest-draw survivors arrive no
    * later than its higher-draw ones (the single-batch case trivially,
    * and any timeline StreamingSpec pins), the admitted set equals the
    * batch `urlCanonicalDedup(maxPerHost)` keep set exactly. Across
    * arbitrary batch splits the contract degrades to first-arrival (a
    * late low-draw page finds its host already full) — the same
    * documented first-arrival deviation as [[funnelStream]] and
    * [[nearDupCandidates]]; the CAP ITSELF is never violated.
    *
    * Input: (ts, doc_id, source, host, atext). State per host never
    * expires (`NoTimeout`): a host capped in January must still be
    * capped in June, and the state is 8 bytes/host — |hosts| × O(1) is
    * the smallest ledger any per-domain throttle can carry. */
  def hostCapStream(docs: DataFrame, maxPerHost: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("ts"), col("doc_id"), col("source"), col("host"),
        col("atext"), TextOps.mdDraw6("urlcap").as("draw"))
      .as[WebDoc]
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[WebDoc], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L)
          val remaining = (maxPerHost - n).toInt
          if (remaining <= 0) {
            // host already full: drain without buffering a single row —
            // the mega-host burst case this operator exists to throttle
            while (it.hasNext) it.next()
            state.update(n)
            Iterator.empty
          } else {
            // bounded best-k selection (k = remaining ≤ maxPerHost): a
            // max-heap of the k smallest (draw, doc_id) rows streamed off
            // the iterator — O(maxPerHost) memory even when one trigger
            // lands an entire 250k-page crawl burst on this host, where
            // the former it.toSeq.sortBy materialized the whole group.
            // Admits exactly the set the full sort admitted, emitted in
            // the same ascending (draw, doc_id) order.
            val ord: Ordering[WebDoc] = Ordering.by(d => (d.draw, d.doc_id))
            val heap = scala.collection.mutable.PriorityQueue.empty[WebDoc](ord)
            it.foreach { d =>
              if (heap.size < remaining) heap.enqueue(d)
              else if (ord.lt(d, heap.head)) { heap.dequeue(); heap.enqueue(d) }
            }
            val admitted = heap.dequeueAll.reverse
            state.update(n + admitted.size)
            admitted.iterator
          }
      }.toDF()
  }

  /** COMPOSED RAW-WEB CURATION JOB — [[curationStream]] with the crawl
    * front-end in front of it, still ONE streaming query under ONE
    * checkpoint (the streaming twin of the batch `curation_pipeline_html`
    * flagship). Input: (ts, doc_id, source, url, atext) — the fetch URL
    * plus raw markup. Stages, in production order (cheapest and most
    * selective first — a blocked, already-seen, or host-capped URL never
    * pays extraction, let alone tokenization):
    *
    *  0a. URL POLICY — [[TextOps.urlBlocklistFlags]]:
    *      canonicalize (case/www/default-port/tracking-param/fragment
    *      noise collapses), drop banned hosts and path prefixes.
    *      Row-local, stateless.
    *  0b. URL DEDUP — `dropDuplicatesWithinWatermark` on the CANONICAL
    *      url: recrawls and tracking-param variants of an already-
    *      ingested page are dropped by keyed state (one row per
    *      in-watermark canonical URL) before the document is extracted.
    *  0c. PER-HOST CAP — [[hostCapStream]]: at most `maxPerHost`
    *      admitted documents per canonical host over the stream's
    *      LIFETIME (one counter per host), enforcing the same
    *      mega-domain throttle as the batch funnel's
    *      `urlCanonicalDedup(maxPerHost)` window. Duplicates never
    *      consume cap slots — they were dropped in 0b.
    *  0d. EXTRACTION — [[TextOps.extractHtml]]: strip
    *      chrome blocks and tags, decode entities; the extracted text
    *      REPLACES `text`, so stages 1-4 see exactly what the batch
    *      pipeline's gates see.
    *  1-4. [[curationStream]]'s lang/quality gate → content-fingerprint
    *      dedup → frozen-BPE billing → accepted-volume anomaly monitor,
    *      via the shared sink.
    *
    * THREE keyed-state stores live under the one checkpoint (canonical
    * URL, host counter, then content fingerprint — Spark's
    * chained-stateful-operator support in append mode); the dedup
    * stores are evicted by the SAME watermark (re-asserted after the
    * cap, whose typed transform drops the event-time tag), the host
    * counters deliberately never expire. Batch parity and
    * restored-state drops (a post-restart recrawl, a post-restart
    * mega-host page, AND a post-restart content mirror) are pinned in
    * StreamingSpec. */
  def webCurationStream(docs: DataFrame, merges: Seq[(String, String)],
                        outDir: String,
                        blockedHosts: Seq[String] = Nil,
                        blockedPathPrefixes: Seq[String] = Nil,
                        maxPerHost: Int = 4,
                        lang: String = "en", minQuality: Double = 0.6,
                        watermark: String = "1 hour", zThresh: Double = 2.5,
                        minBaseline: Int = 12): DataStreamWriter[Row] = {
    val front = TextOps.urlBlocklistFlags(docs, col("url"),
        blockedHosts, blockedPathPrefixes)
      .filter(col("keep"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("canon_url")
    val capped = hostCapStream(front, maxPerHost)
      .withWatermark("ts", watermark)
    val extracted = TextOps.extractHtml(capped, col("atext"))
      .select(col("ts"), col("doc_id"), col("source"),
        col("clean_text").as("text"))
    val gated = TextOps.gateProjection(extracted)
      .filter(col("pred_lang") === lang && col("quality") >= minQuality)
      .withColumn("__fp", md5(col("text")))
      .dropDuplicatesWithinWatermark("__fp")
    curationSink(gated, merges, outDir, zThresh, minBaseline)
  }

  /** STREAMING SHARD-MANIFEST ACCOUNTING — the ingest-time integrity
    * ledger: each micro-batch's [[TextOps.shardManifest]]
    * delta folds into a compacted per-shard store (the [[anomalyTick]]
    * store/GC pattern — only `batch_{id-1}` is ever read, idempotent
    * overwrite dirs ⇒ exactly-once under replay). The fold is exact
    * BECAUSE the manifest was designed mergeable: counts and the
    * mod-2^60 checksum are commutative sums, ranges are min/max — so
    * the running store equals the one-shot manifest of everything
    * ingested, regardless of how arrivals were batched (pinned in
    * StreamingSpec). Per-batch state is the 16-row store, not the
    * corpus. */
  def manifestStream(docs: DataFrame, storeDir: String, nShards: Int = 16): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val delta = TextOps.shardManifest(batch, nShards)
        val prev = new Path(s"$storeDir/store/batch_${id - 1}")
        val fs = prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val merged = (if (id > 0 && fs.exists(prev))
            spark.read.parquet(prev.toString).unionByName(delta)
          else delta)
          .groupBy(col("shard")).agg(
            sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            (sum(col("content_sum").cast("decimal(38,0)"))
              % lit(1152921504606846976L)).cast("long").as("content_sum"),
            min(col("min_doc_id")).as("min_doc_id"),
            max(col("max_doc_id")).as("max_doc_id"))
        merged.write.mode("overwrite").parquet(s"$storeDir/store/batch_$id")
        if (id >= 2) {
          val old = new Path(s"$storeDir/store/batch_${id - 2}")
          if (fs.exists(old)) { fs.delete(old, true); () }
        }
        ()
    }

  /** STREAMING REFERENCE-LM QUALITY SCORING — each arriving micro-batch
    * of (doc_id, text) documents is scored under the FROZEN reference
    * bigram model ([[TextOps.refLmFit]]'s (c2, c1, V)
    * frames — static reference-sized tables, the other side of every
    * per-batch join). The CCNet filter as an ingest gate: per-doc OOV
    * bill and mean probability land with the batch, before the document
    * ever reaches the corpus store. Stateless; exactly-once batch dirs. */
  def refLmScoreStream(docs: DataFrame,
                       model: (DataFrame, DataFrame, DataFrame),
                       scoreDir: String): DataStreamWriter[Row] =
    batchDirs(docs, scoreDir)(TextOps.refLmScoreWith(_, model))

  /** STREAMING ExactSubstr PROBE — the live twin of
    * [[TextOps.exactSubstrProbe]] (the [[refLmScoreStream]]
    * frozen-artifact shape): each arriving micro-batch of (doc_id, text)
    * documents is trimmed against the STATIC corpus's k-gram index —
    * every batch occurrence of a gram the corpus already holds leaves
    * the arriving text before it reaches the store. Stateless (the
    * index is the static join side); per-batch PROBE work is O(batch
    * tokens), but this spelling re-derives the corpus-sized gram index
    * every trigger — a diagnostic/test shape; production runs
    * [[exactSubstrIndexedStream]] against the persisted
    * [[TextOps.substrGramIndex]] artifact so the
    * corpus-sized term is paid once per index lifetime. Idempotent
    * batch dirs give exactly-once output. CorpusDiagnosticsSpec pins
    * the one-trigger stream equal to the batch probe. */
  def exactSubstrStream(docs: DataFrame, corpus: DataFrame, outDir: String,
                        k: Int = 8): DataStreamWriter[Row] =
    batchDirs(docs, outDir)(TextOps.exactSubstrProbe(corpus, _, k))

  /** [[exactSubstrStream]] against the PERSISTED gram-index artifact —
    * the steady-state production twin: each trigger re-reads
    * `indexDir/grams` (so a [[RefreshOps
    * .compactGramIndex]] fold landing between triggers is picked up —
    * the artifact on disk, not a plan-frozen snapshot, is the
    * contract) and probes the arriving batch against it. Per-trigger
    * work is O(batch tokens) joined against the index — independent
    * of corpus size, the bound the per-trigger claim actually needs.
    * Stateless; idempotent batch dirs give exactly-once output.
    * RefreshCompactionSpec pins the streamed trim equal to the batch
    * probe and that a compaction landing between triggers changes what
    * the next trigger sees. */
  def exactSubstrIndexedStream(docs: DataFrame, indexDir: String,
                               outDir: String, k: Int = 8): DataStreamWriter[Row] =
    batchDirs(docs, outDir)(b =>
      TextOps.exactSubstrProbeWith(b.sparkSession.read.parquet(s"$indexDir/grams"), b, k))

  /** FROZEN-CLASSIFIER ingest gate — the LEARNED twin of the refLM gate
    * above: weights fitted offline ([[TextOps
    * .classifierFit]]), frozen into the plan as a literal array, every
    * arriving batch scored row-local ([[TextOps
    * .classifierGate]]). Stateless and shuffle-free per trigger —
    * per-batch cost is O(batch), independent of everything the stream
    * has already seen; idempotent batch dirs give exactly-once output.
    * StreamingSpec pins the streamed union equal to the one-shot batch
    * gate over the same documents. */
  def classifierGateStream(docs: DataFrame, w: Array[Long],
                           scoreDir: String): DataStreamWriter[Row] =
    batchDirs(docs, scoreDir)(TextOps.classifierGate(_, w))

  /** One live-window pattern match: series id, window-end timestamp,
    * z-normalized Pearson vs the frozen query pattern. */
  case class PatternHit(sid: String, ts_end: Long, corr: Double)

  /** STREAMING PATTERN MONITOR — the live twin of
    * [[graft.metrics.MetricOps.tsSimilaritySearch]] (the EDBT'19
    * streaming-similarity setting): each series keeps its LAST `win`
    * quantized points as keyed state (O(win) per series — constant
    * forever on an unbounded stream); every trigger re-scores the
    * current window against the frozen query pattern and emits a
    * [[PatternHit]] whenever the window is full and hour-contiguous.
    * The Pearson arithmetic is the batch operator's exactly — integer
    * moments (BigInt here, DECIMAL(38,0) there: both exact), one
    * correctly-rounded double conversion per term, HALF_UP rounding —
    * so a streamed hit is bit-equal to the batch correlation over the
    * same points (pinned in ClassifierSpec's monitor test against the
    * BATCH operator, a genuinely independent code path). Late
    * duplicates of an already-held timestamp are dropped keep-first
    * across triggers; conflicting values for a NEW timestamp within one
    * batch resolve deterministically to the minimum value. */
  def patternMonitorStream(points: Dataset[(String, Long, Long)],
                           qv: Array[Long], win: Int = 24, step: Long = 3600L)
      : Dataset[PatternHit] = {
    import points.sparkSession.implicits._
    val sy = qv.map(BigInt(_)).sum
    val syy = qv.map(v => BigInt(v) * v).sum
    points.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (sid: String, it: Iterator[(String, Long, Long)],
       state: GroupState[Seq[(Long, Long)]]) =>
        val prev = state.getOption.getOrElse(Seq.empty)
        val seen = prev.map(_._1).toSet
        // within-batch duplicates of a NEW timestamp resolve to the
        // MINIMUM value: flatMapGroupsWithState gives no intra-group row
        // order, so .head would pick a shuffle-dependent winner
        val fresh = it.map(r => (r._2, r._3)).toSeq
          .filterNot(p => seen.contains(p._1))
          .groupBy(_._1).map { case (_, vs) => vs.minBy(_._2) }
        val merged = (prev ++ fresh).sortBy(_._1).takeRight(win)
        state.update(merged)
        // emit only when the window CHANGED: a batch holding nothing but
        // late duplicates (or points too old to enter) must not re-emit
        // the same hit into the append sink
        if (merged != prev && merged.size == win &&
            merged.last._1 - merged.head._1 == (win - 1) * step) {
          val xs = merged.map(_._2)
          val sx = xs.map(BigInt(_)).sum
          val sxx = xs.map(v => BigInt(v) * v).sum
          val sxy = xs.zip(qv).map { case (x, q) => BigInt(x) * q }.sum
          val d1 = BigInt(win) * sxx - sx * sx
          val d2 = BigInt(win) * syy - sy * sy
          if (d1 > 0 && d2 > 0) {
            val corr = (BigInt(win) * sxy - sx * sy).toDouble /
              math.sqrt(d1.toDouble * d2.toDouble)
            Iterator.single(PatternHit(sid, merged.last._1,
              BigDecimal(corr + 1e-9)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          } else Iterator.empty
        } else Iterator.empty
    }
  }

  /** FROZEN-FOREST anomaly gate: arriving embedding batches scored
    * row-local under the offline-fitted isolation-forest cut table
    * ([[graft.models.IsoLocal]]) — the vector-side twin of
    * [[classifierGateStream]]. Stateless, shuffle-free, O(batch) per
    * trigger; IsoForestSpec pins the streamed union equal to the
    * one-shot batch scoring. */
  def isoScoreStream(emb: DataFrame, cuts: graft.models.IsoLocal.Cuts,
                     scoreDir: String): DataStreamWriter[Row] = {
    // broadcast the frozen cut table ONCE — a per-batch broadcast would
    // leak one copy per trigger on an unbounded stream
    val bc = emb.sparkSession.sparkContext.broadcast(cuts)
    val score = udf(
      (v: Seq[Long]) => graft.models.IsoLocal.pathSum(bc.value, v.toArray))
    batchDirs(emb, scoreDir)(b =>
      b.select(col("vec_id"), VectorOps.quant.as("q"))
        .withColumn("path_sum", score(col("q")))
        .select(col("vec_id"), col("path_sum")))
  }

  /** One streaming refresh fate — the live row of the batch
    * `incremental_refresh` composition: the document's op, the gate the
    * pipeline settled on, its near-dup representative (when screened
    * out) or its assigned index cell (when admitted). */
  final case class RefreshFate(doc_id: Long, op: String, action: String,
                               dup_of: Option[Long], cid: Option[Long])

  /** STREAMING FATE COMPACTION — the live twin of the batch
    * [[RefreshOps]] folds: every [[refreshStream]]
    * trigger's fates fold into the persisted probe artifacts (MinHash
    * band index + frozen-centroid cell assignment + — when the deploy
    * seeded `grams/initial` — the ExactSubstr gram index) as they are
    * emitted, so the artifacts track the live corpus continuously
    * instead of waiting for a nightly batch compaction. The store rides the
    * [[manifestStream]] compacted-store pattern: only `batch_{id-1}` is
    * ever read (`initial` seeds batch 0 — the caller-written artifacts
    * of the base snapshot), the fold writes its own `batch_$id`
    * (idempotent overwrite ⇒ exactly-once under replay, including
    * across a restart), and `batch_{id-2}` is GC'd. Batch 0 CLEARS any
    * pre-existing `batch_*` dirs first (the [[graphIngestStream]]
    * batch-0 reset — a fresh checkpoint over a dead run's store must
    * not leave its orphans lingering forever), and a missing
    * `batch_{id-1}` at id > 0 fails loudly instead of silently rebasing
    * the fold onto `initial` and losing every folded fate so far.
    *
    * The fold itself IS the batch fold — [[RefreshOps
    * .compactBandIndex]]/[[RefreshOps
    * .compactCellAssignment]] applied per trigger — so stream and batch
    * can never disagree on the arithmetic (RefreshStreamSpec pins the
    * streamed chain equal to the batch folds over the aligned fate
    * timeline, across a restart). `newDocs` is the NEW snapshot's
    * (doc_id, text) lookup, the same static side the batch fold reads:
    * band keys of an indexed doc derive from its text there. Chained
    * directly onto [[refreshStream]]'s output the per-trigger batch
    * holds at most one fate per doc (stage 1 resolves same-doc events
    * within a trigger), matching the batch fold's one-fate-per-doc
    * contract. Per-trigger cost is O(artifact + changed) — the
    * artifact-sized term is the store rewrite, the same bound
    * [[manifestStream]] pays.
    *
    * The GRAPH artifact is deliberately NOT folded per trigger: its
    * fold ([[RefreshOps.compactGraphIndex]]) rebuilds
    * whole affected cells (cell-quadratic, not O(changed)), so
    * per-trigger is the wrong cadence — run
    * [[RefreshOps.compactGraphIndexDirs]] when the
    * [[VectorOps.graphIndexStaleness]] trigger fires
    * (the same policy that schedules the full rebuild). */
  def refreshCompactionStream(fates: Dataset[RefreshFate],
                              newDocs: DataFrame, artifactDir: String)
      : DataStreamWriter[RefreshFate] =
    fates.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[RefreshFate], id: Long) =>
        val spark = batch.sparkSession
        val f = batch.toDF().select(col("doc_id"), col("action"), col("cid"))
        val hconf = spark.sparkContext.hadoopConfiguration
        // BATCH-0 RESET (the graphIngestStream rule): a fresh checkpoint
        // over an existing artifact dir must not leave a dead run's
        // batch_N dirs lingering (GC only ever reaches batch_{id-2}) —
        // batch 0 reads `initial`, so everything else is stale by
        // definition and is cleared before the first fold lands.
        if (id == 0L) Seq("bands", "cells", "grams").foreach { art =>
          val root = new Path(s"$artifactDir/$art")
          val fsys = root.getFileSystem(hconf)
          if (fsys.exists(root))
            fsys.listStatus(root).map(_.getPath)
              .filter(_.getName.startsWith("batch_"))
              .foreach(p => fsys.delete(p, true))
        }
        def prevOr(art: String): DataFrame = {
          if (id == 0L) return spark.read.parquet(s"$artifactDir/$art/initial")
          val prev = new Path(s"$artifactDir/$art/batch_${id - 1}")
          // id > 0 with batch_{id-1} absent means the store was damaged
          // outside the protocol (GC never deletes the predecessor of a
          // replayable trigger): failing loudly beats silently rebasing
          // the fold onto `initial` and losing every folded fate so far.
          require(prev.getFileSystem(hconf).exists(prev),
            s"refreshCompactionStream: $artifactDir/$art/batch_${id - 1} " +
              s"missing at trigger $id — compacted store damaged; " +
              "rebuild `initial` from the live corpus and restart with a " +
              "fresh checkpoint")
          spark.read.parquet(prev.toString)
        }
        RefreshOps.compactBandIndex(prevOr("bands"), f, newDocs)
          .write.mode("overwrite").parquet(s"$artifactDir/bands/batch_$id")
        RefreshOps.compactCellAssignment(prevOr("cells"), f)
          .write.mode("overwrite").parquet(s"$artifactDir/cells/batch_$id")
        // the ExactSubstr gram index folds through the same store when
        // the deploy seeded it (grams/initial present) — optional so a
        // pipeline without the substring stage pays nothing for it
        val gramsInit = new Path(s"$artifactDir/grams/initial")
        val foldGrams = gramsInit.getFileSystem(hconf).exists(gramsInit)
        if (foldGrams)
          RefreshOps.compactGramIndex(prevOr("grams"), f, newDocs)
            .write.mode("overwrite").parquet(s"$artifactDir/grams/batch_$id")
        if (id >= 2)
          (Seq("bands", "cells") ++ (if (foldGrams) Seq("grams") else Nil))
            .foreach { art =>
              val old = new Path(s"$artifactDir/$art/batch_${id - 2}")
              val fs = old.getFileSystem(hconf)
              if (fs.exists(old)) { fs.delete(old, true); () }
            }
        ()
    }

  /** Stage-0 → stage-1 routing row of [[refreshStream]]: a band-level
    * membership op (`addprobe`/`remove`) or a band-less fate marker
    * (`gated`/`evicted`, bkey = "fate:doc"). `sh` carries the doc's
    * distinct 60-bit shingle HASHES on `addprobe` routes so the band
    * store can verify exact Jaccard against its members (empty
    * otherwise) — hashes, not strings: Jaccard over the md5-derived
    * hashes equals Jaccard over the shingle strings up to hash
    * collisions (~2⁻⁶⁰ per compared pair), at 8 bytes per shingle
    * instead of an arbitrary-length string, so the keyed band state
    * stays proportional to membership, not text. */
  final case class RefreshRoute(bkey: String, doc_id: Long, op: String,
                                kind: String, cid: Long, sh: Seq[Long])

  /** Stage-1 → stage-2 row: a band probe result or a passed-through
    * fate marker. */
  final case class RefreshProbe(doc_id: Long, op: String, kind: String,
                                cid: Long, hit: Option[Long])

  /** STREAMING INCREMENTAL REFRESH — the live twin of the batch
    * `incremental_refresh` query: a CDC stream of FULL-ROW events
    * (doc_id, seq, op ∈ upsert|delete, text, embedding — `seq` is the
    * feed's offset, which is what resolves multiple same-doc events
    * inside one trigger to the LAST state instead of an arbitrary one)
    * flows through three chained keyed-state stages:
    *
    *  1. a DOC-keyed normalizer holding each live document's CURRENT
    *     band keys: per trigger the max-seq event wins (ties to
    *     delete), the row-local content gates
    *     ([[TextOps.policyKeepCol]]/
    *     [[TextOps.gopherKeepCol]] — the exact batch
    *     verdicts) decide the new membership (delete/gated → none),
    *     and the stage emits `remove` ops for every band the doc is
    *     LEAVING — so a re-upsert with changed text, a doc that now
    *     fails the gates, and an explicit delete all evict their stale
    *     membership instead of leaving ghost members, and total band
    *     state tracks the LIVE corpus, not stream length;
    *  2. a BAND-keyed member store holding each member's doc_id AND its
    *     distinct 60-bit shingle-hash set (the SAME band arithmetic as the batch DSL
    *     via the native kernel, so stream and batch can never disagree
    *     on a key): removes first, then `addprobe`s in doc order — each
    *     probe answers with the min member whose EXACT shingle Jaccard
    *     with the candidate is ≥ `threshold`, the same verification
    *     `DedupOps.probeDupHits` runs in the batch twin (a band
    *     collision alone never classifies: sub-threshold collisions are
    *     `indexed` in both engines). A band AT `maxBandBucket` members
    *     stops emitting hits and stops growing — `count > maxBucket`
    *     buckets are the ones batch `DedupOps.capBands` drops, so the
    *     stream refuses the insert that would cross that bound; hits
    *     emitted BEFORE a band went hot are inherently unretractable in
    *     append mode (the one documented batch/stream divergence at the
    *     cap boundary — batch drops the whole hot band retroactively);
    *     band-less fate markers (gated/evicted) pass through untouched;
    *  3. a per-(doc, op) assembly of the ≤4 band verdicts into ONE fate
    *     row — gated / evicted / near_dup(dup_of) / indexed(cell) —
    *     with the admitted doc's cell id assigned row-local against the
    *     FROZEN broadcast centroids (the [[isoScoreStream]]
    *     frozen-artifact convention — no refit on the hot path, exactly
    *     `ann_index_append`'s contract).
    *
    * Everything data-dependent is deterministic under shuffle: winner
    * by (seq, op), band ops applied removes-first then doc order.
    * RefreshStreamSpec pins the fate sequence including
    * match-after-eviction and ghost-free re-upserts. */
  def refreshStream(events: Dataset[(Long, Long, String, String, Seq[Float])],
                    cents: Array[Array[Long]],
                    maxBandBucket: Int = DedupOps.MaxBandBucket,
                    threshold: Double = 0.5): Dataset[RefreshFate] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column => ncol, expression => nexpr}
    val base = events.toDF("doc_id", "seq", "op", "text", "embedding")
    val keep = TextOps.policyKeepCol && TextOps.gopherKeepCol
    val cidCol = ncol(graft.functions.KmeansRank(
        nexpr(VectorOps.quant), cents, 1))
      .getItem(0).getField("c").cast("long")
    // everything row-local happens BEFORE the first shuffle: gate
    // verdict, band keys, shingle-hash set, cell assignment. The
    // 60-bit shingle hashes (DedupOps.shingleHashes — the same values
    // the MinHash signature is built from) ride along so the band store
    // can verify exact Jaccard: hash-set Jaccard equals the batch
    // verification's string-set Jaccard up to md5 collisions, at 8
    // bytes per stored shingle. NOTE: switching the staged row and the
    // band-store state from shingle STRINGS to hashes (r17) changes the
    // state-store schema — a checkpoint written by an earlier build
    // cannot resume into this one (start the refresh stream from a
    // fresh checkpoint; the artifact dirs are unaffected).
    val shCol = DedupOps.shingleHashes(DedupOps.shingles(split(col("text"), " ")))
    val staged = base
      .select(col("doc_id"), col("seq"), col("op"), keep.as("keep"),
        cidCol.as("cid"),
        DedupOps.bandKeys(ncol(graft.functions.MinhashSig(nexpr(shCol))))
          .as("bands"),
        shCol.as("sh"))
      .as[(Long, Long, String, Boolean, Long, Seq[String], Seq[Long])]
    // stage 1: per-doc membership normalizer
    val routes = staged.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (doc: Long, it: Iterator[(Long, Long, String, Boolean, Long, Seq[String], Seq[Long])],
       state: GroupState[Seq[String]]) =>
        val evs = it.toSeq
        val w = evs.maxBy(e => (e._2, e._3 == "delete"))
        val old = state.getOption.getOrElse(Seq.empty)
        val (newBands, fateKind) =
          if (w._3 == "delete") (Seq.empty[String], "evicted")
          else if (!w._4) (Seq.empty[String], "gated")
          else (w._6.distinct.sorted, "probe")
        val out = scala.collection.mutable.ArrayBuffer.empty[RefreshRoute]
        (old.toSet -- newBands).toSeq.sorted.foreach(b =>
          out += RefreshRoute(b, doc, w._3, "remove", 0L, Seq.empty))
        if (fateKind == "probe")
          newBands.foreach(b =>
            out += RefreshRoute(b, doc, w._3, "addprobe", w._5, w._7))
        else out += RefreshRoute(s"fate:$doc", doc, w._3, fateKind, 0L, Seq.empty)
        if (newBands.isEmpty) state.remove() else state.update(newBands)
        out.iterator
    }
    // stage 2: band member stores (doc_id -> shingle set) — removes
    // first, then probes in doc order; a probe's hit is the min member
    // passing the exact-Jaccard verification (batch probeDupHits parity)
    val probes = routes.groupByKey(_.bkey).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: String, it: Iterator[RefreshRoute],
       state: GroupState[Seq[(Long, Seq[Long])]]) =>
        val evs = it.toSeq
        if (key.startsWith("fate:"))
          evs.sortBy(_.doc_id)
            .map(e => RefreshProbe(e.doc_id, e.op, e.kind, e.cid, None)).iterator
        else {
          var members = state.getOption.getOrElse(Seq.empty).toMap
          val out = scala.collection.mutable.ArrayBuffer.empty[RefreshProbe]
          evs.filter(_.kind == "remove").sortBy(_.doc_id)
            .foreach(e => members -= e.doc_id)
          evs.filter(_.kind == "addprobe").sortBy(_.doc_id).foreach { e =>
            // pre-insert boundary = batch capBands: a band the insert
            // would push past maxBandBucket is one batch drops whole
            val hot = members.size >= maxBandBucket
            val sa = e.sh.toSet
            val verified = (members - e.doc_id).collect {
              case (m, msh) if {
                val sb = msh.toSet
                val inter = (sa & sb).size
                inter.toDouble / (sa.size + sb.size - inter) >= threshold
              } => m
            }
            out += RefreshProbe(e.doc_id, e.op, "probe", e.cid,
              if (hot || verified.isEmpty) None else Some(verified.min))
            if (!hot) members += (e.doc_id -> e.sh)
          }
          if (members.isEmpty) state.remove()
          else state.update(members.toSeq.sortBy(_._1))
          out.iterator
        }
    }
    // stage 3: one fate per (doc, op) — a pure per-group fold. Append-
    // mode streams admit no stateless mapGroups (AnalysisException:
    // "mapGroups is not supported with streaming DataFrames"), so the
    // GroupState[Boolean] slot below is the minimal Spark-supported
    // spelling; it is never read or updated, and its state store stays
    // at zero rows for the life of the query (RefreshStreamSpec pins
    // the fates-store row count at 0).
    probes.groupByKey(p => (p.doc_id, p.op)).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: (Long, String), it: Iterator[RefreshProbe],
       _: GroupState[Boolean]) =>
        val rows = it.toSeq
        val (doc, op) = key
        val fate = rows.find(_.kind != "probe") match {
          case Some(m) => RefreshFate(doc, op, m.kind, None, None)
          case None =>
            val hs = rows.flatMap(_.hit)
            if (hs.nonEmpty) RefreshFate(doc, op, "near_dup", Some(hs.min), None)
            else RefreshFate(doc, op, "indexed", None, Some(rows.map(_.cid).min))
        }
        Iterator.single(fate)
    }
  }
}
