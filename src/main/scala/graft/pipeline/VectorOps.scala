package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`vec_id, embedding:
  * Array[Float], label`).
  *
  * All scoring runs on integer-quantized vectors (`round(x*1000)`): dot
  * products and squared norms become exact BIGINT arithmetic, so Spark and
  * DuckDB produce bit-identical cosines (float-sum ordering can't flake the
  * oracle), and the final cosine is one double division + sqrt of identical
  * integers on both engines.
  *
  * Scale design:
  *  - brute-force top-k broadcasts only the (small) query set — the fact
  *    side streams once; this is the exact baseline;
  *  - IVF-style search joins on a coarse cell id (here the provided
  *    `label`), touching only same-cell candidates;
  *  - LSH pairs bucket by banded hyperplane-sign keys (8 bands × 8 bits of
  *    a 64-bit signature) and equi-join on the band key — no cartesian
  *    product anywhere. Hyperplanes are ±1 vectors derived from md5 on the
  *    driver (deterministic, reproducible in SQL) and shipped as literals,
  *    the same precompute-and-broadcast you'd do on a 1000-executor
  *    cluster.
  *
  * Band-width rationale: two RANDOM vectors agree on one sign bit with
  * p = 1/2, so an r-bit band collides with p = 2^-r. At r = 4 (rounds
  * 1–4) the noise-corpus candidate set reached ~40% of all pairs —
  * near-quadratic work. At r = 8 the expected noise density is
  * ≤ bands/2^r ≈ 3% of pairs, restoring O(n · density) candidate work at
  * any corpus scale. The flip side is the S-curve shift: pair-catch
  * probability 1-(1-p_bit^r)^bands at cosine 0.9 stays ≈ 0.94, while at
  * this synthetic corpus's 0.4 threshold it drops to ≈ 0.19 — the right
  * trade for production near-dup (thresholds ≥ 0.85); the oracle mirrors
  * the banding exactly, so verified results remain bit-identical.
  */
object VectorOps {

  /** Quantized embedding: round(x * 1000) per component, as Long. */
  val quant: Column =
    transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))

  import org.apache.spark.sql.GraftColumnBridge.{column => ncol, expression => nexpr}

  /** Exact integer dot product of two quantized vectors — the native
    * codegen kernel ([[graft.functions.VecDot]]); [[dotDsl]] is the
    * portable Column-DSL twin, pinned bit-equal by NativeVecSpec. The
    * native form matters because every probed ANN search evaluates the
    * dot inside joins or higher-order lambdas, where the DSL's
    * zip_with/aggregate walk is interpreted per element (measured 5-10×
    * end-to-end on the ANN bench queries at sf0.1). */
  def dot(a: Column, b: Column): Column =
    ncol(graft.functions.VecDot(nexpr(a), nexpr(b)))

  /** Portable Column-DSL dot product (higher-order fold) — semantics
    * reference for [[dot]]. */
  def dotDsl(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), _ + _)

  /** Exact integer squared distance (native kernel; [[sqdistDsl]] is the
    * DSL twin). */
  def sqdist(a: Column, b: Column): Column =
    ncol(graft.functions.VecSqDist(nexpr(a), nexpr(b)))

  /** Portable Column-DSL squared distance — semantics reference for
    * [[sqdist]]. */
  def sqdistDsl(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Cosine similarity of two quantized vectors (double; bit-identical
    * across engines because all inputs to /, * and sqrt are exact). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b).cast("double") / sqrt(dot(a, a).cast("double") * dot(b, b).cast("double"))

  /** Cosine from precomputed squared norms — same arithmetic as [[cosine]]
    * but the self-dots are carried as columns instead of being recomputed
    * per pair (3× fewer interpreted array folds in pair joins). */
  def cosinePre(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    // each norm cast to double BEFORE the product: the BIGINT×BIGINT form
    // overflows Long for higher-dim/-magnitude vectors (Spark wraps
    // silently; DuckDB promotes to HUGEINT, so the engines would diverge)
    dot(a, b).cast("double") / sqrt(n2a.cast("double") * n2b.cast("double"))


  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** ±1 hyperplane matrix derived from md5("h,i") — parity of the 60-bit
    * hex prefix, matching the SQL spelling
    * (CAST('0x'||substr(md5(h||','||i),1,15) AS BIGINT) % 2) * 2 - 1.
    * Plane h depends only on (h, i), so widening nH extends the matrix
    * without changing existing planes — IVF cells (first `bits` planes)
    * are unaffected by the 64-plane LSH signature. */
  def hyperplanes(nH: Int = 64, dim: Int = 64): Seq[Seq[Int]] =
    (0 until nH).map(h => (0 until dim).map { i =>
      ((java.lang.Long.parseLong(md5Hex(s"$h,$i").substring(0, 15), 16) % 2) * 2 - 1).toInt
    })

  /** 64-bit hyperplane-sign signature of a quantized vector (array of 0/1;
    * bit h = [dot(q, plane_h) >= 0]). */
  def signBits(q: Column, planes: Seq[Seq[Int]]): Column = {
    val p2d = typedlit(planes)
    transform(sequence(lit(0), lit(planes.size - 1)), h =>
      when(aggregate(zip_with(q, element_at(p2d, h + 1), (x, r) => x * r.cast("long")),
        lit(0L), _ + _) >= 0, lit(1)).otherwise(lit(0)))
  }

  /** Banded LSH keys over a sign signature: `bands` bands of `r` bits. */
  def signBandKeys(sig: Column, bands: Int = 8, r: Int = 8): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat(b.cast("string"), lit("|"),
        concat_ws(",", transform(slice(sig, b * r + 1, lit(r)), x => x.cast("string"))))))

  /** Relational sign-banding: (vec_id, bkey) rows with values identical to
    * [[signBandKeys]]∘[[signBits]]. Explodes vector components, joins the
    * broadcast ±1 plane matrix, groupBy-sums the projections and
    * assembles 8-bit band keys — whole-stage-codegen'd shuffles instead
    * of 64 interpreted zip_with folds per row (see the MinHash note in
    * [[DedupOps.minhashBandsRelational]]). */
  def signBandsRelational(emb: DataFrame): DataFrame =
    signProjections(emb, nPlanes = 64)
      .withColumn("b", (col("h") / 8).cast("int"))
      .groupBy(col("vec_id"), col("b"))
      .agg(md5(concat(col("b").cast("string"), lit("|"),
        concat_ws(",", transform(array_sort(collect_list(struct(col("h"), col("bit")))),
          x => x.getField("bit").cast("string"))))).as("bkey"))
      .select(col("vec_id"), col("bkey"))

  /** Relational hyperplane sign projections: one (vec_id, h, bit) row per
    * vector × plane, for the first `nPlanes` planes — the single source
    * of truth for the md5-parity plane encoding and sign convention,
    * shared by the LSH band keys ([[signBandsRelational]]) and the IVF
    * cell ids ([[ivfTopK]]) so the two can never drift from each other or
    * from the DuckDB sigSql spelling. */
  def signProjections(emb: DataFrame, nPlanes: Int = 64): DataFrame =
    rawProjections(emb, nPlanes)
      .withColumn("bit", when(col("p") >= 0, 1).otherwise(0))
      .select(col("vec_id"), col("h"), col("bit"))

  /** Raw ±1 RANDOM PROJECTIONS (vec_id, h, p): p = dot(q, plane_h) over
    * the integer-quantized vector — exact integer sums, so the sketch is
    * engine-exact, order-independent and mergeable. Un-thresholded this
    * is the Johnson–Lindenstrauss / Achlioptas-sign dimensionality
    * reduction: 16 planes shrink a d-dim vector to 16 longs (the
    * coarse-search representation; distances on p approximate d·||·||²
    * distortion-bounded), thresholded at 0 it is the LSH signature —
    * one shared kernel, one oracle spelling, no drift. */
  def rawProjections(emb: DataFrame, nPlanes: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planeDf = hyperplanes().zipWithIndex.flatMap { case (row, h) =>
      if (h < nPlanes) row.zipWithIndex.map { case (r, i) => (h, i, r.toLong) } else Nil
    }.toDF("h", "i", "r")
    emb.select(col("vec_id"), quant.as("q"))
      .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
      .join(broadcast(planeDf), Seq("i"))
      .groupBy(col("vec_id"), col("h"))
      .agg(sum(col("x") * col("r")).as("p"))
  }

  /** The fixed-query-set brute scan every exact baseline shares: each
    * row of `e` paired with each query (`vec_id < queryMaxId`, projected
    * to `q_id` plus `queryCols`) other than itself and passing
    * `pairFilter`. The query side is broadcast; the corpus streams
    * through once. */
  private def bruteScan(e: DataFrame, queryMaxId: Long, queryCols: Seq[Column],
                        pairFilter: Column = lit(true)): DataFrame = {
    val qs = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id") +: queryCols: _*)
    e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id") && pairFilter)
  }

  /** Per-query top-k: each `q_id`'s rows ranked by `score`, ties to the
    * lowest `vec_id` (the order every ANN oracle replays), first `k`
    * kept. The `rk <= k` filter sits directly on the `row_number`
    * column, the shape Spark's InferWindowGroupLimit turns into a
    * map-side group limit. Use as `.transform(topK(col("c").desc, k))`. */
  private def topK(score: Column, k: Int)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(score, col("vec_id"))))
      .filter(col("rk") <= k)
  }

  /** Brute-force exact cosine top-k: for each query vector (`vec_id <
    * queryMaxId`), the `k` nearest others ([[bruteScan]]). */
  def bruteForceTopK(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    bruteScan(e, queryMaxId, Seq(col("q").as("qq"), col("n2").as("qn2")))
      .withColumn("c", cosinePre(col("qq"), col("q"), col("qn2"), col("n2")))
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("vec_id"), round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** MATRYOSHKA-TRUNCATION SEARCH + RECALL — the evaluation run before
    * serving MRL-style embeddings at a shorter length (Kusupati et al.
    * 2022, arXiv 2205.13147): rank by cosine over only the FIRST
    * `prefixDim` components (the cheap first-pass scan a tiered
    * retrieval system runs at ¼ the bandwidth), then measure recall@k
    * against the full-dimension exact ranking. Same fixed-query-set
    * brute-force shape as [[bruteForceTopK]]; the truncation is a
    * per-row `slice`, so the scan reads ¼ of each vector's arithmetic
    * with no index at all. */
  def matryoshkaRecall(emb: DataFrame, queryMaxId: Long, k: Int,
                       prefixDim: Int = 16): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      matryoshkaTopK(emb, queryMaxId, k, prefixDim), k)

  /** The truncated-prefix brute scan itself (the serving leg of
    * [[matryoshkaRecall]], exposed so the serve-mode router can measure
    * and the consumed pick can serve it): every candidate touched at
    * `prefixDim` of `dim` components. Output: (q_id, vec_id, c, rk). */
  def matryoshkaTopK(emb: DataFrame, queryMaxId: Long, k: Int,
                     prefixDim: Int = 16): DataFrame = {
    require(prefixDim >= 1, "prefixDim must be positive")
    val e = emb.select(col("vec_id"), slice(quant, 1, prefixDim).as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    bruteScan(e, queryMaxId, Seq(col("q").as("qq"), col("n2").as("qn2")))
      .withColumn("c", cosinePre(col("qq"), col("q"), col("qn2"), col("n2")))
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("vec_id"), col("c"), col("rk"))
  }

  /** SQ8 SCALAR-QUANTIZATION SEARCH + RECALL — the third point on the
    * compression-accuracy curve next to PQ ([[pqTopK]]) and matryoshka
    * truncation: every component re-coded to ONE BYTE against the
    * corpus's per-dimension [min, max] range (the faiss
    * ScalarQuantizer/QT_8bit recipe), a 4× scan-bandwidth cut at full
    * dimensionality — where PQ trades dimensions for codebooks and
    * matryoshka just drops dimensions.
    *
    * Exactness: code = ((x − mn)·255) div (mx − mn) — nonnegative
    * integer division, identical truncation in both engines — and
    * scoring DECODES to the midpoint x̂ = mn + (code + ½)·Δ/255 kept as
    * the INTEGER numerator X = 510·mn + (2·code + 1)·(mx − mn) over the
    * constant denominator 510, clamped to 510·mx for the one code (255)
    * whose midpoint would overshoot the per-dimension max — faiss
    * reconstruction stays within [mn, mx] — so the decoded cosine is
    * exact integer dots + one final IEEE divide/sqrt — bit-identical
    * across engines (bounds: |X| ≤ ~1.5e6, n2 ≤ 64·X² ≈ 1.4e14 —
    * Long-safe).
    *
    * Scale shape: the range stats are ONE 64-row partial-agg broadcast
    * (two scans of the corpus total); coding is row-local. The
    * evaluation search is the fixed-query brute scan the other recall
    * diagnostics use; a production serve would run the same decoded
    * dot inside the IVF cell join with codes at ¼ the bytes. Output:
    * (q_id, hits, recall@k) vs the exact full-precision ranking. */
  def sq8Recall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      sq8TopK(emb, queryMaxId, k), k)

  /** The SQ8 decoded-cosine brute scan itself (the serving leg of
    * [[sq8Recall]], exposed so the serve-mode router can measure and
    * the consumed pick can serve it): every candidate touched at ONE
    * byte per component instead of eight. Output: (q_id, vec_id, c,
    * rk). */
  def sq8TopK(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val ex = emb.select(col("vec_id"), quant.as("q"))
      .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
    val stats = ex.groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val coded = ex.join(broadcast(stats), Seq("i"))
      // least(..., 510·mx): the top code (x = mx → 255) would otherwise
      // decode to mn + 511·Δ/510 > mx — faiss reconstruction stays
      // within [mn, mx], so clamp the one overshooting code to mx
      // (codes ≤ 254 decode strictly inside the range already)
      .withColumn("xd", when(col("mx") > col("mn"),
          least(
            lit(510L) * col("mn") +
              (expr("((x - mn) * 255L) div (mx - mn)") * 2L + 1L) *
                (col("mx") - col("mn")),
            lit(510L) * col("mx")))
        .otherwise(lit(510L) * col("mn")))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("xd")))),
        s => s.getField("xd")).as("dq"))
    val e = coded.withColumn("n2", dot(col("dq"), col("dq")))
    bruteScan(e, queryMaxId, Seq(col("dq").as("qq"), col("n2").as("qn2")))
      .withColumn("c", cosinePre(col("qq"), col("dq"), col("qn2"), col("n2")))
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("vec_id"), col("c"), col("rk"))
  }

  /** ISOLATION-FOREST OUTLIER SCREEN over the embedding table — the
    * unsupervised data-cleaning pass run before indexing/training (see
    * [[graft.models.IsoLocal]] for the deterministic-fit design and the
    * two documented monotone deviations). Fit-small/score-distributed,
    * the m3 GBT split: each tree's ~[[graft.models.IsoLocal.Psi]]-row
    * subsample is a content-independent md5 draw (adaptive threshold
    * Psi·1e6/n — the m3 adaptive-modulus recipe, so the subsample stays
    * reference-sized at ANY corpus scale), ONE collect gathers all
    * trees' subsamples, the fitted cut table broadcasts, and scoring is
    * one row-local pass. The top-k most isolable points surface via
    * orderBy().limit() — TakeOrderedAndProject (per-partition heads +
    * merge), never a global window. Output: (vec_id, path_sum,
    * mean_path), smallest path first. */
  def isoOutliers(emb: DataFrame, topK: Int = 20, dim: Int = 64): DataFrame = {
    import graft.models.IsoLocal
    import graft.models.IsoLocal.{Trees, Psi, DrawMod}
    val e = emb.select(col("vec_id"), quant.as("q"))
    val n = e.count()
    require(n > 0, "isoOutliers: empty embedding table")
    val thr = math.max(1L, Psi * DrawMod / n)
    val drawCols = (0 until Trees).map(t =>
      (graft.pipeline.TextOps.mdDraw6On(s"iso$t", col("vec_id")) < thr).as(s"s$t"))
    val sub = e.select((col("vec_id") +: col("q") +: drawCols): _*)
      .filter((0 until Trees).map(t => col(s"s$t")).reduce(_ || _))
      .collect()
    val samples = (0 until Trees).map { t =>
      sub.filter(_.getBoolean(2 + t)).map(_.getSeq[Long](1).toArray)
    }.toArray
    val cuts = IsoLocal.fit(samples, dim)
    val bc = e.sparkSession.sparkContext.broadcast(cuts)
    val score = udf((v: Seq[Long]) => IsoLocal.pathSum(bc.value, v.toArray))
    e.withColumn("path_sum", score(col("q")))
      .select(col("vec_id"), col("path_sum"),
        round(col("path_sum").cast("double") / Trees + lit(1e-9), 4).as("mean_path"))
      .orderBy(col("path_sum"), col("vec_id"))
      .limit(topK)
  }

  /** MEAN-RECIPROCAL-RANK diagnostic of the multi-probe search — the
    * graded companion to recall@k: per query, WHERE the true nearest
    * neighbor (exact top-1) lands in the approximate ranking. Recall@k
    * only answers "inside the top k or not"; MRR bills a miss at rank 7
    * differently from rank 2 — and reciprocal rank is RATIONAL (one
    * IEEE division), where nDCG's log2 discount would break the
    * exactness contract. rank_found = 0 marks the true neighbor absent
    * from the approx top-`kApprox` entirely. Per-query rows; the mean
    * is one aggregation away. */
  def multiprobeMrr(emb: DataFrame, queryMaxId: Long,
                    kApprox: Int = 10): DataFrame = {
    val exact1 = bruteForceTopK(emb, queryMaxId, 1)
      .select(col("q_id"), col("vec_id"))
    val approx = ivfMultiprobeTopK(emb, kApprox)
      .filter(col("q_id") < queryMaxId)
      .select(col("q_id"), col("vec_id"), col("rk"))
    exact1.join(approx, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("vec_id").as("true_nn"),
        coalesce(col("rk").cast("long"), lit(0L)).as("rank_found"),
        round(when(col("rk").isNotNull,
            lit(1.0).cast("double") / col("rk")).otherwise(lit(0.0))
          + lit(1e-9), 6).as("rr"))
  }

  /** Smallest b ≥ 1 (capped at `maxBits`) with 2^b · targetCellSize ≥ n —
    * exact integer arithmetic so the DuckDB oracle (same search over
    * range(1,17)) picks the identical b; a floating ceil(log2(…)) could
    * differ by 1 ulp across libms exactly at powers of two. */
  def cellBits(n: Long, targetCellSize: Int, maxBits: Int = 16): Int = {
    var b = 1
    while (b < maxBits && (1L << b) * targetCellSize < n) b += 1
    b
  }

  /** IVF-style cell-restricted top-k.
    *
    * Cells are the first `b` hyperplane-sign bits of each vector, with
    * b chosen so the average cell holds ~`targetCellSize` vectors: cell
    * count grows LINEARLY with the corpus, so total candidate pairs are
    * O(n · targetCellSize) — not O(n²/cells) as a fixed cell set would
    * give. (b caps at 16 → 65,536 cells; raise the cap before cells
    * saturate at ~ targetCellSize·65k vectors.)
    *
    * Pair scoring is fully relational: one posexplode of the corpus feeds
    * the cell assignment, the per-vector norms, and both sides of the
    * candidate dot products (explode → equi-join on (pair, component) →
    * groupBy-sum), keeping the hot path in whole-stage codegen instead of
    * interpreted per-pair zip_with folds. */
  def ivfTopK(emb: DataFrame, k: Int, targetCellSize: Int = 50,
              knownN: Long = -1L): DataFrame = {
    val bits = cellBits(if (knownN >= 0) knownN else emb.count(), targetCellSize)
    // (vec_id, i, x): the exploded view each downstream leg re-derives.
    // Deliberately NOT persisted: the explode is a cheap projection of
    // one scan (A/B-benched within noise of the cached form), while a
    // persist here would pin corpus×dim rows per call for the session
    // lifetime.
    val ex = emb.select(col("vec_id"), quant.as("q"))
      .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
    val cells = signProjections(emb, bits)
      .groupBy(col("vec_id"))
      .agg(concat_ws(",", transform(array_sort(collect_list(struct(col("h"), col("bit")))),
        x => x.getField("bit").cast("string"))).as("cell"))
    val norms = ex.groupBy(col("vec_id")).agg(sum(col("x") * col("x")).as("n2"))
    val cands = cells.select(col("vec_id").as("q_id"), col("cell"))
      .join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("vec_id"))
    val dots = cands
      .join(ex.select(col("vec_id").as("q_id"), col("i"), col("x").as("xq")), Seq("q_id"))
      .join(ex.select(col("vec_id"), col("i"), col("x").as("xv")), Seq("vec_id", "i"))
      .groupBy(col("q_id"), col("cell"), col("vec_id"))
      .agg(sum(col("xq") * col("xv")).as("dp"))
    dots
      .join(norms.select(col("vec_id").as("q_id"), col("n2").as("qn2")), Seq("q_id"))
      .join(norms, Seq("vec_id"))
      .withColumn("c", col("dp").cast("double") /
        sqrt(col("qn2").cast("double") * col("n2").cast("double")))
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("cell"), col("vec_id"),
        round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** Multi-probe IVF top-k: each query searches its OWN cell plus every
    * cell at hamming distance 1 from it (flip each of the b sign bits) —
    * the standard recall lever for sign-partitioned indexes: near
    * neighbors that land just across one hyperplane are recovered at the
    * cost of a bounded (b+1)× candidate fanout, still O(n · (b+1) ·
    * targetCellSize) total work, never all-pairs. Scoring is the shared
    * per-pair fold ([[serveScore]] — see its crossover note). */
  def ivfMultiprobeTopK(emb: DataFrame, k: Int, targetCellSize: Int = 50,
                        knownN: Long = -1L): DataFrame = {
    val bits = cellBits(if (knownN >= 0) knownN else emb.count(), targetCellSize)
    // both the cell assignment and the probe expansion read bitArr, and
    // its upstream is the full projection shuffle: scope-persisted
    val bitArr = graft.CacheScope.persist(signProjections(emb, bits)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("h"), col("bit")))),
        x => x.getField("bit")).as("ba")))
    val cells = bitArr.select(col("vec_id"),
      concat_ws(",", transform(col("ba"), v => v.cast("string"))).as("cell"))
    // probe p = -1 keeps the own cell; p in [0, b) flips bit p
    val probes = bitArr.select(col("vec_id").as("q_id"),
        explode(sequence(lit(-1), lit(bits - 1))).as("p"), col("ba"))
      .select(col("q_id"), concat_ws(",", transform(col("ba"),
        (v, i) => when(i === col("p"), lit(1) - v).otherwise(v).cast("string")))
        .as("cell"))
    val cands = probes.join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    serveScore(emb, emb, cands, k)
  }

  /** Shared tail of every probed search and the serving-path scorer:
    * exact quantized cosine of each candidate (q_id, vec_id) pair, the
    * query vectors read from `queries` and the candidates from `corpus`
    * (the same frame when the queries are corpus members), then the
    * per-query top-k. Two equi-joins on the pair ids, then one zip_with
    * fold per pair (the [[lshPairs]] profiling holds here too: at the
    * multi-probe candidate volumes — hundreds of thousands of pairs —
    * the per-pair fold beats the posexplode relational dot, whose
    * (pairs × dim) join rows dominate; switching this path from
    * exploded dots measured 19.1 s → 6.7 s for ann_ivf_kmeans and
    * 7.5 s → 2.0 s for ann_ivf_multiprobe at sf0.1). */
  private[graft] def serveScore(queries: DataFrame, corpus: DataFrame,
                                cands: DataFrame, k: Int): DataFrame = {
    // one projection for both sides, so a persisted corpus projection of
    // this shape (the graph search's) serves the query side as well
    def quantized(df: DataFrame): DataFrame = df.select(col("vec_id"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    cands
      .join(quantized(queries)
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2")), Seq("q_id"))
      .join(quantized(corpus), Seq("vec_id"))
      .withColumn("c", cosinePre(col("qq"), col("q"), col("qn2"), col("n2")))
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("vec_id"),
        round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** Integer-exact Lloyd fit on a deterministic sample — the k-means
    * coarse quantizer for [[ivfKmeansTopK]].
    *
    * Everything is chosen to be exactly replayable in SQL (the DuckDB
    * oracle re-runs the identical fit as unrolled CTEs):
    *  - sample = the `sampleSize` lowest vec_ids (one TakeOrdered pass —
    *    at 100 TB you'd swap in a hash-sample; the bound keeps the fit
    *    O(sample · k · dim · iters) on the driver, the [[graft.models
    *    .GbtLocal]] fit-small/score-distributed split);
    *  - k = min(ceil(n / targetCellSize), sampleSize), so cell count
    *    grows linearly with the corpus exactly like [[cellBits]];
    *  - init = the k lowest-vec_id sample vectors; `iters` FIXED Lloyd
    *    rounds (no data-dependent convergence test to diverge on);
    *  - centroids stay INTEGER: component mean rounded half-away-from-
    *    zero with pure Long arithmetic ((2s+m)/(2m), sign-split so
    *    truncating division agrees between Scala and DuckDB `//`), so
    *    every distance comparison is exact BIGINT on both engines;
    *  - assignment ties break to the lowest cid; empty clusters keep
    *    their previous centroid.
    */
  /** Default probe count for the k-means IVF: ceil(k/5) bounded at 16.
    * The bound is the scale invariant — cell count k grows linearly
    * with the corpus, so any nprobe proportional to k makes total
    * candidate work quadratic; a constant cap keeps it O(n). Mirrored
    * verbatim by the oracle's `np` CTE. */
  def defaultNprobe(k: Int): Int = math.min(16, math.max(1, (k + 4) / 5))

  def kmeansCentroids(emb: DataFrame, targetCellSize: Int = 50,
                      sampleSize: Int = 512, iters: Int = 4,
                      knownN: Long = -1L,
                      hashSalt: Option[String] = None): Array[Array[Long]] = {
    val samp = quantSample(emb, sampleSize, hashSalt)
    val n = if (knownN >= 0) knownN else emb.count()
    val k = math.max(1L,
      math.min((n + targetCellSize - 1) / targetCellSize, samp.length.toLong)).toInt
    lloydFit(samp, k, iters)
  }

  /** The shared deterministic fit sample (one TakeOrdered pass — per-
    * partition heaps, never a global sort). Default order is the
    * `sampleSize` LOWEST vec_ids; with `hashSalt` set the sample is the
    * lowest md5 DRAWS instead — content-independent and corpus-
    * REPRESENTATIVE, which is the production choice at 100 TB where an
    * id prefix is ingest-order biased (oldest shard, one source). Both
    * orders are exactly replayable in SQL. */
  private[graft] def quantSample(emb: DataFrame, sampleSize: Int,
                                 hashSalt: Option[String] = None): Array[Array[Long]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), quant.as("q"))
    val ordered = hashSalt match {
      case None => base.orderBy(col("vec_id"))
      case Some(salt) => base.withColumn("dr", vecDraw(salt))
        .orderBy(col("dr"), col("vec_id"))
    }
    val samp: Array[Array[Long]] = ordered.limit(sampleSize)
      .select(col("q")).as[Seq[Long]].collect().map(_.toArray)
    require(samp.nonEmpty, "vector fit needs a non-empty corpus")
    samp
  }

  /** Deterministic md5 draw on vec_id (the [[graft.pipeline.TextOps
    * .mdDraw6]] convention, vector-id keyed): 60-bit md5 prefix mod 1e6.
    * SQL spelling: CAST('0x'||substr(md5('salt:'||vec_id),1,15) AS
    * BIGINT) % 1000000. */
  private[graft] def vecDraw(salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), col("vec_id").cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L

  /** The integer-exact Lloyd loop itself, over an in-memory sample —
    * shared by the IVF coarse quantizer (full vectors) and the PQ
    * sub-quantizers (per-subspace slices). Same exactness contract as
    * documented on [[kmeansCentroids]]. */
  private[graft] def lloydFit(samp: Array[Array[Long]], k: Int,
                              iters: Int): Array[Array[Long]] = {
    val dim = samp.head.length
    var cents = samp.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val cnts = new Array[Long](cents.length)
      samp.foreach { v =>
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0L; var j = 0
          while (j < dim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c } // strict < -> lowest-cid tie
          c += 1
        }
        cnts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnts(c) == 0L) cents(c)
        else Array.tabulate(dim) { j =>
          val s = sums(c)(j); val m = cnts(c)
          if (s >= 0) (2 * s + m) / (2 * m) else -((-2 * s + m) / (2 * m))
        }
      }
    }
    cents
  }

  /** Distance-ranked centroid assignments: one (vec_id, cid, dist, rn)
    * row per vector × centroid rank, rn = rank by (dist, cid) within
    * the vector, capped at `maxRank`. rn = 1 is the cell assignment;
    * rn <= nprobe is the probe set.
    *
    * Fully MAP-SIDE: the centroid matrix ships as a literal inside the
    * transform expression (plan-embedded broadcast), and the per-vector
    * ranking is an in-row array_sort over (dist, cid) structs — struct
    * ordering is field-by-field, exactly the (dist asc, cid asc)
    * tie-break — sliced to `maxRank` before exploding. ZERO shuffles:
    * the earlier formulation exploded all n·k rows through a window
    * exchange on vec_id just to rank them, an exchange this in-row sort
    * makes unnecessary at any corpus size.
    *
    * The (dist, cid) structs are built by ONE index-aware transform over
    * the centroid literal, so each distance fold evaluates exactly once
    * per row. (A first cut staged a separate `dists` column and indexed
    * it k times from a second transform — project collapse inlined the
    * whole k×dim fold into every element_at, k× the arithmetic: 7.5 s →
    * 140 s at sf0.1. Same cliff as the README's linear-size-expression
    * invariant; keep repeated references OUT of collapsible projects.) */
  private[graft] def kmeansRanked(emb: DataFrame, cents: Array[Array[Long]],
                                  maxRank: Int): DataFrame =
    emb.select(col("vec_id"),
        ncol(graft.functions.KmeansRank(nexpr(quant), cents, maxRank)).as("rc"))
      .select(col("vec_id"), posexplode(col("rc")).as(Seq("rn0", "dc")))
      .select(col("vec_id"), col("dc.c").as("cid"), col("dc.d").as("dist"),
        (col("rn0") + 1).as("rn"))

  /** Portable Column-DSL twin of [[kmeansRanked]] — semantics reference,
    * pinned bit-equal by NativeVecSpec. Rides two interpreted cliffs the
    * native [[graft.functions.KmeansRank]] avoids (see its scaladoc). */
  private[graft] def kmeansRankedDsl(emb: DataFrame, cents: Array[Array[Long]],
                                     maxRank: Int): DataFrame = {
    val k = cents.length
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    emb.select(col("vec_id"), quant.as("q"))
      .withColumn("rc", slice(array_sort(transform(centsLit, (cv, i) =>
        struct(sqdistDsl(col("q"), cv).as("d"), i.cast("int").as("c")))),
        1, math.min(maxRank, k)))
      .select(col("vec_id"), posexplode(col("rc")).as(Seq("rn0", "dc")))
      .select(col("vec_id"), col("dc.c").as("cid"), col("dc.d").as("dist"),
        (col("rn0") + 1).as("rn"))
  }

  /** IVF top-k with a k-means coarse quantizer: corpus vectors live in
    * their nearest-centroid cell; each query probes its `nprobe` nearest
    * cells (the standard IVF recall lever — sign-cells lose recall on
    * CLUSTERED data that k-means cells keep, because cell boundaries
    * follow the data instead of fixed hyperplanes). Candidate work is
    * O(n · nprobe · targetCellSize): linear in the corpus, bounded
    * fanout, never all-pairs. nprobe defaults to ceil(k/5) CAPPED at 16:
    * the uncapped ratio probes 20% of a cell count that itself grows
    * linearly with the corpus, making total candidate work O(n²/5) — at
    * sf0.1 that was 80M scored pairs (10.4 s); the cap keeps per-query
    * work constant (nprobe × targetCellSize candidates) so total work
    * stays linear, the standard fixed-nprobe IVF serving contract. */
  def ivfKmeansTopK(emb: DataFrame, k: Int, targetCellSize: Int = 50,
                    nprobeOverride: Int = -1, knownN: Long = -1L,
                    hashSalt: Option[String] = None): DataFrame = {
    val cents = kmeansCentroids(emb, targetCellSize, knownN = knownN,
      hashSalt = hashSalt)
    val nprobe = if (nprobeOverride > 0) nprobeOverride
                 else defaultNprobe(cents.length)
    // cells (rn = 1) and probes (rn <= nprobe) both read the ranked
    // frame; without a cache the per-row k x dim distance transform
    // runs twice — scope-persisted
    val ranked = graft.CacheScope.persist(kmeansRanked(emb, cents, nprobe))
    val cells = ranked.filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    // each corpus vector lives in exactly one cell and probe cids are
    // distinct per query, so (q_id, vec_id) pairs are already unique
    val cands = probes.join(cells, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    serveScore(emb, emb, cands, k)
  }

  /** recall@k of an approximate search vs the exact baseline: hits per
    * query and the hit fraction — the shared scaffold for every ANN
    * quality diagnostic below. */
  private def recallVs(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val e = exact.select(col("q_id"), col("vec_id"))
    val hits = e.join(approx.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    e.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 4).as("recall"))
  }

  /** recall@k of the multi-probe search vs the exact baseline — the
    * companion diagnostic to [[ivfRecall]] quantifying what the (b+1)×
    * probe fanout buys back. */
  def multiprobeRecall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      ivfMultiprobeTopK(emb, k).filter(col("q_id") < queryMaxId), k)

  /** recall@k of the k-means-quantized nprobe search vs the exact
    * baseline — the diagnostic that shows what data-following cells buy
    * over fixed sign-hyperplane cells on clustered corpora. */
  def kmeansRecall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      ivfKmeansTopK(emb, k).filter(col("q_id") < queryMaxId), k)

  /** Top-k by L2 distance on the 16-long RANDOM-PROJECTION sketch
    * ([[rawProjections]]) — the coarse first-pass scan of a compressed
    * index: 16 longs per vector instead of d floats, exact integer
    * distances, the corpus streamed once against the broadcast query
    * sketches. At 100 TB this is the representation the full-scan
    * fallback actually reads (16×8 bytes/vector ≈ 12 GB/billion). */
  def rpTopK(emb: DataFrame, queryMaxId: Long, k: Int,
             nPlanes: Int = 16): DataFrame = {
    val proj = rawProjections(emb, nPlanes)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("h"), col("p")))).as("hp"))
      .select(col("vec_id"), transform(col("hp"), x => x.getField("p")).as("rp"))
    bruteScan(proj, queryMaxId, Seq(col("rp").as("qrp")))
      .withColumn("dst", aggregate(
        zip_with(col("qrp"), col("rp"), (a, b) => (a - b) * (a - b)),
        lit(0L), _ + _))
      .transform(topK(col("dst"), k))
      .select(col("q_id"), col("vec_id"), col("dst"), col("rk"))
  }

  /** recall@k of the RP-sketch scan vs the exact cosine baseline — what
    * 16 signed projections keep of the true neighborhood (JL distortion
    * made measurable). */
  def rpRecall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      rpTopK(emb, queryMaxId, k), k)

  /** LSH near-pair mining: bucket by banded sign keys, equi-join on the
    * key, verify candidates with the exact quantized cosine at `threshold`.
    *
    * Scoring is a per-pair zip_with fold after two equi-joins on the pair
    * ids. With 8-bit bands the noise-corpus candidate set at sf0.1 is
    * 71,638 pairs of 2M possible (3.6% density — the 4-bit bands of
    * rounds 1–4 passed 812k ≈ 40%, near-quadratic; see the band-width
    * rationale above). Profiled alternatives when scoring dominated at
    * 812k candidates: a posexplode relational dot (52M rows) and a flat
    * 64-term element_at unroll (generated method too big to JIT) both
    * measured SLOWER end-to-end (8.7 s / 18.5 s vs 4.5 s), so the simple
    * fold stays — now over 11× fewer pairs. */
  def lshPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    // hot-bucket cap (DedupOps.MaxBandBucket): a sign-band bucket holds
    // N/256 vectors on average at scale, and one duplicated-embedding
    // family turns the self-join quadratic — same guard, same oracle
    // replay as the MinHash side
    val bands = DedupOps.capBands(signBandsRelational(emb), DedupOps.MaxBandBucket,
      persistInput = true)
    val cands = bands.as("a").join(bands.as("b"), Seq("bkey"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cands
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("n2a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("n2b")), Seq("vec_b"))
      .withColumn("c", cosinePre(col("qa"), col("qb"), col("n2a"), col("n2b")))
      .filter(col("c") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c") + lit(1e-9), 6).as("cosine"))
  }

  /** ANN quality diagnostic: recall@k of the IVF cell-restricted search
    * against the exact brute-force baseline, per query vector — the
    * metric that tells you whether the cell size/count trade-off is
    * losing neighbors before you ship it. Both sides are engine queries,
    * so the whole evaluation (including the recall fraction) has an
    * exact SQL oracle. */
  def ivfRecall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      ivfTopK(emb, k).filter(col("q_id") < queryMaxId), k)

  /** Mean-pooled centroid per label: component-wise mean of the
    * quantized embeddings, long format (label, i, n_vecs, mean_c) — the
    * "average embedding per class/source" every curation pipeline
    * computes. One explode + one partial-aggregated groupBy shuffle;
    * exact BIGINT sums so the single double division is bit-identical
    * across engines. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), quant.as("q"))
      .select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      // i cast long: DuckDB's range indexes are BIGINT and the driver's
      // hash compare is type-sensitive
      .groupBy(col("label"), col("i").cast("long").as("i"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("x")).cast("double") / count(lit(1)) + lit(1e-9), 4)
          .as("mean_c"))

  /** Build the k-means IVF index ONCE and persist it (centroid matrix +
    * cell assignments as parquet), then reload and serve top-k from the
    * stored index — the build/serve split a production vector store
    * runs (index build is the expensive pass; serving recomputes only
    * the query-side probe ranking). Results are identical to
    * [[ivfKmeansTopK]] by construction, which is what the oracle checks. */
  def ivfKmeansServe(emb: DataFrame, k: Int, indexDir: String,
                     targetCellSize: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // build + persist
    val cents = kmeansCentroids(emb, targetCellSize)
    cents.zipWithIndex.map { case (c, cid) => (cid, c.toSeq) }.toSeq
      .toDF("cid", "cent")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    kmeansRanked(emb, cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
      .write.mode("overwrite").parquet(s"$indexDir/cells")
    // reload + serve: probe ranking recomputes against the RELOADED
    // centroid matrix (collected back to a literal — k x dim longs)
    val reloaded = spark.read.parquet(s"$indexDir/centroids")
      .orderBy("cid").select(col("cent"))
      .as[Seq[Long]].collect().map(_.toArray)
    val nprobe = defaultNprobe(reloaded.length)
    val probes = kmeansRanked(emb, reloaded, maxRank = nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    val cells = spark.read.parquet(s"$indexDir/cells")
    val cands = probes.join(cells, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    serveScore(emb, emb, cands, k)
  }

  /** INCREMENTAL INDEX ADD — the production path for a growing corpus:
    * build + persist the k-means IVF over the EXISTING corpus (`vec_id <
    * splitId`), then fold a new vector batch into the persisted index by
    * assigning it to the EXISTING centroids (the same map-side
    * [[kmeansRanked]] pass, NO refit — the batch-append contract every
    * IVF store offers between periodic rebuilds), and serve top-k over
    * the extended index. Appended assignments land in their own parquet
    * subdir (`cells_new`), so re-running the append is idempotent and
    * the base assignment is never recomputed — per batch the work is
    * O(|batch| · k) assignment plus the serve, independent of the
    * existing corpus size.
    *
    * Because assignment is per-vector deterministic given the centroid
    * matrix, the extended index is IDENTICAL to a from-scratch
    * assignment of the full corpus at the same (base-fitted) centroids —
    * the equality the oracle and KmeansIvfSpec pin. Centroid drift from
    * the unfitted batch is the accepted trade until the next rebuild
    * (standard IVF practice; [[ivfKmeansServe]] is the rebuild path). */
  /** BUILD + PERSIST the base IVF index over the existing corpus
    * (`vec_id < splitId`): Lloyd-fit centroids and the base cell
    * assignments land in parquet under `indexDir` — the expensive pass
    * a production store runs once per rebuild cycle, factored out of
    * [[ivfKmeansAppend]] so batch appends never repeat it. */
  def ivfKmeansBuild(emb: DataFrame, splitId: Long, indexDir: String,
                     targetCellSize: Int = 50): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.filter(col("vec_id") < splitId)
    val cents = kmeansCentroids(base, targetCellSize)
    cents.zipWithIndex.map { case (c, cid) => (cid, c.toSeq) }.toSeq
      .toDF("cid", "cent")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    kmeansRanked(base, cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
      .write.mode("overwrite").parquet(s"$indexDir/cells")
  }

  def ivfKmeansAppend(emb: DataFrame, splitId: Long, k: Int, indexDir: String,
                      targetCellSize: Int = 50,
                      rebuildBase: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // build only when asked (the deterministic verify path) or when no
    // persisted index exists yet; the steady-state append call finds the
    // index on disk and does O(|batch|) work end-to-end — the base
    // corpus is never re-assigned per batch
    val centPath = new org.apache.hadoop.fs.Path(s"$indexDir/centroids")
    val fs = centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rebuildBase || !fs.exists(centPath))
      ivfKmeansBuild(emb, splitId, indexDir, targetCellSize)
    // append: reload the centroid matrix, assign ONLY the new batch
    val reloaded = spark.read.parquet(s"$indexDir/centroids")
      .orderBy("cid").select(col("cent"))
      .as[Seq[Long]].collect().map(_.toArray)
    kmeansRanked(emb.filter(col("vec_id") >= splitId), reloaded, maxRank = 1)
      .select(col("vec_id"), col("cid"))
      .write.mode("overwrite").parquet(s"$indexDir/cells_new")
    // serve over the extended index (stored base cells ∪ appended cells)
    val nprobe = defaultNprobe(reloaded.length)
    val probes = kmeansRanked(emb, reloaded, maxRank = nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    val cells = spark.read.parquet(s"$indexDir/cells")
      .unionByName(spark.read.parquet(s"$indexDir/cells_new"))
    val cands = probes.join(cells, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    serveScore(emb, emb, cands, k)
  }

  /** Embedding-cosine near-duplicate verdicts: candidate pairs come from
    * the banded sign-LSH equi-join ([[lshPairs]] — never all-pairs),
    * scored with the exact quantized cosine; a vector is a DUPLICATE of
    * its smallest ≥-threshold neighbor by id, the same keep-min-id
    * convention as [[DedupOps.dedupExact]]. One row per duplicate:
    * (vec_id, dup_of, cosine to dup_of); vectors absent from the output
    * are the surviving representatives. */
  def embCosineDups(emb: DataFrame, threshold: Double): DataFrame =
    lshPairs(emb, threshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"),
        min_by(col("cosine"), col("vec_a")).as("cosine"))

  /** PRODUCT-QUANTIZATION sub-quantizers: split the `dim`-dimensional
    * quantized vectors into `m` contiguous subspaces and Lloyd-fit `k`
    * centroids in EACH — the codebooks of the standard vector-store
    * compression (Jégou et al. 2011): a vector becomes `m` small codes
    * (here 4 × 4 bits ≈ 2 bytes vs 64 floats). Fit is the shared
    * integer-exact [[lloydFit]] on the deterministic sample, so the
    * DuckDB oracle replays all `m` codebooks CTE-for-CTE. */
  def pqCentroids(emb: DataFrame, m: Int = 4, k: Int = 16,
                  sampleSize: Int = 512, iters: Int = 2,
                  hashSalt: Option[String] = None): Array[Array[Array[Long]]] = {
    val samp = quantSample(emb, sampleSize, hashSalt)
    val dim = samp.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m)(s => lloydFit(
      samp.map(v => v.slice(s * sub, (s + 1) * sub)),
      math.min(k, samp.length), iters))
  }

  /** PQ code assignment: one (vec_id, m, code) row per vector ×
    * subspace — fully map-side: each subspace's nearest codeword comes
    * from a [[graft.functions.KmeansRank]] call over the sliced
    * quantized child (evaluated once per row; the codebook ships as a
    * plan-embedded literal), then the m codes explode from an in-row
    * array. ZERO shuffles at any corpus size. */
  def pqCodes(emb: DataFrame, cents: Array[Array[Array[Long]]]): DataFrame = {
    val m = cents.length
    val sub = cents(0)(0).length
    val codeCols = (0 until m).map { s =>
      element_at(ncol(graft.functions.KmeansRank(
        nexpr(slice(quant, s * sub + 1, sub)), cents(s), 1)), 1)
        .getField("c")
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
  }

  /** Flat-PQ ADC search: each query's exact subvectors score every
    * codeword once (an m × k lookup table, built relationally from the
    * codebook literals), then every corpus vector's approximate
    * distance is the SUM of its m table entries — one equi-join on
    * (m, code) and one aggregation, never a per-pair distance loop.
    * This is the asymmetric-distance computation (ADC) serving path;
    * production indexes pair it with an IVF cell filter, which
    * composes here exactly like [[ivfKmeansTopK]]'s probe set.
    * Approximate distances are exact BIGINTs, so ties and ranks are
    * engine-portable. Output: (q_id, vec_id, adist, rk). */
  def pqTopK(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val cents = pqCentroids(emb)
    pqCodes(emb, cents).join(adcTable(emb, queryMaxId, cents), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adist"))
      .transform(topK(col("adist"), k))
  }

  /** The ADC lookup table of the query set (`vec_id < queryMaxId`):
    * (q_id, m, code, d), the squared distance from the query's m-th
    * subvector to codeword `code` — one frame per subspace (each carries
    * its own codebook literal), unioned; m·k rows per query. */
  private def adcTable(emb: DataFrame, queryMaxId: Long,
                       cents: Array[Array[Array[Long]]]): DataFrame = {
    val sub = cents(0)(0).length
    val qs = emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), quant.as("qq"))
    cents.indices.map { s =>
      val centsLit = typedlit(cents(s).map(_.toSeq).toSeq)
      qs.select(col("q_id"), lit(s).as("m"),
        posexplode(transform(centsLit, cv =>
          sqdist(slice(col("qq"), s * sub + 1, sub), cv))).as(Seq("code", "d")))
    }.reduce(_ unionByName _)
  }

  /** IVF+PQ — the PRODUCTION vector-serving composition: the k-means
    * coarse quantizer restricts each query to its nprobe probed cells
    * (bounded candidate set, [[ivfKmeansTopK]]'s shape), and the PQ
    * codes score those candidates through the ADC lookup join instead
    * of full-vector arithmetic ([[pqTopK]]'s shape). Candidate work is
    * O(queries · nprobe · targetCellSize) and per-candidate cost is m
    * table lookups — the memory/compute profile a 100 TB vector store
    * actually serves with. Output: (q_id, vec_id, adist, rk). */
  def ivfPqTopK(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val coarse = kmeansCentroids(emb)
    val nprobe = defaultNprobe(coarse.length)
    val ranked = graft.CacheScope.persist(kmeansRanked(emb, coarse, nprobe))
    val cells = ranked.filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    val probes = ranked.filter(col("rn") <= nprobe && col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("cid"))
    val cands = probes.join(cells, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val pq = pqCentroids(emb)
    cands.join(pqCodes(emb, pq), Seq("vec_id"))
      .join(adcTable(emb, queryMaxId, pq), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adist"))
      .transform(topK(col("adist"), k))
  }

  /** Exact L2 top-k baseline (squared-distance order — the metric PQ
    * approximates), query side broadcast like [[bruteForceTopK]]. */
  def bruteForceL2TopK(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    bruteScan(emb.select(col("vec_id"), quant.as("q")), queryMaxId, Seq(col("q").as("qq")))
      .withColumn("d", sqdist(col("qq"), col("q")))
      .transform(topK(col("d"), k))
      .select(col("q_id"), col("vec_id"), col("d"), col("rk"))
  }

  /** recall@k of the flat-PQ ADC search against the exact L2 baseline —
    * what the 2-byte codes give up on this corpus, measured before
    * anyone serves from them. */
  def pqRecall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceL2TopK(emb, queryMaxId, k),
      pqTopK(emb, queryMaxId, k), k)

  /** SEMANTIC DECONTAMINATION: training vectors whose embedding lands
    * within `threshold` cosine of ANY eval/benchmark vector — the
    * embedding-space twin of the n-gram `DedupOps.contamination` pass
    * (paraphrased benchmark leakage shares no shingles but keeps its
    * meaning, so production release checks run BOTH). Candidates come
    * from the banded sign-LSH equi-join with the eval side filtered
    * BEFORE the join — at scale the eval index is tiny and broadcasts
    * itself; never all-pairs. Output: one row per suspect pair
    * (train_id, eval_id, cosine). */
  def semanticContamination(emb: DataFrame, evalPred: Column,
                            threshold: Double): DataFrame = {
    val flagged = emb.withColumn("is_eval", evalPred)
    val e = flagged.select(col("vec_id"), col("is_eval"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    // hot-bucket cap BEFORE the train x eval probe join (a hot bucket
    // fans every eval member by the full train-side bucket); counted
    // over BOTH sides, exactly as the oracle replays it
    val bands = DedupOps.capBands(signBandsRelational(emb), DedupOps.MaxBandBucket,
      persistInput = true)
      .join(flagged.select(col("vec_id"), col("is_eval")), Seq("vec_id"))
    val cands = bands.filter(!col("is_eval"))
      .select(col("vec_id").as("train_id"), col("bkey"))
      .join(bands.filter(col("is_eval"))
        .select(col("vec_id").as("eval_id"), col("bkey")), Seq("bkey"))
      .select(col("train_id"), col("eval_id"))
      .distinct()
    cands
      .join(e.select(col("vec_id").as("train_id"), col("q").as("qa"), col("n2").as("n2a")), Seq("train_id"))
      .join(e.select(col("vec_id").as("eval_id"), col("q").as("qb"), col("n2").as("n2b")), Seq("eval_id"))
      .withColumn("c", cosinePre(col("qa"), col("qb"), col("n2a"), col("n2b")))
      .filter(col("c") >= threshold)
      .select(col("train_id"), col("eval_id"),
        round(col("c") + lit(1e-9), 6).as("cosine"))
  }

  /** RECALL DIAGNOSTIC for the banded semantic-contamination screen —
    * the embedding twin of [[DedupOps.lshRecall]]'s sampled form: the
    * sign-LSH candidate generation is compared against the EXACT
    * train × eval cosine pairs at the same threshold, with BOTH legs
    * gated to the deterministic md5 sub-corpus (`sampleFrac` of
    * vec_ids, salt "scr"). The exact leg is the expensive one (every
    * train vector scores every benchmark vector), so at production
    * scale only the sample ever runs it; the recall read stays
    * unbiased because a pair's banding hit probability depends only on
    * its cosine, not on corpus size. One summary row
    * (n_exact, n_caught, recall); an empty exact set reads as vacuous
    * recall 1.0. */
  def semanticContaminationRecall(emb: DataFrame, evalPred: Column,
                                  threshold: Double,
                                  sampleFrac: Double = 1.0): DataFrame = {
    val base =
      if (sampleFrac >= 1.0) emb
      else emb.filter(vecDraw("scr") < math.round(sampleFrac * 1000000L))
    val e = base.withColumn("is_eval", evalPred)
      .select(col("vec_id"), col("is_eval"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    // exact leg: brute-force train × eval scoring BY DESIGN (the honesty
    // baseline) — the broadcast side is the benchmark set, bounded by
    // eval-suite size and the sample gate
    val exact = e.filter(!col("is_eval"))
        .select(col("vec_id").as("train_id"), col("q").as("qa"), col("n2").as("n2a"))
      .crossJoin(broadcast(e.filter(col("is_eval"))
        .select(col("vec_id").as("eval_id"), col("q").as("qb"), col("n2").as("n2b"))))
      .withColumn("c", cosinePre(col("qa"), col("qb"), col("n2a"), col("n2b")))
      .filter(col("c") >= threshold)
      .select(col("train_id"), col("eval_id"))
    val approx = semanticContamination(base, evalPred, threshold)
      .select(col("train_id"), col("eval_id")).withColumn("hit", lit(1L))
    exact.join(approx, Seq("train_id", "eval_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_caught"))
      .select(col("n_exact"), col("n_caught"),
        when(col("n_exact") === 0, lit(1.0)).otherwise(
          round(col("n_caught").cast("double") / col("n_exact") + lit(1e-9), 4))
          .as("recall"))
  }

  /** INT8 VECTOR COMPRESSION diagnostics: per-vector min/max scalar
    * quantization of the (already integer-quantized) embedding to 8-bit
    * codes — the 4× storage compression a production vector store
    * applies before serving — with exact reconstruction-error stats.
    *
    * All arithmetic stays INTEGER so the oracle replays it bit-for-bit:
    * code_i = round((x_i − mn)·255 / (mx − mn)) computed as
    * ((x−mn)·510 + (mx−mn)) div (2·(mx−mn)) (half-away-from-zero in
    * pure BIGINT — the [[kmeansCentroids]] rounding trick; x−mn ≥ 0 so
    * no sign split needed), and the reconstruction error is measured in
    * the same integer domain as err_i = |(mn·255 + code_i·(mx−mn)) −
    * x_i·255| — error×255, avoiding any division. Constant vectors
    * (mx = mn) code to 0 with zero error. Output: (vec_id, mn, mx,
    * max_err_x255, sum_err_x255). Pure per-row map — no shuffle. */
  def int8QuantStats(emb: DataFrame): DataFrame = {
    // quantize FIRST, derive min/max from the materialized column in a
    // second projection: q is multi-referenced there, so CollapseProject
    // keeps the projections separate and the interpreted quant transform
    // evaluates once per row instead of three times (review finding)
    emb.select(col("vec_id"), quant.as("q"))
      .select(col("vec_id"), col("q"),
        array_min(col("q")).as("mn"), array_max(col("q")).as("mx"))
      .withColumn("rng", col("mx") - col("mn"))
      .withColumn("errs", transform(col("q"), x => {
        // floor(a/b) == a div b exactly for positive BIGINTs below 2^53
        // (IEEE division is correctly rounded and 1/b > 2^-53·(a/b)
        // there), so the double detour can't mis-round; DuckDB spells
        // the same value with its integer `//`
        val code = when(col("rng") === 0, lit(0L)).otherwise(
          floor(((x - col("mn")) * 510 + col("rng")) / (col("rng") * 2)).cast("long"))
        abs(col("mn") * 255 + code * col("rng") - x * 255)
      }))
      .select(col("vec_id"), col("mn"), col("mx"),
        array_max(col("errs")).as("max_err_x255"),
        aggregate(col("errs"), lit(0L), _ + _).as("sum_err_x255"))
  }

  /** SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, arXiv 2303.09540):
    * cluster the corpus with the k-means coarse quantizer, then compare
    * pairs ONLY within each cluster and drop every vector whose cosine
    * to a lower-id cluster-mate reaches `threshold` — the
    * embedding-space analogue of near-dup pruning, catching semantic
    * duplicates that share no n-grams. Same keep-min-id verdict shape
    * as [[embCosineDups]]; the candidate set differs (k-means cells
    * follow the data where LSH sign-bands are fixed hyperplanes).
    * Pair work is Σ_cells |cell|² ≈ n · targetCellSize — linear in the
    * corpus with bounded cell width, never all-pairs. */
  def semDedup(emb: DataFrame, threshold: Double,
               targetCellSize: Int = 50): DataFrame = {
    val cents = kmeansCentroids(emb, targetCellSize)
    val cells = kmeansRanked(emb, cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
    val e = emb.select(col("vec_id"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    val pairs = cells.as("a").join(cells.as("b"), Seq("cid"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    pairs
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("n2a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("n2b")), Seq("vec_b"))
      .withColumn("c", cosinePre(col("qa"), col("qb"), col("n2a"), col("n2b")))
      .filter(col("c") >= threshold)
      .withColumn("cosine", round(col("c") + lit(1e-9), 6))
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"),
        min_by(col("cosine"), col("vec_a")).as("cosine"))
  }

  /** Contrastive HARD-NEGATIVE mining: for each anchor (`vec_id <
    * queryMaxId`), the `k` most-similar vectors carrying a DIFFERENT
    * label, with cosine below `ceil` — the pair-mining step of
    * contrastive embedding training (high-similarity different-class
    * examples are the gradient-rich negatives; `ceil` excludes
    * mislabeled near-duplicates that would poison the batch). Same
    * broadcast-anchors/stream-corpus shape as [[bruteForceTopK]]: the
    * anchor set is the small side by construction, so the corpus scan
    * never shuffles — at production scale the candidate generation
    * would come from the IVF index ([[ivfKmeansTopK]]) with this exact
    * rescore on top. */
  def hardNegatives(emb: DataFrame, queryMaxId: Long, k: Int,
                    ceil: Double = 0.95): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    bruteScan(e, queryMaxId,
        Seq(col("label").as("q_label"), col("q").as("qq"), col("n2").as("qn2")),
        pairFilter = col("label") =!= col("q_label"))
      .withColumn("c", cosinePre(col("qq"), col("q"), col("qn2"), col("n2")))
      .filter(col("c") < ceil)
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("vec_id"),
        round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** Label-conditioned OUTLIER detection — the mislabeled-example /
    * noise-document screen run before contrastive training: distance of
    * each vector to its label centroid, z-scored within the label; the
    * top `perLabel` per label by z are the audit queue.
    *
    * Exactness: the centroid is never materialized as doubles. With
    * S = Σ x (component-wise integer sum) and n the label count,
    * n²·‖x − S/n‖² = n²‖x‖² − 2n(x·S) + ‖S‖² — all BIGINT, so
    * dist = √num / n is one IEEE sqrt+division of identical integers on
    * both engines. Mean/std over dist use the decimal-sum pattern
    * ([[graft.queries.Sql.decSum]]) so partitioning can't reorder the
    * float sums. Shape: one explode feeds both the per-label component
    * sums (a ≤ labels×dim frame, broadcast back) and the per-vector
    * moments — the corpus is scanned once and shuffled on vec_id only. */
  def labelOutliers(emb: DataFrame, perLabel: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ex = emb.select(col("vec_id"), col("label"), quant.as("q"))
      .select(col("vec_id"), col("label"), posexplode(col("q")).as(Seq("i", "x")))
    val sums = ex.groupBy(col("label"), col("i")).agg(sum(col("x")).as("s"))
    val s2 = sums.groupBy(col("label")).agg(sum(col("s") * col("s")).as("s2"))
    val nPer = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val dist = ex.join(broadcast(sums), Seq("label", "i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("x") * col("x")).as("xx"), sum(col("x") * col("s")).as("xs"))
      .join(broadcast(nPer), Seq("label"))
      .join(broadcast(s2), Seq("label"))
      .withColumn("num",
        col("n") * col("n") * col("xx") - lit(2L) * col("n") * col("xs") + col("s2"))
      .withColumn("dist", sqrt(col("num").cast("double")) / col("n"))
    val stats = dist.groupBy(col("label")).agg(
      (sum(col("dist").cast(DecimalType(30, 6))).cast("double") / count(lit(1))).as("mu"),
      (sum((col("dist") * col("dist")).cast(DecimalType(30, 6))).cast("double")
        / count(lit(1))).as("m2"))
      .withColumn("sd", sqrt(col("m2") - col("mu") * col("mu")))
    dist.join(broadcast(stats), Seq("label"))
      .withColumn("z", (col("dist") - col("mu")) / col("sd"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("z").desc, col("vec_id"))))
      .filter(col("rk") <= perLabel)
      .select(col("label"), col("vec_id"),
        round(col("dist") + lit(1e-9), 4).as("dist"),
        round(col("z") + lit(1e-9), 4).as("z"), col("rk"))
  }

  /** Same-cell k-nearest-neighbor GRAPH over the k-means IVF cells: for
    * every vector, its `k` most-cosine-similar neighbors within its own
    * coarse cell — the adjacency structure semantic clustering, graph
    * dedup, and label propagation all start from. Pair work is
    * Σ_cells |cell|² ≈ n · targetCellSize (the [[semDedup]] bound),
    * never all-pairs; the per-source top-k is a window over cell-local
    * candidates only. Output: (src, dst, cosine, rk). */
  def knnGraph(emb: DataFrame, k: Int = 3,
               targetCellSize: Int = 50): DataFrame = {
    val cents = kmeansCentroids(emb, targetCellSize)
    val cells = kmeansRanked(emb, cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
    knnGraphFromCells(emb, cells, k)
  }

  /** [[knnGraph]] over a caller-supplied (vec_id, cid) cell assignment —
    * lets the graph serve ([[graphBeamTopK]]) reuse ONE Lloyd fit for
    * both the adjacency build and its entry layer. `dstCells` (default:
    * the src assignment) lets the incremental append compute NEW nodes'
    * edges against the FULL extended cell membership without re-pairing
    * the base corpus. */
  private[graft] def knnGraphFromCells(emb: DataFrame, cells: DataFrame,
                                       k: Int,
                                       dstCells: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col("vec_id"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
    val pairs = cells.as("a").join(dstCells.getOrElse(cells).as("b"), Seq("cid"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    pairs
      .join(e.select(col("vec_id").as("src"), col("q").as("qa"), col("n2").as("na")), Seq("src"))
      .join(e.select(col("vec_id").as("dst"), col("q").as("qb"), col("n2").as("nb")), Seq("dst"))
      .withColumn("c", cosinePre(col("qa"), col("qb"), col("na"), col("nb")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("c").desc, col("dst"))))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"),
        round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** Beam width of the graph-ANN serve ([[graphBeamTopK]]) — shared with
    * the DuckDB oracle so a retune can't desync the replay. */
  val GraphBeamWidth = 8
  /** Fixed expansion rounds of the graph-ANN serve (shared with the oracle). */
  val GraphBeamRounds = 3

  /** GRAPH-ANN SERVING — deterministic best-first beam search over the
    * [[knnGraph]] adjacency (the HNSW/NSG serving shape: hop the
    * neighbor graph toward the query instead of scanning probed cells;
    * Malkov & Yashunin 2016, arXiv 1603.09320, layer-0 search with a
    * fixed ef/beam). The kNN graph's edges live inside coarse k-means
    * cells, so the entry layer is one md5-drawn representative PER CELL
    * ([[vecDraw]]("gent") min per cid — the two-layer HNSW analogue:
    * a bounded upper layer that reaches every component of the lower
    * graph), and the beam then descends into the most promising cells'
    * local graphs. Everything a replayable oracle needs is pinned:
    * entries are content-independent draws, the frontier expands for
    * exactly `rounds` rounds (no data-dependent stop), and each round's
    * beam is the top-`beam` visited nodes by exact quantized cosine with
    * ties to the lowest vec_id — the visited set is a pure function of
    * (corpus, constants), replayed by DuckDB as unrolled CTEs.
    *
    * Scale shape: per-query state is ≤ ncells + rounds·beam·graphK node
    * ids, and ncells is capped at 512 by the [[kmeansCentroids]] sample
    * bound — INDEPENDENT of corpus size; each round is one join of the
    * (|Q|·beam)-row frontier against the edge list partitioned by src
    * plus one candidate-scoring join against the corpus on vec_id, so
    * serving cost grows with the query batch, never the corpus. The
    * corpus-sized term is the one-time [[knnGraph]] build — the
    * persisted index artifact of this family (built here per-run for
    * oracle determinism; a production serve reads it like
    * [[ivfKmeansServe]] reads its centroids). The whole search is
    * ⌈rounds⌉ shuffles of KB-scale frames at any corpus size — the
    * reason graph serving beats cell scanning once cells outgrow the
    * probe budget. Output: (q_id, vec_id, cosine, rk) — same shape as
    * [[bruteForceTopK]]. */
  def graphBeamTopK(emb: DataFrame, queryMaxId: Long, k: Int,
                    beam: Int = GraphBeamWidth, rounds: Int = GraphBeamRounds,
                    graphK: Int = 3, targetCellSize: Int = 50): DataFrame = {
    val (edges, entries) = graphTopKArtifacts(emb, graphK, targetCellSize)
    graphBeamSearch(emb, edges, entries, queryMaxId, k, beam, rounds)
  }

  /** The fresh-build (edges, entries) pair of [[graphBeamTopK]] —
    * exposed so [[graphIndexStaleness]] can run the fresh serve as one
    * leg of a fused search instead of a second sequential chain. */
  private def graphTopKArtifacts(emb: DataFrame, graphK: Int,
                                 targetCellSize: Int)
      : (DataFrame, DataFrame) = {
    val cents = kmeansCentroids(emb, targetCellSize)
    val cells = graft.CacheScope.persist(
      kmeansRanked(emb, cents, maxRank = 1).select(col("vec_id"), col("cid")))
    val edges = graft.CacheScope.persist(
      knnGraphFromCells(emb, cells, graphK).select(col("src"), col("dst")))
    (edges, entryLayer(cells))
  }

  /** The per-cell entry layer of the graph serve — ONE spelling shared
    * by the build-and-serve path, the persisted-index rebuild, and the
    * refresh-fate graph compaction ([[RefreshOps.compactGraphIndex]]),
    * so none of them can diverge from each other (the oracle's `ent`
    * CTE mirrors it). */
  private[graft] def entryLayer(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cells.withColumn("dr", vecDraw("gent"))
      .withColumn("re", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("dr"), col("vec_id"))))
      .filter(col("re") === 1).select(col("vec_id"))
  }

  /** One leg of a FUSED beam search ([[graphBeamSearchLegs]]): a named
    * (edges, entries, beam, rounds) budget over the shared corpus. */
  private[graft] case class BeamLeg(name: String, edges: DataFrame,
                                    entries: DataFrame, beam: Int, rounds: Int)

  /** The beam search over caller-supplied graph artifacts — shared by
    * the build-and-serve path ([[graphBeamTopK]]) and the
    * persisted-index round-trip ([[graphBeamServe]]). Semantically one
    * leg of [[graphBeamSearchLegs]], kept as its own lean spelling:
    * delegating the single-leg case through the legs machinery measured
    * +0.3–0.6 s per query (leg column in every exchange, CASE beam
    * width, per-round isin filter — pure overhead when there is one
    * leg); GraphAnnSpec's fused-vs-solo pin keeps the two spellings
    * from drifting. */
  private def graphBeamSearch(emb: DataFrame, edges: DataFrame,
                              entries: DataFrame, queryMaxId: Long, k: Int,
                              beam: Int, rounds: Int): DataFrame = {
    val e = graft.CacheScope.persist(
      emb.select(col("vec_id"), quant.as("q"))
        .withColumn("n2", dot(col("q"), col("q"))))
    val qs = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    // score once per (q_id, candidate): exact integer dots, broadcast
    // query side — the only corpus-touching join each round
    def score(cand: DataFrame): DataFrame =
      cand.join(e, Seq("vec_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("c", cosinePre(col("qq"), col("q"), col("qn2"), col("n2")))
        .select(col("q_id"), col("vec_id"), col("c"))
    // each round reads `visited` twice (beam + union), so the lazy plan
    // would double per round — checkpoint the KB-scale frame instead
    // (|Q|·(ncells + rounds·beam·graphK) rows at ANY corpus size; the
    // task-binary growth was measurable at 16 MB by round 3 unchecked)
    var visited = score(qs.select(col("q_id")).crossJoin(broadcast(entries)))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val beamDf = visited.transform(topK(col("c").desc, beam))
        .select(col("q_id"), col("vec_id"))
      val nbrs = beamDf.join(edges, beamDf("vec_id") === edges("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
      // score ONLY the unvisited frontier expansion — already-scored
      // pairs keep their rows (one corpus join per round over the
      // frontier, never a re-score of the whole visited set)
      val fresh = nbrs.distinct()
        .join(visited.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
      visited = visited.union(score(fresh)).localCheckpoint()
    }
    visited.filter(col("vec_id") =!= col("q_id"))
      .transform(topK(col("c").desc, k))
      .select(col("q_id"), col("vec_id"),
        round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** SEVERAL beam searches in ONE doubling loop — the serve-mode
    * router's three (beam, rounds) budgets and the staleness
    * diagnostic's appended-vs-fresh serves are independent searches
    * whose rounds used to run as sequential checkpoint chains (13
    * eager checkpoints for the router's 3+4+6 rounds); tagging every
    * frame with a `leg` column runs them in max(rounds) shared rounds
    * (6 checkpoints) — §2.4's fewer-passes rule applied to the AQE
    * micro-stage tier. Every window partitions by (leg, q_id), every
    * join keys on leg, and a leg past its own `rounds` stops expanding
    * (its rows ride the remaining checkpoints unchanged), so per-leg
    * rows are IDENTICAL to a solo [[graphBeamSearch]] run — GraphAnnSpec
    * pins the router legs against the solo spelling. Because every
    * join and window keys on the leg name, two legs with one name would
    * silently merge their frontiers, so duplicate names are rejected.
    * Output: (leg, q_id, vec_id, cosine, rk). */
  private[graft] def graphBeamSearchLegs(emb: DataFrame, legs: Seq[BeamLeg],
                                         queryMaxId: Long, k: Int): DataFrame = {
    val dup = legs.groupBy(_.name).collect { case (n, ls) if ls.size > 1 => n }
    require(dup.isEmpty, s"graft beam search: duplicate leg name(s) " +
      s"${dup.toSeq.sorted.mkString("'", "', '", "'")} — legs are keyed by name, " +
      "so same-named legs would merge their frontiers")
    import org.apache.spark.sql.expressions.Window
    val e = graft.CacheScope.persist(
      emb.select(col("vec_id"), quant.as("q"))
        .withColumn("n2", dot(col("q"), col("q"))))
    val qs = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    // score once per (leg, q_id, candidate): exact integer dots,
    // broadcast query side — the only corpus-touching join each round
    def score(cand: DataFrame): DataFrame =
      cand.join(e, Seq("vec_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("c", cosinePre(col("qq"), col("q"), col("qn2"), col("n2")))
        .select(col("leg"), col("q_id"), col("vec_id"), col("c"))
    val edgesAll = graft.CacheScope.persist(legs.map(l =>
        l.edges.select(lit(l.name).as("leg"), col("src"), col("dst")))
      .reduce(_ unionByName _))
    val entriesAll = legs.map(l =>
        l.entries.select(lit(l.name).as("leg"), col("vec_id")))
      .reduce(_ unionByName _)
    // per-leg beam width as one CASE chain (bounded: |legs| arms)
    val beamW = legs.tail.foldLeft(
      when(col("leg") === legs.head.name, lit(legs.head.beam))) {
      (acc, l) => acc.when(col("leg") === l.name, lit(l.beam))
    }
    // each round reads `visited` twice (beam + union), so the lazy plan
    // would double per round — checkpoint the KB-scale frame instead
    // (|Q|·Σleg(ncells + rounds·beam·graphK) rows at ANY corpus size;
    // the task-binary growth was measurable at 16 MB by round 3
    // unchecked)
    var visited = score(qs.select(col("q_id")).crossJoin(broadcast(entriesAll)))
      .localCheckpoint()
    val maxRounds = legs.map(_.rounds).max
    for (r <- 1 to maxRounds) {
      val active = legs.filter(_.rounds >= r).map(_.name)
      val beamDf = visited.filter(col("leg").isin(active: _*))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("leg"), col("q_id"))
            .orderBy(col("c").desc, col("vec_id"))))
        .filter(col("rk") <= beamW)
        .select(col("leg"), col("q_id"), col("vec_id").as("src"))
      val nbrs = beamDf.join(edgesAll, Seq("leg", "src"))
        .select(col("leg"), col("q_id"), col("dst").as("vec_id"))
      // score ONLY the unvisited frontier expansion — already-scored
      // pairs keep their rows (one corpus join per round over the
      // frontier, never a re-score of the whole visited set)
      val fresh = nbrs.distinct()
        .join(visited.select(col("leg"), col("q_id"), col("vec_id")),
          Seq("leg", "q_id", "vec_id"), "left_anti")
      visited = visited.union(score(fresh)).localCheckpoint()
    }
    visited.filter(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("leg"), col("q_id"))
          .orderBy(col("c").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("leg"), col("q_id"), col("vec_id"),
        round(col("c") + lit(1e-9), 6).as("cosine"), col("rk"))
  }

  /** recall@k of the graph beam serve vs the exact baseline — the
    * diagnostic that says whether `beam`/`rounds` reach the true
    * neighborhood from the fixed entry points before shipping the graph
    * index (the HNSW twin of [[kmeansRecall]]). */
  def graphBeamRecall(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, queryMaxId, k),
      graphBeamTopK(emb, queryMaxId, k), k)

  /** The (beam, rounds) budgets [[serveModeDiagnostic]] measures the
    * graph serve at — the shipped default plus two escalations (shared
    * with the DuckDB oracle so a retune can't desync the replay). */
  val AnnServeBudgets: Seq[(Int, Int)] =
    Seq((GraphBeamWidth, GraphBeamRounds), (16, 4), (32, 6))
  /** Recall slack of the serve-mode pick: any mode within this of the
    * best measured recall is eligible, and the cheapest eligible mode
    * wins (shared with the oracle). */
  val AnnServeRecallSlack = 0.05
  /** Matryoshka prefix the serve router measures (clamped to the corpus
    * dim on narrower fixtures) — shared with the oracle, which clamps
    * with the SAME LEAST(...) over its SQL-computed dim so the mode
    * name, prefix slice, and bytes bound can never desync from the
    * Spark side's `min(AnnServeMatPrefixDim, dim)`. */
  val AnnServeMatPrefixDim = 16

  /** ANN SERVE-MODE ROUTER — the decision the r15 recall table left
    * implicit: per corpus, measure recall@k of the IVF cell scan and
    * the graph beam at each [[AnnServeBudgets]] budget over the fixed
    * query sample, report the corpus cell evidence (ncells, max cell,
    * corpus size) and each mode's per-query visit bound, and emit the
    * PICK: the cheapest mode whose mean recall is within
    * [[AnnServeRecallSlack]] of the best. The visit bound is each
    * mode's per-query touched-candidate ceiling — nprobe·max_cell for
    * the cell scan (it scans probed cells WHOLE, so it pays cell growth
    * at 100 TB), ncells + rounds·beam·graphK for the beam (corpus-size-
    * independent — the reason the beam wins once cells outgrow the
    * probe budget even where its recall trails on weakly-clustered
    * data). One graph build serves every budget; the exact baseline,
    * cell stats, and all mode rows are single-digit-row frames.
    * Output: one row per mode (mode, beam, rounds, mean_recall,
    * visit_bound, ncells, max_cell, n_vecs, picked). */
  /** The one-fit serve artifacts (frozen centroids, rank-1 cell
    * assignment, same-cell kNN edges, entry layer) shared by the router
    * diagnostic and the picked serve — built ONCE per [[annServeAuto]]
    * call so the consumed pick never pays a second centroid fit, cell
    * assignment, or graph build on top of the diagnostic's. */
  private[graft] case class ServeArtifacts(cents: Array[Array[Long]],
                                           cells: DataFrame, edges: DataFrame,
                                           entries: DataFrame)

  private def serveArtifacts(emb: DataFrame, graphK: Int,
                             targetCellSize: Int): ServeArtifacts = {
    val cents = kmeansCentroids(emb, targetCellSize)
    val cells = graft.CacheScope.persist(
      kmeansRanked(emb, cents, maxRank = 1).select(col("vec_id"), col("cid")))
    val edges = graft.CacheScope.persist(
      knnGraphFromCells(emb, cells, graphK).select(col("src"), col("dst")))
    ServeArtifacts(cents, cells, edges, entryLayer(cells))
  }

  def serveModeDiagnostic(emb: DataFrame, queryMaxId: Long, k: Int,
                          graphK: Int = 3, targetCellSize: Int = 50,
                          budgets: Seq[(Int, Int)] = AnnServeBudgets): DataFrame =
    serveModeDiagnosticWith(emb,
      serveArtifacts(emb, graphK, targetCellSize),
      queryMaxId, k, graphK, targetCellSize, budgets)

  private def serveModeDiagnosticWith(emb: DataFrame, art: ServeArtifacts,
                                      queryMaxId: Long, k: Int,
                                      graphK: Int, targetCellSize: Int,
                                      budgets: Seq[(Int, Int)]): DataFrame = {
    val cells = art.cells
    val edges = art.edges
    val entries = art.entries
    val exact = graft.CacheScope.persist(
      bruteForceTopK(emb, queryMaxId, k).select(col("q_id"), col("vec_id")))
    // corpus cell evidence: 1 row, reused by every mode row
    val cellStats = graft.CacheScope.persist(
      cells.groupBy(col("cid")).agg(count(lit(1)).as("cn"))
        .agg(count(lit(1)).as("ncells"), max(col("cn")).as("max_cell"),
          sum(col("cn")).as("n_vecs")))
    // mean recall as sum(hits)/(nq*k) — integer totals, ONE double
    // division, no mean-of-rounded-means drift between engines.
    // Every mode carries TWO cost bounds: visit_bound (candidates
    // touched per query) and bytes_bound (bytes touched per query =
    // candidates × bytes per candidate) — the memory-bound regime's
    // real currency at 100 TB, where compression IS the decision:
    // full-precision candidates cost dim×8 bytes, PQ codes m bytes,
    // SQ8 codes dim bytes, matryoshka prefixes prefixDim×8 bytes.
    // The pick minimizes bytes_bound.
    val dim = emb.agg(max(size(quant))).head.getInt(0)
    def modeRow(mode: String, beam: Int, rounds: Int, approx: DataFrame,
                bound: Column, bytesPerCand: Long): DataFrame =
      recallVs(exact, approx, k)
        .agg(sum(col("hits")).as("sum_hits"), count(lit(1)).as("nq"))
        .crossJoin(cellStats)
        .select(lit(mode).as("mode"),
          lit(beam.toLong).as("beam"), lit(rounds.toLong).as("rounds"),
          round(col("sum_hits").cast("double") / (col("nq") * k) + lit(1e-9), 4)
            .as("mean_recall"),
          bound.cast("long").as("visit_bound"),
          (bound.cast("long") * bytesPerCand).as("bytes_bound"),
          col("ncells"), col("max_cell"), col("n_vecs"))
    val nprobe = defaultNprobe(art.cents.length)
    val ivfRow = modeRow("ivf_scan", 0, 0,
      ivfScanWith(emb, art, queryMaxId, k),
      lit(nprobe) * col("max_cell"), dim.toLong * 8)
    // the three beam budgets ride ONE fused search (shared rounds /
    // checkpoints — [[graphBeamSearchLegs]]) and ONE per-leg recall
    // aggregate instead of three sequential search chains + three
    // 1-row aggregates; per-leg rows are pinned identical to the solo
    // search by GraphAnnSpec, so the mode rows are value-identical to
    // the unfused spelling
    val beamAll = graft.CacheScope.persist(graphBeamSearchLegs(emb,
      budgets.map { case (b, r) =>
        BeamLeg(s"beam_${b}x$r", edges, entries, b, r) },
      queryMaxId, k))
    val spark = emb.sparkSession
    import spark.implicits._
    val legsDf = budgets.map { case (b, r) =>
      (s"beam_${b}x$r", b.toLong, r.toLong) }.toDF("mode", "beam", "rounds")
    val nqDf = exact.select(col("q_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val hitsByLeg = beamAll
      .select(col("leg").as("mode"), col("q_id"), col("vec_id"))
      .join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("mode")).agg(count(lit(1)).as("sum_hits"))
    val beamRows = legsDf
      .join(hitsByLeg, Seq("mode"), "left")
      .crossJoin(nqDf).crossJoin(cellStats)
      .select(col("mode"), col("beam"), col("rounds"),
        round(coalesce(col("sum_hits"), lit(0L)).cast("double")
          / (col("nq") * k) + lit(1e-9), 4).as("mean_recall"),
        (col("ncells") + col("rounds") * col("beam") * graphK)
          .cast("long").as("visit_bound"),
        ((col("ncells") + col("rounds") * col("beam") * graphK).cast("long")
          * (dim.toLong * 8)).as("bytes_bound"),
        col("ncells"), col("max_cell"), col("n_vecs"))
    // the compressed serves: same IVF candidate bound at m bytes per
    // candidate (PQ ADC), and the full SQ8 scan at dim bytes — their
    // recall is measured against the SAME exact-cosine baseline, so a
    // compressed mode only wins when its measured recall survives the
    // slack (PQ ranks by L2 over 2-byte codes; on corpora where that
    // breaks cosine order, the recall column is what says so)
    val pqM = 4L
    val pqRow = modeRow("ivf_pq", 0, 0,
      ivfPqTopK(emb, queryMaxId, k),
      lit(nprobe) * col("max_cell"), pqM)
    val sq8Row = modeRow("sq8_scan", 0, 0,
      sq8TopK(emb, queryMaxId, k),
      col("n_vecs"), dim.toLong)
    val matDim = math.min(AnnServeMatPrefixDim, dim)
    val matRow = modeRow(s"mat${matDim}_scan", 0, 0,
      matryoshkaTopK(emb, queryMaxId, k, matDim),
      col("n_vecs"), matDim.toLong * 8)
    val modes = graft.CacheScope.persist(
      Seq(ivfRow, beamRows, pqRow, sq8Row, matRow).reduce(_ unionByName _))
    // pick = cheapest bytes_bound among modes within slack of the best
    // recall (1-row aggregates crossJoined back — no global window)
    val best = modes.agg(max(col("mean_recall")).as("best_recall"))
    val withElig = graft.CacheScope.persist(
      modes.crossJoin(broadcast(best))
        .withColumn("eligible",
          col("mean_recall") >= col("best_recall") - lit(AnnServeRecallSlack)))
    val pick = withElig.filter(col("eligible"))
      .orderBy(col("bytes_bound"), col("mode")).limit(1)
      .select(col("mode").as("pick_mode"))
    withElig.crossJoin(broadcast(pick))
      .select(col("mode"), col("beam"), col("rounds"), col("mean_recall"),
        col("visit_bound"), col("bytes_bound"),
        col("ncells"), col("max_cell"), col("n_vecs"),
        (col("mode") === col("pick_mode")).as("picked"))
  }

  /** The IVF cell scan over already-built [[ServeArtifacts]] — the
    * frozen-fit spelling of [[ivfKmeansTopK]] restricted to the query
    * ids (identical results: the centroid fit is deterministic, the
    * rank-1 assignment is the same rows, and per-query ranking is
    * query-independent), so the router's ivf leg and the consumed pick
    * never re-fit or re-assign what the artifacts already hold. */
  private def ivfScanWith(emb: DataFrame, art: ServeArtifacts,
                          queryMaxId: Long, k: Int): DataFrame = {
    val nprobe = defaultNprobe(art.cents.length)
    val probes = kmeansRanked(emb.filter(col("vec_id") < queryMaxId),
        art.cents, nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    serveScore(emb, emb,
      probes.join(art.cells, Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id")), k)
  }

  /** The router, CONSUMED — the composed serve a production deploy
    * calls: build the serve artifacts ONCE, run the diagnostic over
    * them, read the picked mode (a ≤ (1+|budgets|)-row config-sized
    * collect — the one driver-side branch a data-dependent
    * physical-strategy choice genuinely needs), and serve with the SAME
    * artifacts — the pick never pays a second centroid fit, cell
    * assignment, or graph build on top of the diagnostic's. GraphAnnSpec
    * pins auto == the picked mode's direct serve on both corpus shapes. */
  def annServeAuto(emb: DataFrame, queryMaxId: Long, k: Int,
                   graphK: Int = 3, targetCellSize: Int = 50,
                   budgets: Seq[(Int, Int)] = AnnServeBudgets): DataFrame = {
    val art = serveArtifacts(emb, graphK, targetCellSize)
    val pick = serveModeDiagnosticWith(emb, art, queryMaxId, k, graphK,
        targetCellSize, budgets)
      .filter(col("picked"))
      .select(col("mode"), col("beam"), col("rounds")).head()
    serveByPick(emb, art, queryMaxId, k,
      pick.getString(0), pick.getLong(1).toInt, pick.getLong(2).toInt)
  }

  /** Serve with an already-decided mode over already-built artifacts —
    * the dispatch [[annServeAuto]] and the cached-pick path share, so
    * the consumed pick and the steady-state serve can never drift. */
  private def serveByPick(emb: DataFrame, art: ServeArtifacts,
                          queryMaxId: Long, k: Int,
                          mode: String, beam: Int, rounds: Int): DataFrame =
    mode match {
      case "ivf_scan" => ivfScanWith(emb, art, queryMaxId, k)
      case "ivf_pq"   => ivfPqTopK(emb, queryMaxId, k)
      case "sq8_scan" => sq8TopK(emb, queryMaxId, k)
      case m if m.startsWith("mat") =>
        matryoshkaTopK(emb, queryMaxId, k,
          m.stripPrefix("mat").stripSuffix("_scan").toInt)
      case _ => graphBeamSearch(emb, art.edges, art.entries, queryMaxId, k,
        beam, rounds)
    }

  private def writeServeArtifacts(art: ServeArtifacts,
                                  indexDir: String): Unit = {
    val spark = art.cells.sparkSession
    import spark.implicits._
    art.cents.zipWithIndex.map { case (c, cid) => (cid, c.toSeq) }.toSeq
      .toDF("cid", "cent").write.mode("overwrite")
      .parquet(s"$indexDir/centroids")
    art.cells.write.mode("overwrite").parquet(s"$indexDir/cells")
    art.edges.write.mode("overwrite").parquet(s"$indexDir/edges")
    art.entries.write.mode("overwrite").parquet(s"$indexDir/entries")
  }

  private def readServeArtifacts(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String): ServeArtifacts = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .orderBy("cid").select(col("cent"))
      .as[Seq[Long]].collect().map(_.toArray)
    ServeArtifacts(cents,
      spark.read.parquet(s"$indexDir/cells"),
      spark.read.parquet(s"$indexDir/edges"),
      spark.read.parquet(s"$indexDir/entries"))
  }

  /** [[annServeAuto]] that PERSISTS its decision — the router run a
    * deploy schedules per index build: build the serve artifacts once,
    * run the diagnostic (including the brute exact baseline), write
    * artifacts + the full diagnostic evidence frame to
    * `indexDir/pick` (pick LAST — the [[graphBeamServe]] probe-the-
    * last-written rule, so a crash mid-write leaves no pick and the
    * next cached call rebuilds), and serve with the picked mode over
    * the same artifacts. */
  def annServePersist(emb: DataFrame, queryMaxId: Long, k: Int,
                      indexDir: String, graphK: Int = 3,
                      targetCellSize: Int = 50,
                      budgets: Seq[(Int, Int)] = AnnServeBudgets): DataFrame = {
    val art = serveArtifacts(emb, graphK, targetCellSize)
    val diag = serveModeDiagnosticWith(emb, art, queryMaxId, k, graphK,
      targetCellSize, budgets)
    writeServeArtifacts(art, indexDir)
    diag.write.mode("overwrite").parquet(s"$indexDir/pick")
    val pick = emb.sparkSession.read.parquet(s"$indexDir/pick")
      .filter(col("picked"))
      .select(col("mode"), col("beam"), col("rounds")).head()
    serveByPick(emb, art, queryMaxId, k,
      pick.getString(0), pick.getLong(1).toInt, pick.getLong(2).toInt)
  }

  /** The STEADY-STATE serve entry point a deploy calls per query batch:
    * read the persisted pick (a ≤ (2+|budgets|)-row artifact — the
    * diagnostic's evidence rows with the picked flag) and serve the
    * picked mode over the persisted artifacts WITHOUT re-running the
    * diagnostic or its brute-force exact baseline — per-call cost is
    * the picked search alone. When the pick artifact is absent (never
    * persisted, crashed mid-persist, or invalidated by
    * [[annServeInvalidateIfStale]] after a staleness fire), falls back
    * to [[annServePersist]] — the same decide-then-cache policy that
    * schedules graph rebuild and compaction. GraphAnnSpec pins
    * cached-pick serve == fresh-diagnostic serve. */
  def annServeCached(emb: DataFrame, queryMaxId: Long, k: Int,
                     indexDir: String, graphK: Int = 3,
                     targetCellSize: Int = 50,
                     budgets: Seq[(Int, Int)] = AnnServeBudgets): DataFrame = {
    val spark = emb.sparkSession
    val pickPath = new org.apache.hadoop.fs.Path(s"$indexDir/pick")
    val fs = pickPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pickPath))
      return annServePersist(emb, queryMaxId, k, indexDir, graphK,
        targetCellSize, budgets)
    val pick = spark.read.parquet(s"$indexDir/pick")
      .filter(col("picked"))
      .select(col("mode"), col("beam"), col("rounds")).head()
    val mode = pick.getString(0)
    // full-scan / code-based modes never touch the cell/graph artifacts
    // — skip the artifact read (and its centroid collect) entirely
    val art =
      if (mode == "ivf_scan" || mode.startsWith("beam_"))
        readServeArtifacts(spark, indexDir)
      else ServeArtifacts(Array.empty, emb, emb, emb)
    serveByPick(emb, art, queryMaxId, k,
      mode, pick.getLong(1).toInt, pick.getLong(2).toInt)
  }

  /** The pick's INVALIDATION trigger — run on the
    * [[graphIndexStaleness]] cadence (the policy that already schedules
    * rebuild and graph compaction): when the staleness diagnostic says
    * REBUILD, the persisted pick is evidence about an index that no
    * longer exists, so it is deleted and the next [[annServeCached]]
    * re-runs the full diagnostic over fresh artifacts. Returns the
    * rebuild verdict. `stalenessDir` holds the staleness probe's own
    * appended-index artifacts (separate from the serve artifacts —
    * the probe must not overwrite them). */
  def annServeInvalidateIfStale(emb: DataFrame, splitId: Long,
                                queryMaxId: Long, k: Int, indexDir: String,
                                stalenessDir: String, graphK: Int = 3,
                                targetCellSize: Int = 50): Boolean = {
    val rebuild = graphIndexStaleness(emb, splitId, queryMaxId, k,
        stalenessDir, graphK, targetCellSize)
      .select(col("rebuild")).head().getBoolean(0)
    if (rebuild) {
      val pickPath = new org.apache.hadoop.fs.Path(s"$indexDir/pick")
      val fs = pickPath.getFileSystem(
        emb.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(pickPath)) { fs.delete(pickPath, true); () }
    }
    rebuild
  }

  /** Graph-index PERSISTENCE round-trip — build the kNN edge list and
    * the per-cell entry layer ONCE, write both to `indexDir` (parquet,
    * the [[ivfKmeansServe]] convention), reload, and beam-serve over
    * the reloaded frames: equals [[graphBeamTopK]] exactly (the oracle
    * states that equality), and the steady-state call finds the index
    * on disk and pays ONLY the O(1)-per-query search — the artifact
    * split a production graph serve actually deploys. */
  def graphBeamServe(emb: DataFrame, queryMaxId: Long, k: Int,
                     indexDir: String,
                     beam: Int = GraphBeamWidth, rounds: Int = GraphBeamRounds,
                     graphK: Int = 3, targetCellSize: Int = 50,
                     rebuildBase: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    // probe the LAST-written artifact: a crash between the two writes
    // must trigger a rebuild, not a permanent path-not-found serve
    val entriesPath = new org.apache.hadoop.fs.Path(s"$indexDir/entries")
    val fs = entriesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rebuildBase || !fs.exists(entriesPath)) {
      val cents = kmeansCentroids(emb, targetCellSize)
      val cells = graft.CacheScope.persist(
        kmeansRanked(emb, cents, maxRank = 1).select(col("vec_id"), col("cid")))
      knnGraphFromCells(emb, cells, graphK).select(col("src"), col("dst"))
        .write.mode("overwrite").parquet(s"$indexDir/edges")
      entryLayer(cells).write.mode("overwrite").parquet(s"$indexDir/entries")
    }
    graphBeamSearch(emb,
      spark.read.parquet(s"$indexDir/edges"),
      spark.read.parquet(s"$indexDir/entries"), queryMaxId, k, beam, rounds)
  }

  /** INCREMENTAL GRAPH APPEND — the graph family's twin of
    * [[ivfKmeansAppend]]: the base index (centroids + base cell
    * assignment + base edge list) is built over `vec_id < splitId` and
    * persisted; an arriving batch is assigned to the FROZEN centroids
    * (no refit), and each NEW node's `graphK` edges are computed
    * against its cell's FULL extended membership — O(|batch| · cell)
    * work, never a base re-pair. Base nodes' adjacency stays as built
    * (the standard incremental-graph trade — arriving nodes are
    * reachable through the per-cell entry layer, which IS recomputed
    * over the extended corpus, until the periodic rebuild refreshes the
    * stale lists; [[graphIndexStaleness]] is the diagnostic that
    * decides WHEN — appended fraction + measured recall delta vs a
    * fresh rebuild → rebuild verdict); the oracle replays exactly this
    * asymmetric edge set.
    * Serve = the same beam search over base ∪ appended edges. */
  def graphBeamAppend(emb: DataFrame, splitId: Long, queryMaxId: Long, k: Int,
                      indexDir: String,
                      beam: Int = GraphBeamWidth, rounds: Int = GraphBeamRounds,
                      graphK: Int = 3, targetCellSize: Int = 50,
                      rebuildBase: Boolean = true): DataFrame = {
    val (edges, entries) = graphBeamAppendArtifacts(emb, splitId, indexDir,
      graphK, targetCellSize, rebuildBase)
    graphBeamSearch(emb, edges, entries, queryMaxId, k, beam, rounds)
  }

  /** The appended-index (edges, entries) pair of [[graphBeamAppend]] —
    * exposed so [[graphIndexStaleness]] can fuse the appended serve
    * with the fresh-rebuild serve into one [[graphBeamSearchLegs]]
    * loop. Builds/writes the base artifacts exactly like the serve
    * path (same side effects, same frames). */
  private def graphBeamAppendArtifacts(emb: DataFrame, splitId: Long,
                                       indexDir: String, graphK: Int,
                                       targetCellSize: Int,
                                       rebuildBase: Boolean)
      : (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cellsPath = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    val fs = cellsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rebuildBase || !fs.exists(cellsPath)) {
      val base = emb.filter(col("vec_id") < splitId)
      val cents = kmeansCentroids(base, targetCellSize)
      cents.zipWithIndex.map { case (c, cid) => (cid, c.toSeq) }.toSeq
        .toDF("cid", "cent").write.mode("overwrite")
        .parquet(s"$indexDir/centroids")
      val cellsBase = graft.CacheScope.persist(
        kmeansRanked(base, cents, maxRank = 1).select(col("vec_id"), col("cid")))
      knnGraphFromCells(emb, cellsBase, graphK).select(col("src"), col("dst"))
        .write.mode("overwrite").parquet(s"$indexDir/edges")
      cellsBase.write.mode("overwrite").parquet(s"$indexDir/cells")
    }
    // append: reload the frozen centroids, assign ONLY the new batch
    val reloaded = spark.read.parquet(s"$indexDir/centroids")
      .orderBy("cid").select(col("cent"))
      .as[Seq[Long]].collect().map(_.toArray)
    val newCells = kmeansRanked(emb.filter(col("vec_id") >= splitId), reloaded,
      maxRank = 1).select(col("vec_id"), col("cid"))
    newCells.write.mode("overwrite").parquet(s"$indexDir/cells_new")
    val allCells = graft.CacheScope.persist(
      spark.read.parquet(s"$indexDir/cells")
        .unionByName(spark.read.parquet(s"$indexDir/cells_new")))
    val newEdges = graft.CacheScope.persist(knnGraphFromCells(emb,
        spark.read.parquet(s"$indexDir/cells_new"), graphK, Some(allCells))
      .select(col("src"), col("dst")))
    // HNSW insertion's BACK-LINKS: every appended edge also links its
    // target back to the new node — without them an appended node is
    // reachable only when it happens to win a cell's entry draw (base
    // adjacency never points at it); with them its kNN targets route
    // the beam in. Still O(|batch|·graphK) appended rows.
    val edges = graft.CacheScope.persist(
      spark.read.parquet(s"$indexDir/edges")
        .unionByName(newEdges)
        .unionByName(newEdges.select(col("dst").as("src"), col("src").as("dst"))))
    (edges, entryLayer(allCells))
  }

  /** Serve over the STREAMED-append graph artifacts — the read side of
    * [[CurationStreams.graphIngestStream]]: base cells ∪
    * every streamed batch's assignment, base edges ∪ streamed edges ∪
    * their HNSW back-links, entry layer recomputed over the extended
    * membership (exactly [[graphBeamAppend]]'s serve assembly, reading
    * the per-trigger dirs instead of `cells_new`). When the whole
    * append arrived in one trigger this EQUALS [[graphBeamAppend]]
    * (GraphAnnSpec pins it); across triggers each batch's edges saw
    * only the membership that existed at its trigger — the same
    * incremental trade, one batch at a time.
    *
    * When NO streamed batch has landed yet (or a fold/compaction just
    * absorbed them — [[CurationStreams.graphIngestStream]]
    * folds count-triggered, [[RefreshOps.compactGraphIndexDirs]] on
    * refresh), the serve falls back to the base artifacts alone instead
    * of throwing path-not-found on the bare glob; orphaned batch dirs
    * from a prior run with a deleted checkpoint are cleared by the
    * ingest's batch-0 reset, so a fresh-checkpoint replay never unions
    * a dead run's artifacts. */
  def graphBeamServeStreamed(emb: DataFrame, indexDir: String,
                             queryMaxId: Long, k: Int,
                             beam: Int = GraphBeamWidth,
                             rounds: Int = GraphBeamRounds): DataFrame = {
    val spark = emb.sparkSession
    def streamed(dir: String): Option[DataFrame] = {
      val hp = new org.apache.hadoop.fs.Path(s"$indexDir/$dir")
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp) && fs.listStatus(hp).nonEmpty)
        Some(spark.read.parquet(s"$indexDir/$dir/*"))
      else None
    }
    val baseCells = spark.read.parquet(s"$indexDir/cells")
    val allCells = graft.CacheScope.persist(
      streamed("cells_stream").fold(baseCells)(baseCells.unionByName(_)))
    val baseEdges = spark.read.parquet(s"$indexDir/edges")
    val edges = graft.CacheScope.persist(streamed("edges_stream") match {
      case Some(newEdges) => baseEdges.unionByName(newEdges)
        .unionByName(newEdges.select(col("dst").as("src"), col("src").as("dst")))
      case None => baseEdges
    })
    graphBeamSearch(emb, edges, entryLayer(allCells), queryMaxId, k, beam, rounds)
  }

  /** Rebuild triggers of [[graphIndexStaleness]] (shared with the
    * oracle): rebuild when the appended fraction crosses
    * [[AnnRebuildAppendedFrac]] OR the measured recall delta of the
    * appended index vs a fresh rebuild crosses
    * [[AnnRebuildRecallDelta]]. */
  val AnnRebuildAppendedFrac = 0.2
  val AnnRebuildRecallDelta = 0.1

  /** INDEX STALENESS DIAGNOSTIC — the compaction trigger every
    * incremental index deploys and [[graphBeamAppend]] was missing: how
    * much has the appended index drifted from what a fresh rebuild
    * would serve? Measures, on the fixed query sample, recall@k of the
    * appended serve (frozen centroids, asymmetric edges, stale base
    * adjacency) and of a from-scratch rebuild, plus the appended
    * fraction of the corpus, and emits the REBUILD verdict from the
    * [[AnnRebuildAppendedFrac]]/[[AnnRebuildRecallDelta]] triggers —
    * the GraphAnnSpec stale-vs-fresh comparison productized. The IVF
    * append ([[ivfKmeansAppend]]) shares the same drift mechanics
    * (frozen quantizer), so one verdict covers both artifacts of a
    * build. Cost: two serves + the brute baseline on the bounded query
    * sample — a diagnostic run, not a hot-path stage. Output: one row
    * (n_base, n_appended, appended_frac, recall_appended, recall_fresh,
    * recall_delta, rebuild). */
  def graphIndexStaleness(emb: DataFrame, splitId: Long, queryMaxId: Long,
                          k: Int, indexDir: String,
                          graphK: Int = 3, targetCellSize: Int = 50): DataFrame = {
    val exact = graft.CacheScope.persist(
      bruteForceTopK(emb, queryMaxId, k).select(col("q_id"), col("vec_id")))
    def meanRecall(approx: DataFrame, out: String): DataFrame =
      recallVs(exact, approx, k)
        .agg(sum(col("hits")).as("sh"), count(lit(1)).as("nq"))
        .select(round(col("sh").cast("double") / (col("nq") * k) + lit(1e-9), 4)
          .as(out))
    // measured counter-finding (r19): fusing the appended and fresh
    // serves into one 2-leg graphBeamSearchLegs loop ran CONSISTENTLY
    // ~0.5 s slower here (the legs share no artifacts, so the union only
    // added leg-tag overhead to every round — unlike the router's three
    // budgets over ONE graph); the two solo searches stand
    val appended = meanRecall(
      graphBeamAppend(emb, splitId, queryMaxId, k, indexDir,
        graphK = graphK, targetCellSize = targetCellSize), "recall_appended")
    val fresh = meanRecall(
      graphBeamTopK(emb, queryMaxId, k,
        graphK = graphK, targetCellSize = targetCellSize), "recall_fresh")
    val counts = emb.agg(
      sum(when(col("vec_id") < splitId, 1L).otherwise(0L)).as("n_base"),
      sum(when(col("vec_id") >= splitId, 1L).otherwise(0L)).as("n_appended"))
    counts.crossJoin(appended).crossJoin(fresh)
      .withColumn("appended_frac",
        round(col("n_appended").cast("double")
          / (col("n_base") + col("n_appended")) + lit(1e-9), 4))
      .withColumn("recall_delta",
        round(col("recall_fresh") - col("recall_appended") + lit(1e-9), 4))
      .select(col("n_base"), col("n_appended"), col("appended_frac"),
        col("recall_appended"), col("recall_fresh"), col("recall_delta"),
        (col("appended_frac") >= AnnRebuildAppendedFrac ||
          col("recall_delta") >= AnnRebuildRecallDelta).as("rebuild"))
  }

  /** BITEXT MINING with the margin criterion (Artetxe & Schwenk 2019,
    * arXiv 1811.01136 — the LASER/CCMatrix recipe): for every langA
    * document, its best langB counterpart scored by RATIO margin —
    * cos(x,y) normalized by the mean of both directions' k-NN cosines —
    * which suppresses hub vectors that plain cosine thresholds mine as
    * false pairs. The id spaces of `documents` and `embeddings`
    * coincide in this corpus, so lang labels join onto vectors by id.
    *
    * Exactness: cosines round to 6 dp FIRST (the repo convention), the
    * two k-NN sums are exact DECIMAL(20,6) aggregations of those
    * rounded values cast once to double, and the margin is one
    * multiply + one divide over identical IEEE inputs — bit-identical
    * across engines; all rank ties pin to the lowest id.
    *
    * Scale shape: the scorer here is the language-sliced brute pass
    * (langB broadcast — the [[bruteForceTopK]] baseline convention,
    * whitelisted in PlanSpec); at production scale the pair candidates
    * and the k-NN denominators ride the same IVF-cell or banded-LSH
    * joins the rest of the family uses ([[ivfKmeansTopK]],
    * [[lshPairs]]) — the margin arithmetic is unchanged. Output: one
    * row per mined pair (doc_a, doc_b, cosine, margin), margin ≥
    * `threshold`, best-margin b per a. */
  /** k-NN depth / keep threshold of the margin miner — shared with the
    * DuckDB oracle so a retune can't desync the replay. */
  val BitextNnK = 4
  val BitextMarginThreshold = 1.02

  /** The scored margin frame (doc_a, doc_b, cr, margin) — shared by the
    * one-best miner and the mutual-intersection filter.
    *
    * `banded = true` (the production default) draws the candidate pairs
    * from the sign-LSH band equi-join ([[lshPairs]]' bucketing, hot
    * buckets capped) and computes the k-NN denominators over those
    * candidates — exactly CCMatrix's practice of scoring margins over
    * ANN candidates, and the shape that keeps the pair work
    * band-bounded instead of |A|·|B| (the brute form measured 46×
    * slower at a 10× corpus — quadratic, SCALE.md). `banded = false`
    * is the exhaustive semantics reference the margin tests pin
    * (BitextSpec's constructed hub is not guaranteed to band with its
    * sources). */
  /** The language-sided vector frames of the bitext miner:
    * (a(doc_a, qa, na), b(doc_b, qb, nb)). */
  private def bitextSides(emb: DataFrame, docLangs: DataFrame,
                          langA: String, langB: String): (DataFrame, DataFrame) = {
    val e = emb.select(col("vec_id"), quant.as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
      .join(docLangs.select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
    (e.filter(col("lang") === langA)
      .select(col("vec_id").as("doc_a"), col("q").as("qa"), col("n2").as("na")),
     e.filter(col("lang") === langB)
      .select(col("vec_id").as("doc_b"), col("q").as("qb"), col("n2").as("nb")))
  }

  /** The miner's candidate-pair source:
    *  - `"banded"` — the sign-LSH band equi-join (hot-capped) — the
    *    CCMatrix practice on STRONGLY-clustered bitext embeddings
    *    (translation cosine ≳ 0.9, where bands collide);
    *  - `"cells"` — langA docs probe their nprobe nearest k-means
    *    cells, candidates = langB docs living there (the
    *    [[ivfKmeansTopK]] shape restricted cross-language) — the pick
    *    on weakly-clustered corpora, where `bitext_banded_recall`
    *    measured the bands presenting only 10% of true pairs while the
    *    same corpus's k-means cells serve 0.93 recall;
    *  - `"brute"` — exhaustive |A|×|B| (semantics reference / recall
    *    denominator only).
    * All three stay bounded joins at scale except brute: banded is
    * band-bucket-bounded, cells is O(|A| · nprobe · cell). */
  private def bitextCandidates(emb: DataFrame, a: DataFrame, b: DataFrame,
                               mode: String): DataFrame = mode match {
    case "brute" =>
      a.select(col("doc_a")).crossJoin(broadcast(b.select(col("doc_b"))))
    case "banded" =>
      // bands over the FULL corpus (the cap must see what the oracle's
      // band CTE sees), then the cross-language equi-join
      val bands = DedupOps.capBands(signBandsRelational(emb),
        DedupOps.MaxBandBucket, persistInput = true)
      bands.join(a.select(col("doc_a").as("vec_id")), Seq("vec_id"))
        .select(col("vec_id").as("doc_a"), col("bkey"))
        .join(bands.join(b.select(col("doc_b").as("vec_id")), Seq("vec_id"))
          .select(col("vec_id").as("doc_b"), col("bkey")), Seq("bkey"))
        .select(col("doc_a"), col("doc_b")).distinct()
    case "cells" =>
      val cents = kmeansCentroids(emb)
      val nprobe = defaultNprobe(cents.length)
      val ranked = graft.CacheScope.persist(kmeansRanked(emb, cents, nprobe))
      ranked.filter(col("rn") <= nprobe)
        .select(col("vec_id").as("doc_a"), col("cid"))
        .join(a.select(col("doc_a")), Seq("doc_a"))
        .join(ranked.filter(col("rn") === 1)
          .select(col("vec_id").as("doc_b"), col("cid"))
          .join(b.select(col("doc_b")), Seq("doc_b")), Seq("cid"))
        .select(col("doc_a"), col("doc_b")).distinct()
    case other => throw new IllegalArgumentException(
      s"bitext candidate mode must be banded|cells|brute, got $other")
  }

  /** Scored candidate pairs: attach both sides' vectors, compute the
    * rounded cosine — (doc_a, doc_b, cr). */
  private def bitextScored(cand: DataFrame, a: DataFrame,
                           b: DataFrame): DataFrame =
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("cr",
        round(cosinePre(col("qa"), col("qb"), col("na"), col("nb")) + lit(1e-9), 6))
      .select(col("doc_a"), col("doc_b"), col("cr"))

  /** The margin chain over an already-scored pair frame. Each side's
    * k-NN sum rides the SAME window partitioning as its rank (running
    * decimal sum cut at rank k, broadcast to the whole partition by an
    * unordered window agg) — the old groupBy + join-back spelling
    * exchanged the scored frame six times (2 rank windows, 2 aggs, 2
    * join re-partitions) for the same bits this spelling derives in ONE
    * exchange per side (guide §2.4: window keyed like the preceding
    * shuffle reuses it). Decimal running sums are exact and order-free,
    * so the cut at rank k equals the old top-k groupBy sum bit-for-bit. */
  private def bitextMarginsScored(p: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def nnSumCol(part: String, other: String, out: String)(df: DataFrame) = {
      val wOrd = Window.partitionBy(col(part))
        .orderBy(col("cr").desc, col(other))
      val wAll = Window.partitionBy(col(part))
      // the boundary row is the LARGEST rank <= k (rank is unique within
      // the partition, so the struct max is rank-ordered); its running
      // sum is the exact top-k decimal sum — negative cosines make the
      // running sum non-monotone, so a plain max over the cumsums would
      // pick the wrong row
      df.withColumn("__rk", row_number().over(wOrd))
        .withColumn("__cs", sum(col("cr").cast(DecimalType(20, 6))).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn(out,
          max(when(col("__rk") <= k, struct(col("__rk"), col("__cs"))))
            .over(wAll).getField("__cs").cast("double"))
        .drop("__rk", "__cs")
    }
    // sb pass first, sa pass second: the frame leaves partitioned by
    // doc_a, which the consumers' margin-rank windows (also doc_a-keyed)
    // reuse without another exchange
    nnSumCol("doc_a", "doc_b", "sa")(nnSumCol("doc_b", "doc_a", "sb")(p))
      .withColumn("margin",
        round(col("cr") * lit(2 * k) / (col("sa") + col("sb")) + lit(1e-9), 6))
  }

  /** One-best mined pairs from an already-scored frame — the
    * [[bitextMarginPairs]] rank/threshold rule, factored so the
    * diagnostic legs that reuse the brute leg's scored pairs can never
    * drift from the direct miner. Output: (doc_a, doc_b, cosine,
    * margin). */
  private def bitextMinedScored(p: DataFrame, k: Int,
                                threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bitextMarginsScored(p, k)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_a")).orderBy(col("margin").desc, col("doc_b"))))
      .filter(col("rk") === 1 && col("margin") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cr").as("cosine"), col("margin"))
  }

  private def bitextMargins(emb: DataFrame, docLangs: DataFrame,
                            langA: String, langB: String, k: Int,
                            banded: Boolean,
                            candMode: Option[String] = None): DataFrame = {
    val (a, b) = bitextSides(emb, docLangs, langA, langB)
    val cand = bitextCandidates(emb, a, b,
      candMode.getOrElse(if (banded) "banded" else "brute"))
    bitextMarginsScored(bitextScored(cand, a, b), k)
  }

  def bitextMarginPairs(emb: DataFrame, docLangs: DataFrame,
                        langA: String = "en", langB: String = "de",
                        k: Int = BitextNnK,
                        threshold: Double = BitextMarginThreshold,
                        banded: Boolean = true,
                        candidates: Option[String] = None): DataFrame = {
    // delegate the rank-1/threshold mining rule to bitextMinedScored so
    // the rule exists in exactly one spelling (the diagnostic legs
    // reuse it over the brute leg's scored pairs)
    val (a, b) = bitextSides(emb, docLangs, langA, langB)
    val cand = bitextCandidates(emb, a, b,
      candidates.getOrElse(if (banded) "banded" else "brute"))
    bitextMinedScored(bitextScored(cand, a, b), k, threshold)
  }

  /** FORWARD-BACKWARD INTERSECTION mining (the stricter published
    * variant next to [[bitextMarginPairs]]' one-best: keep a pair only
    * when each side is the other's best margin — the "intersection"
    * heuristic of Artetxe & Schwenk 2019, which trades recall for the
    * precision a pretraining pair corpus wants). Same scored margin
    * frame, two rank windows instead of one. */
  def bitextMutualPairs(emb: DataFrame, docLangs: DataFrame,
                        langA: String = "en", langB: String = "de",
                        k: Int = BitextNnK,
                        threshold: Double = BitextMarginThreshold,
                        banded: Boolean = true,
                        candidates: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bitextMargins(emb, docLangs, langA, langB, k, banded, candidates)
      .withColumn("rka", row_number().over(
        Window.partitionBy(col("doc_a")).orderBy(col("margin").desc, col("doc_b"))))
      .withColumn("rkb", row_number().over(
        Window.partitionBy(col("doc_b")).orderBy(col("margin").desc, col("doc_a"))))
      .filter(col("rka") === 1 && col("rkb") === 1 && col("margin") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cr").as("cosine"), col("margin"))
  }

  /** The banded miner's HONESTY LEG (the `dedup_lsh_recall` convention —
    * every banded family here ships an exact-vs-banded recall check):
    * mined-pair recall of the production banded [[bitextMarginPairs]]
    * against the exhaustive brute scorer, on the SAME corpus. The two
    * legs differ in BOTH candidates and margin denominators (the k-NN
    * sums see only banded candidates in banded mode — exactly CCMatrix's
    * scoring-over-ANN-candidates trade), so the number measured here is
    * end-to-end mined-pair recall, not candidate recall. Brute is
    * affordable as a diagnostic because the pair space is
    * |langA|·|langB| within one language pair — at a scale where it
    * isn't, gate both legs on the same md5 half-sample
    * ([[DedupOps.sampleDocs]], the `dedup_lsh_recall_sampled` pattern);
    * both legs must see the identical sub-corpus or the ratio is
    * meaningless. Output: one row (brute_pairs, banded_pairs, hits,
    * recall). */
  def bitextBandedRecall(emb: DataFrame, docLangs: DataFrame,
                         langA: String = "en", langB: String = "de",
                         k: Int = BitextNnK,
                         threshold: Double = BitextMarginThreshold): DataFrame =
    bitextRecallVsBrute(emb, docLangs, langA, langB, k, threshold,
      mode = "banded", modeCol = "banded_pairs")

  /** The SAME honesty leg for the `"cells"` candidate mode — the number
    * that justifies switching candidate sources on weakly-clustered
    * corpora (measured: 0.93 vs the bands' 0.10 on the noise corpus). */
  def bitextCellRecall(emb: DataFrame, docLangs: DataFrame,
                       langA: String = "en", langB: String = "de",
                       k: Int = BitextNnK,
                       threshold: Double = BitextMarginThreshold): DataFrame =
    bitextRecallVsBrute(emb, docLangs, langA, langB, k, threshold,
      mode = "cells", modeCol = "cell_pairs")

  private def bitextRecallVsBrute(emb: DataFrame, docLangs: DataFrame,
                                  langA: String, langB: String, k: Int,
                                  threshold: Double, mode: String,
                                  modeCol: String): DataFrame = {
    // the brute leg already scores every |A|x|B| pair — the mode leg
    // reuses those cosines by key (same deterministic expression over
    // the same rows), so its chain is a semi-join + margin windows, not
    // a second embedding-join + cosine pass; the candidate frame is
    // persisted once and feeds both the leg and the cand_recall
    // attribution (the ServeArtifacts one-build convention)
    val (sa, sb) = bitextSides(emb, docLangs, langA, langB)
    // eager checkpoint, not persist: the scored |A|x|B| frame is consumed
    // by every leg anyway, and materializing it keeps the brute
    // crossJoin out of the RETURNED plan (PlanSpec's BNLJ guard sees
    // only the 1-row aggregate tails) and out of re-planning
    val allScored = graft.CacheScope.checkpoint(
      bitextScored(bitextCandidates(emb, sa, sb, "brute"), sa, sb))
    val cand = graft.CacheScope.persist(
      bitextCandidates(emb, sa, sb, mode))
    val mined = bitextMinedScored(allScored.join(cand, Seq("doc_a", "doc_b")),
      k, threshold).select(col("doc_a"), col("doc_b"))
    val brute = graft.CacheScope.persist(
      bitextMinedScored(allScored, k, threshold)
        .select(col("doc_a"), col("doc_b")))
    val hits = brute.join(mined, Seq("doc_a", "doc_b"))
    // loss attribution: was the brute-mined pair even in the mode's
    // CANDIDATE set? cand_recall >> recall means the margin DENOMINATOR
    // drifted (k-NN sums over candidates only); cand_recall ≈ recall
    // means the candidates simply never presented the pair
    val candHits = brute.join(cand, Seq("doc_a", "doc_b"))
    brute.agg(count(lit(1)).as("brute_pairs"))
      .crossJoin(mined.agg(count(lit(1)).as(modeCol)))
      .crossJoin(hits.agg(count(lit(1)).as("hits")))
      .crossJoin(candHits.agg(count(lit(1)).as("cand_hits")))
      .select(col("brute_pairs"), col(modeCol), col("hits"),
        when(col("brute_pairs") === 0, lit(1.0))
          .otherwise(round(col("hits").cast("double") / col("brute_pairs")
            + lit(1e-9), 4)).as("recall"),
        col("cand_hits"),
        when(col("brute_pairs") === 0, lit(1.0))
          .otherwise(round(col("cand_hits").cast("double") / col("brute_pairs")
            + lit(1e-9), 4)).as("cand_recall"))
  }

  /** BITEXT CANDIDATE-MODE ROUTER — [[serveModeDiagnostic]]'s rule
    * applied to the miner's candidate source: measure BOTH honesty legs
    * ([[bitextBandedRecall]]'s banded mining recall and
    * [[bitextCellRecall]]'s cells recall against the same brute
    * baseline) plus each mode's measured candidate-pair count (the cost
    * currency — exactly the pair work the margin scorer will pay), and
    * emit the PICK: the cheapest mode whose recall is within
    * [[AnnServeRecallSlack]] of the best. On strongly-clustered bitext
    * (translation cosine ≳ 0.9) the bands collide and win on cost; on
    * weakly-clustered corpora the bands measured 0.10 recall where the
    * k-means cells serve 0.51 (SCALE.md r16) — this router reads that
    * evidence instead of asking the caller to know it. Brute is a
    * diagnostic leg: at a scale where |A|·|B| is unaffordable, gate
    * BOTH legs on the same md5 half-sample (the
    * `dedup_lsh_recall_sampled` pattern) — the ratio needs identical
    * sub-corpora. Output: one row per mode (mode, brute_pairs,
    * mined_pairs, recall, cand_pairs, picked). */
  def bitextModeDiagnostic(emb: DataFrame, docLangs: DataFrame,
                           langA: String = "en", langB: String = "de",
                           k: Int = BitextNnK,
                           threshold: Double = BitextMarginThreshold): DataFrame =
    bitextModeEvidence(emb, docLangs, langA, langB, k, threshold)._1

  /** The md5 half-sample gate of the SCALED router
    * ([[bitextAutoPairsSampled]]) — the `dedup_lsh_recall_sampled`
    * convention: both diagnostic legs (and the brute reference) run on
    * the SAME deterministic half-corpus, which is what keeps the recall
    * ratio meaningful while the brute |A|·|B| term shrinks 4×. */
  val BitextSampleSalt = "bxs"
  private def bitextSample(emb: DataFrame): DataFrame =
    emb.filter(vecDraw(BitextSampleSalt) < 500000L)

  /** The router's evidence, with each mode's FULL mined frame kept —
    * so [[bitextAutoPairs]] serves the picked mode's pairs from the
    * mining the diagnostic already ran instead of mining a second time
    * (the [[annServeAuto]] artifact-reuse convention). */
  private def bitextModeEvidence(emb: DataFrame, docLangs: DataFrame,
                                 langA: String, langB: String, k: Int,
                                 threshold: Double)
      : (DataFrame, Map[String, DataFrame]) = {
    val (a, b) = bitextSides(emb, docLangs, langA, langB)
    // ONE cosine pass: the brute reference already scores every |A|x|B|
    // pair, so each mode leg derives its scored frame by key semi-join
    // against the persisted brute scores instead of re-joining
    // embeddings and recomputing cosines (same deterministic expression
    // over the same rows — BitextSpec pins auto == direct); the
    // candidate frame is persisted once and feeds the leg AND its
    // cand_pairs count
    // eager checkpoint (not persist): every leg consumes the scored
    // frame, and materializing it keeps the brute crossJoin out of the
    // returned picked-mode plan — bitext_auto stays BNLJ-free by
    // construction (see the PlanSpec whitelist note)
    val allScored = graft.CacheScope.checkpoint(
      bitextScored(bitextCandidates(emb, a, b, "brute"), a, b))
    val brute = graft.CacheScope.persist(
      bitextMinedScored(allScored, k, threshold)
        .select(col("doc_a"), col("doc_b")))
    def leg(mode: String): (DataFrame, DataFrame) = {
      val cand = graft.CacheScope.persist(bitextCandidates(emb, a, b, mode))
      val minedFull = graft.CacheScope.persist(
        bitextMinedScored(allScored.join(cand, Seq("doc_a", "doc_b")),
          k, threshold))
      val mined = minedFull.select(col("doc_a"), col("doc_b"))
      val row = brute.agg(count(lit(1)).as("brute_pairs"))
        .crossJoin(mined.agg(count(lit(1)).as("mined_pairs")))
        .crossJoin(brute.join(mined, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("hits")))
        .crossJoin(cand.agg(count(lit(1)).as("cand_pairs")))
        .select(lit(mode).as("mode"), col("brute_pairs"), col("mined_pairs"),
          when(col("brute_pairs") === 0, lit(1.0))
            .otherwise(round(col("hits").cast("double") / col("brute_pairs")
              + lit(1e-9), 4)).as("recall"),
          col("cand_pairs"))
      (row, minedFull)
    }
    val (bandedRow, bandedMined) = leg("banded")
    val (cellsRow, cellsMined) = leg("cells")
    val modes = graft.CacheScope.persist(bandedRow.unionByName(cellsRow))
    val best = modes.agg(max(col("recall")).as("best_recall"))
    val pick = modes.crossJoin(broadcast(best))
      .filter(col("recall") >= col("best_recall") - lit(AnnServeRecallSlack))
      .orderBy(col("cand_pairs"), col("mode")).limit(1)
      .select(col("mode").as("pick_mode"))
    val diag = modes.crossJoin(broadcast(pick))
      .select(col("mode"), col("brute_pairs"), col("mined_pairs"),
        col("recall"), col("cand_pairs"),
        (col("mode") === col("pick_mode")).as("picked"))
    (diag, Map("banded" -> bandedMined, "cells" -> cellsMined))
  }

  /** The bitext router, CONSUMED (the [[annServeAuto]] convention): run
    * [[bitextModeDiagnostic]], read the picked candidate mode (a 2-row
    * config-sized collect — the one driver-side branch a data-dependent
    * candidate-source choice needs), and serve that mode's pairs FROM
    * THE MINING THE DIAGNOSTIC ALREADY RAN (persisted per leg — no
    * second margin chain); the pick ships on every output row.
    * BitextSpec pins auto == the picked mode's direct mining on both
    * corpus shapes. */
  def bitextAutoPairs(emb: DataFrame, docLangs: DataFrame,
                      langA: String = "en", langB: String = "de",
                      k: Int = BitextNnK,
                      threshold: Double = BitextMarginThreshold): DataFrame = {
    val (diag, mined) =
      bitextModeEvidence(emb, docLangs, langA, langB, k, threshold)
    val mode = diag.filter(col("picked"))
      .select(col("mode")).head().getString(0)
    mined(mode).withColumn("mode", lit(mode))
  }

  /** The router AT SCALE — the composition the [[bitextModeDiagnostic]]
    * scaladoc promised in prose, as code: the diagnostic (brute
    * reference included) runs on the [[bitextSample]] md5 half-corpus,
    * where the quadratic |A|·|B| brute term is 4× cheaper and both legs
    * see the identical sub-corpus; the PICKED mode then mines the FULL
    * corpus (the diagnostic's sampled mined frames are evidence, not
    * output — unlike [[bitextAutoPairs]] there is nothing to reuse).
    * At 100 TB the sample fraction drops with the corpus (the
    * diagnostic needs a stable recall estimate, not a census); the
    * half-sample here keeps the toy corpus's legs non-degenerate. */
  def bitextAutoPairsSampled(emb: DataFrame, docLangs: DataFrame,
                             langA: String = "en", langB: String = "de",
                             k: Int = BitextNnK,
                             threshold: Double = BitextMarginThreshold): DataFrame = {
    val mode = bitextModeDiagnostic(bitextSample(emb), docLangs,
        langA, langB, k, threshold)
      .filter(col("picked")).select(col("mode")).head().getString(0)
    bitextMarginPairs(emb, docLangs, langA, langB, k, threshold,
        candidates = Some(mode))
      .withColumn("mode", lit(mode))
  }

  /** Semantic CLUSTERS from the mutual-kNN graph: keep an edge only when
    * each endpoint is in the other's top-k (the standard mutual-kNN
    * denoising — one-sided edges from a dense region into an outlier
    * are dropped), then label connected components; vectors with no
    * mutual neighbor are singletons under their own id. The mutual
    * filter is a self-equi-join of the (src, dst) edge set on the
    * reversed key; components ride [[GraphOps.connectedComponents]]
    * (driver union-find under the edge bound, distributed min-label
    * propagation above it). Output: (vec_id, cluster_id). */
  def semanticClusters(emb: DataFrame, k: Int = 3,
                       targetCellSize: Int = 50): DataFrame = {
    val g = graft.CacheScope.persist(
      knnGraph(emb, k, targetCellSize).select(col("src"), col("dst")))
    val mutual = g.join(
      g.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"))
    val comps = GraphOps.connectedComponents(mutual)
      .select(col("id").as("vec_id"), col("comp_id"))
    emb.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp_id"), col("vec_id")).as("cluster_id"))
  }

  /** CLUSTER-BALANCED SAMPLING — the semantic rebalancing pass a
    * curation pipeline runs after clustering (the DCLM / SemDeDup
    * family's "sample evenly across clusters"): at most `quota`
    * vectors survive per [[semanticClusters]] cluster, chosen by a
    * deterministic md5 draw (stable under reruns, content-independent
    * within the cluster), so over-represented semantic neighborhoods
    * stop dominating the mixture while singletons always survive. The
    * per-cluster top-k is TWO-PHASE like `TextOps.tfidfTerms`: phase 1
    * ranks inside (cluster, vec_id-bucket) — `fanout` bounded
    * partitions — and phase 2 re-ranks the ≤ fanout·quota survivors,
    * so the result is EXACTLY the single-window answer while no
    * partition ever holds a whole cluster (a giant near-dup cluster is
    * precisely the input this operator exists for). `cluster_n` ships
    * with each survivor as the rebalancing diagnostic. Output:
    * (vec_id, cluster_id, cluster_n, rk ≤ quota). */
  def clusterBalancedSample(emb: DataFrame, quota: Int = 8,
                            fanout: Int = 32, salt: String = "cbs"): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // the cluster assignment feeds the size agg AND the ranking
    val cl = graft.CacheScope.persist(semanticClusters(emb))
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_n"))
    val drawn = cl.withColumn("draw",
      graft.pipeline.TextOps.mdDraw6On(salt, col("vec_id")))
    val phase1 = drawn.withColumn("rk1", row_number().over(
        W.partitionBy(col("cluster_id"), pmod(col("vec_id"), lit(fanout.toLong)))
          .orderBy(col("draw"), col("vec_id"))))
      .filter(col("rk1") <= quota)
    phase1.withColumn("rk", row_number().over(
        W.partitionBy(col("cluster_id")).orderBy(col("draw"), col("vec_id")))
        .cast("long"))
      .filter(col("rk") <= quota)
      .join(sizes, Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("cluster_n"), col("rk"))
  }

  /** EMBEDDING CENTROID DRIFT — the embedding-space twin of the
    * tokenizer vocabulary-drift monitor: per label, the cosine between
    * the mean embeddings of the two deterministic md5 corpus halves.
    * Cosine is scale-invariant, so the centroid cosine equals the
    * cosine of the raw component SUMS — exact BIGINT per half (products
    * ride decimals against overflow at production counts), one explode
    * + one partial-aggregated shuffle. A label whose halves disagree
    * (cosine ≪ 1) marks a class whose embedding distribution is
    * unstable across the corpus — retrain/recalibrate signal. Output:
    * (label, n_a, n_b, centroid_cosine). */
  def centroidDrift(emb: DataFrame, salt: String = "half"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sums = emb
      .select(col("label"), (vecDraw(salt) < 500000L).as("ha"),
        posexplode(quant).as(Seq("i", "x")))
      .groupBy(col("label"), col("ha"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val a = sums.filter(col("ha"))
      .select(col("label"), col("i"), col("s").as("sa"), col("n").as("n_a"))
    val b = sums.filter(!col("ha"))
      .select(col("label"), col("i"), col("s").as("sb"), col("n").as("n_b"))
    def dprod(x: Column, y: Column) =
      sum(x.cast(DecimalType(38, 0)) * y.cast(DecimalType(38, 0))).cast("double")
    a.join(b, Seq("label", "i"))
      .groupBy(col("label"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        dprod(col("sa"), col("sb")).as("dot"),
        dprod(col("sa"), col("sa")).as("na"),
        dprod(col("sb"), col("sb")).as("nb"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dot") / sqrt(col("na") * col("nb")) + lit(1e-9), 6)
          .as("centroid_cosine"))
  }

  /** Spark-side twin of the engines' ROUND(double): half away from zero
    * on the decimal rendering — Spark's `Round` and DuckDB's `round()`
    * agree on this (both resolve exact .5 doubles away from zero), so a
    * driver-side fit that rounds with the same rule stays bit-identical
    * with the SQL replay. */
  private def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Top principal direction of the quantized embedding cloud — the
    * whitening / curriculum axis every embedding-curation pipeline wants
    * (ABTT/"all-but-the-top" dominant-direction removal, PCA-guided IVF
    * preprocessing).
    *
    * Exact fixed-point power iteration, fit-small / score-distributed
    * like the IVF centroid fit:
    *  1. one distributed pass for the per-component sums (dim groups,
    *     map-side partial aggregation);
    *  2. one distributed pass for the integer-centered covariance — each
    *     row emits its UPPER-TRIANGLE outer products from a single
    *     nested `transform` (no self-join), partial-aggregated into
    *     dim·(dim+1)/2 groups, collected as a bounded ≤64×64 matrix;
    *  3. `iters` power-iteration rounds run driver-side on the bounded
    *     matrix in exact arithmetic: u = C·v is integer (|u| ≤
    *     64·4e6·1e6 < 2^53, so the BIGINT and double views agree), and
    *     the renormalization v' = round(u/max|u|·1e6) is one IEEE
    *     division + multiply + half-away round — deterministic on both
    *     engines, replayed by the oracle's unrolled CTE chain.
    *
    * Covariance entries are round(S_ij/N): centered products stay exact
    * BIGINT per row (|q−m| ≤ ~2·10³ ⇒ products ≤ ~4·10⁶), sums ride
    * decimals so no corpus size overflows, and the single double
    * division per entry is bit-identical across engines. Work is
    * N·dim²/2 map-side multiplies — the intrinsic covariance cost — with
    * a constant-size shuffle; nothing in the plan grows with the corpus
    * beyond the two scans. */
  private[graft] def pcaFit(emb: DataFrame, iters: Int = 8)
      : (Array[Long], Array[Long]) = {
    import org.apache.spark.sql.types.DecimalType
    val ex = emb.select(posexplode(quant).as(Seq("i", "x")))
    val mrows = ex.groupBy(col("i"))
      .agg(sum(col("x").cast(DecimalType(38, 0))).as("s"), count(lit(1)).as("n"))
      .collect()
    require(mrows.nonEmpty, "PCA fit needs a non-empty corpus")
    val dim = mrows.length
    val n = mrows.head.getLong(2)
    val mu = new Array[Long](dim)
    mrows.foreach { r =>
      mu(r.getInt(0)) = roundHalfUp(r.getDecimal(1).doubleValue() / n)
    }
    val muLit = typedlit(mu.toSeq)
    val cen = emb.select(
      transform(quant, (x, i) => x - element_at(muLit, i + 1)).as("c"))
    val tri = cen.select(explode(flatten(transform(col("c"), (xi, i) =>
        transform(slice(col("c"), i + 1, size(col("c"))), (xj, j0) =>
          struct(i.cast("int").as("i"), (i + j0).cast("int").as("j"),
            (xi * xj).cast(DecimalType(38, 0)).as("p")))))).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p")).as("s"))
      .collect()
    val c = Array.ofDim[Long](dim, dim)
    tri.foreach { r =>
      val v = roundHalfUp(r.getDecimal(2).doubleValue() / n)
      c(r.getInt(0))(r.getInt(1)) = v
      c(r.getInt(1))(r.getInt(0)) = v
    }
    var v = Array.fill(dim)(1000000L)
    for (_ <- 0 until iters) {
      val u = Array.tabulate(dim) { i =>
        var s = 0L; var j = 0
        while (j < dim) { s += c(i)(j) * v(j); j += 1 }
        s
      }
      val m = u.map(math.abs).max
      if (m != 0L) v = u.map(uj => roundHalfUp(uj.toDouble / m * 1e6))
    }
    (mu, v)
  }

  /** The fitted loading vector as a (i, loading) frame — dim rows,
    * loadings in [-1e6, 1e6] fixed-point. */
  def pcaLoading(emb: DataFrame, iters: Int = 8): DataFrame =
    pcaLoadingFrom(emb, pcaFit(emb, iters))

  /** [[pcaLoading]] from an already-fitted model (e.g. the session
    * fixture [[PcaFixture]]) — no scans. */
  def pcaLoadingFrom(emb: DataFrame,
                     fit: (Array[Long], Array[Long])): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    fit._2.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toSeq
      .toDF("i", "loading")
  }

  /** Per-vector projection onto the fitted top principal direction:
    * pc1 = Σᵢ (qᵢ − μᵢ)·vᵢ, exact BIGINT (≤ 64·2e3·1e6 ≪ 2^63). The
    * fitted (μ, v) ship as plan literals, so scoring is one map-side
    * pass over the corpus — zero shuffles, the same broadcast-the-model
    * shape as [[kmeansRanked]]. */
  def pcaProject(emb: DataFrame, iters: Int = 8): DataFrame =
    pcaProjectWith(emb, pcaFit(emb, iters))

  /** [[pcaProject]] from an already-fitted model — scoring only. */
  def pcaProjectWith(emb: DataFrame,
                     fit: (Array[Long], Array[Long])): DataFrame = {
    val (mu, v) = fit
    val muLit = typedlit(mu.toSeq)
    val vLit = typedlit(v.toSeq)
    emb.select(col("vec_id"),
      aggregate(
        transform(quant, (x, i) =>
          (x - element_at(muLit, i + 1)) * element_at(vLit, i + 1)),
        lit(0L), _ + _).as("pc1"))
  }

  /** ALL-BUT-THE-TOP correction (Mu & Viswanath 2018): remove the
    * dominant direction from every embedding — x' = (x−μ) −
    * round(((x−μ)·v)/(v·v) · v) — the isotropy fix run before cosine
    * retrieval on anisotropic embedding spaces. Output is the corrected
    * table in long form (vec_id, i, resid), integer components.
    *
    * Exactness: the projection (x−μ)·v and ‖v‖² are exact BIGINT; the
    * per-component correction is (p/‖v‖²)·vᵢ — two IEEE double ops on
    * exactly-representable integers (p ≤ 1.3·10¹¹, ‖v‖² ≤ 6.4·10¹³,
    * both < 2⁵³) then one half-away round, identical on both engines.
    * Same zero-shuffle broadcast-the-model shape as [[pcaProject]]. */
  def abttResiduals(emb: DataFrame, iters: Int = 8): DataFrame =
    abttResidualsWith(emb, pcaFit(emb, iters))

  /** ISOTROPY DIAGNOSTIC — did the ABTT correction actually flatten the
    * dominant direction? One row: variance of the along-axis projection
    * BEFORE (pc1 = (q−μ)·v) and AFTER the correction (pc1 minus the
    * rounded removed component — computable per row from pc1 and the
    * loading literal, no second data pass), plus the reduction ratio.
    * Projections and their squares ride decimal-exact sums; the two
    * variances are then single IEEE expressions of identical integers
    * on both engines. Zero shuffles: one map-side pass + one global
    * aggregate. */
  def abttIsotropy(emb: DataFrame, iters: Int = 8): DataFrame =
    abttIsotropyWith(emb, pcaFit(emb, iters))

  /** [[abttIsotropy]] from an already-fitted model — scoring only. */
  def abttIsotropyWith(emb: DataFrame,
                       fit: (Array[Long], Array[Long])): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (mu, v) = fit
    val vv = v.map(x => x * x).sum
    require(vv > 0L, "isotropy diagnostic needs a non-zero direction")
    val muLit = typedlit(mu.toSeq)
    val vLit = typedlit(v.toSeq)
    val scored = emb.select(
        aggregate(transform(quant, (x, i) =>
          (x - element_at(muLit, i + 1)) * element_at(vLit, i + 1)),
          lit(0L), _ + _).as("p"))
      .withColumn("pa", col("p") - aggregate(
        transform(vLit, (vi, _) =>
          round(col("p").cast("double") / lit(vv.toDouble) * vi).cast("long") * vi),
        lit(0L), _ + _))
    def dsum(c: Column) = sum(c.cast(DecimalType(38, 0))).cast("double")
    // squares exceed Long (p² up to ~1.7e22): cast to decimal BEFORE the
    // multiply so the product is exact, never a wrapped long
    def dsq(c: Column) = sum(c.cast(DecimalType(38, 0))
      * c.cast(DecimalType(38, 0))).cast("double")
    scored.agg(count(lit(1)).as("n"),
        dsum(col("p")).as("s1"), dsq(col("p")).as("s2"),
        dsum(col("pa")).as("a1"), dsq(col("pa")).as("a2"))
      .select(col("n"),
        round((col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
          + lit(1e-9), 4).as("axis_var_before"),
        round((col("a2") / col("n") - (col("a1") / col("n")) * (col("a1") / col("n")))
          + lit(1e-9), 4).as("axis_var_after"),
        // a degenerate corpus (n = 1, or all projections identical) has
        // no variance to reduce: report the ratio as NULL, never a NaN
        // that would vacuously fail downstream comparisons
        when((col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))) > 0,
          round((col("a2") / col("n") - (col("a1") / col("n")) * (col("a1") / col("n")))
            / (col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
            + lit(1e-9), 8)).as("residual_ratio"))
  }

  /** CLIP-SCORE ALIGNMENT GATE — the LAION-400M/5B construction filter
    * (Schuhmann et al. 2021): an image-text pair survives iff the
    * cosine between its two CLIP embeddings clears a threshold (LAION
    * ships 0.28 for ViT-B/32). The encoder itself is out of engine
    * scope (the multimodal decode-stub policy); the ENGINE side — pair
    * matching, exact quantized cosine, threshold verdict, per-label
    * survival accounting — is real and oracle-checked. Pairing fixture:
    * even `vec_id` = image embedding, odd = its caption (pair_id =
    * vec_id div 2), so the join is one equi-join on a data-scale key;
    * the cosine is the [[cosine]] kernel (exact integer dots, IEEE
    * sqrt/divide — bit-identical across engines), rounded at 6 dp
    * before the verdict so the comparison sees identical bits. Scales
    * as one shuffle on pair_id + per-row arithmetic; at 100 TB the
    * pair join co-partitions and the gate stays embarrassingly
    * parallel. Output: (pair_id, label, clip_sim, keep). */
  def clipGate(emb: DataFrame, threshold: Double = 0.28): DataFrame = {
    val q = emb.select(col("vec_id"), quant.as("qv"), col("label"),
      expr("vec_id div 2").as("pair_id"), pmod(col("vec_id"), lit(2L)).as("side"))
    val img = q.filter(col("side") === 0)
      .select(col("pair_id"), col("qv").as("qa"), col("label"))
    val txt = q.filter(col("side") === 1)
      .select(col("pair_id"), col("qv").as("qb"))
    img.join(txt, Seq("pair_id"))
      .select(col("pair_id"), col("label"),
        round(cosine(col("qa"), col("qb")) + lit(1e-9), 6).as("clip_sim"))
      .withColumn("keep", col("clip_sim") >= threshold)
  }

  /** [[abttResiduals]] from an already-fitted model — scoring only. */
  def abttResidualsWith(emb: DataFrame,
                        fit: (Array[Long], Array[Long])): DataFrame = {
    val (mu, v) = fit
    val vv = v.map(x => x * x).sum
    require(vv > 0L, "ABTT needs a non-zero principal direction")
    val muLit = typedlit(mu.toSeq)
    val vLit = typedlit(v.toSeq)
    emb.select(col("vec_id"), quant.as("q"),
        aggregate(
          transform(quant, (x, i) =>
            (x - element_at(muLit, i + 1)) * element_at(vLit, i + 1)),
          lit(0L), _ + _).as("p"))
      .select(col("vec_id"), posexplode(transform(col("q"), (x, i) =>
        (x - element_at(muLit, i + 1)) -
          round(col("p").cast("double") / lit(vv.toDouble)
            * element_at(vLit, i + 1)).cast("long"))).as(Seq("i", "resid")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("resid"))
  }
}
