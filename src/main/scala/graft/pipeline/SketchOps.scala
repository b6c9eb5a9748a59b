package graft.pipeline

import graft.functions.TextCols
import graft.pipeline.DedupOps.hex60
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-memory probabilistic structures for 100 TB join pruning and
  * cardinality work, alongside [[TextOps.kmvDistinct]] (KMV) and
  * [[TextOps.cmsTokenCounts]] (count-min):
  *
  *  - Bloom-filter semi-join pruning: when the filter side of a semi-join
  *    is too big to broadcast as a set but its BITS fit anywhere (1 GB
  *    covers ~4.3 billion keys at 8 bits/key), ship the bit set and
  *    filter scan-side, turning a shuffle semi-join into a map-side
  *    prune with a bounded false-positive tail. This is exactly what
  *    Spark's own runtime row-group filtering does internally; here it
  *    is explicit, engine-exact (md5-derived positions) and therefore
  *    oracle-verifiable, with the exact membership bit kept alongside as
  *    the honesty diagnostic (false positives visible, false negatives
  *    provably zero).
  *  - HyperLogLog distinct counting (Flajolet et al. 2007): m = 2^p
  *    single-byte registers per group — mergeable across partitions /
  *    days for free because register state composes by MAX, which is
  *    exactly how the groupBy below computes it. The exact distinct
  *    count rides along as the honesty diagnostic (same contract as
  *    KMV); at 100 TB the exact column is dropped and only the m-byte
  *    state shuffles.
  *
  * All hashing is md5-derived (engine-portable exact); every floating
  * step is either a single IEEE op (deterministic in both engines) or
  * rounded behind the repo's +1e-9 epsilon.
  */
object SketchOps {

  /** The k md5-derived bit positions of `id` in an m-bit Bloom filter.
    * Position i = hex60(md5("bl<i>:" || id)) % m — independent hashes by
    * salt, identical spelling in the DuckDB oracle. */
  def bloomPositions(id: org.apache.spark.sql.Column, k: Int, m: Int) =
    (0 until k).map(i => hex60(md5(concat(lit(s"bl$i:"), id.cast("string")))) % m)

  /** Bloom-membership prune of `probe` against the id set `keys` (both
    * carrying `idCol`): returns every probe row with `exact_member` (the
    * ground truth) and `bloom_member` (the filter's answer). The filter
    * is built as the DISTINCT set of occupied bit positions (≤ m rows),
    * collapsed to one sorted-array row and broadcast — the probe side
    * never shuffles. A production filter packs the positions into m/64
    * longs (bitwise-OR aggregate, same plan shape); the position-array
    * form is kept here because it is directly comparable to the oracle's
    * relational spelling, and m stays caller-bounded either way.
    *
    * Correctness contract: bloom_member >= exact_member row-wise (no
    * false negatives ever — asserted in SketchSpec); the false-positive
    * surplus is the documented tail, ~(1 - e^(-kn/m))^k. */
  def bloomPrune(probe: DataFrame, keys: DataFrame, idCol: String,
                 k: Int = 3, m: Int = 4096): DataFrame = {
    require(k >= 1 && m >= 2, "need at least one hash and two bits")
    val pos = bloomPositions(col(idCol), k, m)
    val bits = keys.select(col(idCol)).distinct()
      .select(explode(array(pos: _*)).as("p")).distinct()
      .agg(sort_array(collect_list(col("p"))).as("bits"))
    val marked = probe
      .join(keys.select(col(idCol)).distinct().withColumn("exact_member", lit(1)),
        Seq(idCol), "left")
      .na.fill(0, Seq("exact_member"))
    marked.crossJoin(broadcast(bits))
      .withColumn("bloom_member",
        pos.map(p => array_contains(col("bits"), p)).reduce(_ && _)
          .cast("int"))
      .select(col(idCol), col("exact_member"), col("bloom_member"))
  }

  /** HyperLogLog distinct-token estimate per `source` over whitespace
    * tokens of `text`, with the exact distinct count as the honesty
    * diagnostic. p register-index bits (m = 2^p registers); the 60-bit
    * md5 hash splits into the top p bits (register) and the low 52 bits
    * (rank window): rho = leading zeros in the 52-bit window + 1 =
    * 53 - length(bin(w)), computed identically in both engines from the
    * minimal binary string. The harmonic-mean denominator is summed as
    * the EXACT integer Σ 2^(53-M_r) (≤ m·2^53, long-safe at the p ≤ 8 bound), so
    * the only floating ops are the final division and (in the
    * small-range branch) one ln — both single IEEE ops behind an
    * integer-rounded estimate. Registers compose by MAX, so this exact
    * plan is the mergeable 100 TB form: per-partition partial maxes,
    * m rows per group after the one shuffle. */
  /** The HLL register frame (source, r, mr) of `docs` — the sketch
    * STATE, separated so mergeability is a testable property: registers
    * of a union are the per-register MAX of the parts' registers
    * (SketchSpec pins shard-merge == whole-corpus). `dedupTokens=false`
    * skips the token distinct — registers are IDENTICAL either way (MAX
    * is idempotent over repeats), but a streaming caller needs the
    * stateless form: the groupBy-MAX then runs as a plain update-mode
    * streaming aggregation whose store state is the registers
    * themselves (see [[CurationStreams.hllRegisterStream]]). */
  def hllRegisters(docs: DataFrame, p: Int,
                   dedupTokens: Boolean = true): DataFrame = {
    val m = 1 << p
    val base = docs.select(col("source"), explode(array_distinct(TextCols.tokens)).as("t"))
    (if (dedupTokens) base.distinct() else base)
      .withColumn("h", hex60(md5(concat(lit("hll:"), col("t")))))
      .withColumn("r", expr(s"h div ${1L << 52}") % m)
      .withColumn("w", expr(s"h % ${1L << 52}"))
      .withColumn("rho", when(col("w") === 0, lit(53))
        .otherwise(lit(53) - length(expr("bin(w)"))))
      .groupBy(col("source"), col("r")).agg(max(col("rho")).as("mr"))
  }

  /** The shared estimator tail: registers (grp, r, mr) + exact counts
    * (grp, exact_n) → (grp, exact_n, hll_n, rel_err). ONE spelling of
    * the alpha / harmonic-sum / linear-counting arithmetic, so the
    * per-source and per-window sketches cannot desynchronize. */
  private def hllEstimate(regs: DataFrame, exact: DataFrame,
                          grp: String, p: Int): DataFrame = {
    val m = 1 << p
    // alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3)
    val alpha = 0.7213 / (1 + 1.079 / m)
    val num = alpha * m * m * math.pow(2.0, 53)
    regs.groupBy(col(grp))
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(53 - mr as int))")).as("sp"),
        count(lit(1)).as("present"))
      .withColumn("zeros", lit(m.toLong) - col("present"))
      .withColumn("sum_int", col("sp") + col("zeros") * lit(1L << 53))
      .withColumn("raw", lit(num) / col("sum_int").cast("double"))
      .withColumn("est",
        when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw")))
      .join(exact, Seq(grp))
      .select(col(grp), col("exact_n"),
        round(col("est") + lit(1e-9), 0).cast("long").as("hll_n"),
        round((round(col("est") + lit(1e-9), 0) - col("exact_n").cast("double"))
          / col("exact_n").cast("double") + lit(1e-9), 4).as("rel_err"))
  }

  def hllDistinct(docs: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 8,
      "p in [4, 8]: the register index is the TOP p bits of the 60-bit hash\n"
        + "and the rank window is fixed at the low 52 bits, so p > 8 would\n"
        + "leave registers beyond 2^8 permanently empty")
    val tok = docs.select(col("source"), explode(array_distinct(TextCols.tokens)).as("t"))
      .distinct()
    val exact = tok.groupBy(col("source")).agg(count(lit(1)).as("exact_n"))
    hllEstimate(hllRegisters(docs, p), exact, "source", p)
  }

  /** WINDOWED distinct-user sketch over the event stream: per hour
    * bucket, the HLL estimate of distinct user_ids with the exact count
    * as the honesty column — the mergeable per-time-bucket form a
    * production metrics store keeps (registers compose by MAX across
    * buckets AND across shards, so daily = max-merge of the hours, and
    * the same groupBy-MAX runs as an update-mode streaming aggregation
    * like [[CurationStreams.hllRegisterStream]]). Same
    * exact-integer estimator as [[hllDistinct]]: the harmonic-mean
    * denominator is Σ 2^(53−M_r) in BIGINT, the only floats are one
    * division and (small-range) one ln. */
  def hllUserWindows(events: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 8, "p in [4, 8]: register index = top 8 hash bits")
    val m = 1 << p
    val du = events.select(
        expr("unix_timestamp(ts) div 3600 * 3600").as("win_start"),
        col("user_id"))
      .distinct()
    val regs = du
      .withColumn("h", DedupOps.hex60(md5(concat(lit("hllu:"), col("user_id").cast("string")))))
      .withColumn("r", expr(s"h div ${1L << 52}") % m)
      .withColumn("w", expr(s"h % ${1L << 52}"))
      .withColumn("rho", when(col("w") === 0, lit(53))
        .otherwise(lit(53) - length(expr("bin(w)"))))
      .groupBy(col("win_start"), col("r")).agg(max(col("rho")).as("mr"))
    val exact = du.groupBy(col("win_start")).agg(count(lit(1)).as("exact_n"))
    hllEstimate(regs, exact, "win_start", p)
  }
}
