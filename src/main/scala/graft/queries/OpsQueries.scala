package graft.queries

import graft.Tables
import graft.functions.FrameOps
import graft.models.{CandidateOps, CapacityModel}
import graft.metrics.MetricOps
import graft.sources.ProfilesStore
import graft.streaming.StreamingJobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining SURVEY.md §2 operators: the managed streaming-job semantics
  * in batch-verifiable form (A18/A19), synthetic sources (S12–S14), the
  * mutable profiles store (S5/S7), P4/P9, J6/M9, J8, O5, O6 and M13.
  */
object OpsQueries extends QueryModule {

  private val PRO = Tables.profilesSql

  private def profiles(s: SparkSession, d: String) = Tables.profiles(s, d)

  /** m8-style candidates reused by J8/O6/M13. */
  private def m8Cands(s: SparkSession, d: String): DataFrame =
    MetricOps.validityRegression(
      profiles(s, d).select(col("scaleout"), col("stopts").as("ts"),
        col("avglat").as("value"), col("expid")),
      Seq("scaleout"), tieCol = "expid")

  private val m8Sql: String = MetricQueries.oracles("m8_validity_regression")

  /** S10 generator fleet: (period, amplitude, vphase) per generator, and
    * the inclusive retrieval window (points 100..600 of the 60 s grid). */
  private val s10Gens = Seq((360, 100.0, 120.0), (180, 55.0, 80.0), (720, 20.0, 210.0))
  private val s10Start = 1704067200L + 100 * 60
  private val s10Stop = 1704067200L + 600 * 60

  /** J6 input: per scale-out the latest (stopts, expid) avgLat. */
  private def lastVals(s: SparkSession, d: String): DataFrame =
    profiles(s, d)
      .withColumn("rn", row_number().over(Window.partitionBy(col("scaleout"))
        .orderBy(col("stopts").desc, col("expid").desc)))
      .filter(col("rn") === 1)
      .select(col("scaleout"), col("avglat").as("last_value"))

  private val lastValsSql =
    s"""SELECT scaleout, avglat AS last_value FROM (
       |  SELECT scaleout, avglat, row_number() OVER (PARTITION BY scaleout
       |    ORDER BY stopts DESC, expid DESC) AS rn FROM profiles) WHERE rn = 1""".stripMargin

  /** P9 candidate set: per-scale-out mean latency + membership gate. */
  private def p9Cands(s: SparkSession, d: String): DataFrame =
    profiles(s, d).groupBy(col("scaleout"))
      .agg(round(Sql.decAvg(col("avglat")) + lit(1e-9), 4).as("mean_lat"))
      .withColumn("is_valid",
        col("mean_lat") < 3000.0 && col("scaleout").isin(2, 4, 6, 8, 10, 12))

  private val p9Sql =
    s"""SELECT scaleout, ROUND(${Sql.decAvgSql("avglat")} + 1e-9, 4) AS mean_lat,
       |  ROUND(${Sql.decAvgSql("avglat")} + 1e-9, 4) < 3000.0
       |    AND scaleout IN (2, 4, 6, 8, 10, 12) AS is_valid
       |FROM profiles GROUP BY scaleout""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A18 — per-car max speed per 6h event-time window (batch-verified
    // streaming plan; the same Column chain runs on readStream).
    "a18_top_speed_windows" -> ((s, d) =>
      StreamingJobs.topSpeedWindows(
        Tables.events(s, d).select(col("ts"), (col("user_id") % 50).as("car_id"),
          col("value").as("speed")),
        windowLen = "6 hours")),

    // S9 — the Kafka payload codec verified end-to-end in batch: encode
    // events as kafka (key, JSON value) pairs, decode with the consumer
    // schema, run the A18 job transform. encode∘decode must be the
    // identity (timestamps, longs, doubles all survive JSON), so the
    // oracle is exactly A18's — any codec lossiness breaks the hash.
    "s9_kafka_roundtrip" -> ((s, d) => {
      import graft.streaming.KafkaWiring
      val cars = Tables.events(s, d).select(col("ts"),
        (col("user_id") % 50).as("car_id"), col("value").as("speed"))
      StreamingJobs.topSpeedWindows(
        KafkaWiring.decode(KafkaWiring.encode(cars, "car_id"),
          KafkaWiring.carEventSchema),
        windowLen = "6 hours")
    }),

    // A19 — view events × broadcast campaigns, counted per 12h window.
    "a19_campaign_windows" -> ((s, d) =>
      StreamingJobs.campaignWindows(
        Tables.events(s, d),
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment").as("campaign")),
        windowLen = "12 hours")),

    "s12_sine_workload" -> ((s, _) =>
      StreamingJobs.sineWorkload(s, n = 1000, period = 360, amplitude = 100.0,
        vphase = 120.0, startTs = 1704067200L, step = 60L)),

    "s13_tiled_workload" -> ((s, d) =>
      StreamingJobs.tiledWorkload(
        Tables.series(s, d).filter(col("sid") === "click").select("ts", "value"),
        k = 3, spanTs = 2592000L)),

    "s14_random_series" -> ((s, _) =>
      StreamingJobs.randomSeries(s, n = 500, startTs = 1704067200L, step = 60L)),

    // S10 — generator workload retrieval (reference
    // clients/generators/GeneratorsRest.java:35-38 `POST generators/
    // workload {startTs, stopTs}` + managers/ClientsManager.java:295-306
    // `getWorkload`): each generator serves its history sliced to the
    // inclusive [startTs, stopTs] window (P6), and the manager merges the
    // per-generator series with the n-way summing merge (J2 — the
    // reference's TimeSeries.asyncMerge). Three sine generators with
    // distinct period/amplitude/phase stand in for the REST fleet.
    "s10_generator_workload" -> ((s, _) => {
      val gens = s10Gens.map { case (p, a, v) =>
        StreamingJobs.sineWorkload(s, n = 1000, period = p, amplitude = a,
          vphase = v, startTs = 1704067200L, step = 60L)
      }
      graft.timeseries.TimeSeriesOps.mergeSumN(
        gens.map(graft.timeseries.TimeSeriesOps.slice(_, s10Start, s10Stop)))
    }),

    // S4 — the profiles fixture as a comma CSV with header (reference
    // test/profiles2.csv shape): write, read back with the explicit
    // schema (never inferred), values must survive exactly.
    "s4_profiles_csv" -> ((s, d) => {
      val path = s"target/graft-tmp/profiles_csv_${new java.io.File(d).getName}"
      profiles(s, d).write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("expid BIGINT, gentype STRING, jobname STRING, scaleout BIGINT, " +
          "avglat DOUBLE, avgthr DOUBLE, isbckpres BIGINT, startts BIGINT, stopts BIGINT")
        .csv(path)
    }),

    // S5/S6/S7 — store lifecycle: init with non-backpressure rows, append
    // the rest, delete a slice, read back.
    "s5_s7_store_roundtrip" -> ((s, d) => {
      val path = s"target/graft-tmp/profiles_store_${new java.io.File(d).getName}"
      ProfilesStore.init(profiles(s, d).filter(col("isbckpres") === 0), path)
      ProfilesStore.append(profiles(s, d).filter(col("isbckpres") === 1), path)
      ProfilesStore.delete(s, path, col("gentype") === "CARS" && col("scaleout") > 20)
      ProfilesStore.read(s, path)
    }),

    "p4_drop_null_cols" -> ((s, d) =>
      FrameOps.dropAllNullColumns(
        Tables.events(s, d).select(col("event_id"), col("value"), col("event_type"),
          lit(null).cast("double").as("ghost")))),

    "p9_candidate_membership" -> ((s, d) => p9Cands(s, d)),

    "j6_cluster_validity" -> ((s, d) =>
      CandidateOps.clusterValidity(lastVals(s, d))),

    "j8_candidate_response_join" -> ((s, d) =>
      m8Cands(s, d).select(col("scaleout"), col("pred"), col("valid").as("valid_reg"))
        .join(CandidateOps.clusterValidity(lastVals(s, d))
          .select(col("scaleout"), col("votes"), col("is_valid").as("valid_cluster")),
          Seq("scaleout"))),

    "o5_first_valid" -> ((s, d) =>
      p9Cands(s, d).filter(col("is_valid")).orderBy(col("scaleout")).limit(1)),

    "o6_tolerant_argmin" -> ((s, d) => {
      import s.implicits._
      val cands = m8Cands(s, d).select("scaleout", "pred").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // fail loudly (not with a cryptic NoSuchElement) if the fixture ever
      // stops covering the current scale-out
      val cur = cands.find(_._1 == 8L)
        .getOrElse(sys.error("o6: no candidate at current scale-out 8"))
      val (so, v) = CandidateOps.bestByTolerantArgmin(cands, cur._1, cur._2)
      val rounded = java.math.BigDecimal.valueOf(v + 1e-9)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      Seq((so, rounded)).toDF("best_scaleout", "best_value")
    }),

    "m13_rescale_decision" -> ((s, d) => {
      import s.implicits._
      val m8 = m8Cands(s, d).select("scaleout", "pred", "valid").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      val cur = m8.find(_._1 == 8L)
        .getOrElse(sys.error("m13: no candidate at current scale-out 8"))
      val (bestLat, _) = CandidateOps.bestByTolerantArgmin(
        m8.map(t => (t._1, t._2)).toSeq, cur._1, cur._2)
      val bestRec = p9Cands(s, d).filter(col("is_valid")).orderBy(col("scaleout"))
        .limit(1).head.getLong(0)
      val slope = MetricOps.slopeIntercept(Tables.series(s, d).filter(col("sid") === "click"))
        .head.getAs[Double]("slope")
      val (bestFinal, rescale) = CandidateOps.rescaleDecision(
        bestRec, bestLat, None, slope, 8L, cur._3)
      Seq((bestRec, bestLat, slope > 0, cur._3, bestFinal, rescale))
        .toDF("best_rec", "best_lat", "slope_positive", "current_valid",
          "best_final", "rescale")
    }))

  // ------------------------------------------------------------ oracles --

  def oracles: Map[String, String] = Map(
    "a18_top_speed_windows" ->
      """SELECT (user_id % 50) AS car_id,
        |  CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) * 21600 AS win_start,
        |  MAX(value) AS max_speed
        |FROM events GROUP BY 1, 2""".stripMargin,

    // identical to a18: the kafka JSON codec is lossless by contract
    "s9_kafka_roundtrip" ->
      """SELECT (user_id % 50) AS car_id,
        |  CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) * 21600 AS win_start,
        |  MAX(value) AS max_speed
        |FROM events GROUP BY 1, 2""".stripMargin,

    "a19_campaign_windows" ->
      """SELECT c_mktsegment AS campaign,
        |  CAST(FLOOR(epoch(ts) / 43200) AS BIGINT) * 43200 AS win_start,
        |  COUNT(*) AS n_views
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'view'
        |GROUP BY 1, 2""".stripMargin,

    "s12_sine_workload" ->
      s"""SELECT 1704067200 + i * 60 AS ts,
         |  ROUND(abs(x + x * noise) + 1e-9, 4) AS value
         |FROM (SELECT i,
         |    ROUND(SIN(CAST(i AS DOUBLE) * 6.283185307179586e0 / 360), 8) * 100.0e0 + 120.0e0 AS x,
         |    CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
         |      % 2001 - 1000 AS DOUBLE) / 100000.0e0 AS noise
         |  FROM range(0, 1000) r(i))""".stripMargin,

    "s13_tiled_workload" ->
      s"""WITH series AS (${Tables.seriesSql}),
         |ser AS (SELECT ts, value FROM series WHERE sid = 'click')
         |SELECT ts + rep * 2592000 AS ts,
         |  ROUND(abs(value + value *
         |    (CAST(CAST('0x' || substr(md5(CAST(rep AS VARCHAR) || ':' ||
         |        CAST(ts AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000 AS DOUBLE)
         |      / 100000.0e0)) + 1e-9, 4) AS value
         |FROM ser CROSS JOIN (SELECT UNNEST(range(0, 3)) AS rep) rr""".stripMargin,

    "s14_random_series" ->
      """SELECT 1704067200 + i * 60 AS ts,
        |  CAST(CAST('0x' || substr(md5('r' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
        |    % 10000 AS DOUBLE) / 10000 AS value
        |FROM range(0, 500) r(i)""".stripMargin,

    "s10_generator_workload" -> {
      val gensVals = s10Gens
        .map { case (p, a, v) => s"($p, ${a}e0, ${v}e0)" }.mkString(", ")
      s"""WITH g(period, amp, vph) AS (VALUES $gensVals),
         |pts AS (
         |  SELECT 1704067200 + i * 60 AS ts,
         |    ROUND(abs(x + x * noise) + 1e-9, 4) AS value
         |  FROM (SELECT i,
         |      ROUND(SIN(CAST(i AS DOUBLE) * 6.283185307179586e0 / period), 8)
         |        * amp + vph AS x,
         |      CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
         |        % 2001 - 1000 AS DOUBLE) / 100000.0e0 AS noise
         |    FROM range(0, 1000) r(i) CROSS JOIN g))
         |SELECT ts, CASE WHEN COUNT(value) = 0 THEN NULL
         |  ELSE ROUND(SUM(value), 4) END AS value
         |FROM pts WHERE ts BETWEEN $s10Start AND $s10Stop
         |GROUP BY ts""".stripMargin
    },

    "s4_profiles_csv" ->
      s"WITH profiles AS ($PRO) SELECT * FROM profiles",

    "s5_s7_store_roundtrip" ->
      s"""WITH profiles AS ($PRO)
         |SELECT * FROM profiles
         |WHERE NOT (gentype = 'CARS' AND scaleout > 20)""".stripMargin,

    "p4_drop_null_cols" ->
      "SELECT event_id, value, event_type FROM events",

    "p9_candidate_membership" ->
      s"WITH profiles AS ($PRO) $p9Sql",

    "j6_cluster_validity" ->
      s"""WITH profiles AS ($PRO),
         |lastv AS ($lastValsSql),
         |votes AS (
         |  SELECT a.scaleout, a.last_value,
         |    CAST(SUM(CASE WHEN abs((a.last_value - b.last_value) / b.last_value) < 2.0e0
         |        THEN 1 ELSE 0 END) AS BIGINT) AS votes
         |  FROM lastv a CROSS JOIN lastv b
         |  WHERE a.scaleout <> b.scaleout
         |  GROUP BY a.scaleout, a.last_value)
         |SELECT scaleout, last_value, votes,
         |  votes = MAX(votes) OVER () AS is_valid
         |FROM votes""".stripMargin,

    "j8_candidate_response_join" ->
      s"""WITH m8 AS ($m8Sql),
         |profiles AS ($PRO),
         |lastv AS ($lastValsSql),
         |votes AS (
         |  SELECT a.scaleout, a.last_value,
         |    CAST(SUM(CASE WHEN abs((a.last_value - b.last_value) / b.last_value) < 2.0e0
         |        THEN 1 ELSE 0 END) AS BIGINT) AS votes
         |  FROM lastv a CROSS JOIN lastv b
         |  WHERE a.scaleout <> b.scaleout
         |  GROUP BY a.scaleout, a.last_value),
         |j6 AS (SELECT scaleout, votes, votes = MAX(votes) OVER () AS valid_cluster
         |       FROM votes)
         |SELECT m8.scaleout, m8.pred, m8.valid AS valid_reg, j6.votes, j6.valid_cluster
         |FROM m8 JOIN j6 ON m8.scaleout = j6.scaleout""".stripMargin,

    "o5_first_valid" ->
      s"""WITH profiles AS ($PRO),
         |p9 AS ($p9Sql)
         |SELECT * FROM p9 WHERE is_valid ORDER BY scaleout LIMIT 1""".stripMargin,

    "o6_tolerant_argmin" ->
      s"""WITH RECURSIVE m8 AS ($m8Sql),
         |c AS (SELECT scaleout, pred,
         |    row_number() OVER (ORDER BY scaleout) AS pos FROM m8),
         |st AS (
         |  SELECT 0 AS pos, CAST(8 AS BIGINT) AS so,
         |    (SELECT pred FROM m8 WHERE scaleout = 8) AS v
         |  UNION ALL
         |  SELECT c.pos,
         |    CASE WHEN abs((st.v - c.pred) / c.pred) < 5e-2 AND c.scaleout < st.so
         |           THEN c.scaleout
         |         WHEN abs((st.v - c.pred) / c.pred) > 5e-2 AND c.pred < st.v
         |           THEN c.scaleout
         |         ELSE st.so END,
         |    CASE WHEN abs((st.v - c.pred) / c.pred) < 5e-2 AND c.scaleout < st.so
         |           THEN c.pred
         |         WHEN abs((st.v - c.pred) / c.pred) > 5e-2 AND c.pred < st.v
         |           THEN c.pred
         |         ELSE st.v END
         |  FROM st JOIN c ON c.pos = st.pos + 1)
         |SELECT so AS best_scaleout, ROUND(v + 1e-9, 4) AS best_value
         |FROM st WHERE pos = (SELECT MAX(pos) FROM st)""".stripMargin,

    "m13_rescale_decision" -> {
      val serSql = Tables.seriesSql
      s"""WITH RECURSIVE m8 AS ($m8Sql),
         |profiles AS ($PRO),
         |series AS ($serSql),
         |p9 AS ($p9Sql),
         |c AS (SELECT scaleout, pred, valid,
         |    row_number() OVER (ORDER BY scaleout) AS pos FROM m8),
         |st AS (
         |  SELECT 0 AS pos, CAST(8 AS BIGINT) AS so,
         |    (SELECT pred FROM m8 WHERE scaleout = 8) AS v
         |  UNION ALL
         |  SELECT c.pos,
         |    CASE WHEN abs((st.v - c.pred) / c.pred) < 5e-2 AND c.scaleout < st.so
         |           THEN c.scaleout
         |         WHEN abs((st.v - c.pred) / c.pred) > 5e-2 AND c.pred < st.v
         |           THEN c.scaleout
         |         ELSE st.so END,
         |    CASE WHEN abs((st.v - c.pred) / c.pred) < 5e-2 AND c.scaleout < st.so
         |           THEN c.pred
         |         WHEN abs((st.v - c.pred) / c.pred) > 5e-2 AND c.pred < st.v
         |           THEN c.pred
         |         ELSE st.v END
         |  FROM st JOIN c ON c.pos = st.pos + 1),
         |blat AS (SELECT so AS best_lat FROM st
         |         WHERE pos = (SELECT MAX(pos) FROM st)),
         |brec AS (SELECT scaleout AS best_rec FROM p9 WHERE is_valid
         |         ORDER BY scaleout LIMIT 1),
         |sl AS (SELECT ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx) + 1e-9, 6) AS slope
         |  FROM (SELECT COUNT(y) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
         |      CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         |      CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,4)))
         |        AS DOUBLE) AS sxy,
         |      CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
         |    FROM (SELECT ts - MIN(ts) OVER () AS x, value AS y
         |          FROM series WHERE sid = 'click' AND value IS NOT NULL))),
         |cur AS (SELECT valid AS current_valid FROM m8 WHERE scaleout = 8),
         |dec1 AS (SELECT best_rec, best_lat, slope > 0 AS slope_positive,
         |    current_valid,
         |    CASE WHEN slope > 0 AND current_valid THEN CAST(8 AS BIGINT)
         |         ELSE greatest(best_rec, best_lat) END AS best_final
         |  FROM brec CROSS JOIN blat CROSS JOIN sl CROSS JOIN cur)
         |SELECT best_rec, best_lat, slope_positive, current_valid, best_final,
         |  best_final NOT IN (8, 7, 6) AS rescale
         |FROM dec1""".stripMargin
    })
}
