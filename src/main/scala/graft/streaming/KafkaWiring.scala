package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** S9 — Kafka source/sink wiring for the managed jobs of [[StreamingJobs]].
  *
  * The reference feeds its tuned jobs from a Kafka consumer topic and
  * writes results to a producer topic, with the wiring passed as program
  * args (reference execution/Job.java:90-111) from
  * resources/phoebe.properties (general.brokerList / consumerTopic /
  * producerTopic / chkInterval). Here the same wiring is Structured
  * Streaming: `readStream.format("kafka")` → JSON decode → the
  * source-agnostic job transformation ([[StreamingJobs]]) →
  * `writeStream.format("kafka")` with checkpointing at the reference's
  * checkpoint interval.
  *
  * The payload codec ([[decode]]/[[encode]]) is engine-agnostic Column
  * logic, so the exact same path is verified three ways without a broker:
  * batch (the `s9_kafka_roundtrip` driver query — encode∘decode must be
  * the identity all the way through the A18 aggregation), MemoryStream
  * (StreamingSpec runs the decode → job → encode chain on kafka-shaped
  * rows), and the `format("kafka")` plan here, which needs only the
  * connector jar plus a reachable broker at `start()` time.
  *
  * Scale notes: the Kafka source maps one Spark input partition per topic
  * partition — parallelism is set by the topic, not the query; `decode`
  * and the windowed aggregation run fully distributed with watermarks
  * bounding state, and the sink writes from every task (no driver
  * funnel).
  */
object KafkaWiring {

  /** Job wiring config, mirroring the reference's program-arg surface
    * (reference execution/Job.java:17-19,29-35 brokerList/consumerTopic/
    * producerTopic, phoebe.properties general.chkInterval=10000). */
  final case class KafkaConf(
      brokerList: String = "localhost:9092",
      consumerTopic: String = "input",
      producerTopic: String = "output",
      startingOffsets: String = "latest",
      chkIntervalMs: Long = 10000L,
      checkpointBase: String = "target/graft-tmp/kafka-chk") {
    /** Per-job checkpoint location: keyed by JOB NAME and the topic pair
      * — two different managed jobs (CARS vs ADS) sharing one default
      * conf must never open (or silently resume) each other's
      * checkpoint, even when their topics coincide. */
    def checkpointDir(job: String): String =
      s"$checkpointBase/${job}__${consumerTopic}__$producerTopic"
  }

  /** CARS event payload (TopSpeedWindowing input,
    * phoebe.properties general.generatorType=CARS). */
  val carEventSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("car_id", LongType),
    StructField("speed", DoubleType)))

  /** ADS event payload (Yahoo-benchmark input,
    * baseline.properties generatorType=ADS). */
  val adEventSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** Session event payload (the sessionization job's input shape). */
  val sessionEventSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  /** Raw Kafka wire stream (key/value binary + topic/partition/offset). */
  def kafkaRaw(spark: SparkSession, conf: KafkaConf): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", conf.brokerList)
      .option("subscribe", conf.consumerTopic)
      .option("startingOffsets", conf.startingOffsets)
      .load()

  /** Decode kafka wire rows (binary/string `value` holding one JSON event)
    * into typed event columns. Pure Column logic: identical on a stream,
    * a MemoryStream, or a batch frame. */
  def decode(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("e"))
      .select("e.*")

  /** Encode result rows as kafka (key, value) pairs: key = `keyCol` as
    * string, value = the full row as JSON. */
  def encode(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** writeStream wiring to the producer topic, checkpointed at the
    * reference's checkpoint interval. `mode` defaults to update (the
    * windowed-agg jobs emit refinements); finalized-only emissions
    * (session windows) pass append. */
  def kafkaSink(df: DataFrame, conf: KafkaConf, keyCol: String,
                job: String, mode: String = "update"): DataStreamWriter[Row] =
    encode(df, keyCol).writeStream.format("kafka")
      .option("kafka.bootstrap.servers", conf.brokerList)
      .option("topic", conf.producerTopic)
      .option("checkpointLocation", conf.checkpointDir(job))
      .outputMode(mode)
      .trigger(Trigger.ProcessingTime(conf.chkIntervalMs))

  /** CARS managed job end-to-end: kafka → decode → A18 top-speed windows
    * → kafka. Requires the spark-sql-kafka connector and a reachable
    * broker at `start()` time. */
  def topSpeedKafka(spark: SparkSession, conf: KafkaConf,
                    windowLen: String = "6 hours"): StreamingQuery =
    kafkaSink(
      StreamingJobs.topSpeedWindows(
        decode(kafkaRaw(spark, conf), carEventSchema), windowLen),
      conf, keyCol = "car_id", job = "cars").start()

  /** ADS managed job end-to-end: kafka → decode → J7 broadcast enrich →
    * A19 campaign windows → kafka. */
  def campaignKafka(spark: SparkSession, conf: KafkaConf, campaigns: DataFrame,
                    windowLen: String = "12 hours"): StreamingQuery =
    kafkaSink(
      StreamingJobs.campaignWindows(
        decode(kafkaRaw(spark, conf), adEventSchema), campaigns, windowLen),
      conf, keyCol = "campaign", job = "ads").start()

  /** Sessionization end-to-end: kafka → decode → native `session_window`
    * gap sessions → kafka, in APPEND mode — each session is produced
    * exactly once, after the watermark closes it (the emission contract
    * a downstream consumer of finalized sessions needs; the update-mode
    * jobs above instead refine open windows in place). */
  def sessionizeKafka(spark: SparkSession, conf: KafkaConf,
                      gap: String = "30 minutes",
                      watermark: String = "30 minutes"): StreamingQuery =
    kafkaSink(
      StreamingJobs.sessionWindows(
        decode(kafkaRaw(spark, conf), sessionEventSchema), gap, watermark),
      conf, keyCol = "user_id", job = "sessions", mode = "append").start()
}
