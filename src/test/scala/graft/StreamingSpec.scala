package graft

import graft.pipeline.CurationStreams
import graft.streaming.StreamingJobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** A18/A19 as REAL Structured Streaming queries over a MemoryStream:
  * watermarked windowed aggregation, incremental batches, and agreement
  * with the batch form of the same plan. The tests of the curation
  * streams carry the [[StreamingSpec.Curation]] tag, so the core's
  * tests run alone with `-- -l graft.CurationStream`. */
class StreamingSpec extends SparkSpec {

  import StreamingSpec.Curation
  import spark.implicits._

  private def ts(s: Long): Timestamp = new Timestamp(s * 1000)

  test("A18 top-speed windows run as a watermarked stream and match batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val streamed = StreamingJobs.topSpeedWindows(
      in.toDF.toDF("ts", "car_id", "speed"), windowLen = "60 seconds",
      watermark = "10 seconds")
    val q = streamed.writeStream.format("memory").queryName("topspeed")
      .outputMode("complete").start()
    try {
      val rows = Seq(
        (ts(0), 1L, 10.0), (ts(30), 1L, 50.0), (ts(61), 1L, 20.0),
        (ts(10), 2L, 99.0), (ts(70), 2L, 42.0))
      in.addData(rows.take(3))
      q.processAllAvailable()
      in.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("topspeed")
        .orderBy("car_id", "win_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val batch = StreamingJobs.topSpeedWindows(
        rows.toDF("ts", "car_id", "speed"), "60 seconds", "10 seconds")
        .orderBy("car_id", "win_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == batch)
      assert(got == Seq((1L, 0L, 50.0), (1L, 60L, 20.0), (2L, 0L, 99.0), (2L, 60L, 42.0)))
    } finally q.stop()
  }

  test("A19 campaign windows join a static dimension inside the stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val campaigns = Seq((1L, "alpha"), (2L, "beta")).toDF("c_custkey", "campaign")
    val streamed = StreamingJobs.campaignWindows(
      in.toDF.toDF("ts", "user_id", "event_type"), campaigns,
      windowLen = "60 seconds", watermark = "10 seconds")
    val q = streamed.writeStream.format("memory").queryName("campaigns")
      .outputMode("complete").start()
    try {
      in.addData(Seq(
        (ts(1), 1L, "view"), (ts(2), 1L, "view"), (ts(3), 1L, "click"),
        (ts(4), 2L, "view"), (ts(65), 1L, "view")))
      q.processAllAvailable()
      val got = spark.table("campaigns")
        .orderBy("campaign", "win_start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("alpha", 0L, 2L), ("alpha", 60L, 1L), ("beta", 0L, 1L)))
    } finally q.stop()
  }

  test("S9 kafka-shaped stream: decode -> A18 job -> encode round-trips") {
    import graft.streaming.KafkaWiring
    implicit val sqlCtx = spark.sqlContext
    // wire-shaped input: binary value holding one JSON event, as the
    // kafka source delivers it (key/topic/partition omitted — decode
    // only touches `value`)
    val in = MemoryStream[Array[Byte]]
    val raw = in.toDF.toDF("value")
    val streamed = KafkaWiring.encode(
      StreamingJobs.topSpeedWindows(
        KafkaWiring.decode(raw, KafkaWiring.carEventSchema),
        windowLen = "60 seconds", watermark = "10 seconds"),
      keyCol = "car_id")
    val q = streamed.writeStream.format("memory").queryName("kafka_rt")
      .outputMode("complete").start()
    try {
      def ev(t: Long, car: Long, speed: Double): Array[Byte] =
        s"""{"ts":"${ts(t)}","car_id":$car,"speed":$speed}"""
          .getBytes("UTF-8")
      in.addData(Seq(ev(0, 1, 10.5), ev(30, 1, 50.25), ev(61, 1, 20.0),
        ev(10, 2, 99.125)))
      q.processAllAvailable()
      val got = spark.table("kafka_rt").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      // producer-side payloads: key = car_id, value = full JSON row
      assert(got == Seq(
        ("1", """{"car_id":1,"win_start":0,"max_speed":50.25}"""),
        ("1", """{"car_id":1,"win_start":60,"max_speed":20.0}"""),
        ("2", """{"car_id":2,"win_start":0,"max_speed":99.125}""")))
    } finally q.stop()
  }

  test("S9 kafka source/sink plans build with the reference wiring config") {
    import graft.streaming.KafkaWiring
    // without the connector jar the plan must fail at source-resolution
    // time with the kafka-specific hint, not silently do something else —
    // this pins that the wiring really targets format("kafka")
    val e = intercept[Exception] {
      KafkaWiring.topSpeedKafka(spark, KafkaWiring.KafkaConf(
        brokerList = "localhost:9092", consumerTopic = "input",
        producerTopic = "output"))
    }
    assert(e.getMessage.toLowerCase.contains("kafka"))
    val e2 = intercept[Exception] {
      KafkaWiring.sessionizeKafka(spark, KafkaWiring.KafkaConf(
        brokerList = "localhost:9092", consumerTopic = "events",
        producerTopic = "sessions"))
    }
    assert(e2.getMessage.toLowerCase.contains("kafka"))
    val e3 = intercept[Exception] {
      KafkaWiring.campaignKafka(spark, KafkaWiring.KafkaConf(
        brokerList = "localhost:9092", consumerTopic = "ads",
        producerTopic = "campaign_counts"), Seq((1L, "c1")).toDF("c_custkey", "campaign"))
    }
    assert(e3.getMessage.toLowerCase.contains("kafka"))
  }

  test("kafka-shaped stream: decode -> session windows -> encode, append-once") {
    import graft.streaming.KafkaWiring
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Array[Byte]]
    val raw = in.toDF.toDF("value")
    val streamed = KafkaWiring.encode(
      StreamingJobs.sessionWindows(
        KafkaWiring.decode(raw, KafkaWiring.sessionEventSchema),
        gap = "100 seconds", watermark = "10 seconds"),
      keyCol = "user_id")
    val q = streamed.writeStream.format("memory").queryName("kafka_sess")
      .outputMode("append").start()
    try {
      def ev(t: Long, user: Long, v: Double): Array[Byte] =
        s"""{"ts":"${ts(t)}","user_id":$user,"value":$v}""".getBytes("UTF-8")
      in.addData(Seq(ev(0, 1, 1.0), ev(50, 1, 2.0), ev(149, 1, 3.0),
        ev(260, 1, 4.0), ev(5, 2, 9.0)))
      q.processAllAvailable()
      // close every open session so append emits it exactly once
      in.addData(Seq(ev(1000, 99, 0.0)))
      q.processAllAvailable()
      val got = spark.table("kafka_sess").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        .filter(_._1 != "99")
      assert(got == Seq(
        ("1", """{"user_id":1,"session_start":0,"session_end":249,"n_events":3,"total_value":6.0}"""),
        ("1", """{"user_id":1,"session_start":260,"session_end":360,"n_events":1,"total_value":4.0}"""),
        ("2", """{"user_id":2,"session_start":5,"session_end":105,"n_events":1,"total_value":9.0}""")))
    } finally q.stop()
  }

  test("rescale execution: stop -> restart from checkpoint with new parallelism, " +
       "exactly-once, measured downtime recorded") {
    import graft.streaming.Rescaler
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.types._
    val base = "/root/repo/target/graft-tmp/rescale"
    val (srcDir, sinkDir, ckptDir, store) =
      (s"$base/src", s"$base/sink", s"$base/ckpt", s"$base/store")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val schema = StructType(Seq(StructField("id", LongType)))
    // the managed job: file stream -> repartition(parallelism) -> file sink.
    // `parallelism` is the rescale knob the start callback owns (executor
    // count on a cluster; an explicit repartition on local[n])
    def start(parallelism: Int): StreamingQuery =
      spark.readStream.schema(schema).parquet(srcDir)
        .repartition(parallelism)
        .select(col("id"), spark_partition_id().as("part_id"))
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .start()
    (0L until 100L).map(Tuple1(_)).toDF("id")
      .write.mode("append").parquet(srcDir)
    val q1 = start(1)
    q1.processAllAvailable()
    // data keeps arriving while the job is being rescaled
    (100L until 200L).map(Tuple1(_)).toDF("id")
      .write.mode("append").parquet(srcDir)
    val (q2, downtimeMs) = Rescaler.rescale(
      spark, store, tickTs = 199L, running = q1,
      fromParallelism = 1, toParallelism = 3, start = start)
    try {
      q2.processAllAvailable()
      // rows arriving once the restarted query owns the source are the
      // ones that must show the new parallelism (batch 2 may land in
      // either query depending on when q1's last trigger fired)
      (200L until 300L).map(Tuple1(_)).toDF("id")
        .write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
      val out = spark.read.parquet(sinkDir).collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // exactly-once across the restart: every id exactly once
      assert(out.map(_._1).sorted.toSeq == (0L until 300L).toSeq)
      // old parallelism before the rescale, new parallelism after
      assert(out.filter(_._1 < 100).map(_._2).distinct.toSeq == Seq(0))
      assert(out.filter(_._1 >= 200).map(_._2).distinct.length > 1)
      // durable rescale event with the measured downtime
      val ev = Rescaler.history(spark, store).collect()
      assert(ev.length == 1)
      assert(ev.head.getAs[Long]("from_so") == 1L &&
             ev.head.getAs[Long]("to_so") == 3L)
      assert(ev.head.getAs[Long]("downtime_ms") == downtimeMs && downtimeMs > 0)
      // the M5 wiring: observed downtime replaces the reference's constant
      val dt = Rescaler.avgDowntimeSec(spark, store)
      assert(dt.exists(d => d > 0.0 && d * 1000 == downtimeMs.toDouble))
    } finally q2.stop()
  }

  test("full loop: optimize decision triggers a real rescale of the managed job") {
    // the reference's Graph.java OPTIMIZE stage end-to-end: metrics stream
    // -> evaluation tick -> rescale decision -> restartJob on the managed
    // query (savepoint/checkpoint restart with the new parallelism) ->
    // measured downtime recorded for M5
    import graft.streaming.{OptimizeLoop, Rescaler}
    import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val base = "target/graft-tmp/fullloop"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val schema = StructType(Seq(StructField("id", LongType)))
    def startManaged(parallelism: Int): StreamingQuery =
      spark.readStream.schema(schema).parquet(s"$base/src")
        .repartition(parallelism)
        .writeStream.format("parquet")
        .option("path", s"$base/sink").option("checkpointLocation", s"$base/ckpt")
        .start()
    (0L until 50L).map(Tuple1(_)).toDF("id").write.mode("append").parquet(s"$base/src")
    var managed = startManaged(1)
    managed.processAllAvailable()
    var currentSo = 1
    val in = MemoryStream[(String, Long, Double)]
    val loop = OptimizeLoop.attach(
      in.toDF.toDF("sid", "ts", "value"), s"$base/store", step = 1L,
      avgWindowPoints = 5, evalEveryBatches = 1, currentScaleOut = currentSo,
      candidateBest = 3, trigger = Trigger.ProcessingTime("0 seconds")) {
        (_, _, _, _, best, resc) =>
          if (resc && best.toInt != currentSo) {
            val (q2, dt) = Rescaler.rescale(spark, s"$base/store",
              tickTs = 0L, running = managed, fromParallelism = currentSo,
              toParallelism = best.toInt, start = startManaged)
            managed = q2; currentSo = best.toInt
            assert(dt > 0)
          }
      }.start()
    try {
      // rising latency + lag, backpressure on => current scale-out invalid
      // => decision rescales to candidateBest=3
      val mk = (t: Long) => Seq(
        ("latency", t, 100.0 + 10 * t), ("throughput", t, 5000.0 - 7 * t + (t % 3)),
        ("conslag", t, 50.0 + 5 * t), ("backpressure", t, 1.0))
      in.addData((0L to 6L).flatMap(mk))
      loop.processAllAvailable()
      assert(currentSo == 3, s"loop should have rescaled the managed job, so=$currentSo")
      // the restarted managed job keeps processing exactly-once at the new
      // parallelism
      (50L until 120L).map(Tuple1(_)).toDF("id").write.mode("append").parquet(s"$base/src")
      managed.processAllAvailable()
      val out = spark.read.parquet(s"$base/sink").collect().map(_.getLong(0))
      assert(out.sorted.toSeq == (0L until 120L).toSeq)
      // M5's measured-downtime input now exists
      assert(Rescaler.avgDowntimeSec(spark, s"$base/store").exists(_ > 0))
    } finally { loop.stop(); managed.stop() }
  }

  test("streaming ANN ingest: per-batch centroid assignment equals one-pass assignment", Curation) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.pipeline.VectorOps
    val dir = s"target/graft-tmp/ann_ingest_spec_${System.nanoTime()}"
    // frozen quantizer fitted on a small deterministic base corpus
    val mk = (id: Long) => (id, (0 until 64).map(i =>
      (((id * 31 + i * 7) % 13) - 6).toFloat))
    val base = (0L until 40L).map(mk).toDF("vec_id", "embedding")
    val cents = VectorOps.kmeansCentroids(base)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = CurationStreams.annIngest(in.toDF.toDF("vec_id", "embedding"),
        cents, s"$dir/cells_new")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData((40L until 55L).map(mk))
      q.processAllAvailable()
      in.addData((55L until 70L).map(mk))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/cells_new/batch_0", s"$dir/cells_new/batch_1")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // two micro-batches against the frozen centroids == one batch pass
    val oneShot = VectorOps.kmeansRanked(
        (40L until 70L).map(mk).toDF("vec_id", "embedding"), cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == oneShot && streamed.size == 30)
  }

  test("streaming ANN serving: per-batch frozen-index search equals the one-shot serve", Curation) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.pipeline.VectorOps
    val dir = s"target/graft-tmp/ann_serve_spec_${System.nanoTime()}"
    val mk = (id: Long) => (id, (0 until 64).map(i =>
      (((id * 31 + i * 7) % 13) - 6).toFloat))
    val corpus = (0L until 60L).map(mk).toDF("vec_id", "embedding")
    // frozen index: centroids + persisted cells (the annIngest output shape)
    val cents = VectorOps.kmeansCentroids(corpus)
    VectorOps.kmeansRanked(corpus, cents, maxRank = 1)
      .select(col("vec_id"), col("cid"))
      .write.mode("overwrite").parquet(s"$dir/cells")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = CurationStreams.annServeStream(in.toDF.toDF("vec_id", "embedding"),
        cents, Seq(s"$dir/cells"), corpus, k = 3, outDir = s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData((1000L until 1003L).map(mk)) // external query vectors
      q.processAllAvailable()
      in.addData(Seq(mk(5L), mk(1004L)))      // one corpus member, one external
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out/batch_0", s"$dir/out/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // two micro-batches against the frozen index == one serve pass
    val allQ = ((1000L until 1003L) ++ Seq(5L, 1004L)).map(mk)
      .toDF("vec_id", "embedding")
    val probes = VectorOps.kmeansRanked(allQ, cents,
        maxRank = VectorOps.defaultNprobe(cents.length))
      .select(col("vec_id").as("q_id"), col("cid"))
    val oneShot = VectorOps.serveScore(allQ, corpus,
        probes.join(spark.read.parquet(s"$dir/cells"), Seq("cid"))
          .select(col("q_id"), col("vec_id")), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed == oneShot)
    // a corpus-member query finds ITSELF at rank 1 with cosine 1.0 —
    // the serving path really reaches the member's own cell
    assert(streamed.contains((5L, 5L, 1.0, 1)))
    // every query answered, ranks within k
    assert(streamed.map(_._1) == Set(1000L, 1001L, 1002L, 5L, 1004L))
    assert(streamed.forall(_._4 <= 3))
  }

  test("streaming BPE token billing: per-batch frozen encode equals the batch bill", Curation) {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.TextOps
    val dir = s"target/graft-tmp/bpe_bill_spec_${System.nanoTime()}"
    val train = Seq((1L, "abab abab abc"), (2L, "abc aaaa ab"),
      (3L, "ab ab abab"), (4L, "aaaa abc abab")).toDF("doc_id", "text")
    val mergesDf = TextOps.bpeLearn(train, nMerges = 3)
    val merges = mergesDf.orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // streamed corpus = the training docs plus one out-of-vocabulary doc
    val streamDocs = Seq((1L, "abab abab abc"), (2L, "abc aaaa ab"),
      (3L, "ab ab abab"), (4L, "aaaa abc abab"), (9L, "ababab zzz ab"))
    val in = MemoryStream[(Long, String)]
    val q = CurationStreams.tokenBillStream(
        in.toDF.toDF("doc_id", "text"), merges, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(streamDocs.take(2))
      q.processAllAvailable()
      in.addData(streamDocs.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/batch_0", s"$dir/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // two micro-batches against the frozen table == one batch pass
    val oneShot = TextOps.bpeEncodeFrozen(streamDocs.toDF("doc_id", "text"), mergesDf)
      .select(col("doc_id"), col("n_words"), col("bpe_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == oneShot && streamed.size == 5)
    // and on the training docs the frozen bill equals the learn-path
    // bill (tokenStatsBpe's budget column on the same corpus)
    val learnBill = TextOps.bpeEncode(train, nMerges = 3)
      .select(col("doc_id"), col("n_words"), col("bpe_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.filter(_._1 <= 4L) == learnBill)
  }

  test("streaming PCA scoring: per-batch frozen projection equals the batch pass", Curation) {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.VectorOps
    val dir = s"target/graft-tmp/pca_score_spec_${System.nanoTime()}"
    val rnd = new scala.util.Random(11)
    def mk(id: Long) = (id, Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    val fitCorpus = (0L until 100L).map(mk).toDF("vec_id", "embedding")
    val fit = VectorOps.pcaFit(fitCorpus)
    val arriving = (100L until 130L).map(mk)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = CurationStreams.pcaScoreStream(
        in.toDF.toDF("vec_id", "embedding"), fit, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(arriving.take(15))
      q.processAllAvailable()
      in.addData(arriving.drop(15))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/batch_0", s"$dir/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = VectorOps.pcaProjectWith(
        arriving.toDF("vec_id", "embedding"), fit)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot && streamed.size == 30)
  }

  test("streaming anomaly monitor: accumulated-store rescore equals the batch monitor", Curation) {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.EventOps
    val dir = s"target/graft-tmp/anomaly_spec_${System.nanoTime()}"
    // 30 quiet hours at ~5 events/hour, then one 60-event spike hour
    val rows = (0 until 30).flatMap { h =>
      (0 until 5 + (h % 3)).map(i => (ts(h * 3600L + i * 60), "click", 1.0))
    } ++ (0 until 60).map(i => (ts(30 * 3600L + i * 10), "click", 1.0))
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = CurationStreams.anomalyStream(
        in.toDF.toDF("ts", "event_type", "value"), dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(rows.take(100))
      q.processAllAvailable()
      in.addData(rows.drop(100))
      q.processAllAvailable()
    } finally q.stop()
    val lastBatch = new java.io.File(s"$dir/alerts").listFiles()
      .map(_.getName).filter(_.startsWith("batch_"))
      .maxBy(_.stripPrefix("batch_").toInt)
    val streamed = spark.read.parquet(s"$dir/alerts/$lastBatch")
      .collect().map(_.toSeq).toSet
    val batch = EventOps.anomalyWindows(
        rows.toDF("ts", "event_type", "value"), zThresh = 2.5)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // the spike hour is flagged
    assert(batch.exists(r => r(1) == 30L * 3600 && r(2) == 60L))
  }

  test("streaming shard manifest: folded per-batch deltas equal the one-shot manifest", Curation) {
    // the checksum's mergeability is the contract: counts and the
    // mod-2^60 sum fold across arbitrary batching into exactly the
    // batch manifest of everything ingested
    import graft.pipeline.TextOps
    implicit val sqlCtx = spark.sqlContext
    val dir = s"target/graft-tmp/manifest_stream_${System.nanoTime()}"
    val b1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (17L, "zeta eta theta iota"))
    val b2 = Seq((3L, "kappa lambda"), (40L, "mu nu xi omicron pi"),
      (55L, "rho sigma"))
    val in = MemoryStream[(Long, String)]
    val q = CurationStreams.manifestStream(in.toDF.toDF("doc_id", "text"), dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val streamed = rows(spark.read.parquet(s"$dir/store/batch_1"))
    val oneShot = rows(TextOps.shardManifest((b1 ++ b2).toDF("doc_id", "text")))
    assert(streamed == oneShot && streamed.nonEmpty)
  }

  test("streaming reference-LM scoring: frozen model equals the batch pass", Curation) {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.TextOps
    val dir = s"target/graft-tmp/reflm_score_spec_${System.nanoTime()}"
    val ref = Seq((0L, "the cat sat", "ref"), (1L, "the cat ran fast", "ref"),
      (2L, "a dog ran", "ref")).toDF("doc_id", "text", "source")
    val model = TextOps.refLmFit(ref, col("source") === "ref")
    // materialize the frozen model once — the static side of every batch join
    model._1.persist(); model._2.persist(); model._3.persist()
    val arriving = Seq((10L, "the cat ran"), (11L, "zz yy xx"),
      (12L, "a dog sat fast"), (13L, "the the the"))
    val in = MemoryStream[(Long, String)]
    val q = CurationStreams.refLmScoreStream(
        in.toDF.toDF("doc_id", "text"), model, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(arriving.take(2))
      q.processAllAvailable()
      in.addData(arriving.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/batch_0", s"$dir/batch_1")
      .collect().map(_.toSeq).toSet
    val oneShot = TextOps.refLmScoreWith(arriving.toDF("doc_id", "text"), model)
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot && streamed.size == 4)
    // the all-OOV doc is billed as such
    val oov = spark.read.parquet(s"$dir/batch_0")
      .filter(col("doc_id") === 11L).head
    assert(oov.getAs[Long]("n_oov") === oov.getAs[Long]("n_trans"))
  }

  test("composed curation stream: gate -> dedup state -> frozen-BPE billing -> " +
       "anomaly monitor equals the batch gates across a stop/restart", Curation) {
    // the end-to-end loader: ONE query, ONE checkpoint. Restart between
    // the two batches proves the dedup state store AND the compacted
    // anomaly store both survive a stop/restart (a dup of a batch-1 doc
    // arriving after the restart must be dropped by restored state), and
    // the final outputs equal the batch gate->dedup->encode/monitor pass
    // over the union of the input.
    import graft.pipeline.{EventOps, TextOps}
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.types._
    val base = s"target/graft-tmp/curation_stream_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "s")
    def start(): StreamingQuery =
      CurationStreams.curationStream(
          spark.readStream.schema(schema).parquet(s"$base/src"),
          merges, s"$base/out", watermark = "30 days", minBaseline = 3)
        .option("checkpointLocation", s"$base/ckpt").start()
    val fill = Seq("quantum", "spectrum", "coherent", "harmonic", "gradient",
      "manifold", "tensor", "entropy", "lattice", "photon", "plasma",
      "neutrino", "quark", "boson", "fermion", "hadron", "meson")
    // hour 0 of the test timeline sits OFF epoch 0: the stream's initial
    // watermark is epoch 0, and dropDuplicatesWithinWatermark drops
    // at-or-before-watermark rows as late data
    val h0 = 1000L
    def accDoc(id: Long, hour: Long, w: String) =
      (ts((h0 + hour) * 3600), id, "s0",
        s"the $w resonance of ${w}like systems generates coherent harmonic structures")
    // hours 0..5 with accepted counts 1,2,1,2,1,2: enough trailing
    // variance that the hour-6 spike z-scores cleanly (mu=1.5, sd=0.5)
    val b1acc = Seq(0L, 1L, 1L, 2L, 3L, 3L, 4L, 5L, 5L).zipWithIndex
      .map { case (h, i) => accDoc(i + 1L, h, fill(i)) }
    val b1 = b1acc ++ Seq(
      (ts((h0 + 1) * 3600), 20L, "s0", "der die das und ist von mit ein"), // lang gate
      (ts((h0 + 1) * 3600), 21L, "s0", "the the the the the the"))         // quality gate
    val dupText = b1acc(2)._4 // doc 3's text — the cross-restart dup target
    val b2 = (0 until 8).map(k => accDoc(40L + k, 6L, fill(9 + k))) ++ Seq(
      (ts((h0 + 6) * 3600), 48L, "s0", dupText),                  // dup across restart
      (ts((h0 + 6) * 3600), 49L, "s0", "und der das die ein mit von ist"))
    b1.toDF("ts", "doc_id", "source", "text").write.mode("append").parquet(s"$base/src")
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    b2.toDF("ts", "doc_id", "source", "text").write.mode("append").parquet(s"$base/src")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // batch replay of the same gates over the UNION of the input
    val all = (b1 ++ b2).toDF("ts", "doc_id", "source", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val surv = TextOps.gateProjection(all)
      .filter(col("pred_lang") === "en" && col("quality") >= 0.6)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
    val batchBill = TextOps.bpeEncodeWith(surv,
        TextOps.applyMerges(TextOps.charWords(surv), merges))
      .join(surv.select(col("doc_id"), col("source"), col("quality")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("n_words"), col("bpe_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamBill = spark.read.parquet(s"$base/out/bill/batch_*")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Double]("quality"), r.getAs[Long]("n_words"),
        r.getAs[Long]("bpe_tokens"))).toSet
    assert(streamBill.map(_._1).contains(3L))   // first arrival billed
    assert(!streamBill.map(_._1).contains(48L)) // post-restart dup dropped by restored state
    assert(streamBill == batchBill)
    // final alert set equals the batch monitor over the accepted survivors
    val lastAlert = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/out/alerts"))
      .map(_.getPath.getName).filter(_.startsWith("batch_"))
      .map(_.stripPrefix("batch_").toLong).max
    val streamAlerts = spark.read.parquet(s"$base/out/alerts/batch_$lastAlert")
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("win_start"),
        r.getAs[Long]("n"), r.getAs[Double]("base_mean"), r.getAs[Double]("z"))).toSet
    val batchAlerts = EventOps.anomalyFromHourly(
        EventOps.hourlyCounts(surv.select(col("source").as("event_type"), col("ts"))),
        zThresh = 2.5, minBaseline = 3)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("win_start"),
        r.getAs[Long]("n"), r.getAs[Double]("base_mean"), r.getAs[Double]("z"))).toSet
    assert(streamAlerts == batchAlerts)
    assert(streamAlerts.map(a => (a._1, a._2)) == Set(("s0", (h0 + 6) * 3600))) // the spike hour
  }

  test("composed raw-web curation stream: url policy -> url dedup state -> extract -> " +
       "gate -> content dedup state equals the batch chain across a stop/restart", Curation) {
    // the crawl-ingest twin: ONE query, ONE checkpoint, TWO keyed-state
    // stores (canonical URL, then content fingerprint). The restart
    // between the batches proves BOTH stores restore: a post-restart
    // recrawl (same canonical URL, different raw form AND different
    // content) is dropped by URL state, and a post-restart content
    // mirror (new URL, same extracted text) is dropped by fp state.
    import graft.pipeline.TextOps
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.types._
    val base = s"target/graft-tmp/web_curation_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("url", StringType), StructField("atext", StringType)))
    val merges = Seq("t" -> "h", "th" -> "e")
    val hosts = Seq("bad.example.com")
    val prefixes = Seq("/spam")
    def start(): StreamingQuery =
      CurationStreams.webCurationStream(
          spark.readStream.schema(schema).parquet(s"$base/src"),
          merges, s"$base/out", hosts, prefixes,
          // cap high: THIS test isolates the two dedup stores (doc 12's
          // mirror must reach the content-fp state, not die at the cap)
          maxPerHost = 100,
          watermark = "30 days", minBaseline = 3)
        .option("checkpointLocation", s"$base/ckpt").start()
    val h0 = 3000L
    def text(w: String) =
      s"the $w resonance of ${w}like systems generates coherent harmonic structures"
    def chrome(t: String) =
      "<html><head><title>x</title><script>var x=1;</script></head><body>" +
        s"<nav>Home | About</nav><p>$t</p><footer>(c) site</footer></body></html>"
    def doc(id: Long, url: String, atext: String) =
      (ts(h0 * 3600 + id), id, "s0", url, atext)
    // canonical targets: c1 = https://s0.example.com/a/1?p=1
    //                    c2 = http://s0.example.com/b?q=2
    val b1 = Seq(
      doc(1L, "https://WWW.S0.Example.com:443/a/1?utm_source=x&p=1", text("alpha")),
      doc(2L, "http://s0.example.com/b?q=2&utm_campaign=z", chrome(text("beta"))),
      doc(4L, "https://bad.example.com/x", text("gamma")),       // host block
      doc(5L, "https://s0.example.com/spam/offer", text("delta")), // path block
      doc(6L, "https://s0.example.com/de", "der die das und ist von mit ein"))
    val b2 = Seq(
      doc(10L, "https://s0.example.com/c", text("epsilon")),
      // recrawl of c1 after the restart: different raw spelling AND
      // different content — only restored URL state can drop it
      doc(11L, "HTTPS://s0.example.com/a/1/?p=1#frag", text("zeta")),
      // content mirror of doc 1 at a NEW canonical URL: passes URL
      // dedup, dropped by restored content-fingerprint state
      doc(12L, "https://s0.example.com/mirror", s"<p>${text("alpha")}</p>"),
      // recrawl of c2 (tracking-param variant), same batch as 11
      doc(14L, "http://www.s0.example.com:80/b/?q=2&gclid=g3", chrome(text("eta"))),
      doc(13L, "https://s0.example.com/low", "the the the the the the"))
    b1.toDF("ts", "doc_id", "source", "url", "atext")
      .write.mode("append").parquet(s"$base/src")
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    b2.toDF("ts", "doc_id", "source", "url", "atext")
      .write.mode("append").parquet(s"$base/src")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // batch replay of the same chain over the UNION of the input
    // (first-arrival order matches min-doc_id order by construction)
    val all = (b1 ++ b2).toDF("ts", "doc_id", "source", "url", "atext")
    val wUrl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_url")).orderBy(col("doc_id"))
    val urlSurv = TextOps.urlBlocklistFlags(all, col("url"), hosts, prefixes)
      .filter(col("keep"))
      .withColumn("__rn", row_number().over(wUrl)).filter(col("__rn") === 1)
    val extracted = TextOps.extractHtml(urlSurv, col("atext"))
      .select(col("ts"), col("doc_id"), col("source"),
        col("clean_text").as("text"))
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val surv = TextOps.gateProjection(extracted)
      .filter(col("pred_lang") === "en" && col("quality") >= 0.6)
      .withColumn("__rn", row_number().over(wFp)).filter(col("__rn") === 1)
    val batchBill = TextOps.bpeEncodeWith(surv,
        TextOps.applyMerges(TextOps.charWords(surv), merges))
      .join(surv.select(col("doc_id"), col("source"), col("quality")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("n_words"), col("bpe_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamBill = spark.read.parquet(s"$base/out/bill/batch_*")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Double]("quality"), r.getAs[Long]("n_words"),
        r.getAs[Long]("bpe_tokens"))).toSet
    assert(streamBill == batchBill)
    // exactly the policy/dedup/gate survivors are billed: blocked hosts
    // and paths (4, 5), the recrawls (11, 14), the mirror (12) and the
    // gated docs (6, 13) never reach billing
    assert(streamBill.map(_._1) == Set(1L, 2L, 10L))
  }

  test("streaming per-host cap: admitted set equals the batch urlCanonicalDedup(maxPerHost) " +
       "survivors on the same timeline, including across a stop/restart", Curation) {
    // the r12 parity gap: batch web_pipeline capped survivors per host,
    // the streaming twin didn't. hostCapStream closes it — one counter
    // per host under the same checkpoint as the two dedup stores. The
    // fixture's doc_ids are chosen so each host's globally lowest-draw
    // survivors arrive in batch 1 (mdDraw6("urlcap") values noted per
    // doc), the regime where the stream's first-arrival admission
    // provably equals the batch ranked-draw window; the restart between
    // batches proves the host counters RESTORE (a post-restart page on
    // a full host is dropped with no in-batch sibling to count against).
    import graft.pipeline.TextOps
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.types._
    val base = s"target/graft-tmp/web_hostcap_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("url", StringType), StructField("atext", StringType)))
    val merges = Seq("t" -> "h", "th" -> "e")
    def start(): StreamingQuery =
      CurationStreams.webCurationStream(
          spark.readStream.schema(schema).parquet(s"$base/src"),
          merges, s"$base/out", Nil, Nil, maxPerHost = 2,
          watermark = "30 days", minBaseline = 3)
        .option("checkpointLocation", s"$base/ckpt").start()
    val h0 = 3000L
    def text(w: String) =
      s"the $w resonance of ${w}like systems generates coherent harmonic structures"
    def doc(id: Long, url: String, w: String) =
      (ts(h0 * 3600 + id), id, "s0", url, text(w))
    // draws (salt urlcap): 3→89150, 24→329044, 21→614273 (host a);
    //                      25→154258, 22→619295 (host b)
    val b1 = Seq(
      doc(3L, "https://sa.example.com/p3", "alpha"),
      doc(24L, "https://sa.example.com/p24", "beta"),
      doc(21L, "https://sa.example.com/p21", "gamma"), // 3rd-lowest draw: capped IN-batch
      doc(25L, "https://sb.example.com/p25", "delta"),
      doc(22L, "https://sb.example.com/p22", "epsilon"))
    // draws: 20→709166 (host a), 11→734879 (host b) — both higher than
    // every batch-1 survivor of their host, so batch ranked-draw and
    // stream first-arrival agree on dropping them
    val b2 = Seq(
      doc(20L, "https://sa.example.com/p20", "zeta"),   // host a full: restored counter drops it
      doc(11L, "https://sb.example.com/p11", "eta"),    // host b full: restored counter drops it
      // recrawl of p3 (tracking variant): dropped by restored URL state
      // BEFORE the cap — duplicates never consume cap slots. Its id is
      // HIGHER than the original's so the batch twin's min-doc_id dedup
      // also keeps doc 3 (first-arrival == min-id on this timeline)
      doc(26L, "HTTPS://WWW.sa.example.com:443/p3?utm_source=x", "theta"))
    b1.toDF("ts", "doc_id", "source", "url", "atext")
      .write.mode("append").parquet(s"$base/src")
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    b2.toDF("ts", "doc_id", "source", "url", "atext")
      .write.mode("append").parquet(s"$base/src")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val streamIds = spark.read.parquet(s"$base/out/bill/batch_*")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // batch twin over the UNION of the timeline: the ranked-draw window
    val batchIds = TextOps.urlCanonicalDedup(
        (b1 ++ b2).toDF("ts", "doc_id", "source", "url", "atext"),
        col("url"), maxPerHost = 2)
      .filter(col("keep")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamIds == batchIds)
    assert(streamIds == Set(3L, 24L, 25L, 22L))
    assert(!streamIds.contains(21L)) // capped within batch 1
    assert(!streamIds.contains(20L)) // capped by RESTORED host-a counter
    assert(!streamIds.contains(11L)) // capped by RESTORED host-b counter
    assert(!streamIds.contains(26L)) // URL dup: dropped before the cap
  }

  test("rescaler manages the curation stream: dedup state and billing stay exactly-once across a rescale", Curation) {
    // the reference's optimize/rescale machinery applied to the
    // LLM-pipeline flagship instead of a toy job: the curation query is
    // stopped and restarted from its checkpoint at a new parallelism
    // (Rescaler owns the stop/measure/start), and the gate->dedup->bill
    // chain must come through exactly-once — a post-rescale duplicate is
    // dropped by the RESTORED state store, and the billing dirs union to
    // the batch pass over all input.
    import graft.pipeline.TextOps
    import graft.streaming.Rescaler
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.types._
    val base = s"target/graft-tmp/curation_rescale_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val merges = Seq("t" -> "h", "th" -> "e")
    def start(parallelism: Int): StreamingQuery =
      CurationStreams.curationStream(
          spark.readStream.schema(schema).parquet(s"$base/src")
            .repartition(parallelism),
          merges, s"$base/out", watermark = "30 days", minBaseline = 3)
        .option("checkpointLocation", s"$base/ckpt").start()
    val h0 = 2000L
    def doc(id: Long, w: String) = (ts(h0 * 3600 + id), id, "s0",
      s"the $w resonance of ${w}like systems generates coherent harmonic structures")
    val b1 = Seq(doc(1L, "alpha"), doc(2L, "beta"), doc(3L, "gamma"))
    val b2 = Seq(doc(10L, "delta"), doc(11L, "epsilon"),
      (b1.head._1, 12L, "s0", b1(2)._4)) // duplicate of doc 3 after the rescale
    b1.toDF("ts", "doc_id", "source", "text").write.mode("append").parquet(s"$base/src")
    val q1 = start(1)
    q1.processAllAvailable()
    val (q2, downtimeMs) = Rescaler.rescale(spark, s"$base/store",
      tickTs = 1L, running = q1, fromParallelism = 1, toParallelism = 3,
      start = start)
    try {
      b2.toDF("ts", "doc_id", "source", "text").write.mode("append").parquet(s"$base/src")
      q2.processAllAvailable()
      val billed = spark.read.parquet(s"$base/out/bill/batch_*")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // exactly-once across the rescale: every unique doc once, the
      // post-rescale duplicate (id 12) dropped by restored dedup state
      assert(billed == Seq(1L, 2L, 3L, 10L, 11L))
      // the rescale is a real managed-job event: measured downtime recorded
      assert(downtimeMs > 0)
      assert(Rescaler.avgDowntimeSec(spark, s"$base/store").exists(_ > 0))
      // bills equal the batch gate->dedup->encode pass over all input
      val all = (b1 ++ b2).toDF("ts", "doc_id", "source", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val surv = TextOps.gateProjection(all)
        .filter(col("pred_lang") === "en" && col("quality") >= 0.6)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      val batchBill = TextOps.bpeEncodeWith(surv,
          TextOps.applyMerges(TextOps.charWords(surv), merges))
        .select("doc_id", "n_words", "bpe_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamBill = spark.read.parquet(s"$base/out/bill/batch_*")
        .select("doc_id", "n_words", "bpe_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamBill == batchBill)
    } finally q2.stop()
  }

  test("streaming funnel: O(1) keyed state emits completions across batches, equals the batch chain", Curation) {
    import graft.pipeline.EventOps
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("a", "b", "c")
    val b1 = Seq((1L, 100L, "a"), (1L, 150L, "b"), (2L, 100L, "b"),
      (3L, 50L, "a"), (3L, 50L, "b"), (1L, 130L, "x"))
    val b2 = Seq((1L, 200L, "c"), (2L, 110L, "a"), (2L, 120L, "b"))
    val in = MemoryStream[(Long, Long, String)]
    val q = CurationStreams.funnelStream(in.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val got = spark.table("funnel_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      // user 1 completes across batches; user 2's premature b (ts 100 <
      // its t_a) never counts; user 3's equal-ts chain completes in one
      // batch; "x" ignored
      assert(got == Set(
        (1L, 1L, "a", 100L, 0L), (1L, 2L, "b", 150L, 50L), (1L, 3L, "c", 200L, 50L),
        (2L, 1L, "a", 110L, 0L), (2L, 2L, "b", 120L, 10L),
        (3L, 1L, "a", 50L, 0L), (3L, 2L, "b", 50L, 0L)))
      // parity: the hit set equals the batch funnelStages chain
      val expected = EventOps.funnelStages(
          (b1 ++ b2).toDF("user_id", "ts", "event_type"), steps)
        .collect().flatMap { r =>
          val ts = steps.map(s => Option(r.getAs[Any](s"t_$s"))
            .map(_.asInstanceOf[Long]))
          val done = ts.takeWhile(_.isDefined).map(_.get)
          done.zipWithIndex.map { case (t, k) =>
            (r.getLong(0), k + 1L, steps(k), t,
              if (k == 0) 0L else t - done(k - 1)) }
        }.toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming exact dedup: state drops cross-batch duplicates", Curation) {
    // the dedup family's streaming form: dropDuplicates keyed on content
    // id with a watermark bounding state. The guarantee is one row per
    // key with duplicates in LATER micro-batches dropped by the state
    // store (within one batch the surviving row is arbitrary).
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = in.toDF.toDF("ts", "doc_id", "text")
      .withWatermark("ts", "10 seconds")
      .dropDuplicates("doc_id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(Seq((ts(0), 1L, "a"), (ts(1), 2L, "b"), (ts(2), 1L, "a-dup")))
      q.processAllAvailable()
      in.addData(Seq((ts(3), 2L, "b-dup"), (ts(4), 3L, "c")))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").collect()
        .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(1L, 2L, 3L))           // one row per key
      assert(Set("a", "a-dup")(got(0)._2))               // batch-1 survivor
      assert(got(1)._2 == "b" && got(2)._2 == "c")       // b-dup (batch 2) dropped by state
    } finally q.stop()
  }

  test("streaming near-dup candidates: band-key keyed state across batches", Curation) {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    // stateTtl=None (batch-parity mode): a processing-time TTL makes the
    // engine run continuous timeout-check micro-batches, which busy-loops
    // under the test's 0 ms trigger and starves processAllAvailable
    val q = CurationStreams.nearDupCandidates(in.toDF.toDF("doc_id", "text"), stateTtl = None)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      // batch 1: docs 1 and 2 share ALL 4 band keys (identical text);
      // doc 5 is unrelated
      in.addData(Seq((1L, textA), (2L, textA), (5L, textB)))
      q.processAllAvailable()
      // batch 2: doc 3 matches the batch-1 representative ACROSS batches
      // (state carries the band reps); re-arrival of doc 1 emits nothing
      in.addData(Seq((3L, textA), (1L, textA), (6L, "totally different words here")))
      q.processAllAvailable()
      val got = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      // one candidate per shared band: 4 bands x (2->1) then 4 x (3->1);
      // re-arrived rep and unrelated docs emit nothing
      assert(got.count(_ == ((2L, 1L))) == 4)
      assert(got.count(_ == ((3L, 1L))) == 4)
      assert(got.toSet == Set((2L, 1L), (3L, 1L)))
    } finally q.stop()
  }

  test("streaming soft-dedup weights: counts settle to the batch cluster sizes on a star corpus", Curation) {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    val q = CurationStreams.softWeightStream(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("softw_stream")
      .outputMode("append").start()
    try {
      // batch 1: {1,2} identical, 9 alone so far
      in.addData(Seq((1L, textA), (2L, textA), (9L, textB)))
      q.processAllAvailable()
      // batch 2: 3 joins cluster 1 ACROSS batches; 10 pairs with 9;
      // re-arrival of 2 emits nothing (both the band rep and the
      // doc-assignment stores already know it)
      in.addData(Seq((3L, textA), (2L, textA), (10L, textB)))
      q.processAllAvailable()
      val got = spark.table("softw_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // one update per joining member, counts tick 2,3,...
      assert(got.toSet === Set((2L, 1L, 2L), (3L, 1L, 3L), (10L, 9L, 2L)))
      // parity with the batch operator: settled MAX(dup_count) per rep
      // equals batch softDedupWeights' dup_count, and stream members
      // + the rep reconstruct the batch component exactly
      import spark.implicits._
      val corpus = Seq((1L, textA), (2L, textA), (3L, textA),
        (9L, textB), (10L, textB)).toDF("doc_id", "text")
      val batch = graft.pipeline.DedupOps.softDedupWeights(corpus).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val settled = got.groupBy(_._2).map { case (rep, rows) =>
        rep -> (rows.map(_._1).toSet + rep, rows.map(_._3).max) }
      settled.foreach { case (rep, (members, n)) =>
        members.foreach { m =>
          assert(batch(m) === ((rep, n)), s"member $m of rep $rep") }
      }
      // unclustered docs exist in batch output at weight 1 and emit
      // nothing on the stream — both facts checked above by exact sets

      // STATE-GROWTH PIN: the three stores hold exactly (band keys,
      // assigned docs, reps) — 4 bands/text × 2 texts, docs {2,3,10}
      // that ever produced a candidate, reps {1,9} — and a pure-replay
      // batch adds NOTHING: state is keyed by content identity, so
      // re-arrivals are free and store growth tracks DISTINCT corpus,
      // not stream length
      def stateRows() = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sorted.toSeq
      val before = stateRows()
      assert(before === Seq(2L, 3L, 8L),
        s"(reps, assigned docs, band keys) expected (2,3,8), got $before")
      in.addData(Seq((1L, textA), (2L, textA), (3L, textA),
        (9L, textB), (10L, textB)))
      q.processAllAvailable()
      assert(spark.table("softw_stream").count() === got.length.toLong,
        "a pure-replay batch must emit nothing")
      assert(stateRows() === before,
        "a pure-replay batch must not grow any state store")
    } finally q.stop()
  }

  test("streaming near-dup candidates: state TTL ages out cold band reps", Curation) {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    // 1 ms TTL + a real trigger interval (the production shape — a 0 ms
    // trigger would busy-loop the timeout-check batches)
    val q = CurationStreams.nearDupCandidates(in.toDF.toDF("doc_id", "text"),
        stateTtl = Some(java.time.Duration.ofMillis(1)))
      .writeStream.format("memory").queryName("neardup_ttl_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    // processAllAvailable can NEVER return here: with ProcessingTimeTimeout
    // the engine always schedules another (timeout-check) batch, so
    // noNewData is never signalled — poll the sink/progress instead
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond) {
        assert(System.nanoTime() < deadline, "timed out waiting for stream")
        Thread.sleep(100)
      }
    }
    try {
      in.addData(Seq((1L, textA), (2L, textA)))
      await(spark.table("neardup_ttl_stream").count() == 4)
      // let several empty timeout-check batches fire and remove the state
      Thread.sleep(1000)
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      in.addData(Seq((3L, textA)))
      await(q.recentProgress.exists(p => p.batchId > lastBatch && p.numInputRows >= 1))
      Thread.sleep(500) // grace for any (unexpected) emission to land
      val got = spark.table("neardup_ttl_stream").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      // batch-1 pair emitted; doc 3 arrives AFTER expiry, becomes the new
      // representative, and emits nothing — TTL really removed the state
      assert(got == Set((2L, 1L)))
    } finally q.stop()
  }

  test("S12 sine workload is deterministic and strictly positive") {
    val a = StreamingJobs.sineWorkload(spark, 200, 360, 100.0, 120.0, 0L, 1L)
      .collect().map(_.getDouble(1)).toSeq
    val b = StreamingJobs.sineWorkload(spark, 200, 360, 100.0, 120.0, 0L, 1L)
      .collect().map(_.getDouble(1)).toSeq
    assert(a == b)
    assert(a.forall(_ >= 0.0))
    assert(a.max > 200.0 && a.min < 100.0) // amplitude+phase shape present
  }

  test("optimize loop: foreachBatch accumulates history and emits decisions") {
    import graft.streaming.OptimizeLoop
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val store = "/root/repo/target/graft-tmp/optloop_store"
    new java.io.File(store).delete()
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(store), true)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(store + "_decisions"), true)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(store + "_m1"), true)
    val decisions = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long, Boolean)]
    val q = OptimizeLoop.attach(
      in.toDF.toDF("sid", "ts", "value"), store, step = 1L,
      avgWindowPoints = 5, evalEveryBatches = 2, currentScaleOut = 8, candidateBest = 4,
      trigger = Trigger.ProcessingTime("0 seconds"),
      forecastDir = Some(store + "_m1"), forecastModels = 2) { (id, lat, thr, bck, best, resc) =>
        decisions += ((id, bck, best, resc))
      }.start()
    try {
      // rising latency + conslag, backpressure partially on
      // throughput carries a %3 wiggle so the AR(2) design is nonsingular
      val mk = (t: Long) => Seq(
        ("latency", t, 100.0 + 10 * t), ("throughput", t, 5000.0 - 7 * t + (t % 3)),
        ("conslag", t, 50.0 + 5 * t), ("backpressure", t, if (t % 2 == 0) 1.0 else 0.0))
      in.addData((0L to 5L).flatMap(mk))
      q.processAllAvailable()
      in.addData((6L to 11L).flatMap(mk))
      q.processAllAvailable()
      assert(decisions.nonEmpty)
      val (_, bck, best, resc) = decisions.last
      assert(bck)              // slopes > 1 and partial backpressure => flagged
      assert(best == 4L)       // current invalid => candidate best wins
      assert(resc)             // 4 is not within {8,7,6}
      // predictions-table parity: one durable decision row per tick,
      // carrying the M1 forecast produced by the incremental update path
      val stored = spark.read.parquet(store + "_decisions")
        .orderBy("batch_id").collect()
      assert(stored.length == decisions.length)
      assert(stored.last.getAs[Boolean]("is_bck_pres") == bck)
      assert(stored.last.getAs[Long]("best_scale_out") == best)
      assert(!stored.last.isNullAt(stored.last.fieldIndex("forecast_next")))
      // throughput falls ~7/step from 5000 over 12 steps; the AR forecast
      // of the next step must land in that neighborhood
      val fc = stored.last.getAs[Double]("forecast_next")
      assert(fc > 4800 && fc < 5000, s"forecast_next $fc")
    } finally q.stop()
  }

  test("optimize loop: an empty first tick skips the decision row " +
    "instead of killing the stream") {
    import graft.streaming.OptimizeLoop
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val store = "/root/repo/target/graft-tmp/optloop_empty"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("", "_decisions", "_m1").foreach(sfx =>
      fs.delete(new org.apache.hadoop.fs.Path(store + sfx), true))
    val ticks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = OptimizeLoop.attach(
      in.toDF.toDF("sid", "ts", "value"), store, step = 1L,
      avgWindowPoints = 5, evalEveryBatches = 1, currentScaleOut = 8,
      candidateBest = 4, trigger = Trigger.ProcessingTime("0 seconds"),
      forecastDir = Some(store + "_m1"), forecastModels = 2) {
        (id, _, _, _, _, _) => ticks += id
      }.start()
    try {
      // batch 0 carries no observations: the eval tick has an empty
      // history — it must not append a decision row and must not fail
      in.addData(Seq.empty[(String, Long, Double)])
      q.processAllAvailable()
      assert(q.isActive)
      assert(ticks.nonEmpty, "empty micro-batch did not trigger a tick")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(store + "_decisions")))
      // observations arriving later produce decision rows as usual
      in.addData(Seq(("latency", 0L, 100.0), ("latency", 1L, 110.0),
        ("throughput", 0L, 5000.0), ("throughput", 1L, 4990.0)))
      q.processAllAvailable()
      assert(spark.read.parquet(store + "_decisions").count() >= 1)
    } finally q.stop()
  }

  test("threshold alarms: custom keyed state fires exactly once per key", Curation) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (key, ts)
    val q = CurationStreams.thresholdAlarms(in.toDS(), threshold = 3)
      .writeStream.format("memory").queryName("alarms")
      .outputMode("append").start()
    try {
      in.addData(Seq((1L, 10L), (1L, 11L), (2L, 10L)))
      q.processAllAvailable()
      assert(spark.table("alarms").count() == 0) // nobody crossed yet
      // key 1 crosses at its 3rd event (ts 12); key 2 stays below
      in.addData(Seq((1L, 12L), (2L, 11L)))
      q.processAllAvailable()
      // key 1 must NOT fire again; key 2 crosses at ts 20
      in.addData(Seq((1L, 13L), (1L, 14L), (2L, 20L)))
      q.processAllAvailable()
      val got = spark.table("alarms").orderBy("key").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 3L, 12L), (2L, 3L, 20L)))
    } finally q.stop()
  }

  test("streaming HLL registers: update-mode max aggregation equals the batch sketch", Curation) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)] // (source, text)
    val q = CurationStreams.hllRegisterStream(in.toDF.toDF("source", "text"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    val batches = Seq(
      Seq(("s1", "alpha beta gamma"), ("s2", "delta epsilon")),
      Seq(("s1", "gamma zeta alpha eta"), ("s2", "alpha")),
      Seq(("s1", "theta"), ("s2", "iota kappa delta")))
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val got = spark.table("hll_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.pipeline.SketchOps
        .hllRegisters(batches.flatten.toDF("source", "text"), 8).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming CMS counters: update-mode sum aggregation equals the batch sketch", Curation) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = CurationStreams.cmsCounterStream(in.toDF.toDF("text"), d = 2, w = 16)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    val batches = Seq(
      Seq("alpha beta gamma alpha", "delta epsilon"),
      Seq("gamma zeta alpha eta", "alpha alpha"),
      Seq("theta", "iota kappa delta"))
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val got = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.pipeline.TextOps
        .cmsCounters(batches.flatten.toDF("text"), d = 2, w = 16).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("session windows close, emit once in append mode, and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val streamed = StreamingJobs.sessionWindows(
      in.toDF.toDF("ts", "user_id", "value"), gap = "100 seconds",
      watermark = "10 seconds")
    val q = streamed.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (ts(0), 1L, 1.0), (ts(50), 1L, 2.0), (ts(149), 1L, 3.0), // one session
        (ts(260), 1L, 4.0),                                      // second session
        (ts(5), 2L, 9.0))
      in.addData(rows)
      q.processAllAvailable()
      // advance the watermark past every open session's end so append
      // mode finalizes and emits them exactly once
      in.addData(Seq((ts(1000), 99L, 0.0)))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .filter(col("user_id") < 99)
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      // session_end = last event + gap (window end), merge test strict-<
      assert(got == Seq(
        (1L, 0L, 249L, 3L, 6.0),
        (1L, 260L, 360L, 1L, 4.0),
        (2L, 5L, 105L, 1L, 9.0)))
      // the identical plan over a batch frame agrees on closed sessions
      val batch = StreamingJobs.sessionWindows(
        (rows :+ ((ts(1000), 99L, 0.0))).toDF("ts", "user_id", "value"),
        "100 seconds", "10 seconds")
        .filter(col("user_id") < 99)
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      assert(batch == got)
    } finally q.stop()
  }
}

object StreamingSpec {
  object Curation extends org.scalatest.Tag("graft.CurationStream")
}
