package graft

import graft.cdc.{CdcConfig, CdcMerge}
import graft.streaming.{CdcStream, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

// top-level: Spark encoders cannot reach case classes nested in a Suite
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double)
final case class Ord(o_orderkey: Long, o_custkey: Long,
                     o_orderstatus: String, o_totalprice: Double)
// a CDC-source-connector record: serialized payload + op/ts metadata
final case class EnvRec(value: String, op: String, ts: Timestamp)
// the evolved extract schema: upstream DDL added o_channel
final case class OrdV2(o_orderkey: Long, o_custkey: Long,
                       o_orderstatus: String, o_totalprice: Double,
                       o_channel: String)

/** Structured Streaming suite (SURVEY.md §5.2.4): batch↔stream parity for
  * the windowed aggregates, the foreachBatch CDC merge, watermark late-row
  * drops, streaming dedup, and an arbitrary stateful op.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling aggregation: stream (complete mode) equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq

    val ms = MemoryStream[Ev]
    ms.addData(events)
    val q = StreamOps.tumblingCounts(ms.toDF)
      .writeStream.format("memory").queryName("tumb_parity")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("tumb_parity")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = StreamOps.tumblingCounts(
        Tables.events(spark, Sf)
          .select("event_id", "ts", "user_id", "event_type", "value"))
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("maintainRollup: feed-driven rollup equals recompute over each snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("cdc_ru_state").toString
    val rollupDir = Files.createTempDirectory("cdc_ru_roll").toString
    val ckpt = Files.createTempDirectory("cdc_ru_ckpt").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    val spec = graft.cdc.IncrementalAgg.Spec(
      groupCols = Seq("o_orderstatus"), sumCols = Seq("o_totalprice"))

    val extract1 = Seq(
      Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0), Ord(3, 30, "F", 300.0))
    // 2 moves group O→F (update), 3 deleted, 4 inserted
    val extract2 = Seq(
      Ord(1, 10, "O", 100.0), Ord(2, 20, "F", 250.0), Ord(4, 40, "O", 400.0))

    def recompute(v: Long) = graft.cdc.IncrementalAgg.init(
      CdcStream.stateAt(spark, stateDir, v).get, spec)

    val ms = MemoryStream[Ord]
    val q = CdcStream.start(ms.toDF, cfg, stateDir, ckpt, feedPriors = true)
    try {
      ms.addData(extract1)
      q.processAllAvailable()
      assert(CdcStream.maintainRollup(spark, stateDir, rollupDir, spec)
        === Some(0L))
      val r0 = spark.read.parquet(s"$rollupDir/v0")
      assert(r0.exceptAll(recompute(0)).isEmpty
        && recompute(0).exceptAll(r0).isEmpty)

      ms.addData(extract2)
      q.processAllAvailable()
      assert(CdcStream.maintainRollup(spark, stateDir, rollupDir, spec)
        === Some(1L))
      val r1 = spark.read.parquet(s"$rollupDir/v1")
      assert(r1.exceptAll(recompute(1)).isEmpty
        && recompute(1).exceptAll(r1).isEmpty)
      val r1Rows = r1.collect().toSet // materialize before the wipe below
      // nothing new → no-op
      assert(CdcStream.maintainRollup(spark, stateDir, rollupDir, spec).isEmpty)
      // recovery story: wipe the rollup, replay the whole feed, same state
      val p = new org.apache.hadoop.fs.Path(rollupDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      assert(CdcStream.maintainRollup(spark, stateDir, rollupDir, spec)
        === Some(1L))
      assert(spark.read.parquet(s"$rollupDir/v1").collect().toSet === r1Rows)
    } finally q.stop()
  }

  test("foreachBatch CDC merge: snapshots track full extracts, feed records I/U/D") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("cdc_state").toString
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))

    val extract1 = Seq(
      Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0), Ord(3, 30, "F", 300.0))
    val extract2 = Seq( // 1 unchanged, 2 updated, 3 deleted, 4 inserted
      Ord(1, 10, "O", 100.0), Ord(2, 20, "F", 250.0), Ord(4, 40, "O", 400.0))

    val ms = MemoryStream[Ord]
    val q = CdcStream.start(ms.toDF, cfg, stateDir, ckpt)
    try {
      ms.addData(extract1)
      q.processAllAvailable()
      val v0 = spark.read.parquet(CdcStream.versionPath(stateDir, 0))
      assert(v0.as[Ord].collect().toSet === extract1.toSet)

      ms.addData(extract2)
      q.processAllAvailable()
      val v1 = spark.read.parquet(CdcStream.versionPath(stateDir, 1))
      assert(v1.as[Ord].collect().toSet === extract2.toSet)

      val changes = spark.read.parquet(CdcStream.changesPath(stateDir))
      val b1 = changes.filter(col("batch_id") === 1)
        .select("o_orderkey", CdcMerge.OpCol).as[(Long, String)].collect().toSet
      assert(b1 === Set((2L, "U"), (3L, "D"), (4L, "I")))
      // batch 0: everything is an insert against empty state
      val b0ops = changes.filter(col("batch_id") === 0)
        .select(CdcMerge.OpCol).distinct().as[String].collect().toSet
      assert(b0ops === Set("I"))
    } finally q.stop()
  }

  test("schema-evolution restart: new stream + evolved config carry existing state forward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("evo_stream_state").toString
    val cfgV1 = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))

    // phase 1: the original pipeline commits batch 0 under the v1 schema
    val ms1 = MemoryStream[Ord]
    val q1 = CdcStream.start(ms1.toDF, cfgV1, stateDir,
      Files.createTempDirectory("evo_stream_ckpt1").toString)
    try {
      ms1.addData(Seq(
        Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0), Ord(3, 30, "F", 300.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(CdcStream.currentVersion(spark, stateDir) === Some(0L))

    // phase 2: upstream DDL adds o_channel — the source schema change
    // forces a NEW streaming query (fresh checkpoint ⇒ foreachBatch ids
    // restart at 0), re-pointed at the same state via batchIdOffset so
    // the replay guard doesn't swallow the first evolved batch
    val cfgV2 = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_channel"))
    val ms2 = MemoryStream[OrdV2]
    val q2 = CdcStream.start(ms2.toDF, cfgV2, stateDir,
      Files.createTempDirectory("evo_stream_ckpt2").toString,
      batchIdOffset = 1L)
    try {
      ms2.addData(Seq( // 1 untouched (channel unknown→null), 2 updated
        OrdV2(1, 10, "O", 100.0, null), // with channel, 3 deleted, 4 new
        OrdV2(2, 20, "F", 250.0, "web"),
        OrdV2(4, 40, "O", 400.0, "app")))
      q2.processAllAvailable()
    } finally q2.stop()

    assert(CdcStream.currentVersion(spark, stateDir) === Some(1L))
    val state = CdcStream.currentState(spark, stateDir).get
      .as[OrdV2].collect().toSet
    assert(state === Set(
      OrdV2(1, 10, "O", 100.0, null),
      OrdV2(2, 20, "F", 250.0, "web"),
      OrdV2(4, 40, "O", 400.0, "app")))
    // the evolved batch's feed: the untouched row stayed N (absent),
    // despite the state having been hashed under the v1 column set
    val b1 = spark.read.parquet(CdcStream.changesPath(stateDir))
      .filter(col("batch_id") === 1)
      .select("o_orderkey", CdcMerge.OpCol).as[(Long, String)].collect().toSet
    assert(b1 === Set((2L, "U"), (3L, "D"), (4L, "I")))
  }

  test("CSV extracts arriving as files drive the streaming CDC merge (R1+R5)") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("csv_extracts")
    val stateDir = Files.createTempDirectory("csv_cdc_state").toString
    val ckpt = Files.createTempDirectory("csv_cdc_ckpt").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType)))

    val q = CdcStream.start(
      graft.sources.Sources.csvStream(spark, inDir.toString, schema),
      cfg, stateDir, ckpt)
    try {
      Files.writeString(inDir.resolve("extract_0.csv"),
        "o_orderkey,o_custkey,o_orderstatus,o_totalprice\n1,10,O,100.0\n2,20,O,200.0\n")
      q.processAllAvailable()
      Files.writeString(inDir.resolve("extract_1.csv"),
        "o_orderkey,o_custkey,o_orderstatus,o_totalprice\n1,10,O,100.0\n2,20,F,250.0\n3,30,O,300.0\n")
      q.processAllAvailable()
    } finally q.stop()

    val finalState = CdcStream.currentState(spark, stateDir).get
      .as[Ord].collect().toSet
    assert(finalState === Set(
      Ord(1, 10, "O", 100.0), Ord(2, 20, "F", 250.0), Ord(3, 30, "O", 300.0)))
    val ops1 = spark.read.parquet(CdcStream.changesPath(stateDir))
      .filter(col("batch_id") === 1)
      .select("o_orderkey", CdcMerge.OpCol).as[(Long, String)].collect().toSet
    assert(ops1 === Set((2L, "U"), (3L, "I")))
  }

  test("CDC-source-shaped envelope stream (op/ts per key) drives the keyed merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("env_state").toString
    val ckpt = Files.createTempDirectory("env_ckpt").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType)))

    val ms = MemoryStream[EnvRec]
    val envelope = graft.sources.Sources.cdcEnvelope(ms.toDF, payloadSchema)
    val q = CdcStream.startFromEnvelope(envelope, cfg, stateDir, ckpt)
    try {
      ms.addData(Seq(
        EnvRec("""{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":100.0}""",
          "I", ts("2024-01-01 10:00:00")),
        EnvRec("""{"o_orderkey":2,"o_custkey":20,"o_orderstatus":"O","o_totalprice":200.0}""",
          "I", ts("2024-01-01 10:00:00"))))
      q.processAllAvailable()
      // batch 1: key 1 updated twice (latest ts wins), key 2 deleted, key 3 inserted
      ms.addData(Seq(
        EnvRec("""{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":110.0}""",
          "U", ts("2024-01-01 10:01:00")),
        EnvRec("""{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":120.0}""",
          "U", ts("2024-01-01 10:02:00")),
        EnvRec("""{"o_orderkey":2}""", "D", ts("2024-01-01 10:01:00")),
        EnvRec("""{"o_orderkey":3,"o_custkey":30,"o_orderstatus":"F","o_totalprice":300.0}""",
          "I", ts("2024-01-01 10:01:00"))))
      q.processAllAvailable()
    } finally q.stop()

    val state = CdcStream.currentState(spark, stateDir).get
      .as[Ord].collect().toSet
    assert(state === Set(
      Ord(1, 10, "O", 120.0), Ord(3, 30, "F", 300.0)))
    val ops1 = spark.read.parquet(CdcStream.changesPath(stateDir))
      .filter(col("batch_id") === 1)
      .select("o_orderkey", CdcMerge.OpCol).as[(Long, String)].collect().toSet
    assert(ops1 === Set((1L, "U"), (2L, "D"), (3L, "I")))
  }

  test("Debezium envelope stream: state equals the batch-CDC merge on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("dbz_state").toString
    val ckpt = Files.createTempDirectory("dbz_ckpt").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType)))

    // raw topic records: the standard Debezium wire envelope, one JSON
    // string per change event (`value` is the only column, as a Kafka
    // read would yield after CAST(value AS STRING))
    val ms = MemoryStream[String]
    val envelope = graft.sources.Sources.debeziumEnvelope(
      ms.toDF, payloadSchema)
    val q = CdcStream.startFromEnvelope(envelope, cfg, stateDir, ckpt)
    try {
      // batch 0: snapshot read (op r) + create — both must land as upserts
      ms.addData(Seq(
        """{"before":null,"after":{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":100.0},"op":"r","ts_ms":1704103200000}""",
        """{"before":null,"after":{"o_orderkey":2,"o_custkey":20,"o_orderstatus":"O","o_totalprice":200.0},"op":"c","ts_ms":1704103200000}"""))
      q.processAllAvailable()
      // batch 1: two rapid updates on key 1 (latest ts_ms wins), a delete
      // of key 2 carrying only its BEFORE image, a create of key 3, and a
      // truncate event that row-grain CDC must ignore
      ms.addData(Seq(
        """{"before":{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":100.0},"after":{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":110.0},"op":"u","ts_ms":1704103260000}""",
        """{"before":{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":110.0},"after":{"o_orderkey":1,"o_custkey":10,"o_orderstatus":"O","o_totalprice":120.0},"op":"u","ts_ms":1704103320000}""",
        """{"before":{"o_orderkey":2,"o_custkey":20,"o_orderstatus":"O","o_totalprice":200.0},"after":null,"op":"d","ts_ms":1704103260000}""",
        """{"before":null,"after":{"o_orderkey":3,"o_custkey":30,"o_orderstatus":"F","o_totalprice":300.0},"op":"c","ts_ms":1704103260000}""",
        """{"before":null,"after":null,"op":"t","ts_ms":1704103260000}"""))
      q.processAllAvailable()
    } finally q.stop()

    // oracle: the BATCH full-extract merge over the equivalent snapshots
    // (prev = post-batch-0 table, curr = post-batch-1 table) must yield
    // the exact same final state the envelope stream materialized
    val prevExtract = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0)).toDF
    val currExtract = Seq(Ord(1, 10, "O", 120.0), Ord(3, 30, "F", 300.0)).toDF
    val oracle = CdcMerge.applyChanges(
      CdcMerge.classify(prevExtract, currExtract, cfg), cfg)
      .as[Ord].collect().toSet
    val state = CdcStream.currentState(spark, stateDir).get
      .as[Ord].collect().toSet
    assert(state === oracle)
    assert(state === Set(Ord(1, 10, "O", 120.0), Ord(3, 30, "F", 300.0)))
    // the change feed records the right per-key ops for batch 1
    val ops1 = spark.read.parquet(CdcStream.changesPath(stateDir))
      .filter(col("batch_id") === 1)
      .select("o_orderkey", CdcMerge.OpCol).as[(Long, String)].collect().toSet
    assert(ops1 === Set((1L, "U"), (2L, "D"), (3L, "I")))
  }

  test("envelope election is total: equal (ts, op) breaks ties by payload hash") {
    import spark.implicits._
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    val t = ts("2024-01-01 10:00:00")
    // two rapid updates with the SAME key, ts, and op but different
    // payloads — row_number over (ts, op) alone would pick arbitrarily
    val rows = Seq((1L, 10L, "O", 111.0, "U", t), (1L, 10L, "O", 222.0, "U", t))
    val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", CdcMerge.OpCol, "ts")
    val batch = rows.toDF(names: _*)
    // expected winner: the larger xxhash64 over the full payload
    val expected = batch
      .withColumn("h", xxhash64(cfg.allCols.map(col): _*))
      .orderBy(col("h").desc).limit(1)
      .as[Ord].collect().toSet

    val d1 = Files.createTempDirectory("env_tie1").toString
    CdcStream.applyEnvelopeBatch(batch, 0L, cfg, d1)
    assert(CdcStream.currentState(spark, d1).get.as[Ord].collect().toSet
      === expected)
    // and the election is input-order independent
    val d2 = Files.createTempDirectory("env_tie2").toString
    CdcStream.applyEnvelopeBatch(rows.reverse.toDF(names: _*), 0L, cfg, d2)
    assert(CdcStream.currentState(spark, d2).get.as[Ord].collect().toSet
      === expected)
  }

  test("watermark: a too-late row is dropped from its closed window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.tumblingWithWatermark(ms.toDF, "1 hour")
      .writeStream.format("memory").queryName("wm_drop")
      .outputMode("append").start()
    try {
      // two day-1 rows, then day-2 02:00 advances the watermark past the
      // day-1 window end (00:00 + 1h slack) → day-1 window closes at n=2
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 11:00:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-02 02:00:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      // late day-1 row (behind the watermark) + day-3 row to close day 2
      ms.addData(Seq(
        Ev(4, ts("2024-01-01 12:00:00"), 1, "click", 1.0),
        Ev(5, ts("2024-01-03 02:00:00"), 1, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("wm_drop")
      .select(col("win_start").cast("string"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("2024-01-01 00:00:00") === 2, "late row leaked into closed window")
    assert(rows("2024-01-02 00:00:00") === 1)
  }

  test("dropDuplicatesWithinWatermark removes same-id replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.dedupWithinWatermark(ms.toDF, "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(1, ts("2024-01-01 10:00:01"), 1, "click", 1.0), // replay
        Ev(2, ts("2024-01-01 10:05:00"), 2, "view", 2.0)))
      q.processAllAvailable()
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // replay, in wm
        Ev(3, ts("2024-01-01 10:20:00"), 3, "view", 3.0)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("session_window: streaming sessions equal batch sessions equal gaps-and-islands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")

    // batch session_window per-user session counts
    val batchSessions = StreamOps.sessionWindows(events)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))

    // gaps-and-islands twin (the q_session_batch formulation)
    val gi = ops.StreamShapeOps.sessionBatch.fn(spark, Sf)
      .select(col("user_id"), col("n_sessions"))
    assert(batchSessions.exceptAll(gi).count() === 0)
    assert(gi.exceptAll(batchSessions).count() === 0)

    // streaming: same events + a far-future sentinel to flush the watermark
    val evSeq = events.as[Ev].collect().toSeq
    val ms = MemoryStream[Ev]
    val q = StreamOps.sessionWindows(ms.toDF.withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    try {
      ms.addData(evSeq)
      q.processAllAvailable()
      ms.addData(Seq(Ev(-1, ts("2030-01-01 00:00:00"), -1, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_parity")
      .filter(col("user_id") =!= -1)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
    assert(streamed.exceptAll(batchSessions).count() === 0)
    assert(batchSessions.exceptAll(streamed).count() === 0)
  }

  test("flatMapGroupsWithState: milestones fire once per threshold crossing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val ms = MemoryStream[Ev]
    val q = StreamOps.milestones(ms.toDF, every = 2)
      .writeStream.format("memory").queryName("milestones")
      .outputMode("append").start()
    try {
      // user 1: 3 events (milestone 2), user 2: 2 events (milestone 2)
      ms.addData((1 to 3).map(i => Ev(i, ts("2024-01-01 10:00:00"), 1, "c", 1.0))
        ++ (4 to 5).map(i => Ev(i, ts("2024-01-01 10:00:00"), 2, "c", 1.0)))
      q.processAllAvailable()
      // user 1: +3 events → total 6 → milestones 4 and 6 in one batch
      ms.addData((6 to 8).map(i => Ev(i, ts("2024-01-01 10:01:00"), 1, "c", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("milestones").as[StreamOps.Milestone]
      .collect().map(m => m.user_id -> m.milestone).toSet
    assert(got === Set((1L, 2L), (2L, 2L), (1L, 4L), (1L, 6L)))
  }

  test("transformWithState: RocksDB-backed running max per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.runningMax(ms.toDF)
        .writeStream.format("memory").queryName("run_max")
        .outputMode("update").start()
      try {
        ms.addData(Seq(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "c", 5.0),
          Ev(2, ts("2024-01-01 10:00:01"), 1, "c", 9.0),
          Ev(3, ts("2024-01-01 10:00:02"), 2, "c", 3.0)))
        q.processAllAvailable()
        ms.addData(Seq(Ev(4, ts("2024-01-01 10:00:03"), 1, "c", 7.0))) // below max
        q.processAllAvailable()
      } finally q.stop()
      val finals = spark.table("run_max").as[StreamOps.UserMax].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last.max_value }
      assert(finals === Map(1L -> 9.0, 2L -> 3.0))
    } finally prior match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stateful ops are RocksDB-portable: windowed agg + dedup + fMGWS under RocksDBStateStoreProvider") {
    // At 100 TB the HDFS-backed in-memory provider is the first thing
    // swapped (state no longer fits executor heaps); Spark 4 bundles
    // RocksDB. Prove the SAME assertions hold for the stateful operators
    // that default to the HDFS provider — windowed aggregation,
    // watermark dedup, flatMapGroupsWithState — under RocksDB, so the
    // swap is a config change, not a correctness gamble.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // windowed aggregation (complete mode)
      val agg = MemoryStream[Ev]
      val qa = StreamOps.tumblingCounts(agg.toDF)
        .writeStream.format("memory").queryName("rocks_tumbling")
        .outputMode("complete").start()
      try {
        agg.addData(Seq(
          Ev(1, ts("2024-01-01 10:00:10"), 1, "a", 1.0),
          Ev(2, ts("2024-01-01 10:00:20"), 2, "b", 1.0),
          Ev(3, ts("2024-01-01 10:01:10"), 1, "a", 1.0)))
        qa.processAllAvailable()
      } finally qa.stop()
      val counts = spark.table("rocks_tumbling")
        .select("n").as[Long].collect().sorted.toSeq
      assert(counts === Seq(1L, 2L))

      // watermark dedup
      val dd = MemoryStream[Ev]
      val qd = StreamOps.dedupWithinWatermark(dd.toDF, "1 hour")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").start()
      try {
        dd.addData(Seq(
          Ev(7, ts("2024-01-01 10:00:00"), 1, "c", 1.0),
          Ev(7, ts("2024-01-01 10:00:01"), 1, "c", 1.0), // replay
          Ev(8, ts("2024-01-01 10:00:02"), 2, "c", 1.0)))
        qd.processAllAvailable()
      } finally qd.stop()
      assert(spark.table("rocks_dedup").count() === 2)

      // flatMapGroupsWithState milestones — same law as the HDFS run
      val ms = MemoryStream[Ev]
      val qm = StreamOps.milestones(ms.toDF, every = 2)
        .writeStream.format("memory").queryName("rocks_milestones")
        .outputMode("append").start()
      try {
        ms.addData((1 to 3).map(i =>
          Ev(i, ts("2024-01-01 10:00:00"), 1, "c", 1.0)))
        qm.processAllAvailable()
        ms.addData((4 to 6).map(i =>
          Ev(i, ts("2024-01-01 10:01:00"), 1, "c", 1.0)))
        qm.processAllAvailable()
      } finally qm.stop()
      val got = spark.table("rocks_milestones").as[StreamOps.Milestone]
        .collect().map(m => m.user_id -> m.milestone).toSet
      assert(got === Set((1L, 2L), (1L, 4L), (1L, 6L)))
    } finally prior match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("mapGroupsWithState: running totals match the batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val ms = MemoryStream[Ev]
    val q = StreamOps.runningTotals(ms.toDF)
      .writeStream.format("memory").queryName("run_totals")
      .outputMode("update").start()
    try {
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:01:00"), 1, "click", 2.0),
        Ev(3, ts("2024-01-01 10:02:00"), 2, "view", 3.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(4, ts("2024-01-01 10:03:00"), 1, "click", 4.0)))
      q.processAllAvailable()
    } finally q.stop()
    // last update per user is the final state
    val finals = spark.table("run_totals")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_value"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.total_value"))
      .as[(Long, Long, Double)].collect().toSet
    assert(finals === Set((1L, 3L, 7.0), (2L, 1L, 3.0)))
  }

  test("JVM-restart recovery: a forgotten catalog re-registers committed state from disk") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("restart_state").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    val b0 = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0)).toDF
    val b1 = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "F", 250.0)).toDF
    CdcStream.mergeBatch(b0, 0, cfg, stateDir)
    CdcStream.mergeBatch(b1, 1, cfg, stateDir)

    // simulate a JVM restart: the in-memory catalog forgets the external
    // table; the committed v0/v1 generations stay on disk
    spark.sql(s"DROP TABLE ${CdcStream.stateTable(stateDir)}")

    assert(CdcStream.currentVersion(spark, stateDir) === Some(1L))
    val b2 = Seq(Ord(1, 10, "O", 100.0), Ord(3, 30, "O", 300.0)).toDF
    val ops = CdcStream.mergeBatch(b2, 2, cfg, stateDir)
    // against recovered state: 1=N, 3=I, 2=D — NOT all-inserts
    assert(ops === Map("I" -> 1L, "D" -> 1L, "N" -> 1L))
    val state = CdcStream.currentState(spark, stateDir).get.as[Ord].collect().toSet
    assert(state === Set(Ord(1, 10, "O", 100.0), Ord(3, 30, "O", 300.0)))
  }

  test("stream-stream interval join equals the batch join; stream-static enriches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .collect().toSeq
    val views = events.filter(_.event_type == "view")
    val clicks = events.filter(_.event_type == "click")

    val msV = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = StreamOps.clicksAfterViews(msV.toDF, msC.toDF)
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      // two deliveries per side — pairs must survive the batch boundary
      msV.addData(views.take(views.size / 2))
      msC.addData(clicks.take(clicks.size / 2))
      q.processAllAvailable()
      msV.addData(views.drop(views.size / 2))
      msC.addData(clicks.drop(clicks.size / 2))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("ssj")
    val batch = StreamOps.clicksAfterViews(
      views.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      clicks.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
    // append emits only pairs the watermark has finalized — every emitted
    // pair must be a batch pair, and most of the corpus should be covered
    assert(streamed.exceptAll(batch).isEmpty, "stream emitted a non-batch pair")
    val (ns, nb) = (streamed.count(), batch.count())
    assert(nb > 0 && ns >= nb / 2, s"stream emitted $ns of $nb batch pairs")

    // stream-static: every streamed row picks up its dim attribute
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val msE = MemoryStream[Ev]
    val qe = StreamOps.enrich(msE.toDF, dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      msE.addData(Seq(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:01:00"), 9, "view", 2.0)))
      qe.processAllAvailable()
    } finally qe.stop()
    val tiers = spark.table("enriched").select("event_id", "tier")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tiers === Map(1L -> Some("gold"), 2L -> None))
  }

  test("left-outer stream-stream join emits unmatched views once the watermark closes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msV = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = StreamOps.viewsWithClicks(msV.toDF, msC.toDF)
      .writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    try {
      // user 1: view + in-window click (a match); user 2: view, no click
      msV.addData(Seq(
        Ev(10, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Ev(11, ts("2024-01-01 10:00:00"), 2, "view", 1.0)))
      msC.addData(Seq(Ev(20, ts("2024-01-01 10:30:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      // advance BOTH watermarks far past view_ts + within + delay so the
      // unmatched view is provably final; a second nudge triggers the
      // batch that actually emits the null-padded row
      msV.addData(Seq(Ev(98, ts("2024-01-01 20:00:00"), 99, "view", 0.0)))
      msC.addData(Seq(Ev(99, ts("2024-01-01 20:00:00"), 99, "click", 0.0)))
      q.processAllAvailable()
      msV.addData(Seq(Ev(96, ts("2024-01-01 21:00:00"), 99, "view", 0.0)))
      msC.addData(Seq(Ev(97, ts("2024-01-01 21:00:00"), 99, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("ssj_outer")
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    // the match emitted with its click; the no-click view emitted null
    assert(out.contains((1L, 10L, Some(20L))), s"missing matched pair: ${out.toSeq}")
    assert(out.contains((2L, 11L, None)), s"missing null-padded view: ${out.toSeq}")
    // batch twin agrees on the same frame (no watermark needed there)
    val views = Seq(Ev(10, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Ev(11, ts("2024-01-01 10:00:00"), 2, "view", 1.0)).toDF
    val clicks = Seq(Ev(20, ts("2024-01-01 10:30:00"), 1, "click", 1.0)).toDF
    val batch = StreamOps.viewsWithClicks(views, clicks)
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(batch === Set((1L, 10L, Some(20L)), (2L, 11L, None)))
  }

  test("rebuildFromFeed: the change feed alone reconstructs any historical state") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("rebuild_feed").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    // churn: insert, update+delete, re-insert of a deleted key
    CdcStream.mergeBatch(Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0),
      Ord(3, 30, "O", 300.0)).toDF, 0, cfg, stateDir)
    CdcStream.mergeBatch(Seq(Ord(1, 10, "F", 150.0),
      Ord(3, 30, "O", 300.0)).toDF, 1, cfg, stateDir) // 2 deleted, 1 updated
    CdcStream.mergeBatch(Seq(Ord(1, 10, "F", 150.0), Ord(2, 21, "O", 999.0),
      Ord(3, 30, "O", 300.0)).toDF, 2, cfg, stateDir) // 2 re-inserted

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .as[Ord].collect().toSet
    // rebuild of the LATEST state equals the live snapshot
    assert(canon(CdcStream.rebuildFromFeed(spark, stateDir, cfg, 2L)) ===
      canon(CdcStream.currentState(spark, stateDir).get))
    // rebuild of EVERY historical batch equals the versioned state
    for (b <- 0L to 1L)
      assert(canon(CdcStream.rebuildFromFeed(spark, stateDir, cfg, b)) ===
        canon(CdcStream.stateAt(spark, stateDir, b).get), s"batch $b")
    // the delete really disappears at batch 1
    assert(!canon(CdcStream.rebuildFromFeed(spark, stateDir, cfg, 1L))
      .exists(_.o_orderkey == 2L))
  }

  test("restart recovery honors the generation's bucket sidecar (non-default count)") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("restart_bk").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    CdcStream.mergeBatch(Seq(Ord(1, 10, "O", 100.0)).toDF, 0, cfg, stateDir,
      buckets = 16)
    spark.sql(s"DROP TABLE ${CdcStream.stateTable(stateDir)}")
    // recover WITHOUT passing the right count — the sidecar must win
    assert(CdcStream.currentVersion(spark, stateDir) === Some(0L))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        CdcStream.stateTable(stateDir)))
    assert(meta.bucketSpec.map(_.numBuckets) === Some(16),
      s"recovered with ${meta.bucketSpec} instead of the files' 16")
    // and the next merge still classifies correctly against it
    val ops = CdcStream.mergeBatch(
      Seq(Ord(1, 10, "F", 110.0)).toDF, 1, cfg, stateDir, buckets = 16)
    assert(ops === Map("U" -> 1L, "N" -> 0L))
  }

  private val ordCfg = CdcConfig(Seq("o_orderkey"),
    Seq("o_custkey", "o_orderstatus", "o_totalprice"))

  test("a merge whose feed write fails leaves its generation uncommitted; restart replays it") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("crash_order").toString
    val b0 = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0)).toDF
    val b1 = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "F", 250.0)).toDF
    val b2 = Seq(Ord(1, 10, "O", 100.0), Ord(3, 30, "O", 300.0)).toDF
    CdcStream.mergeBatch(b0, 0, ordCfg, stateDir)
    CdcStream.mergeBatch(b1, 1, ordCfg, stateDir)
    // b2's feed write fails: its directory's path is now a regular file
    val changes = new java.io.File(CdcStream.changesPath(stateDir))
    val aside = new java.io.File(s"$stateDir/changes_aside")
    assert(changes.renameTo(aside) && changes.createNewFile())
    val e = intercept[Exception](CdcStream.mergeBatch(b2, 2, ordCfg, stateDir))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ParentNotDirectoryException]),
      s"expected the feed write to fail, got $e")
    // restart: the catalog forgets the live and stage tables; the feed
    // directory comes back
    val t = CdcStream.stateTable(stateDir)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_stage")
    assert(changes.delete() && aside.renameTo(changes))
    // v2 holds a fully written state but no feed: it must not be adopted
    assert(CdcStream.currentVersion(spark, stateDir) === Some(1L))
    assert(CdcStream.mergeBatch(b2, 2, ordCfg, stateDir) ===
      Map("I" -> 1L, "D" -> 1L, "N" -> 1L))
    assert(spark.read.parquet(s"${CdcStream.changesPath(stateDir)}/batch_id=2")
      .count() === 2)
  }

  test("a steady mergeBatch runs at most 3 Spark jobs") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val stateDir = Files.createTempDirectory("merge_jobs").toString
    val logDir = Some(Files.createTempDirectory("merge_jobs_log").toString)
    CdcStream.mergeBatch(Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0))
      .toDF, 0, ordCfg, stateDir, logDir = logDir)
    CdcStream.mergeBatch(Seq(Ord(1, 10, "F", 110.0), Ord(2, 20, "O", 200.0),
      Ord(3, 30, "O", 300.0)).toDF, 1, ordCfg, stateDir, logDir = logDir)
    val merge = s"steady-merge-$stateDir"
    val sentinel = s"steady-merge-sentinel-$stateDir"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`merge`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val ops = try {
      spark.sparkContext.setJobGroup(merge, "steady merge")
      val ops = CdcStream.mergeBatch(Seq(Ord(1, 10, "F", 110.0),
        Ord(3, 30, "F", 330.0), Ord(4, 40, "O", 400.0)).toDF, 2, ordCfg,
        stateDir, logDir = logDir)
      // listener events arrive in order: the sentinel job's start means
      // every job of the merge has been seen
      spark.sparkContext.setJobGroup(sentinel, "drain")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(drained.await(2, java.util.concurrent.TimeUnit.MINUTES))
      ops
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    info(s"${jobs.get} jobs")
    assert(ops === Map("I" -> 1L, "U" -> 1L, "D" -> 1L, "N" -> 1L))
    assert(jobs.get <= 3, s"a steady merge ran ${jobs.get} jobs")
  }

  test("an empty extract merges promptly: N=0 on bootstrap state, all D on populated state") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val stateDir = Files.createTempDirectory("merge_empty").toString
    val empty = Seq.empty[Ord].toDF
    def merge(df: org.apache.spark.sql.DataFrame, b: Long) = Await.result(
      Future(CdcStream.mergeBatch(df, b, ordCfg, stateDir))(
        ExecutionContext.global), 2.minutes)
    assert(merge(empty, 0) === Map("N" -> 0L))
    assert(merge(Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0)).toDF, 1) ===
      Map("I" -> 2L, "N" -> 0L))
    assert(merge(empty, 2) === Map("D" -> 2L, "N" -> 0L))
    assert(CdcStream.currentState(spark, stateDir).get.count() === 0L)
    assert(spark.read.parquet(s"${CdcStream.changesPath(stateDir)}/batch_id=2")
      .count() === 2)
  }

  test("feedPriors: the persisted feed equals the classify feed, __old_ columns included") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("merge_priors").toString
    val prev = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0),
      Ord(3, 30, "O", 300.0)).toDF
    val curr = Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "F", 250.0),
      Ord(4, 40, "O", 400.0)).toDF
    CdcStream.mergeBatch(prev, 0, ordCfg, stateDir, feedPriors = true)
    CdcStream.mergeBatch(curr, 1, ordCfg, stateDir, feedPriors = true)
    // CdcMerge.classify with the prior images switched on
    val expected = CdcMerge.changeFeed(CdcMerge.classifyHashed(
      CdcMerge.withHashes(prev, ordCfg, useXxhash64 = true),
      CdcMerge.withHashes(curr, ordCfg, useXxhash64 = true), ordCfg,
      withPriors = true), 1L)
    val part = spark.read.parquet(s"${CdcStream.changesPath(stateDir)}/batch_id=1")
    assert(part.columns.toSeq === expected.columns.toSeq.filterNot(_ == "batch_id"))
    val got = part.withColumn("batch_id", lit(1L))
    assert(got.count() === 3)
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)
  }

  test("the log commit records the written schema without inferring it") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("merge_schema").toString
    val logDir = Files.createTempDirectory("merge_schema_log").toString
    CdcStream.mergeBatch(Seq(Ord(1, 10, "O", 100.0)).toDF, 0, ordCfg, stateDir,
      logDir = Some(logDir))
    CdcStream.mergeBatch(Seq(Ord(1, 10, "F", 110.0), Ord(2, 20, "O", 200.0))
      .toDF, 1, ordCfg, stateDir, logDir = Some(logDir))
    for (b <- Seq(0L, 1L)) {
      val v = graft.sources.SnapshotLog.versionOfBatch(spark, logDir, b).get
      val onDisk = spark.read.parquet(CdcStream.versionPath(stateDir, b)).schema
      assert(graft.sources.SnapshotLog.schemaOf(spark, logDir, v) === Some(onDisk))
      assert(onDisk(CdcMerge.KeyHash).metadata.getString(CdcMerge.KeyColsMeta) ===
        "o_orderkey")
    }
  }

  test("time travel + SCD2: versioned snapshots read back; feed folds to validity ranges") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("tt_state").toString
    val cfg = CdcConfig(Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
    CdcStream.mergeBatch(
      Seq(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0)).toDF, 0, cfg, stateDir)
    CdcStream.mergeBatch(
      Seq(Ord(1, 10, "F", 110.0), Ord(3, 30, "O", 300.0)).toDF, 1, cfg, stateDir)

    // point-in-time: v0 still shows the pre-update world
    val v0 = CdcStream.stateAt(spark, stateDir, 0).get.as[Ord].collect().toSet
    assert(v0 === Set(Ord(1, 10, "O", 100.0), Ord(2, 20, "O", 200.0)))
    assert(CdcStream.stateAt(spark, stateDir, 7) === None)

    // SCD2: key 1 has two versions (b0 closed by b1, b1 current);
    // key 2 was deleted in b1 (version closed, no current row);
    // key 3 opened in b1 and is current
    val scd2 = CdcStream.scd2View(spark, stateDir, Seq("o_orderkey"))
      .select("o_orderkey", "valid_from_batch", "valid_to_batch", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    assert(scd2 === Set(
      (1L, 0L, Some(1L), false), (1L, 1L, None, true),
      (2L, 0L, Some(1L), false),
      (3L, 1L, None, true)))
  }

  test("streaming near-dup gate: native simhash64 runs in a stream; dropDuplicates on the signature") {
    import graft.functions.HashExprs
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // curation exprs are stateless per-row Catalyst expressions, so the
    // SAME column expression runs batch and stream — the streaming dedup
    // state is keyed by the 8-byte signature, not the document text
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val sig = HashExprs.simHash64(split(col("_2"), " ")).as("sig")
    val q = ms.toDF.select(col("_1").as("doc_id"), sig)
      .dropDuplicates("sig")
      .writeStream.format("memory").queryName("sim_gate")
      .outputMode("append").start()
    try {
      ms.addData(docs)
      q.processAllAvailable()
      ms.addData(docs.take(10)) // full replay of earlier docs: all dropped
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sim_gate")
    val batch = Tables.documents(spark, Sf)
      .select(col("doc_id"), HashExprs.simHash64(split(col("text"), " ")).as("sig"))
      .dropDuplicates("sig")
    assert(streamed.count() === batch.count())
    // identical surviving signature sets (survivor doc_id may differ: batch
    // dedup picks an arbitrary row per key, the stream keeps the first)
    assert(streamed.select("sig").exceptAll(batch.select("sig")).isEmpty)
  }

  test("transitionPairs: stateful stream pair counts equal the batch lead() matrix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val events = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id") // in-order feed, split into two triggers
      .as[Ev].collect().toSeq
    val (first, second) = events.splitAt(events.length / 2)

    val ms = MemoryStream[Ev]
    val q = StreamOps.transitionPairs(ms.toDF)
      .writeStream.format("memory").queryName("trans_parity")
      .outputMode("append").start()
    try {
      ms.addData(first); q.processAllAvailable()
      ms.addData(second); q.processAllAvailable()
      // a late replay of an already-processed row must be DROPPED by the
      // stored-position guard, not emitted as a bogus out-of-order pair
      ms.addData(Seq(first.head)); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("trans_parity")
      .groupBy("event_type", "next_type").count()
      .orderBy("event_type", "next_type").collect().toSeq
    // batch twin: q_transitions' pair counts (drop the p_milli column)
    val batch = graft.ops.StreamShapeOps.transitions.fn(spark, Sf)
      .select(col("event_type"), col("next_type"), col("n").as("count"))
      .collect().toSeq
    assert(streamed === batch)
  }

  test("throttleChain stream equals the batch kept-chain on an in-order feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val events = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id") // in-order feed, three triggers
      .as[Ev].collect().toSeq
    val (a, rest) = events.splitAt(events.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)

    val ms = MemoryStream[Ev]
    val q = StreamOps.throttleChain(ms.toDF, gapUs = 21600000000L)
      .writeStream.format("memory").queryName("throttle_parity")
      .outputMode("append").start()
    try {
      ms.addData(a); q.processAllAvailable()
      ms.addData(b); q.processAllAvailable()
      ms.addData(c); q.processAllAvailable()
      // replaying an old row must not re-admit it (carried position)
      ms.addData(Seq(a.head)); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("throttle_parity")
      .select("event_id").as[Long].collect().toSet
    val batch = graft.ops.ImplOps.throttleChain.fn(spark, Sf)
      .select("event_id").as[Long].collect().toSet
    assert(streamed === batch)
  }
}
