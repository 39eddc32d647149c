package graft

import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The DSv2 micro-batch SOURCE over snapshot-log tables
  * ([[graft.sources.SnapshotStreamSource]]): versions are offsets, each
  * batch reads exactly the files added in its version range, checkpoint
  * recovery resumes from the committed version, and non-append history
  * (COW rewrites, DV growth) fails LOUDLY instead of silently
  * re-emitting or dropping rows. */
class SnapshotStreamSourceSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val Fmt = "graft.sources.SnapshotStreamSource"

  private def freshDir() =
    Files.createTempDirectory("snapstream").toString + "/tbl"

  private def rows(a: Long, b: Long) =
    (a until b).map(i => (i, s"v$i")).toDF("k", "v")

  test("appends stream as micro-batches; the initial snapshot is batch zero") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 10))
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_stream").count() === 10)
      // two appended batches arrive as new rows only
      SnapshotLog.commitBatch(spark, dir, rows(10, 15), batchId = 1L)
      SnapshotLog.commitBatch(spark, dir, rows(15, 18), batchId = 2L)
      q.processAllAvailable()
      val got = spark.table("snap_stream").as[(Long, String)].collect()
      assert(got.length === 18, s"expected 18 rows, got ${got.length}")
      assert(got.map(_._1).sorted === (0L until 18L).toArray)
      assert(got.toMap.apply(17L) === "v17")
    } finally q.stop()
  }

  test("checkpoint restart resumes from the committed version (no re-emit, no loss)") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("snapstream-ckpt").toString
    SnapshotLog.commit(spark, dir, rows(0, 5))
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    def start() = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= df.select("k").as[Long].collect() }
        ()
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(out.sorted === (0L until 5L))
    // rows committed while the stream is DOWN arrive exactly once on restart
    SnapshotLog.commitBatch(spark, dir, rows(5, 9), batchId = 1L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(out.sorted === (0L until 9L),
      s"restart re-emitted or lost rows: ${out.sorted.mkString(",")}")
  }

  test("startingVersion=latest skips history; a numbered start replays from it") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 10))
    SnapshotLog.commitBatch(spark, dir, rows(10, 12), batchId = 1L)
    // latest: nothing until a NEW commit
    val qL = spark.readStream.format(Fmt).option("path", dir)
      .option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("snap_latest")
      .outputMode("append").start()
    try {
      qL.processAllAvailable()
      assert(spark.table("snap_latest").count() === 0)
      SnapshotLog.commitBatch(spark, dir, rows(12, 14), batchId = 2L)
      qL.processAllAvailable()
      assert(spark.table("snap_latest").select("k").as[Long].collect()
        .sorted === Array(12L, 13L))
    } finally qL.stop()
    // numbered: version 2's delta only
    val q2 = spark.readStream.format(Fmt).option("path", dir)
      .option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("snap_from2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("snap_from2").select("k").as[Long].collect()
        .sorted === (10L until 14L).toArray)
    } finally q2.stop()
  }

  test("a COW rewrite in the version range fails the stream loudly") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 10))
    SnapshotLog.deleteWhere(spark, dir, col("k") === 3L) // rewrites a file
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_cow")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("append-only"),
      s"expected the append-only refusal, got: $msg")
  }

  test("deletion-vector growth in the range is refused (no silent retraction)") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 10))
    SnapshotLog.deleteWhereMoR(spark, dir, col("k") === 3L)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_dv")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("deletion vector"),
      s"expected the DV refusal, got: $msg")
  }

  test("schema-evolution appends: pre-evolution files read the added column as null") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 4))
    SnapshotLog.commitBatch(spark, dir,
      (4L until 7L).map(i => (i, s"v$i", i * 10)).toDF("k", "v", "w"),
      batchId = 1L)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_evolve")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snap_evolve")
      assert(got.columns.toSeq === Seq("k", "v", "w"))
      assert(got.count() === 7)
      assert(got.filter(col("w").isNull).select("k").as[Long].collect()
        .sorted === (0L until 4L).toArray)
      assert(got.filter(col("k") === 5L).select("w").as[Long].head() === 50L)
    } finally q.stop()
  }

  test("hive-partitioned tables stream with typed partition constants from the manifest") {
    val dir = freshDir()
    val df = Seq((1L, "eu", "a"), (2L, "us", "b"), (3L, "eu", "c"))
      .toDF("k", "region", "v")
    SnapshotLog.commitPartitioned(spark, dir, df, Seq("region"))
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_part")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // the appended batch inherits the layout and streams too
      SnapshotLog.commitBatch(spark, dir,
        Seq((4L, "ap", "d")).toDF("k", "region", "v"), batchId = 1L)
      q.processAllAvailable()
      val got = spark.table("snap_part").as[(Long, String, String)]
        .collect().sortBy(_._1)
      assert(got === Array((1L, "eu", "a"), (2L, "us", "b"),
        (3L, "eu", "c"), (4L, "ap", "d")))
    } finally q.stop()
  }

  test("NOT NULL and timestamp partition columns stream from typed constants") {
    // hive files lack their partition columns: the reader reads them
    // nullable and fills the manifest values, cast to the declared type
    val dir = freshDir()
    val df = spark.range(4).select(col("id").as("k"),
      when(col("id") < 2, lit(0L)).otherwise(lit(1L)).as("p"),
      lit(java.sql.Timestamp.valueOf("2024-05-01 10:30:00")).as("ts"))
    assert(!df.schema("p").nullable)
    SnapshotLog.commitPartitioned(spark, dir, df, Seq("p", "ts"))
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_part_typed")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.table("snap_part_typed").orderBy("k").collect().toSeq
    assert(streamed === SnapshotLog.read(spark, dir).orderBy("k").collect().toSeq)
    assert(streamed.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
    assert(streamed.forall(_.getTimestamp(2) ===
      java.sql.Timestamp.valueOf("2024-05-01 10:30:00")))
  }

  test("map, struct, binary and nested-array columns stream equal to the batch read") {
    // the stream decodes through Spark's parquet reader, so its type
    // coverage is the batch read's: nested values, nulls at every level
    // and empty collections come through cell for cell
    val dir = freshDir()
    def frame(rs: (Long, Seq[Seq[Double]], Map[String, Long], (Int, String),
        Array[Byte])*) = rs.toDF("k", "nested", "m", "st", "bin")
    SnapshotLog.commit(spark, dir, frame(
      (1L, Seq(Seq(1.0, 2.0), Seq.empty, null), Map("a" -> 1L, "b" -> 2L),
        (7, "x"), Array[Byte](1, 2, 3)),
      (2L, null, null, null, null)))
    SnapshotLog.commitBatch(spark, dir, frame(
      (3L, Seq(Seq(-0.5)), Map.empty, (8, null), Array.emptyByteArray)),
      batchId = 1L)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_nested")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.table("snap_nested").orderBy("k").collect().toSeq
    val batch = SnapshotLog.read(spark, dir).orderBy("k").collect().toSeq
    assert(streamed.map(_.getLong(0)) === Seq(1L, 2L, 3L))
    assert(streamed === batch)
    assert(streamed.head.getMap[String, Long](2) === Map("a" -> 1L, "b" -> 2L))
    assert(streamed.last.getAs[Array[Byte]](4).isEmpty)
  }

  test("array<float> embeddings stream bit-identically to the batch read") {
    // the LLM-pipeline boundary the r9 scope stopped at: vectors now
    // flow through the streaming source — batch and stream agree cell
    // for cell, including null elements and empty arrays
    val dir = freshDir()
    val df = Seq(
      (1L, Seq(1.5f, -2.25f, 0.125f)),
      (2L, Seq.empty[Float]),
      (3L, Seq(Float.MinPositiveValue, Float.MaxValue)))
      .toDF("k", "emb")
    SnapshotLog.commit(spark, dir, df)
    SnapshotLog.commitBatch(spark, dir,
      Seq((4L, Seq(9.5f))).toDF("k", "emb"), batchId = 1L)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_emb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snap_emb").orderBy("k").collect().map(_.toSeq)
      val want = SnapshotLog.read(spark, dir).orderBy("k").collect()
        .map(_.toSeq)
      assert(got === want)
      assert(got.length === 4)
    } finally q.stop()
  }

  test("decimal columns stream across all three parquet physical forms") {
    // precision ≤9 → INT32, ≤18 → INT64, beyond → fixed binary; the
    // executor-side decoder reads whichever the file carries
    val dir = freshDir()
    val df = Seq((1L, "123.45"), (2L, "-7.01"))
      .toDF("k", "s")
      .select(col("k"),
        col("s").cast("decimal(9,2)").as("d9"),
        col("s").cast("decimal(18,2)").as("d18"),
        col("s").cast("decimal(28,4)").as("d28"))
    SnapshotLog.commit(spark, dir, df)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_dec")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snap_dec").orderBy("k").collect().map(_.toSeq)
      val want = SnapshotLog.read(spark, dir).orderBy("k").collect()
        .map(_.toSeq)
      assert(got === want)
    } finally q.stop()
  }

  test("batch read: spark.read.format(graft-snapshot) matches SnapshotLog.read") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 10))
    SnapshotLog.commitBatch(spark, dir, rows(10, 15), batchId = 1L)
    val got = spark.read.format("graft-snapshot").option("path", dir).load()
    val want = SnapshotLog.read(spark, dir)
    // names+types match; the DSv2 path additionally KEEPS the declared
    // non-null flags (parquet batch reads relax everything to nullable)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    assert(got.orderBy("k").collect().map(_.toSeq) ===
      want.orderBy("k").collect().map(_.toSeq))
    // column pruning reaches the reader (schema of the scan shrinks)
    assert(got.select("v").columns.toSeq === Seq("v"))
    assert(got.select("v").as[String].collect().sorted.head === "v0")
  }

  test("batch read: versionAsOf time travel matches the library read") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 5))
    SnapshotLog.commitBatch(spark, dir, rows(5, 9), batchId = 1L)
    val v1 = spark.read.format("graft-snapshot").option("path", dir)
      .option("versionAsOf", "1").load()
    assert(v1.select("k").as[Long].collect().sorted === (0L until 5L).toArray)
    val bad = intercept[Exception] {
      spark.read.format("graft-snapshot").option("path", dir)
        .option("versionAsOf", "99").load().collect()
    }
    assert(bad.getMessage.contains("does not exist"))
  }

  test("batch read applies merge-on-read deletion vectors via shipped bitmaps") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 10))
    SnapshotLog.deleteWhereMoR(spark, dir, col("k") % 3 === 0L)
    val got = spark.read.format("graft-snapshot").option("path", dir).load()
      .select("k").as[Long].collect().sorted
    val want = SnapshotLog.read(spark, dir)
      .select("k").as[Long].collect().sorted
    assert(got === want)
    assert(got === (0L until 10L).filter(_ % 3 != 0).toArray)
  }

  test("batch read: hive-partitioned tables fill typed partition constants") {
    val dir = freshDir()
    SnapshotLog.commitPartitioned(spark, dir,
      Seq((1L, "eu", "a"), (2L, "us", "b"), (3L, "eu", "c"))
        .toDF("k", "region", "v"), Seq("region"))
    val got = spark.read.format("graft-snapshot").option("path", dir).load()
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(got === Array((1L, "eu", "a"), (2L, "us", "b"), (3L, "eu", "c")))
  }

  test("recovery across a vacuumed boundary fails loudly instead of re-emitting") {
    // the r9 hole: a checkpointed offset whose SUCCESSOR became the
    // earliest retained version used to replay that version's full
    // snapshot — duplicating every carried file. The offset now records
    // the stream's true start version, so this boundary is
    // distinguishable from the legitimate initial snapshot.
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("snapvac-ckpt").toString
    SnapshotLog.commit(spark, dir, rows(0, 4))
    SnapshotLog.commitBatch(spark, dir, rows(4, 6), batchId = 1L)
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    def start() = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= df.select("k").as[Long].collect() }
        ()
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(out.sorted === (0L until 6L))
    // while the stream is down: one more commit, then vacuum away all
    // history — the new commit's PREDECESSOR is gone
    SnapshotLog.commitBatch(spark, dir, rows(6, 8), batchId = 2L)
    SnapshotLog.vacuum(spark, dir, keepLast = 1)
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("vacuumed"),
      s"expected the vacuumed-boundary refusal, got: $msg")
    // and nothing was re-emitted before the failure surfaced
    assert(out.sorted === (0L until 6L),
      s"recovery re-emitted rows: ${out.sorted.mkString(",")}")
  }

  test("maxVersionsPerTrigger bounds catch-up batches (admission control)") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 2))
    (1L to 4L).foreach(b =>
      SnapshotLog.commitBatch(spark, dir, rows(2 * b, 2 * b + 2), b))
    // 5 versions of history; the stream must take them ≤2 at a time
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.sum === 10, s"rows lost: ${batchSizes.mkString(",")}")
    assert(batchSizes.forall(_ <= 4),
      s"a batch exceeded 2 versions (4 rows): ${batchSizes.mkString(",")}")
    assert(batchSizes.count(_ > 0) >= 3,
      s"catch-up was not split: ${batchSizes.mkString(",")}")
  }

  test("Trigger.AvailableNow drains pending versions in bounded batches, " +
      "then terminates") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 2))
    (1L to 3L).foreach(b =>
      SnapshotLog.commitBatch(spark, dir, rows(2 * b, 2 * b + 2), b))
    // 4 versions pending; one version per trigger → ≥4 bounded batches,
    // and the query STOPS by itself (the scheduled catch-up contract)
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }
        ()
      }.start()
    try assert(q.awaitTermination(120000L),
      "AvailableNow query did not terminate on its own")
    finally q.stop()
    assert(batchSizes.sum === 8, s"rows lost: ${batchSizes.mkString(",")}")
    assert(batchSizes.forall(_ <= 2),
      s"a batch exceeded 1 version (2 rows): ${batchSizes.mkString(",")}")
    assert(batchSizes.count(_ > 0) === 4,
      s"drain was not one-version bites: ${batchSizes.mkString(",")}")
  }

  test("Trigger.AvailableNow pins the drain target at start: mid-drain " +
      "commits wait for the NEXT run, exactly-once across runs") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("availnow-ckpt").toString
    SnapshotLog.commit(spark, dir, rows(0, 2))
    (1L to 2L).foreach(b =>
      SnapshotLog.commitBatch(spark, dir, rows(2 * b, 2 * b + 2), b))
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    val committedMidDrain = new java.util.concurrent.atomic.AtomicBoolean
    def run(onBatch: () => Unit) = {
      val q = spark.readStream.format(Fmt).option("path", dir)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized { out ++= df.select("k").as[Long].collect() }
          onBatch()
          ()
        }.start()
      try assert(q.awaitTermination(120000L),
        "AvailableNow query did not terminate on its own")
      finally q.stop()
    }
    // first run: v4 lands DURING the drain (from the first batch's own
    // callback) — the pinned target must exclude it
    run { () =>
      if (committedMidDrain.compareAndSet(false, true))
        SnapshotLog.commitBatch(spark, dir, rows(100, 102), 3L)
    }
    assert(out.sorted === (0L until 6L),
      s"mid-drain commit leaked into the pinned run: ${out.sorted.mkString(",")}")
    // second scheduled run: exactly the held-back version, nothing twice
    run(() => ())
    assert(out.sorted === ((0L until 6L) ++ Seq(100L, 101L)),
      s"exactly-once broke across runs: ${out.sorted.mkString(",")}")
  }

  test("maxBytesPerTrigger bounds catch-up batches by NEW bytes; a fat " +
      "version is admitted alone, exactly-once intact") {
    val dir = freshDir()
    import spark.implicits._
    // v1 small (2 rows), v2 FAT (5000 rows of padded strings), v3 small
    SnapshotLog.commit(spark, dir, rows(0, 2))
    SnapshotLog.commitBatch(spark, dir,
      (100L until 5100L).map(i => (i, s"pad-$i-" * 50)).toDF("k", "v"), 1L)
    SnapshotLog.commitBatch(spark, dir, rows(2, 4), 2L)
    // tiny budget: every trigger crosses it on its FIRST version, so the
    // catch-up splits one version per batch — the fat one rides alone
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxBytesPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val sizes = batchSizes.filter(_ > 0)
    assert(batchSizes.sum === 5004,
      s"rows lost/duplicated: ${batchSizes.mkString(",")}")
    // the INITIAL snapshot (v1) drains at file grain under the budget
    // (possibly several 1-file bites); every later version stays
    // version-grain — the fat v2 rides alone, then v3
    assert(sizes.toSeq.takeRight(2) === Seq(5000L, 2L) &&
      sizes.toSeq.dropRight(2).sum === 2L,
      s"1-byte budget must split the snapshot by file, then one " +
        s"version per trigger: ${batchSizes.mkString(",")}")
    // a budget bigger than v1+v2's bytes but smaller than +v3: the
    // first trigger carries v1 and v2 (the crossing version rides),
    // then v3 follows — still exactly-once
    val batchSizes2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = spark.readStream.format(Fmt).option("path", dir)
      .option("maxBytesPerTrigger", (20 * 1024).toString).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes2.synchronized { batchSizes2 += df.count() }
        ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batchSizes2.sum === 5004,
      s"rows lost/duplicated: ${batchSizes2.mkString(",")}")
    assert(batchSizes2.filter(_ > 0).head === 5002,
      "the byte budget must admit versions until crossed (v1+v2 " +
        s"together), got ${batchSizes2.mkString(",")}")
  }

  test("maxBytesPerTrigger admission survives a vacuumed catch-up range: " +
      "the GUIDED replay-gap error, not a raw manifest-open failure") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 2))
    (1L to 3L).foreach(b =>
      SnapshotLog.commitBatch(spark, dir, rows(2 * b, 2 * b + 2), b))
    SnapshotLog.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    // checkpoint-free restart from v1 (vacuumed) with the byte budget:
    // the admission walk must not die opening a missing manifest
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("startingVersion", "1")
      .option("maxBytesPerTrigger", "1").load()
      .writeStream.format("memory").queryName("vac_bytes")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("vacb").toString)
      .start()
    val e = try intercept[Exception] { q.processAllAvailable() }
      finally q.stop() // never leak the stream, even on assertion failure
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val chain = causes(e)
    val all = chain.flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(all.contains("vacuumed") || all.contains("gone"),
      s"expected the guided replay-gap error, got: $all")
    // the regression shape was a raw manifest-open failure — check the
    // exception CLASSES, not messages (FNF messages never name the class)
    assert(!chain.exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"raw manifest-open failure leaked: ${chain.map(_.getClass.getName)}")
  }

  test("composition: the source feeds streaming curation into a replica snapshot table") {
    // snapshot table -> SnapshotStreamSource -> quality gate ->
    // foreachBatch append into a SECOND snapshot table: streaming
    // re-curation of a published corpus with no Kafka, no feed dir —
    // and the replica advances atomically with the source's commits
    val src = freshDir()
    val dst = freshDir()
    def docs(a: Long, b: Long) = (a until b)
      .map(i => (i, ("tok" + i + " ") * (if (i % 3 == 0) 2 else 30), "en"))
      .toDF("doc_id", "text", "lang")
    SnapshotLog.commit(spark, src, docs(0, 6))
    val gated = graft.streaming.CurateStream.qualityGate(
      spark.readStream.format(Fmt).option("path", src).load(),
      graft.streaming.CurateStream.Config(idCol = "doc_id",
        textCol = "text", minTok = 10, maxTok = 1000, minTtr = 0.0))
    val q = gated.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("snapcur-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        SnapshotLog.commitBatch(spark, dst,
          df.select("doc_id", "text", "lang"), bid)
        ()
      }.start()
    try {
      q.processAllAvailable()
      SnapshotLog.commitBatch(spark, src, docs(6, 10), batchId = 1L)
      q.processAllAvailable()
    } finally q.stop()
    val kept = SnapshotLog.read(spark, dst).select("doc_id").as[Long]
      .collect().sorted
    // short docs (doc_id % 3 == 0) fail the 10-token floor
    assert(kept === (0L until 10L).filterNot(_ % 3 == 0).toArray)
  }

  test("column pruning pushes to the parquet projection (select k only)") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 5))
    val q = spark.readStream.format("graft-snapshot").option("path", dir)
      .load().select("k") // prune v away
      .writeStream.format("memory").queryName("snap_pruned")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_pruned").columns.toSeq === Seq("k"))
      assert(spark.table("snap_pruned").as[Long].collect().sorted ===
        (0L until 5L).toArray)
    } finally q.stop()
    // projecting ONLY a partition column still counts rows correctly
    // (the reader keeps one file anchor field to drive the row count)
    val pdir = freshDir()
    SnapshotLog.commitPartitioned(spark, pdir,
      Seq((1L, "eu"), (2L, "us"), (3L, "eu")).toDF("k", "region"),
      Seq("region"))
    val q2 = spark.readStream.format("graft-snapshot").option("path", pdir)
      .load().select("region")
      .writeStream.format("memory").queryName("snap_pruned_part")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("snap_pruned_part").as[String].collect().sorted
        === Array("eu", "eu", "us"))
    } finally q2.stop()
  }

  test("volume: 100k-row multi-file snapshots stream exactly, batch boundaries = versions") {
    // the sf0.1 events table (100k rows) through the source in three
    // committed generations — multi-file versions, real shuffle-written
    // layouts, exact row conservation and no cross-version bleed
    val dir = freshDir()
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
    SnapshotLog.commit(spark, dir,
      ev.filter(col("event_id") % 3 === 0).repartition(4))
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graft-snapshot").option("path", dir)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.synchronized { counts += df.count() }
        ()
      }.start()
    try {
      q.processAllAvailable()
      SnapshotLog.commitBatch(spark, dir,
        ev.filter(col("event_id") % 3 === 1).repartition(4), batchId = 1L)
      q.processAllAvailable()
      SnapshotLog.commitBatch(spark, dir,
        ev.filter(col("event_id") % 3 === 2).repartition(4), batchId = 2L)
      q.processAllAvailable()
    } finally q.stop()
    assert(counts.filter(_ > 0).size === 3,
      s"expected 3 non-empty version batches: ${counts.mkString(",")}")
    assert(counts.sum === ev.count(),
      s"row conservation broke: ${counts.sum} vs ${ev.count()}")
  }

  test("the short format name resolves through DataSourceRegister") {
    val dir = freshDir()
    SnapshotLog.commit(spark, dir, rows(0, 3))
    val q = spark.readStream.format("graft-snapshot").option("path", dir)
      .load()
      .writeStream.format("memory").queryName("snap_short")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_short").count() === 3)
    } finally q.stop()
  }

  test("timestamps and dates round-trip through the executor-side decoder") {
    val dir = freshDir()
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")),
      (2L, java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999")))
      .toDF("k", "d", "ts")
    SnapshotLog.commit(spark, dir, df)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("snap_temporal")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snap_temporal")
        .orderBy("k").collect().map(_.toSeq)
      assert(got === df.orderBy("k").collect().map(_.toSeq))
    } finally q.stop()
  }
}
