package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotLog

/** Local filesystem that counts manifest opens (per path) and listings of
  * a snapshot log's `_log` directory. Hadoop instantiates it by class
  * name, so the counters live in the companion. */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (CountingLocalFs.ManifestName.matches(f.getName))
      CountingLocalFs.opens.computeIfAbsent(f.toUri.getPath,
        _ => new AtomicInteger()).incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_log") CountingLocalFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFs {
  val ManifestName = """v\d+\.manifest""".r
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  val listings = new AtomicInteger()
}

/** Each snapshot verb reads the manifest it builds on once: the counts of
  * manifest opens and `_log` listings per call are pinned, and a merge's
  * counts do not grow with retained history. */
class ManifestReadSpec extends AnyFunSuite with SparkFixture
    with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CountingLocalFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
  }

  override def afterAll(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.unset("fs.file.impl")
    hc.unset("fs.file.impl.disable.cache")
    super.afterAll()
  }

  /** Manifest opens by file name, and `_log` listings, made by `body`. */
  private def counted(body: => Any): (Map[String, Int], Int) = {
    CountingLocalFs.opens.clear()
    CountingLocalFs.listings.set(0)
    body
    import scala.jdk.CollectionConverters._
    (CountingLocalFs.opens.asScala.toMap.map { case (p, n) =>
      new Path(p).getName -> n.get }, CountingLocalFs.listings.get)
  }

  private def opens(c: (Map[String, Int], Int)): Int = c._1.values.sum

  /** A 2000-row change-feed table (v1 data, v2 the property), like the
    * benchmark's snapshot table. */
  private def table(): String = {
    val dir = java.nio.file.Files.createTempDirectory("manifest-read")
      .toString + "/t"
    SnapshotLog.commit(spark, dir, spark.range(0, 2000).select(
      col("id").as("k"), (col("id") % 13).as("v")).repartition(4))
    SnapshotLog.setTableProperties(spark, dir,
      Map(SnapshotLog.ChangeFeedProperty -> "true"))
    dir
  }

  /** Batch `b`: updates 5 keys and deletes one. */
  private def mergeBatch(dir: String, b: Long): Long = {
    import spark.implicits._
    val ch = (0 until 6).map(i => (b * 7 + i * 97, b, if (i == 5) "D" else "U"))
      .toDF("k", "v", "op")
    SnapshotLog.mergeBatch(spark, dir, ch, Seq("k"), b,
      deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
  }

  test("mergeBatch reads one manifest and lists the log 3 times, at any history length") {
    val dir = table()
    val v3 = counted(assert(mergeBatch(dir, 1L) === 3L))
    (2L to 11L).foreach(mergeBatch(dir, _))
    val v14 = counted(assert(mergeBatch(dir, 12L) === 14L))
    assert(opens(v3) <= 2 && v3._2 <= 3, s"merge at v3: $v3")
    assert((opens(v14), v14._2) === (opens(v3), v3._2),
      s"merge at v14 $v14 vs at v3 $v3")
    // a replayed batch is a no-op decided from the same single read
    val replay = counted(assert(mergeBatch(dir, 12L) === 14L))
    assert(opens(replay) === 1 && replay._2 === 1, s"replay: $replay")
  }

  test("read, changesBetween, lastBatch and history read each manifest once") {
    val dir = table()
    (1L to 3L).foreach(mergeBatch(dir, _))
    val latest = counted(SnapshotLog.read(spark, dir).collect())
    assert(latest._1 === Map("v5.manifest" -> 1) && latest._2 === 1)
    val asOf = counted(SnapshotLog.read(spark, dir, Some(2L)).collect())
    assert(asOf._1 === Map("v2.manifest" -> 1) && asOf._2 === 1)
    val changes = counted(SnapshotLog.changesBetween(spark, dir, 4L, 5L)
      .select("k").distinct().collect())
    assert(opens(changes) <= 2, s"changesBetween: $changes")
    val mark = counted(assert(SnapshotLog.lastBatch(spark, dir) === Some(3L)))
    assert(mark._1 === Map("v5.manifest" -> 1), s"lastBatch: $mark")
    val history = counted(SnapshotLog.history(spark, dir).collect())
    assert(history._1 === (1 to 5).map(v => s"v$v.manifest" -> 1).toMap,
      s"history: $history")
  }

  test("an AvailableNow change-feed catch-up reads each version's manifest at most twice") {
    val dir = table()
    (1L to 12L).foreach(mergeBatch(dir, _)) // v3..v14
    val ckpt = java.nio.file.Files.createTempDirectory("catchup").toString
    val catchUp = counted {
      val q = spark.readStream.format("graft-snapshot").option("path", dir)
        .option("readChangeFeed", "true").option("startingVersion", "1")
        .load().writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    assert(catchUp._1.keySet === (1 to 14).map(v => s"v$v.manifest").toSet,
      s"catch-up: $catchUp")
    assert(catchUp._1.values.forall(_ <= 2), s"catch-up: $catchUp")
  }
}
