package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.SnapshotLog

/** A `SnapshotLog` table served under sparse keyed writes: file-grain
  * merges (`SnapshotLog.mergeBatch`), reader rounds, and change-feed
  * catch-up streams (`readStream.format("graft-snapshot")`) over the whole
  * retained history. Versions are never vacuumed, so a cost that grows
  * with history shows. Every call checks its output:
  *  - a reader round's `changesBetween(v-1, v)` holds exactly the batch's keys;
  *  - a catch-up stream's rows equal the change rows recorded so far;
  *  - [[finalCheck]]: the table equals a plain-DataFrame model of the base
  *    plus the applied batches. */
final class SnapshotServing(spark: SparkSession, seed: Long, rows: Long, val dir: String) {
  import SnapshotServing._

  val table = s"$dir/table"
  val base: DataFrame = Gen.orders(spark, seed, rows, rows / 10).cache()
  base.count()
  val baseVersion: Long = SnapshotLog.commit(spark, table, base)
  /** The version that turned the change feed on. */
  val propVersion: Long = SnapshotLog.setTableProperties(spark, table,
    Map(SnapshotLog.ChangeFeedProperty -> "true"))

  private var nextBatch = 1L
  private var version = propVersion
  private var keys = Set.empty[Long]
  /** Rows a catch-up stream reads: the base version's snapshot, then 2
    * change rows per update and 1 per delete. */
  private var changeRows = rows
  val changed = mutable.ArrayBuffer[Long]()
  val readS = mutable.Map[String, Seq[Double]]()
  val metaMs = mutable.ArrayBuffer[Double]()
  val streams = mutable.ArrayBuffer[StreamRun]()

  def lastBatch: Long = nextBatch - 1

  /** Merges the next batch. */
  def merge(h: Harness, kind: String): Unit = {
    val b = nextBatch
    val ch = changes(base, seed, b).cache()
    val rowsOf = ch.select("o_orderkey", "op").collect()
    h.op(kind)(SnapshotLog.mergeBatch(spark, table, ch, Seq("o_orderkey"), b,
        deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))).foreach { v =>
      version = v
      keys = rowsOf.map(_.getLong(0)).toSet
      changed += keys.size.toLong
      changeRows += rowsOf.map(r => if (r.getString(1) == "D") 1L else 2L).sum
      nextBatch += 1
    }
    ch.unpersist(blocking = true)
  }

  /** Times a read; warm-up reads are not recorded. */
  private def timed[T](h: Harness, kind: String, k: String)(body: => T): T = {
    val (r, s) = h.clock(body)
    if (kind != "warmup") readS(k) = readS.getOrElse(k, Nil) :+ s
    r
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A latest scan, a scan as of the base version and the keys of
    * changesBetween(v-1, v), each fully materialized; then an untimed
    * sample of the metadata calls and the history view. */
  def readRound(h: Harness, kind: String): Unit = {
    val v = version
    h.op(kind) {
      timed(h, kind, "latest")(noop(SnapshotLog.read(spark, table)))
      timed(h, kind, "asof")(noop(SnapshotLog.read(spark, table, Some(propVersion))))
      timed(h, kind, "changes")(SnapshotLog.changesBetween(spark, table, v - 1, v)
        .select("o_orderkey").distinct().collect().map(_.getLong(0)).toSet)
    }.foreach { got =>
      h.check(got == keys,
        s"changesBetween(${v - 1}, $v) keys ${got.size} != batch ${lastBatch} keys ${keys.size}")
    }
    val (_, s) = h.clock {
      SnapshotLog.versions(spark, table)
      SnapshotLog.lastBatch(spark, table)
      SnapshotLog.schemaOf(spark, table, v)
    }
    if (kind != "warmup") metaMs += s * 1000
    timed(h, kind, "history")(SnapshotLog.history(spark, table).collect())
  }

  /** An AvailableNow change-feed stream over the whole history into a
    * noop sink: the base version as inserts, the property commit (no
    * rows), then every merge's recorded changes. */
  def catchUp(h: Harness, kind: String): Unit = {
    val want = changeRows
    h.op(kind) {
      val t0 = System.nanoTime()
      val q = spark.readStream.format("graft-snapshot").option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", baseVersion.toString)
        .load().writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/checkpoints/${streams.size}-${System.nanoTime()}")
        .start()
      try q.awaitTermination() finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.toSeq
      val durations = ProgressKeys.map(k => k -> prog.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum).toMap
      StreamRun(prog.map(_.numInputRows).sum, secs, durations, prog.count(_.numInputRows > 0))
    }.foreach { s =>
      streams += s
      h.check(s.rows == want, s"catch-up stream rows ${s.rows} != recorded change rows $want")
    }
  }

  def finalCheck(h: Harness): Unit = h.op("final_check") {
    val got = Fingerprint.of(SnapshotLog.read(spark, table)
      .select(base.columns.toIndexedSeq.map(col): _*))
    val want = Fingerprint.of(model(base, seed, lastBatch))
    h.check(got == want, s"table after batch $lastBatch $got != model $want")
  }

  def catchUpRate: Double = Stats.median(streams.map(s => s.rows / s.seconds).toSeq)

  def detail: Map[String, Any] = Map(
    "snap.catchup_rows_per_s" -> catchUpRate,
    "snap.versions" -> version,
    "snap.meta_ms" -> Stats.median(metaMs.toSeq),
    "snap.meta_ms_last" -> metaMs.lastOption.getOrElse(Double.NaN)) ++
    readS.map { case (k, v) => s"snap.read_${k}_p50_s" -> Stats.median(v) }

  /** Per-layer figures with their sample counts; `merges` are the traces
    * of the merge ops. */
  def layers(merges: Seq[OpTrace]): Map[String, (Double, Int)] = {
    def read(k: String) = readS.getOrElse(k, Nil)
    def med(xs: Seq[Double]) = (Stats.median(xs), xs.size)
    Map(
      "snap.meta_ms" -> med(metaMs.toSeq),
      "snap.rewrite_amp" -> med(merges.zip(changed).map { case (t, n) =>
        t.writtenRows.toDouble / n }),
      "snap.read_latest_s" -> med(read("latest")),
      "snap.read_asof_s" -> med(read("asof")),
      "snap.changes_s" -> med(read("changes")),
      "snap.history_s" -> med(read("history")),
      "snap.stream.batches" -> med(streams.map(_.batches.toDouble).toSeq)) ++
      ProgressKeys.map(k => s"snap.stream.${k}_ms" -> med(streams.map(_.durations(k)).toSeq))
  }
}

final case class StreamRun(rows: Long, seconds: Double, durations: Map[String, Double],
    batches: Int)

object SnapshotServing {
  val ProgressKeys = Seq("getBatch", "addBatch", "queryPlanning", "walCommit")

  private def h(seed: Long, b: Long): Column =
    pmod(xxhash64(col("o_orderkey"), lit(seed), lit(b)), lit(1000L))

  private def deletedBy(seed: Long, b: Long): Column =
    (1L to b).map(k => h(seed, k) < 1).foldLeft(lit(false))(_ || _)

  /** Batch b touches keys with h = pmod(xxhash64(key, seed, b), 1000) < 6
    * (0.6%) that no earlier batch deleted: h < 1 deletes the key (1/6),
    * otherwise o_totalprice becomes base + b (5/6). */
  def changes(base: DataFrame, seed: Long, b: Long): DataFrame =
    base.filter(h(seed, b) < 6 && !deletedBy(seed, b - 1))
      .withColumn("op", when(h(seed, b) < 1, "D").otherwise("U"))
      .withColumn("o_totalprice", col("o_totalprice") + lit(b.toDouble))

  /** The table after batches 1..last, computed from the base alone. */
  def model(base: DataFrame, seed: Long, last: Long): DataFrame = {
    val lastUpdate = greatest((1L to last).map(b =>
      when(h(seed, b) < 6, lit(b.toDouble))) :+ lit(null).cast("double"): _*)
    base.filter(!deletedBy(seed, last))
      .withColumn("o_totalprice", col("o_totalprice") + coalesce(lastUpdate, lit(0.0)))
  }
}
