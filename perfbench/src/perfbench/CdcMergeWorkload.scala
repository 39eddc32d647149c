package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pipeline, PipelineConfig}
import graft.streaming.CdcStream

/** The paper's pipeline: full extracts merged into the previous snapshot
  * by `Pipeline.run` (bucketed state, snapshot-log commits), batch 0 being
  * the bootstrap load. */
object CdcMergeWorkload extends Workload {
  val name = "cdc_merge"
  val primaryOp = "batch"

  /** lineitem rows per extract (6,000,000 · sf). */
  val Rows = 60000L
  val KeyCols = Seq("l_orderkey", "l_linenumber", "l_dup")

  /** lineitem plus `l_dup`, the row's ordinal among rows sharing
    * (l_orderkey, l_linenumber) in a total order over all columns: the
    * generated (l_orderkey, l_linenumber) repeats, and a CDC key must be
    * unique. */
  def base(spark: SparkSession, seed: Long): DataFrame = {
    val li = Gen.lineitem(spark, seed, Rows, Rows / 4, Rows / 30, Rows / 600)
    val order = li.columns.filterNot(c => c == "l_orderkey" || c == "l_linenumber")
      .toIndexedSeq.map(col)
    li.withColumn("l_dup", (row_number().over(Window
      .partitionBy("l_orderkey", "l_linenumber").orderBy(order: _*)) - 1).cast("int"))
  }

  /** Extract for batch `b`: with h = pmod(xxhash64(key, seed, b), 1000),
    * h < 10 deletes the row and re-inserts it under l_orderkey + 10^8·b,
    * 10 ≤ h < 30 updates l_quantity by +b, the rest is unchanged. Batch 0
    * is the base itself. */
  def extract(base: DataFrame, seed: Long, b: Long): DataFrame = {
    val h = pmod(xxhash64((KeyCols.map(col) :+ lit(seed) :+ lit(b)): _*), lit(1000L))
    base.withColumn("_h", h)
      .withColumn("l_orderkey", when(col("_h") < 10,
        col("l_orderkey") + lit(100000000L * b)).otherwise(col("l_orderkey")))
      .withColumn("l_quantity", when(col("_h") >= 10 && col("_h") < 30,
        col("l_quantity") + lit(b.toDouble)).otherwise(col("l_quantity")))
      .drop("_h")
  }

  private var dir = ""
  private var baseDf: DataFrame = _
  private var extractBytes = Seq.empty[Long]
  private var rowsMerged = 0L
  private var stateRows = 0L

  private def writeExtract(seed: Long, b: Long): String = {
    val p = s"$dir/extracts/b$b"
    extract(baseDf, seed, b).write.mode("overwrite").parquet(p)
    p
  }

  private def config(src: String): PipelineConfig = {
    val schema = baseDf.schema
    PipelineConfig(sourcePath = src, format = "parquet", schema = schema,
      keyCols = KeyCols, valueCols = schema.fieldNames.toSeq.diff(KeyCols),
      stateDir = s"$dir/state", logDir = Some(s"$dir/log"))
  }

  def generate(h: Harness, seed: Long, into: String): Unit = {
    dir = into
    stateRows = 0L
    if (baseDf != null) baseDf.unpersist()
    baseDf = base(h.spark, seed).cache()
    baseDf.count()
    writeExtract(seed, 0)
  }

  /** The bootstrap load and the first incremental batch. */
  def warmUp(h: Harness, seed: Long): Unit = {
    batch(h, seed, 0, "bootstrap")
    batch(h, seed, 1, "warmup")
  }

  /** One merge with its conservation checks: I+U+N = extract rows and
    * U+N+D = rows of the state it merged into. */
  private def batch(h: Harness, seed: Long, b: Long, kind: String): Unit = {
    val src = writeExtract(seed, b)
    extractBytes :+= Files.sizeOf(new java.io.File(src))
    h.op(kind)(Pipeline.run(h.spark, config(src), b)).foreach { c =>
      def n(op: String) = c.getOrElse(op, 0L)
      h.check(n("I") + n("U") + n("N") == Rows,
        s"batch $b: I+U+N=${n("I") + n("U") + n("N")} != extract rows $Rows")
      h.check(n("U") + n("N") + n("D") == stateRows,
        s"batch $b: U+N+D=${n("U") + n("N") + n("D")} != state rows $stateRows")
      stateRows = n("I") + n("U") + n("N")
      if (kind == primaryOp) rowsMerged += Rows
    }
  }

  def measure(h: Harness, seed: Long): Unit = {
    var b = 2L
    while (h.windowOpen || b < 5) {
      batch(h, seed, b, primaryOp)
      b += 1
      if (b == 5) h.endHeapSampling()
    }
    h.op("final_check") {
      val state = CdcStream.currentState(h.spark, s"$dir/state")
        .getOrElse(sys.error("no committed state"))
      val cols = baseDf.columns.toIndexedSeq.map(col)
      val got = Fingerprint.of(state.select(cols: _*))
      val want = Fingerprint.of(h.spark.read.parquet(s"$dir/extracts/b${b - 1}")
        .select(cols: _*))
      h.check(got == want, s"state after batch ${b - 1} $got != last extract $want")
    }
  }

  def endToEnd(h: Harness): Map[String, Double] = {
    val steady = h.timesOf(primaryOp)
    Map("op_p50_s" -> Stats.median(steady),
      "rows_per_s" -> rowsMerged / steady.sum)
  }

  def detail(h: Harness): Map[String, Any] = Map(
    "cdc.batch_p50_s" -> Stats.median(h.timesOf(primaryOp)),
    "cdc.rows_per_s" -> rowsMerged / h.timesOf(primaryOp).sum,
    "cdc.initial_load_s" -> h.timesOf("bootstrap").headOption.getOrElse(Double.NaN),
    "cdc.batches" -> h.timesOf(primaryOp).size,
    "cdc.extract_rows" -> Rows)

  /** Task seconds of the jobs whose first engine frame is `method` in
    * `file` (median over steady batches). */
  private def site(tr: Seq[OpTrace], file: String, method: String): Double =
    Stats.median(tr.map(_.bySite.collect {
      case ((_, s), v) if s.startsWith(file + ":") && s.endsWith(" " + method) => v }.sum))

  def layers(h: Harness): Map[String, (Double, Int)] = {
    val tr = h.tracesOf(primaryOp).map(_._2)
    Map[String, Double](
      // the collect of per-op counts, which materializes read, align,
      // hash and the classify join together
      "cdc.classify_s" -> site(tr, "CdcStream.scala", "mergeBatch"),
      "cdc.state_write_s" -> site(tr, "CdcBucketed.scala", "writeState"),
      "cdc.feed_write_s" -> site(tr, "CdcStream.scala", "persistFeedPartitioned"),
      // commitStateToLog runs after the batch's last job: driver time
      "cdc.log_commit_s" -> Stats.median(tr.map(_.tailGapS)),
      "cdc.write_amp" -> Stats.median(tr.map(_.writtenMb)) * 1e6 /
        Stats.median(extractBytes.map(_.toDouble))).map { case (k, v) => k -> (v, tr.size) }
  }
}
