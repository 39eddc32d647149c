package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One closed-loop workload: inputs, warm-up, the measured loop with its
  * checks, and what it reports. */
trait Workload {
  def name: String
  /** The op kind whose latency is `op_p50_s`. */
  def primaryOp: String
  def generate(h: Harness, seed: Long, into: String): Unit
  def warmUp(h: Harness, seed: Long): Unit
  def measure(h: Harness, seed: Long): Unit
  /** `op_p50_s` and `rows_per_s`. */
  def endToEnd(h: Harness): Map[String, Double]
  /** The workload's own figures, reported beside the result line. */
  def detail(h: Harness): Map[String, Any]
  /** The workload's own per-layer figures (traced runs), each with the
    * number of samples behind it. */
  def layers(h: Harness): Map[String, (Double, Int)]
  /** Per-op traces the common per-layer metrics are medians over. */
  def opTraces(h: Harness): Seq[(Double, OpTrace)] =
    h.tracesOf(primaryOp).map { case (o, t) => (o.seconds, t) }
}

/** Runs one workload in this JVM and prints a detail line and, last, the
  * result line (prefixed `PERFBENCH_RESULT `).
  *
  * {{{
  * perfbench.Main --workload cdc_merge --seed 1 --seconds 20 --trace 0
  *   --root <fresh temp dir> [--expected ops_mix_expected.tsv]
  *   [--record <tsv to write>]
  * }}} */
object Main {
  val Workloads: Map[String, Workload] = Seq(CdcMergeWorkload,
    SnapshotServeWorkload, OpsMixWorkload).map(w => w.name -> w).toMap

  /** Setup repetitions; `setup_s` takes the median of their input
    * generation times. */
  val SetupReps = 3

  val EndToEndUnits = Seq("setup_s" -> "s", "op_p50_s" -> "s",
    "rows_per_s" -> "rows/s", "live_heap_mb" -> "MB")
  val LayerUnits = Seq("jobs" -> "count", "stages" -> "count", "task_s" -> "s",
    "shuffle_mb" -> "MB", "written_mb" -> "MB", "driver_gap_s" -> "s",
    "plan_s" -> "s", "cpu_util" -> "fraction", "host.sched_canary_s" -> "s",
    "host.scan_canary_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: String, expected: Option[String], record: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), m.get("expected"), m.get("record"))
  }

  /** The engine's session defaults, with every file under `root`. Spark's
    * in-memory status store is capped to a few jobs and executions, so the
    * heap it retains does not grow with the number of ops a run gets
    * through. */
  def session(root: String, cores: Int): SparkSession = {
    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** 20 one-row jobs: scheduler round-trip time on this host. */
  def schedCanary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    (1 to 20).foreach(_ => spark.sparkContext.parallelize(Seq(1), 1).count())
    (System.nanoTime() - t0) / 1e9
  }

  /** A fixed aggregate over a fixed parquet file: scan speed on this host. */
  def scanCanary(spark: SparkSession, path: String): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(path).agg(sum("a"), max("b")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, fp) = l.split('\t')
      q -> (n.toLong, fp)
    }.toMap finally src.close()
  }

  /** The gated per-layer metrics (medians over the workload's op traces)
    * and the traced detail: the workload's own layers with sample counts,
    * task time per module and per call site, GC and the canaries. */
  def traced(w: Workload, h: Harness, cores: Int,
             canaries: Seq[(Double, Double)]): (Map[String, Double], Map[String, Any]) = {
    val per = w.opTraces(h)
    def med(f: OpTrace => Double) = Stats.median(per.map(p => f(p._2)))
    val layer = Map(
      "jobs" -> med(_.jobs.toDouble), "stages" -> med(_.stages.toDouble),
      "task_s" -> med(_.taskS), "shuffle_mb" -> med(_.shuffleMb),
      "written_mb" -> med(_.writtenMb), "driver_gap_s" -> med(_.driverGapS),
      "plan_s" -> med(_.planS),
      "cpu_util" -> Stats.median(per.map { case (s, t) => t.taskS / (s * cores) }),
      "host.sched_canary_s" -> Stats.mean(canaries.map(_._1)),
      "host.scan_canary_s" -> Stats.mean(canaries.map(_._2)))
    val sites = per.flatMap(_._2.bySite.toSeq)
    def perOp(xs: Seq[((String, String), Double)]) = xs.map(_._2).sum / per.size.max(1)
    val modules = sites.groupBy(_._1._1).map { case (m, xs) => s"mod.$m.task_s" -> perOp(xs) }
    val heaviest = sites.groupBy(_._1).toSeq
      .map { case ((m, site), xs) => s"site.$m.$site.task_s" -> perOp(xs) }
      .sortBy(-_._2).take(12)
    val detail = w.layers(h).map { case (k, (v, n)) => k -> Map("value" -> v, "samples" -> n) } ++
      modules ++ heaviest ++ Map("gc_s" -> med(_.gcS), "samples" -> per.size,
        "host.canaries" -> canaries.map(c => Seq(c._1, c._2)))
    (layer, detail)
  }

  /** Records the ops_mix query fingerprints this run computed. */
  def writeExpected(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println(s"# query\trows\tfingerprint  (ops_mix, sf ${OpsMixWorkload.Sf}, " +
        s"data seed ${OpsMixWorkload.DataSeed})")
      OpsMixWorkload.Queries.flatMap(q => OpsMixWorkload.recorded.get(q).map(q -> _))
        .foreach { case (q, (n, fp)) => out.println(s"$q\t$n\t$fp") }
    } finally out.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    a.expected.foreach(p => OpsMixWorkload.expected = readExpected(p))
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.root, cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = if (a.trace) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val h = new Harness(spark, a.seconds, trace)

    val canaryData = s"${a.root}/canary.parquet"
    val canaries = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    if (a.trace) {
      spark.range(2000000L).selectExpr("id % 1000 AS a", "id AS b")
        .write.parquet(canaryData)
      canaries += (schedCanary(spark) -> scanCanary(spark, canaryData))
    }

    val genS = (1 to SetupReps).map(i =>
      h.clock(w.generate(h, a.seed, s"${a.root}/data$i"))._2)
    val warmS = h.clock(w.warmUp(h, a.seed))._2
    val setupS = sessionS + Stats.median(genS) + warmS

    h.startWindow()
    w.measure(h, a.seed)
    val measuredS = h.elapsed
    if (a.trace) canaries += (schedCanary(spark) -> scanCanary(spark, canaryData))
    trace.foreach(_.drain())

    val e2e = w.endToEnd(h) ++ Map("setup_s" -> setupS, "live_heap_mb" -> Stats.median(h.heapMb))
    var detail: Map[String, Any] = w.detail(h) ++ Map(
      "session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS,
      "measured_s" -> measuredS, "cores" -> cores, "heap_samples_mb" -> h.heapMb,
      "op_times_s" -> h.ops.map(o => s"${o.kind}:${"%.3f".format(o.seconds)}").toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEndUnits.map { case (k, u) => (k, e2e(k), u) }
      else {
        val (layer, more) = traced(w, h, cores, canaries.toSeq)
        detail ++= more ++ e2e.map { case (k, v) => s"traced.$k" -> v }
        LayerUnits.map { case (k, u) => (k, layer(k), u) }
      }
    a.record.foreach(writeExpected)

    println(Json(Map("workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace,
      "detail" -> ListMap(detail.toSeq.sortBy(_._1): _*), "failures" -> h.failures.toSeq)))
    println("PERFBENCH_RESULT " + Json(ListMap(
      "correct" -> (h.failed == 0), "attempted" -> h.attempted, "failed" -> h.failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    spark.stop()
  }
}
