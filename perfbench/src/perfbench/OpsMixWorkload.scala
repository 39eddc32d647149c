package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** The operator surface, fully materialized, in a fixed cycle of
  * members: registered queries (`SparkEntry.queries`) driven to a `noop`
  * write, and the snapshot log's serving ops ([[SnapshotServing]]): a
  * sparse `SnapshotLog.mergeBatch`, a reader round, and a change-feed
  * catch-up stream over the whole history. One op is one member; a query
  * op is building its DataFrame (eager snapshot verbs, iterative loops)
  * plus executing it. Each query's row count and content fingerprint are
  * checked once per run against the values recorded with the benchmark. */
object OpsMixWorkload extends Workload {
  val name = "ops_mix"
  val primaryOp = "member"

  /** Driver-bound: many jobs, or most of the wall spent building the
    * DataFrame. */
  val DriverBound = Seq("q_dedup_components", "q_sim_ivf")
  /** Executor-bound: few jobs, the wall spent in tasks. */
  val ExecutorBound = Seq("q_try_arith", "q_agg_group", "q_dedup_image")
  val Queries: Seq[String] = DriverBound ++ ExecutorBound
  val SnapshotMembers = Seq("snap.merge", "snap.read_round", "snap.catchup")
  val Members: Seq[String] = Queries ++ SnapshotMembers

  /** Scale factor of the generated tables, and the fixed data seed the
    * recorded fingerprints belong to; the snapshot table's rows. */
  val Sf = 0.01
  val DataSeed = 42L
  val SnapshotRows = 50000L

  private var dir = ""
  private var snap: SnapshotServing = _
  private val buildS = mutable.Map[String, Seq[Double]]()
  private val times = mutable.Map[String, Seq[Double]]()
  private val opIndex = mutable.Map[String, Seq[Int]]()
  var expected: Map[String, (Long, String)] = Map.empty
  var recorded: Map[String, (Long, String)] = Map.empty

  def generate(h: Harness, seed: Long, into: String): Unit = {
    dir = into
    Gen.tables(h.spark, DataSeed, Sf, dir)
    if (snap != null) snap.base.unpersist()
    snap = new SnapshotServing(h.spark, seed, SnapshotRows, s"$dir/snapshot")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def warmUp(h: Harness, seed: Long): Unit = Members.foreach(m => run(h, m, warm = true))

  private def run(h: Harness, m: String, warm: Boolean): Unit = {
    val kind = if (warm) "warmup" else primaryOp
    val before = h.ops.size
    var df: DataFrame = null
    m match {
      case "snap.merge" => snap.merge(h, kind)
      case "snap.read_round" => snap.readRound(h, kind)
      case "snap.catchup" => snap.catchUp(h, kind)
      case q => h.op(kind) {
        val (d, bs) = h.clock(SparkEntry.queries(q)(h.spark, dir))
        if (!warm) buildS(q) = buildS.getOrElse(q, Nil) :+ bs
        df = d
        noop(df)
      }
    }
    val i = h.ops.indexWhere(_.kind == kind, before)
    if (!warm && i >= 0 && h.ops(i).ok) {
      times(m) = times.getOrElse(m, Nil) :+ h.ops(i).seconds
      opIndex(m) = opIndex.getOrElse(m, Nil) :+ i
      if (df != null && !recorded.contains(m)) {
        val fp = Fingerprint.of(df)
        recorded += m -> fp
        expected.get(m) match {
          case Some(want) => h.check(fp == want, s"$m fingerprint $fp != recorded $want")
          case None => h.check(false, s"$m has no recorded fingerprint")
        }
      }
    }
  }

  def measure(h: Harness, seed: Long): Unit = {
    var i = 0
    while (h.windowOpen || i < Members.size) {
      run(h, Members(i % Members.size), warm = false)
      i += 1
      if (i == Members.size) h.endHeapSampling()
    }
    snap.finalCheck(h)
  }

  private def p50(qs: Seq[String]): Double =
    qs.map(q => Stats.median(times.getOrElse(q, Nil))).sum

  def endToEnd(h: Harness): Map[String, Double] = Map(
    "op_p50_s" -> p50(Members),
    "rows_per_s" -> snap.catchUpRate)

  def detail(h: Harness): Map[String, Any] = snap.detail ++ Map(
    "ops.total_s" -> p50(Members),
    "ops.queries_s" -> p50(Queries),
    "ops.driver_bound_s" -> p50(DriverBound),
    "ops.executor_bound_s" -> p50(ExecutorBound),
    "snap.merge_p50_s" -> p50(Seq("snap.merge")),
    "snap.read_p50_s" -> p50(Seq("snap.read_round")),
    "ops.passes" -> Members.map(m => times.getOrElse(m, Nil).size).min) ++
    Members.map(m => s"ops.m.$m.s" -> p50(Seq(m)))

  /** Per-layer figures per member: the median run (by task time). */
  private def memberTraces(h: Harness): Map[String, OpTrace] = h.trace.map { t =>
    Members.flatMap { m =>
      val trs = opIndex.getOrElse(m, Nil).map(h.ops).map(o => t.forWindow(o.startMs, o.endMs))
      trs.sortBy(_.taskS).lift(trs.size / 2).map(m -> _)
    }.toMap
  }.getOrElse(Map.empty)

  /** One pass: the member traces summed. */
  override def opTraces(h: Harness): Seq[(Double, OpTrace)] =
    memberTraces(h).values.reduceOption(_ + _).map(p50(Members) -> _).toSeq

  def layers(h: Harness): Map[String, (Double, Int)] = {
    val per = memberTraces(h)
    val merges = opIndex.getOrElse("snap.merge", Nil).flatMap(i =>
      h.trace.map(_.forWindow(h.ops(i).startMs, h.ops(i).endMs)))
    val build = Queries.map(q => Stats.median(buildS.getOrElse(q, Nil))).sum
    val n = Queries.map(q => buildS.getOrElse(q, Nil).size).min
    snap.layers(merges) ++ Map(
      "ops.build_s" -> (build, n),
      "ops.exec_s" -> (p50(Queries) - build, n),
      "ops.plan_s" -> (Queries.flatMap(per.get).map(_.planS).sum, n)) ++
      per.flatMap { case (m, t) =>
        val n = times.getOrElse(m, Nil).size
        Seq(s"ops.m.$m.jobs" -> (t.jobs.toDouble, n), s"ops.m.$m.task_s" -> (t.taskS, n))
      }
  }
}
