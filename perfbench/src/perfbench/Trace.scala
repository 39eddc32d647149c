package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Which repo module a call-site frame belongs to. A frame is one line of
  * a Spark call site, e.g.
  * `graft.streaming.CdcStream$.mergeBatch(CdcStream.scala:183)`. */
object Modules {
  private val Frame = """\s*(?:at\s+)?([\w$.]+)\(([^:()]+)(?::(\d+))?\).*""".r

  private val Method = """(?:\$anonfun\$)?([A-Za-z_]\w*).*""".r

  /** (module, "File.scala:line method") of the first `graft.` frame, if
    * any; `method` drops Scala's `$anonfun$`/`$N` decorations. */
  def attribute(callSite: String): Option[(String, String)] =
    callSite.split('\n').iterator.collectFirst {
      case Frame(method, file, line) if method.startsWith("graft.") =>
        val name = method.split('.').last match {
          case Method(m) => m
          case other => other
        }
        (moduleOf(method, file), s"$file:${Option(line).getOrElse("?")} $name")
    }

  def moduleOf(method: String, file: String): String = {
    val pkg = method.split('.').takeWhile(s => s.nonEmpty && s.head.isLower)
      .mkString(".")
    if (file == "SnapshotStreamSource.scala") "SnapshotStreamSource"
    else if (pkg.startsWith("graft.sources") && file.startsWith("Snapshot"))
      "graft.sources.snapshot"
    else pkg.split('.').take(2).mkString(".")
  }
}

final case class JobRec(id: Int, startMs: Long, endMs: Long,
    execId: Option[Long], stageIds: Seq[Int], callSite: String)
final case class StageRec(id: Int, runMs: Long, gcMs: Long,
    shuffleWrite: Long, written: Long, writtenRows: Long)
final case class ExecRec(id: Long, root: Long, startMs: Long, details: String)
final case class PlanRec(execId: Long, planMs: Long)

/** Per-op figures attributed from listener events. */
final case class OpTrace(jobs: Int, stages: Int, taskS: Double,
    shuffleMb: Double, writtenMb: Double, writtenRows: Long, gcS: Double,
    driverGapS: Double,
    planS: Double, tailGapS: Double, bySite: Map[(String, String), Double]) {
  def +(o: OpTrace): OpTrace = OpTrace(jobs + o.jobs, stages + o.stages,
    taskS + o.taskS, shuffleMb + o.shuffleMb, writtenMb + o.writtenMb,
    writtenRows + o.writtenRows, gcS + o.gcS, driverGapS + o.driverGapS,
    planS + o.planS, tailGapS + o.tailGapS,
    (bySite.keySet ++ o.bySite.keySet).map(k =>
      k -> (bySite.getOrElse(k, 0.0) + o.bySite.getOrElse(k, 0.0))).toMap)
}

/** Listener-bus trace of one run: a SparkListener (jobs, stages, task
  * metrics, SQL execution call sites) and a QueryExecutionListener
  * (planning phases). Events are attributed to ops afterwards, by time
  * window and execution id, so the listeners only record. Streaming
  * progress needs no listener: each stream's `recentProgress` holds the
  * same `StreamingQueryProgress` records, and untraced runs read it too. */
final class Trace(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val exec = prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).flatMap(_.toLongOption)
      val site = e.stageInfos.sortBy(_.stageId).headOption
        .map(_.details).getOrElse("")
      jobs.add(JobRec(e.jobId, e.time, -1L, exec, e.stageIds, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.add(StageRec(e.stageInfo.stageId,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.add(ExecRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time, s.details))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      plans.add(PlanRec(qe.id, ms))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every posted event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Attribute the events inside [startMs, endMs] to one op. */
  def forWindow(startMs: Long, endMs: Long): OpTrace = {
    val js = jobs.asScala.toSeq.filter(j => j.startMs >= startMs && j.startMs <= endMs)
      .map(j => j.copy(endMs = Option(jobEnds.get(j.id)).map(_.longValue)
        .getOrElse(endMs)))
    val stageById = stages.asScala.toSeq.groupBy(_.id)
    val execById = execs.asScala.toSeq.map(e => e.id -> e).toMap
    val siteOfJob: JobRec => (String, String) = j => {
      val fromExec = j.execId.flatMap(execById.get)
        .flatMap(e => execById.get(e.root).orElse(Some(e)))
        .flatMap(e => Modules.attribute(e.details))
      // no engine frame: the benchmark itself ran the action, e.g. the
      // noop write that materializes a registered query's DataFrame
      fromExec.orElse(Modules.attribute(j.callSite)).getOrElse(
        if (j.execId.isEmpty) ("(no execution)", "-") else ("(materialize)", "-"))
    }
    val jobStages = js.map(j => j -> j.stageIds.flatMap(s => stageById.getOrElse(s, Nil)))
    val all = jobStages.flatMap(_._2)
    val busy = Stats.unionLength(js.map(j => (math.max(j.startMs, startMs),
      math.min(j.endMs, endMs))))
    val execIds = execs.asScala.filter(e => e.startMs >= startMs &&
      e.startMs <= endMs).map(_.id).toSet
    val planMs = plans.asScala.filter(p => execIds.contains(p.execId))
      .map(_.planMs).sum
    val bySite = jobStages.groupBy(js => siteOfJob(js._1)).map { case (k, v) =>
      k -> v.flatMap(_._2).map(_.runMs).sum / 1000.0 }
    OpTrace(js.size, all.size, all.map(_.runMs).sum / 1000.0,
      all.map(_.shuffleWrite).sum / 1e6, all.map(_.written).sum / 1e6,
      all.map(_.writtenRows).sum,
      all.map(_.gcMs).sum / 1000.0,
      math.max(0L, endMs - startMs - busy) / 1000.0, planMs / 1000.0,
      (endMs - js.map(_.endMs).maxOption.getOrElse(startMs)).max(0L) / 1000.0,
      bySite)
  }
}
