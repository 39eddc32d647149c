package graft

import graft.cdc.{CdcConfig, CdcMerge}
import graft.sources.Sources
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference's top-level surface [upstream `cdc.py` main(config),
  * SURVEY.md §3.1]: a config-driven CDC pipeline run — read one incoming
  * extract (R1), project to the declared columns (R2), merge against the
  * previous snapshot (R3–R7), persist the new snapshot + change feed
  * (R9), and return the per-op counts (R8) the reference logs per run.
  *
  * Config is a plain case class; the reference's config.yaml shape loads
  * via [[ConfigFile.load]] (dependency-free subset parser), so a scheduled
  * deployment is `Pipeline.runAll(spark, ConfigFile.load(path), batchId)`.
  *
  * Entry shapes:
  *  - initial load: no previous snapshot → everything classifies I
  *  - incremental merge: full extract vs previous snapshot
  *  - [[runStream]]: the same merge per arriving file via foreachBatch
  */
/** Production Kafka binding for a `format: debezium` stream: when set,
  * the envelope feed reads `format("kafka")` instead of the JSON-lines
  * file stand-in. Config-dead in this sandbox (no Kafka jars — the
  * reader fails at `load()`, not at config parse), a one-line binding
  * on a real cluster with `spark-sql-kafka-0-10` on the classpath. */
final case class KafkaBinding(
    bootstrapServers: String,
    topic: String,
    startingOffsets: String = "earliest")

final case class PipelineConfig(
    sourcePath: String,
    format: String, // "csv" | "json" | "parquet"
    schema: StructType,
    keyCols: Seq[String],
    valueCols: Seq[String],
    stateDir: String,
    strictSchema: Boolean = false,
    kafka: Option[KafkaBinding] = None,
    // with `log_dir` set, every merged generation also commits as a
    // SnapshotLog version: atomic table-grain commits, "state as of
    // batch k" time travel, and log-driven retention for the whole
    // configured fleet (CdcStream.commitStateToLog — by reference to
    // the generation's files, zero data copied)
    logDir: Option[String] = None,
    // with `cow_dir` set, the change feed additionally maintains a
    // copy-on-write snapshot-log replica (CdcStream.applyFeedToCowLog):
    // per-batch writes proportional to the churn's file footprint
    // instead of the bucketed merge's full-state generation — the
    // sparse-batch serving copy at 100 TB
    cowDir: Option[String] = None,
    // with `dead_letter_dir` set on a debezium stream, records the
    // envelope adapter would silently drop (unparsable lines, missing /
    // unsupported ops) are quarantined there with a reason instead —
    // one misconfigured connector otherwise nulls out EVERY record and
    // the merge "succeeds" on zero rows (Sources.debeziumDeadLetters)
    deadLetterDir: Option[String] = None) {
  def cdc: CdcConfig = CdcConfig(keyCols, valueCols)
}

object Pipeline {

  private def readExtract(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val raw = cfg.format match {
      case "csv"     => Sources.csvRaw(spark, cfg.sourcePath)
      case "json"    => spark.read.json(cfg.sourcePath)
      case "parquet" => spark.read.parquet(cfg.sourcePath)
      case "orc"     => spark.read.orc(cfg.sourcePath)
      case other     => throw new IllegalArgumentException(s"format: $other")
    }
    // R2 + schema drift: project to the DECLARED schema by name. A real
    // CDC source redeclares its config per table while upstream DDL
    // drifts; tolerant mode nulls a dropped value column and ignores an
    // added one, strict mode fails the run. Key columns must exist in
    // either mode — a null-keyed merge would silently fuse rows.
    Sources.alignToSchema(raw, cfg.schema, cfg.keyCols,
      strict = cfg.strictSchema)
  }

  /** One batch run. Returns the per-op counts (R8) — observed inside the
    * merge on its change-feed write, not by re-scanning the new snapshot
    * (at 100 TB that derivation was a full-table scan per merge). */
  def run(spark: SparkSession, cfg: PipelineConfig,
          batchId: Long): Map[String, Long] =
    CdcStream.mergeBatch(readExtract(spark, cfg), batchId, cfg.cdc,
      cfg.stateDir, logDir = cfg.logDir, cowDir = cfg.cowDir)

  /** Many-table run — the reference's "at scale" deployment shape is
    * hundreds of source tables per scheduled run [upstream `README.md`].
    * Tables are independent merges, so they run concurrently on the
    * driver (each submits its own jobs; the scheduler pool interleaves
    * them — on a real cluster pair this with
    * `spark.scheduler.mode=FAIR` so one huge table cannot starve the
    * rest of executor slots). Returns per-table op counts; a failed OR
    * timed-out table is reported, not fatal to the rest — `perTableTimeout`
    * bounds each merge so one hung table cannot hang the whole fleet
    * (the round-2 version awaited with Duration.Inf).
    *
    * Timeout semantics: the clock starts when the table's merge STARTS
    * (not when it is queued behind the pool — a full pool must not eat a
    * queued table's budget), with queue time itself bounded by the fleet
    * budget (timeout × table count) so the caller always terminates even
    * if every pool thread wedges outside Spark. On timeout the table's
    * Spark jobs are cancelled via its job group AND its pool thread is
    * interrupted — best-effort: a cancel landing exactly between two
    * driver actions can still let the merge finish, in which case the
    * batchId replay guard makes the late commit indistinguishable from a
    * successful retry (same state, same counts). */
  def runAll(spark: SparkSession, configs: Seq[PipelineConfig], batchId: Long,
             parallelism: Int = 4,
             perTableTimeout: scala.concurrent.duration.Duration =
               scala.concurrent.duration.Duration(1, "hour"))
      : Map[String, Either[String, Map[String, Long]]] =
    runAllWith(run)(spark, configs, batchId, parallelism, perTableTimeout)

  /** Fleet run with a CROSS-TABLE consistent commit: [[runAll]] over
    * snapshot-logged tables, then pin batch `batchId` across the fleet
    * as a [[graft.sources.FleetLog]] run manifest. When every table's
    * merge committed, the run becomes visible atomically and
    * `FleetLog.readRun` serves all tables AS OF this batch; when any
    * table failed/timed out, the run stays INVISIBLE (readers keep
    * resolving the previous complete run) until the failed table is
    * healed and this method (or `FleetLog.commitRun`) is retried —
    * at-least-once safe end to end. Returns the per-table results plus
    * whether the run committed. Tables are keyed by state_dir, the same
    * key [[runAll]] reports under. */
  def runFleet(spark: SparkSession, configs: Seq[PipelineConfig],
               batchId: Long, fleetDir: String, parallelism: Int = 4,
               perTableTimeout: scala.concurrent.duration.Duration =
                 scala.concurrent.duration.Duration(1, "hour"))
      : (Map[String, Either[String, Map[String, Long]]], Boolean) = {
    val unlogged = configs.filter(_.logDir.isEmpty).map(_.stateDir)
    require(unlogged.isEmpty,
      s"runFleet requires log_dir on every table; missing on: " +
        unlogged.mkString(", "))
    val results = runAll(spark, configs, batchId, parallelism, perTableTimeout)
    val committed = graft.sources.FleetLog.commitRun(spark, fleetDir, batchId,
      configs.map(c => c.stateDir -> c.logDir.get).toMap)
    (results, committed)
  }

  /** [[runAll]] with an injectable merge function — the testing seam for
    * the timeout/abandon/interrupt machinery (a real hung merge cannot
    * be staged deterministically in a unit test). */
  private[graft] def runAllWith(
      runFn: (SparkSession, PipelineConfig, Long) => Map[String, Long])(
      spark: SparkSession, configs: Seq[PipelineConfig], batchId: Long,
      parallelism: Int,
      perTableTimeout: scala.concurrent.duration.Duration)
      : Map[String, Either[String, Map[String, Long]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = configs.zipWithIndex.map { case (cfg, i) =>
        val started = Promise[Long]() // start-of-run timestamp, millis
        val worker = new java.util.concurrent.atomic.AtomicReference[Thread]()
        // single CAS claim shared with the timeout handler — exactly one
        // side wins, so a task dequeuing in the same instant the handler
        // gives up on it can never run unwatched
        val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
        // index + full path: a hashCode-collision group id would let one
        // table's timeout cancel another table's healthy jobs
        val group = s"graft-pipeline-$i-${cfg.stateDir}"
        val f = Future {
          // a task whose queue wait already timed out must not run the
          // merge when a slot finally frees — nobody is watching it
          if (!claimed.compareAndSet(false, true))
            Left("abandoned after queue timeout")
          else {
            worker.set(Thread.currentThread())
            started.trySuccess(System.currentTimeMillis())
            spark.sparkContext.setJobGroup(group,
              s"pipeline merge ${cfg.stateDir}", interruptOnCancel = true)
            try Right(runFn(spark, cfg, batchId))
            catch { case e: Exception => Left(e.getMessage) }
            finally {
              spark.sparkContext.clearJobGroup()
              worker.set(null) // the pool recycles this thread — see below
            }
          }
        }
        (cfg.stateDir, group, started, worker, claimed, f)
      }
      // phase-1 bound: even a fleet of wedged-outside-Spark threads must
      // not block the caller forever
      val queueBudget = perTableTimeout * configs.size.toLong
      futures.map { case (dir, group, started, worker, claimed, f) =>
        val res =
          try {
            val t0 = Await.result(started.future, queueBudget)
            val elapsed = Duration(System.currentTimeMillis() - t0, "ms")
            Await.result(f, (perTableTimeout - elapsed) max Duration.Zero)
          } catch {
            case _: java.util.concurrent.TimeoutException =>
              // CAS-claim: if we win, the task has not (and now cannot)
              // start — report it abandoned. If the task already owns the
              // claim it is live (or dequeued in this very window): cancel
              // its jobs and interrupt so it never runs unwatched.
              val taskRuns = !claimed.compareAndSet(false, true)
              if (taskRuns) {
                spark.sparkContext.cancelJobGroup(group) // stop active jobs
                // interrupt the merge's own thread only: the worker ref is
                // cleared in the task's finally, so a thread the pool has
                // recycled to another table is never targeted (the residual
                // window between body-exit and the finally is instructions)
                if (!f.isCompleted) Option(worker.get()).foreach(_.interrupt())
                Left(s"timed out after $perTableTimeout")
              } else Left(s"never started within queue budget $queueBudget")
          }
        dir -> res
      }.toMap
    } finally pool.shutdownNow()
  }

  /** The streaming shape: extracts arriving as files under sourcePath —
    * or, with `format: debezium`, a CDC SOURCE CONNECTOR feed: JSON-lines
    * files of standard Debezium envelopes (before/after/op/ts_ms) parsed
    * by [[Sources.debeziumEnvelope]] and applied as keyed change events
    * (latest-per-key election, no full extract to diff). On a real
    * cluster the text file-stream is the stand-in for
    * `readStream.format("kafka")...selectExpr("CAST(value AS STRING)")` —
    * everything downstream of the `value` column is identical. */
  def runStream(spark: SparkSession, cfg: PipelineConfig,
                checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    cfg.format match {
      case "csv" => CdcStream.start(
        Sources.csvStream(spark, cfg.sourcePath, cfg.schema),
        cfg.cdc, cfg.stateDir, checkpointDir, logDir = cfg.logDir,
        cowDir = cfg.cowDir)
      case "parquet" => CdcStream.start(
        Sources.parquetStream(spark, cfg.sourcePath, cfg.schema),
        cfg.cdc, cfg.stateDir, checkpointDir, logDir = cfg.logDir,
        cowDir = cfg.cowDir)
      case "debezium" =>
        // with a Kafka binding the feed comes off the topic; otherwise
        // the JSON-lines file stream stands in (wire format identical)
        def records = cfg.kafka match {
          case Some(k) => Sources.kafkaRecords(spark, k)
          case None => spark.readStream.text(cfg.sourcePath)
        }
        // dead-letter side sink: its own source read + checkpoint (file
        // and Kafka sources are both re-readable), registered in
        // spark.streams alongside the merge query; the main query is
        // returned, the quarantine query is discoverable by name
        cfg.deadLetterDir.foreach { dl =>
          Sources.debeziumDeadLetters(records, cfg.schema).writeStream
            .queryName(s"deadletter-${new java.io.File(cfg.stateDir).getName}")
            .option("checkpointLocation", s"$checkpointDir-deadletter")
            .format("parquet")
            .option("path", dl)
            .start()
        }
        CdcStream.startFromEnvelope(
          Sources.debeziumEnvelope(records, cfg.schema),
          cfg.cdc, cfg.stateDir, checkpointDir, logDir = cfg.logDir,
          cowDir = cfg.cowDir)
      case other => throw new IllegalArgumentException(s"stream format: $other")
    }
}
