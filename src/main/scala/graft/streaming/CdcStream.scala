package graft.streaming

import graft.cdc.{CdcConfig, CdcMerge}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming CDC apply — the north-star pipeline (BASELINE.json
  * "Structured Streaming + CDC source connectors"; [upstream `cdc.py`]
  * semantics per micro-batch).
  *
  * Each micro-batch is treated as one incoming full extract (the
  * reference's model: compare extract vs previous snapshot, R5): classify
  * against the previous state snapshot, upsert the I/U/D change feed, and
  * commit the next snapshot.
  *
  * Since round 3 the state lives in ONE representation for both this
  * streaming path and the batch [[graft.Pipeline]]: the bucketed state
  * table of [[CdcBucketed]] (shuffle-free on the state side, SURVEY §4),
  * written as an EXTERNAL table whose location rotates through
  * `stateDir/v{batchId}` — so the versioned-snapshot layout (retention,
  * point-in-time reads via plain `spark.read.parquet`) and the
  * bucketed-merge plan are the same files, not two code paths.
  *
  * State layout under `stateDir`:
  *   bootstrap/    — empty initial generation (before the first batch)
  *   v{batchId}/   — bucketed parquet snapshot after applying `batchId`;
  *                   its `_SUCCESS` is graft's commit point, created
  *                   after batch `batchId`'s feed partition is written
  *                   (parquet's own marker is switched off), so a
  *                   marked generation always has its feed
  *   changes/      — change feed, PARTITIONED BY batch_id
  *
  * Idempotence/restart (foreachBatch is at-least-once):
  *   - the change feed is written with dynamic partition overwrite on
  *     batch_id — replaying a batch rewrites its own partition instead of
  *     appending duplicate I/U/D rows;
  *   - a generation written but not yet marked (crash during or after
  *     the feed write) is never adopted by restart recovery; the replay
  *     rewrites it;
  *   - a replayed batch whose version is already committed is skipped
  *     outright (`currentVersion >= batchId`);
  *   - a crash mid-swap is healed by [[CdcBucketed.recoverStage]] on the
  *     next entry.
  */
object CdcStream {

  val DefaultBuckets = 8

  def versionPath(stateDir: String, v: Long): String = s"$stateDir/v$v"
  def changesPath(stateDir: String): String = s"$stateDir/changes"
  def bootstrapPath(stateDir: String): String = s"$stateDir/bootstrap"

  /** Catalog name of the bucketed state table for a state dir (stable:
    * last path segment + md5 prefix of the full path). */
  def stateTable(stateDir: String): String = {
    val base = new Path(stateDir).getName.toLowerCase
      .replaceAll("[^a-z0-9_]", "_").take(32)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(stateDir.getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    s"graft_state_${base}_$h"
  }

  /** JVM-restart recovery: the default in-memory catalog forgets the
    * state table on restart while the committed generations remain on
    * disk — without this, the next merge would silently bootstrap EMPTY
    * state and misclassify every stored key. Re-register the newest
    * COMMITTED generation (its `_SUCCESS` marker, created only after the
    * generation and its feed partition are fully written — so a
    * half-written vN, or one whose feed write failed, is never adopted).
    * Adopting vN equals replaying batch N's catalog swap, which the
    * replay guard + partitioned feed make idempotent. */
  private def recoverFromDisk(spark: SparkSession, stateDir: String): Unit = {
    val t = stateTable(stateDir)
    if (spark.catalog.tableExists(t) ||
      spark.catalog.tableExists(s"${t}_stage")) return
    committedVersions(spark, stateDir).lastOption.foreach { v =>
      val loc = versionPath(stateDir, v)
      // the sidecar knows what the files were actually hashed with; if it
      // is missing (crash between saveAsTable and sidecar write, or a
      // pre-sidecar generation), register UNBUCKETED — a guessed bucket
      // spec would silently misclassify, an unbucketed table only costs
      // one Exchange until the next merge rewrites it properly
      CdcBucketed.registerExisting(spark, t, loc,
        CdcBucketed.bucketCountAt(spark, loc))
    }
  }

  /** Latest committed snapshot version, if any — read from the state
    * table's current location (catalog = commit log, healed from disk by
    * [[recoverFromDisk]] after a restart), not from a raw dir listing,
    * so a half-written generation never counts as committed. */
  def currentVersion(spark: SparkSession, stateDir: String): Option[Long] = {
    val t = stateTable(stateDir)
    CdcBucketed.recoverStage(spark, t)
    recoverFromDisk(spark, stateDir)
    if (!spark.catalog.tableExists(t)) None
    else {
      val loc = new Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
        .location).getName
      if (loc.startsWith("v")) loc.drop(1).toLongOption else None
    }
  }

  /** The current state snapshot (configured columns only), if committed. */
  def currentState(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val t = stateTable(stateDir)
    CdcBucketed.recoverStage(spark, t)
    recoverFromDisk(spark, stateDir)
    if (spark.catalog.tableExists(t))
      Some(spark.table(t).drop(CdcMerge.KeyHash, CdcMerge.NonKeyHash))
    else None
  }

  /** Write the I/U/D feed for one batch idempotently: dynamic partition
    * overwrite on batch_id, so an at-least-once replay rewrites its own
    * partition instead of double-appending (and downstream reads of one
    * batch are partition-pruned). */
  private def persistFeedPartitioned(stateDir: String)(feed: DataFrame): Unit =
    feed.write.mode("overwrite")
      .partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(changesPath(stateDir))

  /** Bootstrap an empty first generation so every merge takes the same
    * bucketed-state path (no special first-batch branch). */
  private def ensureState(spark: SparkSession, table: String, like: DataFrame,
                          cfg: CdcConfig, stateDir: String, buckets: Int): Unit =
    if (!spark.catalog.tableExists(table))
      CdcBucketed.writeState(like.limit(0), cfg, table, buckets,
        location = Some(bootstrapPath(stateDir)))

  /** Merge one micro-batch (a full extract) into the state dir. Returns
    * the per-op row counts (R8) — observed on the feed write itself
    * ([[CdcBucketed.opCounts]]), NOT from a re-scan of the snapshot.
    *
    * With `logDir` set, the merged generation is ALSO committed as a
    * [[graft.sources.SnapshotLog]] version (see [[commitStateToLog]]):
    * the CDC state gains atomic table-grain commits, "state as of batch
    * k" time travel, and log vacuum — by REFERENCE to the generation's
    * own files, never a second copy. The log commit runs on the replay
    * path too, so a crash between merge and log commit heals on the
    * at-least-once redelivery (the log's own `#batch=` guard makes the
    * healed commit a no-op when it already landed).
    *
    * With `cowDir` set, the persisted change feed is additionally
    * caught up into a copy-on-write snapshot-log replica
    * ([[applyFeedToCowLog]]) after each merge — same heal-on-replay
    * discipline, so a crash between merge and catch-up repairs itself
    * on redelivery. */
  def mergeBatch(batch: DataFrame, batchId: Long, cfg: CdcConfig,
                 stateDir: String, buckets: Int = DefaultBuckets,
                 feedPriors: Boolean = false,
                 logDir: Option[String] = None,
                 cowDir: Option[String] = None): Map[String, Long] = {
    val spark = batch.sparkSession
    val table = stateTable(stateDir)
    CdcBucketed.recoverStage(spark, table)
    if (currentVersion(spark, stateDir).exists(_ >= batchId)) {
      logDir.foreach(commitStateToLog(spark, stateDir, _, batchId))
      // heal the COW replica too: a crash between merge and catch-up
      // resumes here, and an already-applied batch is a #batch= no-op
      cowDir.foreach(applyFeedToCowLog(spark, stateDir, _, cfg,
        upTo = Some(batchId)))
      return replayedCounts(spark, stateDir, batchId)
    }
    ensureState(spark, table, batch, cfg, stateDir, buckets)
    val observation = Observation()
    CdcBucketed.mergeIntoState(spark, table, batch, cfg, batchId, buckets,
      nextLocation = Some(versionPath(stateDir, batchId)),
      // the written partition is the feed's durable form; the returned
      // frame is discarded below
      persistFeed = feed => { persistFeedPartitioned(stateDir)(feed); feed },
      withPriors = feedPriors, observation = observation)
    // the schema just written, as the catalog recorded it: no inference
    val written = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).schema
    logDir.foreach(commitStateToLog(spark, stateDir, _, batchId, Some(written)))
    cowDir.foreach(applyFeedToCowLog(spark, stateDir, _, cfg,
      upTo = Some(batchId)))
    CdcBucketed.opCounts(observation)
  }

  // ---------------------------------------------------------------------
  // Snapshot-log commits over the merged state (table-grain time travel)
  // ---------------------------------------------------------------------

  /** Commit the v{batchId} merged generation into a
    * [[graft.sources.SnapshotLog]] at `logDir` — by reference to the
    * generation's part files (zero data copied; the log manifest is the
    * atomic commit point over files the bucketed merge already wrote).
    * Returns the log version, or None when the generation is absent or
    * incomplete (pruned away, or its write never finished — never
    * commit a half-written generation). Idempotent via the log's
    * `#batch=` guard: replays and heal-on-restart commits are no-ops.
    * `written` is the generation's schema when the caller just wrote it;
    * without it (replay and heal paths) the schema is read off the files. */
  def commitStateToLog(spark: SparkSession, stateDir: String,
      logDir: String, batchId: Long,
      written: Option[StructType] = None): Option[Long] = {
    val p = new Path(versionPath(stateDir, batchId))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(p, "_SUCCESS"))) return None
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    if (files.isEmpty) return None // empty state: nothing to version yet
    val schema = written.getOrElse(spark.read.parquet(p.toString).schema)
    Some(graft.sources.SnapshotLog.commitBatchExternal(
      spark, logDir, files, schema, batchId))
  }

  /** Table-grain time travel: the merged state EXACTLY as committed for
    * stream batch `batchId`, read through the snapshot log's manifest
    * (so it cannot see a half-written or in-flight generation), with
    * the internal hash columns dropped. None if that batch's version
    * was never logged or has been vacuumed. */
  def stateAsOfBatch(spark: SparkSession, logDir: String,
      batchId: Long): Option[DataFrame] =
    graft.sources.SnapshotLog.versionOfBatch(spark, logDir, batchId)
      .map(v => graft.sources.SnapshotLog.read(spark, logDir, Some(v))
        .drop(CdcMerge.KeyHash, CdcMerge.NonKeyHash))

  /** Combined retention for a snapshot-logged state dir: vacuum the log
    * to `keepLast` versions, then delete every v{n} generation whose
    * files no RETAINED manifest references — except the CURRENT
    * generation (the live external table's location), which always
    * survives. This replaces [[pruneVersions]] when a log is in play:
    * count-based pruning would delete generations the log still lets
    * readers time-travel into. */
  def expireLogged(spark: SparkSession, stateDir: String, logDir: String,
      keepLast: Int): Unit = {
    graft.sources.SnapshotLog.vacuum(spark, logDir, keepLast)
    val referenced = graft.sources.SnapshotLog.referencedFiles(spark, logDir)
      .map(f => new Path(f).getParent.getName)
    val current = currentVersion(spark, stateDir)
    committedVersions(spark, stateDir)
      .filterNot(v => current.contains(v) || referenced.contains(s"v$v"))
      .foreach(v => new Path(versionPath(stateDir, v))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(versionPath(stateDir, v)), true))
  }

  /** Disaster-recovery / audit-independence replay: rebuild the table
    * state AS OF batch `upTo` purely from the persisted change feed —
    * no state generation, no snapshot log, just `changes/`. Sound
    * because the feed carries the FULL post-image of every touched key
    * (I/U) and tombstones (D), and an untouched key still has its
    * insert-batch image: the state is exactly the max-batch non-D image
    * per key. One hash aggregation keyed on the CDC key (`max_by` over
    * a unique-per-key batch id — order-free, map-side combinable, never
    * a window sort), so the rebuild scales with feed size, not history
    * depth × table size.
    *
    * This is the recovery story the reference's R9 change feed implies
    * but never implements: lose every snapshot, keep the feed, get the
    * table back — and an auditor can verify any historical state
    * against the feed alone (RebuildSpec pins rebuild == stateAt). */
  def rebuildFromFeed(spark: SparkSession, stateDir: String, cfg: CdcConfig,
                      upTo: Long): DataFrame = {
    val p = new Path(changesPath(stateDir))
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fsys.exists(p), s"no change feed under $stateDir")
    val feed = spark.read.parquet(changesPath(stateDir))
      .withColumn("batch_id", col("batch_id").cast("long"))
      .filter(col("batch_id") <= upTo)
    val payload = struct(
      (cfg.allCols.map(col) :+ col(CdcMerge.OpCol) :+ col("batch_id")): _*)
    feed.groupBy(cfg.keyCols.map(col): _*)
      .agg(max_by(payload, col("batch_id")).as("w"))
      .filter(col(s"w.${CdcMerge.OpCol}") =!= CdcMerge.Delete)
      .select(cfg.allCols.map(c => col(s"w.$c").as(c)): _*)
  }

  /** Counts for an already-committed (replayed) batch: its feed partition
    * plus the snapshot size — the skip path does no merge work. */
  private def replayedCounts(spark: SparkSession, stateDir: String,
                             batchId: Long): Map[String, Long] = {
    val fromFeed = scala.util.Try(
      spark.read.parquet(changesPath(stateDir))
        .filter(col("batch_id") === batchId)
        .groupBy(CdcMerge.OpCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    ).getOrElse(Map.empty[String, Long])
    if (currentVersion(spark, stateDir).contains(batchId)) {
      val snapshotRows = currentState(spark, stateDir).map(_.count()).getOrElse(0L)
      val iu = fromFeed.getOrElse(CdcMerge.Insert, 0L) +
        fromFeed.getOrElse(CdcMerge.Update, 0L)
      fromFeed + (CdcMerge.Unchanged -> (snapshotRows - iu))
    } else fromFeed + (CdcMerge.Unchanged -> 0L)
  }

  /** COW replica of the CDC state, driven by the persisted change feed:
    * every not-yet-applied feed batch becomes one
    * [[graft.sources.SnapshotLog.mergeBatch]] commit on `logDir` —
    * I/U post-images upsert, D tombstones delete, keyed on the CDC key.
    * Returns the log versions committed (empty when already caught up).
    *
    * This is the write-amplification dual of [[commitStateToLog]]: the
    * bucketed merge rewrites the full state per batch and the log
    * references those generations for free, while this path rewrites
    * ONLY the replica files that hold a changed key — at 100 TB with
    * sparse batches (the normal CDC regime) the per-batch write is
    * proportional to the churn's file footprint, not the table. The
    * price is no bucketed layout on the replica (use the log's
    * `optimize` clustering on the key to keep merge's affected-file
    * sets small). Sound because classify emits exactly one winning row
    * per key per batch (merge's duplicate guard would otherwise refuse)
    * and the feed carries full post-images. Replays are no-ops via the
    * log's `#batch=` guard; a crash mid-catch-up resumes at the first
    * unapplied batch. */
  def applyFeedToCowLog(spark: SparkSession, stateDir: String,
      logDir: String, cfg: CdcConfig,
      upTo: Option[Long] = None): Seq[Long] = {
    val p = new Path(changesPath(stateDir))
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fsys.exists(p), s"no change feed under $stateDir")
    val feed = spark.read.parquet(changesPath(stateDir))
      .withColumn("batch_id", col("batch_id").cast("long"))
    val applied = graft.sources.SnapshotLog.lastBatch(spark, logDir)
      .getOrElse(-1L)
    // one row per feed batch (partition values), never data-scaled
    val pending = feed.select("batch_id").distinct().collect()
      .map(_.getLong(0)).filter(b => b > applied && upTo.forall(b <= _))
      .sorted
    pending.flatMap { b =>
      val slice = feed.filter(col("batch_id") === b) // partition-pruned
        .select((cfg.allCols :+ CdcMerge.OpCol).map(col): _*)
      val v = graft.sources.SnapshotLog.mergeBatch(spark, logDir, slice,
        cfg.keyCols, b,
        deleteWhen = Some(col(CdcMerge.OpCol) === CdcMerge.Delete),
        dropCols = Seq(CdcMerge.OpCol))
      if (v == 0L) None else Some(v) // 0 = delete-only batch on empty log
    }.toSeq
  }

  /** Point-in-time read: the state snapshot as of `version` (batch id),
    * straight from the retained v{n} layout — plain parquet, no catalog
    * involvement, so audits/backfills can read history concurrently with
    * the live merge. None if that generation is absent or incomplete
    * (pruned by [[pruneVersions]], or its write never finished). */
  def stateAt(spark: SparkSession, stateDir: String,
              version: Long): Option[DataFrame] = {
    val p = new Path(versionPath(stateDir, version))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(p, "_SUCCESS")))
      Some(spark.read.parquet(p.toString)
        .drop(CdcMerge.KeyHash, CdcMerge.NonKeyHash))
    else None
  }

  /** SCD2 view derived from the change feed: one row per key version
    * with [valid_from_batch, valid_to_batch) validity and is_current.
    * A key's I/U feed rows ordered by batch_id are its versions; a D row
    * closes the last open version without opening a new one. ONE window
    * shuffle over the feed — the feed is the small side (changed rows
    * only), never the snapshot. */
  def scd2View(spark: SparkSession, stateDir: String,
               keyCols: Seq[String]): DataFrame = {
    // the view's schema comes from the feed, so absent-feed cannot fall
    // back to an empty frame like the Try-guarded siblings — fail with
    // intent instead of an AnalysisException about a missing path
    val cp = new Path(changesPath(stateDir))
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cp),
      s"scd2View: no change feed at $cp — run at least one merge first")
    // a feed dir can exist yet hold zero parts (only empty batches so
    // far) — schema inference would then fail with a raw AnalysisException
    val feed =
      try spark.read.parquet(changesPath(stateDir))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"scd2View: change feed at $cp holds no data yet", e)
      }
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("batch_id"))
    val nextBatch = lead(col("batch_id"), 1).over(w)
    feed
      .withColumn("valid_to_batch", nextBatch) // any successor closes
      .filter(col(CdcMerge.OpCol) =!= CdcMerge.Delete) // D opens nothing
      .withColumn("is_current", col("valid_to_batch").isNull)
      .withColumnRenamed("batch_id", "valid_from_batch")
      .drop(CdcMerge.OpCol, CdcMerge.KeyHash, CdcMerge.NonKeyHash)
      // a priors-carrying feed (feedPriors=true) holds __old_ pre-images —
      // rollup-maintenance detail, not part of the SCD2 shape
      .drop(feed.columns.filter(_.startsWith(CdcMerge.OldPrefix)).toIndexedSeq: _*)
  }

  /** Drop snapshot generations older than the newest `keep` — retention
    * for the versioned state layout (at 100 TB each generation is a full
    * table copy; unbounded history is an operational leak). Never removes
    * the latest version (= the live external table's location). */
  def pruneVersions(spark: SparkSession, stateDir: String, keep: Int): Unit = {
    require(keep >= 1, "must keep at least the current snapshot")
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val versions = fs.listStatus(p).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.drop(1).toLongOption.isDefined =>
          n.drop(1).toLong }
        .sorted
      versions.dropRight(keep).foreach { v =>
        fs.delete(new Path(versionPath(stateDir, v)), true)
      }
    }
  }

  /** Wire a streaming extract feed into the merge via foreachBatch.
    * `feedPriors = true` makes the persisted change feed carry `__old_`
    * pre-images on U rows — the [[maintainRollup]] prerequisite. */
  /** `batchIdOffset` re-points a REBUILT stream (fresh checkpoint ⇒
    * foreachBatch ids restart at 0) at existing state: pass the next
    * unclaimed version so the replay guard doesn't silently swallow the
    * new stream's first batches as already-committed. The operational
    * case is a schema-evolution restart — a source schema change forces
    * a new streaming query, while the state dir (aligned per
    * [[CdcBucketed.alignStateToConfig]]) carries on. */
  def start(incoming: DataFrame, cfg: CdcConfig, stateDir: String,
            checkpointDir: String, buckets: Int = DefaultBuckets,
            feedPriors: Boolean = false, batchIdOffset: Long = 0L,
            logDir: Option[String] = None,
            cowDir: Option[String] = None): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch, id + batchIdOffset, cfg, stateDir, buckets,
          feedPriors, logDir, cowDir); ()
      }
      .start()

  // ---------------------------------------------------------------------
  // Incrementally-maintained rollups over the change feed
  // ---------------------------------------------------------------------

  private def rollupVersionPath(rollupDir: String, v: Long): String =
    s"$rollupDir/v$v"

  /** Committed (`_SUCCESS`-marked) v{n} generations under `dir`, sorted —
    * the one definition of "committed generation on disk", shared by
    * rollup discovery and [[recoverFromDisk]]; the live state side reads
    * its version off the catalog ([[currentVersion]]) instead. */
  private def committedVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).toLongOption.isDefined =>
        n.drop(1).toLong }
      .filter(v => fs.exists(new Path(s"$dir/v$v/_SUCCESS")))
      .sorted
  }

  /** Newest fully-written rollup generation. */
  private def currentRollup(spark: SparkSession,
                            rollupDir: String): Option[(Long, DataFrame)] =
    committedVersions(spark, rollupDir).lastOption
      .map(v => v -> spark.read.parquet(rollupVersionPath(rollupDir, v)))

  /** Advance an incrementally-maintained rollup
    * ([[graft.cdc.IncrementalAgg]]) to the newest COMMITTED feed batch:
    * apply the signed deltas of every change-feed partition after the
    * rollup's last applied batch — O(new changes), never a snapshot
    * rescan. Returns the new rollup version (= max applied batch id), or
    * None when there is nothing new.
    *
    * Completeness gate: only batches ≤ [[currentVersion]] are applied.
    * The feed partition is written BEFORE its snapshot commits, so a
    * committed version vouches for its feed partition; a feed partition
    * from a crashed merge (snapshot never committed) will be rewritten on
    * replay and must not be consumed early — without the gate it would be
    * applied partially and then skipped forever by the `> applied`
    * filter. (A replay REWRITING an already-committed partition while
    * this advance reads it is the one remaining race — run advances from
    * the stream's own foreachBatch or between merges, or wipe-and-replay.)
    *
    * Bootstrap is the empty state: CDC bootstraps from empty too, so the
    * complete feed replayed from batch 0 rebuilds the rollup exactly —
    * which is also the recovery story (delete rollupDir, re-run), and the
    * migration story for enabling `feedPriors` on an existing stream
    * (priors must cover the WHOLE feed: pre-priors U rows would read null
    * pre-images and silently retract 0 — wipe the state dir or start
    * priors from batch 0). Requires the feed written with
    * `feedPriors = true` ([[graft.cdc.IncrementalAgg.deltas]] checks).
    * Idempotent: re-running for the same feed prefix rewrites the same
    * v{n} generation. Prune old rollup generations with
    * [[pruneVersions]](spark, rollupDir, keep) — same v{n} layout. */
  def maintainRollup(spark: SparkSession, stateDir: String, rollupDir: String,
                     spec: graft.cdc.IncrementalAgg.Spec): Option[Long] = {
    val committed = currentVersion(spark, stateDir).getOrElse(return None)
    val cur = currentRollup(spark, rollupDir)
    val applied = cur.map(_._1).getOrElse(-1L)
    if (committed <= applied) return None
    val feed =
      try spark.read.parquet(changesPath(stateDir))
        // partition-column read-back infers INT while the writer stamped
        // LONG (round-3 gotcha) — normalize before comparing/collecting
        .withColumn("batch_id", col("batch_id").cast("long"))
      catch { case _: org.apache.spark.sql.AnalysisException => return None }
    // both bounds prune at the partition column — only the new slice's
    // files are read, not the feed history
    val slice = feed.filter(col("batch_id") > applied
      && col("batch_id") <= committed)
    // change-free batches persist no feed rows: advancing on them would
    // rewrite a byte-identical generation (O(rollup) work) and report a
    // phantom Some(n) to callers that trigger refreshes on advance
    if (slice.isEmpty) return None
    val state = cur.map(_._2)
      .getOrElse(graft.cdc.IncrementalAgg.init(feed.limit(0), spec))
    graft.cdc.IncrementalAgg
      .applyDeltas(state, graft.cdc.IncrementalAgg.deltas(slice, spec), spec)
      // the new generation must be fully materialized before it becomes
      // discoverable; parquet's _SUCCESS marker is the commit point
      .write.mode("overwrite").parquet(rollupVersionPath(rollupDir, committed))
    Some(committed)
  }

  // ---------------------------------------------------------------------
  // Incrementally-maintained JOIN views over two CDC streams
  // ---------------------------------------------------------------------

  /** Newest committed join-view generation: needs BOTH parquet's
    * `_SUCCESS` and the frontier marker (written after the parquet
    * commit), so a crash between the two leaves a generation that is
    * simply rewritten by the next advance. */
  private def currentJoinView(spark: SparkSession, viewDir: String)
      : Option[(Long, (Long, Long), DataFrame)] = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).toLongOption.isDefined =>
        n.drop(1).toLong }
      .filter(v => fs.exists(new Path(s"$viewDir/v$v/_SUCCESS"))
        && fs.exists(new Path(s"$viewDir/v$v/_frontier")))
      .sorted.reverse
      // a crash DURING the marker write can leave an empty/garbled
      // _frontier; existence alone is not commitment — an unparsable
      // marker means this generation never committed, fall back to the
      // previous one (the next advance overwrites the orphan).
      // `.iterator` keeps the scan lazy: only the newest parseable
      // generation's marker is opened and only its DataFrame constructed
      // — with the post-commit sweep in [[maintainJoinView]] that is
      // O(1) generations touched per advance, not O(history)
      .iterator
      .flatMap { v =>
        val in = fs.open(new Path(s"$viewDir/v$v/_frontier"))
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        txt.trim.split(",").map(_.toLongOption) match {
          case Array(Some(aL), Some(aR)) =>
            Some((v, (aL, aR), spark.read.parquet(s"$viewDir/v$v")))
          case _ => None
        }
      }
      .nextOption()
  }

  /** Feed slice (batch_id in (from, to]) — partition-pruned; an absent
    * changes dir (no batch ever wrote a feed row) degrades to an empty
    * feed shaped like the state. */
  private def feedSlice(spark: SparkSession, stateDir: String,
      from: Long, to: Long, state: DataFrame): DataFrame = {
    val p = new Path(changesPath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      state.limit(0).withColumn(CdcMerge.OpCol, lit(CdcMerge.Unchanged))
    else spark.read.parquet(changesPath(stateDir))
      .withColumn("batch_id", col("batch_id").cast("long"))
      .filter(col("batch_id") > from && col("batch_id") <= to)
  }

  /** Advance an incrementally-maintained JOIN VIEW
    * ([[graft.cdc.IncrementalJoin]]) of two CDC streams' states to their
    * newest committed snapshots: touched-key maintenance over the feed
    * slices since the view's last applied (left, right) frontier —
    * O(new changes), never a re-join of the two snapshots. Returns the
    * new view version, or None when both frontiers are already applied
    * (or only change-free batches arrived).
    *
    * Generation numbering: v(vL + vR) — strictly monotone (each real
    * advance grows at least one frontier and neither ever decreases),
    * with the exact applied pair recorded in the generation's
    * `_frontier` marker. Bootstrap joins the two current snapshots once
    * (the same cost a first full refresh would pay); every later
    * advance is feed-sized. The same completeness gate as
    * [[maintainRollup]] applies per side: only feed batches up to that
    * side's committed version are consumed.
    *
    * Prior-image contract: run both streams with `feedPriors = true`
    * when a JOIN KEY is a VALUE column on its side (an FK that can move
    * under U) — [[graft.cdc.IncrementalJoin.touchedKeys]] reads the
    * `__old_` twin to touch the move's source key; a join key that is a
    * CDC key column never changes within a U, so key-only configs are
    * safe without priors. */
  def maintainJoinView(spark: SparkSession, leftStateDir: String,
      rightStateDir: String, viewDir: String,
      spec: graft.cdc.IncrementalJoin.Spec): Option[Long] = {
    val vL = currentVersion(spark, leftStateDir).getOrElse(return None)
    val vR = currentVersion(spark, rightStateDir).getOrElse(return None)
    val sl = currentState(spark, leftStateDir).getOrElse(return None)
    val sr = currentState(spark, rightStateDir).getOrElse(return None)
    val fs = new Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commit(df: DataFrame): Option[Long] = {
      val v = vL + vR
      df.write.mode("overwrite").parquet(s"$viewDir/v$v")
      // marker goes through temp + rename so a crash mid-write leaves a
      // .tmp (never a half-written _frontier); discovery additionally
      // refuses unparsable markers — belt and braces on the commit point
      val tmp = new Path(s"$viewDir/v$v/_frontier.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"$vL,$vR".getBytes("UTF-8")) finally out.close()
      fs.delete(new Path(s"$viewDir/v$v/_frontier"), false)
      // a silent rename failure would leave the generation uncommitted
      // (discovery falls back to the prior one) while the caller believes
      // the advance happened — the commit point must be loud
      if (!fs.rename(tmp, new Path(s"$viewDir/v$v/_frontier")))
        throw new java.io.IOException(
          s"join-view commit failed: rename $tmp -> $viewDir/v$v/_frontier")
      // retention: generations strictly older than the one just committed
      // are superseded (including orphans from crashed advances) — sweep
      // them so view history, and discovery cost, stay bounded
      fs.listStatus(new Path(viewDir)).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") &&
          n.drop(1).toLongOption.exists(_ < v) => n }
        .foreach(n => fs.delete(new Path(s"$viewDir/$n"), true))
      Some(v)
    }
    currentJoinView(spark, viewDir) match {
      case None =>
        commit(graft.cdc.IncrementalJoin.init(sl, sr, spec))
      case Some((_, (aL, aR), view)) =>
        if (vL <= aL && vR <= aR) return None
        val lf = feedSlice(spark, leftStateDir, aL, vL, sl)
        val rf = feedSlice(spark, rightStateDir, aR, vR, sr)
        // change-free batches persist no feed rows — advancing would
        // rewrite a byte-identical generation (maintainRollup's rule)
        if (lf.isEmpty && rf.isEmpty) return None
        commit(graft.cdc.IncrementalJoin.maintain(view, sl, lf, sr, rf, spec))
    }
  }

  // ---------------------------------------------------------------------
  // CDC-source-shaped ingestion (keyed op/ts envelopes, not full extracts)
  // ---------------------------------------------------------------------

  /** Apply one micro-batch of a keyed CHANGE-EVENT stream — the shape a
    * Kafka/Debezium-style CDC source connector emits (op ∈ I/U/D plus an
    * event timestamp per key), adapted by
    * [[graft.sources.Sources.cdcEnvelope]]. Unlike [[mergeBatch]] there is
    * no full extract to diff: the latest event per key wins within the
    * batch — ordered by (ts, op, payload-hash) descending, a TOTAL order:
    * two rapid updates stamped with the same ts and op still elect one
    * deterministic winner (xxhash64 over the full payload) instead of an
    * arbitrary row_number pick. Deletes remove the key, upserts replace
    * it. State/feed layout and idempotence rules are
    * identical to the full-extract path; the anti-join that retires
    * touched keys carries the keyhash prefix, so the state side again
    * plans no Exchange. */
  def applyEnvelopeBatch(batch: DataFrame, batchId: Long, cfg: CdcConfig,
                         stateDir: String, buckets: Int = DefaultBuckets,
                         logDir: Option[String] = None,
                         cowDir: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val table = stateTable(stateDir)
    CdcBucketed.recoverStage(spark, table)
    if (currentVersion(spark, stateDir).exists(_ >= batchId)) {
      // heal-on-replay: a crash between state rename and log commit
      // leaves the generation unlogged — the redelivery commits it
      // (no-op when it already landed, via the log's #batch= guard)
      logDir.foreach(commitStateToLog(spark, stateDir, _, batchId))
      cowDir.foreach(applyFeedToCowLog(spark, stateDir, _, cfg,
        upTo = Some(batchId)))
      return
    }
    ensureState(spark, table, batch.select(cfg.allCols.map(col): _*), cfg,
      stateDir, buckets)

    val w = Window.partitionBy(cfg.keyCols.map(col): _*)
      .orderBy(col("ts").desc, col(CdcMerge.OpCol).desc,
        xxhash64(cfg.allCols.map(col): _*).desc)
    val latest = batch
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .localCheckpoint(eager = true) // two consumers below; plan once
    val touched = CdcMerge
      .withHashes(latest.select(cfg.allCols.map(col): _*), cfg, useXxhash64 = true)
      .select(CdcMerge.KeyHash, cfg.keyCols: _*)
    val upserts = latest.filter(col(CdcMerge.OpCol) =!= CdcMerge.Delete)
      .select(cfg.allCols.map(col): _*)
    val next = spark.table(table)
      .join(touched, Seq(CdcMerge.KeyHash) ++ cfg.keyCols, "left_anti")
      .select(cfg.allCols.map(col): _*)
      .unionByName(upserts)

    persistFeedPartitioned(stateDir)(
      latest.select(cfg.allCols.map(col) :+ col(CdcMerge.OpCol): _*)
        .withColumn("batch_id", lit(batchId)))
    val staging = s"${table}_stage"
    CdcBucketed.writeState(next, cfg, staging, buckets,
      location = Some(versionPath(stateDir, batchId)))
    CdcBucketed.markCommitted(spark, staging)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    logDir.foreach(commitStateToLog(spark, stateDir, _, batchId))
    cowDir.foreach(applyFeedToCowLog(spark, stateDir, _, cfg,
      upTo = Some(batchId)))
  }

  /** Wire a CDC-source-shaped envelope stream (see
    * [[graft.sources.Sources.cdcEnvelope]]) into the state via
    * foreachBatch. */
  def startFromEnvelope(envelope: DataFrame, cfg: CdcConfig, stateDir: String,
                        checkpointDir: String,
                        buckets: Int = DefaultBuckets,
                        logDir: Option[String] = None,
                        cowDir: Option[String] = None): StreamingQuery =
    envelope.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyEnvelopeBatch(batch, id, cfg, stateDir, buckets, logDir, cowDir)
      }
      .start()
}
