package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** The commit protocol: claim/verify/manifest, commit/append/commitBatch family, external commits — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotCommit { this: SnapshotLog.type =>

  /** Claim the next version for manifest `m`; returns the
    * version won, or None when `base` is given and the latest version is
    * no longer `base` (the body is stale — the caller must rebase and
    * retry). Protocol per attempt: (1) atomically create the version's
    * CLAIM file — exactly one committer can; (2) the winner verifies the
    * base (see below), stages the manifest and renames it into place
    * (uncontended — only the claim holder writes that name), then drops
    * its claim; (3) a loser waits briefly for the winner's manifest to
    * appear and retries at the next version. A claim whose manifest
    * never appears (claimant crashed mid-commit) is adopted after 60 s
    * of staleness — the adopter deletes it and re-runs the atomic claim,
    * which again has exactly one winner.
    *
    * Base verification: holding the claim for v excludes every other
    * protocol commit at v, and versions are claimed densely (last+1), so
    * re-listing the log WHILE holding the claim gives a stable answer —
    * if the latest differs from `base`, another commit landed after the
    * caller computed its body; abort without manifesting (the claim is
    * dropped, the slot re-claimable) so the caller can rebase. This is
    * the compare-and-swap that makes read-modify-write commits
    * (commitBatch/deleteWhere/optimize) lose-nothing under concurrency. */
  private[sources] def commitFiles(spark: SparkSession, dir: String,
      m: Manifest, commitId: String,
      base: Option[Option[Long]] = None): Option[Long] = {
    val f = fs(spark, dir)
    f.mkdirs(logDir(dir))
    val body = m.serialize
    var attempt = 0
    while (attempt < 1000) {
      attempt += 1
      val v = versions(spark, dir).lastOption.getOrElse(0L) + 1
      val claim = new Path(logDir(dir), s".claim.v$v")
      if (store.claimExclusive(f, claim)) {
        // the claim can be WON STALE: the true owner manifested v and
        // dropped its claim before our (older) version listing caught
        // up, and we just re-created the claim file. The owner's
        // manifest rename strictly precedes its claim delete, so the
        // manifest is visible by now — check and step aside.
        if (f.exists(manifestPath(dir, v))) f.delete(claim, false)
        else {
          base.foreach { expected =>
            val latestNow = versions(spark, dir).lastOption
            if (latestNow != expected) { f.delete(claim, false); return None }
          }
          val stage = new Path(logDir(dir), s".v$v.$commitId.staging")
          // publish failure must not strand the claim: the version slot
          // stays immediately re-claimable instead of waiting out the
          // 60 s stale-claim adoption
          try store.publishAtomic(f, stage, manifestPath(dir, v), body)
          catch { case e: Throwable => f.delete(claim, false); throw e }
          f.delete(claim, false) // manifest is live; claim no longer needed
          propagateBlooms(spark, dir, v, m.files)
          return Some(v)
        }
      }
      // v is claimed: wait for its manifest, or adopt a stale claim
      if (!f.exists(manifestPath(dir, v))) {
        val age = try System.currentTimeMillis() -
          f.getFileStatus(claim).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue } // claim gone
        if (age > 60000L) f.delete(claim, false) // abandoned — retake v
        else Thread.sleep(20)
      }
    }
    throw new IllegalStateException(s"snapshot commit livelock under $dir")
  }

  /** Carry the previous version's bloom sidecar forward for files the
    * new version SHARES with it: data files are immutable (uuid-named,
    * written once), so a carried file's bloom stays exactly valid —
    * without this, ANY commit (one appended batch, one MoR tombstone)
    * invalidated the whole table's point-lookup skipping until the next
    * full [[analyzeBlooms]] scan. New/rewritten files simply have no
    * entry (kept conservatively by [[readPoint]]/[[readFilter]]); the
    * file-identity argument makes this correct even when the committed
    * version was rebased past v−1. Best-effort by design: the sidecar
    * is advisory (reads stay exact without it), so a failure here must
    * never fail the already-visible commit. Runs AFTER the manifest
    * rename — a reader racing the write sees no sidecar and plans
    * conservatively. Vacuum reclaims per-version sidecars as before. */
  private[sources] def propagateBlooms(spark: SparkSession, dir: String, v: Long,
      files: Seq[String]): Unit = {
    if (v <= 1 || files.isEmpty) return
    try {
      val f = fs(spark, dir)
      val prev = bloomPath(dir, v - 1)
      if (!f.exists(prev) || f.exists(bloomPath(dir, v))) return
      val sidecar = spark.read.parquet(prev.toString)
      val keep = files.map(p => new Path(p).toUri.getPath).toSet
      // distinct sidecar paths are bounded by the table's file count
      val carried = sidecar.select("path").distinct().collect()
        .map(_.getString(0))
        .filter(p => keep.contains(new Path(p).toUri.getPath))
      if (carried.nonEmpty)
        sidecar.filter(col("path").isin(carried.toSeq: _*))
          .coalesce(1).write.mode("overwrite")
          .parquet(bloomPath(dir, v).toString)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Commit `df` as the next version; returns the version number.
    * Data lands in a fresh uuid directory first; the manifest rename is
    * the only visible transition. Replace semantics — the body does not
    * depend on the previous version, so no base check is needed (two
    * racing replaces serialize into two versions, either order valid).
    * A full replace RE-DECIDES the physical layout: committing plain
    * over a partition-declared table writes unpartitioned and drops the
    * declaration for the new version (use [[commitPartitioned]] to keep
    * it); older versions read with their own layout unaffected. */
  def commit(spark: SparkSession, dir: String, df: DataFrame): Long = {
    val commitId = java.util.UUID.randomUUID().toString
    var files: Seq[String] = null
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      // replace semantics for the DATA (the body never depends on the
      // previous file list) — but constraints are table METADATA this
      // commit carries forward, so the commit is base-checked: a
      // concurrent addCheck must not be silently dropped from the new
      // latest (a metadata lost-update). Validation re-runs only when a
      // rebase actually changed the check set.
      val (latest, m) = tip(spark, dir)
      if (files == null) {
        // first attempt: validation rides the write (zero extra passes)
        val (wired, assertChecks) =
          observedChecks(df, m.checks, commitId, s"commit into $dir")
        files = writeData(spark, dir, m, wired, commitId)
        assertChecks()
        validated = Some(m.checks)
      } else if (!validated.contains(m.checks)) {
        // a rebase changed the check set: dedicated validation pass
        requireChecksPass(m.checks, df, s"commit into $dir")
        validated = Some(m.checks)
      }
      commitFiles(spark, dir, m.next.replace(files, df.schema), commitId,
        base = Some(latest)) match {
        case Some(v) => return v
        case None    => () // raced — re-read the carried metadata
      }
    }
    -1L // unreachable
  }

  /** Streaming-table append commit: version N = EVERYTHING ingested
    * through stream batch `batchId` (the new batch's files plus the
    * previous version's list by reference), stamped with a `#batch=`
    * header. Idempotent under foreachBatch's at-least-once replay: a
    * batchId at or below the log's replay mark ([[lastBatch]] — the
    * newest batch committed anywhere in the log, carried forward by a
    * deleteWhere/optimize that landed since) returns the current version
    * untouched (Spark replays only from the last uncommitted batch, in
    * order).
    * Concurrency-safe: the previous version's file list is re-read and
    * the commit re-based whenever another committer lands first, so an
    * append racing a delete loses neither side's files. Gives a
    * streaming sink per-batch snapshot isolation, time travel ("the
    * table as of batch k"), [[vacuum]] retention and [[deleteWhere]] —
    * none of which a plain parquet append sink has. */
  def commitBatch(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Long): Long =
    appendImpl(spark, dir, df, Some(batchId))

  /** Plain APPEND commit — [[commitBatch]] without the `#batch=` replay
    * header (the DSv2/v1 batch-write path): a one-off batch append must
    * NOT stamp a batch id, or a streaming sink later checkpointed at a
    * smaller epoch would silently skip its first batches against this
    * table. Everything else (carried files, DV, partition purity,
    * schema merge, CHECK validation, race rebase) is identical. */
  def append(spark: SparkSession, dir: String, df: DataFrame): Long =
    appendImpl(spark, dir, df, None)

  private[sources] def appendImpl(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Option[Long]): Long = {
    val what = batchId.map(b => s"batch $b").getOrElse("append")
    val commitId = java.util.UUID.randomUUID().toString
    var fresh: Seq[String] = null // batch data written once, on first need
    var writtenPcs: Seq[String] = null // partition layout fresh was written in
    var validatedChecks: Option[Seq[(String, String)]] = None
    while (true) {
      val (latest, m) = tip(spark, dir)
      batchId.foreach { b =>
        if (m.mark.exists(b <= _))
          return latest.get // replayed batch: no-op (orphan data vacuumable)
      }
      // a partition-declared table's appends stay partition-pure — the
      // batch inherits the latest version's layout
      val pcs = m.partitionCols
      if (fresh == null) {
        val (wired, assertChecks) =
          observedChecks(df, m.checks, commitId, s"$what into $dir")
        fresh = writeData(spark, dir, m, wired, commitId, pcs)
        writtenPcs = pcs
        assertChecks()
        validatedChecks = Some(m.checks)
      } else {
        require(writtenPcs == pcs,
          s"partition layout of $dir changed concurrently (was " +
            s"${writtenPcs.mkString(",")}, now ${pcs.mkString(",")}) — " +
            "retry the batch")
        if (!validatedChecks.contains(m.checks)) {
          requireChecksPass(m.checks, df, s"$what into $dir")
          validatedChecks = Some(m.checks)
        }
      }
      val schema = m.schema.map(mergeSchemas(_, df.schema)).getOrElse(df.schema)
      // a plain append (no batchId) is a non-batch verb like every other:
      // it carries the replay mark forward (Manifest.next), or a vacuum
      // retaining only appends would blind the replay guard. The deletion
      // vector rides along — dropping it would resurrect MoR-deleted rows
      val nextM = batchId.map(m.nextBatch).getOrElse(m.next)
      commitFiles(spark, dir, nextM.withSchema(schema).copy(
          files = (m.files ++ fresh).sorted,
          fileParts = m.fileParts ++ freshParts(pcs, fresh)),
        commitId, base = Some(latest)) match {
        case Some(v) => return v
        case None    => () // lost the race — rebase on the new latest
      }
    }
    -1L // unreachable
  }

  /** Streaming-table REPLACE commit: version N = the full snapshot as of
    * stream batch `batchId` (fresh files only, nothing carried), with
    * the same `#batch=` replay idempotence as [[commitBatch]]. This is
    * the shape a CDC merge wants — each micro-batch produces a complete
    * next state, not an increment — and is what
    * [[graft.streaming.CdcStream]] commits through to give the CDC
    * pillar atomic versions, table-grain time travel and vacuum.
    * Replace semantics re-decide the physical layout per batch (the
    * [[commit]] rule): the new version is unpartitioned regardless of
    * the previous declaration — a partition-preserving stream goes
    * through [[commitBatch]] or [[mergeBatch]] instead. */
  def commitBatchReplace(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Long): Long = {
    val commitId = java.util.UUID.randomUUID().toString
    var files: Seq[String] = null
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      val (latest, m) = tip(spark, dir)
      if (m.mark.exists(batchId <= _)) return latest.get
      // base-checked for the same metadata-carry reason as [[commit]]
      if (files == null) {
        val (wired, assertChecks) =
          observedChecks(df, m.checks, commitId, s"batch $batchId into $dir")
        files = writeData(spark, dir, m, wired, commitId)
        assertChecks()
        validated = Some(m.checks)
      } else if (!validated.contains(m.checks)) {
        requireChecksPass(m.checks, df, s"batch $batchId into $dir")
        validated = Some(m.checks)
      }
      commitFiles(spark, dir, m.nextBatch(batchId).replace(files, df.schema),
        commitId, base = Some(latest)) match {
        case Some(v) => return v
        case None    => () // raced — re-read the carried metadata
      }
    }
    -1L // unreachable
  }

  /** The committed version that ingested stream batch `batchId`, if
    * retained — table-grain time travel by batch id. */
  def versionOfBatch(spark: SparkSession, dir: String,
      batchId: Long): Option[Long] =
    versions(spark, dir).reverseIterator
      .find(v => batchOf(spark, dir, v).contains(batchId))

  /** Commit an EXTERNALLY-MANAGED file set as the next version (replace
    * semantics, batch-id replay idempotence, explicit schema). The
    * files are REFERENCED, not copied — the caller produced them (e.g. a
    * bucketed CDC merge generation) and owns their lifecycle; this turns
    * an existing directory-per-generation layout into atomic log
    * versions without a second copy of the data. [[vacuum]] only ever
    * deletes under this table's own `data/` root, so it will drop
    * manifests of expired external versions but never their files — pair
    * caller-side retention with [[referencedFiles]] to know which
    * external files retained versions still need. */
  def commitBatchExternal(spark: SparkSession, dir: String,
      files: Seq[String], schema: StructType, batchId: Long,
      partitionCols: Seq[String] = Seq.empty): Long = {
    var validated: Option[Seq[(String, String)]] = None
    // loud guard: a writer that percent-encoded multi-byte UTF-8 in a
    // partition dir reads back MOJIBAKE under Spark's char-per-byte
    // discovery — recording that tuple would make every equality probe
    // on the real value silently miss. Refuse and tell the writer to lay
    // out raw UTF-8 names (what Spark itself writes).
    if (partitionCols.nonEmpty) files.foreach { p =>
      p.split('/').dropRight(1).filter(_.contains('=')).foreach { seg =>
        val v = seg.drop(seg.indexOf('=') + 1)
        require(hiveUnescape(v) == hiveUnescapeUtf8(v),
          s"external partition segment '$seg' in $p percent-encodes " +
            "multi-byte UTF-8 — Spark partition discovery decodes " +
            "escapes char-per-byte, so this value cannot round-trip; " +
            "publish the layout with raw (unescaped) UTF-8 dir names")
      }
    }
    // externally-written hive-layout files: the caller declares the
    // partition columns and the tuples derive from the paths it laid
    // out — recorded in the manifest so readPartition prunes the
    // published table exactly like a commitPartitioned one
    val parts = freshParts(partitionCols, files)
    while (true) {
      val (latest, m) = tip(spark, dir)
      if (m.mark.exists(batchId <= _)) return latest.get
      // base-checked for the same metadata-carry reason as [[commit]]
      if (m.checks.nonEmpty && files.nonEmpty && !validated.contains(m.checks)) {
        // partitioned external files: the partition values live in the
        // dirs — a flat explicit-schema read would validate NULLs there.
        // External files carry PHYSICAL names (the v2 streaming write
        // maps before encoding); alias back for the logical checks.
        requireChecksPass(m.checks,
          readBackWritten(spark, m, files, partitionCols, schema),
          s"external batch $batchId into $dir")
        validated = Some(m.checks)
      }
      commitFiles(spark, dir, m.nextBatch(batchId).replace(files.sorted, schema)
          .copy(partitionCols = partitionCols, fileParts = parts),
        java.util.UUID.randomUUID().toString, base = Some(latest)) match {
        case Some(v) => return v
        case None    => () // raced — re-read the carried metadata
      }
    }
    -1L // unreachable
  }

  /** APPEND commit of externally-written parquet files — the executor-
    * side streaming-write registration: version N = the previous
    * version's files by reference PLUS `files` (already on disk, laid
    * out by the caller's own writers), stamped `#batch=` for replay
    * idempotence exactly like [[commitBatch]]. The append twin of
    * [[commitBatchExternal]] (which REPLACES). CHECK constraints
    * validate by reading the files back (one pass, only when checks
    * exist); schema merges under the log's evolution rules; a replayed
    * batch registers nothing (the files become vacuumable orphans —
    * the same contract external replace commits have). Partition-
    * DECLARED tables are refused loudly: a flat external file list
    * cannot be partition-pure, and silently dropping the layout would
    * break every partition-scoped read after it. */
  def appendExternal(spark: SparkSession, dir: String,
      files: Seq[String], schema: StructType, batchId: Long): Long = {
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      val (latest, m) = tip(spark, dir)
      if (m.mark.exists(batchId <= _)) return latest.get
      val pcs = m.partitionCols
      require(pcs.isEmpty,
        s"$dir declares partition columns (${pcs.mkString(",")}); " +
          "external appends are flat — stream through " +
          "format(\"graft-snapshot\")'s v1 sink (commitBatch lays out " +
          "partition-pure files) instead")
      if (m.checks.nonEmpty && files.nonEmpty && !validated.contains(m.checks)) {
        // external files carry PHYSICAL names; alias back for checks
        requireChecksPass(m.checks,
          readBackWritten(spark, m, files, Seq.empty, schema),
          s"external batch $batchId into $dir")
        validated = Some(m.checks)
      }
      val merged = m.schema.map(mergeSchemas(_, schema)).getOrElse(schema)
      // the deletion vector rides along (Manifest.nextBatch carries it)
      commitFiles(spark, dir, m.nextBatch(batchId).withSchema(merged)
          .copy(files = (m.files ++ files).sorted),
        java.util.UUID.randomUUID().toString, base = Some(latest)) match {
        case Some(v) => return v
        case None    => () // raced — re-read the carried metadata
      }
    }
    -1L // unreachable
  }

  /** Loud guard for streaming Complete-mode sinks (v1 [[SnapshotSink]]
    * and the v2 [[SnapshotStreamingWrite]]): their replace commits carry
    * FLAT file sets, so replacing a partition-DECLARED table would
    * silently drop its layout from the manifest — every subsequent
    * readPartition prune and partition-pure append would break. Refuse
    * with guidance instead (the [[appendExternal]] precedent). */
  private[sources] def requireUnpartitionedForReplace(spark: SparkSession,
      dir: String, what: String): Unit = {
    val pcs = tip(spark, dir)._2.partitionCols
    require(pcs.isEmpty,
      s"$dir declares partition columns (${pcs.mkString(",")}); $what " +
        "replaces the table with a FLAT snapshot, which would silently " +
        "drop the declared layout — stream in Append mode (partition-" +
        "pure commitBatch) or re-publish via commitPartitioned instead")
  }

  /** Every file any RETAINED manifest references — the caller-side
    * retention contract for [[commitBatchExternal]] files: anything not
    * in this set (and not the caller's live copy) is safe to reclaim. */
  def referencedFiles(spark: SparkSession, dir: String): Set[String] =
    versions(spark, dir).flatMap(filesOf(spark, dir, _)).toSet
}
