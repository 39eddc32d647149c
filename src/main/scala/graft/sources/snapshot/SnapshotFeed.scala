package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Reads and the change protocol: read, changesBetween, poll/ack cursors, replicate, recorded change feed — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotFeed { this: SnapshotLog.type =>

  /** Read a specific version (default: latest). Plans from the
    * manifest's exact file list — orphaned or in-flight data files are
    * invisible by construction — and, when the manifest recorded a
    * schema, with THAT schema: files written before a column add read
    * typed nulls in the new column. Fails loudly on a vacuumed/unknown
    * version rather than returning a partial table. */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val (v, m) = versionAt(spark, dir, version)
    readAt(spark, dir, v, m)
  }

  /** A retained version (default: the latest) and its manifest — loud on
    * an empty log or a vacuumed/unknown version. */
  private[sources] def versionAt(spark: SparkSession, dir: String,
      version: Option[Long]): (Long, Manifest) = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of $dir does not exist (have ${vs.mkString(",")})")
    (v, manifest(spark, dir, v))
  }

  /** [[read]] of version `v` whose manifest `m` is already in hand. */
  private[sources] def readAt(spark: SparkSession, dir: String, v: Long,
      m: Manifest): DataFrame = {
    require(m.files.nonEmpty,
      s"version $v of $dir is an empty table (every row was deleted)")
    val f = fs(spark, dir)
    m.files.foreach(p => require(f.exists(new Path(p)),
      s"manifest v$v names a vacuumed file: $p — version retained but data gone"))
    readFiles(spark, dir, m, m.files)
  }

  /** The batch-scan substitution [[graft.plans.SnapshotBatchRead]]
    * plans DSv2 relations through: version `v`'s surviving files via
    * Spark's native VECTORIZED parquet scan ([[readFiles]] — deletion
    * vector anti-applied, hive partition values re-attached), instead
    * of the DSv2 scan's one-file-per-partition rows. None
    * when the substitution does not apply (no committed versions, a
    * version the relation names that does not exist — let the v2 scan
    * surface its own error — or a declared-empty file list, which the
    * v2 scan already reads as zero rows for free). */
  private[graft] def readForScan(spark: SparkSession, dir: String,
      version: Option[Long]): Option[DataFrame] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) None
    else {
      val v = version.getOrElse(vs.last)
      if (!vs.contains(v)) None
      else {
        val m = manifest(spark, dir, v)
        if (m.files.isEmpty) None else Some(readFiles(spark, dir, m, m.files))
      }
    }
  }

  // -------------------------------------------------------------------
  // Change data feed — row-level diffs between versions at file grain
  // -------------------------------------------------------------------

  /** Row-level changes from version `fromV` (exclusive) to `toV`
    * (inclusive) — the Delta/Iceberg change-data-feed shape, derived
    * purely from the manifests: columns of `toV`'s schema plus
    * `_change_type` ∈ insert|delete (and, when `keys` are given,
    * update_preimage|update_postimage).
    *
    * File-grain cost model: only files ADDED or REMOVED between the two
    * manifests are read — files carried by reference across every
    * intermediate commit (the vast majority at 100 TB under COW
    * merge/delete) are never opened. Within the changed files, a row
    * rewritten verbatim (a COW survivor: its file was rewritten but the
    * row didn't change) cancels out via `exceptAll` between the two row
    * multisets, so survivors don't masquerade as churn:
    * {{{
    *   inserts = rows(added files) exceptAll rows(removed files)
    *   deletes = rows(removed files) exceptAll rows(added files)
    * }}}
    * `exceptAll` here is one hash aggregation over the CHANGED rows only
    * (the count-difference plan the engine's own q_except_all uses) —
    * never a scan of the table.
    *
    * With `keys`, a delete and an insert sharing a key are re-labelled
    * as the pre/post images of an UPDATE (one additional
    * changed-rows-sized join); a consumer applying the feed elsewhere
    * ([[merge]] on a replica) can then upsert post-images and delete
    * true deletes — see the replica-sync law in SnapshotCdfSpec.
    *
    * Schema evolution: both sides are read under their OWN version's
    * schema and aligned to `toV`'s (typed nulls in added columns), so a
    * feed spanning a column add is well-typed. Requires both versions
    * still retained (loud failure otherwise — a vacuumed `fromV` cannot
    * yield a sound diff). */
  def changesBetween(spark: SparkSession, dir: String, fromV: Long,
      toV: Long, keys: Seq[String] = Seq.empty): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.contains(fromV) && vs.contains(toV),
      s"changesBetween needs both versions retained; have ${vs.mkString(",")}")
    require(fromV <= toV, s"fromV $fromV must not exceed toV $toV")
    val mFrom = manifest(spark, dir, fromV)
    val mTo = if (toV == fromV) mFrom else manifest(spark, dir, toV)
    val outSchema = mTo.schema.orElse(mFrom.schema)
    // a column RENAMED inside the span keeps its physical name — route
    // each side's logical names through it into toV's, or alignTo would
    // treat the renamed column as absent and null it out of the feed
    val cmTo = mTo.colmap
    val physToTo = cmTo.map(_.swap)
    def toEndNames(m: Manifest, df: DataFrame): DataFrame = {
      val cmV = m.colmap
      if (cmV == cmTo) df
      else df.select(df.columns.toSeq.map { c =>
        val phys = cmV.getOrElse(c, c)
        col(s"`$c`").as(physToTo.getOrElse(phys, phys))
      }: _*)
    }
    def readSide(v: Long, m: Manifest, paths: Seq[String]): DataFrame = {
      val raw =
        if (paths.isEmpty) {
          val s = m.schema.getOrElse(readAt(spark, dir, v, m).schema)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        } else readFiles(spark, dir, m, paths) // applies m's deletion vector
      val named = toEndNames(m, raw)
      // READ fill: a column added after v reads its frozen default here
      // exactly as the toV table scan would (never NULL-vs-default skew)
      outSchema.map(alignToRead(named, _)).getOrElse(named)
    }
    val before = mFrom.files
    val after = mTo.files
    val added = after.filterNot(before.contains(_))
    val removed = before.filterNot(after.contains(_))
    val addedRows = readSide(toV, mTo, added)
    val removedRows = readSide(fromV, mFrom, removed)
    // survivor cancellation only matters when a commit both added AND
    // removed files (a COW rewrite); pure appends and pure drops —
    // streaming's common case — are one scan of the changed files with
    // zero shuffle (removedRows/addedRows is the empty relation there)
    val both = added.nonEmpty && removed.nonEmpty
    val ins = (if (both) addedRows.exceptAll(removedRows) else addedRows)
      .withColumn("_change_type", lit("insert"))
    // MoR deletes change NO files — they grow the deletion vector. Rows
    // tombstoned between the versions (positions in toV's DV but not
    // fromV's) are read back by (file, row_index) and join the delete
    // leg; a compaction that APPLIES a DV is already silent through the
    // file diff (removed files read DV-applied cancel against the
    // rewritten survivors).
    val dvDeletes: Option[DataFrame] = {
      val toDvName = mTo.dv
      val fromDvName = mFrom.dv
      if (toDvName.isEmpty || toDvName == fromDvName) None
      else {
        val toDv = dvPositions(spark, dir, toDvName.get)
        val fromDv = fromDvName.map(dvPositions(spark, dir, _))
        val delta = fromDv.map(toDv.exceptAll).getOrElse(toDv)
        // only positions in files CARRIED across both versions: a row
        // tombstoned in a file that was itself added/removed within the
        // span is already accounted by the DV-applied file diff above —
        // reading it here would emit the delete twice
        val carried = before.map(p => new Path(p).toUri.getPath).toSet
          .intersect(after.map(p => new Path(p).toUri.getPath).toSet)
        val paths = delta.select("path").distinct()
          .collect().map(_.getString(0))
          .filter(p => carried.contains(new Path(p).toUri.getPath))
        if (paths.isEmpty) None
        else {
          // files carry PHYSICAL names; alias straight to toV's logical
          // (the feed's output names), same translation as readSide
          val cmF = mFrom.colmap
          val raw = mFrom.schema match {
            case Some(s0) => spark.read
              .schema(physicalSchema(cmF, s0)).parquet(paths: _*)
            case None     => spark.read.parquet(paths: _*)
          }
          val cols = raw.columns.toSeq
          val rows = raw
            .withColumn("__dv_f", col("_metadata.file_path"))
            .withColumn("__dv_i", col("_metadata.row_index"))
            .join(delta, col("__dv_f") === col("path") &&
              col("__dv_i") === col("row_index"), "left_semi")
            .select(cols.map(c =>
              col(s"`$c`").as(physToTo.getOrElse(c, c))): _*)
          Some(outSchema.map(alignToRead(rows, _)).getOrElse(rows)
            .withColumn("_change_type", lit("delete")))
        }
      }
    }
    val delBase = (if (both) removedRows.exceptAll(addedRows)
      else removedRows)
      .withColumn("_change_type", lit("delete"))
    val del = dvDeletes.map(delBase.unionByName(_)).getOrElse(delBase)
    if (keys.isEmpty) ins.unionByName(del)
    else {
      // a key present on BOTH sides is an update; re-label its images.
      // Both join sides are changed-rows-sized (and key-pruned).
      val updKeys = ins.select(keys.map(col): _*)
        .intersect(del.select(keys.map(col): _*))
      def relabel(side: DataFrame, asUpdate: String) = {
        val flagged = side.join(updKeys.withColumn("__u", lit(true)),
          keys, "left_outer")
        flagged.withColumn("_change_type",
          when(col("__u"), lit(asUpdate)).otherwise(col("_change_type")))
          .drop("__u")
      }
      relabel(ins, "update_postimage")
        .unionByName(relabel(del, "update_preimage"))
    }
  }

  /** Incremental change-feed SUBSCRIPTION over a snapshot log — the
    * "stream the table's changes" verb without a custom streaming
    * source: each [[pollChanges]] call returns the row-level feed since
    * the subscriber's last acknowledged version, and [[ackChanges]]
    * advances the cursor AFTER the subscriber has durably applied the
    * batch — the two-phase shape that makes the loop at-least-once
    * (crash between poll and ack ⇒ the next poll re-delivers; pair with
    * an idempotent apply like [[merge]]'s keyed upsert or [[mergeBatch]]
    * replay guards). The cursor is one tiny text file owned by the
    * SUBSCRIBER (each consumer its own cursor — fan-out without
    * coordination), not by the log.
    *
    * Cost model: a poll reads manifests + only the files ADDED/REMOVED
    * (or DV-delta positions) between cursor and latest — the
    * [[changesBetween]] contract — so an idle poll is one small-file
    * read and a busy poll is ∝ the churn. The cursor version must stay
    * retained ([[vacuum]] keepLast ≥ the subscriber's lag) or the poll
    * fails loudly rather than emit an unsound diff. */
  def pollChanges(spark: SparkSession, dir: String, cursorFile: String,
      keys: Seq[String] = Seq.empty,
      maxVersions: Option[Long] = None,
      maxBytes: Option[Long] = None): Option[(DataFrame, Long)] =
    pollChangesWithLatest(spark, dir, cursorFile, keys, maxVersions,
      maxBytes) match {
      case (Some(feed), latest) => Some((feed, latest))
      case (None, _)            => None
    }

  /** [[pollChanges]] that also returns the log's latest version when
    * CAUGHT UP — a SQL/TVF caller building an empty same-shape
    * response must not pay a second version listing for it (the idle
    * poll is the scheduler-loop common case).
    *
    * `maxVersions` is the cursor protocol's ADMISSION control (the
    * poll/ack twin of the stream's maxVersionsPerTrigger): a
    * subscriber far behind catches up in bounded bites of ≤ m versions
    * per poll instead of one span-sized diff — the returned ack
    * version is the BITE's end, so the loop converges ack by ack. The
    * first poll of a bounded subscription serves the table AS OF the
    * earliest retained version + m − 1 (a bounded initial snapshot),
    * and later polls diff forward from the cursor.
    *
    * `maxBytes` is the BYTE-grain twin (the stream's
    * maxBytesPerTrigger): admit versions until their NEW data-file
    * bytes cross the budget — the crossing version rides (a single fat
    * version is served alone rather than wedging the loop), and the
    * first pending version is always admitted. On the FIRST poll the
    * budget bounds the initial snapshot instead: the bite serves the
    * table AS OF the newest early version whose TOTAL bytes still fit
    * (at least the earliest retained). Both caps compose — versions
    * first, bytes tighten. */
  def pollChangesWithLatest(spark: SparkSession, dir: String,
      cursorFile: String,
      keys: Seq[String] = Seq.empty,
      maxVersions: Option[Long] = None,
      maxBytes: Option[Long] = None): (Option[DataFrame], Long) = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val latest = vs.last
    val f = fs(spark, dir)
    val cp = new Path(cursorFile)
    val from: Option[Long] =
      if (!f.exists(cp)) None
      else {
        // a garbled cursor (external truncation/edit, checksum mismatch —
        // ackChanges itself writes temp-then-rename) must fail
        // ACTIONABLY, not with a bare NumberFormatException or
        // ChecksumException that names nothing
        def unreadable(detail: String, cause: Throwable = null) =
          new IllegalStateException(
            s"subscription cursor $cursorFile is unreadable ($detail) — " +
              "it should hold one version number. Recover by writing " +
              "the last version this subscriber durably APPLIED, or " +
              "delete the file to restart the subscription from a full " +
              "initial feed.", cause)
        val txt =
          try {
            val in = f.open(cp)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          } catch { case scala.util.control.NonFatal(e) =>
            throw unreadable(e.toString, e)
          }
        Some(txt.toLongOption
          .getOrElse(throw unreadable(s"content: '${txt.take(40)}'")))
      }
    maxVersions.foreach(m => require(m >= 1,
      s"maxVersions must be >= 1, got $m"))
    maxBytes.foreach(b => require(b >= 1,
      s"maxBytes must be >= 1, got $b"))
    val vset = vs.toSet
    // Byte-budget admission's metadata cost is bounded PER POLL, not
    // per (version × file): file LISTS cache per version (newBytesOf
    // visits v and v−1, and the admission loop walks consecutive
    // versions — each manifest reads once) and file SIZES cache per
    // path (consecutive versions share most data files — each file
    // stats at most once per poll, not once per referencing version).
    // On a long-history table the bounded bootstrap is O(distinct
    // files) getFileStatus calls instead of O(versions × files).
    val fileListCache =
      scala.collection.mutable.HashMap.empty[Long, Seq[String]]
    def filesCached(v: Long): Seq[String] =
      fileListCache.getOrElseUpdate(v, filesOf(spark, dir, v))
    val sizeCache = scala.collection.mutable.HashMap.empty[String, Long]
    def bytesOf(paths: Seq[String]): Long =
      paths.map(p => sizeCache.getOrElseUpdate(p,
        f.getFileStatus(new Path(p)).getLen)).sum
    // NEW data-file bytes version v contributes over its predecessor
    def newBytesOf(v: Long): Long = {
      def norm(p: String) = new Path(p).toUri.getPath
      val prev =
        if (vset.contains(v - 1)) filesCached(v - 1).map(norm).toSet
        else Set.empty[String]
      bytesOf(filesCached(v).filterNot(p => prev.contains(norm(p))))
    }
    from match {
      case Some(v) if v == latest => (None, latest) // caught up
      case Some(v) =>
        // retention raced past this subscriber: the diff since v cannot
        // be served soundly (deletes between v and the earliest retained
        // version are gone). Refuse HERE, naming the cursor and the
        // recovery path — never a silent empty poll, and never the bare
        // changesBetween message that names neither.
        if (!vs.contains(v)) throw new IllegalStateException(
          s"subscription cursor $cursorFile acknowledges version $v of " +
            s"$dir, which retention has dropped (retained: " +
            s"${vs.mkString(",")}) — the changes since it cannot be " +
            "served soundly (deletes in the vacuumed span are " +
            "unrecoverable). Resync the subscriber: clear/rebuild the " +
            "replica and delete the cursor file to restart from a full " +
            "initial feed (a re-bootstrap over a STALE replica would " +
            "miss those deletes), then vacuum with keepLast >= the " +
            "slowest subscriber's lag to prevent recurrence.")
        val vCap = maxVersions
          .fold(latest)(m => math.min(latest, v + m))
        // byte budget tightens the version cap: the crossing version is
        // included, the first pending version always rides
        val target = maxBytes match {
          case None => vCap
          case Some(budget) =>
            var cur = v; var bytes = 0L
            while (cur < vCap && bytes < budget) {
              cur += 1
              bytes += newBytesOf(cur)
            }
            cur
        }
        (Some(changesBetween(spark, dir, v, target, keys)), target)
      case None =>
        // first poll: the current table is the initial feed — under
        // admission, the table AS OF a bounded early version instead,
        // so the bootstrap bite is proportional to history's start,
        // not to the whole accumulated table
        val vCap0 = maxVersions
          .fold(latest)(m => math.min(latest, vs.head + m - 1))
        // byte budget bounds the initial SNAPSHOT: the newest early
        // version whose total bytes still fit, at least the earliest
        // retained (a single fat first version serves alone)
        val v0 = maxBytes match {
          case None => vCap0
          case Some(budget) =>
            // index walk over the (sorted) retained versions — never an
            // O(n) vs.find per admitted version; file lists/sizes come
            // from the per-poll caches above
            var i = 0 // vs(i) = admitted so far; the head always rides
            while (i + 1 < vs.length && vs(i + 1) <= vCap0 &&
                bytesOf(filesCached(vs(i + 1))) <= budget) i += 1
            vs(i)
        }
        (Some(read(spark, dir, Some(v0))
          .withColumn("_change_type", lit("insert"))), v0)
    }
  }

  /** Advance the subscriber's cursor to `version` — call AFTER the
    * polled batch is durably applied. Temp-write-then-rename (the
    * [[LogStore]] overwrite primitive): a crash mid-ack leaves the OLD
    * cursor intact — the next poll re-delivers (at-least-once, the
    * subscription's contract) — never an empty or torn file. */
  def ackChanges(spark: SparkSession, dir: String, cursorFile: String,
      version: Long): Unit =
    store.overwriteAtomic(fs(spark, dir), new Path(cursorFile),
      version.toString.getBytes("UTF-8"))

  /** Apply a keyed [[changesBetween]] feed to ANOTHER snapshot log — the
    * replica-sync verb. Post-images and inserts upsert, deletes delete,
    * pre-images are informational and ignored; one [[merge]] commit, so
    * the replica advances atomically and the rewrite touches only its
    * files that hold a changed key. `SnapshotCdfSpec` pins the law:
    * replica ∘ applyChanges(feed) == source, version over version. */
  def applyChanges(spark: SparkSession, dir: String, feed: DataFrame,
      keys: Seq[String]): Long =
    merge(spark, dir,
      feed.filter(col("_change_type") =!= "update_preimage")
        .withColumn("__is_del", col("_change_type") === "delete")
        .drop("_change_type"),
      keys,
      deleteWhen = Some(col("__is_del")), dropCols = Seq("__is_del"))

  /** CDC REPLICATION between snapshot tables, end to end over the
    * engine's own machinery: stream `srcDir`'s recorded change feed
    * (`readChangeFeed` — the source table needs
    * [[ChangeFeedProperty]]=true for any rewriting history) and apply
    * each micro-batch to `dstDir` as ONE keyed [[mergeBatch]] commit.
    * Exactly-once end to end: the stream's version-grain offsets replay
    * un-committed ranges, and the `#batch=` header makes the replayed
    * apply a no-op. Default `Trigger.AvailableNow` gives the scheduled
    * "catch up, then exit" job; pass a processing-time trigger for a
    * continuous replica.
    *
    * A batch may span VERSIONS, so same-key changes collapse to the
    * newest `_commit_version` first (within one version a REPLACE WHERE
    * can delete and re-insert a key — the insert is the final state, so
    * deletes order below). NULL-keyed inserts match nothing and all
    * apply. Scale: the collapse window is keyed on the CHANGES, never
    * the table; the apply rewrites only replica files holding a changed
    * key (the merge cost model). */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      keys: Seq[String], checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxBytesPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keys.nonEmpty, "replicate needs at least one key column")
    val reader = spark.readStream
      .format("graft.sources.SnapshotStreamSource")
      .option("path", srcDir).option("readChangeFeed", "true")
    // bounds every bite INCLUDING the bootstrap: the initial snapshot
    // splits at file grain under this budget, so a 100 TB source
    // becomes a sequence of bounded merge commits, not one
    maxBytesPerTrigger.foreach(b =>
      reader.option("maxBytesPerTrigger", b.toString))
    reader.load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyChangeBatch(batch.sparkSession, dstDir, batch, keys, id)
        ()
      }
      .start()
  }

  /** One replicated micro-batch: collapse to the newest action per key,
    * then one replay-guarded keyed merge commit ([[replicate]]'s apply
    * half, separable for foreachBatch composition and the spec). */
  def applyChangeBatch(spark: SparkSession, dstDir: String,
      batch: DataFrame, keys: Seq[String], batchId: Long): Long = {
    // pre-images are informational for a keyed applier
    val acts = batch.filter(col("_change_type") =!= "update_preimage")
    val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
    // NULL-keyed inserts match nothing and ALL apply — never collapsed
    // (a key-partitioned window would wrongly fold them into one). A
    // NULL-keyed DELETE/UPDATE cannot be applied BY KEY (NULL matches
    // nothing) — silently skipping it would quietly diverge the
    // replica — so the guard rides THIS slice's evaluation inside the
    // merge's own pass (raise_error, zero dedicated jobs): any
    // non-insert reaching it aborts the batch before anything commits
    val nullIns = acts.filter(anyKeyNull)
      .withColumn("_change_type",
        when(col("_change_type") === "insert", col("_change_type"))
          .otherwise(raise_error(lit(
            "change feed carries a delete/update with a NULL key in " +
              s"(${keys.mkString(",")}) — NULL matches nothing, so the " +
              "change cannot be applied by key; replicate on columns " +
              "the source never rewrites under NULL"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "delete", 0).otherwise(1).desc)
    val winners = acts.filter(!anyKeyNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    mergeBatch(spark, dstDir, winners.unionByName(nullIns), keys, batchId,
      deleteWhen = Some(col("_change_type") === lit("delete")),
      dropCols = Seq("_change_type", "_commit_version",
        "_commit_timestamp"),
      insertOnlyWhen = Some(col("_change_type") === lit("insert")))
  }

  /** The RECORDED change feed as one BATCH DataFrame over versions
    * `[fromV, toV]` (both inclusive) — the Delta `table_changes` shape
    * and the batch twin of `readStream.option("readChangeFeed")`:
    * per-version accumulated changes, columns = toV's schema +
    * `_change_type` + `_commit_version` + `_commit_timestamp`. Per
    * version: a RECORDED commit
    * ([[ChangeFeedProperty]]) contributes exactly its change files, a
    * pure append its added files as inserts, the table's FIRST version
    * its full file list; any other shape refuses loudly. This view
    * differs from [[changesBetween]] by design: changesBetween is an
    * ENDPOINT diff (intra-span churn cancels — the replica-sync view),
    * changeFeed shows every commit's changes (the audit/stream-parity
    * view). Plan size grows with the span — long spans belong on the
    * streaming source. */
  def changeFeed(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    val vs = versions(spark, dir)
    require(fromV <= toV, s"fromV $fromV must not exceed toV $toV")
    require(vs.contains(fromV) && vs.contains(toV),
      s"changeFeed needs both versions retained; have ${vs.mkString(",")}")
    val vset = vs.toSet
    // each version's manifest is read once; version v-1's is reused as
    // v's predecessor
    val ms = scala.collection.mutable.HashMap.empty[Long, Manifest]
    def mOf(v: Long): Manifest = ms.getOrElseUpdate(v, manifest(spark, dir, v))
    val mTo = mOf(toV)
    val outSchema = mTo.schema.getOrElse(readAt(spark, dir, toV, mTo).schema)
    val cmTo = mTo.colmap
    val physToTo = cmTo.map(_.swap)
    // outSchema + the three feed columns, read-filled (defaults, not
    // NULL). _commit_timestamp = the version's commit point (manifest
    // rename mtime, the same clock history()/TIMESTAMP AS OF read) —
    // the Delta table_changes shape's third marker.
    def shape(df: DataFrame, v: Long): DataFrame =
      df.select(outSchema.fields.toSeq.map { fld =>
        if (df.columns.contains(fld.name)) col(s"`${fld.name}`")
        else readFill(fld)
      } :+ col("_change_type"): _*)
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(commitTimeMillis(spark, dir, v))))
    // walk the RANGE, not the retained list: a vacuumed mid-span
    // version must refuse loudly, never silently drop its changes
    val legs = (fromV to toV).flatMap { v =>
      require(vset.contains(v),
        s"version $v of $dir is gone (vacuumed?) — its changes cannot " +
          s"be served; narrow the span (have ${vs.mkString(",")})")
      val m = mOf(v)
      m.changeFiles match {
        case Some(cfs) if cfs.isEmpty => None // recorded zero changes
        case Some(cfs) =>
          val cmV = m.colmap
          val sV = m.schema.getOrElse(outSchema)
          val physChange = StructType(physicalSchema(cmV, sV).fields :+
            StructField("_change_type",
              org.apache.spark.sql.types.StringType))
          val raw = spark.read.schema(physChange).parquet(cfs: _*)
          // physical → v's logical → toV's logical names
          val logical = raw.select(sV.fields.toSeq.map { f =>
            val phys = cmV.getOrElse(f.name, f.name)
            col(s"`$phys`").as(physToTo.getOrElse(phys, f.name))
          } :+ col("_change_type"): _*)
          Some(shape(logical, v))
        case None =>
          val files = m.files
          def norm(p: String): String = new Path(p).toUri.getPath
          val prev: Seq[String] =
            if (vset.contains(v - 1)) mOf(v - 1).files
            // versions are claimed densely from 1, so ONLY v1 is the
            // table's genuine first version — an oldest-RETAINED v>1
            // after a prefix vacuum must refuse, or its accumulated
            // file list would masquerade as that version's inserts
            else if (v == 1L) Seq.empty
            else throw new IllegalStateException(
              s"version ${v - 1} of $dir (the predecessor of feed " +
                s"version $v) is gone (vacuumed?) — its inserts cannot " +
                "be derived; narrow the span to retained versions")
          val prevSet = prev.map(norm).toSet
          val curSet = files.map(norm).toSet
          require(prev.forall(p => curSet.contains(norm(p))),
            s"version $v of $dir rewrote files without recording its " +
              s"changes — set TBLPROPERTIES ('$ChangeFeedProperty'=" +
              "'true') so rewrite verbs record them")
          require(m.dv == (if (vset.contains(v - 1)) mOf(v - 1).dv else None),
            s"version $v of $dir grew its deletion vector without " +
              s"recording its changes — set TBLPROPERTIES " +
              s"('$ChangeFeedProperty'='true')")
          val added = files.filterNot(p => prevSet.contains(norm(p)))
          if (added.isEmpty) None
          else {
            val raw = readFiles(spark, dir, m, added)
            val cmV = m.colmap
            val named =
              if (cmV == cmTo) raw
              else raw.select(raw.columns.toSeq.map { c =>
                val phys = cmV.getOrElse(c, c)
                col(s"`$c`").as(physToTo.getOrElse(phys, phys))
              }: _*)
            Some(shape(named.withColumn("_change_type", lit("insert")), v))
          }
      }
    }
    if (legs.isEmpty) {
      val s = StructType(outSchema.fields :+
        StructField("_change_type",
          org.apache.spark.sql.types.StringType) :+
        StructField("_commit_version",
          org.apache.spark.sql.types.LongType) :+
        StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else legs.reduce(_.unionByName(_))
  }

  /** Version `v`'s commit point in epoch millis — the manifest's rename
    * mtime, the atomic visibility transition (the clock history(),
    * TIMESTAMP AS OF and the feed's `_commit_timestamp` all share). */
  private[sources] def commitTimeMillis(spark: SparkSession, dir: String,
      v: Long): Long =
    fs(spark, dir).getFileStatus(manifestPath(dir, v)).getModificationTime

  /** [[changeFeed]] with TIMESTAMP bounds — the Delta CDF
    * startingTimestamp/endingTimestamp form: `fromTsMillis` resolves to
    * the EARLIEST version committed at or after it, `toTsMillis` to the
    * NEWEST at or before it ([[versionAsOf]] — a pre-creation instant
    * still refuses loudly: serving history from before the table
    * existed would fabricate it). A window that spans NO commit returns
    * the EMPTY same-shape feed (the caught-up-poll convention): "what
    * changed between 2pm and 3pm" legitimately answers "nothing". Both
    * bounds read the same clock the feed's own `_commit_timestamp`
    * carries.
    *
    * Vacuumed-prefix soundness: when retention has dropped the table's
    * early versions (`vs.head > 1`), a from-bound that predates the
    * earliest RETAINED commit spans changes that no longer exist — the
    * retained head still has recorded change files, so serving from it
    * would silently omit the vacuumed versions' changes. That window
    * REFUSES loudly instead (the same rule [[pollChanges]] applies to a
    * vacuumed cursor and [[changeFeed]] to a vacuumed mid-span), the
    * Delta CDF out-of-range discipline. */
  def changeFeedBetweenTimestamps(spark: SparkSession, dir: String,
      fromTsMillis: Long, toTsMillis: Long): DataFrame = {
    require(fromTsMillis <= toTsMillis,
      s"fromTs $fromTsMillis must not exceed toTs $toTsMillis")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val to = versionAsOf(spark, dir, toTsMillis)
    if (vs.head > 1L && fromTsMillis < commitTimeMillis(spark, dir, vs.head))
      throw new IllegalStateException(
        s"timestamp window [fromTs=$fromTsMillis] starts before the " +
          s"earliest retained commit of $dir (v${vs.head}; versions " +
          "before it were vacuumed) — the window may span vacuumed " +
          "commits whose changes cannot be served soundly. Move fromTs " +
          s"to >= ${commitTimeMillis(spark, dir, vs.head)} (v${vs.head}'s " +
          "commit time) to read retained history, or vacuum with a " +
          "longer retention to keep the span.")
    vs.find(v => commitTimeMillis(spark, dir, v) >= fromTsMillis) match {
      case Some(from) if from <= to => changeFeed(spark, dir, from, to)
      case _ => // no commit inside the window: empty, same shape
        val mTo = manifest(spark, dir, to)
        val base = mTo.schema.getOrElse(readAt(spark, dir, to, mTo).schema)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(base.fields :+
            StructField("_change_type",
              org.apache.spark.sql.types.StringType) :+
            StructField("_commit_version",
              org.apache.spark.sql.types.LongType) :+
            StructField("_commit_timestamp",
              org.apache.spark.sql.types.TimestampType)))
    }
  }
}
