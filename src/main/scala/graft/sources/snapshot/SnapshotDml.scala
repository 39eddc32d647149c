package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Rewrite verbs: sinks, deleteWhere, replaceWhere, overwritePartitions, updateWhere, merge, optimize — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotDml { this: SnapshotLog.type =>

  /** Wire a stream into a versioned table: one snapshot version per
    * micro-batch via [[commitBatch]]. */
  def sink(df: DataFrame, dir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitBatch(batch.sparkSession, dir, batch, id); ()
      }
      .start()

  /** Streaming UPSERT sink: each micro-batch [[mergeBatch]]es into the
    * table by key — later batches REPLACE earlier rows with the same key
    * instead of appending duplicates (what [[sink]] cannot express), and
    * rows where `deleteWhen` is true are tombstones. The streaming
    * MERGE shape of the Delta/Iceberg world: at-least-once replays
    * no-op via the batch id, per-batch write cost is COW (∝ files holding
    * a changed key), and the first batch bootstraps the table. The
    * caller must guarantee one row per key per batch (aggregate or
    * dedup upstream) — merge's duplicate guard fails the batch loudly
    * otherwise. */
  def mergeSink(df: DataFrame, dir: String, checkpointDir: String,
      keys: Seq[String], deleteWhen: Option[Column] = None,
      dropCols: Seq[String] = Seq.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch.sparkSession, dir, batch, keys, id,
          deleteWhen, dropCols); ()
      }
      .start()

  /** Copy-on-write targeted delete: commit a new version with every row
    * matching `pred` removed, REWRITING ONLY the files that contain a
    * match — untouched files are carried into the new manifest by
    * reference (file paths shared across versions; [[vacuum]] already
    * reasons per-file, so sharing is retention-safe). Returns the new
    * version, or the current one unchanged when nothing matches.
    *
    * NULL semantics: a row where `pred` evaluates to NULL was NOT
    * matched for deletion and MUST survive. Survivors are therefore
    * every row where the predicate is not definitely true —
    * `!coalesce(pred, false)` — because under SQL three-valued logic a
    * bare `filter(!pred)` would ALSO drop the NULL rows (both `pred`
    * and `!pred` are NULL there), silently losing data the caller never
    * asked to delete.
    *
    * Concurrency: the affected-file computation is a read-modify-write
    * against the latest version; if another commit lands before ours,
    * the base check aborts the manifest and the WHOLE operation rebases
    * (recomputes affected files against the new latest) — a delete
    * racing an append can never drop the append's files.
    *
    * This is the right-to-be-forgotten shape at 100 TB: locating
    * affected files is one pushdown-filtered scan (parquet footer
    * min/max skips most files without reading rows — pair with
    * [[optimize]] clustering on the delete key to keep the affected
    * set small), and the rewrite cost is proportional to the files the
    * key actually lives in, not the table. Old versions still see the
    * deleted rows until vacuumed — retention policy, not a leak: run
    * `vacuum(keepLast=1)` for hard deletion. */
  def deleteWhere(spark: SparkSession, dir: String,
      pred: Column): Long = {
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      val current = m.files
      def readCur(paths: Seq[String]) = readFiles(spark, dir, m, paths)
      // DV-composable: detection and the rewrite both read THROUGH the
      // version's deletion vector (readFiles), so a MoR-dead row can
      // neither mark a file affected nor resurrect in the rewrite; the
      // new version carries the vector minus the rewritten files'
      // entries (prunedDv). Detection pre-prunes at MANIFEST grain
      // (zone maps/blooms/partition tuples) — files the stats prove
      // unaffected never open a footer.
      val candidates = detectionCandidates(spark, dir, latest, m, pred)
      val affected =
        if (candidates.isEmpty) Set.empty[String]
        else readFilesTagged(spark, dir, m, candidates, Some("__f"))
          .filter(pred).select("__f")
          .distinct().collect().map(_.getString(0)).toSet
      // scan metadata reports URIs; manifests may store schemeless paths
      def hit(p: String) = affected.contains(p) ||
        affected.contains(new Path(p).toUri.toString) ||
        affected.exists(a => new Path(a).toUri.getPath == new Path(p).toUri.getPath)
      val (rewrite, carry) = current.partition(hit)
      if (rewrite.isEmpty) return latest
      val commitId = java.util.UUID.randomUUID().toString
      val survivors = readCur(rewrite).filter(!coalesce(pred, lit(false)))
      val newFiles =
        if (survivors.isEmpty) Seq.empty
        else writeData(spark, dir, m, survivors, commitId, m.partitionCols)
      // recorded change feed: the deleted pre-images ARE the commit's
      // exact row-level changes — write them as change files
      val cfiles =
        if (!cdfEnabled(dir, m)) None
        else Some(writeChangeFiles(spark, dir, m,
          readCur(rewrite).filter(coalesce(pred, lit(false)))
            .withColumn("_change_type", lit("delete")), commitId))
      commitFiles(spark, dir, withFiles(spark, m.next, carry, newFiles).copy(
          dv = prunedDv(spark, dir, m, rewrite), changeFiles = cfiles),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => // raced — recompute against the new latest; this
          // attempt's survivor rewrite is unreferenced, reclaim eagerly
          if (newFiles.nonEmpty) dropOrphanedCommitDir(spark, dir, commitId)
          if (cfiles.isDefined) dropOrphanedChangeDir(spark, dir, commitId)
      }
    }
    -1L // unreachable
  }

  /** `INSERT INTO ... REPLACE WHERE <pred>` as ONE atomic commit (the
    * Delta replaceWhere shape): the predicate's region is deleted
    * ([[deleteWhere]]'s COW machinery — only files holding a matched
    * row rewrite, survivors kept, DV composed) and `df`'s rows land as
    * fresh files, all in a single version — a reader never sees the
    * region empty. Contract guard (loud, Delta-style): every incoming
    * row must SATISFY the predicate — a row outside the region would
    * make the statement not an overwrite of that region; the guard
    * rides the fresh write as one more observed aggregate (zero extra
    * passes). CHECK constraints validate the same way; partition
    * layouts stay declared and partition-pure; three-valued logic
    * follows [[deleteWhere]] (NULL-pred rows survive). This is the
    * "reload a date range" ETL verb: cost = files intersecting the
    * region + the new data, never the table. */
  def replaceWhere(spark: SparkSession, dir: String, df: DataFrame,
      pred: Column): Long = {
    val commitId = java.util.UUID.randomUUID().toString
    var fresh: Seq[String] = null
    var writtenPcs: Seq[String] = null
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      val pcs = m.partitionCols
      val current = m.files
      def readCur(paths: Seq[String]) = readFiles(spark, dir, m, paths)
      val checks = m.checks
      if (fresh == null) {
        val (wired, assertChecks) =
          observedChecks(df, checks, commitId, s"REPLACE WHERE into $dir")
        val obs = new org.apache.spark.sql.Observation(
          s"graft-replwhere-$commitId")
        val guarded =
          try wired.observe(obs,
            sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L))
              .as("__outside"))
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                "REPLACE WHERE predicate must be evaluable on the " +
                  s"incoming rows: ${e.getMessage}")
          }
        fresh = writeData(spark, dir, m, guarded, commitId, pcs)
        writtenPcs = pcs
        assertChecks()
        val outside = Option(obs.get("__outside"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        require(outside == 0L,
          s"REPLACE WHERE into $dir: $outside incoming row(s) do NOT " +
            "match the predicate — the statement would write outside " +
            "the replaced region; fix the query or widen the predicate")
        validated = Some(checks)
      } else {
        require(writtenPcs == pcs,
          s"partition layout of $dir changed concurrently (was " +
            s"${writtenPcs.mkString(",")}, now ${pcs.mkString(",")}) — " +
            "retry the statement")
        if (!validated.contains(checks)) {
          requireChecksPass(checks, df, s"REPLACE WHERE into $dir")
          validated = Some(checks)
        }
      }
      // region rewrite — the deleteWhere recipe, same DV composition
      // and the same manifest-grain detection pre-prune
      val candidates = detectionCandidates(spark, dir, latest, m, pred)
      val affected =
        if (candidates.isEmpty) Set.empty[String]
        else readFilesTagged(spark, dir, m, candidates, Some("__f"))
          .filter(pred).select("__f")
          .distinct().collect().map(_.getString(0)).toSet
      def hit(p: String) = affected.contains(p) ||
        affected.contains(new Path(p).toUri.toString) ||
        affected.exists(a =>
          new Path(a).toUri.getPath == new Path(p).toUri.getPath)
      val (rewrite, carry) = current.partition(hit)
      var survivorId: String = null
      val rewritten =
        if (rewrite.isEmpty) Seq.empty
        else {
          val survivors = readCur(rewrite)
            .filter(!coalesce(pred, lit(false)))
          if (survivors.isEmpty) Seq.empty
          else {
            // own commit dir: the fresh files already claimed
            // data/<commitId>, and a rebase retry re-rewrites anyway
            survivorId = java.util.UUID.randomUUID().toString
            writeData(spark, dir, m, survivors, survivorId, pcs)
          }
        }
      val merged = m.schema.map(mergeSchemas(_, df.schema))
        .getOrElse(df.schema)
      // recorded change feed: the replaced region's pre-images are the
      // deletes; the incoming rows are the inserts — read BACK from the
      // fresh files (never a second evaluation of the incoming plan).
      // Fresh files persist across rebase retries, change dirs don't —
      // one uuid per attempt, reclaimed on a lost race.
      val changeId = java.util.UUID.randomUUID().toString
      val cfiles =
        if (!cdfEnabled(dir, m)) None
        else {
          val legs = scala.collection.mutable.ArrayBuffer[DataFrame]()
          if (rewrite.nonEmpty)
            legs += alignTo(readCur(rewrite)
              .filter(coalesce(pred, lit(false))), merged)
              .withColumn("_change_type", lit("delete"))
          // an empty incoming frame (delete-the-region idiom) writes no
          // data files — and must not try to read them back
          if (fresh.nonEmpty)
            legs += readBackWritten(spark, m, fresh,
              writtenPcs, merged).withColumn("_change_type", lit("insert"))
          Some(if (legs.isEmpty) Seq.empty
          else writeChangeFiles(spark, dir, m,
            legs.reduce(_.unionByName(_)), changeId))
        }
      commitFiles(spark, dir, withFiles(spark, m.next, carry, rewritten ++ fresh)
          .withSchema(merged)
          .copy(dv = prunedDv(spark, dir, m, rewrite), changeFiles = cfiles),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => // raced — recompute against the new latest. The
          // fresh files are REUSED next attempt, but this attempt's
          // survivor rewrite is unreferenced garbage — reclaim eagerly
          // instead of leaving it to the grace-period vacuum
          if (survivorId != null) dropOrphanedCommitDir(spark, dir, survivorId)
          if (cfiles.isDefined) dropOrphanedChangeDir(spark, dir, changeId)
      }
    }
    -1L // unreachable
  }

  /** DYNAMIC partition overwrite (`INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`): replace
    * exactly the partitions the incoming data TOUCHES, atomically, and
    * carry every other partition by reference. Pure MANIFEST surgery on
    * a partition-declared table: the incoming tuples derive from the
    * fresh files' own partition-pure paths (no second evaluation of
    * `df`), dropped files are the current files whose RECORDED tuple is
    * in that set (partition purity means no row survives them), and no
    * old data is read at all — O(manifest) planning cost regardless of
    * table size, the dynamic-overwrite twin of [[readPartition]]'s
    * manifest-grain prune. CHECK constraints ride the fresh write;
    * DV entries of dropped files are pruned; stats/layout carried. */
  def overwritePartitions(spark: SparkSession, dir: String,
      df: DataFrame): Long = {
    val commitId = java.util.UUID.randomUUID().toString
    var fresh: Seq[String] = null
    var writtenPcs: Seq[String] = null
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      val pcs = m.partitionCols
      require(pcs.nonEmpty,
        s"$dir declares no partition columns — dynamic partition " +
          "overwrite needs a declared layout (a plain INSERT OVERWRITE " +
          "replaces the whole table)")
      val checks = m.checks
      if (fresh == null) {
        val (wired, assertChecks) = observedChecks(df, checks, commitId,
          s"dynamic partition overwrite into $dir")
        fresh = writeData(spark, dir, m, wired, commitId, pcs)
        writtenPcs = pcs
        assertChecks()
        validated = Some(checks)
      } else {
        require(writtenPcs == pcs,
          s"partition layout of $dir changed concurrently (was " +
            s"${writtenPcs.mkString(",")}, now ${pcs.mkString(",")}) — " +
            "retry the statement")
        if (!validated.contains(checks)) {
          requireChecksPass(checks, df,
            s"dynamic partition overwrite into $dir")
          validated = Some(checks)
        }
      }
      val incoming = fresh.map(p => partTupleOfPath(p, pcs)).toSet
      val parts = m.fileParts
      val current = m.files
      val unrecorded = current.filterNot(parts.contains)
      require(unrecorded.isEmpty,
        s"$dir has ${unrecorded.size} file(s) without recorded partition " +
          "tuples — dynamic overwrite decides at manifest grain and " +
          "cannot prove them disjoint from the replaced partitions; " +
          "re-publish the table via commitPartitioned first")
      val (dropped, carried) = current.partition(p =>
        incoming.contains(pcs.map(c => c -> parts(p)(c))))
      val merged = m.schema.map(mergeSchemas(_, df.schema))
        .getOrElse(df.schema)
      // recorded change feed: replaced partitions' rows (partition-pure
      // dropped files, DV-applied) are the deletes, the fresh files the
      // inserts — without this, a dynamic INSERT OVERWRITE on a CDF
      // table would wedge every feed reader with a misleading refusal.
      // This is the one cost CDF adds here: the verb stays O(manifest)
      // with the feed off, and pays one read of the REPLACED partitions
      // (never the table) when it is on.
      val changeId = java.util.UUID.randomUUID().toString
      val cfiles =
        if (!cdfEnabled(dir, m)) None
        else {
          val legs = scala.collection.mutable.ArrayBuffer[DataFrame]()
          if (dropped.nonEmpty)
            legs += alignToRead(readFiles(spark, dir, m, dropped),
              merged).withColumn("_change_type", lit("delete"))
          if (fresh.nonEmpty)
            legs += readBackWritten(spark, m, fresh,
              writtenPcs, merged)
              .withColumn("_change_type", lit("insert"))
          Some(if (legs.isEmpty) Seq.empty
          else writeChangeFiles(spark, dir, m,
            legs.reduce(_.unionByName(_)), changeId))
        }
      commitFiles(spark, dir, withFiles(spark, m.next, carried, fresh)
          .withSchema(merged)
          .copy(dv = prunedDv(spark, dir, m, dropped), changeFiles = cfiles),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => // raced — recompute against the new latest; the
          // fresh files are reused, this attempt's change dir is not
          if (cfiles.isDefined) dropOrphanedChangeDir(spark, dir, changeId)
      }
    }
    -1L // unreachable
  }

  /** UPDATE ... SET ... WHERE as a copy-on-write commit — the third
    * row-level verb beside [[deleteWhere]] and [[merge]]: every row
    * where `pred` is definitely TRUE gets each `set` column replaced by
    * its expression (evaluated against the row — `set` values may
    * reference other columns); NULL-pred rows are untouched (the
    * [[deleteWhere]] three-valued rule, mirrored). Only files holding a
    * matched row are rewritten — everything else carries by reference,
    * so a sparse update against a clustered 100 TB table rewrites a
    * handful of files. Loud guards: `set` may not name an unknown
    * column, and each expression is cast to the column's existing type
    * (an UPDATE must never mutate the schema — that is [[merge]]'s
    * widening job). CHECK constraints validate the POST-IMAGES of
    * matched rows in one fused pass before anything commits. Returns
    * the current version unchanged when nothing matches. DV-composable
    * like every rewriting verb (the [[deleteWhereMoR]] contract). */
  def updateWhere(spark: SparkSession, dir: String, pred: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      val current = m.files
      def readCur(paths: Seq[String]) = readFiles(spark, dir, m, paths)
      val tableSchema = m.schema.getOrElse(readCur(current).schema)
      val unknown = set.keySet.diff(tableSchema.fieldNames.toSet)
      require(unknown.isEmpty,
        s"UPDATE sets unknown column(s) ${unknown.mkString(",")} — " +
          "schema changes go through merge, not updateWhere")
      // DV-composable (the deleteWhere rule): detection + rewrite read
      // through the vector; the commit prunes rewritten files' entries.
      // Manifest-grain pre-prune like deleteWhere's.
      val candidates = detectionCandidates(spark, dir, latest, m, pred)
      val affected =
        if (candidates.isEmpty) Set.empty[String]
        else readFilesTagged(spark, dir, m, candidates, Some("__f"))
          .filter(pred).select("__f")
          .distinct().collect().map(_.getString(0)).toSet
      def hitF(p: String) = affected.contains(p) ||
        affected.contains(new Path(p).toUri.toString) ||
        affected.exists(a =>
          new Path(a).toUri.getPath == new Path(p).toUri.getPath)
      val (rewrite, carry) = current.partition(hitF)
      if (rewrite.isEmpty) return latest
      val hit = coalesce(pred, lit(false))
      val rewritten = readCur(rewrite).select(
        tableSchema.fields.toSeq.map { fld =>
          set.get(fld.name) match {
            case Some(e) =>
              when(hit, e.cast(fld.dataType)).otherwise(col(fld.name))
                .as(fld.name)
            case None => col(fld.name)
          }
        }: _*)
      // post-images for validation: filter on the PRE-image predicate
      // first, then apply the SET unconditionally — filtering `rewritten`
      // would re-evaluate the predicate against already-updated rows
      val matchedPost = readCur(rewrite).filter(hit).select(
        tableSchema.fields.toSeq.map { fld =>
          set.get(fld.name).map(_.cast(fld.dataType).as(fld.name))
            .getOrElse(col(fld.name))
        }: _*)
      requireChecksPass(m.checks, matchedPost, s"UPDATE post-images in $dir")
      val commitId = java.util.UUID.randomUUID().toString
      val newFiles = writeData(spark, dir, m, rewritten, commitId, m.partitionCols)
      // recorded change feed: matched pre-images + their post-images
      // (both frames the verb already has — checks validate matchedPost)
      val cfiles =
        if (!cdfEnabled(dir, m)) None
        else Some(writeChangeFiles(spark, dir, m,
          readCur(rewrite).filter(hit)
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(matchedPost
              .withColumn("_change_type", lit("update_postimage"))),
          commitId))
      commitFiles(spark, dir, withFiles(spark, m.next, carry, newFiles).copy(
          dv = prunedDv(spark, dir, m, rewrite), changeFiles = cfiles),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => // raced — recompute against the new latest;
          // this attempt's rewrite files are unreferenced, reclaim
          dropOrphanedCommitDir(spark, dir, commitId)
          if (cfiles.isDefined) dropOrphanedChangeDir(spark, dir, commitId)
      }
    }
    -1L // unreachable
  }

  /** Keyed MERGE INTO as a copy-on-write commit (the Delta/Iceberg
    * upsert shape): every target row whose `keys` match a row of
    * `changes` is REPLACED by that change row (full-row semantics — the
    * change row is the new post-image, not a column patch), change rows
    * matching nothing are INSERTED, and change rows where `deleteWhen`
    * is true DELETE their match (and are never inserted). Returns the
    * new version, or the current one unchanged when the merge is a
    * no-op (only deletes of absent keys; 0 when the table additionally
    * has no committed version at all). Merging into an empty log
    * bootstraps it — the first CDC batch needs no special-case sink.
    *
    * Cost model at 100 TB: locating affected files is ONE column-pruned
    * scan of the key columns semi-joined against the change keys (a
    * small, usually broadcast side), and the rewrite touches ONLY files
    * that contain a matched key — untouched files are carried into the
    * new manifest by reference, inserts land in fresh files without
    * touching anything. Pair with [[optimize]] clustering on the merge
    * key so matched keys concentrate in few files; a random layout makes
    * every file "affected". This is what [[commitBatchReplace]] is not:
    * a sparse CDC batch against a huge table rewrites a handful of
    * files, not the table.
    *
    * Contract guards (Delta-style loud failures, never silent):
    * `changes` must have no NULL merge key (NULL never equals anything
    * under SQL semantics — such a row could only ever insert, which is
    * almost always an upstream bug) and no duplicate key (two change
    * rows matching one target row make the merge ambiguous).
    * `insertOnlyWhen` RELAXES the NULL-key guard for rows it marks:
    * rows the caller can prove are pure inserts (SQL MERGE's
    * `WHEN NOT MATCHED THEN INSERT` leg — a NULL key there is standard
    * SQL, the row simply never matches) ride the insert path with NULL
    * keys intact; NULL-keyed rows NOT so marked (or marked and
    * tombstoned) still refuse loudly. Duplicate-key ambiguity does not
    * exist among NULL-keyed inserts (they match nothing), so two of
    * them are fine.
    *
    * `dropCols` names control columns of `changes` (e.g. a CDC `op`
    * flag) that `deleteWhen` may reference but that must not be stored.
    * Schema evolution: columns `changes` adds beyond the table schema
    * widen it (nullable, [[mergeSchemas]] rules); carried-by-reference
    * and rewritten old files read typed nulls there.
    *
    * Concurrency: same optimistic read-modify-write discipline as
    * [[deleteWhere]] — base-checked commit, full recompute on a lost
    * race. Stats: carried files keep their zone-map stats, rewritten
    * and inserted files get fresh ones over the same columns. */
  def merge(spark: SparkSession, dir: String, changes: DataFrame,
      keys: Seq[String], deleteWhen: Option[Column] = None,
      dropCols: Seq[String] = Seq.empty,
      insertOnlyWhen: Option[Column] = None): Long =
    mergeImpl(spark, dir, changes, keys, deleteWhen, dropCols, None,
      insertOnlyWhen)

  /** [[merge]] stamped with stream batch `batchId` — the replay-
    * idempotent form for at-least-once stream feeds ([[commitBatch]]
    * semantics): a batch at or below the log's replay mark
    * ([[lastBatch]]) returns the current version untouched. This is the CDC
    * apply-changes sink for a snapshot-logged table: each micro-batch
    * of keyed upserts/tombstones merges in at file grain. */
  def mergeBatch(spark: SparkSession, dir: String, changes: DataFrame,
      keys: Seq[String], batchId: Long,
      deleteWhen: Option[Column] = None,
      dropCols: Seq[String] = Seq.empty,
      insertOnlyWhen: Option[Column] = None): Long =
    mergeImpl(spark, dir, changes, keys, deleteWhen, dropCols,
      Some(batchId), insertOnlyWhen)

  /** Project `df` onto `schema`: present columns cast-free, absent ones
    * as typed nulls (how pre-evolution rows acquire an added column). */
  private[sources] def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { fld =>
      if (df.columns.contains(fld.name)) col(fld.name)
      else lit(null).cast(fld.dataType).as(fld.name)
    }: _*)

  /** [[alignTo]] with READ semantics for the absent columns: a
    * pre-evolution row acquires an added column's frozen EXISTS_DEFAULT
    * when one is declared (exactly what the table scan fills for it),
    * NULL otherwise. Change-feed legs use this so the feed never shows
    * NULL where the table shows the default. */
  private[sources] def alignToRead(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { fld =>
      if (df.columns.contains(fld.name)) col(fld.name)
      else readFill(fld)
    }: _*)

  /** An absent column under READ semantics: the frozen EXISTS_DEFAULT
    * when declared, a typed NULL otherwise. */
  private[sources] def readFill(fld: StructField): Column = {
    val key = org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY
    if (fld.metadata.contains(key))
      expr(fld.metadata.getString(key)).cast(fld.dataType).as(fld.name)
    else lit(null).cast(fld.dataType).as(fld.name)
  }

  /** [[merge]]'s planning-time candidate prune: keep a file iff its
    * recorded zone map for `k` could contain ANY of the sorted change
    * keys (binary search for the first key ≥ file-min, check ≤
    * file-max); stat-less files are conservatively kept. Exposed for
    * the spec to hold the prune accountable. */
  private[graft] def pruneByStats(files: Seq[String],
      stats: Map[String, Map[String, ColStat]], k: String,
      ks: Array[Long]): Seq[String] =
    files.filter { p =>
      stats.get(p).flatMap(_.get(k)) match {
        case Some(LongStat(mn, mx, _)) =>
          val i = java.util.Arrays.binarySearch(ks, mn)
          val from = if (i >= 0) i else -i - 1
          from < ks.length && ks(from) <= mx
        case _ => true // no stat, or a differently-typed one — keep
      }
    }

  /** [[pruneByStats]] for string keys: same first-key-≥-file-min binary
    * search, in UTF-8 order, against the truncated [[StrStat]] range
    * (`hi` None = +∞ keeps the file for any key ≥ its min). */
  private[graft] def pruneByStatsStr(files: Seq[String],
      stats: Map[String, Map[String, ColStat]], k: String,
      ks: Array[String]): Seq[String] =
    files.filter { p =>
      stats.get(p).flatMap(_.get(k)) match {
        case Some(StrStat(mn, mxOpt, _)) =>
          var lo = 0
          var hi = ks.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (utf8Cmp(ks(mid), mn) < 0) lo = mid + 1 else hi = mid
          }
          lo < ks.length && mxOpt.forall(mx => utf8Cmp(ks(lo), mx) <= 0)
        case _ => true
      }
    }

  private[sources] def mergeImpl(spark: SparkSession, dir: String,
      changes0: DataFrame, keys: Seq[String], deleteWhen: Option[Column],
      dropCols: Seq[String], batchId: Option[Long],
      insertOnlyWhen: Option[Column] = None): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val isDelete = deleteWhen.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    val isInsertOnly = insertOnlyWhen.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    // one materialization of the (small) change side; reused across the
    // affected-file scan, the rewrite and any rebase retries
    val changes = changes0.withColumn("__del", isDelete)
      .withColumn("__ins", isInsertOnly)
      .drop(dropCols: _*).persist()
    try {
      val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
      // BOTH batch validations in ONE pass over the persisted change
      // side (r16 — was two sequential count jobs): group by the keys
      // (NULLs group together but only count toward the null-rule tally,
      // never the dup tally) and fold to two scalars.
      // - NULL keys: allowed ONLY on rows the caller declared pure
      //   inserts (SQL MERGE's not-matched leg — NULL matches nothing,
      //   so the row inserts); everywhere else an upstream bug, loudly.
      // - duplicates: ambiguity needs a key two rows could both MATCH —
      //   NULL-keyed inserts match nothing, so they are excluded (SQL
      //   inserts both).
      // Lazy: first forced after the replay guard, so a replayed batch
      // stays a job-free no-op.
      lazy val validated: Unit = {
        val violations = changes.groupBy(keys.map(col): _*)
          .agg(
            count(when(anyKeyNull && (!col("__ins") || col("__del")), 1))
              .as("nullbad"),
            count(when(!anyKeyNull, 1)).as("nk"))
          .agg(sum(col("nullbad")).as("nullbad"), max(col("nk")).as("maxnk"))
          .head
        require(violations.isNullAt(0) || violations.getLong(0) == 0,
          s"merge changes carry a NULL key in (${keys.mkString(",")}) — " +
            "NULL matches nothing under SQL equality; only rows marked by " +
            "insertOnlyWhen (SQL's NOT MATCHED INSERT leg) may carry one")
        require(violations.isNullAt(1) || violations.getLong(1) <= 1,
          "merge changes carry duplicate keys — ambiguous merge " +
            "(collapse the batch to one winning row per key first)")
      }
      val upserts = changes.filter(!col("__del")).drop("__del", "__ins")
      // detection/survivor key set: NULL-keyed rows match nothing and
      // must not reach the stat prune's literal encoding
      val keyFrame = changes.filter(!anyKeyNull).select(keys.map(col): _*)
      // ONE bounded driver job per prunable key column (r16 — was three:
      // a row-count density probe, a distinct collect for the stat
      // prune, and a second full collect for the isin literals): the
      // duplicate guard above makes non-NULL change keys unique, so a
      // column's distinct value set IS the key set. Collected once,
      // capped one past the density bound so sparseness is decided from
      // the same collect; memoized across rebase retries (the change
      // side is persisted and fixed for the call).
      val keyValsMemo = scala.collection.mutable.Map[String, Array[Any]]()
      def valsOf(k: String): Array[Any] = keyValsMemo.getOrElseUpdate(k,
        keyFrame.select(col(k)).distinct().limit(100001)
          .collect().map(_.get(0)))
      def sparseOn(k: String): Boolean = valsOf(k).length <= 100000
      while (true) {
        val (tipV, m) = tip(spark, dir)
        // a replayed batch is a no-op — checked once per attempt against
        // the manifest this attempt builds on
        batchId.foreach(b => if (m.mark.exists(b <= _)) return tipV.get)
        validated
        val nextM = batchId.map(m.nextBatch).getOrElse(m.next)
        // incoming post-images must honor the table's checks (tombstones
        // remove rows — nothing to validate on them)
        if (tipV.nonEmpty)
          requireChecksPass(m.checks, upserts, s"merge into $dir")
        if (tipV.isEmpty) {
          // bootstrap: merging into an empty table is just the inserts.
          // 0 = "still no committed version" (deletes against nothing).
          if (upserts.isEmpty) return 0L
          val commitId = java.util.UUID.randomUUID().toString
          commitFiles(spark, dir, nextM.replace(
              writeData(spark, dir, m, upserts, commitId), upserts.schema),
            commitId, base = Some(None)) match {
            case Some(v) => return v
            case None    => // raced a concurrent first commit — remerge;
              // the bootstrap write is recomputed next attempt
              dropOrphanedCommitDir(spark, dir, commitId)
          }
        } else {
          val latest = tipV.get
          val tableSchema = m.schema
          val pcs = m.partitionCols
          val current = m.files
          def readCur(paths: Seq[String]) = readFiles(spark, dir, m, paths)
          // ONE key-column-pruned scan finds the files that hold any
          // matched key; everything else is carried by reference. Fast
          // path: a SPARSE single-integer-key batch against a table with
          // manifest zone maps on that key (the optimize-clustered
          // regime this verb is built for) collects the change keys
          // once, prunes candidate files at PLANNING time by each
          // file's recorded [min,max] (binary search over the sorted
          // keys), and scans only the survivors with a literal isin —
          // parquet row-group min/max pushdown then prunes inside them.
          // Cold files are never opened at all, versus the general
          // semi-join path whose join-shaped filter cannot skip files.
          // effective per-file stats: recorded zone maps AUGMENTED with
          // each file's partition tuple as a degenerate [v,v] stat
          // (decoded under the table type) — so a partition-keyed merge
          // prunes at planning time exactly like a clustered one.
          // Null-partition entries are omitted (conservative keep; a
          // change key is never NULL here — the guard above).
          val stats = {
            val recorded = m.logicalStats
            if (pcs.isEmpty) recorded
            else {
              val dts = tableSchema.map(s =>
                pcs.flatMap(c => s.find(_.name == c).map(c -> _.dataType))
                  .toMap).getOrElse(Map.empty)
              val parts = m.fileParts.map { case (p, t) =>
                p -> t.flatMap { case (c, raw) =>
                  if (raw == NullPartition) None
                  else dts.get(c).flatMap(decodePartValue(raw, _)).map {
                    case s: String => c -> (StrStat(s, Some(s)): ColStat)
                    case x =>
                      val e = encodeStatLong(x)
                      c -> (LongStat(e, e): ColStat)
                  }
                }
              }
              (recorded.keySet ++ parts.keySet).map(p => p ->
                (recorded.getOrElse(p, Map.empty) ++
                  parts.getOrElse(p, Map.empty))).toMap
            }
          }
          // any stat-encodable single key qualifies: the isin literals
          // keep the column's own type (no cast), so parquet row-group
          // pushdown stays intact, and the planning-time prune runs on
          // the matching stat domain (long encoding, or UTF-8-ordered
          // truncated string ranges)
          val statKey = keys match {
            case Seq(k) if stats.nonEmpty && stats.values.exists(_.contains(k))
              && statEncodable(changes.schema(k).dataType) => Some(k)
            case _ => None
          }
          // candidate prune on one key column: binary-searched range
          // intersection against every file's recorded (or degenerate
          // partition) stat
          def pruneOn(k: String): Seq[String] = {
            val vals = valsOf(k)
            changes.schema(k).dataType match {
              case org.apache.spark.sql.types.StringType =>
                val ks = vals.map(_.asInstanceOf[String])
                java.util.Arrays.sort(ks,
                  (a: String, b: String) => utf8Cmp(a, b))
                pruneByStatsStr(current, stats, k, ks)
              case _ =>
                pruneByStats(current, stats, k,
                  vals.map(encodeStatLong).sorted)
            }
          }
          // (candidate files, isin literals) — None when not sparse on
          // the stat key (single key ⇒ distinct values == key rows, so
          // the isin literal set is unchanged from the r15 full collect)
          val fastPath: Option[(Seq[String], Array[Any])] =
            statKey.filter(sparseOn).map(k => (pruneOn(k), valsOf(k)))
          // COMPOSITE keys cannot take the isin fast path, but one
          // stat-bearing key column still prunes the candidate set the
          // general semi-join scans — a (region, id) merge against an
          // id-clustered or region-partitioned table skips cold files
          // instead of opening the whole table. Density is per-COLUMN
          // here (distinct values of k, not total rows) — the prune is
          // value-conservative either way and the literal count stays
          // bounded by the same 100k cap.
          val generalScan: Seq[String] =
            if (statKey.isDefined) current
            else keys.find(k => stats.values.exists(_.contains(k)) &&
              statEncodable(changes.schema(k).dataType) && sparseOn(k))
              .map(pruneOn).getOrElse(current)
          // DV-composable detection: the tagged read applies the
          // version's deletion vector, so a MoR-dead row cannot mark
          // its file affected (its key is invisible — correctly so)
          def readTagged(paths: Seq[String]) =
            readFilesTagged(spark, dir, m, paths, Some("__f"))
          val affected = fastPath match {
            case Some((candidates, ks)) =>
              val k = statKey.get
              if (candidates.isEmpty) Set.empty[String]
              else readTagged(candidates)
                .filter(col(k).isin(ks.toSeq: _*))
                .select("__f")
                .distinct().collect().map(_.getString(0)).toSet
            case _ if generalScan.isEmpty => Set.empty[String]
            case _ =>
              readTagged(generalScan)
                .select((col("__f")) +: keys.map(col): _*)
                .join(keyFrame, keys, "left_semi")
                .select("__f").distinct().collect().map(_.getString(0)).toSet
          }
          def hit(p: String) = affected.contains(p) ||
            affected.contains(new Path(p).toUri.toString) ||
            affected.exists(a =>
              new Path(a).toUri.getPath == new Path(p).toUri.getPath)
          val (rewrite, carry) = current.partition(hit)
          if (rewrite.isEmpty && upserts.isEmpty) return latest // all-miss deletes
          val outSchema = mergeSchemas(
            tableSchema.getOrElse(readCur(current).schema),
            upserts.schema)
          // survivors: unmatched rows of the rewritten files (matched
          // rows are replaced or deleted — either way they drop here)
          val survivors =
            if (rewrite.isEmpty) None
            else Some(alignTo(
              readCur(rewrite).join(keyFrame, keys, "left_anti"), outSchema))
          val body = survivors match {
            case Some(s) => s.unionByName(alignTo(upserts, outSchema))
            case None    => alignTo(upserts, outSchema)
          }
          val commitId = java.util.UUID.randomUUID().toString
          val newFiles =
            if (body.isEmpty) Seq.empty
            else writeData(spark, dir, m, body, commitId, pcs)
          // recorded change feed — the verb knows its exact changes:
          // matched target rows are pre-images ("delete" when the change
          // row tombstones, else "update_preimage"), upserts whose key
          // exists in the rewritten files are post-images, the rest are
          // inserts (NULL-keyed insert-only rows match nothing → insert)
          val cfiles =
            if (!cdfEnabled(dir, m)) None
            else {
              require(!outSchema.fieldNames.contains("_change_type") &&
                !outSchema.fieldNames.contains("__del"),
                s"$dir: the change feed reserves column names " +
                  "_change_type and __del")
              def tag(df: DataFrame): DataFrame = df.select(
                (outSchema.fields.toSeq.map(fld =>
                  if (df.columns.contains(fld.name)) col(s"`${fld.name}`")
                  else lit(null).cast(fld.dataType).as(fld.name)) :+
                  col("_change_type")): _*)
              val legs = scala.collection.mutable.ArrayBuffer[DataFrame]()
              if (rewrite.nonEmpty) {
                val flags = changes.filter(!anyKeyNull)
                  .select((keys.map(col) :+ col("__del")): _*)
                legs += tag(readCur(rewrite).join(flags, keys, "inner")
                  .withColumn("_change_type",
                    when(col("__del"), lit("delete"))
                      .otherwise(lit("update_preimage"))))
                val tk = readCur(rewrite)
                  .select(keys.map(col): _*).distinct()
                val upA = alignTo(upserts, outSchema)
                legs += tag(upA.join(tk, keys, "left_semi")
                  .withColumn("_change_type", lit("update_postimage")))
                legs += tag(upA.join(tk, keys, "left_anti")
                  .withColumn("_change_type", lit("insert")))
              } else {
                legs += tag(alignTo(upserts, outSchema)
                  .withColumn("_change_type", lit("insert")))
              }
              Some(writeChangeFiles(spark, dir, m,
                legs.reduce(_.unionByName(_)), commitId))
            }
          commitFiles(spark, dir,
            withFiles(spark, nextM, carry, newFiles).withSchema(outSchema)
              .copy(dv = prunedDv(spark, dir, m, rewrite), changeFiles = cfiles),
            commitId, base = Some(Some(latest))) match {
            case Some(v) => return v
            case None    => // lost the race — recompute against new
              // latest; this attempt's body files are unreferenced
              if (newFiles.nonEmpty)
                dropOrphanedCommitDir(spark, dir, commitId)
              if (cfiles.isDefined)
                dropOrphanedChangeDir(spark, dir, commitId)
          }
        }
      }
      0L // unreachable
    } finally changes.unpersist()
  }

  /** Compaction as a commit: rewrite the latest version's SMALL files
    * (length < `smallFileBytes`) into `targetFiles` larger, optionally
    * clustered files, committed as a new version that carries every
    * already-large file by reference. Returns the new version, or the
    * current one when fewer than two files qualify (nothing to gain).
    *
    * Clustering: with `clusterBy` columns the rewrite is
    * range-partitioned and sorted on them, so parquet footer min/max
    * prunes subsequent reads on those columns; with TWO OR MORE numeric
    * columns and `zorder = true` the sort key is the interleaved
    * Z-value ([[graft.functions.ZOrderExprs.zOrderN]] over
    * `width_bucket` cells — one bounded min/max aggregate, no global
    * rank window), so min/max prunes on ANY of the columns, the
    * [[graft.ops.LayoutOps]] q_zorder property applied to table layout.
    *
    * Same no-lost-update discipline as [[deleteWhere]]: base-checked
    * commit, full rebase on a lost race. Prior versions keep referencing
    * the replaced small files until [[vacuum]] reclaims them — compaction
    * never breaks time travel. Rows are bit-identical (a pure rewrite);
    * no batch id is stamped, and the replay mark carries forward, so
    * compacting a streamed table never un-guards replays.
    *
    * `partitionScope` narrows the candidate set to files whose RECORDED
    * manifest tuple equals the given values — the daily-maintenance
    * shape at 100 TB (`OPTIMIZE t WHERE day = yesterday`): only the hot
    * partition's small files rewrite; every other slice carries by
    * reference, untouched on disk. Values render like [[readPartition]]
    * probes (loud on timestamps); scoping a column the table is not
    * partitioned by is an error. */
  def optimize(spark: SparkSession, dir: String,
      smallFileBytes: Long = 128L * 1024 * 1024,
      targetFiles: Int = 1,
      clusterBy: Seq[String] = Seq.empty,
      zorder: Boolean = false,
      partitionScope: Map[String, Any] = Map.empty): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val f = fs(spark, dir)
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      val pcs = m.partitionCols
      val current = m.files
      val inScope: String => Boolean =
        if (partitionScope.isEmpty) _ => true
        else {
          partitionScope.keys.foreach(c => require(pcs.contains(c),
            s"table under $dir is not partitioned by '$c' " +
              s"(partition cols: ${pcs.mkString(",")})"))
          val rendered = partitionScope.map { case (c, v) =>
            c -> renderPartValue(v) }
          p => m.fileParts.get(p).exists(t =>
            rendered.forall { case (c, r) => t.get(c).contains(r) })
        }
      val (small, large) = current.partition(p =>
        inScope(p) && f.getFileStatus(new Path(p)).getLen < smallFileBytes)
      if (small.size < 2) return latest
      // DV-composable: the compaction reads through the vector, so a
      // MoR-dead row is physically absent from the rewrite; the commit
      // carries the vector minus the compacted files' entries
      val base = readFiles(spark, dir, m, small)
      // On a hive-partitioned table the writer fans each TASK out across
      // every partition tuple it holds — repartition(targetFiles) would
      // emit up to targetFiles × |touched tuples| files, INCREASING the
      // small-file count compaction set out to reduce. Lead the
      // partitioner with the partition columns so each task holds (at
      // most a boundary-straddle of) one tuple and writes ~1 file into
      // it; clusterBy/z-order then orders WITHIN the tuple.
      val clustered =
        if (clusterBy.isEmpty) {
          if (pcs.isEmpty) base.repartition(targetFiles)
          else base.repartition(pcs.map(col): _*) // ~1 file per tuple
        }
        else if (zorder && clusterBy.size >= 2) {
          // bucket every dim into uniform cells off ONE bounded min/max
          // aggregate (2·ndims driver-side scalars, never a rank
          // window), N-ary interleave (ZOrderN — bit-identical to the
          // historical 2-D path at ndims=2), then range-cluster on the
          // z-value. Cell bits shrink as dims grow (bits·ndims ≤ 63 —
          // 12 bits up to 5 dims, then 63/ndims).
          val nd = clusterBy.size
          val zbits = math.min(12, 63 / nd)
          val cells = 1 << zbits
          val aggs = clusterBy.flatMap(c => Seq(
            min(col(c).cast("double")), max(col(c).cast("double"))))
          val bounds = base.agg(aggs.head, aggs.tail: _*)
            .collect()(0).toSeq.map(v => Option(v).map(_.toString.toDouble)
              .getOrElse(0.0))
          // width_bucket yields 1..cells (upper bound nudged past max so
          // the max value stays in-range); shift to 0..cells-1 so the
          // interleave never wraps the top cell
          val cellCols = clusterBy.zipWithIndex.map { case (c, d) =>
            width_bucket(col(c).cast("double"),
              lit(bounds(2 * d)), lit(bounds(2 * d + 1) + 1e-9),
              lit(cells)) - 1
          }
          val z = graft.functions.ZOrderExprs.zOrderN(cellCols, zbits)
          base.withColumn("__z", z)
            .repartitionByRange(targetFiles, (pcs.map(col) :+ col("__z")): _*)
            .sortWithinPartitions((pcs :+ "__z").map(col): _*).drop("__z")
        } else base
          .repartitionByRange(targetFiles, (pcs ++ clusterBy).map(col): _*)
          .sortWithinPartitions((pcs ++ clusterBy).map(col): _*)
      val commitId = java.util.UUID.randomUUID().toString
      val fresh = writeData(spark, dir, m, clustered, commitId, pcs)
      // compaction changes ZERO logical rows: with the change feed on,
      // declare that (an EMPTY recorded change set) so CDF streams ride
      // across it instead of refusing the file rewrite
      val cdfMark =
        if (cdfEnabled(dir, m, requireNamesFree = false)) Some(Seq.empty) else None
      commitFiles(spark, dir, withFiles(spark, m.next, large, fresh).copy(
          dv = prunedDv(spark, dir, m, small), changeFiles = cdfMark),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — rebase (rewrite is vacuumable orphan)
      }
    }
    -1L // unreachable
  }
}
