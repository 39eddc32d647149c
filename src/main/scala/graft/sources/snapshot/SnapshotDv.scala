package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Merge-on-read deletion vectors: sidecars, MoR delete, DV-applying reads and compaction — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotDv { this: SnapshotLog.type =>

  // -------------------------------------------------------------------
  // Merge-on-read DELETION VECTORS — O(matches) deletes, no file rewrite
  // -------------------------------------------------------------------

  /** The DV sidecar a version references, if any (sidecars live under
    * `_log/dv/` with version-independent uuid names so the claim protocol
    * never needs to know its version number before writing). */
  private[sources] def dvOf(spark: SparkSession, dir: String,
      v: Long): Option[String] =
    manifest(spark, dir, v).dv

  private[sources] def dvPath(dir: String, name: String) =
    new Path(logDir(dir), s"dv/$name")

  // --- DV sidecar format -----------------------------------------------
  // Round 9 stores ONE 64-bit roaring bitmap per file — (path: string,
  // bitmap: binary) — the Delta deletion-vector shape: a billion-row MoR
  // delete serializes to KBs per file instead of a billion
  // (path, row_index) parquet rows. The legacy row-per-position shape
  // (path, row_index) stays readable: every consumer goes through
  // [[dvRaw]] (path-grain work — prunes, compaction — needs no
  // expansion) or [[dvPositions]] (join-grain work expands bitmaps in
  // memory from KBs, never re-reading positions off disk).

  private[sources] def rbmBytes(
      bm: org.roaringbitmap.longlong.Roaring64NavigableMap): Array[Byte] = {
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  private[sources] def rbmFrom(
      bytes: Array[Byte]): org.roaringbitmap.longlong.Roaring64NavigableMap = {
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bm.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  /** The sidecar as stored — bitmap-per-file (round 9) or
    * row-per-position (legacy). Both carry a `path` column, so
    * path-grain consumers need not care which. */
  private[sources] def dvRaw(spark: SparkSession, dir: String, name: String) =
    spark.read.parquet(dvPath(dir, name).toString)

  /** A version's DV as serialized per-file bitmaps, keyed by
    * URI-normalized path — for consumers that skip positions
    * file-locally without a SparkSession (the DSv2 batch scan ships
    * these KB-scale blobs inside its input partitions). Legacy
    * row-per-position sidecars fold into bitmaps here. Empty map when
    * the version carries no DV. The collect is sidecar-bounded
    * (KBs/file), never data-bounded. */
  private[sources] def dvBitmapsOf(spark: SparkSession, dir: String,
      v: Long): Map[String, Array[Byte]] =
    dvOf(spark, dir, v) match {
      case None => Map.empty
      case Some(name) =>
        val raw = dvRaw(spark, dir, name)
        if (raw.columns.contains("bitmap"))
          raw.select("path", "bitmap").collect()
            .map(r => new Path(r.getString(0)).toUri.getPath ->
              r.getAs[Array[Byte]](1)).toMap
        else
          raw.select("path", "row_index").collect()
            .groupBy(r => new Path(r.getString(0)).toUri.getPath)
            .map { case (p, rows) =>
              val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
              rows.foreach(r => bm.addLong(r.getLong(1)))
              p -> rbmBytes(bm)
            }
    }

  /** The sidecar as the canonical positions relation
    * (path, row_index) — bitmaps expand per partition in memory. */
  private[sources] def dvPositions(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val raw = dvRaw(spark, dir, name)
    if (raw.columns.contains("row_index")) raw.select("path", "row_index")
    else {
      import spark.implicits._
      raw.select("path", "bitmap").as[(String, Array[Byte])]
        .flatMap { case (p, b) =>
          val it = rbmFrom(b).getLongIterator
          new Iterator[(String, Long)] {
            def hasNext = it.hasNext
            def next() = (p, it.next())
          }
        }.toDF("path", "row_index")
    }
  }

  /** Write `positions` (path, row_index) as a bitmap-per-file sidecar:
    * per-partition partial bitmaps OR-merge by path (the analyzeBlooms
    * pattern), so the build is one distributed pass with KB-scale
    * shuffle. */
  private[sources] def writeDvSidecar(spark: SparkSession, dir: String, name: String,
      positions: DataFrame): Unit = {
    import spark.implicits._
    val merged = positions.select("path", "row_index").as[(String, Long)]
      .rdd.mapPartitions { it =>
        val per = scala.collection.mutable.Map[String,
          org.roaringbitmap.longlong.Roaring64NavigableMap]()
        it.foreach { case (p, i) => per.getOrElseUpdate(p,
          new org.roaringbitmap.longlong.Roaring64NavigableMap()).addLong(i) }
        per.iterator.map { case (p, bm) => (p, rbmBytes(bm)) }
      }
      .reduceByKey { (a, b) =>
        val x = rbmFrom(a); x.or(rbmFrom(b)); rbmBytes(x)
      }
      .map { case (p, b) => org.apache.spark.sql.Row(p, b) }
    spark.createDataFrame(merged, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bitmap",
        org.apache.spark.sql.types.BinaryType))))
      .coalesce(1)
      .write.mode("overwrite").parquet(dvPath(dir, name).toString)
  }

  /** Read `paths` under manifest `m`'s schema with its deletion vector
    * applied (if any) — THE single read primitive
    * [[read]]/[[readBetween]]/[[readPoint]] share, so no read path can
    * resurrect deleted rows. The DV anti-join keys on the scan's own
    * `_metadata` (file_path, row_index) — deletes are sparse by
    * construction, so AQE broadcasts the DV side. */
  private[sources] def readFiles(spark: SparkSession, dir: String, m: Manifest,
      paths: Seq[String]): DataFrame =
    readFilesTagged(spark, dir, m, paths, None)

  /** [[readFiles]] optionally tagging each row with its source file
    * path (`tag` column, from the scan's own `_metadata` — captured AT
    * SCAN level, so it survives the DV anti-join where
    * `input_file_name()` would not if the join shuffled). The affected-
    * file detection of every rewrite verb uses the tag. */
  /** Scan `paths` under manifest `m`'s schema (partition columns
    * re-attached on hive layouts) with `extras` metadata-derived
    * columns — each `(name, _metadata field)` attaches AT SCAN level,
    * before any union/select hides the hidden `_metadata` struct. The
    * raw physical view: NO deletion vector applied. */
  private[sources] def scanWithMeta(spark: SparkSession, dir: String, m: Manifest,
      paths: Seq[String], extras: Seq[(String, String)]): DataFrame = {
    def attach(df: DataFrame): DataFrame =
      extras.foldLeft(df) { case (d, (n, m)) => d.withColumn(n, col(m)) }
    // files store PHYSICAL column names; the scan requests those and
    // aliases back to the version's LOGICAL names (identity — and
    // alias-free — on never-renamed tables). Partition columns cannot
    // be renamed, so hive dir names and manifest tuples stay literal.
    val cm = m.colmap
    def relogical(df: DataFrame, s: StructType): DataFrame =
      if (cm.isEmpty) df
      else df.select(s.fields.toSeq.map(f =>
        col(s"`${cm.getOrElse(f.name, f.name)}`").as(f.name)) ++
        extras.map(e => col(s"`${e._1}`")): _*)
    if (m.partitionCols.nonEmpty) {
      // hive-partitioned files carry the partition values in their DIR
      // names, not in the parquet: re-attach them via basePath-scoped
      // reads, grouped per commit dir (one group per contributing
      // commit — bounded by history, not by files). The version schema
      // types the partition columns; the final select restores its
      // column order.
      val s = m.schema.getOrElse(throw new IllegalStateException(
        s"a partitioned version of $dir records no schema"))
      val phys = physicalSchema(cm, s)
      val raw = paths.groupBy(commitRootOf).toSeq.sortBy(_._1)
        .map { case (root, ps) =>
          attach(spark.read.schema(phys).option("basePath", root)
            .parquet(ps: _*))
        }
        .reduce(_.unionByName(_))
      if (cm.isEmpty)
        raw.select((s.fieldNames.toSeq ++ extras.map(_._1)).map(col): _*)
      else relogical(raw, s)
    } else m.schema match {
      case Some(s) => relogical(attach(
        spark.read.schema(physicalSchema(cm, s)).parquet(paths: _*)), s)
      case None    => attach(spark.read.parquet(paths: _*))
    }
  }

  private[sources] def readFilesTagged(spark: SparkSession, dir: String, m: Manifest,
      paths: Seq[String], tag: Option[String]): DataFrame = {
    val dvName = m.dv
    val extras: Seq[(String, String)] =
      tag.map(_ -> "_metadata.file_path").toSeq ++
        (if (dvName.isDefined)
          Seq("__dv_f" -> "_metadata.file_path",
            "__dv_i" -> "_metadata.row_index")
        else Seq.empty)
    val base = scanWithMeta(spark, dir, m, paths, extras)
    dvName match {
      case None => base
      case Some(name) =>
        val dv = dvPositions(spark, dir, name)
        base
          .join(dv, col("__dv_f") === col("path") &&
            col("__dv_i") === col("row_index"), "left_anti")
          .drop("__dv_f", "__dv_i")
    }
  }

  /** The deletion vector for a commit that REWROTE `rewritten` files of
    * manifest `m`: the old vector minus every entry naming a rewritten
    * file (those rows are gone physically — the rewrite read through
    * the DV, so survivors never resurrect). Entries for CARRIED files
    * stay live in a fresh uuid sidecar (the old one still serves older
    * versions until vacuumed); an emptied vector is dropped entirely.
    * Distinct DV paths are bounded by the table's file count — the
    * collect is metadata-sized. */
  private[sources] def prunedDv(spark: SparkSession, dir: String, m: Manifest,
      rewritten: Seq[String]): Option[String] =
    m.dv.flatMap { name =>
      // path-grain surgery — works on either sidecar shape verbatim,
      // no bitmap expansion
      val dv = dvRaw(spark, dir, name)
      val gone = rewritten.map(p => new Path(p).toUri.getPath).toSet
      val dropPaths = dv.select("path").distinct().collect()
        .map(_.getString(0))
        .filter(p => gone.contains(new Path(p).toUri.getPath))
      val remaining =
        if (dropPaths.isEmpty) dv
        else dv.filter(!col("path").isin(dropPaths.toSeq: _*))
      if (remaining.isEmpty) None
      else if (dropPaths.isEmpty) Some(name) // untouched: share it
      else {
        val newName = java.util.UUID.randomUUID().toString
        remaining.coalesce(1).write.parquet(dvPath(dir, newName).toString)
        Some(newName)
      }
    }

  /** The basePath partition discovery needs for a hive-layout file:
    * the longest prefix above every `c=v` segment. Works for this
    * table's own `data/<uuid>/c=v/part-*` files, for borrowed (cloned)
    * files rooted in the SOURCE table, and for EXTERNAL layouts
    * ([[commitBatchExternal]] with partitionCols) wherever the caller
    * wrote them. */
  private[sources] def commitRootOf(p: String): String = {
    val segs = p.split('/')
    var end = segs.length - 1 // the filename
    while (end > 0 && segs(end - 1).contains('=')) end -= 1
    segs.take(end).mkString("/")
  }

  private[sources] def requireNoDv(dir: String, m: Manifest,
      verb: String): Unit =
    require(m.dv.isEmpty,
      s"$verb cannot run on a version carrying a deletion vector — " +
        "rewriting files while a DV references their row positions would " +
        s"resurrect deleted rows; run applyDeletionVectors($dir) first")

  /** MERGE-ON-READ targeted delete: commit a new version in which every
    * row matching `pred` is dead WITHOUT rewriting any data file — the
    * matches' (file, row_index) positions land in a deletion-vector
    * sidecar the read paths anti-apply. Returns the new version, or the
    * current one unchanged when nothing matches.
    *
    * Cost model vs [[deleteWhere]] (copy-on-write): write cost is
    * O(matched rows) — a 3-row GDPR delete against a 100 TB table
    * writes a 3-row sidecar — while every read pays one sparse anti-join
    * until [[applyDeletionVectors]] compacts. COW inverts that: the
    * delete rewrites whole files, reads stay join-free. Pick per table
    * churn; both share NULL semantics (rows where `pred` is NULL were
    * not matched and survive).
    *
    * Composition contract (round 8 — rewriting verbs now COMPOSE):
    * APPEND commits ([[commitBatch]]) carry the DV forward untouched;
    * the rewriting verbs ([[deleteWhere]], [[updateWhere]], [[merge]],
    * [[optimize]]) read THROUGH the vector (detection and rewrite — a
    * MoR-dead row can neither mark a file affected nor resurrect) and
    * commit the vector MINUS the rewritten files' entries in a fresh
    * sidecar ([[prunedDv]]; the old sidecar keeps serving older
    * versions until vacuumed, an emptied vector is dropped).
    * Only [[materialize]] still refuses — run [[applyDeletionVectors]]
    * before severing a clone. Consecutive MoR deletes accumulate (new
    * sidecar = old ∪ new matches). */
  def deleteWhereMoR(spark: SparkSession, dir: String,
      pred: Column): Long = {
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      // matches are located on the DV-APPLIED view: a row already dead
      // in the current vector must not be re-matched (harmless but
      // inflates the sidecar); metadata rides the same scan — and the
      // scan re-attaches partition values, so a predicate on a
      // partition column matches real values, never schema-read NULLs
      val withMeta = scanWithMeta(spark, dir, m, m.files,
        Seq("__dv_f" -> "_metadata.file_path",
          "__dv_i" -> "_metadata.row_index"))
      val alive = m.dv match {
        case None => withMeta
        case Some(name) =>
          val dv = dvPositions(spark, dir, name)
          withMeta.join(dv, col("__dv_f") === col("path") &&
            col("__dv_i") === col("row_index"), "left_anti")
      }
      val newMatches = alive.filter(coalesce(pred, lit(false)))
        .select(col("__dv_f").as("path"), col("__dv_i").as("row_index"))
      if (newMatches.isEmpty) return latest
      val cumulative = m.dv match {
        case None => newMatches
        case Some(name) => dvPositions(spark, dir, name)
          .unionByName(newMatches)
      }
      val dvName = s"${java.util.UUID.randomUUID().toString}.parquet"
      writeDvSidecar(spark, dir, dvName, cumulative)
      // recorded change feed: the newly tombstoned rows are this
      // commit's exact deletes (the DV-growth commit the append-only
      // stream must otherwise refuse)
      val changeId = java.util.UUID.randomUUID().toString
      val cfiles =
        if (!cdfEnabled(dir, m)) None
        else Some(writeChangeFiles(spark, dir, m,
          alive.filter(coalesce(pred, lit(false)))
            .drop("__dv_f", "__dv_i")
            .withColumn("_change_type", lit("delete")), changeId))
      commitFiles(spark, dir, m.next.copy(dv = Some(dvName), changeFiles = cfiles),
        dvName, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => // raced — recompute (orphan sidecar vacuumable)
          if (cfiles.isDefined) dropOrphanedChangeDir(spark, dir, changeId)
      }
    }
    -1L // unreachable
  }

  /** Compact the latest version's deletion vector away: rewrite ONLY the
    * files the DV references (survivor rows), carry every untouched file
    * by reference, and commit a DV-free version — after which the
    * rewriting verbs work again and reads drop the anti-join. Returns
    * the new version (or the current one when no DV exists). */
  def applyDeletionVectors(spark: SparkSession, dir: String): Long = {
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      val name = m.dv.getOrElse(return latest)
      val dv = dvRaw(spark, dir, name) // path-grain: either shape
      val dead = dv.select("path").distinct()
        .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
      val (rewrite, carry) = m.files.partition(p =>
        dead.contains(new Path(p).toUri.getPath))
      val commitId = java.util.UUID.randomUUID().toString
      val survivors = readFiles(spark, dir, m, rewrite)
      val newFiles =
        if (survivors.isEmpty) Seq.empty
        else writeData(spark, dir, m, survivors, commitId, m.partitionCols)
      // physically dropping already-tombstoned rows changes ZERO
      // logical rows — declare the empty change set for CDF streams
      val cdfMark =
        if (cdfEnabled(dir, m, requireNamesFree = false)) Some(Seq.empty) else None
      commitFiles(spark, dir, withFiles(spark, m.next, carry, newFiles)
          .copy(dv = None, changeFiles = cdfMark),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — recompute
      }
    }
    -1L // unreachable
  }

  /** TIMESTAMP AS OF resolution (the Delta time-travel twin of
    * version-numbered reads): the newest retained version whose commit
    * point — the manifest's rename mtime, the atomic visibility
    * transition by construction — is at or before `tsMillis`. Loud when
    * the table didn't exist yet at that instant (Delta's
    * "timestamp before earliest version" error): silently returning the
    * oldest version would fabricate pre-creation history. Monotonicity
    * caveat at the edges: commit mtimes come from the filesystem clock,
    * so sub-clock-resolution commits can share a timestamp — resolution
    * takes the NEWEST version at the instant, matching "the table as an
    * observer saw it then". */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val at = vs.filter(v =>
      f.getFileStatus(manifestPath(dir, v)).getModificationTime <= tsMillis)
    require(at.nonEmpty,
      s"no version of $dir existed at $tsMillis (earliest committed " +
        s"later); cannot time-travel before table creation")
    at.last
  }

  /** [[read]] at a point in time — `SELECT ... TIMESTAMP AS OF`. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAsOf(spark, dir, tsMillis)))

  /** DESCRIBE HISTORY for a snapshot log: one row per retained version —
    * (version, batch_id, n_files, n_columns, has_dv, n_checks,
    * replay_mark, committed_at) —
    * read from
    * manifests alone (no data file opens; committed_at = the manifest's
    * rename time, the commit point by construction). The operational
    * "what happened to this table" view next to [[versions]]. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    val rows = versions(spark, dir).map { v =>
      val m = manifest(spark, dir, v)
      val mtime = f.getFileStatus(manifestPath(dir, v)).getModificationTime
      (v, m.batch, m.files.size.toLong, m.schema.map(_.fields.length.toLong),
        m.dv.isDefined, m.checks.size.toLong, m.mark,
        new java.sql.Timestamp(mtime))
    }
    import spark.implicits._
    rows.toDF("version", "batch_id", "n_files", "n_columns", "has_dv",
      "n_checks", "replay_mark", "committed_at")
  }

  /** Metadata-only maintenance ADVISOR: the latest version's
    * per-partition file census — file count, total bytes, small-file
    * count under `smallFileBytes` — with a `recommend` flag where a
    * compaction would actually act (≥2 small files to fold). One
    * manifest read plus a driver-side file-status pass over the
    * version's file list (the cost class [[optimize]]'s own detection
    * pays), zero data bytes. At 100 TB this is what a scheduler greps
    * BEFORE spending optimize passes: each recommended row maps
    * one-to-one onto a scoped `optimize(partitionScope)` / Maintain
    * `optimize ... where=col=value` invocation, so the expensive verb
    * runs only where the report says it pays. */
  def compactionReport(spark: SparkSession, dir: String,
      smallFileBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val m = requireTip(spark, dir)._2
    val f = fs(spark, dir)
    val pcs = m.partitionCols
    val parts = m.fileParts
    val byPart = m.files
      .map { p =>
        val key =
          if (pcs.isEmpty) ""
          else {
            val t = parts.getOrElse(p, Map.empty[String, String])
            pcs.map(c => s"$c=${t.getOrElse(c, "")}").mkString("/")
          }
        key -> f.getFileStatus(new Path(p)).getLen
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, sized) =>
        val nSmall = sized.count(_._2 < smallFileBytes).toLong
        (k, sized.size.toLong, sized.map(_._2).sum, nSmall, nSmall >= 2)
      }
    import spark.implicits._
    byPart.toDF("partition", "n_files", "bytes", "n_small", "recommend")
  }
}
