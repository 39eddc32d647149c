package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
/** Manifest/header plumbing, schema + column mapping, table properties, change-file plumbing, write plumbing, LogStore seam — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotMeta { this: SnapshotLog.type =>


  /** Eagerly reclaim `data/<commitId>` after a LOST commit race: the
    * directory's files were written for an attempt that never
    * manifested, so nothing references them (the retry rewrites under a
    * fresh UUID). Best-effort — a failure here just leaves ordinary
    * grace-period-vacuum orphans, the lost-race contract. */
  private[sources] def dropOrphanedCommitDir(spark: SparkSession, dir: String,
      commitId: String): Unit =
    try {
      val p = new Path(dir, s"data/$commitId")
      val f = fs(spark, dir)
      if (f.exists(p)) { f.delete(p, true); () }
    } catch { case scala.util.control.NonFatal(_) => () }

  private[sources] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def logDir(dir: String) = new Path(dir, "_log")

  private[sources] val V = """v(\d+)\.manifest""".r

  /** Committed versions, ascending (empty for a fresh/nonexistent table). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val ld = logDir(dir)
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.flatMap(s => s.getPath.getName match {
      case V(n) => Some(n.toLong)
      case _    => None
    }).sorted
  }

  private[sources] def manifestPath(dir: String, v: Long) =
    new Path(logDir(dir), s"v$v.manifest")

  /** Version `v`'s manifest: one open, one parse ([[Manifest.parse]]).
    * Never cached across calls — a table directory can be dropped and
    * re-created at the same path. */
  private[graft] def manifest(spark: SparkSession, dir: String,
      v: Long): Manifest = {
    val in = fs(spark, dir).open(manifestPath(dir, v))
    try Manifest.parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** The latest version (None for a fresh table) and its manifest (empty
    * for a fresh table) — one listing, one open: what a verb reads once
    * per attempt and builds its commit on. */
  private[sources] def tip(spark: SparkSession,
      dir: String): (Option[Long], Manifest) =
    versions(spark, dir).lastOption match {
      case Some(v) => (Some(v), manifest(spark, dir, v))
      case None    => (None, Manifest.empty)
    }

  /** [[tip]] of a table that must already hold a snapshot. */
  private[sources] def requireTip(spark: SparkSession,
      dir: String): (Long, Manifest) = {
    val (v, m) = tip(spark, dir)
    require(v.nonEmpty, s"no committed snapshot under $dir")
    (v.get, m)
  }

  private[sources] def filesOf(spark: SparkSession, dir: String, v: Long): Seq[String] =
    manifest(spark, dir, v).files

  /** The stream batch id a version was committed under, if any
    * (see [[commitBatch]]). */
  def batchOf(spark: SparkSession, dir: String, v: Long): Option[Long] =
    manifest(spark, dir, v).batch

  /** The newest batch id committed ANYWHERE in the log — the replay
    * guard's high-water mark ([[Manifest.mark]]), read from the latest
    * manifest alone: every commit stamps it, so a non-batch commit
    * (deleteWhere, optimize, plain commit) landing between a batch commit
    * and its at-least-once replay cannot blind the guard, and neither can
    * a vacuum that drops every batch-bearing version (ReplayGuardSpec
    * pins both). A restore does not re-publish the restored version's
    * batch id; it stamps the current mark, so the mark never moves
    * backwards. */
  def lastBatch(spark: SparkSession, dir: String): Option[Long] =
    tip(spark, dir)._2.mark

  /** The table schema as of a version, if the manifest recorded one
    * (logs written before schema tracking have none). */
  def schemaOf(spark: SparkSession, dir: String, v: Long): Option[StructType] =
    manifest(spark, dir, v).schema

  // -------------------------------------------------------------------
  // COLUMN MAPPING — metadata-only RENAME/DROP COLUMN (round 12)
  // -------------------------------------------------------------------
  // The manifest's schema names columns LOGICALLY (what readers see);
  // parquet files store PHYSICAL names, immutable once a column first
  // materializes. `Manifest.colmap` records every logical→physical pair
  // that differs (RENAME keeps the physical name, so old files need no
  // rewrite), and `Manifest.dropped` records BURNED physical names (a
  // DROP hides the column; its bytes stay in old files, so the name can
  // never be re-used — the Delta column-mapping discipline, with loud
  // refusal where Delta mints fresh ids). Every commit carries both
  // (`Manifest.next`), versioned like the schema so time travel across
  // chained renames reads each version under its own names.

  /** Version `v`'s logical→physical column mapping (empty = identity). */
  def colmapOf(spark: SparkSession, dir: String,
      v: Long): Map[String, String] =
    manifest(spark, dir, v).colmap

  /** Version `v`'s burned physical names (dropped columns' storage
    * names — reserved forever, see [[dropColumn]]). */
  def droppedOf(spark: SparkSession, dir: String, v: Long): Set[String] =
    manifest(spark, dir, v).dropped

  // -------------------------------------------------------------------
  // TABLE PROPERTIES — versioned key/value metadata (round 12)
  // -------------------------------------------------------------------
  // The manifest records the table's properties; every commit carries
  // them and [[restore]] rolls them back with the rest of the state. The
  // one property the engine itself reads is [[ChangeFeedProperty]].

  /** The property that turns on the RECORDED change feed: when
    * `graft.changeFeed=true`, every row-rewriting verb writes its exact
    * row-level changes (`_change_type` ∈ insert | delete |
    * update_preimage | update_postimage) as parquet change files under
    * `changes/<uuid>/`, registered in the commit's manifest — the Delta
    * CDF design: writers pay the (opt-in) write amplification so
    * readers get exact, survivor-cancelled changes at file grain with
    * no diffing. `readStream.option("readChangeFeed", "true")` then
    * streams them (appends derive their inserts at file grain for
    * free). */
  val ChangeFeedProperty = "graft.changeFeed"

  /** Version `v`'s table properties (empty when none were ever set). */
  def tablePropertiesOf(spark: SparkSession, dir: String,
      v: Long): Map[String, String] =
    manifest(spark, dir, v).tblprops

  /** `ALTER TABLE ... SET TBLPROPERTIES (...)` / `UNSET TBLPROPERTIES`
    * as ONE metadata-only commit (set wins over unset on the same key;
    * unset of an absent key is a no-op, the SQL contract). Everything
    * else the manifest tracks carries forward verbatim. */
  def setTableProperties(spark: SparkSession, dir: String,
      set: Map[String, String], unset: Seq[String] = Seq.empty): Long = {
    require(set.nonEmpty || unset.nonEmpty,
      "setTableProperties needs at least one change")
    (set.keys ++ set.values ++ unset).foreach(s =>
      require(!s.contains('\n') && !s.contains('\t'),
        s"property part '$s' cannot carry a tab or newline"))
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      // fail at ENABLE time when a user column collides with the feed's
      // marker names — not on the first rewrite that records changes
      if (set.get(ChangeFeedProperty).exists(_.equalsIgnoreCase("true")))
        requireCdfNamesFree(dir, m)
      commitFiles(spark, dir, m.next.copy(tblprops = m.tblprops -- unset ++ set),
        java.util.UUID.randomUUID().toString, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — recompute against the new latest
      }
    }
    -1L // unreachable
  }

  /** Column names the recorded change feed owns in change files, merge
    * frames, and feed OUTPUT. A user column under one of these names
    * would be silently OVERWRITTEN — `_change_type`/`__del` by the
    * recording verbs (corrupting every recorded commit),
    * `_commit_version` by [[changeFeed]]'s shape() and the CDF stream's
    * constant-fill, `_poll_version` by the poll TVF — so every
    * change-recording verb refuses through the central [[cdfEnabled]]
    * check, matching the upstream change-feed convention of reserving
    * the marker names outright. */
  private[sources] val CdfReservedNames =
    Seq("_change_type", "__del", "_commit_version", "_commit_timestamp",
      "_poll_version")

  private[sources] def requireCdfNamesFree(dir: String, m: Manifest): Unit = {
    val clash = m.schema
      .map(_.fieldNames.toSeq.filter(CdfReservedNames.contains))
      .getOrElse(Seq.empty)
    require(clash.isEmpty,
      s"$dir: the recorded change feed reserves column name(s) " +
        s"${clash.mkString(", ")} — rename the column(s) or keep " +
        s"$ChangeFeedProperty off")
  }

  /** Is the recorded change feed on for the table as of manifest `m`?
    * When it is, the reserved marker names must be free — checked HERE
    * (the one gate every recording verb passes) so deleteWhere /
    * updateWhere / replaceWhere / overwritePartitions / tombstoneWhere
    * refuse exactly like merge instead of silently overwriting the
    * user's column in their recorded change rows. The creation paths
    * (enabling the feed, ADD/RENAME COLUMN) refuse up front, so this
    * fires only for clashes smuggled past them (a full-replace commit
    * with a clashing schema). Zero-change verbs (optimize /
    * applyDeletionVectors / materialize) pass `requireNamesFree =
    * false`: they record an EMPTY change set and write no marker
    * column, so a clash must not block table maintenance. */
  private[sources] def cdfEnabled(dir: String, m: Manifest,
      requireNamesFree: Boolean = true): Boolean = {
    val on = m.tblprops.get(ChangeFeedProperty).exists(_.equalsIgnoreCase("true"))
    if (on && requireNamesFree) requireCdfNamesFree(dir, m)
    on
  }

  /** Version `v`'s RECORDED change files: `Some(paths)` iff the commit
    * declared its row-level changes (possibly zero files for a net-zero
    * rewrite like [[optimize]]); `None` for ordinary commits (pure
    * appends derive their inserts at file grain; anything else is not
    * CDF-readable). */
  def changeFilesOf(spark: SparkSession, dir: String,
      v: Long): Option[Seq[String]] =
    manifest(spark, dir, v).changeFiles

  /** Write `df` (table columns + `_change_type`) as this commit's
    * change files under `changes/<changeId>/` — physical column names
    * like every data file (rename-immune), plain layout (change files
    * are read whole, never pruned). */
  private[sources] def writeChangeFiles(spark: SparkSession, dir: String,
      m: Manifest, df: DataFrame, changeId: String): Seq[String] = {
    val f = fs(spark, dir)
    val cdir = new Path(dir, s"changes/$changeId")
    toPhysical(dir, m, df).write.parquet(cdir.toString)
    f.listStatus(cdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
  }

  private[sources] def dropOrphanedChangeDir(spark: SparkSession, dir: String,
      changeId: String): Unit =
    try {
      val p = new Path(dir, s"changes/$changeId")
      val f = fs(spark, dir)
      if (f.exists(p)) { f.delete(p, true); () }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Read freshly written (not yet committed) data files back under
    * `outSchema`'s LOGICAL names — what [[replaceWhere]] records as its
    * insert change rows without re-evaluating the incoming plan.
    * Hive-partitioned files re-attach their partition values via
    * basePath; physical→logical renaming mirrors [[scanWithMeta]]. */
  private[sources] def readBackWritten(spark: SparkSession, m: Manifest,
      paths: Seq[String], pcs: Seq[String],
      outSchema: StructType): DataFrame = {
    val cm = m.colmap
    val phys = physicalSchema(cm, outSchema)
    val raw =
      if (pcs.isEmpty) spark.read.schema(phys).parquet(paths: _*)
      else paths.groupBy(commitRootOf).toSeq.sortBy(_._1)
        .map { case (root, ps) =>
          spark.read.schema(phys).option("basePath", root).parquet(ps: _*)
        }.reduce(_.unionByName(_))
    if (cm.isEmpty) raw
    else raw.select(outSchema.fields.toSeq.map(f =>
      col(s"`${cm.getOrElse(f.name, f.name)}`").as(f.name)): _*)
  }

  /** `schema` with every field under its PHYSICAL name — what the
    * parquet layer sees on both the read and the write path. */
  private[sources] def physicalSchema(cm: Map[String, String],
      schema: StructType): StructType =
    if (cm.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = cm.getOrElse(f.name, f.name))))

  /** Refuse (loudly) any NEW column name of a write into `dir` that is
    * already a physical name another column owns or a burned dropped
    * name — re-using it would make old files' bytes resurrect under the
    * new column. */
  private def requireUnreserved(dir: String, m: Manifest,
      names: Seq[String]): Unit = {
    val owned = m.colmap.values.toSet
    names.foreach { c =>
      if (!m.colmap.contains(c))
        require(!owned.contains(c) && !m.dropped.contains(c),
          s"column name '$c' is reserved by an earlier RENAME/DROP " +
            s"COLUMN on $dir (it is a physical storage name old files " +
            "still carry); pick a different name")
    }
  }

  /** Rename `df`'s columns logical→physical for a write into `dir` whose
    * latest manifest is `m` ([[requireUnreserved]] first). */
  private[sources] def toPhysical(dir: String, m: Manifest,
      df: DataFrame): DataFrame =
    if (m.colmap.isEmpty && m.dropped.isEmpty) df
    else {
      requireUnreserved(dir, m, df.columns.toSeq)
      df.select(df.columns.toSeq.map(c =>
        col(s"`$c`").as(m.colmap.getOrElse(c, c))): _*)
    }

  /** [[toPhysical]] for a write SCHEMA (the executor-side v2 streaming
    * write maps before encoding). Identity (and validation-free) on
    * unmapped tables. */
  private[sources] def physicalWriteSchema(spark: SparkSession,
      dir: String, schema: StructType): StructType = {
    val m = tip(spark, dir)._2
    requireUnreserved(dir, m, schema.fieldNames.toSeq)
    physicalSchema(m.colmap, schema)
  }

  /** Version `v`'s per-file stats under its LOGICAL column names — what
    * every pruning consumer keys by. */
  private[graft] def fileStatsLogicalOf(spark: SparkSession, dir: String,
      v: Long): Map[String, Map[String, ColStat]] =
    manifest(spark, dir, v).logicalStats

  /** Widen `prev` with any columns `next` adds. Existing columns must
    * keep their type (a silent type change would corrupt every older
    * file's read); added columns are nullable — older files lack them
    * and read as typed nulls. */
  /** Same type up to NESTED nullability (array containsNull, map
    * valueContainsNull, struct field nullability) — an `array<float>`
    * built by `array(...)` (containsNull=false) must insert into a
    * declared `array<float>` column (containsNull=true) and vice versa;
    * nested nullability widens, it never "changes the type". */
  private[sources] def sameTypeIgnoreNull(a: DataType, b: DataType): Boolean =
    org.apache.spark.sql.catalyst.types.DataTypeUtils
      .equalsIgnoreNullability(a, b)

  /** The union type: `a` with nested nullability widened by `b`'s. */
  private[sources] def widenNulls(a: DataType, b: DataType): DataType =
    (a, b) match {
      case (ArrayType(ae, an), ArrayType(be, bn)) =>
        ArrayType(widenNulls(ae, be), an || bn)
      case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
        MapType(widenNulls(ak, bk), widenNulls(av, bv), an || bn)
      case (StructType(af), StructType(bf)) =>
        StructType(af.zip(bf).map { case (x, y) =>
          x.copy(dataType = widenNulls(x.dataType, y.dataType),
            nullable = x.nullable || y.nullable)
        })
      case _ => a
    }

  private[sources] def mergeSchemas(prev: StructType, next: StructType): StructType = {
    val byName = next.fields.map(f => f.name -> f).toMap
    val kept = prev.fields.map { pf =>
      byName.get(pf.name) match {
        case Some(nf) =>
          require(sameTypeIgnoreNull(nf.dataType, pf.dataType),
            s"schema evolution cannot change column '${pf.name}' from " +
              s"${pf.dataType.simpleString} to ${nf.dataType.simpleString}")
          pf.copy(dataType = widenNulls(pf.dataType, nf.dataType))
        case None => pf
      }
    }
    val added = next.fields.filterNot(f => prev.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** Write `df` into a fresh immutable commit directory; returns the
    * new part-file paths (not yet visible — nothing references them
    * until a manifest names them). With `partitionCols` the write is
    * hive-layout partitioned (`data/<uuid>/c=v/part-*.parquet`) and
    * every returned file is PARTITION-PURE — one tuple per file, the
    * invariant [[readPartition]]'s manifest-level prune relies on. */
  private[sources] def writeData(spark: SparkSession, dir: String, m: Manifest,
      df0: DataFrame, commitId: String,
      partitionCols: Seq[String] = Seq.empty): Seq[String] = {
    val f = fs(spark, dir)
    val dataDir = new Path(dir, s"data/$commitId")
    // files always store PHYSICAL names (no-op on never-renamed tables);
    // partition columns are un-renameable, so the hive layout below
    // stays literal — and a NEW layout may only be declared on
    // storage-named columns (a renamed column's dir names would
    // diverge from the tuples every manifest consumer parses)
    val df = toPhysical(dir, m, df0)
    partitionCols.foreach(c => require(!m.colmap.contains(c),
        s"partition column '$c' is a RENAMED column on $dir — declare " +
          "partition layouts on storage-named columns only"))
    if (partitionCols.isEmpty) {
      df.write.parquet(dataDir.toString)
      f.listStatus(dataDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map(_.getPath.toString).sorted
    } else {
      df.write.partitionBy(partitionCols: _*).parquet(dataDir.toString)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val it = f.listFiles(dataDir, true) // recursive: partition subdirs
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.startsWith("part-"))
          out += s.getPath.toString
      }
      out.toSeq.sorted
    }
  }

  /** The pluggable commit-primitive seam ([[LogStore]]): claim
    * create-exclusive, manifest publish, cursor overwrite. Default =
    * Hadoop FS semantics with a loud refusal on object-store schemes
    * whose rename is not atomic; swap in a conditional-PUT
    * implementation for S3-class stores BEFORE the first commit. */
  @volatile private[sources] var store: LogStore = HadoopFsLogStore
  def setLogStore(ls: LogStore): Unit = { store = ls }
  def logStore: LogStore = store
}
