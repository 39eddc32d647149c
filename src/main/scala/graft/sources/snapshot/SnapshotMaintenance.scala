package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Bloom sidecars, point lookup, vacuum planning and vacuum — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotMaintenance { this: SnapshotLog.type =>

  // -------------------------------------------------------------------
  // Per-file bloom filters (sidecar) — point-lookup file skipping
  // -------------------------------------------------------------------

  /** Sidecar location for version `v`'s per-file blooms. Blooms live in
    * a parquet SIDECAR, not manifest header lines: a useful filter is
    * tens of KB per (file, column) — fine as one small parquet per
    * version (the Iceberg/Puffin shape), ruinous inlined into the
    * manifest every reader parses. */
  private[sources] def bloomPath(dir: String, v: Long) =
    new Path(logDir(dir), s"blooms/v$v.parquet")

  /** Compute per-file bloom filters over `bloomCols` (any
    * stat-encodable column — integrals, dates, timestamps,
    * decimal(p≤18), strings) for the LATEST version and write them as
    * that version's sidecar — the point-lookup complement of
    * [[analyze]]'s zone maps: min/max stats prune RANGE predicates on
    * clustered layouts, blooms prune EQUALITY probes on
    * high-cardinality columns under ANY layout (`fpp` trades sidecar
    * size for false-positive file reads; skipping is planning-time,
    * before any parquet footer opens). Strings hash by UTF-8 bytes
    * (`putString`); every other type hashes its order-preserving long
    * encoding — [[readPoint]] probes through the same encoding so the
    * pair can never disagree. ONE column-pruned scan of the table.
    * Blooms attach to the version — a later COW rewrite commits a new
    * version without a sidecar, and [[readPoint]] degrades to
    * conservative full planning until the next analyzeBlooms. */
  def analyzeBlooms(spark: SparkSession, dir: String,
      bloomCols: Seq[String], expectedItems: Long = 100000L,
      fpp: Double = 0.01): Long = {
    require(bloomCols.nonEmpty, "analyzeBlooms needs at least one column")
    val (latest, m) = requireTip(spark, dir)
    // files carry PHYSICAL names; alias the probed columns back so the
    // sidecar records LOGICAL names (what readPoint/readFilter probe by)
    val cmB = m.colmap
    val raw = spark.read.parquet(m.files: _*)
    val df =
      if (cmB.isEmpty) raw
      else raw.select(bloomCols.map(c =>
        col(s"`${cmB.getOrElse(c, c)}`").as(c)): _*)
    bloomCols.foreach { c =>
      require(statEncodable(df.schema(c).dataType),
        "bloom columns must be integral/float/double/date/timestamp/" +
          "decimal(p<=18)/" +
          s"string; '$c' is ${df.schema(c).dataType.simpleString}")
    }
    val isStr = bloomCols.map(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType).toArray
    val n = expectedItems
    val items = df.select(
      (input_file_name().as("__f")) +: bloomCols.map(col): _*)
    val rows = items.rdd.mapPartitions { it =>
      val perFile = scala.collection.mutable.Map[
        String, Array[org.apache.spark.util.sketch.BloomFilter]]()
      it.foreach { r =>
        val bfs = perFile.getOrElseUpdate(r.getString(0),
          Array.fill(bloomCols.size)(
            org.apache.spark.util.sketch.BloomFilter.create(n, fpp)))
        var i = 0
        while (i < bloomCols.size) {
          if (!r.isNullAt(i + 1)) {
            if (isStr(i)) bfs(i).putString(r.getString(i + 1))
            else bfs(i).putLong(encodeStatLong(r.get(i + 1)))
          }
          i += 1
        }
      }
      perFile.iterator.flatMap { case (f, bfs) =>
        bloomCols.indices.map { i =>
          val bos = new java.io.ByteArrayOutputStream()
          bfs(i).writeTo(bos)
          (f, bloomCols(i), bos.toByteArray)
        }
      }
    }
    // partial blooms (same file seen by several partitions) OR-merge
    val merged = spark.createDataFrame(rows.map {
      case (f, c, b) => org.apache.spark.sql.Row(f, c, b)
    }, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("col",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bloom",
        org.apache.spark.sql.types.BinaryType))))
      .rdd.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case ((f, c), grp) =>
        val it = grp.iterator
        val first = org.apache.spark.util.sketch.BloomFilter
          .readFrom(it.next().getAs[Array[Byte]](2))
        it.foreach { r =>
          first.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
            .readFrom(r.getAs[Array[Byte]](2)))
        }
        val bos = new java.io.ByteArrayOutputStream()
        first.writeTo(bos)
        org.apache.spark.sql.Row(f, c, bos.toByteArray)
      }
    spark.createDataFrame(merged,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("col",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bloom",
          org.apache.spark.sql.types.BinaryType))))
      .coalesce(1)
      .write.mode("overwrite").parquet(bloomPath(dir, latest).toString)
    latest
  }

  /** Point lookup with bloom file skipping: rows where `column == value`
    * at `version` (default latest), scanning only files whose bloom
    * might contain the probe (files without blooms — or versions without
    * a sidecar — are kept conservatively; the residual filter guarantees
    * exactness). `value` takes the column's natural JVM type — String
    * probes hash by UTF-8 bytes, everything else resolves into the
    * COLUMN's stat domain ([[probeLong]]) — the domain
    * [[analyzeBlooms]] hashed the stored values with — so e.g. a `100L`
    * probe against a `decimal(12,2)` column hashes as unscaled `10000`,
    * never as raw `100` (which would bloom-miss every file and silently
    * return empty). A numerically INEXACT probe (`100.005` at scale 2)
    * disables bloom pruning for the lookup — no stored value can hash
    * equal, and the residual equality filter stays exact either way.
    * Mismatched temporal/string probe families throw loudly, the
    * [[readWhere]] rule. Returns (frame, filesScanned, filesTotal) for
    * accountability, the [[readBetween]] contract.
    *
    * Since round 9 this is the single-value case of [[readFilter]]'s
    * IN probe, so a point lookup also prunes by ZONE MAPS (a clustered
    * table skips on [min,max] even without a bloom sidecar) and the
    * partition tuple — one planning path for every point-set read. */
  def readPoint(spark: SparkSession, dir: String, column: String,
      value: Any, version: Option[Long] = None): (DataFrame, Int, Int) =
    readFilterImpl(spark, dir, Seq(Probe.In(column, Seq(value))), version,
      Some(col(column) === value))

  /** DRY-RUN [[vacuum]]: the point-in-time report of what a vacuum with
    * the same knobs would reclaim — one row per doomed artifact,
    * (kind, path, bytes), kind ∈ {version_manifest, bloom_sidecar,
    * dv_sidecar, data_file, change_file}. Read-only: nothing is
    * deleted, no state changes; the operator reads the blast radius
    * (and sums the bytes) BEFORE committing to retention. Mirrors
    * vacuum's decision rules exactly — VacuumPlanSpec holds the two in
    * lockstep (plan paths == the set vacuum then removes), so the
    * mirror cannot drift silently. Races: artifacts created after the
    * plan are not in it; re-plan after churn. */
  def vacuumPlan(spark: SparkSession, dir: String, keepLast: Int = 1,
      orphanGraceMs: Long = 15L * 60 * 1000,
      minAgeMs: Long = 0L): DataFrame = {
    require(keepLast >= 1, "must retain at least one version")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop0, keep0) = vs.splitAt(math.max(vs.size - keepLast, 0))
    val cutoff = System.currentTimeMillis() - minAgeMs
    val (drop, young) = drop0.partition(v =>
      f.getFileStatus(manifestPath(dir, v)).getModificationTime <= cutoff)
    val keep = (young ++ keep0).map(manifest(spark, dir, _))
    val dropM = drop.map(manifest(spark, dir, _))
    val droppedRefs = dropM.flatMap(_.files).toSet
    val droppedChangeRefs = dropM.flatMap(_.changeFiles.getOrElse(Nil)).toSet
    val out = Seq.newBuilder[(String, String, Long)]
    def len(p: Path): Long =
      try f.getFileStatus(p).getLen catch { case _: Throwable => 0L }
    drop.foreach { v =>
      out += (("version_manifest", manifestPath(dir, v).toString,
        len(manifestPath(dir, v))))
      if (f.exists(bloomPath(dir, v)))
        out += (("bloom_sidecar", bloomPath(dir, v).toString,
          len(bloomPath(dir, v))))
    }
    val dvRoot = new Path(logDir(dir), "dv")
    if (f.exists(dvRoot)) {
      val referenced = keep.flatMap(_.dv).toSet
      f.listStatus(dvRoot).foreach { st =>
        if (!referenced(st.getPath.getName))
          out += (("dv_sidecar", st.getPath.toString, st.getLen))
      }
    }
    val live = keep.flatMap(_.files).toSet
    val now = System.currentTimeMillis()
    val dataRoot = new Path(dir, "data")
    if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { d =>
      val it = f.listFiles(d.getPath, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile) {
          val p = s.getPath.toString
          val doomed = !live(p) && (droppedRefs(p) ||
            now - s.getModificationTime > orphanGraceMs)
          if (doomed) out += (("data_file", p, s.getLen))
        }
      }
    }
    val changesRoot = new Path(dir, "changes")
    if (f.exists(changesRoot)) {
      val liveChanges = keep.flatMap(_.changeFiles.getOrElse(Nil)).toSet
      f.listStatus(changesRoot).foreach { d =>
        f.listStatus(d.getPath).toSeq.filter(_.isFile).foreach { s =>
          val p = s.getPath.toString
          val doomed = !liveChanges(p) && (droppedChangeRefs(p) ||
            now - s.getModificationTime > orphanGraceMs)
          if (doomed) out += (("change_file", p, s.getLen))
        }
      }
    }
    import spark.implicits._
    out.result().toDF("kind", "path", "bytes")
  }

  /** Drop all but the newest `keepLast` versions and delete every data
    * file no retained manifest references (covers crash orphans too).
    * Deletion order is crash-safe: manifests first (a version stops
    * being readable before its files vanish), then unreferenced data.
    *
    * In-flight-commit safety: a committer writes data files BEFORE its
    * manifest rename, so a file referenced by NO manifest at all may be
    * a commit in flight, not garbage. Such never-referenced files are
    * only reclaimed once older than `orphanGraceMs` (the Delta/Iceberg
    * retention-window rule); files that WERE referenced — by a manifest
    * this vacuum just dropped — are provably dead and reclaimed
    * immediately regardless of age. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      orphanGraceMs: Long = 15L * 60 * 1000,
      minAgeMs: Long = 0L): (Int, Int) = {
    require(keepLast >= 1, "must retain at least one version")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop0, keep0) = vs.splitAt(math.max(vs.size - keepLast, 0))
    // age-based retention (the Delta `RETAIN n HOURS` rule): a version
    // younger than minAgeMs survives even beyond keepLast, so readers
    // and time-travelers inside the retention window never lose their
    // snapshot to an eager vacuum. Age = the manifest's rename mtime,
    // the commit point ([[versionAsOf]]'s clock).
    val cutoff = System.currentTimeMillis() - minAgeMs
    val (drop, young) = drop0.partition(v =>
      f.getFileStatus(manifestPath(dir, v)).getModificationTime <= cutoff)
    val keep = (young ++ keep0).map(manifest(spark, dir, _))
    // capture dropped manifests' references BEFORE deleting them: these
    // files are known-dead (their last referencing version is going away)
    // and exempt from the orphan grace period; so are dropped versions'
    // RECORDED change files
    val dropM = drop.map(manifest(spark, dir, _))
    val droppedRefs = dropM.flatMap(_.files).toSet
    val droppedChangeRefs = dropM.flatMap(_.changeFiles.getOrElse(Nil)).toSet
    drop.foreach { v =>
      f.delete(manifestPath(dir, v), false)
      f.delete(bloomPath(dir, v), true) // version-scoped bloom sidecar
    }
    // DV sidecars are uuid-named and manifest-referenced: reclaim any not
    // referenced by a RETAINED manifest (covers dropped versions, lost
    // commit races and compacted-away vectors)
    val dvRoot = new Path(logDir(dir), "dv")
    if (f.exists(dvRoot)) {
      val referenced = keep.flatMap(_.dv).toSet
      f.listStatus(dvRoot).foreach { st =>
        if (!referenced(st.getPath.getName)) f.delete(st.getPath, true)
      }
    }
    val live = keep.flatMap(_.files).toSet
    val dataRoot = new Path(dir, "data")
    val now = System.currentTimeMillis()
    var removedFiles = 0
    if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { d =>
      // recursive: partitioned commits nest files under c=v subdirs
      val parts = {
        val buf = scala.collection.mutable.ArrayBuffer[
          org.apache.hadoop.fs.LocatedFileStatus]()
        val it = f.listFiles(d.getPath, true)
        while (it.hasNext) { val s = it.next(); if (s.isFile) buf += s }
        buf.toSeq
      }
      val (keepP, dropP) = parts.partition { s =>
        val p = s.getPath.toString
        live(p) ||
          (!droppedRefs(p) && now - s.getModificationTime <= orphanGraceMs)
      }
      dropP.foreach { s => f.delete(s.getPath, false); removedFiles += 1 }
      if (keepP.isEmpty) f.delete(d.getPath, true) // whole commit dead
    }
    // recorded change files follow the same rule: referenced by a
    // RETAINED manifest → keep; referenced only by dropped versions →
    // dead now; unreferenced (lost commit races) → grace period
    val changesRoot = new Path(dir, "changes")
    if (f.exists(changesRoot)) {
      val liveChanges = keep.flatMap(_.changeFiles.getOrElse(Nil)).toSet
      f.listStatus(changesRoot).foreach { d =>
        val parts = f.listStatus(d.getPath).toSeq.filter(_.isFile)
        val (keepC, dropC) = parts.partition { s =>
          val p = s.getPath.toString
          liveChanges(p) || (!droppedChangeRefs(p) &&
            now - s.getModificationTime <= orphanGraceMs)
        }
        dropC.foreach { s => f.delete(s.getPath, false); removedFiles += 1 }
        if (keepC.isEmpty) f.delete(d.getPath, true)
      }
    }
    (drop.size, removedFiles)
  }
}
