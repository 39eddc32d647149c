package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Partitioned tables: per-file partition tuples, hive escaping, partitioned commit/read — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotPartitions { this: SnapshotLog.type =>

  // -------------------------------------------------------------------
  // PARTITIONED TABLES — directory-level pruning inside the format
  // -------------------------------------------------------------------

  /** Declared partition columns of a version — empty for an
    * unpartitioned version. Partitioning is per-VERSION state like the
    * schema: every mutating verb carries it forward; only a full-replace
    * [[commit]]/[[commitPartitioned]] re-decides the layout. */
  def partitionColsOf(spark: SparkSession, dir: String,
      v: Long): Seq[String] =
    manifest(spark, dir, v).partitionCols

  /** Per-file partition tuples of a version: file path → (partition
    * column → rendered value). Readers prune from THESE — never by
    * re-parsing paths at read time. */
  private[graft] def filePartsOf(spark: SparkSession, dir: String,
      v: Long): Map[String, Map[String, String]] =
    manifest(spark, dir, v).fileParts

  /** Hive path-segment unescape (Spark percent-encodes `/:=%` etc. in
    * partition dir names); values recorded in the manifest are the RAW
    * values, so probes never need to know the path encoding.
    *
    * Deliberately CHAR-PER-BYTE, matching Spark's own
    * `unescapePathName` — the value partition discovery will attach to
    * the column at read time. Spark's escaping is ASCII-only (non-ASCII
    * values land RAW in dir names and round-trip exactly); a manifest
    * that "fixed" a multi-byte escape to real UTF-8 would disagree with
    * what the scan materializes — prune hits, residual filter misses.
    * External writers that percent-encode UTF-8 are rejected loudly at
    * [[commitBatchExternal]] instead (see [[hiveUnescapeUtf8]]). */
  private[sources] def hiveUnescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { // malformed escape passes through verbatim
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The UTF-8 interpretation of a hive-escaped segment: escaped byte
    * RUNS decode as UTF-8. Used ONLY to DETECT externally-published
    * layouts whose writers percent-encoded multi-byte values — under
    * Spark's char-per-byte discovery such a layout reads back mojibake
    * in the partition column, so [[commitBatchExternal]] refuses it
    * loudly (write raw UTF-8 dir names instead) rather than record a
    * tuple every equality probe would silently miss. */
  private[sources] def hiveUnescapeUtf8(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val bos = new java.io.ByteArrayOutputStream(s.length)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def hex(c: Char) = Character.digit(c, 16) >= 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        bos.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        val end = if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) i + 2 else i + 1
        val b = s.substring(i, end).getBytes(utf8)
        bos.write(b, 0, b.length)
        i = end
      }
    }
    new String(bos.toByteArray, utf8)
  }

  /** The partition marker Spark writes for a NULL partition value. */
  private[graft] val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Derive a freshly written file's partition tuple from its hive
    * path segments — exact by construction: [[writeData]] wrote the
    * layout one call ago. */
  private[sources] def partTupleOfPath(path: String,
      partCols: Seq[String]): Seq[(String, String)] = {
    val kvs = path.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0) Some(hiveUnescape(seg.take(i)) -> hiveUnescape(seg.drop(i + 1)))
      else None
    }.toMap
    partCols.map(c => c -> kvs.getOrElse(c, throw new IllegalStateException(
      s"partitioned data file lacks a '$c=' path segment: $path")))
  }

  /** The partition tuples of freshly written `files` under layout
    * `partCols`, from their paths (empty when unpartitioned). */
  private[sources] def freshParts(partCols: Seq[String],
      files: Seq[String]): Map[String, Map[String, String]] =
    if (partCols.isEmpty) Map.empty
    else files.map(p => p -> partTupleOfPath(p, partCols).toMap).toMap

  /** Decode a RECORDED partition value string back to the column's JVM
    * type, for range/point pruning on partition columns (their values
    * live only in the manifest tuple — no in-file stats can exist).
    * None = cannot decode under this type (conservative: keep the
    * file), EXCEPT the hive null marker which every caller handles
    * first. Timestamps are deliberately not decoded (their path
    * rendering is timezone-shaped — conservative keep). */
  private[sources] def decodePartValue(raw: String,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    try dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(java.lang.Long.parseLong(raw))
      case DateType    => Some(java.sql.Date.valueOf(raw))
      case StringType  => Some(raw)
      case d: DecimalType if d.precision <= 18 =>
        Some(new java.math.BigDecimal(raw).setScale(d.scale))
      case _ => None
    } catch { case _: Exception => None }
  }

  /** Render a probe value the way partition tuples are recorded:
    * dates/ints/longs/strings by their canonical string form, null by
    * the hive marker. Must match Spark's own partition-path rendering
    * (which the tuples were derived from) — the types below are the
    * ones that round-trip exactly; use a string probe for anything
    * exotic. */
  private[sources] def renderPartValue(v: Any): String = v match {
    case null                    => NullPartition
    case d: java.sql.Date        => d.toString
    case d: java.time.LocalDate  => d.toString
    // a timestamp's toString need not match Spark's partition-dir
    // rendering, and THIS prune is an equality cut — a silent mismatch
    // would return a wrong EMPTY result, not a conservative over-read.
    // Loud beats wrong: probe with the exact recorded string instead.
    case _: java.sql.Timestamp | _: java.time.Instant |
         _: java.time.LocalDateTime =>
      throw new IllegalArgumentException(
        "timestamp partition probes must be passed as the exact recorded " +
          "string (see filePartsOf) — a JVM timestamp's rendering need " +
          "not match the partition-directory encoding")
    case other                   => other.toString
  }

  /** [[commit]] with declared hive partitioning (and optionally
    * zone-map stats): data lands partition-pure under per-tuple dirs,
    * the manifest records the declaration and every file's tuple, and
    * [[readPartition]] prunes at MANIFEST-PARSE time — the first-order
    * prune at 100 TB, before zone maps and before any parquet footer
    * opens. Every mutating verb (merge/deleteWhere/updateWhere/
    * optimize/clone/restore/analyze/commitBatch) preserves the
    * declaration and keeps rewritten files partition-pure. */
  def commitPartitioned(spark: SparkSession, dir: String, df: DataFrame,
      partitionCols: Seq[String],
      statCols: Seq[String] = Seq.empty): Long = {
    require(partitionCols.nonEmpty,
      "commitPartitioned needs at least one partition column (plain " +
        "commit() for an unpartitioned table)")
    val missing = partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(",")} absent from the frame")
    val commitId = java.util.UUID.randomUUID().toString
    var files: Seq[String] = null
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      val (latest, m) = tip(spark, dir)
      if (files == null) {
        val (wired, assertChecks) =
          observedChecks(df, m.checks, commitId, s"commit into $dir")
        files = writeData(spark, dir, m, wired, commitId, partitionCols)
        assertChecks()
        validated = Some(m.checks)
      } else if (!validated.contains(m.checks)) {
        requireChecksPass(m.checks, df, s"commit into $dir")
        validated = Some(m.checks)
      }
      commitFiles(spark, dir, m.next.replace(files, df.schema).copy(
          partitionCols = partitionCols,
          fileParts = freshParts(partitionCols, files),
          rawStats = freshStats(spark, m, files, statCols)),
        commitId, base = Some(latest)) match {
        case Some(v) => return v
        case None    => ()
      }
    }
    -1L // unreachable
  }

  /** Partition-pruned read: rows where each `where` column equals the
    * given value, planning ONLY the files whose RECORDED partition
    * tuple matches — pruning happens while parsing the manifest,
    * before zone maps, blooms, or any file open. Non-partition
    * residual exactness: the equality predicate is applied to the kept
    * rows too, so a stale or partial prune can only over-read, never
    * fabricate. Returns (frame, filesScanned, filesTotal), the
    * [[readBetween]] accountability contract. Probing a column the
    * version is not partitioned by is loud — the caller expected a
    * prune that cannot happen ([[readBetweenValues]] is the tool for
    * value-range predicates). */
  def readPartition(spark: SparkSession, dir: String, where: Map[String, Any],
      version: Option[Long] = None): (DataFrame, Int, Int) = {
    require(where.nonEmpty, "readPartition needs at least one column=value")
    val (v, m) = versionAt(spark, dir, version)
    val pcs = m.partitionCols
    val notPart = where.keySet.filterNot(pcs.contains)
    require(notPart.isEmpty,
      s"version $v of $dir is not partitioned by ${notPart.mkString(",")} " +
        s"(declared: ${if (pcs.isEmpty) "none" else pcs.mkString(",")})")
    val rendered = where.map { case (c, x) => c -> renderPartValue(x) }
    val kept = m.files.filter { p =>
      m.fileParts.get(p) match {
        case Some(t) => rendered.forall { case (c, rv) => t.get(c).contains(rv) }
        case None    => true // unrecorded file — conservative
      }
    }
    val pred = where.map { case (c, x) =>
      if (x == null) col(c).isNull else col(c) === lit(x)
    }.reduce(_ && _)
    (readKept(spark, dir, v, m, kept, pred), kept.size, m.files.size)
  }
}
