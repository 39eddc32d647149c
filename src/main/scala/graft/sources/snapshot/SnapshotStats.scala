package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Typed zone maps and filtered reads: stat encoding, analyze, readBetween/readWhere/readFilter, CNF pruning — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotStats { this: SnapshotLog.type =>

  // -------------------------------------------------------------------
  // Per-file column stats (zone maps) — planning-time file skipping
  // -------------------------------------------------------------------

  /** Typed per-file column statistic recorded in the manifest.
    * [[LongStat]] is the ORDER-PRESERVING long encoding shared by every
    * non-string orderable type (ints verbatim, dates as epoch days,
    * timestamps as epoch micros, decimals p≤18 as the unscaled long —
    * all strictly monotone in the column's SQL ordering, so long
    * compares on the encoding decide range intersection exactly).
    * [[StrStat]] is the Iceberg-style truncated string range: `lo` is a
    * ≤[[StatTruncLen]]-codepoint PREFIX of the file minimum (a prefix
    * is ≤ the full string, so always a valid lower bound); `hi` is the
    * truncated maximum with its last code point incremented (strictly >
    * anything sharing the prefix, so a valid upper bound), or None for
    * "+∞" when every retained code point is already U+10FFFF. */
  // the stat ADT ([[ColStat]]/[[LongStat]]/[[StrStat]]) and the probe
  // ADT ([[Probe]]) live at PACKAGE level (end of this file): inner
  // case classes of a trait mix-in carry an outer reference that
  // pattern matches cannot check, and a path-dependent alias would
  // reintroduce the same warning — callers spell them
  // `graft.sources.LongStat` / `graft.sources.Probe` directly

  private[graft] val StatTruncLen = 32

  /** UTF-8 byte order — Spark's UTF8_BINARY string ordering, which the
    * recorded min/max were computed under. Java's String.compareTo is
    * UTF-16 order and disagrees for supplementary characters vs
    * U+E000..U+FFFF, so driver-side prune compares must NOT use it. */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Truncate a file-minimum to a valid (possibly shorter) lower bound:
    * a prefix never exceeds the original in UTF-8 order. Never splits a
    * surrogate pair (the dangling high surrogate would re-encode as a
    * replacement char and break the bound). */
  private[graft] def truncStatMin(s: String): String =
    if (s.length <= StatTruncLen) s
    else {
      val cut = if (Character.isHighSurrogate(s.charAt(StatTruncLen - 1)))
        StatTruncLen - 1 else StatTruncLen
      s.substring(0, cut)
    }

  /** Truncate a file-maximum to a valid upper bound: take the prefix,
    * then INCREMENT its last incrementable code point (skipping the
    * surrogate gap upward — a larger bound is still a bound) and drop
    * the tail. None = no incrementable code point remains ("+∞"). */
  private[graft] def truncStatMax(s: String): Option[String] =
    if (s.length <= StatTruncLen) Some(s)
    else {
      val cps = truncStatMin(s).codePoints().toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
      if (i < 0) None
      else {
        var next = cps(i) + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        Some(new String(cps, 0, i) + new String(Array(next), 0, 1))
      }
    }

  /** Stat-domain membership: the orderable types whose per-file ranges
    * the manifest can record. Floats/doubles go through the IEEE-754
    * order-preserving long encoding ([[encodeIeee]]) — the bound is the
    * exact bit pattern, nothing rounds; unbounded decimals are out (no
    * exact long). */
  private[graft] def statEncodable(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType | StringType |
           FloatType | DoubleType => true
      case d: DecimalType => d.precision <= 18
      case _ => false
    }
  }

  /** Order-preserving long encoding of an IEEE-754 double (the classic
    * sign-flip trick: non-negative bit patterns already sort correctly;
    * negative doubles have INVERTED bit order, so map them below zero
    * monotonically). `-0.0` normalizes to `0.0` first (Spark's
    * comparators treat them equal — an encoding that split them could
    * tighten a bound past a matching row); NaN's canonical bit pattern
    * lands above +Infinity, matching Spark's NaN-greatest sort order,
    * so a NaN max bound stays conservative. Floats widen exactly. */
  private[graft] def encodeIeee(d: Double): Long = {
    val n = if (d == 0.0d) 0.0d else d // -0.0 == 0.0 → canonical zero
    val bits = java.lang.Double.doubleToLongBits(n) // canonicalizes NaN
    if (bits >= 0L) bits else java.lang.Long.MIN_VALUE - bits
  }

  /** Order-preserving long encoding of a collected JVM value of a
    * non-string stat-encodable column (see [[ColStat]]). Handles both
    * the java.sql and java.time families (spark.sql.datetime.java8API
    * flips which one `collect` returns). */
  private[graft] def encodeStatLong(v: Any): Long = v match {
    case d: java.sql.Date          => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate    => d.toEpochDay
    case t: java.sql.Timestamp     =>
      Math.addExact(Math.multiplyExact(t.getTime, 1000L),
        (t.getNanos / 1000) % 1000L)
    case i: java.time.Instant      => java.time.temporal.ChronoUnit.MICROS
      .between(java.time.Instant.EPOCH, i)
    case l: java.time.LocalDateTime => java.time.temporal.ChronoUnit.MICROS
      .between(java.time.Instant.EPOCH, l.toInstant(java.time.ZoneOffset.UTC))
    case b: java.math.BigDecimal   => b.unscaledValue().longValueExact()
    case b: scala.math.BigDecimal  => b.underlying.unscaledValue().longValueExact()
    case d: java.lang.Double       => encodeIeee(d.doubleValue())
    case f: java.lang.Float        => encodeIeee(f.doubleValue())
    case n: java.lang.Number       => n.longValue()
    case other => throw new IllegalArgumentException(
      s"no stat encoding for ${other.getClass.getName}")
  }

  /** Resolve a caller's range-probe bound into the stat-long domain of
    * the column's DECLARED type — the domain [[encodeStatLong]] recorded
    * at write time. This closes the silent prune-bug class where e.g. a
    * `100L` probe against a `decimal(12,2)` column compared raw against
    * unscaled-at-scale bounds (10000..) and pruned files that contain
    * matching rows. Rules:
    *  - decimal column: any numeric probe rescales to the column's
    *    scale rounding OUTWARD via `rm` (never tightens);
    *  - integral column: any numeric probe rounds outward to an exact
    *    long;
    *  - float/double column: a Float/Double probe encodes exactly; any
    *    other numeric probe converts and then widens ONE ulp outward
    *    when the conversion was inexact;
    *  - date/timestamp column: the probe must be the matching temporal
    *    family (loud beats silently-empty — the [[renderPartValue]]
    *    rule); raw epoch numbers are ambiguous and rejected;
    *  - unknown column type (legacy table without a #schema header):
    *    the historical raw [[encodeStatLong]] fallback. */
  private[sources] def probeLong(dt: Option[org.apache.spark.sql.types.DataType],
      x: Any, rm: java.math.RoundingMode): Long = {
    import org.apache.spark.sql.types._
    def big: java.math.BigDecimal = x match {
      case b: java.math.BigDecimal  => b
      case b: scala.math.BigDecimal => b.underlying
      // via toString: decimal-literal semantics (0.1 → 0.1, not the
      // binary expansion), matching what a user means by the probe
      case d: java.lang.Double      => new java.math.BigDecimal(d.toString)
      case f: java.lang.Float       => new java.math.BigDecimal(f.toString)
      case n: java.lang.Number      =>
        java.math.BigDecimal.valueOf(n.longValue())
      case other => throw new IllegalArgumentException(
        s"cannot resolve a ${other.getClass.getName} probe against a " +
          s"${dt.map(_.simpleString).getOrElse("?")} column")
    }
    dt match {
      case Some(d: DecimalType) =>
        big.setScale(d.scale, rm).unscaledValue().longValueExact()
      case Some(LongType | IntegerType | ShortType | ByteType) =>
        big.setScale(0, rm).longValueExact()
      case Some(FloatType | DoubleType) => x match {
        case d: java.lang.Double => encodeIeee(d.doubleValue())
        case f: java.lang.Float  => encodeIeee(f.doubleValue())
        case _ =>
          val b = big
          val d = b.doubleValue()
          val exact = !d.isInfinite &&
            new java.math.BigDecimal(d).compareTo(b) == 0
          val widened =
            if (exact) d
            else if (rm == java.math.RoundingMode.UNNECESSARY)
              throw new ArithmeticException(s"$b is not a double")
            else if (rm == java.math.RoundingMode.FLOOR) Math.nextDown(d)
            else Math.nextUp(d)
          encodeIeee(widened)
      }
      case Some(DateType) => x match {
        case _: java.sql.Date | _: java.time.LocalDate => encodeStatLong(x)
        case _ => throw new IllegalArgumentException(
          "date-column probes must be java.sql.Date/LocalDate (a raw " +
            "number is ambiguous — epoch-day vs millis); got " +
            x.getClass.getName)
      }
      case Some(TimestampType | TimestampNTZType) => x match {
        case _: java.sql.Timestamp | _: java.time.Instant |
             _: java.time.LocalDateTime => encodeStatLong(x)
        case _ => throw new IllegalArgumentException(
          "timestamp-column probes must be java.sql.Timestamp/Instant/" +
            "LocalDateTime (a raw number is ambiguous — micros vs " +
            "millis; a Date leaves the time-of-day bound unstated); " +
            s"got ${x.getClass.getName}")
      }
      case Some(StringType) => throw new IllegalArgumentException(
        s"string-column probes must be String; got ${x.getClass.getName}")
      case Some(other) => throw new IllegalArgumentException(
        s"no stat probes for ${other.simpleString} columns")
      case None => encodeStatLong(x) // legacy: no #schema header
    }
  }

  /** Equality-probe resolution: `Some(encoded)` when the probe is
    * EXACTLY representable in the column's stat domain, `None` when it
    * is not — in which case no stored value can compare equal under the
    * stat encoding, so a point prune must fall back to keep-everything
    * (the residual equality filter stays exact either way). */
  private[sources] def probePoint(dt: Option[org.apache.spark.sql.types.DataType],
      x: Any): Option[Long] =
    try Some(probeLong(dt, x, java.math.RoundingMode.UNNECESSARY))
    catch { case _: ArithmeticException => None }

  /** Compute per-file min/max for `statCols` over freshly written
    * `files` of a table whose latest manifest is `m` — ONE scan of the
    * new files only (the Delta write-time stats rule: cost ∝ the commit,
    * never the table); returns path → encoded entries
    * ([[Manifest.encodeStats]]). The collected frame is bounded by the
    * commit's file count (≤ shuffle partitions per write), not by rows. */
  private[sources] def freshStats(spark: SparkSession, m: Manifest,
      files: Seq[String], statCols0: Seq[String]): Map[String, String] = {
    if (statCols0.isEmpty || files.isEmpty) return Map.empty
    // stats record PHYSICAL names (what the files carry; identical to
    // logical on never-renamed tables) — consumers remap back through
    // Manifest.logicalStats. Callers may pass either form: a logical
    // name maps through the colmap, a physical one is its own fixed
    // point (logical names can never shadow a physical name — the
    // toPhysical/renameColumn refusals).
    val statCols = statCols0.map(c => m.colmap.getOrElse(c, c))
    val df = spark.read.parquet(files: _*)
    statCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(statEncodable(dt),
        s"file stats support integral/float/double/date/timestamp/" +
          s"decimal(p<=18)/" +
          s"string columns; '$c' is ${dt.simpleString}")
    }
    val aggs = statCols.flatMap(c => Seq(
      min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
      // null PRESENCE (not count) per file — lets an IS NULL probe
      // prune a no-null file exactly; same single scan
      max(col(c).isNull).as(s"__nul_$c")))
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    // input_file_name URIs vs manifest path strings: join on the
    // scheme-independent path (the deleteWhere normalization)
    val byPath = rows.map(r => new Path(r.getString(0)).toUri.getPath -> r).toMap
    files.flatMap { p =>
      byPath.get(new Path(p).toUri.getPath).map { r =>
        val stats: Seq[(String, ColStat)] = statCols.flatMap { c =>
          val (lo, hi) = (r.getAs[Any](s"__min_$c"), r.getAs[Any](s"__max_$c"))
          val nul = Some(r.getAs[Boolean](s"__nul_$c"))
          if (lo == null || hi == null) None
          else df.schema(c).dataType match {
            case org.apache.spark.sql.types.StringType => Some(c ->
              StrStat(truncStatMin(lo.asInstanceOf[String]),
                truncStatMax(hi.asInstanceOf[String]), nul))
            case _ => Some(c ->
              LongStat(encodeStatLong(lo), encodeStatLong(hi), nul))
          }
        }
        p -> Manifest.encodeStats(stats)
      }
      // a file absent from the scan (zero rows) gets no stats and is
      // conservatively kept by every prune
    }.toMap
  }

  /** `m` with its file list rewritten to `carried` (a subset of its
    * files) plus `fresh` ones: carried files keep their recorded stats
    * and partition tuples verbatim, fresh files get stats over the SAME
    * column set (none when `m` recorded none) and tuples from their
    * paths — so zone maps survive deleteWhere/optimize instead of dying
    * at the first rewrite. */
  private[sources] def withFiles(spark: SparkSession, m: Manifest,
      carried: Seq[String], fresh: Seq[String]): Manifest = {
    val cols = m.stats.values.flatMap(_.keys).toSeq.distinct.sorted
    m.copy(files = (carried ++ fresh).sorted,
      rawStats = m.rawStats ++ freshStats(spark, m, fresh, cols),
      fileParts = m.fileParts ++ freshParts(m.partitionCols, fresh))
  }

  /** [[commit]] with per-file zone-map stats for `statCols` recorded in
    * the manifest, enabling [[readBetween]] to skip files at PLANNING
    * time — before any parquet footer opens. At 100 TB the difference
    * is real: footer min/max still costs one open per file; manifest
    * stats cost one small-file read per TABLE. Pair with a
    * range-clustered write (repartitionByRange + sortWithinPartitions
    * on the stat column, or [[optimize]] clustering) — stats on a
    * randomly-laid-out table prune nothing. */
  def commitWithStats(spark: SparkSession, dir: String, df: DataFrame,
      statCols: Seq[String]): Long = {
    val commitId = java.util.UUID.randomUUID().toString
    var files: Seq[String] = null
    var validated: Option[Seq[(String, String)]] = None
    while (true) {
      // same metadata base-check + ride-the-write validation as [[commit]]
      val (latest, m) = tip(spark, dir)
      if (files == null) {
        val (wired, assertChecks) =
          observedChecks(df, m.checks, commitId, s"commit into $dir")
        files = writeData(spark, dir, m, wired, commitId)
        assertChecks()
        validated = Some(m.checks)
      } else if (!validated.contains(m.checks)) {
        requireChecksPass(m.checks, df, s"commit into $dir")
        validated = Some(m.checks)
      }
      commitFiles(spark, dir, m.next.replace(files, df.schema)
          .copy(rawStats = freshStats(spark, m, files, statCols)),
        commitId, base = Some(latest)) match {
        case Some(v) => return v
        case None    => () // raced — re-read the carried metadata
      }
    }
    -1L // unreachable
  }

  /** RESTORE as a commit (the Delta `RESTORE TABLE ... TO VERSION`
    * verb): re-publish version `toV`'s exact file list, schema and
    * zone-map stats as the NEW latest version — an undo that shares
    * every data file by reference, writes nothing but a manifest, and
    * keeps the botched versions readable for forensics until vacuumed.
    * Fails loudly if `toV` is not retained. Base-checked: a commit
    * racing the restore wins and the caller decides whether the
    * rollback still applies (an undo computed against a stale latest
    * must not silently clobber newer data). */
  def restore(spark: SparkSession, dir: String, toV: Long): Long = {
    val vs = versions(spark, dir)
    require(vs.contains(toV),
      s"cannot restore to version $toV; have ${vs.mkString(",")}")
    val latest = vs.last
    if (toV == latest) return latest // already there
    val to = manifest(spark, dir, toV)
    val now = manifest(spark, dir, latest)
    // the restored version's whole state comes back — files, schema,
    // stats, DV (dropping it would resurrect deletes), checks, layout,
    // column mapping (the restored schema names need the restored
    // colmap) and properties — except two things that must never move
    // backwards: burned physical names (later drops' storage names stay
    // reserved; their bytes are still in files other retained versions
    // reference) and the replay mark (the restored version's batch id is
    // not re-published; the current mark is stamped)
    commitFiles(spark, dir,
      to.next.copy(dropped = to.dropped ++ now.dropped, watermark = now.mark),
      java.util.UUID.randomUUID().toString, base = Some(Some(latest)))
      .getOrElse(throw new IllegalStateException(
        s"restore to v$toV lost a race with a concurrent commit on $dir — " +
          "re-examine the new latest before retrying the rollback"))
  }

  /** ANALYZE TABLE as a commit: re-publish the latest version's EXACT
    * file list (shared 100% by reference — zero data written) with
    * freshly computed zone-map stats for `statCols`, so an existing
    * table retroactively gains planning-time file skipping
    * ([[readBetween]], [[merge]]'s fast path) without waiting for its
    * next [[commitWithStats]] rewrite. One scan of the table's stat
    * columns (column-pruned), one manifest write. Pair with
    * [[optimize]] clustering first — stats on a random layout prune
    * nothing. Base-checked like every read-modify-write commit: a
    * concurrent append/delete wins and analyze recomputes. */
  def analyze(spark: SparkSession, dir: String,
      statCols: Seq[String]): Long = {
    require(statCols.nonEmpty, "analyze needs at least one column")
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      // same file list (and DV, layout, checks) — only the stats change
      commitFiles(spark, dir,
        m.next.copy(rawStats = freshStats(spark, m, m.files, statCols)),
        java.util.UUID.randomUUID().toString,
        base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — recompute over the new latest
      }
    }
    0L // unreachable
  }

  private[graft] def fileStatsOf(spark: SparkSession, dir: String,
      v: Long): Map[String, Map[String, ColStat]] =
    manifest(spark, dir, v).stats

  /** Range read with manifest-stats file skipping: rows of `column` in
    * [lo, hi], scanning ONLY files whose recorded [min,max] intersects
    * the range (files without stats are kept — prune is always
    * conservative, the residual filter guarantees exactness). Returns
    * (frame, filesScanned, filesTotal) so callers — and the spec — can
    * hold the prune accountable. */
  def readBetween(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long,
      version: Option[Long] = None): (DataFrame, Int, Int) =
    readBetweenValues(spark, dir, column, lo, hi, version)

  /** [[readBetween]] over ANY stat-encodable bound type: pass the range
    * as the column's natural JVM values — `java.sql.Date`/`LocalDate`,
    * `Timestamp`/`Instant`, `BigDecimal`, `String`, or any integral.
    * Non-string bounds prune through the order-preserving long
    * encoding; string bounds compare in UTF-8 order against the
    * truncated [[StrStat]] range (truncation only ever widens the kept
    * set — the residual filter keeps the result exact). Decimal bounds
    * are rescaled to the column's scale OUTWARD (lo floor, hi ceiling),
    * again conservative. */
  def readBetweenValues(spark: SparkSession, dir: String, column: String,
      lo: Any, hi: Any,
      version: Option[Long] = None): (DataFrame, Int, Int) =
    readWhere(spark, dir, Seq((column, lo, hi)), version)

  /** Conjunctive multi-column pruned read — the realistic 100 TB scan
    * predicate (a date range AND a region AND an amount band in ONE
    * statement): every `(column, lo, hi)` range prunes independently
    * at manifest-parse time and a file survives only if ALL ranges
    * keep it (zone maps, truncated string ranges, and degenerate
    * partition tuples all participate per column); the fused residual
    * filter guarantees exactness. Returns (frame, filesScanned,
    * filesTotal), the [[readBetween]] accountability contract. */
  def readWhere(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)],
      version: Option[Long] = None): (DataFrame, Int, Int) =
    readFilter(spark, dir,
      ranges.map { case (c, lo, hi) => Probe.Range(c, Some(lo), Some(hi)) },
      version)

  /** IN-list pruned read: rows where `column` equals ANY of `values`,
    * planning only files whose zone map admits at least one value —
    * and, when a bloom sidecar covers the version, whose bloom might
    * contain at least one ([[readPoint]]'s skip, set-wise). */
  def readIn(spark: SparkSession, dir: String, column: String,
      values: Seq[Any],
      version: Option[Long] = None): (DataFrame, Int, Int) =
    readFilter(spark, dir, Seq(Probe.In(column, values)), version)

  /** Manifest-prunable probes for [[readFilter]]. Semantics are SQL
    * three-valued: [[Probe.Range]]/[[Probe.In]] are never true on NULL
    * (a null-partition file is pruned exactly), [[Probe.IsNull]]/
    * [[Probe.NotNull]] prune by the recorded null-presence flag or the
    * partition tuple, and every stat-side decision is conservative —
    * keep when unsure; the residual filter guarantees exactness. */

  /** General pruned read: a conjunction of [[Probe]]s, each pruning
    * independently at manifest-parse time — range probes against zone
    * maps, IN probes against zone maps AND bloom sidecars (a file is
    * kept only if SOME value survives both), IS NULL against the
    * recorded per-file null-presence flag, all four against the
    * partition tuple. Files without the relevant stat are kept
    * conservatively; the fused residual filter guarantees exactness.
    * Returns (frame, filesScanned, filesTotal). */
  def readFilter(spark: SparkSession, dir: String, probes: Seq[Probe],
      version: Option[Long] = None): (DataFrame, Int, Int) =
    readFilterImpl(spark, dir, probes, version, None)

  /** [[readFilter]] from a SQL predicate string: the predicate is
    * parsed, its prunable conjuncts (`BETWEEN`/comparisons, `IN`, `=`,
    * `IS [NOT] NULL`) become [[Probe]]s — string literals coerced under
    * each column's declared type — and the WHOLE original predicate
    * applies as the residual filter, so the result is exact regardless
    * of what pruned.
    *
    * OR trees prune PER DISJUNCT (round 10): the predicate lowers to a
    * conjunction of disjunctions of probe sets — a file survives when
    * every top-level conjunct has SOME disjunct whose probes all keep
    * it — so the retention-scan shape `day < a OR day > b` scans the
    * union of the two ranges' file sets instead of everything, and
    * `region = 'EU' AND (day < a OR day > b)` intersects on top.
    * A disjunct yielding no probes (a function call, a two-column
    * comparison) keeps all files for its conjunct — conservative, and
    * the residual filter still guarantees exactness. */
  def readFilterSql(spark: SparkSession, dir: String, predicate: String,
      version: Option[Long] = None): (DataFrame, Int, Int) = {
    val (v, m) = versionAt(spark, dir, version)
    val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
    readFilterCnf(spark, dir, v, m, cnfProbes(parsed, m.schema),
      expr(predicate))
  }

  /** Lower a parsed predicate to pruning form: top-level AND-split,
    * then each conjunct OR-split, then each disjunct through
    * [[probesFromExpr]] — a conjunction of disjunctions of probe
    * conjunctions. */
  private[graft] def cnfProbes(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: Option[StructType]): Seq[Seq[Seq[Probe]]] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def conjuncts(x: ce.Expression): Seq[ce.Expression] = x match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other        => Seq(other)
    }
    def disjuncts(x: ce.Expression): Seq[ce.Expression] = x match {
      case ce.Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case other       => Seq(other)
    }
    conjuncts(e).map(c => disjuncts(c).map(d => probesFromExpr(d, schema)))
  }

  /** Extract prunable [[Probe]]s from a parsed (unresolved) predicate:
    * AND-split, then per conjunct map `IN`/`=`/`IS [NOT] NULL` and
    * one-sided comparisons onto probes. Strict inequalities prune with
    * inclusive bounds (conservative — never drops a matching file).
    * Anything else — OR trees, function calls, column-to-column
    * comparisons — contributes no probe; the caller's residual filter
    * covers it. String literals against date/timestamp/decimal/integral
    * columns coerce to the column's JVM probe family (the SQL-surface
    * affordance; the typed Scala API stays loud on mismatches). */
  private[graft] def probesFromExpr(e: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: Option[StructType]): Seq[Probe] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def attrName(x: ce.Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    // a literal (or foldable cast of one) as an external JVM value,
    // coerced under the column's declared type when it arrives as a
    // bare SQL string ('2024-03-01' against a date column)
    def const(c: String, x: ce.Expression): Option[Any] =
      if (!x.foldable) None
      else Option(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(x.eval(), x.dataType)).map(coerceProbe(c, _, schema))
    def all(c: String, xs: Seq[ce.Expression]): Option[Seq[Any]] = {
      val cs = xs.map(const(c, _))
      if (cs.forall(_.isDefined)) Some(cs.map(_.get)) else None
    }
    def conjuncts(x: ce.Expression): Seq[ce.Expression] = x match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other        => Seq(other)
    }
    conjuncts(e).flatMap {
      case ce.In(a, vs) => for { c <- attrName(a); xs <- all(c, vs) }
        yield Probe.In(c, xs)
      // the parser leaves BETWEEN as the unresolved 'between' function
      // (resolved later to the RuntimeReplaceable Between node) — both
      // shapes map to an inclusive range
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("between") &&
            f.arguments.length == 3 && attrName(f.arguments.head).isDefined =>
        for { c <- attrName(f.arguments.head)
              l <- const(c, f.arguments(1)); h <- const(c, f.arguments(2)) }
          yield Probe.Range(c, Some(l), Some(h))
      case ce.Between(a, lo, hi, _) if attrName(a).isDefined =>
        for { c <- attrName(a); l <- const(c, lo); h <- const(c, hi) }
          yield Probe.Range(c, Some(l), Some(h))
      case ce.EqualTo(a, v) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) } yield Probe.In(c, Seq(x))
      case ce.EqualTo(v, a) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) } yield Probe.In(c, Seq(x))
      case ce.IsNull(a)    => attrName(a).map(Probe.IsNull)
      case ce.IsNotNull(a) => attrName(a).map(Probe.NotNull)
      case ce.GreaterThanOrEqual(a, v) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, Some(x), None)
      case ce.GreaterThan(a, v) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, Some(x), None)
      case ce.LessThanOrEqual(a, v) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, None, Some(x))
      case ce.LessThan(a, v) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, None, Some(x))
      // reversed one-sided comparisons: `lit OP col` flips the bound
      case ce.GreaterThanOrEqual(v, a) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, None, Some(x))
      case ce.GreaterThan(v, a) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, None, Some(x))
      case ce.LessThanOrEqual(v, a) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, Some(x), None)
      case ce.LessThan(v, a) if attrName(a).isDefined =>
        for { c <- attrName(a); x <- const(c, v) }
          yield Probe.Range(c, Some(x), None)
      case _ => None // unprunable conjunct — residual-only
    }
  }

  /** Resolve a predicate/probe column against the declared schema under
    * the session's resolver (case-INsensitive unless
    * spark.sql.caseSensitive): returns the DECLARED field name — the
    * key every stat/bloom/partition lookup uses — or None when the
    * schema lacks the column (callers keep conservatively; the residual
    * filter, which resolves under the same session rules, decides). */
  private[sources] def resolveCol(schema: Option[StructType],
      c: String): Option[String] = schema.flatMap { st =>
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    st.fields.collectFirst { case f if res(f.name, c) => f.name }
  }

  /** SQL-surface string→typed coercion for [[probesFromExpr]]: a bare
    * string literal against a non-string column parses under the
    * column's declared type (ISO date/timestamp, decimal, integral);
    * unparseable values throw loudly (never a silent empty result).
    * Column resolution follows the session's case-sensitivity rules. */
  private[sources] def coerceProbe(c: String, v: Any,
      schema: Option[StructType]): Any = {
    import org.apache.spark.sql.types._
    (v, resolveCol(schema, c).flatMap(n =>
      schema.flatMap(_.fields.find(_.name == n))).map(_.dataType)) match {
      case (s: String, Some(DateType)) => java.sql.Date.valueOf(s)
      case (s: String, Some(TimestampType | TimestampNTZType)) =>
        java.sql.Timestamp.valueOf(s)
      case (s: String, Some(_: DecimalType)) => new java.math.BigDecimal(s)
      case (s: String, Some(LongType | IntegerType | ShortType | ByteType)) =>
        java.lang.Long.parseLong(s)
      case (s: String, Some(FloatType | DoubleType)) =>
        java.lang.Double.valueOf(s)
      case _ => v
    }
  }

  private[sources] def readFilterImpl(spark: SparkSession, dir: String,
      probes: Seq[Probe], version: Option[Long],
      residual: Option[Column]): (DataFrame, Int, Int) = {
    require(probes.nonEmpty || residual.nonEmpty,
      "readFilter needs at least one probe")
    val pred = residual.getOrElse(probes.map {
      case Probe.Range(c, lo, hi) =>
        (lo.map(col(c) >= lit(_)) ++ hi.map(col(c) <= lit(_)))
          .reduce(_ && _)
      case Probe.In(c, vs)   => col(c).isin(vs: _*)
      case Probe.IsNull(c)   => col(c).isNull
      case Probe.NotNull(c)  => col(c).isNotNull
    }.reduce(_ && _))
    // a plain conjunction is the 1-disjunct-per-conjunct CNF
    val (v, m) = versionAt(spark, dir, version)
    readFilterCnf(spark, dir, v, m, probes.map(p => Seq(Seq(p))), pred)
  }

  /** Pruning core over a conjunction of disjunctions of probe
    * conjunctions (see [[cnfProbes]]): a file is kept when EVERY
    * top-level conjunct has SOME disjunct whose probes ALL keep it.
    * An empty disjunct (unprunable expression) keeps all files for its
    * conjunct; `residualPred` applies in full, so the result is exact
    * regardless of what pruned. */
  private[sources] def readFilterCnf(spark: SparkSession, dir: String,
      v: Long, m: Manifest, cnf: Seq[Seq[Seq[Probe]]],
      residualPred: Column): (DataFrame, Int, Int) = {
    val kept = pruneFilesCnf(spark, dir, v, m, cnf)
    (readKept(spark, dir, v, m, kept, residualPred), kept.size, m.files.size)
  }

  /** `kept` files of version `v` filtered by `pred` — when every file
    * was pruned, an empty frame with the version's schema. */
  private[sources] def readKept(spark: SparkSession, dir: String, v: Long,
      m: Manifest, kept: Seq[String], pred: Column): DataFrame =
    if (kept.nonEmpty) readFiles(spark, dir, m, kept).filter(pred)
    else m.schema match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => readAt(spark, dir, v, m).filter(pred).limit(0)
    }

  /** The manifest-grain KEEP decision alone: the subset of version `v`'s
    * files some row of which COULD satisfy the CNF (zone maps ∧ bloom
    * sidecars ∧ partition tuples ∧ null-presence flags, each
    * conservative). This is [[readFilterCnf]]'s core without the read —
    * what the rewriting verbs use to pre-prune their affected-file
    * detection scans. */
  private[graft] def pruneFilesCnf(spark: SparkSession, dir: String,
      v: Long, m: Manifest, cnf0: Seq[Seq[Seq[Probe]]]): Seq[String] = {
    val files = m.files
    val stats = m.logicalStats // probes use logical names
    val schema = m.schema
    // canonicalize probe columns to their DECLARED names under the
    // session resolver (case-insensitive by default): stat, bloom and
    // partition lookups key on the declared name, and a case-mismatched
    // SQL predicate must PRUNE, not throw
    val cnf: Seq[Seq[Seq[Probe]]] = cnf0.map(_.map(_.map { p =>
      resolveCol(schema, p.column) match {
        case Some(n) if n != p.column => p match {
          case Probe.Range(_, lo, hi) => Probe.Range(n, lo, hi)
          case Probe.In(_, xs)        => Probe.In(n, xs)
          case Probe.IsNull(_)        => Probe.IsNull(n)
          case Probe.NotNull(_)       => Probe.NotNull(n)
        }
        case _ => p
      }
    }))
    val flatProbes = cnf.flatten.flatten
    val pcs = m.partitionCols
    val parts = m.fileParts
    // bloom sidecars participate only for IN probes (point-set skipping,
    // the readPoint rule set-wise) — one sidecar read, filtered to the
    // probed columns
    val inCols = flatProbes.collect { case Probe.In(c, _) => c }.distinct
    val blooms: Map[(String, String), Array[Byte]] =
      if (inCols.isEmpty || !fs(spark, dir).exists(bloomPath(dir, v)))
        Map.empty
      else spark.read.parquet(bloomPath(dir, v).toString)
        .filter(col("col").isin(inCols: _*))
        .collect()
        .map(r => (new Path(r.getString(0)).toUri.getPath, r.getString(1)) ->
          r.getAs[Array[Byte]]("bloom")).toMap

    // non-throwing: a column the schema lacks (or a legacy schemaless
    // table) keeps files conservatively — the residual filter decides
    def colDtOf(c: String) =
      schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
    def partValsOf(c: String): Map[String, String] =
      if (!pcs.contains(c)) Map.empty
      else parts.flatMap { case (p, t) => t.get(c).map(p -> _) }

    // per-probe file predicate: recorded stat ∧ bloom ∧ degenerate
    // partition tuple, each conservative
    def probeKeep(probe: Probe): String => Boolean = probe match {
      case Probe.Range(column, lo, hi) =>
        val colDt = colDtOf(column)
        val isStr = colDt.contains(org.apache.spark.sql.types.StringType) ||
          lo.exists(_.isInstanceOf[String]) || hi.exists(_.isInstanceOf[String])
        val keep: ColStat => Boolean =
          if (isStr) {
            def s(b: Option[Any], side: String): Option[String] = b.map {
              case x: String => x
              case other => throw new IllegalArgumentException(
                s"string-column probes must be String; $side bound of " +
                  s"'$column' is ${other.getClass.getName}")
            }
            val (l, h) = (s(lo, "lo"), s(hi, "hi"))
            st => st match {
              case StrStat(mn, mxOpt, _) =>
                l.forall(lb => mxOpt.forall(mx => utf8Cmp(mx, lb) >= 0)) &&
                h.forall(hb => utf8Cmp(mn, hb) <= 0)
              case _ => true
            }
          } else {
            // every bound resolves into the COLUMN's stat domain
            // (outward rounding — never tightens); mismatched probe
            // families throw loudly rather than silently mis-prune
            val el = lo.map(probeLong(colDt, _, java.math.RoundingMode.FLOOR))
            val eh = hi.map(probeLong(colDt, _, java.math.RoundingMode.CEILING))
            st => st match {
              case LongStat(mn, mx, _) =>
                el.forall(mx >= _) && eh.forall(mn <= _)
              case _ => true
            }
          }
        // a PARTITION column's value is a degenerate [v, v] zone map
        // decoded under the column's type; a null-partition file is
        // pruned EXACTLY (a range predicate is never true on NULL); an
        // undecodable value keeps the file conservatively
        val partVals = partValsOf(column)
        def keepByPart(raw: String): Boolean =
          if (raw == NullPartition) false
          else colDt.flatMap(decodePartValue(raw, _)) match {
            case Some(x: String) => keep(StrStat(x, Some(x)))
            case Some(x)         =>
              val e = encodeStatLong(x); keep(LongStat(e, e))
            case None            => true
          }
        p => {
          val byStat = stats.get(p).flatMap(_.get(column)) match {
            case Some(st) => keep(st)
            case None     => true
          }
          byStat && partVals.get(p).forall(keepByPart)
        }

      case Probe.In(column, values) =>
        val colDt = colDtOf(column)
        val isStr = colDt.contains(org.apache.spark.sql.types.StringType) ||
          values.exists(_.isInstanceOf[String])
        // stat keep: SOME value inside [min,max]. A value not EXACTLY
        // representable in the column's stat domain might still compare
        // equal under Spark's comparison coercion — it disables stat
        // and bloom pruning (keep-everything, the readPoint rule).
        val strVals: Seq[String] =
          if (!isStr) Seq.empty
          else values.map {
            case s: String => s
            case other => throw new IllegalArgumentException(
              s"string-column probes must be String; IN value for " +
                s"'$column' is ${other.getClass.getName}")
          }
        val encVals: Option[Seq[Long]] =
          if (isStr) None
          else {
            val es = values.map(probePoint(colDt, _))
            if (es.forall(_.isDefined)) Some(es.map(_.get)) else None
          }
        val statKeep: ColStat => Boolean =
          if (isStr) {
            case StrStat(mn, mxOpt, _) => strVals.exists(v =>
              utf8Cmp(mn, v) <= 0 && mxOpt.forall(mx => utf8Cmp(mx, v) >= 0))
            case _ => true
          } else encVals match {
            case Some(es) => {
              case LongStat(mn, mx, _) => es.exists(e => e >= mn && e <= mx)
              case _ => true
            }
            case None => _ => true // some value inexact — cannot prune
          }
        // bloom keep: SOME value might be contained (files without a
        // bloom — or inexact values — keep conservatively)
        val bloomKeep: String => Boolean =
          if (blooms.isEmpty || (!isStr && encVals.isEmpty)) _ => true
          else p => blooms.get((new Path(p).toUri.getPath, column)) match {
            case Some(bytes) =>
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
              if (isStr) strVals.exists(bf.mightContainString)
              else encVals.get.exists(bf.mightContainLong)
            case None => true
          }
        // partition keep: rendered equality against ANY value (the
        // readPoint rule); NullPartition never matches (IN is never
        // true on NULL)
        val partVals = partValsOf(column)
        lazy val rendered = values.map(renderPartValue)
        p => {
          val byStat = stats.get(p).flatMap(_.get(column)) match {
            case Some(st) => statKeep(st)
            case None     => true
          }
          byStat && bloomKeep(p) &&
            partVals.get(p).forall(raw => rendered.contains(raw))
        }

      case Probe.IsNull(column) =>
        // a recorded nulls=false flag prunes EXACTLY; legacy stats
        // (no flag) and stat-less files keep. An all-NULL column has
        // no stat line at all — kept, as it must be. A non-null
        // partition tuple prunes exactly; the null partition keeps.
        val partVals = partValsOf(column)
        p => {
          val byStat = stats.get(p).flatMap(_.get(column)) match {
            case Some(st) => st.nulls.getOrElse(true)
            case None     => true
          }
          byStat && partVals.get(p).forall(_ == NullPartition)
        }

      case Probe.NotNull(column) =>
        // stats cannot distinguish an all-NULL column (line omitted)
        // from an un-analyzed one — only the partition tuple prunes
        // (exactly: every row of a null-partition file IS null here)
        val partVals = partValsOf(column)
        p => partVals.get(p).forall(_ != NullPartition)
    }

    // CNF evaluation: ∀ conjunct ∃ disjunct ∀ probe — an empty
    // disjunct list cannot occur (disjuncts of a conjunct are ≥1) and
    // an empty PROBE list inside a disjunct keeps the file (vacuous
    // forall), which is exactly the conservative semantics for an
    // unprunable disjunct
    val keeps: Seq[Seq[Seq[String => Boolean]]] =
      cnf.map(_.map(_.map(probeKeep)))
    files.filter(p => keeps.forall(_.exists(_.forall(_(p)))))
  }

  /** Manifest-grain pre-prune for the rewriting verbs' affected-file
    * DETECTION scans: the subset of `v`'s files that could hold a row
    * matching `pred` (everything else is provably carry-by-reference
    * without opening a footer). Strictly an OPTIMIZATION: any failure
    * to lower the predicate — unprunable shapes, probe-family
    * mismatches the SQL surface would refuse loudly — falls back to
    * all files, never fails the verb. */
  private[graft] def detectionCandidates(spark: SparkSession, dir: String,
      v: Long, pred: Column): Seq[String] =
    detectionCandidates(spark, dir, v, manifest(spark, dir, v), pred)

  private[sources] def detectionCandidates(spark: SparkSession, dir: String,
      v: Long, m: Manifest, pred: Column): Seq[String] =
    try {
      import org.apache.spark.sql.catalyst.{expressions => ce}
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
      // a Column-DSL tree carries its operators as UnresolvedFunctions
      // (`>=`('k, 3500)) until ANALYSIS — normalize the comparison /
      // boolean shells to the catalyst nodes the probe lowering
      // matches; anything unmapped stays opaque = unprunable =
      // conservative. Resolved attribute refs re-bind by name.
      val e = org.apache.spark.sql.graftshim.ColumnBridge
        .eagerExpression(pred).transformUp {
          case a: ce.AttributeReference => UnresolvedAttribute.quoted(a.name)
          case f: UnresolvedFunction if f.nameParts.length == 1 =>
            (f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
              f.arguments) match {
              case (">=", Seq(l, r))       => ce.GreaterThanOrEqual(l, r)
              case ("<=", Seq(l, r))       => ce.LessThanOrEqual(l, r)
              case (">", Seq(l, r))        => ce.GreaterThan(l, r)
              case ("<", Seq(l, r))        => ce.LessThan(l, r)
              case ("=" | "==", Seq(l, r)) => ce.EqualTo(l, r)
              case ("and", Seq(l, r))      => ce.And(l, r)
              case ("or", Seq(l, r))       => ce.Or(l, r)
              case ("not", Seq(x))         => ce.Not(x)
              case ("isnull", Seq(x))      => ce.IsNull(x)
              case ("isnotnull", Seq(x))   => ce.IsNotNull(x)
              case ("in", l +: rest) if rest.nonEmpty => ce.In(l, rest)
              case _                       => f
            }
        }
      val cnf = cnfProbes(e, m.schema)
      // nothing prunable anywhere → skip the stat parse entirely
      if (cnf.forall(_.exists(_.isEmpty))) m.files
      else pruneFilesCnf(spark, dir, v, m, cnf)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // conservative fallback is CORRECT (full detection scan), but a
        // systematically failing probe lowering must not hide as a
        // permanent full-detection slowdown — say so once per call
        logWarning("detectionCandidates: probe lowering failed for " +
          s"$dir v$v — falling back to full detection scan " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage})")
        m.files
    }
}

/** Per-file column statistic: one decoded zone-map bound pair. `lo`
  * and `hi` for [[LongStat]] are the column's exact min/max in its
  * long-encoded stat domain; for [[StrStat]], `lo` is the (possibly
  * truncated) minimum (a UTF-8 prefix is ≤ the full string, so always a
  * valid lower bound) and `hi` the truncated maximum with its last code
  * point incremented (strictly > anything sharing the prefix), or None
  * for "+∞". Package-level (not nested in [[SnapshotLog]]) so the case
  * classes are outer-free in pattern matches — spell them
  * `graft.sources.LongStat` / `graft.sources.StrStat` (the pre-split
  * `SnapshotLog.LongStat` spelling no longer resolves). */
private[graft] sealed trait ColStat {
  /** Whether the file contains ANY null in this column — `Some(false)`
    * lets an IS NULL probe prune the file EXACTLY; `None` (legacy
    * stats written before the flag existed) keeps it conservatively. */
  def nulls: Option[Boolean]
}
private[graft] final case class LongStat(lo: Long, hi: Long,
  nulls: Option[Boolean] = None) extends ColStat
private[graft] final case class StrStat(lo: String, hi: Option[String],
  nulls: Option[Boolean] = None) extends ColStat

/** One prunable conjunct of a filtered snapshot read — see
  * [[SnapshotLog.readFilter]] for the three-valued prune semantics. */
sealed trait Probe { def column: String }
object Probe {
  /** Inclusive range; `None` = unbounded on that side (at least one
    * bound required). */
  final case class Range(column: String, lo: Option[Any], hi: Option[Any])
    extends Probe { require(lo.nonEmpty || hi.nonEmpty,
      s"range probe on '$column' needs at least one bound") }
  /** Point-set membership (`col IN (v1, v2, …)`). */
  final case class In(column: String, values: Seq[Any]) extends Probe {
    require(values.nonEmpty, s"IN probe on '$column' needs values") }
  final case class IsNull(column: String) extends Probe
  final case class NotNull(column: String) extends Probe
}
