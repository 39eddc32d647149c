package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** CHECK constraints and schema evolution: addColumns, alterCommit, rename/drop column, defaults — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotEvolve { this: SnapshotLog.type =>

  // -------------------------------------------------------------------
  // CHECK CONSTRAINTS — commit-time row validation (Delta ADD CONSTRAINT)
  // -------------------------------------------------------------------

  /** CHECK constraints of a version, in declaration order: (name, SQL
    * expression), carried by every commit verb like the schema — a
    * constraint is table state, not a side register. */
  def checksOf(spark: SparkSession, dir: String,
      v: Long): Seq[(String, String)] =
    manifest(spark, dir, v).checks

  /** Enforce `checks` on `df` — ONE fused aggregation over the commit's
    * rows (the [[graft.Expectations]] cost rule: never a pass per
    * check), loud failure naming every violated constraint with its
    * violation count, nothing committed on failure. SQL CHECK
    * three-valued logic: a row violates only when the expression is
    * definitely FALSE — NULL passes (declare a `col IS NOT NULL` check
    * to forbid nulls), matching Delta/ANSI CHECK semantics. */
  private[sources] def requireChecksPass(checks: Seq[(String, String)],
      df: DataFrame, what: String): Unit = {
    if (checks.isEmpty) return
    val aggs = checks.zipWithIndex.map { case ((_, s), i) =>
      sum(when(coalesce(expr(s), lit(true)) === false, 1L)
        .otherwise(0L)).as(s"__c$i")
    }
    val row =
      try df.agg(aggs.head, aggs.tail: _*).collect()(0)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CHECK constraint references a column absent from $what — " +
              "widen the batch or drop the constraint first: " +
              e.getMessage)
      }
    val viols = checks.zipWithIndex.flatMap { case ((n, s), i) =>
      val c = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (c > 0) Some(s"$n ($s): $c row(s)") else None
    }
    require(viols.isEmpty,
      s"CHECK constraint violated by $what: ${viols.mkString("; ")}")
  }

  /** Free-ride form of [[requireChecksPass]] for verbs that WRITE `df`:
    * the violation counts ride the write action itself via
    * `Dataset.observe` (the [[graft.sources.Observe]] recipe — zero
    * extra passes over the input, where the dedicated pass costs one
    * full read per constrained commit at 100 TB). Returns the
    * instrumented frame plus a thunk to call AFTER the write: it throws
    * the same loud per-constraint report on violation. Refusal then
    * leaves the just-written files as unreferenced orphans (no manifest
    * ever names them — invisible by construction) for the grace-period
    * vacuum, the documented orphan class of every lost-race write. */
  private[sources] def observedChecks(df: DataFrame, checks: Seq[(String, String)],
      commitId: String, what: String): (DataFrame, () => Unit) = {
    if (checks.isEmpty) return (df, () => ())
    val obs = new org.apache.spark.sql.Observation(s"graft-checks-$commitId")
    val aggs = checks.zipWithIndex.map { case ((_, s), i) =>
      sum(when(coalesce(expr(s), lit(true)) === false, 1L)
        .otherwise(0L)).as(s"__c$i")
    }
    // a check referencing a column the batch LACKS must refuse here, not
    // slip through: the batch's files would read typed nulls in that
    // column after the schema merge, i.e. rows the constraint forbids
    val wired =
      try df.observe(obs, aggs.head, aggs.tail: _*)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CHECK constraint references a column absent from $what — " +
              "widen the batch or drop the constraint first: " +
              e.getMessage)
      }
    (wired, () => {
      val m = obs.get
      val viols = checks.zipWithIndex.flatMap { case ((n, s), i) =>
        val c = Option(m(s"__c$i")).map(_.asInstanceOf[Long]).getOrElse(0L)
        if (c > 0) Some(s"$n ($s): $c row(s)") else None
      }
      require(viols.isEmpty,
        s"CHECK constraint violated by $what: ${viols.mkString("; ")}")
    })
  }

  /** ADD CONSTRAINT as a commit: validate that `sqlExpr` already HOLDS
    * on the table (one scan — a constraint that existing data violates
    * would make every future commit of those rows unreproducible), then
    * re-publish the latest version's exact file list with the new
    * `#check=` header — zero data written, base-checked like every
    * read-modify-write commit. Every subsequent row-adding verb
    * ([[commit]], [[commitBatch]], [[commitBatchReplace]],
    * [[commitBatchExternal]], [[merge]]) validates its incoming rows in
    * one fused aggregation and refuses the whole commit on violation —
    * and for the df-writing verbs the aggregation RIDES THE WRITE
    * ([[observedChecks]]), so a constrained ingest pays zero extra
    * passes over its input.
    * [[restore]] rolls back table STATE — data and metadata together —
    * so restoring to a pre-constraint version drops the constraint
    * (Delta semantics; MaintainSpec pins it). */
  /** `ALTER TABLE ... ADD COLUMNS` as a METADATA-ONLY commit: the new
    * version carries the latest file list unchanged under a WIDENED
    * schema header — no data is written or rewritten. Older files (and
    * every older version) simply lack the columns, so they read back as
    * typed NULLs (the same [[mergeSchemas]] evolution rule a widening
    * data commit uses) — or, when a field carries `CURRENT_DEFAULT`
    * metadata (`ADD COLUMN ... DEFAULT <expr>`), as the frozen folded
    * EXISTS_DEFAULT ([[alterCommit]]'s validation + every scan path's
    * file-missing-column fill); the next write carries them for real.
    * Added columns must be nullable, names must be fresh, and
    * everything else the manifest tracks (stats, DV, partition layout,
    * CHECK constraints, replay watermark) is carried forward verbatim —
    * the [[addCheck]] metadata-commit discipline.
    * Cost at 100 TB: one manifest write; zero data bytes. */
  def addColumns(spark: SparkSession, dir: String,
      cols: Seq[StructField]): Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    // one path for every schema-changing statement: alterCommit owns
    // the guards (fresh names, nullability, burned physical names)
    alterCommit(spark, dir, cols, Seq.empty, Seq.empty)
  }

  /** One `ALTER TABLE` statement as ONE atomic metadata commit: added
    * columns widen the schema (the [[addColumns]] rules), added CHECKs
    * validate the existing data under the WIDENED schema (a check
    * referencing a column added by the same statement sees exactly what
    * future reads will return there — the frozen DEFAULT when one is
    * declared, else typed NULLs under SQL three-valued logic), dropped
    * CHECKs leave. All-or-nothing: any
    * refused piece fails the whole statement before a single header is
    * staged, and the statement lands as exactly ONE version — never a
    * one-commit-per-change split whose partial failure leaves earlier
    * changes applied ([[graft.sources.GraftCatalog]] routes every
    * `alterTable` here). Zero data written, base-checked like every
    * metadata commit.
    *
    * DEFAULT values: an added column may carry a `CURRENT_DEFAULT`
    * metadata entry (the `ALTER TABLE ADD COLUMN ... DEFAULT <expr>`
    * SQL text). The statement VALIDATES it (constant-foldable, castable
    * to the column type — refused loudly otherwise) and freezes the
    * folded literal as the column's `EXISTS_DEFAULT`: pre-existing rows
    * read THAT value (every scan path fills file-missing columns from
    * it), while future inserts that omit the column evaluate
    * `CURRENT_DEFAULT`. `setDefaults` re-points `CURRENT_DEFAULT` only
    * (`ALTER COLUMN ... SET/DROP DEFAULT` — `None` drops): existing
    * rows keep reading the EXISTS_DEFAULT frozen when the column was
    * added, the standard Delta/Spark split. */
  def alterCommit(spark: SparkSession, dir: String,
      addCols: Seq[StructField],
      addChecks: Seq[(String, String)],
      dropChecks: Seq[String],
      renameCols: Seq[(String, String)] = Seq.empty,
      dropCols: Seq[String] = Seq.empty,
      setDefaults: Seq[(String, Option[String])] = Seq.empty): Long = {
    require(addCols.nonEmpty || addChecks.nonEmpty || dropChecks.nonEmpty ||
      renameCols.nonEmpty || dropCols.nonEmpty || setDefaults.nonEmpty,
      "alterCommit needs at least one change")
    require(setDefaults.map(_._1).distinct.length == setDefaults.length,
      s"duplicate SET DEFAULT columns in ${setDefaults.map(_._1).mkString(",")}")
    addChecks.foreach { case (name, sqlExpr) =>
      require(name.nonEmpty && !name.contains('=') && !name.contains('\n'),
        s"check name '$name' must be non-empty without '=' or newline")
      require(!sqlExpr.contains('\n'),
        "check expression must be a single line")
    }
    require(addChecks.map(_._1).distinct.length == addChecks.length,
      s"duplicate check names in ${addChecks.map(_._1).mkString(",")}")
    require(addCols.map(_.name).distinct.length == addCols.length,
      s"duplicate column names in ${addCols.map(_.name).mkString(",")}")
    (renameCols.flatMap(r => Seq(r._1, r._2)) ++ dropCols).foreach { n =>
      require(n.nonEmpty && !n.contains(':') && !n.contains('\t') &&
        !n.contains('\n') && !n.contains('%'),
        s"column name '$n' cannot carry ':', tab, newline or '%' " +
          "through a RENAME/DROP (the #colmap header encoding)")
    }
    // the recorded change feed owns the marker names — with the feed
    // ON, creating such a column via ADD/RENAME refuses HERE (the
    // creation path), so later recording verbs never meet the clash
    val reservedNew = (addCols.map(_.name) ++ renameCols.map(_._2))
      .filter(CdfReservedNames.contains)
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      require(reservedNew.isEmpty || !cdfEnabled(dir, m, requireNamesFree = false),
        s"$dir: the recorded change feed reserves column name(s) " +
          s"${reservedNew.mkString(", ")} — pick another name or keep " +
          s"$ChangeFeedProperty off")
      val schema = m.schema.getOrElse(readAt(spark, dir, latest, m).schema)
      val existing = m.checks
      dropChecks.foreach { n =>
        require(existing.exists(_._1 == n),
          s"no check named '$n' on $dir " +
            s"(have ${existing.map(_._1).mkString(",")})")
      }
      val kept = existing.filterNot(c => dropChecks.contains(c._1))

      // ---- RENAME / DROP COLUMN: metadata-only, against the column
      // mapping (statement order: renames, then drops, then adds) ----
      val pcsA = m.partitionCols
      // columns the SURVIVING checks reference (dropped-in-this-
      // statement checks release their columns); unparseable check SQL
      // refuses conservatively
      // lower-cased: Spark resolves CHECK SQL case-insensitively by
      // default, so 'Price > 0' pins column 'price' — a case-sensitive
      // guard would let the rename through and wedge every later write
      lazy val keptRefs: Set[String] = kept.flatMap { case (_, sql) =>
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
        }
      }.toSet
      var schema2 = schema
      var cm2 = m.colmap
      var burned2 = m.dropped
      renameCols.foreach { case (from, to) =>
        require(schema2.fieldNames.contains(from),
          s"no column '$from' on $dir")
        require(!schema2.fieldNames.contains(to),
          s"column '$to' already exists on $dir")
        require(!pcsA.contains(from),
          s"'$from' is a partition column of $dir — partition columns " +
            "cannot be renamed (hive dir names and manifest tuples are " +
            "literal)")
        require(!keptRefs.contains(from.toLowerCase(java.util.Locale.ROOT)),
          s"column '$from' is referenced by a CHECK constraint on $dir " +
            "— drop the constraint first (its SQL stores the name)")
        val phys = cm2.getOrElse(from, from)
        // '$to' may be a burned/owned physical name ONLY when it is
        // this very column's own (renaming back — a plain identity)
        require(to == phys ||
          (!cm2.removed(from).values.toSet.contains(to) &&
            !burned2.contains(to)),
          s"'$to' is a physical storage name old files of $dir still " +
            "carry — pick a different name")
        cm2 = if (to == phys) cm2 - from
          else (cm2 - from) + (to -> phys)
        schema2 = StructType(schema2.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      }
      dropCols.foreach { n =>
        require(schema2.fieldNames.contains(n), s"no column '$n' on $dir")
        require(!pcsA.contains(n),
          s"'$n' is a partition column of $dir — partition columns " +
            "cannot be dropped")
        require(!keptRefs.contains(n.toLowerCase(java.util.Locale.ROOT)),
          s"column '$n' is referenced by a CHECK constraint on $dir — " +
            "drop the constraint first")
        require(schema2.fields.length > 1,
          s"cannot drop the last column of $dir")
        burned2 = burned2 + cm2.getOrElse(n, n) // the physical name burns
        cm2 = cm2 - n
        schema2 = StructType(schema2.fields.filterNot(_.name == n))
      }
      addCols.foreach { f =>
        require(!schema2.fieldNames.contains(f.name),
          s"column '${f.name}' already exists on $dir")
        require(!cm2.values.toSet.contains(f.name) &&
          !burned2.contains(f.name),
          s"column name '${f.name}' is reserved by an earlier " +
            s"RENAME/DROP COLUMN on $dir (old files still carry it " +
            "physically); pick a different name")
        require(f.nullable,
          s"added column '${f.name}' must be nullable — existing rows " +
            "read it as its DEFAULT (NULL when none is declared)")
      }
      // DEFAULT <expr> on an added column: validate (constant-foldable,
      // castable — Spark's own analyzer check, loud on failure) and
      // freeze the FOLDED literal as EXISTS_DEFAULT — the value every
      // pre-existing row reads, immune to later SET DEFAULT re-points.
      // Folded over the ADDED fields only: re-folding existing columns
      // would overwrite their frozen EXISTS_DEFAULT with today's
      // CURRENT_DEFAULT and silently rewrite history.
      import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      val addCols2 =
        if (addCols.exists(_.metadata.contains(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)))
          ResolveDefaultColumns.constantFoldCurrentDefaultsToExistDefaults(
            StructType(addCols), "ALTER TABLE ADD COLUMNS").fields.toSeq
        else addCols
      var widened =
        if (addCols2.isEmpty) schema2
        else StructType(schema2.fields ++ addCols2)
      // SET/DROP DEFAULT: re-point CURRENT_DEFAULT (future inserts)
      // only; EXISTS_DEFAULT — what old rows read — stays frozen
      setDefaults.foreach { case (n, sqlOpt) =>
        require(widened.fieldNames.contains(n), s"no column '$n' on $dir")
        widened = StructType(widened.fields.map { f =>
          if (f.name != n) f
          else sqlOpt match {
            case None => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .remove(ResolveDefaultColumns
                  .CURRENT_DEFAULT_COLUMN_METADATA_KEY).build())
            case Some(sqlTxt) =>
              require(!sqlTxt.contains('\n'),
                "DEFAULT expression must be a single line")
              val f2 = f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putString(ResolveDefaultColumns
                    .CURRENT_DEFAULT_COLUMN_METADATA_KEY, sqlTxt).build())
              // loud validation: foldable + type-castable, or refused
              ResolveDefaultColumns.analyze(f2,
                "ALTER TABLE ALTER COLUMN SET DEFAULT")
              f2
          }
        })
      }
      addChecks.foreach { case (n, _) =>
        require(!kept.exists(_._1 == n),
          s"check '$n' already exists on $dir")
      }
      // a declared-empty table (CREATE TABLE before any INSERT) has no
      // rows to validate — the check starts enforced on the first write.
      // Validation sees the POST-statement view: renames applied (so a
      // check on a just-renamed column reads its real data, never a
      // NULL backfill), added columns as typed NULLs.
      if (addChecks.nonEmpty && m.files.nonEmpty) {
        val renameTo = renameCols.toMap
        val renamed = readAt(spark, dir, latest, m).select(
          schema.fields.toSeq.map(f =>
            col(s"`${f.name}`").as(renameTo.getOrElse(f.name, f.name))): _*)
        // READ-semantics fill: a CHECK declared alongside an
        // ADD COLUMN ... DEFAULT must validate against the frozen
        // default the scans will actually return, never a NULL the
        // three-valued logic would wave through
        requireChecksPass(addChecks,
          alignToRead(renamed.drop(dropCols: _*), widened),
          s"existing data of $dir")
      }
      commitFiles(spark, dir, m.next.withSchema(widened).copy(colmap = cm2,
          dropped = burned2, checks = kept ++ addChecks),
        java.util.UUID.randomUUID().toString,
        base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — revalidate against the new latest
      }
    }
    -1L // unreachable
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` as ONE metadata-only
    * commit: the logical name changes in the schema, the PHYSICAL name
    * stays (recorded in the column mapping), so zero data moves —
    * old versions time-travel under their own names, stats/DV/layout
    * carry verbatim. Refused for partition columns (hive dir names are
    * literal), CHECK-referenced columns (the constraint SQL stores the
    * name), and targets colliding with any live logical or reserved
    * physical name. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Long =
    alterCommit(spark, dir, Seq.empty, Seq.empty, Seq.empty,
      renameCols = Seq(from -> to))

  /** `ALTER TABLE ... DROP COLUMN` as ONE metadata-only commit: the
    * column leaves the schema; its bytes stay in old files (invisible —
    * reads project by schema), so its PHYSICAL name is BURNED into the
    * manifest's dropped set forever and can never be re-used (loud
    * refusal where Delta would mint a fresh mapping id). Old versions
    * still show the column via time travel. Refused for partition and
    * CHECK-referenced columns, and for the last column. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long =
    alterCommit(spark, dir, Seq.empty, Seq.empty, Seq.empty,
      dropCols = Seq(name))

  /** `ALTER TABLE ... ALTER COLUMN <col> SET DEFAULT <sql>` /
    * `DROP DEFAULT` (`None`) as ONE metadata-only commit. Re-points
    * what FUTURE inserts fill when they omit the column; rows already
    * on disk keep reading the `EXISTS_DEFAULT` frozen when the column
    * was added (or NULL for columns that never had one) — the standard
    * Delta/Spark current-vs-exists split. The expression must be
    * constant-foldable and castable to the column type (refused
    * loudly otherwise). */
  def setColumnDefault(spark: SparkSession, dir: String, name: String,
      defaultSql: Option[String]): Long =
    alterCommit(spark, dir, Seq.empty, Seq.empty, Seq.empty,
      setDefaults = Seq(name -> defaultSql))

  def addCheck(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Long = {
    require(name.nonEmpty && !name.contains('=') && !name.contains('\n'),
      s"check name '$name' must be non-empty without '=' or newline")
    require(!sqlExpr.contains('\n'),
      "check expression must be a single line")
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      require(!m.checks.exists(_._1 == name),
        s"check '$name' already exists on $dir")
      requireChecksPass(Seq((name, sqlExpr)),
        readAt(spark, dir, latest, m), s"existing data of $dir")
      commitFiles(spark, dir, m.next.copy(checks = m.checks :+ (name -> sqlExpr)),
        java.util.UUID.randomUUID().toString,
        base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — revalidate against the new latest
      }
    }
    -1L // unreachable
  }

  /** DROP CONSTRAINT as a commit — the inverse of [[addCheck]]; loud on
    * an unknown name (dropping a constraint you don't have is a bug). */
  def dropCheck(spark: SparkSession, dir: String, name: String): Long = {
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      require(m.checks.exists(_._1 == name),
        s"no check named '$name' on $dir " +
          s"(have ${m.checks.map(_._1).mkString(",")})")
      commitFiles(spark, dir, m.next.copy(checks = m.checks.filterNot(_._1 == name)),
        java.util.UUID.randomUUID().toString,
        base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => ()
      }
    }
    -1L // unreachable
  }
}
