package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SparkSessionExtensions hook registering graft's native expressions as
  * SQL functions, so `spark.sql("SELECT simhash64(...)...")` and the
  * Column API hit the exact same codegen'd Catalyst expressions:
  *
  *   - `minhash_sig(tokens, n, k)` → array<bigint> ([[HashExprs.MinHashSig]])
  *   - `simhash64(tokens)`         → bigint        ([[HashExprs.SimHash64]])
  *   - `dot_vec(a, b)`             → double        ([[VectorExprs.DotVec]])
  *   - `norm2_sq(v)`               → double        ([[VectorExprs.Norm2]])
  *   - `zorder2(x, y, bits)`       → bigint        ([[ZOrderExprs.ZOrder2]])
  *   - `zordern(array(a,b,...), bits)` → bigint     ([[ZOrderExprs.ZOrderN]],
  *     2..8 dims from the inline array's arity)
  *   - `sorted_intersect_count(a, b)` → bigint     ([[SetExprs.SortedIntersectCount]])
  *   - `bloom_agg(k[, nItems[, nBits]])` / `bloom_contains(bf, k)` —
  *     Spark's own runtime-filter bloom expressions
  *     (`BloomFilterAggregate`/`BloomFilterMightContain`), which the
  *     engine uses internally for join pruning but never registers for
  *     SQL. Surfacing them lets a query build a bloom filter over a small
  *     filtered dim ONCE (a few KB) and prefilter a 100 TB fact scan with
  *     it — the manual counterpart of
  *     `spark.sql.optimizer.runtime.bloomFilter`. `bloom_contains`
  *     requires its filter arg to be foldable or a scalar subquery
  *     (engine rule), e.g. `bloom_contains((SELECT bloom_agg(k) FROM d),
  *     fact.k)`.
  *
  * Also injects the [[graft.plans.VectorRules.DotSelfToNorm]] optimizer
  * rule (`dot_vec(a, a)` → `norm2_sq(a)` — bit-identical, half the array
  * reads).
  *
  * Activated by [[graft.GraftSession]] via `spark.sql.extensions`, the
  * standard deployment path (`--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` on any stock Spark cluster — no code
  * changes, works from pure-SQL clients like Thrift/Connect).
  *
  * `n`/`k` must be integer literals: they size the generated code, so a
  * per-row value cannot work by construction — rejected at analysis time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    // a Long literal outside Int range must be an analysis error, not a
    // silent toInt truncation (minhash_sig(t, 3, 4294967297) ≠ k=1)
    case Literal(v: Long, LongType)
      if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an Int-range integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${args.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.VectorRules.DotSelfToNorm)
    // whole-operator tier: plans graft.plans.AsOfJoin.AsOfJoinPlan as a
    // partition-wise ordered merge (AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoin.Strategy)
    // transparent materialized-view rollup rewrite (no-op while the
    // MvRewrite registry is empty)
    ext.injectOptimizerRule(s => new graft.plans.MvRewrite.RewriteRule(s))
    // native SQL UPDATE / MERGE INTO over GraftCatalog tables — resolved
    // plans translate onto SnapshotLog.updateWhere / merge (one version
    // per statement, library guards surface as SQL errors)
    ext.injectResolutionRule(s => new graft.plans.SqlDml.ResolveDml(s))
    // batch SELECTs over snapshot/catalog tables re-plan onto Spark's
    // vectorized parquet file scan (manifest file list, DV applied);
    // streams keep the DSv2 micro-batch scan
    ext.injectOptimizerRule(s => new graft.plans.SnapshotBatchRead(s))
    // SQL TABLE functions over the snapshot log — time travel and table
    // history from pure SQL clients (Thrift/Connect), no Scala API
    // needed: SELECT * FROM snapshot_of('/path'[, version]);
    //         SELECT * FROM snapshot_history('/path')
    // plain string-literal arg — used DIRECTLY for every non-path
    // argument (partition values, predicates, column lists, source
    // SQL): those must NEVER go through catalog-identifier resolution,
    // or a value like 'g.example.com' would silently rewrite to a path
    def strLit0(e: Expression, fn: String): String = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument must be a string literal, got $other")
    }
    /** TVF table reference: a filesystem path ('/...' or scheme://) is
      * used as-is; otherwise `cat.ns....table` resolves through a
      * registered [[graft.sources.GraftCatalog]]'s root — ONE naming
      * scheme across the whole SQL surface, so
      * `snapshot_history('g.gold.events')` and
      * `SELECT * FROM g.gold.events` name the same table. */
    def strLit(e: Expression, fn: String): String = {
      val s = strLit0(e, fn)
      if (s.startsWith("/") || s.contains(":/") || !s.contains(".")) s
      else {
        val spark = org.apache.spark.sql.SparkSession.active
        val parts = s.split('.')
        val impl = spark.conf.getOption(s"spark.sql.catalog.${parts.head}")
        if (!impl.contains(classOf[graft.sources.GraftCatalog].getName)) s
        else {
          val root = spark.conf.get(s"spark.sql.catalog.${parts.head}.root")
            .stripSuffix("/")
          val resolved = (root +: parts.tail.toSeq).mkString("/")
          // a dotted literal that names a registered catalog resolves to
          // the catalog table UNLESS only the relative path holds
          // committed versions — a genuine file name like 'g.backup'
          // must not silently point at <root>/backup, the wrong table.
          // Both viable → refuse: for snapshot_vacuum a wrong guess is
          // destructive, so ambiguity is the caller's to break with an
          // absolute path. NEITHER viable → the catalog path (the
          // bootstrap case: snapshot_merge_into on a not-yet-committed
          // catalog table must create it under the catalog root, and a
          // typo'd name should error with the catalog path, not a
          // confusing relative one).
          val asCatalog =
            graft.sources.SnapshotLog.versions(spark, resolved).nonEmpty
          val asLiteral =
            graft.sources.SnapshotLog.versions(spark, s).nonEmpty
          if (asCatalog && asLiteral) throw new IllegalArgumentException(
            s"$fn: '$s' is ambiguous — both the catalog table at " +
              s"'$resolved' and the relative path '$s' hold committed " +
              "versions; pass an absolute path to pick one")
          else if (asLiteral) s
          else resolved
        }
      }
    }
    def longLit(e: Expression, fn: String): Long = e match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType)   => v
      case other => throw new IllegalArgumentException(
        s"$fn: version must be an integer literal, got $other")
    }
    ext.injectTableFunction((FunctionIdentifier("snapshot_of"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_of"),
      (args: Seq[Expression]) => {
        if (args.isEmpty || args.length > 2) throw new IllegalArgumentException(
          s"snapshot_of expects (path[, version | timestamp]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_of")
        // second arg: integer literal = version number; TIMESTAMP
        // literal = TIMESTAMP AS OF resolution (readAsOf semantics)
        val version = args.lift(1).map {
          case Literal(micros: Long, _: org.apache.spark.sql.types.TimestampType) =>
            graft.sources.SnapshotLog.versionAsOf(s, dir, micros / 1000L)
          case other => longLit(other, "snapshot_of")
        }
        graft.sources.SnapshotLog.read(s, dir, version)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_history"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_history"),
      (args: Seq[Expression]) => {
        arity("snapshot_history", args, 1)
        graft.sources.SnapshotLog
          .history(org.apache.spark.sql.SparkSession.active,
            strLit(args.head, "snapshot_history"))
          .queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_changes('/path', fromV, toV[, 'key,cols'])
    // — the change data feed as a relation: rows + _change_type, with
    // keyed update pre/post-image labelling when key columns are given
    ext.injectTableFunction((FunctionIdentifier("snapshot_changes"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_changes"),
      (args: Seq[Expression]) => {
        if (args.length < 3 || args.length > 4)
          throw new IllegalArgumentException("snapshot_changes expects " +
            s"(path, fromVersion, toVersion[, 'key,cols']), got ${args.length} args")
        val keys = args.lift(3)
          .map(strLit0(_, "snapshot_changes").split(",").map(_.trim).toSeq)
          .getOrElse(Seq.empty)
        graft.sources.SnapshotLog.changesBetween(
          org.apache.spark.sql.SparkSession.active,
          strLit(args.head, "snapshot_changes"),
          longLit(args(1), "snapshot_changes"),
          longLit(args(2), "snapshot_changes"), keys)
          .queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_change_feed('/path', fromV, toV) — the
    // RECORDED change feed (per-version accumulated changes with
    // _change_type + _commit_version + _commit_timestamp, the Delta
    // table_changes shape); differs from snapshot_changes' endpoint
    // diff by design. Bounds are version integers OR two TIMESTAMP
    // literals (the snapshot_of dual convention): timestamps resolve
    // via changeFeedBetweenTimestamps — earliest-at-or-after /
    // newest-at-or-before, empty same-shape feed for a commit-less
    // window.
    ext.injectTableFunction((FunctionIdentifier("snapshot_change_feed"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_change_feed"),
      (args: Seq[Expression]) => {
        arity("snapshot_change_feed", args, 3)
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_change_feed")
        ((args(1), args(2)) match {
          case (Literal(fm: Long,
              _: org.apache.spark.sql.types.TimestampType),
            Literal(tm: Long,
              _: org.apache.spark.sql.types.TimestampType)) =>
            graft.sources.SnapshotLog.changeFeedBetweenTimestamps(
              s, dir, fm / 1000L, tm / 1000L)
          case _ =>
            graft.sources.SnapshotLog.changeFeed(s, dir,
              longLit(args(1), "snapshot_change_feed"),
              longLit(args(2), "snapshot_change_feed"))
        }).queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_checks('/path') — the table's CHECK
    // constraints as a relation (name, expr), latest version's state
    ext.injectTableFunction((FunctionIdentifier("snapshot_checks"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_checks"),
      (args: Seq[Expression]) => {
        arity("snapshot_checks", args, 1)
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_checks")
        val latest = graft.sources.SnapshotLog.versions(s, dir).last
        import s.implicits._
        graft.sources.SnapshotLog.checksOf(s, dir, latest)
          .toDF("name", "expr").queryExecution.analyzed
      }))
    // ------------------------------------------------------------------
    // SQL DML over the snapshot log — the write-side twin of
    // snapshot_of/snapshot_history: pure-SQL clients (Thrift/Connect)
    // get DELETE / UPDATE / MERGE / OPTIMIZE without the Scala API or
    // the Maintain CLI. Each function resolves to a LAZY command node
    // ([[graft.plans.SnapshotDml]]): the verb runs when the statement
    // EXECUTES — EXPLAIN and re-analysis never commit (the round-8
    // shape ran at resolution; a re-analyzed merge with deleteWhen
    // committed extra versions) — and returns a one-row report relation
    // (verb, table, version). Every library guard (NULL merge keys,
    // duplicate keys, DV refusal, unknown SET columns) surfaces as the
    // statement's EXECUTION error. The verbs are the library's own —
    // same optimistic concurrency, stat/partition propagation and
    // CHECK enforcement.
    //
    //   SELECT * FROM snapshot_delete_where('/t', 'k = 5');
    //   SELECT * FROM snapshot_update_where('/t', 'k = 5', 'v', 'v + 1');
    //   SELECT * FROM snapshot_merge_into('/t',
    //     'SELECT * FROM changes', 'k');                -- upsert by k
    //   SELECT * FROM snapshot_merge_into('/t',
    //     'SELECT * FROM feed', 'k', 'op = ''D''', 'op'); -- CDC apply
    //   SELECT * FROM snapshot_optimize('/t', 4, 'k');  -- cluster on k
    ext.injectPlannerStrategy(_ => graft.plans.SnapshotDml.Strategy)
    def dmlReport(verb: String, dir: String, v: () => Long) =
      graft.plans.SnapshotDml.DmlPlan(verb, dir, v)
    // SELECT * FROM snapshot_partition('/t', 'region', 'eu'[, col, val…])
    // — partition-pruned read: plans only the files whose RECORDED
    // manifest tuple matches (readPartition semantics; values as their
    // canonical string rendering, e.g. '2024-01-01' for a date column)
    ext.injectTableFunction((FunctionIdentifier("snapshot_partition"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_partition"),
      (args: Seq[Expression]) => {
        if (args.length < 3 || args.length % 2 == 0)
          throw new IllegalArgumentException("snapshot_partition expects " +
            s"(path, col, value[, col, value ...]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_partition")
        val where: Map[String, Any] = args.tail.grouped(2).map { p =>
          strLit0(p.head, "snapshot_partition") ->
            (strLit0(p(1), "snapshot_partition"): Any)
        }.toMap
        graft.sources.SnapshotLog.readPartition(s, dir, where)
          ._1.queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_where('/t', 'd', '2024-03-01', '2024-03-31',
    //                              'region', 'eu', 'eu', ...)
    // — conjunctive multi-range pruned read (readWhere): each
    // (col, lo, hi) triple prunes independently at manifest-parse time
    // (zone maps, truncated string ranges, partition tuples); bounds are
    // string literals parsed under the column's declared type
    ext.injectTableFunction((FunctionIdentifier("snapshot_where"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_where"),
      (args: Seq[Expression]) => {
        if (args.length < 4 || (args.length - 1) % 3 != 0)
          throw new IllegalArgumentException("snapshot_where expects " +
            s"(path, col, lo, hi[, col, lo, hi ...]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_where")
        val vs = graft.sources.SnapshotLog.versions(s, dir)
        if (vs.isEmpty) throw new IllegalArgumentException(
          s"no committed snapshot under $dir")
        val schema = graft.sources.SnapshotLog.schemaOf(s, dir, vs.last)
        def typed(c: String, v: String): Any = {
          import org.apache.spark.sql.types._
          schema.flatMap(_.fields.find(_.name == c)).map(_.dataType) match {
            case Some(LongType | IntegerType | ShortType | ByteType) =>
              java.lang.Long.parseLong(v)
            case Some(DateType)      => java.sql.Date.valueOf(v)
            case Some(TimestampType) => java.sql.Timestamp.valueOf(v)
            case Some(_: DecimalType) => new java.math.BigDecimal(v)
            case _                   => v
          }
        }
        val ranges = args.tail.grouped(3).map { g =>
          val c = strLit(g(0), "snapshot_where")
          (c, typed(c, strLit(g(1), "snapshot_where")),
            typed(c, strLit(g(2), "snapshot_where")))
        }.toSeq
        graft.sources.SnapshotLog.readWhere(s, dir, ranges)
          ._1.queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_filter('/t',
    //   'region IN (''EU'',''US'') AND d BETWEEN ''2024-03-01'' AND
    //    ''2024-03-31'' AND note IS NULL'[, version])
    // — general pruned read: the predicate's prunable conjuncts
    // (ranges, IN, =, IS [NOT] NULL) skip files at manifest-parse time
    // (zone maps, null-presence flags, bloom sidecars, partition
    // tuples); the WHOLE predicate applies as the residual filter, so
    // OR trees and arbitrary expressions stay exact — they just don't
    // prune
    ext.injectTableFunction((FunctionIdentifier("snapshot_filter"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_filter"),
      (args: Seq[Expression]) => {
        if (args.length < 2 || args.length > 3)
          throw new IllegalArgumentException("snapshot_filter expects " +
            s"(path, predicate[, version]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        graft.sources.SnapshotLog.readFilterSql(s,
          strLit(args.head, "snapshot_filter"),
          strLit0(args(1), "snapshot_filter"),
          args.lift(2).map(longLit(_, "snapshot_filter")))
          ._1.queryExecution.analyzed
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_delete_where"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_delete_where"),
      (args: Seq[Expression]) => {
        arity("snapshot_delete_where", args, 2)
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_delete_where")
        dmlReport("delete_where", dir, () =>
          graft.sources.SnapshotLog.deleteWhere(s, dir,
            org.apache.spark.sql.functions.expr(
              strLit0(args(1), "snapshot_delete_where"))))
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_update_where"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_update_where"),
      (args: Seq[Expression]) => {
        // (path, pred, col1, expr1[, col2, expr2, ...]) — SET pairs as
        // separate string args, never a comma-split of one string (an
        // expression like f(a, b) would defeat any split)
        if (args.length < 4 || args.length % 2 != 0)
          throw new IllegalArgumentException("snapshot_update_where " +
            "expects (path, predicate, col, expr[, col, expr ...]), " +
            s"got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_update_where")
        val set = args.drop(2).grouped(2).map { p =>
          strLit0(p.head, "snapshot_update_where") ->
            org.apache.spark.sql.functions.expr(
              strLit0(p(1), "snapshot_update_where"))
        }.toMap
        dmlReport("update_where", dir, () =>
          graft.sources.SnapshotLog.updateWhere(s, dir,
            org.apache.spark.sql.functions.expr(
              strLit0(args(1), "snapshot_update_where")), set))
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_merge_into"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_merge_into"),
      (args: Seq[Expression]) => {
        // (path, sourceQuery, 'key,cols'[, deleteWhenExpr[, 'drop,cols']])
        if (args.length < 3 || args.length > 5)
          throw new IllegalArgumentException("snapshot_merge_into expects " +
            "(path, sourceQuery, keyCols[, deleteWhen[, dropCols]]), " +
            s"got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_merge_into")
        // the source statement analyzes eagerly (malformed SQL is a
        // resolution error, like any bad argument) — the merge runs
        // at execution
        val source = s.sql(strLit0(args(1), "snapshot_merge_into"))
        val keys = strLit0(args(2), "snapshot_merge_into")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val deleteWhen = args.lift(3).map(a =>
          org.apache.spark.sql.functions.expr(
            strLit0(a, "snapshot_merge_into")))
        val dropCols = args.lift(4)
          .map(strLit0(_, "snapshot_merge_into")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        dmlReport("merge_into", dir, () =>
          graft.sources.SnapshotLog.merge(s, dir, source, keys,
            deleteWhen, dropCols))
      }))
    // SELECT * FROM snapshot_replace_where('/t',
    //   'SELECT ... fresh rows ...', 'day = ''2024-06-01''')
    // — atomic region reload ([[SnapshotLog.replaceWhere]]): the
    // predicate's region is deleted and the source query's rows land in
    // the SAME commit; every incoming row must match the predicate
    // (loud guard riding the write). EXECUTE-at-execution like every
    // DML TVF — EXPLAIN never commits.
    ext.injectTableFunction((FunctionIdentifier("snapshot_replace_where"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_replace_where"),
      (args: Seq[Expression]) => {
        arity("snapshot_replace_where", args, 3)
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_replace_where")
        val source = s.sql(strLit0(args(1), "snapshot_replace_where"))
        val pred = org.apache.spark.sql.functions.expr(
          strLit0(args(2), "snapshot_replace_where"))
        dmlReport("replace_where", dir, () =>
          graft.sources.SnapshotLog.replaceWhere(s, dir, source, pred))
      }))
    // SELECT * FROM snapshot_compaction_report('/t'[, smallFileBytes])
    // — the metadata-only maintenance advisor as a relation: per
    // partition (n_files, bytes, n_small, recommend); each recommended
    // row maps onto one scoped snapshot_optimize call
    ext.injectTableFunction((FunctionIdentifier("snapshot_compaction_report"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_compaction_report"),
      (args: Seq[Expression]) => {
        if (args.isEmpty || args.length > 2)
          throw new IllegalArgumentException(
            "snapshot_compaction_report expects " +
              s"(path[, smallFileBytes]), got ${args.length} args")
        graft.sources.SnapshotLog.compactionReport(
          org.apache.spark.sql.SparkSession.active,
          strLit(args.head, "snapshot_compaction_report"),
          args.lift(1).map(longLit(_, "snapshot_compaction_report"))
            .getOrElse(128L * 1024 * 1024))
          .queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_vacuum_plan('/t'[, keepLast[, graceMs
    //   [, minAgeMs]]]) — DRY-RUN retention: one row per artifact a
    // vacuum with these knobs would reclaim (kind, path, bytes);
    // read-only, the blast-radius report an operator sums BEFORE
    // committing to retention (VacuumPlanSpec holds it in lockstep
    // with vacuum itself).
    ext.injectTableFunction((FunctionIdentifier("snapshot_vacuum_plan"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_vacuum_plan"),
      (args: Seq[Expression]) => {
        if (args.isEmpty || args.length > 4)
          throw new IllegalArgumentException(
            "snapshot_vacuum_plan expects " +
              s"(path[, keepLast[, graceMs[, minAgeMs]]]), got " +
              s"${args.length} args")
        graft.sources.SnapshotLog.vacuumPlan(
          org.apache.spark.sql.SparkSession.active,
          strLit(args.head, "snapshot_vacuum_plan"),
          args.lift(1).map(longLit(_, "snapshot_vacuum_plan").toInt)
            .getOrElse(1),
          args.lift(2).map(longLit(_, "snapshot_vacuum_plan"))
            .getOrElse(15L * 60 * 1000),
          args.lift(3).map(longLit(_, "snapshot_vacuum_plan"))
            .getOrElse(0L))
          .queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_poll_changes('/t', '/cursors/app1'
    //   [, 'k'[, maxVersions[, maxBytes]]])
    // — the SUBSCRIPTION read half: the change feed since this
    // subscriber's last acknowledged version, plus a _poll_version
    // column carrying the version to acknowledge once the batch is
    // durably applied. `maxVersions` bounds each catch-up bite by
    // version count, `maxBytes` by NEW data-file bytes (ack the
    // returned _poll_version and poll again — the loop converges).
    // Caught-up polls return an EMPTY relation of the same shape.
    // Read-only (the cursor advances only via snapshot_ack_changes),
    // so re-analysis is harmless.
    ext.injectTableFunction((FunctionIdentifier("snapshot_poll_changes"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_poll_changes"),
      (args: Seq[Expression]) => {
        if (args.length < 2 || args.length > 5)
          throw new IllegalArgumentException("snapshot_poll_changes " +
            "expects (path, cursorFile[, 'key,cols'[, maxVersions" +
            s"[, maxBytes]]]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_poll_changes")
        val cursor = strLit0(args(1), "snapshot_poll_changes")
        val keys = args.lift(2)
          .map(strLit0(_, "snapshot_poll_changes")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val maxV = args.lift(3).map(longLit(_, "snapshot_poll_changes"))
        val maxB = args.lift(4).map(longLit(_, "snapshot_poll_changes"))
        import org.apache.spark.sql.functions.lit
        (graft.sources.SnapshotLog
          .pollChangesWithLatest(s, dir, cursor, keys, maxV, maxB) match {
          case (Some(feed), latest) =>
            feed.withColumn("_poll_version", lit(latest))
          case (None, latest) =>
            // caught up: empty, same shape as a live poll — built from
            // the version's schema header (one manifest read, no
            // second listing: the idle poll is the common case)
            val schema = graft.sources.SnapshotLog.schemaOf(s, dir, latest)
              .getOrElse(graft.sources.SnapshotLog
                .read(s, dir, Some(latest)).schema)
              .add("_change_type", org.apache.spark.sql.types.StringType)
              .add("_poll_version", org.apache.spark.sql.types.LongType,
                nullable = false)
            s.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              schema)
        }).queryExecution.analyzed
      }))
    // SELECT * FROM snapshot_ack_changes('/t', '/cursors/app1', 7) —
    // the SUBSCRIPTION write half: advance the cursor AFTER the polled
    // batch is durably applied (crash-safe temp-then-rename). Lazy like
    // every DML TVF — EXPLAIN never moves the cursor.
    ext.injectTableFunction((FunctionIdentifier("snapshot_ack_changes"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_ack_changes"),
      (args: Seq[Expression]) => {
        arity("snapshot_ack_changes", args, 3)
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_ack_changes")
        val cursor = strLit0(args(1), "snapshot_ack_changes")
        val v = longLit(args(2), "snapshot_ack_changes")
        dmlReport("ack_changes", dir, () => {
          graft.sources.SnapshotLog.ackChanges(s, dir, cursor, v); v
        })
      }))
    // SELECT * FROM snapshot_replicate('/src', '/replica', 'k',
    //   '/ckpt/replica'[, maxBytesPerTrigger]) — one catch-up drain of
    // the CDC replication loop (AvailableNow): stream the source's
    // recorded change feed from the checkpoint and apply each bite as
    // one keyed merge commit on the replica; the byte budget bounds
    // every bite INCLUDING a bootstrap's initial snapshot. Returns the
    // replica's resulting version. Lazy — EXPLAIN never replicates.
    ext.injectTableFunction((FunctionIdentifier("snapshot_replicate"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_replicate"),
      (args: Seq[Expression]) => {
        if (args.length < 4 || args.length > 5)
          throw new IllegalArgumentException("snapshot_replicate expects " +
            "(srcPath, dstPath, 'key,cols', checkpointDir" +
            s"[, maxBytesPerTrigger]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val src = strLit(args.head, "snapshot_replicate")
        val dst = strLit(args(1), "snapshot_replicate")
        val keys = strLit0(args(2), "snapshot_replicate")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val ckpt = strLit0(args(3), "snapshot_replicate")
        val maxBytes = args.lift(4).map(longLit(_, "snapshot_replicate"))
        dmlReport("replicate", dst, () => {
          graft.sources.SnapshotLog.replicate(s, src, dst, keys, ckpt,
            maxBytesPerTrigger = maxBytes).awaitTermination()
          graft.sources.SnapshotLog.versions(s, dst).lastOption
            .getOrElse(0L)
        })
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_optimize"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_optimize"),
      (args: Seq[Expression]) => {
        // (path[, targetFiles[, 'cluster,cols'[, col, val ...]]]) —
        // ≥2 cluster cols Z-order, matching the Maintain CLI's rule;
        // trailing (col, val) pairs scope the compaction to ONE
        // partition's files (the daily-maintenance shape):
        //   SELECT * FROM snapshot_optimize('/t', 4, '', 'day',
        //                                   '2024-06-01')
        if (args.isEmpty || (args.length > 3 && args.length % 2 == 0))
          throw new IllegalArgumentException("snapshot_optimize expects " +
            "(path[, targetFiles[, clusterCols[, col, val ...]]]), " +
            s"got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_optimize")
        val target = args.lift(1).map(longLit(_, "snapshot_optimize").toInt)
          .getOrElse(1)
        val cluster = args.lift(2)
          .map(strLit0(_, "snapshot_optimize")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val scope: Map[String, Any] = args.drop(3).grouped(2).map { p =>
          strLit0(p.head, "snapshot_optimize") ->
            (strLit0(p(1), "snapshot_optimize"): Any)
        }.toMap
        dmlReport("optimize", dir, () =>
          graft.sources.SnapshotLog.optimize(s, dir,
            targetFiles = target, clusterBy = cluster,
            zorder = cluster.size >= 2, partitionScope = scope))
      }))
    // SELECT * FROM snapshot_vacuum('<table>'[, keepLast[, minAgeHours]])
    // — retention from SQL (Delta's VACUUM ... RETAIN n HOURS shape):
    // drops history beyond keepLast versions, but never a version
    // younger than minAgeHours. EXECUTE-at-execution like the other
    // write TVFs (EXPLAIN never reclaims); the report's `version`
    // column is the new history FLOOR — the oldest version still
    // time-travelable after the vacuum.
    ext.injectTableFunction((FunctionIdentifier("snapshot_vacuum"),
      new ExpressionInfo(graft.sources.SnapshotLog.getClass.getName,
        "snapshot_vacuum"),
      (args: Seq[Expression]) => {
        if (args.isEmpty || args.length > 3)
          throw new IllegalArgumentException("snapshot_vacuum expects " +
            s"(path[, keepLast[, minAgeHours]]), got ${args.length} args")
        val s = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "snapshot_vacuum")
        val keep = args.lift(1).map(longLit(_, "snapshot_vacuum").toInt)
          .getOrElse(1)
        val minAgeMs = args.lift(2)
          .map(longLit(_, "snapshot_vacuum") * 3600L * 1000L)
          .getOrElse(0L)
        dmlReport("vacuum", dir, () => {
          graft.sources.SnapshotLog.vacuum(s, dir, keepLast = keep,
            minAgeMs = minAgeMs)
          graft.sources.SnapshotLog.versions(s, dir).head
        })
      }))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[HashExprs.MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        arity("minhash_sig", args, 3)
        HashExprs.MinHashSig(args.head,
          intLit(args(1), "minhash_sig", "n"),
          intLit(args(2), "minhash_sig", "k"))
      }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[HashExprs.SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        arity("simhash64", args, 1)
        HashExprs.SimHash64(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("dot_vec"),
      new ExpressionInfo(classOf[VectorExprs.DotVec].getName, "dot_vec"),
      (args: Seq[Expression]) => {
        arity("dot_vec", args, 2)
        VectorExprs.DotVec(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("norm2_sq"),
      new ExpressionInfo(classOf[VectorExprs.Norm2].getName, "norm2_sq"),
      (args: Seq[Expression]) => {
        arity("norm2_sq", args, 1)
        VectorExprs.Norm2(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrderExprs.ZOrder2].getName, "zorder2"),
      (args: Seq[Expression]) => {
        arity("zorder2", args, 3)
        ZOrderExprs.ZOrder2(args.head, args(1),
          intLit(args(2), "zorder2", "bits"))
      }))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SetExprs.SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (args: Seq[Expression]) => {
        arity("sorted_intersect_count", args, 2)
        SetExprs.SortedIntersectCount(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("zordern"),
      new ExpressionInfo(classOf[ZOrderExprs.ZOrderN].getName, "zordern"),
      (args: Seq[Expression]) => {
        arity("zordern", args, 2)
        // dims come from the array literal's arity — a runtime-varying
        // array cannot size the interleave, reject at analysis
        val ndims = args.head match {
          case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
            ca.children.size
          case other => throw new IllegalArgumentException(
            s"zordern expects an inline array(...) of coordinates, got $other")
        }
        ZOrderExprs.ZOrderN(
          org.apache.spark.sql.catalyst.expressions.Cast(args.head,
            org.apache.spark.sql.types.ArrayType(LongType)),
          ndims, intLit(args(1), "zordern", "bits"))
      }))
    ext.injectFunction((FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(k)       => new BloomFilterAggregate(k)
        case Seq(k, n)    => new BloomFilterAggregate(k, n)
        case Seq(k, n, m) => new BloomFilterAggregate(k, n, m)
        case other => throw new IllegalArgumentException(
          s"bloom_agg expects 1-3 arguments, got ${other.length}")
      }))
    ext.injectFunction((FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_contains"),
      (args: Seq[Expression]) => {
        arity("bloom_contains", args, 2)
        BloomFilterMightContain(args.head, args(1))
      }))
  }
}
