package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, JoinedRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 table over a snapshot-log directory — BOTH halves of
  * the read surface behind one format string:
  *
  * {{{
  * // batch: the table as of its latest (or a named) version
  * spark.read.format("graft-snapshot").option("path", tableDir).load()
  * spark.read.format("graft-snapshot").option("path", tableDir)
  *   .option("versionAsOf", "3").load()          // time travel
  *
  * // streaming: committed versions as micro-batches
  * spark.readStream.format("graft-snapshot").option("path", tableDir)
  *   .option("startingVersion", "1")   // optional; default: earliest
  *   .load()                            //   retained, "latest" = new only
  * }}}
  *
  * The BATCH scan plans the version's exact manifest file list (same
  * visibility rule as [[SnapshotLog.read]]), fills hive-partition
  * columns from manifest tuples, and applies merge-on-read deletion
  * vectors by shipping each file's serialized roaring bitmap inside its
  * input partition (KB-scale) — readers skip tombstoned positions
  * locally, so a DV-carrying table reads identically through SQL
  * clients and the library API.
  *
  * STREAMING offsets are VERSION NUMBERS (the manifest is already a
  * totally ordered commit log), so checkpoint recovery replays exactly
  * the un-committed version range — the same replay-safety argument as
  * the CDC feed, with zero extra infrastructure. Each micro-batch reads
  * the files ADDED in its version range (a version's files minus its
  * predecessor's; the stream's first version contributes its full
  * snapshot). The offset JSON also records the stream's START version,
  * so a vacuumed predecessor at recovery is DISTINGUISHABLE from the
  * legitimate initial snapshot and fails loudly instead of silently
  * re-emitting every carried file.
  *
  * Deliberate scope — loud, never silently wrong:
  *  - APPEND-ONLY version ranges for streaming: a version that removed
  *    or rewrote a file (COW delete/update/merge/optimize/replace)
  *    fails the batch — rows already emitted cannot be retracted by a
  *    source (use [[SnapshotLog.changesBetween]] for CDC semantics).
  *    Deletion-vector growth is refused for the same reason (batch
  *    reads apply DVs; streams refuse their growth).
  *  - EXCEPT under `.option("readChangeFeed", "true")`: rows carry a
  *    `_change_type` marker (insert | delete | update_preimage |
  *    update_postimage), appends derive their inserts at file grain,
  *    and rewrite commits are read through their RECORDED change files
  *    ([[SnapshotLog.ChangeFeedProperty]] — the rewrite verbs write
  *    their exact, survivor-cancelled changes when the table property
  *    is on; a rewrite that ran without it still refuses loudly). The
  *    replay law: (inserts ∪ postimages) exceptAll (deletes ∪
  *    preimages) over the feed reconstructs the table content.
  *  - Every column type Spark's parquet reader decodes — the same
  *    coverage as the batch read (maps, structs, binary, nested
  *    arrays included): executors read each file through Spark's own
  *    parquet partition reader ([[SnapshotFileReaderFactory]]), the
  *    engine the batch path runs on.
  *  - Hive-partitioned tables ARE supported: each file's partition
  *    tuple ships with its input partition (from the manifest — never
  *    re-parsed from paths on executors) as typed constants, cast from
  *    the recorded string to the declared column type.
  *
  * Backpressure: `.option("maxVersionsPerTrigger", n)` caps each batch
  * at n versions (admission control) — a stream starting from v1 of a
  * long history catches up in bounded bites instead of one giant batch.
  * `.option("maxBytesPerTrigger", b)` bounds each batch by the NEW
  * bytes its versions add instead (versions admitted until the budget
  * is crossed; the first pending version always rides, so a single fat
  * version is admitted alone rather than wedging the stream). Both
  * compose: versions cap first, bytes tighten.
  *
  * Micro-batch planning costs one manifest read per version in the
  * range — metadata-sized, never data-sized, and O(files) per version
  * (file-set membership via one prebuilt hash set); each added file
  * becomes one input partition, so read parallelism tracks the
  * commit's own file layout. */
class SnapshotStreamSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  /** Registered via META-INF/services — `.format("graft-snapshot")`. */
  override def shortName(): String = "graft-snapshot"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = SnapshotStreamSource.schemaFor(
      SnapshotStreamSource.pathOf(options),
      Option(options.get("versionAsOf")).map(_.toLong))
    // readChangeFeed streams append the change-type marker and the
    // commit version (the Delta-CDF _commit_version: what a keyed
    // applier orders same-key changes by when one batch spans versions)
    if (java.lang.Boolean.parseBoolean(
        options.getOrDefault("readChangeFeed", "false"))) {
      Seq("_change_type", "_commit_version", "_commit_timestamp")
        .foreach(c => require(!base.fieldNames.contains(c),
          s"the table already has a $c column — readChangeFeed " +
            "reserves that name"))
      base.add("_change_type", org.apache.spark.sql.types.StringType,
        nullable = true)
        .add("_commit_version", org.apache.spark.sql.types.LongType,
          nullable = true)
        .add("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType, nullable = true)
    } else base
  }

  /** The BATCH write half (`df.write.format("graft-snapshot")`), routed
    * through the library's commit verbs so CHECK constraints, schema
    * merge, DV carry, partition purity and race rebase all apply. The
    * table deliberately declares NO v2 write capability: Spark then
    * plans writes through THIS v1 path, whose driver-side DataFrame is
    * exactly what the commit verbs want — and a first write to a fresh
    * directory needs no pre-existing schema. Append does NOT stamp a
    * `#batch=` header ([[SnapshotLog.append]]): a one-off batch append
    * must never make a later streaming sink's epoch replay skip. */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot write needs .option(\"path\", <table dir>)"))
    val spark = data.sparkSession
    val exists = SnapshotLog.versions(spark, dir).nonEmpty
    mode match {
      case SaveMode.Append    => SnapshotLog.append(spark, dir, data)
      case SaveMode.Overwrite => SnapshotLog.commit(spark, dir, data)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"$dir already has committed versions (SaveMode.ErrorIfExists)")
        SnapshotLog.commit(spark, dir, data)
      case SaveMode.Ignore =>
        if (!exists) SnapshotLog.commit(spark, dir, data)
    }
    val schema0 = data.schema
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = schema0
    }
  }

  /** The STREAMING sink half (`df.writeStream.format("graft-snapshot")`)
    * — exactly-once by construction: each epoch commits through
    * [[SnapshotLog.commitBatch]] (Append) or
    * [[SnapshotLog.commitBatchReplace]] (Complete), whose `#batch=`
    * replay idempotence makes a restarted query's re-delivered epoch a
    * no-op. Update mode is refused: a snapshot append cannot retract.
    * partitionBy is refused too — a partition-DECLARED table already
    * drives the layout of every appended batch. */
  override def createSink(ctx: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-snapshot sink: the table's DECLARED layout drives batch " +
        "partitioning (commitPartitioned declares it) — drop partitionBy")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update(),
      "graft-snapshot sink supports Append (commitBatch) and Complete " +
        "(commitBatchReplace); Update retracts rows a snapshot append " +
        "cannot express")
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot sink needs .option(\"path\", <table dir>)"))
    new SnapshotSink(dir,
      outputMode == org.apache.spark.sql.streaming.OutputMode.Complete())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    def prop(k: String): Option[String] = {
      import scala.jdk.CollectionConverters._
      properties.asScala.collectFirst {
        case (pk, pv) if pk.equalsIgnoreCase(k) => pv }
    }
    new SnapshotStreamTable(schema,
      prop("path").getOrElse(throw new IllegalArgumentException(
        "graft-snapshot needs .option(\"path\", <table dir>)")),
      prop("versionAsOf").map(_.toLong))
  }
}

/** V1 micro-batch sink over a snapshot-log table (the same shape as
  * Spark's own FileStreamSink). The incoming frame is the incremental
  * execution's streaming-marked plan, which a fresh `.write` analysis
  * refuses — so the planned rows rebind as a plain batch frame first
  * (one InternalRow→Row conversion; the batch executes once, inside the
  * commit's own write action). */
private[sources] class SnapshotSink(dir: String, complete: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val schema = data.schema
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rowRdd = data.queryExecution.toRdd
      .map(ir => conv(ir.copy()).asInstanceOf[org.apache.spark.sql.Row])
    val fresh = spark.createDataFrame(rowRdd, schema)
    if (complete) {
      SnapshotLog.requireUnpartitionedForReplace(spark, dir,
        "the graft-snapshot Complete-mode sink")
      SnapshotLog.commitBatchReplace(spark, dir, fresh, batchId)
    } else SnapshotLog.commitBatch(spark, dir, fresh, batchId)
  }
  override def toString: String = s"SnapshotSink($dir)"
}

private[sources] object SnapshotStreamSource {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "SnapshotStreamSource needs .option(\"path\", <table dir>)")
    p
  }

  /** The version's declared schema (default: latest). A table with NO
    * committed versions infers as the empty schema — the WRITE path
    * needs getTable to succeed on a fresh directory (Spark infers before
    * deciding read vs write); reads of such a table still fail loudly,
    * at scan planning / stream start. */
  def schemaFor(dir: String, version: Option[Long] = None): StructType = {
    val spark = SparkSession.active
    val vs = SnapshotLog.versions(spark, dir)
    if (vs.isEmpty && version.isEmpty) return new StructType()
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of $dir does not exist (have ${vs.mkString(",")})")
    SnapshotLog.schemaOf(spark, dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no #schema header — the DSv2 table needs a declared schema"))
  }

  /** The CDF columns no file stores: every row of a change-feed stream
    * carries them as constants of its file. */
  val CommitColumns = Set("_commit_version", "_commit_timestamp")

  /** `schema` with fields under their PHYSICAL (storage) names per the
    * column mapping — what the executor-side readers resolve footers
    * by. Identity on never-renamed tables. */
  private[sources] def physicalFields(cm: Map[String, String],
      schema: StructType): StructType =
    if (cm.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = cm.getOrElse(f.name, f.name))))
}

private[graft] class SnapshotStreamTable(schema0: StructType,
    private[graft] val dir: String,
    private[graft] val versionAsOf: Option[Long])
    extends Table with SupportsRead {
  override def name(): String = s"graft-snapshot($dir)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // column pruning pushes down to the PARQUET column chunks: the
      // reader requests only the projected fields from each file, so a
      // 2-of-20-column consumer skips ~90% of the bytes — the same
      // discipline as the batch scan's ReadSchema; applies to BOTH the
      // batch and the streaming scan
      private var pruned: StructType = schema0
      override def pruneColumns(requiredSchema: StructType): Unit = {
        // preserve the DECLARED column order (parquet assembly order is
        // the file's; our row builder follows the schema we pass)
        val want = requiredSchema.fieldNames.toSet
        pruned = StructType(schema0.fields.filter(f => want(f.name)))
      }
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = pruned
        override def toBatch: Batch = {
          // loud, never silently NULL-marked: batch change feeds go
          // through SnapshotLog.changeFeed / the TVF
          require(!java.lang.Boolean.parseBoolean(
            options.getOrDefault("readChangeFeed", "false")),
            "readChangeFeed is a streaming read option; for a batch " +
              "change feed use snapshot_change_feed(path, fromV, toV) " +
              "or SnapshotLog.changeFeed")
          new SnapshotBatch(dir, pruned,
            versionAsOf.orElse(
              Option(options.get("versionAsOf")).map(_.toLong)))
        }
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream = {
          require(versionAsOf.isEmpty && options.get("versionAsOf") == null,
            "versionAsOf is a batch-read option; streams start from " +
              "startingVersion instead")
          val cdf = java.lang.Boolean.parseBoolean(
            options.getOrDefault("readChangeFeed", "false"))
          // the marker column must be IN the relation schema — catalog
          // tables declare the plain schema, so CDF reads go through
          // the path-based format whose inferSchema appends it
          require(!cdf || schema0.fieldNames.contains("_change_type"),
            "readChangeFeed streams carry a _change_type column; read " +
              "via spark.readStream.format(\"graft-snapshot\")" +
              ".option(\"path\", <table dir>)" +
              ".option(\"readChangeFeed\", \"true\")")
          new SnapshotMicroBatchStream(dir, pruned,
            Option(options.get("startingVersion")),
            Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
            Option(options.get("maxBytesPerTrigger")).map(_.toLong),
            changeFeed = cdf)
        }
      }
    }
}

/** The batch half: one version's manifest file list (default latest),
  * partition tuples from the manifest, deletion vector applied via
  * per-file bitmaps shipped inside the partitions. */
private[sources] class SnapshotBatch(dir: String, schema: StructType,
    versionAsOf: Option[Long]) extends Batch {
  private def spark = SparkSession.active
  private lazy val m = SnapshotLog.versionAt(spark, dir, versionAsOf)._2
  // the pruned schema under PHYSICAL names: the executor reader resolves
  // footer fields by name, and renamed columns keep their storage name
  // (partition columns are un-renameable, so tuple keys stay literal)
  private lazy val phys = SnapshotStreamSource.physicalFields(m.colmap, schema)

  override def planInputPartitions(): Array[InputPartition] = {
    val dvs = SnapshotLog.dvBitmaps(spark, dir, m)
    m.files.map { p =>
      SnapshotFilePartition(p, phys,
        SnapshotFilePartition.partValues(m, p),
        dvs.get(new Path(p).toUri.getPath)): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotFileReaderFactory(spark, phys, phys)
}

/** A stream position: "everything up to and including version v".
  * `start` is the stream's FIRST emitted version, carried in the offset
  * JSON so recovery can tell the legitimate initial snapshot apart from
  * a vacuumed predecessor (legacy plain-long offsets parse with
  * start = -1 = unknown → any snapshot boundary fails loudly).
  *
  * `files` is the INITIAL-SNAPSHOT file cursor: while the stream's
  * first version is a genuine full snapshot (no retained predecessor)
  * and a byte budget is set, the snapshot drains in file-grain bites —
  * `files = k ≥ 0` means "k files of version `start` emitted, snapshot
  * incomplete". Everywhere else `files = -1` (complete / not in the
  * snapshot phase) and offsets stay version-grain exactly as before;
  * the field is omitted from the JSON, so old checkpoints parse and
  * new post-snapshot checkpoints stay readable by old code. */
private[sources] final case class VersionOffset(v: Long, start: Long = -1L,
    files: Long = -1L) extends Offset {
  override def json(): String =
    if (files >= 0) s"""{"v":$v,"s":$start,"f":$files}"""
    else s"""{"v":$v,"s":$start}"""
  /** Total order over stream positions: a version with an in-flight
    * file cursor sorts below the same version completed. */
  def pos: (Long, Long) = (v, if (files < 0) Long.MaxValue else files)
}

private[sources] object VersionOffset {
  private val Shape = """\{"v":(-?\d+),"s":(-?\d+)\}""".r
  private val ShapeF = """\{"v":(-?\d+),"s":(-?\d+),"f":(-?\d+)\}""".r
  def parse(json: String): VersionOffset = json.trim match {
    case ShapeF(v, s, f) => VersionOffset(v.toLong, s.toLong, f.toLong)
    case Shape(v, s)     => VersionOffset(v.toLong, s.toLong)
    case legacy          => VersionOffset(legacy.toLong) // pre-r10 plain long
  }
}

private[sources] class SnapshotMicroBatchStream(dir: String,
    schema: StructType, startingVersion: Option[String],
    maxVersionsPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long] = None,
    changeFeed: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  maxVersionsPerTrigger.foreach(m => require(m >= 1,
    s"maxVersionsPerTrigger must be >= 1, got $m"))
  maxBytesPerTrigger.foreach(m => require(m >= 1,
    s"maxBytesPerTrigger must be >= 1, got $m"))
  private def spark = SparkSession.active

  /** `Trigger.AvailableNow` drain target: the latest version AT TRIGGER
    * START, pinned once per run. [[latestOffset(Offset,ReadLimit)*]]
    * then never plans past it — versions committed mid-drain wait for
    * the next scheduled run (the contract's "available now") — while
    * maxVersionsPerTrigger / maxBytesPerTrigger admission still bounds
    * each catch-up bite; the engine stops once the offset reaches the
    * target. Offsets stay version-grain, so a mid-drain restart resumes
    * exactly-once from the checkpoint like any other run. */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val vs = SnapshotLog.versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    availableNowTarget = Some(vs.last)
  }

  /** The initial-snapshot version's (file list, per-file bytes),
    * cached once per stream instance: manifests are immutable, and the
    * budgeted bootstrap re-enters the admission walk once per bite —
    * without the cache a 10^6-file snapshot re-parses its manifest and
    * re-stats every file O(bites) times (pure driver-side waste). Size
    * stats load lazily (only the byte-budget path needs them). */
  @volatile private var snapshotCache: Option[(Long, Seq[String])] = None
  @volatile private var snapshotSizes: Option[(Long, Array[Long])] = None

  private def snapshotFilesOf(v: Long, m: Long => Manifest): Seq[String] =
    snapshotCache match {
      case Some((cv, fs)) if cv == v => fs
      case _ =>
        val fs = m(v).files
        snapshotCache = Some((v, fs))
        fs
    }

  private def snapshotSizesOf(v: Long, m: Long => Manifest): Array[Long] =
    snapshotSizes match {
      case Some((cv, sz)) if cv == v => sz
      case _ =>
        val f = new Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val sz = snapshotFilesOf(v, m)
          .map(p => f.getFileStatus(new Path(p)).getLen).toArray
        snapshotSizes = Some((v, sz))
        sz
    }

  /** Loud guard for the one hole the version-range checks miss: the
    * stream is MID-FILE-CURSOR inside its initial snapshot (some files
    * emitted) and the snapshot version was vacuumed — silently falling
    * through to the version walk would skip the un-emitted tail of the
    * table forever. The not-yet-emitted cases stay with the existing
    * guards: a vacuumed pending start raises the version loop's
    * replay-gap error, and `startingVersion=latest` legitimately
    * points start PAST the log until the next commit arrives. */
  private def requireSnapshotRetained(so: VersionOffset,
      vset: Set[Long]): Unit =
    require(!(so.v == so.start && so.files >= 0) ||
        vset.contains(so.start),
      s"version ${so.start} of $dir (the stream's initial snapshot, " +
        "still draining) is gone (vacuumed?) — continuing would " +
        "silently skip the snapshot's un-emitted files; restart the " +
        "stream from a retained version")

  /** Manifests by version, each read at most once per planning call
    * (a version range reads every version and its predecessor). */
  private def manifests(): Long => Manifest = {
    val read = scala.collection.mutable.Map[Long, Manifest]()
    v => read.getOrElseUpdate(v, SnapshotLog.manifest(spark, dir, v))
  }

  /** Bytes version `v` would ADD to the stream: sizes of its files not
    * carried from `v-1` (for the stream's initial snapshot, every
    * file). Driver-side `getFileStatus` over the NEW files only — the
    * same listing class FileStreamSource pays per trigger. */
  private def newFileBytes(vs: Set[Long], v: Long,
      m: Long => Manifest): Long = {
    def norm(p: String): String = new Path(p).toUri.getPath
    val prevSet =
      if (vs.contains(v - 1)) m(v - 1).files.map(norm).toSet
      else Set.empty[String]
    val fresh = m(v).files.filterNot(p => prevSet.contains(norm(p)))
    if (fresh.isEmpty) 0L
    else {
      val f = new Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fresh.map(p => f.getFileStatus(new Path(p)).getLen).sum
    }
  }

  override def initialOffset(): Offset = {
    val vs = SnapshotLog.versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val from = startingVersion match {
      case Some("latest") => vs.last + 1 // only versions after stream start
      case Some(s)        => s.toLong
      case None           => vs.head
    }
    VersionOffset(from - 1, from) // nothing emitted yet; first batch here
  }

  // with SupportsAdmissionControl the engine drives the 2-arg form
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val vs = SnapshotLog.versions(spark, dir)
    // under Trigger.AvailableNow the drain never passes the pinned
    // target (min guards the degenerate restored-log case — the target
    // was a real version when pinned, and commits only append)
    val latest = availableNowTarget
      .map(t => math.min(t, vs.last)).getOrElse(vs.last)
    val so = start.asInstanceOf[VersionOffset]
    // INITIAL-SNAPSHOT admission at FILE grain: the stream's first
    // version IS the whole table when no predecessor is retained — for
    // a 100 TB replica bootstrap, "admit ≥1 version per trigger" means
    // one table-sized batch no matter the byte budget. While that
    // snapshot is draining (and only then — afterwards versions stay
    // the offset grain), split its manifest file list across bites:
    // admit files until the budget is crossed, carry the file cursor in
    // the offset, and resume exactly-once from it after a mid-snapshot
    // restart (manifests are immutable, so the file order is stable).
    // engages only under a byte budget (budget-less streams keep the
    // one-bite snapshot) or when resuming an in-flight file cursor
    // (the budget option may have been dropped across the restart)
    val vset = vs.toSet
    val m = manifests()
    val midSnapshot = so.v == so.start && so.files >= 0
    requireSnapshotRetained(so, vset)
    val snapshotPhase =
      (maxBytesPerTrigger.isDefined || midSnapshot) &&
        vset.contains(so.start) && !vset.contains(so.start - 1) &&
        (so.v < so.start || midSnapshot)
    // bytes the snapshot's own files contribute to THIS bite (a
    // snapshot that completes under budget lets later versions ride in
    // the same batch, exactly like any other admitted version)
    var snapBytes = 0L
    if (snapshotPhase) {
      val files = snapshotFilesOf(so.start, m)
      val from = if (so.v < so.start) 0L else so.files
      maxBytesPerTrigger match {
        case None => // budget dropped across a restart: finish in one bite
          return VersionOffset(so.start, so.start)
        case Some(budget) =>
          val sizes = snapshotSizesOf(so.start, m)
          var i = from
          // the first pending file always rides (a single fat file is
          // admitted alone rather than wedging the stream)
          while (i < files.length && snapBytes < budget) {
            snapBytes += sizes(i.toInt)
            i += 1
          }
          if (i < files.length)
            return VersionOffset(so.start, so.start, i)
          if (snapBytes >= budget)
            return VersionOffset(so.start, so.start)
        // else: snapshot completed with budget to spare — fall through
        // and admit versions after it in the same batch
      }
    }
    // version cap first (bounded catch-up bites), then the byte budget
    // tightens it: admit versions until their NEW bytes cross the
    // budget — the crossing version is included, and the FIRST pending
    // version is always admitted (a single fat version rides alone,
    // never wedges the stream). Offsets stay version-grain, so
    // exactly-once replay is untouched.
    val vCap = maxVersionsPerTrigger match {
      case Some(m) => math.min(latest, so.v + m)
      case None    => latest
    }
    val walkFrom = if (snapshotPhase) so.start else so.v
    val end = maxBytesPerTrigger match {
      case None => vCap
      case Some(budget) =>
        var v = walkFrom
        var bytes = snapBytes
        while (v < vCap && bytes < budget) {
          v += 1
          // a vacuumed version in the walk contributes no bytes — the
          // admission must not die on a raw manifest-open error;
          // planInputPartitions raises the GUIDED replay-gap message
          // for the same range
          if (vset.contains(v)) bytes += newFileBytes(vset, v, m)
        }
        v
    }
    VersionOffset(math.max(end, walkFrom), so.start)
  }

  override def reportLatestOffset(): Offset =
    VersionOffset(SnapshotLog.versions(spark, dir).last)

  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)

  /** The last planned range with its partitions and physical read
    * schema: Spark plans one batch's scan several times (six times for
    * an AvailableNow catch-up batch), and a range's manifests are
    * immutable, so each range is planned once. */
  @volatile private var planned: Option[((VersionOffset, VersionOffset),
    (Array[InputPartition], StructType))] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val range = (start.asInstanceOf[VersionOffset],
      end.asInstanceOf[VersionOffset])
    planned.collect { case (r, p) if r == range => p }.getOrElse {
      val p = plan(range._1, range._2)
      planned = Some(range -> p)
      p
    }._1
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val phys = planned.map(_._2._2).getOrElse(SnapshotStreamSource
      .physicalFields(SnapshotLog.tip(spark, dir)._2.colmap, schema))
    // the commit columns exist only as constants; `_change_type` is
    // stored in recorded change files
    SnapshotFileReaderFactory(spark, phys, StructType(phys.filterNot(f =>
      changeFeed && SnapshotStreamSource.CommitColumns.contains(f.name))))
  }

  /** The range's input partitions and the physical schema to read them
    * under. */
  private def plan(so: VersionOffset,
      eo: VersionOffset): (Array[InputPartition], StructType) = {
    val (s, e) = (so.v, eo.v)
    // an empty range reads no file, so any read schema serves
    if (Ordering[(Long, Long)].lteq(eo.pos, so.pos))
      return (Array.empty, schema)
    val vs = SnapshotLog.versions(spark, dir)
    val vset = vs.toSet // O(1) membership across the whole version range
    val m = manifests()
    val newFiles = scala.collection.mutable
      .ArrayBuffer[(String, Seq[(String, Literal)], Long)]()
    // The GENUINE initial snapshot (stream start with no retained
    // predecessor) plans as a slice of the start version's manifest:
    // the whole list in one batch without a byte budget, or the
    // [so.files, eo.files) file-cursor window of a budgeted bootstrap
    // bite (latestOffset's file-grain admission). Manifest order is
    // immutable, so the slice replays exactly-once across restarts.
    // checkpoint recovery replays a stored range through THIS method
    // without a latestOffset call first, so the vacuumed-mid-snapshot
    // guard must live here too — a mid-cursor offset whose snapshot
    // version is gone would otherwise fall through to the version loop
    // and silently skip the snapshot's un-emitted tail
    requireSnapshotRetained(so, vset)
    val genuineSnapshot = vset.contains(so.start) &&
      !vset.contains(so.start - 1)
    val slice: Option[(Int, Int)] =
      if (genuineSnapshot &&
          (so.v < so.start || (so.v == so.start && so.files >= 0)) &&
          eo.v >= so.start) {
        val total = snapshotFilesOf(so.start, m).length
        val from = if (so.v < so.start) 0 else so.files.toInt
        val until = if (eo.v == so.start && eo.files >= 0) eo.files.toInt
          else total
        Some((from, until))
      } else None
    slice.foreach { case (from, until) =>
      val v = so.start
      require(m(v).dv.isEmpty,
        s"version $v of $dir (the stream's initial snapshot) carries a " +
          "deletion vector — MoR positions cannot be applied by an " +
          "append-only stream; compact (optimize) first")
      newFiles ++= snapshotFilesOf(v, m).slice(from, until)
        .map(p => (p, SnapshotFilePartition.partValues(m(v), p), v))
    }
    // RECORDED change files ([[SnapshotLog.ChangeFeedProperty]]): the
    // commit's exact row-level rows, `_change_type` materialized inside
    val recordedFiles = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val loopFrom = if (slice.isDefined) so.start + 1 else s + 1
    (loopFrom to e).foreach { v =>
      require(vset.contains(v),
        s"version $v of $dir is gone (vacuumed?) — the stream cannot " +
          s"replay it; restart from a retained version " +
          s"(have ${vs.mkString(",")})")
      // a recorded commit (rewrite verb under graft.changeFeed=true) is
      // described ONLY by its change files — never by its file diff,
      // whose added files mix COW survivors with real changes. The
      // stream's initial version reads its recorded changes too when
      // its predecessor is retained (span-start parity with the batch
      // changeFeed(fromV, toV) view); only a GENUINE initial snapshot
      // (no predecessor — handled by the slice above) is full state.
      val recorded =
        if (changeFeed && (v != so.start || vset.contains(v - 1)))
          m(v).changeFiles
        else None
      if (recorded.isDefined) { recordedFiles ++= recorded.get.map(_ -> v) }
      else {
      val files = m(v).files
      val prev: Seq[String] =
        if (vset.contains(v - 1)) m(v - 1).files
        else if (v == so.start) Seq.empty // the stream's initial snapshot
        else throw new IllegalStateException(
          s"version ${v - 1} of $dir (the predecessor of streamed " +
            s"version $v) is gone (vacuumed?) — emitting v$v as a full " +
            "snapshot would re-emit every carried file; restart the " +
            "stream from a retained version")
      // membership via prebuilt hash sets — O(|prev| + |files|), never
      // the O(|prev|·|files|) rebuild-inside-the-lambda shape
      def norm(p: String): String = new Path(p).toUri.getPath
      val prevSet = prev.map(norm).toSet
      val curSet = files.map(norm).toSet
      val removed = prev.filterNot(p => curSet.contains(norm(p)))
      val cdfHint =
        if (changeFeed) "this commit predates the table's change feed " +
          s"(or ran without it) — set TBLPROPERTIES ('" +
          s"${SnapshotLog.ChangeFeedProperty}'='true') so rewrite verbs " +
          "record their changes, or restart past it"
        else "the streaming source is append-only (an emitted row " +
          "cannot be retracted); use SnapshotLog.changesBetween for " +
          "CDC semantics, or readChangeFeed with " +
          s"TBLPROPERTIES ('${SnapshotLog.ChangeFeedProperty}'='true')"
      require(removed.isEmpty,
        s"version $v of $dir removed/rewrote ${removed.size} file(s) — " +
          cdfHint)
      require(m(v).dv == (if (vset.contains(v - 1)) m(v - 1).dv else None),
        s"version $v of $dir changed its deletion vector — MoR deletes " +
          s"retract emitted rows; $cdfHint")
      // partition tuples ride with the files (from the MANIFEST — never
      // re-parsed from paths on executors); readers fill the partition
      // columns as typed constants
      newFiles ++= files.filterNot(p => prevSet.contains(norm(p)))
        .map(p => (p, SnapshotFilePartition.partValues(m(v), p), v))
      }
    }
    // physical names for footer lookup, via the LATEST colmap: a name
    // this stream bound BEFORE a later rename is already the storage
    // name (identity fallback); a post-rename stream's new name maps —
    // both directions land on the immutable physical name
    val phys = SnapshotStreamSource.physicalFields(m(vs.last).colmap, schema)
    // CDF mode: plain data files are pure-append rows — `_change_type`
    // ("insert"), `_commit_version` and `_commit_timestamp` (commit-point
    // micros) ride as typed constants beside the partition values;
    // recorded change files carry the type column for real and
    // version/timestamp as constants
    val cdfConsts = scala.collection.mutable.Map[Long, Seq[(String, Literal)]]()
    def cdf(v: Long): Seq[(String, Literal)] = cdfConsts.getOrElseUpdate(v,
      Seq("_commit_version" -> Literal(v),
        "_commit_timestamp" -> Literal(
          SnapshotLog.commitTimeMillis(spark, dir, v) * 1000L, TimestampType)))
    ((newFiles.map { case (p, t, v) =>
      val consts =
        if (changeFeed) t ++ cdf(v) :+ ("_change_type" -> Literal("insert"))
        else t
      SnapshotFilePartition(p, phys, consts, None): InputPartition
    } ++ recordedFiles.map { case (p, v) =>
      SnapshotFilePartition(p, phys, cdf(v), None): InputPartition
    }).toArray, phys)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One data file of a scan. `consts` holds, typed, the values of the
  * columns named by `constCols` — hive partition values and the CDF
  * marker columns, which the file itself does not store; a shipped
  * `dvBitmap` names the file's deleted row positions. */
private[sources] final case class SnapshotFilePartition(path: String,
    constCols: Seq[String], consts: InternalRow,
    dvBitmap: Option[Array[Byte]]) extends InputPartition

private[sources] object SnapshotFilePartition {
  /** `path` completed by `values`, each cast to its column's type in
    * `schema` (physical names); values of columns `schema` does not
    * carry (pruned away) are dropped. */
  def apply(path: String, schema: StructType, values: Seq[(String, Literal)],
      dvBitmap: Option[Array[Byte]]): SnapshotFilePartition = {
    val kept = values.filter { case (c, _) => schema.fieldNames.contains(c) }
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    SnapshotFilePartition(path, kept.map(_._1), InternalRow.fromSeq(
      kept.map { case (c, v) => Cast(v, schema(c).dataType, tz).eval() }),
      dvBitmap)
  }

  /** File `p`'s hive partition values in manifest `m`, as recorded
    * strings (`__HIVE_DEFAULT_PARTITION__` is null). */
  def partValues(m: Manifest, p: String): Seq[(String, Literal)] =
    if (m.partitionCols.isEmpty) Seq.empty
    else m.fileParts.getOrElse(p, Map.empty[String, String]).toSeq.map {
      case (c, "__HIVE_DEFAULT_PARTITION__") => c -> Literal(null, StringType)
      case (c, raw)                          => c -> Literal(raw)
    }
}

/** The executor side of every snapshot scan: each file is read whole by
  * Spark's own parquet reader (the vectorized one wherever the schema
  * allows), under `dataSchema`'s physical names and with no pushed
  * filters — a column the file lacks reads its frozen EXISTS_DEFAULT, or
  * null. A partition's constants are joined to the file's columns and
  * projected into `schema`'s order; a deletion bitmap skips the positions
  * it names, counting rows in file order. */
private[sources] class SnapshotFileReaderFactory(schema: StructType,
    dataSchema: StructType, parquet: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    val rows = parquet.createReader(FilePartition(0, Array(PartitionedFile(
      InternalRow.empty, SparkPath.fromPathString(p.path), 0L, Long.MaxValue))))
    val project: InternalRow => InternalRow =
      if (p.constCols.isEmpty && dataSchema.length == schema.length) identity
      else {
        val proj = UnsafeProjection.create(schema.fields.toSeq.map { f =>
          val ci = p.constCols.indexOf(f.name)
          BoundReference(
            if (ci >= 0) dataSchema.length + ci else dataSchema.fieldIndex(f.name),
            f.dataType, nullable = true)
        })
        val joined = new JoinedRow()
        r => proj(joined(r, p.consts))
      }
    val dv = p.dvBitmap.map(SnapshotLog.rbmFrom)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      override def next(): Boolean = {
        var more = rows.next()
        pos += 1
        while (more && dv.exists(_.contains(pos))) {
          more = rows.next()
          pos += 1
        }
        more
      }
      override def get(): InternalRow = project(rows.get())
      override def close(): Unit = rows.close()
    }
  }
}

private[sources] object SnapshotFileReaderFactory {
  /** Reads `schema` (physical names); the columns outside `dataSchema`
    * are constants of every partition. Spark's own parquet scan sets up
    * the reader's Hadoop and SQL conf (requested schema, time zone,
    * INT96 and rebase modes); its file index is empty, because the
    * partitions name the files. Files are read with every column
    * nullable: a hive file lacks its partition columns, NOT NULL or not,
    * and the constants fill them. */
  def apply(spark: SparkSession, schema: StructType,
      dataSchema: StructType): SnapshotFileReaderFactory = {
    val read = StructType(dataSchema.map(_.copy(nullable = true)))
    val scan = ParquetScan(spark, spark.sessionState.newHadoopConf(),
      new InMemoryFileIndex(spark, Nil, Map.empty, Some(read)),
      read, read, new StructType(), Array.empty,
      CaseInsensitiveStringMap.empty())
    new SnapshotFileReaderFactory(schema, dataSchema,
      scan.createReaderFactory())
  }
}
