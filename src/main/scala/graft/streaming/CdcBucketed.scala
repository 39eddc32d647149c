package graft.streaming

import graft.cdc.{CdcConfig, CdcMerge, Hashing}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}

/** Bucketed CDC state — the shuffle-free-merge design from SURVEY.md §4,
  * and (since round 3) the ONE state representation behind both the batch
  * pipeline and the streaming foreachBatch path ([[CdcStream]]).
  *
  * The current-state snapshot is persisted as a parquet table bucketed
  * (and sorted) by `keyhash`, with the hash columns materialized. A merge
  * rests on the identity apply∘classify == extract (CdcPropertySpec):
  * for a full extract the next generation IS the hashed extract. So the
  * extract is hashed once and written straight into the next
  * generation's buckets (its one shuffle), and the change feed comes from
  * a full-outer join of the old generation against the new one — both
  * bucketed on `keyhash`, so Spark plans NO Exchange on either side, and
  * nothing is cached (CdcBucketedSpec asserts the plan).
  *
  * Bucket count is a capacity decision: size so one bucket ≈ one HDFS/S3
  * object in the 100 MB–1 GB range at the target scale.
  *
  * Crash safety: a merge commits by writing the next generation to a
  * `_stage` table and then DROP + RENAME. A crash between the two
  * statements leaves only the stage; [[recoverStage]] (called on every
  * merge entry) finishes the rename, so the state table is always
  * reachable after one recovery step. A crash before the DROP leaves
  * both tables; the stale stage is dropped and rebuilt by the replay
  * (writeState clears both the catalog entry and any orphaned files).
  */
object CdcBucketed {

  /** Persist a snapshot (with hashes) as the bucketed state table. Drops
    * any previous generation first — including an orphaned location left
    * by a crash between file-write and catalog-commit (the in-memory
    * catalog forgets, the filesystem does not). With `location` the table
    * is EXTERNAL at that path (dropping a later generation keeps the
    * files — [[CdcStream]]'s versioned-snapshot retention relies on it);
    * without, it is a managed table in the warehouse.
    *
    * Rows are repartitioned on `keyhash` into exactly the bucketing, so
    * each task writes one file per bucket (without it every input task
    * writes a file for every bucket). The write leaves NO parquet
    * `_SUCCESS` marker: a generation is committed only once
    * [[markCommitted]] runs, which lets [[CdcStream]] order its commit
    * point after the change feed. */
  def writeState(snapshot: DataFrame, cfg: CdcConfig, table: String,
                 buckets: Int, useXxhash64: Boolean = true,
                 location: Option[String] = None): Unit = {
    val spark = snapshot.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = location.map(new org.apache.hadoop.fs.Path(_)).getOrElse(
      new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table))))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val writer = CdcMerge.withHashes(snapshot, cfg, useXxhash64)
      .repartition(buckets, col(CdcMerge.KeyHash))
      .write.mode("overwrite")
      .format("parquet")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .bucketBy(buckets, CdcMerge.KeyHash)
      .sortBy(CdcMerge.KeyHash)
    location.foreach(l => writer.option("path", l))
    writer.saveAsTable(table)
    // sidecar: the bucket count, so JVM-restart recovery re-registers the
    // generation with the spec its files were actually hashed with
    val tableLoc = tableLocation(spark, table)
    val out = tableLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(tableLoc, BucketMetaFile), true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  private def tableLocation(spark: SparkSession,
                            table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)

  /** Commit point of a generation written by [[writeState]]: create its
    * `_SUCCESS` marker, the file restart recovery and point-in-time reads
    * take as "fully written, and everything it vouches for exists". */
  def markCommitted(spark: SparkSession, table: String): Unit = {
    val loc = tableLocation(spark, table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"), true).close()
  }

  /** Sidecar file (inside each generation dir) recording its bucket
    * count — read back by restart recovery. */
  val BucketMetaFile = "_graft_buckets"

  /** The bucket count a generation's files were written with, if the
    * sidecar survives. */
  def bucketCountAt(spark: SparkSession, location: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(location, BucketMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // read to EOF — a single read() may legally return a short count
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](64)
        var n = in.read(b)
        while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
        buf.toString("UTF-8").trim.toIntOption
      } finally in.close()
    }
  }

  /** Re-register an existing on-disk generation (written earlier by
    * [[writeState]]) as the live table WITHOUT rewriting data — the
    * JVM-restart recovery path: the default in-memory catalog forgets
    * the table on restart, the filesystem does not. The caller must
    * verify the generation is fully written (parquet `_SUCCESS`).
    *
    * `buckets = None` registers the table UNBUCKETED: declaring a bucket
    * spec the files were not hashed with would make the shuffle-free
    * merge silently misclassify rows, while an unbucketed state table is
    * merely slower (one extra Exchange) and the next merge rewrites it
    * properly bucketed — correctness over the fast plan when the layout
    * metadata is uncertain. */
  def registerExisting(spark: SparkSession, table: String, location: String,
                       buckets: Option[Int]): Unit = {
    val schema = spark.read.parquet(location).schema
    val bucketClause = buckets.map(b =>
      s"CLUSTERED BY (${CdcMerge.KeyHash}) SORTED BY (${CdcMerge.KeyHash}) " +
        s"INTO $b BUCKETS").getOrElse("")
    spark.sql(
      s"""CREATE TABLE $table (${schema.toDDL})
         |USING PARQUET
         |$bucketClause
         |LOCATION '$location'""".stripMargin)
  }

  /** Finish a half-committed swap: a crash between `DROP TABLE` and
    * `ALTER TABLE RENAME` leaves only `${table}_stage` — adopt it as the
    * live table. (Both-exist means the crash happened before the DROP;
    * the stage is uncommitted and the replaying merge rebuilds it.) */
  def recoverStage(spark: SparkSession, table: String): Unit = {
    val stage = s"${table}_stage"
    if (spark.catalog.tableExists(stage) && !spark.catalog.tableExists(table))
      spark.sql(s"ALTER TABLE $stage RENAME TO $table")
  }

  /** SCHEMA EVOLUTION: align a persisted state generation to the CURRENT
    * config before classifying against it. Upstream tables gain (and
    * occasionally lose) value columns mid-stream; re-bootstrapping a
    * 100 TB state for a column-add would be absurd, so the merge adapts:
    *
    *  - ADDED value columns are backfilled as typed nulls (the type comes
    *    from the incoming batch — the only place the new column exists).
    *  - DROPPED value columns are simply projected away (the config is
    *    authoritative for the live column set).
    *  - The persisted `keyhash` is REUSED — key columns cannot evolve
    *    (enforced loudly below), so the hash and therefore the on-disk
    *    bucket layout stay valid and the merge join stays shuffle-free
    *    on the state side even across an evolution step.
    *  - `nonkeyhash` is RECOMPUTED map-side over the new value-column
    *    set, with the same canonicalization the incoming side uses: an
    *    old row (email=null) and its unchanged incoming twin (email
    *    still null) hash equal and classify as N — without the rehash,
    *    the first post-evolution merge would mark EVERY row a spurious
    *    Update and flood the change feed with a full-table rewrite.
    *
    * Fast path: when the state schema already matches the config
    * column-for-column, the persisted hashes are trusted untouched. */
  def alignStateToConfig(state: DataFrame, incoming: DataFrame,
                         cfg: CdcConfig,
                         useXxhash64: Boolean = true): DataFrame = {
    val have = state.columns.toSet
    val missingKeys = cfg.keyCols.filterNot(have)
    require(missingKeys.isEmpty,
      s"schema evolution cannot introduce key columns " +
        s"(${missingKeys.mkString(", ")} absent from state) — changed key " +
        s"semantics need a re-bootstrap, not a merge")
    // Key evolution in ANY direction (add, REMOVE, REORDER) invalidates
    // the persisted keyhash. The state's KeyHash column carries the exact
    // ordered key list it was hashed over (CdcMerge.KeyColsMeta);
    // compare it order-sensitively. Legacy states without the metadata
    // fall back to the layout invariant (key columns lead the schema).
    val khField = state.schema.fields.find(_.name == CdcMerge.KeyHash)
    val persistedKeys = khField
      .filter(_.metadata.contains(CdcMerge.KeyColsMeta))
      .map(_.metadata.getString(CdcMerge.KeyColsMeta).split(",", -1).toSeq)
    persistedKeys match {
      case Some(ks) => require(ks == cfg.keyCols,
        s"key evolution: state keyhash was computed over " +
          s"(${ks.mkString(", ")}) but the config keys are " +
          s"(${cfg.keyCols.mkString(", ")}) — changed key semantics need " +
          s"a re-bootstrap, not a merge")
      case None => require(
        state.columns.take(cfg.keyCols.size).sameElements(cfg.keyCols),
        s"key evolution: state's leading columns " +
          s"(${state.columns.take(cfg.keyCols.size).mkString(", ")}) do " +
          s"not match the config keys (${cfg.keyCols.mkString(", ")}) — " +
          s"changed key semantics need a re-bootstrap, not a merge")
    }
    val expected = cfg.allCols ++ Seq(CdcMerge.KeyHash, CdcMerge.NonKeyHash)
    if (state.columns.sameElements(expected)) state
    else {
      val inTypes = incoming.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = cfg.valueCols.filterNot(have)
      missing.foreach(c => require(inTypes.contains(c),
        s"evolved column $c is in the config but absent from the incoming batch"))
      val widened = missing.foldLeft(state)((df, c) =>
        df.withColumn(c, lit(null).cast(inTypes(c))))
      val projected = widened
        .select((cfg.allCols :+ CdcMerge.KeyHash).map(col): _*)
      val nkh = if (useXxhash64) Hashing.keyhash64(projected, cfg.valueCols)
                else Hashing.md5Hash(projected, cfg.valueCols)
      projected.withColumn(CdcMerge.NonKeyHash, nkh)
    }
  }

  /** Classify an incoming extract against the bucketed state. The state
    * side is read pre-partitioned from its buckets (and aligned to the
    * current config first — see [[alignStateToConfig]]); only `incoming`
    * is hashed and shuffled. */
  def classifyAgainstState(spark: SparkSession, table: String,
                           incoming: DataFrame, cfg: CdcConfig,
                           useXxhash64: Boolean = true,
                           withPriors: Boolean = false): DataFrame =
    CdcMerge.classifyHashed(
      alignStateToConfig(spark.table(table), incoming, cfg, useXxhash64),
      CdcMerge.withHashes(incoming, cfg, useXxhash64),
      cfg, withPriors)

  /** One full merge cycle: write the extract as the next bucketed
    * generation, classify the old generation against it, commit, and
    * return what `persistFeed` returned for the I/U/D change feed.
    *
    * Order: validate the config against the state (key evolution fails
    * before anything is written), write the hashed extract to the
    * `_stage` table, persist the feed of the shuffle-free old-vs-new
    * join, and only then mark the stage committed and swap it in.
    * `persistFeed` must MATERIALIZE the feed (the default localCheckpoint
    * does; [[CdcStream]] writes it to the change log): that run is the
    * one pass over the join, and a lazy plan over a managed old table
    * would read dropped files after the swap. On the way the feed's rows
    * fill `observation` (pass a fresh one per merge), so [[opCounts]]
    * then holds the per-op counts, N included. `nextLocation` pins the
    * new generation's files (external table); None keeps it managed. */
  def mergeIntoState(spark: SparkSession, table: String, incoming: DataFrame,
                     cfg: CdcConfig, batchId: Long, buckets: Int,
                     nextLocation: Option[String] = None,
                     persistFeed: DataFrame => DataFrame =
                       _.localCheckpoint(eager = true),
                     withPriors: Boolean = false,
                     observation: Observation = Observation()): DataFrame = {
    recoverStage(spark, table)
    val prev = alignStateToConfig(spark.table(table), incoming, cfg)
    // stage the new generation, then swap the table name atomically-ish:
    // parquet bucketed tables cannot be overwritten while being read
    val staging = s"${table}_stage"
    writeState(incoming, cfg, staging, buckets, location = nextLocation)
    val classified = CdcMerge.classifyHashed(prev, spark.table(staging), cfg,
      withPriors)
    val perOp = OpCodes.map(op =>
      count(when(col(CdcMerge.OpCol) === op, true)).as(op))
    val counted = classified.observe(observation, perOp.head, perOp.tail: _*)
    val feed = persistFeed(CdcMerge.changeFeed(counted, batchId))
    markCommitted(spark, staging)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    feed
  }

  private val OpCodes = Seq(CdcMerge.Insert, CdcMerge.Update, CdcMerge.Delete,
    CdcMerge.Unchanged)

  /** Per-op row counts a [[mergeIntoState]] observed. As from a
    * `groupBy(op)`, an op with no rows is absent — except N, which is
    * always reported. Blocks until the merge's feed has been persisted. */
  def opCounts(observation: Observation): Map[String, Long] =
    observation.get.collect {
      case (op, n: Long) if n > 0 || op == CdcMerge.Unchanged => op -> n
    }
}
