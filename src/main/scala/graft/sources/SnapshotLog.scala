package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** A minimal multi-version table format: atomic snapshot commits with
  * file-level time travel, no metastore, no dependencies — the property
  * Maintenance's stage-then-swap gives a SINGLE generation, extended to
  * a retained history (the Iceberg/Delta essence, one object). The
  * implementation lives in the `snapshot/` trait files this object
  * mixes in (meta/commit/dml/feed/partitions/stats/dv/maintenance/
  * evolve/clone — one concern per file); every member still resolves
  * as `SnapshotLog.<member>`.
  *
  * Layout under the table root:
  * {{{
  *   data/<commit-uuid>/part-*.parquet   immutable once committed
  *   _log/v<N>.manifest                  one line per data file (absolute)
  * }}}
  *
  * Manifests carry header lines before the file list: the version's
  * table state — schema, column mapping, properties, CHECK constraints,
  * deletion vector, partition layout, per-file stats, recorded change
  * files and the stream batch / replay mark. [[Manifest]] is the one
  * reader and writer of that grammar; every verb reads the manifest it
  * builds on once per attempt. Readers plan with the recorded schema, so
  * a version committed after a column add reads its OLDER files with
  * typed nulls in the new column — schema evolution is a property of
  * the format, not of parquet merge luck. Manifests without a schema
  * (pre-schema logs) read schema-inferred as before.
  *
  * The COMMIT POINT is the manifest rename: data files are written first
  * (invisible — readers only open files a manifest names), the manifest
  * is staged as a dot-file and renamed into place. Version ownership is
  * decided BEFORE that rename by an atomic create-exclusive CLAIM file
  * (POSIX O_EXCL via NIO locally, namenode-enforced exclusive create on
  * HDFS), so two committers racing for v<N> cannot both win — the loser
  * waits for the winner's manifest and retries at v<N+1>, never
  * clobbering (SnapshotLogSpec races real concurrent committers). A
  * crash before the rename leaves only unreferenced data files (and a
  * claim that goes stale and is adopted); readers are unaffected and
  * [[vacuum]] reclaims the orphans. Both primitives (and the cursor
  * overwrite) run through the pluggable [[LogStore]] seam — default
  * Hadoop FS semantics, with a loud refusal on object-store schemes
  * whose rename is copy+delete ([[HadoopFsLogStore]]); S3-class stores
  * plug a conditional-PUT implementation via [[setLogStore]].
  *
  * Commits whose body DEPENDS on the previous version ([[commitBatch]]
  * append, [[deleteWhere]], [[optimize]]) are optimistic-concurrency
  * transactions: the claim protocol additionally verifies, while holding
  * the claim, that the latest version is still the one the body was
  * computed against; if another commit slipped in, the attempt aborts
  * and the caller REBASES (re-reads the new latest, recomputes its file
  * list) and retries — the Delta/Iceberg conflict-retry loop. Without
  * this, a concurrent append vs delete would silently drop the other
  * committer's files (lost update).
  *
  * Why manifests and not directory listing at 100 TB: a snapshot read
  * plans from ONE small file instead of a recursive listing over
  * millions of objects; concurrent writers never make a reader see a
  * half-written table (no `_temporary` races, no partial-directory
  * reads); and retention is an explicit, crash-safe operation instead
  * of "hope nobody reads while we delete".
  */
// Serializable: executor-side closures in the mixed-in traits (e.g. the
// DV sidecar's mapPartitions bitmap encoder) reference sibling helpers
// through `this` now that members live in traits — the module serializes
// as a ModuleSerializationProxy (no field state crosses the wire; the
// executor resolves its own singleton), exactly the pre-split semantics
// where object-method lambdas referenced the module statically.
object SnapshotLog extends org.apache.spark.internal.Logging
    with Serializable
    with SnapshotMeta
    with SnapshotCommit
    with SnapshotDml
    with SnapshotFeed
    with SnapshotPartitions
    with SnapshotStats
    with SnapshotDv
    with SnapshotMaintenance
    with SnapshotEvolve
    with SnapshotClone
