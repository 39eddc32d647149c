package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
/** Shallow clone and materialize — carved from the SnapshotLog monolith (round 15 split;
  * pure moves, object facade unchanged). Self-typed to the
  * [[SnapshotLog]] singleton so every member keeps resolving
  * exactly as it did inside the single object. */
private[sources] trait SnapshotClone { this: SnapshotLog.type =>

  // -------------------------------------------------------------------
  // SHALLOW CLONE — zero-copy table branching
  // -------------------------------------------------------------------

  /** Branch version `version` (default: latest) of the table at
    * `srcDir` into the fresh table directory `dstDir` — the Delta
    * `CREATE TABLE ... SHALLOW CLONE` verb. The clone's v1 manifest
    * names the source's data files BY REFERENCE (manifests store
    * absolute paths), so branching a 100 TB table costs ONE manifest
    * write and zero data movement — the dev/test/staging workflow
    * (experiment on prod data, throw the branch away) at metadata cost.
    *
    * Independence going forward: every mutating verb on the clone
    * ([[commitBatch]], [[deleteWhere]], [[merge]], [[optimize]]) writes
    * its new/rewritten files under the CLONE's own `data/` root and
    * carries the rest by reference, so the source never observes the
    * branch. The clone's [[vacuum]] only sweeps the clone's own data
    * root — borrowed source files are structurally out of its reach.
    *
    * Self-containment details: a deletion-vector sidecar resolves
    * against a table's OWN `_log/dv/`, so the (O(deleted rows)-sized)
    * sidecar is COPIED — the one thing a clone must not borrow. The
    * batch id and the source's replay mark ride along so a streaming
    * sink resuming against the branch under the same checkpoint keeps
    * replay idempotence instead of double-applying already-ingested
    * batches. Everything else the manifest records (schema, stats,
    * checks, mapping, properties, layout) carries verbatim.
    *
    * THE documented hazard (same as Delta's): the SOURCE's vacuum does
    * not know about clones — if the source drops and vacuums the cloned
    * version's files, the clone's reads fail loudly ([[read]]'s
    * existence check names the vacuumed file). A branch that must
    * outlive the source's retention runs [[materialize]]. */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Long = {
    val vs = versions(spark, srcDir)
    require(vs.nonEmpty, s"no committed snapshot under $srcDir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"cannot clone version $v of $srcDir; have ${vs.mkString(",")}")
    require(versions(spark, dstDir).isEmpty,
      s"clone target $dstDir already holds a snapshot log")
    val m = manifest(spark, srcDir, v)
    m.dv.foreach { name =>
      val sf = fs(spark, srcDir)
      val df = fs(spark, dstDir)
      df.mkdirs(new Path(logDir(dstDir), "dv"))
      org.apache.hadoop.fs.FileUtil.copy(sf, dvPath(srcDir, name),
        df, dvPath(dstDir, name), false,
        spark.sparkContext.hadoopConfiguration)
    }
    val srcMark = if (v == vs.last) m.mark else manifest(spark, srcDir, vs.last).mark
    commitFiles(spark, dstDir, m.copy(changeFiles = None, watermark = srcMark),
      java.util.UUID.randomUUID().toString).get
  }

  /** Break a clone's dependence on its source: rewrite every BORROWED
    * data file (one living outside this table's own `data/` root) into
    * fresh local files, carrying the table's own files by reference —
    * cost ∝ borrowed bytes, not table size, so a branch that already
    * rewrote most of its files through churn pays only for the
    * remainder. After materialize the source can vacuum freely. A table
    * with nothing borrowed returns its current version untouched
    * (idempotent). Refuses on a DV-bearing version ([[deleteWhereMoR]]
    * composition contract — rewriting files would shift the row
    * positions the vector names): run [[applyDeletionVectors]] first.
    * Base-checked and rebased on a lost race like every
    * read-modify-write commit. */
  def materialize(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val ownRoot = f.makeQualified(new Path(dir, "data")).toString + "/"
    while (true) {
      val (latest, m) = requireTip(spark, dir)
      requireNoDv(dir, m, "materialize")
      val (own, borrowed) = m.files.partition(p =>
        f.makeQualified(new Path(p)).toString.startsWith(ownRoot))
      if (borrowed.isEmpty) return latest
      val base = readFiles(spark, dir, m, borrowed)
      val commitId = java.util.UUID.randomUUID().toString
      val fresh = writeData(spark, dir, m, base, commitId, m.partitionCols)
      // copying borrowed files changes ZERO logical rows — declare the
      // empty recorded change set so CDF feeds ride across it (the
      // optimize/applyDeletionVectors rule)
      val cdfMark =
        if (cdfEnabled(dir, m, requireNamesFree = false)) Some(Seq.empty) else None
      commitFiles(spark, dir,
        withFiles(spark, m.next, own, fresh).copy(changeFiles = cdfMark),
        commitId, base = Some(Some(latest))) match {
        case Some(v) => return v
        case None    => () // raced — recompute against the new latest
      }
    }
    -1L // unreachable
  }
}
