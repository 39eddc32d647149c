package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** The EXECUTOR-SIDE v2 streaming write for snapshot-log tables —
  * what `df.writeStream.toTable("graft_cat.ns.t")` plans through.
  *
  * Data never moves through the driver: each task's writer streams its
  * partition straight to a parquet file under `<table>/data/<commitId>/`
  * through Spark's own InternalRow encoder ([[InternalRowFileWriter]]),
  * and the driver's epoch commit registers the finished file LIST
  * through [[SnapshotLog.appendExternal]] (Append) or
  * [[SnapshotLog.commitBatchExternal]] (Complete) — so CHECK
  * constraints, schema merge, `#batch=` replay idempotence and the
  * claim/rebase concurrency protocol all apply to executor-written
  * files too. Exactly-once: a replayed epoch registers nothing (its
  * files become vacuumable orphans — the external-commit contract);
  * an aborted epoch deletes what it wrote. Speculative/zombie task
  * files are never registered (Spark commits only winning tasks'
  * messages) and fall to the same orphan reclaim.
  *
  * Scale shape: write parallelism = the incoming plan's partitioning
  * (one file per task per epoch), commit cost = one manifest append —
  * O(files) driver strings, zero data bytes. */
private[sources] class SnapshotStreamingWrite(dir: String,
    schema: StructType, complete: Boolean) extends StreamingWrite {
  // one physical layout per query run; epochs disambiguate file names
  private val commitId = UUID.randomUUID().toString

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // ship the SESSION's effective Hadoop conf (s3a credentials, HA HDFS
    // nameservices, ...) to executors as plain entries — a bare
    // `new Configuration()` on the executor would misroute any
    // filesystem that needs config, and the driver-side abort already
    // uses the session conf; the write path must match
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val props = {
      val it = conf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    // files store PHYSICAL column names (identity on unmapped tables);
    // the epoch commit registers under the LOGICAL schema
    val phys = SnapshotLog.physicalWriteSchema(spark, dir, schema)
    new FileWriterFactory(s"$dir/data/$commitId", phys.json, props)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect {
      case FilesWritten(paths) => paths
    }.flatten.toSeq.sorted
    if (complete) {
      // replacing a partition-DECLARED table with this epoch's flat file
      // set would silently drop its layout from the manifest — refuse
      // loudly (appendExternal already does for the Append path)
      SnapshotLog.requireUnpartitionedForReplace(spark, dir,
        "the v2 Complete-mode streaming write")
      SnapshotLog.commitBatchExternal(spark, dir, files, schema, epochId)
    } else SnapshotLog.appendExternal(spark, dir, files, schema, epochId)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    messages.collect { case FilesWritten(paths) => paths }.flatten
      .foreach { p =>
        val hp = new Path(p)
        hp.getFileSystem(conf).delete(hp, false)
      }
  }
}

private[sources] case class FilesWritten(paths: Seq[String])
    extends WriterCommitMessage

private[sources] class FileWriterFactory(dataDir: String,
    schemaJson: String, confProps: Array[(String, String)])
    extends StreamingDataWriterFactory {
  // rebuild the shipped session conf ONCE per deserialized factory —
  // Configuration itself is not serializable
  @transient private lazy val hadoopConf = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    confProps.foreach { case (k, v) => c.set(k, v) }
    c
  }

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val path =
      s"$dataDir/part-$epochId-$partitionId-${UUID.randomUUID()}.parquet"
    new InternalRowFileWriter(path,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], hadoopConf)
  }
}

/** One task's parquet writer through Spark's OWN row encoder
  * ([[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
  * — the engine every native parquet write uses): InternalRow in,
  * per-field value writers resolved once from the schema, every type
  * Spark's parquet format writes. The physical layout is pinned
  * independent of session defaults (standard 3-level lists, INT64 micro
  * timestamps, INT32/INT64/FIXED decimals by precision, snappy). */
private[sources] class InternalRowFileWriter(path: String,
    schema: StructType, baseConf: org.apache.hadoop.conf.Configuration)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  private val writer = {
    val conf = new org.apache.hadoop.conf.Configuration(baseConf)
    ParquetWriteSupport.setSchema(schema, conf)
    // pin the physical layout, independent of session defaults: modern
    // list/timestamp encodings, no rebase (micros since epoch are
    // written as stored)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    // the schema converter reads these with a bare .toBoolean — absent
    // keys (the shipped conf carries only EXPLICITLY-set session conf)
    // would throw, so pin their defaults (field ids only write when the
    // schema carries id metadata; ours never does)
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      "false")
    new InternalRowFileWriter.Builder(new Path(path))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  override def write(row: InternalRow): Unit = writer.write(row)

  override def commit(): WriterCommitMessage = {
    writer.close()
    FilesWritten(Seq(path))
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    val hp = new Path(path)
    hp.getFileSystem(baseConf).delete(hp, false)
    ()
  }

  override def close(): Unit = ()
}

private[sources] object InternalRowFileWriter {
  /** parquet-hadoop's public builder hook: hand the file writer Spark's
    * InternalRow WriteSupport (it reads its schema from the conf —
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport.setSchema]]). */
  private class Builder(p: Path) extends org.apache.parquet.hadoop
      .ParquetWriter.Builder[InternalRow, Builder](p) {
    override def self(): Builder = this
    override def getWriteSupport(
        conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport()
  }
}
