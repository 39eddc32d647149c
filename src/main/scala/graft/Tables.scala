package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md/FIXTURES.md).
  *
  * All queries read only `$sfDir/<table>.parquet` — never absolute sf paths —
  * so the driver can vary the scale factor (SURVEY.md §7.5 rule 7).
  *
  * The resolved relation is MEMOIZED per (session, dir, table) — the
  * catalog role: a bare `spark.read.parquet(path)` re-lists the
  * directory and re-reads parquet footers on EVERY call (~120 ms of
  * driver time per table here; at 100 TB, minutes of file listing —
  * guide-class driver stall §7.3), which a `spark.table(...)` through
  * any real metastore/manifest catalog never re-pays. Only the LAZY
  * DataFrame (logical plan + file index) is cached — never data, never
  * results: every action still scans the parquet inputs. The memo is
  * keyed PER SESSION (by session UUID) so plans never cross sessions,
  * and it keeps the [[MaxSessions]] most recently used sessions: a new
  * session evicts only the least recently used one, so concurrently-live
  * sessions (parallel suites, streaming clones) never wipe each other's
  * entries.
  *
  * CONTRACT: table directories under `dir` are immutable for the life
  * of the session — the memo pins the resolved file listing on first
  * read (exactly like any manifest catalog). A writer that rewrites a
  * table path in-session must use a fresh session (no current caller
  * writes under a data dir; snapshot/streaming fixtures live in their
  * own temp roots).
  */
object Tables {
  private type Memo = java.util.concurrent.ConcurrentHashMap[String, DataFrame]
  private val MaxSessions = 4
  // access-ordered: the eldest entry is the least recently used session
  private val memos = new java.util.LinkedHashMap[String, Memo](8, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Memo]): Boolean = size() > MaxSessions
  }

  private def read(s: SparkSession, dir: String, name: String): DataFrame = {
    val m = memos.synchronized {
      memos.computeIfAbsent(
        org.apache.spark.sql.graftshim.ColumnBridge.sessionUUID(s),
        _ => new Memo())
    }
    m.computeIfAbsent(s"$dir/$name.parquet", p => s.read.parquet(p))
  }

  /** Scale-adaptive fan-out for explode-heavy map stages (guide §2/§6).
    *
    * A parquet input smaller than one scan split
    * (`spark.sql.files.maxPartitionBytes`) is read by a SINGLE task, so
    * every narrow operation fused into the scan stage — tokenize,
    * explode, shingle, vector fold, partial aggregate — runs on one core
    * no matter how many the session has. (Split configs cannot fix this
    * here: the driver's testdata files are single-row-group, and a
    * row group is parquet's parallelism floor.) For operators whose
    * map-side work fans out 10-100× per input row, that one task IS the
    * query's wall clock.
    *
    * `fanned` repartitions the table by `keys` to the session's shuffle
    * parallelism ONLY in that sub-split case. The predicate derives from
    * input size, not from a local tuning constant: at production scale
    * (file count × row groups ≥ parallelism) it is the identity and no
    * extra exchange ever appears in the plan. When it does fire, the
    * exchange moves the RAW column-pruned rows (predicate pushdown and
    * column pruning both pass through a repartition) — strictly fewer
    * bytes than the post-explode exchange the consumer pays anyway —
    * and hash-partitioning by the consumer's grouping prefix lets the
    * downstream aggregate reuse the exchange (ClusteredDistribution is
    * satisfied by a subset of the grouping keys), so the net exchange
    * count is unchanged: the one shuffle just happens BEFORE the
    * fan-out instead of after it, on 32 cores instead of 1.
    *
    * Keys must be deterministic columns (retry-safe row placement,
    * SPARK-38388) with enough distinct values to spread — every caller
    * uses its row-identity key (doc_id / vec_id / orderkey). */
  def fanned(s: SparkSession, dir: String, name: String, keys: String*): DataFrame = {
    val df = read(s, dir, name)
    val f = new java.io.File(s"$dir/$name.parquet")
    // a directory-shaped table: sum the leaf files (0 on list failure
    // keeps fanned a no-op rather than a wrong-way repartition)
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(0L)
      else f.length
    fanBySize(s, df, bytes, keys)
  }

  private[graft] def fanBySize(s: SparkSession, df: DataFrame, bytes: Long,
      keys: Seq[String]): DataFrame = {
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    if (bytes > 0 && bytes < maxSplit) {
      val n = s.sessionState.conf.numShufflePartitions
      df.repartition(n, keys.map(col): _*)
    } else df
  }

  def region(s: SparkSession, dir: String): DataFrame   = read(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = read(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = read(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = read(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** events.ts has shipped in two physical layouts across driver testdata
    * generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects —
    * read nanos as Long via the legacy conf and truncate to µs, the same
    * truncation DuckDB applies with CAST(ts AS TIMESTAMP)) and plain
    * timestamp[us] (which Spark reads as TIMESTAMP_NTZ — cast to session-TZ
    * TIMESTAMP, value-identical under the engine's fixed UTC session TZ).
    * Both branches land on identical µs instants in both engines.
    * `div` is integer division: ts values are positive, so the nanos branch
    * truncates toward zero exactly like DuckDB's ns→µs cast.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** DuckDB-side equivalent of [[events]]: a CTE normalizing ts to µs.
    * Splice at the head of every events oracle query. */
  val EventsCte: String =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, " +
      "event_type, value, props FROM events)"
}
