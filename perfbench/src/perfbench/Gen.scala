package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every random column is a pure function of
  * (seed, salt, row id) through `xxhash64`, so the same seed gives the
  * same rows on any partitioning, and the program under test only ever
  * sees the files and frames built here.
  *
  * The tables follow the schemas of the engine's fixture tables, one
  * parquet file per table, named `<table>.parquet` as `graft.Tables`
  * expects. */
object Gen {

  private def hash(seed: Long, salt: Int): Column =
    xxhash64(lit(seed), lit(salt), col("id"))

  /** Uniform integer in [0, n). */
  private def uni(seed: Long, salt: Int, n: Long): Column =
    pmod(hash(seed, salt), lit(n))

  /** Uniform double in [lo, hi), two decimals. */
  private def money(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + uni(seed, salt, 1000000L) / 1000000.0 * (hi - lo), 2)

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (uni(seed, salt, values.size.toLong) + 1).cast("int"))

  /** Write `df` as ONE parquet file at `path` (a file, not a directory,
    * like the engine's fixture tables). */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part under $tmp"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteTree(new java.io.File(tmp))
  }

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Langs = Seq("en", "en", "en", "fr", "de", "es", "zh")
  val Events = Seq("signup", "click", "view", "purchase", "error")
  val Vocab = Seq("spark", "table", "stream", "batch", "merge", "join", "shuffle",
    "snapshot", "partition", "query", "plan", "index", "vector", "token",
    "commit", "manifest", "schema", "column", "row", "key", "hash", "change",
    "feed", "state", "bucket", "file", "parquet", "driver", "executor",
    "task", "stage", "job", "cache", "filter", "aggregate", "window",
    "sort", "scan", "write", "read", "data", "model", "train", "eval",
    "dedup", "near", "duplicate", "document", "corpus", "quality")

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(n).select(
      (col("id") + 1).as("o_orderkey"),
      (uni(seed, 11, customers) + 1).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 13, 900.0, 450000.0).as("o_totalprice"),
      timestamp_millis(lit(788918400000L) +
        uni(seed, 14, 2400L * 86400L) * 1000L).as("o_orderdate"),
      pick(seed, 15, Priorities).as("o_orderpriority"))

  /** lineitem rows pick their order key uniformly, and their line number
    * in 1..7 independently, so (l_orderkey, l_linenumber) repeats — the
    * same shape as the engine's fixture data. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long,
               parts: Long, suppliers: Long): DataFrame =
    spark.range(n).select(
      (uni(seed, 21, orders) + 1).as("l_orderkey"),
      (uni(seed, 22, parts) + 1).as("l_partkey"),
      (uni(seed, 23, suppliers) + 1).as("l_suppkey"),
      (uni(seed, 24, 7L) + 1).cast("int").as("l_linenumber"),
      (uni(seed, 25, 50L) + 1).cast("double").as("l_quantity"),
      money(seed, 26, 900.0, 105000.0).as("l_extendedprice"),
      (uni(seed, 27, 11L) / 100.0).as("l_discount"),
      (uni(seed, 28, 9L) / 100.0).as("l_tax"),
      pick(seed, 29, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 30, Seq("F", "O")).as("l_linestatus"),
      timestamp_millis(lit(788918400000L) +
        uni(seed, 31, 2500L * 86400L) * 1000L).as("l_shipdate"))

  /** Word soup of 20–60 tokens; every 12th document copies the 60-token
    * text of its predecessor and replaces its last token, planting
    * near-duplicates for the dedup operators. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val tokens = 60
    val words = (0 until tokens).map(i => pick(seed, 100 + i, Vocab))
    val len = uni(seed, 41, 41L) + 20
    val base = spark.range(n).select(col("id"),
      array(words: _*).as("w"), len.as("len"))
    val prev = base.select((col("id") + 1).as("id"), col("w").as("pw"),
      col("len").as("plen"))
    base.join(prev, Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        when(col("id") % 12 === 11 && col("pw").isNotNull,
          concat_ws(" ", slice(col("pw"), lit(1), col("plen").cast("int") - 1),
            lit("variant")))
          .otherwise(concat_ws(" ", slice(col("w"), lit(1), col("len").cast("int"))))
          .as("text"),
        pick(seed, 42, Langs).as("lang"),
        concat(lit("src"), uni(seed, 43, 20L)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** 64-dimensional vectors around ten label centroids. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val label = uni(seed, 51, 10L)
    val dims = (0 until 64).map { d =>
      (pmod(xxhash64(lit(seed), lit(500 + d), label), lit(1000L)) / 500.0 - 1.0 +
        (uni(seed, 600 + d, 1000L) / 1000.0 - 0.5) * 0.4).cast("float")
    }
    spark.range(n).select(col("id").as("vec_id"), array(dims: _*).as("embedding"),
      label.cast("int").as("label"))
  }

  def events(spark: SparkSession, seed: Long, n: Long, users: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        uni(seed, 61, 30L * 86400L * 1000000L)).as("ts"),
      uni(seed, 62, users).as("user_id"),
      pick(seed, 63, Events).as("event_type"),
      money(seed, 64, 5.0, 200.0).as("value"),
      concat(lit("{\"k\": "), uni(seed, 65, 100L), lit("}")).as("props"))

  /** `lineitem` (6,000,000·sf rows), `documents`, `embeddings` and
    * `events` — the tables the `ops_mix` queries read — under `dir`. */
  def tables(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    def sz(base: Double): Long = math.max(1L, math.round(base * sf))
    def w(name: String, df: DataFrame): Unit =
      writeSingleFile(df, s"$dir/$name.parquet")
    w("lineitem", lineitem(spark, seed, sz(6000000), sz(1500000), sz(200000), sz(10000)))
    w("documents", documents(spark, seed, 500))
    w("embeddings", embeddings(spark, seed, 500))
    w("events", events(spark, seed, sz(1000000), math.max(10L, sz(10000))))
  }
}

/** Local filesystem helpers (the benchmark's temp roots are local). */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length()
}
