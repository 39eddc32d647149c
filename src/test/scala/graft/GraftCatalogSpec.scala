package graft

import graft.sources.SnapshotLog
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** [[graft.sources.GraftCatalog]] — the DSv2 TableCatalog over a
  * directory tree of snapshot-log tables: SQL DDL (CREATE/DROP/RENAME
  * TABLE, namespaces), DML (INSERT INTO/OVERWRITE, CTAS), catalog
  * reads incl. VERSION/TIMESTAMP AS OF, and the invariants the SQL
  * surface must keep (partition layout across INSERT OVERWRITE, CHECK
  * constraints on INSERT, read-only time travel, loud alterTable). */
class GraftCatalogSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val root = Files.createTempDirectory("graftcat").toString
  spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.g.root", root)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS g.gold")

  test("CREATE TABLE + INSERT INTO + SELECT round-trips; appends stack " +
      "versions") {
    spark.sql("CREATE TABLE g.gold.kv (k BIGINT, v STRING)")
    val dir = s"$root/gold/kv"
    assert(SnapshotLog.versions(spark, dir) === Seq(1L)) // declared empty
    assert(spark.table("g.gold.kv").count() === 0)
    spark.sql("INSERT INTO g.gold.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO g.gold.kv VALUES (3, 'c')")
    assert(SnapshotLog.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT k FROM g.gold.kv ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    // INSERT must not stamp a #batch header (stream-replay poisoning)
    assert(SnapshotLog.lastBatch(spark, dir).isEmpty)
  }

  test("PARTITIONED BY declares the layout; INSERT OVERWRITE keeps it") {
    spark.sql("CREATE TABLE g.gold.pt (region STRING, k BIGINT) " +
      "PARTITIONED BY (region)")
    val dir = s"$root/gold/pt"
    assert(SnapshotLog.partitionColsOf(spark, dir, 1L) === Seq("region"))
    spark.sql("INSERT INTO g.gold.pt VALUES ('eu', 1), ('us', 2)")
    spark.sql("INSERT OVERWRITE g.gold.pt VALUES ('eu', 10), ('ap', 30)")
    val v = SnapshotLog.versions(spark, dir).last
    assert(SnapshotLog.partitionColsOf(spark, dir, v) === Seq("region"),
      "INSERT OVERWRITE flattened the declared partition layout")
    assert(spark.sql("SELECT k FROM g.gold.pt ORDER BY k")
      .as[Long].collect().toSeq === Seq(10L, 30L))
    // the layout is real: a partition-scoped read prunes
    val (euRows, scanned, total) =
      SnapshotLog.readPartition(spark, dir, Map("region" -> "eu"))
    assert(scanned < total || total === 1)
    assert(euRows.select("k").as[Long].collect().toSeq === Seq(10L))
  }

  test("CTAS materializes the query as a snapshot table") {
    spark.sql("CREATE TABLE g.gold.squares AS " +
      "SELECT id AS k, id * id AS sq FROM range(5)")
    assert(spark.sql("SELECT sum(sq) FROM g.gold.squares")
      .as[Long].head() === 30L)
    assert(SnapshotLog.versions(spark, s"$root/gold/squares").nonEmpty)
  }

  test("VERSION AS OF reads history; time-traveled relations are " +
      "read-only") {
    spark.sql("CREATE TABLE g.gold.hist (k BIGINT)")
    spark.sql("INSERT INTO g.gold.hist VALUES (1)")        // v2
    spark.sql("INSERT INTO g.gold.hist VALUES (2)")        // v3
    assert(spark.sql("SELECT * FROM g.gold.hist VERSION AS OF 2")
      .count() === 1)
    assert(spark.sql("SELECT * FROM g.gold.hist VERSION AS OF 3")
      .count() === 2)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO g.gold.hist VERSION AS OF 2 VALUES (9)")
    }
    assert(e.getMessage != null)
  }

  test("TIMESTAMP AS OF resolves to the newest version at the instant") {
    spark.sql("CREATE TABLE g.gold.tt (k BIGINT)")
    spark.sql("INSERT INTO g.gold.tt VALUES (1)")
    val afterV2 = java.time.Instant.now().plusSeconds(1)
    Thread.sleep(1100) // manifest mtimes are second-grain on some FS
    spark.sql("INSERT INTO g.gold.tt VALUES (2)")
    val got = spark.sql(
      s"SELECT * FROM g.gold.tt TIMESTAMP AS OF '${afterV2}'").count()
    assert(got === 1, s"expected the v2 snapshot at $afterV2, got $got rows")
  }

  test("SHOW TABLES / DROP / RENAME; alterTable refused") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.tmp")
    spark.sql("CREATE TABLE g.tmp.a (k BIGINT)")
    assert(spark.sql("SHOW TABLES IN g.tmp").select("tableName")
      .as[String].collect().toSeq === Seq("a"))
    // the RENAME TO target is catalog-relative (repeating the catalog
    // name would read as namespace ["g","tmp"])
    spark.sql("ALTER TABLE g.tmp.a RENAME TO tmp.b")
    assert(spark.sql("SHOW TABLES IN g.tmp").select("tableName")
      .as[String].collect().toSeq === Seq("b"))
    // SET TBLPROPERTIES is supported (one metadata commit, round 12)
    spark.sql("ALTER TABLE g.tmp.b SET TBLPROPERTIES ('x' = 'y')")
    assert(spark.sql("SHOW TBLPROPERTIES g.tmp.b")
      .as[(String, String)].collect().toMap.get("x") === Some("y"))
    // unsupported change kinds are still refused loudly
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE g.tmp.b ALTER COLUMN k COMMENT 'nope'")
    }
    assert(e.getMessage.contains("UpdateColumnComment"),
      s"unexpected alterTable error: ${e.getMessage}")
    spark.sql("DROP TABLE g.tmp.b")
    assert(spark.sql("SHOW TABLES IN g.tmp").count() === 0)
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only widening — old versions " +
      "backfill NULL, new writes carry it, constraints preserved") {
    spark.sql("CREATE TABLE g.gold.evo (k BIGINT)")
    spark.sql("INSERT INTO g.gold.evo VALUES (1), (2)") // v2
    val dir = s"$root/gold/evo"
    SnapshotLog.addCheck(spark, dir, "pos", "k > 0")    // v3
    val before = SnapshotLog.versions(spark, dir).last
    val filesBefore = SnapshotLog.history(spark, dir)
      .filter(col("version") === before).select("n_files").as[Long].head()
    spark.sql("ALTER TABLE g.gold.evo ADD COLUMNS (tag STRING, w DOUBLE)")
    assert(SnapshotLog.versions(spark, dir).last === before + 1,
      "ADD COLUMNS must commit exactly one version")
    // metadata-only: same file count, no data written
    assert(SnapshotLog.history(spark, dir)
      .filter(col("version") === before + 1).select("n_files").as[Long]
      .head() === filesBefore)
    // existing rows read the new columns as typed NULLs
    assert(spark.sql("SELECT k, tag, w FROM g.gold.evo ORDER BY k")
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2)))
      .toSeq === Seq((1L, true, true), (2L, true, true)))
    // new writes carry the columns; the carried CHECK still gates
    spark.sql("INSERT INTO g.gold.evo VALUES (3, 'x', 1.5)")
    assert(spark.sql(
      "SELECT tag FROM g.gold.evo WHERE k = 3").as[String].head() === "x")
    val chk = intercept[Exception] {
      spark.sql("INSERT INTO g.gold.evo VALUES (-9, 'y', 0.0)")
    }
    assert(chk.getMessage.toLowerCase.contains("check") ||
      chk.getCause != null)
    // pre-ALTER versions read their own (narrow) schema
    assert(spark.sql(s"SELECT * FROM g.gold.evo VERSION AS OF $before")
      .columns.toSeq === Seq("k"))
    // duplicate / non-nullable adds are refused
    val dup = intercept[Exception] {
      spark.sql("ALTER TABLE g.gold.evo ADD COLUMNS (tag STRING)")
    }
    assert(dup.getMessage.contains("already exists"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT ... CHECK: SQL constraint DDL " +
      "rides the manifest check headers") {
    spark.sql("CREATE TABLE g.gold.cons (k BIGINT)")
    spark.sql("INSERT INTO g.gold.cons VALUES (5)")
    spark.sql("ALTER TABLE g.gold.cons ADD CONSTRAINT pos CHECK (k > 0)")
    val dir = s"$root/gold/cons"
    assert(SnapshotLog.checksOf(spark, dir,
      SnapshotLog.versions(spark, dir).last) === Seq("pos" -> "k > 0"))
    // enforced on the write path like the library verb's checks
    val e = intercept[Exception] {
      spark.sql("INSERT INTO g.gold.cons VALUES (-1)")
    }
    assert(e.getMessage.toLowerCase.contains("check") ||
      e.getCause != null, s"violating INSERT not refused: ${e.getMessage}")
    // adding a constraint existing data violates is refused
    val bad = intercept[Exception] {
      spark.sql("ALTER TABLE g.gold.cons ADD CONSTRAINT big CHECK (k > 100)")
    }
    assert(bad.getMessage != null)
    // DROP lifts the gate
    spark.sql("ALTER TABLE g.gold.cons DROP CONSTRAINT pos")
    spark.sql("INSERT INTO g.gold.cons VALUES (-1)")
    assert(spark.sql("SELECT count(*) FROM g.gold.cons").as[Long]
      .head() === 2L)
    val gone = intercept[Exception] {
      spark.sql("ALTER TABLE g.gold.cons DROP CONSTRAINT pos")
    }
    assert(gone.getMessage != null)
  }

  test("CHECK constraints gate SQL INSERT like the library verbs") {
    spark.sql("CREATE TABLE g.gold.gated (k BIGINT)")
    SnapshotLog.addCheck(spark, s"$root/gold/gated", "pos", "k > 0")
    spark.sql("INSERT INTO g.gold.gated VALUES (5)") // passes
    val e = intercept[Exception] {
      spark.sql("INSERT INTO g.gold.gated VALUES (-1)")
    }
    assert(e.getMessage.toLowerCase.contains("check") ||
      e.getCause != null, s"violating INSERT not refused: ${e.getMessage}")
    assert(spark.sql("SELECT k FROM g.gold.gated").as[Long].collect()
      .toSeq === Seq(5L), "the failed INSERT half-landed")
  }

  test("writeStream.toTable: executor-written epochs register " +
      "exactly-once; files read back bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE g.gold.sunk (k BIGINT, v STRING, " +
      "d DATE, ts TIMESTAMP, m DECIMAL(28,2), e ARRAY<FLOAT>)")
    val dir = s"$root/gold/sunk"
    val ckpt = Files.createTempDirectory("cat-sink-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    def frame = ms.toDF().toDF("k").selectExpr("k",
      "concat('v', k) AS v",
      "date_add(DATE'2024-01-01', CAST(k AS INT)) AS d",
      "timestamp_micros(k * 1000000) AS ts",
      "CAST(CAST(k AS DECIMAL(28,2)) / 3 AS DECIMAL(28,2)) AS m",
      "array(CAST(k AS FLOAT), CAST(-k AS FLOAT)) AS e")
    def start() = frame.writeStream
      .option("checkpointLocation", ckpt).toTable("g.gold.sunk")
    val q1 = start()
    try {
      ms.addData(0L, 1L); q1.processAllAvailable()
      ms.addData(2L); q1.processAllAvailable()
    } finally q1.stop()
    assert(SnapshotLog.lastBatch(spark, dir).nonEmpty,
      "executor-side epochs must stamp #batch replay headers")
    val before = SnapshotLog.versions(spark, dir).size
    val q2 = start() // restart: committed epochs must not re-register
    try { ms.addData(3L); q2.processAllAvailable() } finally q2.stop()
    assert(SnapshotLog.versions(spark, dir).size === before + 1)
    // the executor-written files round-trip through BOTH readers
    val viaCatalog = spark.table("g.gold.sunk")
    val expected = spark.range(4).toDF("k").selectExpr("k",
      "concat('v', k) AS v",
      "date_add(DATE'2024-01-01', CAST(k AS INT)) AS d",
      "timestamp_micros(k * 1000000) AS ts",
      "CAST(CAST(k AS DECIMAL(28,2)) / 3 AS DECIMAL(28,2)) AS m",
      "array(CAST(k AS FLOAT), CAST(-k AS FLOAT)) AS e")
    assert(viaCatalog.exceptAll(expected).isEmpty &&
      expected.exceptAll(viaCatalog).isEmpty,
      "catalog read of executor-written files diverged")
    val files = SnapshotLog.read(spark, dir) // library reader
    assert(files.exceptAll(expected).isEmpty &&
      expected.exceptAll(files).isEmpty,
      "library read of executor-written files diverged")
  }

  test("toTable Complete mode replaces; partition-declared tables " +
      "refuse flat external appends") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    spark.sql("CREATE TABLE g.gold.cagg (parity BIGINT, n BIGINT)")
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = ms.toDF().toDF("k")
      .groupBy((col("k") % 2).as("parity")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("cat-cagg").toString)
      .toTable("g.gold.cagg")
    try {
      ms.addData(0L, 1L, 2L); q.processAllAvailable()
      ms.addData(3L, 4L); q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("g.gold.cagg").as[(Long, Long)].collect()
      .toMap === Map(0L -> 3L, 1L -> 2L))
    assert(spark.table("g.gold.cagg").count() === 2,
      "Complete epochs must replace, not accumulate")

    spark.sql("CREATE TABLE g.gold.partsunk (region STRING, k BIGINT) " +
      "PARTITIONED BY (region)")
    val ms2 = MemoryStream[(String, Long)]
    val q2 = ms2.toDF().toDF("region", "k").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("cat-part").toString)
      .toTable("g.gold.partsunk")
    val e = intercept[Exception] {
      ms2.addData(("eu", 1L)); q2.processAllAvailable()
    }
    q2.stop()
    assert(e.getMessage.contains("partition") ||
      (e.getCause != null && e.getCause.getMessage.contains("partition")),
      s"flat external append into a partitioned table not refused: $e")
  }

  test("snapshot TVFs accept catalog identifiers: one naming scheme " +
      "across the SQL surface") {
    spark.sql("CREATE TABLE g.gold.tvf (k BIGINT)")
    spark.sql("INSERT INTO g.gold.tvf VALUES (1)")
    spark.sql("INSERT INTO g.gold.tvf VALUES (2)")
    // history via the catalog ident == history via the path
    assert(spark.sql("SELECT * FROM snapshot_history('g.gold.tvf')")
      .count() === spark.sql(
        s"SELECT * FROM snapshot_history('$root/gold/tvf')").count())
    // time travel through the TVF on the ident
    assert(spark.sql("SELECT * FROM snapshot_of('g.gold.tvf', 2)")
      .count() === 1)
    // DML TVF on the ident; its SQL-condition arg is NOT mis-resolved
    spark.sql("SELECT * FROM snapshot_update_where('g.gold.tvf', " +
      "'k = CAST(1.0 AS BIGINT)', 'k', 'k + 10')").collect()
    assert(spark.sql("SELECT k FROM g.gold.tvf ORDER BY k")
      .as[Long].collect().toSeq === Seq(2L, 11L))
  }

  test("toTable volume: 100k executor-written rows round-trip with " +
      "write parallelism = plan partitioning") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE g.gold.vol (k BIGINT, payload STRING)")
    val dir = s"$root/gold/vol"
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = ms.toDF().toDF("seed")
      .selectExpr("explode(sequence(seed * 25000, seed * 25000 + 24999)) AS k")
      .selectExpr("k", "repeat(concat('p', k % 97), 3) AS payload")
      .repartition(8, col("k"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("cat-vol").toString)
      .toTable("g.gold.vol")
    try {
      ms.addData(0L, 1L, 2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("g.gold.vol")
    assert(got.count() === 100000L)
    assert(got.agg(sum("k")).as[Long].head() ===
      (0L until 100000L).sum)
    // one file per task per epoch: parallelism tracked the plan
    // (history's n_files column — filesOf is package-private)
    val nFiles = SnapshotLog.history(spark, dir)
      .orderBy(col("version").desc).select("n_files")
      .as[Long].head()
    assert(nFiles > 1,
      "volume epoch wrote a single file — executor parallelism lost")
  }

  test("concurrent SQL INSERTs both land: claim/rebase holds through " +
      "the catalog surface") {
    spark.sql("CREATE TABLE g.gold.conc (k BIGINT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { i =>
      Future { spark.sql(s"INSERT INTO g.gold.conc VALUES ($i)") }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // no lost update: all four rows present, four append commits landed
    assert(spark.sql("SELECT k FROM g.gold.conc ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L, 4L))
    assert(SnapshotLog.versions(spark, s"$root/gold/conc") ===
      (1L to 5L))
  }

  test("SQL MERGE key-consistency contract: re-keying is refused " +
      "loudly, never silently mistargeted") {
    spark.sql("CREATE TABLE g.gold.keyc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.keyc VALUES (1,'a'),(2,'b')")
    // UPDATE reassigning the key would make the verb target the wrong row
    val rekey = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.keyc t
        USING (SELECT * FROM VALUES (1,'x') AS s(k, v)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET k = t.k + 10
      """)
    }
    assert(rekey.getMessage.contains("re-keying"),
      s"key reassignment not refused: ${rekey.getMessage}")
    // INSERT keyed differently from the ON match would silently replace
    // an unrelated row
    val insKey = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.keyc t
        USING (SELECT * FROM VALUES (9, 1, 'x') AS s(k, j, v)) s
        ON t.k = s.j
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
      """)
    }
    assert(insKey.getMessage.contains("ON clause's match expression"),
      s"mismatched insert key not refused: ${insKey.getMessage}")
    // a key constrained by TWO different source expressions has no
    // single insert key — refused
    val twoOn = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.keyc t
        USING (SELECT * FROM VALUES (1, 2, 'x') AS s(a, b, v)) s
        ON t.k = s.a AND t.k = s.b
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.a, s.v)
      """)
    }
    assert(twoOn.getMessage.contains("different source expressions"),
      s"duplicate key conjuncts not refused: ${twoOn.getMessage}")
    // the LEGITIMATE different-name shape works: key from the ON expr
    spark.sql("""
      MERGE INTO g.gold.keyc t
      USING (SELECT * FROM VALUES (1, 'A'), (3, 'c') AS s(j, v)) s
      ON t.k = s.j
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.j, s.v)
    """)
    assert(spark.sql("SELECT k, v FROM g.gold.keyc ORDER BY k")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "A"), (2L, "b"), (3L, "c")))
    assert(spark.table("g.gold.keyc").count() === 3)
  }

  test("dotted TVF idents bootstrap NOT-YET-COMMITTED catalog tables " +
      "under the catalog root, never a relative path") {
    val tvf = spark.sql("SELECT * FROM snapshot_merge_into(" +
      "'g.gold.boot', 'SELECT 1L AS k, ''a'' AS v', 'k')")
    tvf.collect()
    assert(SnapshotLog.versions(spark, s"$root/gold/boot").nonEmpty,
      "bootstrap must land under the catalog root")
    assert(!new java.io.File("g.gold.boot").exists(),
      "bootstrap must never create a relative-path table")
    assert(spark.sql("SELECT v FROM g.gold.boot").as[String]
      .head() === "a")
  }

  test("non-path TVF string arguments are NEVER catalog-resolved: a " +
      "dotted partition VALUE stays a value") {
    spark.sql("CREATE TABLE g.gold.hosts (host STRING, k BIGINT) " +
      "PARTITIONED BY (host)")
    // the value's first dot-segment ('g') names a registered catalog —
    // it must still probe as the literal string, not rewrite to a path
    spark.sql(
      "INSERT INTO g.gold.hosts VALUES ('g.example.com', 1), ('other', 2)")
    val got = spark.sql("SELECT k FROM snapshot_partition(" +
      "'g.gold.hosts', 'host', 'g.example.com')")
    assert(got.as[Long].collect().toSeq === Seq(1L),
      "dotted partition value was mangled by catalog resolution")
  }

  test("INSERT INTO ... REPLACE WHERE: atomic region reload with a " +
      "loud outside-the-region guard") {
    spark.sql("CREATE TABLE g.gold.rw (day STRING, k BIGINT)")
    spark.sql(
      "INSERT INTO g.gold.rw VALUES ('d1',1),('d1',2),('d2',3)")
    val dir = s"$root/gold/rw"
    val before = SnapshotLog.versions(spark, dir).last
    spark.sql(
      "INSERT INTO g.gold.rw REPLACE WHERE day = 'd1' VALUES ('d1', 10)")
    assert(SnapshotLog.versions(spark, dir).last === before + 1,
      "REPLACE WHERE must be ONE atomic commit")
    assert(spark.sql("SELECT day, k FROM g.gold.rw ORDER BY k")
      .as[(String, Long)].collect().toSeq ===
      Seq(("d2", 3L), ("d1", 10L)))
    // contract guard: a row outside the region refuses the statement
    val e = intercept[Exception] {
      spark.sql(
        "INSERT INTO g.gold.rw REPLACE WHERE day = 'd1' VALUES ('d2', 9)")
    }
    assert(e.getMessage.contains("do NOT match") ||
      (e.getCause != null && e.getCause.getMessage.contains("do NOT match")),
      s"outside-region rows not refused: ${e.getMessage}")
    assert(spark.table("g.gold.rw").count() === 2,
      "a refused REPLACE WHERE must not half-land")
    // pre-replace history intact
    assert(spark.sql(
      s"SELECT k FROM g.gold.rw VERSION AS OF $before ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
  }

  test("dynamic partition overwrite replaces ONLY the partitions the " +
      "data touches — manifest surgery, untouched files carried") {
    spark.sql("CREATE TABLE g.gold.dyn (region STRING, k BIGINT) " +
      "PARTITIONED BY (region)")
    spark.sql(
      "INSERT INTO g.gold.dyn VALUES ('eu',1),('us',2),('ap',3)")
    val dir = s"$root/gold/dyn"
    val before = SnapshotLog.versions(spark, dir).last
    val filesBefore = SnapshotLog.filePartsOf(spark, dir, before)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(
      "INSERT OVERWRITE g.gold.dyn VALUES ('eu', 10), ('eu', 11)")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val after = SnapshotLog.versions(spark, dir).last
    assert(after === before + 1, "dynamic overwrite must be ONE commit")
    assert(spark.sql("SELECT region, k FROM g.gold.dyn ORDER BY k")
      .as[(String, Long)].collect().toSeq ===
      Seq(("us", 2L), ("ap", 3L), ("eu", 10L), ("eu", 11L)))
    // untouched partitions' files carried BY REFERENCE (no rewrite)
    val filesAfter = SnapshotLog.filePartsOf(spark, dir, after)
    val untouchedBefore = filesBefore.collect {
      case (p, t) if t("region") != "eu" => p }.toSet
    assert(untouchedBefore.subsetOf(filesAfter.keySet),
      "dynamic overwrite rewrote partitions the data never touched")
    // the declared layout survives and still prunes
    assert(SnapshotLog.partitionColsOf(spark, dir, after) === Seq("region"))
    // the DataFrame API route plans the same verb
    Seq(("us", 20L)).toDF("region", "k")
      .writeTo("g.gold.dyn").overwritePartitions()
    assert(spark.sql("SELECT region, k FROM g.gold.dyn ORDER BY k")
      .as[(String, Long)].collect().toSeq ===
      Seq(("ap", 3L), ("eu", 10L), ("eu", 11L), ("us", 20L)))
    // a STATIC partition spec routes through REPLACE WHERE: only that
    // partition replaced
    spark.sql(
      "INSERT OVERWRITE g.gold.dyn PARTITION (region = 'ap') VALUES (30)")
    assert(spark.sql("SELECT region, k FROM g.gold.dyn ORDER BY k")
      .as[(String, Long)].collect().toSeq ===
      Seq(("eu", 10L), ("eu", 11L), ("us", 20L), ("ap", 30L)))
    // static mode without a spec still replaces the WHOLE table
    spark.sql("INSERT OVERWRITE g.gold.dyn VALUES ('eu', 99)")
    assert(spark.table("g.gold.dyn").count() === 1)
  }

  test("concurrent SQL MERGEs on disjoint keys both land: the verb's " +
      "claim/rebase holds through the DML translation") {
    spark.sql("CREATE TABLE g.gold.mconc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.mconc VALUES (1,'a'),(2,'b')")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = Seq(
      (1L, "A1", 11L), (2L, "B2", 12L)).map { case (mk, mv, nk) =>
      Future {
        spark.sql(s"""
          MERGE INTO g.gold.mconc t
          USING (SELECT * FROM VALUES ($mk, '$mv'), ($nk, 'n$nk')
                 AS s(k, v)) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
        """)
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // no lost update: both merges' post-images and inserts present
    assert(spark.sql("SELECT k, v FROM g.gold.mconc ORDER BY k")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "A1"), (2L, "B2"), (11L, "n11"), (12L, "n12")))
  }

  test("snapshot_vacuum TVF: SQL retention, EXPLAIN never reclaims") {
    spark.sql("CREATE TABLE g.gold.vac (k BIGINT)")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO g.gold.vac VALUES ($i)"))
    val dir = s"$root/gold/vac"
    assert(SnapshotLog.versions(spark, dir) === (1L to 5L))
    // EXPLAIN resolves the TVF without reclaiming anything
    spark.sql("EXPLAIN SELECT * FROM snapshot_vacuum('g.gold.vac', 2)")
      .collect()
    assert(SnapshotLog.versions(spark, dir) === (1L to 5L),
      "EXPLAIN of snapshot_vacuum reclaimed history")
    val report = spark.sql(
      "SELECT * FROM snapshot_vacuum('g.gold.vac', 2)")
      .as[(String, String, Long)].head()
    assert(report._1 === "vacuum" && report._3 === 4L,
      s"expected history floor 4, got $report")
    assert(SnapshotLog.versions(spark, dir) === Seq(4L, 5L))
    // a min-age guard keeps young versions beyond keepLast
    val r2 = spark.sql(
      "SELECT version FROM snapshot_vacuum('g.gold.vac', 1, 1000)")
      .as[Long].head()
    assert(r2 === 4L && SnapshotLog.versions(spark, dir) === Seq(4L, 5L),
      "minAgeHours did not protect young versions")
  }

  test("DELETE FROM prunes rows through the copy-on-write verb; " +
      "truncate empties") {
    spark.sql("CREATE TABLE g.gold.del (k BIGINT, tag STRING)")
    spark.sql("INSERT INTO g.gold.del VALUES (1,'keep'), (2,'drop'), " +
      "(3,'drop'), (4,'keep')")
    spark.sql("DELETE FROM g.gold.del WHERE tag = 'drop' AND k > 2")
    assert(spark.sql("SELECT k FROM g.gold.del ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 2L, 4L))
    spark.sql("DELETE FROM g.gold.del WHERE k IN (1, 4)")
    assert(spark.sql("SELECT k FROM g.gold.del").as[Long].collect()
      .toSeq === Seq(2L))
    // versions stack: every DELETE is one atomic commit, history intact
    val dir = s"$root/gold/del"
    assert(spark.sql("SELECT * FROM g.gold.del VERSION AS OF 2")
      .count() === 4)
    spark.sql("DELETE FROM g.gold.del") // no WHERE -> truncateTable
    assert(spark.table("g.gold.del").count() === 0)
    assert(SnapshotLog.versions(spark, dir).size >= 5)
  }

  test("catalog tables stream: the table written by SQL feeds " +
      "readStream") {
    spark.sql("CREATE TABLE g.gold.feed (k BIGINT)")
    spark.sql("INSERT INTO g.gold.feed VALUES (1), (2)")
    val out = Files.createTempDirectory("catstream")
    val q = spark.readStream.format("graft-snapshot")
      .option("path", s"$root/gold/feed").load()
      .writeStream.format("memory").queryName("cat_feed")
      .option("checkpointLocation", out.toString + "/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("cat_feed").count() === 2)
    // the IDENT route too: readStream.table resolves through the catalog
    val q2 = spark.readStream.table("g.gold.feed")
      .writeStream.format("memory").queryName("cat_feed_ident")
      .option("checkpointLocation", out.toString + "/cp2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(spark.table("cat_feed_ident").count() === 2)
  }

  test("SQL UPDATE plans onto updateWhere: one version, self-referencing " +
      "SET, time travel intact") {
    spark.sql("CREATE TABLE g.gold.upd (k BIGINT, v STRING, n BIGINT)")
    spark.sql(
      "INSERT INTO g.gold.upd VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    val dir = s"$root/gold/upd"
    val before = SnapshotLog.versions(spark, dir).last
    spark.sql("UPDATE g.gold.upd SET n = n + 100, v = upper(v) WHERE k >= 2")
    assert(SnapshotLog.versions(spark, dir).last === before + 1,
      "UPDATE must commit exactly one version")
    assert(spark.sql("SELECT k, v, n FROM g.gold.upd ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "B", 120L), (3L, "C", 130L)))
    // library-verb parity on a twin table
    spark.sql("CREATE TABLE g.gold.updtwin (k BIGINT, v STRING, n BIGINT)")
    spark.sql(
      "INSERT INTO g.gold.updtwin VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    SnapshotLog.updateWhere(spark, s"$root/gold/updtwin", col("k") >= 2,
      Map("n" -> (col("n") + 100),
        "v" -> org.apache.spark.sql.functions.upper(col("v"))))
    assert(spark.table("g.gold.upd").orderBy("k").collect().toSeq ===
      spark.table("g.gold.updtwin").orderBy("k").collect().toSeq)
    // the pre-image survives as history
    assert(spark.sql(
      s"SELECT n FROM g.gold.upd VERSION AS OF $before ORDER BY n")
      .as[Long].collect().toSeq === Seq(10L, 20L, 30L))
    // unconditional UPDATE hits every row
    spark.sql("UPDATE g.gold.upd SET n = 0")
    assert(spark.sql("SELECT sum(n) FROM g.gold.upd").as[Long].head() === 0L)
    // a time-traveled relation stays read-only
    val e = intercept[Exception] {
      spark.sql("UPDATE g.gold.upd VERSION AS OF 2 SET n = 1")
    }
    assert(e.getMessage != null)
  }

  test("SQL MERGE INTO: CDC-shaped matched update + delete + not-matched " +
      "insert commits ONE version with library-verb parity") {
    spark.sql("CREATE TABLE g.gold.mrg (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.mrg VALUES (1,'a'),(2,'b'),(3,'c')")
    val dir = s"$root/gold/mrg"
    val before = SnapshotLog.versions(spark, dir).last
    spark.sql("""
      MERGE INTO g.gold.mrg t
      USING (SELECT * FROM VALUES
               (2, 'B', 'U'), (3, CAST(NULL AS STRING), 'D'), (4, 'd', 'U')
             AS s(k, v, op)) s
      ON t.k = s.k
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
    """)
    assert(SnapshotLog.versions(spark, dir).last === before + 1,
      "MERGE must commit exactly one version")
    assert(spark.sql("SELECT k, v FROM g.gold.mrg ORDER BY k")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (4L, "d")))
    // parity with the library verb fed the same change set
    spark.sql("CREATE TABLE g.gold.mrgtwin (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.mrgtwin VALUES (1,'a'),(2,'b'),(3,'c')")
    val changes = Seq((2L, Option("B"), "U"), (3L, Option.empty[String], "D"),
      (4L, Option("d"), "U")).toDF("k", "v", "op")
    SnapshotLog.merge(spark, s"$root/gold/mrgtwin", changes, Seq("k"),
      deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
    assert(spark.table("g.gold.mrg").orderBy("k").collect().toSeq ===
      spark.table("g.gold.mrgtwin").orderBy("k").collect().toSeq)
    // pre-merge state is still time-travelable
    assert(spark.sql(
      s"SELECT v FROM g.gold.mrg VERSION AS OF $before ORDER BY v")
      .as[String].collect().toSeq === Seq("a", "b", "c"))
  }

  test("SQL MERGE star actions: UPDATE SET * / INSERT * (the CDC " +
      "apply-changes shape)") {
    spark.sql("CREATE TABLE g.gold.star (k BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO g.gold.star VALUES (1,'a',1),(2,'b',2)")
    spark.sql("""
      MERGE INTO g.gold.star t
      USING (SELECT * FROM VALUES (2, 'B', 20), (3, 'c', 30)
             AS s(k, v, n)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    assert(spark.sql("SELECT k, v, n FROM g.gold.star ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 1L), (2L, "B", 20L), (3L, "c", 30L)))
  }

  test("SQL MERGE fast path: pure upsert compiles to a source-only " +
      "change set (no target join); EXPLAIN never commits") {
    spark.sql("CREATE TABLE g.gold.fast (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.fast VALUES (1,'a'),(2,'b')")
    val dir = s"$root/gold/fast"
    val upsert = """
      MERGE INTO g.gold.fast t
      USING (SELECT * FROM VALUES (2,'B'), (3,'c') AS s(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """
    val before = SnapshotLog.versions(spark, dir).last
    val plan = spark.sql(s"EXPLAIN $upsert").collect()(0).getString(0)
    assert(plan.contains("GraftMergeCommand"), s"unexpected plan:\n$plan")
    assert(!plan.contains("Join"),
      s"pure upsert must not join the target in its change set:\n$plan")
    assert(SnapshotLog.versions(spark, dir).last === before,
      "EXPLAIN MERGE must not commit")
    // conditional clauses keep the exact general path (change-set joins)
    val general = spark.sql("""
      EXPLAIN
      MERGE INTO g.gold.fast t
      USING (SELECT * FROM VALUES (2,'B','U') AS s(k, v, op)) s
      ON t.k = s.k
      WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v
    """).collect()(0).getString(0)
    assert(general.contains("Join"),
      s"conditional merge must use the general change-set path:\n$general")
    // and the fast path is CORRECT
    spark.sql(upsert)
    assert(spark.sql("SELECT k, v FROM g.gold.fast ORDER BY k")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(SnapshotLog.versions(spark, dir).last === before + 1)
  }

  test("SQL MERGE semantics: target-referencing SET, unmatched-by-any-" +
      "clause rows untouched, NOT MATCHED BY SOURCE, loud guards") {
    spark.sql("CREATE TABLE g.gold.mrg2 (k BIGINT, v STRING, n BIGINT)")
    spark.sql(
      "INSERT INTO g.gold.mrg2 VALUES (1,'a',1),(2,'b',2),(3,'c',3)")
    // matched-but-no-clause rows (op='X') must stay untouched; UPDATE may
    // reference BOTH sides (t.n + s.delta); partial SET keeps other cols
    spark.sql("""
      MERGE INTO g.gold.mrg2 t
      USING (SELECT * FROM VALUES (1, 10, 'U'), (2, 20, 'X')
             AS s(k, delta, op)) s
      ON t.k = s.k
      WHEN MATCHED AND s.op = 'U' THEN UPDATE SET n = t.n + s.delta
    """)
    assert(spark.sql("SELECT k, v, n FROM g.gold.mrg2 ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 11L), (2L, "b", 2L), (3L, "c", 3L)))
    // NOT MATCHED BY SOURCE deletes target rows the source doesn't carry
    spark.sql("""
      MERGE INTO g.gold.mrg2 t
      USING (SELECT * FROM VALUES (1), (2) AS s(k)) s
      ON t.k = s.k
      WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    assert(spark.sql("SELECT k FROM g.gold.mrg2 ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    // duplicate source keys = ambiguous merge -> the verb's guard
    // surfaces as a SQL error, never a silent double-apply
    val dup = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.mrg2 t
        USING (SELECT * FROM VALUES (1, 'x'), (1, 'y') AS s(k, v)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
      """)
    }
    assert(dup.getMessage.toLowerCase.contains("duplicate"),
      s"expected the duplicate-key guard, got: ${dup.getMessage}")
    // non-equality ON is refused loudly, not mistranslated
    val rng = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.mrg2 t
        USING (SELECT * FROM VALUES (1, 'x') AS s(k, v)) s
        ON t.k >= s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
      """)
    }
    assert(rng.getMessage.contains("equalit"),
      s"expected the equality-ON refusal, got: ${rng.getMessage}")
  }

  test("v2 streaming write: 14 column types read back equal by batch and stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE g.gold.enc (k BIGINT, i INT, s SMALLINT, " +
      "b TINYINT, f FLOAT, x DOUBLE, bo BOOLEAN, v STRING, d DATE, " +
      "ts TIMESTAMP, m9 DECIMAL(9,2), m18 DECIMAL(18,4), " +
      "m28 DECIMAL(28,2), e ARRAY<FLOAT>)")
    val ckpt = Files.createTempDirectory("enc").toString
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = ms.toDF().toDF("k").selectExpr("k",
      "CAST(k AS INT) AS i", "CAST(k % 100 AS SMALLINT) AS s",
      "CAST(k % 100 AS TINYINT) AS b", "CAST(k AS FLOAT) AS f",
      "k / 7 AS x", "k % 2 = 0 AS bo", "concat('v', k) AS v",
      "date_add(DATE'2024-01-01', CAST(k % 1000 AS INT)) AS d",
      "timestamp_micros(k * 1000 + 123) AS ts",
      "CAST(CAST(k AS DECIMAL(9,2)) / 3 AS DECIMAL(9,2)) AS m9",
      "CAST(CAST(k AS DECIMAL(18,4)) / 7 AS DECIMAL(18,4)) AS m18",
      "CAST(CAST(k AS DECIMAL(28,2)) / 3 AS DECIMAL(28,2)) AS m28",
      "CASE WHEN k % 10 = 0 THEN NULL ELSE " +
        "array(CAST(k AS FLOAT), NULL, CAST(-k AS FLOAT)) END AS e")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("g.gold.enc")
    try { ms.addData(0L until 2000L: _*); q.processAllAvailable() }
    finally q.stop()
    val batch = SnapshotLog.read(spark, s"$root/gold/enc")
    val s2 = spark.readStream.table("g.gold.enc").writeStream
      .format("memory").queryName("enc_stream")
      .option("checkpointLocation", s"$ckpt/read")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try s2.awaitTermination(120000) finally s2.stop()
    val streamed = spark.table("enc_stream")
    assert(batch.count() === 2000L && streamed.count() === 2000L)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "the stream read diverged from the batch read")
    // the written values themselves, not only the two reads' agreement
    val r = batch.filter("k = 7").head()
    assert(r.getInt(1) === 7 && r.getString(7) === "v7" &&
      r.getDecimal(10) === new java.math.BigDecimal("2.33") &&
      r.getSeq[java.lang.Float](13) === Seq(7.0f, null, -7.0f))
  }

  test("mixed-change ALTER is atomic: one statement = one version, " +
      "all-or-nothing on failure (round 12)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    spark.sql("CREATE TABLE g.gold.mixalter (k BIGINT)")
    spark.sql("INSERT INTO g.gold.mixalter VALUES (1), (2)")
    val dir = s"$root/gold/mixalter"
    val cat = spark.sessionState.catalogManager.catalog("g")
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("gold"), "mixalter")
    val before = SnapshotLog.versions(spark, dir).last
    // AddColumn + AddConstraint in ONE change set (only reachable
    // programmatically — SQL parses one kind per statement): exactly
    // one new version carrying BOTH changes. The CHECK references the
    // column added by the same statement — existing rows read it as
    // NULL, which passes by SQL three-valued logic.
    cat.alterTable(ident,
      TableChange.addColumn(Array("score"), org.apache.spark.sql.types
        .LongType),
      TableChange.addConstraint(
        Constraint.check("score_pos").predicateSql("score > 0")
          .enforced(true).build(), null))
    assert(SnapshotLog.versions(spark, dir).last === before + 1,
      "a mixed ALTER must land as exactly ONE version")
    val v = SnapshotLog.versions(spark, dir).last
    assert(SnapshotLog.schemaOf(spark, dir, v).get.fieldNames
      .contains("score"))
    assert(SnapshotLog.checksOf(spark, dir, v)
      === Seq("score_pos" -> "score > 0"))
    // all-or-nothing: a failing piece (constraint violated by existing
    // data) applies NOTHING — no version, no column, no constraint
    val bad = intercept[Exception] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("extra"),
          org.apache.spark.sql.types.LongType),
        TableChange.addConstraint(
          Constraint.check("k_big").predicateSql("k > 100")
            .enforced(true).build(), null))
    }
    assert(bad.getMessage.toLowerCase.contains("check"),
      s"expected the CHECK validation failure, got: ${bad.getMessage}")
    val after = SnapshotLog.versions(spark, dir).last
    assert(after === v, "a failing mixed ALTER committed a version")
    assert(!SnapshotLog.schemaOf(spark, dir, after).get.fieldNames
      .contains("extra"),
      "a failing mixed ALTER left its column applied")
    assert(!SnapshotLog.checksOf(spark, dir, after).exists(_._1 == "k_big"),
      "a failing mixed ALTER left its constraint applied")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target; old rows read " +
      "typed NULLs, CHECKs preserved; non-evolving MERGE refuses " +
      "unknown columns (round 12)") {
    spark.sql("CREATE TABLE g.gold.mevo (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO g.gold.mevo VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE g.gold.mevo ADD CONSTRAINT vpos CHECK (v > 0)")
    val dir = s"$root/gold/mevo"
    // non-evolving MERGE naming an unknown column refuses loudly
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.mevo t
        USING (SELECT * FROM VALUES (3L, 30L, 'x') AS s(k, v, tag)) s
        ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)
      """)
    }
    assert(e.getMessage != null)
    assert(!SnapshotLog.schemaOf(spark, dir,
      SnapshotLog.versions(spark, dir).last).get.fieldNames.contains("tag"),
      "a refused MERGE must not evolve the schema")
    // WITH SCHEMA EVOLUTION: source-only column widens the target
    // (Spark's AUTOMATIC_SCHEMA_EVOLUTION contract: one alterCommit
    // metadata version, then the merge's own data commit)
    spark.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO g.gold.mevo t
      USING (SELECT * FROM VALUES (2L, 21L, 'new2'), (3L, 30L, 'new3')
             AS s(k, v, tag)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    val got = spark.sql(
      "SELECT k, v, tag FROM g.gold.mevo ORDER BY k").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(got.map(_.getLong(1)).toSeq === Seq(10L, 21L, 30L))
    // the pre-evolution row reads the added column as a typed NULL
    assert(got(0).isNullAt(2), "old rows must read the new column as NULL")
    assert(got(1).getString(2) === "new2" && got(2).getString(2) === "new3")
    val v = SnapshotLog.versions(spark, dir).last
    assert(SnapshotLog.checksOf(spark, dir, v)
      === Seq("vpos" -> "v > 0"), "evolution dropped the CHECKs")
    assert(SnapshotLog.schemaOf(spark, dir, v).get("tag").dataType
      === org.apache.spark.sql.types.StringType)
  }

  test("SQL MERGE inserts NULL-keyed not-matched rows (standard SQL: " +
      "NULL matches nothing); NULL keys on other legs still refuse " +
      "(round 12)") {
    spark.sql("CREATE TABLE g.gold.nullk (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.nullk VALUES (1, 'a')")
    // a CDC batch carrying NULL-keyed rows: both are plain inserts
    spark.sql("""
      MERGE INTO g.gold.nullk t
      USING (SELECT * FROM VALUES (1L, 'a2'), (CAST(NULL AS BIGINT), 'n1'),
             (CAST(NULL AS BIGINT), 'n2') AS s(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    val rows = spark.sql("SELECT k, v FROM g.gold.nullk ORDER BY v")
      .collect()
    assert(rows.length === 3)
    assert(rows.map(_.getString(1)).toSeq === Seq("a2", "n1", "n2"))
    assert(rows.count(_.isNullAt(0)) === 2,
      "both NULL-keyed source rows must insert (SQL semantics)")
    // the guard still protects legs where a NULL key is ambiguous:
    // NOT MATCHED BY SOURCE UPDATE would address NULL-keyed target rows
    // by a key that matches nothing
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO g.gold.nullk t
        USING (SELECT * FROM VALUES (1L, 'x') AS s(k, v)) s
        ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'
      """)
    }
    assert(e.getMessage.contains("NULL"),
      s"expected the NULL-key guard, got: ${e.getMessage}")
  }

  test("UPDATE / DELETE / MERGE with UNCORRELATED subqueries compile " +
      "onto the library verbs; correlated refused loudly (round 12)") {
    spark.sql("CREATE TABLE g.gold.subq (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO g.gold.subq " +
      "SELECT id, id * 10 FROM range(10)")
    spark.sql("CREATE TABLE g.gold.subref (k BIGINT)")
    spark.sql("INSERT INTO g.gold.subref VALUES (2), (3), (7)")
    val dir = s"$root/gold/subq"
    val v0 = SnapshotLog.versions(spark, dir).last
    // UPDATE ... WHERE k IN (subquery over ANOTHER catalog table)
    spark.sql("UPDATE g.gold.subq SET v = v + 1000 " +
      "WHERE k IN (SELECT k FROM g.gold.subref)")
    assert(SnapshotLog.versions(spark, dir).last === v0 + 1,
      "subquery UPDATE must commit exactly one version")
    assert(spark.sql("SELECT sum(v) FROM g.gold.subq WHERE v >= 1000")
      .as[Long].head() === (2L * 10 + 3 * 10 + 7 * 10) + 3000L)
    // EXPLAIN never commits
    spark.sql("EXPLAIN UPDATE g.gold.subq SET v = 0 " +
      "WHERE k IN (SELECT k FROM g.gold.subref)").collect()
    assert(SnapshotLog.versions(spark, dir).last === v0 + 1)
    // DELETE with a subquery condition routes through the library verb
    // (Spark's SupportsDelete path refuses subqueries outright)
    spark.sql("DELETE FROM g.gold.subq " +
      "WHERE k IN (SELECT k FROM g.gold.subref WHERE k > 2)")
    assert(spark.sql("SELECT k FROM g.gold.subq ORDER BY k")
      .as[Long].collect().toSeq ===
      Seq(0L, 1L, 2L, 4L, 5L, 6L, 8L, 9L))
    assert(SnapshotLog.versions(spark, dir).last === v0 + 2)
    // MERGE: scalar subquery in a WHEN condition. Remaining rows are
    // (0,0),(1,10),(2,1020),(4,40),(5,50),(6,60),(8,80),(9,90) —
    // avg(v) = 168.75, so of the two matched keys only k=2 clears it.
    spark.sql("""
      MERGE INTO g.gold.subq t
      USING (SELECT * FROM VALUES (2L, 1L), (9L, 2L) AS s(k, nv)) s
      ON t.k = s.k
      WHEN MATCHED AND t.v >= (SELECT avg(v) FROM g.gold.subq)
        THEN UPDATE SET v = s.nv
    """)
    assert(spark.sql("SELECT v FROM g.gold.subq WHERE k = 2")
      .as[Long].head() === 1L)
    assert(spark.sql("SELECT v FROM g.gold.subq WHERE k = 9")
      .as[Long].head() === 90L)
    // CORRELATED subqueries are refused loudly, never mis-resolved
    val corr = intercept[Exception] {
      spark.sql("UPDATE g.gold.subq SET v = 0 WHERE EXISTS " +
        "(SELECT 1 FROM g.gold.subref r WHERE r.k = g.gold.subq.k)")
    }
    assert(corr.getMessage.contains("CORRELATED"),
      s"expected the correlated refusal, got: ${corr.getMessage}")
  }

  test("column DEFAULT values: CREATE TABLE defaults fill omitted " +
      "INSERT columns and the DEFAULT keyword") {
    spark.sql("CREATE TABLE g.gold.defc " +
      "(k BIGINT, v STRING DEFAULT 'none', n INT DEFAULT 7)")
    // omitted columns evaluate CURRENT_DEFAULT at insert
    spark.sql("INSERT INTO g.gold.defc (k) VALUES (1)")
    // the explicit DEFAULT keyword does too
    spark.sql("INSERT INTO g.gold.defc VALUES (2, DEFAULT, 9)")
    spark.sql("INSERT INTO g.gold.defc VALUES (3, 'x', DEFAULT)")
    val rows = spark.sql(
      "SELECT k, v, n FROM g.gold.defc ORDER BY k")
      .as[(Long, String, Int)].collect().toSeq
    assert(rows === Seq((1L, "none", 7), (2L, "none", 9), (3L, "x", 7)))
  }

  test("ADD COLUMN ... DEFAULT backfills old rows from the FROZEN " +
      "exists-default; SET/DROP DEFAULT re-point future inserts only") {
    spark.sql("CREATE TABLE g.gold.defa (k BIGINT, v STRING)")
    val dir = s"$root/gold/defa"
    spark.sql("INSERT INTO g.gold.defa VALUES (1, 'a'), (2, 'b')")
    val preAlter = SnapshotLog.versions(spark, dir).last
    // metadata-only widening: old files lack the column, reads fill
    // the frozen default — both the vectorized batch path and rewrites
    spark.sql("ALTER TABLE g.gold.defa ADD COLUMN score INT DEFAULT 42")
    assert(SnapshotLog.versions(spark, dir).last === preAlter + 1,
      "ADD COLUMN DEFAULT must be one metadata-only commit")
    assert(spark.sql("SELECT score FROM g.gold.defa WHERE k = 1")
      .as[Int].head() === 42)
    // future inserts omitting the column evaluate CURRENT_DEFAULT
    spark.sql("INSERT INTO g.gold.defa (k, v) VALUES (3, 'c')")
    assert(spark.sql("SELECT score FROM g.gold.defa WHERE k = 3")
      .as[Int].head() === 42)
    // SET DEFAULT: future inserts change; rows already on disk keep
    // reading the EXISTS_DEFAULT frozen at ADD COLUMN time
    spark.sql(
      "ALTER TABLE g.gold.defa ALTER COLUMN score SET DEFAULT 7")
    spark.sql("INSERT INTO g.gold.defa (k, v) VALUES (4, 'd')")
    assert(spark.sql("SELECT score FROM g.gold.defa WHERE k = 4")
      .as[Int].head() === 7)
    assert(spark.sql("SELECT score FROM g.gold.defa WHERE k = 1")
      .as[Int].head() === 42,
      "SET DEFAULT must not rewrite what pre-existing rows read")
    // DROP DEFAULT: inserts fill NULL again; old rows untouched
    spark.sql(
      "ALTER TABLE g.gold.defa ALTER COLUMN score DROP DEFAULT")
    spark.sql("INSERT INTO g.gold.defa (k, v) VALUES (5, 'e')")
    assert(spark.sql("SELECT score FROM g.gold.defa WHERE k = 5")
      .head().isNullAt(0))
    assert(spark.sql("SELECT score FROM g.gold.defa WHERE k = 1")
      .as[Int].head() === 42)
    // time travel: the pre-ALTER version has no such column at all
    assert(!spark.sql(
      s"SELECT * FROM g.gold.defa VERSION AS OF $preAlter")
      .columns.contains("score"))
    // a copy-on-write rewrite of an old file MATERIALIZES the frozen
    // default for its rows (the scan fill feeds the rewrite)
    spark.sql("UPDATE g.gold.defa SET v = 'A' WHERE k = 1")
    assert(spark.sql("SELECT score, v FROM g.gold.defa WHERE k = 1")
      .as[(Int, String)].head() === ((42, "A")))
  }

  test("non-constant DEFAULT expressions are refused loudly") {
    spark.sql("CREATE TABLE g.gold.defr (k BIGINT, v BIGINT)")
    val bad = intercept[Exception] {
      spark.sql(
        "ALTER TABLE g.gold.defr ADD COLUMN x BIGINT DEFAULT k + 1")
    }
    assert(bad.getMessage.toLowerCase.contains("default"),
      s"expected a loud DEFAULT refusal, got: ${bad.getMessage}")
    // constant EXPRESSIONS (not just literals) fold fine
    spark.sql(
      "ALTER TABLE g.gold.defr ADD COLUMN y BIGINT DEFAULT 6 * 7")
    spark.sql("INSERT INTO g.gold.defr (k, v) VALUES (1, 1)")
    assert(spark.sql("SELECT y FROM g.gold.defr WHERE k = 1")
      .as[Long].head() === 42L)
  }

  test("DML honors defaults: MERGE INSERT omitting a defaulted column " +
      "fills it; UPDATE SET c = DEFAULT and VALUES(DEFAULT) resolve") {
    spark.sql("CREATE TABLE g.gold.defm " +
      "(k BIGINT, v STRING, n INT DEFAULT 5)")
    spark.sql("INSERT INTO g.gold.defm VALUES (1, 'a', 1)")
    // omitted insert column → CURRENT_DEFAULT (the SQL INSERT contract)
    spark.sql("MERGE INTO g.gold.defm t " +
      "USING (SELECT CAST(2 AS BIGINT) AS k, 'b' AS v) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    assert(spark.sql("SELECT n FROM g.gold.defm WHERE k = 2")
      .as[Int].head() === 5)
    // the explicit DEFAULT keyword resolves through the analyzer
    spark.sql("MERGE INTO g.gold.defm t " +
      "USING (SELECT CAST(3 AS BIGINT) AS k, 'c' AS v) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, DEFAULT)")
    assert(spark.sql("SELECT n FROM g.gold.defm WHERE k = 3")
      .as[Int].head() === 5)
    spark.sql("UPDATE g.gold.defm SET n = DEFAULT WHERE k = 1")
    assert(spark.sql("SELECT n FROM g.gold.defm WHERE k = 1")
      .as[Int].head() === 5)
  }

  test("the micro-batch stream fills file-missing columns from the " +
      "frozen default") {
    spark.sql("CREATE TABLE g.gold.defs (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.gold.defs VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE g.gold.defs ADD COLUMN tag STRING " +
      "DEFAULT 'legacy'")
    spark.sql("INSERT INTO g.gold.defs VALUES (3, 'c', 'fresh')")
    val out = Files.createTempDirectory("defstream").toString
    val q = spark.readStream.table("g.gold.defs").writeStream
      .format("memory").queryName("defs_stream")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.sql(
      "SELECT k, tag FROM defs_stream ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "legacy"), (2L, "legacy"), (3L, "fresh")),
      s"stream read must fill the frozen default; got $got")
  }

  test("MAP, STRUCT, BINARY and nested-ARRAY columns load, insert, " +
      "select and stream") {
    spark.sql("CREATE TABLE g.gold.nested (k BIGINT, m MAP<STRING, " +
      "BIGINT>, st STRUCT<a: INT, b: STRING>, bin BINARY, " +
      "aa ARRAY<ARRAY<DOUBLE>>)")
    spark.sql("INSERT INTO g.gold.nested VALUES (1, map('a', 1L), " +
      "named_struct('a', 1, 'b', 'x'), X'0102', " +
      "array(array(1.0D, 2.0D), CAST(array() AS ARRAY<DOUBLE>))), " +
      "(2, NULL, NULL, NULL, NULL)")
    val batch = spark.sql("SELECT * FROM g.gold.nested ORDER BY k")
      .collect().toSeq
    assert(batch.map(_.getLong(0)) === Seq(1L, 2L))
    val one = batch.head
    assert(one.getMap[String, Long](1) === Map("a" -> 1L))
    assert(one.getStruct(2).getInt(0) === 1 &&
      one.getStruct(2).getString(1) === "x")
    assert(one.getAs[Array[Byte]](3).toSeq === Seq[Byte](1, 2))
    assert(one.getSeq[Seq[Double]](4) === Seq(Seq(1.0, 2.0), Seq.empty))
    assert((1 to 4).forall(batch(1).isNullAt))
    val out = Files.createTempDirectory("nestedstream").toString
    val q = spark.readStream.table("g.gold.nested").writeStream
      .format("memory").queryName("nested_stream")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assert(spark.sql("SELECT * FROM nested_stream ORDER BY k")
      .collect().toSeq === batch)
  }

  test("COMMENT ON TABLE persists (DESCRIBE surfaces it, SHOW " +
      "TBLPROPERTIES hides it); IS NULL removes; other bookkeeping " +
      "keys stay filtered") {
    import graft.sources.SnapshotLog
    spark.sql("CREATE TABLE g.gold.propfilter (k BIGINT) " +
      "COMMENT 'born documented' TBLPROPERTIES ('team'='data')")
    val dir = s"$root/gold/propfilter"
    def props() = SnapshotLog.tablePropertiesOf(spark, dir,
      SnapshotLog.versions(spark, dir).last)
    // CREATE TABLE ... COMMENT lands in metadata, not lost
    assert(props().get("comment") === Some("born documented"))
    // COMMENT ON TABLE replaces it — a user-visible statement that must
    // persist, never silently no-op
    spark.sql("COMMENT ON TABLE g.gold.propfilter IS 'hello'")
    assert(props().get("comment") === Some("hello"))
    assert(props().get("team") === Some("data"))
    // DESCRIBE EXTENDED surfaces the comment (DSv2 reads it from the
    // table's properties under PROP_COMMENT)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED g.gold.propfilter")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("hello"), s"comment missing from DESCRIBE:\n$desc")
    // ...but SHOW TBLPROPERTIES hides it (Spark filters reserved keys)
    val shown = spark.sql("SHOW TBLPROPERTIES g.gold.propfilter")
      .collect().map(_.getString(0)).toSet
    assert(!shown.contains("comment"),
      s"reserved key leaked into SHOW TBLPROPERTIES: $shown")
    assert(shown.contains("team"))
    // COMMENT ... IS NULL removes it
    spark.sql("COMMENT ON TABLE g.gold.propfilter IS NULL")
    assert(!props().contains("comment"), s"IS NULL left: ${props()}")
    // plain SET TBLPROPERTIES still persists user keys
    spark.sql("ALTER TABLE g.gold.propfilter SET TBLPROPERTIES ('tier'='gold')")
    assert(props().get("tier") === Some("gold") &&
      props().get("team") === Some("data"))
  }
}
