package graft

import java.nio.file.Files

import graft.sources.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SnapshotBatchRead]] — batch SELECTs over snapshot/
  * catalog tables re-plan onto Spark's vectorized parquet file scan.
  * Pins: plan shape (a real FileScan, no v2 scan left), row parity vs
  * the table's own v2 scan under time travel / deletion vectors /
  * partition layouts, untouched DELETE FROM, and what the substitution
  * buys a wide catch-up read (columnar batches, pushed filters). */
class SnapshotBatchReadSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val root = Files.createTempDirectory("graftvec").toString
  spark.conf.set("spark.sql.catalog.gv", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gv.root", root)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS gv.ns")

  /** Run `body` with the substitution rule excluded, so batch reads
    * plan the table's own v2 scan. */
  private def groupScan[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.SnapshotBatchRead")
    try body
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("batch SELECT over a catalog table plans a columnar FileScan; " +
      "the kill switch restores the Group scan") {
    spark.sql("CREATE TABLE gv.ns.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gv.ns.t VALUES (1, 'a'), (2, 'b')")
    val vec = spark.table("gv.ns.t")
    assert(planOf(vec).contains("FileScan parquet"),
      s"expected a native FileScan, got:\n${planOf(vec)}")
    assert(!planOf(vec).contains("BatchScan"),
      "the v2 scan must be substituted away for batch reads")
    groupScan {
      val grp = spark.table("gv.ns.t")
      assert(planOf(grp).contains("BatchScan"),
        s"excluding the rule must restore the v2 scan, got:\n${planOf(grp)}")
      assert(vec.orderBy("k").collect().toSeq ===
        grp.orderBy("k").collect().toSeq)
    }
  }

  test("pushdown reaches the parquet scan: filter + projection in " +
      "PushedFilters/ReadSchema") {
    spark.sql("CREATE TABLE gv.ns.push (k BIGINT, v STRING, w DOUBLE)")
    spark.sql(
      "INSERT INTO gv.ns.push VALUES (1,'a',1.0),(2,'b',2.0),(3,'c',3.0)")
    val df = spark.table("gv.ns.push").filter($"k" > 1).select("v")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(k,1)"),
      s"filter not pushed to the parquet scan:\n$plan")
    assert(df.orderBy("v").as[String].collect().toSeq === Seq("b", "c"))
  }

  test("parity under time travel, MoR deletion vectors and partition " +
      "layouts (vectorized == Group engine)") {
    // time travel
    spark.sql("CREATE TABLE gv.ns.tt (k BIGINT)")
    spark.sql("INSERT INTO gv.ns.tt VALUES (1)") // v2
    spark.sql("INSERT INTO gv.ns.tt VALUES (2)") // v3
    def v2 = spark.sql("SELECT * FROM gv.ns.tt VERSION AS OF 2")
    assert(planOf(v2).contains("FileScan parquet"))
    assert(v2.as[Long].collect().toSeq ===
      groupScan(v2.as[Long].collect().toSeq))
    assert(v2.count() === 1)

    // a version carrying a deletion vector: the anti-join must ride the
    // substituted scan too
    spark.sql("CREATE TABLE gv.ns.dv (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gv.ns.dv VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    SnapshotLog.deleteWhereMoR(spark, s"$root/ns/dv", col("k") % 2 === 0)
    val dv = spark.table("gv.ns.dv")
    assert(planOf(dv).contains("FileScan parquet"))
    assert(dv.orderBy("k").collect().toSeq ===
      groupScan(spark.table("gv.ns.dv").orderBy("k").collect().toSeq))
    assert(dv.as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      Seq(1L, 3L))

    // hive partition layout: values re-attach from the dirs
    spark.sql("CREATE TABLE gv.ns.pt (region STRING, k BIGINT) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO gv.ns.pt VALUES ('eu', 1), ('us', 2), ('eu', 3)")
    val pt = spark.table("gv.ns.pt").filter($"region" === "eu")
    assert(planOf(pt).contains("FileScan parquet"))
    assert(pt.select("k").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    assert(pt.orderBy("k").collect().toSeq ===
      groupScan(spark.table("gv.ns.pt").filter($"region" === "eu")
        .orderBy("k").collect().toSeq))
  }

  test("real file-size statistics: a small catalog table broadcast-joins " +
      "(the v2 scan's unknown stats forced shuffle)") {
    spark.sql("CREATE TABLE gv.ns.dim (k BIGINT, name STRING)")
    spark.sql("INSERT INTO gv.ns.dim VALUES (1,'one'),(2,'two'),(3,'three')")
    val fact = spark.range(50000).select(
      (col("id") % 3 + 1).as("k"), col("id").as("x"))
    val joined = fact.join(spark.table("gv.ns.dim"), "k")
    assert(planOf(joined).contains("BroadcastHashJoin"),
      s"small catalog table not broadcast:\n${planOf(joined)}")
    assert(joined.count() === 50000)
  }

  test("declared-empty tables and DELETE FROM keep the v2 path intact") {
    spark.sql("CREATE TABLE gv.ns.empty (k BIGINT)")
    assert(spark.table("gv.ns.empty").count() === 0) // no files -> v2 scan
    spark.sql("CREATE TABLE gv.ns.del (k BIGINT)")
    spark.sql("INSERT INTO gv.ns.del VALUES (1), (2), (3)")
    spark.sql("DELETE FROM gv.ns.del WHERE k = 2") // SupportsDelete path
    assert(spark.table("gv.ns.del").orderBy("k").as[Long].collect()
      .toSeq === Seq(1L, 3L))
  }

  test("wide-table catch-up read: the substitution scans columnar batches " +
      "with pushed filters where the v2 scan reads rows") {
    val nums = (1 to 12).map(i => (rand(seed = i) * 1000).cast("double")
      .as(s"c$i"))
    val strs = (1 to 8).map(i =>
      concat(lit(s"payload-$i-"), (col("id") % 9973).cast("string"))
        .as(s"s$i"))
    spark.range(6000000).select((col("id") +: (nums ++ strs)): _*)
      .write.parquet(s"$root/ns/widesrc")
    spark.sql("CREATE TABLE gv.ns.wide AS SELECT * FROM " +
      s"parquet.`$root/ns/widesrc`")
    def sumAll(): Double = spark.table("gv.ns.wide")
      .select(((1 to 12).map(i => sum(s"c$i")) ++
        (1 to 8).map(i => sum(length(col(s"s$i")).cast("double"))))
        .reduce(_ + _)).as[Double].head()
    // parity first (the aggregate reads every column)
    val expected = sumAll()
    assert(math.abs(groupScan(sumAll()) - expected) < 1e-3)
    // what the substitution buys a full-width catch-up drain, pinned on
    // the plan rather than on wall-clock: the file scan hands whole
    // columnar batches to the consumer and pushes filters into parquet
    // (row-group skipping); the table's own v2 scan yields one row at a
    // time and pushes nothing
    def drainPlan(): String = planOf(spark.table("gv.ns.wide"))
    def filteredPlan(): String =
      planOf(spark.table("gv.ns.wide").filter(col("id") < 1000))
    val vec = drainPlan()
    assert(vec.contains("ColumnarToRow") && vec.contains("Batched: true"),
      s"expected a columnar file scan, got:\n$vec")
    assert(filteredPlan().contains("PushedFilters: [IsNotNull(id), " +
      "LessThan(id,1000)]"), s"expected pushed filters, got:\n${filteredPlan()}")
    groupScan {
      val grp = drainPlan()
      assert(grp.contains("BatchScan") && !grp.contains("ColumnarToRow"),
        s"expected the row-based v2 scan, got:\n$grp")
      assert(!filteredPlan().contains("PushedFilters"),
        s"the v2 scan pushes no filters, got:\n${filteredPlan()}")
    }
  }
}
