package graft

import graft.cdc.{CdcConfig, CdcMerge}
import graft.streaming.CdcBucketed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-state CDC: correctness of the merge cycle AND the plan-level
  * guarantee the design exists for — no Exchange above the state-side
  * scan (SURVEY.md §4 "shuffle-free on the state side").
  */
class CdcBucketedSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcConfig(
    keyCols = Seq("o_orderkey"),
    valueCols = Seq("o_custkey", "o_orderstatus", "o_totalprice"))

  private def orders: DataFrame =
    Tables.orders(spark, Sf).select(cfg.allCols.map(col): _*)

  private def extract1: DataFrame = orders.filter(col("o_orderkey") % 10 =!= 0)
  private def extract2: DataFrame = orders.filter(col("o_orderkey") % 7 =!= 0)
    .withColumn("o_totalprice",
      when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
        .otherwise(col("o_totalprice")))

  test("bucketed state: only the incoming side shuffles") {
    CdcBucketed.writeState(extract1, cfg, "state_plan_test", buckets = 4)
    val classified = CdcBucketed.classifyAgainstState(
      spark, "state_plan_test", extract2, cfg)
    classified.count() // finalize AQE
    val plan = classified.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"expected exactly one shuffle (incoming side), got $exchanges:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"state scan is not bucket-aware:\n$plan")
  }

  test("merge: the feed join reads both generations bucketed, with no Exchange") {
    CdcBucketed.writeState(extract1, cfg, "state_feed_plan_test", buckets = 4)
    var plan = ""
    CdcBucketed.mergeIntoState(
      spark, "state_feed_plan_test", extract2, cfg, batchId = 1L, buckets = 4,
      persistFeed = { feed =>
        val done = feed.localCheckpoint(eager = true)
        plan = feed.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        done
      })
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"the old-vs-new join must not shuffle:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size === 2,
      s"both generations must be read bucket-aware:\n$plan")
    // the extract was written as the next generation, one file per bucket
    val loc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("state_feed_plan_test"))
      .location)
    assert(loc.list().count(_.startsWith("part-")) === 4)
  }

  test("orphaned _stage from a mid-swap crash is adopted on the next entry") {
    // simulate: writeState committed the stage, the process died between
    // DROP TABLE and ALTER TABLE RENAME — only the stage exists. External
    // locations, as in CdcStream's versioned layout (a managed rename
    // would also relocate files).
    val dir = java.nio.file.Files.createTempDirectory("crash_state").toString
    spark.sql("DROP TABLE IF EXISTS state_crash_test")
    CdcBucketed.writeState(extract1, cfg, "state_crash_test_stage", buckets = 4,
      location = Some(s"$dir/v7"))
    assert(!spark.catalog.tableExists("state_crash_test"))
    CdcBucketed.recoverStage(spark, "state_crash_test")
    assert(spark.catalog.tableExists("state_crash_test"))
    assert(!spark.catalog.tableExists("state_crash_test_stage"))
    // and the recovered table is fully usable as merge state
    val feed = CdcBucketed.mergeIntoState(
      spark, "state_crash_test", extract2, cfg, batchId = 8L, buckets = 4,
      nextLocation = Some(s"$dir/v8"))
    assert(feed.count() > 0)
  }

  test("bucketed merge cycle matches the unbucketed classify") {
    CdcBucketed.writeState(extract1, cfg, "state_merge_test", buckets = 4)
    val feed = CdcBucketed.mergeIntoState(
      spark, "state_merge_test", extract2, cfg, batchId = 1L, buckets = 4)

    val expected = CdcMerge.changeFeed(
      CdcMerge.classify(extract1, extract2, cfg, useXxhash64 = true), 1L)
    val a = feed.select("o_orderkey", CdcMerge.OpCol)
    val b = expected.select("o_orderkey", CdcMerge.OpCol)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)

    // the swapped-in state equals extract2
    val state = spark.table("state_merge_test")
      .select(cfg.allCols.map(col): _*)
    assert(state.exceptAll(extract2).count() === 0)
    assert(extract2.exceptAll(state).count() === 0)
  }
}
