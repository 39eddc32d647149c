package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Typed UDAF verification: the bounded top-k aggregators must agree
  * row-for-row with their window-function twins under any partitioning
  * (merge order varies across partitions). */
class FunctionsSpec extends AnyFunSuite with SparkFixture {

  test("TopKAgg reproduces the window top-k row-for-row, under any partitioning") {
    val windowRows = graft.ops.WindowOps.topkPerGroup.fn(spark, Sf).collect()
    val aggRows = graft.ops.ImplOps.topkGroupAgg.fn(spark, Sf).collect()
    assert(aggRows.map(_.toSeq).toSeq === windowRows.map(_.toSeq).toSeq)
    // merge path: a skewed repartition must not change the result
    val top3 = udaf(new graft.functions.TopKAgg(3))
    def run(parts: Int) = Tables.orders(spark, Sf).repartition(parts)
      .groupBy("o_custkey")
      .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(run(1) === run(13))
  }

  test("TopKAgg buffer is k-bounded even when a group exceeds k in one partition") {
    import spark.implicits._
    val top2 = udaf(new graft.functions.TopKAgg(2))
    val rows = Seq.tabulate(100)(i => (1L, i.toDouble, i.toLong))
      .toDF("g", "v", "id")
      .groupBy("g").agg(top2(col("v"), col("id")).as("top"))
      .select(posexplode(col("top"))).collect()
    assert(rows.length === 2)
    assert(rows.map(_.getStruct(1).getDouble(0)).toSeq === Seq(99.0, 98.0))
  }

  test("BottomKStrAgg: matches the asc window order under any partitioning") {
    import spark.implicits._
    val bot3 = udaf(new graft.functions.KAggs.BottomKStrAgg(3))
    val data = Seq(("b", 2L), ("a", 9L), ("a", 1L), ("c", 5L), ("a", 9L),
      ("b", 7L), ("aa", 4L)).map { case (s, i) => (1L, s, i) }
    def run(parts: Int) = data.toDF("g", "s", "id").repartition(parts)
      .groupBy("g").agg(bot3(col("s"), col("id")).as("bot"))
      .select(posexplode(col("bot"))).collect()
      .map(r => (r.getStruct(1).getString(0), r.getStruct(1).getLong(1))).toSeq
    val expect = data.map(t => (t._2, t._3)).sorted.take(3)
    assert(run(1) === expect && run(5) === expect)
  }

  test("TopKDoubleStrAgg: f desc with string-asc tie-break, partition-invariant") {
    import spark.implicits._
    val top3 = udaf(new graft.functions.KAggs.TopKDoubleStrAgg(3))
    val data = Seq((5.0, "zeta"), (5.0, "alpha"), (9.0, "mid"), (1.0, "low"),
      (5.0, "beta")).map { case (v, s) => (1L, v, s) }
    def run(parts: Int) = data.toDF("g", "v", "s").repartition(parts)
      .groupBy("g").agg(top3(col("v"), col("s")).as("top"))
      .select(posexplode(col("top"))).collect()
      .map(r => (r.getStruct(1).getDouble(0), r.getStruct(1).getString(1))).toSeq
    val expect = Seq((9.0, "mid"), (5.0, "alpha"), (5.0, "beta"))
    assert(run(1) === expect && run(4) === expect)
  }
}
