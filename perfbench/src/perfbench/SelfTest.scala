package perfbench

import org.apache.spark.sql.functions._

/** Tests of the benchmark itself (`python3 perfbench/run.py --self-test`):
  * the summary math, the call-site → module map, and seeded generation.
  * Exits nonzero on the first failed assertion. */
object SelfTest {
  private var passed = 0

  private def expect(what: String, ok: Boolean, got: => Any = ""): Unit = {
    if (!ok) {
      System.out.println(s"FAIL $what $got")
      sys.exit(1)
    }
    passed += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def math_(): Unit = {
    // linear interpolation between closest ranks
    expect("median even", close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    expect("median odd", close(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0))
    expect("p25", close(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 25), 2.0))
    expect("p90", close(Stats.percentile((1 to 11).map(_.toDouble), 90), 10.0))
    expect("median single", close(Stats.median(Seq(7.0)), 7.0))
    expect("median empty is NaN", Stats.median(Nil).isNaN)
    expect("mean", close(Stats.mean(Seq(1.0, 2.0, 6.0)), 3.0))
    expect("union disjoint", Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15L)
    expect("union overlap", Stats.unionLength(Seq((0L, 10L), (5L, 12L), (11L, 13L))) == 13L)
    expect("union nested", Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L)
    expect("union empty/inverted", Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
    val a = OpTrace(2, 3, 1.5, 1.0, 2.0, 10L, 0.1, 0.5, 0.2, 0.1,
      Map(("graft.cdc", "X.scala:1") -> 1.0))
    val s = a + a.copy(bySite = Map(("graft.ops", "Y.scala:2") -> 0.5))
    expect("trace sum", s.jobs == 4 && close(s.taskS, 3.0) && s.writtenRows == 20L &&
      s.bySite.size == 2, s)
    expect("json", Json(Map("a" -> 1.5, "b" -> Seq("x\"y"))) == """{"a":1.5,"b":["x\"y"]}""")
  }

  def modules(): Unit = {
    val cases = Seq(
      "graft.streaming.CdcStream$.$anonfun$mergeBatch$3(CdcStream.scala:183)" ->
        ("graft.streaming", "CdcStream.scala:183 mergeBatch"),
      "graft.streaming.CdcBucketed$.writeState(CdcBucketed.scala:56)" ->
        ("graft.streaming", "CdcBucketed.scala:56 writeState"),
      "graft.cdc.CdcMerge$.counts(CdcMerge.scala:90)" -> ("graft.cdc", "CdcMerge.scala:90 counts"),
      "graft.sources.SnapshotDml.mergeImpl(SnapshotDml.scala:700)" ->
        ("graft.sources.snapshot", "SnapshotDml.scala:700 mergeImpl"),
      "graft.sources.SnapshotLog$.read(SnapshotFeed.scala:19)" ->
        ("graft.sources.snapshot", "SnapshotFeed.scala:19 read"),
      "graft.sources.SnapshotStream$.planInputPartitions(SnapshotStreamSource.scala:300)" ->
        ("SnapshotStreamSource", "SnapshotStreamSource.scala:300 planInputPartitions"),
      "graft.sources.Sources$.alignToSchema(Sources.scala:40)" ->
        ("graft.sources", "Sources.scala:40 alignToSchema"),
      "graft.ops.AnsiOps$.$anonfun$tryArith$1(AnsiOps.scala:12)" -> ("graft.ops", "AnsiOps.scala:12 tryArith"),
      "graft.dedup.MinHashLsh$.run(MinHashLsh.scala:5)" -> ("graft.dedup", "MinHashLsh.scala:5 run"),
      "graft.Pipeline$.run(Pipeline.scala:88)" -> ("graft", "Pipeline.scala:88 run"))
    cases.foreach { case (frame, want) =>
      val site = s"org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n$frame\n" +
        "perfbench.Main$.main(Main.scala:1)"
      val got = Modules.attribute(site)
      expect(s"module of $frame", got.contains(want), got)
    }
    expect("no graft frame", Modules.attribute(
      "java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)").isEmpty)
  }

  def generation(root: String): Unit = {
    val spark = Main.session(root, 2)
    try {
      def fp(seed: Long, b: Long) = Fingerprint.of(
        CdcMergeWorkload.extract(CdcMergeWorkload.base(spark, seed), seed, b))
      expect("same seed, same extract", fp(7, 1) == fp(7, 1), fp(7, 1))
      expect("other seed, other extract", fp(7, 1) != fp(8, 1))
      expect("other batch, other extract", fp(7, 1) != fp(7, 2))
      expect("batch 0 is the base", fp(7, 0) == Fingerprint.of(CdcMergeWorkload.base(spark, 7)))
      val base = CdcMergeWorkload.base(spark, 7)
      expect("cdc key unique", base.select(CdcMergeWorkload.KeyCols.map(col): _*)
        .distinct().count() == CdcMergeWorkload.Rows)
      val ex = CdcMergeWorkload.extract(base, 7, 3)
      val moved = ex.join(base, CdcMergeWorkload.KeyCols, "left_anti").count()
      val share = moved.toDouble / CdcMergeWorkload.Rows
      expect("about 1% re-keyed", share > 0.005 && share < 0.015, share)
      val b1 = Fingerprint.of(SnapshotServing.changes(
        Gen.orders(spark, 7, 5000, 500), 7, 1))
      expect("same seed, same snapshot batch", b1 == Fingerprint.of(
        SnapshotServing.changes(Gen.orders(spark, 7, 5000, 500), 7, 1)))
      val docs = Gen.documents(spark, 7, 120)
      expect("documents distinct", docs.select("text").distinct().count() == 120)
      expect("near-duplicates planted", docs.select(substring(col("text"), 1, 40))
        .distinct().count() < 120)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    math_()
    modules()
    generation(new java.io.File(".").getCanonicalPath)
    println(s"perfbench self-test: $passed checks passed")
  }
}
