package graft

import graft.dedup.Components
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Min-label propagation connected components: fixpoint correctness on
  * known graphs, determinism under physical layout, random-graph parity
  * with union-find, and the convergence guard. */
class ComponentsSpec extends AnyFunSuite with SparkFixture {

  /** forAll via explicit seeds (scalatestplus bridge is not in the
    * offline cache): deterministic, reproducible cases. */
  private def forAllSeeded[A](gen: org.scalacheck.Gen[A], cases: Int = 6)(
      body: A => Unit): Unit =
    (0 until cases).foreach { i =>
      body(gen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)))
    }

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val edges = Components.symmetrize(pairs.toDF("a", "b"), "a", "b")
    Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a 10-node chain collapses to its minimum id (diameter > 1 path)") {
    val got = cc((1L to 9L).map(i => (i, i + 1)))
    assert(got === (1L to 10L).map(_ -> 1L).toMap)
  }

  test("a 300-node chain converges within maxIter (pointer halving: O(log n) rounds)") {
    // without the halving step this needs 299 rounds and would blow the
    // default maxIter=50; with it, ~log2(300)+1
    val got = cc((1L to 299L).map(i => (i, i + 1)))
    assert(got.size === 300 && got.values.forall(_ == 1L))
  }

  test("disjoint components keep distinct labels; isolated pairs label by min") {
    val got = cc(Seq((5L, 3L), (3L, 9L), (20L, 21L), (40L, 30L)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 40L -> 30L))
  }

  test("labels are partitioning-invariant") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (8L, 9L), (9L, 1L))
    val e1 = Components.symmetrize(pairs.toDF("a", "b"), "a", "b")
    val r1 = Components.connectedComponents(e1).collect().toSet
    val r2 = Components.connectedComponents(e1.repartition(13)).collect().toSet
    assert(r1 === r2)
    assert(r1.map(_.getLong(1)) === Set(1L)) // the 9-1 edge joins both chains
  }

  test("random graphs: labels equal union-find components (ScalaCheck-seeded)") {
    import org.scalacheck.Gen
    val edgesGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (a, b))
    } yield es
    forAllSeeded(edgesGen) { pairs =>
      val got = cc(pairs)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(x => x -> find(x)).toMap
      assert(got === want, s"edges=$pairs")
    }
  }

  test("string node ids: the changed-row probe converges to the min label " +
      "(the sum probe would cast to NULL and exit after round 1)") {
    import spark.implicits._
    // a 6-node chain of string ids: false round-1 convergence would leave
    // the far end labelled by its neighbor, not the global min "a"
    val pairs = (0 until 5).map(i => (s"n${('a' + i).toChar}", s"n${('a' + i + 1).toChar}"))
    val edges = Components.symmetrize(pairs.toDF("a", "b"), "a", "b")
    val got = Components.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === (0 to 5).map(i => s"n${('a' + i).toChar}" -> "na").toMap)
  }

  test("fractional decimal ids: the changed-row probe catches a round whose " +
      "only change rounds to the same sum (5.4 -> 4.6)") {
    import spark.implicits._
    // after the label build, round 1's only change is 5.4 -> 4.6; both
    // round to 5 under the sum probe's DECIMAL(38,0) cast, so the sum
    // probe would stop there and leave 6 and 5.4 labelled 5.4
    val dt = org.apache.spark.sql.types.DecimalType(10, 1)
    val ids = Seq("6", "5.4", "8", "27", "4.6", "25")
    val edges = Components.symmetrize(ids.zip(ids.tail).toDF("a", "b")
      .select(col("a").cast(dt).as("a"), col("b").cast(dt).as("b")), "a", "b")
    val got = Components.connectedComponents(edges).collect()
      .map(r => r.getDecimal(0).toPlainString -> r.getDecimal(1).toPlainString)
      .toMap
    assert(got === ids.map(i => BigDecimal(i).setScale(1).toString -> "4.6").toMap)
  }

  test("q_dedup_components matches a driver-side union-find on the same edges") {
    val out = graft.ops.CurateOps.dedupComponents.fn(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent ground truth: union-find over the same two blocking keys
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("k1"),
        expr("substring(text, greatest(length(text) - 39, 1), 40)").as("k2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for (key <- Seq[((Long, String, String)) => String](_._2, _._3)) {
      docs.groupBy(key).values.filter(_.length > 1)
        .foreach(g => g.tail.foreach(d => union(g.head._1, d._1)))
    }
    // a doc has an edge iff either blocking key is shared with another doc
    val k1Sizes = docs.groupBy(_._2).view.mapValues(_.length).toMap
    val k2Sizes = docs.groupBy(_._3).view.mapValues(_.length).toMap
    val expected = docs
      .filter(d => k1Sizes(d._2) > 1 || k2Sizes(d._3) > 1)
      .map(d => d._1 -> find(d._1)).toMap
    assert(out === expected)
  }
}
