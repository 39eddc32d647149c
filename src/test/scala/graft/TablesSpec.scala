package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]] memoizes each session's resolved relations; past its
  * session bound it forgets the least recently used session only. */
class TablesSpec extends AnyFunSuite with SparkFixture {

  test("the memo evicts the least recently used session, not every session") {
    val dir = Files.createTempDirectory("tables-memo").toString
    spark.range(3).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    val Seq(a, b, c, d, e) = Seq.fill(5)(spark.newSession())
    val first = Tables.region(a, dir)
    val bFirst = Tables.region(b, dir)
    Seq(c, d).foreach(Tables.region(_, dir))
    assert(Tables.region(a, dir) eq first, "a memo hit returns the same plan")
    Tables.region(e, dir) // a fifth session: the eldest (b) goes
    assert(Tables.region(a, dir) eq first,
      "a session touched before the new one must keep its memo")
    assert(Tables.region(b, dir) ne bFirst, "the eldest session is evicted")
  }
}
