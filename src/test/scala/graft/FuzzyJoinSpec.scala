package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.FuzzyJoin

class FuzzyJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def naive(names: Seq[String], k: Int): Set[(String, String, Long)] = {
    val n = names.distinct
    (for { a <- n; b <- n if a < b; d = lev(a, b) if d <= k }
      yield (a, b, d.toLong)).toSet
  }

  test("blocked join equals naive levenshtein all-pairs at k=2") {
    val names = Seq("small ring", "small king", "small rings", "red widget",
      "red gadget", "blue bolt", "blue bolts", "glue bolt", "hot gear",
      "hot bear", "cold gear", "standalone")
    val df = names.flatMap(n => Seq(n, n)).toDF("p_name") // dup rows: dictionary dedup
    val got = FuzzyJoin.editDistanceJoin(df, "p_name", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == naive(names, 2))
    assert(got.contains(("blue bolt", "glue bolt", 1L)))
  }

  test("short strings below the count-bound cutoff are still found") {
    // minLong for k=1,q=2 is 5: "ab"/"ac" (len 2) carry a vacuous count
    // bound and must route through the short block, not get lost
    val df = Seq("ab", "ac", "abcdef", "abcdeg", "zzzz").toDF("p_name")
    val got = FuzzyJoin.editDistanceJoin(df, "p_name", k = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == naive(Seq("ab", "ac", "abcdef", "abcdeg", "zzzz"), 1))
    assert(got.contains(("ab", "ac", 1L)))
  }

  test("count filter prunes: unrelated names never reach verification") {
    // two families of mutually-distant names; the q-gram count filter
    // must keep cross-family candidates out before levenshtein runs
    val names = (0 until 30).map(i => f"alpha_name_$i%02d") ++
      (0 until 30).map(i => f"zebra_title_$i%02d")
    val df = names.toDF("p_name")
    val got = FuzzyJoin.editDistanceJoin(df, "p_name", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == naive(names, 2))
    // within-family pairs differ in the 2-digit suffix (dist <= 2): found
    assert(got.exists { case (a, b, _) => a.startsWith("alpha") && b.startsWith("alpha") })
    // no cross-family pair is within distance 2
    assert(!got.exists { case (a, b, _) => a.take(5) != b.take(5) })
  }

  test("invariant to input partitioning") {
    val names = Seq("small ring", "small king", "red widget", "red gadget")
    def run(parts: Int) = FuzzyJoin.editDistanceJoin(
      names.toDF("p_name").repartition(parts), "p_name", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(run(1) == run(5))
  }
}
