package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SetSimJoin

class SetSimJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  // 3-gram shingle Jaccard computed the naive way, driver-side
  private def naivePairs(docs: Seq[(Long, String)], tau: Double): Set[(Long, Long, Long, Long)] = {
    def shingles(t: String): Set[String] =
      t.toLowerCase.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      union = (sa | sb).size.toLong
      if inter * 1000000L >= (tau * 1000000L).toLong * union
    } yield (a, b, inter, union)).toSet
  }

  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa")
    val base = (0L until 40L).map { i =>
      i -> Seq.fill(12 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // planted near-duplicates: doc 100 edits one word of doc 0; doc 101
    // copies doc 1 exactly
    val d0 = base(0)._2.split(" ").updated(3, "edited").mkString(" ")
    base ++ Seq(100L -> d0, 101L -> base(1)._2)
  }

  test("prefix-filtered join equals the naive exact computation") {
    val df = corpus.toDF("doc_id", "text")
    val got = SetSimJoin.jaccardJoin(df, "doc_id", "text", tauPpm = 500000L)
      .select("a", "b", "inter_sz", "union_sz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == naivePairs(corpus, 0.5))
    assert(got.exists { case (a, b, _, _) => a == 1L && b == 101L }) // exact copy
  }

  test("exact at a high threshold too (prefixes shrink, still no misses)") {
    val df = corpus.toDF("doc_id", "text")
    val got = SetSimJoin.jaccardJoin(df, "doc_id", "text", tauPpm = 900000L)
      .select("a", "b", "inter_sz", "union_sz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == naivePairs(corpus, 0.9))
    assert(got.nonEmpty) // the exact copy survives tau=0.9
  }

  test("prefix filter prunes: candidates well below the all-pairs count") {
    val df = corpus.toDF("doc_id", "text")
    val n = corpus.count { case (_, t) => t.split(" ").length >= 3 }
    val allPairs = n.toLong * (n - 1) / 2
    val cand = SetSimJoin.candidateCount(df, "doc_id", "text", tauPpm = 900000L)
    // at tau=0.9 only ~10% of each doc's shingles are indexed; with a
    // 10-word vocab the sets still overlap, but candidates must be far
    // below quadratic
    assert(cand < allPairs / 2, s"candidates $cand vs all-pairs $allPairs")
  }

  test("a planted stop-shingle shared by every doc does not blow up candidates") {
    // every doc starts with the same 5-word preamble -> its shingles have
    // df = n and must land in nobody's prefix at tau=0.8
    val n = 120
    val rnd = new scala.util.Random(11)
    val vocab = Vector("red", "green", "blue", "cyan", "teal", "plum", "gold",
      "rust", "jade", "onyx", "pearl", "coral")
    val docs = (0L until n.toLong).map { i =>
      val body = Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      i -> s"common preamble shared by all $body"
    }
    val df = docs.toDF("doc_id", "text")
    val cand = SetSimJoin.candidateCount(df, "doc_id", "text", tauPpm = 800000L)
    val allPairs = n.toLong * (n - 1) / 2
    assert(cand < allPairs / 4, s"stop-shingle fan-out: $cand vs $allPairs")
    // and the join is still exact under the pruning
    val got = SetSimJoin.jaccardJoin(df, "doc_id", "text", tauPpm = 800000L)
      .select("a", "b", "inter_sz", "union_sz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == naivePairs(docs, 0.8))
  }

  test("positional filter prunes candidates below prefix-only without losing pairs") {
    val df = corpus.toDF("doc_id", "text")
    val prefixOnly = SetSimJoin.candidateCount(df, "doc_id", "text",
      tauPpm = 500000L, positional = false)
    val positional = SetSimJoin.candidateCount(df, "doc_id", "text",
      tauPpm = 500000L, positional = true)
    assert(positional <= prefixOnly,
      s"positional $positional > prefix-only $prefixOnly")
    assert(positional < prefixOnly,
      "positional bound pruned nothing on a corpus where it should")
    // exactness already pinned by the naive-equality tests above, which
    // run through the positional path (jaccardJoin always applies it)
  }

  test("result is invariant to input partitioning") {
    val df1 = corpus.toDF("doc_id", "text").repartition(1)
    val df13 = corpus.toDF("doc_id", "text").repartition(13)
    def run(df: org.apache.spark.sql.DataFrame) =
      SetSimJoin.jaccardJoin(df, "doc_id", "text", tauPpm = 500000L)
        .select("a", "b", "jaccard_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(df1) == run(df13))
  }
}
