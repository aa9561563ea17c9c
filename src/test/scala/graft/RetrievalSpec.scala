package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Retrieval

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val corpus = Seq(
    (0L, "rare common common common"),
    (1L, "rare other other other other other other other"),
    (2L, "common other words here"),
    (3L, "common common unrelated text"),
  ).toDF("doc_id", "text")

  private def scores(qTerms: Seq[String]): Map[Long, Long] = {
    val q = qTerms.map(t => (9L, t)).toDF("qid", "term")
    Retrieval.bm25(corpus, "doc_id", "text", q)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
  }

  test("bm25: rare term outweighs common term at equal tf") {
    // doc 0 has tf(rare)=1 and tf(common)=3; doc 2 has tf(common)=1.
    // A 'rare' query (df=2) must score doc 0 above a 'common' query
    // (df=3) scores doc 2 at the same dl ordering
    val rare = scores(Seq("rare"))
    val common = scores(Seq("common"))
    assert(rare.keySet == Set(0L, 1L))
    assert(common.keySet == Set(0L, 2L, 3L))
    // idf(rare) > idf(common): with one occurrence each and comparable
    // dl, the rare hit scores higher
    assert(rare(1L) > common(2L))
  }

  test("bm25: an empty corpus fails and leaves nothing cached") {
    val empty = corpus.filter(lit(false))
    val q = Seq((9L, "rare")).toDF("qid", "term")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25(empty, "doc_id", "text", q)
    }
    assert(e.getMessage.contains("empty corpus"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs left behind: $leaked")
  }

  test("bm25: tf saturates — tripled tf less than triples the score") {
    val s = scores(Seq("common"))
    // doc 0: tf=3, doc 2: tf=1, similar dl (4 tokens each)
    assert(s(0L) > s(2L))
    assert(s(0L) < 3 * s(2L))
  }

  test("bm25: longer documents are penalized at equal tf") {
    val s = scores(Seq("rare"))
    // doc 0 (dl=4) vs doc 1 (dl=8), both tf(rare)=1
    assert(s(0L) > s(1L))
  }

  test("bm25 is invariant to input partitioning") {
    val q = Seq((9L, "common"), (9L, "rare")).toDF("qid", "term")
    def run(parts: Int) = Retrieval.bm25(corpus.repartition(parts), "doc_id", "text", q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(7))
  }

  test("rankTopK matches the ranked-window definition on ties") {
    val scored = Seq((1L, 10L, 5.0), (1L, 11L, 5.0), (1L, 12L, 7.0),
      (1L, 13L, 1.0), (2L, 20L, 3.0)).toDF("qid", "id", "s")
    val got = Retrieval.rankTopK(scored, 2, "s", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // qid 1: 12 (7.0) then 10 (5.0, lower id wins tie); qid 2: 20
    assert(got == Set((1L, 1L, 12L), (1L, 2L, 10L), (2L, 1L, 20L)))
  }

  test("rrfFuse sums 1e6 div (60+rank) across lists, counts membership") {
    val a = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("qid", "id", "rnk")
    val b = Seq((1L, 101L, 1L), (1L, 102L, 2L)).toDF("qid", "id", "rnk")
    val got = Retrieval.rrfFuse(Seq(a, b), "id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val r1 = 1000000L / 61; val r2 = 1000000L / 62
    assert(got == Set((100L, r1, 1L), (101L, r2 + r1, 2L), (102L, r2, 1L)))
  }

  test("maxSim: per-query-token max over doc tokens, duplicates counted, candidates only") {
    // doc 10 tokens: (1,0), (0,2); doc 11 token: (3,3)
    val dToks = Seq((10L, Seq(1L, 0L)), (10L, Seq(0L, 2L)), (11L, Seq(3L, 3L)))
      .toDF("id", "dv")
    // query 1: tokens (2,1) twice (duplicates must BOTH count) and (1,1)
    val qToks = Seq((1L, 0L, Seq(2L, 1L)), (1L, 1L, Seq(2L, 1L)),
      (1L, 2L, Seq(1L, 1L))).toDF("qid", "qt", "qv")
    val cands = Seq((1L, 10L)).toDF("qid", "id") // doc 11 NOT a candidate
    val got = Retrieval.maxSim(cands, "id", qToks, dToks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (2,1): max(2*1+1*0, 2*0+1*2) = 2, twice; (1,1): max(1, 2) = 2 -> 6
    assert(got == Set((1L, 10L, 6L)))
  }

  test("maxSim is invariant to input partitioning") {
    val dToks = (0L until 40L).map(i => (i % 8, Seq(i % 5 - 2, i % 7 - 3)))
      .toDF("id", "dv")
    val qToks = (0L until 6L).map(t => (t % 2, t, Seq(t % 3 - 1, t % 5 - 2)))
      .toDF("qid", "qt", "qv")
    val cands = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 7L)).toDF("qid", "id")
    def run(p: Int) = Retrieval.maxSim(cands.repartition(p), "id",
      qToks.repartition(p), dToks.repartition(p))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(7))
  }
}
