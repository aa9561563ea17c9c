package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set — the standard guard
  * against test-set leakage into a pretraining corpus (real pipelines
  * run it at n = 8..13; the parameter is free).
  *
  * Shape at 100 TB: the benchmark side is eval-sized (thousands of
  * documents), so its distinct shingle index BROADCASTS; the corpus
  * streams through the broadcast hash join keyed by shingle and
  * aggregates per doc id — the 100 TB side is never shuffled on text,
  * and docs sharing nothing with the benchmark produce zero join rows
  * (the common case) rather than zero-count groups.
  */
object Contamination {

  /** Per-corpus-doc count of distinct word n-grams that also occur
    * anywhere in `bench`. Only contaminated docs appear in the output
    * (inner join semantics — the clean majority costs nothing).
    */
  def ngramHits(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    Barrier.scoped { scope =>
      // persist barriers keep the split out of every shingle lambda
      val cTok = scope.persist(corpus
        .select(col(idCol).as("__id"), split(lower(col(textCol)), " ").as("__w")))
      val bTok = scope.persist(bench
        .select(split(lower(col(textCol)), " ").as("__w")))
      // shinglesFromTokens is per-doc distinct, so (id, shingle) rows are
      // unique and count(*) below counts distinct shared shingles
      val cSh = cTok.select(col("__id"),
        explode(Dedup.shinglesFromTokens(col("__w"), n)).as("__sh"))
      val bSh = bTok.select(explode(Dedup.shinglesFromTokens(col("__w"), n)).as("__sh"))
        .distinct()
      Barrier.cut(cSh.join(broadcast(bSh), "__sh")
        .groupBy("__id").agg(count(lit(1)).as("n_hits"))
        .select(col("__id").as(idCol), col("n_hits")))
    }
  }
}
