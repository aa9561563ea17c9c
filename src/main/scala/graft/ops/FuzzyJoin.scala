package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Blocked edit-distance self-join — the entity-resolution primitive
  * (merge-candidate discovery over an attribute dictionary: near-equal
  * names, addresses, titles).
  *
  * Exact semantics: every unordered pair of DISTINCT values at
  * Levenshtein distance <= k, found WITHOUT an all-pairs comparison.
  * The pruning is the classic q-gram count filter (Gravano et al.,
  * VLDB'01): an edit operation destroys at most q of a string's
  * overlapping q-grams, so two strings within distance k must share at
  * least `max(|a|,|b|) - q + 1 - k*q` q-grams (multiset semantics).
  * Candidates therefore come from an equi-join on shared q-grams with a
  * group-count filter, plus the free length filter `||a|-|b|| <= k`;
  * survivors are verified with the exact levenshtein() (same
  * unit-cost definition in Spark and DuckDB, so the result replays).
  *
  * The count bound is vacuous for strings shorter than q*(k+1)+q-1:
  * those few route to a single short-string block and verify exactly
  * within it — the short-string universe is finite (bounded by the
  * alphabet), so this block cannot grow with the corpus.
  *
  * Scale shape (100 TB): the join operates on the DISTINCT value
  * dictionary (dimension-sized relative to the fact table), q-gram
  * counts are map-side combinable, the candidate join is an equi-join
  * on gram whose fan-out the count filter bounds, and verification is
  * scan-side codegen. No window over the corpus, no driver state.
  */
object FuzzyJoin {

  /** All pairs (a < b) of distinct `strCol` values with
    * levenshtein(a, b) <= k. Output: a, b, dist.
    */
  def editDistanceJoin(df: DataFrame, strCol: String, k: Int,
      q: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(q >= 1, s"q must be >= 1: $q")
    val minLong = q * (k + 1) + q - 1 // count bound positive from here up
    Barrier.scoped { scope =>
      val names = scope.persist(df.select(col(strCol).as("__s")).distinct()
        .withColumn("__len", length(col("__s"))))
      val long = names.filter(col("__len") >= minLong)
      val short = names.filter(col("__len") < minLong)
      // q-gram multiset per long string: (string, gram) -> count
      val grams = long
        .select(col("__s"), col("__len"),
          explode(transform(sequence(lit(1), col("__len") - lit(q - 1)),
            i => col("__s").substr(i, lit(q)))).as("__g"))
        .groupBy("__s", "__len", "__g").agg(count(lit(1)).as("__c"))
      val cand = grams.as("x")
        .join(grams.as("y"),
          col("x.__g") === col("y.__g") && col("x.__s") < col("y.__s") &&
            abs(col("x.__len") - col("y.__len")) <= k)
        .groupBy(col("x.__s").as("a"), col("y.__s").as("b"),
          col("x.__len").as("__la"), col("y.__len").as("__lb"))
        .agg(sum(least(col("x.__c"), col("y.__c"))).as("__common"))
        .filter(col("__common") >=
          greatest(col("__la"), col("__lb")) - lit(q - 1) - lit(k * q))
        .select(col("a"), col("b"))
      // short strings: one constant block, exact verify inside — bounded
      // by the finite short-string universe, not the corpus. The constant
      // key keeps the pair join an equi-join (hash, not nested-loop).
      val shortBlk = short.withColumn("__blk", lit(0))
      val shortPairs = shortBlk.as("x")
        .join(shortBlk.as("y"),
          col("x.__blk") === col("y.__blk") && col("x.__s") < col("y.__s"))
        .select(col("x.__s").as("a"), col("y.__s").as("b"))
      Barrier.cut(cand.unionByName(shortPairs)
        .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
        .filter(col("dist") <= k))
    }
  }
}
