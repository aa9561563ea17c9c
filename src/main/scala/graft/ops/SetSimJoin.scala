package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Exact threshold set-similarity self-join with prefix filtering — the
  * AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al., WWW'08).
  *
  * Finds EVERY document pair whose shingle-set Jaccard is >= tau, without
  * a df cap (the approximation [[Dedup.exactShinglePairs]] takes) and
  * without all-pairs work. The pruning is the classic prefix filter:
  * order the universe of set elements globally by ascending document
  * frequency (rarest first) and index, per document, only the first
  * `|x| - ceil(tau*|x|) + 1` elements of its df-sorted element list. Two
  * sets with Jaccard >= tau MUST collide inside these prefixes (if they
  * disagreed on every prefix element, the overlap could not reach
  * tau/(1+tau) of the union), so candidate generation joins prefix
  * postings only — and those postings are, by construction, the globally
  * RAREST elements of each document, exactly the ones with short lists.
  * A stop-shingle shared by half the corpus lands in nobody's prefix
  * (unless a document is almost entirely stop-shingles, in which case it
  * genuinely is near-everything). The length filter
  * `tau * max(|x|,|y|) <= min(|x|,|y|)` prunes candidates whose sizes
  * alone make the threshold unreachable.
  *
  * Unlike MinHash-LSH ([[Dedup.minHashLsh]], the recall-tunable scale
  * path) this join is EXACT — no missed pairs, no false positives —
  * which makes it the oracle-grade calibration tool and the right choice
  * when the threshold is high (prefixes shrink as tau grows: at tau=0.9
  * only ~10% of each document's elements are indexed).
  *
  * Scale shape (100 TB): one shuffle on shingle for df, one on doc id to
  * assemble sorted element arrays, one equi-join on prefix shingle for
  * candidates, one equi-join on id for verification. No window over the
  * corpus, no driver state, no cross join; every aggregate is map-side
  * combinable. Candidate volume is sum over elements of
  * prefix-df-choose-2, bounded by the df of the RAREST elements only.
  *
  * Reference behavior context: phrocker/nifi-datasynthesizer has no
  * similarity join; this is part of the training-data-pipeline surface
  * (near-duplicate detection) built on the same documents tables.
  */
object SetSimJoin {

  /** All pairs (a < b) with shingle-set Jaccard >= tauPpm/1e6.
    * Output: a, b, inter_sz, union_sz, jaccard_ppm — all exact integers.
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      tauPpm: Long, shingleWords: Int = 3): DataFrame = {
    require(tauPpm >= 1 && tauPpm <= 1000000L,
      s"tauPpm must be in [1, 1000000]: $tauPpm")
    Barrier.scoped { scope =>
      // distinct shingles per doc = set semantics; the persist barrier
      // keeps the split from re-running inside the shingle lambda
      val tokens = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("__id"), split(lower(col(textCol)), " ").as("__w")))
      val postings = tokens
        .select(col("__id"),
          explode(array_distinct(Dedup.shinglesFromTokens(col("__w"), shingleWords)))
            .as("__sh"))
      // global rarity order: df per shingle (map-side combinable), joined
      // back to postings on the same key — EnsureRequirements reuses the
      // groupBy exchange for the join side
      val dfs = postings.groupBy("__sh").agg(count(lit(1)).as("__df"))
      val ranked = postings.join(dfs, "__sh")
      // per-doc element list sorted rarest-first: (df, shingle) struct sort
      // gives a deterministic total order; both the prefix and the full
      // set ride in one array so verification needs no second pass
      val arrs = scope.persist(ranked
        .groupBy("__id")
        .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__arr"))
        .select(col("__id"), col("__arr").getField("__sh").as("__set"),
          size(col("__arr")).as("__sz")))
      // prefix length p = sz - ceil(tau*sz) + 1, integer-exact ceil
      val prefixLen = (col("__sz") - ceilPpm(col("__sz"), tauPpm) + lit(1)).cast("int")
      val prefix = arrs.select(col("__id"), col("__sz"),
        posexplode(slice(col("__set"), lit(1), prefixLen)).as(Seq("__p0", "__sh")))
        .select(col("__id"), col("__sz"), (col("__p0") + 1).as("__pos"), col("__sh"))
      val lenOk = lit(tauPpm) * greatest(col("x.__sz"), col("y.__sz")) <=
        lit(1000000L) * least(col("x.__sz"), col("y.__sz"))
      val candidates = prefix.as("x")
        .join(prefix.as("y"),
          col("x.__sh") === col("y.__sh") && col("x.__id") < col("y.__id") && lenOk
            && positionalOk(tauPpm))
        .select(col("x.__id").as("a"), col("y.__id").as("b"))
        .distinct()
      // exact verification: two id equi-joins pull the full sorted sets
      val verified = candidates
        .join(arrs.select(col("__id").as("a"), col("__set").as("__sa"),
          col("__sz").as("__na")), "a")
        .join(arrs.select(col("__id").as("b"), col("__set").as("__sb"),
          col("__sz").as("__nb")), "b")
      val inter = size(array_intersect(col("__sa"), col("__sb"))).cast("long")
      Barrier.cut(verified
        .select(col("a"), col("b"), inter.as("inter_sz"),
          (col("__na") + col("__nb") - inter).cast("long").as("union_sz"))
        .filter(col("inter_sz") * lit(1000000L) >= lit(tauPpm) * col("union_sz"))
        .withColumn("jaccard_ppm",
          floor(col("inter_sz") * lit(1000000L) / col("union_sz")).cast("long")))
    }
  }

  /** Candidate pairs only (before exact verification) — exposed so tests
    * and calibration can measure the pruning power of the prefix filter
    * alone (`positional = false`) vs prefix + positional (the
    * jaccardJoin configuration) against the full inverted-index count.
    */
  def candidateCount(df: DataFrame, idCol: String, textCol: String,
      tauPpm: Long, shingleWords: Int = 3, positional: Boolean = true): Long =
    Barrier.scoped { scope =>
      val tokens = scope.persist(df
        .select(col(idCol).as("__id"), split(lower(col(textCol)), " ").as("__w")))
      val postings = tokens
        .select(col("__id"),
          explode(array_distinct(Dedup.shinglesFromTokens(col("__w"), shingleWords)))
            .as("__sh"))
      val dfs = postings.groupBy("__sh").agg(count(lit(1)).as("__df"))
      val arrs = postings.join(dfs, "__sh")
        .groupBy("__id")
        .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__arr"))
        .select(col("__id"), col("__arr").getField("__sh").as("__set"),
          size(col("__arr")).as("__sz"))
      val prefixLen = (col("__sz") - ceilPpm(col("__sz"), tauPpm) + lit(1)).cast("int")
      val prefix = arrs.select(col("__id"), col("__sz"),
        posexplode(slice(col("__set"), lit(1), prefixLen)).as(Seq("__p0", "__sh")))
        .select(col("__id"), col("__sz"), (col("__p0") + 1).as("__pos"), col("__sh"))
      val lenOk = lit(tauPpm) * greatest(col("x.__sz"), col("y.__sz")) <=
        lit(1000000L) * least(col("x.__sz"), col("y.__sz"))
      val posOk = if (positional) positionalOk(tauPpm) else lit(true)
      prefix.as("x")
        .join(prefix.as("y"),
          col("x.__sh") === col("y.__sh") && col("x.__id") < col("y.__id") && lenOk
            && posOk)
        .select(col("x.__id"), col("y.__id")).distinct().count()
    }

  /** ceil(sz * tauPpm / 1e6) in exact integer math. */
  private def ceilPpm(sz: Column, tauPpm: Long): Column =
    floor((sz * lit(tauPpm) + lit(999999L)) / lit(1000000L)).cast("long")

  /** PPJoin's POSITIONAL filter (Xiao et al., WWW'08 §3.2), applied at
    * candidate generation over aliases x/y carrying (__sz, __pos): a
    * collision at 1-based prefix positions (ix, iy) bounds the overlap
    * by 1 + min(|x|−ix, |y|−iy), and Jaccard >= tau requires overlap
    * >= alpha = ceil(tau·(|x|+|y|)/(1+tau)). EXACT: the smallest common
    * element of a qualifying pair sits inside both prefixes (the prefix
    * guarantee) with no common element before it in either sorted array,
    * so THAT collision always meets the bound — only can't-qualify
    * collisions are dropped. Arithmetic stays integer-exact: the
    * products stay below 2^53, so the double division inside floor is
    * exact (the ceilPpm convention).
    */
  private def positionalOk(tauPpm: Long): Column = {
    val den = 1000000L + tauPpm
    val alpha = floor((lit(tauPpm) * (col("x.__sz") + col("y.__sz"))
      + lit(den - 1)) / lit(den)).cast("long")
    lit(1L) + least(col("x.__sz") - col("x.__pos"),
      col("y.__sz") - col("y.__pos")) >= alpha
  }
}
