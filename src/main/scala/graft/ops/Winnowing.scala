package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Winnowing document sketches (Schleimer, Wilkerson, Aiken: "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
  * fingerprinting scheme). From each window of `window` consecutive
  * word-`k`-gram hashes, keep the minimum hash; the distinct kept hashes
  * are the document's sketch. Guarantee: any shared run of at least
  * k + window − 1 words between two documents contributes at least one
  * COMMON fingerprint — overlap detection robust to local edits, at a
  * sketch ~2/(window+1) the size of the full gram set.
  *
  * Spark-first shape: the whole sketch is per-document array math over
  * a MATERIALIZED token attribute — gram hashes and sliding-window
  * minima never leave their row, so the operator is a pure scan-side
  * map with NO shuffle until the final distinct (the r15 rewrite: the
  * previous posexplode + doc-keyed window form shuffled every gram hash
  * (~40 B/position) just to run a per-doc sliding min that an array
  * lambda computes in place — guide §2.4, remove shuffles outright).
  * The persist barriers keep `split` and the gram-hash array as
  * attributes (no CSE inside lambda bodies — the repo-wide staging
  * rule; without them CollapseProject re-splits/re-hashes per element).
  * Gram hashes are md5 hex strings and the window min is lexicographic
  * (array_min on strings), bit-for-bit what the doc-keyed window form
  * produced — portable to any SQL engine.
  *
  * Docs with fewer than k words emit no fingerprints; docs with fewer
  * than window grams emit one (the min over all their grams), matching
  * the paper's convention.
  */
object Winnowing {

  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"k=$k and window=$window must be positive")
    Barrier.scoped { scope =>
      val toks = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("doc_id"),
          split(lower(coalesce(col(textCol), lit(""))), " ").as("__ws")))
      // full k-grams only: positions 1..n-k+1 (docs shorter than k words
      // emit nothing — the when() guard, sequence() would DESCEND on an
      // empty range)
      val m = size(col("__ws")) - (k - 1)
      // barrier: keep the gram-hash array an attribute
      val grams = scope.persist(toks
        .filter(m >= 1)
        .select(col("doc_id"),
          transform(sequence(lit(1), m), i =>
            md5(array_join(slice(col("__ws"), i, lit(k)), " "))).as("__gh")))
      // one window per start position 1..g-window+1; short docs
      // (g < window) keep the single clipped window at position 1
      // (slice() clips at the array end, so the last windows of a long
      // doc and the only window of a short one share one expression)
      val g = size(col("__gh"))
      Barrier.cut(grams
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), greatest(g - (window - 1), lit(1))),
            p => array_min(slice(col("__gh"), p, lit(window))))).as("fp"))
        .select(col("doc_id"), col("fp"))
        .distinct())
    }
  }
}
