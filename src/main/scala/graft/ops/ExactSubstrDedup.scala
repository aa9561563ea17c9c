package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Exact substring deduplication: remove every token span of >= L
  * tokens whose text occurs more than once in the corpus (at any
  * alignment, including twice inside one document). This is the
  * "ExactSubstr" pipeline step of Lee et al. 2022 (Deduplicating
  * Training Data Makes Language Models Better), which their released
  * tool implements with a single-node suffix array; tile-based span
  * dedup (SpanDedup) only sees aligned duplicates, so an off-by-one-
  * token copy escapes it — stride-1 grams here catch ANY alignment.
  *
  * Semantics (remove-all, the Lee et al. tool's behavior):
  *   - tokens = whitespace split (same rule as SpanDedup/Winnowing);
  *   - an L-gram occurrence is tokens[i..i+L-1], 1 <= i <= n-L+1;
  *   - a token position j is DROPPED iff some L-gram occurrence
  *     covering j (start in [j-L+1, j]) has corpus-wide count >= 2.
  *     A position lies inside a duplicated substring of length >= L
  *     exactly when such a gram exists, so this equals "remove every
  *     duplicated substring of >= L tokens". Remove-all (rather than
  *     keep-first) is deterministic under any alignment — overlapping
  *     grams make a keep-first winner alignment-dependent — and is
  *     what the published tool does;
  *   - the cleaned document is the surviving tokens in order.
  *
  * Scale shape — why stride-1 grams and not a suffix array: the
  * suffix array is a single-node construction over the concatenated
  * corpus (their tool memory-maps the whole thing). Here the corpus
  * never co-locates: grams are hashed scan-side (O(n*L) CPU, an
  * embarrassingly parallel map), the gram census is a map-side-
  * combinable count (its shuffle carries counts, never positions),
  * and the position stream (16-byte md5 per token position, the same
  * exactness currency as q20/q22's doc fingerprints) is pruned
  * MAP-SIDE by a Bloom filter built over the duplicated grams before
  * the exact occurrence -> duplicated-gram join — a natural corpus's
  * grams are overwhelmingly unique, so the ~28 B/token position
  * shuffle collapses to the duplicated fraction plus ~1% false
  * positives, which the exact 16-byte-key join (AQE skew-join absorbs
  * hot boilerplate grams) re-verifies. Per-document interval merging is pure array
  * math over that document's own duplicate starts — no window, no
  * sort, state bounded by the document itself.
  */
object ExactSubstrDedup {

  /** Stride-1 L-gram fingerprints over an ALREADY-MATERIALIZED token
    * array attribute (inline split() would re-tokenize per gram — the
    * Dedup.shinglesFromTokens quadratic trap). 16-byte md5 so the
    * exploded relation carries a fixed-width binary, not L tokens.
    */
  private def gramFps(ws: Column, l: Int): Column =
    when(size(ws) >= l,
      transform(sequence(lit(1), size(ws) - (l - 1)), i =>
        unhex(md5(array_join(slice(ws, i, lit(l)), " ")))))
      .otherwise(array().cast("array<binary>"))

  /** One row per (doc_id, i, fp): the L-gram starting at 1-based
    * token position i. Docs shorter than L emit nothing.
    */
  def gramOccurrences(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2: $minTokens")
    df.select(col(idCol).as("doc_id"),
        split(coalesce(col(textCol), lit("")), " ").as("__ws"))
      .select(col("doc_id"), gramFps(col("__ws"), minTokens).as("__fps"))
      .select(col("doc_id"), posexplode(col("__fps")).as(Seq("__pos", "fp")))
      .select(col("doc_id"), (col("__pos") + 1).as("i"), col("fp"))
  }

  /** Per-document report: token count, tokens dropped, number of
    * maximal dropped runs, and md5 of the cleaned text. Every input
    * document appears exactly once.
    */
  /** Below this many duplicated grams the exact join's build side is
    * comfortably under Spark's broadcast threshold (~24 B/gram, so
    * ~6 MB at the default) — AQE broadcasts it and the position stream
    * never shuffles anyway, making a Bloom prune pure overhead. The
    * prune engages above it, exactly the regime where the join
    * degrades to sort-merge and would ship every position.
    */
  val BloomAutoThreshold: Long = 262144L

  def report(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 8, bloomPrune: Boolean = true,
      bloomMinDup: Long = BloomAutoThreshold): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2: $minTokens")
    val l = minTokens
    Barrier.scoped { scope =>
      // persist barrier: one tokenization shared by the gram explode and
      // the final kept-text projection (see SpanDedup.spanDedupReport).
      // The spread carries the per-token md5 gram hashing and the
      // cleaned-text rebuild, ~2/3 of this operator's CPU.
      val tokens = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("doc_id"),
          split(coalesce(col(textCol), lit("")), " ").as("__ws")))
      val occ = tokens
        .select(col("doc_id"), gramFps(col("__ws"), l).as("__fps"))
        .select(col("doc_id"), posexplode(col("__fps")).as(Seq("__pos", "fp")))
        .select(col("doc_id"), (col("__pos") + 1).as("i"), col("fp"))
      // the gram census is a map-side-combinable COUNT: its shuffle
      // carries (fp, partial count) per distinct gram per partition,
      // never positions
      val dupFps = scope.persist(occ.groupBy("fp").agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") >= 2).select("fp"))
      val nDup = dupFps.count()
      // position-shuffle cut (r12 verdict ask #5): the join on fp used to
      // ship EVERY (doc_id, i, fp) position (~28 B/token) even though a
      // natural corpus's grams are overwhelmingly unique. A Bloom filter
      // over the DUPLICATED grams (small by construction) prunes the
      // position stream MAP-SIDE, so unique grams never enter the join
      // shuffle; the exact join then re-verifies the ~1% false positives.
      // Sized ~12 bits/dup-gram, capped at 16 Mbit (2 MB plan literal) —
      // past the cap the fpr degrades gracefully and the exact join
      // still keeps the answer right.
      val dupStarts =
        if (!bloomPrune || (nDup > 0 && nDup < bloomMinDup))
          // small dup side (or A/B baseline): the join broadcasts, the
          // position stream never shuffles — a Bloom would be overhead
          occ.join(dupFps, "fp")
            .groupBy("doc_id").agg(array_sort(collect_list(col("i"))).as("__xs"))
        else if (nDup == 0)
          // no duplicated gram anywhere in the corpus: ship nothing
          occ.filter(lit(false))
            .groupBy("doc_id").agg(array_sort(collect_list(col("i"))).as("__xs"))
        else {
          val mBits = {
            val want = math.min(nDup * 12L, 1L << 24)
            math.max(64L, (want + 63) / 64 * 64).toInt
          }
          val k = math.max(1, math.min(8,
            math.round(0.7 * mBits / nDup.toDouble).toInt))
          val bits = Bloom.buildBits(dupFps, "fp", mBits, k)
          // sorted duplicate start positions per doc; (doc, i) is unique
          // so no distinct needed. Array size is bounded by the doc.
          Bloom.prune(occ, "fp", bits, mBits, k).join(dupFps, "fp")
            .groupBy("doc_id").agg(array_sort(collect_list(col("i"))).as("__xs"))
        }

      val ws = col("__ws")
      val xs = coalesce(col("__xs"), array().cast("array<int>"))
      val k = size(xs)
      // sequence(1, 0) DESCENDS in Spark — guard the no-duplicates case
      val idxs = when(k >= 1, sequence(lit(1), k))
        .otherwise(array().cast("array<int>"))
      // runs of overlapping coverage: starts x1 < x2 produce one merged
      // interval iff x2 <= x1 + L (their [x, x+L-1] windows touch); ends
      // are monotone in the sorted starts, so run j spans
      // [xs(startIdx_j), xs(endIdx_j) + L - 1]. Neighbor peeks use the
      // 0-based get() (null out of range) — element_at throws under ANSI.
      val runStartIdx = filter(idxs, j =>
        (j === 1) || (element_at(xs, j) > get(xs, j - 2) + l))
      val runEndIdx = filter(idxs, j =>
        (j === k) || (get(xs, j) > element_at(xs, j) + l))
      val intervals = zip_with(runStartIdx, runEndIdx, (a, b) =>
        struct(element_at(xs, a).as("s"), (element_at(xs, b) + (l - 1)).as("e")))
      // gaps between the merged intervals (plus the flanks) are the kept
      // segments; materialize __iv as an attribute first so the gap and
      // stat projections share one interval computation
      Barrier.cut(tokens.join(dupStarts, Seq("doc_id"), "left")
        .select(col("doc_id"), ws, intervals.as("__iv"))
        .select(col("doc_id"), ws,
          col("__iv"),
          concat(array(lit(1)), transform(col("__iv"), iv => iv.getField("e") + 1)).as("__gs"),
          concat(transform(col("__iv"), iv => iv.getField("s") - 1), array(size(ws))).as("__ge"))
        .select(col("doc_id"),
          size(ws).cast("long").as("n_tokens"),
          aggregate(col("__iv"), lit(0),
            (acc, iv) => acc + iv.getField("e") - iv.getField("s") + 1)
            .cast("long").as("n_dropped"),
          size(col("__iv")).cast("long").as("n_dup_spans"),
          md5(array_join(flatten(zip_with(col("__gs"), col("__ge"), (a, b) =>
            when(b >= a, slice(ws, a, b - a + 1))
              .otherwise(array().cast("array<string>")))), " ")).as("clean_md5")))
    }
  }
}
