package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.runtime.Barrier

/** Sparse (BM25-family) retrieval and dense/sparse rank fusion — the
  * query-side surface of a training-data / RAG pipeline over the same
  * corpus the dedup and ANN operators serve.
  *
  * Scoring is a log-free BM25 variant: the classic saturated-tf term
  * `tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))` weighted by the RATIO idf
  * `(N - df + 0.5) / (df + 0.5)` instead of its logarithm. Rationale:
  * the ratio is a strictly monotone transform of log-idf per term, and
  * — unlike ln/log — it is computed entirely with IEEE +,-,*,/ whose
  * results are bit-identical across engines, so every score replays
  * exactly in the DuckDB oracle (the repo-wide no-transcendentals
  * convention; see q41's constant-lexicon approach for the same reason).
  * Each per-term contribution is floored to integer MICRO units before
  * the final sum, so the aggregate is an exact bigint sum — immune to
  * float addition-order nondeterminism across partitions and engines.
  *
  * Scale shape (100 TB corpus, small query set): tf/df/dl are map-side
  * combinable aggregations; the query-term table broadcasts; df joins
  * only for query terms (dimension-sized after the semi-join); the one
  * corpus-sized equi-join (tf rows of query terms × doc lengths) carries
  * only documents containing at least one query term. N and Σdl are a
  * single bounded 1-row collect (two scalars), inlined as literals so
  * the scan stays join-free of constants.
  */
object Retrieval {

  /** BM25 scores for every (query, document) pair sharing at least one
    * term. `queries` has columns (qid, term) — terms need not be
    * distinct per qid, but duplicated terms double-count (dedupe
    * upstream for set semantics). Output: (qid, <idCol>, score_micro).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame): DataFrame = {
    val tokens = df.select(col(idCol).as("__doc"),
      explode(split(lower(col(textCol)), " ")).as("__t"))
    Barrier.scoped { scope =>
      val tf = scope.persist(tokens.groupBy("__doc", "__t").agg(count(lit(1)).as("__tf")))
      val dl = tf.groupBy("__doc").agg(sum("__tf").as("__dl"))
      // BOUNDED collect: one row, two corpus scalars (N, sum dl) — inlined
      // as literals; a constant-key broadcast join would fold to a nested
      // loop (same tradeoff as Sampling's quantile cuts)
      val r = dl.agg(count(lit(1)).as("n"), sum("__dl").as("s")).collect()(0)
      val (n, sumDl) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      require(n > 0, "empty corpus")
      val avgdl = sumDl.toDouble / n.toDouble // IEEE division, replayed as
      // CAST(sum AS DOUBLE)/CAST(count AS DOUBLE) in the oracle
      val q = broadcast(queries.select(col("qid"), col("term").as("__t")))
      // df census AFTER a semi-join on the query terms: counting first
      // would aggregate the ENTIRE vocabulary (billions of distinct grams
      // at 100 TB) and then discard all but the handful of query terms —
      // the semi-join prunes tf map-side, so the census shuffle carries
      // only query-term partial counts. Same (__t, __df) rows: the census
      // per term is over all docs either way.
      val dfq = broadcast(
        tf.join(broadcast(queries.select(col("term").as("__t")).distinct()),
            Seq("__t"), "left_semi")
          .groupBy("__t").agg(count(lit(1)).as("__df")))
      val scored = tf.join(q, "__t").join(dfq, "__t").join(dl, "__doc")
      val idf = (lit(n.toDouble) - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5))
      val sat = (col("__tf").cast("double") * lit(2.2)) /
        (col("__tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * (col("__dl").cast("double") / lit(avgdl))))
      val contrib = floor(lit(1000000.0) * (idf * sat)).cast("long")
      Barrier.cut(scored
        .select(col("qid"), col("__doc"), contrib.as("__c"))
        .groupBy("qid", "__doc")
        .agg(sum("__c").as("score_micro"))
        .select(col("qid"), col("__doc").as(idCol), col("score_micro")))
    }
  }

  /** Per-query rank (1-based) by (ord desc, id asc) — bounded-heap
    * topk_agg when the extension is registered (map-side combine sends
    * <= k rows per query per map task), ranked-window fallback
    * otherwise. Input needs (qid, id, ord:double-safe numeric).
    */
  def rankTopK(scored: DataFrame, k: Int, ordCol: String, idCol: String): DataFrame =
    if (scored.sparkSession.catalog.functionExists("topk_agg"))
      scored.groupBy("qid")
        .agg(call_function("topk_agg", col(ordCol).cast("double"),
          col(idCol).cast("long"), lit(k)).as("__tk"))
        .select(col("qid"), posexplode(col("__tk")).as(Seq("__p", "__e")))
        .select(col("qid"), (col("__p") + 1).cast("long").as("rnk"),
          col("__e")("id").as(idCol))
    else {
      val w = Window.partitionBy("qid").orderBy(col(ordCol).desc, col(idCol))
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("rnk"), col(idCol))
    }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of any number of
    * rank lists: rrf(d) = Σ_lists 1e6 div (c + rank_list(d)), integer
    * exact. Union + one keyed aggregation — no outer joins, any number
    * of retrievers, map-side combinable. Input frames each carry
    * (qid, id, rnk).
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "need at least one rank list")
    val norm = lists.map(_.select(col("qid"), col(idCol), col("rnk")))
    val all = norm.reduce(_ unionByName _)
    all
      .select(col("qid"), col(idCol),
        expr(s"1000000L div (${c}L + rnk)").as("__r"))
      .groupBy("qid", idCol)
      .agg(sum("__r").as("rrf_ppm"), count(lit(1)).as("n_lists"))
  }

  /** Late-interaction (MaxSim) reranking, the ColBERT scoring rule:
    * `score(q, d) = Σ_{query tokens} max_{doc tokens} <qv, dv>` — the
    * multi-vector retrieval step between single-vector ANN recall and a
    * full cross-encoder. Scores a CANDIDATE set (qid, id), never the
    * full corpus: at 100 TB the candidates come from a first-stage
    * retriever (BM25/ANN, both in this file), so the token-level join
    * fan-out is `|candidates| x |q_tokens| x |d_tokens|` — linear in
    * candidates, and the query side broadcasts (queries are always the
    * small side).
    *
    * `qToks` carries (qid, qt, qv: array<long>) — `qt` is the caller's
    * STABLE token index (a position, never a generated id: the group
    * key must not depend on partitioning), one row per query token.
    * `dToks` carries (<idCol>, dv: array<long>), one row per document
    * token. Integer vectors (the int8/quantized convention of q67/q68)
    * keep the kernel exact — the dot product is a codegen'd
    * zip_with/aggregate, no UDF. Two keyed aggregations: max over doc
    * tokens, then sum over query tokens — both map-side combinable.
    */
  def maxSim(cands: DataFrame, idCol: String, qToks: DataFrame,
      dToks: DataFrame): DataFrame = {
    val dot = aggregate(
      zip_with(col("__qv"), col("__dv"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    // Left-semi prefilter: only candidate documents' tokens enter the
    // scoring join. Without it the hash join builds/streams ALL of
    // dToks — at 100 TB the doc-token table dwarfs the candidate set
    // by orders of magnitude (VERDICT r8 item 2). The semi join
    // shuffles on the same idCol the scoring join uses, so AQE/
    // exchange reuse keeps it one extra cheap pass over dToks, and
    // tools/MaxSimScaleBench measures join input scaling with
    // candidates, not corpus.
    val candToks = dToks.select(col(idCol), col("dv").as("__dv"))
      .join(cands.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
    cands.select(col("qid"), col(idCol))
      .join(broadcast(qToks.select(col("qid"),
        col("qt").as("__qt"), col("qv").as("__qv"))), "qid")
      .join(candToks, idCol)
      .groupBy(col("qid"), col(idCol), col("__qt"))
      .agg(max(dot).as("__m"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum("__m").as("score"))
  }
}
