package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{BinaryType, DataType, StructField}
import graft.runtime.{Barrier, BuildOnce, PerRow, Staging, Tables}

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables: deduplication, text analysis, similarity search. Written
  * scale-first: dedup is hash-groupBy (one shuffle on the fingerprint),
  * near-dup candidates come from an inverted shingle index (never
  * all-pairs), and ANN broadcasts the small query side.
  */
object PipelineQueries {

  /** The documents' ids: the one column a media-format fixture builds from. */
  private def docIds(s: SparkSession, d: String): DataFrame =
    Tables.read(s, d, "documents").select(col("doc_id"))

  /** `ids` plus a `name` payload built from each `doc_id`: the fixture
    * rig of the media-format queries.
    */
  private def payloads(ids: DataFrame, name: String, t: DataType = BinaryType)(
      build: Long => Any): DataFrame =
    PerRow.append[Long](ids, "doc_id", StructField(name, t))(build)

  // ------------------------------------------------------------------ dedup

  /** Exact dedup: group documents by content hash. At 100 TB this is the
    * canonical map-side-combinable shuffle on a 128-bit key; md5 keeps the
    * oracle portable (same hex in Spark and DuckDB).
    */
  val q20_dedup_exact = QueryDef(
    "q20_dedup_exact",
    (s, d) =>
      Tables.read(s, d, "documents")
        .groupBy(md5(lower(col("text"))).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(lower(text)) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
      FROM documents GROUP BY 1"""),
  )

  /** Dedup survivors: keep the lowest doc_id per fingerprint (the
    * keep-first policy of a training-data dedup pass).
    */
  val q21_dedup_survivors = QueryDef(
    "q21_dedup_survivors",
    (s, d) => {
      val w = Window.partitionBy(md5(lower(col("text")))).orderBy("doc_id")
      Tables.read(s, d, "documents")
        .select(col("doc_id"), row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select("doc_id")
    },
    Some("""SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1"""),
  )

  /** Document fingerprint: whitespace-normalized content hash — the
    * pre-hash normalization step of an exact-dedup pipeline.
    */
  val q22_fingerprint = QueryDef(
    "q22_fingerprint",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp")),
    Some("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents"""),
  )

  /** N-gram Jaccard near-dup detection, exact and scalable: word-3-gram
    * shingles → document-frequency cap on the posting lists (shingles in
    * more than [[graft.ops.Dedup.DefaultMaxShingleDf]] docs are
    * boilerplate and would fan out k(k-1)/2 pair rows — the one
    * quadratic-at-scale pattern) → inverted index self-join (pairs only
    * materialize for docs that actually share a retained shingle) →
    * Jaccard over the retained shingle space in integer ppm. Never an
    * all-pairs cross join; per-shingle fan-out is bounded at C(64,2).
    * The cap is mirrored exactly in the DuckDB oracle (count OVER
    * (PARTITION BY sh)), so the hash-match is preserved.
    */
  val q23_ngram_jaccard = QueryDef(
    "q23_ngram_jaccard",
    (s, d) =>
      graft.ops.Dedup.exactShinglePairs(Tables.read(s, d, "documents"), "doc_id", "text")
        .select(col("a"), col("b"),
          floor(col("common") * 1000000L / (col("na") + col("nb") - col("common")))
            .cast("long").as("jaccard_ppm")),
    Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      sh0 AS (SELECT DISTINCT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in generate_series(1, greatest(len(w) - 2, 0))]) AS sh
             FROM w),
      sh AS (SELECT doc_id, sh FROM
               (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0)
             WHERE df <= 64),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
                FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT a, b,
        cast(floor(common * 1000000 / (na.n + nb.n - common)) AS BIGINT) AS jaccard_ppm
      FROM pairs JOIN sizes na ON pairs.a = na.doc_id
                 JOIN sizes nb ON pairs.b = nb.doc_id"""),
  )

  // ---------------------------------------------------------- text analysis

  /** Token counting: whitespace tokens via pure string arithmetic (exact
    * in both engines; the docs are single-space separated).
    */
  val q24_token_count = QueryDef(
    "q24_token_count",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast("long").as("n_tokens"),
          col("n_chars")),
    Some("""SELECT doc_id,
      cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      n_chars FROM documents"""),
  )

  /** Quality scoring: length / mean-token-length signals in exact integer
    * milli-units.
    */
  val q25_quality_score = QueryDef(
    "q25_quality_score",
    (s, d) => {
      val nTok = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
      val nLetters = length(regexp_replace(col("text"), " ", ""))
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          nTok.cast("long").as("n_tokens"),
          floor(nLetters * 1000.0 / nTok).cast("long").as("avg_token_len_milli"))
    },
    Some("""SELECT doc_id,
      cast(length(text) AS BIGINT) AS len_chars,
      cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      cast(floor(length(replace(text, ' ', '')) * 1000.0 /
           (length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT) AS avg_token_len_milli
      FROM documents"""),
  )

  /** Language-ID signal: stopword-frequency heuristic (occurrences of
    * common English function words), the classic n-gram/lexicon langid
    * building block, as exact integer counts.
    */
  val q26_lang_signal = QueryDef(
    "q26_lang_signal",
    (s, d) => {
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      def occ(word: String) =
        ((length(padded) - length(regexp_replace(padded, s" $word ", " "))) /
          (word.length + 1)).cast("long")
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          occ("the").as("n_the"), occ("a").as("n_a"), occ("of").as("n_of"))
    },
    Some("""SELECT doc_id, lang,
      cast((length(p) - length(replace(p, ' the ', ' '))) / 4 AS BIGINT) AS n_the,
      cast((length(p) - length(replace(p, ' a ', ' '))) / 2 AS BIGINT) AS n_a,
      cast((length(p) - length(replace(p, ' of ', ' '))) / 3 AS BIGINT) AS n_of
      FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents)"""),
  )

  // ------------------------------------------------------------- similarity

  /** Brute-force cosine top-k ANN baseline: the query set is small →
    * broadcast it against the full vector table (no shuffle of the big
    * side), rank per query. Scores are used for ordering only, never
    * emitted, so float ulp differences can't break the hash match (rank
    * gaps were verified ≫ float error on this data).
    */
  val q27_ann_cosine_topk = QueryDef(
    "q27_ann_cosine_topk",
    (s, d) => {
      // cosine via ops.Similarity.cosine: the native fused cosine_sim
      // loop when GraftExtensions is registered (the interpreted
      // aggregate/zip_with lambdas benched 4× slower), the portable HOF
      // otherwise — both accumulate dot and norms in index order, and
      // sqrt(nx)·sqrt(ny) equals the oracle's precomputed-norm product
      // bit-for-bit, so ranks never move between lowerings.
      val e = Tables.read(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = broadcast(
        e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      val joined = e.join(q, col("vec_id") =!= col("qid"))
      joined
        .withColumn("cos", graft.ops.Similarity.cosine(joined, col("qv"), col("v")))
        .select(col("qid"), col("vec_id"), row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id").as("neighbor"))
    },
    Some("""WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nv FROM e),
      q AS (SELECT vec_id AS qid, v AS qv, nv AS nq FROM n WHERE vec_id % 50 = 0),
      s AS (SELECT qid, vec_id,
              list_sum([qv[i] * v[i] for i in generate_series(1, len(v))]) / (nq * nv) AS cos
            FROM n, q WHERE vec_id <> qid)
      SELECT qid, cast(rnk AS BIGINT) AS rnk, vec_id AS neighbor
      FROM (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM s)
      WHERE rnk <= 10"""),
  )

  /** Per-label embedding stats: integer-exact reduction over a vector
    * column (micro-units of the first dimension — float→double cast is
    * exact, so both engines see identical doubles).
    */
  val q28_embed_label_stats = QueryDef(
    "q28_embed_label_stats",
    (s, d) =>
      Tables.read(s, d, "embeddings")
        .select(col("label"),
          round(element_at(col("embedding").cast("array<double>"), 1) * 1000000)
            .cast("long").as("d1_micro"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("d1_micro").as("sum_d1_micro")),
    Some("""SELECT label, count(*) AS n,
      CAST(sum(cast(round(cast(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_d1_micro
      FROM embeddings GROUP BY label"""),
  )

  /** BPE-ish subword token counting (graft.ops.TextAnalysis
    * .bpeTokenCount): word pieces + digit runs + punctuation marks — the
    * token-budget signal of a training pipeline, with a portable regex
    * (same semantics in Java regex and RE2).
    */
  val q29_bpe_tokens = QueryDef(
    "q29_bpe_tokens",
    (s, d) =>
      Tables.read(s, d, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe")),
    Some("""SELECT doc_id,
      cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
      FROM documents"""),
  )

  /** Language-ID heuristic (graft.ops.TextAnalysis.langIdGuess): charset
    * ratio then stopword density, mirrored exactly in the oracle.
    */
  val q30_langid_guess = QueryDef(
    "q30_langid_guess",
    (s, d) =>
      Tables.read(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.ops.TextAnalysis.langIdGuess(col("text")).as("guess")),
    Some("""SELECT doc_id, lang,
      CASE
        WHEN length(regexp_replace(text, '[ -~]', '', 'g')) * 1.0 /
             greatest(length(text), 1) > 0.3 THEN 'cjk-ish'
        WHEN len(list_filter(regexp_split_to_array(lower(text), '\W+'),
               t -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], t))) * 1.0 /
             greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1)
          > 0.08 THEN 'en-ish'
        ELSE 'latin-other'
      END AS guess
      FROM documents"""),
  )

  /** Multimodal ingest metadata (graft.ops.Multimodal.asAsset): byte
    * length of the binary payload — the oracle-checkable slice of the
    * multimodal plumbing (decode features are stubbed, rows-only g50).
    */
  val q31_multimodal_bytes = QueryDef(
    "q31_multimodal_bytes",
    (s, d) =>
      graft.ops.Multimodal.asAsset(
        Tables.read(s, d, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload", "image", "png")
        .select(col("doc_id"), col("payload_meta.modality"),
          col("payload_meta.n_bytes")),
    Some("""SELECT doc_id, 'image' AS modality,
      cast(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents"""),
  )

  // -------------------------------------------------- temporal join family

  /** As-of join (graft.ops.AsOfJoin): for each click, the user's most
    * recent error at-or-before it. Spark lacks the operator; the lowering
    * is union + last-ignoreNulls window — ONE shuffle, no join node
    * (SURVEY's custom-operator path (a): compose existing ops). The
    * oracle is DuckDB's native ASOF LEFT JOIN.
    */
  val q32_asof_join = QueryDef(
    "q32_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"), col("ts"))
      graft.ops.AsOfJoin.asOf(clicks, errors, "user_id", "ts", "ts", Seq("err_id"))
        .select(col("user_id"), col("event_id"),
          coalesce(col("asof_err_id"), lit(-1L)).as("last_error"))
    },
    Some("""SELECT c.user_id, c.event_id, coalesce(e.event_id, -1) AS last_error
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts >= e.ts"""),
  )

  /** Equi-key bounded range join (graft.ops.AsOfJoin.rangePairs): event
    * pairs of the same user within 60 s — the per-key bound keeps the
    * fan-out linear in key cardinality, never a global cross product.
    */
  val q33_range_pairs = QueryDef(
    "q33_range_pairs",
    (s, d) => {
      val ev = Tables.events(s, d).select("user_id", "event_id", "ts")
      graft.ops.AsOfJoin.rangePairs(ev, ev.withColumnRenamed("event_id", "eid2"),
        "user_id", "ts", "ts", lit(60L * 1000000000L))
        .select(col("l.user_id"), col("l.event_id").as("a"), col("r.eid2").as("b"))
    },
    Some("""SELECT a.user_id, a.event_id AS a, b.event_id AS b
      FROM events a JOIN events b
      ON a.user_id = b.user_id AND epoch_ns(b.ts) > epoch_ns(a.ts)
         AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 60000000000"""),
  )

  /** Multi-level rollup (supplier x returnflag with subtotals) — the
    * GROUPING SETS family, and the one query that scans the supplier
    * dimension.
    */
  val q34_rollup = QueryDef(
    "q34_rollup",
    (s, d) => {
      Tables.read(s, d, "lineitem").createOrReplaceTempView("li_rollup")
      Tables.read(s, d, "supplier").createOrReplaceTempView("sup_rollup")
      s.sql("""SELECT coalesce(s_name, 'ALL') AS sn,
          coalesce(l_returnflag, 'ALL') AS rf,
          count(*) AS cnt,
          sum(cast(round(l_quantity * 100) AS BIGINT)) AS qty_cents
        FROM li_rollup JOIN sup_rollup ON l_suppkey = s_suppkey
        GROUP BY ROLLUP(s_name, l_returnflag)""")
    },
    Some("""SELECT coalesce(s_name, 'ALL') AS sn, coalesce(l_returnflag, 'ALL') AS rf,
      count(*) AS cnt,
      cast(sum(cast(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY ROLLUP(s_name, l_returnflag)"""),
  )

  /** Unigram-LM quality score (graft.ops.TextAnalysis.unigramScore): the
    * oracle bakes the SAME precomputed integer log-probs into a VALUES
    * lexicon, so both engines sum identical ints — exact match with no
    * cross-engine float arithmetic at all.
    */
  val q41_lm_quality: QueryDef = {
    val lexValues = graft.ops.TextAnalysis.unigramLogProbsMilli
      .map { case (w, lp) => s"('$w', $lp)" }
      .mkString(", ")
    QueryDef(
      "q41_lm_quality",
      (s, d) =>
        // coalesce pins null-text behavior: Spark would keep a null-score
        // row while DuckDB's unnest(NULL) would drop the doc entirely
        Tables.read(s, d, "documents").select(col("doc_id"),
          graft.ops.TextAnalysis.unigramScore(coalesce(col("text"), lit("")))
            .as("lm_milli")),
      Some(s"""WITH lex(w, lp) AS (VALUES $lexValues),
        tok AS (SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+')) AS t
                FROM documents)
        SELECT doc_id, cast(sum(coalesce(lp, ${graft.ops.TextAnalysis.oovPenaltyMilli})) AS BIGINT)
          AS lm_milli
        FROM tok LEFT JOIN lex ON t = w GROUP BY doc_id"""),
    )
  }

  /** Quality-bucket downsampling (CCNet-style): bucket documents into
    * global terciles of the integer LM score, keep the low/mid/high
    * buckets at 10% / 50% / 100% via the deterministic hash cell.
    * The terciles come from a HISTOGRAM of the bounded integer score
    * domain (map-side combinable; the cumulative window runs over the
    * dimension-sized histogram, never the corpus) and membership is a
    * pure hash function — no corpus sort, no RNG, reproducible under
    * any partitioning, and the whole pipeline replays exactly in SQL.
    */
  val q64_quality_sampling: QueryDef = {
    val lexValues = graft.ops.TextAnalysis.unigramLogProbsMilli
      .map { case (w, lp) => s"('$w', $lp)" }
      .mkString(", ")
    QueryDef(
      "q64_quality_sampling",
      (s, d) => {
        // spread the per-token lexicon scoring
        val scored = Barrier.spread(Tables.read(s, d, "documents"))
          .select(col("doc_id"),
          graft.ops.TextAnalysis.unigramScore(coalesce(col("text"), lit("")))
            .as("s"))
        graft.ops.Sampling.qualityBucketSample(scored, "doc_id", "s",
          keepPerMille = Seq(100L, 500L, 1000L))
          .select(col("doc_id"), col("bucket"), col("kept"))
      },
      Some {
        import DuckXxHash._
        val ch0 = chain("s0",
          s"SELECT doc_id, ${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val ch = ch0
          .cte("cellt", s"SELECT doc_id, ${pmod("h2out", 1000000L)} AS cell FROM ${ch0.last}")
          .cte("lex", s"SELECT * FROM (VALUES $lexValues) AS t(w, lp)")
          .cte("tok", "SELECT doc_id, unnest(regexp_split_to_array(" +
            "lower(trim(coalesce(text, ''))), '\\s+')) AS t FROM documents")
          .cte("sc", "SELECT doc_id, CAST(sum(coalesce(lp, " +
            s"${graft.ops.TextAnalysis.oovPenaltyMilli})) AS BIGINT) AS s " +
            "FROM tok LEFT JOIN lex ON t = w GROUP BY doc_id")
          .cte("hist", "SELECT s, count(*) AS c FROM sc GROUP BY s")
          .cte("cum", "SELECT s, sum(c) OVER (ORDER BY s) AS cum, " +
            "sum(c) OVER () AS n FROM hist")
          .cte("cuts", "SELECT min(CASE WHEN 3*cum >= n THEN s END) AS t0, " +
            "min(CASE WHEN 3*cum >= 2*n THEN s END) AS t1 FROM cum")
        ch.render(
          """SELECT sc.doc_id,
            CAST(CASE WHEN s <= t0 THEN 0 WHEN s <= t1 THEN 1 ELSE 2 END AS INT) AS bucket,
            CAST(CASE WHEN cell < (CASE WHEN s <= t0 THEN 100000
                                        WHEN s <= t1 THEN 500000
                                        ELSE 1000000 END)
                 THEN 1 ELSE 0 END AS INT) AS kept
          FROM sc CROSS JOIN cuts JOIN cellt ON sc.doc_id = cellt.doc_id""")
      },
    )
  }

  /** Deterministic train/val/test split: every row's band comes from
    * `pmod(xxhash64(doc_id, seed), 1M)` alone — no RNG state, no
    * shuffle, reproducible under any partitioning (unlike df.sample,
    * whose per-partition streams reshuffle membership on re-plan). The
    * oracle recomputes the hash bit-for-bit via DuckXxHash and applies
    * the same cut literals.
    */
  val q45_hash_split: QueryDef = {
    val weights = Seq(0.8, 0.1, 0.1)
    QueryDef(
      "q45_hash_split",
      (s, d) => graft.ops.Sampling.hashSplit(Tables.read(s, d, "documents"), "doc_id", weights)
        .select(col("doc_id"), col("split")),
      Some {
        import DuckXxHash._
        val total = weights.sum
        val cuts = weights.scanLeft(0.0)(_ + _).tail.init
          .map(c => (c / total * 1000000L).toLong)
        val ch = chain("s0",
          s"SELECT doc_id, ${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val cell = pmod("h2out", 1000000L)
        val ladder = cuts.zipWithIndex
          .map { case (cut, i) => s"WHEN $cell < $cut THEN $i" }
          .mkString(" ")
        ch.render(
          s"SELECT doc_id, CAST(CASE $ladder ELSE ${weights.length - 1} END AS INT)" +
            s" AS split FROM ${ch.last}")
      },
    )
  }

  /** Sequence packing (concat-then-chunk at maxTokens) over hash-bucketed
    * streams: per-bucket window cumsum, chunk id by integer division —
    * all integer arithmetic, so the oracle reproduces every offset
    * exactly. Buckets keep the sort parallel at 100 TB (no global order).
    */
  val q46_seq_packing: QueryDef = {
    val (maxTokens, nBuckets) = (2048, 8)
    QueryDef(
      "q46_seq_packing",
      (s, d) => {
        val withToks = Tables.read(s, d, "documents").select(col("doc_id"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast("long").as("n_tokens"))
        graft.ops.Packing.packSequences(withToks, "doc_id", "n_tokens",
          maxTokens, nBuckets)
      },
      Some {
        import DuckXxHash._
        val hashed = chain("s0",
          "SELECT doc_id, " +
            "cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks, " +
            s"${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("b1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("b2", "42::HUGEINT", "b1out"))
          .steps(hashLongSteps("o1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("o2", "43::HUGEINT", "o1out"))
        val ch = hashed.cte("keyed",
          s"SELECT doc_id, toks, ${pmod("b2out", nBuckets.toLong)} AS bucket, " +
            s"${signed("o2out")} AS ord FROM ${hashed.last}")
        ch.render(
          "SELECT doc_id, toks, bucket, " +
            "CAST(cum AS BIGINT) AS cum, " +
            s"CAST((cum - toks) // $maxTokens AS BIGINT) AS bin, " +
            s"CAST((cum - toks) % $maxTokens AS BIGINT) AS offset " +
            "FROM (SELECT doc_id, toks, bucket, " +
            "SUM(toks) OVER (PARTITION BY bucket ORDER BY ord, doc_id " +
            "ROWS UNBOUNDED PRECEDING) AS cum FROM keyed)")
      },
    )
  }

  /** Balanced per-class sampling: exactly k docs per language, picked by
    * hash order (deterministic, partitioning-invariant). The oracle runs
    * the same window over the same recomputed hash, so membership AND
    * the within-stratum ranking reproduce exactly.
    */
  val q47_stratified_k: QueryDef = {
    val k = 50
    QueryDef(
      "q47_stratified_k",
      (s, d) => graft.ops.Sampling.stratifiedFixedK(Tables.read(s, d, "documents"),
        "doc_id", "lang", k)
        .select(col("doc_id"), col("lang")),
      Some {
        import DuckXxHash._
        val hashed = chain("s0",
          s"SELECT doc_id, lang, ${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val ch = hashed.cte("ranked",
          s"SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
            s"ORDER BY ${signed("h2out")}, doc_id) AS rk FROM ${hashed.last}")
        ch.render(s"SELECT doc_id, lang FROM ${ch.last} WHERE rk <= $k")
      },
    )
  }

  /** Data mixing: rebalance three sources to a 50/30/20 target. Integer
    * threshold math (T = min(cnt*1M div share); thr = T*share div cnt)
    * plus the hash cell reproduce exactly in DuckDB, counts and all — no
    * constant smuggled from the Spark side.
    */
  val q48_source_remix: QueryDef = {
    val shares = Seq("src0" -> 500000L, "src1" -> 300000L, "src2" -> 200000L)
    QueryDef(
      "q48_source_remix",
      (s, d) => graft.ops.Sampling.remixSources(Tables.read(s, d, "documents"), "doc_id", "source",
        shares.toMap)
        .select(col("doc_id"), col("source")),
      Some {
        import DuckXxHash._
        val hashed = chain("s0",
          s"SELECT doc_id, source, ${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val ch = hashed
          .cte("cells", s"SELECT doc_id, source, ${pmod("h2out", 1000000L)} AS cellv " +
            s"FROM ${hashed.last}")
          .cte("shares", "SELECT * FROM (VALUES " +
            shares.map { case (s0, p) => s"('$s0', CAST($p AS BIGINT))" }.mkString(", ") +
            ") AS t(source, share_ppm)")
          .cte("cnts", "SELECT source, count(*) AS cnt FROM documents GROUP BY source")
          .cte("thr", "SELECT c.source, " +
            "(SELECT min(cnt * 1000000 // share_ppm) FROM cnts JOIN shares USING (source))" +
            " * share_ppm // cnt AS thr " +
            "FROM cnts c JOIN shares USING (source)")
        ch.render("SELECT doc_id, source FROM cells JOIN thr USING (source) " +
          "WHERE cellv < thr")
      },
    )
  }

  /** Repetition filters (graft.ops.TextAnalysis.repetitionSignals):
    * type-token ratio and top-bigram share in integer ppm — the
    * Gopher-family repetition signals. The oracle rebuilds the bigram
    * frequency table and both ratios from the same space-split.
    */
  val q49_repetition = QueryDef(
    "q49_repetition",
    (s, d) => graft.ops.TextAnalysis.repetitionSignals(Tables.read(s, d, "documents"),
      "doc_id", "text"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      base AS (SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct FROM w),
      bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                                    for i in generate_series(1, len(w) - 1)]) AS bg FROM w),
      top AS (SELECT doc_id, max(c) AS top_n FROM
                (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1)
      SELECT b.doc_id,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_distinct AS BIGINT) AS n_distinct,
        CAST(floor(n_distinct * 1000000 / greatest(n_tokens, 1)) AS BIGINT) AS ttr_ppm,
        CAST(coalesce(top_n, 0) AS BIGINT) AS top_bigram_n,
        CAST(CASE WHEN n_tokens >= 2
                  THEN floor(coalesce(top_n, 0) * 1000000 / (n_tokens - 1))
                  ELSE 0 END AS BIGINT) AS top_bigram_ppm
      FROM base b LEFT JOIN top USING (doc_id)"""),
  )

  /** Benchmark decontamination (graft.ops.Contamination.ngramHits):
    * docs sharing word trigrams with a pseudo-benchmark slice
    * (doc_id % 97 = 0). n = 3 here so the sf-sized corpus produces a
    * non-trivial hit set; production decontamination runs n = 8..13
    * through the same operator.
    */
  val q50_contamination = QueryDef(
    "q50_contamination",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
      graft.ops.Contamination.ngramHits(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    },
    Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in generate_series(1, len(w) - 2)]) AS sh
             FROM w),
      bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM sh JOIN bsh USING (sh)
      WHERE doc_id % 97 <> 0
      GROUP BY doc_id"""),
  )

  /** PII scrubbing (graft.ops.TextAnalysis.piiCounts/scrubPii): the
    * corpus has no real PII, so both engines graft the SAME
    * deterministic doc_id-derived email/SSN/phone fragments onto the
    * text, then count and redact them — counts and the md5 of the
    * scrubbed text must agree exactly.
    */
  val q51_pii_scrub = QueryDef(
    "q51_pii_scrub",
    (s, d) => {
      val id = col("doc_id")
      val pii = concat(col("text"),
        when(id % 3 === 0,
          concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" ssn 123-45-"), lpad((id % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(id % 2 === 0,
          concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"), lit("-0199")))
          .otherwise(lit("")))
      val withPii = Tables.read(s, d, "documents").select(id, pii.as("__t"))
      withPii.select((col("doc_id") +:
        graft.ops.TextAnalysis.piiCounts(col("__t"))) :+
        md5(graft.ops.TextAnalysis.scrubPii(col("__t"))).as("scrub_fp"): _*)
    },
    Some("""WITH p AS (SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 2 = 0
                THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
                ELSE '' END AS t
      FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
        CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        md5(regexp_replace(regexp_replace(regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
          '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_fp
      FROM p"""),
  )

  /** Exact per-type latency-style quantiles over events
    * (graft.ops.Quantiles.exactQuantiles): nearest-rank p50/p90/p99 of
    * the value column in integer micros — all rank arithmetic integer,
    * so the oracle reproduces the exact same rows.
    */
  val q52_event_quantiles = QueryDef(
    "q52_event_quantiles",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        round(col("value") * 1000000).cast("long").as("v_micro"))
      graft.ops.Quantiles.exactQuantiles(ev, "event_type",
        col("v_micro"), col("event_id"), Seq(50, 90, 99))
        .select(col("event_type"), col("n"),
          col("p50").as("p50_micro"), col("p90").as("p90_micro"),
          col("p99").as("p99_micro"))
    },
    Some("""WITH v AS (SELECT event_type, event_id,
               CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      r AS (SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM v)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS BIGINT) AS p50_micro,
        CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN v END) AS BIGINT) AS p90_micro,
        CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99_micro
      FROM r GROUP BY event_type"""),
  )

  /** End-to-end curation funnel: exact dedup (keep-first) → token-count
    * quality gate → per-source survivor counts and token budget — the
    * report a corpus-curation run actually ships. Composes Dedup.exact
    * and TextAnalysis.wsTokenCount; the per-source aggregations are
    * map-side combinable and the final joins are on the source
    * dimension (tiny). The oracle replays the identical funnel in SQL.
    *
    * Whitespace caveat (applies to every `\s`-normalizing oracle here):
    * Java regex `\s` includes vertical tab (\x0B), DuckDB's RE2 `\s`
    * does not. The documents corpus contains no VT, so the engines
    * agree; a corpus with VT would need an explicit class like
    * `[ \t\n\r\f]` on BOTH sides for byte-identical semantics.
    */
  val q53_curation_funnel = QueryDef(
    "q53_curation_funnel",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
      val surv = graft.ops.Dedup.exact(all, "text", "doc_id")
      val tok = surv.select(col("source"),
        graft.ops.TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      val base = all.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val kept = surv.groupBy("source").agg(count(lit(1)).as("n_kept"))
      val fin = tok.filter(col("n_tokens") >= 20).groupBy("source")
        .agg(count(lit(1)).as("n_final"), sum("n_tokens").as("tok_budget"))
      base.join(kept, Seq("source"), "left").join(fin, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("tok_budget"), lit(0L)).as("tok_budget"))
    },
    Some("""WITH fp AS (SELECT doc_id, source, text,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
             FROM documents),
      surv AS (SELECT * FROM (SELECT *, row_number() OVER
                 (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp) WHERE rn = 1),
      tok AS (SELECT source, CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
              FROM surv),
      base AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      kept AS (SELECT source, count(*) AS n_kept FROM surv GROUP BY source),
      fin AS (SELECT source, count(*) AS n_final,
                CAST(sum(n_tokens) AS BIGINT) AS tok_budget
              FROM tok WHERE n_tokens >= 20 GROUP BY source)
      SELECT base.source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        CAST(coalesce(n_final, 0) AS BIGINT) AS n_final,
        CAST(coalesce(tok_budget, 0) AS BIGINT) AS tok_budget
      FROM base LEFT JOIN kept USING (source) LEFT JOIN fin USING (source)"""),
  )

  /** Embedding cluster assignment, oracle-checkable: the argmax-dot
    * assignment of Similarity.assignClusters, run over integer-quantized
    * vectors (micros) against hash-derived pseudo-centroids with integer
    * components — every dot product is exact BIGINT arithmetic, so an
    * independent engine reproduces each assignment bit-for-bit (a FITTED
    * codebook would pin the same contract through float scores, which no
    * cross-engine oracle can hash-match). Scale shape: centroid
    * components derive from xxhash64(c, i) scan-side — no broadcast
    * needed at all — and the argmax is one keyed window.
    */
  val q54_cluster_assign: QueryDef = {
    val k = 8
    QueryDef(
      "q54_cluster_assign",
      (s, d) =>
        graft.ops.SemanticDedup.hashClusterAssign(Tables.read(s, d, "embeddings"),
          "vec_id", "embedding", k),
      Some {
        import DuckXxHash._
        val ch = chain("e",
          "SELECT vec_id, [CAST(round(x * 1000000) AS BIGINT) " +
            "for x in CAST(embedding AS DOUBLE[])] AS vq FROM embeddings")
          .cte("comp",
            // parallel unnest zips the index list with the components
            // (generate_series as a LATERAL table function can't see vq)
            "SELECT vec_id, unnest(generate_series(1, len(vq))) AS i, " +
              "unnest(vq) AS x FROM e")
          .cte("cells",
            s"SELECT c, i FROM generate_series(0, ${k - 1}) AS tc(c), " +
              "(SELECT DISTINCT i FROM comp) ti")
          .steps(hashLongSteps("h1", unsigned("c"), "42::HUGEINT"))
          .steps(hashLongSteps("h2", unsigned("i"), "h1out"))
        val ch2 = ch
          .cte("cent",
            s"SELECT c, i, ${pmod("h2out", 2001L)} - 1000 AS comp FROM ${ch.last}")
          .cte("scores",
            "SELECT vec_id, c, CAST(SUM(x * comp) AS BIGINT) AS score " +
              "FROM comp JOIN cent USING (i) GROUP BY 1, 2")
        ch2.render(
          "SELECT vec_id, CAST(c AS BIGINT) AS cluster, score FROM " +
            "(SELECT vec_id, c, score, row_number() OVER " +
            "(PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scores) " +
            "WHERE rn = 1")
      },
    )
  }

  /** Exact corpus heavy hitters: the top-20 most frequent tokens — the
    * vocabulary-stats pass of corpus analysis. Shape: one map-side-
    * combinable aggregation on the token, then TakeOrderedAndProject
    * (top-k never sorts the full vocabulary globally). Ties at the
    * cut break by token, so the result set is deterministic.
    */
  val q55_heavy_hitters = QueryDef(
    "q55_heavy_hitters",
    (s, d) => Tables.read(s, d, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20),
    Some("""SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 20"""),
  )

  /** Per-document distinctive term: the token with the LOWEST document
    * frequency in each doc (ties broken lexically), plus its df and
    * in-doc tf — the integer core of TF-IDF keyword extraction, kept
    * log-free so the oracle is exact. Shape: tf = one (doc, token)
    * aggregation; df = one token aggregation over distinct pairs; the
    * df table joins back on the token key; argmin is one keyed window.
    */
  val q56_distinctive_terms = QueryDef(
    "q56_distinctive_terms",
    (s, d) => {
      val tok = Tables.read(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
      tf.join(df, "tok")
        .select(col("doc_id"), col("tok"), col("df"), col("tf"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("tok").as("top_term"), col("df"), col("tf"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2),
      df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok)
      SELECT doc_id, tok AS top_term, df, tf FROM
        (SELECT doc_id, tok, df, tf, row_number() OVER
           (PARTITION BY doc_id ORDER BY df, tok) AS rn
         FROM tf JOIN df USING (tok))
      WHERE rn = 1"""),
  )

  /** Triangle counts on the near-dup graph: per-doc triangle
    * participation over the shingle-share pair graph (>= 2 common word
    * trigrams) — the cluster-density signal that tells boilerplate
    * families (dense cliques) from chance pair collisions (no
    * triangles). Distributed shape: edges come from the same
    * df-capped inverted shingle index as q23 (never all-pairs, bounded
    * per-shingle fan-out — see Dedup.exactShinglePairs), stored once
    * with a < b and reused three ways; triangle enumeration is two
    * equi-joins on edge endpoints with the a < b < c orientation
    * guaranteeing each triangle materializes exactly once (the standard
    * distributed triangle count; at extreme skew you'd orient by degree
    * instead of id, same plan shape).
    */
  val q57_neardup_triangles = QueryDef(
    "q57_neardup_triangles",
    (s, d) => {
      // already cut by exactShinglePairs — safe to reuse
      // three ways without re-running the shingle join
      val pairs = graft.ops.Dedup.exactShinglePairs(Tables.read(s, d, "documents"),
        "doc_id", "text")
        .select("a", "b")
      val tri = pairs.as("e1")
        .join(pairs.as("e2"), col("e1.b") === col("e2.a"))
        .join(pairs.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      sh0 AS (SELECT DISTINCT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in generate_series(1, len(w) - 2)]) AS sh FROM w),
      sh AS (SELECT doc_id, sh FROM
               (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0)
             WHERE df <= 64),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b FROM sh x JOIN sh y
                ON x.sh = y.sh AND x.doc_id < y.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 2),
      t AS (SELECT e1.a, e1.b, e2.b AS c FROM pairs e1
            JOIN pairs e2 ON e1.b = e2.a
            JOIN pairs e3 ON e1.a = e3.a AND e2.b = e3.b)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT unnest([a, b, c]) AS doc_id FROM t) GROUP BY doc_id"""),
  )

  /** Cohort retention over events: users bucketed by first-seen day,
    * activity counted per (cohort, day-offset) — the standard retention
    * matrix. Day arithmetic is integer (date difference), so the matrix
    * reproduces exactly. Shape: one user-keyed min-agg, an equi-join
    * back (AQE broadcasts the cohort side when small), one distinct +
    * count — all map-side combinable.
    */
  val q58_cohort_retention = QueryDef(
    "q58_cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        to_date(timestamp_micros(expr("ts div 1000"))).as("day"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(cohort, "user_id")
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      coh AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
      x AS (SELECT DISTINCT cohort_day,
              CAST(day - cohort_day AS BIGINT) AS day_offset, user_id
            FROM ev JOIN coh USING (user_id))
      SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
      FROM x GROUP BY 1, 2"""),
  )

  /** Ordered conversion funnel (view -> click -> purchase, each stage
    * at-or-after the previous stage's first hit) with per-user
    * end-to-end latency in integer ms. Each stage is one filtered
    * user-keyed min-agg plus an equi-join on the shrinking survivor
    * set — no window over the full event stream, no self-join blowup.
    */
  val q59_event_funnel = QueryDef(
    "q59_event_funnel",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          col("t_click").isNotNull.cast("long").as("reached_click"),
          col("t_purchase").isNotNull.cast("long").as("reached_purchase"),
          coalesce(expr("(t_purchase - t_view) div 1000000"), lit(-1L))
            .as("latency_ms"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
      v AS (SELECT user_id, min(ts) AS t_view FROM ev
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS t_click FROM ev e JOIN v USING (user_id)
            WHERE event_type = 'click' AND e.ts >= t_view GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM ev e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND e.ts >= t_click GROUP BY 1)
      SELECT v.user_id,
        CAST(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS reached_click,
        CAST(CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS reached_purchase,
        CAST(coalesce((t_purchase - t_view) // 1000000, -1) AS BIGINT) AS latency_ms
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""),
  )

  /** Event-type transition matrix (first-order sequence mining): counts
    * of consecutive (prev -> next) event-type pairs per user stream,
    * ordered by time with the event id as the deterministic tiebreak.
    * One keyed window (lag) + one map-side-combinable aggregation.
    */
  val q60_event_transitions = QueryDef(
    "q60_event_transitions",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT event_type, lag(event_type) OVER
          (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
        FROM events)
      WHERE prev IS NOT NULL GROUP BY 1, 2"""),
  )

  /** Embedding outlier detection: vectors whose squared norm (exact
    * BIGINT, in micro² units) exceeds their label's nearest-rank p99 —
    * the vector-quality gate of an embedding pipeline, composed from
    * graft.ops.Quantiles.exactQuantiles. All arithmetic integer; the
    * per-label threshold join broadcasts (one row per label).
    */
  val q61_embedding_outliers = QueryDef(
    "q61_embedding_outliers",
    (s, d) => {
      val n2 = Tables.read(s, d, "embeddings").select(col("label"), col("vec_id"),
        aggregate(
          transform(col("embedding").cast("array<double>"),
            x => round(x * 1000000).cast("long")),
          lit(0L), (acc, m) => acc + m * m).as("norm2"))
      val p90 = graft.ops.Quantiles.exactQuantiles(n2, "label",
        col("norm2"), col("vec_id"), Seq(90)).select(col("label"), col("p90"))
      n2.join(broadcast(p90), "label")
        .filter(col("norm2") > col("p90"))
        .select(col("vec_id"), col("label"), col("norm2"), col("p90"))
    },
    Some("""WITH n AS (SELECT label, vec_id,
        CAST(list_sum([m * m for m in
          [CAST(round(x * 1000000) AS BIGINT) for x in CAST(embedding AS DOUBLE[])]])
          AS BIGINT) AS norm2 FROM embeddings),
      r AS (SELECT label, vec_id, norm2,
              row_number() OVER (PARTITION BY label ORDER BY norm2, vec_id) AS rn,
              count(*) OVER (PARTITION BY label) AS cnt FROM n),
      q AS (SELECT label, max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN norm2 END) AS p90
            FROM r GROUP BY label)
      SELECT vec_id, n.label, norm2, p90
      FROM n JOIN q USING (label) WHERE norm2 > p90"""),
  )

  /** Span-level (sub-document) dedup report: the C4/RefinedWeb pass
    * that removes REPEATED SPANS from otherwise-distinct documents —
    * invisible to doc-level dedup. Spans are 10-word non-overlapping
    * tiles (deterministic and alignment-stable, unlike sentence
    * splitting on a punctuation-free corpus). Keep-first semantics:
    * a duplicated tile survives only at its globally first (doc,
    * position). Output is compact (counts + cleaned-text md5), so the
    * hash-compare works at any corpus size. Scale shape: scan-side
    * tile explode, one map-side-combinable tile census (count +
    * min(struct) — both partial-aggregable, no giant window sort on a
    * hot boilerplate tile), one equi-join back.
    */
  val q62_span_dedup = QueryDef(
    "q62_span_dedup",
    (s, d) => graft.ops.SpanDedup.spanDedupReport(Tables.read(s, d, "documents"), "doc_id", "text"),
    Some("""WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
               FROM documents),
      t AS (SELECT doc_id,
              unnest(generate_series(1, greatest(len(ws) // 10, 0))) AS idx,
              unnest([array_to_string(ws[(i-1)*10+1:i*10], ' ')
                      for i in generate_series(1, greatest(len(ws) // 10, 0))]) AS tile
            FROM d),
      r AS (SELECT doc_id, idx, tile,
              count(*) OVER (PARTITION BY tile) AS cnt,
              row_number() OVER (PARTITION BY tile ORDER BY doc_id, idx) AS rn
            FROM t),
      stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tiles,
                  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tiles
                FROM r GROUP BY doc_id),
      keptt AS (SELECT doc_id, string_agg(tile, ' ' ORDER BY idx) AS kept
                FROM r WHERE cnt = 1 OR rn = 1 GROUP BY doc_id),
      tails AS (SELECT doc_id,
                  array_to_string(ws[len(ws) // 10 * 10 + 1 : len(ws)], ' ') AS tail
                FROM d)
      SELECT d.doc_id,
        coalesce(s.n_tiles, 0) AS n_tiles,
        coalesce(s.n_dup_tiles, 0) AS n_dup_tiles,
        md5(concat_ws(' ', nullif(k.kept, ''), nullif(tl.tail, ''))) AS clean_md5
      FROM d LEFT JOIN stats s USING (doc_id)
             LEFT JOIN keptt k USING (doc_id)
             JOIN tails tl USING (doc_id)"""),
  )

  /** Winnowing fingerprint sketches (the MOSS local-fingerprinting
    * scheme): per-window minimum gram hash, distinct per doc — any
    * shared run of k+window-1 = 6 words between two docs yields a
    * common fingerprint. Doc-keyed windows only (one shuffle, per-doc
    * parallel sorts); md5-hex lexicographic min is engine-portable.
    */
  val q63_winnow_sketch = QueryDef(
    "q63_winnow_sketch",
    (s, d) => graft.ops.Winnowing.fingerprints(Tables.read(s, d, "documents"), "doc_id", "text"),
    Some("""WITH w AS (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS ws
               FROM documents),
      words AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos,
                  unnest(ws) AS w FROM w),
      grams AS (SELECT doc_id, pos,
                  md5(concat_ws(' ', w, lead(w, 1) OVER win, lead(w, 2) OVER win)) AS h,
                  count(*) OVER (PARTITION BY doc_id) AS n
                FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      g2 AS (SELECT doc_id, pos, h, n - 2 AS m FROM grams WHERE pos <= n - 2),
      fps AS (SELECT doc_id, pos, m,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM g2)
      SELECT DISTINCT doc_id, fp FROM fps
      WHERE pos <= greatest(m - 3, 1)"""),
  )

  /** Overlap pairs from the winnowing sketches: docs sharing >= 2
    * fingerprints. The join runs on the SKETCH (~2/(w+1) the size of
    * the full gram set — the point of winnowing), with the same
    * df <= 64 posting-list cap as the shingle path bounding per-key
    * fan-out at C(64,2) regardless of corpus size.
    */
  val q65_winnow_pairs = QueryDef(
    "q65_winnow_pairs",
    (s, d) => {
      val fps = graft.ops.Winnowing.fingerprints(Tables.read(s, d, "documents"), "doc_id", "text")
      val capped = fps
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= 64)
        .select("doc_id", "fp")
      capped.as("x")
        .join(capped.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
    },
    Some("""WITH w AS (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS ws
               FROM documents),
      words AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos,
                  unnest(ws) AS w FROM w),
      grams AS (SELECT doc_id, pos,
                  md5(concat_ws(' ', w, lead(w, 1) OVER win, lead(w, 2) OVER win)) AS h,
                  count(*) OVER (PARTITION BY doc_id) AS n
                FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      g2 AS (SELECT doc_id, pos, h, n - 2 AS m FROM grams WHERE pos <= n - 2),
      fraw AS (SELECT doc_id, pos, m,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM g2),
      fps AS (SELECT DISTINCT doc_id, fp FROM fraw WHERE pos <= greatest(m - 3, 1)),
      capped AS (SELECT doc_id, fp FROM
                   (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
                 WHERE df <= 64)
      SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
      FROM capped x JOIN capped y ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2"""),
  )

  /** Deterministic global shuffle + sharding (training-data
    * serialization order): shard = hash band, position = hash-rank
    * within the shard. Reproducible and partitioning-invariant (unlike
    * orderBy(rand)); no global sort — shards sort independently under
    * a keyed window. The oracle replays the hash and both window
    * functions exactly.
    */
  val q66_det_shuffle = QueryDef(
    "q66_det_shuffle",
    (s, d) => graft.ops.Sampling.deterministicShuffle(Tables.read(s, d, "documents"), "doc_id", 8)
      .select(col("doc_id"), col("shard"), col("pos")),
    Some {
      import DuckXxHash._
      val ch = chain("s0",
        s"SELECT doc_id, ${unsigned("doc_id")} AS v FROM documents")
        .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
        .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
      ch.render(
        s"""SELECT doc_id, CAST(${pmod("h2out", 8L)} AS INT) AS shard,
          CAST(row_number() OVER (PARTITION BY ${pmod("h2out", 8L)}
            ORDER BY ${signed("h2out")}, doc_id) AS BIGINT) AS pos
        FROM ${ch.last}""")
    },
  )

  /** Int8 scalar quantization of the embedding corpus, flattened to
    * (vec_id, i, q) so the oracle is dimension-by-dimension. Every code
    * is produced by correctly-rounded double ops (see ops.Quantization),
    * so DuckDB replaying the same formula on the same floats must agree
    * bit-for-bit — the oracle proves the quantized corpus is
    * engine-independent, which is the property that lets a 100 TB ANN
    * index be rebuilt anywhere.
    */
  val q67_quantize_int8 = QueryDef(
    "q67_quantize_int8",
    (s, d) => {
      val v = col("embedding").cast("array<double>")
      // spread the per-component rounding
      Barrier.spread(Tables.read(s, d, "embeddings"))
        .select(col("vec_id"),
          posexplode(graft.ops.Quantization.int8Codes(v)).as(Seq("i", "q")))
        .select(col("vec_id"), col("i").cast("int").as("i"), col("q"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      mm AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS m FROM e)
      SELECT vec_id, CAST(s.i AS INT) AS i, CAST(s.q AS BIGINT) AS q
      FROM (SELECT vec_id,
              unnest([{'i': x - 1,
                       'q': CASE WHEN m = 0 THEN 0
                            ELSE floor(v[x] * 127 / m + 0.5) END}
                      for x in generate_series(1, len(v))]) AS s
            FROM mm)"""),
  )

  /** Asymmetric-distance ANN over the quantized corpus: top-k by the
    * candidate-rescaled integer dot of int8 codes (dot · scale_micro —
    * see ops.Quantization.int8TopK for why the rescale is required).
    * Score and ranking are exact integer arithmetic — no FP ties, no
    * cross-engine drift — and the kernel is the int multiply-add loop a
    * 100 TB scan wants (4× less memory traffic than float32 brute
    * force; same broadcast-queries shape as q27).
    */
  val q68_quantized_ann = QueryDef(
    "q68_quantized_ann",
    (s, d) => {
      val e = Tables.read(s, d, "embeddings")
      graft.ops.Quantization.int8TopK(
        e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      un AS (SELECT vec_id,
               CASE WHEN sqrt(list_sum([x * x for x in v])) = 0 THEN [0.0 for x in v]
                    ELSE [x / sqrt(list_sum([y * y for y in v])) for x in v] END AS v
             FROM e),
      mm AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS m FROM un),
      z AS (SELECT vec_id,
              [CASE WHEN m = 0 THEN 0 ELSE CAST(floor(v[x] * 127 / m + 0.5) AS BIGINT) END
               for x in generate_series(1, len(v))] AS codes,
              CAST(floor(m * 1e6 + 0.5) AS BIGINT) AS sm
            FROM mm),
      q AS (SELECT vec_id AS qid, codes AS qcodes FROM z WHERE vec_id % 50 = 0),
      sc AS (SELECT qid, vec_id,
               CAST(list_sum([codes[i] * qcodes[i]
                 for i in generate_series(1, len(codes))]) * sm AS BIGINT) AS score
             FROM z, q WHERE vec_id <> qid)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id AS neighbor, score
      FROM (SELECT qid, vec_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
            FROM sc)
      WHERE rnk <= 10"""),
  )

  /** KMV distinct-count sketch per event type: the k smallest distinct
    * unsigned xxhash64(user_id) values, via the native map-side-
    * combinable `kmv_sketch` aggregate (capped k-long buffer — the
    * shuffle carries ≤ k longs per group per map task, never the
    * distinct key set). The sketch is a pure function of the key SET, so
    * DuckDB re-deriving it (distinct keys → XXH64 chain → bottom k by
    * unsigned order) must agree bit-for-bit. The estimator
    * ([[graft.ops.Sketches.kmvEstimate]]) is statistical post-processing
    * and deliberately not part of the oracle.
    */
  val q69_kmv_sketch: QueryDef = {
    val k = 32
    QueryDef(
      "q69_kmv_sketch",
      (s, d) => graft.ops.Sketches.kmvSketch(Tables.events(s, d), "event_type", "user_id", k)
        .select(col("event_type"), posexplode(col("kmv")).as(Seq("p", "h")))
        .select(col("event_type"), (col("p") + 1).cast("long").as("rnk"), col("h")),
      Some {
        import DuckXxHash._
        val ch = chain("d", "SELECT DISTINCT event_type, user_id FROM events")
          .steps(hashLongSteps("h", unsigned("user_id"), "42::HUGEINT"))
        val ch2 = ch.cte("r",
          "SELECT event_type, hout, row_number() OVER " +
            s"(PARTITION BY event_type ORDER BY hout) AS rnk FROM ${ch.last}")
        ch2.render(
          s"SELECT event_type, CAST(rnk AS BIGINT) AS rnk, ${signed("hout")} AS h " +
            s"FROM r WHERE rnk <= $k")
      },
    )
  }

  /** SemDeDup-style semantic dedup over the embedding corpus plus 20
    * PLANTED duplicates (scaled copies — scaling is invisible after unit
    * normalization, and power-of-2 scaling is bit-invisible: 2x/‖2x‖
    * rounds identically to x/‖x‖, so codes match exactly). Clusters
    * prune the candidate pairs (same-cluster only), int8 integer dots
    * score them — the whole decision replays bit-for-bit in DuckDB. The
    * corpus's own max pairwise cosine is ~0.55, so the 0.9 threshold
    * keeps exactly the planted pairs plus nothing.
    */
  val q70_semantic_dedup: QueryDef = {
    val k = 8
    val thr = graft.ops.SemanticDedup.scoreThreshold(0.9)
    QueryDef(
      "q70_semantic_dedup",
      (s, d) => {
        val e = Tables.read(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val planted = e.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2d)).as("embedding"))
        graft.ops.SemanticDedup.semanticPairs(
          e.unionByName(planted), "vec_id", "embedding", k, thr)
      },
      Some {
        import DuckXxHash._
        val ch = chain("e0",
          "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
          .cte("corpus",
            "SELECT vec_id, v FROM e0 UNION ALL " +
              "SELECT vec_id + 100000, [x * 2 for x in v] FROM e0 WHERE vec_id % 25 = 0")
          // int8 quantization of the unit-normalized vectors (q67/q68 formula)
          .cte("un",
            "SELECT vec_id, CASE WHEN sqrt(list_sum([x * x for x in v])) = 0 " +
              "THEN [0.0 for x in v] " +
              "ELSE [x / sqrt(list_sum([y * y for y in v])) for x in v] END AS u FROM corpus")
          .cte("mm", "SELECT vec_id, u, list_max([abs(x) for x in u]) AS m FROM un")
          .cte("z",
            "SELECT vec_id, [CASE WHEN m = 0 THEN 0 " +
              "ELSE CAST(floor(u[x] * 127 / m + 0.5) AS BIGINT) END " +
              "for x in generate_series(1, len(u))] AS codes, " +
              "CAST(floor(m * 1e6 + 0.5) AS BIGINT) AS sm FROM mm")
          // hash-pseudo-centroid assignment (q54 chain, over the corpus)
          .cte("comp",
            "SELECT vec_id, unnest(generate_series(1, len(vq))) AS i, unnest(vq) AS x " +
              "FROM (SELECT vec_id, [CAST(round(x * 1000000) AS BIGINT) for x in v] AS vq " +
              "FROM corpus)")
          .cte("cells",
            s"SELECT c, i FROM generate_series(0, ${k - 1}) AS tc(c), " +
              "(SELECT DISTINCT i FROM comp) ti")
          .steps(hashLongSteps("h1", unsigned("c"), "42::HUGEINT"))
          .steps(hashLongSteps("h2", unsigned("i"), "h1out"))
        val ch2 = ch
          .cte("cent",
            s"SELECT c, i, ${pmod("h2out", 2001L)} - 1000 AS comp FROM ${ch.last}")
          .cte("ascore",
            "SELECT vec_id, c, CAST(SUM(x * comp) AS BIGINT) AS score " +
              "FROM comp JOIN cent USING (i) GROUP BY 1, 2")
          .cte("assign",
            "SELECT vec_id, c AS cluster FROM (SELECT vec_id, c, row_number() OVER " +
              "(PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM ascore) WHERE rn = 1")
          .cte("zc", "SELECT z.*, cluster FROM z JOIN assign USING (vec_id)")
        ch2.render(
          "SELECT CAST(a.cluster AS BIGINT) AS cluster, a.vec_id AS a, b.vec_id AS b, " +
            "CAST(CAST(list_sum([a.codes[i] * b.codes[i] " +
            "for i in generate_series(1, len(a.codes))]) AS BIGINT) " +
            "* a.sm * b.sm AS BIGINT) AS score " +
            "FROM zc a JOIN zc b ON a.cluster = b.cluster AND a.vec_id < b.vec_id " +
            "WHERE CAST(CAST(list_sum([a.codes[i] * b.codes[i] " +
            "for i in generate_series(1, len(a.codes))]) AS BIGINT) " +
            s"* a.sm * b.sm AS BIGINT) >= $thr")
      },
    )
  }

  /** Misra–Gries frequent-items sketch per language: top sources by
    * document count via the native map-side-combinable `freq_sketch`
    * aggregate (capped counter map — the shuffle carries ≤ capacity
    * counters per group per map task, never one row per distinct key;
    * the lever that keeps heavy-hitter profiling constant-shuffle over
    * open domains at 100 TB). Capacity 32 exceeds the corpus's ~20
    * distinct sources per language, so the sketch is in its EXACT
    * regime — a pure function of the counted multiset — and DuckDB
    * re-deriving it as plain counts ranked (cnt desc, item asc) must
    * agree bit-for-bit. The approximate regime's guarantee triple is
    * asserted in ScalaTest, not here.
    */
  val q71_freq_sketch: QueryDef = {
    val cap = 32
    QueryDef(
      "q71_freq_sketch",
      (s, d) => graft.ops.Sketches.freqSketch(Tables.read(s, d, "documents"), "lang", "source", cap)
        .select(col("lang"), posexplode(col("freq")).as(Seq("p", "f")))
        .select(col("lang"), (col("p") + 1).cast("long").as("rnk"),
          col("f.item").as("item"), col("f.cnt").as("cnt")),
      Some(
        s"""WITH c AS (SELECT lang, source AS item, count(*) AS cnt
          FROM documents GROUP BY 1, 2),
        r AS (SELECT lang, item, cnt, row_number() OVER
          (PARTITION BY lang ORDER BY cnt DESC, item) AS rnk FROM c)
        SELECT lang, CAST(rnk AS BIGINT) AS rnk, item, CAST(cnt AS BIGINT) AS cnt
        FROM r WHERE rnk <= $cap"""),
    )
  }

  /** Corpus-level boilerplate removal (CCNet/C4 document-frequency
    * rule): 3-token chunks appearing in more than 50 distinct documents
    * are dropped, survivors reassembled in order. The whole decision —
    * chunking, df counting, anti-join, ordered reassembly — replays as
    * set arithmetic in DuckDB, so the cleaned TEXT itself hash-matches,
    * not just the counts. 3-token chunks over the ~40-word corpus
    * vocabulary give a real df mix (some chunks boilerplate, most not).
    */
  val q72_boilerplate: QueryDef = {
    val (ct, maxDf) = (3, 50)
    QueryDef(
      "q72_boilerplate",
      (s, d) => graft.ops.TextAnalysis.removeBoilerplateChunks(
        Tables.read(s, d, "documents"), "doc_id", "text", ct, maxDf),
      Some(
        s"""WITH nc AS (SELECT doc_id, t, CAST(ceil(len(t) / $ct.0) AS BIGINT) AS n
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        chunks AS (SELECT doc_id, pos,
            array_to_string(t[(pos*$ct+1):(pos*$ct+$ct)], ' ') AS chunk
          FROM (SELECT doc_id, t,
              unnest(generate_series(0, n - 1)) AS pos FROM nc)),
        boiler AS (SELECT chunk FROM
          (SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY 1)
          WHERE df > $maxDf),
        agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
            count(*) AS n_kept
          FROM chunks WHERE chunk NOT IN (SELECT chunk FROM boiler) GROUP BY 1)
        SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
          CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
          CAST(n.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        FROM nc n LEFT JOIN agg a ON n.doc_id = a.doc_id"""),
    )
  }

  /** Z-order layout key over events: interleave 8-bit buckets of
    * (user_id, event second). The key is pure scan-side bit arithmetic
    * (no shuffle, no UDF) and DuckDB re-derives it with the same shift/
    * mask expressions — bit-for-bit. The layout application
    * ([[graft.ops.Bucketing.zorderBy]]: one range exchange + local
    * sort) is asserted on plan shape and locality in ScalaTest; the
    * oracle pins the key math itself. Nanos stay in INTEGER division
    * end-to-end (epoch seconds ≈ 1.7e18 nanos is above 2^53 — double
    * math would corrupt low bits on both engines).
    */
  val q73_zorder_key: QueryDef = {
    val bits = 8
    QueryDef(
      "q73_zorder_key",
      (s, d) => {
        val ev = Tables.events(s, d)
        val x = col("user_id").bitwiseAND(lit(255L))
        val y = expr("ts div 1000000000").bitwiseAND(lit(255L))
        ev.select(col("event_id"),
          graft.ops.Bucketing.zorderKey(Seq(x, y), bits).as("zkey"))
      },
      Some {
        val terms = (0 until bits).flatMap { b =>
          Seq(s"((((user_id & 255) >> $b) & 1) << ${2 * b})",
            s"((((epoch_ns(ts) // 1000000000) & 255) >> $b) & 1) << ${2 * b + 1}")
        }
        s"SELECT event_id, CAST(${terms.map(t => s"($t)").mkString(" | ")} AS BIGINT) AS zkey FROM events"
      },
    )
  }

  /** JL ±1 random projection of the embedding corpus to 8 dims
    * ([[graft.ops.Quantization.jlProject]]): micro-quantized components
    * times hash-derived signs, summed — integer-exact end to end, so
    * the DuckDB replay (same XXH64 chain over (j, i), same sign rule)
    * hash-matches every projected value. The sign "matrix" is
    * re-derived from the hash at every engine — nothing to broadcast,
    * nothing to store, scan-side only.
    */
  val q74_jl_project: QueryDef = {
    val dims = 8
    QueryDef(
      "q74_jl_project",
      (s, d) => graft.ops.Quantization.jlProject(Tables.read(s, d, "embeddings"),
        "vec_id", "embedding", dims),
      Some {
        import DuckXxHash._
        val ch = chain("e0",
          "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
          .cte("comp",
            "SELECT vec_id, unnest(generate_series(1, len(vq))) AS i, unnest(vq) AS x " +
              "FROM (SELECT vec_id, [CAST(round(x * 1000000) AS BIGINT) for x in v] AS vq " +
              "FROM e0)")
          .cte("cells",
            s"SELECT j, i FROM generate_series(0, ${dims - 1}) AS tj(j), " +
              "(SELECT DISTINCT i FROM comp) ti")
          .steps(hashLongSteps("h1", unsigned("j"), "42::HUGEINT"))
          .steps(hashLongSteps("h2", unsigned("i"), "h1out"))
        val ch2 = ch.cte("signs",
          s"SELECT j, i, 1 - 2 * CAST(h2out % 2 AS BIGINT) AS s FROM ${ch.last}")
        ch2.render(
          "SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(SUM(x * s) AS BIGINT) AS proj " +
            "FROM comp JOIN signs USING (i) GROUP BY 1, 2")
      },
    )
  }

  /** PCA's distributed pass: the d×d integer Gram matrix of the
    * micro-quantized embeddings ([[graft.ops.Pca.gramMicro]]) — the
    * ONLY thing PCA computes over the corpus (the O(d³) eigensolve
    * consumes this 64×64 result driver-side). Exact BIGINT sums, so
    * DuckDB re-deriving all 4096 entries by unnesting component pairs
    * must agree bit-for-bit. The eigensolve and projection downstream
    * are transcendental and property-tested in ScalaTest instead.
    */
  val q75_pca_gram = QueryDef(
    "q75_pca_gram",
    (s, d) => graft.ops.Pca.gramMicro(Tables.read(s, d, "embeddings"), "embedding"),
    Some(
      """WITH comp AS (SELECT vec_id, unnest(generate_series(1, len(vq))) AS i,
          unnest(vq) AS x
        FROM (SELECT vec_id, [CAST(round(x * 1000000) AS BIGINT)
          for x in CAST(embedding AS DOUBLE[])] AS vq FROM embeddings))
      SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
        CAST(SUM(a.x * b.x) AS BIGINT) AS s
      FROM comp a JOIN comp b USING (vec_id) GROUP BY 1, 2"""),
  )

  /** Incremental-ingest dedup ([[graft.ops.Dedup.incrementalDecision]]):
    * docs with doc_id ≡ 0 (mod 3) play the historical index, the rest
    * arrive as the new batch. Every decision (dup_history / dup_batch /
    * keep) replays as pure set arithmetic in DuckDB. The within-batch
    * keep-first tiebreak is the same min-id rule as q20.
    */
  val q76_incremental_dedup = QueryDef(
    "q76_incremental_dedup",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
      val history = all.filter(col("doc_id") % 3 === 0)
        .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      graft.ops.Dedup.incrementalDecision(
        all.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", history)
    },
    Some("""WITH f AS (SELECT doc_id,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents),
      hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0),
      batch AS (SELECT doc_id, fp,
          row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM f WHERE doc_id % 3 <> 0)
      SELECT doc_id, fp,
        CASE WHEN fp IN (SELECT fp FROM hist) THEN 'dup_history'
             WHEN rn > 1 THEN 'dup_batch'
             ELSE 'keep' END AS decision
      FROM batch"""),
  )

  /** Quality-policy exact dedup ([[graft.ops.Dedup.exactBestSurvivor]]):
    * within each duplicate class keep the LONGEST capture (n_chars
    * desc, doc_id tiebreak) instead of the earliest — the curation
    * refinement over q21's keep-first. Every decision row replays as a
    * first_value window in DuckDB.
    */
  val q77_best_survivor = QueryDef(
    "q77_best_survivor",
    (s, d) => graft.ops.Dedup.exactBestSurvivor(
      Tables.read(s, d, "documents"), "text", "doc_id", "n_chars"),
    Some("""WITH f AS (SELECT doc_id, n_chars,
        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents)
    SELECT doc_id,
      first_value(doc_id) OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS survivor_id,
      doc_id = first_value(doc_id) OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_survivor
    FROM f"""),
  )

  /** DuckDB oracle for q78: replay the entire Bloom decision surface —
    * INCLUDING which probe keys false-positive — as pure set arithmetic.
    * Both sides re-derive the k Kirsch–Mitzenmacher positions
    * (h1 + i·h2 mod m, h1 = xxhash64(key), h2 = xxhash64(h1)) through
    * the staged XXH64-in-SQL chain, then a probe key is a hit iff all
    * its k positions appear in the build side's distinct position set —
    * exactly the bit-array test, without materializing bits.
    */
  private lazy val bloomOracleSql: String = {
    import DuckXxHash._
    val m = 16384
    val k = 4
    var ch = chain("b0",
      s"SELECT DISTINCT o_orderkey AS key, ${unsigned("o_orderkey")} AS v " +
        "FROM orders WHERE o_orderpriority = '1-URGENT'")
    ch = ch.steps(hashLongSteps("b1", "v", "42::HUGEINT"))
      .steps(hashLongSteps("b2", "b1out", "42::HUGEINT"))
    ch = ch.cte("bpos",
      s"SELECT DISTINCT CAST(((h1m + i * h2m) % $m) AS BIGINT) AS pos FROM " +
        s"(SELECT ${pmod("b1out", m)} AS h1m, ${pmod("b2out", m)} AS h2m, " +
        s"unnest(generate_series(0, ${k - 1})) AS i FROM ${ch.last}) t")
    ch = ch.cte("q0",
      s"SELECT DISTINCT l_orderkey AS key, ${unsigned("l_orderkey")} AS v FROM lineitem")
    ch = ch.steps(hashLongSteps("p1", "v", "42::HUGEINT"))
      .steps(hashLongSteps("p2", "p1out", "42::HUGEINT"))
    ch = ch.cte("ppos",
      s"SELECT key, CAST(((h1m + i * h2m) % $m) AS BIGINT) AS pos FROM " +
        s"(SELECT key, ${pmod("p1out", m)} AS h1m, ${pmod("p2out", m)} AS h2m, " +
        s"unnest(generate_series(0, ${k - 1})) AS i FROM ${ch.last}) t")
    ch.render(
      "SELECT pp.key AS l_orderkey, bool_and(b.pos IS NOT NULL) AS bloom_hit " +
        "FROM ppos pp LEFT JOIN bpos b USING (pos) GROUP BY pp.key")
  }

  /** Broadcast Bloom-filter pruning ([[graft.ops.Bloom]]): build an
    * m = 16384-bit, k = 4 filter over the urgent-priority order keys,
    * classify every distinct lineitem order key scan-side. Parameters
    * chosen so the false-positive band is REAL (~7% at this load
    * factor) — the oracle proves the decision surface bit-exact, false
    * positives and all, because positions are pure xxhash64 arithmetic.
    */
  val q78_bloom_prune = QueryDef(
    "q78_bloom_prune",
    (s, d) => {
      val orders = Tables.read(s, d, "orders")
      val li = Tables.read(s, d, "lineitem")
      val bits = graft.ops.Bloom.buildBits(
        orders.filter(col("o_orderpriority") === "1-URGENT"), "o_orderkey",
        m = 16384, k = 4)
      graft.ops.Bloom.decisions(
        li.select(col("l_orderkey")).distinct(), "l_orderkey", bits,
        m = 16384, k = 4)
    },
    Some(bloomOracleSql),
  )

  /** Per-language nearest-rank length quantiles from the mergeable
    * `quantile_sketch` aggregate ([[graft.expr.QuantileSketchAgg]]) —
    * the quantiles member of the sketch trio (q69 distinct, q71
    * frequency). Capacity 4096 exceeds every language group at BOTH
    * driver scale factors (sf0.01 max 218, sf0.1 max 2059), so the
    * sketch stays in its EXACT regime wherever the oracle runs — the
    * summary is the sorted value multiset at weight 1, a pure
    * partitioning-invariant function of the input — and extraction
    * (smallest v whose cumulative weight reaches ceil(q·W)) must equal
    * DuckDB's value at row_number ceil(q·n). The approximate/compaction
    * regime is pinned by ScalaTest (50k adversarial values, cap 256,
    * two partitionings), not by a driver query whose correctness would
    * then depend on scale factor. W and the three rank targets are
    * staged as attributes before the extraction folds (lambda-CSE
    * rule).
    */
  val q79_quantile_sketch: QueryDef = {
    val cap = 4096
    QueryDef(
      "q79_quantile_sketch",
      (s, d) => {
        import graft.ops.Sketches
        val sk = Sketches.quantileSketch(Tables.read(s, d, "documents"), "lang", "n_chars", cap)
          .withColumn("__W", Sketches.summaryWeight(col("qsketch")))
          .withColumn("__t50", ceil(col("__W") * lit(0.5)).cast("long"))
          .withColumn("__t90", ceil(col("__W") * lit(0.9)).cast("long"))
          .withColumn("__t99", ceil(col("__W") * lit(0.99)).cast("long"))
        sk.select(col("lang"), col("__W").as("n_docs"),
          Sketches.quantileFromSummary(col("qsketch"), col("__t50")).as("p50"),
          Sketches.quantileFromSummary(col("qsketch"), col("__t90")).as("p90"),
          Sketches.quantileFromSummary(col("qsketch"), col("__t99")).as("p99"))
      },
      Some("""WITH r AS (SELECT lang, n_chars AS v,
          row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
          count(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN v END) AS p50,
        max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN v END) AS p90,
        max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN v END) AS p99
      FROM r GROUP BY lang"""),
    )
  }

  /** Token-budget source mixing ([[graft.ops.Sampling.budgetMix]]):
    * spend a 60k-char budget across the 20 sources at weights cycling
    * 1..4. Every decision ingredient — per-source cost sums, integer
    * ppm thresholds, the hash cell — replays in DuckDB, so the oracle
    * pins the full decision table (thresholds, cells, keeps), not just
    * the kept set. Budget ≈ 40% of the corpus cost with weights spread
    * 4:1, so every source lands in the partial-acceptance regime
    * (thr strictly between 0 and 1M) — the math-bearing branch.
    */
  val q80_budget_mix: QueryDef = {
    val weights = (0 until 20).map(i => s"src$i" -> ((i % 4) + 1).toLong)
    val budget = 60000L
    val wSum = weights.map(_._2).sum
    QueryDef(
      "q80_budget_mix",
      (s, d) => graft.ops.Sampling.budgetMix(Tables.read(s, d, "documents"), "doc_id", "source",
        "n_chars", weights.toMap, budget)
        .select(col("doc_id"), col("source"), col("thr_ppm"),
          col("u_ppm"), col("keep")),
      Some {
        import DuckXxHash._
        val hashed = chain("s0",
          s"SELECT doc_id, source, ${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val ch = hashed
          .cte("cells", s"SELECT doc_id, source, ${pmod("h2out", 1000000L)} AS u_ppm " +
            s"FROM ${hashed.last}")
          .cte("wt", "SELECT * FROM (VALUES " +
            weights.map { case (s0, w) => s"('$s0', CAST($w AS BIGINT))" }.mkString(", ") +
            ") AS t(source, w)")
          .cte("toks", "SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks " +
            "FROM documents GROUP BY source")
          .cte("thr", "SELECT source, least(1000000, " +
            s"$budget * w * 1000000 // ($wSum * toks)) AS thr_ppm " +
            "FROM toks JOIN wt USING (source)")
        ch.render("SELECT c.doc_id, c.source, t.thr_ppm, c.u_ppm, " +
          "c.u_ppm < t.thr_ppm AS keep FROM cells c JOIN thr t USING (source)")
      },
    )
  }

  /** Per-language best-documents selection through the generic
    * bounded-heap `topk_agg` ([[graft.expr.TopKAgg]]) — the curation
    * "keep the k highest-quality docs per stratum" step without a
    * per-stratum sort: map-side combine carries ≤ k entries per
    * language per task. Ord is the integer quality score cast to
    * double (exact below 2^53), so the DuckDB ranked-window replay is
    * bit-deterministic, ties resolved by doc_id.
    */
  val q81_topk_quality = QueryDef(
    "q81_topk_quality",
    (s, d) => {
      val nTok = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
      val nLetters = length(regexp_replace(col("text"), " ", ""))
      Tables.read(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          floor(nLetters * 1000.0 / nTok).cast("long").as("score"))
        .groupBy("lang")
        .agg(call_function("topk_agg",
          col("score").cast("double"), col("doc_id"), lit(5)).as("tk"))
        .select(col("lang"), posexplode(col("tk")).as(Seq("p", "e")))
        .select(col("lang"), (col("p") + 1).cast("long").as("rnk"),
          col("e")("id").as("doc_id"), col("e")("ord").cast("long").as("score"))
    },
    Some("""WITH sc AS (SELECT lang, doc_id,
        CAST(floor(length(replace(text, ' ', '')) * 1000.0 /
          (length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT) AS score
      FROM documents),
    r AS (SELECT lang, doc_id, score,
        row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rnk
      FROM sc)
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, score FROM r WHERE rnk <= 5"""),
  )

  /** Audience-overlap profiling through KMV set algebra
    * ([[graft.ops.Sketches.kmvUnion]]): sketch each event type's
    * distinct users ONCE, then answer every pairwise union/intersection
    * question from the sketches alone — the 100 TB profiling pattern
    * where slices are sketched in one pass and combined later without
    * rescanning. k = 4096 exceeds every per-type audience at both
    * driver scale factors (150 / 1500 users), so sketches are exact
    * distinct hash sets and union size / intersection count equal the
    * true set cardinalities DuckDB computes from the raw rows. The
    * pair fan-out is a broadcast self-join of the 5-row sketch table.
    */
  val q82_sketch_overlap: QueryDef = {
    val k = 4096
    QueryDef(
      "q82_sketch_overlap",
      (s, d) => {
        import graft.ops.Sketches
        val sk = Sketches.kmvSketch(Tables.events(s, d), "event_type", "user_id", k)
        val a = sk.select(col("event_type").as("type_a"), col("kmv").as("__ka"))
        val b = sk.select(col("event_type").as("type_b"), col("kmv").as("__kb"))
        a.join(broadcast(b), col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            size(col("__ka")).cast("long").as("n_a"),
            size(col("__kb")).cast("long").as("n_b"),
            size(Sketches.kmvUnion(col("__ka"), col("__kb"), k)).cast("long").as("n_union"),
            Sketches.kmvIntersectCount(col("__ka"), col("__kb")).as("n_inter"))
      },
      Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        c AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        CAST((SELECT count(DISTINCT user_id) FROM u x
              WHERE x.event_type IN (a.event_type, b.event_type)) AS BIGINT) AS n_union,
        CAST((SELECT count(*) FROM u x JOIN u y
              ON x.user_id = y.user_id
              AND x.event_type = a.event_type
              AND y.event_type = b.event_type) AS BIGINT) AS n_inter
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type
      JOIN c ca ON ca.event_type = a.event_type
      JOIN c cb ON cb.event_type = b.event_type"""),
    )
  }

  /** Snapshot diff ([[graft.ops.SnapshotDiff]]): crawl N−1 vs crawl N
    * simulated from the documents table — the old snapshot drops ids
    * ≡ 0 (mod 7) (these become `added`), the new snapshot drops ids
    * ≡ 0 (mod 10) (`removed`) and rewrites the text of ids ≡ 1 (mod 5)
    * (`changed`); everything else is `unchanged`. Every classification
    * replays as a full-outer join over md5 fingerprints in DuckDB.
    */
  val q83_snapshot_diff = QueryDef(
    "q83_snapshot_diff",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
      val oldSnap = all.filter(col("doc_id") % 7 =!= 0)
      val newSnap = all.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
      graft.ops.SnapshotDiff.diff(oldSnap, newSnap, "doc_id", "text")
    },
    Some("""WITH o AS (SELECT doc_id,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_old
        FROM documents WHERE doc_id % 7 <> 0),
      n AS (SELECT doc_id,
          md5(lower(trim(regexp_replace(
            CASE WHEN doc_id % 5 = 1 THEN text || ' revised' ELSE text END,
            '\s+', ' ', 'g')))) AS fp_new
        FROM documents WHERE doc_id % 10 <> 0)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, fp_old, fp_new,
        CASE WHEN fp_old IS NULL THEN 'added'
             WHEN fp_new IS NULL THEN 'removed'
             WHEN fp_old = fp_new THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""),
  )

  /** HyperLogLog registers per event type over user_id — the constant-
    * size member of the sketch family (q69 KMV, q71 freq, q79 quantile):
    * 2^p bytes per group no matter the cardinality, map-side combinable,
    * mergeable by elementwise max. The register array is a pure function
    * of the key set, so DuckDB re-deriving every register — XXH64 chain,
    * top-p-bit routing, leading-zero rank via exact integer/bin()-string
    * arithmetic, INCLUDING the empty registers — must agree bit-for-bit
    * at every scale factor. Estimation (hllEstimate) is double-math
    * post-processing and deliberately not part of the oracle.
    */
  val q84_hll_sketch: QueryDef = {
    val p = 8
    val m = 1 << p
    val wBits = 64 - p // remaining bits after register routing
    QueryDef(
      "q84_hll_sketch",
      (s, d) => graft.ops.Sketches.hllSketch(Tables.events(s, d), "event_type", "user_id", p)
        .select(col("event_type"), posexplode(col("hll")).as(Seq("reg", "register")))
        .select(col("event_type"), col("reg").cast("long").as("reg"),
          col("register").cast("long").as("register")),
      Some {
        import DuckXxHash._
        val twoW = BigInt(1) << wBits
        val ch = chain("d", "SELECT DISTINCT event_type, user_id FROM events")
          .steps(hashLongSteps("h", unsigned("user_id"), "42::HUGEINT"))
        val ch2 = ch
          .cte("rr",
            s"SELECT event_type, CAST(hout // $twoW::HUGEINT AS BIGINT) AS reg, " +
              s"(hout % $twoW::HUGEINT) AS rem FROM ${ch.last}")
          .cte("regs",
            // rho = leading zeros among the wBits remaining bits + 1;
            // bin() prints the minimal binary form, so bitlen(rem>0) =
            // length(bin(rem)) and rho = wBits - bitlen + 1
            "SELECT event_type, reg, max(CASE WHEN rem = 0 " +
              s"THEN ${wBits + 1} ELSE $wBits - length(bin(rem)) + 1 END) AS mr " +
              "FROM rr GROUP BY 1, 2")
          .cte("grid",
            "SELECT t.event_type, g.reg FROM " +
              "(SELECT DISTINCT event_type FROM events) t, " +
              s"(SELECT range AS reg FROM range(0, $m)) g")
        ch2.render(
          "SELECT grid.event_type, grid.reg, " +
            "CAST(coalesce(regs.mr, 0) AS BIGINT) AS register " +
            "FROM grid LEFT JOIN regs " +
            "ON grid.event_type = regs.event_type AND grid.reg = regs.reg")
      },
    )
  }

  /** Priority sampling (weighted, without replacement): 50 documents
    * drawn with probability proportional to length. Priorities are pure
    * 64-bit integer arithmetic over the row hash — (w << 40) div
    * hash-uniform — so the oracle re-derives every priority and the
    * exact winning set bit-for-bit. The global top-k compiles to
    * TakeOrderedAndProject (bounded per-partition top-k + driver merge
    * of k-row lists), never a full sort.
    */
  val q85_priority_sample: QueryDef = {
    val k = 50
    QueryDef(
      "q85_priority_sample",
      (s, d) => graft.ops.Sampling.prioritySample(
        Tables.read(s, d, "documents").select(col("doc_id"),
          greatest(col("n_chars"), lit(1L)).as("w")),
        "doc_id", "w", k),
      Some {
        import DuckXxHash._
        val ch = chain("s0",
          "SELECT doc_id, greatest(n_chars, 1) AS w, " +
            s"${unsigned("doc_id")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val ch2 = ch.cte("pr",
          "SELECT doc_id, w, " +
            "CAST(h2out // 16777216 + 1 AS BIGINT) AS u, " +
            "CAST((CAST(w AS HUGEINT) * 1099511627776) // (h2out // 16777216 + 1) " +
            s"AS BIGINT) AS priority FROM ${ch.last}")
        ch2.render(
          "SELECT doc_id, w, u, priority FROM " +
            "(SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM pr) " +
            s"WHERE rn <= $k")
      },
    )
  }

  /** Leakage-safe train/val/test split: the split hash is keyed on the
    * SOURCE, not the row, so every document of a crawl source lands in
    * the same split — near-duplicates cluster within sources, and
    * row-level splitting would put one copy in train and its twin in
    * test (the contamination mode group splitting exists to prevent).
    * The oracle replays the full decision table and additionally the
    * invariant that makes it leakage-safe: one distinct split per
    * source.
    */
  val q86_group_split: QueryDef = {
    val weights = Seq(0.8, 0.1, 0.1)
    QueryDef(
      "q86_group_split",
      (s, d) => graft.ops.Sampling.groupHashSplit(
        Tables.read(s, d, "documents").withColumn("src_id",
          expr("CAST(substr(source, 4) AS BIGINT)")),
        "src_id", weights)
        .select(col("doc_id"), col("src_id"), col("split")),
      Some {
        import DuckXxHash._
        val total = weights.sum
        val cuts = weights.scanLeft(0.0)(_ + _).tail.init
          .map(c => (c / total * 1000000L).toLong)
        val ch = chain("s0",
          "SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS src_id, " +
            s"${unsigned("CAST(substr(source, 4) AS BIGINT)")} AS v FROM documents")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", "42::HUGEINT", "h1out"))
        val cell = pmod("h2out", 1000000L)
        val ladder = cuts.zipWithIndex
          .map { case (cut, i) => s"WHEN $cell < $cut THEN $i" }
          .mkString(" ")
        ch.render(
          s"SELECT doc_id, src_id, CAST(CASE $ladder ELSE ${weights.length - 1} END " +
            s"AS INT) AS split FROM ${ch.last}")
      },
    )
  }

  /** Hard-negative mining (graft.ops.Similarity.hardNegatives): per
    * query embedding, the 10 most cosine-similar vectors with a
    * DIFFERENT label — the near-miss examples contrastive training
    * wants. Broadcast queries, scan-side label predicate, bounded-heap
    * rank tail; ranks replay exactly in DuckDB because both engines
    * accumulate the cosine in index order (the q27 contract) and ties
    * break on vec_id.
    */
  val q87_hard_negatives = QueryDef(
    "q87_hard_negatives",
    (s, d) => {
      val e = Tables.read(s, d, "embeddings")
      graft.ops.Similarity.hardNegatives(
        e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", "label", 10)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("neighbor"))
    },
    Some("""WITH e AS (SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v, sqrt(list_sum([x * x for x in v])) AS nv FROM e),
      q AS (SELECT vec_id AS qid, label AS qlbl, v AS qv, nv AS nq FROM n WHERE vec_id % 50 = 0),
      s AS (SELECT qid, vec_id,
              list_sum([qv[i] * v[i] for i in generate_series(1, len(v))]) / (nq * nv) AS cos
            FROM n, q WHERE vec_id <> qid AND label <> qlbl)
      SELECT qid, cast(rnk AS BIGINT) AS rnk, vec_id AS neighbor
      FROM (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM s)
      WHERE rnk <= 10"""),
  )

  /** Integer PageRank (graft.ops.Graph.pageRank) over the bipartite
    * user ↔ event-type interaction graph: forward edges user→type and
    * reverse type→user, both weighted by interaction count, 3 power
    * iterations at damping 0.85. Every rank is ppm integer arithmetic
    * — contribution (rank·w) div out_weight, update (1M−d) +
    * (d·Σ) div 1M — so DuckDB unrolling the same three iterations as
    * CTEs reproduces every rank bit-for-bit. Type nodes get negative
    * ids from an alphabetical dense rank, derived from the data
    * identically on both sides.
    */
  val q88_pagerank: QueryDef = {
    val iters = 3
    QueryDef(
      "q88_pagerank",
      (s, d) => {
        val cnt = Tables.events(s, d).groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("w"))
        // tiny dimension: one id per event type, alphabetical — the
        // window is over a handful of rows, never the event stream
        val w = Window.orderBy(col("event_type"))
        val tid = broadcast(cnt.select(col("event_type")).distinct()
          .select(col("event_type"), (-row_number().over(w)).cast("long").as("tid")))
        val keyed = cnt.join(tid, "event_type")
        val fwd = keyed.select(col("user_id").as("src"), col("tid").as("dst"), col("w"))
        val rev = keyed.select(col("tid").as("src"), col("user_id").as("dst"), col("w"))
        graft.ops.Graph.pageRank(fwd.unionByName(rev), iters)
          .select(col("node"), col("rank"))
      },
      Some {
        val base = """WITH cnt AS (
            SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS w
            FROM events GROUP BY 1, 2),
          tid AS (SELECT event_type,
              -CAST(dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS tid
            FROM (SELECT DISTINCT event_type FROM cnt)),
          edges AS (
            SELECT c.user_id AS src, t.tid AS dst, c.w
            FROM cnt c JOIN tid t ON c.event_type = t.event_type
            UNION ALL
            SELECT t.tid, c.user_id, c.w
            FROM cnt c JOIN tid t ON c.event_type = t.event_type),
          ow AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
          ew AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN ow o ON e.src = o.src),
          nodes AS (SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
        val itersSql = (1 to iters).map { i =>
          s""",
          c$i AS (SELECT dst, SUM((rank * w) // ow) AS c
            FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.node GROUP BY dst),
          r$i AS (SELECT node,
              CAST(150000 + (850000 * coalesce(c, 0)) // 1000000 AS BIGINT) AS rank
            FROM nodes LEFT JOIN c$i ON nodes.node = c$i.dst)"""
        }.mkString
        base + itersSql + s"\nSELECT node, rank FROM r$iters"
      },
    )
  }

  /** One-call corpus profile — the daily report of a curation pipeline:
    * per source, document and char counts, language spread, exact-dup
    * count (docs minus distinct normalized fingerprints), token budget,
    * and the exact nearest-rank median length. Everything integer, one
    * keyed shuffle reused by the window and the aggregation, so the
    * whole report replays bit-for-bit in DuckDB.
    */
  val q89_corpus_profile = QueryDef(
    "q89_corpus_profile",
    (s, d) => {
      val base = Tables.read(s, d, "documents").select(col("source"), col("lang"), col("doc_id"),
        col("n_chars"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("toks"))
      val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
      val wc = Window.partitionBy("source")
      base
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wc))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          countDistinct("lang").as("n_langs"),
          (count(lit(1)) - countDistinct("fp")).as("n_dups"),
          sum("toks").as("sum_toks"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))).as("p50_chars"))
    },
    Some("""WITH b AS (SELECT source, lang, doc_id, n_chars,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
          CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks,
          row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
          count(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dups,
        CAST(sum(toks) AS BIGINT) AS sum_toks,
        max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS p50_chars
      FROM b GROUP BY source"""),
  )

  /** MERGE INTO (graft.ops.SnapshotDiff.applyChanges): apply a
    * changeset of upserts and deletes to a base corpus snapshot in one
    * full-outer equi-join — the nightly incremental-crawl maintenance
    * op. Upsert and delete sets are made disjoint by construction; the
    * oracle replays every row-level decision including
    * insert-of-unseen-id and delete-of-missing-id.
    */
  val q90_merge_upsert = QueryDef(
    "q90_merge_upsert",
    (s, d) => {
      val all = Tables.read(s, d, "documents").select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      val base = all.filter(col("doc_id") % 7 =!= 0)
      val upserts = all.filter(col("doc_id") % 5 === 1 && col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), lit("upsert").as("op"),
          concat(col("text"), lit(" v2")).as("text"), col("lang"), col("source"),
          (col("n_chars") + 3).as("n_chars"))
      val deletes = all.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), lit("delete").as("op"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      graft.ops.SnapshotDiff.applyChanges(
        base, upserts.unionByName(deletes), "doc_id", "op")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("fp"))
    },
    Some("""WITH a AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
      base AS (SELECT * FROM a WHERE doc_id % 7 <> 0),
      ch AS (
        SELECT doc_id, 'upsert' AS op, text || ' v2' AS text, lang, source,
          n_chars + 3 AS n_chars
        FROM a WHERE doc_id % 5 = 1 AND doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id, 'delete', text, lang, source, n_chars
        FROM a WHERE doc_id % 11 = 0)
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
        CASE WHEN c.op = 'upsert' THEN c.lang ELSE b.lang END AS lang,
        CASE WHEN c.op = 'upsert' THEN c.source ELSE b.source END AS source,
        CAST(CASE WHEN c.op = 'upsert' THEN c.n_chars ELSE b.n_chars END AS BIGINT)
          AS n_chars,
        md5(CASE WHEN c.op = 'upsert' THEN c.text ELSE b.text END) AS fp
      FROM base b FULL OUTER JOIN ch c ON b.doc_id = c.doc_id
      WHERE c.op IS NULL OR c.op <> 'delete'"""),
  )

  /** q32's as-of join through the NATIVE whole-operator path
    * (graft.plans.AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec,
    * SURVEY's custom-operator path (c)): key-clustered (key,time)-sorted
    * children merged in one pass with a single buffered right row as
    * state. Same DuckDB native-ASOF oracle as q32, so the custom
    * physical operator is held to the identical bit-for-bit contract as
    * the union+window lowering.
    */
  val q91_asof_native = QueryDef(
    "q91_asof_native",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"), col("ts"))
      graft.ops.AsOfJoin.asOfNative(clicks, errors, "user_id", "ts", "ts", Seq("err_id"))
        .select(col("user_id"), col("event_id"),
          coalesce(col("asof_err_id"), lit(-1L)).as("last_error"))
    },
    Some("""SELECT c.user_id, c.event_id, coalesce(e.event_id, -1) AS last_error
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts >= e.ts"""),
  )

  /** Unicode canonicalization (graft.ops.TextAnalysis.normalizeText /
    * expr.NfcNormalize): NFC composition, control stripping, whitespace
    * collapse — planted per-doc decomposed graphemes (e + combining
    * acute), an fi ligature (NFC-invariant), an NBSP (not \s in Java or
    * RE2) and a C0 control exercise every branch. NFC is UAX #15, so
    * the JDK here and ICU inside DuckDB produce byte-identical output —
    * the oracle hashes the fully normalized text.
    */
  val q92_unicode_norm = QueryDef(
    "q92_unicode_norm",
    (s, d) => {
      val planted = Tables.read(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 \ufb01le\u00a0end \u0002ctl")).as("text"))
      planted
        .select(col("doc_id"),
          graft.ops.TextAnalysis.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"), length(col("norm")).cast("long").as("norm_len"),
          md5(col("norm")).as("fp"))
    },
    Some("""WITH t AS (SELECT doc_id,
          text || ' cafe' || chr(769) || ' ' || chr(64257) || 'le' ||
            chr(160) || 'end ' || chr(2) || 'ctl' AS text
        FROM documents),
      n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
            nfc_normalize(text),
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
          '\s+', ' ', 'g')) AS norm
        FROM t)
      SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len, md5(norm) AS fp
      FROM n"""),
  )

  /** Hashing-trick features (graft.ops.TextAnalysis.featureHash): 32
    * signed buckets per document, no vocabulary, no fit pass, one
    * map-side-combinable keyed aggregation — the cheap featurizer for
    * corpus-scale classifiers. Both engines parse the same 15 md5 hex
    * chars into the same 60-bit integer, so every bucket weight
    * replays exactly.
    */
  val q93_feature_hash: QueryDef = {
    val n = 32
    QueryDef(
      "q93_feature_hash",
      (s, d) => graft.ops.TextAnalysis.featureHash(Tables.read(s, d, "documents"),
        "doc_id", "text", n)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("bucket", "weight")))
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          col("weight").cast("long").as("weight")),
      Some(s"""WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), t -> length(t) > 0)) AS tok
          FROM documents),
        h AS (SELECT doc_id,
            ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
        agg AS (SELECT doc_id, (hv // 2) % $n AS bucket,
            CAST(SUM(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
          FROM h GROUP BY 1, 2),
        grid AS (SELECT d.doc_id, g.range AS bucket
          FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, $n) g)
      SELECT grid.doc_id, grid.bucket,
        CAST(coalesce(agg.w, 0) AS BIGINT) AS weight
      FROM grid LEFT JOIN agg
        ON grid.doc_id = agg.doc_id AND grid.bucket = agg.bucket"""),
    )
  }

  /** Inverted-index build (graft.ops.TextAnalysis.invertedIndex): the
    * search/RAG-index pass — per term, document frequency, total term
    * frequency, and the first posting of the sorted list. One scan +
    * one keyed map-side-combinable shuffle; every statistic and the
    * head posting replay exactly in DuckDB.
    */
  val q94_inverted_index = QueryDef(
    "q94_inverted_index",
    (s, d) => graft.ops.TextAnalysis.invertedIndex(Tables.read(s, d, "documents"), "doc_id", "text")
      .select(col("term"), col("df"), col("tf"),
        element_at(col("postings"), 1)("doc").as("first_doc"),
        element_at(col("postings"), 1)("pos").as("first_pos")),
    Some("""WITH lists AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\s+'),
            t -> length(t) > 0) AS l
        FROM documents),
      base AS (SELECT doc_id, unnest(l) AS term,
          generate_subscripts(l, 1) - 1 AS pos FROM lists),
      stats AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          CAST(count(*) AS BIGINT) AS tf FROM base GROUP BY 1),
      firstdoc AS (SELECT term, min(doc_id) AS first_doc FROM base GROUP BY 1),
      firstpos AS (SELECT b.term, CAST(min(b.pos) AS BIGINT) AS first_pos
        FROM base b JOIN firstdoc f ON b.term = f.term AND b.doc_id = f.first_doc
        GROUP BY 1)
      SELECT s.term, s.df, s.tf, f.first_doc, p.first_pos
      FROM stats s JOIN firstdoc f USING (term) JOIN firstpos p USING (term)"""),
  )

  /** Quality-classifier training pass (graft.ops.LinearModel): the
    * normal equations G = XᵀX, b = Xᵀy over hashed bag-of-words
    * features with an is-English label — one map-side-combinable
    * aggregation whose shuffle is d(d+1) longs per partition at any
    * corpus size. Every Gram entry and moment replays exactly in
    * DuckDB (the q93 feature hashing composed with integer products);
    * the ridge solve on the collected d×d system is driver-side
    * post-processing, tested separately (planted-rule recovery).
    */
  val q95_classifier_gram: QueryDef = {
    val n = 16
    QueryDef(
      "q95_classifier_gram",
      (s, d) => {
        val feats = graft.ops.TextAnalysis.featureHash(Tables.read(s, d, "documents"),
          "doc_id", "text", n)
        val labeled = feats.join(
          Tables.read(s, d, "documents").select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), "doc_id")
        graft.ops.LinearModel.normalEquations(labeled, "features", "y")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), t -> length(t) > 0)) AS tok
          FROM documents),
        h AS (SELECT doc_id,
            ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
        agg AS (SELECT doc_id, (hv // 2) % $n AS bucket,
            CAST(SUM(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
          FROM h GROUP BY 1, 2),
        grid AS (SELECT d.doc_id, g.range AS bucket
          FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, $n) g),
        f AS (SELECT grid.doc_id, grid.bucket,
            CAST(coalesce(agg.w, 0) AS BIGINT) AS w
          FROM grid LEFT JOIN agg
            ON grid.doc_id = agg.doc_id AND grid.bucket = agg.bucket),
        y AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y FROM documents)
      SELECT a.bucket AS i, b.bucket AS j, CAST(SUM(a.w * b.w) AS BIGINT) AS s
      FROM f a JOIN f b ON a.doc_id = b.doc_id GROUP BY 1, 2
      UNION ALL
      SELECT f.bucket AS i, -1 AS j, CAST(SUM(f.w * y.y) AS BIGINT) AS s
      FROM f JOIN y ON f.doc_id = y.doc_id GROUP BY 1, 2"""),
    )
  }

  /** RAG chunking (graft.ops.TextAnalysis.chunkDocuments): overlapping
    * 64-token windows at stride 32 — every boundary, count, and the
    * chunk text itself (hashed) replay exactly in DuckDB's list
    * arithmetic. Scan-side only; the explode fans out rows but nothing
    * shuffles.
    */
  val q96_rag_chunks: QueryDef = {
    val (ck, st) = (64, 32)
    QueryDef(
      "q96_rag_chunks",
      (s, d) => graft.ops.TextAnalysis.chunkDocuments(Tables.read(s, d, "documents"),
        "doc_id", "text", ck, st)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_toks"),
          md5(col("chunk_text")).as("fp")),
      Some(s"""WITH lists AS (SELECT doc_id,
            list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS l
          FROM documents),
        sized AS (SELECT doc_id, l, len(l) AS n FROM lists WHERE len(l) > 0),
        starts AS (SELECT doc_id, l, n,
            unnest(range(0, ((n - 1) // $st) * $st + 1, $st)) AS start_tok,
            generate_subscripts(range(0, ((n - 1) // $st) * $st + 1, $st), 1) - 1
              AS chunk_id
          FROM sized)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        CAST(start_tok AS BIGINT) AS start_tok,
        CAST(least($ck, n - start_tok) AS BIGINT) AS n_toks,
        md5(array_to_string(l[start_tok + 1 : start_tok + $ck], ' ')) AS fp
      FROM starts"""),
    )
  }

  /** Token-id encoding (graft.ops.TextAnalysis.encodeTokenIds): a
    * 512-term frequency-ranked vocabulary (total order: count desc,
    * term asc) mapped over every token position via a broadcast join,
    * OOV → −1. The full (doc, pos, id) table replays exactly — the
    * deterministic vocab rank is the same ranked window in DuckDB.
    */
  val q97_token_ids: QueryDef = {
    val v = 512
    QueryDef(
      "q97_token_ids",
      (s, d) => graft.ops.TextAnalysis.encodeTokenIds(Tables.read(s, d, "documents"),
        "doc_id", "text", v),
      Some(s"""WITH lists AS (SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\\s+'),
              t -> length(t) > 0) AS l
          FROM documents),
        base AS (SELECT doc_id, unnest(l) AS tok,
            generate_subscripts(l, 1) - 1 AS pos FROM lists),
        vocab AS (SELECT tok,
            row_number() OVER (ORDER BY count(*) DESC, tok) - 1 AS token_id
          FROM base GROUP BY tok QUALIFY token_id < $v)
      SELECT b.doc_id, CAST(b.pos AS BIGINT) AS pos,
        CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id
      FROM base b LEFT JOIN vocab v ON b.tok = v.tok"""),
    )
  }

  /** Exact threshold Jaccard self-join via prefix filtering
    * (graft.ops.SetSimJoin — AllPairs/PPJoin family): every pair at
    * Jaccard >= 0.5 over 3-gram shingle sets, NO df cap and no missed
    * pairs. Candidates come only from collisions among each document's
    * globally-rarest prefix shingles plus a size-ratio filter, so the
    * join never touches the stop-shingle posting lists that make the
    * uncapped inverted-index form quadratic. The oracle is the naive
    * exact all-pairs computation — the algorithm is exact, so the two
    * must agree bit-for-bit.
    */
  val q98_setsim_join = QueryDef(
    "q98_setsim_join",
    (s, d) => graft.ops.SetSimJoin.jaccardJoin(Tables.read(s, d, "documents"), "doc_id", "text",
      tauPpm = 500000L),
    Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in generate_series(1, greatest(len(w) - 2, 0))]) AS sh
             FROM w),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
                FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      j AS (SELECT a, b, inter, na.n + nb.n - inter AS un
            FROM pairs JOIN sizes na ON pairs.a = na.doc_id
                       JOIN sizes nb ON pairs.b = nb.doc_id)
      SELECT a, b, CAST(inter AS BIGINT) AS inter_sz, CAST(un AS BIGINT) AS union_sz,
        CAST(floor(inter * 1000000 / un) AS BIGINT) AS jaccard_ppm
      FROM j WHERE inter * 1000000 >= 500000 * un"""),
  )

  /** BM25 retrieval (graft.ops.Retrieval.bm25, log-free ratio-idf
    * variant): queries are the first three tokens of every 50th
    * document; scores are exact integer micro-units (per-term floor
    * BEFORE the sum, so no float addition-order hazard). The oracle
    * replays the identical IEEE +,-,*,/ chain — idf ratio, tf
    * saturation, dl/avgdl normalization — term by term in DuckDB.
    */
  val q99_bm25_scores = QueryDef(
    "q99_bm25_scores",
    (s, d) => {
      val corpus = Tables.read(s, d, "documents")
      val qterms = corpus.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(slice(split(lower(col("text")), " "), 1, 3)))
            .as("term"))
      graft.ops.Retrieval.bm25(corpus, "doc_id", "text", qterms)
    },
    Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      tfc AS (SELECT doc_id, unnest(w) AS term FROM w),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tfc GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT count(*) AS n,
          CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:3]) AS term
            FROM w WHERE doc_id % 50 = 0),
      contrib AS (SELECT q.qid, t.doc_id,
          CAST(floor(1000000.0 * (
            ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
              / (CAST(f.df AS DOUBLE) + 0.5))
            * ((CAST(t.tf AS DOUBLE) * 2.2)
              / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl))))
          )) AS BIGINT) AS c
        FROM q JOIN tf t ON q.term = t.term
               JOIN dfs f ON q.term = f.term
               JOIN dl d ON t.doc_id = d.doc_id, stats s)
      SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
      FROM contrib GROUP BY 1, 2"""),
  )

  /** Hybrid retrieval: dense (brute-force cosine over embeddings, q27's
    * shape) and sparse (q99's BM25) top-10 lists fused by reciprocal
    * rank (graft.ops.Retrieval.rrfFuse) — integer 1e6 div (60+rank)
    * contributions, so the fusion is exactly replayable. Queries align
    * on the synthetic corpus's shared id space (vec_id == doc_id), every
    * 50th id. The sparse list naturally retrieves the query document
    * itself at rank 1; the dense side excludes self (q27 convention) —
    * both choices replayed identically in the oracle.
    */
  val q100_hybrid_rrf = QueryDef(
    "q100_hybrid_rrf",
    (s, d) => {
      import graft.ops.{Retrieval, Similarity}
      val corpus = Tables.read(s, d, "documents")
      val qterms = corpus.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(slice(split(lower(col("text")), " "), 1, 3)))
            .as("term"))
      val sparse = Retrieval.rankTopK(
        Retrieval.bm25(corpus, "doc_id", "text", qterms)
          .select(col("qid"), col("doc_id").as("id"), col("score_micro")),
        10, "score_micro", "id")
      val e = Tables.read(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = broadcast(e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv")))
      val joined = e.join(q, col("vec_id") =!= col("qid"))
      val dense = Retrieval.rankTopK(
        joined.withColumn("cos", Similarity.cosine(joined, col("qv"), col("v")))
          .select(col("qid"), col("vec_id").as("id"), col("cos")),
        10, "cos", "id")
      Retrieval.rrfFuse(Seq(dense, sparse), "id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      tfc AS (SELECT doc_id, unnest(w) AS term FROM w),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tfc GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT count(*) AS n,
          CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      qq AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:3]) AS term
             FROM w WHERE doc_id % 50 = 0),
      contrib AS (SELECT qq.qid, t.doc_id,
          CAST(floor(1000000.0 * (
            ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
              / (CAST(f.df AS DOUBLE) + 0.5))
            * ((CAST(t.tf AS DOUBLE) * 2.2)
              / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl))))
          )) AS BIGINT) AS c
        FROM qq JOIN tf t ON qq.term = t.term
               JOIN dfs f ON qq.term = f.term
               JOIN dl d ON t.doc_id = d.doc_id, stats s),
      bm AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
             FROM contrib GROUP BY 1, 2),
      sparse AS (SELECT qid, doc_id AS id, rnk FROM
          (SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS rnk FROM bm)
        WHERE rnk <= 10),
      e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
      nn AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nv FROM e),
      qv AS (SELECT vec_id AS qid, v AS qvec, nv AS nq FROM nn WHERE vec_id % 50 = 0),
      cs AS (SELECT qid, vec_id,
              list_sum([qvec[i] * v[i] for i in generate_series(1, len(v))]) / (nq * nv) AS cos
            FROM nn, qv WHERE vec_id <> qid),
      dense AS (SELECT qid, vec_id AS id, rnk FROM
          (SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
           FROM cs)
        WHERE rnk <= 10),
      unioned AS (SELECT * FROM sparse UNION ALL SELECT * FROM dense)
      SELECT qid, id, CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_ppm,
        CAST(count(*) AS BIGINT) AS n_lists
      FROM unioned GROUP BY 1, 2"""),
  )

  /** Entity-resolution merge candidates (graft.ops.FuzzyJoin): every
    * pair of distinct part names within Levenshtein distance 2, via
    * q-gram count-filter blocking — never all-pairs. Both engines share
    * the unit-cost levenshtein definition, so the exact algorithm
    * hash-matches the naive DuckDB computation.
    */
  val q101_fuzzy_names = QueryDef(
    "q101_fuzzy_names",
    (s, d) => graft.ops.FuzzyJoin.editDistanceJoin(
      Tables.read(s, d, "part"), "p_name", k = 2),
    Some("""WITH n AS (SELECT DISTINCT p_name AS s FROM part)
      SELECT a.s AS a, b.s AS b,
        CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      FROM n a JOIN n b ON a.s < b.s
      WHERE levenshtein(a.s, b.s) <= 2"""),
  )

  /** Data-quality gate (graft.ops.Constraints): a Deequ-style rule
    * report over lineitem — not-null, range, predicate (one shared
    * conditional-sum pass), uniqueness, functional dependency (keyed
    * aggs), referential integrity against orders (left-anti). Every
    * violation count is an exact bigint the oracle recomputes rule by
    * rule.
    */
  val q102_quality_gate = QueryDef(
    "q102_quality_gate",
    (s, d) => {
      import graft.ops.Constraints._
      val li = Tables.read(s, d, "lineitem")
      val ord = Tables.read(s, d, "orders")
      validate(li, Seq(
        NotNull("qty_not_null", "l_quantity"),
        InRange("qty_in_1_25", "l_quantity", 1, 25),
        Check("discount_le_tax", "l_discount <= l_tax"),
        Unique("orderkey_unique", Seq("l_orderkey")),
        Unique("line_pk_unique", Seq("l_orderkey", "l_linenumber")),
        FunctionalDep("order_determines_flag", Seq("l_orderkey"), Seq("l_returnflag")),
        RefIntegrity("orders_fk", "l_orderkey", ord, "o_orderkey"),
      ))
    },
    Some("""SELECT 'qty_not_null' AS rule,
        CAST(count(*) FILTER (l_quantity IS NULL) AS BIGINT) AS violations
      FROM lineitem
      UNION ALL
      SELECT 'qty_in_1_25',
        CAST(count(*) FILTER (NOT (l_quantity >= 1 AND l_quantity <= 25)
          OR l_quantity IS NULL) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'discount_le_tax',
        CAST(count(*) FILTER (NOT (l_discount <= l_tax)
          OR l_discount IS NULL OR l_tax IS NULL) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'orderkey_unique', CAST(coalesce(sum(c), 0) AS BIGINT) FROM
        (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1)
      UNION ALL
      SELECT 'line_pk_unique', CAST(coalesce(sum(c), 0) AS BIGINT) FROM
        (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber
         HAVING count(*) > 1)
      UNION ALL
      SELECT 'order_determines_flag', CAST(count(*) AS BIGINT) FROM
        (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         HAVING count(DISTINCT l_returnflag) > 1)
      UNION ALL
      SELECT 'orders_fk', CAST(count(*) AS BIGINT) FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)"""),
  )

  /** Batch gap sessionization (graft.ops.Sessions): 30-minute-gap
    * sessions per user over the event log — one keyed window (lag +
    * running sum) and one keyed rollup, total-ordered by (ts, event_id)
    * so ids are deterministic. DuckDB replays the identical windows.
    */
  val q103_batch_sessions = QueryDef(
    "q103_batch_sessions",
    (s, d) => graft.ops.Sessions.sessionStats(
      Tables.events(s, d).select("user_id", "event_id", "ts"),
      "user_id", "ts", "event_id", gapUnits = 1800000000000L)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_ts").as("start_ns"), col("end_ts").as("end_ns")),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ns FROM events),
      l AS (SELECT *, lag(ns) OVER
          (PARTITION BY user_id ORDER BY ns, event_id) AS prev FROM e),
      f AS (SELECT *, CASE WHEN prev IS NULL OR ns - prev > 1800000000000
          THEN 1 ELSE 0 END AS brk FROM l),
      s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ns, event_id
          ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(min(ns) AS BIGINT) AS start_ns, CAST(max(ns) AS BIGINT) AS end_ns
      FROM s GROUP BY 1, 2"""),
  )

  /** Type-2 SCD build (graft.ops.Sessions.scd2): each user's
    * event_type runs as validity intervals — change-detected via a
    * null-safe lag compare, closed by the next version's open. The
    * open-ended current version carries a null valid_to in both
    * engines.
    */
  /** The DuckDB replay of quantizeUnit + fixedLinearScore: unit-
    * normalize, int8-quantize (the q67/q68 formulas), then the fixed
    * integer weight dot — producing the engine-independent integer
    * score both eval queries grade.
    */
  private val scoredSql: String =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      un AS (SELECT vec_id, label,
               CASE WHEN sqrt(list_sum([x * x for x in v])) = 0
                    THEN [0.0 for x in v]
                    ELSE [x / sqrt(list_sum([y * y for y in v])) for x in v] END AS v
             FROM e),
      mm AS (SELECT vec_id, label, v, list_max([abs(x) for x in v]) AS m FROM un),
      codes AS (SELECT vec_id, label,
          [CASE WHEN m = 0 THEN 0
                ELSE CAST(floor(v[x] * 127 / m + 0.5) AS BIGINT) END
           for x in generate_series(1, len(v))] AS q
        FROM mm),
      scored AS (SELECT vec_id, CAST(label % 2 AS BIGINT) AS y,
          CAST(list_sum([q[x] * (((x - 1) * 37) % 15 - 7)
                         for x in generate_series(1, len(q))]) AS BIGINT) AS s
        FROM codes)"""

  /** Binary-classifier evaluation (graft.ops.Eval.binaryMetrics): ROC
    * AUC by tie-averaged Mann–Whitney rank-sum plus the threshold-0
    * confusion metrics, over an integer score (fixed weights · int8
    * codes of the unit-normalized embedding) and parity labels. The
    * corpus collapses to a score histogram in one map-side-combinable
    * pass; every metric — including the AUC division — is 64-bit
    * integer arithmetic, so the oracle is a bit-exact replay, not a
    * tolerance check.
    */
  val q105_classifier_eval = QueryDef(
    "q105_classifier_eval",
    (s, d) => {
      val scored = graft.ops.Quantization.quantizeUnitKeep(
        Tables.read(s, d, "embeddings").withColumn("y", (col("label") % 2).cast("long")),
        "vec_id", "embedding", Seq("y"))
        .select(col("vec_id"), col("y"),
          graft.ops.Eval.fixedLinearScore(col("codes")).as("s"))
      graft.ops.Eval.binaryMetrics(scored, "s", "y")
    },
    Some(s"""WITH $scoredSql,
      hist AS (SELECT s, count(*) AS c, sum(y) AS p FROM scored GROUP BY 1),
      r AS (SELECT *, coalesce(sum(c) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM hist),
      a AS (SELECT sum(p) AS npos, sum(c) - sum(p) AS nneg,
          sum(p * (2 * cum + c + 1)) AS u2r,
          sum(CASE WHEN s >= 0 THEN p ELSE 0 END) AS tp,
          sum(CASE WHEN s >= 0 THEN c - p ELSE 0 END) AS fp,
          sum(CASE WHEN s < 0 THEN c - p ELSE 0 END) AS tn,
          sum(CASE WHEN s < 0 THEN p ELSE 0 END) AS fn
        FROM r)
      SELECT CAST(npos AS BIGINT) AS npos, CAST(nneg AS BIGINT) AS nneg,
        CAST((u2r - npos * (npos + 1)) * 1000000 // (2 * npos * nneg) AS BIGINT)
          AS auc_micro,
        CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
        CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS prec_micro,
        CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS rec_micro,
        CAST(tp * 2000000 // (2 * tp + fp + fn) AS BIGINT) AS f1_micro
      FROM a"""),
  )

  /** Calibration / reliability bins (graft.ops.Eval.calibrationBins)
    * over the same integer score: per-bin count, positives, and the
    * empirical positive rate in micro-units. The bin is a true floor
    * division (pmod-adjusted), identical across both engines'
    * truncating integer ops.
    */
  val q106_calibration = QueryDef(
    "q106_calibration",
    (s, d) => {
      val scored = graft.ops.Quantization.quantizeUnitKeep(
        Tables.read(s, d, "embeddings").withColumn("y", (col("label") % 2).cast("long")),
        "vec_id", "embedding", Seq("y"))
        .select(col("vec_id"), col("y"),
          graft.ops.Eval.fixedLinearScore(col("codes")).as("s"))
      graft.ops.Eval.calibrationBins(scored, "s", "y", binWidth = 500L)
    },
    Some(s"""WITH $scoredSql
      SELECT CAST((s - ((s % 500) + 500) % 500) // 500 AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(y) AS BIGINT) AS pos,
        CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS rate_micro
      FROM scored GROUP BY 1"""),
  )

  /** Collocation mining (graft.ops.Collocations.pmiBigrams): adjacent
    * word bigrams with c_xy >= 5 scored by the integer PMI likelihood
    * ratio lr_milli = c_xy·N·1000 div (c_x·c_y) — the log-free
    * monotone image of PMI, so every value replays exactly. One staged
    * token scan, two map-side-combinable aggs, word-keyed joins only
    * on the pruned reporting set.
    */
  val q107_pmi_bigrams = QueryDef(
    "q107_pmi_bigrams",
    (s, d) => graft.ops.Collocations.pmiBigrams(Tables.read(s, d, "documents"),
      "text", minCount = 5L),
    Some("""WITH toks AS (SELECT list_filter(
          string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
          t -> length(t) > 0) AS w FROM documents),
      uni AS (SELECT unnest(w) AS t FROM toks),
      ucnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
      pairs AS (SELECT unnest([{'w1': w[i], 'w2': w[i + 1]}
            for i in generate_series(1, len(w) - 1)]) AS p
        FROM toks WHERE len(w) >= 2),
      big AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT b.w1, b.w2, b.c_xy, x.c AS c_x, y.c AS c_y,
        CAST(b.c_xy * t.n * 1000 // (x.c * y.c) AS BIGINT) AS lr_milli
      FROM big b JOIN ucnt x ON b.w1 = x.t JOIN ucnt y ON b.w2 = y.t, tot t"""),
  )

  /** Phonetic blocking (graft.ops.Phonetic): simplified-Soundex keys
    * over the part-name vocabulary, then the blocked candidate pairs —
    * an equi-join on the key, never all-pairs. The key chain
    * (translate + unrolled run-collapse replaces) is the same
    * expression text in both engines, so every key and pair
    * hash-matches.
    */
  val q108_soundex_block = QueryDef(
    "q108_soundex_block",
    (s, d) => {
      import s.implicits._
      graft.ops.Phonetic.soundexBlockJoin(
        Tables.read(s, d, "part")
          .select(explode(split(col("p_name"), " ")).as("w"))
          .union(graft.ops.Phonetic.sampleNames.toDF("w")), "w")
    },
    Some {
      val sx = graft.ops.Phonetic.soundexSql("v")
      val names = graft.ops.Phonetic.sampleNames
        .map(n => s"('$n')").mkString(", ")
      s"""WITH w AS (SELECT DISTINCT v FROM (
            SELECT unnest(string_split(p_name, ' ')) AS v FROM part
            UNION ALL SELECT * FROM (VALUES $names) n(v))),
        k AS (SELECT v, $sx AS key FROM w),
        kk AS (SELECT * FROM k WHERE key <> '')
      SELECT a.v AS a, b.v AS b, a.key AS key
      FROM kk a JOIN kk b ON a.key = b.key AND a.v < b.v"""
    },
  )

  /** Zone-map pruning report (graft.ops.ZoneMap): per-bucket min/max
    * "zones" of the ship-day under two simulated file layouts —
    * 32-day clustered buckets vs a hash scatter — and how much of the
    * table a one-year (1997) predicate prunes under each. The clustered
    * layout prunes almost everything; the hash layout prunes nothing:
    * the data-skipping argument for sort-clustering at 100 TB, as an
    * exact integer report.
    */
  val q109_zonemap_prune = QueryDef(
    "q109_zonemap_prune", {
      val lo = java.time.LocalDate.parse("1997-01-01").toEpochDay
      val hi = java.time.LocalDate.parse("1997-12-31").toEpochDay
      (s, d) => {
        val li = Tables.read(s, d, "lineitem")
        val day = datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long")
        graft.ops.ZoneMap.pruneReport(li, Seq(
          "clustered_32d" -> expr(
            "datediff(cast(l_shipdate AS date), cast('1970-01-01' AS date)) div 32"),
          "hash_64" -> expr("((l_orderkey % 8191) * 2654435761) % 64")),
          day, lo, hi)
      }
    },
    Some {
      val lo = java.time.LocalDate.parse("1997-01-01").toEpochDay
      val hi = java.time.LocalDate.parse("1997-12-31").toEpochDay
      def layout(name: String, bucket: String) =
        s"""SELECT '$name' AS layout,
          CAST(count(*) AS BIGINT) AS n_buckets,
          CAST(sum(CASE WHEN zmax < $lo OR zmin > $hi THEN 1 ELSE 0 END) AS BIGINT)
            AS pruned_buckets,
          CAST(sum(CASE WHEN zmax < $lo OR zmin > $hi THEN cnt ELSE 0 END) AS BIGINT)
            AS pruned_rows,
          CAST(sum(cnt) AS BIGINT) AS total_rows
        FROM (SELECT $bucket AS bucket,
                min(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS zmin,
                max(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS zmax,
                count(*) AS cnt
              FROM lineitem GROUP BY 1)"""
      layout("clustered_32d",
        "(CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 32") +
        " UNION ALL " +
        layout("hash_64", "((l_orderkey % 8191) * 2654435761) % 64")
    },
  )

  val q104_scd2_versions = QueryDef(
    "q104_scd2_versions",
    (s, d) => graft.ops.Sessions.scd2(
      Tables.events(s, d).select("user_id", "event_id", "event_type", "ts"),
      "user_id", "event_type", "ts", "event_id")
      .select(col("user_id"), col("event_type"),
        col("valid_from").as("valid_from_ns"),
        col("valid_to").as("valid_to_ns"), col("is_current")),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns
          FROM events),
      c AS (SELECT *, lag(event_type) OVER
          (PARTITION BY user_id ORDER BY ns, event_id) AS prev FROM e),
      ch AS (SELECT * FROM c
        WHERE (event_type IS DISTINCT FROM prev)),
      v AS (SELECT user_id, event_type, ns AS valid_from,
          lead(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS valid_to
        FROM ch)
      SELECT user_id, event_type, CAST(valid_from AS BIGINT) AS valid_from_ns,
        CAST(valid_to AS BIGINT) AS valid_to_ns,
        CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      FROM v"""),
  )

  /** k-anonymity / l-diversity audit (graft.ops.Privacy.kAnonymityAudit)
    * over the customer table: quasi-identifiers (nation, market
    * segment), sensitive attribute = account-balance band computed in
    * integer cents. One keyed aggregation; every output integer.
    */
  val q110_k_anonymity = QueryDef(
    "q110_k_anonymity",
    (s, d) => {
      val centsBal = round(col("c_acctbal") * 100).cast("long")
      val band = when(centsBal < 0L, lit("DEBT"))
        .when(centsBal < 500000L, lit("LOW")).otherwise(lit("HIGH"))
      graft.ops.Privacy.kAnonymityAudit(
        Tables.read(s, d, "customer").withColumn("bal_band", band),
        Seq("c_nationkey", "c_mktsegment"), col("bal_band"), k = 10, l = 3)
    },
    Some("""WITH c AS (SELECT c_nationkey, c_mktsegment,
        CASE WHEN CAST(round(c_acctbal * 100) AS BIGINT) < 0 THEN 'DEBT'
             WHEN CAST(round(c_acctbal * 100) AS BIGINT) < 500000 THEN 'LOW'
             ELSE 'HIGH' END AS band
      FROM customer)
      SELECT c_nationkey, c_mktsegment,
        CAST(count(*) AS BIGINT) AS class_size,
        CAST(count(DISTINCT band) AS BIGINT) AS n_sensitive,
        CAST(CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END AS INT) AS k_anonymous,
        CAST(CASE WHEN count(DISTINCT band) >= 3 THEN 1 ELSE 0 END AS INT) AS l_diverse
      FROM c GROUP BY c_nationkey, c_mktsegment"""),
  )

  /** Deterministic keyed pseudonymization (graft.ops.Privacy
    * .pseudonymizeKey): customer keys become salted-hash tokens, the
    * orders table is tokenized INDEPENDENTLY with the same salt, and
    * the per-customer order counts are joined ON THE TOKENS — the
    * joinability-preservation contract, exercised for real. The oracle
    * replays the token with the DuckXxHash XXH64 chain and joins on
    * the raw key (equivalent because the PRF is injective on this
    * domain — asserted by PrivacySpec's collision test).
    */
  val q111_pseudonymize: QueryDef = {
    val salt = 6364136223846793005L
    QueryDef(
      "q111_pseudonymize",
      (s, d) => {
        val tok = graft.ops.Privacy.pseudonymizeKey(col("c_custkey"), salt)
        val otok = graft.ops.Privacy.pseudonymizeKey(col("o_custkey"), salt)
        val cust = Tables.read(s, d, "customer")
          .select(tok.as("cust_token"))
        val perCust = Tables.read(s, d, "orders")
          .groupBy(otok.as("cust_token")).agg(count(lit(1)).as("n_orders"))
        cust.join(perCust, Seq("cust_token"), "left")
          .select(col("cust_token"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      },
      Some {
        import DuckXxHash._
        val ch = chain("s0",
          s"SELECT c_custkey, ${unsigned("c_custkey")} AS v FROM customer")
          .steps(hashLongSteps("t1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("t2", s"${BigInt(salt)}::HUGEINT", "t1out"))
        val ch2 = ch
          .cte("tok", s"SELECT c_custkey, ${signed("t2out")} AS cust_token FROM ${ch.last}")
          .cte("oc", "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey")
        ch2.render(
          """SELECT cust_token, CAST(coalesce(n, 0) AS BIGINT) AS n_orders
          FROM tok LEFT JOIN oc ON c_custkey = o_custkey""")
      },
    )
  }

  /** Differentially-private count release (graft.ops.Privacy
    * .dpNoisyCounts): per-nation customer counts + truncated two-sided
    * geometric noise at eps=1. The noise is a PRF of (seed, nation key)
    * mapped through a 41-entry fixed-point threshold table; the oracle
    * bakes the SAME constants and replays the hash, so the released
    * histogram matches bit-for-bit — the auditable-DP-release pattern.
    */
  val q112_dp_counts: QueryDef = {
    val seed = 2026L
    QueryDef(
      "q112_dp_counts",
      (s, d) => graft.ops.Privacy.dpNoisyCounts(
        Tables.read(s, d, "customer"), "c_nationkey", seed = seed),
      Some {
        import DuckXxHash._
        val ths = graft.ops.Privacy.geometricThresholds(1.0, 20)
        val caseSql = "CASE " +
          ths.init.map { case (t, nz) => s"WHEN u32 < $t THEN ($nz)" }.mkString(" ") +
          s" ELSE (${ths.last._2}) END"
        val ch = chain("s0",
          s"SELECT c_nationkey, ${unsigned("c_nationkey")} AS v, " +
            "count(*) AS tc FROM customer GROUP BY 1, 2")
          .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
          .steps(hashLongSteps("h2", s"$seed::HUGEINT", "h1out"))
        val ch2 = ch.cte("noz",
          s"SELECT c_nationkey, tc, ($caseSql) AS noise FROM " +
            s"(SELECT *, ${pmod("h2out", 4294967296L)} AS u32 FROM ${ch.last})")
        ch2.render(
          """SELECT c_nationkey,
            CAST(CASE WHEN tc + noise < 0 THEN 0 ELSE tc + noise END AS BIGINT)
              AS released_count
          FROM noz""")
      },
    )
  }

  /** MMR diversification (graft.ops.Mmr.diversify): top-8 cosine
    * candidates per query vector, greedily re-ranked with λ=0.7 so the
    * picked 3 trade relevance against redundancy. The greedy loop runs
    * per-query inside flatMapGroups (bounded candidates, parallel
    * across queries); the oracle unrolls the same three rounds in SQL
    * over the same integer micro-cosines.
    */
  val q113_mmr_diversify = QueryDef(
    "q113_mmr_diversify",
    (s, d) => {
      val e = Tables.read(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = broadcast(e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv")))
      val joined = e.join(q, col("vec_id") =!= col("qid"))
      val rel = round(graft.ops.Similarity.cosine(joined, col("qv"), col("v")) * 1000000)
        .cast("long")
      val w = Window.partitionBy("qid").orderBy(col("rel").desc, col("id"))
      val cands = joined
        .select(col("qid"), col("vec_id").as("id"), rel.as("rel"), col("v"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .drop("rn")
      graft.ops.Mmr.diversify(cands, "qid", "id", "rel", "v",
        k = 3, lambdaPermille = 700L)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nv FROM e),
      q AS (SELECT vec_id AS qid, v AS qv, nv AS nq FROM n WHERE vec_id % 100 = 0),
      sc AS (SELECT qid, vec_id AS id,
               CAST(round(list_sum([qv[i] * v[i] for i in generate_series(1, len(v))])
                 / (nq * nv) * 1000000) AS BIGINT) AS rel
             FROM n, q WHERE vec_id <> qid),
      cand AS (SELECT qid, id, rel FROM
                 (SELECT *, row_number() OVER
                    (PARTITION BY qid ORDER BY rel DESC, id) AS rn FROM sc)
               WHERE rn <= 8),
      cv AS (SELECT c.qid, c.id, c.rel, n.v, n.nv
             FROM cand c JOIN n ON c.id = n.vec_id),
      ps AS (SELECT a.qid, a.id AS ia, b.id AS ib,
               CAST(round(list_sum([a.v[i] * b.v[i]
                   for i in generate_series(1, len(a.v))])
                 / (a.nv * b.nv) * 1000000) AS BIGINT) AS sim
             FROM cv a JOIN cv b ON a.qid = b.qid AND a.id <> b.id),
      s1 AS (SELECT qid, id AS sid, 700 * rel AS score FROM
               (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY rel DESC, id) AS rn FROM cand)
             WHERE rn = 1),
      r2 AS (SELECT c.qid, c.id, 700 * c.rel - 300 * p.sim AS score
             FROM cand c JOIN s1 ON c.qid = s1.qid AND c.id <> s1.sid
             JOIN ps p ON p.qid = c.qid AND p.ia = c.id AND p.ib = s1.sid),
      s2 AS (SELECT qid, id AS sid, score FROM
               (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY score DESC, id) AS rn FROM r2)
             WHERE rn = 1),
      r3 AS (SELECT c.qid, c.id,
               700 * c.rel - 300 * greatest(p1.sim, p2.sim) AS score
             FROM cand c JOIN s1 ON c.qid = s1.qid AND c.id <> s1.sid
             JOIN s2 ON c.qid = s2.qid AND c.id <> s2.sid
             JOIN ps p1 ON p1.qid = c.qid AND p1.ia = c.id AND p1.ib = s1.sid
             JOIN ps p2 ON p2.qid = c.qid AND p2.ia = c.id AND p2.ib = s2.sid),
      s3 AS (SELECT qid, id AS sid, score FROM
               (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY score DESC, id) AS rn FROM r3)
             WHERE rn = 1)
      SELECT qid, CAST(1 AS BIGINT) AS rnk, sid AS id,
        CAST(score AS BIGINT) AS mmr_score FROM s1
      UNION ALL SELECT qid, CAST(2 AS BIGINT), sid, CAST(score AS BIGINT) FROM s2
      UNION ALL SELECT qid, CAST(3 AS BIGINT), sid, CAST(score AS BIGINT) FROM s3"""),
  )

  /** Real audio parsing for the multimodal family (graft.ops.Multimodal
    * .wavBytes/audioFeatures): each document gets a deterministic
    * 16-bit PCM payload — REAL RIFF/WAV bytes, built then parsed back
    * by the chunk-walking decoder, not a stub — and the extracted
    * integer features (rate, channels, samples, duration, peak, energy)
    * must equal the closed-form recomputation DuckDB does from the same
    * sample formula. The byte round-trip is the thing under test; the
    * oracle never sees bytes.
    */
  val q114_audio_features = QueryDef(
    "q114_audio_features",
    (s, d) => {
      val withWav = payloads(docIds(s, d), "payload") { id =>
        val n = (400 + id % 800).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
        graft.ops.Multimodal.wavBytes(samples, 16000, 1)
      }
      graft.ops.Multimodal.audioFeatures(withWav, "payload")
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("duration_ms"), col("peak"), col("amp_sum_sq"))
    },
    Some("""WITH nn AS (SELECT doc_id, 400 + doc_id % 800 AS n FROM documents),
      s AS (SELECT doc_id, n,
              unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i FROM nn),
      v AS (SELECT doc_id, n,
              ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS smp FROM s)
      SELECT doc_id, 16000 AS sample_rate, 1 AS channels,
        CAST(max(n) AS BIGINT) AS n_samples,
        CAST(max(n) * 1000 // 16000 AS BIGINT) AS duration_ms,
        CAST(max(abs(smp)) AS BIGINT) AS peak,
        CAST(sum(smp * smp) AS BIGINT) AS amp_sum_sq
      FROM v GROUP BY doc_id"""),
  )

  /** Incremental aggregate maintenance (graft.ops.IncrementalAgg): the
    * events table split into a "history" and a "new batch" slice, each
    * summarized once, then algebraically merged — count/sum/min/max by
    * arithmetic, distinct users by KMV sketch union (exact regime: the
    * sketch IS the hash set at k=8192 ≫ per-key users at every driver
    * SF). The oracle computes the same rollup from the WHOLE table in
    * one pass: merge(summarize(A), summarize(B)) == summarize(A∪B) is
    * exactly what's being hash-checked.
    */
  val q115_incremental_agg = QueryDef(
    "q115_incremental_agg",
    (s, d) => {
      val k = 8192
      val keys = Seq("event_type", "day")
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        col("user_id"), expr("ts div 86400000000000").as("day"),
        round(col("value") * 1000000).cast("long").as("v_micro"))
      def slice(pred: org.apache.spark.sql.Column) = graft.ops.IncrementalAgg.summarize(
        ev.filter(pred), keys, col("v_micro"), col("user_id"), k)
      val merged = graft.ops.IncrementalAgg.merge(
        slice(col("event_id") % 3 =!= 0), slice(col("event_id") % 3 === 0), keys, k)
      merged.select(col("event_type"), col("day"), col("n"),
        col("sum_v").as("sum_micro"), col("min_v").as("min_micro"),
        col("max_v").as("max_micro"),
        graft.ops.Sketches.kmvEstimate(col("kmv"), k).as("n_users"))
    },
    Some("""SELECT event_type,
        CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
        CAST(min(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS min_micro,
        CAST(max(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS max_micro,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1, 2"""),
  )

  /** Robust per-type outlier report (graft.ops.Robust.madOutlierReport):
    * nearest-rank median + MAD with Hampel's 3·MAD rule, all integer
    * micros — the drift/corruption gate whose statistics a single bad
    * shard cannot shift (unlike mean/stddev z-scores).
    */
  val q116_mad_outliers = QueryDef(
    "q116_mad_outliers",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        round(col("value") * 1000000).cast("long").as("v_micro"))
      graft.ops.Robust.madOutlierReport(ev, "event_type",
        col("v_micro"), col("event_id"))
    },
    Some("""WITH v AS (SELECT event_type, event_id,
          CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      r AS (SELECT event_type, event_id, v,
          row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM v),
      m AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
          max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS med
        FROM r GROUP BY event_type),
      d AS (SELECT v.event_type, v.event_id, abs(v.v - m.med) AS dev,
          m.med, m.n FROM v JOIN m USING (event_type)),
      r2 AS (SELECT event_type, dev,
          row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n2 FROM d),
      md AS (SELECT event_type,
          max(CASE WHEN rn = (n2 * 50 + 99) // 100 THEN dev END) AS mad
        FROM r2 GROUP BY event_type)
      SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
        CAST(max(d.med) AS BIGINT) AS med, CAST(max(md.mad) AS BIGINT) AS mad,
        CAST(sum(CASE WHEN d.dev * 1 > md.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM d JOIN md USING (event_type) GROUP BY d.event_type"""),
  )

  /** OHLC time-series downsampling (graft.ops.TimeSeries.ohlc): per
    * (type, day) open/high/low/close in integer micros — the lossy
    * compaction that keeps bucket shape. One keyed shuffle, both
    * row_number windows share it.
    */
  val q117_ohlc = QueryDef(
    "q117_ohlc",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("ts div 86400000000000").as("day"), col("ts"), col("event_id"),
        round(col("value") * 1000000).cast("long").as("v_micro"))
      graft.ops.TimeSeries.ohlc(ev, Seq("event_type", "day"),
        col("ts"), col("v_micro"), col("event_id"))
    },
    Some("""WITH v AS (SELECT event_type,
          CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
          epoch_ns(ts) AS ns, event_id,
          CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      r AS (SELECT *,
          row_number() OVER (PARTITION BY event_type, day
            ORDER BY ns, event_id) AS rna,
          row_number() OVER (PARTITION BY event_type, day
            ORDER BY ns DESC, event_id DESC) AS rnd FROM v)
      SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        CAST(max(CASE WHEN rna = 1 THEN v END) AS BIGINT) AS open,
        CAST(max(v) AS BIGINT) AS high, CAST(min(v) AS BIGINT) AS low,
        CAST(max(CASE WHEN rnd = 1 THEN v END) AS BIGINT) AS close
      FROM r GROUP BY event_type, day"""),
  )

  /** Column-level AES encryption for PII at rest (Spark's built-in
    * aes_encrypt/aes_decrypt, ECB for a deterministic ciphertext): the
    * name column encrypts, decrypts back, and must round-trip
    * byte-identically. No SQL engine shares Spark's cipher, so the
    * oracle checks the two things it CAN derive independently: the
    * PKCS7-padded ciphertext length (16·(len/16 + 1)) and the
    * round-trip identity flag the query itself computes — a
    * self-validating derived view, same pattern as the g66 checksum
    * re-derivations.
    */
  val q118_aes_roundtrip = QueryDef(
    "q118_aes_roundtrip",
    (s, d) =>
      Tables.read(s, d, "customer").select(col("c_custkey"),
        length(expr("aes_encrypt(c_name, '0123456789abcdef', 'ECB')"))
          .as("ct_len"),
        (expr("CAST(aes_decrypt(aes_encrypt(c_name, '0123456789abcdef', 'ECB'), " +
          "'0123456789abcdef', 'ECB') AS STRING)") === col("c_name"))
          .cast("int").as("roundtrip_ok")),
    Some("""SELECT c_custkey,
        CAST(16 * (length(c_name) // 16 + 1) AS INT) AS ct_len,
        1 AS roundtrip_ok
      FROM customer"""),
  )

  /** Semi-structured JSON handling (the events.props column, unused
    * until now): BOTH lowerings — schema'd from_json and schemaless
    * get_json_object — extract the same field, and the query asserts
    * their agreement row-by-row while aggregating. DuckDB replays with
    * its own json_extract.
    */
  val q119_json_props = QueryDef(
    "q119_json_props",
    (s, d) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val ev = Tables.events(s, d)
      val k = from_json(col("props"),
        StructType(Seq(StructField("k", LongType))))("k")
      val k2 = get_json_object(col("props"), "$.k").cast("long")
      ev.select(col("event_type"), k.as("k"), k2.as("k2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_distinct_k"),
          sum(when(col("k") === col("k2"), 1L).otherwise(0L)).as("paths_agree"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
          AS n_distinct_k,
        CAST(count(*) AS BIGINT) AS paths_agree
      FROM events GROUP BY event_type"""),
  )

  /** One-pass dataset profile (graft.ops.Stats.tableProfile): the
    * ANALYZE TABLE a pipeline runs on every new drop — per-column
    * row/null/distinct counts + string byte budget, all from a SINGLE
    * aggregation melted via stack(); the oracle recomputes each column
    * independently and unions.
    */
  val q120_table_profile = QueryDef(
    "q120_table_profile",
    (s, d) => graft.ops.Stats.tableProfile(
      Tables.read(s, d, "customer")),
    Some {
      val cols = Seq("c_custkey" -> false, "c_name" -> true,
        "c_nationkey" -> false, "c_acctbal" -> false, "c_mktsegment" -> true)
      cols.map { case (c, isStr) =>
        val len = if (isStr) s"CAST(sum(length($c)) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
          $len AS total_len FROM customer"""
      }.mkString(" UNION ALL ")
    },
  )

  /** Fellegi–Sunter record linkage (graft.ops.EntityResolution.score)
    * over a two-source link: source B is the customer table with a
    * deterministic data-entry error injected (every 5th name loses its
    * last character, every 7th segment is mangled). Candidates come
    * from equi-join BLOCKING on the custkey band (never all-pairs);
    * each pair scores three field comparisons — fuzzy name
    * (levenshtein ≤ 1), segment equality, balance-band equality — with
    * baked milli log-likelihood weights, and the two thresholds split
    * match / possible / non_match. The oracle replays every flag,
    * score, and decision with its own levenshtein and the same
    * constants.
    */
  val q121_record_linkage = QueryDef(
    "q121_record_linkage",
    (s, d) => {
      val cust = Tables.read(s, d, "customer")
      val a = cust.select(col("c_custkey").as("a_key"), col("c_name").as("a_name"),
        col("c_mktsegment").as("a_seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("a_band"),
        expr("c_custkey div 5").as("block"))
      val b = cust.select(col("c_custkey").as("b_key"),
        when(col("c_custkey") % 5 === 0,
          expr("substring(c_name, 1, length(c_name) - 1)"))
          .otherwise(col("c_name")).as("b_name"),
        when(col("c_custkey") % 7 === 0, lit("ALTERED"))
          .otherwise(col("c_mktsegment")).as("b_seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("b_band"),
        expr("c_custkey div 5").as("block"))
      val pairs = a.join(b, "block")
      import graft.ops.EntityResolution.FieldRule
      graft.ops.EntityResolution.score(pairs, Seq(
        FieldRule("name", levenshtein(col("a_name"), col("b_name")) <= 1, 2400L, -1200L),
        FieldRule("seg", col("a_seg") === col("b_seg"), 1600L, -800L),
        FieldRule("band", col("a_band") === col("b_band"), 1000L, -500L)),
        upperMilli = 3500L, lowerMilli = 1000L)
        .select(col("a_key"), col("b_key"), col("name_agree"), col("seg_agree"),
          col("band_agree"), col("score"), col("decision"))
    },
    Some("""WITH a AS (SELECT c_custkey AS a_key, c_name AS a_name,
          c_mktsegment AS a_seg,
          CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS a_band,
          c_custkey // 5 AS block FROM customer),
      b AS (SELECT c_custkey AS b_key,
          CASE WHEN c_custkey % 5 = 0
               THEN substring(c_name, 1, length(c_name) - 1)
               ELSE c_name END AS b_name,
          CASE WHEN c_custkey % 7 = 0 THEN 'ALTERED'
               ELSE c_mktsegment END AS b_seg,
          CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS b_band,
          c_custkey // 5 AS block FROM customer),
      p AS (SELECT * FROM a JOIN b USING (block)),
      f AS (SELECT a_key, b_key,
          CAST(levenshtein(a_name, b_name) <= 1 AS INT) AS name_agree,
          CAST(a_seg = b_seg AS INT) AS seg_agree,
          CAST(a_band = b_band AS INT) AS band_agree FROM p),
      sc AS (SELECT *,
          CAST(CASE WHEN name_agree = 1 THEN 2400 ELSE -1200 END
            + CASE WHEN seg_agree = 1 THEN 1600 ELSE -800 END
            + CASE WHEN band_agree = 1 THEN 1000 ELSE -500 END AS BIGINT) AS score
        FROM f)
      SELECT a_key, b_key, name_agree, seg_agree, band_agree, score,
        CASE WHEN score >= 3500 THEN 'match'
             WHEN score >= 1000 THEN 'possible'
             ELSE 'non_match' END AS decision
      FROM sc"""),
  )

  /** Deterministic label-propagation communities (graft.ops.Graph
    * .labelPropagation) over the bipartite user↔event-type graph (type
    * nodes get negative ids so the two partitions share one id space).
    * Three synchronous rounds with the (count desc, label asc)
    * tie-break; the oracle unrolls the identical rounds as CTEs.
    */
  val q122_label_propagation = QueryDef(
    "q122_label_propagation",
    (s, d) => {
      val te = Tables.events(s, d).select(col("user_id"), col("event_type")).distinct()
      val ty = te.select(col("event_type")).distinct()
        .withColumn("tid", -row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("event_type")))
          .cast("long"))
      val edges = te.join(ty, "event_type")
        .select(col("user_id").as("a"), col("tid").as("b"))
      graft.ops.Graph.labelPropagation(edges, iters = 3)
    },
    Some("""WITH te AS (SELECT DISTINCT user_id, event_type FROM events),
      ty AS (SELECT event_type,
          -CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS tid
        FROM (SELECT DISTINCT event_type FROM te)),
      ed AS (SELECT user_id AS a, tid AS b FROM te JOIN ty USING (event_type)),
      und AS (SELECT a, b FROM ed UNION ALL SELECT b AS a, a AS b FROM ed),
      lab0 AS (SELECT DISTINCT a AS id, a AS label FROM und),
      m1 AS (SELECT u.a AS id, l.label FROM und u JOIN lab0 l ON u.b = l.id),
      c1 AS (SELECT id, label, count(*) AS c FROM m1 GROUP BY id, label),
      lab1 AS (SELECT id, label FROM (SELECT *, row_number()
          OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c1)
        WHERE rn = 1),
      m2 AS (SELECT u.a AS id, l.label FROM und u JOIN lab1 l ON u.b = l.id),
      c2 AS (SELECT id, label, count(*) AS c FROM m2 GROUP BY id, label),
      lab2 AS (SELECT id, label FROM (SELECT *, row_number()
          OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c2)
        WHERE rn = 1),
      m3 AS (SELECT u.a AS id, l.label FROM und u JOIN lab2 l ON u.b = l.id),
      c3 AS (SELECT id, label, count(*) AS c FROM m3 GROUP BY id, label),
      lab3 AS (SELECT id, label FROM (SELECT *, row_number()
          OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c3)
        WHERE rn = 1)
      SELECT id AS node_id, label AS community FROM lab3"""),
  )

  /** Count–Min sketch (graft.ops.Sketches.cmSketchRows) over event
    * user_ids: the slot table IS the sketch — map-side combinable,
    * slot-wise additive on merge, at most depth·width rows regardless
    * of input size. The oracle replays both hash rows through the
    * XXH64 SQL chain and reproduces every slot count bit-for-bit.
    * Completes the mergeable-summary family: KMV (distinct), MG
    * (heavy items), GK (quantiles), HLL (registers), CM (point
    * frequency, always >= truth).
    */
  val q123_cm_sketch = QueryDef(
    "q123_cm_sketch",
    (s, d) => graft.ops.Sketches.cmSketchRows(
      Tables.events(s, d), col("user_id"), width = 64, depth = 2),
    Some {
      import DuckXxHash._
      val ch = chain("s0", s"SELECT ${unsigned("user_id")} AS v FROM events")
        .steps(hashLongSteps("h1", "v", "42::HUGEINT"))
        .steps(hashLongSteps("r0", "0::HUGEINT", "h1out"))
        .steps(hashLongSteps("r1", "1::HUGEINT", "h1out"))
      val ch2 = ch.cte("slots",
        s"SELECT ${pmod("r0out", 64L)} AS s0, " +
          s"64 + ${pmod("r1out", 64L)} AS s1 FROM ${ch.last}")
      ch2.render(
        """SELECT slot, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT s0 AS slot FROM slots UNION ALL SELECT s1 FROM slots)
        GROUP BY slot""")
    },
  )

  /** Schema evolution: two parquet slices written with DIFFERENT
    * schemas (v2 adds a bal_cents column) read back through
    * mergeSchema — old rows surface the new column as null, the
    * 100 TB reality where datasets grow columns across re-crawls.
    * The aggregation proves both the union'd schema and the
    * null-backfill semantics; the oracle recomputes from the source
    * table knowing which half carried the column.
    */
  val q124_schema_evolution = QueryDef(
    "q124_schema_evolution",
    (s, d) => {
      val base = Tables.read(s, d, "customer")
      val dir = Staging.dir("q124_evo").toString
      base.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      base.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        .write.mode("overwrite").parquet(s"$dir/v=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(when(col("bal_cents").isNull, 1L).otherwise(0L)).as("n_missing_bal"),
          sum(coalesce(col("bal_cents"), lit(0L))).as("sum_bal_cents"))
    },
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_missing_bal,
        CAST(sum(CASE WHEN c_custkey % 2 = 1
             THEN CAST(round(c_acctbal * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
          AS sum_bal_cents
      FROM customer GROUP BY c_mktsegment"""),
  )

  /** The one-call curation funnel, end to end in a single plan:
    * normalized-fingerprint dedup (keep-first) → token-count quality
    * gate → per-language budget report. Everything rides one window
    * over the fingerprint plus one keyed aggregation; the oracle
    * replays the identical funnel. This is the composition smoke test:
    * a user can run ingest→dedup→gate→budget as ONE DataFrame program.
    */
  val q125_e2e_curation = QueryDef(
    "q125_e2e_curation",
    (s, d) => {
      val tok = size(filter(
        split(lower(trim(coalesce(col("text"), lit("")))), "\\s+"),
        t => length(t) > 0)).cast("long")
      val w = Window
        .partitionBy(graft.ops.TextAnalysis.fingerprint(col("text")))
        .orderBy("doc_id")
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"), tok.as("tok"))
        .withColumn("rn", row_number().over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_unique"),
          sum(when(col("rn") === 1 && col("tok") >= 8, 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("rn") === 1 && col("tok") >= 8, col("tok"))
            .otherwise(0L)).as("tokens_kept"))
    },
    Some("""WITH f AS (SELECT doc_id, lang,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
          CAST(len(list_filter(
            string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
            t -> length(t) > 0)) AS BIGINT) AS tok
        FROM documents),
      k AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
          AS rn FROM f)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_in,
        CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        CAST(sum(CASE WHEN rn = 1 AND tok >= 8 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(sum(CASE WHEN rn = 1 AND tok >= 8 THEN tok ELSE 0 END) AS BIGINT)
          AS tokens_kept
      FROM k GROUP BY lang"""),
  )

  /** Interval union (dwell time): each event opens a 5-minute activity
    * interval; per user, overlapping intervals merge and the query
    * reports how many merged intervals remain and the total covered
    * seconds — the classic gaps-and-islands shape, one keyed window
    * chain + two aggregations, all integer seconds.
    */
  val q126_interval_union = QueryDef(
    "q126_interval_union",
    (s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        expr("ts div 1000000000").as("st"))
        .withColumn("en", col("st") + 300L)
      val w = Window.partitionBy("user_id").orderBy("st", "en")
      val prevMaxEnd = max(col("en")).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      val islands = iv
        .withColumn("new_iv",
          when(prevMaxEnd.isNull || col("st") > prevMaxEnd, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("new_iv")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "island")
        .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("ien") - col("ist")).as("covered_s"))
    },
    Some("""WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS st,
          epoch_ns(ts) // 1000000000 + 300 AS en FROM events),
      o AS (SELECT *, max(en) OVER (PARTITION BY user_id ORDER BY st, en
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM iv),
      f AS (SELECT *, CASE WHEN pme IS NULL OR st > pme THEN 1 ELSE 0 END
            AS new_iv FROM o),
      g AS (SELECT *, sum(new_iv) OVER (PARTITION BY user_id ORDER BY st, en
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
      i AS (SELECT user_id, island, min(st) AS ist, max(en) AS ien
            FROM g GROUP BY user_id, island)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        CAST(sum(ien - ist) AS BIGINT) AS covered_s
      FROM i GROUP BY user_id"""),
  )

  /** CSV round-trip under adversarial content: every name gains an
    * embedded delimiter, quote, and NEWLINE, the rows go out through
    * Spark's CSV writer and come back through the multiLine reader —
    * quoting/escaping must be lossless. The oracle computes the same
    * aggregate from the source table directly (it never touches CSV),
    * so any quoting loss breaks the hash.
    */
  val q127_csv_roundtrip = QueryDef(
    "q127_csv_roundtrip",
    (s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val tricky = concat(col("c_name"), lit(", \"x\"\n tail"))
      val src = Tables.read(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), tricky.as("payload"))
      val dir = Staging.dir("q127_csv").toString
      src.write.mode("overwrite").option("header", "true").csv(dir)
      val schema = StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType), StructField("payload", StringType)))
      s.read.schema(schema).option("header", "true")
        .option("multiLine", "true").csv(dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("key_sum"),
          sum(length(col("payload")).cast("long")).as("payload_chars"))
    },
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(c_custkey) AS BIGINT) AS key_sum,
        CAST(sum(length(c_name) + 11) AS BIGINT) AS payload_chars
      FROM customer GROUP BY c_mktsegment"""),
  )

  /** Time-weighted integration (graft.ops.TimeSeries.trapezoidArea):
    * irregular samples make the plain mean wrong; the trapezoid rule
    * in doubled-integer units is the TSDB correction, and every
    * segment term replays exactly.
    */
  val q128_time_weighted = QueryDef(
    "q128_time_weighted",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        expr("ts div 1000000000").as("t_s"),
        round(col("value") * 1000000).cast("long").as("v"))
      graft.ops.TimeSeries.trapezoidArea(ev, Seq("event_type"),
        col("t_s"), col("v"), col("event_id"))
    },
    Some("""WITH e AS (SELECT event_type, event_id,
          epoch_ns(ts) // 1000000000 AS t_s,
          CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      o AS (SELECT event_type, t_s, v,
          lag(t_s) OVER (PARTITION BY event_type ORDER BY t_s, event_id) AS pt,
          lag(v) OVER (PARTITION BY event_type ORDER BY t_s, event_id) AS pv
        FROM e)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_segments,
        CAST(sum(t_s - pt) AS BIGINT) AS dt_sum,
        CAST(sum((t_s - pt) * (v + pv)) AS BIGINT) AS area2
      FROM o WHERE pt IS NOT NULL GROUP BY event_type"""),
  )

  /** Winsorization report (graft.ops.Robust.winsorize): per-type
    * [p5, p95] nearest-rank clipping — tail counts and the clipped sum,
    * all exact integers.
    */
  val q129_winsorize = QueryDef(
    "q129_winsorize",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        round(col("value") * 1000000).cast("long").as("v"))
      graft.ops.Robust.winsorize(ev, "event_type", col("v"), col("event_id"), 5, 95)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("clipped_lo").cast("long")).as("n_lo"),
          sum(col("clipped_hi").cast("long")).as("n_hi"),
          sum(col("clipped")).as("sum_clipped"))
    },
    Some("""WITH v AS (SELECT event_type, event_id,
          CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      r AS (SELECT event_type, event_id, v,
          row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM v),
      b AS (SELECT event_type,
          max(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS lo,
          max(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS hi
        FROM r GROUP BY event_type)
      SELECT v.event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN v.v < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        CAST(sum(CASE WHEN v.v > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        CAST(sum(least(greatest(v.v, b.lo), b.hi)) AS BIGINT) AS sum_clipped
      FROM v JOIN b USING (event_type) GROUP BY v.event_type"""),
  )

  /** Median imputation (graft.ops.Robust.imputeMedian): values nulled
    * on a deterministic pattern (every 7th event) are refilled with the
    * per-type median of the survivors — the q51 graft-the-defect
    * pattern applied to missing data.
    */
  val q130_impute = QueryDef(
    "q130_impute",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        when(col("event_id") % 7 === 0, lit(null))
          .otherwise(round(col("value") * 1000000).cast("long")).as("v"))
      graft.ops.Robust.imputeMedian(ev, "event_type", col("v"), col("event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("was_null").cast("long")).as("n_imputed"),
          sum(col("imputed")).as("sum_after"))
    },
    Some("""WITH v AS (SELECT event_type, event_id,
          CASE WHEN event_id % 7 = 0 THEN NULL
               ELSE CAST(round(value * 1000000) AS BIGINT) END AS v FROM events),
      nn AS (SELECT event_type, event_id, v FROM v WHERE v IS NOT NULL),
      r AS (SELECT event_type, v,
          row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM nn),
      m AS (SELECT event_type,
          max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS med
        FROM r GROUP BY event_type)
      SELECT v.event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN v.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        CAST(sum(coalesce(v.v, m.med)) AS BIGINT) AS sum_after
      FROM v JOIN m USING (event_type) GROUP BY v.event_type"""),
  )

  /** Per-type OLS trend: slope of value (millis) against time (hours
    * since the type's first event) as an EXACT integer fraction —
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), numerator and
    * denominator emitted separately so no engine ever divides. Units
    * chosen so every intermediate stays far inside int64 (x ≤ ~720 h,
    * y ≤ ~2·10⁶ milli). Two keyed aggregations (min join, then the
    * moment sums — both map-side combinable).
    */
  val q131_trend = QueryDef(
    "q131_trend",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("ts div 3600000000000").as("t_h"),
        round(col("value") * 1000).cast("long").as("y"))
      val mins = ev.groupBy("event_type").agg(min(col("t_h")).as("t0"))
      val xy = ev.join(broadcast(mins), "event_type")
        .withColumn("x", col("t_h") - col("t0"))
      xy.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
    },
    Some("""WITH e AS (SELECT event_type,
          epoch_ns(ts) // 3600000000000 AS t_h,
          CAST(round(value * 1000) AS BIGINT) AS y FROM events),
      m AS (SELECT event_type, min(t_h) AS t0 FROM e GROUP BY event_type),
      x AS (SELECT e.event_type, e.t_h - m.t0 AS x, e.y
        FROM e JOIN m USING (event_type)),
      s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        FROM x GROUP BY event_type)
      SELECT event_type, n,
        CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
      FROM s"""),
  )

  /** Sketch-based join-size estimation (graft.ops.Sketches
    * .cmJoinSizeByRow — the AGMS/CM inner-product estimator): the
    * events table split by event-id parity, each half CM-sketched on
    * user_id, and |A ⋈ B| estimated per hash row from the two
    * constant-size slot tables — the decide-broadcast-vs-salt planning
    * primitive that never rescans either side. The oracle replays both
    * sketches through the XXH64 chain AND computes the exact join size;
    * the per-row estimates must be >= exact by construction, and
    * hash-equality proves every product term.
    */
  val q132_join_size = QueryDef(
    "q132_join_size",
    (s, d) => {
      val ev = Tables.events(s, d)
      def half(parity: Int) = graft.ops.Sketches.cmSketchRows(
        ev.filter(col("event_id") % 2 === parity), col("user_id"),
        width = 64, depth = 2)
      val est = graft.ops.Sketches.cmJoinSizeByRow(half(0), half(1), width = 64)
      val exact = ev.filter(col("event_id") % 2 === 0)
        .groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(ev.filter(col("event_id") % 2 === 1)
          .groupBy("user_id").agg(count(lit(1)).as("nb")), "user_id")
        .agg(sum(col("na") * col("nb")).as("exact_join_size"))
      est.crossJoin(broadcast(exact))
    },
    Some {
      import DuckXxHash._
      def halfSql(parity: Int, tag: String) = {
        val ch = chain(s"s$tag",
          s"SELECT ${unsigned("user_id")} AS v FROM events WHERE event_id % 2 = $parity")
          .steps(hashLongSteps(s"h$tag", "v", "42::HUGEINT"))
          .steps(hashLongSteps(s"r0$tag", "0::HUGEINT", s"h${tag}out"))
          .steps(hashLongSteps(s"r1$tag", "1::HUGEINT", s"h${tag}out"))
        (ch, s"SELECT slot, count(*) AS cnt FROM (" +
          s"SELECT ${pmod(s"r0${tag}out", 64L)} AS slot FROM ${ch.last} " +
          s"UNION ALL SELECT 64 + ${pmod(s"r1${tag}out", 64L)} FROM ${ch.last}" +
          ") GROUP BY slot")
      }
      val (cha, sqlA) = halfSql(0, "a")
      val (chb, sqlB) = halfSql(1, "b")
      val merged = Chain(cha.ctes ++ chb.ctes, chb.last)
        .cte("cma", sqlA)
        .cte("cmb", sqlB)
        .cte("estt",
          """SELECT slot // 64 AS hash_row, sum(a.cnt * b.cnt) AS est
          FROM cma a JOIN cmb b USING (slot) GROUP BY slot // 64""")
        .cte("exactt",
          """SELECT sum(na * nb) AS x FROM
            (SELECT user_id, count(*) AS na FROM events
             WHERE event_id % 2 = 0 GROUP BY user_id) a
          JOIN
            (SELECT user_id, count(*) AS nb FROM events
             WHERE event_id % 2 = 1 GROUP BY user_id) b
          USING (user_id)""")
      merged.render(
        """SELECT CAST(hash_row AS BIGINT) AS hash_row, CAST(est AS BIGINT) AS est,
          CAST(x AS BIGINT) AS exact_join_size
        FROM estt CROSS JOIN exactt""")
    },
  )

  /** Cross-source contamination matrix: how many normalized
    * fingerprints each pair of corpus sources SHARES — the
    * corpus-hygiene report that catches one crawl feed re-serving
    * another's content. Distinct (source, fp) pairs, one self-join on
    * the fingerprint key (never on text), ordered pairs a < b.
    */
  val q133_source_overlap = QueryDef(
    "q133_source_overlap",
    (s, d) => {
      val fps = Tables.read(s, d, "documents").select(col("source"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
      fps.as("a").join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    },
    Some("""WITH f AS (SELECT DISTINCT source,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(count(*) AS BIGINT) AS n_shared
      FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      GROUP BY a.source, b.source"""),
  )

  /** Dedup survivorship-bias report: keep-first dedup silently follows
    * doc-id order, and this query audits WHO loses — per source: docs
    * in, docs surviving, docs dropped as duplicates, and of those how
    * many lost to a survivor from a DIFFERENT source (the cross-source
    * bias a fair curation pipeline must watch). One fingerprint window
    * carrying the survivor's source via first_value, then a keyed agg.
    */
  val q134_dedup_bias = QueryDef(
    "q134_dedup_bias",
    (s, d) => {
      val w = Window
        .partitionBy(graft.ops.TextAnalysis.fingerprint(col("text")))
        .orderBy("doc_id")
      val flagged = Tables.read(s, d, "documents")
        .select(col("doc_id"), col("source"),
          row_number().over(w).as("rn"),
          first("source").over(w).as("surv_source"))
      flagged.groupBy("source")
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_survive"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("rn") > 1 && col("surv_source") =!= col("source"), 1L)
            .otherwise(0L)).as("n_lost_cross_source"))
    },
    Some("""WITH f AS (SELECT doc_id, source,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents),
      r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
          first_value(source) OVER (PARTITION BY fp ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS surv_source
        FROM f)
      SELECT source, CAST(count(*) AS BIGINT) AS n_in,
        CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survive,
        CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(sum(CASE WHEN rn > 1 AND surv_source <> source THEN 1 ELSE 0 END)
          AS BIGINT) AS n_lost_cross_source
      FROM r GROUP BY source"""),
  )

  /** Vocabulary drift between two sources: per token, the scale-free
    * integer disparity |n_A·tot_B − n_B·tot_A| (zero iff the token's
    * share is identical in both sources — cross-multiplied so no
    * engine divides), top-20 under a total order. The distribution-
    * shift alarm for a corpus feed that changed character.
    */
  val q135_vocab_drift = QueryDef(
    "q135_vocab_drift",
    (s, d) => {
      val toks = Tables.read(s, d, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(filter(
            split(lower(trim(coalesce(col("text"), lit("")))), "\\s+"),
            t => length(t) > 0)).as("t"))
      val counts = toks.groupBy("t")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("na"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("nb"))
      val tot = counts.agg(sum("na").as("ta"), sum("nb").as("tb"))
      counts.crossJoin(broadcast(tot))
        .withColumn("disparity",
          abs(col("na") * col("tb") - col("nb") * col("ta")))
        .orderBy(col("disparity").desc, col("t"))
        .limit(20)
        .select(col("t"), col("na"), col("nb"), col("disparity"))
    },
    Some("""WITH tk AS (SELECT source,
          unnest(list_filter(
            string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
            t -> length(t) > 0)) AS t
        FROM documents WHERE source IN ('src0', 'src1')),
      c AS (SELECT t,
          CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM tk GROUP BY t),
      tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
          CAST(sum(nb) AS BIGINT) AS tb FROM c)
      SELECT t, na, nb, CAST(abs(na * tb - nb * ta) AS BIGINT) AS disparity
      FROM c CROSS JOIN tot
      ORDER BY disparity DESC, t LIMIT 20"""),
  )

  /** Byte-balanced shard assignment over documents
    * ([[graft.ops.Sampling.byteBalancedShards]]): greedy prefix-sum
    * packing at a 64 KiB target — equal-size training shard files, not
    * equal row counts. The two-phase prefix sum (bucket totals to the
    * driver, within-bucket window) is all-integer, so the oracle
    * replays it with plain SQL windows.
    */
  val q136_balanced_shards = QueryDef(
    "q136_balanced_shards",
    (s, d) => graft.ops.Sampling.byteBalancedShards(
      Tables.read(s, d, "documents"), "doc_id", octet_length(coalesce(col("text"), lit(""))),
      targetBytes = 65536L, nBuckets = 64),
    Some("""WITH b AS (SELECT doc_id,
          CAST(strlen(coalesce(text, '')) AS BIGINT) AS bytes,
          doc_id % 64 AS bk FROM documents),
      t AS (SELECT bk, CAST(sum(bytes) AS BIGINT) AS tb FROM b GROUP BY bk),
      o AS (SELECT bk, CAST(coalesce(sum(tb) OVER (ORDER BY bk
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        FROM t),
      c AS (SELECT doc_id, bytes, bk,
          CAST(sum(bytes) OVER (PARTITION BY bk ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - bytes AS BIGINT) AS cumb FROM b)
      SELECT doc_id, bytes, CAST((cumb + off) // 65536 AS BIGINT) AS shard
      FROM c JOIN o USING (bk)"""),
  )

  /** Source-mix drift between two corpus snapshots
    * ([[graft.ops.Drift.categoricalDrift]]): baseline A vs a current B
    * that lost one source entirely (vanished), gained a new one
    * (appeared), and shifted the rest. Per-category floor-ppm shares
    * and deltas, all-integer — the recurring-feed monitoring report.
    */
  val q137_source_drift = QueryDef(
    "q137_source_drift",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
      val aSnap = all.filter(col("doc_id") % 7 =!= 0)
      val bSnap = all.filter(col("doc_id") % 10 =!= 0)
        .filter(col("source") =!= "src1")
        .withColumn("source", when(col("doc_id") % 97 === 0, lit("src_new"))
          .otherwise(col("source")))
      graft.ops.Drift.categoricalDrift(aSnap, bSnap, "source")
    },
    Some("""WITH a AS (SELECT coalesce(CAST(source AS VARCHAR), '') AS category
          FROM documents WHERE doc_id % 7 <> 0),
        b AS (SELECT coalesce(CASE WHEN doc_id % 97 = 0 THEN 'src_new'
              ELSE CAST(source AS VARCHAR) END, '') AS category
          FROM documents WHERE doc_id % 10 <> 0 AND source <> 'src1'),
        ca AS (SELECT category, CAST(count(*) AS BIGINT) AS n_a
          FROM a GROUP BY category),
        cb AS (SELECT category, CAST(count(*) AS BIGINT) AS n_b
          FROM b GROUP BY category),
        tot AS (SELECT (SELECT CAST(coalesce(sum(n_a), 0) AS BIGINT) FROM ca) AS tot_a,
          (SELECT CAST(coalesce(sum(n_b), 0) AS BIGINT) FROM cb) AS tot_b),
        j AS (SELECT coalesce(ca.category, cb.category) AS category,
            coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        r AS (SELECT category, n_a, n_b,
            CASE WHEN tot_a > 0 THEN n_a * 1000000 // tot_a ELSE 0 END AS ppm_a,
            CASE WHEN tot_b > 0 THEN n_b * 1000000 // tot_b ELSE 0 END AS ppm_b
          FROM j CROSS JOIN tot)
      SELECT category, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        CAST(ppm_a AS BIGINT) AS ppm_a, CAST(ppm_b AS BIGINT) AS ppm_b,
        CAST(abs(ppm_a - ppm_b) AS BIGINT) AS delta_ppm,
        CASE WHEN n_a = 0 THEN 'appeared' WHEN n_b = 0 THEN 'vanished'
          ELSE 'present' END AS status
      FROM r"""),
  )

  /** Length-distribution drift ([[graft.ops.Drift.numericDrift]]):
    * snapshot B caps a third of the documents at 128 bytes, shifting
    * the byte-length histogram left. Integer-exact bucket edges
    * (`off * nb div span`, clamped to the edge buckets so tail drift
    * is visible), then the same ppm report as q137.
    */
  val q138_length_drift = QueryDef(
    "q138_length_drift",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
        .withColumn("len", octet_length(coalesce(col("text"), lit(""))).cast("long"))
      val aSnap = all.filter(col("doc_id") % 7 =!= 0)
      val bSnap = all.filter(col("doc_id") % 10 =!= 0)
        .withColumn("len", when(col("doc_id") % 3 === 0,
          least(col("len"), lit(128L))).otherwise(col("len")))
      graft.ops.Drift.numericDrift(aSnap, bSnap, col("len"), 0L, 512L, 16)
    },
    Some("""WITH a AS (SELECT CAST(least(greatest(
            CAST(strlen(coalesce(text, '')) AS BIGINT) * 16 // 512, 0), 15)
            AS VARCHAR) AS category
          FROM documents WHERE doc_id % 7 <> 0),
        b AS (SELECT CAST(least(greatest(
            (CASE WHEN doc_id % 3 = 0
              THEN least(CAST(strlen(coalesce(text, '')) AS BIGINT), 128)
              ELSE CAST(strlen(coalesce(text, '')) AS BIGINT) END) * 16 // 512,
            0), 15) AS VARCHAR) AS category
          FROM documents WHERE doc_id % 10 <> 0),
        ca AS (SELECT category, CAST(count(*) AS BIGINT) AS n_a
          FROM a GROUP BY category),
        cb AS (SELECT category, CAST(count(*) AS BIGINT) AS n_b
          FROM b GROUP BY category),
        tot AS (SELECT (SELECT CAST(coalesce(sum(n_a), 0) AS BIGINT) FROM ca) AS tot_a,
          (SELECT CAST(coalesce(sum(n_b), 0) AS BIGINT) FROM cb) AS tot_b),
        j AS (SELECT coalesce(ca.category, cb.category) AS category,
            coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        r AS (SELECT category, n_a, n_b,
            CASE WHEN tot_a > 0 THEN n_a * 1000000 // tot_a ELSE 0 END AS ppm_a,
            CASE WHEN tot_b > 0 THEN n_b * 1000000 // tot_b ELSE 0 END AS ppm_b
          FROM j CROSS JOIN tot)
      SELECT category, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        CAST(ppm_a AS BIGINT) AS ppm_a, CAST(ppm_b AS BIGINT) AS ppm_b,
        CAST(abs(ppm_a - ppm_b) AS BIGINT) AS delta_ppm,
        CASE WHEN n_a = 0 THEN 'appeared' WHEN n_b = 0 THEN 'vanished'
          ELSE 'present' END AS status
      FROM r"""),
  )

  /** The one-row drift alarm ([[graft.ops.Drift.driftSummary]]) over
    * q137's report: total categories, appeared/vanished counts, and
    * the total-variation distance in ppm — the single number a feed
    * monitor thresholds on.
    */
  val q139_drift_summary = QueryDef(
    "q139_drift_summary",
    (s, d) => {
      val all = Tables.read(s, d, "documents")
      val aSnap = all.filter(col("doc_id") % 7 =!= 0)
      val bSnap = all.filter(col("doc_id") % 10 =!= 0)
        .filter(col("source") =!= "src1")
        .withColumn("source", when(col("doc_id") % 97 === 0, lit("src_new"))
          .otherwise(col("source")))
      graft.ops.Drift.driftSummary(
        graft.ops.Drift.categoricalDrift(aSnap, bSnap, "source"))
    },
    Some("""WITH a AS (SELECT coalesce(CAST(source AS VARCHAR), '') AS category
          FROM documents WHERE doc_id % 7 <> 0),
        b AS (SELECT coalesce(CASE WHEN doc_id % 97 = 0 THEN 'src_new'
              ELSE CAST(source AS VARCHAR) END, '') AS category
          FROM documents WHERE doc_id % 10 <> 0 AND source <> 'src1'),
        ca AS (SELECT category, CAST(count(*) AS BIGINT) AS n_a
          FROM a GROUP BY category),
        cb AS (SELECT category, CAST(count(*) AS BIGINT) AS n_b
          FROM b GROUP BY category),
        tot AS (SELECT (SELECT CAST(coalesce(sum(n_a), 0) AS BIGINT) FROM ca) AS tot_a,
          (SELECT CAST(coalesce(sum(n_b), 0) AS BIGINT) FROM cb) AS tot_b),
        j AS (SELECT coalesce(ca.category, cb.category) AS category,
            coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        r AS (SELECT category, n_a, n_b,
            CASE WHEN tot_a > 0 THEN n_a * 1000000 // tot_a ELSE 0 END AS ppm_a,
            CASE WHEN tot_b > 0 THEN n_b * 1000000 // tot_b ELSE 0 END AS ppm_b
          FROM j CROSS JOIN tot)
      SELECT CAST(count(*) AS BIGINT) AS n_categories,
        CAST(sum(CASE WHEN n_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_appeared,
        CAST(sum(CASE WHEN n_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vanished,
        CAST(sum(abs(ppm_a - ppm_b)) // 2 AS BIGINT) AS tv_ppm
      FROM r"""),
  )

  /** Per-event-type CUSUM changepoint
    * ([[graft.ops.TimeSeries.cusumChangepoint]]): where in the
    * timeline each metric's mean shifted — the at-most-one-changepoint
    * estimator a feed monitor pairs with the drift report (q137: WHAT
    * shifted; this: WHEN). Micro-unit values, HUGEINT/DECIMAL
    * cross-multiplied scores, ties to the earliest index — the oracle
    * replays the identical argmax.
    */
  val q140_changepoint = QueryDef(
    "q140_changepoint",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 1000000).cast("long").as("v_micro"))
      graft.ops.TimeSeries.cusumChangepoint(ev, "event_type",
        col("ts"), col("event_id"), col("v_micro"))
    },
    Some("""WITH e AS (SELECT event_type, epoch_ns(ts) AS tsn, event_id,
            CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
        w AS (SELECT event_type, tsn,
            CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY tsn, event_id) AS BIGINT) AS i,
            CAST(sum(CAST(v AS HUGEINT)) OVER (PARTITION BY event_type
              ORDER BY tsn, event_id ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum,
            CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
            CAST(sum(CAST(v AS HUGEINT)) OVER (PARTITION BY event_type)
              AS HUGEINT) AS tot
          FROM e),
        sc AS (SELECT event_type, tsn, i, n,
            abs(CAST(n AS HUGEINT) * cum - CAST(i AS HUGEINT) * tot) AS s
          FROM w),
        r AS (SELECT event_type, tsn, i, n,
            row_number() OVER (PARTITION BY event_type
              ORDER BY s DESC, i ASC) AS rk
          FROM sc)
      SELECT event_type, CAST(n AS BIGINT) AS n, CAST(i AS BIGINT) AS cp_idx,
        CAST(tsn AS BIGINT) AS cp_ts
      FROM r WHERE rk = 1"""),
  )

  /** Perceptual image dedup ([[graft.ops.ImageDedup]]) with a FULL
    * 64-bit oracle: a lossless gray-PNG corpus (9x8 lumas from the
    * XXH64 chain the DuckDB replay reproduces bit-for-bit) plus a
    * planted brightness-shifted duplicate for every tenth image
    * (+3 on every luma — dHash compares neighbor ORDER, so the shifted
    * copy hashes identically while remaining byte-distinct). The Spark
    * side runs the production path for real: PNG encode, ImageIO
    * decode, integer-luma dHash, pigeonhole band join; the oracle
    * recomputes every pixel, every comparison bit, and the final
    * signed-64 signature in SQL, then forms the same a < b pairs.
    */
  val q141_image_dhash = QueryDef(
    "q141_image_dhash",
    (s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = Tables.read(s, d, "documents").select(col("doc_id").cast("long").as("base_id"))
      val rig = ids
        .select(col("base_id"), col("base_id").as("id"), lit(0).as("shift"))
        .unionAll(ids.filter(col("base_id") % 10 === 0)
          .select(col("base_id"), (col("base_id") + 10000000L).as("id"),
            lit(3).as("shift")))
      val outSchema = StructType(Seq(StructField("id", LongType),
        StructField("png", BinaryType)))
      implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val withPng = rig.mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(1),
            graft.ops.ImageDedup.hashCorpusPng(r.getLong(0), r.getInt(2)))
        }
      }
      // cut: the banding self-join + the hash join-back reference
      // `hashed` THREE times — without the barrier the plan re-encodes
      // and re-decodes every PNG per reference (measured 3.2 s -> the
      // decode once). Signatures are 16 bytes/row.
      val hashed = Barrier.cut(graft.ops.ImageDedup.dHash(withPng, "png")
        .select(col("id"), col("png_dhash").as("dhash")))
      graft.ops.Dedup.bandedHammingPairs(hashed, "id", "dhash", maxHamming = 0)
        .join(hashed.withColumnRenamed("id", "a"), "a")
        .select(col("a"), col("b"), col("dhash"))
    },
    Some {
      dhashOracleChain(
        """SELECT CAST(doc_id AS BIGINT) AS base_id, CAST(doc_id AS BIGINT) AS id,
            0 AS shift FROM documents
          UNION ALL
          SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 10000000 AS BIGINT), 3
          FROM documents WHERE doc_id % 10 = 0""")
        .render("""SELECT x.id AS a, y.id AS b, x.dhash AS dhash
          FROM dh x JOIN dh y ON x.dhash = y.dhash AND x.id < y.id""")
    },
  )

  /** The SQL replay of [[graft.ops.ImageDedup.hashCorpusPng]] +
    * `dHashBits`: given a rig CTE producing (base_id, id, shift), emit
    * the chain ending in `dh(id, dhash)` — every pixel via the XXH64
    * chain, every comparison bit, the signed-64 signature. Shared by
    * q141 (batch pairs) and g119 (streaming first-seen attribution).
    */
  /** dHash replay over the hashCorpusPng fixture family. `rigSql` must
    * yield (base_id, id, shift) and MAY yield an `edits` column (the
    * hashCorpusPng editRows content edit: column-0 lumas of the first
    * `edits` rows inverted); rigs without edits pass 0.
    */
  private[graft] def dhashOracleChain(rigSql: String,
      hasEdits: Boolean = false): DuckXxHash.Chain = {
    import DuckXxHash._
    val editsCol = if (hasEdits) "edits" else "0 AS edits"
    val ch = chain("rig", rigSql)
      .cte("px", s"SELECT id, shift, $editsCol, r.range AS idx, " +
        s"${unsigned("base_id * 72 + r.range")} AS v FROM rig, range(0, 72) r")
      .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
    ch.cte("lum",
      s"SELECT id, idx, CASE WHEN idx % 9 = 0 AND idx // 9 < edits " +
        s"THEN 255 - (${pmod("h1out", 201L)} + shift) " +
        s"ELSE ${pmod("h1out", 201L)} + shift END AS lum FROM ${ch.last}")
      .cte("bits",
        """SELECT l.id, CAST((l.idx // 9) * 8 + (l.idx % 9) AS INT) AS pos
          FROM lum l JOIN lum r ON r.id = l.id AND r.idx = l.idx + 1
          WHERE l.idx % 9 < 8 AND r.lum > l.lum""")
      .cte("dh",
        s"SELECT p.id, ${signed("coalesce(b.s, 0::HUGEINT)")} AS dhash " +
          "FROM (SELECT DISTINCT id FROM lum) p LEFT JOIN " +
          "(SELECT id, sum(1::HUGEINT << pos) AS s FROM bits GROUP BY id) b " +
          "ON p.id = b.id")
  }

  /** URL canonicalization ([[graft.ops.UrlOps]]) with a FULL oracle by
    * construction: messy URLs are assembled from hash-derived parts
    * (random scheme case, `WwW.` prefix, default/non-default ports,
    * trailing slashes, shuffled tracking params, fragments), the op
    * must recover the canonical form, and the oracle builds BOTH the
    * messy string and the canonical form directly from the same hash
    * picks — so every normalization rule (case, www, port, slash,
    * param filter+sort, fragment) is proven, not just run.
    */
  /** The hash-derived messy URL of a doc (shared by q142 and the q145
    * pipeline capstone): random scheme case, `WwW.`/`cdn.` prefixes, 8
    * TLD cases spanning the PSL rule families, default/non-default
    * ports, trailing slashes, shuffled tracking params, fragments.
    */
  private def messyUrlCol: org.apache.spark.sql.Column = {
    def peel(c: org.apache.spark.sql.Column, m: Int)
        : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
      ((c % m).cast("long"), (c / lit(m)).cast("long"))
    val u0 = pmod(xxhash64(col("doc_id")), lit(1000000000L))
    val (scheme, r1) = peel(u0, 4) // 0 http, 1 HTTP, 2 https, 3 HTTPS
    val (www, r2) = peel(r1, 2)
    val (sub, r3) = peel(r2, 2)
    val (word, r4) = peel(r3, 50)
    // r9: widened 4 -> 8 to exercise the PSL-backed registrable
    // domain — com.cn (ICANN 2nd-level), github.io (private
    // section), gen.ck (*.ck wildcard), kawasaki.jp (wildcard whose
    // direct children are themselves public suffixes)
    val (tld, r5) = peel(r4, 8)
    val (port, r6) = peel(r5, 3) // 0 none, 1 scheme default, 2 :8080
    val (pathN, r7) = peel(r6, 100)
    val (slash, r8) = peel(r7, 2)
    val (ord, r9) = peel(r8, 2)
    val (frag, r10) = peel(r9, 2)
    val (qv, r11) = peel(r10, 10)
    val (idv, _) = peel(r11, 10)
    val schemeStr = element_at(array(lit("http"), lit("HTTP"),
      lit("https"), lit("HTTPS")), (scheme + 1).cast("int"))
    val isHttps = scheme >= 2
    val tldStr = element_at(array(lit(".com"), lit(".org"),
      lit(".co.uk"), lit(".de"), lit(".com.cn"), lit(".github.io"),
      lit(".gen.ck"), lit(".kawasaki.jp")), (tld + 1).cast("int"))
    val hostCore = concat(when(sub === 1, lit("cdn.")).otherwise(lit("")),
      lit("site"), word.cast("string"), tldStr)
    val messyHost = concat(when(www === 1, lit("WwW.")).otherwise(lit("")),
      hostCore)
    val portStr = when(port === 1,
      when(isHttps, lit(":443")).otherwise(lit(":80")))
      .when(port === 2, lit(":8080")).otherwise(lit(""))
    val pathStr = concat(lit("/p/"), pathN.cast("string"),
      when(slash === 1, lit("/")).otherwise(lit("")))
    val pq = concat(lit("q="), qv.cast("string"))
    val pid = concat(lit("id="), idv.cast("string"))
    val qstr = when(ord === 0, concat(pq, lit("&utm_source=track&"), pid))
      .otherwise(concat(lit("utm_source=track&"), pid, lit("&"), pq))
    val fragStr = when(frag === 1, lit("#sec")).otherwise(lit(""))
    concat(schemeStr, lit("://"), messyHost, portStr, pathStr,
      lit("?"), qstr, fragStr)
  }

  /** The q142/q145 oracle-side domain expression (expects the `picks`
    * CTE columns word / tld / sub in scope): the PSL-expected
    * registrable domain, incl. the kawasaki.jp NULL branch.
    */
  private val oracleDomainSql: String =
    """CASE WHEN tld = 7 THEN
        (CASE sub WHEN 1 THEN 'cdn.site' || CAST(word AS VARCHAR)
           || '.kawasaki.jp' ELSE NULL END)
      ELSE 'site' || CAST(word AS VARCHAR) ||
        (CASE tld WHEN 0 THEN '.com' WHEN 1 THEN '.org'
          WHEN 2 THEN '.co.uk' WHEN 3 THEN '.de'
          WHEN 4 THEN '.com.cn' WHEN 5 THEN '.github.io'
          ELSE '.gen.ck' END) END"""

  /** The oracle-side hash-picks chain shared by q142/q145 (XXH64 of
    * doc_id replayed, then the peel fields). `urlPicksChain2` runs the
    * same picks over an arbitrary (doc_id, text) source CTE named
    * `crawled` (q145's planted re-crawls).
    */
  private def urlPicksChain: DuckXxHash.Chain =
    urlPicksChain2("SELECT doc_id, text FROM documents")

  private def urlPicksChain2(crawledSql: String): DuckXxHash.Chain = {
    import DuckXxHash._
    chain("crawled", crawledSql)
      .cte("s0",
        s"SELECT doc_id, ${unsigned("doc_id")} AS v FROM crawled")
      .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
      .cte("u", s"SELECT doc_id, ${pmod("h1out", 1000000000L)} AS u0 FROM c_h1out")
      .cte("picks", """SELECT doc_id,
          u0 % 4 AS s, u0 // 4 % 2 AS www, u0 // 8 % 2 AS sub,
          u0 // 16 % 50 AS word, u0 // 800 % 8 AS tld,
          u0 // 6400 % 3 AS port, u0 // 19200 % 100 AS pathn,
          u0 // 1920000 % 2 AS slash, u0 // 3840000 % 2 AS ord,
          u0 // 7680000 % 2 AS frag, u0 // 15360000 % 10 AS qv,
          u0 // 153600000 % 10 AS idv
        FROM u""")
  }

  val q142_url_canonical = QueryDef(
    "q142_url_canonical",
    (s, d) => {
      val url = messyUrlCol
      Tables.read(s, d, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.UrlOps.canonicalizeUrl(col("url")).as("canon"),
          graft.ops.UrlOps.registrableDomain(
            graft.ops.UrlOps.canonicalHost(col("url"))).as("domain"))
    },
    Some {
      val ch = urlPicksChain
        .cte("parts", s"""SELECT doc_id,
            CASE s WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
              WHEN 2 THEN 'https' ELSE 'HTTPS' END AS scheme_messy,
            CASE WHEN s >= 2 THEN 'https' ELSE 'http' END AS scheme_canon,
            (CASE sub WHEN 1 THEN 'cdn.' ELSE '' END) || 'site' ||
              CAST(word AS VARCHAR) ||
              (CASE tld WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                WHEN 2 THEN '.co.uk' WHEN 3 THEN '.de'
                WHEN 4 THEN '.com.cn' WHEN 5 THEN '.github.io'
                WHEN 6 THEN '.gen.ck' ELSE '.kawasaki.jp' END) AS host_core,
            -- PSL-expected registrable domain: tld 0..6 strip any cdn.
            -- (public suffix + 1 label); kawasaki.jp is a wildcard
            -- block, so siteN.kawasaki.jp is ITSELF a public suffix —
            -- registrable only when the cdn. label exists
            $oracleDomainSql AS domain,
            CASE www WHEN 1 THEN 'WwW.' ELSE '' END AS wprefix,
            CASE port WHEN 1 THEN (CASE WHEN s >= 2 THEN ':443' ELSE ':80' END)
              WHEN 2 THEN ':8080' ELSE '' END AS port_messy,
            CASE port WHEN 2 THEN ':8080' ELSE '' END AS port_canon,
            '/p/' || CAST(pathn AS VARCHAR) AS path_canon,
            CASE slash WHEN 1 THEN '/' ELSE '' END AS slash_sfx,
            'q=' || CAST(qv AS VARCHAR) AS pq,
            'id=' || CAST(idv AS VARCHAR) AS pid,
            ord, CASE frag WHEN 1 THEN '#sec' ELSE '' END AS frag_sfx
          FROM picks""")
      ch.render("""SELECT doc_id,
          scheme_messy || '://' || wprefix || host_core || port_messy ||
            path_canon || slash_sfx || '?' ||
            (CASE ord WHEN 0 THEN pq || '&utm_source=track&' || pid
              ELSE 'utm_source=track&' || pid || '&' || pq END) ||
            frag_sfx AS url,
          scheme_canon || '://' || host_core || port_canon || path_canon ||
            '?' || pid || '&' || pq AS canon,
          domain
        FROM parts""")
    },
  )

  /** Late-interaction (MaxSim / ColBERT) reranking
    * ([[graft.ops.Retrieval.maxSim]]) with a FULL oracle: multi-vector
    * token embeddings are deterministic integer hash-vectors (the
    * q54/q68 convention — dim 4, components in [-8, 8]), candidates
    * come from an equi-join on a mod key (a stand-in for the
    * first-stage retriever, and deliberately NOT a theta-join), and
    * the oracle replays every token component, every token-pair dot,
    * the per-query-token max, and the final sum in SQL.
    */
  val q143_late_interaction = QueryDef(
    "q143_late_interaction",
    (s, d) => {
      def vec(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array((0 until 4).map(j =>
          pmod(xxhash64(key, lit(j.toLong)), lit(17L)) - 8L): _*)
      val base = Tables.read(s, d, "documents").select(col("doc_id"))
      val dToks = base
        .select(col("doc_id"), explode(sequence(lit(0L), lit(7L))).as("t"))
        .select(col("doc_id"), vec(col("doc_id") * 8 + col("t")).as("dv"))
      val qToks = base.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("qid"),
          explode(sequence(lit(0L), lit(3L))).as("qt"))
        .select(col("qid"), col("qt"),
          vec(lit(10000000L) + col("qid") * 4 + col("qt")).as("qv"))
      // candidates: (doc + qid) % 5 == 0 as an equi-join on the mod key
      val dc = base.select(col("doc_id"), pmod(col("doc_id"), lit(5L)).as("k"))
      val qc = base.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("qid"), pmod(-col("doc_id"), lit(5L)).as("k"))
      val cands = dc.join(broadcast(qc), "k").select(col("qid"), col("doc_id"))
      graft.ops.Retrieval.maxSim(cands, "doc_id", qToks, dToks)
    },
    Some {
      import DuckXxHash._
      val ch = chain("base", "SELECT CAST(doc_id AS BIGINT) AS id FROM documents")
        .cte("dkey", "SELECT id AS doc_id, id * 8 + t.range AS key " +
          "FROM base, range(0, 8) t")
        .cte("qkey", "SELECT id AS qid, t.range AS qt, " +
          "10000000 + id * 4 + t.range AS key FROM base, range(0, 4) t " +
          "WHERE id % 50 = 0")
        .cte("kj", "SELECT key, j.range AS j FROM " +
          "(SELECT key FROM dkey UNION SELECT key FROM qkey) ks, range(0, 4) j")
        .steps(hashLongSteps("h1", unsigned("key"), "42::HUGEINT"))
        .steps(hashLongSteps("h2", unsigned("j"), "h1out"))
      val ch2 = ch
        .cte("comp", s"SELECT key, j, ${pmod("h2out", 17L)} - 8 AS c FROM ${ch.last}")
        .cte("dcomp", "SELECT d.doc_id, d.key, c.j, c.c " +
          "FROM dkey d JOIN comp c USING (key)")
        .cte("qcomp", "SELECT q.qid, q.qt, c.j, c.c " +
          "FROM qkey q JOIN comp c USING (key)")
        .cte("cands", "SELECT q.id AS qid, d.id AS doc_id FROM base q, base d " +
          "WHERE q.id % 50 = 0 AND (d.id + q.id) % 5 = 0")
        .cte("dots", """SELECT cd.qid, cd.doc_id, qc.qt, dc.key AS dkey,
            CAST(sum(qc.c * dc.c) AS BIGINT) AS dot
          FROM cands cd
          JOIN qcomp qc ON qc.qid = cd.qid
          JOIN dcomp dc ON dc.doc_id = cd.doc_id AND dc.j = qc.j
          GROUP BY 1, 2, 3, 4""")
        .cte("ms", "SELECT qid, doc_id, qt, max(dot) AS m FROM dots GROUP BY 1, 2, 3")
      ch2.render(
        "SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS score FROM ms GROUP BY 1, 2")
    },
  )

  /** Image decode-coverage telemetry ([[graft.ops.ImageDedup
    * .decodeCoverage]]): per container format (magic bytes), payload
    * and decodable counts. The rig plants a hash-picked format per doc
    * (real PNG/JPEG/GIF/BMP encodes, a JDK-undecodable RIFF/WEBP
    * container, junk, and missing payloads), so the oracle derives
    * every count from the same XXH64 pick — and the WebP row's
    * n_decodable = 0 is the measured silent-null rate the op exists to
    * expose.
    */
  val q144_image_coverage = QueryDef(
    "q144_image_coverage",
    (s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      // spread the payload encode + decode probe (the exchange carries
      // two longs per row)
      val rig = Barrier.spread(Tables.read(s, d, "documents")
        .select(col("doc_id").cast("long").as("base_id"),
          pmod(xxhash64(col("doc_id").cast("long")), lit(8L)).cast("int").as("kind")))
      val outSchema = StructType(Seq(StructField("base_id", LongType),
        StructField("img", BinaryType)))
      implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val withBytes = rig.mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0),
            graft.ops.ImageDedup.fixturePayload(r.getLong(0), r.getInt(1)))
        }
      }
      graft.ops.ImageDedup.decodeCoverage(withBytes, "img")
    },
    Some {
      import DuckXxHash._
      val ch = chain("s0",
        s"SELECT doc_id, ${unsigned("CAST(doc_id AS BIGINT)")} AS v FROM documents")
        .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
        .cte("k", s"SELECT ${pmod("h1out", 8L)} AS kind FROM ${"c_h1out"}")
      // kind 4 = lossy VP8 (r11: a REAL DC-mode keyframe the pure-Scala
      // Vp8 decoder reads — now in n_decodable, closing the r10 gap
      // where only its DIMENSIONS parsed);
      // kind 7 = VP8L lossless (decodable via the r9 pure-Scala
      // decoder) — the webp row now decodes in BOTH profiles, and
      // n_dims_known == n_decodable everywhere
      ch.render("""SELECT
          CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
            WHEN 3 THEN 'bmp' WHEN 5 THEN 'other' WHEN 6 THEN 'missing'
            ELSE 'webp' END AS format,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN kind <= 4 OR kind = 7 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_decodable,
          CAST(sum(CASE WHEN kind <= 4 OR kind = 7 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dims_known
        FROM k GROUP BY 1""")
    },
  )

  /** The crawl-curation pipeline CAPSTONE: every stage a real crawl
    * pass runs, composed end-to-end in one plan — messy-URL
    * canonicalization + PSL registrable domain (q142's operators),
    * whitespace-normalized exact dedup with keep-first survivors
    * (q21/q22), token counting and quality scoring on the survivors
    * (q24/q25), rolled up per domain. The oracle composes the same
    * stages in SQL, so the hash-match proves the INTEGRATION, not just
    * the parts: domain attribution (incl. the NULL-registrable
    * kawasaki.jp branch grouping), survivor selection, and the
    * survivor-gated aggregates all have to line up at once.
    *
    * Scale shape: one scan (URL + fingerprint are pure expressions),
    * one fingerprint-keyed shuffle for the keep-first window, one
    * domain-keyed partial-aggregated rollup. No joins, nothing
    * quadratic; the same plan at 100 TB.
    */
  /** The q145 pipeline body over an arbitrary (doc_id, text) crawl
    * frame — shared by the q145 QueryDef and tools/CrawlScaleBench's
    * 1x/10x curve (VERDICT r9 item 7): messy-URL canonicalize + PSL
    * domain, whitespace-normalized keep-first dedup, survivor-gated
    * token/quality, per-domain rollup.
    *
    * r11 plan shape (VERDICT r10 "what's wrong" #3): the keep-first
    * survivor used to be a `row_number() OVER (PARTITION BY fp)`
    * window — a full shuffle of every fetch plus a whole-partition
    * sort. It is now a two-level map-side-combinable aggregation: a
    * (fp, domain) grouped pass picks each pair's `min_by` survivor
    * candidate (duplicate classes collapse BEFORE the exchange, so the
    * shuffle carries distinct pairs, not the corpus, and a viral
    * duplicate can't skew a reducer), then a tiny per-fp aggregate
    * picks the global survivor and rolls it up per domain. The
    * per-domain fetch count branch groups STRAIGHT on domain — column
    * pruning strips it to the URL column alone (no fingerprint md5, no
    * text read), a near-free combinable side count. The branches join
    * null-safely (the NULL-registrable kawasaki.jp branch groups under
    * NULL). Net: the corpus pays one combinable shuffle and zero row
    * sorts; the window's sort AND its full-corpus exchange are gone.
    */
  def crawlPipeline(crawled: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nTok = length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1
    val nLetters = length(regexp_replace(col("text"), " ", ""))
    val enriched = crawled
      .select(col("doc_id"), col("text"), messyUrlCol.as("url"))
      .withColumn("domain", graft.ops.UrlOps.registrableDomain(
        graft.ops.UrlOps.canonicalHost(col("url"))))
      .withColumn("fp",
        md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .select(col("doc_id"), col("domain"), col("fp"),
        nTok.cast("long").as("n_tokens"),
        floor(nLetters * 1000.0 / nTok).cast("long").as("q_milli"))
    // the one corpus-sized (combinable) shuffle; doc_id is unique, so
    // every min/min_by below is deterministic
    val perPair = enriched.groupBy("fp", "domain").agg(
      min_by(struct(col("n_tokens"), col("q_milli")), col("doc_id")).as("cand"),
      min(col("doc_id")).as("mid"))
    val fetches = enriched.groupBy("domain").agg(count(lit(1)).as("n_docs"))
    val survivors = perPair.groupBy("fp")
      .agg(min_by(struct(col("domain"), col("cand")), col("mid")).as("s"))
      .groupBy(col("s").getField("domain").as("domain"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("s").getField("cand").getField("n_tokens")).as("sum_tokens"),
        sum(col("s").getField("cand").getField("q_milli"))
          .as("sum_quality_milli"))
    fetches.join(survivors,
        fetches("domain") <=> survivors("domain"), "left")
      .select(fetches("domain").as("domain"), col("n_docs"),
        coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
        coalesce(col("sum_tokens"), lit(0L)).as("sum_tokens"),
        coalesce(col("sum_quality_milli"), lit(0L)).as("sum_quality_milli"))
  }

  val q145_crawl_pipeline = QueryDef(
    "q145_crawl_pipeline",
    (s, d) => {
      // planted re-crawls: every 3rd document fetched again under a
      // DIFFERENT id (hence a different URL and possibly a different
      // domain) — the dedup gate must drop the copy while the domain
      // rollup still counts its fetch, which is exactly the
      // crawl-dedup accounting a real pipeline needs
      val base = Tables.read(s, d, "documents").select(col("doc_id"), col("text"))
      val crawled = base.unionAll(base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      crawlPipeline(crawled)
    },
    Some {
      val ch = urlPicksChain2(
        """SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0""")
        .cte("dom", s"SELECT doc_id, $oracleDomainSql AS domain FROM picks")
        .cte("en", """SELECT dom.domain,
            row_number() OVER (
              PARTITION BY md5(regexp_replace(lower(d.text), '\s+', ' ', 'g'))
              ORDER BY d.doc_id) AS rn,
            CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
              AS BIGINT) AS n_tokens,
            CAST(floor(length(replace(d.text, ' ', '')) * 1000.0 /
              (length(d.text) - length(replace(d.text, ' ', '')) + 1))
              AS BIGINT) AS q_milli
          FROM crawled d JOIN dom ON dom.doc_id = d.doc_id""")
      ch.render("""SELECT domain,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_survivors,
          CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
            AS sum_tokens,
          CAST(sum(CASE WHEN rn = 1 THEN q_milli ELSE 0 END) AS BIGINT)
            AS sum_quality_milli
        FROM en GROUP BY 1""")
    },
  )

  /** HTML → visible-text extraction (ops/HtmlExtract, r10): step ZERO
    * of crawl curation, with a FULL oracle. The fixture wraps each
    * document's text in a deterministic messy page — title/h1, a style
    * block, a script block whose body contains '<' '>' AND a fake
    * </p> inside a comment, an HTML comment, an entity gauntlet
    * (incl. the &amp;lt; double-decode trap), and doc_id%4 anchor
    * links — and the oracle rebuilds the SAME page in SQL and runs
    * the SAME regex pipeline (every pattern chosen to mean the same
    * thing in Java regex and RE2), so extracted text, link/tag counts
    * and the density ppm must match byte-for-byte.
    */
  val q146_html_extract = QueryDef(
    "q146_html_extract",
    (s, d) => {
      val links = concat((0 until 3).map(k =>
        when(pmod(col("doc_id"), lit(4L)) > k,
          lit(s"""<a href="/l$k">link $k</a>""")).otherwise(lit(""))): _*)
      val did = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), did, lit("</title>"),
        lit("<style type=\"text/css\">body { color: #000; }</style>"),
        lit("<script>var n = 1 < 2; // <p>fake</p>\n</script>"),
        lit("</head><body><!-- header\ncomment --><h1>Doc "), did,
        lit("</h1><p>"), col("text"),
        lit("</p><p>&amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>"),
        // r11 gauntlet (VERDICT r10 item 3): named Latin-1/punctuation,
        // numeric decimal AND hex (mixed case), plus the malformed tail
        // that must stay literal — unknown name, bad hex digits, bare
        // `&#`, out-of-range codepoint, naked `&`
        lit("<p>caf&eacute; &#233;t&#xE9; A&mdash;B &#x27;x&#X27; " +
          "2&frac12; w&hellip; bad: &fake; &#xZZ; &# &#1114112; & end</p>"),
        links, lit("</body></html>"))
      graft.ops.HtmlExtract.extractStats(
        Tables.read(s, d, "documents").select(col("doc_id"), html.as("html")), "doc_id", "html")
    },
    Some {
      val links = (0 until 3).map(k =>
        s"(CASE WHEN doc_id % 4 > $k THEN '<a href=\"/l$k\">link $k</a>' " +
          "ELSE '' END)").mkString(" || ")
      // NOTE the doubled '' for SQL apostrophes in the entity gauntlet
      val htmlExpr =
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>" +
          "<style type=\"text/css\">body { color: #000; }</style>" +
          "<script>var n = 1 < 2; // <p>fake</p>' || chr(10) || '</script>" +
          "</head><body><!-- header' || chr(10) || 'comment --><h1>Doc ' || " +
          "CAST(doc_id AS VARCHAR) || '</h1><p>' || text || " +
          "'</p><p>&amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>' || " +
          "'<p>caf&eacute; &#233;t&#xE9; A&mdash;B &#x27;x&#X27; " +
          "2&frac12; w&hellip; bad: &fake; &#xZZ; &# &#1114112; & end</p>' || " +
          links + " || '</body></html>'"
      s"""WITH h AS (SELECT doc_id, $htmlExpr AS html FROM documents),
        x AS (SELECT doc_id, html,
            regexp_replace(html, '<!--.*?-->', ' ', 'gs') AS s1 FROM h),
        x2 AS (SELECT *, regexp_replace(s1,
            '<script[^>]*>.*?</script>', ' ', 'gis') AS s2 FROM x),
        x3 AS (SELECT *, regexp_replace(s2,
            '<style[^>]*>.*?</style>', ' ', 'gis') AS s3 FROM x2),
        x4 AS (SELECT *, regexp_replace(s3, '<[^>]*>', ' ', 'gs') AS s4 FROM x3),
        x5a AS (SELECT *,
            replace(replace(replace(replace(replace(replace(replace(replace(
            s4, '&eacute;', chr(233)), '&#233;', chr(233)),
            '&#xE9;', chr(233)), '&mdash;', chr(8212)), '&#x27;', ''''),
            '&#X27;', ''''), '&frac12;', chr(189)),
            '&hellip;', chr(8230)) AS s4b FROM x4),
        x5 AS (SELECT *, replace(replace(replace(replace(replace(replace(
            s4b, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS s5 FROM x5a),
        t AS (SELECT doc_id, html,
            trim(regexp_replace(s5, '[ \t\n\r\f]+', ' ', 'g')) AS text FROM x5)
      SELECT doc_id, text,
        CAST(len(regexp_extract_all(html, '<a[ \t\n>]', 0, 'i')) AS BIGINT)
          AS n_links,
        CAST(len(regexp_extract_all(html, '<[^>]*>', 0, 's')) AS BIGINT)
          AS n_tags,
        CAST(length(html) AS BIGINT) AS html_len,
        CAST(length(text) AS BIGINT) AS text_len,
        CAST(CASE WHEN length(html) > 0
          THEN length(text) * 1000000 // length(html) ELSE 0 END AS BIGINT)
          AS density_ppm
      FROM t"""
    },
  )

  /** Head-metadata crawler signals (ops/HtmlExtract.metaSignals):
    * title, robots-noindex, declared canonical URL — the decisions a
    * crawler takes before content matters. The fixture plants a
    * noindex meta tag on every 5th doc (mixed attribute order and
    * quoting) and a canonical link on every 3rd; the oracle rebuilds
    * the same head and replays the same extracts in RE2.
    */
  val q147_html_meta = QueryDef(
    "q147_html_meta",
    (s, d) => {
      val did = col("doc_id").cast("string")
      val robots = when(pmod(col("doc_id"), lit(5L)) === 0,
        lit("<META content='nofollow, noindex' Name='robots' />"))
        .otherwise(lit("<meta name=\"keywords\" content=\"noindex-decoy\">"))
      val canon = when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit("<link href=\"https://site/c/"), did,
          lit("\" rel=\"canonical\">"))).otherwise(lit(""))
      val html = concat(
        lit("<html><head><title> Doc "), did, lit(" </title>"), robots, canon,
        lit("</head><body><p>body</p></body></html>"))
      graft.ops.HtmlExtract.metaSignals(
        Tables.read(s, d, "documents").select(col("doc_id"), html.as("html")), "doc_id", "html")
    },
    Some {
      """WITH h AS (SELECT doc_id,
          '<html><head><title> Doc ' || CAST(doc_id AS VARCHAR) ||
          ' </title>' ||
          (CASE WHEN doc_id % 5 = 0
            THEN '<META content=''nofollow, noindex'' Name=''robots'' />'
            ELSE '<meta name="keywords" content="noindex-decoy">' END) ||
          (CASE WHEN doc_id % 3 = 0
            THEN '<link href="https://site/c/' || CAST(doc_id AS VARCHAR) ||
              '" rel="canonical">' ELSE '' END) ||
          '</head><body><p>body</p></body></html>' AS html
        FROM documents)
      SELECT doc_id,
        regexp_extract(html, '<title[^>]*>(.*?)</title>', 1, 'is') AS title,
        CAST(CASE WHEN lower(regexp_extract(html,
            '<meta[^>]*name[ \t]*=[ \t]*["'']robots["''][^>]*>', 0, 'is'))
          LIKE '%noindex%' THEN 1 ELSE 0 END AS INT) AS noindex,
        regexp_extract(regexp_extract(html,
            '<link[^>]*rel[ \t]*=[ \t]*["'']canonical["''][^>]*>', 0, 'is'),
          'href[ \t]*=[ \t]*["'']([^"'']*)["'']', 1, 'is') AS canonical
      FROM h"""
    },
  )

  /** The HTML-IN crawl capstone (r10) — q145's text-in pipeline with
    * the page layer composed on top, every stage from this round's
    * additions working together in ONE plan:
    *
    *   messy URL (q142) + messy PAGE (title / robots-noindex on every
    *   5th fetch / site-declared canonical on every 3rd page, planted
    *   re-crawls under new ids carrying the SAME canonical) →
    *   HtmlExtract.extractText + metaSignals → noindex gate → dedup
    *   key = site canonical when declared, else the canonicalized URL
    *   → keep-first survivor per key among indexable fetches → PSL
    *   domain rollup (pages / indexable / survivors / survivor
    *   tokens).
    *
    * Scale shape: one scan (URL, page build, extraction and meta are
    * all pure expressions), ONE key shuffle for the survivor window,
    * one rollup. The oracle rebuilds the identical page and URL in
    * SQL, replays the tag-strip extraction (the script/style/entity
    * stages are byte-level no-ops on this page and are proven
    * engine-equal by q146/q147), and composes the same gates — so the
    * hash-match proves the INTEGRATION of extraction, meta gating,
    * canonical dedup, URL canonicalization and domain attribution at
    * once.
    */
  val q148_extract_pipeline = QueryDef(
    "q148_extract_pipeline",
    (s, d) => {
      val base = Tables.read(s, d, "documents").select(col("doc_id"), col("text"))
      val crawled = base.unionAll(base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val did = col("doc_id").cast("string")
      val bid = pmod(col("doc_id"), lit(1000000L))
      val robots = when(pmod(col("doc_id"), lit(5L)) === 0,
        lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit(""))
      val canonLink = when(pmod(bid, lit(3L)) === 0,
        concat(lit("<link rel=\"canonical\" href=\"https://canon.site/c/"),
          bid.cast("string"), lit("\">"))).otherwise(lit(""))
      val html = concat(
        lit("<html><head><title>Doc "), did, lit("</title>"), robots,
        canonLink, lit("</head><body><!-- hdr --><p>"), col("text"),
        lit("</p></body></html>"))
      // spread the page build + tag-strip extraction
      val paged = Barrier.spread(crawled)
        .select(col("doc_id"), messyUrlCol.as("url"),
        html.as("html"))
        .select(col("doc_id"), col("url"),
          graft.ops.HtmlExtract.extractText(col("html")).as("body_text"),
          graft.ops.HtmlExtract.noindexOf(col("html")).as("noindex"),
          graft.ops.HtmlExtract.canonicalOf(col("html")).as("canonical"))
        .withColumn("dedup_key",
          when(col("canonical") =!= "", concat(lit("c:"), col("canonical")))
            .otherwise(concat(lit("u:"),
              graft.ops.UrlOps.canonicalizeUrl(col("url")))))
        .withColumn("domain", graft.ops.UrlOps.registrableDomain(
          graft.ops.UrlOps.canonicalHost(col("url"))))
        .withColumn("n_tokens", (length(col("body_text")) -
          length(regexp_replace(col("body_text"), " ", "")) + 1).cast("long"))
      // r11: the keep-first survivor (rank 1 of ORDER BY noindex,
      // doc_id — indexable fetches outrank noindexed ones) is a
      // two-level min_by aggregation instead of a ranked window, the
      // crawlPipeline plan shape: one combinable (dedup_key, domain)
      // shuffle for the survivor pick (no row sort, dup classes
      // collapse map-side), plus a near-free domain-grouped side count
      // that pruning strips down to url+noindex. A key whose every
      // fetch is noindexed has NO survivor (its winner carries
      // noindex=1 and is filtered), exactly the old
      // `noindex = 0 AND rn = 1` flag.
      val perKey = paged.groupBy("dedup_key", "domain").agg(
        min_by(struct(col("noindex"), col("n_tokens")),
          struct(col("noindex"), col("doc_id"))).as("cand"),
        min(struct(col("noindex"), col("doc_id"))).as("mkey"))
      val fetches = paged.groupBy("domain")
        .agg(count(lit(1)).as("n_pages"),
          sum(lit(1) - col("noindex")).as("n_indexable"))
      val survivors = perKey.groupBy("dedup_key")
        .agg(min_by(struct(col("domain"), col("cand")), col("mkey")).as("s"))
        .filter(col("s").getField("cand").getField("noindex") === 0)
        .groupBy(col("s").getField("domain").as("domain"))
        .agg(count(lit(1)).as("n_survivors"),
          sum(col("s").getField("cand").getField("n_tokens")).as("sum_tokens"))
      fetches.join(survivors,
          fetches("domain") <=> survivors("domain"), "left")
        .select(fetches("domain").as("domain"), col("n_pages"),
          col("n_indexable"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          coalesce(col("sum_tokens"), lit(0L)).as("sum_tokens"))
    },
    Some {
      val ch = urlPicksChain2(
        """SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0""")
        .cte("parts", s"""SELECT doc_id,
            CASE WHEN s >= 2 THEN 'https' ELSE 'http' END AS scheme_canon,
            (CASE sub WHEN 1 THEN 'cdn.' ELSE '' END) || 'site' ||
              CAST(word AS VARCHAR) ||
              (CASE tld WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                WHEN 2 THEN '.co.uk' WHEN 3 THEN '.de'
                WHEN 4 THEN '.com.cn' WHEN 5 THEN '.github.io'
                WHEN 6 THEN '.gen.ck' ELSE '.kawasaki.jp' END) AS host_core,
            $oracleDomainSql AS domain,
            CASE port WHEN 2 THEN ':8080' ELSE '' END AS port_canon,
            '/p/' || CAST(pathn AS VARCHAR) AS path_canon,
            'q=' || CAST(qv AS VARCHAR) AS pq,
            'id=' || CAST(idv AS VARCHAR) AS pid
          FROM picks""")
        .cte("page", """SELECT c.doc_id, c.text, p.domain,
            p.scheme_canon || '://' || p.host_core || p.port_canon ||
              p.path_canon || '?' || p.pid || '&' || p.pq AS canon_url,
            '<html><head><title>Doc ' || CAST(c.doc_id AS VARCHAR) ||
              '</title>' ||
              (CASE WHEN c.doc_id % 5 = 0
                THEN '<meta name="robots" content="noindex">' ELSE '' END) ||
              (CASE WHEN c.doc_id % 1000000 % 3 = 0
                THEN '<link rel="canonical" href="https://canon.site/c/' ||
                  CAST(c.doc_id % 1000000 AS VARCHAR) || '">' ELSE '' END) ||
              '</head><body><!-- hdr --><p>' || c.text ||
              '</p></body></html>' AS html
          FROM crawled c JOIN parts p ON p.doc_id = c.doc_id""")
        // the tag-strip extraction replay; the script/style/entity
        // stages of HtmlExtract are byte-level no-ops on this page
        // (q146/q147 prove the full pipeline engine-equal)
        .cte("ex", """SELECT *,
            trim(regexp_replace(regexp_replace(regexp_replace(html,
              '<!--.*?-->', ' ', 'gs'), '<[^>]*>', ' ', 'gs'),
              '[ \t\n\r\f]+', ' ', 'g')) AS body_text
          FROM page""")
        .cte("gated", """SELECT doc_id, domain,
            CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT)
              AS noindex,
            CASE WHEN doc_id % 1000000 % 3 = 0
              THEN 'c:https://canon.site/c/' ||
                CAST(doc_id % 1000000 AS VARCHAR)
              ELSE 'u:' || canon_url END AS dedup_key,
            CAST(length(body_text) -
              length(replace(body_text, ' ', '')) + 1 AS BIGINT) AS n_tokens
          FROM ex""")
        .cte("ranked", """SELECT *,
            row_number() OVER (PARTITION BY dedup_key
              ORDER BY noindex, doc_id) AS rn
          FROM gated""")
      ch.render("""SELECT domain,
          CAST(count(*) AS BIGINT) AS n_pages,
          CAST(sum(1 - noindex) AS BIGINT) AS n_indexable,
          CAST(sum(CASE WHEN noindex = 0 AND rn = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_survivors,
          CAST(sum(CASE WHEN noindex = 0 AND rn = 1 THEN n_tokens ELSE 0 END)
            AS BIGINT) AS sum_tokens
        FROM ranked GROUP BY 1""")
    },
  )

  /** robots.txt crawl-permission gate (expr/RobotsAllowed, RFC 9309):
    * the decision BEFORE a fetch ever happens. The fixture plants four
    * per-site robots bodies — a `*` group with a longest-match
    * allow-overrides-disallow pair ($-anchored wildcard), a
    * specific-agent group that SHADOWS the open `*` group's
    * disallow-all (the RFC's group-selection rule), a non-matching
    * group, and an empty file — against three path families, and the
    * oracle states every branch analytically (the picks chain replays
    * the path number; the matrix is small and exact).
    */
  val q149_robots_gate = QueryDef(
    "q149_robots_gate",
    (s, d) => {
      val u0 = pmod(xxhash64(col("doc_id").cast("long")), lit(1000000000L))
      val pathn = (u0 / 19200L % 100L).cast("long") // messyUrlCol's pathN
      val kind = pmod(col("doc_id"), lit(4L))
      val variant = pmod(col("doc_id"), lit(3L))
      val rules = when(kind === 0, lit(
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok*$\n"))
        .when(kind === 1, lit(
          "# specific group shadows the open one\n" +
            "User-agent: graftbot\nDisallow: /p/1*\n\n" +
            "User-agent: *\nDisallow: /\n"))
        .when(kind === 2, lit("User-agent: otherbot\nDisallow: /\n"))
        .otherwise(lit(""))
      val path = when(variant === 0, concat(lit("/p/"), pathn.cast("string")))
        .when(variant === 1, concat(lit("/private/x"), pathn.cast("string")))
        .otherwise(concat(lit("/private/ok"), pathn.cast("string")))
      Tables.read(s, d, "documents").select(col("doc_id"),
        call_function("robots_allowed", rules, lit("GraftBot/1.0"), path)
          .cast("int").as("allowed"))
    },
    Some {
      val ch = urlPicksChain
      ch.render("""SELECT doc_id,
          CAST(CASE doc_id % 4
            WHEN 0 THEN
              -- * group: /p/* untouched; /private/x* disallowed by the
              -- 9-octet prefix; /private/ok* re-allowed by the LONGER
              -- (13-octet) $-anchored allow rule
              (CASE doc_id % 3 WHEN 1 THEN 0 ELSE 1 END)
            WHEN 1 THEN
              -- graftbot group shadows the * disallow-all: only
              -- /p/1* paths (pathn = 1 or 10..19) are disallowed
              (CASE WHEN doc_id % 3 = 0 AND
                 (pathn = 1 OR (pathn BETWEEN 10 AND 19)) THEN 0 ELSE 1 END)
            ELSE 1 END AS INT) AS allowed
        FROM picks""")
    },
  )

  /** Deterministic WARC fixture (r11, VERDICT r10 item 1): the
    * documents table written as a real web-archive directory, built
    * once per (JVM, sf). Eight `part-*.warc.gz` segments (gzip member
    * per record, the Common Crawl layout) carry one HTTP `response`
    * record per document — messy target URI (the q142 generator),
    * deterministic WARC-Date/record-id, status 200 with an
    * entity-bearing HTML body, every 7th doc a 404 text/plain — plus a
    * `request` record for every 5th doc (absolute-form GET). A ninth
    * UNCOMPRESSED `info.warc` holds eight warcinfo records, so the
    * gate exercises both framings. Every byte derives from (doc_id,
    * text), so a DuckDB oracle reconstructs all fields and payload
    * digests exactly. Local-filesystem fixture generation only (the
    * reader itself is path-agnostic).
    */
  private object WarcFixture {
    import graft.sources.WarcIo
    val Epoch: Long = java.time.Instant.parse("2025-01-01T00:00:00Z").getEpochSecond

    def uuidOf(seed: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(seed.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      s"urn:uuid:${h.substring(0, 8)}-${h.substring(8, 12)}-" +
        s"${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20)}"
    }
    def dateOf(id: Long): String =
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.ofEpochSecond(Epoch + id))
    def body200(id: Long, text: String): String =
      s"<html><head><title>Doc $id</title></head><body><!-- hdr --><p>" +
        s"$text</p><p>caf&eacute; A&mdash;B</p></body></html>"
    def body404(id: Long): String = s"not found: $id"

    def dir(s: SparkSession, sfDir: String): String =
      BuildOnce.dir("warc_fixture", sfDir) { out =>
        val rows = Tables.read(s, sfDir, "documents")
          .select(col("doc_id"), col("text"), messyUrlCol.as("url"))
          .repartition(8, pmod(col("doc_id"), lit(8L)))
        rows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val fos = new WarcIo.CountingOutputStream(
              new java.io.FileOutputStream(s"$out/part-$pid.warc.gz"))
            val cdx = new java.lang.StringBuilder()
            def mark(f: => Unit): Unit = {
              val off = fos.count; f
              cdx.append(off).append('\t').append(fos.count - off).append('\n')
            }
            try it.foreach { r =>
              val (id, text, url) = (r.getLong(0), r.getString(1), r.getString(2))
              val ascii = java.nio.charset.StandardCharsets.US_ASCII
              val (status, reason, ct, body) =
                if (id % 7 == 0) (404, "Not Found", "text/plain", body404(id))
                else (200, "OK", "text/html; charset=utf-8", body200(id, text))
              val http = (s"HTTP/1.1 $status $reason\r\nServer: graft\r\n" +
                s"Content-Type: $ct\r\nContent-Length: ${body.length}\r\n\r\n" +
                body).getBytes(ascii)
              mark(WarcIo.writeRecordGzip(fos, "response", uuidOf(s"r:$id"),
                dateOf(id), url, "application/http;msgtype=response", http))
              if (id % 5 == 0) {
                val req = (s"GET $url HTTP/1.1\r\nUser-Agent: graftbot/1.0\r\n" +
                  "Accept: text/html\r\n\r\n").getBytes(ascii)
                mark(WarcIo.writeRecordGzip(fos, "request", uuidOf(s"q:$id"),
                  dateOf(id), url, "application/http;msgtype=request", req))
              }
            } finally fos.close()
            // CDX sidecar: the record-boundary seam that makes the gz
            // member stream SPLITTABLE (q150/q151 read with a small
            // cdxTargetBytes, so the gate exercises range scans)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$out/part-$pid.warc.gz.cdx"),
              cdx.toString)
            ()
          }
        }
        val fos = new java.io.FileOutputStream(s"$out/info.warc")
        try (0 until 8).foreach { p =>
          val block = (s"software: graft\r\nformat: WARC File Format 1.0\r\n" +
            s"partition: $p\r\n")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          WarcIo.writeRecord(fos, "warcinfo", uuidOf(s"w:$p"),
            "2025-01-01T00:00:00Z", null, "application/warc-fields", block)
        } finally fos.close()
      }
  }

  /** The oracle-side dashed-uuid record id (md5 of the same seed). */
  private def oracleUuidSql(seedExpr: String): String =
    s"'urn:uuid:' || substr(md5($seedExpr), 1, 8) || '-' || " +
      s"substr(md5($seedExpr), 9, 4) || '-' || substr(md5($seedExpr), 13, 4) " +
      s"|| '-' || substr(md5($seedExpr), 17, 4) || '-' || substr(md5($seedExpr), 21, 12)"

  /** The oracle-side messy URL string (the q142 construction over the
    * `parts` CTE columns).
    */
  private val oracleMessyUrlSql: String =
    """scheme_messy || '://' || wprefix || host_core || port_messy ||
      path_canon || slash_sfx || '?' ||
      (CASE ord WHEN 0 THEN pq || '&utm_source=track&' || pid
        ELSE 'utm_source=track&' || pid || '&' || pq END) || frag_sfx"""

  /** The full q142-style `parts` CTE (messy URL pieces + PSL domain)
    * appended to a picks chain — shared by the two WARC oracles.
    */
  private def warcPartsCte(ch: DuckXxHash.Chain): DuckXxHash.Chain =
    ch.cte("parts", s"""SELECT doc_id,
        CASE s WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
          WHEN 2 THEN 'https' ELSE 'HTTPS' END AS scheme_messy,
        (CASE sub WHEN 1 THEN 'cdn.' ELSE '' END) || 'site' ||
          CAST(word AS VARCHAR) ||
          (CASE tld WHEN 0 THEN '.com' WHEN 1 THEN '.org'
            WHEN 2 THEN '.co.uk' WHEN 3 THEN '.de'
            WHEN 4 THEN '.com.cn' WHEN 5 THEN '.github.io'
            WHEN 6 THEN '.gen.ck' ELSE '.kawasaki.jp' END) AS host_core,
        $oracleDomainSql AS domain,
        CASE www WHEN 1 THEN 'WwW.' ELSE '' END AS wprefix,
        CASE port WHEN 1 THEN (CASE WHEN s >= 2 THEN ':443' ELSE ':80' END)
          WHEN 2 THEN ':8080' ELSE '' END AS port_messy,
        '/p/' || CAST(pathn AS VARCHAR) AS path_canon,
        CASE slash WHEN 1 THEN '/' ELSE '' END AS slash_sfx,
        'q=' || CAST(qv AS VARCHAR) AS pq,
        'id=' || CAST(idv AS VARCHAR) AS pid,
        ord, CASE frag WHEN 1 THEN '#sec' ELSE '' END AS frag_sfx
      FROM picks""")

  /** WARC read with a FULL field-and-payload oracle: every header
    * field the [[graft.sources.WarcDataSource]] reader parses (id,
    * type, uri, date, block type, HTTP status + content-type) plus the
    * payload digest and length, for all three record kinds — response
    * bodies (HTTP split), raw request blocks, warcinfo fields — across
    * BOTH framings (per-record gzip members and plain). The oracle
    * rebuilds every record's bytes from (doc_id, text) and hashes the
    * same payloads, so a single mis-framed, truncated, or mis-split
    * record breaks the hash.
    */
  val q150_warc_read = QueryDef(
    "q150_warc_read",
    (s, d) => {
      val dir = WarcFixture.dir(s, d)
      // 16 KiB CDX splits: every segment fans out into many range
      // scans, so the hash-match also proves no record is lost or
      // duplicated at a split boundary
      s.read.format("warc").option("cdxTargetBytes", "16384").load(dir)
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("warc_date"), col("content_type"), col("http_status"),
          col("http_content_type"), col("payload_len"),
          md5(col("payload")).as("payload_md5"))
    },
    Some {
      val ch = warcPartsCte(urlPicksChain)
      val crlf = "chr(13) || chr(10)"
      val body = """CASE WHEN c.doc_id % 7 = 0 THEN 'not found: ' || CAST(c.doc_id AS VARCHAR)
          ELSE '<html><head><title>Doc ' || CAST(c.doc_id AS VARCHAR) ||
            '</title></head><body><!-- hdr --><p>' || c.text ||
            '</p><p>caf&eacute; A&mdash;B</p></body></html>' END"""
      val dateSql = "strftime(TIMESTAMP '2025-01-01 00:00:00' + " +
        "to_seconds(CAST(c.doc_id AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ')"
      ch.render(s"""
        SELECT ${oracleUuidSql("'r:' || CAST(c.doc_id AS VARCHAR)")} AS record_id,
          'response' AS warc_type,
          $oracleMessyUrlSql AS target_uri,
          $dateSql AS warc_date,
          'application/http;msgtype=response' AS content_type,
          CAST(CASE WHEN c.doc_id % 7 = 0 THEN 404 ELSE 200 END AS INT)
            AS http_status,
          CASE WHEN c.doc_id % 7 = 0 THEN 'text/plain'
            ELSE 'text/html; charset=utf-8' END AS http_content_type,
          CAST(length($body) AS BIGINT) AS payload_len,
          md5($body) AS payload_md5
        FROM crawled c JOIN parts ON parts.doc_id = c.doc_id
        UNION ALL
        SELECT ${oracleUuidSql("'q:' || CAST(c.doc_id AS VARCHAR)")},
          'request',
          $oracleMessyUrlSql,
          $dateSql,
          'application/http;msgtype=request',
          CAST(NULL AS INT), CAST(NULL AS VARCHAR),
          CAST(length('GET ' || $oracleMessyUrlSql || ' HTTP/1.1' || $crlf ||
            'User-Agent: graftbot/1.0' || $crlf || 'Accept: text/html' ||
            $crlf || $crlf) AS BIGINT),
          md5('GET ' || $oracleMessyUrlSql || ' HTTP/1.1' || $crlf ||
            'User-Agent: graftbot/1.0' || $crlf || 'Accept: text/html' ||
            $crlf || $crlf)
        FROM crawled c JOIN parts ON parts.doc_id = c.doc_id
        WHERE c.doc_id % 5 = 0
        UNION ALL
        SELECT ${oracleUuidSql("'w:' || CAST(p AS VARCHAR)")},
          'warcinfo', CAST(NULL AS VARCHAR), '2025-01-01T00:00:00Z',
          'application/warc-fields', CAST(NULL AS INT), CAST(NULL AS VARCHAR),
          CAST(length('software: graft' || $crlf ||
            'format: WARC File Format 1.0' || $crlf ||
            'partition: ' || CAST(p AS VARCHAR) || $crlf) AS BIGINT),
          md5('software: graft' || $crlf || 'format: WARC File Format 1.0' ||
            $crlf || 'partition: ' || CAST(p AS VARCHAR) || $crlf)
        FROM generate_series(0, 7) AS ti(p)""")
    },
  )

  /** The WARC-IN crawl capstone (VERDICT r10 item 1 "done" criterion):
    * archive bytes to curation rollup in ONE plan — the V2 source's
    * pushed `warc_type = 'response'` filter at the record framer, the
    * HTTP status gate, HtmlExtract.extractText over the response body
    * (entity decode included), token counting, and the PSL domain
    * rollup of q145, with 404 fetches counted but contributing no
    * tokens. The oracle composes the stage results analytically on the
    * reconstructed pages (the regex pipeline itself is proven
    * engine-equal by q146/q147).
    */
  val q151_warc_pipeline = QueryDef(
    "q151_warc_pipeline",
    (s, d) => {
      val dir = WarcFixture.dir(s, d)
      val pages = s.read.format("warc")
        .option("cdxTargetBytes", "16384").load(dir)
        .filter(col("warc_type") === "response")
        // sniff -> decode -> extract (r12): byte-identical to the old
        // implicit UTF-8 cast on this UTF-8 fixture, but the chain now
        // transcodes honestly when a page is not UTF-8 (q166 pins that)
        .select(col("target_uri").as("url"), col("http_status"),
          graft.ops.HtmlExtract.decodePayload(col("payload"),
            col("http_content_type")).as("html"))
      val text = graft.ops.HtmlExtract.extractText(col("html"))
      val nTok = length(col("text")) -
        length(regexp_replace(col("text"), " ", "")) + 1
      pages
        .select(graft.ops.UrlOps.registrableDomain(
            graft.ops.UrlOps.canonicalHost(col("url"))).as("domain"),
          col("http_status"), text.as("text"))
        .select(col("domain"), col("http_status"),
          when(col("http_status") === 200, nTok.cast("long"))
            .otherwise(0L).as("n_tokens"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_responses"),
          sum((col("http_status") === 200).cast("long")).as("n_ok"),
          sum("n_tokens").as("sum_tokens"))
    },
    Some {
      val ch = warcPartsCte(urlPicksChain)
      // extracted text of the 200-page is analytically 'Doc N TEXT café
      // A—B' (title text survives tag-strip; the comment dies; the two
      // entity references decode) — q146 proves the extraction
      // machinery byte-equal, this oracle composes its known result
      ch.render("""
        SELECT domain,
          CAST(count(*) AS BIGINT) AS n_responses,
          CAST(sum(CASE WHEN c.doc_id % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT)
            AS n_ok,
          CAST(sum(CASE WHEN c.doc_id % 7 = 0 THEN 0 ELSE
            (SELECT length(t) - length(replace(t, ' ', '')) + 1 FROM (SELECT
              'Doc ' || CAST(c.doc_id AS VARCHAR) || ' ' || c.text || ' caf' ||
              chr(233) || ' A' || chr(8212) || 'B' AS t) s)
            END) AS BIGINT) AS sum_tokens
        FROM crawled c JOIN parts ON parts.doc_id = c.doc_id
        GROUP BY 1""")
    },
  )

  /** robots.txt beyond the allow decision (r11, VERDICT r10 item 8):
    * the RFC 9309 §2.5 parse cap (rules beyond 500 KiB are ignored — a
    * planted oversize robots.txt hides a disallow-all behind ~572 KiB
    * of padding, and ONLY a capped parser emits allowed = 1), group
    * shadowing of the crawl-delay politeness extension (the graftbot
    * group's 2.5 s wins over the * group's 10 s), and ungrouped
    * sitemap extraction (mixed-case keys, applies regardless of
    * agent). Every expectation is analytic per doc_id branch — an
    * uncapped parser, a group-blind delay, or a grouped sitemap read
    * each breaks a different column's hash.
    */
  val q152_robots_meta = QueryDef(
    "q152_robots_meta",
    (s, d) => {
      val variant = pmod(col("doc_id"), lit(4L))
      val oversize = pmod(col("doc_id"), lit(64L)) === 2
      val k0 = lit("User-agent: graftbot\nCrawl-delay: 2.5\n" +
        "Disallow: /private/\n\n" +
        "User-agent: *\nCrawl-delay: 10\nDisallow: /x\n" +
        "Sitemap: https://s/a.xml\n")
      val k1 = lit("User-agent: *\nDisallow:\n# none\n" +
        "Sitemap: https://s/1.xml\nsitemap: https://s/2.xml\n")
      val k2small = lit("User-agent: *\nDisallow: /x\nCrawl-delay: 1\n")
      // 13 chars x 45000 = 585 000 > the 512 000-char cap: the
      // disallow-all, delay and nothing-else lines land BEYOND it
      val k2big = concat(lit("User-agent: *\nDisallow: /x\n"),
        repeat(lit("# 0123456789\n"), 45000),
        lit("Disallow: /\nCrawl-delay: 9\nSitemap: https://s/late.xml\n"))
      val rules = when(variant === 0, k0)
        .when(variant === 1, k1)
        .when(variant === 2, when(oversize, k2big).otherwise(k2small))
        .otherwise(lit(""))
      val agent = lit("GraftBot/1.0")
      // spread the robots build + parse (585k-char files on every 64th
      // doc)
      Barrier.spread(Tables.read(s, d, "documents").select(col("doc_id")))
        .select(col("doc_id"),
        call_function("robots_allowed", rules, agent, lit("/private/x"))
          .cast("int").as("allowed_p"),
        call_function("robots_allowed", rules, agent, lit("/x/q"))
          .cast("int").as("allowed_x"),
        coalesce(floor(call_function("robots_crawl_delay", rules, agent)
          * 1000).cast("long"), lit(-1L)).as("crawl_delay_milli"),
        size(graft.ops.UrlOps.robotsSitemaps(rules)).cast("long")
          .as("n_sitemaps"),
        concat_ws("|", graft.ops.UrlOps.robotsSitemaps(rules)).as("sitemaps"))
    },
    Some("""SELECT doc_id,
        CAST(CASE doc_id % 4 WHEN 0 THEN 0 ELSE 1 END AS INT) AS allowed_p,
        CAST(CASE doc_id % 4 WHEN 2 THEN 0 ELSE 1 END AS INT) AS allowed_x,
        CAST(CASE doc_id % 4 WHEN 0 THEN 2500
          WHEN 2 THEN (CASE WHEN doc_id % 64 = 2 THEN -1 ELSE 1000 END)
          ELSE -1 END AS BIGINT) AS crawl_delay_milli,
        CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
          WHEN 2 THEN (CASE WHEN doc_id % 64 = 2 THEN 1 ELSE 0 END)
          ELSE 0 END AS BIGINT) AS n_sitemaps,
        CASE doc_id % 4 WHEN 0 THEN 'https://s/a.xml'
          WHEN 1 THEN 'https://s/1.xml|https://s/2.xml'
          WHEN 2 THEN (CASE WHEN doc_id % 64 = 2
            THEN 'https://s/late.xml' ELSE '' END)
          ELSE '' END AS sitemaps
      FROM documents"""),
  )

  /** Decoded LOSSY-WebP pixels with a FULL oracle (r11, VERDICT r10
    * item 4's "done" criterion): every document's kind-4 fixture — a
    * REAL VP8 DC-mode keyframe ([[graft.ops.ImageDedup.vp8Fixture]]:
    * 9x8 macroblocks, per-MB quantized levels from the XXH64 chain) —
    * runs through the PUBLIC decode path (fixture bytes →
    * ImageDedup.decodeImage → pure-Scala [[graft.ops.Vp8]] keyframe
    * decoder) and emits each macroblock's luma. The oracle re-derives
    * the exact pixels analytically: the level chain, the spec's Y2
    * dequant (DcQ[20]·2 = 42) and the two >>3 rounding stages, then
    * the 2D DC-prediction recurrence (128 at the origin, left/above
    * propagation, (vA+vL+1)>>1 in the interior) as a recursive CTE in
    * raster order. A single wrong token, dequant factor, prediction
    * average, or rounding constant shifts a luma and breaks the hash.
    * (The decoder's general-stream correctness — B_PRED, segmentation,
    * loop filter — is pinned bit-exactly against libwebp in Vp8Spec;
    * this query pins the in-GATE integration.)
    */
  val q153_vp8_pixels = QueryDef(
    "q153_vp8_pixels",
    (s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      // every 4th document: 72 pinned macroblocks per image is already
      // exhaustive; the full corpus only multiplied encode/decode wall
      // time (5.6 s -> ~1.4 s at sf0.1)
      // spread the VP8 encode + pure-Scala decode (the exchange carries
      // one long per row)
      val rig = Barrier.spread(Tables.read(s, d, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id").cast("long").as("base_id")))
      val outSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("c", LongType), StructField("r", LongType),
        StructField("luma", LongType)))
      implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
      rig.mapPartitions { rows =>
        rows.flatMap { row =>
          val id = row.getLong(0)
          val img = graft.ops.ImageDedup.decodeImage(
            graft.ops.ImageDedup.fixturePayload(id, 4))
          (0 until 8).iterator.flatMap { r =>
            (0 until 9).iterator.map { c =>
              Row(id, c.toLong, r.toLong,
                (img.getRGB(c * 16, r * 16) & 0xff).toLong)
            }
          }
        }
      }
    },
    Some {
      import DuckXxHash._
      // per-cell quantized level -> pixel delta (q2Dc = DcQ[20]*2 = 42;
      // both >>3 stages are floor shifts, matched by // on DuckDB)
      val ch = chain("ids",
        "SELECT CAST(doc_id AS BIGINT) AS doc FROM documents WHERE doc_id % 4 = 0")
        .cte("cells",
          s"SELECT doc, ti.range AS idx, " +
            s"${unsigned("doc * 72 + ti.range")} AS v " +
            "FROM ids, range(0, 72) ti")
        .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
      // >>3 is a FLOOR shift; DuckDB's // truncates toward zero, so
      // floor-divide explicitly: (x - pmod(x, 8)) / 8
      def floorDiv8(x: String): String =
        s"(($x) - (((($x) % 8) + 8) % 8)) // 8"
      val dlSql = ch.render(
        s"SELECT doc, idx, ${floorDiv8(s"(${pmod("h1out", 9L)} - 4) * 42 + 3")} AS d0 " +
          s"FROM ${ch.last}")
      s"""WITH RECURSIVE dl AS (
          SELECT doc, idx,
            ((d0 + 4) - (((d0 + 4) % 8 + 8) % 8)) // 8 AS dlt FROM ($dlSql)
        ),
        st AS (
          SELECT doc, CAST(-1 AS BIGINT) AS idx,
            CAST([] AS BIGINT[]) AS prev, CAST([] AS BIGINT[]) AS cur,
            CAST(NULL AS BIGINT) AS v
          FROM (SELECT DISTINCT doc FROM dl)
          UNION ALL
          SELECT doc, ni, np, list_append(nc, vv) AS cur, vv AS v
          FROM (
            SELECT doc, ni, np, nc,
              CAST(least(255, greatest(0, pred + dlt)) AS BIGINT) AS vv
            FROM (
              SELECT s2.doc, s2.ni, s2.np, s2.nc, d.dlt,
                CASE WHEN s2.ni = 0 THEN 128
                     WHEN s2.ni < 9 THEN s2.nc[s2.ni]
                     WHEN s2.ni % 9 = 0 THEN s2.np[1]
                     ELSE (s2.np[(s2.ni % 9) + 1] + s2.nc[s2.ni % 9] + 1) // 2
                END AS pred
              FROM (
                SELECT s.doc, s.idx + 1 AS ni,
                  CASE WHEN (s.idx + 1) % 9 = 0 AND s.idx + 1 > 0
                       THEN s.cur ELSE s.prev END AS np,
                  CASE WHEN (s.idx + 1) % 9 = 0 AND s.idx + 1 > 0
                       THEN CAST([] AS BIGINT[]) ELSE s.cur END AS nc
                FROM st s WHERE s.idx < 71) s2
              JOIN dl d ON d.doc = s2.doc AND d.idx = s2.ni) p) q
        )
        SELECT doc AS doc_id, CAST(idx % 9 AS BIGINT) AS c,
          CAST(idx // 9 AS BIGINT) AS r, v AS luma
        FROM st WHERE idx >= 0"""
    },
  )

  /** Exact substring dedup (Lee et al. 2022 ExactSubstr): every token
    * span of >= 8 tokens occurring more than once in the corpus is
    * removed from ALL its occurrences, at any alignment — the step
    * tile-based q62 cannot see (an off-by-one-token copy crosses tile
    * boundaries). Oracle replays the whole thing relationally: stride-1
    * 8-gram census on md5, coverage as a range join of token positions
    * to duplicate starts, maximal runs via lag, kept text re-joined in
    * token order.
    */
  val q154_exact_substr = QueryDef(
    "q154_exact_substr",
    (s, d) => graft.ops.ExactSubstrDedup.report(Tables.read(s, d, "documents"),
      "doc_id", "text", 8),
    Some("""WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
               FROM documents),
      t AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i
            FROM d),
      g AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+7], ' ')) AS fp FROM t),
      c AS (SELECT fp FROM g GROUP BY fp HAVING count(*) >= 2),
      s AS (SELECT doc_id, i FROM g JOIN c USING (fp)),
      p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j FROM d),
      cov AS (SELECT DISTINCT p.doc_id, p.j
              FROM p JOIN s ON p.doc_id = s.doc_id
                          AND p.j BETWEEN s.i AND s.i + 7),
      covw AS (SELECT doc_id, j,
                 lag(j) OVER (PARTITION BY doc_id ORDER BY j) AS pj
               FROM cov),
      st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN pj IS NULL OR j - pj > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_spans
             FROM covw GROUP BY doc_id),
      kept AS (SELECT p.doc_id, string_agg(p.ws[p.j], ' ' ORDER BY p.j) AS kept
               FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.j = cov.j
               WHERE cov.j IS NULL GROUP BY p.doc_id)
      SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_tokens,
        coalesce(st.n_dropped, 0) AS n_dropped,
        coalesce(st.n_dup_spans, 0) AS n_dup_spans,
        md5(coalesce(k.kept, '')) AS clean_md5
      FROM d LEFT JOIN st USING (doc_id) LEFT JOIN kept k USING (doc_id)"""),
  )

  /** Shared fixture for the WARC WRITE path (q155/q156): documents
    * written once per (JVM, sfDir) through the `warc` DSv2 sink —
    * responses (200/404, one-in-ten without an HTTP content-type) plus
    * every-9th a non-HTTP `metadata` record, so both block framings
    * round-trip. Everything derives from doc_id/text; the date is a
    * constant (q150 already oracles per-record dates).
    */
  private[graft] object WarcSinkFixture {
    val UriPrefix = "https://w"
    def uriCol: org.apache.spark.sql.Column =
      concat(lit(UriPrefix), pmod(col("doc_id"), lit(5L)).cast("string"),
        lit(".example.com/d/"), col("doc_id").cast("string"))
    def dir(s: SparkSession, sfDir: String): String =
      BuildOnce.dir("warc_sink", sfDir) { out =>
        val isMeta = col("doc_id") % 9 === 0
        val metaJson = concat(lit("{\"k\":"), col("doc_id").cast("string"), lit("}"))
        Tables.read(s, sfDir, "documents").select(
            concat(lit("urn:graft:"), col("doc_id").cast("string")).as("record_id"),
            when(isMeta, lit("metadata")).otherwise(lit("response")).as("warc_type"),
            uriCol.as("target_uri"),
            lit("2026-01-01T00:00:00Z").as("warc_date"),
            when(isMeta, lit("application/json"))
              .otherwise(lit("application/http;msgtype=response")).as("content_type"),
            when(isMeta, lit(null).cast("int"))
              .when(col("doc_id") % 7 === 0, lit(404))
              .otherwise(lit(200)).as("http_status"),
            when(isMeta || col("doc_id") % 10 === 0, lit(null).cast("string"))
              .otherwise(lit("text/html; charset=utf-8")).as("http_content_type"),
            when(isMeta, metaJson).otherwise(col("text")).cast("binary").as("payload"))
          .repartition(4, pmod(col("doc_id"), lit(4L)))
          .write.format("warc").mode("append").option("path", out).save()
      }
    /** The oracle-side reconstruction of every written field. */
    def oracleSelect(whereSql: String): String =
      s"""SELECT 'urn:graft:' || CAST(doc_id AS VARCHAR) AS record_id,
        CASE WHEN doc_id % 9 = 0 THEN 'metadata' ELSE 'response' END AS warc_type,
        'https://w' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/d/' ||
          CAST(doc_id AS VARCHAR) AS target_uri,
        '2026-01-01T00:00:00Z' AS warc_date,
        CASE WHEN doc_id % 9 = 0 THEN 'application/json'
             ELSE 'application/http;msgtype=response' END AS content_type,
        CASE WHEN doc_id % 9 = 0 THEN NULL
             WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS http_status,
        CASE WHEN doc_id % 9 = 0 OR doc_id % 10 = 0 THEN NULL
             ELSE 'text/html; charset=utf-8' END AS http_content_type,
        md5(CASE WHEN doc_id % 9 = 0
              THEN '{"k":' || CAST(doc_id AS VARCHAR) || '}' ELSE text END)
          AS payload_md5,
        CAST(strlen(CASE WHEN doc_id % 9 = 0
              THEN '{"k":' || CAST(doc_id AS VARCHAR) || '}' ELSE text END)
          AS BIGINT) AS payload_len
      FROM documents $whereSql"""
  }

  /** WARC SINK round-trip: documents written through the `warc` DSv2
    * WRITE path (record-per-gzip-member segments + CDX sidecars, the
    * ShardSink commit protocol) and read back through the `warc` READ
    * path — every header field, the HTTP head synthesis/split inverse
    * pair, payload digests and exact byte lengths reconstructed from
    * the source table. A single framing, head-synthesis, or
    * member-boundary bug breaks the hash.
    */
  val q155_warc_sink = QueryDef(
    "q155_warc_sink",
    (s, d) => {
      val dir = WarcSinkFixture.dir(s, d)
      s.read.format("warc").load(dir)
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("warc_date"), col("content_type"), col("http_status"),
          col("http_content_type"), md5(col("payload")).as("payload_md5"),
          col("payload_len"))
    },
    Some(WarcSinkFixture.oracleSelect("")),
  )

  /** CDX point lookup: 1-in-20 urls resolved to (segment, offset,
    * length) through the sink's CDX sidecars (a distributed text read
    * of the sidecars only — no archive bytes touched during planning),
    * then fetched with bounded seeks, each record its own gzip member.
    * The wanted side broadcasts; fetch repartitions by segment and
    * seeks monotonically. Oracle = the same records reconstructed from
    * the source table.
    */
  val q156_cdx_lookup = QueryDef(
    "q156_cdx_lookup",
    (s, d) => {
      val dir = WarcSinkFixture.dir(s, d)
      val cdx = graft.sources.WarcRandomAccess.cdx(s, dir)
      val wanted = Tables.read(s, d, "documents").filter(col("doc_id") % 20 === 0)
        .select(WarcSinkFixture.uriCol.as("target_uri"))
      val hits = cdx.join(broadcast(wanted), "target_uri")
        .select("segment", "offset", "length")
      graft.sources.WarcRandomAccess.fetch(hits)
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("warc_date"), col("content_type"), col("http_status"),
          col("http_content_type"), md5(col("payload")).as("payload_md5"),
          col("payload_len"))
    },
    Some(WarcSinkFixture.oracleSelect("WHERE doc_id % 20 = 0")),
  )

  /** Crawl frontier schedule: per-host best-first fetch slots spaced
    * by the host's crawl delay, per-host queue capped at 5. The
    * ranking runs as the bounded-heap topk_agg (TopKRewrite fires on
    * Frontier.schedule's window — FrontierSpec pins the plan), so a
    * hot host never concentrates its whole candidate set on one
    * reducer. Scores/delays derive from doc_id so the oracle replays
    * the window, cap, and slot arithmetic relationally.
    */
  val q157_frontier_schedule = QueryDef(
    "q157_frontier_schedule",
    (s, d) => {
      val cand = Tables.read(s, d, "documents").select(
        col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(37L)).cast("string"),
          lit(".example.com")).as("host"),
        ((col("doc_id") * lit(2654435761L)) % 997).cast("double").as("score"))
      val delays = cand.select(col("host"),
        (pmod(pmod(col("doc_id"), lit(37L)), lit(4L)) + 1).as("crawl_delay_s"))
        .distinct()
      graft.ops.Frontier.schedule(cand, "doc_id", "host", "score", delays, 5)
        .select(col("doc_id"), col("host"), col("rank"), col("fetch_at_s"),
          concat(lit("https://"), col("host"), lit("/d/"),
            col("doc_id").cast("string")).as("url"))
    },
    Some("""WITH c AS (SELECT doc_id,
          'h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS host,
          CAST((doc_id * 2654435761) % 997 AS DOUBLE) AS score
        FROM documents),
      r AS (SELECT doc_id, host,
          row_number() OVER (PARTITION BY host ORDER BY score DESC, doc_id)
            AS rank
        FROM c)
      SELECT doc_id, host, CAST(rank AS BIGINT) AS rank,
        CAST((rank - 1) * ((doc_id % 37) % 4 + 1) AS BIGINT) AS fetch_at_s,
        'https://' || host || '/d/' || CAST(doc_id AS VARCHAR) AS url
      FROM r WHERE rank <= 5"""),
  )

  /** WET derivation capstone: raw crawl archive in, extracted-text
    * archive out — the Common-Crawl-shaped "conversion record" product
    * a training-data team actually consumes. One flow: the q150
    * fixture read through the V2 source (pushed type filter), 200-gate,
    * HtmlExtract over the response bodies (entity decode included),
    * each page re-written as a `conversion` record through the `warc`
    * SINK (manifest commit), then read back via the MANIFEST (never
    * the directory listing — the strict exactly-once read path). The
    * oracle composes q146's proven extraction result analytically and
    * reconstructs every header field, the payload digest, and the
    * exact UTF-8 byte length.
    */
  val q158_wet_roundtrip = QueryDef(
    "q158_wet_roundtrip",
    (s, d) => {
      val src = WarcFixture.dir(s, d)
      val wetDir = Staging.dir("wet_out").toString
      val pages = s.read.format("warc").load(src)
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("record_id"), col("target_uri"), col("warc_date"),
          graft.ops.HtmlExtract.decodePayload(col("payload"),
            col("http_content_type")).as("html"))
      pages.select(
          concat(lit("urn:wet:"), col("record_id")).as("record_id"),
          lit("conversion").as("warc_type"),
          col("target_uri"), col("warc_date"),
          lit("text/plain").as("content_type"),
          lit(null).cast("int").as("http_status"),
          lit(null).cast("string").as("http_content_type"),
          graft.ops.HtmlExtract.extractText(col("html")).cast("binary")
            .as("payload"))
        .write.format("warc").mode("append").option("path", wetDir).save()
      s.read.format("warc").option("manifestOnly", "true").load(wetDir)
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("warc_date"), col("content_type"), col("http_status"),
          col("http_content_type"), md5(col("payload")).as("payload_md5"),
          col("payload_len"))
    },
    Some {
      val ch = warcPartsCte(urlPicksChain)
      val dateSql = "strftime(TIMESTAMP '2025-01-01 00:00:00' + " +
        "to_seconds(CAST(c.doc_id AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ')"
      // the 200-page's extracted text is analytically known (q146/q151)
      val wetText = "'Doc ' || CAST(c.doc_id AS VARCHAR) || ' ' || c.text || " +
        "' caf' || chr(233) || ' A' || chr(8212) || 'B'"
      ch.render(s"""
        SELECT 'urn:wet:' ||
            ${oracleUuidSql("'r:' || CAST(c.doc_id AS VARCHAR)")} AS record_id,
          'conversion' AS warc_type,
          $oracleMessyUrlSql AS target_uri,
          $dateSql AS warc_date,
          'text/plain' AS content_type,
          CAST(NULL AS INT) AS http_status,
          CAST(NULL AS VARCHAR) AS http_content_type,
          md5($wetText) AS payload_md5,
          CAST(strlen($wetText) AS BIGINT) AS payload_len
        FROM crawled c JOIN parts ON parts.doc_id = c.doc_id
        WHERE c.doc_id % 7 <> 0""")
    },
  )

  /** MP4/ISO-BMFF container metadata (the video-modality gate signal):
    * per-doc fixture streams exercise v0/v1 boxes, 64-bit largesize,
    * unknown-box skipping, and truncation (every 7th doc parses to an
    * honest null). Every parsed field — floor-division duration,
    * track inventory, codec fourccs, 16.16 display dims, audio shape —
    * reconstructs analytically from doc_id. Byte-level layout is
    * independently pinned in Mp4Spec (hand-computed offsets).
    */
  val q159_mp4_meta = QueryDef(
    "q159_mp4_meta",
    (s, d) => {
      val rates = Array(8000, 16000, 44100)
      val withBytes = payloads(docIds(s, d), "v") { id =>
        val ts = (1000L * ((id % 3) + 1)).toInt
        val dur = 90000L + id * 7
        val audio = graft.ops.Mp4.Track("soun", 48000, dur, "mp4a",
          channels = ((id % 3) + 1).toInt, sampleRate = rates((id % 3).toInt))
        val tracks =
          if (id % 2 == 0)
            Seq(graft.ops.Mp4.Track("vide", 30000, dur, "avc1",
              width = (320 + (id % 16) * 16).toInt,
              height = (240 + (id % 8) * 16).toInt), audio)
          else Seq(audio)
        val full = graft.ops.Mp4.build(ts, dur, tracks,
          version1 = id % 5 == 0, largeMoov = id % 11 == 0,
          freeBox = id % 3 == 0)
        if (id % 7 == 0) full.take(40) else full
      }
      graft.ops.Mp4.videoMeta(withBytes, "v")
        .select(col("doc_id"), col("v_mp4.duration_ms").as("duration_ms"),
          col("v_mp4.timescale").as("timescale"),
          col("v_mp4.n_tracks").as("n_tracks"),
          col("v_mp4.n_video").as("n_video"),
          col("v_mp4.n_audio").as("n_audio"),
          col("v_mp4.video_codec").as("video_codec"),
          col("v_mp4.width").as("width"), col("v_mp4.height").as("height"),
          col("v_mp4.audio_codec").as("audio_codec"),
          col("v_mp4.audio_channels").as("audio_channels"),
          col("v_mp4.audio_rate").as("audio_rate"))
    },
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN NULL ELSE
          CAST((90000 + doc_id * 7) * 1000 // (1000 * ((doc_id % 3) + 1))
            AS BIGINT) END AS duration_ms,
        CASE WHEN doc_id % 7 = 0 THEN NULL ELSE
          CAST(1000 * ((doc_id % 3) + 1) AS BIGINT) END AS timescale,
        CAST(CASE WHEN doc_id % 7 = 0 THEN NULL
          WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
        CAST(CASE WHEN doc_id % 7 = 0 THEN NULL
          WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS n_video,
        CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 1 END AS INT) AS n_audio,
        CASE WHEN doc_id % 7 = 0 OR doc_id % 2 = 1 THEN NULL
          ELSE 'avc1' END AS video_codec,
        CAST(CASE WHEN doc_id % 7 = 0 OR doc_id % 2 = 1 THEN NULL
          ELSE 320 + (doc_id % 16) * 16 END AS INT) AS width,
        CAST(CASE WHEN doc_id % 7 = 0 OR doc_id % 2 = 1 THEN NULL
          ELSE 240 + (doc_id % 8) * 16 END AS INT) AS height,
        CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'mp4a' END AS audio_codec,
        CAST(CASE WHEN doc_id % 7 = 0 THEN NULL
          ELSE (doc_id % 3) + 1 END AS INT) AS audio_channels,
        CAST(CASE WHEN doc_id % 7 = 0 THEN NULL
          WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000
          ELSE 44100 END AS INT) AS audio_rate
      FROM documents"""),
  )

  /** Sitemap XML parsing — the file robotsSitemaps' URLs point at,
    * completing the crawl-loop trio robots → sitemap → frontier.
    * Per-doc fixtures: every 6th doc a <sitemapindex> (2 child
    * sitemaps), the rest <urlset>s with 1-4 entries carrying optional
    * lastmod/priority; each file plants a COMMENTED-OUT entry that
    * must not crawl. priority surfaces as exact parts-per-million via
    * decimal arithmetic (no doubles cross the oracle). Everything —
    * kind, entry fan-out, loc text, lastmod presence, ppm — is
    * analytic in (doc_id, idx).
    */
  val q160_sitemap_parse = QueryDef(
    "q160_sitemap_parse",
    (s, d) => {
      val did = col("doc_id")
      val n = pmod(did, lit(4L)) + 1
      val urlEntries = transform(sequence(lit(0L), n - 1), i =>
        concat(lit("\n  <url>\n    <loc> https://s"),
          pmod(did, lit(9L)).cast("string"), lit(".example.com/page/"),
          did.cast("string"), lit("/"), i.cast("string"), lit(" </loc>"),
          when((did + i) % 3 === 0,
            concat(lit("\n    <lastmod>2026-0"),
              (pmod(i, lit(9L)) + 1).cast("string"), lit("-01</lastmod>")))
            .otherwise(lit("")),
          when((did + i) % 2 === 0,
            concat(lit("\n    <priority>0."),
              (pmod(i, lit(9L)) + 1).cast("string"), lit("</priority>")))
            .otherwise(lit("")),
          lit("\n  </url>")))
      val idxEntries = transform(sequence(lit(0L), lit(1L)), i =>
        concat(lit("\n  <sitemap>\n    <loc>https://s"),
          pmod(did, lit(9L)).cast("string"), lit(".example.com/sitemap-"),
          i.cast("string"), lit(".xml</loc>\n  </sitemap>")))
      val trap = lit("\n<!-- <url><loc>https://fake.example.com/no</loc>" +
        "</url><sitemap><loc>https://fake.example.com/no.xml</loc>" +
        "</sitemap> -->")
      val xml = when(did % 6 === 0,
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>"), trap,
          array_join(idxEntries, ""), lit("\n</sitemapindex>")))
        .otherwise(
          concat(lit("<?xml version=\"1.0\"?>\n<urlset>"), trap,
            array_join(urlEntries, ""), lit("\n</urlset>")))
      Tables.read(s, d, "documents").select(did,
          graft.ops.UrlOps.sitemapKind(xml).as("kind"),
          graft.ops.UrlOps.sitemapEntries(xml).as("__es"))
        .select(col("doc_id"), col("kind"),
          posexplode(col("__es")).as(Seq("idx", "e")))
        .select(col("doc_id"), col("kind"), col("idx").cast("long").as("idx"),
          col("e.loc").as("loc"), col("e.lastmod").as("lastmod"),
          col("e.priority_ppm").as("priority_ppm"))
    },
    Some("""WITH u AS (
        SELECT doc_id, 'urlset' AS kind, i AS idx,
          'https://s' || CAST(doc_id % 9 AS VARCHAR) || '.example.com/page/'
            || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR) AS loc,
          CASE WHEN (doc_id + i) % 3 = 0 THEN
            '2026-0' || CAST((i % 9) + 1 AS VARCHAR) || '-01' END AS lastmod,
          CASE WHEN (doc_id + i) % 2 = 0 THEN
            CAST(((i % 9) + 1) * 100000 AS BIGINT) END AS priority_ppm
        FROM documents, LATERAL (SELECT unnest(generate_series(0,
          doc_id % 4)) AS i) t
        WHERE doc_id % 6 <> 0),
      x AS (
        SELECT doc_id, 'index' AS kind, i AS idx,
          'https://s' || CAST(doc_id % 9 AS VARCHAR) ||
            '.example.com/sitemap-' || CAST(i AS VARCHAR) || '.xml' AS loc,
          CAST(NULL AS VARCHAR) AS lastmod, CAST(NULL AS BIGINT) AS priority_ppm
        FROM documents, LATERAL (SELECT unnest(generate_series(0, 1)) AS i) t
        WHERE doc_id % 6 = 0)
      SELECT doc_id, kind, CAST(idx AS BIGINT) AS idx, loc, lastmod,
        priority_ppm
      FROM (SELECT * FROM u UNION ALL SELECT * FROM x)"""),
  )

  /** Link extraction + RFC 3986 resolution — crawl DISCOVERY (fetch →
    * extract links → resolve → frontier). Per-doc HTML plants all
    * three href quotings (attribute order varied), a protocol-relative
    * ref, root-relative with query, path-relative, query-only with
    * `&amp;`, fragment-only, plus commented-out and script-embedded
    * trap links that must not crawl. Every href, its resolved absolute
    * form, and the crawl host are analytic in (doc_id, idx); the
    * resolver itself is pinned against the RFC's §5.4 vectors in
    * UrlOpsSpec (dot-segment cases live there — java regex == RE2
    * replay is not needed for them because the oracle here never
    * parses, it reconstructs).
    */
  /** The q161/q162 link fixture: per-doc page URL and HTML planting
    * all href forms plus comment/script trap links.
    */
  private[graft] def linkFixtureBase(did: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("https://h"), pmod(did, lit(7L)).cast("string"),
      lit(".example.com/a"), pmod(did, lit(5L)).cast("string"),
      lit("/page"), did.cast("string"), lit(".html"))

  private[graft] def linkFixtureHtml(did: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def n(m: Long) = pmod(did, lit(m)).cast("string")
    val ds = did.cast("string")
    concat(
      lit("<html><body><!-- <a href=\"/trap\">x</a> -->" +
        "<script>var x='<a href=\"/strap\">y</a>';</script>\n<a href=\"https://ext"),
      n(3), lit(".example.com/x"), ds,
      lit("\">e</a>\n<a class=\"c"), n(2),
      lit("\" href='//cdn"), n(4),
      lit(".example.com/lib.js'>c</a>\n<a href=/root/"), ds,
      lit("?z=1>r</a>\n<a href=\"sub/page"), ds,
      lit(".html\">s</a>\n<a href=\"?q="), ds,
      lit("&amp;r=2\">q</a>\n<a href=\"#sec\">f</a></body></html>"))
  }

  /** Link-bearing pages as a WARC corpus (written once per (JVM,
    * sfDir) through the sink): the input for the STREAMING discovery
    * rig g130.
    */
  private[graft] object LinkWarcFixture {
    def dir(s: SparkSession, sfDir: String): String =
      BuildOnce.dir("link_warc", sfDir) { out =>
        val did = col("doc_id")
        Tables.read(s, sfDir, "documents").select(graft.SynthQueries.warcResponse(
            concat(lit("urn:link:"), did.cast("string")), linkFixtureBase(did),
            lit(200), "text/html", linkFixtureHtml(did)): _*)
          .repartition(4, pmod(did, lit(4L)))
          .write.format("warc").mode("append").option("path", out).save()
      }
  }

  /** The 6 per-doc candidate URLs after resolve+canonicalize, as SQL
    * (idx 5, the fragment-only self link, canonicalizes to the page
    * URL itself) — shared by the g130 oracle.
    */
  private[graft] val linkCandidateSql: String = """CASE idx
      WHEN 0 THEN 'https://ext' || CAST(doc_id % 3 AS VARCHAR) ||
        '.example.com/x' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'https://cdn' || CAST(doc_id % 4 AS VARCHAR) ||
        '.example.com/lib.js'
      WHEN 2 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        '.example.com/root/' || CAST(doc_id AS VARCHAR) || '?z=1'
      WHEN 3 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        '.example.com/a' || CAST(doc_id % 5 AS VARCHAR) ||
        '/sub/page' || CAST(doc_id AS VARCHAR) || '.html'
      WHEN 4 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        '.example.com/a' || CAST(doc_id % 5 AS VARCHAR) ||
        '/page' || CAST(doc_id AS VARCHAR) || '.html?q=' ||
        CAST(doc_id AS VARCHAR) || '&r=2'
      ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        '.example.com/a' || CAST(doc_id % 5 AS VARCHAR) ||
        '/page' || CAST(doc_id AS VARCHAR) || '.html' END"""

  val q161_link_graph = QueryDef(
    "q161_link_graph",
    (s, d) => {
      val did = col("doc_id")
      val base = linkFixtureBase(did)
      val html = linkFixtureHtml(did)
      // spread the HTML render + link extraction (the exchange carries
      // one long per row)
      Barrier.spread(Tables.read(s, d, "documents").select(did))
        .select(did, base.as("__base"),
          graft.ops.HtmlExtract.extractLinks(html).as("__ls"))
        .select(col("doc_id"), col("__base"),
          posexplode(col("__ls")).as(Seq("idx", "href")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"), col("href"),
          graft.ops.UrlOps.resolveUrl(col("__base"), col("href"))
            .as("resolved"))
        .withColumn("host", graft.ops.UrlOps.canonicalHost(col("resolved")))
    },
    Some("""WITH l AS (SELECT doc_id, unnest(generate_series(0, 5)) AS idx
               FROM documents),
      p AS (SELECT doc_id, idx,
              CAST(doc_id AS VARCHAR) AS ds,
              CAST(doc_id % 7 AS VARCHAR) AS h7,
              CAST(doc_id % 5 AS VARCHAR) AS a5,
              CAST(doc_id % 4 AS VARCHAR) AS c4,
              CAST(doc_id % 3 AS VARCHAR) AS e3
            FROM l)
      SELECT doc_id, CAST(idx AS BIGINT) AS idx,
        CASE idx
          WHEN 0 THEN 'https://ext' || e3 || '.example.com/x' || ds
          WHEN 1 THEN '//cdn' || c4 || '.example.com/lib.js'
          WHEN 2 THEN '/root/' || ds || '?z=1'
          WHEN 3 THEN 'sub/page' || ds || '.html'
          WHEN 4 THEN '?q=' || ds || '&r=2'
          ELSE '#sec' END AS href,
        CASE idx
          WHEN 0 THEN 'https://ext' || e3 || '.example.com/x' || ds
          WHEN 1 THEN 'https://cdn' || c4 || '.example.com/lib.js'
          WHEN 2 THEN 'https://h' || h7 || '.example.com/root/' || ds || '?z=1'
          WHEN 3 THEN 'https://h' || h7 || '.example.com/a' || a5 ||
            '/sub/page' || ds || '.html'
          WHEN 4 THEN 'https://h' || h7 || '.example.com/a' || a5 ||
            '/page' || ds || '.html?q=' || ds || '&r=2'
          ELSE 'https://h' || h7 || '.example.com/a' || a5 ||
            '/page' || ds || '.html#sec' END AS resolved,
        CASE idx
          WHEN 0 THEN 'ext' || e3 || '.example.com'
          WHEN 1 THEN 'cdn' || c4 || '.example.com'
          ELSE 'h' || h7 || '.example.com' END AS host
      FROM p"""),
  )

  /** The crawl DISCOVERY-LOOP capstone — every r11 piece in ONE plan:
    * pages → extractLinks → resolveUrl → canonicalizeUrl → seen-set
    * anti-join (the fragment-only self-link canonicalizes to the page
    * itself and dies here) → first-discovery ownership (map-side
    * combinable min per URL — the shared cdn library URL collapses to
    * its earliest discoverer) → robots_allowed gate with per-host
    * rules (h-hosts disallow one /aK/ prefix) → Frontier.schedule
    * (bounded-heap top-3 per host, slots spaced by the host's
    * crawl-delay). The oracle reconstructs candidates, gate, ownership
    * mins, window ranks, and slot times relationally — an integration
    * proof over parts q146/q149/q157/q161 certify individually.
    */
  val q162_discovery_loop = QueryDef(
    "q162_discovery_loop",
    (s, d) => {
      val did = col("doc_id")
      // spread the HTML render + link extraction + canonicalization
      // (the exchange carries one long per row, the fixture builds
      // after it)
      val pages = Barrier.spread(Tables.read(s, d, "documents").select(did))
        .select(did, linkFixtureBase(did).as("url"),
        linkFixtureHtml(did).as("html"))
      // staged projections: `resolved` materializes as an attribute so
      // canonicalizeUrl's six try_parse_url calls each reference ONE
      // column, not six copies of the whole resolveUrl tree
      // (CollapseProject keeps the barrier — multi-referenced non-cheap
      // expressions don't re-inline)
      val cand = pages
        .select(did, col("url"),
          posexplode(graft.ops.HtmlExtract.extractLinks(col("html")))
            .as(Seq("idx", "href")))
        .select(did, col("idx"),
          graft.ops.UrlOps.resolveUrl(col("url"), col("href")).as("resolved"))
        .select(did, col("idx"),
          graft.ops.UrlOps.canonicalizeUrl(col("resolved")).as("curl"))
      val seen = pages
        .select(graft.ops.UrlOps.canonicalizeUrl(col("url")).as("curl"))
        .distinct()
      val fresh = cand.join(seen, Seq("curl"), "left_anti")
      // cut BEFORE the robots filter: predicate pushdown would
      // otherwise substitute the filter through every projection layer,
      // re-inlining the canonicalize/resolve trees into the predicate
      // (measured 6.6 s vs 1.1 s at sf0.1 for this one stage) — and the
      // materialized set also feeds three downstream consumers once
      val disc = Barrier.cut(fresh.groupBy("curl")
        .agg(min(did * 8 + col("idx")).as("disc_id"))
        .withColumn("host", graft.ops.UrlOps.canonicalHost(col("curl"))))
      val hostDigit = regexp_extract(col("host"), "^h([0-9]+)\\.", 1)
      val isH = hostDigit =!= ""
      val rules = when(isH, concat(
          lit("User-agent: *\nDisallow: /a"),
          ((hostDigit.cast("long") + 1) % 5).cast("string"),
          lit("/\nCrawl-delay: "),
          (hostDigit.cast("long") % 4 + 1).cast("string"), lit("\n")))
        .otherwise(lit(""))
      val path = regexp_replace(col("curl"), "^https?://[^/]*", "")
      val gated = disc
        .filter(call_function("robots_allowed", rules,
          lit("GraftBot/1.0"), path))
        .withColumn("score",
          ((col("disc_id") * lit(2654435761L)) % 997).cast("double"))
      val delays = gated.select(col("host"),
        when(isH, hostDigit.cast("long") % 4 + 1).otherwise(lit(1L))
          .as("crawl_delay_s")).distinct()
      val sched = graft.ops.Frontier.schedule(gated, "disc_id", "host",
        "score", delays, 3)
      sched.join(gated.select(col("disc_id"), col("curl")), "disc_id")
        .select(col("curl"), col("host"), col("rank"), col("fetch_at_s"),
          col("disc_id"))
    },
    Some("""WITH c0 AS (
        SELECT doc_id, unnest(generate_series(0, 4)) AS idx FROM documents),
      cand AS (SELECT doc_id, idx,
          CASE idx
            WHEN 0 THEN 'https://ext' || CAST(doc_id % 3 AS VARCHAR) ||
              '.example.com/x' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'https://cdn' || CAST(doc_id % 4 AS VARCHAR) ||
              '.example.com/lib.js'
            WHEN 2 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
              '.example.com/root/' || CAST(doc_id AS VARCHAR) || '?z=1'
            WHEN 3 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
              '.example.com/a' || CAST(doc_id % 5 AS VARCHAR) ||
              '/sub/page' || CAST(doc_id AS VARCHAR) || '.html'
            ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
              '.example.com/a' || CAST(doc_id % 5 AS VARCHAR) ||
              '/page' || CAST(doc_id AS VARCHAR) || '.html?q=' ||
              CAST(doc_id AS VARCHAR) || '&r=2' END AS curl,
          CASE WHEN idx <= 1 THEN TRUE
            WHEN idx = 2 THEN TRUE
            ELSE doc_id % 5 <> (doc_id % 7 + 1) % 5 END AS allowed,
          CASE idx
            WHEN 0 THEN 'ext' || CAST(doc_id % 3 AS VARCHAR) || '.example.com'
            WHEN 1 THEN 'cdn' || CAST(doc_id % 4 AS VARCHAR) || '.example.com'
            ELSE 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
              END AS host
        FROM c0),
      disc AS (SELECT curl, host, min(doc_id * 8 + idx) AS disc_id,
          bool_and(allowed) AS allowed
        FROM cand GROUP BY curl, host),
      gated AS (SELECT curl, host, disc_id,
          CAST((disc_id * 2654435761) % 997 AS DOUBLE) AS score,
          CASE WHEN host LIKE 'h%.example.com' THEN
            CAST(substr(host, 2, 1) AS BIGINT) % 4 + 1 ELSE 1 END AS delay
        FROM disc WHERE allowed),
      ranked AS (SELECT curl, host, disc_id, delay,
          row_number() OVER (PARTITION BY host
            ORDER BY score DESC, disc_id) AS rank
        FROM gated)
      SELECT curl, host, CAST(rank AS BIGINT) AS rank,
        CAST((rank - 1) * delay AS BIGINT) AS fetch_at_s,
        CAST(disc_id AS BIGINT) AS disc_id
      FROM ranked WHERE rank <= 3"""),
  )

  /** Charset sniffing in WHATWG precedence (BOM > transport > meta >
    * utf-8 default): five fixture branches — a UTF-8 BOM overriding a
    * lying meta tag, a UTF-16LE BOM over mojibake meta bytes, a
    * transport charset beating the meta, a meta-only page (legacy
    * http-equiv form), and a bare default. The fixture charset is
    * analytic in doc_id, so the oracle never parses bytes — the Spark
    * side exercises the real BOM/regex probes.
    */
  val q163_charset_sniff = QueryDef(
    "q163_charset_sniff",
    (s, d) => {
      val did = col("doc_id")
      val kind = pmod(did, lit(5L))
      val bomU8 = lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
      val bomLe = lit(Array(0xFF.toByte, 0xFE.toByte))
      val htmlLyingMeta = lit(
        "<html><head><meta charset=\"ISO-8859-1\"></head><body>x</body></html>")
        .cast("binary")
      val htmlMetaOnly = lit("<html><head><meta http-equiv=\"Content-Type\" " +
        "content=\"text/html; charset=windows-1251\"></head>" +
        "<body>y</body></html>").cast("binary")
      val plain = concat(lit("plain "), did.cast("string")).cast("binary")
      val payload = when(kind === 0, concat(bomU8, htmlLyingMeta))
        .when(kind === 1, concat(bomLe, plain))
        .when(kind === 2, htmlLyingMeta)
        .when(kind === 3, htmlMetaOnly)
        .otherwise(plain)
      val hct = when(kind === 2, lit("text/html; charset=KOI8-R"))
        .when(kind === 3, lit("text/html"))
        .otherwise(lit(null).cast("string"))
      Tables.read(s, d, "documents").select(did,
        graft.ops.HtmlExtract.sniffCharset(payload, hct).as("charset"))
    },
    Some("""SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'utf-8'
          WHEN 1 THEN 'utf-16le'
          WHEN 2 THEN 'koi8-r'
          WHEN 3 THEN 'windows-1251'
          ELSE 'utf-8' END AS charset
      FROM documents"""),
  )

  /** MPEG-audio (MP3) frame metadata — the audio gate signal: per-doc
    * streams vary sample rate, bitrate, channel mode, ID3v2 prefix
    * size, and frame count; every 11th doc truncates to an honest
    * null. Duration, frame count, stream shape, and tag size all
    * reconstruct analytically; byte-level layout and the
    * truncated-final-frame / desync walk rules are pinned in MpegSpec.
    */
  val q164_mp3_meta = QueryDef(
    "q164_mp3_meta",
    (s, d) => {
      // spread the MP3 frame build + header walk (the exchange carries
      // one long per row)
      val withBytes = payloads(Barrier.spread(docIds(s, d)), "a") { id =>
        val nf = (10 + id % 23).toInt
        val srIdx = (id % 3).toInt
        val brIdx = (id % 5 + 8).toInt
        val stereo = id % 2 == 0
        // kinds by id % 6 (1/3/5 are odd, so they never collide with
        // the % 4 == 0 id3 branch): 1 = Xing-tagged VBR (per-frame
        // rates vary), 3 = VBRI-tagged VBR, 5 = Info-tagged CBR,
        // else plain untagged CBR
        def vbrIdxs = (0 until nf).map(i => ((id + i) % 5 + 8).toInt)
        val full = (id % 6) match {
          case 1 => graft.ops.Mpeg.buildTagged(vbrIdxs, srIdx, stereo, "xing")
          case 3 => graft.ops.Mpeg.buildTagged(vbrIdxs, srIdx, stereo, "vbri")
          case 5 => graft.ops.Mpeg.buildTagged(Seq.fill(nf)(brIdx), srIdx,
            stereo, "info")
          case _ => graft.ops.Mpeg.build(nf, srIdx, brIdx, stereo,
            id3Size = if (id % 4 == 0) (100 + id % 50).toInt else -1)
        }
        if (id % 11 == 0) full.take(3) else full
      }
      graft.ops.Mpeg.audioMeta(withBytes, "a")
        .select(col("doc_id"), col("a_mp3.n_frames").as("n_frames"),
          col("a_mp3.sample_rate").as("sample_rate"),
          col("a_mp3.bitrate_kbps").as("bitrate_kbps"),
          col("a_mp3.avg_bitrate_kbps").as("avg_bitrate_kbps"),
          col("a_mp3.vbr").cast("int").as("vbr"),
          col("a_mp3.declared_frames").as("declared_frames"),
          col("a_mp3.channels").as("channels"),
          col("a_mp3.duration_ms").as("duration_ms"),
          col("a_mp3.id3_bytes").as("id3_bytes"))
    },
    Some("""WITH p AS (SELECT doc_id,
          10 + doc_id % 23 AS nf,
          CASE WHEN doc_id % 3 = 0 THEN 44100 WHEN doc_id % 3 = 1 THEN 48000
            ELSE 32000 END AS sr,
          CASE doc_id % 5 WHEN 0 THEN 112 WHEN 1 THEN 128 WHEN 2 THEN 160
            WHEN 3 THEN 192 ELSE 224 END AS kb0,
          doc_id % 6 AS kind
        FROM documents),
      c AS (SELECT doc_id, nf, sr, kb0, kind,
          (144000 * kb0) // sr AS flen0,
          CASE WHEN kind IN (1, 3)
            THEN CAST(list_sum([(144000 * (CASE (doc_id + i) % 5
                WHEN 0 THEN 112 WHEN 1 THEN 128 WHEN 2 THEN 160
                WHEN 3 THEN 192 ELSE 224 END)) // sr
              for i in generate_series(0, nf - 1)]) AS BIGINT)
            ELSE nf * ((144000 * kb0) // sr) END AS audio_bytes
        FROM p)
      SELECT doc_id,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
          WHEN kind IN (1, 3, 5) THEN nf + 1 ELSE nf END AS INT) AS n_frames,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL ELSE sr END AS INT)
          AS sample_rate,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL ELSE kb0 END AS INT)
          AS bitrate_kbps,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
          WHEN kind IN (1, 3, 5)
            THEN ((flen0 + audio_bytes) * 8 * sr) // (nf * 1152 * 1000)
          ELSE (audio_bytes * 8 * sr) // (nf * 1152 * 1000) END AS INT)
          AS avg_bitrate_kbps,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
          WHEN kind IN (1, 3) THEN 1 ELSE 0 END AS INT) AS vbr,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
          WHEN kind IN (1, 3, 5) THEN nf ELSE NULL END AS INT)
          AS declared_frames,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
          WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS channels,
        CASE WHEN doc_id % 11 = 0 THEN NULL
          ELSE CAST((CASE WHEN kind IN (1, 3, 5) THEN nf + 1 ELSE nf END)
            * 1152 * 1000 // sr AS BIGINT) END AS duration_ms,
        CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
          WHEN kind IN (1, 3, 5) THEN 0
          WHEN doc_id % 4 = 0 THEN 110 + doc_id % 50
          ELSE 0 END AS INT) AS id3_bytes
      FROM c"""),
  )

  /** FLAC STREAMINFO metadata — the lossless-audio gate signal
    * completing the container family (WAV q114, MP4 q159/q168, MP3
    * q164): per-doc streams vary sample rate, channels, bit depth,
    * total samples, block size, VORBIS_COMMENT count, and PADDING
    * size; every 13th doc truncates to an honest null and every 17th
    * declares total-samples 0 (unknown) so duration nulls without the
    * row nulling. Every field reconstructs analytically; the
    * byte-level block grammar (packed u20/u3/u5/u36 STREAMINFO, LE
    * vorbis lengths, size-skip walk) is pinned in FlacSpec.
    */
  val q177_flac_meta = QueryDef(
    "q177_flac_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "a") { id =>
        val sr = Array(44100, 48000, 96000, 22050)((id % 4).toInt)
        val ch = (id % 3 + 1).toInt
        val bps = Array(16, 24, 8)((id % 3).toInt)
        val total = if (id % 17 == 0) 0L else 1000L + (id * 37) % 100000
        val blk = if (id % 2 == 0) 4096 else 1024
        val comments =
          if (id % 3 == 0) (0 until (1 + id % 4).toInt).map(i =>
            (s"k$i", s"v${(id + i) % 7}"))
          else Seq.empty
        val pad = if (id % 5 == 0) (256 + id % 100).toInt else -1
        val full = graft.ops.Flac.build(sr, ch, bps, total, blk,
          comments, pad)
        if (id % 13 == 0) full.take(10) else full
      }
      graft.ops.Flac.audioMeta(withBytes, "a")
        .select(col("doc_id"),
          col("a_flac.sample_rate").as("sample_rate"),
          col("a_flac.channels").as("channels"),
          col("a_flac.bits_per_sample").as("bits_per_sample"),
          col("a_flac.total_samples").as("total_samples"),
          col("a_flac.duration_ms").as("duration_ms"),
          col("a_flac.min_block").as("min_block"),
          col("a_flac.max_block").as("max_block"),
          col("a_flac.n_blocks").as("n_blocks"),
          col("a_flac.padding_bytes").as("padding_bytes"),
          col("a_flac.n_comments").as("n_comments"))
    },
    Some("""WITH p AS (SELECT doc_id,
          CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
            WHEN 2 THEN 96000 ELSE 22050 END AS sr,
          doc_id % 3 + 1 AS ch,
          CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 8 END AS bps,
          CASE WHEN doc_id % 17 = 0 THEN 0
            ELSE 1000 + (doc_id * 37) % 100000 END AS total,
          CASE WHEN doc_id % 2 = 0 THEN 4096 ELSE 1024 END AS blk,
          CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 4 ELSE 0 END AS nc,
          CASE WHEN doc_id % 5 = 0 THEN 256 + doc_id % 100 ELSE -1 END AS pad,
          doc_id % 13 = 0 AS cut
        FROM documents)
      SELECT doc_id,
        CAST(CASE WHEN cut THEN NULL ELSE sr END AS INT) AS sample_rate,
        CAST(CASE WHEN cut THEN NULL ELSE ch END AS INT) AS channels,
        CAST(CASE WHEN cut THEN NULL ELSE bps END AS INT) AS bits_per_sample,
        CAST(CASE WHEN cut THEN NULL ELSE total END AS BIGINT)
          AS total_samples,
        CAST(CASE WHEN cut OR total = 0 THEN NULL
          ELSE total * 1000 // sr END AS BIGINT) AS duration_ms,
        CAST(CASE WHEN cut THEN NULL ELSE blk END AS INT) AS min_block,
        CAST(CASE WHEN cut THEN NULL ELSE blk END AS INT) AS max_block,
        CAST(CASE WHEN cut THEN NULL
          ELSE 1 + CASE WHEN nc > 0 THEN 1 ELSE 0 END
            + CASE WHEN pad >= 0 THEN 1 ELSE 0 END END AS INT) AS n_blocks,
        CAST(CASE WHEN cut THEN NULL
          WHEN pad >= 0 THEN pad ELSE 0 END AS INT) AS padding_bytes,
        CAST(CASE WHEN cut OR nc = 0 THEN NULL ELSE nc END AS INT)
          AS n_comments
      FROM p"""),
  )

  /** JPEG EXIF metadata — the image-side gate signal the pixel paths
    * (q141 dHash, q144 coverage) don't read: orientation (rotation
    * lives in metadata, not pixels — a resize pipeline must apply it),
    * camera Make/Model/DateTimeOriginal provenance, Exif-claimed vs
    * SOF-decoded dimensions (they disagree after a re-encode — q178
    * plants them 1000 apart), ISO, and GPS PRESENCE — the geotag PII
    * flag a crawl pipeline gates on before reading any coordinate.
    * Streams vary byte order (II/MM), inline-vs-offset ASCII values,
    * FF fill bytes, a no-EXIF JFIF shape (fields null, SOF dims still
    * read — the camera-stripped web JPEG), and a non-JPEG cut to an
    * honest full null. Byte grammar pinned in ExifSpec.
    */
  val q178_exif_meta = QueryDef(
    "q178_exif_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "img") { id =>
        val w = 640 + (id % 13).toInt * 16
        val h = 480 + (id % 7).toInt * 16
        val model =
          if (id % 4 == 0) "M" + (id % 10) else "Model" + (id % 7)
        val full = graft.ops.Exif.build(w, h,
          orientation = (id % 8 + 1).toInt,
          make = "Make" + (id % 5), model = model,
          dtOrig = f"2020:01:${id % 27 + 1}%02d 03:04:05",
          pixelW = w + 1000, pixelH = h + 1000,
          iso = (100 * (1 + id % 8)).toInt,
          gps = id % 3 == 0, littleEndian = id % 2 == 0,
          noExif = id % 7 == 0, fillByte = id % 6 == 0)
        if (id % 11 == 0) full.take(3) else full
      }
      graft.ops.Exif.imageMeta(withBytes, "img")
        .select(col("doc_id"),
          col("img_exif.sof_w").as("sof_w"),
          col("img_exif.sof_h").as("sof_h"),
          col("img_exif.byte_order").as("byte_order"),
          col("img_exif.orientation").as("orientation"),
          col("img_exif.make").as("make"),
          col("img_exif.model").as("model"),
          col("img_exif.dt_orig").as("dt_orig"),
          col("img_exif.pixel_w").as("pixel_w"),
          col("img_exif.pixel_h").as("pixel_h"),
          col("img_exif.iso").as("iso"),
          col("img_exif.has_gps").cast("int").as("has_gps"),
          col("img_exif.n_ifd0").as("n_ifd0"),
          col("img_exif.n_gps").as("n_gps"))
    },
    Some("""WITH p AS (SELECT doc_id,
          640 + (doc_id % 13) * 16 AS w, 480 + (doc_id % 7) * 16 AS h,
          doc_id % 8 + 1 AS ori,
          'Make' || CAST(doc_id % 5 AS VARCHAR) AS mk,
          CASE WHEN doc_id % 4 = 0 THEN 'M' || CAST(doc_id % 10 AS VARCHAR)
            ELSE 'Model' || CAST(doc_id % 7 AS VARCHAR) END AS mdl,
          '2020:01:' || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')
            || ' 03:04:05' AS dt,
          100 * (1 + doc_id % 8) AS iso,
          doc_id % 3 = 0 AS gps,
          doc_id % 2 = 0 AS le,
          doc_id % 7 = 0 AS noex,
          doc_id % 11 = 0 AS cut
        FROM documents)
      SELECT doc_id,
        CAST(CASE WHEN cut THEN NULL ELSE w END AS INT) AS sof_w,
        CAST(CASE WHEN cut THEN NULL ELSE h END AS INT) AS sof_h,
        CASE WHEN cut OR noex THEN NULL WHEN le THEN 'II' ELSE 'MM' END
          AS byte_order,
        CAST(CASE WHEN cut OR noex THEN NULL ELSE ori END AS INT)
          AS orientation,
        CASE WHEN cut OR noex THEN NULL ELSE mk END AS make,
        CASE WHEN cut OR noex THEN NULL ELSE mdl END AS model,
        CASE WHEN cut OR noex THEN NULL ELSE dt END AS dt_orig,
        CAST(CASE WHEN cut OR noex THEN NULL ELSE w + 1000 END AS INT)
          AS pixel_w,
        CAST(CASE WHEN cut OR noex THEN NULL ELSE h + 1000 END AS INT)
          AS pixel_h,
        CAST(CASE WHEN cut OR noex THEN NULL ELSE iso END AS INT) AS iso,
        CAST(CASE WHEN cut THEN NULL WHEN noex THEN 0
          WHEN gps THEN 1 ELSE 0 END AS INT) AS has_gps,
        CAST(CASE WHEN cut OR noex THEN NULL
          WHEN gps THEN 5 ELSE 4 END AS INT) AS n_ifd0,
        CAST(CASE WHEN cut OR noex OR NOT gps THEN NULL ELSE 3 END AS INT)
          AS n_gps
      FROM p"""),
  )

  /** A revisit-bearing crawl written through the `warc` SINK (the
    * digest/refers-to/profile headers ride the new optional-column
    * pass-through), once per (JVM, sf). Every doc_id % 3 == 0 (except
    * 0) is a `revisit` stub: 304 head, empty body, profile set, digest
    * naming one of 40 content classes; half the revisits (id % 6 == 3)
    * also carry WARC-Refers-To naming an explicit original, and the
    * id % 9 == 6 subset declares a digest no response has — the
    * unresolvable case (unless the explicit pointer rescues it:
    * id ≡ 15 mod 18 has both, and the pointer must win).
    */
  private[graft] object RevisitFixture {
    def dir(s: SparkSession, sfDir: String): String =
      BuildOnce.dir("warc_revisit", sfDir) { out =>
        val id = col("doc_id")
        val c = pmod(id, lit(40L))
        val isRev = id % 3 === 0 && id > 0
        val rid = concat(lit("rec-"), lpad(id.cast("string"), 8, "0"))
        val refC = when(c % 3 =!= 0, c).otherwise(c + 40)
        Tables.read(s, sfDir, "documents").select(
            rid.as("record_id"),
            when(isRev, lit("revisit")).otherwise(lit("response"))
              .as("warc_type"),
            concat(lit("https://h"), pmod(id, lit(7L)).cast("string"),
              lit(".example/p"), id.cast("string")).as("target_uri"),
            lit("2026-02-01T00:00:00Z").as("warc_date"),
            lit("application/http;msgtype=response").as("content_type"),
            when(isRev, lit(304)).otherwise(lit(200)).as("http_status"),
            lit("text/plain").as("http_content_type"),
            when(isRev, lit(Array.emptyByteArray))
              .otherwise(concat(lit("body-"), c.cast("string"))
                .cast("binary")).as("payload"),
            when(isRev && id % 9 === 6,
                concat(lit("sha1:MISSING"), id.cast("string")))
              .otherwise(concat(lit("sha1:D"), c.cast("string")))
              .as("payload_digest"),
            when(isRev && id % 6 === 3,
                concat(lit("rec-"), lpad(refC.cast("string"), 8, "0")))
              .otherwise(lit(null).cast("string")).as("refers_to"),
            when(isRev, lit("http://netpreserve.org/warc/1.0/revisit/" +
                "identical-payload-digest"))
              .otherwise(lit(null).cast("string")).as("warc_profile"))
          .repartition(4, pmod(id, lit(4L)))
          .write.format("warc").mode("append").option("path", out).save()
      }
  }

  /** Revisit resolution — crawl-dedup replay over a sink round-trip:
    * revisit stubs re-attach their original's payload by
    * WARC-Refers-To when present (the pointer must WIN over the
    * digest: the c = 0 class's pointer names a different original than
    * the digest's canonical min), else by WARC-Payload-Digest against
    * the map-side-combinable canonical-original table; digests no
    * response carries resolve to an honest null payload. The oracle
    * replays both join paths and the precedence relationally.
    */
  val q179_warc_revisit = QueryDef(
    "q179_warc_revisit",
    (s, d) => {
      val dir = RevisitFixture.dir(s, d)
      graft.ops.Revisit.resolve(s.read.format("warc").load(dir))
        .select(col("record_id"), col("warc_type"), col("revisit_of"),
          md5(col("payload")).as("payload_md5"), col("payload_len"),
          col("warc_profile").isNotNull.cast("int").as("has_profile"))
    },
    Some("""WITH p AS (SELECT doc_id AS id, doc_id % 40 AS c,
          doc_id % 3 = 0 AND doc_id > 0 AS isrev,
          'rec-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS rid
        FROM documents),
      resp AS (SELECT id, c, rid, 'body-' || CAST(c AS VARCHAR) AS content,
          'sha1:D' || CAST(c AS VARCHAR) AS dig FROM p WHERE NOT isrev),
      canon AS (SELECT dig, MIN(rid) AS o_rid, MIN(content) AS o_content
        FROM resp GROUP BY dig),
      rev AS (SELECT id, c, rid,
          CASE WHEN id % 9 = 6 THEN 'sha1:MISSING' || CAST(id AS VARCHAR)
               ELSE 'sha1:D' || CAST(c AS VARCHAR) END AS dig,
          CASE WHEN id % 6 = 3 THEN 'rec-' || lpad(CAST(
              CASE WHEN c % 3 <> 0 THEN c ELSE c + 40 END AS VARCHAR),
              8, '0') END AS refs
        FROM p WHERE isrev),
      revres AS (SELECT rev.rid,
          COALESCE(r2.rid, canon.o_rid) AS revisit_of,
          COALESCE(r2.content, canon.o_content) AS content
        FROM rev
        LEFT JOIN resp r2 ON rev.refs = r2.rid
        LEFT JOIN canon ON rev.dig = canon.dig)
      SELECT rid AS record_id, 'response' AS warc_type,
        CAST(NULL AS VARCHAR) AS revisit_of, md5(content) AS payload_md5,
        CAST(strlen(content) AS BIGINT) AS payload_len,
        CAST(0 AS INT) AS has_profile
      FROM resp
      UNION ALL
      SELECT rid, 'revisit', revisit_of, md5(content),
        CAST(strlen(content) AS BIGINT), CAST(1 AS INT)
      FROM revres"""),
  )

  /** Two name-ordered `.warc.gz` segments for the STREAMING revisit
    * rig (g136), parity-split so roughly half of all revisit stubs
    * land in a different micro-batch than their original — in both
    * orders (original-first resolves from carried state; revisit-first
    * exercises the out-of-order pending buffer). Per doc_id % 5:
    * 0/1 = response (digest unique per id), 2 = revisit of id-1,
    * 3 = revisit of id+3 (opposite parity → cross-batch), 4 = revisit
    * of a digest no response carries (stays pending forever — absent
    * from the output by design).
    */
  private[graft] object RevisitStreamFixture {
    import graft.sources.WarcIo
    def dir(s: SparkSession, sfDir: String): String =
      BuildOnce.dir("warc_rvstream", sfDir) { out =>
        Tables.read(s, sfDir, "documents").select(col("doc_id"))
          .repartition(2, pmod(col("doc_id"), lit(2L)))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            if (it.hasNext) {
              val ascii = java.nio.charset.StandardCharsets.US_ASCII
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val fos = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$out/part-$pid.warc.gz"), 1 << 16)
              try it.foreach { r =>
                val id = r.getLong(0)
                val rid = s"urn:graft:rv:$id"
                val (isResp, refDig) = (id % 5) match {
                  case 0 | 1 => (true, s"sha1:R$id")
                  case 2     => (false, s"sha1:R${id - 1}")
                  case 3     => (false, s"sha1:R${id + 3}")
                  case _     => (false, s"sha1:MISSING$id")
                }
                val body =
                  (if (isResp) s"rvbody-$id" else "").getBytes(ascii)
                val http = (s"HTTP/1.1 ${if (isResp) "200 OK"
                  else "304 Not Modified"}\r\nContent-Type: text/plain\r\n" +
                  s"Content-Length: ${body.length}\r\n\r\n").getBytes(ascii) ++
                  body
                WarcIo.writeRecordGzip(fos,
                  if (isResp) "response" else "revisit", rid,
                  "2026-04-01T00:00:00Z", s"https://rv.example/p$id",
                  "application/http;msgtype=response", http,
                  extraHeaders = Seq("WARC-Payload-Digest" -> refDig) ++
                    (if (isResp) Nil else Seq("WARC-Profile" ->
                      "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")))
              } finally fos.close()
              ()
            }
          }
      }
  }

  /** HTTP wire framings the q180 fixture stores verbatim, built
    * executor-side as record-per-gzip-member segments: per doc_id % 5
    * — plain, chunked (7-byte chunks, a chunk extension, trailers),
    * Content-Encoding gzip, chunked OVER gzip (decode order matters),
    * and RAW deflate (the broken-server form the zlib-first fallback
    * must catch); every 13th doc declares gzip over garbage bytes —
    * the quarantine case (payload_decoded = false, raw bytes kept).
    */
  private[graft] object HttpDecodeFixture {
    import graft.sources.WarcIo
    def textOf(id: Long): String = s"payload-$id-" + "x" * (id % 50).toInt
    def dir(s: SparkSession, sfDir: String): String =
      BuildOnce.dir("warc_http", sfDir) { out =>
        val rows = Tables.read(s, sfDir, "documents").select(col("doc_id"))
          .repartition(4, pmod(col("doc_id"), lit(4L)))
        rows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val ascii = java.nio.charset.StandardCharsets.US_ASCII
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val fos = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(s"$out/part-$pid.warc.gz"), 1 << 16)
            def gzipBytes(b: Array[Byte]): Array[Byte] = {
              val bo = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bo)
              gz.write(b); gz.close(); bo.toByteArray
            }
            def rawDeflate(b: Array[Byte]): Array[Byte] = {
              val d = new java.util.zip.Deflater(
                java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
              d.setInput(b); d.finish()
              val bo = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](4096)
              while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
              d.end(); bo.toByteArray
            }
            def chunked(b: Array[Byte]): Array[Byte] = {
              val bo = new java.io.ByteArrayOutputStream()
              var i = 0; var first = true
              while (i < b.length) {
                val n = math.min(7, b.length - i)
                val ext = if (first) ";graft=1" else ""
                bo.write(s"${n.toHexString}$ext\r\n".getBytes(ascii))
                bo.write(b, i, n); bo.write("\r\n".getBytes(ascii))
                i += n; first = false
              }
              bo.write("0\r\nX-Trailer: t\r\n\r\n".getBytes(ascii))
              bo.toByteArray
            }
            try it.foreach { r =>
              val id = r.getLong(0)
              val text = textOf(id).getBytes(ascii)
              val (hdrs, body) =
                if (id % 13 == 0)
                  ("Content-Encoding: gzip\r\n",
                    s"NOTGZIP-$id".getBytes(ascii))
                else (id % 5) match {
                  case 1 => ("Transfer-Encoding: chunked\r\n", chunked(text))
                  case 2 => ("Content-Encoding: gzip\r\n", gzipBytes(text))
                  case 3 => ("Transfer-Encoding: chunked\r\n" +
                    "Content-Encoding: gzip\r\n", chunked(gzipBytes(text)))
                  case 4 => ("Content-Encoding: deflate\r\n", rawDeflate(text))
                  case _ => ("", text)
                }
              val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
                hdrs + s"Content-Length: ${body.length}\r\n\r\n").getBytes(ascii) ++ body
              WarcIo.writeRecordGzip(fos, "response",
                f"urn:graft:http:$id", s"2026-03-01T00:00:00Z",
                s"https://e.example/p$id",
                "application/http;msgtype=response", http,
                // every 17th fetch was length-capped by the crawler
                extraHeaders = if (id % 17 == 0)
                  Seq("WARC-Truncated" -> "length") else Nil)
            } finally fos.close()
            ()
          }
        }
      }
  }

  /** HTTP entity decoding at the WARC read seam: chunked framing
    * removed (extensions and trailers walked), gzip/deflate
    * content-encodings decompressed (raw deflate via the fallback),
    * chunked-over-gzip in the right order, and declared-but-corrupt
    * encodings quarantined with `payload_decoded = false` and raw
    * bytes kept. The oracle reconstructs every decoded payload and
    * the honesty flag analytically.
    */
  val q180_http_decode = QueryDef(
    "q180_http_decode",
    (s, d) => {
      val dir = HttpDecodeFixture.dir(s, d)
      s.read.format("warc").load(dir)
        .select(col("record_id"),
          md5(col("payload")).as("payload_md5"), col("payload_len"),
          col("payload_decoded").cast("int").as("payload_decoded"),
          col("http_status"), col("truncated"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          'payload-' || CAST(doc_id AS VARCHAR) || '-'
            || repeat('x', CAST(doc_id % 50 AS INT)) AS t
        FROM documents)
      SELECT 'urn:graft:http:' || CAST(id AS VARCHAR) AS record_id,
        md5(CASE WHEN id % 13 = 0 THEN 'NOTGZIP-' || CAST(id AS VARCHAR)
          ELSE t END) AS payload_md5,
        CAST(strlen(CASE WHEN id % 13 = 0
          THEN 'NOTGZIP-' || CAST(id AS VARCHAR) ELSE t END) AS BIGINT)
          AS payload_len,
        CAST(CASE WHEN id % 13 = 0 THEN 0 ELSE 1 END AS INT)
          AS payload_decoded,
        CAST(200 AS INT) AS http_status,
        CASE WHEN id % 17 = 0 THEN 'length' ELSE NULL END AS truncated
      FROM p"""),
  )

  /** Ogg container metadata (Opus + Vorbis) — the open-web audio gate
    * signal closing the container family (WAV q114, MP4 q159/q168,
    * MP3 q164, FLAC q177): per-doc streams alternate codec, vary
    * channels/rate/pre-skip/page count/granule step, every 10th doc
    * truncates mid-final-page (the walk keeps the playable prefix,
    * `complete` goes 0 — honest truncation, not an error), every 13th
    * is not Ogg at all (full null). Duration is granule arithmetic —
    * Opus at 48 kHz minus pre-skip, Vorbis at the stream rate — and
    * every page's RFC 3533 CRC is verified in the walk. Byte grammar
    * pinned in OggSpec.
    */
  val q181_ogg_meta = QueryDef(
    "q181_ogg_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "a") { id =>
        val codec = if (id % 2 == 0) "opus" else "vorbis"
        val rate = Array(48000, 44100, 16000, 11025)((id % 4).toInt)
        val full = graft.ops.Ogg.build(codec,
          channels = (id % 3 + 1).toInt, sampleRate = rate,
          preSkip = (312 + id % 100).toInt, serial = 7 + id,
          dataPages = (3 + id % 9).toInt,
          granulePerPage = 960L * (1 + id % 4))
        if (id % 13 == 0) full.take(3)
        else if (id % 10 == 0) full.dropRight(5)
        else full
      }
      graft.ops.Ogg.audioMeta(withBytes, "a")
        .select(col("doc_id"),
          col("a_ogg.codec").as("codec"),
          col("a_ogg.channels").as("channels"),
          col("a_ogg.sample_rate").as("sample_rate"),
          col("a_ogg.pre_skip").as("pre_skip"),
          col("a_ogg.n_pages").as("n_pages"),
          col("a_ogg.granule_last").as("granule_last"),
          col("a_ogg.duration_ms").as("duration_ms"),
          col("a_ogg.serial").as("serial"),
          col("a_ogg.complete").cast("int").as("complete"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
          doc_id % 3 + 1 AS ch,
          CASE doc_id % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100
            WHEN 2 THEN 16000 ELSE 11025 END AS rate,
          312 + doc_id % 100 AS skp,
          3 + doc_id % 9 AS dpages,
          960 * (1 + doc_id % 4) AS gpp,
          doc_id % 13 = 0 AS cut,
          doc_id % 10 = 0 AND doc_id % 13 <> 0 AS trunc
        FROM documents),
      c AS (SELECT *, CASE WHEN trunc THEN dpages - 1 ELSE dpages END AS dp
        FROM p)
      SELECT id AS doc_id,
        CASE WHEN cut THEN NULL ELSE codec END AS codec,
        CAST(CASE WHEN cut THEN NULL ELSE ch END AS INT) AS channels,
        CAST(CASE WHEN cut THEN NULL ELSE rate END AS INT) AS sample_rate,
        CAST(CASE WHEN cut OR codec = 'vorbis' THEN NULL ELSE skp END AS INT)
          AS pre_skip,
        CAST(CASE WHEN cut THEN NULL ELSE 2 + dp END AS INT) AS n_pages,
        CAST(CASE WHEN cut THEN NULL
          WHEN codec = 'opus' THEN gpp * dp + skp
          ELSE gpp * dp END AS BIGINT) AS granule_last,
        CAST(CASE WHEN cut THEN NULL
          WHEN codec = 'opus' THEN (gpp * dp) * 1000 // 48000
          ELSE (gpp * dp) * 1000 // rate END AS BIGINT) AS duration_ms,
        CAST(CASE WHEN cut THEN NULL ELSE 7 + id END AS BIGINT) AS serial,
        CAST(CASE WHEN cut THEN NULL WHEN trunc THEN 0 ELSE 1 END AS INT)
          AS complete
      FROM c"""),
  )

  /** PDF document metadata — the non-HTML document gate signal: page
    * count via trailer /Root → /Pages → /Count, /Encrypt PRESENCE
    * (the drop/route flag a curation pipeline needs before any
    * decryption), /Info provenance strings in BOTH spellings (literal
    * and hex), across BOTH cross-reference machineries — the classic
    * 20-byte table and the v1.5 xref STREAM (FlateDecode, with the
    * PNG-Up /Predictor 12 form real writers emit). Every 11th doc
    * tears its startxref (version survives, the rest nulls — honest
    * degradation, encryption reports UNKNOWN not false) and every
    * 13th is not a PDF at all. Object grammar pinned in PdfSpec.
    */
  val q182_pdf_meta = QueryDef(
    "q182_pdf_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "doc") { id =>
        val base = graft.ops.Pdf.build(
          version = "1." + (4 + id % 4),
          nPages = (1 + id % 12).toInt,
          title = "T" + id, author = "A" + (id % 9),
          producer = "graft " + (id % 3),
          xrefStream = id % 2 == 1, predictor = id % 4 == 3,
          encrypted = id % 7 == 0, hexTitle = id % 5 == 0)
        // every id % 3 == 2: a save-in-place update replaces /Info —
        // the /Prev chain must surface the NEW strings over the old
        // bytes (appenders write classic tables even on stream bases)
        val full =
          if (id % 3 == 2) graft.ops.Pdf.buildIncremental(base, "U" + id)
          else base
        if (id % 13 == 0) full.take(2)
        else if (id % 11 == 0) {
          val str = new String(full, "ISO-8859-1")
          (str.substring(0, str.lastIndexOf("startxref")) +
            "startxref\n999999999\n%%EOF\n").getBytes("ISO-8859-1")
        } else full
      }
      graft.ops.Pdf.docMeta(withBytes, "doc")
        .select(col("doc_id"),
          col("doc_pdf.version").as("version"),
          col("doc_pdf.n_pages").as("n_pages"),
          col("doc_pdf.n_objects").as("n_objects"),
          col("doc_pdf.xref_kind").as("xref_kind"),
          col("doc_pdf.encrypted").cast("int").as("encrypted"),
          col("doc_pdf.title").as("title"),
          col("doc_pdf.author").as("author"),
          col("doc_pdf.producer").as("producer"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          '1.' || CAST(4 + doc_id % 4 AS VARCHAR) AS ver,
          1 + doc_id % 12 AS np,
          doc_id % 7 = 0 AS enc,
          doc_id % 2 = 1 AS strm,
          doc_id % 3 = 2 AS incr,
          doc_id % 13 = 0 AS cut,
          doc_id % 11 = 0 AND doc_id % 13 <> 0 AS torn
        FROM documents)
      SELECT id AS doc_id,
        CASE WHEN cut THEN NULL ELSE ver END AS version,
        CAST(CASE WHEN cut OR torn THEN NULL ELSE np END AS INT) AS n_pages,
        CAST(CASE WHEN cut OR torn THEN NULL
          ELSE 4 + np + CASE WHEN enc THEN 1 ELSE 0 END
            + CASE WHEN strm THEN 1 ELSE 0 END END AS INT) AS n_objects,
        CASE WHEN cut OR torn THEN NULL
          WHEN incr THEN 'table'
          WHEN strm THEN 'stream' ELSE 'table' END AS xref_kind,
        CAST(CASE WHEN cut OR torn THEN NULL
          WHEN enc THEN 1 ELSE 0 END AS INT) AS encrypted,
        CASE WHEN cut OR torn THEN NULL
          WHEN incr THEN 'U' || CAST(id AS VARCHAR)
          ELSE 'T' || CAST(id AS VARCHAR) END AS title,
        CASE WHEN cut OR torn THEN NULL
          WHEN incr THEN 'updated'
          ELSE 'A' || CAST(id % 9 AS VARCHAR) END AS author,
        CASE WHEN cut OR torn THEN NULL
          WHEN incr THEN 'graft-incr'
          ELSE 'graft ' || CAST(id % 3 AS VARCHAR) END AS producer
      FROM p"""),
  )

  /** ZIP container routing — the modern-document envelope: per doc_id
    * % 5 a plain archive (varying entry count), an EPUB (stored
    * `mimetype` read back through the local header), a DOCX and a JAR
    * (evidence-chain kinds), and an archive with an encrypted-flagged
    * member (flag surfaced, nothing decrypted); every 9th forces the
    * zip64 EOCD64/locator path and every 13th is not a ZIP. Declared
    * sizes, kinds, flags, and the epub self-declaration all
    * reconstruct analytically; byte layout + member reads (stored and
    * raw-deflate) are pinned in ZipSpec.
    */
  val q183_zip_meta = QueryDef(
    "q183_zip_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "z") { id =>
        def b(x: String) = x.getBytes("UTF-8")
        val members: Seq[(String, Array[Byte], Int, Boolean)] =
          (id % 5) match {
            case 0 => (0 until (2 + id % 4).toInt).map(i =>
              (s"e$i.txt", b(s"c$i-$id" + "y" * (id % 20).toInt), 8, false))
            case 1 => Seq(
              ("mimetype", b("application/epub+zip"), 0, false),
              ("META-INF/container.xml", b(s"<container id=$id/>"), 8,
                false),
              ("OEBPS/ch1.xhtml", b(s"<html>$id</html>"), 8, false))
            case 2 => Seq(
              ("[Content_Types].xml", b(s"""<Types id="$id"/>"""), 8,
                false),
              ("word/document.xml", b(s"<w:doc>$id</w:doc>"), 8, false))
            case 3 => Seq(
              ("META-INF/MANIFEST.MF",
                b(s"Manifest-Version: 1.0\nBuilt-By: $id\n"), 8, false),
              ("com/x/A.class", b(s"CAFEBABE$id"), 0, false))
            case _ => Seq(
              ("data.bin", b(s"d-$id"), 8, false),
              ("secret.bin", b(s"s-$id"), 0, true))
          }
        val full = graft.ops.Zip.build(members, forceZip64 = id % 9 == 0)
        if (id % 13 == 0) full.take(4) else full
      }
      graft.ops.Zip.containerMeta(withBytes, "z")
        .select(col("doc_id"),
          col("z_zip.n_entries").as("n_entries"),
          col("z_zip.total_uncomp").as("total_uncomp"),
          col("z_zip.kind").as("kind"),
          col("z_zip.encrypted").cast("int").as("encrypted"),
          col("z_zip.zip64").cast("int").as("zip64"),
          col("z_zip.mimetype").as("mimetype"))
    },
    Some("""WITH p AS (SELECT doc_id AS id, doc_id % 5 AS kind,
          2 + doc_id % 4 AS k, doc_id % 9 = 0 AS z64, doc_id % 13 = 0 AS cut
        FROM documents),
      c AS (SELECT *,
        CASE kind WHEN 0 THEN k WHEN 1 THEN 3 ELSE 2 END AS ne,
        CASE kind
          WHEN 0 THEN CAST(list_sum([strlen('c' || CAST(i AS VARCHAR)
              || '-' || CAST(id AS VARCHAR)) + id % 20
            for i in generate_series(0, CAST(k - 1 AS INT))]) AS BIGINT)
          WHEN 1 THEN 20
            + strlen('<container id=' || CAST(id AS VARCHAR) || '/>')
            + strlen('<html>' || CAST(id AS VARCHAR) || '</html>')
          WHEN 2 THEN strlen('<Types id="' || CAST(id AS VARCHAR) || '"/>')
            + strlen('<w:doc>' || CAST(id AS VARCHAR) || '</w:doc>')
          WHEN 3 THEN strlen('Manifest-Version: 1.0' || chr(10)
              || 'Built-By: ' || CAST(id AS VARCHAR) || chr(10))
            + strlen('CAFEBABE' || CAST(id AS VARCHAR))
          ELSE strlen('d-' || CAST(id AS VARCHAR))
            + strlen('s-' || CAST(id AS VARCHAR)) END AS tu
        FROM p)
      SELECT id AS doc_id,
        CAST(CASE WHEN cut THEN NULL ELSE ne END AS INT) AS n_entries,
        CAST(CASE WHEN cut THEN NULL ELSE tu END AS BIGINT) AS total_uncomp,
        CASE WHEN cut THEN NULL
          WHEN kind = 1 THEN 'epub' WHEN kind = 2 THEN 'docx'
          WHEN kind = 3 THEN 'jar' ELSE 'zip' END AS kind,
        CAST(CASE WHEN cut THEN NULL WHEN kind = 4 THEN 1 ELSE 0 END AS INT)
          AS encrypted,
        CAST(CASE WHEN cut THEN NULL WHEN z64 THEN 1 ELSE 0 END AS INT)
          AS zip64,
        CASE WHEN cut OR kind <> 1 THEN NULL
          ELSE 'application/epub+zip' END AS mimetype
      FROM c"""),
  )

  /** ID3v2 text frames — audio provenance the q164 walk skips by
    * size: title/artist/album/year through BOTH tag versions (v2.3
    * plain-u32 frame sizes + TYER, v2.4 syncsafe + TDRC) and all four
    * text encodings (Latin-1, UTF-16+BOM, UTF-16BE, UTF-8), with
    * varying padding. The declared tag size reconstructs from the
    * ENCODING BYTE MATH — chars vs bytes per encoding — so a
    * one-byte framing error anywhere breaks the hash. Every 11th doc
    * is untagged audio and every 13th a torn header, both honest
    * nulls. Byte grammar pinned in Id3Spec.
    */
  val q184_id3_tags = QueryDef(
    "q184_id3_tags",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "a") { id =>
        val version = if (id % 2 == 0) 4 else 3
        val encId = if (version == 3) (id % 3).toInt else (id % 4).toInt
        val full = graft.ops.Id3.build(version,
          title = s"Song é$id", artist = "Artist" + (id % 7),
          album = "Album" + (id % 5), year = (1970 + id % 50).toString,
          enc = encId, audio = Array.fill[Byte]((id % 10).toInt)(0x55),
          padding = (id % 30).toInt)
        if (id % 13 == 0) full.take(6)
        else if (id % 11 == 0) Array.fill[Byte](32)(0x55)
        else full
      }
      graft.ops.Id3.tagMeta(withBytes, "a")
        .select(col("doc_id"),
          col("a_id3.version").as("version"),
          col("a_id3.tag_bytes").as("tag_bytes"),
          col("a_id3.title").as("title"),
          col("a_id3.artist").as("artist"),
          col("a_id3.album").as("album"),
          col("a_id3.year").as("year"),
          col("a_id3.n_frames").as("n_frames"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS ver,
          CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 ELSE doc_id % 3 END
            AS enc,
          'Song é' || CAST(doc_id AS VARCHAR) AS t,
          'Artist' || CAST(doc_id % 7 AS VARCHAR) AS ar,
          'Album' || CAST(doc_id % 5 AS VARCHAR) AS al,
          CAST(1970 + doc_id % 50 AS VARCHAR) AS yr,
          doc_id % 30 AS pad,
          doc_id % 13 = 0 OR doc_id % 11 = 0 AS cut
        FROM documents),
      c AS (SELECT *,
        -- text bytes by encoding: 0 Latin-1 = chars, 1 UTF-16+BOM =
        -- 2 + 2*chars, 2 UTF-16BE = 2*chars, 3 UTF-8 = bytes
        CASE enc WHEN 0 THEN length(t) WHEN 1 THEN 2 + 2 * length(t)
          WHEN 2 THEN 2 * length(t) ELSE strlen(t) END
        + CASE enc WHEN 0 THEN length(ar) WHEN 1 THEN 2 + 2 * length(ar)
          WHEN 2 THEN 2 * length(ar) ELSE strlen(ar) END
        + CASE enc WHEN 0 THEN length(al) WHEN 1 THEN 2 + 2 * length(al)
          WHEN 2 THEN 2 * length(al) ELSE strlen(al) END
        + CASE enc WHEN 0 THEN length(yr) WHEN 1 THEN 2 + 2 * length(yr)
          WHEN 2 THEN 2 * length(yr) ELSE strlen(yr) END AS textb
        FROM p)
      SELECT id AS doc_id,
        CAST(CASE WHEN cut THEN NULL ELSE ver END AS INT) AS version,
        CAST(CASE WHEN cut THEN NULL
          ELSE 10 + 4 * 11 + textb + pad END AS INT) AS tag_bytes,
        CASE WHEN cut THEN NULL ELSE t END AS title,
        CASE WHEN cut THEN NULL ELSE ar END AS artist,
        CASE WHEN cut THEN NULL ELSE al END AS album,
        CASE WHEN cut THEN NULL ELSE yr END AS year,
        CAST(CASE WHEN cut THEN NULL ELSE 4 END AS INT) AS n_frames
      FROM c"""),
  )

  /** Content triage over a MIXED binary column — the composition gate
    * for the whole format family: per doc_id % 9 a JPEG, a PDF, a
    * ZIP, an ID3-TAGGED MP3 (the router must surface the tag's title
    * AND the stream's duration — [[graft.ops.Id3]] and
    * [[graft.ops.Mpeg]] composing on one buffer), a FLAC, an Ogg
    * Opus, a PNG (the ai-generator flag as label), a GIF (frame
    * count), and plain UTF-8 text, all routed by magic sniff into one
    * flat (kind, qty1, qty2, label) row. The mp3 average-bitrate
    * oracle carries the 417-byte-frame floor arithmetic end to end.
    */
  val q185_content_route = QueryDef(
    "q185_content_route",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "c") { id =>
        (id % 9) match {
          case 0 => graft.ops.Exif.build(640 + (id % 5).toInt * 8, 480,
            orientation = 1, make = "Make" + (id % 5), model = "M",
            dtOrig = "2020:01:01 00:00:00", pixelW = 9, pixelH = 9,
            iso = 100, gps = false, littleEndian = true)
          case 1 => graft.ops.Pdf.build("1.7", (1 + id % 6).toInt,
            "T", "A", "P" + (id % 3))
          case 2 => graft.ops.Zip.build((0 until (1 + id % 3).toInt).map(
            i => (s"e$i.txt", s"z$i-$id".getBytes("UTF-8"), 8, false)))
          case 3 => graft.ops.Id3.build(4, "T" + id, "A", "B", "2000",
            enc = 0, audio = graft.ops.Mpeg.build((10 + id % 5).toInt,
              samplerateIdx = 0, bitrateIdx = 9))
          case 4 => graft.ops.Flac.build(44100, 2, 16,
            44100L * (1 + id % 4))
          case 5 => graft.ops.Ogg.build("opus", (id % 2 + 1).toInt,
            48000, preSkip = 0, serial = 1L,
            dataPages = (2 + id % 3).toInt, granulePerPage = 960L)
          case 6 => graft.ops.Png.build(100 + (id % 7).toInt, 50,
            texts = if (id % 2 == 0) Seq("parameters" -> "p") else Nil)
          case 7 => graft.ops.Gif.build(80, 60, (1 + id % 4).toInt)
          case _ => s"text-$id é".getBytes("UTF-8")
        }
      }
      graft.ops.ContentRouter.routeMeta(withBytes, "c")
        .select(col("doc_id"),
          col("c_route.kind").as("kind"),
          col("c_route.qty1").as("qty1"),
          col("c_route.qty2").as("qty2"),
          col("c_route.label").as("label"))
    },
    Some("""WITH p AS (SELECT doc_id AS id, doc_id % 9 AS kind
        FROM documents)
      SELECT id AS doc_id,
        CASE kind WHEN 0 THEN 'jpeg' WHEN 1 THEN 'pdf' WHEN 2 THEN 'zip'
          WHEN 3 THEN 'mp3' WHEN 4 THEN 'flac' WHEN 5 THEN 'ogg'
          WHEN 6 THEN 'png' WHEN 7 THEN 'gif'
          ELSE 'text' END AS kind,
        CAST(CASE kind
          WHEN 0 THEN 640 + (id % 5) * 8
          WHEN 1 THEN 1 + id % 6
          WHEN 2 THEN 1 + id % 3
          WHEN 3 THEN (10 + id % 5) * 1152 * 1000 // 44100
          WHEN 4 THEN (1 + id % 4) * 1000
          WHEN 5 THEN 960 * (2 + id % 3) * 1000 // 48000
          WHEN 6 THEN 100 + id % 7
          WHEN 7 THEN 1 + id % 4
          ELSE strlen('text-' || CAST(id AS VARCHAR) || ' é')
          END AS BIGINT) AS qty1,
        CAST(CASE kind
          WHEN 0 THEN 480
          WHEN 1 THEN 5 + id % 6
          WHEN 2 THEN CAST(list_sum([strlen('z' || CAST(i AS VARCHAR)
              || '-' || CAST(id AS VARCHAR))
            for i in generate_series(0, CAST(id % 3 AS INT))]) AS BIGINT)
          WHEN 3 THEN ((144000 * 128 // 44100) * 8 * 44100)
            // (1152 * 1000)
          WHEN 4 THEN 44100
          WHEN 5 THEN id % 2 + 1
          WHEN 6 THEN 50
          WHEN 7 THEN 0
          ELSE NULL END AS BIGINT) AS qty2,
        CASE kind
          WHEN 0 THEN 'Make' || CAST(id % 5 AS VARCHAR)
          WHEN 1 THEN 'P' || CAST(id % 3 AS VARCHAR)
          WHEN 2 THEN 'zip'
          WHEN 3 THEN 'T' || CAST(id AS VARCHAR)
          WHEN 5 THEN 'opus'
          WHEN 6 THEN CASE WHEN id % 2 = 0 THEN 'ai' END
          ELSE NULL END AS label
      FROM p"""),
  )

  /** Subtitle cues — the transcript layer of a video corpus: per-doc
    * SRT (comma stamps, numeric indexes) or WebVTT (header metadata,
    * NOTE blocks, cue ids, settings after the arrow) with inline
    * markup stripped from the text; every 13th doc is not subtitles
    * at all (honest null). Cue timing (speech density), the stripped
    * transcript's md5, and char counts all reconstruct analytically —
    * the oracle string_aggs the per-cue text in cue order. Grammar
    * pinned in SubtitlesSpec.
    */
  val q186_subtitles = QueryDef(
    "q186_subtitles",
    (s, d) => {
      val withText = payloads(docIds(s, d), "t", org.apache.spark.sql.types.StringType) { id =>
        val vtt = id % 2 == 0
        val n = (2 + id % 6).toInt
        def stamp(ms: Long, sep: String): String = {
          val h = ms / 3600000; val m = ms / 60000 % 60
          val sec = ms / 1000 % 60; val f = ms % 1000
          f"$h%02d:$m%02d:$sec%02d$sep$f%03d"
        }
        val sep = if (vtt) "." else ","
        val sb = new StringBuilder()
        if (vtt) sb.append("WEBVTT - graft\nKind: captions\n\n")
          .append("NOTE\nsynthetic fixture\n\n")
        (0 until n).foreach { i =>
          val a = 4000L * i + id % 1000
          val b = a + 1500 + (i % 3) * 500
          if (vtt) sb.append(s"c$i\n")
          else sb.append(s"${i + 1}\n")
          sb.append(stamp(a, sep)).append(" --> ").append(stamp(b, sep))
          if (vtt) sb.append(" align:start")
          sb.append('\n')
          sb.append(s"w$i <i>x$i</i>\n\n")
        }
        if (id % 13 == 0) "not subtitles\nat all" else sb.toString
      }
      graft.ops.Subtitles.cueMeta(withText, "t")
        .select(col("doc_id"),
          col("t_subs.kind").as("kind"),
          col("t_subs.n_cues").as("n_cues"),
          col("t_subs.first_start_ms").as("first_start_ms"),
          col("t_subs.last_end_ms").as("last_end_ms"),
          col("t_subs.speech_ms").as("speech_ms"),
          col("t_subs.text_md5").as("text_md5"),
          col("t_subs.text_chars").as("text_chars"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          doc_id % 2 = 0 AS vtt,
          CAST(2 + doc_id % 6 AS INT) AS n,
          doc_id % 1000 AS base,
          doc_id % 13 = 0 AS cut
        FROM documents),
      cue AS (SELECT id, unnest(generate_series(0, n - 1)) AS i FROM p),
      txt AS (SELECT id,
          md5(string_agg('w' || CAST(i AS VARCHAR) || ' x'
            || CAST(i AS VARCHAR), chr(10) ORDER BY i)) AS m,
          CAST(SUM(3 + 2 * strlen(CAST(i AS VARCHAR))) AS BIGINT) AS chars,
          CAST(SUM(1500 + (i % 3) * 500) AS BIGINT) AS speech
        FROM cue GROUP BY id)
      SELECT id AS doc_id,
        CASE WHEN cut THEN NULL WHEN vtt THEN 'vtt' ELSE 'srt' END AS kind,
        CAST(CASE WHEN cut THEN NULL ELSE n END AS INT) AS n_cues,
        CAST(CASE WHEN cut THEN NULL ELSE base END AS BIGINT)
          AS first_start_ms,
        CAST(CASE WHEN cut THEN NULL
          ELSE 4000 * (n - 1) + base + 1500 + ((n - 1) % 3) * 500
          END AS BIGINT) AS last_end_ms,
        CAST(CASE WHEN cut THEN NULL ELSE speech END AS BIGINT)
          AS speech_ms,
        CASE WHEN cut THEN NULL ELSE m END AS text_md5,
        CAST(CASE WHEN cut THEN NULL ELSE chars END AS BIGINT)
          AS text_chars
      FROM p JOIN txt USING (id)"""),
  )

  /** RSS/Atom feed parsing — the freshness-bearing discovery source
    * next to sitemaps (q160): per-doc feeds alternate grammar, and
    * the gate pins the places they differ — RSS links as ELEMENT TEXT
    * + pubDate vs Atom links as href ATTRIBUTES + published/updated
    * precedence — plus CDATA-wrapped titles, absent titles as honest
    * nulls, and a commented-out entry that must not surface. Pure
    * codegen'd regexp Columns end to end (the q160 idiom); the
    * fixture is built as Columns too, so the whole query stays inside
    * whole-stage codegen.
    */
  val q187_feed_parse = QueryDef(
    "q187_feed_parse",
    (s, d) => {
      val did = col("doc_id")
      val host = concat(lit("https://f"), pmod(did, lit(9L)).cast("string"),
        lit(".example/p/"), did.cast("string"), lit("/"))
      val stamp = (i: org.apache.spark.sql.Column) =>
        (pmod(i, lit(9L)) + 1).cast("string")
      val rssItems = transform(sequence(lit(0L), pmod(did, lit(5L))), i =>
        concat(lit("\n<item>"),
          when((did + i) % 7 === 0, lit(""))
            .otherwise(when((did + i) % 4 === 0,
              concat(lit("<title><![CDATA[Title "), did.cast("string"),
                lit("-"), i.cast("string"), lit("]]></title>")))
              .otherwise(concat(lit("<title>Title "), did.cast("string"),
                lit("-"), i.cast("string"), lit("</title>")))),
          lit("<link>"), host, i.cast("string"), lit("</link>"),
          when((did + i) % 3 === 0,
            concat(lit("<pubDate>Mon, 0"), stamp(i),
              lit(" Jan 2026 00:00:00 GMT</pubDate>")))
            .otherwise(lit("")),
          lit("</item>")))
      val atomEntries = transform(sequence(lit(0L), pmod(did, lit(5L))), i =>
        concat(lit("\n<entry>"),
          when((did + i) % 7 === 0, lit(""))
            .otherwise(concat(lit("<title type=\"text\">Title "),
              did.cast("string"), lit("-"), i.cast("string"),
              lit("</title>"))),
          lit("<link rel=\"alternate\" href=\""), host, i.cast("string"),
          lit("\"/>"),
          when((did + i) % 3 === 0,
            concat(lit("<published>2026-02-0"), stamp(i),
              lit("</published>")))
            .otherwise(concat(lit("<updated>2026-01-0"), stamp(i),
              lit("</updated>"))),
          lit("</entry>")))
      val trap = lit("\n<!-- <item><link>https://fake.example/no</link>" +
        "</item><entry><link href=\"https://fake.example/no\"/></entry> -->")
      val xml = when(did % 2 === 1,
        concat(lit("<?xml version=\"1.0\"?>\n<rss version=\"2.0\"><channel>"),
          trap, array_join(rssItems, ""), lit("\n</channel></rss>")))
        .otherwise(
          concat(lit("<?xml version=\"1.0\"?>\n<feed " +
            "xmlns=\"http://www.w3.org/2005/Atom\">"), trap,
            array_join(atomEntries, ""), lit("\n</feed>")))
      // spread the feed XML build + parse (the exchange carries one
      // long per row)
      Barrier.spread(Tables.read(s, d, "documents").select(did))
        .select(did,
          graft.ops.Feed.feedKind(xml).as("kind"),
          graft.ops.Feed.feedEntries(xml).as("__es"))
        .select(col("doc_id"), col("kind"),
          posexplode(col("__es")).as(Seq("idx", "e")))
        .select(col("doc_id"), col("kind"), col("idx").cast("long").as("idx"),
          col("e.link").as("link"), col("e.title").as("title"),
          col("e.published").as("published"))
    },
    Some("""WITH e AS (SELECT doc_id,
          unnest(generate_series(0, CAST(doc_id % 5 AS INT))) AS i
        FROM documents)
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 1 THEN 'rss' ELSE 'atom' END AS kind,
        CAST(i AS BIGINT) AS idx,
        'https://f' || CAST(doc_id % 9 AS VARCHAR) || '.example/p/'
          || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR) AS link,
        CASE WHEN (doc_id + i) % 7 = 0 THEN NULL
          ELSE 'Title ' || CAST(doc_id AS VARCHAR) || '-'
            || CAST(i AS VARCHAR) END AS title,
        CASE WHEN doc_id % 2 = 1 THEN
          CASE WHEN (doc_id + i) % 3 = 0 THEN 'Mon, 0'
            || CAST((i % 9) + 1 AS VARCHAR) || ' Jan 2026 00:00:00 GMT' END
        ELSE
          CASE WHEN (doc_id + i) % 3 = 0
            THEN '2026-02-0' || CAST((i % 9) + 1 AS VARCHAR)
            ELSE '2026-01-0' || CAST((i % 9) + 1 AS VARCHAR) END
        END AS published
      FROM e"""),
  )

  /** PNG chunk metadata — provenance the pixel decode cannot see:
    * per-doc PNGs vary dimensions/depth/color/interlace, pHYs DPI,
    * APNG animation (a "PNG" that is a video — a routing signal),
    * eXIf presence, and text chunks in BOTH spellings (tEXt and
    * uncompressed iTXt), including the AI-generator keys
    * (`parameters`) that flag synthetic images in a modern crawl.
    * Every chunk's CRC32 verifies in the walk; every 11th doc tears
    * its tail (chunks before the cut kept, complete = 0) and every
    * 13th is not a PNG. Byte grammar pinned in PngSpec.
    */
  val q188_png_meta = QueryDef(
    "q188_png_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "img") { id =>
        val (depth, color) = (id % 4) match {
          case 1 => (16, 2); case 3 => (8, 3); case _ => (8, 6)
        }
        val texts =
          (if (id % 2 == 0) Seq("Software" -> s"graft ${id % 4}")
           else Seq.empty) ++
          (if (id % 9 == 0) Seq("parameters" -> s"prompt p$id")
           else Seq.empty)
        val full = graft.ops.Png.build(
          width = 64 + (id % 50).toInt * 4, height = 64 + (id % 30).toInt * 4,
          bitDepth = depth, colorType = color, interlaced = id % 6 == 0,
          dpi = if (id % 3 == 0) Array(72, 96, 150, 300)((id % 4).toInt)
            else -1,
          animFrames = if (id % 7 == 0) (2 + id % 5).toInt else -1,
          exif = id % 5 == 0, texts = texts, itxt = id % 8 == 0)
        if (id % 13 == 0) full.take(10)
        else if (id % 11 == 0) full.dropRight(5)
        else full
      }
      graft.ops.Png.imageMeta(withBytes, "img")
        .select(col("doc_id"),
          col("img_png.width").as("width"),
          col("img_png.height").as("height"),
          col("img_png.bit_depth").as("bit_depth"),
          col("img_png.color_type").as("color_type"),
          col("img_png.interlaced").cast("int").as("interlaced"),
          col("img_png.n_chunks").as("n_chunks"),
          col("img_png.animated").cast("int").as("animated"),
          col("img_png.n_frames").as("n_frames"),
          col("img_png.dpi").as("dpi"),
          col("img_png.has_exif").cast("int").as("has_exif"),
          array_join(col("img_png.text_keys"), "|").as("keys_s"),
          array_join(col("img_png.text_values"), "|", "?").as("vals_s"),
          col("img_png.ai_generated").cast("int").as("ai_generated"),
          col("img_png.complete").cast("int").as("complete"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          doc_id % 13 = 0 AS cut,
          doc_id % 11 = 0 AND doc_id % 13 <> 0 AS torn,
          CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS ntexts,
          CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS extras
        FROM documents)
      SELECT id AS doc_id,
        CAST(CASE WHEN cut THEN NULL ELSE 64 + (id % 50) * 4 END AS INT)
          AS width,
        CAST(CASE WHEN cut THEN NULL ELSE 64 + (id % 30) * 4 END AS INT)
          AS height,
        CAST(CASE WHEN cut THEN NULL WHEN id % 4 = 1 THEN 16
          ELSE 8 END AS INT) AS bit_depth,
        CAST(CASE WHEN cut THEN NULL WHEN id % 4 = 1 THEN 2
          WHEN id % 4 = 3 THEN 3 ELSE 6 END AS INT) AS color_type,
        CAST(CASE WHEN cut THEN NULL WHEN id % 6 = 0 THEN 1 ELSE 0 END
          AS INT) AS interlaced,
        CAST(CASE WHEN cut THEN NULL
          ELSE 3 + extras + ntexts - CASE WHEN torn THEN 1 ELSE 0 END
          END AS INT) AS n_chunks,
        CAST(CASE WHEN cut THEN NULL WHEN id % 7 = 0 THEN 1 ELSE 0 END
          AS INT) AS animated,
        CAST(CASE WHEN cut OR id % 7 <> 0 THEN NULL
          ELSE 2 + id % 5 END AS INT) AS n_frames,
        CAST(CASE WHEN cut OR id % 3 <> 0 THEN NULL
          WHEN id % 4 = 0 THEN 72 WHEN id % 4 = 1 THEN 96
          WHEN id % 4 = 2 THEN 150 ELSE 300 END AS INT) AS dpi,
        CAST(CASE WHEN cut THEN NULL WHEN id % 5 = 0 THEN 1 ELSE 0 END
          AS INT) AS has_exif,
        CASE WHEN cut THEN NULL
          WHEN id % 2 = 0 AND id % 9 = 0 THEN 'Software|parameters'
          WHEN id % 2 = 0 THEN 'Software'
          WHEN id % 9 = 0 THEN 'parameters'
          ELSE '' END AS keys_s,
        CASE WHEN cut THEN NULL
          WHEN id % 2 = 0 AND id % 9 = 0
            THEN 'graft ' || CAST(id % 4 AS VARCHAR) || '|prompt p'
              || CAST(id AS VARCHAR)
          WHEN id % 2 = 0 THEN 'graft ' || CAST(id % 4 AS VARCHAR)
          WHEN id % 9 = 0 THEN 'prompt p' || CAST(id AS VARCHAR)
          ELSE '' END AS vals_s,
        CAST(CASE WHEN cut THEN NULL WHEN id % 9 = 0 THEN 1 ELSE 0 END
          AS INT) AS ai_generated,
        CAST(CASE WHEN cut THEN NULL WHEN torn THEN 0 ELSE 1 END AS INT)
          AS complete
      FROM p"""),
  )

  /** OOXML text extraction — [[q183_zip_meta]]'s routing turned into
    * TRAINING TEXT: per-doc DOCX (paragraph/run structure, explicit
    * tabs, escaped entities) or XLSX (shared-string table with
    * rich-text runs), the canonical text member read through the ZIP
    * local header and reduced to transcript; every 13th doc is not a
    * ZIP (honest null). The oracle string_aggs the decoded paragraph/
    * string text in order, so run concatenation, tab placement, and
    * entity decoding are all hash-pinned. Grammar in OoxmlSpec.
    */
  val q189_ooxml_text = QueryDef(
    "q189_ooxml_text",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "doc") { id =>
        def b(x: String) = x.getBytes("UTF-8")
        val n = (1 + id % 4).toInt
        if (id % 13 == 0) b("just text, no archive")
        else if (id % 2 == 1) {
          val body = (0 until n).map { i =>
            "<w:p><w:r><w:t>P" + i + "-a&amp;b</w:t></w:r>" +
              (if (i % 2 == 1) "<w:r><w:tab/></w:r>" else "") +
              "<w:r><w:t xml:space=\"preserve\">&lt;e" + id +
              "&gt;</w:t></w:r></w:p>"
          }.mkString
          graft.ops.Zip.build(Seq(
            ("[Content_Types].xml", b("<Types/>"), 8, false),
            ("word/document.xml", b("<?xml version=\"1.0\"?>" +
              s"<w:document><w:body>$body</w:body></w:document>"), 8,
              false)))
        } else {
          val sis = (0 until n).map { i =>
            if (i % 3 == 2)
              "<si><r><t>v" + i + "</t></r><r><t xml:space=" +
                "\"preserve\"> &amp; w</t></r></si>"
            else "<si><t>v" + i + " &amp; w</t></si>"
          }.mkString
          graft.ops.Zip.build(Seq(
            ("[Content_Types].xml", b("<Types/>"), 8, false),
            ("xl/sharedStrings.xml", b(s"<sst>$sis</sst>"), 8, false)))
        }
      }
      graft.ops.Ooxml.textMeta(withBytes, "doc")
        .select(col("doc_id"),
          col("doc_ooxml.kind").as("kind"),
          col("doc_ooxml.n_units").as("n_units"),
          md5(col("doc_ooxml.text")).as("text_md5"),
          length(col("doc_ooxml.text")).cast("long").as("n_chars"))
    },
    Some("""WITH p AS (SELECT doc_id AS id, CAST(1 + doc_id % 4 AS INT) AS n,
          doc_id % 13 = 0 AS cut, doc_id % 2 = 1 AS isdocx
        FROM documents),
      u AS (SELECT id, unnest(generate_series(0, n - 1)) AS i FROM p),
      agg AS (SELECT u.id,
          string_agg('P' || CAST(i AS VARCHAR) || '-a&b'
            || CASE WHEN i % 2 = 1 THEN chr(9) ELSE '' END
            || '<e' || CAST(u.id AS VARCHAR) || '>', chr(10)
            ORDER BY i) AS dtext,
          string_agg('v' || CAST(i AS VARCHAR) || ' & w', chr(10)
            ORDER BY i) AS xtext
        FROM u GROUP BY u.id)
      SELECT p.id AS doc_id,
        CASE WHEN cut THEN NULL WHEN isdocx THEN 'docx' ELSE 'xlsx' END
          AS kind,
        CAST(CASE WHEN cut THEN NULL ELSE n END AS INT) AS n_units,
        CASE WHEN cut THEN NULL
          WHEN isdocx THEN md5(dtext) ELSE md5(xtext) END AS text_md5,
        CAST(CASE WHEN cut THEN NULL
          WHEN isdocx THEN length(dtext) ELSE length(xtext) END AS BIGINT)
          AS n_chars
      FROM p JOIN agg ON p.id = agg.id"""),
  )

  /** EPUB chapter extraction — books to training text: per-doc EPUBs
    * (stored mimetype, container → OPF → manifest/spine, Dublin Core
    * metadata) whose chapters extract IN SPINE ORDER — every 4th book
    * declares its spine reversed relative to manifest order, and the
    * hash proves reading order wins over storage order. Entities
    * decode, heads discard, every 13th doc is not an EPUB. Torn-book
    * semantics (missing chapter member skips) pinned in EpubSpec.
    */
  val q190_epub_text = QueryDef(
    "q190_epub_text",
    (s, d) => {
      // spread the EPUB zip build + chapter extraction (the exchange
      // carries one long per row)
      val withBytes = payloads(Barrier.spread(docIds(s, d)), "doc") { id =>
        def b(x: String) = x.getBytes("UTF-8")
        val n = (1 + id % 3).toInt
        val order =
          if (id % 4 == 0) (0 until n).reverse else 0 until n
        val items = (0 until n).map(i =>
          s"""<item id="c$i" href="c$i.xhtml" """ +
            """media-type="application/xhtml+xml"/>""").mkString
        val spine = order.map(i => s"""<itemref idref="c$i"/>""").mkString
        val opf = """<?xml version="1.0"?><package><metadata>""" +
          s"<dc:title>Book $id</dc:title>" +
          s"<dc:creator>Author ${id % 5}</dc:creator>" +
          "<dc:language>" + Seq("en", "fr", "de")((id % 3).toInt) +
          "</dc:language></metadata>" +
          s"<manifest>$items</manifest><spine>$spine</spine></package>"
        val chapters = (0 until n).map(i =>
          (s"OEBPS/c$i.xhtml", b("<html><head><title>h</title></head>" +
            s"<body><h1>Ch $i</h1>\n<p>Text &amp; $id-$i.</p>\n" +
            "</body></html>"), 8, false))
        val full = graft.ops.Zip.build(Seq(
          ("mimetype", b("application/epub+zip"), 0, false),
          ("META-INF/container.xml", b("<container><rootfiles>" +
            """<rootfile full-path="OEBPS/content.opf"/>""" +
            "</rootfiles></container>"), 8, false),
          ("OEBPS/content.opf", b(opf), 8, false)) ++ chapters)
        if (id % 13 == 0) b(s"plain text $id") else full
      }
      graft.ops.Epub.bookMeta(withBytes, "doc")
        .select(col("doc_id"),
          col("doc_epub.title").as("title"),
          col("doc_epub.creator").as("creator"),
          col("doc_epub.language").as("language"),
          col("doc_epub.n_chapters").as("n_chapters"),
          md5(col("doc_epub.text")).as("text_md5"),
          length(col("doc_epub.text")).cast("long").as("n_chars"))
    },
    Some("""WITH p AS (SELECT doc_id AS id, CAST(1 + doc_id % 3 AS INT) AS n,
          doc_id % 4 = 0 AS rev, doc_id % 13 = 0 AS cut
        FROM documents),
      u AS (SELECT id, unnest(generate_series(0, n - 1)) AS i FROM p),
      agg AS (SELECT u.id, p2.rev,
          string_agg('Ch ' || CAST(i AS VARCHAR) || chr(10) || 'Text & '
              || CAST(u.id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
              || '.' || chr(10), chr(10)
            ORDER BY CASE WHEN p2.rev THEN -i ELSE i END) AS t
        FROM u JOIN p p2 ON u.id = p2.id GROUP BY u.id, p2.rev)
      SELECT p.id AS doc_id,
        CASE WHEN cut THEN NULL ELSE 'Book ' || CAST(p.id AS VARCHAR) END
          AS title,
        CASE WHEN cut THEN NULL
          ELSE 'Author ' || CAST(p.id % 5 AS VARCHAR) END AS creator,
        CASE WHEN cut THEN NULL WHEN p.id % 3 = 0 THEN 'en'
          WHEN p.id % 3 = 1 THEN 'fr' ELSE 'de' END AS language,
        CAST(CASE WHEN cut THEN NULL ELSE n END AS INT) AS n_chapters,
        CASE WHEN cut THEN NULL ELSE md5(t) END AS text_md5,
        CAST(CASE WHEN cut THEN NULL ELSE length(t) END AS BIGINT)
          AS n_chars
      FROM p JOIN agg ON p.id = agg.id"""),
  )

  /** GIF structure metadata — the animation routing signal for the
    * last legacy web-image format: per-doc GIFs vary dimensions,
    * global-color-table size, frame count (multi-frame = video for
    * curation purposes, the APNG story), per-frame delays (total
    * duration), NETSCAPE loop counts, and comments; every 11th doc
    * tears mid-stream (frames before the cut kept, complete = 0) and
    * every 13th is not a GIF. Sub-block skipping never decodes LZW.
    * Byte grammar pinned in GifSpec.
    */
  val q191_gif_meta = QueryDef(
    "q191_gif_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "img") { id =>
        val frames = (1 + id % 6).toInt
        val delays =
          if (id % 3 == 0) (0 until frames).map(i => (5 + (id + i) % 20).toInt)
          else Seq.empty[Int]
        val full = graft.ops.Gif.build(
          width = 32 + (id % 40).toInt * 8,
          height = 32 + (id % 25).toInt * 8,
          frames = frames, delaysCs = delays,
          loop = if (id % 4 == 0) (id % 7).toInt else -1,
          gctSize = (id % 7).toInt,
          comment = if (id % 5 == 0) "c" + id else null)
        if (id % 13 == 0) full.take(4)
        else if (id % 11 == 0) full.dropRight(8)
        else full
      }
      graft.ops.Gif.imageMeta(withBytes, "img")
        .select(col("doc_id"),
          col("img_gif.width").as("width"),
          col("img_gif.height").as("height"),
          col("img_gif.gct_colors").as("gct_colors"),
          col("img_gif.n_frames").as("n_frames"),
          col("img_gif.animated").cast("int").as("animated"),
          col("img_gif.total_delay_ms").as("total_delay_ms"),
          col("img_gif.loop_count").as("loop_count"),
          col("img_gif.has_comment").cast("int").as("has_comment"),
          col("img_gif.complete").cast("int").as("complete"))
    },
    Some("""WITH p AS (SELECT doc_id AS id,
          CAST(1 + doc_id % 6 AS INT) AS nf,
          doc_id % 13 = 0 AS cut,
          doc_id % 11 = 0 AND doc_id % 13 <> 0 AS torn,
          doc_id % 3 = 0 AS timed
        FROM documents),
      dl AS (SELECT id, CAST(COALESCE(SUM(5 + (id + i) % 20), 0) AS BIGINT)
          AS delaysum
        FROM (SELECT id, unnest(generate_series(0, nf - 1)) AS i FROM p) t
        GROUP BY id)
      SELECT p.id AS doc_id,
        CAST(CASE WHEN cut THEN NULL ELSE 32 + (p.id % 40) * 8 END AS INT)
          AS width,
        CAST(CASE WHEN cut THEN NULL ELSE 32 + (p.id % 25) * 8 END AS INT)
          AS height,
        CAST(CASE WHEN cut THEN NULL
          ELSE 2 ** ((p.id % 7) + 1) END AS INT) AS gct_colors,
        CAST(CASE WHEN cut THEN NULL
          WHEN torn THEN nf - 1 ELSE nf END AS INT) AS n_frames,
        CAST(CASE WHEN cut THEN NULL
          WHEN (CASE WHEN torn THEN nf - 1 ELSE nf END) > 1 THEN 1
          ELSE 0 END AS INT) AS animated,
        CAST(CASE WHEN cut THEN NULL
          WHEN timed THEN delaysum * 10 ELSE 0 END AS BIGINT)
          AS total_delay_ms,
        CAST(CASE WHEN cut OR p.id % 4 <> 0 THEN NULL
          ELSE p.id % 7 END AS INT) AS loop_count,
        CAST(CASE WHEN cut THEN NULL
          WHEN p.id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS has_comment,
        CAST(CASE WHEN cut THEN NULL WHEN torn THEN 0 ELSE 1 END AS INT)
          AS complete
      FROM p JOIN dl ON p.id = dl.id"""),
  )

  /** WebDataset ingestion: per-doc ustar archives holding samples as
    * basename-keyed member groups (s0.txt + s0.json [+ s0.cls],
    * under a directory prefix — the published convention's shard
    * layout). The tar framer enumerates members (checksums verified,
    * padding walked), the sample key/ext split as plain columns, and
    * every member's name/size/digest reconstructs analytically.
    * TarSpec pins the byte-level framing (hand offsets, block
    * boundaries, non-file skip, loud corruption/truncation failures).
    */
  val q165_webdataset = QueryDef(
    "q165_webdataset",
    (s, d) => {
      val shards = payloads(docIds(s, d), "shard") { id =>
        val members = (0 to (id % 3).toInt).flatMap { i =>
          val base = Seq(
            (s"sh/s$i.txt", s"t$id-$i".getBytes("UTF-8")),
            (s"sh/s$i.json", s"""{"i":$i}""".getBytes("UTF-8")))
          if (i % 2 == 0)
            base :+ ((s"sh/s$i.cls", s"c${(id + i) % 10}".getBytes("UTF-8")))
          else base
        } ++ Seq(
          // a >100-char sample key: forces a GNU L long-name member
          // through the builder and the framer's override handling
          // (r11 What's wrong #5) — a truncating reader emits a
          // 100-char key here and breaks the hash
          (s"sh/${"L" * 110}$id.txt", s"L$id".getBytes("UTF-8")))
        graft.ops.Tar.build(members)
      }
      graft.ops.Tar.tarEntries(shards, "shard")
        .select(col("doc_id"), explode(col("shard_entries")).as("e"))
        .select(col("doc_id"),
          graft.ops.Tar.sampleKey(col("e.name")).as("key"),
          graft.ops.Tar.sampleExt(col("e.name")).as("ext"),
          col("e.size").as("size"),
          md5(col("e.payload")).as("payload_md5"))
    },
    Some("""WITH m AS (
        SELECT doc_id, i, ext,
          CASE ext
            WHEN 'txt' THEN 't' || CAST(doc_id AS VARCHAR) || '-' ||
              CAST(i AS VARCHAR)
            WHEN 'json' THEN '{"i":' || CAST(i AS VARCHAR) || '}'
            ELSE 'c' || CAST((doc_id + i) % 10 AS VARCHAR) END AS payload
        FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS i
              FROM documents) t,
             (SELECT unnest(['txt', 'json', 'cls']) AS ext) e
        WHERE ext <> 'cls' OR i % 2 = 0)
      SELECT doc_id, 's' || CAST(i AS VARCHAR) AS key, ext,
        CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5
      FROM m
      UNION ALL
      SELECT doc_id, repeat('L', 110) || CAST(doc_id AS VARCHAR) AS key,
        'txt' AS ext,
        CAST(strlen('L' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS size,
        md5('L' || CAST(doc_id AS VARCHAR)) AS payload_md5
      FROM documents"""),
  )

  /** The sniff verdict CONSUMED (r11 verdict ask #2): planted
    * non-UTF-8 pages — transport-declared windows-1252 (with bytes
    * from the 0x80-0x9F index), BOM'd UTF-16LE and UTF-16BE, and a
    * meta-declared iso-8859-1 (the WHATWG alias of cp1252) — run the
    * full sniff -> decode_charset -> extractText chain, and the
    * extracted TEXT (not just the label) must match the analytic
    * decode. An implicit UTF-8 cast (the pre-r12 behavior) produces
    * mojibake on every branch here; only a real transcoder matches.
    */
  val q166_charset_decode = QueryDef(
    "q166_charset_decode",
    (s, d) => {
      val did = col("doc_id")
      val kind = pmod(did, lit(4L))
      def asc(t: String) = lit(t).cast("binary")
      val idStr = did.cast("string")
      // 0x93 w<id> 0x94 0xE9 inside <p> — cp1252 smart quotes + e-acute
      val cp1252Body = concat(asc("<p>"),
        lit(Array(0x93.toByte)), asc("w"), idStr.cast("binary"),
        lit(Array(0x94.toByte, 0xE9.toByte)), asc("</p>"))
      val le = concat(lit(Array(0xFF.toByte, 0xFE.toByte)),
        encode(concat(lit("<p>u"), idStr, lit("é</p>")), "UTF-16LE"))
      val be = concat(lit(Array(0xFE.toByte, 0xFF.toByte)),
        encode(concat(lit("<p>b"), idStr, lit("é</p>")), "UTF-16BE"))
      // meta-declared latin1 label, body carries 0xF1 (n-tilde) and
      // 0x96 (cp1252 en dash — the byte that PROVES the WHATWG alias:
      // a literal iso-8859-1 table would emit a C1 control here)
      val metaBody = concat(
        asc("<html><head><meta charset=\"iso-8859-1\"></head><body>m"),
        idStr.cast("binary"), lit(Array(0xF1.toByte, 0x96.toByte)),
        asc("</body></html>"))
      val payload = when(kind === 0, cp1252Body)
        .when(kind === 1, le)
        .when(kind === 2, be)
        .otherwise(metaBody)
      val hct = when(kind === 0, lit("text/html; charset=windows-1252"))
        .otherwise(lit(null).cast("string"))
      Tables.read(s, d, "documents").select(did,
          graft.ops.HtmlExtract.sniffCharset(payload, hct).as("charset"),
          graft.ops.HtmlExtract.decodePayload(payload, hct).as("html"))
        .select(did, col("charset"),
          graft.ops.HtmlExtract.extractText(col("html")).as("text"))
    },
    Some("""SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'windows-1252'
          WHEN 1 THEN 'utf-16le'
          WHEN 2 THEN 'utf-16be'
          ELSE 'iso-8859-1' END AS charset,
        CASE doc_id % 4
          WHEN 0 THEN chr(8220) || 'w' || CAST(doc_id AS VARCHAR) ||
            chr(8221) || chr(233)
          WHEN 1 THEN 'u' || CAST(doc_id AS VARCHAR) || chr(233)
          WHEN 2 THEN 'b' || CAST(doc_id AS VARCHAR) || chr(233)
          ELSE 'm' || CAST(doc_id AS VARCHAR) || chr(241) || chr(8211)
          END AS text
      FROM documents"""),
  )

  /** WebDataset packing round-trip (r11 verdict asks #3 + #4): sample
    * rows from `documents` go through the `wds` SINK (Spark plans the
    * clustered+sorted-by-key shuffle the sink's
    * RequiresDistributionAndOrdering declares; shards roll at sample
    * boundaries under a small byte target so rolling actually
    * happens) into real tar shard FILES, then back through the `wds`
    * SOURCE's streaming framer — one row per member, bounded task
    * memory, never a whole-shard binary row. Output pins member
    * identity (key/ext/size/md5) AND the two invariants: shard_spread
    * = 1 per key (sample contiguity across rolls) and a >100-char key
    * that only survives a GNU-L-capable writer+reader pair.
    */
  val q167_wds_roundtrip = QueryDef(
    "q167_wds_roundtrip",
    (s, d) => {
      val outDir = Staging.dir("wds_rt").toString
      val did = col("doc_id")
      val longKey = concat(lit("K" * 110), did.cast("string"))
      val key = when(pmod(did, lit(5L)) === 0, longKey)
        .otherwise(concat(lit("s"), lpad(did.cast("string"), 8, "0")))
      val base = Tables.read(s, d, "documents").select(did, key.as("key"))
      val rows = base.select(col("key"), lit("txt").as("ext"),
          concat(lit("t"), did.cast("string")).cast("binary").as("payload"))
        .unionAll(base.select(col("key"), lit("json").as("ext"),
          concat(lit("{\"d\":"), did.cast("string"), lit("}"))
            .cast("binary").as("payload")))
        .unionAll(base.filter(pmod(did, lit(3L)) === 0)
          .select(col("key"), lit("cls").as("ext"),
            concat(lit("c"), pmod(did, lit(7L)).cast("string"))
              .cast("binary").as("payload")))
      // 1 MiB shard target keeps the shard count sane as sf grows
      // (rolling itself is WdsSpec-pinned); the 64 KiB split target
      // makes the read-back run over RANGED partitions cut at the idx
      // sidecar's sample boundaries, ~16 splits per shard
      rows.write.format("wds").mode("overwrite")
        .option("path", outDir).option("targetShardBytes", "1048576").save()
      val back = s.read.format("wds")
        .option("manifestOnly", "true")
        .option("splitTargetBytes", "65536").load(outDir)
      val spread = back.groupBy("key")
        .agg(countDistinct(col("shard")).as("shard_spread"))
      back.join(spread, Seq("key"))
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"), col("shard_spread"))
    },
    Some("""WITH k AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0
            THEN repeat('K', 110) || CAST(doc_id AS VARCHAR)
            ELSE 's' || lpad(CAST(doc_id AS VARCHAR), 8, '0') END AS key
        FROM documents),
      m AS (
        SELECT key, 'txt' AS ext, 't' || CAST(doc_id AS VARCHAR) AS payload
        FROM k
        UNION ALL
        SELECT key, 'json', '{"d":' || CAST(doc_id AS VARCHAR) || '}' FROM k
        UNION ALL
        SELECT key, 'cls', 'c' || CAST(doc_id % 7 AS VARCHAR)
        FROM k WHERE doc_id % 3 = 0)
      SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5, CAST(1 AS BIGINT) AS shard_spread
      FROM m"""),
  )

  /** Fragmented MP4 (r11 verdict ask #7): streaming-origin video
    * ships moof/tfhd/trun fragments with mvhd duration 0 — per-doc
    * fixtures exercise all three places a sample duration can live
    * (per-sample trun, tfhd default, trex default), the sidx index,
    * the mvhd-0 duration fallback, and truncation (every 13th doc is
    * an honest null — the strict top-level walk refuses a partial
    * fragment count). Every field reconstructs analytically; byte
    * layout and flag-stride handling are pinned in Mp4Spec.
    */
  val q168_fmp4_meta = QueryDef(
    "q168_fmp4_meta",
    (s, d) => {
      val withBytes = payloads(docIds(s, d), "v") { id =>
        val ts = (1000L * (id % 3 + 1)).toInt
        val nf = (2 + id % 4).toInt
        val nsamp = (5 + id % 7).toInt
        val dur = (id % 3 match {
          case 0 => 30 + id % 10
          case 1 => 40 + id % 10
          case _ => 50 + id % 10
        }).toInt
        val vid = graft.ops.Mp4.Track("vide", ts, 0L, "avc1",
          width = 640, height = 360)
        val frags = (0 until nf).map { _ =>
          id % 3 match {
            case 0 => graft.ops.Mp4.FragRun(1, nsamp, sampleDurTs = Some(dur))
            case 1 => graft.ops.Mp4.FragRun(1, nsamp, tfhdDefaultTs = Some(dur))
            case _ => graft.ops.Mp4.FragRun(1, nsamp) // trex carries it
          }
        }
        val sidx = if (id % 2 == 0)
          Some((1000, Seq.fill(nf)((100 + id % 50).toInt))) else None
        val full = graft.ops.Mp4.buildFragmented(1000, Seq(vid),
          Map(1 -> (50 + id % 10).toInt), frags, sidx)
        // cut INSIDE the final mdat box (length/2 can land exactly on
        // a box boundary and parse cleanly — doc 403 did at sf0.01)
        if (id % 13 == 0) full.take(full.length - 5) else full
      }
      graft.ops.Mp4.videoMeta(withBytes, "v")
        .select(col("doc_id"),
          col("v_mp4.n_fragments").as("n_fragments"),
          col("v_mp4.frag_duration_ms").as("frag_duration_ms"),
          col("v_mp4.duration_ms").as("duration_ms"),
          col("v_mp4.sidx_duration_ms").as("sidx_duration_ms"),
          col("v_mp4.video_codec").as("video_codec"))
    },
    Some("""WITH p AS (
        SELECT doc_id,
          2 + doc_id % 4 AS nf, 5 + doc_id % 7 AS ns,
          CASE doc_id % 3 WHEN 0 THEN 30 + doc_id % 10
            WHEN 1 THEN 40 + doc_id % 10
            ELSE 50 + doc_id % 10 END AS dur,
          1000 * (doc_id % 3 + 1) AS ts
        FROM documents)
      SELECT doc_id,
        CAST(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE nf END AS INT)
          AS n_fragments,
        CASE WHEN doc_id % 13 = 0 THEN NULL
          ELSE CAST(nf * ns * dur * 1000 // ts AS BIGINT) END
          AS frag_duration_ms,
        CASE WHEN doc_id % 13 = 0 THEN NULL
          ELSE CAST(nf * ns * dur * 1000 // ts AS BIGINT) END
          AS duration_ms,
        CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
          ELSE CAST(nf * (100 + doc_id % 50) AS BIGINT) END
          AS sidx_duration_ms,
        CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'avc1' END AS video_codec
      FROM p"""),
  )

  /** The archive-to-training-shards capstone: crawl WARC in, curated
    * WebDataset out, ONE plan — the full r11+r12 stack composed: CDX
    * range scans with the `warc_type` filter at the framer, the HTTP
    * status gate, sniff -> decode_charset -> extractText, sample
    * assembly (text + JSON metadata per page under an md5(url) key),
    * the `wds` sink's Spark-planned cluster+sort-by-key shuffle with
    * size-rolled shards, and a ranged read-back over the idx
    * sidecars. The oracle composes every stage's known result
    * analytically; shard_spread pins contiguity through the repack.
    */
  val q169_warc_to_wds = QueryDef(
    "q169_warc_to_wds",
    (s, d) => {
      val warcDir = WarcFixture.dir(s, d)
      val outDir = Staging.dir("wds_pack").toString
      val pages = s.read.format("warc")
        .option("cdxTargetBytes", "16384").load(warcDir)
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("target_uri").as("url"),
          graft.ops.HtmlExtract.decodePayload(col("payload"),
            col("http_content_type")).as("html"))
        .select(col("url"),
          graft.ops.HtmlExtract.extractText(col("html")).as("text"))
      val keyed = pages.select(md5(col("url")).as("key"), col("url"),
        col("text"))
      val rows = keyed.select(col("key"), lit("txt").as("ext"),
          col("text").cast("binary").as("payload"))
        .unionAll(keyed.select(col("key"), lit("json").as("ext"),
          concat(lit("{\"url\":\""), col("url"), lit("\"}"))
            .cast("binary").as("payload")))
      rows.write.format("wds").mode("overwrite")
        .option("path", outDir).option("targetShardBytes", "1048576").save()
      val back = s.read.format("wds").option("manifestOnly", "true")
        .option("splitTargetBytes", "131072").load(outDir)
      val spread = back.groupBy("key")
        .agg(countDistinct(col("shard")).as("shard_spread"))
      back.join(spread, Seq("key"))
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"), col("shard_spread"))
    },
    Some {
      val ch = warcPartsCte(urlPicksChain)
      val wetText = "'Doc ' || CAST(c.doc_id AS VARCHAR) || ' ' || c.text || " +
        "' caf' || chr(233) || ' A' || chr(8212) || 'B'"
      ch.cte("wbase", s"""SELECT md5($oracleMessyUrlSql) AS key,
            $wetText AS text,
            $oracleMessyUrlSql AS url
          FROM crawled c JOIN parts ON parts.doc_id = c.doc_id
          WHERE c.doc_id % 7 <> 0""")
        .cte("wm", """SELECT key, 'txt' AS ext, text AS payload FROM wbase
          UNION ALL
          SELECT key, 'json', '{"url":"' || url || '"}' FROM wbase""")
        .render("""SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
          md5(payload) AS payload_md5, CAST(1 AS BIGINT) AS shard_spread
        FROM wm""")
    },
  )

  /** WebDataset point lookup — the serving path of the `wds`
    * connector, mirroring q156's CDX lookup for WARC: N wanted sample
    * keys out of a shard set must cost N bounded seeks (idx-sidecar
    * join, broadcast wanted side, per-shard monotonic seeks), never a
    * corpus scan. Sample contiguity (the sink's required clustering)
    * is what makes "read members while the key matches" exact — the
    * oracle pins every member of every wanted sample.
    */
  val q170_wds_lookup = QueryDef(
    "q170_wds_lookup",
    (s, d) => {
      val outDir = Staging.dir("wds_lkp").toString
      val did = col("doc_id")
      val base = Tables.read(s, d, "documents").select(did,
        concat(lit("s"), lpad(did.cast("string"), 8, "0")).as("key"))
      val rows = base.select(col("key"), lit("txt").as("ext"),
          concat(lit("t"), did.cast("string")).cast("binary").as("payload"))
        .unionAll(base.select(col("key"), lit("json").as("ext"),
          concat(lit("{\"d\":"), did.cast("string"), lit("}"))
            .cast("binary").as("payload")))
        .unionAll(base.filter(pmod(did, lit(3L)) === 0)
          .select(col("key"), lit("cls").as("ext"),
            concat(lit("c"), pmod(did, lit(7L)).cast("string"))
              .cast("binary").as("payload")))
      rows.write.format("wds").mode("overwrite")
        .option("path", outDir).option("targetShardBytes", "1048576").save()
      val wanted = Tables.read(s, d, "documents").select(did)
        .filter(pmod(did, lit(97L)) === 0)
        .select(concat(lit("s"), lpad(did.cast("string"), 8, "0")).as("key"))
      val hits = graft.sources.WdsRandomAccess.idx(s, outDir)
        .join(broadcast(wanted), Seq("key"))
      graft.sources.WdsRandomAccess.fetch(hits)
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"))
    },
    Some("""WITH w AS (SELECT doc_id,
          's' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key
        FROM documents WHERE doc_id % 97 = 0),
      m AS (
        SELECT key, 'txt' AS ext, 't' || CAST(doc_id AS VARCHAR) AS payload
        FROM w
        UNION ALL
        SELECT key, 'json', '{"d":' || CAST(doc_id AS VARCHAR) || '}' FROM w
        UNION ALL
        SELECT key, 'cls', 'c' || CAST(doc_id % 7 AS VARCHAR)
        FROM w WHERE doc_id % 3 = 0)
      SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5
      FROM m"""),
  )

  /** CJK/legacy charset decoding (r12 verdict ask #1): planted
    * Shift_JIS / GBK-via-meta-gb2312 / EUC-KR / KOI8-R pages decode to
    * real text through the sniff -> decode_charset -> extractText
    * chain (every branch is mojibake under an implicit UTF-8 cast —
    * the high bytes are invalid UTF-8 sequences), and an unknown label
    * surfaces decoded_ok = 0, the quarantine signal curation diverts
    * on instead of ingesting fallback mojibake. CJK byte constants are
    * the fixed dictionary-word encodings (ASCII-safe trail bytes vary
    * per id via the appended digits, which all five charsets encode
    * identically to ASCII).
    */
  val q171_charset_cjk = QueryDef(
    "q171_charset_cjk",
    (s, d) => {
      val did = col("doc_id")
      val kind = pmod(did, lit(5L))
      def asc(t: String) = lit(t).cast("binary")
      val idb = did.cast("string").cast("binary")
      // 日本語 in windows-31j / テスト
      val sjis = concat(asc("<p>"),
        lit(Array(0x93.toByte, 0xFA.toByte, 0x96.toByte, 0x7B.toByte,
          0x8C.toByte, 0xEA.toByte)), asc("w"), idb,
        lit(Array(0x83.toByte, 0x65.toByte, 0x83.toByte, 0x58.toByte,
          0x83.toByte, 0x67.toByte)), asc("</p>"))
      // 简体中文 in GBK, label delivered by a meta gb2312 tag (WHATWG
      // aliases gb2312 -> GBK)
      val gbk = concat(
        asc("<html><head><meta charset=\"gb2312\"></head><body><p>"),
        lit(Array(0xBC.toByte, 0xF2.toByte, 0xCC.toByte, 0xE5.toByte,
          0xD6.toByte, 0xD0.toByte, 0xCE.toByte, 0xC4.toByte)),
        asc("g"), idb, asc("</p></body></html>"))
      // 한국어 in windows-949 (WHATWG euc-kr)
      val euckr = concat(asc("<p>"),
        lit(Array(0xC7.toByte, 0xD1.toByte, 0xB1.toByte, 0xB9.toByte,
          0xBE.toByte, 0xEE.toByte)), asc("k"), idb, asc("</p>"))
      // русский in koi8-r
      val koi8 = concat(asc("<p>"),
        lit(Array(0xD2.toByte, 0xD5.toByte, 0xD3.toByte, 0xD3.toByte,
          0xCB.toByte, 0xC9.toByte, 0xCA.toByte)), asc("r"), idb, asc("</p>"))
      val unknown = concat(asc("<p>plain"), idb, asc("</p>"))
      val payload = when(kind === 0, sjis)
        .when(kind === 1, gbk)
        .when(kind === 2, euckr)
        .when(kind === 3, koi8)
        .otherwise(unknown)
      val hct = when(kind === 0, lit("text/html; charset=shift_jis"))
        .when(kind === 2, lit("text/html; charset=euc-kr"))
        .when(kind === 3, lit("text/html; charset=koi8-r"))
        .when(kind === 4, lit("text/html; charset=x-klingon"))
        .otherwise(lit(null).cast("string"))
      Tables.read(s, d, "documents").select(did,
          graft.ops.HtmlExtract.sniffCharset(payload, hct).as("charset"),
          graft.ops.HtmlExtract.decodedOk(payload, hct)
            .cast("long").as("decoded_ok"),
          graft.ops.HtmlExtract.decodePayload(payload, hct).as("html"))
        .select(did, col("charset"), col("decoded_ok"),
          graft.ops.HtmlExtract.extractText(col("html")).as("text"))
    },
    Some("""SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'shift_jis'
          WHEN 1 THEN 'gb2312'
          WHEN 2 THEN 'euc-kr'
          WHEN 3 THEN 'koi8-r'
          ELSE 'x-klingon' END AS charset,
        CASE WHEN doc_id % 5 = 4 THEN CAST(0 AS BIGINT)
          ELSE CAST(1 AS BIGINT) END AS decoded_ok,
        CASE doc_id % 5
          WHEN 0 THEN chr(26085) || chr(26412) || chr(35486) || 'w' ||
            CAST(doc_id AS VARCHAR) || chr(12486) || chr(12473) || chr(12488)
          WHEN 1 THEN chr(31616) || chr(20307) || chr(20013) || chr(25991) ||
            'g' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN chr(54620) || chr(44397) || chr(50612) || 'k' ||
            CAST(doc_id AS VARCHAR)
          WHEN 3 THEN chr(1088) || chr(1091) || chr(1089) || chr(1089) ||
            chr(1082) || chr(1080) || chr(1081) || 'r' ||
            CAST(doc_id AS VARCHAR)
          ELSE 'plain' || CAST(doc_id AS VARCHAR) END AS text
      FROM documents"""),
  )

  /** idx-sidecar backfill for FOREIGN WebDataset shards (r12 verdict
    * ask #2): the fixture corpus is written WITHOUT the sink — plain
    * tars emitted executor-side through [[graft.sources.TarIo]], no
    * sidecars, no manifest, including >100-char keys whose samples
    * start with a GNU `L` prelude — then
    * [[graft.sources.WdsIndexBackfill]] streams each shard once and
    * writes the sidecars, and the read-back runs over RANGED splits
    * cut at the backfilled offsets. A point-lookup leg re-fetches a
    * key subset through the backfilled idx (bounded seeks must land on
    * real header units or the framer fails loudly) and its md5s are
    * pinned against the scan's — so the whole r12 scale story (ranged
    * splits + point lookup) is proven on data this engine did not
    * write.
    */
  val q172_wds_backfill = QueryDef(
    "q172_wds_backfill",
    (s, d) => {
      val outDir = Staging.dir("wds_foreign").toString
      val did = col("doc_id")
      val longKey = concat(lit("F" * 120), lpad(did.cast("string"), 8, "0"))
      val key = when(pmod(did, lit(50L)) === 3, longKey)
        .otherwise(concat(lit("s"), lpad(did.cast("string"), 8, "0")))
      val base = Tables.read(s, d, "documents").select(did, key.as("key"),
        pmod(did, lit(4L)).as("shard_no"))
      val rows = base.select(col("shard_no"), col("key"), lit("txt").as("ext"),
          concat(lit("t"), did.cast("string")).cast("binary").as("payload"))
        .unionAll(base.select(col("shard_no"), col("key"), lit("json").as("ext"),
          concat(lit("{\"d\":"), did.cast("string"), lit("}"))
            .cast("binary").as("payload")))
        .unionAll(base.filter(pmod(did, lit(3L)) === 0)
          .select(col("shard_no"), col("key"), lit("bin").as("ext"),
            md5(did.cast("string")).cast("binary").as("payload")))
      // the "someone else's tooling" writer: one plain tar per task,
      // samples key-contiguous, trailer included, NO sidecar/manifest
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      implicit val enc = org.apache.spark.sql.Encoders.row(
        StructType(Seq(StructField("n", LongType))))
      rows.repartition(4, col("shard_no")).sortWithinPartitions("key", "ext")
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var n = 0L
          if (it.hasNext) {
            // uuid temp + atomic swap so overlapping task attempts
            // (fault-parity kill-retry) never interleave one file
            graft.sources.ArchiveFs.publish(
                graft.sources.ArchiveFs.child(outDir, f"foreign-$pid%03d.tar")) { out =>
              it.foreach { r =>
                val name = r.getString(1) + "." + r.getString(2)
                graft.sources.TarIo.writeMember(out, name,
                  r.get(3).asInstanceOf[Array[Byte]])
                n += 1
              }
              graft.sources.TarIo.writeTrailer(out)
            }
          }
          Iterator.single(Row(n))
        }.agg(sum("n")).collect()
      graft.sources.WdsIndexBackfill.run(s, outDir).collect()
      val back = s.read.format("wds")
        .option("splitTargetBytes", "32768").load(outDir)
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"))
      val wanted = Tables.read(s, d, "documents").filter(pmod(did, lit(61L)) === 0)
        .select(when(pmod(did, lit(50L)) === 3, longKey)
          .otherwise(concat(lit("s"), lpad(did.cast("string"), 8, "0")))
          .as("key"))
      val hits = graft.sources.WdsRandomAccess.idx(s, outDir)
        .join(broadcast(wanted), Seq("key"))
      val fetched = graft.sources.WdsRandomAccess.fetch(hits)
        .select(col("key"), col("ext"), md5(col("payload")).as("fetched_md5"))
      back.join(fetched, Seq("key", "ext"), "left")
        .select(col("key"), col("ext"), col("size"), col("payload_md5"),
          when(col("fetched_md5").isNotNull,
            (col("fetched_md5") === col("payload_md5")).cast("long"))
            .as("fetch_match"))
    },
    Some("""WITH k AS (
        SELECT doc_id,
          CASE WHEN doc_id % 50 = 3
            THEN repeat('F', 120) || lpad(CAST(doc_id AS VARCHAR), 8, '0')
            ELSE 's' || lpad(CAST(doc_id AS VARCHAR), 8, '0') END AS key,
          CASE WHEN doc_id % 61 = 0 THEN 1 ELSE NULL END AS fetch_match
        FROM documents),
      m AS (
        SELECT key, 'txt' AS ext, 't' || CAST(doc_id AS VARCHAR) AS payload,
          fetch_match
        FROM k
        UNION ALL
        SELECT key, 'json', '{"d":' || CAST(doc_id AS VARCHAR) || '}',
          fetch_match
        FROM k
        UNION ALL
        SELECT key, 'bin', md5(CAST(doc_id AS VARCHAR)), fetch_match
        FROM k WHERE doc_id % 3 = 0)
      SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5, CAST(fetch_match AS BIGINT) AS fetch_match
      FROM m"""),
  )

  /** WebDataset compaction: the continuous-packing follow-up — a
    * streaming sink (g134) accretes one small shard generation per
    * epoch, and the BATCH sink's overwrite mode compacts them in place:
    * read the fragmented corpus, write mode("overwrite") to the SAME
    * directory. Safe by the commit protocol's construction: writers
    * land under `_tmp/`, winners rename in only at driver commit, the
    * manifest swaps atomically (numbered generation), and the old
    * generations' files are deleted only AFTER the swap — the scan has
    * finished by then, so read-under-write never tears. Output pins
    * content identity (key/ext/size/md5), global sample contiguity
    * (shard_spread = 1 — the streaming sink only guarantees per-epoch
    * contiguity, compaction restores it corpus-wide), and that the
    * shard count actually SHRANK (n_shards_delta < 0 per row would not
    * be analytic; instead the fixture's 6 appended generations always
    * compact into fewer shards, asserted via require).
    */
  val q173_wds_compact = QueryDef(
    "q173_wds_compact",
    (s, d) => {
      val outDir = Staging.dir("wds_compact").toString
      val did = col("doc_id")
      // 6 append generations of small shards — the streaming sink's
      // epoch-accretion shape (keys interleave across generations, so
      // pre-compaction a key's members can sit in different shards)
      (0L until 6L).foreach { g =>
        val base = Tables.read(s, d, "documents").filter(pmod(did, lit(6L)) === g)
          .select(did, concat(lit("c"), lpad(did.cast("string"), 8, "0"))
            .as("key"))
        base.select(col("key"), lit("txt").as("ext"),
            concat(lit("t"), did.cast("string")).cast("binary").as("payload"))
          .unionAll(base.select(col("key"), lit("json").as("ext"),
            concat(lit("{\"d\":"), did.cast("string"), lit("}"))
              .cast("binary").as("payload")))
          .coalesce(1)
          .write.format("wds").mode("append")
          // target sized so the shard count grows slowly with sf (the
          // g132 lesson: a tiny target means hundreds of shards at
          // sf0.1 = hundreds of file opens per readback)
          .option("path", outDir).option("targetShardBytes", "131072").save()
      }
      val before = s.read.format("wds").option("manifestOnly", "true")
        .load(outDir)
      val shardsBefore = before.select(countDistinct(col("shard")))
        .collect()(0).getLong(0)
      // in-place compaction: same directory, overwrite mode, big target
      before.select("key", "ext", "payload")
        .write.format("wds").mode("overwrite")
        .option("path", outDir).option("targetShardBytes", "1048576").save()
      val after = s.read.format("wds").option("manifestOnly", "true")
        .load(outDir)
      val shardsAfter = after.select(countDistinct(col("shard")))
        .collect()(0).getLong(0)
      require(shardsAfter < shardsBefore,
        s"compaction did not shrink the shard count: $shardsBefore -> $shardsAfter")
      // old generations' files really left the directory
      val onDisk = graft.sources.ArchiveFs.list(outDir)
        .map(graft.sources.ArchiveFs.name)
        .count(n => n.startsWith("part-") && n.endsWith(".tar"))
      require(onDisk.toLong == shardsAfter,
        s"stale shards survive compaction: $onDisk on disk vs $shardsAfter live")
      val spread = after.groupBy("key")
        .agg(countDistinct(col("shard")).as("shard_spread"))
      after.join(spread, Seq("key"))
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"), col("shard_spread"))
    },
    Some("""WITH k AS (SELECT doc_id,
          'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key
        FROM documents),
      m AS (
        SELECT key, 'txt' AS ext, 't' || CAST(doc_id AS VARCHAR) AS payload
        FROM k
        UNION ALL
        SELECT key, 'json', '{"d":' || CAST(doc_id AS VARCHAR) || '}' FROM k)
      SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5, CAST(1 AS BIGINT) AS shard_spread
      FROM m"""),
  )

  /** Content-based charset recovery (r13 verdict ask #6): pages whose
    * label is absent or unrecognized previously stayed utf-8
    * pass-through forever — flagged (decoded_ok = 0) but never
    * recovered. [[graft.expr.CharsetDetect]] proposes a label from the
    * BYTES (strict UTF-8 validity, then multibyte structure +
    * typicality, then single-byte letter-frequency models), and this
    * gate drives the full recovery pipeline: planted windows-1251 /
    * Shift_JIS / KOI8-R pages under UNRECOGNIZED labels and a GBK page
    * with NO label all recover and decode to real text; a properly
    * LABELED Shift_JIS page keeps its q171 verdict untouched
    * (recovery never second-guesses an explicit known label); and a
    * junk-bytes page stays quarantined (label null -> 'unknown', text
    * null) — a wrong recovery being worse than none.
    */
  val q176_charset_recover = QueryDef(
    "q176_charset_recover",
    (s, d) => {
      val did = col("doc_id")
      val kind = pmod(did, lit(6L))
      def asc(t: String) = lit(t).cast("binary")
      val idb = did.cast("string").cast("binary")
      // русский текст в интернете in windows-1251 / koi8-r
      val ruCp1251 = lit(Array(0xF0.toByte, 0xF3.toByte, 0xF1.toByte,
        0xF1.toByte, 0xEA.toByte, 0xE8.toByte, 0xE9.toByte, 0x20.toByte,
        0xF2.toByte, 0xE5.toByte, 0xEA.toByte, 0xF1.toByte, 0xF2.toByte,
        0x20.toByte, 0xE2.toByte, 0x20.toByte, 0xE8.toByte, 0xED.toByte,
        0xF2.toByte, 0xE5.toByte, 0xF0.toByte, 0xED.toByte, 0xE5.toByte,
        0xF2.toByte, 0xE5.toByte))
      val ruKoi8 = lit(Array(0xD2.toByte, 0xD5.toByte, 0xD3.toByte,
        0xD3.toByte, 0xCB.toByte, 0xC9.toByte, 0xCA.toByte, 0x20.toByte,
        0xD4.toByte, 0xC5.toByte, 0xCB.toByte, 0xD3.toByte, 0xD4.toByte,
        0x20.toByte, 0xD7.toByte, 0x20.toByte, 0xC9.toByte, 0xCE.toByte,
        0xD4.toByte, 0xC5.toByte, 0xD2.toByte, 0xCE.toByte, 0xC5.toByte,
        0xD4.toByte, 0xC5.toByte))
      // テストデータです in shift_jis
      val jaSjis = lit(Array(0x83.toByte, 0x65.toByte, 0x83.toByte,
        0x58.toByte, 0x83.toByte, 0x67.toByte, 0x83.toByte, 0x66.toByte,
        0x81.toByte, 0x5B.toByte, 0x83.toByte, 0x5E.toByte, 0x82.toByte,
        0xC5.toByte, 0x82.toByte, 0xB7.toByte))
      // 简体中文数据 in gbk
      val zhGbk = lit(Array(0xBC.toByte, 0xF2.toByte, 0xCC.toByte,
        0xE5.toByte, 0xD6.toByte, 0xD0.toByte, 0xCE.toByte, 0xC4.toByte,
        0xCA.toByte, 0xFD.toByte, 0xBE.toByte, 0xDD.toByte))
      // 日本語 + テスト in shift_jis (the labeled q171 page)
      val jaLabeled = concat(
        lit(Array(0x93.toByte, 0xFA.toByte, 0x96.toByte, 0x7B.toByte,
          0x8C.toByte, 0xEA.toByte)), asc("w"), idb,
        lit(Array(0x83.toByte, 0x65.toByte, 0x83.toByte, 0x58.toByte,
          0x83.toByte, 0x67.toByte)))
      val junk = lit(Array(0x81.toByte, 0x00.toByte, 0x9F.toByte,
        0xFF.toByte, 0x07.toByte, 0x03.toByte, 0x81.toByte, 0x00.toByte,
        0xFE.toByte, 0x11.toByte))
      val payload = when(kind === 0, concat(ruCp1251, asc(" a"), idb))
        .when(kind === 1, concat(jaSjis, asc(" j"), idb))
        .when(kind === 2, concat(ruKoi8, asc(" c"), idb))
        .when(kind === 3, concat(zhGbk, asc(" g"), idb))
        .when(kind === 4, jaLabeled)
        .otherwise(concat(junk, idb))
      val hct = when(kind === 0 || kind === 2,
          lit("text/html; charset=x-unknown-8bit"))
        .when(kind === 1, lit("text/html; charset=x-mystery"))
        .when(kind === 4, lit("text/html; charset=shift_jis"))
        .otherwise(lit(null).cast("string"))
      // recovery applies to the quarantined tail AND to unlabeled pages
      // (whose sniff DEFAULTS to utf-8 and so never trips decoded_ok);
      // an explicit recognized label is never second-guessed
      val hasLabel = hct.isNotNull
      val ok = graft.ops.HtmlExtract.decodedOk(payload, hct)
      val detected = graft.ops.HtmlExtract.detectCharset(payload)
      val sniffed = graft.ops.HtmlExtract.sniffCharset(payload, hct)
      val recoverable = !ok || !hasLabel
      val finalLabel = when(!recoverable, sniffed)
        .otherwise(coalesce(detected.getField("label"), lit("unknown")))
      Tables.read(s, d, "documents").select(did,
          finalLabel.as("charset"),
          (recoverable && detected.getField("label").isNotNull)
            .cast("long").as("recovered"),
          when(finalLabel =!= "unknown",
            graft.ops.HtmlExtract.decodeWith(payload, finalLabel))
            .as("text"))
    },
    Some("""SELECT doc_id,
        CASE doc_id % 6
          WHEN 0 THEN 'windows-1251'
          WHEN 1 THEN 'shift_jis'
          WHEN 2 THEN 'koi8-r'
          WHEN 3 THEN 'gbk'
          WHEN 4 THEN 'shift_jis'
          ELSE 'unknown' END AS charset,
        CASE WHEN doc_id % 6 IN (0, 1, 2, 3) THEN CAST(1 AS BIGINT)
          ELSE CAST(0 AS BIGINT) END AS recovered,
        CASE doc_id % 6
          WHEN 0 THEN chr(1088) || chr(1091) || chr(1089) || chr(1089) ||
            chr(1082) || chr(1080) || chr(1081) || ' ' || chr(1090) ||
            chr(1077) || chr(1082) || chr(1089) || chr(1090) || ' ' ||
            chr(1074) || ' ' || chr(1080) || chr(1085) || chr(1090) ||
            chr(1077) || chr(1088) || chr(1085) || chr(1077) || chr(1090) ||
            chr(1077) || ' a' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN chr(12486) || chr(12473) || chr(12488) || chr(12487) ||
            chr(12540) || chr(12479) || chr(12391) || chr(12377) ||
            ' j' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN chr(1088) || chr(1091) || chr(1089) || chr(1089) ||
            chr(1082) || chr(1080) || chr(1081) || ' ' || chr(1090) ||
            chr(1077) || chr(1082) || chr(1089) || chr(1090) || ' ' ||
            chr(1074) || ' ' || chr(1080) || chr(1085) || chr(1090) ||
            chr(1077) || chr(1088) || chr(1085) || chr(1077) || chr(1090) ||
            chr(1077) || ' c' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN chr(31616) || chr(20307) || chr(20013) || chr(25991) ||
            chr(25968) || chr(25454) || ' g' || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN chr(26085) || chr(26412) || chr(35486) || 'w' ||
            CAST(doc_id AS VARCHAR) || chr(12486) || chr(12473) || chr(12488)
          ELSE NULL END AS text
      FROM documents"""),
  )

  /** gz-shard transcode (r13 verdict ask #3): a `.tar.gz` corpus can
    * never seek, so it sat permanently outside the ranged-split /
    * point-lookup scale story — q172's backfill honestly skips gz.
    * The fixture is q172's foreign-writer shape with GZIPOutputStream
    * on top (plain gz tars, no sidecars, no manifest, >100-char keys
    * with GNU `L` preludes); [[graft.sources.WdsTranscode]] streams
    * each shard once — gunzipped bytes copied VERBATIM while the same
    * pass builds the idx through a tee — and the read-back runs over
    * RANGED splits of the transcoded tars with a point-lookup leg
    * md5-pinned against the scan, exactly q172's proof, now on data
    * the engine could previously only stream whole-file.
    */
  val q175_wds_transcode = QueryDef(
    "q175_wds_transcode",
    (s, d) => {
      val gzDir = Staging.dir("wds_gzsrc").toString
      val outDir = Staging.dir("wds_gzout").toString
      val did = col("doc_id")
      val longKey = concat(lit("H" * 120), lpad(did.cast("string"), 8, "0"))
      val key = when(pmod(did, lit(50L)) === 3, longKey)
        .otherwise(concat(lit("z"), lpad(did.cast("string"), 8, "0")))
      val base = Tables.read(s, d, "documents").select(did, key.as("key"),
        pmod(did, lit(4L)).as("shard_no"))
      val rows = base.select(col("shard_no"), col("key"), lit("txt").as("ext"),
          concat(lit("t"), did.cast("string")).cast("binary").as("payload"))
        .unionAll(base.select(col("shard_no"), col("key"), lit("json").as("ext"),
          concat(lit("{\"d\":"), did.cast("string"), lit("}"))
            .cast("binary").as("payload")))
        .unionAll(base.filter(pmod(did, lit(3L)) === 0)
          .select(col("shard_no"), col("key"), lit("bin").as("ext"),
            md5(did.cast("string")).cast("binary").as("payload")))
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      implicit val enc = org.apache.spark.sql.Encoders.row(
        StructType(Seq(StructField("n", LongType))))
      rows.repartition(4, col("shard_no")).sortWithinPartitions("key", "ext")
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var n = 0L
          if (it.hasNext) {
            graft.sources.ArchiveFs.publish(
                graft.sources.ArchiveFs.child(gzDir, f"gzsrc-$pid%03d.tar.gz")) { raw =>
              val out = new java.util.zip.GZIPOutputStream(raw, 1 << 16)
              it.foreach { r =>
                val name = r.getString(1) + "." + r.getString(2)
                graft.sources.TarIo.writeMember(out, name,
                  r.get(3).asInstanceOf[Array[Byte]])
                n += 1
              }
              graft.sources.TarIo.writeTrailer(out)
              out.close()
            }
          }
          Iterator.single(Row(n))
        }.agg(sum("n")).collect()
      val tr = graft.sources.WdsTranscode.run(s, gzDir, outDir).collect()
      require(tr.nonEmpty && tr.forall(_.getBoolean(3)),
        "transcode wrote nothing or skipped a shard")
      val back = s.read.format("wds")
        .option("splitTargetBytes", "32768").load(outDir)
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"))
      val wanted = Tables.read(s, d, "documents").filter(pmod(did, lit(61L)) === 0)
        .select(when(pmod(did, lit(50L)) === 3, longKey)
          .otherwise(concat(lit("z"), lpad(did.cast("string"), 8, "0")))
          .as("key"))
      val hits = graft.sources.WdsRandomAccess.idx(s, outDir)
        .join(broadcast(wanted), Seq("key"))
      val fetched = graft.sources.WdsRandomAccess.fetch(hits)
        .select(col("key"), col("ext"), md5(col("payload")).as("fetched_md5"))
      back.join(fetched, Seq("key", "ext"), "left")
        .select(col("key"), col("ext"), col("size"), col("payload_md5"),
          when(col("fetched_md5").isNotNull,
            (col("fetched_md5") === col("payload_md5")).cast("long"))
            .as("fetch_match"))
    },
    Some("""WITH k AS (
        SELECT doc_id,
          CASE WHEN doc_id % 50 = 3
            THEN repeat('H', 120) || lpad(CAST(doc_id AS VARCHAR), 8, '0')
            ELSE 'z' || lpad(CAST(doc_id AS VARCHAR), 8, '0') END AS key,
          CASE WHEN doc_id % 61 = 0 THEN 1 ELSE NULL END AS fetch_match
        FROM documents),
      m AS (
        SELECT key, 'txt' AS ext, 't' || CAST(doc_id AS VARCHAR) AS payload,
          fetch_match
        FROM k
        UNION ALL
        SELECT key, 'json', '{"d":' || CAST(doc_id AS VARCHAR) || '}',
          fetch_match
        FROM k
        UNION ALL
        SELECT key, 'bin', md5(CAST(doc_id AS VARCHAR)), fetch_match
        FROM k WHERE doc_id % 3 = 0)
      SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5, CAST(fetch_match AS BIGINT) AS fetch_match
      FROM m"""),
  )

  /** SELECTIVE compaction (r13 verdict ask #2): q173 rewrites the whole
    * corpus in place — correct, but at 100 TB routine compaction of a
    * long-running stream must not cost a full-corpus rewrite. Fixture:
    * one large KEPT generation plus four small generations whose
    * members SHARE sample keys (the streaming sink's epoch-accretion
    * shape: one sample's members scattered over four shards).
    * [[graft.sources.WdsCompact]] plans from the manifest + one sized
    * listing, reads ONLY the fragmented shards (the scan's `shards`
    * subset — the big shard is never opened), and the sink's
    * `replaceShards` commit swaps fragments out of the manifest in the
    * same atomic publish that adds their replacement. Pinned by
    * require: the kept shard survives BYTE-IDENTICAL under its own
    * name, the fragments leave disk and manifest, and the summary
    * actions match; pinned by oracle: content identity and
    * shard_spread = 1 — the scattered samples regained contiguity
    * without touching the big shard.
    */
  val q174_wds_compact_select = QueryDef(
    "q174_wds_compact_select",
    (s, d) => {
      val outDir = Staging.dir("wds_selcomp").toString
      val did = col("doc_id")
      // kept generation: all even docs, one huge roll target
      val big = Tables.read(s, d, "documents").filter(pmod(did, lit(2L)) === 0)
        .select(did, concat(lit("B"), lpad(did.cast("string"), 8, "0")).as("key"))
      big.select(col("key"), lit("txt").as("ext"),
          concat(lit("t"), did.cast("string")).cast("binary").as("payload"))
        .unionAll(big.select(col("key"), lit("json").as("ext"),
          concat(lit("{\"d\":"), did.cast("string"), lit("}"))
            .cast("binary").as("payload")))
        .write.format("wds").mode("append")
        .option("path", outDir)
        .option("targetShardBytes", (1L << 30).toString).save()
      def names(): Set[String] =
        graft.sources.TarDataSource.manifestFiles(outDir)
          .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      val bigShards = names()
      // fragmented tail: odd docs across FOUR generations; ids 8k+1,
      // 8k+3, 8k+5, 8k+7 all carry key c<k> with per-generation exts,
      // so one sample's members scatter over four small shards
      Seq(1L, 3L, 5L, 7L).foreach { g =>
        Tables.read(s, d, "documents").filter(pmod(did, lit(8L)) === g)
          .select(
            concat(lit("c"), lpad(floor(did / 8).cast("string"), 8, "0")).as("key"),
            concat(lit("t"), lit(g).cast("string")).as("ext"),
            concat(lit("v"), did.cast("string")).cast("binary").as("payload"))
          .write.format("wds").mode("append")
          .option("path", outDir).option("targetShardBytes", "32768").save()
      }
      val smallShards = names() -- bigShards
      def len(n: String): Long =
        graft.sources.ArchiveFs.length(graft.sources.ArchiveFs.child(outDir, n))
      val bigMin = bigShards.map(len).min
      require(smallShards.map(len).max < bigMin,
        "fixture sizes inverted: fragments at least as large as kept shards")
      def fileMd5(n: String): Seq[Byte] =
        java.security.MessageDigest.getInstance("MD5").digest(
          graft.sources.ArchiveFs.readBytes(
            graft.sources.ArchiveFs.child(outDir, n))).toSeq
      val bigBytes = bigShards.map(n => n -> fileMd5(n)).toMap
      val summary = graft.sources.WdsCompact.run(s, outDir, bigMin, 1L << 20)
        .collect().map(r => (r.getString(0), r.getString(2)))
      require(summary.filter(_._2 == "kept").map(_._1).toSet == bigShards,
        "kept set mismatch")
      require(summary.filter(_._2 == "compacted").map(_._1).toSet == smallShards,
        "compacted set mismatch")
      val after = names()
      require(bigShards.subsetOf(after), "kept shard left the manifest")
      bigShards.foreach(n => require(fileMd5(n) == bigBytes(n),
        s"kept shard $n was rewritten — selective compaction must not touch it"))
      require(after.intersect(smallShards).isEmpty, "fragments still in manifest")
      val onDisk = graft.sources.ArchiveFs.list(outDir)
        .map(graft.sources.ArchiveFs.name).toSet
      require(onDisk.intersect(smallShards).isEmpty, "fragments still on disk")
      val back = s.read.format("wds").option("manifestOnly", "true").load(outDir)
      val spread = back.groupBy("key")
        .agg(countDistinct(col("shard")).as("shard_spread"))
      back.join(spread, Seq("key"))
        .select(col("key"), col("ext"), col("size"),
          md5(col("payload")).as("payload_md5"), col("shard_spread"))
    },
    Some("""WITH b AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
      s AS (SELECT doc_id, doc_id % 8 AS g, doc_id // 8 AS k
        FROM documents WHERE doc_id % 2 = 1),
      m AS (
        SELECT 'B' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
          'txt' AS ext, 't' || CAST(doc_id AS VARCHAR) AS payload FROM b
        UNION ALL
        SELECT 'B' || lpad(CAST(doc_id AS VARCHAR), 8, '0'), 'json',
          '{"d":' || CAST(doc_id AS VARCHAR) || '}' FROM b
        UNION ALL
        SELECT 'c' || lpad(CAST(k AS VARCHAR), 8, '0'),
          't' || CAST(g AS VARCHAR), 'v' || CAST(doc_id AS VARCHAR) FROM s)
      SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
        md5(payload) AS payload_md5, CAST(1 AS BIGINT) AS shard_spread
      FROM m"""),
  )

  val pipeline: Seq[QueryDef] = Seq(
    q174_wds_compact_select, q175_wds_transcode, q176_charset_recover,
    q177_flac_meta, q178_exif_meta, q179_warc_revisit, q180_http_decode,
    q181_ogg_meta, q182_pdf_meta, q183_zip_meta, q184_id3_tags,
    q185_content_route, q186_subtitles, q187_feed_parse, q188_png_meta,
    q189_ooxml_text, q190_epub_text, q191_gif_meta,
    q154_exact_substr, q155_warc_sink, q156_cdx_lookup, q157_frontier_schedule,
    q158_wet_roundtrip, q159_mp4_meta, q160_sitemap_parse, q161_link_graph,
    q162_discovery_loop, q163_charset_sniff, q164_mp3_meta, q165_webdataset,
    q166_charset_decode, q167_wds_roundtrip, q168_fmp4_meta, q169_warc_to_wds,
    q170_wds_lookup, q171_charset_cjk, q172_wds_backfill, q173_wds_compact,
    q150_warc_read, q151_warc_pipeline, q152_robots_meta, q153_vp8_pixels,
    q144_image_coverage, q145_crawl_pipeline, q146_html_extract,
    q147_html_meta, q148_extract_pipeline, q149_robots_gate,
    q136_balanced_shards, q137_source_drift, q138_length_drift,
    q139_drift_summary, q140_changepoint, q141_image_dhash,
    q142_url_canonical, q143_late_interaction,
    q20_dedup_exact, q21_dedup_survivors, q22_fingerprint, q23_ngram_jaccard,
    q24_token_count, q25_quality_score, q26_lang_signal, q27_ann_cosine_topk,
    q28_embed_label_stats, q29_bpe_tokens, q30_langid_guess, q31_multimodal_bytes,
    q32_asof_join, q33_range_pairs, q34_rollup, q41_lm_quality,
    q45_hash_split, q46_seq_packing, q47_stratified_k, q48_source_remix,
    q49_repetition, q50_contamination, q51_pii_scrub, q52_event_quantiles,
    q53_curation_funnel, q54_cluster_assign, q55_heavy_hitters, q56_distinctive_terms,
    q57_neardup_triangles, q58_cohort_retention, q59_event_funnel,
    q60_event_transitions, q61_embedding_outliers, q62_span_dedup,
    q63_winnow_sketch, q64_quality_sampling, q65_winnow_pairs,
    q66_det_shuffle, q67_quantize_int8, q68_quantized_ann, q69_kmv_sketch,
    q70_semantic_dedup, q71_freq_sketch, q72_boilerplate, q73_zorder_key,
    q74_jl_project, q75_pca_gram, q76_incremental_dedup, q77_best_survivor,
    q78_bloom_prune, q79_quantile_sketch, q80_budget_mix, q81_topk_quality,
    q82_sketch_overlap, q83_snapshot_diff, q84_hll_sketch,
    q85_priority_sample, q86_group_split, q87_hard_negatives, q88_pagerank,
    q89_corpus_profile, q90_merge_upsert, q91_asof_native, q92_unicode_norm,
    q93_feature_hash, q94_inverted_index, q95_classifier_gram, q96_rag_chunks,
    q97_token_ids, q98_setsim_join, q99_bm25_scores, q100_hybrid_rrf,
    q101_fuzzy_names, q102_quality_gate, q103_batch_sessions, q104_scd2_versions,
    q105_classifier_eval, q106_calibration, q107_pmi_bigrams,
    q108_soundex_block, q109_zonemap_prune, q110_k_anonymity,
    q111_pseudonymize, q112_dp_counts, q113_mmr_diversify,
    q114_audio_features, q115_incremental_agg, q116_mad_outliers,
    q117_ohlc, q118_aes_roundtrip, q119_json_props, q120_table_profile,
    q121_record_linkage, q122_label_propagation, q123_cm_sketch,
    q124_schema_evolution, q125_e2e_curation, q126_interval_union,
    q127_csv_roundtrip, q128_time_weighted, q129_winsorize, q130_impute,
    q131_trend, q132_join_size, q133_source_overlap, q134_dedup_bias, q135_vocab_drift,
  )
}
